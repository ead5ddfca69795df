"""Dead-code guard: every top-level def in ``clara_ocr_spark/`` is
reached from a production root, or is listed below with the reason it
is kept.

The roots are the jobs, the bench drivers, the driver contract
(``__spark_entry__.py``), ``perfbench/`` (without its tests),
``scripts/`` and every ``@q`` catalog registration.  Reachability is a
fixed point over the ``ast``: a reached def or an imported module's
top-level code references names (``Name``, ``Attribute`` and import
names; strings, docstrings and comments do not count), and every
package def with a referenced name is reached.  A package
``__init__``'s top-level ``from … import`` is a re-export: it loads the
module but references none of the names it lists.  Resolution is by name
alone, so the pass over-approximates: anything it calls unreached is
truly reached by no production path.
"""

from __future__ import annotations

import ast
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "clara_ocr_spark"

# Unreached on purpose, grouped by why each one stays.
ALLOWED = frozenset({
    # oracles and references the tests compare the Spark paths against
    "extract_rules.markup_text",
    "extract_rules.reference_extract_markup",
    "sources.pdfparse.pdf_reference_extract",
    "sources.pdfparse.reference_text",
    "functions.intervals.py_intersize",
    "functions.phash.media_dhash",
    "functions.phash.media_audio_fp",
    # fixture writers and producers of job inputs (--patterns and
    # --engine read the libraries these functions write)
    "functions.barcode.encode_code39",
    "sources.multimodal.encode_fake",
    "sources.multimodal.make_media",
    "sources.formats.write_pages_text",
    "sources.formats.write_warc",
    "stages.patterns.bootstrap_patterns",
    "stages.patterns.grow_patterns",
    "stages.engines.pattern_features",
    # checks the tests run
    "plans.bucketing.explain_str",
    "plans.bucketing.n_exchanges",
    "stages.consist.check_blocks",
    "stages.consist.assert_consistent",
    # the optimistic write fence of merge_upsert
    "plans.checkpoint.merge_upsert",
    "plans.checkpoint.ConcurrentWriteError",
    "plans.checkpoint._pid_alive",
    "plans.checkpoint._claim_creation",
    "plans.checkpoint._release_creation",
})

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _references(nodes, module: str, is_package: bool):
    """(names, modules) referenced anywhere under ``nodes``."""
    names, modules = set(), set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.Import):
                for a in n.names:
                    modules.add(a.name)
                    names.add(a.name.rsplit(".", 1)[-1])
            elif isinstance(n, ast.ImportFrom):
                base = n.module or ""
                if n.level:
                    pkg = module.split(".")
                    if not is_package:
                        pkg.pop()
                    pkg = pkg[: len(pkg) - (n.level - 1)]
                    base = ".".join(pkg + ([base] if base else []))
                modules.add(base)
                for a in n.names:
                    if not (is_package and n is top):
                        names.add(a.name)
                    modules.add(f"{base}.{a.name}")
    return names, modules


def _is_catalog_entry(d) -> bool:
    return any(
        isinstance(x, ast.Call) and isinstance(x.func, ast.Name) and x.func.id == "q"
        for x in d.decorator_list
    )


def unreached_defs() -> set[str]:
    """Top-level package defs no production root reaches, as
    ``module.name`` relative to the package."""
    modules = {}  # module -> (is_package, top-level code, defs)
    defs = {}  # def name -> [(module, node)]
    for path in (ROOT / PKG).rglob("*.py"):
        mod = _module_name(path)
        body = ast.parse(path.read_text()).body
        top_defs = [s for s in body if isinstance(s, _DEFS)]
        code = [s for s in body if not isinstance(s, _DEFS)]
        code += [dec for d in top_defs for dec in d.decorator_list]
        modules[mod] = (path.name == "__init__.py", code, top_defs)
        for d in top_defs:
            defs.setdefault(d.name, []).append((mod, d))

    roots = [ROOT / f for f in ("bench.py", "bench_extra.py", "__spark_entry__.py")]
    for d in ("jobs", "scripts", "perfbench"):
        roots += [
            p for p in (ROOT / d).rglob("*.py")
            if "tests" not in p.relative_to(ROOT).parts
        ]
    todo_names, todo_modules = set(), set()
    for path in roots:
        n, m = _references([ast.parse(path.read_text())], path.stem, False)
        todo_names |= n
        todo_modules |= m
    todo_names |= {
        d.name for _, _, ds in modules.values() for d in ds if _is_catalog_entry(d)
    }

    reached, loaded = set(), set()
    while todo_names or todo_modules:
        if todo_modules:
            parts = todo_modules.pop().split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in loaded:
                    loaded.add(mod)
                    is_pkg, code, _ = modules[mod]
                    n, m = _references(code, mod, is_pkg)
                    todo_names |= n
                    todo_modules |= m
            continue
        name = todo_names.pop()
        for mod, node in defs.get(name, []):
            if (mod, name) not in reached:
                reached.add((mod, name))
                n, m = _references([node], mod, modules[mod][0])
                todo_names |= n
                todo_modules |= m | {mod}
    prefix = PKG + "."
    return {
        f"{mod[len(prefix):]}.{name}"
        for name, sites in defs.items()
        for mod, _ in sites
        if (mod, name) not in reached
    }


def test_every_unreached_def_is_allowlisted():
    unreached = unreached_defs()
    dead = sorted(unreached - ALLOWED)
    assert not dead, f"defs no job, bench or catalog entry reaches: {dead}"
    stale = sorted(ALLOWED - unreached)
    assert not stale, f"allowlisted defs that are now reached or gone: {stale}"


def test_one_session_builder():
    """Every session comes from ``session.build_session``: nothing else
    in the package, the jobs, the scripts, the bench drivers or the
    tests reaches ``SparkSession.builder``, and the jobs' name for the
    builder is that function."""
    import jobs.extract_job
    from clara_ocr_spark.session import build_session

    files = [ROOT / "bench.py", ROOT / "bench_extra.py"]
    for d in (PKG, "jobs", "scripts", "tests"):
        files += (ROOT / d).rglob("*.py")
    builders = sorted(
        str(path.relative_to(ROOT))
        for path in files
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.Attribute) and n.attr == "builder"
    )
    assert builders == [f"{PKG}/session.py"]
    assert jobs.extract_job.build_session is build_session


def test_catalog_imports_one_way():
    """The oracle catalog (``queries``) imports the production modules,
    never the reverse: no other package module imports it, at the top
    or inside a function, and importing curation and the extraction
    pipeline leaves it unloaded."""
    catalog = f"{PKG}.queries"
    importers = sorted(
        str(path.relative_to(ROOT))
        for path in (ROOT / PKG).rglob("*.py")
        if path.name != "queries.py"
        and any(
            m == catalog or m.startswith(catalog + ".")
            for m in _references(
                [ast.parse(path.read_text())],
                _module_name(path),
                path.name == "__init__.py",
            )[1]
        )
    )
    assert not importers, f"package modules importing the catalog: {importers}"
    probe = (
        f"import sys, {PKG}.curate, {PKG}.pipeline; "
        f"print({catalog!r} in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "False"


# Catalog entries that compute through production code: entry ->
# (production module, the functions of it the entry calls).
TWINS = {
    "url_trap_audit": ("stages.crawl_audit", ("url_trap_audit_urls",)),
    "deskew_search": ("stages.calibrate", ("deskew_profile",)),
    "dedup_canonicalize": ("curate", ("near_dup_canonical",)),
    "winnow_near_dup": ("functions.textsig", ("winnow_pairs",)),
    "spell_correct": ("stages.spell", ("build_vocab", "elect_corrections")),
    "zipf_slope": ("curate", ("zipf_head_fit",)),
    "heaps_law_fit": ("curate", ("heaps_fit",)),
    "good_turing_mass": ("curate", ("good_turing",)),
    "exact_quantiles": ("curate", ("length_ecdf", "ecdf_quantile")),
    "ks_drift": ("curate", ("length_ecdf",)),
    "repetition_filter": ("curate", ("text_features",)),
    "decontaminate": ("curate", ("contaminated_urls",)),
    "fuzzy_decontaminate": ("curate", ("fuzzy_contaminated_urls",)),
    "line_dedup_corpus": ("curate", ("drop_frequent_lines",)),
    "robots_filter": ("stages.robots", ("robots_gate",)),
    "robots_wildcards": ("stages.robots", ("robots_gate",)),
    "structural_acts": ("stages.feedback", ("apply_structural_acts",)),
    "pattern_acts": ("stages.patterns", ("apply_pattern_acts",)),
    "anchor_election": ("stages.links", ("top_anchor_text",)),
    "extraction_eval": ("stages.consist", ("token_prf",)),
    "publish_date_extract": ("stages.metadata", ("publish_dates",)),
    "title_suffix_audit": ("stages.metadata", ("title_suffix_ledger",)),
    "soft404_ledger": ("stages.crawl_audit", ("soft404_audit",)),
    "registered_domain": (
        "stages.domains", ("registered_domain_map", "rules_df")
    ),
    "mojibake_audit": ("curate", ("encoding_damage_audit",)),
    "recrawl_staleness": ("stages.crawl_audit", ("sitemap_staleness_urls",)),
    "paced_frontier": ("stages.robots", ("crawl_delays", "paced_schedule")),
    "nfc_normalize_audit": ("curate", ("normalize_text",)),
    "reciprocal_link_audit": ("stages.links", ("reciprocity_ledger",)),
    "warc_revisit_dedup": ("sources.formats", ("warc_dedup_classify",)),
}


def _calls(tree) -> set[str]:
    return {
        n.func.id if isinstance(n.func, ast.Name) else n.func.attr
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, (ast.Name, ast.Attribute))
    }


def _top_defs(path: Path) -> dict:
    return {
        d.name: d
        for d in ast.parse(path.read_text()).body
        if isinstance(d, _DEFS)
    }


def test_catalog_twins_call_production():
    """Each catalog entry that computes through production code calls
    the production function itself, so its DuckDB oracle checks what a
    job runs: the function is defined in its production module and not
    in the catalog, the entry's body calls it, and shipped code outside
    the catalog (a package module, a job or the bench) calls it too."""
    catalog = _top_defs(ROOT / PKG / "queries.py")
    shipped = [ROOT / "bench.py", *(ROOT / "jobs").rglob("*.py")]
    shipped += [p for p in (ROOT / PKG).rglob("*.py") if p.name != "queries.py"]
    outside = set().union(*(_calls(ast.parse(p.read_text())) for p in shipped))
    for entry, (module, fns) in TWINS.items():
        assert _is_catalog_entry(catalog[entry]), entry
        defined = _top_defs(ROOT / PKG / (module.replace(".", "/") + ".py"))
        for fn in fns:
            assert fn in defined and fn not in catalog, (entry, module, fn)
            assert fn in _calls(catalog[entry]), (entry, fn)
            assert fn in outside, (entry, fn)
