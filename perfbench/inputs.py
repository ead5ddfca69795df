"""Seeded benchmark inputs, generated before any timing and cached.

Rows come from the repository's own corpus generators
(``sources/corpus.gen_page`` for HTML, ``sources/pdfgen.gen_pdf_page``
for PDF); their ``text`` column is the reference extractor's output,
the ground truth the output checks compare against.  ``curate_dups``
adds injected duplicate families and near-empty pages on top.

A cache entry is keyed by workload, seed, size and a hash of every
source file the rows depend on, so a generator change can never reuse
a stale corpus.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

#: rows per parquet shard: many input files, like a crawl segment dump
SHARD_ROWS = 100

#: docs per workload
SIZES = {"html_extract": 2000, "mixed_extract": 1200, "curate_dups": 1000}

#: share of PDF payloads in ``mixed_extract``
PDF_SHARE = 0.6

#: ``curate_dups`` injection shares of the total input
EXACT_SHARE = 0.20  # byte-identical copies under mirror urls
NEAR_SHARE = 0.10  # re-templated copies of a page built for the purpose
EMPTY_SHARE = 0.02  # pages whose content is one to three words

#: templates that carry every content paragraph (see corpus.build_html)
_FULL_TEMPLATES = (0, 2, 4)

_GEN_SOURCES = (
    "clara_ocr_spark/sources/corpus.py",
    "clara_ocr_spark/sources/pdfgen.py",
    "clara_ocr_spark/sources/pdfparse.py",
    "clara_ocr_spark/extract_rules.py",
    "clara_ocr_spark/domparse.py",
)


def generator_version(root: str) -> str:
    h = hashlib.sha256()
    for rel in _GEN_SOURCES + ("perfbench/inputs.py",):
        path = os.path.join(root, rel)
        if os.path.exists(path):
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


# -------------------------------------------------------------- rows


def _html_row(i: int, seed: int) -> dict:
    from clara_ocr_spark.sources.corpus import gen_page

    return gen_page(i, seed)


def _pdf_row(i: int, seed: int) -> dict:
    from clara_ocr_spark.sources.pdfgen import gen_pdf_page

    return gen_pdf_page(i, seed)


def _built_row(url: str, i: int, rng_seed: int, host: str, lang: str, template: int) -> dict:
    """A page rendered from a fixed RNG seed: two calls that differ only
    in host and template share header, navigation and paragraphs."""
    from datetime import timedelta

    from clara_ocr_spark.extract_rules import reference_extract
    from clara_ocr_spark.sources.corpus import EPOCH, build_html

    raw = build_html(random.Random(rng_seed), host, lang, template).encode("utf-8")
    return {
        "url": url,
        "warc_ts": EPOCH + timedelta(seconds=i),
        "html": raw,
        "text": reference_extract(raw),
        "lang": lang,
    }


def _empty_row(url: str, i: int, rng: random.Random) -> dict:
    from datetime import timedelta

    from clara_ocr_spark.extract_rules import reference_extract
    from clara_ocr_spark.sources.corpus import EPOCH, WORDS

    words = " ".join(rng.choice(WORDS["en"]) for _ in range(rng.randint(1, 3)))
    raw = (
        "<!DOCTYPE html><html><head><title>t</title></head><body>"
        '<header><h1>Site</h1><nav><ul><li><a href="/">home</a></li>'
        '<li><a href="/about">about</a></li></ul></nav></header>'
        f"<main><p>{words}</p></main>"
        "<footer><p>&copy; 2024</p></footer></body></html>"
    ).encode("utf-8")
    return {
        "url": url,
        "warc_ts": EPOCH + timedelta(seconds=i),
        "html": raw,
        "text": reference_extract(raw),
        "lang": "en",
    }


# ------------------------------------------------------- row recipes
#
# A recipe is a small JSON-able list; worker processes turn recipes
# into rows, so which rows exist is decided once, in the parent, from
# the seed alone.


def _make(recipe: tuple) -> dict:
    kind, args = recipe[0], recipe[1:]
    if kind == "html":
        return _html_row(*args)
    if kind == "pdf":
        return _pdf_row(*args)
    if kind == "built":
        return _built_row(*args)
    if kind == "empty":
        url, i, rng_seed = args
        return _empty_row(url, i, random.Random(rng_seed))
    raise ValueError(kind)


def _make_table(recipes: list):
    import pyarrow as pa

    from clara_ocr_spark.sources.corpus import PAGES_SCHEMA

    return pa.Table.from_pylist([_make(r) for r in recipes], schema=PAGES_SCHEMA)


def _generate(root: str, recipes: list, workers: int, tmp: str):
    """All recipes' rows, in recipe order, built by ``workers`` child
    interpreters over contiguous slices (each child is waited for)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    step = -(-len(recipes) // workers)
    procs = []
    for k, lo in enumerate(range(0, len(recipes), step)):
        spec, out = os.path.join(tmp, f"chunk{k}.json"), os.path.join(tmp, f"chunk{k}.parquet")
        with open(spec, "w") as f:
            json.dump(recipes[lo:lo + step], f)
        procs.append(
            (
                subprocess.Popen(
                    [sys.executable, "-m", "perfbench.inputs", spec, out],
                    cwd=root,
                    env=dict(os.environ, PYTHONPATH=root),
                ),
                out,
            )
        )
    failed = [p.args for p, _ in procs if p.wait() != 0]
    if failed:
        raise RuntimeError(f"input generation failed: {failed}")
    return pa.concat_tables([pq.read_table(out) for _, out in procs])


def plan_html(n: int, seed: int) -> list:
    return [("html", i, seed) for i in range(n)]


def plan_mixed(n: int, seed: int) -> list:
    n_pdf = round(n * PDF_SHARE)
    return [("pdf", i, seed) for i in range(n_pdf)] + [
        ("html", i, seed) for i in range(n - n_pdf)
    ]


def plan_curate(n: int, seed: int) -> tuple:
    """Recipes for every row except the exact copies (made later from
    the generated originals), the near-duplicate pairs and the
    near-empty urls."""
    from clara_ocr_spark.sources.corpus import N_HOSTS

    rng = random.Random(seed)
    n_near = round(n * NEAR_SHARE)
    n_empty = round(n * EMPTY_SHARE)
    n_base = n - round(n * EXACT_SHARE) - 2 * n_near - n_empty
    recipes = [("html", i, seed) for i in range(n_base)]
    # near-duplicate pairs: one page rendered twice, with two templates
    near_pairs = []
    for k in range(n_near):
        rs = rng.getrandbits(48)
        host = f"host{rng.randint(1, N_HOSTS):03d}.example"
        mirror = f"mirror{k % 50:02d}.example"
        lang = rng.choice(["en", "en", "en", "pt", "de"])
        t1, t2 = rng.sample(_FULL_TEMPLATES, 2)
        a, b = f"https://{host}/n/{k}", f"https://{mirror}/n/{k}"
        recipes.append(("built", a, n_base + k, rs, host, lang, t1))
        recipes.append(("built", b, n_base + k, rs, mirror, lang, t2))
        near_pairs.append([a, b])
    empties = []
    for k in range(n_empty):
        url = f"https://host{rng.randint(1, N_HOSTS):03d}.example/e/{k}"
        recipes.append(("empty", url, k, rng.getrandbits(48)))
        empties.append(url)
    return recipes, near_pairs, empties


def add_exact_copies(table, n_copies: int, n_base: int, rng: random.Random):
    """Append ``n_copies`` byte-identical copies (one to three per
    original) of base pages under mirror urls.  Originals are drawn
    from pages with at least 20 words of ground-truth text, so every
    family passes the quality gate and must keep exactly one url.
    Returns the grown table and the families (sorted url lists)."""
    import pyarrow as pa

    texts = table.column("text").to_pylist()[:n_base]
    urls = table.column("url").to_pylist()
    eligible = [i for i, t in enumerate(texts) if len(t.split()) >= 20]
    rng.shuffle(eligible)
    take, new_urls, families = [], [], []
    for i in eligible:
        if len(take) == n_copies:
            break
        k = min(n_copies - len(take), rng.randint(1, 3))
        copies = [urls[i].replace("://", f"://mirror{c:02d}.", 1) for c in range(k)]
        take += [i] * k
        new_urls += copies
        families.append(sorted([urls[i]] + copies))
    if len(take) < n_copies:
        raise RuntimeError("too few gate-passing pages to copy")
    copies = table.take(pa.array(take))
    copies = copies.set_column(
        copies.schema.get_field_index("url"), "url", pa.array(new_urls, pa.string())
    )
    return pa.concat_tables([table, copies]), sorted(families)


# ------------------------------------------------------------- cache


def ensure_inputs(root: str, workload: str, seed: int, workers: int) -> str:
    """Directory holding ``pages/`` (parquet shards) and, for
    ``curate_dups``, ``injected.json``; generated once per key."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = SIZES[workload]
    key = f"{workload}-s{seed}-n{n}-g{generator_version(root)}"
    dest = os.path.join(root, ".bench_work", "inputs", key)
    if os.path.exists(os.path.join(dest, "DONE")):
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    pages = os.path.join(dest, "pages")
    os.makedirs(pages)
    if workload == "html_extract":
        recipes = plan_html(n, seed)
    elif workload == "mixed_extract":
        recipes = plan_mixed(n, seed)
    else:
        recipes, near_pairs, empties = plan_curate(n, seed)
    tmp = os.path.join(dest, "tmp")
    os.makedirs(tmp)
    table = _generate(root, recipes, workers, tmp)
    shutil.rmtree(tmp)
    rng = random.Random(seed ^ 0x5EED)
    if workload == "curate_dups":
        n_base = sum(r[0] == "html" for r in recipes)
        table, families = add_exact_copies(table, n - len(recipes), n_base, rng)
        with open(os.path.join(dest, "injected.json"), "w") as f:
            json.dump(
                {"exact_families": families, "near_pairs": near_pairs, "near_empty": empties},
                f,
            )
    # one shuffled order, so every shard mixes kinds, hosts and families
    order = list(range(table.num_rows))
    rng.shuffle(order)
    table = table.take(pa.array(order))
    for k, lo in enumerate(range(0, table.num_rows, SHARD_ROWS)):
        pq.write_table(
            table.slice(lo, SHARD_ROWS), os.path.join(pages, f"part-{k:05d}.parquet")
        )
    open(os.path.join(dest, "DONE"), "w").close()
    return dest


if __name__ == "__main__":
    import pyarrow.parquet as pq

    with open(sys.argv[1]) as f:
        pq.write_table(_make_table(json.load(f)), sys.argv[2])
