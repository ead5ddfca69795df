"""End-to-end extraction pipeline (the Clara 15-step scheduler recast).

``continue_ocr``'s cooperative state machine (clara.c:3824-4187)
becomes ONE lazy DataFrame plan built by :func:`extract`:
segment → classify → (acts → structural acts → spell → consistency
gate) → assemble → (hqbin residual pass).  Mixed tables take the same
path: the segment stage routes each ``%PDF-`` payload to the geometric
layout and emits its lines as blocks, so HTML and PDF share one Python
stage, one classify and one assembly.  The extraction job, the
streaming driver, the curation job, the bench and the tests all call
this one builder.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from .config import DEFAULT, ExtractConfig
from .extract_rules import LABEL_CONTENT
from .sources.pdfparse import PDF_MAGIC
from .stages.assemble import (
    assemble,
    assemble_encap,
    assemble_full_html,
    assemble_markup,
)
from .stages.classify import classify, heuristic_label, heuristic_score
from .stages.layout import PDF_TAG_PATH
from .stages.segment import segment

#: hqbin quality gate (reference preproc.c:672-721): first-pass
#: documents with fewer whitespace tokens are re-parsed
HQ_MIN_TOKENS = 5
#: the loose strategy the hqbin residual pass re-extracts with (the
#: ``bin_method`` selector analogue, common.h:297-299)
HQ_LOOSE = ExtractConfig(min_text_len=3, link_density_max=0.75)


def _is_pdf_col():
    """``pdfparse.is_pdf`` as a column, for the JVM-side slices (the
    job's HTML harvests, ``--skew-report``).  NULL-safe: a NULL html
    payload is NOT a PDF, as in ``is_pdf``."""
    return F.coalesce(
        F.substring(F.col("html"), 1, 5) == F.lit(PDF_MAGIC), F.lit(False)
    )


def extract(
    pages: DataFrame,
    patterns: DataFrame | None = None,
    *,
    engine: str | None = None,
    fmt: str = "text",
    cfg: ExtractConfig = DEFAULT,
    acts: DataFrame | None = None,
    struct_acts: DataFrame | None = None,
    spell_min_count: int | None = None,
    hqbin: bool = False,
    mixed: bool = False,
    splitter: str = "river",
    gate: Observation | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → extracted(url, text).

    Every input url appears in the output (empty docs → ``text=''``)
    via the segment stage's sentinel rows — one scan, one shuffle,
    no rejoin against the pages table. With every option at its
    default the output is byte-identical to the reference extractor.

    * ``engine`` — a scored comparison engine from ``stages.engines``
      (skel/map/pd/shape, ≈ selbc) for the pattern match instead of
      exact-fingerprint equality; needs the enriched pattern table
      (``pattern_features``) and is ignored without ``patterns``.
    * ``fmt`` — output variant (html.c:1966-1973 analogues):
      ``text``; ``markup`` (inline <i>/<b> at parser emphasis spans);
      ``encap`` (text + per-block label/score/char-span column);
      ``full_html`` (a complete entity-escaped document in ``html``).
    * ``cfg`` — the rule-chain thresholds (``--set`` overrides).
    * ``acts`` / ``struct_acts`` — revision acts applied to the
      labeled blocks (``stages.feedback``).
    * ``spell_min_count`` — when set, dictionary spelling correction
      against the corpus vocabulary of at least that count.
    * ``hqbin`` — second-pass re-parse: documents with fewer than
      :data:`HQ_MIN_TOKENS` tokens are re-extracted over the failing
      slice only with :data:`HQ_LOOSE`, kept when strictly better;
      adds ``hq_reparsed``.
    * ``mixed`` — the segment stage routes ``%PDF-`` payloads to the
      geometric layout (``stages.layout``, column ``splitter`` river
      or tall): one block per line, labeled content right after
      classification, so acts, spell, the gate and the assembly treat
      PDF lines as content blocks. Does not compose with ``hqbin``.
    * ``gate`` — an Observation that receives the step_6 consistency
      sums, attached to the labeled blocks just before assembly;
      check it with ``consist.assert_observed`` after the action."""
    if hqbin and mixed:
        raise ValueError("hqbin re-extracts on the DOM path; not with mixed")
    # only the scored engines read the punct/stopword/word statistics
    scored = engine is not None and patterns is not None
    blocks = segment(
        pages, scored, with_emph=fmt == "markup", mixed=mixed, splitter=splitter
    )
    if scored:
        from .stages.engines import classify_scored

        thresholds = (cfg.min_text_len, cfg.link_density_max)
        blocks = (
            classify_scored(blocks, patterns, engine)
            .withColumn("label", heuristic_label(*thresholds))
            .withColumn("score", heuristic_score(*thresholds))
        )
    else:
        blocks = classify(
            blocks, patterns, cfg.min_text_len, cfg.link_density_max
        )
    if mixed:
        # a PDF line's reading order is its geometry: no rule applies
        blocks = blocks.withColumn(
            "label",
            F.when(F.col("tag_path") == PDF_TAG_PATH, F.lit(LABEL_CONTENT))
            .otherwise(F.col("label")),
        )
    if acts is not None:
        from .stages.feedback import apply_feedback

        blocks = apply_feedback(blocks, acts)
    if struct_acts is not None:
        from .stages.feedback import apply_structural_acts

        blocks = apply_structural_acts(blocks, struct_acts)
    if spell_min_count is not None:
        from .stages.spell import correct_spelling

        blocks = correct_spelling(blocks, spell_min_count)
    if gate is not None:
        from .stages.consist import observe_consistency

        blocks, _ = observe_consistency(blocks, gate)
    out = {
        "text": assemble,
        "markup": assemble_markup,
        "encap": assemble_encap,
        "full_html": assemble_full_html,
    }[fmt](blocks)
    if hqbin:
        out = _hqbin_residual(out, pages, patterns)
    return out


def _hqbin_residual(
    extracted: DataFrame, pages: DataFrame, patterns: DataFrame | None
) -> DataFrame:
    """The hqbin residual pass over a first-pass extraction (reference
    preproc.c:672-721): gate-passing documents are untouched, so their
    text stays byte-identical to the first pass; the failing slice is
    re-extracted with :data:`HQ_LOOSE` (left-semi residual — the
    second pass scans only that slice, so its cost is proportional to
    the residual, not the corpus). Output ``(url, text, hq_reparsed)``."""
    from .functions.textsig import _tokens

    first = extracted.select("url", "text").withColumn(
        "_n1", F.size(_tokens(F.col("text")))
    )
    passing = first.filter(F.col("_n1") >= HQ_MIN_TOKENS).select(
        "url", "text", F.lit(False).alias("hq_reparsed")
    )
    failing = first.filter(F.col("_n1") < HQ_MIN_TOKENS)
    retry_pages = pages.join(failing.select("url"), "url", "left_semi")
    second = extract(retry_pages, patterns, cfg=HQ_LOOSE).select(
        "url", F.col("text").alias("_t2")
    )
    second = second.withColumn("_n2", F.size(_tokens(F.col("_t2"))))
    better = F.coalesce(F.col("_n2") > F.col("_n1"), F.lit(False))
    resolved = failing.join(second, "url", "left").select(
        "url",
        F.when(better, F.col("_t2")).otherwise(F.col("text")).alias("text"),
        better.alias("hq_reparsed"),
    )
    return passing.unionByName(resolved)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
