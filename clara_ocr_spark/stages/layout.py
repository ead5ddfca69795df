"""Stage B' — geometric layout for PDF pages.

The PDF leg of the north rule ("HTML boilerplate strip, PDF/layout
parse, DOM heuristics").  Where the DOM path gets reading order from
tree order, this stage RECONSTRUCTS it from glyph-run geometry — which
is exactly the reference's own problem, so the mapping is direct
rather than analogical.  The per-page geometry runs inside the segment
stage (``stages/segment``), which routes each ``%PDF-`` payload here,
in ``sources/pdfparse``:

* column split ≈ ``blockfind``/``vlines2`` white-river detection
  (pgmblock.c:801-942, 1108-1271) — ``column_split``, or the
  ``cf_block`` tall-separator analogue ``column_split_tall``;
* line grouping ≈ ``w_pair`` vertical-intersection pairing
  (build.c:702-797) — ``group_lines``;
* word joining ≈ ``s_pair`` horizontal-distance test + the
  no-space-before-punctuation output rule (symbol.c:956-1030,
  html.c:2069-2083) — ``join_words``;
* reading order ≈ ``cmpln`` as a strict total order (build.c:389-509)
  — page asc, then ``page_lines`` order (zone asc, y desc), carried
  as the block ``pos``.

A PDF document becomes one block per line (:func:`pdf_blocks`), so its
lines join the DOM blocks in the one classify and the one url-keyed
assembly of ``pipeline.extract``.  Byte-identity contract: output
equals ``sources/pdfparse.pdf_reference_extract`` per url.
"""

from __future__ import annotations

from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..domparse import Block
from ..sources.pdfparse import Run, page_lines, parse_pdf_runs

#: ``tag_path`` of a PDF line block.  DOM tag names start with a
#: letter, so no DOM path can produce it; ``extract`` labels every
#: block carrying it content.
PDF_TAG_PATH = "%PDF"

RUNS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("page", IntegerType(), False),
        StructField("x", DoubleType(), False),
        StructField("x_end", DoubleType(), False),
        StructField("y", DoubleType(), False),
        StructField("size", DoubleType(), False),
        StructField("text", StringType(), False),
    ]
)


def _run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for url, raw in zip(pdf["url"].to_numpy(), pdf["html"].to_numpy()):
            # a page = -1 sentinel keeps run-less urls in the output
            rows.append((url, -1, 0.0, 0.0, 0.0, 0.0, ""))
            for r in parse_pdf_runs(raw):
                rows.append((url, r.page, r.x, r.x_end, r.y, r.size, r.text))
        yield pd.DataFrame(rows, columns=RUNS_SCHEMA.fieldNames())


def parse_runs(pages: DataFrame) -> DataFrame:
    """pages(url, html, …) → positioned runs, one row per run plus a
    per-url sentinel.  The text path does not use it; it feeds the
    run-level geometry (``functions.geometry.page_skew_angles``)."""
    return pages.select("url", "html").mapInPandas(
        _run_batches, schema=RUNS_SCHEMA
    )


def pdf_blocks(runs: List[Run], splitter: str = "river") -> List[Block]:
    """One document's runs → one block per non-empty line, in reading
    order: pages ascending, then ``pdfparse.page_lines`` order.  Every
    line is zone 0 with ``pos`` its running index, so the assembly's
    (zone, pos) sort keeps that order."""
    pages: dict = {}
    for r in runs:
        pages.setdefault(r.page, []).append(r)
    lines = [ln for p in sorted(pages) for ln in page_lines(pages[p], splitter)]
    return [
        Block(pos, 0, PDF_TAG_PATH, 0, text, 0, n_runs)
        for pos, (n_runs, text) in enumerate(lines)
    ]


def extract_pdf(pages: DataFrame, splitter: str = "river") -> DataFrame:
    """pages(url, …, html=PDF bytes) → extracted(url, text): the mixed
    extraction (``pipeline.extract(mixed=True)``) of a PDF slice.

    ``splitter``: ``"river"`` (default, vlines2 white-gap analogue) or
    ``"tall"`` (cf_block tall-separator analogue) — the same dispatch
    as ``pdf_reference_extract``."""
    from ..pipeline import extract

    return extract(pages, mixed=True, splitter=splitter)
