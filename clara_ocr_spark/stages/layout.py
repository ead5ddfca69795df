"""Stage B' — geometric layout assembly for PDF pages.

The PDF leg of the north rule ("HTML boilerplate strip, PDF/layout
parse, DOM heuristics").  Where the DOM path gets reading order from
tree order, this stage RECONSTRUCTS it from glyph-run geometry — which
is exactly the reference's own problem, so the mapping is direct
rather than analogical.  The per-page geometry runs in the parse
stage, in ``sources/pdfparse``:

* column split ≈ ``blockfind``/``vlines2`` white-river detection
  (pgmblock.c:801-942, 1108-1271) — ``column_split``, or the
  ``cf_block`` tall-separator analogue ``column_split_tall``;
* line grouping ≈ ``w_pair`` vertical-intersection pairing
  (build.c:702-797) — ``group_lines``;
* word joining ≈ ``s_pair`` horizontal-distance test + the
  no-space-before-punctuation output rule (symbol.c:956-1030,
  html.c:2069-2083) — ``join_words``;
* reading order ≈ ``cmpln`` as a strict total order (build.c:389-509)
  — ``array_sort`` on (page, zone, −y, text), in the JVM.

Same shape as the HTML leg: ONE Python stage splits each document into
lines (a page's runs never leave the worker), then ONE Exchange on url
carries only line text + (page, zone, y) to the reading-order
aggregate.  Byte-identity contract: output equals
``sources/pdfparse.pdf_reference_extract`` per url; both sides compare
the same IEEE754 doubles rounded once at the parse boundary.
"""

from __future__ import annotations

from typing import Iterator, List

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..sources.pdfparse import Run, page_lines, parse_pdf_runs

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

LINES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("page", IntegerType(), False),
        StructField("zone", IntegerType(), False),
        StructField("line_y", DoubleType(), False),
        StructField("line_text", StringType(), False),
    ]
)

#: Sentinel row per document (page = -1, empty text): keeps line-less
#: urls alive to the final aggregate without a rejoin (same design as
#: segment.py).
SENTINEL_PAGE = -1


def _run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for url, raw in zip(pdf["url"].to_numpy(), pdf["html"].to_numpy()):
            rows.append((url, SENTINEL_PAGE, 0.0, 0.0, 0.0, 0.0, ""))
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


def doc_lines(url: str, runs: List[Run], splitter: str = "river") -> list:
    """One document's runs → its ``LINES_SCHEMA`` rows: the sentinel,
    then ``pdfparse.page_lines`` for every page."""
    pages: dict = {}
    for r in runs:
        pages.setdefault(r.page, []).append(r)
    rows = [(url, SENTINEL_PAGE, 0, 0.0, "")]
    for page, prs in pages.items():
        rows.extend(
            (url, page, zone, y, text)
            for zone, y, text in page_lines(prs, splitter)
        )
    return rows


def parse_lines(pages: DataFrame, splitter: str = "river") -> DataFrame:
    """pages(url, html, …) → lines(url, page, zone, line_y, line_text),
    the only Python stage of the text path.  Column-prunes to (url,
    html) before the Arrow boundary; the binary payload and the runs
    never leave it."""

    def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, raw in zip(pdf["url"].to_numpy(), pdf["html"].to_numpy()):
                rows.extend(doc_lines(url, parse_pdf_runs(raw), splitter))
            yield pd.DataFrame(rows, columns=LINES_SCHEMA.fieldNames())

    return pages.select("url", "html").mapInPandas(
        _parse_batches, schema=LINES_SCHEMA
    )


def assemble_layout(lines: DataFrame) -> DataFrame:
    """lines → extracted(url, text): strict total order (page, zone,
    y desc), empty lines skipped, lines joined by ``\\n`` — ONE
    shuffle on url; the sentinel guarantees every url a row."""
    ordered = F.array_sort(
        F.collect_list(
            F.struct("page", "zone", (-F.col("line_y")).alias("ny"), "line_text")
        )
    )
    return lines.groupBy("url").agg(
        F.array_join(
            F.transform(
                F.filter(ordered, lambda s: s["line_text"] != ""),
                lambda s: s["line_text"],
            ),
            "\n",
        ).alias("text")
    )


def extract_pdf(pages: DataFrame, splitter: str = "river") -> DataFrame:
    """pages(url, …, html=PDF bytes) → extracted(url, text).

    ``splitter``: ``"river"`` (default, vlines2 white-gap analogue) or
    ``"tall"`` (cf_block tall-separator analogue) — the same dispatch
    as ``pdf_reference_extract``."""
    return assemble_layout(parse_lines(pages, splitter))
