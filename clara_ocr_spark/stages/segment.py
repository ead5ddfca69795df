"""Stage B — segmentation: pages → blocks (the only Python stage).

≈ Clara step_4/step_5: ``blockfind`` zoning (pgmblock.c:1108-1271) +
``pbm2bm`` connected-component isolation (pbm2cl.c:824-1296), recast as
per-document DOM parsing.  Embarrassingly parallel per document, so it
rides in ``mapInPandas`` (Arrow batch iterator — zero per-row Python at
the Spark API level; per-document parsing happens inside the batch).
For mixed tables the same stage routes each ``%PDF-`` payload to the
geometric layout (``stages/layout.pdf_blocks``): one block per line.

Everything downstream of this stage is JVM-side column expressions.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..domparse import block_features
from ..sources.pdfparse import is_pdf, parse_pdf_runs
from .layout import pdf_blocks

BLOCKS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("zone", IntegerType(), False),
        StructField("pos", IntegerType(), False),
        StructField("tag_path", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("text", StringType(), False),
        StructField("text_len", IntegerType(), False),
        StructField("link_text_len", IntegerType(), False),
        StructField("n_runs", IntegerType(), False),
        StructField("link_density", DoubleType(), False),
        StructField("punct_ratio", DoubleType(), False),
        StructField("stopword_ratio", DoubleType(), False),
        StructField("n_words", IntegerType(), False),
    ]
)


#: emphasis column: "start:end:kind" strings over the block text
#: (the wprops word-flag spans, build.c:585-685) — emitted only when
#: with_emph=True so the extraction hot path's shuffle stays narrow
EMPH_FIELD = StructField("emph", ArrayType(StringType(), False), False)

#: Sentinel block emitted once per document (pos = -1): guarantees
#: every url survives to the assembly aggregate even when no real
#: block exists, without re-joining the pages table (one scan, one
#: shuffle — the join-free keep-empty design).
SENTINEL_POS = -1


def doc_rows(
    url: str, blocks, full_features: bool, with_emph: bool = False
) -> list:
    """One document's block rows: its sentinel, then one row per block
    (``BLOCKS_SCHEMA``, plus ``emph`` when ``with_emph``)."""
    sentinel = (url, 0, SENTINEL_POS, "", 0, "", 0, 0, 0, 0.0, 0.0, 0.0, 0)
    rows = [sentinel + ([],) if with_emph else sentinel]
    for b in blocks:
        if full_features:
            ld, pr, sr, nw, _ = block_features(b)
        else:
            # extraction hot path: only link_density feeds the rule
            # chain; text stats are for quality/calibration stages
            ld = min(b.link_text_len / max(b.text_len, 1), 1.0)
            pr = sr = 0.0
            nw = 0
        row = (
            url,
            b.zone,
            b.pos,
            b.tag_path,
            b.depth,
            b.text,
            b.text_len,
            b.link_text_len,
            b.n_runs,
            ld,
            pr,
            sr,
            nw,
        )
        if with_emph:
            row = row + ([f"{s}:{e}:{k}" for s, e, k in b.emph],)
        rows.append(row)
    return rows


def segment(
    pages: DataFrame,
    full_features: bool = True,
    with_emph: bool = False,
    mixed: bool = False,
    splitter: str = "river",
) -> DataFrame:
    """pages(url, html, …) → blocks, one row per segmented block.

    Column-prunes to (url, html) before the Python boundary so the
    Arrow transfer ships only what the parser needs (≈ the reference's
    one-scanline-resident memory discipline, pbm2cl.c:36-64).

    ``full_features=False`` skips punct/stopword/word statistics the
    extraction rule chain never reads (quality/calibration stages want
    them; the extract() hot path does not). ``with_emph=True`` adds
    the per-block emphasis spans (for the marked-up output variant).
    ``mixed=True`` routes each ``%PDF-`` payload (``pdfparse.is_pdf``,
    NULL is not a PDF) to ``layout.pdf_blocks`` with the column
    ``splitter``: one block per line, ``tag_path`` =
    ``layout.PDF_TAG_PATH``.
    """
    schema = StructType(
        BLOCKS_SCHEMA.fields + ([EMPH_FIELD] if with_emph else [])
    )
    cols = schema.fieldNames()

    def _segment_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        from ..fastparse import parse_blocks_fast

        for pdf in batches:
            rows = []
            for url, raw in zip(pdf["url"].to_numpy(), pdf["html"].to_numpy()):
                if mixed and is_pdf(raw):
                    blocks = pdf_blocks(parse_pdf_runs(raw), splitter)
                else:
                    blocks = parse_blocks_fast(raw)
                rows.extend(doc_rows(url, blocks, full_features, with_emph))
            yield pd.DataFrame(rows, columns=cols)

    return pages.select("url", "html").mapInPandas(
        _segment_batches, schema=schema
    )


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Host key for skew-aware per-site stages (JVM-side regexp)."""
    return df.withColumn(
        "host", F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/]+)", 1)
    )
