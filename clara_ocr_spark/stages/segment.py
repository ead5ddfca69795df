"""Stage B — segmentation: pages → blocks (the only Python stage).

≈ Clara step_4/step_5: ``blockfind`` zoning (pgmblock.c:1108-1271) +
``pbm2bm`` connected-component isolation (pbm2cl.c:824-1296), recast as
per-document DOM parsing.  Embarrassingly parallel per document, so it
rides in ``mapInPandas`` (Arrow batch iterator — zero per-row Python at
the Spark API level; per-document parsing happens inside the batch).

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

from ..domparse import block_features, parse_blocks

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


def _make_segment_fn(full_features: bool, with_emph: bool = False):
    schema = StructType(
        BLOCKS_SCHEMA.fields + ([EMPH_FIELD] if with_emph else [])
    )
    cols = [f.name for f in schema.fields]

    def _segment_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        from ..fastparse import parse_blocks_fast

        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"].to_numpy(), pdf["html"].to_numpy()):
                sentinel = (
                    url, 0, SENTINEL_POS, "", 0, "", 0, 0, 0, 0.0, 0.0, 0.0, 0,
                )
                rows.append((sentinel + ([],)) if with_emph else sentinel)
                for b in parse_blocks_fast(html):
                    if full_features:
                        ld, pr, sr, nw, _ = block_features(b)
                    else:
                        # extraction hot path: only link_density feeds
                        # the rule chain; text stats are for quality/
                        # calibration stages
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
                        row = row + (
                            [f"{s}:{e}:{k}" for s, e, k in b.emph],
                        )
                    rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return _segment_batches, schema


_segment_full, _ = _make_segment_fn(True)
_segment_min, _ = _make_segment_fn(False)
_segment_full_emph, _EMPH_SCHEMA_FULL = _make_segment_fn(True, True)
_segment_min_emph, _EMPH_SCHEMA_MIN = _make_segment_fn(False, True)


def segment(
    pages: DataFrame, full_features: bool = True, with_emph: bool = False
) -> DataFrame:
    """pages(url, html, …) → blocks, one row per segmented block.

    Column-prunes to (url, html) before the Python boundary so the
    Arrow transfer ships only what the parser needs (≈ the reference's
    one-scanline-resident memory discipline, pbm2cl.c:36-64).

    ``full_features=False`` skips punct/stopword/word statistics the
    extraction rule chain never reads (quality/calibration stages want
    them; the extract() hot path does not). ``with_emph=True`` adds
    the per-block emphasis spans (for the marked-up output variant).
    """
    if with_emph:
        fn = _segment_full_emph if full_features else _segment_min_emph
        schema = _EMPH_SCHEMA_FULL if full_features else _EMPH_SCHEMA_MIN
    else:
        fn = _segment_full if full_features else _segment_min
        schema = BLOCKS_SCHEMA
    return pages.select("url", "html").mapInPandas(fn, schema=schema)


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Host key for skew-aware per-site stages (JVM-side regexp)."""
    return df.withColumn(
        "host", F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/]+)", 1)
    )
