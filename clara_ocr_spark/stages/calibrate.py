"""Per-document deskew calibration — the ``--deskew`` job stage.

≈ Clara's ``pp_deskew`` (preproc.c:218-292): a per-page scalar search
that maximizes a row-local alignment score.  The DOM analogue probes
word-length cutoffs per extracted document and keeps the best one,
as a diagnostic sidecar table beside the extraction output; the
``queries.deskew_search`` catalog entry computes through
``deskew_profile``, so its DuckDB oracle checks this code.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.textsig import _let


#: Upper end of the word-length cutoff grid t ∈ 1..DESKEW_MAX_T.
DESKEW_MAX_T = 12


def deskew_profile(extracted: DataFrame) -> DataFrame:
    """Per-document deskew calibration profile (``pp_deskew``,
    preproc.c:218-292: a per-page scalar search maximizing a row-local
    alignment score).

    DOM transliteration: probe word-length cutoffs t ∈ 1..DESKEW_MAX_T,
    score each as t · |{words with len ≥ t}| (projection-profile mass),
    keep the argmax with first-max tie-break. Emitted as a DIAGNOSTIC
    table (url, deskew_t, deskew_score) that rides the extraction job —
    it never edits text, so byte-identity with the reference output is
    untouched (the --deskew job-flag contract).

    Scale shape: the word-length array is bound once per doc, the
    whole grid is one JVM higher-order expression — zero shuffles,
    zero Python, cost ∝ tokens."""
    lens = F.transform(
        F.split(F.trim(F.col("text")), r"\s+"), lambda w: F.length(w)
    )
    # let-bound: a bare column reference would re-split the text per
    # grid point
    scores = _let(
        lens,
        lambda ls: F.transform(
            F.sequence(F.lit(1), F.lit(DESKEW_MAX_T)),
            lambda i: (i * F.size(F.filter(ls, lambda l: l >= i))).cast(
                "bigint"
            ),
        ),
    )
    return extracted.select(
        "url",
        _let(scores, lambda sc: F.array_position(sc, F.array_max(sc)))
        .cast("int")
        .alias("deskew_t"),
        _let(scores, lambda sc: F.array_max(sc)).alias("deskew_score"),
    )
