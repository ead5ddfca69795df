"""1-D closed-interval algebra as pure column expressions.

≈ ``intersize`` (clara.c:1246-1274): the primitive under Clara's
geometric pairing tests (s_pair vertical intersection).  Closed
integer intervals [a,b], [c,d].
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def intersize(a: Column, b: Column, c: Column, d: Column) -> Column:
    """Size of [a,b] ∩ [c,d] for closed integer intervals; 0 when
    disjoint.  intersize(0,2, 1,3) = 2 (points 1 and 2)."""
    return F.greatest(F.least(b, d) - F.greatest(a, c) + 1, F.lit(0))


def py_intersize(a: int, b: int, c: int, d: int) -> int:
    """Python oracle (the clara-tests.c ldist2 pattern: an independent
    reimplementation the column version is checked against)."""
    return max(min(b, d) - max(a, c) + 1, 0)
