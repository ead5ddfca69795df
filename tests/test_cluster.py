"""Distributed connected components (``textsig._min_label_components``)
stress tests.

The cross-document generalization of Clara's ``clusterize``
(pgmblock.c:469-622): adversarial graph shapes pin the round budget —
pointer doubling must give O(log diameter) rounds on a path, and a
star must converge in 2 (VERDICT r2 item 4). The observe-based
convergence fold means each round is ONE Spark job; the rounds stat
counts exactly those jobs.
"""

from __future__ import annotations


def _cc(spark, edge_list):
    import math

    from clara_ocr_spark.functions.textsig import _min_label_components

    pairs = spark.createDataFrame(edge_list, "i_id bigint, j_id bigint")
    stats = {}
    got = {
        r.node: r.cluster
        for r in _min_label_components(pairs, stats=stats).collect()
    }
    return got, stats["rounds"]


def test_cc_long_path_log_rounds(spark):
    """10k-node path (diameter 9 999): every node must label 0, within
    a round budget ≈ log2(diameter) + slack — NOT O(diameter)."""
    import math

    n = 10_000
    got, rounds = _cc(spark, [(i, i + 1) for i in range(n - 1)])
    assert len(got) == n
    assert set(got.values()) == {0}
    # each round fuses two propagate+double passes -> half the jobs
    budget = math.ceil(math.log2(n) / 2) + 3  # 7 + slack
    assert rounds <= budget, f"{rounds} rounds > budget {budget}"


def test_cc_star_hub_two_rounds(spark):
    """10k-leaf star (high-degree hub, diameter 2): the first fused
    round both labels everything (pass 1) and confirms the fixpoint
    (pass 2 changes nothing)."""
    n = 10_000
    got, rounds = _cc(spark, [(0, i) for i in range(1, n)])
    assert len(got) == n
    assert set(got.values()) == {0}
    assert rounds <= 2, rounds


def test_cc_mixed_components(spark):
    """Path ∪ star ∪ isolated edge with interleaved ids: labels are
    the per-component minimum, components never merge."""
    path = [(2 * i, 2 * (i + 1)) for i in range(50)]  # evens 0..100
    star = [(1001, 1001 + 2 * i) for i in range(1, 30)]  # odds
    extra = [(5_000_001, 5_000_003)]
    got, rounds = _cc(spark, path + star + extra)
    assert set(got[2 * i] for i in range(51)) == {0}
    assert set(got[1001 + 2 * i] for i in range(30) if i != 0) == {1001}
    assert got[1001] == 1001
    assert got[5_000_001] == got[5_000_003] == 5_000_001
    assert rounds <= 5
