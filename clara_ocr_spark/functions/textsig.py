"""Text-signature primitives: whitespace tokens, word shingles,
minhash and LSH bands, set Jaccard, winnowing fingerprints, the bigram
LM and DSIR weights, and min-label connected components.

The one home of the column expressions and DataFrame chains that
curation (``curate``), the extraction pipeline (``pipeline``) and the
oracle-checked catalog (``queries``) share.  Each primitive's DuckDB
twin (``_TOK_DUCK``, ``H60_DUCK``, ``_WINNOW_SEL_DUCK``, ...) stays in
``queries`` beside the oracle SQL that uses it; this module imports
nothing from the package.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window


def _fanout(spark: SparkSession, df: DataFrame, *cols: str) -> DataFrame:
    """Spread a small-file scan across every core before CPU-heavy
    per-row work (the `_near_dup_pairs` repartition discipline,
    generalized): the sf corpora are single-row-group parquet files,
    so every scan is ONE task no matter how small
    spark.sql.files.maxPartitionBytes is set — and any expensive
    map-side compute (per-gram hashing, minhash folds, pair dot
    products) before the first Exchange serializes on one core.

    Hash-partitions on ``cols`` when given (deterministic, skips the
    keyless round-robin's sortBeforeRepartition pass, and lets every
    downstream aggregate/window keyed on a superset of ``cols`` reuse
    the exchange instead of adding its own); the explicit partition
    count stops AQE coalescing the small-bytes exchange below the
    core count.  At 100 TB the scan already has thousands of splits
    and this exchange carries only the pruned columns — the same
    scale-invariant cost the repartitions inside `_near_dup_pairs` /
    `semdedup_cells` / `bitext_margin_mine` already pay.

    NOT applied upstream of float aggregations (centroid avgs, pca
    sums): a partitioning change reorders partial aggregation, which
    would perturb low-order float bits the driver's value hash pins."""
    n = spark.sparkContext.defaultParallelism
    if cols:
        return df.repartition(n, *[F.col(c) for c in cols])
    return df.repartition(n)


def spark_hash60(col: F.Column) -> F.Column:
    """Portable 60-bit hash (== DuckDB ('0x'||substring(md5,1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _tokens(col: F.Column) -> F.Column:
    """Whitespace tokens; empty text → empty array (both systems)."""
    return F.when(
        F.length(F.trim(col)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(col), r"\s+"))


def _grams(ws: F.Column) -> F.Column:
    """Word 2-grams; single-token docs get one degenerate gram
    (token + ' '), zero-token docs one single-space gram, so the
    signature is defined for every doc identically in both engines.

    Built with zip_with + slice so ``ws`` appears O(1) times in the
    expression tree — Catalyst inlines column references into lambda
    bodies, so an element_at(ws, i)-per-gram formulation re-tokenizes
    the document once per gram (measured 30× slower at sf0.1)."""
    zipped = F.zip_with(
        ws,
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(1))),
        lambda a, b: F.concat(a, F.lit(" "), F.coalesce(b, F.lit(""))),
    )
    # zero-token docs get one single-space gram — the same value the
    # DuckDB twin's coalesce chain yields — so empty docs carry a
    # DEFINED signature in both engines instead of an engine-specific
    # sentinel (empty docs are common at web scale; a NULL-vs-sentinel
    # split here silently diverges every minhash/LSH downstream)
    return F.when(F.size(ws) == 0, F.array(F.lit(" "))).otherwise(
        F.slice(zipped, 1, F.greatest(F.size(ws) - 1, F.lit(1)))
    )


def _minhash_sig(grams: F.Column, n_seeds: int) -> F.Column:
    """All minhash permutations in ONE fold over the gram array, and
    ONE md5 per gram: the 32-hex digest splits into four independent
    8-char chunks, acc[s] = min(acc[s], md5(gram)[8s:8s+8]) — a 4×
    hashing-CPU cut vs the seed-suffix form (md5(gram ∥ ':s') per
    permutation), measured ~2× on minhash_signatures end-to-end.  The
    gram array is the aggregate input, evaluated once; lambda vars
    and the _let-bound digest are bound values."""
    assert n_seeds <= 4, "md5 yields 32 hex chars = 4 independent 8-char chunks"
    init = F.array(*[F.lit("\x7f") for _ in range(n_seeds)])
    return F.aggregate(
        grams,
        init,
        lambda acc, g: F.zip_with(
            acc,
            _let(
                F.md5(g),
                lambda h: F.array(
                    *[F.substring(h, 1 + 8 * s, 8) for s in range(n_seeds)]
                ),
            ),
            lambda a, b: F.least(a, b),
        ),
    )


def _let(col: F.Column, fn) -> F.Column:
    """Let-binding for Catalyst: evaluate ``col`` once and reference
    the bound value many times inside ``fn`` (lambda variables are
    bound values; plain column references get inlined per use)."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def _top_word_count(ws: F.Column) -> F.Column:
    """Max token frequency via sort + longest-equal-run fold —
    O(n log n) per doc; the transform(distinct, filter-count) shape is
    O(distinct·n), quadratic on exactly the repetitive docs the
    quality gate exists to catch."""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, w):
        run = F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            w.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return _let(
        F.array_sort(ws), lambda s: F.aggregate(s, init, step)["best"]
    )


def _top_word_frac(toks: F.Column) -> F.Column:
    n_tok = F.size(toks)
    return F.when(
        n_tok > 0, _top_word_count(toks).cast("double") / n_tok
    ).otherwise(F.lit(0.0))


def _dup_2gram_frac(toks: F.Column) -> F.Column:
    return _let(
        _grams(toks),
        lambda gs: F.when(
            F.size(gs) > 0,
            F.lit(1.0)
            - F.size(F.array_distinct(gs)).cast("double") / F.size(gs),
        ).otherwise(F.lit(0.0)),
    )


def _recall_bands(toks: F.Column) -> F.Column:
    """Four single-row LSH band keys — each `_minhash_sig` chunk is
    its own bucket key.  The RECALL-oriented banding the
    decontamination probes use (catches a pair of shingle similarity
    s with 1-(1-s)⁴ ≈ 94% at s ≈ 0.5, vs ≈ 34% for `_minhash_bands`'
    precision-oriented 2×2); called by `curate.fuzzy_contaminated_urls`,
    which the oracle-checked `fuzzy_decontaminate` entry computes
    through."""
    return _minhash_sig(_grams(toks), 4)


def _set_jaccard(a: F.Column, b: F.Column) -> F.Column:
    """Token-SET Jaccard |a∩b| / |a∪b| over two distinct-element
    arrays, NULL when both are empty (the DuckDB 0/0 behavior —
    callers filter on a threshold, so NULL drops the pair in both
    engines).  Shared by the fuzzy decontamination probes and the
    near-dup verify (`_jaccard_pairs`)."""
    union_n = F.size(F.array_distinct(F.concat(a, b)))
    return F.when(
        union_n > 0, F.size(F.array_intersect(a, b)).cast("double") / union_n
    )


def _minhash_bands(toks: F.Column) -> F.Column:
    """Two LSH band keys from the 4-permutation minhash signature."""
    sig = _minhash_sig(_grams(toks), 4)
    return _let(
        sig,
        lambda s: F.array(
            F.md5(F.concat(F.element_at(s, 1), F.element_at(s, 2))),
            F.md5(F.concat(F.element_at(s, 3), F.element_at(s, 4))),
        ),
    )


def _band_candidates(b: DataFrame, id_col: str) -> DataFrame:
    """b(id, bucket) → distinct (i_id < j_id) pairs sharing a bucket.
    Caller should localCheckpoint b — both join sides read it."""
    left = b.select(F.col(id_col).alias("i_id"), "bucket")
    right = b.select(F.col(id_col).alias("j_id"), "bucket")
    return (
        left.join(right, "bucket")
        .filter(F.col("i_id") < F.col("j_id"))
        .select("i_id", "j_id")
        .dropDuplicates(["i_id", "j_id"])
    )


def _jaccard_pairs(
    cand: DataFrame, ws: DataFrame, id_col: str, tau: float
) -> DataFrame:
    """Exact token-set Jaccard verify over the bounded candidate set
    (the cheap-filter → expensive-compare split of classify).
    ws(id, toks) should be localCheckpointed by the caller.  Two
    zero-token docs (a real pair at web scale — empty docs share a
    defined signature, see _grams) make the Jaccard 0/0;
    `_set_jaccard`'s NULL drops the pair, so empty docs dedup in the
    exact tier, not here."""
    jac = _set_jaccard(F.col("a.toks"), F.col("b.toks"))
    return (
        cand.join(ws.alias("a"), F.col("i_id") == F.col(f"a.{id_col}"))
        .join(ws.alias("b"), F.col("j_id") == F.col(f"b.{id_col}"))
        .filter(jac >= tau)
        .select("i_id", "j_id")
    )


def _min_label_components(
    pairs: DataFrame, stats: "dict | None" = None
) -> DataFrame:
    """Distributed connected components over undirected pairs (i_id,
    j_id); returns (node, cluster) with cluster = smallest member id.

    Each round: (1) neighbor-min propagation, (2) pointer doubling —
    cluster[node] := cluster[cluster[node]] — which halves the label-
    chain depth, so rounds = O(log diameter) instead of O(diameter)
    (a 3k-doc near-dup family converges in ~5 rounds, not ~30).
    Lineage truncated per round (localCheckpoint) so the plan stays
    O(1) at any depth.

    Convergence detection is FOLDED INTO the propagation job (VERDICT
    r2): the old label rides the round's plan, a changed-row sum is
    attached as a CollectMetrics observation, and the eager
    localCheckpoint that truncates lineage is the action that fills
    it — one job per round, no separate compare-join + count job.
    At 100 TB the driver never pulls labels, only the one metrics row.

    ``stats`` (optional, for tests/telemetry): filled with
    ``{"rounds": n}`` — the number of propagation JOBS run; each job
    fuses TWO propagate+double passes (job cost is scheduling-
    dominated at label-table size, so two passes per checkpoint halves
    driver wall vs one).
    """
    from pyspark.sql import Observation

    edges = pairs.unionByName(
        pairs.select(F.col("j_id").alias("i_id"), F.col("i_id").alias("j_id"))
    ).select(F.col("i_id").alias("src"), F.col("j_id").alias("dst"))
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("cluster")
    )
    def step(lbl: DataFrame) -> DataFrame:
        """One propagate + pointer-double pass, as a plan fragment."""
        prop = (
            edges.join(lbl, edges["src"] == lbl["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("cluster").alias("ncluster"))
        )
        stepped = lbl.join(prop, "node", "left").select(
            "node",
            F.least("cluster", F.coalesce("ncluster", "cluster")).alias("cluster"),
        )
        # pointer doubling: follow the label's own label
        parent = stepped.select(
            F.col("node").alias("pnode"), F.col("cluster").alias("pcluster")
        )
        return stepped.join(
            parent, stepped["cluster"] == parent["pnode"], "left"
        ).select(
            "node",
            F.least("cluster", F.coalesce("pcluster", "cluster")).alias("cluster"),
        )

    rounds = 0
    for _ in range(16):  # backstop; log-depth convergence exits early
        rounds += 1
        # TWO fused passes per checkpointed round: per-round job cost
        # is dominated by scheduling at this label-table size, so
        # halving the job count (vs one pass per job) halves the
        # driver-side wall; lineage still truncates every round.
        mid = step(labels).select(
            "node", F.col("cluster").alias("mcluster")
        )
        obs = Observation()
        new = (
            step(mid.select("node", F.col("mcluster").alias("cluster")))
            .join(mid, "node")
            # convergence = the SECOND pass changed nothing: its input
            # (pass-1 output) is then a fixpoint of a full step, which
            # is exactly the loop invariant the single-pass version
            # checked. Comparing against mid, not the round input,
            # keeps the test exact when pass 1 still moved labels.
            .observe(
                obs,
                F.coalesce(
                    F.sum(
                        F.when(F.col("cluster") != F.col("mcluster"), 1)
                        .otherwise(0)
                    ),
                    F.lit(0),
                ).alias("changed"),
            )
            .select("node", "cluster")
            .localCheckpoint(eager=True)  # the round's ONE job; fills obs
        )
        labels = new
        if obs.get["changed"] == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("node", "cluster")


def _gram5_hashes() -> F.Column:
    """Distinct word-5-gram 60-bit hashes of ``text`` (the
    decontamination shingle unit, shared with curate.contaminated_urls
    — single source of truth). Token array let-bound: one tokenize
    per doc, not per gram."""
    ws = F.split(F.trim(F.col("text")), r"\s+")
    return F.array_distinct(
        _let(
            ws,
            lambda w: F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(w) - 4, F.lit(1))),
                lambda i: spark_hash60(
                    F.concat_ws(" ", F.slice(w, i, F.lit(5)))
                ),
            ),
        )
    )


def _positional_lines_arr(col: str = "ws", line_tokens: int = 8) -> F.Column:
    """Token array column ``col`` → array of positional ``line_tokens``-
    token lines (space-joined). The line unit of the CCNet/RefinedWeb
    corpus-level line dedup of the `curate.drop_frequent_lines` stage
    (which the `line_dedup_corpus` catalog query computes through) and
    of the `boiler_scope_audit` entry."""
    ws = F.col(col)
    n_lines = F.ceil(F.size(ws) / F.lit(float(line_tokens))).cast("bigint")
    return F.when(
        F.size(ws) == 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1).cast("bigint"), n_lines),
            lambda i: F.array_join(
                F.slice(
                    ws,
                    ((i - F.lit(1)) * line_tokens + 1).cast("int"),
                    line_tokens,
                ),
                " ",
            ),
        )
    )


# SQL-lambda bigram builder shared by the trained-LM gate: positions
# 2..n of the token array as (prev, cur) structs.  The size guard is
# load-bearing — Spark's sequence(2, 1) generates DESCENDING [2, 1],
# so a 1-token doc would fabricate a reversed pair instead of none.
_BIGRAMS = (
    "case when size(ws) >= 2 then "
    "transform(sequence(2, size(ws)), "
    "          i -> struct(ws[i-2] as w1, ws[i-1] as w2)) "
    "else cast(array() as array<struct<w1:string,w2:string>>) end"
)


def bigram_nll(docs: DataFrame, ref: DataFrame, keys: list) -> DataFrame:
    """Per-document mean negative log-likelihood under an
    add-0.1-smoothed bigram LM trained on ``ref`` — the shared core of
    the `ngram_lm_score` catalog query and the curation job's
    perplexity gate (curate.CurateConfig.lm_nll_max), one source of
    truth like _tokens/_positional_lines_arr.

    ``docs`` carries ``keys`` + a tokenized ``ws`` column; ``ref``
    carries ``ws``.  Returns ``keys`` + ``nll`` (round 6); documents
    with < 2 tokens emit no row (no bigrams → no evidence)."""
    runi = (
        ref.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vocab = runi.agg(F.count(F.lit(1)).alias("v"))
    rbig = (
        ref.select(F.explode(F.expr(_BIGRAMS)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    pairs = docs.select(
        *keys, F.explode(F.expr(_BIGRAMS)).alias("p")
    ).select(*keys, "p.w1", "p.w2")
    scored = (
        pairs.join(rbig, ["w1", "w2"], "left")
        .join(runi.withColumnRenamed("w", "w1"), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            *keys,
            F.log(
                (F.coalesce(F.col("cb"), F.lit(0)) + 0.1)
                / (F.coalesce(F.col("cu"), F.lit(0)) + 0.1 * F.col("v"))
            ).alias("lp"),
        )
    )
    return scored.groupBy(*keys).agg(F.round(-F.avg("lp"), 6).alias("nll"))


def dsir_logweights(docs: DataFrame, target: DataFrame,
                    keys: list) -> DataFrame:
    """Per-document DSIR log importance weight — the shared core of
    the `dsir_importance` catalog query and the curation job's
    `--dsir-weights` sidecar.  ``docs`` carries ``keys`` + a token
    column ``w`` (one row per token; it is also the raw
    distribution); ``target`` carries ``w`` for the in-domain sample.
    Returns ``keys`` + ``logw`` (round 6); token-less docs emit no
    row.  The 4096-bucket log-ratio table is O(1)-size and broadcast
    — scoring never shuffles with the vocabulary."""
    tok = docs.select(*keys, (spark_hash60(F.col("w")) % 4096).alias("b"))
    ttok = target.select((spark_hash60(F.col("w")) % 4096).alias("b"))
    tgt = ttok.groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    raw = tok.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    ttot = tgt.agg(F.sum("ct").alias("t"))
    rtot = raw.agg(F.sum("cr").alias("r"))
    dist = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(rtot))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                    / (F.col("t") + 4096.0)
                )
                - F.log((F.col("cr") + 1.0) / (F.col("r") + 4096.0))
            ).alias("lw"),
        )
    )
    return (
        tok.join(F.broadcast(dist), "b")
        .groupBy(*keys)
        .agg(F.round(F.sum("lw"), 6).alias("logw"))
    )


#: winnow_fingerprints: k-gram width (MOSS default region: 5-10 chars
#: of normalized text) and winnowing window w — guarantee: any match
#: of length >= WIN_W + WIN_K - 1 = 11 normalized chars shares at
#: least one selected fingerprint; expected density 2/(w+1) = 400
#: per-mille (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — public).
WIN_K = 8
WIN_W = 4
#: composite-key radix: ck = h30 * 2^32 + (2^32 - 1 - pos), so a
#: single window MIN yields (min hash, rightmost position on ties) —
#: the paper's tie-break — and both components decode exactly.
_WIN_R = 4294967296


def winnow_select(d: DataFrame, key: str = "doc_id") -> DataFrame:
    """The winnowing selection itself: (key, n_g, fp_hash, fp_pos) —
    one row per selected fingerprint, keyed by ``key`` (doc_id for
    the catalog; url for the curation tier).  Exposed separately so
    the guarantee property (any >= WIN_W+WIN_K-1-char shared
    normalized substring shares a fingerprint HASH) is testable on
    the real selected sets, and so downstream near-dup joins can
    bucket on fp_hash directly."""
    # fan the doc scan out BY KEY before the per-character explode
    # (guide §3.3: explode after the shuffle): the single-row-group
    # scan is one task, so the k-gram hashing — the dominant cost —
    # serialized on one core, and the window/distinct/rollup exchanges
    # each re-shuffled the EXPLODED relation (~chars-per-doc rows).
    # Hash-partitioned on the key, the window, the distinct and every
    # doc-keyed rollup downstream all reuse this one pre-explode
    # exchange (their keys are supersets of ``key``), so the exploded
    # rows never hit the wire at all.
    nm = _fanout(
        d.sparkSession,
        d.select(
            key,
            F.regexp_replace(
                F.trim(F.lower(F.col("text"))), r"\s+", " "
            ).alias("norm"),
        ).filter(F.length("norm") >= WIN_K),
        key,
    )
    g = nm.select(
        key,
        (F.length("norm") - WIN_K + 1).alias("n_g"),
        F.explode(
            F.sequence(F.lit(1), F.length("norm") - WIN_K + 1)
        ).alias("i"),
        "norm",
    ).select(
        key,
        "n_g",
        "i",
        (
            spark_hash60(F.expr(f"substring(norm, i, {WIN_K})"))
            % 1073741824
        ).alias("h30"),
    )
    c = g.select(
        key,
        "n_g",
        "i",
        (
            F.col("h30") * _WIN_R + (F.lit(_WIN_R - 1) - F.col("i"))
        ).alias("ck"),
    )
    w = c.withColumn(
        "cmin",
        F.min("ck").over(
            Window.partitionBy(key)
            .orderBy("i")
            .rowsBetween(Window.currentRow, WIN_W - 1)
        ),
    )
    return (
        w.filter(
            F.col("i") <= F.greatest(F.lit(1), F.col("n_g") - WIN_W + 1)
        )
        .select(
            key,
            "n_g",
            F.expr(f"cmin div {_WIN_R}").alias("fp_hash"),
            (F.lit(_WIN_R - 1) - F.col("cmin") % _WIN_R).alias("fp_pos"),
        )
        .distinct()
    )


#: winnow_pairs: fingerprints shared by more than FP_MAX_DF docs are
#: dropped before pairing (boilerplate fingerprints are not dup
#: signal, and an f-doc fingerprint generates f^2 candidate pairs —
#: the cap bounds every bucket, the MOSS common-fingerprint filter).
FP_MAX_DF = 16


def winnow_pairs(d: DataFrame, key: str, min_pm: int) -> DataFrame:
    """(key, text) → (i_id, j_id, shared, containment_pm): document
    pairs (i_id < j_id) whose winnowing-fingerprint sets overlap by
    >= ``min_pm`` per-mille of the smaller set, after the
    df <= FP_MAX_DF hot-fingerprint cap.  The one fingerprint-pair
    chain behind ``winnow_near_dup`` and ``curate.winnow_dup_pairs``."""
    sel = winnow_select(d, key=key)
    hs = (
        sel.select(key, "fp_hash")
        .distinct()
        # fingerprint-space-bounded; consumers: df gate, pair join
        # (twice), per-doc sizes — materialize so the corpus-side
        # winnowing window runs once
        .localCheckpoint(eager=False)
    )
    df = hs.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("nd"))
    kept = (
        hs.join(df.filter(F.col("nd") <= FP_MAX_DF), "fp_hash")
        .select(key, "fp_hash")
        .localCheckpoint(eager=False)
    )
    m = kept.groupBy(key).agg(F.count(F.lit(1)).alias("n_fp"))
    a = kept.select(F.col(key).alias("i_id"), "fp_hash")
    b = kept.select(F.col(key).alias("j_id"), "fp_hash")
    p = (
        a.join(b, "fp_hash")
        .filter(F.col("i_id") < F.col("j_id"))
        .groupBy("i_id", "j_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        p.join(
            m.select(F.col(key).alias("i_id"), F.col("n_fp").alias("n_a")),
            "i_id",
        )
        .join(
            m.select(F.col(key).alias("j_id"), F.col("n_fp").alias("n_b")),
            "j_id",
        )
        .select(
            "i_id",
            "j_id",
            F.col("shared").cast("bigint").alias("shared"),
            F.expr("(1000 * shared) div least(n_a, n_b)")
            .cast("bigint")
            .alias("containment_pm"),
        )
        .filter(F.col("containment_pm") >= min_pm)
    )
