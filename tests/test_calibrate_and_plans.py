"""Physical-plan shape assertions (the .explain checks: pushdown,
broadcast, single-shuffle pipeline) and the --deskew profile."""

from __future__ import annotations

import pyspark.sql.functions as F

from clara_ocr_spark.pipeline import extract, read_pages
from clara_ocr_spark.queries import REGISTRY


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# -- plan-shape assertions (SURVEY: iterate on .explain output) ---------


def test_filter_pushdown_to_parquet(spark, sf001):
    fn, _ = REGISTRY["range_filter"]
    plan = _plan(fn(spark, sf001))
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters:")[1][:300]


def test_column_pruning(spark, sf001):
    fn, _ = REGISTRY["top_sources_by_chars"]
    plan = _plan(fn(spark, sf001))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "source" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema  # big column not read


def test_broadcast_join_used(spark, sf001):
    fn, _ = REGISTRY["broadcast_classify"]
    plan = _plan(fn(spark, sf001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pattern_join_is_broadcast(spark, corpus_path):
    pages = read_pages(spark, corpus_path)
    pats = pages.sparkSession.createDataFrame(
        [("html/body/nav", "boilerplate", 0)], "fingerprint string, label string, matches bigint"
    )
    plan = _plan(extract(pages, pats))
    assert "BroadcastHashJoin" in plan


def test_extraction_single_shuffle(spark, corpus_path):
    """The extraction pipeline must have exactly one exchange (the
    per-url assembly aggregate) — no hidden repartitions or joins."""
    pages = read_pages(spark, corpus_path)
    plan = _plan(extract(pages))
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges == 1, plan


def test_extraction_html_pruned_from_shuffle(spark, corpus_path):
    """html bytes must not travel through the shuffle: the projection
    feeding the assembly aggregate carries only (url, zone, pos, text),
    and the aggregate does a map-side partial collect before the
    exchange."""
    pages = read_pages(spark, corpus_path)
    plan = _plan(extract(pages))
    shuffle_part = plan.split("Exchange ")[1]
    project_line = next(
        ln for ln in shuffle_part.splitlines() if "Project [" in ln
    )
    assert "html" not in project_line and "tag_path" not in project_line
    assert "partial_collect_list" in shuffle_part  # map-side partial agg


def test_whole_stage_codegen_in_queries(spark, sf001):
    fn, _ = REGISTRY["pricing_summary"]
    df = fn(spark, sf001)
    df.collect()  # materialize the AQE final plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # "*(n)" prefixes mark whole-stage-codegen'd operators in AQE plans
    assert "*(" in plan
    assert "partial_sum" in plan  # map-side partial aggregation


def test_revenue_join_plan_shape(spark, sf001):
    """Q5 shape: dims broadcast, region filter pushed to scan, no
    cartesian/nested-loop join anywhere."""
    df = REGISTRY["revenue_by_nation"][0](spark, sf001)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EqualTo(r_name,ASIA)" in plan  # pushed to the region scan


def test_near_dup_plan_no_or_join(spark, sf001):
    """The LSH OR-construction must compile to two equi hash joins —
    an OR join condition would be a nested-loop scan of all pairs."""
    df = REGISTRY["near_dup_cosine"][0](spark, sf001)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_probe_plan_shape(spark, sf001):
    """Centroid table must broadcast; the only cross join allowed is
    the 10-row centroid assignment (broadcast NLJ), never a pair scan."""
    df = REGISTRY["ivf_topk"][0](spark, sf001)
    plan = _plan(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_topk_doubts_plan_no_global_window(spark, sf001):
    """The doubt cap compiles to TakeOrderedAndProject; the rank
    window sits above it, over ≤ 100 rows (VERDICT r1 #4)."""
    plan = _plan(REGISTRY["topk_doubts"][0](spark, sf001))
    assert "TakeOrderedAndProject" in plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_decontaminate_plan_broadcasts_eval_side(spark, sf001):
    """The eval shingle set is benchmark-sized and must broadcast; the
    corpus probe may never sort-merge against it (that would shuffle
    every exploded shingle), and there is no pair scan."""
    df = REGISTRY["decontaminate"][0](spark, sf001)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_dup_partial_aggregation(spark):
    """Tier-1 exact dedup must be a groupBy (partial_min map-side)
    + join, never a window over partitionBy(h) — hot hash values
    (boilerplate-identical texts) would pile into one task
    (VERDICT r1 #6)."""
    from clara_ocr_spark.curate import exact_dup_canonical

    docs = spark.createDataFrame(
        [("u1", "same"), ("u2", "same"), ("u3", "other")], "url string, text string"
    )
    df = exact_dup_canonical(docs)
    plan = _plan(df)
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine before the shuffle
    got = {r.url: r.exact_canonical for r in df.collect()}
    assert got == {"u1": "u1", "u2": "u1", "u3": "u3"}


def test_near_dup_no_corpus_broadcast_hint(spark, sf001):
    """The vector re-attach in _near_dup_pairs must NOT carry a
    broadcast hint: the signature table is corpus-sized, so a forced
    broadcast OOMs at scale (VERDICT r1 #5). AQE may still choose a
    broadcast at sf — we pin the absence of the HINT in the analyzed
    logical plan, not the physical strategy."""
    from clara_ocr_spark.queries import _near_dup_pairs

    df = _near_dup_pairs(spark, sf001, 0.40)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    assert "UnresolvedHint" not in analyzed


def test_simhash_verify_no_broadcast_hint(spark, sf001):
    """Same discipline for simhash_near_dup's verify joins (ADVICE r2):
    only the narrow (doc_id, sh) relation may enter the pair shuffle,
    never a forced corpus broadcast."""
    df = REGISTRY["simhash_near_dup"][0](spark, sf001)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    assert "UnresolvedHint" not in analyzed


def test_n_planes_refines_lsh_buckets(spark, sf001):
    """n_planes is a real parameter (VERDICT r1 #5): more planes →
    finer band buckets, with distinct-bucket counts bounded by
    2^(n_planes/2) per band and strictly refined by widening."""
    import pyspark.sql.functions as F

    from clara_ocr_spark.queries import _emb, _lsh_bits

    e = _emb(spark, sf001).select("vec_id", "v")

    def n_buckets(n_planes: int) -> int:
        bits = _lsh_bits(F.col("v"), n_planes)
        half = n_planes // 2
        band0 = F.concat_ws("", *[b.cast("string") for b in bits[:half]])
        return e.select(band0.alias("b")).distinct().count()

    n8, n12 = n_buckets(8), n_buckets(12)
    assert n8 <= 2**4 and n12 <= 2**6
    # widening the code refines the partition: strictly more distinct
    # buckets on this corpus (prefix property: the first 4 of 6 bits
    # are the same planes, so each 4-bit bucket splits or persists)
    assert n12 > n8


def test_emb_width_gate_raises(spark, tmp_path):
    """A wrong-width embedding must raise loudly, not silently NULL
    every cosine / collapse IVF assignment (ADVICE r2)."""
    import pytest

    from clara_ocr_spark.queries import REGISTRY

    bad = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3], 0), (2, [0.4, 0.5, 0.6], 1)],
        "vec_id bigint, embedding array<float>, label bigint",
    )
    bad.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    # the raise may fire at plan-construction time (the lazy checkpoint
    # inside ivf_topk) or at collect — both are "loudly", so cover both
    with pytest.raises(Exception, match="64-dim"):
        REGISTRY["ivf_topk"][0](spark, str(tmp_path)).collect()


def test_deskew_profile_matches_catalog_query(spark, sf001):
    """The --deskew job stage and the deskew_search catalog query are
    the same grid argmax: identical (best_t, best_score) per doc, and
    the stage's plan is shuffle-free (row-local JVM HOFs only)."""
    from clara_ocr_spark.plans.bucketing import n_exchanges
    from clara_ocr_spark.queries import REGISTRY
    from clara_ocr_spark.stages.calibrate import deskew_profile

    docs = spark.read.parquet(f"{sf001}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    prof = deskew_profile(docs)
    assert n_exchanges(prof) == 0
    got = {int(r.url): (r.deskew_t, r.deskew_score) for r in prof.collect()}
    want = {
        r.doc_id: (r.best_t, r.best_score)
        for r in REGISTRY["deskew_search"][0](spark, sf001).collect()
    }
    assert got == want


def test_spell_correct_plan_equi_join_only(spark, sf001):
    """The SymSpell candidate stage must be a hash EQUI join on the
    variant key — an all-pairs levenshtein formulation shows up as a
    BroadcastNestedLoopJoin / CartesianProduct and dies at corpus
    scale."""
    from clara_ocr_spark.plans.bucketing import explain_str
    from clara_ocr_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["spell_correct"][0](spark, sf001))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "levenshtein" in plan  # the verify survives in the plan


def test_hits_topk_plan_not_global_window(spark, sf001):
    """The HITS authority top-k must compile to TakeOrderedAndProject
    (per-partition partial top-k) — the same pin the PageRank sites
    carry: never a row_number() window funnelling the |nodes| score
    table through one task.  The plan's only SinglePartition exchanges
    are the three 1-row max-normalizer reduces, each fed by a
    partial_max (so the rows crossing them number |upstream
    partitions|, not |nodes|)."""
    plan = _plan(REGISTRY["hits_scores"][0](spark, sf001))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    # every SinglePartition exchange must be a 1-row max-normalizer
    # reduce (its direct child a partial_max aggregate — so the rows
    # crossing it number |upstream partitions|, not |nodes|); the
    # printed tree duplicates shared subtrees under broadcasts, hence
    # counting occurrences would overstate them
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            assert "partial_max" in lines[i + 1], lines[i : i + 2]


def test_bitext_margin_plan_shape(spark, sf001):
    """The bitext miner's margin plan must consume the ONCE-materialized
    quantized pair table (Scan ExistingRDD from the lazy
    localCheckpoint) everywhere — no parquet scan and no cross-product
    operator may survive into the margin/top-k subtree, or each of the
    three consumers would recompute every 64-dim cosine (measured 3×
    before the checkpoint landed; BENCH.md round-5 continuation).  Both
    neighborhood top-k sums must pre-prune map-side via
    WindowGroupLimit, and nothing may funnel the pair table through a
    SinglePartition exchange."""
    plan = _plan(REGISTRY["bitext_margin_mine"][0](spark, sf001))
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert "Exchange SinglePartition" not in plan


def test_drift_ledger_plan_partial_aggs(spark, sf001):
    """snapshot_drift_kl's only data-sized shuffle is the term-keyed
    count aggregate, and it must partially aggregate map-side; the
    totals row returns as a 1-row broadcast cross join, so every
    SinglePartition exchange in the plan is fed by a partial aggregate
    (rows crossing it = |upstream partitions|, never |vocabulary|).
    No window anywhere — a window over the unpartitioned vocabulary
    would single-task the ledger at web scale."""
    plan = _plan(REGISTRY["snapshot_drift_kl"][0](spark, sf001))
    assert "Window" not in plan
    assert "partial_sum" in plan or "partial_count" in plan
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            assert "partial_" in lines[i + 1], lines[i : i + 2]


def test_tokenizer_fertility_plan_partial_aggs(spark, sf001):
    """tokenizer_fertility: one |langs|-keyed partial-aggregating
    groupBy; the English baseline is a 1-row broadcast cross join
    (every SinglePartition exchange fed by a partial aggregate), no
    window, and the segmentation regex stays map-side (no per-doc
    shuffle of text)."""
    plan = _plan(REGISTRY["tokenizer_fertility"][0](spark, sf001))
    assert "Window" not in plan
    assert "BroadcastExchange" in plan  # the 1-row baseline
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            assert "partial_" in lines[i + 1], lines[i : i + 2]


def test_heavy_hitters_plan_shape(spark, sf001):
    """heavy_hitters must never shuffle the full term relation: the
    candidate probe is a BroadcastHashJoin (candidate set broadcast,
    corpus side map-only), the exact counts partially aggregate
    map-side, and the total returns as a 1-row broadcast cross join.
    The only window-free global structures allowed are the
    SinglePartition exchanges fed by partial aggregates."""
    plan = _plan(REGISTRY["heavy_hitters"][0](spark, sf001))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            assert "partial_" in lines[i + 1], lines[i : i + 2]


def test_zipf_slope_plan_top_k_and_bounded_window(spark, sf001):
    """zipf_slope's head selection must be TakeOrderedAndProject
    (per-partition partial top-k — the ``topk_doubts`` pattern),
    NEVER a global Sort of the term relation; the one unpartitioned
    row_number window sits strictly ABOVE the limit, so it only ever
    sees <=512 rows; the regression aggregate partially aggregates."""
    plan = _plan(REGISTRY["zipf_slope"][0](spark, sf001))
    assert "TakeOrderedAndProject" in plan
    assert "partial_regr_slope" in plan
    lines = plan.splitlines()
    w = next(i for i, ln in enumerate(lines) if "Window" in ln)
    t = next(
        i for i, ln in enumerate(lines) if "TakeOrderedAndProject" in ln
    )
    assert w < t, "window must consume the bounded top-k, not feed it"
    # no global Sort below the limit (the limit IS the order producer)
    assert not any("Sort " in ln for ln in lines[t:]), lines[t:]


def _assert_one_scan_window_over_histogram(plan: str) -> None:
    """The counting-sort ECDF shape: ONE parquet scan and no
    checkpointed RDD, and the one ordered window sits above the
    length-histogram aggregate, so it sees |distinct lengths|, never
    |docs| (its whole-frame sums are the totals, so nothing reads the
    histogram twice)."""
    assert plan.count("FileScan") == 1, plan
    assert "Scan ExistingRDD" not in plan, plan
    lines = plan.splitlines()
    windows = [i for i, ln in enumerate(lines) if "Window [" in ln]
    hist = [
        i for i, ln in enumerate(lines) if "HashAggregate(keys=[n_chars" in ln
    ]
    assert len(windows) == 1, plan
    assert "windowspecdefinition(v" in lines[windows[0]], plan
    assert hist and windows[0] < min(hist), plan


def test_exact_quantiles_plan_single_scan(spark, sf001):
    """exact_quantiles histograms the bounded value domain once: one
    scan, one ordered window over the histogram (running count and
    total), one aggregate for all three quantiles, and the domain
    aggregate partially aggregates map-side."""
    plan = _plan(REGISTRY["exact_quantiles"][0](spark, sf001))
    _assert_one_scan_window_over_histogram(plan)
    assert "partial_count" in plan


def test_pmi_collocations_plan_shape(spark, sf001):
    """pmi_collocations must scan the corpus ONCE (the checkpointed
    bigram-count relation feeds all four consumers — filter side, two
    marginals, total), take its head via TakeOrderedAndProject (never
    a global sort), broadcast the 1-row total, and partially
    aggregate every marginal map-side.  No window anywhere."""
    plan = _plan(REGISTRY["pmi_collocations"][0](spark, sf001))
    assert "FileScan" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 4, plan
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            assert "partial_" in lines[i + 1], lines[i : i + 2]


def test_winnow_fingerprints_plan_single_exchange(spark, sf001):
    """winnow_fingerprints is fully doc-local: the ONE exchange in the
    whole plan is the doc_id hash partitioning feeding the window —
    the downstream distinct and per-doc rollup reuse that clustering
    (doc_id is a subset of their grouping keys), so neither re-
    shuffles.  The window must be partitioned by doc_id (never an
    unpartitioned frame) and the scan must prune to (doc_id, text)."""
    plan = _plan(REGISTRY["winnow_fingerprints"][0](spark, sf001))
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(doc_id" in plan
    assert "windowspecdefinition(doc_id" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_ks_drift_plan_single_scan(spark, sf001):
    """ks_drift histograms the bounded length domain once: one scan,
    one ordered window over the histogram (running per-side counts
    and totals), and the argmax is an aggregate over it, not a
    join back."""
    plan = _plan(REGISTRY["ks_drift"][0](spark, sf001))
    _assert_one_scan_window_over_histogram(plan)
    assert "Join" not in plan, plan


def test_winnow_near_dup_plan_shape(spark, sf001):
    """winnow_near_dup runs the corpus-side winnowing window exactly
    once (both the fingerprint relation and the df-capped kept
    relation are checkpointed, so the final plan reads materialized
    RDDs only — kept twice for the pair join sides and twice for the
    size joins) and the pair machinery is pure join/aggregate — no
    window, no single-partition exchange."""
    plan = _plan(REGISTRY["winnow_near_dup"][0](spark, sf001))
    assert "FileScan" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 4, plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan, plan


def test_good_turing_plan_two_count_shuffles(spark, sf001):
    """good_turing_mass is the r6 fan-out (pre-explode repartition of
    the single-row-group scan, carrying doc_id as the partition key)
    plus two count-only shuffles: the (lang, type) partial-aggregating
    groupBy and the per-lang count-of-counts rollup — no window, no
    single-partition exchange."""
    plan = _plan(REGISTRY["good_turing_mass"][0](spark, sf001))
    assert plan.count("FileScan") == 1, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string,lang:string>" in plan, plan
    # 3 Exchanges total: the explicit REPARTITION_BY_NUM fan-out and
    # the two count shuffles (both fed by partial aggregates)
    assert plan.count("Exchange") == 3, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan


def test_ccnet_tertiles_plan_lang_partitioned(spark, sf001):
    """ccnet_tertiles' tertile machinery runs entirely on the bounded
    checkpointed (lang, milli-nat) histogram — three materialized-RDD
    reads (cumulative window, totals, bucket assignment), never a
    parquet re-scan; the ONE window is partitioned by lang; totals
    and thresholds broadcast."""
    plan = _plan(REGISTRY["ccnet_tertiles"][0](spark, sf001))
    assert "FileScan" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 3, plan
    assert "windowspecdefinition(lang" in plan
    assert plan.count("BroadcastExchange") == 2, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_burst_detect_plan_keyed_window(spark, sf001):
    """burst_detect reduces the corpus to the (type, day) relation
    with a map-side-partial groupBy BEFORE any window; the trailing
    window is partitioned by event_type (never an unpartitioned
    frame); the scan prunes to (ts, event_type); no single-partition
    exchange anywhere."""
    plan = _plan(REGISTRY["burst_detect"][0](spark, sf001))
    assert plan.count("FileScan") == 1, plan
    assert "ReadSchema: struct<ts:timestamp_ntz,event_type:string>" in plan
    assert "windowspecdefinition(event_type" in plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "partial_count" in plan


def test_session_gap_quantiles_plan_shape(spark, sf001):
    """session_gap_quantiles runs the user-keyed lag window once (the
    (type, gap) histogram is checkpointed; the final plan reads it
    for the cumulative window and the totals), keeps the cumulative
    window partitioned by event_type, and broadcasts the per-type
    totals and the 2-row per-mille targets."""
    plan = _plan(REGISTRY["session_gap_quantiles"][0](spark, sf001))
    assert "FileScan" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "windowspecdefinition(event_type" in plan
    assert plan.count("BroadcastExchange") == 2, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_pca_power_iter_plan_bounded_algebra(spark, sf001):
    """pca_power_iter's final plan runs entirely on the checkpointed
    64-row loading relation (norm, sign election, projection — three
    materialized-RDD reads; the two corpus passes live inside the
    checkpoint's lineage and run once at materialization); no window
    anywhere; the two 1-row factors broadcast."""
    plan = _plan(REGISTRY["pca_power_iter"][0](spark, sf001))
    assert "FileScan" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 3, plan
    assert "Window" not in plan
    assert plan.count("BroadcastExchange") == 2, plan


def test_unimax_quota_plan_single_scan(spark, sf001):
    """unimax_quota reads the corpus once (the per-language token
    relation is checkpointed; the sorted water-filling algebra —
    windows, capped test, residue split — re-reads the materialized
    |languages|-row RDD), so every window frame in the plan is
    bounded by the language inventory, never the corpus."""
    plan = _plan(REGISTRY["unimax_quota"][0](spark, sf001))
    assert "FileScan" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 4, plan
    assert "SortMergeJoin" not in plan
    assert "windowspecdefinition(cap" in plan


def test_heaps_law_fit_plan_single_explode(spark, sf001):
    """heaps_law_fit (r6 shape) explodes the k-gram relation once and
    feeds ONLY the type-first-batch groupBy — grams-per-batch derives
    map-only from the normalized lengths, so the explode needs no
    checkpoint and the corpus scans without a second pass over the
    exploded rows; the fan-out repartition precedes the explode; the
    cumulative window runs over the bounded batch relation; the final
    regression's single-partition exchange is fed by a partial
    aggregate."""
    plan = _plan(REGISTRY["heaps_law_fit"][0](spark, sf001))
    assert "Scan ExistingRDD" not in plan, plan  # no checkpoint left
    assert plan.count("Generate explode") == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "windowspecdefinition(b" in plan
    assert "partial_regr_slope" in plan
    # single-partition exchanges are allowed only for (a) partial-fed
    # final aggregates and (b) the cumulative window over the bounded
    # ~32-row batch relation (identified by its Project of b/ng/nv)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            nxt = lines[i + 1]
            assert "partial_" in nxt or "coalesce(nv" in nxt, (
                lines[i : i + 2]
            )


def test_kcore_peel_plan_truncated_iterations(spark, sf001):
    """kcore_peel's final plan reads materialized round edges (the
    per-round checkpoints truncate the iteration lineage — the
    pagerank discipline), never parquet; the only window is the
    median-k cumulative sum over the bounded degree histogram; the
    node sets semi-join without a sort-merge."""
    plan = _plan(REGISTRY["kcore_peel"][0](spark, sf001))
    assert "FileScan" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 3, plan
    assert "windowspecdefinition(d" in plan
    assert "SortMergeJoin" not in plan


def test_hubness_audit_plan_shape(spark, sf001):
    """hubness_audit's k-occurrence relation is checkpointed (the
    all-pairs cosine + per-query top-k window run once; histogram and
    zero-row arithmetic read the materialized counts); the only
    parquet scan left in the final plan is the 1-row vector total."""
    plan = _plan(REGISTRY["hubness_audit"][0](spark, sf001))
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "SortMergeJoin" not in plan


def test_ece_summary_plan_single_model_pass(spark, sf001):
    """ece_summary trains and scores the NB model ONCE: the <=10-row
    bin table is checkpointed, so the final plan is pure bounded
    algebra over the materialized bins (total + ECE reduction) — no
    parquet re-scan of the model subtree (unmaterialized, the double
    consumption replayed ~20 file scans)."""
    plan = _plan(REGISTRY["ece_summary"][0](spark, sf001))
    assert "FileScan" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert plan.count("BroadcastExchange") == 1, plan


def test_confident_label_noise_plan_shape(spark, sf001):
    """confident_label_noise materializes the quantized probability
    relation (softmax window pass runs once) and the |classes|^2
    confident joint (the filter chain runs once); the final plan
    reads the joint twice with the normalizing total broadcast."""
    plan = _plan(REGISTRY["confident_label_noise"][0](spark, sf001))
    assert "FileScan" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "SortMergeJoin" not in plan


def test_bm25_scores_plan_shape(spark, sf001):
    """bm25_scores filters the token explode to the query terms
    BEFORE any aggregation (the inverted-index probe shape), keeps
    the df/corpus-stat sides broadcast, sums per doc with map-side
    partials, and takes the top-20 via TakeOrderedAndProject — no
    window, no sort-merge join anywhere."""
    plan = _plan(REGISTRY["bm25_scores"][0](spark, sf001))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_ndcg_eval_plan_bounded_windows(spark, sf001):
    """ndcg_eval's two row_number windows (system ranking + ideal
    ranking) run over the CANDIDATE relation — docs containing at
    least one query term — never the corpus; relevance comes from
    the checkpointed postings, and the final ratio rides broadcast
    1-row joins."""
    plan = _plan(REGISTRY["ndcg_eval"][0](spark, sf001))
    assert plan.count("Window") == 2, plan
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan") <= 2, plan


def test_rrf_fusion_plan_shape(spark, sf001):
    """rrf_fusion ranks two systems over the same query-term
    candidate relation, fuses with integer-division contributions in
    a partial-aggregating groupBy, and takes the fused top-10 via
    TakeOrderedAndProject — no sort-merge join."""
    plan = _plan(REGISTRY["rrf_fusion"][0](spark, sf001))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_jl_distortion_plan_sampled_pairs(spark, sf001):
    """jl_distortion_audit's projection is map-only (the literal sign
    matrix compiles into the projection expression — no join for the
    matrix); only the deterministically sampled sides reach the pair
    join (the one BroadcastNestedLoopJoin, bounded by the sampling
    rates), and the distortion rollup has no window and no
    single-partition exchange."""
    plan = _plan(REGISTRY["jl_distortion_audit"][0](spark, sf001))
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "SortMergeJoin" not in plan


def test_hhi_concentration_plan_two_aggs(spark, sf001):
    """hhi_concentration is two count-only partial-aggregating
    groupBys — (lang, source) cells then the per-lang rollup — with
    no join, window, or single-partition exchange at all; the scan
    prunes to the two key columns."""
    plan = _plan(REGISTRY["hhi_concentration"][0](spark, sf001))
    assert plan.count("FileScan") == 1, plan
    assert "ReadSchema: struct<lang:string,source:string>" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "partial_count" in plan


def test_benford_audit_plan_shape(spark, sf001):
    """benford_audit is one filtered scan into a 9-key partial
    groupBy; the total rides a 1-row broadcast; the filter (value >
    0) is pushed to the parquet scan."""
    plan = _plan(REGISTRY["benford_audit"][0](spark, sf001))
    assert "PushedFilters: [IsNotNull(value), GreaterThan(value,0.0)]" \
        in plan, plan
    assert "Window" not in plan
    assert "partial_count" in plan
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            assert "partial_" in lines[i + 1], lines[i : i + 2]
