"""Composed curation pipeline: extract → quality gate → near-dup
canonicalize. Injected duplicates must collapse to one canonical,
rejects must carry the first-failing reason, and the outputs must
partition the input urls exactly (step_6 consistency discipline)."""

from __future__ import annotations

import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from clara_ocr_spark.curate import (
    REASON_DUPLICATE,
    REASON_TOO_SHORT,
    REASON_TOP_WORD,
    CurateConfig,
    curate,
    near_dup_canonical,
    text_features,
)
from clara_ocr_spark.pipeline import extract
from clara_ocr_spark.sources.corpus import PAGES_SCHEMA, gen_page


def _mk_pages(spark, rows):
    return spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=PAGES_SCHEMA).to_pandas()
    )


@pytest.fixture(scope="module")
def curated_rejected(spark):
    rows = [gen_page(i, seed=51) for i in range(60)]
    # exact duplicates: same html under three different urls
    for k, src in enumerate((3, 3, 7)):
        dup = dict(rows[src])
        dup["url"] = f"https://dupes.example/copy/{k}"
        rows.append(dup)
    # degenerate repetitive page (top-word + short cases)
    base = dict(rows[0])
    base["url"] = "https://bad.example/repeat"
    base["html"] = (
        b"<html><body><main><p>"
        + b"spam spam spam spam spam spam spam spam spam spam"
        + b"</p></main></body></html>"
    )
    rows.append(base)
    short = dict(rows[0])
    short["url"] = "https://bad.example/short"
    short["html"] = b"<html><body><main><p>tiny little page</p></main></body></html>"
    rows.append(short)
    pages = _mk_pages(spark, rows)
    curated, rejected = curate(extract(pages))
    return rows, curated.collect(), rejected.collect()


def test_outputs_partition_input(curated_rejected):
    rows, curated, rejected = curated_rejected
    got = {r["url"] for r in curated} | {r["url"] for r in rejected}
    assert got == {r["url"] for r in rows}
    assert len(curated) + len(rejected) == len(rows)


def test_duplicates_collapse_to_one_canonical(curated_rejected):
    rows, curated, rejected = curated_rejected
    reasons = {r["url"]: r["reason"] for r in rejected}
    # rows[3] was duplicated twice, rows[7] once: each family keeps
    # exactly one representative (the lexicographic-min url — the
    # dupes.example copies sort before host*.example)
    fam3 = {rows[3]["url"], "https://dupes.example/copy/0", "https://dupes.example/copy/1"}
    fam7 = {rows[7]["url"], "https://dupes.example/copy/2"}
    for fam in (fam3, fam7):
        kept = fam & {r["url"] for r in curated}
        assert kept == {min(fam)}, fam
        for u in fam - kept:
            assert reasons[u] == REASON_DUPLICATE


def test_quality_reasons(curated_rejected):
    _, _, rejected = curated_rejected
    reasons = {r["url"]: r["reason"] for r in rejected}
    assert reasons["https://bad.example/repeat"] == REASON_TOP_WORD
    assert reasons["https://bad.example/short"] == REASON_TOO_SHORT


def test_decontaminate_rejects_eval_overlap(spark):
    """With eval_texts, a quality-passing doc sharing a 5-gram with
    the eval set is rejected as contaminated (before dedup — it can't
    become a canonical), the outputs still partition the input, and
    with no eval set the behavior is unchanged."""
    from clara_ocr_spark.curate import REASON_CONTAMINATED

    rows = [gen_page(i, seed=53) for i in range(20)]
    leak = dict(rows[0])
    leak["url"] = "https://leak.example/p"
    leak["html"] = (
        b"<html><body><main><p>benchmark answer alpha beta gamma delta"
        b" epsilon plus plenty of original trailing words to pass the"
        b" quality gate easily</p></main></body></html>"
    )
    rows.append(leak)
    pages = _mk_pages(spark, rows)
    eval_texts = spark.createDataFrame(
        [("the held out benchmark answer alpha beta gamma delta epsilon",)],
        "text string",
    )
    curated, rejected = curate(extract(pages), eval_texts=eval_texts)
    cur, rej = curated.collect(), rejected.collect()
    assert {r["url"] for r in cur} | {r["url"] for r in rej} == {
        r["url"] for r in rows
    }
    reasons = {r["url"]: r["reason"] for r in rej}
    assert reasons["https://leak.example/p"] == REASON_CONTAMINATED
    # clean docs unaffected: same curated set as the no-eval run,
    # minus the leaked doc
    cur0, _ = curate(extract(pages))
    assert {r["url"] for r in cur0.collect()} - {
        "https://leak.example/p"
    } == {r["url"] for r in cur}


def test_features_are_row_local(spark):
    """text_features adds no shuffle: plan has zero Exchange."""
    df = spark.createDataFrame(
        [("u1", "a a b"), ("u2", "")], "url string, text string"
    )
    plan = (
        text_features(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    rows = {r["url"]: r for r in text_features(df).collect()}
    assert rows["u1"]["n_tokens"] == 3
    assert rows["u1"]["top_word_frac"] == pytest.approx(2 / 3)
    assert rows["u2"]["n_tokens"] == 0


def test_near_dup_canonical_deterministic(spark):
    docs = spark.createDataFrame(
        [
            ("u/b", "the quick brown fox jumps over the lazy dog"),
            ("u/a", "the quick brown fox jumps over the lazy dog"),
            ("u/c", "completely different content about spark pipelines"),
        ],
        "url string, text string",
    )
    got = {
        r["url"]: r["canonical_url"]
        for r in near_dup_canonical(docs, 0.9).collect()
    }
    assert got == {"u/a": "u/a", "u/b": "u/a"}


def test_two_tier_dedup_composes(spark):
    """Exact copies collapse in tier 1; their representatives link in
    tier 2; the final canonical is the min url across the WHOLE
    family (exact ∘ near composition)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "lambda")
    docs = [
        ("u/03-exact-copy", base),
        ("u/01-canonical", base),
        ("u/04-near", near),
        ("u/02-near-exact-copy", near),
        ("u/05-other", "totally unrelated text about something else entirely"),
    ]
    df = spark.createDataFrame(
        [(u, "2024-01-01", t) for u, t in docs],
        "url string, ts string, text string",
    ).select("url", "text")
    curated, rejected = curate(df, CurateConfig(jaccard_tau=0.8))
    kept = {r["url"] for r in curated.collect()}
    reasons = {r["url"]: r["reason"] for r in rejected.collect()}
    assert kept == {"u/01-canonical", "u/05-other"}
    assert set(reasons) == {"u/02-near-exact-copy", "u/03-exact-copy", "u/04-near"}
    assert set(reasons.values()) == {REASON_DUPLICATE}


def test_curate_partitioning_invariance(spark):
    """The composed pipeline's outputs (including which member of a
    duplicate family is elected canonical) are identical at any
    partition count — all orderings are strict total orders."""
    rows = [gen_page(i, seed=91) for i in range(40)]
    for k in (2, 9):
        dup = dict(rows[k])
        dup["url"] = f"https://dupes.example/{k}"
        rows.append(dup)
    df = _mk_pages(spark, rows)
    outs = []
    for parts in (1, 13):
        ex = extract(df.repartition(parts))
        curated, rejected = curate(ex)
        outs.append(
            (
                {(r["url"], r["text"]) for r in curated.collect()},
                {(r["url"], r["reason"]) for r in rejected.collect()},
            )
        )
    assert outs[0] == outs[1]


def test_config_overrides():
    cfg = CurateConfig.from_args(["min_tokens=9", "jaccard_tau=0.5"])
    assert cfg.min_tokens == 9 and cfg.jaccard_tau == 0.5
    with pytest.raises(ValueError):
        CurateConfig.from_args(["nope=1"])


def test_drop_frequent_lines(spark):
    """Corpus-frequent 8-token lines are dropped case-insensitively,
    surviving text keeps its original casing, boilerplate-only docs
    come back empty, and unique docs pass through (whitespace
    normalized)."""
    from clara_ocr_spark.curate import drop_frequent_lines

    boiler = "cookie notice accept all terms and conditions here"
    docs = spark.createDataFrame(
        [
            ("u1", boiler + " alpha beta Gamma one two three four five"),
            ("u2", boiler.upper() + " six seven eight nine ten eleven"),
            ("u3", boiler),
            ("u4", "totally unique text with eight tokens here yes"),
        ],
        "url string, text string",
    )
    out = {r["url"]: r["text"] for r in drop_frequent_lines(docs, 3).collect()}
    assert out["u1"] == "alpha beta Gamma one two three four five"
    assert out["u2"] == "six seven eight nine ten eleven"
    assert out["u3"] == ""
    assert out["u4"] == "totally unique text with eight tokens here yes"
    # below the df threshold nothing is dropped
    out4 = {r["url"]: r["text"] for r in drop_frequent_lines(docs, 4).collect()}
    assert out4["u3"] == boiler


def test_drop_frequent_lines_per_host(spark):
    """per_host=True: a line is boilerplate only on hosts where IT
    repeats — host A's template line dies on A but the single use on
    host B survives, even though the corpus-wide df clears min_df."""
    from clara_ocr_spark.curate import drop_frequent_lines

    tmpl = "all rights reserved by this site owner today"
    docs = spark.createDataFrame(
        [
            ("https://a.example/1", tmpl + " alpha beta gamma delta five six seven one"),
            ("https://a.example/2", tmpl + " six seven eight nine ten eleven twelve two"),
            ("https://a.example/3", tmpl),
            ("https://b.example/1", tmpl + " unique content on host b stays intact ok"),
        ],
        "url string, text string",
    )
    out = {
        r["url"]: r["text"]
        for r in drop_frequent_lines(docs, 3, per_host=True).collect()
    }
    assert out["https://a.example/3"] == ""  # template on its host
    assert out["https://b.example/1"].startswith(tmpl)  # survives on b
    # corpus-global at the same threshold would kill it on b too
    g = {r["url"]: r["text"] for r in drop_frequent_lines(docs, 3).collect()}
    assert not g["https://b.example/1"].startswith(tmpl)


def test_line_dedup_gate_in_curate(spark):
    """With line_dedup_min_df set, curate strips boilerplate before
    the quality gate: a boilerplate-only doc falls out as too_short,
    the others are curated with the line removed, and the outputs
    still partition the input exactly."""
    boiler = "cookie notice accept all terms and conditions here"
    extracted = spark.createDataFrame(
        [
            ("u1", boiler + " alpha beta gamma one two three four five"),
            ("u2", boiler + " six seven eight nine ten eleven twelve more"),
            ("u3", boiler),
        ],
        "url string, text string",
    )
    cfg = CurateConfig.from_args(["line_dedup_min_df=3"])
    curated, rejected = curate(extracted, cfg)
    cur = {r["url"]: r["text"] for r in curated.collect()}
    rej = {r["url"]: r["reason"] for r in rejected.collect()}
    assert set(cur) | set(rej) == {"u1", "u2", "u3"}
    assert rej["u3"] == REASON_TOO_SHORT
    assert cur["u1"] == "alpha beta gamma one two three four five"
    assert boiler not in cur["u2"]
    # off by default: the same input keeps its boilerplate
    cur0, _ = curate(extracted)
    assert boiler in {r["text"] for r in cur0.collect()
                      if r["url"] == "u1"}.pop()


def test_assign_split_content_pure_and_balanced(spark):
    """split must be a pure function of text (same text under any url
    or row order → same split) and roughly 80/10/10 over many docs."""
    from clara_ocr_spark.curate import assign_split

    docs = spark.range(500).select(
        F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"),
                 F.lit("/p"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("document body "), F.col("id").cast("string")).alias(
            "text"),
        F.lit(3).alias("n_tokens"),
    )
    out = assign_split(docs)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] + counts["test"]
    # purity: identical text under a different url gets the same split
    twin = docs.withColumn("url", F.concat(F.lit("x://other/"), F.col("url")))
    j = (assign_split(twin).select("text", F.col("split").alias("s2"))
         .join(out.select("text", "split"), "text"))
    assert j.filter(F.col("split") != F.col("s2")).count() == 0


def test_domain_mixture_integer_shares(spark):
    """Mixture weights: exact integer per-mille, head domain
    downweighted relative to proportional (boost < 1000), tail domain
    upweighted (boost > 1000)."""
    from clara_ocr_spark.curate import domain_mixture

    rows = (
        [{"url": f"https://head.example/p{i}", "text": "t", "n_tokens": 1}
         for i in range(90)]
        + [{"url": f"https://tail.example/p{i}", "text": "t", "n_tokens": 1}
           for i in range(10)]
    )
    out = {r["host"]: r.asDict() for r in
           domain_mixture(spark.createDataFrame(rows)).collect()}
    assert out["head.example"]["n_docs"] == 90
    assert out["head.example"]["boost_pm"] < 1000 < out["tail.example"]["boost_pm"]
    assert sum(v["share_pm"] for v in out.values()) <= 1000


def test_lm_gate_rejects_ood_doc(spark):
    """With lm_nll_max set and an explicit reference corpus, a doc
    whose bigrams the reference LM has never seen is rejected as
    lm_perplexity; in-distribution docs pass; the outputs still
    partition the input; and heuristic reasons keep winning when both
    apply (too_short outranks the LM rule)."""
    from clara_ocr_spark.curate import REASON_LM

    ref = spark.createDataFrame(
        [(f"the quick brown fox jumps over the lazy dog number {i}",)
         for i in range(8)],
        "text string",
    )
    extracted = spark.createDataFrame(
        [
            ("u1", "the quick brown fox jumps over the lazy dog number 3"),
            ("u2", "the quick brown fox jumps over the lazy dog again"),
            ("u3", "zxq wvv qqj xkz pzw lmf vrr tkk jjq zzx"),
            ("u4", "zxq wvv"),
        ],
        "url string, text string",
    )
    # unseen-prev/unseen-bigram NLL ≈ ln(V) ≈ 2.9 at this vocab size;
    # seen bigrams score ≈ 0.2 — 2.0 separates them
    cfg = CurateConfig.from_args(["lm_nll_max=2.0", "min_tokens=5"])
    curated, rejected = curate(extracted, cfg, lm_ref=ref)
    cur = {r["url"] for r in curated.collect()}
    rej = {r["url"]: r["reason"] for r in rejected.collect()}
    assert cur | set(rej) == {"u1", "u2", "u3", "u4"}
    assert "u1" in cur and "u2" in cur
    assert rej["u3"] == REASON_LM
    assert rej["u4"] == REASON_TOO_SHORT  # heuristics outrank the LM
    # off by default: the gibberish doc passes without the gate
    cur0, _ = curate(extracted)
    assert "u3" in {r["url"] for r in cur0.collect()}


def test_lm_gate_self_slice_ref(spark):
    """Without lm_ref the LM trains on the content-hash %5 self-slice:
    the gate still partitions the input, and with a generous bound
    nothing is LM-rejected (the corpus scores near its own model)."""
    from clara_ocr_spark.curate import REASON_LM

    extracted = spark.createDataFrame(
        [(f"u{i}",
          f"shared vocabulary document number {i} with common words "
          f"appearing across every doc in this corpus")
         for i in range(40)],
        "url string, text string",
    )
    cfg = CurateConfig.from_args(["lm_nll_max=50.0"])
    curated, rejected = curate(extracted, cfg)
    rej = {r["url"]: r["reason"] for r in rejected.collect()}
    assert not [u for u, why in rej.items() if why == REASON_LM]
    assert ({r["url"] for r in curated.collect()} | set(rej)
            == {f"u{i}" for i in range(40)})


def test_dsir_weights_rank_target_like_docs(spark):
    """dsir_weights: a curated doc sharing the target's vocabulary
    must outscore one with disjoint vocabulary; every curated url gets
    a row (token-less docs score NULL)."""
    from clara_ocr_spark.curate import dsir_weights

    target = spark.createDataFrame(
        [("medical clinical trial patient dosage outcome",)] * 5,
        "text string",
    )
    curated = spark.createDataFrame(
        [
            ("m1", "clinical patient dosage measured outcome trial"),
            ("w1", "football striker scored twice last night match"),
            ("e1", ""),
        ],
        "url string, text string",
    )
    out = {r["url"]: r["logw"] for r in
           dsir_weights(curated, target).collect()}
    assert set(out) == {"m1", "w1", "e1"}
    assert out["e1"] is None
    assert out["m1"] > out["w1"]


def test_per_host_switch_requires_min_df():
    """line_dedup_per_host without min_df would silently disable line
    dedup — the config fails loud instead (review finding)."""
    with pytest.raises(ValueError, match="line_dedup_min_df"):
        CurateConfig.from_args(["line_dedup_per_host=1"])


def test_fuzzy_contaminated_urls(spark):
    """The fuzzy probe flags exact AND near matches of an eval text
    (token dropped / substituted — the paste-mutation the exact
    5-gram probe can miss entirely), never unrelated or empty docs,
    respects tau, and plans as a broadcast probe: the corpus side
    reaches the Jaccard verify without any shuffle, the single
    Exchange is the per-url max."""
    from clara_ocr_spark.curate import fuzzy_contaminated_urls

    ev = "the held out benchmark answer alpha beta gamma delta epsilon"
    toks = ev.split()
    docs = spark.createDataFrame(
        [
            ("u_exact", ev),
            ("u_drop", " ".join(toks[:-1])),
            ("u_subst", " ".join(toks[:4] + ["zeta"] + toks[5:])),
            ("u_other", "completely unrelated prose about gardening"),
            ("u_empty", ""),
        ],
        "url string, text string",
    )
    eval_texts = spark.createDataFrame([(ev,)], "text string")
    out = fuzzy_contaminated_urls(docs, eval_texts, tau=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    got = {r["url"]: r["jaccard"] for r in out.collect()}
    assert got["u_exact"] == 1.0
    assert round(got["u_drop"], 3) == round(9 / 10, 3)
    assert round(got["u_subst"], 3) == round(9 / 11, 3)
    assert "u_other" not in got and "u_empty" not in got
    # tau gates: at tau just above the substitution's Jaccard the
    # substituted doc drops out, the exact match stays
    tight = {
        r["url"]
        for r in fuzzy_contaminated_urls(
            docs, eval_texts, tau=0.9
        ).collect()
    }
    assert tight == {"u_exact", "u_drop"}


def test_curate_fuzzy_tau_catches_what_exact_misses(spark):
    """A benchmark text pasted with every 5th token mutated shares NO
    word-5-gram with the eval set (every 5-gram window contains a
    mutation), so the exact probe passes it — with fuzzy_tau the
    near-match is rejected as contaminated, and without fuzzy_tau the
    behavior is unchanged (opt-in)."""
    from clara_ocr_spark.curate import REASON_CONTAMINATED, curate

    ev = (
        "question seven what is the boiling point of water at sea "
        "level answer one hundred degrees celsius under standard "
        "pressure"
    )
    toks = ev.split()
    mut = list(toks)
    for i in range(0, len(mut), 5):
        mut[i] = "x%d" % i
    rows = [
        ("https://leak.example/fuzzy", " ".join(mut)),
        (
            "https://clean.example/p",
            "a perfectly ordinary page about gardening tools with "
            "enough distinct words to pass every quality rule",
        ),
    ]
    extracted = spark.createDataFrame(rows, "url string, text string")
    eval_texts = spark.createDataFrame([(ev,)], "text string")

    # exact-only: the mutated paste sails through
    _, rej = curate(extracted, eval_texts=eval_texts)
    assert not [
        r for r in rej.collect() if r["reason"] == REASON_CONTAMINATED
    ]
    # fuzzy tier on: rejected as contaminated, clean doc untouched
    cur, rej = curate(
        extracted, eval_texts=eval_texts, fuzzy_tau=0.5
    )
    reasons = {r["url"]: r["reason"] for r in rej.collect()}
    assert reasons == {
        "https://leak.example/fuzzy": REASON_CONTAMINATED
    }
    assert {r["url"] for r in cur.collect()} == {
        "https://clean.example/p"
    }


def _health(df) -> dict:
    from clara_ocr_spark.curate import corpus_health

    return {r["metric"]: r["value"] for r in corpus_health(df).collect()}


def test_corpus_health_report(spark):
    """The corpus-health sidecar emits the full metric set, every value
    pinned on three inputs.  On the fixture the counters and length
    quantiles also match a direct computation, and the report is
    deterministic (two calls collect identically).  Degenerate docs
    (empty and blank text, single tokens, texts shorter than the Heaps
    k-gram width, plus one doc just over it) leave the Heaps fit one
    batch to fit, so only it is NULL.  An EMPTY table reports
    n_docs = 0, NULL for every sum and fit, a zero KS distance and NO
    length-quantile rows (not NULL ones)."""
    from clara_ocr_spark.functions.textsig import WIN_K

    schema = "url string, text string"
    rows = []
    for i in range(120):
        body = " ".join(
            ["alpha beta gamma delta epsilon"[: 5 + (i % 20)]]
            + [f"w{j % 37}" for j in range(10 + i % 50)]
        )
        rows.append((f"https://h{i % 7}.example/p{i}", body))
    df = spark.createDataFrame(rows, schema)

    got = _health(df)
    assert got == {
        "n_docs": 120.0, "n_tokens": 4194.0,
        "zipf_slope": -0.988, "zipf_r2": 0.518,
        "heaps_beta": 0.23, "heaps_r2": 0.924,
        "gt_p0_pm": 0.0, "gt_chao1": 68.0,
        "len_p50": 125.0, "len_p90": 205.0, "len_p99": 235.0,
        "ks_parity_d_pm": 138.0,
    }
    assert got["n_tokens"] == sum(len(t.split()) for _, t in rows)

    lens = sorted(len(t) for _, t in rows)

    def q(pm):
        # min value whose cumulative count reaches ceil(pm*N/1000)
        return lens[(pm * len(lens) + 999) // 1000 - 1]

    assert got["len_p50"] == q(500)
    assert got["len_p90"] == q(900)
    assert got["len_p99"] == q(990)

    assert _health(df) == got

    degenerate = [
        ("https://d.example/empty", ""),
        ("https://d.example/blank", "   "),
        ("https://d.example/one-a", "alpha"),
        ("https://d.example/one-b", "alpha"),
        ("https://d.example/one-c", "omega"),
        ("https://d.example/short-a", "ab cd"),
        ("https://d.example/short-b", "x y z"),
        ("https://d.example/win", "abc defg hij"),
    ]
    assert all(len(t.strip()) < WIN_K for _, t in degenerate[:-1])
    assert _health(spark.createDataFrame(degenerate, schema)) == {
        "n_docs": 8.0, "n_tokens": 11.0,
        "zipf_slope": -0.216, "zipf_r2": 0.524,
        "heaps_beta": None, "heaps_r2": None,
        "gt_p0_pm": 1000.0, "gt_chao1": 15.0,
        "len_p50": 5.0, "len_p90": 12.0, "len_p99": 12.0,
        "ks_parity_d_pm": 500.0,
    }
    assert _health(spark.createDataFrame([], schema)) == {
        "n_docs": 0.0, "n_tokens": None,
        "zipf_slope": None, "zipf_r2": None,
        "heaps_beta": None, "heaps_r2": None,
        "gt_p0_pm": None, "gt_chao1": None,
        "ks_parity_d_pm": 0.0,
    }


def test_curation_decides_once(spark, tmp_path):
    """Curated and rejected are filters of ONE persisted decision: once
    the curated write has run, the rejected write reads the cache in a
    single Spark job instead of re-running exact dedup and its joins.
    The input-count observation still fills and the two outputs still
    partition it.  The corpus-health report is one plan with no
    checkpoint underneath (a checkpoint shows up as a LogicalRDD)."""
    from pyspark.sql import Observation

    from clara_ocr_spark.curate import corpus_health

    rows = [gen_page(i, seed=61) for i in range(30)]
    for k, src in enumerate((2, 2, 5)):
        dup = dict(rows[src])
        dup["url"] = f"https://dupes.example/copy/{k}"
        rows.append(dup)
    obs = Observation()
    curated, rejected = curate(extract(_mk_pages(spark, rows)), gate_obs=obs)
    curated.write.parquet(str(tmp_path / "cur"))

    sc = spark.sparkContext
    sc.setJobGroup("rejected-write", "rejected write after curated")
    try:
        rejected.write.parquet(str(tmp_path / "rej"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("rejected-write")) <= 1

    n_cur = spark.read.parquet(str(tmp_path / "cur")).count()
    rej = spark.read.parquet(str(tmp_path / "rej")).collect()
    assert obs.get["n_in"] == len(rows) == n_cur + len(rej)
    assert {r["reason"] for r in rej} == {REASON_DUPLICATE}

    health = corpus_health(spark.read.parquet(str(tmp_path / "cur")))
    plan = health._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan


def test_winnow_dedup_tier_catches_embedded_run(spark):
    """A page embedded VERBATIM inside a much larger page has low
    token-set Jaccard (the extra text dilutes it below tau) but full
    winnowing containment.  Default curation must keep both docs;
    with --set winnow_dedup_pm=500 they collapse to one canonical,
    the partition invariant still holds, and an unrelated doc is
    untouched.  Also pins the pair primitive directly: containment
    of the embedded page is ~1000 per-mille while its Jaccard is far
    below the 0.9 tier tau."""
    from clara_ocr_spark.curate import (
        CurateConfig, curate, winnow_dup_pairs,
    )

    core = " ".join(f"shared{i:02d} run{i:02d}" for i in range(30))
    extra = " ".join(f"filler{i:03d} pad{i:03d}" for i in range(120))
    rows = [
        ("https://a.example/embedded", core),
        ("https://b.example/container", core + " " + extra),
        ("https://c.example/unrelated",
         " ".join(f"other{i:03d}" for i in range(60))),
    ]
    df = spark.createDataFrame(rows, "url string, text string")

    pairs = winnow_dup_pairs(df, 500).collect()
    assert {(r["i_id"], r["j_id"]) for r in pairs} == {
        ("https://a.example/embedded", "https://b.example/container")
    }
    # token Jaccard is diluted far below the minhash tier's tau
    a_toks = set(rows[0][1].split())
    b_toks = set(rows[1][1].split())
    assert len(a_toks & b_toks) / len(a_toks | b_toks) < 0.5

    cur_off, rej_off = curate(df, CurateConfig())
    assert cur_off.count() == 3 and rej_off.count() == 0

    cur_on, rej_on = curate(df, CurateConfig(winnow_dedup_pm=500))
    kept = {r["url"] for r in cur_on.collect()}
    rej = {r["url"]: r["reason"] for r in rej_on.collect()}
    assert kept == {
        "https://a.example/embedded",  # lexicographic-min canonical
        "https://c.example/unrelated",
    }
    assert rej == {"https://b.example/container": "duplicate"}
