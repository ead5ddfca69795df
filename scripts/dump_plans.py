#!/usr/bin/env python
"""Regenerate PLANS.md: .explain("formatted") operator-tree digests
for the scale-critical queries. Run from the repo root:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from clara_ocr_spark.pipeline import extract, read_pages  # noqa: E402
from clara_ocr_spark.queries import REGISTRY  # noqa: E402
from clara_ocr_spark.session import build_session  # noqa: E402
from tests.conftest import LAUNCH  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
CORPUS = os.path.join(ROOT, ".data", "pages_300.parquet")

HEADER = """# PLANS — physical plan digests for the scale-critical queries

Auto-generated (`scripts/dump_plans.py`) from `.explain("formatted")`
at sf0.01. What to look for is noted per plan; the same shapes are
pinned as assertions in tests/test_calibrate_and_plans.py.
"""


def main() -> None:
    # the tests' launch settings: these are the plans the tests pin
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", LAUNCH)
    spark = build_session("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    def digest(df, keep: int = 40) -> str:
        s = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        tree = s.split("\n\n")[0]
        return "\n".join(line.rstrip() for line in tree.splitlines()[:keep])

    out = [HEADER]

    def add(title: str, df, notes: str) -> None:
        out.append(f"## {title}\n\n{notes}\n\n```\n{digest(df)}\n```\n")

    from clara_ocr_spark.sources.corpus import ensure_corpus

    pages = read_pages(spark, ensure_corpus(CORPUS, n=300))
    add(
        "extraction pipeline (extract)",
        extract(pages),
        "ONE Exchange total (the url-keyed assemble agg); the only Python\n"
        "stage is the ArrowEvalPython/MapInPandas parse; html is pruned\n"
        "before any shuffle.",
    )
    add(
        "revenue_by_nation (TPC-H Q5 shape)",
        REGISTRY["revenue_by_nation"][0](spark, SF),
        "Dims broadcast (BroadcastHashJoin), region filter pushed to the\n"
        "scan (PushedFilters EqualTo(r_name,ASIA)), one Exchange for the agg.",
    )
    add(
        "near_dup_cosine (LSH-blocked embedding dedup)",
        REGISTRY["near_dup_cosine"][0](spark, SF),
        "Two EQUI hash joins for the two LSH bands (never an OR nested\n"
        "loop); pair dedup carries only ids; vectors re-attach by\n"
        "broadcast; explicit round-robin repartition before the dot stage.",
    )
    add(
        "salted_user_stats (skew-mitigated agg)",
        REGISTRY["salted_user_stats"][0](spark, SF),
        "Two-phase aggregate over the salted key then the real key —\n"
        "hot Zipf keys spread across partitions.",
    )
    add(
        "dedup_canonicalize (composed minhash pipeline)",
        REGISTRY["dedup_canonicalize"][0](spark, SF),
        "Band-bucket equi-join candidates, Jaccard verify, then the\n"
        "label-propagation loop (materialized via localCheckpoint, shown\n"
        "here as its final-join shape).",
    )
    from pyspark.sql import Observation

    from clara_ocr_spark.sources.pdfgen import ensure_pdf_corpus

    pdfs = spark.read.parquet(
        ensure_pdf_corpus(os.path.join(ROOT, ".data", "pdfs_300.parquet"), n=300)
    )
    add(
        "PDF extraction (extract(gate=…) over PDF payloads)",
        extract(pdfs, gate=Observation()),
        "The extraction job's composition; the plan does not depend on\n"
        "the payload mix. ONE MapInPandas routes HTML and PDF payloads by\n"
        "magic bytes, sending each %PDF- payload to the per-page geometry\n"
        "(column split, line grouping, word joining) that emits one block\n"
        "per line; ONE Exchange (the url-keyed assembly), the step_6 gate\n"
        "as CollectMetrics; no Union, no Window. The binary payload and\n"
        "the runs never leave the Python stage.",
    )
    add(
        "ivf_topk (ANN scale path)",
        REGISTRY["ivf_topk"][0](spark, SF),
        "Nearest-centroid assignment is a broadcast higher-order argmax\n"
        "(map-only; vectors never shuffled); probe is a broadcast join on\n"
        "cell; the single real Exchange is the per-query top-k, with\n"
        "map-side WindowGroupLimit pre-pruning.",
    )
    add(
        "decontaminate (eval-overlap probe)",
        REGISTRY["decontaminate"][0](spark, SF),
        "Computes through curate.contaminated_urls.  The eval shingle set\n"
        "(hashed, distinct) broadcasts; the corpus probe is a\n"
        "BroadcastHashJoin map-side and the per-doc distinct reuses the\n"
        "doc_id fan-out partitioning (no Exchange of its own); the hit ids\n"
        "broadcast back onto the train side's n_shingles projection.  The\n"
        "train side is read and 5-gram-hashed twice (n_shingles, probe);\n"
        "the corpus-sized exploded side never shuffles.",
    )
    add(
        "kmeans_refine (Lloyd round, final shape)",
        REGISTRY["kmeans_refine"][0](spark, SF),
        "Assignment is a broadcast higher-order argmax (map-only; the\n"
        "earlier round is materialized via localCheckpoint, so this shows\n"
        "the steady-state per-round cost): ONE Exchange — the per-cell\n"
        "centroid/stats rebuild.",
    )
    add(
        "tfidf_top_terms (vocabulary equi-join)",
        REGISTRY["tfidf_top_terms"][0](spark, SF),
        "Term counts and document frequencies both partially aggregate;\n"
        "the tf-by-df join carries only the vocabulary-sized relation\n"
        "(AQE broadcasts it when it fits); the top-k window prunes\n"
        "map-side via WindowGroupLimit.",
    )
    add(
        "funnel_conversion (single-aggregate funnel)",
        REGISTRY["funnel_conversion"][0](spark, SF),
        "One user-keyed aggregate with conditional mins (full map-side\n"
        "partials), then a scalar reduce — no self-joins, no windows.",
    )
    add(
        "spell_correct (SymSpell delete-1 dictionary probe)",
        REGISTRY["spell_correct"][0](spark, SF),
        "Candidates come from an EQUI hash join on the delete-1 variant\n"
        "key (never an all-pairs levenshtein nested loop); the exact\n"
        "levenshtein verify runs only on collided candidates; vocabulary\n"
        "and typo sides both partially aggregate before exploding.",
    )
    add(
        "semdedup_cells (within-cell embedding dedup)",
        REGISTRY["semdedup_cells"][0](spark, SF),
        "Centroid assignment is the same broadcast argmax as ivf_topk\n"
        "(map-only, materialized once via localCheckpoint); candidate\n"
        "generation joins bare (cell, id) pairs — N²/K candidates, no\n"
        "vectors in the shuffle — then an explicit round-robin\n"
        "repartition fans the dot stage out before vectors re-attach by\n"
        "broadcast; the per-cell audit aggregates combine map-side.",
    )
    add(
        "robots_filter (RFC 9309 politeness gate)",
        REGISTRY["robots_filter"][0](spark, SF),
        "Computes through stages/robots.robots_gate over a rules ledger\n"
        "inlined from literals, so the planner sizes it as tiny: both\n"
        "joins (the RFC group election, then the host-keyed url x rule\n"
        "join with the anchored rlike inside the condition) BROADCAST the\n"
        "ledger side, and the url side first shuffles for the per-url\n"
        "max.  Precedence is one integer max() per url — longest\n"
        "pattern wins, allow breaks ties via score parity — then the\n"
        "(host, verdict) count.",
    )
    add(
        "frontier_waves (per-host politeness schedule)",
        REGISTRY["frontier_waves"][0](spark, SF),
        "The wave<=32 rank filter becomes a PARTIAL WindowGroupLimit\n"
        "BELOW the host exchange: each map task ships at most 32 rows per\n"
        "host, so the schedule costs O(hosts*32), not O(urls).",
    )
    add(
        "domain_mix_weights (temperature resampling table)",
        REGISTRY["domain_mix_weights"][0](spark, SF),
        "ONE parquet scan (the per-domain relation is localCheckpointed\n"
        "and feeds both the totals aggregate and the final projection);\n"
        "totals return as a 1-row IdentityBroadcast cross join, never a\n"
        "window over the unpartitioned domain frame.",
    )
    add(
        "cdx_index (SURT-keyed capture index)",
        REGISTRY["cdx_index"][0](spark, SF),
        "Pure JVM string/array algebra (regexp_replace → split →\n"
        "reverse → array_join) feeding ONE aggregate exchange on the\n"
        "SURT host key; at 100 TB the write side adds\n"
        "repartitionByRange(surt) + sortWithinPartitions(ts) for the\n"
        "binary-searchable archive layout.",
    )
    add(
        "boiler_scope_audit (per-host vs global boilerplate)",
        REGISTRY["boiler_scope_audit"][0](spark, SF),
        "Both frequency aggregates and both probe joins key on the\n"
        "60-bit line hash (+ short source key) — line text never\n"
        "shuffles; (source, hash) is spread by line diversity, so the\n"
        "Zipf source skew needs no salt.",
    )
    add(
        "ngram_lm_score (trained bigram-LM gate)",
        REGISTRY["ngram_lm_score"][0](spark, SF),
        "Model training = two map-side-partial aggregates (unigram +\n"
        "bigram counts, one row per distinct n-gram per partition);\n"
        "scoring joins eval bigrams to the model by EQUI (w1, w2) —\n"
        "kept a shuffle join because the un-pruned model scales with\n"
        "the corpus (KenLM-style pruning would re-enable broadcast);\n"
        "vocab size is a 1-row broadcast; bigrams built by a JVM SQL\n"
        "lambda, zero Python.",
    )
    add(
        "dsir_importance (hashed-ngram importance weights)",
        REGISTRY["dsir_importance"][0](spark, SF),
        "The O(1)-model pattern: both distributions aggregate to\n"
        "exactly 4096 rows regardless of corpus size, the log-ratio\n"
        "table is BROADCAST, so scoring is a map-side join plus one\n"
        "doc-keyed reduction — no shuffle grows with the vocabulary\n"
        "(contrast the trained-LM plan above).",
    )
    add(
        "host_mirror_jaccard (mirror-site detection)",
        REGISTRY["host_mirror_jaccard"][0](spark, SF),
        "Host pairs come from a fingerprint-keyed EQUI self-join\n"
        "(never all-pairs over hosts) with the df <= 8 stoplist\n"
        "applied BEFORE the join (the hot-fingerprint skew guard);\n"
        "union sizes re-attach via two host-keyed joins\n"
        "(inclusion-exclusion), no second pass over content.",
    )
    add(
        "sitemap_coverage (sitemap-vs-crawl audit)",
        REGISTRY["sitemap_coverage"][0](spark, SF),
        "ONE full-outer equi-join on the ~unique url key (both sides\n"
        "pre-deduped with map-side-partial distinct), then a per-host\n"
        "rollup that also partially aggregates — no salt needed\n"
        "because the join key is the url, not the Zipf host.",
    )
    from clara_ocr_spark.functions.phash import dhash_near_dup

    hashes = spark.range(2000).selectExpr(
        "id as media_id", "cast(id * 7919 as bigint) as dhash"
    )
    add(
        "dhash_near_dup (banded Hamming media dedup)",
        dhash_near_dup(hashes),
        "4x16-bit pigeonhole bands as an EQUI self-join (no\n"
        "CartesianProduct anywhere), hot (band,key) groups dropped\n"
        "before the join, candidates deduped ON IDS, popcount verify\n"
        "bit_count(a^b) JVM-side on candidates only.",
    )
    from clara_ocr_spark.sources.formats import wat_sidecar
    from clara_ocr_spark.stages.links import extract_links
    from clara_ocr_spark.stages.metadata import harvest_metadata

    add(
        "wat_sidecar (links + head metadata JSONL compose)",
        wat_sidecar(
            pages, extract_links(pages), harvest_metadata(pages)
        ),
        "Two map-only Arrow harvests (html dies inside each parse) then\n"
        "THREE url-keyed Exchanges carrying short strings only — the pages\n"
        "max(ts), the head max(struct), and the out-link collect_set (the\n"
        "link dedup runs INSIDE that aggregate as partial_collect_set,\n"
        "map-side — the r5 review replaced the prior distinct+collect_list,\n"
        "which paid a fourth full-table Exchange on the (url,dst,anchor,nf)\n"
        "composite just to dedup first).  The joins reuse the aggregates' url\n"
        "partitioning; bucket the harvests by url (plans/bucketing) and the\n"
        "compose is zero-Exchange.",
    )

    from clara_ocr_spark.stages.domains import registered_domain_map, rules_df

    hosts = spark.createDataFrame(
        [("a.example.co.uk",), ("b.blogspot.com",), ("www.ck",)],
        "host string",
    )
    add(
        "registered_domain_map (PSL eTLD+1 resolution, r5)",
        registered_domain_map(
            hosts, rules_df(spark, ["com", "co.uk", "blogspot.com", "*.ck", "!www.ck"])
        ),
        "ONE Exchange total (the host distinct; the max_by election reuses its\n"
        "partitioning), rules BROADCAST, no join-back — the implicit-* rule\n"
        "rides the left-joined lookup so reg_domain projects off the group key.\n"
        "Pinned in tests/test_domains.py::test_map_plan_shape.",
    )
    from clara_ocr_spark.stages.links import top_anchor_text

    links = spark.createDataFrame(
        [("d1", "alpha"), ("d1", "alpha"), ("d2", "beta")],
        "dst_url string, anchor string",
    )
    add(
        "top_anchor_text (anchor election, late r5)",
        top_anchor_text(links),
        "Window-free election: groupBy(dst, anchor) with map-side\n"
        "partials, then MIN over the (-n, anchor) struct per dst — two\n"
        "Exchanges carrying (dst, anchor) pairs, final state |dst| rows.\n"
        "Pinned in tests/test_links.py::test_anchor_election_plan_window_free.",
    )

    add(
        "hits_scores (integer HITS, late r5)",
        REGISTRY["hits_scores"][0](spark, SF),
        "Per half-step ONE broadcast equi-join of the checkpointed edge\n"
        "list against the |nodes| score table + ONE map-side-partial\n"
        "groupBy; every SinglePartition exchange is a 1-row partial_max\n"
        "normalizer reduce; final top-k TakeOrderedAndProject.  Pinned in\n"
        "tests/test_calibrate_and_plans.py::test_hits_topk_plan_not_global_window.",
    )

    from clara_ocr_spark.stages.consist import token_prf

    toy = spark.createDataFrame(
        [("u1", "a b"), ("u2", "c")], "url string, text string"
    )
    add(
        "token_prf (extraction-quality scoreboard, late r5)",
        token_prf(toy, toy),
        "Two map-side-partial (key, token) count aggregations + ONE\n"
        "full-outer sort-merge equi-join of the count tables — token\n"
        "strings are the only shuffled payload, never documents; final\n"
        "state |groups| rows.  The extract_job --eval-golden gate and the\n"
        "oracled extraction_eval query both run THIS plan.",
    )

    add(
        "revisit_policy (crawl revisit scheduling, final r5)",
        REGISTRY["revisit_policy"][0](spark, SF),
        "TWO Exchanges: the url-keyed lag window (32-byte digests only;\n"
        "the per-url aggregate REUSES the window's partitioning, so no\n"
        "second url shuffle) and the 3-row tier rollup with map-side\n"
        "partials.  Rate estimate banked as integer milli-nats.",
    )

    add(
        "fuzzy_decontaminate (MinHash-LSH benchmark probe, final r5)",
        REGISTRY["fuzzy_decontaminate"][0](spark, SF),
        "Computes through curate.fuzzy_contaminated_urls.  The banded\n"
        "eval side BROADCASTS (benchmark-sized); candidate generation is\n"
        "a map-side BroadcastHashJoin probe and the token-set Jaccard\n"
        "verify runs in the same stage; the per-doc best-match max reuses\n"
        "the doc_id fan-out partitioning, so the only Exchanges are the\n"
        "two fan-outs.  Token arrays never shuffle.",
    )

    add(
        "reciprocal_link_audit (link-farm reciprocity, final r5)",
        REGISTRY["reciprocal_link_audit"][0](spark, SF),
        "THREE Exchanges, all id-sized keys: directed distinct (partial\n"
        "map-side), canonical (least,greatest) pair aggregate — the key\n"
        "is the PAIR, hub hosts never become hot keys — and the |pairs|\n"
        "endpoint rollup fed by a single-pass explode (a two-leg union\n"
        "re-executed the whole pair subtree; observed and fixed).",
    )

    add(
        "warc_revisit_dedup (archive storage dedup, final r5)",
        REGISTRY["warc_revisit_dedup"][0](spark, SF),
        "TWO (url, digest)-keyed Exchanges — the min-aggregate build\n"
        "and the probe co-partition (LEFT join so NULL-keyed captures\n"
        "classify response instead of dropping) — carrying digests\n"
        "and sizes, never payloads; the rollup is 2 rows.",
    )

    add(
        "bitext_margin_mine (margin-based bitext mining, cont. r5)",
        REGISTRY["bitext_margin_mine"][0](spark, SF),
        "The quantized (s_id, t_id, cos_q) pair table materializes ONCE\n"
        "(localCheckpoint) after a round-robin fan-out — its three\n"
        "consumers (fwd/bwd top-k denominators, margin join) would each\n"
        "recompute every 64-dim cosine otherwise — with norms hoisted to\n"
        "once per VECTOR; both top-k sums prune map-side via\n"
        "WindowGroupLimit; every downstream shuffle carries bare\n"
        "(id, id, int) rows.  At 100 TB the pair table is the IVF/LSH\n"
        "candidate set; the margin algebra is unchanged.",
    )

    add(
        "snapshot_drift_kl (crawl-snapshot drift ledger, cont. r5)",
        REGISTRY["snapshot_drift_kl"][0](spark, SF),
        "One explode -> ONE term-keyed partial-aggregating groupBy\n"
        "(counts only — text never shuffles); the totals return as a\n"
        "1-row broadcast cross join (the domain_mix_weights pattern),\n"
        "never a window over the unpartitioned vocabulary.",
    )

    add(
        "heavy_hitters (MG sketch candidates + exact verify, cont. r5)",
        REGISTRY["heavy_hitters"][0](spark, SF),
        "The full term relation NEVER shuffles: pass 1 is a shuffle-free\n"
        "MapInPandas Misra–Gries fold (<=256 candidates per partition),\n"
        "pass 2 probes with the candidate set BROADCAST and collapses\n"
        "every non-candidate into one null group BEFORE the exchange, so\n"
        "the shuffle carries <=|candidates|+1 rows per map task; the\n"
        "exact-threshold filter makes the output partition-independent.",
    )

    add(
        "zipf_slope (rank-frequency corpus-health fit, cont. r5)",
        REGISTRY["zipf_slope"][0](spark, SF),
        "Head selection is TakeOrderedAndProject (per-partition partial\n"
        "top-k — the doubts pattern), never a global sort; the one\n"
        "unpartitioned row_number window sits ABOVE the limit so it only\n"
        "ever sees <=512 rows; regr_* aggregates partially map-side.",
    )

    add(
        "exact_quantiles (counting-sort exact per-mille quantiles, cont. r5)",
        REGISTRY["exact_quantiles"][0](spark, SF),
        "curate.length_ecdf: histogram the bounded VALUE DOMAIN in one\n"
        "scan, then ONE ordered window over |distinct lengths| rows\n"
        "(never |docs|) gives the running count and, as a whole-frame\n"
        "sum, the total; one aggregate reads all three quantiles.  No\n"
        "checkpoint, no join.  Integer arithmetic end to end.",
    )

    add(
        "pmi_collocations (milli-nat PMI bigram head, cont. r5)",
        REGISTRY["pmi_collocations"][0](spark, SF),
        "Bigrams come from zip_with over the token array (slice vs\n"
        "slice-shifted) — never a positional self-join; the bigram\n"
        "counts are checkpointed so the corpus scans ONCE and the\n"
        "marginals/total re-aggregate the materialized counts; the\n"
        "1-row N broadcasts; the head is TakeOrderedAndProject.",
    )

    add(
        "winnow_fingerprints (MOSS winnowing selection, cont. r5)",
        REGISTRY["winnow_fingerprints"][0](spark, SF),
        "Fully doc-local: ONE exchange in the whole plan (the doc_id\n"
        "hash partitioning feeding the window); the rightmost-min\n"
        "tie-break rides a composite key (h30*2^32 + (2^32-1-i)) so a\n"
        "single window MIN replaces a per-window argmax subplan; the\n"
        "distinct and the per-doc rollup reuse the window's\n"
        "clustering, so neither re-shuffles.",
    )

    add(
        "ks_drift (exact two-sample KS length drift, cont. r5)",
        REGISTRY["ks_drift"][0](spark, SF),
        "The shared counting-sort ECDF (curate.length_ecdf): one\n"
        "map-side-partial groupBy on the bounded length domain (corpus\n"
        "scans once), ONE ordered window over |distinct lengths| rows\n"
        "for the running per-side counts and the totals, then one\n"
        "aggregate whose max over (gap, -length) is the argmax — no\n"
        "checkpoint, no join.  Integer cross-multiplied ECDFs end to end.",
    )

    add(
        "winnow_near_dup (MOSS fingerprint match step, cont. r5)",
        REGISTRY["winnow_near_dup"][0](spark, SF),
        "The corpus-side winnowing window runs ONCE (fingerprint and\n"
        "df-capped relations both checkpointed — the final plan reads\n"
        "materialized RDDs only); fingerprints above the df cap are\n"
        "dropped BEFORE the self-join (hot-bucket discipline: an f-doc\n"
        "fingerprint contributes f^2 pairs), so every join bucket is\n"
        "bounded and the pair relation is linear in the corpus.",
    )

    add(
        "good_turing_mass (Good-Turing / Chao1 estimates, cont. r5)",
        REGISTRY["good_turing_mass"][0](spark, SF),
        "Two count-only shuffles: the (lang, type)-keyed partial\n"
        "groupBy over the zip_with bigram explode, then the per-lang\n"
        "count-of-counts rollup over the bounded TYPE relation.  No\n"
        "window, no single-partition exchange anywhere.",
    )

    add(
        "ccnet_tertiles (CCNet exact perplexity tertiles, cont. r5)",
        REGISTRY["ccnet_tertiles"][0](spark, SF),
        "Scoring is the ngram_lm_score plan; the tertile machinery\n"
        "then runs ENTIRELY on the bounded checkpointed (lang,\n"
        "milli-nat) histogram — counting-sort exact quantiles with\n"
        "the cumulative window PARTITIONED by lang, per-lang totals\n"
        "and thresholds riding |langs|-row broadcasts.",
    )

    add(
        "burst_detect (Kleinberg-style burst flags, cont. r5)",
        REGISTRY["burst_detect"][0](spark, SF),
        "The corpus reduces to the (type, day) relation with a\n"
        "map-side-partial groupBy BEFORE any window; the trailing\n"
        "window is partitioned by event_type (a host/term key at web\n"
        "scale — never an unpartitioned frame); the scan prunes to\n"
        "(ts, event_type); integer cross-multiplied flag.",
    )

    add(
        "session_gap_quantiles (exact gap quantiles, cont. r5)",
        REGISTRY["session_gap_quantiles"][0](spark, SF),
        "The user-keyed lag window runs ONCE (the (type, gap-second)\n"
        "histogram is checkpointed); the counting-sort quantile\n"
        "machinery then runs on the bounded histogram with the\n"
        "cumulative window partitioned by event_type and the totals +\n"
        "2-row per-mille targets broadcast.",
    )

    add(
        "pca_power_iter (lead-PC power-iteration step, cont. r5)",
        REGISTRY["pca_power_iter"][0](spark, SF),
        "TWO corpus passes, both map-side partial (the v0 = 1/8*ones\n"
        "start makes the matvec a ROW-SUM — never a 64-way join);\n"
        "the remaining algebra (centering correction, norm, sign\n"
        "election) runs on the checkpointed 64-row loading relation\n"
        "with 1-row broadcasts.",
    )

    add(
        "unimax_quota (UniMax water-filling quotas, cont. r5)",
        REGISTRY["unimax_quota"][0](spark, SF),
        "One map-side-partial groupBy to per-language token counts\n"
        "(checkpointed — the corpus scans once); the nominally\n"
        "SEQUENTIAL water-filling loop is computed in closed form on\n"
        "the |languages|-row relation (sorted prefix sums, the exact\n"
        "integer capped test, remainder split) — every window frame\n"
        "is bounded by the language inventory.",
    )

    add(
        "heaps_law_fit (vocabulary-growth exponent, cont. r5)",
        REGISTRY["heaps_law_fit"][0](spark, SF),
        "One k-gram explode into the type first-batch groupBy (grams\n"
        "per batch come map-only from the lengths); the cumulative windows\n"
        "and the regression run over the ~32-row batch relation —\n"
        "the unpartitioned frame is constant-size at any corpus\n"
        "scale.",
    )

    add(
        "kcore_peel (median-k core peeling, cont. r5)",
        REGISTRY["kcore_peel"][0](spark, SF),
        "The distinct edge list is checkpointed once; each peel round\n"
        "is one degree groupBy plus two semi joins, re-checkpointed\n"
        "per round so the plan stays O(1)-deep (the pagerank\n"
        "iteration discipline); the median-k machinery runs on the\n"
        "bounded degree histogram with 1-row broadcasts.",
    )

    add(
        "hubness_audit (k-occurrence embedding audit, cont. r5)",
        REGISTRY["hubness_audit"][0](spark, SF),
        "Norms HOISTED per vector (computed once below the pair\n"
        "join — unhoisted this measured 107 s at sf0.1, hoisted +\n"
        "query-sampled ~3 s); the sampled-pair cosine + per-query\n"
        "top-k window run ONCE behind the checkpointed k-occurrence\n"
        "relation (at 100 TB the pair relation is replaced by the\n"
        "IVF/LSH candidate set); histogram and zero-row arithmetic\n"
        "read the materialized counts with 1-row broadcasts.",
    )

    add(
        "ece_summary (expected calibration error, cont. r5)",
        REGISTRY["ece_summary"][0](spark, SF),
        "The NB model trains and scores ONCE: the <=10-row bin table\n"
        "is checkpointed, so the final plan is bounded algebra over\n"
        "materialized bins — unmaterialized, the two consumers each\n"
        "replayed the whole model subtree (~20 file scans, caught by\n"
        "the plan pin).",
    )

    add(
        "confident_label_noise (confident-learning joint, cont. r5)",
        REGISTRY["confident_label_noise"][0](spark, SF),
        "One doc_id-partitioned window pass computes the softmax\n"
        "(max, sum, rank together); the quantized probability\n"
        "relation and the |classes|^2 confident joint are both\n"
        "checkpointed; thresholds and the normalizing total ride\n"
        "broadcasts.",
    )

    add(
        "bm25_scores (Okapi BM25 lexical ranking, cont. r5)",
        REGISTRY["bm25_scores"][0](spark, SF),
        "The token explode filters to the QUERY TERMS before any\n"
        "aggregation (the inverted-index probe shape — postings for\n"
        "|q| terms, never the vocabulary); df and corpus stats ride\n"
        "broadcasts; per-term partials quantize to milli-units\n"
        "BEFORE the per-doc sum so ranks are engine-exact; top-20 is\n"
        "TakeOrderedAndProject.",
    )

    add(
        "ndcg_eval (nDCG@10 ranking quality, cont. r5)",
        REGISTRY["ndcg_eval"][0](spark, SF),
        "Relevance and ranking derive from the SAME checkpointed\n"
        "query-term postings; both top-10 windows run over the\n"
        "candidate relation (docs with >=1 query term), never the\n"
        "corpus; the final ratio is a broadcast 1-row cross join.",
    )

    add(
        "rrf_fusion (reciprocal-rank fusion, cont. r5)",
        REGISTRY["rrf_fusion"][0](spark, SF),
        "Two rankers (BM25, Dirichlet QL) over the same candidate\n"
        "relation; fusion contributions are INTEGER divisions\n"
        "(10^6 div (60+rank)) summed in a partial-aggregating\n"
        "groupBy over <=40 rows; fused top-10 is\n"
        "TakeOrderedAndProject.",
    )

    add(
        "jl_distortion_audit (JL projection distortion, cont. r5)",
        REGISTRY["jl_distortion_audit"][0](spark, SF),
        "The projection is MAP-ONLY (the +-1 sign matrix is a\n"
        "compiled literal — no join for the matrix); only the\n"
        "deterministically sampled sides reach the pair join, so the\n"
        "quadratic stays bounded by the sampling rates; the\n"
        "distortion rollup partially aggregates over the per-mille\n"
        "bucket domain.",
    )

    add(
        "hhi_concentration (source-concentration HHI, cont. r5)",
        REGISTRY["hhi_concentration"][0](spark, SF),
        "Two count-only partial groupBys — (lang, source) cells then\n"
        "the per-lang rollup; the squared-sum identity\n"
        "(10^6 * sum(n_s^2)) div n^2 avoids materializing per-source\n"
        "shares entirely.  No join, no window, no single-partition\n"
        "exchange.",
    )

    add(
        "benford_audit (leading-digit forensics, cont. r5)",
        REGISTRY["benford_audit"][0](spark, SF),
        "One filtered scan (value > 0 PUSHED to parquet) into a\n"
        "9-key partial groupBy; the total rides a 1-row broadcast;\n"
        "the clamped floor/log10 digit extraction degrades last-ulp\n"
        "power-of-ten cases to a neighbor digit identically in both\n"
        "engines.",
    )

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
