"""VERDICT r4 item 6: the host-keyed r4 queries argue in their
docstrings that the Zipf source skew needs no salt — prove it with an
adversarial fixture instead of asserting it.  One source carries 50%
of all documents (the bot-farm / megasite profile), every document
shares a site-template boilerplate prefix (the degenerate hot join
key), and a planted true mirror pair must still surface.  Each query
is checked against the SAME DuckDB oracle the driver runs (full
row-count + schema + value-hash parity on the skewed corpus), plus
the query-specific blowup bound its skew guard exists to enforce —
the test_events_stream hot-key discipline applied to the batch side.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clara_ocr_spark.oracle import TABLES, compare, duck_connect
from clara_ocr_spark.queries import REGISTRY

#: 5-token template every page of every source starts with — the
#: fingerprint hot key host_mirror_jaccard's df-stoplist must kill
#: (62 sources share it; unstopped, it alone would emit C(62,2) =
#: 1891 candidate pairs), and a line boiler_scope_audit must class as
#: global-frequent.
_TEMPLATE = "cookie notice accept all terms"


def _mk_docs():
    rows = []
    doc_id = 0

    def add(source: str, body: str, template: bool = True):
        nonlocal doc_id
        text = f"{_TEMPLATE} {body}" if template else body
        rows.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": "en" if doc_id % 3 else "de",
                "source": source,
                "n_chars": len(text),
            }
        )
        doc_id += 1

    # hot source: 200 docs = 50% of the corpus.  The varying token
    # sits AFTER the first positional 8-token line, so the template
    # line ("cookie ... body words alpha") is identical across all
    # 200 docs (local df = 200 -> boiler) while the docs stay unique.
    for i in range(200):
        add("hot.example", f"body words alpha hot page {i} row{i} beta")
    # 58 cold sources, 3 docs each; their first line embeds the source
    # ordinal (token 8), so it is local-frequent (df = 3) per source.
    # Sources 0-4 additionally share one doc whose SECOND line is the
    # corpus-wide "shared widget footer text" (global df = 5, local
    # df = 1): the spill class the per-host scope saves.
    for s in range(58):
        for i in range(3):
            if s < 5 and i == 0:
                add(f"cold{s}.example",
                    f"cold site {s} shared widget footer text")
            else:
                add(f"cold{s}.example", f"cold site {s} gamma delta pg {i}")
    # true mirror pair: two sources serving 10 identical pages whose
    # first-5-token fingerprints are their OWN (no template — the
    # template IS every other doc's fingerprint and must die in the
    # stoplist, which would hide a template-prefixed mirror too: the
    # documented fingerprint trade-off, digest-based fps don't have it)
    for i in range(10):
        body = f"mirrored article {i} epsilon zeta eta theta"
        add("mirror-a.example", body, template=False)
        add("mirror-b.example", body, template=False)
    # a handful of empty/whitespace docs (filtered by the queries)
    for s in ("hot.example", "cold0.example"):
        rows.append(
            {"doc_id": doc_id, "text": "   ", "lang": "en",
             "source": s, "n_chars": 3}
        )
        doc_id += 1
    return rows


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    """An sf-shaped dir whose documents table is adversarially skewed;
    the other nine tables symlink to sf0.001 so duck_connect's view
    registration (and any cross-table query) still binds."""
    d = tmp_path_factory.mktemp("skew_sf")
    for t in TABLES:
        if t == "documents":
            continue
        (d / f"{t}.parquet").symlink_to(
            f"/root/testdata/sf0.001/{t}.parquet"
        )
    pq.write_table(pa.Table.from_pylist(_mk_docs()), d / "documents.parquet")
    return str(d)


@pytest.fixture(scope="module")
def skew_duck(skew_dir):
    con = duck_connect(skew_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "host_mirror_jaccard", "boiler_scope_audit", "cdc_chunk_dedup",
        # r5 stage-surface queries: the three text-readers flow the
        # skewed corpus through the regexp/normalize paths; the other
        # three synthesize from doc_id but must stay parity-exact on
        # the adversarial id space too
        "soft404_ledger", "mojibake_audit", "nfc_normalize_audit",
        "registered_domain", "recrawl_staleness", "paced_frontier",
    ],
)
def test_oracle_parity_under_hot_source(spark, skew_dir, skew_duck, name):
    """Full driver-grade parity (rows + schema + value hash) with one
    source owning half the corpus and a universal template prefix."""
    fn, sql = REGISTRY[name]
    compare(spark, skew_dir, fn, sql, con=skew_duck)


def test_mirror_pairs_bounded_by_stoplist(spark, skew_dir):
    """The df <= 8 fingerprint stoplist is host_mirror_jaccard's skew
    guard: 62 sources share the template prefix, so WITHOUT the
    stoplist the prefix alone emits C(62,2) = 1891 pairs from one join
    key (the single-task straggler at web scale).  With it, the only
    surviving pair is the planted mirror."""
    fn, _ = REGISTRY["host_mirror_jaccard"]
    got = fn(spark, skew_dir).collect()
    # hot/cold sources fingerprint ONLY as the df-62 template, which
    # the stoplist kills -> the planted mirror is the sole pair;
    # unstopped, the template key alone emits ~1.8k pairs
    assert len(got) == 1
    pairs = {(r["source_a"], r["source_b"]): r for r in got}
    mirror = pairs[("mirror-a.example", "mirror-b.example")]
    # 10 shared fingerprints out of 10 per side -> jaccard 1.0
    assert mirror["n_shared"] == 10
    assert mirror["jaccard"] == 1.0
    # no pair owes its existence to the template key: every reported
    # pair must share REAL content, not the df-62 prefix
    assert all(r["n_shared"] <= 10 for r in got)


def test_boiler_scope_classes_under_hot_source(spark, skew_dir):
    """The hot source's 200 template occurrences must classify as
    LOCAL boilerplate (df >= 3 within the source: both scopes delete),
    while a cold 3-doc source's template occurrences are local too —
    and the per-(source, line-hash) keying never concentrates the hot
    source's lines on one reducer key (the lines differ, so the key
    spreads; asserted by the exact per-source accounting agreeing with
    the oracle plus local >= 200 for the hot source)."""
    fn, _ = REGISTRY["boiler_scope_audit"]
    rows = {r["source"]: r for r in fn(spark, skew_dir).collect()}
    hot = rows["hot.example"]
    # every hot doc starts with the template -> 200 local-boiler line
    # occurrences at minimum, and local boiler never exceeds total
    assert hot["n_boiler_local"] >= 200
    assert hot["n_boiler_local"] + hot["n_saved_by_scope"] <= \
        hot["n_line_occ"]
    # a cold source with 3 identical template lines: local df == 3 ->
    # classed local; its "shared widget footer text" second line is
    # corpus-frequent (global df = 5) but local-rare (df = 1) -> the
    # spill class, the occurrences the per-host scope SAVES
    cold = rows["cold0.example"]
    assert cold["n_boiler_local"] >= 3
    assert cold["n_saved_by_scope"] >= 1


def test_cdc_rollup_under_hot_source(spark, skew_dir):
    """cdc_chunk_dedup's source rollup with 50% of docs on one source:
    the per-doc chunk build partitions by doc_id (not source), so the
    hot source cannot serialize it; the mirror docs (identical text)
    must report every chunk shared."""
    fn, _ = REGISTRY["cdc_chunk_dedup"]
    rows = {r["source"]: r for r in fn(spark, skew_dir).collect()}
    assert rows["hot.example"]["n_docs"] == 200
    for s in ("mirror-a.example", "mirror-b.example"):
        r = rows[s]
        assert r["shared_chunks"] == r["total_chunks"]
        assert r["shared_pm"] == 1000


# ---------------------------------------------------------------------
# r5 host-keyed ledgers (soft-404, mojibake, staleness): the docstring
# claim is "partial aggregation makes host skew harmless — no salt".
# Prove it at the STAGE level with one host owning the majority of the
# corpus: exact per-host accounting, plus a plan pin that the rollup
# partially aggregates BELOW its exchange (the property that bounds
# the hot reducer to merging pre-aggregated counters, not raw rows).
# ---------------------------------------------------------------------


def _assert_partial_agg_below_exchange(df):
    """The groupBy must plan partial (map-side) aggregation: a
    HashAggregate with partial_* functions strictly below the
    Exchange, so a hot host arrives at its reducer as one counter per
    map task instead of one row per document."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    partial = plan.find("partial_count")
    if partial == -1:
        partial = plan.find("partial_sum")
    exchange = plan.find("Exchange hashpartitioning")
    assert partial != -1, plan[:2000]
    assert exchange != -1, plan[:2000]
    # executedPlan prints top-down: the exchange appears ABOVE (before)
    # the partial aggregate feeding it
    assert exchange < partial, plan[:2000]


def test_soft404_ledger_under_hot_host(spark):
    from clara_ocr_spark.stages.crawl_audit import soft404_audit

    rows = [("hot/p%d" % i,
             "page not found" if i % 2 == 0 else "fine article %d" % i)
            for i in range(400)]
    rows += [("cold%d/p" % h, "all good %d" % h) for h in range(40)]
    pages = spark.createDataFrame(rows, "url string, text string")
    out = soft404_audit(pages)
    _assert_partial_agg_below_exchange(out)
    got = {r["host"]: r for r in out.collect()}
    assert got["hot"]["n_pages"] == 400
    assert got["hot"]["n_soft404"] == 200
    assert got["hot"]["soft404_pm"] == 500
    assert all(got["cold%d" % h]["n_soft404"] == 0 for h in range(40))


def test_mojibake_audit_under_hot_host(spark):
    from clara_ocr_spark.curate import encoding_damage_audit

    rows = [("http://hot/p%d" % i,
             "bad Ã© Ã¨ text" if i % 4 == 0 else "clean text %d" % i)
            for i in range(400)]
    rows += [("http://cold%d/p" % h, "clean %d" % h) for h in range(40)]
    pages = spark.createDataFrame(rows, "url string, text string")
    out = encoding_damage_audit(pages)
    _assert_partial_agg_below_exchange(out)
    got = {r["host"]: r for r in out.collect()}
    assert got["hot"]["n_docs"] == 400
    assert got["hot"]["n_damaged"] == 100
    assert got["hot"]["n_marks"] == 200  # two markers per damaged doc
    assert got["hot"]["damaged_pm"] == 250


def test_staleness_ledger_under_hot_host(spark):
    """The url-dedup join must key by URL, never by host: with one
    host owning all urls, an (incorrect) host-keyed join would put the
    whole corpus on one task.  Pin that every Exchange in the plan
    below the host rollup partitions on the url key `u`."""
    import pyspark.sql.functions as F

    from clara_ocr_spark.stages.crawl_audit import sitemap_staleness_urls

    crawled = spark.createDataFrame(
        [("hot/p%d" % (i % 200),) for i in range(400)], "url string"
    ).withColumn(
        "warc_ts",
        F.lit("2024-01-10 00:00:00").cast("timestamp"),
    )
    declared = spark.createDataFrame(
        [("hot/p%d" % i, "2024-02-01" if i % 2 == 0 else "2023-12-01")
         for i in range(200)],
        "loc string, lastmod string",
    )
    out = sitemap_staleness_urls(crawled, declared)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # both sides reduce to ONE row per url with a map-side partial max
    # BEFORE the equi-join (the exchange key prints as the inlined
    # _groupingexpression of the url, never a host expression), so the
    # hot host reaches the join as |its urls| rows, pre-combined per
    # map task — two partial_max aggregates, one per side
    assert plan.count("partial_max") >= 2, plan[:2000]
    _assert_partial_agg_below_exchange(out)
    got = {r["host"]: r for r in out.collect()}
    hot = got["hot"]
    assert hot["n_matched"] == 200
    assert hot["n_dated"] == 200
    assert hot["n_stale"] == 100
    assert hot["stale_pm"] == 500


def test_anchor_election_under_hot_dst(spark):
    """The election's hot key is a megasite home page: one dst_url
    receiving 50% of all links (every page of every site links
    'home').  Both aggregate levels must plan map-side partials —
    groupBy(dst, anchor) combines the hot (dst, anchor) pair per map
    task, and the per-dst MIN(struct) election combines per map task
    again — so the hot destination reaches each reducer as one
    counter per task, never one row per link."""
    from clara_ocr_spark.stages.links import top_anchor_text

    rows = [("hot/", "home" if i % 4 else "start") for i in range(400)]
    rows += [("cold%d/p" % i, "article %d" % i) for i in range(40)]
    rows += [("hot/", "") for _ in range(20)]  # empty anchors drop
    links = spark.createDataFrame(rows, "dst_url string, anchor string")
    out = top_anchor_text(links)
    _assert_partial_agg_below_exchange(out)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the election itself (min over the (-n, anchor) struct) is also
    # map-side partial — and window-free
    assert "partial_min" in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    got = {r["dst_url"]: r for r in out.collect()}
    hot = got["hot/"]
    assert hot["n_inlinks"] == 400  # empty anchors excluded
    assert hot["top_anchor"] == "home" and hot["top_anchor_n"] == 300
    assert all(got["cold%d/p" % i]["n_inlinks"] == 1 for i in range(40))


def test_title_suffix_ledger_under_hot_host(spark):
    """One host owns 80% of all titled pages (and 100% of them carry
    the same ' | Brand' tail — the maximal hot (host, suffix) pair).
    Same discipline: both aggregate levels partial, window-free, and
    the ledger stays |hosts| rows with the hot host flagged and a
    20%-share host elected but NOT flagged."""
    from clara_ocr_spark.stages.metadata import title_suffix_ledger

    rows = [("hot", "article %d | Hot Brand" % i) for i in range(400)]
    # low-share host: 1 suffixed title out of 10 (share 100 pm < 500)
    rows += [("lo", "page %d" % i) for i in range(9)]
    rows += [("lo", "one page - Lo Brand")]
    # never-suffixed host
    rows += [("plain", "untitled page %d" % i) for i in range(5)]
    titled = spark.createDataFrame(rows, "host string, title string")
    out = title_suffix_ledger(titled)
    _assert_partial_agg_below_exchange(out)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    got = {r["host"]: r for r in out.collect()}
    assert got["hot"]["suffix"] == "Hot Brand"
    assert got["hot"]["n_suffix"] == 400 and got["hot"]["is_boiler"]
    lo = got["lo"]
    assert lo["suffix"] == "Lo Brand" and lo["share_pm"] == 100
    assert not lo["is_boiler"]
    plain = got["plain"]
    assert plain["suffix"] is None and plain["n_suffix"] == 0
    assert not plain["is_boiler"]


def test_reciprocity_ledger_under_hub_host(spark):
    """The ledger's hot candidate is a hub: one host RECEIVING links
    from 400 spokes (the megasite in-degree profile).  The canonical
    pair key is (least, greatest) — the hub spreads over 400 distinct
    pair keys instead of concentrating on one — and both aggregate
    levels plan map-side partials, so the hub reaches each reducer as
    counters, never one row per link.  A 4-host mutual clique must
    flag as a farm while the hub (zero reciprocity) must not; repeat
    edges and self-loops must not perturb the accounting."""
    from clara_ocr_spark.stages.links import reciprocity_ledger

    rows = [("spoke%03d" % i, "hub") for i in range(400)]
    rows += [("spoke%03d" % i, "hub") for i in range(50)]  # repeats
    rows += [("hub", "hub")] * 3  # self-loops drop
    farm = ["f0", "f1", "f2", "f3"]
    rows += [(a, b) for a in farm for b in farm if a != b]  # clique
    rows += [("c0", "c1"), ("c1", "c2")]  # one-way chain
    edges = spark.createDataFrame(
        rows, "src_host string, dst_host string"
    )
    out = reciprocity_ledger(edges)
    _assert_partial_agg_below_exchange(out)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:2000]
    # the endpoint rollup must be the single-pass explode, never a
    # two-leg union re-executing the pair subtree: exactly three
    # Exchanges (directed distinct, pair aggregate, host rollup)
    assert plan.count("Exchange hashpartitioning") == 3, plan[:3000]
    got = {r["host"]: r for r in out.collect()}
    hub = got["hub"]
    assert hub["n_neighbors"] == 400 and hub["n_reciprocal"] == 0
    assert hub["recip_pm"] == 0 and not hub["link_farm"]
    for f in farm:
        r = got[f]
        assert r["n_neighbors"] == 3 and r["n_reciprocal"] == 3
        assert r["recip_pm"] == 1000 and r["link_farm"]
    assert got["c1"]["n_neighbors"] == 2
    assert got["c1"]["n_reciprocal"] == 0 and not got["c1"]["link_farm"]
    assert all(
        got["spoke%03d" % i]["n_neighbors"] == 1 for i in range(400)
    )


def test_revisit_schedule_exact_and_single_exchange(spark):
    """Known capture histories pin the Cho/Garcia-Molina estimator's
    fixed-point values exactly: 5/5 changes → 2398 mnat (hot, 10 h),
    2/5 → 452 (warm, 53 h), 0/5 and a single-capture url → 0 (cold,
    one-year cap).  A 400-capture hot url rides the same plan — the
    per-url aggregate REUSES the lag window's url partitioning, so
    the whole per-url ledger costs ONE Exchange."""
    from clara_ocr_spark.stages.crawl_audit import revisit_schedule

    rows = [("always", i, "d%d" % i) for i in range(6)]
    rows += [("never", i, "same") for i in range(6)]
    # changes at seq 2 and 4 only
    rows += [("half", i, "h%d" % (i // 2)) for i in range(6)]
    rows += [("single", 0, "x")]
    rows += [("hot", i, "d%d" % (i % 2)) for i in range(400)]
    caps = spark.createDataFrame(
        rows, "url string, seq int, digest string"
    )
    out = revisit_schedule(caps)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    got = {r["url"]: r for r in out.collect()}
    a = got["always"]
    assert (a["n_cmp"], a["n_chg"], a["lambda_mnat"]) == (5, 5, 2398)
    assert a["tier"] == "hot" and a["revisit_h"] == 10
    n = got["never"]
    assert (n["n_cmp"], n["n_chg"], n["lambda_mnat"]) == (5, 0, 0)
    assert n["tier"] == "cold" and n["revisit_h"] == 8760
    h = got["half"]
    assert (h["n_cmp"], h["n_chg"], h["lambda_mnat"]) == (5, 2, 452)
    assert h["tier"] == "warm" and h["revisit_h"] == 53
    s = got["single"]
    assert (s["n_cmp"], s["n_chg"], s["lambda_mnat"]) == (0, 0, 0)
    assert s["tier"] == "cold" and s["revisit_h"] == 8760
    assert got["hot"]["n_cmp"] == 399 and got["hot"]["n_chg"] == 399


def test_heavy_hitters_survive_mg_truncation(spark, tmp_path):
    """The MG candidate pass must never drop a TRUE heavy hitter, even
    when the per-partition vocabulary (20k noise tokens) overflows the
    256-counter summary many times over and the hitter is spread one
    occurrence per document across every partition (the thin-spread
    adversary).  A near-miss token sitting just under the exact
    n*HH_K > N gate must NOT appear (the sketch may propose it; the
    exact verify must kill it).  Eight parquet part files force a
    multi-partition scan so the per-partition summaries and the
    candidate union are both exercised, and the output is held to the
    same DuckDB oracle the driver runs."""
    import duckdb

    from clara_ocr_spark.oracle import compare
    from clara_ocr_spark.queries import HH_K, HH_MG, REGISTRY

    n_noise, n_heavy, n_near = 20_000, 800, 700
    total = n_noise + n_heavy + n_near
    assert n_heavy * HH_K > total >= n_near * HH_K  # fixture honest
    assert n_noise // 8 > HH_MG  # truncation engages in every file

    docs, did = [], 0

    def add(text):
        nonlocal did
        docs.append((did, text, "en", "src%d" % (did % 4), len(text)))
        did += 1

    noise = iter("n%05d" % i for i in range(n_noise))
    for i in range(2_000):
        words = [next(noise) for _ in range(10)]
        if i < n_heavy:
            words.append("hvy")
        if i < n_near:
            words.append("mid")
        add(" ".join(words))

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "hh_sf"
    (d / "documents.parquet").mkdir(parents=True)
    cols = list(zip(*docs))
    for p in range(8):  # 8 part files -> 8 scan partitions
        sl = slice(p * 250, (p + 1) * 250)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(cols[0][sl], pa.int64()),
                    "text": list(cols[1][sl]),
                    "lang": list(cols[2][sl]),
                    "source": list(cols[3][sl]),
                    "n_chars": pa.array(cols[4][sl], pa.int64()),
                }
            ),
            str(d / "documents.parquet" / f"part-{p}.parquet"),
        )

    fn, sql = REGISTRY["heavy_hitters"]
    out = {r["token"]: r for r in fn(spark, str(d)).collect()}
    assert "hvy" in out and out["hvy"]["n"] == n_heavy
    assert out["hvy"]["per_mille"] == 1000 * n_heavy // total
    assert "mid" not in out
    assert all(t.startswith("hvy") for t in out)  # no noise survives

    con = duckdb.connect()
    con.sql(
        "create view documents as select * from "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    compare(spark, str(d), fn, sql, con=con)
    con.close()


def test_winnow_matches_bruteforce(spark, sf001):
    """The composite-key window formulation (min over h30 * 2^32 +
    (2^32-1-i)) must select EXACTLY the per-window rightmost-argmin
    fingerprints of the SIGMOD-2003 definition.  Brute-force every
    window of every sf0.001 document in Python (slide w=4 over the
    k-gram hash sequence, take the min, break ties to the RIGHT) and
    hold the Spark output to the triple (n_grams, n_sel, checksum) —
    the checksum pins the selected set, not just its size."""
    import hashlib
    import re

    import duckdb

    from clara_ocr_spark.functions.textsig import WIN_K, WIN_W
    from clara_ocr_spark.queries import REGISTRY

    con = duckdb.connect()
    rows = con.sql(
        "select doc_id, text from "
        f"read_parquet('{sf001}/documents.parquet')"
    ).fetchall()
    con.close()

    def brute(text):
        norm = re.sub(r"\s+", " ", text.strip().lower())
        n_g = len(norm) - WIN_K + 1
        if n_g < 1:
            return None
        hs = [
            int(
                hashlib.md5(norm[i : i + WIN_K].encode()).hexdigest()[:15],
                16,
            )
            % 1073741824
            for i in range(n_g)
        ]
        sel = set()
        for j in range(max(1, n_g - WIN_W + 1)):
            win = hs[j : j + WIN_W]
            m = min(win)
            ridx = max(k for k, h in enumerate(win) if h == m) + j
            sel.add((ridx, m))
        return n_g, len(sel), sum(h for _, h in sel)

    exp = {d: brute(t) for d, t in rows if brute(t) is not None}
    got = {
        r["doc_id"]: (r["n_grams"], r["n_sel"], r["fp_checksum"])
        for r in REGISTRY["winnow_fingerprints"][0](spark, sf001).collect()
    }
    assert got == exp


def test_winnow_guarantee_shared_substring(spark, tmp_path):
    """The winnowing GUARANTEE (Schleimer et al. 2003): any shared
    normalized substring of length >= WIN_W + WIN_K - 1 = 11 chars
    between two documents shares at least one selected fingerprint
    HASH — regardless of where the substring sits in each document.
    Embed one 40-char needle at five different offsets inside five
    otherwise-disjoint documents and assert every pair of selected
    sets intersects on fp_hash; a needle-free control document must
    NOT share a hash with any needle document."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clara_ocr_spark.functions.textsig import winnow_select

    needle = "the winnowing guarantee holds for this"
    assert len(needle) == 38 >= 11
    pads = [
        "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj",
        "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr qqqq",
        "0000 1111 2222 3333 4444 5555 6666 7777 8888 9999",
        "mmmm nnnn oooo pppp",
        "",
    ]
    docs = [
        (i, f"{pads[i][:8 * i]} {needle} {pads[i][8 * i:]}".strip())
        for i in range(5)
    ]
    docs.append((5, "totally unrelated control text with no shared run"))
    d = tmp_path / "winnow_sf"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": [r[1] for r in docs],
                "lang": ["en"] * len(docs),
                "source": ["src0"] * len(docs),
                "n_chars": pa.array(
                    [len(r[1]) for r in docs], pa.int64()
                ),
            }
        ),
        str(d / "documents.parquet"),
    )
    sel = winnow_select(
        spark.read.parquet(str(d / "documents.parquet"))
    ).collect()
    by_doc = {}
    for r in sel:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    for a in range(5):
        for b in range(a + 1, 5):
            assert by_doc[a] & by_doc[b], (a, b)
    for a in range(5):
        assert not (by_doc[a] & by_doc[5]), a


def test_pca_power_iter_matches_numpy(spark, sf001):
    """The SQL power-iteration step must agree with the straight
    NumPy computation v1 = centered(X)^T (centered(X) @ (1/8)) —
    normalized, sign fixed by the largest-|loading| dimension — to
    the full 6 quantized decimals, AND satisfy the power-iteration
    invariant: one step never decreases the Rayleigh quotient
    (variance captured along the vector), so R(v1) >= R(v0).  (One
    step from a fixed start is NOT asserted to reach the top
    eigenvector — on this corpus the 1/8*ones start is nearly
    orthogonal to it; convergence is the caller's loop, each step of
    which is this query.)"""
    import duckdb
    import numpy as np

    from clara_ocr_spark.queries import REGISTRY

    con = duckdb.connect()
    X = np.vstack(
        con.sql(
            "select embedding from "
            f"read_parquet('{sf001}/embeddings.parquet') order by vec_id"
        ).df()["embedding"]
    )
    con.close()
    Xc = X - X.mean(0)
    v1 = Xc.T @ (Xc @ (np.ones(X.shape[1]) / 8.0))
    v1 = v1 / np.linalg.norm(v1)
    i = int(np.argmax(np.abs(v1)))
    v1 = v1 if v1[i] >= 0 else -v1

    got = {
        r["dim"]: r["loading"]
        for r in REGISTRY["pca_power_iter"][0](spark, sf001).collect()
    }
    exp = {d + 1: round(float(v1[d]), 6) for d in range(X.shape[1])}
    assert got == exp

    C = np.cov(Xc.T)
    v0 = np.ones(X.shape[1]) / 8.0
    r0 = float(v0 @ C @ v0)
    r1 = float(v1 @ C @ v1)
    assert r1 >= r0, (r1, r0)


def test_winnow_near_dup_hot_fingerprint_cap(spark, tmp_path):
    """Adversarial boilerplate: every doc shares one long prefix run
    (the site template), and only two docs share their REMAINDER.
    The df <= FP_MAX_DF cap must (a) drop the template fingerprints
    BEFORE the self-join so the shared prefix creates NO pairs — an
    f-doc fingerprint contributes f^2 candidate rows, the quadratic
    blowup the cap exists to stop — and (b) still pair the two docs
    whose unique remainders genuinely match."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clara_ocr_spark.functions.textsig import FP_MAX_DF
    from clara_ocr_spark.queries import REGISTRY

    n_docs = FP_MAX_DF * 4  # template df = 64 >> cap
    template = " ".join(f"boiler{i:02d} plate{i:02d}" for i in range(40))
    twin = " ".join(f"twin{i:02d} copy{i:02d}" for i in range(30))
    docs = []
    for i in range(n_docs):
        uniq = " ".join(f"u{i:02d}x{j:02d}" for j in range(25))
        body = twin if i in (3, 7) else uniq
        docs.append((i, template + " " + body))
    d = tmp_path / "hotfp_sf"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": [r[1] for r in docs],
                "lang": ["en"] * n_docs,
                "source": ["src0"] * n_docs,
                "n_chars": pa.array(
                    [len(r[1]) for r in docs], pa.int64()
                ),
            }
        ),
        str(d / "documents.parquet"),
    )
    got = REGISTRY["winnow_near_dup"][0](spark, str(d)).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    assert pairs == {(3, 7)}, pairs  # template created no pair


def test_unimax_quota_waterfilling_properties(spark):
    """The closed-form water-fill must satisfy the UniMax invariants
    on an adversarial mix (one giant language, several bound tiny
    ones, one mid): (1) quotas sum EXACTLY to min(budget, sum of
    caps); (2) no quota exceeds its cap; (3) capped languages get
    exactly their cap; (4) uncapped languages' quotas differ by at
    most 1 (the equal-share residue with deterministic remainder)."""
    from clara_ocr_spark.queries import UNIMAX_EPOCHS, REGISTRY
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile, os

    sizes = {"aa": 2, "bb": 3, "cc": 5, "dd": 400, "ee": 4000}
    docs, did = [], 0
    for lang, n_tok in sizes.items():
        # one doc per language with exactly n_tok tokens
        text = " ".join(f"{lang}{j}" for j in range(n_tok))
        docs.append((did, text, lang, "src0", len(text)))
        did += 1
    with tempfile.TemporaryDirectory() as td:
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                    "text": [r[1] for r in docs],
                    "lang": [r[2] for r in docs],
                    "source": [r[3] for r in docs],
                    "n_chars": pa.array(
                        [r[4] for r in docs], pa.int64()
                    ),
                }
            ),
            os.path.join(td, "documents.parquet"),
        )
        rows = {r["lang"]: r for r in
                REGISTRY["unimax_quota"][0](spark, td).collect()}
    budget = sum(sizes.values())
    caps = {k: UNIMAX_EPOCHS * v for k, v in sizes.items()}
    assert sum(r["quota"] for r in rows.values()) == min(
        budget, sum(caps.values())
    )
    for lang, r in rows.items():
        assert r["cap"] == caps[lang]
        assert r["quota"] <= r["cap"]
    capped = {k for k, r in rows.items() if r["quota"] == r["cap"]}
    # tiny languages bind at their 4-epoch cap; the giant cannot
    assert {"aa", "bb", "cc"} <= capped and "ee" not in capped
    uncapped_q = [r["quota"] for k, r in rows.items() if k not in capped]
    assert max(uncapped_q) - min(uncapped_q) <= 1


def test_kcore_peel_matches_bruteforce(spark, sf001):
    """The 3-round Spark peel must equal a plain-Python peel of the
    same graph (same median k, same 3 rounds, distinct-neighbor
    degrees) — node set AND final degrees."""
    import duckdb

    from clara_ocr_spark.queries import REGISTRY

    con = duckdb.connect()
    edges = con.sql(f"""
        select distinct 'C' || o.o_custkey as u, 'S' || l.l_suppkey as v
        from read_parquet('{sf001}/lineitem.parquet') l
        join read_parquet('{sf001}/orders.parquet') o
          on l.l_orderkey = o.o_orderkey
    """).fetchall()
    con.close()
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    degs = sorted(len(s) for s in adj.values())
    n = len(degs)
    # exact median of the counting-sort definition: min d with
    # 2*cum >= n over the sorted degree histogram
    cum = 0
    seen = 0
    k = None
    for d in degs:
        seen += 1
        if 2 * seen >= n:
            k = d
            break
    live = set(adj)
    for _ in range(3):
        live = {u for u in live
                if len(adj[u] & live) >= k and (adj[u] & live)}
        # drop isolated survivors exactly like the groupBy does
        live = {u for u in live if adj[u] & live}
    exp = {u: len(adj[u] & live) for u in live}

    got = {
        r["node"]: (r["deg"], r["k"])
        for r in REGISTRY["kcore_peel"][0](spark, sf001).collect()
    }
    assert all(kk == k for _, kk in got.values())
    assert {u: d for u, (d, _) in got.items()} == exp


def test_ks_drift_identical_slices_zero(spark, tmp_path):
    """Two snapshot slices with IDENTICAL length distributions must
    produce D = 0 exactly (the self-consistency property the
    corpus-health parity probe relies on): every even doc has an odd
    twin of the same n_chars."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clara_ocr_spark.queries import REGISTRY

    docs = []
    for i in range(50):
        ln = 20 + 7 * (i % 9)
        for par in (0, 1):  # doc_id 2i (slice a) and 2i+1 (slice b)
            docs.append((2 * i + par, "x" * ln, "en", "src0", ln))
    d = tmp_path / "ks_sf"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": [r[1] for r in docs],
                "lang": [r[2] for r in docs],
                "source": [r[3] for r in docs],
                "n_chars": pa.array([r[4] for r in docs], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    rows = REGISTRY["ks_drift"][0](spark, str(d)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_a"], r["n_b"], r["d_pm"]) == (50, 50, 0)


def test_ks_drift_empty_slice_zero(spark, sf001, tmp_path):
    """A snapshot slice with no documents (every doc_id even) gives
    D = 0 and a zero slice size, not a division by zero, in BOTH
    engines: the guard of the corpus-health parity probe, whose KS
    expression ks_drift shares, and the oracle SQL's own guard.  All
    gaps are 0, so the argmax is the shortest length."""
    d = tmp_path / "ks_sf"
    d.mkdir()
    for t in TABLES:
        if t != "documents":
            (d / f"{t}.parquet").symlink_to(f"{sf001}/{t}.parquet")
    docs = [
        {"doc_id": 2 * i, "text": "x" * (20 + i), "lang": "en",
         "source": "src0", "n_chars": 20 + i}
        for i in range(10)
    ]
    pq.write_table(pa.Table.from_pylist(docs), str(d / "documents.parquet"))
    fn, sql = REGISTRY["ks_drift"]
    rows = fn(spark, str(d)).collect()
    assert [tuple(r) for r in rows] == [(10, 0, 0, 20)]
    con = duck_connect(str(d))
    try:
        assert con.sql(sql).fetchall() == [(10, 0, 0, 20)]
    finally:
        con.close()


def test_burst_detect_planted_spike(spark, tmp_path):
    """A planted 10x single-day spike on one event type must be
    flagged with the exact integer burst score, and the steady type
    must produce NO flags (constant daily counts never clear the
    1.5x gate)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from clara_ocr_spark.queries import REGISTRY

    rows, eid = [], 0
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    for day in range(10):
        n_spiky = 40 if day == 7 else 4
        for etype, n in (("steady", 4), ("spiky", n_spiky)):
            for j in range(n):
                rows.append(
                    (eid, base + datetime.timedelta(days=day, seconds=j),
                     j % 5, etype, 1.0, "{}")
                )
                eid += 1
    d = tmp_path / "burst_ev"
    d.mkdir()
    import os
    from clara_ocr_spark.oracle import TABLES
    for t in TABLES:
        if t != "events":
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                       str(d / f"{t}.parquet"))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows],
                               pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": [r[3] for r in rows],
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": [r[5] for r in rows],
            }
        ),
        str(d / "events.parquet"),
    )
    got = REGISTRY["burst_detect"][0](spark, str(d)).collect()
    assert len(got) == 1
    r = got[0]
    # trailing 3 days carry 4 each; 3000*40 // 12 = 10000 per-mille
    assert (r["event_type"], r["day"], r["n"], r["trail_n"],
            r["burst_pm"]) == ("spiky", "2024-03-08", 40, 12, 10000)


def test_hubness_planted_hub(spark, tmp_path):
    """A planted centroid-like vector (the average direction of every
    other vector) must dominate the k-occurrence counts: its N_k is
    the maximum, and the histogram's mass sums to HUB_K * |query
    sample| selections exactly."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clara_ocr_spark.queries import HUB_K, REGISTRY

    rng = np.random.default_rng(7)
    hub = rng.normal(size=64)
    hub /= np.linalg.norm(hub)
    noise = rng.normal(size=(60, 64))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    # every vector leans 0.6 along the hub direction: cos(x, hub)
    # ~ 0.51 while pairwise cos(x_i, x_j) ~ 0.26 — the hub is
    # (nearly) everyone's nearest neighbor, nobody else is
    base = noise + 0.6 * hub
    base[0] = hub  # the planted hub itself
    d = tmp_path / "hub_sf"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(60), pa.int64()),
                "embedding": pa.array(
                    [row.astype("float32").tolist() for row in base],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([i % 5 for i in range(60)],
                                  pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    got = {r["n_k"]: r["n_vectors"] for r in
           REGISTRY["hubness_audit"][0](spark, str(d)).collect()}
    n_queries = len([i for i in range(60) if i % 10 == 0])
    assert sum(k * v for k, v in got.items()) == HUB_K * n_queries
    # the planted hub sits in (nearly) every sampled query's top-k:
    # the histogram's max occupied N_k is at least n_queries - 1
    assert max(got) >= n_queries - 1


def test_good_turing_saturated_corpus(spark, tmp_path):
    """A corpus where every bigram type occurs exactly twice has
    N1 = 0: missing mass p0 = 0 and Chao1 = V exactly (the
    bias-corrected branch with N1 = 0) — the 'crawl exhausted'
    reading the estimator exists to detect."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clara_ocr_spark.queries import REGISTRY

    # two identical docs -> every bigram type has count exactly 2
    text = " ".join(f"w{i:02d}" for i in range(40))
    docs = [(0, text, "en", "src0", len(text)),
            (1, text, "en", "src0", len(text))]
    d = tmp_path / "gt_sf"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": [r[1] for r in docs],
                "lang": [r[2] for r in docs],
                "source": [r[3] for r in docs],
                "n_chars": pa.array([r[4] for r in docs], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    rows = REGISTRY["good_turing_mass"][0](spark, str(d)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["v"], r["n_tokens"], r["n1"], r["n2"]) == (39, 78, 0, 39)
    assert r["p0_pm"] == 0 and r["chao1"] == 39


def test_retrieval_stack_planted_relevance(spark, tmp_path):
    """A planted document saturated with all three query terms must
    rank #1 under BM25, under the fused RRF order, and carry the top
    relevance grade in the nDCG fixture; term-free documents must be
    absent from every ranking.  (The ranking property test behind
    the oracle parity: the scores don't just match DuckDB, they
    point at the right document.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clara_ocr_spark.queries import REGISTRY, RET_QUERY

    docs = []
    sat = " ".join(" ".join(RET_QUERY) for _ in range(20))
    docs.append((0, sat))                       # all terms, high tf
    docs.append((1, "spark only here " + "pad " * 40))   # one term
    docs.append((2, "query stream mixed " + "pad " * 40))  # two terms
    for i in range(3, 30):
        docs.append((i, " ".join(f"noise{i}x{j}" for j in range(30))))
    d = tmp_path / "ret_sf"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": [r[1] for r in docs],
                "lang": ["en"] * len(docs),
                "source": ["src0"] * len(docs),
                "n_chars": pa.array([len(r[1]) for r in docs],
                                    pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    bm = REGISTRY["bm25_scores"][0](spark, str(d)).collect()
    assert bm[0]["doc_id"] == 0  # saturated doc wins
    assert {r["doc_id"] for r in bm} == {0, 1, 2}  # term-free absent

    fused = REGISTRY["rrf_fusion"][0](spark, str(d)).collect()
    assert fused[0]["doc_id"] == 0
    assert fused[0]["n_systems"] == 2  # top doc ranked by BOTH systems

    ndcg = REGISTRY["ndcg_eval"][0](spark, str(d)).collect()
    assert len(ndcg) == 1 and ndcg[0]["n_scored"] == 3
    # the BM25 order (0: rel 3, 2: rel 2, 1: rel 1) IS the ideal
    # order here, so nDCG@10 must be exactly 1000 milli-units
    assert ndcg[0]["ndcg_m"] == 1000
