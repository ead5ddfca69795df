"""Link extraction stage: parser edge cases, url resolution, and the
Spark stage + graph/anchor aggregations over the synthetic corpus."""

from __future__ import annotations

import pyarrow as pa
import pyspark.sql.functions as F

from clara_ocr_spark.sources.corpus import PAGES_SCHEMA, gen_page
from clara_ocr_spark.stages.links import (
    extract_links,
    host_graph,
    parse_links,
    top_anchor_text,
)

BASE = "https://host.example/dir/page"


def test_parse_links_resolution_and_filters():
    html = b"""
    <html><body>
      <a href="/abs/path">rooted</a>
      <a href="rel">relative</a>
      <a href="https://other.example/x?q=1">absolute</a>
      <a href="#frag">fragment only</a>
      <a href="javascript:void(0)">js</a>
      <a href="mailto:x@y.z">mail</a>
      <a href="//proto.example/p">protocol-relative</a>
    </body></html>"""
    got = parse_links(html, BASE)
    dsts = [d for d, _, _, _ in got]
    assert dsts == [
        "https://host.example/abs/path",
        "https://host.example/dir/rel",
        "https://other.example/x?q=1",
        "https://proto.example/p",
    ]
    hosts = [h for _, h, _, _ in got]
    assert hosts == [
        "host.example", "host.example", "other.example", "proto.example",
    ]


def test_parse_links_nested_unclosed_nofollow():
    html = b"""
    <a href="/a"><b>bold <i>anchor</i></b> text</a>
    <a href="/sponsored" rel="sponsored NOFOLLOW">paid</a>
    <a href="/dangling">never closed
    """
    got = parse_links(html, BASE)
    assert got[0][2] == "bold anchor text"  # nested tags flattened
    assert got[1][3] is True  # rel token match, case-insensitive
    assert got[0][3] is False
    assert got[2][0].endswith("/dangling")  # EOF flushes the open <a>
    # implicit close: a new <a> before the old one ends
    got2 = parse_links(b'<a href="/one">first <a href="/two">second</a>', BASE)
    assert [(d.rsplit("/", 1)[1], a) for d, _, a, _ in got2] == [
        ("one", "first"), ("two", "second"),
    ]


def test_parse_links_corrupt_input_contract():
    assert parse_links(None, BASE) == []
    assert parse_links(b"\xff\xfe\x00garbage<<<<", BASE) == []


def test_extract_links_stage_and_graph(spark):
    rows = [gen_page(i, seed=23) for i in range(80)]
    pages = spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=PAGES_SCHEMA).to_pandas()
    )
    links = extract_links(pages).localCheckpoint(eager=False)
    n = links.count()
    assert n > 100  # nav + linkfarm templates emit plenty
    # corpus hrefs are site-relative → every edge stays on the page host
    bad = links.filter(
        F.col("dst_host")
        != F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1)
    ).count()
    assert bad == 0
    assert links.filter(~F.col("dst_url").startswith("https://")).count() == 0

    g = host_graph(links)
    gr = {(r["src_host"], r["dst_host"]): r["n_links"] for r in g.collect()}
    assert all(s == d for s, d in gr)  # self-edges only, by construction
    assert sum(gr.values()) == n  # no nofollow in the corpus → all kept

    top = top_anchor_text(links)
    t = top.filter(F.col("n_inlinks") >= 2).limit(5).collect()
    for r in t:
        assert r["top_anchor_n"] >= 1 and r["top_anchor"]


def test_top_anchor_election_deterministic(spark):
    rows = [
        ("u1", "https://t/x", "t", "beta", False),
        ("u2", "https://t/x", "t", "alpha", False),
        ("u3", "https://t/x", "t", "alpha", False),
        ("u4", "https://t/x", "t", "beta", False),
        ("u5", "https://t/x", "t", "zzz", False),
    ]
    links = spark.createDataFrame(
        rows, "url string, dst_url string, dst_host string, "
        "anchor string, nofollow boolean"
    )
    r = top_anchor_text(links).collect()[0]
    # alpha and beta tie at 2; text-asc tiebreak elects alpha
    assert (r["n_inlinks"], r["top_anchor"], r["top_anchor_n"]) == (5, "alpha", 2)
    # partitioning invariance
    r2 = top_anchor_text(links.repartition(7)).collect()[0]
    assert r.asDict() == r2.asDict()


def test_pagerank_topk_plan_not_global_window(spark, sf001):
    """The rank-table top-k must compile to TakeOrderedAndProject
    (per-partition partial top-k) — NOT a row_number() window over an
    unpartitioned sort, which funnels the entire |hosts| rank table
    (~1e8 rows at 100 TB) through one task (VERDICT r4 'what's
    wrong')."""
    from clara_ocr_spark.queries import REGISTRY

    df = REGISTRY["pagerank_bipartite"][0](spark, sf001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan


# ---------------------------------------------------------------- fuzz
from hypothesis import given, settings
from hypothesis import strategies as st

_SLUG = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789-", min_size=1, max_size=12
)
_ANCHOR = st.text(
    alphabet="abcdefghij klmnop", min_size=1, max_size=30
).map(lambda s: " ".join(s.split()))


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(_SLUG, _ANCHOR), min_size=0, max_size=8))
def test_parse_links_roundtrip(pairs):
    """Build html from a known link list → parse recovers every link,
    in document order, with resolved urls and flattened anchors."""
    body = "".join(
        f'<p>noise</p><a href="/{slug}">{anchor or "x"}</a>'
        for slug, anchor in pairs
    )
    got = parse_links(f"<html><body>{body}</body></html>".encode(), BASE)
    assert len(got) == len(pairs)
    for (slug, anchor), (dst, host, text, nofollow) in zip(pairs, got):
        assert dst == f"https://host.example/{slug}"
        assert host == "host.example"
        assert text == (anchor or "x").strip() or anchor.strip() == text
        assert nofollow is False


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=400))
def test_parse_links_never_crashes(raw):
    out = parse_links(raw, BASE)
    assert isinstance(out, list)
    for dst, host, _, _ in out:
        assert host and "://" in dst


def test_frontier_candidates(spark):
    """Next-wave candidates: harvested dsts minus crawled, indegree
    priority from DISTINCT in-linking pages, nofollow edges don't
    vote."""
    from clara_ocr_spark.stages.links import frontier_candidates

    links = spark.createDataFrame(
        [
            # 2 distinct pages point at /new1 (one twice: counts once)
            ("https://a.example/p1", "https://x.example/new1",
             "x.example", "t", False),
            ("https://a.example/p1", "https://x.example/new1",
             "x.example", "t2", False),
            ("https://a.example/p2", "https://x.example/new1",
             "x.example", "t", False),
            # 1 page points at /new2; a nofollow edge doesn't vote
            ("https://a.example/p2", "https://x.example/new2",
             "x.example", "t", False),
            ("https://a.example/p1", "https://x.example/new2",
             "x.example", "t", True),
            # already crawled -> excluded
            ("https://a.example/p1", "https://a.example/p2",
             "a.example", "t", False),
        ],
        "url string, dst_url string, dst_host string, anchor string, "
        "nofollow boolean",
    )
    crawled = spark.createDataFrame(
        [("https://a.example/p1",), ("https://a.example/p2",)],
        "url string",
    )
    got = {r["url"]: r for r in
           frontier_candidates(links, crawled).collect()}
    assert set(got) == {"https://x.example/new1", "https://x.example/new2"}
    assert got["https://x.example/new1"]["priority"] == 2
    assert got["https://x.example/new2"]["priority"] == 1
    assert got["https://x.example/new1"]["host"] == "x.example"


def test_frontier_strips_fragments(spark):
    """Review finding r5: fragment variants of one target are ONE
    candidate, and a fragment variant of an already-crawled page
    cannot re-enter the schedule."""
    from clara_ocr_spark.stages.links import frontier_candidates

    links = spark.createDataFrame(
        [("https://a.example/p1", "https://h/guide.html#install",
          "h", "t", False),
         ("https://a.example/p2", "https://h/guide.html#usage",
          "h", "t", False),
         ("https://a.example/p1", "https://h/new#frag", "h", "t", False),
         ("https://a.example/p2", "https://h/new", "h", "t", False)],
        "url string, dst_url string, dst_host string, anchor string, "
        "nofollow boolean",
    )
    crawled = spark.createDataFrame(
        [("https://h/guide.html",)], "url string"
    )
    got = {r["url"]: r["priority"]
           for r in frontier_candidates(links, crawled).collect()}
    # guide.html (already crawled) excluded despite fragment variants;
    # the two 'new' forms collapse to one candidate with indegree 2
    assert got == {"https://h/new": 2}


def test_anchor_election_plan_window_free(spark, sf001):
    """The election must stay a two-level aggregate (groupBy + MIN over
    a (-n, anchor) struct) — never a row_number() window over the full
    link table, which would sort every (dst, anchor) group through
    window state at 10^12 links.  Pinned for both sites: the stage and
    the catalog query."""
    from clara_ocr_spark.queries import REGISTRY

    links = spark.createDataFrame(
        [("d1", "alpha"), ("d1", "alpha"), ("d1", "beta"), ("d2", "")],
        "dst_url string, anchor string",
    )
    for df in (
        top_anchor_text(links),
        REGISTRY["anchor_election"][0](spark, sf001),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "Exchange SinglePartition" not in plan


def test_reciprocity_ledger_differential_random_graph(spark):
    """Seeded random digraph vs a pure-Python oracle: exact equality
    of the whole ledger (neighbors, reciprocal counts, per-mille,
    flag) — the differential-twin discipline of test_fastparse applied
    to the reciprocity accounting."""
    import random

    from clara_ocr_spark.stages.links import reciprocity_ledger

    rng = random.Random(20260819)
    hosts = ["h%02d" % i for i in range(20)]
    edges = [
        (rng.choice(hosts), rng.choice(hosts)) for _ in range(300)
    ]
    # python oracle
    de = {(s, d) for s, d in edges if s != d}
    pairs = {}
    for s, d in de:
        k = (min(s, d), max(s, d))
        pairs[k] = pairs.get(k, 0) + 1
    want = {}
    for (x, y), n_dir in pairs.items():
        for h in (x, y):
            nb, rc = want.get(h, (0, 0))
            want[h] = (nb + 1, rc + (1 if n_dir == 2 else 0))
    expect = {
        h: (
            nb,
            rc,
            1000 * rc // nb,
            (1000 * rc // nb >= 500) and nb >= 3,
        )
        for h, (nb, rc) in want.items()
    }

    df = spark.createDataFrame(
        edges, "src_host string, dst_host string"
    )
    got = {
        r["host"]: (
            r["n_neighbors"],
            r["n_reciprocal"],
            r["recip_pm"],
            r["link_farm"],
        )
        for r in reciprocity_ledger(df).collect()
    }
    assert got == expect
