"""robots.txt production stage: RFC 9309 group parsing, crawl-delay
election, paced frontier schedule."""

from __future__ import annotations

import pyspark.sql.functions as F

from clara_ocr_spark.stages.robots import (
    crawl_delays,
    paced_schedule,
    parse_robots,
    parse_robots_bytes,
)

FIXTURE = b"""\
\xef\xbb\xbf# global sitemap, outside any group
Sitemap: https://s.example/sitemap.xml

User-agent: clarabot
User-agent: otherbot
Disallow: /private/
Allow: /private/ok
Crawl-delay: 10

User-agent: *
Disallow: /tmp/
Crawl-delay: 2.5
Crawl-delay: not-a-number
Unknown-directive: ignored

Disallow: /orphan-after-blank-is-still-star-group
"""


def test_parse_groups_and_kinds():
    rows = parse_robots_bytes(FIXTURE)
    # sitemap is a non-group record with agent ''
    assert ("", "sitemap", "https://s.example/sitemap.xml", 0) in rows
    # shared group: both UA tokens carry the same rules
    for a in ("clarabot", "otherbot"):
        assert (a, "disallow", "/private/", 1) in rows
        assert (a, "allow", "/private/ok", 2) in rows
        assert (a, "crawl_delay", "10", 3) in rows
    # the * group; the blank line does NOT end it (RFC: a group ends
    # at the next User-agent line), so the trailing rule is still its
    star = [(k, v) for a, k, v, _ in rows if a == "*"]
    assert ("disallow", "/tmp/") in star
    assert ("crawl_delay", "2.5") in star
    assert ("crawl_delay", "not-a-number") in star
    assert ("disallow", "/orphan-after-blank-is-still-star-group") in star
    # unknown directives dropped
    assert not [r for r in rows if r[1] == "unknown_directive"]


def test_parse_edge_cases():
    assert parse_robots_bytes(None) == []
    assert parse_robots_bytes(b"") == []
    # rules before any User-agent line belong to no group -> dropped
    assert parse_robots_bytes(b"Disallow: /x\n") == []
    # UA line after rules starts a NEW group
    rows = parse_robots_bytes(
        b"User-agent: a\nDisallow: /1\nUser-agent: b\nDisallow: /2\n"
    )
    assert ("a", "disallow", "/1", 0) in rows
    assert ("b", "disallow", "/2", 1) in rows
    assert ("b", "disallow", "/1", 0) not in rows
    assert ("a", "disallow", "/2", 1) not in rows
    # case-insensitive keys and agent tokens
    rows = parse_robots_bytes(b"USER-AGENT: ClaraBot\nDISALLOW: /X\n")
    assert rows == [("clarabot", "disallow", "/X", 0)]


def test_crawl_delay_election(spark):
    payloads = [
        ("https://a.example/robots.txt", FIXTURE),  # exact group: 10
        # only a * delay
        ("https://b.example/robots.txt",
         b"User-agent: *\nCrawl-delay: 3\n"),
        # no delay at all
        ("https://c.example/robots.txt",
         b"User-agent: *\nDisallow: /x\n"),
        # exact group without delay, * with one: * wins by coalesce
        ("https://d.example/robots.txt",
         b"User-agent: clarabot\nDisallow: /y\n"
         b"User-agent: *\nCrawl-delay: 7\n"),
    ]
    rules = parse_robots(
        spark.createDataFrame(payloads, "url string, payload binary")
    )
    got = {r["host"]: r["delay_s"]
           for r in crawl_delays(rules, "ClaraBot").collect()}
    assert got == {"a.example": 10.0, "b.example": 3.0, "d.example": 7.0}


def test_paced_schedule(spark):
    frontier = spark.createDataFrame(
        [(f"https://slow.example/p{i}", "slow.example", 100 - i)
         for i in range(3)]
        + [(f"https://fast.example/p{i}", "fast.example", 100 - i)
           for i in range(3)],
        "url string, host string, priority int",
    )
    delays = spark.createDataFrame(
        [("slow.example", 10.0)], "host string, delay_s double"
    )
    rows = paced_schedule(frontier, delays, default_delay_s=1.0).collect()
    sched = {r["url"]: (r["wave"], r["offset_s"]) for r in rows}
    # priority order: p0 (highest) first; slow host trickles at 10 s
    assert sched["https://slow.example/p0"] == (1, 0.0)
    assert sched["https://slow.example/p2"] == (3, 20.0)
    # undeclared host runs at the crawler default
    assert sched["https://fast.example/p2"] == (3, 2.0)


def test_paced_schedule_bounded_plan(spark):
    """max_waves plans a WindowGroupLimit below the exchange — each
    map task ships at most max_waves rows per host (the frontier_waves
    catalog pin applied to the production twin)."""
    frontier = spark.createDataFrame(
        [("https://h.example/p", "h.example", 1)],
        "url string, host string, priority int",
    )
    delays = frontier.select(
        "host", F.lit(1.0).alias("delay_s")
    ).limit(0)
    plan = paced_schedule(frontier, delays, max_waves=8)._jdf\
        .queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_robots_gate(spark):
    """Production RFC gate over parsed rules: wildcard + $ grammar,
    most-specific wins with allow tie-break, exact-agent group
    preempts *, rule-less hosts default-allow, empty patterns
    dropped."""
    from clara_ocr_spark.stages.robots import parse_robots, robots_gate

    payloads = [
        ("https://w.example/robots.txt",
         b"User-agent: *\n"
         b"Disallow: /private/*\n"
         b"Allow: /private/*.html$\n"
         b"Allow: /\n"),
        # exact group for clarabot: blocks /x/; the * group would
        # allow everything -- exact must preempt
        ("https://e.example/robots.txt",
         b"User-agent: clarabot\nDisallow: /x/\n"
         b"User-agent: *\nDisallow:\n"),
    ]
    rules = parse_robots(
        spark.createDataFrame(payloads, "url string, payload binary")
    )
    urls = spark.createDataFrame(
        [("https://w.example/p/1", "w.example"),
         ("https://w.example/private/a", "w.example"),
         ("https://w.example/private/a.html", "w.example"),
         ("https://e.example/x/1", "e.example"),
         ("https://e.example/ok", "e.example"),
         ("https://norules.example/p", "norules.example")],
        "url string, host string",
    )
    got = {r["url"]: r["verdict"]
           for r in robots_gate(urls, rules, "ClaraBot").collect()}
    assert got == {
        "https://w.example/p/1": "allowed",            # Allow: /
        "https://w.example/private/a": "blocked",      # /private/*
        # the LONGER allow /private/*.html$ beats the block
        "https://w.example/private/a.html": "allowed",
        "https://e.example/x/1": "blocked",            # exact group
        "https://e.example/ok": "default_allow",       # no match in it
        "https://norules.example/p": "default_allow",
    }


def test_robots_gate_matches_query_string(spark):
    from clara_ocr_spark.stages.robots import parse_robots, robots_gate

    rules = parse_robots(spark.createDataFrame(
        [("https://q.example/robots.txt",
          b"User-agent: *\nDisallow: /*?sid=\n")],
        "url string, payload binary",
    ))
    urls = spark.createDataFrame(
        [("https://q.example/a?sid=9", "q.example"),
         ("https://q.example/a", "q.example")],
        "url string, host string",
    )
    got = {r["url"]: r["verdict"]
           for r in robots_gate(urls, rules).collect()}
    assert got["https://q.example/a?sid=9"] == "blocked"
    assert got["https://q.example/a"] == "default_allow"


#: (pattern, path, matches): the RFC 9309 grammar — ``*``, a trailing
#: ``$`` anchor, a literal mid-string ``$`` — and every regex
#: metacharacter, each of which must match only itself
RX_CASES = [
    ("/a*b", "/axxb/c", True),
    ("/a*b", "/ab", True),
    ("/a*b", "/xab", False),
    ("/*.php$", "/dir/x.php", True),
    ("/*.php$", "/dir/x.php5", False),
    ("/a.html$", "/a.html", True),
    ("/a.html$", "/aXhtml", False),
    ("/a$b", "/a$bc", True),
    ("/a$b", "/a", False),
    ("/x+y", "/x+y", True),
    ("/x+y", "/xxy", False),
    ("/(a)", "/(a)", True),
    ("/(a)", "/a", False),
    ("/[ab]", "/[ab]", True),
    ("/[ab]", "/a", False),
    ("/q?id=", "/q?id=1", True),
    ("/q?id=", "/qid=", False),
    ("/a|b", "/a|b", True),
    ("/a|b", "/b", False),
    ("/{2}", "/{2}", True),
    ("/{2}", "//", False),
    ("/^x", "/^x", True),
    ("/^x", "/x", False),
    ("/back\\slash", "/back\\slash", True),
    ("/back\\slash", "/backslash", False),
    ("/a\\*", "/a\\zz", True),
    ("/a\\$", "/a\\", True),
    ("/a\\$", "/a\\x", False),
]


def test_rule_compilers_agree(spark):
    """The catalog's `robots_wildcards` oracle compiles its rules with
    ``queries._robots_rx`` (Python, into DuckDB VALUES) while the
    entry computes through production's column compile
    ``_pattern_rx``: both must match exactly the same paths under
    Spark's ``rlike``, and the expected ones."""
    from clara_ocr_spark.queries import _robots_rx
    from clara_ocr_spark.stages.robots import _pattern_rx

    df = spark.createDataFrame(
        [(p, _robots_rx(p), path) for p, path, _ in RX_CASES],
        "pattern string, oracle_rx string, path string",
    ).select(
        "pattern",
        "path",
        "oracle_rx",
        _pattern_rx(F.col("pattern")).alias("prod_rx"),
    ).select(
        "pattern",
        "path",
        F.expr("path rlike oracle_rx").alias("oracle"),
        F.expr("path rlike prod_rx").alias("prod"),
    )
    got = {(r["pattern"], r["path"]): (r["oracle"], r["prod"])
           for r in df.collect()}
    assert got == {(p, path): (m, m) for p, path, m in RX_CASES}


def test_parse_never_crashes_fuzz():
    """Adversarial payload fuzz: the parser is total — any byte soup
    yields a (possibly empty) rule list with the contract shape."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(st.binary(max_size=400))
    def prop(payload):
        rows = parse_robots_bytes(payload)
        for agent, kind, value, o in rows:
            assert kind in {"allow", "disallow", "crawl_delay", "sitemap"}
            assert (agent == "") == (kind == "sitemap")
            assert isinstance(value, str) and isinstance(o, int)

    prop()


def test_robots_gate_empty_path_and_exempt_group(spark):
    """Review findings r5: a bare-domain url matches as path '/', and
    an exact-agent group consisting only of 'Disallow:' (the standard
    exempt-one-bot pattern) is still ELECTED — allowing everything —
    instead of falling through to a blocking * group."""
    from clara_ocr_spark.stages.robots import parse_robots, robots_gate

    rules = parse_robots(spark.createDataFrame(
        [
            ("https://root.example/robots.txt",
             b"User-agent: *\nDisallow: /\n"),
            ("https://exempt.example/robots.txt",
             b"User-agent: clarabot\nDisallow:\n\n"
             b"User-agent: *\nDisallow: /\n"),
            # exact group holding ONLY a crawl-delay still elects
            ("https://delayonly.example/robots.txt",
             b"User-agent: clarabot\nCrawl-delay: 5\n\n"
             b"User-agent: *\nDisallow: /\n"),
        ],
        "url string, payload binary",
    ))
    urls = spark.createDataFrame(
        [("https://root.example", "root.example"),
         ("https://root.example?q=1", "root.example"),
         ("https://exempt.example/anything", "exempt.example"),
         ("https://delayonly.example/p", "delayonly.example")],
        "url string, host string",
    )
    got = {r["url"]: r["verdict"]
           for r in robots_gate(urls, rules, "clarabot").collect()}
    # empty path reads as '/': both bare-domain forms are blocked
    assert got["https://root.example"] == "blocked"
    assert got["https://root.example?q=1"] == "blocked"
    # the exempt exact group wins and has no match rules -> default
    assert got["https://exempt.example/anything"] == "default_allow"
    assert got["https://delayonly.example/p"] == "default_allow"


def test_robots_gate_and_pacing_host_normalization(spark):
    """Review finding r5: a ':port' (or mixed-case) frontier host must
    still meet its host's rules and crawl-delay."""
    from clara_ocr_spark.stages.robots import (
        crawl_delays,
        paced_schedule,
        parse_robots,
        robots_gate,
    )

    rules = parse_robots(spark.createDataFrame(
        [("https://H.example/robots.txt",
          b"User-agent: *\nDisallow: /private/\nCrawl-delay: 10\n")],
        "url string, payload binary",
    ))
    urls = spark.createDataFrame(
        [("https://h.example:8443/private/x", "h.example:8443"),
         ("https://H.example/ok", "H.example")],
        "url string, host string",
    )
    got = {r["url"]: r["verdict"]
           for r in robots_gate(urls, rules).collect()}
    assert got["https://h.example:8443/private/x"] == "blocked"
    assert got["https://H.example/ok"] == "default_allow"
    frontier = spark.createDataFrame(
        [("https://h.example:8443/a", "h.example:8443", 2),
         ("https://h.example:8443/b", "h.example:8443", 1)],
        "url string, host string, priority int",
    )
    sched = {r["url"]: r["offset_s"] for r in paced_schedule(
        frontier, crawl_delays(rules)).collect()}
    assert sched["https://h.example:8443/b"] == 10.0  # delay applied


def test_gate_survives_malformed_frontier_urls(spark):
    """Review finding r5: a harvested link with a raw space (which
    parse_links emits for href="/a b") must not abort the gate under
    ANSI-default Spark 4 — try_parse_url, with the NULL path reading
    as '/' (the conservative root match)."""
    from clara_ocr_spark.stages.robots import robots_gate

    rules = spark.createDataFrame(
        [("http://h.com/robots.txt", "*", "disallow", "/x")],
        "robots_url string, agent string, kind string, value string",
    )
    urls = spark.createDataFrame(
        [("http://h.com/a b", "h.com"), ("http://h.com/x/1", "h.com")],
        "url string, host string",
    )
    got = {r["url"]: r["verdict"]
           for r in robots_gate(urls, rules, agent="clarabot").collect()}
    assert got["http://h.com/a b"] == "default_allow"
    assert got["http://h.com/x/1"] == "blocked"


def test_paced_schedule_one_queue_per_origin(spark):
    """Review finding r5: userinfo/case variants of one host are ONE
    politeness queue — the wave window partitions by the same
    normalized host the delay join uses, so 'alice@h.com' and 'h.com'
    cannot both fetch at offset 0."""
    from clara_ocr_spark.stages.robots import paced_schedule

    delays = spark.createDataFrame(
        [("h.com", 10.0)], "host string, delay_s double"
    )
    frontier = spark.createDataFrame(
        [("http://alice@h.com/a", "alice@h.com", 5),
         ("http://h.com/b", "h.com", 3)],
        "url string, host string, priority int",
    )
    sched = {r["url"]: (r["wave"], r["offset_s"])
             for r in paced_schedule(frontier, delays).collect()}
    assert sched["http://alice@h.com/a"] == (1, 0.0)
    assert sched["http://h.com/b"] == (2, 10.0)
