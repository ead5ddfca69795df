"""Crawl-audit stages over REAL url tables.

These stages run over actual ``url:string`` columns — crawled urls
from the pages table, declared urls from
``sources/sitemap.read_sitemaps`` output, frontier urls from the links
harvest — so a parquet-backed url table gets real predicate pushdown
and column pruning at the scan (tests/test_crawl_audit.py pins
``PushedFilters`` on the url column).  The catalog entries
``url_trap_audit`` and ``revisit_policy`` synthesize url spaces from
``event_id``/``doc_id`` (the driver's oracle runs against the fixed
ten-table sf schema) and then call ``url_trap_audit_urls`` /
``revisit_schedule`` here, so their DuckDB oracles check this code.
``sitemap_coverage`` stays a separate plan: its keys differ from
``sitemap_coverage_urls``.

Reference analogue: the coverage ledger is the crawl-side dual of the
reference's per-page completeness accounting (write_report,
clara.c:3447-3487 neighborhood); the trap audit is its run-on symbol
splitter applied to url space (avoid_links, pbm2cl.c:824-1296 — both
detect one logical object exploded into unbounded variants).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _host(col):
    """Host of a url — JVM-side ``try_parse_url`` (no Python, no UDF;
    the ``try_`` form because Spark 4 runs ANSI by default, where
    plain ``parse_url`` THROWS on a malformed url — one harvested
    link with a raw space would abort the whole audit job instead of
    falling through — review finding r5); scheme-less inputs
    ('h3/p7?sid=1', a CDX-style capture key) fall back to the first
    path segment.  The fallback strips the query and fragment BEFORE
    taking the first '/'-segment: a root-path session-id trap
    ('h3?sid=1', 'h3?sid=2', … with no path slash) must group under
    ONE host 'h3' — splitting the raw string would mint a fresh
    "host" per parameter variant and report exactly the trap hosts
    this audit exists to catch as perfectly healthy (review finding
    r5)."""
    stripped = F.split_part(
        F.split_part(col, F.lit("?"), F.lit(1)), F.lit("#"), F.lit(1)
    )
    # the fallback also serves scheme-FUL urls whose authority
    # java.net.URI rejects (underscore hostnames: parse succeeds,
    # getHost() is null — review finding r5) and malformed urls, so
    # it must strip 'scheme://' — else the first '/'-segment reads
    # the literal 'http:' as the host.  Protocol-relative '//host/…'
    # carries a real host the bare split would read as '' (merging
    # unrelated sites into one '' ledger row — review finding r5);
    # path-only '/p1' keeps '' (it genuinely has no host)
    rel = F.regexp_replace(
        stripped, r"^(?i)([a-z][a-z0-9+.-]*:)?//", ""
    )
    return F.coalesce(
        F.try_parse_url(col, F.lit("HOST")),
        F.split_part(rel, F.lit("/"), F.lit(1)),
    )


def norm_host(col):
    """Canonical per-host ledger / politeness-queue identity of an
    authority string: lowercase, userinfo and ``:port`` stripped.
    THE one copy of this algebra — the r5 review rounds each caught a
    host-keyed join missing because one site normalized and its peer
    didn't ('Example.com' vs 'example.com' splitting a coverage row,
    ':8443' candidates missing their robots rules), so every host
    equi-join and host rollup in robots/domains/crawl_audit routes
    through here."""
    return F.lower(
        F.substring_index(F.substring_index(col, "@", -1), ":", 1)
    )


def sitemap_coverage_urls(
    crawled: DataFrame, declared: DataFrame
) -> DataFrame:
    """Per-host sitemap-vs-crawl coverage over real url tables.

    ``crawled``: any frame with a ``url`` column (the pages table);
    ``declared``: any frame with a ``loc`` column (``read_sitemaps``
    output).  Output per host: how many urls the
    publisher declares, how many the crawl holds, and the two gap
    classes that drive scheduling (declared-but-unfetched feeds the
    frontier; fetched-but-undeclared is the orphan/trap-suspect set).

    Scale shape — identical to the catalog query's: both sides dedup
    map-side, ONE full-outer equi-join keyed by the ~unique url (never
    the Zipf host), host rollup partially aggregates; url strings are
    the only shuffled payload."""
    c = crawled.select(F.col("url").cast("string").alias("u")).distinct()
    d = declared.select(F.col("loc").cast("string").alias("u")).distinct()
    j = (
        c.withColumn("crawled", F.lit(True))
        .join(d.withColumn("declared", F.lit(True)), "u", "full_outer")
        .select(
            "u",
            F.coalesce("crawled", F.lit(False)).alias("crawled"),
            F.coalesce("declared", F.lit(False)).alias("declared"),
        )
    )
    b = lambda c_: F.sum(F.when(c_, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return j.groupBy(norm_host(_host(F.col("u"))).alias("host")).agg(
        b(F.col("declared")).alias("n_declared"),
        b(F.col("crawled")).alias("n_crawled"),
        b(F.col("declared") & F.col("crawled")).alias("n_both"),
        b(F.col("declared") & ~F.col("crawled")).alias("n_sitemap_only"),
        b(F.col("crawled") & ~F.col("declared")).alias("n_crawl_only"),
    )


def sitemap_staleness_urls(
    crawled: DataFrame, declared: DataFrame
) -> DataFrame:
    """Per-host re-crawl staleness ledger: urls whose publisher-
    declared sitemap ``lastmod`` is NEWER than the crawl's last fetch
    — the lastmod-driven half of re-crawl scheduling (the content-
    digest half is ``recrawl_delta``; this one needs no second fetch
    at all, the publisher volunteers the signal).

    ``crawled``: any frame with (url, warc_ts); ``declared``:
    ``read_sitemaps`` output (loc, lastmod — a W3C
    datetime STRING per the sitemaps.org protocol: date-only or full
    ISO 8601; unparseable/absent lastmod is counted but never stale,
    the conservative read).  Both sides reduce to one row per url
    BEFORE the equi-join (recrawls carry several captures; a url may
    be declared by several sitemaps — newest declaration wins), so
    the join is ~unique-keyed, never host-keyed: same scale shape as
    ``sitemap_coverage_urls``."""
    c = crawled.groupBy(F.col("url").cast("string").alias("u")).agg(
        F.max("warc_ts").alias("fetched_ts")
    )
    d = declared.groupBy(F.col("loc").cast("string").alias("u")).agg(
        F.max(F.try_to_timestamp(F.col("lastmod"))).alias("lastmod_ts")
    )
    j = c.join(d, "u")
    n = F.count(F.lit(1))
    stale = F.col("lastmod_ts") > F.col("fetched_ts")
    return (
        j.groupBy(norm_host(_host(F.col("u"))).alias("host"))
        .agg(
            n.cast("bigint").alias("n_matched"),
            F.sum(F.col("lastmod_ts").isNotNull().cast("bigint"))
            .cast("bigint")
            .alias("n_dated"),
            F.sum(F.coalesce(stale, F.lit(False)).cast("bigint"))
            .cast("bigint")
            .alias("n_stale"),
        )
        .withColumn(
            "stale_pm",
            F.expr("(1000 * n_stale) div n_matched").cast("bigint"),
        )
    )


#: high-precision soft-404 content markers.  Deliberately
#: phrase-level: bare "404" / "not found" would flag legitimate prose
#: (press articles ABOUT missing pages), and a soft-404 audit that
#: misfires poisons recrawl scheduling.  The multilingual set covers
#: the corpus's page languages plus the biggest web languages' stock
#: error phrases.
#:
#: Case handling is by LOWERCASING THE TEXT, not by ``(?i)``: Java's
#: inline ``(?i)`` folds ASCII only (Unicode folding needs ``(?iu)``),
#: while RE2 — the DuckDB oracle dialect — folds Unicode under ``(?i)``
#: and rejects ``(?u)``.  A shared ``(?i)`` pattern therefore
#: classifies "Страница не найдена" differently per engine; matching
#: ``lower(text)`` against a lowercase pattern gives one semantics in
#: both dialects (both engines' ``lower`` is Unicode simple-lowercase)
#: AND makes the production audit catch capitalized non-ASCII error
#: pages.  Keep every literal below lowercase.
SOFT404_MARKERS = (
    "(page not found|error 404|404 not found|file not found|"
    "page does not exist|page you requested (was|could) not|"
    "no longer available|p[áa]gina n[ãa]o encontrada|"
    "page introuvable|seite nicht gefunden|"
    "страница не найдена|页面不存在|ページが見つかりません)"
)


def soft404_audit(
    extracted: DataFrame,
    head_meta: DataFrame | None = None,
    short_len: int = 2000,
) -> DataFrame:
    """Per-host soft-404 ledger: pages whose CONTENT says "not found"
    even though the crawl stored them as successes (the server answered
    200).  The content-heuristic tier of the classic soft-404 problem
    (Bar-Yossef et al., "Sic transit gloria telae", WWW'04 — their
    probe tier fetches a deliberately-nonexistent sibling url, which an
    offline audit cannot): a page is flagged when its extracted text
    hits a stock error phrase AND is short (real articles that merely
    QUOTE an error phrase are long), or — with the head-metadata
    harvest joined in — when its ``<title>`` hits one (titles are
    phrase-only, no length gate needed).

    Scale shape: the text tier is map-only JVM regexp; the optional
    title tier is one url-keyed equi-join of two per-url relations;
    the rollup is a map-side-partial groupBy on host.  Feeds the
    recrawl scheduler the hosts whose "successes" are hollow —
    alongside ``url_trap_audit_urls`` this is the second
    crawl-hygiene ledger."""
    hit_text = F.lower(F.col("text")).rlike(SOFT404_MARKERS) & (
        F.length("text") < short_len
    )
    base = extracted.select(
        "url", F.coalesce(hit_text, F.lit(False)).alias("soft")
    )
    if head_meta is not None:
        titles = head_meta.groupBy("url").agg(
            F.max("title").alias("title")
        )
        base = (
            base.join(titles, "url", "left")
            .select(
                "url",
                (
                    F.col("soft")
                    | F.coalesce(
                        F.lower(F.col("title")).rlike(SOFT404_MARKERS),
                        F.lit(False),
                    )
                ).alias("soft"),
            )
        )
    n = F.count(F.lit(1))
    # _host, not segment.with_host: this module's ledgers must group
    # scheme-less CDX-style urls under their real host, not '' — the
    # same hardening the trap audit carries (review finding r5)
    return (
        base.groupBy(norm_host(_host(F.col("url"))).alias("host"))
        .agg(
            n.cast("bigint").alias("n_pages"),
            F.sum(F.col("soft").cast("bigint"))
            .cast("bigint")
            .alias("n_soft404"),
        )
        .withColumn(
            "soft404_pm",
            F.expr("(1000 * n_soft404) div n_pages").cast("bigint"),
        )
    )


def url_trap_audit_urls(urls: DataFrame) -> DataFrame:
    """Per-host crawl-trap audit over a real url table: how many
    distinct urls collapse onto one query-stripped path.  ``trap_pm``
    → 1000 means the host's url space is parameter noise (session
    ids, calendars, faceted search) and the scheduler should cap or
    canonicalize it.

    The ``url_trap_audit`` catalog entry computes through this
    function over its synthesized urls.  Scale shape: distinct urls
    partially aggregate BEFORE the host rollup merges counters;
    integer per-mille keeps any downstream hash exact."""
    u = (
        urls.select(F.col("url").cast("string").alias("url"))
        .distinct()
        .select(
            "url",
            # strip query AND fragment — the same delimiters _host
            # strips: a host minting fragment variants ('h5#s1',
            # 'h5#s2') is the same trap as query variants, and
            # stripping only '?' would report it perfectly healthy
            # (review finding r5)
            F.regexp_replace("url", r"[?#].*$", "").alias("clean"),
        )
    )
    n = F.count(F.lit(1))
    nc = F.countDistinct("clean")
    return (
        u.groupBy(norm_host(_host(F.col("url"))).alias("host"))
        .agg(
            n.cast("bigint").alias("n_urls"),
            nc.cast("bigint").alias("n_clean"),
            (n - nc).cast("bigint").alias("n_param_variants"),
        )
        .withColumn(
            "trap_pm",
            F.expr("(1000 * n_param_variants) div n_urls").cast("bigint"),
        )
    )


def revisit_schedule(captures) -> DataFrame:
    """Per-url crawl revisit schedule from observed change rates —
    the Cho & Garcia-Molina estimator ("Estimating Frequency of
    Change", ACM TOIT 2003) over a capture history
    ``captures(url, seq, digest)`` (seq = any monotone capture order:
    warc_ts, CDX position, …; digest = the content digest
    `recrawl_delta` compares).  Per url: n comparisons, x observed
    changes, the bias-corrected Poisson rate
    lambda = -ln((n - x + 0.5) / (n + 0.5)) banked as INTEGER
    milli-nats (partial-sum order can never perturb a downstream
    rollup bit), the revisit interval 24000 // lambda_mnat hours
    (capped at one year for never-changing urls), and the
    hot/warm/cold scheduler tier.

    Scale shape: ONE url-keyed Exchange (the lag window; the per-url
    aggregate reuses its partitioning) carrying 32-byte digests only;
    output is |urls| rows.  Per-url capture counts are bounded by the
    revisit policy itself, so no salt (the `recrawl_delta` argument).
    The oracle-checked catalog twin is ``queries.revisit_policy``;
    compose upstream with `sources/formats.read_warc` captures or the
    CDX index, downstream with `stages/robots.paced_schedule`."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("seq")
    lagged = captures.select(
        "url", "digest", F.lag("digest").over(w).alias("prev")
    )
    per_url = lagged.groupBy("url").agg(
        F.count("prev").cast("bigint").alias("n_cmp"),
        F.sum(
            F.when(
                F.col("prev").isNotNull()
                & (F.col("digest") != F.col("prev")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_chg"),
    )
    lam = F.round(
        -F.log(
            (F.col("n_cmp") - F.col("n_chg") + F.lit(0.5))
            / (F.col("n_cmp") + F.lit(0.5))
        )
        * 1000
    ).cast("bigint")
    return per_url.select(
        "url",
        "n_cmp",
        "n_chg",
        lam.alias("lambda_mnat"),
        F.when(lam >= 900, "hot")
        .when(lam >= 400, "warm")
        .otherwise("cold")
        .alias("tier"),
        F.when(lam > 0, F.floor(F.lit(24000) / lam))
        .otherwise(F.lit(8760))
        .cast("bigint")
        .alias("revisit_h"),
    )
