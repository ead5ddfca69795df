"""robots.txt parsing + crawl-delay frontier pacing (production twin).

The catalog's ``robots_filter`` / ``robots_wildcards`` queries verify
the RFC 9309 MATCHING semantics (longest-match precedence, allow-wins
ties, ``*``/``$`` wildcards) against the DuckDB oracle over injected
literal rules.  This stage is the missing production half: parse REAL
fetched robots.txt payloads into a rules relation, elect the
crawl-delay that applies to a given crawler token, and pace the
politeness frontier by it — one earliest-offset per (host, wave)
instead of the fixed one-quantum-per-wave the `frontier_waves`
dashboard assumes.

Parsing follows the published RFC 9309 group structure: consecutive
``User-agent`` lines open a group that the following rules share; a
rule line before any ``User-agent`` belongs to no group and is
dropped; ``Sitemap`` is a non-group record valid anywhere; keys are
case-insensitive; ``#`` starts a comment.  ``Crawl-delay`` is not in
RFC 9309 but is the de-facto pacing directive this stage exists for —
it is parsed per-group like the big crawlers treat it.

Scale shape: the parse is the sitemap/links harvest discipline
(Arrow-batched mapInPandas, payloads never shuffle, bounded fan-out —
a robots.txt is ≤ 500 KiB by the RFC's own must-process bound and
emits one short row per rule line).  Delay election is a groupBy on
host; the pacing join is host-keyed on the already-waved frontier.
"""

from __future__ import annotations

from typing import Iterator, List, Tuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

#: RFC 9309 §2.4: parsers must process at least 500 KiB; bytes past
#: the cap are ignored (the valid prefix is honored, like sitemaps)
MAX_ROBOTS_BYTES = 512_000

ROBOTS_SCHEMA = (
    "robots_url string, agent string, kind string, value string, "
    "ord int"
)

#: directive keys we materialize (everything else is ignored per the
#: RFC's unknown-line rule)
_RULE_KINDS = {"allow", "disallow", "crawl-delay"}


def parse_robots_bytes(
    payload: bytes | None,
) -> List[Tuple[str, str, str, int]]:
    """One robots.txt payload → [(agent, kind, value, ord)] with
    ``kind`` ∈ {allow, disallow, crawl_delay, sitemap}; sitemap rows
    carry agent='' (non-group records).  Tolerant: decodes UTF-8 with
    replacement (BOM stripped), ignores unknown directives, malformed
    lines, and rules outside any group.  ``ord`` preserves file order
    — RFC matching itself is order-independent, but the ledger keeps
    provenance auditable."""
    if not payload:
        return []
    text = payload[:MAX_ROBOTS_BYTES].decode("utf-8", errors="replace")
    if text[:1] == "﻿":
        text = text[1:]
    out: List[Tuple[str, str, str, int]] = []
    agents: List[str] = []
    in_group_rules = False  # rules already seen for current group
    ord_ = 0
    for line in text.splitlines():
        line = line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not value:
                continue
            if in_group_rules:
                # a UA line after rules STARTS A NEW group (RFC 9309
                # §2.1: groups are consecutive UA lines + their rules)
                agents = []
                in_group_rules = False
            agents.append(value.lower())
        elif key == "sitemap":
            if value:
                out.append(("", "sitemap", value, ord_))
                ord_ += 1
        elif key in _RULE_KINDS:
            if not agents:
                continue  # rule before any User-agent: no group
            in_group_rules = True
            kind = key.replace("-", "_")
            for a in agents:
                out.append((a, kind, value, ord_))
            ord_ += 1
    return out


def parse_robots(robots: DataFrame) -> DataFrame:
    """(url, payload binary) → rules ledger per ROBOTS_SCHEMA.
    Map-only Arrow-batched parse, the read_sitemaps discipline."""
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for url, payload in zip(pdf["url"], pdf["payload"]):
                for agent, kind, value, o in parse_robots_bytes(payload):
                    rows.append((url, agent, kind, value, o))
            yield pd.DataFrame(
                rows,
                columns=["robots_url", "agent", "kind", "value", "ord"],
            )

    return robots.select("url", "payload").mapInPandas(
        batches, schema=ROBOTS_SCHEMA
    )


def crawl_delays(
    rules: DataFrame, agent: str = "clarabot"
) -> DataFrame:
    """rules ledger → (host, delay_s double): the crawl-delay the
    given crawler token must honor per host.  RFC 9309 group
    election: the exact-token group wins over the ``*`` group; within
    the elected group the LARGEST declared delay is honored (merged
    duplicate groups — the conservative read big crawlers use).
    Hosts whose robots.txt declares no applicable delay are absent
    (the caller supplies its politeness default).  Non-numeric delay
    values are ignored.

    DELIBERATE divergence from robots_gate's strict RFC group
    election (review finding r5, kept): when the exact-agent group
    exists but declares no Crawl-delay, this ledger falls back to the
    ``*`` group's delay instead of the crawler default.  Strict
    election would let 'User-agent: clarabot / Disallow:' exempt the
    bot from a 60 s ``*`` delay; for PACING we take the politeness-
    conservative read (never fetch faster than the site asked anyone
    to) — rule ACCESS stays strictly elected in robots_gate.
    Pinned by tests/test_robots.py."""
    from .crawl_audit import _host, norm_host

    a = agent.lower()
    d = (
        rules.filter(
            (F.col("kind") == "crawl_delay")
            & F.col("agent").isin(a, "*")
        )
        .select(
            # normalized: the frontier side normalizes its host the
            # same way, so the pacing join cannot silently miss
            norm_host(_host(F.col("robots_url"))).alias("host"),
            (F.col("agent") == a).cast("int").alias("exact"),
            # try_cast: a malformed Crawl-delay value must be ignored,
            # not crash the ledger under ANSI mode
            F.col("value").try_cast("double").alias("delay_s"),
        )
        .filter(F.col("delay_s").isNotNull() & (F.col("delay_s") >= 0))
    )
    # exact group's max if any exact row exists, else the * group's
    return (
        d.groupBy("host")
        .agg(
            F.max(F.when(F.col("exact") == 1, F.col("delay_s"))).alias(
                "exact_max"
            ),
            F.max(F.when(F.col("exact") == 0, F.col("delay_s"))).alias(
                "star_max"
            ),
        )
        .select(
            "host",
            F.coalesce("exact_max", "star_max").alias("delay_s"),
        )
    )


def _pattern_rx(pattern):
    """RFC 9309 rule pattern → anchored Java regex, as COLUMN algebra
    (a web-scale rules ledger is |hosts|·O(10) rows, so the compile
    must ship with the rows, not run on the driver as the catalog
    oracle's ``_robots_rx`` does).  Same grammar: escape regex
    metachars, ``*`` → ``.*``, trailing ``$`` stays an anchor, anchor
    the head."""
    esc = F.regexp_replace(
        pattern, r"([\\^$.|?*+()\[\]{}])", r"\\$1"
    )
    star = F.regexp_replace(esc, r"\\\*", ".*")
    # the replacement-side '$' must itself be escaped: Java treats a
    # bare '$' in the replacement as a group reference
    dollar = F.regexp_replace(star, r"\\\$$", r"\$")
    return F.concat(F.lit("^"), dollar)


def robots_gate(
    urls: DataFrame, rules: DataFrame, agent: str = "clarabot"
) -> DataFrame:
    """urls(url, host, …) × parsed rules ledger → + ``verdict`` ∈
    {allowed, blocked, default_allow}: the RFC 9309 gate over REAL
    parsed rules, one-integer election (score = 2·len(pattern) +
    allow; max elects: longest pattern is most specific, tie goes to
    allow; no match = default allow).  The oracle-verified catalog
    entries `robots_filter` and `robots_wildcards` compute through
    this function over a synthesized ledger, so their DuckDB check
    covers it.

    Group election per RFC: a host with any exact-agent GROUP uses
    that group — elected over ALL the group's rows (including
    empty-pattern and Crawl-delay lines), so 'User-agent: clarabot /
    Disallow:' (the standard exempt-one-bot pattern) correctly elects
    the empty exact group and allows everything, instead of falling
    through to a blocking ``*`` group (review finding r5).  Only
    AFTER election are non-matching kinds and empty patterns dropped.
    The match runs against path?query (what the RFC matches; an empty
    path reads as '/', per the RFC — review finding r5), and rules
    meet only their host's urls (host-keyed equi-join with the regex
    predicate inside the join).  Hosts are normalized on BOTH sides
    (lowercase, userinfo/port stripped) so a ':8443' candidate still
    meets its host's rules (review finding r5)."""
    a = agent.lower()
    from .crawl_audit import _host, norm_host

    norm_rhost = norm_host(_host(F.col("robots_url")))
    g = rules.filter(
        F.col("kind").isin("allow", "disallow", "crawl_delay")
        & F.col("agent").isin(a, "*")
    ).select(
        norm_rhost.alias("rhost"),
        (F.col("agent") == a).alias("exact"),
        "kind",
        F.col("value").alias("pattern"),
        (F.col("kind") == "allow").cast("int").alias("allow"),
    )
    # RFC group election over the FULL group contents
    has_exact = g.groupBy("rhost").agg(
        F.max(F.col("exact").cast("int")).alias("has_exact")
    )
    elected = (
        g.join(has_exact, "rhost")
        .filter(F.col("exact") == (F.col("has_exact") == 1))
        .filter(
            F.col("kind").isin("allow", "disallow")
            & (F.length("pattern") > 0)
        )
    )
    elected = elected.select(
        "rhost",
        _pattern_rx(F.col("pattern")).alias("rx"),
        (2 * F.length("pattern") + F.col("allow")).alias("score"),
    )
    # try_parse_url: ANSI-default Spark 4 THROWS on malformed urls,
    # and a crawl frontier holds exactly those (review finding r5);
    # a NULL path reads as '/' below, the conservative root match
    raw_path = F.try_parse_url(F.col("url"), F.lit("PATH"))
    path = F.when(
        F.coalesce(F.length(raw_path), F.lit(0)) == 0, F.lit("/")
    ).otherwise(raw_path)
    qs = F.try_parse_url(F.col("url"), F.lit("QUERY"))
    target = F.when(
        qs.isNotNull(), F.concat(path, F.lit("?"), qs)
    ).otherwise(path)
    cand_host = norm_host(F.col("host"))
    u = urls.withColumn("_path", target).withColumn("_nhost", cand_host)
    hit = u.join(
        elected,
        (u["_nhost"] == elected["rhost"])
        & F.expr("_path rlike rx"),
        "left",
    )
    best = hit.groupBy(*[u[c] for c in urls.columns]).agg(
        F.max("score").alias("_score")
    )
    verdict = (
        F.when(F.col("_score").isNull(), F.lit("default_allow"))
        .when(F.col("_score") % 2 == 1, F.lit("allowed"))
        .otherwise(F.lit("blocked"))
    )
    return best.select(*urls.columns, verdict.alias("verdict"))


def paced_schedule(
    frontier: DataFrame,
    delays: DataFrame,
    default_delay_s: float = 1.0,
    max_waves: int = 0,
) -> DataFrame:
    """frontier(url, host, priority) + per-host delays →
    (url, host, wave, offset_s): the politeness schedule with REAL
    per-host pacing — wave k of a host fetches no earlier than
    (k-1) · delay seconds after the host's first fetch, so a
    Crawl-delay: 10 host trickles while an undeclared host runs at
    the crawler's default quantum.

    Same scale shape as the ``frontier_waves`` catalog query: the one
    shuffle is host-keyed because politeness REQUIRES per-host order
    (never salt it); with ``max_waves`` > 0 Catalyst plans a partial
    WindowGroupLimit below the exchange, bounding each map task to
    max_waves rows per host."""
    from .crawl_audit import norm_host

    # the politeness queue is the NORMALIZED host (lowercase,
    # userinfo/port stripped) on BOTH surfaces: the wave window AND
    # the delay join.  Partitioning the window by the raw host would
    # give 'alice@h.com' and 'h.com' independent wave sequences that
    # both start at offset 0 — two simultaneous fetches to one origin,
    # violating the very Crawl-delay this stage honors (review
    # finding r5).
    wv = Window.partitionBy("_nhost").orderBy(
        F.desc("priority"), F.asc("url")
    )
    ranked = frontier.withColumn(
        "_nhost", norm_host(F.col("host"))
    ).select(
        "url", "host", "_nhost", F.row_number().over(wv).alias("wave")
    )
    if max_waves:
        ranked = ranked.filter(F.col("wave") <= max_waves)
    d = delays.withColumnRenamed("host", "_dhost")
    return ranked.join(
        d, ranked["_nhost"] == d["_dhost"], "left"
    ).select(
        "url",
        "host",
        "wave",
        (
            (F.col("wave") - 1)
            * F.coalesce(F.col("delay_s"), F.lit(default_delay_s))
        ).alias("offset_s"),
    )
