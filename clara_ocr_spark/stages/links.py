"""Hyperlink extraction — the crawl's link structure as a table.

The extraction pipeline recovers each page's TEXT; this stage
recovers its out-links, the other thing a web-scale corpus run keeps:
the link graph feeds authority ranking (`pagerank_bipartite` shows the
iteration shape), frontier seeding (`frontier_waves`), and the anchor
text corpus — the off-page description of a url that search/quality
stacks treat as a first-class signal (≈ how Clara's acts attach
OUT-OF-BAND evidence to a symbol, cml.c:651+, rather than re-reading
the bitmap).

Same execution discipline as `stages/segment.py`: per-document parse
is the sanctioned Arrow-batched Python (`mapInPandas`, zero per-row
UDFs), everything after the parse is JVM column expressions, and the
html payload never leaves the parse stage — the link table that
shuffles downstream carries only urls and anchor strings.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator, List, Tuple
from urllib.parse import urljoin, urlsplit

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from ..domparse import decode_html

LINKS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("dst_url", StringType()),
        StructField("dst_host", StringType()),
        StructField("anchor", StringType()),
        StructField("nofollow", BooleanType()),
    ]
)

#: schemes a corpus link table keeps; everything else (javascript:,
#: mailto:, data:, tel:, …) is navigation chrome, not graph structure
_KEEP_SCHEMES = ("http", "https", "")


class _LinkParser(HTMLParser):
    """Collects (href, anchor_text, nofollow) triples.

    Nested/unclosed ``<a>`` (illegal but common in crawl HTML — the
    corpus's malformed template exercises the unclosed case) is
    handled the browser way: a new ``<a>`` implicitly closes the open
    one, and EOF flushes whatever is still open."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: List[Tuple[str, str, bool]] = []
        self._href: str | None = None
        self._nofollow = False
        self._buf: List[str] = []

    def _flush(self) -> None:
        if self._href is not None:
            anchor = " ".join("".join(self._buf).split())
            self.links.append((self._href, anchor, self._nofollow))
        self._href, self._nofollow, self._buf = None, False, []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag.lower() != "a":
            return
        self._flush()  # implicit close of a dangling <a>
        href = rel = None
        for k, v in attrs or ():
            if k == "href" and v is not None and href is None:
                href = v
            elif k == "rel" and v is not None:
                rel = v
        if href is not None:
            self._href = href
            self._nofollow = bool(rel) and "nofollow" in rel.lower().split()

    def handle_endtag(self, tag: str) -> None:
        if tag.lower() == "a":
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._href is not None and data:
            self._buf.append(data)

    def close(self) -> None:
        super().close()
        self._flush()


def parse_links(html: bytes | None, base_url: str) -> List[Tuple[str, str, str, bool]]:
    """One document's out-links: (dst_url, dst_host, anchor, nofollow).

    Hrefs resolve against ``base_url`` (so relative nav links become
    absolute graph edges); non-web schemes and empty/fragment-only
    hrefs are dropped. Parse errors yield an empty list — the
    corrupt-input contract of every decode stage in this repo."""
    p = _LinkParser()
    try:
        p.feed(decode_html(html))
        p.close()
    except Exception:
        return []
    out = []
    for href, anchor, nofollow in p.links:
        href = href.strip()
        if not href or href.startswith("#"):
            continue
        try:
            dst = urljoin(base_url, href)
            parts = urlsplit(dst)
        except ValueError:
            continue
        if parts.scheme not in _KEEP_SCHEMES or not parts.netloc:
            continue
        out.append((dst, parts.netloc.lower(), anchor, nofollow))
    return out


def extract_links(pages: DataFrame) -> DataFrame:
    """pages(url, html, …) → links(url, dst_url, dst_host, anchor,
    nofollow), one row per resolved out-link.

    Column-prunes to (url, html) before the Python boundary; the html
    payload dies inside the parse stage (map-only — the stage adds NO
    shuffle; downstream graph/anchor aggregations shuffle only url and
    anchor strings)."""
    import pandas as pd  # noqa: F401 (worker-side)

    def _batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for url, html in zip(
                pdf["url"].to_numpy(), pdf["html"].to_numpy()
            ):
                for dst, host, anchor, nofollow in parse_links(html, url):
                    rows.append((url, dst, host, anchor, nofollow))
            yield pd.DataFrame(
                rows, columns=[f.name for f in LINKS_SCHEMA.fields]
            )

    return pages.select("url", "html").mapInPandas(_batches, schema=LINKS_SCHEMA)


def frontier_candidates(
    links: DataFrame, crawled: DataFrame
) -> DataFrame:
    """links + crawled pages → (url, host, priority): the next-wave
    fetch candidates — harvested destinations the crawl does NOT yet
    hold, prioritized by distinct in-linking pages (the classic
    indegree frontier policy; nofollow edges don't vote, matching
    `host_graph`).  Compose with ``stages/robots.paced_schedule`` for
    the politeness-paced fetch plan — together with extract ->
    extract_links this closes the crawl loop: fetch -> extract ->
    harvest -> schedule the next fetch.

    Scale shape: one url-keyed partial-agg groupBy (indegree), one
    ~unique-url anti-join against the crawled set; host strings ride
    along for the downstream politeness window — the only host-keyed
    shuffle stays in paced_schedule where politeness REQUIRES it."""
    # fragments stripped BEFORE the candidate key: href="#install"
    # variants of one page are one fetch target, and an unstripped
    # fragment would sneak an already-crawled page past the anti-join
    # once per anchor (review finding r5) — the exact variant-minting
    # trap url_trap_audit_urls exists to catch
    dst = F.regexp_replace("dst_url", r"#.*$", "")
    cand = (
        links.filter(~F.col("nofollow"))
        .select(
            dst.alias("dst_url"), "dst_host", F.col("url").alias("src")
        )
        .groupBy("dst_url", "dst_host")
        .agg(F.countDistinct("src").cast("bigint").alias("priority"))
        .select(
            F.col("dst_url").alias("url"),
            F.col("dst_host").alias("host"),
            "priority",
        )
    )
    return cand.join(
        crawled.select("url").distinct(), "url", "left_anti"
    )


def host_graph(links: DataFrame) -> DataFrame:
    """Host-level link graph: (src_host, dst_host) → edge weight.

    The input to authority ranking (the `pagerank_bipartite` iteration
    runs on exactly this shape). Nofollow edges are excluded — they
    are the edges the publisher asked rankers to ignore. ONE
    map-side-partial aggregation; hot hosts (the Zipf head) are the
    documented skew key — the same salting/AQE mitigations as every
    host-keyed stage (SCALE.md §Skew) apply."""
    from .segment import with_host

    return (
        with_host(links.filter(~F.col("nofollow")))
        .groupBy(F.col("host").alias("src_host"), "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("dst_url").alias("n_dst_urls"),
        )
    )


def top_anchor_text(links: DataFrame) -> DataFrame:
    """Anchor-text election per destination url: total in-links and
    the most frequent non-empty anchor (count desc, text asc — a
    deterministic max(struct) election, the `latest_wins` discipline,
    so any partitioning and any engine agree)."""
    counted = (
        links.filter(F.length("anchor") > 0)
        .groupBy("dst_url", "anchor")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # strings can't be negated for a desc-then-asc max(struct), so
    # elect with MIN over (-n, anchor): smallest -n = biggest count,
    # ties take the lexicographically smallest anchor — a window-free
    # two-level aggregate, keeping the plan to two exchanges.
    return counted.groupBy("dst_url").agg(
        F.sum("n").cast("bigint").alias("n_inlinks"),
        F.min(F.struct((-F.col("n")).alias("negn"), "anchor")).alias("_top"),
    ).select(
        "dst_url",
        "n_inlinks",
        F.col("_top.anchor").alias("top_anchor"),
        (-F.col("_top.negn")).cast("bigint").alias("top_anchor_n"),
    )


def reciprocity_ledger(edges: DataFrame) -> DataFrame:
    """Link-farm reciprocity audit over a directed host graph
    ``edges(src_host, dst_host)`` (``host_graph`` output, extra
    columns ignored): per host, distinct unordered neighbor pairs,
    how many are mutual, integer reciprocity per-mille, and the farm
    flag (≥ 50% reciprocal with ≥ 3 neighbors) — mutual-link density
    is the classic quid-pro-quo link-spam signal (TrustRank-family
    anti-spam heuristics), demoting hosts whose neighborhoods are
    mostly reciprocal in the crawl-quality prior next to the host
    authority rank (``pagerank_bipartite``).

    Scale shape: three Exchanges, all id-sized keys — the directed
    distinct (multi-edges collapse in the map-side partial), the
    canonical (least, greatest) pair aggregate (the key is the PAIR,
    so a hub host does NOT become a hot key here), and the
    |pairs|-row endpoint rollup fed by a single-pass explode (a
    two-leg union would re-execute the whole pair subtree — observed
    in the plan and avoided).  Self-loops excluded (intra-site
    navigation is not endorsement).  The
    oracle-checked catalog twin is ``queries.reciprocal_link_audit``.
    Reference analogue: the mutual-confirmation vote (`review_merge`
    slink/alink cross-links, stages/feedback.py) — agreement counts
    only when both directions assert it."""
    de = (
        edges.select("src_host", "dst_host")
        .filter(F.col("src_host") != F.col("dst_host"))
        .distinct()
    )
    p = de.groupBy(
        F.least("src_host", "dst_host").alias("x"),
        F.greatest("src_host", "dst_host").alias("y"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_dir"))
    hosts = p.select(
        F.explode(F.array("x", "y")).alias("host"), "n_dir"
    )
    ledger = hosts.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
        F.sum((F.col("n_dir") == 2).cast("int"))
        .cast("bigint")
        .alias("n_reciprocal"),
    )
    recip_pm = F.floor(
        F.lit(1000) * F.col("n_reciprocal") / F.col("n_neighbors")
    ).cast("bigint")
    return ledger.select(
        "host",
        "n_neighbors",
        "n_reciprocal",
        recip_pm.alias("recip_pm"),
        ((recip_pm >= 500) & (F.col("n_neighbors") >= 3)).alias(
            "link_farm"
        ),
    )
