"""Sitemap source: XML sitemaps / sitemap indexes → a url-discovery
table.

The crawl-stack companion to `formats.read_pages_warc` and the
`robots_filter` / `frontier_waves` catalog rules: robots.txt gates
what MAY be fetched, the frontier schedules it, and sitemaps
(sitemaps.org protocol, the <urlset>/<sitemapindex> XML every CMS
emits) declare what the publisher WANTS fetched — the highest-quality
discovery signal a crawler gets.  Reference analogue: the reader
family of SURVEY §2.1 (`pbm2bm`/`loadpgm` container sniffing,
pbm2cl.c:824-1296) — one more container, same discipline: sniff
(gzip magic), parse tolerantly, never crash on a hostile payload.

Scale shape: parsing is a map-only Arrow-batched `mapInPandas` — one
sitemap file is one row in, ≤ 50k (the protocol cap) short rows out;
nothing shuffles until the consumer joins discovered urls against the
crawl state (an equi-join on url — see the `sitemap_coverage` catalog
query for that audit's shape).  Corrupt/truncated/hostile XML yields
zero rows for that sitemap, never a task failure (the multimodal
corrupt-media contract, ADVICE r3).
"""

from __future__ import annotations

import gzip
import io
import zlib
import xml.etree.ElementTree as ET
from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame

#: Output schema of :func:`read_sitemaps`.
SITEMAP_SCHEMA = (
    "sitemap_url string, loc string, lastmod string, "
    "changefreq string, priority double, is_index boolean"
)

#: The protocol caps one sitemap file at 50,000 <url> entries; a
#: hostile payload with more is truncated to the cap instead of
#: ballooning an output batch.
MAX_URLS_PER_SITEMAP = 50_000

#: The protocol caps one UNCOMPRESSED sitemap at 50 MB; decompression
#: is budgeted to slightly above that so a small gzip bomb (~1000:1
#: ratios are trivial) cannot allocate gigabytes before the entry cap
#: ever sees a byte — the `_decode_png` max_pixels / `_decode_wav`
#: max_samples discipline applied to this container.
MAX_SITEMAP_BYTES = 64 * 1024 * 1024


def _local(tag: str) -> str:
    """Element tag without its XML namespace (sitemaps appear with
    the sitemaps.org namespace, without it, and with vendor ones)."""
    return tag.rsplit("}", 1)[-1].lower()


def parse_sitemap_bytes(
    raw: Optional[bytes],
) -> List[Tuple[str, Optional[str], Optional[str], Optional[float], bool]]:
    """One sitemap payload → [(loc, lastmod, changefreq, priority,
    is_index)].  Handles <urlset> (is_index=False) and <sitemapindex>
    (is_index=True, loc = child sitemap url), gzip-compressed payloads
    (.xml.gz, sniffed by magic), and any/no XML namespace.  Malformed
    XML, truncated gzip, or a non-sitemap root → [] (never raises)."""
    if not raw:
        return []
    if raw[:2] == b"\x1f\x8b":
        try:
            # stream-decompress under a byte budget: never allocate
            # the full expansion of a hostile bomb
            with gzip.GzipFile(fileobj=io.BytesIO(raw)) as gz:
                raw = gz.read(MAX_SITEMAP_BYTES + 1)
            if len(raw) > MAX_SITEMAP_BYTES:
                return []
        except (OSError, EOFError, zlib.error):
            # zlib.error is not an OSError: a gzip header followed by a
            # corrupt deflate body (real crawl traffic) raises it from
            # read(), and the contract here is never-raise
            return []
    out: List[
        Tuple[str, Optional[str], Optional[str], Optional[float], bool]
    ] = []
    try:
        # iterparse streams: a 50 MB sitemap never builds a full tree
        # before we can cap it
        it = ET.iterparse(io.BytesIO(raw), events=("start", "end"))
        _, root = next(it)
        root_tag = _local(root.tag)
        if root_tag not in ("urlset", "sitemapindex"):
            return []
        is_index = root_tag == "sitemapindex"
        for event, el in it:
            if event != "end" or _local(el.tag) not in ("url", "sitemap"):
                continue
            loc = lastmod = changefreq = None
            priority: Optional[float] = None
            for child in el:
                t = _local(child.tag)
                v = (child.text or "").strip()
                if t == "loc":
                    loc = v or None
                elif t == "lastmod":
                    lastmod = v or None
                elif t == "changefreq":
                    changefreq = v or None
                elif t == "priority":
                    try:
                        priority = float(v)
                    except ValueError:
                        priority = None
            if loc:
                out.append((loc, lastmod, changefreq, priority, is_index))
            el.clear()  # stream-parse: drop the subtree as we go
            if len(out) >= MAX_URLS_PER_SITEMAP:
                break
    except ET.ParseError:
        # salvage nothing from malformed XML: a regex fallback would
        # silently accept attacker-shaped non-XML; entries parsed
        # before the error ARE kept (crawlers honor truncated
        # sitemaps' valid prefix)
        pass
    return out


def read_sitemaps(sitemaps: DataFrame) -> DataFrame:
    """(url, payload binary) → discovery table per SITEMAP_SCHEMA.

    Map-only Arrow-batched parse (the `extract_links` /
    `harvest_metadata` harvest discipline — payloads never shuffle);
    one input row fans out to ≤ 50k short rows.  Index files emit
    their child-sitemap urls with is_index=true — the caller joins
    those back against its fetched-sitemaps table to walk the tree
    level by level (a crawl-frontier wave over sitemaps, exactly the
    `frontier_waves` shape)."""
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for url, payload in zip(pdf["url"], pdf["payload"]):
                for loc, lm, cf, pr, idx in parse_sitemap_bytes(payload):
                    rows.append((url, loc, lm, cf, pr, idx))
            yield pd.DataFrame(
                rows,
                columns=[
                    "sitemap_url", "loc", "lastmod",
                    "changefreq", "priority", "is_index",
                ],
            )

    return sitemaps.select("url", "payload").mapInPandas(
        batches, schema=SITEMAP_SCHEMA
    )
