"""Sitemap source: urlset/sitemapindex parse, namespace and gzip
handling, hostile-payload tolerance, and the map-only Spark plan."""

from __future__ import annotations

import gzip

import pytest

from clara_ocr_spark.sources.sitemap import (
    MAX_URLS_PER_SITEMAP,
    parse_sitemap_bytes,
    read_sitemaps,
)

NS = 'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'

URLSET = f"""<?xml version="1.0" encoding="UTF-8"?>
<urlset {NS}>
  <url><loc>https://ex.org/a</loc><lastmod>2024-01-02</lastmod>
       <changefreq>daily</changefreq><priority>0.8</priority></url>
  <url><loc>https://ex.org/b</loc></url>
  <url><priority>0.5</priority></url>
</urlset>""".encode()

INDEX = f"""<?xml version="1.0"?>
<sitemapindex {NS}>
  <sitemap><loc>https://ex.org/s1.xml</loc>
           <lastmod>2024-02-03T04:05:06Z</lastmod></sitemap>
  <sitemap><loc>https://ex.org/s2.xml.gz</loc></sitemap>
</sitemapindex>""".encode()


def test_urlset_fields_and_locless_entry_dropped():
    rows = parse_sitemap_bytes(URLSET)
    assert rows == [
        ("https://ex.org/a", "2024-01-02", "daily", 0.8, False),
        ("https://ex.org/b", None, None, None, False),
    ]  # the <url> with no <loc> is dropped


def test_sitemapindex_and_gzip_payload():
    rows = parse_sitemap_bytes(gzip.compress(INDEX))
    assert [r[0] for r in rows] == [
        "https://ex.org/s1.xml", "https://ex.org/s2.xml.gz"
    ]
    assert all(r[4] for r in rows)  # is_index


def test_namespace_free_and_vendor_namespace():
    plain = b"<urlset><url><loc>https://p/x</loc></url></urlset>"
    assert parse_sitemap_bytes(plain)[0][0] == "https://p/x"
    vendor = (
        b'<v:urlset xmlns:v="http://vendor.example/ns">'
        b"<v:url><v:loc>https://v/x</v:loc></v:url></v:urlset>"
    )
    assert parse_sitemap_bytes(vendor)[0][0] == "https://v/x"


@pytest.mark.parametrize(
    "payload",
    [
        None,
        b"",
        b"not xml at all",
        b"<urlset><url><loc>https://t/x</loc>",  # truncated
        b"\x1f\x8b\x08trash-not-gzip",
        b"<html><body>soft 404</body></html>",  # wrong root
        b"<?xml version='1.0'?><rss><channel/></rss>",
    ],
)
def test_hostile_payloads_never_raise(payload):
    rows = parse_sitemap_bytes(payload)
    assert isinstance(rows, list)
    # the truncated-but-well-formed prefix may salvage entries;
    # everything else yields zero
    if payload not in (b"<urlset><url><loc>https://t/x</loc>",):
        assert rows == []


def test_entry_cap_is_enforced():
    body = b"".join(
        b"<url><loc>https://c/%d</loc></url>" % i
        for i in range(MAX_URLS_PER_SITEMAP + 7)
    )
    rows = parse_sitemap_bytes(b"<urlset>" + body + b"</urlset>")
    assert len(rows) == MAX_URLS_PER_SITEMAP


def test_read_sitemaps_map_only_plan_and_fanout(spark):
    df = spark.createDataFrame(
        [
            ("https://ex.org/sitemap.xml", bytearray(URLSET)),
            ("https://ex.org/sitemap_index.xml",
             bytearray(gzip.compress(INDEX))),
            ("https://ex.org/broken.xml", bytearray(b"junk")),
            ("https://ex.org/null.xml", None),
        ],
        "url string, payload binary",
    )
    out = read_sitemaps(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-only harvest
    rows = out.collect()
    got = {(r["sitemap_url"], r["loc"], r["is_index"]) for r in rows}
    assert got == {
        ("https://ex.org/sitemap.xml", "https://ex.org/a", False),
        ("https://ex.org/sitemap.xml", "https://ex.org/b", False),
        ("https://ex.org/sitemap_index.xml", "https://ex.org/s1.xml", True),
        ("https://ex.org/sitemap_index.xml", "https://ex.org/s2.xml.gz",
         True),
    }
    pr = {r["loc"]: r["priority"] for r in rows}
    assert pr["https://ex.org/a"] == pytest.approx(0.8)


def test_gzip_bomb_bounded():
    """A small .xml.gz expanding past the 50 MB protocol cap must be
    rejected by the streaming budget BEFORE full decompression — zero
    rows, no multi-GB allocation (review finding)."""
    from clara_ocr_spark.sources.sitemap import MAX_SITEMAP_BYTES

    bomb = gzip.compress(b"\x00" * (MAX_SITEMAP_BYTES + 1024))
    assert len(bomb) < 100_000  # it IS a bomb
    assert parse_sitemap_bytes(bomb) == []
    # a legitimately gzipped sitemap still parses
    assert parse_sitemap_bytes(gzip.compress(URLSET))[0][0] == (
        "https://ex.org/a"
    )


# ---- hypothesis fuzz: arbitrary bytes (including gzip-magic-prefixed
# ---- garbage and truncated XML) must yield a list, never an exception
from hypothesis import example, given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(raw=st.binary(max_size=2048))
def test_parse_sitemap_fuzz_never_raises(raw):
    rows = parse_sitemap_bytes(raw)
    assert isinstance(rows, list)
    for loc, lastmod, changefreq, priority, is_index in rows:
        assert isinstance(loc, str) and loc
        assert isinstance(is_index, bool)


@settings(max_examples=100, deadline=None)
@given(raw=st.binary(max_size=1024))
@example(
    raw=b'\x08\x00\x00\x00\x00\x00\x00\x00\x06',
).via('discovered failure')
def test_parse_sitemap_fuzz_gzip_prefixed(raw):
    assert isinstance(parse_sitemap_bytes(b"\x1f\x8b" + raw), list)
