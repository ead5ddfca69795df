"""Byte-identity gate: Spark pipeline output == reference extractor
output, per url, over the full synthetic corpus (all 5 templates,
3 langs, Latin-1 docs, malformed docs, zoned docs).

≈ the imre.pbm end-to-end regression fixture (book.c:982-984) at
corpus scale — the authoritative invariant from BASELINE.json
``input_hint``: *byte-identical extracted text per url*.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from clara_ocr_spark.pipeline import extract, read_pages


def test_byte_identity_vs_reference(spark, corpus_path):
    pages = read_pages(spark, corpus_path)
    got = extract(pages)  # sentinel rows: every url present
    joined = (
        pages.select("url", F.col("text").alias("expected"))
        .join(got.withColumnRenamed("text", "actual"), "url", "full")
        .collect()
    )
    assert len(joined) == pages.count()
    bad = [
        r.url
        for r in joined
        if r.expected is None or r.actual is None or r.expected != r.actual
    ]
    assert bad == [], f"{len(bad)} urls mismatch, first: {bad[:3]}"


def test_extract_deterministic_across_partitionings(spark, corpus_path):
    """Reading order must be a total order — identical output no matter
    how the data is partitioned (SURVEY §7 hard-part 2)."""
    pages = read_pages(spark, corpus_path)
    a = {r.url: r.text for r in extract(pages.repartition(1)).collect()}
    b = {r.url: r.text for r in extract(pages.repartition(17)).collect()}
    assert a == b


def test_extract_covers_content(spark, corpus_path):
    """Quality proxy (≈ selthresh bookfont-size metric): extraction is
    non-trivial — most docs yield non-empty text."""
    pages = read_pages(spark, corpus_path)
    got = extract(pages)
    n = got.count()
    nonempty = got.filter(F.length("text") > 0).count()
    assert nonempty / n > 0.95


def test_identity_on_adversarial_rows(spark):
    """End-to-end identity beyond the corpus domain: null/empty/garbage
    html, off-domain tag soup (forces the stdlib fallback inside the
    Spark workers), and fuzz-style fragments all extract byte-identical
    to the reference extractor. Null html defines the empty document."""
    import datetime

    from clara_ocr_spark.extract_rules import reference_extract
    from clara_ocr_spark.sources.formats import PAGES_SPARK_SCHEMA

    ts = datetime.datetime(2026, 1, 1)
    payloads = [
        b"",
        None,
        b"<p>ok</p>",
        b"\xff\xfe garbage \x00 bytes <p>x</p>",
        b"<b;>junk</b;><p>real content paragraph with several words</p>",
        b"<!--<p><p>",
        b"<div><p>" + b"word " * 80 + b"</p></div>",
        b"<p>a</p>" * 500,
        "<p>café straße — motörhead</p>".encode("utf-8"),
        b"<a href='/x'>nav nav nav</a>" * 30,
    ]
    rows = [
        (f"u{i}", ts, h, "" if h is None else reference_extract(h), "en")
        for i, h in enumerate(payloads)
    ]
    df = spark.createDataFrame(rows, PAGES_SPARK_SCHEMA)
    got = {r.url: r.text for r in extract(df).collect()}
    want = {u: t for u, _, _, t, _ in rows}
    assert got == want


def test_encap_text_byte_identical_and_spans_reconstruct(spark, corpus_path):
    """The encap variant's text must equal plain extract byte-for-byte,
    and the content spans must tile it exactly: slicing text by each
    kept block's [start, end) and re-joining with '\\n' reproduces the
    document; excluded blocks carry start = end = -1."""
    pages = read_pages(spark, corpus_path)
    plain = {r.url: r.text for r in extract(pages).collect()}
    enc = extract(pages, fmt="encap").collect()
    assert {r.url: r.text for r in enc} == plain
    for r in enc:
        kept = [b for b in r.blocks if b.start >= 0]
        assert all(b.end <= len(r.text) and b.start < b.end for b in kept)
        assert "\n".join(r.text[b.start : b.end] for b in kept) == r.text
        assert all(
            b.end == -1 for b in r.blocks if b.start == -1
        )
        # spans appear in reading order and never overlap
        for a, b in zip(kept, kept[1:]):
            assert b.start == a.end + 1


def test_full_html_wraps_plain_extract(spark, corpus_path):
    """The OE_FULL_HTML variant: unwrapping the <p> elements and
    undoing entity escaping must reproduce plain extract byte-for-byte,
    and the stats comment must carry the kept block count."""
    import re

    pages = read_pages(spark, corpus_path)
    plain = {r.url: r.text for r in extract(pages).collect()}
    full = {r.url: r.html for r in extract(pages, fmt="full_html").collect()}
    assert set(full) == set(plain)
    unesc = lambda s: (  # noqa: E731
        s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
    )
    for url, html in full.items():
        assert html.startswith("<!DOCTYPE html>\n<html><head>")
        assert html.endswith("</body></html>")
        assert "<title>" in html
        blocks = re.findall(r"<p>(.*?)</p>", html, flags=re.S)
        assert "\n".join(unesc(b) for b in blocks) == plain[url]
        m = re.search(r"<!-- blocks: (\d+)/(\d+) -->", html)
        assert m and int(m.group(1)) == len(blocks)
        assert int(m.group(2)) >= int(m.group(1))


def test_text_container_roundtrip(spark, corpus_path, tmp_path):
    """pages → JSONL / CSV (html base64) → read_pages_any → extract:
    byte-identical to extracting from the parquet original."""
    from clara_ocr_spark.sources.formats import (
        read_pages_any,
        write_pages_text,
    )

    import datetime

    pages = read_pages(spark, corpus_path)
    want = {r.url: r.text for r in extract(pages).collect()}
    for fmt in ("jsonl", "csv"):
        p = str(tmp_path / f"pages_{fmt}")
        write_pages_text(pages, p, fmt)
        got = {
            r.url: r.text
            for r in extract(read_pages_any(spark, p, fmt)).collect()
        }
        assert got == want, fmt
    # quotes + embedded newlines survive both text containers (the
    # RFC-4180 doubled-quote discipline on the CSV side)
    tricky = spark.createDataFrame(
        [(
            "u1", datetime.datetime(2024, 1, 1),
            b'<p>he said "hi", then\nleft</p>',
            'he said "hi", then\nleft', "en",
        )],
        "url string, warc_ts timestamp, html binary, "
        "text string, lang string",
    )
    for fmt in ("jsonl", "csv"):
        p = str(tmp_path / f"tricky_{fmt}")
        write_pages_text(tricky, p, fmt)
        back = read_pages_any(spark, p, fmt).collect()[0]
        assert back.text == 'he said "hi", then\nleft', fmt
        assert bytes(back.html) == b'<p>he said "hi", then\nleft</p>', fmt


def test_warc_source_roundtrip(spark, corpus_path, tmp_path):
    """WARC response records → read_pages_warc → extract: the
    crawler-native container yields byte-identical extraction. A
    payload containing a 'WARC/1.0' lookalike must not derail the
    Content-Length framing."""
    from clara_ocr_spark.sources.formats import read_pages_warc, write_warc

    pages = read_pages(spark, corpus_path)
    rows = pages.collect()
    want = {r.url: r.text for r in extract(pages).collect()}
    import datetime

    trap = {
        "url": "https://trap.example/w",
        "warc_ts": datetime.datetime(2024, 1, 1),
        "html": (
            b"<p>body mentions WARC/1.0\r\nand carries on with enough"
            b" words to pass the extraction length gate fine</p>"
        ),
    }
    half = len(rows) // 2
    write_warc(
        [
            {"url": r.url, "warc_ts": r.warc_ts, "html": bytes(r.html or b"")}
            for r in rows[:half]
        ]
        + [trap],
        str(tmp_path / "a.warc"),
    )
    write_warc(
        [
            {"url": r.url, "warc_ts": r.warc_ts, "html": bytes(r.html or b"")}
            for r in rows[half:]
        ],
        str(tmp_path / "b.warc"),
    )
    back = read_pages_warc(spark, str(tmp_path) + "/*.warc")
    assert back.count() == len(rows) + 1
    got = {r.url: r.text for r in extract(back).collect()}
    assert "WARC/1.0" in got.pop("https://trap.example/w")
    assert got == want


def test_warc_timestamp_session_timezone(spark, tmp_path):
    """WARC-Date is UTC; on a non-UTC session the reader must convert
    to the session zone before tz-stripping so warc_ts denotes the
    same instant as the parquet/jsonl readers (ADVICE r2: a bare UTC
    strip shifted it by the session offset)."""
    import datetime

    from clara_ocr_spark.sources.formats import read_pages_warc, write_warc

    write_warc(
        [{
            "url": "https://tz.example/",
            "warc_ts": datetime.datetime(2024, 1, 1, 12, 0, 0),  # UTC
            "html": b"<p>tz probe</p>",
        }],
        str(tmp_path / "tz.warc"),
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = read_pages_warc(
                spark, str(tmp_path / "tz.warc")
            ).select(
                F.unix_timestamp("warc_ts").alias("epoch")
            ).collect()[0].epoch
            # The stored instant must be 2024-01-01T12:00:00Z in every
            # session zone (unix_timestamp reinterprets the naive value
            # through the same session zone the writer used, so a
            # correct round-trip is zone-invariant).
            assert got == 1704110400, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_markup_byte_identity_vs_reference(spark, corpus_path):
    """The <I>/<B> output variant: Spark ``fmt="markup"`` ≡ single-node
    reference_extract_markup per url — over emphasis-bearing documents
    AND the full (emphasis-free) corpus, where it must also equal
    plain extract byte-for-byte."""
    import datetime

    from clara_ocr_spark.extract_rules import reference_extract_markup
    from clara_ocr_spark.sources.formats import PAGES_SPARK_SCHEMA

    ts = datetime.datetime(2026, 1, 1)
    payloads = [
        b"<p>plain <i>ital word</i> mid <b>bold</b> end of paragraph</p>",
        b"<p><b>bo</b>ld split word and more words here</p>",
        b"<p>nested <b>bold <i>both kinds</i></b> tail words follow</p>",
        b"<div><p>unclosed <b>bold runs on here</p><p>next block clean"
        b" and long enough</p></div>",
        b"<p><em>a</em> <em>b</em> c <strong>d</strong> padding words"
        b" to pass the length gate</p>",
        "<p>café <i>straße — motörhead</i> tail"
        " words here</p>".encode("utf-8"),
    ]
    rows = [
        (f"e{i}", ts, h, reference_extract_markup(h), "en")
        for i, h in enumerate(payloads)
    ]
    df = spark.createDataFrame(rows, PAGES_SPARK_SCHEMA)
    got = {r.url: r.text for r in extract(df, fmt="markup").collect()}
    assert got == {u: t for u, _, _, t, _ in rows}
    assert any("<i>" in t or "<b>" in t for t in got.values())

    pages = read_pages(spark, corpus_path)
    plain = {r.url: r.text for r in extract(pages).collect()}
    marked = {r.url: r.text for r in extract(pages, fmt="markup").collect()}
    assert marked == plain  # corpus has no emphasis tags


def test_hqbin_passing_docs_untouched(spark, corpus_path):
    """Docs that pass the strict quality gate are byte-identical to
    plain extract and never flagged; every url appears exactly once."""
    pages = read_pages(spark, corpus_path)
    base = {r.url: r.text for r in extract(pages).collect()}
    rows = extract(pages, hqbin=True).collect()
    hq = {r.url: (r.text, r.hq_reparsed) for r in rows}
    assert len(rows) == len(hq) == len(base)
    for url, text in base.items():
        n = len(text.split()) if text.strip() else 0
        if n >= 5:
            assert hq[url] == (text, False)


def test_hqbin_recovers_low_quality_doc(spark):
    """A page whose only paragraph is shorter than the strict
    min_text_len extracts empty under the strict pass but is recovered
    by the loose second pass; a healthy page is untouched."""
    import datetime

    from clara_ocr_spark.sources.formats import PAGES_SPARK_SCHEMA

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("u_tiny", ts, b"<p>abc def</p>", "", "en"),  # 9 chars < 10
        (
            "u_ok",
            ts,
            b"<p>" + b"solid content words here " * 4 + b"</p>",
            "",
            "en",
        ),
    ]
    df = spark.createDataFrame(rows, PAGES_SPARK_SCHEMA)
    got = {r.url: (r.text, r.hq_reparsed) for r in extract(df, hqbin=True).collect()}
    assert got["u_tiny"] == ("abc def", True)
    assert got["u_ok"][1] is False
    base = {r.url: r.text for r in extract(df).collect()}
    assert base["u_tiny"] == ""  # strict pass really did fail it
    assert got["u_ok"][0] == base["u_ok"]


def test_committed_encap_golden(spark):
    """Committed golden for the encap format (same discipline as
    extract_seed42_60.json): pins text AND span coordinates."""
    import datetime
    import json
    import os

    from clara_ocr_spark.sources.corpus import gen_page
    from clara_ocr_spark.sources.formats import PAGES_SPARK_SCHEMA

    path = os.path.join(
        os.path.dirname(__file__), "goldens", "encap_seed42_60.json"
    )
    with open(path) as f:
        want = {r["url"]: r for r in json.load(f)}
    ts = datetime.datetime(2026, 1, 1)
    pages = [gen_page(i, seed=42) for i in range(60)]
    df = spark.createDataFrame(
        [(p["url"], ts, p["html"], "", "en") for p in pages],
        PAGES_SPARK_SCHEMA,
    )
    got = extract(df, fmt="encap").collect()
    assert len(got) == len(want)
    for r in got:
        w = want[r.url]
        assert r.text == w["text"]
        assert [list(b) for b in r.blocks] == w["blocks"]


def test_committed_goldens(spark, tmp_path):
    """Byte-identity against COMMITTED goldens (the imre.pbm regression
    pattern, book.c:982-984): catches coordinated drift of pipeline +
    reference extractor that runtime comparison cannot."""
    import json
    import os

    from clara_ocr_spark.sources.corpus import gen_page
    from clara_ocr_spark.sources.formats import PAGES_SPARK_SCHEMA

    path = os.path.join(os.path.dirname(__file__), "goldens", "extract_seed42_60.json")
    with open(path) as f:
        want = {r["url"]: r["text"] for r in json.load(f)}
    import datetime

    ts = datetime.datetime(2026, 1, 1)
    pages = [gen_page(i, seed=42) for i in range(60)]
    df = spark.createDataFrame(
        [(p["url"], ts, p["html"], "", "en") for p in pages], PAGES_SPARK_SCHEMA
    )
    got = {r.url: r.text for r in extract(df).collect()}
    assert got == want


def test_warc_gz_members_roundtrip(spark, corpus_path, tmp_path):
    """.warc.gz with one gzip member per record (the production
    Common-Crawl layout): stdlib member walk yields the same
    extraction as the plain container."""
    from clara_ocr_spark.sources.formats import read_pages_warc, write_warc

    pages = read_pages(spark, corpus_path)
    rows = pages.limit(40).collect()
    want = {
        r.url: r.text
        for r in extract(
            pages.join(
                spark.createDataFrame([(r.url,) for r in rows], "url string"),
                "url", "left_semi",
            )
        ).collect()
    }
    write_warc(
        [
            {"url": r.url, "warc_ts": r.warc_ts, "html": bytes(r.html or b"")}
            for r in rows
        ],
        str(tmp_path / "a.warc.gz"),
        gzip_members=True,
    )
    back = read_pages_warc(spark, str(tmp_path / "a.warc.gz"))
    assert back.count() == len(rows)
    got = {r.url: r.text for r in extract(back).collect()}
    assert got == want


def test_wet_conversion_records(spark, tmp_path):
    """WET sidecars (WARC-Type: conversion): payload lands in the text
    column — the pre-extracted shape — html stays NULL, and response +
    conversion records coexist in one file."""
    import datetime

    from clara_ocr_spark.sources.formats import read_pages_warc, write_warc

    ts = datetime.datetime(2024, 3, 1, 8, 0, 0)
    write_warc(
        [
            {"url": "https://wet.example/a", "warc_ts": ts,
             "html": None, "text": "pre extracted text ä ö"},
            {"url": "https://raw.example/b", "warc_ts": ts,
             "html": b"<p>raw html body with enough words to keep</p>"},
            {"url": "https://wet.example/c", "warc_ts": ts,
             "html": None, "text": "WARC/1.0\r\nlookalike inside text"},
        ],
        str(tmp_path / "mixed.wet.gz"),
        gzip_members=True,
    )
    rows = {
        r.url: r
        for r in read_pages_warc(
            spark, str(tmp_path / "mixed.wet.gz")
        ).collect()
    }
    assert len(rows) == 3
    a = rows["https://wet.example/a"]
    assert a.text == "pre extracted text ä ö" and a.html is None
    b = rows["https://raw.example/b"]
    assert b.text is None and b"raw html body" in bytes(b.html)
    c = rows["https://wet.example/c"]
    assert c.text == "WARC/1.0\r\nlookalike inside text"
