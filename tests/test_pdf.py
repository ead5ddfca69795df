"""PDF layout-parse leg: tokenizer, geometric assembly, byte-identity.

Mirrors the reference's test apparatus (SURVEY §5): table-driven unit
cases for the scalar primitives (≈ clara-tests.c intersize/ldist
tables), golden end-to-end fixtures (≈ imre.pbm), and a differential
oracle — the single-node ``pdf_reference_extract`` pins the Spark
layout stage byte-for-byte, while generator-side expected text pins
``pdf_reference_extract`` itself (three independent derivations of
the same string)."""

from __future__ import annotations

import random
import re
import zlib

import pyarrow as pa
import pytest

from clara_ocr_spark.sources import pdfgen
from clara_ocr_spark.sources.corpus import PAGES_SCHEMA, gen_page
from clara_ocr_spark.sources.pdfgen import build_pdf, gen_pdf_page
from clara_ocr_spark.sources.pdfparse import (
    Run,
    column_split,
    group_lines,
    is_pdf,
    join_words,
    parse_pdf_runs,
    pdf_reference_extract,
    reference_text,
)


def _mk_pdf(content: bytes) -> bytes:
    """Wrap a single raw content stream in a minimal valid PDF
    (Random(0) draws > 0.5 first, so the stream stays uncompressed)."""
    return pdfgen._assemble_pdf([content], random.Random(0))


def _runs(content: str) -> list:
    return parse_pdf_runs(_mk_pdf(content.encode("latin-1")))


# -- tokenizer -------------------------------------------------------------


class TestTokenizer:
    def test_simple_tj(self):
        rs = _runs("BT /F1 12 Tf 72 700 Td (Hello) Tj ET")
        assert len(rs) == 1
        r = rs[0]
        assert (r.text, r.x, r.y, r.size) == ("Hello", 72.0, 700.0, 12.0)
        assert r.x_end == 72.0 + 0.5 * 12 * 5

    def test_escapes(self):
        rs = _runs(r"BT 72 700 Td (a\(b\)c\\d) Tj ET")
        assert rs[0].text == "a(b)c\\d"

    def test_octal_escape(self):
        rs = _runs(r"BT 72 700 Td (\101\102\103) Tj ET")
        assert rs[0].text == "ABC"

    def test_nested_parens(self):
        rs = _runs("BT 72 700 Td (a(b)c) Tj ET")
        assert rs[0].text == "a(b)c"

    def test_hex_string(self):
        rs = _runs("BT 72 700 Td <48656c6c6f> Tj ET")
        assert rs[0].text == "Hello"

    def test_hex_odd_padded(self):
        # odd digit count pads a trailing 0: 0x40 = '@'
        rs = _runs("BT 72 700 Td <4> Tj ET")
        assert rs[0].text == "@"

    def test_tj_array_kerning(self):
        rs = _runs("BT /F1 10 Tf 72 700 Td [(Hel) 0 (lo)] TJ ET")
        assert [r.text for r in rs] == ["Hel", "lo"]
        # zero adjustment: second run starts where the first ended
        assert rs[1].x == rs[0].x_end

    def test_tj_numeric_adjustment(self):
        rs = _runs("BT /F1 10 Tf 72 700 Td [(a) -100 (b)] TJ ET")
        # -(-100)/1000 * 10 = +1.0 extra advance
        assert rs[1].x == pytest.approx(rs[0].x_end + 1.0)

    def test_tm_positioning(self):
        rs = _runs("BT /F1 12 Tf 1 0 0 1 100 650 Tm (X) Tj ET")
        assert (rs[0].x, rs[0].y) == (100.0, 650.0)

    def test_td_accumulates(self):
        rs = _runs("BT 72 700 Td (a) Tj 0 -14 Td (b) Tj ET")
        assert [(r.x, r.y) for r in rs] == [(72.0, 700.0), (72.0, 686.0)]

    def test_tstar_and_quote(self):
        rs = _runs("BT /F1 12 Tf 14 TL 72 700 Td (a) Tj T* (b) Tj (c) ' ET")
        assert [(r.text, r.y) for r in rs] == [
            ("a", 700.0),
            ("b", 686.0),
            ("c", 672.0),
        ]

    def test_td_sets_leading(self):
        rs = _runs("BT 72 700 Td (a) Tj 0 -20 TD (b) Tj (c) ' ET")
        assert [(r.text, r.y) for r in rs] == [
            ("a", 700.0),
            ("b", 680.0),
            ("c", 660.0),
        ]

    def test_text_outside_bt_ignored(self):
        rs = _runs("(stray) Tj BT 72 700 Td (kept) Tj ET")
        assert [r.text for r in rs] == ["kept"]

    def test_empty_string_no_run(self):
        rs = _runs("BT 72 700 Td () Tj ET")
        assert rs == []

    def test_comment_skipped(self):
        rs = _runs("% comment (not text) Tj\nBT 72 700 Td (x) Tj ET")
        assert [r.text for r in rs] == ["x"]

    def test_flate_stream(self):
        data = b"BT /F1 12 Tf 72 700 Td (Zip) Tj ET"
        comp = zlib.compress(data)
        raw = (
            b"%PDF-1.4\n1 0 obj\n<< /Length "
            + str(len(comp)).encode()
            + b" /Filter /FlateDecode >>\nstream\n"
            + comp
            + b"endstream\nendobj\n%%EOF"
        )
        assert [r.text for r in parse_pdf_runs(raw)] == ["Zip"]

    def test_corrupt_flate_falls_back_to_raw(self):
        # a corrupt FlateDecode stream keeps its raw bytes (which here
        # tokenize to no text runs) instead of aborting the document
        raw = (
            b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode >>\nstream\n"
            b"not-zlib-data endstream\nendobj\n"
            b"2 0 obj\n<< /Length 34 >>\nstream\n"
            b"BT /F1 12 Tf 72 700 Td (ok) Tj ET\nendstream\nendobj\n%%EOF"
        )
        assert [r.text for r in parse_pdf_runs(raw)] == ["ok"]

    def test_unrelated_flate_dict_does_not_poison_plain_stream(self):
        # regression (ADVICE r2): a non-stream object dict mentioning
        # FlateDecode (an image XObject, say) sits between two streams;
        # the plain text stream after it must NOT be zlib-decompressed
        # (the old first-<<-to->>stream pairing captured the image dict
        # in the text stream's params and silently dropped the page)
        raw = (
            b"%PDF-1.4\n"
            b"1 0 obj\n<< /Length 33 >>\nstream\n"
            b"BT /F1 12 Tf 72 700 Td (p1) Tj ET\nendstream\nendobj\n"
            b"2 0 obj\n<< /Type /XObject /Subtype /Image "
            b"/Filter /FlateDecode /Width 8 /Height 8 >>\nendobj\n"
            b"3 0 obj\n<< /Length 33 >>\nstream\n"
            b"BT /F1 12 Tf 72 700 Td (p2) Tj ET\nendstream\nendobj\n%%EOF"
        )
        assert [r.text for r in parse_pdf_runs(raw)] == ["p1", "p2"]
        assert pdf_reference_extract(raw) == "p1\np2"

    def test_nested_dict_params_anchor_to_own_stream(self):
        # the stream's own dict nests a sub-dict; backward scan must
        # match << >> pairs, not stop at the first <<
        data = b"BT /F1 12 Tf 72 700 Td (zipped) Tj ET"
        comp = zlib.compress(data)
        raw = (
            b"%PDF-1.4\n1 0 obj\n<< /Length "
            + str(len(comp)).encode()
            + b" /DecodeParms << /Predictor 1 >> /Filter /FlateDecode >>"
            + b"\nstream\n"
            + comp
            + b"endstream\nendobj\n%%EOF"
        )
        assert [r.text for r in parse_pdf_runs(raw)] == ["zipped"]

    @pytest.mark.parametrize(
        "raw", [None, b"", b"<html><p>x</p></html>", b"%PDF", b"\x00" * 64]
    )
    def test_non_pdf_inputs(self, raw):
        assert parse_pdf_runs(raw) == []
        assert not is_pdf(raw)


# -- geometric primitives (table-driven, ≈ clara-tests.c style) ------------


def _r(x, x_end, y, page=0, size=12.0, text="w"):
    return Run(page, x, x_end, y, size, text)


class TestColumnSplit:
    def test_no_split_single_cluster(self):
        rs = [_r(72 + i * 30, 72 + i * 30 + 25, 700) for i in range(6)]
        assert column_split(rs) is None

    def test_split_found(self):
        left = [_r(72 + i * 30, 72 + i * 30 + 25, 700 - j * 14) for i in range(3) for j in range(2)]
        right = [_r(400 + i * 30, 400 + i * 30 + 25, 700 - j * 14) for i in range(3) for j in range(2)]
        # widest gap: 400 - (132+25) = 243
        assert column_split(left + right) == 400.0

    def test_min_side_runs_guard(self):
        # only one run on the right: no split even with a huge gap
        rs = [_r(72, 100, 700), _r(110, 140, 700), _r(500, 530, 700)]
        assert column_split(rs) is None

    def test_tie_smallest_x(self):
        # two equal rivers of 100: split at the leftmost one
        rs = [
            _r(0, 50, 700),
            _r(50, 100, 700),
            _r(200, 250, 700),
            _r(250, 300, 700),
            _r(400, 450, 700),
            _r(450, 500, 700),
        ]
        assert column_split(rs) == 200.0


class TestLinesAndWords:
    def test_lines_chain_within_tolerance(self):
        rs = [_r(72, 100, 700.0), _r(110, 140, 699.0), _r(150, 180, 697.5)]
        assert len(group_lines(rs)) == 1  # chained: steps 1.0, 1.5 ≤ tol

    def test_lines_split_beyond_tolerance(self):
        rs = [_r(72, 100, 700.0), _r(72, 100, 686.0)]
        assert len(group_lines(rs)) == 2

    def test_word_gap_space(self):
        line = [_r(72, 100, 700, text="a"), _r(106, 130, 700, text="b")]
        assert join_words(line) == "a b"

    def test_kerning_join(self):
        line = [_r(72, 100, 700, text="Hel"), _r(100.5, 120, 700, text="lo")]
        assert join_words(line) == "Hello"

    def test_no_space_before_punct(self):
        line = [_r(72, 100, 700, text="end"), _r(104, 110, 700, text=".")]
        assert join_words(line) == "end."


# -- fast vs exact tokenizer (fastparse-style differential) ----------------


class TestFastPath:
    def _diff(self, buf: bytes):
        from clara_ocr_spark.sources.pdfparse import (
            _page_runs,
            _page_runs_blocks,
        )

        blocks = _page_runs_blocks(buf, 0)
        if blocks is not None:
            assert blocks == _page_runs(buf, 0), buf[:120]
        return blocks

    def test_generator_streams_take_fast_path(self):
        from clara_ocr_spark.sources.pdfparse import _decode_streams

        n_blocks = n_total = 0
        for i in range(80):
            for stream in _decode_streams(gen_pdf_page(i, seed=3)["html"]):
                n_total += 1
                n_blocks += self._diff(stream) is not None
        assert n_total > 0
        # the synthetic corpus's emission shape is all absolute-positioned
        # blocks → the statement-level tier takes every stream
        assert n_blocks == n_total

    _STATEFUL = [
        b"BT /F1 12 Tf 10 20 Td (a) Tj 0 -14 Td (b) Tj ET",  # 2 shows
        b"BT /F1 12 Tf 14 TL 10 20 Td (a) ' ET",  # quote op
        b"BT /F1 12 Tf 10 20 Td (a) Tj ET BT (b) Tj ET",  # no Tf/pos
        b"BT /F1 12 Tf 2 0 0 2 10 20 Tm (a) Tj ET",  # scaled Tm
        rb"BT /F1 12 Tf 10 20 Td (a\)b) Tj ET",  # escape
    ]

    def test_blocks_path_bails_on_stateful_streams(self):
        """Any operator needing interpreter state across statements
        (T*, ', TL, relative Td chains) must fall through to the exact
        interpreter — the block grammar cannot place it."""
        from clara_ocr_spark.sources.pdfparse import _page_runs_blocks

        for buf in self._STATEFUL:
            assert _page_runs_blocks(buf, 0) is None, buf

    def test_fallback_streams_parse_exactly(self):
        """Streams the block tier rejects go through ``parse_pdf_runs``
        to the exact interpreter's runs, end to end from PDF bytes."""
        from clara_ocr_spark.sources.pdfparse import _page_runs

        for buf in [rb"(a\(b) Tj", b"(unbalanced", b"BT (a(b)c) Tj", b"< <4>"]:
            assert parse_pdf_runs(_mk_pdf(buf)) == _page_runs(buf, 0), buf
        for buf in self._STATEFUL:
            runs = parse_pdf_runs(_mk_pdf(buf))
            assert runs and runs == _page_runs(buf, 0), buf

    @pytest.mark.parametrize("seed", range(25))
    def test_fuzz_equivalence(self, seed):
        rng = random.Random(seed)
        frags = [
            b"BT", b"ET", b"Tj", b"TJ", b"Td", b"Tm", b"T*", b"'", b"Tf",
            b"TD", b"TL", b"(abc)", b"(a b)", b"<414243>", b"<4>", b"[", b"]",
            b"<<", b">>", b"/F1", b"12", b"-3.5", b"1e2", b"% cmt\n", b"  ",
            b"\n", b"x9z", b"1.2.3", b"()", b"14", b"72 700",
        ]
        buf = b" ".join(rng.choice(frags) for _ in range(120))
        self._diff(buf)


# -- differential: generator expected text vs single-node extractor --------


def test_reference_extract_matches_generator():
    for i in range(150):
        row = gen_pdf_page(i, seed=7)
        assert pdf_reference_extract(row["html"]) == row["text"], f"doc {i}"


def test_generator_deterministic():
    a, b = gen_pdf_page(11), gen_pdf_page(11)
    assert a["html"] == b["html"] and a["text"] == b["text"]


def test_multipage_reading_order():
    rng = random.Random(99)
    raw, expected = build_pdf(rng, "en", n_pages=3)
    assert pdf_reference_extract(raw) == expected
    assert expected.count("\n") >= 3


# -- random-geometry identity: Spark layout ≡ single-node oracle -----------


def _random_runs(rng: random.Random) -> list:
    """Arbitrary run geometry — NOT generator-shaped: random float
    coords (including exact-tolerance ties), overlapping runs,
    multiple pages, punctuation-initial runs."""
    runs = []
    for page in range(rng.randint(1, 3)):
        for _ in range(rng.randint(1, 40)):
            x = round(rng.uniform(0, 600), 2)
            w = round(rng.uniform(0.5, 120), 2)
            # quantized y makes exact LINE_TOL-boundary ties common
            y = round(rng.choice([700 - 2.0 * k for k in range(40)]), 2)
            text = rng.choice(["w", "ab", "xyz", ".", ",", "Hello", "?"])
            runs.append(Run(page, x, round(x + w, 2), y, 12.0, text))
    return runs


def test_layout_random_geometry_identity(spark):
    """200 documents of arbitrary random geometry through the
    production per-document block rows and the Spark reading-order
    assembly vs the single-node oracle — covers shapes the PDF
    generator never emits (overlaps, tolerance-boundary ties, huge
    gaps that trigger/just-miss column splits, lines split across
    zones)."""
    import pyspark.sql.functions as F

    from clara_ocr_spark.extract_rules import LABEL_CONTENT
    from clara_ocr_spark.stages.assemble import assemble
    from clara_ocr_spark.stages.layout import pdf_blocks
    from clara_ocr_spark.stages.segment import BLOCKS_SCHEMA, doc_rows

    docs = {}
    rows = []
    for d in range(200):
        rng = random.Random(1000 + d)
        runs = _random_runs(rng)
        url = f"doc{d}"
        docs[url] = reference_text(runs)
        rows.extend(doc_rows(url, pdf_blocks(runs), full_features=False))
    df = spark.createDataFrame(rows, BLOCKS_SCHEMA).withColumn(
        "label", F.lit(LABEL_CONTENT)
    )
    got = {r["url"]: r["text"] for r in assemble(df).collect()}
    assert got == docs


# -- cf_block analogue: tall-separator column splitter ---------------------

#: two close-set columns (river gap ≪ COL_GAP) divided by a 40 pt
#: vertical bar — the dictionary-scan shape cf_block exists for
_TALL_CONTENT = (
    "BT /F1 12 Tf "
    "1 0 0 1 72 700 Tm (la) Tj 1 0 0 1 72 686 Tm (lb) Tj "
    "/F1 40 Tf 1 0 0 1 110 660 Tm (|) Tj /F1 12 Tf "
    "1 0 0 1 120 700 Tm (ra) Tj 1 0 0 1 120 686 Tm (rb) Tj ET"
)


class TestTallSplitter:
    def test_split_found_at_bar(self):
        from clara_ocr_spark.sources.pdfparse import column_split_tall

        runs = _runs(_TALL_CONTENT)
        assert column_split_tall(runs) == 110.0

    def test_min_side_guard(self):
        from clara_ocr_spark.sources.pdfparse import column_split_tall

        # only one body run right of the bar → no split
        rs = _runs(
            "BT /F1 12 Tf 1 0 0 1 72 700 Tm (la) Tj "
            "1 0 0 1 72 686 Tm (lb) Tj /F1 40 Tf "
            "1 0 0 1 110 660 Tm (|) Tj /F1 12 Tf "
            "1 0 0 1 120 700 Tm (ra) Tj ET"
        )
        assert column_split_tall(rs) is None

    def test_small_font_bar_not_a_separator(self):
        from clara_ocr_spark.sources.pdfparse import column_split_tall

        rs = _runs(_TALL_CONTENT.replace("/F1 40 Tf", "/F1 12 Tf"))
        assert column_split_tall(rs) is None

    def test_reference_extract_tall_vs_river(self):
        raw = _mk_pdf(_TALL_CONTENT.encode("latin-1"))
        # tall splitter: left column first, bar dropped
        assert pdf_reference_extract(raw, splitter="tall") == "la\nlb\nra\nrb"
        # river splitter: 36 pt gap < COL_GAP → one zone, y-interleaved,
        # the bar glyph survives as text
        assert pdf_reference_extract(raw) == "la ra\nlb rb\n|"

    def test_spark_tall_byte_identity(self, spark):
        """Spark tall-splitter leg ≡ single-node tall oracle over tall
        docs, generator docs (no bars → no split), and empty payloads."""
        import datetime

        from clara_ocr_spark.stages.layout import extract_pdf

        ts = datetime.datetime(2026, 1, 1)
        rows = []
        raw = _mk_pdf(_TALL_CONTENT.encode("latin-1"))
        rows.append(
            {
                "url": "https://tall.example/1",
                "warc_ts": ts,
                "html": raw,
                "text": pdf_reference_extract(raw, splitter="tall"),
                "lang": "en",
            }
        )
        for i in range(30):
            p = gen_pdf_page(i, seed=33)
            p["text"] = pdf_reference_extract(p["html"], splitter="tall")
            rows.append(p)
        rows.append(
            {
                "url": "https://tall.example/empty",
                "warc_ts": ts,
                "html": b"%PDF-1.4\n%%EOF",
                "text": "",
                "lang": "en",
            }
        )
        got = {
            r["url"]: r["text"]
            for r in extract_pdf(
                _pages_df(spark, rows), splitter="tall"
            ).collect()
        }
        assert got == {r["url"]: r["text"] for r in rows}


# -- Spark layout stage: byte identity + plan shape ------------------------


@pytest.fixture(scope="module")
def pdf_rows():
    rows = [gen_pdf_page(i) for i in range(120)]
    # adversarial tails: empty/corrupt payloads must yield text=''
    rows.append(
        {
            "url": "https://bad.example/empty.pdf",
            "warc_ts": rows[0]["warc_ts"],
            "html": b"%PDF-1.4\n%%EOF",
            "text": "",
            "lang": "en",
        }
    )
    rows.append(
        {
            "url": "https://bad.example/trunc.pdf",
            "warc_ts": rows[0]["warc_ts"],
            "html": b"%PDF-1.4\n1 0 obj\n<< /Length 99 >>\nstream\nBT (a",
            "text": pdf_reference_extract(
                b"%PDF-1.4\n1 0 obj\n<< /Length 99 >>\nstream\nBT (a"
            ),
            "lang": "en",
        }
    )
    return rows


def _pages_df(spark, rows):
    return spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=PAGES_SCHEMA).to_pandas()
    )


def test_spark_layout_byte_identity(spark, pdf_rows):
    from clara_ocr_spark.stages.layout import extract_pdf

    got = {r["url"]: r["text"] for r in extract_pdf(_pages_df(spark, pdf_rows)).collect()}
    assert set(got) == {r["url"] for r in pdf_rows}
    for row in pdf_rows:
        assert got[row["url"]] == row["text"], row["url"]


def _mixed_rows(pdf_rows, n=40):
    """HTML and PDF payloads in one table, plus one NULL payload."""
    html_rows = [gen_page(i) for i in range(n)]
    null_row = {
        "url": "https://bad.example/null-html",
        "warc_ts": html_rows[0]["warc_ts"],
        "html": None,
        "text": "",
        "lang": "en",
    }
    return html_rows + pdf_rows[:n] + [null_row]


@pytest.mark.parametrize("fmt", ["text", "encap"])
def test_mixed_routing_byte_identity(spark, pdf_rows, fmt):
    """HTML and PDF payloads in ONE pages table, routed by magic with
    no option set; NULL payloads must survive to the output as empty
    pages (a NULL predicate would silently drop them).  The encap
    variant's ``text`` is the same string."""
    from clara_ocr_spark.pipeline import extract

    rows = _mixed_rows(pdf_rows)
    got = {
        r["url"]: r["text"]
        for r in extract(_pages_df(spark, rows), fmt=fmt).collect()
    }
    assert set(got) == {r["url"] for r in rows}
    for row in rows:
        assert got[row["url"]] == row["text"], row["url"]


def test_mixed_full_html_one_row_per_url(spark, pdf_rows):
    """The full-document variant over a mixed table: one document per
    url, PDF and NULL payloads included, and no raw PDF syntax in any
    document body."""
    from clara_ocr_spark.pipeline import extract

    rows = _mixed_rows(pdf_rows, n=10)
    got = extract(_pages_df(spark, rows), fmt="full_html").collect()
    assert sorted(r["url"] for r in got) == sorted(r["url"] for r in rows)
    assert not any("%PDF-" in r["html"] for r in got)


def test_layout_partitioning_invariance(spark, pdf_rows):
    """Determinism under arbitrary repartitioning (SURVEY hard-part 2:
    every ordering is a strict total order, so the plan's output is
    partition-count-independent)."""
    from clara_ocr_spark.stages.layout import extract_pdf

    df = _pages_df(spark, pdf_rows[:60])
    a = {r["url"]: r["text"] for r in extract_pdf(df.repartition(1)).collect()}
    b = {r["url"]: r["text"] for r in extract_pdf(df.repartition(17)).collect()}
    assert a == b


def test_committed_pdf_goldens(spark):
    """Byte-identity against COMMITTED goldens (the imre.pbm
    regression pattern): catches coordinated drift of generator +
    parser + Spark layout that runtime comparison cannot."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(__file__), "goldens", "pdf_extract_seed42_60.json"
    )
    with open(path) as f:
        want = {r["url"]: r["text"] for r in json.load(f)}
    from clara_ocr_spark.stages.layout import extract_pdf

    rows = [gen_pdf_page(i, seed=42) for i in range(60)]
    got = {
        r["url"]: r["text"]
        for r in extract_pdf(_pages_df(spark, rows)).collect()
    }
    assert got == want


def test_mixed_plan_one_python_stage(spark, pdf_rows):
    """Scale pin for the job's composition: HTML and PDF payloads
    share ONE Python stage (routed by magic bytes) and ONE url
    shuffle, with the step_6 gate attached and no union of legs;
    only (url, html) cross into Python and html does not come back."""
    from pyspark.sql import Observation

    from clara_ocr_spark.pipeline import extract

    rows = [gen_page(i) for i in range(5)] + pdf_rows[:5]
    plan = (
        extract(_pages_df(spark, rows), gate=Observation())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    keys = ("MapInPandas", "Exchange", "CollectMetrics", "Union", "Window")
    assert {k: plan.count(k) for k in keys} == {
        "MapInPandas": 1,
        "Exchange": 1,
        "CollectMetrics": 1,
        "Union": 0,
        "Window": 0,
    }
    assert "MapInPandas _segment_batches(" in plan
    # PDF lines are labeled content by default, in the classify projection
    assert re.search(r"CASE WHEN \(tag_path#\d+ = %PDF\) THEN content", plan)
    above, below = plan.split("MapInPandas", 1)
    assert "warc_ts" not in below and "lang" not in below
    assert "html" not in above


def test_mixed_blocks_consistent(spark, pdf_rows):
    """PDF line blocks pass every step_6 invariant beside the DOM
    blocks, one block per line of the oracle text, and the gate on
    the job's composition records no violation."""
    from pyspark.sql import Observation

    from clara_ocr_spark.pipeline import extract
    from clara_ocr_spark.stages.classify import classify
    from clara_ocr_spark.stages.consist import (
        BLOCK_INVARIANTS,
        assert_observed,
        check_blocks,
    )
    from clara_ocr_spark.stages.layout import PDF_TAG_PATH
    from clara_ocr_spark.stages.segment import segment

    rows = [gen_page(i) for i in range(20)] + pdf_rows
    pages = _pages_df(spark, rows)
    blocks = classify(segment(pages, full_features=False))
    assert {
        r.invariant: r.violations for r in check_blocks(blocks).collect()
    } == dict.fromkeys(BLOCK_INVARIANTS, 0)
    n_lines = sum(
        len(r["text"].split("\n")) for r in pdf_rows if r["text"]
    )
    assert n_lines > 0
    assert blocks.filter(blocks.tag_path == PDF_TAG_PATH).count() == n_lines
    gate = Observation()
    extract(pages, gate=gate).collect()
    assert_observed(gate)


def test_hqbin_keeps_pdf_text(spark, pdf_rows):
    """The hqbin residual pass over a mixed table: a PDF's lines are
    content under the loose config too, so a short PDF re-extracts to
    the same text and keeps its first pass (``hq_reparsed`` false);
    every PDF returns its generator text."""
    from clara_ocr_spark.pipeline import HQ_MIN_TOKENS, extract

    raw = _mk_pdf(b"BT /F1 12 Tf 72 700 Td (two words) Tj ET")
    two_words = dict(pdf_rows[0], url="https://short.example/p.pdf", html=raw)
    two_words["text"] = pdf_reference_extract(raw)
    assert two_words["text"] == "two words"
    # empty, truncated and two-word PDFs: all below the token gate
    short = pdf_rows[-2:] + [two_words]
    assert all(len(r["text"].split()) < HQ_MIN_TOKENS for r in short)
    pdfs = pdf_rows[:4] + short
    rows = [gen_page(i) for i in range(4)] + pdfs
    got = {
        r.url: (r.text, r.hq_reparsed)
        for r in extract(_pages_df(spark, rows), hqbin=True).collect()
    }
    assert set(got) == {r["url"] for r in rows}
    for row in pdfs:
        assert got[row["url"]] == (row["text"], False), row["url"]


class TestPageSkewAngles:
    """rect→polar (`ro` analogue) driving the page text-flow angle."""

    def test_level_corpus_reads_zero(self, spark):
        """The synthetic corpus is unrotated: every page's median
        flow angle is 0° and votes exist on every multi-run page."""
        import pyarrow as pa

        from clara_ocr_spark.functions.geometry import page_skew_angles
        from clara_ocr_spark.sources.corpus import PAGES_SCHEMA
        from clara_ocr_spark.stages.layout import parse_runs

        rows = [gen_pdf_page(i, seed=13) for i in range(25)]
        pages = spark.createDataFrame(
            pa.Table.from_pylist(rows, schema=PAGES_SCHEMA).to_pandas()
        )
        got = page_skew_angles(
            parse_runs(pages).filter("page >= 0")
        ).collect()
        assert len(got) > 0
        for r in got:
            if r.n_votes >= 3:
                assert abs(r.skew_deg) < 1e-9, (r.url, r.page, r.skew_deg)

    def test_rotated_runs_read_their_angle(self, spark):
        """Synthetically rotated run geometry reads back the rotation
        (the quantity the reference's deskew geometry measures)."""
        import math

        from clara_ocr_spark.functions.geometry import page_skew_angles

        deg = 1.0  # the small-skew regime the estimator targets
        t = math.radians(deg)
        rows = []
        x = 0.0
        for i in range(12):
            # word i starts where word i-1 ended plus a space, the
            # whole line tilted by `deg`
            x0 = i * 30.0
            rows.append((
                "u", 0,
                x0 * math.cos(t), (x0 + 24.0) * math.cos(t),
                x0 * math.sin(t), 12.0, f"w{i}",
            ))
        runs = spark.createDataFrame(
            rows,
            "url string, page int, x double, x_end double, y double, "
            "size double, text string",
        )
        got = page_skew_angles(runs).collect()[0]
        assert got.n_votes > 0
        assert abs(got.skew_deg - deg) < 0.3  # within the vote spread


class TestExtractPdfSkewReport:
    """VERDICT r3 item 9: the skew estimator over the PDF leg's parsed
    runs — the expression the job's ``--skew-report`` sink writes."""

    def test_skew_report_from_parsed_runs(self, spark):
        import pyarrow as pa

        from clara_ocr_spark.functions.geometry import page_skew_angles
        from clara_ocr_spark.sources.corpus import PAGES_SCHEMA
        from clara_ocr_spark.stages.layout import extract_pdf, parse_runs

        rows = [gen_pdf_page(i, seed=17) for i in range(15)]
        pages = spark.createDataFrame(
            pa.Table.from_pylist(rows, schema=PAGES_SCHEMA).to_pandas()
        )
        got = {r["url"] for r in extract_pdf(pages).collect()}
        rows_out = page_skew_angles(parse_runs(pages)).collect()
        assert rows_out and {r.url for r in rows_out} <= got
        for r in rows_out:  # synthetic corpus is level
            if r.n_votes >= 3:
                assert abs(r.skew_deg) < 1e-9
