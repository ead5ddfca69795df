"""Unit tests for the DOM parser + rule chain (single-node semantics).

Mirrors the reference's own test style: oracle reimplementation +
exhaustive case tables (clara-tests.c:3-96) and golden fixtures
(book.c:982-984).
"""

from __future__ import annotations

from hypothesis import given as _hyp_given
from hypothesis import settings as _hyp_settings
from hypothesis import strategies as _hyp_st

from clara_ocr_spark.domparse import (
    Block,
    block_features,
    decode_html,
    parse_blocks,
)
from clara_ocr_spark.extract_rules import (
    LABEL_BOILER,
    LABEL_CONTENT,
    LABEL_NOISE,
    classify_block,
    reference_extract,
)


def test_decode_utf8_and_latin1_fallback():
    assert decode_html("café".encode("utf-8")) == "café"
    assert decode_html("café".encode("latin-1")) == "café"


def test_decode_bom_wins_and_is_stripped():
    assert decode_html(b"\xef\xbb\xbf" + "café".encode("utf-8")) == "café"
    assert decode_html(b"\xff\xfe" + "café".encode("utf-16-le")) == "café"
    assert decode_html(b"\xfe\xff" + "café".encode("utf-16-be")) == "café"


def test_decode_utf32_bom_not_mistaken_for_utf16le():
    """UTF-32LE's BOM (FF FE 00 00) prefix-matches the UTF-16LE BOM;
    an unguarded utf-16-le tier yields NUL-interleaved text (ADVICE
    r4).  Both UTF-32 byte orders must decode cleanly."""
    assert decode_html(b"\xff\xfe\x00\x00" + "café".encode("utf-32-le")) \
        == "café"
    assert decode_html(b"\x00\x00\xfe\xff" + "café".encode("utf-32-be")) \
        == "café"
    out = decode_html(b"\xff\xfe\x00\x00" + "abc".encode("utf-32-le"))
    assert "\x00" not in out


def test_decode_declared_meta_charset():
    # cp1251 Cyrillic is invalid UTF-8 → the declared tier decodes it
    doc = '<meta charset="windows-1251"><p>Привет</p>'.encode("cp1251")
    assert "Привет" in decode_html(doc)
    # http-equiv Content-Type form, mixed-case label
    doc = (
        '<meta http-equiv="Content-Type" '
        'content="text/html; charset=Shift_JIS"><p>日本語</p>'
    ).encode("shift_jis")
    assert "日本語" in decode_html(doc)


def test_decode_declared_utf8_label_survives_corrupt_byte():
    """A correctly-labeled UTF-8 page with one truncated byte loses
    ONE character (replace), not every multi-byte sequence to the
    Latin-1 fallback (review finding: the utf-8 label used to be
    deliberately absent from the allowlist, with a wrong rationale)."""
    doc = '<meta charset="utf-8"><p>café résumé</p>'.encode("utf-8") + b"\xff"
    out = decode_html(doc)
    assert "café résumé" in out
    assert "Ã©" not in out  # the mojibake the old path produced
    assert out.endswith("\ufffd")


def test_decode_charset_needs_meta_context():
    """A bare charset= in a link query string must NOT select a codec:
    only an actual <meta ...charset=...> declaration counts."""
    body = '<a href="/convert?charset=gb2312">x</a><p>café</p>'
    doc = body.encode("latin-1")  # invalid UTF-8 via é, no meta tag
    assert "café" in decode_html(doc)  # latin-1 fallback, not GBK
    # and the real meta form still wins over a link earlier in the doc
    doc2 = (
        '<a href="/c?charset=latin-1">x</a>'
        '<meta charset="windows-1251"><p>Привет</p>'
    ).encode("cp1251")
    assert "Привет" in decode_html(doc2)
    # WHATWG deviation pinned: valid UTF-8 with a WRONG legacy
    # declaration stays UTF-8 (mislabeled pages are the common case)
    doc = '<meta charset="iso-8859-1"><p>café</p>'.encode("utf-8")
    assert "café" in decode_html(doc)


@_hyp_settings(max_examples=300, deadline=None)
@_hyp_given(
    _hyp_st.sampled_from(
        [b"", b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff",
         b'<meta charset="windows-1251">',
         b'<meta charset="shift_jis">',
         b'<meta charset="nonsense-label">']
    ),
    _hyp_st.binary(max_size=200),
)
def test_decode_html_never_crashes(prefix, raw):
    assert isinstance(decode_html(prefix + raw), str)


def test_decode_declared_charset_fallbacks():
    # unknown label → latin-1
    assert decode_html(b'<meta charset="x-weird">caf\xe9').endswith("café")
    # declared codec that ALSO fails on the bytes → latin-1, no raise
    out = decode_html(b'<meta charset="shift_jis">\x82\x00\xff')
    assert isinstance(out, str) and out
    # declaration beyond the 1024-byte sniff window is ignored
    doc = b"<p>" + b"x" * 1100 + b'</p><meta charset="windows-1251">caf\xe9'
    assert decode_html(doc).endswith("café")  # latin-1 path


def test_single_paragraph():
    blocks = parse_blocks(b"<html><body><p>hello   world</p></body></html>")
    assert len(blocks) == 1
    b = blocks[0]
    assert b.text == "hello world"  # whitespace normalized
    assert b.tag_path == "html/body/p"
    assert b.zone == 0 and b.pos == 0


def test_block_boundaries_and_order():
    html = b"<body><p>one</p><div>two</div><h2>three</h2></body>"
    blocks = parse_blocks(html)
    assert [b.text for b in blocks] == ["one", "two", "three"]
    assert [b.pos for b in blocks] == [0, 1, 2]


def test_br_splits_blocks():
    blocks = parse_blocks(b"<body><p>line one<br>line two</p></body>")
    assert [b.text for b in blocks] == ["line one", "line two"]


def test_inline_tags_do_not_split():
    blocks = parse_blocks(b"<body><p>a <b>bold</b> and <i>italic</i> run</p></body>")
    assert [b.text for b in blocks] == ["a bold and italic run"]


def test_script_style_head_skipped():
    html = b"<head><title>T</title><style>x{}</style></head><body><script>var a;</script><p>keep</p></body>"
    blocks = parse_blocks(html)
    assert [b.text for b in blocks] == ["keep"]


def test_link_text_len():
    blocks = parse_blocks(b'<body><p>pre <a href="/x">link text</a> post</p></body>')
    (b,) = blocks
    assert b.link_text_len == len("link text")
    ld, *_ = block_features(b)
    assert 0 < ld < 1


def test_zone_markers():
    html = (
        b'<body><div data-zone="2"><p>second</p></div>'
        b'<div data-zone="1"><p>first</p></div></body>'
    )
    blocks = parse_blocks(html)
    assert [(b.zone, b.text) for b in blocks] == [(2, "second"), (1, "first")]


def test_malformed_unclosed_tags_salvaged():
    html = b"<body></div><main><p>alpha<p>beta</main>"
    blocks = parse_blocks(html)
    assert [b.text for b in blocks] == ["alpha", "beta"]


def test_entities_resolved():
    blocks = parse_blocks(b"<body><p>a &amp; b &copy; c</p></body>")
    assert blocks[0].text == "a & b \xa9 c"


# -- rule chain (case table, clara-tests.c style) -------------------------

CASES = [
    # tag_path, text_len, link_density, pattern, expected_label
    ("html/body/nav/ul/li", 100, 0.9, None, LABEL_BOILER),
    ("html/body/header/h1", 30, 0.0, None, LABEL_BOILER),
    ("html/body/footer/p", 40, 0.0, None, LABEL_BOILER),
    ("html/body/aside/ul/li", 80, 0.6, None, LABEL_BOILER),
    ("html/body/main/p", 5, 0.0, None, LABEL_NOISE),
    ("html/body/main/p", 200, 0.8, None, LABEL_BOILER),
    ("html/body/main/p", 200, 0.1, None, LABEL_CONTENT),
    ("html/body/div/p", 200, 0.1, "boilerplate", LABEL_BOILER),
    ("html/body/nav/ul/li", 100, 0.9, "content", LABEL_CONTENT),
]


def test_classify_rule_chain():
    for tag_path, tl, ld, pat, want in CASES:
        label, score = classify_block(tag_path, tl, ld, pat)
        assert label == want, (tag_path, tl, ld, pat)
        assert 0 <= score <= 10
        if pat is not None:
            assert score == 10  # strong match, symbol.c:4149


def test_reference_extract_golden():
    html = (
        b"<html><body><header><h1>Site</h1><nav><ul><li><a href='/'>home</a>"
        b"</li></ul></nav></header><main><p>First paragraph of content here.</p>"
        b"<p>Second paragraph, also long enough to keep.</p></main>"
        b"<footer><p>copyright footer text here</p></footer></body></html>"
    )
    assert reference_extract(html) == (
        "First paragraph of content here.\nSecond paragraph, also long enough to keep."
    )


def test_reference_extract_zone_order():
    html = (
        b'<body><div data-zone="2"><p>zone two paragraph content text</p></div>'
        b'<div data-zone="1"><p>zone one paragraph content text</p></div></body>'
    )
    assert reference_extract(html) == (
        "zone one paragraph content text\nzone two paragraph content text"
    )


def test_reference_extract_empty_doc():
    assert reference_extract(b"<body><nav><a href='/'>only nav</a></nav></body>") == ""


# -- emphasis spans (wprops word flags, build.c:585-685) -----------------


def test_emph_spans_basic():
    from clara_ocr_spark.domparse import parse_blocks

    (b,) = parse_blocks(b"<p>plain <i>ital word</i> mid <b>bold</b> end</p>")
    assert b.text == "plain ital word mid bold end"
    assert b.emph == ((6, 15, "i"), (20, 24, "b"))
    # spans slice back to the emphasized words
    assert b.text[6:15] == "ital word" and b.text[20:24] == "bold"


def test_emph_word_split_across_tag():
    from clara_ocr_spark.domparse import parse_blocks

    (b,) = parse_blocks(b"<p><b>bo</b>ld split</p>")
    # a word partially inside <b> is flagged whole (ANY-symbol rule)
    assert b.text == "bold split" and b.emph == ((0, 4, "b"),)


def test_emph_nested_and_adjacent_merge():
    from clara_ocr_spark.domparse import parse_blocks

    (b,) = parse_blocks(b"<p>nested <b>bold <i>both</i></b> tail</p>")
    assert b.emph == ((7, 11, "b"), (12, 16, "bi"))
    (c,) = parse_blocks(b"<p><em>a</em> <em>b</em> c</p>")
    # contiguous same-flag words merge across the separator space
    assert c.emph == ((0, 3, "i"),)


def test_emph_unclosed_tag_resets_at_block_boundary():
    from clara_ocr_spark.domparse import parse_blocks

    blocks = parse_blocks(b"<p>unclosed <b>bold runs</p><p>clean</p>")
    assert blocks[0].emph == ((9, 18, "b"),)
    assert blocks[1].emph == ()


def test_emph_fast_slow_parity():
    from clara_ocr_spark.domparse import parse_blocks
    from clara_ocr_spark.fastparse import parse_blocks_fast

    cases = [
        b"<p>plain <i>ital word</i> mid <b>bold</b> end</p>",
        b"<p><b>bo</b>ld split</p>",
        b"<p><em>a</em> <em>b</em> c <strong>d</strong></p>",
        b"<p>nested <b>bold <i>both</i></b> tail</p>",
        b"<p>unclosed <b>bold runs on</p><p>next block clean</p>",
        "<p>café <i>straße</i> t</p>".encode("utf-8"),
    ]
    for h in cases:
        assert parse_blocks(h) == parse_blocks_fast(h), h


def test_decode_commented_out_meta_ignored():
    """A charset declaration inside an HTML comment must not select a
    codec (review finding): the head is comment-stripped before the
    meta search, including an unclosed trailing comment."""
    doc = (
        '<!-- <meta charset="gb2312"> --><p>café</p>'
    ).encode("latin-1")
    assert "café" in decode_html(doc)  # latin-1 fallback, not GBK
    # unclosed comment swallows the declaration too
    doc2 = ('<!-- <meta charset="gb2312"> <p>café</p>').encode("latin-1")
    assert "café" in decode_html(doc2)
    # a real declaration AFTER a closed comment still wins
    doc3 = (
        '<!-- banner --><meta charset="windows-1251"><p>Привет</p>'
    ).encode("cp1251")
    assert "Привет" in decode_html(doc3)
