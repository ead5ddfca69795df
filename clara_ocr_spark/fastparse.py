"""Fast HTML tokenizer driving the same block builder as domparse.

≈ the reference's hand-rolled streaming PBM reader with bit-parallel
optimizations (pbm2cl.c:290-371, the i64/8-pixels-at-a-time rework
that made segmentation "50% faster", CHANGELOG:689-691): the stdlib
``html.parser`` spends most of its time in generic regex dispatch;
this tokenizer is a ``str.find``-driven scanner emitting the exact
same event stream into the same ``_BlockParser`` handlers.

Parity contract: for the whole corpus domain (all five templates,
malformed markup, Latin-1 decodes, entities, script/style content)
the produced block lists are IDENTICAL to the html.parser-based
implementation — enforced by tests/test_fastparse.py differential
tests.  ``parse_blocks_fast`` falls back to the stdlib parser for
any input where scanning raises.
"""

from __future__ import annotations

import re
from html import unescape
from typing import List

from .domparse import _BlockParser, Block, decode_html

#: tags whose content is raw text until the literal close tag
#: (html.parser's CDATA_CONTENT_ELEMENTS)
_RAWTEXT = ("script", "style")

_NAME_RE = re.compile(r"[a-zA-Z][-.a-zA-Z0-9:_]*")

#: html.parser closes comments on ``--\s*>`` (_markupbase
#: _commentclose), NOT the literal ``-->`` — ``<!--a--   >`` is a
#: closed comment there; a literal find() diverged (hypothesis-found:
#: ``<!--<!-- >`` has an inner ``-- >`` close). Same pattern, same
#: unicode \s semantics.
_COMMENT_CLOSE_RE = re.compile(r"--\s*>")
#: html.parser endtagfind: whitespace allowed around the name
_ENDTAG_RE = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
#: html.parser tagfind_tolerant name part (relaxed end-tag parsing)
_TOLERANT_NAME_RE = re.compile(r"[a-zA-Z][^\t\n\r\f />\x00]*")
_ATTR_ZONE_RE = re.compile(
    r"""(?<![-\w"'])data-zone\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]*))""", re.I
)

#: chars that may legally follow a start-tag name on the fast path
_AFTER_NAME = " \t\n\r\f/>"


class _OffDomain(Exception):
    """Raised when the scanner meets markup outside its verified parity
    domain; parse_blocks_fast then reparses the whole document with the
    stdlib spec parser (the find_thing adaptive-fallback pattern,
    pbm2cl.c:717-808 — identical output, slower path, rare input)."""


def _parse_events(s: str, p: _BlockParser) -> None:
    n = len(s)
    i = 0
    rawtext_until: str | None = None

    def _eof_resume(start: int) -> int:
        # html.parser, construct left incomplete at EOF (goahead end=1,
        # k < 0 branch): emit charref-converted data up to and
        # including the next '>', else up to the next '<', else one
        # char — then RESUME parsing from there
        g = s.find(">", start + 1)
        if g >= 0:
            k = g + 1
        else:
            k = s.find("<", start + 1)
            if k < 0:
                k = start + 1
        p.handle_data(unescape(s[start:k]))
        return k

    while i < n:
        if rawtext_until is not None:
            # inside <script>/<style>: scan for the literal close tag
            m = s.find(rawtext_until, i)
            if m < 0:
                p.handle_data(s[i:])
                break
            p.handle_data(s[i:m])
            gt = s.find(">", m)
            p.handle_endtag(rawtext_until[2:])
            i = n if gt < 0 else gt + 1
            rawtext_until = None
            continue
        lt = s.find("<", i)
        if lt < 0:
            p.handle_data(unescape(s[i:]))
            break
        if lt > i:
            p.handle_data(unescape(s[i:lt]))
        nxt = s[lt + 1 : lt + 2]
        if nxt == "!":
            if s.startswith("<![", lt):
                raise _OffDomain("marked section")  # <![CDATA[ etc.
            if s.startswith("<!--", lt):
                m = _COMMENT_CLOSE_RE.search(s, lt + 4)
                if m is None:
                    i = _eof_resume(lt)
                    continue
                i = m.end()
            else:  # doctype / CDATA-ish declaration
                end = s.find(">", lt)
                if end < 0:
                    i = _eof_resume(lt)
                    continue
                i = end + 1
            continue
        if nxt == "?":  # processing instruction
            end = s.find(">", lt)
            if end < 0:
                i = _eof_resume(lt)
                continue
            i = end + 1
            continue
        if nxt == "/":
            end = s.find(">", lt)
            if end < 0:
                i = _eof_resume(lt)
                continue
            m = _ENDTAG_RE.match(s, lt)
            if m is not None:  # </ name > with optional whitespace
                p.handle_endtag(m.group(1).lower())
                i = m.end()
                continue
            nm = _TOLERANT_NAME_RE.match(s, lt + 2)
            if nm is not None:
                # relaxed end tag: take the name, ignore junk to '>'
                g = s.find(">", nm.end())
                p.handle_endtag(nm.group(0).lower())
                i = n if g < 0 else g + 1
                continue
            if s.startswith("</>", lt):
                i = lt + 3
                continue
            # bogus comment (</ + non-name): swallowed to '>'
            i = end + 1
            continue
        m = _NAME_RE.match(s, lt + 1)
        if m is None:
            if lt + 1 >= n:
                i = _eof_resume(lt)  # lone '<' at EOF
                continue
            # '<' followed by non-name: literal text (html.parser rule)
            p.handle_data("<")
            i = lt + 1
            continue
        tag = m.group(0).lower()
        # find tag end; the quote-aware scan only runs when a quote
        # char actually precedes the candidate '>' (rare fast path)
        e0 = m.end()
        if e0 < n and s[e0] not in _AFTER_NAME:
            # html.parser names are tolerant (<b;> is tag "b;")
            raise _OffDomain("tolerant tag name")
        j = s.find(">", e0)
        if j < 0:
            i = _eof_resume(lt)  # unterminated start tag at EOF
            continue
        if s.find('"', e0, j) != -1 or s.find("'", e0, j) != -1:
            quote = None
            lastns = ""  # last non-whitespace char outside quotes
            j = e0
            while j < n:
                c = s[j]
                if quote is not None:
                    if c == quote:
                        quote = None
                elif c in "\"'":
                    if lastns != "=":
                        # quote in attr-NAME position: html.parser reads
                        # it as a literal name char, not a delimiter
                        raise _OffDomain("quote outside attr value")
                    quote = c
                    lastns = c
                elif c == ">":
                    break
                else:
                    if not c.isspace():
                        lastns = c
                j += 1
            if j >= n:
                # a '>' exists but every one sits inside an unclosed
                # quote — stdlib's tolerant attr parser does something
                # messier here (stray-quote attr names); spec parser
                raise _OffDomain("unclosed quote in start tag")
        attr_src = s[e0:j]
        self_closing = False
        if "/" in attr_src or "<" in attr_src:
            t = attr_src.rstrip()
            q = None
            last = len(t) - 1
            for idx in range(len(t)):
                c = t[idx]
                if q is not None:
                    if c == q:
                        q = None
                elif c in "\"'":
                    q = c
                elif c == "<":
                    # unquoted '<' inside a start tag: stdlib folds it
                    # into an attr name (<b <span/>) — spec parser
                    raise _OffDomain("angle bracket in start tag")
                elif c == "/" and idx != last:
                    # stdlib eats interior slashes as attr separators
                    # and may even self-close (<b/<span/>); spec parser
                    raise _OffDomain("interior slash in start tag")
            if t.endswith("/"):
                if len(t) == 1 or t[-2] in "\"'":
                    self_closing = True  # <br/>, <img src="x"/>
                elif t[-2].isspace():
                    raise _OffDomain("slash-space start tag")  # <p / >
                elif "=" not in t.split()[-1]:
                    # <b ;/> self-closes after a valueless attr name,
                    # <b a = 1/> folds it into a spaced value; spec parser
                    raise _OffDomain("slash after unquoted attr token")
                # else <p a=1/> : slash folds into the attr value "1/"
        attrs = []
        if "data-zone" in attr_src:
            zm = _ATTR_ZONE_RE.search(attr_src)
            if zm:
                prefix = attr_src[: zm.start()]
                if prefix.count('"') % 2 or prefix.count("'") % 2:
                    # data-zone text inside another attr's quoted value
                    raise _OffDomain("quoted data-zone")
                if "&" in zm.group(0):
                    raise _OffDomain("entity in data-zone value")
                attrs.append(
                    ("data-zone", zm.group(1) or zm.group(2) or zm.group(3) or "")
                )
        p.handle_starttag(tag, attrs)
        if self_closing:
            p.handle_endtag(tag)
        i = j + 1
        if tag in _RAWTEXT and not self_closing:
            rawtext_until = f"</{tag}"


def parse_blocks_fast(html: bytes) -> List[Block]:
    """Drop-in replacement for domparse.parse_blocks."""
    text = decode_html(html)
    p = _BlockParser()
    try:
        _parse_events(text, p)
        p._flush()
    except Exception:
        from .domparse import parse_blocks as _slow

        return _slow(html)
    return p.blocks
