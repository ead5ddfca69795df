"""Minimal deterministic PDF text-layout parser (the "PDF/layout
parse" of the north rule).

This is the geometric cousin of ``domparse``: where HTML gives us tree
order for free, a PDF page is exactly Clara's problem — positioned
glyph runs on a canvas that must be re-segmented into columns, lines
and words before reading-order text exists.  The run model below maps
1:1 onto the reference's entities:

* text-show run ≈ closure (``cldesc`` bbox + payload, common.h:530-539);
* word joining by horizontal gap ≈ ``s_pair`` distance test
  (symbol.c:956-1030);
* line grouping by vertical tolerance ≈ ``w_pair`` (build.c:702-797);
* column split at the widest white river ≈ ``blockfind``/``vlines2``
  vertical-separator detection (pgmblock.c:801-942, 1108-1271);
* reading order (zone, y desc, x) ≈ ``cmpln`` made a strict total
  order (build.c:389-509).

Scope: the deterministic PDF 1.4 subset our synthetic corpus emits
plus the common text operators (BT/ET, Tf, Td/TD/Tm/T*/TL, Tj/TJ/'),
literal + hex strings with escapes, optional FlateDecode streams
(stdlib zlib).  Page association is stream order (one text content
stream per page); full page-tree walking is out of scope and
documented here.  All geometry is rounded to 2 decimals at the parse
boundary so the single-node reference extractor and the Spark plan
compare identical doubles (IEEE754 both sides).

``pdf_reference_extract`` is the single-node oracle whose output the
distributed extraction of PDF payloads (``pipeline.extract``, lines
from ``stages/layout.pdf_blocks``) must reproduce
byte-identically — same contract as ``extract_rules.reference_extract``
for the DOM path (SURVEY §7 hard-part 1).
"""

from __future__ import annotations

import re
import zlib
from typing import List, NamedTuple, Optional, Tuple

# -- tunables (≈ the m_* magic numbers, build.c:62-79) ---------------------
CHAR_W = 0.5  #: average glyph advance as a fraction of font size
LINE_TOL = 2.0  #: max |Δy| between runs of one line (≈ w_pair vertical test)
KERN_TOL = 1.0  #: gaps ≤ this are kerning splits, joined without a space
COL_GAP = 48.0  #: min white-river width for a column split (≈ vlines2)
MIN_SIDE_RUNS = 2  #: runs required on each side of a split candidate
#: cf_block analogue (symbol.c:4892-4965): the reference's alternative
#: splitter cuts at TALL separator symbols instead of white rivers
#: (dictionary scans use vertical rules between columns). Tall = font
#: size ≥ this template-specific constant; glyphs below.
TALL_SEP_SIZE = 30.0
TALL_SEP_GLYPHS = frozenset("|│¦")
NOSPACE_BEFORE = frozenset(".,;:!?)]»")  #: ≈ DOT/COMMA rule html.c:2069-2083

PDF_MAGIC = b"%PDF-"


class Run(NamedTuple):
    """One positioned text run (the PDF closure)."""

    page: int
    x: float
    x_end: float
    y: float
    size: float
    text: str


def is_pdf(raw: Optional[bytes]) -> bool:
    return bool(raw) and bytes(raw[:5]) == PDF_MAGIC


# -- content-stream tokenizer ---------------------------------------------

_STREAM_BODY_RE = re.compile(rb"(>>)\s*stream\r?\n(.*?)endstream", re.S)

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

_ESCAPES = {
    ord("n"): "\n",
    ord("r"): "\r",
    ord("t"): "\t",
    ord("b"): "\b",
    ord("f"): "\f",
    ord("("): "(",
    ord(")"): ")",
    ord("\\"): "\\",
}


def _own_dict(raw: bytes, close: int) -> bytes:
    """The stream's OWN parameter dict: scan backward from the ``>>``
    that adjoins ``stream`` to its matching ``<<``, counting nested
    dict marks.  Pairing the first ``<<`` in the file with the next
    ``>>stream`` (the old one-regex approach) made the params span
    every preceding object dict, so a ``FlateDecode`` mention in an
    unrelated dict (an image XObject, say) wrongly decompressed an
    uncompressed text stream.  Returns ``b''`` when no matching ``<<``
    exists (malformed input → treat as no filter)."""
    depth, i = 1, close
    while depth and i > 0:
        po = raw.rfind(b"<<", 0, i)
        pc = raw.rfind(b">>", 0, i)
        if po < 0:
            return b""
        if pc > po:
            depth += 1
            i = pc
        else:
            depth -= 1
            i = po
    return raw[i + 2 : close] if depth == 0 else b""


def _decode_streams(raw: bytes) -> List[bytes]:
    """All decoded stream payloads, in file order (page order for the
    supported one-content-stream-per-page subset)."""
    out = []
    for m in _STREAM_BODY_RE.finditer(raw):
        data = m.group(2)
        params = _own_dict(raw, m.start(1))
        if b"FlateDecode" in params:
            try:
                data = zlib.decompress(data)
            except zlib.error:
                pass  # corrupt stream: keep raw bytes; the tokenizer
                # extracts what it can (find_thing recovery discipline)
        out.append(data)
    return out


def _lit_string(buf: bytes, i: int) -> Tuple[str, int]:
    """Parse a ``(…)`` literal string starting at ``buf[i] == '('``."""
    depth, i = 1, i + 1
    chars: List[str] = []
    n = len(buf)
    while i < n and depth:
        c = buf[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = buf[i]
            if e in _ESCAPES:
                chars.append(_ESCAPES[e])
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = []
                while i < n and len(oct_digits) < 3 and 0x30 <= buf[i] <= 0x37:
                    oct_digits.append(buf[i] - 0x30)
                    i += 1
                v = 0
                for d in oct_digits:
                    v = v * 8 + d
                chars.append(chr(v & 0xFF))
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and buf[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the char stands for itself
                chars.append(chr(e))
                i += 1
        elif c == 0x28:  # (
            depth += 1
            chars.append("(")
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                chars.append(")")
            i += 1
        else:
            chars.append(chr(c))
            i += 1
    return "".join(chars), i


def _hex_string(buf: bytes, i: int) -> Tuple[str, int]:
    """Parse a ``<…>`` hex string starting at ``buf[i] == '<'``."""
    i += 1
    digits: List[str] = []
    n = len(buf)
    while i < n and buf[i] != 0x3E:  # >
        c = chr(buf[i])
        if c in "0123456789abcdefABCDEF":
            digits.append(c)
        i += 1
    if len(digits) % 2:
        digits.append("0")
    text = "".join(
        chr(int(digits[k] + digits[k + 1], 16)) for k in range(0, len(digits), 2)
    )
    return text, i + 1


def _tokens(buf: bytes):
    """Yield ('str', s) | ('num', f) | ('name', s) | ('op', s) | ('mark', s)."""
    i, n = 0, len(buf)
    while i < n:
        c = buf[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment
            while i < n and buf[i] not in (0x0A, 0x0D):
                i += 1
        elif c == 0x28:  # (
            s, i = _lit_string(buf, i)
            yield "str", s
        elif c == 0x3C:  # < — hex string or << dict
            if i + 1 < n and buf[i + 1] == 0x3C:
                yield "mark", "<<"
                i += 2
            else:
                s, i = _hex_string(buf, i)
                yield "str", s
        elif c == 0x3E and i + 1 < n and buf[i + 1] == 0x3E:
            yield "mark", ">>"
            i += 2
        elif c in b"[]":
            yield "mark", chr(c)
            i += 1
        elif c == 0x2F:  # /Name
            j = i + 1
            while j < n and buf[j] not in _WS and buf[j] not in _DELIM:
                j += 1
            yield "name", buf[i + 1 : j].decode("latin-1")
            i = j
        elif c in b"+-.0123456789":
            j = i + 1
            while j < n and buf[j] in b"+-.0123456789eE":
                j += 1
            try:
                yield "num", float(buf[i:j])
            except ValueError:
                pass
            i = j
        else:
            j = i + 1
            while j < n and buf[j] not in _WS and buf[j] not in _DELIM:
                j += 1
            yield "op", buf[i:j].decode("latin-1")
            i = j


_HEX_DIGITS = frozenset(b"0123456789abcdefABCDEF")


def _hex_to_text(body: bytes) -> str:
    digits = bytes(c for c in body if c in _HEX_DIGITS)
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii")).decode("latin-1")


#: Fast path (same fast-path/fallback discipline as ``fastparse`` vs
#: ``domparse`` for HTML): statement-level block matching.  The most
#: common emission shape in real generators (and this corpus) is one
#: text object per run with absolute positioning —
#: ``BT  /F n Tf  x y Td|1 0 0 1 x y Tm  (s) Tj|<hex> Tj|[(a) k (b)] TJ  ET``
#: — which needs NO interpreter state across statements, so the whole
#: block collapses into ONE C-regex match (≈5 token dispatches and a
#: stack per run on the token path).  The matcher must consume the
#: ENTIRE stream as a sequence of such blocks; the first byte it
#: cannot place bails to the exact interpreter ``_page_runs`` — two
#: tiers, never a silent disagreement, pinned by the TestFastPath
#: differential fuzz.
_B_WS = rb"[\x00\t\n\x0c\r ]"  # PDF whitespace, NOT \s (\x0b differs)
_B_NUM = rb"[-+.0-9][-+.0-9eE]*"
_BLOCK_RE = re.compile(
    _B_WS + rb"*BT"
    + _B_WS + rb"+/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*"
    + _B_WS + rb"+(" + _B_NUM + rb")" + _B_WS + rb"+Tf"
    + _B_WS + rb"+(?:(" + _B_NUM + rb")" + _B_WS + rb"+(" + _B_NUM
    + rb")" + _B_WS + rb"+Td"
    + rb"|1" + _B_WS + rb"+0" + _B_WS + rb"+0" + _B_WS + rb"+1"
    + _B_WS + rb"+(" + _B_NUM + rb")" + _B_WS + rb"+(" + _B_NUM
    + rb")" + _B_WS + rb"+Tm)"
    + _B_WS + rb"+(?:\(([^()\\]*)\)" + _B_WS + rb"+Tj"
    + rb"|<([0-9a-fA-F]*)>" + _B_WS + rb"+Tj"
    + rb"|\[\(([^()\\]*)\)" + _B_WS + rb"+(" + _B_NUM + rb")"
    + _B_WS + rb"+\(([^()\\]*)\)\]" + _B_WS + rb"+TJ)"
    + _B_WS + rb"+ET"
)
_B_ONLY_WS = re.compile(_B_WS + rb"*\Z")


def _page_runs_blocks(stream: bytes, page: int):
    """Statement-level fast path; returns the run list, or None when
    any byte falls outside the absolute-positioned block grammar.
    Semantics identical to ``_page_runs`` on the accepted subset
    (BT resets the text matrix, so each block's Td/Tm is absolute)."""
    runs: List[Run] = []
    pos = 0
    match = _BLOCK_RE.match
    n = len(stream)
    while pos < n:
        m = match(stream, pos)
        if m is None:
            if _B_ONLY_WS.match(stream, pos):
                break
            return None
        g = m.groups()
        try:
            size = float(g[0])
            x = float(g[1] if g[1] is not None else g[3])
            y = float(g[2] if g[2] is not None else g[4])
        except (ValueError, TypeError):
            return None  # grammar-valid but float-hostile → token path
        ry = round(y, 2)
        if g[5] is not None or g[6] is not None:  # (s) Tj | <hex> Tj
            s = (
                g[5].decode("latin-1")
                if g[5] is not None
                else _hex_to_text(g[6])
            )
            if s:
                w = CHAR_W * size * len(s)
                runs.append(
                    Run(page, round(x, 2), round(x + w, 2), ry, size, s)
                )
        else:  # [(a) k (b)] TJ
            try:
                adj = float(g[8])
            except ValueError:
                return None
            cx = x
            a = g[7].decode("latin-1")
            if a:
                w = CHAR_W * size * len(a)
                runs.append(
                    Run(page, round(cx, 2), round(cx + w, 2), ry, size, a)
                )
                cx += w
            cx -= adj / 1000.0 * size
            b = g[9].decode("latin-1")
            if b:
                w = CHAR_W * size * len(b)
                runs.append(
                    Run(page, round(cx, 2), round(cx + w, 2), ry, size, b)
                )
        pos = m.end()
    return runs


def _nums(stack: List, n: int) -> bool:
    """Top-of-stack operand guard: the last ``n`` entries exist and
    are numbers (a malformed stream can leave names/strings where a
    positioning operator expects numbers — skip the op, don't raise:
    the find_thing recovery discipline)."""
    return len(stack) >= n and all(
        isinstance(v, float) for v in stack[-n:]
    )


def _run_width(text: str, size: float) -> float:
    return CHAR_W * size * len(text)


def _page_runs(stream: bytes, page: int) -> List[Run]:
    """Interpret one content stream's text operators into runs.

    Positioning model: translation components only (e, f) of the text
    matrix — the supported subset never scales or rotates text (Tm is
    accepted, its translation used).  Tj/TJ advance ``e`` by the
    deterministic width model; TJ numeric elements apply the standard
    −n/1000·size adjustment (kerning splits smaller than KERN_TOL are
    re-joined without a space downstream).
    """
    runs: List[Run] = []
    stack: List = []  # operand stack (nums / strings / TJ arrays)
    arr: Optional[List] = None
    size = 12.0
    leading = 0.0
    ex = ey = 0.0  # text-line matrix translation
    cx = cy = 0.0  # current text matrix translation
    in_text = False

    def show(s: str) -> None:
        nonlocal cx
        if not in_text:
            return
        w = _run_width(s, size)
        if s:
            runs.append(
                Run(page, round(cx, 2), round(cx + w, 2), round(cy, 2), size, s)
            )
        cx += w

    for kind, val in _tokens(stream):
        if kind in ("str", "num"):
            (arr if arr is not None else stack).append(val)
        elif kind == "name":
            stack.append(val)
        elif kind == "mark":
            if val == "[":
                arr = []
            elif val == "]":
                stack.append(arr if arr is not None else [])
                arr = None
            # << >> dict markers inside content are ignored
        else:  # operator
            op = val
            if op == "BT":
                in_text = True
                ex = ey = cx = cy = 0.0
            elif op == "ET":
                in_text = False
            elif op == "Tf" and _nums(stack, 1):
                size = stack[-1]
            elif op == "TL" and _nums(stack, 1):
                leading = stack[-1]
            elif op == "Td" and _nums(stack, 2):
                ex += stack[-2]
                ey += stack[-1]
                cx, cy = ex, ey
            elif op == "TD" and _nums(stack, 2):
                leading = -stack[-1]
                ex += stack[-2]
                ey += stack[-1]
                cx, cy = ex, ey
            elif op == "Tm" and len(stack) >= 6 and _nums(stack, 2):
                ex, ey = stack[-2], stack[-1]
                cx, cy = ex, ey
            elif op == "T*":
                ey -= leading
                cx, cy = ex, ey
            elif op == "Tj" and stack and isinstance(stack[-1], str):
                show(stack[-1])
            elif op == "'" and stack and isinstance(stack[-1], str):
                ey -= leading
                cx, cy = ex, ey
                show(stack[-1])
            elif op == "TJ" and stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, str):
                        show(el)
                    else:
                        cx -= float(el) / 1000.0 * size
            stack.clear()
    return runs


def parse_pdf_runs(raw: Optional[bytes]) -> List[Run]:
    """PDF bytes → positioned text runs (page in stream order).

    Non-PDF / empty / corrupt input → no runs (the adaptive-fallback
    discipline of ``find_thing``/``spyhole``, pbm2cl.c:717-808: a page
    that cannot be read yields an empty page, never an error)."""
    if not is_pdf(raw):
        return []
    runs: List[Run] = []
    page = 0
    for stream in _decode_streams(bytes(raw)):
        page_runs = _page_runs_blocks(stream, page)
        if page_runs is None:
            page_runs = _page_runs(stream, page)
        if page_runs:
            page += 1
            runs.extend(page_runs)
    return runs


# -- single-node geometric assembly (the byte-identity oracle) ------------


def column_split(page_runs: List[Run]) -> Optional[float]:
    """Widest white river ≥ COL_GAP with ≥ MIN_SIDE_RUNS runs per side
    (≈ vlines2 separator detection).  Returns the x of the right
    column's first run, or None.  Tie → smallest split x."""
    rs = sorted(page_runs, key=lambda r: (r.x, r.x_end, r.text, r.y))
    n = len(rs)
    best: Optional[Tuple[float, float]] = None  # (gap, -x)
    prefix_end = None
    for i, r in enumerate(rs):
        if prefix_end is not None:
            gap = r.x - prefix_end
            if (
                gap >= COL_GAP
                and i >= MIN_SIDE_RUNS
                and n - i >= MIN_SIDE_RUNS
            ):
                cand = (gap, -r.x)
                if best is None or cand > best:
                    best = cand
        prefix_end = r.x_end if prefix_end is None else max(prefix_end, r.x_end)
    return None if best is None else -best[1]


def is_tall_separator(r: Run) -> bool:
    """A run that IS a column rule: every glyph a vertical-bar
    character and the font tall enough (cf_block's tall-symbol test,
    symbol.c:4892-4965)."""
    return (
        r.size >= TALL_SEP_SIZE
        and bool(r.text)
        and all(c in TALL_SEP_GLYPHS for c in r.text)
    )


def column_split_tall(page_runs: List[Run]) -> Optional[float]:
    """cf_block-analogue splitter: cut at a tall separator glyph run
    instead of a white river (the template-specific strategy for
    dictionary-style scans whose columns sit too close for a COL_GAP
    river). A candidate needs ≥ MIN_SIDE_RUNS non-separator runs
    strictly left AND right of its x; smallest x wins (same tie rule
    as the river splitter). Returns the split x, or None."""
    body = [r for r in page_runs if not is_tall_separator(r)]
    best: Optional[float] = None
    for s in page_runs:
        if not is_tall_separator(s):
            continue
        n_left = sum(1 for r in body if r.x < s.x)
        n_right = sum(1 for r in body if r.x > s.x)
        if n_left >= MIN_SIDE_RUNS and n_right >= MIN_SIDE_RUNS:
            if best is None or s.x < best:
                best = s.x
    return best


def group_lines(zone_runs: List[Run]) -> List[List[Run]]:
    """Chain runs into lines: sorted by (y desc, x, x_end, text), a new
    line starts when the vertical step exceeds LINE_TOL (transitive
    chaining, same as the reference's pairing)."""
    rs = sorted(zone_runs, key=lambda r: (-r.y, r.x, r.x_end, r.text))
    lines: List[List[Run]] = []
    prev_y: Optional[float] = None
    for r in rs:
        if prev_y is None or prev_y - r.y > LINE_TOL:
            lines.append([])
        lines[-1].append(r)
        prev_y = r.y
    return lines


def join_words(line: List[Run]) -> str:
    """x-order join: space unless the gap is a kerning split (≤
    KERN_TOL) or the run starts with attaching punctuation
    (≈ mk_page_output's no-space-before DOT/COMMA, html.c:2069-2083)."""
    rs = sorted(line, key=lambda r: (r.x, r.x_end, r.text))
    parts: List[str] = []
    prev_end: Optional[float] = None
    for r in rs:
        if prev_end is not None:
            gap = r.x - prev_end
            if gap > KERN_TOL and (not r.text or r.text[0] not in NOSPACE_BEFORE):
                parts.append(" ")
        parts.append(r.text)
        prev_end = r.x_end
    return "".join(parts)


def page_lines(
    page_runs: List[Run], splitter: str = "river"
) -> List[Tuple[int, str]]:
    """One page's non-empty lines in reading order (zone asc, y desc)
    as ``(n_runs, text)``: the same column split, line grouping and
    word joining as :func:`reference_text`, with the cross-page order
    left to the caller (``stages/layout.pdf_blocks``).  Lines of a
    zone are separated by more than LINE_TOL, so ``group_lines`` order
    is the oracle's line order."""
    if splitter == "tall":
        split = column_split_tall(page_runs)
        page_runs = [r for r in page_runs if not is_tall_separator(r)]
    else:
        split = column_split(page_runs)
    if split is None:
        zones = [page_runs]
    else:
        zones = [
            [r for r in page_runs if r.x < split],
            [r for r in page_runs if r.x >= split],
        ]
    out: List[Tuple[int, str]] = []
    for zr in zones:
        for line in group_lines(zr):
            text = join_words(line)
            if text:
                out.append((len(line), text))
    return out


def pdf_reference_extract(raw: Optional[bytes], splitter: str = "river") -> str:
    """PDF bytes → reading-order text (single-node oracle): the parse,
    then :func:`reference_text`."""
    return reference_text(parse_pdf_runs(raw), splitter)


def reference_text(runs: List[Run], splitter: str = "river") -> str:
    """Positioned runs → reading-order text (the single-node oracle).

    Order: page asc, zone asc (left column first), line y desc, run x
    asc; lines joined by ``\\n``; empty lines skipped (html.c:2255-2261
    analogue); no runs → ``''``.

    ``splitter`` selects the column strategy (the cf_block dispatch):
    ``"river"`` = widest white gap (default, vlines2 analogue);
    ``"tall"`` = tall separator glyphs (cf_block analogue) — separator
    runs themselves are dropped from the text, matching the
    reference's discard of rule symbols."""
    pages = sorted({r.page for r in runs})
    out: List[str] = []
    for p in pages:
        prs = [r for r in runs if r.page == p]
        if splitter == "tall":
            split = column_split_tall(prs)
            prs = [r for r in prs if not is_tall_separator(r)]
        else:
            split = column_split(prs)
        zones = [
            [r for r in prs if split is None or r.x < split],
            [] if split is None else [r for r in prs if r.x >= split],
        ]
        for zr in zones:
            for line in group_lines(zr):
                text = join_words(line)
                if text:
                    out.append(text)
    return "\n".join(out)
