"""HTML → block decomposition (the DOM analogue of Clara-OCR's raster stages).

Reference mapping (cited per SURVEY.md; files under /root/reference/):

* ``pbm2bm`` streaming PBM reader + connected-component labeling
  (pbm2cl.c:824-1296) → :func:`parse_blocks`: per-document HTML parse into
  text runs grouped into blocks.  A *block* is the analogue of a Clara
  closure/symbol: the atomic unit that later stages classify and assemble.
* zoning / ``blockfind`` (pgmblock.c:1108-1271) → block boundaries at
  block-level elements plus explicit ``data-zone`` column markers; the
  single-zone fallback (pgmblock.c:1131-1143) is ``zone=0``.
* ``loadpgm`` charset/format sniffing (pgmblock.c:263-457) →
  :func:`decode_html`: BOM sniff → UTF-8 strict → declared
  ``<meta charset>`` → Latin-1 fallback.
* ``skel`` skeleton fingerprints (skel.c:765+) → tag-path n-gram
  fingerprints (``stages/engines._path_grams``).

EXTRACTION SPEC (the byte-exact semantics that the distributed pipeline
must reproduce — the analogue of ``mk_page_output`` html.c:1986-2284):

1. Decode ``html`` bytes: BOM wins (UTF-8/UTF-16LE/UTF-16BE, BOM
   stripped); else UTF-8 strict; on failure the charset a ``<meta>``
   in the first 1024 bytes declares (allowlisted labels); else
   Latin-1 (never fails).  UTF-8-strict-before-declared deviates
   from WHATWG's declared-first order deliberately: bytes that parse
   as strict multi-byte UTF-8 are vanishingly unlikely to be legacy
   text, while legacy charset labels on valid-UTF-8 pages are the
   single most common crawl mislabel — and it keeps every previously
   extracted BOM-less valid-UTF-8 document byte-identical.  (BOM'd
   pages are the one deliberate change from the pre-sniffing decoder:
   the BOM tier strips U+FEFF, where plain UTF-8 decode used to keep
   it as a zero-width first character — stripping is the WHATWG
   behavior, and a leading U+FEFF in extracted text was a bug.)
2. Parse with the stdlib tolerant HTML parser, entities resolved.
3. Content inside ``script/style/noscript/template/head/svg/iframe``
   is dropped.
4. A new block starts whenever a block-level tag (``BLOCK_TAGS``) opens
   or closes, or a ``<br>`` occurs.  Text between boundaries accumulates
   into the current block.
5. Block text is whitespace-normalized: ``" ".join(raw.split())`` —
   i.e. single-space word joins, no leading/trailing space (the
   analogue of single-space word joining in html.c:2069-2083).
6. The block's ``tag_path`` is the ``/``-joined stack of open element
   tags at the moment its first text arrived (ids/classes excluded).
7. The block's ``zone`` is the innermost enclosing ``data-zone=N``
   integer, else 0.
8. Blocks are emitted in document order (``pos`` = running index).
   Final reading order is ``(zone, pos)`` — document order within a
   zone, zones ascending (the ``cmpln`` total order, build.c:389-509,
   with strict tie-breakers per SURVEY §7 hard-part 2).

Classification and assembly semantics live in :mod:`.extract_rules`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html.parser import HTMLParser
from typing import List, Optional, Tuple

#: Tags whose opening/closing starts a new block (≈ Clara zone/line
#: boundaries, pgmblock.c:1108).
BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd table thead tbody tr td th
    blockquote pre article section header footer nav aside main figure
    figcaption form fieldset hr address center""".split()
)

#: Subtrees whose text is never content (≈ non-ink regions).
SKIP_TAGS = frozenset("script style noscript template head svg iframe".split())

#: Void tags (never pushed on the stack).
VOID_TAGS = frozenset(
    "br hr img input meta link area base col embed source track wbr".split()
)

#: Inline emphasis (≈ the reference's italic/bold word flags,
#: ``wprops`` build.c:585-685, emitted as <I>/<B> spans in HTML
#: output html.c:1966-1973).
EMPH_I_TAGS = frozenset({"i", "em"})
EMPH_B_TAGS = frozenset({"b", "strong"})

_PUNCT_RE = re.compile(r"[.,;:!?'\"()\[\]«»–—]")
_WORD_RE = re.compile(r"\w+", re.UNICODE)


#: Charset labels a crawler actually sees → Python codec, for the
#: declared-``<meta charset>`` tier of :func:`decode_html`.  Unknown
#: labels fall through to Latin-1 (which never fails).  utf-8/ascii
#: labels map to utf-8 WITH errors='replace': the tier only runs
#: after UTF-8 strict failed, so a correctly-labeled page with one
#: truncated/corrupt byte should lose that one character, not have
#: its every multi-byte sequence mangled by the Latin-1 fallback.
_UTF8_LABELS = frozenset({"utf-8", "utf8", "ascii", "us-ascii"})
_CHARSET_CODECS = {
    "iso-8859-1": "latin-1",
    "latin-1": "latin-1",
    "latin1": "latin-1",
    "iso-8859-2": "iso8859-2",
    "iso-8859-15": "iso8859-15",
    "windows-1250": "cp1250",
    "windows-1251": "cp1251",
    "cp1251": "cp1251",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "windows-1254": "cp1254",
    "koi8-r": "koi8-r",
    "shift_jis": "shift_jis",
    "shift-jis": "shift_jis",
    "sjis": "shift_jis",
    "euc-jp": "euc_jp",
    "euc-kr": "euc_kr",
    "gb2312": "gbk",  # WHATWG maps the gb2312 label to GBK
    "gbk": "gbk",
    "big5": "big5",
}

#: ``charset=`` declaration inside an actual ``<meta`` tag — covers
#: both ``<meta charset="x">`` and
#: ``<meta http-equiv="Content-Type" content="text/html; charset=x">``.
#: The ``<meta`` anchor is load-bearing: a bare ``charset=`` search
#: would match query strings in links (``<a href="/c?charset=gbk">``)
#: and misdecode the page.  Commented-out markup is handled separately
#: — the caller strips ``<!-- … -->`` spans (including an unclosed
#: trailing comment) from the sniffed head before searching.
_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]{0,512}?charset\s*=\s*["']?\s*([A-Za-z0-9._-]+)""",
    re.IGNORECASE,
)


def decode_html(raw: bytes | None) -> str:
    """Charset sniff + decode (≈ loadpgm format sniffing,
    pgmblock.c:263-457, which dispatches on the P1/P4/P2/P5 magic the
    same way this dispatches on BOMs). Precedence: BOM → UTF-8 strict
    → declared ``<meta charset>`` in the first 1024 bytes → Latin-1.
    Deterministic, never raises. A null payload (crawl rows can carry
    html = NULL) decodes to the empty document — the pipeline, the
    differential twin (fastparse) and the reference extractor all
    share this function, so extraction semantics stay identical."""
    if raw is None:
        return ""
    if raw[:3] == b"\xef\xbb\xbf":
        return raw[3:].decode("utf-8", errors="replace")
    # UTF-32 BOMs first: FF FE 00 00 is a PREFIX-match for the
    # UTF-16LE BOM, so an unguarded utf-16-le tier would decode a
    # UTF-32LE document to NUL-interleaved text (ADVICE r4)
    if raw[:4] == b"\xff\xfe\x00\x00":
        return raw[4:].decode("utf-32-le", errors="replace")
    if raw[:4] == b"\x00\x00\xfe\xff":
        return raw[4:].decode("utf-32-be", errors="replace")
    if raw[:2] == b"\xff\xfe":
        return raw[2:].decode("utf-16-le", errors="replace")
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", errors="replace")
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        pass
    # comments stripped first: '<!-- <meta charset=gb2312> -->' must
    # not select a codec (the <meta anchor alone can't tell)
    head = re.sub(rb"<!--.*?(?:-->|$)", b"", raw[:1024], flags=re.S)
    m = _META_CHARSET_RE.search(head)
    if m:
        label = m.group(1).decode("ascii", errors="replace").lower()
        if label in _UTF8_LABELS:
            # strict already failed above — honor the (correct) label
            # and lose only the corrupt bytes, not the whole document
            return raw.decode("utf-8", errors="replace")
        codec = _CHARSET_CODECS.get(label)
        if codec is not None:
            try:
                return raw.decode(codec)
            except UnicodeDecodeError:
                pass
    return raw.decode("latin-1")


@dataclass
class Block:
    """One segmented block (≈ sdesc symbol, common.h:722-764)."""

    pos: int  # document order (≈ doc-order span)
    zone: int  # column index (≈ sdesc.c zone, clara.c:3114)
    tag_path: str  # '/'-joined open-tag stack (≈ skeleton shape)
    depth: int  # stack depth when first text arrived
    text: str  # whitespace-normalized block text
    link_text_len: int  # chars contributed inside <a> (≈ ink typing)
    n_runs: int  # number of raw text runs merged (≈ cldesc count)
    #: emphasis spans over ``text``: (start, end, kind) with kind in
    #: {"i", "b", "bi"} — per-WORD flags merged across contiguous
    #: same-flag words, the wprops analogue (build.c:585-685). A word
    #: is flagged when ANY contributing raw char sat inside the
    #: emphasis element.
    emph: Tuple[Tuple[int, int, str], ...] = ()

    @property
    def text_len(self) -> int:
        return len(self.text)


_KIND = {1: "i", 2: "b", 3: "bi"}


def _emph_spans(
    runs: List[str], flags: List[int]
) -> Tuple[Tuple[int, int, str], ...]:
    """Per-word emphasis spans over the NORMALIZED text.

    Words are the whitespace-separated tokens of the concatenated raw
    runs (identical to ``" ".join(raw.split())`` segmentation, which
    uses ``str.isspace``); a word's flag ORs the flags of every raw
    run overlapping it (a word split across ``<b>bo</b>ld`` counts as
    bold — the reference flags a word from ANY of its symbols).
    Contiguous same-flag words merge into one span, separator space
    included. Only called for blocks that saw an emphasis tag."""
    raw = "".join(runs)
    # word boundaries in raw coordinates (str.split semantics)
    words: List[Tuple[int, int]] = []
    i, n = 0, len(raw)
    while i < n:
        if raw[i].isspace():
            i += 1
            continue
        j = i
        while j < n and not raw[j].isspace():
            j += 1
        words.append((i, j))
        i = j
    # run boundaries in raw coordinates
    bounds: List[Tuple[int, int, int]] = []
    off = 0
    for r, f in zip(runs, flags):
        bounds.append((off, off + len(r), f))
        off += len(r)
    # word flags via a single forward pointer over the runs
    ri = 0
    spans: List[List] = []  # [start, end, flag] in normalized coords
    norm_off = 0
    for k, (ws, we) in enumerate(words):
        while ri < len(bounds) and bounds[ri][1] <= ws:
            ri += 1
        fl = 0
        t = ri
        while t < len(bounds) and bounds[t][0] < we:
            fl |= bounds[t][2]
            t += 1
        start = norm_off if k == 0 else norm_off + 1
        end = start + (we - ws)
        norm_off = end
        if fl:
            if spans and spans[-1][2] == fl and spans[-1][1] == start - 1:
                spans[-1][1] = end  # merge across the single space
            else:
                spans.append([start, end, fl])
    return tuple((s, e, _KIND[f]) for s, e, f in spans)


class _BlockParser(HTMLParser):
    """Streaming run accumulator (≈ pbm2cl.c single-scanline reader:
    only the current block's raw runs are buffered)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: List[str] = []
        self.zone_stack: List[int] = []
        self.skip_depth = 0
        self.link_depth = 0
        self.emph_i = 0
        self.emph_b = 0
        self.blocks: List[Block] = []
        self._cur_runs: List[str] = []
        self._cur_flags: List[int] = []  # bit0 = italic, bit1 = bold
        self._cur_link_chars = 0
        self._cur_path: Optional[str] = None
        self._cur_depth = 0
        self._cur_zone = 0
        self._pos = 0

    # -- block lifecycle ------------------------------------------------
    def _flush(self) -> None:
        if not self._cur_runs:
            return
        raw = "".join(self._cur_runs)
        text = " ".join(raw.split())
        if text:
            emph: Tuple[Tuple[int, int, str], ...] = ()
            if any(self._cur_flags):
                emph = _emph_spans(self._cur_runs, self._cur_flags)
            self.blocks.append(
                Block(
                    pos=self._pos,
                    zone=self._cur_zone,
                    tag_path=self._cur_path or "",
                    depth=self._cur_depth,
                    text=text,
                    link_text_len=min(self._cur_link_chars, len(raw)),
                    n_runs=len(self._cur_runs),
                    emph=emph,
                )
            )
            self._pos += 1
        self._cur_runs = []
        self._cur_flags = []
        self._cur_link_chars = 0
        self._cur_path = None

    # -- parser events ---------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if tag in VOID_TAGS:
            if tag == "br":
                self._flush()
            return
        if tag in SKIP_TAGS:
            self.skip_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()
        if tag == "a":
            self.link_depth += 1
        if tag in EMPH_I_TAGS:
            self.emph_i += 1
        elif tag in EMPH_B_TAGS:
            self.emph_b += 1
        zone = None
        if attrs:
            for k, v in attrs:
                if k == "data-zone":
                    zone = v
                    break
        if zone is not None and str(zone).isdigit():
            self.zone_stack.append(int(zone))
        else:
            self.zone_stack.append(self.zone_stack[-1] if self.zone_stack else 0)
        self.stack.append(tag)

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in VOID_TAGS:
            return
        if tag in BLOCK_TAGS:
            self._flush()
        # tolerant unwinding: pop to the nearest matching open tag
        if tag in self.stack:
            while self.stack:
                t = self.stack.pop()
                self.zone_stack.pop()
                if t in SKIP_TAGS and self.skip_depth > 0:
                    self.skip_depth -= 1
                if t == "a" and self.link_depth > 0:
                    self.link_depth -= 1
                if t in EMPH_I_TAGS and self.emph_i > 0:
                    self.emph_i -= 1
                elif t in EMPH_B_TAGS and self.emph_b > 0:
                    self.emph_b -= 1
                if t == tag:
                    break

    def handle_data(self, data: str) -> None:
        if self.skip_depth > 0 or not data:
            return
        if self._cur_path is None and data.strip():
            self._cur_path = "/".join(self.stack)
            self._cur_depth = len(self.stack)
            self._cur_zone = self.zone_stack[-1] if self.zone_stack else 0
        self._cur_runs.append(data)
        self._cur_flags.append(
            (1 if self.emph_i else 0) | (2 if self.emph_b else 0)
        )
        if self.link_depth > 0:
            self._cur_link_chars += len(data)

    def close(self) -> None:  # final flush (EOF = block boundary)
        super().close()
        self._flush()


def parse_blocks(html: bytes) -> List[Block]:
    """Parse one document's raw bytes into its ordered block list."""
    text = decode_html(html)
    p = _BlockParser()
    try:
        p.feed(text)
        p.close()
    except Exception:
        # ≈ find_thing adaptive fallback (pbm2cl.c:717-808): salvage
        # whatever blocks were produced before the parse error.
        p._flush()
    return p.blocks


# -- feature extraction (≈ closure features, pbm2cl.c:608-709) -----------

STOPWORDS = frozenset(
    """the a an and or of to in is it for on with as at by this that from be
    der die das und ist ein eine mit von zu im den des
    o a os as um uma e de do da em para com que não é por
    el la los las un una y de del en para con que no es por""".split()
)


def block_features(b: Block) -> Tuple[float, float, float, int, int]:
    """(link_density, punct_ratio, stopword_ratio, n_words, n_tokens)."""
    n = max(b.text_len, 1)
    link_density = min(b.link_text_len / n, 1.0)
    punct_ratio = len(_PUNCT_RE.findall(b.text)) / n
    words = _WORD_RE.findall(b.text.lower())
    n_words = len(words)
    stop = sum(1 for w in words if w in STOPWORDS)
    stopword_ratio = stop / n_words if n_words else 0.0
    return link_density, punct_ratio, stopword_ratio, n_words, n_words
