"""Deterministic synthetic Common-Crawl-style page corpus.

Shape fixed by BASELINE.json ``input_hint``:
``pages(url string, warc_ts timestamp, html binary, text string,
lang string)``.  No external data; seeded, order-independent (one RNG
per doc), so any slice regenerates identically — the corpus analogue of
the in-repo golden fixture page (imre.pbm, book.c:982-984).

Generator properties exercised downstream:

* Zipf-distributed hosts → real host-key skew (the salting path,
  SURVEY §4 custom-work item 1);
* 5 site templates: article / blog+sidebar / two-column (data-zone
  markers, DOM order ≠ reading order) / link-farm / malformed markup;
* langs {en, pt, de}; pt docs carry accented composition cases
  (≈ compose, html.c:2121-2187) and are sometimes Latin-1 encoded
  (exercises decode fallback ≈ loadpgm, pgmblock.c:263-457).

``text`` is the reference extractor's output on the generated html —
ground truth by construction; a separate quality test asserts the
extractor actually recovers the injected content paragraphs.
"""

from __future__ import annotations

import html as _html
import os
import random
from datetime import datetime, timedelta, timezone
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from ..extract_rules import reference_extract

EPOCH = datetime(2024, 3, 1, tzinfo=timezone.utc)
N_HOSTS = 50

WORDS: Dict[str, List[str]] = {
    "en": """the quick brown fox jumps over lazy dog data pipeline spark
        cluster partition shuffle broadcast join filter aggregate window
        stream batch quality signal content article paragraph reading
        order text density feature pattern library match score""".split(),
    "pt": """ação coração não informação é já são página conteúdo índice
        padrão análise extração também função versão órgão têm está
        português rápido leitura texto bloco qualidade métrica""".split(),
    "de": """über schön größe straße können müssen natürlich wörter
        zeichen qualität prüfung inhalt absatz leselauf muster größer
        verarbeitung dichte merkmal bibliothek tabelle fenster""".split(),
}

NAV_WORDS = "home about contact products blog archive login search help".split()


def _sentence(rng: random.Random, lang: str, n: int) -> str:
    ws = WORDS[lang]
    toks = [rng.choice(ws) for _ in range(n)]
    s = " ".join(toks)
    return s[0].upper() + s[1:] + rng.choice([".", ".", ".", "!", "?"])


def _paragraph(rng: random.Random, lang: str) -> str:
    return " ".join(_sentence(rng, lang, rng.randint(5, 14)) for _ in range(rng.randint(2, 6)))


def _nav(rng: random.Random, n: int) -> str:
    items = "".join(
        f'<li><a href="/{w}">{w}</a></li>' for w in rng.sample(NAV_WORDS, n)
    )
    return f"<nav><ul>{items}</ul></nav>"


def _linkfarm(rng: random.Random, n: int) -> str:
    links = "".join(
        f'<li><a href="/t/{i}">{_sentence(rng, "en", 3)}</a></li>' for i in range(n)
    )
    return f'<aside><h3>Related</h3><ul>{links}</ul></aside>'


def _header(rng: random.Random, host: str) -> str:
    return f"<header><h1>Site {host}</h1>{_nav(rng, rng.randint(3, 6))}</header>"


def _footer(host: str) -> str:
    return f'<footer><p>&copy; 2024 {host} — all rights reserved</p></footer>'


def _esc(s: str) -> str:
    return _html.escape(s, quote=False)


def _paras(rng: random.Random, lang: str, lo: int = 2, hi: int = 7) -> List[str]:
    return [_paragraph(rng, lang) for _ in range(rng.randint(lo, hi))]


def build_html(rng: random.Random, host: str, lang: str, template: int) -> str:
    """One page's markup per template id (≈ the 5 'book fonts')."""
    head = "<head><title>t</title><style>body{margin:0}</style><script>var x=1;</script></head>"
    hdr, ftr = _header(rng, host), _footer(host)
    paras = _paras(rng, lang)
    body: str
    if template == 0:  # plain article
        art = "".join(f"<p>{_esc(p)}</p>" for p in paras)
        body = f'{hdr}<main><article><h2>{_esc(_sentence(rng, lang, 4))}</h2>{art}</article></main>{ftr}'
    elif template == 1:  # blog + sidebar link farm
        art = "".join(f"<p>{_esc(p)}</p>" for p in paras)
        body = f'{hdr}<div class="wrap">{_linkfarm(rng, rng.randint(4, 9))}<div class="post">{art}</div></div>{ftr}'
    elif template == 2:  # two-column; zone 2 first in DOM order
        half = max(1, len(paras) // 2)
        c1 = "".join(f"<p>{_esc(p)}</p>" for p in paras[:half])
        c2 = "".join(f"<p>{_esc(p)}</p>" for p in paras[half:])
        cols = f'<div data-zone="2">{c2}</div><div data-zone="1">{c1}</div>'
        if rng.random() < 0.5:
            cols = f'<div data-zone="1">{c1}</div><div data-zone="2">{c2}</div>'
        body = f"{hdr}<main>{cols}</main>{ftr}"
    elif template == 3:  # link farm with one short content para
        farms = "".join(_linkfarm(rng, rng.randint(5, 10)) for _ in range(2))
        body = f"{hdr}{farms}<div><p>{_esc(paras[0])}</p></div>{ftr}"
    else:  # malformed: unclosed <p>, stray close, <br> runs
        art = "<br>".join(f"<p>{_esc(p)}" for p in paras)  # unclosed on purpose
        body = f"{hdr}</div><main>{art}</main>{ftr}"
    return f"<!DOCTYPE html><html><body>{head}{body}</body></html>".replace(
        "<body><head>", "<head>", 1
    ).replace("</head>", "</head><body>", 1)


def gen_page(i: int, seed: int = 42) -> dict:
    rng = random.Random((seed << 20) ^ i)
    # Zipf host draw (weight ∝ 1/rank) → hot-host skew
    ranks = range(1, N_HOSTS + 1)
    host_id = rng.choices(list(ranks), weights=[1.0 / r for r in ranks])[0]
    host = f"host{host_id:03d}.example"
    lang = rng.choices(["en", "pt", "de"], weights=[6, 2, 2])[0]
    template = rng.randint(0, 4)
    markup = build_html(rng, host, lang, template)
    # Latin-1 encoding for a slice of pt docs (decode-fallback path)
    if lang == "pt" and rng.random() < 0.3:
        raw = markup.encode("latin-1", errors="replace")
    else:
        raw = markup.encode("utf-8")
    return {
        "url": f"https://{host}/p/{i}",
        "warc_ts": EPOCH + timedelta(seconds=i),
        "html": raw,
        "text": reference_extract(raw),
        "lang": lang,
    }


PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


SHARD_DOCS = 256  # ≈ one WARC segment; yields many input splits


def _write_shard(args) -> None:
    tmp, shard, lo, hi, seed, gen = args
    rows = [gen(i, seed) for i in range(lo, hi)]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=PAGES_SCHEMA),
        os.path.join(tmp, f"part-{shard:05d}.parquet"),
    )


def ensure_corpus(path: str, n: int, seed: int = 42, gen=None) -> str:
    """Write the corpus once as a DIRECTORY of parquet shards
    (SHARD_DOCS docs each) — mirrors Common Crawl's many-files layout
    so the scan parallelizes naturally (a single file caps the parse
    stage at one task per row-group byte range). Cached by path.
    Per-doc RNGs make generation order-independent, so shards are
    written by a process pool. ``gen(i, seed) -> row`` defaults to
    the HTML page generator; pass ``pdfgen.gen_pdf_page`` (via
    ``ensure_pdf_corpus``) for the layout corpus."""
    gen = gen or gen_page
    if not os.path.exists(path):
        tmp = path + ".tmp"
        os.makedirs(tmp, exist_ok=True)
        jobs = [
            (tmp, shard, lo, min(lo + SHARD_DOCS, n), seed, gen)
            for shard, lo in enumerate(range(0, n, SHARD_DOCS))
        ]
        if len(jobs) > 4:
            from multiprocessing import Pool

            with Pool(min(16, os.cpu_count() or 4)) as pool:
                pool.map(_write_shard, jobs)
        else:
            for j in jobs:
                _write_shard(j)
        os.replace(tmp, path)
    return path
