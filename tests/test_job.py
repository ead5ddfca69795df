"""spark-submit job surface: jobs/extract_job.py end-to-end in a
fresh interpreter (own SparkSession, own sys.path bootstrap — the
packaging surface the cluster launch depends on)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_extract_job_mixed(spark, tmp_path):
    from clara_ocr_spark.sources.corpus import PAGES_SCHEMA, gen_page
    from clara_ocr_spark.sources.pdfgen import gen_pdf_page

    rows = [gen_page(i, seed=21) for i in range(30)] + [
        gen_pdf_page(i, seed=21) for i in range(30)
    ]
    inp = tmp_path / "pages.parquet"
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), str(inp))
    sm_xml = (
        b'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        b"<url><loc>https://sm.example/a</loc><priority>0.9</priority></url>"
        b"<url><loc>https://sm.example/b</loc></url></urlset>"
    )
    sitemaps = tmp_path / "sitemaps.parquet"
    pq.write_table(
        pa.table({
            "url": ["https://sm.example/sitemap.xml",
                    "https://sm.example/broken.xml"],
            "payload": pa.array([sm_xml, b"not xml"], pa.binary()),
        }),
        str(sitemaps),
    )
    robots_txt = (
        b"User-agent: *\nDisallow: /private/\nCrawl-delay: 4\n"
        b"Sitemap: https://rb.example/sitemap.xml\n"
    )
    robots = tmp_path / "robots.parquet"
    pq.write_table(
        pa.table({
            "url": ["https://rb.example/robots.txt",
                    "https://rb2.example/robots.txt"],
            "payload": pa.array([robots_txt, b""], pa.binary()),
        }),
        str(robots),
    )
    out = tmp_path / "out"
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    # run from outside the checkout with no PYTHONPATH: the Python
    # workers find the package only through the session builder's export
    bare_env = {k: v for k, v in env.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "extract_job.py"),
            "--input", str(inp),
            "--output", str(out),
            "--metrics", str(tmp_path / "metrics"),
            "--skew-report", str(tmp_path / "skew"),
            "--head-meta", str(tmp_path / "head_meta"),
            "--links", str(tmp_path / "links"),
            "--wat", str(tmp_path / "wat"),
            "--sitemaps", str(sitemaps),
            "--sitemap-out", str(tmp_path / "sm_out"),
            "--robots", str(robots),
            "--robots-out", str(tmp_path / "robots_out"),
            "--frontier-out", str(tmp_path / "frontier"),
            "--coverage", str(tmp_path / "coverage"),
            "--staleness", str(tmp_path / "staleness"),
            "--trap-audit", str(tmp_path / "trap"),
            "--soft404-audit", str(tmp_path / "soft404"),
            "--wet-out", str(tmp_path / "wet"),
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=bare_env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    import duckdb

    got = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"select url, text from '{out}/*.parquet'"
        ).fetchall()
    }
    want = {r["url"]: r["text"] for r in rows}
    assert got == want

    # the persisted output follows AQE's coalescing (the cached plan
    # may change its output partitioning): one lineage row per written
    # data file, the rows add up to the input, and the file count is
    # below the un-coalesced spark.sql.shuffle.partitions (200)
    import glob as _glob

    n_files = len(_glob.glob(f"{out}/part-*.parquet"))
    lineage = duckdb.sql(
        f"select count(*), sum(n_rows) from '{tmp_path}/metrics/*.parquet'"
    ).fetchone()
    assert lineage == (n_files, len(rows))
    assert n_files < 200

    # --skew-report rode the same run: per-(url, page) rows for the
    # PDF payloads only, level corpus reads ~0
    skew = duckdb.sql(
        f"select url, page, skew_deg, n_votes from '{tmp_path}/skew/*.parquet'"
    ).fetchall()
    assert skew and all(abs(r[2]) < 1e-9 for r in skew if r[3] >= 3)
    pdf_urls = {r["url"] for r in rows[30:]}
    assert {r[0] for r in skew} <= pdf_urls

    # --head-meta rode the same run: one row per HTML page (a PDF
    # has no <head>), every corpus template titled "t"
    meta = duckdb.sql(
        f"select url, title, n_meta from '{tmp_path}/head_meta/*.parquet'"
    ).fetchall()
    html_urls = {r["url"] for r in rows[:30]}
    assert {r[0] for r in meta} == html_urls
    assert all(r[1] == "t" for r in meta)

    # --wat rode the same run, sharing the two harvests with
    # --links/--head-meta (one parse each): raw-text JSONL, one
    # SELF-CONTAINED record per line — json.loads must succeed
    # directly and the `head`/`outlinks` fields must be objects, not
    # double-encoded strings (review finding: .json() over the 3-col
    # frame used to escape the record into a string field)
    import json as _json

    wat_lines = []
    for f in _glob.glob(f"{tmp_path}/wat/part-*"):
        with open(f) as fh:
            wat_lines += [ln for ln in fh.read().splitlines() if ln]
    recs = [_json.loads(ln) for ln in wat_lines]
    assert {r["url"] for r in recs} == html_urls  # HTML pages only
    assert all(isinstance(r.get("outlinks"), list) for r in recs)
    assert all("ts" in r for r in recs)

    # --sitemaps rode the same run: discovery rows for the valid file,
    # zero (not a crash) for the corrupt one
    sm = duckdb.sql(
        f"select sitemap_url, loc, priority from '{tmp_path}/sm_out/*.parquet'"
    ).fetchall()
    assert {(r[0], r[1]) for r in sm} == {
        ("https://sm.example/sitemap.xml", "https://sm.example/a"),
        ("https://sm.example/sitemap.xml", "https://sm.example/b"),
    }

    # --robots rode the same run: the RFC 9309 rules ledger with the
    # group rules, the crawl-delay, and the non-group sitemap record;
    # the empty payload parses to zero rows, not a crash
    rob = duckdb.sql(
        f"select agent, kind, value from '{tmp_path}/robots_out/*.parquet'"
    ).fetchall()
    assert ("*", "disallow", "/private/") in rob
    assert ("*", "crawl_delay", "4") in rob
    assert ("", "sitemap", "https://rb.example/sitemap.xml") in rob
    assert len(rob) == 3

    # --frontier-out rode the same run: a paced next-wave schedule of
    # harvested-but-uncrawled urls (the corpus's nav/topic links);
    # no robots delay applies to these hosts, so offsets run at the
    # crawler default quantum (wave-1 seconds)
    fr = duckdb.sql(
        f"select url, wave, offset_s from '{tmp_path}/frontier/*.parquet'"
    ).fetchall()
    assert fr  # the corpus links to /nav and /t/ paths never crawled
    crawled_urls = {r["url"] for r in rows}
    assert not ({u for u, _w, _o in fr} & crawled_urls)
    assert all(o == (w - 1) * 1.0 for _u, w, o in fr)

    # --coverage rode the same run: the two declared-but-unfetched
    # sitemap urls are the scheduling gap; every crawled page counts
    cov = duckdb.sql(
        f"select sum(n_crawled), sum(n_sitemap_only), sum(n_both) "
        f"from '{tmp_path}/coverage/*.parquet'"
    ).fetchone()
    assert cov == (60, 2, 0)

    # --staleness rode the same run: no declared url was crawled, so
    # the lastmod ledger is empty (written, not crashed; AQE may
    # coalesce the empty write to zero part files)
    import glob as _glob2

    assert os.path.exists(f"{tmp_path}/staleness/_SUCCESS")
    stale_parts = _glob2.glob(f"{tmp_path}/staleness/*.parquet")
    if stale_parts:
        n_stale = duckdb.sql(
            f"select count(*) from '{tmp_path}/staleness/*.parquet'"
        ).fetchone()
        assert n_stale == (0,)

    # --trap-audit rode the same run: every input url is distinct and
    # parameter-free in this corpus -> no variants anywhere
    trap = duckdb.sql(
        f"select sum(n_urls), sum(n_param_variants) "
        f"from '{tmp_path}/trap/*.parquet'"
    ).fetchone()
    assert trap == (60, 0)

    # --soft404-audit rode the same run over the whole output read
    # back (title tier joined from the --head-meta table): a healthy
    # synthetic corpus reads zero everywhere, but every page counts
    soft = duckdb.sql(
        f"select sum(n_pages), sum(n_soft404) "
        f"from '{tmp_path}/soft404/*.parquet'"
    ).fetchone()
    assert soft == (60, 0)

    # --wet-out rode the same run: one conversion record per input
    # url (HTML and PDF), framed well enough for the repo's own reader
    from clara_ocr_spark.sources.formats import _parse_warc_bytes

    wet_payload = b"".join(
        open(f, "rb").read()
        for f in sorted(_glob.glob(f"{tmp_path}/wet/part-*"))
    )
    wet_urls = {u for u, _ts, _b, _t in _parse_warc_bytes(wet_payload)}
    assert wet_urls == {r["url"] for r in rows}

    # --hqbin on a corpus with a known strict-pass failure: the tiny
    # paragraph is recovered by the loose second pass, everything else
    # stays byte-identical
    rows_hq = [gen_page(i, seed=22) for i in range(20)]
    tiny = dict(rows_hq[0])
    tiny["url"] = "https://tiny.example/p"
    tiny["html"] = b"<p>abc def</p>"
    tiny["text"] = ""
    rows_hq.append(tiny)
    inp_hq = tmp_path / "pages_hq.parquet"
    pq.write_table(
        pa.Table.from_pylist(rows_hq, schema=PAGES_SCHEMA), str(inp_hq)
    )
    out_hq = tmp_path / "out_hq"
    proc_hq = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "extract_job.py"),
            "--input", str(inp_hq),
            "--output", str(out_hq),
            "--hqbin",
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
    )
    assert proc_hq.returncode == 0, proc_hq.stderr[-2000:]
    import duckdb as _duck

    got_hq = {
        r[0]: r[1]
        for r in _duck.sql(
            f"select url, text from '{out_hq}/*.parquet'"
        ).fetchall()
    }
    assert got_hq["https://tiny.example/p"] == "abc def"  # recovered
    for r in rows_hq[:20]:
        if len(r["text"].split()) >= 5:
            assert got_hq[r["url"]] == r["text"]

    # --format markup / encap in a fresh interpreter: markup wraps
    # emphasis spans (plain text elsewhere); encap keeps text
    # byte-identical and adds the per-block span column
    from clara_ocr_spark.extract_rules import reference_extract_markup

    rows_fm = [gen_page(i, seed=23) for i in range(15)]
    emph = dict(rows_fm[0])
    emph["url"] = "https://emph.example/p"
    emph["html"] = (
        b"<p>lead words <i>italic run</i> middle <b>bold</b> and "
        b"enough padding words to pass the length gate</p>"
    )
    emph["text"] = ""
    rows_fm.append(emph)
    inp_fm = tmp_path / "pages_fm.parquet"
    pq.write_table(
        pa.Table.from_pylist(rows_fm, schema=PAGES_SCHEMA), str(inp_fm)
    )
    for fmt, outdir in (
        ("markup", "out_mk"),
        ("encap", "out_enc"),
        ("full_html", "out_fh"),
    ):
        proc_fm = subprocess.run(
            [
                sys.executable,
                os.path.join(ROOT, "jobs", "extract_job.py"),
                "--input", str(inp_fm),
                "--output", str(tmp_path / outdir),
                "--format", fmt,
            ],
            capture_output=True,
            text=True,
            env=env,
            timeout=300,
        )
        assert proc_fm.returncode == 0, proc_fm.stderr[-2000:]
    import duckdb as _d

    got_mk = {
        r[0]: r[1]
        for r in _d.sql(
            f"select url, text from '{tmp_path}/out_mk/*.parquet'"
        ).fetchall()
    }
    assert got_mk["https://emph.example/p"] == reference_extract_markup(
        emph["html"]
    )
    assert "<i>italic run</i>" in got_mk["https://emph.example/p"]
    for r in rows_fm[:15]:
        assert got_mk[r["url"]] == r["text"]  # emphasis-free ⇒ plain
    enc = _d.sql(
        f"select url, text, len(blocks) from '{tmp_path}/out_enc/*.parquet'"
    ).fetchall()
    got_enc = {r[0]: (r[1], r[2]) for r in enc}
    for r in rows_fm[:15]:
        assert got_enc[r["url"]][0] == r["text"]
        assert got_enc[r["url"]][1] >= 1
    import re as _re

    got_fh = {
        r[0]: r[1]
        for r in _d.sql(
            f"select url, html from '{tmp_path}/out_fh/*.parquet'"
        ).fetchall()
    }
    for r in rows_fm[:15]:
        html = got_fh[r["url"]]
        assert html.startswith("<!DOCTYPE html>")
        blocks = _re.findall(r"<p>(.*?)</p>", html, flags=_re.S)
        unesc = lambda s: (  # noqa: E731
            s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
        )
        assert "\n".join(unesc(b) for b in blocks) == r["text"]

    # --patt-acts: a library entry marking the content template path
    # 'noise' would suppress extraction; an arbiter retire act removes
    # it, so the output returns to the reference text (review_patt
    # end-to-end through the job surface)
    import datetime as _dt

    lib_path = tmp_path / "patterns.parquet"
    pq.write_table(
        pa.table(
            {
                "fingerprint": ["html/body/main/article/p"],
                "label": ["noise"],
                "matches": pa.array([5], type=pa.int64()),
            }
        ),
        str(lib_path),
    )
    pacts_path = tmp_path / "patt_acts.parquet"
    pq.write_table(
        pa.table(
            {
                "act_id": pa.array([1], type=pa.int64()),
                "fingerprint": ["html/body/main/article/p"],
                "label": pa.array([None], type=pa.string()),
                "reviewer_type": ["arbiter"],
                "submitted_at": pa.array(
                    [_dt.datetime(2024, 5, 1, 12)], type=pa.timestamp("us")
                ),
            }
        ),
        str(pacts_path),
    )
    for outdir_pa, extra, expect_plain in (
        ("out_pa0", ["--patterns", str(lib_path)], False),
        (
            "out_pa1",
            [
                "--patterns", str(lib_path),
                "--patt-acts", str(pacts_path),
            ],
            True,
        ),
    ):
        proc_pa = subprocess.run(
            [
                sys.executable,
                os.path.join(ROOT, "jobs", "extract_job.py"),
                "--input", str(inp_fm),
                "--output", str(tmp_path / outdir_pa),
                *extra,
            ],
            capture_output=True,
            text=True,
            env=env,
            timeout=300,
        )
        assert proc_pa.returncode == 0, proc_pa.stderr[-2000:]
        got_pa = {
            r[0]: r[1]
            for r in _d.sql(
                f"select url, text from '{tmp_path}/{outdir_pa}/*.parquet'"
            ).fetchall()
        }
        matches_ref = sum(
            got_pa.get(r["url"]) == r["text"] for r in rows_fm[:15]
        )
        if expect_plain:
            assert matches_ref == 15  # retire act restored extraction
        else:
            assert matches_ref < 15  # the noise pattern suppressed text

    # text-container roundtrip: pages written as JSONL (html base64),
    # read by the job with --input-format jsonl, emitted as JSONL —
    # extraction byte-identical to the parquet path
    from clara_ocr_spark.sources.formats import write_pages_text

    write_pages_text(
        spark.read.parquet(str(inp_fm)), str(tmp_path / "pages_jsonl"), "jsonl"
    )
    proc_fmt = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "extract_job.py"),
            "--input", str(tmp_path / "pages_jsonl"),
            "--input-format", "jsonl",
            "--output", str(tmp_path / "out_jsonl"),
            "--output-format", "jsonl",
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
    )
    assert proc_fmt.returncode == 0, proc_fmt.stderr[-2000:]
    got_jl = {
        r[0]: r[1]
        for r in _d.sql(
            f"select url, text from read_json_auto('{tmp_path}/out_jsonl/*.json')"
        ).fetchall()
    }
    for r in rows_fm[:15]:
        assert got_jl[r["url"]] == r["text"]

    # --incremental replay must be a no-op (the high-water-mark
    # anti-join sees every url already extracted); --mixed is still
    # accepted and changes nothing
    proc2 = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "extract_job.py"),
            "--input", str(inp),
            "--output", str(out),
            "--mixed",
            "--incremental",
            "--sitemaps", str(sitemaps),
            "--sitemap-out", str(tmp_path / "sm_out2"),
            "--coverage", str(tmp_path / "coverage2"),
            "--trap-audit", str(tmp_path / "trap2"),
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
    )
    assert proc2.returncode == 0, proc2.stderr[-2000:]
    n = duckdb.sql(f"select count(*) from '{out}/*.parquet'").fetchone()[0]
    assert n == len(rows)
    # the audits describe the WHOLE crawl even on an incremental
    # replay whose extraction delta is empty: binding them to the
    # delta would overwrite the ledgers with near-empty ones and a
    # coverage consumer would re-enqueue the entire crawled site
    # (review finding r5)
    assert duckdb.sql(
        f"select sum(n_crawled), sum(n_sitemap_only), sum(n_both) "
        f"from '{tmp_path}/coverage2/*.parquet'"
    ).fetchone() == (60, 2, 0)
    assert duckdb.sql(
        f"select sum(n_urls), sum(n_param_variants) "
        f"from '{tmp_path}/trap2/*.parquet'"
    ).fetchone() == (60, 0)


def test_extract_job_deskew_and_spell(tmp_path):
    """r3 flags in a fresh interpreter: --deskew appends the
    diagnostic profile without touching extracted text; --spell
    corrects a planted typo against the corpus vocabulary."""
    from clara_ocr_spark.sources.corpus import PAGES_SCHEMA, gen_page

    rows = [gen_page(i, seed=31) for i in range(40)]
    inp = tmp_path / "pages.parquet"
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), str(inp))
    out = tmp_path / "out"
    deskew = tmp_path / "deskew"
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "extract_job.py"),
            "--input", str(inp),
            "--output", str(out),
            "--deskew", str(deskew),
        ],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    import duckdb

    got = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"select url, text from '{out}/*.parquet'"
        ).fetchall()
    }
    assert got == {r["url"]: r["text"] for r in rows}  # byte-identical
    prof = duckdb.sql(
        f"select count(*), min(deskew_t), max(deskew_t) "
        f"from '{deskew}/*.parquet'"
    ).fetchall()[0]
    assert prof[0] == len(rows) and 1 <= prof[1] <= prof[2] <= 12

    # --spell: the corpus's own vocabulary corrects a planted typo
    # (vocab words repeat across the 40 docs; threshold 20 < 40 hits)
    typo = dict(rows[0])
    typo["url"] = "https://typo.example/p"
    corpus_toks = [
        t for r in rows for t in r["text"].lower().split()
        if t.isalpha() and 6 <= len(t) <= 16
    ]
    tok_set = set(corpus_toks)
    # most frequent word whose delete-2nd-char typo is NOT a real word
    first_tok = max(
        (t for t in tok_set if t[0] + t[2:] not in tok_set),
        key=corpus_toks.count,
    )
    wrong = first_tok[0] + first_tok[2:]  # delete 2nd char
    typo["html"] = (
        "<p>say %s here with enough padding words to pass the "
        "length gate</p>" % wrong
    ).encode()
    typo["text"] = ""
    rows_sp = rows + [typo]
    inp_sp = tmp_path / "pages_sp.parquet"
    pq.write_table(
        pa.Table.from_pylist(rows_sp, schema=PAGES_SCHEMA), str(inp_sp)
    )
    out_sp = tmp_path / "out_sp"
    proc_sp = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "extract_job.py"),
            "--input", str(inp_sp),
            "--output", str(out_sp),
            "--spell", "--spell-min-count", "20",
        ],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc_sp.returncode == 0, proc_sp.stderr[-2000:]
    got_sp = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"select url, text from '{out_sp}/*.parquet'"
        ).fetchall()
    }
    corrected = got_sp["https://typo.example/p"]
    assert wrong not in corrected.lower().split(), corrected
    assert "say" in corrected


def test_curate_job_wet_input(tmp_path):
    """The Common-Crawl-native curation path in a fresh interpreter:
    WET sidecar (.wet.gz, conversion records) → curate_job skips
    extraction, the count gate partitions the input exactly, and an
    injected exact duplicate is rejected."""
    import datetime

    from clara_ocr_spark.sources.corpus import gen_page
    from clara_ocr_spark.sources.formats import write_warc

    ts = datetime.datetime(2024, 4, 1, 0, 0, 0)
    rows = [
        {"url": f"https://wet.example/{i}", "warc_ts": ts,
         "html": None, "text": gen_page(i, seed=41)["text"]}
        for i in range(30)
    ]
    rows.append(
        {"url": "https://wet.example/dup", "warc_ts": ts,
         "html": None, "text": rows[0]["text"]}  # exact duplicate
    )
    wet = tmp_path / "crawl.wet.gz"
    write_warc(rows, str(wet), gzip_members=True)
    out_c, out_r = tmp_path / "curated", tmp_path / "rejects"
    out_h = tmp_path / "health"
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "curate_job.py"),
            "--input", str(wet),
            "--input-format", "wet",
            "--curated", str(out_c),
            "--rejects", str(out_r),
            "--corpus-health", str(out_h),
        ],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    import duckdb

    n_c = duckdb.sql(f"select count(*) from '{out_c}/*.parquet'").fetchone()[0]
    rej = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"select url, reason from '{out_r}/*.parquet'"
        ).fetchall()
    }
    assert n_c + len(rej) == len(rows)  # exact partition of the input
    # the duplicate pair collapsed: exactly one of the two survives
    dup_pair = {"https://wet.example/0", "https://wet.example/dup"}
    assert len(dup_pair - set(rej)) == 1
    assert any("dup" in (v or "") for k, v in rej.items() if k in dup_pair)
    # --corpus-health sidecar: the full metric set over the CURATED
    # table, with the doc counter agreeing with the published output
    health = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"select metric, value from '{out_h}/*.parquet'"
        ).fetchall()
    }
    assert set(health) == {
        "n_docs", "n_tokens", "zipf_slope", "zipf_r2", "heaps_beta",
        "heaps_r2", "gt_p0_pm", "gt_chao1", "len_p50", "len_p90",
        "len_p99", "ks_parity_d_pm",
    }
    assert health["n_docs"] == n_c


def test_curate_job_metrics_lineage(tmp_path):
    """The extract → curate job with --metrics and --corpus-health:
    one lineage row per written curated data file, lineage rows that
    add up to the curated table, no zero-row part file in either
    output, the health counter agreeing with the published table, and
    the injected exact copies rejected as duplicates."""
    import glob

    import duckdb

    from clara_ocr_spark.sources.corpus import PAGES_SCHEMA, gen_page

    rows = [gen_page(i, seed=33) for i in range(30)]
    for k, src in enumerate((1, 1, 4)):
        dup = dict(rows[src])
        dup["url"] = f"https://mirror.example/copy/{k}"
        rows.append(dup)
    pages = tmp_path / "pages.parquet"
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), str(pages))
    out_c, out_r = tmp_path / "curated", tmp_path / "rejects"
    out_h, out_m = tmp_path / "health", tmp_path / "metrics"
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "curate_job.py"),
            "--input", str(pages),
            "--curated", str(out_c),
            "--rejects", str(out_r),
            "--corpus-health", str(out_h),
            "--metrics", str(out_m),
        ],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    n_cur = duckdb.sql(f"select count(*) from '{out_c}/*.parquet'").fetchone()[0]
    lineage = duckdb.sql(
        f"select count(*), sum(n_rows) from '{out_m}/*.parquet'"
    ).fetchone()
    assert lineage == (len(glob.glob(f"{out_c}/part-*.parquet")), n_cur)
    for out in (out_c, out_r):
        for f in glob.glob(f"{out}/part-*.parquet"):
            assert pq.read_metadata(f).num_rows > 0, f
    rej = dict(duckdb.sql(
        f"select url, reason from '{out_r}/*.parquet'").fetchall())
    assert n_cur + len(rej) == len(rows)
    assert {u for u, r in rej.items() if r == "duplicate"} >= {
        f"https://mirror.example/copy/{k}" for k in range(3)
    }
    health = dict(duckdb.sql(
        f"select metric, value from '{out_h}/*.parquet'").fetchall())
    assert health["n_docs"] == n_cur


def test_curate_job_lm_gate_and_dsir(tmp_path):
    """spark-submit-shaped curation with the trained-LM gate and the
    DSIR sidecar: --lm-ref + --set lm_nll_max rejects docs the
    reference LM has never seen (lm_perplexity), keeps the
    in-reference doc, and --dsir-weights writes one logw row per
    curated url against --dsir-target."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clara_ocr_spark.sources.corpus import PAGES_SCHEMA, gen_page

    rows = [gen_page(i, seed=77) for i in range(25)]
    known = "the quick brown fox jumps over the lazy dog number 3"
    fox = dict(rows[0])
    fox["url"] = "https://ref.example/fox"
    fox["html"] = (
        b"<html><body><main><p>" + known.encode() + b"</p></main></body></html>"
    )
    rows.append(fox)
    pages = tmp_path / "pages.parquet"
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), str(pages))
    # reference corpus: tiny, so out-of-reference docs score ~ln(V)
    # (≈ 2.9 here) and in-reference bigrams ~0.2 — 2.0 separates them
    ref = tmp_path / "ref.parquet"
    pq.write_table(
        pa.table({"text": [
            f"the quick brown fox jumps over the lazy dog number {i}"
            for i in range(8)
        ]}),
        str(ref),
    )
    target = tmp_path / "target.parquet"
    pq.write_table(
        pa.table({"text": ["quick brown fox lazy dog"] * 4}), str(target)
    )
    out_c, out_r = tmp_path / "curated", tmp_path / "rejects"
    out_w = tmp_path / "dsir"
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "curate_job.py"),
            "--input", str(pages),
            "--curated", str(out_c),
            "--rejects", str(out_r),
            "--lm-ref", str(ref),
            "--set", "lm_nll_max=2.0",
            "--dsir-weights", str(out_w),
            "--dsir-target", str(target),
        ],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    import duckdb

    cur = [r[0] for r in duckdb.sql(
        f"select url from '{out_c}/*.parquet'").fetchall()]
    rej = {r[0]: r[1] for r in duckdb.sql(
        f"select url, reason from '{out_r}/*.parquet'").fetchall()}
    assert len(cur) + len(rej) == len(rows)
    assert "https://ref.example/fox" in cur
    assert "lm_perplexity" in set(rej.values())
    w = {r[0]: r[1] for r in duckdb.sql(
        f"select url, logw from '{out_w}/*.parquet'").fetchall()}
    assert set(w) == set(cur)  # one sidecar row per curated url
    assert w["https://ref.example/fox"] is not None


def test_curate_job_fix_encoding(tmp_path):
    """--fix-encoding repairs source-baked mojibake before the gate
    (the curated text carries the repaired form) and --encoding-audit
    writes the per-host pre-repair damage ledger — all through the
    spark-submit-shaped entry in a fresh interpreter."""
    from clara_ocr_spark.functions.mojibake import fix_mojibake
    from clara_ocr_spark.sources.corpus import PAGES_SCHEMA, gen_page

    rows = [gen_page(i, seed=91) for i in range(22)]
    clean = "étude naïve résumé séance idée bonne journée"

    def misdecode(s: str) -> str:
        return "".join(
            bytes([b]).decode("cp1252")
            if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
            else chr(b)
            for b in s.encode("utf-8")
        )

    # one single-encoded and one DOUBLE-encoded copy of the same page:
    # distinct byte-wise, so they can only dedup after both repair to
    # the same clean string — the property --fix-encoding exists for
    variants = [misdecode(clean), misdecode(misdecode(clean))]
    assert len({clean, *variants}) == 3  # fixture sanity: all distinct
    for k, damaged in enumerate(variants):
        assert fix_mojibake(damaged) == clean  # fixture sanity
        doc = dict(rows[0])
        doc["url"] = f"https://broken.example/p{k}"
        # the publisher's CMS already stored mojibake: the page FILE
        # is clean UTF-8, the text inside it is damaged
        doc["html"] = (
            b"<html><body><main><p>"
            + damaged.encode("utf-8")
            + b"</p></main></body></html>"
        )
        rows.append(doc)
    # a www-alias of the broken host with UNIQUE clean content: the
    # PSL-keyed mixture must merge it with broken.example while the
    # raw-host view keeps them apart
    www = dict(rows[0])
    www["url"] = "https://www.broken.example/p9"
    www["html"] = (
        b"<html><body><main><p>une page propre distincte sans faute "
        b"du tout ici</p></main></body></html>"
    )
    rows.append(www)
    pages = tmp_path / "pages.parquet"
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), str(pages))
    psl = tmp_path / "psl.dat"
    psl.write_text("// test rules\nexample\ncom\n")
    out_c, out_r = tmp_path / "curated", tmp_path / "rejects"
    out_a, out_w = tmp_path / "enc_audit", tmp_path / "mix"
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "curate_job.py"),
            "--input", str(pages),
            "--curated", str(out_c),
            "--rejects", str(out_r),
            "--fix-encoding",
            "--normalize", "NFKC",
            "--encoding-audit", str(out_a),
            "--mix-weights", str(out_w),
            "--psl-rules", str(psl),
        ],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    import duckdb

    # ledger reads the PRE-repair damage: the broken host is fully
    # damaged, every other host clean
    audit = {
        r[0]: (r[1], r[2])
        for r in duckdb.sql(
            f"select host, n_damaged, damaged_pm from '{out_a}/*.parquet'"
        ).fetchall()
    }
    assert audit["broken.example"] == (2, 1000)
    assert all(v == (0, 0) for h, v in audit.items() if h != "broken.example")
    # curated text carries the REPAIRED form (both copies repair to the
    # same string, so exactly one survives dedup)
    broken = duckdb.sql(
        f"select url, text from '{out_c}/*.parquet' "
        "where url like 'https://broken.example/%'"
    ).fetchall()
    assert len(broken) == 1
    assert clean in broken[0][1]
    assert "Ã©" not in broken[0][1]
    n_c = duckdb.sql(f"select count(*) from '{out_c}/*.parquet'").fetchone()[0]
    n_r = duckdb.sql(f"select count(*) from '{out_r}/*.parquet'").fetchone()[0]
    assert n_c + n_r == len(rows)  # count gate still partitions exactly
    # PSL-keyed mixture: the www alias folded into its registered
    # domain (one broken.example row counting both curated pages; no
    # www.broken.example row anywhere)
    mix = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"select host, n_docs from '{out_w}/*.parquet'"
        ).fetchall()
    }
    assert "www.broken.example" not in mix
    assert mix["broken.example"] == 2  # deduped pair -> 1, plus www's 1


def test_extract_job_anchors_and_pubdate(tmp_path):
    """--anchors (anchor-text election over the cumulative --links
    harvest), --reciprocity (link-farm ledger over the same harvest)
    and --pubdate-out (publish-date ladder over the decoded HTML leg)
    ride one extraction run."""
    from clara_ocr_spark.extract_rules import reference_extract
    from clara_ocr_spark.sources.corpus import PAGES_SCHEMA, gen_page

    rows = [gen_page(i, seed=33) for i in range(12)]
    dated_html = (
        b'<!DOCTYPE html><html><head>'
        b'<meta property="article:published_time" '
        b'content="2024-06-01T09:00:00Z"></head>'
        b"<body><main><article><p>Dated article body paragraph."
        b"</p></article></main></body></html>"
    )
    dated = dict(rows[0])
    dated["url"] = "https://dated.example/post"
    dated["html"] = dated_html
    dated["text"] = reference_extract(dated_html)
    rows.append(dated)
    # three same-host pages whose titles share a " | brand" tail (the
    # --title-suffix election needs >= 3 titled pages to flag)
    for i, t in enumerate(["alpha", "beta", "gamma"]):
        html = (
            f"<html><head><title>{t} | Brand Co</title></head>"
            f"<body><main><p>{t} page body paragraph.</p></main>"
            "</body></html>"
        ).encode()
        page = dict(rows[0])
        page["url"] = f"https://Suffix.example:8443/p{i}"
        page["html"] = html
        page["text"] = reference_extract(html)
        rows.append(page)
    # cross-host link triangle for --reciprocity: ra <-> rb mutual,
    # rc -> ra one-way (host_graph drops the corpus's intra-site nav
    # links as self-loops, so these are the only ledger edges)
    for host, target in (
        ("ra.example", "https://rb.example/x"),
        ("rb.example", "https://ra.example/y"),
        ("rc.example", "https://ra.example/z"),
    ):
        html = (
            f'<html><body><main><p>Linking page body with an '
            f'<a href="{target}">outbound reference</a> paragraph.'
            f"</p></main></body></html>"
        ).encode()
        page = dict(rows[0])
        page["url"] = f"https://{host}/"
        page["html"] = html
        page["text"] = reference_extract(html)
        rows.append(page)
    inp = tmp_path / "pages.parquet"
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), str(inp))
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "extract_job.py"),
            "--input", str(inp),
            "--output", str(tmp_path / "out"),
            "--links", str(tmp_path / "links"),
            "--anchors", str(tmp_path / "anchors"),
            "--reciprocity", str(tmp_path / "recip"),
            "--pubdate-out", str(tmp_path / "pubdate"),
            "--eval-golden", str(inp),
            "--eval-report", str(tmp_path / "evalrep"),
            "--head-meta", str(tmp_path / "head_meta"),
            "--title-suffix", str(tmp_path / "titlesfx"),
        ],
        capture_output=True,
        text=True,
        env=dict(os.environ, SPARK_GRAFT_CPUS="8"),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    import duckdb

    # election ledger: every winner non-empty, counts consistent,
    # destinations are harvested link targets (never crawled inputs'
    # own urls only — the corpus nav links point at /home etc.)
    anchors = duckdb.sql(
        f"select dst_url, n_inlinks, top_anchor, top_anchor_n "
        f"from '{tmp_path}/anchors/*.parquet'"
    ).fetchall()
    assert anchors
    assert all(a and n >= k >= 1 for _d, n, a, k in anchors)

    # reciprocity ledger: the crafted cross-host triangle is the only
    # edge set (intra-site nav links drop as self-loops) — ra <-> rb
    # mutual, rc -> ra one-way
    recip = {
        r[0]: r
        for r in duckdb.sql(
            f"select host, n_neighbors, n_reciprocal, recip_pm, "
            f"link_farm from '{tmp_path}/recip/*.parquet'"
        ).fetchall()
    }
    assert recip["rb.example"] == ("rb.example", 1, 1, 1000, False)
    assert recip["rc.example"] == ("rc.example", 1, 0, 0, False)
    assert recip["ra.example"][1:3] == (2, 1)

    # date ladder: one row per HTML page; exactly the crafted page
    # harvests (tier meta), the synthetic corpus is undated
    pub = duckdb.sql(
        f"select url, pub_date, date_tier from '{tmp_path}/pubdate/*.parquet'"
    ).fetchall()
    assert len(pub) == len(rows)
    by_url = {u: (d, t) for u, d, t in pub}
    assert by_url["https://dated.example/post"] == ("2024-06-01", "meta")
    assert all(
        v == (None, "none")
        for u, v in by_url.items()
        if u != "https://dated.example/post"
    )

    # --eval-golden graded the output against the input's own golden
    # text: the byte-identity invariant holds, so the one-row report
    # reads exact == pages and P = R = F1 = 1.0
    rep = duckdb.sql(
        f"select n_pages, n_exact, prec, rec, f1 "
        f"from '{tmp_path}/evalrep/*.parquet'"
    ).fetchall()
    assert len(rep) == 1
    n_pages, n_exact, prec, rec, f1 = rep[0]
    assert n_pages == n_exact == len(rows)
    assert (prec, rec, f1) == (1.0, 1.0, 1.0)

    # --title-suffix elected " Brand Co" as boilerplate on the
    # crafted host (3/3 titled pages share the tail; norm_host folds
    # the mixed case and the :8443 port); corpus hosts (every
    # template titled the bare "t") elect nothing
    sfx = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in duckdb.sql(
            f"select host, n_titles, suffix, share_pm, is_boiler "
            f"from '{tmp_path}/titlesfx/*.parquet'"
        ).fetchall()
    }
    assert sfx["suffix.example"] == (3, "Brand Co", 1000, True)
    assert all(
        v[1] is None and not v[3]
        for h, v in sfx.items()
        if h != "suffix.example"
    )


def test_extract_job_eval_arg_guards(tmp_path):
    """--eval-golden/--eval-report must travel together, and the
    report's parquet read-back of --output requires --output-format
    parquet (the --soft404-audit guard precedent).  All three rejects
    are argparse errors: exit 2 before any Spark session starts."""
    base = [
        sys.executable,
        os.path.join(ROOT, "jobs", "extract_job.py"),
        "--input", str(tmp_path / "in.parquet"),
        "--output", str(tmp_path / "out"),
    ]
    cases = [
        (["--eval-golden", str(tmp_path / "gold")],
         "--eval-golden and --eval-report go together"),
        (["--eval-report", str(tmp_path / "rep")],
         "--eval-golden and --eval-report go together"),
        (["--eval-golden", str(tmp_path / "gold"),
          "--eval-report", str(tmp_path / "rep"),
          "--output-format", "jsonl"],
         "needs --output-format parquet"),
    ]
    for extra, msg in cases:
        proc = subprocess.run(
            base + extra, capture_output=True, text=True, timeout=60
        )
        assert proc.returncode == 2, (extra, proc.stderr[-500:])
        assert msg in proc.stderr, (extra, proc.stderr[-500:])


def test_extract_job_set_and_engine(spark, tmp_path):
    """The job's composition is ``pipeline.extract``: ``--set`` reaches
    the rule chain (an unreachable min_text_len empties every doc), an
    unknown config var is a usage error before any Spark work, and
    ``--patterns --engine`` yields exactly ``extract(pages, patterns,
    engine=…)`` per url."""
    import pyspark.sql.functions as F

    from clara_ocr_spark.pipeline import extract
    from clara_ocr_spark.sources.corpus import PAGES_SCHEMA, gen_page
    from clara_ocr_spark.stages.classify import classify
    from clara_ocr_spark.stages.engines import pattern_features
    from clara_ocr_spark.stages.segment import segment

    rows = [gen_page(i, seed=24) for i in range(12)]
    inp = tmp_path / "pages.parquet"
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), str(inp))
    pages = spark.read.parquet(str(inp))
    # an enriched library that relabels every content fingerprint as
    # noise, so the scored engine visibly steers the output
    pattern_features(classify(segment(pages))).withColumn(
        "label",
        F.when(F.col("label") == "content", F.lit("noise")).otherwise(
            F.col("label")
        ),
    ).write.parquet(str(tmp_path / "lib"))

    def run(out, *extra):
        return subprocess.run(
            [
                sys.executable,
                os.path.join(ROOT, "jobs", "extract_job.py"),
                "--input", str(inp),
                "--output", str(tmp_path / out),
                *extra,
            ],
            capture_output=True,
            text=True,
            env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
            timeout=300,
        )

    def read(out):
        return {
            r.url: r.text
            for r in spark.read.parquet(str(tmp_path / out)).collect()
        }

    proc = run("out_bad", "--set", "n_salts=3")
    assert proc.returncode != 0
    assert "unknown config var: n_salts" in proc.stderr

    proc = run("out_set", "--set", "min_text_len=100000")
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = read("out_set")
    assert set(got) == {r["url"] for r in rows}
    assert all(t == "" for t in got.values())

    proc = run(
        "out_eng", "--patterns", str(tmp_path / "lib"), "--engine", "skel"
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = read("out_eng")
    lib = spark.read.parquet(str(tmp_path / "lib"))
    want = {
        r.url: r.text
        for r in extract(pages, lib, engine="skel").collect()
    }
    assert got == want
    assert any(got[r["url"]] != r["text"] for r in rows)


def test_curate_job_bad_set_is_usage_error(tmp_path):
    """A ``--set`` the curation config rejects (unknown name, or the
    per-host switch without its min_df) is an argparse usage error:
    exit 2 with the reason on stderr, no traceback, no output.  So is
    ``--mixed``: extraction routes PDF payloads with no switch."""
    for extra, msg in (
        (["--set", "nope=1"], "unknown config var: nope"),
        (["--set", "line_dedup_per_host=1"], "needs line_dedup_min_df > 0"),
        (["--mixed"], "unrecognized arguments: --mixed"),
    ):
        proc = subprocess.run(
            [
                sys.executable,
                os.path.join(ROOT, "jobs", "curate_job.py"),
                "--input", str(tmp_path / "absent.parquet"),
                "--curated", str(tmp_path / "curated"),
                "--rejects", str(tmp_path / "rejects"),
                *extra,
            ],
            capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 2, proc.stderr[-2000:]
        assert msg in proc.stderr
        assert "Traceback" not in proc.stderr
        assert not (tmp_path / "curated").exists()


def test_extract_job_revisit_out(tmp_path):
    """--revisit-out over a recrawl input: the second identical
    capture of a url becomes ONE WARC revisit pointer referencing the
    first capture's ts, a CHANGED recapture stays a response (no
    pointer), and the composed --wet-out export is unaffected (one
    conversion per url).  The pointers carry the md5-labelled payload
    digest and parse as zero-length records our own reader skips."""
    import datetime

    from clara_ocr_spark.sources.corpus import PAGES_SCHEMA, gen_page

    rows = [gen_page(i, seed=61) for i in range(8)]
    # unchanged recapture: same url + html, one hour later
    dup = dict(rows[0])
    dup["warc_ts"] = rows[0]["warc_ts"] + datetime.timedelta(hours=1)
    rows.append(dup)
    # changed recapture of another url: new payload -> response
    chg = dict(rows[1])
    chg["warc_ts"] = rows[1]["warc_ts"] + datetime.timedelta(hours=2)
    chg["html"] = (
        b"<html><body><main><p>Entirely new second capture body."
        b"</p></main></body></html>"
    )
    rows.append(chg)
    inp = tmp_path / "pages.parquet"
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), str(inp))
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "extract_job.py"),
            "--input", str(inp),
            "--output", str(tmp_path / "out"),
            "--wet-out", str(tmp_path / "wet"),
            "--revisit-out", str(tmp_path / "revisit"),
        ],
        capture_output=True,
        text=True,
        env=dict(os.environ, SPARK_GRAFT_CPUS="8"),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    import glob as _glob
    import hashlib

    from clara_ocr_spark.sources.formats import _parse_warc_bytes

    data = b"".join(
        open(f, "rb").read()
        for f in sorted(_glob.glob(f"{tmp_path}/revisit/part-*"))
    )
    assert data.count(b"WARC-Type: revisit") == 1
    want_digest = hashlib.md5(bytes(rows[0]["html"])).hexdigest()
    assert (
        data.count(b"WARC-Payload-Digest: md5:" + want_digest.encode())
        == 1
    )
    ref = rows[0]["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ").encode()
    assert b"WARC-Refers-To-Date: " + ref in data
    assert rows[0]["url"].encode() in data

    # the WET export still carries one conversion per url, and the
    # reader surfaces zero records from the pointer file
    wet = b"".join(
        open(f, "rb").read()
        for f in sorted(_glob.glob(f"{tmp_path}/wet/part-*"))
    )
    wet_urls = [u for u, _ts, _b, _t in _parse_warc_bytes(wet)]
    assert sorted(wet_urls) == sorted({r["url"] for r in rows})
    assert list(_parse_warc_bytes(data)) == []
