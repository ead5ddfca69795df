#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline.

Cluster usage (north_rule launch shape):

    scripts/package.sh             # → dist/clara_ocr_spark.zip
    spark-submit --py-files dist/clara_ocr_spark.zip \\
        jobs/extract_job.py \\
        --input  s3://bucket/pages/           \\
        --output s3://bucket/extracted/       \\
        --metrics s3://bucket/metrics/        \\
        --run-id 2026-08-16-a                 \\
        [--patterns s3://bucket/patterns/]    \\
        [--acts s3://bucket/acts/]            \\
        [--patt-acts s3://bucket/patt_acts/]  \\
        [--incremental]                       \\
        [--links s3://bucket/links/]          \\
        [--head-meta s3://bucket/head_meta/]  \\
        [--format text|markup|encap|full_html] \\
        [--set min_text_len=10 --set link_density_max=0.5]

Local smoke: spark-submit --master local[8] jobs/extract_job.py ...

The job: (optionally) anti-join away already-extracted urls →
``pipeline.extract`` (segment → classify + pattern broadcast →
feedback overrides → consistency gate → assemble) → append output +
per-partition lineage metrics.  Master/executors come from
spark-submit, not from code.
"""

from __future__ import annotations

import argparse
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

# perfbench imports the session builder from this module
from clara_ocr_spark.session import build_session  # noqa: E402


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--run-id", default="adhoc")
    ap.add_argument("--patterns", default=None)
    ap.add_argument("--acts", default=None)
    ap.add_argument(
        "--struct-acts",
        default=None,
        help="structural revision acts parquet (merge/split block "
        "corrections, applied after label acts against original "
        "positions)",
    )
    ap.add_argument(
        "--patt-acts",
        default=None,
        help="pattern-library edit acts parquet (review_patt analogue: "
        "override/retire/insert library entries before classification; "
        "requires --patterns)",
    )
    ap.add_argument("--incremental", action="store_true")
    ap.add_argument(
        "--engine",
        default=None,
        choices=["skel", "map", "pd", "shape"],
        help="scored comparison engine (selbc analogue); default: exact fingerprint",
    )
    ap.add_argument(
        "--mixed",
        action="store_true",
        help="accepted and ignored: every run routes %%PDF- payloads "
        "to the geometric layout by magic bytes (kept for existing "
        "command lines)",
    )
    ap.add_argument(
        "--pdf-splitter",
        default="river",
        choices=["river", "tall"],
        help="PDF column strategy: white-river (vlines2 analogue) or "
        "tall separator glyphs (cf_block analogue, dictionary scans)",
    )
    ap.add_argument(
        "--hqbin",
        action="store_true",
        help="second-pass re-parse: docs failing the quality gate are "
        "re-extracted with the loose strategy and kept when better "
        "(preproc.c hqbin analogue; not with --engine)",
    )
    ap.add_argument(
        "--format",
        default="text",
        choices=["text", "markup", "encap", "full_html"],
        help="output variant (html.c:1966-1973 analogues): plain text; "
        "markup = inline <i>/<b> at parser emphasis spans (wprops "
        "word flags); encap = text + per-block label/score/char-span "
        "struct column (the DJVU-with-coordinates shape); full_html = "
        "complete entity-escaped HTML document per url (OE_FULL_HTML)",
    )
    ap.add_argument(
        "--input-format",
        default="parquet",
        choices=["parquet", "jsonl", "csv", "warc"],
        help="pages container (jsonl/csv carry html base64 in "
        "html_b64; warc reads crawler-native WARC/1.0 files — plain "
        "or per-record-gzipped .warc.gz, response records into html "
        "and WET conversion records into text; first touch should "
        "land into the bucketed parquet layout — SCALE.md)",
    )
    ap.add_argument(
        "--output-format",
        default="parquet",
        choices=["parquet", "jsonl"],
        help="extracted sink: parquet (warehouse) or JSONL (the "
        "tokenizer-pipeline handoff shape)",
    )
    ap.add_argument(
        "--deskew",
        default=None,
        metavar="PATH",
        help="append a per-document deskew calibration profile "
        "(url, deskew_t, deskew_score) to PATH — the pp_deskew "
        "parameter search (preproc.c:218-292) riding the extraction "
        "job as a diagnostic table; never edits text, so the "
        "byte-identity goldens are untouched",
    )
    ap.add_argument(
        "--spell",
        action="store_true",
        help="dictionary spelling correction on block text before "
        "assembly (step_12 beyond the reference's stub, "
        "clara.c:3232-3280; SymSpell delete-1 matching against the "
        "corpus's own ≥--spell-min-count vocabulary; off by default "
        "to preserve byte-identity with the reference)",
    )
    ap.add_argument("--spell-min-count", type=int, default=50)
    ap.add_argument(
        "--skew-report",
        default=None,
        metavar="PATH",
        help="append a per-(url, page) text-flow skew estimate table "
        "(skew_deg, n_votes — the ro/deskew geometry, "
        "functions/geometry.page_skew_angles) computed from the parsed "
        "runs of the PDF payloads to PATH; the report parses the PDF "
        "slice a second time, the extraction never builds runs",
    )
    ap.add_argument(
        "--links",
        default=None,
        metavar="PATH",
        help="also write the out-link table (url, dst_url, dst_host, "
        "anchor, nofollow — stages/links.extract_links) of the HTML "
        "pages to PATH; a separate map-only pass over the same pages "
        "(the link parse is ~10x cheaper than block segmentation, so "
        "it is not worth entangling with the golden-pinned extractor)",
    )
    ap.add_argument(
        "--wat",
        default=None,
        metavar="PATH",
        help="also write the WAT-style JSONL metadata sidecar (url, "
        "warc_ts, wat json: head metadata + sorted out-links — "
        "sources/formats.wat_sidecar) of the HTML pages to PATH; "
        "composes the --links and --head-meta harvests (computed "
        "internally, those flags need not be set)",
    )
    ap.add_argument(
        "--head-meta",
        default=None,
        metavar="PATH",
        help="also write the head-metadata table (url, title, "
        "description, canonical, og_title, n_meta, n_og — "
        "stages/metadata.harvest_metadata) of the HTML pages to PATH; "
        "a separate map-only pass bounded per document by head size "
        "(the parser aborts at the first body tag), kept out of the "
        "golden-pinned extractor for the same reason as --links",
    )
    ap.add_argument(
        "--title-suffix",
        default=None,
        metavar="PATH",
        help="also write the per-host title-suffix boilerplate ledger "
        "(host, n_titles, suffix, n_suffix, share_pm, is_boiler — "
        "stages/metadata.title_suffix_ledger, the oracled "
        "title_suffix_audit election) over the titled pages of the "
        "head-metadata harvest; reads the CUMULATIVE --head-meta "
        "table back when that sink exists",
    )
    ap.add_argument(
        "--eval-golden",
        default=None,
        metavar="PATH",
        help="parquet of golden (url, text) pairs; goes together with "
        "--eval-report: compare the CUMULATIVE extracted output "
        "(parquet read-back, so --output-format parquet) against it and "
        "write a one-row extraction-quality report (n_pages, n_exact, "
        "token-level micro P/R/F1 — stages/consist.extraction_report, "
        "the oracled extraction_eval metric): the regression gate for "
        "the byte-identity invariant, n_exact == n_pages when it holds",
    )
    ap.add_argument(
        "--eval-report",
        default=None,
        metavar="PATH",
        help="destination for the --eval-golden report",
    )
    ap.add_argument(
        "--anchors",
        default=None,
        metavar="PATH",
        help="also write the anchor-text election ledger (dst_url, "
        "n_inlinks, top_anchor, top_anchor_n — stages/links."
        "top_anchor_text, the oracled anchor_election shape): the "
        "most frequent non-empty anchor per destination with a "
        "deterministic tie-break; elects over the CUMULATIVE --links "
        "table when that sink exists (incremental replays describe "
        "the whole harvest), else over this run's harvested links",
    )
    ap.add_argument(
        "--reciprocity",
        default=None,
        metavar="PATH",
        help="also write the link-farm reciprocity ledger (host, "
        "n_neighbors, n_reciprocal, recip_pm, link_farm — stages/"
        "links.reciprocity_ledger over host_graph, the oracled "
        "reciprocal_link_audit shape): mutual-link density per host, "
        "the quid-pro-quo link-spam signal; same cumulative --links "
        "discipline as --anchors",
    )
    ap.add_argument(
        "--pubdate-out",
        default=None,
        metavar="PATH",
        help="also write the publish-date harvest (url, pub_date, "
        "date_tier — stages/metadata.harvest_publish_dates, the "
        "oracled publish_date_extract ladder: article:published_time "
        "meta > <time datetime> > prose byline) of the HTML pages to "
        "PATH; decode is the extraction's own charset tiers, the "
        "ladder is map-only JVM regexp",
    )
    ap.add_argument(
        "--wet-out",
        default=None,
        metavar="PATH",
        help="also export the extraction as WET conversion records "
        "(Common-Crawl interchange; sources/formats.to_wet_records) — "
        "raw text lines, readable back by curate_job --input-format wet",
    )
    ap.add_argument(
        "--revisit-out",
        default=None,
        metavar="PATH",
        help="also export WARC revisit pointer records for every "
        "capture whose payload digest repeats an earlier capture of "
        "the same url (identical-payload-digest storage dedup; "
        "sources/formats.warc_dedup_classify + "
        "to_warc_revisit_records, the oracled warc_revisit_dedup "
        "shape) — composes with --wet-out into the full archive "
        "story: one stored body per (url, digest), pointers for the "
        "rest",
    )
    ap.add_argument(
        "--sitemaps",
        default=None,
        metavar="PATH",
        help="parquet of fetched sitemap files (url, payload binary); "
        "parsed by sources/sitemap.read_sitemaps (urlset + "
        "sitemapindex, gzip-sniffing, corrupt-tolerant) into the "
        "url-discovery table written at --sitemap-out",
    )
    ap.add_argument(
        "--sitemap-out",
        default=None,
        metavar="PATH",
        help="destination for the parsed sitemap discovery table "
        "(sitemap_url, loc, lastmod, changefreq, priority, is_index)",
    )
    ap.add_argument(
        "--robots",
        default=None,
        metavar="PATH",
        help="parquet of fetched robots.txt files (url, payload "
        "binary); parsed by stages/robots.parse_robots (RFC 9309 "
        "groups + Crawl-delay + Sitemap records) into the rules "
        "ledger written at --robots-out",
    )
    ap.add_argument(
        "--robots-out",
        default=None,
        metavar="PATH",
        help="destination for the parsed robots rules ledger "
        "(robots_url, agent, kind, value, ord)",
    )
    ap.add_argument(
        "--coverage",
        default=None,
        metavar="PATH",
        help="with --sitemaps: also write the per-host sitemap-vs-"
        "crawl coverage ledger (stages/crawl_audit."
        "sitemap_coverage_urls) joining the input pages' urls "
        "against the parsed sitemap locs",
    )
    ap.add_argument(
        "--trap-audit",
        default=None,
        metavar="PATH",
        help="also write the per-host crawl-trap audit (stages/"
        "crawl_audit.url_trap_audit_urls) over the input pages' urls",
    )
    ap.add_argument(
        "--staleness",
        default=None,
        metavar="PATH",
        help="with --sitemaps: also write the per-host lastmod-driven "
        "re-crawl staleness ledger (stages/crawl_audit."
        "sitemap_staleness_urls) — urls whose declared lastmod is "
        "newer than the crawl's last fetch",
    )
    ap.add_argument(
        "--frontier-out",
        default=None,
        metavar="PATH",
        help="with --links: also write the politeness-paced next-wave "
        "fetch schedule (url, host, wave, offset_s) — harvested "
        "destinations not yet crawled, prioritized by distinct "
        "in-linking pages (stages/links.frontier_candidates) and "
        "paced by Crawl-delay when --robots is also given "
        "(stages/robots.crawl_delays + paced_schedule)",
    )
    ap.add_argument(
        "--frontier-agent",
        default="clarabot",
        help="crawler product token the Crawl-delay election honors "
        "(RFC 9309 group matching; default clarabot)",
    )
    ap.add_argument(
        "--soft404-audit",
        default=None,
        metavar="PATH",
        help="also write the per-host soft-404 ledger (stages/"
        "crawl_audit.soft404_audit) over the WHOLE extracted output "
        "(read back from --output, so --incremental reruns audit the "
        "full crawl); the title tier joins the cumulative --head-meta "
        "table when that sink is also configured",
    )
    ap.add_argument(
        "--set",
        dest="overrides",
        action="append",
        default=[],
        metavar="NAME=VALUE",
        help="rule-chain threshold override (config.ExtractConfig: "
        "min_text_len, link_density_max)",
    )
    args = ap.parse_args(argv)
    if bool(args.sitemaps) != bool(args.sitemap_out):
        ap.error("--sitemaps and --sitemap-out go together")
    if bool(args.robots) != bool(args.robots_out):
        ap.error("--robots and --robots-out go together")
    if args.coverage and not args.sitemaps:
        ap.error("--coverage joins against --sitemaps; pass both")
    if args.staleness and not args.sitemaps:
        ap.error("--staleness joins against --sitemaps; pass both")
    if args.soft404_audit and args.output_format != "parquet":
        ap.error("--soft404-audit reads the output back; needs "
                 "--output-format parquet")
    if bool(args.eval_golden) != bool(args.eval_report):
        ap.error("--eval-golden and --eval-report go together")
    if args.eval_golden and args.output_format != "parquet":
        ap.error("--eval-golden reads the output back; needs "
                 "--output-format parquet")
    if args.frontier_out and not args.links:
        ap.error("--frontier-out schedules the --links harvest; "
                 "pass both")
    if args.spell and args.format == "markup":
        ap.error(
            "--spell rebuilds block text and drops emphasis spans; "
            "use --format text"
        )
    if args.hqbin and args.engine:
        ap.error("--hqbin re-extracts with the default matcher; "
                 "not with --engine")
    if args.format != "text" and args.hqbin:
        ap.error("--hqbin re-extracts plain text; use --format text")
    if args.format == "markup" and args.struct_acts:
        ap.error(
            "--struct-acts rebuilds block text and drops emphasis "
            "spans; use --format text"
        )
    if args.patt_acts and not args.patterns:
        ap.error("--patt-acts edits the --patterns library; none given")
    if args.incremental and args.output_format != "parquet":
        ap.error(
            "--incremental anti-joins the parquet high-water mark; "
            "use --output-format parquet"
        )

    from clara_ocr_spark.config import ExtractConfig

    try:
        cfg = ExtractConfig.from_args(args.overrides)
    except ValueError as e:
        ap.error(str(e))

    from pyspark.sql import Observation

    from clara_ocr_spark.pipeline import _is_pdf_col, extract
    from clara_ocr_spark.plans.checkpoint import (
        append_increment,
        incremental_delta,
    )
    from clara_ocr_spark.sources.formats import read_pages_any, write_extracted
    from clara_ocr_spark.stages.consist import (
        append_metrics,
        assert_observed,
        partition_lineage,
    )

    spark = build_session()
    if args.input_format == "warc":
        from clara_ocr_spark.sources.formats import read_pages_warc

        pages = read_pages_warc(spark, args.input)
    else:
        pages = read_pages_any(spark, args.input, args.input_format)
    # The crawl audits (--coverage / --trap-audit) describe the WHOLE
    # crawl, so they must read the raw input pages: binding them to
    # the incremental delta would, on a rerun, anti-join away every
    # already-extracted url and overwrite the ledgers with near-empty
    # ones — a scheduler consuming the coverage gap would re-enqueue
    # the entire already-crawled site (review finding r5).
    audit_pages = pages
    n_audits = sum(
        map(bool, (args.coverage, args.staleness, args.trap_audit,
                   args.frontier_out))
    )
    if n_audits and (n_audits > 1 or args.input_format != "parquet"):
        # the audits only read (url, warc_ts); project and lazily
        # materialize ONCE when several audit sinks consume the input
        # or when the input is a WARC (each extra pass would re-run
        # the full binaryFile + record-parse just to group url
        # strings — review finding r5).  Single-audit parquet runs
        # keep the direct pruned columnar scan instead.
        audit_pages = audit_pages.select("url", "warc_ts").localCheckpoint(
            eager=False
        )
    if args.incremental:
        pages = incremental_delta(pages, args.output)

    patterns = (
        spark.read.parquet(args.patterns) if args.patterns else None
    )
    if args.patt_acts:
        from clara_ocr_spark.stages.patterns import apply_pattern_acts

        patterns = apply_pattern_acts(
            patterns, spark.read.parquet(args.patt_acts)
        )
    # the HTML harvests below (--links, --head-meta, …) skip PDF payloads
    dom_pages = pages.filter(~_is_pdf_col())

    # step_6 gate as a CollectMetrics observation: the violation sums
    # ride the output-write job itself, so the mapInPandas parse (the
    # dominant cost) executes ONCE per job instead of twice
    consist_obs = Observation()
    extracted = extract(
        pages,
        patterns,
        engine=args.engine,
        fmt=args.format,
        cfg=cfg,
        acts=spark.read.parquet(args.acts) if args.acts else None,
        struct_acts=(
            spark.read.parquet(args.struct_acts) if args.struct_acts else None
        ),
        spell_min_count=args.spell_min_count if args.spell else None,
        hqbin=args.hqbin,
        splitter=args.pdf_splitter,
        gate=consist_obs,
    )
    if args.hqbin:
        # output schema stays (url, text) so increments keep appending
        extracted = extracted.select("url", "text")
    if args.metrics or args.deskew or args.wet_out:
        # lineage/deskew/WET-export re-read `extracted`; cache it through the
        # write so those passes read the materialized increment
        # instead of re-running the parse (the same single-execution
        # discipline as the observe() gate).  The cached plan keeps
        # AQE's coalesced partitioning (see build_session), so the
        # write produces one file per coalesced partition and the
        # lineage rows below are exactly the written partitions
        extracted = extracted.persist()
    if args.output_format == "parquet":
        append_increment(extracted, args.output)  # writes _SUCCESS marker
    else:
        write_extracted(extracted, args.output, args.output_format)
    assert_observed(consist_obs)  # step_6 gate: fatal on violation
    if args.metrics:
        append_metrics(
            partition_lineage(extracted, args.run_id, "extract"), args.metrics
        )
    if args.deskew:
        from clara_ocr_spark.stages.calibrate import deskew_profile

        deskew_profile(extracted).write.mode("append").parquet(args.deskew)
    if args.wet_out:
        import pyspark.sql.functions as F

        from clara_ocr_spark.sources.formats import to_wet_records

        # warc_ts rides back in from the input by url, reduced to ONE
        # row per url first (a recrawl input carries several captures
        # per url — an unreduced join would fan every extracted row
        # out to duplicate WET records); latest capture wins
        ts_by_url = pages.groupBy("url").agg(
            F.max("warc_ts").alias("warc_ts")
        )
        to_wet_records(extracted.join(ts_by_url, "url")).write.mode(
            "append"
        ).text(args.wet_out)
    if args.revisit_out:
        import pyspark.sql.functions as F

        from clara_ocr_spark.sources.formats import (
            to_warc_revisit_records,
            warc_dedup_classify,
        )

        # digest over the RAW payload (the archive dedup unit — what
        # the crawler stored), never the extraction; map-only until
        # the (url, digest)-keyed classify.  This is a deliberate
        # SECOND pass over the input: persisting `pages` to avoid it
        # would cache raw payload bytes (the one thing that must
        # never be cached at 100 TB), while this pass projects only
        # (url, warc_ts, md5(html)) — parquet inputs prune to those
        # columns at the scan, and WARC inputs should land parquet
        # first per SCALE.md's ingest guidance
        caps = pages.select(
            "url", "warc_ts", F.md5(F.col("html")).alias("digest")
        )
        to_warc_revisit_records(warc_dedup_classify(caps)).write.mode(
            "append"
        ).text(args.revisit_out)
    if args.skew_report:
        from clara_ocr_spark.functions.geometry import page_skew_angles
        from clara_ocr_spark.stages.layout import parse_runs

        # the text path never builds runs, so this write parses the
        # PDF slice a second time (only when --skew-report is set)
        page_skew_angles(
            parse_runs(pages.filter(_is_pdf_col()))
        ).write.mode("append").parquet(args.skew_report)
    # --links/--head-meta/--wat share the two Arrow-batched HTML
    # harvests: build each DataFrame once and lazily localCheckpoint
    # it when two write actions will consume it, so the dominant
    # mapInPandas parse runs once per harvest, not once per sink
    # (review finding: --links --head-meta --wat used to parse the
    # corpus twice per harvest).
    links_df = meta_df = None
    if args.links or args.wat or args.anchors or args.reciprocity:
        from clara_ocr_spark.stages.links import extract_links

        links_df = extract_links(dom_pages)
        # one localCheckpoint when TWO OR MORE write actions will
        # consume the in-memory harvest (--anchors/--reciprocity
        # consume it only when there is no cumulative --links table
        # to read back)
        n_link_sinks = (
            bool(args.links)
            + bool(args.wat)
            + bool(args.anchors and not args.links)
            + bool(args.reciprocity and not args.links)
        )
        if n_link_sinks >= 2:
            links_df = links_df.localCheckpoint(eager=False)
    if args.head_meta or args.wat or args.title_suffix:
        from clara_ocr_spark.stages.metadata import harvest_metadata

        meta_df = harvest_metadata(dom_pages)
        # checkpoint when two or more write actions will consume the
        # in-memory harvest (--title-suffix consumes it only when
        # there is no cumulative --head-meta table to read back)
        n_meta_sinks = (
            bool(args.head_meta)
            + bool(args.wat)
            + bool(args.title_suffix and not args.head_meta)
        )
        if n_meta_sinks >= 2:
            meta_df = meta_df.localCheckpoint(eager=False)
    if args.links:
        links_df.write.mode("append").parquet(args.links)
    if args.head_meta:
        meta_df.write.mode("append").parquet(args.head_meta)
    if args.wat:
        from clara_ocr_spark.sources.formats import wat_sidecar

        # the wat record embeds url + ts — write it as raw text lines
        # (true JSONL), not .json() over the 3-col frame, which
        # double-encodes the record as an escaped string field
        wat_sidecar(dom_pages, links_df, meta_df).select(
            "wat"
        ).write.mode("append").text(args.wat)
    if args.anchors or args.reciprocity:
        # whole-crawl discipline when the cumulative --links sink
        # exists (it appends across --incremental runs): both ledgers
        # read everything harvested, never just this delta, and are
        # pure functions of the harvest (overwrite — the
        # --sitemap-out precedent).  ONE read shared by both sinks
        # (review finding: two independent spark.read.parquet calls
        # scanned the cumulative harvest twice when both flags ran).
        all_links = (
            spark.read.parquet(args.links) if args.links else links_df
        )
    if args.anchors:
        from clara_ocr_spark.stages.links import top_anchor_text

        top_anchor_text(all_links).write.mode("overwrite").parquet(
            args.anchors
        )
    if args.reciprocity:
        from clara_ocr_spark.stages.links import (
            host_graph,
            reciprocity_ledger,
        )

        reciprocity_ledger(host_graph(all_links)).write.mode(
            "overwrite"
        ).parquet(args.reciprocity)
    if args.pubdate_out:
        from clara_ocr_spark.stages.metadata import harvest_publish_dates

        # per-page harvest row, appended like --head-meta (an
        # --incremental delta adds its pages' rows)
        harvest_publish_dates(dom_pages).write.mode("append").parquet(
            args.pubdate_out
        )
    if args.title_suffix:
        import pyspark.sql.functions as F

        from clara_ocr_spark.stages.crawl_audit import _host, norm_host
        from clara_ocr_spark.stages.metadata import title_suffix_ledger

        # whole-crawl discipline: the cumulative --head-meta table
        # when that sink exists, else this run's harvest; untitled
        # pages say nothing about title boilerplate and are dropped
        # BEFORE the ledger so share_pm is a share of titled pages
        src = (
            spark.read.parquet(args.head_meta)
            if args.head_meta
            else meta_df
        )
        title_suffix_ledger(
            src.filter(F.col("title").isNotNull()).select(
                norm_host(_host(F.col("url"))).alias("host"), "title"
            )
        ).write.mode("overwrite").parquet(args.title_suffix)
    if args.eval_golden:
        from clara_ocr_spark.stages.consist import extraction_report

        # whole-crawl discipline (the --soft404-audit precedent):
        # grade the CUMULATIVE extracted output read back as a pruned
        # (url, text) scan, never just this run's delta; overwrite —
        # the report is a pure function of (output, golden)
        extraction_report(
            spark.read.parquet(args.eval_golden).select("url", "text"),
            spark.read.parquet(args.output).select("url", "text"),
        ).write.mode("overwrite").parquet(args.eval_report)
    if args.sitemaps:
        from clara_ocr_spark.sources.sitemap import read_sitemaps

        # overwrite, not append: the discovery table is a pure
        # function of the sitemaps input, and --incremental replays
        # (whose page extraction is a high-water-mark no-op) must not
        # stack duplicate copies of every row (review finding)
        discovered = read_sitemaps(spark.read.parquet(args.sitemaps))
        if args.coverage or args.staleness:
            # several sinks consume the parse: materialize it once
            discovered = discovered.localCheckpoint(eager=False)
        discovered.write.mode("overwrite").parquet(args.sitemap_out)
        if args.coverage:
            import pyspark.sql.functions as F

            from clara_ocr_spark.stages.crawl_audit import (
                sitemap_coverage_urls,
            )

            # audit_pages, not pages: the ledger describes the whole
            # crawl even when this run only extracts the delta
            sitemap_coverage_urls(
                audit_pages, discovered.filter(~F.col("is_index"))
            ).write.mode("overwrite").parquet(args.coverage)
        if args.staleness:
            import pyspark.sql.functions as F

            from clara_ocr_spark.stages.crawl_audit import (
                sitemap_staleness_urls,
            )

            sitemap_staleness_urls(
                audit_pages, discovered.filter(~F.col("is_index"))
            ).write.mode("overwrite").parquet(args.staleness)
    if args.robots:
        from clara_ocr_spark.stages.robots import parse_robots

        # overwrite like --sitemap-out: the ledger is a pure function
        # of the robots input; incremental replays must not stack rows
        parse_robots(spark.read.parquet(args.robots)).write.mode(
            "overwrite"
        ).parquet(args.robots_out)
    if args.frontier_out:
        import pyspark.sql.functions as F

        from clara_ocr_spark.stages.links import frontier_candidates
        from clara_ocr_spark.stages.robots import (
            crawl_delays,
            paced_schedule,
        )

        # whole-crawl discipline: the schedule reads the CUMULATIVE
        # link harvest back (the --links sink appends across
        # incremental runs) and anti-joins the full input pages, so a
        # delta rerun still schedules against everything known
        cand = frontier_candidates(
            spark.read.parquet(args.links), audit_pages
        )
        if args.robots:
            from clara_ocr_spark.stages.robots import robots_gate

            parsed = spark.read.parquet(args.robots_out)
            # compliance before politeness: candidates the elected
            # RFC 9309 group blocks never enter the schedule
            cand = robots_gate(
                cand, parsed, args.frontier_agent
            ).filter(F.col("verdict") != "blocked").drop("verdict")
            delays = crawl_delays(parsed, args.frontier_agent)
        else:
            delays = cand.select(
                "host", F.lit(None).cast("double").alias("delay_s")
            ).limit(0)
        paced_schedule(cand, delays).write.mode("overwrite").parquet(
            args.frontier_out
        )
    if args.trap_audit:
        from clara_ocr_spark.stages.crawl_audit import url_trap_audit_urls

        url_trap_audit_urls(audit_pages).write.mode("overwrite").parquet(
            args.trap_audit
        )
    if args.soft404_audit:
        from clara_ocr_spark.stages.crawl_audit import soft404_audit

        # whole-crawl discipline (same as --coverage/--trap-audit):
        # read the CUMULATIVE extracted output back — a pruned
        # (url, text) columnar scan — and, when the head harvest sink
        # exists, its cumulative table for the title tier; never the
        # in-memory delta frames
        soft404_audit(
            spark.read.parquet(args.output),
            spark.read.parquet(args.head_meta)
            if args.head_meta
            else None,
        ).write.mode("overwrite").parquet(args.soft404_audit)
    if args.metrics or args.deskew or args.wet_out:
        extracted.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
