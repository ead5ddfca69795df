"""Capture-table source formats beyond parquet, and line-oriented
sinks.

The reference reads its own raster container formats (`pbm2bm`,
`loadpgm` — pbm2cl.c, SURVEY §2.1); the web-scale analogue is reading
the SAME logical pages table from whatever container a crawler
emitted: parquet (the native layout), JSONL (the interchange format
most crawl/annotation tooling speaks), or CSV.  The binary ``html``
payload cannot ride a text container raw, so JSONL/CSV carry it
base64-encoded in an ``html_b64`` column — encode/decode happens in
JVM expressions at the boundary, and everything downstream sees the
identical PAGES schema.

Sinks mirror this: parquet for the warehouse, JSONL for handoff to
training-data tooling (one JSON object per line, the shape tokenizer
pipelines consume).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: the pages table as a Spark schema (the ``read_warc`` output shape)
PAGES_SPARK_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

#: text-container twin of PAGES_SPARK_SCHEMA — html travels
#: base64-encoded
PAGES_TEXT_SCHEMA = (
    "url string, warc_ts timestamp, html_b64 string, "
    "text string, lang string"
)


def _decode(df: DataFrame) -> DataFrame:
    return df.select(
        "url",
        "warc_ts",
        F.unbase64("html_b64").alias("html"),
        "text",
        "lang",
    )


def read_pages_any(
    spark: SparkSession, path: str, format: str = "parquet"
) -> DataFrame:
    """pages table from parquet / jsonl / csv — one logical schema.

    Scale notes: parquet scans get column pruning + predicate pushdown
    for free; JSONL/CSV are schema-on-read with an explicit schema (no
    sampling pass over 100 TB) and split by line, so they parallelize
    the same way — but they are ingest formats: first touch should
    land them into the bucketed parquet/Iceberg layout (SCALE.md)."""
    if format == "parquet":
        return spark.read.parquet(path)
    if format == "jsonl":
        return _decode(spark.read.schema(PAGES_TEXT_SCHEMA).json(path))
    if format == "csv":
        # multiLine: the text column carries embedded newlines, which
        # the CSV writer quotes — but a multiLine CSV file is NOT
        # line-splittable, so each file becomes one task. CSV is the
        # compatibility path; JSONL (one object per line, splittable)
        # is the text container that parallelizes at scale.
        return _decode(
            spark.read.schema(PAGES_TEXT_SCHEMA)
            .option("header", "true")
            .option("multiLine", "true")
            .option("escape", '"')
            .csv(path)
        )
    raise ValueError(f"unknown pages format: {format}")


def write_pages_text(df: DataFrame, path: str, format: str) -> None:
    """Write a pages table to a text container (base64 html)."""
    enc = df.select(
        "url",
        "warc_ts",
        F.base64("html").alias("html_b64"),
        "text",
        "lang",
    )
    if format == "jsonl":
        enc.write.mode("overwrite").json(path)
    elif format == "csv":
        # RFC-4180 doubled-quote escaping on BOTH sides (Spark's
        # writer default is backslash-escape, which its own multiLine
        # reader with escape='"' would misparse on embedded quotes)
        (
            enc.write.mode("overwrite")
            .option("header", "true")
            .option("escape", '"')
            .csv(path)
        )
    else:
        raise ValueError(f"unknown pages format: {format}")


def wat_sidecar(
    pages: DataFrame, links: DataFrame, head_meta: DataFrame
) -> DataFrame:
    """Compose the WAT-style metadata sidecar: one JSON object per
    page carrying its head metadata and out-links — the companion
    table Common-Crawl ships NEXT TO the WARC payloads so downstream
    consumers (graph builders, snippet services) never re-parse HTML.

    Inputs are the two map-only harvest stages
    (`stages/links.extract_links`, `stages/metadata.harvest_metadata`)
    plus the pages table for coverage (a page with no links and no
    head still gets a sidecar row).  Plan shape: three url-keyed
    Exchanges (the pages and head-metadata per-url reductions plus
    the out-link collect_set — set dedup runs INSIDE that aggregate,
    map-side partial) — each carrying only urls, anchors and short
    strings; payloads never enter any of it, and the joins reuse the
    aggregates' url partitioning.  At 100 TB, land the three harvests
    bucketed by url (``bucketBy``, one shared bucket count) and the
    compose becomes zero-Exchange; url is
    ~unique, so no salt either way.  Output: (url, warc_ts,
    wat:string) where wat is deterministic JSON (struct field order is
    fixed by construction; collect_list order is pinned by
    array_sort on (dst_url, anchor)) and embeds url AND warc_ts — the
    record is self-contained, so the job writes the wat column as raw
    text lines (true JSONL, one WAT record per line), never
    DataFrameWriter.json over the 3-col frame, which would
    double-encode the record as an escaped string field.

    Recrawl reduction (ADVICE r4): a recrawl input carries several
    captures per url, and composing them unreduced emits duplicate WAT
    records each with every capture's links stacked under one url.
    One sidecar row per url (latest capture's ts — the --wet-out
    ts_by_url pattern), and the outlink list is the DISTINCT union of
    captures' links (without a capture key on the link rows the exact
    latest-capture set is unrecoverable; exact within-page repeats of
    one (dst, anchor, nf) triple collapse too, which is what the
    graph consumers downstream want anyway)."""
    # collect_set, not distinct + collect_list: the set dedup happens
    # INSIDE the url-keyed aggregation (partial map-side), so the link
    # leg pays one Exchange, not a second full-table shuffle on the
    # (url, dst, anchor, nf) composite just to dedup first (review
    # finding r5); array_sort over the set pins deterministic order
    outlinks = links.groupBy("url").agg(
        F.array_sort(
            F.collect_set(
                F.struct(
                    F.col("dst_url").alias("u"),
                    F.col("anchor").alias("a"),
                    F.col("nofollow").alias("nf"),
                )
            )
        ).alias("outlinks")
    )
    # same recrawl reduction on the metadata leg — two captures of a
    # url would fan the join back out; max(struct) picks one capture's
    # head deterministically (no capture ts rides on the harvest rows)
    meta = head_meta.groupBy("url").agg(
        F.max(
            F.struct(
                "title", "description", "canonical", "og_title",
                "n_meta", "n_og",
            )
        ).alias("head")
    )
    return (
        pages.groupBy("url")
        .agg(F.max("warc_ts").alias("warc_ts"))
        .join(meta, "url", "left")
        .join(outlinks, "url", "left")
        .select(
            "url",
            "warc_ts",
            F.to_json(
                F.struct(
                    "url",
                    # UTC regardless of session timezone — same
                    # hardening as to_wet_records' WARC-Date; a bare
                    # date_format would mislabel session-local wall
                    # time with a 'Z' suffix.
                    F.date_format(
                        F.to_utc_timestamp(
                            F.col("warc_ts"), F.current_timezone()
                        ),
                        "yyyy-MM-dd'T'HH:mm:ss'Z'",
                    ).alias("ts"),
                    F.col("head"),
                    F.coalesce(
                        "outlinks",
                        F.array().cast(
                            "array<struct<u:string,a:string,nf:boolean>>"
                        ),
                    ).alias("outlinks"),
                )
            ).alias("wat"),
        )
    )


def to_wet_records(extracted: DataFrame) -> DataFrame:
    """(url, warc_ts, text) → one WET ``conversion`` record per row in
    a single ``value`` string column, ready for ``.write.text()`` —
    the EXPORT side of the WET story (``read_pages_warc`` +
    ``--input-format wet`` are the read side): after extraction, ship
    the corpus back out in the Common-Crawl interchange shape so any
    WET-speaking consumer (including this repo's own reader — the
    round-trip test) can use it without parquet.

    Pure JVM string algebra, map-only, zero shuffle; Content-Length is
    ``octet_length`` (utf-8 OCTETS, exactly what ``.text()`` writes —
    a char count would corrupt the framing on any non-ASCII doc).
    A text payload containing 'WARC/1.0' lookalikes is safe because
    readers slice by Content-Length before re-searching.  The text
    writer's per-row '\\n' lands between records, where WARC parsers
    skip bytes anyway.

    Framing hardening (review pass): a CR/LF inside the url would
    truncate the header block before Content-Length and turn the body
    into forged records, so the url is stripped of [\\r\\n]; a NULL
    url/warc_ts must not NULL the whole concat (Spark concat is
    NULL-propagating) and silently drop the page — they coalesce to
    '' / the epoch sentinel; and WARC-Date renders in UTC REGARDLESS
    of the session timezone (``to_utc_timestamp(ts,
    current_timezone())`` — the writer twin of the reader's
    session-tz correction at the ``warc_ts`` ingest side)."""
    body = F.coalesce(F.col("text"), F.lit(""))
    url = F.regexp_replace(
        F.coalesce(F.col("url"), F.lit("")), r"[\r\n]", ""
    )
    ts = F.coalesce(
        F.date_format(
            F.to_utc_timestamp(F.col("warc_ts"), F.current_timezone()),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        ),
        F.lit("1970-01-01T00:00:00Z"),
    )
    # WARC-Record-ID is MANDATORY for every record per WARC/1.0 §5.2;
    # spec-strict consumers (warcio) reject records without it.  A
    # urn:uuid derived from md5(raw url \n ts \n md5(body)) keeps the
    # plan pure column algebra AND makes re-exports reproducible (same
    # page content, same id) — the spec only requires global
    # uniqueness, not RFC 4122 version semantics.  The BODY digest is
    # load-bearing: a recrawl export can emit several records for one
    # url under one stamped ts (review finding r5), and the RAW url
    # (pre [\r\n] strip) keeps urls differing only in stripped chars
    # from colliding.
    rid = F.md5(
        F.concat(
            F.coalesce(F.col("url"), F.lit("")),
            F.lit("\n"),
            ts,
            F.lit("\n"),
            F.md5(body),
        )
    )
    record_id = F.concat(
        F.lit("<urn:uuid:"),
        F.substring(rid, 1, 8), F.lit("-"),
        F.substring(rid, 9, 4), F.lit("-"),
        F.substring(rid, 13, 4), F.lit("-"),
        F.substring(rid, 17, 4), F.lit("-"),
        F.substring(rid, 21, 12), F.lit(">"),
    )
    return extracted.select(
        F.concat(
            F.lit("WARC/1.0\r\nWARC-Type: conversion\r\n"),
            F.lit("WARC-Record-ID: "),
            record_id,
            F.lit("\r\nContent-Type: text/plain\r\n"),
            F.lit("WARC-Target-URI: "),
            url,
            F.lit("\r\nWARC-Date: "),
            ts,
            F.lit("\r\nContent-Length: "),
            F.octet_length(body).cast("string"),
            F.lit("\r\n\r\n"),
            body,
            F.lit("\r\n\r\n"),
        ).alias("value")
    )


def warc_dedup_classify(captures: DataFrame) -> DataFrame:
    """Identical-payload-digest storage dedup for a multi-capture
    crawl — the Heritrix/Common-Crawl rule that lets a WARC writer
    emit a tiny ``revisit`` record instead of re-storing the body:
    per (url, digest), the EARLIEST capture is the ``response``; every
    later capture of the same unchanged payload is a ``revisit``
    referencing the original's timestamp.

    Input: ``captures(url, warc_ts, digest, …)`` — ``warc_ts`` is any
    orderable capture key (timestamp, CDX position, fetch sequence)
    and ``digest`` the payload digest ``recrawl_delta`` compares; all
    other columns pass through.  Output: input columns plus
    ``wtype`` ('response' | 'revisit') and ``refers_to_ts`` (the
    referenced original's warc_ts, NULL on responses).  Two captures
    carrying the same (url, digest, warc_ts) both classify
    ``response`` — digest equality means identical payloads, so the
    tie is harmless and needs no window.  Captures with a NULL url or
    digest have no dedup key and classify ``response`` too (nothing
    to point at) — never silently dropped.

    Scale shape: one groupBy(url, digest) min + one equi-join back on
    the SAME key — two Exchanges total, both carrying (url, digest,
    ts) triples (the aggregate build and the probe co-partition; the
    join itself adds none); payloads never shuffle.  Url-digest cardinality is
    ~|captures|, no hot key (a hot URL spreads over its digests;
    identical boilerplate payloads across urls do NOT collide because
    url is in the key).  The oracle-checked catalog twin is
    ``queries.warc_revisit_dedup``."""
    first = captures.groupBy("url", "digest").agg(
        F.min("warc_ts").alias("_first_ts")
    )
    # LEFT join: a NULL url/digest never equi-matches, and an inner
    # join would silently DROP those captures (review finding — e.g.
    # md5(html) is NULL on conversion records without payloads).  A
    # capture without a dedup key cannot point at anything, so it
    # classifies 'response' via the NULL _first_ts branch below.
    out = captures.join(first, ["url", "digest"], "left")
    is_first = F.col("_first_ts").isNull() | (
        F.col("warc_ts") == F.col("_first_ts")
    )
    return out.select(
        *[c for c in captures.columns],
        F.when(is_first, "response").otherwise("revisit").alias("wtype"),
        F.when(~is_first, F.col("_first_ts")).alias("refers_to_ts"),
    )


def to_warc_revisit_records(classified: DataFrame) -> DataFrame:
    """``warc_dedup_classify`` revisit rows → one header-only WARC
    ``revisit`` record per row in a single ``value`` string column
    (ready for ``.write.text()``) — the storage-dedup EXPORT side of
    the WET story: the archive keeps one ``response`` body per
    (url, digest) and ships these pointers for every later identical
    capture (WARC/1.1 §6.7.2, identical-payload-digest profile).
    Records declare ``WARC/1.1`` — ``WARC-Refers-To-Date`` and this
    profile URI are 1.1 vocabulary; a WARC file may mix record
    versions, and this repo's reader (like warcio) handles both.
    Response rows pass through untouched by the caller (they carry
    bodies; this composer only renders the pointer records).

    Same column-algebra hardening as ``to_wet_records``: urls stripped
    of CR/LF (header-forgery guard), NULL url/ts coalesced instead of
    NULL-propagating the record away, WARC-Date in UTC regardless of
    session timezone, and a deterministic md5-derived urn:uuid
    WARC-Record-ID (mandatory per §5.2).  The payload digest renders
    with an explicit ``md5:`` label (the spec's labelled-digest ABNF).
    Content-Length: 0 — readers (including this repo's own, which
    slices by Content-Length and keeps only response/conversion
    types) skip them without ever touching a body."""
    rev = classified.filter(F.col("wtype") == "revisit")
    url = F.regexp_replace(
        F.coalesce(F.col("url"), F.lit("")), r"[\r\n]", ""
    )

    def utc(c: F.Column) -> F.Column:
        return F.coalesce(
            F.date_format(
                F.to_utc_timestamp(c, F.current_timezone()),
                "yyyy-MM-dd'T'HH:mm:ss'Z'",
            ),
            F.lit("1970-01-01T00:00:00Z"),
        )

    ts, ref = utc(F.col("warc_ts")), utc(F.col("refers_to_ts"))
    rid = F.md5(
        F.concat(
            F.coalesce(F.col("url"), F.lit("")),
            F.lit("\n"), ts, F.lit("\nrevisit\n"),
            F.coalesce(F.col("digest"), F.lit("")),
        )
    )
    record_id = F.concat(
        F.lit("<urn:uuid:"),
        F.substring(rid, 1, 8), F.lit("-"),
        F.substring(rid, 9, 4), F.lit("-"),
        F.substring(rid, 13, 4), F.lit("-"),
        F.substring(rid, 17, 4), F.lit("-"),
        F.substring(rid, 21, 12), F.lit(">"),
    )
    return rev.select(
        F.concat(
            F.lit("WARC/1.1\r\nWARC-Type: revisit\r\n"),
            F.lit("WARC-Record-ID: "), record_id,
            F.lit(
                "\r\nWARC-Profile: http://netpreserve.org/warc/1.1/"
                "revisit/identical-payload-digest\r\n"
            ),
            F.lit("WARC-Target-URI: "), url,
            F.lit("\r\nWARC-Date: "), ts,
            F.lit("\r\nWARC-Refers-To-Date: "), ref,
            F.lit("\r\nWARC-Payload-Digest: md5:"),
            F.coalesce(F.col("digest"), F.lit("")),
            F.lit("\r\nContent-Length: 0\r\n\r\n\r\n\r\n"),
        ).alias("value")
    )


def write_warc(rows, path: str, gzip_members: bool = False) -> None:
    """Write WARC/1.0 records (test/fixture writer — one file per
    call; a crawler writes these, we only need to READ them at scale).
    ``rows``: dicts with url, warc_ts, and html (response records) or
    text (conversion records, the WET shape). ``gzip_members=True``
    writes one gzip member per record — the production .warc.gz
    layout."""
    import gzip as _gzip

    with open(path, "wb") as f:
        for r in rows:
            if r.get("html") is not None:
                wtype, payload = "response", bytes(r["html"])
            else:
                wtype, payload = "conversion", (r.get("text") or "").encode(
                    "utf-8"
                )
            ts = r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
            head = (
                "WARC/1.0\r\n"
                f"WARC-Type: {wtype}\r\n"
                f"WARC-Target-URI: {r['url']}\r\n"
                f"WARC-Date: {ts}\r\n"
                f"Content-Length: {len(payload)}\r\n"
                "\r\n"
            ).encode()
            rec = head + payload + b"\r\n\r\n"
            f.write(_gzip.compress(rec) if gzip_members else rec)


_GZIP_MAGIC = b"\x1f\x8b"


def _ungzip_members(data: bytes) -> bytes:
    """Concatenate every gzip member of a .warc.gz file (the
    production layout: one member per record, so a reader can seek to
    any record offset; stdlib zlib walks members via unused_data).

    Tolerant like every reader here: a CORRUPT member (gzip magic
    followed by a bad header or deflate stream — routine in real
    crawl archives) raises zlib.error from decompress(), which must
    salvage the members already decoded instead of crashing the whole
    split (the sitemap parser's contract, same bug class)."""
    import zlib

    out = []
    while data[:2] == _GZIP_MAGIC:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out.append(d.decompress(data))
        except zlib.error:
            break  # corrupt member: keep the records already decoded
        data = d.unused_data
        if not d.eof:  # truncated member: keep what decoded
            break
    return b"".join(out)


def _parse_warc_bytes(data: bytes):
    """Yield (url, iso_ts, payload, warc_type) per WARC/1.0 or
    WARC/1.1 record of interest — ``response`` (html bytes, the WARC
    crawl shape) and ``conversion`` (extracted text, the WET sidecar
    shape); other types (revisit pointers, warcinfo, …) are skipped by
    Content-Length slicing.  Payloads may contain anything, including
    'WARC/1.0' lookalikes.  Gzipped input (.warc.gz / .wet.gz,
    per-record members) is inflated first.  Tolerant-reader contract:
    non-UTF-8 header bytes decode with replacement and a malformed
    Content-Length falls back to 0 (scan on from the header block) —
    hostile archive bytes must never crash a split."""
    if data[:2] == _GZIP_MAGIC:
        data = _ungzip_members(data)
    pos = 0
    while True:
        start = data.find(b"WARC/1.", pos)
        if start < 0:
            return
        line_end = data.find(b"\r\n", start)
        if line_end < 0:
            return
        if data[start:line_end] not in (b"WARC/1.0", b"WARC/1.1"):
            pos = start + 7  # lookalike (WARC/1.5…): keep scanning
            continue
        hdr_end = data.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            return
        headers = {}
        for line in (
            data[start:hdr_end]
            .decode("utf-8", errors="replace")
            .split("\r\n")[1:]
        ):
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            n = max(int(headers.get("content-length", "0")), 0)
        except ValueError:
            n = 0
        body = data[hdr_end + 4 : hdr_end + 4 + n]
        pos = hdr_end + 4 + n
        wtype = headers.get("warc-type")
        if wtype in ("response", "conversion"):
            yield (
                headers.get("warc-target-uri", ""),
                headers.get("warc-date", ""),
                body,
                wtype,
            )


def read_pages_warc(spark: SparkSession, path: str) -> DataFrame:
    """pages table from WARC files — the crawler-native container
    (Common Crawl ships ~64k WARC files per crawl; one Spark task per
    file is the natural parallelism, and the binary payload never
    leaves the parsing task, the same discipline as the html column
    in the extraction pipeline).

    WARC/1.0 with Content-Length framing, plain or with per-record
    gzip members (.warc.gz / .wet.gz — stdlib zlib walks the members;
    the Spark shape — binaryFile scan → mapInPandas record parse →
    PAGES schema — is unchanged either way). Two record kinds map to
    the pages schema:

    * ``response`` (WARC crawl files): payload → ``html``; text/lang
      come back NULL — extraction derives them;
    * ``conversion`` (WET extracted-text sidecars): payload →
      ``text`` (UTF-8), html NULL — the pre-extracted shape, usable
      directly by the curation pipeline or as an extraction oracle.

    Timezone: WARC-Date is UTC; Spark reads a tz-naive pandas value as
    *session-zone* wall time, so the instant is first converted to the
    session timezone and then tz-stripped (ADVICE r2 — a bare UTC
    strip shifted warc_ts by the session offset on non-UTC sessions,
    diverging from the parquet/jsonl readers)."""
    import pandas as pd

    session_tz = spark.conf.get("spark.sql.session.timeZone")
    files = spark.read.format("binaryFile").load(path)

    def parse(batches):
        for pdf in batches:
            out = {
                "url": [], "warc_ts": [], "html": [],
                "text": [], "lang": [],
            }
            for content in pdf["content"]:
                for url, ts, body, wtype in _parse_warc_bytes(
                    bytes(content)
                ):
                    out["url"].append(url)
                    out["warc_ts"].append(
                        pd.to_datetime(ts, utc=True)
                        .tz_convert(session_tz)
                        .tz_localize(None)
                        if ts
                        else pd.NaT
                    )
                    if wtype == "response":
                        out["html"].append(body)
                        out["text"].append(None)
                    else:  # conversion (WET): pre-extracted text
                        out["html"].append(None)
                        out["text"].append(
                            body.decode("utf-8", errors="replace")
                        )
                    out["lang"].append(None)
            yield pd.DataFrame(out)

    return files.select("content").mapInPandas(
        parse, schema=PAGES_SPARK_SCHEMA
    )


def write_extracted(
    df: DataFrame, path: str, format: str = "parquet"
) -> None:
    """Extracted/curated output sink: parquet (warehouse) or JSONL
    (one object per line — the handoff shape tokenizer pipelines
    consume). Append mode in both, so incremental runs keep
    accumulating."""
    if format == "parquet":
        df.write.mode("append").parquet(path)
    elif format == "jsonl":
        df.write.mode("append").json(path)
    else:
        raise ValueError(f"unknown output format: {format}")
