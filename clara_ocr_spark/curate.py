"""Composed training-data curation pipeline over extracted text.

The capstone composition the 100 TB deployment runs after extraction:

    extract(…) → text features → quality gate → near-dup
    canonicalization → curated + rejected(reason) tables

This is the corpus-pipeline analogue of Clara's doubt triage
(step_14: rank what you don't trust, clara.c:3403-3528) plus the
preferred-symbol partition (keep one representative per equivalence
class, common.h:612-631): every input url lands in exactly ONE of the
two outputs, with a deterministic reason when rejected.

Everything is built from the text-signature primitives in
``functions/textsig`` (``_tokens`` / ``_grams`` / ``_minhash_sig`` /
``_min_label_components``), the same ones the oracle-checked catalog
entries call — the catalog entries are the unit-verified pieces; this
module is their composition, and it imports nothing from the catalog.

Scale notes: features are per-row expressions (no shuffle); the
quality gate is a filter; near-dup is the minhash → band equi-join →
Jaccard verify → min-label components chain (shuffle budget analyzed
in SCALE.md); canonical election is lexicographic-min url per cluster
(deterministic under any partitioning).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .config import SetOverrides
from .functions.textsig import (
    WIN_K,
    _band_candidates,
    _dup_2gram_frac,
    _gram5_hashes,
    _jaccard_pairs,
    _min_label_components,
    _minhash_bands,
    _recall_bands,
    _set_jaccard,
    _positional_lines_arr,
    _tokens,
    _top_word_frac,
    bigram_nll,
    dsir_logweights,
    spark_hash60,
    winnow_pairs,
)

REASON_TOO_SHORT = "too_short"
REASON_TOP_WORD = "repetitive_top_word"
REASON_DUP_2GRAM = "repetitive_2gram"
REASON_DUPLICATE = "duplicate"
REASON_CONTAMINATED = "contaminated"
REASON_LM = "lm_perplexity"


@dataclass(frozen=True)
class CurateConfig(SetOverrides):
    """Tunables of the curation gate (checkvar-style, like
    ExtractConfig)."""

    min_tokens: int = 5
    top_word_max: float = 0.4
    dup_2gram_max: float = 0.6
    jaccard_tau: float = 0.9
    # 0 = off; N>0 rewrites each doc dropping lines that occur in >= N
    # docs corpus-wide BEFORE the quality gate (--set line_dedup_min_df=3)
    line_dedup_min_df: int = 0
    # 1 = count line frequency PER HOST instead of corpus-wide: the
    # jusText/site-template reading of boilerplate — one site's
    # nav/footer repeats across ITS pages, and a line every host uses
    # ("all rights reserved") should only die where it is template,
    # not globally (--set line_dedup_per_host=1; needs min_df > 0)
    line_dedup_per_host: int = 0
    # 0 = off; > 0 rejects docs whose mean bigram NLL under the
    # reference LM exceeds it (`lm_perplexity` — the CCNet tail cut;
    # --set lm_nll_max=9.0, ref corpus via --lm-ref or the content-
    # hash %5 self-slice)
    lm_nll_max: float = 0.0
    # 0 = off; N>0 ALSO pairs docs whose winnowing-fingerprint
    # containment reaches N per-mille of the smaller set (the
    # run-sensitive dup signal — catches a page embedded verbatim in
    # a larger page, which token-Jaccard dilutes below tau) and lets
    # clusters close transitively across both notions
    # (--set winnow_dedup_pm=500)
    winnow_dedup_pm: int = 0

    def __post_init__(self) -> None:
        # the per-host switch modifies line dedup; without min_df the
        # stage never runs and the switch would be a silent no-op —
        # fail loud like the job's other flag-pairing checks
        if self.line_dedup_per_host and not self.line_dedup_min_df:
            raise ValueError(
                "line_dedup_per_host=1 needs line_dedup_min_df > 0"
            )


def drop_frequent_lines(
    docs: DataFrame, min_df: int = 3, per_host: bool = False
) -> DataFrame:
    """Corpus-level boilerplate line removal (the CCNet/RefinedWeb
    pass, as a curation stage): rewrite each doc's ``text`` dropping
    every positional 8-token line whose lowercased form occurs in
    >= ``min_df`` documents corpus-wide.  With ``per_host`` the
    frequency key becomes (host, line) — the jusText/site-template
    reading: a line dies only on hosts where it repeats (>= min_df of
    THAT host's docs), so a phrase many sites use once each survives
    everywhere.  The host column widens the frequency shuffle by one
    short string; the Zipf host skew is immaterial because the agg
    key is (host, line-hash), which line diversity spreads — unlike
    host-only aggregates, no salt is needed.  Same line unit as the
    oracle-checked ``line_dedup_corpus`` catalog query
    (functions/textsig._positional_lines_arr, shared); lines
    are built from the ORIGINAL-case tokens so surviving text keeps
    its casing, while frequency is counted on the lowercased 60-bit
    line hash (8 bytes per line through both shuffles, never text).

    Whitespace inside a doc is normalized (tokens re-joined with
    single spaces) — the documented contract of the rewrite.  Docs
    whose every line is boilerplate come back with empty text and
    fall to the quality gate's ``too_short`` reason downstream.  All
    non-text columns pass through untouched (url-keyed rejoin)."""
    key = ["host", "h"] if per_host else ["h"]
    lines = (
        docs.select("url", _tokens(F.col("text")).alias("ws"))
        .select("url", F.posexplode(_positional_lines_arr()).alias(
            "pos", "line"))
        .select("url", "pos", "line",
                spark_hash60(F.lower(F.col("line"))).alias("h"))
    )
    if per_host:
        from .stages.segment import with_host

        lines = with_host(lines)
    boiler = (
        lines.groupBy(*key)
        .agg(F.countDistinct("url").alias("n_docs"))
        .filter(F.col("n_docs") >= min_df)
        .select(*key)
    )
    rebuilt = (
        lines.join(boiler, key, "left_anti")
        .groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("dedup_text")
        )
    )
    return (
        docs.join(rebuilt, "url", "left")
        .withColumn("text", F.coalesce("dedup_text", F.lit("")))
        .drop("dedup_text")
    )


def text_features(extracted: DataFrame) -> DataFrame:
    """(url, text) → + n_tokens, top_word_frac, dup_2gram_frac.
    Pure higher-order array expressions, zero shuffle — the SAME
    expressions the oracle-checked ``repetition_filter`` catalog
    entry uses (functions/textsig._top_word_frac / _dup_2gram_frac)."""
    toks = _tokens(F.lower(F.col("text")))
    return extracted.select(
        "*",
        F.size(toks).alias("n_tokens"),
        _top_word_frac(toks).alias("top_word_frac"),
        _dup_2gram_frac(toks).alias("dup_2gram_frac"),
    )


def repair_text_encoding(extracted: DataFrame) -> DataFrame:
    """Repair UTF-8-as-cp1252 mojibake baked into the SOURCE documents
    ("Ã©" for "é", "â€™" for "'", whole Cyrillic pages as "Ð¿..." —
    damage the publisher's CMS stored, which extraction preserves by
    design because the byte-identity contract decodes the original
    bytes faithfully).  The standard CCNet-style curation fixer, run
    before features so the gate and dedup see repaired text — two
    mojibake copies of one page dedup against each other only after
    both repair to the same string.

    Plan shape: mapInPandas (Arrow-batched, the input_hint's
    sanctioned Python shape), map-only, zero shuffle, schema =
    input + encoding_repaired:boolean.  The repair
    (functions/mojibake.fix_mojibake) is conservative: a round is
    accepted only when the re-encode is bytewise cp1252-able, decodes
    as STRICT UTF-8, and strictly reduces the marker count — clean
    text ("São Paulo") is untouched; up to 3 rounds unwind
    double-encoding."""
    import pandas as pd
    from pyspark.sql.types import BooleanType, StructField, StructType

    from .functions.mojibake import fix_mojibake

    schema = StructType(
        extracted.schema.fields
        + [StructField("encoding_repaired", BooleanType(), False)]
    )

    def batches(it):
        for pdf in it:
            fixed = pdf["text"].map(
                lambda s: fix_mojibake(s) if isinstance(s, str) else None
            )
            # NULL-safe change mask: pandas elementwise ``!=`` reads
            # None != None as True, so compare pairwise instead
            changed = [
                f is not None and f != t
                for f, t in zip(fixed, pdf["text"])
            ]
            pdf = pdf.assign(encoding_repaired=changed, text=fixed)
            yield pdf

    return extracted.mapInPandas(batches, schema=schema)


def normalize_text(extracted: DataFrame, form: str = "NFKC") -> DataFrame:
    """Unicode-normalize the text column (C4-style NFKC by default:
    fullwidth forms fold to ASCII, compatibility ligatures expand,
    combining sequences compose) — the canonicalization big pipelines
    run before tokenization, and the reason NFC-vs-NFD variants of
    one page dedup as one document.  Opt-in at curation (extraction
    stays byte-identical to the reference by contract).

    Map-only Arrow-batched pass, schema-preserving, NULL-safe;
    ``form`` ∈ {NFC, NFD, NFKC, NFKD} per unicodedata.normalize."""
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")

    def batches(it):
        for pdf in it:
            pdf = pdf.assign(
                text=pdf["text"].map(
                    lambda s: unicodedata.normalize(form, s)
                    if isinstance(s, str)
                    else None
                )
            )
            yield pdf

    return extracted.mapInPandas(batches, schema=extracted.schema)


def encoding_damage_audit(extracted: DataFrame) -> DataFrame:
    """Per-host encoding-damage ledger over extracted text: how many
    docs carry mojibake markers and how dense the damage is — the
    corpus-health dual of the extraction-side `charset_sniff` audit
    (that one reads the DECODE tier used on the original bytes; this
    one reads damage the source itself shipped).  Pure JVM column
    algebra (regexp_count, no Python), one map-side-partial groupBy;
    marker regex is the single source of truth shared with the Python
    fixer (functions/mojibake.MOJIBAKE_JAVA_RX)."""
    from .functions.mojibake import MOJIBAKE_JAVA_RX
    from .stages.segment import with_host

    n_marks = F.regexp_count(
        F.coalesce(F.col("text"), F.lit("")), F.lit(MOJIBAKE_JAVA_RX)
    )
    per = with_host(extracted).select(
        "host", n_marks.cast("bigint").alias("n_marks")
    )
    n = F.count(F.lit(1))
    return (
        per.groupBy("host")
        .agg(
            n.cast("bigint").alias("n_docs"),
            F.sum((F.col("n_marks") > 0).cast("bigint"))
            .cast("bigint")
            .alias("n_damaged"),
            F.sum("n_marks").cast("bigint").alias("n_marks"),
        )
        .withColumn(
            "damaged_pm",
            F.expr("(1000 * n_damaged) div n_docs").cast("bigint"),
        )
    )


def quality_reason(cfg: CurateConfig) -> F.Column:
    """First failing rule wins (ordered F.when chain — the classify
    rule-chain discipline); NULL = passes the gate.  The LM rule is
    appended only when enabled: the ``lm_nll`` column exists only
    then, and a doc with no bigrams scores NULL (no evidence), which
    the when-chain passes through to the heuristic verdict."""
    r = (
        F.when(F.col("n_tokens") < cfg.min_tokens, F.lit(REASON_TOO_SHORT))
        .when(F.col("top_word_frac") > cfg.top_word_max, F.lit(REASON_TOP_WORD))
        .when(
            F.col("dup_2gram_frac") > cfg.dup_2gram_max,
            F.lit(REASON_DUP_2GRAM),
        )
    )
    if cfg.lm_nll_max:
        r = r.when(F.col("lm_nll") > cfg.lm_nll_max, F.lit(REASON_LM))
    return r


def lm_nll(docs: DataFrame, ref: DataFrame) -> DataFrame:
    """(url, text) × reference corpus (text) → (url, lm_nll): mean
    bigram NLL under the add-0.1-smoothed LM trained on ``ref`` — the
    `ngram_lm_score` catalog core (functions/textsig.bigram_nll)
    applied at the job boundary.  Docs with < 2 tokens emit
    no row (left-join to NULL upstream)."""
    d = docs.select("url", _tokens(F.lower(F.col("text"))).alias("ws"))
    r = ref.select(_tokens(F.lower(F.col("text"))).alias("ws"))
    return bigram_nll(d, r, ["url"]).withColumnRenamed("nll", "lm_nll")


def dsir_weights(curated: DataFrame, target: DataFrame) -> DataFrame:
    """Per-url DSIR log importance weight of every curated doc against
    a target-domain sample (text column) — the `dsir_importance`
    catalog core (functions/textsig.dsir_logweights) as a job
    sidecar: the resampling key for target-matched corpus selection.
    O(1)-size broadcast model; token-less docs score NULL."""
    d = curated.select(
        "url", F.explode(_tokens(F.lower(F.col("text")))).alias("w")
    )
    t = target.select(
        F.explode(_tokens(F.lower(F.col("text")))).alias("w")
    )
    perdoc = dsir_logweights(d, t, ["url"])
    return curated.select("url").join(perdoc, "url", "left")


def winnow_dup_pairs(docs: DataFrame, min_pm: int) -> DataFrame:
    """(url, text) → (i_id, j_id) pairs whose winnowing-fingerprint
    containment reaches ``min_pm`` per-mille of the smaller selected
    set — the RUN-sensitive dup signal (shared substrings of
    ≥ 11 normalized chars are guaranteed a shared fingerprint), the
    complement of the vocabulary-sensitive MinHash tier: a page that
    embeds another page verbatim inside much more text has low token
    Jaccard but high containment.  ``functions/textsig.winnow_pairs``
    is the chain, shared with the oracle-checked ``winnow_near_dup``
    catalog entry; its df ≤ FP_MAX_DF hot-fingerprint cap bounds every
    join bucket (boilerplate fingerprints are not dup signal and an
    f-doc fingerprint contributes f² pairs)."""
    return winnow_pairs(docs, "url", min_pm).select("i_id", "j_id")


def near_dup_canonical(
    docs: DataFrame, tau: float, winnow_pm: int = 0
) -> DataFrame:
    """(url, text) → (url, canonical_url) for every url in a near-dup
    cluster (canonical = lexicographic-min url, deterministic).
    MinHash over word-2-gram shingles → 2 band buckets (equi-join
    candidates) → exact token-set Jaccard ≥ tau → min-label
    components.  The oracle-checked ``dedup_canonicalize`` catalog
    entry computes through this function.
    Docs in no cluster are absent from the result.

    With ``winnow_pm > 0`` the winnowing-containment pairs
    (``winnow_dup_pairs``) are UNIONED with the Jaccard pairs before
    the components pass, so clusters close transitively across BOTH
    similarity notions (vocabulary overlap OR shared runs) and the
    canonical election stays a single deterministic min-label step —
    multi-signal dedup with one cluster id per family."""
    toks = _tokens(F.lower(F.col("text")))
    b = docs.select(
        "url", F.explode(_minhash_bands(toks)).alias("bucket")
    ).localCheckpoint(eager=False)
    cand = _band_candidates(b, "url")
    ws = docs.select(
        "url", F.array_distinct(F.array_sort(toks)).alias("toks")
    ).localCheckpoint(eager=False)
    pairs = _jaccard_pairs(cand, ws, "url", tau)
    if winnow_pm:
        pairs = pairs.unionByName(winnow_dup_pairs(docs, winnow_pm))
    comp = _min_label_components(pairs)
    return comp.select(
        F.col("node").alias("url"), F.col("cluster").alias("canonical_url")
    )


def exact_dup_canonical(docs: DataFrame) -> DataFrame:
    """(url, text) → (url, exact_canonical) by content hash, canonical
    = lexicographic-min url per identical text. The cheap first tier
    of production dedup: one hash groupBy collapses byte-identical
    docs before any minhash work (at web scale the exact-dup rate is
    high — mirrors, re-crawls — so this shrinks the expensive tier's
    input substantially).

    Skew shape (VERDICT r1 #6): groupBy + join, NOT a window over
    partitionBy(h). At web scale, boilerplate-identical texts (and
    empty docs) form massive hot hash values; a window materializes
    every row of a hot key in one task, while groupBy applies partial
    (map-side) aggregation so each partition contributes one row per
    key to the shuffle, and AQE skew-join handles the re-attach."""
    hashed = docs.select("url", F.md5(F.col("text")).alias("h"))
    canon = hashed.groupBy("h").agg(F.min("url").alias("exact_canonical"))
    return hashed.join(canon, "h").select("url", "exact_canonical")


def contaminated_urls(
    docs: DataFrame, eval_texts: DataFrame
) -> DataFrame:
    """urls of ``docs(url, text)`` sharing at least one word-5-gram
    with ``eval_texts(text)`` — the benchmark-decontamination probe
    (same shingle unit and portable hash as the oracle-checked
    ``decontaminate`` catalog query; both call
    functions/textsig._gram5_hashes).

    Scale shape: the eval side is benchmark-sized at any corpus scale,
    so its distinct hashed shingle set broadcasts; the corpus side
    probes it map-side and only matching (url, shingle) rows reach the
    distinct."""
    ev = (
        eval_texts.select(F.explode(_gram5_hashes()).alias("g")).distinct()
    )
    return (
        docs.select("url", F.explode(_gram5_hashes()).alias("g"))
        .join(F.broadcast(ev), "g")
        .select("url")
        .distinct()
    )


def fuzzy_contaminated_urls(
    docs: DataFrame, eval_texts: DataFrame, tau: float = 0.5
) -> DataFrame:
    """urls of ``docs(url, text)`` whose token set NEAR-duplicates any
    ``eval_texts(text)`` document — the fuzzy complement of
    ``contaminated_urls``'s exact 5-gram probe (a benchmark answer
    pasted into a crawl page rarely survives byte-identical; GPT-3's
    appendix-C n-gram overlap and the Gopher/Llama document-level
    near-match decontamination are this shape).  Returns
    (url, jaccard) with the best match's token-set Jaccard ≥ tau.

    Banding is 4 bands × 1 row (`functions/textsig._recall_bands`,
    shared with the oracle-checked
    `fuzzy_decontaminate` catalog twin), NOT the 2×2
    `_minhash_bands` the dedup tier uses: dedup wants precision at
    τ ≈ 0.8+, decontamination wants RECALL at τ ≈ 0.5, where 4×1
    catches a pair with 1-(1-s)⁴ ≈ 94% vs ≈ 34% for 2×2; the extra
    false candidates die in the exact verify, bounded by the
    broadcast eval side.

    Scale shape: the eval side is benchmark-sized at any corpus
    scale, so its band keys BROADCAST; candidate generation is a
    map-side hash probe, the exact Jaccard verify runs in the same
    stage (cheap-filter → expensive-verify), and the only Exchange is
    the per-url max over matching id pairs.  Token arrays never
    shuffle."""
    toks = _tokens(F.lower(F.col("text")))
    tr = docs.select(
        "url",
        F.array_distinct(toks).alias("wsd"),
        F.posexplode(_recall_bands(toks)).alias("band", "bucket"),
    )
    ev = eval_texts.select(
        F.array_distinct(toks).alias("ev_wsd"),
        F.posexplode(_recall_bands(toks)).alias("band", "bucket"),
    )
    cand = tr.join(F.broadcast(ev), ["band", "bucket"])
    jac = _set_jaccard(F.col("wsd"), F.col("ev_wsd"))
    return (
        cand.select("url", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= tau)
        .groupBy("url")
        .agg(F.max("jaccard").alias("jaccard"))
    )


def curate(
    extracted: DataFrame,
    cfg: CurateConfig = CurateConfig(),
    eval_texts: DataFrame | None = None,
    gate_obs=None,
    lm_ref: DataFrame | None = None,
    fuzzy_tau: float | None = None,
) -> tuple:
    """extracted(url, text) → (curated, rejected).

    curated(url, text, n_tokens): quality-passing, one representative
    per duplicate family. rejected(url, reason): everything else, with
    the first failing rule or ``duplicate``. The two partition the
    input urls exactly (asserted in tests — the consistency-gate
    discipline of step_6): both are filters of ONE decision relation,
    (url, text, n_tokens, reason) with one row per input url and
    reason NULL when curated, built as left joins onto the gated rows
    and persisted (retry-safe: a lost block recomputes from lineage).
    The first write materializes it; the second reads the cache, so
    dedup runs once per call however many outputs are written.

    Dedup is two-tier, the production shape: exact (hash groupBy,
    cheap, collapses byte-identical docs) then near (minhash/LSH over
    the exact representatives only — the expensive tier never sees
    redundant identical inputs). Canonicals compose: a doc's final
    canonical is its exact representative's near-dup canonical.

    With ``eval_texts``, quality-passing docs sharing a word-5-gram
    with the eval set are rejected as ``contaminated`` BEFORE dedup,
    so a contaminated doc can never be elected canonical for a clean
    family (quality reasons still win when both apply — the gate runs
    first).  ``fuzzy_tau`` additionally rejects docs whose token set
    NEAR-matches an eval doc at Jaccard ≥ tau
    (fuzzy_contaminated_urls — catches the paste-mutations the exact
    5-gram probe misses; opt-in because it is a recall/precision
    trade the operator owns).

    With ``cfg.line_dedup_min_df > 0``, corpus-frequent boilerplate
    lines are stripped from every doc FIRST (drop_frequent_lines), so
    the quality gate and both dedup tiers see deboilerplated text —
    docs that were only boilerplate fall out as ``too_short``.

    With ``cfg.lm_nll_max > 0``, docs whose mean bigram NLL under the
    reference LM exceeds the bound are rejected as ``lm_perplexity``
    (the CCNet tail cut).  The LM trains on ``lm_ref`` (an in-domain
    corpus — CCNet's Wikipedia side) or, absent one, on the content-
    hash %5 self-slice — deterministic under re-partitioning and
    re-crawls, and scoring the corpus against its own sample makes
    the gate an out-of-distribution cut rather than a domain cut.
    Heuristic reasons win when both apply (the LM rule sits last in
    the when-chain); LM scoring sees the SAME text the gate sees
    (post line-dedup, via the features checkpoint)."""
    if cfg.line_dedup_min_df:
        extracted = drop_frequent_lines(
            extracted,
            cfg.line_dedup_min_df,
            per_host=bool(cfg.line_dedup_per_host),
        )
    feats = text_features(extracted).localCheckpoint(eager=False)
    if cfg.lm_nll_max:
        ref = (
            lm_ref
            if lm_ref is not None
            else feats.filter(spark_hash60(F.col("text")) % 5 == 0).select(
                "url", "text"
            )
        )
        # re-checkpoint after the join: the LM training aggregates and
        # the (w1, w2) scoring shuffle must run ONCE, not once per
        # write action (the same single-execution discipline as
        # cont/reps below — only feats was checkpointed above)
        feats = feats.join(
            lm_nll(feats.select("url", "text"), ref), "url", "left"
        ).localCheckpoint(eager=False)
    gated = feats.withColumn("reason", quality_reason(cfg))
    if gate_obs is not None:
        # Input-count observation for the caller's consistency gate,
        # attached ABOVE the features checkpoint: a CollectMetrics node
        # below a localCheckpoint is compiled into the checkpointed RDD
        # and never appears in any downstream QueryExecution, so an
        # Observation on `extracted` silently never fills (VERDICT r3
        # item 6 found this the hard way).  It sits below the decision
        # persist, upstream of its joins: the first write streams every
        # gated row through it while building the cache (filters are
        # not pushed through CollectMetrics).  So n_in counts the gate's
        # input, and the caller's n_cur + n_rej == n_in still catches a
        # decision join that loses or duplicates a url.
        gated = gated.observe(gate_obs, F.count(F.lit(1)).alias("n_in"))
    passing = gated.filter(F.col("reason").isNull())
    cont = None
    if eval_texts is not None:
        cont = contaminated_urls(passing.select("url", "text"), eval_texts)
        if fuzzy_tau is not None:
            # fuzzy tier (opt-in): docs whose token set NEAR-matches
            # an eval doc are contaminated too — catches the
            # paste-mutation the exact 5-gram probe can miss; both
            # probes broadcast the eval side, so the union costs one
            # more map-side pass, never a corpus shuffle
            cont = cont.unionAll(
                fuzzy_contaminated_urls(
                    passing.select("url", "text"), eval_texts, fuzzy_tau
                ).select("url")
            ).distinct()
        cont = cont.localCheckpoint(eager=False)
        passing = passing.join(cont, "url", "left_anti")

    # tier 1: exact duplicates by content hash
    exact = exact_dup_canonical(passing.select("url", "text"))
    reps = passing.join(exact, "url").filter(
        F.col("exact_canonical") == F.col("url")
    ).localCheckpoint(eager=False)

    # tier 2: near-duplicates among the exact representatives (with
    # cfg.winnow_dedup_pm, the run-sensitive winnowing pairs join the
    # Jaccard pairs before the components pass)
    near = near_dup_canonical(
        reps.select("url", "text"), cfg.jaccard_tau,
        winnow_pm=cfg.winnow_dedup_pm,
    )
    rep_final = reps.join(near, "url", "left").select(
        F.col("url").alias("rep_url"),
        F.coalesce("canonical_url", "url").alias("final_canonical"),
    )

    # the decision: left joins onto `gated` (the url-keyed ones first,
    # so they share one partitioning) and one coalesce — first failing
    # gate reason, then contaminated, then duplicate; NULL = curated.
    # Persisted once: both outputs are filters of it.
    decision, reasons = gated, [F.col("reason")]
    if cont is not None:
        decision = decision.join(
            cont.withColumn("cont", F.lit(REASON_CONTAMINATED)), "url", "left"
        )
        reasons.append(F.col("cont"))
    decision = decision.join(exact, "url", "left").join(
        rep_final, F.col("exact_canonical") == F.col("rep_url"), "left"
    )
    reasons.append(
        F.when(F.col("final_canonical") != F.col("url"), REASON_DUPLICATE)
    )
    decision = decision.select(
        "url", "text", "n_tokens", F.coalesce(*reasons).alias("reason")
    ).persist()
    return (
        decision.filter(F.col("reason").isNull()).drop("reason"),
        decision.filter(F.col("reason").isNotNull()).select("url", "reason"),
    )


def assign_split(curated: DataFrame) -> DataFrame:
    """+ ``split`` ∈ {train, val, test} (80/10/10), the leakage-safe
    rule of the `leakage_safe_split` catalog query: the split is a
    deterministic pure function of the CONTENT hash (60-bit md5 prefix
    mod 10), never of url, position, partition, or run — so re-crawls,
    shard re-orders, and byte-identical copies that survived upstream
    in some other corpus slice all land in the same split.  Map-only;
    composes after dedup, which already guarantees the curated table
    itself holds one copy per content family."""
    h = spark_hash60(F.col("text")) % 10
    return curated.withColumn(
        "split",
        F.when(h < 8, "train").when(h == 8, "val").otherwise("test"),
    )


def domain_mixture(
    curated: DataFrame, reg_rules: DataFrame | None = None
) -> DataFrame:
    """Per-host sampling weights over the CURATED table (the
    `domain_mix_weights` catalog rule applied at the job boundary):
    host parsed from the url, weight = floor(sqrt(docs)) — the
    alpha = 1/2 temperature reweighting — with exact per-mille share
    and upsample boost via integer division.

    With ``reg_rules`` (stages/domains.rules_df output), the mixture
    is keyed by REGISTERED DOMAIN (PSL eTLD+1) instead of raw host —
    the production-correct site key: every `*.blogspot.com` subdomain
    is a distinct publisher while `www.example.com` and `example.com`
    are one, and a raw-host mixture would respectively merge and split
    them.  The PSL attach runs on the per-host ROLLUP (|hosts| rows,
    the scale-right point per stages/domains), never on the corpus
    rows; hosts that resolve to NULL (the host IS a public suffix)
    keep the raw host as their key.  One map-side-partial
    groupBy to the host relation (materialized once); the totals are
    a 1-row broadcast cross join, never a window over an
    unpartitioned million-host frame."""
    from .stages.segment import with_host

    per = with_host(curated).groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    if reg_rules is not None:
        from .stages.domains import with_registered_domain

        # checkpoint the rollup BEFORE the PSL attach: the reg-domain
        # map's lineage re-derives distinct hosts from its input, so
        # an uncheckpointed rollup would scan + host-aggregate the
        # corpus twice inside one write action (review finding r5) —
        # materialized, both the mixture regroup and the map read the
        # |hosts|-sized rollup
        per = per.localCheckpoint(eager=False)
        per = (
            with_registered_domain(per, reg_rules)
            .select(
                F.coalesce("reg_domain", "host").alias("host"),
                "n_docs",
                "n_tokens",
            )
            .groupBy("host")
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            )
        )
    per = per.withColumn(
        "w", F.floor(F.sqrt(F.col("n_docs"))).cast("bigint")
    ).localCheckpoint(eager=False)
    tot = per.agg(F.sum("w").alias("tw"), F.sum("n_docs").alias("td"))
    return per.crossJoin(F.broadcast(tot)).select(
        "host",
        "n_docs",
        "n_tokens",
        F.expr("(1000 * w) div tw").cast("bigint").alias("share_pm"),
        F.expr("(1000 * w * td) div (tw * n_docs)")
        .cast("bigint")
        .alias("boost_pm"),
    )


def corpus_health(extracted: DataFrame) -> DataFrame:
    """One-call corpus-health report over an extracted/curated table
    (needs ``url`` + ``text``): the audits a 100 TB pipeline runs
    before a snapshot joins a training mix, composed from the same
    column algebra their oracle-checked catalog twins use
    (``zipf_slope``, ``heaps_law_fit``, ``good_turing_mass``,
    ``exact_quantiles``, ``ks_drift``).  Returns a LONG (metric,
    value) table:

    - ``n_docs`` / ``n_tokens`` — corpus size counters
    - ``zipf_slope`` / ``zipf_r2`` — rank-frequency head fit (clean
      text ≈ −1.0; spam floods and OCR noise bend it)
    - ``heaps_beta`` / ``heaps_r2`` — k-gram vocabulary-growth
      exponent over 32 url-hash batches (β → 0 = nothing new left)
    - ``gt_p0_pm`` / ``gt_chao1`` — Good–Turing missing mass and
      Chao1 richness over bigram types (unseen-content estimate)
    - ``len_p50`` / ``len_p90`` / ``len_p99`` — exact doc-length
      per-milles (counting sort on the bounded length domain)
    - ``ks_parity_d_pm`` — exact two-sample KS between url-hash
      parity halves of the length distribution (a self-consistency
      probe: iid halves should sit near 0; a big value means the
      corpus is ordered/partitioned in a length-correlated way)

    Scale notes: four pruned text scans (Zipf tokens, Heaps k-grams,
    Good–Turing bigrams, and ONE length histogram that also sums the
    token counts), all in one SQL execution — nothing is
    checkpointed.  The bounded histogram feeds the counters, the
    quantiles and the KS probe through one ordered window (running
    sums; its whole-frame sums are the totals) and one aggregate.
    Every window frame is bounded (top-512 head, 32 batches,
    |distinct lengths|); heads are TakeOrderedAndProject.  The extra
    passes are the honest cost of a whole-corpus audit sidecar (the
    --encoding-audit precedent)."""
    toks = _tokens(F.lower(F.col("text")))

    head = (
        extracted.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(512)
    )
    ranked = head.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("w"))),
    )
    zipf = ranked.agg(
        F.round(F.regr_slope(F.log("n"), F.log("rank")), 3).alias("s"),
        F.round(F.regr_r2(F.log("n"), F.log("rank")), 3).alias("r"),
    ).select(
        F.expr(
            "stack(2, 'zipf_slope', s, 'zipf_r2', r) as (metric, value)"
        )
    )

    # Stage-vs-oracle divergence, on purpose: the catalog twin
    # (heaps_law_fit) hashes EVERY overlapping k-gram with the
    # portable MD5 so DuckDB can replay it; this production sidecar
    # measures the same growth curve from NON-overlapping k-gram
    # blocks hashed with the JVM's xxhash64 — ~8x fewer grams and
    # ~10x cheaper per hash (44 s -> ~4 s on the 100k bench corpus),
    # with the exponent unchanged (block types grow like gram types)
    nm = extracted.select(
        F.expr("pmod(xxhash64(url), 32)").alias("b"),
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
        .alias("norm"),
    ).filter(F.length("norm") >= WIN_K)
    kg = (
        nm.select(
            "b",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.length("norm") - WIN_K + 1,
                    F.lit(WIN_K),
                )
            ).alias("i"),
            "norm",
        )
        .select(
            "b",
            F.expr(
                f"pmod(xxhash64(substring(norm, i, {WIN_K})),"
                " 1073741824)"
            ).alias("h30"),
        )
    )
    ft = kg.groupBy("h30").agg(F.min("b").alias("fb"))
    # grams per batch = Σ per-doc block counts, map-only from the
    # normalized lengths (the heaps_law_fit discipline): the k-gram
    # explode then has a single consumer and needs no checkpoint
    nb = nm.groupBy("b").agg(
        F.sum(
            F.expr(f"(length(norm) - {WIN_K}) div {WIN_K}") + 1
        ).alias("ng")
    )
    vb = ft.groupBy(F.col("fb").alias("b")).agg(
        F.count(F.lit(1)).alias("nv")
    )
    cum = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    growth = (
        nb.join(vb, "b", "left")
        .select("b", "ng", F.coalesce("nv", F.lit(0)).alias("nv"))
        .withColumn("cum_n", F.sum("ng").over(cum))
        .withColumn("cum_v", F.sum("nv").over(cum))
    )
    heaps = growth.agg(
        F.round(
            F.regr_slope(F.log("cum_v"), F.log("cum_n")), 3
        ).alias("s"),
        F.round(F.regr_r2(F.log("cum_v"), F.log("cum_n")), 3).alias("r"),
    ).select(
        F.expr(
            "stack(2, 'heaps_beta', s, 'heaps_r2', r) as (metric, value)"
        )
    )

    n1c = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, n1c),
        F.slice(toks, 2, n1c),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    gt = (
        extracted.select(F.explode(pairs).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("v"),
            F.sum("n").alias("nt"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("n") == 2, 1).otherwise(0)).alias("n2"),
        )
        .select(
            F.expr(
                "stack(2,"
                " 'gt_p0_pm', cast((1000 * n1) div nt as double),"
                " 'gt_chao1', cast(case when n2 > 0"
                "   then v + (n1 * n1) div (2 * n2)"
                "   else v + (n1 * (n1 - 1)) div 2 end as double)"
                ") as (metric, value)"
            )
        )
    )

    # ONE bounded length histogram serves the counters, the quantiles
    # and the KS probe: one ordered window gives the running sums, its
    # whole-frame sums the totals, and one aggregate reads them all
    parity = F.expr("pmod(xxhash64(url), 2)")
    h = extracted.groupBy(F.length("text").alias("v")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.size(toks)).alias("nt"),
        F.count(F.when(parity == 0, 1)).alias("ca"),
        F.count(F.when(parity == 1, 1)).alias("cb"),
    )
    run = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    whole = run.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    st = h.select(
        "v", "c", "nt",
        F.sum("c").over(run).alias("cum"),
        F.sum("ca").over(run).alias("cum_a"),
        F.sum("cb").over(run).alias("cum_b"),
        F.sum("c").over(whole).alias("n"),
        F.sum("ca").over(whole).alias("na"),
        F.sum("cb").over(whole).alias("nb"),
    )

    def quantile(pm: int) -> F.Column:
        # min length whose cumulative count reaches ceil(pm * n / 1000)
        reached = F.col("cum") >= F.expr(f"({pm} * n + 999) div 1000")
        return F.min(F.when(reached, F.col("v"))).cast("double")

    sized = st.agg(
        F.sum("c").alias("nd"),
        F.sum("nt").alias("nt"),
        quantile(500).alias("p50"),
        quantile(900).alias("p90"),
        quantile(990).alias("p99"),
        F.max(
            F.abs(F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na"))
        ).alias("md"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    ).select(
        "nd",
        F.expr(
            "stack(6, 'n_docs', cast(coalesce(nd, 0) as double),"
            " 'n_tokens', cast(nt as double),"
            " 'len_p50', p50, 'len_p90', p90, 'len_p99', p99,"
            " 'ks_parity_d_pm', cast(case when na > 0 and nb > 0"
            "   then (1000 * md) div (na * nb) else 0 end as double)"
            ") as (metric, value)"
        ),
    )
    # an empty corpus has no length quantiles (no rows), but still
    # reports its counters and a zero KS distance
    sized = sized.filter(
        F.col("nd").isNotNull() | ~F.col("metric").startswith("len_p")
    ).drop("nd")

    return sized.unionAll(zipf).unionAll(heaps).unionAll(gt)
