"""Stage D½ — spelling correction (beyond the reference's stub).

The reference reserves step_12 for dictionary-driven spelling
correction but ships it empty (clara.c:3232-3280 is a hook that never
edits a transliteration).  This stage implements what that hook
describes — correct uncertain tokens against a trusted vocabulary —
re-expressed for the DOM domain and OFF BY DEFAULT so the byte-identity
contract with the reference output is untouched (the pipeline goldens
pin the default path).

Algorithm: SymSpell-style delete-1 neighborhood matching, the scalable
form of a broadcast-dictionary probe:

1. vocabulary = tokens appearing ≥ ``min_count`` times in content
   blocks (the corpus is its own dictionary — the same bootstrap as
   ``bootstrap_patterns``);
2. candidate wrong→right pairs via an EQUI-join on shared delete-1
   variants (never an all-pairs levenshtein cross join);
3. exact ``levenshtein = 1`` verify on the bounded candidate set;
4. per-wrong election by (vocab frequency desc, word asc) —
   deterministic, same discipline as ``elect_labels``;
5. application: posexplode block text → left-join the correction map
   → re-assemble in token order.  Token order rides the posexplode
   index, so the rebuild is exact.

Scale shape: the variant explode multiplies distinct tokens (not
corpus tokens) by ~len+1; the correction map is tiny (wrong tokens
only) and broadcast into the application join; block text is
re-assembled in the SAME partitioning as the explode (url, zone, pos
keys), costing one shuffle.

The catalog entry ``queries.spell_correct`` computes through
``build_vocab`` and ``elect_corrections``, so its DuckDB oracle checks
this module's candidate/election logic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

#: tokens shorter than this never get corrected (a 3-letter word is
#: one delete away from too many neighbors to trust)
MIN_WORD_LEN = 4
MAX_WORD_LEN = 16
TOKEN_RE = f"^[a-z]{{{MIN_WORD_LEN},{MAX_WORD_LEN}}}$"


def _variants(df: DataFrame, tok: str = "tok") -> DataFrame:
    """Explode each token into its delete-1 neighborhood ∪ itself."""
    t = F.col(tok)
    var = F.array_append(
        F.transform(
            F.sequence(F.lit(1), F.length(t)),
            lambda i: F.concat(
                t.substr(F.lit(1), i - 1), t.substr(i + 1, F.lit(100))
            ),
        ),
        t,
    )
    return df.select("*", F.explode(var).alias("var"))


def build_vocab(blocks: DataFrame, min_count: int = 50) -> DataFrame:
    """(tok, c): lowercase alpha tokens of content-classified block
    text with corpus frequency ≥ min_count."""
    src = blocks
    if "label" in blocks.columns:
        src = blocks.filter(F.col("label") == "content")
    return (
        src.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
        )
        .filter(F.col("tok").rlike(TOKEN_RE))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
    )


def correction_map(
    blocks: DataFrame, min_count: int = 50
) -> DataFrame:
    """(wrong, suggestion): rare tokens (frequency < min_count, i.e.
    NOT vocabulary) that have exactly one elected levenshtein-1
    vocabulary neighbor."""
    vocab = build_vocab(blocks, min_count)
    src = blocks
    if "label" in blocks.columns:
        src = blocks.filter(F.col("label") == "content")
    rare = (
        src.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
        )
        .filter(F.col("tok").rlike(TOKEN_RE))
        .distinct()
        .join(vocab, "tok", "left_anti")
    )
    return elect_corrections(rare, vocab).select("wrong", "suggestion")


def elect_corrections(rare: DataFrame, vocab: DataFrame) -> DataFrame:
    """(wrong, suggestion, c): for each ``rare(tok)`` token, the
    levenshtein-1 ``vocab(tok, c)`` neighbor with the highest count
    (ties → smallest word).  Candidates come from an equi-join on
    shared delete-1 variants; levenshtein verifies only those."""
    cand = (
        _variants(rare)
        .withColumnRenamed("tok", "wrong")
        .join(
            _variants(vocab).select(
                F.col("tok").alias("suggestion"), "c", "var"
            ),
            "var",
        )
        .filter(F.levenshtein("wrong", "suggestion") == 1)
        .select("wrong", "suggestion", "c")
        .distinct()
    )
    w = Window.partitionBy("wrong").orderBy(F.desc("c"), "suggestion")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def correct_spelling(
    blocks: DataFrame, min_count: int = 50
) -> DataFrame:
    """Blocks with corrected ``text``: every whitespace token equal
    (case-insensitively) to a mapped wrong token is replaced by its
    suggestion; everything else — punctuation-bearing tokens, case,
    inter-token spacing collapsed to single spaces only WITHIN
    corrected blocks — is preserved for untouched blocks, which pass
    through byte-identical (the correction join marks corrected rows,
    and only those are re-assembled)."""
    fixes = F.broadcast(correction_map(blocks, min_count))
    key_cols = ["url", "zone", "pos"]
    toks = blocks.select(
        *key_cols,
        F.posexplode(F.split("text", r"\s+")).alias("idx", "word"),
    )
    fixed = (
        toks.join(fixes, F.lower(toks["word"]) == fixes["wrong"], "left")
        .select(
            *key_cols,
            "idx",
            F.coalesce("suggestion", "word").alias("word"),
            F.col("suggestion").isNotNull().alias("hit"),
        )
    )
    rebuilt = fixed.groupBy(*key_cols).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("_new_text"),
        F.max("hit").alias("_changed"),
    )
    out = blocks.join(rebuilt.filter("_changed"), key_cols, "left")
    out = out.withColumn("text", F.coalesce("_new_text", "text"))
    # keep the step_6 invariants true on corrected rows (delete-1
    # suggestions change text length): text_len == length(text) and
    # link_text_len <= text_len are consistency-gate predicates
    if "text_len" in blocks.columns:
        out = out.withColumn(
            "text_len",
            F.when(F.col("_new_text").isNotNull(), F.length("text"))
            .otherwise(F.col("text_len")),
        )
        if "link_text_len" in blocks.columns:
            out = out.withColumn(
                "link_text_len", F.least("link_text_len", "text_len")
            )
    return out.drop("_new_text", "_changed")
