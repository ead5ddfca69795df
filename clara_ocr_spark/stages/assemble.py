"""Stage E — assembly: labeled blocks → extracted(url, text).

≈ Clara step_11 ``build`` + step_13 ``mk_page_output``
(build.c:940-1591; html.c:1986-2284): reading-order reassembly with
byte-exact join semantics — single ``\\n`` between non-empty content
blocks, order (zone asc, pos asc), the ``cmpln`` comparator made a
strict total order (build.c:389-509 + SURVEY §7 hard-part 2).

Implementation is 100 % JVM-side and join-free: the segment stage
emits a sentinel row (pos = -1) per document, so ONE aggregation
(one shuffle on url) yields every url — documents with zero content
blocks come out with ``text=''`` (the reference emits an empty page,
not no page; html.c:2255-2261 skips empty *lines*, not the document).
``array_sort(collect_list(struct))`` gives a deterministic order
inside the aggregate; ``array_join`` concatenates.  A mixed
extraction's PDF lines are blocks too (zone 0, ``pos`` their reading
order, ``stages/layout.pdf_blocks``), so the same aggregate assembles
both payload kinds.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..extract_rules import LABEL_CONTENT
from .segment import SENTINEL_POS


def assemble(blocks: DataFrame) -> DataFrame:
    """blocks(url, zone, pos, text, label) → extracted(url, text)."""
    kept = blocks.filter(
        ((F.col("label") == LABEL_CONTENT) & (F.col("text") != ""))
        | (F.col("pos") == SENTINEL_POS)
    )
    # struct field order (zone, pos, text) == sort key (zone, pos);
    # (zone, pos) is unique per url so text never breaks a tie. The
    # sentinel sorts first (pos=-1) and is dropped by the text filter.
    ordered = F.array_sort(F.collect_list(F.struct("zone", "pos", "text")))
    return kept.groupBy("url").agg(
        F.array_join(
            F.transform(
                F.filter(ordered, lambda s: s["text"] != ""),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("text")
    )


def assemble_markup(blocks: DataFrame) -> DataFrame:
    """Marked-up output variant (the reference's <I>/<B> emphasis
    spans from wprops word flags, build.c:585-685, emitted in HTML
    output html.c:1966-1973): identical block selection and reading
    order as :func:`assemble`, each block's text wrapped at its
    emphasis spans BEFORE assembly — all JVM-side (a fold over the
    span array; spans per block are few). Requires blocks from
    ``segment(..., with_emph=True)``. With no emphasis anywhere the
    output equals :func:`assemble` byte-for-byte (pinned by test)."""
    spans = F.transform(
        F.col("emph"),
        lambda x: F.struct(
            F.split(x, ":")[0].cast("int").alias("s"),
            F.split(x, ":")[1].cast("int").alias("e"),
            F.split(x, ":")[2].alias("k"),
        ),
    )
    pre = lambda k: (  # noqa: E731
        F.when(k == "i", F.lit("<i>"))
        .when(k == "b", F.lit("<b>"))
        .otherwise(F.lit("<b><i>"))
    )
    post = lambda k: (  # noqa: E731
        F.when(k == "i", F.lit("</i>"))
        .when(k == "b", F.lit("</b>"))
        .otherwise(F.lit("</i></b>"))
    )
    acc0 = F.struct(F.lit(0).alias("off"), F.lit("").alias("out"))
    marked = F.aggregate(
        spans,
        acc0,
        lambda a, sp: F.struct(
            sp["e"].alias("off"),
            F.concat(
                a["out"],
                F.substring(F.col("text"), a["off"] + 1, sp["s"] - a["off"]),
                pre(sp["k"]),
                F.substring(F.col("text"), sp["s"] + 1, sp["e"] - sp["s"]),
                post(sp["k"]),
            ).alias("out"),
        ),
        lambda a: F.concat(
            a["out"],
            F.substring(
                F.col("text"), a["off"] + 1, F.length("text") - a["off"]
            ),
        ),
    )
    return assemble(blocks.withColumn("text", marked))


def _html_escape(t: F.Column) -> F.Column:
    """&, <, > → entities ('&' first so entities aren't re-escaped)."""
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(t, "&", "&amp;"), "<", "&lt;"),
        ">",
        "&gt;",
    )


def assemble_full_html(blocks: DataFrame) -> DataFrame:
    """Full-document HTML output variant (reference OE_FULL_HTML,
    html.c:1966-1973: ``mk_page_output`` wraps the page in a complete
    HTML document whose header carries the per-page stats line —
    "Symbols: n/m (rate)", clara.c:3361-3381).  Here: one document per
    url, kept content blocks as ``<p>`` elements (entity-escaped),
    and the stats comment gives kept/total block counts.

    Same scale shape as :func:`assemble`: ONE aggregation on url, all
    counting/wrapping/escaping inside the aggregate — join-free,
    JVM-only."""
    ordered = F.array_sort(
        F.collect_list(F.struct("zone", "pos", "text", "label"))
    )
    agg = blocks.groupBy("url").agg(ordered.alias("_ord"))
    non_sentinel = F.filter(F.col("_ord"), lambda s: s["pos"] != SENTINEL_POS)
    kept = F.filter(
        non_sentinel,
        lambda s: (s["label"] == LABEL_CONTENT) & (s["text"] != ""),
    )
    body = F.array_join(
        F.transform(
            kept,
            lambda s: F.concat(
                F.lit("<p>"), _html_escape(s["text"]), F.lit("</p>")
            ),
        ),
        "\n",
    )
    doc = F.concat(
        F.lit("<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"),
        F.lit("<title>"),
        _html_escape(F.col("url")),
        F.lit("</title></head>\n<body>\n<!-- blocks: "),
        F.size(kept).cast("string"),
        F.lit("/"),
        F.size(non_sentinel).cast("string"),
        F.lit(" -->\n"),
        body,
        F.when(F.size(kept) > 0, F.lit("\n")).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return agg.select("url", doc.alias("html"))


#: accumulator/encap entry type for assemble_encap's offset fold
_ENC_BLOCK = (
    "zone int, pos int, label string, score int, start int, end int"
)


def assemble_encap(blocks: DataFrame) -> DataFrame:
    """Encapsulated output variant (reference OE_ENCAP_HTML /
    OE_DJVU-with-coordinates, html.c:1966-1973; block spans from
    ``wprops`` word flags, build.c:585-685): alongside the plain
    assembled ``text`` (byte-identical to :func:`assemble`, pinned by
    test), a ``blocks`` struct array gives every non-sentinel block's
    label, score, and its character span [start, end) INSIDE the
    assembled text — the coordinates the doubts-revision UI needs to
    highlight a block in place. Excluded blocks (boilerplate/noise/
    empty) carry start = end = -1.

    Same scale shape as assemble: ONE aggregation on url; the span
    arithmetic is a driver-free array fold inside the aggregate."""
    ordered = F.array_sort(
        F.collect_list(F.struct("zone", "pos", "text", "label", "score"))
    )
    agg = blocks.groupBy("url").agg(ordered.alias("_ord"))
    non_sentinel = F.filter(F.col("_ord"), lambda s: s["pos"] != SENTINEL_POS)
    is_kept = lambda s: (s["label"] == LABEL_CONTENT) & (s["text"] != "")  # noqa: E731
    text = F.array_join(
        F.transform(
            F.filter(non_sentinel, is_kept), lambda s: s["text"]
        ),
        "\n",
    )
    # offset fold: off = chars emitted so far (0 ⇔ nothing yet, since
    # kept texts are never empty); a kept block starts at off (first)
    # or off+1 (after a '\n' separator)
    acc0 = F.struct(
        F.lit(0).alias("off"),
        F.array().cast(f"array<struct<{_ENC_BLOCK}>>").alias("out"),
    )
    def step(acc, s):
        start = F.when(
            is_kept(s),
            F.when(acc["off"] == 0, F.lit(0)).otherwise(acc["off"] + 1),
        ).otherwise(F.lit(-1))
        end = F.when(is_kept(s), start + F.length(s["text"])).otherwise(
            F.lit(-1)
        )
        entry = F.struct(
            s["zone"].alias("zone"),
            s["pos"].alias("pos"),
            s["label"].alias("label"),
            s["score"].alias("score"),
            start.cast("int").alias("start"),
            end.cast("int").alias("end"),
        )
        return F.struct(
            F.when(is_kept(s), end).otherwise(acc["off"]).cast("int").alias("off"),
            F.concat(acc["out"], F.array(entry)).alias("out"),
        )

    folded = F.aggregate(non_sentinel, acc0, step)
    return agg.select(
        "url", text.alias("text"), folded["out"].alias("blocks")
    )
