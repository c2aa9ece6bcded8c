"""Cross-document line deduplication (boilerplate removal).

The CCNet-style cleaning step the per-document signals can't express:
navigation bars, cookie banners, copyright footers and other boilerplate
repeat VERBATIM across many documents of a crawl, and removing every line
that occurs in ``min_count``-or-more documents strips them corpus-wide in
one pass.  (Per-document repetition scoring — ``functions/text.py::
repetition_fraction`` — catches within-doc loops; this operator catches
across-doc duplication, which needs a global count.)

The reference validates single tables and has no analogue; this is
north-rule training-pipeline surface, same family as
``operators/dedup.py`` (reference: /root/reference/src/patito/validators.py
has no corpus-level operators).

Scale design (the corpus text never shuffles by line, and is scanned
exactly TWICE end to end):

1. Per-row line split + per-line 16-hex md5 prefixes stay in the row.
2. One ``(line_hash, doc, [indexes])`` aggregation is built from the text
   scan; its shuffle carries only hashes and small int lists, keyed by
   the high-cardinality ``(hash, doc)`` pair — a 30%-hot boilerplate line
   still spreads over every doc that contains it, so no reducer sees a
   hot single key.
3. BOTH the duplicated-line set (``groupBy(hash).count`` of that frame —
   the per-(hash,doc) grouping makes plain ``count`` a distinct-doc
   count, and map-side partial aggregation absorbs the boilerplate heat)
   and the removal-index lists (semi join against that set, then
   ``groupBy(doc)`` of int lists) hang off the SAME aggregated frame, so
   Spark's exchange-reuse materializes the text-scan→explode→aggregate
   subplan once (``ReusedExchange`` / AQE stage reuse — asserted by
   ``test_remove_duplicated_lines_two_scans``).  The duplicated set is
   small (distinct boilerplate lines ≪ corpus), so AQE broadcasts it.
4. The rewrite joins the removal-index lists back on the id (text scan
   #2) and rebuilds the cleaned text by SLICING the line array between
   sorted removal indexes — O(lines + removals) per document (each kept
   line is copied once), never the O(lines × removals) of a per-line
   membership probe, so boilerplate-heavy documents (the exact target of
   this operator) stay linear.  The corpus side of the join is co-located
   for free when the corpus is bucketed by id
   (``sources.io.write_bucketed_table``); the other side holds only int
   arrays for docs that actually contain boilerplate.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _materialize

#: 16-hex md5 prefix of the empty string: empty lines are excluded from the
#: duplicated-line set by this constant (cheaper than re-filtering the raw
#: line text after the hash-only aggregation), so blank-line paragraph
#: separators always survive the cleaning pass.
_EMPTY_LINE_HASH = "d41d8cd98f00b204"

#: Bookkeeping columns the implementation adds mid-plan; input frames must
#: not collide with them (same guard style as ``packing.pack_sequences``).
_INTERNAL_COLS = ("_pt_id", "_pt_idx", "_pt_h", "_pt_idxs", "_pt_rm",
                  "_pt_lines", "_pt_bounds")


def _split_lines(col, sep: str):
    # F.split takes a Java REGEX; the separator is a literal string, so
    # escape it (re.escape backslash-escapes every non-alphanumeric char,
    # which Java regexes accept as literals) — an unescaped '|' or '.'
    # would otherwise split between every character and silently corrupt
    # the cleaned corpus
    return F.split(col, re.escape(sep))


def _line_hash(col):
    # 16-hex md5 prefix: collision probability ~n²/2^65 — at 10^10 distinct
    # lines that is ~1e-2 expected collisions corpus-wide, each of which
    # could at worst drop one innocent line; acceptable for cleaning
    return F.substring(F.md5(col), 1, 16)


def remove_duplicated_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 2,
    sep: str = "\n",
    out_col: str = "text_clean",
) -> DataFrame:
    """Strip every line that occurs in ≥ *min_count* documents.

    Returns *df*'s columns plus ``out_col`` (the cleaned text, original
    line order preserved, lines rejoined with *sep*), ``n_lines`` (before)
    and ``n_removed``.  ALL copies of a duplicated line are removed — the
    boilerplate semantics; documents reduced to nothing get ``''``.  NULL
    text stays NULL with n_lines = n_removed = 0.

    Deterministic: removal depends only on corpus content, never on
    partitioning or row order.
    """
    reserved = (
        {out_col, "n_lines", "n_removed"} | set(_INTERNAL_COLS)
    ) & set(df.columns)
    if reserved:
        raise ValueError(
            f"input already has reserved output column(s) {sorted(reserved)}; "
            "rename them (or pass out_col=) before remove_duplicated_lines"
        )
    lines_arr = _split_lines(F.col(text_col), sep)
    # ONE (hash, doc) aggregation feeds both the duplicated-line set and
    # the removal indexes: both branches below contain this frame's
    # partial-aggregate exchange byte-for-byte, so the physical plan
    # materializes the text-scan→explode→partial-collect subtree ONCE
    # (ReusedExchange / AQE stage reuse) and the text is scanned a single
    # time for the whole detection job — see the module docstring, step 3.
    grouped = (
        df.select(
            F.col(id_col).alias("_pt_id"),
            F.posexplode(F.transform(lines_arr, _line_hash)).alias(
                "_pt_idx", "_pt_h"
            ),
        )
        # empty lines are never removable, so drop them before the shuffle.
        # NULL-id docs are dropped too: the id-keyed rewrite join can never
        # match them (so they are never cleaned), and filtering here —
        # rather than letting the join's inferred isnotnull constraint land
        # on only ONE copy of this subtree — keeps both branches' plans
        # identical so the exchange stays reusable.  (This also matches the
        # oracle's count(DISTINCT doc_id), which ignores NULL ids.)
        .filter(
            (F.col("_pt_h") != _EMPTY_LINE_HASH)
            & F.col("_pt_id").isNotNull()
        )
        .groupBy("_pt_h", "_pt_id")
        .agg(F.collect_list("_pt_idx").alias("_pt_idxs"))
    )
    # Optimizer fence: ``size(_pt_idxs) >= 0`` is always true (collect_list
    # never yields NULL) but Catalyst cannot prove it, so referencing it in
    # BOTH derived branches (a) stops column pruning from dropping the
    # collect_list out of the dup branch and (b) stops
    # PushDownLeftSemiAntiJoin from sinking the semi join below the shared
    # aggregate — either rewrite would make the two exchange subtrees
    # differ and cost a second full text scan (verified by
    # test_remove_duplicated_lines_two_scans; without the fence the
    # detection job plans 2 FileScans, with it 1 + ReusedExchange).
    _alive = F.size(F.col("_pt_idxs")) >= 0
    # count of (hash, doc) groups per hash == distinct docs per hash; the
    # coalesce keeps _pt_id referenced (same column set both branches)
    # without changing the count (it is non-null either way).  The id is
    # cast to STRING first so the coalesce type-checks for any id type —
    # date/timestamp/binary ids have no implicit common type with an int
    # literal and would fail analysis otherwise.
    dup = (
        grouped.groupBy("_pt_h")
        .agg(
            F.count(
                F.when(
                    _alive,
                    F.coalesce(F.col("_pt_id").cast("string"), F.lit("")),
                )
            ).alias("_pt_n")
        )
        .filter(F.col("_pt_n") >= min_count)
        .select(F.col("_pt_h").alias("_pt_h_dup"))
    )
    removals = (
        grouped.join(
            dup,
            (F.col("_pt_h") == F.col("_pt_h_dup")) & _alive,
            "left_semi",
        )
        .groupBy("_pt_id")
        .agg(
            F.array_sort(F.flatten(F.collect_list("_pt_idxs"))).alias(
                "_pt_rm"
            )
        )
    )
    joined = df.join(
        removals, df[id_col] == removals["_pt_id"], "left"
    ).drop("_pt_id")
    # materialize the split and the slice bounds ONCE per row (Generate
    # barrier): the slice lambda, the rejoin, and n_lines all reference
    # them, and Catalyst does not CSE across higher-order-function
    # boundaries (repo invariant)
    joined = _materialize(joined, _pt_lines=lines_arr)
    la = F.col("_pt_lines")
    rm = F.coalesce(F.col("_pt_rm"), F.array().cast("array<int>"))
    # removal indexes are distinct (posexplode positions) and sorted; the
    # kept lines are the slices BETWEEN consecutive removals, with -1 and
    # size(la) as sentinels.  Each slice copies its segment once →
    # O(lines + removals) per document, order preserved.
    bounds = F.concat(
        F.array(F.lit(-1)), rm, F.array(F.coalesce(F.size(la), F.lit(0)))
    )
    joined = _materialize(joined, _pt_bounds=bounds)
    bc = F.col("_pt_bounds")
    kept = F.flatten(
        F.transform(
            F.slice(bc, 1, F.size(bc) - 1),
            lambda prev, j: F.slice(
                la,
                prev + F.lit(2),
                F.element_at(bc, j + F.lit(2)) - prev - F.lit(1),
            ),
        )
    )
    return (
        joined.withColumn(
            out_col,
            F.when(
                F.col(text_col).isNotNull(), F.array_join(kept, sep)
            ),
        )
        .withColumn(
            "n_lines",
            F.when(F.col(text_col).isNotNull(), F.size(la))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .withColumn(
            "n_removed",
            F.when(F.col(text_col).isNotNull(), F.size(rm))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .drop("_pt_rm", "_pt_lines", "_pt_bounds")
    )
