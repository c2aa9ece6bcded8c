"""Deterministic sequence packing for training-batch assembly.

LLM training consumes documents concatenated into fixed-token-budget
context windows ("packs").  This operator does the distributed
bookkeeping for concat-then-chunk packing: documents are dealt into
``streams`` independent streams by key hash, deterministically ordered
within each stream, and assigned the pack in which they START via a
running token cumsum — exactly the assignment a sequential
concatenate-and-chunk writer would produce per stream, but computed as
one hash-partitioned window (no global sort, no Python).

Scale design: the only shuffle is ``hashpartitioning(stream)``; each
stream sorts locally (spillable sort, never a single-partition funnel —
``streams`` should be ≥ the cluster's useful parallelism).  Ordering is
md5-keyed, so the layout is reproducible across runs, engines, and
input partitioning — the property that makes training resumable and
ablation runs comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    streams: int = 64,
    salt: str = "pack",
) -> DataFrame:
    """Assign every document a ``(stream, pack_id, tok_start)``.

    ``stream``: md5 hash bucket of the id (the parallel packing unit).
    ``pack_id``: which *budget*-token window the document STARTS in,
    under the stream's deterministic (md5(id), id) order — packs overflow
    by at most one document's tail, the standard concat-then-chunk
    semantics (the trailing tokens spill into the next window).
    ``tok_start``: offset of the document's first token within its pack.

    Documents with NULL/zero tokens get packed at their cumsum position
    like any other (zero width).

    Parallelism: the per-stream running-token window serializes each
    stream, so ``streams`` CAPS the packing stage at ``streams`` parallel
    tasks regardless of cluster size — the default 64 saturates this
    sandbox but NOT a large cluster.  Size it to at least the cluster's
    total cores (e.g. executors × cores, rounded up to a power of two) for
    big jobs.  It is deliberately NOT auto-scaled from the session: the
    stream deal is part of the deterministic layout, and auto-scaling
    would make the same corpus pack differently on different clusters,
    breaking resumability and run-to-run comparisons.  Raises if the input
    already has a ``stream``/``pack_id``/``tok_start`` column (these are
    the operator's output slots).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    reserved = {"stream", "pack_id", "tok_start"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input already has reserved output column(s) {sorted(reserved)}; "
            "rename them before pack_sequences"
        )
    key = F.col(id_col).cast("string")
    order_key = F.md5(F.concat(key, F.lit(salt)))
    stream = F.pmod(
        F.conv(F.substring(order_key, 1, 15), 16, 10).cast("bigint"),
        F.lit(streams),
    ).alias("stream")
    toks = F.coalesce(F.col(token_col).cast("bigint"), F.lit(0))
    staged = df.select("*", stream, order_key.alias("_ok"), toks.alias("_tk"))
    w = (
        Window.partitionBy("stream")
        .orderBy(F.col("_ok"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("_tk").over(w), F.lit(0))
    return (
        staged.withColumn("pack_id", F.floor(cum_before / budget))
        .withColumn("tok_start", cum_before % budget)
        .drop("_ok", "_tk")
    )
