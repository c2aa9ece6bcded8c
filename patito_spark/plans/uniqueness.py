"""Uniqueness + referential-integrity checks at scale.

The reference's uniqueness check is a single-machine duplicate mask
(``/root/reference/src/patito/validators.py:235-244``); it has no
referential-integrity concept.  This module provides both as standalone
scale-path operators:

- ``duplicate_stats``: per-key duplicate groups via one hash aggregation
  over the raw values, because it returns them as ``(value, cnt)`` rows.
  The inline validate() path (``plans.checks._duplicate_counts``) needs
  only counts, so it groups on the xxhash64 key-hash pair instead.
  Hot keys (e.g. hot URL domains covering ~30% of rows) are pre-combined
  by Spark's map-side partial aggregation, so no single reducer receives
  more than ``#map-partitions`` partial rows per key — the skew
  mitigation the north rule requires, with no explicit salt stage (which
  would only repeat the same hash aggregation; measured 2× slower in
  ``plans.checks._duplicate_counts``).
- ``referential_violations``: orphan count via LEFT ANTI join, broadcasting
  the dimension side when it is small (the usual case: a domain dim is
  ~10^7 rows vs 10^12 facts), else falling back to a shuffle join where AQE
  handles residual skew.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Dimension plan-size estimate (bytes) under which we force a broadcast
#: join.  256 MB is inside a healthy executor broadcast budget; a 10^8-row
#: dim estimates well past it and takes the shuffle path instead of OOMing
#: every executor.
BROADCAST_SIZE_THRESHOLD = 256 * 1024 * 1024


def duplicate_stats(df: DataFrame, column: str) -> DataFrame:
    """Duplicate groups for *column*: ``(value, cnt)`` with cnt > 1.

    One hash aggregation: Spark's partial (map-side) aggregation IS the
    salted pre-combine for a count — each map task emits at most one row
    per distinct value, so a hot key reaches its reducer as ≤
    #map-partitions partial rows, never as raw input rows.  An explicit
    ``groupBy(value, salt)`` stage would add a second exchange for no extra
    skew protection.
    """
    return (
        df.groupBy(F.col(column).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate in bytes — metadata only
    (file sizes for scans, width×rows for ranges), never a Spark job.
    Unknown estimates come back enormous, which safely reads as
    'do not broadcast'."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # Py4J maps the Scala BigInt to a Python int directly in pyspark 4;
        # keep the stringly fallback for object-shaped returns
        return raw if isinstance(raw, int) else int(raw.toString())
    except Exception:  # pragma: no cover - defensive: any Py4J hiccup
        return 2**63 - 1


def referential_violations(
    fact: DataFrame,
    fact_key: Column,
    dim: DataFrame,
    dim_key: str,
    broadcast_dim: Optional[bool] = None,
) -> DataFrame:
    """Rows of *fact* whose key does not exist in *dim* (orphans).

    ``fact_key`` may be an expression (e.g. ``F.parse_url(url, 'HOST')``).
    The dim side is deduplicated then broadcast when small — the anti join
    then runs map-side with zero shuffle of the fact table.

    ``broadcast_dim=None`` (default) decides from Catalyst's plan-size
    estimate of the projected dim (file-size-derived for table scans — no
    job runs): below :data:`BROADCAST_SIZE_THRESHOLD` it broadcasts,
    otherwise it plans a plain shuffle anti join, where AQE can still
    convert to broadcast at runtime from exact shuffle statistics.  Pass
    ``True``/``False`` to override when you know the dim's size.
    """
    keys = dim.select(F.col(dim_key).alias("_ref_key")).dropDuplicates(["_ref_key"])
    if broadcast_dim is None:
        broadcast_dim = _estimated_bytes(
            dim.select(F.col(dim_key).alias("_ref_key"))
        ) <= BROADCAST_SIZE_THRESHOLD
    if broadcast_dim:
        keys = F.broadcast(keys)
    withkey = fact.withColumn("_fact_key", fact_key)
    return withkey.join(
        keys, withkey["_fact_key"] == keys["_ref_key"], "left_anti"
    ).drop("_fact_key")
