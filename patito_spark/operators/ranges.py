"""Range (point-in-interval) joins without the nested-loop trap.

Spark plans a plain ``ts >= start AND ts < end`` join as a broadcast
nested loop — O(|points| × |intervals|) comparisons.  This operator makes
it a shuffle equi-join: intervals explode into the fixed-width time
buckets they cover, points land in exactly one bucket, both sides
equi-join on (by-key, bucket) and an exact containment filter finishes
the job.  Each (point, interval) pair meets in exactly one bucket (the
point's), so no dedup is needed.  Work scales with
|points| + Σ interval_len/bucket — choose ``bucket_seconds`` near the
typical interval length.

Interval semantics are half-open ``[start, end)``.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _micros(df: DataFrame, col: str) -> Column:
    """Microseconds since epoch for timestamp columns (timezone-free for
    NTZ), or seconds×1e6 for numeric columns."""
    dtype = df.schema[col].dataType
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(F.col(col))
    if isinstance(dtype, T.TimestampNTZType):
        epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
        return F.timestamp_diff("MICROSECOND", epoch, F.col(col))
    return (F.col(col) * 1_000_000).cast("long")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    by: Optional[Sequence[str]] = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Inner join of points to every interval containing them.

    Output: all point columns + the interval's columns (start/end/payload).
    ``by`` columns must exist on both sides and equality-match; colliding
    column names on the interval side are suffixed ``_right``.
    """
    by = list(by) if by else []
    b_us = bucket_seconds * 1_000_000

    p = points.withColumn("_b", F.floor(_micros(points, ts_col) / b_us))
    start_us = _micros(intervals, start_col)
    end_us = _micros(intervals, end_col)
    # buckets covered by [start, end): the end bucket is floor((end-1)/w);
    # empty/inverted intervals cover nothing
    i = intervals.withColumn(
        "_b",
        F.explode(
            F.when(
                end_us > start_us,
                F.sequence(
                    F.floor(start_us / b_us), F.floor((end_us - 1) / b_us)
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ),
    )
    pcols = list(points.columns)
    icols = [c for c in intervals.columns if c not in by]
    renamed = {
        c: (c if c not in pcols else f"{c}_right") for c in icols
    }
    i = i.select(
        *by, "_b", *[F.col(c).alias(renamed[c]) for c in icols]
    )
    joined = p.join(i, [*by, "_b"])
    keep = joined.filter(
        (F.col(ts_col) >= F.col(renamed[start_col]))
        & (F.col(ts_col) < F.col(renamed[end_col]))
    )
    return keep.select(*pcols, *[renamed[c] for c in icols])
