"""Per-partition column statistics and distribution-drift checks.

The reference has no statistics machinery (patito validates, full stop);
the north rule adds: per-partition null counts, min/max, approximate
distinct via HyperLogLog sketches, histogram sketches, and KS / chi-square
distribution-drift checks against a stored reference profile.

Everything here is a single ``groupBy(partition_cols).agg(...)`` —
partition-local partials, tiny shuffle (one row per partition), never a
per-row Python callback; KS against a reference grid is native too
(:func:`ks_grid_by_group`).
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.io import driver_frame

DEFAULT_HISTOGRAM_BUCKETS = 16


def column_profile(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    partition_cols: Optional[Sequence[str]] = None,
    histogram: Optional[dict] = None,
    hll_sketch: bool = False,
) -> DataFrame:
    """One row per partition with per-column stats.

    Stats per column: ``<c>__count / nulls / min / max / approx_distinct``
    (+ ``mean/stddev`` for numerics, ``hist`` bucket-count array when bounds
    are given via ``histogram={col: (lo, hi[, nbuckets])}``, and a mergeable
    binary ``hll`` when ``hll_sketch=True`` for cross-run drift).

    With ``partition_cols=None`` a single global row is produced.
    """
    if columns is None:
        columns = [
            f.name
            for f in df.schema.fields
            if not isinstance(f.dataType, (T.StructType, T.MapType))
        ]
    histogram = histogram or {}
    numeric = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.NumericType)
    }

    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in columns:
        col = F.col(c)
        if isinstance(df.schema[c].dataType, T.ArrayType):
            aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
            continue
        aggs += [
            F.count(col).alias(f"{c}__count"),
            F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"),
            F.min(col).alias(f"{c}__min"),
            F.max(col).alias(f"{c}__max"),
            F.approx_count_distinct(col).alias(f"{c}__approx_distinct"),
        ]
        if c in numeric:
            aggs += [
                F.mean(col).alias(f"{c}__mean"),
                F.stddev(col).alias(f"{c}__stddev"),
            ]
        if hll_sketch and not isinstance(
            df.schema[c].dataType,
            (T.DoubleType, T.FloatType, T.BooleanType, T.TimestampType,
             T.TimestampNTZType, T.DateType),
        ):
            # mergeable Datasketches HLL binary — persist it and union
            # profiles across runs via hll_union_agg
            aggs.append(F.hll_sketch_agg(col).alias(f"{c}__hll"))
        if c in histogram:
            spec = histogram[c]
            lo, hi = spec[0], spec[1]
            nb = spec[2] if len(spec) > 2 else DEFAULT_HISTOGRAM_BUCKETS
            bucket = F.width_bucket(col, F.lit(lo), F.lit(hi), F.lit(nb))
            aggs.append(
                F.array(
                    *[
                        F.sum((bucket == b).cast("long"))
                        for b in range(0, nb + 2)
                    ]
                ).alias(f"{c}__hist")
            )
    if partition_cols:
        return df.groupBy(*partition_cols).agg(*aggs)
    return df.agg(*aggs)


def quantile_sketch(
    df: DataFrame, column: str, probabilities: int = 101
) -> list:
    """Equi-spaced approximate quantiles (the engine's KS sketch)."""
    probs = [i / (probabilities - 1) for i in range(probabilities)]
    row = df.agg(
        F.percentile_approx(column, probs, 10_000).alias("q")
    ).collect()[0]
    return list(row["q"]) if row["q"] is not None else []


def grid_cdf_reference(
    df: DataFrame, column: str, points: int = 101
) -> tuple:
    """Deterministic KS reference: ``points`` evenly spaced values between
    the global min and max, each paired with the global empirical CDF.

    Unlike an interpolated quantile sketch, every quantity here is derived
    from exact integer counts and two exactly-representable extremes, so any
    engine (Spark, DuckDB, pandas) reproduces it bit-for-bit — which makes
    KS statistics computed against it cross-engine hash-comparable.  Two
    single-pass aggregations: (min, max, n) then one conditional-count row.
    """
    row = df.agg(
        F.min(column).cast("double").alias("lo"),
        F.max(column).cast("double").alias("hi"),
        F.count(column).alias("n"),
    ).collect()[0]
    lo, hi, n = row["lo"], row["hi"], row["n"]
    if lo is None or n == 0:
        return [], []
    pts = [lo + i * (hi - lo) / (points - 1) for i in range(points)]
    counts = df.agg(
        *[
            F.sum((F.col(column) <= F.lit(p)).cast("long")).alias(f"c{i}")
            for i, p in enumerate(pts)
        ]
    ).collect()[0]
    return pts, [counts[i] / n for i in range(points)]


def ks_grid_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ref_points: Sequence[float],
    ref_cdf: Sequence[float],
) -> DataFrame:
    """Per-group KS statistic against an explicit (points, cdf) reference —
    pure native Columns, no Python anywhere.

    The statistic is ``max_i |count(values <= p_i) / n - cdf_i|``, computed
    as one ``groupBy(group).agg`` of per-grid-point conditional counts: a
    single scan with map-side partial aggregation and a one-row-per-group
    shuffle, for any group size (a grouped ``applyInPandas`` form would
    materialize a whole group — at corpus scale a single language is
    terabytes — in one pandas frame).
    """
    pts = [float(p) for p in ref_points]
    cdf = [float(c) for c in ref_cdf]
    counts = df.groupBy(group_col).agg(
        F.count(value_col).alias("n"),
        *[
            F.coalesce(
                F.sum((F.col(value_col) <= F.lit(p)).cast("long")), F.lit(0)
            ).alias(f"_c{i}")
            for i, p in enumerate(pts)
        ],
    )
    if not pts:
        return counts.select(
            group_col, F.lit(float("nan")).alias("ks"), F.col("n")
        )
    gaps = F.array(
        *[
            F.abs(F.col(f"_c{i}") / F.col("n") - F.lit(cdf[i]))
            for i in range(len(pts))
        ]
    )
    return counts.select(
        group_col,
        F.when(F.col("n") > 0, F.array_max(gaps))
        .otherwise(F.lit(float("nan")))
        .alias("ks"),
        F.col("n"),
    )


def discrete_percentiles_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: Sequence[float],
) -> DataFrame:
    """Exact per-group percentiles of a DISCRETE (integer-ish) column —
    ``(group, p, value, n)`` with the lower quantile definition
    ``value = min{v : count(x <= v) >= ceil(p * n)}``.

    Scale-safe where Spark's built-in exact ``percentile`` is not: that
    aggregate buffers every group value in executor memory, while this
    formulation is a ``groupBy(group, value)`` count (spillable, partial
    aggregation), one windowed cumsum over the DISTINCT values of each
    group, and a broadcast probe of the probability list — integer counts
    end to end, so results are bit-identical across engines.  For
    continuous columns, bucket first (``F.round``/``width_bucket``) or use
    the ``quantile_sketch`` approximation.
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    g, v = F.col(group_col), F.col(value_col)
    counts = (
        df.filter(v.isNotNull())
        .groupBy(g.alias("_g"), v.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy("_g").orderBy("_v")
    cum = counts.withColumn("_cum", F.sum("_c").over(w))
    totals = counts.groupBy("_g").agg(F.sum("_c").alias("n"))
    probs_df = driver_frame(
        df.sparkSession,
        [{"p": float(p)} for p in probs],
        T.StructType([T.StructField("p", T.DoubleType())]),
    )
    hits = (
        cum.join(totals, "_g")
        .crossJoin(F.broadcast(probs_df))
        .filter(F.col("_cum") >= F.ceil(F.col("p") * F.col("n")))
    )
    return hits.groupBy(F.col("_g").alias(group_col), "p").agg(
        F.min("_v").alias("value"),
        F.min("n").alias("n"),
    )


def chi_square_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    nbuckets: int = 10,
) -> DataFrame:
    """Per-group chi-square drift statistic vs the GLOBAL distribution of
    *value_col*, over a fixed ``[lo, hi)`` equi-width bucketing.

    Relational formulation — three shuffles of tiny aggregates, never a
    driver-side histogram merge: per-(group, bucket) counts, global
    per-bucket counts, per-group totals; expected_b = global_b × n_g / N;
    the statistic sums ``(o-e)²/e`` over every bucket the global
    distribution occupies (a group missing a bucket still pays its
    expected mass).  Everything derives from integer counts, so the
    result is reproducible cross-engine bit-for-bit at fixed rounding.
    """
    bucket = F.when(
        F.col(value_col).isNotNull(),
        F.least(
            F.greatest(
                F.floor(
                    (F.col(value_col) - F.lit(lo)) / ((hi - lo) / nbuckets)
                ),
                F.lit(0),
            ),
            F.lit(nbuckets - 1),
        ).cast("int"),
    )
    base = df.select(F.col(group_col).alias("_g"), bucket.alias("_b")).filter(
        F.col("_b").isNotNull()
    )
    per = base.groupBy("_g", "_b").agg(F.count(F.lit(1)).alias("_o"))
    # the marginals derive from the per-(group, bucket) counts — NOT from
    # a re-scan of base: summing _o is identical to recounting, the input
    # is the tiny per frame, and the shared subtree's exchange is reused
    # at runtime (the only remaining duplicate scan is the join's right
    # copy, whose inferred isnotnull(group) filter must not leak into the
    # marginals — a NULL group legitimately counts toward _gl/_n)
    glob = per.groupBy("_b").agg(F.sum("_o").alias("_gl"))
    totals = per.groupBy("_g").agg(F.sum("_o").alias("_n"))
    # every (group, occupied bucket) combination, with o=0 where absent
    grid = totals.crossJoin(glob)
    joined = grid.join(per, ["_g", "_b"], "left").select(
        "_g",
        "_n",
        F.col("_gl"),
        F.coalesce(F.col("_o"), F.lit(0)).alias("_o"),
    )
    # chi² = Σ_b (o−e)²/e with e = gl·n/N, computed TERM BY TERM — the
    # same per-bucket form the DuckDB oracle evaluates.  The algebraic
    # refold (N/n)·Σ(o²/gl) − n is equal on paper but subtracts two
    # ~n-magnitude doubles, so its absolute error grows like ulp(n): at
    # group counts around 1e9-1e12 the cancellation can flip the rounded
    # cross-engine hash and small chi² values lose most of their
    # precision.  The per-bucket form keeps every term at the magnitude of
    # the actual drift signal.  N is folded into the plan as a broadcast
    # one-row re-aggregation of the per-bucket globals — no count() action.
    nt = glob.agg(F.sum("_gl").cast("double").alias("_nt"))
    e = F.col("_gl").cast("double") * F.col("_n") / F.col("_nt")
    term = (F.col("_o") - e) * (F.col("_o") - e) / e
    return (
        joined.crossJoin(F.broadcast(nt))
        .groupBy("_g")
        .agg(
            F.sum(term).alias("chi2"),
            F.count(F.lit(1)).cast("long").alias("buckets"),
            F.min("_n").cast("long").alias("n"),
        )
        .select(F.col("_g").alias(group_col), "chi2", "buckets", "n")
    )


def ks_from_sketches(q_a: Sequence[float], q_b: Sequence[float]) -> float:
    """Approximate two-sample Kolmogorov–Smirnov statistic from two
    equi-spaced quantile sketches (driver-side, O(len) merge).

    For each sketch value we know its CDF position i/(n-1); walk the merged
    value axis and track the max CDF gap.
    """
    if not q_a or not q_b:
        return float("nan")
    na, nb = len(q_a), len(q_b)
    ia = ib = 0
    d = 0.0
    while ia < na and ib < nb:
        if q_a[ia] <= q_b[ib]:
            ia += 1
        else:
            ib += 1
        cdf_a = ia / na
        cdf_b = ib / nb
        d = max(d, abs(cdf_a - cdf_b))
    return d


def chi_square_from_histograms(
    observed: Sequence[int], expected: Sequence[int]
) -> dict:
    """Chi-square statistic between two bucket-count histograms
    (driver-side on the tiny profile rows; buckets with expected=0 are
    pooled into the adjacent bucket)."""
    if len(observed) != len(expected):
        raise ValueError("histogram bucket counts differ in length")
    n_obs = sum(observed)
    n_exp = sum(expected)
    if n_obs == 0 or n_exp == 0:
        return {"statistic": float("nan"), "dof": 0}
    stat = 0.0
    dof = -1
    for o, e in zip(observed, expected):
        e_scaled = e * (n_obs / n_exp)
        if e_scaled <= 0:
            if o > 0:
                stat += float("inf")
            continue
        stat += (o - e_scaled) ** 2 / e_scaled
        dof += 1
    return {"statistic": stat, "dof": max(dof, 0)}
