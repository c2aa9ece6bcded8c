"""Cross-run distribution-drift monitoring over column profiles.

A later run is compared against a stored reference profile (KS /
chi-square drift checks).  A profile is a small JSON-serializable dict
per column:

- ``quantiles`` — 101-point equi-spaced quantile sketch (KS input),
- ``histogram`` — fixed-bucket counts (chi-square input),
- ``count`` / ``nulls`` / ``min`` / ``max`` / ``approx_distinct``.

Profiles are engine-independent (``json.dump`` makes them auditable
offline) and tiny (~2 KB per column), so they can live next to the
checkpoint tables.
"""

from __future__ import annotations

import math
import time
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stats import chi_square_from_histograms, ks_from_sketches

QUANTILE_POINTS = 101
DEFAULT_BUCKETS = 32


def build_profile(
    df: DataFrame,
    column: str,
    histogram_bounds: Optional[tuple] = None,
    buckets: int = DEFAULT_BUCKETS,
) -> dict:
    """One-job numeric profile of *column*."""
    col = F.col(column).cast("double")
    probs = [i / (QUANTILE_POINTS - 1) for i in range(QUANTILE_POINTS)]
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.count(col).alias("count"),
        F.sum(col.isNull().cast("long")).alias("nulls"),
        F.min(col).alias("min"),
        F.max(col).alias("max"),
        F.approx_count_distinct(col).alias("approx_distinct"),
        F.percentile_approx(col, probs, 10_000).alias("quantiles"),
    ]
    row = df.agg(*aggs).collect()[0].asDict()
    if histogram_bounds is None:
        lo = row["min"] if row["min"] is not None else 0.0
        hi = row["max"] if row["max"] is not None else 1.0
        if hi <= lo:
            hi = lo + 1.0
    else:
        lo, hi = histogram_bounds
    bucket = F.width_bucket(col, F.lit(lo), F.lit(hi), F.lit(buckets))
    hist_row = df.agg(
        F.array(
            *[F.sum((bucket == b).cast("long")) for b in range(0, buckets + 2)]
        ).alias("hist")
    ).collect()[0]
    return {
        "column": column,
        "rows": int(row["rows"]),
        "count": int(row["count"]),
        "nulls": int(row["nulls"] or 0),
        "min": row["min"],
        "max": row["max"],
        "approx_distinct": int(row["approx_distinct"]),
        "quantiles": [float(q) for q in (row["quantiles"] or [])],
        "histogram": {
            "lo": float(lo),
            "hi": float(hi),
            "buckets": buckets,
            "counts": [int(c or 0) for c in hist_row["hist"]],
        },
        "created_at": time.time(),
    }


def compare_profiles(
    current: dict,
    reference: dict,
    ks_threshold: float = 0.1,
    chi2_pvalue_like: float = 3.0,
) -> dict:
    """Drift verdict between two profiles of the same column.

    KS from the quantile sketches; chi-square from the (rescaled)
    histograms — ``chi2_per_dof`` > ``chi2_pvalue_like`` flags drift (a
    crude but monotone stand-in for a p-value without scipy).  Null-rate
    shift is compared directly.
    """
    ks = ks_from_sketches(current["quantiles"], reference["quantiles"])
    chi = chi_square_from_histograms(
        current["histogram"]["counts"], reference["histogram"]["counts"]
    )
    chi_per_dof = (
        chi["statistic"] / chi["dof"] if chi["dof"] > 0 else float("nan")
    )
    null_rate_cur = current["nulls"] / max(current["rows"], 1)
    null_rate_ref = reference["nulls"] / max(reference["rows"], 1)
    drifted = (not math.isnan(ks) and ks > ks_threshold) or (
        not math.isnan(chi_per_dof) and chi_per_dof > chi2_pvalue_like
    )
    return {
        "column": current["column"],
        "ks": None if math.isnan(ks) else round(ks, 6),
        "chi2": None if math.isnan(chi["statistic"]) else round(chi["statistic"], 4),
        "chi2_per_dof": None
        if math.isnan(chi_per_dof)
        else round(chi_per_dof, 4),
        "null_rate_delta": round(null_rate_cur - null_rate_ref, 6),
        "distinct_ratio": round(
            current["approx_distinct"] / max(reference["approx_distinct"], 1), 4
        ),
        "drifted": bool(drifted),
    }
