"""Row-level parity checks between two tables.

The north rule requires extracted text to remain BYTE-identical per url
against a reference extraction.  At 10^12 documents the comparison must
never shuffle document bodies: both sides reduce to ``(key, md5(bytes))``
first, so the full-outer join carries 16-byte digests only.  md5 runs
JVM-side inside whole-stage codegen and is identical across engines
(DuckDB/Spark), keeping the report oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: digest stand-in for a NULL text cell — distinguishes "row present with
#: NULL text" from "row absent" (md5 of NULL would be NULL and read as absent)
_NULL_SENTINEL = "__null__"


def _hashed(df: DataFrame, key_col: str, text_col: str, side: str) -> DataFrame:
    digest = F.when(
        F.col(text_col).isNull(), F.lit(_NULL_SENTINEL)
    ).otherwise(F.md5(F.encode(F.col(text_col), "utf-8")))
    return df.select(
        F.col(key_col).alias("_k"),
        digest.alias(f"_h{side}"),
        F.lit(True).alias(f"_p{side}"),
    )


def text_parity(
    current: DataFrame, reference: DataFrame, key_col: str, text_col: str
) -> DataFrame:
    """Per-key byte-identity verdicts: ``(key, verdict)`` with verdict one of
    ``identical | different | missing_in_current | missing_in_reference``.

    Duplicate keys on either side compare all combinations (a key should be
    unique per the model; run the uniqueness check first).
    """
    a = _hashed(current, key_col, text_col, "a")
    b = _hashed(reference, key_col, text_col, "b")
    joined = a.join(b, "_k", "full_outer")
    verdict = (
        F.when(F.col("_pa").isNull(), F.lit("missing_in_current"))
        .when(F.col("_pb").isNull(), F.lit("missing_in_reference"))
        .when(F.col("_ha") == F.col("_hb"), F.lit("identical"))
        .otherwise(F.lit("different"))
    )
    return joined.select(F.col("_k").alias(key_col), verdict.alias("verdict"))


def text_parity_report(
    current: DataFrame, reference: DataFrame, key_col: str, text_col: str
) -> DataFrame:
    """Aggregate parity verdict counts: ``(verdict, n_rows)`` — the
    pass/fail gate is ``n_rows == 0`` for every verdict ≠ identical."""
    return (
        text_parity(current, reference, key_col, text_col)
        .groupBy("verdict")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
