"""Continuous validation over Structured Streaming sources.

The reference is batch-only (SURVEY §2.f: no streaming); at web scale a
crawl is an unbounded stream, so the same model spec also runs as a
streaming plan.  Both functions here are the **row executor** of the one
check compiler (``plans.checks``): they project the compiled records'
per-row violation predicates (``plans.checks.row_flags``), the same
predicates the batch aggregate executor counts.

- ``flag_violations`` — per-row ``_valid`` flag + an array of the failing
  check names, as a stateless projection (works on any stream, no
  watermark needed).  ``_valid`` is ``~(coalesce(p1, false) OR
  coalesce(p2, false) OR ...)`` over the predicates themselves — the same
  verdict as ``size(_violations) == 0`` (a NULL predicate is no
  violation), but the valid branch never builds the array and the
  quarantine branch builds it only for the rows it keeps.  Both columns
  are built once per (model, schema).
- ``quarantine_split`` — the valid and quarantine frames of every
  router: ``validate_stream``, ``sources.io.write_validated`` and the
  ingest model gate.
- ``windowed_violation_counts`` — event-time windowed counts per check name
  with a watermark for late data, one row per window.

Check names are ``<loc>__null``, ``__list_null``, ``__bound<i>``,
``__enum`` and ``__constraint``; ``loc`` is dotted for nested-struct and
list-of-struct fields (``items.price__bound0``: some element of ``items``
violates).  ``__bound<i>`` numbers the value rules a column declares in
the order of ``spec._RULES`` (``le`` first); on a list column it marks a
row with any failing item (a length rule: the list's size).  Uniqueness, aggregate and mixed aggregate/row constraints and
schema-level errors have no row form and are deliberately excluded: exact
global uniqueness over an unbounded stream is unbounded state.  Use
``dropDuplicatesWithinWatermark`` upstream or the batch runner over closed
partitions.
"""

from __future__ import annotations

import hashlib
from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.checks import _memoized, row_flags


def flag_violations(df: DataFrame, model: type) -> DataFrame:
    """Append ``_valid`` (bool) and ``_violations`` (array of check names).

    Stateless — usable on both streams and batch frames; feeds a router
    (valid rows → main sink, invalid → quarantine) via ``foreachBatch`` or
    two filtered writeStreams.
    """
    return df.withColumns(_router_columns(model, df.schema))


def _router_columns(model: type, schema: T.StructType) -> dict:
    """``_violations`` and ``_valid`` (defined in the module docstring) for
    *model* over *schema*, built once."""

    def build() -> dict:
        preds = row_flags(model, schema)
        if not preds:
            return {
                "_valid": F.lit(True),
                "_violations": F.array().cast(T.ArrayType(T.StringType())),
            }
        violations = F.array_compact(
            F.array(*[F.when(pred, F.lit(name)) for name, pred in preds.items()])
        )
        violated = [F.coalesce(pred, F.lit(False)) for pred in preds.values()]
        return {
            "_violations": violations,
            "_valid": ~reduce(lambda a, b: a | b, violated),
        }

    return _memoized(("router", model, schema.json()), build)


def quarantine_split(df: DataFrame, model: type) -> tuple:
    """``(valid, quarantine, spec_hash)`` of *df* under *model*'s row checks.

    ``valid`` is the passing rows with the input's columns.  ``quarantine``
    is the violating rows with ``_violations`` and ``_spec_hash`` (md5 of
    ``model.spec_json()``, the model version that flagged them) appended.
    """
    spec_hash = hashlib.md5(model.spec_json().encode()).hexdigest()
    flagged = flag_violations(df, model)
    valid = flagged.filter(F.col("_valid")).drop("_valid", "_violations")
    quarantine = (
        flagged.filter(~F.col("_valid"))
        .drop("_valid")
        .withColumn("_spec_hash", F.lit(spec_hash))
    )
    return valid, quarantine, spec_hash


def validate_stream(
    stream: DataFrame,
    model: type,
    quarantine_path: Optional[str] = None,
    checkpoint_dir: Optional[str] = None,
):
    """Split a stream into valid/invalid flows.

    Returns ``(valid_df, invalid_df)`` streaming frames, split as the batch
    routers split (``quarantine_split``): the invalid side carries
    ``_violations`` and ``_spec_hash``.  When ``quarantine_path`` is given,
    also starts an append sink for the invalid side and returns its query
    third (caller starts their own sink for the valid side).
    """
    valid, invalid, _ = quarantine_split(stream, model)
    if quarantine_path:
        query = (
            invalid.writeStream.format("parquet")
            .option("path", quarantine_path)
            .option(
                "checkpointLocation",
                checkpoint_dir or quarantine_path + "/_checkpoints",
            )
            .outputMode("append")
            .start()
        )
        return valid, invalid, query
    return valid, invalid


def windowed_violation_counts(
    stream: DataFrame,
    model: type,
    time_col: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed violation counts with late-data handling.

    One output row per (window, check) — the streaming analogue of the
    batch runner's per-partition violation rows.
    """
    preds = row_flags(model, stream.schema)
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            *(F.sum(pred.cast("long")).alias(name) for name, pred in preds.items()),
        )
    )
