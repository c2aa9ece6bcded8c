"""Model-aware sources and sinks.

≈ reference ``DataFrame.read_csv`` (``src/patito/polars.py:879-960``): the
model supplies the schema (so the scan never infers) and derived columns are
populated on read.  Beyond the reference: parquet/table scans with
column-pruned projections (only spec columns are selected, so Catalyst
pushes the pruning into the file scan) and a violation-report sink.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_csv(
    spark: SparkSession,
    path: str,
    model: type,
    header: bool = True,
    derive: bool = True,
    **options,
):
    """CSV scan with the model's schema injected (never inferred).

    Headerless files take the model's column order (reference
    ``polars.py:944-945``); ``derive=True`` populates derived columns
    (reference calls ``.derive()`` on the result, ``polars.py:960``).
    """
    # columns derived from expressions are computed, not read
    read_cols = [
        name
        for name, spec in model.__column_specs__.items()
        if spec.derived_from is None
    ]
    from pyspark.sql import types as T

    fields = [
        T.StructField(n, model.__column_specs__[n].dtype, True) for n in read_cols
    ]
    df = spark.read.csv(
        path, schema=T.StructType(fields), header=header, **options
    )
    if not header:
        df = df.toDF(*read_cols)
    if model.model_config.get("alias_generator"):
        # headers written under alias names map back to field names
        # (reference remaps override keys, polars.py:946-957)
        from ..plans.checks import _transform_df

        df = _transform_df(df, model)
    wrapped = model.DataFrame(df)
    if derive and model.derived_columns:
        wrapped = wrapped.derive()
    return wrapped


def read_parquet(
    spark: SparkSession,
    path: str,
    model: Optional[type] = None,
    validate: bool = False,
    prune: bool = True,
):
    """Parquet scan; with a model, project only spec columns (column
    pruning reaches the file scan) and optionally validate."""
    df = spark.read.parquet(path)
    if model is None:
        return df
    if prune:
        keep = [c for c in model.columns if c in df.columns]
        df = df.select(*keep)
    if validate:
        return model.validate(df)
    return model.DataFrame(df)


def read_table(
    spark: SparkSession,
    name: str,
    model: Optional[type] = None,
    validate: bool = False,
):
    """Catalog table scan (Iceberg/Hive/temp view) with optional model."""
    df = spark.table(name)
    if model is None:
        return df
    if validate:
        return model.validate(df)
    return model.DataFrame(df)


def scan_for(spark: SparkSession, model: type, path: str, fmt: str = "parquet"):
    """Schema-first scan: the model's StructType is imposed on the source."""
    return model.DataFrame(
        spark.read.format(fmt).schema(model.spark_schema()).load(path)
    )


def driver_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Rows built on the driver (dicts keyed by field name) as an
    Arrow-backed ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` plans as a ``LogicalRDD`` over a
    Python RDD, so every action on it forks a Python worker.  An Arrow
    table crosses to the JVM once and plans as a local relation, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says.
    """
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    return spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)), schema
    )


def write_report(df: DataFrame, path: str, partition_by: Optional[list] = None) -> None:
    """Append a violation/metrics report as raw parquet files (path-based;
    for catalog tables use :func:`write_report_table`)."""
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_report_table(
    df: DataFrame,
    table: str,
    partition_by: Optional[list] = None,
    fmt: str = "parquet",
) -> None:
    """Append to a catalog table via the DataFrameWriterV2 API, creating it
    (with the requested partitioning) on first write.

    This is the north-rule sink shape: bound to an Iceberg catalog (see
    :func:`iceberg_catalog_conf`) the append is a real Iceberg snapshot
    commit with ``fmt="iceberg"``; against the built-in session catalog it
    creates a managed table — the engine code is identical either way.
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if spark.catalog.tableExists(table):
        try:
            df.writeTo(table).append()
        except AnalysisException:
            # the built-in session catalog registers created tables as V1,
            # which the V2 append path refuses; V1 insertInto (which takes
            # partitioning from the table definition, but matches columns
            # by POSITION — so align to the table's column order first) is
            # equivalent there.  Real V2 catalogs (Iceberg) never take
            # this branch.
            df.select(*spark.table(table).columns).write.insertInto(table)
        return
    writer = df.writeTo(table).using(fmt)
    if partition_by:
        writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
    writer.create()


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 64,
    sort_col: Optional[str] = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (hash-clustered) by *bucket_col*.

    Bucketing is the pre-shuffle investment for repeated joins/aggregations
    on the same key: two tables bucketed by the join key with the same
    bucket count join with ZERO exchanges (verified in
    tests/test_parity_extras.py), and groupBy on the bucket key skips its
    shuffle too.  Under an Iceberg catalog use a bucket partition transform
    instead; for the built-in catalog this maps to Spark's native bucketed
    managed tables (bucketBy requires saveAsTable).
    """
    writer = df.write.format(fmt).mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def iceberg_catalog_conf(catalog: str, warehouse: str) -> dict:
    """SparkSession config for a Hadoop-warehouse Iceberg catalog.

    Requires the ``iceberg-spark-runtime`` jar on the cluster classpath
    (standard Apache Iceberg quickstart configuration; the jar is not
    bundled with this sandbox, so tests exercise the same V2 writer paths
    against the session catalog instead)::

        builder = SparkSession.builder
        for k, v in iceberg_catalog_conf("lake", "s3://bucket/wh").items():
            builder = builder.config(k, v)
    """
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def write_validated(
    df: "DataFrame",
    model: type,
    path: str,
    quarantine_path: Optional[str] = None,
    fmt: str = "parquet",
    mode: str = "error",
) -> dict:
    """Validated batch sink: rows passing the model's row-level checks land
    at ``path``; violating rows (annotated with ``_violations`` — the
    failing check names) land at ``quarantine_path``.

    The batch twin of ``streaming.validate_stream``'s quarantine router:
    both run the row executor of the one check compiler
    (``streaming.flag_violations``), so a pipeline can use one model for
    both its backfill and its live path.  Each write is its own
    Spark action, so the source is scanned (and the row predicates
    re-evaluated) once per branch — two independent scan+validate passes,
    not one shared pass.  That is deliberate: caching the flagged frame
    would pin the full input in executor storage, which loses at the
    scales this sink targets, while a second columnar scan is cheap.
    Without ``quarantine_path``, violating rows are dropped but still
    counted.  Returns ``{"written": n, "quarantined": n}`` — counted from
    the written parquet footers (metadata-only, no extra data scan), each
    sink read back with the written frame's schema (no schema-inference
    job); with ``mode="append"`` the counts therefore include pre-existing
    rows at the destination.

    Note the scope (same as the streaming router): ROW-level checks only —
    nullability, nulls inside lists, bounds and patterns, enums (scalar and
    list), row-wise constraints, at any nesting depth (a list-of-struct
    check flags the row when any element violates).  ``_violations`` holds
    their names, ``<loc>__null | __list_null | __bound<i> | __enum |
    __constraint``, with ``loc`` dotted for nested fields
    (``items.price__bound0``); on a list column ``__bound<i>`` marks a row
    with any failing item (a length rule: the list's size).  Dataset checks — uniqueness, aggregate and
    mixed aggregate/row constraints, schema errors — need the full
    validate()/runner path; they are not expressible as a per-row filter.

    Quarantined rows carry a ``_spec_hash`` column (md5 of
    ``model.spec_json()``) — the same lineage the streaming ingest
    quarantine records, so batch- and stream-quarantined rows stay
    attributable to the model version that flagged them across spec
    evolution (resolve the hash via ``model.spec_json()`` archives or
    ``streaming.read_quarantine_specs`` stores).
    """
    from ..streaming.validate import quarantine_split

    good, bad, _ = quarantine_split(df, model)
    good.write.format(fmt).mode(mode).save(path)
    spark = df.sparkSession
    written = spark.read.format(fmt).schema(good.schema).load(path).count()
    if quarantine_path is not None:
        bad.write.format(fmt).mode(mode).save(quarantine_path)
        quarantined = (
            spark.read.format(fmt).schema(bad.schema).load(quarantine_path).count()
        )
    else:
        quarantined = bad.count()
    return {"written": written, "quarantined": quarantined}
