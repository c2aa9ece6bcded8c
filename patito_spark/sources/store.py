"""One store layer: named parquet stores in a directory or as catalog tables.

The runner checkpoint (``plans/runner.py``) and the ingest stores
(``streaming/ingest.py``) keep named stores under one root, and
:func:`open_store` is the one place that reads the root:

* ``table:<prefix>`` — store *name* is the catalog table
  ``<prefix>_<name>``, appended through
  :func:`~patito_spark.sources.io.write_report_table` and written per slot
  by dynamic partition overwrite.  Under an Iceberg catalog these writes are
  snapshot commits; the session catalog (V1 parquet tables) shows the same
  mechanics, the format supplying the atomicity in production.
* any other root — a bare path or a ``file:/``, ``hdfs://`` or ``s3a://``
  URI: store *name* is the directory ``<root>/<name>``, and every file
  operation goes through the session's Hadoop ``FileSystem`` API, never
  ``os``.

Append stores (the runner's) are read with their known schema: an
unschema'd parquet read launches a schema-inference job.  Slot stores (the
ingest's per-batch deltas) make a replay exactly-once: ``write_slot``
replaces slot *n* and nothing else, ``read_slots`` reads the slots below
*n*, so a replayed batch sees the store its first attempt saw.  A directory
slot is ``<store>/batch-<n>``, folded by compaction into a
``compacted-<n>`` base; a table slot is the partition
``_ingest_batch_id = n``.  Records are small text values by key (the
ingest's active-query marker and spec registry), laid out per backend by a
:class:`Records` row.
"""

from __future__ import annotations

from typing import NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .io import driver_frame, write_report_table

#: the root prefix that selects the catalog-table backend
TABLE_SCHEME = "table:"

#: the partition column that holds a table slot's id
_SLOT_COL = "_ingest_batch_id"


class Records(NamedTuple):
    """Where one kind of small text record lives: under a directory root the
    files ``<root>/<dir>/<key><suffix>`` (``dir`` may be empty), under a
    catalog root the rows of the table ``<prefix>_<table>`` whose string
    columns ``key_col`` and ``value_col`` hold the key and the value."""

    dir: str
    suffix: str
    table: str
    key_col: str
    value_col: str


def open_store(root: str) -> "Store":
    """The store *root* names: ``table:<prefix>`` for catalog tables, any
    other string for a directory."""
    if root.startswith(TABLE_SCHEME):
        return TableStore(root[len(TABLE_SCHEME):])
    return DirStore(root)


class Store:
    """A root's named stores (see the module docstring).  Both backends
    implement ``location(name)`` (the directory or table that holds store
    *name*), ``exists`` (no Spark job), ``append``, the slot operations
    ``write_slot``, ``read_slots`` and ``compact_slots``, and the record
    operations ``get_record``, ``read_records`` and ``put_record`` (which
    writes nothing when the record already holds the value, so a replayed
    put is idempotent)."""

    def read(self, spark: SparkSession, name: str, schema) -> Optional[DataFrame]:
        """Store *name* (a directory read with *schema*), or None before its
        first write."""
        return self._scan(spark, name, schema) if self.exists(spark, name) else None

    def compact_slots(self, spark: SparkSession, names, merge_schema=()) -> dict:
        """Fold the committed slots of every store in *names*; returns
        ``{name: n_slots_folded}``.  Slot ids below the newest one across
        *names* are committed (a stream commits its batches in order); the
        newest one may be an uncommitted attempt whose replay must still
        read the slots below it, so it is never folded.  A directory store
        in *merge_schema* is read with ``mergeSchema``."""
        newest = max((k for n in names for k in self._slot_ids(spark, n)), default=-1)
        return {n: self._fold(spark, n, newest, n in merge_schema) for n in names}


# ---------------------------------------------------------------------------
# Directory backend: the Hadoop FileSystem API
# ---------------------------------------------------------------------------


def _hfs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for *path_str* under the session's Hadoop conf."""
    path = spark._jvm.org.apache.hadoop.fs.Path(path_str)
    return path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), path


def _join(dir_str: str, *names: str) -> str:
    return "/".join([dir_str.rstrip("/"), *filter(None, names)])


def _child_names(spark: SparkSession, dir_str: str) -> list:
    fs, path = _hfs(spark, dir_str)
    if not fs.exists(path):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(path))


def _read_text(spark: SparkSession, path_str: str) -> Optional[str]:
    fs, path = _hfs(spark, path_str)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _parquet(spark: SparkSession, dirs: list, merge_schema: bool) -> DataFrame:
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*dirs)


def _slot_id(name: str, *prefixes: str) -> Optional[int]:
    """``n`` of a ``<prefix><n>`` directory name, else None."""
    for prefix in prefixes:
        if name.startswith(prefix) and name[len(prefix):].isdecimal():
            return int(name[len(prefix):])
    return None


class DirStore(Store):
    def __init__(self, root: str) -> None:
        self.root = root

    def location(self, name: str) -> str:
        return _join(self.root, name)

    def exists(self, spark: SparkSession, name: str) -> bool:
        fs, path = _hfs(spark, self.location(name))
        return fs.exists(path)

    def _scan(self, spark, name, schema) -> DataFrame:
        return spark.read.schema(schema).parquet(self.location(name))

    def append(self, df: DataFrame, name: str) -> None:
        df.write.mode("append").parquet(self.location(name))

    # -- slots -----------------------------------------------------------------
    def write_slot(self, df: DataFrame, name: str, slot: int) -> None:
        df.write.mode("overwrite").parquet(_join(self.root, name, f"batch-{slot}"))

    def _live(self, spark: SparkSession, name: str, below: Optional[int] = None) -> list:
        """``(dir name, id)`` of the live ``batch-<k>`` and ``compacted-<m>``
        subdirs of store *name* with an id below *below* (None: all), in
        name order.

        Only the HIGHEST ``compacted-`` base counts, and a ``batch-<k>``
        with ``k <= max compacted id`` is EXCLUDED: compaction folds every
        older base and every committed batch dir into the new base and
        renames it live BEFORE deleting the folded dirs, so any such dir is
        a leftover from a crash between those two steps whose rows the base
        already contains — counting it would double them.  The next
        compaction deletes leftovers."""
        tagged = [
            (n, k)
            for n in _child_names(spark, self.location(name))
            if (k := _slot_id(n, "batch-", "compacted-")) is not None
        ]
        base = max((k for n, k in tagged if n.startswith("compacted-")), default=-1)
        return [
            (n, k)
            for n, k in tagged
            if (k > base if n.startswith("batch-") else k == base)
            and (below is None or k < below)
        ]

    def read_slots(
        self, spark: SparkSession, name: str, below: Optional[int] = None, merge_schema=False
    ) -> Optional[DataFrame]:
        """The slots of store *name* below *below* (None: all), read with
        ``mergeSchema`` when *merge_schema*; None when there are none."""
        store_dir = self.location(name)
        dirs = [
            _join(store_dir, n)
            for n, _ in self._live(spark, name, below)
            # a replay attempt may have left an empty or partial dir; a
            # parquet read of a dir with no part files fails, so require one
            if any(f.endswith(".parquet") for f in _child_names(spark, _join(store_dir, n)))
        ]
        return _parquet(spark, dirs, merge_schema) if dirs else None

    def _slot_ids(self, spark: SparkSession, name: str) -> list:
        return [k for n, k in self._live(spark, name) if n.startswith("batch-")]

    def _fold(self, spark: SparkSession, name: str, newest: int, merge_schema: bool) -> int:
        """Sweep the leftovers of a crashed compaction (dirs the read rule
        already ignores and orphaned ``_compacting-`` dirs), then fold every
        live dir but ``batch-<newest>`` into ``compacted-<max id>``."""
        store_dir = self.location(name)
        fs, _ = _hfs(spark, store_dir)
        Path = spark._jvm.org.apache.hadoop.fs.Path
        live = self._live(spark, name)
        for n in set(_child_names(spark, store_dir)) - {n for n, _ in live}:
            if _slot_id(n, "batch-", "compacted-", "_compacting-") is not None:
                fs.delete(Path(_join(store_dir, n)), True)
        folded = [(n, k) for n, k in live if n != f"batch-{newest}"]
        if len(folded) < 2:
            return 0
        max_id = max(k for _, k in folded)
        dirs = [_join(store_dir, n) for n, _ in folded]
        tmp = _join(store_dir, f"_compacting-{max_id}")
        final = _join(store_dir, f"compacted-{max_id}")
        _parquet(spark, dirs, merge_schema).write.mode("overwrite").parquet(tmp)
        # rename FIRST (Hadoop rename returns False instead of raising —
        # check it), delete the folded dirs only once the base is live: a
        # crash between the two leaves leftovers the read rule ignores (see
        # _live) and the next compaction sweeps — never a data hole, never
        # a double count
        if not fs.rename(Path(tmp), Path(final)):
            raise IOError(
                f"compact_stores: rename {tmp} -> {final} failed; "
                "folded directories left untouched"
            )
        for d in dirs:
            fs.delete(Path(d), True)
        return len(folded)

    # -- records ---------------------------------------------------------------
    def _record_path(self, records: Records, key: str) -> str:
        return _join(self.root, records.dir, key + records.suffix)

    def get_record(self, spark: SparkSession, records: Records, key: str) -> Optional[str]:
        return _read_text(spark, self._record_path(records, key))

    def put_record(self, spark, records, key, value) -> None:
        if self.get_record(spark, records, key) == value:
            return
        fs, path = _hfs(spark, self._record_path(records, key))
        out = fs.create(path, True)
        try:
            out.write(bytearray(value.encode("utf-8")))
        finally:
            out.close()

    def read_records(self, spark: SparkSession, records: Records) -> dict:
        """``{key: value}`` of every record of kind *records*."""
        records_dir = _join(self.root, records.dir)
        return {
            n[: len(n) - len(records.suffix)]: _read_text(spark, _join(records_dir, n))
            for n in _child_names(spark, records_dir)
            if n.endswith(records.suffix)
        }


# ---------------------------------------------------------------------------
# Catalog backend: one table per store
# ---------------------------------------------------------------------------


def _dynamic_overwrite(spark: SparkSession, df: DataFrame, table: str) -> None:
    """``INSERT OVERWRITE`` replacing ONLY the partitions present in *df*.
    The mode must be set as the SESSION conf for the duration of the write:
    ``insertInto`` does not forward ``DataFrameWriter`` options, and under
    the default ``static`` mode an overwrite truncates the WHOLE table
    (measured: it wiped batch 0 when batch 1 landed).  Restored afterwards
    so other writers see their own setting."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").insertInto(table)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


class TableStore(Store):
    def __init__(self, prefix: str) -> None:
        self.prefix = prefix

    def location(self, name: str) -> str:
        return f"{self.prefix}_{name}"

    def exists(self, spark: SparkSession, name: str) -> bool:
        return spark.catalog.tableExists(self.location(name))

    def _scan(self, spark, name, schema) -> DataFrame:
        return spark.table(self.location(name))

    def append(self, df: DataFrame, name: str) -> None:
        write_report_table(df, self.location(name))

    # -- slots -----------------------------------------------------------------
    def write_slot(self, df: DataFrame, name: str, slot: int) -> None:
        """Replay-safe slot write: a dynamic overwrite of partition *slot*
        only — re-running the same batch replaces its previous (possibly
        partial) attempt and touches nothing else.  On Iceberg this is
        ``writeTo(...).overwritePartitions()``, one atomic commit.

        The delta's plan usually READS the table it advances (the increment
        anti-joins the batch against the store); the V1 session catalog
        refuses a self-referencing overwrite (UNSUPPORTED_OVERWRITE), so the
        BATCH-sized delta is materialized with ``localCheckpoint`` first.
        Iceberg's snapshot isolation makes this unnecessary in production,
        but the cut is cheap (O(batch), never O(corpus))."""
        spark = df.sparkSession
        table = self.location(name)
        out = df.withColumn(_SLOT_COL, F.lit(slot))
        if not spark.catalog.tableExists(table):
            out.write.partitionBy(_SLOT_COL).mode("overwrite").saveAsTable(table)
            return
        out = out.localCheckpoint(eager=True)
        # schema evolution, the table twin of the dir backend's mergeSchema:
        # a delta column the table lacks is ADDed (old partitions read NULL),
        # a table column the delta lacks is null-filled — so a mid-stream
        # page-schema or model evolution widens the store instead of breaking
        # the positional insert
        table_fields = {f.name: f for f in spark.table(table).schema.fields}
        new_cols = [c for c in out.columns if c not in table_fields]
        if new_cols:
            fields = {f.name: f for f in out.schema.fields}
            specs = ", ".join(
                f"`{c}` {fields[c].dataType.simpleString()}" for c in new_cols
            )
            spark.sql(f"ALTER TABLE {table} ADD COLUMNS ({specs})")
            table_fields = {f.name: f for f in spark.table(table).schema.fields}
        for c, field in table_fields.items():
            if c not in out.columns:
                out = out.withColumn(c, F.lit(None).cast(field.dataType))
        # insertInto is POSITIONAL: reorder to the table's column order
        _dynamic_overwrite(spark, out.select(*table_fields), table)

    def _slot_ids(self, spark: SparkSession, name: str) -> list:
        """Sorted slot partition values (metadata only)."""
        table = self.location(name)
        if not spark.catalog.tableExists(table):
            return []
        parts = (row[0] for row in spark.sql(f"SHOW PARTITIONS {table}").collect())
        return sorted(
            int(p.split("=", 1)[1]) for p in parts if p.startswith(_SLOT_COL + "=")
        )

    def read_slots(
        self, spark: SparkSession, name: str, below: Optional[int] = None, merge_schema=False
    ) -> Optional[DataFrame]:
        """The slots below *below* (None: all) as one partition-pruned scan;
        None when there are none.  Tables widen on write, so *merge_schema*
        has nothing to do here."""
        if not any(below is None or k < below for k in self._slot_ids(spark, name)):
            return None
        df = spark.table(self.location(name))
        if below is not None:
            df = df.filter(F.col(_SLOT_COL) < below)
        return df.drop(_SLOT_COL)

    def _fold(self, spark: SparkSession, name: str, newest: int, merge_schema: bool) -> int:
        """Rewrite the committed partitions in place with coalesced files
        (one task per slot, so about one file per slot).  Ids and read rules
        are untouched, so the rewrite is replay-transparent; a crash mid-write
        of a partition is the table format's problem on Iceberg/Delta (atomic
        commit) — the V1 session catalog shows the mechanics only."""
        table = self.location(name)
        ids = [k for k in self._slot_ids(spark, name) if k < newest]
        if len(ids) < 2:
            return 0
        cols = spark.table(table).columns
        # self-referencing overwrite: V1 needs the read finished before the
        # write (localCheckpoint, disk-backed on executors); on Iceberg use
        # rewrite_data_files instead — snapshot-isolated, no materialization
        folded = (
            spark.table(table)
            .filter(F.col(_SLOT_COL) < newest)
            .repartition(len(ids), F.col(_SLOT_COL))
            .localCheckpoint(eager=True)
        )
        _dynamic_overwrite(spark, folded.select(*cols), table)
        return len(ids)

    # -- records ---------------------------------------------------------------
    def read_records(self, spark: SparkSession, records: Records) -> dict:
        table = self.location(records.table)
        if not spark.catalog.tableExists(table):
            return {}
        return {r[0]: r[1] for r in spark.table(table).collect()}

    def get_record(self, spark: SparkSession, records: Records, key: str) -> Optional[str]:
        return self.read_records(spark, records).get(key)

    def put_record(self, spark, records, key, value) -> None:
        """A new key is appended; a changed one rewrites the table from the
        collected rows (so the overwrite does not read the table it writes)."""
        held = self.read_records(spark, records)
        if held.get(key) == value:
            return
        replace = key in held
        rows = {**held, key: value}.items() if replace else [(key, value)]
        cols = (records.key_col, records.value_col)
        schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
        frame = driver_frame(spark, [dict(zip(cols, r)) for r in rows], schema)
        table = self.location(records.table)
        if spark.catalog.tableExists(table):
            frame.write.insertInto(table, overwrite=replace)
        else:
            frame.write.saveAsTable(table)
