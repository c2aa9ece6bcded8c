"""Continuous crawl ingestion: the streaming front-end of
:func:`~patito_spark.operators.pipeline.prepare_training_increment`.

The batch increment pipeline already has the production shape for a daily
crawl (filters → exact dedup vs a fingerprint store → near-dup vs an LSH
signature store, every store access batch-cost, never corpus-shuffling).
This module drives exactly that pipeline from Structured Streaming via
``foreachBatch``: each micro-batch IS one increment, and the dedup stores
advance with the stream.

Exactly-once store advance under batch replay
---------------------------------------------
``foreachBatch`` may re-invoke the processor for a batch id after a
failure, so a naive ``mode("append")`` store write would double-count the
replayed batch's deltas.  Instead every output of batch *n* lands in its
own per-batch slot with ``mode("overwrite")`` — a replay overwrites its
previous (possibly partial) attempt instead of appending to it — and the
store snapshot a batch READS is restricted to slots with id ``k < n``,
so a replayed batch sees the exact store state its first attempt saw
even if its own delta slot already exists.  Idempotence is pinned by
calling the processor twice with the same batch id in the tests.

Two store backends, one protocol
--------------------------------
``store_root`` selects the backend:

* **Directories** (default): a filesystem root — bare local path or any
  ``file:/`` / ``hdfs://`` / ``s3a://`` URI the session's Hadoop
  configuration can open (all I/O goes through the Hadoop ``FileSystem``
  API).  Batch *n* writes ``<root>/<store>/batch-<n>``; compaction folds
  committed slots into a ``compacted-<id>`` base.
* **Catalog tables**: ``store_root="table:<prefix>"`` — each store is a
  catalog table ``<prefix>_<store>`` partitioned by ``_ingest_batch_id``,
  and the per-batch slot is a PARTITION: the delta write is a dynamic
  partition overwrite (`partitionOverwriteMode=dynamic`), the canonical
  replay-safe exactly-once idiom for ``foreachBatch`` sinks.  On an
  Iceberg / Delta catalog the same writes are transactional commits and
  ``k < n`` reads are snapshot-consistent partition-pruned scans; the
  session catalog (V1 parquet tables) demonstrates identical mechanics
  in tests, with the format supplying the atomicity in production.

Store lifecycle at scale
------------------------
Per-batch slots accumulate small files; :func:`compact_stores` runs
while the stream is stopped (it refuses to race a live query — the
active-query marker + ``spark.streams.active`` check).  The NEWEST batch
slot is never touched: Structured Streaming commits offsets in order, so
every batch id strictly below the maximum is known-committed, but the
maximum itself may be an uncommitted attempt the restarted stream will
replay — folding it would make the replay read nothing (``k < n``
excludes its own id) and double-count the batch.  Directory backend:
committed slots fold into one ``compacted-<id>`` base (rename-live-
then-delete; readers count only the highest base, so crash leftovers
are inert and swept by the next run).  Table backend: committed
partitions are rewritten in place with coalesced files (Iceberg's
``rewrite_data_files`` is the production analogue).

Re-crawl replacement (``replace_in_store``) is deliberately NOT wired
into the hot streaming path — rewriting corpus-sized state per
micro-batch is the wrong tier; run it in the batch/backfill tier, the
same lambda split as ``streaming/dedup.py``.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.io import driver_frame

__all__ = [
    "compact_stores",
    "crawl_ingest_stream",
    "read_ingested_corpus",
    "read_quarantine",
    "read_quarantine_specs",
]

_FINGERPRINTS = "fingerprints"
_SIGNATURES = "signatures"
_SURVIVORS = "survivors"
_QUARANTINE = "quarantine"
_STORES = (_FINGERPRINTS, _SIGNATURES, _SURVIVORS, _QUARANTINE)
_SPECS_DIR = _QUARANTINE + "/_specs"
_ACTIVE_MARKER = "_active_query"

_TABLE_SCHEME = "table:"
_BATCH_COL = "_ingest_batch_id"

_META_SCHEMA = T.StructType(
    [T.StructField("key", T.StringType()), T.StructField("value", T.StringType())]
)
_SPECS_SCHEMA = T.StructType(
    [
        T.StructField("spec_hash", T.StringType()),
        T.StructField("spec_json", T.StringType()),
    ]
)


def _is_table_root(store_root: str) -> bool:
    return store_root.startswith(_TABLE_SCHEME)


def _table_name(store_root: str, sub: str) -> str:
    return f"{store_root[len(_TABLE_SCHEME):]}_{sub}"


# ---------------------------------------------------------------------------
# Directory backend: Hadoop FileSystem protocol
# (local paths and file:/hdfs:/s3a: URIs alike)
# ---------------------------------------------------------------------------


def _hfs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for *path_str* under the session's Hadoop conf."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, path


def _join(dir_str: str, *names: str) -> str:
    return "/".join([dir_str.rstrip("/"), *names])


def _child_names(spark: SparkSession, dir_str: str) -> list:
    fs, path = _hfs(spark, dir_str)
    if not fs.exists(path):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(path))


def _write_text(spark: SparkSession, path_str: str, payload: str) -> None:
    fs, path = _hfs(spark, path_str)
    out = fs.create(path, True)
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path_str: str) -> Optional[str]:
    fs, path = _hfs(spark, path_str)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _batch_dirs(
    spark: SparkSession, store_dir: str, upto_batch_id: Optional[int] = None
) -> list:
    """``batch-<k>`` (k < upto) and ``compacted-<m>`` (m < upto) subdirs,
    oldest first.  ``upto_batch_id=None`` lists everything.

    Only the HIGHEST ``compacted-`` base counts, and a ``batch-<k>``
    with ``k <= max compacted id`` is EXCLUDED: compaction folds every
    older base and every committed batch dir into the new base and
    renames it live BEFORE deleting the folded dirs, so any such dir is
    a leftover from a crash between those two steps whose rows the base
    already contains — counting it would double them.  ``compact_stores``
    deletes leftovers on its next run."""
    tagged = []
    for name in _child_names(spark, store_dir):
        for prefix in ("batch-", "compacted-"):
            if name.startswith(prefix):
                try:
                    k = int(name[len(prefix):])
                except ValueError:
                    continue
                tagged.append((prefix, k, name))
    max_compacted = max(
        (k for prefix, k, _ in tagged if prefix == "compacted-"), default=-1
    )
    return [
        _join(store_dir, name)
        for prefix, k, name in tagged
        if not (prefix == "batch-" and k <= max_compacted)
        and not (prefix == "compacted-" and k < max_compacted)
        and (upto_batch_id is None or k < upto_batch_id)
    ]


def _read_store_dirs(
    spark: SparkSession,
    store_dir: str,
    upto_batch_id: Optional[int],
    merge_schema: bool = False,
) -> Optional[DataFrame]:
    dirs = [
        d
        for d in _batch_dirs(spark, store_dir, upto_batch_id)
        # a replay attempt may have left an empty/partial dir; parquet
        # read of a dir with no part files fails, so require one
        if any(f.endswith(".parquet") for f in _child_names(spark, d))
    ]
    if not dirs:
        return None
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*dirs)


# ---------------------------------------------------------------------------
# Table backend: one partitioned catalog table per store
# ---------------------------------------------------------------------------


def _table_batch_ids(spark: SparkSession, table: str) -> list:
    """Sorted ``_ingest_batch_id`` partition values (metadata-only)."""
    if not spark.catalog.tableExists(table):
        return []
    ids = []
    for row in spark.sql(f"SHOW PARTITIONS {table}").collect():
        part = row[0]  # '_ingest_batch_id=3'
        if part.startswith(_BATCH_COL + "="):
            ids.append(int(part.split("=", 1)[1]))
    return sorted(ids)


def _dynamic_overwrite(spark: SparkSession, df: DataFrame, table: str):
    """``INSERT OVERWRITE`` replacing ONLY the partitions present in
    *df*.  The mode must be set as the SESSION conf for the duration of
    the write: ``insertInto`` does not forward ``DataFrameWriter``
    options, and under the default ``static`` mode an overwrite
    truncates the WHOLE table (measured: it wiped batch 0 when batch 1
    landed).  Restored afterwards so other writers see their own
    setting."""
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


def _write_delta_table(df: DataFrame, table: str, batch_id: int) -> None:
    """Replay-safe slot write: dynamic overwrite of partition *batch_id*
    only — re-running the same batch replaces its previous (possibly
    partial) attempt and touches nothing else.  On Iceberg this is
    ``writeTo(...).overwritePartitions()`` — one atomic commit.

    The delta's plan usually READS the same store table it advances
    (the increment anti-joins the batch against the store); the V1
    session catalog refuses a self-referencing overwrite
    (UNSUPPORTED_OVERWRITE), so the BATCH-sized delta is materialized
    with ``localCheckpoint`` first — lineage cut, table read finished
    before the write starts.  Iceberg's snapshot isolation makes this
    unnecessary in production (the read pins the pre-write snapshot),
    but the cut is cheap (O(batch), never O(corpus)) and keeps the
    mechanics identical across backends."""
    spark = df.sparkSession
    out = df.withColumn(_BATCH_COL, F.lit(batch_id))
    if not spark.catalog.tableExists(table):
        out.write.partitionBy(_BATCH_COL).mode("overwrite").saveAsTable(table)
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


def _read_store_table(
    spark: SparkSession, table: str, upto_batch_id: Optional[int]
) -> Optional[DataFrame]:
    ids = _table_batch_ids(spark, table)
    if upto_batch_id is not None:
        ids = [k for k in ids if k < upto_batch_id]
    if not ids:
        return None
    df = spark.table(table)
    if upto_batch_id is not None:
        # partition-pruned scan: only slots below the replay horizon
        df = df.filter(F.col(_BATCH_COL) < upto_batch_id)
    return df.drop(_BATCH_COL)


def _meta_put(spark: SparkSession, store_root: str, key: str, value: str):
    table = _table_name(store_root, "meta")
    row = {"key": key, "value": value}
    if not spark.catalog.tableExists(table):
        driver_frame(spark, [row], _META_SCHEMA).write.mode("overwrite").saveAsTable(
            table
        )
        return
    others = spark.table(table).filter(F.col("key") != key).collect()
    driver_frame(
        spark, [r.asDict() for r in others] + [row], _META_SCHEMA
    ).write.mode("overwrite").insertInto(table, overwrite=True)


def _meta_get(spark: SparkSession, store_root: str, key: str):
    table = _table_name(store_root, "meta")
    if not spark.catalog.tableExists(table):
        return None
    row = spark.table(table).filter(F.col("key") == key).first()
    return row["value"] if row is not None else None


# ---------------------------------------------------------------------------
# Backend dispatch
# ---------------------------------------------------------------------------


def _read_store(
    spark: SparkSession,
    store_root: str,
    sub: str,
    upto_batch_id: Optional[int],
) -> Optional[DataFrame]:
    if _is_table_root(store_root):
        return _read_store_table(
            spark, _table_name(store_root, sub), upto_batch_id
        )
    return _read_store_dirs(
        spark,
        _join(store_root, sub),
        upto_batch_id,
        # dir quarantines may mix pre-lineage batches (no _spec_hash)
        merge_schema=(sub == _QUARANTINE),
    )


def _write_delta(
    df: DataFrame, store_root: str, sub: str, batch_id: int
) -> None:
    if _is_table_root(store_root):
        _write_delta_table(df, _table_name(store_root, sub), batch_id)
    else:
        df.write.mode("overwrite").parquet(
            _join(store_root, sub, f"batch-{batch_id}")
        )


def _spec_put(
    spark: SparkSession, store_root: str, spec_hash: str, payload: str
) -> None:
    """Content-addressed spec registry: idempotent under replay (the
    same hash maps to the same bytes; duplicates are deduped on read)."""
    if _is_table_root(store_root):
        table = _table_name(store_root, "specs")
        rows = driver_frame(
            spark, [{"spec_hash": spec_hash, "spec_json": payload}], _SPECS_SCHEMA
        )
        if not spark.catalog.tableExists(table):
            rows.write.mode("overwrite").saveAsTable(table)
        elif (
            spark.table(table)
            .filter(F.col("spec_hash") == spec_hash)
            .first()
            is None
        ):
            rows.write.mode("append").insertInto(table)
        return
    spec_file = _join(store_root, _SPECS_DIR, f"{spec_hash}.json")
    if _read_text(spark, spec_file) is None:
        _write_text(spark, spec_file, payload)


def _marker_put(spark: SparkSession, store_root: str, query_id: str) -> None:
    if _is_table_root(store_root):
        _meta_put(spark, store_root, _ACTIVE_MARKER, query_id)
    else:
        _write_text(spark, _join(store_root, _ACTIVE_MARKER), query_id)


def _marker_get(spark: SparkSession, store_root: str):
    if _is_table_root(store_root):
        return _meta_get(spark, store_root, _ACTIVE_MARKER)
    return _read_text(spark, _join(store_root, _ACTIVE_MARKER))


# ---------------------------------------------------------------------------
# The per-micro-batch increment
# ---------------------------------------------------------------------------


def _make_batch_processor(
    store_root: str,
    id_col: str,
    text_col: str,
    increment_kwargs: dict,
    model: Optional[type] = None,
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` body, factored out so tests can drive it
    directly (including replaying a batch id to pin idempotence)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        from ..operators.pipeline import prepare_training_increment

        if model is not None:
            # schema/constraint gate FIRST (the north-rule order: a
            # malformed page must never reach the dedup stores); the
            # quarantine rides the same replay-safe slot protocol,
            # violation rows keep their _violations check names PLUS the
            # spec hash that flagged them — lineage that survives
            # compaction because it rides IN the rows, with the full
            # spec JSON content-addressed in the spec registry
            from .validate import quarantine_split

            batch_df, quarantine, spec_hash = quarantine_split(batch_df, model)
            _spec_put(spark, store_root, spec_hash, model.spec_json())
            _write_delta(quarantine, store_root, _QUARANTINE, batch_id)
        fp_store = _read_store(spark, store_root, _FINGERPRINTS, batch_id)
        sig_store = _read_store(spark, store_root, _SIGNATURES, batch_id)
        survivors, fp_delta, sig_delta = prepare_training_increment(
            batch_df,
            id_col,
            text_col,
            fingerprint_store=fp_store,
            signature_store=sig_store,
            **increment_kwargs,
        )
        for sub, df in (
            (_SURVIVORS, survivors),
            (_FINGERPRINTS, fp_delta),
            (_SIGNATURES, sig_delta),
        ):
            _write_delta(df, store_root, sub, batch_id)

    return _process


def crawl_ingest_stream(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    store_root: str,
    checkpoint_dir: str,
    lang_col: Optional[str] = None,
    allowed_langs: Optional[Sequence[str]] = None,
    min_chars: Optional[int] = None,
    min_quality: Optional[float] = None,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int = 64,
    model: Optional[type] = None,
):
    """Start the ingest query: each micro-batch is (optionally) validated
    against *model* with violation rows quarantined, then filtered and
    deduped exactly and near-exactly against the accumulated corpus state
    under *store_root*, and its survivors + store deltas are committed
    replay-safely (see module docstring).  Returns the
    ``StreamingQuery``; the source offsets live in *checkpoint_dir*, so a
    restarted stream resumes at the first unprocessed batch with the
    stores exactly where the crash left them.

    *store_root* — a filesystem root (bare path or ``file:/hdfs://s3a:``
    URI) for the directory backend, or ``table:<prefix>`` for
    catalog-table stores (see module docstring).

    *model* — a ``patito_spark.Model``; rows failing its row-level checks
    land in the quarantine store with a ``_violations`` column naming the
    failed checks and a ``_spec_hash`` column naming the model spec
    version that flagged them (:func:`read_quarantine` reads them back,
    :func:`read_quarantine_specs` resolves the hashes), and never touch
    the dedup stores.

    An active-query marker carrying the query's persistent id is written
    under *store_root* so :func:`compact_stores` can refuse to race a
    live stream.
    """
    processor = _make_batch_processor(
        store_root,
        id_col,
        text_col,
        model=model,
        increment_kwargs=dict(
            lang_col=lang_col,
            allowed_langs=allowed_langs,
            min_chars=min_chars,
            min_quality=min_quality,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            max_bucket_size=max_bucket_size,
        ),
    )
    query = (
        stream_df.writeStream.foreachBatch(processor)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    # query.id is the checkpoint-persistent id (stable across restarts);
    # overwriting on every start keeps the marker current
    _marker_put(stream_df.sparkSession, store_root, str(query.id))
    return query


def read_ingested_corpus(spark: SparkSession, store_root: str) -> DataFrame:
    """Every survivor the stream has committed so far."""
    df = _read_store(spark, store_root, _SURVIVORS, None)
    if df is None:
        raise ValueError(f"no ingested batches under {store_root!r}")
    return df


def read_quarantine(spark: SparkSession, store_root: str) -> DataFrame:
    """Every quarantined (model-violating) row the stream has committed,
    with the ``_violations`` check names and the ``_spec_hash`` of the
    model spec that flagged the row (directory backends bridge
    pre-lineage batch dirs via ``mergeSchema``: their rows read as
    ``_spec_hash = NULL``)."""
    df = _read_store(spark, store_root, _QUARANTINE, None)
    if df is None:
        raise ValueError(f"no quarantined batches under {store_root!r}")
    return df


def read_quarantine_specs(spark: SparkSession, store_root: str) -> dict:
    """``{spec_hash: spec_json}`` for every model spec version that ever
    quarantined a row under *store_root* — feed the JSON to
    ``patito_spark.spec.model_from_spec_json`` (or ``evolution.py``'s
    ``diff_models``) to attribute violations across model evolution."""
    if _is_table_root(store_root):
        table = _table_name(store_root, "specs")
        if not spark.catalog.tableExists(table):
            return {}
        return {
            r["spec_hash"]: r["spec_json"]
            for r in spark.table(table).collect()
        }
    specs_dir = _join(store_root, _SPECS_DIR)
    out = {}
    for name in _child_names(spark, specs_dir):
        if name.endswith(".json"):
            out[name[: -len(".json")]] = _read_text(
                spark, _join(specs_dir, name)
            )
    return out


def _assert_stream_stopped(spark: SparkSession, store_root: str) -> None:
    """Refuse to compact while the marker's query id is live.

    Scope: ``spark.streams.active`` sees THIS application's queries — a
    stream started from a different Spark application is not visible,
    so run compaction from the same application that owns the stream
    (the natural deployment: stop query → compact → restart within one
    driver), or gate externally."""
    marker = _marker_get(spark, store_root)
    if marker is not None and marker in {
        str(q.id) for q in spark.streams.active
    }:
        raise RuntimeError(
            f"compact_stores: ingest query {marker} over {store_root!r} is "
            "still active — stop the stream first (compacting mid-stream "
            "races the k < batch_id read rule)"
        )


def _compact_dirs(spark: SparkSession, store_root: str) -> dict:
    # the newest batch id ANYWHERE under the root is the one id that may
    # not be offset-committed yet; every id strictly below it is
    # committed (Structured Streaming commits batches in order)
    newest = -1
    for sub in _STORES:
        for d in _batch_dirs(spark, _join(store_root, sub)):
            name = d.rsplit("/", 1)[1]
            if name.startswith("batch-"):
                newest = max(newest, int(name.split("-", 1)[1]))
    folded = {}
    for sub in _STORES:
        store_dir = _join(store_root, sub)
        fs_pre, _ = _hfs(spark, store_dir)
        PathCls = spark._jvm.org.apache.hadoop.fs.Path
        live = {d.rsplit("/", 1)[1] for d in _batch_dirs(spark, store_dir)}
        for name in _child_names(spark, store_dir):
            # leftovers of a crashed previous compaction: batch dirs the
            # read rule already ignores (id <= max compacted id) and
            # orphaned _compacting tmp dirs
            prefix = next(
                (
                    p
                    for p in ("batch-", "compacted-", "_compacting-")
                    if name.startswith(p)
                ),
                None,
            )
            if prefix is None or name in live:
                continue
            try:
                int(name[len(prefix):])
            except ValueError:
                continue
            fs_pre.delete(PathCls(_join(store_dir, name)), True)
        dirs = [
            d
            for d in _batch_dirs(spark, store_dir)
            if d.rsplit("/", 1)[1] != f"batch-{newest}"
        ]
        if len(dirs) < 2:
            folded[sub] = 0
            continue
        max_id = max(int(d.rsplit("-", 1)[1]) for d in dirs)
        reader = spark.read
        if sub == _QUARANTINE:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*dirs)
        fs, _ = _hfs(spark, store_dir)
        Path = spark._jvm.org.apache.hadoop.fs.Path
        tmp = _join(store_dir, f"_compacting-{max_id}")
        final = _join(store_dir, f"compacted-{max_id}")
        df.write.mode("overwrite").parquet(tmp)
        # rename FIRST (Hadoop rename returns False instead of raising —
        # check it), delete the folded dirs only once the base is live:
        # a crash between the two leaves leftovers the read rule ignores
        # (see _batch_dirs) and this function sweeps next time — never a
        # data hole, never a double count.
        if not fs.rename(Path(tmp), Path(final)):
            raise IOError(
                f"compact_stores: rename {tmp} -> {final} failed; "
                "folded directories left untouched"
            )
        for d in dirs:
            fs.delete(Path(d), True)
        folded[sub] = len(dirs)
    return folded


def _compact_tables(spark: SparkSession, store_root: str) -> dict:
    """Rewrite committed partitions in place with coalesced files (one
    task per batch id → ~one file per slot).  Ids and read rules are
    untouched, so the rewrite is replay-transparent; a crash mid-write
    of a partition is the table format's problem on Iceberg/Delta
    (atomic commit) — the V1 session catalog demonstrates mechanics
    only.  The newest batch partition is never rewritten."""
    newest = -1
    for sub in _STORES:
        ids = _table_batch_ids(spark, _table_name(store_root, sub))
        if ids:
            newest = max(newest, ids[-1])
    folded = {}
    for sub in _STORES:
        table = _table_name(store_root, sub)
        ids = [k for k in _table_batch_ids(spark, table) if k < newest]
        if len(ids) < 2:
            folded[sub] = 0
            continue
        cols = spark.table(table).columns
        # self-referencing overwrite: V1 needs the read finished before
        # the write (localCheckpoint, disk-backed on executors); on
        # Iceberg use rewrite_data_files instead — snapshot-isolated,
        # no materialization
        folded_df = (
            spark.table(table)
            .filter(F.col(_BATCH_COL) < newest)
            .repartition(len(ids), F.col(_BATCH_COL))
            .localCheckpoint(eager=True)
        )
        _dynamic_overwrite(spark, folded_df.select(*cols), table)
        folded[sub] = len(ids)
    return folded


def compact_stores(spark: SparkSession, store_root: str) -> dict:
    """Compact per-batch store slots (run while the stream is STOPPED —
    refuses otherwise).  Never touches the newest batch slot (see module
    docstring: the maximum batch id may be an uncommitted attempt whose
    replay must still see the pre-batch store state).  Returns
    ``{store: n_slots_folded}``."""
    _assert_stream_stopped(spark, store_root)
    if _is_table_root(store_root):
        return _compact_tables(spark, store_root)
    return _compact_dirs(spark, store_root)
