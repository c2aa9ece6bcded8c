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
``store_root`` is a store root of ``sources/store.py``, which makes the one
decision between its two backends: a filesystem root (bare path or any
``file:/`` / ``hdfs://`` / ``s3a://`` URI, through the Hadoop
``FileSystem`` API), where batch *n* writes ``<root>/<store>/batch-<n>``,
or ``table:<prefix>``, where each store is a catalog table
``<prefix>_<store>`` partitioned by ``_ingest_batch_id`` and the per-batch
slot is a PARTITION written by dynamic partition overwrite, the canonical
replay-safe exactly-once idiom for ``foreachBatch`` sinks.  On an Iceberg /
Delta catalog the same writes are transactional commits and ``k < n``
reads are snapshot-consistent partition-pruned scans.

Store lifecycle at scale
------------------------
Per-batch slots accumulate small files; :func:`compact_stores` folds them
while the stream is stopped (it refuses to race a live query — the
active-query marker + ``spark.streams.active`` check).  The NEWEST batch
slot is never touched: every batch id strictly below the maximum is
offset-committed, but the maximum itself may be an uncommitted attempt the
restarted stream will replay — folding it would make the replay read
nothing (``k < n`` excludes its own id) and double-count the batch.  How
each backend folds, and why a crash mid-fold is harmless: the backends'
``_fold`` in ``sources/store.py``.

Re-crawl replacement (``replace_in_store``) is deliberately NOT wired
into the hot streaming path — rewriting corpus-sized state per
micro-batch is the wrong tier; run it in the batch/backfill tier, the
same lambda split as ``streaming/dedup.py``.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..sources.store import Records, open_store

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
_ACTIVE_MARKER = "_active_query"

#: the active-query marker: the file ``<root>/_active_query``, or a row of
#: the ``<prefix>_meta`` table
_MARKER = Records("", "", "meta", "key", "value")
#: the content-addressed spec registry: ``quarantine/_specs/<hash>.json``
#: files, or the ``<prefix>_specs`` table (the same hash maps to the same
#: bytes, so a replayed put writes nothing)
_SPECS = Records(_QUARANTINE + "/_specs", ".json", "specs", "spec_hash", "spec_json")


def _read_store(
    spark: SparkSession,
    store_root: str,
    sub: str,
    upto_batch_id: Optional[int],
) -> Optional[DataFrame]:
    # dir quarantines may mix pre-lineage batches (no _spec_hash)
    return open_store(store_root).read_slots(
        spark, sub, upto_batch_id, merge_schema=(sub == _QUARANTINE)
    )


def _marker_put(spark: SparkSession, store_root: str, query_id: str) -> None:
    open_store(store_root).put_record(spark, _MARKER, _ACTIVE_MARKER, query_id)


def _marker_get(spark: SparkSession, store_root: str) -> Optional[str]:
    return open_store(store_root).get_record(spark, _MARKER, _ACTIVE_MARKER)


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

    store = open_store(store_root)

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
            store.put_record(spark, _SPECS, spec_hash, model.spec_json())
            store.write_slot(quarantine, _QUARANTINE, batch_id)
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
            store.write_slot(df, sub, batch_id)

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
    return open_store(store_root).read_records(spark, _SPECS)


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


def compact_stores(spark: SparkSession, store_root: str) -> dict:
    """Compact per-batch store slots (run while the stream is STOPPED —
    refuses otherwise).  Never touches the newest batch slot (see module
    docstring: the maximum batch id may be an uncommitted attempt whose
    replay must still see the pre-batch store state).  Returns
    ``{store: n_slots_folded}``."""
    _assert_stream_stopped(spark, store_root)
    return open_store(store_root).compact_slots(
        spark, _STORES, merge_schema=(_QUARANTINE,)
    )
