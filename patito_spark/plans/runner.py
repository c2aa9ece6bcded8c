"""Partition-granular validation runs: verdicts, violation rows, resume.

The reference raises one in-memory exception and forgets everything
(``DataFrameValidationError``); the north rule requires the patito error
taxonomy to be *persisted*: per-partition pass/fail verdicts and typed
violation rows written to a checkpoint table with lineage + metrics, so an
interrupted 10^12-row run resumes at partition granularity.

Execution plan per run (SURVEY §4.3):

1. **Job 0 (driver)** — the model is compiled once per schema
   (``plans.checks.compile_checks``, memoized across calls); its
   schema-level errors (missing/superfluous/dtype) are stored once per
   checkpoint with ``partition = '*'``.
2. **pending = partitions ∉ checkpoint** — the verdict store's (partition,
   run_id) pairs are collected once (even 10^12 rows is ~10^4-10^5 date
   partitions) and the finished partitions are filtered out of the scan.
3. **Job 1 (+1a, 1b, explode jobs)** — the checks' aggregate executor
   keyed by partition: ``groupBy(partition).agg(ALL check terms)`` over
   the pending partitions (the lineage sample riding along), the
   per-partition enum samples, the mixed-constraint pass 2, and one
   exploded frame per list-of-struct column.  Aggregate and mixed
   constraints are therefore evaluated **per partition**.
4. **Job 2** — global uniqueness with per-partition attribution: each
   unique value is hashed *before* the shuffle into ``find_errors``'
   xxhash64 pair (``plans.checks._key_hashes``); ``groupBy(column, h1, h2,
   partition)`` gives the local counts (the partials), one ``(column, h1,
   h2)`` window the global totals, and one ``groupBy(partition, column)``
   charges each partition its members of duplicated groups.
5. Verdicts + violations appended as one write each, built on the driver
   as Arrow-backed local relations (``sources.io.driver_frame``).

Job 1 and the scan side of Job 2 run concurrently, as do the two writes
of step 5 (``plans.checks._concurrently``: the second branch runs on a
``pyspark.InheritableThread``, keeping the caller's job group; the first
exception is re-raised).  Stores are read with their known schemas (an
unschema'd parquet read launches a schema-inference job).

Resume and global uniqueness: finished partitions are never re-scanned, so
every checkpointed run persists its partials to a third store
(``unique_keys``, 16 bytes per distinct key — the one checkpoint artifact
that scales with data) before anything is charged, then reads the store
back once: a row is trusted iff its (partition, run_id) matches a
persisted verdict (a finished run's) or this call's pending partitions,
and one charge job computes the merged charge and the finished runs' own.
Pending partitions are charged against the merged totals; a finished
partition that joined a cross-boundary duplicate group gets delta
violation rows (merged minus prior charge) and one more, failed, verdict
row with ``n_rows = 0`` — a partition's stored verdict is the AND of its
rows, its counts their sums.  The cumulative stores therefore always say
what one uninterrupted run would have said.  A run without a checkpoint
has nothing to resume from and charges straight from the scan.

Crash safety: partials written by a call that died before its verdicts
match no trust key and drop out; a caller-chosen run_id that owns such
orphans is refused, since they would be indistinguishable from its own.
A checkpoint that still holds the legacy md5-hex ``unique_partials`` store
is refused before anything is written, so the two formats never mix.

Checkpoint storage is a parquet directory triple (``verdicts/``,
``violations/``, ``unique_keys/``) written with append, or the
``<checkpoint_table>_{verdicts,violations,unique_keys}`` catalog tables
written through ``sources.io.write_report_table`` — under an Iceberg
catalog those appends are snapshot commits.
"""

from __future__ import annotations

import time
import uuid
from functools import reduce
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import get_exc_type
from .checks import (
    _aggregate,
    _concurrently,
    _transform_df,
    compile_checks,
    count_error,
    scope_frames,
)

#: the partition key column every runner frame carries
_KEY = "_partition"

#: one row per partition a run validated, plus one failed row (``n_rows``
#: 0) per finished partition a later run charges retroactively
VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.StringType()),
        T.StructField("passed", T.BooleanType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_violations", T.LongType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("finished_at", T.DoubleType()),
        T.StructField("elapsed_sec", T.DoubleType()),
        # per-partition lineage: the source files this partition's rows came
        # from (capped sample; '' for non-file sources) — the north rule
        # persists lineage next to the verdicts so an interrupted run can be
        # traced back to its inputs
        T.StructField("input_files", T.ArrayType(T.StringType())),
    ]
)

#: lineage cap — at web scale one partition can span thousands of files;
#: the verdict row keeps a bounded sorted sample
_LINEAGE_FILE_CAP = 64

#: resume partials: one row per (partition, unique column, key hash
#: pair) with its local member count.  Hashes, never raw key values, are
#: persisted — bounded width and no payload leakage into the checkpoint.
UNIQUE_KEYS_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("h1", T.LongType()),
        T.StructField("h2", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("run_id", T.StringType()),
    ]
)

#: the partials store, and the name of its legacy md5-hex format
_UNIQUE_STORE = "unique_keys"
_LEGACY_UNIQUE_STORE = "unique_partials"

#: trust keys for the partials read-back: one row per persisted verdict
#: (``_prior``) plus one per partition this call is validating
_TRUST_SCHEMA = T.StructType(
    [
        T.StructField("_kp", T.StringType()),
        T.StructField("_kr", T.StringType()),
        T.StructField("_prior", T.BooleanType()),
    ]
)

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("error_type", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("violation_count", T.LongType()),
        T.StructField("run_id", T.StringType()),
    ]
)

_STORE_SCHEMAS = {
    "verdicts": VERDICT_SCHEMA,
    "violations": VIOLATION_SCHEMA,
    _UNIQUE_STORE: UNIQUE_KEYS_SCHEMA,
}


class RunResult:
    def __init__(
        self,
        run_id: str,
        verdicts: list,
        violations: list,
        skipped_partitions: list,
        passed: bool,
    ) -> None:
        self.run_id = run_id
        self.verdicts = verdicts
        self.violations = violations
        self.skipped_partitions = skipped_partitions
        #: the checkpoint's verdict after this call: every verdict row it
        #: wrote (retroactive ones included) and every row stored before it
        #: passed — so a re-run with nothing pending still fails on failed
        #: stored partitions
        self.passed = passed

    def __repr__(self) -> str:  # pragma: no cover
        return (
            f"RunResult(run_id={self.run_id!r}, partitions={len(self.verdicts)}, "
            f"skipped={len(self.skipped_partitions)}, passed={self.passed})"
        )


class ValidationRunner:
    """Checkpointed, resumable, per-partition validation of a model spec.

    ``partition_col`` names an existing column (derive one with
    ``withColumn`` before :meth:`run`) — at real scale use the table's
    physical partition column so the filter prunes at the scan.
    """

    def __init__(
        self,
        model: type,
        partition_col: str,
        checkpoint_dir: Optional[str] = None,
        checkpoint_table: Optional[str] = None,
        unique_resume: str = "exact",
    ) -> None:
        # kept only because perfbench/run.py still passes unique_resume="exact"
        if unique_resume != "exact":
            raise ValueError(
                "unique_resume='local' is gone: every checkpointed run charges "
                "cross-run duplicates exactly"
            )
        self.model = model
        self.partition_name = partition_col
        if checkpoint_dir and checkpoint_table:
            raise ValueError(
                "pass checkpoint_dir (parquet path) OR checkpoint_table "
                "(catalog table), not both"
            )
        self.checkpoint_dir = checkpoint_dir
        #: catalog checkpoint (the north rule persists verdicts + lineage to
        #: a checkpoint TABLE): verdicts land in <name>_verdicts and
        #: violations in <name>_violations via the V2 writer — real Iceberg
        #: snapshot commits under an Iceberg catalog
        self.checkpoint_table = checkpoint_table

    # -- checkpoint I/O --------------------------------------------------------
    def _location(self, store: str) -> Optional[str]:
        """The catalog table or directory that holds *store*."""
        if self.checkpoint_table:
            return f"{self.checkpoint_table}_{store}"
        if self.checkpoint_dir:
            return f"{self.checkpoint_dir}/{store}"
        return None

    def _exists(self, spark: SparkSession, store: str) -> bool:
        """Whether *store* was ever written: a catalog lookup, or an
        ``exists`` on the Hadoop FileSystem — no Spark job either way."""
        location = self._location(store)
        if location is None:
            return False
        if self.checkpoint_table:
            return spark.catalog.tableExists(location)
        path = spark._jvm.org.apache.hadoop.fs.Path(location)
        fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        return fs.exists(path)

    def _read(self, spark: SparkSession, store: str) -> Optional[DataFrame]:
        """One checkpoint store (``verdicts``, ``violations`` or
        ``unique_keys``); None before its first write.  A directory store
        is read with its known schema, so no schema-inference job runs."""
        if not self._exists(spark, store):
            return None
        if self.checkpoint_table:
            return spark.table(self._location(store))
        return spark.read.schema(_STORE_SCHEMAS[store]).parquet(
            self._location(store)
        )

    def _stored(self, spark: SparkSession, store: str) -> DataFrame:
        """:meth:`_read`, raising while *store* has never been written."""
        df = self._read(spark, store)
        if df is None:
            raise AnalysisException(f"nothing written to the {store} store yet")
        return df

    def _append(self, df: DataFrame, store: str) -> None:
        if self.checkpoint_table:
            from ..sources.io import write_report_table

            write_report_table(df, self._location(store))
        elif self.checkpoint_dir:
            df.write.mode("append").parquet(self._location(store))

    def _stored_verdicts(self, spark: SparkSession) -> tuple:
        """``(keys, passed)``: the ``(partition, run_id)`` of every persisted
        verdict, and whether every one of them passed.  The verdict store's
        one read per call (one row per finished partition), deduplicated on
        the driver — a ``distinct`` would cost a shuffle."""
        verdicts = self._read(spark, "verdicts")
        if verdicts is None:
            return [], True
        rows = verdicts.select("partition", "run_id", "passed").collect()
        return (
            list({(r["partition"], r["run_id"]) for r in rows}),
            all(r["passed"] for r in rows),
        )

    def _refuse_legacy_store(self, spark: SparkSession) -> None:
        """The runner never mixes key-store formats: a checkpoint that still
        holds the legacy md5-hex partials store is refused before anything
        is written.  An existence check only, no Spark job."""
        if self._exists(spark, _LEGACY_UNIQUE_STORE):
            raise ValueError(
                f"checkpoint holds a legacy {_LEGACY_UNIQUE_STORE!r} store "
                f"({self._location(_LEGACY_UNIQUE_STORE)}) that this runner "
                "can no longer read. Start a fresh checkpoint."
            )

    def _refuse_orphaned_run_id(
        self, spark: SparkSession, run_id: str, verdict_keys: list
    ) -> None:
        """A caller-chosen run_id must not own orphan partials (rows written
        by a call that died before its verdicts): this call's own partials
        would share their (partition, run_id) trust key, and both copies
        would be trusted once the verdicts land."""
        stored = self._read(spark, _UNIQUE_STORE)
        if stored is None:
            return
        finished = {p for p, r in verdict_keys if r == run_id}
        orphans = stored.filter(
            (F.col("run_id") == run_id) & _outside(F.col("partition"), finished)
        )
        if orphans.limit(1).count():
            raise ValueError(
                f"run_id {run_id!r} already holds unique partials of a call "
                "that never wrote its verdicts; they cannot be told from "
                "this call's own. Retry under a new run_id."
            )

    def _unstored(self, spark: SparkSession, schema_rows: list) -> list:
        """*schema_rows* minus those an earlier run stored (same column,
        error type and message): one read of the violations store."""
        key = ("column", "error_type", "message")
        stored = self._read(spark, "violations")
        if stored is None:
            return schema_rows
        stored = stored.filter(F.col("partition") == "*").select(*key)
        seen = set(map(tuple, stored.collect()))
        return [v for v in schema_rows if tuple(map(v.get, key)) not in seen]

    def _persist_unique_partials(self, partials: DataFrame, run_id: str) -> None:
        """Distributed append of this run's partials (NEVER collected —
        the partials dataset is O(distinct keys), not driver-sized)."""
        self._append(
            partials.select(
                F.col("_p").alias("partition"),
                F.col("k").alias("column"),
                "h1",
                "h2",
                "cnt",
                F.lit(run_id).alias("run_id"),
            ),
            _UNIQUE_STORE,
        )

    def _trusted_partials(
        self,
        spark: SparkSession,
        verdict_keys: list,
        run_id: str,
        pending: list,
    ) -> DataFrame:
        """The partials store, read once, as ``_p, k, h1, h2, cnt, _prior``.

        A row is trusted iff its (partition, run_id) matches a persisted
        verdict (``_prior``) or this call's own pending partitions.  Partials
        are written before verdicts, so a crash between the two writes
        leaves orphan rows that a re-run of the partition would otherwise
        double-count; they match neither and drop out.
        """
        from ..sources.io import driver_frame

        stored = self._stored(spark, _UNIQUE_STORE)
        keys = driver_frame(
            spark,
            [{"_kp": p, "_kr": r, "_prior": True} for p, r in verdict_keys]
            + [{"_kp": p, "_kr": run_id, "_prior": False} for p in pending],
            _TRUST_SCHEMA,
        )
        # eqNullSafe: the NULL partition's partials must survive the join
        cond = stored["partition"].eqNullSafe(keys["_kp"]) & (
            stored["run_id"] == keys["_kr"]
        )
        return stored.join(F.broadcast(keys), cond).select(
            F.col("partition").alias("_p"),
            F.col("column").alias("k"),
            "h1",
            "h2",
            "cnt",
            "_prior",
        )

    def _persist(
        self, spark: SparkSession, verdicts: list, violations: list
    ) -> None:
        if not (self.checkpoint_dir or self.checkpoint_table):
            return
        from ..sources.io import driver_frame

        def write(rows: list, schema: T.StructType, store: str) -> None:
            if rows:
                self._append(driver_frame(spark, rows, schema).coalesce(1), store)

        _concurrently(
            lambda: write(verdicts, VERDICT_SCHEMA, "verdicts"),
            lambda: write(violations, VIOLATION_SCHEMA, "violations"),
        )

    # -- run ---------------------------------------------------------------------
    def run(
        self,
        df: DataFrame,
        run_id: Optional[str] = None,
        where=None,
    ) -> RunResult:
        """Run validation over (pending ∩ *where*) partitions.

        ``where`` (Column or SQL string) scopes the run — it lands directly
        on the scan as a pushed filter, so scoping by the physical partition
        column prunes files before any byte is read (SURVEY §4.2: expose
        ``where=`` scoping on the run API).
        """
        spark = df.sparkSession
        chosen_run_id = run_id
        run_id = run_id or uuid.uuid4().hex[:12]
        t0 = time.time()
        model = self.model
        checkpointed = bool(self.checkpoint_dir or self.checkpoint_table)
        self._refuse_legacy_store(spark)

        if where is not None:
            df = df.filter(where)
        df = _transform_df(df, model)
        part = F.col(self.partition_name).cast("string")

        verdict_keys, stored_passed = self._stored_verdicts(spark)
        finished = {p for p, _ in verdict_keys}
        if finished:
            df = df.filter(_outside(part, finished))

        # Job 0: the model compiled once against the scan's schema; its
        # schema-level errors apply to the whole run.  The declared
        # partition column is runner plumbing: when it is NOT a model
        # column it is hidden (never superfluous), when it IS one (the
        # normal case) it stays visible or V1 would report it missing.
        plan = compile_checks(
            model,
            T.StructType(
                [
                    f
                    for f in df.schema.fields
                    if f.name != self.partition_name
                    or self.partition_name in model.__column_specs__
                ]
            ),
        )
        schema_violations = [
            _violation_row("*", e, run_id) for e in plan.schema_errors
        ]
        if schema_violations and verdict_keys:
            schema_violations = self._unstored(spark, schema_violations)

        # Job 1 (+1a/1b, explode jobs): the aggregate executor keyed by
        # partition.  Lineage rides the root scope's Job 1: a capped,
        # sorted sample of the source files behind each partition ('' =
        # non-file source, dropped).  input_file_name() is nondeterministic,
        # so it must be projected as a column BEFORE the aggregate (Spark
        # rejects it inside one).
        df = df.withColumn(_KEY, part).withColumn("_src_file", F.input_file_name())
        lineage = {
            "_rows": F.count(F.lit(1)),
            "_files": F.slice(
                F.sort_array(F.array_remove(F.collect_set("_src_file"), "")),
                1,
                _LINEAGE_FILE_CAP,
            ),
        }
        frames = scope_frames(df, plan, _KEY)

        def aggregates() -> tuple:
            per_partition_errors: dict = {}
            stats: dict = {}  # partition → its Job 1 row (_rows, _files)
            for p, (row, errs) in _aggregate(df, plan.root, _KEY, lineage).items():
                stats[p] = row
                per_partition_errors[p] = errs
            for scope in plan.scopes[1:]:
                for p, (_, errs) in _aggregate(frames[scope], scope, _KEY).items():
                    per_partition_errors[p].extend(errs)
            return per_partition_errors, stats

        # Job 2: uniqueness with per-partition attribution — each partition
        # is charged its own members of globally-duplicated groups
        partials = [
            _unique_partials(frames[s], F.col(_KEY), s.key_hashes)
            for s in plan.scopes
            if s.unique
        ]
        partials = reduce(DataFrame.unionByName, partials) if partials else None
        if partials is not None and checkpointed and chosen_run_id is not None:
            self._refuse_orphaned_run_id(spark, run_id, verdict_keys)

        def uniqueness() -> dict:
            """Job 2's half that needs nothing from Job 1."""
            if partials is None:
                return {}
            if checkpointed:
                # write partials BEFORE verdicts: a crash between the two
                # leaves orphan partials that _trusted_partials ignores
                self._persist_unique_partials(partials, run_id)
                return {}
            # nothing to resume from: this call's partials alone, straight
            # from the scan
            return _charge(partials.withColumn("_prior", F.lit(False)))

        (per_partition_errors, stats), charges = _concurrently(aggregates, uniqueness)
        retro: dict = {}  # finished partition → its retroactive delta rows
        if partials is not None and per_partition_errors:
            if checkpointed:
                charges = _charge(
                    self._trusted_partials(
                        spark, verdict_keys, run_id, list(per_partition_errors)
                    )
                )
            for (p, loc), (count, prior) in charges.items():
                if p in per_partition_errors:
                    per_partition_errors[p].append(count_error("unique", loc, count))
                elif count > prior:
                    # finished partition retroactively joined a
                    # cross-boundary duplicate group: emit the DELTA so the
                    # cumulative violation table equals what one
                    # uninterrupted run would have charged
                    retro.setdefault(p, []).append(
                        _violation_row(
                            p, count_error("unique", loc, count - prior), run_id
                        )
                    )

        finished_at = time.time()

        def verdict(p, part_violations: list, n_rows: int = 0, files=()) -> dict:
            return {
                "partition": p,
                "passed": not part_violations and not plan.schema_errors,
                "n_rows": n_rows,
                "n_violations": sum(v["violation_count"] for v in part_violations),
                "run_id": run_id,
                "finished_at": finished_at,
                "elapsed_sec": finished_at - t0,
                "input_files": list(files),
            }

        verdicts: list = []
        violations: list = list(schema_violations)
        for p, errs in per_partition_errors.items():
            part_violations = [_violation_row(p, e, run_id) for e in errs]
            violations.extend(part_violations)
            row = stats[p]
            verdicts.append(
                verdict(p, part_violations, int(row["_rows"]), row["_files"] or [])
            )
        # a finished partition charged retroactively fails from now on: it
        # gets one more stored verdict row (failed, no rows of its own)
        retro_verdicts = [verdict(p, rows) for p, rows in retro.items()]
        for rows in retro.values():
            violations.extend(rows)
        self._persist(spark, verdicts + retro_verdicts, violations)
        # None (the null partition's checkpoint key) sorts first
        skipped = sorted(finished, key=lambda p: (p is not None, p))
        passed = stored_passed and all(
            v["passed"] for v in verdicts + retro_verdicts
        )
        return RunResult(run_id, verdicts, violations, skipped, passed)

    def report(self, spark: SparkSession) -> DataFrame:
        """The persisted violations table for this checkpoint."""
        return self._stored(spark, "violations")

    def verdicts(self, spark: SparkSession) -> DataFrame:
        return self._stored(spark, "verdicts")


def _violation_row(partition, err, run_id: str) -> dict:
    """One ``VIOLATION_SCHEMA`` row for a wrapped error."""
    return {
        "partition": partition,
        "column": err.loc_tuple()[0],
        "error_type": get_exc_type(err.exc.__class__),
        "message": str(err.exc),
        "violation_count": int(getattr(err.exc, "count", 1)),
        "run_id": run_id,
    }


def _unique_partials(df: DataFrame, part, key_hashes) -> DataFrame:
    """Per-(partition, column, key) local member counts — one scan.

    Each value is hashed before the shuffle into ``find_errors``' xxhash64
    pair (*key_hashes*, the scope's compiled ``plans.checks._key_hashes``
    generator: 16 bytes cross the shuffle per key, not the raw value), then
    ``groupBy(column, h1, h2, partition)`` counts the members.  Output
    columns: ``_p, k, h1, h2, cnt``.
    """
    return (
        df.select(part.alias("_p"), key_hashes)
        .filter(F.col("k").isNotNull())
        .groupBy("k", "h1", "h2", "_p")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _charge(tagged: DataFrame) -> dict:
    """Each partition is charged its local member count of every
    (column, key) group whose GLOBAL total exceeds 1 — cross-partition
    duplicates are attributed to every partition that holds a member.

    One job over partials tagged ``_prior``: one ``(k, h1, h2)`` window computes
    the merged total and the prior-only total (a window, not an aggregate
    joined back, so the partials are read once), then one ``(_p, k)``
    aggregate sums both charges.  Output is driver-sized:
    ``{(partition, column): (charge, prior_charge)}``.
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    by_key = Window.partitionBy("k", "h1", "h2")
    prior_cnt = F.when(F.col("_prior"), F.col("cnt")).otherwise(F.lit(0))
    charged = (
        tagged.select(
            "_p",
            "k",
            "cnt",
            prior_cnt.alias("_prior_cnt"),
            F.sum("cnt").over(by_key).alias("_total"),
            F.sum(prior_cnt).over(by_key).alias("_prior_total"),
        )
        .filter(F.col("_total") > 1)
        .groupBy("_p", "k")
        .agg(
            F.sum("cnt").alias("dups"),
            F.sum(
                F.when(F.col("_prior_total") > 1, F.col("_prior_cnt")).otherwise(0)
            ).alias("prior_dups"),
        )
        .collect()
    )
    return {
        (r["_p"], r["k"]): (int(r["dups"]), int(r["prior_dups"])) for r in charged
    }


def _outside(col, values: set):
    """Null-safe ``col ∉ values``: ``~isin`` evaluates to NULL (row silently
    dropped) for a NULL cell, so the NULL partition — recorded as a NULL
    ``partition`` cell — is kept or skipped explicitly."""
    non_null = [v for v in values if v is not None]
    named = ~col.isin(*non_null) if non_null else F.lit(True)
    return (col.isNotNull() & named) | (col.isNull() & F.lit(None not in values))

