"""Connected components over candidate-pair graphs.

The missing stage between pair generation (MinHash/SimHash/embedding LSH
— ``operators.dedup``) and actual corpus deduplication: near-duplicate
pairs form a graph whose connected components are the duplicate CLUSTERS;
keeping one canonical document per component is what "dedup the corpus"
means operationally.  The reference has no graph machinery (patito
validates single tables); this is north-rule scale surface.

Algorithm: iterative minimum-label propagation WITH pointer-doubling.
Every node starts labelled with itself; each round (a) every node takes
the min of its own label and its neighbours' labels (one edge-join +
min-aggregate), then (b) labels shortcut through themselves
(``label ← label(label)``, one self-join), which halves remaining path
lengths — so convergence is O(log diameter) rounds, not O(diameter).
Near-duplicate graphs have tiny diameters anyway (clusters are
near-cliques from shared LSH buckets); real corpora settle in 2-4 rounds.
Lineage is cut with ``localCheckpoint`` every round so the plan stays
shallow instead of nesting one join per iteration — the standard Spark
trap for iterative algorithms.

Scale notes (100 TB): the edge list is the PAIR output, already bounded by
the LSH bucket gate (``_bucket_pairs``) — |edges| ≪ |corpus|.  Label
state is one row per node appearing in any pair (non-duplicates never
enter).  The per-round shuffle carries (node, label) pairs — two bigints.
A giant component (boilerplate cluster) degrades gracefully: min-label is
a plain aggregate, no per-component materialization anywhere.
"""

from __future__ import annotations

from typing import Optional

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Convergence bound: near-dup graphs have tiny diameters; 20 rounds covers
#: pathological chains of length 2^20 under pointer-doubling-free
#: propagation while still bounding a cyclic-input bug to finite work.
DEFAULT_MAX_ITERATIONS = 20


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = DEFAULT_MAX_ITERATIONS,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """``(node, component)`` for every node in *pairs*; ``component`` is the
    smallest node id in the node's connected component.

    Deterministic for any pair order/direction (edges are symmetrized).
    Raises ``RuntimeError`` if the propagation has not converged after
    ``max_iterations`` rounds — for near-duplicate graphs that means the
    input is not the bounded pair list this operator is built for.

    Checkpoint durability trade: by default each round's lineage cut uses
    ``localCheckpoint`` — blocks live on executor storage, so a LOST
    EXECUTOR mid-propagation fails the whole job with no recompute path
    (lineage was truncated).  Fine in local mode and for jobs cheap to
    rerun; on a large cluster pass ``checkpoint_dir=`` (an HDFS/object-
    store path) to use reliable ``checkpoint()`` instead: each round
    persists to fault-tolerant storage and survives executor loss, at the
    cost of one distributed write per round.  Labels are identical either
    way — only durability changes.

    Reliable-mode housekeeping: each CALL works under its own unique
    ``run-<id>`` subdirectory of *checkpoint_dir*, so concurrent or
    repeated ``connected_components`` runs sharing a *checkpoint_dir*
    never delete each other's files (an earlier run's final-round
    checkpoints stay valid for its returned DataFrame).  Within a run,
    rounds checkpoint into per-round subdirectories and each round's
    files are deleted as soon as the next round's checkpoint supersedes
    them (Spark itself never deletes checkpoints unless the non-default
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on).  The
    ``init`` subdir (the symmetrized edge list, read every round) and the
    FINAL round's subdir back the returned DataFrame — delete that run
    directory (or *checkpoint_dir*) only after consuming or persisting
    the result.

    The checkpoint directory is SESSION-GLOBAL state: while this operator
    runs in reliable mode, an app-level ``df.checkpoint()`` on the same
    SparkContext would land inside the current round subdir and be
    deleted when that round is superseded — do not run concurrent
    checkpoint users alongside a reliable-mode call.  On return the
    prior checkpoint-dir state is restored EXACTLY — the resolved
    ``<dir>/<uuid>`` Spark was using keeps being used (no re-resolution,
    no nesting, no path guessing), and if no dir was configured before
    the call the session returns to unset (a later bare
    ``df.checkpoint()`` raises Spark's own not-configured error instead
    of silently writing into this run's directory).
    """
    use_reliable = checkpoint_dir is not None
    if use_reliable:
        import uuid

        spark = pairs.sparkSession
        sc = spark.sparkContext
        # Snapshot the EXACT prior state (a Scala Option[String]) so the
        # finally-block can put it back verbatim — including the
        # None/unset case.  Regex-stripping a trailing uuid from the
        # resolved path (the pre-r7 approach) could mangle a configured
        # dir whose final segment legitimately looks like a uuid, and
        # could not restore "unset" at all.  checkpointDir is
        # private[spark] (public bytecode, py4j-reachable) and has been a
        # stable var on SparkContext since 0.x; if a future Spark removes
        # the setter we fall back to re-setting the resolved path (one
        # extra uuid nesting level per call, still under the same root).
        jsc = sc._jsc.sc()
        prev_opt = jsc.getCheckpointDir()

        def _restore_prev() -> None:
            # py4j's __getattr__ always hands back a JavaMember whether
            # or not the JVM method exists, so a getattr(...)-is-None
            # probe can never select the fallback — the absence only
            # surfaces as Py4JError AT CALL TIME.  Catch it there so a
            # Spark that drops the private setter degrades to
            # re-setting the resolved path (one extra uuid nesting
            # level, same root) instead of raising inside finally and
            # masking the original exception.
            try:
                getattr(jsc, "checkpointDir_$eq")(prev_opt)
            except Py4JError:
                if prev_opt.isDefined():
                    sc.setCheckpointDir(prev_opt.get())

        run_dir = f"{checkpoint_dir}/run-{uuid.uuid4().hex[:12]}"

        def _set_dir(name: str) -> None:
            sc.setCheckpointDir(f"{run_dir}/{name}")

        def _delete_dir(name: str) -> None:
            try:
                path = spark._jvm.org.apache.hadoop.fs.Path(
                    f"{run_dir}/{name}"
                )
                fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
                fs.delete(path, True)
            except Exception:  # noqa: BLE001 — cleanup is best-effort
                pass

        _set_dir("init")

        def _cut(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:

        def _cut(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    try:
        return _propagate(
            pairs, a_col, b_col, max_iterations, _cut,
            _set_dir if use_reliable else None,
            _delete_dir if use_reliable else None,
        )
    finally:
        if use_reliable:
            _restore_prev()


def _propagate(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    max_iterations: int,
    _cut,
    _set_dir,
    _delete_dir,
) -> DataFrame:
    edges = _cut(
        pairs.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .unionByName(
            pairs.select(F.col(b_col).alias("_a"), F.col(a_col).alias("_b"))
        )
        .distinct()
    )
    labels = _cut(
        edges.select(F.col("_a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
    )
    for _round in range(max_iterations):
        # (a) candidate labels reaching each node through one edge hop
        via_edges = (
            edges.join(labels, edges["_a"] == labels["node"])
            .select(F.col("_b").alias("node"), "component")
        )
        hopped = (
            labels.unionByName(via_edges)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # (b) pointer-doubling shortcut: follow the label's own label, so a
        # length-L min-label path collapses in O(log L) rounds.  component
        # values are node ids, so the self-join resolves every pointer; the
        # coalesce is pure defensiveness for a component id equal to its
        # own node (root) — the join still hits, but NULL-safety is free.
        ptr = hopped.select(
            F.col("node").alias("_c"), F.col("component").alias("_cc")
        )
        shortcut = hopped.join(
            ptr, hopped["component"] == ptr["_c"], "left"
        ).select("node", F.coalesce("_cc", "component").alias("component"))
        # fold the convergence flag into the SAME materialization: the
        # checkpoint is the one expensive action per round, and the change
        # count afterwards is a scan of the already-materialized partitions
        if _set_dir is not None:
            _set_dir(f"round-{_round}")
        flagged = _cut(
            shortcut.join(
                labels.select(
                    "node", F.col("component").alias("_old")
                ),
                "node",
            )
            .select(
                "node",
                "component",
                (F.col("component") != F.col("_old")).alias("_ch"),
            )
        )
        # this round's checkpoint supersedes the previous round's files
        # (edges live in 'init' and are never deleted mid-run)
        if _delete_dir is not None and _round > 0:
            _delete_dir(f"round-{_round - 1}")
        changed = flagged.filter(F.col("_ch")).count()
        labels = flagged.select("node", "component")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "iterations — input does not look like a bounded near-dup pair list"
    )


def drop_near_duplicates(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    keep_by: Optional[Column] = None,
) -> DataFrame:
    """Keep one canonical document per near-duplicate cluster: resolve
    *pairs* into components, then anti-join the non-canonical members out
    of *df*.

    By default the smallest id survives.  With ``keep_by`` (e.g.
    ``F.col("quality_score").desc()``) the best row per cluster survives
    instead — the usual production choice: near-duplicates differ in
    boilerplate/truncation, and dedup should keep the best copy, with id
    ascending as the deterministic tiebreaker.

    The loser set is |nodes in pairs| − |clusters| rows — small relative to
    the corpus — so the anti join broadcasts under AQE and the corpus never
    shuffles.  The ``keep_by`` ranking runs only over pair members (a
    window per component on the small side), never the corpus.
    """
    comps = connected_components(pairs, a_col, b_col)
    if keep_by is None:
        losers = comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("_pt_node")
        )
    else:
        from pyspark.sql.window import Window  # noqa: PLC0415

        # _pt_-prefixed internals so a df that already has node/component/
        # _rk columns (or a keep_by referencing them) cannot collide with
        # the join bookkeeping
        scored = comps.select(
            F.col("node").alias("_pt_node"),
            F.col("component").alias("_pt_component"),
        ).join(df, F.col("_pt_node") == df[id_col])
        w = Window.partitionBy("_pt_component").orderBy(
            keep_by, F.col("_pt_node").asc()
        )
        losers = (
            scored.withColumn("_pt_rk", F.row_number().over(w))
            .filter(F.col("_pt_rk") > 1)
            .select("_pt_node")
        )
    return df.join(
        losers, df[id_col] == losers["_pt_node"], "left_anti"
    )
