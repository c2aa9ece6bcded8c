"""Scale-path machinery: runner checkpoint/resume, stats, RI, synthesizer."""

import datetime as dt
import math
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import patito_spark as pt
from patito_spark.plans.runner import ValidationRunner
from patito_spark.plans.stats import (
    chi_square_from_histograms,
    column_profile,
    ks_from_sketches,
    quantile_sketch,
)
from patito_spark.plans.uniqueness import duplicate_stats, referential_violations
from patito_spark.testing import (
    WebPage,
    expected_violations,
    synth_domains,
    synth_webpages,
)

N = 20_000


@pytest.fixture(scope="module")
def pages(spark):
    df = synth_webpages(spark, N, n_partitions=8)
    df.cache().count()
    return df


def test_synth_is_deterministic(spark):
    a = synth_webpages(spark, 500, n_partitions=2).orderBy("url").collect()
    b = synth_webpages(spark, 500, n_partitions=7).orderBy("url").collect()
    assert a == b  # parallelism-independent


def test_expected_violation_counts(spark, pages):
    exp = expected_violations(N)
    nulls = pages.filter(F.col("lang").isNull()).count()
    assert nulls == exp["null_lang"]
    bad_ts = pages.filter(
        F.col("warc_ts") < F.lit(dt.datetime(1996, 1, 1))
    ).count()
    assert bad_ts == exp["bad_warc_ts"]
    bad_url = pages.filter(~F.col("url").rlike("^https?://")).count()
    assert bad_url == exp["bad_url_pattern"]
    # reference counting: a duplicated pair counts 2 (validators.py:237)
    members = duplicate_stats(pages, "url").agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n")
    ).collect()[0]["n"]
    assert members == exp["duplicate_url_members"]


def test_webpage_model_catches_planted_violations(spark, pages):
    exp = expected_violations(N)
    with pytest.raises(pt.DataFrameValidationError) as e:
        WebPage.validate(pages.drop("crawl_date"))
    by_loc = {}
    for err in e.value.errors():
        by_loc.setdefault(err["loc"], []).append(err["msg"])
    assert f"{exp['null_lang']} missing values" in by_loc[("lang",)]
    assert (
        f"{exp['duplicate_url_members']} rows with duplicated values."
        in by_loc[("url",)]
    )
    # bad ts + bad url pattern both appear as out-of-bound rowvalue errors
    assert any("out of bound" in m for m in by_loc[("warc_ts",)])
    assert any("out of bound" in m for m in by_loc[("url",)])


def test_validation_never_mutates_text(spark, pages):
    # north-rule invariant: extracted text byte-identical per url
    before = pages.select(F.md5(F.col("text")).alias("h")).agg(
        F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s")
    ).collect()[0]["s"]
    try:
        WebPage.validate(pages.drop("crawl_date"))
    except pt.DataFrameValidationError:
        pass
    after = pages.select(F.md5(F.col("text")).alias("h")).agg(
        F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s")
    ).collect()[0]["s"]
    assert before == after


# -- runner: per-partition verdicts + checkpoint/resume ------------------------


def test_runner_per_partition_verdicts(spark, pages, tmp_path):
    result = ValidationRunner(
        WebPage, "crawl_date", checkpoint_dir=str(tmp_path / "ckpt")
    ).run(pages)
    assert len(result.verdicts) > 100  # dates spread over ~30 years
    assert not result.passed
    total_rows = sum(v["n_rows"] for v in result.verdicts)
    assert total_rows == N
    # violations keyed by partition and column
    cols = {v["column"] for v in result.violations}
    assert {"lang", "url", "warc_ts"} <= cols
    # the declared partition column is runner plumbing, never an error
    assert not any(v["column"] == "crawl_date" for v in result.violations)


def test_runner_enum_samples_attributed_per_partition(spark, tmp_path):
    """Enum offending values are fetched by the bounded follow-up job and
    attributed to the partition that contains them — a clean partition
    reports no enum error even when another partition violates."""

    class M(pt.Model):
        g: str
        v: str = pt.Field(allowed=["a", "b"])

    df = spark.createDataFrame(
        [("p1", "a"), ("p1", "ZZ"), ("p1", "QQ"), ("p2", "b")],
        "g string, v string",
    )
    result = ValidationRunner(M, "g", checkpoint_dir=str(tmp_path / "e")).run(df)
    enum_viol = [
        v
        for v in result.violations
        if v["column"] == "v" and "invalid values" in v["message"]
    ]
    assert len(enum_viol) == 1
    assert enum_viol[0]["partition"] == "p1"
    assert "'ZZ'" in enum_viol[0]["message"]
    assert "'QQ'" in enum_viol[0]["message"]


def test_runner_resume_skips_finished(spark, pages, tmp_path):
    ckpt = str(tmp_path / "resume")
    runner = ValidationRunner(WebPage, "crawl_date", checkpoint_dir=ckpt)
    first = runner.run(pages)
    n_first = len(first.verdicts)
    assert n_first > 0
    # second run: everything already checkpointed → zero work
    second = ValidationRunner(WebPage, "crawl_date", checkpoint_dir=ckpt).run(pages)
    assert len(second.verdicts) == 0
    assert len(second.skipped_partitions) == n_first
    # persisted tables readable
    verdicts = runner.verdicts(spark)
    assert verdicts.count() == n_first


def test_runner_partial_resume(spark, tmp_path):
    ckpt = str(tmp_path / "partial")

    class M(pt.Model):
        k: int
        v: int = pt.Field(ge=0)

    df = spark.range(100).select(
        (F.col("id") % 4).alias("k"), F.col("id").cast("long").alias("v")
    )
    half = df.filter(F.col("k") < 2)
    r1 = ValidationRunner(M, "k", checkpoint_dir=ckpt).run(half)
    assert len(r1.verdicts) == 2
    r2 = ValidationRunner(M, "k", checkpoint_dir=ckpt).run(df)
    assert sorted(v["partition"] for v in r2.verdicts) == ["2", "3"]
    assert r2.skipped_partitions == ["0", "1"]


def test_runner_resume_null_partition(spark, tmp_path):
    from typing import Optional

    ckpt = str(tmp_path / "nullpart")

    class M(pt.Model):
        k: Optional[int]
        v: int = pt.Field(ge=0)

    df = spark.createDataFrame(
        [(None, 1), (None, 2), (0, 3), (1, 4)], "k int, v int"
    )
    # first run sees only the named partitions
    r1 = ValidationRunner(M, "k", checkpoint_dir=ckpt).run(
        df.filter(F.col("k").isNotNull())
    )
    assert sorted(v["partition"] for v in r1.verdicts) == ["0", "1"]
    # resume: the NULL partition was never validated — it must not be
    # silently dropped by the null-unsafe ~isin predicate
    r2 = ValidationRunner(M, "k", checkpoint_dir=ckpt).run(df)
    assert [v["partition"] for v in r2.verdicts] == [None]
    assert r2.verdicts[0]["n_rows"] == 2
    # once its verdict is checkpointed, the NULL partition is skipped too
    r3 = ValidationRunner(M, "k", checkpoint_dir=ckpt).run(df)
    assert len(r3.verdicts) == 0


def test_runner_checkpoint_table_resume(spark):
    """Catalog-table checkpointing (the north rule's 'checkpoint table'):
    verdicts/violations land in catalog tables and resume reads them."""

    class M(pt.Model):
        k: int
        v: int = pt.Field(ge=0)

    table = "patito_test_ckpt"
    for suffix in ("_verdicts", "_violations"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
    try:
        df = spark.range(40).select(
            (F.col("id") % 4).alias("k"), (F.col("id") - 2).alias("v")
        )
        half = df.filter(F.col("k") < 2)
        r1 = ValidationRunner(M, "k", checkpoint_table=table).run(half)
        assert len(r1.verdicts) == 2
        runner2 = ValidationRunner(M, "k", checkpoint_table=table)
        r2 = runner2.run(df)
        assert sorted(v["partition"] for v in r2.verdicts) == ["2", "3"]
        assert r2.skipped_partitions == ["0", "1"]
        assert runner2.verdicts(spark).count() == 4
        assert runner2.report(spark).filter(
            F.col("column") == "v"
        ).count() > 0  # v = -2, -1 violate ge=0
    finally:
        for suffix in ("_verdicts", "_violations"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")

    with pytest.raises(ValueError, match="not both"):
        ValidationRunner(M, "k", checkpoint_dir="/tmp/x", checkpoint_table="y")


def test_runner_records_file_lineage(spark, tmp_path):
    class M(pt.Model):
        k: int
        v: int = pt.Field(ge=0)

    src = str(tmp_path / "src")
    spark.range(20).select(
        (F.col("id") % 2).alias("k"), F.col("id").alias("v")
    ).repartition(2).write.parquet(src)
    result = ValidationRunner(M, "k").run(spark.read.parquet(src))
    for v in result.verdicts:
        assert v["input_files"], "file-backed partitions must carry lineage"
        assert all(src.lstrip("/") in f for f in v["input_files"])
    # non-file sources carry empty lineage, not ''
    mem = ValidationRunner(M, "k").run(
        spark.createDataFrame([(0, 1), (1, 2)], "k int, v int")
    )
    assert all(v["input_files"] == [] for v in mem.verdicts)


def test_text_parity_verdicts(spark):
    from patito_spark.plans.parity import text_parity, text_parity_report

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None), (4, "w")], "k long, t string"
    )
    b = spark.createDataFrame(
        [(1, "x"), (2, "z"), (3, None), (5, "v")], "k long, t string"
    )
    rows = {
        r["verdict"]: r["n_rows"]
        for r in text_parity_report(a, b, "k", "t").collect()
    }
    assert rows == {
        "identical": 2,  # 1 matches; 3 matches (NULL == NULL by sentinel)
        "different": 1,
        "missing_in_reference": 1,
        "missing_in_current": 1,
    }
    bad = (
        text_parity(a, b, "k", "t")
        .filter(F.col("verdict") != "identical")
        .orderBy("k")
        .collect()
    )
    assert [r["k"] for r in bad] == [2, 4, 5]


def test_runner_attributes_cross_partition_duplicates(spark, tmp_path):
    class M(pt.Model):
        p: int
        u: int = pt.Field(unique=True)

    df = spark.createDataFrame(
        [(0, 1), (1, 1), (1, 2), (1, 2), (2, 5)], "p int, u int"
    )
    result = ValidationRunner(M, "p").run(df)
    dup = {
        v["partition"]: v["violation_count"]
        for v in result.violations
        if v["column"] == "u"
    }
    # partition 0 holds 1 member of the cross-partition group {u=1};
    # partition 1 holds the other member plus both members of {u=2}
    assert dup == {"0": 1, "1": 3}


def test_runner_exact_unique_resume_matches_uninterrupted(spark, tmp_path):
    """Kill-and-resume: the cumulative violation table must equal one
    uninterrupted run's — WITHOUT rescanning finished partitions (the delta
    for the finished side comes from persisted key-hash partials alone)."""

    class M(pt.Model):
        p: int
        u: int = pt.Field(unique=True)

    # u=1 spans partitions 0 and 2 (cross-boundary group split across the
    # interrupted and resumed halves); u=2 duplicates inside partition 1
    rows = [(0, 1), (0, 7), (1, 2), (1, 2), (2, 1), (2, 9)]
    df = spark.createDataFrame(rows, "p int, u int")

    def dup_counts(violations):
        out: dict = {}
        for v in violations:
            if v["column"] == "u":
                out[v["partition"]] = out.get(v["partition"], 0) + v["violation_count"]
        return out

    # ground truth: one uninterrupted run
    full = ValidationRunner(M, "p", checkpoint_dir=str(tmp_path / "full")).run(df)
    truth = dup_counts(full.violations)
    assert truth == {"0": 1, "1": 2, "2": 1}

    # interrupted: run 1 sees partitions {0, 1} only, then "dies"
    ckpt = str(tmp_path / "resume")
    r1 = ValidationRunner(M, "p", checkpoint_dir=ckpt).run(df.filter(F.col("p") < 2))
    assert dup_counts(r1.violations) == {"1": 2}  # u=1 not yet duplicated

    # resume with ONLY the pending half of the data on disk-equivalent:
    # partition 2's scan plus partition 0's persisted partials must
    # reconstruct the cross-boundary group
    runner2 = ValidationRunner(M, "p", checkpoint_dir=ckpt)
    r2 = runner2.run(df)
    assert r2.skipped_partitions == ["0", "1"]
    assert [v["partition"] for v in r2.verdicts] == ["2"]
    # run 2 emitted partition 2's charge AND a retroactive delta for the
    # finished partition 0
    assert dup_counts(r2.violations) == {"0": 1, "2": 1}
    # cumulative checkpoint == uninterrupted run
    persisted = runner2.report(spark).filter(F.col("column") == "u").collect()
    assert dup_counts([r.asDict() for r in persisted]) == truth
    # a third run changes nothing (no double-charging on repeated resume)
    r3 = ValidationRunner(M, "p", checkpoint_dir=ckpt).run(df)
    assert dup_counts(r3.violations) == {}
    persisted = ValidationRunner(
        M, "p", checkpoint_dir=ckpt
    ).report(spark).filter(F.col("column") == "u").collect()
    assert dup_counts([r.asDict() for r in persisted]) == truth


def test_runner_exact_resume_ignores_orphan_partials(spark, tmp_path):
    """Crash between the partials write and the verdict write: the orphan
    partials (run_id with no matching verdict) must not double-count when
    the partition re-runs."""

    class M(pt.Model):
        p: int
        u: int = pt.Field(unique=True)

    df = spark.createDataFrame([(0, 1), (1, 1)], "p int, u int")
    ckpt = str(tmp_path / "orphan")
    runner = ValidationRunner(M, "p", checkpoint_dir=ckpt)
    # simulate the torn write: persist partials for partition 0 under a
    # run_id that never got a verdict
    _write_torn_partials(runner, df.filter(F.col("p") == 0), "dead-run")
    # real run over everything: partition 0 re-runs (no verdict exists);
    # its fresh partials + partition 1's must charge u=1 exactly once per
    # member — the orphan 'dead-run' rows are ignored
    result = runner.run(df)
    dup = {
        v["partition"]: v["violation_count"]
        for v in result.violations
        if v["column"] == "u"
    }
    assert dup == {"0": 1, "1": 1}


def _write_torn_partials(runner, df, run_id):
    """What a call killed between its partials write and its verdict write
    leaves behind: *df*'s unique partials under *run_id*, no verdicts."""
    from patito_spark.plans.checks import compile_checks
    from patito_spark.plans.runner import _unique_partials

    plan = compile_checks(runner.model, df.schema)
    part = F.col(runner.partition_name).cast("string")
    partials = _unique_partials(df, part, plan.root.key_hashes)
    runner._persist_unique_partials(partials, run_id)


def _dup_counts(violations, column="u"):
    out: dict = {}
    for v in violations:
        if v["column"] == column:
            out[v["partition"]] = out.get(v["partition"], 0) + v["violation_count"]
    return out


class _Unique(pt.Model):
    p: int
    u: int = pt.Field(unique=True)


def test_runner_exact_resume_refuses_run_id_with_orphan_partials(spark, tmp_path):
    """A same-run_id retry after a crash between the partials write and the
    verdict write: the orphans share the retry's (partition, run_id) trust
    key, so the retry is refused; a fresh run_id resumes exactly."""
    rows = [(0, 1), (0, 7), (1, 3), (2, 1), (2, 9)]
    df = spark.createDataFrame(rows, "p int, u int")
    truth = _dup_counts(
        ValidationRunner(
            _Unique, "p", checkpoint_dir=str(tmp_path / "full")
        ).run(df).violations
    )
    assert truth == {"0": 1, "2": 1}

    ckpt = str(tmp_path / "torn")
    runner = ValidationRunner(_Unique, "p", checkpoint_dir=ckpt)
    first = df.filter(F.col("p") < 2)
    _write_torn_partials(runner, first, "r1")
    with pytest.raises(ValueError, match="'r1'"):
        runner.run(first, run_id="r1")
    assert runner._stored_verdicts(spark)[0] == []  # the refused call wrote nothing

    runner.run(first, run_id="r2")
    # reusing an id that owns no orphan partials stays legal
    runner.run(df, run_id="r2")
    persisted = runner.report(spark).filter(F.col("column") == "u").collect()
    assert _dup_counts([r.asDict() for r in persisted]) == truth


def test_runner_checkpoint_rows_are_local_relations(spark, tmp_path, monkeypatch):
    """The verdict and violation frames plan as Arrow-backed local
    relations, never as a Python RDD (a LogicalRDD forks a Python worker
    per action), and read back identical to the Python-RDD path."""
    from patito_spark.plans.runner import VERDICT_SCHEMA
    from patito_spark.sources.io import driver_frame

    plans: dict = {}
    append = ValidationRunner._append

    def recording_append(self, df, store):
        plans.setdefault(store, []).append(
            df._jdf.queryExecution().analyzed().toString()
        )
        append(self, df, store)

    monkeypatch.setattr(ValidationRunner, "_append", recording_append)
    df = spark.createDataFrame(
        [(0, 1), (1, 1), (None, 2), (None, 2)], "p int, u int"
    )
    ValidationRunner(_Unique, "p", checkpoint_dir=str(tmp_path / "ckpt")).run(df)
    assert set(plans) == {"unique_keys", "verdicts", "violations"}
    for store in ("verdicts", "violations"):
        (plan,) = plans[store]
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan

    rows = [
        {
            "partition": None,
            "passed": False,
            "n_rows": 3,
            "n_violations": 2,
            "run_id": "r",
            "finished_at": 1.5,
            "elapsed_sec": 0.25,
            "input_files": [],
        },
        {
            "partition": "2024",
            "passed": True,
            "n_rows": 1,
            "n_violations": 0,
            "run_id": "r",
            "finished_at": 1.5,
            "elapsed_sec": 0.25,
            "input_files": ["file:/a.parquet", "file:/b.parquet"],
        },
    ]
    arrow = driver_frame(spark, rows, VERDICT_SCHEMA)
    assert arrow.schema == VERDICT_SCHEMA
    assert arrow.collect() == spark.createDataFrame(rows, VERDICT_SCHEMA).collect()


def _input_records(spark, group: str) -> int:
    """Records read by the stages of *group*'s jobs, from the status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    stage_ids = set()
    store = sc._jsc.sc().statusStore()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        ids = store.job(jid).stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    jvm = sc._jvm
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    return sum(
        stages.apply(i).inputRecords()
        for i in range(stages.size())
        if stages.apply(i).stageId() in stage_ids
    )


def _partitioned_source(spark, tmp_path):
    """4,000 rows over eight ``partitionBy("p")`` directories, with one
    cross-partition duplicate group of ``u`` (40 members)."""
    src = str(tmp_path / "src")
    spark.range(4_000).select(
        (F.col("id") % 8).cast("int").alias("p"),
        # one cross-partition duplicate group per 100 ids
        F.when(F.col("id") % 100 == 0, F.lit(-1)).otherwise(F.col("id")).alias("u"),
    ).write.partitionBy("p").parquet(src)
    return spark.read.parquet(src)


def test_runner_exact_resume_reads_source_twice_and_store_once(spark, tmp_path):
    """A resume scans each pending row at most twice (the
    aggregate and the partials) and the stored partials once."""
    df = _partitioned_source(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    ValidationRunner(_Unique, "p", checkpoint_dir=ckpt).run(
        df, where=F.col("p") < 4
    )
    sc = spark.sparkContext
    sc.setJobGroup("runner-resume-reads", "exact resume")
    try:
        resume = ValidationRunner(_Unique, "p", checkpoint_dir=ckpt).run(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    read = _input_records(spark, "runner-resume-reads")
    pending = sum(v["n_rows"] for v in resume.verdicts)
    stored = spark.read.parquet(f"{ckpt}/unique_keys").count()
    verdict_rows = spark.read.parquet(f"{ckpt}/verdicts").count() - len(resume.verdicts)
    assert pending == 2_000
    assert read <= 2 * pending + stored + verdict_rows, (read, pending, stored)
    # the cross-boundary group is charged to all eight partitions in total
    persisted = ValidationRunner(_Unique, "p", checkpoint_dir=ckpt).report(spark)
    assert sum(_dup_counts([r.asDict() for r in persisted.collect()]).values()) == 40


def _job_ids(spark) -> set:
    """Ids of every job the status store has seen."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def test_runner_jobs_keep_the_callers_job_group(spark, tmp_path):
    """The runner's concurrent branches run on threads that inherit the
    caller's job group, and a resume launches at most 11 jobs
    (no schema-inference read, no ``distinct`` over the verdict keys)."""
    df = _partitioned_source(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    ValidationRunner(_Unique, "p", checkpoint_dir=ckpt).run(
        df, where=F.col("p") < 4
    )
    sc = spark.sparkContext
    before = _job_ids(spark)
    sc.setJobGroup("runner-resume-jobs", "exact resume")
    try:
        ValidationRunner(_Unique, "p", checkpoint_dir=ckpt).run(
            df
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    launched = _job_ids(spark) - before
    grouped = set(sc.statusTracker().getJobIdsForGroup("runner-resume-jobs"))
    assert launched and launched <= grouped, (launched, grouped)
    assert len(launched) <= 11, sorted(launched)


def test_runner_failing_concurrent_branch_writes_no_verdicts(
    spark, tmp_path, monkeypatch
):
    """A failure in the branch that runs beside Job 1 (the
    partials write) is re-raised by ``run()`` before any verdict is
    written, and a retry under a fresh run_id reproduces the uninterrupted
    totals (null keys, one group across the resume boundary, included)."""
    rows = [(0, 1), (0, 7), (1, 2), (1, 2), (1, None), (2, 1), (3, 7), (3, None)]
    df = spark.createDataFrame(rows, "p int, u int")
    truth = _dup_counts(
        ValidationRunner(
            _Unique, "p", checkpoint_dir=str(tmp_path / "full")
        ).run(df).violations
    )
    # a null u is a missing value AND a member of the null duplicate group
    assert truth == {"0": 2, "1": 4, "2": 1, "3": 3}

    runner = ValidationRunner(_Unique, "p", checkpoint_dir=str(tmp_path / "ckpt"))
    runner.run(df.filter(F.col("p") < 2), run_id="r1")
    finished = sorted(runner._stored_verdicts(spark)[0])

    def fail(self, partials, run_id):
        raise RuntimeError("partials write failed")

    with monkeypatch.context() as m:
        m.setattr(ValidationRunner, "_persist_unique_partials", fail)
        with pytest.raises(RuntimeError, match="partials write failed"):
            runner.run(df, run_id="r2")
    assert sorted(runner._stored_verdicts(spark)[0]) == finished

    retry = runner.run(df, run_id="r3")
    assert sorted(v["partition"] for v in retry.verdicts) == ["2", "3"]
    persisted = runner.report(spark).filter(F.col("column") == "u").collect()
    assert _dup_counts([r.asDict() for r in persisted]) == truth


def test_runner_failing_charge_writes_no_verdicts(spark, tmp_path, monkeypatch):
    """The charge fails while the partials write beside it succeeds:
    ``run()`` re-raises before any verdict is written, a retry under the
    same chosen run_id is refused (its partials are orphans now), and a
    retry under a fresh run_id reproduces the uninterrupted totals."""
    import patito_spark.plans.runner as runner_module

    rows = [(0, 1), (0, 7), (1, 2), (1, 2), (1, None), (2, 1), (3, 7), (3, None)]
    df = spark.createDataFrame(rows, "p int, u int")
    truth = _dup_counts(
        ValidationRunner(
            _Unique, "p", checkpoint_dir=str(tmp_path / "full")
        ).run(df).violations
    )
    ckpt = str(tmp_path / "ckpt")
    runner = ValidationRunner(_Unique, "p", checkpoint_dir=ckpt)
    runner.run(df.filter(F.col("p") < 2), run_id="r1")
    finished = sorted(runner._stored_verdicts(spark)[0])

    def fail(tagged):
        raise RuntimeError("charge failed")

    with monkeypatch.context() as m:
        m.setattr(runner_module, "_charge", fail)
        with pytest.raises(RuntimeError, match="charge failed"):
            runner.run(df, run_id="r2")
    assert sorted(runner._stored_verdicts(spark)[0]) == finished
    written = spark.read.parquet(f"{ckpt}/unique_keys").filter(F.col("run_id") == "r2")
    assert {r["partition"] for r in written.collect()} == {"2", "3"}

    with pytest.raises(ValueError, match="'r2'"):
        runner.run(df, run_id="r2")
    retry = runner.run(df, run_id="r3")
    assert sorted(v["partition"] for v in retry.verdicts) == ["2", "3"]
    persisted = runner.report(spark).filter(F.col("column") == "u").collect()
    assert _dup_counts([r.asDict() for r in persisted]) == truth


def test_runner_releases_its_materialized_partials(spark, tmp_path, monkeypatch):
    """The partials a call materializes for its write and its charge hold
    executor storage only while the call runs: no persisted RDD outlives
    ``run()``, after a first call, a resume, or a failing branch."""
    import patito_spark.plans.runner as runner_module

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    df = spark.createDataFrame([(0, 1), (1, 1), (2, 5), (2, 5)], "p int, u int")
    runner = ValidationRunner(_Unique, "p", checkpoint_dir=str(tmp_path / "ckpt"))
    runner.run(df.filter(F.col("p") < 2))
    assert persisted() == before
    runner.run(df)
    assert persisted() == before
    ValidationRunner(_Unique, "p").run(df)
    assert persisted() == before

    def fail(*args):
        raise RuntimeError("branch failed")

    failing = [
        (runner_module, "_charge"),
        (ValidationRunner, "_persist_unique_partials"),
        (runner_module, "_aggregate"),
    ]
    for owner, name in failing:
        runner = ValidationRunner(_Unique, "p", checkpoint_dir=str(tmp_path / name))
        with monkeypatch.context() as m:
            m.setattr(owner, name, fail)
            with pytest.raises(RuntimeError, match="branch failed"):
                runner.run(df)
        assert persisted() == before, name


def test_runner_rerun_of_finished_checkpoint_reads_no_partials(spark, tmp_path):
    """A re-run with nothing pending reads the verdict store and nothing
    else: no stored partials, since no charge can change."""
    df = _partitioned_source(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    ValidationRunner(_Unique, "p", checkpoint_dir=ckpt).run(df)
    sc = spark.sparkContext
    sc.setJobGroup("runner-rerun-reads", "re-run of a finished checkpoint")
    try:
        again = ValidationRunner(_Unique, "p", checkpoint_dir=ckpt).run(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert again.verdicts == [] and len(again.skipped_partitions) == 8
    verdict_rows = spark.read.parquet(f"{ckpt}/verdicts").count()
    assert _input_records(spark, "runner-rerun-reads") <= verdict_rows


def _write_legacy_unique_store(spark, runner):
    """A pre-``unique_keys`` partials store: md5-hex key hashes."""
    legacy = spark.createDataFrame(
        [("0", "u", "c4ca4238a0b923820dcc509a6f75849b", 1, "old")],
        "partition string, column string, key_hash string, cnt long, run_id string",
    )
    if runner.checkpoint_table:
        legacy.write.saveAsTable(f"{runner.checkpoint_table}_unique_partials")
    else:
        legacy.write.parquet(f"{runner.checkpoint_dir}/unique_partials")


def _store_snapshot(spark, runner) -> dict:
    """Every checkpoint store's rows, legacy one included."""
    stores = ("verdicts", "violations", "unique_keys", "unique_partials")
    if runner.checkpoint_table:
        frames = {
            s: spark.table(f"{runner.checkpoint_table}_{s}")
            for s in stores
            if spark.catalog.tableExists(f"{runner.checkpoint_table}_{s}")
        }
    else:
        frames = {
            s: spark.read.parquet(f"{runner.checkpoint_dir}/{s}")
            for s in stores
            if os.path.isdir(f"{runner.checkpoint_dir}/{s}")
        }
    return {s: sorted(map(tuple, f.collect()), key=repr) for s, f in frames.items()}


@pytest.mark.parametrize("storage", ["dir", "table"])
def test_runner_exact_refuses_legacy_unique_store(spark, tmp_path, storage):
    """A default-constructed runner (what ``jobs.py`` builds) refuses a
    checkpoint that still holds the legacy ``unique_partials`` store,
    before writing anything, and names the one fix."""
    table = "patito_test_legacy_ckpt"
    suffixes = ("_verdicts", "_violations", "_unique_keys", "_unique_partials")
    where = (
        {"checkpoint_table": table}
        if storage == "table"
        else {"checkpoint_dir": str(tmp_path / "ckpt")}
    )
    df = spark.createDataFrame([(0, 1), (1, 1), (2, 5), (2, 5)], "p int, u int")
    for suffix in suffixes:
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
    try:
        runner = ValidationRunner(_Unique, "p", **where)
        runner.run(df.filter(F.col("p") < 2))
        _write_legacy_unique_store(spark, runner)
        before = _store_snapshot(spark, runner)
        assert set(before) == {
            "verdicts",
            "violations",
            "unique_keys",
            "unique_partials",
        }

        with pytest.raises(ValueError, match="fresh checkpoint") as refused:
            ValidationRunner(_Unique, "p", **where).run(df)
        assert "unique_resume" not in str(refused.value)
        assert _store_snapshot(spark, runner) == before
    finally:
        for suffix in suffixes:
            spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_runner_resume_stores_schema_rows_once(spark, tmp_path):
    """Schema-level rows (``partition = '*'``) are stored once, as one
    uninterrupted run stores them: neither a resume nor a resume with
    nothing pending appends them again, and the resumed partitions still
    fail on them."""
    df = spark.createDataFrame(
        [(0, 1, "x"), (1, 2, "y"), (2, 3, "z")], "p int, u int, extra string"
    )

    def schema_rows(runner):
        return sorted(
            (r["column"], r["error_type"], r["message"])
            for r in runner.report(spark).filter(F.col("partition") == "*").collect()
        )

    full = ValidationRunner(_Unique, "p", checkpoint_dir=str(tmp_path / "full"))
    full.run(df)
    truth = schema_rows(full)
    assert [column for column, _, _ in truth] == ["extra"]  # superfluous

    runner = ValidationRunner(_Unique, "p", checkpoint_dir=str(tmp_path / "ckpt"))
    runner.run(df.filter(F.col("p") < 2))
    resumed = runner.run(df)
    assert [(v["partition"], v["passed"]) for v in resumed.verdicts] == [("2", False)]
    assert runner.run(df).verdicts == []
    assert schema_rows(runner) == truth


def test_runner_rejects_local_unique_resume():
    """The pending-side-only resume mode is gone; only ``"exact"`` is
    accepted, and it is the default."""
    with pytest.raises(ValueError, match="'local' is gone"):
        ValidationRunner(_Unique, "p", unique_resume="local")
    ValidationRunner(_Unique, "p", unique_resume="exact")


def test_runner_resumes_checkpoint_of_python_rdd_rows(spark, tmp_path, monkeypatch):
    """A checkpoint whose verdict and violation rows were written through
    ``createDataFrame(<list>)`` (the Python-RDD path) resumes under the
    Arrow path with the same stored schemas and exact cumulative totals."""
    import patito_spark.sources.io as io

    rows = [(0, 1), (0, 7), (1, 2), (1, 2), (2, 1), (2, 9), (None, 7)]
    df = spark.createDataFrame(rows, "p int, u int")
    truth = _dup_counts(
        ValidationRunner(
            _Unique, "p", checkpoint_dir=str(tmp_path / "full")
        ).run(df).violations
    )
    assert truth == {"0": 2, "1": 2, "2": 1, None: 1}

    ckpt = str(tmp_path / "mixed")
    with monkeypatch.context() as m:
        m.setattr(
            io, "driver_frame", lambda spark, rows, schema: spark.createDataFrame(rows, schema)
        )
        ValidationRunner(_Unique, "p", checkpoint_dir=ckpt).run(
            df.filter(F.col("p") < 2)
        )
    runner = ValidationRunner(_Unique, "p", checkpoint_dir=ckpt)
    resumed = runner.run(df)
    assert resumed.skipped_partitions == ["0", "1"]
    persisted = runner.report(spark).collect()
    assert _dup_counts([r.asDict() for r in persisted]) == truth
    for store in ("verdicts", "violations"):
        schemas = {
            spark.read.parquet(f.path).schema.simpleString()
            for f in spark.read.parquet(f"{ckpt}/{store}")
            .select(F.input_file_name().alias("path"))
            .distinct()
            .collect()
        }
        assert len(schemas) == 1, (store, schemas)


# -- referential integrity -------------------------------------------------------


def test_referential_orphans(spark, pages):
    domains = synth_domains(spark)
    orphans = referential_violations(
        pages,
        F.parse_url(F.col("url"), F.lit("HOST")),
        domains,
        "domain",
        broadcast_dim=True,
    ).count()
    # planted: site domains with id % 100 == 13 are missing from the dim,
    # plus the not-a-url rows parse to null hosts
    assert orphans > 0
    manual = pages.withColumn(
        "host", F.parse_url(F.col("url"), F.lit("HOST"))
    ).join(
        domains.withColumnRenamed("domain", "host"), "host", "left_anti"
    ).count()
    assert orphans == manual


def test_referential_broadcast_sizing(spark):
    """Default broadcast decision comes from the plan-size estimate: a huge
    dim must NOT be broadcast (executor OOM at scale), a small one must be.
    Plan-only assertions — the big join never executes."""
    from patito_spark.plans.uniqueness import referential_violations

    fact = spark.range(100).select(F.col("id").alias("k"))

    def plan(dim, **kw):
        out = referential_violations(fact, F.col("k"), dim, "id", **kw)
        return out._jdf.queryExecution().executedPlan().toString()

    big = spark.range(200_000_000)  # ~1.6 GB estimate, over the threshold
    small = spark.range(1_000)
    assert "BroadcastExchange" not in plan(big)
    assert "BroadcastExchange" in plan(small)
    # explicit opt-in beats the estimate (broadcast_dim=False merely omits
    # the hint — Catalyst's own autoBroadcastJoinThreshold may still pick
    # broadcast for a genuinely tiny side, which is fine)
    assert "BroadcastExchange" in plan(big, broadcast_dim=True)


# -- stats / drift ------------------------------------------------------------------


def test_column_profile_global_and_partitioned(spark, pages):
    prof = column_profile(
        pages,
        columns=["lang", "warc_ts"],
        histogram={},
    ).collect()[0]
    assert prof["rows"] == N
    assert prof["lang__nulls"] == expected_violations(N)["null_lang"]
    per_part = column_profile(
        pages, columns=["lang"], partition_cols=["crawl_date"]
    )
    assert per_part.count() > 100
    assert (
        per_part.agg(F.sum("rows")).collect()[0][0] == N
    )


def test_histogram_profile(spark):
    df = spark.range(1000).select(F.col("id").cast("double").alias("x"))
    prof = column_profile(df, columns=["x"], histogram={"x": (0, 1000, 10)})
    hist = prof.collect()[0]["x__hist"]
    # buckets: [under, b1..b10, over]; uniform → 100 each
    assert len(hist) == 12
    assert hist[1:11] == [100] * 10


def test_chi_square_identical_distributions():
    a = [100, 200, 300]
    res = chi_square_from_histograms(a, a)
    assert res["statistic"] == pytest.approx(0.0)


def test_chi_square_detects_shift():
    res = chi_square_from_histograms([300, 200, 100], [100, 200, 300])
    assert res["statistic"] > 100


def test_ks_sketch_same_distribution(spark):
    df = spark.range(10_000).select((F.col("id") % 997).cast("double").alias("x"))
    q = quantile_sketch(df, "x")
    assert ks_from_sketches(q, q) < 0.02


def test_ks_sketch_detects_shift(spark):
    a = quantile_sketch(
        spark.range(5000).select((F.col("id") % 100).cast("double").alias("x")), "x"
    )
    b = quantile_sketch(
        spark.range(5000).select(
            ((F.col("id") % 100) + 50).cast("double").alias("x")
        ),
        "x",
    )
    assert ks_from_sketches(a, b) > 0.3


def test_ks_grid_by_group_matches_driver_reference(spark):
    """The native grid KS (one groupBy.agg of conditional counts) computes
    exactly max_i |count(x <= p_i)/n - cdf_i| per group, as recomputed on
    the driver from the collected rows, with zero Python nodes in its
    plan."""
    from patito_spark.plans.stats import grid_cdf_reference, ks_grid_by_group

    df = spark.range(3000).select(
        (F.col("id") % 3).alias("g"),
        # skew group 2 so the statistics genuinely differ per group
        F.when(F.col("id") % 3 == 2, (F.col("id") % 40) + 60.0)
        .otherwise(F.col("id") % 100)
        .cast("double")
        .alias("x"),
    )
    pts, cdf = grid_cdf_reference(df, "x", points=31)
    native = ks_grid_by_group(df, "g", "x", pts, cdf)
    groups = {}
    for r in df.collect():
        groups.setdefault(r["g"], []).append(r["x"])
    ref_rows = {
        g: (
            max(
                abs(sum(x <= p for x in xs) / len(xs) - c)
                for p, c in zip(pts, cdf)
            ),
            len(xs),
        )
        for g, xs in groups.items()
    }
    n_rows = {r["g"]: (r["ks"], r["n"]) for r in native.collect()}
    assert n_rows == ref_rows
    assert len(n_rows) == 3
    plan = native._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_ks_grid_by_group_null_values_and_empty_ref(spark):
    from patito_spark.plans.stats import ks_grid_by_group

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", None)], "g string, x double"
    )
    out = {
        r["g"]: (r["ks"], r["n"])
        for r in ks_grid_by_group(df, "g", "x", [0.5], [0.5]).collect()
    }
    assert out["a"] == (0.5, 1)  # count(x<=0.5)=0 → |0 - 0.5|
    assert out["b"][1] == 0 and math.isnan(out["b"][0])
    empty_ref = ks_grid_by_group(df, "g", "x", [], []).collect()
    assert all(math.isnan(r["ks"]) for r in empty_ref)


def test_discrete_percentiles_by_group_exact(spark):
    """Counting-based quantiles match the lower-quantile definition and a
    driver-side reference on planted distributions."""
    from patito_spark.plans.stats import discrete_percentiles_by_group

    rows = [("a", v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]] + [
        ("b", v) for v in [5, 5, 5, 100]
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        (r["g"], r["p"]): (r["value"], r["n"])
        for r in discrete_percentiles_by_group(
            df, "g", "v", [0.5, 0.9, 1.0]
        ).collect()
    }
    # group a: n=10 → p50 = value at rank ceil(5)=5 → 5; p90 rank 9 → 9
    assert out[("a", 0.5)] == (5, 10)
    assert out[("a", 0.9)] == (9, 10)
    assert out[("a", 1.0)] == (10, 10)
    # group b: n=4 → p50 rank 2 → 5; p90 rank ceil(3.6)=4 → 100
    assert out[("b", 0.5)] == (5, 4)
    assert out[("b", 0.9)] == (100, 4)
    # plan: no Python, no unbounded percentile buffer aggregate
    plan = (
        discrete_percentiles_by_group(df, "g", "v", [0.5])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "percentile" not in plan.lower()
