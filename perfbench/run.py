"""Benchmark of patito_spark's validation entry points.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload validate_route --seed 1 --seconds 12 --trace 0

Workloads (``perfbench/README.md`` says why each one exists):

- ``validate_route``  over one flat web-page table:
  ``plans.checks.find_errors``, then ``streaming.validate.flag_violations``
  routed into a valid sink and a quarantine sink
- ``runner_resume``   over the same rows partitioned by crawl year:
  ``plans.runner.ValidationRunner`` on the first half of the years, then a
  resume over all of them

One Spark session on ``local[nproc]`` per run.  Set-up always regenerates
the inputs from ``--seed``, several times into fresh directories; ``setup_s``
is the session start plus the median generation.  Unmeasured warm-up
operations follow (at least ``WARMUP_SECONDS``), then operations repeat
until ``--seconds`` have passed and at least ``MIN_OPS`` have run.
Every operation's output is checked.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced operations and prints the per-layer metrics, read from
Spark's status store per public call, with the tracing overhead; it also
writes the spans to ``perfbench/out/``.  The last line of standard output
is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from spans import COUNTERS, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")

#: web-page rows per input table
PAGE_ROWS = 100_000
#: input generations per run; setup_s uses their median
SETUP_REPS = 3
#: warm-up operations repeat until this many seconds have passed (at least
#: one); the JVM keeps getting faster for about this long
WARMUP_SECONDS = 10
#: measured operations per run, at least, however long they take: with one
#: sample a run's median would be its first, least warmed operation
MIN_OPS = 2
#: the runner's first call covers the crawl years up to this one
FIRST_HALF_LAST_YEAR = 2010


def _median(values: list) -> float:
    return statistics.median(values) if values else 0.0


def _footer_rows(path: str) -> int:
    """Rows written under *path*, from the parquet footers alone."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


class Workload:
    """One input table and the operation the benchmark repeats on it.

    ``run`` returns ``(counters, ratios, problems)``: counters per public
    call (named as in ``calls``), derived per-layer ratios by metric name,
    and the output checks that failed.
    """

    calls: tuple = ()
    ratios: tuple = ()
    partitioned = False

    def __init__(self, spark, seed: int, work: str) -> None:
        from patito_spark.testing import expected_violations

        self.spark = spark
        self.seed = seed
        self.work = work
        self.expected = expected_violations(PAGE_ROWS)
        self._n = 0

    def fresh(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n}")

    def generate(self) -> str:
        """Write ``testing.synth_webpages`` rows to a fresh directory."""
        from pyspark.sql import functions as F

        from patito_spark.testing import synth_webpages

        path = self.fresh("pages")
        df = synth_webpages(
            self.spark,
            PAGE_ROWS,
            n_partitions=self.spark.sparkContext.defaultParallelism,
            seed=self.seed,
        ).drop("crawl_date")
        if self.partitioned:
            df = df.withColumn("crawl_year", F.year("warc_ts"))
            df.write.partitionBy("crawl_year").parquet(path)
        else:
            df.write.parquet(path)
        return path

    def prepare(self, path: str) -> None:
        self.df = self.spark.read.parquet(path)


class ValidateRoute(Workload):
    calls = (
        "plans.checks.find_errors",
        "streaming.validate.write_valid",
        "streaming.validate.write_quarantine",
    )
    ratios = (
        "plans.checks.find_errors.read_per_row",
        "streaming.validate.read_per_routed",
    )

    def prepare(self, path: str) -> None:
        super().prepare(path)
        e = self.expected
        self.want_errors = sorted(
            [
                ("url", "RowValueError", f"{e['bad_url_pattern']} rows with out of bound values."),
                ("warc_ts", "RowValueError", f"{e['bad_warc_ts']} rows with out of bound values."),
                ("lang", "MissingValuesError", f"{e['null_lang']} missing values"),
                ("lang", "RowValueError", "Rows with invalid values: {None}."),
                ("url", "RowValueError", f"{e['duplicate_url_members']} rows with duplicated values."),
            ]
        )
        # the three row-level classes; duplicates are a dataset check
        self.want_quarantined = e["bad_url_pattern"] + e["null_lang"] + e["bad_warc_ts"]

    def run(self, tracer, op_span) -> tuple:
        from pyspark.sql import functions as F

        from patito_spark.plans.checks import find_errors
        from patito_spark.streaming.validate import flag_violations
        from patito_spark.testing import WebPage

        find, write_valid, write_quarantine = self.calls
        errors, c_find = tracer.call(find, op_span, lambda: find_errors(self.df, WebPage))

        # the two-branch plan of sources.io.write_validated
        valid_path, quarantine_path = self.fresh("valid"), self.fresh("quarantine")
        flagged = flag_violations(self.df, WebPage)
        valid = flagged.filter(F.col("_valid")).drop("_valid", "_violations")
        bad = flagged.filter(~F.col("_valid")).drop("_valid")
        _, c_valid = tracer.call(write_valid, op_span, lambda: valid.write.parquet(valid_path))
        _, c_bad = tracer.call(
            write_quarantine, op_span, lambda: bad.write.parquet(quarantine_path)
        )
        n_valid, n_bad = _footer_rows(valid_path), _footer_rows(quarantine_path)
        shutil.rmtree(valid_path)
        shutil.rmtree(quarantine_path)

        problems = []
        got = sorted((e.loc_tuple()[0], type(e.exc).__name__, str(e.exc)) for e in errors)
        if got != self.want_errors:
            problems.append(f"find_errors returned {got}")
        if n_valid + n_bad != PAGE_ROWS:
            problems.append(f"valid {n_valid} + quarantined {n_bad} != {PAGE_ROWS}")
        if n_bad != self.want_quarantined:
            problems.append(f"quarantined {n_bad} != {self.want_quarantined}")
        routed = c_valid.get("input_records", 0) + c_bad.get("input_records", 0)
        ratios = {
            self.ratios[0]: c_find.get("input_records", 0) / PAGE_ROWS,
            self.ratios[1]: routed / PAGE_ROWS,
        }
        counters = {find: c_find, write_valid: c_valid, write_quarantine: c_bad}
        return counters, ratios, problems


class RunnerResume(Workload):
    calls = ("plans.runner.run_first", "plans.runner.run_resume")
    ratios = ("plans.runner.run_resume.read_per_pending",)
    partitioned = True

    def prepare(self, path: str) -> None:
        from pyspark.sql import functions as F

        super().prepare(path)
        stats = (
            self.df.groupBy(F.col("crawl_year").cast("string").alias("p"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max(F.col("lang").isNull().cast("int")).alias("null_lang"),
            )
            .collect()
        )
        self.partitions = sorted(r["p"] for r in stats)
        self.first_parts = {p for p in self.partitions if int(p) <= FIRST_HALF_LAST_YEAR}
        self.pending_rows = sum(r["n"] for r in stats if r["p"] not in self.first_parts)
        self.where = F.col("crawl_year") <= FIRST_HALF_LAST_YEAR
        # the totals one uninterrupted run reports: the planted counts, plus
        # one enum-sample row ({None}) per partition that holds a null lang
        e = self.expected
        self.want_totals = {
            ("url", "value_error.rowvalue"): e["bad_url_pattern"] + e["duplicate_url_members"],
            ("warc_ts", "value_error.rowvalue"): e["bad_warc_ts"],
            ("lang", "value_error.missingvalues"): e["null_lang"],
            ("lang", "value_error.rowvalue"): sum(r["null_lang"] for r in stats),
        }

    def run(self, tracer, op_span) -> tuple:
        from patito_spark.plans.runner import ValidationRunner
        from patito_spark.testing import WebPage

        runner = ValidationRunner(
            WebPage, "crawl_year", checkpoint_dir=self.fresh("ckpt"), unique_resume="exact"
        )
        first_call, resume_call = self.calls
        first, c_first = tracer.call(
            first_call, op_span, lambda: runner.run(self.df, where=self.where)
        )
        resume, c_resume = tracer.call(resume_call, op_span, lambda: runner.run(self.df))
        ratios = {self.ratios[0]: c_resume.get("input_records", 0) / self.pending_rows}
        counters = {first_call: c_first, resume_call: c_resume}
        return counters, ratios, self._check(first, resume)

    def _check(self, first, resume) -> list:
        problems = []
        verdicts = first.verdicts + resume.verdicts
        if sorted(v["partition"] for v in verdicts) != self.partitions:
            problems.append("not exactly one verdict per partition")
        n_rows = sum(v["n_rows"] for v in verdicts)
        if n_rows != PAGE_ROWS:
            problems.append(f"sum of verdict n_rows {n_rows} != {PAGE_ROWS}")
        if {v["partition"] for v in first.verdicts} != self.first_parts:
            problems.append("first run did not cover exactly the first half")
        if set(resume.skipped_partitions) != self.first_parts:
            problems.append(f"resume skipped {resume.skipped_partitions}")
        totals: dict = {}
        for v in first.violations + resume.violations:
            key = (v["column"], v["error_type"])
            totals[key] = totals.get(key, 0) + v["violation_count"]
        if totals != self.want_totals:
            problems.append(f"split-run totals {totals} != {self.want_totals}")
        return problems


WORKLOADS = {"validate_route": ValidateRoute, "runner_resume": RunnerResume}

#: per-layer metrics of the whole run rather than of one call
RUN_METRICS = (
    "testing.synth_webpages_s",
    "setup.session_s",
    "host.probe_before",
    "host.probe_after",
    "host.jvm_peak_heap_mb",
    "trace.overhead_s",
    "trace.collect_s",
)


def per_layer_names() -> list:
    """Every per-layer metric; a call the workload does not make reads 0."""
    names = []
    for cls in WORKLOADS.values():
        names += [f"{call}.{c}" for call in cls.calls for c in COUNTERS]
        names += cls.ratios
    return names + list(RUN_METRICS)


def unit(name: str) -> str:
    key = name.rsplit(".", 1)[-1]
    if key.endswith("_s"):
        return "s"
    if key.endswith("_bytes"):
        return "bytes"
    if key.endswith("_mb"):
        return "MB"
    if key.startswith("read_per"):
        return "ratio"
    if key.startswith("probe"):
        return "1/s"
    return "count"


def _session(work: str):
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    cores = os.cpu_count() or 1
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={local}",
        )
        .config("spark.local.dir", local)
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "500")
        .config("spark.ui.retainedStages", "500")
        .getOrCreate()
    )


def _probe() -> float:
    """``bench.py``'s md5 deliverable-compute probe at nproc workers."""
    from bench import _deliverable_compute

    return _deliverable_compute(os.cpu_count() or 1)


def _peak_heap_mb(spark) -> float:
    """Peak JVM heap use over the run, summed over the heap's pools."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(
        pools.get(i).getPeakUsage().getUsed()
        for i in range(pools.size())
        if str(pools.get(i).getType()) == "Heap memory"
    ) / 2**20


def _stop(spark) -> None:
    """Stop Spark, then end the driver JVM and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def measure(args, run_id: str, work: str) -> tuple:
    """Set up, warm up and measure; return ``(metrics, attempted, failed)``."""
    trace = bool(args.trace)
    probe_before = _probe() if trace else 0.0
    t0 = time.perf_counter()
    spark = _session(work)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        import patito_spark  # noqa: F401  (import time is set-up time)

        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        gen_times, path = [], None
        for _ in range(SETUP_REPS):
            if path is not None:
                shutil.rmtree(path)
            t0 = time.perf_counter()
            path = wl.generate()
            gen_times.append(time.perf_counter() - t0)
        t_prep = time.perf_counter()
        wl.prepare(path)

        plain = Tracer(spark, run_id, enabled=False)
        traced = Tracer(spark, run_id, enabled=True)
        tally = {"attempted": 0, "failed": 0}

        def operation(tracer):
            tally["attempted"] += len(wl.calls)
            with tracer.operation(args.workload) as op_span:
                try:
                    counters, ratios, problems = wl.run(tracer, op_span)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    problems = ["raised"]
            if problems:
                print(f"{args.workload}: " + "; ".join(problems), file=sys.stderr)
                tally["failed"] += len(wl.calls)
                return None
            return counters, ratios

        t_warm = time.perf_counter()
        operation(plain)  # warm-up: JIT, codegen, page cache
        while time.perf_counter() - t_warm < WARMUP_SECONDS:
            operation(plain)
        plain_ops, traced_ops = [], []
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds or len(plain_ops) < MIN_OPS:
            plain_ops.append(operation(plain))
            if trace:
                traced_ops.append(operation(traced))
        print(
            f"perfbench: session {session_s:.1f}s, generate "
            f"{[round(t, 1) for t in gen_times]}s, prepare {t_warm - t_prep:.1f}s, "
            f"warm-up {start - t_warm:.1f}s, {len(plain_ops)} ops in "
            f"{time.perf_counter() - start:.1f}s: "
            f"{[round(sum(c['wall_s'] for c in op[0].values()), 2) for op in plain_ops if op]}",
            file=sys.stderr,
        )
        peak_heap_mb = _peak_heap_mb(spark)
    finally:
        _stop(spark)
    plain_ops = [op for op in plain_ops if op is not None]
    traced_ops = [op for op in traced_ops if op is not None]

    def op_wall(ops: list) -> float:
        return _median([sum(c["wall_s"] for c in counters.values()) for counters, _ in ops])

    if not trace:
        wall = op_wall(plain_ops)
        metrics = {
            "setup_s": session_s + _median(gen_times),
            "rows_per_s": PAGE_ROWS / wall if wall else 0.0,
        }
        return metrics, tally["attempted"], tally["failed"]

    metrics = {}
    for name in per_layer_names():
        call, _, key = name.rpartition(".")
        metrics[name] = _median(
            [counters[call][key] for counters, _ in traced_ops if key in counters.get(call, {})]
            + [ratios[name] for _, ratios in traced_ops if name in ratios]
        )
    metrics.update(
        {
            "testing.synth_webpages_s": _median(gen_times),
            "setup.session_s": session_s,
            "host.probe_before": probe_before,
            "host.probe_after": _probe(),
            "host.jvm_peak_heap_mb": peak_heap_mb,
            "trace.overhead_s": op_wall(traced_ops) - op_wall(plain_ops),
            "trace.collect_s": traced.collect_s / max(len(traced_ops), 1),
        }
    )
    os.makedirs(OUT, exist_ok=True)
    traced.write(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
    return metrics, tally["attempted"], tally["failed"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "patito_spark")):
        print(f"no patito_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    os.makedirs(work)
    # keep the driver's and the JVM's temporary files inside the checkout
    os.environ["TMPDIR"] = work
    try:
        metrics, attempted, failed = measure(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = {"setup_s": "s", "rows_per_s": "rows/s"}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units.get(k) or unit(k)} for k, v in metrics.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
