"""Round-9 optimization measurement harness (bench.py is FROZEN — this
file exists so the round's iteration loop never touches the driver-timed
artifact; numbers are cited in OPTIMIZATION_r09.md).

Methodology matches bench.py where it matters: identical session conf
(same ``_session``), identical query entry points (the module-level
``q_*`` functions), ``collect()`` termination, best-of-N with
query-major rep order, and the same md5 deliverable-compute probe
bracketing every block so a hostile host window self-identifies.

Sub-commands::

  python bench_extra.py queries [name ...]   # per-query best-of-N
  python bench_extra.py explain NAME OUT     # write .explain('formatted') to OUT

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
PATITO_BENCH_EXTRA_REPS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import CPUS, HEADLINE, SF_DIR, _deliverable_compute, _session

REPS = int(os.environ.get("PATITO_BENCH_EXTRA_REPS", "3"))


def _spark():
    spark = _session(CPUS, "patito-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    # same neutral JIT warmup bench.py uses
    spark.range(1_000_000).select(
        F.md5(F.col("id").cast("string")).alias("h")
    ).agg(F.count(F.lit(1))).collect()
    return spark


def _time_best(fn, reps=REPS):
    best = None
    samples = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        samples.append(round(dt, 3))
        best = dt if best is None else min(best, dt)
    return round(best, 3), samples


def cmd_queries(names):
    import __spark_entry__ as entrymod

    spark = _spark()
    names = names or HEADLINE
    cal0 = _deliverable_compute(CPUS)
    out = {}
    for name in names:
        q = getattr(entrymod, f"q_{name}")
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        best, samples = _time_best(lambda: q(spark, SF_DIR).collect())
        out[name] = {"best": best, "samples": samples}
    cal1 = _deliverable_compute(CPUS)
    print(json.dumps({
        "sf_dir": SF_DIR, "reps": REPS, "probe_before": round(cal0),
        "probe_after": round(cal1), "queries": out,
        "sum_best": round(sum(v["best"] for v in out.values()), 3),
    }))
    spark.stop()


def cmd_explain(name, out_path):
    import __spark_entry__ as entrymod

    spark = _spark()
    q = getattr(entrymod, f"q_{name}")
    df = q(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(out_path, "w") as f:
        f.write(plan)
    print(f"wrote {out_path} ({len(plan)} chars)")
    spark.stop()


def main():
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "queries":
        cmd_queries(sys.argv[2:])
    elif cmd == "explain":
        cmd_explain(sys.argv[2], sys.argv[3])
    else:
        raise SystemExit(f"unknown sub-command {cmd}")


if __name__ == "__main__":
    main()
