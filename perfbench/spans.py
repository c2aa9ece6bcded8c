"""Per-call spans and Spark counters, read from outside the engine.

Each public call the benchmark makes runs under its own Spark job group.
After the call returns, the collector drains the listener bus and reads
the driver's status store: the call's jobs (with their submit and finish
times) and the stages under them (with their task metrics).  Nothing in
``patito_spark`` is touched, and all reading happens after the call's
clock has stopped.

Spans are kept in memory and written out once, at the end of the run:
one span per operation, one per public call under it, and one per Spark
job under the call.  A span's self time is its duration minus the part
of its interval that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: counters read per public call (the per-layer set)
COUNTERS = (
    "wall_s",
    "driver_s",
    "jobs",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "input_records",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)


def covered(interval: tuple, children: list) -> float:
    """Length of the part of *interval* that the union of *children* covers."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in children if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Job-group tagging, status-store reads and the span list of one run.

    With ``enabled=False`` calls run untagged and nothing is read, which
    is how the end-to-end numbers are measured.
    """

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        #: seconds spent reading the status store (outside every timed call)
        self.collect_s = 0.0
        self._seq = 0
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()

    def _span(self, name: str, start: float, end: float, parent, **attrs) -> int:
        span_id = len(self.spans)
        self.spans.append(
            {
                "id": span_id,
                "run": self.run_id,
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                **attrs,
            }
        )
        return span_id

    @contextmanager
    def operation(self, name: str):
        """Span around one whole operation (one or more public calls)."""
        start = time.time()
        span_id = self._span(name, start, start, None)
        yield span_id
        self.spans[span_id]["end"] = time.time()

    def call(self, name: str, parent, fn):
        """Run ``fn()`` as one public call; return ``(result, counters)``.

        ``counters`` holds ``wall_s`` always and the full ``COUNTERS`` set
        when tracing is on.
        """
        group = None
        if self.enabled:
            self._seq += 1
            group = f"perfbench-{self.run_id}-{self._seq}"
            self._sc.setJobGroup(group, name)
        start = time.time()
        try:
            result = fn()
        finally:
            end = time.time()
            if group is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
        counters = {"wall_s": end - start}
        if self.enabled:
            t0 = time.perf_counter()
            counters.update(self._read(group, name, start, end, parent))
            self.collect_s += time.perf_counter() - t0
        return result, counters

    def _read(self, group: str, name: str, start: float, end: float, parent) -> dict:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        job_ids = sorted(self._sc.statusTracker().getJobIdsForGroup(group))
        call_id = self._span(name, start, end, parent)
        intervals, stage_ids = [], set()
        for jid in job_ids:
            job = self._store.job(jid)
            submitted = job.submissionTime()
            completed = job.completionTime()
            j_start = submitted.get().getTime() / 1000 if submitted.isDefined() else start
            j_end = completed.get().getTime() / 1000 if completed.isDefined() else end
            intervals.append((j_start, j_end))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
            self._span(f"job {jid}", j_start, j_end, call_id, status=str(job.status()))
        sums = dict.fromkeys(COUNTERS[3:], 0)
        stages = self._store.stageList(
            self._jvm.java.util.ArrayList(),
            False,
            False,
            self._sc._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        for i in range(stages.size()):
            stage = stages.apply(i)
            if stage.stageId() not in stage_ids or str(stage.status()) != "COMPLETE":
                continue
            sums["tasks"] += stage.numCompleteTasks()
            sums["exec_run_s"] += stage.executorRunTime() / 1e3
            sums["exec_cpu_s"] += stage.executorCpuTime() / 1e9
            sums["gc_s"] += stage.jvmGcTime() / 1e3
            sums["input_records"] += stage.inputRecords()
            sums["shuffle_write_bytes"] += stage.shuffleWriteBytes()
            sums["spill_bytes"] += stage.diskBytesSpilled()
            sums["output_bytes"] += stage.outputBytes()
        driver_s = (end - start) - covered((start, end), intervals)
        self.spans[call_id]["self_s"] = driver_s
        return {"driver_s": driver_s, "jobs": len(job_ids), **sums}

    def self_times(self) -> None:
        """Fill ``self_s`` on every span that has none yet."""
        children: dict = {}
        for span in self.spans:
            if span["parent"] is not None:
                children.setdefault(span["parent"], []).append(
                    (span["start"], span["end"])
                )
        for span in self.spans:
            if "self_s" not in span:
                interval = (span["start"], span["end"])
                span["self_s"] = (span["end"] - span["start"]) - covered(
                    interval, children.get(span["id"], [])
                )

    def write(self, path: str) -> None:
        self.self_times()
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
