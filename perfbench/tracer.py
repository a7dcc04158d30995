"""Spans and Spark stage counters for the traced benchmark run.

A span is a record ``{name, op, parent, start, end}`` kept in memory and
written out when the run ends. The benchmark opens one op span per timed
operation and one child span around every call it makes into a layer's
public functions, so a layer's time is read straight off its spans.

Spark counters come from the application status store, which answers with
``spark.ui.enabled=false``. Each op runs under its own job group. After the
op returns, every job submitted since the previous op is read from the
store and its completed stages are folded into the op span. Jobs that a
library background thread submits do not carry the group; they are still
attributed to the op by job id, and counted as ``jobs_ungrouped``.

Counts that take extra work to measure (files scanned, LSH candidates) are
taken by a probe after the op span has closed, so neither the op's time
nor its Spark counters include them.

When tracing is off, ``op``, ``span`` and ``count`` do nothing and no job
group is set.
"""

from __future__ import annotations

import contextlib
import time

from py4j.protocol import Py4JError, Py4JJavaError

# the counters folded into each op span, summed over its completed stages
STAGE_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._spark = spark
        self._op: dict | None = None
        self._last_op: dict | None = None
        self._stack: list[dict] = []
        self._next_job = 0

    @contextlib.contextmanager
    def op(self, op_id: int, op_type: str):
        """The span of one timed op; its Spark jobs run under one job group."""
        if not self.enabled:
            yield
            return
        sc = self._spark.sparkContext
        group = f"perfbench-op-{op_id}"
        rec = {"name": f"op.{op_type}", "op": op_id, "parent": None, "group": group}
        self._op = rec
        self._stack = [rec]
        # jobs run since the previous op (correctness checks, probes) are
        # not this op's work
        self._drain()
        self._next_job = self._jobs_since(self._next_job)[1]
        sc.setJobGroup(group, f"perfbench {op_type} #{op_id}", False)
        rec["start"] = time.perf_counter()
        rec["wall_start_ms"] = time.time() * 1000.0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end_ms"] = time.time() * 1000.0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)
            self._stack = []
            self._op = None
            self._last_op = rec
            self._fold_stages(rec)

    @contextlib.contextmanager
    def span(self, name: str):
        """A child span around one call into a layer's public function."""
        if not self.enabled or self._op is None:
            yield
            return
        rec = {"name": name, "op": self._op["op"], "parent": self._stack[-1]["name"]}
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def count(self, name: str, value: float) -> None:
        """A count for the op that ended last, recorded by its probe after
        the op span closed; any Spark jobs the probe runs are skipped when
        the next op starts."""
        if self.enabled and self._last_op is not None:
            self._last_op.setdefault("counts", {})[name] = value

    # ----------------------------------------------------------- status store

    def _drain(self) -> None:
        # job/stage end events reach the status store through the listener
        # bus; wait until it has delivered everything the op posted
        bus = self._spark.sparkContext._jsc.sc().listenerBus()
        try:
            bus.waitUntilEmpty(10_000)
        except (Py4JError, Py4JJavaError):
            time.sleep(0.2)

    def _jobs_since(self, first: int) -> tuple[list, int]:
        store = self._spark.sparkContext._jsc.sc().statusStore()
        jobs = []
        jid = first
        while True:
            try:
                jobs.append(store.job(jid))
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                break
            jid += 1
        return jobs, jid

    def _fold_stages(self, rec: dict) -> None:
        self._drain()
        sc = self._spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        jobs, self._next_job = self._jobs_since(self._next_job)
        totals = dict.fromkeys(STAGE_COUNTERS, 0.0)
        intervals = []
        task_ratios = []
        ungrouped = 0
        quantiles = sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for job in jobs:
            totals["jobs"] += 1
            group = job.jobGroup()
            if not group.isDefined() or group.get() != rec["group"]:
                ungrouped += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            for k in range(ids.size()):
                attempts = store.stageData(
                    ids.apply(k), False, jvm.java.util.ArrayList(), False,
                    sc._gateway.new_array(jvm.double, 0),
                )
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() != "COMPLETE":
                        continue  # SKIPPED stages reuse an earlier shuffle
                    totals["stages"] += 1
                    totals["tasks"] += st.numTasks()
                    totals["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    totals["shuffle_read_bytes"] += st.shuffleReadBytes()
                    totals["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    totals["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
                    summary = store.taskSummary(st.stageId(), st.attemptId(), quantiles)
                    if summary.isDefined():
                        run = summary.get().executorRunTime()
                        med, top = run.apply(0), run.apply(1)
                        if med > 0:
                            task_ratios.append(top / med)
        covered = _union_ms(intervals) / 1000.0
        rec["spark"] = totals
        rec["spark"]["jobs_ungrouped"] = ungrouped
        rec["spark"]["task_max_over_median"] = max(task_ratios, default=1.0)
        rec["spark"]["driver_self_s"] = max(0.0, (rec["end"] - rec["start"]) - covered)

    # ------------------------------------------------------------------ views

    def layer_seconds(self) -> dict[str, list[float]]:
        """Durations of every non-op span, by span name."""
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["name"], []).append(s["end"] - s["start"])
        return out

    def op_spans(self) -> list[dict]:
        return [s for s in self.spans if s["parent"] is None]


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
