"""The closed loop every workload runs in, and the numbers it reports.

One client in one process issues one op at a time; the next op is prepared
only after the previous one returned and was checked. The op sequence is a
fixed cycle of op kinds whose contents come from the seed, and the timed
phase ends at a cycle boundary, so every run measures the same op mix. Only
the op's own call is timed: preparing its input, checking its output
against the workload's model, the traced run's probes and sampling the
table state happen outside the timer.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable
from urllib.parse import unquote, urlparse

# an op during which the hypervisor took more than this share of the VM's
# CPU time measures the host, not the program (see ``calm``)
STEAL_MAX = 0.05

# op classes; each end-to-end latency metric is the median of one class
WRITE, READ, TRAVEL, MAINTAIN = "write", "read", "travel", "maintain"
LATENCY_METRICS = {WRITE: "write_p50_s", READ: "read_p50_s", TRAVEL: "travel_p50_s"}


@dataclass
class Op:
    """One prepared op: ``run`` is timed, ``check`` is not.

    ``check`` receives ``run``'s return value and returns ``None`` when the
    output matches the workload's model, else a description of the mismatch.
    ``probe``, if any, also receives it, runs only when the op was traced,
    and records per-layer counts that take extra work to measure.
    ``user_bytes`` is the size of the input the user submitted with the op.
    """

    kind: str
    klass: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    user_bytes: int = 0
    probe: Callable[[Any], None] | None = None


@dataclass
class Record:
    index: int
    kind: str
    klass: str
    cycle: int
    offset_s: float  # start of the op, from the start of the timed phase
    latency_s: float
    wall_s: float  # latency plus the tracer's per-op bookkeeping, without probes
    traced: bool
    ok: bool
    live_files: int
    steal_share: float  # share of the VM's CPU time the hypervisor took during the op


@dataclass
class Outcome:
    records: list[Record] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    storage_amp: float | None = None
    user_bytes: int = 0
    timed_s: float = 0.0


def require(err: str | None) -> None:
    """Raise on a model mismatch found during set-up."""
    if err is not None:
        raise RuntimeError(err)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def nearest_rank(xs, q: float):
    if not xs:
        return float("nan")
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def cpu_ticks() -> tuple[int, int]:
    """(all CPU ticks, stolen ticks) of this machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def execute(op: Op, index: int, tracer, traced: bool, outcome: Outcome):
    """Run one op; returns (latency_s, wall_s, ok, steal share)."""
    outcome.attempted += 1
    ctx = tracer.op(index, op.kind) if traced else contextlib.nullcontext()
    w0 = time.perf_counter()
    error = None
    with ctx:
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        try:
            result = op.run()
        except Exception:  # a failed op is counted, and the loop goes on
            error = traceback.format_exc()
        t1 = time.perf_counter()
        stolen = steal_share(ticks, cpu_ticks())
    w1 = time.perf_counter()
    if error is None:
        try:
            error = op.check(result)
            if error is None and traced and op.probe is not None:
                op.probe(result)
        except Exception:
            error = traceback.format_exc()
    if error is not None:
        msg = f"op {index} ({op.kind}): {error}"
        print(f"# FAILED {msg}", file=sys.stderr)
        outcome.failures.append(msg)
    return t1 - t0, w1 - w0, error is None, stolen


def warm_up(workload, tracer, outcome: Outcome) -> int:
    """Run the workload's warm-up ops untimed, so every op kind has run
    before timing."""
    for n, kind in enumerate(workload.WARM_UP):
        execute(workload.prepare(kind), -1 - n, tracer, False, outcome)
    return len(workload.WARM_UP)


def closed_loop(workload, seconds: float, tracer, outcome: Outcome) -> None:
    """Issue whole cycles of ops until ``seconds`` have passed.

    In a traced run, every other op of each kind is traced, and the loop
    runs an even number of cycles, at least two. The traced and the
    untraced ops are then the same op mix spread over the same span of the
    run, so comparing them measures the tracing overhead. The live file
    count is sampled after every op that can change it."""
    start = time.perf_counter()
    deadline = start + seconds
    index = 0
    cycle = 0
    runs_of: dict[str, int] = {}
    live = workload.live_files()
    while (cycle == 0 or time.perf_counter() < deadline
           or (tracer.enabled and cycle % 2 == 1)):
        for kind in workload.CYCLE:
            op = workload.prepare(kind)
            outcome.user_bytes += op.user_bytes
            n = runs_of[kind] = runs_of.get(kind, 0) + 1
            traced = tracer.enabled and n % 2 == 1
            offset = time.perf_counter() - start
            lat, wall, ok, stolen = execute(op, index, tracer, traced, outcome)
            if op.klass in (WRITE, MAINTAIN):
                live = workload.live_files()
            outcome.records.append(
                Record(index, kind, op.klass, cycle, offset, lat, wall, traced, ok,
                       live, stolen)
            )
            index += 1
        if cycle == 0:  # the same op mix in every run, however long it is
            outcome.storage_amp = workload.storage_amp()
        cycle += 1
    outcome.timed_s = time.perf_counter() - start


def calm(records: list[Record]) -> list[Record]:
    """The records of each op kind that ran while the hypervisor left the VM
    its CPUs (steal share at most ``STEAL_MAX``); all records of a kind that
    never did."""
    out = []
    for kind in dict.fromkeys(r.kind for r in records):
        mine = [r for r in records if r.kind == kind]
        out += [r for r in mine if r.steal_share <= STEAL_MAX] or mine
    return out


def steadiness(records: list[Record], timed_s: float) -> dict:
    """Median latency of each op kind in the first vs second half of the
    timed phase, and the live-file range over it."""
    out: dict[str, Any] = {}
    for kind in sorted({r.kind for r in records}):
        first = [r.latency_s for r in records if r.kind == kind and r.offset_s < timed_s / 2]
        second = [r.latency_s for r in records if r.kind == kind and r.offset_s >= timed_s / 2]
        out[kind] = {
            "n": [len(first), len(second)],
            "first_half_p50_s": median(first),
            "second_half_p50_s": median(second),
            "second_over_first": median(second) / median(first) if first and second else None,
        }
    live = [r.live_files for r in records]
    out["vintage.live_files"] = {"min": min(live, default=0), "max": max(live, default=0)}
    return out


# ------------------------------------------------------------------ host


def cpu_canary() -> float:
    """Seconds for a fixed pure-Python loop: the host's speed right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def load_average() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def dir_bytes(*paths: str) -> int:
    total = 0
    for root in paths:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except FileNotFoundError:
                    pass
    return total


def local_path(uri: str) -> str:
    """Local path of a ``DataFrame.inputFiles()`` URI."""
    return unquote(urlparse(uri).path)


def file_bytes(uris) -> int:
    """Total size of the files named by ``DataFrame.inputFiles()`` URIs."""
    return sum(os.path.getsize(local_path(u)) for u in uris)
