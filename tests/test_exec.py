"""``sdlt_spark.exec.overlap``: the one primitive the engine overlaps
independent jobs with. Its failure rule (the foreground exception is
primary, the background one is chained to it, no leg is left running),
its cache release, its job-group inheritance, and a static guard that no
other module under ``sdlt_spark/`` starts a thread."""

from __future__ import annotations

import ast
import pathlib
import threading
import time

import pytest

from sdlt_spark.exec import overlap
from sdlt_spark.operators import dedup

PKG = pathlib.Path(__file__).resolve().parent.parent / "sdlt_spark"


class _Cache:
    """Stands in for a persisted frame: records its release."""

    def __init__(self, log):
        self.log = log

    def unpersist(self):
        self.log.append(self)


def test_overlap_keeps_background_failure_when_foreground_fails():
    """Both legs fail: the foreground exception propagates and carries the
    background Future, whose own failure can still be awaited; the caches
    are released after both legs finished."""
    released = []

    def _bg():
        raise dedup.PairBudgetExceeded("background over max_pairs")

    def _fg():
        raise RuntimeError("index write failed")

    caches = [_Cache(released), _Cache(released)]
    with pytest.raises(RuntimeError, match="index write failed") as info:
        overlap(_fg, _bg, release=caches)
    fut = info.value.pending_verify
    with pytest.raises(dedup.PairBudgetExceeded, match="max_pairs"):
        fut.result(timeout=30)
    assert released == caches


def test_both_fail_foreground_primary_background_cause():
    def _fg():
        raise RuntimeError("merge failed")

    def _bg():
        raise ValueError("verify failed")

    with pytest.raises(RuntimeError, match="merge failed") as info:
        overlap(_fg, _bg)
    assert isinstance(info.value.__cause__, ValueError)
    assert str(info.value.__cause__) == "verify failed"
    assert info.value.pending_verify.done()


def test_foreground_ok_background_failure_raises_from_future():
    released = []
    caches = [_Cache(released)]
    value, fut = overlap(lambda: 42, lambda: 1 // 0, release=caches)
    assert value == 42
    with pytest.raises(ZeroDivisionError):
        fut.result(timeout=30)
    assert released == caches


def test_foreground_failure_waits_for_background_and_its_thread():
    """No leg is left running behind an exception: ``overlap`` raises only
    once the background leg has finished and its thread has exited."""
    baseline = threading.active_count()
    finished = threading.Event()

    def _bg():
        time.sleep(0.3)
        finished.set()

    def _fg():
        raise RuntimeError("fg failed")

    with pytest.raises(RuntimeError, match="fg failed") as info:
        overlap(_fg, _bg)
    assert finished.is_set()
    assert info.value.pending_verify.done()
    assert info.value.__cause__ is None
    assert threading.active_count() == baseline


def test_release_once_after_both_legs():
    events = []
    fg_may_finish = threading.Event()

    class _Frame:
        def unpersist(self):
            events.append("release")

    def _bg():
        events.append("bg")
        fg_may_finish.set()
        return "bg"

    def _fg():
        # the background leg has finished; its release still waits for us
        assert fg_may_finish.wait(30)
        time.sleep(0.1)
        assert "release" not in events
        events.append("fg")
        return "fg"

    _, fut = overlap(_fg, _bg, release=[_Frame()])
    assert fut.result(timeout=30) == "bg"
    # a resolved future means the caches are already released
    assert events == ["bg", "fg", "release"]


def test_background_spark_jobs_carry_the_callers_job_group(spark):
    """A plain pool thread's jobs carry no job group; the background leg of
    ``overlap`` inherits the caller's, as the status store records."""
    sc = spark.sparkContext
    group = "sdlt-overlap-test-group"
    sc.setJobGroup(group, "overlap job group test", False)
    try:
        _, fut = overlap(lambda: None, lambda: spark.range(100).count())
        assert fut.result(timeout=120) == 100
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert sc.statusTracker().getJobIdsForGroup(group)


def _starts_threads(tree: ast.AST) -> list[str]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found += [a.name for a in node.names if a.name == "threading"]
        elif isinstance(node, ast.ImportFrom):
            if node.module == "threading":
                found.append("from threading")
            found += [a.name for a in node.names if a.name == "ThreadPoolExecutor"]
        elif isinstance(node, ast.Attribute) and node.attr in (
            "ThreadPoolExecutor",
            "Thread",
        ):
            found.append(node.attr)
    return found


def test_only_exec_starts_threads():
    """Static guard: every thread under ``sdlt_spark/`` is started by
    ``exec.overlap``; no module keeps a private pool."""
    offenders = {}
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "exec.py":
            continue
        hits = _starts_threads(ast.parse(path.read_text()))
        if hits:
            offenders[str(path.relative_to(PKG))] = hits
    assert offenders == {}
    assert _starts_threads(ast.parse((PKG / "exec.py").read_text()))
