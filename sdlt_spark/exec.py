"""Execution control: the one way the engine overlaps independent Spark jobs.

Spark runs several jobs at once when several driver threads submit them;
actions are sequential only because driver code calls them one after the
other. Where two legs of work are independent (a mutation's data write and
its change-data write, a MinHash index commit and its pair verification,
an ingest and the index step that does not read it), :func:`overlap` runs
one leg on a background thread while the caller runs the other, so one
job's tasks fill the executor slots the other's stage tail leaves idle.

Every thread the package starts is started here, under one failure rule:
no leg is ever left running behind an exception, and no exception is lost.
"""

from __future__ import annotations

import threading
from concurrent.futures import Future
from typing import Callable, Iterable, TypeVar

T = TypeVar("T")
U = TypeVar("U")


def _inheriting(fn: Callable[[], U]) -> Callable[[], U]:
    """``fn`` wrapped so the thread that runs it carries this thread's job
    group, job tags and local properties (captured now, at wrap time);
    ``fn`` itself when no Spark session exists."""
    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    try:
        session = SparkSession.active()
    except Exception:  # no session: nothing to inherit
        return fn
    wrap = inheritable_thread_target(session)
    # with pinned threads off (PYSPARK_PIN_THREAD=false) PySpark hands the
    # session back unchanged: threads then share JVM threads, nothing to copy
    return wrap(fn) if callable(wrap) else fn


def overlap(
    fg: Callable[[], T], bg: Callable[[], U], release: Iterable = ()
) -> tuple[T, Future]:
    """Run ``bg`` on a background thread while ``fg`` runs in this one, and
    return ``(fg(), future)`` where ``future`` resolves to ``bg()``.

    - ``bg`` runs under ``pyspark.inheritable_thread_target`` of the active
      session, so its Spark jobs carry the caller's job group, tags and
      local properties.
    - Every frame in ``release`` is unpersisted once BOTH legs have
      finished, before ``future`` resolves: neither leg races the teardown
      of a cache it reads, and a resolved future means the caches are gone.
    - If ``fg`` raises, ``overlap`` first waits for ``bg`` to finish, then
      re-raises ``fg``'s exception with ``bg``'s exception (if any) as its
      ``__cause__`` and the finished future as its ``pending_verify``
      attribute. The foreground exception is primary; no leg is left
      running behind it, so a caller's failure cleanup never races a live
      write.
    - If only ``bg`` raises, ``future.result()`` raises its exception; the
      caller decides when to await it (immediately, or after submitting
      the next step's jobs).
    """
    frames = list(release)
    fut: Future = Future()
    fut.set_running_or_notify_cancel()
    fg_done = threading.Event()
    target = _inheriting(bg)

    def _run() -> None:
        try:
            try:
                value = target()
            finally:
                fg_done.wait()
                for frame in frames:
                    frame.unpersist()
        except BaseException as exc:  # noqa: BLE001 — delivered via the future
            fut.set_exception(exc)
        else:
            fut.set_result(value)

    thread = threading.Thread(target=_run, name="sdlt-overlap")
    thread.start()
    try:
        value = fg()
    except BaseException as exc:
        fg_done.set()
        thread.join()
        exc.pending_verify = fut
        bg_exc = fut.exception()
        if bg_exc is not None:
            raise exc from bg_exc
        raise
    fg_done.set()
    return value, fut
