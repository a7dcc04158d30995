"""Benchmark entry point.

    python3 perfbench/run.py --workload sdmx_revisions --seed 1 --seconds 30 --trace 0

Runs one workload as a closed loop (see ``harness.py``) from the root of a
checkout and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, taken from spans and Spark status-store counters, and every other op
of each kind runs untraced to measure the tracing overhead.
Diagnostics (host context, steadiness, per-op-type layer times) are printed
as ``#`` lines before the result and written, with every span, to
``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

# the checkout root: the engine and this package are imported from here
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness as H  # noqa: E402
from perfbench.tracer import STAGE_COUNTERS, Tracer  # noqa: E402
WORKLOADS = ("sdmx_revisions", "llm_curation")
SPAN_ALIASES = {
    # per-layer metric name -> the span names it takes the median over
    "vintage.write.s": ("vintage.merge", "vintage.delete", "vintage.update", "vintage.compact"),
    "vintage.read.plan_s": ("vintage.read", "vintage.read_where"),
    "vintage.read.exec_s": ("vintage.read.exec", "vintage.read_where.exec"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                   help="data sizes; 'tiny' is for the self-test")
    return p.parse_args(argv)


def pin_environment(workdir: str) -> None:
    """Keep Spark on a fixed core count and every file inside the checkout."""
    nproc = os.cpu_count() or 1
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or min(4, nproc))
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, min(cpus, nproc)))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf {shlex.quote('spark.driver.extraJavaOptions=-Djava.io.tmpdir=' + tmp)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def import_engine():
    """Import the engine from this checkout, never from elsewhere."""
    try:
        import sdlt_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import sdlt_spark from {ROOT}: {e}")
    where = os.path.dirname(os.path.abspath(sdlt_spark.__file__))
    if os.path.dirname(where) != ROOT:
        sys.exit(f"perfbench: sdlt_spark resolved to {where}, not to this checkout")


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    workdir = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    pin_environment(workdir)
    import_engine()
    host = {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": int(os.environ["SPARK_GRAFT_CPUS"]),
        "load_before": H.load_average(),
        "cpu_canary_before_s": H.cpu_canary(),
    }
    t0 = time.perf_counter()
    from sdlt_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    host["driver_memory"] = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    try:
        return run_workload(args, spark, workdir, host, session_s, t0)
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def run_workload(args, spark, workdir, host, session_s, t0) -> int:
    if args.workload == "sdmx_revisions":
        from perfbench.sdmx_workload import SdmxRevisions as Workload
    else:
        from perfbench.curation_workload import LlmCuration as Workload

    tracer = Tracer(spark, enabled=bool(args.trace))
    wl = Workload(spark, args.seed, args.scale, workdir, tracer)
    outcome = H.Outcome()
    t_build = time.perf_counter()
    wl.setup()
    t_warm = time.perf_counter()
    warm_ops = H.warm_up(wl, tracer, outcome)
    setup_s = time.perf_counter() - t0
    setup_parts = {"session_s": session_s, "build_s": t_warm - t_build,
                   "warm_up_s": time.perf_counter() - t_warm}
    if outcome.failures:
        print(f"# set-up failed: {outcome.failures}", file=sys.stderr)
        return 1

    bytes_before = wl.table_bytes()
    H.closed_loop(wl, args.seconds, tracer, outcome)
    bytes_written = wl.table_bytes() - bytes_before

    t_check = time.perf_counter()
    final_errors = wl.final_checks()
    final_checks_s = time.perf_counter() - t_check
    outcome.attempted += 1
    for err in final_errors:
        print(f"# FAILED final check: {err}", file=sys.stderr)
    failed = len(outcome.failures) + (1 if final_errors else 0)

    host["load_after"] = H.load_average()
    host["cpu_canary_after_s"] = H.cpu_canary()

    recs = outcome.records
    untraced = [r for r in recs if not r.traced]
    # latencies free of tracing, and of ops the hypervisor slowed down
    timed = H.calm(untraced)
    by_class = {k: [r for r in timed if r.klass == k] for k in H.LATENCY_METRICS}
    writes = [r.latency_s for r in timed if r.klass in (H.WRITE, H.MAINTAIN)]
    diagnostics = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "host": host,
        "setup": setup_parts,
        "warm_up_ops": warm_ops,
        "final_checks_s": final_checks_s,
        "timed_ops": len(recs),
        "timed_s": outcome.timed_s,
        "samples": {k: len(v) for k, v in by_class.items()},
        "steal_share": {
            "op_median": H.median([r.steal_share for r in recs]),
            "ops_over_max": sum(r.steal_share > H.STEAL_MAX for r in recs),
        },
        "write_p90_s": H.nearest_rank(writes, 0.9),
        "steadiness": H.steadiness(timed, outcome.timed_s),
    }

    if args.trace:
        layer = layer_metrics(tracer, recs, session_s, bytes_written, outcome.user_bytes)
        metrics = {name: {"value": v, "unit": u} for name, (v, u) in layer.items()}
        diagnostics["layers"] = per_op_type(tracer)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            # whole cycles of ops over the time spent inside their calls
            "ops_per_s": (len(untraced) / sum(r.latency_s for r in untraced), "1/s"),
            **{H.LATENCY_METRICS[k]: (H.median([r.latency_s for r in v]), "s")
               for k, v in by_class.items()},
            "storage_amp": (outcome.storage_amp, "ratio"),
        }
        metrics = {name: {"value": v, "unit": u} for name, (v, u) in metrics.items()}

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump({"diagnostics": diagnostics, "metrics": metrics,
                   "records": [vars(r) for r in recs], "spans": tracer.spans,
                   "failures": outcome.failures + final_errors}, f, indent=1, default=str)
    for line in json.dumps(diagnostics, indent=1, default=str).splitlines():
        print(f"# {line}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": outcome.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


PER_LAYER_UNITS = {
    "session.get_spark.s": "s",
    "vintage.write.s": "s",
    "vintage.read.plan_s": "s",
    "vintage.read.exec_s": "s",
    "vintage.live_files": "count",
    "vintage.bytes_written_per_user_byte": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_cpu_s_per_op": "s",
    "spark.shuffle_read_bytes_per_op": "bytes",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.task_max_over_median": "ratio",
    "driver.self_s_per_op": "s",
    "trace.overhead": "ratio",
}


def layer_metrics(tracer, recs, session_s, bytes_written, user_bytes) -> dict:
    """Per-layer metrics of a traced run: span medians, and Spark counters
    as means per traced op (the traced ops are half of each op kind's)."""
    spans = tracer.layer_seconds()
    ops = tracer.op_spans()

    def per_op(counter):
        return sum(o["spark"][counter] for o in ops) / len(ops)

    traced = [r for r in recs if r.traced]
    untraced = [r for r in recs if not r.traced]
    v = {
        "session.get_spark.s": session_s,
        **{name: H.median([d for s in sources for d in spans.get(s, [])])
           for name, sources in SPAN_ALIASES.items()},
        "vintage.live_files": H.median([r.live_files for r in recs]),
        "vintage.bytes_written_per_user_byte": bytes_written / max(1, user_bytes),
        **{f"spark.{c}_per_op": per_op(c) for c in STAGE_COUNTERS},
        "spark.task_max_over_median": H.median([o["spark"]["task_max_over_median"] for o in ops]),
        "driver.self_s_per_op": per_op("driver_self_s"),
        # mean op wall time of the traced ops over that of the untraced
        # ones (the same op mix), both including the tracer's bookkeeping
        "trace.overhead": (
            statistics.mean(r.wall_s for r in traced)
            / statistics.mean(r.wall_s for r in untraced)
        ),
    }
    return {name: (v[name], unit) for name, unit in PER_LAYER_UNITS.items()}


def per_op_type(tracer) -> dict:
    """Median span time per layer function and Spark counters per op type."""
    out = {}
    for name, durations in sorted(tracer.layer_seconds().items()):
        out[f"{name}.s"] = {"p50": H.median(durations), "n": len(durations)}
    counts: dict[str, list] = {}
    spark_by_type: dict[str, dict[str, list]] = {}
    for op in tracer.op_spans():
        for k, v in op.get("counts", {}).items():
            counts.setdefault(k, []).append(v)
        per = spark_by_type.setdefault(op["name"], {})
        for k, v in op["spark"].items():
            per.setdefault(k, []).append(v)
    for k, v in counts.items():
        out[k] = {"p50": H.median(v), "n": len(v)}
    out["spark"] = {t: {k: H.median(v) for k, v in c.items()} for t, c in spark_by_type.items()}
    return out


if __name__ == "__main__":
    sys.exit(main())
