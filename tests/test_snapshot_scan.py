"""VintageTable scans take their schema from the commit log: one replay
resolves a snapshot's version, live files and schema, so planning a read
runs no Spark job, and every version reads with the columns it had.
Self-contained (sf0.001-sized synthetic tables)."""

from __future__ import annotations

import ast
import inspect
import time
import uuid

import pytest
from pyspark.sql import functions as F

from sdlt_spark.store import vintage
from sdlt_spark.store.vintage import VintageTable


def _base(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("grp"),
        (F.col("id") * 10).cast("double").alias("v"),
    )


def _evolved(spark, tmp_path, change_feed=False):
    """v0: (k, grp, v); then a schema-evolving merge adds ``note`` to
    rows k in [35, 45). Returns the table, v0 and a time inside v0."""
    t = VintageTable(spark, str(tmp_path / "t"), change_feed=change_feed)
    v0 = t.write(_base(spark).repartition(3))
    ts0 = time.time()
    time.sleep(0.05)
    src = spark.range(35, 45).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("grp"),
        F.lit(1.0).alias("v"), F.concat(F.lit("n"), F.col("id")).alias("note"),
    )
    t.merge(src, ["k"], schema_evolution=True)
    return t, v0, ts0


def _jobs_in(spark, fn):
    """Spark job ids ``fn`` ran, counted through a private job group."""
    sc = spark.sparkContext
    group = f"snapshot-scan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "snapshot scan test", False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_reads_run_no_spark_job_before_the_action(spark, tmp_path):
    t, v0, ts0 = _evolved(spark, tmp_path)
    t.delete("grp = 1", mode="dv")  # a live DV joins the read plans
    plans, jobs = _jobs_in(
        spark,
        lambda: [
            t.read(),
            t.read(version=v0),
            t.read(timestamp=ts0),
            t.read_where("k", 5, 20),
        ],
    )
    assert jobs == []
    # the group does see the action's jobs, so the zero above is real
    counts, jobs = _jobs_in(spark, lambda: [df.count() for df in plans])
    assert jobs
    assert counts == [sum(1 for k in range(45) if k % 4 != 1), 40, 40, 12]


def test_time_travel_reads_the_columns_of_its_version(spark, tmp_path):
    t, v0, ts0 = _evolved(spark, tmp_path)
    assert t.read(version=v0).columns == ["k", "grp", "v"]
    # a timestamp read resolves to v0 first: files AND schema from v0
    assert t.read(timestamp=ts0).columns == ["k", "grp", "v"]
    assert t.read(timestamp=ts0).count() == 40
    head = {r["k"]: r["note"] for r in t.read().collect()}
    assert t.read().columns == ["k", "grp", "v", "note"]
    assert len(head) == 45
    assert all(head[k] is None for k in range(35))  # old rows: typed null
    assert head[40] == "n40"


def test_table_changes_across_evolution_has_head_schema(spark, tmp_path):
    t, v0, _ = _evolved(spark, tmp_path, change_feed=True)
    ch = t.table_changes(v0)
    assert ch.columns == ["k", "grp", "v", "note", "_change_type", "_commit_version"]
    rows = ch.collect()
    v0_rows = [r for r in rows if r["_commit_version"] == v0]
    assert len(v0_rows) == 40 and all(r["note"] is None for r in v0_rows)
    merged = [r for r in rows if r["_commit_version"] == v0 + 1]
    inserts = {r["k"]: r["note"] for r in merged if r["_change_type"] == "insert"}
    deletes = {r["k"] for r in merged if r["_change_type"] == "delete"}
    assert inserts == {k: f"n{k}" for k in range(35, 45)}
    assert deletes == set(range(35, 40))


def test_dv_tables_keep_their_rows_through_every_path(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "t"))
    t.write(_base(spark).repartition(3))
    t.delete("grp = 1", mode="dv")
    want = {k for k in range(40) if k % 4 != 1}
    assert {r["k"] for r in t.read().collect()} == want
    clone = t.clone(str(tmp_path / "clone"))
    assert {r["k"] for r in clone.read().collect()} == want
    src = spark.createDataFrame([(2, 2, -1.0), (50, 2, -1.0)], "k long, grp long, v double")
    t.merge(src, ["k"])
    after_merge = {r["k"]: r["v"] for r in t.read().collect()}
    assert set(after_merge) == want | {50}
    assert after_merge[2] == -1.0 and after_merge[50] == -1.0
    t.delete("k = 3", mode="dv")
    assert t.materialize_deletion_vectors() is not None
    assert {r["k"] for r in t.read().collect()} == (want | {50}) - {3}
    assert not [f for f in t._live_files() if f.startswith("dv/")]
    assert {r["k"] for r in clone.read().collect()} == want  # clone untouched


def test_size_gate_stops_at_the_threshold(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "t"))
    t.write(_base(spark).repartition(3))
    live = t._live_files()
    assert t._live_bytes_at_least(0, live)
    assert t._live_bytes_at_least(1, live)
    assert not t._live_bytes_at_least(1 << 40, live)
    # an unstat-able file counts as large: gates fail toward the scale plan
    assert t._live_bytes_at_least(1 << 40, live + ["data/missing.parquet"])


def test_vintage_scans_only_through_the_two_readers():
    """Static guard: no schema inference and no other scan entry point."""
    src = inspect.getsource(vintage)
    assert "mergeSchema" not in src
    readers = set()
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.FunctionDef):
            continue
        for sub in ast.walk(node):
            if (
                isinstance(sub, ast.Attribute)
                and sub.attr == "read"
                and isinstance(sub.value, ast.Attribute)
                and sub.value.attr == "spark"
            ):
                readers.add(node.name)
    assert readers == {"_read_files", "_read_dvs"}


def test_snapshot_resolves_timestamp_like_version(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "t"))
    t.write(_base(spark))
    ts = time.time()
    time.sleep(0.05)
    t.write(_base(spark, 10), mode="append")
    by_ts, by_v = t._snapshot(timestamp=ts), t._snapshot(version=0)
    assert by_ts == by_v and by_ts.version == 0
    with pytest.raises(ValueError):
        t._snapshot(timestamp=ts - 3600)
