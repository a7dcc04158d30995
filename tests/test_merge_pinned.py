"""Pinned-source merge: a source Catalyst sizes at or below
``spark.sql.autoBroadcastJoinThreshold`` is collected once, validated on
the driver and matched through one ``IN`` predicate. Every scenario runs
on both paths (the unpinned one forced with a threshold of -1) and must
give the same table, the same removed files and rows added, and the same
error."""

from __future__ import annotations

import contextlib
import time
import uuid

import pytest
from pyspark.sql import functions as F

from sdlt_spark.store import vintage
from sdlt_spark.store.vintage import VintageTable

SCHEMA = "k long, v double, tag string"


def _local(spark, rows, schema):
    """A source Catalyst can size (a LocalRelation), like a parsed
    revision message; ``createDataFrame(list)`` alone is an RDD scan of
    unknown size and never pins."""
    return spark.createDataFrame(spark.createDataFrame(rows, schema).toArrow(), schema)


@contextlib.contextmanager
def _path(spark, pinned: bool):
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    if not pinned:
        spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _jobs_in(spark, fn):
    """Spark job ids ``fn`` ran, counted through a private job group."""
    sc = spark.sparkContext
    group = f"merge-pinned-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "merge pinned test", False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _base(spark, n=40):
    rows = [(k, float(k), f"t{k % 3}") for k in range(n)] + [(None, -1.0, "nullkey")]
    return spark.createDataFrame(rows, SCHEMA)


def _outcome(spark, tmp_path, pinned, src_rows, keys=("k",), schema=SCHEMA,
             base=None, change_feed=False, **kw):
    """Apply one merge to a fresh 4-file table on the chosen path and
    return what must not depend on the path."""
    name = f"{'pinned' if pinned else 'unpinned'}-{uuid.uuid4().hex[:8]}"
    t = VintageTable(spark, str(tmp_path / name), change_feed=change_feed)
    t.write(base if base is not None else _base(spark), cluster_by=[keys[0]], num_files=4)
    with _path(spark, pinned):
        src = _local(spark, src_rows, schema)
        try:
            v = t.merge(src, list(keys), **kw)
        except Exception as exc:  # noqa: BLE001 — the error is the outcome
            return ("error", type(exc).__name__, str(exc))
    entry = t._commits(after=v - 1)[0]
    stats = t._snapshot().stats
    table = sorted(repr(tuple(r)) for r in t.read().collect())
    out = {
        "table": table,
        "columns": t.read().columns,
        "removed": len(entry.remove),
        "rows_added": sum(stats[f]["rows"] for f in entry.add),
    }
    if change_feed:
        out["changes"] = sorted(repr(tuple(r)) for r in t.table_changes(v).collect())
    return out


def _same_both_ways(spark, tmp_path, src_rows, **kw):
    pinned = _outcome(spark, tmp_path, True, src_rows, **kw)
    unpinned = _outcome(spark, tmp_path, False, src_rows, **kw)
    assert pinned == unpinned
    return pinned


UPSERT = [(3, 30.0, "u"), (17, 170.0, "u"), (100, 1.0, "new"), (None, 9.0, "nullsrc")]

SCENARIOS = {
    "upsert": dict(src_rows=UPSERT),
    "keep_any": dict(src_rows=UPSERT + [(3, 30.0, "u")], on_duplicate_source="keep_any"),
    "order_col": dict(src_rows=UPSERT + [(3, 31.0, "u")], order_col="v"),
    "assume_unique": dict(src_rows=UPSERT, on_duplicate_source="assume_unique"),
    "nmbs_all": dict(src_rows=UPSERT, not_matched_by_source_delete=True),
    "nmbs_cond": dict(src_rows=UPSERT, not_matched_by_source_delete="tag = 't1'"),
    "change_feed": dict(src_rows=UPSERT, change_feed=True),
    "change_feed_nmbs": dict(
        src_rows=UPSERT, change_feed=True, not_matched_by_source_delete="k > 30"
    ),
    "evolution": dict(
        src_rows=[(3, 30.0, "u", "n3"), (200, 2.0, "new", "n200")],
        schema=SCHEMA + ", note string",
        schema_evolution=True,
    ),
    "clauses": dict(
        src_rows=UPSERT + [(5, 0.0, "del")],
        matched_delete="src_tag = 'del'",
        matched_update={"v": "v + src_v"},
        matched_condition="src_v > 100",
        insert_condition="tag = 'new'",
    ),
    "clauses_evolution_nmbs": dict(
        src_rows=[(3, 30.0, "u", "n3"), (200, 2.0, "new", "n200")],
        schema=SCHEMA + ", note string",
        schema_evolution=True,
        matched_update={"note": "src_note"},
        not_matched_by_source_delete="k < 10",
    ),
    "empty_source": dict(src_rows=[], not_matched_by_source_delete="k >= 35"),
    "no_match": dict(src_rows=[(500, 5.0, "x"), (None, 1.0, "n")]),
}


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_pinned_and_unpinned_paths_agree(spark, tmp_path, name):
    out = _same_both_ways(spark, tmp_path, **SCENARIOS[name])
    assert not isinstance(out, tuple), out  # no error on either path


@pytest.mark.parametrize(
    "src_rows",
    [
        [(3, 1.0, "a"), (3, 2.0, "b"), (100, 1.0, "c")],  # a matched key twice
        [(3, 1.0, "a"), (900, 2.0, "b"), (900, 3.0, "c")],  # only among unmatched
        [(None, 1.0, "a"), (None, 2.0, "b")],  # NULL keys group together
    ],
    ids=["matched", "unmatched_only", "null_keys"],
)
def test_duplicate_source_keys_raise_identically(spark, tmp_path, src_rows):
    out = _same_both_ways(spark, tmp_path, src_rows=src_rows)
    assert out[:2] == ("error", "ValueError")
    assert "duplicate key(s) on ['k']" in out[2]


def test_multi_column_keys(spark, tmp_path):
    schema = "a string, b int, v double"
    base = spark.createDataFrame(
        [(f"s{i % 5}", i, float(i)) for i in range(40)] + [("s1", None, 0.0)], schema
    )
    src = [("s1", 1, -1.0), ("s1", 2, -2.0), ("s2", 2, -3.0), ("s1", None, -4.0), (None, 7, -5.0)]
    out = _same_both_ways(
        spark, tmp_path, src_rows=src, keys=("a", "b"), schema=schema, base=base
    )
    assert "('s1', 1, -1.0)" in out["table"]  # matched
    assert "('s2', 2, -3.0)" in out["table"] and "('s2', 2, 2.0)" not in out["table"]
    assert "('s1', 2, -2.0)" in out["table"]  # (s1, 2) is not in the table: inserted
    assert "('s1', None, 0.0)" in out["table"]  # a NULL key part never matches
    dup = _same_both_ways(
        spark, tmp_path, src_rows=src + [("s2", 2, 0.0)], keys=("a", "b"),
        schema=schema, base=base,
    )
    assert dup[:2] == ("error", "ValueError")


def test_float_keys_nan_and_signed_zero(spark, tmp_path):
    schema = "x double, v string"
    base = spark.createDataFrame(
        [(float(i), "old") for i in range(20)] + [(float("nan"), "old"), (None, "old")], schema
    )
    src = [(float("nan"), "new"), (-0.0, "new"), (3.0, "new"), (None, "new")]
    out = _same_both_ways(
        spark, tmp_path, src_rows=src, keys=("x",), schema=schema, base=base
    )
    # 22 old rows; NaN, 0.0 (by -0.0) and 3.0 matched; the NULL key never does
    assert sum("'old'" in r for r in out["table"]) == 22 - 3
    # NaN and 0.0 matched; -0.0 and NaN are one key each under Spark grouping
    for dup in ([(-0.0, "a"), (0.0, "b")], [(float("nan"), "a"), (float("nan"), "b")]):
        got = _same_both_ways(
            spark, tmp_path, src_rows=dup, keys=("x",), schema=schema, base=base
        )
        assert got[:2] == ("error", "ValueError")


def test_string_keys_that_need_quoting(spark, tmp_path):
    schema = "s string, v int"
    odd = ["it's", "back\\slash", "q'\\'", "plain", "unié", ""]
    base = spark.createDataFrame([(s, 0) for s in odd] + [("zz", 0)], schema)
    out = _same_both_ways(
        spark, tmp_path, src_rows=[(s, 1) for s in odd], keys=("s",), schema=schema, base=base
    )
    assert sorted(out["table"]) == sorted([repr((s, 1)) for s in odd] + [repr(("zz", 0))])


def test_key_set_above_the_in_list_bound(spark, tmp_path):
    n = vintage._MERGE_IN_LIST_MAX + 1
    out = _same_both_ways(
        spark, tmp_path,
        src_rows=[(k, -1.0, "big") for k in range(0, 2 * n, 2)],
        base=_base(spark, 60),
    )
    assert sum("'big'" in r for r in out["table"]) == n


def test_pinned_merge_job_budget_and_one_source_evaluation(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "t"))
    t.write(_base(spark, 400), cluster_by=["k"], num_files=8)
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(k):
        calls.add(1)
        return k

    rows = [(k, float(k), "u") for k in (3, 150, 151, 999)]
    # on the key: the range aggregate, the touched-file join and the write
    # of the unpinned plan all read it
    src = _local(spark, rows, SCHEMA).withColumn("k", counted("k"))
    v, jobs = _jobs_in(spark, lambda: t.merge(src, ["k"]))
    assert len(jobs) <= 4
    assert calls.value == len(rows)  # the source lineage ran once
    entry = t._commits(after=v - 1)[0]
    assert len(entry.remove) == 2  # the files holding k=3 and k=150/151
    assert t.read().count() == 401 + 1
    # above the threshold the same merge re-evaluates its source
    calls.value = 0
    with _path(spark, pinned=False):
        t.merge(src, ["k"])
    assert calls.value > len(rows)


def test_copy_on_write_delete_and_update_job_counts(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "t"))
    t.write(_base(spark, 400), cluster_by=["k"], num_files=8)
    _, jobs = _jobs_in(spark, lambda: t.delete("k = 7"))
    assert len(jobs) == 3  # touched files (scan + distinct), rewrite
    _, jobs = _jobs_in(spark, lambda: t.update("k = 8", {"v": "v + 1"}))
    assert len(jobs) == 3


def test_dv_replace_where_and_as_of_read_job_counts(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "t"))
    t.write(_base(spark, 400), cluster_by=["k"], num_files=8)
    v0, ts = t.latest_version(), time.time()
    src = _local(spark, [(k, -1.0, "rw") for k in range(20, 30)], SCHEMA)
    _, jobs = _jobs_in(spark, lambda: t.write(src, replace_where="k >= 20 AND k < 30"))
    # stage the rows (1), validate them (a count, 2), touched files (2), rewrite (1)
    assert len(jobs) == 6
    _, jobs = _jobs_in(spark, lambda: t.delete("k = 7", mode="dv"))
    assert len(jobs) == 1  # the sidecar write, which evaluates the condition
    _, jobs = _jobs_in(spark, lambda: t.update("k = 8", {"v": "v + 1"}, mode="dv"))
    # the live DV's broadcast, the sidecar write, the appended copies
    assert len(jobs) == 3
    for as_of in ({"version": v0}, {"timestamp": ts}):
        rows, jobs = _jobs_in(spark, lambda: t.read(**as_of).collect())
        assert len(rows) == 401
        assert len(jobs) == 1


def test_sources_that_are_not_pinned(spark):
    from pyspark.ml.functions import array_to_vector

    src = spark.createDataFrame([(1, 1.0, "a")], SCHEMA)  # an RDD scan: size unknown
    assert vintage._pin_source(src, ["k"]) is None
    vectors = spark.range(3).select("id", array_to_vector(F.array(F.col("id").cast("double"))).alias("vec"))
    assert vintage._pin_source(vectors, ["id"]) is None  # a UDT column
    assert vintage._pin_source(spark.range(3), ["id"]) is not None
    pinned = vintage._pin_source(_local(spark, [(1, 1.0, "a")], SCHEMA), ["k"])
    assert pinned is not None and pinned.keys == [(1,)] and pinned.bounds == (1, 1)
    assert pinned.frame.rdd.getNumPartitions() == 1
    # a key type Arrow cannot group is turned away before anything is collected
    structs = _local(spark, [((1, "a"), 1)], "s struct<a:int,b:string>, v int")
    got, jobs = _jobs_in(spark, lambda: vintage._pin_source(structs, ["s"]))
    assert got is None and jobs == []


def test_struct_keys_keep_the_join_plan(spark, tmp_path):
    schema = "s struct<a:int,b:string>, v int"
    base = spark.createDataFrame([((i, f"b{i}"), i) for i in range(20)], schema)
    src = [((3, "b3"), -3), ((50, "x"), -50)]
    out = _same_both_ways(spark, tmp_path, src_rows=src, keys=("s",), schema=schema, base=base)
    assert len(out["table"]) == 21 and out["removed"] == 1
    dup = _same_both_ways(
        spark, tmp_path, src_rows=src + [((3, "b3"), 0)], keys=("s",), schema=schema, base=base
    )
    assert dup[:2] == ("error", "ValueError")


def test_date_keys_join_against_the_pinned_frame(spark, tmp_path):
    import datetime as dt

    schema = "d date, at timestamp, v int"
    day = dt.date(2024, 1, 1)
    base = spark.createDataFrame(
        [(day + dt.timedelta(days=i), dt.datetime(2024, 1, 1, 12), i) for i in range(30)], schema
    )
    src = [
        (day + dt.timedelta(days=2), dt.datetime(2024, 6, 1, 8, 30), -2),
        (day + dt.timedelta(days=90), dt.datetime(2024, 6, 2, 9, 0), -90),
    ]
    out = _same_both_ways(spark, tmp_path, src_rows=src, keys=("d",), schema=schema, base=base)
    assert out["removed"] == 1 and len(out["table"]) == 31
    assert sum(r.endswith((", -2)", ", -90)")) for r in out["table"]) == 2


def test_compact_and_read_where_job_counts(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "t"))
    t.write(_base(spark, 400), cluster_by=["k"], num_files=8)
    _, jobs = _jobs_in(spark, lambda: t.compact(num_files=2))
    assert len(jobs) == 2  # the repartition shuffle, the write
    rows, jobs = _jobs_in(spark, lambda: t.read_where("k", 10, 20).collect())
    assert len(rows) == 11
    assert len(jobs) == 1
