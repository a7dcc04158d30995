"""Conditional MERGE clauses (Delta's whenMatchedUpdate(condition)/
whenMatchedDelete(condition)/whenNotMatchedInsert(condition) subset):
matched rows matching NO clause stay unchanged — the contract that differs
from default updateAll — plus composition with whenNotMatchedBySourceDelete
and the change feed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sdlt_spark.store.vintage import VintageTable


def _mk(spark, path, change_feed=False):
    t = VintageTable(spark, path, change_feed=change_feed)
    rows = [(k, k % 5, float(k * 10)) for k in range(20)]
    t.write(
        spark.createDataFrame(rows, "k long, grp long, v double").repartition(3)
    )
    return t


def _src(spark, rows):
    return spark.createDataFrame(rows, "k long, grp long, v double")


def test_matched_update_with_condition_leaves_nonmatching_rows(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    # src hits k=1 (v=10) and k=2 (v=20); only rows with v < 15 get updated
    src = _src(spark, [(1, 9, 111.0), (2, 9, 222.0), (50, 9, 555.0)])
    t.merge(
        src, ["k"],
        matched_update={"v": "src_v", "grp": "src_grp"},
        matched_condition="v < 15",
    )
    got = {r["k"]: (r["grp"], r["v"]) for r in t.read().collect()}
    assert got[1] == (9, 111.0)      # matched + condition -> updated
    assert got[2] == (2, 20.0)       # matched, condition false -> UNCHANGED
    assert got[50] == (9, 555.0)     # not matched -> inserted
    assert len(got) == 21


def test_matched_delete_condition(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    src = _src(spark, [(3, 0, 0.0), (4, 0, 0.0)])
    # delete matched rows whose CURRENT v < 35 (k=3 has v=30; k=4 has v=40)
    t.merge(src, ["k"], matched_delete="v < 35")
    ks = sorted(r["k"] for r in t.read().collect())
    assert 3 not in ks and 4 in ks
    # k=4 matched but no clause applied -> unchanged, and src row NOT inserted
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[4] == 40.0
    assert len(ks) == 19


def test_delete_evaluated_before_update(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    src = _src(spark, [(5, 1, -1.0)])
    t.merge(
        src, ["k"],
        matched_delete="v = 50",          # k=5 has v=50 -> deleted
        matched_update={"v": "src_v"},    # would also match; delete wins
    )
    assert t.read().filter(F.col("k") == 5).count() == 0


def test_insert_condition_filters_new_rows(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    src = _src(spark, [(100, 1, 5.0), (101, 1, 500.0)])
    t.merge(src, ["k"], insert_condition="v > 100")
    ks = {r["k"] for r in t.read().collect()}
    assert 101 in ks and 100 not in ks


def test_clauses_compose_with_nmbs_delete(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    src = _src(spark, [(0, 0, 1.0), (1, 0, 1.0)])
    # sync-to-source of grp 0 target rows: unmatched grp-0 rows deleted,
    # matched ones updated
    t.merge(
        src, ["k"],
        matched_update={"v": "src_v"},
        not_matched_by_source_delete="grp = 0",
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[0] == 1.0 and got[1] == 1.0
    # grp-0 keys not in src (5, 10, 15) are gone; other grps intact
    assert {5, 10, 15}.isdisjoint(got)
    assert len(got) == 17


def test_clause_change_feed_rows(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), change_feed=True)
    src = _src(spark, [(1, 1, -1.0), (3, 3, -3.0), (200, 0, 99.0)])
    v = t.merge(
        src, ["k"],
        matched_update={"v": "src_v"},
        matched_condition="k = 1",     # only k=1 updates; k=3 untouched
        insert_condition="v > 0",      # k=200 inserts
    )
    ch = sorted(
        (r["k"], r["_change_type"], r["v"]) for r in t.table_changes(v, v).collect()
    )
    assert ch == [
        (1, "delete", 10.0),
        (1, "insert", -1.0),
        (200, "insert", 99.0),
    ]


def test_clause_mode_requires_update_for_condition(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="matched_condition"):
        t.merge(_src(spark, [(1, 1, 1.0)]), ["k"], matched_condition="v < 0")


def test_clause_merge_with_schema_evolution_single_commit(spark, tmp_path):
    """autoMerge composed with conditional clauses (Delta's behavior): a
    new source column joins the schema in the SAME commit; only
    clause-updated rows get its value, every other row reads it as a
    typed null; time travel below the commit keeps the old schema."""
    t = _mk(spark, str(tmp_path / "t"))
    v0 = t.latest_version()
    src = spark.createDataFrame(
        [(1, 111.0, "one"), (2, 222.0, "two"), (50, 555.0, "fifty")],
        "k long, v double, tag string",
    )
    v1 = t.merge(
        src,
        ["k"],
        matched_update={"v": "src_v", "tag": "src_tag"},
        matched_condition="v < 15",  # k=1 (v=10) updates; k=2 (v=20) not
        schema_evolution=True,
    )
    assert v1 == v0 + 1  # ONE commit evolved + merged
    df = t.read()
    assert [f.name for f in df.schema.fields] == ["k", "grp", "v", "tag"]
    got = {r["k"]: (r["v"], r["tag"]) for r in df.collect()}
    assert got[1] == (111.0, "one")    # matched + condition -> updated
    assert got[2] == (20.0, None)      # matched, condition false: untouched
    assert got[3] == (30.0, None)      # unmatched old row: typed null
    assert got[50] == (555.0, "fifty")  # insert carries the new column
    # source missing an OLD column pads it with null on insert (autoMerge)
    assert got[50] == (555.0, "fifty") and df.filter(
        (F.col("k") == 50) & F.col("grp").isNull()
    ).count() == 1
    assert len(got) == 21
    # time travel below the evolving commit: old 3-column schema intact
    old = t.read(version=v0)
    assert [f.name for f in old.schema.fields] == ["k", "grp", "v"]


def test_clause_evolution_insert_only_and_delete(spark, tmp_path):
    """Evolution also composes with matched_delete and insert_condition
    (no matched_update at all)."""
    t = _mk(spark, str(tmp_path / "t"))
    src = spark.createDataFrame(
        [(3, 1.0, "x"), (300, 2.0, "y"), (301, -9.0, "z")],
        "k long, v double, tag string",
    )
    t.merge(
        src,
        ["k"],
        matched_delete="v = 30",    # k=3 (v=30) deleted
        insert_condition="v > 0",   # source bare names: k=301 filtered
        schema_evolution=True,
    )
    got = {r["k"]: r["tag"] for r in t.read().collect()}
    assert 3 not in got
    assert got[300] == "y"
    assert len(got) == 20  # 19 survivors + k=300 (k=301 filtered out)


def test_clause_merge_is_time_travelable_and_cow(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    v0 = t.latest_version()
    files_before = set(t._live_files())
    t.merge(_src(spark, [(7, 0, 0.0)]), ["k"], matched_delete=True)
    assert t.read(version=v0).count() == 20
    assert t.read().count() == 19
    # copy-on-write: only the file(s) holding k=7 were replaced
    assert files_before & set(t._live_files())  # untouched files survive


@pytest.mark.parametrize("evolve", [False, True])
def test_insert_condition_on_source_only_column(spark, tmp_path, evolve):
    """insert_condition sees the SOURCE's columns, including ones the
    target lacks: it applies before inserts are projected onto the target
    schema, with or without schema evolution."""
    t = _mk(spark, str(tmp_path / "t"))
    src = spark.createDataFrame(
        [(1, 9, 111.0, 1), (100, 0, 1.0, 1), (101, 1, 2.0, 0)],
        "k long, grp long, v double, flag int",
    )
    t.merge(
        src, ["k"],
        matched_update={"v": "src_v"},
        insert_condition="flag = 1",
        schema_evolution=evolve,
    )
    got = {r["k"]: r for r in t.read().collect()}
    assert got[1]["v"] == 111.0
    assert 100 in got and 101 not in got
    assert len(got) == 21
    assert ("flag" in t.read().columns) == evolve
    if evolve:
        assert got[100]["flag"] == 1 and got[1]["flag"] is None
