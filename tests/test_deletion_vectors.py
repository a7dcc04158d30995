"""Deletion vectors (merge-on-read deletes): delete(mode='dv') records row
positions instead of rewriting files; readers apply them as an anti-join;
mutations/compaction/clone materialize them. Mirrors Delta's DV semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sdlt_spark.store.vintage import VintageTable


def _mk(spark, path, n=100, files=4, change_feed=False):
    t = VintageTable(spark, path, change_feed=change_feed)
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("grp"),
        (F.col("id") * 2).alias("v"),
    )
    t.write(df.repartition(files))
    return t


def _dv_files(t):
    return [f for f in t._live_files() if f.startswith("dv/")]


def _data_files(t):
    return [f for f in t._live_files() if not f.startswith("dv/")]


def test_dv_delete_filters_reads_without_rewriting(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    data_before = set(_data_files(t))
    t.delete("grp = 3", mode="dv")
    assert set(_data_files(t)) == data_before  # zero data files rewritten
    assert _dv_files(t)  # a DV sidecar landed
    got = sorted(r["k"] for r in t.read().collect())
    assert got == sorted(k for k in range(100) if k % 10 != 3)


def test_dv_delete_is_time_travelable(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    v0 = t.latest_version()
    t.delete("k < 50", mode="dv")
    assert t.read(version=v0).count() == 100  # pre-DV snapshot intact
    assert t.read().count() == 50


def test_dv_redelete_and_second_dv_compose(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("grp = 1", mode="dv")
    first = set(_dv_files(t))
    t.delete("grp in (1, 2)", mode="dv")  # overlap: grp=1 already gone
    assert t.read().count() == 80
    # second DV only recorded the NEW deletions (10 rows, not 20)
    second = sorted(set(_dv_files(t)) - first)
    dv = spark.read.parquet(*[os.path.join(t.path, f) for f in second])
    assert dv.count() == 10


def test_dv_read_where_composes_with_pruning(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("k = 7", mode="dv")
    got = sorted(r["k"] for r in t.read_where("k", 0, 9).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 8, 9]


def test_materialize_retires_dvs_and_preserves_content(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("grp = 0", mode="dv")
    before = sorted(r["k"] for r in t.read().collect())
    v = t.materialize_deletion_vectors()
    assert v is not None and not _dv_files(t)
    assert sorted(r["k"] for r in t.read().collect()) == before
    assert t.materialize_deletion_vectors() is None  # idempotent no-op
    # the materialize commit is dataChange=false (CDC-invisible)
    hist = {r["version"]: r for r in t.history().collect()}
    assert hist[v]["operation"] == "WRITE"


def test_compact_materializes_dvs(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("grp = 5", mode="dv")
    t.compact(num_files=2)
    assert not _dv_files(t)
    assert t.read().count() == 90


def test_cow_mutations_fold_dvs_first(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("grp = 9", mode="dv")
    # COW update must not resurrect DV-deleted rows
    t.update("grp = 8", {"v": F.lit(-1)})
    assert not _dv_files(t)
    rows = t.read()
    assert rows.count() == 90
    assert rows.filter(F.col("grp") == 9).count() == 0
    assert rows.filter(F.col("v") == -1).count() == 10


def test_merge_folds_dvs_first(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("k < 10", mode="dv")
    src = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("grp"),
        F.lit(999).cast("long").alias("v"),
    )
    t.merge(src, ["k"])
    rows = t.read()
    # k in [0,5) re-inserted by the merge; k in [5,10) stays deleted
    assert rows.count() == 95
    assert rows.filter((F.col("k") < 5) & (F.col("v") == 999)).count() == 5
    assert rows.filter((F.col("k") >= 5) & (F.col("k") < 10)).count() == 0


def test_dv_diff_reports_deletes(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    v0 = t.latest_version()
    t.delete("grp = 4", mode="dv")
    d = t.diff(v0).collect()
    assert len(d) == 10
    assert all(r["_change_type"] == "delete" and r["grp"] == 4 for r in d)


def test_dv_change_feed_emits_delete_rows(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), change_feed=True)
    v = t.delete("grp = 2", mode="dv")
    ch = t.table_changes(v, v).collect()
    assert len(ch) == 10
    assert all(r["_change_type"] == "delete" for r in ch)


def test_clone_translates_dvs_without_touching_source(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("grp = 6", mode="dv")
    versions_before = t._commit_versions()
    c = t.clone(str(tmp_path / "c"))
    # the source gained NO commit (a read-only source stays cloneable) and
    # keeps its own DV state
    assert t._commit_versions() == versions_before
    assert _dv_files(t)
    # the clone carries a translated DV sidecar and reads identically
    assert _dv_files(c)
    assert c.read().count() == 90
    assert sorted(r["k"] for r in c.read().collect()) == sorted(
        r["k"] for r in t.read().collect()
    )


def test_cloned_dv_table_supports_further_mutation(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("grp = 6", mode="dv")
    c = t.clone(str(tmp_path / "c"))
    # a second DV delete on the clone composes with the translated one
    c.delete("grp = 7", mode="dv")
    assert c.read().count() == 80
    assert t.read().count() == 90  # source untouched
    # materializing on the clone rewrites into the clone and drops both DVs
    c.materialize_deletion_vectors()
    assert not _dv_files(c)
    assert c.read().count() == 80
    assert t.read().count() == 90


def test_clone_of_clone_carries_dvs(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("grp = 6", mode="dv")
    c1 = t.clone(str(tmp_path / "c1"))
    c2 = c1.clone(str(tmp_path / "c2"))
    assert c2.read().count() == 90
    assert t._commit_versions() == [0, 1]  # write + dv delete, nothing else


def test_clone_v0_cdc_excludes_dv_deleted_rows(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("grp = 6", mode="dv")
    c = t.clone(str(tmp_path / "c"))
    ch = c.table_changes(0, 0)
    assert ch.count() == 90  # inserts = cloned snapshot minus DV deletes
    assert ch.filter(F.col("grp") == 6).count() == 0
    assert ch.filter(F.col("_change_type") != "insert").count() == 0


def test_overwrite_of_dv_table_cdc_is_dv_aware(spark, tmp_path):
    # regression (round-4 advice): overwrite used to put dv/ sidecars into
    # the remove list and file-level CDC then (a) read the sidecar's
    # (file,pos) rows as data -> phantom all-null rows, (b) read removed
    # data files raw -> re-emitted DV-deleted rows as deletes
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("grp = 6", mode="dv")
    v = t.write(
        spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("grp"),
            (F.col("id") * 3).alias("v"),
        )
    )
    ch = t.table_changes(v, v)
    assert ch.filter(F.col("k").isNull()).count() == 0  # no phantom rows
    dels = ch.filter(F.col("_change_type") == "delete")
    assert dels.count() == 90  # DV-deleted rows NOT re-emitted
    assert dels.filter(F.col("grp") == 6).count() == 0
    assert ch.filter(F.col("_change_type") == "insert").count() == 5


def test_restore_reintroducing_dv_state_is_row_level(spark, tmp_path):
    # restoring ACROSS a DV boundary changes row content without matching
    # file actions -> not derivable file-level; the reader must raise (or
    # skip with skipChangeCommits) instead of emitting wrong rows
    import pytest as _pytest

    t = _mk(spark, str(tmp_path / "t"))
    v0 = t.latest_version()
    t.delete("grp = 6", mode="dv")
    v_restore = t.restore(version=v0)  # retires the DV, keeps its file
    with _pytest.raises(ValueError, match="deletion vector"):
        t.table_changes(v_restore, v_restore).collect()
    assert (
        t.table_changes(v_restore, v_restore, skip_change_commits=True).count() == 0
    )


def test_restore_across_overwrite_of_dv_table_is_exact(spark, tmp_path):
    # restore whose add/remove carries a DV together with all its covered
    # files IS expressible file-level and must be exact
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("grp = 6", mode="dv")
    v_dv = t.latest_version()
    t.write(spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("grp"),
        F.col("id").alias("v"),
    ))
    v_back = t.restore(version=v_dv)  # re-adds old data files + their DV
    ch = t.table_changes(v_back, v_back)
    ins = ch.filter(F.col("_change_type") == "insert")
    assert ins.count() == 90
    assert ins.filter(F.col("grp") == 6).count() == 0
    assert ch.filter(F.col("_change_type") == "delete").count() == 3


def test_vacuum_reclaims_retired_dvs(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("grp = 7", mode="dv")
    dv_rel = _dv_files(t)
    t.materialize_deletion_vectors()
    removed = t.vacuum(retention_hours=0.0)
    assert set(dv_rel) <= set(removed)
    assert not any(
        os.path.exists(os.path.join(t.path, f)) for f in dv_rel
    )
    assert t.read().count() == 90


def test_dv_delete_matching_nothing_is_noop_commit(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    v = t.delete("k > 1000", mode="dv")
    assert v == t.latest_version()
    assert not _dv_files(t)  # empty DV write drops its dir
    assert t.read().count() == 100


def test_delete_mode_validation(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="mode"):
        t.delete("k = 1", mode="bogus")


def test_dv_update_rewrites_nothing_and_reads_updated(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    data_before = set(_data_files(t))
    v0 = t.latest_version()
    t.update("grp = 4", {"v": F.lit(-7.0).cast("long")}, mode="dv")
    # no pre-existing data file rewritten; DV + one appended file
    assert data_before <= set(_data_files(t))
    assert _dv_files(t)
    rows = t.read()
    assert rows.count() == 100
    assert rows.filter(F.col("grp") == 4).count() == 10
    assert rows.filter(F.col("v") == -7).count() == 10
    assert t.read(version=v0).filter(F.col("v") == -7).count() == 0


def test_dv_update_composes_with_dv_delete_and_materialize(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete("grp = 1", mode="dv")
    t.update("grp = 2", {"v": F.lit(0).cast("long")}, mode="dv")
    rows = t.read()
    assert rows.count() == 90
    assert rows.filter((F.col("grp") == 2) & (F.col("v") != 0)).count() == 0
    before = sorted((r["k"], r["v"]) for r in rows.collect())
    t.materialize_deletion_vectors()
    assert not _dv_files(t)
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == before


def test_dv_update_change_feed_emits_pairs(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), change_feed=True)
    v = t.update("grp = 5", {"v": F.lit(1).cast("long")}, mode="dv")
    ch = t.table_changes(v, v).collect()
    assert len(ch) == 20  # 10 deletes + 10 inserts
    assert sum(1 for r in ch if r["_change_type"] == "insert") == 10
    assert all(r["v"] == 1 for r in ch if r["_change_type"] == "insert")


def test_dv_update_mode_validation(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="mode"):
        t.update("k = 1", {"v": F.lit(0)}, mode="bogus")


# ---- optimize(): small-file bin-packing (lives here with the other
# maintenance-op coverage) ----


def test_optimize_packs_small_files_only(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "t"))
    big = spark.range(50000).select(F.col("id").alias("k"), F.col("id").alias("v"))
    t.write(big.coalesce(1))
    for i in range(5):  # streaming-style dribble: 5 tiny appended files
        t.write(
            spark.range(50000 + i * 10, 50000 + i * 10 + 10).select(
                F.col("id").alias("k"), F.col("id").alias("v")
            ).coalesce(1),
            mode="append",
        )
    files_before = set(t._live_files())
    assert len(files_before) == 6
    import os as _os

    big_file = max(
        files_before, key=lambda f: _os.path.getsize(_os.path.join(t.path, f))
    )
    # target sized so the 50k-row file (~400 KB) exceeds target/2 and the
    # 10-row dribble files do not
    v = t.optimize(target_file_bytes=1 << 18)
    assert v is not None
    after = set(t._live_files())
    assert big_file in after  # well-sized file untouched
    assert len(after) == 2  # big + one packed file
    assert t.read().count() == 50050
    hist = {r["version"]: r for r in t.history().collect()}
    assert hist[v]["operation"] == "OPTIMIZE" and hist[v]["dataChange"] is False


def test_optimize_noop_when_nothing_to_pack(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "t"))
    t.write(spark.range(100).select(F.col("id").alias("k")).coalesce(1))
    assert t.optimize(target_file_bytes=1 << 20) is None


def test_optimize_folds_dvs(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), files=6)
    t.delete("grp = 3", mode="dv")
    v = t.optimize(target_file_bytes=1 << 20)
    assert v is not None
    assert not _dv_files(t)
    assert t.read().count() == 90


def test_optimize_preserves_time_travel(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), files=6)
    v0 = t.latest_version()
    t.optimize(target_file_bytes=1 << 20)
    assert t.read(version=v0).count() == 100
    assert t.read().count() == 100


# ---- one row-level rewrite: delete/update give the same table, change
# feed and history in both modes ----


@pytest.mark.parametrize("mode", ["copy_on_write", "dv"])
def test_update_change_feed_matches_the_table_for_a_nondeterministic_assignment(
    spark, tmp_path, mode
):
    # each assignment is evaluated once: the rows the table gets are the
    # change feed's inserts, even for rand()
    t = VintageTable(spark, str(tmp_path / "t"), change_feed=True)
    t.write(spark.range(20).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    ).repartition(2))
    v = t.update("k < 5", {"v": "rand()"}, mode=mode)
    table = {r["k"]: r["v"] for r in t.read().filter("k < 5").collect()}
    inserts = {
        r["k"]: r["v"] for r in t.table_changes(v, v).collect()
        if r["_change_type"] == "insert"
    }
    assert len(table) == 5
    assert inserts == table


@pytest.mark.parametrize("mode", ["copy_on_write", "dv"])
def test_update_with_a_nondeterministic_condition_keeps_every_row_once(
    spark, tmp_path, mode
):
    # the condition is evaluated once per row for the table: no row is
    # dropped or duplicated, and the change feed names the updated rows
    t = VintageTable(spark, str(tmp_path / "t"), change_feed=True)
    t.write(spark.range(40).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    ).repartition(2))
    v = t.update("rand() < 0.5", {"v": "v + 100"}, mode=mode)
    rows = t.read().collect()
    assert sorted(r["k"] for r in rows) == list(range(40))
    updated = {r["k"] for r in rows if r["v"] >= 100}
    changes = t.table_changes(v, v).collect()
    for kind in ("delete", "insert"):
        assert {r["k"] for r in changes if r["_change_type"] == kind} == updated


def _nullable(spark, path, change_feed):
    t = VintageTable(spark, path, change_feed=change_feed)
    t.write(spark.range(20).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).cast("int").alias("v"),
        F.when(F.col("id") % 4 != 0, F.col("id") % 7).cast("int").alias("x"),
    ).repartition(2))
    return t


def _outcome(t, fn):
    v = fn()
    try:
        changes = sorted(map(repr, t.table_changes(v, v).drop("_commit_version").collect()))
    except ValueError as exc:  # no materialized change data
        changes = type(exc).__name__
    return {
        "table": sorted(map(repr, t.read().collect())),
        "schema": t.read().schema.simpleString(),
        "changes": changes,
        "history": [r["operation"] for r in t.history().collect()],
    }


@pytest.mark.parametrize("change_feed", [False, True])
@pytest.mark.parametrize("verb", ["delete", "update"])
@pytest.mark.parametrize(
    "condition,assignments",
    [
        ("x < 3", {"v": "v + 1"}),  # x is NULL on every fourth row
        ("k > 1000", {"v": "v + 1"}),  # matches nothing
        ("k % 3 = 0", {"v": "v * 1.5"}),  # a double into the int column
    ],
    ids=["null-predicate", "no-match", "widening"],
)
def test_delete_and_update_agree_across_modes(
    spark, tmp_path, change_feed, verb, condition, assignments
):
    got = {}
    for mode in ("copy_on_write", "dv"):
        t = _nullable(spark, str(tmp_path / mode), change_feed)
        if verb == "delete":
            got[mode] = _outcome(t, lambda: t.delete(condition, mode=mode))
        else:
            got[mode] = _outcome(t, lambda: t.update(condition, assignments, mode=mode))
    assert got["copy_on_write"] == got["dv"]
    assert got["dv"]["schema"] == "struct<k:bigint,v:int,x:int>"
