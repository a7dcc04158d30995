"""Multi-writer optimistic concurrency on VintageTable: conflicting commits
retry against the new snapshot (final state == sequential application), and
attempts that fail to commit never leak data files."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sdlt_spark.store import VintageTable
from sdlt_spark.store.vintage import CommitConflictError, _link_cas_publish


def _base(spark, path, rows=100):
    df = spark.range(rows).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    t = VintageTable(spark, path)
    t.write(df.repartition(4))
    return t


def _data_files(table):
    out = []
    root = os.path.join(table.path, "data")
    for dirpath, _dirs, fnames in os.walk(root):
        out += [
            os.path.relpath(os.path.join(dirpath, f), table.path)
            for f in fnames
            if f.endswith(".parquet")
        ]
    return sorted(out)


def _referenced(table):
    return {f for c in table._commits() for f in c.add}


def test_two_writer_merge_both_land(spark, tmp_path):
    """Writer B derives its merge against v0; writer A commits first; B's
    CAS publish fails, the retry re-derives against A's state, and the
    final table equals sequential application of both merges."""
    path = str(tmp_path / "t")
    reader = _base(spark, path)
    other = VintageTable(spark, path)

    src_a = spark.range(5).select(F.col("id").alias("k"), F.lit(-1.0).alias("v"))
    src_b = spark.range(5, 10).select(F.col("id").alias("k"), F.lit(-2.0).alias("v"))

    state = {"injected": False}

    def racing_publish(tmp, final):
        if not state["injected"]:
            state["injected"] = True
            other.merge(src_a, ["k"])  # A wins the version number
        _link_cas_publish(tmp, final)

    writer_b = VintageTable(spark, path, commit_hook=racing_publish)
    writer_b.merge(src_b, ["k"])

    assert state["injected"], "race never triggered"
    got = {r["k"]: r["v"] for r in reader.read().collect()}
    expected = {**{k: -1.0 for k in range(5)}, **{k: -2.0 for k in range(5, 10)}}
    assert {k: got[k] for k in range(10)} == expected
    assert got[50] == 50.0  # untouched rows intact
    # history shows both merges as separate versions
    ops = [c.operation for c in reader._commits()]
    assert ops.count("MERGE") == 2
    # no leaked files: everything on disk is referenced by some commit
    assert set(_data_files(reader)) <= _referenced(reader)


def test_conflict_exhaustion_raises_and_cleans_up(spark, tmp_path):
    """A writer that loses every retry surfaces CommitConflictError and
    leaves no unreferenced data files behind."""
    path = str(tmp_path / "t")
    t = _base(spark, path)
    other = VintageTable(spark, path)

    def always_lose(tmp, final):
        # someone else always takes this version number first
        other.delete("k = 99999")  # no-op delete still commits a version
        _link_cas_publish(tmp, final)

    loser = VintageTable(spark, path, commit_hook=always_lose)
    src = spark.range(3).select(F.col("id").alias("k"), F.lit(0.0).alias("v"))
    with pytest.raises(CommitConflictError):
        loser.merge(src, ["k"])
    assert set(_data_files(t)) <= _referenced(t)
    # table still consistent and mutable afterwards
    t.merge(src, ["k"])
    assert {r["v"] for r in t.read().filter("k < 3").collect()} == {0.0}


def test_failed_write_files_cleaned_up(spark, tmp_path):
    """Any commit failure (not just conflicts) deletes the attempt's data
    files and stats entries."""
    path = str(tmp_path / "t")
    t = _base(spark, path)
    files_before = _data_files(t)
    stats_before = set(t._snapshot().stats)

    def boom(tmp, final):
        os.remove(tmp)
        raise RuntimeError("publish exploded")

    broken = VintageTable(spark, path, commit_hook=boom)
    with pytest.raises(RuntimeError, match="publish exploded"):
        broken.delete("k < 10")
    assert _data_files(t) == files_before
    assert set(t._snapshot().stats) == stats_before


def test_vacuum_sweeps_orphaned_files(spark, tmp_path):
    """Files referenced by no commit (crash between write and commit) are
    reclaimed by vacuum once past retention; live files never are."""
    path = str(tmp_path / "t")
    t = _base(spark, path)
    orphan_dir = os.path.join(path, "data", "cdeadbeef")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    deleted = t.vacuum(retention_hours=0)
    assert "data/cdeadbeef/part-orphan.parquet" in deleted
    assert not os.path.exists(orphan)
    # live files survived and the table still reads
    assert t.read().count() == 100


def test_conflict_retry_rewrites_change_feed(spark, tmp_path):
    """A merge that loses the CAS race re-runs against the new snapshot:
    its change-data rows are re-derived (not stale) and the aborted
    attempt's CDC files are reclaimed."""
    from pyspark.sql import functions as F  # noqa: F811

    path = str(tmp_path / "t")
    df = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    t = VintageTable(spark, path, change_feed=True)
    t.write(df.repartition(2))
    other = VintageTable(spark, path, change_feed=True)

    src_a = spark.range(5).select(F.col("id").alias("k"), F.lit(-1.0).alias("v"))
    src_b = spark.range(3, 8).select(F.col("id").alias("k"), F.lit(-2.0).alias("v"))
    state = {"injected": False}

    def racing_publish(tmp, final):
        if not state["injected"]:
            state["injected"] = True
            other.merge(src_a, ["k"])
        _link_cas_publish(tmp, final)

    loser = VintageTable(spark, path, commit_hook=racing_publish, change_feed=True)
    loser.merge(src_b, ["k"])
    assert state["injected"]

    # CDC of the retried merge (v2) reflects the post-v1 state: its deletes
    # for overlapping keys 3,4 carry v1's -1.0 values, not v0's originals
    ch = t.table_changes(2, 2)
    dels = {r["k"]: r["v"] for r in ch.filter("_change_type = 'delete'").collect()}
    assert dels == {3: -1.0, 4: -1.0, 5: 5.0, 6: 6.0, 7: 7.0}
    ins = {r["k"]: r["v"] for r in ch.filter("_change_type = 'insert'").collect()}
    assert ins == {k: -2.0 for k in range(3, 8)}

    # no orphaned change-data files from the aborted attempt
    referenced = set()
    for c in t._commits():
        cd = c.operation_parameters.get("changeData")
        if cd:
            referenced.add(cd)
    import os as _os

    on_disk = {
        f"_change_data/{d}"
        for d in _os.listdir(_os.path.join(path, "_change_data"))
    }
    assert on_disk == referenced


def test_vacuum_reclaims_change_data_past_retention(spark, tmp_path):
    """Change-data dirs of commits outside the retention window are
    reclaimed (Delta VACUUMs CDF files the same way); orphaned change dirs
    (crash between CDC write and commit) go too."""
    path = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    t = VintageTable(spark, path, change_feed=True)
    t.write(df)
    t.delete("k = 0")  # v1 with materialized change data
    orphan = os.path.join(path, "_change_data", "cdeadbeef")
    os.makedirs(orphan)
    assert len(os.listdir(os.path.join(path, "_change_data"))) == 2
    deleted = t.vacuum(retention_hours=0)
    assert any(d.startswith("_change_data/") for d in deleted)
    assert not os.path.exists(orphan)
    assert os.listdir(os.path.join(path, "_change_data")) == []
    # the table itself is untouched
    assert t.read().count() == 9


def test_checkpoint_failure_does_not_destroy_committed_files(spark, tmp_path, monkeypatch):
    """A post-publish failure (checkpoint IO at every 10th commit) must not
    trigger failure-cleanup of files the published commit references, and
    must not fail the already-durable commit."""
    path = str(tmp_path / "t")
    t = _base(spark, path, rows=50)  # v0

    def boom(self):
        raise OSError("checkpoint disk full")

    monkeypatch.setattr(VintageTable, "checkpoint", boom)
    for i in range(1, 11):  # v10 triggers the (now failing) checkpoint
        t.delete(f"k = {i}")
    assert t.latest_version() == 10
    # every committed file is still on disk and the table reads correctly
    assert t.read().count() == 50 - 10
    assert set(_data_files(t)) <= _referenced(t)
    for f in t._live_files():
        assert os.path.exists(os.path.join(t.path, f)), f


def test_dv_delete_races_with_append_both_land(spark, tmp_path):
    """A deletion-vector delete derived against v0 races an append that
    wins the version number. The DV delete's CAS publish fails, the retry
    re-derives against the appended state (its positions must reference the
    CURRENT live files), and the final table equals sequential application:
    append landed, matching rows gone — including any matching rows the
    append introduced (re-derivation, not blind replay)."""
    path = str(tmp_path / "t")
    reader = _base(spark, path)  # k in [0, 100), v = k * 1.0
    other = VintageTable(spark, path)

    state = {"injected": False}

    def racing_publish(tmp, final):
        if not state["injected"]:
            state["injected"] = True
            # appends k in [100, 105): k=102 also matches the delete below
            other.write(
                spark.range(100, 105).select(
                    F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
                ).coalesce(1),
                mode="append",
            )
        _link_cas_publish(tmp, final)

    writer = VintageTable(spark, path, commit_hook=racing_publish)
    writer.delete("k % 10 = 2", mode="dv")

    got = sorted(r["k"] for r in reader.read().collect())
    expect = sorted(k for k in range(105) if k % 10 != 2)
    assert got == expect
    # no leaked sidecars: every live dv file is referenced by a commit
    live_dv = [f for f in reader._live_files() if f.startswith("dv/")]
    assert set(live_dv) <= _referenced(reader)


def test_merge_conflicts_with_delete_landed_after_its_snapshot(spark, tmp_path):
    """A delete through a second handle commits after a merge took its
    snapshot and before the merge commits. The merge must not publish over
    it: it commits at the version after its snapshot, so its CAS fails and
    the retry re-derives it against the delete's state. Publishing at the
    head instead rewrote the deleted row's file from the stale snapshot:
    19 rows, 9 keys twice, and k = 5 back."""
    path = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    VintageTable(spark, path).write(df.coalesce(1))
    a = VintageTable(spark, path)
    b = VintageTable(spark, path)

    state = {"injected": False}
    write_files = a._write_files

    def racing_write(frame, snap):
        if not state["injected"]:
            state["injected"] = True
            b.delete("k = 5")  # lands after a's snapshot, before a commits
        return write_files(frame, snap)

    a._write_files = racing_write
    src = spark.createDataFrame([(0, -1.0)], "k long, v double")
    a.merge(src, ["k"])

    assert state["injected"], "race never triggered"
    rows = [(r["k"], r["v"]) for r in a.read().collect()]
    keys = [k for k, _ in rows]
    assert len(rows) == 9 and len(set(keys)) == 9
    assert 5 not in keys
    assert dict(rows)[0] == -1.0
    assert [c.operation for c in a._commits()] == ["WRITE", "DELETE", "MERGE"]
    assert set(_data_files(a)) <= _referenced(a)
