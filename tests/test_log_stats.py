"""Zone maps live in the commit log: each commit entry carries the zone maps
of the data files it adds (Delta's ``add.stats``), checkpoints carry them
for their live files, and every reader takes them from the snapshot. No
other file under ``_vintage_log`` holds table state."""

from __future__ import annotations

import json
import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

import sdlt_spark
from sdlt_spark.store import VintageTable
from sdlt_spark.store.vintage import _CHECKPOINT_EVERY

_ENTRY = re.compile(r"^\d{8}(\.checkpoint)?\.json$")


def _build(spark, path, n_files=8, rows=4000):
    t = VintageTable(spark, path)
    t.write(
        spark.range(rows).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")),
        cluster_by=["k"],
        num_files=n_files,
    )
    return t


def _data(files):
    return VintageTable._split_live(files)[0]


def _scanned(df) -> int:
    return len([f for f in df.inputFiles() if "/dv/" not in f])


def test_lifecycle_keeps_zone_maps_in_the_log_only(spark, tmp_path):
    t = _build(spark, str(tmp_path / "t"))
    t.merge(
        spark.range(10).select(F.col("id").alias("k"), F.lit(-1.0).alias("v")), ["k"]
    )
    t.delete("k = 500", mode="dv")
    t.update("k = 1000", {"v": "v + 1"})  # folds the DV first
    k = 2000
    while t.latest_version() <= _CHECKPOINT_EVERY:
        k += 1
        t.merge(spark.createDataFrame([(k, 0.5)], "k LONG, v DOUBLE"), ["k"])
    assert t._checkpoint_versions()
    pre_compact = t.latest_version()
    live_pc = _data(t._snapshot(pre_compact).files)
    t.compact(num_files=2)
    t.restore(pre_compact)

    log_dir = t._log_path()
    assert all(_ENTRY.match(f) for f in os.listdir(log_dir)), sorted(os.listdir(log_dir))

    snap = t._snapshot()
    assert set(snap.stats) == set(_data(snap.files))
    newest = t._checkpoint_versions()[-1]
    with open(os.path.join(log_dir, f"{newest:08d}.checkpoint.json")) as f:
        ckpt = json.load(f)
    assert set(ckpt["stats"]) == set(_data(ckpt["live"]))

    # travel to before the compact prunes by that version's zone maps
    old = t.read_where("k", 100, 200, version=pre_compact)
    assert 0 < _scanned(old) < len(live_pc)
    assert old.count() == 101

    # the restore re-added the pre-compact files with their zone maps
    assert set(_data(snap.files)) == set(live_pc)
    head = t.read_where("k", 100, 200)
    assert 0 < _scanned(head) < len(_data(snap.files))
    assert sorted(r["k"] for r in head.collect()) == list(range(100, 201))


def test_checkpoint_without_stats_falls_back_to_full_replay(spark, tmp_path):
    t = _build(spark, str(tmp_path / "t"), n_files=4, rows=400)
    for i in range(_CHECKPOINT_EVERY):
        t.merge(spark.createDataFrame([(1000 + i, 0.0)], "k LONG, v DOUBLE"), ["k"])
    want = t._snapshot().stats
    path = os.path.join(t._log_path(), f"{_CHECKPOINT_EVERY:08d}.checkpoint.json")
    with open(path) as f:
        ckpt = json.load(f)
    del ckpt["stats"]
    with open(path, "w") as f:
        json.dump(ckpt, f)
    assert t._snapshot().stats == want


def test_clone_first_merge_prunes(spark, tmp_path):
    src = _build(spark, str(tmp_path / "src"))
    clone = src.clone(str(tmp_path / "clone"))
    assert len(clone._snapshot().stats) == 8
    clone.merge(
        spark.range(10).select(F.col("id").alias("k"), F.lit(-1.0).alias("v")), ["k"]
    )
    assert len(clone._commits()[-1].remove) == 1
    assert clone.read().filter(F.col("k") < 10).agg(F.sum("v")).head()[0] == -10.0


def test_failed_clone_leaves_an_empty_log(spark, tmp_path):
    _build(spark, str(tmp_path / "src"), n_files=2, rows=100)

    def refuse(tmp, final):
        raise RuntimeError("publish refused")

    src = VintageTable(spark, str(tmp_path / "src"), commit_hook=refuse)
    dest = tmp_path / "clone"
    with pytest.raises(RuntimeError, match="publish refused"):
        src.clone(str(dest))
    assert os.listdir(dest / "_vintage_log") == []
    assert not VintageTable(spark, str(dest)).exists()


def test_no_zone_map_sidecar_in_the_package():
    """Static guard: zone maps have no home outside the commit log."""
    root = pathlib.Path(sdlt_spark.__file__).parent
    hits = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if "file_stats" in p.read_text()
    ]
    assert hits == []
