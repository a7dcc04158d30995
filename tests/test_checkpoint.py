"""Commit-log checkpointing: snapshot reconstruction must replay only
commits after the newest checkpoint (Delta's ``_last_checkpoint`` role —
O(commits-since-checkpoint) driver work, not O(all versions)), while every
read — head, version travel, timestamp travel, schema — stays exact."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sdlt_spark.store import VintageTable
from sdlt_spark.store.vintage import _CHECKPOINT_EVERY


def _fresh(spark, tmp_path, n_commits: int) -> VintageTable:
    """v0 = write of rows 0..9; each later version v merges a new row 10*v."""
    t = VintageTable(spark, str(tmp_path / "t"))
    base = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    t.write(base)
    for i in range(1, n_commits):
        src = spark.createDataFrame([(10 * i, float(i))], "k LONG, v DOUBLE")
        t.merge(src, ["k"])
    return t


def test_auto_checkpoint_written_and_reads_exact(spark, tmp_path):
    n = _CHECKPOINT_EVERY + 3
    t = _fresh(spark, tmp_path, n)
    assert t._checkpoint_versions() == [_CHECKPOINT_EVERY]
    # head read includes every merged key
    keys = {r["k"] for r in t.read().select("k").collect()}
    assert keys == set(range(10)) | {10 * i for i in range(1, n)}
    # the head replay starts from the checkpoint, not commit 0
    ckpt = t._load_checkpoint()
    assert ckpt["version"] == _CHECKPOINT_EVERY
    assert set(t._live_files()) >= set()  # smoke: no exception path


def test_time_travel_before_checkpoint_still_exact(spark, tmp_path):
    t = _fresh(spark, tmp_path, _CHECKPOINT_EVERY + 2)
    # version 3 predates the checkpoint: replay must fall back to commit 0
    keys_v3 = {r["k"] for r in t.read(version=3).select("k").collect()}
    assert keys_v3 == set(range(10)) | {10, 20, 30}
    # version exactly at the checkpoint
    keys_at = {r["k"] for r in t.read(version=_CHECKPOINT_EVERY).select("k").collect()}
    assert keys_at == set(range(10)) | {10 * i for i in range(1, _CHECKPOINT_EVERY + 1)}


def test_manual_checkpoint_then_more_commits(spark, tmp_path):
    t = _fresh(spark, tmp_path, 4)
    v = t.checkpoint()
    assert v == 3
    src = spark.createDataFrame([(999, 9.9)], "k LONG, v DOUBLE")
    t.merge(src, ["k"])
    keys = {r["k"] for r in t.read().select("k").collect()}
    assert 999 in keys and keys >= set(range(10))
    # schema resolution through the checkpoint path
    assert {f.name for f in t._schema_at().fields} == {"k", "v"}


def test_timestamp_travel_across_checkpoint(spark, tmp_path):
    t = _fresh(spark, tmp_path, _CHECKPOINT_EVERY + 2)
    commits = t._commits()
    # travel to the instant of version 2 (pre-checkpoint) by timestamp
    ts = commits[2].timestamp
    keys = {r["k"] for r in t.read(timestamp=ts).select("k").collect()}
    assert keys == set(range(10)) | {10, 20}


def test_checkpoint_survives_vacuum(spark, tmp_path):
    t = _fresh(spark, tmp_path, _CHECKPOINT_EVERY + 2)
    t.vacuum(retention_hours=0.0)
    keys = {r["k"] for r in t.read().select("k").collect()}
    assert keys == set(range(10)) | {10 * i for i in range(1, _CHECKPOINT_EVERY + 2)}


def test_checkpoint_file_is_json_beside_log(spark, tmp_path):
    t = _fresh(spark, tmp_path, _CHECKPOINT_EVERY + 1)
    path = os.path.join(
        t.path, "_vintage_log", f"{_CHECKPOINT_EVERY:08d}.checkpoint.json"
    )
    assert os.path.exists(path)
    # commit parser must not mistake it for a commit entry
    assert [c.version for c in t._commits()] == list(range(_CHECKPOINT_EVERY + 1))


def _replays_from(t: VintageTable) -> list[int]:
    """Record the ``after`` version of every log parse ``t`` makes."""
    seen: list[int] = []
    parse = t._commits

    def spy(after=-1, up_to=None):
        seen.append(after)
        return parse(after=after, up_to=up_to)

    t._commits = spy
    return seen


def test_constraints_come_from_the_checkpoint(spark, tmp_path):
    import pytest

    from sdlt_spark.store.vintage import ConstraintViolationError

    t = _fresh(spark, tmp_path, 3)
    t.add_constraint("v_small", "v < 1000")
    t.add_constraint("k_nonneg", "k >= 0")
    ckpt = t.checkpoint()
    t.drop_constraint("v_small")
    seen = _replays_from(t)
    assert t.constraints() == {"k_nonneg": "k >= 0"}
    # a write enforces the dropped constraint no more, the kept one still
    t.write(spark.createDataFrame([(5000, 5000.0)], "k long, v double"), mode="append")
    with pytest.raises(ConstraintViolationError):
        t.write(spark.createDataFrame([(-1, 0.0)], "k long, v double"), mode="append")
    assert seen and min(seen) >= ckpt  # no parse reached behind the checkpoint
    assert t._snapshot(version=ckpt).constraints == {
        "v_small": "v < 1000", "k_nonneg": "k >= 0"
    }


def test_txn_watermark_crosses_a_checkpoint(spark, tmp_path):
    t = _fresh(spark, tmp_path, 2)
    row = spark.createDataFrame([(1, 1.0)], "k long, v double")
    t.write(row, mode="append", txn_id="streamA:4")
    t.write(row, mode="append", txn_id="streamB:9")
    t.write(row, mode="append")  # no token
    ckpt = t.checkpoint()
    t.write(row, mode="append", txn_id="streamA:5")
    seen = _replays_from(t)
    assert t.last_txn_id() == "streamA:5"
    assert t.last_txn_id(app="streamA") == "5"
    assert t.last_txn_id(app="streamB") == "9"
    assert t.last_txn_id(app="other") is None
    assert seen and min(seen) >= ckpt


def test_checkpoint_without_protocol_state_falls_back_to_full_replay(spark, tmp_path):
    import json

    t = _fresh(spark, tmp_path, 2)
    t.add_constraint("k_nonneg", "k >= 0")
    t.write(spark.createDataFrame([(1, 1.0)], "k long, v double"), mode="append", txn_id="a:1")
    ckpt = t.checkpoint()
    path = os.path.join(t.path, "_vintage_log", f"{ckpt:08d}.checkpoint.json")
    with open(path) as f:
        payload = json.load(f)
    del payload["constraints"], payload["txn"]  # the older payload shape
    with open(path, "w") as f:
        json.dump(payload, f)
    assert t.constraints() == {"k_nonneg": "k >= 0"}
    assert t.last_txn_id(app="a") == "1"
    assert t.read().count() == 10 + 1 + 1
