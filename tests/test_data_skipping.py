"""Zone-map file skipping in VintageTable (Delta-style data skipping): a
merge whose source keys fall in one file's range must rewrite only that
file — verified via the commit log's remove list, not timing."""

from __future__ import annotations

from pyspark.sql import functions as F

from sdlt_spark.store import VintageTable


def _build(spark, path, n_files=8, rows=4000):
    df = spark.range(rows).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    t = VintageTable(spark, path)
    # range partitioning gives disjoint per-file key zones
    t.write(df.repartitionByRange(n_files, "k"))
    return t


def test_stats_recorded(spark, tmp_path):
    t = _build(spark, str(tmp_path / "t"))
    stats = t._snapshot().stats
    assert len(stats) == len(t._live_files())
    for st in stats.values():
        assert st["rows"] > 0
        assert "k" in st["min"] and "k" in st["max"]


def test_merge_prunes_files_by_key_range(spark, tmp_path):
    t = _build(spark, str(tmp_path / "t"), n_files=8, rows=4000)
    live_before = t._live_files()
    assert len(live_before) == 8

    # source touches keys 0..9 -> exactly one range file overlaps
    src = spark.range(10).select(F.col("id").alias("k"), F.lit(-1.0).alias("v"))
    t.merge(src, ["k"])
    commit = t._commits()[-1]
    assert len(commit.remove) == 1, f"expected 1 rewritten file, got {commit.remove}"

    snap = t.read()
    assert snap.count() == 4000
    assert snap.filter(F.col("k") < 10).agg(F.sum("v")).head()[0] == -10.0
    assert snap.filter(F.col("k") == 100).head()["v"] == 200.0


def test_prune_keeps_files_without_stats(spark, tmp_path):
    t = _build(spark, str(tmp_path / "t"), n_files=4, rows=100)
    # simulate missing stats (e.g. older commits): pruning must keep the file
    import json, os

    entry = os.path.join(t._log_path(), "00000000.json")
    with open(entry) as f:
        d = json.load(f)
    del d["stats"]
    with open(entry, "w") as f:
        json.dump(d, f)
    assert not t._checkpoint_versions() and not t._snapshot().stats
    src = spark.range(5).select(F.col("id").alias("k"), F.lit(0.0).alias("v"))
    t.merge(src, ["k"])
    assert t.read().count() == 100


def test_out_of_range_merge_appends_only(spark, tmp_path):
    """Source entirely above the table's key range: zero files rewritten,
    pure append commit."""
    t = _build(spark, str(tmp_path / "t"), n_files=4, rows=100)
    src = spark.range(1000, 1010).select(F.col("id").alias("k"), F.lit(9.0).alias("v"))
    t.merge(src, ["k"])
    commit = t._commits()[-1]
    assert commit.remove == []
    assert t.read().count() == 110


def test_zorder_compact_prunes_both_columns(spark, tmp_path):
    """After a 2-D Z-order compact, zone maps must prune selective range
    reads on BOTH clustered columns; a 1-D sort only prunes its first."""
    t = VintageTable(spark, str(tmp_path / "t"))
    n = 64
    df = (
        spark.range(n * n)
        .select(
            (F.col("id") % n).alias("x"),
            (F.col("id") / n).cast("long").alias("y"),
            F.col("id").alias("v"),
        )
        # shuffle the layout so compaction has real work to do
        .orderBy(F.xxhash64("id"))
    )
    t.write(df)
    t.compact(num_files=16, zorder_by=["x", "y"])

    live = t._live_files()
    assert len(live) == 16
    pruned_x = t._prune_by_range(t._snapshot(), "x", 0, 3)
    pruned_y = t._prune_by_range(t._snapshot(), "y", 0, 3)
    # a 4/64 slice of either dimension must skip most of the 16 files
    assert len(pruned_x) <= len(live) // 2, (len(pruned_x), len(live))
    assert len(pruned_y) <= len(live) // 2, (len(pruned_y), len(live))
    # correctness: data unchanged
    assert t.read().count() == n * n
    assert t.read().agg(F.sum("v")).head()[0] == sum(range(n * n))


def test_zorder_requires_two_columns(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "t"))
    t.write(spark.range(10).select(F.col("id").alias("x"), F.col("id").alias("y")))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="zorder_by"):
        t.compact(zorder_by=["x"])


def test_executor_side_stats_for_large_commits(spark, tmp_path):
    """Commits above _DRIVER_STATS_MAX files collect footer stats via a
    Spark job instead of a serial driver loop — same zone maps, and
    pruning still works."""
    t = _build(spark, str(tmp_path / "t"), n_files=40, rows=4000)
    assert len(t._live_files()) > VintageTable._DRIVER_STATS_MAX
    stats = t._snapshot().stats
    assert len(stats) == len(t._live_files())
    for st in stats.values():
        assert st["rows"] > 0 and "k" in st["min"] and "k" in st["max"]
    # a 10-key source must prune to the one overlapping range file
    src = spark.range(10).select(F.col("id").alias("k"), F.lit(-1.0).alias("v"))
    t.merge(src, ["k"])
    assert len(t._commits()[-1].remove) == 1


def test_zorder_string_column_prunes(spark, tmp_path):
    """Z-order with a string first column (dictionary-rank buckets): zone
    maps must prune selective reads on the string AND the numeric column."""
    t = VintageTable(spark, str(tmp_path / "t"))
    n = 64
    letters = [chr(ord("a") + i) for i in range(16)]
    df = (
        spark.range(n * n)
        .select(
            F.element_at(
                F.array(*[F.lit(s) for s in letters]), (F.col("id") % 16 + 1).cast("int")
            ).alias("status"),
            (F.col("id") / 16).cast("long").alias("k"),
            F.col("id").alias("v"),
        )
        .orderBy(F.xxhash64("id"))
    )
    t.write(df)
    t.compact(num_files=16, zorder_by=["status", "k"])
    live = t._live_files()
    assert len(live) == 16
    pruned_s = t._prune_by_range(t._snapshot(), "status", "a", "b")  # 2/16 of the dict
    pruned_k = t._prune_by_range(t._snapshot(), "k", 0, 15)  # 16/256 of the range
    assert len(pruned_s) <= len(live) // 2, (len(pruned_s), len(live))
    assert len(pruned_k) <= len(live) // 2, (len(pruned_k), len(live))
    assert t.read().count() == n * n
    assert t.read().agg(F.sum("v")).head()[0] == sum(range(n * n))


def test_write_cluster_by_prunes_at_ingest(spark, tmp_path):
    """write(cluster_by=...) must produce zone-disjoint files straight from
    ingest: selective range reads on the cluster key skip most files with
    no compact() in between, and the data round-trips unchanged."""
    t = VintageTable(spark, str(tmp_path / "t"))
    n = 4096
    df = (
        spark.range(n)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        # adversarial layout: without clustering every file spans ~all of k
        .orderBy(F.xxhash64("id"))
    )
    t.write(df, cluster_by=["k"], num_files=16)

    live = t._live_files()
    assert len(live) == 16
    pruned = t._prune_by_range(t._snapshot(), "k", 0, n // 16)
    assert len(pruned) <= 2, (len(pruned), len(live))
    assert t.read().count() == n
    assert t.read().agg(F.sum("v")).head()[0] == n * (n - 1)


def test_read_where_skips_files(spark, tmp_path):
    """read_where must list only zone-matching files (visible via
    inputFiles) and return exactly the rows the full-scan filter returns,
    including with half-open bounds."""
    t = VintageTable(spark, str(tmp_path / "t"))
    n = 4096
    df = (
        spark.range(n)
        .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        .orderBy(F.xxhash64("id"))
    )
    t.write(df, cluster_by=["k"], num_files=16)

    narrow = t.read_where("k", 100, 200)
    assert len(narrow.inputFiles()) <= 2
    assert sorted(r["k"] for r in narrow.collect()) == list(range(100, 201))

    lo_only = t.read_where("k", lo=n - 50)
    assert len(lo_only.inputFiles()) <= 2
    assert lo_only.count() == 50
    hi_only = t.read_where("k", hi=49)
    assert len(hi_only.inputFiles()) <= 2
    assert hi_only.count() == 50
