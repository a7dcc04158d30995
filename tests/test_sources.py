"""Format round-trips (CSV/JSONL/ORC) and the new store features: sorted
compaction tightening zone maps, and version diff (CDC-style)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sdlt_spark import sources, tables
from sdlt_spark.store import VintageTable

SF = "/root/testdata/sf0.001"


def _orders_proj(spark):
    return tables.load(spark, SF, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )


def test_csv_roundtrip(spark, tmp_path):
    df = _orders_proj(spark)
    sources.write_csv(df, str(tmp_path / "csv"))
    back = sources.read_csv(spark, str(tmp_path / "csv"), df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_jsonl_roundtrip(spark, tmp_path):
    df = _orders_proj(spark)
    sources.write_jsonl(df, str(tmp_path / "json"))
    back = sources.read_jsonl(spark, str(tmp_path / "json"), df.schema)
    assert back.count() == df.count()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_orc_roundtrip(spark, tmp_path):
    df = _orders_proj(spark)
    sources.write_orc(df, str(tmp_path / "orc"))
    back = sources.read_orc(spark, str(tmp_path / "orc"))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_sorted_compaction_tightens_zone_maps(spark, tmp_path):
    """After compact(sort_by=k), files own disjoint ranges, so a narrow
    merge rewrites exactly one file even though the initial layout was
    hash-scattered (every file overlapping every key range)."""
    t = VintageTable(spark, str(tmp_path / "t"))
    df = spark.range(4000).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    t.write(df.repartition(8))  # hash layout: all files overlap all ranges

    src = spark.range(10).select(F.col("id").alias("k"), F.lit(-1.0).alias("v"))
    t.merge(src, ["k"])
    scattered_rewrite = len(t._commits()[-1].remove)
    assert scattered_rewrite > 1  # scattered layout: zone maps can't isolate

    t.compact(num_files=8, sort_by=["k"])
    t.merge(spark.range(5).select(F.col("id").alias("k"), F.lit(-2.0).alias("v")), ["k"])
    clustered_rewrite = len(t._commits()[-1].remove)
    assert clustered_rewrite == 1  # sorted layout -> single-file rewrite
    assert t.read().count() == 4000


def test_diff_between_versions(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "t"))
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    t.write(df)  # v0
    src = spark.range(3).select(F.col("id").alias("k"), F.lit(-5.0).alias("v"))
    t.merge(src, ["k"])  # v1: updates k=0,1,2
    t.delete("k >= 98")  # v2: removes 2 rows

    d01 = t.diff(0, 1).collect()
    ins = {(r["k"], r["v"]) for r in d01 if r["_change_type"] == "insert"}
    dels = {(r["k"], r["v"]) for r in d01 if r["_change_type"] == "delete"}
    assert ins == {(0, -5.0), (1, -5.0), (2, -5.0)}
    assert dels == {(0, 0.0), (1, 1.0), (2, 2.0)}

    d12 = t.diff(1, 2).collect()
    assert {r["k"] for r in d12 if r["_change_type"] == "delete"} == {98, 99}
    assert not [r for r in d12 if r["_change_type"] == "insert"]


def test_diff_is_file_pruned_but_exact(spark, tmp_path):
    """diff must read only changed files yet equal the full-snapshot
    difference — untouched files' rows cancel either way."""
    t = VintageTable(spark, str(tmp_path / "t"))
    df = spark.range(4000).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    t.write(df.repartitionByRange(8, "k"))  # 8 disjoint-range files
    src = spark.range(5).select(F.col("id").alias("k"), F.lit(-1.0).alias("v"))
    t.merge(src, ["k"])  # touches exactly 1 file

    d = t.diff(0, 1).collect()
    ins = {(r["k"], r["v"]) for r in d if r["_change_type"] == "insert"}
    dels = {(r["k"], r["v"]) for r in d if r["_change_type"] == "delete"}
    assert ins == {(k, -1.0) for k in range(5)}
    assert dels == {(k, float(k)) for k in range(5)}

    # full-snapshot formulation agrees
    full_ins = {
        tuple(r)
        for r in t.read(version=1).exceptAll(t.read(version=0)).collect()
    }
    assert full_ins == ins

    # and the pruned read really is small: only the rewritten file + its
    # replacement are outside the common set
    before = set(t._live_files(version=0))
    after = set(t._live_files(version=1))
    assert len(before - after) == 1


def test_restore_rolls_back_and_preserves_history(spark, tmp_path):
    """RESTORE (README.md:321 rollback): metadata-only swap back to an old
    snapshot; history keeps growing; restore-of-restore returns forward."""
    t = VintageTable(spark, str(tmp_path / "t"))
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    t.write(df)                                   # v0: 100 rows
    t.delete("k >= 50")                           # v1: 50 rows
    src = spark.createDataFrame([(200, 2.0)], "k LONG, v DOUBLE")
    t.merge(src, ["k"])                           # v2: 51 rows

    v = t.restore(version=0)                      # v3 == v0 state
    assert v == 3
    assert t.read().count() == 100
    ops = [r["operation"] for r in t.history().collect()]
    assert ops[0] == "RESTORE" and len(ops) == 4
    # time travel through the rollback still sees every intermediate state
    assert t.read(version=2).count() == 51
    # restore forward again to the pre-rollback head
    t.restore(version=2)
    assert t.read().count() == 51


def test_restore_after_vacuum_refuses_cleanly(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "t"))
    df = spark.range(10).select(F.col("id").alias("k"))
    t.write(df)
    t.write(spark.range(5).select(F.col("id").alias("k")))  # overwrite: v1
    t.vacuum(retention_hours=0.0)                  # v0 files physically gone
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="vacuumed"):
        t.restore(version=0)
    assert t.read().count() == 5  # table unharmed


def test_vintage_batch_source_reads_snapshots(spark, tmp_path):
    """spark.read.format('vintage'): latest snapshot, versionAsOf time
    travel, and schema-evolved tables (padded NULLs) must all match the
    VintageTable.read() API."""
    from sdlt_spark.store.batch_source import VintageSnapshotDataSource

    spark.dataSource.register(VintageSnapshotDataSource)
    path = str(tmp_path / "t")
    t = VintageTable(spark, path)
    t.write(
        spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    )
    t.delete("k < 10")  # v1
    t.merge(  # v2: schema evolution adds a column
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(-1.0).alias("v"), F.lit("x").alias("tag")
        ),
        ["k"],
        schema_evolution=True,
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    got = spark.read.format("vintage").option("path", path).load()
    assert rows(got) == rows(t.read())
    assert got.schema.fieldNames() == ["k", "v", "tag"]

    for v in (0, 1):
        got_v = (
            spark.read.format("vintage")
            .option("path", path)
            .option("versionAsOf", v)
            .load()
        )
        assert rows(got_v) == rows(t.read(version=v)), f"version {v}"

    # SQL-only access path: the source works without any Python table object
    got.createOrReplaceTempView("vintage_snapshot")
    assert spark.sql("SELECT count(*) n FROM vintage_snapshot").head()["n"] == 95


def test_vintage_batch_source_applies_deletion_vectors(spark, tmp_path):
    """spark.read.format('vintage') must match VintageTable.read() on a
    DV-bearing table: no sidecar rows read as data, no deleted rows
    resurrected (round-5 fix: the source used to partition over ALL live
    files including dv/)."""
    from sdlt_spark.store import VintageTable
    from sdlt_spark.store.batch_source import VintageSnapshotDataSource

    spark.dataSource.register(VintageSnapshotDataSource)
    path = str(tmp_path / "t")
    t = VintageTable(spark, path)
    t.write(
        spark.range(100).select(F.col("id").alias("k"), (F.col("id") % 10).alias("grp"))
        .repartition(4)
    )
    t.delete("grp = 3", mode="dv")
    got = spark.read.format("vintage").option("path", path).load()
    assert got.count() == 90
    assert got.filter(F.col("grp") == 3).count() == 0
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in t.read().collect()
    )


def test_vintage_batch_source_filter_pushdown_prunes_files(spark, tmp_path):
    """pushFilters -> zone-map file skipping: with the table clustered on k,
    a range query must not even OPEN files outside the zone. Decisive
    proof: physically delete the out-of-range file — the pruned query still
    answers; an unpruned scan would crash."""
    import os as _os

    from sdlt_spark.store import VintageTable
    from sdlt_spark.store.batch_source import VintageSnapshotDataSource

    spark.dataSource.register(VintageSnapshotDataSource)
    path = str(tmp_path / "t")
    t = VintageTable(spark, path)
    t.write(
        spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
        cluster_by=["k"],
        num_files=4,
    )
    # sabotage: remove the file holding the TOP of the k range
    live = t._live_files()
    stats = t._snapshot().stats
    top = max(live, key=lambda f: stats[f]["max"]["k"])
    _os.remove(_os.path.join(path, top))
    lo_cut = stats[top]["min"]["k"]  # anything below this is in other files

    # strict `< lo_cut` would keep the boundary file (min == lo_cut is
    # within the inclusive over-approximation); <= lo_cut - 1 prunes it
    df = (
        spark.read.format("vintage").option("path", path)
        .option("pushdown", "true").load()
        .filter(F.col("k") <= lo_cut - 1)
    )
    assert df.count() == lo_cut  # pruned plan never opens the missing file
    # and without the pushdown option the missing file IS opened -> error
    import pytest as _pytest

    with _pytest.raises(Exception):
        (spark.read.format("vintage").option("path", path).load()
         .filter(F.col("k") <= lo_cut - 1).count())


def test_vintage_batch_source_write_append_overwrite(spark, tmp_path):
    """df.write.format('vintage'): the reference's write.format('delta') UX
    (README.md:92). Append conforms to schema, overwrite replaces, history
    and time travel behave like API writes, txnId lands in the log."""
    from sdlt_spark.store import VintageTable
    from sdlt_spark.store.batch_source import VintageSnapshotDataSource

    spark.dataSource.register(VintageSnapshotDataSource)
    path = str(tmp_path / "t")
    base = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    base.write.format("vintage").mode("overwrite").option("path", path).save()
    t = VintageTable(spark, path)
    assert t.read().count() == 10

    more = spark.range(10, 13).select(F.col("id").alias("k"), F.lit(0.0).alias("v"))
    (more.write.format("vintage").mode("append")
     .option("path", path).option("txnId", "batch-7").save())
    assert sorted(r["k"] for r in t.read().collect()) == list(range(13))
    assert t.last_txn_id() == "batch-7"
    assert t.read(version=0).count() == 10  # time travel across source writes

    # schema-mismatched append refuses and leaves no trace
    bad = spark.range(3).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    import pytest as _pytest

    with _pytest.raises(Exception, match="schema mismatch"):
        bad.write.format("vintage").mode("append").option("path", path).save()
    assert t.latest_version() == 1
    assert sorted(r["k"] for r in t.read().collect()) == list(range(13))

    # overwrite through the source replaces content, history preserved
    repl = spark.range(5).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    repl.write.format("vintage").mode("overwrite").option("path", path).save()
    assert t.read().count() == 5
    assert t.read(version=1).count() == 13


def test_vintage_batch_source_write_enforces_constraints(spark, tmp_path):
    import pytest

    from sdlt_spark.store import VintageTable
    from sdlt_spark.store.batch_source import VintageSnapshotDataSource

    spark.dataSource.register(VintageSnapshotDataSource)
    path = str(tmp_path / "t")
    t = VintageTable(spark, path)
    t.write(spark.range(5).select(F.col("id").alias("k")))
    t.add_constraint("k_nonneg", "k >= 0")
    bad = spark.range(3).select((F.col("id") - 10).alias("k"))
    # Spark wraps data-source commit errors in AnalysisException; the
    # ConstraintViolationError message survives in the wrapper
    with pytest.raises(Exception, match="CHECK constraint k_nonneg"):
        bad.write.format("vintage").mode("append").option("path", path).save()
    assert t.latest_version() == 1  # write + constraint; nothing landed
    assert t.read().count() == 5
    # staged files were aborted away: every parquet on disk is a live file
    import os as _os

    on_disk = {
        _os.path.relpath(_os.path.join(d, f), path)
        for d, _dirs, fs in _os.walk(_os.path.join(path, "data"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == set(t._live_files())


def test_last_txn_id_app_scoped(spark, tmp_path):
    """Review regression: the txn watermark must be scopeable by app so
    two streams (or an unrelated txn writer) sharing one table cannot
    swallow each other's batches."""
    from sdlt_spark.store import VintageTable

    t = VintageTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1, 1.0)], "k long, v double"),
            txn_id="streamA:5")
    t.write(spark.createDataFrame([(2, 2.0)], "k long, v double"),
            mode="append", txn_id="streamB:2")
    assert t.last_txn_id() == "streamB:2"  # unscoped: newest token
    assert t.last_txn_id(app="streamA") == "5"  # scans past B's token
    assert t.last_txn_id(app="streamB") == "2"
    assert t.last_txn_id(app="other") is None
