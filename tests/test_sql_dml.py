"""SQL DML surface (sdlt_spark.sql_dml): the choreography replay
re-expressed as the SQL statements most lakehouse users actually write —
INSERT OVERWRITE / MERGE INTO / DELETE FROM / UPDATE / DESCRIBE HISTORY /
VERSION AS OF — hitting all 12 reference checkpoints
(/root/reference/README.md:64-387), plus parse-level unit coverage of
the clause grammar and the Delta-export adapter."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sdlt_spark.sql_dml import SqlDispatcher, SqlParseError
from sdlt_spark.store import VintageTable
from sdlt_spark.store.sdmx import exr_input_dir, read_submission

IN = exr_input_dir()


def _n(df) -> int:
    return df.collect()[0]["n"]


def test_sql_choreography(spark, tmp_path):
    d = SqlDispatcher(spark)
    d.register("exr", VintageTable(spark, str(tmp_path / "exr")))
    for i in range(7):
        read_submission(
            spark, f"{IN}/data.{i}.csv", with_obs_com=(i == 6)
        ).createOrReplaceTempView(f"batch{i}")

    upsert = (
        "MERGE INTO exr USING batch{i} ON exr.KEY = batch{i}.KEY "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )

    # 1. initial load: 504 (README.md:64,173)
    d.sql("INSERT OVERWRITE exr SELECT * FROM batch0")
    assert _n(d.sql("SELECT count(*) AS n FROM exr")) == 504
    # 2. +Jan/Feb 2020 merge: 508 (README.md:133)
    d.sql(upsert.format(i=1))
    assert _n(d.sql("SELECT count(*) AS n FROM exr")) == 508
    # 3. +CHF coverage extension: 762 (README.md:162)
    d.sql(upsert.format(i=2))
    assert _n(d.sql("SELECT count(*) AS n FROM exr")) == 762
    # 4. VERSION AS OF 0 still 504 (README.md:173)
    assert _n(d.sql("SELECT count(*) AS n FROM exr VERSION AS OF 0")) == 504
    # 5. full replacement: 474 (README.md:177)
    d.sql("INSERT OVERWRITE exr SELECT * FROM batch3")
    assert _n(d.sql("SELECT count(*) AS n FROM exr")) == 474
    # 6. VERSION AS OF 1 = post-first-merge state: 508 (README.md:199-203)
    assert _n(d.sql("SELECT count(*) AS n FROM exr VERSION AS OF 1")) == 508
    # 7. forecast merge: 477; 2020-03 rows carry OBS_STATUS='F'
    #    (README.md:229-237)
    d.sql(upsert.format(i=4))
    assert _n(d.sql("SELECT count(*) AS n FROM exr")) == 477
    mar = d.sql(
        "SELECT OBS_STATUS, OBS_VALUE, KEY FROM exr "
        "WHERE TIME_PERIOD = '2020-03'"
    ).collect()
    assert len(mar) == 3 and {r["OBS_STATUS"] for r in mar} == {"F"}
    old_vals = {r["KEY"]: r["OBS_VALUE"] for r in mar}
    # 8. final-values merge: still 477, revised values, status 'A'
    #    (README.md:265-273)
    d.sql(upsert.format(i=5))
    assert _n(d.sql("SELECT count(*) AS n FROM exr")) == 477
    mar2 = d.sql(
        "SELECT OBS_STATUS, OBS_VALUE, KEY FROM exr "
        "WHERE TIME_PERIOD = '2020-03'"
    ).collect()
    assert {r["OBS_STATUS"] for r in mar2} == {"A"}
    assert any(r["OBS_VALUE"] != old_vals[r["KEY"]] for r in mar2)
    # 9. delete RUB: 318 = 477 - 159 (README.md:278-282)
    d.sql("DELETE FROM exr WHERE CURRENCY = 'RUB'")
    assert _n(d.sql("SELECT count(*) AS n FROM exr")) == 318
    assert (
        _n(d.sql("SELECT count(*) AS n FROM exr WHERE CURRENCY = 'RUB'")) == 0
    )
    # 10. series-level attribute update: CHF DECIMALS -> 5, NOK stays 4
    #     (README.md:285-297)
    d.sql("UPDATE exr SET DECIMALS = 5 WHERE CURRENCY = 'CHF'")
    decs = {
        r["CURRENCY"]: r["d"]
        for r in d.sql(
            "SELECT CURRENCY, max(DECIMALS) AS d FROM exr "
            "WHERE CURRENCY IN ('CHF', 'NOK') GROUP BY CURRENCY"
        ).collect()
    }
    assert decs == {"CHF": 5, "NOK": 4}
    # 11. history: 8 versions, ops newest-first (README.md:305-319)
    hist = d.sql("DESCRIBE HISTORY exr").collect()
    assert [r["version"] for r in hist] == list(range(7, -1, -1))
    assert [r["operation"] for r in hist] == [
        "UPDATE", "DELETE", "MERGE", "MERGE", "WRITE", "MERGE", "MERGE",
        "WRITE",
    ]
    # 12. schema-evolving merge via the autoMerge toggle (README.md:330,
    #     372-387): OBS_COM readable afterwards, null on unrelated rows
    d.sql("SET sdlt.sql.autoMerge = true")
    d.sql(upsert.format(i=6))
    snap = d.sql("SELECT * FROM exr")
    assert "OBS_COM" in snap.columns
    com = d.sql(
        "SELECT OBS_COM FROM exr "
        "WHERE CURRENCY = 'CHF' AND TIME_PERIOD = '2020-03'"
    ).collect()
    assert [r["OBS_COM"] for r in com] == ["Improved precision"]
    assert (
        _n(d.sql("SELECT count(*) AS n FROM exr WHERE OBS_COM IS NULL"))
        == snap.count() - 1
    )
    # 13. maintenance as SQL (reference README.md:403-415): OPTIMIZE
    #     compacts without a logical change, VACUUM drops the dead files —
    #     every checkpoint count above still reads back identically
    n_before = _n(d.sql("SELECT count(*) AS n FROM exr"))
    d.sql("OPTIMIZE exr")
    assert _n(d.sql("SELECT count(*) AS n FROM exr")) == n_before
    import os as _os

    files_before = sum(len(fs) for _, _, fs in _os.walk(str(tmp_path / "exr")))
    deleted = d.sql("VACUUM exr RETAIN 0 HOURS").collect()
    assert len(deleted) > 0
    files_after = sum(len(fs) for _, _, fs in _os.walk(str(tmp_path / "exr")))
    assert files_after < files_before
    assert _n(d.sql("SELECT count(*) AS n FROM exr")) == n_before


@pytest.fixture()
def small(spark, tmp_path):
    d = SqlDispatcher(spark)
    t = VintageTable(spark, str(tmp_path / "t"))
    t.write(
        spark.createDataFrame(
            [(k, k % 5, float(k * 10)) for k in range(20)],
            "k long, grp long, v double",
        )
    )
    d.register("t", t)
    return d


def test_sql_merge_conditional_clauses(spark, small):
    d = small
    spark.createDataFrame(
        [(1, 9, 111.0), (2, 9, 222.0), (50, 9, 555.0)],
        "k long, grp long, v double",
    ).createOrReplaceTempView("s")
    d.sql(
        "MERGE INTO t AS tg USING s AS sr ON tg.k = sr.k "
        "WHEN MATCHED AND tg.v < 15 THEN "
        "UPDATE SET v = sr.v, grp = sr.grp "
        "WHEN NOT MATCHED AND sr.v > 400 THEN INSERT *"
    )
    got = {r["k"]: (r["grp"], r["v"]) for r in d.sql("SELECT * FROM t").collect()}
    assert got[1] == (9, 111.0)   # matched + condition -> updated
    assert got[2] == (2, 20.0)    # matched, condition false -> unchanged
    assert got[50] == (9, 555.0)  # insert passed its condition
    assert len(got) == 21


def test_sql_merge_matched_delete_and_nmbs(spark, small):
    d = small
    spark.createDataFrame(
        [(0, 0, 1.0), (3, 0, 0.0)], "k long, grp long, v double"
    ).createOrReplaceTempView("s2")
    d.sql(
        "MERGE INTO t USING s2 ON t.k = s2.k "
        "WHEN MATCHED AND t.v = 30 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE AND t.grp = 0 THEN DELETE"
    )
    got = sorted(r["k"] for r in d.sql("SELECT k FROM t").collect())
    # k=3 (v=30) deleted by clause; grp-0 keys not in source (5,10,15)
    # deleted by NMBS; k=0 matched-but-unconditioned stays
    assert 3 not in got and {5, 10, 15}.isdisjoint(got) and 0 in got
    assert len(got) == 16


def test_sql_parse_refusals(spark, small):
    d = small
    with pytest.raises(SqlParseError, match="unknown table"):
        d.sql("DELETE FROM nope WHERE 1=1")
    with pytest.raises(SqlParseError, match="ON must be"):
        d.sql(
            "MERGE INTO t USING t ON t.k > t.k "
            "WHEN MATCHED THEN UPDATE SET *"
        )
    with pytest.raises(SqlParseError, match="INSERT \\*"):
        d.sql(
            "MERGE INTO t USING t ON t.k = t.k "
            "WHEN NOT MATCHED THEN INSERT (k) VALUES (1)"
        )


def test_sql_delta_export_adapter(spark, tmp_path):
    from sdlt_spark.store.delta_write import export_vintage_to_delta

    t = VintageTable(spark, str(tmp_path / "v"))
    t.write(
        spark.createDataFrame(
            [(k, float(k)) for k in range(10)], "k long, v double"
        )
    )
    dest = str(tmp_path / "d")
    export_vintage_to_delta(t, dest)
    d = SqlDispatcher(spark)
    d.register_delta("dt", dest)
    d.sql("DELETE FROM dt WHERE k >= 8")
    d.sql("UPDATE dt SET v = v + 100 WHERE k = 0")
    got = {r["k"]: r["v"] for r in d.sql("SELECT * FROM dt").collect()}
    assert len(got) == 8 and got[0] == 100.0 and got[1] == 1.0
    hist = d.sql("DESCRIBE HISTORY dt").collect()
    assert [r["operation"] for r in hist[:2]] == ["UPDATE", "DELETE"]
    spark.createDataFrame(
        [(1, -1.0), (99, 99.0)], "k long, v double"
    ).createOrReplaceTempView("dsrc")
    d.sql(
        "MERGE INTO dt USING dsrc ON dt.k = dsrc.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["k"]: r["v"] for r in d.sql("SELECT * FROM dt").collect()}
    assert got[1] == -1.0 and got[99] == 99.0 and len(got) == 9
    # conditional clauses refuse loudly on the delta adapter
    with pytest.raises(SqlParseError, match="conditional clauses"):
        d.sql(
            "MERGE INTO dt USING dsrc ON dt.k = dsrc.k "
            "WHEN MATCHED AND dt.v < 0 THEN UPDATE SET v = dsrc.v"
        )


def test_sql_timestamp_time_travel(spark, tmp_path):
    d = SqlDispatcher(spark)
    t = VintageTable(spark, str(tmp_path / "tt"))
    t.write(spark.createDataFrame([(1,)], "k long"))
    ts = t._commits()[-1].timestamp
    t.write(spark.createDataFrame([(1,), (2,)], "k long"), mode="overwrite")
    d.register("tt", t)
    assert (
        _n(d.sql(f"SELECT count(*) AS n FROM tt TIMESTAMP AS OF '{ts}'")) == 1
    )
    assert _n(d.sql("SELECT count(*) AS n FROM tt")) == 2


def test_sql_merge_insert_only_leaves_matched_untouched(spark, small):
    """Review regression: an insert-only MERGE (no matched clause) must
    NOT upsert matched rows — only the unmatched source rows land."""
    d = small
    spark.createDataFrame(
        [(1, 9, 999.0), (50, 9, 500.0)], "k long, grp long, v double"
    ).createOrReplaceTempView("io_src")
    d.sql(
        "MERGE INTO t USING io_src ON t.k = io_src.k "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["k"]: r["v"] for r in d.sql("SELECT * FROM t").collect()}
    assert got[1] == 10.0  # matched row untouched (was silently 999.0)
    assert got[50] == 500.0 and len(got) == 21


def test_sql_merge_matched_only_update_all(spark, small):
    """Review regression: WHEN MATCHED THEN UPDATE SET * without a NOT
    MATCHED clause is legal Delta SQL — update matched, insert nothing."""
    d = small
    spark.createDataFrame(
        [(1, 7, 111.0), (50, 7, 555.0)], "k long, grp long, v double"
    ).createOrReplaceTempView("mo_src")
    d.sql(
        "MERGE INTO t USING mo_src ON t.k = mo_src.k "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    got = {r["k"]: (r["grp"], r["v"]) for r in d.sql("SELECT * FROM t").collect()}
    assert got[1] == (7, 111.0)
    assert 50 not in got and len(got) == 20


def test_sql_merge_conditional_update_all(spark, small):
    """WHEN MATCHED AND cond THEN UPDATE SET * expands to explicit
    assignments gated by the condition."""
    d = small
    spark.createDataFrame(
        [(1, 7, 111.0), (2, 7, 222.0), (50, 7, 555.0)],
        "k long, grp long, v double",
    ).createOrReplaceTempView("cu_src")
    d.sql(
        "MERGE INTO t USING cu_src ON t.k = cu_src.k "
        "WHEN MATCHED AND t.v < 15 THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["k"]: (r["grp"], r["v"]) for r in d.sql("SELECT * FROM t").collect()}
    assert got[1] == (7, 111.0)   # v=10 < 15 -> updated
    assert got[2] == (2, 20.0)    # v=20 -> untouched
    assert got[50] == (7, 555.0)  # inserted
    assert len(got) == 21


def test_sql_merge_case_when_in_set_expression(spark, small):
    """Review regression: CASE WHEN inside a SET expression must not be
    mistaken for a clause boundary."""
    d = small
    spark.createDataFrame(
        [(1, 9, -5.0), (2, 9, 7.0)], "k long, grp long, v double"
    ).createOrReplaceTempView("cw_src")
    d.sql(
        "MERGE INTO t USING cw_src ON t.k = cw_src.k "
        "WHEN MATCHED THEN UPDATE SET "
        "v = CASE WHEN cw_src.v > 0 THEN cw_src.v ELSE 0 END "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["k"]: r["v"] for r in d.sql("SELECT * FROM t").collect()}
    assert got[1] == 0.0 and got[2] == 7.0


def test_sql_merge_alias_inside_string_literal_untouched(spark, small):
    """Review regression: an alias-shaped token INSIDE a string literal
    ('sr.k') must not be rewritten to src_k."""
    d = small
    spark.createDataFrame(
        [(1, 9, 1.0)], "k long, grp long, v double"
    ).createOrReplaceTempView("lit_src")
    # the condition compares a constant to the literal 'sr.k' — always
    # false, so nothing is updated; a buggy rewrite would turn the
    # literal into 'src_k' and still be false, so assert via an UPDATE
    # SET that embeds the literal in a CASE and lands it in v's sign
    d.sql(
        "MERGE INTO t AS tg USING lit_src AS sr ON tg.k = sr.k "
        "WHEN MATCHED THEN UPDATE SET v = "
        "CASE WHEN 'sr.k' = 'sr.k' THEN -1.0 ELSE -2.0 END "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["k"]: r["v"] for r in d.sql("SELECT * FROM t").collect()}
    assert got[1] == -1.0  # literal survived verbatim on both sides


def test_sql_delta_adapter_unconditional_matched_delete(spark, tmp_path):
    """Review regression: WHEN MATCHED THEN DELETE (no condition) on a
    Delta export must delete the matched keys, not upsert them."""
    from sdlt_spark.store.delta_write import export_vintage_to_delta

    t = VintageTable(spark, str(tmp_path / "v"))
    t.write(
        spark.createDataFrame(
            [(k, float(k)) for k in range(6)], "k long, v double"
        )
    )
    dest = str(tmp_path / "d")
    export_vintage_to_delta(t, dest)
    d = SqlDispatcher(spark)
    d.register_delta("dt", dest)
    spark.createDataFrame(
        [(2, 0.0), (99, 99.0)], "k long, v double"
    ).createOrReplaceTempView("del_src")
    d.sql(
        "MERGE INTO dt USING del_src ON dt.k = del_src.k "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["k"]: r["v"] for r in d.sql("SELECT * FROM dt").collect()}
    assert 2 not in got and got[99] == 99.0 and len(got) == 6
    # CONDITIONAL matched delete refuses loudly (source-frame namespace)
    with pytest.raises(SqlParseError, match="conditional"):
        d.sql(
            "MERGE INTO dt USING del_src ON dt.k = del_src.k "
            "WHEN MATCHED AND dt.v < 3 THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT *"
        )


def test_sql_clause_evolution_records_nullable_schema(spark, tmp_path):
    """Review regression: a clause-mode schema evolution must record the
    evolved column as NULLABLE even when the source field is not (the
    padded rows hold NULL)."""
    d = SqlDispatcher(spark)
    t = VintageTable(spark, str(tmp_path / "ev"))
    t.write(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    d.register("ev", t)
    src = spark.createDataFrame([(1, 9.0)], "k long, v double").withColumn(
        "tag", F.lit("X")  # lit() is non-nullable
    )
    src.createOrReplaceTempView("ev_src")
    d.sql("SET sdlt.sql.autoMerge = true")
    d.sql(
        "MERGE INTO ev USING ev_src ON ev.k = ev_src.k "
        "WHEN MATCHED AND ev.v < 5 THEN UPDATE SET v = ev_src.v, "
        "tag = ev_src.tag"
    )
    fields = {f.name: f for f in t._schema_at().fields}
    assert fields["tag"].nullable is True
    got = {r["k"]: (r["v"], r["tag"]) for r in t.read().collect()}
    assert got[1] == (9.0, "X") and got[2] == (2.0, None)


# --------------------------------------------------- maintenance verbs (r9)


def test_sql_maintenance_verbs_vintage(spark, tmp_path):
    """OPTIMIZE / VACUUM [RETAIN n HOURS] / RESTORE ... TO VERSION AS OF /
    CREATE TABLE ... AS over a vintage table — the delta-spark statement
    spellings of the existing Python verbs (round-9 verdict item 2)."""
    import os

    d = SqlDispatcher(spark)
    t = VintageTable(spark, str(tmp_path / "t"))
    t.write(
        spark.createDataFrame(
            [(k, k % 3, float(k)) for k in range(30)],
            "k long, grp long, v double",
        ).repartition(6)
    )
    d.register("t", t)
    vd = d.sql("DELETE FROM t WHERE grp = 0").head()["version"]
    assert d.sql("SELECT count(*) AS n FROM t").head()["n"] == 20
    # RESTORE undoes the delete, metadata-only
    d.sql(f"RESTORE TABLE t TO VERSION AS OF {vd - 1}")
    assert d.sql("SELECT count(*) AS n FROM t").head()["n"] == 30
    # OPTIMIZE compacts to the default 4 files, dataChange=false
    d.sql("OPTIMIZE t")
    assert len(t._live_files()) <= 4 + 1  # data files (+ possible dv)
    assert d.sql("SELECT count(*) AS n FROM t").head()["n"] == 30
    hist = d.sql("DESCRIBE HISTORY t").head()["operation"]
    assert hist == "OPTIMIZE"
    # ZORDER spelling routes to the z-curve compact path
    d.sql("OPTIMIZE t ZORDER BY (k, v)")
    assert d.sql("SELECT count(*) AS n FROM t").head()["n"] == 30
    # single-column ZORDER = a 1-D curve = a range sort (Delta accepts it)
    d.sql("OPTIMIZE t ZORDER BY k")
    assert d.sql("SELECT count(*) AS n FROM t").head()["n"] == 30
    # VACUUM RETAIN 0 HOURS physically drops dead files
    n_before = sum(len(fs) for _, _, fs in os.walk(t.path))
    deleted = d.sql("VACUUM t RETAIN 0 HOURS").collect()
    assert len(deleted) > 0
    n_after = sum(len(fs) for _, _, fs in os.walk(t.path))
    assert n_after < n_before
    assert d.sql("SELECT count(*) AS n FROM t").head()["n"] == 30
    # CTAS materializes a filtered snapshot into a NEW registered table
    d.sql(
        f"CREATE TABLE t2 LOCATION '{tmp_path / 'ctas'}' AS "
        "SELECT k, v FROM t WHERE grp <> 0"
    )
    assert d.sql("SELECT count(*) AS n FROM t2").head()["n"] == 20
    with pytest.raises(SqlParseError, match="already registered"):
        d.sql(
            f"CREATE TABLE t2 LOCATION '{tmp_path / 'ctas2'}' AS "
            "SELECT * FROM t"
        )
    with pytest.raises(SqlParseError, match="not supported"):
        d.sql(
            f"CREATE TABLE t3 USING parquet LOCATION '{tmp_path / 'p'}' AS "
            "SELECT * FROM t"
        )
    # non-TABLE CREATE forms keep falling through to Spark (review r9:
    # the verb must not swallow temp-view staging between DML statements)
    d.sql("CREATE OR REPLACE TEMP VIEW r9_tv AS SELECT 1 AS one")
    assert d.sql("SELECT one FROM r9_tv").head()["one"] == 1


def test_sql_maintenance_verbs_delta_export(spark, tmp_path):
    """The same statements drive an exported Delta table through the
    optimize/vacuum/restore delta_write verbs."""
    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import export_vintage_to_delta

    t = VintageTable(spark, str(tmp_path / "v"))
    t.write(
        spark.createDataFrame(
            [(k, float(k)) for k in range(40)], "k long, v double"
        ).repartition(8)
    )
    dest = str(tmp_path / "d")
    export_vintage_to_delta(t, dest)
    d = SqlDispatcher(spark)
    d.register_delta("dt", dest)
    vd = d.sql("DELETE FROM dt WHERE k >= 30").head()["version"]
    assert d.sql("SELECT count(*) AS n FROM dt").head()["n"] == 30
    d.sql(f"RESTORE TABLE dt TO VERSION AS OF {vd - 1}")
    assert d.sql("SELECT count(*) AS n FROM dt").head()["n"] == 40
    d.sql("OPTIMIZE dt")
    assert d.sql("SELECT count(*) AS n FROM dt").head()["n"] == 40
    deleted = d.sql("VACUUM dt RETAIN 0 HOURS").collect()
    assert isinstance(deleted, list)
    assert d.sql("SELECT count(*) AS n FROM dt").head()["n"] == 40
    # an independent log-replay read agrees after the maintenance cycle
    assert DeltaTableReader(spark, dest).read().count() == 40


def test_sql_view_cache_replays_log_once_per_version(spark, tmp_path):
    """Round-10 perf pin: consecutive SELECTs against an unchanged table
    materialize its temp view ONCE (latest_version probe short-circuits
    the snapshot replay); any mutation bumps the version and forces
    exactly one refresh. At a 10k-commit log the old per-statement
    t.read() was O(commits) driver work per query."""
    t = VintageTable(spark, str(tmp_path / "c"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"))
    d = SqlDispatcher(spark)
    d.register("ct", t)

    reads = {"n": 0}
    orig_read = t.read

    def counting_read(*a, **kw):
        if not a and not kw:
            reads["n"] += 1
        return orig_read(*a, **kw)

    t.read = counting_read
    assert d.sql("SELECT count(*) AS n FROM ct").head()["n"] == 2
    assert d.sql("SELECT count(*) AS n FROM ct").head()["n"] == 2
    assert d.sql("SELECT k FROM ct ORDER BY k").count() == 2
    assert reads["n"] == 1  # one replay for three statements
    # a mutation moves the log head -> exactly one refresh
    d.sql("DELETE FROM ct WHERE k = 2")
    assert d.sql("SELECT count(*) AS n FROM ct").head()["n"] == 1
    assert d.sql("SELECT count(*) AS n FROM ct").head()["n"] == 1
    assert reads["n"] == 2
    # re-registering drops the cache entry
    d.register("ct", t)
    assert d.sql("SELECT count(*) AS n FROM ct").head()["n"] == 1
    assert reads["n"] == 3


def test_delta_writer_caches_id_and_protocol(spark, tmp_path):
    """Round-10 perf pin: DeltaLogWriter resolves table id + protocol from
    the log AT MOST once per writer lifetime; every commit it publishes
    refreshes the cache from its own actions, so a metaData re-emit or DV
    upgrade on a long log stops paying a newest-first full-log rescan per
    commit. Behavior (stable id, monotone protocol upgrade) is pinned by
    the existing interop tests; this pins the scan count."""
    import os

    from sdlt_spark.store.delta_write import DeltaLogWriter

    root = str(tmp_path / "t")
    os.makedirs(root)
    df = spark.createDataFrame([(1,), (2,)], "k long")
    df.coalesce(1).write.parquet(root + "/c0")
    rel0 = [
        "c0/" + f for f in os.listdir(root + "/c0") if f.endswith(".parquet")
    ]
    w = DeltaLogWriter(root)
    scans = {"id": 0, "proto": 0}
    orig_id, orig_proto = w._scan_table_id, w._scan_protocol
    w._scan_table_id = lambda: (scans.__setitem__("id", scans["id"] + 1), orig_id())[1]
    w._scan_protocol = lambda: (
        scans.__setitem__("proto", scans["proto"] + 1),
        orig_proto(),
    )[1]
    w.commit(adds=[(r, {}) for r in rel0], schema_json=df.schema.json())
    # v0 mints the id (no scan) and writes the floor protocol (no scan)
    assert scans == {"id": 0, "proto": 0}
    tid0 = w._existing_table_id()
    proto0 = w._existing_protocol()
    assert tid0 is not None and proto0 is not None
    # both came from the commit-refreshed cache, not a log scan
    assert scans == {"id": 0, "proto": 0}
    # three metaData re-emits + a DV-flavored upgrade: still zero scans
    for _ in range(3):
        w.commit(schema_json=df.schema.json(), operation="SET TBLPROPERTIES")
    assert w._existing_table_id() == tid0
    assert scans == {"id": 0, "proto": 0}
    # a FRESH writer on the same log scans once, then caches
    w2 = DeltaLogWriter(root)
    orig2_id, orig2_proto = w2._scan_table_id, w2._scan_protocol
    scans2 = {"id": 0, "proto": 0}
    w2._scan_table_id = lambda: (
        scans2.__setitem__("id", scans2["id"] + 1),
        orig2_id(),
    )[1]
    w2._scan_protocol = lambda: (
        scans2.__setitem__("proto", scans2["proto"] + 1),
        orig2_proto(),
    )[1]
    assert w2._existing_table_id() == tid0
    assert w2._existing_table_id() == tid0
    assert w2._existing_protocol() == proto0
    assert w2._existing_protocol() == proto0
    assert scans2 == {"id": 1, "proto": 1}
