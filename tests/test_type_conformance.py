"""Copy-on-write ``update``, DV ``update`` and clause-mode
``merge(matched_update=)`` cast every assignment to its column's recorded
type, as Delta's UPDATE/MERGE SET does: a widening expression must not
land a file whose column type differs from the log's schema, a string
literal converts into a date or timestamp column, a malformed value fails
when the write runs, and a pair of types no ANSI cast converts raises
before anything is written."""

from __future__ import annotations

import datetime as dt

import pytest

from sdlt_spark.store import VintageTable


def _table(spark, tmp_path, change_feed=False):
    t = VintageTable(spark, str(tmp_path / "t"), change_feed=change_feed)
    t.write(spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"))
    return t


@pytest.mark.parametrize("change_feed", [False, True])
def test_update_casts_a_widening_assignment(spark, tmp_path, change_feed):
    t = _table(spark, tmp_path, change_feed)
    v = t.update("k = 1", {"v": "1.5"})
    assert t.read().schema.simpleString() == "struct<k:int,v:int>"
    assert sorted(map(tuple, t.read().collect())) == [(1, 1), (2, 20)]
    if change_feed:
        after = [r for r in t.table_changes(v).collect() if r["_change_type"] == "insert"]
        assert [(r["k"], r["v"]) for r in after] == [(1, 1)]


def test_clause_merge_casts_a_widening_assignment(spark, tmp_path):
    t = _table(spark, tmp_path)
    src = spark.createDataFrame([(1, 1.5), (2, 0.5)], "k int, ratio double")
    t.merge(src, ["k"], matched_update={"v": "src_ratio * v"}, insert_condition="false")
    assert t.read().schema.simpleString() == "struct<k:int,v:int>"
    assert sorted(map(tuple, t.read().collect())) == [(1, 15), (2, 10)]


def test_dv_update_casts_too(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.update("k = 2", {"v": "2.75"}, mode="dv")
    assert sorted(map(tuple, t.read().collect())) == [(1, 10), (2, 2)]


def test_an_impossible_assignment_raises_before_writing(spark, tmp_path):
    t = _table(spark, tmp_path)
    head = t.latest_version()
    with pytest.raises(ValueError, match="no ANSI cast"):
        t.update("k = 1", {"v": "DATE'2024-01-01'"})
    with pytest.raises(ValueError, match="no ANSI cast"):
        t.update("k = 1", {"v": "DATE'2024-01-01'"}, mode="dv")
    with pytest.raises(ValueError, match="no ANSI cast"):
        t.merge(
            spark.createDataFrame([(1, dt.date(2024, 1, 1))], "k int, d date"), ["k"],
            matched_update={"v": "src_d"}, insert_condition="false",
        )
    assert t.latest_version() == head
    assert sorted(map(tuple, t.read().collect())) == [(1, 10), (2, 20)]


def _dated(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "d"))
    t.write(spark.createDataFrame(
        [(1, dt.date(2020, 1, 1), dt.datetime(2020, 1, 1)),
         (2, dt.date(2020, 1, 2), dt.datetime(2020, 1, 2))],
        "k int, d date, at timestamp",
    ))
    return t


def _dates_of(t):
    assert t.read().schema.simpleString() == "struct<k:int,d:date,at:timestamp>"
    return {r["k"]: (r["d"], r["at"]) for r in t.read().collect()}


@pytest.mark.parametrize("mode", ["copy_on_write", "dv"])
def test_update_assigns_string_literals_to_date_columns(spark, tmp_path, mode):
    t = _dated(spark, tmp_path)
    t.update("k = 1", {"d": "'2024-01-01'", "at": "'2024-01-01 12:30:00'"}, mode=mode)
    assert _dates_of(t) == {
        1: (dt.date(2024, 1, 1), dt.datetime(2024, 1, 1, 12, 30)),
        2: (dt.date(2020, 1, 2), dt.datetime(2020, 1, 2)),
    }


def test_clause_merge_assigns_string_columns_to_date_columns(spark, tmp_path):
    t = _dated(spark, tmp_path)
    src = spark.createDataFrame([(2, "2024-02-29")], "k int, day string")
    t.merge(src, ["k"], matched_update={"d": "src_day"}, insert_condition="false")
    assert _dates_of(t)[2] == (dt.date(2024, 2, 29), dt.datetime(2020, 1, 2))


def test_sql_update_assigns_a_string_literal_to_a_date_column(spark, tmp_path):
    from sdlt_spark.sql_dml import SqlDispatcher

    t = _dated(spark, tmp_path)
    d = SqlDispatcher(spark)
    d.register("t", t)
    d.sql("UPDATE t SET d = '2024-01-01' WHERE k = 2")
    assert _dates_of(t)[2] == (dt.date(2024, 1, 1), dt.datetime(2020, 1, 2))


def test_a_malformed_value_fails_when_the_write_runs(spark, tmp_path):
    if spark.conf.get("spark.sql.ansi.enabled").lower() != "true":
        pytest.skip("a non-ANSI cast turns a malformed value into NULL")
    t = _table(spark, tmp_path)
    head = t.latest_version()
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        t.update("k = 1", {"v": "'abc'"})
    assert t.latest_version() == head
    assert sorted(map(tuple, t.read().collect())) == [(1, 10), (2, 20)]


def _update_outcome(spark, path, mode, assignments):
    """What one copy of a 3-row table looks like after ``update`` in
    ``mode``: its rows, or the error (its Spark error class when it has
    one). Either way the table must still read back with its schema."""
    import re

    t = VintageTable(spark, path)
    t.write(spark.createDataFrame(
        [(k, 10 * k, dt.date(2020, 1, k), dt.datetime(2020, 1, k)) for k in (1, 2, 3)],
        "k int, v int, d date, at timestamp",
    ))
    try:
        t.update("k >= 2", assignments, mode=mode)
        out = ("ok",)
    except Exception as exc:  # noqa: BLE001 — the error is the outcome
        found = re.search(r"\[([A-Z_]+)[\].]", str(exc))
        out = ("error", found.group(1) if found else type(exc).__name__)
    assert t.read().schema.simpleString() == "struct<k:int,v:int,d:date,at:timestamp>"
    return out + (sorted(map(tuple, t.read().collect())),)


@pytest.mark.parametrize(
    "assignments",
    [
        {"v": "v + 1"},
        {"v": "v * 1.5"},
        {"v": "CAST(v AS SMALLINT)"},
        {"v": "v + 3000000000"},
        {"v": "'42'"},
        {"d": "'2024-01-01'"},
        {"at": "'2024-01-01 12:30:00'"},
        {"v": "d"},
    ],
    ids=[
        "same-type", "widening", "narrowing", "overflowing-bigint",
        "string-to-int", "string-to-date", "string-to-timestamp", "date-to-int",
    ],
)
def test_update_modes_agree_on_every_assignment_type(spark, tmp_path, assignments):
    cow = _update_outcome(spark, str(tmp_path / "cow"), "copy_on_write", assignments)
    dv = _update_outcome(spark, str(tmp_path / "dv"), "dv", assignments)
    assert cow == dv
