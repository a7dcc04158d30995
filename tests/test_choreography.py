"""Choreography replay — the reference's de-facto golden end-to-end test
(SURVEY.md §5.1; expected counts from /root/reference/README.md).

Replays the full SDMX exchange on the reference's own CSV fixtures against
our VintageTable and asserts all 12 checkpoints.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sdlt_spark.store import VintageTable
from sdlt_spark.store.sdmx import exr_input_dir, read_submission

IN = exr_input_dir()


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    return VintageTable(spark, str(tmp_path_factory.mktemp("exr") / "exr"))


def test_choreography(spark, table):
    key = ["KEY"]

    # 1. Initial load: 504 rows (README.md:64,173)
    table.write(read_submission(spark, f"{IN}/data.0.csv"), mode="overwrite")
    assert table.read().count() == 504

    # 2. +Jan/Feb 2020 merge: 508 (README.md:133)
    table.merge(read_submission(spark, f"{IN}/data.1.csv"), key)
    assert table.read().count() == 508

    # 3. +CHF coverage extension: 762 (README.md:162)
    table.merge(read_submission(spark, f"{IN}/data.2.csv"), key)
    assert table.read().count() == 762

    # 4. versionAsOf 0 still 504 (README.md:173)
    assert table.read(version=0).count() == 504

    # 5. Full replacement: 474 (README.md:177)
    table.write(read_submission(spark, f"{IN}/data.3.csv"), mode="overwrite")
    assert table.read().count() == 474

    # 6. versionAsOf 1 = post-first-merge state: 508 (README.md:199-203)
    assert table.read(version=1).count() == 508

    # 7. Forecast merge: 477 rows, 2020-03 has OBS_STATUS='F' (README.md:229-237)
    table.merge(read_submission(spark, f"{IN}/data.4.csv"), key)
    snap = table.read()
    assert snap.count() == 477
    mar = snap.filter(F.col("TIME_PERIOD") == "2020-03")
    assert mar.count() == 3
    assert {r["OBS_STATUS"] for r in mar.collect()} == {"F"}

    # 8. Final-values merge: still 477, values revised, status now 'A'
    #    (README.md:265-273; data.5.csv carries 'A' — see SURVEY.md §1.1)
    old_vals = {r["KEY"]: r["OBS_VALUE"] for r in mar.collect()}
    table.merge(read_submission(spark, f"{IN}/data.5.csv"), key)
    snap = table.read()
    assert snap.count() == 477
    mar2 = snap.filter(F.col("TIME_PERIOD") == "2020-03").collect()
    assert {r["OBS_STATUS"] for r in mar2} == {"A"}
    assert any(r["OBS_VALUE"] != old_vals[r["KEY"]] for r in mar2)

    # 9. Delete RUB: 318 = 477 - 159 (README.md:278-282)
    table.delete("CURRENCY = 'RUB'")
    assert table.read().count() == 318
    assert table.read().filter(F.col("CURRENCY") == "RUB").count() == 0

    # 10. Series-level attribute update: CHF DECIMALS -> 5, NOK stays 4
    #     (README.md:285-297)
    table.update("CURRENCY = 'CHF'", {"DECIMALS": F.lit(5)})
    snap = table.read()
    assert {r["DECIMALS"] for r in snap.filter(F.col("CURRENCY") == "CHF").collect()} == {5}
    assert {r["DECIMALS"] for r in snap.filter(F.col("CURRENCY") == "NOK").collect()} == {4}

    # 11. History: 8 versions, ops WRITE,MERGE,MERGE,WRITE,MERGE,MERGE,DELETE,UPDATE
    #     newest first (README.md:305-319)
    hist = table.history().collect()
    assert [r["version"] for r in hist] == list(range(7, -1, -1))
    assert [r["operation"] for r in hist] == [
        "UPDATE", "DELETE", "MERGE", "MERGE", "WRITE", "MERGE", "MERGE", "WRITE",
    ]

    # 12. Schema-evolving merge: OBS_COM readable afterwards
    #     (README.md:330,372-387; data.6.csv)
    table.merge(
        read_submission(spark, f"{IN}/data.6.csv", with_obs_com=True),
        key,
        schema_evolution=True,
    )
    snap = table.read()
    assert "OBS_COM" in snap.columns
    com = snap.filter((F.col("CURRENCY") == "CHF") & (F.col("TIME_PERIOD") == "2020-03"))
    assert [r["OBS_COM"] for r in com.collect()] == ["Improved precision"]
    # unrelated rows: evolved column is null
    assert snap.filter(F.col("OBS_COM").isNull()).count() == snap.count() - 1


def test_merge_idempotent(spark, tmp_path):
    """Property: merging the same batch twice == once (SURVEY.md §5.2)."""
    t = VintageTable(spark, str(tmp_path / "idem"))
    t.write(read_submission(spark, f"{IN}/data.0.csv"))
    t.merge(read_submission(spark, f"{IN}/data.1.csv"), ["KEY"])
    once = sorted(map(tuple, t.read().collect()))
    t.merge(read_submission(spark, f"{IN}/data.1.csv"), ["KEY"])
    twice = sorted(map(tuple, t.read().collect()))
    assert once == twice


def test_timestamp_time_travel(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "ts"))
    t.write(read_submission(spark, f"{IN}/data.0.csv"))
    ts_after_v0 = t._commits()[-1].timestamp
    t.merge(read_submission(spark, f"{IN}/data.1.csv"), ["KEY"])
    assert t.read(timestamp=ts_after_v0).count() == 504
    assert t.read().count() == 508


def test_compact_and_vacuum(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "cv"))
    df = read_submission(spark, f"{IN}/data.0.csv")
    t.write(df.repartition(8))
    t.merge(read_submission(spark, f"{IN}/data.1.csv"), ["KEY"])
    before = t.read().count()
    v = t.compact(num_files=2)
    assert t.read().count() == before
    assert len(t._live_files()) == 2
    # compaction is dataChange=false
    assert not t._commits()[v].data_change
    # vacuum with zero retention drops all non-live files; current read intact
    deleted = t.vacuum(retention_hours=0)
    assert deleted
    assert t.read().count() == before


def test_append_schema_enforcement(spark, tmp_path):
    """Schema mismatch on append must error like Delta (README.md:327);
    schema evolution is the explicit opt-in path (README.md:330)."""
    t = VintageTable(spark, str(tmp_path / "enf"))
    t.write(read_submission(spark, f"{IN}/data.0.csv"))
    evolved = read_submission(spark, f"{IN}/data.6.csv", with_obs_com=True)
    with pytest.raises(ValueError, match="append schema mismatch"):
        t.write(evolved, mode="append")
    # the sanctioned path works
    t.merge(evolved, ["KEY"], schema_evolution=True)
    assert "OBS_COM" in t.read().columns
