"""Delta Lake interop: DeltaTableReader replays a real ``_delta_log``
(hand-built, byte-level fixtures) and export_vintage_to_delta publishes a
VintageTable snapshot Delta readers can open. Reference parity: the
reference choreography's tables ARE Delta tables
(/root/reference/README.md:92,169)."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sdlt_spark.store.delta_read import DeltaProtocolError, DeltaTableReader
from sdlt_spark.store.delta_write import DeltaLogWriter, export_vintage_to_delta
from sdlt_spark.store.vintage import VintageTable


def _write_part(path: str, ids: list[int]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({"k": pa.array(ids, pa.int64()),
                  "v": pa.array([f"v{i}" for i in ids], pa.string())}),
        path,
    )


_SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def test_replay_add_remove_and_version_travel(spark, tmp_path):
    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2, 3])
    _write_part(f"{root}/b.parquet", [1, 2])
    _write_part(f"{root}/c.parquet", [3, 4])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)
    # v1 compacts a into b+c: replay must honor the remove or k duplicates
    w.commit(adds=[("b.parquet", {}), ("c.parquet", {})], removes=["a.parquet"])
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read().collect()) == [1, 2, 3, 4]
    assert sorted(x["k"] for x in r.read(version=0).collect()) == [1, 2, 3]
    assert r.latest_version() == 1


def test_timestamp_as_of_uses_commit_mtime(spark, tmp_path):
    """The mtime FALLBACK for logs whose writer recorded no
    inCommitTimestamp (this repo's writer now records one, so the
    fixture strips it — classic delta-spark commits lack the field)."""
    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1])
    _write_part(f"{root}/b.parquet", [2])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)
    w.commit(adds=[("b.parquet", {})])
    log = os.path.join(root, "_delta_log")
    for v in (0, 1):
        p = os.path.join(log, f"{v:020d}.json")
        lines = []
        with open(p) as fh:
            for line in fh:
                a = json.loads(line)
                if "commitInfo" in a:
                    a["commitInfo"].pop("inCommitTimestamp", None)
                lines.append(json.dumps(a))
        with open(p, "w") as fh:
            fh.write("\n".join(lines) + "\n")
    os.utime(os.path.join(log, f"{0:020d}.json"), (1_000_000, 1_000_000))
    os.utime(os.path.join(log, f"{1:020d}.json"), (2_000_000, 2_000_000))
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read(timestamp=1_500_000).collect()) == [1]
    assert sorted(x["k"] for x in r.read(timestamp=2_500_000).collect()) == [1, 2]
    with pytest.raises(ValueError, match="no Delta commit"):
        r.read(timestamp=500_000)


def test_partition_values_reattached_typed(spark, tmp_path):
    """Partition columns live ONLY in the log's partitionValues (the data
    files don't carry them) and must come back with the schema's type."""
    root = str(tmp_path / "dt")
    _write_part(f"{root}/r=0/a.parquet", [1, 2])
    _write_part(f"{root}/r=1/b.parquet", [3])
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                {"name": "r", "type": "integer", "nullable": True, "metadata": {}},
            ],
        }
    )
    w = DeltaLogWriter(root)
    w.commit(
        adds=[("r=0/a.parquet", {"r": "0"}), ("r=1/b.parquet", {"r": "1"})],
        schema_json=schema,
        partition_columns=["r"],
    )
    df = DeltaTableReader(spark, root).read()
    assert df.schema["r"].dataType.simpleString() == "int"
    got = sorted((x["k"], x["r"]) for x in df.collect())
    assert got == [(1, 0), (2, 0), (3, 1)]


def test_url_encoded_paths_round_trip(spark, tmp_path):
    root = str(tmp_path / "dt")
    rel = "part with space#1.parquet"
    _write_part(os.path.join(root, rel), [7])
    w = DeltaLogWriter(root)
    v = w.commit(adds=[(rel, {})], schema_json=_SCHEMA)
    assert v == 0
    # the log entry itself must be URL-encoded (byte-level Delta contract)
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json")) as f:
        raw = f.read()
    assert "part%20with%20space%231.parquet" in raw
    assert [x["k"] for x in DeltaTableReader(spark, root).read().collect()] == [7]


def test_checkpoint_replay_skips_earlier_json(spark, tmp_path):
    """A parquet checkpoint is the replay base: JSON commits at or before
    it may be gone (Delta log cleanup) and the read must still work."""
    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1])
    _write_part(f"{root}/b.parquet", [2])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)  # v0
    log = os.path.join(root, "_delta_log")
    # hand-build the v0 checkpoint (row-per-action, struct columns, the
    # PROTOCOL.md checkpoint schema with partitionValues as a map)
    proto = pa.array(
        [{"minReaderVersion": 1, "minWriterVersion": 2}, None, None],
        pa.struct([("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]),
    )
    meta = pa.array(
        [
            None,
            {
                "id": "fixture",
                "schemaString": _SCHEMA,
                "partitionColumns": [],
                "configuration": [],
            },
            None,
        ],
        pa.struct(
            [
                ("id", pa.string()),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", pa.map_(pa.string(), pa.string())),
            ]
        ),
    )
    add = pa.array(
        [None, None, {"path": "a.parquet", "partitionValues": [], "size": 1,
                      "modificationTime": 0, "dataChange": True}],
        pa.struct(
            [
                ("path", pa.string()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
            ]
        ),
    )
    pq.write_table(
        pa.table({"protocol": proto, "metaData": meta, "add": add}),
        os.path.join(log, f"{0:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 0, "size": 3}, f)
    w.commit(adds=[("b.parquet", {})])  # v1 json
    os.remove(os.path.join(log, f"{0:020d}.json"))  # log cleanup happened
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read().collect()) == [1, 2]


def _dv_add_action(rel: str, desc: dict) -> str:
    return json.dumps(
        {
            "add": {
                "path": rel,
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
                "deletionVector": desc,
            }
        }
    )


def test_deletion_vectors_applied_on_read(spark, tmp_path):
    """A DV-bearing add (the default shape from modern Delta writers) must
    hide exactly the row positions the roaring sidecar names — byte-level
    fixture written through the same public formats (Z85, portable 64-bit
    roaring, the framed .bin layout) real writers use."""
    from sdlt_spark.store.delta_dv import write_dv_file

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2, 3, 4, 5])
    _write_part(f"{root}/b.parquet", [6, 7])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {}), ("b.parquet", {})], schema_json=_SCHEMA)
    # delete rows at positions 0 and 3 of a.parquet (k=1, k=4), delta-style:
    # re-add the file with a deletionVector descriptor
    desc = write_dv_file(
        root, [0, 3], "0f1a2b3c-4d5e-6f70-8192-a3b4c5d6e7f8", prefix="ab"
    )
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(_dv_add_action("a.parquet", desc) + "\n")
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read().collect()) == [2, 3, 5, 6, 7]
    # time travel to v0 pre-dates the DV: all rows visible
    assert sorted(x["k"] for x in r.read(version=0).collect()) == list(range(1, 8))
    # a later re-add WITHOUT the descriptor drops the DV (how Delta purges)
    with open(os.path.join(root, "_delta_log", f"{2:020d}.json"), "w") as f:
        f.write(
            json.dumps(
                {
                    "add": {
                        "path": "a.parquet",
                        "partitionValues": {},
                        "size": 1,
                        "modificationTime": 0,
                        "dataChange": False,
                    }
                }
            )
            + "\n"
        )
    assert sorted(x["k"] for x in r.read().collect()) == list(range(1, 8))


def test_deletion_vectors_inline_and_corrupt(spark, tmp_path):
    """storageType 'i' (Z85 inline) applies; a corrupted sidecar fails
    loudly (never silently resurrects rows)."""
    from sdlt_spark.store.delta_dv import inline_dv_descriptor, write_dv_file

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [10, 11, 12, 13])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)
    desc = inline_dv_descriptor([1, 2])
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(_dv_add_action("a.parquet", desc) + "\n")
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read().collect()) == [10, 13]

    root2 = str(tmp_path / "dt2")
    _write_part(f"{root2}/a.parquet", [1, 2])
    w2 = DeltaLogWriter(root2)
    w2.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)
    desc2 = write_dv_file(root2, [0], "00000000-0000-0000-0000-000000000001")
    # corrupt one bitmap byte past the framing header
    fname = os.path.join(root2, "deletion_vector_00000000-0000-0000-0000-000000000001.bin")
    raw = bytearray(open(fname, "rb").read())
    raw[10] ^= 0xFF
    open(fname, "wb").write(bytes(raw))
    with open(os.path.join(root2, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(_dv_add_action("a.parquet", desc2) + "\n")
    with pytest.raises(Exception, match="checksum|magic"):
        DeltaTableReader(spark, root2).read().collect()


def test_deletion_vector_run_containers_parse(spark):
    """The run-container encoding (cookie 12347) real writers emit for
    dense deletes must parse — hand-built stream, no serializer shortcut."""
    import struct

    from sdlt_spark.store.delta_dv import deserialize_rbm_array

    # one 32-bit bitmap, key 0, ONE run container: runs [(5, len 3), (100, len 1)]
    rb = struct.pack("<i", 12347 | ((1 - 1) << 16))  # run cookie, size 1
    rb += bytes([0b1])  # run flag bitset: container 0 is a run container
    rb += struct.pack("<HH", 0, 4 - 1)  # key 0, cardinality 4
    # size 1 < NO_OFFSET_THRESHOLD(4): no offset header
    rb += struct.pack("<H", 2)  # two runs
    rb += struct.pack("<HH", 5, 2)  # 5,6,7
    rb += struct.pack("<HH", 100, 0)  # 100
    blob = struct.pack("<iq", 1681511377, 1) + struct.pack("<I", 0) + rb
    assert deserialize_rbm_array(blob) == [5, 6, 7, 100]


def test_column_mapping_name_mode_reads_logical_names(spark, tmp_path):
    """Column mapping 'name': data files carry physical names (col-<uuid>);
    the read must surface the LOGICAL schema — including a renamed column,
    the operation that turns mapping on in the first place."""
    root = str(tmp_path / "dt")
    os.makedirs(root)
    pq.write_table(
        pa.table(
            {
                "col-aaa111": pa.array([1, 2], pa.int64()),
                "col-bbb222": pa.array(["x", "y"], pa.string()),
            }
        ),
        f"{root}/a.parquet",
    )
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "k",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-aaa111",
                    },
                },
                {
                    # logical name RENAMED after table creation; physical
                    # name stays put — exactly why mapping exists
                    "name": "label",
                    "type": "string",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-bbb222",
                    },
                },
            ],
        }
    )
    os.makedirs(os.path.join(root, "_delta_log"))
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(
            json.dumps(
                {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
            )
            + "\n"
        )
        f.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "x",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema,
                        "partitionColumns": [],
                        "configuration": {"delta.columnMapping.mode": "name"},
                    }
                }
            )
            + "\n"
        )
        f.write(
            json.dumps(
                {
                    "add": {
                        "path": "a.parquet",
                        "partitionValues": {},
                        "size": 1,
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
    df = DeltaTableReader(spark, root).read()
    assert [f.name for f in df.schema.fields] == ["k", "label"]
    assert sorted((x["k"], x["label"]) for x in df.collect()) == [(1, "x"), (2, "y")]


def _field(name: str, typ: str, fid: int, phys: str) -> dict:
    return {
        "name": name,
        "type": typ,
        "nullable": True,
        "metadata": {
            "delta.columnMapping.id": fid,
            "delta.columnMapping.physicalName": phys,
        },
    }


def _id_field(name: str, typ: str, fid: int) -> pa.Field:
    t = {"long": pa.int64(), "string": pa.string(), "double": pa.float64()}[typ]
    return pa.field(name, t, metadata={b"PARQUET:field_id": str(fid).encode()})


def test_column_mapping_id_mode_matches_by_field_id(spark, tmp_path):
    """Column mapping 'id' (tables converted from Iceberg, or written with
    id mapping): scan columns match by parquet FIELD ID from the footer,
    not by name — the fixture's parquet column names match neither the
    logical nor the physical names, so only id matching reads it. A
    column dropped and re-added under id mapping gets a NEW id, so old
    files read it as null (never the dropped column's stale values)."""
    root = str(tmp_path / "dt")
    os.makedirs(root)
    # old file: written before 'v' was dropped and re-added; carries ids
    # 1 (k) and 2 (the DROPPED v) under original Iceberg-era names
    pq.write_table(
        pa.table(
            [pa.array([1, 2], pa.int64()), pa.array(["old1", "old2"], pa.string())],
            schema=pa.schema(
                [_id_field("k_orig", "long", 1), _id_field("v_orig", "string", 2)]
            ),
        ),
        f"{root}/old.parquet",
    )
    # new file: ids 1 and 3 (the re-added v), again different names
    pq.write_table(
        pa.table(
            [pa.array([3], pa.int64()), pa.array(["new3"], pa.string())],
            schema=pa.schema(
                [_id_field("c1", "long", 1), _id_field("c3", "string", 3)]
            ),
        ),
        f"{root}/new.parquet",
    )
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                _field("k", "long", 1, "col-phys-k"),
                _field("v", "string", 3, "col-phys-v2"),  # re-added: id 3
            ],
        }
    )
    os.makedirs(os.path.join(root, "_delta_log"))
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(
            json.dumps({"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}})
            + "\n"
        )
        f.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "x",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema,
                        "partitionColumns": [],
                        "configuration": {"delta.columnMapping.mode": "id"},
                    }
                }
            )
            + "\n"
        )
        for p in ("old.parquet", "new.parquet"):
            f.write(
                json.dumps(
                    {
                        "add": {
                            "path": p,
                            "partitionValues": {},
                            "size": 1,
                            "modificationTime": 0,
                            "dataChange": True,
                        }
                    }
                )
                + "\n"
            )
    df = DeltaTableReader(spark, root).read()
    assert [f.name for f in df.schema.fields] == ["k", "v"]
    got = sorted((x["k"], x["v"]) for x in df.collect())
    # id 2 (dropped v) must NOT leak into the re-added column (id 3)
    assert got == [(1, None), (2, None), (3, "new3")]


def test_unknown_reader_features_rejected(spark, tmp_path):
    root2 = str(tmp_path / "dt2")
    os.makedirs(os.path.join(root2, "_delta_log"))
    with open(os.path.join(root2, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["collations-preview"],
                        "writerFeatures": ["collations-preview"],
                    }
                }
            )
            + "\n"
        )
    with pytest.raises(DeltaProtocolError, match="collations"):
        DeltaTableReader(spark, root2).read()


def test_partitioned_read_is_single_scan_and_null_values(spark, tmp_path):
    """Round-5 verdict item 4 + advice: many partitions must NOT fan out
    into a per-partition union (one scan node only), and a null partition
    value (JSON null per spec) must read as NULL instead of crashing."""
    root = str(tmp_path / "dt")
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                {"name": "r", "type": "integer", "nullable": True, "metadata": {}},
            ],
        }
    )
    adds = []
    for r in range(12):
        rel = f"r={r}/p.parquet"
        _write_part(os.path.join(root, rel), [r * 10, r * 10 + 1])
        adds.append((rel, {"r": str(r)}))
    # one file whose partition value is null (written as __HIVE_DEFAULT...
    # on disk but JSON null in the log)
    rel_null = "r=__HIVE_DEFAULT_PARTITION__/p.parquet"
    _write_part(os.path.join(root, rel_null), [999])
    adds.append((rel_null, {"r": None}))
    w = DeltaLogWriter(root)
    w.commit(adds=adds, schema_json=schema, partition_columns=["r"])
    df = DeltaTableReader(spark, root).read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    got = df.collect()
    assert len(got) == 25
    assert {x["r"] for x in got if x["k"] == 999} == {None}
    assert sorted(x["k"] for x in got if x["r"] == 3) == [30, 31]


def test_schema_evolved_table_reads_old_files_as_nulls(spark, tmp_path):
    """Advice: the snapshot schema must be supplied to the scan explicitly
    — a column added AFTER early files were written reads as typed nulls
    from those files, independent of file listing order."""
    root = str(tmp_path / "dt")
    _write_part(f"{root}/old.parquet", [1, 2])  # k, v only
    os.makedirs(os.path.dirname(f"{root}/new.parquet"), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "k": pa.array([3], pa.int64()),
                "v": pa.array(["v3"], pa.string()),
                "extra": pa.array([7.5], pa.float64()),
            }
        ),
        f"{root}/new.parquet",
    )
    evolved = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                {"name": "extra", "type": "double", "nullable": True, "metadata": {}},
            ],
        }
    )
    w = DeltaLogWriter(root)
    w.commit(adds=[("old.parquet", {})], schema_json=_SCHEMA)
    w.commit(adds=[("new.parquet", {})], schema_json=evolved)
    got = sorted(
        (x["k"], x["extra"]) for x in DeltaTableReader(spark, root).read().collect()
    )
    assert got == [(1, None), (2, None), (3, 7.5)]


def test_read_where_skips_files_via_add_stats(spark, tmp_path):
    """Add-action stats (the zone maps real Delta writers record) drive
    file skipping in read_where: a narrow range must list only the
    overlapping file, and files lacking stats are always kept."""
    root = str(tmp_path / "dt")
    _write_part(f"{root}/lo.parquet", [1, 2, 3])
    _write_part(f"{root}/hi.parquet", [100, 101])
    _write_part(f"{root}/nostats.parquet", [7])
    w = DeltaLogWriter(root)
    w.commit(adds=[("lo.parquet", {}), ("hi.parquet", {})], schema_json=_SCHEMA)
    w.commit(adds=[("nostats.parquet", {})], collect_stats=False)
    # the emitted stats are spec-shaped
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json")) as f:
        adds = [json.loads(l)["add"] for l in f if '"add"' in l]
    st = json.loads(adds[0]["stats"])
    assert st["numRecords"] == 3 and st["minValues"]["k"] == 1 and st["maxValues"]["k"] == 3
    r = DeltaTableReader(spark, root)
    df = r.read_where("k", 100, 200)
    scanned = {os.path.basename(p) for p in df.inputFiles()}
    # hi overlaps; nostats has no zone so must be read; lo is skipped
    assert scanned == {"hi.parquet", "nostats.parquet"}
    assert sorted(x["k"] for x in df.collect()) == [100, 101]


def test_read_where_prunes_partition_values(spark, tmp_path):
    root = str(tmp_path / "dt")
    _write_part(f"{root}/r=0/a.parquet", [1])
    _write_part(f"{root}/r=1/b.parquet", [2])
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                {"name": "r", "type": "integer", "nullable": True, "metadata": {}},
            ],
        }
    )
    w = DeltaLogWriter(root)
    w.commit(
        adds=[("r=0/a.parquet", {"r": "0"}), ("r=1/b.parquet", {"r": "1"})],
        schema_json=schema,
        partition_columns=["r"],
    )
    df = DeltaTableReader(spark, root).read_where("r", 1, 1)
    assert {os.path.basename(p) for p in df.inputFiles()} == {"b.parquet"}
    assert [x["k"] for x in df.collect()] == [2]


def test_export_vintage_to_delta_round_trip(spark, tmp_path):
    t = VintageTable(spark, str(tmp_path / "vt"))
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
    )
    t.write(df.repartition(3))
    t.delete("grp = 2", mode="dv")  # exporter must fold DVs first
    export_vintage_to_delta(t, str(tmp_path / "delta_out"))
    r = DeltaTableReader(spark, str(tmp_path / "delta_out"))
    got = sorted(x["k"] for x in r.read().collect())
    want = sorted(x["k"] for x in t.read().collect())
    assert got == want and len(got) == 40
    # spot-check the emitted log is spec-shaped JSON-lines
    with open(os.path.join(str(tmp_path / "delta_out"), "_delta_log", f"{0:020d}.json")) as f:
        kinds = [next(iter(json.loads(line))) for line in f if line.strip()]
    assert kinds[0] == "protocol" and "metaData" in kinds and "add" in kinds


def test_export_does_not_mutate_source(spark, tmp_path):
    """Round-5 verdict item 2: exporting a DV-bearing table must fold the
    DVs into the EXPORTED data — never commit to the source (a read-only
    source must be exportable; an owned source must not grow versions)."""
    t = VintageTable(spark, str(tmp_path / "vt"))
    t.write(spark.range(40).select(F.col("id").alias("k"),
                                   (F.col("id") % 4).alias("grp")))
    t.delete("grp = 1", mode="dv")
    versions_before = t.latest_version()
    export_vintage_to_delta(t, str(tmp_path / "d1"))
    assert t.latest_version() == versions_before  # source untouched
    # and the source's DV sidecars are still live (not materialized)
    _, dvs = t._split_live(t._live_files())
    assert dvs
    got = sorted(x["k"] for x in
                 DeltaTableReader(spark, str(tmp_path / "d1")).read().collect())
    assert got == sorted(r["k"] for r in t.read().collect())
    assert len(got) == 30


def test_export_sync_appends_incremental_commit(spark, tmp_path):
    """Round-5 verdict item 3: re-exporting to an existing export commits
    the DIFF (changed files only) as a new version; unchanged files keep
    their deterministic names so the second sync is metadata + delta."""
    t = VintageTable(spark, str(tmp_path / "vt"))
    t.write(
        spark.range(60).select(F.col("id").alias("k"), (F.col("id") % 3).alias("grp")),
        num_files=3,
    )
    dest = str(tmp_path / "d")
    v0 = export_vintage_to_delta(t, dest)
    assert v0 == 0
    r = DeltaTableReader(spark, dest)
    files_v0 = set(r.snapshot().files)

    # no source change -> no new version
    assert export_vintage_to_delta(t, dest) == 0
    assert r.latest_version() == 0

    # append commit on the source -> sync adds ONLY the new file(s)
    t.write(
        spark.range(60, 70).select(
            F.col("id").alias("k"), F.lit(9).cast("long").alias("grp")
        ),
        mode="append",
    )
    v1 = export_vintage_to_delta(t, dest)
    assert v1 == 1
    files_v1 = set(r.snapshot().files)
    assert files_v0 < files_v1  # old exported files untouched
    got = sorted(x["k"] for x in r.read().collect())
    assert got == list(range(70))
    # time travel on the EXPORT still sees the first sync
    assert sorted(x["k"] for x in r.read(version=0).collect()) == list(range(60))

    # a DV delete changes only the covered file's export name
    t.delete("k = 5", mode="dv")
    v2 = export_vintage_to_delta(t, dest)
    assert v2 == 2
    got2 = sorted(x["k"] for x in r.read().collect())
    assert got2 == [k for k in range(70) if k != 5]


def test_export_checkpoint_bounds_replay(spark, tmp_path):
    """Exports checkpoint every N commits; a reader replays from the
    checkpoint even after older JSON commits are cleaned up."""
    t = VintageTable(spark, str(tmp_path / "vt"))
    t.write(spark.range(10).select(F.col("id").alias("k")))
    dest = str(tmp_path / "d")
    export_vintage_to_delta(t, dest, checkpoint_interval=2)
    for i in range(2):
        t.write(spark.range(10 + i * 5, 15 + i * 5).select(F.col("id").alias("k")),
                mode="append")
        export_vintage_to_delta(t, dest, checkpoint_interval=2)
    log = os.path.join(dest, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{2:020d}.checkpoint.parquet"))
    assert json.load(open(os.path.join(log, "_last_checkpoint")))["version"] == 2
    # Delta log cleanup: pre-checkpoint JSON gone, replay still works
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    got = sorted(x["k"] for x in DeltaTableReader(spark, dest).read().collect())
    assert got == list(range(20))


def test_export_drops_fully_deleted_files(spark, tmp_path):
    """A file whose every row is DV-deleted exports as NO file at all (an
    empty rewrite must not add a phantom)."""
    t = VintageTable(spark, str(tmp_path / "vt"))
    t.write(spark.range(10).select(F.col("id").alias("k"),
                                   (F.col("id") < 5).alias("lo")), num_files=2,
            cluster_by=["lo"])
    t.delete("lo", mode="dv")  # wipes out one whole file
    dest = str(tmp_path / "d")
    export_vintage_to_delta(t, dest)
    r = DeltaTableReader(spark, dest)
    got = sorted(x["k"] for x in r.read().collect())
    assert got == [5, 6, 7, 8, 9]


# ----------------------------------------------------- change data feed read


def test_table_changes_file_level_derivation(spark, tmp_path):
    """CDF derivation from plain add/remove: adds of new files are
    inserts, removes are deletes, dataChange=false commits are silent."""
    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2])
    _write_part(f"{root}/b.parquet", [3])
    _write_part(f"{root}/ab.parquet", [1, 2, 3])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)          # v0 insert
    w.commit(adds=[("b.parquet", {})], operation="WRITE")            # v1 insert
    w.commit(removes=["a.parquet"])                                  # v2 delete
    r = DeltaTableReader(spark, root)
    got = sorted(
        (x["k"], x["_change_type"], x["_commit_version"])
        for x in r.table_changes(0).collect()
    )
    assert got == [
        (1, "delete", 2),
        (1, "insert", 0),
        (2, "delete", 2),
        (2, "insert", 0),
        (3, "insert", 1),
    ]
    # windowed read
    got1 = sorted(
        (x["k"], x["_change_type"]) for x in r.table_changes(1, 1).collect()
    )
    assert got1 == [(3, "insert")]


def test_table_changes_dv_growth_emits_exact_deletes(spark, tmp_path):
    """A re-add whose deletion vector grew emits ONLY the newly-covered
    positions as deletes (delta-spark's DV-diff derivation); a remove of a
    DV-bearing file does not re-emit already-deleted rows."""
    from sdlt_spark.store.delta_dv import write_dv_file

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [10, 11, 12, 13, 14])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)  # v0
    d1 = write_dv_file(root, [0], "00000000-0000-4000-8000-000000000001")
    w.commit(adds=[("a.parquet", {})], dvs={"a.parquet": d1})  # v1: del k=10
    d2 = write_dv_file(root, [0, 3], "00000000-0000-4000-8000-000000000002")
    w.commit(adds=[("a.parquet", {})], dvs={"a.parquet": d2})  # v2: del k=13
    # v3: delete the live remainder — a spec-conforming writer names the
    # DV of the logical file it removes (readers key on (path, dvId))
    w.commit(removes=[("a.parquet", d2)])
    r = DeltaTableReader(spark, root)
    got = sorted(
        (x["k"], x["_change_type"], x["_commit_version"])
        for x in r.table_changes(1).collect()
    )
    assert got == [
        (10, "delete", 1),
        (13, "delete", 2),
        (11, "delete", 3),
        (12, "delete", 3),
        (14, "delete", 3),
    ] or got == sorted(
        [(10, "delete", 1), (13, "delete", 2),
         (11, "delete", 3), (12, "delete", 3), (14, "delete", 3)]
    )


def test_table_changes_prefers_cdc_actions(spark, tmp_path):
    """A commit carrying cdc actions: its _change_data parquet IS the
    change set; the same commit's add/remove must not double-report."""
    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2, 3])
    _write_part(f"{root}/a2.parquet", [1, 2, 9])
    os.makedirs(f"{root}/_change_data", exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "k": pa.array([3, 9], pa.int64()),
                "v": pa.array(["v3", "v9"], pa.string()),
                "_change_type": pa.array(
                    ["update_preimage", "update_postimage"], pa.string()
                ),
            }
        ),
        f"{root}/_change_data/cdc-0.parquet",
    )
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)  # v0
    w.commit(
        adds=[("a2.parquet", {})],
        removes=["a.parquet"],
        cdc=["_change_data/cdc-0.parquet"],
        operation="UPDATE",
    )  # v1: rewrite with explicit change data
    r = DeltaTableReader(spark, root)
    got = sorted(
        (x["k"], x["_change_type"], x["_commit_version"])
        for x in r.table_changes(1).collect()
    )
    assert got == [(3, "update_preimage", 1), (9, "update_postimage", 1)]


def test_table_changes_refuses_undelete(spark, tmp_path):
    from sdlt_spark.store.delta_dv import write_dv_file

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)
    d1 = write_dv_file(root, [0], "00000000-0000-4000-8000-000000000009")
    w.commit(adds=[("a.parquet", {})], dvs={"a.parquet": d1})
    w.commit(adds=[("a.parquet", {})])  # un-delete: DV dropped
    r = DeltaTableReader(spark, root)
    with pytest.raises(DeltaProtocolError, match="un-delete"):
        r.table_changes(2).collect()
    # skipChangeCommits (delta-spark semantics): EVERY commit that deletes
    # or modifies existing rows drops whole — the underivable v2 AND the
    # plain-remove v3 — while append commits still flow
    w.commit(removes=["a.parquet"])  # v3: plain delete of the live file
    _write_part(os.path.join(root, "b.parquet"), [9])
    w.commit(adds=[("b.parquet", {})])  # v4: pure append
    got = sorted(
        (x["k"], x["_change_type"], x["_commit_version"])
        for x in r.table_changes(2, skip_change_commits=True).collect()
    )
    assert got == [(9, "insert", 4)]


def test_multipart_checkpoint_replay(spark, tmp_path):
    """Classic MULTIPART checkpoints (<v>.checkpoint.<i>.<n>.parquet) —
    what large real tables write — replay by concatenating all parts; a
    checkpoint missing a part is unusable and replay falls back to JSON."""
    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1])
    _write_part(f"{root}/b.parquet", [2])
    _write_part(f"{root}/c.parquet", [3])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {}), ("b.parquet", {})], schema_json=_SCHEMA)
    log = os.path.join(root, "_delta_log")

    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ]
    )
    proto_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )

    def _add(path):
        return {"path": path, "partitionValues": [], "size": 1,
                "modificationTime": 0, "dataChange": True}

    # part 1: protocol + metaData + add a; part 2: add b
    pq.write_table(
        pa.table(
            {
                "protocol": pa.array([{"minReaderVersion": 1, "minWriterVersion": 2}, None], proto_t),
                "metaData": pa.array(
                    [None, {"id": "x", "schemaString": _SCHEMA,
                            "partitionColumns": [], "configuration": []}],
                    meta_t,
                ),
                "add": pa.array([_add("a.parquet"), None], add_t),
            }
        ),
        os.path.join(log, f"{0:020d}.checkpoint.{1:010d}.{2:010d}.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "protocol": pa.array([None], proto_t),
                "metaData": pa.array([None], meta_t),
                "add": pa.array([_add("b.parquet")], add_t),
            }
        ),
        os.path.join(log, f"{0:020d}.checkpoint.{2:010d}.{2:010d}.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 0, "size": 3, "parts": 2}, f)
    w.commit(adds=[("c.parquet", {})])  # v1 json
    os.remove(os.path.join(log, f"{0:020d}.json"))  # cleanup: checkpoint is the base
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read().collect()) == [1, 2, 3]

    # now break the checkpoint (remove a part): replay must NOT use it —
    # with v0 json gone, the missing-commit error surfaces loudly
    os.remove(os.path.join(log, f"{0:020d}.checkpoint.{2:010d}.{2:010d}.parquet"))
    with pytest.raises(FileNotFoundError, match="missing Delta commit 0"):
        DeltaTableReader(spark, root).read()


def test_vacuum_delta_export_sweeps_tombstones_only(spark, tmp_path):
    """Export VACUUM: files tombstoned by a later sync and older than the
    retention window are deleted; live files and fresh tombstones stay.
    Deleting a hard link never touches the source table's copy."""
    from sdlt_spark.store.delta_write import vacuum_delta_export

    t = VintageTable(spark, str(tmp_path / "vt"))
    t.write(spark.range(20).select(F.col("id").alias("k")))
    dest = str(tmp_path / "d")
    export_vintage_to_delta(t, dest)
    r = DeltaTableReader(spark, dest)
    old_files = set(r.snapshot().files)
    # source rewrite -> next sync tombstones every old exported file
    t.write(spark.range(20, 30).select(F.col("id").alias("k")), mode="overwrite")
    export_vintage_to_delta(t, dest)
    # within retention: nothing deleted — even though hard-linked files
    # inherit the SOURCE inode mtime (retention must key on the remove
    # action's deletionTimestamp, not mtime)
    for rel in old_files:
        os.utime(os.path.join(dest, rel), (1_000_000, 1_000_000))
    assert vacuum_delta_export(dest, retention_hours=1.0) == []
    # age the TOMBSTONES (the log's deletionTimestamp) past the cutoff
    log = os.path.join(dest, "_delta_log")
    for fname in os.listdir(log):
        if not (fname.endswith(".json") and fname[:-5].isdigit()):
            continue
        p = os.path.join(log, fname)
        lines = []
        for line in open(p):
            a = json.loads(line)
            if "remove" in a:
                a["remove"]["deletionTimestamp"] = 1_000_000_000  # 1970s
            lines.append(json.dumps(a))
        open(p, "w").write("\n".join(lines) + "\n")
    gone = vacuum_delta_export(dest, retention_hours=1.0)
    assert sorted(gone) == sorted(old_files)
    # current snapshot unaffected; source table unaffected (hard links)
    assert sorted(x["k"] for x in r.read().collect()) == list(range(20, 30))
    assert sorted(x["k"] for x in t.read(version=0).collect()) == list(range(20))


def test_table_changes_batches_scans_across_commits(spark, tmp_path):
    """CDF over many commits must NOT build per-file plan leaves: 12
    insert commits + 3 delete commits read as ~2 scans (one per change
    category), version attached via broadcast map."""
    root = str(tmp_path / "dt")
    w = DeltaLogWriter(root)
    for i in range(12):
        rel = f"f{i}.parquet"
        _write_part(os.path.join(root, rel), [i * 10, i * 10 + 1])
        w.commit(adds=[(rel, {})], schema_json=_SCHEMA if i == 0 else None)
    for i in range(3):
        w.commit(removes=[f"f{i}.parquet"])
    df = DeltaTableReader(spark, root).table_changes(0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2, plan
    got = sorted(
        (x["k"], x["_change_type"], x["_commit_version"]) for x in df.collect()
    )
    want = sorted(
        [(i * 10 + d, "insert", i) for i in range(12) for d in (0, 1)]
        + [(i * 10 + d, "delete", 12 + i) for i in range(3) for d in (0, 1)]
    )
    assert got == want


def test_timestamp_travel_prefers_in_commit_timestamps(spark, tmp_path):
    """inCommitTimestamp (modern Delta's time-travel clock) wins over
    file mtimes — a copied/rsynced table (mtimes reset to 'now') still
    time-travels correctly."""
    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1])
    _write_part(f"{root}/b.parquet", [2])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)
    w.commit(adds=[("b.parquet", {})])
    log = os.path.join(root, "_delta_log")
    # rewrite commitInfo with explicit in-commit timestamps (ms), then
    # sabotage the mtimes the classic rule would use
    for v, ict in ((0, 1_000_000_000), (1, 2_000_000_000)):
        p = os.path.join(log, f"{v:020d}.json")
        lines = []
        for line in open(p):
            a = json.loads(line)
            if "commitInfo" in a:
                a["commitInfo"]["inCommitTimestamp"] = ict * 1000
            lines.append(json.dumps(a))
        open(p, "w").write("\n".join(lines) + "\n")
        os.utime(p, (5, 5))  # mtime says 1970 — must be ignored
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read(timestamp=1_500_000_000).collect()) == [1]
    assert sorted(x["k"] for x in r.read(timestamp=2_500_000_000).collect()) == [1, 2]
    with pytest.raises(ValueError, match="no Delta commit"):
        r.read(timestamp=500_000_000)


def test_txn_actions_round_trip(spark, tmp_path):
    """SetTransaction (txnAppId/txnVersion): the writer records it, the
    reader surfaces the newest version per app — the idempotent-streaming
    handshake."""
    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1])
    _write_part(f"{root}/b.parquet", [2])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA, txn=("job-x", 3))
    w.commit(adds=[("b.parquet", {})], txn=("job-x", 7))
    r = DeltaTableReader(spark, root)
    assert r.last_txn_version("job-x") == 7
    assert r.last_txn_version("job-y") is None


def test_export_preserve_dv_mode(spark, tmp_path):
    """dv_mode='preserve': covered files hard-link and carry REAL roaring
    sidecars (no rewrite at all — O(deleted rows) export); the reader
    applies them; the source is untouched; flipping modes re-exports only
    the covered files."""
    t = VintageTable(spark, str(tmp_path / "vt"))
    t.write(
        spark.range(30).select(F.col("id").alias("k"), (F.col("id") % 3).alias("g")),
        num_files=3,
        cluster_by=["g"],
    )
    t.delete("k IN (0, 3)", mode="dv")  # g=0 rows only: 1 covered file of 3
    v_src = t.latest_version()
    dest = str(tmp_path / "d")
    export_vintage_to_delta(t, dest, dv_mode="preserve")
    assert t.latest_version() == v_src  # source untouched
    r = DeltaTableReader(spark, dest)
    snap = r.snapshot()
    assert snap.dvs, "expected deletionVector descriptors in the export"
    got = sorted(x["k"] for x in r.read().collect())
    assert got == [k for k in range(30) if k not in (0, 3)]
    # the emitted log declares the DV reader feature (protocol 3,7)
    raw = open(os.path.join(dest, "_delta_log", f"{0:020d}.json")).read()
    assert '"deletionVectors"' in raw
    # growing the DV and re-syncing advances the export
    t.delete("k = 6", mode="dv")  # still g=0: same covered file grows
    v1 = export_vintage_to_delta(t, dest, dv_mode="preserve")
    assert v1 == 1
    got = sorted(x["k"] for x in r.read().collect())
    assert got == [k for k in range(30) if k not in (0, 3, 6)]
    # re-export in rewrite mode: only covered files change names
    before = set(r.snapshot().files)
    v2 = export_vintage_to_delta(t, dest, dv_mode="rewrite")
    after_snap = r.snapshot()
    assert v2 == 2 and not after_snap.dvs  # rewritten: descriptors gone
    assert before & set(after_snap.files), "uncovered files must keep their names"
    got = sorted(x["k"] for x in r.read().collect())
    assert got == [k for k in range(30) if k not in (0, 3, 6)]


# ------------------------------------------------ round-6 review regressions


def test_encodable_file_names_dv_and_partitions(spark, tmp_path):
    """Files whose names need URI escaping (space/#/+/%) must still hit
    the DV anti-join and the partition/provenance maps —
    _metadata.file_path reports them percent-encoded, the log stores them
    decoded, and a key mismatch would silently resurrect deleted rows."""
    from sdlt_spark.store.delta_dv import write_dv_file

    root = str(tmp_path / "dt")
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                {"name": "r", "type": "integer", "nullable": True, "metadata": {}},
            ],
        }
    )
    rels = ["r=0/part with space#1.parquet", "r=1/plus+pct%25.parquet"]
    _write_part(os.path.join(root, rels[0]), [1, 2, 3])
    _write_part(os.path.join(root, rels[1]), [4, 5])
    w = DeltaLogWriter(root)
    w.commit(
        adds=[(rels[0], {"r": "0"}), (rels[1], {"r": "1"})],
        schema_json=schema,
        partition_columns=["r"],
    )
    dv = write_dv_file(root, [0], "00000000-0000-4000-8000-0000000000ee")
    w.commit(adds=[(rels[0], {"r": "0"})], dvs={rels[0]: dv})  # delete k=1
    r = DeltaTableReader(spark, root)
    got = sorted((x["k"], x["r"]) for x in r.read().collect())
    assert got == [(2, 0), (3, 0), (4, 1), (5, 1)]  # k=1 gone, r attached
    # CDF provenance maps must match the encoded scan paths too
    chg = sorted(
        (x["k"], x["_change_type"], x["_commit_version"], x["r"])
        for x in r.table_changes(0).collect()
    )
    assert (1, "delete", 1, 0) in chg and (4, "insert", 0, 1) in chg
    assert all(x[3] is not None for x in chg)


def test_cdf_cdc_files_attach_partition_values(spark, tmp_path):
    """cdc parquet files do NOT carry partition columns (they partition
    like data files); the CDF reader must attach them from the cdc
    action's partitionValues."""
    root = str(tmp_path / "dt")
    os.makedirs(f"{root}/r=1")
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int64())}), f"{root}/r=1/a.parquet"
    )
    os.makedirs(f"{root}/_change_data/r=1", exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "k": pa.array([2], pa.int64()),
                "_change_type": pa.array(["update_postimage"], pa.string()),
            }
        ),
        f"{root}/_change_data/r=1/cdc-0.parquet",
    )
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "r", "type": "integer", "nullable": True, "metadata": {}},
            ],
        }
    )
    w = DeltaLogWriter(root)
    w.commit(
        adds=[("r=1/a.parquet", {"r": "1"})],
        schema_json=schema,
        partition_columns=["r"],
    )
    # hand-write the cdc action WITH partitionValues (as delta-spark does)
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(
            json.dumps(
                {
                    "cdc": {
                        "path": "_change_data/r%3D1/cdc-0.parquet",
                        "partitionValues": {"r": "1"},
                        "size": 1,
                        "dataChange": False,
                    }
                }
            )
            + "\n"
        )
    got = [
        (x["k"], x["r"], x["_change_type"])
        for x in DeltaTableReader(spark, root).table_changes(1).collect()
    ]
    assert got == [(2, 1, "update_postimage")]


def test_checkpoint_preserves_dv_protocol(spark, tmp_path):
    """A checkpoint of a DV-bearing table must re-emit protocol (3,7) —
    defaulting to (1,2) after log cleanup would let a legacy reader pass
    the gate and resurrect deleted rows."""
    from sdlt_spark.store.delta_dv import write_dv_file

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2, 3])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)
    dv = write_dv_file(root, [0], "00000000-0000-4000-8000-0000000000ff")
    w.commit(adds=[("a.parquet", {})], dvs={"a.parquet": dv})
    w.write_checkpoint()
    log = os.path.join(root, "_delta_log")
    ck = pq.read_table(os.path.join(log, f"{1:020d}.checkpoint.parquet"))
    protos = [p for p in ck.column("protocol").to_pylist() if p]
    assert protos and protos[0]["minReaderVersion"] == 3
    assert "deletionVectors" in (protos[0]["readerFeatures"] or [])
    # log cleanup: replay from the checkpoint alone still applies the DV
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read().collect()) == [2, 3]
    assert r.snapshot().protocol["minReaderVersion"] == 3


def test_replace_where_dv_validation_failure_leaks_nothing(spark, tmp_path):
    """replace_where on a DV-bearing table: a validation failure must not
    leave the staged incoming files behind as unreferenced parquet (the
    nested materialize resets the op-file tracker, so staging order
    matters)."""
    t = VintageTable(spark, str(tmp_path / "t"))
    t.write(spark.range(10).select(F.col("id").alias("k"),
                                   (F.col("id") % 2).alias("g")))
    t.delete("k = 0", mode="dv")
    bad = spark.createDataFrame([(99, 1)], "k long, g long")
    with pytest.raises(ValueError, match="do not satisfy"):
        t.write(bad, mode="overwrite", replace_where="g = 0")
    # every parquet on disk must be referenced by SOME version (tombstones
    # of the DV-materialize commit legitimately remain for time travel;
    # the STAGED incoming files of the failed replace must not)
    referenced = set()
    for v in range(t.latest_version() + 1):
        referenced |= {os.path.basename(f) for f in t._live_files(version=v)}
    on_disk = set()
    for dirpath, _, files in os.walk(os.path.join(str(tmp_path / "t"), "data")):
        for f in files:
            if f.endswith(".parquet"):
                on_disk.add(f)
    assert on_disk <= referenced, f"leaked staged files: {sorted(on_disk - referenced)}"


def test_import_delta_to_vintage_zero_copy_with_dvs(spark, tmp_path):
    """Inbound bridge: a DV-bearing Delta table imports into a
    VintageTable with zero data copied — DVs translate to (file, pos)
    sidecars, stats carry over, the source stays untouched, and vintage
    mutations work on the import."""
    from sdlt_spark.store.delta_dv import write_dv_file
    from sdlt_spark.store.delta_read import import_delta_to_vintage

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2, 3, 4])
    _write_part(f"{root}/b.parquet", [5, 6])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {}), ("b.parquet", {})], schema_json=_SCHEMA)
    dv = write_dv_file(root, [1], "00000000-0000-4000-8000-0000000000cc")
    w.commit(adds=[("a.parquet", {})], dvs={"a.parquet": dv})  # delete k=2

    t = import_delta_to_vintage(spark, root, str(tmp_path / "vt"))
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3, 4, 5, 6]
    # zero-copy: no parquet under the vintage dir except the DV sidecar
    data_files = []
    for dirpath, _, files in os.walk(str(tmp_path / "vt")):
        for f in files:
            if f.endswith(".parquet") and "/dv/" not in dirpath + "/":
                data_files.append(f)
    assert data_files == []
    # stats carried over -> file skipping works immediately (the DV
    # sidecar also appears in inputFiles — it is part of the anti-join)
    pruned = t.read_where("k", 5, 6)
    data_inputs = {
        os.path.basename(p) for p in pruned.inputFiles() if "/dv/" not in p
    }
    assert data_inputs == {"b.parquet"}
    # mutations are copy-on-write in the IMPORT's directory; source intact
    t.delete("k = 5")
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3, 4, 6]
    r2 = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r2.read().collect()) == [1, 3, 4, 5, 6]


_PART_SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            {"name": "r", "type": "integer", "nullable": True, "metadata": {}},
        ],
    }
)


def test_import_partitioned_delta_zero_copy(spark, tmp_path):
    """A PARTITIONED Delta table imports zero-copy: partition values carry
    into the vintage per-file sidecar (raw files untouched — verified by
    inode), reads re-attach the typed column, read_where prunes on it,
    mutations materialize it copy-on-write, and a clone keeps it."""
    from sdlt_spark.store.delta_read import import_delta_to_vintage

    root = str(tmp_path / "dt")
    _write_part(f"{root}/r=0/a.parquet", [1, 2])
    _write_part(f"{root}/r=1/b.parquet", [3])
    _write_part(f"{root}/rn/c.parquet", [4])  # NULL partition value
    w = DeltaLogWriter(root)
    w.commit(
        adds=[
            ("r=0/a.parquet", {"r": "0"}),
            ("r=1/b.parquet", {"r": "1"}),
            ("rn/c.parquet", {"r": None}),
        ],
        schema_json=_PART_SCHEMA,
        partition_columns=["r"],
    )
    inode_before = os.stat(f"{root}/r=0/a.parquet").st_ino
    t = import_delta_to_vintage(spark, root, str(tmp_path / "vt"))
    got = sorted(
        (x["k"], x["r"]) for x in t.read().collect()
    )
    assert got == [(1, 0), (2, 0), (3, 1), (4, None)]
    # typed column (integer, not the log's string)
    assert dict(t.read().dtypes)["r"] == "int"
    # declared column order presented
    assert t.read().columns == ["k", "v", "r"]
    # zero data files rewritten (by inode) and none copied into the import
    assert os.stat(f"{root}/r=0/a.parquet").st_ino == inode_before
    assert not [
        f
        for _, _, fs in os.walk(str(tmp_path / "vt"))
        for f in fs
        if f.endswith(".parquet")
    ]
    # partition values merged into zone maps -> pruning works immediately
    # (the NULL-valued file has no zone for r, so the over-approximating
    # pruner keeps it — correctness over tightness; the row filter drops it)
    pruned = t.read_where("r", 1, 1)
    assert sorted(x["k"] for x in pruned.collect()) == [3]
    assert "a.parquet" not in {os.path.basename(p) for p in pruned.inputFiles()}
    # a copy-on-write mutation materializes the column into rewritten files
    t.update("k = 3", {"v": "'updated'"})
    got = sorted((x["k"], x["r"], x["v"]) for x in t.read().collect())
    assert got == [(1, 0, "v1"), (2, 0, "v2"), (3, 1, "updated"), (4, None, "v4")]
    # a clone of the import carries the sidecar
    c = t.clone(str(tmp_path / "ct"))
    assert sorted((x["k"], x["r"]) for x in c.read().collect()) == [
        (1, 0),
        (2, 0),
        (3, 1),
        (4, None),
    ]
    # after the mutation the table is PARTIALLY materialized (one rewritten
    # file carries r inline, the rest only in the sidecar): the export
    # rewrite-splits the materialized file by partition value and the
    # round trip stays partitioned — NULL partition value included
    dest = str(tmp_path / "exp")
    export_vintage_to_delta(t, dest)
    r = DeltaTableReader(spark, dest)
    snap = r.snapshot()
    assert snap.partition_columns == ["r"]
    got = sorted(
        (x["k"], x["r"], x["v"]) for x in r.read().collect()
    )
    assert got == [(1, 0, "v1"), (2, 0, "v2"), (3, 1, "updated"), (4, None, "v4")]


@pytest.mark.parametrize("mode", ["copy_on_write", "dv"])
def test_import_partitioned_delta_update_with_change_feed(spark, tmp_path, mode):
    """An update of a partitioned import with the change feed on: the
    rewritten rows carry the re-attached partition column, and the change
    feed records the old and new rows of exactly the updated key."""
    from sdlt_spark.store.delta_read import import_delta_to_vintage

    root = str(tmp_path / "dt")
    _write_part(f"{root}/r=0/a.parquet", [1, 2])
    _write_part(f"{root}/r=1/b.parquet", [3])
    w = DeltaLogWriter(root)
    w.commit(
        adds=[("r=0/a.parquet", {"r": "0"}), ("r=1/b.parquet", {"r": "1"})],
        schema_json=_PART_SCHEMA,
        partition_columns=["r"],
    )
    import_delta_to_vintage(spark, root, str(tmp_path / "vt"))
    t = VintageTable(spark, str(tmp_path / "vt"), change_feed=True)
    v = t.update("k = 2", {"v": "'updated'"}, mode=mode)
    got = sorted((x["k"], x["r"], x["v"]) for x in t.read().collect())
    assert got == [(1, 0, "v1"), (2, 0, "updated"), (3, 1, "v3")]
    changes = sorted(
        (x["_change_type"], x["k"], x["r"], x["v"])
        for x in t.table_changes(v, v).collect()
    )
    assert changes == [("delete", 2, 0, "v2"), ("insert", 2, 0, "updated")]


def test_import_still_refuses_column_mapped(spark, tmp_path):
    from sdlt_spark.store.delta_read import import_delta_to_vintage

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1])
    os.makedirs(os.path.join(root, "_delta_log"), exist_ok=True)
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [_field("k", "long", 1, "col-p1"), _field("v", "string", 2, "col-p2")],
        }
    )
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(
            json.dumps({"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}})
            + "\n"
        )
        f.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "x",
                        "schemaString": schema,
                        "partitionColumns": [],
                        "configuration": {"delta.columnMapping.mode": "name"},
                    }
                }
            )
            + "\n"
        )
    with pytest.raises(DeltaProtocolError, match="column-mapped"):
        import_delta_to_vintage(spark, root, str(tmp_path / "vt"))


def test_roaring_codec_property_round_trip():
    """Property: any position set round-trips through the portable
    RoaringBitmapArray serialization and the framed DV file layout."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sdlt_spark.store.delta_dv import (
        deserialize_rbm_array,
        serialize_rbm_array,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        st.sets(
            st.one_of(
                st.integers(min_value=0, max_value=1 << 20),
                # straddle container and high-key boundaries
                st.integers(min_value=0xFFF0, max_value=0x1_0010),
                st.integers(min_value=(1 << 32) - 16, max_value=(1 << 32) + 16),
            ),
            max_size=300,
        )
    )
    def check(positions):
        want = sorted(positions)
        assert deserialize_rbm_array(serialize_rbm_array(want)) == want

    check()


def test_delta_cdc_stream_rate_limit_unit(spark, tmp_path):
    """delta_cdc maxCommitsPerTrigger: capped from the floor on fresh
    queries, down-synced from the offset log on restart (same discipline
    as the vintage source, same verified call order)."""
    from pyspark.sql.types import StructType

    from sdlt_spark.streaming.delta_source import DeltaStreamReader

    root = str(tmp_path / "dt")
    w = DeltaLogWriter(root)
    for i in range(8):
        rel = f"f{i}.parquet"
        _write_part(os.path.join(root, rel), [i])
        w.commit(adds=[(rel, {})], schema_json=_SCHEMA if i == 0 else None)
    r = DeltaStreamReader(
        StructType([]),
        {"path": root, "startingversion": "0", "maxcommitspertrigger": "3"},
    )
    assert r.initialOffset() == {"version": -1}
    assert r.latestOffset() == {"version": 2}
    assert r.latestOffset() == {"version": 5}
    # restart behind a backlog: the replayed batch down-syncs the counter
    r2 = DeltaStreamReader(StructType([]), {"path": root, "maxcommitspertrigger": "3"})
    list(r2.partitions({"version": 1}, {"version": 1}))
    assert r2.latestOffset() == {"version": 4}


def test_import_with_encodable_file_names_applies_dvs(spark, tmp_path):
    """Imported Delta files with URI-escapable names (spaces etc.) must
    still hit the vintage DV anti-join — _rel_path_col decodes the scan's
    reported path the same way the delta reader does."""
    from sdlt_spark.store.delta_dv import write_dv_file
    from sdlt_spark.store.delta_read import import_delta_to_vintage

    root = str(tmp_path / "dt")
    rel = "part with space#1.parquet"
    _write_part(os.path.join(root, rel), [1, 2, 3])
    w = DeltaLogWriter(root)
    w.commit(adds=[(rel, {})], schema_json=_SCHEMA)
    dv = write_dv_file(root, [0], "00000000-0000-4000-8000-0000000000dd")
    w.commit(adds=[(rel, {})], dvs={rel: dv})  # delete k=1
    t = import_delta_to_vintage(spark, root, str(tmp_path / "vt"))
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3]
    # and a vintage-side DV delete on the imported file also keys right
    t.delete("k = 2", mode="dv")
    assert sorted(r["k"] for r in t.read().collect()) == [3]
    # copy-on-write mutations resolve the file via the DRIVER-side _rel
    # twin: an undecoded path would try to read a nonexistent
    # 'part%20with...' and crash (or rewrite the wrong file)
    t.update("k = 3", {"k": "30"})
    assert sorted(r["k"] for r in t.read().collect()) == [30]


def test_import_carries_check_constraints(spark, tmp_path):
    """delta.constraints.* in the source's configuration become vintage
    CHECK constraints on the import — a write violating the source's
    invariant must fail, not silently land."""
    from sdlt_spark.store.delta_read import import_delta_to_vintage
    from sdlt_spark.store.vintage import ConstraintViolationError

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2])
    os.makedirs(os.path.join(root, "_delta_log"), exist_ok=True)
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}}) + "\n")
        f.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "x",
                        "schemaString": _SCHEMA,
                        "partitionColumns": [],
                        "configuration": {"delta.constraints.positive_k": "k > 0"},
                    }
                }
            )
            + "\n"
        )
        f.write(
            json.dumps(
                {
                    "add": {
                        "path": "a.parquet",
                        "partitionValues": {},
                        "size": 1,
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
    t = import_delta_to_vintage(spark, root, str(tmp_path / "vt"))
    assert t.constraints() == {"positive_k": "k > 0"}
    with pytest.raises(ConstraintViolationError):
        t.write(
            spark.createDataFrame([(-5, "bad")], "k long, v string"),
            mode="append",
        )
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


# --------------------------------------------------------- round 7: (path, dvId)


def _raw_commit(root: str, version: int, lines: list[str]) -> None:
    os.makedirs(os.path.join(root, "_delta_log"), exist_ok=True)
    with open(os.path.join(root, "_delta_log", f"{version:020d}.json"), "w") as f:
        f.write("\n".join(lines) + "\n")


def _rm_action(rel: str, desc: dict | None = None) -> str:
    rm: dict = {"path": rel, "deletionTimestamp": 1, "dataChange": True}
    if desc is not None:
        rm["deletionVector"] = desc
        rm["extendedFileMetadata"] = True
        rm["partitionValues"] = {}
    return json.dumps({"remove": rm})


def test_dv_delete_commit_shape_both_orders(spark, tmp_path):
    """Real delta-spark DELETE-with-DV commits pair remove(path, oldDV)
    with add(path, newDV) for the SAME path in one commit — Delta keys
    logical files on (path, dv uniqueId), so the pair must fold to
    (path, newDV) whichever action is written first, and CDF must derive
    it as a DV diff (exact new deletes), never as drop/insert+delete."""
    from sdlt_spark.store.delta_dv import write_dv_file

    for order in ("remove_first", "add_first"):
        root = str(tmp_path / f"dt_{order}")
        _write_part(f"{root}/a.parquet", [10, 11, 12, 13])
        w = DeltaLogWriter(root)
        w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)  # v0
        d1 = write_dv_file(root, [0], "00000000-0000-4000-8000-0000000000a1")
        # v1: first DELETE — remove(path, no DV) + add(path, d1)
        lines = [_rm_action("a.parquet"), _dv_add_action("a.parquet", d1)]
        _raw_commit(root, 1, lines if order == "remove_first" else lines[::-1])
        d2 = write_dv_file(root, [0, 2], "00000000-0000-4000-8000-0000000000a2")
        # v2: second DELETE — remove(path, d1) + add(path, d2)
        lines = [_rm_action("a.parquet", d1), _dv_add_action("a.parquet", d2)]
        _raw_commit(root, 2, lines if order == "remove_first" else lines[::-1])
        r = DeltaTableReader(spark, root)
        assert sorted(x["k"] for x in r.read().collect()) == [11, 13]
        assert sorted(x["k"] for x in r.read(version=1).collect()) == [11, 12, 13]
        got = sorted(
            (x["k"], x["_change_type"], x["_commit_version"])
            for x in r.table_changes(1).collect()
        )
        assert got == [(10, "delete", 1), (12, "delete", 2)]


def test_remove_with_stale_dv_id_is_noop(spark, tmp_path):
    """A remove naming a dvId that is not the live logical file's (stale
    writer, or the old half of an already-applied update) must not cancel
    the live add — delta-spark's InMemoryLogReplay keys on (path, dvId)."""
    from sdlt_spark.store.delta_dv import write_dv_file

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2, 3])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)  # v0
    d1 = write_dv_file(root, [0], "00000000-0000-4000-8000-0000000000b1")
    d2 = write_dv_file(root, [0, 1], "00000000-0000-4000-8000-0000000000b2")
    _raw_commit(root, 1, [_rm_action("a.parquet"), _dv_add_action("a.parquet", d2)])
    # v2: stale remove naming d1 (never the live DV) — and a remove with
    # NO dv on a DV-bearing file — both no-ops for the live state
    _raw_commit(root, 2, [_rm_action("a.parquet", d1)])
    _raw_commit(root, 3, [_rm_action("a.parquet")])
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read().collect()) == [3]
    # CDF over the no-op commits emits nothing
    assert r.table_changes(2, 3).count() == 0


def test_checkpoint_carries_txn_and_tombstones(spark, tmp_path):
    """PROTOCOL.md: checkpoints must contain all setTransaction actions
    and unexpired remove tombstones. After pre-checkpoint JSON cleanup,
    last_txn_version still honors the idempotence contract and vacuum
    still ages tombstoned files from their deletionTimestamp."""
    from sdlt_spark.store.delta_write import vacuum_delta_export

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1])
    _write_part(f"{root}/b.parquet", [2])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA, txn=("app-x", 7))  # v0
    w.commit(adds=[("b.parquet", {})], removes=["a.parquet"], txn=("app-x", 9))  # v1
    w.write_checkpoint(1)
    # clean up every JSON commit (the reader explicitly supports this)
    for f in os.listdir(os.path.join(root, "_delta_log")):
        if f.endswith(".json") and f[:-5].isdigit():
            os.remove(os.path.join(root, "_delta_log", f))
    r = DeltaTableReader(spark, root)
    assert r.last_txn_version("app-x") == 9  # carried by the checkpoint
    assert r.last_txn_version("app-y") is None
    snap = r.snapshot()
    assert ("a.parquet", None) in snap.tombstones  # tombstone carried
    # vacuum inside the retention window: the tombstoned file survives
    # (its deletionTimestamp is recent) even though its mtime could be old
    deleted = vacuum_delta_export(root, retention_hours=168.0)
    assert deleted == []
    assert os.path.exists(f"{root}/a.parquet")
    # outside the window it goes
    deleted = vacuum_delta_export(root, retention_hours=0.0)
    assert deleted == ["a.parquet"]
    assert sorted(x["k"] for x in r.read().collect()) == [2]


def test_timestamp_travel_after_log_cleanup(spark, tmp_path):
    """timestampAsOf on a log whose every JSON commit was vacuumed to a
    checkpoint resolves via the checkpoint (mtime fallback), mirroring
    latest_version()."""
    import time as _t

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)
    w.write_checkpoint(0)
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    r = DeltaTableReader(spark, root)
    got = r.read(timestamp=_t.time() + 60).collect()
    assert sorted(x["k"] for x in got) == [1]
    with pytest.raises(ValueError, match="no Delta commit"):
        r.read(timestamp=0.0)


def test_export_preserve_sync_remove_carries_dv(spark, tmp_path):
    """Sync-removing a preserve-mode exported file must emit its
    deletionVector on the remove action — spec readers reconcile on
    (path, dvId); a bare remove would leave the stale add live."""
    t = VintageTable(spark, str(tmp_path / "vt"))
    t.write(spark.range(8).selectExpr("id AS k", "CAST(id AS STRING) AS v"))
    t.delete("k = 3", mode="dv")
    dest = str(tmp_path / "exp")
    export_vintage_to_delta(t, dest, dv_mode="preserve")
    r = DeltaTableReader(spark, dest)
    snap0 = r.snapshot()
    (dv_rel,) = [rel for rel in snap0.dvs]
    old_desc = snap0.dvs[dv_rel]
    # delete every remaining row of the table: the sync removes all files
    t.delete("k >= 0")
    export_vintage_to_delta(t, dest, dv_mode="preserve")
    assert r.read().count() == 0
    # the raw remove action for the DV-bearing file names its descriptor
    found = None
    with open(os.path.join(dest, "_delta_log", f"{1:020d}.json")) as f:
        for line in f:
            a = json.loads(line.strip() or "{}")
            rm = a.get("remove")
            if rm and rm["path"] == dv_rel:
                found = rm
    assert found is not None and found.get("deletionVector") == old_desc
    # no staging leftovers in the export directory
    assert not [d for d in os.listdir(dest) if d.startswith(".staging-")]


# ------------------------------------------------------- round 7: V2 checkpoints


def test_v2_checkpoint_round_trip_with_log_cleanup(spark, tmp_path):
    """V2 (UUID-named + sidecar) checkpoints — the default modern-table
    shape: written via write_checkpoint(v2=True), replayed after every
    JSON commit before it is cleaned, carrying DVs, txns and tombstones;
    versioned time travel through it still works."""
    from sdlt_spark.store.delta_dv import write_dv_file
    from sdlt_spark.store.delta_write import vacuum_delta_export

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2, 3])
    _write_part(f"{root}/b.parquet", [4, 5])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA, txn=("app-v2", 3))
    w.commit(adds=[("b.parquet", {})])                       # v1
    d1 = write_dv_file(root, [0], "00000000-0000-4000-8000-0000000000c1")
    w.commit(adds=[("a.parquet", {})], dvs={"a.parquet": d1})  # v2: del k=1
    w.write_checkpoint(2, v2=True)
    # the manifest is UUID-named; its adds live in _sidecars/
    names = os.listdir(os.path.join(root, "_delta_log"))
    assert any(
        n.startswith(f"{2:020d}.checkpoint.") and n.count(".") == 3 for n in names
    )
    assert os.listdir(os.path.join(root, "_delta_log", "_sidecars"))
    for f in names:
        if f.endswith(".json") and f[:-5].isdigit():
            os.remove(os.path.join(root, "_delta_log", f))
    _write_part(f"{root}/c.parquet", [9])
    w.commit(adds=[("c.parquet", {})])                       # v3 (after cleanup)
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read().collect()) == [2, 3, 4, 5, 9]
    assert sorted(x["k"] for x in r.read(version=2).collect()) == [2, 3, 4, 5]
    assert r.last_txn_version("app-v2") == 3
    # remove a file post-checkpoint, checkpoint again in v2, vacuum honors it
    w.commit(removes=["b.parquet"])                          # v4
    w.write_checkpoint(4, v2=True)
    assert vacuum_delta_export(root, retention_hours=168.0) == []
    assert os.path.exists(f"{root}/b.parquet")


def test_v2_checkpoint_json_manifest(spark, tmp_path):
    """A hand-authored JSON v2 manifest (the spec's other allowed manifest
    format) with a parquet sidecar replays correctly."""
    root = str(tmp_path / "dt")
    log = os.path.join(root, "_delta_log")
    _write_part(f"{root}/a.parquet", [7, 8])
    os.makedirs(os.path.join(log, "_sidecars"), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "add": pa.array(
                    [
                        {
                            "path": "a.parquet",
                            "partitionValues": [],
                            "size": 1,
                            "modificationTime": 0,
                            "dataChange": False,
                        }
                    ],
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("partitionValues", pa.map_(pa.string(), pa.string())),
                            ("size", pa.int64()),
                            ("modificationTime", pa.int64()),
                            ("dataChange", pa.bool_()),
                        ]
                    ),
                )
            }
        ),
        os.path.join(log, "_sidecars", "sc-1.parquet"),
    )
    manifest = [
        {"checkpointMetadata": {"version": 0, "tags": {}}},
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            }
        },
        {
            "metaData": {
                "id": "m",
                "schemaString": _SCHEMA,
                "partitionColumns": [],
                "configuration": {},
            }
        },
        {"sidecar": {"path": "sc-1.parquet", "sizeInBytes": 1, "modificationTime": 0}},
    ]
    uid = "80a083e8-7026-4e79-81be-64bd76c43a11"
    with open(os.path.join(log, f"{0:020d}.checkpoint.{uid}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in manifest) + "\n")
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read().collect()) == [7, 8]
    assert r.latest_version() == 0


def test_v2_checkpoint_missing_sidecar_falls_back_to_classic(spark, tmp_path):
    """A V2 manifest whose _sidecars file is missing (rsync skipped the
    subdir) must not shadow a complete classic checkpoint at the same
    version — the V2 analogue of the all-parts-present multipart gate."""
    import shutil

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)
    w.write_checkpoint(0)            # classic, complete
    w.write_checkpoint(0, v2=True)   # v2 at the SAME version
    r = DeltaTableReader(spark, root)
    (v2_name,) = [
        f
        for f in os.listdir(os.path.join(root, "_delta_log"))
        if ".checkpoint." in f and f.count(".") == 3
    ]
    assert r._checkpoint_files()[0] == [v2_name]  # v2 wins while usable
    shutil.rmtree(os.path.join(root, "_delta_log", "_sidecars"))
    assert r._checkpoint_files()[0] == [f"{0:020d}.checkpoint.parquet"]
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    assert sorted(x["k"] for x in r.read().collect()) == [1, 2]


def test_vacuum_skips_nested_staging_dirs(spark, tmp_path):
    """Staged files live in NESTED subdirs of .staging-* (link/,
    rewrite/__tok=...); the orphan sweep must skip them however deep —
    an in-flight sync's hard links inherit ancient source mtimes and a
    basename-only check would delete them mid-export."""
    from sdlt_spark.store.delta_write import vacuum_delta_export

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)
    staged = os.path.join(root, ".staging-abc", "link")
    os.makedirs(staged)
    _write_part(os.path.join(staged, "in-flight.parquet"), [9])
    os.utime(os.path.join(staged, "in-flight.parquet"), (0, 0))  # ancient
    deleted = vacuum_delta_export(root, retention_hours=0.0)
    assert deleted == []
    assert os.path.exists(os.path.join(staged, "in-flight.parquet"))


def test_export_carries_check_constraints(spark, tmp_path):
    """The inverse of import's constraint carry: vintage CHECK constraints
    publish as delta.constraints.* in the export's metaData (with
    minWriterVersion >= 3, the writer feature gating them), a later
    add_constraint re-emits metaData on sync, and a round-trip import
    enforces them again."""
    from sdlt_spark.store.delta_read import import_delta_to_vintage
    from sdlt_spark.store.vintage import ConstraintViolationError
    import pytest as _pytest

    t = VintageTable(spark, str(tmp_path / "vt"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.add_constraint("positive_k", "k > 0")
    dest = str(tmp_path / "exp")
    export_vintage_to_delta(t, dest)
    snap = DeltaTableReader(spark, dest).snapshot()
    assert snap.metadata["configuration"]["delta.constraints.positive_k"] == "k > 0"
    assert snap.protocol.get("minWriterVersion", 0) >= 3
    # constraint added AFTER the first export: the sync re-emits metaData
    # even though the schema is unchanged
    t.add_constraint("v_nonempty", "length(v) > 0")
    export_vintage_to_delta(t, dest)
    snap2 = DeltaTableReader(spark, dest).snapshot()
    assert (
        snap2.metadata["configuration"]["delta.constraints.v_nonempty"]
        == "length(v) > 0"
    )
    # round trip: the import enforces the exported constraints
    t2 = import_delta_to_vintage(spark, dest, str(tmp_path / "vt2"))
    with _pytest.raises(ConstraintViolationError):
        t2.write(
            spark.createDataFrame([(-1, "x")], "k long, v string"), mode="append"
        )


def test_optimize_delta_export_bin_packs(spark, tmp_path):
    """OPTIMIZE on a written Delta table: small live files bin-pack into
    ~target-size rewrites committed dataChange=false — content identical,
    file count down, CDC silent, DV-bearing files untouched."""
    from sdlt_spark.store.delta_dv import write_dv_file
    from sdlt_spark.store.delta_write import optimize_delta_export

    root = str(tmp_path / "dt")
    w = DeltaLogWriter(root)
    for i in range(6):
        rel = f"data/f{i}.parquet"
        _write_part(os.path.join(root, rel), [i * 10, i * 10 + 1])
        w.commit(adds=[(rel, {})], schema_json=_SCHEMA if i == 0 else None)
    # one DV-bearing file: must be left alone
    _write_part(f"{root}/data/dvf.parquet", [99, 100])
    d = write_dv_file(root, [0], "00000000-0000-4000-8000-0000000000e1")
    w.commit(adds=[("data/dvf.parquet", {})], dvs={"data/dvf.parquet": d})
    r = DeltaTableReader(spark, root)
    before = sorted(x["k"] for x in r.read().collect())
    n_before = len(r.snapshot().files)

    produced = optimize_delta_export(root, spark, target_file_bytes=10 << 20)
    assert len(produced) == 1  # six tiny files -> one bin
    snap = r.snapshot()
    assert len(snap.files) == 2  # the bin + the untouched DV file
    assert "data/dvf.parquet" in snap.files and "data/dvf.parquet" in snap.dvs
    assert sorted(x["k"] for x in r.read().collect()) == before
    assert n_before == 7
    # dataChange=false: the OPTIMIZE commit is CDC-silent
    v = r.latest_version()
    assert r.table_changes(v, v).count() == 0
    # idempotent-ish: nothing left to pack (one bin member is < 2 files)
    assert optimize_delta_export(root, spark, target_file_bytes=10 << 20) == []


def test_optimize_delta_export_respects_target(spark, tmp_path):
    """Files already at/above target are untouched; bins respect the
    byte budget (two bins when the small files exceed one target)."""
    from sdlt_spark.store.delta_write import optimize_delta_export

    root = str(tmp_path / "dt")
    w = DeltaLogWriter(root)
    for i in range(4):
        rel = f"data/f{i}.parquet"
        _write_part(os.path.join(root, rel), list(range(i * 100, i * 100 + 50)))
        w.commit(adds=[(rel, {})], schema_json=_SCHEMA if i == 0 else None)
    sizes = [
        os.path.getsize(os.path.join(root, f"data/f{i}.parquet")) for i in range(4)
    ]
    # target fits exactly two files per bin -> two bins of two
    target = max(sizes) * 2 + 64
    produced = optimize_delta_export(root, spark, target_file_bytes=target)
    assert len(produced) == 2
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read().collect()) == sorted(
        k for i in range(4) for k in range(i * 100, i * 100 + 50)
    )


def test_partitioned_import_round_trips_to_partitioned_export(spark, tmp_path):
    """Delta -> vintage -> Delta round trip of a PARTITIONED table, fully
    zero-copy: the sidecar's per-file constants become the re-export's
    partitionValues (same inode end to end), partitionColumns land in
    metaData, and the independent reader sees the typed column."""
    from sdlt_spark.store.delta_read import import_delta_to_vintage

    root = str(tmp_path / "src")
    _write_part(f"{root}/r=0/a.parquet", [1, 2])
    _write_part(f"{root}/r=1/b.parquet", [3])
    w = DeltaLogWriter(root)
    w.commit(
        adds=[("r=0/a.parquet", {"r": "0"}), ("r=1/b.parquet", {"r": "1"})],
        schema_json=_PART_SCHEMA,
        partition_columns=["r"],
    )
    t = import_delta_to_vintage(spark, root, str(tmp_path / "vt"))
    dest = str(tmp_path / "exp")
    export_vintage_to_delta(t, dest)
    r = DeltaTableReader(spark, dest)
    snap = r.snapshot()
    assert snap.partition_columns == ["r"]
    got = sorted((x["k"], x["r"]) for x in r.read().collect())
    assert got == [(1, 0), (2, 0), (3, 1)]
    # zero-copy throughout: every exported file shares the SOURCE inode
    src_inodes = {
        os.stat(f"{root}/r=0/a.parquet").st_ino,
        os.stat(f"{root}/r=1/b.parquet").st_ino,
    }
    exp_inodes = {
        os.stat(os.path.join(dest, rel)).st_ino for rel in snap.files
    }
    assert exp_inodes == src_inodes
    # a mutation materializes the column into the rewritten file; the
    # export rewrite-splits it: the add carries partitionValues, the
    # split data file does NOT contain the partition column, and the
    # untouched file still round-trips zero-copy (same inode)
    t.update("k = 3", {"v": "'x'"})
    dest2 = str(tmp_path / "exp2")
    export_vintage_to_delta(t, dest2)
    r2 = DeltaTableReader(spark, dest2)
    snap2 = r2.snapshot()
    assert snap2.partition_columns == ["r"]
    got2 = sorted((x["k"], x["r"], x["v"]) for x in r2.read().collect())
    assert got2 == [(1, 0, "v1"), (2, 0, "v2"), (3, 1, "x")]
    pv_by_rel = dict(snap2.files)  # add path -> partitionValues
    split_rels = [rel for rel in snap2.files if pv_by_rel.get(rel) == {"r": "1"}]
    assert split_rels, "split output must carry its partition tuple"
    import pyarrow.parquet as _pq

    phys = _pq.read_schema(os.path.join(dest2, split_rels[0]))
    assert "r" not in phys.names and "k" in phys.names
    assert (
        os.stat(os.path.join(dest2, [rel for rel in snap2.files if pv_by_rel.get(rel) == {"r": "0"}][0])).st_ino
        == os.stat(f"{root}/r=0/a.parquet").st_ino
    )
    # a no-change re-sync re-derives the same content-addressed names and
    # commits nothing
    v_before = snap2.version
    export_vintage_to_delta(t, dest2)
    assert DeltaTableReader(spark, dest2).snapshot().version == v_before


def test_export_splits_multi_partition_materialized_file(spark, tmp_path):
    """A mutation whose rewrite spans SEVERAL partitions (rows from r=0
    and r=1 materialized inline, possibly in one file) still exports as a
    partitioned Delta table: the split job fans each partition tuple into
    its own data file with matching partitionValues."""
    from sdlt_spark.store.delta_read import import_delta_to_vintage

    root = str(tmp_path / "src")
    _write_part(f"{root}/r=0/a.parquet", [1, 2])
    _write_part(f"{root}/r=1/b.parquet", [3, 4])
    _write_part(f"{root}/r=2/c.parquet", [5])
    w = DeltaLogWriter(root)
    w.commit(
        adds=[
            ("r=0/a.parquet", {"r": "0"}),
            ("r=1/b.parquet", {"r": "1"}),
            ("r=2/c.parquet", {"r": "2"}),
        ],
        schema_json=_PART_SCHEMA,
        partition_columns=["r"],
    )
    t = import_delta_to_vintage(spark, root, str(tmp_path / "vt"))
    # touch BOTH r=0 and r=1 in one mutation; r=2 stays sidecar-only
    t.update("k = 1 OR k = 3", {"v": "'touched'"})
    dest = str(tmp_path / "exp")
    export_vintage_to_delta(t, dest)
    r = DeltaTableReader(spark, dest)
    snap = r.snapshot()
    assert snap.partition_columns == ["r"]
    got = sorted((x["k"], x["r"], x["v"]) for x in r.read().collect())
    assert got == [
        (1, 0, "touched"),
        (2, 0, "v2"),
        (3, 1, "touched"),
        (4, 1, "v4"),
        (5, 2, "v5"),
    ]
    # every add names exactly one partition tuple and split files keep the
    # column out of the data
    import pyarrow.parquet as _pq

    for rel, pv in snap.files.items():
        assert set(pv) == {"r"}
        assert "r" not in _pq.read_schema(os.path.join(dest, rel)).names
    # partition pruning on the export sees consistent values
    assert {pv["r"] for pv in snap.files.values()} == {"0", "1", "2"}


def test_vacuum_sweeps_orphaned_dv_sidecars(spark, tmp_path):
    """Export VACUUM reclaims .bin DV sidecars: live-DV bins survive any
    retention, tombstone-referenced bins age from the remove's
    deletionTimestamp, and only expired ones are deleted."""
    from sdlt_spark.store.delta_dv import write_dv_file
    from sdlt_spark.store.delta_write import vacuum_delta_export

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2, 3])
    _write_part(f"{root}/b.parquet", [4, 5])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {}), ("b.parquet", {})], schema_json=_SCHEMA)
    da = write_dv_file(root, [0], "00000000-0000-4000-8000-0000000000f1")
    db = write_dv_file(root, [0], "00000000-0000-4000-8000-0000000000f2")
    w.commit(adds=[("a.parquet", {})], dvs={"a.parquet": da})
    w.commit(adds=[("b.parquet", {})], dvs={"b.parquet": db})
    # remove b (naming its DV): its bin becomes tombstone-referenced
    w.commit(removes=[("b.parquet", db)])
    bins = lambda: sorted(  # noqa: E731
        f for f in os.listdir(root) if f.endswith(".bin")
    )
    assert len(bins()) == 2
    # inside the window: nothing goes (live DV + fresh tombstone)
    assert vacuum_delta_export(root, retention_hours=168.0) == []
    # zero retention: b's bin and parquet go; a's LIVE bin survives
    deleted = vacuum_delta_export(root, retention_hours=0.0)
    assert "b.parquet" in deleted
    assert any(d.endswith(".bin") for d in deleted)
    assert len(bins()) == 1
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read().collect()) == [2, 3]


def test_vacuum_zero_retention_sweeps_future_stamped_tombstone(tmp_path):
    """Regression: the strictly-monotonic inCommitTimestamp bump can stamp
    a remove's deletionTimestamp a few ms AHEAD of the wall clock
    (same-millisecond commits get prev_ict + 1). A zero-retention sweep
    run immediately after must still reclaim it — the sweep clamps aging
    timestamps to its own clock. Deterministic: the tombstone is stamped
    a full HOUR in the future by rewriting the commit JSON, no clock
    race."""
    import time as _time

    from sdlt_spark.store.delta_write import vacuum_delta_export

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2, 3])
    _write_part(f"{root}/b.parquet", [4, 5])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {}), ("b.parquet", {})], schema_json=_SCHEMA)
    w.commit(removes=["b.parquet"], operation="DELETE")
    # forge the remove's deletionTimestamp 1 h into the future — an
    # exaggerated version of the monotonic-bump-past-the-clock case
    commit1 = os.path.join(root, "_delta_log", f"{1:020d}.json")
    future_ms = int((_time.time() + 3600.0) * 1000)
    lines = []
    with open(commit1) as f:
        for line in f:
            a = json.loads(line)
            if "remove" in a:
                a["remove"]["deletionTimestamp"] = future_ms
            lines.append(json.dumps(a))
    with open(commit1, "w") as f:
        f.write("\n".join(lines) + "\n")
    # a real retention window keeps it (future stamp clamps to now, which
    # is inside 168 h)
    assert vacuum_delta_export(root, retention_hours=168.0) == []
    # zero retention sweeps it despite the future stamp
    deleted = vacuum_delta_export(root, retention_hours=0.0)
    assert deleted == ["b.parquet"]
    assert not os.path.exists(os.path.join(root, "b.parquet"))
    assert os.path.exists(os.path.join(root, "a.parquet"))


def test_restore_delta_export_rolls_back_metadata_only(spark, tmp_path):
    """RESTORE: one metadata commit re-points at the old snapshot's
    files; history preserved; restore-of-restore works; DV-bearing
    logical files restore with their descriptors; vacuumed targets
    refuse."""
    from sdlt_spark.store.delta_dv import write_dv_file
    from sdlt_spark.store.delta_write import (
        restore_delta_export,
        vacuum_delta_export,
    )

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1, 2, 3])
    _write_part(f"{root}/b.parquet", [4])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)        # v0
    d = write_dv_file(root, [0], "00000000-0000-4000-8000-0000000000aa")
    w.commit(adds=[("a.parquet", {})], dvs={"a.parquet": d},
             removes=["a.parquet"])                                 # v1: del k=1
    w.commit(adds=[("b.parquet", {})])                              # v2
    r = DeltaTableReader(spark, root)
    assert sorted(x["k"] for x in r.read().collect()) == [2, 3, 4]

    v3 = restore_delta_export(root, 0)                              # back to v0
    assert v3 == 3
    assert sorted(x["k"] for x in r.read().collect()) == [1, 2, 3]
    # the DV state restored too: v0 had no DV on a.parquet
    assert not r.snapshot().dvs
    # restore-of-restore: forward to v2's state (with its DV)
    v4 = restore_delta_export(root, 2)
    assert v4 == 4
    assert sorted(x["k"] for x in r.read().collect()) == [2, 3, 4]
    assert "a.parquet" in r.snapshot().dvs
    # metadata row-count shortcut agrees at every version
    for v in range(5):
        assert r.count(version=v) == r.read(version=v).count()
    # vacuum away b.parquet's tombstone-era... then restore refuses when
    # a target file is gone
    w.commit(removes=[("a.parquet", d)], operation="DELETE")        # v5
    vacuum_delta_export(root, retention_hours=0.0)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="vacuumed"):
        restore_delta_export(root, 4)


def test_optimize_partitioned_export_bins_within_partitions(spark, tmp_path):
    """OPTIMIZE on a partitioned table bins WITHIN each partition-values
    group (mixing would null the compacted rows' partition column) and
    the compacted adds carry their group's partitionValues."""
    from sdlt_spark.store.delta_write import optimize_delta_export

    root = str(tmp_path / "dt")
    w = DeltaLogWriter(root)
    adds = []
    for r_val in (0, 1):
        for i in range(3):
            rel = f"r={r_val}/f{i}.parquet"
            _write_part(os.path.join(root, rel), [r_val * 100 + i])
            adds.append((rel, {"r": str(r_val)}))
    w.commit(adds=adds, schema_json=_PART_SCHEMA, partition_columns=["r"])
    produced = optimize_delta_export(root, spark, target_file_bytes=10 << 20)
    assert len(produced) == 2  # one bin per partition, never mixed
    r = DeltaTableReader(spark, root)
    snap = r.snapshot()
    assert len(snap.files) == 2
    assert sorted(snap.files[rel].get("r") for rel in snap.files) == ["0", "1"]
    got = sorted((x["k"], x["r"]) for x in r.read().collect())
    assert got == [(0, 0), (1, 0), (2, 0), (100, 1), (101, 1), (102, 1)]


def test_constraint_added_on_sync_upgrades_protocol(spark, tmp_path):
    """A constraint FIRST introduced by a sync must raise the export's
    minWriterVersion to 3 — the v0 protocol said (1,2), and a stock
    writer at (1,2) would append rows without enforcing the invariant."""
    t = VintageTable(spark, str(tmp_path / "vt"))
    t.write(spark.createDataFrame([(1, "a")], "k long, v string"))
    dest = str(tmp_path / "exp")
    export_vintage_to_delta(t, dest)  # no constraints yet: (1,2)
    r = DeltaTableReader(spark, dest)
    assert r.snapshot().protocol.get("minWriterVersion", 0) == 2
    t.add_constraint("positive_k", "k > 0")
    export_vintage_to_delta(t, dest)
    snap = r.snapshot()
    assert snap.protocol.get("minWriterVersion", 0) >= 3
    assert snap.metadata["configuration"]["delta.constraints.positive_k"] == "k > 0"


def test_restore_preserves_configuration(spark, tmp_path):
    """RESTORE re-emits the TARGET version's full metadata — schema AND
    configuration; an empty config would silently strip
    delta.constraints.* from the restored table."""
    from sdlt_spark.store.delta_write import restore_delta_export

    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1])
    w = DeltaLogWriter(root)
    w.commit(
        adds=[("a.parquet", {})],
        schema_json=_SCHEMA,
        configuration={"delta.constraints.positive_k": "k > 0"},
    )
    # v1 evolves the schema and (per Delta semantics) replaces metaData,
    # dropping the constraint
    evolved = json.loads(_SCHEMA)
    evolved["fields"].append(
        {"name": "w", "type": "double", "nullable": True, "metadata": {}}
    )
    w.commit(schema_json=json.dumps(evolved))
    r = DeltaTableReader(spark, root)
    assert "delta.constraints.positive_k" not in (
        r.snapshot().metadata.get("configuration") or {}
    )
    restore_delta_export(root, 0)
    snap = r.snapshot()
    assert (
        snap.metadata["configuration"]["delta.constraints.positive_k"] == "k > 0"
    )
    assert [f.name for f in snap.schema.fields] == ["k", "v"]


def test_domain_metadata_survives_checkpoint(spark, tmp_path):
    """PROTOCOL.md: checkpoints must contain live domainMetadata actions
    (clustering state etc. for stock readers) — they survive JSON log
    cleanup in both classic and v2 layouts, and a removed domain stays
    removed."""
    root = str(tmp_path / "dt")
    _write_part(f"{root}/a.parquet", [1])
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=_SCHEMA)
    _raw_commit(
        root,
        1,
        [
            json.dumps(
                {
                    "domainMetadata": {
                        "domain": "delta.clustering",
                        "configuration": '{"clusteringColumns":["k"]}',
                        "removed": False,
                    }
                }
            ),
            json.dumps(
                {
                    "domainMetadata": {
                        "domain": "app.ephemeral",
                        "configuration": "{}",
                        "removed": False,
                    }
                }
            ),
        ],
    )
    _raw_commit(
        root,
        2,
        [
            json.dumps(
                {
                    "domainMetadata": {
                        "domain": "app.ephemeral",
                        "configuration": "{}",
                        "removed": True,
                    }
                }
            )
        ],
    )
    for v2 in (False, True):
        w.write_checkpoint(2, v2=v2)
        log = os.path.join(root, "_delta_log")
        for f in list(os.listdir(log)):
            if f.endswith(".json") and f[:-5].isdigit():
                os.remove(os.path.join(log, f))
        r = DeltaTableReader(spark, root)
        snap = r.snapshot()
        assert "delta.clustering" in snap.domains
        assert snap.domains["delta.clustering"]["configuration"] == (
            '{"clusteringColumns":["k"]}'
        )
        assert "app.ephemeral" not in snap.domains
        assert sorted(x["k"] for x in r.read().collect()) == [1]
        # author a later commit so the v2 iteration exercises replay past
        # the classic checkpoint too
        if not v2:
            _raw_commit(root, 3, [json.dumps({"commitInfo": {"timestamp": 1}})])


def test_optimize_zorder_clusters_and_purges_dvs(spark, tmp_path):
    """OPTIMIZE ZORDER BY on a written Delta table: all live files rewrite
    clustered on the Morton key, content identical, dataChange=false with
    zOrderBy recorded, DVs folded in and PURGED, and the produced files'
    log stats cover narrow disjoint k ranges (the zone-map pruning payoff
    — before, every file spanned the whole key range)."""
    import struct as _struct

    from sdlt_spark.store.delta_dv import write_dv_file
    from sdlt_spark.store.delta_write import optimize_delta_export

    root = str(tmp_path / "dt")
    w = DeltaLogWriter(root)
    # 4 files whose k values INTERLEAVE across 0..95: every file spans the
    # full range, so pre-zorder stats prune nothing
    for i in range(4):
        rel = f"data/f{i}.parquet"
        _write_part(os.path.join(root, rel), list(range(i, 96, 4)))
        w.commit(adds=[(rel, {})], schema_json=_SCHEMA if i == 0 else None)
    # one DV-bearing file: its deleted row must stay deleted, its DV purged
    _write_part(f"{root}/data/dvf.parquet", [96, 97])
    d = write_dv_file(root, [0], "00000000-0000-4000-8000-0000000000z1".replace("z", "f"))
    w.commit(adds=[("data/dvf.parquet", {})], dvs={"data/dvf.parquet": d})
    r = DeltaTableReader(spark, root)
    before = sorted(x["k"] for x in r.read().collect())
    assert 96 not in before  # DV masks it
    one_file = os.path.getsize(os.path.join(root, "data/f0.parquet"))

    produced = optimize_delta_export(
        root, spark, target_file_bytes=one_file, zorder_by=["k", "v"]
    )
    assert len(produced) >= 3  # ~total/target clustered outputs
    snap = r.snapshot()
    assert sorted(snap.files) == sorted(produced)  # full rewrite
    assert not snap.dvs  # purged
    assert sorted(x["k"] for x in r.read().collect()) == before
    # clustering payoff: each output covers a narrow slice of k-space
    spans = []
    for rel in produced:
        st = snap.stats[rel]
        spans.append((st["minValues"]["k"], st["maxValues"]["k"]))
    # Morton interleave shares bits with v, so pure-k spans are ~half the
    # range, not a 1-D sort's 1/n — but every input file spanned 92+
    assert max(hi - lo for lo, hi in spans) <= 60
    # a selective k range now overlaps few files
    touching = [1 for lo, hi in spans if lo <= 10 and hi >= 0]
    assert len(touching) < len(produced)
    # dataChange=false: CDC-silent; zOrderBy recorded in commitInfo
    v = r.latest_version()
    assert r.table_changes(v, v).count() == 0
    hist = [h for h in r.history() if h["version"] == v]
    assert hist and hist[0]["operation"] == "OPTIMIZE"


def test_optimize_zorder_partitioned_and_refusals(spark, tmp_path):
    """ZORDER respects partition-values groups (each produced add carries
    its group's partitionValues; reads through the partition column stay
    exact) and refuses partition/unknown zorder columns."""
    from sdlt_spark.store.delta_write import optimize_delta_export

    root = str(tmp_path / "dt")
    w = DeltaLogWriter(root)
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                {"name": "p", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    for p in ("a", "b"):
        for i in range(2):
            rel = f"data/p={p}/f{i}.parquet"
            _write_part(os.path.join(root, rel), list(range(i, 40, 2)))
            w.commit(
                adds=[(rel, {"p": p})],
                schema_json=schema if (p, i) == ("a", 0) else None,
                partition_columns=["p"] if (p, i) == ("a", 0) else None,
            )
    r = DeltaTableReader(spark, root)
    before = sorted((x["p"], x["k"]) for x in r.read().collect())

    produced = optimize_delta_export(
        root, spark, target_file_bytes=1 << 30, zorder_by=["k", "v"]
    )
    snap = r.snapshot()
    pvals = {snap.files[rel].get("p") for rel in produced}
    assert pvals == {"a", "b"}  # one group per partition, never mixed
    assert sorted((x["p"], x["k"]) for x in r.read().collect()) == before
    # partition pruning still exact through the rewritten layout
    got = sorted(x["k"] for x in r.read_where("p", "a", "a").collect())
    assert got == sorted(k for (pp, k) in before if pp == "a")

    with pytest.raises(ValueError, match="non-partition data columns"):
        optimize_delta_export(root, spark, zorder_by=["p", "k"])
    with pytest.raises(ValueError, match="non-partition data columns"):
        optimize_delta_export(root, spark, zorder_by=["k", "nope"])


def test_type_widening_reads_narrow_files_as_wide(spark, tmp_path):
    """The typeWidening reader feature: files written BEFORE a type
    change keep their narrow physical type; every read supplies the
    snapshot (widened) schema and Spark's parquet scan up-converts
    per file. Covers int->long, float->double, and date->timestampNtz
    in one table; time travel to the pre-widening version still reads
    the narrow schema."""
    import datetime

    root = str(tmp_path / "dt")
    os.makedirs(os.path.join(root, "data"))
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, 2], pa.int32()),
                "x": pa.array([1.5, 2.5], pa.float32()),
                "d": pa.array(
                    [datetime.date(2020, 1, 2), datetime.date(2021, 3, 4)]
                ),
            }
        ),
        f"{root}/data/old.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "k": pa.array([3 << 40], pa.int64()),
                "x": pa.array([3.25], pa.float64()),
                "d": pa.array(
                    [datetime.datetime(2022, 5, 6, 7, 8)],
                    pa.timestamp("us"),
                ),
            }
        ),
        f"{root}/data/new.parquet",
    )

    def _schema(widened: bool) -> str:
        k_t, x_t, d_t = (
            ("long", "double", "timestamp_ntz") if widened
            else ("integer", "float", "date")
        )
        meta = (
            {"delta.typeChanges": [{"fromType": "integer", "toType": "long"}]}
            if widened
            else {}
        )
        return json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "k", "type": k_t, "nullable": True, "metadata": meta},
                    {"name": "x", "type": x_t, "nullable": True, "metadata": {}},
                    {"name": "d", "type": d_t, "nullable": True, "metadata": {}},
                ],
            }
        )

    _raw_commit(
        root,
        0,
        [
            json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            ),
            json.dumps(
                {
                    "metaData": {
                        "id": "tw-test",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": _schema(False),
                        "partitionColumns": [],
                        "configuration": {},
                    }
                }
            ),
            json.dumps(
                {"add": {"path": "data/old.parquet", "partitionValues": {},
                         "size": 1, "modificationTime": 1, "dataChange": True}}
            ),
        ],
    )
    _raw_commit(
        root,
        1,
        [
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["typeWidening", "timestampNtz"],
                        "writerFeatures": ["typeWidening", "timestampNtz"],
                    }
                }
            ),
            json.dumps(
                {
                    "metaData": {
                        "id": "tw-test",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": _schema(True),
                        "partitionColumns": [],
                        "configuration": {},
                    }
                }
            ),
            json.dumps(
                {"add": {"path": "data/new.parquet", "partitionValues": {},
                         "size": 1, "modificationTime": 1, "dataChange": True}}
            ),
        ],
    )
    r = DeltaTableReader(spark, root)
    df = r.read()
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("k", "bigint"), ("x", "double"), ("d", "timestamp_ntz")
    ]
    got = sorted(df.collect(), key=lambda row: row["k"])
    assert [row["k"] for row in got] == [1, 2, 3 << 40]
    assert [row["x"] for row in got] == [1.5, 2.5, 3.25]
    assert got[2]["d"] == datetime.datetime(2022, 5, 6, 7, 8)
    # pre-widening snapshot still reads narrow
    old = r.read(version=0)
    assert [f.dataType.simpleString() for f in old.schema.fields] == [
        "int", "float", "date"
    ]
    assert sorted(row["k"] for row in old.collect()) == [1, 2]


def test_shallow_clone_reads_and_evolves_independently(spark, tmp_path):
    """clone_delta_export: a one-commit metadata clone whose adds point at
    the SOURCE's files by absolute path (the delta-spark SHALLOW CLONE
    shape, legal per PROTOCOL.md). Content, stats-based pruning, partition
    values, and DVs all work through the clone; appends to the clone land
    under the clone root and never touch the source; the clone's vacuum
    cannot delete source files."""
    from sdlt_spark.store.delta_dv import write_dv_file
    from sdlt_spark.store.delta_write import (
        clone_delta_export,
        vacuum_delta_export,
    )

    src = str(tmp_path / "src")
    w = DeltaLogWriter(src)
    _write_part(f"{src}/data/a.parquet", [1, 2, 3])
    w.commit(adds=[("data/a.parquet", {})], schema_json=_SCHEMA)
    _write_part(f"{src}/data/b.parquet", [4, 5])
    d = write_dv_file(src, [0], "00000000-0000-4000-8000-0000000000c1")
    w.commit(adds=[("data/b.parquet", {})], dvs={"data/b.parquet": d})

    dest = str(tmp_path / "clone")
    v = clone_delta_export(src, dest)
    assert v == 0
    rc = DeltaTableReader(spark, dest)
    got = sorted(x["k"] for x in rc.read().collect())
    assert got == [1, 2, 3, 5]  # DV masks 4 through the clone too
    # metadata count shortcut works from stats carried without re-reads
    assert rc.count() == 4
    # appends to the clone are clone-local; the source never changes
    _write_part(f"{dest}/data/c.parquet", [9])
    DeltaLogWriter(dest).commit(adds=[("data/c.parquet", {})])
    assert sorted(x["k"] for x in rc.read().collect()) == [1, 2, 3, 5, 9]
    rs = DeltaTableReader(spark, src)
    assert sorted(x["k"] for x in rs.read().collect()) == [1, 2, 3, 5]
    # clone vacuum walks only the clone root: source files survive even
    # with zero retention
    deleted = vacuum_delta_export(dest, retention_hours=0.0)
    assert deleted == []
    assert os.path.exists(f"{src}/data/a.parquet")
    # cloning onto an existing table refuses
    with pytest.raises(FileExistsError, match="fresh"):
        clone_delta_export(src, dest)


def test_shallow_clone_partitioned_with_spaces_and_time_travel(spark, tmp_path):
    """Clone of a partitioned source whose file names need URL encoding:
    partition values re-attach through the absolute-path broadcast map,
    read_where prunes on them, and the clone's own history starts fresh
    (version 0 = the clone commit)."""
    from sdlt_spark.store.delta_write import clone_delta_export

    src = str(tmp_path / "src dir")  # space in the SOURCE ROOT path
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                {"name": "p", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    w = DeltaLogWriter(src)
    for i, p in enumerate(("a", "b")):
        rel = f"data/part {p}.parquet"  # space in the file name
        _write_part(os.path.join(src, rel), [i * 10, i * 10 + 1])
        w.commit(
            adds=[(rel, {"p": p})],
            schema_json=schema if i == 0 else None,
            partition_columns=["p"] if i == 0 else None,
        )
    dest = str(tmp_path / "clone")
    clone_delta_export(src, dest)
    r = DeltaTableReader(spark, dest)
    assert sorted((x["p"], x["k"]) for x in r.read().collect()) == [
        ("a", 0), ("a", 1), ("b", 10), ("b", 11)
    ]
    assert sorted(x["k"] for x in r.read_where("p", "b", "b").collect()) == [10, 11]
    assert r.latest_version() == 0


def test_min_max_metadata_shortcut_and_dv_fallback(spark, tmp_path):
    """min_max: numeric bounds come from log stats without touching data;
    DV-covered files re-scan (their stats may witness a deleted row);
    all-null stat files are recognized from nullCount; string columns take
    the honest full-scan path."""
    from sdlt_spark.store.delta_dv import write_dv_file

    root = str(tmp_path / "dt")
    w = DeltaLogWriter(root)
    _write_part(f"{root}/data/a.parquet", [5, 6, 7])
    _write_part(f"{root}/data/b.parquet", [1, 2, 100])
    w.commit(
        adds=[("data/a.parquet", {}), ("data/b.parquet", {})],
        schema_json=_SCHEMA,
    )
    r = DeltaTableReader(spark, root)
    assert r.min_max("k") == (1, 100)
    # DV deletes the extremes of b -> metadata alone would lie; the
    # fallback scan of just that file corrects it
    d = write_dv_file(root, [0, 2], "00000000-0000-4000-8000-0000000000d1")
    w.commit(adds=[("data/b.parquet", {})], dvs={"data/b.parquet": d})
    assert r.min_max("k") == (2, 7)
    # string column: full scan (stats may be truncated in the wild) —
    # and the scan applies the DV, so v1/v100 are gone
    assert r.min_max("v") == ("v2", "v7")
    with pytest.raises(KeyError):
        r.min_max("nope")


def test_min_max_partition_values_and_time_travel(spark, tmp_path):
    """Partition-column min_max reads the log's partitionValues (typed),
    and version= respects the historical file set."""
    root = str(tmp_path / "dt")
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                {"name": "r", "type": "integer", "nullable": True, "metadata": {}},
            ],
        }
    )
    w = DeltaLogWriter(root)
    for i, rv in enumerate((3, 9)):
        rel = f"data/r={rv}/f.parquet"
        _write_part(os.path.join(root, rel), [i])
        w.commit(
            adds=[(rel, {"r": str(rv)})],
            schema_json=schema if i == 0 else None,
            partition_columns=["r"] if i == 0 else None,
        )
    r = DeltaTableReader(spark, root)
    assert r.min_max("r") == (3, 9)
    assert r.min_max("r", version=0) == (3, 3)


def test_variant_column_reads_through_feature_gate(spark, tmp_path):
    """A table naming the variantType reader feature (Spark 4 / modern
    Databricks shape) opens and its variant cells extract correctly;
    an unknown reader feature still refuses loudly."""
    import json as _json

    from pyspark.sql import functions as F

    from sdlt_spark.store.delta_read import DeltaProtocolError, DeltaTableReader
    from sdlt_spark.store.delta_write import DeltaLogWriter

    root = str(tmp_path / "vt")
    df = spark.range(5).select(
        F.col("id").alias("k"),
        F.parse_json(
            F.format_string('{"a": %s, "b": "x%s"}', "id", "id")
        ).alias("j"),
    )
    abs_dir = os.path.join(root, "c0")
    df.coalesce(1).write.parquet(abs_dir)
    adds = [
        (f"c0/{f}", {}) for f in sorted(os.listdir(abs_dir))
        if f.endswith(".parquet")
    ]
    w = DeltaLogWriter(root)
    w.commit(
        adds=adds,
        schema_json=df.schema.json(),
        protocol={
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["variantType"],
            "writerFeatures": ["variantType"],
        },
    )
    out = (
        DeltaTableReader(spark, root)
        .read()
        .select(
            "k",
            F.try_variant_get("j", "$.a", "long").alias("a"),
            F.try_variant_get("j", "$.b", "string").alias("b"),
        )
    )
    got = {r["k"]: (r["a"], r["b"]) for r in out.collect()}
    assert got == {i: (i, f"x{i}") for i in range(5)}
    # a genuinely unknown feature still bounces
    log = os.path.join(root, "_delta_log", f"{0:020d}.json")
    acts = [_json.loads(line) for line in open(log)]
    for a in acts:
        if "protocol" in a:
            a["protocol"]["readerFeatures"] = ["somethingFuturistic"]
    with open(log, "w") as f:
        f.write("\n".join(_json.dumps(a) for a in acts) + "\n")
    with pytest.raises(DeltaProtocolError, match="somethingFuturistic"):
        DeltaTableReader(spark, root).read()


def test_shredded_variant_reads_and_reassembles(spark, tmp_path):
    """A table naming variantShredding-preview opens and its SHREDDED
    variant cells reassemble losslessly: shredded fields come back from
    their typed_value shards, unshredded residual fields from the binary
    value, and a mixed table (one shredded file, one plain file) reads
    uniformly. Spark 4.1's parquet reader does the reassembly whenever
    the requested schema says VariantType (Parquet VariantShredding.md);
    the explicit-schema scan guarantees that request."""
    from pyspark.sql import functions as F

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import DeltaLogWriter

    root = str(tmp_path / "vs")

    def _variant_df(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.parse_json(
                F.format_string(
                    '{"a": %s, "b": "x%s", "resid": [%s, 7]}', "id", "id", "id"
                )
            ).alias("j"),
        )

    # file 1: force-shredded on (a, b); "resid" stays in the binary value
    spark.conf.set("spark.sql.variant.writeShredding.enabled", "true")
    spark.conf.set(
        "spark.sql.variant.forceShreddingSchemaForTest", "a long, b string"
    )
    try:
        _variant_df(0, 3).coalesce(1).write.parquet(os.path.join(root, "c0"))
    finally:
        spark.conf.unset("spark.sql.variant.forceShreddingSchemaForTest")
        spark.conf.unset("spark.sql.variant.writeShredding.enabled")
    # the fixture must be PHYSICALLY shredded (typed_value shards in the
    # footer schema) — otherwise this test silently degrades to the plain
    # variant path
    shredded = [
        f
        for f in os.listdir(os.path.join(root, "c0"))
        if f.endswith(".parquet")
    ]
    with open(os.path.join(root, "c0", shredded[0]), "rb") as fh:
        assert b"typed_value" in fh.read()
    # file 2: plain unshredded variant — mixed layouts are spec-legal
    _variant_df(3, 5).coalesce(1).write.parquet(os.path.join(root, "c1"))
    adds = [
        (f"{sub}/{f}", {})
        for sub in ("c0", "c1")
        for f in sorted(os.listdir(os.path.join(root, sub)))
        if f.endswith(".parquet")
    ]
    schema_json = _variant_df(0, 1).schema.json()
    DeltaLogWriter(root).commit(
        adds=adds,
        schema_json=schema_json,
        protocol={
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["variantType", "variantShredding-preview"],
            "writerFeatures": ["variantType", "variantShredding-preview"],
        },
    )
    out = (
        DeltaTableReader(spark, root)
        .read()
        .select(
            "k",
            F.try_variant_get("j", "$.a", "long").alias("a"),
            F.try_variant_get("j", "$.b", "string").alias("b"),
            F.try_variant_get("j", "$.resid[0]", "long").alias("r0"),
            F.try_variant_get("j", "$.resid[1]", "long").alias("r1"),
        )
    )
    got = {r["k"]: (r["a"], r["b"], r["r0"], r["r1"]) for r in out.collect()}
    assert got == {i: (i, f"x{i}", i, 7) for i in range(5)}


def test_liquid_clustering_declared_and_optimize_applies_it(spark, tmp_path):
    """set_clustering_columns writes the delta.clustering domainMetadata
    (+ writer-v7 protocol naming clusteringColumns); a subsequent plain
    OPTIMIZE clusters on the declared columns; the domain survives a
    checkpoint."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import (
        DeltaLogWriter,
        clustering_columns,
        optimize_delta_export,
        set_clustering_columns,
    )

    root = str(tmp_path / "lc")
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "a", "type": "long", "nullable": True, "metadata": {}},
                {"name": "b", "type": "long", "nullable": True, "metadata": {}},
            ],
        }
    )
    w = DeltaLogWriter(root)
    adds = []
    for i in range(2):
        rel = f"data/f{i}.parquet"
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "a": pa.array([3 - i, 7 - i, 11 - i], pa.int64()),
                    "b": pa.array([i, i + 5, i + 9], pa.int64()),
                }
            ),
            os.path.join(root, rel),
        )
        adds.append((rel, {}))
    w.commit(adds=adds, schema_json=schema)
    with pytest.raises(ValueError, match="not in schema"):
        set_clustering_columns(root, ["nope"])
    v = set_clustering_columns(root, ["a", "b"])
    reader = DeltaTableReader(spark, root)
    snap = reader.snapshot()
    assert clustering_columns(snap) == ["a", "b"]
    assert "clusteringColumns" in set(snap.protocol["writerFeatures"])
    before = sorted(
        (r["a"], r["b"]) for r in reader.read().collect()
    )
    produced = optimize_delta_export(root, spark)  # no zorder_by given
    assert produced  # the rewrite happened, clustered on (a, b)
    acts = [
        _json.loads(line)
        for line in open(
            os.path.join(root, "_delta_log", f"{v + 1:020d}.json")
        )
    ]
    ci = next(a["commitInfo"] for a in acts if "commitInfo" in a)
    assert _json.loads(ci["operationParameters"]["zOrderBy"]) == ["a", "b"]
    after = sorted((r["a"], r["b"]) for r in reader.read().collect())
    assert after == before  # dataChange=false: content identical
    # domain survives a checkpoint + log cleanup
    DeltaLogWriter(root).write_checkpoint()
    for f in os.listdir(os.path.join(root, "_delta_log")):
        if f.endswith(".json") and f[:-5].isdigit():
            os.remove(os.path.join(root, "_delta_log", f))
    snap2 = DeltaTableReader(spark, root).snapshot()
    assert clustering_columns(snap2) == ["a", "b"]


def test_in_commit_timestamps_strictly_monotonic(spark, tmp_path):
    """Sub-ms commit bursts must still produce strictly increasing
    inCommitTimestamps — timestampAsOf binary-searches on them."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdlt_spark.store.delta_write import DeltaLogWriter

    root = str(tmp_path / "ict")
    os.makedirs(root)
    pq.write_table(pa.table({"k": pa.array([1], pa.int64())}), f"{root}/a.parquet")
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    w = DeltaLogWriter(root)
    w.commit(adds=[("a.parquet", {})], schema_json=schema)
    for _ in range(10):  # a burst far faster than 1 ms per commit
        w.commit(operation="WRITE")
    icts = []
    for v in range(11):
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json")) as f:
            for line in f:
                a = _json.loads(line)
                if "commitInfo" in a:
                    icts.append(a["commitInfo"]["inCommitTimestamp"])
                    break
    assert all(b > a for a, b in zip(icts, icts[1:])), icts


@pytest.mark.parametrize("mode", ["name", "id"])
def test_optimize_column_mapped_table(spark, tmp_path, mode):
    """OPTIMIZE of a column-mapped table: the compacted files carry
    PHYSICAL names (and field ids in 'id' mode) so mapped readers keep
    resolving them; logical content is unchanged."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import (
        DeltaLogWriter,
        optimize_delta_export,
    )

    root = str(tmp_path / f"cm_{mode}")
    os.makedirs(os.path.join(root, "data"))
    rels = []
    for i, vals in enumerate(([1, 2], [3, 4])):
        rel = f"data/f{i}.parquet"
        if mode == "id":
            # id mode matches by footer field id, names are noise
            schema = pa.schema(
                [pa.field("anything", pa.int64(),
                          metadata={b"PARQUET:field_id": b"1"})]
            )
            pq.write_table(
                pa.table({"anything": pa.array(vals, pa.int64())}, schema=schema),
                os.path.join(root, rel),
            )
        else:
            pq.write_table(
                pa.table({"col-k1": pa.array(vals, pa.int64())}),
                os.path.join(root, rel),
            )
        rels.append(rel)
    schema_json = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "k",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-k1",
                    },
                }
            ],
        }
    )
    DeltaLogWriter(root).commit(
        adds=[(r, {}) for r in rels],
        schema_json=schema_json,
        configuration={
            "delta.columnMapping.mode": mode,
            "delta.columnMapping.maxColumnId": "1",
        },
        protocol={"minReaderVersion": 2, "minWriterVersion": 5},
    )
    r = DeltaTableReader(spark, root)
    before = sorted(x["k"] for x in r.read().collect())
    produced = optimize_delta_export(root, spark)
    assert produced, "two small files must compact"
    after = sorted(x["k"] for x in r.read().collect())
    assert after == before == [1, 2, 3, 4]
    # the compacted file carries the PHYSICAL column name
    raw = pq.read_schema(os.path.join(root, produced[0]))
    if mode == "name":
        assert raw.names == ["col-k1"]


def test_string_stats_truncate_to_safe_prefixes(spark, tmp_path):
    """Long string stats truncate to 32-char prefixes (log-size control):
    min = plain prefix (<= true min), max = prefix with last char bumped
    (>= every value), ceiling chars drop the bound; skipping stays SAFE."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import (
        DeltaLogWriter,
        _truncate_stat_strings,
    )

    long_lo = "a" * 40
    long_hi = "m" * 33 + "zz"
    root = str(tmp_path / "ts")
    os.makedirs(os.path.join(root, "data"))
    rel = "data/a.parquet"
    pq.write_table(
        pa.table({"s": pa.array([long_lo, long_hi])}), os.path.join(root, rel)
    )
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "s", "type": "string", "nullable": True, "metadata": {}}
            ],
        }
    )
    DeltaLogWriter(root).commit(
        adds=[(rel, {})],
        schema_json=schema,
        stats_override={rel: {"rows": 2, "min": {"s": long_lo}, "max": {"s": long_hi}}},
    )
    acts = [
        _json.loads(line)
        for line in open(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    ]
    st = _json.loads(next(a["add"]["stats"] for a in acts if "add" in a))
    assert st["minValues"]["s"] == "a" * 32          # prefix <= true min
    assert st["maxValues"]["s"] == "m" * 31 + "n"    # bumped > every value
    assert len(st["maxValues"]["s"]) == 32
    r = DeltaTableReader(spark, root)
    # value inside the summarized range: file kept
    assert r.read_where("s", "b", "c").count() == 0  # kept+scanned, no rows
    assert set(r.read_where("s", long_lo, long_lo).inputFiles())
    # clearly beyond the bumped max: pruned without scanning
    assert r.read_where("s", "z", None).inputFiles() == []
    # ceiling chars: the max bound drops instead of lying
    out = _truncate_stat_strings({"s": chr(0x10FFFF) * 40}, is_max=True)
    assert "s" not in out
    out_min = _truncate_stat_strings({"s": chr(0x10FFFF) * 40}, is_max=False)
    assert out_min["s"] == chr(0x10FFFF) * 32


def test_commit_stats_carry_null_counts(spark, tmp_path):
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdlt_spark.store.delta_write import DeltaLogWriter

    root = str(tmp_path / "nc")
    os.makedirs(os.path.join(root, "data"))
    rel = "data/a.parquet"
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, None, 3, None], pa.int64()),
                "v": pa.array(["a", "b", None, "d"]),
            }
        ),
        os.path.join(root, rel),
    )
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    DeltaLogWriter(root).commit(adds=[(rel, {})], schema_json=schema)
    acts = [
        _json.loads(line)
        for line in open(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    ]
    st = _json.loads(next(a["add"]["stats"] for a in acts if "add" in a))
    assert st["nullCount"] == {"k": 2, "v": 1}
    assert st["numRecords"] == 4


def test_read_where_prunes_all_null_files_via_null_count(spark, tmp_path):
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import DeltaLogWriter

    root = str(tmp_path / "nn")
    os.makedirs(os.path.join(root, "data"))
    pq.write_table(
        pa.table({"k": pa.array([None, None], pa.int64())}),
        os.path.join(root, "data/nulls.parquet"),
    )
    pq.write_table(
        pa.table({"k": pa.array([5, 6], pa.int64())}),
        os.path.join(root, "data/vals.parquet"),
    )
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    DeltaLogWriter(root).commit(
        adds=[("data/nulls.parquet", {}), ("data/vals.parquet", {})],
        schema_json=schema,
    )
    df = DeltaTableReader(spark, root).read_where("k", 1, 10)
    assert {os.path.basename(p) for p in df.inputFiles()} == {"vals.parquet"}
    assert sorted(r["k"] for r in df.collect()) == [5, 6]


def test_vacuum_honors_retention_duration_config(spark, tmp_path):
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdlt_spark.store.delta_write import (
        DeltaLogWriter,
        _parse_retention_interval,
        vacuum_delta_export,
    )

    assert _parse_retention_interval("interval 2 days") == 48.0
    assert _parse_retention_interval("interval 1 week") == 168.0
    assert _parse_retention_interval("36 hours") == 36.0
    assert _parse_retention_interval("interval 30 minutes") == 0.5
    assert _parse_retention_interval("nonsense") is None

    root = str(tmp_path / "vr")
    os.makedirs(os.path.join(root, "data"))
    for name in ("a", "b"):
        pq.write_table(
            pa.table({"k": pa.array([1], pa.int64())}),
            os.path.join(root, f"data/{name}.parquet"),
        )
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    w = DeltaLogWriter(root)
    w.commit(
        adds=[("data/a.parquet", {})],
        schema_json=schema,
        configuration={"delta.deletedFileRetentionDuration": "interval 0 hours"},
    )
    # swap a -> b; with the configured ZERO retention, default-arg vacuum
    # reclaims the tombstoned file immediately
    w.commit(adds=[("data/b.parquet", {})], removes=["data/a.parquet"])
    gone = vacuum_delta_export(root)
    assert gone == ["data/a.parquet"]


def test_restore_to_timestamp_and_history(spark, tmp_path):
    import json as _json
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import DeltaLogWriter, restore_delta_export

    root = str(tmp_path / "rts")
    os.makedirs(os.path.join(root, "data"))
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    w = DeltaLogWriter(root)
    pq.write_table(pa.table({"k": pa.array([1], pa.int64())}), f"{root}/data/a.parquet")
    w.commit(adds=[("data/a.parquet", {})], schema_json=schema)      # v0
    _time.sleep(1.2)
    cut = _time.time()
    _time.sleep(1.2)
    pq.write_table(pa.table({"k": pa.array([2], pa.int64())}), f"{root}/data/b.parquet")
    w.commit(adds=[("data/b.parquet", {})], operation="WRITE")        # v1
    r = DeltaTableReader(spark, root)
    v = restore_delta_export(root, timestamp=cut)  # back to v0's state
    got = sorted(x["k"] for x in r.read().collect())
    assert got == [1]
    with pytest.raises(ValueError, match="exactly one"):
        restore_delta_export(root)
    with pytest.raises(ValueError, match="exactly one"):
        restore_delta_export(root, version=0, timestamp=cut)
    h = {row["version"]: row["operation"] for row in r.history_df().collect()}
    assert h[0] == "WRITE" and h[v] == "RESTORE"
    assert len(h) == v + 1


def test_export_sync_survives_full_materialization(spark, tmp_path):
    """Review regression: a whole-table mutation that materializes EVERY
    live file (no sidecar entries left) must not re-sync a partitioned
    dest with empty partitionValues — all files split instead."""
    from sdlt_spark.store.delta_read import import_delta_to_vintage

    root = str(tmp_path / "src")
    _write_part(f"{root}/r=0/a.parquet", [1, 2])
    _write_part(f"{root}/r=1/b.parquet", [3])
    w = DeltaLogWriter(root)
    w.commit(
        adds=[("r=0/a.parquet", {"r": "0"}), ("r=1/b.parquet", {"r": "1"})],
        schema_json=_PART_SCHEMA,
        partition_columns=["r"],
    )
    t = import_delta_to_vintage(spark, root, str(tmp_path / "vt"))
    dest = str(tmp_path / "exp")
    export_vintage_to_delta(t, dest)  # v0: zero-copy partitioned
    t.update("true", {"v": "concat(v, '!')"})  # materializes EVERY file
    export_vintage_to_delta(t, dest)  # sync must keep the dest partitioned
    r = DeltaTableReader(spark, dest)
    snap = r.snapshot()
    assert snap.partition_columns == ["r"]
    for rel, pv in snap.files.items():
        assert set(pv) == {"r"}, f"{rel} lost its partitionValues"
    got = sorted((x["k"], x["r"], x["v"]) for x in r.read().collect())
    assert got == [(1, 0, "v1!"), (2, 0, "v2!"), (3, 1, "v3!")]


def test_export_preserve_dv_over_materialized_partition_split(spark, tmp_path):
    """Round-9 verdict item 5 — the last export refusal, lifted: a
    partitioned zero-copy import where a CoW update MATERIALIZED some
    files and live deletion vectors still cover them. The split rewrite
    now APPLIES those files' DVs during the rewrite it performs anyway
    (descriptor positions index the pre-split row order, so exporting
    them verbatim was impossible); untouched zero-copy files keep their
    roaring descriptors. An independent log-replay read must see the
    post-update post-delete snapshot."""
    from sdlt_spark.store.delta_read import import_delta_to_vintage

    root = str(tmp_path / "dt")
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                {"name": "p", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    adds = []
    for i, part in enumerate(("a", "b")):
        sub = f"p={part}"
        spark.createDataFrame(
            [(k + 100 * i, part) for k in range(100)], "k long, v string"
        ).coalesce(1).write.parquet(f"{root}/{sub}")
        adds += [
            (f"{sub}/{f}", {"p": part})
            for f in sorted(os.listdir(f"{root}/{sub}"))
            if f.endswith(".parquet")
        ]
    DeltaLogWriter(root).commit(
        adds=adds, schema_json=schema, partition_columns=["p"]
    )
    src = import_delta_to_vintage(spark, root, str(tmp_path / "vt"))
    # CoW update materializes the p=a file (partition col now inline)
    src.update("k < 50", {"v": "'zz'"})
    # DV over the MATERIALIZED file (previously the refusal)
    src.delete("k < 10", mode="dv")
    # DV over a still-zero-copy file (p=b): descriptor round-trips
    src.delete("k >= 190", mode="dv")
    dest = str(tmp_path / "exp")
    export_vintage_to_delta(src, dest, dv_mode="preserve")
    r = DeltaTableReader(spark, dest)
    got = r.read()
    assert got.count() == 180
    assert got.filter("v = 'zz'").count() == 40
    assert got.filter("k < 10").count() == 0
    assert got.filter("k >= 190").count() == 0
    assert {x["p"] for x in got.select("p").distinct().collect()} == {"a", "b"}
    # the zero-copy covered file carries a REAL roaring descriptor; split
    # outputs (DVs applied) carry none
    snap = r.snapshot()
    assert len(snap.dvs) == 1
    # re-sync with no source change re-links nothing and stays consistent
    export_vintage_to_delta(src, dest, dv_mode="preserve")
    assert r.read().count() == 180


def test_table_id_stable_across_metadata_reemits(spark, tmp_path):
    """Review r9: metadata.id is the table's identity for streaming
    readers — every metaData re-emit must carry the v0 id, not mint a
    fresh uuid."""
    t = VintageTable(spark, str(tmp_path / "vt"))
    t.write(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    dest = str(tmp_path / "exp")
    export_vintage_to_delta(t, dest)
    r = DeltaTableReader(spark, dest)
    id0 = r.snapshot().metadata["id"]
    # schema evolution forces a metaData re-emit on the next sync
    t.merge(
        spark.createDataFrame([(2, 2.0, "w")], "k long, v double, w string"),
        ["k"],
        schema_evolution=True,
    )
    export_vintage_to_delta(t, dest)
    assert r.snapshot().metadata["id"] == id0
    # a mutation that re-emits metaData (schema evolution) keeps it too
    from sdlt_spark.store.delta_mutate import merge_delta_export

    merge_delta_export(
        dest,
        spark,
        spark.createDataFrame(
            [(3, 3.0, "x", 9)], "k long, v double, w string, z long"
        ),
        on=["k"],
        schema_evolution=True,
    )
    assert r.snapshot().metadata["id"] == id0


def test_dv_protocol_upgrade_preserves_constraint_feature(spark, tmp_path):
    """Review r9: the first DV-bearing commit must UPGRADE the existing
    protocol (legacy writer 3 -> checkConstraints feature named), not
    replace it with a bare deletionVectors-only protocol that lets stock
    writers ignore the invariant."""
    t = VintageTable(spark, str(tmp_path / "vt"))
    t.write(spark.createDataFrame([(k, float(k)) for k in range(6)], "k long, v double"))
    t.add_constraint("k_nonneg", "k >= 0")
    t.delete("k = 3", mode="dv")
    dest = str(tmp_path / "exp")
    export_vintage_to_delta(t, dest, dv_mode="preserve")
    snap = DeltaTableReader(spark, dest).snapshot()
    wf = set(snap.protocol.get("writerFeatures") or [])
    assert "deletionVectors" in wf
    assert "checkConstraints" in wf, snap.protocol
    assert any(
        k.startswith("delta.constraints.")
        for k in (snap.metadata.get("configuration") or {})
    )


def test_merge_delta_export_rejects_duplicate_source_keys(spark, tmp_path):
    """Review r9: duplicate-keyed MERGE sources must raise (delta-spark's
    DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW), not land both rows."""
    from sdlt_spark.store.delta_mutate import merge_delta_export

    t = VintageTable(spark, str(tmp_path / "vt"))
    t.write(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    dest = str(tmp_path / "exp")
    export_vintage_to_delta(t, dest)
    dup = spark.createDataFrame([(1, 2.0), (1, 3.0)], "k long, v double")
    with pytest.raises(ValueError, match="duplicate key"):
        merge_delta_export(dest, spark, dup, on=["k"])


def test_sync_reemits_metadata_when_partitioning_appears(spark, tmp_path):
    """Review r9: a sync whose partition-column set changes must re-emit
    metaData — adds carrying partitionValues under a metaData declaring
    partitionColumns=[] read NULL partition values everywhere."""
    import json as _json

    from sdlt_spark.store.delta_read import import_delta_to_vintage

    # partitioned source table
    root = str(tmp_path / "src_dt")
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "p", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    adds = []
    for part in ("a", "b"):
        sub = f"p={part}"
        spark.createDataFrame([(i,) for i in range(5)], "k long").coalesce(
            1
        ).write.parquet(f"{root}/{sub}")
        adds += [
            (f"{sub}/{f}", {"p": part})
            for f in sorted(os.listdir(f"{root}/{sub}"))
            if f.endswith(".parquet")
        ]
    DeltaLogWriter(root).commit(adds=adds, schema_json=schema, partition_columns=["p"])
    src = import_delta_to_vintage(spark, root, str(tmp_path / "vt"))
    dest = str(tmp_path / "exp")
    export_vintage_to_delta(src, dest)
    got = DeltaTableReader(spark, dest).read()
    assert got.filter("p IS NULL").count() == 0
    assert {x["p"] for x in got.select("p").distinct().collect()} == {"a", "b"}
