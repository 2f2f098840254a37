"""Delta Lake transaction-log interop (bears_spark/io/delta_log.py): read
hand-crafted spec-conformant logs (commits, tombstones, time travel,
partitions, checkpoints) and round-trip SnapshotTable exports."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bears_spark.io.delta_log import DeltaLogError, DeltaTableReader, export_delta_log
from bears_spark.streaming.jobs import finish


def _write_commit(log_dir, version, actions):
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


_SCHEMA_STR = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "double", "nullable": True, "metadata": {}},
        ],
    }
)


def _meta(partition_cols=None, schema_str=_SCHEMA_STR):
    return {
        "metaData": {
            "id": "abc",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_str,
            "partitionColumns": partition_cols or [],
            "configuration": {},
        }
    }


def _make_table(tmp_path, name="dt"):
    root = tmp_path / name
    (root / "_delta_log").mkdir(parents=True)
    return str(root)


def _add_file(root, name, ids, vs):
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()), "v": pa.array(vs, pa.float64())}),
                   os.path.join(root, name))
    return {"add": {"path": name, "partitionValues": {}, "size": 1, "modificationTime": 0,
                    "dataChange": True}}


def test_delta_read_commits_tombstones_time_travel(spark, tmp_path):
    root = _make_table(tmp_path)
    log = os.path.join(root, "_delta_log")
    a0 = _add_file(root, "f0.parquet", [1, 2], [0.1, 0.2])
    a1 = _add_file(root, "f1.parquet", [3], [0.3])
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 1}}, _meta(), a0, a1])
    # v1: remove f0, add f2
    a2 = _add_file(root, "f2.parquet", [4, 5], [0.4, 0.5])
    _write_commit(log, 1, [{"remove": {"path": "f0.parquet", "dataChange": True}}, a2])

    r = DeltaTableReader(spark, root)
    assert r.latest_version() == 1
    assert sorted(x["id"] for x in r.read().collect()) == [3, 4, 5]
    assert sorted(x["id"] for x in r.read(version=0).collect()) == [1, 2, 3]
    assert r.schema().fieldNames() == ["id", "v"]
    assert len(r.files()) == 2 and len(r.files(version=0)) == 2


def test_delta_read_partitioned(spark, tmp_path):
    root = _make_table(tmp_path, "dtp")
    log = os.path.join(root, "_delta_log")
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "double", "nullable": True, "metadata": {}},
                {"name": "lang", "type": "string", "nullable": True, "metadata": {}},
                {"name": "day", "type": "integer", "nullable": True, "metadata": {}},
            ],
        }
    )
    # partition data files do NOT contain lang/day
    a_en = _add_file(root, "en.parquet", [1, 2], [0.1, 0.2])
    a_en["add"]["partitionValues"] = {"lang": "en", "day": "3"}
    a_de = _add_file(root, "de.parquet", [3], [0.3])
    a_de["add"]["partitionValues"] = {"lang": "de", "day": "4"}
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 1}},
                           _meta(["lang", "day"], schema), a_en, a_de])
    out = DeltaTableReader(spark, root).read()
    assert dict(out.dtypes) == {"id": "bigint", "v": "double", "lang": "string", "day": "int"}
    rows = {r["id"]: (r["lang"], r["day"]) for r in out.collect()}
    assert rows == {1: ("en", 3), 2: ("en", 3), 3: ("de", 4)}


def test_delta_read_from_checkpoint(spark, tmp_path):
    root = _make_table(tmp_path, "dtc")
    log = os.path.join(root, "_delta_log")
    a0 = _add_file(root, "f0.parquet", [1], [0.1])
    a1 = _add_file(root, "f1.parquet", [2], [0.2])
    # checkpoint at version 1 carrying the full state (f0 removed, f1 live);
    # explicit Arrow types, as real Delta checkpoints have (map-typed
    # partitionValues, struct actions, all-null remove column)
    proto_t = pa.struct([("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())])
    meta_t = pa.struct(
        [("id", pa.string()), ("schemaString", pa.string()),
         ("partitionColumns", pa.list_(pa.string()))]
    )
    add_t = pa.struct(
        [("path", pa.string()), ("partitionValues", pa.map_(pa.string(), pa.string())),
         ("size", pa.int64()), ("modificationTime", pa.int64()), ("dataChange", pa.bool_())]
    )
    rm_t = pa.struct([("path", pa.string())])
    ckpt = pa.table(
        {
            "protocol": pa.array([{"minReaderVersion": 1, "minWriterVersion": 2}, None, None], proto_t),
            "metaData": pa.array(
                [None, {"id": "abc", "schemaString": _SCHEMA_STR, "partitionColumns": []}, None],
                meta_t,
            ),
            "add": pa.array(
                [None, None, {"path": "f1.parquet", "partitionValues": [],
                              "size": 1, "modificationTime": 0, "dataChange": True}],
                add_t,
            ),
            "remove": pa.array([None, None, None], rm_t),
        }
    )
    pq.write_table(ckpt, os.path.join(log, f"{1:020d}.checkpoint.parquet"))
    # JSON commits 0..1 deliberately ABSENT (cleaned up); v2 adds f2
    a2 = _add_file(root, "f2.parquet", [3], [0.3])
    _write_commit(log, 2, [a2])
    r = DeltaTableReader(spark, root)
    assert r.latest_version() == 2
    assert sorted(x["id"] for x in r.read().collect()) == [2, 3]


def test_delta_time_travel_by_timestamp(spark, tmp_path):
    """version_as_of picks the newest commit whose commitInfo.timestamp is
    <= the probe; ties go to the higher version; too-early probes raise."""
    root = _make_table(tmp_path, "dts")
    log = os.path.join(root, "_delta_log")
    a0 = _add_file(root, "f0.parquet", [1], [0.1])
    a1 = _add_file(root, "f1.parquet", [2], [0.2])
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                           {"commitInfo": {"timestamp": 1000}}, a0])
    _write_commit(log, 1, [{"commitInfo": {"timestamp": 2000}}, a1])
    r = DeltaTableReader(spark, root)
    assert r.version_as_of(1500) == 0
    assert r.version_as_of(2000) == 1
    assert sorted(x["id"] for x in r.read(version=r.version_as_of(1500)).collect()) == [1]
    with pytest.raises(DeltaLogError, match="no commit"):
        r.version_as_of(999)


def test_delta_v2_checkpoint_with_sidecars(spark, tmp_path):
    """UUID-named v2 checkpoint (parquet) whose add actions live in a
    sidecar parquet under _delta_log/_sidecars/ — read with the JSON
    commits below the checkpoint cleaned away; a later commit replays on
    top; a missing sidecar refuses."""
    root = _make_table(tmp_path, "dtv2")
    log = os.path.join(root, "_delta_log")
    a1 = _add_file(root, "f1.parquet", [2], [0.2])
    # sidecar parquet carrying the live add
    os.makedirs(os.path.join(log, "_sidecars"))
    add_t = pa.struct(
        [("path", pa.string()), ("partitionValues", pa.map_(pa.string(), pa.string())),
         ("size", pa.int64()), ("modificationTime", pa.int64()), ("dataChange", pa.bool_())]
    )
    side = pa.table({"add": pa.array(
        [{"path": "f1.parquet", "partitionValues": [], "size": 1,
          "modificationTime": 0, "dataChange": True}], add_t)})
    pq.write_table(side, os.path.join(log, "_sidecars", "aa-bb.parquet"))
    # v2 checkpoint: metaData/protocol inline + one sidecar pointer
    proto_t = pa.struct([("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())])
    meta_t = pa.struct(
        [("id", pa.string()), ("schemaString", pa.string()),
         ("partitionColumns", pa.list_(pa.string()))]
    )
    sidecar_t = pa.struct([("path", pa.string()), ("sizeInBytes", pa.int64())])
    ckpt = pa.table({
        "protocol": pa.array([{"minReaderVersion": 1, "minWriterVersion": 2}, None], proto_t),
        "metaData": pa.array(
            [None, {"id": "abc", "schemaString": _SCHEMA_STR, "partitionColumns": []}], meta_t),
        "sidecar": pa.array([None, {"path": "aa-bb.parquet", "sizeInBytes": 1}], sidecar_t),
    })
    u = "0f0e0d0c-0b0a-0908-0706-050403020100"
    pq.write_table(ckpt, os.path.join(log, f"{1:020d}.checkpoint.{u}.parquet"))
    # commits 0..1 cleaned; commit 2 adds f2
    a2 = _add_file(root, "f2.parquet", [3], [0.3])
    _write_commit(log, 2, [a2])
    r = DeltaTableReader(spark, root)
    assert r.latest_version() == 2
    assert sorted(x["id"] for x in r.read().collect()) == [2, 3]
    assert sorted(x["id"] for x in r.read(version=1).collect()) == [2]
    # missing sidecar refuses rather than returning partial state
    os.unlink(os.path.join(log, "_sidecars", "aa-bb.parquet"))
    with pytest.raises(DeltaLogError, match="sidecar missing"):
        DeltaTableReader(spark, root).read()


def test_delta_v2_checkpoint_json(spark, tmp_path):
    """A v2 checkpoint in JSON form (actions one per line) replays the same
    state as its parquet twin."""
    root = _make_table(tmp_path, "dtv2j")
    log = os.path.join(root, "_delta_log")
    a1 = _add_file(root, "f1.parquet", [7], [0.7])
    u = "00112233-4455-6677-8899-aabbccddeeff"
    with open(os.path.join(log, f"{0:020d}.checkpoint.{u}.json"), "w") as f:
        for action in [
            {"checkpointMetadata": {"version": 0}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta(),
            a1,
        ]:
            f.write(json.dumps(action) + "\n")
    r = DeltaTableReader(spark, root)  # no JSON commits at all
    assert r.latest_version() == 0
    assert [x["id"] for x in r.read().collect()] == [7]


def test_delta_protocol_gate(spark, tmp_path):
    root = _make_table(tmp_path, "dtg")
    log = os.path.join(root, "_delta_log")
    a0 = _add_file(root, "f0.parquet", [1], [0.1])
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 3,
                                         "readerFeatures": ["variantType"]}}, _meta(), a0])
    with pytest.raises(DeltaLogError, match="variantType"):
        DeltaTableReader(spark, root).read()


def test_z85_spec_vector_and_roundtrip():
    """The ZeroMQ spec-32 reference vector, plus arbitrary roundtrips."""
    from bears_spark.io.roaring import z85_decode, z85_encode

    assert z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"
    assert z85_decode("HelloWorld") == bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    for blob in (b"", b"abcd", bytes(range(48)), b"\xff" * 8):
        assert z85_decode(z85_encode(blob)) == blob
    with pytest.raises(ValueError):
        z85_encode(b"abc")  # not a multiple of 4


def test_roaring_rba_roundtrip_all_container_kinds():
    """Array (<=4096), bitset (>4096) and multi-bucket 64-bit values all
    roundtrip; run containers decode (hand-framed, encoder never emits
    them); corrupt magic/cookie refuse."""
    import struct

    from bears_spark.io.roaring import (
        deserialize_rba,
        serialize_rba,
        serialize_roaring32,
        _deserialize_roaring32,
    )

    small = [1, 5, 70000, 70001]
    dense = list(range(100000, 110000))  # >4096 in one 16-bit bucket -> bitset
    hi = [(3 << 32) | 7, (3 << 32) | 8, (1 << 32) | 0]
    for vals in (small, dense, small + hi, []):
        assert deserialize_rba(serialize_rba(vals)) == sorted(set(vals))

    # run container: cookie 12347, one container flagged as runs
    buf = struct.pack("<i", 12347 | (0 << 16))  # size-1 = 0
    buf += bytes([0b1])  # run flag for container 0
    buf += struct.pack("<HH", 2, 5 - 1)  # key=2, cardinality 5
    # size < 4 -> no offsets
    buf += struct.pack("<H", 1)  # one run
    buf += struct.pack("<HH", 10, 4)  # values 10..14
    vals, consumed = _deserialize_roaring32(buf, 0)
    assert vals == [(2 << 16) | v for v in range(10, 15)] and consumed == len(buf)

    with pytest.raises(ValueError, match="magic"):
        deserialize_rba(b"\x00" * 16)
    bad = bytearray(serialize_rba([1, 2]))
    bad[12] ^= 0xFF  # corrupt the inner cookie
    with pytest.raises(ValueError):
        deserialize_rba(bytes(bad))


def _dv_descriptor_inline(positions):
    from bears_spark.io.roaring import serialize_rba, z85_encode

    data = serialize_rba(positions)
    pad = (-len(data)) % 4
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(data + b"\x00" * pad),
        "sizeInBytes": len(data),
        "cardinality": len(positions),
    }


def _dv_write_file(table_root, positions, storage="u"):
    import uuid as _uuid

    from bears_spark.io.roaring import frame_dv, serialize_rba, z85_encode

    data = serialize_rba(positions)
    blob = bytes([1]) + frame_dv(data)
    if storage == "p":
        p = os.path.join(table_root, "dv_abs.bin")
        open(p, "wb").write(blob)
        desc_path = p
    else:
        u = _uuid.uuid4()
        open(os.path.join(table_root, f"deletion_vector_{u}.bin"), "wb").write(blob)
        desc_path = z85_encode(u.bytes)
    return {
        "storageType": storage,
        "pathOrInlineDv": desc_path,
        "offset": 1,
        "sizeInBytes": len(data),
        "cardinality": len(positions),
    }


@pytest.mark.parametrize("storage", ["i", "u", "p"])
def test_delta_deletion_vectors_applied(spark, tmp_path, storage):
    """Deletion vectors remove exactly the flagged row positions; rows in
    other files are untouched; time travel to the pre-DV version restores
    them; the deletionVectors reader feature is accepted."""
    root = _make_table(tmp_path, f"dv-{storage}")
    log = os.path.join(root, "_delta_log")
    a0 = _add_file(root, "f0.parquet", [1, 2, 3, 4], [0.1, 0.2, 0.3, 0.4])
    a1 = _add_file(root, "f1.parquet", [5, 6], [0.5, 0.6])
    _write_commit(log, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        _meta(), a0, a1,
    ])
    # v1: attach a DV to f0 deleting positions 0 and 2 (ids 1, 3)
    dv = (
        _dv_descriptor_inline([0, 2])
        if storage == "i"
        else _dv_write_file(root, [0, 2], storage=storage)
    )
    new_add = dict(a0["add"])
    new_add["deletionVector"] = dv
    _write_commit(log, 1, [
        {"remove": {"path": "f0.parquet", "dataChange": True}},
        {"add": new_add},
    ])
    r = DeltaTableReader(spark, root)
    assert sorted(x["id"] for x in r.read().collect()) == [2, 4, 5, 6]
    assert sorted(x["id"] for x in r.read(version=0).collect()) == [1, 2, 3, 4, 5, 6]
    # schema untouched by the merge-on-read plumbing
    assert r.read().columns == ["id", "v"]


def test_delta_deletion_vector_crc_refusal(spark, tmp_path):
    """A corrupted DV file refuses the read instead of returning rows that
    should be deleted."""
    root = _make_table(tmp_path, "dvbad")
    log = os.path.join(root, "_delta_log")
    a0 = _add_file(root, "f0.parquet", [1, 2], [0.1, 0.2])
    dv = _dv_write_file(root, [0], storage="p")
    with open(dv["pathOrInlineDv"], "r+b") as f:
        f.seek(8)
        b = f.read(1)
        f.seek(8)
        f.write(bytes([b[0] ^ 0xFF]))
    a0["add"]["deletionVector"] = dv
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 1}}, _meta(), a0])
    with pytest.raises(DeltaLogError, match="deletion vector"):
        DeltaTableReader(spark, root).read().collect()


def _mapped_schema_str(mode_fields):
    """Spark StructType JSON with delta.columnMapping metadata.
    mode_fields: [(logical, physical, sparktype)]."""
    return json.dumps({
        "type": "struct",
        "fields": [
            {"name": lg, "type": tp, "nullable": True,
             "metadata": {"delta.columnMapping.id": i + 1,
                          "delta.columnMapping.physicalName": ph}}
            for i, (lg, ph, tp) in enumerate(mode_fields)
        ],
    })


@pytest.mark.parametrize("mode", ["name", "id"])
def test_delta_column_mapping_read(spark, tmp_path, mode):
    """Column-mapped tables (physical file column names) read back under
    logical names; stats-pruned files() probes translate to physical keys;
    both 'name' and 'id' modes resolve via physicalName."""
    root = _make_table(tmp_path, f"cm-{mode}")
    log = os.path.join(root, "_delta_log")
    pq.write_table(
        pa.table({"col-aaa": pa.array([1, 2], pa.int64()),
                  "col-bbb": pa.array([0.1, 0.2], pa.float64())}),
        os.path.join(root, "f0.parquet"),
    )
    meta = _meta(schema_str=_mapped_schema_str(
        [("id", "col-aaa", "long"), ("v", "col-bbb", "double")]
    ))
    meta["metaData"]["configuration"] = {"delta.columnMapping.mode": mode}
    _write_commit(log, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "stats": json.dumps({"numRecords": 2,
                                      "minValues": {"col-aaa": 1},
                                      "maxValues": {"col-aaa": 2}})}},
    ])
    r = DeltaTableReader(spark, root)
    out = r.read()
    assert out.columns == ["id", "v"]
    assert sorted(x["id"] for x in out.collect()) == [1, 2]
    # stats pruning translates the logical probe to the physical stats key
    assert r.files(where=("id", ">", 5)) == []
    assert len(r.files(where=("id", "=", 2))) == 1
    # predicate read with mapping
    assert [x["id"] for x in r.read(where=("id", "=", 2)).collect()] == [2]


def test_delta_column_mapping_partitioned(spark, tmp_path):
    """Partition values in mapped tables are keyed by PHYSICAL name; the
    injected partition column comes back under its logical name."""
    root = _make_table(tmp_path, "cmp")
    log = os.path.join(root, "_delta_log")
    pq.write_table(pa.table({"col-xxx": pa.array([1], pa.int64())}),
                   os.path.join(root, "fa.parquet"))
    pq.write_table(pa.table({"col-xxx": pa.array([2], pa.int64())}),
                   os.path.join(root, "fb.parquet"))
    meta = _meta(partition_cols=["grp"], schema_str=_mapped_schema_str(
        [("id", "col-xxx", "long"), ("grp", "col-ggg", "string")]
    ))
    meta["metaData"]["configuration"] = {"delta.columnMapping.mode": "name"}
    _write_commit(log, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        {"add": {"path": "fa.parquet", "partitionValues": {"col-ggg": "a"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "fb.parquet", "partitionValues": {"col-ggg": "b"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ])
    out = DeltaTableReader(spark, root).read()
    assert sorted((x["id"], x["grp"]) for x in out.collect()) == [(1, "a"), (2, "b")]


def test_delta_column_mapping_missing_physical_refuses(spark, tmp_path):
    root = _make_table(tmp_path, "cmbad")
    log = os.path.join(root, "_delta_log")
    a0 = _add_file(root, "f0.parquet", [1], [0.1])
    meta = _meta()  # plain schema WITHOUT physicalName metadata
    meta["metaData"]["configuration"] = {"delta.columnMapping.mode": "name"}
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 2}}, meta, a0])
    with pytest.raises(DeltaLogError, match="physicalName"):
        DeltaTableReader(spark, root).read()


def test_delta_gap_in_log_refused(spark, tmp_path):
    """A missing commit mid-range (0,1,3 exist; 2 missing) must raise, not
    silently yield a snapshot that drops commit 2's actions."""
    root = _make_table(tmp_path, "dtgap")
    log = os.path.join(root, "_delta_log")
    a0 = _add_file(root, "f0.parquet", [1], [0.1])
    a1 = _add_file(root, "f1.parquet", [2], [0.2])
    a3 = _add_file(root, "f3.parquet", [3], [0.3])
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 1}}, _meta(), a0])
    _write_commit(log, 1, [a1])
    _write_commit(log, 3, [a3])
    with pytest.raises(DeltaLogError, match="gap"):
        DeltaTableReader(spark, root).read()
    # cleaned prefix below a checkpoint stays legal (covered by
    # test_delta_read_from_checkpoint); reading v1 here is still fine
    r = DeltaTableReader(spark, root)
    assert sorted(x["id"] for x in r.read(version=1).collect()) == [1, 2]


def test_export_snapshot_table_as_delta(spark, tmp_path):
    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "st"))
    df = spark.range(0, 30).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    t.overwrite(df.coalesce(2))
    t.append(spark.range(30, 40).select(F.col("id"), (F.col("id") * 2.0).alias("v")).coalesce(1))
    out = export_delta_log(t, str(tmp_path / "exported"))
    back = DeltaTableReader(spark, out).read()
    assert back.count() == 40
    assert sorted(r["id"] for r in back.collect()) == list(range(40))
    assert dict(back.dtypes) == {"id": "bigint", "v": "double"}


def test_delta_stats_pruning_and_export_carries_stats(spark, tmp_path):
    """add.stats minValues/maxValues prune files exactly like the snapshot
    manifest does; export_delta_log writes them, so an exported table keeps
    its skipping. Pruning never changes results."""
    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "stx"))
    t.overwrite(spark.range(0, 100).select(F.col("id"), (F.col("id") * 2.0).alias("v")).coalesce(1))
    t.append(spark.range(100, 200).select(F.col("id"), (F.col("id") * 2.0).alias("v")).coalesce(1))
    out = export_delta_log(t, str(tmp_path / "stx_delta"))
    r = DeltaTableReader(spark, out)
    assert len(r.files()) == 2
    assert len(r.files(where=("id", ">=", 150))) == 1  # one file provably excluded
    assert len(r.files(where=("id", "=", 42))) == 1
    # conservative on unknown column / type mismatch
    assert len(r.files(where=("nope", "=", 1))) == 2
    assert len(r.files(where=("id", "=", "42"))) == 2
    # stats absent -> no pruning (hand-crafted log without stats)
    root = _make_table(tmp_path, "nostats")
    log = os.path.join(root, "_delta_log")
    a0 = _add_file(root, "f0.parquet", [1], [0.1])
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 1}}, _meta(), a0])
    assert len(DeltaTableReader(spark, root).files(where=("id", "=", 999))) == 1


def test_delta_partition_value_pruning(spark, tmp_path):
    root = _make_table(tmp_path, "dtpv")
    log = os.path.join(root, "_delta_log")
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "double", "nullable": True, "metadata": {}},
                {"name": "lang", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    a_en = _add_file(root, "en.parquet", [1], [0.1])
    a_en["add"]["partitionValues"] = {"lang": "en"}
    a_de = _add_file(root, "de.parquet", [2], [0.2])
    a_de["add"]["partitionValues"] = {"lang": "de"}
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 1}},
                           _meta(["lang"], schema), a_en, a_de])
    r = DeltaTableReader(spark, root)
    assert len(r.files(where=("lang", "=", "en"))) == 1
    assert len(r.files(where=("lang", "=", "zz"))) == 0
    # non-equality / non-partition predicates keep everything
    assert len(r.files(where=("lang", ">", "a"))) == 2
    assert len(r.files(where=("id", "=", 1))) == 2


def test_delta_read_where_prunes_and_filters(spark, tmp_path):
    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "rw"))
    t.overwrite(spark.range(0, 100).select(F.col("id"), (F.col("id") * 2.0).alias("v")).coalesce(1))
    t.append(spark.range(100, 200).select(F.col("id"), (F.col("id") * 2.0).alias("v")).coalesce(1))
    out = export_delta_log(t, str(tmp_path / "rw_delta"))
    r = DeltaTableReader(spark, out)
    got = r.read(where=("id", ">=", 150))
    assert got.count() == 50 and got.agg(F.min("id")).first()[0] == 150
    # pruning never changes results vs a plain filter
    assert r.read(where=("id", "<", 42)).count() == r.read().filter("id < 42").count()
    with pytest.raises(ValueError, match="unsupported operator"):
        r.read(where=("id", "!=", 1))


# -- round-8 hardening: FS seam, pointer fast path, completeness, skew -------


def test_delta_version_as_of_monotonized_clock_skew(spark, tmp_path):
    """Clock skew between writers (a later version with an EARLIER
    commitInfo timestamp) resolves via Delta's monotonization — the running
    max timestamp — so a probe never lands on an older version than Delta
    itself would pick."""
    root = _make_table(tmp_path, "skew")
    log = os.path.join(root, "_delta_log")
    a0 = _add_file(root, "f0.parquet", [1], [0.1])
    a1 = _add_file(root, "f1.parquet", [2], [0.2])
    a2 = _add_file(root, "f2.parquet", [3], [0.3])
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 1}}, _meta(),
                           {"commitInfo": {"timestamp": 1000}}, a0])
    _write_commit(log, 1, [{"commitInfo": {"timestamp": 5000}}, a1])
    # skewed writer: wall clock behind the v1 committer
    _write_commit(log, 2, [{"commitInfo": {"timestamp": 3000}}, a2])
    r = DeltaTableReader(spark, root)
    # adjusted timestamps: v0=1000, v1=5000, v2=max(5000,3000)=5000
    assert r.version_as_of(1000) == 0
    assert r.version_as_of(3000) == 0  # NOT v2: its adjusted time is 5000
    assert r.version_as_of(4999) == 0
    assert r.version_as_of(5000) == 2  # ties resolve to the latest version
    assert r.version_as_of(9999) == 2


def _single_checkpoint_table(tmp_path, name):
    """Fixture: v0 meta+f0, v1 adds f1, classic checkpoint at v1 carrying
    the full state. Returns (root, log, checkpoint_arrow_table)."""
    root = _make_table(tmp_path, name)
    log = os.path.join(root, "_delta_log")
    a0 = _add_file(root, "f0.parquet", [1], [0.1])
    a1 = _add_file(root, "f1.parquet", [2], [0.2])
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 1}}, _meta(), a0])
    _write_commit(log, 1, [a1])
    proto_t = pa.struct([("minReaderVersion", pa.int32())])
    meta_t = pa.struct([("id", pa.string()), ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string()))])
    add_t = pa.struct(
        [("path", pa.string()), ("partitionValues", pa.map_(pa.string(), pa.string())),
         ("size", pa.int64()), ("modificationTime", pa.int64()), ("dataChange", pa.bool_())]
    )
    rows = {
        "protocol": pa.array([{"minReaderVersion": 1}, None, None, None], proto_t),
        "metaData": pa.array(
            [None, {"id": "abc", "schemaString": _SCHEMA_STR, "partitionColumns": []},
             None, None],
            meta_t,
        ),
        "add": pa.array(
            [None, None,
             {"path": "f0.parquet", "partitionValues": [], "size": 1,
              "modificationTime": 0, "dataChange": True},
             {"path": "f1.parquet", "partitionValues": [], "size": 1,
              "modificationTime": 0, "dataChange": True}],
            add_t,
        ),
    }
    return root, log, pa.table(rows), add_t


def test_delta_multipart_checkpoint_incomplete_falls_back(spark, tmp_path):
    """A multi-part checkpoint missing a part is SKIPPED (its survivors are
    never replayed as if complete — rows would vanish); the reader falls
    back to an older complete checkpoint, or to full commit replay."""
    root, log, ckpt_tbl, add_t = _single_checkpoint_table(tmp_path, "mp")
    # multipart checkpoint at v1: part 1 has meta/protocol/f0, part 2 has f1
    pq.write_table(ckpt_tbl.slice(0, 3),
                   os.path.join(log, f"{1:020d}.checkpoint.{1:010d}.{2:010d}.parquet"))
    p2 = os.path.join(log, f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet")
    pq.write_table(ckpt_tbl.slice(3, 1), p2)
    r = DeltaTableReader(spark, root)
    v, parts = r._checkpoint_for(1)
    assert v == 1 and len(parts) == 2
    assert sorted(x["id"] for x in r.read().collect()) == [1, 2]
    # part 2 vanishes: the incomplete set must NOT be used (f1 would vanish);
    # full replay of commits 0..1 still yields both rows
    os.unlink(p2)
    r2 = DeltaTableReader(spark, root)
    assert r2._checkpoint_for(1) is None
    assert sorted(x["id"] for x in r2.read().collect()) == [1, 2]
    # an older COMPLETE single-file checkpoint is preferred over the broken set
    ckpt0 = pa.table({
        "protocol": ckpt_tbl.column("protocol")[:2],
        "metaData": ckpt_tbl.column("metaData")[:2],
        "add": pa.array([None, {"path": "f0.parquet", "partitionValues": [], "size": 1,
                                "modificationTime": 0, "dataChange": True}], add_t),
    })
    pq.write_table(ckpt0, os.path.join(log, f"{0:020d}.checkpoint.parquet"))
    r3 = DeltaTableReader(spark, root)
    v3, parts3 = r3._checkpoint_for(1)
    assert v3 == 0 and len(parts3) == 1
    assert sorted(x["id"] for x in r3.read().collect()) == [1, 2]


class _SpyFS:
    """Wraps a MetaFS, recording every listdir call."""

    def __init__(self, inner):
        self.inner = inner
        self.listdir_calls = []

    def listdir(self, dirpath, start_after=None):
        self.listdir_calls.append((dirpath, start_after))
        return self.inner.listdir(dirpath, start_after=start_after)

    def __getattr__(self, name):
        return getattr(self.inner, name)


def test_delta_last_checkpoint_pointer_serves_listing(spark, tmp_path):
    """With a valid _last_checkpoint pointer, snapshot construction never
    lists the full log directory: the checkpoint files come from the
    pointer and the commit listing starts AFTER the checkpoint version
    (the S3 StartAfter idiom). A corrupted pointer degrades to the full
    listing, never to a wrong answer."""
    from bears_spark.io.metafs import LocalMetaFS

    root, log, ckpt_tbl, _ = _single_checkpoint_table(tmp_path, "ptr")
    pq.write_table(ckpt_tbl, os.path.join(log, f"{1:020d}.checkpoint.parquet"))
    a2 = _add_file(root, "f2.parquet", [3], [0.3])
    _write_commit(log, 2, [a2])
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1, "size": 3}, f)
    r = DeltaTableReader(spark, root)
    spy = _SpyFS(LocalMetaFS())
    r.fs = spy
    assert sorted(x["id"] for x in r.read().collect()) == [1, 2, 3]
    assert spy.listdir_calls, "expected at least the post-checkpoint commit listing"
    assert all(sa is not None for _, sa in spy.listdir_calls), (
        f"full log listing happened despite a valid pointer: {spy.listdir_calls}"
    )
    # corrupted pointer: fall back to listing, same answer
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write("{not json")
    r2 = DeltaTableReader(spark, root)
    assert sorted(x["id"] for x in r2.read().collect()) == [1, 2, 3]
    # pointer naming a MISSING checkpoint file: also falls back
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1, "parts": 4}, f)
    r3 = DeltaTableReader(spark, root)
    assert sorted(x["id"] for x in r3.read().collect()) == [1, 2, 3]


def test_delta_relative_root_deletion_vectors(spark, tmp_path, monkeypatch):
    """A reader constructed with a RELATIVE table path still applies
    deletion vectors: the root is normalized to an absolute path so the
    (file, pos) anti-join keys match Spark's absolute _metadata.file_path."""
    root = _make_table(tmp_path, "dvrel")
    log = os.path.join(root, "_delta_log")
    a0 = _add_file(root, "f0.parquet", [1, 2, 3], [0.1, 0.2, 0.3])
    dv = _dv_descriptor_inline([1])
    a0["add"]["deletionVector"] = dv
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 3,
                                         "readerFeatures": ["deletionVectors"]}},
                           _meta(), a0])
    monkeypatch.chdir(tmp_path)
    r = DeltaTableReader(spark, "dvrel")
    assert r.path == root
    assert sorted(x["id"] for x in r.read().collect()) == [1, 3]


def test_delta_column_mapping_nested_struct(spark, tmp_path):
    """Column-mapped tables store NESTED struct fields under physical names
    too; the reader rewrites them recursively and renames back via a
    positional cast — nested values must round-trip, not read as null."""
    root = _make_table(tmp_path, "cmnest")
    log = os.path.join(root, "_delta_log")
    inner = pa.struct([("col-xxx", pa.int64()), ("col-yyy", pa.string())])
    pq.write_table(
        pa.table({
            "col-aaa": pa.array([1, 2], pa.int64()),
            "col-bbb": pa.array([{"col-xxx": 10, "col-yyy": "a"},
                                 {"col-xxx": 20, "col-yyy": "b"}], inner),
        }),
        os.path.join(root, "f0.parquet"),
    )
    schema_str = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "info", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"},
             "type": {"type": "struct", "fields": [
                 {"name": "x", "type": "long", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 3,
                               "delta.columnMapping.physicalName": "col-xxx"}},
                 {"name": "y", "type": "string", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 4,
                               "delta.columnMapping.physicalName": "col-yyy"}},
             ]}},
        ],
    })
    meta = _meta(schema_str=schema_str)
    meta["metaData"]["configuration"] = {"delta.columnMapping.mode": "name"}
    _write_commit(log, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}, meta,
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    out = DeltaTableReader(spark, root).read()
    assert out.columns == ["id", "info"]
    rows = {x["id"]: (x["info"]["x"], x["info"]["y"]) for x in out.collect()}
    assert rows == {1: (10, "a"), 2: (20, "b")}


def test_delta_column_mapping_nested_missing_physical_refuses(spark, tmp_path):
    """A mapped table whose NESTED field lacks a physicalName refuses
    instead of silently reading the inner column as null."""
    root = _make_table(tmp_path, "cmnestbad")
    log = os.path.join(root, "_delta_log")
    pq.write_table(pa.table({"col-aaa": pa.array([1], pa.int64())}),
                   os.path.join(root, "f0.parquet"))
    schema_str = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "info", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"},
             "type": {"type": "struct", "fields": [
                 {"name": "x", "type": "long", "nullable": True, "metadata": {}},
             ]}},
        ],
    })
    meta = _meta(schema_str=schema_str)
    meta["metaData"]["configuration"] = {"delta.columnMapping.mode": "name"}
    _write_commit(log, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}, meta,
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    with pytest.raises(DeltaLogError, match="physicalName"):
        DeltaTableReader(spark, root).read()


def test_delta_log_in_commit_store(spark, tmp_path):
    """A Delta log resident in an object store (stub transport) reads end to
    end: commits and checkpointless state come from the CommitStore seam,
    data files from Spark's own filesystem access (absolute add paths)."""
    from bears_spark.io.commit_store import InMemoryCommitStore

    store = InMemoryCommitStore()
    data_dir = tmp_path / "s3data"
    data_dir.mkdir()
    f0 = str(data_dir / "f0.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64()),
                             "v": pa.array([0.1, 0.2], pa.float64())}), f0)
    f1 = str(data_dir / "f1.parquet")
    pq.write_table(pa.table({"id": pa.array([3], pa.int64()),
                             "v": pa.array([0.3], pa.float64())}), f1)
    tbl = "s3://bucket/warehouse/dt"
    lines = [
        json.dumps({"protocol": {"minReaderVersion": 1}}),
        json.dumps(_meta()),
        json.dumps({"add": {"path": f0, "partitionValues": {}, "size": 1,
                            "modificationTime": 0, "dataChange": True}}),
    ]
    store.replace(f"{tbl}/_delta_log/{0:020d}.json", "\n".join(lines).encode())
    store.replace(
        f"{tbl}/_delta_log/{1:020d}.json",
        json.dumps({"add": {"path": f1, "partitionValues": {}, "size": 1,
                            "modificationTime": 0, "dataChange": True}}).encode(),
    )
    r = DeltaTableReader(spark, tbl, store=store)
    assert r.latest_version() == 1
    assert sorted(x["id"] for x in r.read().collect()) == [1, 2, 3]
    assert sorted(x["id"] for x in r.read(version=0).collect()) == [1, 2]
    # timestamp travel is honestly unavailable without commitInfo/mtime
    with pytest.raises(DeltaLogError, match="mtime"):
        r.version_as_of(10**15)


def test_roaring_run_cookie_giant_container_count():
    """A run-format bitmap with >= 32769 containers decodes: the cookie's
    high 16 bits (container count - 1) would flip a SIGNED unpack negative
    and reject a valid giant DV."""
    import struct

    from bears_spark.io.roaring import _deserialize_roaring32

    n = 40000
    buf = bytearray()
    buf += struct.pack("<I", ((n - 1) << 16) | 12347)
    buf += b"\xff" * ((n + 7) // 8)  # every container is a run container
    for i in range(n):
        buf += struct.pack("<HH", i, 0)  # key=i, cardinality-1=0
    buf += b"\x00" * (4 * n)  # offsets (redundant for sequential decode)
    for _ in range(n):
        buf += struct.pack("<HHH", 1, 0, 0)  # 1 run: start=0, len-1=0
    values, consumed = _deserialize_roaring32(bytes(buf), 0)
    assert consumed == len(buf)
    assert values == [i << 16 for i in range(n)]


def test_export_delta_incremental_and_checkpoint(spark, tmp_path):
    """export_delta_log is a continuous replicator: re-export after table
    churn appends a DIFF commit (O(churn): only new files linked, gone files
    tombstoned, survivors untouched), and checkpoint=True writes a classic
    checkpoint + _last_checkpoint pointer that serves the reader's fast
    path."""
    from bears_spark.io.metafs import LocalMetaFS
    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "exsrc"))
    t.overwrite(spark.range(0, 50).select(F.col("id"), (F.col("id") * 2.0).alias("v")).coalesce(1))
    out = str(tmp_path / "exdst")
    export_delta_log(t, out, checkpoint=True)
    r0 = DeltaTableReader(spark, out)
    assert r0.latest_version() == 0
    assert os.path.exists(os.path.join(out, "_delta_log", "_last_checkpoint"))
    assert r0.read().count() == 50

    # churn: one appended file; re-export must add exactly ONE new data file
    before = {n for n in os.listdir(out) if n.endswith(".parquet")}
    t.append(spark.range(50, 80).select(F.col("id"), (F.col("id") * 2.0).alias("v")).coalesce(1))
    export_delta_log(t, out, checkpoint=True)
    after = {n for n in os.listdir(out) if n.endswith(".parquet")}
    assert len(after - before) == 1  # O(churn), not a re-link of everything
    r1 = DeltaTableReader(spark, out)
    assert r1.latest_version() == 1
    got = sorted(x["id"] for x in r1.read().collect())
    assert got == list(range(80))
    # the v1 commit carries only the diff
    with open(os.path.join(out, "_delta_log", f"{1:020d}.json")) as f:
        acts = [json.loads(l) for l in f if l.strip()]
    assert sum(1 for a in acts if "add" in a) == 1
    assert not any("remove" in a for a in acts)

    # deletion churn: rewrite the table smaller; diff commit tombstones
    t.overwrite(spark.range(0, 10).select(F.col("id"), (F.col("id") * 2.0).alias("v")).coalesce(1))
    export_delta_log(t, out, checkpoint=True)
    r2 = DeltaTableReader(spark, out)
    assert r2.latest_version() == 2
    assert sorted(x["id"] for x in r2.read().collect()) == list(range(10))
    with open(os.path.join(out, "_delta_log", f"{2:020d}.json")) as f:
        acts = [json.loads(l) for l in f if l.strip()]
    assert any("remove" in a for a in acts)

    # the checkpoint + pointer serve the fast path: no full log listing
    spy = _SpyFS(LocalMetaFS())
    r3 = DeltaTableReader(spark, out)
    r3.fs = spy
    assert r3.read().count() == 10
    assert spy.listdir_calls and all(sa is not None for _, sa in spy.listdir_calls)

    # time travel across export generations still works
    assert sorted(x["id"] for x in r3.read(version=1).collect()) == list(range(80))


def test_export_delta_incremental_schema_change(spark, tmp_path):
    """A schema change between exports re-emits metaData; the reader serves
    the new schema."""
    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "exs2"))
    t.overwrite(spark.range(0, 5).select(F.col("id")).coalesce(1))
    out = str(tmp_path / "exd2")
    export_delta_log(t, out)
    t.overwrite(
        spark.range(0, 5).select(F.col("id"), (F.col("id") * 1.5).alias("w")).coalesce(1)
    )
    export_delta_log(t, out)
    r = DeltaTableReader(spark, out)
    assert r.schema().fieldNames() == ["id", "w"]
    assert r.read().count() == 5


def test_delta_pointer_huge_parts_degrades(spark, tmp_path):
    """A junk _last_checkpoint with an absurd 'parts' must fall back to the
    listing path (bounded work), not allocate a billion candidate names."""
    root = _make_table(tmp_path, "hugeptr")
    log = os.path.join(root, "_delta_log")
    a0 = _add_file(root, "f0.parquet", [1], [0.1])
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 1}}, _meta(), a0])
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 0, "parts": 999_999_999}, f)
    r = DeltaTableReader(spark, root)
    assert r._ptr_checkpoint_files({"version": 0, "parts": 999_999_999}) is None
    assert sorted(x["id"] for x in r.read().collect()) == [1]


def test_export_checkpoint_protocol_carries_features(spark, tmp_path):
    """A DV-bearing export's checkpoint protocol row must carry the feature
    lists (minReaderVersion 3 without readerFeatures is spec-invalid and a
    checkpoint supersedes the JSON protocol on replay)."""
    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "featsrc"))
    t.overwrite(spark.range(0, 20).select(F.col("id"), (F.col("id") * 1.0).alias("v")).coalesce(1))
    t.delete_where("id", "<", 5, mode="mor")
    out = str(tmp_path / "featdst")
    export_delta_log(t, out, checkpoint=True)
    ckpts = [n for n in os.listdir(os.path.join(out, "_delta_log"))
             if n.endswith(".checkpoint.parquet")]
    assert len(ckpts) == 1
    tbl = pq.read_table(os.path.join(out, "_delta_log", ckpts[0]))
    protos = [p for p in tbl.column("protocol").to_pylist() if p]
    assert protos == [{"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["deletionVectors"],
                       "writerFeatures": ["deletionVectors"]}]
    # and the checkpointed export still reads correctly through the pointer
    r = DeltaTableReader(spark, out)
    assert sorted(x["id"] for x in r.read().collect()) == list(range(5, 20))


def test_export_checkpoint_never_downgrades_protocol(spark, tmp_path):
    """Checkpoints write the REPLAYED protocol, not one re-derived from the
    current adds. Sequence: DVs exported (v3 upgrade in the JSON history) ->
    DVs compacted away -> cadence checkpoint -> DVs reappear (no new JSON
    protocol action, the upgrade already happened). A checkpoint that
    downgraded to v1 at the middle step would leave external readers
    replaying checkpoint + suffix with DV-bearing adds under a v1 protocol:
    strict readers fail, lenient ones resurrect deleted rows (ADVICE r9 #2)."""
    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "pv_src"))
    t.overwrite(spark.range(0, 20).selectExpr("id", "id * 1.0 AS v").coalesce(1))
    out = str(tmp_path / "pv_dst")
    t.delete_where("id", "<", 3, mode="mor")
    export_delta_log(t, out)  # version 0: v3 protocol in the JSON history
    t.compact()  # DVs folded into rewritten files — no DV anywhere
    export_delta_log(t, out, checkpoint=True)  # checkpoint with zero DV adds
    log_dir = os.path.join(out, "_delta_log")
    ckpts = sorted(n for n in os.listdir(log_dir) if n.endswith(".checkpoint.parquet"))
    tbl = pq.read_table(os.path.join(log_dir, ckpts[-1]))
    protos = [p for p in tbl.column("protocol").to_pylist() if p]
    assert len(protos) == 1
    assert protos[0]["minReaderVersion"] == 3, protos  # never downgraded
    assert protos[0]["readerFeatures"] == ["deletionVectors"]
    # DVs reappear; the JSON history already carries the upgrade so no new
    # protocol action is emitted — the checkpoint protocol must cover it
    t.delete_where("id", "<", 7, mode="mor")
    export_delta_log(t, out)
    suffix = [
        n for n in sorted(os.listdir(log_dir))
        if n.endswith(".json") and n > ckpts[-1].split(".")[0] + ".json"
    ]
    replayed_actions = []
    for n in suffix:
        with open(os.path.join(log_dir, n)) as f:
            replayed_actions += [json.loads(line) for line in f if line.strip()]
    assert not any("protocol" in a for a in replayed_actions)
    assert any((a.get("add") or {}).get("deletionVector") for a in replayed_actions)
    r = DeltaTableReader(spark, out)
    assert sorted(x["id"] for x in r.read().collect()) == list(range(7, 20))


def test_export_stamps_commit_info_for_timestamp_travel(spark, tmp_path):
    """Exported commits carry commitInfo.timestamp (Delta's convention), so
    version_as_of works on exported logs without leaning on filesystem
    mtime — absent on object stores, wrong on copied logs."""
    import time as _time

    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "ci_src"))
    t.overwrite(spark.range(0, 10).selectExpr("id", "id * 1.0 AS v"))
    out = str(tmp_path / "ci_dst")
    export_delta_log(t, out)
    t.append(spark.range(10, 25).selectExpr("id", "id * 1.0 AS v"))
    export_delta_log(t, out)
    log_dir = os.path.join(out, "_delta_log")
    stamps = []
    for n in sorted(x for x in os.listdir(log_dir) if x.endswith(".json")):
        with open(os.path.join(log_dir, n)) as f:
            acts = [json.loads(line) for line in f if line.strip()]
        ci = [a["commitInfo"] for a in acts if "commitInfo" in a]
        assert len(ci) == 1 and isinstance(ci[0].get("timestamp"), int)
        stamps.append(ci[0]["timestamp"])
    assert all(x > 1_577_836_800_000 for x in stamps)  # plausible wall clock
    r = DeltaTableReader(spark, out)
    # a spy FS with NO mtime would previously refuse; commitInfo now serves
    assert r.version_as_of(stamps[0]) == 0
    assert r.version_as_of(int(_time.time() * 1000) + 10_000) == 1
    assert r.read(version=r.version_as_of(stamps[0])).count() == 10


def test_export_commit_stamps_monotone_under_clock_step_back(spark, tmp_path, monkeypatch):
    """Exported commitInfo.timestamp stamps max(now, prior+1), mirroring
    export_iceberg_metadata and SnapshotTable.ts_ms: a wall clock stepping
    BACK between exports must still yield strictly increasing stamps, or
    between-stamp probes (ts-1) lose their boundary semantics (ADVICE r10)."""
    import time as _time

    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "mono_src"))
    t.overwrite(spark.range(0, 10).selectExpr("id", "id * 1.0 AS v"))
    out = str(tmp_path / "mono_dst")
    export_delta_log(t, out)
    # clock steps back one hour between exports
    frozen = _time.time() - 3600.0
    monkeypatch.setattr(_time, "time", lambda: frozen)
    t.append(spark.range(10, 25).selectExpr("id", "id * 1.0 AS v"))
    export_delta_log(t, out)
    t.append(spark.range(25, 30).selectExpr("id", "id * 1.0 AS v"))
    export_delta_log(t, out)
    log_dir = os.path.join(out, "_delta_log")
    stamps = []
    for n in sorted(x for x in os.listdir(log_dir) if x.endswith(".json")):
        with open(os.path.join(log_dir, n)) as f:
            acts = [json.loads(line) for line in f if line.strip()]
        stamps += [a["commitInfo"]["timestamp"] for a in acts if "commitInfo" in a]
    assert len(stamps) == 3
    assert stamps[1] == stamps[0] + 1 and stamps[2] == stamps[1] + 1
    r = DeltaTableReader(spark, out)
    assert r.version_as_of(stamps[1]) == 1
    assert r.version_as_of(stamps[2] - 1) == 1  # boundary probe stays exact
    assert r.version_as_of(stamps[2]) == 2


def test_delta_checkpoint_metadata_field_complete(spark, tmp_path):
    """The checkpoint's metaData action carries configuration and
    format.options as EMPTY MAPS, never nulls — external readers replaying
    from the checkpoint (not the JSON commits) see a field-complete action
    (ADVICE r8 #2)."""
    import pyarrow.parquet as pq

    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "ckmeta_st"))
    t.overwrite(spark.range(0, 10).select(F.col("id")).coalesce(1))
    out = export_delta_log(t, str(tmp_path / "ckmeta"), checkpoint=True)
    log_dir = os.path.join(out, "_delta_log")
    ck = [n for n in os.listdir(log_dir) if n.endswith(".checkpoint.parquet")]
    assert len(ck) == 1
    tbl = pq.read_table(os.path.join(log_dir, ck[0]))
    metas = [m for m in tbl.column("metaData").to_pylist() if m]
    assert len(metas) == 1
    m = metas[0]
    assert m["configuration"] == []  # present (empty map), not null
    assert m["format"] == {"provider": "parquet", "options": []}
    assert m["partitionColumns"] == []
    assert m["schemaString"]
    # the exported table still replays from this checkpoint
    assert DeltaTableReader(spark, out).read().count() == 10


def test_export_delta_self_checkpoint_cadence(spark, tmp_path):
    """A long continuous export self-checkpoints every 10 commits (Delta's
    default cadence) without the caller ever passing checkpoint=True, so an
    external reader of a 25-commit replication history replays ONE parquet
    checkpoint plus at most 10 JSON commits — never the whole log
    (VERDICT r8 'Next round' #7)."""
    from bears_spark.io.metafs import LocalMetaFS
    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "src"))
    t.overwrite(spark.range(0, 1).selectExpr("id", "id * 1.0 AS v"))
    out = str(tmp_path / "cadence")
    export_delta_log(t, out)  # version 0
    for i in range(1, 25):
        t.append(spark.range(i * 10, i * 10 + 1).selectExpr("id", "id * 1.0 AS v"))
        export_delta_log(t, out)
    log = os.path.join(out, "_delta_log")
    names = sorted(os.listdir(log))
    ckpts = [n for n in names if n.endswith(".checkpoint.parquet")]
    assert ckpts == [f"{10:020d}.checkpoint.parquet", f"{20:020d}.checkpoint.parquet"]
    assert "_last_checkpoint" in names
    # reader replay: 1 checkpoint parquet + only the post-checkpoint JSON
    class _ReadSpy:
        def __init__(self, inner):
            self.inner = inner
            self.json_reads = []

        def read_text(self, path):
            if path.endswith(".json"):
                self.json_reads.append(os.path.basename(path))
            return self.inner.read_text(path)

        def __getattr__(self, name):
            return getattr(self.inner, name)

    r = DeltaTableReader(spark, out)
    spy = _ReadSpy(LocalMetaFS())
    r.fs = spy
    assert r.read().count() == 25
    replayed = [n for n in spy.json_reads if n != "_last_checkpoint"]
    assert 0 < len(replayed) <= 10, replayed
    assert all(int(n.split(".")[0]) > 20 for n in replayed), replayed
    # cadence can be disabled for callers that manage checkpoints themselves
    t.append(spark.range(990, 991).selectExpr("id", "id * 1.0 AS v"))
    export_delta_log(t, out, checkpoint_interval=None)
    assert sorted(
        n for n in os.listdir(log) if n.endswith(".checkpoint.parquet")
    ) == ckpts


def test_export_delta_noop_is_versionless_and_protocol_upgrades_once(spark, tmp_path):
    """A zero-churn re-export writes NOTHING (idempotent — the property a
    crashed-and-replayed streaming exporter needs), and the deletionVectors
    protocol upgrade is emitted exactly once, not per export."""
    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "src"))
    t.overwrite(spark.range(0, 40).selectExpr("id", "id * 1.0 AS v"))
    out = str(tmp_path / "noop")
    export_delta_log(t, out)
    log = os.path.join(out, "_delta_log")
    before = sorted(os.listdir(log))
    export_delta_log(t, out)  # no churn
    export_delta_log(t, out)
    assert sorted(os.listdir(log)) == before
    # MoR delete: first re-export upgrades the protocol + re-adds the file
    t.delete_where("id", "<", 5, mode="mor")
    export_delta_log(t, out)
    export_delta_log(t, out)  # second: no churn again -> nothing written
    commits = [n for n in sorted(os.listdir(log)) if n.endswith(".json")]
    assert commits == [f"{0:020d}.json", f"{1:020d}.json"]
    protos = []
    for n in commits:
        with open(os.path.join(log, n)) as f:
            protos += [json.loads(l) for l in f if '"protocol"' in l]
    assert len(protos) == 2  # v0 initial + the one v1 upgrade
    assert "deletionVectors" in protos[1]["protocol"]["readerFeatures"]
    # another MoR delete churns the DV: export diffs but must NOT re-emit
    # the protocol a third time
    t.delete_where("id", ">=", 35, mode="mor")
    export_delta_log(t, out)
    with open(os.path.join(log, f"{2:020d}.json")) as f:
        assert not any('"protocol"' in l for l in f)
    r = DeltaTableReader(spark, out)
    assert sorted(x["id"] for x in r.read().collect()) == list(range(5, 35))


def test_streaming_append_with_delta_replication(spark, tmp_path):
    """streaming_append(export_delta_to=...) replicates every micro-batch
    into a Delta-readable export; a full checkpoint replay re-runs the
    export harmlessly (no new versions — the no-op export property)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bears_spark.io.snapshot_table import SnapshotTable

    src = tmp_path / "in"
    src.mkdir()
    for i in range(2):
        pq.write_table(
            pa.table({"id": pa.array([i * 10 + j for j in range(5)], pa.int64())}),
            str(src / f"b{i}.parquet"),
        )
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    out = str(tmp_path / "replica")
    stream = (
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(str(src) + "/")
    )
    ckpt = str(tmp_path / "ck")
    finish(t.streaming_append(stream, ckpt, export_delta_to=out))
    r = DeltaTableReader(spark, out)
    assert sorted(x["id"] for x in r.read().collect()) == sorted(
        list(range(0, 5)) + list(range(10, 15))
    )
    log = os.path.join(out, "_delta_log")
    before = sorted(os.listdir(log))
    # replay: ingest skipped by txn stamps, export skipped by zero churn
    finish(t.streaming_append(stream, ckpt, export_delta_to=out))
    assert sorted(os.listdir(log)) == before


def test_streaming_gdpr_delete_with_delta_replication(spark, tmp_path):
    """A GDPR forget-list stream with export_delta_to: every epoch's MoR
    delete replicates as a Delta diff commit (re-add of the same parquet
    with a fresh DV descriptor), so external Delta readers forget the keys
    too; a full replay exports nothing new."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bears_spark.io.snapshot_table import SnapshotTable

    src = tmp_path / "forget"
    src.mkdir()
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(spark.range(0, 40).selectExpr("id", "CAST(id AS DOUBLE) AS v").repartition(2))
    out = str(tmp_path / "replica")
    pq.write_table(pa.table({"id": pa.array([3, 7], pa.int64())}), str(src / "b0.parquet"))
    pq.write_table(pa.table({"id": pa.array([11], pa.int64())}), str(src / "b1.parquet"))
    stream = (
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(str(src) + "/")
    )
    ckpt = str(tmp_path / "ck")
    finish(t.streaming_delete_keys(stream, ckpt, col="id", export_delta_to=out))
    r = DeltaTableReader(spark, out)
    assert sorted(x["id"] for x in r.read().collect()) == [
        i for i in range(40) if i not in {3, 7, 11}
    ]
    log = os.path.join(out, "_delta_log")
    before = sorted(os.listdir(log))
    # replay: delete skipped by txn stamps, export skipped by zero churn
    finish(t.streaming_delete_keys(stream, ckpt, col="id", export_delta_to=out))
    assert sorted(os.listdir(log)) == before
