"""Branches, tags, and write-audit-publish on the snapshot table (Iceberg's
refs model — reference parity: bears has no snapshot/refs layer, SURVEY.md
§1.2).

Model under test: a branch is its OWN manifest namespace sharing the table's
data-file pool (fork = zero-copy manifest snapshot); every existing verb
(write, DDL, constraints, time travel, export) works on a branch handle
unchanged because it is all keyed off manifests. Tags are immutable
main-namespace version pointers that pin snapshots against expiry. Publish
is Iceberg's fast-forward: refuse when main advanced past the fork point.
"""

import pytest
from pyspark.sql import functions as F

from bears_spark.io.snapshot_table import (
    BranchConflictError,
    ConstraintViolationError,
    SnapshotTable,
)
from bears_spark.streaming.jobs import finish


def _mk(spark, tmp_path, name="t"):
    t = SnapshotTable(spark, str(tmp_path / name))
    t.overwrite(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long").coalesce(1)
    )
    return t


def test_write_audit_publish_happy_path(spark, tmp_path):
    t = _mk(spark, tmp_path)
    b = t.create_branch("wap")
    # fork is zero-copy: same file paths, no data moved
    assert {e.path for e in b.files()} == {e.path for e in t.files()}

    b.append(spark.createDataFrame([(3, 30), (4, -999)], "id long, v long").coalesce(1))
    assert t.read().count() == 2  # main is isolated from branch writes
    assert b.read().count() == 4

    # audit + repair on the branch, then fast-forward publish
    assert b.read().filter(F.col("v") < 0).count() == 1
    b.delete_keys("id", [4], mode="cow")
    t.publish_branch("wap")
    assert sorted((r["id"], r["v"]) for r in t.read().collect()) == [
        (1, 10), (2, 20), (3, 30),
    ]
    t.drop_branch("wap")
    assert t.branches() == []


def test_publish_refuses_when_main_moved(spark, tmp_path):
    t = _mk(spark, tmp_path)
    b = t.create_branch("wap")
    b.append(spark.createDataFrame([(5, 50)], "id long, v long").coalesce(1))
    t.append(spark.createDataFrame([(9, 90)], "id long, v long").coalesce(1))
    with pytest.raises(BranchConflictError, match="forked from"):
        t.publish_branch("wap")
    # force publishes the branch state over main (losing main's row 9,
    # which the branch never saw — that is what force means)
    t.publish_branch("wap", force=True)
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 5]


def test_racing_publishes_serialize(spark, tmp_path):
    """Two branches forked from the same version: the first publish wins;
    the second's audit is now stale and must be refused (its CAS retry sees
    main past the fork point)."""
    t = _mk(spark, tmp_path)
    b1 = t.create_branch("b1")
    b2 = t.create_branch("b2")
    b1.append(spark.createDataFrame([(3, 30)], "id long, v long").coalesce(1))
    b2.append(spark.createDataFrame([(4, 40)], "id long, v long").coalesce(1))
    t.publish_branch("b1")
    with pytest.raises(BranchConflictError):
        t.publish_branch("b2")


def test_branch_carries_mapping_constraints_and_txns(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.rename_column("v", "val")
    t.add_check_constraint("val_nonneg", "val >= 0")
    b = t.create_branch("wap")
    assert b.read().columns == ["id", "val"]
    assert b.constraints() == {"val_nonneg": "val >= 0"}
    with pytest.raises(ConstraintViolationError):  # enforced on the branch too
        b.append(spark.createDataFrame([(3, -3)], "id long, val long").coalesce(1))
    # branch-side DDL stays on the branch until publish
    b.add_column("w", "double")
    b.append(spark.createDataFrame([(3, 30, 0.5)], "id long, val long, w double").coalesce(1))
    assert t.read().columns == ["id", "val"]
    t.publish_branch("wap")
    assert t.read().columns == ["id", "val", "w"]
    assert t.constraints() == {"val_nonneg": "val >= 0"}


def test_publish_merges_txn_stamps(spark, tmp_path):
    """An exactly-once writer's (app, batch) stamps survive the publish, so
    replaying the branch's last batch against MAIN is a no-op."""
    t = _mk(spark, tmp_path)
    b = t.create_branch("wap")
    df = spark.createDataFrame([(3, 30)], "id long, v long").coalesce(1)
    b.overwrite(df, txn=("ingest", 7))
    t.publish_branch("wap")
    v = t.current_version()
    assert t.overwrite(df, txn=("ingest", 7)) == v  # replay skipped
    assert t.overwrite(df, txn=("ingest", 8)) == v + 1


def test_branch_create_refusals_and_isolation(spark, tmp_path):
    t = _mk(spark, tmp_path)
    b = t.create_branch("wap")
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("wap")
    with pytest.raises(ValueError, match="main handle"):
        b.create_branch("nested")
    with pytest.raises(ValueError, match="identifier"):
        t.create_branch("bad/name")
    with pytest.raises(ValueError, match="unknown branch"):
        t.branch("nope")
    empty = SnapshotTable(spark, str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="empty table"):
        empty.create_branch("x")
    # a branch can fork from an OLD main version (audit a historical state)
    t.append(spark.createDataFrame([(3, 30)], "id long, v long").coalesce(1))
    old = t.create_branch("hist", from_version=1)
    assert old.read().count() == 2


def test_tags_pin_versions_against_expiry(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v_tag = t.create_tag("rel1")
    for i in range(3, 6):
        t.append(spark.createDataFrame([(i, i * 10)], "id long, v long").coalesce(1))
    expired = t.expire_snapshots(keep_last=1)
    assert v_tag not in expired  # pinned
    assert t.read("rel1").count() == 2  # tag-name time travel still works
    assert t.files("rel1")  # version-taking APIs accept the tag name
    t.delete_tag("rel1")
    assert v_tag in t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="unknown tag"):
        t.read("rel1")


def test_tag_refusals(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.create_tag("rel1")
    with pytest.raises(ValueError, match="immutable"):
        t.create_tag("rel1")
    with pytest.raises(ValueError, match="nonexistent"):
        t.create_tag("rel2", version=99)
    with pytest.raises(ValueError, match="unknown tag"):
        t.delete_tag("nope")
    b = t.create_branch("wap")
    with pytest.raises(ValueError, match="main"):
        b.create_tag("ontobranch")
    assert t.tags() == {"rel1": 1}


def test_vacuum_respects_branch_references(spark, tmp_path):
    """Files only a branch references survive a main-handle vacuum; dropping
    the branch releases them."""
    t = _mk(spark, tmp_path)
    b = t.create_branch("wap")
    b.append(spark.createDataFrame([(3, 30)], "id long, v long").coalesce(1))
    branch_only = {e.path for e in b.files()} - {e.path for e in t.files()}
    assert branch_only
    t.expire_snapshots(keep_last=1)
    assert t.vacuum() == 0  # nothing reclaimable: branch holds its file
    assert b.read().count() == 3
    t.drop_branch("wap")
    assert t.vacuum() >= len(branch_only)
    assert t.read().count() == 2  # main unharmed


def test_branch_time_travel_and_change_feed(spark, tmp_path):
    """The whole snapshot surface works on a branch handle: time travel
    below the fork serves the fork copy (branch v1), and change_feed diffs
    branch states."""
    t = _mk(spark, tmp_path)
    b = t.create_branch("wap")
    b.merge(spark.createDataFrame([(2, 99), (3, 30)], "id long, v long").coalesce(1), key="id")
    assert b.read(1).count() == 2  # fork snapshot
    feed = {r["id"]: r["change_type"] for r in b.change_feed("id", 1, 2).collect()}
    assert feed == {2: "changed", 3: "added"}


def test_tags_export_as_iceberg_refs(spark, tmp_path):
    """Source tags replicate as Iceberg refs (spec v2): each snapshot stamps
    its source version, so a tag resolves to the exported snapshot id; a tag
    whose version the replication cadence skipped is omitted rather than
    mis-pinned, and a deleted tag disappears on the next tick."""
    from bears_spark.io.iceberg_log import IcebergTableReader, export_iceberg_metadata

    t = _mk(spark, tmp_path)
    out = str(tmp_path / "ice")
    export_iceberg_metadata(t, out)  # snapshot 1 <- version 1
    t.create_tag("rel1")             # tags version 1 (already exported)
    t.append(spark.createDataFrame([(3, 30)], "id long, v long").coalesce(1))
    t.create_tag("skipped", version=2)  # version 2 never gets its own export
    t.append(spark.createDataFrame([(4, 40)], "id long, v long").coalesce(1))
    export_iceberg_metadata(t, out)  # snapshot 2 <- version 3

    r = IcebergTableReader(spark, out)
    refs = r.refs()
    assert refs["main"] == {"snapshot-id": 2, "type": "branch"}
    assert refs["rel1"] == {"snapshot-id": 1, "type": "tag"}
    assert "skipped" not in refs
    assert r.read(ref="rel1").count() == 2
    assert r.read(ref="main").count() == 4
    with pytest.raises(ValueError, match="unknown ref"):
        r.read(ref="nope")

    t.delete_tag("rel1")
    t.append(spark.createDataFrame([(5, 50)], "id long, v long").coalesce(1))
    export_iceberg_metadata(t, out)
    assert "rel1" not in IcebergTableReader(spark, out).refs()


def test_streaming_wap_ingest_to_branch_then_publish(spark, tmp_path):
    """Streaming write-audit-publish: the exactly-once micro-batch sink runs
    ON A BRANCH HANDLE unchanged (it is all manifest commits), main's
    readers never see in-flight batches, the audit runs over the quiesced
    branch, and publish fast-forwards main atomically — WITH the stream's
    txn stamps merged, so a checkpoint replay against the published main is
    still a no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = _mk(spark, tmp_path)
    b = t.create_branch("ingest")
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"id": [10, 11, 12], "v": [100, 110, -999]}), str(src / "a.parquet")
    )
    stream = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/")
    )
    ckpt = str(tmp_path / "ckpt")
    finish(b.streaming_append(stream, ckpt))
    assert b.read().count() == 5
    assert t.read().count() == 2  # main never saw the stream

    # audit + repair on the branch, then publish
    assert b.read().filter(F.col("v") < 0).count() == 1
    b.delete_keys("id", [12], mode="cow")
    t.publish_branch("ingest")
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 10, 11]

    # replaying the stream's checkpoint AGAINST MAIN is a no-op: the txn
    # stamps published with the branch state make the epoch a known batch
    before = t.current_version()
    finish(t.streaming_append(stream, ckpt))
    assert t.current_version() == before
    assert t.read().count() == 4


def test_zombie_writer_cannot_resurrect_dropped_branch(spark, tmp_path):
    """A handle onto a branch that was dropped underneath it refuses to
    commit (a branch never legitimately sits at version 0) — without the
    guard, the zombie's append would silently recreate the branch holding
    ONLY its own rows. Reads also fail rather than serving an empty table."""
    t = _mk(spark, tmp_path)
    b = t.create_branch("wap")
    t.drop_branch("wap")
    with pytest.raises(ValueError, match="dropped"):
        b.append(spark.createDataFrame([(9, 90)], "id long, v long").coalesce(1))
    assert t.branches() == []  # nothing resurrected
