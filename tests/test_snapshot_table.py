"""Snapshot-versioned table format: commits, time travel, data skipping,
copy-on-write delete (bears_spark/io/snapshot_table.py)."""

import pytest
from pyspark.sql import functions as F

from bears_spark.io.snapshot_table import SnapshotTable
from bears_spark.streaming.jobs import finish


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "tbl"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 7).alias("bucket"), (F.col("id") * 2).alias("v")
    )


def test_overwrite_append_and_time_travel(spark, table):
    v1 = table.overwrite(_df(spark, 0, 100))
    v2 = table.append(_df(spark, 100, 150))
    assert (v1, v2) == (1, 2)
    assert table.read(version=1).count() == 100
    assert table.read(version=2).count() == 150
    assert table.read().count() == 150  # latest
    hist = table.snapshots()
    assert [h["operation"] for h in hist] == ["overwrite", "append"]
    assert [h["n_rows"] for h in hist] == [100, 150]


def test_append_is_o_delta(spark, table):
    table.overwrite(_df(spark, 0, 100))
    files_v1 = {e.path for e in table.files(version=1)}
    table.append(_df(spark, 100, 120))
    files_v2 = {e.path for e in table.files(version=2)}
    # v1's files carried by reference, not rewritten
    assert files_v1 <= files_v2
    assert len(files_v2) > len(files_v1)


def test_stats_pruning_skips_files(spark, table):
    # write three disjoint id ranges as separate commits -> separate files
    table.overwrite(_df(spark, 0, 100).coalesce(1))
    table.append(_df(spark, 100, 200).coalesce(1))
    table.append(_df(spark, 200, 300).coalesce(1))
    all_files = table.files()
    pruned = table.files(where=("id", ">=", 250))
    assert len(pruned) < len(all_files)  # manifest stats skipped whole files
    got = table.read(where=("id", ">=", 250))
    assert got.count() == 50
    assert got.agg(F.min("id")).first()[0] == 250


def test_pruning_is_semantically_invisible(spark, table):
    table.overwrite(_df(spark, 0, 100).coalesce(1))
    table.append(_df(spark, 100, 200).coalesce(1))
    for where in [("id", "<", 50), ("id", "=", 150), ("id", ">", 199), ("bucket", "<=", 2)]:
        col, op, val = where
        expect = {"<": "id < 50", "=": "id = 150", ">": "id > 199", "<=": "bucket <= 2"}[op]
        assert table.read(where=where).count() == table.read().filter(expect).count()


def test_delete_where_copy_on_write(spark, table):
    table.overwrite(_df(spark, 0, 100).coalesce(1))
    table.append(_df(spark, 100, 200).coalesce(1))
    files_before = {e.path for e in table.files()}
    table.delete_where("id", ">=", 150)
    after = table.files()
    # the [0,100) file is untouched (provably outside the predicate)...
    untouched = {e.path for e in after} & files_before
    assert untouched
    # ...and the data is correct, with history intact
    assert table.read().count() == 150
    assert table.read().agg(F.max("id")).first()[0] == 149
    assert table.read(version=2).count() == 200  # pre-delete snapshot preserved


def test_read_empty_snapshot_raises(spark, table):
    with pytest.raises(ValueError):
        table.read()


def test_compact_bounds_file_count_preserving_data(spark, table):
    for i in range(5):
        fn = table.overwrite if i == 0 else table.append
        fn(_df(spark, i * 20, (i + 1) * 20).coalesce(1))
    assert len(table.files()) == 5
    v = table.compact(target_rows_per_file=100)
    assert v == 6
    assert len(table.files()) < 5
    assert table.read().count() == 100
    assert {r["id"] for r in table.read().collect()} == set(range(100))
    # pre-compaction snapshot still readable from its original files
    assert table.read(version=5).count() == 100


def test_streaming_append_exactly_once(spark, table, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"id": list(range(50)), "v": [i * 2 for i in range(50)]}),
                   str(src / "a.parquet"))
    stream = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/")
    )
    ckpt = str(tmp_path / "ckpt")
    finish(table.streaming_append(stream, ckpt))
    assert table.read().count() == 50
    assert table.committed_batch_ids() == {0}
    # a second availableNow run on the SAME checkpoint sees no new source
    # files -> no new batches -> no commits (and any replayed epoch would be
    # skipped by the batch-id stamp: the commit is the idempotency point)
    before = table.current_version()
    finish(table.streaming_append(stream, ckpt))
    assert table.current_version() == before
    assert table.read().count() == 50
    # new source file -> exactly one more committed batch
    pq.write_table(pa.table({"id": [100, 101], "v": [1, 2]}), str(src / "b.parquet"))
    finish(table.streaming_append(stream, ckpt))
    assert table.read().count() == 52


def test_clustered_overwrite_enables_multidim_skipping(spark, table, tmp_path):
    from bears_spark.io.snapshot_table import SnapshotTable

    # 2-D grid in shuffled order: an unclustered layout gives every file the
    # full [0,32) range on both axes, so stats prune nothing
    grid = (
        spark.range(0, 1024)
        .select((F.col("id") % 32).alias("x"), (F.col("id") / 32).cast("long").alias("y"))
        .orderBy(F.xxhash64("id"))  # destroy natural order
    )
    plain = SnapshotTable(spark, str(tmp_path / "plain"))
    plain.overwrite(grid.repartition(8))
    assert len(plain.files(where=("x", "<", 4))) == len(plain.files())

    table.overwrite_clustered(grid, ["x", "y"], bits=5, num_files=8)
    n_all = len(table.files())
    assert n_all >= 4
    # Z-order clustering makes stats selective on BOTH dimensions
    assert len(table.files(where=("x", "<", 4))) < n_all
    assert len(table.files(where=("y", "<", 4))) < n_all
    # and pruning never changes results
    assert table.read(where=("x", "<", 4)).count() == 4 * 32
    assert table.read(where=("y", "<", 4)).count() == 32 * 4


def test_merge_upsert_copy_on_write(spark, table):
    table.overwrite(_df(spark, 0, 100).coalesce(1))
    table.append(_df(spark, 100, 200).coalesce(1))
    files_before = {e.path for e in table.files()}
    # CDC batch: update ids 150/160, insert id 500 — all outside [0,100)
    src = spark.createDataFrame(
        [(150, 150 % 7, -1), (160, 160 % 7, -2), (500, 500 % 7, -3)],
        "id: bigint, bucket: bigint, v: bigint",
    )
    table.merge(src, key="id")
    # the [0,100) file provably contains no source key: carried by reference
    assert {e.path for e in table.files()} & files_before
    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert len(got) == 201  # 200 originals + 1 insert, no duplicates
    assert got[150] == -1 and got[160] == -2 and got[500] == -3
    assert got[151] == 302  # neighbors untouched
    assert got[0] == 0
    # pre-merge snapshot intact
    assert table.read(version=2).count() == 200


def test_expire_and_vacuum_reclaims_only_dead_files(spark, table):
    table.overwrite(_df(spark, 0, 100).coalesce(1))
    table.overwrite(_df(spark, 0, 50).coalesce(1))   # v2 orphans v1's file
    table.append(_df(spark, 50, 60).coalesce(1))     # v3
    live_files = {e.path for e in table.files()}
    assert table.expire_snapshots(keep_last=2) == [1]
    removed = table.vacuum()
    assert removed == 1  # exactly v1's now-unreferenced file
    # live version (and the retained v2) fully intact
    assert {e.path for e in table.files()} == live_files
    assert table.read().count() == 60
    assert table.read(version=2).count() == 50
    assert [h["version"] for h in table.snapshots()] == [2, 3]


def test_expire_snapshots_by_age(spark, table):
    """Age-based retention: older_than_ms expires only versions whose
    monotone wall-clock commit stamp predates the cutoff, never the live
    version; a manifest without a stamp is conservatively kept (unknown age
    must never age data out)."""
    import json as _json

    table.overwrite(_df(spark, 0, 10).coalesce(1))
    table.append(_df(spark, 10, 20).coalesce(1))
    table.append(_df(spark, 20, 30).coalesce(1))
    snaps = table.snapshots()
    ts = [h["ts_ms"] for h in snaps]
    assert all(isinstance(x, int) and x > 1_577_836_800_000 for x in ts), ts
    assert ts == sorted(ts) and len(set(ts)) == 3, "stamps must be strictly monotone"
    # cutoff before everything: nothing expires
    assert table.expire_snapshots(keep_last=0, older_than_ms=ts[0]) == []
    # cutoff between v1 and v2: only v1 expires (and keep_last still guards)
    assert table.expire_snapshots(keep_last=1, older_than_ms=ts[1]) == [1]
    assert [h["version"] for h in table.snapshots()] == [2, 3]
    # unstamped manifest (pre-stamping history): kept under an age cutoff
    raw = _json.loads(table.store.read(table._manifest_key(2)).decode())
    del raw["ts_ms"]
    table.store.replace(table._manifest_key(2), _json.dumps(raw).encode())
    assert table.expire_snapshots(keep_last=0, older_than_ms=ts[2] + 10_000) == []
    assert [h["version"] for h in table.snapshots()] == [2, 3]


def test_read_as_of_timestamp(spark, table):
    """SnapshotTable timestamp travel: version_as_of resolves the latest
    commit stamp <= the probe; read(as_of_timestamp_ms=) serves that
    snapshot; pre-table probes and version+timestamp together refuse."""
    table.overwrite(_df(spark, 0, 10).coalesce(1))
    table.append(_df(spark, 10, 25).coalesce(1))
    ts = {h["version"]: h["ts_ms"] for h in table.snapshots()}
    assert table.version_as_of(ts[1]) == 1
    assert table.version_as_of(ts[2] - 1) == 1  # stamps are strictly monotone
    assert table.version_as_of(ts[2] + 10_000) == 2
    assert table.read(as_of_timestamp_ms=ts[1]).count() == 10
    assert table.read(as_of_timestamp_ms=ts[2]).count() == 25
    with pytest.raises(ValueError, match="no version at or before"):
        table.version_as_of(ts[1] - 1)
    with pytest.raises(ValueError, match="not both"):
        table.read(version=1, as_of_timestamp_ms=ts[1])


def test_vacuum_grace_period_spares_inflight_files(spark, table):
    """vacuum(min_age_s=...) must skip unreferenced files younger than the
    grace period: a concurrent committer writes data files BEFORE the
    manifest CAS, so a fresh orphan may be an in-flight commit."""
    import os as _os

    table.overwrite(_df(spark, 0, 20).coalesce(1))
    # a crashed/in-flight writer's file: on disk, referenced by no manifest
    sub = _os.path.dirname(table.files()[0].path)
    orphan = _os.path.join(sub, "inflight-xyz.parquet")
    _os.link(table.files()[0].path, orphan)
    assert table.vacuum(min_age_s=3600) == 0  # too young: spared
    assert _os.path.exists(orphan)
    # age it past the cutoff -> reaped
    _os.utime(orphan, (1, 1))
    assert table.vacuum(min_age_s=3600) == 1
    assert not _os.path.exists(orphan)
    assert table.read().count() == 20


def test_schema_evolution_on_append(spark, table):
    table.overwrite(_df(spark, 0, 10).coalesce(1))
    evolved = _df(spark, 10, 20).withColumn("extra", F.lit("new")).coalesce(1)
    table.append(evolved)
    latest = table.read()
    assert "extra" in latest.columns
    assert latest.count() == 20
    assert latest.filter(F.col("extra").isNull()).count() == 10  # old files -> null
    # time travel sees the pre-evolution schema
    assert "extra" not in table.read(version=1).columns


def test_roundtrip_preserves_values_and_nulls(spark, tmp_path):
    # nulls, negatives, empty strings, unicode — commit protocol must be
    # value-transparent
    rows = [
        (1, None, "a"), (2, -5, ""), (3, 0, None), (4, 2**40, "日本語"), (5, None, None),
    ]
    df = spark.createDataFrame(rows, "id: bigint, v: bigint, s: string")
    t = SnapshotTable(spark, str(tmp_path / "rt"))
    t.overwrite(df.filter(F.col("id") <= 3))
    t.append(df.filter(F.col("id") > 3))
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == sorted(rows)


# -- round-5 regressions: null-delete, temporal stats, CAS seam, txn stamps --
import datetime

from bears_spark.io.commit_store import InMemoryCommitStore


def test_delete_where_preserves_null_keys(spark, table):
    """SQL DELETE semantics: a NULL key never matches the predicate, so
    null-keyed rows must survive (r4 VERDICT 'What's wrong' #1 repro)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "id: bigint, k: string"
    )
    table.overwrite(df.coalesce(1))
    table.delete_where("k", "=", "a")
    got = sorted((r["id"], r["k"]) for r in table.read().collect())
    assert got == [(2, None), (3, "c")]


def _ts_df(spark, month, n=50):
    base = datetime.datetime(2024, month, 1)
    rows = [
        (i, base + datetime.timedelta(hours=i), (base + datetime.timedelta(hours=i)).date())
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id: bigint, ts: timestamp, d: date")


def test_temporal_stats_prune_files(spark, table):
    """date/timestamp min/max must survive manifest serialization so file
    skipping works on time-clustered tables (r4 VERDICT #2)."""
    table.overwrite(_ts_df(spark, 1).coalesce(1))
    table.append(_ts_df(spark, 2).coalesce(1))
    table.append(_ts_df(spark, 3).coalesce(1))
    n_all = len(table.files())
    assert n_all == 3
    # datetime predicate prunes on the timestamp column
    cut = datetime.datetime(2024, 3, 1)
    assert len(table.files(where=("ts", ">=", cut))) == 1
    # ISO-string predicate prunes too
    assert len(table.files(where=("ts", ">=", "2024-03-01"))) == 1
    # date-typed column prunes with a date predicate
    assert len(table.files(where=("d", "<", datetime.date(2024, 2, 1)))) == 1
    # and pruning is semantically invisible
    got = table.read(where=("ts", ">=", cut))
    assert got.count() == table.read().filter("ts >= timestamp'2024-03-01'").count() == 50


def test_merge_on_timestamp_key_rewrites_only_overlap(spark, table):
    table.overwrite(_ts_df(spark, 1).coalesce(1))
    table.append(_ts_df(spark, 2).coalesce(1))
    files_before = {e.path for e in table.files()}
    # CDC batch keyed on ts, entirely inside February
    src = spark.createDataFrame(
        [(999, datetime.datetime(2024, 2, 1, 5), datetime.date(2024, 2, 1))],
        "id: bigint, ts: timestamp, d: date",
    )
    table.merge(src, key="ts")
    # the January file provably contains no February key: carried by reference
    assert {e.path for e in table.files()} & files_before
    got = {r["ts"]: r["id"] for r in table.read().collect()}
    assert got[datetime.datetime(2024, 2, 1, 5)] == 999  # updated row
    assert len(got) == 100  # upsert replaced, not duplicated


def test_delete_where_temporal_predicate(spark, table):
    table.overwrite(_ts_df(spark, 1).coalesce(1))
    table.append(_ts_df(spark, 2).coalesce(1))
    files_before = {e.path for e in table.files()}
    table.delete_where("ts", ">=", datetime.datetime(2024, 2, 1))
    # January file untouched (stats prove no match)...
    assert {e.path for e in table.files()} & files_before
    assert table.read().count() == 50
    assert table.read().agg(F.max("ts")).first()[0] < datetime.datetime(2024, 2, 1)


class _RacingStore(InMemoryCommitStore):
    """Injects a competing commit immediately before the first manifest CAS,
    simulating two concurrent committers on an object store."""

    def __init__(self, interloper_holder):
        super().__init__()
        self._holder = interloper_holder
        self._fired = False

    def put_if_absent(self, key, data):
        if "_manifests" in key and not self._fired and self._holder[0] is not None:
            self._fired = True
            self._holder[0]()  # the other writer lands its commit first
        return super().put_if_absent(key, data)


def test_concurrent_commit_cas_conflict(spark, tmp_path):
    """Two concurrent committers: one wins the manifest CAS, the loser
    retries against the new parent — no lost update (r4 VERDICT #4)."""
    holder = [None]
    store = _RacingStore(holder)
    path = str(tmp_path / "cas")
    t1 = SnapshotTable(spark, path, store=store)
    t2 = SnapshotTable(spark, path, store=store)
    t1.overwrite(_df(spark, 0, 10).coalesce(1))
    holder[0] = lambda: t2.append(_df(spark, 100, 110).coalesce(1))
    v = t1.append(_df(spark, 200, 210).coalesce(1))
    # t2 snuck in v2 during t1's first CAS attempt; t1 lost once and retried
    assert v == 3
    assert store.cas_failures == 1
    ids = {r["id"] for r in t1.read().collect()}
    assert ids == set(range(0, 10)) | set(range(100, 110)) | set(range(200, 210))
    assert [h["operation"] for h in t1.snapshots()] == ["overwrite", "append", "append"]


def test_streaming_new_checkpoint_not_mistaken_for_replay(spark, table, tmp_path):
    """Epoch ids restart at 0 under a new checkpoint; the (app_id, batch_id)
    stamp must not skip the new stream's batches (r4 ADVICE #1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def mkstream(name, ids):
        src = tmp_path / name
        src.mkdir()
        pq.write_table(pa.table({"id": list(ids), "v": [0] * len(list(ids))}), str(src / "a.parquet"))
        return spark.readStream.schema("id long, v long").parquet(str(src) + "/")

    finish(table.streaming_append(mkstream("src1", range(10)), str(tmp_path / "ck1")))
    assert table.read().count() == 10
    # a brand-new checkpoint delivers ITS batch 0 — must append, not skip
    finish(table.streaming_append(mkstream("src2", range(100, 105)), str(tmp_path / "ck2")))
    assert table.read().count() == 15
    assert len(table.committed_txns()) == 2  # one stamp per ingest app


def test_expire_preserves_txn_stamps(spark, table, tmp_path):
    """Stamps accumulate into every manifest, so expiring old manifests
    never forgets a committed batch (r4 ADVICE #1, second half)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"id": [1, 2], "v": [0, 0]}), str(src / "a.parquet"))
    stream = spark.readStream.schema("id long, v long").parquet(str(src) + "/")
    finish(table.streaming_append(stream, str(tmp_path / "ck")))
    stamps = table.committed_txns()
    assert stamps
    table.append(_df(spark, 0, 5).coalesce(1))
    table.append(_df(spark, 5, 9).coalesce(1))
    table.expire_snapshots(keep_last=1)
    assert table.committed_txns() == stamps  # survived expiry


def test_read_empty_pruned_keeps_evolved_schema(spark, table):
    """All-files-pruned read must expose the full merged snapshot schema,
    including columns added by later appends (r4 ADVICE #4)."""
    table.overwrite(_df(spark, 0, 100).coalesce(1))
    table.append(_df(spark, 100, 200).withColumn("extra", F.lit("new")).coalesce(1))
    empty = table.read(where=("id", ">", 10_000))
    assert empty.count() == 0
    assert "extra" in empty.columns


# -- PQ vector index on the snapshot table (io/vector_index.py) -------------


def test_pq_index_table_build_append_search(spark, tmp_path):
    import numpy as np

    from bears_spark.io.vector_index import PQIndexTable

    rng = np.random.RandomState(5)
    centers = rng.randn(4, 16) * 10

    def mkdf(ids, cluster):
        rows = [(i, [float(x) for x in centers[cluster] + rng.randn(16) * 0.3]) for i in ids]
        return spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")

    base = mkdf(range(200), 0).union(mkdf(range(200, 400), 1)).union(mkdf(range(400, 600), 2))
    idx = PQIndexTable(spark, str(tmp_path / "pqidx"))
    v1 = idx.build(base, "vec_id", "embedding", m=4, nbits=4)
    assert v1 == 1

    q = [float(x) for x in centers[3]]
    # cluster 3 not indexed yet: top hits come from whichever cluster is
    # nearest, and the index answers without error
    before = idx.search(q, k=5).collect()
    assert len(before) == 5

    # append cluster-3 vectors: O(delta) commit, search now finds them
    idx.append(mkdf(range(1000, 1100), 3), "vec_id", "embedding")
    after = [r["vec_id"] for r in idx.search(q, k=5).collect()]
    assert all(1000 <= v < 1100 for v in after)

    # time travel: the pre-append version still answers the old way
    past = [r["vec_id"] for r in idx.search(q, k=5, version=v1).collect()]
    assert [r["vec_id"] for r in before] == past

    # codes table is narrow: m ints per row, never raw vectors
    assert set(idx.table.read().columns) == {"vec_id", "codes"}


def test_pq_index_streaming_ingest_exactly_once(spark, tmp_path):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bears_spark.io.vector_index import PQIndexTable

    rng = np.random.RandomState(9)
    base_rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(50)]
    base = spark.createDataFrame(base_rows, "vec_id: bigint, embedding: array<double>")
    idx = PQIndexTable(spark, str(tmp_path / "sidx"))
    idx.build(base, "vec_id", "embedding", m=4, nbits=2)

    src = tmp_path / "vecsrc"
    src.mkdir()
    new = [(100 + i, [float(x) for x in rng.randn(8)]) for i in range(20)]
    pq.write_table(
        pa.table({"vec_id": [r[0] for r in new], "embedding": [r[1] for r in new]}),
        str(src / "a.parquet"),
    )
    stream = spark.readStream.schema("vec_id long, embedding array<double>").parquet(str(src) + "/")
    finish(idx.streaming_append(stream, "vec_id", "embedding", str(tmp_path / "ck")))
    assert idx.table.read().count() == 70
    # replay on the same checkpoint: no double-append
    finish(idx.streaming_append(stream, "vec_id", "embedding", str(tmp_path / "ck")))
    assert idx.table.read().count() == 70


# -- LSH near-dup index on the snapshot table (io/lsh_index.py) -------------


def _doc(i, text):
    return (i, text)


def test_lsh_index_incremental_dedup(spark, tmp_path):
    from bears_spark.io.lsh_index import LSHIndexTable

    base_texts = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "machine learning systems require large curated training corpora to work",
        "snapshot tables provide atomic commits and time travel for parquet data",
    ]
    base = spark.createDataFrame(
        [(i, t) for i, t in enumerate(base_texts)], "doc_id: bigint, text: string"
    )
    idx = LSHIndexTable(spark, str(tmp_path / "lsh"))
    assert idx.build(base, "doc_id", "text", num_hashes=16, bands=8) == 1

    # new batch: one near-dup of doc 0 (one word changed), one novel doc
    batch = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
            (101, "completely unrelated content about distributed query optimization plans"),
        ],
        "doc_id: bigint, text: string",
    )
    cands = idx.candidates_for(batch, "doc_id", "text").collect()
    assert {(r["new_id"], r["index_id"]) for r in cands} == {(100, 0)}

    survivors = idx.dedup_batch(batch, "doc_id", "text")
    assert [r["doc_id"] for r in survivors.collect()] == [101]
    # survivor is now indexed: a re-send of the novel doc under a new id dedups
    resend = spark.createDataFrame(
        [(200, "completely unrelated content about distributed query optimization plans")],
        "doc_id: bigint, text: string",
    )
    assert idx.dedup_batch(resend, "doc_id", "text").count() == 0
    # the near-dup (100) was NEVER indexed — it must not shadow future checks
    assert idx.table.read().filter("doc_id = 100").count() == 0


def test_lsh_index_time_travel_candidates(spark, tmp_path):
    from bears_spark.io.lsh_index import LSHIndexTable

    idx = LSHIndexTable(spark, str(tmp_path / "lsh_tt"))
    d0 = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id: bigint, text: string",
    )
    v1 = idx.build(d0, "doc_id", "text", num_hashes=16, bands=8)
    d1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota lambda")],
        "doc_id: bigint, text: string",
    )
    idx.append(d1, "doc_id", "text")

    probe = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta eta theta iota lambda")],
        "doc_id: bigint, text: string",
    )
    now = {r["index_id"] for r in idx.candidates_for(probe, "doc_id", "text").collect()}
    assert 1 in now  # exact text match of doc 1 -> certain candidate
    past = {r["index_id"] for r in idx.candidates_for(probe, "doc_id", "text", version=v1).collect()}
    assert 1 not in past  # before doc 1 was indexed, it can't be a candidate


def test_local_store_put_if_absent_without_hardlinks(tmp_path, monkeypatch):
    """Filesystems without hard links fall back to O_CREAT|O_EXCL — same CAS
    semantics."""
    import os as _os

    from bears_spark.io.commit_store import LocalCommitStore

    store = LocalCommitStore()

    def no_link(src, dst):
        raise OSError(38, "Function not implemented")

    monkeypatch.setattr(_os, "link", no_link)
    key = str(tmp_path / "ns" / "k1")
    assert store.put_if_absent(key, b"first") is True
    assert store.put_if_absent(key, b"second") is False
    assert store.read(key) == b"first"
    # no tmp litter
    assert [n for n in _os.listdir(tmp_path / "ns") if n.endswith(".tmp")] == []


def test_local_store_reclaims_abandoned_zero_byte_claim(tmp_path, monkeypatch):
    """A crash between the O_CREAT|O_EXCL claim and os.replace leaves a
    permanent zero-byte key. After the grace period the next put_if_absent
    must reclaim it instead of wedging the table forever; within the grace
    period it must NOT (the claim may be a live committer mid-swap)."""
    import os as _os
    import time as _time

    from bears_spark.io.commit_store import LocalCommitStore

    store = LocalCommitStore()
    key = str(tmp_path / "ns" / "v1")
    _os.makedirs(tmp_path / "ns")
    with open(key, "wb"):
        pass  # the crashed committer's permanent zero-byte claim

    # young claim: treated as live, CAS still loses
    assert store.put_if_absent(key, b"late") is False
    # aged claim: reclaimed, commit proceeds with full payload
    old = _time.time() - 60
    _os.utime(key, (old, old))
    assert store.put_if_absent(key, b"late") is True
    assert store.read(key) == b"late"
    # a REAL (non-empty) manifest is never reclaimed no matter how old
    key2 = str(tmp_path / "ns" / "v2")
    with open(key2, "wb") as f:
        f.write(b"real")
    _os.utime(key2, (old, old))
    assert store.put_if_absent(key2, b"usurper") is False
    assert store.read(key2) == b"real"
    # abandoned-claim remnants are invisible to the manifest listing
    assert [n for n in _os.listdir(tmp_path / "ns") if n.endswith(".tmp")] != []
    assert all(k in (key, key2) for k in store.list_prefix(str(tmp_path / "ns")))


def test_decimal_columns_commit_without_stats(spark, tmp_path):
    """pyarrow can't extract footer stats for some types (decimals raise
    ArrowNotImplementedError): the commit must skip those columns' stats
    (conservative match) instead of failing the whole write."""
    t = SnapshotTable(spark, str(tmp_path / "dec"))
    df = spark.range(10).select("id", F.col("id").cast("decimal(10,2)").alias("d"))
    t.overwrite(df.coalesce(1))
    assert t.read().count() == 10
    assert "id" in t.files()[0].stats  # harvest still ran for plain types
    # where-pruning over the stats-less column stays semantically invisible
    assert {r["id"] for r in t.read(where=("d", ">=", 5)).collect()} == set(range(5, 10))


def test_changes_since_reads_only_new_files(spark, table):
    v1 = table.overwrite(_df(spark, 0, 100))
    table.append(_df(spark, 100, 150))
    table.append(_df(spark, 150, 160))
    delta = table.changes_since(v1)
    assert sorted(r["id"] for r in delta.collect()) == list(range(100, 160))
    # IO is O(delta): only files committed after v1 are opened
    base_paths = {e.path for e in table.files(version=v1)}
    assert not base_paths & set(delta.inputFiles())
    # no new commits -> typed empty frame
    assert table.changes_since(table.current_version()).count() == 0


def test_change_feed_types_all_ops(spark, table):
    table.overwrite(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, s string"))
    v1 = table.current_version()
    table.delete_where("k", "=", 1)
    table.merge(spark.createDataFrame([(2, "B"), (4, "d")], "k long, s string"), key="k")
    feed = {r["k"]: r["change_type"] for r in table.change_feed("k", from_version=v1).collect()}
    assert feed == {1: "removed", 2: "changed", 4: "added"}


def test_snapshot_table_model_fuzz(spark, tmp_path):
    """Model-based fuzz: a seeded random sequence of table operations
    (append / delete_where / merge / compact / overwrite) executed against
    BOTH the SnapshotTable and an in-memory pandas model; after every op the
    table must equal the model, and at the end every checkpointed version
    must still time-travel to its recorded state. This is the test class
    that catches semantic drift (e.g. the round-4 null-key delete bug) in
    op COMBINATIONS no example-based test enumerates."""
    import random

    import pandas as pd

    rng = random.Random(20260814)
    tbl = SnapshotTable(spark, str(tmp_path / "fuzz"))

    def mk_rows(n):
        # k: occasionally-null keys (the round-4 bug class), v: payload
        return [
            (rng.choice([None, rng.randint(0, 30)]) if rng.random() < 0.2 else rng.randint(0, 30),
             rng.randint(0, 999))
            for _ in range(n)
        ]

    def to_df(rows):
        return spark.createDataFrame(pd.DataFrame(rows, columns=["k", "v"]).astype({"v": "int64"}), "k long, v long")

    model = pd.DataFrame(columns=["k", "v"])
    tbl.overwrite(to_df(mk_rows(20)))
    model = pd.DataFrame(mk_rows(0), columns=["k", "v"])  # rebuilt below

    def table_state():
        pdf = tbl.read().toPandas()
        return sorted(map(tuple, pdf[["k", "v"]].fillna(-999).to_numpy().tolist()))

    def model_state():
        return sorted(map(tuple, model.fillna(-999).to_numpy().tolist()))

    # re-seed the model with exactly what landed in v1
    model = tbl.read().toPandas()[["k", "v"]]

    checkpoints = {}
    for step in range(12):
        op = rng.choice(["append", "delete", "merge", "compact", "overwrite",
                         "update", "update_keys"])
        if op == "append":
            rows = mk_rows(rng.randint(1, 10))
            tbl.append(to_df(rows))
            model = pd.concat([model, pd.DataFrame(rows, columns=["k", "v"])], ignore_index=True)
        elif op == "delete":
            cut = rng.randint(0, 30)
            tbl.delete_where("k", "<", cut)
            # SQL DELETE: NULL keys never match the predicate and survive
            model = model[~(model["k"] < cut) | model["k"].isna()]
        elif op == "merge":
            # unique non-null keys (merge contract), upsert semantics
            src = [(k, rng.randint(0, 999)) for k in rng.sample(range(0, 35), rng.randint(1, 5))]
            tbl.merge(to_df(src), key="k")
            src_df = pd.DataFrame(src, columns=["k", "v"])
            # SQL MERGE: EVERY matching target row updates (dup target keys
            # each take the source value); source keys with no match insert
            vmap = dict(src)
            matched = model["k"].isin(vmap)
            model = model.copy()
            model.loc[matched, "v"] = model.loc[matched, "k"].map(vmap)
            new_keys = set(src_df["k"]) - set(model["k"].dropna())
            model = pd.concat(
                [model, src_df[src_df["k"].isin(new_keys)]], ignore_index=True
            )
        elif op == "compact":
            tbl.compact(target_rows_per_file=50)
        elif op == "update":
            cut = rng.randint(0, 30)
            bump = rng.randint(1, 50)
            tbl.update_where("k", ">=", cut, set={"v": F.col("v") + bump},
                             mode=rng.choice(["cow", "mor"]))
            # SQL UPDATE: NULL keys never match; unmatched rows unchanged
            model = model.copy()
            hit = (model["k"] >= cut) & model["k"].notna()
            model.loc[hit, "v"] = model.loc[hit, "v"] + bump
        elif op == "update_keys":
            ks = rng.sample(range(0, 35), rng.randint(1, 4))
            newv = rng.randint(0, 999)
            tbl.update_keys("k", ks, set={"v": newv},
                            mode=rng.choice(["cow", "mor"]))
            model = model.copy()
            hit = model["k"].isin(ks)
            model.loc[hit, "v"] = newv
        else:
            rows = mk_rows(rng.randint(5, 15))
            tbl.overwrite(to_df(rows))
            model = pd.DataFrame(rows, columns=["k", "v"])
        assert table_state() == model_state(), f"divergence after step {step}: {op}"
        if rng.random() < 0.3:
            checkpoints[tbl.current_version()] = model_state()

    for version, expected in checkpoints.items():
        pdf = tbl.read(version=version).toPandas()
        got = sorted(map(tuple, pdf[["k", "v"]].fillna(-999).to_numpy().tolist()))
        assert got == expected, f"time travel to v{version} drifted"


def test_concurrent_commit_stress_no_lost_updates(spark, tmp_path):
    """Two real threads x 5 appends each racing through the SAME local
    store: every commit must land exactly once (CAS retry, no lost update),
    versions strictly sequential, and all 100 rows present at the end."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "stress")
    t1 = SnapshotTable(spark, path)
    t2 = SnapshotTable(spark, path)
    t1.overwrite(_df(spark, 0, 0).limit(0).coalesce(1))  # v1: empty seed

    def writer(tbl, lo):
        for i in range(5):
            tbl.append(_df(spark, lo + i * 10, lo + i * 10 + 10).coalesce(1))

    with ThreadPoolExecutor(max_workers=2) as ex:
        f1 = ex.submit(writer, t1, 0)
        f2 = ex.submit(writer, t2, 1000)
        f1.result()
        f2.result()

    assert t1.current_version() == 11  # 1 seed + 10 appends, none lost
    ids = sorted(r["id"] for r in t1.read().collect())
    assert ids == sorted(list(range(0, 50)) + list(range(1000, 1050)))
    ops = [h["operation"] for h in t1.snapshots()]
    assert ops.count("append") == 10


def test_bloom_filters_prune_unclustered_point_lookups(spark, tmp_path):
    """Interleaved key sets: every file's min/max RANGE covers every probe
    value (range stats prune nothing), but the per-file value SETS are
    disjoint — the manifest Bloom filters must prune to one file for '='
    probes, with zero false negatives."""
    t = SnapshotTable(spark, str(tmp_path / "bloomed"), bloom_cols=["k"])
    # file i holds k in {i, i+10, i+20, ... i+90}: ranges all ~[i, i+90]
    def keyed(i):
        return spark.range(10).select((F.col("id") * 10 + i).alias("k"), F.lit(i).alias("src"))

    t.overwrite(keyed(0).coalesce(1))
    t.append(keyed(1).coalesce(1))
    t.append(keyed(2).coalesce(1))
    assert len(t.files()) == 3
    # every file's [min, max] range contains 41 — range stats alone keep all 3
    from bears_spark.io.snapshot_table import _decode_stat

    for e in t.files():
        assert _decode_stat(e.stats["k"]["min"]) <= 41 <= _decode_stat(e.stats["k"]["max"])
    # bloom prunes to exactly the one file that holds k=41 (file 1)
    hit = t.files(where=("k", "=", 41))
    assert len(hit) == 1
    assert t.read(where=("k", "=", 41)).count() == 1
    # no false negatives on spot probes of present keys
    for probe in (0, 11, 22, 90, 91, 92):
        expect = 1
        assert t.read(where=("k", "=", probe)).count() == expect
    # a value in no file: bloom + stats prune everything, typed empty result
    assert t.read(where=("k", "=", 55)).count() == 0
    # time travel keeps the blooms (they live in the manifest)
    assert len(t.files(version=2, where=("k", "=", 41))) == 1


def test_bloom_rejects_unsupported_types_and_survives_streaming(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # float columns would break the no-false-negative guarantee -> refused
    t = SnapshotTable(spark, str(tmp_path / "b1"), bloom_cols=["x"])
    with pytest.raises(ValueError, match="integer or string"):
        t.overwrite(spark.range(5).select(F.col("id").cast("double").alias("x")))

    # blooms attach through the streaming-ingest sink too
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 3], "v": [10, 20, 30]}), str(src / "a.parquet"))
    t2 = SnapshotTable(spark, str(tmp_path / "b2"), bloom_cols=["k"])
    stream = (
        spark.readStream.schema("k long, v long").option("maxFilesPerTrigger", 1).parquet(str(src) + "/")
    )
    finish(t2.streaming_append(stream, str(tmp_path / "ckpt")))
    assert all("k" in e.blooms for e in t2.files())
    assert len(t2.files(where=("k", "=", 999))) == 0  # bloom-pruned everything


def test_delete_keys_gdpr_path_prunes_with_blooms(spark, tmp_path):
    """Forget-list delete: only files that can contain a listed key rewrite
    (bloom-proven absence keeps the rest by reference); null keys survive;
    history is intact."""
    t = SnapshotTable(spark, str(tmp_path / "gdpr"), bloom_cols=["k"])

    def keyed(i):  # file i holds k in {i, i+10, ..., i+90} + one null row
        base = spark.range(10).select((F.col("id") * 10 + i).alias("k"), F.lit(i).alias("src"))
        return base.unionByName(
            spark.createDataFrame([(None, i)], "k long, src long")
        )

    t.overwrite(keyed(0).coalesce(1))
    t.append(keyed(1).coalesce(1))
    t.append(keyed(2).coalesce(1))
    files_before = {e.path for e in t.files()}
    v = t.delete_keys("k", [41, 61, None])  # both live in file 1 only
    assert v == 4
    # files 0 and 2 carried by reference (bloom proves absence of 41/61)
    assert len({e.path for e in t.files()} & files_before) == 2
    remaining = t.read()
    assert remaining.filter(F.col("k").isin([41, 61])).count() == 0
    assert remaining.filter(F.col("k").isNull()).count() == 3  # nulls survive
    assert remaining.count() == 33 - 2
    # pre-delete snapshot intact; empty forget-list is a no-op version
    assert t.read(version=3).count() == 33
    assert t.delete_keys("k", []) == 4
    # DataFrame-shaped forget list works too
    t.delete_keys("k", spark.createDataFrame([(22,)], "k long"))
    assert t.read().filter("k = 22").count() == 0


def test_restore_rolls_back_as_new_commit(spark, table):
    table.overwrite(_df(spark, 0, 100).coalesce(1))
    table.append(_df(spark, 100, 150).coalesce(1))
    table.delete_where("id", "<", 30)  # the "bad" commit
    assert table.read().count() == 120
    v = table.restore(2)
    assert v == 4
    # current state == v2 exactly; the bad v3 stays time-travelable
    assert table.read().count() == 150
    assert {r["id"] for r in table.read().collect()} == set(range(150))
    assert table.read(version=3).count() == 120
    assert [h["operation"] for h in table.snapshots()][-2:] == ["delete", "restore"]
    # restore copied no data: v4 references v2's files verbatim
    assert {e.path for e in table.files(version=4)} == {e.path for e in table.files(version=2)}


def test_compact_aborts_stale_inputs_after_concurrent_delete(spark, tmp_path):
    """ADVICE r5 #2: compact materializes its replacement files from a
    pre-CAS snapshot; if a concurrent delete rewrites one of the compacted
    inputs before the commit, blindly applying (parent - smalls) + new would
    RESURRECT the deleted rows. The build closure must detect the stale
    input and rebuild against the new snapshot."""
    holder = [None]
    store = _RacingStore(holder)
    path = str(tmp_path / "cmp")
    t1 = SnapshotTable(spark, path, store=store)
    t2 = SnapshotTable(spark, path, store=store)
    t1.overwrite(_df(spark, 0, 50).coalesce(1))
    t1.append(_df(spark, 50, 100).coalesce(1))
    # interloper deletes id<10 (rewrites the first small file) mid-compact
    holder[0] = lambda: t2.delete_where("id", "<", 10)
    t1.compact(target_rows_per_file=1_000)
    ids = {r["id"] for r in t1.read().collect()}
    assert ids == set(range(10, 100))  # deleted rows did NOT resurrect
    # and the surviving rows are compacted without duplication
    assert t1.read().count() == 90


def test_two_concurrent_compacts_no_duplicate_rows(spark, tmp_path):
    """Two racing compacts: the loser detects its inputs were already
    replaced and re-plans; rows are never duplicated."""
    holder = [None]
    store = _RacingStore(holder)
    path = str(tmp_path / "cmp2")
    t1 = SnapshotTable(spark, path, store=store)
    t2 = SnapshotTable(spark, path, store=store)
    t1.overwrite(_df(spark, 0, 40).coalesce(1))
    t1.append(_df(spark, 40, 80).coalesce(1))
    holder[0] = lambda: t2.compact(target_rows_per_file=1_000)
    t1.compact(target_rows_per_file=1_000)
    rows = t1.read().collect()
    assert len(rows) == 80
    assert len({r["id"] for r in rows}) == 80  # no duplicates


def test_load_manifest_retries_zero_byte_claim(spark, tmp_path):
    """The no-hardlink fallback publishes claim-then-swap; a reader hitting
    the momentary zero-byte claim retries instead of raising
    JSONDecodeError (ADVICE r5 #3)."""
    from bears_spark.io.commit_store import LocalCommitStore

    table = SnapshotTable(spark, str(tmp_path / "zb"))
    table.overwrite(_df(spark, 0, 10).coalesce(1))

    real_read = LocalCommitStore.read
    calls = {"n": 0}

    class FlakyStore(LocalCommitStore):
        def read(self, key):
            if "_manifests" in key and calls["n"] < 2:
                calls["n"] += 1
                return b""  # zero-byte claim window
            return real_read(self, key)

    flaky = SnapshotTable(spark, str(tmp_path / "zb"), store=FlakyStore())
    m = flaky._load_manifest()
    assert m["version"] == 1 and calls["n"] == 2


def test_bloom_probe_type_mismatch_no_false_negative(spark, tmp_path):
    """ADVICE r5 #4: a float probe against a bigint bloom column must not
    hash '41.0' vs the stored '41' and silently prune the matching file —
    the probe is normalized to every plausible storage rendering."""
    t = SnapshotTable(spark, str(tmp_path / "bl"), bloom_cols=["id"])
    t.overwrite(_df(spark, 0, 100).coalesce(1))
    t.append(_df(spark, 100, 200).coalesce(1))
    # int probe baseline: bloom prunes the non-matching file
    assert len(t.files(where=("id", "=", 41))) < len(t.files())
    # float probe with integral value: must still FIND the row
    got = t.read(where=("id", "=", 41.0))
    assert {r["id"] for r in got.collect()} == {41}
    # delete_keys with float-typed keys must actually delete
    t.delete_keys("id", [41.0, 150.0])
    assert t.read().filter(F.col("id").isin([41, 150])).count() == 0
    # non-integral float probe can never equal a bigint: files may prune by
    # stats; the read must simply return nothing (and not crash)
    assert t.read(where=("id", "=", 41.5)).count() == 0


# ---- object-store CommitStores through stub transports (VERDICT r5 #7) ----

class _StubClientError(Exception):
    def __init__(self, code):
        super().__init__(code)
        self.response = {"Error": {"Code": code}}


class _StubS3Client:
    """Minimal boto3-S3-shaped transport with real conditional-put CAS."""

    def __init__(self):
        import threading

        self._objs = {}
        self._lock = threading.Lock()

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
        with self._lock:
            if IfNoneMatch == "*" and Key in self._objs:
                raise _StubClientError("PreconditionFailed")
            self._objs[Key] = bytes(Body)
        return {}

    def get_object(self, Bucket, Key):
        import io as _io

        with self._lock:
            if Key not in self._objs:
                raise _StubClientError("NoSuchKey")
            return {"Body": _io.BytesIO(self._objs[Key])}

    def list_objects_v2(self, Bucket, Prefix, ContinuationToken=None, StartAfter=None):
        self.last_start_after = StartAfter
        with self._lock:
            ks = sorted(
                k
                for k in self._objs
                if k.startswith(Prefix) and (StartAfter is None or k > StartAfter)
            )
        return {"Contents": [{"Key": k} for k in ks], "IsTruncated": False}

    def delete_object(self, Bucket, Key):
        with self._lock:
            self._objs.pop(Key, None)
        return {}


class _StubGCSBlob:
    def __init__(self, store, name):
        self._store, self.name = store, name

    def upload_from_string(self, data, if_generation_match=None):
        with self._store._lock:
            if if_generation_match == 0 and self.name in self._store._objs:
                e = _StubClientError("PreconditionFailed")
                e.code = 412
                raise e
            self._store._objs[self.name] = data.encode() if isinstance(data, str) else bytes(data)

    def download_as_bytes(self):
        with self._store._lock:
            if self.name not in self._store._objs:
                e = _StubClientError("NotFound")
                e.code = 404
                raise e
            return self._store._objs[self.name]

    def delete(self):
        with self._store._lock:
            if self.name not in self._store._objs:
                e = _StubClientError("NotFound")
                e.code = 404
                raise e
            del self._store._objs[self.name]


class _StubGCSBucket:
    def __init__(self):
        import threading

        self._objs = {}
        self._lock = threading.Lock()

    def blob(self, name):
        return _StubGCSBlob(self, name)

    def list_blobs(self, prefix, start_offset=None):
        self.last_start_offset = start_offset
        with self._lock:
            return [
                _StubGCSBlob(self, k)
                for k in sorted(self._objs)
                if k.startswith(prefix) and (start_offset is None or k >= start_offset)
            ]


class _Interposing:
    """Wrap any CommitStore: fire the interloper once, immediately before the
    first manifest CAS — the generalized _RacingStore."""

    def __init__(self, inner, holder):
        self._inner, self._holder, self._fired = inner, holder, False
        self.cas_failures = 0

    def put_if_absent(self, key, data):
        if "_manifests" in key and not self._fired and self._holder[0] is not None:
            self._fired = True
            self._holder[0]()
        ok = self._inner.put_if_absent(key, data)
        if not ok:
            self.cas_failures += 1
        return ok

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _store_factories():
    from bears_spark.io.commit_store import (
        GCSCommitStore,
        InMemoryCommitStore,
        LocalCommitStore,
        S3CommitStore,
    )

    return {
        "memory": lambda tmp: InMemoryCommitStore(),
        "local": lambda tmp: LocalCommitStore(),
        "s3-stub": lambda tmp: S3CommitStore("test-bucket", client=_StubS3Client()),
        "gcs-stub": lambda tmp: GCSCommitStore("test-bucket", bucket_obj=_StubGCSBucket()),
    }


@pytest.mark.parametrize("kind", ["memory", "local", "s3-stub", "gcs-stub"])
def test_racing_committers_all_stores(spark, tmp_path, kind):
    """The CAS commit protocol holds on every store implementation: one
    committer wins v(N+1), the loser retries against the new parent, no
    lost update — S3 via IfNoneMatch='*', GCS via if_generation_match=0,
    exercised through stub transports with real conditional semantics."""
    holder = [None]
    store = _Interposing(_store_factories()[kind](tmp_path), holder)
    path = str(tmp_path / f"race-{kind}")
    t1 = SnapshotTable(spark, path, store=store)
    t2 = SnapshotTable(spark, path, store=store)
    t1.overwrite(_df(spark, 0, 10).coalesce(1))
    holder[0] = lambda: t2.append(_df(spark, 100, 110).coalesce(1))
    v = t1.append(_df(spark, 200, 210).coalesce(1))
    assert v == 3
    assert store.cas_failures == 1
    ids = {r["id"] for r in t1.read().collect()}
    assert ids == set(range(0, 10)) | set(range(100, 110)) | set(range(200, 210))


def _apply_model(state: dict, op: tuple) -> dict:
    """Pure-Python serial-order model over {id -> v} for the conflict matrix."""
    kind = op[0]
    out = dict(state)
    if kind == "merge":
        out.update(op[1])
    elif kind == "delete_keys":
        for k in op[1]:
            out.pop(k, None)
    elif kind == "delete_where_ge":
        out = {k: v for k, v in out.items() if not (k >= op[1])}
    elif kind == "update_ge":
        out = {k: (v + op[2] if k >= op[1] else v) for k, v in out.items()}
    return out


def _run_op(t, spark, op: tuple) -> None:
    kind = op[0]
    if kind == "merge":
        src = spark.createDataFrame(
            [(k, v) for k, v in sorted(op[1].items())], "id long, v long"
        ).coalesce(1)
        t.merge(src, key="id")
    elif kind == "delete_keys":
        t.delete_keys("id", list(op[1]), mode=op[2])
    elif kind == "delete_where_ge":
        t.delete_where("id", ">=", op[1], mode=op[2])
    elif kind == "update_ge":
        t.update_where("id", ">=", op[1], set={"v": F.col("v") + op[2]}, mode=op[3])


# the write-write semantic conflict matrix (VERDICT r10 "Next round" #4):
# a VICTIM operation builds against snapshot S0; immediately before its
# manifest CAS an INTERLOPER touching the SAME file set commits. The CAS
# serializes them — the victim must retry/rebuild against the interloper's
# output (merge and CoW deletes re-run their build closure per attempt; MoR
# deletes verify affected file identities and recompute on _Stale) — so the
# final state must equal the serial order interloper-then-victim, with no
# lost update and no resurrected row.
_CONFLICT_MATRIX = [
    ("merge_vs_mor_delete",
     ("merge", {3: 300, 4: 400, 5: 500, 6: 600}),
     ("delete_keys", [4], "mor")),
    ("merge_vs_cow_delete_where",
     ("merge", {0: 0, 1: 100}),
     ("delete_where_ge", 8, "cow")),
    ("mor_delete_vs_merge",
     ("delete_keys", [3], "mor"),
     ("merge", {3: 300, 4: 400})),
    ("mor_delete_where_vs_merge",
     ("delete_where_ge", 8, "mor"),
     ("merge", {8: 800, 9: 900})),
    ("cow_delete_vs_merge",
     ("delete_keys", [5], "cow"),
     ("merge", {5: 555, 6: 666})),
    ("merge_vs_merge",
     ("merge", {2: 222, 3: 333}),
     ("merge", {3: 933, 4: 944})),
    # UPDATE joins the matrix: both modes as victim and interloper — a CoW
    # update rebuilds from the fresh parent per CAS attempt; an update-mor
    # victim must rebuild BOTH its tombstones and its updated-row files
    # when the interloper rewrote an affected file (_Stale), or the update
    # would be computed from pre-interloper values (lost update)
    ("update_cow_vs_mor_delete",
     ("update_ge", 5, 1000, "cow"),
     ("delete_keys", [7], "mor")),
    ("update_mor_vs_merge",
     ("update_ge", 3, 1000, "mor"),
     ("merge", {3: 303, 4: 404})),
    ("merge_vs_update_mor",
     ("merge", {2: 222, 9: 999}),
     ("update_ge", 8, 50, "mor")),
    ("update_mor_vs_update_cow",
     ("update_ge", 0, 7, "mor"),
     ("update_ge", 5, 11, "cow")),
]


@pytest.mark.parametrize("name,victim,interloper", _CONFLICT_MATRIX)
def test_write_write_conflict_matrix(spark, tmp_path, name, victim, interloper):
    from bears_spark.io.commit_store import LocalCommitStore

    holder = [None]
    store = _Interposing(LocalCommitStore(), holder)
    path = str(tmp_path / f"conflict-{name}")
    t1 = SnapshotTable(spark, path, store=store)
    t2 = SnapshotTable(spark, path, store=store)
    base = {i: i * 10 for i in range(10)}
    t1.overwrite(
        spark.createDataFrame(sorted(base.items()), "id long, v long").coalesce(1)
    )
    holder[0] = lambda: _run_op(t2, spark, interloper)
    _run_op(t1, spark, victim)
    assert store.cas_failures >= 1  # the victim really did lose its first CAS
    expected = _apply_model(_apply_model(base, interloper), victim)
    got = {r["id"]: r["v"] for r in t1.read().collect()} if expected else {}
    assert got == expected, (name, got, expected)


class _FlakyS3Client(_StubS3Client):
    """Injects transient failures: 'timeout-after-write' (the put LANDS but
    the response is lost) and plain 500s (the put never happens)."""

    def __init__(self, plan):
        super().__init__()
        self.plan = list(plan)  # per put_object call: ok | timeout_after_write | err500
        self.put_calls = 0

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
        mode = self.plan[self.put_calls] if self.put_calls < len(self.plan) else "ok"
        self.put_calls += 1
        if mode == "err500":
            raise _StubClientError("InternalError")
        out = super().put_object(Bucket, Key, Body, IfNoneMatch=IfNoneMatch)
        if mode == "timeout_after_write":
            raise _StubClientError("RequestTimeout")
        return out


class _FlakyGCSBucket(_StubGCSBucket):
    def __init__(self, plan):
        super().__init__()
        self.plan = list(plan)
        self.put_calls = 0

    def blob(self, name):
        outer = self

        class _B(_StubGCSBlob):
            def upload_from_string(self, data, if_generation_match=None):
                mode = outer.plan[outer.put_calls] if outer.put_calls < len(outer.plan) else "ok"
                outer.put_calls += 1
                if mode == "err500":
                    e = _StubClientError("InternalError")
                    e.code = 503
                    raise e
                super().upload_from_string(data, if_generation_match=if_generation_match)
                if mode == "timeout_after_write":
                    raise TimeoutError("response lost")

        return _B(self, name)


@pytest.mark.parametrize("kind", ["s3", "gcs"])
def test_object_store_ambiguous_put_resolution(kind):
    """VERDICT r6 #8: a timed-out conditional put may have LANDED — the store
    must re-read and compare before concluding anything. Proves: no duplicate
    version (the committer whose put landed gets True exactly once), no false
    conflict (a transient 500 doesn't fail the commit), and a racing
    different-payload committer still loses honestly."""
    from bears_spark.io.commit_store import GCSCommitStore, S3CommitStore

    def make(plan):
        if kind == "s3":
            c = _FlakyS3Client(plan)
            s = S3CommitStore("test-bucket", client=c)
        else:
            c = _FlakyGCSBucket(plan)
            s = GCSCommitStore("test-bucket", bucket_obj=c)
        s.RETRY_BACKOFF = 0.001
        return s, c

    # timeout AFTER the write landed: resolved to success by payload compare,
    # exactly one object version, and a later competitor truly conflicts
    store, client = make(["timeout_after_write"])
    assert store.put_if_absent("tbl/_manifests/v1", b"mine") is True
    assert store.read("tbl/_manifests/v1") == b"mine"
    assert store.put_if_absent("tbl/_manifests/v1", b"theirs") is False
    assert store.read("tbl/_manifests/v1") == b"mine"

    # plain 500 with NO write: retried, commits cleanly, no false conflict
    store, client = make(["err500", "ok"])
    assert store.put_if_absent("tbl/_manifests/v2", b"mine") is True
    assert store.read("tbl/_manifests/v2") == b"mine"
    assert client.put_calls == 2

    # ambiguous failure where ANOTHER committer's payload landed in between:
    # resolved to a real conflict, the winner's manifest untouched
    store, client = make(["err500"])
    client._objs["tbl/_manifests/v3"] = b"theirs"
    assert store.put_if_absent("tbl/_manifests/v3", b"mine") is False
    assert store.read("tbl/_manifests/v3") == b"theirs"

    # retries exhausted on a persistent outage: the error surfaces (never a
    # silent False that would make the committer re-read a parent that isn't
    # there)
    store, client = make(["err500"] * 10)
    store.RETRIES = 2
    with pytest.raises(Exception):
        store.put_if_absent("tbl/_manifests/v4", b"mine")


def test_object_store_ambiguous_put_read_errors():
    """After an ambiguous put the store re-reads the key: a flaky read retries
    the put, any other read error propagates instead of being retried."""
    from bears_spark.io.commit_store import S3CommitStore

    class _ReadFails(_FlakyS3Client):
        def __init__(self, plan, read_errors):
            super().__init__(plan)
            self.read_errors = list(read_errors)

        def get_object(self, Bucket, Key):
            if self.read_errors:
                raise _StubClientError(self.read_errors.pop(0))
            return super().get_object(Bucket, Key)

    client = _ReadFails(["err500", "ok"], ["SlowDown"])
    store = S3CommitStore("test-bucket", client=client)
    store.RETRY_BACKOFF = 0.001
    assert store.put_if_absent("tbl/_manifests/v1", b"mine") is True
    assert client.put_calls == 2

    client = _ReadFails(["err500", "ok"], ["AccessDenied"])
    store = S3CommitStore("test-bucket", client=client)
    store.RETRY_BACKOFF = 0.001
    with pytest.raises(_StubClientError, match="AccessDenied"):
        store.put_if_absent("tbl/_manifests/v1", b"mine")
    assert client.put_calls == 1


def test_s3_store_boto3_wiring():
    """Constructing without an injected client goes through real boto3
    (no network at construction time); honest skip when boto3 is absent."""
    boto3 = pytest.importorskip("boto3")
    from bears_spark.io.commit_store import S3CommitStore

    store = S3CommitStore("some-bucket")
    assert store.client is not None
    assert store._key("s3a://some-bucket/tbl/_manifests/v1.json") == "tbl/_manifests/v1.json"
    assert store._key("tbl/_manifests/v1.json") == "tbl/_manifests/v1.json"


def test_vacuum_reclaims_aborted_compact_outputs(spark, tmp_path):
    """An aborted compact attempt leaves its replacement files written but
    unreferenced by every manifest; vacuum() reclaims exactly them."""
    import os as _os

    holder = [None]
    store = _RacingStore(holder)
    path = str(tmp_path / "cmpv")
    t1 = SnapshotTable(spark, path, store=store)
    t2 = SnapshotTable(spark, path, store=store)
    t1.overwrite(_df(spark, 0, 40).coalesce(1))
    t1.append(_df(spark, 40, 80).coalesce(1))
    holder[0] = lambda: t2.delete_where("id", "<", 5)
    t1.compact(target_rows_per_file=1_000)  # first attempt aborted, rebuilt
    live = {e.path for e in t1.files()}
    data_root = _os.path.join(path, "data")
    on_disk = {
        _os.path.join(data_root, sub, n)
        for sub in _os.listdir(data_root)
        for n in _os.listdir(_os.path.join(data_root, sub))
        if n.endswith(".parquet")
    }
    # dead files exist: the aborted attempt's outputs + delete_where's old file
    historically_live = set()
    for v in range(1, t1.current_version() + 1):
        historically_live |= {e.path for e in t1.files(version=v)}
    orphans = on_disk - historically_live
    assert orphans  # the aborted compact really did strand files
    t1.expire_snapshots(keep_last=1)
    removed = t1.vacuum()
    assert removed >= len(orphans)
    # the live table is intact
    assert {r["id"] for r in t1.read().collect()} == set(range(5, 80))
    still = {
        _os.path.join(data_root, sub, n)
        for sub in _os.listdir(data_root)
        for n in _os.listdir(_os.path.join(data_root, sub))
        if n.endswith(".parquet")
    } if _os.path.isdir(data_root) else set()
    assert still == live


# ---- incremental materialized aggregate views (io/incremental_view.py) ----

def _rollup(df):
    return {
        (r["bucket"],): (r["n"], float(r["s"]))
        for r in df.groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum(F.col("v").cast("decimal(38,6)")).cast("double").alias("s"))
        .collect()
    }


def _view_state(view):
    return {
        (r["bucket"],): (r["n_rows"], float(r["v_sum"]))
        for r in view.read().collect()
    }


def test_incremental_view_matches_rebuild_through_mixed_ops(spark, tmp_path):
    """The view equals a from-scratch groupBy after EVERY refresh, across
    append, MERGE upsert, copy-on-write delete, and compaction (whose file
    swap must net to zero)."""
    from bears_spark.io.incremental_view import IncrementalAggView

    base = SnapshotTable(spark, str(tmp_path / "base"))
    view = IncrementalAggView(
        spark, base, str(tmp_path / "view"), group_cols=["bucket"], sum_cols=["v"]
    )
    base.overwrite(_df(spark, 0, 60).coalesce(1))
    view.refresh()
    assert _view_state(view) == _rollup(base.read())

    base.append(_df(spark, 60, 100).coalesce(1))
    view.refresh()
    assert _view_state(view) == _rollup(base.read())

    # MERGE upsert: update two rows, insert one
    src = spark.createDataFrame(
        [(10, 10 % 7, -100), (20, 20 % 7, -200), (500, 500 % 7, -300)],
        "id: bigint, bucket: bigint, v: bigint",
    )
    base.merge(src, key="id")
    view.refresh()
    assert _view_state(view) == _rollup(base.read())

    # compaction rewrites files but not rows: the refresh must net to zero
    before = _view_state(view)
    base.compact(target_rows_per_file=1_000)
    view.refresh()
    assert _view_state(view) == before == _rollup(base.read())

    base.delete_where("id", "<", 30)
    view.refresh()
    assert _view_state(view) == _rollup(base.read())

    # refresh when already synced is a no-op (no new view version)
    v = view.view.current_version()
    assert view.refresh() == view.synced_version()
    assert view.view.current_version() == v


def test_incremental_view_group_deletion_and_replay(spark, tmp_path):
    """A group whose every row is deleted vanishes from the view; a replayed
    refresh of an already-synced base version is skipped by the txn stamp."""
    from bears_spark.io.incremental_view import IncrementalAggView

    base = SnapshotTable(spark, str(tmp_path / "b2"))
    base.overwrite(_df(spark, 0, 14).coalesce(1))  # buckets 0..6 twice
    view = IncrementalAggView(
        spark, base, str(tmp_path / "v2"), group_cols=["bucket"], sum_cols=["v"]
    )
    view.refresh()
    assert len(_view_state(view)) == 7
    base.delete_where("bucket", "=", 3)
    view.refresh()
    state = _view_state(view)
    assert (3,) not in state and len(state) == 6
    assert state == _rollup(base.read())
    # a second handle racing to the SAME base version: its commit is skipped
    other = IncrementalAggView(
        spark, base, str(tmp_path / "v2"), group_cols=["bucket"], sum_cols=["v"]
    )
    vv = view.view.current_version()
    other.refresh()
    assert other.view.current_version() == vv  # no new commit
    assert _view_state(other) == state


def test_incremental_view_empty_base_defers_bootstrap(spark, tmp_path):
    """First refresh against an empty base must NOT commit a guessed-type
    placeholder: the later data-bearing refresh must produce a view whose
    group column keeps the base's real (bigint) type, identical to a
    from-scratch build."""
    from bears_spark.io.incremental_view import IncrementalAggView

    base = SnapshotTable(spark, str(tmp_path / "eb"))
    view = IncrementalAggView(
        spark, base, str(tmp_path / "ev"), group_cols=["bucket"], sum_cols=["v"]
    )
    assert view.refresh() == 0  # no data yet: no commit, not synced
    assert view.view.current_version() == 0
    base.overwrite(_df(spark, 0, 14).coalesce(1))  # bucket is bigint
    view.refresh()
    df = view.view.read()
    assert dict(df.dtypes)["bucket"] == "bigint"
    assert _view_state(view) == _rollup(base.read())


def test_optimize_clustered_improves_skipping_incrementally(spark, tmp_path):
    """OPTIMIZE ZORDER: small arrival-ordered files get rewritten along the
    Morton curve — pruning on BOTH cluster dimensions improves for the
    rewritten subset, already-large files are carried by reference, and no
    row is lost."""
    t = SnapshotTable(spark, str(tmp_path / "opt"))
    grid = (
        spark.range(0, 1024)
        .select((F.col("id") % 32).alias("x"), (F.col("id") / 32).cast("long").alias("y"))
        .orderBy(F.xxhash64("id"))  # arrival order: no natural clustering
    )
    # one big well-clustered file + 4 small shuffled micro-batch files
    t.overwrite_clustered(grid, ["x", "y"], bits=5, num_files=1)
    big_files = {e.path for e in t.files()}
    for i in range(4):
        t.append(grid.filter(F.col("id") % 4 == i if False else F.xxhash64("x", "y") % 4 == i).coalesce(1))
    n_before = len(t.files(where=("x", "<", 4)))
    v = t.optimize_clustered(["x", "y"], target_rows_per_file=600, bits=5)
    assert [h["operation"] for h in t.snapshots()][-1] == "optimize"
    # the big clustered files survived by reference
    assert big_files <= {e.path for e in t.files()}
    # pruning improved: fewer candidate files for a 2-D-selective predicate
    assert len(t.files(where=("x", "<", 4))) <= n_before
    assert len(t.files(where=("y", "<", 4))) < len(t.files())
    # rows preserved (the 4 appends re-added a copy of ~every grid row)
    assert t.read().count() == 1024 + grid.filter(F.xxhash64("x", "y") % 4 >= 0).count()


def test_incremental_view_over_streaming_ingest(spark, tmp_path):
    """End-to-end lakehouse loop: exactly-once streaming ingest into the
    base table, then an O(delta) view refresh per micro-batch epoch — the
    view equals a full rebuild after every refresh."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bears_spark.io.incremental_view import IncrementalAggView

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"id": list(range(40)), "bucket": [i % 7 for i in range(40)],
                  "v": [i * 2 for i in range(40)]}),
        str(src / "a.parquet"),
    )
    base = SnapshotTable(spark, str(tmp_path / "sbase"))
    view = IncrementalAggView(
        spark, base, str(tmp_path / "sview"), group_cols=["bucket"], sum_cols=["v"]
    )
    stream = (
        spark.readStream.schema("id long, bucket long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/")
    )
    ckpt = str(tmp_path / "sckpt")
    finish(base.streaming_append(stream, ckpt))
    view.refresh()
    assert _view_state(view) == _rollup(base.read())
    # second epoch: new file arrives, ingest + refresh stay O(delta) and exact
    pq.write_table(
        pa.table({"id": [100, 101], "bucket": [3, 3], "v": [7, 9]}), str(src / "b.parquet")
    )
    finish(base.streaming_append(stream, ckpt))
    view.refresh()
    assert _view_state(view) == _rollup(base.read())


def test_streaming_merge_exactly_once_upserts(spark, tmp_path):
    """CDC-apply: a stream of upsert batches merges into the table with
    (app, epoch) stamps — updates and inserts land exactly once, a replayed
    availableNow run commits nothing, and a later epoch's update wins."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "cdc"
    src.mkdir()
    t = SnapshotTable(spark, str(tmp_path / "mt"))
    t.overwrite(_df(spark, 0, 50).coalesce(1))
    # epoch 0: update ids 1/2, insert 100
    pq.write_table(
        pa.table({"id": [1, 2, 100], "bucket": [1 % 7, 2 % 7, 100 % 7], "v": [-1, -2, -100]}),
        str(src / "b0.parquet"),
    )
    stream = (
        spark.readStream.schema("id long, bucket long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/")
    )
    ckpt = str(tmp_path / "mckpt")
    finish(t.streaming_merge(stream, ckpt, key="id"))
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert len(got) == 51 and got[1] == -1 and got[2] == -2 and got[100] == -100
    assert got[3] == 6  # untouched neighbor
    # replay: same checkpoint, no new files -> no commits
    before = t.current_version()
    finish(t.streaming_merge(stream, ckpt, key="id"))
    assert t.current_version() == before
    # epoch 1: a later update to id 1 wins
    pq.write_table(
        pa.table({"id": [1], "bucket": [1 % 7], "v": [-11]}), str(src / "b1.parquet")
    )
    finish(t.streaming_merge(stream, ckpt, key="id"))
    got2 = {r["id"]: r["v"] for r in t.read().collect()}
    assert got2[1] == -11 and len(got2) == 51
    # append and merge streams on the same checkpoint namespace never collide
    assert any(a.endswith("#merge") for a in t.committed_txns())


def test_streaming_merge_replicates_to_iceberg(spark, tmp_path):
    """CDC-apply with export_iceberg_to=: each merge batch appends an
    Iceberg snapshot at the replica path; the replica read equals the table
    after the stream drains, and a full checkpoint replay commits nothing
    AND writes nothing to the exported metadata tree."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bears_spark.io.iceberg_log import IcebergTableReader

    src = tmp_path / "cdci"
    src.mkdir()
    t = SnapshotTable(spark, str(tmp_path / "mti"))
    t.overwrite(_df(spark, 0, 30).coalesce(1))
    out = str(tmp_path / "ice_replica")
    pq.write_table(
        pa.table({"id": [1, 2, 200], "bucket": [1 % 7, 2 % 7, 200 % 7], "v": [-1, -2, -200]}),
        str(src / "b0.parquet"),
    )
    pq.write_table(
        pa.table({"id": [1, 5], "bucket": [1 % 7, 5 % 7], "v": [-11, -5]}),
        str(src / "b1.parquet"),
    )
    stream = (
        spark.readStream.schema("id long, bucket long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/")
    )
    ckpt = str(tmp_path / "mckpti")
    finish(t.streaming_merge(stream, ckpt, key="id", export_iceberg_to=out))
    want = {r["id"]: r["v"] for r in t.read().collect()}
    assert want[1] == -11 and want[2] == -2 and want[5] == -5 and want[200] == -200
    got = {r["id"]: r["v"] for r in IcebergTableReader(spark, out).read().collect()}
    assert got == want
    meta_dir = _os.path.join(out, "metadata")
    before = sorted(_os.listdir(meta_dir))
    v = t.current_version()
    finish(t.streaming_merge(stream, ckpt, key="id", export_iceberg_to=out))
    assert t.current_version() == v, "replayed epochs must commit nothing"
    assert sorted(_os.listdir(meta_dir)) == before, "replayed exports must write nothing"


def _mm_rollup(df):
    return {
        (r["bucket"],): (
            r["n"], float(r["s"]), int(r["v_min"]), int(r["v_max"]), int(r["w_min"]), int(r["w_max"])
        )
        for r in df.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("decimal(38,6)")).cast("double").alias("s"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
            F.min("w").alias("w_min"),
            F.max("w").alias("w_max"),
        )
        .collect()
    }


def _mm_view_state(view):
    return {
        (r["bucket"],): (
            r["n_rows"], float(r["v_sum"]), int(r["v_min"]), int(r["v_max"]),
            int(r["w_min"]), int(r["w_max"]),
        )
        for r in view.read().collect()
    }


def _mm_df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id", "id % 5 AS bucket", "id AS v", "id % 10 AS w"
    )


def test_incremental_view_minmax_survives_emptied_base(spark, tmp_path):
    """Hypothesis-found regression (r10): a full merge-on-read delete drops
    EVERY file from the base manifest; the MIN/MAX displaced-group repair
    then read a file-less snapshot and crashed. The repair must skip the
    read (no group has survivors — stale extremes drop at the n_rows>0
    join), the emptied view must read as zero rows, and a refill must
    recover exactly."""
    from pyspark.sql import functions as F

    from bears_spark.io.incremental_view import IncrementalAggView

    def mk(lo, hi):
        return spark.range(lo, hi).selectExpr("id", "id % 3 AS bucket", "id AS v")

    base = SnapshotTable(spark, str(tmp_path / "embase"))
    view = IncrementalAggView(
        spark, base, str(tmp_path / "emview"),
        group_cols=["bucket"], sum_cols=[], minmax_cols=["v"],
    )
    base.overwrite(mk(30, 50).coalesce(1))
    view.refresh()
    base.delete_where("id", ">=", 20, mode="mor")  # empties the table
    view.refresh()
    assert view.read().count() == 0
    base.append(mk(10, 18).coalesce(1))
    view.refresh()
    got = {r["bucket"]: (r["n_rows"], r["v_min"], r["v_max"]) for r in view.read().collect()}
    want = {
        r["bucket"]: (r["n"], r["lo"], r["hi"])
        for r in base.read().groupBy("bucket").agg(
            F.count("*").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
        ).collect()
    }
    assert got == want


def test_incremental_view_minmax_matches_rebuild(spark, tmp_path):
    """MIN/MAX maintenance equals a from-scratch rebuild after EVERY
    refresh: semigroup merge on inserts, targeted per-group recompute when
    a delete ties a stored extreme (including duplicate-extreme ties where
    survivors remain), across CoW delete, MoR delete, merge, and
    compaction."""
    from bears_spark.io.incremental_view import IncrementalAggView

    base = SnapshotTable(spark, str(tmp_path / "mmbase"))
    view = IncrementalAggView(
        spark, base, str(tmp_path / "mmview"),
        group_cols=["bucket"], sum_cols=["v"], minmax_cols=["v", "w"],
    )
    base.overwrite(_mm_df(spark, 10, 60).coalesce(2))
    view.refresh()
    assert _mm_view_state(view) == _mm_rollup(base.read())

    # pure insert: extends min (0..9) and max (60..79) of every bucket —
    # the semigroup merge path, no repair scan needed
    base.append(_mm_df(spark, 0, 10).coalesce(1))
    base.append(_mm_df(spark, 60, 80).coalesce(1))
    view.refresh()
    assert _mm_view_state(view) == _mm_rollup(base.read())

    # CoW delete of every bucket's current MIN rows (v = id < 15): displaced
    # groups must be repaired from the runner-up
    base.delete_where("id", "<", 15)
    view.refresh()
    assert _mm_view_state(view) == _mm_rollup(base.read())

    # MoR delete of the MAX tail (identity change via DVs, not rewrites)
    base.delete_where("id", ">=", 72, mode="mor")
    view.refresh()
    assert _mm_view_state(view) == _mm_rollup(base.read())

    # tie case: w = id % 10 has many duplicates of each extreme; deleting a
    # strict subset of the w-extreme rows must keep w_min/w_max from the
    # surviving duplicates
    base.delete_where("id", "=", 20)  # w=0 for id=20; other w=0 rows survive
    view.refresh()
    assert _mm_view_state(view) == _mm_rollup(base.read())

    # interior delete that displaces NOTHING (no extreme touched)
    base.delete_where("id", "=", 33)
    view.refresh()
    assert _mm_view_state(view) == _mm_rollup(base.read())

    # compaction must net to zero
    before = _mm_view_state(view)
    base.compact(target_rows_per_file=1_000)
    view.refresh()
    assert _mm_view_state(view) == before == _mm_rollup(base.read())

    # merge upsert: updates shift some v values, insert a new bucket row
    src = spark.createDataFrame(
        [(30, 0, 999, 3), (501, 1, -5, 1)],
        "id: bigint, bucket: bigint, v: bigint, w: bigint",
    )
    base.merge(src, key="id")
    view.refresh()
    assert _mm_view_state(view) == _mm_rollup(base.read())

    # delete an entire bucket: its row must vanish from the view
    base.delete_where("bucket", "=", 2)
    view.refresh()
    assert _mm_view_state(view) == _mm_rollup(base.read())
    assert (2,) not in _mm_view_state(view)


def test_string_stats_truncated_but_pruning_exact(spark, tmp_path):
    """Long-text columns never embed document bodies in manifests: string
    min/max are bounded-prefix (Delta's 32-char convention, upper bound =
    prefix with last code point incremented), and pruning through the
    widened bounds stays semantically exact."""
    from bears_spark.io.snapshot_table import STAT_STRING_PREFIX, _truncate_string_stats

    t = SnapshotTable(spark, str(tmp_path / "trunc"))
    rows = [
        (1, "aaaa" + "x" * 100),
        (2, "mmmm" + "y" * 100),
        (3, "zzzz" + "z" * 100),
    ]
    t.overwrite(spark.createDataFrame(rows, "id bigint, body string").coalesce(1))
    (e,) = t.files()
    s = e.stats["body"]
    assert len(s["min"]) <= STAT_STRING_PREFIX
    assert len(s["max"]) <= STAT_STRING_PREFIX
    # widened bounds: min is a prefix (lower), max STRICTLY ABOVE the data
    assert s["min"] <= rows[0][1] and s["max"] > rows[2][1]
    # pruning is conservative-correct through the truncation
    assert t.read(where=("body", ">", "zzzz" + "z" * 200)).count() == 0
    assert t.read(where=("body", "<", "aaaa")).count() == 0
    assert t.read(where=("body", ">=", "mmmm")).count() == 2
    # the all-U+10FFFF edge: no representable upper bound -> stat dropped
    top = chr(0x10FFFF) * (STAT_STRING_PREFIX + 5)
    assert "k" not in _truncate_string_stats({"k": {"min": "a", "max": top}})
    # surrogate-boundary increment never emits a lone surrogate
    edge = "b" * (STAT_STRING_PREFIX - 1) + "퟿" + "tail"
    out = _truncate_string_stats({"k": {"min": "a", "max": edge}})
    assert out["k"]["max"][-1] == ""


def test_list_prefix_start_after_pushdown():
    """list_prefix(start_after=...) reaches the store's own listing API
    server-side (S3 StartAfter / GCS start_offset), returns strictly-after
    keys, and CommitStoreMetaFS threads the bound through — a pointer-
    guided reader of a million-commit log never pages the whole log."""
    from bears_spark.io.commit_store import GCSCommitStore, S3CommitStore
    from bears_spark.io.metafs import CommitStoreMetaFS

    s3c = _StubS3Client()
    s3 = S3CommitStore("test-bucket", client=s3c)
    for name in ("v01.json", "v02.json", "v03.json"):
        s3.replace(f"log/{name}", b"x")
    assert s3.list_prefix("log", start_after="v01.json") == ["log/v02.json", "log/v03.json"]
    assert s3c.last_start_after == "log/v01.json"
    fs = CommitStoreMetaFS(s3)
    assert fs.listdir("log", start_after="v02.json") == ["v03.json"]
    assert s3c.last_start_after == "log/v02.json"

    gb = _StubGCSBucket()
    gcs = GCSCommitStore("test-bucket", bucket_obj=gb)
    for name in ("v01.json", "v02.json", "v03.json"):
        gcs.replace(f"log/{name}", b"x")
    # strictly-after: the floor key itself (inclusive in GCS) is excluded
    assert gcs.list_prefix("log", start_after="v01.json") == ["log/v02.json", "log/v03.json"]
    assert gb.last_start_offset == "log/v01.json"

    mem = InMemoryCommitStore()
    for name in ("v01.json", "v02.json"):
        mem.replace(f"log/{name}", b"x")
    assert mem.list_prefix("log", start_after="v01.json") == ["log/v02.json"]
