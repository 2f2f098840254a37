"""Round-11 optimization internals: widen_input, the load_table plan memo,
and driver-local centroid-row reuse. Each pins behavior an optimization
changed, so a regression is caught by name."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from bears_spark.caching import release_scoped_caches, scoped_persist
from bears_spark.queries import tables as T
from bears_spark.skew import widen_input

SF = "/root/testdata/sf0.001"


# No module-local get_session() here: creating the session first with a
# different master than conftest's local[4] leaks into every later test
# file (getOrCreate reuses the first session), and at local[32] a 40-row
# range spreads one-row-per-file so a MoR delete drops whole files instead
# of writing DVs — which broke test_delta_log's protocol-upgrade assertion
# whenever this module ran first. The conftest session-scoped fixture is
# the single session owner; every assertion below is parallelism-relative.


def test_widen_input_parallelizes_single_split(spark):
    docs = T.load_table(spark, SF, "documents").select("doc_id", "text")
    assert docs.rdd.getNumPartitions() == 1  # the testdata layout this guards
    widened = widen_input(docs)
    expect = min(spark.sparkContext.defaultParallelism, 8)
    assert widened.rdd.getNumPartitions() == expect
    # row-level semantics unchanged: same multiset of rows
    a = sorted(r["doc_id"] for r in docs.collect())
    b = sorted(r["doc_id"] for r in widened.collect())
    assert a == b


def test_widen_input_noop_when_already_wide(spark):
    docs = T.load_table(spark, SF, "documents").select("doc_id").repartition(16)
    assert widen_input(docs) is docs  # >= target -> untouched, no extra shuffle


def test_load_table_memo_hits_and_invalidates(spark, tmp_path):
    d = str(tmp_path / "sf")
    os.makedirs(d)
    shutil.copy(f"{SF}/nation.parquet", f"{d}/nation.parquet")
    df1 = T.load_table(spark, d, "nation")
    df2 = T.load_table(spark, d, "nation")
    assert df1 is df2  # memo hit: same analyzed plan object
    # rewriting the file (mtime/size change) must invalidate the memo
    shutil.copy(f"{SF}/region.parquet", f"{d}/nation.parquet")
    os.utime(f"{d}/nation.parquet")
    df3 = T.load_table(spark, d, "nation")
    assert df3 is not df1
    assert "r_regionkey" in df3.columns  # fresh schema, not the memoized one


def test_load_table_memo_is_metadata_only(spark, tmp_path):
    """The memo must never cache DATA: a re-scan sees current file bytes."""
    d = str(tmp_path / "sf")
    os.makedirs(d)
    src = T.load_table(spark, SF, "nation")
    n_before = src.count()
    shutil.copy(f"{SF}/nation.parquet", f"{d}/nation.parquet")
    df = T.load_table(spark, d, "nation")
    assert df.count() == n_before
    assert T.load_table(spark, d, "nation").count() == n_before  # plan reused, data re-read


def test_seeded_lloyd_rows_attached_and_match_collect(spark):
    from bears_spark.functions.similarity import seeded_lloyd_centroids

    emb = T.load_table(spark, SF, "embeddings")
    cents = seeded_lloyd_centroids(emb, "vec_id", "embedding", k=4, iters=1)
    rows = cents._bears_local_rows
    assert len(rows) == 4
    collected = sorted((r["centroid_id"], list(r["centroid"])) for r in cents.collect())
    assert sorted((c, list(v)) for c, v in rows) == collected


def test_dv_anti_join_broadcasts_small_delete_sets(spark, tmp_path):
    """A sparse MoR delete must plan as BroadcastHashJoin LeftAnti (the DV
    cardinality is known driver-side); the big scan is never shuffle-sorted.
    Results stay identical either way — also asserted."""
    from pyspark.sql import functions as F

    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "dvb"))
    df = spark.range(0, 200).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    t.overwrite(df.repartition(2))
    t.delete_where("id", "<", 50, mode="mor")
    rd = t.read()
    plan = rd._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert sorted(x["id"] for x in rd.collect()) == list(range(50, 200))


def test_dv_anti_join_falls_back_past_broadcast_cap(spark, tmp_path, monkeypatch):
    """Above the cardinality cap the join must NOT broadcast (a mass delete
    on a 100-TB table would OOM the driver) — falls back to the shuffled
    anti-join with identical results."""
    from pyspark.sql import functions as F

    import bears_spark.io.dv as dvmod
    from bears_spark.io.snapshot_table import SnapshotTable

    monkeypatch.setattr(dvmod, "_DV_BROADCAST_MAX_POS", 10)
    t = SnapshotTable(spark, str(tmp_path / "dvb2"))
    df = spark.range(0, 200).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    t.overwrite(df.repartition(2))
    t.delete_where("id", "<", 50, mode="mor")  # 50 deleted > cap of 10
    rd = t.read()
    plan = rd._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert sorted(x["id"] for x in rd.collect()) == list(range(50, 200))


def test_scoped_persist_eager_materializes(spark):
    df = T.load_table(spark, SF, "nation").select("n_nationkey")
    out = scoped_persist(df, eager=True)
    assert out.storageLevel.useMemory
    # eager -> blocks already cached: is_cached and immediately readable
    assert out.count() == df.count()
    release_scoped_caches()


def test_local_df_matches_createdataframe_and_avoids_python_scan(spark):
    """local_df routes tiny driver-local frames through one Arrow table:
    values identical to createDataFrame (null/array/timestamp), no
    pickled-row scan (partition count follows rows, not cores), and a NaN
    stays a NaN value, not null."""
    import datetime

    from bears_spark.localframe import local_df

    rows = [
        ("A", 1, None, ["x", "y"], datetime.datetime(2020, 1, 1, 12)),
        (None, 2, 3.5, [], datetime.datetime(2021, 6, 30, 23, 59, 59)),
    ]
    sch = "s string, n bigint, t double, a array<string>, ts timestamp"
    fast = local_df(spark, rows, sch)
    ref = spark.createDataFrame(rows, sch)
    assert fast.collect() == ref.collect()
    assert fast.schema == ref.schema
    # the whole point: one partition, not one pickled slice per core
    assert fast.rdd.getNumPartitions() == 1
    # NaN stays a NaN value (pandas' Arrow conversion would null it)
    nan_rows = [("A", float("nan"))]
    got = local_df(spark, nan_rows, "s string, t double").collect()[0]["t"]
    assert got != got  # still NaN, not null
    # empty input keeps the declared schema
    empty = local_df(spark, [], "x int, y string")
    assert empty.collect() == [] and empty.schema == ref.select(
        F.lit(None).cast("int").alias("x"), F.lit(None).cast("string").alias("y")
    ).schema


def test_dv_anti_join_past_cap_pins_shuffled_join(spark, tmp_path):
    """Past the broadcast cap the positions side carries a merge hint, so
    neither the static planner (which now sees an accurate — but
    pre-explode — size for the Arrow-built blob frame) nor AQE's runtime
    rewrite can turn the anti-join into a broadcast of a mass-delete set."""
    import bears_spark.io.dv as dvmod
    from bears_spark.io.snapshot_table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "dvhint"))
    df = spark.range(0, 300).select(F.col("id"), (F.col("id") * 1.5).alias("v"))
    t.overwrite(df.repartition(2))
    old = dvmod._DV_BROADCAST_MAX_POS
    dvmod._DV_BROADCAST_MAX_POS = 10
    try:
        t.delete_where("id", "<", 100, mode="mor")
        rd = t.read()
        rd.count()  # force AQE finalization
        plan = rd._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "LeftAnti" in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        dvmod._DV_BROADCAST_MAX_POS = old
