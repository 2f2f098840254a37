"""SCD Type-2 dimension maintenance (bears_spark/io/scd2.py +
functions/cdc.scd2_history): versioning semantics, incremental apply vs
full rebuild equivalence, point-in-time reads, late-data contract."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bears_spark.functions.cdc import scd2_history
from bears_spark.io.scd2 import Scd2Dimension
from bears_spark.streaming.jobs import finish


def _events(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "attr", "ts", "seq"])
    ).select(
        F.col("k"), F.col("attr"), F.to_timestamp("ts").alias("ts"), F.col("seq")
    )


def test_scd2_history_versioning_semantics(spark):
    ev = _events(spark, [
        (1, "a", "2024-01-01", 1),
        (1, "a", "2024-01-05", 2),   # unchanged: no new version
        (1, "b", "2024-01-10", 3),   # change: closes 'a'
        (1, None, "2024-01-20", 4),  # change to NULL: opens a version
        (1, None, "2024-01-25", 5),  # NULL -> NULL: no new version
        (2, "x", "2024-02-01", 6),
    ])
    out = scd2_history(ev, "k", "ts", ["attr"], tiebreak="seq").orderBy("k", "valid_from")
    rows = [(r["k"], r["attr"], str(r["valid_from"].date()),
             str(r["valid_to"].date()) if r["valid_to"] else None) for r in out.collect()]
    assert rows == [
        (1, "a", "2024-01-01", "2024-01-10"),
        (1, "b", "2024-01-10", "2024-01-20"),
        (1, None, "2024-01-20", None),
        (2, "x", "2024-02-01", None),
    ]


def test_scd2_dimension_incremental_equals_rebuild(spark, tmp_path):
    all_rows = [
        (1, "a", "2024-01-01", 1), (1, "b", "2024-01-10", 2),
        (2, "x", "2024-01-03", 3), (3, "p", "2024-01-04", 4),
        # batch 2
        (1, "b", "2024-02-01", 5),   # unchanged restatement
        (2, "y", "2024-02-02", 6),   # change
        (4, "new", "2024-02-03", 7), # brand-new key
    ]
    dim = Scd2Dimension(spark, str(tmp_path / "dim"), "k", "ts", ["attr"], tiebreak="seq")
    dim.build(_events(spark, all_rows[:4]))
    assert dim.current().count() == 3
    dim.apply(_events(spark, all_rows[4:]))

    full = Scd2Dimension(spark, str(tmp_path / "full"), "k", "ts", ["attr"], tiebreak="seq")
    full.build(_events(spark, all_rows))

    def canon(df):
        return sorted(
            (r["k"], r["attr"], str(r["valid_from"]), str(r["valid_to"]))
            for r in df.collect()
        )

    assert canon(dim.read()) == canon(full.read())
    cur = {r["k"]: r["attr"] for r in dim.current().collect()}
    assert cur == {1: "b", 2: "y", 3: "p", 4: "new"}
    # closed history untouched by the incremental apply: key 3 still one row
    assert dim.read().filter("k = 3").count() == 1


def test_scd2_as_of_point_in_time(spark, tmp_path):
    dim = Scd2Dimension(spark, str(tmp_path / "pit"), "k", "ts", ["attr"], tiebreak="seq")
    dim.build(_events(spark, [
        (1, "a", "2024-01-01", 1), (1, "b", "2024-01-10", 2), (1, "c", "2024-01-20", 3),
    ]))
    import datetime

    def attr_at(day):
        rows = dim.as_of(datetime.datetime(2024, 1, day)).collect()
        return rows[0]["attr"] if rows else None

    assert attr_at(5) == "a"
    assert attr_at(10) == "b"  # half-open: the new version starts AT its ts
    assert attr_at(15) == "b"
    assert attr_at(25) == "c"


def test_scd2_apply_bootstraps_never_built_dimension(spark, tmp_path):
    """apply() on a version-0 dimension delegates to build() (matching
    streaming_apply's first-batch bootstrap) instead of raising
    SnapshotTable's unrelated 'snapshot has no data files'."""
    rows = [(1, "a", "2024-01-01", 1), (1, "b", "2024-01-10", 2), (2, "x", "2024-01-03", 3)]
    dim = Scd2Dimension(spark, str(tmp_path / "boot"), "k", "ts", ["attr"], tiebreak="seq")
    dim.apply(_events(spark, rows))
    full = Scd2Dimension(spark, str(tmp_path / "bootfull"), "k", "ts", ["attr"], tiebreak="seq")
    full.build(_events(spark, rows))
    canon = lambda df: sorted(
        (r["k"], r["attr"], str(r["valid_from"]), str(r["valid_to"])) for r in df.collect()
    )
    assert canon(dim.read()) == canon(full.read())
    assert {r["k"]: r["attr"] for r in dim.current().collect()} == {1: "b", 2: "x"}


def test_scd2_apply_rejects_late_data(spark, tmp_path):
    dim = Scd2Dimension(spark, str(tmp_path / "late"), "k", "ts", ["attr"], tiebreak="seq")
    dim.build(_events(spark, [(1, "a", "2024-03-01", 1)]))
    with pytest.raises(ValueError, match="late|older"):
        dim.apply(_events(spark, [(1, "z", "2024-01-01", 2)]))


def test_scd2_streaming_apply_exactly_once(spark, tmp_path):
    """Streaming SCD2: micro-batches bootstrap then maintain the dimension
    under (app, epoch) stamps; a replayed availableNow run commits nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "ev"
    src.mkdir()
    pq.write_table(
        pa.table({"k": [1, 2], "attr": ["a", "x"],
                  "ts": pa.array([1704067200000000, 1704067200000000], pa.timestamp("us")),
                  "seq": [1, 2]}),
        str(src / "b0.parquet"),
    )
    dim = Scd2Dimension(spark, str(tmp_path / "sdim"), "k", "ts", ["attr"], tiebreak="seq")
    stream = (
        spark.readStream.schema("k long, attr string, ts timestamp, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/")
    )
    ckpt = str(tmp_path / "sckpt")
    finish(dim.streaming_apply(stream, ckpt))
    assert {r["k"]: r["attr"] for r in dim.current().collect()} == {1: "a", 2: "x"}
    # replay: no new commits
    before = dim.table.current_version()
    finish(dim.streaming_apply(stream, ckpt))
    assert dim.table.current_version() == before
    # epoch 1: change k=1, restate k=2 (no new version)
    pq.write_table(
        pa.table({"k": [1, 2], "attr": ["b", "x"],
                  "ts": pa.array([1706745600000000, 1706745600000000], pa.timestamp("us")),
                  "seq": [3, 4]}),
        str(src / "b1.parquet"),
    )
    finish(dim.streaming_apply(stream, ckpt))
    assert {r["k"]: r["attr"] for r in dim.current().collect()} == {1: "b", 2: "x"}
    assert dim.read().filter("k = 1").count() == 2  # two versions
    assert dim.read().filter("k = 2").count() == 1  # restatement opened none
