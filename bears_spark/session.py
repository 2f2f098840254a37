"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the same config block is what we'd ship to a
1000-executor cluster job: AQE on (runtime partition coalescing, skew-join
splitting, dynamic broadcast), Arrow for any pandas-UDF boundary, and shuffle
partitions sized to the parallelism at hand rather than Spark's legacy 200.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

# Tuned for correctness at small SF and sane behavior at 100 TB:
# - AQE handles partition-count right-sizing at runtime, so a static
#   shuffle.partitions only needs to be an upper bound ~ cluster cores.
# - autoBroadcastJoinThreshold stays default (10 MB) — small tables broadcast
#   automatically at runtime (AQE can demote SMJ to broadcast); explicit
#   F.broadcast() hints go ONLY on constant-cardinality dims (region/nation) —
#   a hint on a linearly-scaling table is an OOM at 100x SF.
# - maxPartitionBytes 128 MB keeps scan partitions executor-memory friendly.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE right-size CACHED plan output too (off by default). Without it
    # a persisted aggregate keeps all shuffle.partitions partitions however
    # tiny it is, and every cache consumer stage pays one task of fixed
    # overhead per partition — with 4-5 consumers per cached frame
    # (part_item_recs, ngram/tfidf gram tables) that dominated warm runs at
    # bench scale. Size-based (advisoryPartitionSizeInBytes), so a 100-TB
    # cache keeps thousands of partitions while a 10-MB one collapses to 1;
    # explicit repartition(n) calls are still honored. Measured (best-of-3
    # blocks, quiet host): part_item_recs 2.16->1.13 s, dedup_ngram_jaccard
    # 1.95->1.60 s, tfidf_cosine_pairs 1.41->1.27 s, and run spreads tighten
    # ~3x (the lazy-cache-build race disappears once the cache is 1-2
    # blocks).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # A failed Arrow conversion raises instead of silently re-running through
    # pickled rows (that fallback once hid a bug in events_hive_partition_pruning).
    "spark.sql.execution.arrow.pyspark.fallback.enabled": "false",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # INT96 timestamps (legacy default) carry no footer min/max statistics,
    # which silences stats-based file skipping on time-clustered tables
    # (io/snapshot_table.py) AND weakens row-group pruning everywhere.
    # TIMESTAMP_MICROS is the modern annotated type every engine reads.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) (e.g. pandas datetime64[ns] writers) is illegal
    # in vanilla Spark 4; read as int64 nanos and convert in the loader
    # (bears_spark/queries/tables.py) — lossless when sub-µs bits are zero.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # NaN-vs-null rule (SURVEY.md §7 known-hard #1): bears conflates NaN/None;
    # we normalize NaN->null at ingest (see io/reader.py) and keep Spark's
    # distinction internally.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    "spark.driver.maxResultSize": "8g",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
}


def get_session(app_name: str = "bears_spark", master: str | None = None, **extra_conf: str) -> SparkSession:
    """Get or create the shared SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller leaves it None and spark-submit supplies the master.
    """
    # Pin Python workers to the interpreter running the driver — set
    # unconditionally: an inherited PYSPARK_PYTHON (or bare `python3` on a
    # PATH shadowed by an unrelated install, e.g. a conda base env) gives
    # [PYTHON_VERSION_MISMATCH] and fails every Python-worker stage
    # (pandas UDF / mapInPandas). Driver == worker interpreter is the only
    # configuration this repo supports.
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**_BASE_CONF, **extra_conf}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in extra_conf:
        # One shuffle partition per task slot of the master (local[4] -> 4,
        # not the host's core count), floored at 8; AQE coalesces below that.
        slots = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(slots, 8)))
    return spark


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
