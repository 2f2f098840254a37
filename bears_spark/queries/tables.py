"""Loaders for the driver's synthetic TPC-H-ish tables (TESTDATA.md).

Parquet scans go through ``spark.read.parquet`` so Catalyst gets column
pruning + predicate pushdown for free; callers select/filter on the returned
DataFrame and the optimizer pushes to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tables with a constant (SF-independent) row count — always safe to
# broadcast in joins. customer/part/supplier scale linearly with SF, so the
# AQE auto-broadcast threshold decides for them at runtime instead of a
# forced hint that would OOM at 100x scale.
DIM_TABLES = frozenset({"region", "nation"})


def events_ts_encoding(path: str) -> str:
    """Sniff how ``ts`` is encoded in an events parquet file/directory.

    Returns one of ``"ns"`` (TIMESTAMP(NANOS) — illegal in vanilla Spark 4,
    needs the nanosAsLong conf), ``"ntz"`` (naive timestamp, any sub-second
    unit), ``"tz"`` (instant timestamp), or ``"unknown"`` if the footer can't
    be read or has no ``ts`` field. Footer-only: no data pages are touched.
    """
    try:
        import pyarrow.dataset as ds

        t = ds.dataset(path, format="parquet").schema.field("ts").type
        unit = getattr(t, "unit", None)
        tz = getattr(t, "tz", None)
        if unit == "ns" and tz is None:
            return "ns"
        if tz is None and unit is not None:
            return "ntz"
        if unit is not None:
            return "tz"
    except (OSError, ValueError, KeyError):  # no footer, not parquet (ArrowInvalid), no ts
        pass
    return "unknown"


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column to TIMESTAMP, whatever the file carried.

    Three encodings appear in the wild (the driver's generator has shipped
    two of them across rounds):
      * bigint        — TIMESTAMP(NANOS) surfaced as int64 via nanosAsLong;
                        integer-divide to µs (never float: ns epochs exceed
                        double precision).
      * timestamp_ntz — naive µs wall time; under a UTC session tz the cast
                        to TIMESTAMP is instant-preserving and matches the
                        DuckDB oracle, which treats NTZ as naive-UTC.
      * timestamp     — already an instant; pass through.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def pin_event_time_confs(spark: SparkSession, path: str, enc: str | None = None) -> str:
    """Set the session confs every event-time read of ``path`` depends on and
    return its ``ts`` encoding (``events_ts_encoding``; pass ``enc`` when it
    is already known, to skip the footer sniff).

    Event-time semantics are wall-clock-naive: the DuckDB oracle reads the
    same parquet as naive TIMESTAMP and does naive arithmetic. The session tz
    is pinned to UTC so every instant-based function downstream (unix_micros,
    date_trunc, window()) agrees with the oracle — a vanilla caller session
    uses the JVM-local tz, which would shift instants (and non-constantly,
    under DST). Only TIMESTAMP(NANOS) files need the legacy nanosAsLong conf
    (vanilla Spark 4 rejects them with PARQUET_TYPE_ILLEGAL); it is a no-op
    for µs files, so ``"unknown"`` (unreadable footer) errs on the side of
    set. Both confs must hold when a plan EXECUTES, so batch and stream
    readers call this on every load. Deliberate, documented session mutation.
    """
    if enc is None:
        enc = events_ts_encoding(path)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if enc in ("ns", "unknown"):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return enc


# Analyzed-plan memo: `spark.read.parquet(path)` costs ~0.13 s of DRIVER
# time per call (file listing + footer schema inference, single-threaded —
# guide §6/§7.3), and every query re-pays it for every table on every run.
# A catalog engine resolves a table's schema once; this memo is that
# catalog. Key includes the file's (mtime_ns, size) so a rewritten path is
# re-inferred, and the session's applicationId so a new session never sees
# plans from a stopped one. ONLY metadata is reused — a memoized DataFrame
# is a lazy plan; every action still scans the parquet bytes.
_PLAN_MEMO: dict[tuple, object] = {}
_PLAN_MEMO_MAX = 256  # entries; the memo is cleared past it (bounds driver memory)


def memo_plan(spark: SparkSession, path: str, tag: str, build):
    """Return ``build()`` memoized per (session, file identity of ``path``,
    ``tag``); ``tag`` tells apart the plans built over the same file. A path
    that cannot be stat'ed is never memoized."""
    import os

    try:
        st = os.stat(path)
    except OSError:
        return build()
    key = (spark.sparkContext.applicationId, path, st.st_mtime_ns, st.st_size, tag)
    hit = _PLAN_MEMO.get(key)
    if hit is None:
        if len(_PLAN_MEMO) > _PLAN_MEMO_MAX:
            _PLAN_MEMO.clear()
        hit = _PLAN_MEMO[key] = build()
    return hit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return memo_plan(spark, path, "table", lambda: spark.read.parquet(path))

    def build() -> tuple[DataFrame, str]:
        enc = pin_event_time_confs(spark, path)
        return _normalize_event_ts(spark.read.parquet(path)), enc

    df, enc = memo_plan(spark, path, "table", build)
    # re-assert the confs on every call, memo hit or miss: a caller may have
    # flipped the tz or reset nanosAsLong since the plan was first built
    pin_event_time_confs(spark, path, enc)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_tables(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every table as a temp view (``{prefix}{name}``) so raw
    ``spark.sql(...)`` works over the dataset — same normalized ts contract
    as load_table."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(f"{prefix}{name}")
