"""Window-function / date-time / sessionization queries over the events table.

The reference has NO window functions or temporal operators (SURVEY.md §2.5,
§2.11 — rolling/shift/resample all raise) — this module is the Spark-native
capability gain, exercised as first-class graded queries.

Scale notes: every window partitions by user_id (high-cardinality, uniform) —
one shuffle, no skew; tumbling aggregations are plain groupBys with partial
aggregation. Event-time streaming variants of these live in
bears_spark/streaming/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bears_spark.caching import scoped_dir
from bears_spark.localframe import local_df
from bears_spark.queries.tables import load_table, pin_event_time_confs
from bears_spark.streaming.jobs import run_to_memory


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over events.parquet with ts normalized to TIMESTAMP.

    Mirrors the batch ``load_table`` contract exactly — the same conf pin and
    footer-sniffed ts decoding, never two divergent ones. File streaming
    sources take directories/globs, not bare files, hence the trailing
    wildcard.
    """
    enc = pin_event_time_confs(spark, f"{sf_dir}/events.parquet")
    glob = f"{sf_dir}/events.parque*"
    if enc == "ns":
        # TIMESTAMP(NANOS): surfaces as int64 under nanosAsLong; div to µs.
        raw = spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, value double, props string"
        ).parquet(glob)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if enc == "tz":
        return spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).parquet(glob)
    # naive µs (the driver's current encoding): declare NTZ, cast under the
    # pinned-UTC session — instant-preserving, matches the naive oracle.
    raw = spark.readStream.schema(
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    ).parquet(glob)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


# --------------------------------------------------------------------------
# ev_daily_activity: tumbling daily per-user aggregation (groupBy on
# (user, day) — map-side partial agg keeps the shuffle proportional to groups).
def ev_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.col("user_id"), F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy("user_id", "day")
    )


EV_DAILY_SQL = """
SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value,
       count(DISTINCT event_type) AS n_types
FROM events GROUP BY 1, 2 ORDER BY user_id, day
"""


# --------------------------------------------------------------------------
# ev_running_sum: per-user running total ordered by event time (analytic
# window: rows unbounded-preceding..current).
def ev_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 6).alias("running_value"),
        F.row_number().over(Window.partitionBy("user_id").orderBy("ts", "event_id")).alias("seq"),
    ).orderBy("event_id")


EV_RUNNING_SQL = """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
FROM events ORDER BY event_id
"""


# --------------------------------------------------------------------------
# ev_sessionize: 30-minute-gap sessionization via lag + cumulative sum —
# the canonical batch sessionization (streaming variant: session windows).
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    with_new = ev.withColumn("is_new", F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0))
    with_sess = with_new.withColumn("session_seq", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        with_sess.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("session_value"),
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
        )
        .orderBy("user_id", "session_seq")
    )


EV_SESSIONIZE_SQL = """
WITH lagged AS (
  SELECT user_id, event_id, ts, value,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
), flagged AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000 THEN 1 ELSE 0 END AS is_new
  FROM lagged
), sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       count(*) AS n_events,
       round(sum(value), 6) AS session_value,
       epoch_us(min(ts)) AS start_us,
       epoch_us(max(ts)) AS end_us
FROM sess GROUP BY 1, 2 ORDER BY user_id, session_seq
"""


# --------------------------------------------------------------------------
# ev_hourly_by_type: tumbling hourly window per event type.
def ev_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_us"), F.col("event_type"))
        # The rounded average is computed entirely in integer arithmetic:
        # sum the exact micro-scaled values (value has <=6dp, non-negative),
        # then half-up round to 4dp via (s + 50n) div (100n). round(double, 4)
        # is NOT portable — when the true mean lands exactly on a .00005
        # boundary (possible whenever n divides the 6dp sum), Spark's
        # BigDecimal HALF_UP and DuckDB's multiply-and-round disagree.
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("value").cast("decimal(18,6)") * 1000000).cast("long")).alias("s_micro"),
        )
        .select(
            "hour_us",
            "event_type",
            "n",
            (F.expr("(s_micro + 50 * n) div (100 * n)") / F.lit(10000.0)).alias("avg_value"),
        )
        .orderBy("hour_us", "event_type")
    )


EV_HOURLY_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
       count(*) AS n,
       ((CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
         + 50 * count(*)) // (100 * count(*))) / 10000.0 AS avg_value
FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type
"""


# --------------------------------------------------------------------------
# ev_top3_per_type: top-3 events by value per type — ranking window
# (row_number over partition; Spark's WindowGroupLimit pushes the limit
# into the sort, so no full per-partition materialization).
def ev_top3_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "rk", "event_id", F.round("value", 6).alias("value"))
        .orderBy("event_type", "rk")
    )


EV_TOP3_SQL = """
SELECT event_type, rk, event_id, round(value, 6) AS value
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rk
  FROM events
)
WHERE rk <= 3 ORDER BY event_type, rk
"""


# --------------------------------------------------------------------------
# ev_lag_lead_delta: per-user event-to-event value deltas + time deltas
# (lag/lead/diff — all absent in the reference, ScalableSeries.py:351-417).
def ev_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.round(F.col("value") - F.lag("value").over(w), 6).alias("value_delta"),
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .orderBy("event_id")
    )


EV_LAG_LEAD_SQL = """
SELECT event_id, user_id,
       round(value - lag(value) OVER w, 6) AS value_delta,
       epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
       lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id
"""


# --------------------------------------------------------------------------
# ev_json_extract: JSON parsing of the props column (get_json_object) +
# datetime parts extraction.
def ev_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hour"),
        )
        .filter(F.col("prop_k") > 50)
        .orderBy("event_id")
    )


EV_JSON_SQL = """
SELECT event_id,
       json_extract(props, '$.k')::BIGINT AS prop_k,
       dayofweek(ts) + 1 AS dow,
       hour(ts) AS hour
FROM events
WHERE json_extract(props, '$.k')::BIGINT > 50
ORDER BY event_id
"""

QUERIES = {
    "ev_daily_activity": ev_daily_activity,
    "ev_running_sum": ev_running_sum,
    "ev_sessionize": ev_sessionize,
    "ev_hourly_by_type": ev_hourly_by_type,
    "ev_top3_per_type": ev_top3_per_type,
    "ev_lag_lead_delta": ev_lag_lead_delta,
    "ev_json_extract": ev_json_extract,
}

ORACLES = {
    "ev_daily_activity": EV_DAILY_SQL,
    "ev_running_sum": EV_RUNNING_SQL,
    "ev_sessionize": EV_SESSIONIZE_SQL,
    "ev_hourly_by_type": EV_HOURLY_SQL,
    "ev_top3_per_type": EV_TOP3_SQL,
    "ev_lag_lead_delta": EV_LAG_LEAD_SQL,
    "ev_json_extract": EV_JSON_SQL,
}


# --------------------------------------------------------------------------
# ev_zscore_anomaly: per-type z-score outliers — two-pass shape expressed as
# window aggregates (one shuffle on event_type; stats and scoring in the same
# partitioning, no second scan).
def ev_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return (
        ev.withColumn("z", z)
        .filter(F.abs(F.col("z")) > 3.0)
        .select("event_id", "event_type", F.round("value", 6).alias("value"), F.round("z", 6).alias("z"))
        .orderBy("event_id")
    )


EV_ZSCORE_SQL = """
SELECT event_id, event_type, round(value, 6) AS value, round(z, 6) AS z
FROM (
  SELECT event_id, event_type, value,
         (value - avg(value) OVER (PARTITION BY event_type))
         / stddev_samp(value) OVER (PARTITION BY event_type) AS z
  FROM events
)
WHERE abs(z) > 3.0 ORDER BY event_id
"""

QUERIES["ev_zscore_anomaly"] = ev_zscore_anomaly
ORACLES["ev_zscore_anomaly"] = EV_ZSCORE_SQL


# --------------------------------------------------------------------------
# streaming_sessionize: the Structured Streaming session_window job run to
# completion (availableNow trigger, memory sink) and graded against the same
# DuckDB oracle family as the batch sessionization. session_window(gap) puts
# two events in one session iff their windows [ts, ts+gap) overlap, i.e.
# gap_us <= 30min — the batch lag/cumsum query splits on gap_us > 30min, so
# the session SETS are identical (exact-30min gaps don't occur in µs data);
# session_end = max(ts) + gap by definition.
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.streaming.jobs import sessionize_stream

    ev = _events_stream(spark, sf_dir)
    sess = sessionize_stream(ev, gap="30 minutes")
    # complete mode emits every session; append would hold back sessions
    # newer than the watermark at end-of-input. The memory sink collects to
    # the driver — gate/test scale only; production sinks are
    # kafka/parquet/delta via the same writeStream plan.
    return run_to_memory(sess, "streaming_sessionize_sink", "complete").select(
        "user_id",
        F.unix_micros(F.col("session_start")).alias("start_us"),
        F.unix_micros(F.col("session_end")).alias("end_us"),
        "n_events",
        F.round("session_value", 6).alias("session_value"),
    )


STREAMING_SESSIONIZE_SQL = """
WITH lagged AS (
  SELECT user_id, event_id, ts, value,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
), flagged AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000 THEN 1 ELSE 0 END AS is_new
  FROM lagged
), sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id,
       epoch_us(min(ts)) AS start_us,
       epoch_us(max(ts)) + 1800 * 1000000 AS end_us,
       count(*) AS n_events,
       round(sum(value), 6) AS session_value
FROM sess GROUP BY user_id, session_seq
"""

QUERIES["streaming_sessionize"] = streaming_sessionize
ORACLES["streaming_sessionize"] = STREAMING_SESSIONIZE_SQL


# --------------------------------------------------------------------------
# streaming_hourly_counts: the watermarked tumbling-window streaming job run
# to completion — grades hourly_counts_stream against plain GROUP BY SQL.
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.streaming.jobs import hourly_counts_stream

    ev = _events_stream(spark, sf_dir)
    agg = hourly_counts_stream(ev, watermark="2 hours")
    return run_to_memory(agg, "streaming_hourly_sink", "complete").select(
        F.unix_micros(F.col("hour")).alias("hour_us"),
        "event_type",
        "n",
        F.round("total_value", 6).alias("total_value"),
    )


STREAMING_HOURLY_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
       count(*) AS n, round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2
"""

QUERIES["streaming_hourly_counts"] = streaming_hourly_counts
ORACLES["streaming_hourly_counts"] = STREAMING_HOURLY_SQL


# --------------------------------------------------------------------------
# streaming_sliding_counts: 1-hour windows sliding every 15 minutes — each
# event contributes to 4 overlapping windows. Complete output mode (same
# rationale as the tumbling query). The oracle expands each event into its
# 4 covering windows with integer epoch arithmetic: window starts are the
# slide-aligned instants s with s <= ts < s + window.
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.streaming.jobs import sliding_counts_stream

    ev = _events_stream(spark, sf_dir)
    agg = sliding_counts_stream(ev, window="1 hour", slide="15 minutes", watermark="2 hours")
    return run_to_memory(agg, "streaming_sliding_sink", "complete").select(
        F.unix_micros(F.col("win_start")).alias("win_start_us"),
        "event_type",
        "n",
        F.round("total_value", 6).alias("total_value"),
    )


STREAMING_SLIDING_SQL = """
WITH e AS (
  SELECT epoch_us(ts) AS us, event_type, value FROM events
), expanded AS (
  SELECT ((us // (900 * 1000000::BIGINT)) - k) * (900 * 1000000::BIGINT) AS win_start_us,
         event_type, value
  FROM e, (SELECT unnest([0, 1, 2, 3]) AS k)
  WHERE ((us // (900 * 1000000::BIGINT)) - k) * (900 * 1000000::BIGINT) > us - 3600 * 1000000::BIGINT
)
SELECT win_start_us, event_type, count(*) AS n, round(sum(value), 6) AS total_value
FROM expanded GROUP BY 1, 2
"""

QUERIES["streaming_sliding_counts"] = streaming_sliding_counts
ORACLES["streaming_sliding_counts"] = STREAMING_SLIDING_SQL


# --------------------------------------------------------------------------
# streaming_segment_counts: stream-static enrichment — the events stream
# broadcast-joined to the customer dimension per micro-batch, aggregated by
# (market segment, event type). No stream-side join state; the oracle is
# the plain batch join + GROUP BY.
def streaming_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.queries.tables import load_table
    from bears_spark.streaming.jobs import dim_enriched_counts_stream

    ev = _events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = dim_enriched_counts_stream(
        ev, dim, "user_id", "c_custkey", ["c_mktsegment", "event_type"]
    )
    return run_to_memory(agg, "streaming_segment_sink", "complete").select(
        "c_mktsegment", "event_type", "n", F.round("total_value", 6).alias("total_value")
    )


STREAMING_SEGMENT_SQL = """
SELECT c_mktsegment, event_type, count(*) AS n, round(sum(value), 6) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""

QUERIES["streaming_segment_counts"] = streaming_segment_counts
ORACLES["streaming_segment_counts"] = STREAMING_SEGMENT_SQL


# --------------------------------------------------------------------------
# streaming_purchase_attribution: the stream-stream interval join run to
# completion and graded against the equivalent batch interval join in DuckDB.
# availableNow delivers the whole file in micro-batches; inner stream-stream
# joins emit matches as soon as both sides arrive (no watermark hold-back for
# inner joins), so end-of-input output == the batch join result.
def streaming_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.streaming.jobs import purchase_attribution_stream

    ev = _events_stream(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view")
    buys = ev.filter(F.col("event_type") == "purchase")
    out = purchase_attribution_stream(views, buys, max_delay="1 hour", watermark="2 hours")
    return run_to_memory(out, "streaming_attribution_sink").select(
        "user_id",
        "purchase_id",
        F.unix_micros(F.col("purchase_ts")).alias("purchase_us"),
        "view_id",
        F.unix_micros(F.col("view_ts")).alias("view_us"),
    )


STREAMING_ATTRIBUTION_SQL = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts) AS purchase_us,
       v.event_id AS view_id,
       epoch_us(v.ts) AS view_us
FROM events p
JOIN events v
  ON v.user_id = p.user_id
 AND v.ts < p.ts
 AND v.ts >= p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
"""

QUERIES["streaming_purchase_attribution"] = streaming_purchase_attribution
ORACLES["streaming_purchase_attribution"] = STREAMING_ATTRIBUTION_SQL


# --------------------------------------------------------------------------
# streaming_attribution_outer: the LEFT-OUTER stream-stream interval join —
# unmatched purchases emit null view columns once the watermark proves no
# view can still arrive. Bounded replay uses flush punctuation
# (bounded_replay_source) so every real purchase is provably attributable
# or provably not by end of stream, making the oracle the PLAIN batch
# left-outer join — no watermark-cutoff clause needed.
def streaming_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from bears_spark.queries.tables import load_table
    from bears_spark.streaming.jobs import bounded_replay_source, purchase_attribution_outer_stream

    events = load_table(spark, sf_dir, "events")
    flush_ts = events.agg(F.max("ts")).first()[0] + datetime.timedelta(hours=4)
    tmp = scoped_dir("attr_outer_")
    ev = bounded_replay_source(
        spark,
        events,
        [(-1, flush_ts, -1, "view", 0.0, "{}"), (-2, flush_ts, -2, "purchase", 0.0, "{}")],
        tmp,
    )
    out = purchase_attribution_outer_stream(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        max_delay="1 hour",
        watermark="2 hours",
    )
    res = run_to_memory(out, "streaming_attribution_outer_sink")
    return res.select(
        "user_id",
        "purchase_id",
        F.unix_micros(F.col("purchase_ts")).alias("purchase_us"),
        "view_id",
        F.unix_micros(F.col("view_ts")).alias("view_us"),
    )


STREAMING_ATTRIBUTION_OUTER_SQL = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts) AS purchase_us,
       v.event_id AS view_id,
       epoch_us(v.ts) AS view_us
FROM events p
LEFT JOIN events v
  ON v.user_id = p.user_id
 AND v.ts < p.ts
 AND v.ts >= p.ts - INTERVAL 1 HOUR
 AND v.event_type = 'view'
WHERE p.event_type = 'purchase'
"""

QUERIES["streaming_attribution_outer"] = streaming_attribution_outer
ORACLES["streaming_attribution_outer"] = STREAMING_ATTRIBUTION_OUTER_SQL


# --------------------------------------------------------------------------
# streaming_running_totals: the applyInPandasWithState arbitrary-state
# operator run to completion. Delivered as ONE micro-batch (availableNow over
# a single file), each user emits exactly one state row whose cumulative
# totals equal the plain GROUP BY — grading the custom stateful path against
# SQL. Multi-batch accumulation semantics are pinned separately in
# tests/test_streaming.py.
def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.streaming.jobs import running_user_totals_stream

    ev = _events_stream(spark, sf_dir)
    out = running_user_totals_stream(ev, timeout_minutes=None)  # availableNow: see jobs.py docstring
    return (
        run_to_memory(out, "streaming_running_totals_sink")
        .groupBy("user_id")
        .agg(
            F.sum("batch_events").alias("n_events"),
            # cum_value at the highest cum_events = the final state (robust to
            # multi-batch delivery and to negative values, unlike max())
            F.round(F.expr("max_by(cum_value, cum_events)"), 6).alias("total_value"),
        )
    )


STREAMING_RUNNING_TOTALS_SQL = """
SELECT user_id, count(*) AS n_events,
       round(sum(coalesce(value, 0)), 6) AS total_value
FROM events GROUP BY user_id
"""

QUERIES["streaming_running_totals"] = streaming_running_totals
ORACLES["streaming_running_totals"] = STREAMING_RUNNING_TOTALS_SQL


# --------------------------------------------------------------------------
# ev_rolling_stats: per-user trailing-5-row rolling mean/max via the
# SparkFrame.rolling_agg sugar (pandas rolling semantics; partitioned by
# user so the sort parallelizes).
def ev_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.frame import SparkFrame

    ev = load_table(spark, sf_dir, "events")
    # __ord__ makes the trailing window deterministic under (ts, event_id)
    # even if two events of one user ever share a timestamp
    sf = SparkFrame(
        ev.select("event_id", "user_id", "ts", "value").withColumn(
            "__ord__", F.struct(F.col("ts"), F.col("event_id"))
        )
    )
    rolled = sf.rolling_agg("__ord__", window_size=5, aggs={"value": ["mean", "max"]}, partition_by=["user_id"]).df
    return rolled.select(
        "event_id",
        "user_id",
        F.round("value_rolling_mean", 6).alias("roll_mean"),
        F.round("value_rolling_max", 6).alias("roll_max"),
    ).orderBy("event_id")


EV_ROLLING_SQL = """
SELECT event_id, user_id,
       round(avg(value) OVER w, 6) AS roll_mean,
       round(max(value) OVER w, 6) AS roll_max
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""

QUERIES["ev_rolling_stats"] = ev_rolling_stats
ORACLES["ev_rolling_stats"] = EV_ROLLING_SQL


# --------------------------------------------------------------------------
# ev_rolling_time_stats: trailing EVENT-TIME window (frame.rolling_time_agg)
# — per user, mean/count of value over the closed [t - 1h, t] interval.
# Compiles to a rangeBetween window on epoch seconds (per-key bounded
# state); the oracle reproduces the identical closed interval with DuckDB's
# RANGE frame over epoch(ts).
def ev_rolling_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.frame import SparkFrame

    ev = load_table(spark, sf_dir, "events")
    sf = SparkFrame(ev.select("event_id", "user_id", "ts", "value"))
    rolled = sf.rolling_time_agg(
        "ts", "1h", aggs={"value": ["mean", "count"]}, partition_by=["user_id"]
    ).df
    return rolled.select(
        "event_id",
        "user_id",
        F.round("value_rolling_mean", 6).alias("tw_mean"),
        F.col("value_rolling_count").alias("tw_n"),
    ).orderBy("event_id")


EV_ROLLING_TIME_SQL = """
SELECT event_id, user_id,
       round(avg(value) OVER w, 6) AS tw_mean,
       count(value) OVER w AS tw_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(epoch(ts) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""

QUERIES["ev_rolling_time_stats"] = ev_rolling_time_stats
ORACLES["ev_rolling_time_stats"] = EV_ROLLING_TIME_SQL


# --------------------------------------------------------------------------
# ev_asof_purchase: as-of join — each event gets its user's most recent
# purchase value (exact-ts matches allowed, pre-first-purchase rows null).
# Implemented join-free (union + one window carry); the oracle uses DuckDB's
# native ASOF LEFT JOIN, so the operator is verified against an independent
# as-of implementation.
def ev_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("pval")
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts", "value"),
        purchases,
        on="ts",
        by="user_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("pval_asof", 6).alias("last_purchase_value"),
    ).orderBy("event_id")


EV_ASOF_SQL = """
SELECT e.event_id, e.user_id, round(p.pval, 6) AS last_purchase_value
FROM events e
ASOF LEFT JOIN (
  SELECT user_id, ts, value AS pval FROM events WHERE event_type = 'purchase'
) p ON e.user_id = p.user_id AND e.ts >= p.ts
ORDER BY e.event_id
"""


# --------------------------------------------------------------------------
# ev_range_window_counts: range join — events bucketed into synthetic
# half-open maintenance windows [hour+5min, hour+35min) derived from the
# distinct event hours. The bucketed equi-join + residual filter is the
# scale shape; the oracle does the naive non-equi join directly.
def ev_range_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.temporal import range_join

    ev = load_table(spark, sf_dir, "events")
    windows = (
        ev.select(F.date_trunc("hour", F.col("ts")).alias("h"))
        .distinct()
        .select(
            (F.col("h") + F.expr("INTERVAL 5 MINUTES")).alias("w_start"),
            (F.col("h") + F.expr("INTERVAL 35 MINUTES")).alias("w_end"),
        )
    )
    joined = range_join(
        ev.select("event_id", "ts", "value"),
        windows,
        point_col="ts",
        start_col="w_start",
        end_col="w_end",
        bucket_width_us=3_600_000_000,
    )
    return (
        joined.groupBy(F.unix_micros("w_start").alias("w_start_us"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .orderBy("w_start_us")
    )


EV_RANGE_SQL = """
WITH w AS (
  SELECT DISTINCT date_trunc('hour', ts) + INTERVAL 5 MINUTE AS w_start,
                  date_trunc('hour', ts) + INTERVAL 35 MINUTE AS w_end
  FROM events
)
SELECT epoch_us(w.w_start) AS w_start_us,
       count(*) AS n_events,
       round(sum(e.value), 6) AS total_value
FROM events e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.w_start ORDER BY w_start_us
"""

# --------------------------------------------------------------------------
# ev_ewm_value: per-user exponentially weighted mean of value (alpha=0.1,
# adjust=True — pandas computes it inside a grouped applyInPandas). The
# oracle uses the closed form ewm_t = sum(v_i*(1-a)^(t-i)) / sum((1-a)^(t-i))
# factored as running sums of v_i*(1-a)^(-i) scaled by (1-a)^t: with a=0.1
# the weight ratio across a user's ~70 events stays ~1e3, so double
# precision holds and both engines agree to 6dp.
def ev_ewm_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.frame import SparkFrame

    ev = load_table(spark, sf_dir, "events")
    sf = SparkFrame(ev.select("event_id", "user_id", "ts", "value"))
    out = sf.ewm_mean("ts", ["value"], alpha=0.1, partition_by=["user_id"]).df
    return out.select("event_id", F.round("value_ewm", 6).alias("ewm_value")).orderBy("event_id")


EV_EWM_SQL = """
WITH ordered AS (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS i
  FROM events
), parts AS (
  SELECT event_id, user_id, i,
         sum(value * pow(0.9, -i)) OVER w AS num_scaled,
         sum(pow(0.9, -i)) OVER w AS den_scaled
  FROM ordered
  WINDOW w AS (PARTITION BY user_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, round(num_scaled / den_scaled, 6) AS ewm_value
FROM parts ORDER BY event_id
"""

QUERIES["ev_ewm_value"] = ev_ewm_value
ORACLES["ev_ewm_value"] = EV_EWM_SQL

QUERIES["ev_asof_purchase"] = ev_asof_purchase
ORACLES["ev_asof_purchase"] = EV_ASOF_SQL
QUERIES["ev_range_window_counts"] = ev_range_window_counts
ORACLES["ev_range_window_counts"] = EV_RANGE_SQL


# --------------------------------------------------------------------------
# ev_funnel_conversion: windowed funnel view -> click -> purchase within 6 h
# of the first view (ClickHouse windowFunnel min-chain semantics). Spark
# computes it in ONE shuffle via functions/analytics.window_funnel's sorted-
# array state machine; the oracle derives the identical min-chain with
# sequential FILTER/JOIN steps — two totally different plans, same answer.
_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_WINDOW_US = 6 * 3600 * 1_000_000


def ev_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.analytics import window_funnel

    ev = load_table(spark, sf_dir, "events")
    per_user = window_funnel(
        ev, "user_id", "ts", "event_type", _FUNNEL_STEPS, window_micros=_FUNNEL_WINDOW_US
    )
    return (
        per_user.groupBy("funnel_step")
        .agg(F.count("*").alias("n_users"))
        .orderBy("funnel_step")
    )


EV_FUNNEL_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t, event_type AS y FROM events
), s1 AS (
  SELECT user_id, min(t) FILTER (WHERE y = '{_FUNNEL_STEPS[0]}') AS t1
  FROM ev GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.t) AS t2
  FROM ev e JOIN s1 ON e.user_id = s1.user_id
  WHERE s1.t1 IS NOT NULL AND e.y = '{_FUNNEL_STEPS[1]}'
    AND e.t > s1.t1 AND e.t <= s1.t1 + {_FUNNEL_WINDOW_US}
  GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(e.t) AS t3
  FROM ev e JOIN s2 ON e.user_id = s2.user_id JOIN s1 ON e.user_id = s1.user_id
  WHERE e.y = '{_FUNNEL_STEPS[2]}'
    AND e.t > s2.t2 AND e.t <= s1.t1 + {_FUNNEL_WINDOW_US}
  GROUP BY 1
)
SELECT funnel_step, count(*) AS n_users FROM (
  SELECT CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
                   WHEN s2.user_id IS NOT NULL THEN 2
                   WHEN s1.t1 IS NOT NULL THEN 1
                   ELSE 0 END AS BIGINT) AS funnel_step
  FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
) GROUP BY 1 ORDER BY 1
"""

QUERIES["ev_funnel_conversion"] = ev_funnel_conversion
ORACLES["ev_funnel_conversion"] = EV_FUNNEL_SQL


# --------------------------------------------------------------------------
# ev_cohort_retention: users grouped by first-active day; distinct active
# users per (cohort_day, day_offset) — the standard retention triangle.
def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.analytics import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts").orderBy("cohort_day", "day_offset")


EV_COHORT_SQL = """
WITH first AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort FROM events GROUP BY 1
)
SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', f.cohort, date_trunc('day', e.ts)) AS BIGINT) AS day_offset,
       count(DISTINCT e.user_id) AS n_active
FROM events e JOIN first f ON e.user_id = f.user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""

# --------------------------------------------------------------------------
# ev_user_ltv_decile: users deciled by purchase lifetime value — the
# marketing-analytics LTV segmentation. The USER grain is SF-linear, so the
# global ntile(10) runs through functions/prefix.partitioned_ntile (range
# shuffle + offset table, byte-identical to the window form, no one-task
# WindowExec); output is the bounded per-decile summary. Value sums are
# decimal so the per-decile totals are exact under any partitioning.
def ev_user_ltv_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.prefix import partitioned_ntile

    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(30,6)")).alias("ltv"))
    )
    tiled = partitioned_ntile(
        per_user, [F.desc("ltv"), F.asc("user_id")], 10, out_col="decile"
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count("*").alias("n_users"),
            F.round(F.sum("ltv").cast("double"), 6).alias("total_ltv"),
            F.round(F.min("ltv").cast("double"), 6).alias("floor_ltv"),
        )
        .orderBy("decile")
    )


EV_LTV_DECILE_SQL = """
WITH per AS (
  SELECT user_id, sum(CAST(value AS DECIMAL(30,6))) AS ltv
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), tiled AS (
  SELECT user_id, ltv, ntile(10) OVER (ORDER BY ltv DESC, user_id ASC) AS decile
  FROM per
)
SELECT decile, count(*) AS n_users,
       round(CAST(sum(ltv) AS DOUBLE), 6) AS total_ltv,
       round(CAST(min(ltv) AS DOUBLE), 6) AS floor_ltv
FROM tiled GROUP BY decile ORDER BY decile
"""

QUERIES["ev_cohort_retention"] = ev_cohort_retention
ORACLES["ev_cohort_retention"] = EV_COHORT_SQL

QUERIES["ev_user_ltv_decile"] = ev_user_ltv_decile
ORACLES["ev_user_ltv_decile"] = EV_LTV_DECILE_SQL


# --------------------------------------------------------------------------
# ev_hopping_windows: sliding 1-hour window every 15 minutes (each event
# belongs to 4 overlapping windows). Spark's F.window(slide) expands
# windows natively; the oracle reconstructs the epoch-aligned hops with
# time_bucket - k*15min. One groupBy with partial aggregation — output is
# window-count-sized, not events-sized.
def ev_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(F.unix_micros(F.col("w.start")).alias("w_start_us"), "n_events", "total_value")
        .orderBy("w_start_us")
    )


EV_HOPPING_SQL = """
WITH hops AS (
  SELECT epoch_us(time_bucket(INTERVAL 15 MINUTE, ts) - t.k * INTERVAL 15 MINUTE) AS w_start_us,
         value
  FROM events, range(4) t(k)
)
SELECT w_start_us, count(*) AS n_events, round(sum(value), 6) AS total_value
FROM hops GROUP BY 1 ORDER BY w_start_us
"""

QUERIES["ev_hopping_windows"] = ev_hopping_windows
ORACLES["ev_hopping_windows"] = EV_HOPPING_SQL


# --------------------------------------------------------------------------
# ev_salted_type_stats: the two-phase salted aggregation (skew.py) graded
# against a plain GROUP BY — proves the salt/unsalt pipeline is lossless.
# event_type has only 5 hot values, the exact pathological shape salting
# exists for: phase 1 spreads each hot key over 8 reducers, phase 2
# combines 40 partial rows. Sums run in DECIMAL(18,6) so regrouping the
# addition under salt cannot perturb the result (decimal addition is
# associative; double addition is not).
def ev_salted_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
        "event_id",
    )
    out = salted_agg(src, ["event_type"], {"v": "sum", "event_id": "count"}, num_salts=8)
    return out.select(
        "event_type",
        F.col("v_sum").cast("double").alias("total_value"),
        F.col("event_id_count").alias("n"),
    )


EV_SALTED_SQL = """
SELECT event_type,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       count(event_id) AS n
FROM events GROUP BY 1
"""

QUERIES["ev_salted_type_stats"] = ev_salted_type_stats
ORACLES["ev_salted_type_stats"] = EV_SALTED_SQL


# --------------------------------------------------------------------------
# ev_concurrency_timeline: interval-overlap counting by sweep-line — treat
# each event as a 5-minute activity interval and compute, per event type,
# the number of concurrently-active intervals at every boundary instant.
# The classic room-scheduling/peak-load shape: explode intervals into
# +1/-1 boundary deltas, aggregate per instant, running-sum the net. Ends
# sort with starts at the same instant but deltas are pre-aggregated per
# instant so tie order cannot matter. One groupBy + one window, both
# partitioned by event_type.
def ev_concurrency_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.select("event_type", F.col("ts").alias("t"), F.lit(1).alias("d")).unionByName(
        ev.select("event_type", (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("t"), F.lit(-1).alias("d"))
    )
    net = bounds.groupBy("event_type", "t").agg(F.sum("d").alias("net"))
    w = Window.partitionBy("event_type").orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return net.select(
        "event_type",
        F.unix_micros("t").alias("t_us"),
        "net",
        F.sum("net").over(w).alias("concurrency"),
    )


EV_CONCURRENCY_SQL = """
WITH bounds AS (
  SELECT event_type, ts AS t, 1 AS d FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 5 MINUTE, -1 FROM events
), net AS (
  SELECT event_type, t, CAST(sum(d) AS BIGINT) AS net FROM bounds GROUP BY 1, 2
)
SELECT event_type, epoch_us(t) AS t_us, net,
       CAST(sum(net) OVER (PARTITION BY event_type ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS concurrency
FROM net
"""

QUERIES["ev_concurrency_timeline"] = ev_concurrency_timeline
ORACLES["ev_concurrency_timeline"] = EV_CONCURRENCY_SQL


# --------------------------------------------------------------------------
# ev_value_winsorized: outlier capping at exact p01/p99 (two-pass: exact
# percentiles on one aggregation, broadcast the two scalars back as a CASE
# clip). The robust-statistics companion to z-score anomaly detection —
# per event type so the percentile state is per-group.
def ev_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    )
    clipped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.greatest(F.least(F.col("value"), F.col("hi")), F.col("lo")).alias("w"),
    )
    return clipped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.min("w"), 6).alias("min_w"),
        F.round(F.max("w"), 6).alias("max_w"),
        F.round(F.sum(F.col("w").cast("decimal(28,10)")).cast("double") / F.count("*"), 6).alias("mean_w"),
    )


EV_WINSORIZE_SQL = """
WITH src AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
), b AS (
  SELECT event_type, quantile_cont(value, 0.01) AS lo, quantile_cont(value, 0.99) AS hi
  FROM src GROUP BY 1
), c AS (
  SELECT src.event_type, greatest(least(value, hi), lo) AS w
  FROM src JOIN b ON src.event_type = b.event_type
)
SELECT event_type, count(*) AS n,
       round(min(w), 6) AS min_w,
       round(max(w), 6) AS max_w,
       round(CAST(sum(CAST(w AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS mean_w
FROM c GROUP BY 1
"""

QUERIES["ev_value_winsorized"] = ev_value_winsorized
ORACLES["ev_value_winsorized"] = EV_WINSORIZE_SQL


# --------------------------------------------------------------------------
# streaming_dedup_events: the watermarked streaming exact-dedup job run to
# completion — event_ids are unique in the corpus, so end-of-input output
# must be exactly the full id set (nothing dropped, nothing duplicated by
# the state machinery).
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.streaming.jobs import dedup_stream

    ev = _events_stream(spark, sf_dir)
    out = dedup_stream(ev, watermark="1 hour")
    return run_to_memory(out, "streaming_dedup_sink").select("event_id", "user_id", "event_type")


STREAMING_DEDUP_SQL = """
SELECT event_id, user_id, event_type FROM events
"""

QUERIES["streaming_dedup_events"] = streaming_dedup_events
ORACLES["streaming_dedup_events"] = STREAMING_DEDUP_SQL


# --------------------------------------------------------------------------
# ev_robust_anomaly: robust outlier detection via the modified z-score
# (Iglewicz-Hoaglin): |x - median| / (1.4826 * MAD) > 3.5, per event type.
# Unlike the mean/stddev z-score (ev_zscore_anomaly) this doesn't let the
# outliers inflate their own threshold. Two exact-percentile passes:
# median per group, then median absolute deviation per group — each a
# single aggregation; the small per-group stats broadcast back.
def ev_robust_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn("adev", F.abs(F.col("value") - F.col("med")))
    mad = dev.groupBy("event_type").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    scored = dev.join(F.broadcast(mad), "event_type").withColumn(
        "mz", F.col("adev") / (F.lit(1.4826) * F.col("mad"))
    )
    return (
        scored.where(F.col("mz") > 3.5)
        .select("event_id", "event_type", F.round("value", 6).alias("value"), F.round("mz", 6).alias("mz"))
    )


EV_ROBUST_ANOMALY_SQL = """
WITH src AS (
  SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL
), med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM src GROUP BY 1
), dev AS (
  SELECT src.*, abs(value - med) AS adev FROM src JOIN med USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT event_id, dev.event_type, round(value, 6) AS value,
       round(adev / (1.4826 * mad.mad), 6) AS mz
FROM dev JOIN mad ON dev.event_type = mad.event_type
WHERE adev / (1.4826 * mad.mad) > 3.5
"""

QUERIES["ev_robust_anomaly"] = ev_robust_anomaly
ORACLES["ev_robust_anomaly"] = EV_ROBUST_ANOMALY_SQL


# --------------------------------------------------------------------------
# ev_hourly_gap_filled: time-series densification — per event type, EVERY
# hour between the series' min and max, zero-filled where no events fall.
# sequence() + explode generates the hour spine per type (one row per
# type, then an array explode — no driver loop, no cross join); a left
# join brings in the sparse aggregates. The resample-with-fill shape every
# dashboard and forecasting pipeline needs.
def ev_hourly_gap_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    actual = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n")
    )
    bounds = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour"),
    )
    return (
        spine.join(actual, ["event_type", "hour"], "left")
        .select(
            "event_type",
            F.unix_micros("hour").alias("hour_us"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )


EV_GAP_FILLED_SQL = """
WITH actual AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events GROUP BY 1
), spine AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
)
SELECT s.event_type, epoch_us(s.hour) AS hour_us, coalesce(a.n, 0) AS n
FROM spine s LEFT JOIN actual a ON s.event_type = a.event_type AND s.hour = a.hour
"""

QUERIES["ev_hourly_gap_filled"] = ev_hourly_gap_filled
ORACLES["ev_hourly_gap_filled"] = EV_GAP_FILLED_SQL


# --------------------------------------------------------------------------
# ev_value_trend: per-type trend regression — OLS slope/intercept/r2 of
# value against event-time hours via the closed-form regr_* aggregates
# (one pass, no iteration). The drift-monitoring primitive: "is this
# metric trending?" x is hours-since-epoch so slopes are per-hour units.
def ev_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = (F.unix_micros("ts") / F.lit(3.6e9)).alias("x")  # hours, double
    src = ev.select("event_type", F.col("value").alias("y"), x)
    return src.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.expr("regr_slope(y, x)"), 6).alias("slope_per_hour"),
        F.round(F.expr("regr_intercept(y, x)"), 4).alias("intercept"),
        F.round(F.expr("regr_r2(y, x)"), 6).alias("r2"),
    )


EV_TREND_SQL = """
WITH src AS (
  SELECT event_type, value AS y, epoch_us(ts) / 3600000000.0 AS x
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, count(*) AS n,
       round(regr_slope(y, x), 6) AS slope_per_hour,
       round(regr_intercept(y, x), 4) AS intercept,
       round(regr_r2(y, x), 6) AS r2
FROM src GROUP BY 1
"""

QUERIES["ev_value_trend"] = ev_value_trend
ORACLES["ev_value_trend"] = EV_TREND_SQL


# --------------------------------------------------------------------------
# ev_type_transitions: behavioral Markov chain — per-user event-type
# transition counts and conditional probabilities P(next | current) from a
# lag window over each user's ordered stream. One user-partitioned window
# + one aggregation; the session-flow model behind funnel design.
def ev_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    counts = pairs.groupBy("cur", "nxt").agg(F.count("*").alias("n"))
    totals = counts.groupBy("cur").agg(F.sum("n").alias("tot"))
    return counts.join(F.broadcast(totals), "cur").select(
        "cur", "nxt", "n", F.round(F.col("n") / F.col("tot"), 6).alias("p")
    )


EV_TRANSITIONS_SQL = """
WITH pairs AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
), cnt AS (
  SELECT cur, nxt, count(*) AS n FROM pairs WHERE nxt IS NOT NULL GROUP BY 1, 2
), tot AS (SELECT cur, sum(n) AS tot FROM cnt GROUP BY 1)
SELECT cur, nxt, n, round(CAST(n AS DOUBLE) / tot, 6) AS p
FROM cnt JOIN tot USING (cur)
"""

QUERIES["ev_type_transitions"] = ev_type_transitions
ORACLES["ev_type_transitions"] = EV_TRANSITIONS_SQL


# --------------------------------------------------------------------------
# ev_top_session_paths: behavioral path mining — the 10 most common
# 3-step event-type openings of user sessions (sessionized by the same
# 30-minute gap rule as ev_sessionize). Session assembly is one
# sort-within-group aggregation (array_sort over (seq, type) structs keeps
# the order deterministic); paths are the first three steps joined.
def ev_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    sess = (
        ev.withColumn("is_new", F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0))
        .withColumn("session_seq", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("step", F.row_number().over(Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")))
    )
    paths = (
        sess.where(F.col("step") <= 3)
        .groupBy("user_id", "session_seq")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("step", "event_type"))), lambda x: x["event_type"]),
                ">",
            ).alias("path"),
            F.count("*").alias("plen"),
        )
        .where(F.col("plen") == 3)  # full 3-step openings only
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


EV_TOP_PATHS_SQL = """
WITH lagged AS (
  SELECT user_id, event_id, ts, event_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), flagged AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000 THEN 1 ELSE 0 END AS is_new
  FROM lagged
), sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
), stepped AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_seq ORDER BY ts, event_id) AS step
  FROM sess
), paths AS (
  SELECT user_id, session_seq,
         string_agg(event_type, '>' ORDER BY step) AS path,
         count(*) AS plen
  FROM stepped WHERE step <= 3 GROUP BY 1, 2
)
SELECT path, count(*) AS n_sessions
FROM paths WHERE plen = 3
GROUP BY path ORDER BY n_sessions DESC, path LIMIT 10
"""

QUERIES["ev_top_session_paths"] = ev_top_session_paths
ORACLES["ev_top_session_paths"] = EV_TOP_PATHS_SQL


# --------------------------------------------------------------------------
# ev_cusum_alarm: CUSUM changepoint alarms per event type. The sequential
# CUSUM recursion is computed exactly as two window prefixes (running sum +
# running min) — see functions/analytics.py::cusum_scores. The alarm rule
# compares on round(S - h*sigma, 6) so the borderline decision is identical
# in any engine that agrees to 6 decimals.
_CUSUM_K, _CUSUM_H = 0.25, 3.0


def ev_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.analytics import cusum_scores

    ev = load_table(spark, sf_dir, "events")
    scored = cusum_scores(ev, "value", ["ts", "event_id"], ["event_type"], k=_CUSUM_K)
    return (
        scored.filter(F.round(F.col("cusum") - _CUSUM_H * F.col("cusum_sigma"), 6) > 0)
        .select("event_id", "event_type", F.round("cusum", 6).alias("cusum"))
        .orderBy("event_id")
    )


EV_CUSUM_SQL = f"""
WITH base AS (
  SELECT event_id, event_type, ts, value,
         avg(value) OVER (PARTITION BY event_type) AS mu,
         stddev_samp(value) OVER (PARTITION BY event_type) AS sd
  FROM events
), cum AS (
  SELECT *, sum(value - mu - {_CUSUM_K} * sd) OVER w AS c
  FROM base
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT *, c - least(0, min(c) OVER w) AS cusum
  FROM cum
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type, round(cusum, 6) AS cusum
FROM s WHERE round(cusum - {_CUSUM_H} * sd, 6) > 0 ORDER BY event_id
"""

QUERIES["ev_cusum_alarm"] = ev_cusum_alarm
ORACLES["ev_cusum_alarm"] = EV_CUSUM_SQL


# --------------------------------------------------------------------------
# ev_seasonal_profile: day-of-week x hour-of-day seasonal baseline per event
# type, then the 50 events deviating most from their seasonal mean. The
# baseline is a bounded dim (types x 7 x 24) — an explicit broadcast is safe
# at any corpus size; the deviation ordering compares on round(.,6) with an
# event_id tiebreak so the global top-50 cut is engine-reproducible.
def ev_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_id",
        "event_type",
        "value",
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),  # 0 = Sunday, as date_part('dow')
        F.hour("ts").cast("long").alias("hod"),
    )
    base = keyed.groupBy("event_type", "dow", "hod").agg(F.avg("value").alias("seasonal_avg"))
    return (
        keyed.join(F.broadcast(base), ["event_type", "dow", "hod"])
        .select(
            "event_id",
            "event_type",
            "dow",
            "hod",
            F.round("seasonal_avg", 6).alias("seasonal_avg"),
            F.round(F.abs(F.col("value") - F.col("seasonal_avg")), 6).alias("abs_dev"),
        )
        .orderBy(F.desc("abs_dev"), "event_id")
        .limit(50)
    )


EV_SEASONAL_SQL = """
WITH keyed AS (
  SELECT event_id, event_type, value,
         date_part('dow', ts)::BIGINT AS dow, date_part('hour', ts)::BIGINT AS hod
  FROM events
), base AS (
  SELECT event_type, dow, hod, avg(value) AS seasonal_avg FROM keyed GROUP BY 1, 2, 3
)
SELECT event_id, event_type, dow, hod,
       round(seasonal_avg, 6) AS seasonal_avg,
       round(abs(value - seasonal_avg), 6) AS abs_dev
FROM keyed JOIN base USING (event_type, dow, hod)
ORDER BY abs_dev DESC, event_id LIMIT 50
"""

QUERIES["ev_seasonal_profile"] = ev_seasonal_profile
ORACLES["ev_seasonal_profile"] = EV_SEASONAL_SQL


# --------------------------------------------------------------------------
# ev_funnel_latency: time-to-convert percentiles for the full funnel chain —
# the natural companion to ev_funnel_conversion (how MANY convert) answering
# how FAST. Same min-chain semantics expressed as three filtered groupBy-min
# joins (each stage's table shrinks, so the chain is three cheap shuffles);
# exact interpolated percentiles at the end.
def ev_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), F.col("event_type").alias("y")
    )
    s1 = ev.where(F.col("y") == _FUNNEL_STEPS[0]).groupBy("user_id").agg(F.min("t").alias("t1"))
    s2 = (
        ev.where(F.col("y") == _FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .where((F.col("t") > F.col("t1")) & (F.col("t") <= F.col("t1") + _FUNNEL_WINDOW_US))
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.where(F.col("y") == _FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .where((F.col("t") > F.col("t2")) & (F.col("t") <= F.col("t1") + _FUNNEL_WINDOW_US))
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"), F.min("t1").alias("t1"))
    )
    lat = s3.select(((F.col("t3") - F.col("t1")) / F.lit(1_000_000.0)).alias("sec"))
    return lat.agg(
        F.count("*").alias("n_converted"),
        F.round(F.expr("percentile(sec, 0.5)"), 6).alias("p50_sec"),
        F.round(F.expr("percentile(sec, 0.9)"), 6).alias("p90_sec"),
    )


EV_FUNNEL_LATENCY_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t, event_type AS y FROM events
), s1 AS (
  SELECT user_id, min(t) AS t1 FROM ev WHERE y = '{_FUNNEL_STEPS[0]}' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.t) AS t2, min(s1.t1) AS t1
  FROM ev e JOIN s1 USING (user_id)
  WHERE e.y = '{_FUNNEL_STEPS[1]}' AND e.t > s1.t1 AND e.t <= s1.t1 + {_FUNNEL_WINDOW_US}
  GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(e.t) AS t3, min(s2.t1) AS t1
  FROM ev e JOIN s2 USING (user_id)
  WHERE e.y = '{_FUNNEL_STEPS[2]}' AND e.t > s2.t2 AND e.t <= s2.t1 + {_FUNNEL_WINDOW_US}
  GROUP BY 1
), lat AS (
  SELECT (t3 - t1) / 1000000.0 AS sec FROM s3
)
SELECT count(*) AS n_converted,
       round(quantile_cont(sec, 0.5), 6) AS p50_sec,
       round(quantile_cont(sec, 0.9), 6) AS p90_sec
FROM lat
"""

QUERIES["ev_funnel_latency"] = ev_funnel_latency
ORACLES["ev_funnel_latency"] = EV_FUNNEL_LATENCY_SQL


# --------------------------------------------------------------------------
# ev_attribution_touch: first-touch vs last-touch marketing attribution —
# for each user who purchased, credit the first and the last pre-purchase
# event type before their FIRST purchase. Window row_number in both
# directions (one shuffle on user_id, the same sort serves both) instead of
# arg_min/arg_max so the tiebreak (ts, event_id) is total and
# engine-reproducible.
def ev_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").groupBy("user_id").agg(F.min("ts").alias("pt"))
    pre = ev.join(p, "user_id").where((F.col("ts") < F.col("pt")) & (F.col("event_type") != "purchase"))
    w_first = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_last = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    fl = pre.select(
        "user_id",
        "event_type",
        F.row_number().over(w_first).alias("rf"),
        F.row_number().over(w_last).alias("rl"),
    )
    first = fl.where(F.col("rf") == 1).groupBy("event_type").agg(F.count("*").alias("n_first_touch"))
    last = fl.where(F.col("rl") == 1).groupBy("event_type").agg(F.count("*").alias("n_last_touch"))
    return (
        first.join(last, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("n_first_touch", F.lit(0)).alias("n_first_touch"),
            F.coalesce("n_last_touch", F.lit(0)).alias("n_last_touch"),
        )
        .orderBy("event_type")
    )


EV_ATTRIBUTION_SQL = """
WITH p AS (
  SELECT user_id, min(ts) AS pt FROM events WHERE event_type = 'purchase' GROUP BY 1
), pre AS (
  SELECT e.user_id, e.event_type, e.ts, e.event_id
  FROM events e JOIN p USING (user_id)
  WHERE e.ts < p.pt AND e.event_type <> 'purchase'
), fl AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rf,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rl
  FROM pre
), first AS (
  SELECT event_type, count(*) AS n_first_touch FROM fl WHERE rf = 1 GROUP BY 1
), last AS (
  SELECT event_type, count(*) AS n_last_touch FROM fl WHERE rl = 1 GROUP BY 1
)
SELECT COALESCE(f.event_type, l.event_type) AS event_type,
       COALESCE(n_first_touch, 0) AS n_first_touch,
       COALESCE(n_last_touch, 0) AS n_last_touch
FROM first f FULL OUTER JOIN last l ON f.event_type = l.event_type
ORDER BY event_type
"""

QUERIES["ev_attribution_touch"] = ev_attribution_touch
ORACLES["ev_attribution_touch"] = EV_ATTRIBUTION_SQL


# --------------------------------------------------------------------------
# streaming_attribution_full: FULL-outer stream-stream interval join under
# the deterministic flush-punctuation replay harness — every purchase AND
# every view emitted exactly once (attributed / converted or provably not).
# The +4h flush sentinels push the final watermark past every real event's
# state-expiry bound (view_ts + max_delay + watermark), so the batch oracle
# is the plain FULL OUTER interval join with no cutoff.
def streaming_attribution_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from bears_spark.queries.tables import load_table
    from bears_spark.streaming.jobs import (
        bounded_replay_source,
        purchase_attribution_full_outer_stream,
    )

    events = load_table(spark, sf_dir, "events")
    flush_ts = events.agg(F.max("ts")).first()[0] + datetime.timedelta(hours=4)
    tmp = scoped_dir("attr_full_")
    ev = bounded_replay_source(
        spark,
        events,
        [(-1, flush_ts, -1, "view", 0.0, "{}"), (-2, flush_ts, -2, "purchase", 0.0, "{}")],
        tmp,
    )
    out = purchase_attribution_full_outer_stream(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        max_delay="1 hour",
        watermark="2 hours",
    )
    res = run_to_memory(out, "streaming_attribution_full_sink")
    return res.select(
        "user_id",
        "purchase_id",
        F.unix_micros(F.col("purchase_ts")).alias("purchase_us"),
        "view_id",
        F.unix_micros(F.col("view_ts")).alias("view_us"),
    )


STREAMING_ATTRIBUTION_FULL_SQL = """
SELECT COALESCE(p.user_id, v.user_id) AS user_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts) AS purchase_us,
       v.event_id AS view_id,
       epoch_us(v.ts) AS view_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON v.user_id = p.user_id
 AND v.ts < p.ts
 AND v.ts >= p.ts - INTERVAL 1 HOUR
"""

QUERIES["streaming_attribution_full"] = streaming_attribution_full
ORACLES["streaming_attribution_full"] = STREAMING_ATTRIBUTION_FULL_SQL


# --------------------------------------------------------------------------
# ev_seasonal_naive_forecast: walk-forward backtest of the seasonal-naive
# baseline — forecast each (type, hour) cell as the mean of the SAME
# hour-of-day over the 7 prior days, then score MAE/bias per type. This is
# the reference forecast every anomaly/capacity system is judged against;
# the whole backtest is two windowed aggregations (hourly rollup ->
# same-hour sliding mean), no per-step recurrence. ROWS framing over
# existing cells means a missing hour simply extends the lookback — the
# same semantics in Spark and the oracle. Scale: the window partitions by
# (type, hour-of-day) — 24x the type cardinality, uniform; one shuffle.
def ev_seasonal_naive_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.sum("value").alias("y"))
    feat = hourly.select(
        "event_type",
        "y",
        F.hour("h").alias("hod"),
        F.to_date(F.date_trunc("day", "h")).alias("d"),
    )
    w = (
        Window.partitionBy("event_type", "hod")
        .orderBy("d")
        .rowsBetween(-7, -1)
    )
    fc = feat.select(
        "event_type",
        "y",
        F.avg("y").over(w).alias("fc"),
        F.count("y").over(w).alias("n_hist"),
    ).filter(F.col("n_hist") == 7)
    return (
        fc.groupBy("event_type")
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.avg(F.abs(F.col("y") - F.col("fc"))), 6).alias("mae"),
            F.round(F.avg(F.col("y") - F.col("fc")), 6).alias("bias"),
        )
        .orderBy("event_type")
    )


EV_SEASONAL_NAIVE_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, sum(value) AS y
  FROM events GROUP BY 1, 2
), feat AS (
  SELECT event_type, y, extract(hour FROM h) AS hod, CAST(date_trunc('day', h) AS DATE) AS d
  FROM hourly
), fc AS (
  SELECT event_type, y,
         avg(y) OVER w AS fc, count(y) OVER w AS n_hist
  FROM feat
  WINDOW w AS (PARTITION BY event_type, hod ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, count(*) AS n_points,
       round(avg(abs(y - fc)), 6) AS mae,
       round(avg(y - fc), 6) AS bias
FROM fc WHERE n_hist = 7 GROUP BY event_type ORDER BY event_type
"""

QUERIES["ev_seasonal_naive_forecast"] = ev_seasonal_naive_forecast
ORACLES["ev_seasonal_naive_forecast"] = EV_SEASONAL_NAIVE_SQL


# --------------------------------------------------------------------------
# streaming_seasonal_anomaly: fit-offline / score-in-stream — the seasonal
# baseline (per (type, hour-of-day) mean/std of hourly totals) is fitted on
# the batch corpus, then broadcast stream-static-joined onto the watermarked
# hourly aggregation INSIDE the streaming query, which emits only cells with
# |z| > 2. This is the standard production topology: the model artifact is
# a tiny static table, scoring adds zero streaming state beyond the window
# agg. The oracle recomputes fit + score over the same data in SQL.
def streaming_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_b = load_table(spark, sf_dir, "events")
    hourly_b = ev_b.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.sum("value").alias("y"))
    base = hourly_b.groupBy("event_type", F.hour("h").alias("hod")).agg(
        F.avg("y").alias("mu"), F.stddev_samp("y").alias("sd")
    )

    ev_s = _events_stream(spark, sf_dir)
    agg = (
        ev_s.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.sum("value").alias("y"))
    )
    z = (F.col("y") - F.col("mu")) / F.col("sd")
    scored = (
        agg.select(F.col("w.start").alias("hour"), "event_type", "y")
        .withColumn("hod", F.hour("hour"))
        .join(F.broadcast(base), ["event_type", "hod"])
        .filter(F.abs(z) > 2.0)
        .select(
            F.unix_micros("hour").alias("hour_us"),
            "event_type",
            F.round("y", 6).alias("y"),
            F.round(z, 6).alias("z"),
        )
    )
    return run_to_memory(scored, "streaming_seasonal_anomaly_sink", "complete").orderBy("event_type", "hour_us")


STREAMING_SEASONAL_ANOMALY_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, sum(value) AS y
  FROM events GROUP BY 1, 2
), base AS (
  SELECT event_type, extract(hour FROM h) AS hod,
         avg(y) AS mu, stddev_samp(y) AS sd
  FROM hourly GROUP BY 1, 2
)
SELECT epoch_us(hourly.h) AS hour_us, hourly.event_type AS event_type,
       round(y, 6) AS y, round((y - mu) / sd, 6) AS z
FROM hourly JOIN base
  ON hourly.event_type = base.event_type AND extract(hour FROM hourly.h) = base.hod
WHERE abs((y - mu) / sd) > 2.0
ORDER BY event_type, hour_us
"""

QUERIES["streaming_seasonal_anomaly"] = streaming_seasonal_anomaly
ORACLES["streaming_seasonal_anomaly"] = STREAMING_SEASONAL_ANOMALY_SQL


# --------------------------------------------------------------------------
# ev_markov_next_event: the order-1 Markov baseline for next-event
# prediction — per current type, the majority next type (from per-user
# event sequences), and the in-sample accuracy that predictor achieves.
# Transitions are one lead() window over user sequences; the argmax and
# accuracy are aggregates over the bounded (type x type) transition matrix.
def ev_markov_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("event_type", F.lead("event_type").over(w).alias("nxt"))
        .filter(F.col("nxt").isNotNull())
        .groupBy("event_type", "nxt")
        .agg(F.count("*").alias("c"))
    )
    w_rank = Window.partitionBy("event_type").orderBy(F.desc("c"), F.asc("nxt"))
    ranked = trans.withColumn("rn", F.row_number().over(w_rank))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.sum("c").alias("n_transitions"),
            F.max(F.when(F.col("rn") == 1, F.col("nxt"))).alias("predicted_next"),
            F.round(
                F.max(F.when(F.col("rn") == 1, F.col("c"))) / F.sum("c"), 6
            ).alias("accuracy"),
        )
        .orderBy("event_type")
    )


EV_MARKOV_SQL = """
WITH trans AS (
  SELECT event_type, nxt, count(*) AS c FROM (
    SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
    FROM events
  ) WHERE nxt IS NOT NULL GROUP BY event_type, nxt
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY c DESC, nxt ASC) AS rn
  FROM trans
)
SELECT event_type,
       CAST(sum(c) AS BIGINT) AS n_transitions,
       max(CASE WHEN rn = 1 THEN nxt END) AS predicted_next,
       round(CAST(max(CASE WHEN rn = 1 THEN c END) AS DOUBLE) / sum(c), 6) AS accuracy
FROM ranked GROUP BY event_type ORDER BY event_type
"""

QUERIES["ev_markov_next_event"] = ev_markov_next_event
ORACLES["ev_markov_next_event"] = EV_MARKOV_SQL


# --------------------------------------------------------------------------
# ev_user_entropy: behavioral predictability — Shannon entropy of each
# user's event-type distribution, summarized as the corpus histogram
# (min/mean/max + exact quartiles). Per-user entropies come from two
# bounded partial-agg groupBys ((user, type) then user); the summary
# percentiles run over the per-user aggregate.
def ev_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_ut = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    w = Window.partitionBy("user_id")
    p = F.col("c") / F.sum("c").over(w)
    per_u = (
        per_ut.withColumn("p", p)
        .groupBy("user_id")
        .agg((-F.sum(F.col("p") * F.log("p"))).alias("h"))
    )
    return per_u.agg(
        F.count("*").alias("n_users"),
        F.round(F.min("h"), 6).alias("h_min"),
        F.round(F.avg("h"), 6).alias("h_mean"),
        F.round(F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY h)"), 6).alias("h_p50"),
        F.round(F.max("h"), 6).alias("h_max"),
    )


EV_USER_ENTROPY_SQL = """
WITH per_ut AS (
  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
), per_u AS (
  SELECT user_id, -sum(p * ln(p)) AS h FROM (
    SELECT user_id, CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY user_id) AS p
    FROM per_ut
  ) GROUP BY user_id
)
SELECT count(*) AS n_users,
       round(min(h), 6) AS h_min,
       round(avg(h), 6) AS h_mean,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY h), 6) AS h_p50,
       round(max(h), 6) AS h_max
FROM per_u
"""

QUERIES["ev_user_entropy"] = ev_user_entropy
ORACLES["ev_user_entropy"] = EV_USER_ENTROPY_SQL


# --------------------------------------------------------------------------
# ev_user_features: the feature-store materialization shape — one row per
# user with the behavioral features a ranking/churn model consumes (volume,
# diversity, value stats, recency span), all from a single partial-agg
# groupBy over the fact stream. At scale this lands in a snapshot table and
# refreshes incrementally (orders_change_feed shape); the oracle recomputes
# every feature relationally.
def ev_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.round(F.sum("value"), 6).alias("total_value"),
            F.round(F.avg("value"), 6).alias("mean_value"),
            F.countDistinct(F.to_date("ts")).alias("active_days"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("span_us"),
        )
        .orderBy("user_id")
    )


EV_USER_FEATURES_SQL = """
SELECT user_id, count(*) AS n_events,
       count(DISTINCT event_type) AS n_types,
       round(sum(value), 6) AS total_value,
       round(avg(value), 6) AS mean_value,
       count(DISTINCT CAST(ts AS DATE)) AS active_days,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us
FROM events GROUP BY user_id ORDER BY user_id
"""

QUERIES["ev_user_features"] = ev_user_features
ORACLES["ev_user_features"] = EV_USER_FEATURES_SQL


# --------------------------------------------------------------------------
# ev_ab_welch: the experimentation readout — users hash-split into A/B,
# per-user value totals compared with Welch's unequal-variance t statistic
# (+ Welch-Satterthwaite dof) and the sample-ratio-mismatch chi-square
# every A/B platform alarms on. Unit of analysis is the USER (per-user
# aggregate first — variance of user totals, not raw events), so the whole
# test is two bounded aggregations. All moments via sum/count closed forms.
def ev_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.sum("value").alias("x"))
    armed = per_user.withColumn(
        "arm", F.when(md5_hash64("user_id", salt="ab") % 2 == 0, "A").otherwise("B")
    )
    stats = armed.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.avg("x").alias("m"),
        F.var_samp("x").alias("v"),
    )
    a = stats.filter(F.col("arm") == "A").first()
    b = stats.filter(F.col("arm") == "B").first()
    na, nb = a["n"], b["n"]
    se2a, se2b = a["v"] / na, b["v"] / nb
    t = (a["m"] - b["m"]) / (se2a + se2b) ** 0.5
    dof = (se2a + se2b) ** 2 / (se2a**2 / (na - 1) + se2b**2 / (nb - 1))
    srm = (na - nb) ** 2 / (na + nb)  # chi-square vs the designed 50/50
    return local_df(spark, 
        [(na, nb, round(a["m"], 6), round(b["m"], 6), round(t, 6), round(dof, 6), round(srm, 6))],
        "n_a bigint, n_b bigint, mean_a double, mean_b double, t_stat double, dof double, srm_chisq double",
    )


EV_AB_WELCH_SQL = """
WITH per_user AS (
  SELECT user_id, sum(value) AS x FROM events GROUP BY user_id
), armed AS (
  SELECT x, CASE WHEN ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
                 THEN 'A' ELSE 'B' END AS arm
  FROM per_user
), s AS (
  SELECT arm, count(*) AS n, avg(x) AS m, var_samp(x) AS v FROM armed GROUP BY arm
), a AS (SELECT * FROM s WHERE arm = 'A'), b AS (SELECT * FROM s WHERE arm = 'B')
SELECT a.n AS n_a, b.n AS n_b,
       round(a.m, 6) AS mean_a, round(b.m, 6) AS mean_b,
       round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 6) AS t_stat,
       round(pow(a.v / a.n + b.v / b.n, 2)
             / (pow(a.v / a.n, 2) / (a.n - 1) + pow(b.v / b.n, 2) / (b.n - 1)), 6) AS dof,
       round(pow(a.n - b.n, 2) / CAST(a.n + b.n AS DOUBLE), 6) AS srm_chisq
FROM a, b
"""

QUERIES["ev_ab_welch"] = ev_ab_welch
ORACLES["ev_ab_welch"] = EV_AB_WELCH_SQL


# --------------------------------------------------------------------------
# ev_ab_cuped: CUPED variance reduction (Deng et al. 2013) — the standard
# trick that makes A/B tests converge faster: regress the experiment-period
# metric on a PRE-period covariate (theta = cov(y,x)/var(x)), subtract the
# explained component, and test the adjusted metric. Pre/post split at the
# fixed mid-window date; per-user aggregates first (one groupBy), then the
# closed-form moments. Output: theta, the variance reduction CUPED bought,
# and Welch t on both raw and adjusted metrics.
_CUPED_SPLIT = "2024-01-16"


def ev_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < _CUPED_SPLIT, F.col("value")).otherwise(0.0)).alias("x"),
        F.sum(F.when(F.col("ts") >= _CUPED_SPLIT, F.col("value")).otherwise(0.0)).alias("y"),
    )
    mo = per_user.agg(
        F.covar_samp("y", "x").alias("cxy"),
        F.var_samp("x").alias("vx"),
        F.avg("x").alias("mx"),
        F.var_samp("y").alias("vy"),
    ).first()
    theta = mo["cxy"] / mo["vx"]
    adj = per_user.select(
        "user_id",
        "y",
        (F.col("y") - F.lit(theta) * (F.col("x") - F.lit(mo["mx"]))).alias("y_adj"),
    ).withColumn("arm", F.when(md5_hash64("user_id", salt="ab") % 2 == 0, "A").otherwise("B"))
    s = adj.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.avg("y").alias("my"),
        F.var_samp("y").alias("vy"),
        F.avg("y_adj").alias("ma"),
        F.var_samp("y_adj").alias("va"),
    )
    a = s.filter(F.col("arm") == "A").first()
    b = s.filter(F.col("arm") == "B").first()

    def welch(m1, v1, n1, m2, v2, n2):
        return (m1 - m2) / (v1 / n1 + v2 / n2) ** 0.5

    var_adj = adj.agg(F.var_samp("y_adj").alias("v")).first()["v"]
    return local_df(spark, 
        [
            (
                round(theta, 6),
                round(1.0 - var_adj / mo["vy"], 6),
                round(welch(a["my"], a["vy"], a["n"], b["my"], b["vy"], b["n"]), 6),
                round(welch(a["ma"], a["va"], a["n"], b["ma"], b["va"], b["n"]), 6),
            )
        ],
        "theta double, var_reduction double, t_raw double, t_cuped double",
    )


EV_AB_CUPED_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN ts < '{_CUPED_SPLIT}' THEN value ELSE 0.0 END) AS x,
         sum(CASE WHEN ts >= '{_CUPED_SPLIT}' THEN value ELSE 0.0 END) AS y
  FROM events GROUP BY user_id
), mo AS (
  SELECT covar_samp(y, x) / var_samp(x) AS theta, avg(x) AS mx, var_samp(y) AS vy
  FROM per_user
), adj AS (
  SELECT user_id, y, y - mo.theta * (x - mo.mx) AS y_adj,
         CASE WHEN ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
              THEN 'A' ELSE 'B' END AS arm
  FROM per_user, mo
), s AS (
  SELECT arm, count(*) AS n, avg(y) AS my, var_samp(y) AS vy,
         avg(y_adj) AS ma, var_samp(y_adj) AS va
  FROM adj GROUP BY arm
), a AS (SELECT * FROM s WHERE arm = 'A'), b AS (SELECT * FROM s WHERE arm = 'B'),
va_all AS (SELECT var_samp(y_adj) AS v FROM adj)
SELECT round((SELECT theta FROM mo), 6) AS theta,
       round(1.0 - (SELECT v FROM va_all) / (SELECT vy FROM mo), 6) AS var_reduction,
       round((a.my - b.my) / sqrt(a.vy / a.n + b.vy / b.n), 6) AS t_raw,
       round((a.ma - b.ma) / sqrt(a.va / a.n + b.va / b.n), 6) AS t_cuped
FROM a, b
"""

QUERIES["ev_ab_cuped"] = ev_ab_cuped
ORACLES["ev_ab_cuped"] = EV_AB_CUPED_SQL


# --------------------------------------------------------------------------
# ev_ab_quantiles: quantile treatment effects — mean shifts hide
# distributional change; per-arm exact p25/p50/p75 of user totals with the
# A-minus-B differences tell you WHERE the movement happened. percentile_
# cont over the per-user aggregate (bounded), identical interpolation on
# both engines.
def ev_ab_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.sum("value").alias("x"))
    armed = per_user.withColumn(
        "arm", F.when(md5_hash64("user_id", salt="ab") % 2 == 0, "A").otherwise("B")
    )
    q = armed.groupBy("arm").agg(
        F.count("*").alias("n"),
        *[
            F.round(
                F.expr(f"percentile_cont({p}) WITHIN GROUP (ORDER BY x)"), 6
            ).alias(f"p{int(p * 100)}")
            for p in (0.25, 0.5, 0.75)
        ],
    )
    a = q.filter(F.col("arm") == "A").first()
    b = q.filter(F.col("arm") == "B").first()
    return local_df(spark, 
        [
            (
                a["n"], b["n"],
                a["p25"], b["p25"], round(a["p25"] - b["p25"], 6),
                a["p50"], b["p50"], round(a["p50"] - b["p50"], 6),
                a["p75"], b["p75"], round(a["p75"] - b["p75"], 6),
            )
        ],
        "n_a bigint, n_b bigint, p25_a double, p25_b double, qte25 double, "
        "p50_a double, p50_b double, qte50 double, p75_a double, p75_b double, qte75 double",
    )


EV_AB_QUANTILES_SQL = """
WITH per_user AS (
  SELECT user_id, sum(value) AS x FROM events GROUP BY user_id
), armed AS (
  SELECT x, CASE WHEN ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
                 THEN 'A' ELSE 'B' END AS arm
  FROM per_user
), q AS (
  SELECT arm, count(*) AS n,
         round(percentile_cont(0.25) WITHIN GROUP (ORDER BY x), 6) AS p25,
         round(percentile_cont(0.50) WITHIN GROUP (ORDER BY x), 6) AS p50,
         round(percentile_cont(0.75) WITHIN GROUP (ORDER BY x), 6) AS p75
  FROM armed GROUP BY arm
), a AS (SELECT * FROM q WHERE arm = 'A'), b AS (SELECT * FROM q WHERE arm = 'B')
SELECT a.n AS n_a, b.n AS n_b,
       a.p25 AS p25_a, b.p25 AS p25_b, round(a.p25 - b.p25, 6) AS qte25,
       a.p50 AS p50_a, b.p50 AS p50_b, round(a.p50 - b.p50, 6) AS qte50,
       a.p75 AS p75_a, b.p75 AS p75_b, round(a.p75 - b.p75, 6) AS qte75
FROM a, b
"""

QUERIES["ev_ab_quantiles"] = ev_ab_quantiles
ORACLES["ev_ab_quantiles"] = EV_AB_QUANTILES_SQL


# --------------------------------------------------------------------------
# ev_ab_conversion: the binary-metric readout — per-arm first-day activation
# (did the user purchase on day one) with the pooled two-proportion z statistic,
# plus the difference-in-differences estimate over the pre/post split
# (the causal-inference workhorse when arms pre-exist the treatment). All
# from one per-user aggregate; every statistic is a closed form over four
# counts and four means.
def ev_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("ts") < "2024-01-02")).cast("int")
        ).alias("converted"),
        F.sum(
            F.when((F.col("ts") < _CUPED_SPLIT) & (F.col("event_type") == "purchase"), 1).otherwise(0)
        ).alias("pre_purchases"),
        F.sum(
            F.when((F.col("ts") >= _CUPED_SPLIT) & (F.col("event_type") == "purchase"), 1).otherwise(0)
        ).alias("post_purchases"),
    )
    armed = per_user.withColumn(
        "arm", F.when(md5_hash64("user_id", salt="ab") % 2 == 0, "A").otherwise("B")
    )
    s = armed.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("converted").alias("conv"),
        F.avg("pre_purchases").alias("pre"),
        F.avg("post_purchases").alias("post"),
    )
    a = s.filter(F.col("arm") == "A").first()
    b = s.filter(F.col("arm") == "B").first()
    p1, p2 = a["conv"] / a["n"], b["conv"] / b["n"]
    pool = (a["conv"] + b["conv"]) / (a["n"] + b["n"])
    z = (p1 - p2) / (pool * (1 - pool) * (1 / a["n"] + 1 / b["n"])) ** 0.5
    did = (b["post"] - b["pre"]) - (a["post"] - a["pre"])
    return local_df(spark, 
        [
            (
                a["n"], b["n"],
                round(p1, 6), round(p2, 6), round(z, 6), round(did, 6),
            )
        ],
        "n_a bigint, n_b bigint, conv_a double, conv_b double, z_stat double, did double",
    )


EV_AB_CONVERSION_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND ts < '2024-01-02' THEN 1 ELSE 0 END) AS converted,
         sum(CASE WHEN ts < '{_CUPED_SPLIT}' AND event_type = 'purchase' THEN 1 ELSE 0 END) AS pre_p,
         sum(CASE WHEN ts >= '{_CUPED_SPLIT}' AND event_type = 'purchase' THEN 1 ELSE 0 END) AS post_p
  FROM events GROUP BY user_id
), armed AS (
  SELECT *, CASE WHEN ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
                 THEN 'A' ELSE 'B' END AS arm
  FROM per_user
), s AS (
  SELECT arm, count(*) AS n, sum(converted) AS conv, avg(pre_p) AS pre, avg(post_p) AS post
  FROM armed GROUP BY arm
), a AS (SELECT * FROM s WHERE arm = 'A'), b AS (SELECT * FROM s WHERE arm = 'B')
SELECT a.n AS n_a, b.n AS n_b,
       round(CAST(a.conv AS DOUBLE) / a.n, 6) AS conv_a,
       round(CAST(b.conv AS DOUBLE) / b.n, 6) AS conv_b,
       round((CAST(a.conv AS DOUBLE) / a.n - CAST(b.conv AS DOUBLE) / b.n)
             / sqrt((CAST(a.conv + b.conv AS DOUBLE) / (a.n + b.n))
                    * (1 - CAST(a.conv + b.conv AS DOUBLE) / (a.n + b.n))
                    * (1.0 / a.n + 1.0 / b.n)), 6) AS z_stat,
       round((b.post - b.pre) - (a.post - a.pre), 6) AS did
FROM a, b
"""

QUERIES["ev_ab_conversion"] = ev_ab_conversion
ORACLES["ev_ab_conversion"] = EV_AB_CONVERSION_SQL


# --------------------------------------------------------------------------
# ev_hourly_acf: autocorrelation of the hourly event-count series at lags
# 1/2/3/24 per event type — the stationarity/seasonality diagnostic. The
# series lives at (type, hour) grain: time-domain-bounded (hours since
# epoch), NOT SF-linear; the per-type window is over that bounded series.
def ev_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("event_type").orderBy("h")
    lagd = hourly.select(
        "event_type",
        "c",
        F.lag("c", 1).over(w).alias("l1"),
        F.lag("c", 2).over(w).alias("l2"),
        F.lag("c", 3).over(w).alias("l3"),
        F.lag("c", 24).over(w).alias("l24"),
    )
    return (
        lagd.groupBy("event_type")
        .agg(
            F.round(F.corr("c", "l1"), 6).alias("acf1"),
            F.round(F.corr("c", "l2"), 6).alias("acf2"),
            F.round(F.corr("c", "l3"), 6).alias("acf3"),
            F.round(F.corr("c", "l24"), 6).alias("acf24"),
            F.count("*").alias("n_hours"),
        )
        .orderBy("event_type")
    )


EV_HOURLY_ACF_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
  FROM events GROUP BY 1, 2
), lagd AS (
  SELECT event_type, c,
         lag(c, 1) OVER w AS l1, lag(c, 2) OVER w AS l2,
         lag(c, 3) OVER w AS l3, lag(c, 24) OVER w AS l24
  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)
)
SELECT event_type, round(corr(c, l1), 6) AS acf1, round(corr(c, l2), 6) AS acf2,
       round(corr(c, l3), 6) AS acf3, round(corr(c, l24), 6) AS acf24,
       count(*) AS n_hours
FROM lagd GROUP BY 1 ORDER BY 1
"""


QUERIES["ev_hourly_acf"] = ev_hourly_acf
ORACLES["ev_hourly_acf"] = EV_HOURLY_ACF_SQL


# --------------------------------------------------------------------------
# ev_seasonal_decompose: additive decomposition of the hourly count series —
# trend = 25-point centered moving average (full windows only), seasonal =
# mean detrended value per hour-of-day re-centered to zero mean. Output at
# (type, hour-of-day) grain: 24 x |types|, bounded. The moving-average
# window runs per type over the time-domain-bounded hourly series.
def ev_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("event_type").orderBy("h").rowsBetween(-12, 12)
    det = (
        hourly.withColumn("trend", F.avg("c").over(w))
        .withColumn("n_win", F.count("c").over(w))
        .where(F.col("n_win") == 25)
        .select("event_type", F.hour("h").alias("hod"), (F.col("c") - F.col("trend")).alias("dt"))
    )
    raw = det.groupBy("event_type", "hod").agg(
        F.avg("dt").alias("raw"), F.count("*").alias("n_obs")
    )
    w_type = Window.partitionBy("event_type")
    return (
        raw.withColumn("seasonal", F.round(F.col("raw") - F.avg("raw").over(w_type), 6))
        .select("event_type", "hod", "seasonal", "n_obs")
        .orderBy("event_type", "hod")
    )


EV_SEASONAL_DECOMPOSE_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
  FROM events GROUP BY 1, 2
), det AS (
  SELECT event_type, hour(h) AS hod,
         c - avg(c) OVER w AS dt,
         count(c) OVER w AS n_win
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), raw AS (
  SELECT event_type, hod, avg(dt) AS raw, count(*) AS n_obs
  FROM det WHERE n_win = 25 GROUP BY 1, 2
)
SELECT event_type, hod,
       round(raw - avg(raw) OVER (PARTITION BY event_type), 6) AS seasonal,
       n_obs
FROM raw ORDER BY event_type, hod
"""


# ev_value_ols2: per-type two-regressor least squares (value on hour-of-day
# and day index) solved in closed form from one pass of sufficient
# statistics — the multi-feature extension of ev_value_trend's
# regr_slope. Centered normal equations by Cramer's rule; everything after
# the single groupBy is arithmetic on |types| rows.
def ev_value_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    src = ev.select(
        "event_type",
        F.col("value").alias("y"),
        F.hour("ts").cast("double").alias("x1"),
        F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("timestamp"))
        .cast("double")
        .alias("x2"),
    )
    m = src.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"), F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    det = c11 * c22 - c12 * c12
    b1 = (c1y * c22 - c2y * c12) / det
    b2 = (c2y * c11 - c1y * c12) / det
    b0 = (F.col("sy") - b1 * F.col("s1") - b2 * F.col("s2")) / F.col("n")
    r2 = (b1 * c1y + b2 * c2y) / cyy
    return m.select(
        "event_type",
        F.col("n"),
        F.round(b0, 4).alias("b0"),
        F.round(b1, 6).alias("b_hour"),
        F.round(b2, 6).alias("b_day"),
        F.round(r2, 6).alias("r2"),
    ).orderBy("event_type")


EV_VALUE_OLS2_SQL = """
WITH src AS (
  SELECT event_type, value AS y, CAST(hour(ts) AS DOUBLE) AS x1,
         CAST(date_diff('day', TIMESTAMP '2024-01-01', date_trunc('day', ts)) AS DOUBLE) AS x2
  FROM events WHERE value IS NOT NULL
), m AS (
  SELECT event_type, count(*) AS n,
         sum(x1) s1, sum(x2) s2, sum(y) sy,
         sum(x1*x1) s11, sum(x2*x2) s22, sum(x1*x2) s12,
         sum(x1*y) s1y, sum(x2*y) s2y, sum(y*y) syy
  FROM src GROUP BY 1
), c AS (
  SELECT event_type, n, s1, s2, sy,
         s11 - s1*s1/n AS c11, s22 - s2*s2/n AS c22, s12 - s1*s2/n AS c12,
         s1y - s1*sy/n AS c1y, s2y - s2*sy/n AS c2y, syy - sy*sy/n AS cyy
  FROM m
), b AS (
  SELECT event_type, n, s1, s2, sy, c1y, c2y, cyy,
         (c1y*c22 - c2y*c12) / (c11*c22 - c12*c12) AS b1,
         (c2y*c11 - c1y*c12) / (c11*c22 - c12*c12) AS b2
  FROM c
)
SELECT event_type, n,
       round((sy - b1*s1 - b2*s2) / n, 4) AS b0,
       round(b1, 6) AS b_hour,
       round(b2, 6) AS b_day,
       round((b1*c1y + b2*c2y) / cyy, 6) AS r2
FROM b ORDER BY event_type
"""


QUERIES["ev_seasonal_decompose"] = ev_seasonal_decompose
ORACLES["ev_seasonal_decompose"] = EV_SEASONAL_DECOMPOSE_SQL
QUERIES["ev_value_ols2"] = ev_value_ols2
ORACLES["ev_value_ols2"] = EV_VALUE_OLS2_SQL


# --------------------------------------------------------------------------
# ev_value_psi_drift: population-stability-index drift monitor — the value
# distribution of every day scored against the day-1 baseline in 10 equal-
# width bins over the baseline's [min, max] (out-of-range mass clamps into
# the edge bins, so range drift is visible), Laplace-smoothed proportions,
# PSI = sum (p-q) ln(p/q). The bin counts are ONE conditional aggregation
# per day (no per-bin shuffle), and the baseline is a broadcast one-row
# scalar — the exact shape the streaming variant reuses.
_PSI_BINS = 10


def _psi_bin_expr(mn, mx):
    width = (mx - mn) / _PSI_BINS
    return F.least(
        F.lit(_PSI_BINS - 1),
        F.greatest(F.lit(0), F.floor((F.col("v") - mn) / width).cast("int")),
    )


def ev_value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vals = ev.select(F.date_trunc("day", "ts").alias("day"), F.col("value").alias("v"))
    base_day = F.lit("2024-01-01").cast("timestamp")
    rng = (
        vals.where(F.col("day") == base_day)
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )
    binned = vals.crossJoin(F.broadcast(rng)).withColumn(
        "bin", _psi_bin_expr(F.col("mn"), F.col("mx"))
    )
    counts = binned.groupBy("day").agg(
        F.count("*").alias("n"),
        *[
            F.sum((F.col("bin") == i).cast("long")).alias(f"c{i}")
            for i in range(_PSI_BINS)
        ],
    )
    base = (
        counts.where(F.col("day") == base_day)
        .select(
            F.col("n").alias("bn"), *[F.col(f"c{i}").alias(f"b{i}") for i in range(_PSI_BINS)]
        )
    )
    j = counts.crossJoin(F.broadcast(base))
    psi = None
    for i in range(_PSI_BINS):
        p = (F.col(f"c{i}") + 0.5) / (F.col("n") + 0.5 * _PSI_BINS)
        q = (F.col(f"b{i}") + 0.5) / (F.col("bn") + 0.5 * _PSI_BINS)
        term = (p - q) * F.log(p / q)
        psi = term if psi is None else psi + term
    return (
        j.select(
            F.unix_micros("day").alias("day_us"),
            F.col("n"),
            F.round(psi, 6).alias("psi"),
        )
        .orderBy("day_us")
    )


def _psi_sql() -> str:
    bins = _PSI_BINS
    cases = ",\n         ".join(
        f"sum(CASE WHEN bin = {i} THEN 1 ELSE 0 END) AS c{i}" for i in range(bins)
    )
    terms = " + ".join(
        f"((c{i} + 0.5) / (n + {0.5 * bins}) - (b{i} + 0.5) / (bn + {0.5 * bins}))"
        f" * ln(((c{i} + 0.5) / (n + {0.5 * bins})) / ((b{i} + 0.5) / (bn + {0.5 * bins})))"
        for i in range(bins)
    )
    bsel = ", ".join(f"c{i} AS b{i}" for i in range(bins))
    return f"""
WITH vals AS (
  SELECT date_trunc('day', ts) AS day, value AS v
  FROM events WHERE value IS NOT NULL
), rng AS (
  SELECT min(v) AS mn, max(v) AS mx FROM vals WHERE day = TIMESTAMP '2024-01-01'
), binned AS (
  SELECT day,
         least({bins - 1}, greatest(0, CAST(floor((v - mn) / ((mx - mn) / {bins})) AS INT))) AS bin
  FROM vals, rng
), counts AS (
  SELECT day, count(*) AS n,
         {cases}
  FROM binned GROUP BY day
), base AS (
  SELECT n AS bn, {bsel} FROM counts WHERE day = TIMESTAMP '2024-01-01'
)
SELECT epoch_us(day) AS day_us, n, round({terms}, 6) AS psi
FROM counts, base ORDER BY day_us
"""


EV_VALUE_PSI_SQL = _psi_sql()

QUERIES["ev_value_psi_drift"] = ev_value_psi_drift
ORACLES["ev_value_psi_drift"] = EV_VALUE_PSI_SQL


# --------------------------------------------------------------------------
# streaming_psi_drift: the PSI monitor as fit-offline / score-in-stream —
# the baseline (bin edges + smoothed baseline proportions: 12 scalars) is
# fitted on the batch corpus and baked into the streaming projection as
# literals; the stream itself is ONE watermarked daily window with
# conditional bin counts and a closed-form PSI expression after the agg.
# Zero extra streaming state beyond the window aggregate; every day is
# emitted with a drifted flag at the conventional 0.1 threshold.
def streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_b = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    base_day = F.lit("2024-01-01").cast("timestamp")
    vals_b = ev_b.select(F.date_trunc("day", "ts").alias("day"), F.col("value").alias("v"))
    rng = (
        vals_b.where(F.col("day") == base_day)
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()[0]
    )
    mn, mx = float(rng["mn"]), float(rng["mx"])
    brow = (
        vals_b.where(F.col("day") == base_day)
        .withColumn("bin", _psi_bin_expr(F.lit(mn), F.lit(mx)))
        .groupBy()
        .agg(
            F.count("*").alias("bn"),
            *[
                F.sum((F.col("bin") == i).cast("long")).alias(f"b{i}")
                for i in range(_PSI_BINS)
            ],
        )
        .collect()[0]
    )
    q_props = [
        (brow[f"b{i}"] + 0.5) / (brow["bn"] + 0.5 * _PSI_BINS) for i in range(_PSI_BINS)
    ]

    ev_s = _events_stream(spark, sf_dir).where(F.col("value").isNotNull())
    agg = (
        ev_s.select("ts", F.col("value").alias("v"))
        .withColumn("bin", _psi_bin_expr(F.lit(mn), F.lit(mx)))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n"),
            *[
                F.sum((F.col("bin") == i).cast("long")).alias(f"c{i}")
                for i in range(_PSI_BINS)
            ],
        )
    )
    psi = None
    for i in range(_PSI_BINS):
        p = (F.col(f"c{i}") + 0.5) / (F.col("n") + 0.5 * _PSI_BINS)
        term = (p - F.lit(q_props[i])) * F.log(p / F.lit(q_props[i]))
        psi = term if psi is None else psi + term
    scored = agg.select(
        F.unix_micros(F.col("w.start")).alias("day_us"),
        "n",
        F.round(psi, 6).alias("psi"),
        (F.round(psi, 6) > 0.1).alias("drifted"),
    )
    return run_to_memory(scored, "streaming_psi_drift_sink", "complete").orderBy("day_us")


STREAMING_PSI_SQL = f"""
WITH vals AS (
  SELECT date_trunc('day', ts) AS day, value AS v
  FROM events WHERE value IS NOT NULL
), rng AS (
  SELECT min(v) AS mn, max(v) AS mx FROM vals WHERE day = TIMESTAMP '2024-01-01'
), binned AS (
  SELECT day,
         least({_PSI_BINS - 1}, greatest(0, CAST(floor((v - mn) / ((mx - mn) / {_PSI_BINS})) AS INT))) AS bin
  FROM vals, rng
), counts AS (
  SELECT day, count(*) AS n,
         {",".join(f"sum(CASE WHEN bin = {i} THEN 1 ELSE 0 END) AS c{i}" for i in range(_PSI_BINS))}
  FROM binned GROUP BY day
), base AS (
  SELECT n AS bn, {", ".join(f"c{i} AS b{i}" for i in range(_PSI_BINS))}
  FROM counts WHERE day = TIMESTAMP '2024-01-01'
)
SELECT epoch_us(day) AS day_us, n,
       round({" + ".join(
           f"((c{i} + 0.5) / (n + {0.5 * _PSI_BINS}) - (b{i} + 0.5) / (bn + {0.5 * _PSI_BINS}))"
           f" * ln(((c{i} + 0.5) / (n + {0.5 * _PSI_BINS})) / ((b{i} + 0.5) / (bn + {0.5 * _PSI_BINS})))"
           for i in range(_PSI_BINS))}, 6) AS psi,
       round({" + ".join(
           f"((c{i} + 0.5) / (n + {0.5 * _PSI_BINS}) - (b{i} + 0.5) / (bn + {0.5 * _PSI_BINS}))"
           f" * ln(((c{i} + 0.5) / (n + {0.5 * _PSI_BINS})) / ((b{i} + 0.5) / (bn + {0.5 * _PSI_BINS})))"
           for i in range(_PSI_BINS))}, 6) > 0.1 AS drifted
FROM counts, base
ORDER BY day_us
"""

QUERIES["streaming_psi_drift"] = streaming_psi_drift
ORACLES["streaming_psi_drift"] = STREAMING_PSI_SQL


# --------------------------------------------------------------------------
# ev_holt_trend: Holt linear-trend exponential smoothing of the daily value
# series per event type — the genuinely-sequential recurrence class (each
# step depends on the previous), run per group over the time-domain-bounded
# daily series after a partial-agg reduction. Daily sums go through
# DECIMAL(18,6) so both engines start the recurrence from bit-identical
# doubles; the recurrence expressions are written identically here
# (functions/analytics.py holt_smooth) and in the oracle's recursive CTE,
# so IEEE-double evaluation matches step for step.
def ev_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.analytics import holt_smooth

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y"))
    # alpha/beta are exact binary fractions so 1-alpha / 1-beta are exact
    # doubles in BOTH engines (a decimal-literal 0.3 would round differently
    # than Python's 1-0.3)
    sm = holt_smooth(daily, "event_type", "day", "y", alpha=0.5, beta=0.25)
    return sm.select(
        F.col("g").alias("event_type"),
        F.col("o").alias("day"),
        F.round("y", 6).alias("y"),
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
    ).orderBy("event_type", "day")


EV_HOLT_TREND_SQL = """
WITH RECURSIVE d AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), seq AS (
  SELECT event_type, day, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM d
), rec AS (
  SELECT event_type, rn, day, y, y AS l, CAST(0 AS DOUBLE) AS b
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.rn, s.day, s.y,
         0.5 * s.y + 0.5 * (r.l + r.b),
         0.25 * ((0.5 * s.y + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT event_type, day, round(y, 6) AS y, round(l, 6) AS level,
       round(b, 6) AS trend
FROM rec ORDER BY event_type, day
"""

QUERIES["ev_holt_trend"] = ev_holt_trend
ORACLES["ev_holt_trend"] = EV_HOLT_TREND_SQL


# --------------------------------------------------------------------------
# ev_theilsen_trend: Theil-Sen robust trend of the daily value series per
# event type — median of all pairwise slopes plus the median-residual
# intercept. The pair join runs on the time-domain-BOUNDED daily grain
# (~30 rows/type at any SF) after a partial-agg reduction with DECIMAL
# sums for cross-engine bit-exactness; median is exact on both engines.
def ev_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y"))
    dd = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")).cast("double").alias("x"),
        "y",
    )
    a, b = dd.alias("a"), dd.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type")) & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        ((F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))).alias("slope"),
    )
    med = pairs.groupBy("event_type").agg(
        F.median("slope").alias("m"), F.count("*").alias("n_pairs")
    )
    resid = dd.join(med, "event_type").groupBy("event_type").agg(
        F.median(F.col("y") - F.col("m") * F.col("x")).alias("b0")
    )
    return (
        med.join(resid, "event_type")
        .select(
            "event_type",
            F.round("m", 6).alias("slope"),
            F.round("b0", 6).alias("intercept"),
            "n_pairs",
        )
        .orderBy("event_type")
    )


EV_THEILSEN_SQL = """
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), dd AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(day AS DATE)) AS DOUBLE) AS x, y
  FROM d
), med AS (
  SELECT a.event_type, median((b.y - a.y) / (b.x - a.x)) AS m, count(*) AS n_pairs
  FROM dd a JOIN dd b ON a.event_type = b.event_type AND a.x < b.x
  GROUP BY 1
), res AS (
  SELECT dd.event_type, median(dd.y - med.m * dd.x) AS b0
  FROM dd JOIN med ON dd.event_type = med.event_type GROUP BY 1
)
SELECT med.event_type AS event_type, round(med.m, 6) AS slope,
       round(res.b0, 6) AS intercept, n_pairs
FROM med JOIN res ON med.event_type = res.event_type
ORDER BY med.event_type
"""

QUERIES["ev_theilsen_trend"] = ev_theilsen_trend
ORACLES["ev_theilsen_trend"] = EV_THEILSEN_SQL


# --------------------------------------------------------------------------
# ev_changepoint: single change-point per event type on the daily value
# series — binary-segmentation step: the split maximizing the between-
# segment sum of squares.
def ev_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y"))
    wo = Window.partitionBy("event_type").orderBy("day")
    wa = Window.partitionBy("event_type")
    staged = (
        daily.withColumn("cum", F.sum("y").over(wo))
        .withColumn("k", F.row_number().over(wo))
        .withColumn("tot", F.sum("y").over(wa))
        .withColumn("n", F.count("*").over(wa))
    )
    cand = staged.where(F.col("k") < F.col("n")).select(
        "event_type",
        "day",
        "n",
        (F.col("cum") / F.col("k")).alias("mean_l"),
        ((F.col("tot") - F.col("cum")) / (F.col("n") - F.col("k"))).alias("mean_r"),
        (
            F.col("k") * (F.col("cum") / F.col("k") - F.col("tot") / F.col("n")) * (F.col("cum") / F.col("k") - F.col("tot") / F.col("n"))
            + (F.col("n") - F.col("k"))
            * ((F.col("tot") - F.col("cum")) / (F.col("n") - F.col("k")) - F.col("tot") / F.col("n"))
            * ((F.col("tot") - F.col("cum")) / (F.col("n") - F.col("k")) - F.col("tot") / F.col("n"))
        ).alias("gain"),
    )
    ranked = cand.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.desc(F.round("gain", 6)), "day")
        ),
    )
    return (
        ranked.where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("split_after"),
            F.round("gain", 4).alias("gain"),
            F.round("mean_l", 6).alias("mean_left"),
            F.round("mean_r", 6).alias("mean_right"),
            F.col("n").alias("n_days"),
        )
        .orderBy("event_type")
    )


EV_CHANGEPOINT_SQL = """
WITH d AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), staged AS (
  SELECT event_type, day,
         sum(y) OVER (PARTITION BY event_type ORDER BY day) AS cum,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
         sum(y) OVER (PARTITION BY event_type) AS tot,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM d
), cand AS (
  SELECT event_type, day, n,
         cum / k AS mean_l,
         (tot - cum) / (n - k) AS mean_r,
         k * (cum / k - tot / n) * (cum / k - tot / n)
           + (n - k) * ((tot - cum) / (n - k) - tot / n)
                     * ((tot - cum) / (n - k) - tot / n) AS gain
  FROM staged WHERE k < n
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY round(gain, 6) DESC, day) AS rk
  FROM cand
)
SELECT event_type, day AS split_after, round(gain, 4) AS gain,
       round(mean_l, 6) AS mean_left, round(mean_r, 6) AS mean_right,
       CAST(n AS BIGINT) AS n_days
FROM ranked WHERE rk = 1 ORDER BY event_type
"""

QUERIES["ev_changepoint"] = ev_changepoint
ORACLES["ev_changepoint"] = EV_CHANGEPOINT_SQL


# --------------------------------------------------------------------------
# ev_rolling_dau: exact 7-day rolling distinct active users per day.
# Sliding-window COUNT(DISTINCT) cannot be a window function (distinct state
# is not subtractable), and a day-range join re-scans each day once per
# window it falls in. The distributed shape: reduce to (day, user) grain
# once, EXPLODE each user-day into the <=7 window-end days it covers
# (map-side, no shuffle), and count distinct per window day — one exchange
# on the window-day key, fanout bounded by the window length. At 100 TB
# this is |user-days| x 7 rows through one shuffle; the HLL variant
# (sketchops.ev_rolling_dau_hll) cuts that to 2^p registers per day.
def ev_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = ud.select("d").distinct()
    cov = ud.select(F.explode(F.expr("sequence(d, date_add(d, 6))")).alias("wd"), "user_id")
    return (
        cov.join(days.withColumnRenamed("d", "wd"), "wd")
        .groupBy("wd")
        .agg(F.countDistinct("user_id").alias("dau7"))
        .select(F.date_format("wd", "yyyy-MM-dd").alias("day"), "dau7")
        .orderBy("day")
    )


EV_ROLLING_DAU_SQL = """
WITH ud AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id FROM events
), days AS (SELECT DISTINCT d FROM ud)
SELECT strftime(days.d, '%Y-%m-%d') AS day, count(DISTINCT ud.user_id) AS dau7
FROM days JOIN ud ON ud.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
GROUP BY days.d ORDER BY day
"""

QUERIES["ev_rolling_dau"] = ev_rolling_dau
ORACLES["ev_rolling_dau"] = EV_ROLLING_DAU_SQL


# --------------------------------------------------------------------------
# ev_user_twap: time-weighted average of each user's value trajectory per
# day (weight = microseconds until the user's next event that day; a
# user-day's last event has no successor and carries no weight), then the
# cross-user mean per day. The window partitions on (user_id, day) — the
# per-user-day event count is bounded by behavior, not by SF.
def ev_user_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    steps = (
        ev.select("user_id", F.to_date("ts").alias("day"), "ts", "event_id", "value")
        .withColumn("dt", (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).cast("double"))
        .where(F.col("dt").isNotNull())
    )
    per_user = steps.groupBy("user_id", "day").agg(
        (F.sum(F.col("value") * F.col("dt")) / F.sum("dt")).alias("twap")
    )
    return (
        per_user.groupBy("day")
        .agg(F.count("*").alias("n_users"), F.round(F.avg("twap"), 6).alias("twap_mean"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "n_users", "twap_mean")
        .orderBy("day")
    )


EV_TWAP_SQL = """
WITH e AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts, event_id, value
  FROM events WHERE value IS NOT NULL
), steps AS (
  SELECT user_id, day, value,
         CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id, day ORDER BY ts, event_id)) - epoch_us(ts) AS DOUBLE) AS dt
  FROM e
), per_user AS (
  SELECT user_id, day, sum(value * dt) / sum(dt) AS twap
  FROM steps WHERE dt IS NOT NULL GROUP BY 1, 2
)
SELECT strftime(day, '%Y-%m-%d') AS day, count(*) AS n_users,
       round(avg(twap), 6) AS twap_mean
FROM per_user GROUP BY day ORDER BY day
"""

QUERIES["ev_user_twap"] = ev_user_twap
ORACLES["ev_user_twap"] = EV_TWAP_SQL


# --------------------------------------------------------------------------
# ev_value_ks_drift: two-sample Kolmogorov-Smirnov drift test — the value
# distribution of week 1 (reference) vs the rest of the month (current),
# D = max |ECDF_ref - ECDF_cur| over the pooled distinct values. The pooled
# distinct-value frame is SF-linear, so the cumulative counts run through
# functions/prefix.py partitioned_cumsum (distributed range-partitioned
# prefix), never a single-partition window. alpha=0.05 critical value
# c(0.05)=1.358 (Smirnov's asymptotic formula).
def ev_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.prefix import partitioned_cumsum

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cut = F.lit("2024-01-08").cast("timestamp")
    tagged = ev.select(
        F.col("value").alias("v"),
        F.when(F.col("ts") < cut, 1).otherwise(0).alias("in_a"),
    )
    pv = tagged.groupBy("v").agg(F.sum("in_a").alias("ca"), F.sum(1 - F.col("in_a")).alias("cb"))
    n = pv.agg(F.sum("ca"), F.sum("cb")).first()
    na, nb = int(n[0]), int(n[1])
    cum = partitioned_cumsum(pv, ["v"], ["ca", "cb"])
    crit = 1.358 * float((na + nb) / (na * nb)) ** 0.5
    return cum.agg(
        F.lit(na).alias("n_ref"),
        F.lit(nb).alias("n_cur"),
        F.round(
            F.max(F.abs(F.col("ca_cumsum") / F.lit(float(na)) - F.col("cb_cumsum") / F.lit(float(nb)))), 6
        ).alias("ks_d"),
        F.round(F.lit(crit), 6).alias("ks_crit_05"),
    ).withColumn("drift", F.col("ks_d") > F.col("ks_crit_05"))


EV_KS_SQL = """
WITH vals AS (
  SELECT value AS v, CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END AS in_a
  FROM events WHERE value IS NOT NULL
), n AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS na, CAST(sum(1 - in_a) AS BIGINT) AS nb FROM vals
), pv AS (
  SELECT v, sum(in_a) AS ca, sum(1 - in_a) AS cb FROM vals GROUP BY 1
), cum AS (
  SELECT sum(ca) OVER (ORDER BY v) AS cca, sum(cb) OVER (ORDER BY v) AS ccb FROM pv
), d AS (
  SELECT na, nb,
         round(max(abs(cca / CAST(na AS DOUBLE) - ccb / CAST(nb AS DOUBLE))), 6) AS ks_d,
         round(1.358 * sqrt((na + nb) / CAST(na * nb AS DOUBLE)), 6) AS ks_crit_05
  FROM cum, n GROUP BY na, nb
)
SELECT na AS n_ref, nb AS n_cur, ks_d, ks_crit_05, ks_d > ks_crit_05 AS drift FROM d
"""

QUERIES["ev_value_ks_drift"] = ev_value_ks_drift
ORACLES["ev_value_ks_drift"] = EV_KS_SQL


# --------------------------------------------------------------------------
# ev_ab_mannwhitney: nonparametric A/B readout — Mann-Whitney U over
# per-user value totals (same md5 arm split as ev_ab_welch), tie-corrected
# normal approximation. Totals are rounded to 6 dp BEFORE ranking so both
# engines rank identical keys; average ranks of tied blocks come from the
# distributed prefix over the distinct-total frame (SF-linear — never a
# single-partition window). Final stats are four bounded moments collected
# once and baked into a 1-row literal frame.
def ev_ab_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64
    from bears_spark.functions.prefix import partitioned_cumsum

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    per_user = ev.groupBy("user_id").agg(F.round(F.sum("value"), 6).alias("x"))
    armed = per_user.withColumn("in_a", (md5_hash64("user_id", salt="ab") % 2 == 0).cast("long"))
    pt = armed.groupBy("x").agg(F.count("*").alias("nt"), F.sum("in_a").alias("nat"))
    cum = partitioned_cumsum(pt, ["x"], ["nt"])
    ranked = cum.withColumn(
        "block_rank", F.col("nt_cumsum") - F.col("nt") + (F.col("nt") + 1) / 2.0
    )
    stats = ranked.agg(
        F.sum(F.col("nat") * F.col("block_rank")).alias("ra"),
        F.sum("nat").alias("na"),
        F.sum(F.col("nt") - F.col("nat")).alias("nb"),
        F.sum(F.col("nt") * F.col("nt") * F.col("nt") - F.col("nt")).alias("tie3"),
    ).first()
    ra, na, nb = float(stats["ra"]), int(stats["na"]), int(stats["nb"])
    tie3 = float(stats["tie3"])
    n = na + nb
    u_a = ra - na * (na + 1) / 2.0
    mu = na * nb / 2.0
    var = na * nb / 12.0 * ((n + 1) - tie3 / (n * (n - 1)))
    z = (u_a - mu) / var**0.5
    return ev.sparkSession.range(1).select(
        F.lit(na).alias("n_a"),
        F.lit(nb).alias("n_b"),
        F.round(F.lit(u_a), 2).alias("u_a"),
        F.round(F.lit(z), 6).alias("z"),
    )


EV_MWU_SQL = """
WITH per_user AS (
  SELECT user_id, round(sum(value), 6) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1
), armed AS (
  SELECT x,
         CASE WHEN ('0x' || substr(md5('ab' || ':' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
              THEN 1 ELSE 0 END AS in_a
  FROM per_user
), pt AS (
  SELECT x, count(*) AS nt, sum(in_a) AS nat FROM armed GROUP BY 1
), ranked AS (
  SELECT nt, nat,
         sum(nt) OVER (ORDER BY x) - nt + (nt + 1) / 2.0 AS block_rank
  FROM pt
), s AS (
  SELECT sum(nat * block_rank) AS ra,
         CAST(sum(nat) AS BIGINT) AS na,
         CAST(sum(nt - nat) AS BIGINT) AS nb,
         CAST(sum(nt * nt * nt - nt) AS DOUBLE) AS tie3
  FROM ranked
)
SELECT na AS n_a, nb AS n_b,
       round(ra - na * (na + 1) / 2.0, 2) AS u_a,
       round((ra - na * (na + 1) / 2.0 - na * nb / 2.0)
             / sqrt(na * nb / 12.0 * ((na + nb + 1) - tie3 / ((na + nb) * (na + nb - 1.0)))), 6) AS z
FROM s
"""

QUERIES["ev_ab_mannwhitney"] = ev_ab_mannwhitney
ORACLES["ev_ab_mannwhitney"] = EV_MWU_SQL


# --------------------------------------------------------------------------
# ev_ma_crossover: golden-cross signal detection over the daily mean value
# series — 3-day vs 10-day trailing moving averages; a signal fires on any
# day where the fast MA crosses the slow MA (sign change vs previous day).
# The ordered windows run over the DAY-grain series (one row per day after
# the first aggregate — bounded by the calendar, not by SF), so one-task
# execution is fine; allowlisted in tools/explain_audit.py.
def ev_ma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(F.avg("value").alias("m"))
    w3 = Window.orderBy("d").rowsBetween(-2, 0)
    w10 = Window.orderBy("d").rowsBetween(-9, 0)
    wp = Window.orderBy("d")
    sig = (
        daily.withColumn("ma3", F.avg("m").over(w3))
        .withColumn("ma10", F.avg("m").over(w10))
        .withColumn("n_prev", F.count("*").over(w10))
        .where(F.col("n_prev") >= 10)
        .withColumn("diff", F.col("ma3") - F.col("ma10"))
        .withColumn("prev_diff", F.lag("diff").over(wp))
    )
    return (
        sig.where(F.col("prev_diff").isNotNull() & (F.signum("diff") != F.signum("prev_diff")))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round("ma3", 6).alias("ma3"),
            F.round("ma10", 6).alias("ma10"),
            F.when(F.col("diff") > 0, F.lit("golden")).otherwise(F.lit("death")).alias("cross"),
        )
        .orderBy("day")
    )


EV_MA_CROSS_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, avg(value) AS m
  FROM events WHERE value IS NOT NULL GROUP BY 1
), ma AS (
  SELECT d,
         avg(m) OVER (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3,
         avg(m) OVER (ORDER BY d ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS ma10,
         count(*) OVER (ORDER BY d ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS n_prev
  FROM daily
), sig AS (
  SELECT d, ma3, ma10, ma3 - ma10 AS diff,
         lag(ma3 - ma10) OVER (ORDER BY d) AS prev_diff
  FROM ma WHERE n_prev >= 10
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       round(ma3, 6) AS ma3, round(ma10, 6) AS ma10,
       CASE WHEN diff > 0 THEN 'golden' ELSE 'death' END AS cross
FROM sig
WHERE prev_diff IS NOT NULL AND sign(diff) <> sign(prev_diff)
ORDER BY day
"""

QUERIES["ev_ma_crossover"] = ev_ma_crossover
ORACLES["ev_ma_crossover"] = EV_MA_CROSS_SQL


# --------------------------------------------------------------------------
# ev_value_ohlc: hourly OHLC (open/high/low/close) candle bars over the
# event value stream — open/close via min_by/max_by on the (ts, event_id)
# total order (single shuffle on the hour key with map-side partial
# aggregation, no window at all), high/low plain min/max. The oracle states
# open/close as first_value/last_value window picks over the same order.
def ev_value_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b = ev.select(
        F.date_trunc("hour", "ts").alias("h"),
        "value",
        F.struct("ts", "event_id").alias("ord"),
    )
    return (
        b.groupBy("h")
        .agg(
            F.min_by("value", "ord").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ord").alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH").alias("hour"),
            "open", "high", "low", "close", "n_events",
        )
        .orderBy("hour")
    )


EV_OHLC_SQL = """
WITH v AS (
  SELECT date_trunc('hour', ts) AS h, ts, event_id, value
  FROM events WHERE value IS NOT NULL
), w AS (
  SELECT h, value,
         first_value(value) OVER (PARTITION BY h ORDER BY ts, event_id) AS o,
         last_value(value) OVER (PARTITION BY h ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
  FROM v
)
SELECT strftime(h, '%Y-%m-%d %H') AS hour,
       min(o) AS open,
       max(value) AS high,
       min(value) AS low,
       min(c) AS close,
       count(*) AS n_events
FROM w GROUP BY h ORDER BY hour
"""

QUERIES["ev_value_ohlc"] = ev_value_ohlc
ORACLES["ev_value_ohlc"] = EV_OHLC_SQL


# --------------------------------------------------------------------------
# streaming_rolling_dau_hll: the production shape of a sliding-window
# distinct — the STREAM maintains one HLL register table per day (bounded
# state: 2^p rows per day regardless of traffic), the batch READOUT merges
# any window by bucket MAX. Register max is order- and batching-insensitive,
# so the streamed registers equal the batch registers exactly and the whole
# job grades against the batch ev_rolling_dau_hll oracle.
def streaming_rolling_dau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.sketch import hll_registers
    from bears_spark.queries.sketchops import _HLL_M, _HLL_NUMER, _HLL_P, _HLL_S

    ev_s = _events_stream(spark, sf_dir)
    regs_s = hll_registers(ev_s.withColumn("d", F.to_date("ts")), "user_id", _HLL_P, by=("d",))
    regs = run_to_memory(regs_s, "streaming_rolling_dau_hll_sink", "complete")
    days = regs.select("d").distinct()
    cov = regs.select(F.explode(F.expr("sequence(d, date_add(d, 6))")).alias("wd"), "bucket", "rho")
    merged = (
        cov.join(days.withColumnRenamed("d", "wd"), "wd")
        .groupBy("wd", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    est = merged.groupBy("wd").agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_S} - rho)"))
            + (F.lit(_HLL_M) - F.count("*")) * F.lit(1 << _HLL_S).cast("bigint")
        ).alias("sum_scaled")
    )
    return est.select(
        F.date_format("wd", "yyyy-MM-dd").alias("day"),
        "sum_scaled",
        (F.lit(_HLL_NUMER) / F.col("sum_scaled")).alias("hll_dau7"),
    ).orderBy("day")


def _streaming_rolling_dau_oracle() -> str:
    from bears_spark.queries.sketchops import EV_ROLLING_DAU_HLL_SQL

    return EV_ROLLING_DAU_HLL_SQL


QUERIES["streaming_rolling_dau_hll"] = streaming_rolling_dau_hll
ORACLES["streaming_rolling_dau_hll"] = _streaming_rolling_dau_oracle()


# --------------------------------------------------------------------------
# ev_interarrival_ks: one-sample KS goodness-of-fit of per-user event
# inter-arrival times against the MLE-fitted exponential (lambda = 1/mean).
# ECDF cumulative counts run through partitioned_cumsum over the
# distinct-gap frame (SF-linear — no one-task window); D takes the sup over
# both ECDF step edges. Standard KS critical value as the diagnostic
# threshold (an exact fitted-parameter test would use the Lilliefors
# correction — documented, not claimed).
def ev_interarrival_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.prefix import partitioned_cumsum

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("dt", (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")) / 1e6)
        .where(F.col("dt").isNotNull())
        .select(F.col("dt").alias("v"))
    )
    agg = gaps.agg(F.count("*").alias("n"), F.avg("v").alias("mean")).first()
    n, lam = int(agg["n"]), 1.0 / float(agg["mean"])
    pv = gaps.groupBy("v").agg(F.count("*").alias("cnt"))
    cum = partitioned_cumsum(pv, ["v"], ["cnt"])
    cdf = 1.0 - F.exp(-F.lit(lam) * F.col("v"))
    d_hi = F.abs(F.col("cnt_cumsum") / F.lit(float(n)) - cdf)
    d_lo = F.abs((F.col("cnt_cumsum") - F.col("cnt")) / F.lit(float(n)) - cdf)
    crit = 1.358 / float(n) ** 0.5
    return cum.agg(
        F.lit(n).alias("n_gaps"),
        F.round(F.lit(lam * 3600.0), 6).alias("lambda_per_hour"),
        F.round(F.max(F.greatest(d_hi, d_lo)), 6).alias("ks_d"),
        F.round(F.lit(crit), 6).alias("ks_crit_05"),
    ).withColumn("exponential_fit", F.col("ks_d") <= F.col("ks_crit_05"))


EV_INTERARRIVAL_KS_SQL = """
WITH gaps AS (
  SELECT CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) - epoch_us(ts) AS DOUBLE) / 1e6 AS v
  FROM events
), g AS (SELECT v FROM gaps WHERE v IS NOT NULL),
s AS (SELECT CAST(count(*) AS BIGINT) AS n, 1.0 / avg(v) AS lam FROM g),
pv AS (SELECT v, count(*) AS cnt FROM g GROUP BY 1),
cum AS (
  SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cc FROM pv
), d AS (
  SELECT n, lam,
         max(greatest(
           abs(cc / CAST(n AS DOUBLE) - (1.0 - exp(-lam * v))),
           abs((cc - cnt) / CAST(n AS DOUBLE) - (1.0 - exp(-lam * v)))
         )) AS ks
  FROM cum, s GROUP BY n, lam
)
SELECT n AS n_gaps,
       round(lam * 3600.0, 6) AS lambda_per_hour,
       round(ks, 6) AS ks_d,
       round(1.358 / sqrt(CAST(n AS DOUBLE)), 6) AS ks_crit_05,
       round(ks, 6) <= round(1.358 / sqrt(CAST(n AS DOUBLE)), 6) AS exponential_fit
FROM d
"""

QUERIES["ev_interarrival_ks"] = ev_interarrival_ks
ORACLES["ev_interarrival_ks"] = EV_INTERARRIVAL_KS_SQL


# --------------------------------------------------------------------------
# ev_growth_accounting: the standard growth-accounting decomposition — per
# day, active users split into NEW (first-ever day), RETAINED (also active
# the previous day), RESURRECTED (seen before, not yesterday); plus CHURNED
# (active yesterday, not today, attributed to today). All from the
# (user, day) grain with per-user lag/min windows (partition key = user_id:
# high-cardinality, SF-uniform) — no day-range joins, no global windows.
def ev_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    flags = (
        ud.withColumn("prev_d", F.lag("d").over(w))
        .withColumn("first_d", F.min("d").over(w))
        .select(
            "d",
            F.when(F.col("d") == F.col("first_d"), "new")
            .when(F.datediff("d", "prev_d") == 1, "retained")
            .otherwise("resurrected")
            .alias("stage"),
        )
    )
    counts = flags.groupBy("d").pivot("stage", ["new", "retained", "resurrected"]).count().na.fill(0)
    churned = (
        ud.withColumn("next_d", F.lead("d").over(w))
        .where(F.col("next_d").isNull() | (F.datediff("next_d", "d") > 1))
        .select(F.date_add("d", 1).alias("d"))
        .groupBy("d")
        .agg(F.count("*").alias("churned"))
    )
    days = ud.select("d").distinct()
    return (
        days.join(counts, "d", "left")
        .join(churned, "d", "left")
        .na.fill(0)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("new").cast("long").alias("new"),
            F.col("retained").cast("long").alias("retained"),
            F.col("resurrected").cast("long").alias("resurrected"),
            F.col("churned").cast("long").alias("churned"),
        )
        .orderBy("day")
    )


EV_GROWTH_SQL = """
WITH ud AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id FROM events
), flagged AS (
  SELECT d,
         CASE WHEN d = min(d) OVER (PARTITION BY user_id) THEN 'new'
              WHEN datediff('day', lag(d) OVER (PARTITION BY user_id ORDER BY d), d) = 1 THEN 'retained'
              ELSE 'resurrected' END AS stage
  FROM ud
), counts AS (
  SELECT d,
         CAST(count(*) FILTER (stage = 'new') AS BIGINT) AS new,
         CAST(count(*) FILTER (stage = 'retained') AS BIGINT) AS retained,
         CAST(count(*) FILTER (stage = 'resurrected') AS BIGINT) AS resurrected
  FROM flagged GROUP BY 1
), churn AS (
  SELECT d + INTERVAL 1 DAY AS d, CAST(count(*) AS BIGINT) AS churned
  FROM (
    SELECT d, lead(d) OVER (PARTITION BY user_id ORDER BY d) AS next_d FROM ud
  )
  WHERE next_d IS NULL OR datediff('day', d, next_d) > 1
  GROUP BY 1
), days AS (SELECT DISTINCT d FROM ud)
SELECT strftime(days.d, '%Y-%m-%d') AS day,
       coalesce(c.new, 0) AS new,
       coalesce(c.retained, 0) AS retained,
       coalesce(c.resurrected, 0) AS resurrected,
       coalesce(ch.churned, 0) AS churned
FROM days LEFT JOIN counts c ON days.d = c.d
LEFT JOIN churn ch ON days.d = CAST(ch.d AS DATE)
ORDER BY day
"""

QUERIES["ev_growth_accounting"] = ev_growth_accounting
ORACLES["ev_growth_accounting"] = EV_GROWTH_SQL


# --------------------------------------------------------------------------
# ev_user_stickiness: DAU / MAU(trailing 30d) per day — the canonical
# product-engagement ratio. Both distinct counts come from the (day, user)
# grain exploded map-side into covered window-end days (window length 1 and
# 30), one exchange each; never a day-range join.
def ev_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    cov = ud.select(F.explode(F.expr("sequence(d, date_add(d, 29))")).alias("wd"), "user_id")
    mau = (
        cov.join(days.withColumnRenamed("d", "wd"), "wd")
        .groupBy("wd")
        .agg(F.countDistinct("user_id").alias("mau"))
        .withColumnRenamed("wd", "d")
    )
    return (
        dau.join(mau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "mau",
            F.round(F.col("dau") / F.col("mau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


EV_STICKINESS_SQL = """
WITH ud AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id FROM events
), days AS (SELECT DISTINCT d FROM ud),
dau AS (SELECT d, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
mau AS (
  SELECT days.d, count(DISTINCT ud.user_id) AS mau
  FROM days JOIN ud ON ud.d BETWEEN days.d - INTERVAL 29 DAY AND days.d
  GROUP BY 1
)
SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, mau.mau,
       round(dau.dau * 1.0 / mau.mau, 6) AS stickiness
FROM dau JOIN mau ON dau.d = mau.d
ORDER BY day
"""

QUERIES["ev_user_stickiness"] = ev_user_stickiness
ORACLES["ev_user_stickiness"] = EV_STICKINESS_SQL


# --------------------------------------------------------------------------
# streaming_ohlc: the hourly OHLC bars maintained by the STREAM — min_by/
# max_by/min/max/count are all order-insensitive aggregates, so complete-
# mode micro-batch state equals the batch bars exactly and the job grades
# against the batch ev_value_ohlc oracle. State: one row per hour.
def streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_s = _events_stream(spark, sf_dir).where(F.col("value").isNotNull())
    b = ev_s.select(
        F.date_trunc("hour", "ts").alias("h"),
        "value",
        F.struct("ts", "event_id").alias("ord"),
    )
    bars = b.groupBy("h").agg(
        F.min_by("value", "ord").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ord").alias("close"),
        F.count("*").alias("n_events"),
    )
    return (
        run_to_memory(bars, "streaming_ohlc_sink", "complete")
        .select(
            F.date_format("h", "yyyy-MM-dd HH").alias("hour"),
            "open", "high", "low", "close", "n_events",
        )
        .orderBy("hour")
    )


QUERIES["streaming_ohlc"] = streaming_ohlc
ORACLES["streaming_ohlc"] = EV_OHLC_SQL



_Z_ALPHA = 1.959963984540054  # two-sided alpha = 0.05
_Z_BETA = 0.8416212335729143  # power = 0.80


# --------------------------------------------------------------------------
# ev_ab_power_analysis: experiment DESIGN readout — given the observed
# per-user value-total distribution, the per-arm sample size needed to
# detect a 5% relative lift at alpha=0.05 (two-sided), power 0.80:
# n = 2 (z_a + z_b)^2 var / (mde * mean)^2. One bounded aggregate; the
# variance is the closed-form sample variance of per-user totals (the same
# unit of analysis ev_ab_welch tests on).
def ev_ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    per_user = ev.groupBy("user_id").agg(F.sum("value").alias("x"))
    m = per_user.agg(
        F.count("*").alias("n"),
        F.avg("x").alias("mean"),
        F.var_samp("x").alias("var"),
    ).first()
    mean, var = float(m["mean"]), float(m["var"])
    mde_abs = 0.05 * mean
    n_per_arm = 2.0 * (_Z_ALPHA + _Z_BETA) ** 2 * var / (mde_abs * mde_abs)
    import math

    return ev.sparkSession.range(1).select(
        F.lit(int(m["n"])).alias("n_users_observed"),
        F.round(F.lit(mean), 6).alias("mean_per_user"),
        F.round(F.lit(var), 6).alias("var_per_user"),
        F.round(F.lit(mde_abs), 6).alias("mde_abs"),
        F.lit(int(math.ceil(n_per_arm))).alias("n_per_arm"),
    )


EV_POWER_SQL = f"""
WITH per_user AS (
  SELECT user_id, sum(value) AS x FROM events WHERE value IS NOT NULL GROUP BY 1
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, avg(x) AS mean, var_samp(x) AS var FROM per_user
)
SELECT n AS n_users_observed,
       round(mean, 6) AS mean_per_user,
       round(var, 6) AS var_per_user,
       round(0.05 * mean, 6) AS mde_abs,
       CAST(ceil(2.0 * power({_Z_ALPHA} + {_Z_BETA}, 2) * var / power(0.05 * mean, 2)) AS BIGINT) AS n_per_arm
FROM m
"""

QUERIES["ev_ab_power_analysis"] = ev_ab_power_analysis
ORACLES["ev_ab_power_analysis"] = EV_POWER_SQL


# --------------------------------------------------------------------------
# ev_burst_detection: hourly event-rate bursts — an hour alarms when its
# count exceeds 2x the trailing-24h mean (excluding itself) with at least
# 24h of history. Windows run over the HOUR-grain aggregate (<= 24*366 rows
# per year — calendar-bounded), allowlisted like the other day/hour-grain
# series.
def ev_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(F.count("*").alias("n"))
    w = Window.orderBy("h").rowsBetween(-24, -1)
    scored = (
        hourly.withColumn("baseline", F.avg("n").over(w))
        .withColumn("n_hist", F.count("*").over(w))
        .where((F.col("n_hist") >= 24) & (F.col("n") > 2.0 * F.col("baseline")))
    )
    return scored.select(
        F.date_format("h", "yyyy-MM-dd HH").alias("hour"),
        "n",
        F.round("baseline", 6).alias("baseline_24h"),
        F.round(F.col("n") / F.col("baseline"), 6).alias("burst_ratio"),
    ).orderBy("hour")


EV_BURST_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS n FROM events GROUP BY 1
), scored AS (
  SELECT h, n,
         avg(n) OVER (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS baseline,
         count(*) OVER (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS n_hist
  FROM hourly
)
SELECT strftime(h, '%Y-%m-%d %H') AS hour, n,
       round(baseline, 6) AS baseline_24h,
       round(n / baseline, 6) AS burst_ratio
FROM scored
WHERE n_hist >= 24 AND n > 2.0 * baseline
ORDER BY hour
"""

QUERIES["ev_burst_detection"] = ev_burst_detection
ORACLES["ev_burst_detection"] = EV_BURST_SQL


# --------------------------------------------------------------------------
# ev_slo_bands: the operational SLO dashboard readout — exact p50/p95/p99
# of value per (event_type, day). Exact interpolated percentile is a
# partial-aggregable Spark built-in; grain is (types x days), bounded.
def ev_slo_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return (
        ev.groupBy("event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("event_type", "day")
    )


EV_SLO_SQL = """
SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2 ORDER BY event_type, day
"""

QUERIES["ev_slo_bands"] = ev_slo_bands
ORACLES["ev_slo_bands"] = EV_SLO_SQL


# --------------------------------------------------------------------------
# streaming_burst_detection: the stream maintains hourly counts (bounded
# state: one row per hour); the batch readout applies the trailing-24h
# baseline rule. Counting is order-insensitive, so the streamed hourly
# grain equals batch exactly and the job grades against the batch
# ev_burst_detection oracle.
def streaming_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev_s = _events_stream(spark, sf_dir)
    hourly_s = ev_s.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(F.count("*").alias("n"))
    hourly = run_to_memory(hourly_s, "streaming_burst_sink", "complete")
    w = Window.orderBy("h").rowsBetween(-24, -1)
    scored = (
        hourly.withColumn("baseline", F.avg("n").over(w))
        .withColumn("n_hist", F.count("*").over(w))
        .where((F.col("n_hist") >= 24) & (F.col("n") > 2.0 * F.col("baseline")))
    )
    return scored.select(
        F.date_format("h", "yyyy-MM-dd HH").alias("hour"),
        "n",
        F.round("baseline", 6).alias("baseline_24h"),
        F.round(F.col("n") / F.col("baseline"), 6).alias("burst_ratio"),
    ).orderBy("hour")

QUERIES["streaming_burst_detection"] = streaming_burst_detection
ORACLES["streaming_burst_detection"] = EV_BURST_SQL


# --------------------------------------------------------------------------
# events_hive_partition_pruning: the partition-layout contract graded
# end-to-end — events written out hive-partitioned by day, read back with a
# 3-day predicate that must resolve by DIRECTORY pruning (the scan reads 3
# of 30 partitions; plan shows the partition filter, no row-level day
# filter needed), aggregated per (day, type). The oracle computes the same
# answer from the raw parquet.
def events_hive_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = scoped_dir("hivepart_") + "/events_by_day"
    (
        ev.withColumn("day", F.date_format(F.to_date("ts"), "yyyy-MM-dd"))
        .repartition("day")
        .write.partitionBy("day")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    # the hive `day=` directories read back as a date: filter on it (the
    # partition filter), then report it as the string the oracle returns
    return (
        back.where(F.col("day").between("2024-01-10", "2024-01-12"))
        .groupBy(F.col("day").cast("string").alias("day"), "event_type")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
        .orderBy("day", "event_type")
    )


EV_HIVEPART_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       count(*) AS n, count(DISTINCT user_id) AS n_users
FROM events
WHERE date_trunc('day', ts) BETWEEN TIMESTAMP '2024-01-10' AND TIMESTAMP '2024-01-12'
GROUP BY 1, 2 ORDER BY day, event_type
"""

QUERIES["events_hive_partition_pruning"] = events_hive_partition_pruning
ORACLES["events_hive_partition_pruning"] = EV_HIVEPART_SQL


# --------------------------------------------------------------------------
# ev_weekend_effect: Welch two-sample t — weekend vs weekday per-user-day
# mean value (unit = user-day aggregate, same discipline as ev_ab_welch);
# unequal-variance t with Welch-Satterthwaite dof, all from two bounded
# conditional aggregates.
def ev_weekend_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    per = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(F.avg("value").alias("x"))
    tagged = per.withColumn("wkend", F.dayofweek("d").isin(1, 7).cast("long"))
    g = tagged.groupBy("wkend").agg(
        F.count("*").alias("n"), F.avg("x").alias("m"), F.var_samp("x").alias("v")
    )
    rows = {int(r["wkend"]): r for r in g.collect()}
    a, b = rows[1], rows[0]  # weekend vs weekday
    na, nb = int(a["n"]), int(b["n"])
    ma, mb = float(a["m"]), float(b["m"])
    va, vb = float(a["v"]), float(b["v"])
    se2 = va / na + vb / nb
    t = (ma - mb) / se2**0.5
    dof = se2 * se2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    return ev.sparkSession.range(1).select(
        F.lit(na).alias("n_weekend"),
        F.lit(nb).alias("n_weekday"),
        F.round(F.lit(ma - mb), 6).alias("mean_diff"),
        F.round(F.lit(t), 6).alias("welch_t"),
        F.round(F.lit(dof), 6).alias("welch_dof"),
    )


EV_WEEKEND_SQL = """
WITH per AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d, avg(value) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), tagged AS (
  SELECT x, CASE WHEN dayofweek(d) IN (0, 6) THEN 1 ELSE 0 END AS wkend FROM per
), g AS (
  SELECT wkend, CAST(count(*) AS BIGINT) AS n, avg(x) AS m, var_samp(x) AS v
  FROM tagged GROUP BY 1
), w AS (SELECT n, m, v FROM g WHERE wkend = 1),
d AS (SELECT n, m, v FROM g WHERE wkend = 0)
SELECT w.n AS n_weekend, d.n AS n_weekday,
       round(w.m - d.m, 6) AS mean_diff,
       round((w.m - d.m) / sqrt(w.v / w.n + d.v / d.n), 6) AS welch_t,
       round((w.v / w.n + d.v / d.n) * (w.v / w.n + d.v / d.n)
             / ((w.v / w.n) * (w.v / w.n) / (w.n - 1) + (d.v / d.n) * (d.v / d.n) / (d.n - 1)), 6) AS welch_dof
FROM w, d
"""

QUERIES["ev_weekend_effect"] = ev_weekend_effect
ORACLES["ev_weekend_effect"] = EV_WEEKEND_SQL


# --------------------------------------------------------------------------
# streaming_moments: the moments sketch AS streaming state — the stream
# maintains per-event-type (n, sum, sumsq) partials (3 numbers of state per
# type, merged associatively across micro-batches), the readout emits
# mean/std. Partial sums over integer-scaled values are exact, so the
# streamed state equals batch and the job grades against a batch oracle.
def streaming_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_s = _events_stream(spark, sf_dir).where(F.col("value").isNotNull())
    # decimal cast rounds half-up like DuckDB's double->BIGINT cast; a plain
    # long cast would TRUNCATE 49.098*1000 = 49097.999... and diverge
    xi = (F.round(F.col("value"), 3) * 1000).cast("decimal(38,0)")
    agg = ev_s.select("event_type", xi.alias("xi")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("xi").cast("decimal(38,0)").alias("s1"),
        F.sum((F.col("xi") * F.col("xi")).cast("decimal(38,0)")).cast("decimal(38,0)").alias("s2"),
    )
    out = run_to_memory(agg, "streaming_moments_sink", "complete")
    mean = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n") - mean * mean
    return out.select(
        "event_type",
        "n",
        F.round(mean / 1000.0, 6).alias("mean"),
        F.round(F.sqrt(m2) / 1000.0, 6).alias("std_pop"),
    ).orderBy("event_type")


STREAMING_MOMENTS_SQL = """
WITH v AS (
  SELECT event_type, CAST(round(value, 3) * 1000 AS BIGINT) AS xi
  FROM events WHERE value IS NOT NULL
), g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         sum(xi) AS s1, sum(xi * xi) AS s2
  FROM v GROUP BY 1
)
SELECT event_type, n,
       round(s1 * 1.0 / n / 1000.0, 6) AS mean,
       round(sqrt(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n)) / 1000.0, 6) AS std_pop
FROM g ORDER BY event_type
"""

QUERIES["streaming_moments"] = streaming_moments
ORACLES["streaming_moments"] = STREAMING_MOMENTS_SQL


_OS_Z95 = 1.959963984540054


# --------------------------------------------------------------------------
# ev_p95_ci: a distribution-free 95% confidence interval for the p95 of
# value — binomial order statistics: the CI endpoints are the r_lo-th and
# r_hi-th smallest values with r = ceil(n*q -/+ z*sqrt(n*q*(1-q))). Order
# statistics are selected by the distributed prefix rank over the
# distinct-value frame (no sort-all-to-one-task, no full collect).
def ev_p95_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from bears_spark.functions.prefix import partitioned_cumsum

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    n = ev.count()
    q = 0.95
    se = math.sqrt(n * q * (1 - q))
    r_mid = math.ceil(n * q)
    r_lo = max(1, math.ceil(n * q - _OS_Z95 * se))
    r_hi = min(n, math.ceil(n * q + _OS_Z95 * se))
    pv = ev.groupBy(F.col("value").alias("v")).agg(F.count("*").alias("cnt"))
    cum = partitioned_cumsum(pv, ["v"], ["cnt"])
    # the r-th smallest value is the first distinct v whose cumulative count
    # reaches r — one filtered min per target rank
    picks = cum.agg(
        F.min(F.when(F.col("cnt_cumsum") >= r_lo, F.col("v"))).alias("lo"),
        F.min(F.when(F.col("cnt_cumsum") >= r_mid, F.col("v"))).alias("mid"),
        F.min(F.when(F.col("cnt_cumsum") >= r_hi, F.col("v"))).alias("hi"),
    ).first()
    return ev.sparkSession.range(1).select(
        F.lit(n).alias("n"),
        F.lit(r_lo).alias("rank_lo"),
        F.lit(r_hi).alias("rank_hi"),
        F.round(F.lit(float(picks["lo"])), 6).alias("p95_lo"),
        F.round(F.lit(float(picks["mid"])), 6).alias("p95"),
        F.round(F.lit(float(picks["hi"])), 6).alias("p95_hi"),
    )


EV_P95_CI_SQL = f"""
WITH vals AS (SELECT value AS v FROM events WHERE value IS NOT NULL),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vals),
ranks AS (
  SELECT n,
         CAST(ceil(n * 0.95) AS BIGINT) AS r_mid,
         greatest(1, CAST(ceil(n * 0.95 - {_OS_Z95} * sqrt(n * 0.95 * 0.05)) AS BIGINT)) AS r_lo,
         least(n, CAST(ceil(n * 0.95 + {_OS_Z95} * sqrt(n * 0.95 * 0.05)) AS BIGINT)) AS r_hi
  FROM n
), pv AS (
  SELECT v, count(*) AS cnt FROM vals GROUP BY 1
), cum AS (
  SELECT v, sum(cnt) OVER (ORDER BY v) AS cc FROM pv
)
SELECT r.n, r.r_lo AS rank_lo, r.r_hi AS rank_hi,
       round(min(CASE WHEN cc >= r.r_lo THEN v END), 6) AS p95_lo,
       round(min(CASE WHEN cc >= r.r_mid THEN v END), 6) AS p95,
       round(min(CASE WHEN cc >= r.r_hi THEN v END), 6) AS p95_hi
FROM cum, ranks r GROUP BY r.n, r.r_lo, r.r_hi
"""

QUERIES["ev_p95_ci"] = ev_p95_ci
ORACLES["ev_p95_ci"] = EV_P95_CI_SQL


# --------------------------------------------------------------------------
# ev_tail_gpd_fit: extreme-value tail modeling — peaks-over-threshold with
# a generalized Pareto fit by method of moments (threshold = exact p99;
# excesses y = v - u; xi = (1 - m^2/s^2)/2, beta = m (1 - xi) m^2/s^2 ...
# concretely xi = 0.5*(1 - m^2/v), beta = 0.5*m*(m^2/v + 1)). One pass for
# the threshold, one bounded aggregate over excesses.
def ev_tail_gpd_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    u = float(ev.agg(F.expr("percentile(value, 0.99)")).first()[0])
    exc = ev.where(F.col("value") > u).select((F.col("value") - u).alias("y"))
    m = exc.agg(F.count("*").alias("n"), F.avg("y").alias("m"), F.var_pop("y").alias("v")).first()
    n_exc, mean, var = int(m["n"]), float(m["m"]), float(m["v"])
    ratio = mean * mean / var
    xi = 0.5 * (1 - ratio)
    beta = 0.5 * mean * (ratio + 1)
    return ev.sparkSession.range(1).select(
        F.round(F.lit(u), 6).alias("threshold_p99"),
        F.lit(n_exc).alias("n_excess"),
        F.round(F.lit(mean), 6).alias("mean_excess"),
        F.round(F.lit(xi), 6).alias("gpd_xi"),
        F.round(F.lit(beta), 6).alias("gpd_beta"),
    )


EV_GPD_SQL = """
WITH u AS (
  SELECT quantile_cont(value, 0.99) AS u FROM events WHERE value IS NOT NULL
), exc AS (
  SELECT value - u.u AS y FROM events, u WHERE value IS NOT NULL AND value > u.u
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, avg(y) AS m, var_pop(y) AS v FROM exc
)
SELECT round((SELECT u FROM u), 6) AS threshold_p99,
       n AS n_excess,
       round(m, 6) AS mean_excess,
       round(0.5 * (1 - m * m / v), 6) AS gpd_xi,
       round(0.5 * m * (m * m / v + 1), 6) AS gpd_beta
FROM m
"""

QUERIES["ev_tail_gpd_fit"] = ev_tail_gpd_fit
ORACLES["ev_tail_gpd_fit"] = EV_GPD_SQL


_MKV_STEPS = 8


# --------------------------------------------------------------------------
# ev_markov_stationary: the long-run event-type mix implied by the observed
# per-user transition chain — 8 power-iteration steps of v P from uniform
# over the 5x5 row-normalized transition matrix (bounded: |types|^2 rows
# collected once; the heavy work is the one lag-pair aggregation). The
# oracle unrolls the same 8 steps as CTEs.
def ev_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", F.col("event_type").alias("src"))
        .withColumn("dst", F.lead("src").over(w))
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    types = sorted({r["src"] for r in pairs} | {r["dst"] for r in pairs})
    idx = {t: i for i, t in enumerate(types)}
    k = len(types)
    row_tot = [0] * k
    for r in pairs:
        row_tot[idx[r["src"]]] += int(r["c"])
    P = [[0.0] * k for _ in range(k)]
    for r in pairs:
        P[idx[r["src"]]][idx[r["dst"]]] = int(r["c"]) / row_tot[idx[r["src"]]]
    v = [1.0 / k] * k
    for _ in range(_MKV_STEPS):
        # sum in ascending src order — the same order the SQL oracle's
        # ordered aggregation produces
        v = [sum(v[i] * P[i][j] for i in range(k)) for j in range(k)]
    return local_df(ev.sparkSession, 
        [(t, round(v[idx[t]], 6)) for t in types],
        "event_type string, stationary_p double",
    ).orderBy("event_type")


def _mkv_sql() -> str:
    its = []
    prev = "it0"
    for s in range(1, _MKV_STEPS + 1):
        its.append(
            f"it{s} AS (\n"
            f"  SELECT p.dst AS t, sum(v.p * p.p ORDER BY p.src) AS p\n"
            f"  FROM {prev} v JOIN pm p ON p.src = v.t GROUP BY 1\n)"
        )
        prev = f"it{s}"
    return f"""
WITH pairs AS (
  SELECT src, dst, count(*) AS c FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM events
  ) WHERE dst IS NOT NULL GROUP BY 1, 2
), types AS (SELECT DISTINCT src AS t FROM pairs UNION SELECT DISTINCT dst FROM pairs),
k AS (SELECT count(*) AS k FROM (SELECT DISTINCT t FROM types)),
pm AS (
  SELECT src, dst, c * 1.0 / sum(c) OVER (PARTITION BY src) AS p FROM pairs
), it0 AS (
  SELECT t, 1.0 / k.k AS p FROM (SELECT DISTINCT t FROM types), k
), {", ".join(its)}
SELECT t AS event_type, round(p, 6) AS stationary_p FROM {prev} ORDER BY event_type
"""


EV_MKV_SQL = _mkv_sql()


def _mkv_sql() -> str:
    its = []
    prev = "it0"
    for s in range(1, _MKV_STEPS + 1):
        its.append(
            f"it{s} AS (\n"
            f"  SELECT p.dst AS t, sum(v.p * p.p ORDER BY p.src) AS p\n"
            f"  FROM {prev} v JOIN pm p ON p.src = v.t GROUP BY 1\n)"
        )
        prev = f"it{s}"
    return f"""
WITH pairs AS (
  SELECT src, dst, count(*) AS c FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM events
  ) WHERE dst IS NOT NULL GROUP BY 1, 2
), types AS (SELECT DISTINCT src AS t FROM pairs UNION SELECT DISTINCT dst FROM pairs),
k AS (SELECT count(*) AS k FROM (SELECT DISTINCT t FROM types)),
pm AS (
  SELECT src, dst, c * 1.0 / sum(c) OVER (PARTITION BY src) AS p FROM pairs
), it0 AS (
  SELECT t, 1.0 / k.k AS p FROM (SELECT DISTINCT t FROM types), k
), {", ".join(its)}
SELECT t AS event_type, round(p, 6) AS stationary_p FROM {prev} ORDER BY event_type
"""


EV_MKV_SQL = _mkv_sql()

QUERIES["ev_markov_stationary"] = ev_markov_stationary
ORACLES["ev_markov_stationary"] = EV_MKV_SQL


# --------------------------------------------------------------------------
# ev_user_activity_powerlaw: continuous-MLE power-law exponent for the
# per-user activity distribution — alpha = 1 + n / sum(ln(x/xmin)) over
# users with >= xmin events (Clauset-Shalizi-Newman estimator, closed
# form). One user-grain aggregate + one bounded moment pass.
def ev_user_activity_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    xmin = 5.0
    per = ev.groupBy("user_id").agg(F.count("*").alias("x")).where(F.col("x") >= xmin)
    m = per.agg(
        F.count("*").alias("n"),
        F.sum(F.log(F.col("x") / F.lit(xmin))).alias("slog"),
    ).first()
    n, slog = int(m["n"]), float(m["slog"])
    alpha = 1.0 + n / slog
    se = (alpha - 1.0) / n**0.5
    return ev.sparkSession.range(1).select(
        F.lit(int(xmin)).alias("xmin"),
        F.lit(n).alias("n_users"),
        F.round(F.lit(alpha), 6).alias("alpha_mle"),
        F.round(F.lit(se), 6).alias("alpha_se"),
    )


EV_POWERLAW_SQL = """
WITH per AS (
  SELECT user_id, count(*) AS x FROM events GROUP BY 1 HAVING count(*) >= 5
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(ln(x / 5.0)) AS slog FROM per
)
SELECT 5 AS xmin, n AS n_users,
       round(1.0 + n / slog, 6) AS alpha_mle,
       round((1.0 + n / slog - 1.0) / sqrt(n), 6) AS alpha_se
FROM m
"""

QUERIES["ev_user_activity_powerlaw"] = ev_user_activity_powerlaw
ORACLES["ev_user_activity_powerlaw"] = EV_POWERLAW_SQL


# --------------------------------------------------------------------------
# ev_markov_entropy_rate: entropy rate of the observed event-type chain —
# H = -sum_i pi_i sum_j P_ij ln P_ij with pi from the same 8 power-iteration
# steps ev_markov_stationary grades; perplexity = e^H is "how many
# effective next-event choices" the process carries. All state bounded
# (|types|^2), one lag-pair aggregation does the heavy work.
def ev_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", F.col("event_type").alias("src"))
        .withColumn("dst", F.lead("src").over(w))
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    types = sorted({r["src"] for r in pairs} | {r["dst"] for r in pairs})
    idx = {t: i for i, t in enumerate(types)}
    k = len(types)
    row_tot = [0] * k
    for r in pairs:
        row_tot[idx[r["src"]]] += int(r["c"])
    P = [[0.0] * k for _ in range(k)]
    for r in pairs:
        P[idx[r["src"]]][idx[r["dst"]]] = int(r["c"]) / row_tot[idx[r["src"]]]
    v = [1.0 / k] * k
    for _ in range(8):
        v = [sum(v[i] * P[i][j] for i in range(k)) for j in range(k)]
    h = -sum(
        v[i] * sum(P[i][j] * math.log(P[i][j]) for j in range(k) if P[i][j] > 0)
        for i in range(k)
    )
    return ev.sparkSession.range(1).select(
        F.lit(k).alias("n_states"),
        F.round(F.lit(h), 6).alias("entropy_rate_nats"),
        F.round(F.lit(math.exp(h)), 6).alias("perplexity"),
    )


def _mkv_entropy_sql() -> str:
    its = []
    prev = "it0"
    for s in range(1, 9):
        its.append(
            f"it{s} AS (\n"
            f"  SELECT p.dst AS t, sum(v.p * p.p ORDER BY p.src) AS p\n"
            f"  FROM {prev} v JOIN pm p ON p.src = v.t GROUP BY 1\n)"
        )
        prev = f"it{s}"
    return f"""
WITH pairs AS (
  SELECT src, dst, count(*) AS c FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM events
  ) WHERE dst IS NOT NULL GROUP BY 1, 2
), types AS (SELECT DISTINCT src AS t FROM pairs UNION SELECT DISTINCT dst FROM pairs),
k AS (SELECT count(*) AS k FROM (SELECT DISTINCT t FROM types)),
pm AS (
  SELECT src, dst, c * 1.0 / sum(c) OVER (PARTITION BY src) AS p FROM pairs
), it0 AS (
  SELECT t, 1.0 / k.k AS p FROM (SELECT DISTINCT t FROM types), k
), {", ".join(its)},
row_h AS (
  SELECT src, -sum(p * ln(p) ORDER BY dst) AS h FROM pm WHERE p > 0 GROUP BY 1
), ent AS (
  SELECT sum(v.p * r.h ORDER BY v.t) AS h
  FROM {prev} v JOIN row_h r ON r.src = v.t
)
SELECT (SELECT CAST(k AS INT) FROM k) AS n_states,
       round(h, 6) AS entropy_rate_nats,
       round(exp(h), 6) AS perplexity
FROM ent
"""


EV_MKV_ENTROPY_SQL = _mkv_entropy_sql()

EV_MKV_ENTROPY_SQL = _mkv_entropy_sql()

QUERIES["ev_markov_entropy_rate"] = ev_markov_entropy_rate
ORACLES["ev_markov_entropy_rate"] = EV_MKV_ENTROPY_SQL
