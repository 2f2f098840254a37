"""Structured Streaming jobs over the events schema.

The reference has NO event-time streaming (SURVEY.md §2.10 — its stream() is
chunked batch iteration, covered by bears_spark.stream). These are the
Spark-native streaming capabilities a training-data/analytics engine needs:
tumbling-window aggregation with watermarks, event-time sessionization, and
streaming dedup — each defined once and testable with a file/memory source.

All functions take a *streaming* DataFrame (spark.readStream...) and return a
streaming DataFrame; batch DataFrames work too (identical plans) which is how
the unit tests pin semantics against the batch queries.

Two ways to run one to completion, both under an ``availableNow`` trigger:
``run_to_memory`` is the gate and test runner (memory sink, rows collected to
the driver), ``run_to_parquet`` is the production sink. Every stream the
library runs to completion ends in ``finish``, which bounds the wait and
stops the query whatever happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bears_spark.caching import on_release
from bears_spark.localframe import local_df

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def read_events_stream(spark, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over events-schema parquet/json directories."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def hourly_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour window per event_type with late-data watermark.

    State scales with (#types x #open windows) — bounded; partial aggregation
    happens pre-shuffle exactly as in the batch plan."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("win.start").alias("hour"), "event_type", "n", "total_value")
    )


def sliding_counts_stream(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """SLIDING window per event_type: each event lands in window/slide
    overlapping windows (4 here), giving a smoothed rate readout tumbling
    windows can't. State is (#types x #open windows x overlap) — still
    bounded by the watermark; the expansion to overlapping windows happens
    engine-side pre-shuffle (no self-join, no explode in user code)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "total_value")
    )


def sessionize_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Event-time session windows (session_window gap semantics match the
    batch lag/cumsum sessionization in queries/events.py)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dim_enriched_counts_stream(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    group_cols: list[str],
    value_col: str = "value",
) -> DataFrame:
    """Stream-STATIC enrichment: join each micro-batch to a batch dimension
    table (broadcast — the dim ships to executors once per plan, no
    stream-side state at all, unlike stream-stream joins), then aggregate
    on enriched attributes. The dim is re-resolved per micro-batch, so a
    dim refresh (new snapshot under the same path) is picked up without
    restarting the query — the classic slowly-refreshing-dimension
    topology."""
    joined = events.join(F.broadcast(dim), events[stream_key] == dim[dim_key], "inner")
    return joined.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count("*").alias("n"), F.sum(value_col).alias("total_value")
    )


def run_to_parquet(
    result: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    available_now: bool = False,
    trigger_seconds: int | None = None,
):
    """The PRODUCTION sink for any job above: exactly-once parquet append via
    checkpointed writeStream. This is what replaces the gate wrappers'
    memory-sink + outputMode(complete) pattern (which collects the full
    result to the driver every trigger — grading harness only, never prod).

    append mode + watermark means each window/session is written once,
    when the watermark passes it; state is bounded and the sink scales with
    the output rate, not the result cardinality. Returns the StreamingQuery;
    pass it to ``finish`` to run an ``available_now`` job to completion."""
    w = result.writeStream.format("parquet").option("path", path).option("checkpointLocation", checkpoint)
    w = w.outputMode(output_mode)
    if available_now:
        w = w.trigger(availableNow=True)
    elif trigger_seconds:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w.start()


# Bound on every run-to-completion wait: an availableNow query that has not
# drained its input by then is reported and stopped, never left running.
_AVAILABLE_NOW_TIMEOUT_S = 300


def finish(query: StreamingQuery) -> None:
    """Wait for an ``availableNow`` query to terminate, and stop it in every case.

    Raises ``TimeoutError`` naming the query if it is still running after
    ``_AVAILABLE_NOW_TIMEOUT_S``, and the query's ``StreamingQueryException``
    if a batch failed. ``query.stop()`` runs in ``finally``, so neither an
    error nor an interrupt leaves the stream running over a checkpoint or
    source directory its caller is about to delete."""
    try:
        if not query.awaitTermination(_AVAILABLE_NOW_TIMEOUT_S):
            raise TimeoutError(
                f"streaming query {query.name or query.id} still running after {_AVAILABLE_NOW_TIMEOUT_S} s"
            )
    finally:
        query.stop()


def run_to_memory(df: DataFrame, sink: str, output_mode: str = "append") -> DataFrame:
    """Run a streaming DataFrame to completion into the memory sink ``sink``
    and return that table. Grading and tests only: the memory sink collects
    every row to the driver (``complete`` mode re-collects the full result
    each trigger); production jobs write through ``run_to_parquet``.

    The sink is a temp view holding every row on the driver. Its drop is
    registered with ``caching``, so the caller's ``release_scoped_caches()``
    after consuming the result frees it; a view read after that drain is gone."""
    spark = df.sparkSession
    writer = df.writeStream.format("memory").queryName(sink).outputMode(output_mode)
    on_release(lambda: spark.catalog.dropTempView(sink))  # also when the stream fails
    finish(writer.trigger(availableNow=True).start())
    return spark.table(sink)


def maintain_rollup_stream(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: list[str],
    value_col: str,
    available_now: bool = False,
):
    """Continuous-aggregate maintenance: fold each micro-batch into a
    persistent per-key rollup state table (functions/rollup.py — count /
    exact decimal sum / min / max) via foreachBatch. History is never
    rescanned: each trigger reads the prior state parquet, merges the
    batch's partial state (associative + exact), and atomically swaps the
    table. State size is O(#keys), independent of stream length.

    Returns the StreamingQuery; read the current aggregate any time with
    ``rollup_result(spark.read.parquet(state_path))``.
    """
    from bears_spark.functions.rollup import merge_rollup_states, rollup_state

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        new_state = rollup_state(batch_df, keys, value_col)
        jvm_path = state_path
        try:
            prev = spark.read.parquet(jvm_path)
            merged = merge_rollup_states(prev, new_state)
        except AnalysisException as exc:
            # Only the missing-path first-batch case may start fresh; any
            # other read error (corrupt footer, permission, transient IO)
            # must NOT silently discard accumulated history.
            if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
                raise
            merged = new_state
        tmp = jvm_path.rstrip("/") + f".__batch{batch_id}__"
        merged.write.mode("overwrite").parquet(tmp)
        # atomic-enough swap for a local/object store: write tmp, re-point.
        # (Production: table format with transactional commit — Delta/Iceberg
        # — same fold, transactional swap for free.)
        final = spark.read.parquet(tmp)
        final.write.mode("overwrite").parquet(jvm_path)
        shutil.rmtree(tmp.removeprefix("file:"), ignore_errors=True)

    w = events.writeStream.foreachBatch(_fold).option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon
    (dropDuplicates keeps state per key until the watermark passes)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id", "ts"])


def running_user_totals_stream(events: DataFrame, timeout_minutes: int | None = 120) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    event count + value total maintained as explicit state across
    micro-batches (the arbitrary-state API the built-in aggregations can't
    express — e.g. emit a row per BATCH with the cumulative value).

    State per user: (n_events, total_value). GroupStateTimeout evicts idle
    users after ``timeout_minutes`` of processing time, bounding state in a
    long-running service deployment. Pass ``timeout_minutes=None`` for
    run-to-completion (``availableNow``) jobs: with ProcessingTimeTimeout the
    engine keeps scheduling no-data micro-batches to re-check pending
    timeouts, so an availableNow trigger never terminates — NoTimeout lets it
    drain the input and stop (state is discarded with the checkpoint anyway).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id long, batch_events long, cum_events long, cum_value double"
    state_schema = "n long, total double"

    def _update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        batch_n = 0
        for pdf in pdfs:
            batch_n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        n += batch_n
        state.update((n, total))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            [{"user_id": user_id, "batch_events": batch_n, "cum_events": n, "cum_value": total}]
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout if timeout_minutes is None else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )


def purchase_attribution_stream(
    views: DataFrame,
    purchases: DataFrame,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the same
    user's preceding view within ``max_delay``.

    Both sides are watermarked so Spark bounds the join state: a view is
    held only until (its event time + max_delay + watermark) passes, then
    evicted — without the time bound the state would grow forever. The
    equi-key (user_id) routes both streams to the same state partition; the
    range predicate trims within it. Works identically on batch frames
    (how the test pins semantics).
    """
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") < F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_delay}"))
    )
    return p.join(v, cond, "inner").select(
        F.col("p_user").alias("user_id"), "purchase_id", "purchase_ts", "view_id", "view_ts"
    )


def purchase_attribution_outer_stream(
    views: DataFrame,
    purchases: DataFrame,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: like
    ``purchase_attribution_stream`` but purchases with NO preceding view
    still emit (null view columns) — once the watermark passes the
    purchase's event time, no future view can match it (later views would
    be late beyond the watermark and dropped), so its state expires and
    the unmatched row is released.

    This is the semantics inner joins can't give: "every purchase exactly
    once, attributed or provably unattributable". The corollary is that
    purchases inside the final watermark window of a bounded run never
    expire and are NOT emitted unmatched — a property, not a bug: the
    stream cannot yet prove they have no view. Batch-equivalence checks
    must apply the same cutoff (see streaming_attribution_outer's oracle).
    """
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") < F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_delay}"))
    )
    return p.join(v, cond, "left_outer").select(
        F.col("p_user").alias("user_id"), "purchase_id", "purchase_ts", "view_id", "view_ts"
    )


def purchase_attribution_full_outer_stream(
    views: DataFrame,
    purchases: DataFrame,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """FULL-OUTER stream-stream interval join: every purchase exactly once
    (attributed or provably view-less, as in the left-outer variant) AND
    every view exactly once (converted or provably purchase-less). The
    view side's state expires when the watermark passes
    view_ts + max_delay — after that no future purchase can match it
    within the window — releasing unconverted views with null purchase
    columns. This is the funnel-audit shape: tracking loss shows up as
    orphan purchases, demand without conversion as orphan views, and both
    are emitted exactly once from one join's state."""
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") < F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_delay}"))
    )
    return p.join(v, cond, "full_outer").select(
        F.coalesce(F.col("p_user"), F.col("v_user")).alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "view_id",
        "view_ts",
    )


def bounded_replay_source(spark, df: DataFrame, flush_rows: list, path: str, files: int = 1):
    """Materialize a batch DataFrame as a file-streaming source with FLUSH
    PUNCTUATION: the data lands first, then TWO copies of ``flush_rows``
    (sentinel events with event time far past the real data) as separate
    files. Replayed with maxFilesPerTrigger=1, the first flush batch raises
    every source's max event time and the second is processed AFTER the
    watermark has advanced accordingly — so watermark-gated state (outer-join
    null emission, final windows) flushes deterministically, without relying
    on no-data micro-batches. Two details make this exact:

    * the watermark is tracked per watermarked SOURCE and globally min'd, so
      ``flush_rows`` must cover every filtered substream (e.g. one sentinel
      view AND one sentinel purchase);
    * a sentinel's own event time stays ABOVE the final watermark (the
      watermark delay is never fully caught up), so sentinels park in state
      and never reach the output — give them ids outside the real domain
      anyway, defense in depth.

    In production the same role is played by control messages on the topic
    or by advancing processing-time triggers; this helper exists so bounded
    replays grade bit-exactly against batch oracles.
    """
    import glob as _glob
    import os
    import shutil
    import time as _time

    in_dir = os.path.join(path, "in")
    os.makedirs(in_dir)
    stage = os.path.join(path, "stage")
    df.coalesce(files).write.parquet(stage)
    for i, part in enumerate(sorted(_glob.glob(stage + "/part-*.parquet"))):
        shutil.move(part, os.path.join(in_dir, f"{i:03d}-data.parquet"))
    sent = local_df(spark, flush_rows, df.schema)
    for i in (1, 2):
        sstage = os.path.join(path, f"s{i}")
        sent.coalesce(1).write.parquet(sstage)
        shutil.move(
            _glob.glob(sstage + "/part-*.parquet")[0],
            os.path.join(in_dir, f"{900 + i}-flush.parquet"),
        )
    now = _time.time()
    for i, name in enumerate(sorted(os.listdir(in_dir))):
        os.utime(os.path.join(in_dir, name), (now + i * 10, now + i * 10))
    return spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)


def fanout_stream(
    source: DataFrame,
    sinks: list[str],
    checkpoint: str,
    available_now: bool = False,
    store=None,
):
    """One stream, N parquet sinks, exactly-once per sink — the common
    "land raw + land curated" topology without running N streaming queries
    over the same source (N checkpoints, N scans, N states).

    foreachBatch writes the micro-batch to every sink; idempotence is
    per (sink, batchId): a replayed batch (checkpoint recovery crashed
    between sinks) skips sinks that already carry its
    ``_committed_<batchId>`` marker and re-lands only the missing ones —
    each sink's subdirectory ``batch=<id>`` is written atomically via
    tmp-dir + rename BEFORE the marker, so a marker implies complete data.
    Readers use ``spark.read.parquet(sink)`` (batch= subdirs are plain
    hive partitions).

    The batch DataFrame is persisted across the N writes so the source
    micro-batch is computed once, not N times.

    Marker reads/writes go through the CommitStore seam
    (io/commit_store.py — same portability boundary as the snapshot
    table): ``put_if_absent`` publishes the marker atomically, so an
    object-store port only swaps the store. The batch data rename itself
    is local-fs (Spark writes the files); on an object store the
    ``batch=<id>`` prefix is already atomic-enough because the marker,
    not the data listing, is the commit point.
    """
    import os
    import shutil

    from bears_spark.io.commit_store import LocalCommitStore

    cstore = store or LocalCommitStore()

    def _write(batch_df, batch_id: int):
        pending = [s for s in sinks if not cstore.exists(os.path.join(s, f"_committed_{batch_id}"))]
        if not pending:
            return
        batch_df.persist()
        try:
            for s in pending:
                final = os.path.join(s, f"batch={batch_id}")
                tmp = os.path.join(s, f".batch{batch_id}.tmp")
                shutil.rmtree(tmp, ignore_errors=True)  # stale half-write from a crash
                batch_df.write.mode("overwrite").parquet(tmp)
                shutil.rmtree(final, ignore_errors=True)
                os.replace(tmp, final)
                cstore.put_if_absent(os.path.join(s, f"_committed_{batch_id}"), b"ok")
        finally:
            batch_df.unpersist()

    for s in sinks:
        os.makedirs(s, exist_ok=True)
    w = source.writeStream.foreachBatch(_write).option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
