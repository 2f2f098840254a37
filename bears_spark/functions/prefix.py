"""Distributed global prefix (cumulative) aggregates.

The pandas-parity ``cum_agg`` in frame.py uses an unpartitioned window —
semantically right, but Spark executes a global ORDER BY window in ONE task,
which is the canonical 100-TB bottleneck. This module is the scale path:

    1. ``repartitionByRange(order_cols)``  — one shuffle, ranges are ordered
       across partitions;
    2. ``sortWithinPartitions``            — local sort, no movement;
    3. per-partition totals (tiny agg)     — collected to the driver
       (#partitions rows, bounded) and prefix-summed into offsets;
    4. ``mapInPandas`` local cumsum + the partition's broadcast offset —
       Arrow-batched, no second shuffle, carries the running value across
       batches inside each partition.

Every partition works in parallel; the only serial state is the
#partitions-sized offset table. The caller must supply a TOTAL order
(include a unique tiebreaker column) — with duplicate keys straddling a
range boundary the tie order, and therefore intermediate prefix values,
would be partitioning-dependent.

No reference parity line: the reference has no cumulative aggregates at all
(ScalableSeries.py:351-417 raises) — this is part of the engine's capability
gain, built scale-first.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bears_spark.caching import scoped_persist

# Caching contract: each scan persists its range-partitioned input so the
# offsets pass and the main pass see identical partition boundaries (range
# boundary sampling is seeded by RDD id, so an unpersisted exchange re-run
# in a LATER action can re-sample different boundaries than the ones the
# offset table was built from — silent corruption). Caches are therefore
# retained until drained: every scan registers with caching.scoped_persist,
# and harnesses call release_scoped_caches() between queries. Chained scans
# (ntile -> ntile -> ntile) each keep their own cache until that drain.


def _order_exprs(order_cols) -> list:
    """Order specs may be column names or Column sort expressions (e.g.
    ``F.desc("rev")``) — both are valid for repartitionByRange and
    sortWithinPartitions, so descending prefix scans need no negation hack."""
    return [F.col(c) if isinstance(c, str) else c for c in order_cols]


def _range_parts(df: DataFrame, num_partitions: int | None) -> int:
    """Range-partition count for the prefix scans: the caller's explicit
    value, else min(defaultParallelism, input partition count). Every range
    partition costs one Python-runner task in BOTH passes (offsets +
    mapInPandas) at ~0.1-0.3 s of per-task protocol overhead regardless of
    rows, so fanning a 1-split local input out to 32 ranges pays 64 tasks of
    overhead to cumsum rows a single pandas call handles in <1 ms (guide §4:
    the boundary is the cost; pay it proportionally to the data). Production
    inputs carry many splits and keep full parallelism — scale-adaptive, not
    a local constant. The plan-time getNumPartitions costs ~50 ms, no job."""
    sc = df.sparkSession.sparkContext
    return num_partitions or max(1, min(sc.defaultParallelism, df.rdd.getNumPartitions()))


def _carry(series: pd.Series, prev):
    """Null-safe running carry: the last non-null cumulative value, or the
    previous carry when the batch tail (or whole batch) is null — matching
    Spark window-agg semantics where nulls are ignored, not propagated."""
    valid = series.dropna()
    return valid.iloc[-1] if len(valid) else prev


def _cum_field_type(dt: T.DataType) -> T.DataType:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return T.LongType()
    if isinstance(dt, T.DecimalType):
        # widen like Spark's sum() does, capped at the max precision
        return T.DecimalType(min(38, dt.precision + 10), dt.scale)
    return T.DoubleType()


def partitioned_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_cols: list[str],
    num_partitions: int | None = None,
    suffix: str = "_cumsum",
) -> DataFrame:
    """Global running sum of each ``value_cols`` under ``order_cols`` (a
    total order — include a unique tiebreaker), computed with partition-level
    parallelism. Adds ``{col}{suffix}`` columns; row order within the result
    follows the range partitioning (add .orderBy for a presentation sort).

    The ranged input is persisted: the offsets pass and the main pass must
    see the SAME partition boundaries (range sampling is not re-run)."""
    spark = df.sparkSession
    n = _range_parts(df, num_partitions)
    ranged = scoped_persist(
        df.repartitionByRange(n, *_order_exprs(order_cols)).sortWithinPartitions(*_order_exprs(order_cols))
    )
    totals = (
        ranged.groupBy(F.spark_partition_id().alias("__pid__"))
        .agg(*[F.sum(c).alias(c) for c in value_cols])
        .collect()
    )
    offsets: dict[int, dict[str, float]] = {}
    acc = {c: 0 for c in value_cols}
    for row in sorted(totals, key=lambda r: r["__pid__"]):
        offsets[row["__pid__"]] = dict(acc)
        for c in value_cols:
            acc[c] += row[c] or 0

    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(c + suffix, _cum_field_type(df.schema[c].dataType)) for c in value_cols]
    )

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        running = dict(offsets.get(pid, {c: 0 for c in value_cols}))
        for pdf in batches:
            for c in value_cols:
                cs = pdf[c].cumsum() + running[c]
                pdf[c + suffix] = cs
                running[c] = _carry(cs, running[c])
            yield pdf

    return ranged.mapInPandas(_scan, out_schema)


_SCAN_FNS = {
    "sum": (F.sum, lambda acc, x: acc + x, 0),
    "max": (F.max, max, None),
    "min": (F.min, min, None),
    "count": (F.count, lambda acc, x: acc + x, 0),
}


def partitioned_scan(
    df: DataFrame,
    order_cols: list[str],
    aggs: dict[str, list[str]],
    num_partitions: int | None = None,
) -> DataFrame:
    """Generalized distributed prefix scan: running sum/max/min/count per
    value column under a total order, as ``{col}_cum{fn}`` columns — the
    fully-parallel form of frame.cum_agg's unpartitioned path. Any
    ASSOCIATIVE combine works with the same offset algebra; prod is omitted
    (overflow makes the offset algebra lossy in floats).
    """
    for c, fns in aggs.items():
        for fn in fns:
            if fn not in _SCAN_FNS:
                raise ValueError(f"unsupported scan fn {fn!r} (have {sorted(_SCAN_FNS)})")
    spark = df.sparkSession
    n = _range_parts(df, num_partitions)
    ranged = scoped_persist(
        df.repartitionByRange(n, *_order_exprs(order_cols)).sortWithinPartitions(*_order_exprs(order_cols))
    )
    total_exprs = [
        _SCAN_FNS[fn][0](c).alias(f"{c}__{fn}") for c, fns in aggs.items() for fn in fns
    ]
    totals = ranged.groupBy(F.spark_partition_id().alias("__pid__")).agg(*total_exprs).collect()
    # per-partition offset = combine of all PRIOR partitions' totals
    offsets: dict[int, dict[str, object]] = {}
    acc: dict[str, object] = {}
    for row in sorted(totals, key=lambda r: r["__pid__"]):
        offsets[row["__pid__"]] = dict(acc)
        for c, fns in aggs.items():
            for fn in fns:
                key = f"{c}__{fn}"
                v = row[key]
                if v is None:
                    continue
                _, combine, init = _SCAN_FNS[fn]
                acc[key] = combine(acc[key], v) if key in acc else (combine(init, v) if init is not None else v)

    def _out_type(c: str, fn: str) -> T.DataType:
        if fn == "count":
            return T.LongType()
        return _cum_field_type(df.schema[c].dataType)

    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(f"{c}_cum{fn}", _out_type(c, fn)) for c, fns in aggs.items() for fn in fns]
    )

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        off = dict(offsets.get(TaskContext.get().partitionId(), {}))
        for pdf in batches:
            for c, fns in aggs.items():
                for fn in fns:
                    key = f"{c}__{fn}"
                    if fn == "sum":
                        local = pdf[c].cumsum()
                    elif fn == "max":
                        local = pdf[c].cummax()
                    elif fn == "min":
                        local = pdf[c].cummin()
                    else:  # count
                        local = pdf[c].notna().cumsum()
                    if key in off:
                        _, combine, _init = _SCAN_FNS[fn]
                        if fn in ("sum", "count"):
                            local = local + off[key]
                        elif fn == "max":
                            local = local.clip(lower=off[key])
                        else:
                            local = local.clip(upper=off[key])
                    pdf[f"{c}_cum{fn}"] = local
                    carried = _carry(local, off.get(key))
                    if carried is not None:
                        off[key] = carried
            yield pdf

    return ranged.mapInPandas(_scan, out_schema)


def distributed_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "__pos__",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 0-based row position under a total order, without the one-task
    global window: range partition -> per-partition counts -> offset table ->
    local row_number + offset. Same machinery as partitioned_cumsum with a
    constant-1 value, but counts come from the cheap groupBy, not a scan."""
    spark = df.sparkSession
    n = _range_parts(df, num_partitions)
    ranged = scoped_persist(
        df.repartitionByRange(n, *_order_exprs(order_cols)).sortWithinPartitions(*_order_exprs(order_cols))
    )
    counts = ranged.groupBy(F.spark_partition_id().alias("__pid__")).count().collect()
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["__pid__"]):
        offsets[row["__pid__"]] = acc
        acc += row["count"]

    out_schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.LongType())])

    def _number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pos = offsets.get(TaskContext.get().partitionId(), 0)
        for pdf in batches:
            pdf[out_col] = range(pos, pos + len(pdf))
            pos += len(pdf)
            yield pdf

    return ranged.mapInPandas(_number, out_schema)


def partitioned_ntile(
    df: DataFrame,
    order_cols: list,
    n_buckets: int,
    out_col: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n_buckets)`` under a total order WITHOUT the one-task
    global window: global position from :func:`distributed_row_number`'s
    machinery, then the closed-form ntile bucket (sizes differ by at most
    one, larger buckets first — byte-identical to ``F.ntile(k).over(w)``).
    ``order_cols`` may mix names and sort expressions (``F.desc(...)``);
    include a unique tiebreaker for a total order."""
    spark = df.sparkSession
    n = _range_parts(df, num_partitions)
    ranged = scoped_persist(
        df.repartitionByRange(n, *_order_exprs(order_cols)).sortWithinPartitions(*_order_exprs(order_cols))
    )
    counts = ranged.groupBy(F.spark_partition_id().alias("__pid__")).count().collect()
    offsets: dict[int, int] = {}
    total = 0
    for row in sorted(counts, key=lambda r: r["__pid__"]):
        offsets[row["__pid__"]] = total
        total += row["count"]
    base, rem = divmod(total, n_buckets)

    out_schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.IntegerType())])

    def _bucket(pos: int) -> int:
        # Spark/ANSI ntile: first `rem` buckets hold base+1 rows, rest base.
        if base == 0:
            return pos + 1
        pivot = rem * (base + 1)
        if pos < pivot:
            return pos // (base + 1) + 1
        return rem + (pos - pivot) // base + 1

    def _tile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pos = offsets.get(TaskContext.get().partitionId(), 0)
        for pdf in batches:
            pdf[out_col] = [_bucket(p) for p in range(pos, pos + len(pdf))]
            pos += len(pdf)
            yield pdf

    return ranged.mapInPandas(_tile, out_schema)


def global_shift(
    df: DataFrame,
    order_cols: list,
    cols: list[str],
    periods: int = 1,
    suffix: str = "_shift",
    num_partitions: int | None = None,
) -> DataFrame:
    """lag/lead under a GLOBAL order without the one-task window: global row
    position from :func:`distributed_row_number`, then a self-equi-join on
    ``pos == pos - periods`` (positive periods = lag, negative = lead). Two
    extra shuffles, but every stage is fully parallel — the scale-safe form
    of ``F.lag(...).over(Window.orderBy(...))`` with no partition keys.
    Ties in a non-total order are broken by the range sort (deterministic
    given the same partitioning, like the window form's tie behavior)."""
    numbered = distributed_row_number(df, order_cols, out_col="__pos__", num_partitions=num_partitions)
    right = numbered.select(
        (F.col("__pos__") + F.lit(periods)).alias("__pos__"),
        *[F.col(c).alias(c + suffix) for c in cols],
    )
    return numbered.join(right, "__pos__", "left").drop("__pos__")


def partitioned_fill(
    df: DataFrame,
    order_cols: list,
    cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Forward-fill (last non-null carried forward) under a global order
    with partition-level parallelism: range shuffle, per-partition last
    non-null collected into an offset table, pandas ``ffill`` per batch with
    the cross-partition carry filled in. Backward-fill is this function with
    the order reversed (pass ``F.desc(...)`` specs). Output schema is the
    input schema (fill never changes a column's type)."""
    spark = df.sparkSession
    n = _range_parts(df, num_partitions)
    ranged = scoped_persist(
        df.repartitionByRange(n, *_order_exprs(order_cols)).sortWithinPartitions(*_order_exprs(order_cols))
    )
    lasts = (
        ranged.groupBy(F.spark_partition_id().alias("__pid__"))
        .agg(*[F.last(c, ignorenulls=True).alias(c) for c in cols])
        .collect()
    )
    offsets: dict[int, dict[str, object]] = {}
    carry: dict[str, object] = {c: None for c in cols}
    for row in sorted(lasts, key=lambda r: r["__pid__"]):
        offsets[row["__pid__"]] = dict(carry)
        for c in cols:
            if row[c] is not None:
                carry[c] = row[c]

    out_schema = df.schema

    def _fill(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        prev = dict(offsets.get(TaskContext.get().partitionId(), {c: None for c in cols}))
        for pdf in batches:
            for c in cols:
                filled = pdf[c].ffill()
                if prev.get(c) is not None:
                    filled = filled.fillna(prev[c])
                pdf[c] = filled
                prev[c] = _carry(filled, prev.get(c))
            yield pdf

    return ranged.mapInPandas(_fill, out_schema)


def distributed_rank(
    df: DataFrame,
    order_col: str,
    method: str = "min",
    ascending: bool = True,
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global rank (methods min/dense/first) without the one-task window.
    'first' is :func:`distributed_row_number` + 1. 'min' and 'dense' reduce
    to the DISTINCT-VALUE frame first (groupBy count — partial-aggregated),
    rank the values with the prefix machinery, and equi-join the per-value
    rank back — every stage parallel, exact tie semantics. Null ordering
    matches the window defaults (asc = nulls first, desc = nulls last)."""
    order = F.asc(order_col) if ascending else F.desc(order_col)
    if method == "first":
        numbered = distributed_row_number(df, [order], out_col="__pos__", num_partitions=num_partitions)
        return numbered.withColumn(out_col, (F.col("__pos__") + 1).cast("int")).drop("__pos__")
    per_val = df.groupBy(order_col).agg(F.count("*").alias("__n__"))
    if method == "dense":
        ranked_vals = distributed_row_number(
            per_val, [order], out_col="__pos__", num_partitions=num_partitions
        ).select(F.col(order_col).alias("__rv__"), (F.col("__pos__") + 1).cast("int").alias(out_col))
    elif method == "min":
        scanned = partitioned_cumsum(
            per_val, [order], ["__n__"], num_partitions=num_partitions, suffix="_cum"
        )
        ranked_vals = scanned.select(
            F.col(order_col).alias("__rv__"),
            (F.col("__n__" + "_cum") - F.col("__n__") + 1).cast("int").alias(out_col),
        )
    else:
        raise ValueError(f"unsupported rank method {method!r}")
    return df.join(ranked_vals, F.col(order_col).eqNullSafe(F.col("__rv__")), "left").drop("__rv__")


_ROLLING_FNS = ("mean", "sum", "min", "max", "count", "std")
# the driver-side carry table is O((window_size-1) × num_partitions) rows of
# the value columns only; beyond this a trailing window is no longer "small
# state" and the caller should partition for parallelism instead
_MAX_GLOBAL_ROLLING_WINDOW = 10_000


def global_rolling(
    df: DataFrame,
    order_cols: list,
    aggs: dict[str, list[str]],
    window_size: int,
    min_periods: int = 1,
    num_partitions: int | None = None,
    name_fmt: str = "{col}_rolling_{fn}",
) -> DataFrame:
    """Trailing ``window_size``-row aggregates under a GLOBAL order without
    the one-task ``Window.partitionBy().orderBy(...)`` fallback: range
    partition + local sort, then carry each partition's trailing
    ``window_size - 1`` rows into its successor through a driver-side offset
    table (the :func:`partitioned_fill` pattern, with k rows instead of one
    last-non-null). Every partition rolls in parallel; the only serial state
    is the O(k × num_partitions) carry table of the value columns.

    Semantics match ``fn(col).over(Window.orderBy(order).rowsBetween(-(k), 0))``
    with the frame API's ``min_periods`` gate (result null while the window
    holds fewer than ``min_periods`` non-null values). Numeric columns only —
    the carry algebra neither needs nor supports string min/max. Supply a
    total order (unique tiebreaker) for deterministic tie handling."""
    for c, fns in aggs.items():
        for fn in fns:
            if fn not in _ROLLING_FNS:
                raise ValueError(f"unsupported rolling agg {fn!r} (have {_ROLLING_FNS})")
        if not isinstance(df.schema[c].dataType, T.NumericType):
            raise TypeError(
                f"global_rolling needs numeric value columns; {c!r} is "
                f"{df.schema[c].dataType.simpleString()} — use partition_by "
                f"for non-numeric trailing windows"
            )
    if window_size < 1:
        raise ValueError("window_size must be >= 1")
    if window_size > _MAX_GLOBAL_ROLLING_WINDOW:
        raise ValueError(
            f"window_size {window_size} > {_MAX_GLOBAL_ROLLING_WINDOW}: the "
            f"cross-partition carry is O(window_size × partitions) driver "
            f"state — partition the rolling computation instead"
        )
    spark = df.sparkSession
    n = _range_parts(df, num_partitions)
    ranged = scoped_persist(
        df.repartitionByRange(n, *_order_exprs(order_cols)).sortWithinPartitions(*_order_exprs(order_cols))
    )
    value_cols = list(aggs)
    k = window_size - 1

    # per-partition trailing-k rows of the value columns, in order
    carries: dict[int, pd.DataFrame] = {}
    if k > 0:
        tail_schema = T.StructType(
            [T.StructField("__pid__", T.IntegerType()), T.StructField("__seq__", T.IntegerType())]
            + [T.StructField(c, df.schema[c].dataType) for c in value_cols]
        )

        def _tails(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            buf: pd.DataFrame | None = None
            for pdf in batches:
                part = pdf[value_cols]
                buf = part if buf is None else pd.concat([buf, part], ignore_index=True)
                if len(buf) > k:
                    buf = buf.iloc[-k:].reset_index(drop=True)
            if buf is not None and len(buf):
                buf = buf.copy()
                buf.insert(0, "__seq__", range(len(buf)))
                buf.insert(0, "__pid__", TaskContext.get().partitionId())
                yield buf

        tail_rows = ranged.select(*value_cols).mapInPandas(_tails, tail_schema).collect()
        by_pid: dict[int, list] = {}
        for row in tail_rows:
            by_pid.setdefault(row["__pid__"], []).append(row)
        acc = pd.DataFrame(columns=value_cols)
        for pid in range(ranged.rdd.getNumPartitions()):
            carries[pid] = acc
            rows = sorted(by_pid.get(pid, []), key=lambda r: r["__seq__"])
            if rows:
                tail = pd.DataFrame([[r[c] for c in value_cols] for r in rows], columns=value_cols)
                # numpy-level append: a pandas concat warns when a carry
                # frame is all-NA; the main pass rolls in float64 anyway
                acc = pd.DataFrame(
                    {
                        c: np.concatenate(
                            [
                                acc[c].to_numpy(dtype="float64", na_value=np.nan)
                                if len(acc)
                                else np.array([], dtype="float64"),
                                tail[c].to_numpy(dtype="float64", na_value=np.nan),
                            ]
                        )
                        for c in value_cols
                    }
                ).iloc[-k:].reset_index(drop=True)

    def _out_field(c: str, fn: str) -> T.StructField:
        dt = df.schema[c].dataType
        if fn in ("mean", "std"):
            out: T.DataType = T.DoubleType()
        elif fn == "count":
            out = T.LongType()
        elif fn == "sum":
            out = _cum_field_type(dt)
            if isinstance(out, T.DecimalType):
                out = T.DoubleType()  # pandas rolls in float; document the widening
        else:  # min / max keep the input type (integral stays integral)
            out = T.LongType() if isinstance(
                dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ) else T.DoubleType()
        return T.StructField(name_fmt.format(col=c, fn=fn), out)

    out_schema = T.StructType(
        list(df.schema.fields) + [_out_field(c, fn) for c, fns in aggs.items() for fn in fns]
    )
    int_outputs = {
        f.name for f in out_schema.fields[len(df.schema.fields):] if isinstance(f.dataType, T.LongType)
    }

    def _as_f64(frame: pd.DataFrame) -> pd.DataFrame:
        # nulls -> NaN, any dtype -> float64, at the numpy level (a pandas
        # concat of an all-NA carry frame trips a dtype FutureWarning)
        return pd.DataFrame(
            {c: frame[c].to_numpy(dtype="float64", na_value=np.nan) for c in value_cols}
        )

    def _roll(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        carry = carries.get(TaskContext.get().partitionId()) if k else None
        buf = _as_f64(carry) if carry is not None and len(carry) else pd.DataFrame(columns=value_cols)
        for pdf in batches:
            m = len(buf)
            batch64 = _as_f64(pdf)
            work = (
                pd.DataFrame(
                    {
                        c: np.concatenate([buf[c].to_numpy(), batch64[c].to_numpy()])
                        for c in value_cols
                    }
                )
                if m
                else batch64
            )
            out = pdf.copy()
            for c, fns in aggs.items():
                r = work[c].rolling(window_size, min_periods=1)
                cnt = r.count()
                for fn in fns:
                    vals = cnt if fn == "count" else getattr(r, fn)()
                    if min_periods > 1:
                        vals = vals.where(cnt >= min_periods)
                    name = name_fmt.format(col=c, fn=fn)
                    res = vals.iloc[m:]
                    if name in int_outputs:
                        conv = res.astype("Int64").array
                    else:
                        # NaN here means "window not yet satisfied" (masked
                        # or std of <2 rows) — surface it as a real null,
                        # matching the window form (NaN data is already
                        # normalized to null at ingest, session.py)
                        v = res.to_numpy(dtype="float64", na_value=np.nan)
                        conv = pd.arrays.FloatingArray(v, np.isnan(v))
                    out[name] = conv
            if k:
                buf = work.iloc[-k:].reset_index(drop=True) if len(work) > k else work
            yield out

    return ranged.mapInPandas(_roll, out_schema)


def select_until_budget(
    df: DataFrame,
    order_cols: list[str],
    cost_col: str,
    budget: float,
    num_partitions: int | None = None,
) -> DataFrame:
    """Take documents in priority order until the cumulative cost exhausts
    ``budget`` — the data-mixing step of a training pipeline ("highest
    quality first, stop at N tokens"). The row that would cross the budget
    is excluded. Adds ``{cost_col}_cumsum`` so callers can audit the cut."""
    cum = partitioned_cumsum(df, order_cols, [cost_col], num_partitions=num_partitions)
    return cum.filter(F.col(cost_col + "_cumsum") <= budget)
