"""Chunked batch-feed surface — bears' "DataLoader" (stream/shard/split).

Reference parity: ScalableDataFrame.stream (src/bears/core/frame/
ScalableDataFrame.py:416-598): yield fixed-size chunks, optional shuffle with
seed, distributed sharding (rank, world_size), drop_last semantics, map
function with prefetch. The reference's balanced-shard planning
(:869-1154) assumes in-memory row indexing; the Spark form is:

- sharding = ``pmod(hash_or_rowid, world) == rank`` filter — each worker
  builds its own plan and pulls only its shard (no driver coordination);
- chunking = exact-size re-batching of the ``toArrow()`` record batches on
  the driver (driver feed) or ``mapInPandas`` (distributed map) — Spark
  partitions are size-irregular, so batch boundaries are drawn in the
  iterator, not the partitioning (SURVEY.md §7 known-hard #7);
- shuffle = seeded ``orderBy(rand(seed))``: deterministic within-engine,
  documented divergence from numpy RandomState bit-order (known-hard #3);
- drop_last=True -> every yielded chunk has exactly num_rows rows (DDP
  training parity); False -> final short chunk included (inference parity).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shard(df: DataFrame, rank: int, world_size: int, id_col: str | None = None, reverse: bool = False) -> DataFrame:
    """Deterministic 1/world_size shard. With ``id_col``: pmod(id, n) == rank
    (stable across runs); else pmod over a stable row hash of all columns.
    ``reverse=True`` returns the COMPLEMENT (everything except the shard) —
    the reference's reverse_sharding, i.e. the K-fold train split when the
    shard itself is the validation fold (ScalableDataFrame.py:416-598)."""
    if not 0 <= rank < world_size:
        raise ValueError(f"rank {rank} outside [0, {world_size})")
    if id_col is not None:
        key = F.col(id_col).cast("bigint")
    else:
        key = F.xxhash64(*[F.col(c) for c in df.columns])
    cond = F.pmod(key, F.lit(world_size)) == rank
    return df.filter(~cond if reverse else cond)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    capacity: int,
    num_shards: int = 1,
    order_col: str | None = None,
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a deterministic
    order and chunk the token stream into fixed-``capacity`` training bins;
    report each document's (shard, bin, offset).

    Parallelized by hash-sharding: docs go to ``pmod(id, num_shards)``
    shards, and packing runs independently per shard as ONE window pass
    (cumulative token sum in ``order_col`` order; bin = start-position div
    capacity, offset = start mod capacity — a doc may straddle bins, as the
    concatenate-and-chunk recipe does). All integer arithmetic — exactly
    reproducible on any engine. At scale the shard count bounds window
    partition size; an unsharded call funnels the corpus through one task,
    so pick num_shards ≈ corpus_tokens / (executor-sized chunk)."""
    from pyspark.sql import Window

    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    if num_shards <= 0:
        raise ValueError(f"num_shards must be positive, got {num_shards}")
    order = order_col or id_col
    staged = df.select(
        F.col(id_col),
        F.pmod(F.col(id_col).cast("bigint"), F.lit(num_shards)).alias("shard"),
        F.col(token_count_col).cast("bigint").alias("__t__"),
        *([F.col(order)] if order != id_col else []),
    )
    w = Window.partitionBy("shard").orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    with_start = staged.withColumn("__start__", F.sum("__t__").over(w) - F.col("__t__"))
    return with_start.select(
        id_col,
        "shard",
        F.expr(f"__start__ div {int(capacity)}").alias("bin"),
        (F.col("__start__") % capacity).alias("offset"),
    )


def stream_frame(
    frame,
    num_rows: int | None = None,
    num_chunks: int | None = None,
    stream_as: str = "pandas",
    shuffle: bool = False,
    seed: int | None = None,
    shard_rank: int | None = None,
    world_size: int | None = None,
    drop_last: bool = False,
    map: Callable[[pd.DataFrame], pd.DataFrame] | None = None,  # noqa: A002
) -> Iterator:
    """Yield exact-size chunks from a SparkFrame/DataFrame.

    Exactly one of num_rows / num_chunks (alias semantics:
    DataFrameWriter.py:58-87). The driver collects the whole frame with
    ``toArrow()`` before it yields the first chunk, then re-batches its
    record batches to exact row counts: driver memory holds the full result
    (the reference's fetch_partitions=1 queue,
    DaskScalableDataFrame.py:246-477, holds one partition).
    """
    df: DataFrame = frame.df if hasattr(frame, "df") else frame
    if (num_rows is None) == (num_chunks is None):
        raise ValueError("pass exactly one of num_rows / num_chunks")
    if num_chunks is not None:
        import math

        total = df.count()
        num_rows = max(1, math.ceil(total / num_chunks))
    if shard_rank is not None:
        df = shard(df, shard_rank, world_size or 1)
    if shuffle:
        df = df.orderBy(F.rand(seed) if seed is not None else F.rand())

    buf: list[pd.DataFrame] = []
    buffered = 0
    out_cols = df.columns

    def _emit(pdf: pd.DataFrame):
        if stream_as == "pandas":
            return pdf
        if stream_as == "dict":
            return {c: pdf[c].to_numpy() for c in out_cols}
        if stream_as == "list_of_dict":
            return pdf.to_dict(orient="records")
        raise ValueError(f"bad stream_as {stream_as!r}")

    # Arrow-batched partition pull; re-chunk to exact num_rows
    for batch in df.toArrow().to_batches():  # type: ignore[attr-defined]
        pdf = batch.to_pandas()
        while len(pdf) > 0:
            need = num_rows - buffered
            take = pdf.iloc[:need]
            pdf = pdf.iloc[need:]
            buf.append(take)
            buffered += len(take)
            if buffered == num_rows:
                chunk = pd.concat(buf, ignore_index=True)
                buf, buffered = [], 0
                yield _emit(map(chunk) if map else chunk)
    if buffered and not drop_last:
        chunk = pd.concat(buf, ignore_index=True)
        yield _emit(map(chunk) if map else chunk)


def map_distributed(frame, fn: Callable[[pd.DataFrame], pd.DataFrame], schema):
    """Distributed chunk-map: the reference's stream(map=fn) where fn stays on
    the cluster (ScalableDataFrame.py:1182-1277 prefetch machinery) — in Spark
    this is mapInPandas, which pipelines Arrow batches on executors (batch
    size: spark.sql.execution.arrow.maxRecordsPerBatch)."""
    df: DataFrame = frame.df if hasattr(frame, "df") else frame

    def _gen(batches):
        for pdf in batches:
            yield fn(pdf)

    out = df.mapInPandas(_gen, schema)
    from bears_spark.frame import SparkFrame

    return SparkFrame(out)


def split_named(frame, num_chunks: int, prefix: str = "part") -> dict[str, DataFrame]:
    """split() -> named chunk dict (ScalableDataFrame.py:395-414): zero-padded
    part names over a round-robin repartition."""
    df: DataFrame = frame.df if hasattr(frame, "df") else frame
    parts = df.repartition(num_chunks).withColumn("__pid__", F.spark_partition_id())
    width = len(str(num_chunks - 1))
    return {f"{prefix}-{i:0{width}d}": parts.filter(F.col("__pid__") == i).drop("__pid__") for i in range(num_chunks)}
