"""Skew mitigation: salting for hot keys in aggregations and joins.

AQE's skew-join handles moderate skew at runtime (enabled in session.py);
salting is the explicit tool for pathological key distributions — the
Zipf-shaped keys of web-corpus dedup and clickstream aggregation.

- salted aggregation: two-phase — aggregate on (key, salt) then re-aggregate
  on key. Works for any algebraic aggregate (sum/count/min/max; avg via
  sum+count).
- salted broadcast-skew join: replicate the small side per salt so the hot
  key's rows spread over N partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, num_salts: int, salt_col: str = "__salt__") -> DataFrame:
    """Uniform random salt in [0, num_salts) — deterministic per run is not
    required for aggregation correctness (the second phase removes it)."""
    return df.withColumn(salt_col, (F.rand() * num_salts).cast("int"))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    num_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation: phase 1 on (keys + salt) spreads a hot
    key over ``num_salts`` reducers; phase 2 combines per-salt partials.

    ``aggs``: {column: fn} with fn in sum/count/min/max/avg. Output columns
    are ``{col}_{fn}`` (avg decomposes into sum+count internally)."""
    salted = with_salt(df, num_salts)
    phase1_exprs: list[Column] = []
    phase2_exprs: list[Column] = []
    for col, fn in aggs.items():
        out = f"{col}_{fn}"
        if fn == "sum":
            phase1_exprs.append(F.sum(col).alias(out))
            phase2_exprs.append(F.sum(out).alias(out))
        elif fn == "count":
            phase1_exprs.append(F.count(col).alias(out))
            phase2_exprs.append(F.sum(out).alias(out))
        elif fn == "min":
            phase1_exprs.append(F.min(col).alias(out))
            phase2_exprs.append(F.min(out).alias(out))
        elif fn == "max":
            phase1_exprs.append(F.max(col).alias(out))
            phase2_exprs.append(F.max(out).alias(out))
        elif fn == "avg":
            phase1_exprs.append(F.sum(col).alias(f"__{col}_s"))
            phase1_exprs.append(F.count(col).alias(f"__{col}_c"))
            phase2_exprs.append((F.sum(f"__{col}_s") / F.sum(f"__{col}_c")).alias(out))
        else:
            raise ValueError(f"unsupported agg {fn!r} for salting")
    partial = salted.groupBy(*keys, "__salt__").agg(*phase1_exprs)
    return partial.groupBy(*keys).agg(*phase2_exprs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    num_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew join: salt the big side, replicate the small side once per salt
    value (explode over sequence), join on (key, salt). Small side grows
    ``num_salts``×, so keep it broadcast-sized.

    ``how`` is restricted to joins where unmatched SMALL-side rows don't
    surface: under right/full-outer, a small-side key absent from the big
    side would survive as ``num_salts`` duplicate null-extended rows. Flip
    the sides (salt the other input) to get those semantics."""
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join supports how in inner/left/left_semi/left_anti, got {how!r}: "
            "right/outer would emit num_salts duplicates of unmatched small-side keys"
        )
    big_s = with_salt(big, num_salts)
    small_r = small.withColumn(
        "__salt__", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    return big_s.join(F.broadcast(small_r), on=[on, "__salt__"], how=how).drop("__salt__")


def widen_input(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Input-skew guard (guide §2.5): when a scan cannot parallelize on its
    own — one unsplittable file / a single parquet row group gives the whole
    downstream chain ONE task — round-robin repartition right after the read
    so expensive per-row work (tokenize, explode, HOF lambdas) spreads over
    the cluster.

    Call it ONLY in front of per-row work that dwarfs the scan itself; for a
    plain scan→filter→aggregate the decode is the cost and the shuffle buys
    nothing. The check is plan-time (``getNumPartitions`` compiles the plan,
    ~50 ms, no job): if the source already has ``min_parts`` partitions this
    is a NO-OP — at production scale inputs carry thousands of splits and
    the shuffle never happens, so the guard is scale-adaptive rather than
    tuned to local[32]. Row-level semantics are unchanged (round-robin
    repartition reorders rows only; every caller aggregates or joins
    downstream).

    The default target is min(defaultParallelism, 8), NOT the full core
    count: every downstream stage consuming the widened frame pays one task
    of fixed overhead per partition, so past ~8 the added task overhead
    eats the build parallelism (widen-to-32 measured ~2x worse than
    widen-to-8 on the ngram_contamination shape). Measured wins are heavy
    projections: doc_decontaminate 1.05 -> 0.69 s, dedup_semantic_clusters
    1.86 -> 1.48 s.

    A widened frame that several concurrent jobs read must be persisted
    EAGERLY (``scoped_persist(eager=True)``, as dedup_ngram_jaccard's gram
    build is): it is then built once before any consumer runs. Behind a
    LAZY persist each racing job rebuilds the blocks it cannot lock, and
    the wider build makes every rebuild dearer."""
    sc = df.sparkSession.sparkContext
    target = min_parts or min(sc.defaultParallelism, 8)
    if target <= 1:
        return df
    have = df.rdd.getNumPartitions()
    if have >= target:
        return df
    return df.repartition(target)
