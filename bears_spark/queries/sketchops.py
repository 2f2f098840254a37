"""Graded sketch/layout queries: HyperLogLog, count-min sketch, Bloom-pruned
join, and Z-order clustering keys — each verified against an independent
DuckDB re-implementation of the same published algorithm.

Cross-engine exactness: all sketch state is signed-int64 arithmetic over the
shared md5 hash family (functions/hashing.py); the only float op is HLL's
final literal/int64 division (single IEEE op, bit-identical). See
functions/sketch.py for the 100 TB rationale per operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bears_spark.functions.sketch import (
    HLL_HASH_BITS,
    bloom_build,
    bloom_prune,
    cms_build,
    cms_lookup,
    hll_alpha,
    hll_estimate,
    zorder_key,
    zorder_quantize,
)
from bears_spark.localframe import local_df
from bears_spark.queries.tables import load_table
from bears_spark.streaming.jobs import run_to_memory

# DuckDB text of md5_hash64(x, salt) — keep in lockstep with hashing.py.
def _duck_h64(expr: str, salt: str) -> str:
    return f"('0x' || substr(md5({salt} || ':' || CAST({expr} AS VARCHAR)), 1, 15))::BIGINT"


# --------------------------------------------------------------------------
# hll_distinct_orderkeys: deterministic HyperLogLog estimate of
# count(DISTINCT l_orderkey), alongside the exact answer.
_HLL_P = 10
_HLL_M = 1 << _HLL_P
_HLL_S = HLL_HASH_BITS + 1 - _HLL_P  # 51
_HLL_NUMER = hll_alpha(_HLL_M) * _HLL_M * _HLL_M * (1 << _HLL_S)


def hll_distinct_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # with_exact: the register aggregation also carries per-bucket distinct
    # counts, whose sum is the exact global distinct — sketch + ground truth
    # from one scan, no join in the plan
    return hll_estimate(li, "l_orderkey", p=_HLL_P, with_exact=True)


_HLL_WBITS = HLL_HASH_BITS - _HLL_P
HLL_DISTINCT_SQL = f"""
WITH h AS (
  SELECT l_orderkey, {_duck_h64("l_orderkey", "'0'")} AS hv FROM lineitem
), regs AS (
  SELECT hv % {_HLL_M} AS bucket,
         max(CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(hv // {_HLL_M})) END) AS rho,
         count(DISTINCT l_orderkey) AS nd
  FROM h GROUP BY 1
), agg AS (
  SELECT count(*) AS n_buckets_hit,
         CAST(sum((1::BIGINT) << ({_HLL_S} - rho)) AS BIGINT)
           + ({_HLL_M} - count(*)) * ((1::BIGINT) << {_HLL_S}) AS sum_scaled,
         CAST(sum(nd) AS BIGINT) AS exact_distinct
  FROM regs
)
SELECT n_buckets_hit, sum_scaled,
       {_HLL_NUMER!r} / sum_scaled AS hll_estimate,
       exact_distinct
FROM agg
"""


# --------------------------------------------------------------------------
# cms_user_counts: count-min sketch of per-user event frequencies, probed at
# the 10 most active users; estimate >= exact always (one-sided error).
_CMS_D = 4
_CMS_W = 512


def cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_cnt"))
    probes = exact.orderBy(F.desc("exact_cnt"), F.asc("user_id")).limit(10)
    sketch = cms_build(ev, "user_id", depth=_CMS_D, width=_CMS_W)
    est = cms_lookup(sketch, probes.select("user_id"), "user_id", depth=_CMS_D, width=_CMS_W)
    return probes.join(est, "user_id").select("user_id", "exact_cnt", "cms_cnt").orderBy("user_id")


CMS_USER_SQL = f"""
WITH exact AS (
  SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1
), probes AS (
  SELECT user_id, exact_cnt FROM exact ORDER BY exact_cnt DESC, user_id LIMIT 10
), cells AS (
  SELECT t.i AS row, {_duck_h64("user_id", "CAST(t.i AS VARCHAR)")} % {_CMS_W} AS bucket
  FROM events, range({_CMS_D}) t(i)
), sketch AS (
  SELECT row, bucket, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY 1, 2
), lookups AS (
  SELECT p.user_id,
         min(s.c) AS cms_cnt
  FROM probes p
  CROSS JOIN range({_CMS_D}) t(i)
  JOIN sketch s
    ON s.row = t.i
   AND s.bucket = {_duck_h64("p.user_id", "CAST(t.i AS VARCHAR)")} % {_CMS_W}
  GROUP BY 1
)
SELECT p.user_id, p.exact_cnt, l.cms_cnt
FROM probes p JOIN lookups l USING (user_id)
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# bloom_pruned_nation_volume: shipped volume per supplier of one nation,
# with the lineitem scan Bloom-pruned on l_suppkey BEFORE the join shuffle.
# The oracle is the PLAIN join — Bloom false negatives are impossible, so
# pruned-then-joined must equal joined exactly.
_BLOOM_M = 4096
_BLOOM_K = 3
_BLOOM_NATION = 3


def bloom_pruned_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == _BLOOM_NATION)
    li = load_table(spark, sf_dir, "lineitem")
    positions = bloom_build(sup, "s_suppkey", m_bits=_BLOOM_M, k=_BLOOM_K)
    pruned = bloom_prune(li, "l_suppkey", positions, m_bits=_BLOOM_M, k=_BLOOM_K)
    return (
        pruned.join(sup, pruned["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_suppkey")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(30,6)")).cast("double").alias("sum_qty"),
        )
        .orderBy("s_suppkey")
    )


BLOOM_NATION_SQL = f"""
SELECT s_suppkey, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE s_nationkey = {_BLOOM_NATION}
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# orders_zorder_keys: Morton (Z-order) clustering key over
# (o_custkey, days(o_orderdate)) at 8 bits per dimension — the layout key
# zorder_layout() range-partitions by for multi-dimensional data skipping.
_Z_BITS = 8


def orders_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).cast("bigint")
    base = o.select("o_orderkey", F.col("o_custkey").alias("ck"), day.alias("day"))
    mm = base.agg(F.min("ck"), F.max("ck"), F.min("day"), F.max("day")).first()
    q_cust = zorder_quantize(F.col("ck"), int(mm[0]), int(mm[1]), _Z_BITS)
    q_day = zorder_quantize(F.col("day"), int(mm[2]), int(mm[3]), _Z_BITS)
    quantized = base.select("o_orderkey", q_cust.alias("q_cust"), q_day.alias("q_day"))
    zval = zorder_key([F.col("q_cust"), F.col("q_day")], bits=_Z_BITS)
    return quantized.select("o_orderkey", "q_cust", "q_day", zval.alias("zval"))


_Z_TERMS = " + ".join(
    f"(((q_cust >> {j}) & 1) << {2 * j}) + (((q_day >> {j}) & 1) << {2 * j + 1})"
    for j in range(_Z_BITS)
)
ORDERS_ZORDER_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey AS ck,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
  FROM orders
), mm AS (
  SELECT min(ck) AS cmin, max(ck) AS cmax, min(day) AS dmin, max(day) AS dmax FROM base
), q AS (
  SELECT o_orderkey,
         CASE WHEN cmax = cmin THEN CAST(0 AS BIGINT)
              ELSE ((ck - cmin) * {(1 << _Z_BITS) - 1}) // (cmax - cmin) END AS q_cust,
         CASE WHEN dmax = dmin THEN CAST(0 AS BIGINT)
              ELSE ((day - dmin) * {(1 << _Z_BITS) - 1}) // (dmax - dmin) END AS q_day
  FROM base, mm
)
SELECT o_orderkey, q_cust, q_day, CAST({_Z_TERMS} AS BIGINT) AS zval FROM q
"""


# --------------------------------------------------------------------------
# ev_hll_users_by_type: GROUPED HyperLogLog — per event_type, estimated
# distinct (user, day) pairs with the exact count side-by-side. The grouped
# register table shuffles on (event_type, bucket) with partial max — the
# mergeable-sketch rollup shape (per-partition sketches union into per-group
# registers; state is groups x 2^p rows however big the input).
_GHLL_P = 8
_GHLL_M = 1 << _GHLL_P
_GHLL_S = HLL_HASH_BITS + 1 - _GHLL_P
_GHLL_WBITS = HLL_HASH_BITS - _GHLL_P
_GHLL_NUMER = hll_alpha(_GHLL_M) * _GHLL_M * _GHLL_M * (1 << _GHLL_S)


def ev_hll_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd"),
        ).alias("user_day"),
    )
    return hll_estimate(keyed, "user_day", p=_GHLL_P, with_exact=True, by=("event_type",)).orderBy(
        "event_type"
    )


EV_HLL_BY_TYPE_SQL = f"""
WITH keyed AS (
  SELECT event_type,
         CAST(user_id AS VARCHAR) || ':' || strftime(date_trunc('day', ts), '%Y-%m-%d') AS user_day
  FROM events
), h AS (
  SELECT event_type, user_day, {_duck_h64("user_day", "'0'")} AS hv FROM keyed
), regs AS (
  SELECT event_type, hv % {_GHLL_M} AS bucket,
         max(CASE WHEN hv // {_GHLL_M} = 0 THEN {_GHLL_WBITS + 1}
                  ELSE {_GHLL_WBITS + 1} - length(bin(hv // {_GHLL_M})) END) AS rho,
         count(DISTINCT user_day) AS nd
  FROM h GROUP BY 1, 2
)
SELECT event_type,
       count(*) AS n_buckets_hit,
       CAST(sum((1::BIGINT) << ({_GHLL_S} - rho)) AS BIGINT)
         + ({_GHLL_M} - count(*)) * ((1::BIGINT) << {_GHLL_S}) AS sum_scaled,
       {_GHLL_NUMER!r} / (CAST(sum((1::BIGINT) << ({_GHLL_S} - rho)) AS BIGINT)
         + ({_GHLL_M} - count(*)) * ((1::BIGINT) << {_GHLL_S})) AS hll_estimate,
       CAST(sum(nd) AS BIGINT) AS exact_distinct
FROM regs GROUP BY 1 ORDER BY event_type
"""


# --------------------------------------------------------------------------
# ev_value_hist_quantiles: p50/p90/p99 of events.value from a 100-bin
# equi-width histogram — bounded-state quantiles whose full arithmetic
# (binning + interpolation) an independent engine replays step by step.
_HQ_BINS = 100
_HQ_QS = [0.5, 0.9, 0.99]


def ev_value_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.sketch import equiwidth_histogram, histogram_quantiles

    ev = load_table(spark, sf_dir, "events")
    mm = ev.filter(F.col("value").isNotNull()).agg(F.min("value"), F.max("value")).first()
    vmin, vmax = float(mm[0]), float(mm[1])
    hist = equiwidth_histogram(ev, "value", _HQ_BINS, vmin, vmax)
    rows = [(int(r["bin"]), int(r["cnt"])) for r in hist.collect()]  # <= bins rows (fit state)
    qv = histogram_quantiles(rows, _HQ_QS, _HQ_BINS, vmin, vmax)
    out = local_df(spark, qv, "q double, value double")
    return out.select("q", F.round("value", 6).alias("value")).orderBy("q")


EV_HIST_QUANTILES_SQL = f"""
WITH vals AS (
  SELECT value FROM events WHERE value IS NOT NULL
), mm AS (
  SELECT min(value) AS vmin, max(value) AS vmax, count(*) AS n FROM vals
), h AS (
  SELECT CAST(least(greatest(floor((value - vmin) / (vmax - vmin) * {_HQ_BINS}), 0), {_HQ_BINS - 1}) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM vals, mm GROUP BY 1
), c AS (
  SELECT bin, CAST(cnt AS BIGINT) AS cnt,
         CAST(coalesce(sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb,
         CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
  FROM h
), qs AS (
  SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q
), pick AS (
  SELECT qs.q, min(c.bin) AS bin
  FROM qs, c, mm WHERE c.cum >= qs.q * mm.n GROUP BY 1
)
SELECT p.q,
       round(mm.vmin + (p.bin + (p.q * mm.n - c.cumb) / c.cnt) * ((mm.vmax - mm.vmin) / {_HQ_BINS}), 6) AS value
FROM pick p JOIN c ON c.bin = p.bin, mm
ORDER BY q
"""


# --------------------------------------------------------------------------
# kmv_partkey_overlap: theta-sketch set algebra — estimate the union /
# intersection / Jaccard of the distinct part sets shipped in 1995 vs 1996
# from two fixed-size KMV sketches, next to the exact answers from a
# distinct-count scan. The oracle re-implements the identical KMV algorithm
# in DuckDB over the same md5 hash family.
_KMV_K = 128
_KMV_RANGE_LIT = "1152921504606846976"  # 2^60, exact as a double (power of two)


def kmv_partkey_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.sketch import kmv_set_algebra, kmv_sketch

    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.year("l_shipdate") == 1995)
    b = li.filter(F.year("l_shipdate") == 1996)
    sk = kmv_set_algebra(
        kmv_sketch(a, "l_partkey", k=_KMV_K), kmv_sketch(b, "l_partkey", k=_KMV_K), k=_KMV_K
    )
    exact = (
        a.select("l_partkey").unionByName(b.select("l_partkey")).agg(
            F.countDistinct("l_partkey").alias("exact_union")
        )
        .crossJoin(
            a.select("l_partkey").join(b.select("l_partkey").distinct(), "l_partkey", "left_semi")
            .agg(F.countDistinct("l_partkey").alias("exact_intersect"))
        )
    )
    return sk.crossJoin(F.broadcast(exact)).select(
        "n_union",
        "n_intersect",
        "theta",
        F.round("union_est", 4).alias("union_est"),
        F.round("intersect_est", 4).alias("intersect_est"),
        F.round("jaccard_est", 6).alias("jaccard_est"),
        "exact_union",
        "exact_intersect",
    )


def _kmv_duck_sketch(year: int) -> str:
    h = _duck_h64("l_partkey", "'0'")
    return f"""(
  SELECT DISTINCT {h} AS hv FROM lineitem WHERE year(l_shipdate) = {year}
  ORDER BY hv LIMIT {_KMV_K}
)"""


KMV_PARTKEY_SQL = f"""
WITH ka AS {_kmv_duck_sketch(1995)},
kb AS {_kmv_duck_sketch(1996)},
theta AS (
  SELECT least(
    (SELECT CASE WHEN count(*) < {_KMV_K} THEN {_KMV_RANGE_LIT} ELSE max(hv) END FROM ka),
    (SELECT CASE WHEN count(*) < {_KMV_K} THEN {_KMV_RANGE_LIT} ELSE max(hv) END FROM kb)
  ) AS theta
),
merged AS (SELECT hv FROM ka UNION SELECT hv FROM kb),
inter AS (SELECT hv FROM ka INTERSECT SELECT hv FROM kb),
cu AS (SELECT count(*) AS n_union FROM merged, theta WHERE hv < theta),
ci AS (SELECT count(*) AS n_intersect FROM inter, theta WHERE hv < theta),
ex AS (
  SELECT count(DISTINCT l_partkey) AS exact_union
  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
),
ei AS (
  SELECT count(DISTINCT a.l_partkey) AS exact_intersect
  FROM lineitem a WHERE year(a.l_shipdate) = 1995
    AND EXISTS (SELECT 1 FROM lineitem b
                WHERE b.l_partkey = a.l_partkey AND year(b.l_shipdate) = 1996)
)
SELECT cu.n_union, ci.n_intersect, theta.theta,
       round(cu.n_union * {_KMV_RANGE_LIT}.0 / theta.theta, 4) AS union_est,
       round(ci.n_intersect * {_KMV_RANGE_LIT}.0 / theta.theta, 4) AS intersect_est,
       round(CAST(ci.n_intersect AS DOUBLE) / cu.n_union, 6) AS jaccard_est,
       ex.exact_union, ei.exact_intersect
FROM cu, ci, theta, ex, ei
"""


# --------------------------------------------------------------------------
# doc_heavy_hitter_words: exact global top-10 words by the two-pass
# bounded-memory path (Misra-Gries candidate sweep -> broadcast-semi-join
# exact recount) graded against the plain exact top-10.
def doc_heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.sketch import heavy_hitters_exact_topk

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("word")).where(F.col("word") != "")
    return heavy_hitters_exact_topk(words, "word", k=10, capacity=64)


DOC_HEAVY_HITTERS_SQL = """
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT word, count(*) AS cnt FROM w WHERE word <> ''
GROUP BY 1 ORDER BY cnt DESC, word LIMIT 10
"""


QUERIES = {
    "hll_distinct_orderkeys": hll_distinct_orderkeys,
    "ev_hll_users_by_type": ev_hll_users_by_type,
    "ev_value_hist_quantiles": ev_value_hist_quantiles,
    "cms_user_counts": cms_user_counts,
    "bloom_pruned_nation_volume": bloom_pruned_nation_volume,
    "orders_zorder_keys": orders_zorder_keys,
    "kmv_partkey_overlap": kmv_partkey_overlap,
    "doc_heavy_hitter_words": doc_heavy_hitter_words,
}

ORACLES = {
    "hll_distinct_orderkeys": HLL_DISTINCT_SQL,
    "ev_hll_users_by_type": EV_HLL_BY_TYPE_SQL,
    "ev_value_hist_quantiles": EV_HIST_QUANTILES_SQL,
    "cms_user_counts": CMS_USER_SQL,
    "bloom_pruned_nation_volume": BLOOM_NATION_SQL,
    "orders_zorder_keys": ORDERS_ZORDER_SQL,
    "kmv_partkey_overlap": KMV_PARTKEY_SQL,
    "doc_heavy_hitter_words": DOC_HEAVY_HITTERS_SQL,
}


# --------------------------------------------------------------------------
# hll_merge_proof: sketch mergeability as a graded fact — per-year HLL
# register tables for l_orderkey merged by per-bucket MAX must yield
# EXACTLY the direct whole-table sketch (registers and estimate), because
# max is associative/commutative. This is the 1000-executor rollup
# contract: partial sketches union at register cost, never rescanning.
def hll_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.sketch import HLL_HASH_BITS, hll_alpha, hll_registers

    li = load_table(spark, sf_dir, "lineitem")
    p = _HLL_P
    m = 1 << p
    s = HLL_HASH_BITS + 1 - p
    numer = hll_alpha(m) * m * m * (1 << s)

    def _estimate(regs, label):
        return regs.groupBy().agg(
            F.lit(label).alias("variant"),
            (
                F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {s} - rho)"))
                + (F.lit(m) - F.count("*")) * F.lit(1 << s).cast("bigint")
            ).alias("sum_scaled"),
        ).select("variant", "sum_scaled", (F.lit(numer) / F.col("sum_scaled")).alias("estimate"))

    direct = hll_registers(li, "l_orderkey", p)
    by_year = hll_registers(li.withColumn("yr", F.year("l_shipdate")), "l_orderkey", p, by=("yr",))
    merged = by_year.groupBy("bucket").agg(F.max("rho").alias("rho"))
    return _estimate(direct, "direct").unionByName(_estimate(merged, "merged"))


_HMP_S = 51  # HLL_HASH_BITS + 1 - p for p=10
HLL_MERGE_SQL = f"""
WITH h AS (
  SELECT l_orderkey, year(l_shipdate) AS yr, {_duck_h64("l_orderkey", "'0'")} AS hv FROM lineitem
), regs AS (
  SELECT hv % {_HLL_M} AS bucket,
         max(CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(hv // {_HLL_M})) END) AS rho
  FROM h GROUP BY 1
), regs_yr AS (
  SELECT yr, hv % {_HLL_M} AS bucket,
         max(CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(hv // {_HLL_M})) END) AS rho
  FROM h GROUP BY 1, 2
), merged AS (
  SELECT bucket, max(rho) AS rho FROM regs_yr GROUP BY 1
), est AS (
  SELECT 'direct' AS variant,
         CAST(sum(CAST(2 AS BIGINT) ** ({_HMP_S} - rho)) + ({_HLL_M} - count(*)) * (CAST(2 AS BIGINT) ** {_HMP_S}) AS BIGINT) AS sum_scaled
  FROM regs
  UNION ALL
  SELECT 'merged',
         CAST(sum(CAST(2 AS BIGINT) ** ({_HMP_S} - rho)) + ({_HLL_M} - count(*)) * (CAST(2 AS BIGINT) ** {_HMP_S}) AS BIGINT)
  FROM merged
)
SELECT variant, sum_scaled, {_HLL_NUMER!r}::DOUBLE / sum_scaled AS estimate FROM est
"""

QUERIES["hll_merge_proof"] = hll_merge_proof
ORACLES["hll_merge_proof"] = HLL_MERGE_SQL


# --------------------------------------------------------------------------
# hist_merge_proof: mergeability proof for the equi-width histogram state —
# per-event-type partial histograms (same global bin layout) summed
# bin-by-bin must equal the direct global histogram exactly. This is the
# property that makes the histogram a valid distributed/streaming sketch
# (partials combine associatively across executors or micro-batches).
def hist_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    mm = ev.agg(F.min("value"), F.max("value")).first()
    vmin, vmax = float(mm[0]), float(mm[1])
    b = _HQ_BINS
    bin_expr = F.least(
        F.greatest(F.floor((F.col("value") - F.lit(vmin)) / F.lit(vmax - vmin) * b), F.lit(0)),
        F.lit(b - 1),
    ).cast("bigint")
    direct = ev.groupBy(bin_expr.alias("bin")).agg(F.count("*").alias("cnt_direct"))
    merged = (
        ev.groupBy("event_type", bin_expr.alias("bin"))
        .agg(F.count("*").alias("cnt"))
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt_merged"))
    )
    return (
        direct.join(merged, "bin")
        .select("bin", "cnt_direct", "cnt_merged", (F.col("cnt_direct") == F.col("cnt_merged")).alias("merge_exact"))
        .orderBy("bin")
    )


HIST_MERGE_SQL = f"""
WITH vals AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
), mm AS (
  SELECT min(value) AS vmin, max(value) AS vmax FROM vals
), binned AS (
  SELECT event_type,
         CAST(least(greatest(floor((value - vmin) / (vmax - vmin) * {_HQ_BINS}), 0), {_HQ_BINS - 1}) AS BIGINT) AS bin
  FROM vals, mm
), direct AS (
  SELECT bin, count(*) AS cnt_direct FROM binned GROUP BY 1
), partials AS (
  SELECT event_type, bin, count(*) AS cnt FROM binned GROUP BY 1, 2
), merged AS (
  SELECT bin, CAST(sum(cnt) AS BIGINT) AS cnt_merged FROM partials GROUP BY 1
)
SELECT bin, cnt_direct, cnt_merged, cnt_direct = cnt_merged AS merge_exact
FROM direct JOIN merged USING (bin) ORDER BY bin
"""

QUERIES["hist_merge_proof"] = hist_merge_proof
ORACLES["hist_merge_proof"] = HIST_MERGE_SQL


# --------------------------------------------------------------------------
# ev_rolling_dau_hll: the 7-day rolling DAU (events.ev_rolling_dau) as a
# mergeable HLL rollup — one register table per day (2^p rows), each day's
# registers exploded map-side into the window-end days they cover, per-window
# merge by bucket MAX (associative, order-free). At 100 TB the exact path
# shuffles |user-days| x 7 rows; this path shuffles 2^p x days x 7 rows
# REGARDLESS of user count — the pre-aggregated-sketch rollup shape a
# 1000-executor fleet runs for any sliding-window distinct.
def ev_rolling_dau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.sketch import hll_registers

    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(ev.withColumn("d", F.to_date("ts")), "user_id", _HLL_P, by=("d",))
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


EV_ROLLING_DAU_HLL_SQL = f"""
WITH h AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         {_duck_h64("user_id", "'0'")} AS hv
  FROM events
), regs AS (
  SELECT d, hv % {_HLL_M} AS bucket,
         max(CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(hv // {_HLL_M})) END) AS rho
  FROM h GROUP BY 1, 2
), days AS (SELECT DISTINCT d FROM regs),
merged AS (
  SELECT days.d AS wd, r.bucket, max(r.rho) AS rho
  FROM days JOIN regs r ON r.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
  GROUP BY 1, 2
), est AS (
  SELECT wd,
         CAST(sum((1::BIGINT) << ({_HLL_S} - rho)) AS BIGINT)
           + ({_HLL_M} - count(*)) * ((1::BIGINT) << {_HLL_S}) AS sum_scaled
  FROM merged GROUP BY 1
)
SELECT strftime(wd, '%Y-%m-%d') AS day, sum_scaled,
       {_HLL_NUMER!r} / sum_scaled AS hll_dau7
FROM est ORDER BY day
"""

QUERIES["ev_rolling_dau_hll"] = ev_rolling_dau_hll
ORACLES["ev_rolling_dau_hll"] = EV_ROLLING_DAU_HLL_SQL


# --------------------------------------------------------------------------
# moments_merge_proof: mergeability proof for the moments sketch (n, sum x,
# sum x^2, sum x^3, sum x^4) — per-event-type partials summed component-wise
# must reproduce the direct global mean/variance/skewness/kurtosis exactly
# in integer-free closed forms. This is the identity that makes one-pass
# distributed stddev/skew/kurt valid (partials combine associatively across
# executors or micro-batches). Sums are computed over value rounded to 3 dp
# and scaled to integers so the proof is exact integer arithmetic - no
# float-order caveats in the graded fact.
def moments_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = F.round(F.col("value"), 3) * 1000  # exact integer-valued doubles
    # powers up to x^4 overflow int64 (xi ~ 6e5 -> xi^4 ~ 1.3e23), so the
    # sketch state lives in DECIMAL(38,0) — exact integer arithmetic with
    # 38 digits of headroom; DuckDB mirrors with HUGEINT (int128)
    v = ev.select("event_type", x.cast("decimal(38,0)").alias("xi"))
    d38 = "decimal(38,0)"
    xi2 = (F.col("xi") * F.col("xi")).cast(d38)
    powers = [
        F.count("*").alias("n"),
        F.sum("xi").cast(d38).alias("s1"),
        F.sum(xi2).cast(d38).alias("s2"),
        F.sum((xi2 * F.col("xi")).cast(d38)).cast(d38).alias("s3"),
        F.sum((xi2 * xi2).cast(d38)).cast(d38).alias("s4"),
    ]
    direct = v.agg(*powers).select(F.lit("direct").alias("variant"), "n", "s1", "s2", "s3", "s4")
    merged = (
        v.groupBy("event_type")
        .agg(*powers)
        .groupBy()
        .agg(
            F.sum("n").alias("n"),
            F.sum("s1").cast("decimal(38,0)").alias("s1"),
            F.sum("s2").cast("decimal(38,0)").alias("s2"),
            F.sum("s3").cast("decimal(38,0)").alias("s3"),
            F.sum("s4").cast("decimal(38,0)").alias("s4"),
        )
        .select(F.lit("merged").alias("variant"), "n", "s1", "s2", "s3", "s4")
    )
    out = direct.unionByName(merged)
    mean = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n") - mean * mean
    # s1/s2 fit int64; s3/s4 exceed it, so they travel as canonical decimal
    # STRINGS — the comparator stringifies values, and pandas would round a
    # HUGEINT/decimal through float64 otherwise
    return out.select(
        "variant",
        "n",
        F.col("s1").cast("long").alias("s1"),
        F.col("s2").cast("long").alias("s2"),
        F.col("s3").cast("string").alias("s3"),
        F.col("s4").cast("string").alias("s4"),
        F.round(mean / 1000.0, 6).alias("mean"),
        F.round(F.sqrt(m2) / 1000.0, 6).alias("std_pop"),
    ).orderBy("variant")


MOMENTS_MERGE_SQL = """
WITH v AS (
  SELECT event_type, CAST(CAST(round(value, 3) * 1000 AS BIGINT) AS HUGEINT) AS xi
  FROM events WHERE value IS NOT NULL
), direct AS (
  SELECT 'direct' AS variant, CAST(count(*) AS BIGINT) AS n,
         sum(xi) AS s1,
         sum(xi * xi) AS s2,
         sum(xi * xi * xi) AS s3,
         sum(xi * xi * xi * xi) AS s4
  FROM v
), partials AS (
  SELECT event_type, count(*) AS n, sum(xi) AS s1, sum(xi * xi) AS s2,
         sum(xi * xi * xi) AS s3, sum(xi * xi * xi * xi) AS s4
  FROM v GROUP BY 1
), merged AS (
  SELECT 'merged' AS variant, CAST(sum(n) AS BIGINT) AS n,
         sum(s1) AS s1, sum(s2) AS s2, sum(s3) AS s3, sum(s4) AS s4
  FROM partials
), u AS (
  SELECT * FROM direct UNION ALL SELECT * FROM merged
)
SELECT variant, n,
       CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
       CAST(s3 AS VARCHAR) AS s3, CAST(s4 AS VARCHAR) AS s4,
       round(s1 * 1.0 / n / 1000.0, 6) AS mean,
       round(sqrt(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n)) / 1000.0, 6) AS std_pop
FROM u ORDER BY variant
"""

QUERIES["moments_merge_proof"] = moments_merge_proof
ORACLES["moments_merge_proof"] = MOMENTS_MERGE_SQL


# --------------------------------------------------------------------------
# hll_error_report: sketch-accuracy audit — per event_type, the
# deterministic HLL distinct-user estimate next to the exact count and the
# signed relative error. The registers carry per-bucket exact distincts
# (with_exact), so sketch and truth come from ONE scan; expected std error
# for p=10 is ~3.25%, and raw-HLL small-range bias is visible by design
# (documented, not hidden).
def hll_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.sketch import hll_registers

    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(ev, "user_id", _HLL_P, with_exact=True, by=("event_type",))
    est = regs.groupBy("event_type").agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_S} - rho)"))
            + (F.lit(_HLL_M) - F.count("*")) * F.lit(1 << _HLL_S).cast("bigint")
        ).alias("sum_scaled"),
        F.sum("nd").alias("exact_users"),
    )
    return est.select(
        "event_type",
        "exact_users",
        F.round(F.lit(_HLL_NUMER) / F.col("sum_scaled"), 6).alias("hll_estimate"),
        F.round(
            (F.lit(_HLL_NUMER) / F.col("sum_scaled") - F.col("exact_users"))
            / F.col("exact_users"),
            6,
        ).alias("rel_err"),
    ).orderBy("event_type")


HLL_ERROR_SQL = f"""
WITH h AS (
  SELECT event_type, user_id, {_duck_h64("user_id", "'0'")} AS hv FROM events
), regs AS (
  SELECT event_type, hv % {_HLL_M} AS bucket,
         max(CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(hv // {_HLL_M})) END) AS rho,
         count(DISTINCT user_id) AS nd
  FROM h GROUP BY 1, 2
), est AS (
  SELECT event_type,
         CAST(sum((1::BIGINT) << ({_HLL_S} - rho)) AS BIGINT)
           + ({_HLL_M} - count(*)) * ((1::BIGINT) << {_HLL_S}) AS sum_scaled,
         CAST(sum(nd) AS BIGINT) AS exact_users
  FROM regs GROUP BY 1
)
SELECT event_type, exact_users,
       round({_HLL_NUMER!r} / sum_scaled, 6) AS hll_estimate,
       round(({_HLL_NUMER!r} / sum_scaled - exact_users) / exact_users, 6) AS rel_err
FROM est ORDER BY event_type
"""

QUERIES["hll_error_report"] = hll_error_report
ORACLES["hll_error_report"] = HLL_ERROR_SQL


# --------------------------------------------------------------------------
# ev_stickiness_hll: the DAU/MAU stickiness ratio computed ENTIRELY from
# mergeable HLL registers — per-day registers serve both the daily estimate
# and (max-merged over the trailing 30 days) the monthly estimate, so one
# register table powers every window. The sketch-over-sketch ratio is the
# 100 TB shape: 2^p rows per day of state, no user-grain shuffle at all.
def ev_stickiness_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.sketch import hll_registers

    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(ev.withColumn("d", F.to_date("ts")), "user_id", _HLL_P, by=("d",))
    days = regs.select("d").distinct()

    def _est(grouped):
        return (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_S} - rho)"))
            + (F.lit(_HLL_M) - F.count("*")) * F.lit(1 << _HLL_S).cast("bigint")
        ).alias("ss")

    dau = regs.groupBy("d").agg(_est(None)).select(
        "d", (F.lit(_HLL_NUMER) / F.col("ss")).alias("dau_est")
    )
    cov = regs.select(F.explode(F.expr("sequence(d, date_add(d, 29))")).alias("wd"), "bucket", "rho")
    mau = (
        cov.join(days.withColumnRenamed("d", "wd"), "wd")
        .groupBy("wd", "bucket")
        .agg(F.max("rho").alias("rho"))
        .groupBy("wd")
        .agg(_est(None))
        .select(F.col("wd").alias("d"), (F.lit(_HLL_NUMER) / F.col("ss")).alias("mau_est"))
    )
    return (
        dau.join(mau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round("dau_est", 6).alias("dau_est"),
            F.round("mau_est", 6).alias("mau_est"),
            F.round(F.col("dau_est") / F.col("mau_est"), 6).alias("stickiness_est"),
        )
        .orderBy("day")
    )


EV_STICKINESS_HLL_SQL = f"""
WITH h AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         {_duck_h64("user_id", "'0'")} AS hv
  FROM events
), regs AS (
  SELECT d, hv % {_HLL_M} AS bucket,
         max(CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(hv // {_HLL_M})) END) AS rho
  FROM h GROUP BY 1, 2
), days AS (SELECT DISTINCT d FROM regs),
dau AS (
  SELECT d,
         {_HLL_NUMER!r} / (CAST(sum((1::BIGINT) << ({_HLL_S} - rho)) AS BIGINT)
           + ({_HLL_M} - count(*)) * ((1::BIGINT) << {_HLL_S})) AS dau_est
  FROM regs GROUP BY 1
), merged AS (
  SELECT days.d AS wd, r.bucket, max(r.rho) AS rho
  FROM days JOIN regs r ON r.d BETWEEN days.d - INTERVAL 29 DAY AND days.d
  GROUP BY 1, 2
), mau AS (
  SELECT wd AS d,
         {_HLL_NUMER!r} / (CAST(sum((1::BIGINT) << ({_HLL_S} - rho)) AS BIGINT)
           + ({_HLL_M} - count(*)) * ((1::BIGINT) << {_HLL_S})) AS mau_est
  FROM merged GROUP BY 1
)
SELECT strftime(dau.d, '%Y-%m-%d') AS day,
       round(dau.dau_est, 6) AS dau_est,
       round(mau.mau_est, 6) AS mau_est,
       round(dau.dau_est / mau.mau_est, 6) AS stickiness_est
FROM dau JOIN mau ON dau.d = mau.d
ORDER BY day
"""

QUERIES["ev_stickiness_hll"] = ev_stickiness_hll
ORACLES["ev_stickiness_hll"] = EV_STICKINESS_HLL_SQL


# --------------------------------------------------------------------------
# streaming_cms_user_counts: the count-min sketch AS streaming state — the
# stream maintains the d x w cell counts (bounded state: 4*512 cells,
# merged additively across micro-batches), the readout probes the 10 most
# active users exactly as the batch query does. Cell counting is
# order-insensitive, so stream == batch and the job grades against the
# batch cms_user_counts oracle. Completes the streamed-sketch trio
# (HLL registers, moment partials, CMS cells).
def streaming_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64
    from bears_spark.queries.events import _events_stream

    ev_s = _events_stream(spark, sf_dir)
    rows = None
    for i in range(_CMS_D):
        ri = ev_s.select(
            F.lit(i).alias("row"),
            (md5_hash64("user_id", salt=str(i)) % _CMS_W).alias("bucket"),
        )
        rows = ri if rows is None else rows.unionByName(ri)
    cells = rows.groupBy("row", "bucket").agg(F.count("*").alias("cnt"))
    sketch = run_to_memory(cells, "streaming_cms_sink", "complete")

    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_cnt"))
    probes = exact.orderBy(F.desc("exact_cnt"), F.asc("user_id")).limit(10)
    from bears_spark.functions.sketch import cms_lookup

    est = cms_lookup(sketch, probes.select("user_id"), "user_id", depth=_CMS_D, width=_CMS_W)
    return probes.join(est, "user_id").select("user_id", "exact_cnt", "cms_cnt").orderBy("user_id")

QUERIES["streaming_cms_user_counts"] = streaming_cms_user_counts
ORACLES["streaming_cms_user_counts"] = CMS_USER_SQL
