"""Relational operator coverage beyond the TPC-H five: semi/anti joins,
rollup/cube grouping sets, set ops, statistical aggregates, dedup, top-k per
group — the SURVEY.md §2.3/2.4/2.6/2.7 inventory exercised as graded queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bears_spark.caching import scoped_dir
from bears_spark.localframe import local_df
from bears_spark.queries.tables import load_table
from bears_spark.streaming.jobs import finish


# --------------------------------------------------------------------------
# customers_without_orders: left-anti join (absent in the reference — merge
# supports inner/left/right/outer only, ScalableDataFrame.py:1820-1836).
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


CUST_NO_ORDERS_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


# --------------------------------------------------------------------------
# big_spender_customers: left-semi join with a pushed-down filter.
def big_spender_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


BIG_SPENDER_SQL = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
ORDER BY c_custkey
"""


# --------------------------------------------------------------------------
# orders_rollup: ROLLUP grouping sets over status × priority (absent in the
# reference — pivot_table raises, ScalableDataFrame.py:1421).
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total"))
        .orderBy(F.asc_nulls_first("o_orderstatus"), F.asc_nulls_first("o_orderpriority"))
    )


ORDERS_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice), 4) AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


# --------------------------------------------------------------------------
# orders_cube: CUBE over the same dimensions.
def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
        .orderBy(F.asc_nulls_first("o_orderstatus"), F.asc_nulls_first("o_orderpriority"))
    )


ORDERS_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


# --------------------------------------------------------------------------
# segment_stats: statistical aggregate battery per market segment
# (ScalableSeries sum/mean/std/var/corr surface, ScalableSeries.py:896-961).
def segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("c_acctbal"), 4).alias("mean_bal"),
            F.round(F.stddev_samp("c_acctbal"), 4).alias("std_bal"),
            F.round(F.var_samp("c_acctbal"), 2).alias("var_bal"),
            F.round(F.min("c_acctbal"), 6).alias("min_bal"),
            F.round(F.max("c_acctbal"), 6).alias("max_bal"),
            F.round(F.median("c_acctbal"), 6).alias("median_bal"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
        .orderBy("c_mktsegment")
    )


SEGMENT_STATS_SQL = """
SELECT c_mktsegment,
       count(*) AS n,
       round(avg(c_acctbal), 4) AS mean_bal,
       round(stddev_samp(c_acctbal), 4) AS std_bal,
       round(var_samp(c_acctbal), 2) AS var_bal,
       round(min(c_acctbal), 6) AS min_bal,
       round(max(c_acctbal), 6) AS max_bal,
       round(median(c_acctbal), 6) AS median_bal,
       round(sum(c_acctbal), 2) AS sum_bal,
       count(DISTINCT c_nationkey) AS n_nations
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --------------------------------------------------------------------------
# part_corr: corr/covar between part size and retail price per brand.
def part_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(
            F.round(F.corr("p_size", "p_retailprice"), 6).alias("corr_size_price"),
            F.round(F.covar_samp("p_size", "p_retailprice"), 6).alias("covar_size_price"),
            F.round(F.percentile("p_retailprice", F.lit(0.9)), 6).alias("p90_price"),
        )
        .orderBy("p_brand")
    )


PART_CORR_SQL = """
SELECT p_brand,
       round(corr(p_size, p_retailprice), 6) AS corr_size_price,
       round(covar_samp(p_size, p_retailprice), 6) AS covar_size_price,
       round(quantile_cont(p_retailprice, 0.9), 6) AS p90_price
FROM part GROUP BY p_brand ORDER BY p_brand
"""


# --------------------------------------------------------------------------
# top3_customers_per_nation: ranking window, deterministic tiebreak.
def top3_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "rk", "c_custkey", F.round("c_acctbal", 6).alias("acctbal"))
        .orderBy("n_name", "rk")
    )


TOP3_PER_NATION_SQL = """
SELECT n_name, rk, c_custkey, round(c_acctbal, 6) AS acctbal
FROM (
  SELECT n_name, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
WHERE rk <= 3 ORDER BY n_name, rk
"""


# --------------------------------------------------------------------------
# lineitem_dedup_keys: dropDuplicates on a key subset
# (ScalableDataFrame.py:1732-1738) — count survivors per returnflag.
def lineitem_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.dropDuplicates(["l_orderkey", "l_returnflag"])
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_unique_orders"))
        .orderBy("l_returnflag")
    )


LINEITEM_DEDUP_SQL = """
SELECT l_returnflag, count(*) AS n_unique_orders
FROM (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem)
GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# mktsegment_value_counts: value_counts parity (ScalableSeries.py:991).
def mktsegment_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy(F.col("c_mktsegment").alias("value"))
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("value"))
    )


VALUE_COUNTS_SQL = """
SELECT c_mktsegment AS value, count(*) AS count
FROM customer GROUP BY 1 ORDER BY count DESC, value ASC
"""


# --------------------------------------------------------------------------
# nations_set_ops: intersect/except coverage — nations having customers but
# no suppliers (exceptAll) and both (intersect).
def nations_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = cust.intersect(supp).withColumn("relation", F.lit("both"))
    cust_only = cust.exceptAll(supp).withColumn("relation", F.lit("customer_only"))
    return both.unionByName(cust_only).orderBy("relation", "nationkey")


NATIONS_SET_OPS_SQL = """
WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
     s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
SELECT nationkey, 'both' AS relation FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
UNION ALL
SELECT nationkey, 'customer_only' AS relation FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
ORDER BY relation, nationkey
"""


# --------------------------------------------------------------------------
# order_fill_missing: missing-data surface — coalesce/fillna + conditional
# null creation (isna/fillna parity, ScalableDataFrame.py:1784-1808).
def order_fill_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # create nulls deterministically (prices on 'F' orders), then repair
    with_null = orders.withColumn(
        "price_or_null", F.when(F.col("o_orderstatus") == "F", F.lit(None).cast("double")).otherwise(F.col("o_totalprice"))
    )
    return (
        with_null.select(
            "o_orderkey",
            F.col("price_or_null").isNull().alias("was_null"),
            F.round(F.coalesce("price_or_null", F.lit(0.0)), 6).alias("price_filled"),
        )
        .orderBy("o_orderkey")
    )


ORDER_FILL_SQL = """
SELECT o_orderkey,
       (CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_totalprice END) IS NULL AS was_null,
       round(coalesce(CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_totalprice END, 0.0), 6) AS price_filled
FROM orders ORDER BY o_orderkey
"""

QUERIES = {
    "customers_without_orders": customers_without_orders,
    "big_spender_customers": big_spender_customers,
    "orders_rollup": orders_rollup,
    "orders_cube": orders_cube,
    "segment_stats": segment_stats,
    "part_corr": part_corr,
    "top3_customers_per_nation": top3_customers_per_nation,
    "lineitem_dedup_keys": lineitem_dedup_keys,
    "mktsegment_value_counts": mktsegment_value_counts,
    "nations_set_ops": nations_set_ops,
    "order_fill_missing": order_fill_missing,
}

ORACLES = {
    "customers_without_orders": CUST_NO_ORDERS_SQL,
    "big_spender_customers": BIG_SPENDER_SQL,
    "orders_rollup": ORDERS_ROLLUP_SQL,
    "orders_cube": ORDERS_CUBE_SQL,
    "segment_stats": SEGMENT_STATS_SQL,
    "part_corr": PART_CORR_SQL,
    "top3_customers_per_nation": TOP3_PER_NATION_SQL,
    "lineitem_dedup_keys": LINEITEM_DEDUP_SQL,
    "mktsegment_value_counts": VALUE_COUNTS_SQL,
    "nations_set_ops": NATIONS_SET_OPS_SQL,
    "order_fill_missing": ORDER_FILL_SQL,
}

# --------------------------------------------------------------------------
# ev_pivot_user_type: pivot — absent in the reference (pivot_table raises,
# ScalableDataFrame.py:1421); Spark groupBy().pivot() with explicit values
# (explicit value list avoids the extra distinct-scan job and keeps the
# plan a single aggregation).
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def ev_pivot_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("user_id")
    )


EV_PIVOT_SQL = """
SELECT user_id,
       count(*) FILTER (event_type = 'click') AS click,
       count(*) FILTER (event_type = 'error') AS error,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup') AS signup,
       count(*) FILTER (event_type = 'view') AS view
FROM events GROUP BY user_id ORDER BY user_id
"""


# --------------------------------------------------------------------------
# part_melt: unpivot/melt — also absent in the reference (explode raises,
# ScalableDataFrame.py:1432). Spark native unpivot.
def part_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select("p_partkey", F.col("p_size").cast("double").alias("p_size"), "p_retailprice")
        .unpivot("p_partkey", ["p_size", "p_retailprice"], "variable", "value")
        .orderBy("p_partkey", "variable")
    )


PART_MELT_SQL = """
SELECT p_partkey, 'p_size' AS variable, p_size::DOUBLE AS value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS variable, p_retailprice AS value FROM part
ORDER BY p_partkey, variable
"""


# --------------------------------------------------------------------------
# q18_big_orders: HAVING-subquery shape (TPC-H Q18): orders whose lineitems
# sum above a threshold, joined back for customer detail. The inner
# aggregation shuffles on l_orderkey once; the semi-join back is on the same
# key so AQE reuses the partitioning.
def q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("total_qty")).filter(F.col("total_qty") > 150)
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        # customer scales linearly with SF — no forced broadcast; AQE
        # auto-broadcasts under the threshold at small SF and shuffles at 100x.
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", F.round("total_qty", 6).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(total_qty, 6) AS total_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# orders_above_cust_avg: correlated-subquery shape (each order vs its
# customer's average) — decorrelated into a window average, one shuffle on
# o_custkey instead of a per-row subquery.
def orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        orders.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 6).alias("o_totalprice"), F.round("cust_avg", 6).alias("cust_avg"))
        .orderBy("o_orderkey")
    )


ORDERS_ABOVE_AVG_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS o_totalprice, round(cust_avg, 6) AS cust_avg
FROM (SELECT *, avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg FROM orders)
WHERE o_totalprice > cust_avg
ORDER BY o_orderkey
"""

# --------------------------------------------------------------------------
# segment_demeaned_balance: the SparkFrame groupby().transform surface
# (pandas transform parity — group aggregate broadcast back to rows via an
# unbounded window, one shuffle, no join back). The mean is derived from an
# exact decimal window SUM divided by the window COUNT, so both engines
# compute bit-identical doubles (a raw avg() window drifts in summation
# order between engines).
def segment_demeaned_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.frame import SparkFrame

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal_dec", F.col("c_acctbal").cast("decimal(18,2)")
    )
    t = SparkFrame(cust).groupby("c_mktsegment").transform({"bal_dec": ["sum", "count"]})
    return (
        t.df.select(
            "c_custkey",
            "c_mktsegment",
            (
                F.col("c_acctbal")
                - F.col("bal_dec_sum").cast("double") / F.col("bal_dec_count")
            ).alias("demeaned"),
        )
        .orderBy("c_custkey")
    )


SEGMENT_DEMEANED_SQL = """
SELECT c_custkey, c_mktsegment,
       c_acctbal - CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
                   / (count(*) OVER (PARTITION BY c_mktsegment)) AS demeaned
FROM customer ORDER BY c_custkey
"""


# --------------------------------------------------------------------------
# orders_combine_first: the CDC/upsert-apply shape — NULL holes in a base
# frame patched from an updates frame, key-union row set, passthrough of
# columns absent from the updates side (pandas combine_first with an
# explicit key; one full-outer join).
def orders_combine_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.frame import SparkFrame

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderpriority",
    )
    upd = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", (F.col("o_totalprice") + 1000).alias("o_totalprice")
    )
    return SparkFrame(base).combine_first(SparkFrame(upd), on="o_orderkey").df.orderBy("o_orderkey")


ORDERS_COMBINE_FIRST_SQL = """
WITH base AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS o_totalprice,
         o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
), upd AS (
  SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT coalesce(b.o_orderkey, u.o_orderkey) AS o_orderkey,
       coalesce(b.o_totalprice, u.o_totalprice) AS o_totalprice,
       b.o_orderpriority
FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# pruned_scan_customer: the Reader registry's schema-pruned scan with
# missing-column tolerance — data_schema requests two real columns plus one
# absent from the file; the select pushes column pruning into the parquet
# scan (ReadSchema shows only the two) and the absent column is dropped.
def pruned_scan_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.io.reader import Reader
    from bears_spark.types import MLType

    sfr = Reader.of("parquet").read(
        f"{sf_dir}/customer.parquet",
        spark=spark,
        data_schema={
            "c_custkey": MLType.INT,
            "c_mktsegment": MLType.CATEGORICAL,
            "c_not_in_file": MLType.TEXT,
        },
    )
    return sfr.df.orderBy("c_custkey")


PRUNED_SCAN_SQL = """
SELECT c_custkey, c_mktsegment FROM customer ORDER BY c_custkey
"""


QUERIES.update(
    {
        "ev_pivot_user_type": ev_pivot_user_type,
        "part_melt": part_melt,
        "q18_big_orders": q18_big_orders,
        "orders_above_cust_avg": orders_above_cust_avg,
        "segment_demeaned_balance": segment_demeaned_balance,
        "orders_combine_first": orders_combine_first,
        "pruned_scan_customer": pruned_scan_customer,
    }
)

ORACLES.update(
    {
        "ev_pivot_user_type": EV_PIVOT_SQL,
        "part_melt": PART_MELT_SQL,
        "q18_big_orders": Q18_SQL,
        "orders_above_cust_avg": ORDERS_ABOVE_AVG_SQL,
        "segment_demeaned_balance": SEGMENT_DEMEANED_SQL,
        "orders_combine_first": ORDERS_COMBINE_FIRST_SQL,
        "pruned_scan_customer": PRUNED_SCAN_SQL,
    }
)


# --------------------------------------------------------------------------
# orders_constraint_report: declarative data-quality gate — six constraints
# (completeness, uniqueness, range, set membership, regex) checked in ONE
# aggregation pass (functions/validate.py); report is constraint-sized.
# in_range(o_totalprice, 0, 100000) is deliberately violated so the report
# exercises the failing path.
def orders_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.validate import (
        check_constraints,
        in_range,
        isin_set,
        matches,
        not_null,
        unique,
    )

    o = load_table(spark, sf_dir, "orders")
    report = check_constraints(
        o,
        [
            not_null("o_orderkey"),
            unique("o_orderkey"),
            not_null("o_custkey"),
            in_range("o_totalprice", 0, 100000),
            isin_set("o_orderstatus", ["O", "F", "P"]),
            matches("o_orderpriority", "^[1-5]-"),
        ],
    )
    return report.orderBy("constraint")


ORDERS_CONSTRAINT_SQL = """
WITH agg AS (
  SELECT count(*) AS n,
         count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS v_nn_ok,
         count(o_orderkey) - count(DISTINCT o_orderkey) AS v_uniq,
         count(CASE WHEN o_custkey IS NULL THEN 1 END) AS v_nn_ck,
         count(CASE WHEN o_totalprice IS NOT NULL AND NOT (o_totalprice BETWEEN 0 AND 100000) THEN 1 END) AS v_range,
         count(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS v_isin,
         count(CASE WHEN o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 END) AS v_re
  FROM orders
)
SELECT * FROM (
  SELECT 'not_null(o_orderkey)' AS "constraint", n AS n_rows, v_nn_ok AS n_violations, v_nn_ok = 0 AS passed FROM agg
  UNION ALL SELECT 'unique(o_orderkey)', n, v_uniq, v_uniq = 0 FROM agg
  UNION ALL SELECT 'not_null(o_custkey)', n, v_nn_ck, v_nn_ck = 0 FROM agg
  UNION ALL SELECT 'in_range(o_totalprice,0,100000)', n, v_range, v_range = 0 FROM agg
  UNION ALL SELECT 'isin(o_orderstatus)', n, v_isin, v_isin = 0 FROM agg
  UNION ALL SELECT 'matches(o_orderpriority)', n, v_re, v_re = 0 FROM agg
) ORDER BY "constraint"
"""

QUERIES["orders_constraint_report"] = orders_constraint_report
ORACLES["orders_constraint_report"] = ORDERS_CONSTRAINT_SQL


# --------------------------------------------------------------------------
# orders_profile: the one-pass column profiler shape under the gate — per
# column (count, nulls, distinct, min, max) from a SINGLE aggregation over
# the table (exact countDistinct here so the DuckDB oracle matches
# bit-for-bit; frame.profile uses approx_count_distinct for scale).
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    exprs = []
    for c in cols:
        exprs += [
            F.count(F.col(c)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    row = orders.agg(*exprs).first()
    rows = [
        (c, row[f"{c}__n"], row[f"{c}__nulls"], row[f"{c}__distinct"], row[f"{c}__min"], row[f"{c}__max"])
        for c in cols
    ]
    return local_df(spark, 
        rows, "col_name string, n bigint, nulls bigint, n_distinct bigint, min_s string, max_s string"
    ).orderBy("col_name")


ORDERS_PROFILE_SQL = """
SELECT * FROM (
  SELECT 'o_orderkey' AS col_name, count(o_orderkey) AS n, CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
         count(DISTINCT o_orderkey) AS n_distinct, min(o_orderkey::VARCHAR) AS min_s, max(o_orderkey::VARCHAR) AS max_s FROM orders
  UNION ALL
  SELECT 'o_custkey', count(o_custkey), CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         count(DISTINCT o_custkey), min(o_custkey::VARCHAR), max(o_custkey::VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_orderstatus', count(o_orderstatus), CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus) FROM orders
  UNION ALL
  SELECT 'o_totalprice', count(o_totalprice), CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         count(DISTINCT o_totalprice), min(o_totalprice::VARCHAR), max(o_totalprice::VARCHAR) FROM orders
) ORDER BY col_name
"""

QUERIES["orders_profile"] = orders_profile
ORACLES["orders_profile"] = ORDERS_PROFILE_SQL


# --------------------------------------------------------------------------
# cust_priority_scd2: slowly-changing-dimension type-2 build — compress each
# customer's order history into validity intervals of o_orderpriority
# (valid_from = first order date at that priority run, valid_to = start of
# the next run, NULL on the current run). The standard warehouse dimension
# maintenance pattern, expressed as two windows over one shuffle on custkey
# (lag to mark change points, then a running change-count partitions runs;
# lead on the aggregated runs closes the intervals).
def cust_priority_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changed = F.when(
        F.lag("o_orderpriority").over(w).isNull()
        | (F.col("o_orderpriority") != F.lag("o_orderpriority").over(w)),
        1,
    ).otherwise(0)
    runs = (
        orders.select("o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority")
        .withColumn("chg", changed)
        .withColumn("run_id", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("o_custkey", "run_id")
        .agg(
            F.min("o_orderpriority").alias("priority"),  # constant within a run
            F.min("o_orderdate").alias("valid_from"),
            F.count("*").alias("n_orders"),
        )
    )
    w2 = Window.partitionBy("o_custkey").orderBy("run_id")
    return runs.select(
        "o_custkey",
        "run_id",
        "priority",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_orders",
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


CUST_SCD2_SQL = """
WITH marked AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
         CASE WHEN lag(o_orderpriority) OVER w IS NULL
                OR o_orderpriority <> lag(o_orderpriority) OVER w THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), runs_src AS (
  SELECT *, sum(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM marked
), runs AS (
  SELECT o_custkey, CAST(run_id AS BIGINT) AS run_id,
         min(o_orderpriority) AS priority,
         min(o_orderdate) AS valid_from,
         count(*) AS n_orders
  FROM runs_src GROUP BY 1, 2
)
SELECT o_custkey, run_id, priority, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       n_orders,
       lead(valid_from) OVER w2 IS NULL AS is_current
FROM runs
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY run_id)
"""

QUERIES["cust_priority_scd2"] = cust_priority_scd2
ORACLES["cust_priority_scd2"] = CUST_SCD2_SQL


# --------------------------------------------------------------------------
# orders_value_ntile: distribution-rank window sugar — ntile quartiles,
# percent_rank and cume_dist of order value within each priority class. The
# ordering key is (o_totalprice, o_orderkey): unique, so tile assignment at
# ties is deterministic and both engines agree bit-for-bit.
def orders_value_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


ORDERS_NTILE_SQL = """
SELECT o_orderkey, o_orderpriority,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""

QUERIES["orders_value_ntile"] = orders_value_ntile
ORACLES["orders_value_ntile"] = ORDERS_NTILE_SQL


# --------------------------------------------------------------------------
# orders_merge_upsert: SQL MERGE semantics (functions/cdc.merge_into) graded
# against the equivalent full-outer-join CASE expression. Scenario: the
# "source" is a corrected feed of high-value orders (price +1, one synthetic
# new order); matched rows update, source-only rows insert, target-only
# rows survive. The output is the post-merge orders table (keys + status +
# price), deterministic and fully SQL-expressible.
def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.cdc import merge_into

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    src = (
        orders.where(F.col("o_totalprice") > 300000)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") + 1, 2).alias("o_totalprice"),
        )
        .unionByName(
            spark.range(1).select(
                F.lit(-1).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(9.99).alias("o_totalprice"),
            )
        )
    )
    out = merge_into(orders, src, on="o_orderkey", when_matched="update", when_not_matched="insert")
    return out.select("o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice"))


ORDERS_MERGE_SQL = """
WITH src AS (
  SELECT o_orderkey, 'U' AS o_orderstatus, round(o_totalprice + 1, 2) AS o_totalprice
  FROM orders WHERE o_totalprice > 300000
  UNION ALL
  SELECT -1, 'N', 9.99
), t AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)
SELECT coalesce(t.o_orderkey, src.o_orderkey) AS o_orderkey,
       CASE WHEN src.o_orderkey IS NOT NULL THEN src.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
       round(CASE WHEN src.o_orderkey IS NOT NULL THEN src.o_totalprice ELSE t.o_totalprice END, 2) AS o_totalprice
FROM t FULL OUTER JOIN src ON t.o_orderkey = src.o_orderkey
"""

QUERIES["orders_merge_upsert"] = orders_merge_upsert
ORACLES["orders_merge_upsert"] = ORDERS_MERGE_SQL


# --------------------------------------------------------------------------
# orders_snapshot_diff: CDC diff between the orders table and a simulated
# next snapshot (drop the F-status rows, bump prices above 200k, add one
# order) -> (key, change_type) for added/removed/changed rows only.
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.cdc import snapshot_diff

    old = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    new = (
        old.where(F.col("o_orderstatus") != "F")
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_totalprice") > 200000, F.round(F.col("o_totalprice") * 2, 2)).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            spark.range(1).select(
                F.lit(-7).alias("o_orderkey"),
                F.lit("O").alias("o_orderstatus"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    return snapshot_diff(old, new, on="o_orderkey")


ORDERS_DIFF_SQL = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
), new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_totalprice > 200000 THEN round(o_totalprice * 2, 2) ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderstatus <> 'F'
  UNION ALL
  SELECT -7, 'O', 1.0
)
SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'added'
            WHEN new.o_orderkey IS NULL THEN 'removed'
            WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
              OR old.o_totalprice IS DISTINCT FROM new.o_totalprice THEN 'changed'
       END AS change_type
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
WHERE CASE WHEN old.o_orderkey IS NULL THEN 'added'
           WHEN new.o_orderkey IS NULL THEN 'removed'
           WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
             OR old.o_totalprice IS DISTINCT FROM new.o_totalprice THEN 'changed'
      END IS NOT NULL
"""

QUERIES["orders_snapshot_diff"] = orders_snapshot_diff
ORACLES["orders_snapshot_diff"] = ORDERS_DIFF_SQL


# --------------------------------------------------------------------------
# lineitem_skew_report: the skew diagnostic that decides whether a join/agg
# key needs salting — per-key count distribution (max, p50, p99 via exact
# ordered selection) and the max/mean skew factor, one row per candidate
# key column. Exact percentiles over the per-key count table (cardinality
# = #distinct keys, small relative to data); everything integer until the
# final two divisions.
def lineitem_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    reports = []
    for key in ("l_suppkey", "l_partkey", "l_returnflag"):
        counts = li.groupBy(F.col(key).cast("string").alias("k")).agg(F.count("*").alias("c"))
        reports.append(
            counts.agg(
                F.lit(key).alias("key_col"),
                F.count("*").alias("n_keys"),
                F.sum("c").alias("n_rows"),
                F.max("c").alias("max_per_key"),
                F.expr("percentile(c, 0.5)").alias("p50"),
                F.expr("percentile(c, 0.99)").alias("p99"),
                (F.max("c") / (F.sum("c") / F.count("*"))).alias("skew_factor"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.select(
        "key_col", "n_keys", "n_rows", "max_per_key",
        F.round("p50", 6).alias("p50"), F.round("p99", 6).alias("p99"),
        F.round("skew_factor", 6).alias("skew_factor"),
    )


LINEITEM_SKEW_SQL = """
WITH per AS (
  SELECT key_col, k, count(*) AS c FROM (
    SELECT 'l_suppkey' AS key_col, CAST(l_suppkey AS VARCHAR) AS k FROM lineitem
    UNION ALL SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
    UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem
  ) GROUP BY 1, 2
)
SELECT key_col,
       count(*) AS n_keys,
       CAST(sum(c) AS BIGINT) AS n_rows,
       max(c) AS max_per_key,
       round(quantile_cont(c, 0.5), 6) AS p50,
       round(quantile_cont(c, 0.99), 6) AS p99,
       round(max(c) / (sum(c) / count(*)), 6) AS skew_factor
FROM per GROUP BY key_col
"""

QUERIES["lineitem_skew_report"] = lineitem_skew_report
ORACLES["lineitem_skew_report"] = LINEITEM_SKEW_SQL


# --------------------------------------------------------------------------
# orders_keyset_page: keyset (cursor) pagination — "the page after cursor
# (date, key)" as a sargable composite-compare filter + TakeOrdered, the
# OFFSET-free pagination every large-result API needs (OFFSET n re-scans
# and re-sorts n rows; a keyset filter pushes down and reads one page).
def orders_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cur_date, cur_key = "1996-06-01", 4000
    after = (F.col("o_orderdate") > F.lit(cur_date).cast("timestamp")) | (
        (F.col("o_orderdate") == F.lit(cur_date).cast("timestamp")) & (F.col("o_orderkey") > cur_key)
    )
    return (
        orders.where(after)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(20)
    )


ORDERS_KEYSET_SQL = """
SELECT o_orderkey, o_orderdate, o_totalprice
FROM orders
WHERE o_orderdate > TIMESTAMP '1996-06-01'
   OR (o_orderdate = TIMESTAMP '1996-06-01' AND o_orderkey > 4000)
ORDER BY o_orderdate, o_orderkey LIMIT 20
"""

QUERIES["orders_keyset_page"] = orders_keyset_page
ORACLES["orders_keyset_page"] = ORDERS_KEYSET_SQL


# --------------------------------------------------------------------------
# orders_table_fingerprint: content-addressed, ORDER-INVARIANT table
# fingerprint — count + sum and xor of per-row md5 hashes over canonically
# stringified columns. Two replicas agree iff the fingerprints agree,
# regardless of partitioning/row order; the workhorse check after a
# migration/replication/CDC apply. Integer-exact everywhere (bit_xor is
# associative+commutative; sum wraps in int64 deterministically... sum is
# kept exact by hashing into 60-bit values: 15k rows x 2^60 < 2^74, so the
# sum column uses DECIMAL(38,0) on both engines).
def orders_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64

    orders = load_table(spark, sf_dir, "orders")
    # integer/string columns only: float-to-string formatting is not
    # portable across engines (HALF_UP vs banker's rounding, shortest-repr)
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    )
    h = md5_hash64(row_str)
    return orders.agg(
        F.count("*").alias("n_rows"),
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("hash_sum"),
    )


ORDERS_FINGERPRINT_SQL = """
SELECT count(*) AS n_rows,
       sum(CAST(('0x' || substr(md5('0' || ':' ||
             o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' ||
             o_orderpriority), 1, 15))::BIGINT AS DECIMAL(38,0)))::VARCHAR AS hash_sum
FROM orders
"""

QUERIES["orders_table_fingerprint"] = orders_table_fingerprint
ORACLES["orders_table_fingerprint"] = ORDERS_FINGERPRINT_SQL


# --------------------------------------------------------------------------
# orders_ivm_join: incremental view maintenance — the materialized
# orders ⋈ customer view refreshed with a delta batch (high-value orders
# re-priced) via anti-join + delta-join (functions/cdc.py), graded against
# the full recompute of the post-delta join. Proves delta-apply == rebuild.
def orders_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.cdc import incremental_join_apply

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dim = cust.withColumnRenamed("c_custkey", "o_custkey")
    old_view = orders.join(dim, "o_custkey").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"), "c_mktsegment"
    )
    delta = (
        orders.where(F.col("o_totalprice") > 250000)
        .select("o_orderkey", "o_custkey", F.round(F.col("o_totalprice") + 1, 2).alias("price"))
    )
    return incremental_join_apply(old_view, delta, dim, pk="o_orderkey", join_key="o_custkey")


ORDERS_IVM_SQL = """
WITH updated AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_totalprice > 250000 THEN round(o_totalprice + 1, 2)
              ELSE round(o_totalprice, 2) END AS price
  FROM orders
)
SELECT u.o_orderkey, u.o_custkey, u.price, c.c_mktsegment
FROM updated u JOIN customer c ON u.o_custkey = c.c_custkey
"""

QUERIES["orders_ivm_join"] = orders_ivm_join
ORACLES["orders_ivm_join"] = ORDERS_IVM_SQL


# --------------------------------------------------------------------------
# part_copurchase_pairs: market-basket co-occurrence — the top-20 part
# pairs appearing together in the most orders. The pair-generation join is
# the triangle-count edge builder (canonical a<b ordering dedups); at scale
# the per-order explosion is quadratic in basket size, so production runs
# cap basket length first (documented; TPC-H baskets are <=7 lines).
def part_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b"))
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


PART_COPURCHASE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2 ORDER BY n_orders DESC, part_a, part_b LIMIT 20
"""

QUERIES["part_copurchase_pairs"] = part_copurchase_pairs
ORACLES["part_copurchase_pairs"] = PART_COPURCHASE_SQL


# --------------------------------------------------------------------------
# join_cardinality_prediction: planner diagnostic — predict |lineitem ⋈
# orders| on orderkey from the two per-key count tables (sum of count
# products) and emit it next to the actual join count. Exact integers; the
# prediction costs two aggregations + a join of count tables (cardinality =
# #distinct keys), far cheaper than the join it sizes — the estimate a
# planner uses to pick shuffle partition counts / broadcast eligibility.
def join_cardinality_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ca = li.groupBy(F.col("l_orderkey").alias("k")).agg(F.count("*").alias("ca"))
    cb = orders.groupBy(F.col("o_orderkey").alias("k")).agg(F.count("*").alias("cb"))
    pred = ca.join(cb, "k").agg(F.sum(F.col("ca") * F.col("cb")).alias("predicted"))
    actual = li.join(orders, li.l_orderkey == orders.o_orderkey).agg(F.count("*").alias("actual"))
    return pred.crossJoin(actual)


JOIN_CARD_SQL = """
WITH ca AS (SELECT l_orderkey AS k, count(*) AS ca FROM lineitem GROUP BY 1),
cb AS (SELECT o_orderkey AS k, count(*) AS cb FROM orders GROUP BY 1),
p AS (SELECT CAST(sum(ca * cb) AS BIGINT) AS predicted FROM ca JOIN cb USING (k)),
a AS (SELECT count(*) AS actual FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT p.predicted, a.actual FROM p, a
"""

QUERIES["join_cardinality_prediction"] = join_cardinality_prediction
ORACLES["join_cardinality_prediction"] = JOIN_CARD_SQL


# --------------------------------------------------------------------------
# orders_pit_priority: point-in-time (feature-store) join — each order
# joined to the SCD-2 priority interval ACTIVE at its order date
# (valid_from <= date < valid_to, NULL valid_to = open). Equi-join on
# custkey carries the interval filter, so it shuffles once on the key like
# any fact-dim join; the graded check is self-consistency: the interval
# active at an order's date must carry that order's own priority, so
# n_mismatch must be 0 and every order must match exactly one interval.
def orders_pit_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    runs = cust_priority_scd2(spark, sf_dir)
    j = orders.join(
        runs,
        (orders.o_custkey == runs.o_custkey)
        & (orders.o_orderdate >= runs.valid_from)
        & (runs.valid_to.isNull() | (orders.o_orderdate < runs.valid_to)),
    )
    return j.agg(
        F.count("*").alias("n_matched"),
        F.countDistinct(orders.o_orderkey).alias("n_orders"),
        F.sum(F.when(orders.o_orderpriority != runs.priority, 1).otherwise(0)).alias("n_mismatch"),
    )


ORDERS_PIT_SQL = """
WITH marked AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
         CASE WHEN lag(o_orderpriority) OVER w IS NULL
                OR o_orderpriority <> lag(o_orderpriority) OVER w THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), runs_src AS (
  SELECT *, sum(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM marked
), runs AS (
  SELECT o_custkey, run_id, min(o_orderpriority) AS priority, min(o_orderdate) AS valid_from
  FROM runs_src GROUP BY 1, 2
), iv AS (
  SELECT o_custkey, priority, valid_from, lead(valid_from) OVER w2 AS valid_to
  FROM runs WINDOW w2 AS (PARTITION BY o_custkey ORDER BY run_id)
)
SELECT count(*) AS n_matched,
       count(DISTINCT o.o_orderkey) AS n_orders,
       CAST(sum(CASE WHEN o.o_orderpriority <> iv.priority THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
FROM orders o JOIN iv
  ON o.o_custkey = iv.o_custkey
 AND o.o_orderdate >= iv.valid_from
 AND (iv.valid_to IS NULL OR o.o_orderdate < iv.valid_to)
"""

QUERIES["orders_pit_priority"] = orders_pit_priority
ORACLES["orders_pit_priority"] = ORDERS_PIT_SQL


# --------------------------------------------------------------------------
# orders_benford_digits: Benford's-law first-digit audit of order values —
# observed first-significant-digit counts vs the Benford expectation
# log10(1 + 1/d); the classic fabricated-data / corrupted-feed smell test.
# First digit extracted integer-exactly from the string form (no float
# log10 on the data path); only the expected share is a float constant.
def orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    orders = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    d = F.substring(F.regexp_replace(F.format_number(F.col("o_totalprice"), 4), r"[0.,]", ""), 1, 1)
    obs = orders.groupBy(d.cast("int").alias("digit")).agg(F.count("*").alias("n"))
    total = orders.count()
    expected = {dd: math.log10(1 + 1 / dd) for dd in range(1, 10)}
    exp_df = local_df(spark, [(k, float(round(v, 6))) for k, v in expected.items()], "digit int, benford double")
    return (
        obs.join(F.broadcast(exp_df), "digit")
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.lit(float(total)), 6).alias("observed_share"),
            "benford",
        )
    )


ORDERS_BENFORD_SQL = """
WITH src AS (
  SELECT o_totalprice FROM orders WHERE o_totalprice > 0
), digits AS (
  SELECT CAST(substr(regexp_replace(format('{:.4f}', o_totalprice), '[0.,]', '', 'g'), 1, 1) AS INT) AS digit
  FROM src
), obs AS (
  SELECT digit, count(*) AS n FROM digits GROUP BY 1
), nn AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM src)
SELECT digit, n,
       round(n / nn.total, 6) AS observed_share,
       round(log10(1 + 1.0 / digit), 6) AS benford
FROM obs, nn
"""

QUERIES["orders_benford_digits"] = orders_benford_digits
ORACLES["orders_benford_digits"] = ORDERS_BENFORD_SQL


# --------------------------------------------------------------------------
# cust_rfm_scores: classic RFM segmentation — per customer recency (days
# since last order, vs corpus max date), frequency (order count), monetary
# (total spend), each bucketed into quartiles. The customer grain is
# SF-linear, so a global-ORDER-BY ntile window (one WindowExec task holding
# every customer) is a 100-TB scale-killer; each quartile instead comes from
# functions/prefix.partitioned_ntile — range shuffle + offset table +
# map-only bucket assignment, byte-identical to F.ntile(4) and fully
# parallel. Three exact global orderings = three range shuffles by design.
def cust_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.prefix import partitioned_ntile

    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("mx")).first()["mx"]
    base = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(anchor), F.max("o_orderdate")).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).alias("monetary"),
    )
    scored = partitioned_ntile(base, ["recency_days", "o_custkey"], 4, out_col="r_quartile")
    scored = partitioned_ntile(scored, [F.desc("frequency"), F.asc("o_custkey")], 4, out_col="f_quartile")
    scored = partitioned_ntile(scored, [F.desc("monetary"), F.asc("o_custkey")], 4, out_col="m_quartile")
    return scored.select(
        "o_custkey", "recency_days", "frequency", "monetary", "r_quartile", "f_quartile", "m_quartile"
    )


CUST_RFM_SQL = """
WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
base AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), (SELECT mx FROM anchor)) AS recency_days,
         count(*) AS frequency,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS monetary
  FROM orders GROUP BY 1
)
SELECT o_custkey, recency_days, frequency, monetary,
       ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r_quartile,
       ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_quartile,
       ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_quartile
FROM base
"""

QUERIES["cust_rfm_scores"] = cust_rfm_scores
ORACLES["cust_rfm_scores"] = CUST_RFM_SQL


# --------------------------------------------------------------------------
# cust_cohort_ltv: cohort lifetime-value curve — customers cohorted by
# first-order month; for each (cohort, age-in-months) the cumulative spend
# per cohort member so far. The companion to the retention triangle: one
# min-window for the cohort, one groupBy for the (cohort, age) cells, one
# ordered window for the running cumulative. Decimal sums keep the
# cumulative exact under any aggregation order.
def cust_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    with_cohort = orders.withColumn(
        "cohort", F.date_format(F.min("o_orderdate").over(w), "yyyy-MM")
    ).withColumn(
        "age_months",
        (F.year("o_orderdate") - F.year(F.min("o_orderdate").over(w))) * 12
        + (F.month("o_orderdate") - F.month(F.min("o_orderdate").over(w))),
    )
    cohort_sizes = with_cohort.groupBy("cohort").agg(F.countDistinct("o_custkey").alias("n_members"))
    cells = with_cohort.groupBy("cohort", "age_months").agg(
        # exact integer cents: portable across engines (see ev_hourly_by_type
        # for the pattern rationale — round(double, n) ties are NOT portable)
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")).alias("spend_cents")
    )
    wc = Window.partitionBy("cohort").orderBy("age_months").rowsBetween(Window.unboundedPreceding, 0)
    return (
        cells.withColumn("cum_cents", F.sum("spend_cents").over(wc))
        .join(F.broadcast(cohort_sizes), "cohort")
        .select(
            "cohort",
            "age_months",
            "n_members",
            (F.col("cum_cents") / F.lit(100.0)).alias("cum_spend"),
            # 4dp half-up in pure integer arithmetic, then one exact division
            (F.expr("(cum_cents * 100 + n_members div 2) div n_members") / F.lit(10000.0)).alias("ltv_per_member"),
        )
    )


CUST_LTV_SQL = """
WITH wc AS (
  SELECT o_custkey, o_orderdate, o_totalprice,
         strftime(min(o_orderdate) OVER (PARTITION BY o_custkey), '%Y-%m') AS cohort,
         (year(o_orderdate) - year(min(o_orderdate) OVER (PARTITION BY o_custkey))) * 12
         + (month(o_orderdate) - month(min(o_orderdate) OVER (PARTITION BY o_custkey))) AS age_months
  FROM orders
), sizes AS (
  SELECT cohort, count(DISTINCT o_custkey) AS n_members FROM wc GROUP BY 1
), cells AS (
  SELECT cohort, CAST(age_months AS BIGINT) AS age_months,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS spend_cents
  FROM wc GROUP BY 1, 2
), cum AS (
  SELECT cohort, age_months,
         CAST(sum(spend_cents) OVER (PARTITION BY cohort ORDER BY age_months
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
  FROM cells
)
SELECT c.cohort, c.age_months, s.n_members,
       c.cum_cents / 100.0 AS cum_spend,
       ((c.cum_cents * 100 + s.n_members // 2) // s.n_members) / 10000.0 AS ltv_per_member
FROM cum c JOIN sizes s USING (cohort)
"""

QUERIES["cust_cohort_ltv"] = cust_cohort_ltv
ORACLES["cust_cohort_ltv"] = CUST_LTV_SQL


# --------------------------------------------------------------------------
# fk_integrity_report: referential-integrity audit across the star schema —
# orphan counts for every FK edge, as one small report. Each check is a
# left-anti join (the dim side broadcasts when small); a clean corpus
# reports all zeros, and any non-zero row names the broken edge directly.
def fk_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    checks = [
        ("customer.c_nationkey -> nation", cust.join(nation, cust.c_nationkey == nation.n_nationkey, "left_anti")),
        ("lineitem.l_orderkey -> orders", li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")),
        ("lineitem.l_partkey -> part", li.join(part, li.l_partkey == part.p_partkey, "left_anti")),
        ("lineitem.l_suppkey -> supplier", li.join(supp, li.l_suppkey == supp.s_suppkey, "left_anti")),
        ("orders.o_custkey -> customer", orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")),
        ("supplier.s_nationkey -> nation", supp.join(nation, supp.s_nationkey == nation.n_nationkey, "left_anti")),
    ]
    out = None
    for name, orphans in checks:
        row = orphans.groupBy().agg(F.count("*").alias("n_orphans")).select(
            F.lit(name).alias("fk"), "n_orphans"
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fk")


FK_INTEGRITY_SQL = """
SELECT 'customer.c_nationkey -> nation' AS fk,
       (SELECT count(*) FROM customer c ANTI JOIN nation n ON c.c_nationkey = n.n_nationkey) AS n_orphans
UNION ALL
SELECT 'lineitem.l_orderkey -> orders',
       (SELECT count(*) FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey)
UNION ALL
SELECT 'lineitem.l_partkey -> part',
       (SELECT count(*) FROM lineitem l ANTI JOIN part p ON l.l_partkey = p.p_partkey)
UNION ALL
SELECT 'lineitem.l_suppkey -> supplier',
       (SELECT count(*) FROM lineitem l ANTI JOIN supplier s ON l.l_suppkey = s.s_suppkey)
UNION ALL
SELECT 'orders.o_custkey -> customer',
       (SELECT count(*) FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey)
UNION ALL
SELECT 'supplier.s_nationkey -> nation',
       (SELECT count(*) FROM supplier s ANTI JOIN nation n ON s.s_nationkey = n.n_nationkey)
ORDER BY fk
"""

QUERIES["fk_integrity_report"] = fk_integrity_report
ORACLES["fk_integrity_report"] = FK_INTEGRITY_SQL


# --------------------------------------------------------------------------
# orders_snapshot_timetravel: end-to-end exercise of the snapshot table
# format (io/snapshot_table.py) — overwrite, O(delta) append, copy-on-write
# delete, then time-travel reads of all three versions. The oracle recomputes
# each version's (row count, decimal-exact total) directly from orders, so a
# wrong manifest, a lost file, or a broken delete shows up as a hash
# mismatch. The table lives in a scratch dir that the query-scope drain
# removes.
_STT_DELETE_BELOW = 1000


def orders_snapshot_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    t = SnapshotTable(spark, scoped_dir("snaptbl_"))
    t.overwrite(o.filter(F.col("o_orderkey") % 10 != 0))
    t.append(o.filter(F.col("o_orderkey") % 10 == 0))
    t.delete_where("o_orderkey", "<", _STT_DELETE_BELOW)
    rows = []
    for v in (1, 2, 3):
        agg = (
            t.read(version=v)
            .agg(
                F.count("*").alias("n_rows"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
                ).alias("total"),
            )
            .first()
        )
        rows.append((v, agg["n_rows"], float(agg["total"])))
    return local_df(spark, rows, "version bigint, n_rows bigint, total double")


ORDERS_SNAPSHOT_TT_SQL = f"""
SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders WHERE o_orderkey % 10 <> 0
UNION ALL
SELECT CAST(2 AS BIGINT), count(*),
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6)
FROM orders
UNION ALL
SELECT CAST(3 AS BIGINT), count(*),
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6)
FROM orders WHERE o_orderkey >= {_STT_DELETE_BELOW}
ORDER BY version
"""

QUERIES["orders_snapshot_timetravel"] = orders_snapshot_timetravel
ORACLES["orders_snapshot_timetravel"] = ORDERS_SNAPSHOT_TT_SQL


# --------------------------------------------------------------------------
# orders_yoy_growth: the classic BI trend query — monthly revenue with
# year-over-year growth via a 12-row lag over the per-month series. The
# window input is the MONTHLY AGGREGATE (cardinality = #months, not #rows),
# so the unpartitioned window is a non-issue at any scale: the heavy lifting
# is the partial-aggregated groupBy; the lag runs over ~80 rows. The series
# is gap-free in this data (every month has orders), making lag(12) exactly
# "same month last year" — asserted by the oracle's join-free formulation.
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("n_orders"))
    w = Window.orderBy("month")
    prev = F.lag("revenue", 12).over(w)
    return (
        monthly.select(
            "month",
            "revenue",
            "n_orders",
            F.round((F.col("revenue") - prev) / prev * 100.0, 4).alias("yoy_pct"),
        )
        .orderBy("month")
    )


ORDERS_YOY_SQL = """
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT month, revenue, n_orders,
       round((revenue - lag(revenue, 12) OVER (ORDER BY month))
             / lag(revenue, 12) OVER (ORDER BY month) * 100.0, 4) AS yoy_pct
FROM monthly ORDER BY month
"""

QUERIES["orders_yoy_growth"] = orders_yoy_growth
ORACLES["orders_yoy_growth"] = ORDERS_YOY_SQL


# --------------------------------------------------------------------------
# orders_change_feed: the O(delta) incremental consumer graded end-to-end —
# seed a snapshot table with pre-1997 orders, append the 1997+ delta in two
# commits, then read ONLY what changed since the seed version via
# changes_since (file-level delta, no table rescan) and aggregate it per
# status. The oracle derives the same aggregate relationally from the
# orders table, so a changes_since that leaked seed rows (or dropped delta
# rows) fails on counts AND sums.
_CF_CUT = "1997-01-01"


def orders_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    t = SnapshotTable(spark, scoped_dir("snaptbl_cf_"))
    v1 = t.overwrite(o.filter(F.col("o_orderdate") < _CF_CUT))
    delta = o.filter(F.col("o_orderdate") >= _CF_CUT)
    t.append(delta.filter(F.col("o_orderkey") % 2 == 0))
    t.append(delta.filter(F.col("o_orderkey") % 2 != 0))
    out = (
        t.changes_since(v1)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )
    return out


ORDERS_CHANGE_FEED_SQL = f"""
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders WHERE o_orderdate >= '{_CF_CUT}'
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_change_feed"] = orders_change_feed
ORACLES["orders_change_feed"] = ORDERS_CHANGE_FEED_SQL


# --------------------------------------------------------------------------
# orders_incremental_rollup: continuous-aggregate maintenance — rollup
# states built on two arbitrary halves of orders (even/odd orderkey) and
# MERGED must equal the direct aggregate over the whole table, exactly
# (decimal sums make the merge algebraic, not approximate). The oracle IS
# the direct aggregate — it never sees the split.
def orders_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.rollup import merge_rollup_states, rollup_result, rollup_state

    o = load_table(spark, sf_dir, "orders")
    even = o.filter(F.col("o_orderkey") % 2 == 0)
    odd = o.filter(F.col("o_orderkey") % 2 == 1)
    s1 = rollup_state(even, ["o_orderpriority"], "o_totalprice")
    s2 = rollup_state(odd, ["o_orderpriority"], "o_totalprice")
    return rollup_result(merge_rollup_states(s1, s2)).orderBy("o_orderpriority")


ORDERS_INCR_ROLLUP_SQL = """
SELECT o_orderpriority,
       count(o_totalprice) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) / count(o_totalprice), 6) AS avg,
       min(o_totalprice) AS min_v,
       max(o_totalprice) AS max_v
FROM orders GROUP BY 1 ORDER BY 1
"""

QUERIES["orders_incremental_rollup"] = orders_incremental_rollup
ORACLES["orders_incremental_rollup"] = ORDERS_INCR_ROLLUP_SQL


# --------------------------------------------------------------------------
# orders_delta_roundtrip: Delta Lake interop graded end-to-end — snapshot
# table (two commits) -> export as a spec-conformant _delta_log ->
# DeltaTableReader replay -> aggregate, vs the direct relational oracle.
# Proves the exported log is readable and the reader's add/remove replay
# reconstructs exactly the committed state.
def orders_delta_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.io.delta_log import DeltaTableReader, export_delta_log
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("delta_rt_")
    t = SnapshotTable(spark, root + "/st")
    t.overwrite(o.filter(F.col("o_orderkey") % 2 == 0))
    t.append(o.filter(F.col("o_orderkey") % 2 != 0))
    back = DeltaTableReader(spark, export_delta_log(t, root + "/delta")).read()
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_DELTA_RT_SQL = """
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_delta_roundtrip"] = orders_delta_roundtrip
ORACLES["orders_delta_roundtrip"] = ORDERS_DELTA_RT_SQL


# --------------------------------------------------------------------------
# orders_delta_dv_roundtrip: Delta deletion vectors graded end-to-end —
# orders split into two sorted data files under a hand-written _delta_log,
# then a second commit attaches a UUID-stored deletion-vector file (spec
# framing: version byte, BE length, RoaringBitmapArray portable bitmap, BE
# CRC-32) removing every 5th row of the odd-key file. Read back through
# DeltaTableReader's merge-on-read (metadata-column anti-join) vs a
# row_number()-reconstructed oracle — position-exact. The DV writer side
# here is test scaffolding (positions are range()-generated, bounded); the
# READER path is the product and stays fully distributed.
def orders_delta_dv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os
    import uuid as _uuid

    from bears_spark.io.delta_log import DeltaTableReader
    from bears_spark.io.roaring import frame_dv, serialize_rba, z85_encode

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("delta_dv_")
    _os.makedirs(root + "/_delta_log")
    rel = {}
    for grp, parity in (("even", 0), ("odd", 1)):
        (
            o.filter(F.col("o_orderkey") % 2 == parity)
            .repartition(1)
            .sortWithinPartitions("o_orderkey")
            .write.parquet(f"{root}/{grp}")
        )
        name = [n for n in _os.listdir(f"{root}/{grp}") if n.endswith(".parquet")][0]
        rel[grp] = f"{grp}/{name}"
    n_odd = spark.read.parquet(f"{root}/{rel['odd']}").count()
    positions = list(range(0, n_odd, 5))
    data = serialize_rba(positions)
    u = _uuid.uuid4()
    with open(f"{root}/deletion_vector_{u}.bin", "wb") as f:
        f.write(bytes([1]) + frame_dv(data))
    dv = {
        "storageType": "u",
        "pathOrInlineDv": z85_encode(u.bytes),
        "offset": 1,
        "sizeInBytes": len(data),
        "cardinality": len(positions),
    }

    def _add(path, extra=None):
        a = {"path": path, "partitionValues": {}, "size": 1,
             "modificationTime": 0, "dataChange": True}
        if extra:
            a.update(extra)
        return {"add": a}

    c0 = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "dvrt", "format": {"provider": "parquet", "options": {}},
                      "schemaString": o.schema.json(), "partitionColumns": [],
                      "configuration": {}, "createdTime": 0}},
        _add(rel["even"]),
        _add(rel["odd"]),
    ]
    c1 = [
        {"remove": {"path": rel["odd"], "dataChange": True}},
        _add(rel["odd"], {"deletionVector": dv}),
    ]
    for v, actions in ((0, c0), (1, c1)):
        with open(f"{root}/_delta_log/{v:020d}.json", "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")
    back = DeltaTableReader(spark, root).read()
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


QUERIES["orders_delta_dv_roundtrip"] = orders_delta_dv_roundtrip
# oracle shared with orders_iceberg_v2_deletes (identical live-row set);
# assigned after ORDERS_ICEBERG_V2_SQL's definition below


# --------------------------------------------------------------------------
# orders_iceberg_roundtrip: Iceberg interop graded end-to-end — write orders
# as parquet files, build a spec-shaped Iceberg metadata tree over them
# (metadata.json -> manifest-list Avro -> manifest Avro, one entry DELETED
# to prove status filtering), read through IcebergTableReader's snapshot
# planning, aggregate vs the direct relational oracle.
def orders_iceberg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os

    from bears_spark.io.avro_generic import write_container
    from bears_spark.io.iceberg_log import IcebergTableReader

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("iceberg_rt_")
    _os.makedirs(root + "/metadata")
    o.filter(F.col("o_orderkey") % 2 == 0).write.parquet(root + "/data/even")
    o.filter(F.col("o_orderkey") % 2 != 0).write.parquet(root + "/data/odd")
    o.limit(7).write.parquet(root + "/data/stale")  # DELETED entry below
    files = {
        grp: sorted(
            f"{root}/data/{grp}/{n}"
            for n in _os.listdir(f"{root}/data/{grp}")
            if n.endswith(".parquet")
        )
        for grp in ("even", "odd", "stale")
    }
    man_schema = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                ],
            }},
        ],
    }
    entries = [
        {"status": 1, "data_file": {"content": 0, "file_path": p,
                                    "file_format": "PARQUET", "record_count": 1}}
        for grp in ("even", "odd") for p in files[grp]
    ] + [
        {"status": 2, "data_file": {"content": 0, "file_path": p,
                                    "file_format": "PARQUET", "record_count": 1}}
        for p in files["stale"]
    ]
    mpath = root + "/metadata/m1.avro"
    open(mpath, "wb").write(write_container(man_schema, entries))
    ml_schema = {
        "type": "record", "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "content", "type": "int"},
        ],
    }
    mlpath = root + "/metadata/ml1.avro"
    open(mlpath, "wb").write(
        write_container(ml_schema, [{"manifest_path": mpath, "manifest_length": 1, "content": 0}])
    )
    with open(root + "/metadata/v1.metadata.json", "w") as f:
        _json.dump(
            {"format-version": 2, "location": root, "current-snapshot-id": 1,
             "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1, "manifest-list": mlpath}],
             "schemas": [{"schema-id": 0, "type": "struct", "fields": []}],
             "current-schema-id": 0},
            f,
        )
    back = IcebergTableReader(spark, root).read()
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_ICEBERG_RT_SQL = ORDERS_DELTA_RT_SQL

QUERIES["orders_iceberg_roundtrip"] = orders_iceberg_roundtrip
ORACLES["orders_iceberg_roundtrip"] = ORDERS_ICEBERG_RT_SQL


# --------------------------------------------------------------------------
# orders_iceberg_v2_deletes: Iceberg v2 merge-on-read graded end-to-end —
# orders split into two sorted data files, a positional delete file (spec
# rows of (file_path, pos)) removing every 5th row of the odd-key file, read
# back through IcebergTableReader's (file, pos) anti-join, vs a relational
# oracle that reconstructs the same positions with row_number(). Proves the
# delete application is position-exact, not just row-count-plausible.
def orders_iceberg_v2_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os

    from bears_spark.io.avro_generic import write_container
    from bears_spark.io.iceberg_log import IcebergTableReader

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("iceberg_v2_")
    _os.makedirs(root + "/metadata")
    # one sorted file per parity class: positions are then deterministic
    # (pos p in the odd file = the (p+1)-th smallest odd o_orderkey)
    for grp, parity in (("even", 0), ("odd", 1)):
        (
            o.filter(F.col("o_orderkey") % 2 == parity)
            .repartition(1)
            .sortWithinPartitions("o_orderkey")
            .write.parquet(f"{root}/data/{grp}")
        )
    paths = {
        grp: [
            f"{root}/data/{grp}/{n}"
            for n in _os.listdir(f"{root}/data/{grp}")
            if n.endswith(".parquet")
        ][0]
        for grp in ("even", "odd")
    }
    n_odd = spark.read.parquet(paths["odd"]).count()
    # positional delete file: every 5th row of the odd file, written as a
    # distributed range (no driver-side row materialization)
    (
        spark.range(0, n_odd, 5)
        .select(F.lit(paths["odd"]).alias("file_path"), F.col("id").alias("pos"))
        .coalesce(1)
        .write.parquet(root + "/data/deletes")
    )
    del_path = [
        f"{root}/data/deletes/{n}"
        for n in _os.listdir(root + "/data/deletes")
        if n.endswith(".parquet")
    ][0]
    man_schema = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                ],
            }},
        ],
    }
    def _entry(content, p):
        return {"status": 1, "data_file": {"content": content, "file_path": p,
                                           "file_format": "PARQUET", "record_count": 1}}
    mdata = root + "/metadata/m1.avro"
    open(mdata, "wb").write(
        write_container(man_schema, [_entry(0, paths["even"]), _entry(0, paths["odd"])])
    )
    mdel = root + "/metadata/md1.avro"
    open(mdel, "wb").write(write_container(man_schema, [_entry(1, del_path)]))
    ml_schema = {
        "type": "record", "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "content", "type": "int"},
        ],
    }
    mlpath = root + "/metadata/ml1.avro"
    open(mlpath, "wb").write(write_container(ml_schema, [
        {"manifest_path": mdata, "manifest_length": 1, "content": 0},
        {"manifest_path": mdel, "manifest_length": 1, "content": 1},
    ]))
    with open(root + "/metadata/v1.metadata.json", "w") as f:
        _json.dump(
            {"format-version": 2, "location": root, "current-snapshot-id": 1,
             "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1, "manifest-list": mlpath}],
             "schemas": [{"schema-id": 0, "type": "struct", "fields": []}],
             "current-schema-id": 0},
            f,
        )
    back = IcebergTableReader(spark, root).read()
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_ICEBERG_V2_SQL = """
WITH odd AS (
  SELECT o_orderstatus, o_totalprice,
         row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
  FROM orders WHERE o_orderkey % 2 = 1
),
live AS (
  SELECT o_orderstatus, o_totalprice FROM odd WHERE pos % 5 <> 0
  UNION ALL
  SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
)
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM live GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_iceberg_v2_deletes"] = orders_iceberg_v2_deletes
ORACLES["orders_iceberg_v2_deletes"] = ORDERS_ICEBERG_V2_SQL
ORACLES["orders_delta_dv_roundtrip"] = ORDERS_ICEBERG_V2_SQL


# --------------------------------------------------------------------------
# orders_delta_dv_read: the merge-on-read HOT PATH benched in isolation
# (VERDICT r7 #6) — the DV-bearing Delta table is built ONCE per sf_dir
# (atomic rename publication), so repeated calls time only the read: log
# replay + DV decode + executor-side position explode + (file, pos)
# left-anti join + aggregate. 16 deterministic single-part files (8 odd
# buckets each carrying a DV over every 5th position, 8 even buckets clean)
# give the scan real file parallelism, the shape a compacted lakehouse
# table has.
def _dv_bench_table(spark: SparkSession, sf_dir: str) -> str:
    import hashlib
    import json as _json
    import os as _os
    import shutil
    import tempfile
    import uuid as _uuid

    from bears_spark.io.roaring import frame_dv, serialize_rba, z85_encode

    # cache key includes the source's (mtime, size) fingerprint: a
    # regenerated testdata directory must invalidate the cached table, or
    # the bench would read stale rows and hash-mismatch the oracle
    src = _os.path.join(_os.path.abspath(sf_dir), "orders.parquet")
    st = _os.stat(src)
    key = hashlib.sha1(
        f"{src}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:12]
    root = _os.path.join(tempfile.gettempdir(), f"bears_dv_bench_{key}")
    if _os.path.isdir(_os.path.join(root, "_delta_log")):
        return root
    o = load_table(spark, sf_dir, "orders")
    build = tempfile.mkdtemp(prefix="bears_dv_build_")
    _os.makedirs(build + "/_delta_log")
    bucket = (F.col("o_orderkey") / F.lit(2)).cast("long") % 8
    adds = []
    dv_files = []
    for parity in (0, 1):
        for b in range(8):
            grp = f"p{parity}b{b}"
            (
                o.filter((F.col("o_orderkey") % 2 == parity) & (bucket == b))
                .repartition(1)
                .sortWithinPartitions("o_orderkey")
                .write.parquet(f"{build}/{grp}")
            )
            name = [n for n in _os.listdir(f"{build}/{grp}") if n.endswith(".parquet")][0]
            rel = f"{grp}/{name}"
            add = {"path": rel, "partitionValues": {}, "size": 1,
                   "modificationTime": 0, "dataChange": True}
            if parity == 1:
                dv_files.append((rel, f"{build}/{rel}"))
            adds.append(add)
    # one DV per odd file deleting every 5th position (write order)
    rel2add = {a["path"]: a for a in adds}
    for rel, full in dv_files:
        n_rows = spark.read.parquet(full).count()
        data = serialize_rba(list(range(0, n_rows, 5)))
        u = _uuid.uuid4()
        with open(f"{build}/deletion_vector_{u}.bin", "wb") as f:
            f.write(bytes([1]) + frame_dv(data))
        rel2add[rel]["deletionVector"] = {
            "storageType": "u", "pathOrInlineDv": z85_encode(u.bytes),
            "offset": 1, "sizeInBytes": len(data),
            "cardinality": (n_rows + 4) // 5,
        }
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "dvbench", "format": {"provider": "parquet", "options": {}},
                      "schemaString": o.schema.json(), "partitionColumns": [],
                      "configuration": {}, "createdTime": 0}},
    ] + [{"add": a} for a in adds]
    with open(f"{build}/_delta_log/{0:020d}.json", "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    try:
        _os.rename(build, root)  # atomic publication; loser of a race cleans up
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
    return root


def orders_delta_dv_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.io.delta_log import DeltaTableReader

    root = _dv_bench_table(spark, sf_dir)
    back = DeltaTableReader(spark, root).read()
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_DELTA_DV_READ_SQL = """
WITH odd AS (
  SELECT o_orderstatus, o_totalprice,
         row_number() OVER (PARTITION BY (o_orderkey // 2) % 8
                            ORDER BY o_orderkey) - 1 AS pos
  FROM orders WHERE o_orderkey % 2 = 1
),
live AS (
  SELECT o_orderstatus, o_totalprice FROM odd WHERE pos % 5 <> 0
  UNION ALL
  SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
)
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM live GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_delta_dv_read"] = orders_delta_dv_read
ORACLES["orders_delta_dv_read"] = ORDERS_DELTA_DV_READ_SQL


# --------------------------------------------------------------------------
# orders_delta_s3_read: object-store-resident Delta metadata graded end to
# end — the transaction log lives in a commit store (the same injectable
# transport io/commit_store.py gives S3/GCS, here the in-memory stub), data
# files stay Spark-readable absolute paths; the reader's MetaFS seam
# (io/metafs.py) must serve listing, commits and state replay from the
# store. Reference parity note: the reference routes all IO through a
# storage abstraction (src/bears/reader/Reader.py:81-116); this grades the
# equivalent seam on the lakehouse read path.
def orders_delta_s3_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os

    from bears_spark.io.commit_store import InMemoryCommitStore
    from bears_spark.io.delta_log import DeltaTableReader

    o = load_table(spark, sf_dir, "orders")
    data_root = scoped_dir("delta_s3_")
    commits = {}
    for v, parity in ((0, 0), (1, 1)):
        o.filter(F.col("o_orderkey") % 2 == parity).write.parquet(
            f"{data_root}/p{parity}"
        )
        commits[v] = sorted(
            f"{data_root}/p{parity}/{n}"
            for n in _os.listdir(f"{data_root}/p{parity}")
            if n.endswith(".parquet")
        )
    store = InMemoryCommitStore()
    tbl = "s3://bench-bucket/orders_delta"
    c0 = [
        {"protocol": {"minReaderVersion": 1}},
        {"metaData": {"id": "s3rt", "format": {"provider": "parquet", "options": {}},
                      "schemaString": o.schema.json(), "partitionColumns": [],
                      "configuration": {}, "createdTime": 0}},
    ] + [{"add": {"path": p, "partitionValues": {}, "size": 1,
                  "modificationTime": 0, "dataChange": True}} for p in commits[0]]
    c1 = [{"add": {"path": p, "partitionValues": {}, "size": 1,
                   "modificationTime": 0, "dataChange": True}} for p in commits[1]]
    for v, actions in ((0, c0), (1, c1)):
        store.replace(
            f"{tbl}/_delta_log/{v:020d}.json",
            "\n".join(_json.dumps(a) for a in actions).encode(),
        )
    r = DeltaTableReader(spark, tbl, store=store)
    return (
        r.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


ORDERS_DELTA_S3_SQL = """
SELECT o_orderpriority, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

QUERIES["orders_delta_s3_read"] = orders_delta_s3_read
ORACLES["orders_delta_s3_read"] = ORDERS_DELTA_S3_SQL


# --------------------------------------------------------------------------
# orders_iceberg_renamed_col: Iceberg schema evolution graded end to end —
# a column renamed in table metadata (field ids stable, names moved) with a
# data file written BEFORE the rename; the reader must serve the column
# under its NEW name by parquet field-id projection, exactly what real
# Iceberg readers do (name-matching would silently null the column). The
# fixture parquet carries PARQUET:field_id metadata, as every
# spec-compliant Iceberg writer does.
def orders_iceberg_renamed_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bears_spark.io.avro_generic import write_container
    from bears_spark.io.iceberg_log import IcebergTableReader

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # fixture build: a spec-compliant Iceberg writer's output is simulated
    # driver-side because Spark's own parquet writer does not stamp field
    # ids — 3 narrow columns, bounded well below manifest-metadata scale
    pdf = o.orderBy("o_orderkey").toPandas()
    root = scoped_dir("iceberg_ren_")
    _os.makedirs(root + "/metadata")
    _os.makedirs(root + "/data")
    fields = [
        pa.field("o_orderkey", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
        pa.field("o_orderstatus", pa.string(), metadata={b"PARQUET:field_id": b"2"}),
        pa.field("o_totalprice", pa.float64(), metadata={b"PARQUET:field_id": b"3"}),
    ]
    fp = f"{root}/data/prerename.parquet"
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=pa.schema(fields), preserve_index=False),
        fp,
    )
    man_schema = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                ],
            }},
        ],
    }
    mpath = f"{root}/metadata/m1.avro"
    with open(mpath, "wb") as f:
        f.write(write_container(man_schema, [
            {"status": 1, "data_file": {"content": 0, "file_path": fp,
                                        "file_format": "PARQUET",
                                        "record_count": len(pdf)}},
        ]))
    mlist_schema = {
        "type": "record", "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "content", "type": "int"},
            {"name": "added_snapshot_id", "type": ["null", "long"]},
        ],
    }
    mlpath = f"{root}/metadata/ml1.avro"
    with open(mlpath, "wb") as f:
        f.write(write_container(mlist_schema, [
            {"manifest_path": mpath, "manifest_length": 1, "content": 0,
             "added_snapshot_id": 1},
        ]))
    meta = {
        "format-version": 2, "table-uuid": "ren", "location": root,
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1, "manifest-list": mlpath}],
        "schemas": [
            {"schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "o_orderkey", "required": False, "type": "long"},
                {"id": 2, "name": "o_orderstatus", "required": False, "type": "string"},
                {"id": 3, "name": "o_totalprice", "required": False, "type": "double"},
            ]},
            # rename: o_totalprice -> total_price (ids stable)
            {"schema-id": 1, "type": "struct", "fields": [
                {"id": 1, "name": "o_orderkey", "required": False, "type": "long"},
                {"id": 2, "name": "o_orderstatus", "required": False, "type": "string"},
                {"id": 3, "name": "total_price", "required": False, "type": "double"},
            ]},
        ],
        "current-schema-id": 1,
    }
    with open(f"{root}/metadata/v1.metadata.json", "w") as f:
        _json.dump(meta, f)
    with open(f"{root}/metadata/version-hint.text", "w") as f:
        f.write("1")
    back = IcebergTableReader(spark, root).read()
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("total_price").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total_price_sum"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_ICEBERG_RENAMED_SQL = """
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6)
         AS total_price_sum
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_iceberg_renamed_col"] = orders_iceberg_renamed_col
ORACLES["orders_iceberg_renamed_col"] = ORDERS_ICEBERG_RENAMED_SQL


# --------------------------------------------------------------------------
# orders_optimize_skipping: OPTIMIZE ZORDER graded end-to-end — four
# arrival-ordered (hash-shuffled) micro-batch commits, then
# optimize_clustered on (o_custkey, o_orderdate); the stats-pruned read
# after maintenance must (a) actually skip files and (b) return exactly the
# oracle's rows. This grades the whole maintenance loop: append -> Z-order
# compaction -> manifest-stat pruning, with correctness gated on values.
def orders_optimize_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    # probe threshold scales with the key domain (~6% selectivity at any
    # SF) — a fixed literal would cover most of the domain at tiny SFs and
    # make file skipping impossible by construction. Bounded 1-row collect.
    thr = max(1, int(o.agg(F.max("o_custkey")).collect()[0][0] * 0.06))
    root = scoped_dir("optz_")
    t = SnapshotTable(spark, root)
    for i in range(4):
        batch = o.filter(F.pmod(F.xxhash64("o_orderkey"), F.lit(4)) == i).coalesce(1)
        (t.overwrite if i == 0 else t.append)(batch)
    pre = len(t.files(where=("o_custkey", "<", thr)))
    # target 30% of the table: every ~25%-sized micro-batch file is
    # "small" (rewritten), and ceil(total/target) = 4 z-ordered outputs
    # so the curve layout yields file-level selectivity (one giant file
    # could never be skipped). Column order matters: zorder_key gives the
    # LAST column the top interleaved bit, so o_custkey goes last to make
    # the custkey range the leading file-split dimension.
    total_rows = sum(e.rows for e in t.files())
    t.optimize_clustered(
        ["o_orderkey", "o_custkey"], target_rows_per_file=max(2, int(total_rows * 0.3))
    )
    post_files = t.files(where=("o_custkey", "<", thr))
    skipped = len(post_files) < len(t.files())
    return (
        t.read(where=("o_custkey", "<", thr))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .withColumn("files_skipped", F.lit(bool(skipped) and pre >= len(post_files)))
        .orderBy("o_orderstatus")
    )


ORDERS_OPTZ_SQL = """
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total,
       true AS files_skipped
FROM orders
WHERE o_custkey < (SELECT greatest(1, CAST(floor(max(o_custkey) * 0.06) AS BIGINT))
                   FROM orders)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_optimize_skipping"] = orders_optimize_skipping
ORACLES["orders_optimize_skipping"] = ORDERS_OPTZ_SQL


# --------------------------------------------------------------------------
# customer_priority_scd2: Slowly-Changing-Dimension Type-2 history — each
# customer's order-priority over time as versioned rows (valid_from /
# valid_to, NULL = current version), consecutive unchanged priorities
# opening no new version. The warehouse-dimension pattern every CDC
# pipeline materializes; all windows partition by the SF-linear customer
# key, so the build is fully parallel (no global windows anywhere).
def customer_priority_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.cdc import scd2_history

    orders = load_table(spark, sf_dir, "orders")
    ev = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("k"),
    )
    return (
        scd2_history(ev, "custkey", "ts", ["priority"], tiebreak="k")
        .select("custkey", "k", "priority", "valid_from", "valid_to")
        .orderBy("custkey", "valid_from", "k")
    )


CUSTOMER_SCD2_SQL = """
WITH ev AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         o_orderdate AS ts, o_orderkey AS k
  FROM orders
), flagged AS (
  SELECT custkey, priority, ts, k,
         (row_number() OVER w = 1)
           OR (priority IS DISTINCT FROM lag(priority) OVER w) AS open
  FROM ev WINDOW w AS (PARTITION BY custkey ORDER BY ts, k)
), v AS (
  SELECT custkey, priority, ts, k FROM flagged WHERE open
)
SELECT custkey, k, priority, ts AS valid_from,
       lead(ts) OVER (PARTITION BY custkey ORDER BY ts, k) AS valid_to
FROM v ORDER BY custkey, valid_from, k
"""

QUERIES["customer_priority_scd2"] = customer_priority_scd2
ORACLES["customer_priority_scd2"] = CUSTOMER_SCD2_SQL


# --------------------------------------------------------------------------
# customer_abc_analysis: Pareto / ABC classification — customers ranked by
# revenue, bucketed by CUMULATIVE share (A: first 70% of revenue, B: next
# 20%, C: tail). The per-customer aggregate is SF-linear, so the rank-ordered
# running sum comes from functions/prefix.partitioned_cumsum (range shuffle +
# offset table, fully parallel — no one-task WindowExec) and the grand total
# is one scalar agg baked back as a literal. Decimal end-to-end, so the
# cumulative shares are exact under any partitioning. Output is the class
# summary, exact counts + rounded shares.
def customer_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.prefix import partitioned_cumsum

    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("rev")
    )
    total = per.agg(F.sum("rev").alias("t")).first()["t"]
    cum = partitioned_cumsum(per, [F.desc("rev"), F.asc("o_custkey")], ["rev"], suffix="_run").select(
        "o_custkey",
        "rev",
        # same operand types as the window form (decimal(38,6) / decimal(38,6))
        (F.col("rev_run") / F.lit(total).cast("decimal(38,6)")).alias("cum_share"),
    )
    cls = F.when(F.col("cum_share") <= 0.70, "A").when(F.col("cum_share") <= 0.90, "B").otherwise("C")
    return (
        cum.select(cls.alias("abc_class"), "rev")
        .groupBy("abc_class")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("rev").cast("double"), 2).alias("revenue"),
        )
        .orderBy("abc_class")
    )


CUSTOMER_ABC_SQL = """
WITH per AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(30,6))) AS rev
  FROM orders GROUP BY o_custkey
), cum AS (
  SELECT o_custkey, rev,
         sum(rev) OVER (ORDER BY rev DESC, o_custkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / sum(rev) OVER () AS cum_share
  FROM per
)
SELECT CASE WHEN cum_share <= 0.70 THEN 'A'
            WHEN cum_share <= 0.90 THEN 'B' ELSE 'C' END AS abc_class,
       count(*) AS n_customers,
       round(CAST(sum(rev) AS DOUBLE), 2) AS revenue
FROM cum GROUP BY 1 ORDER BY abc_class
"""

QUERIES["customer_abc_analysis"] = customer_abc_analysis
ORACLES["customer_abc_analysis"] = CUSTOMER_ABC_SQL


# --------------------------------------------------------------------------
# part_iqr_outliers: per-brand Tukey fences — exact quartiles of retail
# price within each brand, broadcast back onto the rows, flagging parts
# outside [q1 - 1.5*IQR, q3 + 1.5*IQR]. Output per brand: n, q1, q3, and
# the outlier count. The quartile table is bounded by the brand domain, so
# the join is a broadcast; everything else is expressions.
def part_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    q = part.groupBy("p_brand").agg(
        F.expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY p_retailprice)").alias("q1"),
        F.expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY p_retailprice)").alias("q3"),
    )
    scored = part.join(F.broadcast(q), "p_brand").withColumn(
        "iqr", F.col("q3") - F.col("q1")
    )
    out = (F.col("p_retailprice") < F.col("q1") - 1.5 * F.col("iqr")) | (
        F.col("p_retailprice") > F.col("q3") + 1.5 * F.col("iqr")
    )
    return (
        scored.groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.round(F.max("q1"), 6).alias("q1"),
            F.round(F.max("q3"), 6).alias("q3"),
            F.sum(out.cast("long")).alias("n_outliers"),
        )
        .orderBy("p_brand")
    )


PART_IQR_SQL = """
WITH q AS (
  SELECT p_brand,
         percentile_cont(0.25) WITHIN GROUP (ORDER BY p_retailprice) AS q1,
         percentile_cont(0.75) WITHIN GROUP (ORDER BY p_retailprice) AS q3
  FROM part GROUP BY p_brand
)
SELECT part.p_brand AS p_brand, count(*) AS n,
       round(max(q.q1), 6) AS q1, round(max(q.q3), 6) AS q3,
       CAST(sum(CASE WHEN p_retailprice < q.q1 - 1.5 * (q.q3 - q.q1)
                       OR p_retailprice > q.q3 + 1.5 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM part JOIN q ON part.p_brand = q.p_brand
GROUP BY part.p_brand ORDER BY p_brand
"""

QUERIES["part_iqr_outliers"] = part_iqr_outliers
ORACLES["part_iqr_outliers"] = PART_IQR_SQL


# --------------------------------------------------------------------------
# lineitem_cycle_time: fulfilment latency — days from order to line-item
# ship, summarized per order priority (mean, exact p50/p90, n). The one
# fact-fact join (lineitem x orders on orderkey) is the q3-shape shuffle —
# bucketing both tables on orderkey removes it (see SCALE.md); the
# percentile aggregate is per-priority (bounded domain).
def lineitem_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority", F.datediff("l_shipdate", "o_orderdate").alias("days")
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("days"), 6).alias("mean_days"),
            F.round(
                F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY days)"), 6
            ).alias("p50"),
            F.round(
                F.expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY days)"), 6
            ).alias("p90"),
        )
        .orderBy("o_orderpriority")
    )


LINEITEM_CYCLE_SQL = """
SELECT o_orderpriority, count(*) AS n,
       round(avg(datediff('day', o_orderdate, l_shipdate)), 6) AS mean_days,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY datediff('day', o_orderdate, l_shipdate)), 6) AS p50,
       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY datediff('day', o_orderdate, l_shipdate)), 6) AS p90
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

QUERIES["lineitem_cycle_time"] = lineitem_cycle_time
ORACLES["lineitem_cycle_time"] = LINEITEM_CYCLE_SQL


# --------------------------------------------------------------------------
# nation_market_concentration: Herfindahl-Hirschman index of supplier
# revenue within each nation — the antitrust-style concentration number
# ("is this market a monopoly") per supplier nation. Per-(nation, supplier)
# revenue aggregates first (partial-agg shuffle on suppkey), shares via one
# window over the bounded supplier-aggregate, then HHI per nation. The
# supplier/nation dims broadcast onto the lineitem scan.
def nation_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,6)")
            ).alias("rev")
        )
    )
    w = Window.partitionBy("n_name")
    # shares in DOUBLE: decimal division scale rules differ across engines,
    # a double ratio of exact decimal sums does not
    share = F.col("rev").cast("double") / F.sum("rev").over(w).cast("double")
    return (
        rev.withColumn("share", share)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum(F.col("share") * F.col("share")), 6).alias("hhi"),
        )
        .orderBy("n_name")
    )


NATION_HHI_SQL = """
WITH rev AS (
  SELECT n_name, s_suppkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, s_suppkey
), shares AS (
  SELECT n_name, CAST(rev AS DOUBLE) / CAST(sum(rev) OVER (PARTITION BY n_name) AS DOUBLE) AS share FROM rev
)
SELECT n_name, count(*) AS n_suppliers, round(sum(share * share), 6) AS hhi
FROM shares GROUP BY n_name ORDER BY n_name
"""

QUERIES["nation_market_concentration"] = nation_market_concentration
ORACLES["nation_market_concentration"] = NATION_HHI_SQL


# --------------------------------------------------------------------------
# orders_survival_curve: Kaplan-Meier over inter-order durations — the
# survival-analysis staple ("how long until a customer orders again"),
# with right-censoring at the study end (a customer's last order has no
# next; it is censored at max(o_orderdate)). The product-limit estimator
# runs as pure windows: at-risk counts via a DESC cumulative sum over the
# per-duration aggregate, the product via exp(sum(ln(factor))) ASC, and the
# d = n terminal row forced to exactly 0 (no ln(0) on either engine).
# Output: one row per event time (d > 0): at-risk, events, survival.
def orders_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    study_end = o.agg(F.max("o_orderdate").alias("e")).first()["e"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    per = o.select(
        F.coalesce(F.datediff(nxt, F.col("o_orderdate")), F.datediff(F.lit(study_end), F.col("o_orderdate"))).alias("dur"),
        nxt.isNotNull().cast("long").alias("event"),
    )
    by_t = per.groupBy("dur").agg(F.sum("event").alias("d"), F.count("*").alias("m"))
    w_desc = Window.orderBy(F.desc("dur")).rowsBetween(Window.unboundedPreceding, 0)
    rs = by_t.withColumn("n", F.sum("m").over(w_desc))
    factor = F.when(F.col("d") < F.col("n"), F.log(1.0 - F.col("d") / F.col("n"))).otherwise(F.lit(0.0))
    w_asc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    km = rs.withColumn("cum", F.sum(factor).over(w_asc)).select(
        "dur",
        "n",
        "d",
        F.when(F.col("d") == F.col("n"), F.lit(0.0)).otherwise(F.round(F.exp("cum"), 6)).alias("survival"),
    )
    return km.filter(F.col("d") > 0).orderBy("dur")


ORDERS_SURVIVAL_SQL = """
WITH base AS (
  SELECT o_custkey, o_orderdate,
         lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS nxt
  FROM orders
), per AS (
  SELECT coalesce(datediff('day', o_orderdate, nxt),
                  datediff('day', o_orderdate, (SELECT max(o_orderdate) FROM orders))) AS dur,
         CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM base
), by_t AS (
  SELECT dur, CAST(sum(event) AS BIGINT) AS d, count(*) AS m FROM per GROUP BY dur
), rs AS (
  SELECT dur, d, CAST(sum(m) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n
  FROM by_t
), km AS (
  SELECT dur, n, d,
         sum(CASE WHEN d < n THEN ln(1.0 - CAST(d AS DOUBLE) / n) ELSE 0.0 END)
           OVER (ORDER BY dur ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM rs
)
SELECT dur, n, d,
       CASE WHEN d = n THEN 0.0 ELSE round(exp(cum), 6) END AS survival
FROM km WHERE d > 0 ORDER BY dur
"""

QUERIES["orders_survival_curve"] = orders_survival_curve
ORACLES["orders_survival_curve"] = ORDERS_SURVIVAL_SQL


# --------------------------------------------------------------------------
# customer_gini: revenue-inequality Gini coefficient — the third member of
# the concentration family (ABC buckets, HHI, Gini). Closed form over the
# revenue-sorted per-customer aggregate: G = 2*sum(i*x_i)/(n*sum(x)) -
# (n+1)/n. The customer grain is SF-linear, so the global rank i comes from
# functions/prefix.distributed_row_number (range shuffle + offset table) —
# no one-task global-ORDER-BY WindowExec anywhere in the plan.
def customer_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.prefix import distributed_row_number

    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("x")
    )
    ranked = distributed_row_number(per, ["x", "o_custkey"], out_col="__pos__").withColumn(
        "i", F.col("__pos__") + 1
    )
    return ranked.agg(
        F.count("*").alias("n_customers"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.count("*") * F.sum("x"))
            - (F.count("*") + 1.0) / F.count("*"),
            6,
        ).alias("gini"),
    )


CUSTOMER_GINI_SQL = """
WITH per AS (
  SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS x
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM per
)
SELECT count(*) AS n_customers,
       round(2.0 * sum(i * x) / (count(*) * sum(x)) - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
"""

QUERIES["customer_gini"] = customer_gini
ORACLES["customer_gini"] = CUSTOMER_GINI_SQL


# --------------------------------------------------------------------------
# orders_bloom_point_lookup: the manifest-Bloom pruning path graded end-to-
# end — the table is committed in orderkey ranges (so every file's
# o_custkey min/max spans the whole domain and range stats cannot prune a
# customer probe), with Bloom filters on o_custkey; the point lookup reads
# through read(where=) and must return exactly the probed customer's
# orders. The oracle is the straight relational scan.
_BLOOM_CUST = 7


def orders_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    t = SnapshotTable(
        spark,
        scoped_dir("snaptbl_bloom_"),
        bloom_cols=["o_custkey"],
        # 64K bits: keeps the false-positive rate ~0 at every SF, so
        # n_files_scanned equals TRUE file membership (which the oracle
        # derives relationally) rather than membership-plus-fp-noise
        bloom_bits=1 << 16,
    )
    third = o.agg(F.max("o_orderkey")).first()[0] // 3
    t.overwrite(o.filter(F.col("o_orderkey") <= third).coalesce(1))
    t.append(o.filter((F.col("o_orderkey") > third) & (F.col("o_orderkey") <= 2 * third)).coalesce(1))
    t.append(o.filter(F.col("o_orderkey") > 2 * third).coalesce(1))
    pruned = len(t.files(where=("o_custkey", "=", _BLOOM_CUST)))
    return (
        t.read(where=("o_custkey", "=", _BLOOM_CUST))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .withColumn("n_files_scanned", F.lit(pruned))
        .orderBy("o_orderstatus")
    )


ORDERS_BLOOM_LOOKUP_SQL = f"""
WITH hit AS (SELECT * FROM orders WHERE o_custkey = {_BLOOM_CUST}),
files AS (
  SELECT count(DISTINCT CASE WHEN o_custkey = {_BLOOM_CUST} THEN
           CASE WHEN o_orderkey <= (SELECT max(o_orderkey) // 3 FROM orders) THEN 1
                WHEN o_orderkey <= 2 * (SELECT max(o_orderkey) // 3 FROM orders) THEN 2
                ELSE 3 END END) AS n_files
  FROM orders
)
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total,
       (SELECT CAST(n_files AS INT) FROM files) AS n_files_scanned
FROM hit GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_bloom_point_lookup"] = orders_bloom_point_lookup
ORACLES["orders_bloom_point_lookup"] = ORDERS_BLOOM_LOOKUP_SQL


# --------------------------------------------------------------------------
# orders_arrow_roundtrip: the Arrow IPC format graded end-to-end — orders
# write as partitioned .arrow files (one per task through pyarrow.fs), read
# back via the binaryFile + per-task IPC decode path, and aggregate; the
# oracle aggregates the source table directly, so any row lost, duplicated,
# or value-corrupted in either direction fails the hash.
def orders_arrow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.io.reader import Reader
    from bears_spark.io.writer import Writer

    o = load_table(spark, sf_dir, "orders")
    out = scoped_dir("arrow_rt_") + "/orders.arrow"
    Writer.of("arrow").write(o.repartition(4), out)
    back = Reader.of("arrow").read(out, spark=spark).df
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("o_custkey").alias("n_cust"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_ARROW_RT_SQL = """
SELECT o_orderstatus, count(*) AS n, count(DISTINCT o_custkey) AS n_cust,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_arrow_roundtrip"] = orders_arrow_roundtrip
ORACLES["orders_arrow_roundtrip"] = ORDERS_ARROW_RT_SQL


# --------------------------------------------------------------------------
# cust_target_encoding: leakage-safe K-fold mean-target encoding of the
# customer market segment against order value — the supervised-encoder
# fit at (category x fold) grain. Fold = pmod(o_orderkey, 5): stable,
# reproducible, identical in the oracle. One partial-agg shuffle over the
# fact table; everything after runs on the 25-row aggregate.
def cust_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.processor.encoders import target_encode_kfold

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_totalprice").alias("y"),
        F.pmod("o_orderkey", F.lit(5)).alias("fold"),
    )
    enc = target_encode_kfold(j, "seg", "y", "fold", smoothing=20.0)
    return enc.select(
        F.col("cat").alias("seg"),
        "fold",
        F.round("enc", 4).alias("enc"),
        "n_rows",
    ).orderBy("seg", "fold")


CUST_TARGET_ENCODING_SQL = """
WITH j AS (
  SELECT c.c_mktsegment AS seg, o.o_totalprice AS y, o.o_orderkey % 5 AS fold
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), tot AS (
  SELECT seg, fold, sum(y) AS sy, count(*) AS n FROM j GROUP BY 1, 2
), enc AS (
  SELECT seg, fold, n,
         (sum(sy) OVER (PARTITION BY seg) - sy) AS oof_sum,
         (sum(n)  OVER (PARTITION BY seg) - n)  AS oof_n,
         (sum(sy) OVER () - sy) AS gl_sum,
         (sum(n)  OVER () - n)  AS gl_n
  FROM tot
)
SELECT seg, fold,
       round((oof_sum + 20.0 * (gl_sum / gl_n)) / (oof_n + 20.0), 4) AS enc,
       n AS n_rows
FROM enc ORDER BY seg, fold
"""


# cust_woe_urgency: weight-of-evidence of the market segment for the
# binary "order is urgent" label, plus per-category information-value
# terms — the risk-scoring encoder at bounded category grain.
def cust_woe_urgency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.processor.encoders import woe_iv

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("pos"),
    )
    out = woe_iv(j, "seg", "pos", alpha=0.5)
    return out.select(
        F.col("cat").alias("seg"),
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.round("woe", 6).alias("woe"),
        F.round("iv_term", 6).alias("iv_term"),
    ).orderBy("seg")


CUST_WOE_SQL = """
WITH j AS (
  SELECT c.c_mktsegment AS seg,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), agg AS (
  SELECT seg, sum(pos) AS np, count(*) - sum(pos) AS nn FROM j GROUP BY 1
), tot AS (SELECT sum(np) AS tp, sum(nn) AS tn FROM agg)
SELECT seg, CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       round(ln(((np + 0.5) / (tp + 0.5)) / ((nn + 0.5) / (tn + 0.5))), 6) AS woe,
       round((((np + 0.5) / (tp + 0.5)) - ((nn + 0.5) / (tn + 0.5)))
             * ln(((np + 0.5) / (tp + 0.5)) / ((nn + 0.5) / (tn + 0.5))), 6) AS iv_term
FROM agg, tot ORDER BY seg
"""


QUERIES["cust_target_encoding"] = cust_target_encoding
ORACLES["cust_target_encoding"] = CUST_TARGET_ENCODING_SQL
QUERIES["cust_woe_urgency"] = cust_woe_urgency
ORACLES["cust_woe_urgency"] = CUST_WOE_SQL


# --------------------------------------------------------------------------
# orders_layout_report: physical-layout diagnostic from parquet FOOTERS only
# — write orders clustered on o_orderkey (single writer task, 2000-row file
# rolls, so the file count is exactly ceil(n/2000) and files tile the key
# range disjointly), then prove it from footer stats: 0 overlapping row
# groups, full min/max coverage, every row accounted for. The oracle
# derives the same invariants from the logical table.
def orders_layout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.io.layout import clustering_report

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    root = scoped_dir("layout_")
    (
        o.coalesce(1)
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 2000)
        .parquet(root)
    )
    return clustering_report(spark, root, "o_orderkey").select(
        "column",
        "n_files",
        "n_row_groups",
        "total_rows",
        "overlapping_rgs",
        F.col("global_min").cast("bigint").alias("key_min"),
        F.col("global_max").cast("bigint").alias("key_max"),
    )


ORDERS_LAYOUT_SQL = """
SELECT 'o_orderkey' AS "column",
       CAST(ceil(count(*) / 2000.0) AS BIGINT) AS n_files,
       CAST(ceil(count(*) / 2000.0) AS BIGINT) AS n_row_groups,
       count(*) AS total_rows,
       CAST(0 AS BIGINT) AS overlapping_rgs,
       min(o_orderkey) AS key_min,
       max(o_orderkey) AS key_max
FROM orders
"""

QUERIES["orders_layout_report"] = orders_layout_report
ORACLES["orders_layout_report"] = ORDERS_LAYOUT_SQL


# --------------------------------------------------------------------------
# orders_price_auc: exact ROC-AUC of order value as a predictor of urgency,
# by the Mann-Whitney rank-sum with average ranks for ties — and NOT via a
# one-task global window: ranks come from a partial-agg reduction to the
# DISTINCT-value frame plus the distributed prefix cumsum, so every stage
# is parallel at any SF. The classification-eval counterpart of
# retrieval_eval_report.
def orders_price_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.prefix import partitioned_cumsum

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
    )
    per_val = o.groupBy("x").agg(F.count("*").alias("__n__"), F.sum("y").alias("__np__"))
    scanned = partitioned_cumsum(per_val, ["x"], ["__n__"], suffix="_cum")
    # average rank of every row tied at value v: ranks (cum-n+1 .. cum)
    ranked = scanned.withColumn(
        "__ar__", F.col("__n___cum") - F.col("__n__") + (F.col("__n__") + 1) / 2.0
    )
    agg = ranked.agg(
        F.sum("__np__").alias("np"),
        (F.sum("__n__") - F.sum("__np__")).alias("nn"),
        F.sum(F.col("__np__") * F.col("__ar__")).alias("rank_sum_pos"),
    )
    return agg.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.round(
            (F.col("rank_sum_pos") - F.col("np") * (F.col("np") + 1) / 2.0)
            / (F.col("np") * F.col("nn")),
            6,
        ).alias("auc"),
    )


ORDERS_PRICE_AUC_SQL = """
WITH s AS (
  SELECT o_totalprice AS x,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
), r AS (
  SELECT y,
         rank() OVER (ORDER BY x) + (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS ar
  FROM s
)
SELECT CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
       round((sum(CASE WHEN y = 1 THEN ar END) - sum(y) * (sum(y) + 1) / 2.0)
             / (sum(y) * (count(*) - sum(y))), 6) AS auc
FROM r
"""

QUERIES["orders_price_auc"] = orders_price_auc
ORACLES["orders_price_auc"] = ORDERS_PRICE_AUC_SQL


# --------------------------------------------------------------------------
# orders_urgency_calibration: reliability table — orders deciled by value
# (exact global ntile through the distributed prefix machinery, unique
# tiebreak on the key), then per-decile urgency rate vs average value. The
# "is the score monotone in the outcome?" diagnostic that pairs with
# orders_price_auc.
def orders_urgency_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.prefix import partitioned_ntile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("x"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
    )
    tiled = partitioned_ntile(o, ["x", "o_orderkey"], 10, out_col="decile")
    return (
        tiled.groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("y"), 6).alias("pos_rate"),
            F.round(F.avg("x"), 4).alias("avg_price"),
        )
        .orderBy("decile")
    )


ORDERS_URGENCY_CALIBRATION_SQL = """
WITH s AS (
  SELECT o_orderkey, o_totalprice AS x,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT decile, count(*) AS n, round(avg(y), 6) AS pos_rate,
       round(avg(x), 4) AS avg_price
FROM s GROUP BY decile ORDER BY decile
"""

QUERIES["orders_urgency_calibration"] = orders_urgency_calibration
ORACLES["orders_urgency_calibration"] = ORDERS_URGENCY_CALIBRATION_SQL


# --------------------------------------------------------------------------
# orders_urgency_isotonic: isotonic (PAVA) calibration of the urgency rate
# against the order-value bin, per order status — the monotone-regression
# step up from orders_urgency_calibration's raw reliability table. Rows
# reduce to the (status x price-bin) grain first (a partial-agg groupBy),
# so the sequential PAVA pass sees ~25 bins per status; the bounded range
# join applies the fitted step function back to bins. The DuckDB oracle is
# the classical max-min characterization fit(i) = max_{j<=i} min_{k>=i}
# wmean(y, [j..k]) — exactly the function PAVA computes — evaluated over
# interval prefix sums (O(bins^3), bins ~ 25).
def orders_urgency_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.analytics import isotonic_fit

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("g"),
        F.floor(F.col("o_totalprice") / 20000).cast("double").alias("x"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
    )
    seg = isotonic_fit(o, "g", "x", "y").alias("seg")
    bins = o.groupBy("g", "x").agg(F.count("*").alias("n_bin")).alias("bins")
    fitted = bins.join(
        seg,
        (F.col("bins.g") == F.col("seg.g"))
        & (F.col("bins.x") >= F.col("seg.x_from"))
        & (F.col("bins.x") <= F.col("seg.x_to")),
    )
    return fitted.select(
        F.col("bins.g").alias("status"),
        F.col("bins.x").cast("bigint").alias("bin"),
        F.round(F.col("seg.yhat"), 6).alias("yhat"),
        F.col("bins.n_bin").alias("n_bin"),
    ).orderBy("status", "bin")


ORDERS_URGENCY_ISOTONIC_SQL = """
WITH b AS (
  SELECT o_orderstatus AS g, CAST(floor(o_totalprice / 20000) AS DOUBLE) AS x,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE) AS s,
         CAST(count(*) AS DOUBLE) AS w
  FROM orders GROUP BY 1, 2
), pref AS (
  SELECT g, x,
         sum(s) OVER (PARTITION BY g ORDER BY x) AS cs,
         sum(w) OVER (PARTITION BY g ORDER BY x) AS cw,
         sum(s) OVER (PARTITION BY g ORDER BY x) - s AS cs0,
         sum(w) OVER (PARTITION BY g ORDER BY x) - w AS cw0
  FROM b
), iv AS (
  SELECT pj.g, pj.x AS xj, pk.x AS xk,
         (pk.cs - pj.cs0) / (pk.cw - pj.cw0) AS m
  FROM pref pj JOIN pref pk ON pj.g = pk.g AND pj.x <= pk.x
), inner_min AS (
  SELECT i.g, i.x, iv.xj, min(iv.m) AS mn
  FROM b i JOIN iv ON iv.g = i.g AND iv.xj <= i.x AND iv.xk >= i.x
  GROUP BY 1, 2, 3
), fit AS (
  SELECT g, x, max(mn) AS yhat FROM inner_min GROUP BY 1, 2
)
SELECT fit.g AS status, CAST(fit.x AS BIGINT) AS bin,
       round(fit.yhat, 6) AS yhat, CAST(b.w AS BIGINT) AS n_bin
FROM fit JOIN b ON b.g = fit.g AND b.x = fit.x
ORDER BY status, bin
"""

QUERIES["orders_urgency_isotonic"] = orders_urgency_isotonic
ORACLES["orders_urgency_isotonic"] = ORDERS_URGENCY_ISOTONIC_SQL


# --------------------------------------------------------------------------
# part_pareto_frontier: 2-D skyline (cheapest x smallest part frontier) —
# the O(n^2) NOT-EXISTS dominance turned into a distributed prefix-min:
# reduce to the distinct-price grain, range-partitioned running min of
# group-min size (functions/prefix.py partitioned_scan), strict-prior via
# global_shift, then a broadcast-able join back. No one-task window, no
# cartesian; the oracle states the dominance definition directly.
# part_association_rules: market-basket rules (support>=3, confidence,
# lift) from distinct-part co-occurrence within orders — candidate pairs
# are an equi-join on the order key, bounded by per-order basket size.
# orders_conformal_interval: split-conformal regression interval — fold 0
# fits a closed-form OLS from one pass of sufficient statistics, fold 1
# takes the 0.9 residual quantile (exact percentile), fold 2 reports the
# empirical coverage. The two 1-row model frames ride broadcast scalar
# crossJoins (audit-exempted shape); coverage ~ 0.9 by the conformal
# guarantee REGARDLESS of model quality.
def part_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.prefix import global_shift, partitioned_scan

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_retailprice").alias("price"), F.col("p_size").alias("size")
    )
    # strictly-cheaper dominance: reduce to the distinct-price grain, then a
    # distributed prefix-min of group-min-size shifted one row (strict prior)
    per_price = part.groupBy("price").agg(F.min("size").alias("gmin"))
    scanned = partitioned_scan(per_price, ["price"], {"gmin": ["min"]})
    prior = global_shift(scanned, ["price"], ["gmin_cummin"], periods=1)
    prior = prior.select(
        "price",
        F.col("gmin").alias("grp_min"),
        F.col("gmin_cummin_shift").alias("prior_min"),
    )
    flagged = part.join(prior, "price")
    return (
        flagged.where(
            (F.col("prior_min").isNull() | (F.col("prior_min") > F.col("size")))
            & (F.col("grp_min") >= F.col("size"))
        )
        .select("p_partkey", "price", "size")
        .orderBy("price", "size", "p_partkey")
    )


PART_PARETO_SQL = """
WITH g AS (SELECT p_partkey, p_retailprice AS price, p_size AS size FROM part)
SELECT p_partkey, price, size FROM g p
WHERE NOT EXISTS (
  SELECT 1 FROM g q
  WHERE q.price <= p.price AND q.size <= p.size
    AND (q.price < p.price OR q.size < p.size))
ORDER BY price, size, p_partkey
"""



def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_orders = li.select("l_orderkey").distinct().agg(F.count("*").alias("n_orders"))
    item = li.groupBy("l_partkey").agg(F.count("*").alias("supp_item"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count("*").alias("supp_ab"))
        .where(F.col("supp_ab") >= 3)
    )
    # both rule directions from the canonical pair
    rules = pairs.select("pa", "pb", "supp_ab").unionByName(
        pairs.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"), "supp_ab")
    )
    ia = item.select(F.col("l_partkey").alias("pa"), F.col("supp_item").alias("supp_a"))
    ib = item.select(F.col("l_partkey").alias("pb"), F.col("supp_item").alias("supp_b"))
    out = (
        rules.join(ia, "pa")
        .join(ib, "pb")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            "supp_ab",
            F.round(F.col("supp_ab") / F.col("supp_a"), 6).alias("confidence"),
            F.round(
                (F.col("supp_ab") * F.col("n_orders"))
                / (F.col("supp_a") * F.col("supp_b")),
                6,
            ).alias("lift"),
        )
    )
    return out.orderBy(F.desc("lift"), F.desc("confidence"), "pa", "pb").limit(100)


PART_ASSOC_SQL = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lp),
item AS (SELECT l_partkey, count(*) AS supp_item FROM lp GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS supp_ab
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
), rules AS (
  SELECT pa, pb, supp_ab FROM pairs
  UNION ALL
  SELECT pb, pa, supp_ab FROM pairs
)
SELECT r.pa, r.pb, r.supp_ab,
       round(CAST(r.supp_ab AS DOUBLE) / ia.supp_item, 6) AS confidence,
       round(CAST(r.supp_ab AS DOUBLE) * n.n_orders / (ia.supp_item * ib.supp_item), 6) AS lift
FROM rules r
JOIN item ia ON ia.l_partkey = r.pa
JOIN item ib ON ib.l_partkey = r.pb
CROSS JOIN n
ORDER BY lift DESC, confidence DESC, pa, pb
LIMIT 100
"""



def orders_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    feat = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("x")
    )
    j = orders.join(feat, orders.o_orderkey == feat.l_orderkey).select(
        F.col("o_totalprice").alias("y"),
        "x",
        F.pmod("o_orderkey", F.lit(3)).alias("fold"),
    )
    train = j.where(F.col("fold") == 0)
    m = train.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    model = m.select(
        ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
         / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))).alias("slope"),
        F.col("n").alias("n_train"),
        "sx",
        "sy",
    ).select(
        "slope",
        ((F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n_train")).alias("b0"),
        "n_train",
    )
    cal = (
        j.where(F.col("fold") == 1)
        .crossJoin(F.broadcast(model))
        .select(
            F.abs(F.col("y") - (F.col("slope") * F.col("x") + F.col("b0"))).alias("r"),
            "slope",
            "b0",
            "n_train",
        )
    )
    q = cal.groupBy("slope", "b0", "n_train").agg(
        F.percentile("r", F.lit(0.9)).alias("qhat"), F.count("*").alias("n_cal")
    )
    test = (
        j.where(F.col("fold") == 2)
        .crossJoin(F.broadcast(q))
        .select(
            "slope", "b0", "n_train", "qhat", "n_cal",
            (F.abs(F.col("y") - (F.col("slope") * F.col("x") + F.col("b0"))) <= F.col("qhat"))
            .cast("long")
            .alias("hit"),
        )
    )
    return test.groupBy("slope", "b0", "n_train", "qhat", "n_cal").agg(
        F.round(F.avg("hit"), 6).alias("coverage"), F.count("*").alias("n_test")
    ).select(
        F.round("slope", 6).alias("slope"),
        F.round("b0", 4).alias("intercept"),
        "n_train",
        F.round("qhat", 4).alias("qhat"),
        "n_cal",
        "coverage",
        "n_test",
    )


ORDERS_CONFORMAL_SQL = """
WITH feat AS (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS x
  FROM lineitem GROUP BY 1
), j AS (
  SELECT o.o_totalprice AS y, f.x, o.o_orderkey % 3 AS fold
  FROM orders o JOIN feat f ON o.o_orderkey = f.l_orderkey
), m AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x*x) AS sxx, sum(x*y) AS sxy
  FROM j WHERE fold = 0
), model AS (
  SELECT (sxy - sx*sy/n) / (sxx - sx*sx/n) AS slope, n AS n_train, sx, sy FROM m
), model2 AS (
  SELECT slope, (sy - slope*sx) / n_train AS b0, n_train FROM model
), q AS (
  SELECT slope, b0, n_train,
         quantile_cont(abs(y - (slope*x + b0)), 0.9) AS qhat, count(*) AS n_cal
  FROM j CROSS JOIN model2 WHERE fold = 1 GROUP BY 1, 2, 3
)
SELECT round(slope, 6) AS slope, round(b0, 4) AS intercept, n_train,
       round(qhat, 4) AS qhat, n_cal,
       round(avg(CASE WHEN abs(y - (slope*x + b0)) <= qhat THEN 1 ELSE 0 END), 6) AS coverage,
       count(*) AS n_test
FROM j CROSS JOIN q WHERE fold = 2
GROUP BY slope, b0, n_train, qhat, n_cal
"""

QUERIES["part_pareto_frontier"] = part_pareto_frontier
ORACLES["part_pareto_frontier"] = PART_PARETO_SQL
QUERIES["part_association_rules"] = part_association_rules
ORACLES["part_association_rules"] = PART_ASSOC_SQL
QUERIES["orders_conformal_interval"] = orders_conformal_interval
ORACLES["orders_conformal_interval"] = ORDERS_CONFORMAL_SQL


# --------------------------------------------------------------------------
# Item-item cosine similarity from order co-occurrence — the classical
# neighborhood recommender: sim(a,b) = |orders(a) AND orders(b)| /
# sqrt(|orders(a)| * |orders(b)|), top-20 pairs. Candidate pairs are an
# equi-join on the order key (bounded by per-order basket size), marginals
# broadcast back onto the pair aggregate.
def part_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    freq = li.groupBy("l_partkey").agg(F.count("*").alias("nf"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count("*").alias("cooc"))
        .where(F.col("cooc") >= 2)
    )
    fa = freq.select(F.col("l_partkey").alias("pa"), F.col("nf").alias("na"))
    fb = freq.select(F.col("l_partkey").alias("pb"), F.col("nf").alias("nb"))
    out = (
        pairs.join(fa, "pa")
        .join(fb, "pb")
        .select(
            "pa",
            "pb",
            "cooc",
            F.round(F.col("cooc") / F.sqrt(F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
    )
    return out.orderBy(F.desc("cosine"), "pa", "pb").limit(20)


PART_ITEM_COSINE_SQL = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
freq AS (SELECT l_partkey, count(*) AS nf FROM lp GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS cooc
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT p.pa, p.pb, p.cooc,
       round(p.cooc / sqrt(fa.nf * fb.nf), 6) AS cosine
FROM pairs p JOIN freq fa ON fa.l_partkey = p.pa JOIN freq fb ON fb.l_partkey = p.pb
ORDER BY cosine DESC, pa, pb
LIMIT 20
"""

QUERIES["part_item_cosine"] = part_item_cosine
ORACLES["part_item_cosine"] = PART_ITEM_COSINE_SQL


# --------------------------------------------------------------------------
# part_item_recs: classical item-based collaborative-filtering readout —
# score each (customer, unowned part) by the SUM of item-item cosine
# similarities between the candidate part and the parts the customer already
# bought (the part_item_cosine similarity table, symmetrized); top-3
# recommendations for the 10 customers with the most distinct parts. All
# candidate generation flows through the bounded item-pair frame
# (co-occurrence >= 2) joined to the 10 broadcast customers' owned sets —
# never a user x catalog cross join; per-customer top-3 is a
# WindowGroupLimit on the customer key.
def part_item_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.caching import scoped_persist

    # ps and owned each feed multiple downstream plans (pair join + freq;
    # top-10 fit + the per-customer sets) — persist once, scoped-drained
    # Carry each part's corpus frequency ON the li rows (groupBy + join,
    # computed ONCE inside the cached plan) so the similarity denominator
    # computes inside the pair aggregation via first(na)/first(nb) —
    # removing the per-run freq aggregation job and TWO joins of the pair
    # table against it (same carry-sizes-on-rows discipline as
    # ngram_jaccard_pairs / tfidf_cosine_pairs; guide §2.3 — decide with
    # small rows, never re-join the heavy pair table for a scalar).
    # groupBy+join rather than count().over(Window.partitionBy(partkey)):
    # the window form ships EVERY row of a part to one window task with no
    # partial aggregation — a single hot part on a Zipf catalog serializes
    # one reducer at scale — while the groupBy keeps map-side combine and
    # the join back is AQE-skew-protected (guide §2.5; VERDICT r11 #4).
    # Same per-run plan either way: both run once, inside the cached plan.
    li_distinct = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    li = scoped_persist(
        li_distinct.join(li_distinct.groupBy("l_partkey").agg(F.count("*").alias("nf")), "l_partkey")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    owned = scoped_persist(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    top_cust = (
        owned.groupBy("o_custkey")
        .agg(F.count("*").alias("n_parts"))
        .orderBy(F.desc("n_parts"), "o_custkey")
        .limit(10)
        .select("o_custkey")
    )
    # only the 10 selected customers ever reach `scored`, so BOTH the
    # ownership probe and the already-owned exclusion run against the tiny
    # broadcast per-customer sets — the anti join must not rescan the full
    # corpus ownership table
    cust_owned = scoped_persist(owned.join(F.broadcast(top_cust), "o_custkey"))
    # query-driven pruning of candidate generation: similarity rows are only
    # consumed with pa IN (the selected customers' parts), so the pair join's
    # LEFT side is pre-filtered to those rows BEFORE the shuffle — directed
    # (pa, pb) counts over a P-sized left input instead of the full catalog's
    # symmetric half-pairs (part_item_cosine keeps the full-catalog variant)
    p_parts = cust_owned.select("l_partkey").distinct()
    a = li.join(F.broadcast(p_parts), "l_partkey").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"), F.col("nf").alias("na")
    )
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"), F.col("nf").alias("nb"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("pa") != F.col("pb"))
        .groupBy("pa", "pb")
        .agg(
            F.count("*").alias("cooc"),
            F.first("na").alias("na"),  # constant within the group
            F.first("nb").alias("nb"),
        )
        .where(F.col("cooc") >= 2)
    )
    sims = pairs.select("pa", "pb", (F.col("cooc") / F.sqrt(F.col("na") * F.col("nb"))).alias("sim"))
    scored = (
        cust_owned.join(sims, cust_owned.l_partkey == sims.pa)
        .join(
            F.broadcast(
                cust_owned.select(F.col("o_custkey").alias("c2"), F.col("l_partkey").alias("p2"))
            ),
            (F.col("o_custkey") == F.col("c2")) & (F.col("pb") == F.col("p2")),
            "left_anti",
        )
        .groupBy("o_custkey", "pb")
        .agg(F.round(F.sum("sim"), 6).alias("score"))
    )
    w = Window.partitionBy("o_custkey").orderBy(F.desc("score"), F.asc("pb"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(F.col("o_custkey").alias("custkey"), F.col("pb").alias("rec_partkey"), "score", "rk")
        .orderBy("custkey", "rk")
    )


PART_ITEM_RECS_SQL = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
owned AS (
  SELECT DISTINCT o.o_custkey, lp.l_partkey
  FROM lp JOIN orders o ON lp.l_orderkey = o.o_orderkey
),
top_cust AS (
  SELECT o_custkey FROM owned GROUP BY 1
  ORDER BY count(*) DESC, o_custkey LIMIT 10
),
freq AS (SELECT l_partkey, count(*) AS nf FROM lp GROUP BY 1),
half AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS cooc
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
sym AS (
  SELECT pa, pb, cooc FROM half
  UNION ALL SELECT pb, pa, cooc FROM half
),
sims AS (
  SELECT s.pa, s.pb, s.cooc / sqrt(fa.nf * fb.nf) AS sim
  FROM sym s JOIN freq fa ON fa.l_partkey = s.pa JOIN freq fb ON fb.l_partkey = s.pb
),
scored AS (
  SELECT ow.o_custkey, s.pb, round(sum(s.sim), 6) AS score
  FROM owned ow
  JOIN top_cust tc ON tc.o_custkey = ow.o_custkey
  JOIN sims s ON s.pa = ow.l_partkey
  WHERE NOT EXISTS (
    SELECT 1 FROM owned o2 WHERE o2.o_custkey = ow.o_custkey AND o2.l_partkey = s.pb
  )
  GROUP BY 1, 2
),
rk AS (
  SELECT o_custkey, pb, score,
         row_number() OVER (PARTITION BY o_custkey ORDER BY score DESC, pb) AS rk
  FROM scored
)
SELECT o_custkey AS custkey, pb AS rec_partkey, score, rk
FROM rk WHERE rk <= 3 ORDER BY custkey, rk
"""

QUERIES["part_item_recs"] = part_item_recs
ORACLES["part_item_recs"] = PART_ITEM_RECS_SQL


# --------------------------------------------------------------------------
# part_decayed_popularity: exponentially time-decayed demand per part —
# each lineitem contributes exp(-ln(2)/half_life * age_days) as of the
# corpus max ship date (90-day half-life), so recent demand dominates; the
# freshness ranking every trending/feed surface runs. Map-only scoring +
# one groupBy + TakeOrderedAndProject; the as-of date is one collected
# scalar baked back as a literal.
def part_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate")
    asof_date = li.agg(F.max("l_shipdate")).first()[0]
    age = F.datediff(F.lit(asof_date), F.col("l_shipdate")).cast("double")
    lam = 0.007701635339554948  # ln(2) / 90-day half-life
    return (
        li.withColumn("wt", F.exp(-F.lit(lam) * age))
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("wt"), 6).alias("decayed_demand"),
        )
        .orderBy(F.desc("decayed_demand"), "l_partkey")
        .limit(15)
    )


PART_DECAYED_SQL = """
WITH maxd AS (SELECT max(l_shipdate) AS mx FROM lineitem)
SELECT l_partkey,
       count(*) AS n_items,
       round(sum(exp(-0.007701635339554948 * CAST(datediff('day', l_shipdate, mx) AS DOUBLE))), 6)
         AS decayed_demand
FROM lineitem, maxd
GROUP BY l_partkey
ORDER BY decayed_demand DESC, l_partkey
LIMIT 15
"""

QUERIES["part_decayed_popularity"] = part_decayed_popularity
ORACLES["part_decayed_popularity"] = PART_DECAYED_SQL


# --------------------------------------------------------------------------
# customer_next_order_backtest: analytic cadence-model backtest — for each
# customer with >= 3 distinct order dates, hold out the LAST order and
# predict its date as (second-last date) + mean training gap. The
# telescoping identity mean_gap = (second_last - first)/(n_train - 1) turns
# the whole fit into two aggregates per customer (no window, no sort).
# Reports MAE and exact interpolated median absolute error in days.
def customer_next_order_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", F.to_date("o_orderdate").alias("d"))
        .distinct()
    )
    last = od.groupBy("o_custkey").agg(F.max("d").alias("last_d"), F.count("*").alias("n_dates"))
    train = (
        od.join(last.select("o_custkey", "last_d"), "o_custkey")
        .where(F.col("d") < F.col("last_d"))
        .groupBy("o_custkey")
        .agg(F.max("d").alias("second_last"), F.min("d").alias("first_d"), F.count("*").alias("n_train"))
        .where(F.col("n_train") >= 2)
    )
    scored = (
        train.join(last.select("o_custkey", "last_d"), "o_custkey")
        .select(
            F.abs(
                F.datediff("last_d", "second_last").cast("double")
                - F.datediff("second_last", "first_d") / (F.col("n_train") - 1)
            ).alias("ae")
        )
    )
    return scored.agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg("ae"), 6).alias("mae_days"),
        F.round(F.expr("percentile(ae, 0.5)"), 6).alias("median_ae_days"),
    )


CUST_BACKTEST_SQL = """
WITH od AS (
  SELECT DISTINCT o_custkey, CAST(date_trunc('day', o_orderdate) AS DATE) AS d FROM orders
), last_t AS (
  SELECT o_custkey, max(d) AS last_d FROM od GROUP BY 1
), train AS (
  SELECT od.o_custkey, max(od.d) AS second_last, min(od.d) AS first_d, count(*) AS n_train
  FROM od JOIN last_t l ON od.o_custkey = l.o_custkey
  WHERE od.d < l.last_d
  GROUP BY 1 HAVING count(*) >= 2
), scored AS (
  SELECT abs(CAST(datediff('day', t.second_last, l.last_d) AS DOUBLE)
             - datediff('day', t.first_d, t.second_last) / (t.n_train - 1.0)) AS ae
  FROM train t JOIN last_t l ON t.o_custkey = l.o_custkey
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       round(avg(ae), 6) AS mae_days,
       round(quantile_cont(ae, 0.5), 6) AS median_ae_days
FROM scored
"""

QUERIES["customer_next_order_backtest"] = customer_next_order_backtest
ORACLES["customer_next_order_backtest"] = CUST_BACKTEST_SQL


# --------------------------------------------------------------------------
# part_return_rate_shrinkage: empirical-Bayes shrinkage of noisy per-part
# return rates toward the global prior — rate_eb = (returns + a*p0)/(n + a)
# with pseudo-count a=20. Small-n parts collapse to the prior; high-volume
# parts keep their empirical rate, so the shrunken top-10 is stable where
# the raw top-10 is dominated by tiny-sample flukes. Two aggregates + one
# collected scalar baked back as a literal.
def part_return_rate_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", (F.col("l_returnflag") == "R").cast("long").alias("ret")
    )
    g = li.agg(F.sum("ret"), F.count("*")).first()
    p0 = float(g[0]) / float(g[1])
    a = 20.0
    return (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("n"), F.sum("ret").alias("returns"))
        .select(
            "l_partkey",
            "n",
            "returns",
            F.round(F.col("returns") / F.col("n"), 6).alias("raw_rate"),
            F.round((F.col("returns") + F.lit(a * p0)) / (F.col("n") + F.lit(a)), 6).alias("eb_rate"),
        )
        .orderBy(F.desc("eb_rate"), "l_partkey")
        .limit(10)
    )


PART_EB_SQL = """
WITH g AS (
  SELECT sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1.0 / count(*) AS p0
  FROM lineitem
), per AS (
  SELECT l_partkey, count(*) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returns
  FROM lineitem GROUP BY 1
)
SELECT l_partkey, n, returns,
       round(returns * 1.0 / n, 6) AS raw_rate,
       round((returns + 20.0 * p0) / (n + 20.0), 6) AS eb_rate
FROM per, g
ORDER BY eb_rate DESC, l_partkey
LIMIT 10
"""

QUERIES["part_return_rate_shrinkage"] = part_return_rate_shrinkage
ORACLES["part_return_rate_shrinkage"] = PART_EB_SQL


# --------------------------------------------------------------------------
# orders_fd_violations: Deequ-style functional-dependency profiling — for
# each candidate FD lhs -> rhs, the number of lhs values that map to more
# than one rhs (violations), the worst fan-out, and whether the FD holds.
# Each check is one groupBy(lhs) + one tiny aggregate; candidates over the
# orders table's natural column pairs.
def orders_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    candidates = [
        ("o_orderkey", "o_custkey"),
        ("o_orderkey", "o_orderstatus"),
        ("o_custkey", "o_orderpriority"),
        ("o_orderpriority", "o_orderstatus"),
        ("o_custkey", "o_orderstatus"),
    ]
    parts = []
    for lhs, rhs in candidates:
        per = od.groupBy(lhs).agg(F.countDistinct(rhs).alias("k"))
        parts.append(
            per.agg(
                F.lit(f"{lhs}->{rhs}").alias("fd"),
                F.count("*").alias("n_lhs"),
                F.sum((F.col("k") > 1).cast("long")).alias("n_violating"),
                F.max("k").alias("max_fanout"),
            ).withColumn("holds", F.col("n_violating") == 0)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("fd")


ORDERS_FD_SQL = """
WITH checks AS (
  SELECT 'o_orderkey->o_custkey' AS fd, count(*) AS n_lhs,
         CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
         max(k) AS max_fanout
  FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS k FROM orders GROUP BY 1)
  UNION ALL
  SELECT 'o_orderkey->o_orderstatus', count(*),
         CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT), max(k)
  FROM (SELECT o_orderkey, count(DISTINCT o_orderstatus) AS k FROM orders GROUP BY 1)
  UNION ALL
  SELECT 'o_custkey->o_orderpriority', count(*),
         CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT), max(k)
  FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS k FROM orders GROUP BY 1)
  UNION ALL
  SELECT 'o_orderpriority->o_orderstatus', count(*),
         CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT), max(k)
  FROM (SELECT o_orderpriority, count(DISTINCT o_orderstatus) AS k FROM orders GROUP BY 1)
  UNION ALL
  SELECT 'o_custkey->o_orderstatus', count(*),
         CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT), max(k)
  FROM (SELECT o_custkey, count(DISTINCT o_orderstatus) AS k FROM orders GROUP BY 1)
)
SELECT fd, n_lhs, n_violating, max_fanout, n_violating = 0 AS holds
FROM checks ORDER BY fd
"""

QUERIES["orders_fd_violations"] = orders_fd_violations
ORACLES["orders_fd_violations"] = ORDERS_FD_SQL


# --------------------------------------------------------------------------
# orders_naive_bayes_eval: a complete train -> score -> evaluate ML loop as
# one declarative plan — multinomial Naive Bayes predicting o_orderpriority
# from (customer mktsegment, order month) with Laplace smoothing, split by
# md5 hash (80/20). The model is two tiny aggregate tables broadcast back
# onto the test rows; argmax runs per test order via WindowGroupLimit on
# the rounded score (deterministic tie-break by class).
def orders_naive_bayes_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64

    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rows = (
        od.join(cust, od.o_custkey == cust.c_custkey)
        .select(
            "o_orderkey",
            F.col("o_orderpriority").alias("y"),
            F.col("c_mktsegment").alias("f1"),
            F.month("o_orderdate").cast("string").alias("f2"),
            (md5_hash64("o_orderkey", salt="nb") % 5 == 0).alias("is_test"),
        )
    )
    train = rows.where(~F.col("is_test"))
    test = rows.where(F.col("is_test"))
    n_train = train.count()
    classes = train.groupBy("y").agg(F.count("*").alias("cy"))
    k = classes.count()
    # Laplace-smoothed log P(f|y) per feature; domain sizes for smoothing
    like = {}
    dom = {}
    for f in ("f1", "f2"):
        dom[f] = train.select(f).distinct().count()
        like[f] = train.groupBy("y", f).agg(F.count("*").alias(f"c_{f}"))
    # class fan-out as a literal-array explode (bounded label domain,
    # collected once) — map-side x|classes| fanout, no BroadcastNestedLoopJoin
    cls = sorted(r["y"] for r in classes.select("y").collect())
    scored = (
        test.withColumn("yc", F.explode(F.array(*[F.lit(c) for c in cls])))
        .join(F.broadcast(classes.withColumnRenamed("y", "yc")), "yc")
        .join(
            F.broadcast(like["f1"].withColumnRenamed("y", "yc")),
            ["yc", "f1"],
            "left",
        )
        .join(
            F.broadcast(like["f2"].withColumnRenamed("y", "yc")),
            ["yc", "f2"],
            "left",
        )
        .select(
            "o_orderkey",
            "y",
            "yc",
            F.round(
                F.log(F.col("cy") / F.lit(float(n_train)))
                + F.log(
                    (F.coalesce(F.col("c_f1"), F.lit(0)) + 1.0)
                    / (F.col("cy") + F.lit(float(dom["f1"])))
                )
                + F.log(
                    (F.coalesce(F.col("c_f2"), F.lit(0)) + 1.0)
                    / (F.col("cy") + F.lit(float(dom["f2"])))
                ),
                9,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("score"), F.asc("yc"))
    pred = scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    return pred.agg(
        F.lit(n_train).alias("n_train"),
        F.count("*").alias("n_test"),
        F.sum((F.col("yc") == F.col("y")).cast("long")).alias("n_correct"),
        F.round(F.avg((F.col("yc") == F.col("y")).cast("double")), 6).alias("accuracy"),
    )


NB_HASH = "('0x' || substr(md5('nb' || ':' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT"

ORDERS_NB_SQL = f"""
WITH rows_ AS (
  SELECT o.o_orderkey, o.o_orderpriority AS y, c.c_mktsegment AS f1,
         CAST(month(o.o_orderdate) AS VARCHAR) AS f2,
         {NB_HASH} % 5 = 0 AS is_test
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), train AS (SELECT * FROM rows_ WHERE NOT is_test),
test AS (SELECT * FROM rows_ WHERE is_test),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_train FROM train),
classes AS (SELECT y, count(*) AS cy FROM train GROUP BY 1),
d1 AS (SELECT count(DISTINCT f1) AS v FROM train),
d2 AS (SELECT count(DISTINCT f2) AS v FROM train),
l1 AS (SELECT y, f1, count(*) AS c_f1 FROM train GROUP BY 1, 2),
l2 AS (SELECT y, f2, count(*) AS c_f2 FROM train GROUP BY 1, 2),
scored AS (
  SELECT t.o_orderkey, t.y, cl.y AS yc,
         round(ln(cl.cy * 1.0 / nt.n_train)
               + ln((coalesce(l1.c_f1, 0) + 1.0) / (cl.cy + d1.v))
               + ln((coalesce(l2.c_f2, 0) + 1.0) / (cl.cy + d2.v)), 9) AS score
  FROM test t
  CROSS JOIN classes cl
  CROSS JOIN nt CROSS JOIN d1 CROSS JOIN d2
  LEFT JOIN l1 ON l1.y = cl.y AND l1.f1 = t.f1
  LEFT JOIN l2 ON l2.y = cl.y AND l2.f2 = t.f2
), pred AS (
  SELECT o_orderkey, y, yc,
         row_number() OVER (PARTITION BY o_orderkey ORDER BY score DESC, yc) AS rk
  FROM scored
)
SELECT (SELECT n_train FROM nt) AS n_train,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN yc = y THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(avg(CASE WHEN yc = y THEN 1.0 ELSE 0.0 END), 6) AS accuracy
FROM pred WHERE rk = 1
"""

QUERIES["orders_naive_bayes_eval"] = orders_naive_bayes_eval
ORACLES["orders_naive_bayes_eval"] = ORDERS_NB_SQL


# --------------------------------------------------------------------------
# orders_value_percent_rank: exact global percent_rank of o_totalprice for
# every order WITHOUT a one-task window — per-distinct-value counts run
# through partitioned_cumsum (range-partitioned prefix), pct_rank =
# (rows strictly below) / (n - 1), ties share a rank. Output pins the 20
# largest orders (deterministic) with their ranks.
def orders_value_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.prefix import partitioned_cumsum

    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n = od.count()
    pv = od.groupBy("o_totalprice").agg(F.count("*").alias("cnt"))
    cum = partitioned_cumsum(pv, ["o_totalprice"], ["cnt"])
    ranked = cum.select(
        "o_totalprice",
        F.round((F.col("cnt_cumsum") - F.col("cnt")) / F.lit(float(n - 1)), 6).alias("pct_rank"),
    )
    return (
        od.join(ranked, "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
        .select("o_orderkey", "o_totalprice", "pct_rank")
    )


ORDERS_PCTRANK_SQL = """
WITH n AS (SELECT count(*) AS n FROM orders),
pv AS (SELECT o_totalprice, count(*) AS cnt FROM orders GROUP BY 1),
cum AS (
  SELECT o_totalprice, cnt, sum(cnt) OVER (ORDER BY o_totalprice) AS cc FROM pv
), ranked AS (
  SELECT o_totalprice, round((cc - cnt) * 1.0 / (n.n - 1), 6) AS pct_rank
  FROM cum, n
)
SELECT o.o_orderkey, o.o_totalprice, r.pct_rank
FROM orders o JOIN ranked r ON o.o_totalprice = r.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 20
"""

QUERIES["orders_value_percent_rank"] = orders_value_percent_rank
ORACLES["orders_value_percent_rank"] = ORDERS_PCTRANK_SQL


_WILSON_Z = 1.959963984540054  # two-sided 95%


# --------------------------------------------------------------------------
# orders_basket_dispersion: basket-size (lines per order) distribution with
# the variance-to-mean (Fano) overdispersion factor — the retail stat that
# decides Poisson vs negative-binomial demand modeling. One groupBy to the
# order grain, closed-form moments after.
def orders_basket_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.groupBy("l_orderkey").agg(F.count("*").alias("n_lines"))
    return basket.agg(
        F.count("*").alias("n_orders"),
        F.round(F.avg("n_lines"), 6).alias("mean_lines"),
        F.round(F.var_pop("n_lines"), 6).alias("var_lines"),
        F.round(F.var_pop("n_lines") / F.avg("n_lines"), 6).alias("fano_factor"),
        F.min("n_lines").alias("min_lines"),
        F.max("n_lines").alias("max_lines"),
    )


BASKET_DISPERSION_SQL = """
WITH basket AS (
  SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       round(avg(n_lines), 6) AS mean_lines,
       round(var_pop(n_lines), 6) AS var_lines,
       round(var_pop(n_lines) / avg(n_lines), 6) AS fano_factor,
       min(n_lines) AS min_lines,
       max(n_lines) AS max_lines
FROM basket
"""

QUERIES["orders_basket_dispersion"] = orders_basket_dispersion
ORACLES["orders_basket_dispersion"] = BASKET_DISPERSION_SQL


# --------------------------------------------------------------------------
# supplier_wilson_ontime: rank suppliers by the Wilson-score LOWER bound of
# their on-time-ship rate (shipped within 30 days of order date) — the
# standard fix for small-sample rate rankings (a 2/2 supplier must not
# outrank a 95/100 one). One join to the order grain, one groupBy per
# supplier, closed-form interval; top-15 by lower bound.
def supplier_wilson_ontime(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(od, li.l_orderkey == od.o_orderkey).select(
        "l_suppkey",
        (F.datediff("l_shipdate", "o_orderdate") <= 30).cast("long").alias("ontime"),
    )
    per = j.groupBy("l_suppkey").agg(F.count("*").alias("n"), F.sum("ontime").alias("k"))
    p = F.col("k") / F.col("n")
    z2 = _WILSON_Z * _WILSON_Z
    denom = 1.0 + z2 / F.col("n")
    center = p + z2 / (2 * F.col("n"))
    margin = F.lit(_WILSON_Z) * F.sqrt((p * (1 - p) + z2 / (4 * F.col("n"))) / F.col("n"))
    return (
        per.select(
            "l_suppkey",
            "n",
            "k",
            F.round(p, 6).alias("raw_rate"),
            F.round((center - margin) / denom, 6).alias("wilson_lower"),
        )
        .orderBy(F.desc("wilson_lower"), "l_suppkey")
        .limit(15)
    )


SUPPLIER_WILSON_SQL = f"""
WITH j AS (
  SELECT l.l_suppkey,
         CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) <= 30 THEN 1 ELSE 0 END AS ontime
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), per AS (
  SELECT l_suppkey, count(*) AS n, CAST(sum(ontime) AS BIGINT) AS k FROM j GROUP BY 1
)
SELECT l_suppkey, n, k,
       round(k * 1.0 / n, 6) AS raw_rate,
       round((k * 1.0 / n + {_WILSON_Z * _WILSON_Z} / (2 * n)
              - {_WILSON_Z} * sqrt((k * 1.0 / n * (1 - k * 1.0 / n) + {_WILSON_Z * _WILSON_Z} / (4 * n)) / n))
             / (1.0 + {_WILSON_Z * _WILSON_Z} / n), 6) AS wilson_lower
FROM per
ORDER BY wilson_lower DESC, l_suppkey
LIMIT 15
"""

QUERIES["supplier_wilson_ontime"] = supplier_wilson_ontime
ORACLES["supplier_wilson_ontime"] = SUPPLIER_WILSON_SQL


# --------------------------------------------------------------------------
# orders_cents_chisq: synthetic-data / fraud fingerprinting — the
# distribution of the cents component of o_totalprice, chi-squared against
# uniform over 100 cells. Human-priced or generator-rounded data shows
# spikes (.99, .00); one conditional aggregation, closed-form statistic.
def orders_cents_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    cents = (F.round(F.col("o_totalprice") * 100) % 100).cast("int")
    per = od.select(cents.alias("c")).groupBy("c").agg(F.count("*").alias("obs"))
    tot = od.count()
    exp = tot / 100.0
    chi = per.agg(
        F.sum((F.col("obs") - F.lit(exp)) * (F.col("obs") - F.lit(exp)) / F.lit(exp)).alias("chi"),
        F.count("*").alias("cells_hit"),
    ).first()
    # cells with zero observations still contribute exp to the statistic
    chisq = float(chi["chi"]) + (100 - int(chi["cells_hit"])) * exp
    crit = 123.225  # chi-square 0.95 quantile, df=99
    return od.sparkSession.range(1).select(
        F.lit(tot).alias("n_orders"),
        F.lit(int(chi["cells_hit"])).alias("cells_hit"),
        F.round(F.lit(chisq), 6).alias("chi_square"),
        F.lit(123.225).alias("crit_05_df99"),
        F.lit(bool(chisq > crit)).alias("non_uniform"),
    )


ORDERS_CENTS_SQL = """
WITH n AS (SELECT count(*) AS tot FROM orders),
per AS (
  SELECT CAST(CAST(round(o_totalprice * 100) AS BIGINT) % 100 AS INT) AS c,
         count(*) AS obs
  FROM orders GROUP BY 1
), s AS (
  SELECT sum((obs - n.tot / 100.0) * (obs - n.tot / 100.0) / (n.tot / 100.0)) AS chi,
         CAST(count(*) AS BIGINT) AS cells_hit
  FROM per, n GROUP BY n.tot
)
SELECT (SELECT CAST(tot AS BIGINT) FROM n) AS n_orders,
       cells_hit,
       round(chi + (100 - cells_hit) * ((SELECT tot FROM n) / 100.0), 6) AS chi_square,
       123.225 AS crit_05_df99,
       (chi + (100 - cells_hit) * ((SELECT tot FROM n) / 100.0)) > 123.225 AS non_uniform
FROM s
"""

QUERIES["orders_cents_chisq"] = orders_cents_chisq
ORACLES["orders_cents_chisq"] = ORDERS_CENTS_SQL


# --------------------------------------------------------------------------
# nation_share_shift: market-mix shift — each customer nation's share of
# total revenue in 1995 vs 1998 and the share delta, biggest movers first.
# Two conditional aggregates over one scan (no per-year rescans); shares
# divide by broadcast year totals computed in the same pass.
def nation_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cust, od.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.year("o_orderdate").alias("yr"),
            rev.alias("rev"),
        )
        .where(F.col("yr").isin(1995, 1998))
    )
    per = j.groupBy("n_name").agg(
        F.sum(F.when(F.col("yr") == 1995, F.col("rev")).otherwise(0.0)).alias("rev_1995"),
        F.sum(F.when(F.col("yr") == 1998, F.col("rev")).otherwise(0.0)).alias("rev_1998"),
    )
    tot = per.agg(F.sum("rev_1995"), F.sum("rev_1998")).first()
    t95, t98 = float(tot[0]), float(tot[1])
    share95 = F.col("rev_1995") / F.lit(t95)
    share98 = F.col("rev_1998") / F.lit(t98)
    return (
        per.select(
            "n_name",
            F.round(share95, 6).alias("share_1995"),
            F.round(share98, 6).alias("share_1998"),
            F.round(share98 - share95, 6).alias("share_delta"),
        )
        .orderBy(F.desc(F.abs(F.round(share98 - share95, 6))), "n_name")
        .limit(10)
    )


NATION_SHIFT_SQL = """
WITH j AS (
  SELECT n.n_name, year(o.o_orderdate) AS yr,
         l.l_extendedprice * (1 - l.l_discount) AS rev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE year(o.o_orderdate) IN (1995, 1998)
), per AS (
  SELECT n_name,
         sum(CASE WHEN yr = 1995 THEN rev ELSE 0.0 END) AS rev_1995,
         sum(CASE WHEN yr = 1998 THEN rev ELSE 0.0 END) AS rev_1998
  FROM j GROUP BY 1
), tot AS (
  SELECT sum(rev_1995) AS t95, sum(rev_1998) AS t98 FROM per
)
SELECT n_name,
       round(rev_1995 / t95, 6) AS share_1995,
       round(rev_1998 / t98, 6) AS share_1998,
       round(rev_1998 / t98 - rev_1995 / t95, 6) AS share_delta
FROM per, tot
ORDER BY abs(round(rev_1998 / t98 - rev_1995 / t95, 6)) DESC, n_name
LIMIT 10
"""

QUERIES["nation_share_shift"] = nation_share_shift
ORACLES["nation_share_shift"] = NATION_SHIFT_SQL


# --------------------------------------------------------------------------
# part_single_source_risk: supply-chain concentration — revenue gated per
# distinct supplier of each part (risk = revenue / n_suppliers: the
# expected exposure if one supplier fails under uniform sourcing), top-10
# most exposed parts. countDistinct + a revenue aggregate per part.
def part_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    per = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
    )
    return (
        per.select(
            "l_partkey",
            "n_suppliers",
            "revenue",
            F.round(F.col("revenue") / F.col("n_suppliers"), 6).alias("risk_per_supplier"),
        )
        .orderBy(F.desc("risk_per_supplier"), "l_partkey")
        .limit(10)
    )


PART_SINGLE_SOURCE_SQL = """
WITH per AS (
  SELECT l_partkey, count(DISTINCT l_suppkey) AS n_suppliers,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem GROUP BY 1
)
SELECT l_partkey, n_suppliers, revenue,
       round(revenue / n_suppliers, 6) AS risk_per_supplier
FROM per
ORDER BY risk_per_supplier DESC, l_partkey
LIMIT 10
"""

QUERIES["part_single_source_risk"] = part_single_source_risk
ORACLES["part_single_source_risk"] = PART_SINGLE_SOURCE_SQL


# --------------------------------------------------------------------------
# orders_cycle_anova: one-way ANOVA — does order priority move ship lead
# time? F = between-group MS / within-group MS over the 5 priority classes,
# all from one conditional aggregation at (priority) grain (sum, sumsq,
# count per group -> closed forms; no second scan).
def orders_cycle_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    j = li.join(od, li.l_orderkey == od.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("double").alias("lead"),
    )
    g = j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("lead").alias("s"),
        F.sum(F.col("lead") * F.col("lead")).alias("ss"),
    )
    rows = g.collect()
    n_tot = sum(int(r["n"]) for r in rows)
    s_tot = sum(float(r["s"]) for r in rows)
    grand = s_tot / n_tot
    ss_between = sum(int(r["n"]) * (float(r["s"]) / int(r["n"]) - grand) ** 2 for r in rows)
    ss_within = sum(float(r["ss"]) - float(r["s"]) ** 2 / int(r["n"]) for r in rows)
    k = len(rows)
    f_stat = (ss_between / (k - 1)) / (ss_within / (n_tot - k))
    return od.sparkSession.range(1).select(
        F.lit(k).alias("n_groups"),
        F.lit(n_tot).alias("n_obs"),
        F.round(F.lit(grand), 6).alias("grand_mean_days"),
        F.round(F.lit(f_stat), 6).alias("f_stat"),
    )


ORDERS_ANOVA_SQL = """
WITH j AS (
  SELECT o.o_orderpriority AS g,
         CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS DOUBLE) AS lead
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), per AS (
  SELECT g, count(*) AS n, sum(lead) AS s, sum(lead * lead) AS ss FROM j GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_tot, sum(s) AS s_tot,
         CAST(count(*) AS BIGINT) AS k
  FROM per
), parts AS (
  SELECT sum(n * (s / n - t.s_tot / t.n_tot) * (s / n - t.s_tot / t.n_tot)) AS ssb,
         sum(ss - s * s / n) AS ssw
  FROM per, tot t GROUP BY t.n_tot, t.s_tot
)
SELECT t.k AS n_groups, t.n_tot AS n_obs,
       round(t.s_tot / t.n_tot, 6) AS grand_mean_days,
       round((p.ssb / (t.k - 1)) / (p.ssw / (t.n_tot - t.k)), 6) AS f_stat
FROM parts p, tot t
"""

QUERIES["orders_cycle_anova"] = orders_cycle_anova
ORACLES["orders_cycle_anova"] = ORDERS_ANOVA_SQL


# --------------------------------------------------------------------------
# customer_theil_index: Theil T inequality of customer revenue —
# T = mean((x/mu) ln(x/mu)) — the decomposable complement to the graded
# Gini (customer_gini uses the distributed prefix; Theil needs only
# moments: one customer-grain aggregate, one bounded pass, no ranking).
def customer_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    per = od.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("x"))
    mu = float(per.agg(F.avg("x")).first()[0])
    t = per.agg(
        F.count("*").alias("n"),
        F.avg((F.col("x") / F.lit(mu)) * F.log(F.col("x") / F.lit(mu))).alias("theil"),
    ).first()
    return od.sparkSession.range(1).select(
        F.lit(int(t["n"])).alias("n_customers"),
        F.round(F.lit(mu), 6).alias("mean_revenue"),
        F.round(F.lit(float(t["theil"])), 6).alias("theil_t"),
    )


CUSTOMER_THEIL_SQL = """
WITH per AS (
  SELECT o_custkey, sum(o_totalprice) AS x FROM orders GROUP BY 1
), mu AS (SELECT avg(x) AS mu, CAST(count(*) AS BIGINT) AS n FROM per)
SELECT n AS n_customers,
       round(mu, 6) AS mean_revenue,
       round(avg((x / mu) * ln(x / mu)), 6) AS theil_t
FROM per, mu GROUP BY n, mu
"""

QUERIES["customer_theil_index"] = customer_theil_index
ORACLES["customer_theil_index"] = CUSTOMER_THEIL_SQL


# --------------------------------------------------------------------------
# orders_orc_roundtrip: the ORC write->read path graded end-to-end (same
# contract as orders_arrow_roundtrip): write orders as ORC, read back, and
# the per-status aggregate must hash-match the raw-parquet oracle exactly.
def orders_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.io.reader import Reader
    from bears_spark.io.writer import Writer

    o = load_table(spark, sf_dir, "orders")
    out = scoped_dir("orc_rt_") + "/orders_orc"
    Writer.of("orc").write(o.repartition(4), out)
    back = Reader.of("orc").read(out, spark=spark).df
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("o_custkey").alias("n_cust"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_ORC_RT_SQL = """
SELECT o_orderstatus, count(*) AS n, count(DISTINCT o_custkey) AS n_cust,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_orc_roundtrip"] = orders_orc_roundtrip
ORACLES["orders_orc_roundtrip"] = ORDERS_ORC_RT_SQL


# --------------------------------------------------------------------------
# orders_mor_delete: merge-on-read DELETE graded end-to-end — snapshot the
# orders table, delete a value range as DELETION VECTORS (no file rewrite:
# O(delete set), io/dv.py roaring bitmaps written executor-side per file),
# read back through the (file, pos) anti-join, aggregate vs the relational
# oracle. SQL DELETE null semantics included (null keys survive).
def orders_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("mor_del_")
    t = SnapshotTable(spark, root)
    t.overwrite(o.repartition(8))
    t.delete_where("o_totalprice", "<", 50000.0, mode="mor")
    assert any(e.dv for e in t.files()), "expected deletion vectors, not rewrites"
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


ORDERS_MOR_DELETE_SQL = """
SELECT o_orderpriority, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders
WHERE NOT (o_totalprice < 50000.0) OR o_totalprice IS NULL
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

QUERIES["orders_mor_delete"] = orders_mor_delete
ORACLES["orders_mor_delete"] = ORDERS_MOR_DELETE_SQL


# --------------------------------------------------------------------------
# orders_mor_fileuri_roundtrip: the object-store DATA plane graded end to
# end (VERDICT r8 "Next round" #2) — a file://-URI-rooted SnapshotTable with
# manifests in an object-store stub (InMemoryCommitStore, conditional-put
# CAS): parquet written by Spark under the URI root, merge-on-read DELETE
# whose deletion-vector blobs are written executor-side through pyarrow.fs,
# read-back through the (file, pos) anti-join, then compact() materializes
# the DVs away — the exact split an s3://-rooted deployment runs, with
# file:// standing in for the object store in-container.
def orders_mor_fileuri_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from bears_spark.io.commit_store import InMemoryCommitStore
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    local_root = scoped_dir("mor_uri_")
    t = SnapshotTable(spark, "file://" + local_root + "/t", store=InMemoryCommitStore())
    t.overwrite(o.repartition(8))
    t.delete_where("o_orderdate", "<", datetime.datetime(1996, 1, 1), mode="mor")
    dvs = [e.dv for e in t.files() if e.dv]
    assert dvs, "expected deletion vectors, not rewrites"
    assert all(d["path"].startswith("file://") for d in dvs), "DV blobs must live under the URI root"
    mid = (
        t.read()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderstatus")
        .collect()
    )
    # compaction materializes the DVs away; the answer must not move
    t.compact(target_rows_per_file=1_000_000)
    assert not any(e.dv for e in t.files()), "compact must materialize DVs"
    rows = (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
        .collect()
    )
    assert [(r["o_orderstatus"], r["n"]) for r in rows] == [
        (m["o_orderstatus"], m["n"]) for m in mid
    ], "compact changed the result"
    return local_df(spark, rows, "o_orderstatus string, n bigint, total double")


ORDERS_MOR_FILEURI_SQL = """
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders
WHERE NOT (o_orderdate < TIMESTAMP '1996-01-01') OR o_orderdate IS NULL
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_mor_fileuri_roundtrip"] = orders_mor_fileuri_roundtrip
ORACLES["orders_mor_fileuri_roundtrip"] = ORDERS_MOR_FILEURI_SQL


# --------------------------------------------------------------------------
# streaming_gdpr_delete: the GDPR forget-list STREAM graded end to end
# (VERDICT r8 "Next round" #3) — a snapshot table seeded with orders, a
# file stream of two forget-list epochs of o_custkey values applied via
# streaming_delete_keys (exactly-once (app, batch) txn stamps in the
# '#delete' namespace, merge-on-read deletion vectors), the whole stream
# REPLAYED (same checkpoint — must commit nothing), then read back and
# hash-matched against an oracle that anti-joins the union of the lists.
def streaming_gdpr_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("gdpr_")
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    t.overwrite(o.repartition(8))
    src = _os.path.join(root, "forget")
    keys = o.select("o_custkey").distinct()
    # two deterministic forget-list epochs (one parquet file per epoch;
    # maxFilesPerTrigger=1 makes each its own micro-batch/commit)
    keys.filter(F.col("o_custkey") % 100 == 0).coalesce(1).write.parquet(
        _os.path.join(src, "e0")
    )
    keys.filter(F.col("o_custkey") % 97 == 0).coalesce(1).write.parquet(
        _os.path.join(src, "e1")
    )
    flat = _os.path.join(root, "stream")
    _os.makedirs(flat)
    for i, sub in enumerate(("e0", "e1")):
        part = [n for n in _os.listdir(_os.path.join(src, sub)) if n.endswith(".parquet")][0]
        _os.link(_os.path.join(src, sub, part), _os.path.join(flat, f"epoch{i}.parquet"))
    stream = (
        spark.readStream.schema("o_custkey long")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat + "/")
    )
    ckpt = _os.path.join(root, "ckpt")
    finish(t.streaming_delete_keys(stream, ckpt, col="o_custkey"))
    assert any(e.dv for e in t.files()), "forget-lists must tombstone, not rewrite"
    v = t.current_version()
    # checkpoint-recovery replay: the same stream commits NOTHING
    finish(t.streaming_delete_keys(stream, ckpt, col="o_custkey"))
    assert t.current_version() == v, "replayed epochs must be skipped"
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


STREAMING_GDPR_SQL = """
SELECT o_orderpriority, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders
WHERE o_custkey IS NULL
   OR NOT (o_custkey % 100 = 0 OR o_custkey % 97 = 0)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

QUERIES["streaming_gdpr_delete"] = streaming_gdpr_delete
ORACLES["streaming_gdpr_delete"] = STREAMING_GDPR_SQL


# --------------------------------------------------------------------------
# orders_iceberg_bucket_pruned / orders_iceberg_truncate_pruned: Iceberg
# partition-TRANSFORM pruning graded end to end (VERDICT r8 "Next round"
# #4) — a spec-conformant metadata tree whose data files are laid out by
# bucket[8](o_custkey) (murmur3-32, spec Appendix B) and
# truncate[1](o_orderpriority); point lookups must plan ONLY the matching
# partition's files (asserted in-query), and the pruned read must
# hash-match the plain relational oracle — pruning is an optimization,
# never a filter.
_ICE_ORDERS_SCHEMA_FIELDS = [
    {"id": 1, "name": "o_orderkey", "required": False, "type": "long"},
    {"id": 2, "name": "o_custkey", "required": False, "type": "long"},
    {"id": 3, "name": "o_orderstatus", "required": False, "type": "string"},
    {"id": 4, "name": "o_totalprice", "required": False, "type": "double"},
    {"id": 5, "name": "o_orderdate", "required": False, "type": "timestamp"},
    {"id": 6, "name": "o_orderpriority", "required": False, "type": "string"},
]


def _ice_partitioned_orders(spark, sf_dir, root, part_name, part_avro_type,
                            spec_field, bucket_col, row_filter=None):
    """Write orders laid out by a partition expression and wrap the files in
    an Iceberg v2 metadata tree whose manifests carry per-file partition
    tuples. ``row_filter`` restricts the slice first (a day-partitioned
    fixture over the full 7-year history would be thousands of partitions).
    Returns {tuple value: [file paths]}."""
    import json as _json
    import os as _os

    from bears_spark.io.avro_generic import write_container

    o = load_table(spark, sf_dir, "orders")
    if row_filter is not None:
        o = o.filter(row_filter)
    (
        o.withColumn("__p", bucket_col)
        .write.partitionBy("__p")
        .parquet(root + "/data")
    )
    _os.makedirs(root + "/metadata")
    by_part: dict = {}
    recs = []
    for sub in sorted(_os.listdir(root + "/data")):
        if not sub.startswith("__p="):
            continue
        pv = sub.split("=", 1)[1]
        pv = int(pv) if part_avro_type == "int" else pv
        for n in sorted(_os.listdir(f"{root}/data/{sub}")):
            if not n.endswith(".parquet"):
                continue
            p = f"{root}/data/{sub}/{n}"
            by_part.setdefault(pv, []).append(p)
            recs.append({"status": 1, "data_file": {
                "content": 0, "file_path": p, "file_format": "PARQUET",
                "record_count": 1, "partition": {part_name: pv}}})
    man_schema = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "partition", "type": ["null", {
                        "type": "record", "name": "r102",
                        "fields": [{"name": part_name, "type": ["null", part_avro_type]}],
                    }]},
                ],
            }},
        ],
    }
    mpath = root + "/metadata/m1.avro"
    open(mpath, "wb").write(write_container(man_schema, recs))
    ml_schema = {
        "type": "record", "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "content", "type": "int"},
        ],
    }
    mlpath = root + "/metadata/ml1.avro"
    open(mlpath, "wb").write(
        write_container(ml_schema, [{"manifest_path": mpath, "manifest_length": 1, "content": 0}])
    )
    with open(root + "/metadata/v1.metadata.json", "w") as f:
        _json.dump(
            {"format-version": 2, "location": root, "current-snapshot-id": 1,
             "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1, "manifest-list": mlpath}],
             "schemas": [{"schema-id": 0, "type": "struct",
                          "fields": _ICE_ORDERS_SCHEMA_FIELDS}],
             "current-schema-id": 0,
             "partition-specs": [{"spec-id": 0, "fields": [spec_field]}]},
            f,
        )
    return by_part


def orders_iceberg_bucket_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from bears_spark.io.iceberg_log import IcebergTableReader, bucket_transform

    # no type hints: postponed annotation evaluation (PEP 563, module-wide
    # here) turns them into strings pandas_udf can't resolve; the hint-less
    # form is the SCALAR pandas UDF
    @pandas_udf("int")
    def _bkt(s):
        return s.map(lambda v: bucket_transform(int(v), "long", 8))

    root = scoped_dir("ice_bkt_")
    by_part = _ice_partitioned_orders(
        spark, sf_dir, root, "ck_bucket", "int",
        {"name": "ck_bucket", "transform": "bucket[8]", "source-id": 2, "field-id": 1000},
        _bkt(F.col("o_custkey")),
    )
    o = load_table(spark, sf_dir, "orders")
    probe = int(o.agg(F.min("o_custkey")).first()[0])
    r = IcebergTableReader(spark, root)
    kept = r.files(where=("o_custkey", "=", probe))
    want = set(by_part[bucket_transform(probe, "long", 8)])
    assert set(kept) == want and len(kept) < len(r.files()), (
        "bucket pruning must plan exactly the probe bucket's files"
    )
    return (
        r.read(where=("o_custkey", "=", probe))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_ICE_BUCKET_SQL = """
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders
WHERE o_custkey = (SELECT min(o_custkey) FROM orders)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_iceberg_bucket_pruned"] = orders_iceberg_bucket_pruned
ORACLES["orders_iceberg_bucket_pruned"] = ORDERS_ICE_BUCKET_SQL


def orders_iceberg_truncate_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.io.iceberg_log import IcebergTableReader

    root = scoped_dir("ice_trunc_")
    by_part = _ice_partitioned_orders(
        spark, sf_dir, root, "prio_trunc", "string",
        {"name": "prio_trunc", "transform": "truncate[1]", "source-id": 6,
         "field-id": 1000},
        F.substring(F.col("o_orderpriority"), 1, 1),
    )
    r = IcebergTableReader(spark, root)
    kept = r.files(where=("o_orderpriority", "=", "3-MEDIUM"))
    assert set(kept) == set(by_part["3"]) and len(kept) < len(r.files()), (
        "truncate pruning must plan exactly the '3' prefix files"
    )
    # truncation is order-preserving: range predicates prune too
    # (probe strictly inside prefix '1' — a boundary probe like '2'
    # conservatively keeps the '2' files, since truncate('2') == '2')
    kept_lt = r.files(where=("o_orderpriority", "<", "1z"))
    assert set(kept_lt) == set(by_part["1"]), "range pruning over truncate tuples"
    return (
        r.read(where=("o_orderpriority", "=", "3-MEDIUM"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_ICE_TRUNC_SQL = """
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders
WHERE o_orderpriority = '3-MEDIUM'
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_iceberg_truncate_pruned"] = orders_iceberg_truncate_pruned
ORACLES["orders_iceberg_truncate_pruned"] = ORDERS_ICE_TRUNC_SQL


# --------------------------------------------------------------------------
# orders_delta_export_cadence: continuous Delta replication with the
# self-checkpoint cadence graded end to end (VERDICT r8 "Next round" #7) —
# seven O(churn) incremental exports (checkpoint_interval=5 so the cadence
# fires mid-history), then an external-reader replay that must consume the
# checkpoint parquet plus ONLY the post-checkpoint JSON suffix (spy-FS
# asserted in-query), and the replayed state must hash-match the plain
# relational oracle over the fully-assembled table.
def orders_delta_export_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from bears_spark.io.delta_log import DeltaTableReader, export_delta_log
    from bears_spark.io.metafs import LocalMetaFS
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("delta_cad_")
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    out = _os.path.join(root, "exported")
    t.overwrite(o.filter(F.col("o_orderkey") % 7 == 0))
    export_delta_log(t, out, checkpoint_interval=5)  # v0
    for k in range(1, 7):
        t.append(o.filter(F.col("o_orderkey") % 7 == k))
        export_delta_log(t, out, checkpoint_interval=5)  # v1..v6
    log = _os.path.join(out, "_delta_log")
    assert _os.path.exists(_os.path.join(log, f"{5:020d}.checkpoint.parquet")), (
        "cadence must self-checkpoint at version 5"
    )

    class _ReadSpy:
        def __init__(self, inner):
            self.inner = inner
            self.json_reads = []

        def read_text(self, path):
            if path.endswith(".json"):
                self.json_reads.append(_os.path.basename(path))
            return self.inner.read_text(path)

        def __getattr__(self, name):
            return getattr(self.inner, name)

    r = DeltaTableReader(spark, out)
    spy = _ReadSpy(LocalMetaFS())
    r.fs = spy
    df = r.read()  # replays the log on the driver
    replayed = sorted(spy.json_reads)
    assert replayed == [f"{6:020d}.json"], (
        f"replay must be checkpoint + post-checkpoint suffix only, got {replayed}"
    )
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_DELTA_CADENCE_SQL = """
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_delta_export_cadence"] = orders_delta_export_cadence
ORACLES["orders_delta_export_cadence"] = ORDERS_DELTA_CADENCE_SQL


# --------------------------------------------------------------------------
# orders_ivm_minmax: incremental-view MIN/MAX maintenance graded end to end
# — a materialized rollup with minmax_cols refreshed through a CoW delete
# of the low extreme AND a merge-on-read delete of the high extreme (both
# displace stored extremes, exercising the targeted recompute repair), then
# hash-matched against a plain relational oracle over the surviving rows.
def orders_ivm_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.io.incremental_view import IncrementalAggView
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("ivm_mm_")
    base = SnapshotTable(spark, root + "/b")
    view = IncrementalAggView(
        spark, base, root + "/v",
        group_cols=["o_orderpriority"], sum_cols=["o_totalprice"],
        minmax_cols=["o_totalprice"],
    )
    base.overwrite(o.repartition(8))
    view.refresh()
    # displace every group's LOW extreme (copy-on-write rewrite) ...
    base.delete_where("o_totalprice", "<", 30000.0)
    view.refresh()
    # ... and the HIGH extreme (merge-on-read deletion vectors)
    base.delete_where("o_totalprice", ">=", 400000.0, mode="mor")
    view.refresh()
    return (
        view.read()
        .select(
            "o_orderpriority",
            F.col("n_rows").alias("n"),
            F.round(F.col("o_totalprice_sum").cast("double"), 6).alias("total"),
            F.round(F.col("o_totalprice_min"), 6).alias("pmin"),
            F.round(F.col("o_totalprice_max"), 6).alias("pmax"),
        )
        .orderBy("o_orderpriority")
    )


ORDERS_IVM_MINMAX_SQL = """
SELECT o_orderpriority, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS total,
       round(min(o_totalprice), 6) AS pmin,
       round(max(o_totalprice), 6) AS pmax
FROM orders
WHERE (NOT (o_totalprice < 30000.0) OR o_totalprice IS NULL)
  AND (NOT (o_totalprice >= 400000.0) OR o_totalprice IS NULL)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

QUERIES["orders_ivm_minmax"] = orders_ivm_minmax
ORACLES["orders_ivm_minmax"] = ORDERS_IVM_MINMAX_SQL


# --------------------------------------------------------------------------
# orders_iceberg_export_snapshots: CONTINUOUS Iceberg export graded end to
# end — three table commits (seed, append, merge-on-read delete) each
# re-exported as a NEW Iceberg snapshot (untouched manifests reused by
# reference, DVs as v2 positional deletes); in-query asserts pin the
# snapshot count, the zero-churn no-op, manifest reuse, and time travel to
# the first snapshot; the final read-back hash-matches a plain relational
# oracle.
def orders_iceberg_export_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from bears_spark.io.avro_generic import read_container
    from bears_spark.io.iceberg_log import IcebergTableReader, export_iceberg_metadata
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("ice_cont_")
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    out = _os.path.join(root, "exported")
    t.overwrite(o.filter(F.col("o_orderkey") % 2 == 0).repartition(2))
    export_iceberg_metadata(t, out)  # snapshot 1
    n_meta = len(_os.listdir(_os.path.join(out, "metadata")))
    export_iceberg_metadata(t, out)  # zero churn: writes nothing
    assert len(_os.listdir(_os.path.join(out, "metadata"))) == n_meta, "no-op export wrote"
    t.append(o.filter(F.col("o_orderkey") % 2 == 1).repartition(2))
    export_iceberg_metadata(t, out)  # snapshot 2: reuses snapshot 1's manifest
    t.delete_where("o_totalprice", ">=", 300000.0, mode="mor")
    export_iceberg_metadata(t, out)  # snapshot 3: + positional-delete manifest
    r = IcebergTableReader(spark, out)
    sid = r.current_snapshot_id()
    assert sid == 3, sid
    # time travel: snapshot 1 still reads only the even half
    assert (
        r.read(snapshot_id=1)
        .filter(F.col("o_orderkey") % 2 == 1)
        .count()
        == 0
    )
    # manifest reuse: snapshot 2's list contains snapshot 1's manifest
    import json as _json

    meta = _json.load(open(_os.path.join(out, "metadata", "v3.metadata.json")))
    mls = {s["snapshot-id"]: s["manifest-list"] for s in meta["snapshots"]}
    m1 = {m["manifest_path"] for m in read_container(open(mls[1], "rb").read())[1]}
    m2 = {m["manifest_path"] for m in read_container(open(mls[2], "rb").read())[1]}
    assert m1 <= m2, "append snapshot must reuse prior manifests"
    return (
        r.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_ICE_CONT_SQL = """
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders
WHERE NOT (o_totalprice >= 300000.0) OR o_totalprice IS NULL
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_iceberg_export_snapshots"] = orders_iceberg_export_snapshots
ORACLES["orders_iceberg_export_snapshots"] = ORDERS_ICE_CONT_SQL


# --------------------------------------------------------------------------
# orders_streaming_replicated: the continuous-replication loop graded end
# to end — a file stream of order batches ingested exactly-once
# (streaming_append) with export_delta_to, the WHOLE stream replayed (must
# add no table versions and no export commits), and the final state read
# back through the external Delta reader and hash-matched against the
# plain relational oracle.
def orders_streaming_replicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from bears_spark.io.delta_log import DeltaTableReader
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("repl_")
    src = _os.path.join(root, "in")
    for k in range(2):
        o.filter(F.col("o_orderkey") % 2 == k).coalesce(1).write.parquet(
            _os.path.join(src, f"half{k}")
        )
    flat = _os.path.join(root, "stream")
    _os.makedirs(flat)
    for k in range(2):
        part = [
            n
            for n in _os.listdir(_os.path.join(src, f"half{k}"))
            if n.endswith(".parquet")
        ][0]
        _os.link(_os.path.join(src, f"half{k}", part), _os.path.join(flat, f"b{k}.parquet"))
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    out = _os.path.join(root, "replica")
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat + "/")
    )
    ckpt = _os.path.join(root, "ckpt")
    finish(t.streaming_append(stream, ckpt, export_delta_to=out))
    v = t.current_version()
    log = _os.path.join(out, "_delta_log")
    before = sorted(_os.listdir(log))
    # full checkpoint replay: ingest skipped by txn stamps, export
    # skipped by zero churn — nothing moves
    finish(t.streaming_append(stream, ckpt, export_delta_to=out))
    assert t.current_version() == v, "replayed epochs must commit nothing"
    assert sorted(_os.listdir(log)) == before, "replayed exports must write nothing"
    return (
        DeltaTableReader(spark, out)
        .read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_STREAM_REPL_SQL = """
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_streaming_replicated"] = orders_streaming_replicated
ORACLES["orders_streaming_replicated"] = ORDERS_STREAM_REPL_SQL


# --------------------------------------------------------------------------
# orders_iceberg_day_pruned: day-transform partition pruning graded end to
# end (VERDICT r9 "What's missing" #2) — a day-partitioned two-month slice
# (the layout a real deployment gives a recent-window event/order table),
# where an equality probe must plan exactly the probe day's file and a range
# probe must plan only the in-range days, both asserted in-query before the
# unpruned oracle hash-match. Day/hour/month/year are order-preserving
# floors since 1970, so ranges prune exactly like truncate[W].
def orders_iceberg_day_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    from bears_spark.io.iceberg_log import IcebergTableReader, time_transform

    root = scoped_dir("ice_day_")
    by_part = _ice_partitioned_orders(
        spark, sf_dir, root, "od_day", "int",
        {"name": "od_day", "transform": "day", "source-id": 5, "field-id": 1000},
        F.datediff(F.to_date(F.col("o_orderdate")), F.lit("1970-01-01")),
        row_filter=F.col("o_orderdate") < F.lit("1995-03-01").cast("timestamp"),
    )
    r = IcebergTableReader(spark, root)
    all_files = r.files()
    # equality: exactly the earliest day's file(s)
    probe_day = min(by_part)
    probe_ts = _dt.datetime(1970, 1, 1) + _dt.timedelta(days=probe_day)
    kept_eq = r.files(where=("o_orderdate", "=", probe_ts))
    assert set(kept_eq) == set(by_part[probe_day]) and len(kept_eq) < len(all_files), (
        "day pruning must plan exactly the probe day's files"
    )
    # range: >= Feb 1 plans only the February days
    feb1 = _dt.datetime(1995, 2, 1)
    feb_day = time_transform(feb1, "timestamp", "day")
    kept_ge = r.files(where=("o_orderdate", ">=", feb1))
    want_ge = {p for d, ps in by_part.items() if d >= feb_day for p in ps}
    assert set(kept_ge) == want_ge and len(kept_ge) < len(all_files), (
        "range pruning over day tuples must drop every pre-February file"
    )
    return (
        r.read(where=("o_orderdate", ">=", feb1))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_ICE_DAY_SQL = """
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders
WHERE o_orderdate < TIMESTAMP '1995-03-01' AND o_orderdate >= TIMESTAMP '1995-02-01'
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_iceberg_day_pruned"] = orders_iceberg_day_pruned
ORACLES["orders_iceberg_day_pruned"] = ORDERS_ICE_DAY_SQL


# --------------------------------------------------------------------------
# orders_iceberg_ts_travel: timestamp-based time travel over a continuous
# Iceberg export — exported snapshots stamp monotone wall-clock millis
# (ADVICE r9 #4 fix), so AS OF <ts> resolves real history: three commits
# (overwrite, append, MoR delete) exported as three snapshots, then each
# epoch read back via read(as_of_timestamp_ms=...) and hash-matched against
# the equivalent relational state. Boundary resolution (probe exactly on a
# stamp, probe between stamps, probe after the last stamp) is asserted
# in-query.
def orders_iceberg_ts_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from bears_spark.io.iceberg_log import IcebergTableReader, export_iceberg_metadata
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("ice_ts_")
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    out = _os.path.join(root, "ice")
    t.overwrite(o.filter(F.col("o_orderkey") % 3 == 0).repartition(2))
    export_iceberg_metadata(t, out)
    t.append(o.filter(F.col("o_orderkey") % 3 == 1).repartition(2))
    export_iceberg_metadata(t, out)
    t.delete_where("o_orderpriority", "=", "1-URGENT", mode="mor")
    export_iceberg_metadata(t, out)
    r = IcebergTableReader(spark, out)
    snaps = sorted(r.snapshots(), key=lambda s: int(s["snapshot-id"]))
    assert len(snaps) == 3
    ts = [int(s["timestamp-ms"]) for s in snaps]
    sids = [int(s["snapshot-id"]) for s in snaps]
    # boundary semantics: on-stamp -> that snapshot; between stamps ->
    # the earlier one (stamps are strictly monotone); past the end ->
    # the current snapshot
    assert r.snapshot_as_of(ts[0]) == sids[0]
    assert r.snapshot_as_of(ts[1] - 1) == sids[0]
    assert r.snapshot_as_of(ts[2] + 3_600_000) == sids[2]
    rows = []
    for label, probe in (("s1", ts[0]), ("s2", ts[1]), ("s3", ts[2] + 3_600_000)):
        agg = (
            r.read(as_of_timestamp_ms=probe)
            .agg(
                F.count("*").alias("n"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
                ).alias("total"),
            )
            .first()
        )
        rows.append((label, agg["n"], agg["total"]))
    return local_df(spark, rows, "point string, n bigint, total double")


ORDERS_ICE_TS_TRAVEL_SQL = """
SELECT 's1' AS point, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 's2', count(*),
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6)
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT 's3', count(*),
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6)
FROM orders WHERE o_orderkey % 3 IN (0, 1) AND o_orderpriority <> '1-URGENT'
ORDER BY point
"""

QUERIES["orders_iceberg_ts_travel"] = orders_iceberg_ts_travel
ORACLES["orders_iceberg_ts_travel"] = ORDERS_ICE_TS_TRAVEL_SQL


# --------------------------------------------------------------------------
# orders_snapshot_history_report: the table-inspection surface graded —
# SnapshotTable.snapshots() (version / operation / file count / LIVE row
# count straight from the manifests, no data scan) over a deterministic
# commit sequence, hash-matched against the relational recomputation of
# every epoch's live-row count. n_files is deterministic by construction
# (coalesced writes; merge-on-read deletes attach DVs without touching the
# file count).
def orders_snapshot_history_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("st_hist_")
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    t.overwrite(o.filter(F.col("o_orderkey") % 4 < 2).repartition(2))
    t.append(o.filter(F.col("o_orderkey") % 4 == 2).repartition(1))
    t.delete_where("o_orderpriority", "=", "5-LOW", mode="mor")
    hist = t.snapshots()
    assert [h["n_files"] for h in hist] == [2, 3, 3], (
        "MoR delete must attach DVs without changing the file count"
    )
    rows = [
        (h["version"], h["operation"], h["n_files"], h["n_rows"]) for h in hist
    ]
    return local_df(spark, 
        rows, "version int, operation string, n_files int, n_rows bigint"
    )


ORDERS_SNAPSHOT_HISTORY_SQL = """
SELECT 1 AS version, 'overwrite' AS operation, 2 AS n_files,
       (SELECT count(*) FROM orders WHERE o_orderkey % 4 < 2) AS n_rows
UNION ALL
SELECT 2, 'append', 3,
       (SELECT count(*) FROM orders WHERE o_orderkey % 4 <= 2)
UNION ALL
SELECT 3, 'delete-mor', 3,
       (SELECT count(*) FROM orders
        WHERE o_orderkey % 4 <= 2 AND o_orderpriority <> '5-LOW')
ORDER BY version
"""

QUERIES["orders_snapshot_history_report"] = orders_snapshot_history_report
ORACLES["orders_snapshot_history_report"] = ORDERS_SNAPSHOT_HISTORY_SQL


# --------------------------------------------------------------------------
# orders_streaming_replicated_iceberg: the Iceberg replication loop graded —
# streaming_append(export_iceberg_to=...) appends an O(churn) snapshot per
# micro-batch, a streaming GDPR forget-list (mode="mor") follows so live
# deletion vectors exist, and then BOTH streams replay from their
# checkpoints: ingest must commit nothing (txn stamps) and the export must
# write nothing (zero churn + unchanged DV-set fingerprint — the r9 fix
# that makes Iceberg export idempotent while DVs exist). The replica is
# read back through IcebergTableReader (positional deletes applied) and
# hash-matched against the relational oracle.
def orders_streaming_replicated_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from pyspark.sql import types as T

    from bears_spark.io.iceberg_log import IcebergTableReader
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("repl_ice_")
    src = _os.path.join(root, "in")
    for k in range(2):
        o.filter(F.col("o_orderkey") % 2 == k).coalesce(1).write.parquet(
            _os.path.join(src, f"half{k}")
        )
    flat = _os.path.join(root, "stream")
    _os.makedirs(flat)
    for k in range(2):
        part = [
            n
            for n in _os.listdir(_os.path.join(src, f"half{k}"))
            if n.endswith(".parquet")
        ][0]
        _os.link(_os.path.join(src, f"half{k}", part), _os.path.join(flat, f"b{k}.parquet"))
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    out = _os.path.join(root, "replica")
    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat + "/")
    )
    ckpt = _os.path.join(root, "ckpt")
    finish(t.streaming_append(stream, ckpt, export_iceberg_to=out))
    # GDPR forget-list stream: MoR-tombstone the urgent orders, so the
    # replica carries live positional deletes from here on
    keys_dir = _os.path.join(root, "keys")
    o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey").coalesce(
        1
    ).write.parquet(keys_dir)
    key_stream = spark.readStream.schema(
        T.StructType([T.StructField("o_orderkey", T.LongType())])
    ).parquet(keys_dir + "/")
    dckpt = _os.path.join(root, "dckpt")
    finish(t.streaming_delete_keys(key_stream, dckpt, "o_orderkey", export_iceberg_to=out))
    assert any(e.dv for e in t.files()), "forget-list must leave live DVs"
    v = t.current_version()
    meta_dir = _os.path.join(out, "metadata")
    before = sorted(_os.listdir(meta_dir))
    # full checkpoint replay of BOTH streams: ingest skipped by txn
    # stamps; export skipped by zero churn + unchanged DV fingerprint
    finish(t.streaming_append(stream, ckpt, export_iceberg_to=out))
    finish(t.streaming_delete_keys(key_stream, dckpt, "o_orderkey", export_iceberg_to=out))
    assert t.current_version() == v, "replayed epochs must commit nothing"
    assert sorted(_os.listdir(meta_dir)) == before, (
        "replayed exports must write nothing, even with live DVs"
    )
    return (
        IcebergTableReader(spark, out)
        .read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_STREAM_REPL_ICE_SQL = """
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders
WHERE o_orderpriority <> '1-URGENT'
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_streaming_replicated_iceberg"] = orders_streaming_replicated_iceberg
ORACLES["orders_streaming_replicated_iceberg"] = ORDERS_STREAM_REPL_ICE_SQL


# --------------------------------------------------------------------------
# orders_retention_maintenance: the retention loop graded — age-based
# snapshot expiry (expire_snapshots(older_than_ms=) over the new monotone
# commit stamps) followed by vacuum, with the crashed-writer grace period
# demonstrated in-query: a fresh unreferenced file is spared at
# min_age_s=3600 and reclaimed by the default pass. Maintenance must never
# change reads: the post-maintenance table hash-matches the plain
# relational oracle.
def orders_retention_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("st_ret_")
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    t.overwrite(o.filter(F.col("o_orderkey") % 3 == 0).repartition(2))     # v1
    t.overwrite(o.filter(F.col("o_orderkey") % 3 <= 1).repartition(2))     # v2 orphans v1
    t.append(o.filter(F.col("o_orderkey") % 3 == 2).repartition(1))        # v3
    t.delete_where("o_orderpriority", "=", "5-LOW", mode="mor")            # v4
    snaps = t.snapshots()
    ts = {h["version"]: h["ts_ms"] for h in snaps}
    assert sorted(ts.values()) == list(ts.values()) and len(set(ts.values())) == 4
    # age cutoff at v3's stamp: v1+v2 predate it AND fall outside
    # keep_last=2 -> both expire; v3/v4 survive the age test via keep_last
    assert t.expire_snapshots(keep_last=2, older_than_ms=ts[3]) == [1, 2]
    # grace period: v1's now-unreferenced files are too young to reap
    assert t.vacuum(min_age_s=3600) == 0
    # default pass reclaims exactly v1's two orphaned files (v2's files
    # are still live in v3/v4)
    assert t.vacuum() == 2
    assert [h["version"] for h in t.snapshots()] == [3, 4]
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


ORDERS_RETENTION_SQL = """
SELECT o_orderstatus, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders
WHERE o_orderpriority <> '5-LOW'
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

QUERIES["orders_retention_maintenance"] = orders_retention_maintenance
ORACLES["orders_retention_maintenance"] = ORDERS_RETENTION_SQL


# --------------------------------------------------------------------------
# orders_delta_ts_travel: timestamp time travel on an EXPORTED Delta log —
# exported commits stamp commitInfo.timestamp (Delta's convention, r10), so
# version_as_of resolves real history without filesystem mtime (absent on
# object stores, wrong on copied logs): three commits exported as three
# versions, each epoch read back AS OF its commit stamp and hash-matched
# against the equivalent relational state. The monotonized resolution
# boundaries (on-stamp, between stamps, past the end) are asserted in-query.
# Completes the as-of triple: native table (orders_retention_maintenance's
# stamps), Iceberg replica (orders_iceberg_ts_travel), Delta replica (here).
def orders_delta_ts_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os

    from bears_spark.io.delta_log import DeltaTableReader, export_delta_log
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders")
    root = scoped_dir("delta_ts_")
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    out = _os.path.join(root, "delta")
    # the exporter stamps max(now, prior+1): distinct monotone stamps
    # are structural, no inter-commit sleeps needed (ADVICE r10)
    t.overwrite(o.filter(F.col("o_orderkey") % 3 == 0).repartition(2))
    export_delta_log(t, out)
    t.append(o.filter(F.col("o_orderkey") % 3 == 1).repartition(2))
    export_delta_log(t, out)
    t.delete_where("o_orderpriority", "=", "1-URGENT", mode="mor")
    export_delta_log(t, out)
    log_dir = _os.path.join(out, "_delta_log")
    stamps = []
    for n in sorted(x for x in _os.listdir(log_dir) if x.endswith(".json")):
        with open(_os.path.join(log_dir, n)) as f:
            acts = [_json.loads(line) for line in f if line.strip()]
        ci = [a["commitInfo"] for a in acts if "commitInfo" in a]
        assert len(ci) == 1 and isinstance(ci[0].get("timestamp"), int), n
        stamps.append(ci[0]["timestamp"])
    assert stamps == sorted(stamps) and len(set(stamps)) == 3, stamps
    r = DeltaTableReader(spark, out)
    # boundary semantics under the reader's running-max monotonization:
    # on-stamp -> that version; between stamps -> the earlier version;
    # past the end -> the latest version
    assert r.version_as_of(stamps[0]) == 0
    assert r.version_as_of(stamps[1] - 1) == 0
    assert r.version_as_of(stamps[2] + 3_600_000) == 2
    rows = []
    for label, probe in (
        ("v0", stamps[0]),
        ("v1", stamps[1]),
        ("v2", stamps[2] + 3_600_000),
    ):
        agg = (
            r.read(version=r.version_as_of(probe))
            .agg(
                F.count("*").alias("n"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"), 6
                ).alias("total"),
            )
            .first()
        )
        rows.append((label, agg["n"], agg["total"]))
    return local_df(spark, rows, "point string, n bigint, total double")


ORDERS_DELTA_TS_TRAVEL_SQL = """
SELECT 'v0' AS point, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 'v1', count(*),
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6)
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT 'v2', count(*),
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6)
FROM orders WHERE o_orderkey % 3 IN (0, 1) AND o_orderpriority <> '1-URGENT'
ORDER BY point
"""

QUERIES["orders_delta_ts_travel"] = orders_delta_ts_travel
ORACLES["orders_delta_ts_travel"] = ORDERS_DELTA_TS_TRAVEL_SQL


# orders_rename_evolution: native schema evolution round-tripped through BOTH
# exporters (VERDICT r10 "Next round" #3) — rename_column/drop_column are
# metadata-only commits (no data file rewritten); the Delta replica carries
# columnMapping (mode=name, physical names preserved), the Iceberg replica
# evolves by field id with a cumulative default name-mapping for the
# unstamped hard-linked files; time travel across the rename serves the OLD
# names on the native table AND both replicas. Four graded points, each the
# same aggregate over a different read path, hash-matched against relational
# state. The reference has no lakehouse layer (SURVEY.md §1.2) — this mirrors
# delta-spark / Iceberg schema-evolution semantics.
def orders_rename_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from bears_spark.io.delta_log import DeltaTableReader, export_delta_log
    from bears_spark.io.iceberg_log import IcebergTableReader, export_iceberg_metadata
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = scoped_dir("rename_evo_")
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    t.overwrite(o.filter(F.col("o_orderkey") % 4 == 0).repartition(2))
    v1 = t.current_version()
    delta_out = _os.path.join(root, "delta")
    ice_out = _os.path.join(root, "ice")
    export_delta_log(t, delta_out)  # pre-evolution exports
    export_iceberg_metadata(t, ice_out)
    t.rename_column("o_totalprice", "price")  # metadata-only
    t.drop_column("o_orderpriority")  # metadata-only
    t.append(
        o.filter(F.col("o_orderkey") % 4 == 1)
        .selectExpr("o_orderkey", "o_totalprice AS price")
        .repartition(2)
    )
    export_delta_log(t, delta_out)  # diff commit + columnMapping upgrade
    export_iceberg_metadata(t, ice_out)  # field-id evolution snapshot
    native = t.read()
    assert native.columns == ["o_orderkey", "price"], native.columns
    delta = DeltaTableReader(spark, delta_out).read()
    ice_r = IcebergTableReader(spark, ice_out)
    ice = ice_r.read()
    assert delta.columns == native.columns and ice.columns == native.columns
    # time travel across the rename: old snapshot, old names, everywhere
    for old in (
        t.read(version=v1),
        DeltaTableReader(spark, delta_out).read(version=0),
        ice_r.read(snapshot_id=1),
    ):
        assert old.columns == ["o_orderkey", "o_totalprice", "o_orderpriority"], (
            old.columns
        )

    def agg(df: DataFrame, label: str):
        r = df.agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("price").cast("decimal(30,6)")).cast("double"), 6
            ).alias("total"),
        ).first()
        return (label, r["n"], r["total"])

    rows = [
        agg(native, "native"),
        agg(delta, "delta"),
        agg(ice, "iceberg"),
    ]
    r1 = (
        t.read(version=v1)
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"),
                6,
            ).alias("total"),
        )
        .first()
    )
    rows.append(("native_v1", r1["n"], r1["total"]))
    return local_df(spark, 
        rows, "point string, n bigint, total double"
    ).orderBy("point")


ORDERS_RENAME_EVOLUTION_SQL = """
WITH cur AS (
  SELECT count(*) AS n,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
  FROM orders WHERE o_orderkey % 4 IN (0, 1)
)
SELECT 'delta' AS point, n, total FROM cur
UNION ALL SELECT 'iceberg', n, total FROM cur
UNION ALL SELECT 'native', n, total FROM cur
UNION ALL
SELECT 'native_v1', count(*),
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6)
FROM orders WHERE o_orderkey % 4 = 0
ORDER BY point
"""

QUERIES["orders_rename_evolution"] = orders_rename_evolution
ORACLES["orders_rename_evolution"] = ORDERS_RENAME_EVOLUTION_SQL


# orders_wap_publish: write-audit-publish graded end-to-end on the native
# snapshot table's BRANCH/TAG refs (Iceberg's refs model; the reference has
# no snapshot layer, SURVEY.md §1.2). A dirty batch lands on an isolated
# branch (zero-copy fork — main's readers never see it), the audit finds the
# corrupted rows, the repair deletes them ON THE BRANCH, and publish
# fast-forwards main in one atomic commit with no data movement. Four graded
# points: main's state while the branch is dirty (isolation), the dirty
# branch state, the audit hit-list, and the published final state — each an
# aggregate hash-matched against relational SQL over the same parquet.
def orders_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = scoped_dir("wap_")
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    t.overwrite(o.filter(F.col("o_orderkey") % 4 == 0).repartition(2))

    # WRITE: the ingest batch lands on a branch; keys = 1 (mod 8) arrive
    # corrupted (sign-flipped totals — the deterministic "bad feed")
    b = t.create_branch("ingest")
    batch = o.filter(F.col("o_orderkey") % 4 == 1).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 8 == 1, -F.col("o_totalprice")
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    b.append(batch.repartition(2))

    def agg(df: DataFrame, label: str):
        r = df.agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"),
                6,
            ).alias("total"),
        ).first()
        return (label, r["n"], float(r["total"]))

    rows = [
        agg(t.read(), "main_while_dirty"),  # isolation: fork never leaks
        agg(b.read(), "branch_dirty"),
    ]

    # AUDIT on the branch, repair ON the branch, tag the audited state
    rows.append(agg(b.read().filter(F.col("o_totalprice") < 0), "audit_bad"))
    b.delete_where("o_totalprice", "<", 0, mode="cow")

    # PUBLISH: atomic fast-forward of main onto the audited branch head
    t.publish_branch("ingest")
    t.create_tag("published-r11")
    t.drop_branch("ingest")
    assert t.branches() == [] and t.tags() == {"published-r11": 2}
    rows.append(agg(t.read("published-r11"), "published"))
    return local_df(spark, 
        rows, "point string, n bigint, total double"
    ).orderBy("point")


ORDERS_WAP_PUBLISH_SQL = """
WITH base AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 8 = 1 THEN -o_totalprice
              ELSE o_totalprice END AS price,
         o_orderkey % 4 AS m4, o_orderkey % 8 AS m8
  FROM orders WHERE o_orderkey % 4 IN (0, 1)
)
SELECT 'audit_bad' AS point, count(*) AS n,
       round(CAST(sum(CAST(price AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM base WHERE m8 = 1
UNION ALL
SELECT 'branch_dirty', count(*),
       round(CAST(sum(CAST(price AS DECIMAL(30,6))) AS DOUBLE), 6)
FROM base
UNION ALL
SELECT 'main_while_dirty', count(*),
       round(CAST(sum(CAST(price AS DECIMAL(30,6))) AS DOUBLE), 6)
FROM base WHERE m4 = 0
UNION ALL
SELECT 'published', count(*),
       round(CAST(sum(CAST(price AS DECIMAL(30,6))) AS DOUBLE), 6)
FROM base WHERE m8 <> 1
ORDER BY point
"""

QUERIES["orders_wap_publish"] = orders_wap_publish
ORACLES["orders_wap_publish"] = ORDERS_WAP_PUBLISH_SQL


# orders_type_widening: metadata-only type promotion graded end-to-end —
# alter_column_type("o_qty", int -> bigint) rewrites NOTHING (at 100 TB a
# rewrite-based type change is a full-corpus job); every scan reads the
# mixed-width file set through an explicit widened schema (Spark 4 parquet
# upcast); the Iceberg replica evolves the SAME field id (spec promotion)
# and serves the pre-widen snapshot under the narrow type. Graded points:
# the widened native table after a beyond-int32 append (values that only fit
# post-widen), the Iceberg replica of the same state, and the pre-widen
# snapshot — each hash-matched against relational SQL.
def orders_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from bears_spark.io.iceberg_log import IcebergTableReader, export_iceberg_metadata
    from bears_spark.io.snapshot_table import SnapshotTable

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").cast("int").alias("o_qty")
    )
    root = scoped_dir("widen_")
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    t.overwrite(o.filter(F.col("o_orderkey") % 4 == 0).repartition(2))
    v1 = t.current_version()
    ice_out = _os.path.join(root, "ice")
    export_iceberg_metadata(t, ice_out)  # pre-widen snapshot

    t.alter_column_type("o_qty", "bigint")  # metadata-only
    # the appended values exceed int32 — they only fit BECAUSE of the widen
    t.append(
        o.filter(F.col("o_orderkey") % 4 == 1)
        .select("o_orderkey", (F.col("o_qty").cast("bigint") + F.lit(2**33)).alias("o_qty"))
        .repartition(2)
    )
    export_iceberg_metadata(t, ice_out)  # field-id promotion snapshot

    native = t.read()
    assert native.schema["o_qty"].dataType.simpleString() == "bigint"
    assert t.read(v1).schema["o_qty"].dataType.simpleString() == "int"
    ice_r = IcebergTableReader(spark, ice_out)
    ice = ice_r.read()
    assert ice.schema["o_qty"].dataType.simpleString() == "bigint"
    assert ice_r.read(snapshot_id=1).schema["o_qty"].dataType.simpleString() == "int"

    def agg(df: DataFrame, label: str):
        r = df.agg(
            F.count("*").alias("n"), F.sum("o_qty").cast("long").alias("qty_sum")
        ).first()
        return (label, r["n"], r["qty_sum"])

    rows = [
        agg(native, "native_widened"),
        agg(ice, "iceberg_widened"),
        agg(t.read(v1), "native_pre_widen"),
    ]
    return local_df(spark, 
        rows, "point string, n bigint, qty_sum bigint"
    ).orderBy("point")


ORDERS_TYPE_WIDENING_SQL = """
WITH base AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 4 = 1
              THEN CAST(o_custkey AS BIGINT) + 8589934592
              ELSE CAST(o_custkey AS BIGINT) END AS qty,
         o_orderkey % 4 AS m4
  FROM orders WHERE o_orderkey % 4 IN (0, 1)
)
SELECT 'iceberg_widened' AS point, count(*) AS n,
       CAST(sum(qty) AS BIGINT) AS qty_sum FROM base
UNION ALL
SELECT 'native_pre_widen', count(*), CAST(sum(qty) AS BIGINT) FROM base WHERE m4 = 0
UNION ALL
SELECT 'native_widened', count(*), CAST(sum(qty) AS BIGINT) FROM base
ORDER BY point
"""

QUERIES["orders_type_widening"] = orders_type_widening
ORACLES["orders_type_widening"] = ORDERS_TYPE_WIDENING_SQL


# orders_constraints_gate: named CHECK constraints graded end-to-end — the
# quality gate every ingest pipeline wants at the TABLE boundary instead of
# in each job. A constraint is added (validating existing rows in one
# aggregate pass), a violating batch is REFUSED atomically (table unchanged
# — the graded point proves it), a clean batch lands, and the Delta replica
# carries delta.constraints.* so external writers inherit the contract.
# Enforcement scans only each commit's added files (O(churn) at 100 TB).
def orders_constraints_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from bears_spark.io.delta_log import DeltaTableReader, export_delta_log
    from bears_spark.io.snapshot_table import ConstraintViolationError, SnapshotTable

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = scoped_dir("ck_")
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    t.overwrite(o.filter(F.col("o_orderkey") % 4 == 0).repartition(2))
    t.add_check_constraint("price_pos", "o_totalprice > 0")

    # a batch with sign-flipped rows (keys = 1 mod 8) is refused WHOLE
    dirty = o.filter(F.col("o_orderkey") % 4 == 1).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 8 == 1, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    refused = False
    try:
        t.append(dirty.repartition(2))
    except ConstraintViolationError:
        refused = True
    assert refused

    def agg(df: DataFrame, label: str):
        r = df.agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"),
                6,
            ).alias("total"),
        ).first()
        return (label, r["n"], float(r["total"]))

    rows = [agg(t.read(), "after_refusal")]  # atomic: table unchanged

    # the cleaned batch lands; the Delta replica carries the constraint
    t.append(dirty.filter(F.col("o_totalprice") > 0).repartition(2))
    delta_out = _os.path.join(root, "delta")
    export_delta_log(t, delta_out)
    reader = DeltaTableReader(spark, delta_out)
    meta, _ = reader._snapshot()
    assert (meta.get("configuration") or {})["delta.constraints.price_pos"] == (
        "o_totalprice > 0"
    )
    rows.append(agg(t.read(), "after_clean_batch"))
    rows.append(agg(reader.read(), "delta_replica"))
    return local_df(spark, 
        rows, "point string, n bigint, total double"
    ).orderBy("point")


ORDERS_CONSTRAINTS_GATE_SQL = """
WITH base AS (
  SELECT o_orderkey, o_totalprice, o_orderkey % 4 AS m4, o_orderkey % 8 AS m8
  FROM orders WHERE o_orderkey % 4 IN (0, 1)
)
SELECT 'after_clean_batch' AS point, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6) AS total
FROM base WHERE m4 = 0 OR m8 <> 1
UNION ALL
SELECT 'after_refusal', count(*),
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6)
FROM base WHERE m4 = 0
UNION ALL
SELECT 'delta_replica', count(*),
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 6)
FROM base WHERE m4 = 0 OR m8 <> 1
ORDER BY point
"""

QUERIES["orders_constraints_gate"] = orders_constraints_gate
ORACLES["orders_constraints_gate"] = ORDERS_CONSTRAINTS_GATE_SQL


# orders_update_where: the SQL UPDATE verb graded end-to-end — both cost
# shapes on one table: a copy-on-write range update (files whose o_orderkey
# stats prove no overlap are carried by reference — O(overlap), never
# O(table)) and a merge-on-read single-key update (ONE commit: deletion
# vector on the matched position + a one-row appended file — O(matched
# rows), the sparse-update shape at 100 TB). The MoR target key comes from
# stats_minmax (a metadata read), and the final corpus is hash-matched
# against the equivalent CASE WHEN relational SQL. Reference: bears has no
# mutable table layer (SURVEY.md §1.2); this is Delta's UPDATE.
def orders_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from bears_spark.io.snapshot_table import SnapshotTable

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    root = scoped_dir("updw_")
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    t.overwrite(o.repartitionByRange(4, "o_orderkey"))
    # CoW: bulk adjustment over a key range — stats-pruned rewrite
    t.update_where(
        "o_orderkey", "<=", 20000, set={"cents": F.col("cents") + 500}
    )
    # MoR: surgical single-key correction — DV + one appended row
    min_k = t.stats_minmax("o_orderkey")[0]
    t.update_where("o_orderkey", "=", min_k, set={"cents": 0}, mode="mor")
    assert sum(1 for e in t.files() if e.dv) == 1, "MoR update must DV, not rewrite"
    return (
        t.read()
        .groupBy((F.col("o_orderkey") % 7).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .orderBy("bucket")
    )


ORDERS_UPDATE_WHERE_SQL = """
WITH base AS (
  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 3 = 0
), upd AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey = (SELECT min(o_orderkey) FROM base) THEN 0
              WHEN o_orderkey <= 20000 THEN cents + 500
              ELSE cents END AS cents
  FROM base
)
SELECT CAST(o_orderkey % 7 AS BIGINT) AS bucket, count(*) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum
FROM upd GROUP BY bucket ORDER BY bucket
"""

QUERIES["orders_update_where"] = orders_update_where
ORACLES["orders_update_where"] = ORDERS_UPDATE_WHERE_SQL


# orders_metadata_agg: manifest-served aggregates graded end-to-end —
# COUNT(*) and MIN/MAX answered from per-file stats (count_rows /
# stats_minmax), scanning ONLY the files whose stats can't stand in for the
# data (here: the DV-bearing file left by a merge-on-read delete of the
# rows holding the max). At 100 TB this turns a corpus aggregate into
# O(manifest) + O(churn); the in-query assertion pins that exactly the
# DV-bearing files hit the data fallback, and the numbers are hash-matched
# against the equivalent relational SQL. Reference: bears computes these
# with a full scan (ScalableSeries min/max).
def orders_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from bears_spark.io.snapshot_table import SnapshotTable

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            "o_orderdate",
        )
    )
    root = scoped_dir("magg_")
    t = SnapshotTable(spark, _os.path.join(root, "t"))
    t.overwrite(o.repartitionByRange(4, "o_orderkey"))
    # CoW delete of the bottom key quartile (bounds from a metadata
    # read, so the query is SF-relative), then MoR-tombstone every row
    # holding the current max cents: that file's stats now OVERSTATE it
    k_lo, k_hi = t.stats_minmax("o_orderkey")
    t.delete_where("o_orderkey", "<=", k_lo + (k_hi - k_lo) // 4, mode="cow")
    mx = t.stats_minmax("cents")[1]
    t.delete_where("cents", "=", mx, mode="mor")
    dv_files = sum(1 for e in t.files() if e.dv)
    assert dv_files >= 1, "MoR delete must leave a DV-bearing file"
    n = t.count_rows()  # exact from the manifest, DVs netted out
    mn_c, mx_c, scanned_c = t.stats_minmax("cents", return_scanned=True)
    mn_d, mx_d, scanned_d = t.stats_minmax("o_orderdate", return_scanned=True)
    # metadata-only except for the churned sliver
    assert scanned_c == dv_files and scanned_d == dv_files, (
        scanned_c, scanned_d, dv_files,
    )
    return local_df(spark, 
        [(n, mn_c, mx_c, mn_d, mx_d)],
        "n bigint, min_cents bigint, max_cents bigint, min_date timestamp, max_date timestamp",
    )


ORDERS_METADATA_AGG_SQL = """
WITH base0 AS (
  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderdate
  FROM orders WHERE o_orderkey % 5 = 0
), base AS (
  SELECT * FROM base0 WHERE o_orderkey >
    (SELECT min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) // 4 FROM base0)
), kept AS (
  SELECT * FROM base WHERE cents <> (SELECT max(cents) FROM base)
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents,
       min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
FROM kept
"""

QUERIES["orders_metadata_agg"] = orders_metadata_agg
ORACLES["orders_metadata_agg"] = ORDERS_METADATA_AGG_SQL
