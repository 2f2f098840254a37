"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()``/``oracle_sql()`` are the correctness gate — each Spark query is
compared against its DuckDB oracle at sf0.01 (row-count + schema +
order-insensitive value-hash).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# Pin Python workers to the driver's interpreter at import time, before any
# SparkSession exists: an inherited PYSPARK_PYTHON (e.g. `python` resolving to
# an unrelated conda install) fails every pandas-UDF/mapInPandas stage with
# [PYTHON_VERSION_MISMATCH]. bears_spark.session.get_session does the same for
# sessions it creates; this covers harnesses that build their own session
# after importing this module.
os.environ["PYSPARK_PYTHON"] = sys.executable
os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

from pyspark.sql import DataFrame, SparkSession

from bears_spark.queries import events as ev
from bears_spark.queries import graphops as gr
from bears_spark.queries import pipelineops as po
from bears_spark.queries import qualityops as ql
from bears_spark.queries import relational as rel
from bears_spark.queries import sketchops as sk
from bears_spark.queries import textops as tx
from bears_spark.queries import tpch

_TPCH_QUERIES = {
    "q1_pricing_summary": tpch.q1_pricing_summary,
    "q3_shipping_priority": tpch.q3_shipping_priority,
    "q5_local_supplier_volume": tpch.q5_local_supplier_volume,
    "q6_revenue_change": tpch.q6_revenue_change,
    "q10_returned_items": tpch.q10_returned_items,
    "q4_order_priority": tpch.q4_order_priority,
    "q12_priority_class": tpch.q12_priority_class,
    "q14_promo_effect": tpch.q14_promo_effect,
    "q13_customer_distribution": tpch.q13_customer_distribution,
    "q7_nation_volume": tpch.q7_nation_volume,
    "q8_market_share": tpch.q8_market_share,
    "q9_product_profit": tpch.q9_product_profit,
    "q2_min_cost_supplier": tpch.q2_min_cost_supplier,
    "q15_top_supplier": tpch.q15_top_supplier,
    "q16_parts_supplier_cnt": tpch.q16_parts_supplier_cnt,
    "q17_small_quantity": tpch.q17_small_quantity,
    "q18_large_volume_customer": tpch.q18_large_volume_customer,
    "q19_discounted_revenue": tpch.q19_discounted_revenue,
    "q21_waiting_supplier": tpch.q21_waiting_supplier,
    "q22_sales_opportunity": tpch.q22_sales_opportunity,
    "q20_excess_stock": tpch.q20_excess_stock,
    "q11_important_stock": tpch.q11_important_stock,
}

_TPCH_ORACLES = {
    "q1_pricing_summary": tpch.Q1_SQL,
    "q3_shipping_priority": tpch.Q3_SQL,
    "q5_local_supplier_volume": tpch.Q5_SQL,
    "q6_revenue_change": tpch.Q6_SQL,
    "q10_returned_items": tpch.Q10_SQL,
    "q4_order_priority": tpch.Q4_SQL,
    "q12_priority_class": tpch.Q12_SQL,
    "q14_promo_effect": tpch.Q14_SQL,
    "q13_customer_distribution": tpch.Q13_SQL,
    "q7_nation_volume": tpch.Q7_SQL,
    "q8_market_share": tpch.Q8_SQL,
    "q9_product_profit": tpch.Q9_SQL,
    "q2_min_cost_supplier": tpch.Q2_SQL,
    "q15_top_supplier": tpch.Q15_SQL,
    "q16_parts_supplier_cnt": tpch.Q16_SQL,
    "q17_small_quantity": tpch.Q17_SQL,
    "q18_large_volume_customer": tpch.Q18_SQL,
    "q19_discounted_revenue": tpch.Q19_SQL,
    "q21_waiting_supplier": tpch.Q21_SQL,
    "q22_sales_opportunity": tpch.Q22_SQL,
    "q20_excess_stock": tpch.Q20_SQL,
    "q11_important_stock": tpch.Q11_SQL,
}


# --------------------------------------------------------------------------
# The driver grades the FIRST 50 queries() entries in iteration order, so
# order is a coverage budget. The window grades the paths the optimizer
# REWROTE, so ground truth — not the builder's self-reported gate — covers
# every semantics-sensitive change:
#   * 8 regression anchors, always first,
#   * 6 lakehouse queries added in round 11, first graded in round 12,
#   * the 7 paths round 11 rewrote (tfidf_cosine_pairs, part_item_recs,
#     dedup_semantic_clusters, orders_delta_dv_read, orders_global_cumsum,
#     doc_pack_assignments, doc_bm25_queryset) and the 2 headline paths
#     round 12 restructured (ann_ivfpq_topk, ev_cusum_alarm),
#   * 27 freshness re-anchors: the 13 rows last graded in round 3 plus the
#     14 alphabetically-first rows last graded in round 4.
# Oracle-less queries (doc_compression_quality) are EXCLUDED from every
# window: the driver can only record `err: no_oracle` for them, wasting a
# grading slot (VERDICT r7 "What's wrong" #1). Enforced by the assertion in
# queries() below and by pytest.
GRADED_WINDOW = [
    # --- regression anchors (8) ---
    "q1_pricing_summary",
    "q3_shipping_priority",
    "orders_delta_dv_roundtrip",
    "ev_sessionize",
    "streaming_hourly_counts",
    "streaming_running_totals",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    # --- round-11 lakehouse additions (6) ---
    "orders_rename_evolution",
    "orders_wap_publish",
    "orders_type_widening",
    "orders_constraints_gate",
    "orders_update_where",
    "orders_metadata_agg",
    # --- round-11 rewrites the r11 window missed (7) ---
    "tfidf_cosine_pairs",
    "part_item_recs",
    "dedup_semantic_clusters",
    "orders_delta_dv_read",
    "orders_global_cumsum",
    "doc_pack_assignments",
    "doc_bm25_queryset",
    # --- round-12 restructured paths (2) ---
    "ann_ivfpq_topk",
    "ev_cusum_alarm",
    # --- freshness re-anchors: all 13 rows last graded in round 3 ---
    "assembled_features",
    "cust_balance_quartiles",
    "customer_name_parse",
    "doc_balanced_sample",
    "ev_hopping_windows",
    "ev_lag_lead_delta",
    "ev_value_hist_quantiles",
    "lang_label_encode",
    "nations_set_ops",
    "part_melt",
    "pii_redact_contacts",
    "stream_shard_keys",
    "value_mean_imputation",
    # --- freshness re-anchors: 14 rows last graded in round 4 ---
    "ann_lsh_topk",
    "bloom_pruned_nation_volume",
    "corpus_mixture_by_source",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_simhash",
    "doc_bpe_tokens",
    "doc_budget_selection",
    "doc_concat_affix",
    "doc_fingerprint",
    "doc_hash_sample_rates",
    "doc_hashed_features",
    "doc_heavy_hitter_words",
    "doc_nfc_normalize",
]
assert len(GRADED_WINDOW) == 50, len(GRADED_WINDOW)

# headline queries bench.py times at sf0.1 — one per operator family
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_change",
    "q10_returned_items",
    "orders_rollup",
    "top3_customers_per_nation",
    "ev_daily_activity",
    "ev_sessionize",
    "ev_running_sum",
    "text_stats",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    # round-4 additions: one per round-3 family (VERDICT r3 #6)
    "orders_global_cumsum",
    "doc_pack_sequences",
    "ev_funnel_conversion",
    "doc_decontaminate",
    # round-4 late additions: weighted all-pairs + window-scan families
    "tfidf_cosine_pairs",
    "ev_cusum_alarm",
    # round-4 closing: chunking + retrieval family representatives
    "doc_chunk_dedup",
    "doc_bm25_topk",
    # round-5 additions: batch retrieval + composed-ANN representatives
    "doc_bm25_queryset",
    "ann_ivfpq_topk",
    # round-5 closing: SemDeDup family representative (fit + assign + BLAS
    # gram pair stage) + the config-driven pipeline family
    "dedup_semantic_clusters",
    "pipeline_quality_gate",
    # round-6 addition: sequence packing (distributed prefix cumsum family)
    "doc_pack_assignments",
    # round-6 late additions: sliding-window sketch rollup + item-based CF
    "ev_rolling_dau_hll",
    "part_item_recs",
    # round-7 addition: continuous-aggregate maintenance (rollup states
    # built on two halves of orders, merged, vs the direct aggregate)
    "orders_incremental_rollup",
    # round-8 addition: merge-on-read read path in isolation — the DV table
    # is pre-built once per sf_dir, so the timing is log replay + DV decode
    # + anti-join + aggregate, not fixture construction (VERDICT r7 #6)
    "orders_delta_dv_read",
    # round-9 addition: exact-k deterministic sampling family
    # (TakeOrderedAndProject over a computed hash order)
    "doc_reservoir_sample_stats",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    return tpch.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def _ordered(mapping: dict) -> dict:
    """GRADED_WINDOW first (the driver's 50-slot grading budget), then every
    remaining query in module order — nothing is dropped, only reordered."""
    out = {name: mapping[name] for name in GRADED_WINDOW if name in mapping}
    out.update({name: fn for name, fn in mapping.items() if name not in out})
    return out


def _merge(tpch: dict, attr: str) -> dict:
    """The TPC-H map plus every query module's ``attr`` map; a name two of them define raises."""
    out = dict(tpch)
    for mod in (rel, ev, tx, po, ql, sk, gr):
        if clash := out.keys() & getattr(mod, attr).keys():
            raise ValueError(f"{mod.__name__}.{attr} redefines {sorted(clash)}")
        out.update(getattr(mod, attr))
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    allq = _merge(_TPCH_QUERIES, "QUERIES")
    missing = [n for n in GRADED_WINDOW if n not in allq]
    assert not missing, f"GRADED_WINDOW names unknown queries: {missing}"
    # Every windowed query must carry a real DuckDB oracle — an oracle-less
    # row can only ever grade `err: no_oracle`, wasting one of the driver's
    # 50 slots (VERDICT r7 "What's wrong" #1).
    alloracles = oracle_sql()
    unoracled = [
        n for n in GRADED_WINDOW
        if not isinstance(alloracles.get(n), str) or not alloracles[n].strip()
    ]
    assert not unoracled, f"GRADED_WINDOW contains oracle-less queries: {unoracled}"
    return _ordered(allq)


def oracle_sql() -> dict[str, str]:
    return _ordered(_merge(_TPCH_ORACLES, "ORACLES"))
