"""Graded queries that exercise the PROCESSOR / PIPELINE / FRAME surfaces —
each runs the actual library machinery (DataPipeline, LabelEncoding, merge)
and is verified against an independent DuckDB SQL re-implementation of the
same semantics. This puts the fit/transform layer itself under the driver's
correctness gate, not just unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bears_spark.frame import SparkFrame
from bears_spark.pipeline import DataPipeline, PipelineStepConfig
from bears_spark.localframe import local_df
from bears_spark.queries.tables import load_table


# --------------------------------------------------------------------------
# pipeline_text_clean: a 3-step DataPipeline (lowercase -> punctuation strip
# -> html strip) + token count, end to end through the pipeline executor.
def pipeline_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pipe = DataPipeline(
        [
            PipelineStepConfig(input="text", transformer="case", output="t1", params={"case": "lower"}),
            PipelineStepConfig(input="t1", transformer="striphtml", output="t2"),
            PipelineStepConfig(input="t2", transformer="punctuationcleaner", output="t3", params={"replacement": " "}),
        ]
    )
    out = pipe.fit_transform(docs)
    from bears_spark.functions.text import token_count

    return out.select(
        "doc_id",
        F.length("t3").alias("clean_len"),
        token_count("t3").alias("n_tokens"),
    ).orderBy("doc_id")


# DuckDB mirror: lower -> strip <.*?> -> replace ASCII punctuation with space
_PUNCT_CLASS = r"""[!"#$%&''()*+,\-./:;<=>?@\[\\\]^_`{|}~]"""

PIPELINE_TEXT_CLEAN_SQL = f"""
WITH cleaned AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(text), '<.*?>', '', 'g'), '{_PUNCT_CLASS}', ' ', 'g') AS t3
  FROM documents
)
SELECT doc_id, length(t3) AS clean_len,
       len(list_filter(regexp_split_to_array(trim(t3), '\\s+'), x -> x <> '')) AS n_tokens
FROM cleaned ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# lang_label_encode: LabelEncoding fit+transform (np.unique sort order,
# one_to_n range) — oracle = dense_rank over sorted distinct labels.
def lang_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.processor.categorical import LabelEncoding

    docs = load_table(spark, sf_dir, "documents")
    enc = LabelEncoding(encoding_range="one_to_n")
    enc.fit(docs, ["lang"])
    return enc.apply(docs, "lang", "lang_code").select("doc_id", "lang", "lang_code").orderBy("doc_id")


LANG_LABEL_ENCODE_SQL = """
SELECT doc_id, lang, dense_rank() OVER (ORDER BY lang) AS lang_code
FROM documents ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# value_mean_imputation: NumericMissingValueImputation(mean) over a column
# with deterministically-injected nulls (error events) — oracle computes the
# same train-time mean and coalesce.
def value_mean_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.processor.numeric import NumericMissingValueImputation

    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(F.col("value"))
    )
    imp = NumericMissingValueImputation(strategy="mean")
    imp.fit(ev, ["v"])
    return (
        imp.apply(ev, "v", "v_filled")
        .select("event_id", F.round("v_filled", 6).alias("v_filled"))
        .orderBy("event_id")
    )


VALUE_MEAN_IMPUTATION_SQL = """
WITH masked AS (
  SELECT event_id, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v FROM events
), m AS (SELECT avg(v) AS mean_v FROM masked)
SELECT event_id, round(coalesce(v, mean_v), 6) AS v_filled
FROM masked, m ORDER BY event_id
"""


# --------------------------------------------------------------------------
# merge_indicator_counts: SparkFrame.merge(outer, indicator=True) provenance
# counts — pandas-merge semantics under the gate.
def merge_indicator_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = SparkFrame(
        load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    )
    # acctbal filter drops some nations from the supplier side so all three
    # provenance categories appear in the result
    supp = SparkFrame(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    merged = cust.merge(supp, on="nationkey", how="outer", indicator=True)
    return merged.df.groupBy("_merge").agg(F.count("*").alias("n")).orderBy("_merge")


MERGE_INDICATOR_SQL = """
WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
     s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000),
     j AS (
       SELECT CASE WHEN c.nationkey IS NOT NULL AND s.nationkey IS NOT NULL THEN 'both'
                   WHEN c.nationkey IS NOT NULL THEN 'left_only'
                   ELSE 'right_only' END AS _merge
       FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
     )
SELECT _merge, count(*) AS n FROM j GROUP BY _merge ORDER BY _merge
"""

# --------------------------------------------------------------------------
# tfidf_doc_terms: TFIDFVectorization fit+transform (sklearn-compatible
# smooth idf + l2 norm), exploded to (doc_id, term, weight) rows so the
# vector is graded scalar-by-scalar. Vocab = top-16 terms by document
# frequency (ties broken by term) — the oracle recomputes fit AND transform.
def tfidf_doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.processor.text import TFIDFVectorization

    docs = load_table(spark, sf_dir, "documents")
    tf = TFIDFVectorization(max_features=16)
    tf.fit(docs, ["text"])
    vocab_arr = F.lit(list(tf.vocab_))
    vec = tf.apply(docs, "text", "tfidf")
    return (
        vec.select("doc_id", F.posexplode("tfidf").alias("pos", "weight"))
        .filter(F.col("weight") != 0)
        .select(
            "doc_id",
            F.element_at(vocab_arr, F.col("pos") + 1).alias("term"),
            F.round("weight", 6).alias("weight"),
        )
        .orderBy("doc_id", "term")
    )


TFIDF_DOC_TERMS_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\b\w\w+\b') AS t FROM documents
), n AS (SELECT count(*) AS n_docs FROM documents),
tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
vocab AS (SELECT term, df FROM dfreq ORDER BY df DESC, term ASC LIMIT 16),
idf AS (SELECT term, ln((1 + n_docs) / (1 + df)) + 1.0 AS idf FROM vocab, n),
tfc AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
w AS (SELECT t.doc_id, i.term, t.tf * i.idf AS w FROM tfc t JOIN idf i USING (term)),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id)
SELECT w.doc_id, w.term, round(w.w / nrm.nrm, 6) AS weight
FROM w JOIN nrm USING (doc_id)
ORDER BY doc_id, term
"""


# --------------------------------------------------------------------------
# assembled_features: VectorAssembler over (array + scalar) inputs — inputs
# sorted by name, scalars cast to double — graded via size/first/last.
def assembled_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.processor.vector import VectorAssembler

    emb = load_table(spark, sf_dir, "embeddings")
    va = VectorAssembler()
    out = va.apply(emb, ["embedding", "label"], "feat")
    return out.select(
        "vec_id",
        F.size("feat").alias("n_features"),
        F.round(F.element_at(F.col("feat"), 1), 6).alias("f_first"),
        F.round(F.element_at(F.col("feat"), -1), 6).alias("f_last"),
    ).orderBy("vec_id")


ASSEMBLED_FEATURES_SQL = """
SELECT vec_id, len(embedding) + 1 AS n_features,
       round(embedding[1]::DOUBLE, 6) AS f_first,
       round(label::DOUBLE, 6) AS f_last
FROM embeddings ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# stream_shard_keys: deterministic pmod sharding (stream.shard, the DDP
# worker-shard primitive) — rank 1 of 4 on o_orderkey.
def stream_shard_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.stream import shard

    orders = load_table(spark, sf_dir, "orders")
    return shard(orders, rank=1, world_size=4, id_col="o_orderkey").select("o_orderkey").orderBy("o_orderkey")


STREAM_SHARD_SQL = """
SELECT o_orderkey FROM orders WHERE o_orderkey % 4 = 1 ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# ann_ivf_label_topk: IVF two-stage ANN with a deterministic coarse quantizer
# (per-label mean embedding, rounded to 6dp so both engines see identical
# centroids) — assignment via broadcast-centroid join, probe the 3 centroids
# nearest the query, exact top-10 within probed cells.
def ann_ivf_label_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("m"))
        .groupBy("label")
        .agg(F.transform(F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]).alias("centroid"))
        .select(F.col("label").alias("centroid_id"), "centroid")
    )
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ivf_topk(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", q, cent, k=10, nprobe=3
    ).select("vec_id", F.round("cosine", 6).alias("cosine"))


_DOT_EQ = "list_sum(list_transform(list_zip(e.embedding, q.embedding), x -> x[1]::DOUBLE * x[2]::DOUBLE))"
_N_E = "sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))"
_N_Q = "sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))"
_DOT_EC = "list_sum(list_transform(list_zip(e.embedding, c.centroid), x -> x[1]::DOUBLE * x[2]))"
_N_C = "sqrt(list_sum(list_transform(c.centroid, x -> x * x)))"
_DOT_CQ = "list_sum(list_transform(list_zip(c.centroid, q.embedding), x -> x[1] * x[2]::DOUBLE))"

ANN_IVF_SQL = f"""
WITH cent0 AS (
  SELECT label, t.pos AS pos, round(avg(embedding[t.pos]::DOUBLE), 6) AS m
  FROM embeddings CROSS JOIN range(1, 65) t(pos)
  GROUP BY label, t.pos
), cent AS (
  SELECT label AS centroid_id, list(m ORDER BY pos) AS centroid FROM cent0 GROUP BY label
), q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT e.vec_id, c.centroid_id, {_DOT_EC} / ({_N_E} * {_N_C}) AS csim
  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id <> 0
), assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id ASC) AS rn
    FROM sims) WHERE rn = 1
), probes AS (
  SELECT c.centroid_id FROM cent c, q
  ORDER BY {_DOT_CQ} / ({_N_C} * {_N_Q}) DESC, c.centroid_id ASC LIMIT 3
)
SELECT e.vec_id AS vec_id, round({_DOT_EQ} / ({_N_E} * {_N_Q}), 6) AS cosine
FROM embeddings e JOIN assigned a ON e.vec_id = a.vec_id, q
WHERE a.centroid_id IN (SELECT centroid_id FROM probes)
ORDER BY {_DOT_EQ} / ({_N_E} * {_N_Q}) DESC, e.vec_id ASC
LIMIT 10
"""

# --------------------------------------------------------------------------
# segment_zscore_grouped_map: the grouped-map surface (GroupBy.apply_in_pandas
# — Arrow batches per group on executors) graded against a window-SQL oracle:
# per-mktsegment z-score of customer balances computed BY pandas inside the
# UDF, matching stddev_samp semantics.
def segment_zscore_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")

    def _z(pdf: pd.DataFrame) -> pd.DataFrame:
        mu, sd = pdf["c_acctbal"].mean(), pdf["c_acctbal"].std(ddof=1)
        pdf["z"] = ((pdf["c_acctbal"] - mu) / sd).round(6)
        return pdf[["c_custkey", "c_mktsegment", "z"]]

    sf = SparkFrame(cust)
    out = sf.groupby("c_mktsegment").apply_in_pandas(_z, "c_custkey long, c_mktsegment string, z double")
    return out.df.orderBy("c_custkey")


SEGMENT_ZSCORE_SQL = """
SELECT c_custkey, c_mktsegment,
       round((c_acctbal - avg(c_acctbal) OVER w) / stddev_samp(c_acctbal) OVER w, 6) AS z
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment)
ORDER BY c_custkey
"""


# --------------------------------------------------------------------------
# ev_resample_hourly: SparkFrame.resample (date_trunc groupBy) under the gate.
def ev_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sf = SparkFrame(ev.select("ts", "value"))
    out = sf.resample("ts", "hour", {"value": ["sum", "count"]}).df
    return out.select(
        F.unix_micros("ts").alias("hour_us"),
        F.round("value_sum", 6).alias("value_sum"),
        F.col("value_count").alias("n"),
    ).orderBy("hour_us")


EV_RESAMPLE_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
       round(sum(value), 6) AS value_sum,
       count(value) AS n
FROM events GROUP BY 1 ORDER BY hour_us
"""


# --------------------------------------------------------------------------
# customer_name_parse: the .str accessor surface (regex extract + casing)
# graded against DuckDB string functions.
def customer_name_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = SparkFrame(load_table(spark, sf_dir, "customer"))
    name = cust["c_name"]
    out = cust.df.select(
        "c_custkey",
        name.str.extract(r"Customer#(\d+)", 1).spark.cast("bigint").alias("name_num"),
        name.str.upper().spark.alias("name_upper"),
        name.str.len().spark.alias("name_len"),
    )
    return out.orderBy("c_custkey")


CUSTOMER_NAME_PARSE_SQL = """
SELECT c_custkey,
       regexp_extract(c_name, 'Customer#(\\d+)', 1)::BIGINT AS name_num,
       upper(c_name) AS name_upper,
       length(c_name) AS name_len
FROM customer ORDER BY c_custkey
"""


# --------------------------------------------------------------------------
# doc_concat_affix: TextConcatenation (shortest_first fit order) + LabelAffix
# through the DataPipeline executor, graded against concat_ws SQL. The
# shortest-first order is fit from per-column average lengths, which the
# oracle recomputes.
def doc_concat_affix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pipe = DataPipeline(
        [
            PipelineStepConfig(
                input=["lang", "source", "text"],
                transformer="textconcat",
                output="joined",
                params={"sep": " | ", "order": "shortest_first"},
            ),
            PipelineStepConfig(input="lang", transformer="labelaffix", output="lang_tag", params={"prefix": "<", "suffix": ">"}),
        ]
    )
    out = pipe.fit_transform(docs)
    return out.select("doc_id", F.length("joined").alias("joined_len"), "lang_tag").orderBy("doc_id")


DOC_CONCAT_AFFIX_SQL = """
WITH avglen AS (
  SELECT avg(length(lang)) AS l_lang, avg(length(source)) AS l_source, avg(length(text)) AS l_text
  FROM documents
)
SELECT doc_id,
       -- shortest_first: lang/source/text ordered by fitted avg length (the
       -- synthetic data always orders lang < source < text; assert via the
       -- avglen CTE so the oracle fails loudly if that ever changes)
       CASE WHEN (SELECT l_lang <= l_source AND l_source <= l_text FROM avglen)
            THEN length(concat_ws(' | ', lang, source, text))
       END AS joined_len,
       '<' || lang || '>' AS lang_tag
FROM documents ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# lang_mode_imputation: CategoricalMissingValueImputation(mode) over a lang
# column with deterministically-injected nulls (src1* sources, ~30% of docs)
# — the oracle recomputes the deterministic mode (max count, ties smallest).
def lang_mode_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.processor.categorical import CategoricalMissingValueImputation

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "l", F.when(F.col("source").like("src1%"), F.lit(None).cast("string")).otherwise(F.col("lang"))
    )
    imp = CategoricalMissingValueImputation(strategy="mode")
    imp.fit(docs, ["l"])
    return imp.apply(docs, "l", "l_filled").select("doc_id", "l_filled").orderBy("doc_id")


LANG_MODE_IMPUTATION_SQL = """
WITH masked AS (
  SELECT doc_id, CASE WHEN source LIKE 'src1%' THEN NULL ELSE lang END AS l FROM documents
), m AS (
  SELECT l AS mode_l FROM masked WHERE l IS NOT NULL
  GROUP BY l ORDER BY count(*) DESC, l ASC LIMIT 1
)
SELECT doc_id, coalesce(l, mode_l) AS l_filled
FROM masked, m ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# orders_global_cumsum: distributed global running total (functions/prefix.py
# — range partition + local Arrow scan + prefix offsets, never a one-task
# global window). Prices go through exact integer cents so the running sum is
# associative and hash-exact against the oracle's sequential window.
def orders_global_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.prefix import partitioned_cumsum

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    out = partitioned_cumsum(orders, ["o_orderkey"], ["cents"])
    return out.select("o_orderkey", F.col("cents_cumsum").alias("cum_cents")).orderBy("o_orderkey")


ORDERS_GLOBAL_CUMSUM_SQL = """
SELECT o_orderkey,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
FROM orders ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# doc_budget_selection: take documents in doc_id order until a 500k-char
# budget is spent (select_until_budget — the "stop at N tokens" mixing step),
# exact integer cumsum so the cut point is deterministic.
def doc_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.prefix import select_until_budget

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = select_until_budget(docs, ["doc_id"], "n_chars", budget=500_000)
    return out.select("doc_id", "n_chars", F.col("n_chars_cumsum").alias("cum_chars")).orderBy("doc_id")


DOC_BUDGET_SELECTION_SQL = """
WITH c AS (
  SELECT doc_id, n_chars,
         CAST(sum(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars
  FROM documents
)
SELECT doc_id, n_chars, cum_chars FROM c WHERE cum_chars <= 500000 ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# part_price_scaled: the three fitted scalers (standard / min-max / robust)
# over p_retailprice — fit = one aggregation for all three (fit_together),
# transform = one fused projection. Oracle recomputes mean/stddev_pop/min/max/quantile_cont
# independently; round(...,6) on both sides absorbs last-ulp formula
# differences between engines.
def part_price_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.processor.base import fit_together
    from bears_spark.processor.numeric import MinMaxScaling, RobustScaling, StandardScaling

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    std, mm, rb = StandardScaling(), MinMaxScaling(), RobustScaling()
    fit_together(part, [(std, ["p_retailprice"]), (mm, ["p_retailprice"]), (rb, ["p_retailprice"])])
    price = F.col("p_retailprice")
    return part.select(
        "p_partkey",
        F.round(std.transform_expr(price), 6).alias("price_z"),
        F.round(mm.transform_expr(price), 6).alias("price_minmax"),
        F.round(rb.transform_expr(price), 6).alias("price_robust"),
    ).orderBy("p_partkey")


PART_PRICE_SCALED_SQL = """
WITH s AS (
  SELECT avg(p_retailprice) AS m, stddev_pop(p_retailprice) AS sd,
         min(p_retailprice) AS lo, max(p_retailprice) AS hi,
         quantile_cont(p_retailprice, 0.5) AS med,
         quantile_cont(p_retailprice, 0.75) - quantile_cont(p_retailprice, 0.25) AS iqr
  FROM part
)
SELECT p_partkey,
       round((p_retailprice - m) / (CASE WHEN sd > 0 THEN sd ELSE 1 END), 6) AS price_z,
       round((p_retailprice - lo) * (CASE WHEN hi > lo THEN 1.0 / (hi - lo) ELSE 0 END), 6) AS price_minmax,
       round((p_retailprice - med) / (CASE WHEN iqr > 0 THEN iqr ELSE 1 END), 6) AS price_robust
FROM part, s ORDER BY p_partkey
"""


QUERIES = {
    "pipeline_text_clean": pipeline_text_clean,
    "part_price_scaled": part_price_scaled,
    "lang_label_encode": lang_label_encode,
    "value_mean_imputation": value_mean_imputation,
    "merge_indicator_counts": merge_indicator_counts,
    "tfidf_doc_terms": tfidf_doc_terms,
    "assembled_features": assembled_features,
    "stream_shard_keys": stream_shard_keys,
    "ann_ivf_label_topk": ann_ivf_label_topk,
    "segment_zscore_grouped_map": segment_zscore_grouped_map,
    "ev_resample_hourly": ev_resample_hourly,
    "customer_name_parse": customer_name_parse,
    "doc_concat_affix": doc_concat_affix,
    "lang_mode_imputation": lang_mode_imputation,
    "orders_global_cumsum": orders_global_cumsum,
    "doc_budget_selection": doc_budget_selection,
}

ORACLES = {
    "pipeline_text_clean": PIPELINE_TEXT_CLEAN_SQL,
    "part_price_scaled": PART_PRICE_SCALED_SQL,
    "lang_label_encode": LANG_LABEL_ENCODE_SQL,
    "value_mean_imputation": VALUE_MEAN_IMPUTATION_SQL,
    "merge_indicator_counts": MERGE_INDICATOR_SQL,
    "tfidf_doc_terms": TFIDF_DOC_TERMS_SQL,
    "assembled_features": ASSEMBLED_FEATURES_SQL,
    "stream_shard_keys": STREAM_SHARD_SQL,
    "ann_ivf_label_topk": ANN_IVF_SQL,
    "segment_zscore_grouped_map": SEGMENT_ZSCORE_SQL,
    "ev_resample_hourly": EV_RESAMPLE_SQL,
    "customer_name_parse": CUSTOMER_NAME_PARSE_SQL,
    "doc_concat_affix": DOC_CONCAT_AFFIX_SQL,
    "lang_mode_imputation": LANG_MODE_IMPUTATION_SQL,
    "orders_global_cumsum": ORDERS_GLOBAL_CUMSUM_SQL,
    "doc_budget_selection": DOC_BUDGET_SELECTION_SQL,
}


# --------------------------------------------------------------------------
# cust_balance_quartiles: QuantileBinning fit+transform — exact interior
# quartile boundaries baked as literals, per-customer bin assignment plus
# per-bin counts. Oracle recomputes quantile_cont boundaries independently;
# bin ASSIGNMENTS are engine-exact because an interpolated boundary lies
# strictly between two data values (see QuantileBinning docstring).
def cust_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.processor.numeric import QuantileBinning

    cust = load_table(spark, sf_dir, "customer")
    binner = QuantileBinning(num_bins=4)
    binner.fit(cust, ["c_acctbal"])
    return (
        binner.apply(cust, "c_acctbal", "bal_bin")
        .select("c_custkey", "bal_bin")
        .orderBy("c_custkey")
    )


CUST_BALANCE_QUARTILES_SQL = """
WITH b AS (
  SELECT quantile_cont(c_acctbal, 0.25) AS q1,
         quantile_cont(c_acctbal, 0.50) AS q2,
         quantile_cont(c_acctbal, 0.75) AS q3
  FROM customer
)
SELECT c_custkey,
       CAST(CASE WHEN c_acctbal <= q1 THEN 0
                 WHEN c_acctbal <= q2 THEN 1
                 WHEN c_acctbal <= q3 THEN 2
                 ELSE 3 END AS INTEGER) AS bal_bin
FROM customer, b ORDER BY c_custkey
"""

QUERIES["cust_balance_quartiles"] = cust_balance_quartiles
ORACLES["cust_balance_quartiles"] = CUST_BALANCE_QUARTILES_SQL


# --------------------------------------------------------------------------
# customer_pseudonymize: keyed deterministic tokenization of the PII column
# (processor/text.pseudonymize) — unlike redaction, the token preserves
# joinability/groupability (same name -> same token under one secret). The
# oracle recomputes the identical salted SHA-256 in DuckDB; the grouped
# re-aggregation on the TOKEN proves linkage survives pseudonymization.
def customer_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.processor.text import pseudonymize

    cust = load_table(spark, sf_dir, "customer")
    tok = cust.select(
        pseudonymize("c_name", secret="graded-secret").alias("name_token"),
        "c_mktsegment",
        "c_acctbal",
    )
    return tok.groupBy("name_token", "c_mktsegment").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2).alias("bal"),
    )


CUSTOMER_PSEUDO_SQL = """
WITH tok AS (
  SELECT substr(sha256('graded-secret' || ':' || c_name), 1, 16) AS name_token,
         c_mktsegment, c_acctbal
  FROM customer WHERE c_name IS NOT NULL
  UNION ALL
  SELECT NULL, c_mktsegment, c_acctbal FROM customer WHERE c_name IS NULL
)
SELECT name_token, c_mktsegment, count(*) AS n,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS bal
FROM tok GROUP BY 1, 2
"""

QUERIES["customer_pseudonymize"] = customer_pseudonymize
ORACLES["customer_pseudonymize"] = CUSTOMER_PSEUDO_SQL


# --------------------------------------------------------------------------
# emb_covariance_sample: grades the distributed Gram/covariance reduction
# behind PCA (functions/pca.py) — sampled covariance-matrix entries from
# the partial-Gram path must equal DuckDB's covar_samp on the same element
# pairs. The d x d eigendecomposition itself is driver-side numpy (not
# SQL-expressible); projection quality is pinned in test_functions.
def emb_covariance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from bears_spark.functions.pca import gram_and_mean

    emb = load_table(spark, sf_dir, "embeddings")
    gram, mean, n = gram_and_mean(emb, "embedding")
    cov = (gram - n * np.outer(mean, mean)) / (n - 1)
    pairs = [(0, 0), (0, 1), (2, 3), (10, 40), (63, 63)]
    rows = [(int(i), int(j), float(round(cov[i, j], 8))) for i, j in pairs]
    return local_df(spark, rows, "i int, j int, cov double")


EMB_COVARIANCE_SQL = """
SELECT * FROM (
  SELECT 0 AS i, 0 AS j, round(covar_samp(embedding[1]::DOUBLE, embedding[1]::DOUBLE), 8) AS cov FROM embeddings
  UNION ALL
  SELECT 0, 1, round(covar_samp(embedding[1]::DOUBLE, embedding[2]::DOUBLE), 8) FROM embeddings
  UNION ALL
  SELECT 2, 3, round(covar_samp(embedding[3]::DOUBLE, embedding[4]::DOUBLE), 8) FROM embeddings
  UNION ALL
  SELECT 10, 40, round(covar_samp(embedding[11]::DOUBLE, embedding[41]::DOUBLE), 8) FROM embeddings
  UNION ALL
  SELECT 63, 63, round(covar_samp(embedding[64]::DOUBLE, embedding[64]::DOUBLE), 8) FROM embeddings
)
"""

QUERIES["emb_covariance_sample"] = emb_covariance_sample
ORACLES["emb_covariance_sample"] = EMB_COVARIANCE_SQL


# --------------------------------------------------------------------------
# emb_dimension_stats: per-dimension embedding health check — mean/std/
# min/max per vector position via one posexplode + groupBy (dead or
# exploding dimensions are the classic embedding-pipeline defect). At
# corpus scale this is the mapInPandas partial-moments shape
# (functions/pca.gram_and_mean); the explode form here is the verifiable
# small-d variant.
def emb_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("v"), 6).alias("mean_v"),
            F.round(F.stddev_samp("v"), 6).alias("std_v"),
            F.round(F.min("v"), 6).alias("min_v"),
            F.round(F.max("v"), 6).alias("max_v"),
        )
    )


EMB_DIM_STATS_SQL = """
SELECT t.pos - 1 AS pos, count(*) AS n,
       round(avg(embedding[t.pos]::DOUBLE), 6) AS mean_v,
       round(stddev_samp(embedding[t.pos]::DOUBLE), 6) AS std_v,
       round(min(embedding[t.pos]::DOUBLE), 6) AS min_v,
       round(max(embedding[t.pos]::DOUBLE), 6) AS max_v
FROM embeddings CROSS JOIN range(1, 65) t(pos)
GROUP BY t.pos
"""

QUERIES["emb_dimension_stats"] = emb_dimension_stats
ORACLES["emb_dimension_stats"] = EMB_DIM_STATS_SQL


# --------------------------------------------------------------------------
# pipeline_quality_gate: the corpus-quality signals driven THROUGH the
# config-driven DataPipeline (integration-level grading: the registry
# resolution, schema propagation, and each processor's expression must all
# be right for the hash to match) — token count, language id, and the
# Gopher keep flag in one configured pass; the oracle recomputes all three
# relationally from their established SQL formulations.
def pipeline_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pipe = DataPipeline.from_config(
        {
            "pipeline": [
                {"input": "text", "transformer": "token_count", "output": "n_tok"},
                {"input": "text", "transformer": "lang_id", "output": "lang_pred"},
                {"input": "text", "transformer": "gopher_quality", "output": "keep"},
            ]
        }
    )
    out = pipe.fit_transform(docs)
    return out.select("doc_id", "n_tok", "lang_pred", "keep").orderBy("doc_id")


def _pipeline_quality_sql() -> str:
    from bears_spark.queries.qualityops import DOC_GOPHER_SQL
    from bears_spark.queries.textops import _TOKS, _lang_score_sql

    return f"""
WITH g AS ({DOC_GOPHER_SQL.strip()}),
s AS (
  SELECT doc_id,
         {_lang_score_sql('en')} AS s_en,
         {_lang_score_sql('de')} AS s_de,
         {_lang_score_sql('fr')} AS s_fr,
         {_lang_score_sql('es')} AS s_es,
         length(regexp_replace(lower(trim(text)), '[^一-鿿]', '', 'g')) AS cjk
  FROM documents
),
l AS (
  SELECT doc_id,
         CASE WHEN cjk > 0 THEN 'zh'
              WHEN s_en >= greatest(s_de, s_fr, s_es, 1) THEN 'en'
              WHEN s_de >= greatest(s_fr, s_es, 1) THEN 'de'
              WHEN s_fr >= greatest(s_es, 1) THEN 'fr'
              WHEN s_es >= 1 THEN 'es'
              ELSE 'unk' END AS lang_pred
  FROM s
),
t AS (SELECT doc_id, len({_TOKS}) AS n_tok FROM documents)
SELECT t.doc_id AS doc_id, t.n_tok AS n_tok, l.lang_pred AS lang_pred, g.keep AS keep
FROM t JOIN l ON t.doc_id = l.doc_id JOIN g ON t.doc_id = g.doc_id
ORDER BY doc_id
"""


PIPELINE_QUALITY_GATE_SQL = _pipeline_quality_sql()

QUERIES["pipeline_quality_gate"] = pipeline_quality_gate
ORACLES["pipeline_quality_gate"] = PIPELINE_QUALITY_GATE_SQL
