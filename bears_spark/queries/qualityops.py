"""Graded corpus-quality queries: Gopher/C4-style filters, n-gram
repetition, and deterministic hash sampling over the documents table,
each verified against an independent DuckDB re-implementation.

Cross-engine exactness strategy (see tools/check_correctness.py): every
ratio is a single int/int IEEE division (bit-identical across engines);
every keep-rule is an integer comparison; the sampling hash is the shared
md5-based scheme from functions/hashing.py. No float summation, no
round() — nothing that can straddle a rounding boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bears_spark.functions.quality import (
    MAX_MEAN_WORD_LEN,
    MAX_WORDS,
    MIN_MEAN_WORD_LEN,
    MIN_STOPWORD_PCT,
    MIN_UNIQUE_PCT,
    MIN_WORDS,
    gopher_quality,
    hash_sample,
    top_ngram_repetition,
)
from bears_spark.functions.text import EN_STOPWORDS
from bears_spark.queries.sketchops import _duck_h64
from bears_spark.queries.tables import load_table
from bears_spark.streaming.jobs import run_to_memory

# DuckDB tokenization mirroring functions/text.py tokenize(lower(text)).
_DUCK_TOKS = r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')"
_DUCK_STOPWORDS = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


# --------------------------------------------------------------------------
# doc_gopher_quality: per-document Gopher rule metrics + keep flag.
def doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return gopher_quality(docs, "text", "doc_id").orderBy("doc_id")


DOC_GOPHER_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS w FROM documents
), stats AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS total_chars,
         CAST(len(list_filter(w, x -> x IN ({_DUCK_STOPWORDS}))) AS BIGINT) AS n_stop,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
  FROM toks
)
SELECT doc_id, n_words, n_distinct, n_stop, total_chars,
       total_chars / n_words AS mean_word_len,
       n_stop / n_words AS stop_frac,
       n_distinct / n_words AS uniq_frac,
       (n_words >= {MIN_WORDS} AND n_words <= {MAX_WORDS}
        AND total_chars >= {MIN_MEAN_WORD_LEN} * n_words
        AND total_chars <= {MAX_MEAN_WORD_LEN} * n_words
        AND n_stop * 100 >= {MIN_STOPWORD_PCT} * n_words
        AND n_distinct * 100 >= {MIN_UNIQUE_PCT} * n_words) AS keep
FROM stats ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# doc_top2gram_repetition: Gopher repetition rule — fraction of a doc's
# word bigrams occupied by its most frequent bigram.
def doc_top2gram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return top_ngram_repetition(docs, "text", "doc_id", n=2).orderBy("doc_id")


DOC_TOP2GRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS w FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS g
  FROM toks WHERE len(w) >= 2
), per_gram AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_grams,
       CAST(max(c) AS BIGINT) AS top_count,
       CAST(max(c) AS BIGINT) / CAST(sum(c) AS BIGINT) AS top_frac
FROM per_gram GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# doc_hash_sample_rates: deterministic md5-bucket sampling (25% at salt 7);
# per-language total vs kept counts. The Spark side goes through the
# hash_sample API (filter + groupBy + left join back onto totals).
_SAMPLE_PCT = 25
_SAMPLE_SALT = 7


def doc_hash_sample_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    total = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    kept = (
        hash_sample(docs, "doc_id", _SAMPLE_PCT, salt=_SAMPLE_SALT)
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        total.join(kept, "lang", "left")
        .select("lang", "n_total", F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"))
        .orderBy("lang")
    )


DOC_HASH_SAMPLE_SQL = f"""
SELECT lang,
       count(*) AS n_total,
       CAST(count(*) FILTER (
         WHERE ('0x' || substr(md5('{_SAMPLE_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < {_SAMPLE_PCT}
       ) AS BIGINT) AS n_kept
FROM documents GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# nation_top_customer: max_by with an explicit (value, key) struct
# tie-break — the idxmax/arg-max aggregation family. Oracle uses a ranking
# window instead of arg_max, so the implementations are independent.
def nation_top_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.max_by("c_custkey", F.struct("c_acctbal", "c_custkey")).alias("top_custkey"),
            F.max("c_acctbal").alias("top_bal"),
        )
        .orderBy("n_name")
    )


NATION_TOP_CUSTOMER_SQL = """
WITH ranked AS (
  SELECT n_name, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name, c_custkey AS top_custkey, c_acctbal AS top_bal
FROM ranked WHERE rn = 1 ORDER BY n_name
"""


# --------------------------------------------------------------------------
# pii_redact_contacts: the PIIRedaction processor over synthetic contact
# strings built deterministically from customer rows (the documents table
# contains no PII, so the query manufactures emails/phones/IPs to redact —
# every row exercises all three patterns). Oracle regexes are generated
# from the same PIIRedaction.PATTERNS constants; both engines use ASCII
# \d/\b semantics so Java regex and RE2 agree.
def pii_redact_contacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.processor.text import PIIRedaction

    cust = load_table(spark, sf_dir, "customer")
    contact = F.concat(
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.regexp_replace(F.col("c_name"), "#", "")),
        F.lit("@example.com> ph 555-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit(".1"),
    )
    staged = cust.select("c_custkey", contact.alias("contact"))
    redacted = PIIRedaction().apply(staged, "contact", "redacted")
    email_only = PIIRedaction(kinds=("email",)).apply(redacted, "contact", "email_redacted")
    return email_only.select("c_custkey", "redacted", "email_redacted").orderBy("c_custkey")


def _pii_sql() -> str:
    from bears_spark.processor.text import PIIRedaction

    expr = "contact"
    for kind, pattern in PIIRedaction.PATTERNS:
        expr = "regexp_replace({}, '{}', '<{}>', 'g')".format(expr, pattern, kind)
    email_pat = dict(PIIRedaction.PATTERNS)["email"]
    email_expr = "regexp_replace(contact, '{}', '<email>', 'g')".format(email_pat)
    return """
WITH c AS (
  SELECT c_custkey,
         c_name || ' <' || lower(replace(c_name, '#', '')) || '@example.com> ph 555-' ||
         lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
         ' ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.1' AS contact
  FROM customer
)
SELECT c_custkey, {} AS redacted, {} AS email_redacted
FROM c ORDER BY c_custkey
""".format(expr, email_expr)


PII_REDACT_SQL = _pii_sql()


# --------------------------------------------------------------------------
# doc_stratified_sample: per-language mixture weighting (downsample en,
# keep de, default rate elsewhere) via the join-free CASE-compiled filter.
_STRATA_PCTS = {"en": 10, "de": 50}
_STRATA_DEFAULT = 25
_STRATA_SALT = 11


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.quality import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    total = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    kept = (
        stratified_hash_sample(docs, "doc_id", "lang", _STRATA_PCTS, default_pct=_STRATA_DEFAULT, salt=_STRATA_SALT)
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        total.join(kept, "lang", "left")
        .select("lang", "n_total", F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"))
        .orderBy("lang")
    )


def _strata_sql() -> str:
    cases = " ".join(f"WHEN '{k}' THEN {p}" for k, p in sorted(_STRATA_PCTS.items()))
    return f"""
SELECT lang,
       count(*) AS n_total,
       CAST(count(*) FILTER (
         WHERE ('0x' || substr(md5('{_STRATA_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
               < CASE lang {cases} ELSE {_STRATA_DEFAULT} END
       ) AS BIGINT) AS n_kept
FROM documents GROUP BY lang ORDER BY lang
"""


DOC_STRATIFIED_SQL = _strata_sql()


# --------------------------------------------------------------------------
# doc_vocabulary_topk: corpus vocabulary (tf, df) with Zipf rank for the
# top 50 terms. The rank window runs AFTER sort+limit (50 rows), so the
# plan is scan -> partial agg -> TakeOrderedAndProject, never a global
# window over the full vocabulary.
def doc_vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bears_spark.functions.quality import vocabulary

    docs = load_table(spark, sf_dir, "documents")
    top = vocabulary(docs, "text", "doc_id").orderBy(F.desc("tf"), "term").limit(50)
    return top.withColumn("zipf_rank", F.row_number().over(Window.orderBy(F.desc("tf"), "term")))


DOC_VOCAB_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
), per AS (
  SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
)
SELECT term, tf, df, row_number() OVER (ORDER BY tf DESC, term) AS zipf_rank
FROM per ORDER BY tf DESC, term LIMIT 50
"""


# --------------------------------------------------------------------------
# doc_decontaminate: train/test leakage check — split the corpus with the
# deterministic hash (25% test at salt 7), then per test doc count distinct
# word trigrams shared with the train side and distinct train docs sharing
# them. Never doc-pairwise: one equi-join on the gram.
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.quality import ngram_contamination

    docs = load_table(spark, sf_dir, "documents")
    test = hash_sample(docs, "doc_id", _SAMPLE_PCT, salt=_SAMPLE_SALT)
    train = hash_sample(docs, "doc_id", _SAMPLE_PCT, salt=_SAMPLE_SALT, complement=True)
    return ngram_contamination(train, test, "text", "doc_id", n=3).orderBy("doc_id")


DOC_DECONTAMINATE_SQL = f"""
WITH grams AS (
  SELECT doc_id,
         ('0x' || substr(md5('{_SAMPLE_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < {_SAMPLE_PCT} AS is_test,
         unnest(list_distinct(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS gram
  FROM (SELECT doc_id, {_DUCK_TOKS} AS w FROM documents) WHERE len(w) >= 3
)
SELECT t.doc_id,
       count(DISTINCT t.gram) AS n_hit_grams,
       count(DISTINCT r.doc_id) AS n_train_docs
FROM (SELECT * FROM grams WHERE is_test) t
JOIN (SELECT * FROM grams WHERE NOT is_test) r USING (gram)
GROUP BY t.doc_id ORDER BY 1
"""


# --------------------------------------------------------------------------
# doc_pack_sequences: GPT-style sequence packing — concatenate docs per
# hash shard in doc_id order, chunk into 256-token bins, report each doc's
# (shard, bin, offset). Pure integer window arithmetic, exact cross-engine.
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import token_count
    from bears_spark.stream import pack_sequences

    docs = load_table(spark, sf_dir, "documents").withColumn("n_tok", token_count("text"))
    return pack_sequences(docs, "doc_id", "n_tok", capacity=256, num_shards=4).orderBy("doc_id")


DOC_PACK_SQL = r"""
WITH t AS (
  SELECT doc_id, doc_id % 4 AS shard,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n
  FROM documents
), c AS (
  SELECT doc_id, shard,
         CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS strt
  FROM t
)
SELECT doc_id, shard, strt // 256 AS bin, strt % 256 AS offset FROM c ORDER BY doc_id
"""


QUERIES = {
    "doc_gopher_quality": doc_gopher_quality,
    "doc_top2gram_repetition": doc_top2gram_repetition,
    "doc_hash_sample_rates": doc_hash_sample_rates,
    "nation_top_customer": nation_top_customer,
    "pii_redact_contacts": pii_redact_contacts,
    "doc_stratified_sample": doc_stratified_sample,
    "doc_vocabulary_topk": doc_vocabulary_topk,
    "doc_decontaminate": doc_decontaminate,
    "doc_pack_sequences": doc_pack_sequences,
}

ORACLES = {
    "doc_gopher_quality": DOC_GOPHER_SQL,
    "doc_top2gram_repetition": DOC_TOP2GRAM_SQL,
    "doc_hash_sample_rates": DOC_HASH_SAMPLE_SQL,
    "nation_top_customer": NATION_TOP_CUSTOMER_SQL,
    "pii_redact_contacts": PII_REDACT_SQL,
    "doc_stratified_sample": DOC_STRATIFIED_SQL,
    "doc_vocabulary_topk": DOC_VOCAB_SQL,
    "doc_decontaminate": DOC_DECONTAMINATE_SQL,
    "doc_pack_sequences": DOC_PACK_SQL,
}


# --------------------------------------------------------------------------
# doc_balanced_sample: exactly-k-per-stratum deterministic sampling —
# row_number over (md5 hash, id) per language, keep rn <= 20. The
# hash-order makes the pick uniform-ish but fully reproducible; rn <= k
# compiles to WindowGroupLimit (per-group top-k pruning before the sort).
def doc_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bears_spark.functions.hashing import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(md5_hash64(F.col("doc_id"), salt=13).asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id", "rn")
        .orderBy("lang", "rn")
    )


DOC_BALANCED_SAMPLE_SQL = """
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id
         ) AS rn
  FROM documents
)
SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= 20 ORDER BY lang, rn
"""

QUERIES["doc_balanced_sample"] = doc_balanced_sample
ORACLES["doc_balanced_sample"] = DOC_BALANCED_SAMPLE_SQL


# --------------------------------------------------------------------------
# corpus_mixture_by_source: per-source document and token accounting with
# corpus shares — the mixture table a training run reports. The corpus
# totals use the broadcast-fit pattern (persist the tiny per-source
# aggregate, collect the one-row total, bake it into the projection as
# literals — same as processor fit state): a join of a 1-row side plans
# as BroadcastNestedLoopJoin (audit-forbidden) and a constant-key
# equi-join constant-folds back to it, while an unpartitioned window
# would funnel everything through one task. Shares are single int/int
# divisions.
def corpus_mixture_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents").withColumn("n_tok", token_count("text").cast("bigint"))
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    from bears_spark.caching import scoped_persist

    per = scoped_persist(per)
    trow = per.agg(
        F.sum("n_docs").alias("t_docs"),
        F.sum("n_tokens").alias("t_tokens"),
    ).first()
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_docs") / F.lit(int(trow["t_docs"]))).alias("doc_share"),
        (F.col("n_tokens") / F.lit(int(trow["t_tokens"]))).alias("token_share"),
    ).orderBy("source")


CORPUS_MIXTURE_SQL = r"""
WITH per AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), total AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs, CAST(sum(n_tokens) AS BIGINT) AS t_tokens FROM per
)
SELECT source, n_docs, n_tokens,
       n_docs / t_docs AS doc_share,
       n_tokens / t_tokens AS token_share
FROM per, total ORDER BY source
"""

QUERIES["corpus_mixture_by_source"] = corpus_mixture_by_source
ORACLES["corpus_mixture_by_source"] = CORPUS_MIXTURE_SQL


# --------------------------------------------------------------------------
# doc_unigram_logprob: CCNet-style language-model quality scoring with a
# corpus-trained unigram LM — per-document mean log-probability of its
# tokens under the corpus word distribution (the cheap stand-in for the
# KenLM perplexity filter; low scores = boilerplate/outlier text). Plan:
# one explode + one vocab aggregation, then a broadcast join of the
# (bounded: CCNet caps LM vocab) frequency table back onto the token
# stream and a per-doc aggregation — two shuffles total at any scale.
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w")).where(F.col("w") != "")
    freq = words.groupBy("w").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    lm = freq.crossJoin(F.broadcast(total)).select("w", F.log(F.col("c") / F.col("t")).alias("logp"))
    return (
        words.join(F.broadcast(lm), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("logp"), 6).alias("mean_logprob"),
        )
    )


DOC_UNIGRAM_SQL = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), w2 AS (
  SELECT doc_id, w FROM words WHERE w <> ''
), freq AS (
  SELECT w, count(*) AS c FROM w2 GROUP BY 1
), tot AS (
  SELECT sum(c) AS t FROM freq
), lm AS (
  SELECT w, ln(c / t) AS logp FROM freq, tot
)
SELECT doc_id, count(*) AS n_tokens, round(avg(logp), 6) AS mean_logprob
FROM w2 JOIN lm USING (w)
GROUP BY doc_id
"""

QUERIES["doc_unigram_logprob"] = doc_unigram_logprob
ORACLES["doc_unigram_logprob"] = DOC_UNIGRAM_SQL


# --------------------------------------------------------------------------
# doc_weighted_sample: Efraimidis-Spirakis weighted sampling without
# replacement, weight = document length — the quality/length-weighted corpus
# sampling primitive. Deterministic because u comes from the md5 hash family,
# so DuckDB reproduces the exact same 25-doc sample.
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.quality import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents")
    out = weighted_sample_topk(docs, "doc_id", "n_chars", k=25)
    return out.select("doc_id", "n_chars", F.round("es_key", 9).alias("es_key"))


DOC_WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         ln(({_duck_h64("doc_id", "'0'")} + 1) / 1152921504606846976.0) / n_chars AS es_key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, round(es_key, 9) AS es_key
FROM keyed ORDER BY es_key DESC, doc_id LIMIT 25
"""

QUERIES["doc_weighted_sample"] = doc_weighted_sample
ORACLES["doc_weighted_sample"] = DOC_WEIGHTED_SAMPLE_SQL


# --------------------------------------------------------------------------
# lang_source_chisq: Pearson chi-square independence test of document lang
# vs source — the corpus-balance diagnostic ("is language stratified across
# sources?"). One contingency aggregation (integer counts), marginals by
# window sums, expected = row_total*col_total/n, then the chi2 statistic.
# All counts integer; the statistic is float but each term is a single
# (obs-exp)^2/exp with exp = exact-integer product / n — engine-identical,
# and the final sum is rounded to 6.
def lang_source_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("obs"))
    row_m = cells.groupBy("lang").agg(F.sum("obs").alias("row_total"))
    col_m = cells.groupBy("source").agg(F.sum("obs").alias("col_total"))
    n = docs.count()
    joined = cells.join(F.broadcast(row_m), "lang").join(F.broadcast(col_m), "source")
    exp = (F.col("row_total") * F.col("col_total")).cast("double") / F.lit(float(n))
    term = (F.col("obs") - exp) * (F.col("obs") - exp) / exp
    return joined.agg(
        F.count("*").alias("n_cells"),
        F.lit(n).alias("n_docs"),
        F.round(F.sum(term), 6).alias("chi2"),
    )


LANG_SOURCE_CHISQ_SQL = """
WITH cells AS (
  SELECT lang, source, count(*) AS obs FROM documents GROUP BY 1, 2
), rm AS (SELECT lang, sum(obs) AS row_total FROM cells GROUP BY 1),
cm AS (SELECT source, sum(obs) AS col_total FROM cells GROUP BY 1),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       (SELECT n FROM nn) AS n_docs,
       round(sum((obs - CAST(row_total * col_total AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM nn))
                 * (obs - CAST(row_total * col_total AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM nn))
                 / (CAST(row_total * col_total AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM nn))), 6) AS chi2
FROM cells JOIN rm USING (lang) JOIN cm USING (source)
"""

QUERIES["lang_source_chisq"] = lang_source_chisq
ORACLES["lang_source_chisq"] = LANG_SOURCE_CHISQ_SQL


# --------------------------------------------------------------------------
# doc_weighted_sample_per_lang: stratified weighted sampling — 5 docs per
# source, length-weighted, deterministic (hash-derived draws). The window
# formulation keeps one shuffle on the group key; WindowGroupLimit caps the
# per-group sort at k.
def doc_weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.quality import weighted_sample_per_group

    docs = load_table(spark, sf_dir, "documents")
    out = weighted_sample_per_group(docs, "source", "doc_id", "n_chars", k=5)
    return out.select("source", "doc_id", "n_chars", F.round("es_key", 9).alias("es_key"))


DOC_WEIGHTED_PER_LANG_SQL = f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         ln(({_duck_h64("doc_id", "'0'")} + 1) / 1152921504606846976.0) / n_chars AS es_key
  FROM documents WHERE n_chars > 0
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY es_key DESC, doc_id ASC) AS rk
  FROM keyed
)
SELECT source, doc_id, n_chars, round(es_key, 9) AS es_key
FROM ranked WHERE rk <= 5
"""

QUERIES["doc_weighted_sample_per_lang"] = doc_weighted_sample_per_lang
ORACLES["doc_weighted_sample_per_lang"] = DOC_WEIGHTED_PER_LANG_SQL


# --------------------------------------------------------------------------
# doc_negative_pairs: deterministic negative sampling for contrastive
# training — for each document, 2 pseudo-random partner docs derived from
# the hash family ((h(id*salt) mod n, skipping self) — map-only, no join,
# no shuffle, and reproducible across engines/runs (the property a resumed
# 100 TB pair-generation job needs). n_docs is one scalar aggregate.
def doc_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()  # doc_ids are 0..n-1 (generator contract; asserted by oracle equality)
    outs = []
    for salt in (1, 2):
        neg = md5_hash64(F.col("doc_id"), salt=salt) % F.lit(n)
        # skip self deterministically: shift by one (mod n) on collision
        neg = F.when(neg == F.col("doc_id"), (neg + 1) % F.lit(n)).otherwise(neg)
        outs.append(docs.select("doc_id", F.lit(salt).alias("salt"), neg.alias("neg_id")))
    return outs[0].unionByName(outs[1])


def _neg_sql() -> str:
    parts = []
    for salt in (1, 2):
        h = _duck_h64("doc_id", f"'{salt}'")
        parts.append(f"""
SELECT doc_id, {salt} AS salt,
       CASE WHEN {h} % nn.n = doc_id THEN ({h} % nn.n + 1) % nn.n
            ELSE {h} % nn.n END AS neg_id
FROM documents, (SELECT count(*) AS n FROM documents) nn""")
    return " UNION ALL ".join(parts)


QUERIES["doc_negative_pairs"] = doc_negative_pairs
ORACLES["doc_negative_pairs"] = _neg_sql()


# --------------------------------------------------------------------------
# doc_three_way_split: deterministic stratified train/val/test assignment
# (80/10/10 by hash buckets) with per-source counts — the split that stays
# stable under repartition, re-runs, and incremental ingest (a doc's split
# is a pure function of its id).
def doc_three_way_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_hash64(F.col("doc_id"), salt="split") % 10
    split = F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test")
    return docs.groupBy("source", split.alias("split")).agg(F.count("*").alias("n"))


DOC_SPLIT_SQL = f"""
SELECT source,
       CASE WHEN {_duck_h64("doc_id", "'split'")} % 10 < 8 THEN 'train'
            WHEN {_duck_h64("doc_id", "'split'")} % 10 < 9 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n
FROM documents GROUP BY 1, 2
"""

QUERIES["doc_three_way_split"] = doc_three_way_split
ORACLES["doc_three_way_split"] = DOC_SPLIT_SQL


# --------------------------------------------------------------------------
# source_lang_kl: distribution-drift detection — KL divergence of each
# source's language distribution from the corpus-wide distribution
# (with-in-vocabulary: every lang present overall; zero per-source cells
# contribute 0 by the 0*log(0/q)=0 convention). The per-slice drift score
# that flags a crawl source gone bad. All counts integer; each KL term is
# p*ln(p/q) with p,q exact count ratios.
def source_lang_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cell = docs.groupBy("source", "lang").agg(F.count("*").alias("c"))
    src_tot = cell.groupBy("source").agg(F.sum("c").alias("st"))
    lang_tot = cell.groupBy("lang").agg(F.sum("c").alias("lt"))
    n = docs.count()
    j = cell.join(F.broadcast(src_tot), "source").join(F.broadcast(lang_tot), "lang")
    p = F.col("c").cast("double") / F.col("st")
    q = F.col("lt").cast("double") / F.lit(float(n))
    term = p * F.log(p / q)
    return (
        j.groupBy("source")
        .agg(F.round(F.sum(term), 6).alias("kl"), F.count("*").alias("n_langs"))
    )


SOURCE_LANG_KL_SQL = """
WITH cell AS (
  SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2
), stot AS (SELECT source, sum(c) AS st FROM cell GROUP BY 1),
ltot AS (SELECT lang, sum(c) AS lt FROM cell GROUP BY 1),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
SELECT source,
       round(sum((CAST(c AS DOUBLE) / st) * ln((CAST(c AS DOUBLE) / st) / (CAST(lt AS DOUBLE) / nn.n))), 6) AS kl,
       count(*) AS n_langs
FROM cell JOIN stot USING (source) JOIN ltot USING (lang), nn
GROUP BY source
"""

QUERIES["source_lang_kl"] = source_lang_kl
ORACLES["source_lang_kl"] = SOURCE_LANG_KL_SQL


# --------------------------------------------------------------------------
# corpus_build_mixture: build a training mixture to per-source token
# budgets — within each source, take documents in deterministic
# hash-priority order until the source's token budget fills (first doc
# crossing the boundary is included, matching select_until_budget's
# semantics). One window per source; at 100 TB the per-source cumsum rides
# the distributed prefix scan exactly like doc_budget_selection.
_MIX_BUDGET = 3000  # tokens per source


def corpus_build_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bears_spark.functions.hashing import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim("text"), r"\s+"))
    pri = md5_hash64(F.col("doc_id"), salt="mix")
    w = Window.partitionBy("source").orderBy(pri, "doc_id").rowsBetween(Window.unboundedPreceding, 0)
    keyed = docs.select("doc_id", "source", toks.alias("n_tok"), pri.alias("pri"))
    cum = keyed.withColumn("cum_tok", F.sum("n_tok").over(w))
    kept = cum.where((F.col("cum_tok") - F.col("n_tok")) < _MIX_BUDGET)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.max("cum_tok").alias("final_cum"),
    )


CORPUS_MIXTURE_BUILD_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source,
         length(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_tok,
         {_duck_h64("doc_id", "'mix'")} AS pri
  FROM documents
), cum AS (
  SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
  FROM keyed
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(max(cum_tok) AS BIGINT) AS final_cum
FROM cum WHERE cum_tok - n_tok < {_MIX_BUDGET}
GROUP BY source
"""

QUERIES["corpus_build_mixture"] = corpus_build_mixture
ORACLES["corpus_build_mixture"] = CORPUS_MIXTURE_BUILD_SQL


# --------------------------------------------------------------------------
# doc_bigram_logprob: interpolated bigram language-model scoring (the CCNet
# perplexity-filter pattern, one order up from doc_unigram_logprob):
# P(w2|w1) = lam * c(w1 w2)/c(w1 .) + (1-lam) * c(w2)/N, score = mean ln P
# over the doc's bigrams. Count tables are corpus-level groupBys; scoring is
# three equi-joins on word keys (the count dims broadcast when small; at
# 100 TB they shuffle-join on a well-distributed vocabulary key).
_LM_LAMBDA = 0.75


def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import tokenize, word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select("doc_id", F.explode(word_ngrams("text", 2)).alias("bg"))
    bg = bg.withColumn("w1", F.split("bg", " ")[0]).withColumn("w2", F.split("bg", " ")[1])
    c12 = bg.groupBy("bg").agg(F.count("*").alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    uni = docs.select(F.explode(tokenize("text")).alias("w2"))
    c2 = uni.groupBy("w2").agg(F.count("*").alias("c2"))
    tot = uni.agg(F.count("*").alias("n"))
    logp = F.log(
        F.lit(_LM_LAMBDA) * (F.col("c12") / F.col("c1")) + F.lit(1 - _LM_LAMBDA) * (F.col("c2") / F.col("n"))
    )
    return (
        bg.join(c12, "bg")
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn("logp", logp)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.round(F.avg("logp"), 6).alias("mean_logprob"))
    )


DOC_BIGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks WHERE len(t) >= 2
), sp AS (
  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2 FROM bg
), c12 AS (
  SELECT bg, count(*) AS c12 FROM sp GROUP BY 1
), c1 AS (
  SELECT w1, count(*) AS c1 FROM sp GROUP BY 1
), uni AS (
  SELECT unnest(t) AS w2 FROM toks
), c2 AS (
  SELECT w2, count(*) AS c2 FROM uni GROUP BY 1
), tot AS (
  SELECT count(*) AS n FROM uni
)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(ln({_LM_LAMBDA} * (c12 / c1) + {1 - _LM_LAMBDA} * (c2 / n))), 6) AS mean_logprob
FROM sp JOIN c12 USING (bg) JOIN c1 USING (w1) JOIN c2 USING (w2), tot
GROUP BY doc_id
"""

QUERIES["doc_bigram_logprob"] = doc_bigram_logprob
ORACLES["doc_bigram_logprob"] = DOC_BIGRAM_SQL


# --------------------------------------------------------------------------
# corpus_pmi_bigrams: top collocations by pointwise mutual information —
# PMI = ln( p(w1 w2) / (p(w1) p(w2)) ) with bigram probability over the
# bigram total and word probabilities over the unigram total; min support 5.
# Two corpus groupBys + two vocabulary joins + TakeOrderedAndProject; the
# tie-break (rounded PMI desc, then words) makes the global top-k cut
# engine-reproducible.
_PMI_MIN_COUNT, _PMI_TOPK = 5, 25


def corpus_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import tokenize, word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select(F.explode(word_ngrams("text", 2)).alias("bg"))
    c12 = bg.groupBy("bg").agg(F.count("*").alias("c12"))
    nb = bg.agg(F.count("*").alias("nb"))
    uni = docs.select(F.explode(tokenize("text")).alias("w"))
    cu = uni.groupBy("w").agg(F.count("*").alias("cu"))
    nu = uni.agg(F.count("*").alias("nu"))
    pmi = F.log((F.col("c12") / F.col("nb")) / ((F.col("c1") / F.col("nu")) * (F.col("c2") / F.col("nu"))))
    return (
        c12.filter(F.col("c12") >= _PMI_MIN_COUNT)
        .withColumn("w1", F.split("bg", " ")[0])
        .withColumn("w2", F.split("bg", " ")[1])
        .join(cu.select(F.col("w").alias("w1"), F.col("cu").alias("c1")), "w1")
        .join(cu.select(F.col("w").alias("w2"), F.col("cu").alias("c2")), "w2")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
        .withColumn("pmi", F.round(pmi, 6))
        .select("w1", "w2", F.col("c12").alias("pair_count"), "pmi")
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_PMI_TOPK)
    )


CORPUS_PMI_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
), bg AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks WHERE len(t) >= 2
), c12 AS (
  SELECT bg, count(*) AS c12 FROM bg GROUP BY 1
), nb AS (
  SELECT count(*) AS nb FROM bg
), uni AS (
  SELECT unnest(t) AS w FROM toks
), cu AS (
  SELECT w, count(*) AS cu FROM uni GROUP BY 1
), nu AS (
  SELECT count(*) AS nu FROM uni
), sp AS (
  SELECT bg, c12, string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
  FROM c12 WHERE c12 >= {_PMI_MIN_COUNT}
)
SELECT w1, w2, c12 AS pair_count,
       round(ln((c12 / nb) / ((a.cu / nu) * (b.cu / nu))), 6) AS pmi
FROM sp
JOIN cu a ON sp.w1 = a.w
JOIN cu b ON sp.w2 = b.w, nb, nu
ORDER BY pmi DESC, w1, w2 LIMIT {_PMI_TOPK}
"""

QUERIES["corpus_pmi_bigrams"] = corpus_pmi_bigrams
ORACLES["corpus_pmi_bigrams"] = CORPUS_PMI_SQL


# --------------------------------------------------------------------------
# doc_quality_balanced_corpus: quality-balanced corpus selection — stratify
# documents into quartiles of their unigram-LM score (so low-, mid-, and
# high-perplexity text are all represented) and take a deterministic
# hash-ordered sample of 25 per stratum. Quartile assignment uses the
# distributed global row number (range partition + offsets — no one-task
# window); per-stratum selection is a WindowGroupLimit over 4 partitions.
_QBC_SALT, _QBC_PER_STRATUM = 7, 25


def doc_quality_balanced_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bears_spark.functions.hashing import md5_hash64
    from bears_spark.functions.prefix import distributed_row_number

    from bears_spark.caching import scoped_persist

    lm = scoped_persist(doc_unigram_logprob(spark, sf_dir).select("doc_id", "mean_logprob"))
    total = lm.count()
    pos = distributed_row_number(lm, ["mean_logprob", "doc_id"], out_col="pos")
    strat = pos.select(
        "doc_id",
        (F.expr("pos * 4") / F.lit(total)).cast("long").alias("stratum_0"),
        md5_hash64("doc_id", salt=_QBC_SALT).alias("h"),
    ).withColumn("stratum", F.col("stratum_0") + 1)
    w = Window.partitionBy("stratum").orderBy("h", "doc_id")
    return (
        strat.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _QBC_PER_STRATUM)
        .select("stratum", "doc_id", "rnk")
        .orderBy("stratum", "rnk")
    )


DOC_QBC_SQL = f"""
WITH lm AS (
  SELECT doc_id, mean_logprob FROM ({DOC_UNIGRAM_SQL}) u
), pos AS (
  SELECT doc_id, row_number() OVER (ORDER BY mean_logprob, doc_id) - 1 AS pos,
         count(*) OVER () AS n
  FROM lm
), strat AS (
  SELECT doc_id, (pos * 4) // n + 1 AS stratum,
         {_duck_h64("doc_id", str(_QBC_SALT))} AS h
  FROM pos
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY stratum ORDER BY h, doc_id) AS rnk FROM strat
)
SELECT stratum, doc_id, rnk FROM ranked WHERE rnk <= {_QBC_PER_STRATUM} ORDER BY stratum, rnk
"""

QUERIES["doc_quality_balanced_corpus"] = doc_quality_balanced_corpus
ORACLES["doc_quality_balanced_corpus"] = DOC_QBC_SQL


# --------------------------------------------------------------------------
# corpus_temperature_mixture: XLM-R-style temperature sampling — per-language
# token budgets proportional to c_l^alpha (alpha=0.5 here, i.e. sqrt
# smoothing: high-resource languages are downsampled, low-resource ones
# keep relatively more), then the same deterministic hash-priority
# cumulative selection as corpus_build_mixture within each language.
# sqrt (correctly-rounded IEEE, unlike pow) keeps the per-lang float
# targets bit-identical across engines. Plan: one small agg for counts
# (broadcast back), one window per lang — a single shuffle of the corpus.
_TEMP_BUDGET = 12_000


def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bears_spark.functions.hashing import md5_hash64

    from bears_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    # token_count filters empty splits (0 for empty/whitespace-only text),
    # matching the oracle's list_filter semantics — F.size(F.split(...))
    # would report 1 for an empty document (r4 ADVICE #3)
    keyed = docs.select(
        "doc_id",
        "lang",
        token_count("text").alias("n_tok"),
        md5_hash64(F.col("doc_id"), salt="temp").alias("pri"),
    )
    counts = keyed.groupBy("lang").agg(F.sum("n_tok").alias("c"))
    # denominator via an all-rows window over the tiny per-lang aggregate
    # (bounded by #languages) -- no 1-row cross join, the plan stays free of
    # BroadcastNestedLoopJoin
    denom_w = Window.partitionBy()
    targets = counts.select(
        "lang",
        (
            F.sqrt(F.col("c").cast("double"))
            / F.sum(F.sqrt(F.col("c").cast("double"))).over(denom_w)
            * _TEMP_BUDGET
        ).alias("target"),
    )
    w = Window.partitionBy("lang").orderBy("pri", "doc_id").rowsBetween(Window.unboundedPreceding, 0)
    cum = keyed.withColumn("cum_tok", F.sum("n_tok").over(w))
    kept = cum.join(F.broadcast(targets), "lang").where(
        (F.col("cum_tok") - F.col("n_tok")).cast("double") < F.col("target")
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.round(F.first("target"), 6).alias("target_tokens"),
        )
        .orderBy("lang")
    )


CORPUS_TEMPERATURE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, lang,
         length(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_tok,
         {_duck_h64("doc_id", "'temp'")} AS pri
  FROM documents
), counts AS (
  SELECT lang, sum(n_tok) AS c FROM keyed GROUP BY lang
), denom AS (
  SELECT sum(sqrt(CAST(c AS DOUBLE))) AS s FROM counts
), targets AS (
  SELECT lang, sqrt(CAST(c AS DOUBLE)) / s * {_TEMP_BUDGET} AS target FROM counts, denom
), cum AS (
  SELECT *, sum(n_tok) OVER (PARTITION BY lang ORDER BY pri, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
  FROM keyed
)
SELECT cum.lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       round(any_value(target), 6) AS target_tokens
FROM cum JOIN targets ON cum.lang = targets.lang
WHERE CAST(cum_tok - n_tok AS DOUBLE) < target
GROUP BY cum.lang ORDER BY cum.lang
"""

QUERIES["corpus_temperature_mixture"] = corpus_temperature_mixture
ORACLES["corpus_temperature_mixture"] = CORPUS_TEMPERATURE_SQL


# --------------------------------------------------------------------------
# doc_curriculum_stages: curriculum-learning data ordering — documents
# bucketed into training stages by fixed quality thresholds (NOT ntile:
# data-dependent quantile stages would need a global-order window — a
# single-partition scale-killer — while fixed thresholds stay map-only and
# stages remain stable as the corpus grows). Per-stage corpus accounting.
def doc_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import quality_score, token_count

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score("text")
    stage = (
        F.when(q >= 0.75, F.lit(3))
        .when(q >= 0.5, F.lit(2))
        .when(q >= 0.25, F.lit(1))
        .otherwise(F.lit(0))
    )
    return (
        docs.select(stage.alias("stage"), q.alias("q"), token_count("text").alias("n_tok"))
        .groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.round(F.avg("q"), 6).alias("avg_quality"),
        )
        .orderBy("stage")
    )


_Q_SQL = """
(CASE WHEN len(toks) BETWEEN 10 AND 100000 THEN 0.25 ELSE 0 END)
+ (CASE WHEN (CASE WHEN len(toks) > 0 THEN len(list_filter(list_transform(toks, x -> lower(x)), x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], x)))::DOUBLE / len(toks) ELSE 0.0 END) >= 0.05 THEN 0.25 ELSE 0 END)
+ (CASE WHEN (CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[!"#$%&''()*+,\\-./:;<=>?@\\[\\\\\\]^_`{|}~]', '', 'g')))::DOUBLE / length(text) ELSE 0.0 END) <= 0.2 THEN 0.25 ELSE 0 END)
+ (CASE WHEN (CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END)
"""

DOC_CURRICULUM_SQL = f"""
WITH t AS (
  SELECT doc_id, text, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), scored AS (
  SELECT len(toks) AS n_tok, ({_Q_SQL}) AS q FROM t
)
SELECT CASE WHEN q >= 0.75 THEN 3 WHEN q >= 0.5 THEN 2 WHEN q >= 0.25 THEN 1 ELSE 0 END AS stage,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       round(avg(q), 6) AS avg_quality
FROM scored GROUP BY 1 ORDER BY 1
"""

QUERIES["doc_curriculum_stages"] = doc_curriculum_stages
ORACLES["doc_curriculum_stages"] = DOC_CURRICULUM_SQL


# --------------------------------------------------------------------------
# doc_pack_assignments: GPT-style sequence packing — concatenate the corpus
# in doc_id order and split at fixed token-budget boundaries, documents
# straddling a boundary split across packs (the standard concat-and-chunk
# pretraining layout; every pack is exactly _PACK_BUDGET tokens except the
# final remainder). Output: one row per (pack, doc) span with the token
# count the doc contributes to that pack. Complements doc_pack_sequences
# (per-SHARD packing with whole-doc offsets — the feed/sharding view); this
# is the GLOBAL layout with boundary splitting, whose cumsum would be the
# one-task window scale-killer without the prefix machinery.
#
# 100 TB: the global token cumsum comes from functions/prefix.py
# partitioned_cumsum (range shuffle + per-partition offset table — never a
# one-task window); the span explode is map-only. The whole plan is one
# shuffle over (doc_id, n_tok) pairs — bytes ~ 16/doc, not the text.
_PACK_BUDGET = 512


def doc_pack_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.prefix import partitioned_cumsum
    from bears_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", token_count("text").alias("n_tok")).filter(F.col("n_tok") > 0)
    cum = partitioned_cumsum(toks, ["doc_id"], ["n_tok"], suffix="_cum")
    budget = F.lit(_PACK_BUDGET).cast("bigint")
    start = F.col("n_tok_cum") - F.col("n_tok")
    first = F.floor(start / budget).cast("bigint")
    last = F.floor((F.col("n_tok_cum") - 1) / budget).cast("bigint")
    return (
        cum.select(
            "doc_id",
            start.alias("tok_start"),
            F.col("n_tok_cum").alias("tok_end"),
            F.explode(F.sequence(first, last)).alias("pack_id"),
        )
        .select(
            "pack_id",
            "doc_id",
            (
                F.least(F.col("tok_end"), (F.col("pack_id") + 1) * budget)
                - F.greatest(F.col("tok_start"), F.col("pack_id") * budget)
            ).alias("n_tok_in_pack"),
        )
        .orderBy("pack_id", "doc_id")
    )


DOC_PACK_ASSIGN_SQL = f"""
WITH t AS (
  SELECT doc_id, len({_DUCK_TOKS}) AS n_tok FROM documents
), nz AS (
  SELECT doc_id, n_tok FROM t WHERE n_tok > 0
), c AS (
  SELECT doc_id, n_tok,
         CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM nz
), spans AS (
  SELECT doc_id, cum - n_tok AS tok_start, cum AS tok_end,
         unnest(range((cum - n_tok) // {_PACK_BUDGET}, (cum - 1) // {_PACK_BUDGET} + 1)) AS pack_id
  FROM c
)
SELECT pack_id, doc_id,
       CAST(least(tok_end, (pack_id + 1) * {_PACK_BUDGET})
            - greatest(tok_start, pack_id * {_PACK_BUDGET}) AS BIGINT) AS n_tok_in_pack
FROM spans ORDER BY pack_id, doc_id
"""

QUERIES["doc_pack_assignments"] = doc_pack_assignments
ORACLES["doc_pack_assignments"] = DOC_PACK_ASSIGN_SQL


# --------------------------------------------------------------------------
# customer_k_anonymity: privacy gate for training-data governance — group
# the table by its quasi-identifier tuple (nationkey, market segment) and
# flag equivalence classes smaller than k: those rows are re-identifiable
# and a release pipeline must suppress or generalize them. The report
# carries every class with its size, risk flag, and the class's share of
# the table (exact int/int division). Plan: ONE partial-aggregated
# groupBy — at 100 TB the QI-class report is bounded by the QI-domain
# cardinality, not the row count.
_K_ANON = 10


def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    total = cust.count()
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("n"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            (F.col("n") < _K_ANON).alias("at_risk"),
            (F.col("n") / F.lit(int(total))).alias("share"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


CUSTOMER_K_ANONYMITY_SQL = f"""
WITH t AS (SELECT count(*) AS total FROM customer)
SELECT c_nationkey, c_mktsegment, count(*) AS n,
       count(*) < {_K_ANON} AS at_risk,
       count(*) / (SELECT total FROM t) AS share
FROM customer
GROUP BY c_nationkey, c_mktsegment
ORDER BY c_nationkey, c_mktsegment
"""

QUERIES["customer_k_anonymity"] = customer_k_anonymity
ORACLES["customer_k_anonymity"] = CUSTOMER_K_ANONYMITY_SQL


# --------------------------------------------------------------------------
# doc_dsir_selection: DSIR data selection (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling") — score every candidate
# document by how much its hashed-unigram distribution looks like a TARGET
# domain vs the raw corpus, then keep the top-k. Features are hashed token
# buckets (no vocabulary state — the same property that makes
# hashing_vectorize the 100 TB featurizer); the importance weight is
# sum over tokens of ln(p_target(bucket) / p_raw(bucket)) with add-1
# smoothing. Fit state is 2x64 integer counts collected once; the
# log-ratio table is baked into the plan as ONE literal and each doc's
# weight is a sequential HOF fold (matching DuckDB's list_sum order — the
# BM25 rounding discipline: ln may differ in the last ulp across libms,
# round(weight, 6) absorbs it).
_DSIR_B = 64
_DSIR_SALT = "dsir"
_DSIR_TARGET = "src0"
_DSIR_TOPK = 50


def doc_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from bears_spark.functions.hashing import md5_hash64
    from bears_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    tb = docs.select(
        "doc_id",
        "source",
        F.transform(
            tokenize(F.lower(F.col("text"))),
            lambda t: F.pmod(md5_hash64(t, salt=_DSIR_SALT), F.lit(_DSIR_B)).cast("int"),
        ).alias("b"),
    )
    cnt = {
        int(r["bk"]): (int(r["n_all"]), int(r["n_t"]))
        for r in tb.select("source", F.explode("b").alias("bk"))
        .groupBy("bk")
        .agg(
            F.count("*").alias("n_all"),
            F.count(F.when(F.col("source") == _DSIR_TARGET, 1)).alias("n_t"),
        )
        .collect()
    }
    ta = sum(v[0] for v in cnt.values())
    tt = sum(v[1] for v in cnt.values())
    lr = [
        math.log(
            ((cnt.get(b, (0, 0))[1] + 1.0) / (tt + _DSIR_B))
            / ((cnt.get(b, (0, 0))[0] + 1.0) / (ta + _DSIR_B))
        )
        for b in range(_DSIR_B)
    ]
    lr_lit = F.lit(lr)
    weight = F.aggregate(
        F.transform(F.col("b"), lambda x: F.element_at(lr_lit, x + F.lit(1))),
        F.lit(0.0),
        lambda acc, w: acc + w,
    )
    return (
        tb.filter((F.col("source") != _DSIR_TARGET) & (F.size("b") > 0))
        .select("doc_id", F.round(weight, 6).alias("dsir_weight"))
        .orderBy(F.desc("dsir_weight"), "doc_id")
        .limit(_DSIR_TOPK)
    )


DOC_DSIR_SQL = f"""
WITH tb AS (
  SELECT doc_id, source,
         list_transform({_DUCK_TOKS}, t -> {_duck_h64("t", "'" + _DSIR_SALT + "'")} % {_DSIR_B}) AS b
  FROM documents
), ex AS (
  SELECT source, unnest(b) AS bk FROM tb
), cnt AS (
  SELECT bk, count(*) AS n_all,
         count(*) FILTER (WHERE source = '{_DSIR_TARGET}') AS n_t
  FROM ex GROUP BY bk
), dense AS (
  SELECT r.i AS bk, coalesce(n_all, 0) AS n_all, coalesce(n_t, 0) AS n_t
  FROM (SELECT unnest(range({_DSIR_B})) AS i) r LEFT JOIN cnt ON cnt.bk = r.i
), tot AS (
  SELECT sum(n_all) AS ta, sum(n_t) AS tt FROM dense
), lrt AS (
  SELECT list(ln(((n_t + 1.0) / (tt + {_DSIR_B})) / ((n_all + 1.0) / (ta + {_DSIR_B})))
              ORDER BY bk) AS lr
  FROM dense, tot
)
SELECT doc_id,
       round(list_sum(list_transform(b, x -> lrt.lr[x + 1])), 6) AS dsir_weight
FROM tb, lrt
WHERE source != '{_DSIR_TARGET}' AND len(b) > 0
ORDER BY dsir_weight DESC, doc_id LIMIT {_DSIR_TOPK}
"""

QUERIES["doc_dsir_selection"] = doc_dsir_selection
ORACLES["doc_dsir_selection"] = DOC_DSIR_SQL


# --------------------------------------------------------------------------
# corpus_curation_e2e: the operators composed END-TO-END as one graded unit
# — the actual shape of a training-data curation run, not isolated stages:
#   1. quality gate (integer-exact: token count in [5, 5000], distinct
#      ratio >= 0.3 via cross-multiplied comparison),
#   2. exact dedup, first-occurrence-wins on the normalized fingerprint,
#   3. per-language budget: keep the hash-priority top half (ceil) of each
#      language's survivors — deterministic sampling, no RNG,
#   4. report per language: documents and tokens kept.
# Every stage is the library operator (token_count / fingerprint64 /
# md5_hash64 window); the oracle rebuilds all four stages independently.
# One corpus scan feeds stage 1-2; the only shuffles are the fingerprint
# group, the per-lang window, and the final per-lang aggregate.
def corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bears_spark.functions.hashing import md5_hash64
    from bears_spark.functions.text import fingerprint64, token_count, tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.lower(F.col("text")))
    staged = docs.select(
        "doc_id", "lang", "text",
        token_count("text").alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(toks).alias("n_words"),
    )
    kept = staged.filter(
        (F.col("n_tok") >= 5)
        & (F.col("n_tok") <= 5000)
        & (F.col("n_distinct") * 10 >= F.col("n_words") * 3)
    )
    fp = kept.withColumn("fp", fingerprint64("text"))
    first = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    deduped = fp.join(first, ["fp", "doc_id"], "left_semi")
    w = Window.partitionBy("lang").orderBy(md5_hash64("doc_id", salt="e2e"), "doc_id")
    cnt_w = Window.partitionBy("lang")
    budgeted = (
        deduped.withColumn("rn", F.row_number().over(w))
        .withColumn("n_lang", F.count("*").over(cnt_w))
        .filter(F.col("rn") * 2 <= F.col("n_lang") + 1)  # ceil(n/2) keep
    )
    return (
        budgeted.groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .orderBy("lang")
    )


CORPUS_CURATION_E2E_SQL = f"""
WITH staged AS (
  SELECT doc_id, lang, text,
         len({_DUCK_TOKS}) AS n_tok,
         len(list_distinct({_DUCK_TOKS})) AS n_distinct,
         len({_DUCK_TOKS}) AS n_words
  FROM documents
), kept AS (
  SELECT * FROM staged
  WHERE n_tok >= 5 AND n_tok <= 5000 AND n_distinct * 10 >= n_words * 3
), fp AS (
  SELECT *, ('0x' || substr(md5('0:' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 15))::BIGINT AS fp
  FROM kept
), deduped AS (
  SELECT * FROM fp QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)
), budgeted AS (
  SELECT * FROM deduped
  QUALIFY row_number() OVER (
            PARTITION BY lang
            ORDER BY {_duck_h64("doc_id", "'e2e'")}, doc_id
          ) * 2 <= count(*) OVER (PARTITION BY lang) + 1
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM budgeted GROUP BY lang ORDER BY lang
"""

QUERIES["corpus_curation_e2e"] = corpus_curation_e2e
ORACLES["corpus_curation_e2e"] = CORPUS_CURATION_E2E_SQL


# --------------------------------------------------------------------------
# corpus_datacard: the one-row datasheet a released corpus ships with —
# volume (docs/tokens), diversity (languages/sources), exact-dup rate, and
# mean document length. ONE aggregation pass: the dup rate comes from
# countDistinct over the normalized-text md5 inside the same agg (no
# subquery join, no 1-row cross join), so the whole card is a single
# partial-aggregated scan at any scale.
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    card = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct(F.md5(norm)).alias("n_exact_unique"),
        F.round(F.avg("n_chars"), 4).alias("mean_chars"),
    )
    return card.select(
        "*",
        F.round(F.lit(1.0) - F.col("n_exact_unique") / F.col("n_docs"), 6).alias("dup_pct"),
    )


CORPUS_DATACARD_SQL = f"""
SELECT count(*) AS n_docs,
       CAST(sum(len({_DUCK_TOKS})) AS BIGINT) AS n_tokens,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources,
       count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS n_exact_unique,
       round(avg(n_chars), 4) AS mean_chars,
       round(1.0 - CAST(count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS DOUBLE)
                   / count(*), 6) AS dup_pct
FROM documents
"""

QUERIES["corpus_datacard"] = corpus_datacard
ORACLES["corpus_datacard"] = CORPUS_DATACARD_SQL


# --------------------------------------------------------------------------
# customer_l_diversity: the companion gate to k-anonymity — a QI class can
# be large (k-anonymous) yet expose everyone in it if the SENSITIVE
# attribute is homogeneous. Per QI class (nation): size, distinct sensitive
# values (mktsegment), and Shannon entropy of the sensitive distribution;
# diverse = distinct-l >= 3. Two partial-aggregated groupBys — bounded by
# the QI domain, never row count.
_L_DIVERSE = 3


def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    per = cust.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("c"))
    w = Window.partitionBy("c_nationkey")
    per2 = per.withColumn("n", F.sum("c").over(w)).withColumn(
        "p", F.col("c") / F.col("n")
    )
    return (
        per2.groupBy("c_nationkey")
        .agg(
            F.max("n").alias("n"),
            F.count("*").alias("l_distinct"),
            F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("entropy"),
        )
        .withColumn("diverse", F.col("l_distinct") >= _L_DIVERSE)
        .orderBy("c_nationkey")
    )


CUSTOMER_L_DIVERSITY_SQL = f"""
WITH per AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS c
  FROM customer GROUP BY 1, 2
), per2 AS (
  SELECT c_nationkey, c,
         sum(c) OVER (PARTITION BY c_nationkey) AS n
  FROM per
)
SELECT c_nationkey, CAST(max(n) AS BIGINT) AS n, count(*) AS l_distinct,
       round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)), 6) AS entropy,
       count(*) >= {_L_DIVERSE} AS diverse
FROM per2 GROUP BY c_nationkey ORDER BY c_nationkey
"""

QUERIES["customer_l_diversity"] = customer_l_diversity
ORACLES["customer_l_diversity"] = CUSTOMER_L_DIVERSITY_SQL


# --------------------------------------------------------------------------
# streaming_doc_quality: the Gopher quality gate run AT INGEST — the same
# expression-only scorer (functions/quality.gopher_quality is pure column
# arithmetic: no join, no window) applied to a readStream, so corpus
# filtering happens before a single byte lands in the lake rather than as a
# nightly batch over it. Stream-transparent by construction; graded
# row-for-row against the batch oracle (DOC_GOPHER_SQL's keep flag).
def streaming_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.quality import gopher_quality

    batch = load_table(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir}/documents.parque*")
    )
    out = gopher_quality(stream, "text", "doc_id").select("doc_id", "keep")
    return run_to_memory(out, "streaming_doc_quality_sink").orderBy("doc_id")


STREAMING_DOC_QUALITY_SQL = f"""
SELECT doc_id, keep FROM ({DOC_GOPHER_SQL.strip()}) ORDER BY doc_id
"""

QUERIES["streaming_doc_quality"] = streaming_doc_quality
ORACLES["streaming_doc_quality"] = STREAMING_DOC_QUALITY_SQL


# --------------------------------------------------------------------------
# lang_source_mutual_info: how much does the crawl source tell you about
# language (and vice versa) — the mutual information of the (lang, source)
# contingency table in nats, plus the normalized variant (MI / min(H_lang,
# H_source)). The single-number companion to lang_source_chisq: chi-square
# answers "is there dependence", MI answers "how much". All probabilities
# are exact count ratios; cell terms with p_xy = 0 contribute nothing (the
# groupBy simply has no such row). Bounded by the (lang x source) domain.
def lang_source_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    joint = docs.groupBy("lang", "source").agg(F.count("*").alias("nxy"))
    n = Window.partitionBy()
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    cell = (
        joint.withColumn("n", F.sum("nxy").over(n))
        .withColumn("nx", F.sum("nxy").over(wl))
        .withColumn("ny", F.sum("nxy").over(ws))
        .select(
            (F.col("nxy") / F.col("n")).alias("pxy"),
            (F.col("nx") / F.col("n")).alias("px"),
            (F.col("ny") / F.col("n")).alias("py"),
        )
    )
    agg = cell.agg(
        F.sum(F.col("pxy") * F.log(F.col("pxy") / (F.col("px") * F.col("py")))).alias("mi")
    )
    lang_c = docs.groupBy("lang").agg(F.count("*").alias("c"))
    src_c = docs.groupBy("source").agg(F.count("*").alias("c"))

    def entropy(cdf):
        share = F.col("c") / F.sum("c").over(Window.partitionBy())
        return cdf.select(share.alias("p")).agg((-F.sum(F.col("p") * F.log("p"))).alias("h"))

    h_lang = entropy(lang_c).first()["h"]
    h_src = entropy(src_c).first()["h"]
    return agg.select(
        F.round("mi", 6).alias("mi_nats"),
        F.round(F.col("mi") / F.lit(min(h_lang, h_src)), 6).alias("normalized_mi"),
    )


LANG_SOURCE_MI_SQL = """
WITH joint AS (
  SELECT lang, source, count(*) AS nxy FROM documents GROUP BY 1, 2
), cell AS (
  SELECT CAST(nxy AS DOUBLE) / sum(nxy) OVER () AS pxy,
         CAST(sum(nxy) OVER (PARTITION BY lang) AS DOUBLE) / sum(nxy) OVER () AS px,
         CAST(sum(nxy) OVER (PARTITION BY source) AS DOUBLE) / sum(nxy) OVER () AS py
  FROM joint
), mi AS (
  SELECT sum(pxy * ln(pxy / (px * py))) AS mi FROM cell
), hl AS (
  SELECT -sum(p * ln(p)) AS h FROM (
    SELECT CAST(c AS DOUBLE) / sum(c) OVER () AS p
    FROM (SELECT count(*) AS c FROM documents GROUP BY lang)
  )
), hs AS (
  SELECT -sum(p * ln(p)) AS h FROM (
    SELECT CAST(c AS DOUBLE) / sum(c) OVER () AS p
    FROM (SELECT count(*) AS c FROM documents GROUP BY source)
  )
)
SELECT round(mi, 6) AS mi_nats,
       round(mi / least(hl.h, hs.h), 6) AS normalized_mi
FROM mi, hl, hs
"""

QUERIES["lang_source_mutual_info"] = lang_source_mutual_info
ORACLES["lang_source_mutual_info"] = LANG_SOURCE_MI_SQL


# --------------------------------------------------------------------------
# doc_compression_quality: the zlib-ratio repetitiveness signal as a graded
# surface. No SQL engine exposes DEFLATE, so there is NO DuckDB oracle —
# the driver records the weaker rows/schema check; the VALUE contract is
# pinned by test_compression_ratio_known_values (hand-computed ratios) and
# determinism is inherent (fixed zlib level -> bit-identical stream).
def doc_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.quality import compression_ratio

    docs = load_table(spark, sf_dir, "documents")
    return compression_ratio(docs, "text", "doc_id").orderBy("doc_id")


QUERIES["doc_compression_quality"] = doc_compression_quality
# deliberately no ORACLES entry: zlib is not SQL-expressible


# --------------------------------------------------------------------------
# source_lang_jsd: pairwise Jensen-Shannon divergence between sources'
# language distributions — the SYMMETRIC drift measure (source_lang_kl is
# each source vs the corpus; JSD says which PAIRS of crawls differ, bounded
# in [0, ln 2]). Computed over the pair's SHARED language support (langs
# absent from either source are excluded — with this corpus every source
# carries every language, so shared == full support; the oracle uses the
# identical convention). The matrix is bounded by (sources^2 x langs).
def source_lang_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("source", "lang").agg(F.count("*").alias("c"))
    w = Window.partitionBy("source")
    dist = cnt.withColumn("p", F.col("c") / F.sum("c").over(w)).select("source", "lang", "p")
    a = dist.withColumnsRenamed({"source": "source_x", "p": "px"})
    b = dist.withColumnsRenamed({"source": "source_y", "p": "py"})
    pair = a.join(b, "lang").filter(F.col("source_x") < F.col("source_y"))
    # full outer per (pair, lang) is emulated by the union of one-sided terms:
    # langs present in x but not y contribute px*ln(2) (and vice versa)
    both = pair.select(
        "source_x",
        "source_y",
        (
            0.5 * F.col("px") * F.log(2.0 * F.col("px") / (F.col("px") + F.col("py")))
            + 0.5 * F.col("py") * F.log(2.0 * F.col("py") / (F.col("px") + F.col("py")))
        ).alias("term"),
    )
    shared = both.groupBy("source_x", "source_y").agg(F.sum("term").alias("jsd_shared"))
    return shared.select(
        "source_x", "source_y", F.round("jsd_shared", 6).alias("jsd")
    ).orderBy("source_x", "source_y")


SOURCE_LANG_JSD_SQL = """
WITH cnt AS (
  SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2
), dist AS (
  SELECT source, lang, CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY source) AS p
  FROM cnt
)
SELECT a.source AS source_x, b.source AS source_y,
       round(sum(
         0.5 * a.p * ln(2.0 * a.p / (a.p + b.p))
         + 0.5 * b.p * ln(2.0 * b.p / (a.p + b.p))
       ), 6) AS jsd
FROM dist a JOIN dist b ON a.lang = b.lang AND a.source < b.source
GROUP BY a.source, b.source ORDER BY source_x, source_y
"""

QUERIES["source_lang_jsd"] = source_lang_jsd
ORACLES["source_lang_jsd"] = SOURCE_LANG_JSD_SQL


# --------------------------------------------------------------------------
# doc_zipf_fit: Zipf's-law diagnostic — OLS of ln(tf) on ln(rank) over the
# top-200 vocabulary terms (slope ~ -1 for natural language; a corpus whose
# slope drifts far from it is boilerplate- or spam-heavy). The regression
# runs on the 200-row TakeOrderedAndProject output (bounded frame); moments
# via closed-form averages collected once.
def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bears_spark.functions.quality import vocabulary

    docs = load_table(spark, sf_dir, "documents")
    top = vocabulary(docs, "text", "doc_id").orderBy(F.desc("tf"), "term").limit(200)
    ranked = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("tf"), "term"))
    ).select(
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("tf").cast("double")).alias("y"),
    )
    m = ranked.agg(
        F.count("*").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
    ).first()
    n = int(m["n"])
    cov = m["mxy"] - m["mx"] * m["my"]
    varx = m["mxx"] - m["mx"] * m["mx"]
    vary = m["myy"] - m["my"] * m["my"]
    slope = cov / varx
    intercept = m["my"] - slope * m["mx"]
    r2 = cov * cov / (varx * vary)
    return docs.sparkSession.range(1).select(
        F.lit(n).alias("n_terms"),
        F.round(F.lit(slope), 6).alias("zipf_slope"),
        F.round(F.lit(intercept), 6).alias("intercept"),
        F.round(F.lit(r2), 6).alias("r2"),
    )


DOC_ZIPF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
), per AS (
  SELECT term, count(*) AS tf FROM toks GROUP BY term
), top AS (
  SELECT term, tf, row_number() OVER (ORDER BY tf DESC, term) AS rk
  FROM per ORDER BY tf DESC, term LIMIT 200
), xy AS (
  SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(tf AS DOUBLE)) AS y FROM top
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, avg(x) AS mx, avg(y) AS my,
         avg(x * y) AS mxy, avg(x * x) AS mxx, avg(y * y) AS myy
  FROM xy
)
SELECT n AS n_terms,
       round((mxy - mx * my) / (mxx - mx * mx), 6) AS zipf_slope,
       round(my - (mxy - mx * my) / (mxx - mx * mx) * mx, 6) AS intercept,
       round((mxy - mx * my) * (mxy - mx * my) / ((mxx - mx * mx) * (myy - my * my)), 6) AS r2
FROM m
"""

QUERIES["doc_zipf_fit"] = doc_zipf_fit
ORACLES["doc_zipf_fit"] = DOC_ZIPF_SQL



def _ws_tokens(df):
    """(doc_id, source, term) whitespace tokens — mirrors _DUCK_TOKS."""
    return df.select(
        "doc_id", "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    ).where(F.col("term") != "")


# --------------------------------------------------------------------------
# source_oov_rate: out-of-vocabulary rate per source against the corpus
# top-100 vocabulary — the coverage check run before committing to a fixed
# tokenizer/vocab. Reference vocab = top-100 terms by tf
# (TakeOrderedAndProject), broadcast back; per-source OOV is one aggregate.
def source_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _ws_tokens(docs)
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), "term")
        .limit(100)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
        .orderBy("source")
    )


SOURCE_OOV_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, unnest({_DUCK_TOKS}) AS term FROM documents
), vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS tf FROM toks GROUP BY 1
    ORDER BY tf DESC, term LIMIT 100
  )
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.term = v.term
GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# source_type_token_ratio: lexical diversity per source — per-doc type-token
# ratio (distinct/total tokens; low TTR = repetitive boilerplate), averaged
# per source with the p10 tail. Per-doc TTR is one groupBy(doc) with two
# counts; the source rollup is bounded.
def source_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = (
        _ws_tokens(docs)
        .groupBy("doc_id", "source")
        .agg((F.countDistinct("term") / F.count("*")).alias("ttr"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("ttr"), 6).alias("mean_ttr"),
            F.round(F.expr("percentile(ttr, 0.1)"), 6).alias("p10_ttr"),
        )
        .orderBy("source")
    )


SOURCE_TTR_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, unnest({_DUCK_TOKS}) AS term FROM documents
), per_doc AS (
  SELECT doc_id, source, count(DISTINCT term) * 1.0 / count(*) AS ttr
  FROM toks GROUP BY 1, 2
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(ttr), 6) AS mean_ttr,
       round(quantile_cont(ttr, 0.1), 6) AS p10_ttr
FROM per_doc GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# corpus_heaps_law: Heaps'-law vocabulary growth V(n) ~ K n^beta — the
# distributed trick: each term contributes ONE row at its first-appearance
# decile (min doc_id -> decile of the doc_id domain), so cumulative distinct
# counts per decile come from one groupBy(term) + a 10-row running sum;
# beta/K from log-log OLS on the 10-point curve (bounded frame).
def corpus_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ids = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    lo, hi = int(ids[0]), int(ids[1])
    span = hi - lo + 1
    toks = _ws_tokens(docs)
    decile = F.least(F.floor((F.col("first_doc") - lo) / span * 10).cast("int"), F.lit(9))
    firsts = (
        toks.groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
        .select(decile.alias("dec"))
        .groupBy("dec")
        .agg(F.count("*").alias("new_terms"))
    )
    # tokens per decile for the x axis
    tok_dec = (
        toks.select(
            F.least(F.floor((F.col("doc_id") - lo) / span * 10).cast("int"), F.lit(9)).alias("dec")
        )
        .groupBy("dec")
        .agg(F.count("*").alias("n_tok"))
    )
    # drive from ALL deciles (vocabulary may saturate early, leaving deciles
    # with zero new terms) — left join, coalesce 0
    rows = (
        tok_dec.join(firsts, "dec", "left")
        .na.fill({"new_terms": 0})
        .orderBy("dec")
        .collect()
    )
    cum_v = cum_n = 0
    pts = []
    for r in rows:
        cum_v += r["new_terms"]
        cum_n += r["n_tok"]
        pts.append((cum_n, cum_v))
    import math

    xs = [math.log(n) for n, _ in pts]
    ys = [math.log(v) for _, v in pts]
    k = len(pts)
    mx, my = sum(xs) / k, sum(ys) / k
    cov = sum(x * y for x, y in zip(xs, ys)) / k - mx * my
    var = sum(x * x for x in xs) / k - mx * mx
    beta = cov / var
    logk = my - beta * mx
    return docs.sparkSession.range(1).select(
        F.lit(pts[-1][0]).alias("n_tokens"),
        F.lit(pts[-1][1]).alias("vocab_size"),
        # + 0.0 normalizes IEEE negative zero (beta ~ -1e-9 rounds to -0.0
        # on one engine and 0.0 on the other; -0.0 + 0.0 == +0.0 everywhere)
        (F.round(F.lit(beta), 6) + 0.0).alias("heaps_beta"),
        (F.round(F.lit(math.exp(logk)), 6) + 0.0).alias("heaps_k"),
    )


CORPUS_HEAPS_SQL = f"""
WITH ids AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
), firsts AS (
  SELECT least(CAST(floor((min(doc_id) - ids.lo) * 10.0 / (ids.hi - ids.lo + 1)) AS INT), 9) AS dec,
         count(*) OVER () AS _dummy, term
  FROM toks, ids GROUP BY term, ids.lo, ids.hi
), new_terms AS (
  SELECT dec, count(*) AS new_terms FROM firsts GROUP BY 1
), tok_dec AS (
  SELECT least(CAST(floor((doc_id - ids.lo) * 10.0 / (ids.hi - ids.lo + 1)) AS INT), 9) AS dec,
         count(*) AS n_tok
  FROM toks, ids GROUP BY 1
), cum AS (
  SELECT t.dec,
         sum(coalesce(n.new_terms, 0)) OVER (ORDER BY t.dec) AS v,
         sum(t.n_tok) OVER (ORDER BY t.dec) AS n
  FROM tok_dec t LEFT JOIN new_terms n ON n.dec = t.dec
), xy AS (
  SELECT ln(n) AS x, ln(v) AS y FROM cum
), m AS (
  SELECT count(*) AS k, avg(x) AS mx, avg(y) AS my,
         avg(x * y) AS mxy, avg(x * x) AS mxx
  FROM xy
), fit AS (
  SELECT (mxy - mx * my) / (mxx - mx * mx) AS beta, my, mx FROM m
)
SELECT (SELECT CAST(max(n) AS BIGINT) FROM cum) AS n_tokens,
       (SELECT CAST(max(v) AS BIGINT) FROM cum) AS vocab_size,
       round(beta, 6) + 0.0 AS heaps_beta,
       round(exp(my - beta * mx), 6) + 0.0 AS heaps_k
FROM fit
"""


QUERIES["source_oov_rate"] = source_oov_rate
ORACLES["source_oov_rate"] = SOURCE_OOV_SQL
QUERIES["source_type_token_ratio"] = source_type_token_ratio
ORACLES["source_type_token_ratio"] = SOURCE_TTR_SQL
QUERIES["corpus_heaps_law"] = corpus_heaps_law
ORACLES["corpus_heaps_law"] = CORPUS_HEAPS_SQL


_FH_BUCKETS = 1024


# --------------------------------------------------------------------------
# hash_feature_collision_report: the diagnostic every feature-hashing
# pipeline needs — distinct vocabulary terms per 2^10 hash bucket: how many
# buckets collide (>=2 terms), the worst bucket, and the collision rate
# (share of terms NOT alone in their bucket). One vocabulary groupBy + one
# bucket groupBy; both vocabulary-sized, sublinear in the corpus.
def hash_feature_collision_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    terms = (
        docs.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"))
        .where(F.col("term") != "")
        .distinct()
    )
    per_bucket = terms.groupBy((md5_hash64("term", salt="fh") % _FH_BUCKETS).alias("b")).agg(
        F.count("*").alias("k")
    )
    return per_bucket.agg(
        F.sum("k").alias("n_terms"),
        F.count("*").alias("buckets_hit"),
        F.sum((F.col("k") >= 2).cast("long")).alias("buckets_colliding"),
        F.max("k").alias("worst_bucket"),
        F.round(
            F.sum(F.when(F.col("k") >= 2, F.col("k")).otherwise(0)) / F.sum("k"), 6
        ).alias("term_collision_rate"),
    )


FH_COLLISION_SQL = rf"""
WITH terms AS (
  SELECT DISTINCT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS term
  FROM documents
), per AS (
  SELECT {_duck_h64("term", "'fh'")} % {_FH_BUCKETS} AS b, count(*) AS k
  FROM terms GROUP BY 1
)
SELECT CAST(sum(k) AS BIGINT) AS n_terms,
       CAST(count(*) AS BIGINT) AS buckets_hit,
       CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS buckets_colliding,
       max(k) AS worst_bucket,
       round(sum(CASE WHEN k >= 2 THEN k ELSE 0 END) * 1.0 / sum(k), 6) AS term_collision_rate
FROM per
"""

QUERIES["hash_feature_collision_report"] = hash_feature_collision_report
ORACLES["hash_feature_collision_report"] = FH_COLLISION_SQL


# --------------------------------------------------------------------------
# corpus_temperature_curve: the multilingual-balancing tuning readout — the
# language token-share each sampling temperature tau would produce
# (p_l^tau / sum p^tau) for tau in {0.3, 0.7, 1.0}, side by side. One
# language-grain aggregate; the tau sweep is arithmetic over the bounded
# language domain.
def corpus_temperature_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.size(F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != "")).alias("n_tok"),
    )
    per = toks.groupBy("lang").agg(F.sum("n_tok").alias("tok"))
    tot = per.agg(F.sum("tok")).first()[0]
    p = F.col("tok") / F.lit(float(tot))
    cols = [F.col("lang"), F.col("tok").alias("n_tokens"), F.round(p, 6).alias("share_raw")]
    taus = [("t03", 0.3), ("t07", 0.7)]
    out = per
    for name, tau in taus:
        out = out.withColumn(name, F.pow(F.col("tok") / F.lit(float(tot)), F.lit(tau)))
    sums = out.agg(*[F.sum(n).alias(n) for n, _ in taus]).first()
    sel = cols + [
        F.round(F.col(n) / F.lit(float(sums[n])), 6).alias(f"share_tau{str(tau).replace('.', '')}")
        for n, tau in taus
    ]
    return out.select(*sel).orderBy("lang")


CORPUS_TEMP_CURVE_SQL = r"""
WITH toks AS (
  SELECT lang,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS n_tok
  FROM documents
), per AS (
  SELECT lang, CAST(sum(n_tok) AS BIGINT) AS tok FROM toks GROUP BY 1
), tot AS (SELECT sum(tok) AS t FROM per),
powed AS (
  SELECT lang, tok,
         tok * 1.0 / t AS p,
         pow(tok * 1.0 / t, 0.3) AS t03,
         pow(tok * 1.0 / t, 0.7) AS t07
  FROM per, tot
), sums AS (SELECT sum(t03) AS s03, sum(t07) AS s07 FROM powed)
SELECT lang, tok AS n_tokens,
       round(p, 6) AS share_raw,
       round(t03 / s03, 6) AS share_tau03,
       round(t07 / s07, 6) AS share_tau07
FROM powed, sums ORDER BY lang
"""

QUERIES["corpus_temperature_curve"] = corpus_temperature_curve
ORACLES["corpus_temperature_curve"] = CORPUS_TEMP_CURVE_SQL


# --------------------------------------------------------------------------
# doc_length_quality_corr: does document length predict passing the Gopher
# gate? Point-biserial correlation (Pearson of n_chars vs keep as 0/1) plus
# the keep rate by length tercile — one pass over the per-doc quality frame
# joined back to the documents' n_chars.
def doc_length_quality_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.quality import gopher_quality

    docs = load_table(spark, sf_dir, "documents")
    g = gopher_quality(docs, "text", "doc_id").select("doc_id", F.col("keep").cast("double").alias("k"))
    j = docs.select("doc_id", F.col("n_chars").cast("double").alias("len")).join(g, "doc_id")
    return j.agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("k"), 6).alias("keep_rate"),
        F.round(F.corr("len", "k"), 6).alias("len_keep_corr"),
    )


DOC_LEN_QUALITY_SQL = f"""
WITH g AS ({DOC_GOPHER_SQL})
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(CASE WHEN g.keep THEN 1.0 ELSE 0.0 END), 6) AS keep_rate,
       round(corr(d.n_chars, CASE WHEN g.keep THEN 1.0 ELSE 0.0 END), 6) AS len_keep_corr
FROM g JOIN documents d ON g.doc_id = d.doc_id
"""

QUERIES["doc_length_quality_corr"] = doc_length_quality_corr
ORACLES["doc_length_quality_corr"] = DOC_LEN_QUALITY_SQL


# --------------------------------------------------------------------------
# doc_reservoir_sample_stats: exact-size-k deterministic uniform sample
# (functions/quality.py bottom_k_sample — the distributed reservoir: bottom
# k of a uniform id hash, TakeOrderedAndProject plan) with per-language
# composition and length stats over the sampled docs — the "hold out a
# fixed eval budget" curation shape. The oracle re-derives the same sample
# with DuckDB's md5 and the shared 60-bit hash scheme.
def doc_reservoir_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.quality import bottom_k_sample

    docs = load_table(spark, sf_dir, "documents")
    sample = bottom_k_sample(docs, "doc_id", k=100, salt="rsv")
    return (
        sample.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("chars"),
            F.min("doc_id").alias("min_doc"),
        )
        .orderBy("lang")
    )


DOC_RESERVOIR_SQL = f"""
WITH s AS (
  SELECT lang, n_chars, doc_id
  FROM documents
  ORDER BY {_duck_h64("doc_id", "'rsv'")} ASC, doc_id ASC
  LIMIT 100
)
SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars, min(doc_id) AS min_doc
FROM s GROUP BY lang ORDER BY lang
"""

QUERIES["doc_reservoir_sample_stats"] = doc_reservoir_sample_stats
ORACLES["doc_reservoir_sample_stats"] = DOC_RESERVOIR_SQL


# --------------------------------------------------------------------------
# doc_stratified_sample_stats: exact-k-per-stratum deterministic sampling
# (functions/quality.py stratified_sample_k — per-group reservoir via a
# hash-ordered row_number, WindowGroupLimit plan) — the "equal eval budget
# per language" curation shape. The oracle re-derives the same per-stratum
# ranks with DuckDB's md5.
def doc_stratified_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.quality import stratified_sample_k

    docs = load_table(spark, sf_dir, "documents")
    sample = stratified_sample_k(docs, "lang", "doc_id", k=20, salt="strat")
    return (
        sample.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("chars"),
            F.min("doc_id").alias("min_doc"),
        )
        .orderBy("lang")
    )


DOC_STRATIFIED_SQL = f"""
WITH r AS (
  SELECT lang, n_chars, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {_duck_h64("doc_id", "'strat'")} ASC, doc_id ASC
         ) AS rk
  FROM documents
)
SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
       min(doc_id) AS min_doc
FROM r WHERE rk <= 20 GROUP BY lang ORDER BY lang
"""

QUERIES["doc_stratified_sample_stats"] = doc_stratified_sample_stats
ORACLES["doc_stratified_sample_stats"] = DOC_STRATIFIED_SQL
