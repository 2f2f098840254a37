"""Text processors — all compile to built-in expressions (JVM-side).

Reference parity per class docstring; semantics cross-checked against
src/bears/processor/_text/*.py.
"""

from __future__ import annotations

import re
import string

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bears_spark.processor.base import FitPhase, Nto1ColumnProcessor, SingleColumnProcessor, register_processor


@register_processor
class CaseTransformation(SingleColumnProcessor):
    """upper/lower with null passthrough (_text/_CaseTransformation.py:16-34)."""

    aliases = ("case", "casetransform")
    output_mltype = "TEXT"

    def __init__(self, case: str = "lower", **params):
        super().__init__(case=case, **params)
        if case not in ("lower", "upper"):
            raise ValueError("case must be 'lower' or 'upper'")
        self.case = case

    def transform_expr(self, col: Column) -> Column:
        return F.lower(col) if self.case == "lower" else F.upper(col)


@register_processor
class HtmlTagRemoval(SingleColumnProcessor):
    """Strip ``<.*?>`` (_text/_HtmlTagRemoval.py:12-23)."""

    aliases = ("htmltagremoval", "striphtml")
    output_mltype = "TEXT"

    def transform_expr(self, col: Column) -> Column:
        return F.regexp_replace(col, "<.*?>", "")


@register_processor
class PunctuationCleaner(SingleColumnProcessor):
    """Replace string.punctuation chars with ``replacement`` (default space)
    (_text/_PunctuationCleaner.py:12-25) — one F.translate, no regex."""

    aliases = ("punctuationcleaner", "removepunctuation")
    output_mltype = "TEXT"

    def __init__(self, replacement: str = " ", **params):
        super().__init__(replacement=replacement, **params)
        self.replacement = replacement

    def transform_expr(self, col: Column) -> Column:
        return F.translate(col, string.punctuation, self.replacement * len(string.punctuation))


@register_processor
class RegexSubstitution(SingleColumnProcessor):
    """Ordered (pattern, replacement) list with ignorecase/multiline flags
    (_text/_RegexSubstitution.py:16-61) — chained regexp_replace with inline
    (?i)(?m) flags."""

    aliases = ("regexsub", "regexsubstitution")
    output_mltype = "TEXT"

    def __init__(self, substitutions: list[tuple[str, str]] | None = None, ignorecase: bool = False, multiline: bool = False, **params):
        super().__init__(substitutions=substitutions, ignorecase=ignorecase, multiline=multiline, **params)
        self.substitutions = substitutions or []
        flags = ("i" if ignorecase else "") + ("m" if multiline else "")
        self._prefix = f"(?{flags})" if flags else ""

    def transform_expr(self, col: Column) -> Column:
        out = col
        for pattern, repl in self.substitutions:
            out = F.regexp_replace(out, self._prefix + pattern, repl)
        return out


@register_processor
class PIIRedaction(SingleColumnProcessor):
    """Redact common PII patterns — emails, NANP-style phone numbers, IPv4
    addresses — with typed sentinels: the standard scrub pass a training-data
    pipeline runs before tokenization.

    Beyond-reference capability (the reference's _text/ processors have no
    PII pass). Patterns deliberately use only syntax with identical
    semantics in Java regex (Spark) and RE2 (DuckDB) — ASCII \\d, \\b,
    simple classes — so redaction is oracle-verifiable cross-engine.
    Replacement order matters: emails first (their local part would
    otherwise be visibly mangled by the phone pass), then phones, then
    IPv4 (alpha-TLD requirement stops the email pattern claiming IPs)."""

    aliases = ("piiredaction", "piiredact", "redactpii")
    output_mltype = "TEXT"

    PATTERNS: tuple[tuple[str, str], ...] = (
        ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
        ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"),
        ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    )

    def __init__(self, kinds: tuple[str, ...] | list[str] = ("email", "phone", "ipv4"), sentinel: str = "<{kind}>", **params):
        super().__init__(kinds=tuple(kinds), sentinel=sentinel, **params)
        known = {k for k, _ in self.PATTERNS}
        unknown = set(kinds) - known
        if unknown:
            raise ValueError(f"unknown PII kinds {sorted(unknown)}; known: {sorted(known)}")
        self.kinds = tuple(kinds)
        self.sentinel = sentinel

    def transform_expr(self, col: Column) -> Column:
        out = col
        for kind, pattern in self.PATTERNS:  # fixed order, independent of `kinds` order
            if kind in self.kinds:
                out = F.regexp_replace(out, pattern, self.sentinel.format(kind=kind))
        return out


@register_processor
class StringRemoval(SingleColumnProcessor):
    """Remove literal substrings (_text/_StringRemoval.py:10-33)."""

    aliases = ("stringremoval",)
    output_mltype = "TEXT"

    def __init__(self, removals: list[str] | None = None, **params):
        super().__init__(removals=removals, **params)
        self.removals = removals or []

    def transform_expr(self, col: Column) -> Column:
        out = col
        for s in self.removals:
            out = F.replace(out, F.lit(s), F.lit(""))
        return out


@register_processor
class TextConcatenation(Nto1ColumnProcessor):
    """Join N text columns with ``sep`` (_text/_TextConcatenation.py:27-102).

    Column ordering: NAME_ASC / NAME_DESC / SHORTEST_FIRST / GIVEN. The
    SHORTEST_FIRST fit is ONE aggregate phase (avg(length) per column,
    reference computes the same at :61-78); the other orders need no fit. Nulls -> '' (concat_ws skips
    nulls natively); optional ``prefix_col_name`` adds ``col: `` prefixes.
    """

    aliases = ("textconcat", "textconcatenation")
    output_mltype = "TEXT"

    def __init__(self, sep: str = " ", order: str = "given", prefix_col_name: bool = False, **params):
        super().__init__(sep=sep, order=order, prefix_col_name=prefix_col_name, **params)
        if order not in ("given", "name_asc", "name_desc", "shortest_first"):
            raise ValueError(f"bad order {order!r}")
        self.sep = sep
        self.order = order
        self.prefix_col_name = prefix_col_name
        self._fitted_order: list[str] | None = None

    def _fit_phases(self, df: DataFrame, cols: list[str]) -> list[FitPhase]:
        if self.order != "shortest_first":
            return []

        def store(avg_lens: list) -> None:
            lens = {c: v if v is not None else 0.0 for c, v in zip(cols, avg_lens)}
            self._fitted_order = sorted(cols, key=lambda c: (lens[c], c))

        return [FitPhase([F.avg(F.length(F.col(c).cast("string"))) for c in cols], store)]

    def transform_expr(self, cols: list[Column], col_names: list[str]) -> Column:
        if self.order == "name_asc":
            order = sorted(col_names)
        elif self.order == "name_desc":
            order = sorted(col_names, reverse=True)
        else:
            order = self._fitted_order or list(col_names)
        by_name = dict(zip(col_names, cols))
        parts = []
        for name in order:
            c = F.coalesce(by_name[name].cast("string"), F.lit(""))
            if self.prefix_col_name:
                c = F.concat(F.lit(f"{name}: "), c)
            parts.append(c)
        return F.concat_ws(self.sep, *parts)


@register_processor
class TFIDFVectorization(SingleColumnProcessor):
    """TF-IDF document vectors (_text/_TFIDFVectorization.py:16-74).

    Spark-first: fit computes document frequencies with ONE distributed
    aggregation (explode distinct tokens → count) instead of sklearn's
    in-memory vocabulary; transform is a pure expression over the broadcast
    vocab (smooth idf, sklearn-compatible: idf = ln((1+n)/(1+df)) + 1,
    l2-normalized). Vocabulary capped at ``max_features`` by document
    frequency. Output: array<double> in vocab order (sorted terms).
    For very large vocabularies switch to pyspark.ml CountVectorizer+IDF
    (VectorUDT path); this expression path keeps parity with the sklearn
    semantics the reference uses.
    """

    aliases = ("tfidf", "tfidfvectorization")
    output_mltype = "VECTOR"
    _TOKEN_RE = r"(?u)\b\w\w+\b"  # sklearn's default token_pattern

    def __init__(self, max_features: int = 512, lowercase: bool = True, **params):
        super().__init__(max_features=max_features, lowercase=lowercase, **params)
        self.max_features = max_features
        self.lowercase = lowercase
        self.vocab_: list[str] | None = None
        self.idf_: list[float] | None = None

    def _tokens(self, col: Column) -> Column:
        c = F.lower(col) if self.lowercase else col
        return F.regexp_extract_all(c, F.lit(self._TOKEN_RE), 0)

    def _fit(self, df: DataFrame, cols: list[str]) -> None:
        import math

        (col_name,) = cols
        n_docs = df.count()
        df_counts = (
            df.select(F.explode(F.array_distinct(self._tokens(F.col(col_name)))).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(self.max_features)
            .collect()
        )
        terms = sorted(r["term"] for r in df_counts)
        dfs = {r["term"]: r["df"] for r in df_counts}
        self.vocab_ = terms
        self.idf_ = [math.log((1 + n_docs) / (1 + dfs[t])) + 1.0 for t in terms]

    def _tf_expr(self, col: Column) -> Column:
        """tf counts in vocab order — ONE aggregate pass over the tokens
        (per-token O(V) zip against the literal vocab array)."""
        vocab_arr = F.lit(list(self.vocab_))
        return F.aggregate(
            self._tokens(col),
            F.array_repeat(F.lit(0), len(self.vocab_)),
            lambda acc, t: F.zip_with(acc, vocab_arr, lambda c, vt: c + F.when(vt == t, 1).otherwise(0)),
        )

    def transform_expr(self, col: Column) -> Column:
        raise NotImplementedError("TFIDF must stage intermediates — use apply()")

    def apply(self, df: DataFrame, in_col: str, out_col: str) -> DataFrame:
        if self.vocab_ is None:
            raise RuntimeError("TFIDFVectorization must be fit first")
        # staged projections: tf / tfidf / norm each evaluate ONCE —
        # a single nested expression would re-evaluate the tf aggregate per
        # downstream reference (and the norm aggregate per vector element):
        # Catalyst neither CSEs across projection elements nor inside lambdas,
        # but CollapseProject keeps multiply-referenced non-cheap columns
        # in their own projection stage.
        idf_arr = F.lit([float(v) for v in self.idf_])
        out = (
            df.withColumn("__tf__", self._tf_expr(F.col(in_col)))
            .withColumn("__tfidf__", F.zip_with(F.col("__tf__"), idf_arr, lambda c, i: c.cast("double") * i))
            .withColumn("__norm__", F.sqrt(F.aggregate(F.col("__tfidf__"), F.lit(0.0), lambda a, v: a + v * v)))
            .withColumn(
                out_col,
                F.when(
                    F.col("__norm__") > 0,
                    F.transform(F.col("__tfidf__"), lambda v: v / F.col("__norm__")),
                ).otherwise(F.col("__tfidf__")),
            )
        )
        return out.drop("__tf__", "__tfidf__", "__norm__")


@register_processor
class SparkMLTFIDF(SingleColumnProcessor):
    """Large-vocabulary TF-IDF via pyspark.ml (CountVectorizer + IDF).

    The expression-based TFIDFVectorization collects its vocab to the driver
    and inlines it into the plan — right for vocab <= a few thousand. This
    variant keeps the vocabulary distributed inside Spark ML models (fit:
    two distributed passes; transform: JVM-side, VectorUDT sparse output
    densified to array<double> at the edge). Semantics differ from sklearn:
    Spark ML idf = ln((n+1)/(df+1)) with no +1 addend and no l2 norm — pin
    with tests, don't mix the two variants in one pipeline.
    """

    aliases = ("sparkmltfidf", "tfidfml")
    output_mltype = "VECTOR"

    def __init__(self, vocab_size: int = 1 << 18, min_df: float = 1.0, **params):
        super().__init__(vocab_size=vocab_size, min_df=min_df, **params)
        self.vocab_size = vocab_size
        self.min_df = min_df
        self._model = None

    def _fit(self, df: DataFrame, cols: list[str]) -> None:
        from pyspark.ml import Pipeline
        from pyspark.ml.feature import IDF, CountVectorizer, RegexTokenizer

        (col_name,) = cols
        pipe = Pipeline(
            stages=[
                RegexTokenizer(inputCol=col_name, outputCol="__toks__", pattern=r"\W+", minTokenLength=2),
                CountVectorizer(inputCol="__toks__", outputCol="__tf__", vocabSize=self.vocab_size, minDF=self.min_df),
                IDF(inputCol="__tf__", outputCol="__tfidf__"),
            ]
        )
        self._model = pipe.fit(df.select(col_name))

    def transform_expr(self, col: Column) -> Column:
        raise NotImplementedError("SparkMLTFIDF transforms whole frames — use apply()")

    def apply(self, df: DataFrame, in_col: str, out_col: str) -> DataFrame:
        from pyspark.ml.functions import vector_to_array

        if self._model is None:
            raise RuntimeError("SparkMLTFIDF must be fit first")
        out = self._model.transform(df)
        return out.withColumn(out_col, vector_to_array(F.col("__tfidf__"))).drop("__toks__", "__tf__", "__tfidf__")

    @property
    def vocabulary(self) -> list[str]:
        if self._model is None:
            raise RuntimeError("not fitted")
        return self._model.stages[1].vocabulary


def pseudonymize(col: Column | str, secret: str, length: int = 16) -> Column:
    """Deterministic keyed pseudonymization of a PII column: salted SHA-256
    truncated to ``length`` hex chars. Same input + secret -> same token, so
    joins and group-bys still work on the pseudonymized column (the property
    plain redaction destroys); without the secret the mapping is not
    invertible or linkable across datasets keyed with different secrets.
    Pure expression (JVM sha2 intrinsic) — codegen-friendly at any scale.
    NULL stays NULL (no spurious token for missing data)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull(), F.substring(F.sha2(F.concat(F.lit(secret), F.lit(":"), c.cast("string")), 256), 1, length)
    )


@register_processor
class TokenCount(SingleColumnProcessor):
    """Whitespace token count (TEXT -> INT) — corpus accounting as a
    config-drivable pipeline stage (functions/text.token_count)."""

    aliases = ("tokencount", "ntokens")
    output_mltype = "INT"

    def transform_expr(self, col: Column) -> Column:
        from bears_spark.functions.text import token_count

        return token_count(col).cast("bigint")


@register_processor
class LanguageId(SingleColumnProcessor):
    """Stopword-vote language ID (TEXT -> CATEGORICAL) — the round-robin
    lang gate usable inside a DataPipeline (functions/text.lang_id)."""

    aliases = ("languageid", "langid")
    output_mltype = "CATEGORICAL"

    def apply(self, df: DataFrame, in_col: str, out_col: str) -> DataFrame:
        from bears_spark.functions.text import lang_id_staged, tokenize

        staged = df.withColumn("__lc__", F.lower(F.col(in_col))).withColumn(
            "__lt__", tokenize(F.col("__lc__"))
        )
        out = staged.withColumn(out_col, lang_id_staged(F.col("__lc__"), F.col("__lt__")))
        return out.drop("__lc__", "__lt__")

    def transform_expr(self, col: Column) -> Column:
        from bears_spark.functions.text import lang_id

        return lang_id(col)


@register_processor
class GopherQualityFlag(SingleColumnProcessor):
    """Gopher-style quality keep flag (TEXT -> BOOL): the integer-exact rule
    set from functions/quality, staged so the token array evaluates once."""

    aliases = ("gopherquality", "qualityflag")
    output_mltype = "BOOL"

    def apply(self, df: DataFrame, in_col: str, out_col: str) -> DataFrame:
        from bears_spark.functions.quality import gopher_keep, word_quality_stats
        from bears_spark.functions.text import tokenize

        staged = df.withColumn("__toks__", tokenize(F.lower(F.col(in_col))))
        out = staged.withColumn(out_col, gopher_keep(word_quality_stats(F.col("__toks__"))))
        return out.drop("__toks__")

    def transform_expr(self, col: Column) -> Column:
        from bears_spark.functions.quality import gopher_keep, word_quality_stats
        from bears_spark.functions.text import tokenize

        return gopher_keep(word_quality_stats(tokenize(F.lower(col))))


@register_processor
class CompressionRatioScore(SingleColumnProcessor):
    """zlib compression ratio (TEXT -> FLOAT) — the RefinedWeb-style
    repetitiveness signal as a pipeline stage; Arrow-batched Python (no SQL
    DEFLATE exists), values pinned by test_compression_ratio_known_values."""

    aliases = ("compressionratio", "zlibratio")
    output_mltype = "FLOAT"

    def __init__(self, level: int = 6, **params):
        super().__init__(level=level, **params)
        self.level = level

    def transform_expr(self, col: Column) -> Column:
        import zlib

        from bears_spark.frame import _elementwise_pandas_udf

        lvl = self.level

        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return len(zlib.compress(raw, lvl)) / len(raw)

        return _elementwise_pandas_udf(one, "double")(col)
