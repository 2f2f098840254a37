"""Categorical processors.

LabelEncoding reproduces the reference's exact ordering semantics
(np.unique-sorted labels, four encoding ranges, unknown sentinels —
src/bears/processor/_categorical/_LabelEncoding.py:45-218). Spark's
StringIndexer is deliberately NOT used: its frequency ordering differs
(SURVEY.md §7 known-hard #4).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bears_spark.processor.base import FitPhase, SingleColumnProcessor, mode_agg, register_processor


@register_processor
class LabelAffix(SingleColumnProcessor):
    """prefix + str(x) + suffix, null -> null (_categorical/_LabelAffix.py:16-38)."""

    aliases = ("labelaffix", "affix")
    output_mltype = "TEXT"

    def __init__(self, prefix: str = "", suffix: str = "", **params):
        super().__init__(prefix=prefix, suffix=suffix, **params)
        self.prefix = prefix
        self.suffix = suffix

    def transform_expr(self, col: Column) -> Column:
        return F.when(
            col.isNotNull(), F.concat(F.lit(self.prefix), col.cast("string"), F.lit(self.suffix))
        ).otherwise(F.lit(None).cast("string"))


# encoding ranges (_LabelEncoding.py:32-37): (start, step) and unknown sentinel
_ENCODING_RANGES = {
    "one_to_n": (1, 1, 0),
    "zero_to_n_minus_one": (0, 1, -1),
    "binary_zero_one": (0, 1, -1),
    "binary_plus_minus_one": (-1, 2, 0),
}


@register_processor
class LabelEncoding(SingleColumnProcessor):
    """Label -> int code (np.unique sort order), 4 range styles, unknown ->
    per-range sentinel, missing fill, inverse_transform.

    fit: two aggregate phases — a cardinality guard, then the label set —
    with the labels sorted on the driver exactly as np.unique sorts
    (lexicographic on str); state broadcast as a literal map expression —
    the transform is a JVM map lookup, no join, no UDF.
    """

    aliases = ("labelencoding", "labelencoder")
    output_mltype = "INT"

    def __init__(
        self,
        encoding_range: str = "one_to_n",
        missing_fill: Any = None,
        max_cardinality: int = 100_000,
        **params,
    ):
        super().__init__(encoding_range=encoding_range, missing_fill=missing_fill, **params)
        if encoding_range not in _ENCODING_RANGES:
            raise ValueError(f"bad encoding_range {encoding_range!r}")
        self.encoding_range = encoding_range
        self.missing_fill = missing_fill
        self.max_cardinality = max_cardinality
        self.label_map_: dict[str, int] | None = None

    def _fit_phases(self, df: DataFrame, cols: list[str]) -> list[FitPhase]:
        (col_name,) = cols

        # Cardinality guard: the fit collects every distinct label to the
        # driver and compiles a create_map literal — right for CATEGORICAL
        # columns, but a high-cardinality column (ids, free text) would
        # silently OOM the driver and explode the plan. One cheap
        # approx_count_distinct (±5%) in the phase before the label set
        # fails fast instead.
        def guard(vals: list) -> None:
            (approx,) = vals
            if approx > self.max_cardinality:
                raise ValueError(
                    f"LabelEncoding.fit: column {col_name!r} has ~{approx} distinct "
                    f"values (> max_cardinality={self.max_cardinality}); a literal "
                    "label map does not scale. Use encode_labels_join() for "
                    "high-cardinality vocabularies (label table + broadcast/shuffle "
                    "join), or raise max_cardinality deliberately."
                )

        return [
            FitPhase([F.approx_count_distinct(col_name)], guard),
            FitPhase([F.collect_set(F.col(col_name).cast("string"))], self._store_labels),
        ]

    def _store_labels(self, vals: list) -> None:
        (labels,) = vals
        start, step, _ = _ENCODING_RANGES[self.encoding_range]
        if self.encoding_range.startswith("binary") and len(labels) > 2:
            raise ValueError(f"binary encoding_range with {len(labels)} labels")
        self.label_map_ = {lab: start + i * step for i, lab in enumerate(sorted(labels))}

    def transform_expr(self, col: Column) -> Column:
        if self.label_map_ is None:
            raise RuntimeError("LabelEncoding must be fit first")
        _, _, unknown = _ENCODING_RANGES[self.encoding_range]
        pairs: list[Column] = []
        for k, v in self.label_map_.items():
            pairs.extend([F.lit(k), F.lit(v)])
        m = F.create_map(*pairs) if pairs else F.create_map()
        looked_up = m[col.cast("string")]
        encoded = F.coalesce(looked_up, F.lit(unknown))
        if self.missing_fill is not None:
            return F.when(col.isNull(), F.lit(self.missing_fill)).otherwise(encoded).cast("long")
        return F.when(col.isNull(), F.lit(None).cast("long")).otherwise(encoded.cast("long"))

    def inverse_transform_expr(self, col: Column) -> Column:
        if self.label_map_ is None:
            raise RuntimeError("LabelEncoding must be fit first")
        pairs: list[Column] = []
        for k, v in self.label_map_.items():
            pairs.extend([F.lit(v), F.lit(k)])
        return F.create_map(*pairs)[col.cast("long")]


def encode_labels_join(
    df: DataFrame,
    col_name: str,
    encoding_range: str = "one_to_n",
    output_col: str | None = None,
    fit_df: DataFrame | None = None,
) -> DataFrame:
    """High-cardinality LabelEncoding: the label->code mapping lives in a
    TABLE joined to the data, never a driver-side literal map.

    Same semantics as LabelEncoding (np.unique lexicographic order over the
    stringified labels, the four encoding ranges, unknown -> sentinel), but
    the code assignment is computed distributed: distinct labels are globally
    numbered in sorted order via functions/prefix.distributed_row_number
    (range partition + offset table — no one-task global window), then joined
    back. Spark broadcasts the label table when it is small and falls back to
    a shuffle join when it is not — either way the driver never holds the
    vocabulary. ``fit_df`` fits the mapping on a different frame (train) than
    the one being transformed; unseen labels get the range's sentinel.
    """
    if encoding_range not in _ENCODING_RANGES:
        raise ValueError(f"bad encoding_range {encoding_range!r}")
    from bears_spark.functions.prefix import distributed_row_number

    start, step, unknown = _ENCODING_RANGES[encoding_range]
    out = output_col or col_name
    src = fit_df if fit_df is not None else df
    labels = (
        src.select(F.col(col_name).cast("string").alias("__label__"))
        .filter(F.col("__label__").isNotNull())
        .distinct()
    )
    codes = distributed_row_number(labels, ["__label__"], out_col="__pos__").select(
        "__label__", (F.lit(start) + F.col("__pos__") * F.lit(step)).alias("__code__")
    )
    joined = df.withColumn("__label__", F.col(col_name).cast("string")).join(
        codes, on="__label__", how="left"
    )
    encoded = F.when(F.col("__label__").isNull(), F.lit(None).cast("long")).otherwise(
        F.coalesce(F.col("__code__"), F.lit(unknown)).cast("long")
    )
    return joined.withColumn(out, encoded).drop("__label__", "__code__")


@register_processor
class CategoricalMissingValueImputation(SingleColumnProcessor):
    """MODE or CONSTANT imputation (_categorical/_CategoricalMissingValueImputation.py:20-75).
    fit: deterministic F.mode aggregate (most frequent, ties -> smallest) ->
    driver scalar; transform: coalesce."""

    aliases = ("categoricalimputation", "catimpute")
    output_mltype = "CATEGORICAL"

    def __init__(self, strategy: str = "mode", fill_value: Any = None, **params):
        super().__init__(strategy=strategy, fill_value=fill_value, **params)
        if strategy not in ("mode", "constant"):
            raise ValueError(f"bad strategy {strategy!r}")
        if strategy == "constant" and fill_value is None:
            raise ValueError("constant strategy requires fill_value")
        self.strategy = strategy
        self.fill_value = fill_value
        self.fill_: Any = fill_value

    def _fit_phases(self, df: DataFrame, cols: list[str]) -> list[FitPhase]:
        if self.strategy == "constant":
            return []
        (col_name,) = cols
        return [FitPhase([mode_agg(df, col_name)], self._store)]

    def _store(self, vals: list) -> None:
        (self.fill_,) = vals

    def transform_expr(self, col: Column) -> Column:
        return F.coalesce(col, F.lit(self.fill_))
