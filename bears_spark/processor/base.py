"""DataProcessor framework: registry + fit/transform as expression compilers.

Reference parity: src/bears/processor/_DataProcessor.py:11-128 (registry by
name/aliases, fit/transform/fit_transform, MissingColumnBehavior),
_SingleColumnProcessor.py (1:1), _Nto1ColumnProcessor.py:19-61 (N:1).

Spark-first redesign: a processor is a **Column-expression compiler**.
- The fit is described, not run: ``_fit_phases(df, cols)`` returns an ordered
  list of ``FitPhase``s, each a few aggregate Columns plus a ``store`` that
  turns their one-row result into plain-Python state on the processor (the
  reference pattern: aggregate → collect tiny state → broadcast into
  transform, cf. SURVEY §2.9). ``run_wave`` puts the next phase of many
  processors into ONE ``df.agg(...)``; ``fit(df, cols)`` and
  ``fit_together`` run waves until every fit is done, and ``DataPipeline``
  schedules its waves by step dependencies. A fit that is not a one-row
  aggregate (a vocabulary, a Spark ML model) overrides ``_fit`` instead,
  which runs with its own actions in the wave where it becomes ready.
- ``transform_expr(*cols) -> Column`` emits a pure expression — every 1:1 and
  N:1 processor stays inside whole-stage codegen; a pipeline of K steps
  collapses into a single projection.
No pydantic dependency: plain dataclass-style kwargs with __init__ validation.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum
from typing import Any, Callable, Dict, Type

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType


class MissingColumnBehavior(str, Enum):
    ERROR = "error"
    SKIP = "skip"
    EXECUTE = "execute"


class MLTypeTag(str, Enum):
    TEXT = "TEXT"
    CATEGORICAL = "CATEGORICAL"
    INT = "INT"
    FLOAT = "FLOAT"
    BOOL = "BOOL"
    VECTOR = "VECTOR"


_REGISTRY: Dict[str, Type["DataProcessor"]] = {}


def register_processor(cls: Type["DataProcessor"]) -> Type["DataProcessor"]:
    names = {cls.__name__, *getattr(cls, "aliases", ())}
    for n in names:
        key = n.replace("-", "").replace("_", "").lower()
        _REGISTRY[key] = cls
    return cls


def get_processor(name: str, **params) -> "DataProcessor":
    key = name.replace("-", "").replace("_", "").lower()
    if key not in _REGISTRY:
        raise KeyError(f"unknown processor {name!r}; known: {sorted(set(_REGISTRY))}")
    return _REGISTRY[key](**params)


@dataclass(frozen=True)
class FitPhase:
    """One one-row aggregate of a fit: ``store`` receives the values of
    ``aggs``, in order, and sets the processor's state. ``store`` may raise
    to stop the fit before any later phase runs."""

    aggs: list[Column]
    store: Callable[[list[Any]], None]


def mode_agg(df: DataFrame, col_name: str) -> Column:
    """Most frequent non-null value, ties -> smallest (NaN sorts last), the
    same value a group-by count ordered by (count desc, value asc) picks.
    ``+ 0`` merges -0.0 into 0.0 on float columns, as a group-by key does."""
    c = F.col(col_name)
    if isinstance(df.schema[col_name].dataType, (FloatType, DoubleType)):
        c = c + 0
    return F.mode(c, deterministic=True)


class DataProcessor:
    """Base: fit computes driver-side state; transform emits expressions."""

    aliases: tuple[str, ...] = ()
    input_mltypes: tuple[str, ...] = ()
    output_mltype: str = "TEXT"

    def __init__(self, **params):
        self.params = params
        self._fitted = False

    # -- lifecycle ------------------------------------------------------
    def fit(self, df: DataFrame, cols: list[str]) -> "DataProcessor":
        fit_together(df, [(self, cols)])
        return self

    def _fit_phases(self, df: DataFrame, cols: list[str]) -> list[FitPhase] | None:
        """The fit as ordered one-row aggregate phases over ``df``; phase k+1
        runs only after phase k stored its result. ``df`` is read for its
        schema only. ``None`` means the fit is not a one-row aggregate and
        ``_fit`` runs it with its own actions: the default when a class
        overrides ``_fit``; otherwise the default ``[]`` means stateless."""
        return None if type(self)._fit is not DataProcessor._fit else []

    def _fit(self, df: DataFrame, cols: list[str]) -> None:
        pass

    @property
    def is_fitted(self) -> bool:
        return self._fitted

    def __repr__(self) -> str:
        return f"{type(self).__name__}({self.params})"


class SingleColumnProcessor(DataProcessor):
    """1:1 column processor (_SingleColumnProcessor.py parity): compile one
    input column to one output expression."""

    def transform_expr(self, col: Column) -> Column:
        raise NotImplementedError

    def apply(self, df: DataFrame, in_col: str, out_col: str) -> DataFrame:
        """Default: one withColumn. Processors whose expression references an
        expensive intermediate multiple times override this with staged
        projections (CollapseProject keeps multiply-referenced non-cheap
        expressions in their own project, so they evaluate once)."""
        return df.withColumn(out_col, self.transform_expr(F.col(in_col)))

    def fit_transform_expr(self, df: DataFrame, col_name: str) -> Column:
        if not self._fitted:
            self.fit(df, [col_name])
        return self.transform_expr(F.col(col_name))

    def inverse_transform_expr(self, col: Column) -> Column:
        raise NotImplementedError(f"{type(self).__name__} has no inverse")


class Nto1ColumnProcessor(DataProcessor):
    """N:1 column processor (_Nto1ColumnProcessor.py:19-61 parity)."""

    def transform_expr(self, cols: list[Column], col_names: list[str]) -> Column:
        raise NotImplementedError


class FitRun:
    """One processor's fit in progress: its phases, built when the fit
    first joins a wave, and the index of the next one to run."""

    def __init__(self, proc: DataProcessor, cols: list[str]):
        self.proc = proc
        self.cols = cols
        self.phases: list[FitPhase] | None = None
        self.next = -1  # -1: not started
        self.done = False

    def _finish(self) -> None:
        self.done = True
        self.proc._fitted = True


def run_wave(df: DataFrame, runs: list[FitRun]) -> None:
    """Advance every fit in ``runs`` by one phase over ``df``.

    The next phase of every aggregate fit goes into ONE ``df.agg(...)``
    action; the stores then run in the order of ``runs``. A fit that is not
    a one-row aggregate runs its own ``_fit`` first; a stateless one just
    finishes. The caller guarantees that ``df`` holds each fit's input
    columns with their final values."""
    phased: list[FitRun] = []
    for r in runs:
        if r.next < 0:
            r.phases, r.next = r.proc._fit_phases(df, r.cols), 0
            if r.phases is None:
                r.proc._fit(df, r.cols)
            if not r.phases:
                r._finish()
                continue
        phased.append(r)
    if not phased:
        return
    row = df.agg(*[c for r in phased for c in r.phases[r.next].aggs]).first()
    k = 0
    for r in phased:
        phase = r.phases[r.next]
        phase.store(list(row[k : k + len(phase.aggs)]))
        k += len(phase.aggs)
        r.next += 1
        if r.next == len(r.phases):
            r._finish()


def fit_together(df: DataFrame, fits: list[tuple[DataProcessor, list[str]]]) -> None:
    """Fit processors on one frame together: each wave is one aggregation
    that holds the next phase of every unfinished fit, so the number of
    actions is the largest phase count, not the sum of them."""
    runs = [FitRun(proc, cols) for proc, cols in fits]
    while runs := [r for r in runs if not r.done]:
        run_wave(df, runs)
