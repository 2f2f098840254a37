"""The benchmark's workloads: what one pass runs and how its results are
checked.

Every workload is a closed loop: one client runs the ops of a pass one after
another and consumes each result in full before the next op starts. An op
ends by draining the query-scoped caches (``release_scoped_caches``), so no
op reads another op's cache.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

import numpy as np

import checks

# Headline queries whose run time is dominated by scan, join and window work.
RELATIONAL = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "ev_sessionize",
    "part_item_recs",
    "orders_incremental_rollup",
]

# Headline text and vector curation queries: driver-bound plan builds with
# fit collects and Python-worker stages.
CURATE = [
    "text_stats",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "doc_bm25_topk",
    "pipeline_quality_gate",
]

# feature_feed: mean imputation, population-std scaling, label encoding and
# vector assembly over lineitem (5 + 5 + 2 fit jobs).
_NUMERIC = "l_(quantity|extendedprice|discount|tax|linenumber)"
PIPELINE_CONFIG = {
    "pipeline": [
        {"input": _NUMERIC, "transformer": "numimpute", "output": "{col_name}_f", "params": {"strategy": "mean"}},
        {"input": _NUMERIC + "_f", "transformer": "standardscaling", "output": "{col_name}_z"},
        {"input": "l_(returnflag|linestatus)", "transformer": "labelencoding", "output": "{col_name}_id"},
        {"input": ".*_(z|id)", "transformer": "vectorassembler", "output": "features"},
    ]
}
BATCH_ROWS = 1024


def no_span(kind: str, **attrs):
    return nullcontext({})


class QueryWorkload:
    """Each op builds one headline query and collects it with ``toArrow``.

    The first result of each query is checked against its DuckDB oracle;
    later results must match the first one's digest.
    """

    def __init__(self, spark, data_dir: str, names: list[str]):
        import __spark_entry__ as entry

        all_queries = entry.queries()
        self.spark = spark
        self.data_dir = data_dir
        self.ops = list(names)
        self._fns = {n: all_queries[n] for n in names}
        self._oracle = checks.Oracle(data_dir)
        self._digests: dict[str, str] = {}

    def run_op(self, name: str, span=no_span):
        from bears_spark import caching

        with span("op", q=name):
            with span("build", q=name):
                df = self._fns[name](self.spark, self.data_dir)
            table = df.toArrow()
            caching.release_scoped_caches()
        return table

    def check(self, name: str, table) -> tuple[bool, str]:
        if name not in self._digests:
            ok, msg = self._oracle.check(name, table)
            if ok:
                self._digests[name] = checks.digest(table)
            return ok, f"oracle: {msg}"
        ok = checks.digest(table) == self._digests[name]
        return ok, "digest matches the oracle-checked result" if ok else "digest differs from the first result"


class FeatureFeed:
    """One op per pass: read lineitem with ``io.reader.read``, fit and apply
    the feature pipeline, feed every row through ``tensor_stream`` as
    shuffled numpy batches, then write the features with ``io.writer.write``.
    """

    ops = ["feature_feed"]

    def __init__(self, spark, data_dir: str, seed: int, out_dir: str):
        self.spark = spark
        self.source = os.path.join(data_dir, "lineitem.parquet")
        self.seed = seed
        self.out_dir = out_dir
        self._written = 0
        self._keys, self._features = checks.expected_features(self.source)

    def run_op(self, name: str, span=no_span):
        from bears_spark import caching, tensor_bridge
        from bears_spark.io import reader, writer
        from bears_spark.pipeline import DataPipeline

        self._written += 1
        path = os.path.join(self.out_dir, f"features-{self._written}.parquet")
        shapes, keys = [], []
        with span("op", q=name):
            frame = reader.read(self.source, spark=self.spark)
            out = DataPipeline.from_config(PIPELINE_CONFIG).fit_transform(frame.df)
            for batch in tensor_bridge.tensor_stream(
                out,
                batch_rows=BATCH_ROWS,
                columns=[*checks.KEYS, "features"],
                shuffle=True,
                seed=self.seed,
                drop_last=False,
            ):
                shapes.append(batch["features"].shape)
                keys.append(checks.row_keys(batch["l_orderkey"], batch["l_linenumber"]))
            writer.write(out.select(*checks.KEYS, "features"), path)
            caching.release_scoped_caches()
        return shapes, keys, path

    def check(self, name: str, result) -> tuple[bool, str]:
        shapes, keys, path = result
        try:
            width = self._features.shape[1]
            full, last = shapes[:-1], shapes[-1]
            if any(s != (BATCH_ROWS, width) for s in full) or not (0 < last[0] <= BATCH_ROWS and last[1] == width):
                return False, f"batch shapes {sorted(set(shapes))}, expected ({BATCH_ROWS}, {width})"
            fed = np.sort(np.concatenate(keys))
            if not np.array_equal(fed, self._keys):
                return False, f"fed {len(fed)} rows, not each of the {len(self._keys)} input rows once"
            return checks.check_written(path, self._keys, self._features)
        finally:
            shutil.rmtree(path, ignore_errors=True)


def make(name: str, spark, data_dir: str, seed: int, out_dir: str):
    if name == "relational":
        return QueryWorkload(spark, data_dir, RELATIONAL)
    if name == "curate":
        return QueryWorkload(spark, data_dir, CURATE)
    if name == "feature_feed":
        return FeatureFeed(spark, data_dir, seed, out_dir)
    raise ValueError(f"unknown workload {name!r}")
