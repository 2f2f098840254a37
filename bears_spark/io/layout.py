"""Parquet physical-layout introspection from footers only — the 100 TB
"is my table clustered for this key?" diagnostic.

The reference inspects layout through its own storage metadata; on Spark the
ground truth is the parquet footer. ``row_group_stats`` distributes
footer-only reads (pyarrow column-chunk metadata — no data pages touched);
``clustering_report`` turns the per-row-group min/max into the one number
OPTIMIZE ZORDER moves: how many row groups a sorted-by-min sweep finds
overlapping a predecessor. 0 = perfectly clustered (point/range predicates
prune to ~1 row group); n-1 = unclustered (every scan touches everything).

Scale shape: file listing is driver-side metadata (same contract as the
Delta/Iceberg log readers — manifest-sized, not data-sized); footer parsing
is distributed over the file list; the report's ordering pass runs on the
row-group-grain frame (~1 row per 128 MB of data — ~8e5 rows at 100 TB), a
metadata-sized frame for which a one-task ordering sweep is the right
trade (the same frame a table-format OPTIMIZE planner holds).
"""

from __future__ import annotations

import glob as _glob
import os
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


_RG_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("row_group", T.IntegerType()),
        T.StructField("column", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("total_byte_size", T.LongType()),
        T.StructField("stat_min", T.StringType()),
        T.StructField("stat_max", T.StringType()),
    ]
)


def row_group_stats(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """Per-(file, row group, column) footer statistics of a parquet dataset,
    WITHOUT reading any data pages.

    File listing is a driver-side metadata operation (same contract as the
    Delta/Iceberg log readers: manifest-sized, not data-sized); the footer
    reads are distributed — each task opens only its files' footers via
    pyarrow (column-chunk metadata: value counts, byte sizes, min/max).
    Stats render as strings so one frame carries any column type; numeric
    consumers cast.
    """
    paths = sorted(
        p
        for p in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(p)
    )
    if not paths:
        raise FileNotFoundError(f"no parquet files under {path}")
    pdf = spark.createDataFrame(pd.DataFrame({"path": paths})).repartition(
        min(len(paths), 32), "path"
    )
    cols = list(columns)

    def _read_footers(batches: Iterable[pd.DataFrame]):
        import pyarrow as pa
        import pyarrow.parquet as pq

        for b in batches:
            out = []
            for p in b["path"]:
                md = pq.ParquetFile(p).metadata
                name_to_idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for c in cols:
                        ci = name_to_idx.get(c)
                        if ci is None:
                            continue
                        cc = g.column(ci)
                        try:
                            st = cc.statistics
                            mn = None if st is None else str(st.min)
                            mx = None if st is None else str(st.max)
                        except pa.ArrowNotImplementedError:
                            # pyarrow can't extract stats for every type
                            # (e.g. some decimals) — report them as absent
                            mn = mx = None
                        out.append(
                            {
                                "file": os.path.basename(p),
                                "row_group": rg,
                                "column": c,
                                "n_rows": g.num_rows,
                                "total_byte_size": cc.total_compressed_size,
                                "stat_min": mn,
                                "stat_max": mx,
                            }
                        )
            yield pd.DataFrame(
                out,
                columns=[f.name for f in _RG_SCHEMA.fields],
            )

    return pdf.mapInPandas(_read_footers, schema=_RG_SCHEMA)


def clustering_report(
    spark: SparkSession, path: str, column: str, numeric: bool = True
) -> DataFrame:
    """Clustering quality of ``column`` across a dataset's row groups, from
    footers alone: how many row groups OVERLAP a predecessor when ordered
    by their min stat. 0 overlapping = perfectly clustered (a point/range
    predicate prunes to ~1 row group); n_rgs - 1 = unclustered (every scan
    touches everything). This is the metric OPTIMIZE ZORDER moves.
    """
    stats = row_group_stats(spark, path, [column])
    typed = stats.select(
        "file",
        "row_group",
        "n_rows",
        (F.col("stat_min").cast("double") if numeric else F.col("stat_min")).alias("mn"),
        (F.col("stat_max").cast("double") if numeric else F.col("stat_max")).alias("mx"),
    )
    w = Window.orderBy("mn", "mx", "file", "row_group").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # running max of predecessors' max: overlap iff my min <= that
    flagged = typed.withColumn("prev_mx", F.max("mx").over(w)).withColumn(
        "overlaps", (F.col("mn") <= F.col("prev_mx")).cast("int")
    )
    return flagged.groupBy().agg(
        F.lit(column).alias("column"),
        F.countDistinct("file").alias("n_files"),
        F.count("*").alias("n_row_groups"),
        F.sum("n_rows").alias("total_rows"),
        F.coalesce(F.sum("overlaps"), F.lit(0)).alias("overlapping_rgs"),
        F.min("mn").alias("global_min"),
        F.max("mx").alias("global_max"),
    )
