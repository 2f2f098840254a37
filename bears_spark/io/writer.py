"""Writer registry: format-dispatched writes from SparkFrame/DataFrame.

Reference parity: Writer/DataFrameWriter dispatch (src/bears/writer/Writer.py:26,
DataFrameWriter.py:99-307): single-file vs multi-file, chunked writes by
num_rows/num_chunks (DataFrameWriter.py:291-449 splits via
ScalableDataFrame.split), per-format params (ParquetWriter gzip default,
ParquetWriter.py:18).

Spark-first: multi-file = the native parallel write (one part per partition,
task retry built in); chunked writes compile to repartition(n); single_file =
coalesce(1) + rename of the part file. Schema-based column filtering
(DataFrameWriter.py:99-113) = a .select before write.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
from typing import Any, Callable, Dict

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame

from bears_spark.io.metadata import FileFormat, FileMetadata, to_spark_path
from bears_spark.types import MLTypeSchema

_WRITERS: Dict[FileFormat, Callable[..., None]] = {}


def _base(df: DataFrame, opts: dict):
    """Shared writer entry: mode + optional hive partitioning. When
    ``dynamic_overwrite`` is set, only the partitions PRESENT IN THE DATA
    are replaced (partitionOverwriteMode=dynamic) — the idempotent daily
    re-land pattern: re-running one day's job rewrites that day's
    directory and leaves every other partition untouched, instead of
    truncating the whole table like static overwrite."""
    w = df.write.mode(opts.get("mode", "overwrite"))
    if opts.get("dynamic_overwrite"):
        w = w.option("partitionOverwriteMode", "dynamic")
    pc = opts.get("partition_cols")
    return w.partitionBy(*pc) if pc else w


def register_writer(fmt: FileFormat):
    def deco(fn):
        _WRITERS[fmt] = fn
        return fn

    return deco


@register_writer(FileFormat.CSV)
def _write_csv(df: DataFrame, path: str, compression: str | None = None, sep: str = ",", header: bool = True, **opts) -> None:
    _base(df, opts).csv(path, sep=sep, header=header, compression=compression)


@register_writer(FileFormat.TSV)
def _write_tsv(df: DataFrame, path: str, **opts) -> None:
    opts.pop("sep", None)
    _write_csv(df, path, sep="\t", **opts)


@register_writer(FileFormat.PARQUET)
def _write_parquet(df: DataFrame, path: str, compression: str = "gzip", **opts) -> None:
    # gzip default for parity (ParquetWriter.py:18); pass compression='snappy'
    # or 'zstd' for the speed-optimized path
    _base(df, opts).parquet(path, compression=compression)


@register_writer(FileFormat.ORC)
def _write_orc(df: DataFrame, path: str, **opts) -> None:
    _base(df, opts).orc(path)


@register_writer(FileFormat.JSONLINES)
def _write_jsonlines(df: DataFrame, path: str, compression: str | None = None, **opts) -> None:
    _base(df, opts).json(path, compression=compression)


@register_writer(FileFormat.NPZ)
def _write_npz(df: DataFrame, path: str, **opts) -> None:
    """NPZ writer (NpzWriter parity, src/bears/writer/dataframe/NpzWriter.py:12):
    no Spark sink — collect to pandas on the driver (npz is a single
    unsplittable archive by nature) and np.savez. For distributed multi-file
    npz use write(..., num_chunks=N) which writes one npz per chunk via
    foreachPartition."""
    import numpy as np

    pdf = df.toPandas()
    np.savez(path, **{c: pdf[c].to_numpy() for c in pdf.columns})


def _resolve_fs(path: str):
    """(pyarrow filesystem, path-within-fs) for a POSIX path or object-store
    URI. pyarrow.fs speaks s3://, gs://, hdfs:// natively (creds from the
    standard env/instance chains); Hadoop's s3a:// spelling is normalized.
    Reconstructed per-executor from the path string — never serialized."""
    from pyarrow import fs as pafs

    if "://" in path and not path.startswith("file:"):
        return pafs.FileSystem.from_uri(path.replace("s3a://", "s3://", 1))
    return pafs.LocalFileSystem(), path.removeprefix("file:")


@register_writer(FileFormat.AVRO)
def _write_avro(df: DataFrame, path: str, **opts) -> None:
    """Avro writer: spark-avro JVM sink when deployed, else the pure-stdlib
    container codec (io/avro_generic.py) — each partition Arrow-batches
    through mapInArrow and writes its own part-NNNNN.avro (parallel, one
    container per task). Nulls stay null and NaN stays a double.

    The fallback writes through pyarrow.fs, so local paths AND object-store
    URIs (s3://, gs://, hdfs://) both work — parity with the reference's
    every-format-to-S3 writer (DataFrameWriter.py:99-307)."""
    try:
        df.write.mode(opts.get("mode", "overwrite")).format("avro").save(path)
        return
    except AnalysisException as exc:  # failed to find data source: avro
        if "avro" not in str(exc).lower():
            raise

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from bears_spark.io.avro_generic import spark_schema_to_avro, write_container

    fs, root = _resolve_fs(path)
    if opts.get("mode", "overwrite") == "overwrite":
        try:
            fs.delete_dir(root)
        except FileNotFoundError:
            pass
    fs.create_dir(root, recursive=True)
    avro_schema = spark_schema_to_avro(df.schema)
    # the codec writes timestamp-micros / date fields as their raw ints
    raw = {T.TimestampType(): F.unix_micros, T.DateType(): F.unix_date}
    plain = df.select(
        *[raw[f.dataType](df[f.name]).alias(f.name) if f.dataType in raw else df[f.name] for f in df.schema]
    )

    def _enc(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        batches = list(batches)
        if not batches:
            return
        records = [r for b in batches for r in b.to_pylist()]
        part_fs, part_root = _resolve_fs(path)
        part = f"{part_root.rstrip('/')}/part-{TaskContext.get().partitionId():05d}.avro"
        with part_fs.open_output_stream(part) as f:
            f.write(write_container(avro_schema, records))
        yield pa.RecordBatch.from_pylist([{"path": part, "n_rows": len(records)}])

    plain.mapInArrow(_enc, "path string, n_rows long").collect()


@register_writer(FileFormat.ARROW)
def _write_arrow(df: DataFrame, path: str, **opts) -> None:
    """Arrow IPC (Feather v2) writer: each partition Arrow-batches through
    mapInPandas and writes its own part-NNNNN.arrow through pyarrow.fs
    (local paths and object-store URIs alike) — the same parallel one-file-
    per-task shape as the Avro fallback. The data is ALREADY Arrow on the
    worker boundary, so this is a zero-copy-ish dump of the exchange
    format."""
    fs, root = _resolve_fs(path)
    if opts.get("mode", "overwrite") == "overwrite":
        try:
            fs.delete_dir(root)
        except FileNotFoundError:
            pass
    fs.create_dir(root, recursive=True)

    def _enc(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.ipc as ipc
        from pyspark import TaskContext

        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        part_fs, part_root = _resolve_fs(path)
        part = f"{part_root.rstrip('/')}/part-{TaskContext.get().partitionId():05d}.arrow"
        with part_fs.open_output_stream(part) as f:
            with ipc.new_file(f, tbl.schema) as w:
                w.write_table(tbl)
        yield pd.DataFrame({"path": [part], "n_rows": [len(pdf)]})

    df.mapInPandas(_enc, "path string, n_rows long").collect()


class Writer:
    def __init__(self, fmt: FileFormat | str):
        self.format = FileFormat(fmt) if not isinstance(fmt, FileFormat) else fmt

    @classmethod
    def of(cls, fmt: FileFormat | str) -> "Writer":
        return cls(fmt)

    def write(
        self,
        data,
        path: str,
        single_file: bool = False,
        num_rows: int | None = None,
        num_chunks: int | None = None,
        data_schema: MLTypeSchema | None = None,
        partition_cols: list[str] | None = None,
        **opts: Any,
    ) -> None:
        """num_rows/num_chunks are the chunked-write aliases batch_size /
        num_files (DataFrameWriter.py:58-87); exactly one may be given.

        ``partition_cols`` writes a hive-partitioned directory layout
        (``col=value/``) — at 100 TB this is what makes date/tenant
        predicates prune entire directories at scan time (PartitionFilters
        in the plan) instead of reading and filtering."""
        from bears_spark.frame import SparkFrame

        df = data.df if isinstance(data, SparkFrame) else data
        if data_schema:
            keep = [c for c in data_schema if c in df.columns]
            df = df.select(*keep)
        if num_rows is not None and num_chunks is not None:
            raise ValueError("pass at most one of num_rows / num_chunks")
        if num_rows is not None:
            num_chunks = max(1, math.ceil(df.count() / num_rows))
        if num_chunks is not None:
            df = df.repartition(num_chunks)
        if single_file:
            df = df.coalesce(1)
        if partition_cols:
            if single_file:
                raise ValueError("partition_cols and single_file are mutually exclusive")
            if self.format not in (FileFormat.PARQUET, FileFormat.ORC, FileFormat.CSV, FileFormat.TSV, FileFormat.JSONLINES):
                raise ValueError(f"partitioned writes unsupported for {self.format}")
            opts = {**opts, "partition_cols": partition_cols}
        elif opts.get("dynamic_overwrite"):
            raise ValueError("dynamic_overwrite requires partition_cols")

        fn = _WRITERS.get(self.format)
        if fn is None:
            raise ValueError(f"no writer registered for format {self.format}")

        if single_file and self.format != FileFormat.NPZ:
            # write the directory then promote the lone part file to `path`
            tmp = path.rstrip("/") + ".__spark_tmp__"
            fn(df, to_spark_path(tmp), **opts)
            parts = [p for p in glob.glob(os.path.join(tmp, "part-*")) if not p.endswith(".crc")]
            if len(parts) != 1:
                raise RuntimeError(f"expected one part file in {tmp}, found {len(parts)}")
            if os.path.isdir(path):
                shutil.rmtree(path)
            elif os.path.exists(path):
                os.remove(path)
            shutil.move(parts[0], path)
            shutil.rmtree(tmp)
        else:
            fn(df, to_spark_path(path), **opts)


def write(data, path: str, file_format: str | FileFormat | None = None, **kw) -> None:
    meta = FileMetadata(path, format=FileFormat(file_format) if file_format else None)
    if meta.format is None:
        raise ValueError(f"cannot detect format from path {path!r}; pass file_format=")
    Writer.of(meta.format).write(data, path, **kw)
