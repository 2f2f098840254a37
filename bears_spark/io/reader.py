"""Reader registry: format-dispatched reads returning SparkFrame.

Reference parity: Reader.of(format) registry + storage dispatch
(src/bears/reader/Reader.py:81-116), CsvReader/ParquetReader/JsonLinesReader/
NpzReader (src/bears/reader/dataframe/*.py). Multi-file parallel read with
retry (DataFrameReader.py:210-316) is Spark-native: a glob/directory path
parallelizes per-file across tasks with task-level retry — nothing to build.

Schema-based column pruning (``data_schema``) compiles to ``.select`` which
Catalyst pushes into the scan (ReadSchema) — same effect as the reference's
usecols/columns pruning (CsvReader.py:50-52, ParquetReader.py:32-35), with
missing-column tolerance handled by intersecting with the actual schema
(ParquetReader.detect_columns parity, ParquetReader.py:99-115).
"""

from __future__ import annotations

from typing import Any, Callable, Dict

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from bears_spark.frame import SparkFrame, _normalize_nan_to_null
from bears_spark.io.metadata import FileFormat, FileMetadata, to_spark_path
from bears_spark.types import MLTypeSchema, mltype_schema_to_struct

_READERS: Dict[FileFormat, Callable[..., DataFrame]] = {}


def register_reader(fmt: FileFormat):
    def deco(fn):
        _READERS[fmt] = fn
        return fn

    return deco


@register_reader(FileFormat.CSV)
def _read_csv(spark: SparkSession, path: str, schema=None, sep: str = ",", header: bool = True, **opts) -> DataFrame:
    return spark.read.csv(
        path,
        sep=sep,
        header=header,
        schema=schema,
        inferSchema=schema is None,
        quote=opts.get("quote", '"'),
        escape=opts.get("escape", "\\"),
        nullValue=opts.get("nullValue"),
        timestampFormat=opts.get("timestampFormat"),
    )


@register_reader(FileFormat.TSV)
def _read_tsv(spark: SparkSession, path: str, schema=None, **opts) -> DataFrame:
    opts.pop("sep", None)
    return _read_csv(spark, path, schema=schema, sep="\t", **opts)


@register_reader(FileFormat.PARQUET)
def _read_parquet(spark: SparkSession, path: str, schema=None, **opts) -> DataFrame:
    df = spark.read.parquet(path)
    return df


@register_reader(FileFormat.ORC)
def _read_orc(spark: SparkSession, path: str, schema=None, **opts) -> DataFrame:
    return spark.read.orc(path)


@register_reader(FileFormat.JSONLINES)
def _read_jsonlines(spark: SparkSession, path: str, schema=None, **opts) -> DataFrame:
    return spark.read.json(path, schema=schema)


@register_reader(FileFormat.JSON)
def _read_json(spark: SparkSession, path: str, schema=None, **opts) -> DataFrame:
    # non-lines JSON (array-of-objects documents) -> multiLine
    return spark.read.json(path, schema=schema, multiLine=True)


@register_reader(FileFormat.TEXT)
def _read_text(spark: SparkSession, path: str, schema=None, **opts) -> DataFrame:
    return spark.read.text(path)


@register_reader(FileFormat.NPZ)
def _read_npz(spark: SparkSession, path: str, schema=None, columns: list[str] | None = None, **opts) -> DataFrame:
    """NPZ (numpy archive of named 1-D arrays = columns) has no Spark source
    (NpzReader parity, src/bears/reader/dataframe/NpzReader.py:13-109).

    Distributed path: binaryFile source -> mapInPandas(np.load) so each .npz
    file decodes on an executor, not the driver. One npz = one task — fine for
    many-file datasets; a single giant npz is inherently unsplittable.
    """
    import io as _io

    import numpy as np
    import pandas as pd

    binary = spark.read.format("binaryFile").load(path)

    # peek one file on the driver for the schema (cheap: metadata-only read);
    # binaryFile percent-encodes URI-special chars — unquote before open
    from urllib.parse import unquote

    sample_path = binary.select("path").first()["path"]
    local = unquote(sample_path.removeprefix("file:"))
    with np.load(local) as z:
        keys = columns or list(z.files)
        sample_pdf = pd.DataFrame({k: z[k][:1] for k in keys})
    out_schema = spark.createDataFrame(sample_pdf).schema

    def _decode(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                with np.load(_io.BytesIO(row["content"])) as z:
                    yield pd.DataFrame({k: z[k] for k in keys})

    return binary.select("path", "content").mapInPandas(_decode, out_schema)


@register_reader(FileFormat.ARROW)
def _read_arrow(spark: SparkSession, path: str, schema=None, columns: list[str] | None = None, **opts) -> DataFrame:
    """Arrow IPC / Feather-v2 reader (.arrow/.feather/.ipc) — the interchange
    format every Arrow-speaking tool (pandas, polars, DuckDB, Ray) writes.
    No Spark source exists; distributed path mirrors the NPZ reader:
    binaryFile -> one IPC file decoded per task via pyarrow, schema peeked
    from the first file's footer on the driver (metadata-only read).
    Feather v1 (legacy pre-IPC framing) is intentionally not supported."""
    import io as _io

    import pyarrow as pa
    import pyarrow.ipc as ipc

    from pyspark.sql.pandas.types import from_arrow_schema

    from urllib.parse import unquote

    binary = spark.read.format("binaryFile").load(path)
    # binaryFile percent-encodes URI-special characters (spaces, %): unquote
    # before opening driver-side, as _attach_blooms does for the same reason
    sample_path = unquote(binary.select("path").first()["path"].removeprefix("file:"))
    with pa.memory_map(sample_path) as mm:
        arrow_schema = ipc.open_file(mm).schema
    if columns:
        arrow_schema = pa.schema([arrow_schema.field(c) for c in columns])
    out_schema = from_arrow_schema(arrow_schema)

    def _decode(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                tbl = ipc.open_file(_io.BytesIO(row["content"])).read_all()
                out = tbl.to_pandas()
                yield out[columns] if columns else out

    return binary.select("path", "content").mapInPandas(_decode, out_schema)


@register_reader(FileFormat.BINARY)
def _read_binary(spark: SparkSession, path: str, schema=None, **opts) -> DataFrame:
    """Asset reader (image/audio/pdf parity — src/bears/reader/asset/): binary
    payload + path + length; decode via bears_spark.functions.multimodal."""
    return spark.read.format("binaryFile").load(path)


@register_reader(FileFormat.AVRO)
def _read_avro(spark: SparkSession, path: str, schema=None, **opts) -> DataFrame:
    """Avro reader: the spark-avro JVM source when deployed, else the
    pure-stdlib container codec (io/avro_generic.py) over the binaryFile
    source — one container file decodes per task, schema peeked from the
    first file's header on the driver (a bounded metadata read)."""
    try:
        return spark.read.format("avro").load(path)
    except AnalysisException as exc:  # failed to find data source: avro
        if "avro" not in str(exc).lower():
            raise

    import os as _os
    from urllib.parse import unquote

    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from bears_spark.io.avro_generic import avro_schema_to_spark, read_container, read_header

    src = path.removeprefix("file:")
    if _os.path.isdir(src):
        src = src.rstrip("/") + "/*.avro"
    binary = spark.read.format("binaryFile").load(src)

    sample = unquote(binary.select("path").first()["path"].removeprefix("file:"))
    with open(sample, "rb") as f:
        out_schema = avro_schema_to_spark(read_header(f)[0])
    # the codec yields timestamp-micros / date fields as their raw ints;
    # decode to those and map the logical types back in the projection
    raw_types = {T.TimestampType(): T.LongType(), T.DateType(): T.IntegerType()}
    raw_schema = T.StructType([T.StructField(f.name, raw_types.get(f.dataType, f.dataType)) for f in out_schema])
    arrow_schema = to_arrow_schema(raw_schema)

    def _decode(batches):
        for batch in batches:
            for content in batch.column("content").to_pylist():
                yield pa.RecordBatch.from_pylist(read_container(content)[1], schema=arrow_schema)

    raw = binary.select("content").mapInArrow(_decode, raw_schema)
    logical = {T.TimestampType(): F.timestamp_micros, T.DateType(): F.date_from_unix_date}
    return raw.select(
        *[
            logical[f.dataType](raw[f.name]).alias(f.name) if f.dataType in logical else raw[f.name]
            for f in out_schema
        ]
    )


class Reader:
    """Format registry facade: Reader.of('csv').read(path) (Reader.py:81)."""

    def __init__(self, fmt: FileFormat | str):
        self.format = FileFormat(fmt) if not isinstance(fmt, FileFormat) else fmt

    @classmethod
    def of(cls, fmt: FileFormat | str) -> "Reader":
        return cls(fmt)

    def read(
        self,
        path: str,
        spark: SparkSession | None = None,
        data_schema: MLTypeSchema | None = None,
        **opts: Any,
    ) -> SparkFrame:
        if spark is None:
            from bears_spark.session import get_session

            spark = get_session()
        struct = mltype_schema_to_struct(data_schema) if data_schema else None
        fn = _READERS.get(self.format)
        if fn is None:
            raise ValueError(f"no reader registered for format {self.format}")
        df = fn(spark, to_spark_path(path), schema=struct, **opts)
        if data_schema:
            # schema-pruning with missing-column tolerance: select only columns
            # present in the file (Catalyst pushes the pruning into the scan)
            keep = [c for c in data_schema if c in df.columns]
            df = df.select(*keep)
        return SparkFrame(_normalize_nan_to_null(df))


def read(path: str, file_format: str | FileFormat | None = None, **kw) -> SparkFrame:
    """Top-level read with format auto-detect from extension. URLs
    (http/https/ftp) route through ``read_url``."""
    if path.startswith(("http://", "https://", "ftp://")):
        return read_url(path, file_format=file_format, **kw)
    meta = FileMetadata(path, format=FileFormat(file_format) if file_format else None)
    if meta.format is None:
        raise ValueError(f"cannot detect format from path {path!r}; pass file_format=")
    return Reader.of(meta.format).read(path, **kw)


def read_url(url: str, file_format: str | FileFormat | None = None, **kw) -> SparkFrame:
    """Read a single remote file by URL (Reader.py:81-116 storage dispatch:
    the reference's STREAM/URL storage path).

    The payload is fetched once on the driver to a temp file, then read by
    the normal format reader. This is the right shape for ONE config/manifest
    file; for millions of URLs, put them in a table and fetch distributed
    (mapInPandas over the URL column) instead — a driver loop does not scale.
    file:// URLs short-circuit to a local read with no copy."""
    from urllib.parse import urlparse
    from urllib.request import urlopen

    parsed = urlparse(url)
    suffix = "." + parsed.path.rsplit(".", 1)[-1] if "." in parsed.path.rsplit("/", 1)[-1] else ""
    if parsed.scheme == "file":
        return read(parsed.path, file_format=file_format, **kw)
    meta = FileMetadata(parsed.path, format=FileFormat(file_format) if file_format else None)
    if meta.format is None:
        raise ValueError(f"cannot detect format from URL {url!r}; pass file_format=")
    import tempfile

    with urlopen(url) as resp:  # noqa: S310 — caller-supplied URL by design
        data = resp.read()
    with tempfile.NamedTemporaryFile(suffix=suffix, delete=False) as tmp:
        tmp.write(data)
        local = tmp.name
    try:
        sf = Reader.of(meta.format).read(local, **kw)
        # Spark evaluates lazily against the temp path — materialize eagerly
        # so the temp file can be removed before returning.
        sf.df = sf.df.localCheckpoint(eager=True)
        return sf
    finally:
        import os

        os.unlink(local)


def read_stream(obj, file_format: str | FileFormat, spark: SparkSession | None = None, **kw) -> SparkFrame:
    """Read from an in-memory stream object (io.BytesIO / io.StringIO / bytes /
    str payload) — the reference's STREAM storage (Reader.py:81-116).

    The payload is spooled to a driver-local temp file and read through the
    normal format reader; inherently driver-sized (an in-memory stream IS
    driver-resident), so no distributed variant exists or is needed."""
    import tempfile

    if hasattr(obj, "read"):
        payload = obj.read()
    else:
        payload = obj
    if isinstance(payload, str):
        payload = payload.encode()
    fmt = FileFormat(file_format) if not isinstance(file_format, FileFormat) else file_format
    with tempfile.NamedTemporaryFile(suffix=f".{fmt.value}", delete=False) as tmp:
        tmp.write(payload)
        local = tmp.name
    try:
        sf = Reader.of(fmt).read(local, spark=spark, **kw)
        # eagerly materialize so the temp file can be removed before returning
        sf.df = sf.df.localCheckpoint(eager=True)
        return sf
    finally:
        import os

        os.unlink(local)


@register_reader(FileFormat.XML)
def _read_xml(
    spark: SparkSession,
    path: str,
    schema=None,
    record_tag: str = "record",
    **opts,
) -> DataFrame:
    """XML reader (stdlib ElementTree — no spark-xml dependency): every
    ``record_tag`` element becomes a row; child elements and attributes
    become string columns (attributes win name collisions). Distributed the
    same way as NPZ/Arrow: binaryFile -> one document parsed per task. The
    column set is the UNION of record fields across ALL files, discovered by
    one distributed field-name pass (bytes proportional to field names, not
    data — a single-file peek would silently drop fields that appear only in
    other files); pass ``columns=[...]`` to skip the pass. All values land
    as strings — cast downstream, exactly how spark-xml's schema-less mode
    behaves."""
    import io as _io
    import xml.etree.ElementTree as ET

    import pandas as pd
    from pyspark.sql import functions as F

    def fields_of(elem) -> dict:
        row = {child.tag: (child.text or "").strip() for child in elem}
        row.update(elem.attrib)  # attributes win
        return row

    binary = spark.read.format("binaryFile").load(path)
    explicit = opts.get("columns")
    if explicit:
        cols = list(explicit)
    else:
        def _fields(batches):
            for pdf in batches:
                for _, row in pdf.iterrows():
                    r = ET.parse(_io.BytesIO(row["content"])).getroot()
                    seen: list[str] = []
                    for e in r.iter(record_tag):
                        for k in fields_of(e):
                            if k not in seen:
                                seen.append(k)
                    yield pd.DataFrame({"name": seen, "pos": range(len(seen))})

        field_rows = (
            binary.select("content")
            .mapInPandas(_fields, "name string, pos int")
            .groupBy("name")
            .agg(F.min("pos").alias("pos"))
            .collect()
        )
        # stable order: first-seen position, name tiebreak across files
        cols = [r["name"] for r in sorted(field_rows, key=lambda r: (r["pos"], r["name"]))]
    if not cols:
        raise ValueError(f"no <{record_tag}> records found under {path}")
    out_schema = ", ".join(f"`{c}` string" for c in cols)

    def _decode(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                r = ET.parse(_io.BytesIO(row["content"])).getroot()
                recs = [fields_of(e) for e in r.iter(record_tag)]
                yield pd.DataFrame(
                    {c: [rec.get(c) for rec in recs] for c in cols}, dtype=object
                )

    return binary.select("path", "content").mapInPandas(_decode, out_schema)


@register_reader(FileFormat.FIXED_WIDTH)
def _read_fixed_width(
    spark: SparkSession,
    path: str,
    schema=None,
    colspecs: list[tuple[str, int, int]] | None = None,
    **opts,
) -> DataFrame:
    """Fixed-width text reader (mainframe/ETL interchange): ``colspecs`` is
    [(name, start, end)] with 0-based half-open character ranges. Pure
    expressions over the Spark text source — substring slicing + trim — so
    the scan is distributed, splittable, and whole-stage codegen'd (unlike
    the per-file binary formats). Values land as trimmed strings; cast
    downstream."""
    if not colspecs:
        raise ValueError("fixed_width requires colspecs=[(name, start, end), ...]")
    from pyspark.sql import functions as F

    lines = spark.read.text(path)
    return lines.select(
        *[
            F.trim(F.substring(F.col("value"), start + 1, end - start)).alias(name)
            for name, start, end in colspecs
        ]
    )
