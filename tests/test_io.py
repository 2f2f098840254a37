"""IO round-trip tests per format (SURVEY.md §5 plan item c)."""

import glob
import os

import numpy as np
import pandas as pd
import pytest

from bears_spark.frame import SparkFrame
from bears_spark.io import FileFormat, FileMetadata, read, write
from bears_spark.io.metadata import detect_format, detect_storage, Storage


def test_format_detection():
    assert detect_format("a/b.parquet") == FileFormat.PARQUET
    assert detect_format("a/b.csv") == FileFormat.CSV
    assert detect_format("a/b.csv.gz") == FileFormat.CSV
    assert detect_format("b.jsonl") == FileFormat.JSONLINES
    assert detect_format("b.tsv") == FileFormat.TSV
    assert detect_format("b.npz") == FileFormat.NPZ
    assert detect_format("b.unknown") is None


def test_storage_detection():
    assert detect_storage("s3://bucket/k") == Storage.S3
    assert detect_storage("/tmp/x") == Storage.LOCAL
    assert detect_storage("https://x/y") == Storage.URL
    assert FileMetadata("s3://b/k.parquet").spark_path == "s3a://b/k.parquet"


@pytest.fixture()
def sample(spark):
    return SparkFrame.of(
        pd.DataFrame({"i": [1, 2, 3], "f": [1.5, 2.5, None], "s": ["a", "b", "c"]}), spark
    )


def _roundtrip(sample, path, fmt, **kw):
    write(sample, path, file_format=fmt, **kw)
    back = read(path, file_format=fmt).to_pandas().sort_values("i").reset_index(drop=True)
    orig = sample.to_pandas().sort_values("i").reset_index(drop=True)
    return orig, back


def test_parquet_roundtrip(sample, tmp_path):
    orig, back = _roundtrip(sample, str(tmp_path / "t.parquet"), "parquet")
    pd.testing.assert_frame_equal(orig, back[orig.columns])


def test_orc_roundtrip(sample, tmp_path):
    orig, back = _roundtrip(sample, str(tmp_path / "t.orc"), "orc")
    pd.testing.assert_frame_equal(orig, back[orig.columns])


def test_csv_roundtrip(sample, tmp_path):
    orig, back = _roundtrip(sample, str(tmp_path / "t.csv"), "csv")
    assert back["i"].tolist() == [1, 2, 3]
    assert back["s"].tolist() == ["a", "b", "c"]


def test_tsv_roundtrip(sample, tmp_path):
    orig, back = _roundtrip(sample, str(tmp_path / "t.tsv"), "tsv")
    assert back["i"].tolist() == [1, 2, 3]


def test_jsonlines_roundtrip(sample, tmp_path):
    orig, back = _roundtrip(sample, str(tmp_path / "t.jsonl"), "jsonlines")
    assert sorted(back["s"]) == ["a", "b", "c"]


def test_single_file_write(sample, tmp_path):
    p = str(tmp_path / "single.csv")
    write(sample, p, file_format="csv", single_file=True)
    assert os.path.isfile(p)  # a real file, not a directory
    back = read(p, file_format="csv").to_pandas()
    assert len(back) == 3


def test_chunked_write(sample, tmp_path):
    p = str(tmp_path / "chunks.parquet")
    write(sample, p, file_format="parquet", num_chunks=3)
    parts = [f for f in glob.glob(p + "/part-*") if not f.endswith(".crc")]
    assert len(parts) == 3


def test_num_rows_write(spark, tmp_path):
    big = SparkFrame.of(pd.DataFrame({"i": range(10)}), spark)
    p = str(tmp_path / "rows.parquet")
    write(big, p, file_format="parquet", num_rows=4)
    parts = [f for f in glob.glob(p + "/part-*") if not f.endswith(".crc")]
    assert len(parts) == 3  # ceil(10/4)


def test_npz_roundtrip(spark, tmp_path):
    pdf = pd.DataFrame({"x": np.arange(5), "y": np.linspace(0, 1, 5)})
    sf = SparkFrame.of(pdf, spark)
    p = str(tmp_path / "t.npz")
    write(sf, p, file_format="npz")
    back = read(p, file_format="npz").to_pandas().sort_values("x").reset_index(drop=True)
    assert back["x"].tolist() == list(range(5))
    assert back["y"].tolist() == pytest.approx(np.linspace(0, 1, 5).tolist())


def test_schema_pruned_read(sample, tmp_path):
    from bears_spark.types import MLType

    p = str(tmp_path / "pruned.parquet")
    write(sample, p, file_format="parquet")
    back = read(p, file_format="parquet", data_schema={"i": MLType.INT, "missing_col": MLType.TEXT})
    assert back.columns == ["i"]  # missing-column tolerance


def test_testdata_parquet_read(spark, sf_dir):
    sf = read(f"{sf_dir}/lineitem.parquet")
    assert sf.shape[0] == 6000


def test_config_roundtrip(tmp_path):
    from bears_spark.io.config import read_config, write_config, read_pickle, write_pickle

    cfg = {"pipeline": [{"input": "a", "transformer": "case"}], "n": 3}
    j = str(tmp_path / "c.json")
    write_config(cfg, j)
    assert read_config(j) == cfg
    try:
        import yaml  # noqa: F401

        y = str(tmp_path / "c.yaml")
        write_config(cfg, y)
        assert read_config(y) == cfg
    except ImportError:
        pass
    p = str(tmp_path / "o.pkl")
    write_pickle({"x": [1, 2]}, p)
    assert read_pickle(p) == {"x": [1, 2]}


def test_read_stream_objects(spark):
    import io as _io

    from bears_spark.io.reader import read_stream

    csv_payload = "a,b\n1,x\n2,y\n"
    sf = read_stream(_io.StringIO(csv_payload), "csv", spark=spark)
    pdf = sf.to_pandas().sort_values("a").reset_index(drop=True)
    assert pdf["a"].tolist() == [1, 2] and pdf["b"].tolist() == ["x", "y"]
    # bytes and BytesIO payloads too
    sf2 = read_stream(_io.BytesIO(csv_payload.encode()), "csv", spark=spark)
    assert sf2.shape[0] == 2
    jl = b'{"k": 1}\n{"k": 2}\n{"k": 3}\n'
    sf3 = read_stream(jl, "jsonlines", spark=spark)
    assert sf3.shape[0] == 3


def test_read_url_http(spark, tmp_path):
    """Serve a CSV over localhost HTTP and read it by URL — the real fetch
    path, no internet required."""
    import http.server
    import threading

    from bears_spark.io.reader import read, read_url

    (tmp_path / "data.csv").write_text("id,v\n10,a\n20,b\n30,c\n")
    handler = lambda *a, **k: http.server.SimpleHTTPRequestHandler(*a, directory=str(tmp_path), **k)  # noqa: E731
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/data.csv"
        sf = read_url(url, spark=spark)
        pdf = sf.to_pandas().sort_values("id").reset_index(drop=True)
        assert pdf["id"].tolist() == [10, 20, 30]
        # top-level read() dispatches URLs automatically
        assert read(url, spark=spark).shape[0] == 3
    finally:
        srv.shutdown()


def test_read_url_file_scheme(spark, tmp_path):
    from bears_spark.io.reader import read_url

    (tmp_path / "f.csv").write_text("x\n1\n2\n")
    sf = read_url(f"file://{tmp_path}/f.csv", spark=spark)
    assert sf.shape[0] == 2


def test_avro_roundtrip(spark, tmp_path):
    """spark-avro is not deployed here, so this exercises the pure-stdlib
    container codec fallback: distributed per-partition write, binaryFile +
    mapInPandas read, all scalar types incl. nulls and timestamps."""
    import datetime as dt

    from bears_spark.io.reader import Reader
    from bears_spark.io.writer import Writer

    rows = [
        (1, "a", 1.5, True, b"\x00\x01", dt.datetime(2024, 1, 2, 3, 4, 5, 123456)),
        (2, None, None, False, None, None),
        (None, "c", -2.25, None, b"xyz", dt.datetime(1999, 12, 31, 23, 59, 59)),
    ]
    df = spark.createDataFrame(
        rows, "id long, s string, x double, b boolean, raw binary, ts timestamp"
    ).repartition(2)
    out = str(tmp_path / "t.avro")
    Writer.of("avro").write(df, out)
    back = Reader.of("avro").read(out, spark=spark).df
    assert back.schema == df.schema

    def canon(rows):
        return sorted(
            (tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r) for r in rows),
            key=repr,
        )

    assert canon(back.collect()) == canon(df.collect())


def test_avro_single_file_and_codec_identity(spark, tmp_path):
    from bears_spark.io.avro_generic import read_container, spark_schema_to_avro, write_container
    from bears_spark.io.writer import Writer

    df = spark.createDataFrame([(i, f"s{i}") for i in range(10)], "id long, s string")
    single = str(tmp_path / "one.avro")
    Writer.of("avro").write(df, single, single_file=True)
    import os

    assert os.path.isfile(single)
    blob = open(single, "rb").read()
    schema, records = read_container(blob)
    assert schema == spark_schema_to_avro(df.schema)
    assert sorted(r["id"] for r in records) == list(range(10))
    # codec identity: encode(decode(x)) == x byte-for-byte (fixed sync marker)
    assert write_container(schema, records) == blob


def test_avro_keeps_nan_apart_from_null(spark, tmp_path):
    """A double NaN is a value, not a null: the container stores it as the
    double branch, and the format reader returns NaN and None apart. The
    Reader facade then applies the engine's NaN -> null ingest rule
    (frame._normalize_nan_to_null), as it does for every format. Dates
    travel as Avro ``date`` ints (days since the epoch)."""
    import datetime as dt
    import math

    from bears_spark.io.avro_generic import read_container
    from bears_spark.io.metadata import FileFormat
    from bears_spark.io.reader import _READERS, Reader
    from bears_spark.io.writer import Writer

    day = dt.date(1969, 12, 30)
    df = spark.createDataFrame(
        [(1, float("nan"), day), (2, None, None), (3, 1.5, dt.date(2024, 2, 29))], "id long, x double, d date"
    )
    out = str(tmp_path / "nan.avro")
    Writer.of("avro").write(df, out, single_file=True)
    stored = {r["id"]: r for r in read_container(open(out, "rb").read())[1]}
    assert math.isnan(stored[1]["x"]) and stored[2]["x"] is None and stored[3]["x"] == 1.5
    assert stored[1]["d"] == -2 and stored[2]["d"] is None

    back = {r["id"]: r for r in _READERS[FileFormat.AVRO](spark, out).collect()}
    assert math.isnan(back[1]["x"]) and back[2]["x"] is None and back[3]["x"] == 1.5
    assert [back[i]["d"] for i in (1, 2, 3)] == [day, None, dt.date(2024, 2, 29)]
    ingested = {r["id"]: r["x"] for r in Reader.of("avro").read(out, spark=spark).df.collect()}
    assert ingested == {1: None, 2: None, 3: 1.5}


def test_partitioned_write_and_pruned_read(spark, tmp_path):
    """Hive-partitioned parquet layout: a partition-key predicate must show
    up as PartitionFilters (directory pruning), not a post-scan filter."""
    from bears_spark.io.writer import Writer

    df = spark.range(100).selectExpr("id", "id % 4 AS part", "id * 2.0 AS v")
    out = str(tmp_path / "parts")
    Writer.of("parquet").write(df, out, partition_cols=["part"], compression="snappy")
    import os

    assert sorted(d for d in os.listdir(out) if d.startswith("part=")) == [f"part={i}" for i in range(4)]
    back = spark.read.parquet(out).filter("part = 2")
    assert back.count() == 25
    import io as _io
    from contextlib import redirect_stdout

    buf = _io.StringIO()
    with redirect_stdout(buf):
        back.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "part" in plan


def test_partitioned_write_guards(spark, tmp_path):
    from bears_spark.io.writer import Writer

    df = spark.range(4).selectExpr("id", "id % 2 AS p")
    with pytest.raises(ValueError, match="mutually exclusive"):
        Writer.of("parquet").write(df, str(tmp_path / "x"), partition_cols=["p"], single_file=True)
    with pytest.raises(ValueError, match="unsupported"):
        Writer.of("npz").write(df, str(tmp_path / "y.npz"), partition_cols=["p"])


def test_dynamic_partition_overwrite_replaces_only_incoming(spark, tmp_path):
    """dynamic_overwrite=True rewrites only the partitions present in the
    batch — the idempotent daily re-land; static overwrite would truncate
    the other days."""
    import pytest as _pytest

    from bears_spark.io.writer import write

    path = str(tmp_path / "days")
    base = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-03")], "v: int, d: string"
    )
    write(base, path, "parquet", partition_cols=["d"])
    # re-land ONLY day 2 with corrected data
    fix = spark.createDataFrame([(20, "2024-01-02")], "v: int, d: string")
    write(fix, path, "parquet", partition_cols=["d"], dynamic_overwrite=True)
    got = {(str(r["d"]), r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {("2024-01-01", 1), ("2024-01-02", 20), ("2024-01-03", 3)}

    # static overwrite truncates: only the incoming partition remains
    write(fix, path, "parquet", partition_cols=["d"])
    assert {str(r["d"]) for r in spark.read.parquet(path).collect()} == {"2024-01-02"}

    with _pytest.raises(ValueError, match="dynamic_overwrite requires"):
        write(fix, path, "parquet", dynamic_overwrite=True)


def test_arrow_ipc_roundtrip(spark, tmp_path):
    """Arrow IPC / Feather v2: distributed per-partition write, binaryFile +
    mapInPandas read; scalar types incl. nulls and timestamps; column
    pruning at read."""
    import datetime as dt

    from bears_spark.io.reader import Reader, read
    from bears_spark.io.writer import Writer

    rows = [
        (1, "a", 1.5, True, dt.datetime(2024, 1, 2, 3, 4, 5, 123456)),
        (2, None, None, False, None),
        (None, "c", -2.25, None, dt.datetime(1999, 12, 31, 23, 59, 59)),
    ]
    df = spark.createDataFrame(
        rows, "id long, s string, x double, b boolean, ts timestamp"
    ).repartition(2)
    out = str(tmp_path / "t.arrow")
    Writer.of("arrow").write(df, out)
    back = Reader.of("arrow").read(out, spark=spark).df
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
    # extension auto-detect through the top-level read()
    assert read(out).df.count() == 3
    # column pruning
    pruned = Reader.of("arrow").read(out, spark=spark, columns=["id", "s"]).df
    assert pruned.columns == ["id", "s"]
    # a file written by ANY Arrow tool (plain pyarrow here) reads back too
    import pyarrow as pa
    import pyarrow.ipc as ipc

    foreign_dir = tmp_path / "foreign.arrow"
    foreign_dir.mkdir()
    with ipc.new_file(str(foreign_dir / "f.arrow"), pa.schema([("k", pa.int64())])) as w:
        w.write_table(pa.table({"k": [10, 20]}))
    got = Reader.of("arrow").read(str(foreign_dir), spark=spark).df
    assert sorted(r["k"] for r in got.collect()) == [10, 20]


def test_xml_reader_records_and_attributes(spark, tmp_path):
    d = tmp_path / "x.xml"
    d.mkdir()
    (d / "a.xml").write_text(
        "<root><record id='1'><name>alpha</name><v>10</v></record>"
        "<record id='2'><name>beta</name><v>20</v></record></root>"
    )
    (d / "b.xml").write_text(
        "<root><record id='3'><name>gamma</name><v>30</v></record></root>"
    )
    from bears_spark.io.reader import Reader

    df = Reader.of("xml").read(str(d), spark=spark, record_tag="record").df
    rows = {r["id"]: (r["name"], r["v"]) for r in df.collect()}
    assert rows == {"1": ("alpha", "10"), "2": ("beta", "20"), "3": ("gamma", "30")}


def test_fixed_width_reader(spark, tmp_path):
    f = tmp_path / "fw"
    f.mkdir()
    (f / "data.txt").write_text("alice  0042NY\nbob    0007CA\n")
    from bears_spark.io.reader import Reader

    df = Reader.of("fixed_width").read(
        str(f), spark=spark, colspecs=[("name", 0, 7), ("num", 7, 11), ("state", 11, 13)]
    ).df
    rows = {r["name"]: (r["num"], r["state"]) for r in df.collect()}
    assert rows == {"alice": ("0042", "NY"), "bob": ("0007", "CA")}
