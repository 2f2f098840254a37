"""Avro object-container codec: the full recursive type system — records,
arrays, maps, unions, enums, fixed, named-type references — and the null /
deflate block codecs. Pure stdlib; the one module that knows the format.

Two callers:

* table-format interop: Apache Iceberg's metadata tree (manifest-list and
  manifest files) is deeply-nested Avro (iceberg.apache.org/spec —
  manifest ``data_file`` is a record of records, maps, and arrays).
  Decoding is schema-driven off the container's EMBEDDED schema, so readers
  work on real files regardless of writer; the encoder lets tests craft
  spec-shaped fixtures without a third-party Avro dependency;
* the AVRO reader/writer registry entries when the spark-avro JVM package
  is not deployed (io/reader.py, io/writer.py): one container file per
  task, with the Spark <-> Avro schema mapping below.

The codec never interprets ``logicalType``: a ``timestamp-micros`` field
decodes as its raw long and a ``date`` as its raw int (Iceberg manifests
carry ``date`` partition values that io/iceberg_log.py reads as ints), so
callers convert at the Spark boundary (unix_micros / timestamp_micros,
unix_date / date_from_unix_date).

Scale note: Iceberg METADATA files (KBs to a few MBs) decode on the
driver. The reader/writer fallback decodes one container file per task in
pure Python; bulk data belongs in parquet or the spark-avro JVM source.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from typing import Any

MAGIC = b"Obj\x01"

# varint / zigzag ------------------------------------------------------------


def _read_varint(buf) -> int:
    shift = 0
    out = 0
    while True:
        b = buf.read(1)
        if not b:
            raise ValueError("truncated avro varint")
        v = b[0]
        out |= (v & 0x7F) << shift
        if not v & 0x80:
            return out
        shift += 7


def _read_long(buf) -> int:
    n = _read_varint(buf)
    return (n >> 1) ^ -(n & 1)


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1


def _write_zlong(buf, n: int) -> None:
    z = _zigzag(n)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


# schema resolution -----------------------------------------------------------


def _named(schema, env: dict) -> Any:
    """Resolve a schema node: register/look up named types so self-references
    ('type': 'r102') decode."""
    if isinstance(schema, str):
        return env.get(schema, schema)
    if isinstance(schema, dict) and schema.get("type") in ("record", "enum", "fixed"):
        env[schema["name"]] = schema
    return schema


# decode -----------------------------------------------------------------------


def _decode(buf, schema, env: dict) -> Any:
    schema = _named(schema, env)
    if isinstance(schema, list):  # union: branch index then value
        branch = _read_long(buf)
        return _decode(buf, schema[branch], env)
    t = schema if isinstance(schema, str) else schema["type"]
    if isinstance(t, (list, dict)):  # {"type": <complex>} wrapper
        return _decode(buf, t, env)
    if t == "null":
        return None
    if t == "boolean":
        return buf.read(1) != b"\x00"
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return buf.read(_read_long(buf))
    if t == "string":
        return buf.read(_read_long(buf)).decode("utf-8")
    if t == "fixed":
        return buf.read(schema["size"])
    if t == "enum":
        return schema["symbols"][_read_long(buf)]
    if t == "record":
        _named(schema, env)
        return {f["name"]: _decode(buf, f["type"], env) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte size prefix
                n = -n
                _read_long(buf)
            for _ in range(n):
                out.append(_decode(buf, schema["items"], env))
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                _read_long(buf)
            for _ in range(n):
                k = buf.read(_read_long(buf)).decode("utf-8")
                out[k] = _decode(buf, schema["values"], env)
    raise ValueError(f"unsupported avro type {t!r}")


def read_header(buf) -> tuple[dict, str, bytes]:
    """Parse a container header from a binary stream -> (embedded schema,
    block codec, sync marker), leaving ``buf`` at the first data block — so
    a file's schema can be peeked without decoding its rows."""
    if buf.read(4) != MAGIC:
        raise ValueError("not an avro container")
    meta = _decode(buf, {"type": "map", "values": "bytes"}, {})
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    return json.loads(meta["avro.schema"]), codec, buf.read(16)


def read_container(data: bytes) -> tuple[dict, list[dict]]:
    """Avro object-container bytes -> (embedded schema, records). Handles
    the null and deflate codecs."""
    buf = io.BytesIO(data)
    schema, codec, sync = read_header(buf)
    records: list[dict] = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, 1)
        n = _read_long(buf)
        size = _read_long(buf)
        block = buf.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, wbits=-15)
        bbuf = io.BytesIO(block)
        env: dict = {}
        for _ in range(n):
            records.append(_decode(bbuf, schema, env))
        if buf.read(16) != sync:
            raise ValueError("avro sync marker mismatch")
    return schema, records


# encode -----------------------------------------------------------------------


def _encode(buf, schema, value, env: dict) -> None:
    schema = _named(schema, env)
    if isinstance(schema, list):  # union: pick the first matching branch
        for i, branch in enumerate(schema):
            bt = branch if isinstance(branch, str) else branch.get("type")
            if value is None and bt == "null":
                _write_zlong(buf, i)
                return
            if value is not None and bt != "null":
                _write_zlong(buf, i)
                _encode(buf, branch, value, env)
                return
        raise ValueError(f"no union branch for {value!r} in {schema}")
    t = schema if isinstance(schema, str) else schema["type"]
    if isinstance(t, (list, dict)):
        _encode(buf, t, value, env)
        return
    if t == "null":
        return
    if t == "boolean":
        buf.write(b"\x01" if value else b"\x00")
    elif t in ("int", "long"):
        _write_zlong(buf, int(value))
    elif t == "float":
        buf.write(struct.pack("<f", float(value)))
    elif t == "double":
        buf.write(struct.pack("<d", float(value)))
    elif t == "bytes":
        _write_zlong(buf, len(value))
        buf.write(value)
    elif t == "string":
        b = value.encode("utf-8")
        _write_zlong(buf, len(b))
        buf.write(b)
    elif t == "fixed":
        buf.write(value)
    elif t == "enum":
        _write_zlong(buf, schema["symbols"].index(value))
    elif t == "record":
        _named(schema, env)
        for f in schema["fields"]:
            _encode(buf, f["type"], value.get(f["name"]), env)
    elif t == "array":
        if value:
            _write_zlong(buf, len(value))
            for item in value:
                _encode(buf, schema["items"], item, env)
        _write_zlong(buf, 0)
    elif t == "map":
        if value:
            _write_zlong(buf, len(value))
            for k, v in value.items():
                kb = k.encode("utf-8")
                _write_zlong(buf, len(kb))
                buf.write(kb)
                _encode(buf, schema["values"], v, env)
        _write_zlong(buf, 0)
    else:
        raise ValueError(f"unsupported avro type {t!r}")


def write_container(schema: dict, records: list[dict]) -> bytes:
    """(schema, records) -> avro object-container bytes (null codec)."""
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode()}
    _encode(out, {"type": "map", "values": "bytes"}, meta, {})
    sync = b"\x00" * 8 + b"bearsync"  # any 16 bytes
    out.write(sync)
    body = io.BytesIO()
    env: dict = {}
    for r in records:
        _encode(body, schema, r, env)
    payload = body.getvalue()
    _write_zlong(out, len(records))
    _write_zlong(out, len(payload))
    out.write(payload)
    out.write(sync)
    return out.getvalue()


# Spark schema mapping ----------------------------------------------------------


def spark_schema_to_avro(schema, name: str = "row") -> dict:
    """Spark StructType of scalar columns -> Avro record schema, every field
    nullable (``["null", T]``). Nested columns raise: write parquet."""
    from pyspark.sql import types as T

    def field_type(dt) -> Any:
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            return "int"
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.BinaryType):
            return "bytes"
        if isinstance(dt, T.TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        raise NotImplementedError(f"avro supports flat scalar columns; got {dt}")

    return {
        "type": "record",
        "name": name,
        "fields": [{"name": f.name, "type": ["null", field_type(f.dataType)]} for f in schema.fields],
    }


def avro_schema_to_spark(avro: dict):
    """Avro record schema of scalar fields -> Spark StructType (the inverse
    of spark_schema_to_avro; byte and short come back as int)."""
    from pyspark.sql import types as T

    prim = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "bytes": T.BinaryType(),
    }

    def to_spark(ft) -> Any:
        if isinstance(ft, list):  # union — take the non-null branch
            branches = [b for b in ft if b != "null"]
            if len(branches) != 1:
                raise NotImplementedError(f"only [null, T] unions supported, got {ft}")
            return to_spark(branches[0])
        if isinstance(ft, dict):
            lt = ft.get("logicalType")
            if lt == "timestamp-micros":
                return T.TimestampType()
            if lt == "date":
                return T.DateType()
            return to_spark(ft["type"])
        if ft in prim:
            return prim[ft]
        raise NotImplementedError(f"unsupported avro type {ft!r}")

    return T.StructType([T.StructField(f["name"], to_spark(f["type"]), True) for f in avro["fields"]])
