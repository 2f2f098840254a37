"""local_df builds the frame createDataFrame(rows, schema) builds, through
one Arrow table: same schema, same values (NaN stays NaN, None stays null),
one partition."""

import datetime
import math

import numpy as np
import pytest
from pyspark.sql.types import ArrayType, DoubleType, LongType, StringType, StructField, StructType

from bears_spark.localframe import local_df


def _same_value(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same_value(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


CASES = {
    "nan_vs_none": (
        [(1, float("nan"), "a"), (2, None, None), (None, 2.5, "c")],
        "n bigint, x double, s string",
    ),
    "empty": ([], "x int, y string"),
    "array_with_nan": (
        [(1, [1.0, float("nan"), None]), (2, []), (3, None)],
        "id int, v array<double>",
    ),
    "binary": ([("p", b"\x00\xffblob"), ("q", bytearray(b"ab")), ("r", None)], "k string, b binary"),
    "timestamp": (
        [(datetime.datetime(2020, 1, 1, 12, 30, 5, 123456),), (None,), (datetime.datetime(1999, 12, 31),)],
        "ts timestamp",
    ),
    "numpy_scalars": (
        [(np.int64(7), np.float64(0.5), np.int32(3)), (np.int64(-1), np.float64("nan"), np.int32(0))],
        "a bigint, b double, c int",
    ),
    "struct_type": (
        [("x", 1, [0.5, float("nan")]), ("y", None, None)],
        StructType(
            [
                StructField("s", StringType()),
                StructField("n", LongType()),
                StructField("v", ArrayType(DoubleType())),
            ]
        ),
    ),
    "colon_ddl": ([(1, ["a", None]), (None, [])], "a: int, b: array<string>"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_df_matches_createdataframe(spark, case):
    rows, schema = CASES[case]
    # createDataFrame's verifier rejects numpy scalars, so its reference rows
    # carry the equal Python values; local_df takes either.
    ref_input = [tuple(v.item() if isinstance(v, np.generic) else v for v in r) for r in rows]
    ref = spark.createDataFrame(ref_input, schema)
    got = local_df(spark, rows, schema)
    assert got.schema == ref.schema
    ref_rows, got_rows = ref.collect(), got.collect()
    assert len(got_rows) == len(ref_rows) == len(rows)
    for g, r in zip(got_rows, ref_rows):
        assert all(_same_value(x, y) for x, y in zip(g, r)), (g, r)
    assert got.rdd.getNumPartitions() == 1


def test_local_df_raises_on_a_value_arrow_cannot_convert(spark):
    with pytest.raises((TypeError, ValueError)):
        local_df(spark, [("not a number",)], "x bigint")
