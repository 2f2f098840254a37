"""Tiny driver-local DataFrames without the pickled-row scan.

``spark.createDataFrame(rows, schema)`` on a plain Python list parallelizes
PICKLED rows over ``defaultParallelism`` slices: every downstream action
(count/collect/join build) then launches one Python-worker task per slice to
rebuild a handful of rows — measured 0.7-4 s per action for a 3-row frame on
local[32], ~zero compute (guide §4: the JVM↔Python boundary is the cost, and
this shape pays it 32× for nothing).

``local_df`` has one transport instead: the rows become a ``pyarrow.Table``
built against the declared schema's Arrow schema, which crosses into the JVM
ONCE. PySpark routes a ``pa.Table`` through Arrow whatever the session conf
says, so a vanilla session builds the same frame; actions read Arrow batches
JVM-side with no Python workers, and ``coalesce(1)`` makes each one task.
No NaN scan is needed: ``pa.array`` converts value by value, so a float NaN
stays NaN and None becomes null, as in ``createDataFrame(rows, schema)`` —
only pandas' conversion conflates the two.

``local_df`` is the required constructor for every small driver-built frame
in a query path (fit state, post-collect result shaping, literal dimension
tables). Positional field mapping; the explicit schema is authoritative; a
value Arrow cannot convert to its declared type raises.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Build a DataFrame from a small driver-local ``rows`` list.

    ``rows``: sequence of tuples/Rows (positionally matching ``schema``).
    ``schema``: DDL string or StructType — authoritative, same contract as
    ``createDataFrame``, whose DDL parser reads the string form.
    """
    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    rows = list(rows)
    arrow_schema = to_arrow_schema(schema)
    columns = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema).coalesce(1)
