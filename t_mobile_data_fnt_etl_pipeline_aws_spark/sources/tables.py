"""Canonical table schemas + loaders (SURVEY.md §1, FIXTURES.md).

Schema-on-read with a fixed contract: parquet footers are the source of
truth, but every load asserts the footer schema matches the canonical
StructType below, so silent drift fails fast (SURVEY.md §1 "schema system").
The footer is read on the driver (``pyarrow.parquet.read_schema``), mapped to
the physical Spark type of each column and handed to the reader as its
schema, so a load submits no Spark job: Spark's own schema inference would
run one job per load to read that same footer.

events.ts special case: fixture generations differ — some write parquet
TIMESTAMP(NANOS) (Spark 4 reads it only as raw int64 nanos via
``spark.sql.legacy.parquet.nanosAsLong``), newer ones write TIMESTAMP(MICROS)
(read natively as TIMESTAMP_NTZ). The loader dispatches on the *loaded* type:
int64 nanos are truncated to microseconds with integer division —
``ts div 1000`` — NOT float division (1.7e18 ns exceeds double's 2^53
exact-integer range and a float path silently corrupts microseconds); native
timestamps are cast to TIMESTAMP_NTZ (identity under the UTC session). DuckDB
performs the same ns→µs truncation on nanos files, so oracle parity holds
exactly in both layouts.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..session import configure

#: Canonical schemas (Spark DDL) — extracted from fixture parquet footers
#: (FIXTURES.md "Schemas"). ``events.ts`` is the POST-LOAD type; on disk it
#: is int64 nanoseconds (older fixtures) or timestamp[us] (newer fixtures).
SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
        "c_acctbal DOUBLE, c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


#: Footer (Arrow) column types of the canonical schemas and their Spark read
#: types; any other column type is drift.
_PLAIN_TYPES: dict[pa.DataType, DataType] = {
    pa.int32(): IntegerType(),
    pa.int64(): LongType(),
    pa.float32(): FloatType(),
    pa.float64(): DoubleType(),
    pa.string(): StringType(),
    pa.large_string(): StringType(),
}


def table_names() -> list[str]:
    return list(SCHEMAS)


def _spark_type(t: pa.DataType) -> DataType | None:
    """The type Spark reads a parquet column of footer type ``t`` as, under
    the ``configure()`` confs; None for a type outside the canonical
    schemas."""
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            return LongType()  # nanosAsLong: the raw int64 nanos
        # isAdjustedToUTC=false (no tz) is TIMESTAMP_NTZ under
        # inferTimestampNTZ; a UTC-adjusted instant is TIMESTAMP
        return TimestampType() if t.tz else TimestampNTZType()
    if pa.types.is_list(t):
        elem = _spark_type(t.value_type)
        return None if elem is None else ArrayType(elem, t.value_field.nullable)
    return _PLAIN_TYPES.get(t)


def _footer_schema(path: str, name: str) -> StructType:
    """The physical Spark schema of one parquet file, read on the driver."""
    fields = []
    for f in pq.read_schema(path):
        t = _spark_type(f.type)
        if t is None:
            raise ValueError(
                f"schema drift for table {name!r}: column {f.name!r} has "
                f"parquet type {f.type}"
            )
        fields.append(StructField(f.name, t))
    return StructType(fields)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with the canonical schema contract.

    Plain ``spark.read.parquet`` with the footer's schema declared
    (vectorized columnar scan; predicate pushdown and column pruning stay
    available to Catalyst because we add no opaque transforms here) plus the
    events ns→µs normalization.
    """
    configure(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_footer_schema(path, name)).parquet(path)
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # TIMESTAMP(NANOS) layout: int64 nanos → µs-precision naive
            # timestamp; `div` is integer division (exact), matching
            # DuckDB's ns→µs truncation.
            df = df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
        elif not isinstance(ts_type, TimestampNTZType):
            # UTC-adjusted TIMESTAMP(MICROS) read as TIMESTAMP: identity
            # cast under the UTC session.
            df = df.withColumn("ts", F.col("ts").cast(TimestampNTZType()))
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    expected = StructType.fromDDL(SCHEMAS[name])
    got = [(f.name, f.dataType) for f in df.schema.fields]
    want = [(f.name, f.dataType) for f in expected.fields]
    if got != want:
        raise ValueError(
            f"schema drift for table {name!r}: got {got}, expected {want}"
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in SCHEMAS}
