"""Catalog over the driver-generated test tables (see TESTDATA.md).

TPC-H-ish star schema (`region nation customer supplier part orders lineitem`)
plus an `events` behavior stream and `documents`/`embeddings` for the
training-data operators. These stand in for the reference's Kafka topics /
Phoenix dims / ClickHouse sinks (SURVEY.md §1.1): facts ~ orders/lineitem/events,
dims ~ region/nation/customer/supplier/part.
"""

from __future__ import annotations

import os
from functools import lru_cache

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from .session import tune_session

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in star joins
# (the Spark-native replacement for the reference's async Phoenix lookup +
# Redis cache, app/function/DimAsyncFunction.java:17-71 / utils/DimUtil.java).
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _as_nullable(t: DataType) -> DataType:
    """Spark's ``DataType.asNullable``: a file source reports every field,
    element and map value as nullable whatever the footer says."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


@lru_cache(maxsize=256)
def _footer(path: str, mtime_ns: int, size: int) -> tuple[StructType, tuple[str, ...]]:
    # INT96 timestamps read as micros, as Spark reads them; only INT64
    # TIMESTAMP(NANOS) columns come back as timestamp[ns].
    with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as f:
        arrow = f.schema_arrow
    nanos = tuple(
        f.name for f in arrow if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )
    for c in nanos:  # what `nanosAsLong` makes of them
        i = arrow.get_field_index(c)
        arrow = arrow.set(i, arrow.field(i).with_type(pa.int64()))
    return _as_nullable(from_arrow_schema(arrow)), nanos


def footer_schema(path: str) -> tuple[StructType, tuple[str, ...]]:
    """(Spark schema, TIMESTAMP(NANOS) column names) of one parquet file,
    from its footer alone — the schema ``spark.read.parquet(path)`` would
    infer under the session's confs, without the Spark job that inference
    runs. Cached on file identity, so a file rewritten in place is re-read."""
    st = os.stat(path)
    return _footer(path, st.st_mtime_ns, st.st_size)


def nanos_to_micros(df: DataFrame, nanos: tuple[str, ...]) -> DataFrame:
    """TIMESTAMP(NANOS) columns, read as long via `nanosAsLong`, truncated
    to microsecond timestamps with integer division — the same ns->us
    truncation DuckDB applies, so oracle parity holds. The explicit LTZ
    cast: timestamp_micros() returns NTZ on some Spark builds, and NTZ
    columns are rejected by withWatermark. With the session pinned to UTC
    the wall-clock values (and oracle parity) are identical either way."""
    for c in nanos:
        df = df.withColumn(
            c, F.expr(f"timestamp_micros(`{c}` div 1000)").cast("timestamp_ltz")
        )
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table; columnar parquet scan, so Catalyst prunes
    columns and pushes filters into the scan for free.

    The schema is the file's parquet footer (`footer_schema`), passed to
    the reader explicitly. Left to itself, ``spark.read.parquet`` infers
    it by running a Spark job that reads the same footer again, once per
    call, so building a plan over N tables would run N jobs before the
    plan executes. The explicit schema skips no check: the scan still
    rejects a file whose columns do not match it.

    TIMESTAMP(NANOS) columns (unsupported by Spark's vectorized reader) are
    read as long and converted by `nanos_to_micros`. The conversion is a
    per-row projection; pushdown on other columns is unaffected.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    tune_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, nanos = footer_schema(path)
    return nanos_to_micros(spark.read.schema(schema).parquet(path), nanos)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so plans can use spark.sql."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
