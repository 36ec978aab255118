"""The table catalog reads each fixture with the schema from its parquet
footer instead of letting Spark infer it. These tests pin that the footer
mapping is the schema Spark would infer, and that a file rewritten in
place is read with its new footer."""

from __future__ import annotations

import os
from datetime import date, datetime
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from flink_real_time_data_warehouse_spark.sources.streams import stream_table
from flink_real_time_data_warehouse_spark.tables import TABLE_NAMES, footer_schema, table

from .conftest import ORACLE_SF_DIR, TEST_SF_DIR

TS = [datetime(2024, 1, 1, 1, 2, 3, 456789), datetime(2024, 6, 30, 23, 59, 59, 1)]
TS_TEXT = ["2024-01-01 01:02:03.456789", "2024-06-30 23:59:59.000001"]


@pytest.mark.parametrize("sf_dir", [TEST_SF_DIR, ORACLE_SF_DIR])
@pytest.mark.parametrize("name", TABLE_NAMES)
def test_footer_schema_equals_inferred(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, _ = footer_schema(path)
    assert schema == spark.read.parquet(path).schema  # nullability included


def test_footer_schema_equals_inferred_edge_types(spark, tmp_path):
    """Types the fixtures do not carry: NANOS with and without a zone,
    legacy INT96, a REQUIRED column, non-null list elements, nested
    struct and map, decimal, date, small ints and binary."""
    t = pa.Table.from_arrays(
        [
            pa.array([1, 2], pa.int64()),
            pa.array(TS, pa.timestamp("ns")),
            pa.array(TS, pa.timestamp("ns", tz="UTC")),
            pa.array([[1.0], None], pa.list_(pa.field("element", pa.float32(), nullable=False))),
            pa.array([{"u": 1, "v": "s"}, None]),
            pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int32())),
            pa.array([Decimal("1.23"), None], pa.decimal128(10, 2)),
            pa.array([date(2020, 1, 1), None]),
            pa.array([1, 2], pa.int8()),
            pa.array([1, 2], pa.int16()),
            pa.array([b"x", None]),
            pa.array(TS, pa.timestamp("ms")),
        ],
        schema=pa.schema([
            pa.field("id", pa.int64(), nullable=False),
            ("ns", pa.timestamp("ns")),
            ("ns_utc", pa.timestamp("ns", tz="UTC")),
            ("floats", pa.list_(pa.field("element", pa.float32(), nullable=False))),
            ("st", pa.struct([("u", pa.int64()), ("v", pa.string())])),
            ("mp", pa.map_(pa.string(), pa.int32())),
            ("dec", pa.decimal128(10, 2)),
            ("d", pa.date32()),
            ("i8", pa.int8()),
            ("i16", pa.int16()),
            ("bin", pa.binary()),
            ("ms", pa.timestamp("ms")),
        ]),
    )
    path = str(tmp_path / "edge.parquet")
    pq.write_table(t, path)
    schema, nanos = footer_schema(path)
    assert nanos == ("ns", "ns_utc")
    assert schema == spark.read.parquet(path).schema

    legacy = str(tmp_path / "int96.parquet")
    pq.write_table(pa.table({"ts": pa.array(TS, pa.timestamp("ns"))}), legacy,
                   use_deprecated_int96_timestamps=True)
    schema, nanos = footer_schema(legacy)
    assert nanos == ()  # INT96 is read as a timestamp, not as nanos-as-long
    assert schema == spark.read.parquet(legacy).schema


def test_table_rereads_a_rewritten_footer(spark, tmp_path):
    """A fixture rewritten at the same path must be read with its new
    footer: a cached nanos list or schema from the old file would apply
    `div 1000` to a timestamp, or drop the new column."""
    path = str(tmp_path / "events.parquet")
    ids = pa.array([1, 2], pa.int64())

    def ts_text(df):
        return [r[0] for r in df.orderBy("event_id").select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")).collect()]

    pq.write_table(pa.table({"event_id": ids, "ts": pa.array(TS, pa.timestamp("ns"))}), path)
    assert ts_text(table(spark, str(tmp_path), "events")) == TS_TEXT

    pq.write_table(pa.table({
        "event_id": ids, "ts": pa.array(TS, pa.timestamp("us")), "props": ["a", "b"],
    }), path)
    df = table(spark, str(tmp_path), "events")
    assert df.columns == ["event_id", "ts", "props"]
    assert ts_text(df) == TS_TEXT
    assert [r.props for r in df.orderBy("event_id").collect()] == ["a", "b"]


def test_stream_table_converts_nanos_like_table(spark, tmp_path):
    """One nanos->micros rule for batch and stream: same schema, and the
    stream's event-time column takes a watermark."""
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2], pa.int64()), "ts": pa.array(TS, pa.timestamp("ns")),
    }), str(tmp_path / "events.parquet"))
    stream = stream_table(spark, str(tmp_path), "events")
    assert stream.schema == table(spark, str(tmp_path), "events").schema
    stream.withWatermark("ts", "1 second")
