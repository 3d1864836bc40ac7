"""Table-load schema contract (sources/tables.py): the footer read on the
driver decides the read schema, and a file that drifts from the canonical
schema fails at load, before any query runs."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from pyspark.sql.types import TimestampNTZType

from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load


def _write(tmp_path, name: str, table: pa.Table) -> str:
    pq.write_table(table, tmp_path / f"{name}.parquet")
    return str(tmp_path)


@pytest.mark.parametrize(
    "drift",
    [
        lambda t: t.rename_columns(["o_key"] + t.column_names[1:]),
        lambda t: t.set_column(1, "o_custkey", pc.cast(t["o_custkey"], pa.int32())),
        lambda t: t.set_column(
            3, "o_totalprice", pc.cast(t["o_totalprice"], pa.decimal128(12, 2))
        ),
    ],
    ids=["renamed", "retyped", "retyped_unmapped"],
)
def test_drifted_file_fails_at_load(spark, sf_dir, tmp_path, drift):
    orders = pq.read_table(f"{sf_dir}/orders.parquet")
    drifted = _write(tmp_path, "orders", drift(orders))
    with pytest.raises(ValueError, match="schema drift for table 'orders'"):
        load(spark, drifted, "orders")


def test_events_nanos_load_truncated_to_micros(spark, sf_dir, tmp_path):
    """A TIMESTAMP(NANOS) events file loads as TIMESTAMP_NTZ with the
    sub-microsecond part cut by integer division: 999 ns past each
    microsecond must not round up (a float path would also lose exactness
    at ~1.7e18 ns)."""
    events = pq.read_table(f"{sf_dir}/events.parquet").slice(0, 200)
    us = events["ts"].cast(pa.int64())
    ns = pc.add(pc.multiply(us, 1000), 999).cast(pa.timestamp("ns"))
    nanos_dir = _write(tmp_path, "events", events.set_column(1, "ts", ns))
    assert pq.read_schema(f"{nanos_dir}/events.parquet").field("ts").type == (
        pa.timestamp("ns")
    )

    df = load(spark, nanos_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampNTZType)
    got = {r.event_id: r.ts for r in df.select("event_id", "ts").collect()}
    epoch = dt.datetime(1970, 1, 1)
    want = {
        e: epoch + dt.timedelta(microseconds=u)
        for e, u in zip(events["event_id"].to_pylist(), us.to_pylist())
    }
    assert got == want
