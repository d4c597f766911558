"""Both socket readers decode one wire corpus to identical Arrow values.

The single-socket reader (driver-side, persistent socket) and the
partitioned reader (executor-side, one socket per stream) share one
wire-decode core. Their outputs are compared as Spark receives them:
each reader's output goes through PySpark's ``records_to_arrow_batches``,
which passes RecordBatches through and converts tuples. The host
timezone is set away from UTC so a decode that reads a naive DATETIME
as local time shows up as a shifted value.
"""

from __future__ import annotations

import json
import time
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

from maxscale_cdc_connector_spark.sources.cdc_datasource import (
    CDCSimpleStreamReader,
    MaxScaleCDCDataSource,
)
from maxscale_cdc_connector_spark.sources.cdc_partitioned import (
    CDCPartitionedStreamReader,
)
from maxscale_cdc_connector_spark.sources.protocol import CDCProtocolError
from maxscale_cdc_connector_spark.typemap import schema_record_to_struct
from tests.fake_maxscale import FakeMaxScale

PARITY_SCHEMA_RECORD = {
    "namespace": "MaxScaleChangeDataSchema.avro",
    "type": "record",
    "name": "ChangeRecord",
    "fields": [
        {"name": "domain", "type": "int", "real_type": "int", "length": -1},
        {"name": "server_id", "type": "int", "real_type": "int", "length": -1},
        {"name": "sequence", "type": "int", "real_type": "bigint", "length": -1},
        {"name": "event_number", "type": "int", "real_type": "int", "length": -1},
        {"name": "event_type", "type": "string", "real_type": "varchar", "length": 32},
        {"name": "ts", "type": "string", "real_type": "datetime", "length": -1},
        {"name": "day", "type": "string", "real_type": "date", "length": -1},
        {"name": "raw", "type": "string", "real_type": "binary", "length": 8},
        {"name": "amount", "type": "string", "real_type": "decimal(10,2)", "length": -1},
        {"name": "whole", "type": "string", "real_type": "decimal(10,0)", "length": -1},
        {"name": "note", "type": "string", "real_type": "varchar", "length": 40},
    ],
}
SCHEMA = schema_record_to_struct(PARITY_SCHEMA_RECORD)
# 2024-01-01 12:00:00 read as UTC wall time.
NOON_UTC_MICROS = 1_704_110_400_000_000


def _event(seq: int, **values) -> dict:
    return {
        "domain": 0,
        "server_id": 3000,
        "sequence": seq,
        "event_number": 1,
        "event_type": "insert",
        **values,
    }


CORPUS = [
    # Every value at its declared form; DECIMAL already at scale 2.
    _event(1, ts="2024-01-01 12:00:00", day="2024-01-01", raw="abc",
           amount="1.50", whole="1.50", note="first"),
    # Fractional seconds, a leap day, non-ASCII bytes, HALF_UP rescales
    # (a scale-0 column rounds "2.50" up, where HALF_EVEN would give 2).
    _event(2, ts="2024-07-04 23:59:59.123456", day="2024-02-29", raw="été",
           amount="2.345", whole="2.50", note="second"),
    # JSON nulls, and a negative HALF_UP rescale (away from zero).
    _event(3, ts=None, day=None, raw=None, amount="-7.005", whole=None, note=None),
]


@pytest.fixture
def new_york_tz(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    assert time.timezone != 0, "the host timezone must differ from UTC"
    yield
    monkeypatch.undo()
    time.tzset()


def _as_spark_receives(output) -> pa.Table:
    batches = list(
        records_to_arrow_batches(iter(output), 10_000, SCHEMA, MaxScaleCDCDataSource({}))
    )
    tbl = pa.Table.from_batches(batches)
    # Compare timestamps by their stored microseconds, whatever the
    # column's timezone annotation.
    return pa.table(
        {
            name: col.cast(pa.int64()) if pa.types.is_timestamp(col.type) else col
            for name, col in zip(tbl.column_names, tbl.columns)
        }
    )


def _simple_read(srv: FakeMaxScale, **extra: str) -> pa.Table:
    reader = CDCSimpleStreamReader(
        SCHEMA,
        {
            "host": "127.0.0.1",
            "port": str(srv.port),
            "user": srv.user,
            "password": srv.password,
            "table": srv.table,
            "pollseconds": "0.3",
            **extra,
        },
    )
    try:
        batches, _end = reader.read(reader.initialOffset())
        return _as_spark_receives(batches)
    finally:
        reader.stop()


def _partitioned_read(srv: FakeMaxScale, tmp_path, **extra: str) -> pa.Table:
    reader = CDCPartitionedStreamReader(
        SCHEMA,
        {
            "host": "127.0.0.1",
            "user": srv.user,
            "password": srv.password,
            "streams": json.dumps([{"table": srv.table, "port": srv.port}]),
            "frontierdir": str(tmp_path / "frontier"),
            "pollseconds": "0.3",
            **extra,
        },
    )
    (part,) = reader.partitions(reader.initialOffset(), reader.latestOffset())
    return _as_spark_receives(reader.read(part))


def test_readers_decode_one_corpus_identically(new_york_tz, tmp_path) -> None:
    with FakeMaxScale(PARITY_SCHEMA_RECORD, CORPUS) as srv:
        simple = _simple_read(srv)
        partitioned = _partitioned_read(srv, tmp_path)
    assert simple.to_pydict() == partitioned.to_pydict()
    assert simple.schema == partitioned.schema
    rows = simple.to_pylist()
    assert rows[0]["ts"] == NOON_UTC_MICROS
    assert [r["amount"] for r in rows] == [Decimal("1.50"), Decimal("2.35"), Decimal("-7.01")]
    assert [r["whole"] for r in rows] == [Decimal("2"), Decimal("3"), None]
    assert rows[1]["raw"] == "été".encode()
    assert rows[2]["note"] is None and rows[2]["ts"] is None


def test_readers_agree_on_a_missing_key(new_york_tz, tmp_path) -> None:
    corpus = [*CORPUS, _event(4, ts="2024-01-02 00:00:00", day="2024-01-02",
                              raw="x", amount="0.01", whole="1")]  # no "note" key
    with FakeMaxScale(PARITY_SCHEMA_RECORD, corpus) as srv:
        # nullMissingColumns on: the missing column reads as NULL in both.
        simple = _simple_read(srv, nullmissingcolumns="true")
        partitioned = _partitioned_read(srv, tmp_path, nullmissingcolumns="true")
        assert simple.to_pydict() == partitioned.to_pydict()
        assert simple.column("note").to_pylist()[-1] is None
        # Off: both enforce the dense-row contract with one message.
        with pytest.raises(CDCProtocolError) as simple_err:
            _simple_read(srv)
        with pytest.raises(CDCProtocolError) as partitioned_err:
            _partitioned_read(srv, tmp_path / "off")
    assert str(simple_err.value) == str(partitioned_err.value)
    assert str(simple_err.value) == "No value for key found: note"
