"""Traced-run probes of the CDC source layers, driven directly against
the generator outside Spark: ``sources.protocol.CDCClient`` and the
partitioned reader's ``partitions()`` + ``read()``."""

from __future__ import annotations

import json
import os
import statistics
import time

from generator import PASSWORD, USER, schema_record

PROBE_TABLE = "bench.probe"
PROBE_EVENTS = 100_000  # backlog of the probe table
HANDSHAKES = 20
POLL_S = 0.05


def _client(port: int):
    from maxscale_cdc_connector_spark.sources.protocol import CDCClient

    return CDCClient("127.0.0.1", port, USER, PASSWORD, PROBE_TABLE, timeout=POLL_S)


def protocol_probe(port: int, n_events: int, trace) -> dict:
    """Handshake latency, raw framing rate and per-record decode rate
    over the ``n_events`` backlog of the probe table."""
    hs = []
    for i in range(HANDSHAKES):
        client = _client(port)
        with trace.span("protocol.connect", f"probe-handshake-{i}"):
            t0 = time.perf_counter()
            client.connect()
            hs.append((time.perf_counter() - t0) * 1000.0)
        client.close()

    client = _client(port)
    client.connect()
    n = 0
    with trace.span("protocol.read_raw_block", "probe-frame") as sid:
        t0 = time.perf_counter()
        while n < n_events:
            block = client.read_raw_block(min(65536, n_events - n))
            if block is None:
                break
            n += block[1]
        frame_s = time.perf_counter() - t0
    client.close()
    if sid is not None:
        trace.spans[sid]["events"] = n

    client = _client(port)
    client.connect()
    m = 0
    with trace.span("protocol.read_record", "probe-record"):
        t0 = time.perf_counter()
        while m < n_events and client.read_record() is not None:
            m += 1
        record_s = time.perf_counter() - t0
    client.close()
    return {
        "protocol.handshake_ms": statistics.median(hs),
        "protocol.frame_events_per_s": n / frame_s,
        "protocol.record_events_per_s": m / record_s,
    }


def partitioned_probe(port: int, n_events: int, work: str, trace) -> dict:
    """The partitioned reader's planning and executor-side read, called
    in-process over the probe backlog."""
    from maxscale_cdc_connector_spark.sources.cdc_partitioned import CDCPartitionedStreamReader
    from maxscale_cdc_connector_spark.typemap import schema_record_to_struct

    options = {
        "host": "127.0.0.1", "port": str(port), "user": USER, "password": PASSWORD,
        "streams": json.dumps([{"table": PROBE_TABLE}]),
        "frontierdir": os.path.join(work, "probe-frontier"),
        "maxrecordsperbatch": str(n_events), "pollseconds": str(POLL_S),
    }
    reader = CDCPartitionedStreamReader(schema_record_to_struct(schema_record(PROBE_TABLE)), options)
    with trace.span("cdc_partitioned.plan", "probe-partitioned") as plan:
        start = reader.initialOffset()
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
    rows = 0
    with trace.span("cdc_partitioned.read", "probe-partitioned", plan):
        t0 = time.perf_counter()
        for part in parts:
            for batch in reader.read(part):
                rows += batch.num_rows
        read_s = time.perf_counter() - t0
    if rows != n_events:
        raise RuntimeError(f"partitioned probe read {rows} of {n_events} events")
    return {"cdc_partitioned.read_events_per_s": rows / read_s}
