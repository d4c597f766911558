"""`maxscale_cdc` — a Structured Streaming source for the CDC protocol.

Usage::

    spark.dataSource.register(MaxScaleCDCDataSource)
    df = (spark.readStream.format("maxscale_cdc")
          .option("host", "127.0.0.1").option("port", 4001)
          .option("user", "cdcuser").option("password", "cdc")
          .option("table", "db.t")
          .option("gtid", "0-3000-41")        # optional resume position
          .load())

The stream delivers typed columns (envelope + payload) whose schema is
built from the server's leading schema record via the typemap — the
engine's replacement for the reference's string-valued rows
(cdc_connector.cpp:80-115; SURVEY.md §1.4).

Architecture: one CDC session is one socket streaming one table in GTID
order (cdc_connector.h:62-69), so the source is a
``SimpleDataSourceStreamReader`` — the driver prefetches records and
ships them to executors as micro-batch partitions, exactly the shape of
a one-partition Kafka topic. Parallelism begins at the first downstream
shuffle. Offsets are GTIDs (``domain-server_id-sequence``), the same
resume token the reference asks callers to keep
(cdc_connector.h:62-69); Spark's checkpoint persists them, which the
reference delegated to the application.

Delivery is at-least-once: resuming from a GTID replays that GTID's
events (reference semantics, cdc_connector.cpp:199-206), so snapshots
downstream dedup on the envelope key first (streaming/ops.py).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from maxscale_cdc_connector_spark.sources.decode import (
    ARROW_BATCH_RECORDS,
    WireDecoder,
    gtid_key,
)
from maxscale_cdc_connector_spark.sources.protocol import (
    CDCClient,
    SchemaChangedError,
)
from maxscale_cdc_connector_spark.streaming.ops import SOURCE_ID_COL
from maxscale_cdc_connector_spark.typemap import schema_record_to_struct


def _source_id_active(options) -> bool:
    """True when the partitioned reader will stamp ``_source_id``: the
    global ``sourceId`` option is set, or any per-stream config carries
    a ``sourceId`` key (VERDICT r8 item 5 — multi-server ingest)."""
    if options.get("sourceid"):
        return True
    import json as _json

    try:
        streams = _json.loads(options.get("streams", "[]"))
    except ValueError:
        return False
    return any(isinstance(s, dict) and s.get("sourceId") for s in streams)


DEFAULT_MAX_RECORDS_PER_BATCH = 100_000
DEFAULT_POLL_SECONDS = 1.0
# Wall-clock bound on one micro-batch's read. Without it a batch only
# ends on idle (a ≥ pollSeconds silence) or the record cap — so a
# steady trickle arriving FASTER than pollSeconds but far slower than
# the cap (e.g. 20 ev/s against a 100k cap) would hold the first batch
# open for hours and nothing would ever commit. The bound turns a
# continuous stream into bounded batches regardless of arrival rhythm;
# delivered rows still advance the offset, so ending early is just a
# batch boundary, never loss. Override with option `maxBatchSeconds`
# (bulk replays that must drain in ONE batch — availableNow harnesses —
# should raise it above their expected drain time).
DEFAULT_MAX_BATCH_SECONDS = 10.0


class CDCSimpleStreamReader(SimpleDataSourceStreamReader):
    """Driver-side prefetching reader with GTID offsets."""

    def __init__(self, schema: T.StructType, options: dict[str, str]) -> None:
        if options.get("sourceid") is not None:
            # Fail loudly (r9 review): silently ignoring sourceId here
            # would let two single-stream queries from different servers
            # feed one sink with colliding envelopes un-discriminated —
            # the exact collapse the option exists to prevent.
            raise ValueError(
                "sourceId is only honored by the partitioned reader (set "
                "the 'streams' option), which stamps the _source_id "
                "column; for single-stream queries add the discriminator "
                "yourself with .withColumn('_source_id', lit(...)) before "
                "any shared sink/dedup"
            )
        self._options = options
        self._client: CDCClient | None = None
        self._max_records = int(
            options.get("maxrecordsperbatch", DEFAULT_MAX_RECORDS_PER_BATCH)
        )
        self._poll_seconds = float(options.get("pollseconds", DEFAULT_POLL_SECONDS))
        # Handshake deadline, decoupled from the idle poll (r10): the
        # client defaults it to max(pollSeconds, 10 s); the option exists
        # for tests that wedge a server and want the hung phase to cycle
        # fast, and for genuinely slow links.
        hs = options.get("handshakeseconds")
        self._handshake_seconds = float(hs) if hs is not None else None
        self._max_batch_seconds = float(
            options.get("maxbatchseconds", DEFAULT_MAX_BATCH_SECONDS)
        )
        # NULL-fill columns missing from a record instead of failing the
        # dense-row contract. Off by default; set by the schema-change
        # restart wrapper (streaming/restart.py) because an at-least-once
        # resume across an ALTER boundary replays pre-ALTER rows that
        # legitimately lack the added columns — the same NULL-fill
        # MariaDB applies to rows predating an ADD COLUMN.
        self._decoder = WireDecoder(
            schema, options.get("nullmissingcolumns", "false").lower() == "true"
        )

    # -- offsets ------------------------------------------------------------

    def initialOffset(self) -> dict:
        return {"gtid": self._options.get("gtid", "")}

    def commit(self, end: dict) -> None:
        # The server keeps no consumer positions — the checkpoint is the
        # only offset store (a strict improvement over the reference,
        # which makes the application carry the GTID, cdc_connector.h:62-69).
        pass

    # -- reading ------------------------------------------------------------

    def _connect(self, gtid: str) -> CDCClient:
        client = CDCClient(
            host=self._options.get("host", "127.0.0.1"),
            port=int(self._options.get("port", 4001)),
            user=self._options.get("user", ""),
            password=self._options.get("password", ""),
            table=self._options["table"],
            gtid=gtid or None,
            timeout=self._poll_seconds,
            handshake_timeout=self._handshake_seconds,
        )
        client.connect()
        # Compare the leading schema record to the query's fixed schema,
        # like the partitioned reader does per micro-batch: without this,
        # an ALTER landing while this reader was DISCONNECTED
        # (transport-loss backoff) is absorbed silently on reconnect.
        try:
            self._decoder.check_schema(client.schema_record)
        except SchemaChangedError:
            client.close()
            raise
        return client

    def read(self, start: dict) -> tuple[Iterator[pa.RecordBatch], dict]:
        """One micro-batch off the persistent socket, as RecordBatches.

        The batch ends at the first idle poll, at ``maxRecordsPerBatch``
        (a hard cap: framing cuts blocks at it exactly) or at
        ``maxBatchSeconds``, whichever comes first. Nothing is filtered,
        so every framed block decodes to at least one row and an idle
        read returns an empty iterator — never a zero-row batch, which
        Spark would take as data that failed to advance the offset.
        """
        gtid = start.get("gtid", "")
        if self._client is None:
            self._client = self._connect(gtid)
        batches: list[pa.RecordBatch] = []
        n = 0
        deadline = time.monotonic() + self._max_batch_seconds
        try:
            while n < self._max_records:
                want = min(ARROW_BATCH_RECORDS, self._max_records - n)
                blk = self._client.read_raw_block(
                    want, max_seconds=max(0.0, deadline - time.monotonic())
                )
                if blk is None:  # idle poll
                    break
                batch, (gtid, _evn) = self._decoder.decode(*blk)
                batches.append(batch)
                n += batch.num_rows
                # A short block means the poll went idle, the batch's
                # time ran out (see DEFAULT_MAX_BATCH_SECONDS) or the
                # server closed; the rows read so far commit either way.
                if blk[1] < want or time.monotonic() > deadline:
                    break
        except SchemaChangedError:
            # Surface after the already-read rows are committed would be
            # nicer, but a fixed-schema stream cannot carry them: fail the
            # query now; the checkpoint resumes at `start` under the new
            # schema on restart (SURVEY.md §7 hard-part 1).
            self._client.close()
            self._client = None
            raise
        # A list iterator: Spark copies the cached iterator per replay.
        return iter(batches), {"gtid": gtid}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[pa.RecordBatch]:
        """Deterministic replay for recovery: re-request from ``start``
        and stop after the last event of ``end``'s GTID (at-least-once
        semantics — the same GTID-resume replay the reference documents,
        cdc_connector.h:62-69)."""
        end_key = gtid_key(end.get("gtid", ""))
        client = self._connect(start.get("gtid", ""))
        try:
            # Bounded like read(): on a live table whose events keep
            # arriving faster than pollSeconds, an unbounded block would
            # keep collecting past ``end`` toward the line cap.
            while (
                blk := client.read_raw_block(
                    ARROW_BATCH_RECORDS, max_seconds=self._poll_seconds
                )
            ) is not None:
                block, n_lines = blk
                batch, _last = self._decoder.decode(block, n_lines, through=end_key)
                if batch.num_rows:
                    yield batch
                if batch.num_rows < n_lines:  # the stream passed ``end``
                    return
        finally:
            client.close()

    def stop(self) -> None:
        if self._client is not None:
            self._client.close()
            self._client = None


class MaxScaleCDCDataSource(DataSource):
    """Python DataSource wiring: name, schema inference, stream reader."""

    @classmethod
    def name(cls) -> str:
        return "maxscale_cdc"

    def schema(self) -> T.StructType:
        """Infer the stream schema from the server's schema record.

        A short-lived connection performs the handshake and reads the
        leading schema record (the server always sends it first,
        cdc_connector.cpp:214,237-248). Callers can skip the extra
        round-trip by passing the record JSON as option
        ``schemaRecord``.
        """
        import json as _json

        def finish(struct: T.StructType) -> T.StructType:
            # Multi-server discriminator (VERDICT r8 item 5): when any
            # stream carries ``sourceId`` (or the global option is set),
            # the partitioned reader stamps a ``_source_id`` column, so
            # the declared schema must carry it too.
            if "streams" in self.options and _source_id_active(self.options):
                return T.StructType(
                    [*struct.fields, T.StructField(SOURCE_ID_COL, T.StringType())]
                )
            return struct

        record = self.options.get("schemarecord")
        if record is not None:
            return finish(schema_record_to_struct(record))

        if "streams" in self.options:
            # Partitioned mode: all streams share one schema (shards of
            # one logical table); probe the first stream's leading
            # schema record.
            first = _json.loads(self.options["streams"])[0]
            host = first.get("host", self.options.get("host", "127.0.0.1"))
            port = int(first.get("port", self.options.get("port", 4001)))
            table = first["table"]
        else:
            host = self.options.get("host", "127.0.0.1")
            port = int(self.options.get("port", 4001))
            table = self.options["table"]
        with CDCClient(
            host=host,
            port=port,
            user=self.options.get("user", ""),
            password=self.options.get("password", ""),
            table=table,
            # The probe is pure handshake — connect() consumes the
            # leading schema record and exits. The +5.0 pad that lived
            # here pre-r10 was compensating for the poll/handshake
            # conflation the client has since dropped.
            timeout=float(self.options.get("pollseconds", DEFAULT_POLL_SECONDS)),
            handshake_timeout=(
                float(self.options["handshakeseconds"])
                if "handshakeseconds" in self.options
                else None
            ),
        ) as client:
            assert client.schema_record is not None
            return finish(schema_record_to_struct(client.schema_record))

    def streamReader(self, schema: T.StructType):
        """Partition-parallel reader (executor-side sockets), selected by
        the ``streams`` option; without it, raising NotImplemented makes
        Spark fall back to :meth:`simpleStreamReader` (the single-stream
        default matching the reference's session model)."""
        if "streams" in self.options:
            from maxscale_cdc_connector_spark.sources.cdc_partitioned import (
                CDCPartitionedStreamReader,
            )

            return CDCPartitionedStreamReader(schema, dict(self.options))
        return super().streamReader(schema)

    def simpleStreamReader(self, schema: T.StructType) -> CDCSimpleStreamReader:
        return CDCSimpleStreamReader(schema, dict(self.options))
