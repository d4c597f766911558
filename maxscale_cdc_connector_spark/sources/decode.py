"""Wire-decode core: framed CDC event lines → typed Arrow columns.

The reference turns each wire record into a row in one place
(``process_row``, cdc_connector.cpp:288-319); this module is that place
for both socket readers. Each reader frames raw newline-delimited JSON
with :meth:`CDCClient.read_raw_block` and hands the block to a
:class:`WireDecoder`, which returns one ``pyarrow.RecordBatch`` in the
query schema plus the ``(gtid, event_number)`` of its last row. The
Python DataSource API passes RecordBatches straight to the JVM, so rows
are never built or pickled one at a time.

A block takes the Arrow path (``pyarrow.json`` parses it columnar, then
each column is finalized with Arrow compute) unless pyarrow refuses it;
then it takes the exact per-record fallback (one ``json.loads`` per
line). Both paths run the same envelope and cursor checks on Arrow
arrays and raise the same :class:`CDCProtocolError` for the same input,
checked in this order:

1. a line that is not a JSON object: ``malformed CDC event line``;
2. a missing or null envelope field (``domain``, ``server_id``,
   ``sequence``, ``event_number``, in that order across the block):
   ``No value for key found: <field>``. ``nullMissingColumns`` does not
   relax this — the cursor cannot order a row without its envelope;
3. unless ``null_missing``, a record lacking a query column, checked
   column by column in schema order: the dense-row contract
   (cdc_connector.cpp:297-308).

The envelope is always parsed off the wire, whether or not the query
schema selects it, and projected away when it does not.

Naive DATETIME strings are UTC wall time on both paths: Arrow's string
cast and ``pa.array`` over naive ``datetime`` values never consult the
process timezone, the session pins ``spark.sql.session.timeZone=UTC``,
and file replay's ``from_json`` reads them the same way.
"""

from __future__ import annotations

import datetime
import decimal
import functools
import io
import itertools
import json
from collections.abc import Callable
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.json as pj
from pyspark.sql import types as T

from maxscale_cdc_connector_spark.sources.protocol import (
    CDCProtocolError,
    SchemaChangedError,
    is_schema_record,
)
from maxscale_cdc_connector_spark.streaming.ops import SOURCE_ID_COL
from maxscale_cdc_connector_spark.typemap import schema_record_to_struct

ENVELOPE = ("domain", "server_id", "sequence", "event_number")
# Sorts before every real cursor: a decode "after" it keeps every row.
NO_CURSOR = (-1, -1, -1, -1)
# Lines per framed block: large enough to amortize the fixed per-block
# costs (pyarrow.json reader setup, Arrow IPC to the JVM), small enough
# that a partly filled block is cheap — 65536 × ~120 B wire rows is
# ~8 MiB.
ARROW_BATCH_RECORDS = 65536
# PySpark workers export OMP_NUM_THREADS=1, which Arrow reads at init:
# a one-thread pool serializes the pyarrow.json block parser (~5× slower
# per 65k-line block). The pool is process-global, so this is a
# per-python-worker budget, never shrunk once raised — shrinking it
# under a concurrent task mid-decode would be worse.
ARROW_CPUS = 4

# Types the JSON wire carries as strings: parsed as strings, then cast.
_STRING_CARRIED = (T.DecimalType, T.DateType, T.TimestampType, T.BinaryType)


def gtid_key(gtid: str | None) -> tuple[int, int, int]:
    if not gtid:
        return (-1, -1, -1)
    d, s, q = gtid.split("-")
    return (int(d), int(s), int(q))


def cursor_key(gtid: str, evn: int) -> tuple[int, int, int, int]:
    """Total order over stream cursors: GTID triple, then event_number.

    ``evn == -1`` marks an INCLUSIVE cursor (a user-configured start
    GTID: deliver that GTID's events too), so it sorts before any
    delivered event of the same GTID.
    """
    return (*gtid_key(gtid), evn)


def _arrow_type(dt: T.DataType) -> pa.DataType:
    """Spark type → the Arrow type the JVM accepts for it."""
    if isinstance(dt, T.ByteType):
        return pa.int8()
    if isinstance(dt, T.ShortType):
        return pa.int16()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.DateType):
        return pa.date32()
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us")
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    return pa.string()


def _converter(dt: T.DataType) -> Callable[[Any], Any]:
    """JSON-native value → the Python value ``pa.array`` takes for
    ``_arrow_type(dt)``.

    The wire is JSON (registration is hardwired to TYPE=JSON,
    cdc_connector.cpp:37,45), so numbers/strings/bools/nulls arrive
    native and temporal/decimal types arrive as strings. Decimals are
    quantized HALF_UP to the declared scale, as the JVM's
    ``Decimal.changePrecision`` would; strings and anything exotic
    stringify non-null scalars — the typed analog of json_to_string
    (cdc_connector.cpp:80-115), except null stays null instead of "".
    """
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        conv: Callable[[Any], Any] = int
    elif isinstance(dt, (T.FloatType, T.DoubleType)):
        conv = float
    elif isinstance(dt, T.DecimalType):
        q = decimal.Decimal(1).scaleb(-dt.scale)

        def conv(v):
            return decimal.Decimal(str(v)).quantize(q, rounding=decimal.ROUND_HALF_UP)
    elif isinstance(dt, T.BooleanType):
        conv = bool
    elif isinstance(dt, T.DateType):
        conv = lambda v: datetime.date.fromisoformat(str(v))  # noqa: E731
    elif isinstance(dt, T.TimestampType):
        conv = lambda v: datetime.datetime.fromisoformat(str(v))  # noqa: E731
    elif isinstance(dt, T.BinaryType):
        conv = lambda v: v if isinstance(v, bytes) else str(v).encode()  # noqa: E731
    else:
        conv = lambda v: v if isinstance(v, str) else str(v)  # noqa: E731
    return lambda v: None if v is None else conv(v)


def _parse_line(line: bytes) -> dict[str, Any]:
    try:
        record = json.loads(line)
    except ValueError:
        record = None
    if not isinstance(record, dict):
        raise CDCProtocolError(f"malformed CDC event line: {line[:200]!r}")
    return record


def _find_schema_record(block: bytes) -> tuple[int, dict[str, Any]] | None:
    """The block's first mid-stream schema record (ALTER TABLE) and the
    byte offset its line starts at. One memchr-speed substring scan over
    the whole block; only a block containing the marker pays the line
    split, and only candidate lines pay a parse."""
    if b'"fields"' not in block:
        return None
    pos = 0
    for line in block.split(b"\n"):
        if b'"fields"' in line:
            record = _parse_line(line)
            if is_schema_record(record):
                return pos, record
        pos += len(line) + 1
    return None


def _passes(line: bytes, through: tuple) -> bool:
    """True when the event on ``line`` is past the ``through`` GTID."""
    record = _parse_line(line)
    try:
        return tuple(int(record[name]) for name in ENVELOPE[:3]) > through
    except (KeyError, TypeError, ValueError):
        return False


def _check_envelope(env: list) -> None:
    for name, col in zip(ENVELOPE, env):
        if col.null_count:
            raise CDCProtocolError(f"No value for key found: {name}")


def _envelope_column(records: list[dict[str, Any]], name: str) -> pa.Array:
    try:
        return pa.array([r.get(name) for r in records], type=pa.int64())
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
        raise CDCProtocolError(f"non-integer CDC envelope field: {name}") from None


def _lex_greater(cols: list, key: tuple[int, ...]):
    """Mask of rows whose envelope tuple sorts after ``key``."""
    gt = eq = None
    for col, k in zip(cols, key):
        above = pc.greater(col, k)
        gt = above if eq is None else pc.or_(gt, pc.and_(eq, above))
        same = pc.equal(col, k)
        eq = same if eq is None else pc.and_(eq, same)
    return gt


def _window(env: list, after: tuple, through: tuple | None):
    """Rows strictly after the ``after`` cursor and, when ``through``
    is given, at or before that GTID; ``None`` when every row stays."""
    keep = _lex_greater(env, after) if after > NO_CURSOR else None
    if through is not None:
        upto = pc.invert(_lex_greater(env[:3], through))
        keep = upto if keep is None else pc.and_(keep, upto)
    return keep


def _finalize(col: pa.ChunkedArray, dt: T.DataType, typ: pa.DataType, conv) -> pa.Array:
    col = col.combine_chunks()
    if col.type == typ:
        return col
    if isinstance(dt, T.DecimalType):
        # string→decimal128 is exact when every value already fits the
        # declared scale (the avrorouter emits DECIMAL(p,s) at its
        # scale); only a value needing a rescale makes the cast throw
        # and pays the per-value HALF_UP quantize.
        try:
            return pc.cast(col, typ)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            return pa.array([conv(v) for v in col.to_pylist()], type=typ)
    return pc.cast(col, typ)


class WireDecoder:
    """Decodes framed wire blocks into RecordBatches of one query schema.

    ``source_id`` (partitioned multi-server ingest) is never decoded off
    the wire: the query schema's trailing ``_source_id`` column is
    stamped with it as a constant.
    """

    def __init__(
        self,
        schema: T.StructType,
        null_missing: bool = False,
        source_id: str | None = None,
    ) -> None:
        if pa.cpu_count() < ARROW_CPUS:
            pa.set_cpu_count(ARROW_CPUS)
        self._fields = [
            f
            for f in schema.fields
            if not (source_id is not None and f.name == SOURCE_ID_COL)
        ]
        self._null_missing = null_missing
        self._names = [f.name for f in self._fields]
        self._types = [_arrow_type(f.dataType) for f in self._fields]
        self._convs = [_converter(f.dataType) for f in self._fields]
        out = [pa.field(n, t) for n, t in zip(self._names, self._types)]
        self._source_id = None
        if source_id is not None:
            out.append(pa.field(SOURCE_ID_COL, pa.string()))
            self._source_id = pa.scalar(source_id, type=pa.string())
        self.schema = pa.schema(out)
        # Envelope fields the query omits still parse (as int64): the
        # cursor window always runs off the wire.
        wire = {name: pa.int64() for name in ENVELOPE}
        for f, typ in zip(self._fields, self._types):
            wire[f.name] = pa.string() if isinstance(f.dataType, _STRING_CARRIED) else typ
        self._parse = pj.ParseOptions(
            explicit_schema=pa.schema(list(wire.items())),
            unexpected_field_behavior="ignore",
        )

    def check_schema(self, schema_record: dict[str, Any]) -> None:
        """:class:`SchemaChangedError` when the server's leading schema
        record differs from the query schema. The avrorouter announces
        the CURRENT schema on connect (cdc_connector.cpp:214), so this is
        how an ALTER that landed while the reader was disconnected, or
        between two of its connections, is seen."""
        live = schema_record_to_struct(schema_record).fields
        if [(f.name, f.dataType) for f in live] != [
            (f.name, f.dataType) for f in self._fields
        ]:
            raise SchemaChangedError(schema_record)

    def decode(
        self,
        block: bytes,
        n_lines: int,
        *,
        after: tuple = NO_CURSOR,
        through: tuple | None = None,
        limit: int | None = None,
    ) -> tuple[pa.RecordBatch, tuple[str, int] | None]:
        """One framed block of ``n_lines`` lines → ``(batch, last)``.

        Keeps the rows whose ``(domain, server_id, sequence,
        event_number)`` sorts after ``after`` and, with ``through``
        given, whose GTID is at or before it; then the first ``limit``
        of those. ``last`` is the kept rows' final ``(gtid,
        event_number)``, ``None`` when none are kept.
        """
        found = _find_schema_record(block)
        if found is not None:
            pos, record = found
            # A replay bounded by ``through`` stops at the first event
            # past it, so a schema record after that event is never
            # reached: decode the lines before it instead.
            head = block[: max(pos - 1, 0)]
            if through is None or not head or not _passes(
                head[head.rfind(b"\n") + 1 :], through
            ):
                raise SchemaChangedError(record)
            block, n_lines = head, head.count(b"\n") + 1
        try:
            return self.decode_arrow(block, n_lines, after, through, limit)
        except pa.ArrowInvalid:  # pyarrow declined the block
            return self.decode_records(block, after, through, limit)

    def decode_arrow(
        self,
        block: bytes,
        n_lines: int,
        after: tuple = NO_CURSOR,
        through: tuple | None = None,
        limit: int | None = None,
    ) -> tuple[pa.RecordBatch, tuple[str, int] | None]:
        """The columnar path. Raises ``pyarrow.ArrowInvalid`` to decline
        a block it cannot decode exactly: one pyarrow cannot parse one
        row per line, or a value a cast refuses."""
        tbl = pj.read_json(io.BytesIO(block), parse_options=self._parse)
        if tbl.num_rows != n_lines:  # e.g. two objects on one line
            raise pa.ArrowInvalid(f"{tbl.num_rows} rows parsed from {n_lines} lines")
        _check_envelope([tbl.column(name) for name in ENVELOPE])
        if not self._null_missing:
            # pyarrow.json nulls both JSON nulls and MISSING keys; only
            # rows holding some null pay a parse to tell them apart.
            nulls = [
                pc.is_null(tbl.column(name))
                for name in self._names
                if tbl.column(name).null_count
            ]
            if nulls:
                lines = block.split(b"\n")
                rows = pc.indices_nonzero(functools.reduce(pc.or_, nulls))
                self._check_dense([_parse_line(lines[i]) for i in rows.to_pylist()])
        keep = _window([tbl.column(name) for name in ENVELOPE], after, through)
        if keep is not None:
            tbl = tbl.filter(keep)
        if limit is not None:
            tbl = tbl.slice(0, limit)
        cols = [
            _finalize(tbl.column(f.name), f.dataType, typ, conv)
            for f, typ, conv in zip(self._fields, self._types, self._convs)
        ]
        return self._emit(cols, [tbl.column(name) for name in ENVELOPE])

    def decode_records(
        self,
        block: bytes,
        after: tuple = NO_CURSOR,
        through: tuple | None = None,
        limit: int | None = None,
    ) -> tuple[pa.RecordBatch, tuple[str, int] | None]:
        """The exact per-record fallback: one ``json.loads`` per line,
        the same result and the same errors as :meth:`decode_arrow`."""
        records = [_parse_line(line) for line in block.split(b"\n")]
        env = [_envelope_column(records, name) for name in ENVELOPE]
        _check_envelope(env)
        if not self._null_missing:
            self._check_dense(records)
        keep = _window(env, after, through)
        if keep is not None:
            records = list(itertools.compress(records, keep.to_pylist()))
            env = [col.filter(keep) for col in env]
        if limit is not None:
            records = records[:limit]
            env = [col.slice(0, limit) for col in env]
        cols = [
            pa.array([conv(r.get(name)) for r in records], type=typ)
            for name, typ, conv in zip(self._names, self._types, self._convs)
        ]
        return self._emit(cols, env)

    def _check_dense(self, records: list[dict[str, Any]]) -> None:
        for name in self._names:
            if any(name not in r for r in records):
                raise CDCProtocolError(f"No value for key found: {name}")

    def _emit(
        self, cols: list[pa.Array], env: list
    ) -> tuple[pa.RecordBatch, tuple[str, int] | None]:
        n = len(env[0])
        if self._source_id is not None:
            cols = [*cols, pa.repeat(self._source_id, n)]
        batch = pa.RecordBatch.from_arrays(cols, schema=self.schema)
        if n == 0:
            return batch, None
        d, s, q, e = (col[n - 1].as_py() for col in env)
        return batch, (f"{d}-{s}-{q}", e)
