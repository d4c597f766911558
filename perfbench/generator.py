"""Seeded MaxScale CDC event generator and server, run as its own process.

One single-threaded ``selectors`` loop serves the CDC session protocol
(auth, ``REGISTER``, ``REQUEST-DATA db.table [gtid]``, leading schema
record, newline-JSON events) to at most a handful of connections, and
takes commands as JSON lines on stdin, answering each with one JSON line
on stdout. It is deliberately written against the protocol, not against
the client in ``sources/protocol.py``, so the benchmark checks the client.

Event mix (deterministic per seed): uniform keys over ``KEYS`` customers;
the first event of a key is an ``insert``; a live key is deleted with
probability ``P_DELETE`` per transaction (so ~5% of events are deletes),
otherwise updated with an ``update_before``/``update_after`` pair that
shares one GTID (``event_number`` 1 and 2). After a delete the next event
of the key is an insert again. Every table served shares one GTID space
(domain 0, server 1): sequences are unique across shards.

Each event carries ``created_us``, the wall-clock microsecond at which
the generator made it available to readers.

Commands (one JSON object per line):

* ``{"op": "backlog", "tables": [...], "events": n}``: generate ``n``
  events spread over the tables by ``key % len(tables)`` and hold them.
* ``{"op": "tail", "table": t, "rate": r}``: start an open loop that
  appends events to ``t`` at ``r`` events/s, scheduled from now.
* ``{"op": "stop_tail"}``: stop the open loop; reports lateness.
* ``{"op": "log", "table": t, "path": p}``: write the table's event log
  (sequence, event_number, key, type, created_us) to ``p`` as ``.npz``.
* ``{"op": "quit"}``.
"""

from __future__ import annotations

import hashlib
import json
import os
import selectors
import socket
import subprocess
import sys
import time
from bisect import bisect_left

import numpy as np

KEYS = 15_000
P_DELETE = 0.10
USER = "bench"
PASSWORD = "bench"
DOMAIN = 0
SERVER_ID = 1
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
TYPE_NAMES = ("insert", "update_before", "update_after", "delete")
INSERT, UPDATE_BEFORE, UPDATE_AFTER, DELETE = range(4)
SEND_CHUNK = 1 << 20
TICK_S = 0.002


def schema_record(table: str) -> dict:
    def field(name, real_type, avro="string"):
        return {"name": name, "type": avro, "real_type": real_type, "length": -1}

    return {
        "namespace": "MaxScaleChangeDataSchema.avro",
        "type": "record",
        "name": "ChangeRecord",
        "table": table,
        "fields": [
            field("domain", "int", "int"),
            field("server_id", "int", "int"),
            field("sequence", "bigint", "long"),
            field("event_number", "int", "int"),
            field("timestamp", "bigint", "long"),
            {
                "name": "event_type",
                "type": {"type": "enum", "name": "EVENT_TYPES", "symbols": list(TYPE_NAMES)},
                "real_type": "varchar",
                "length": 32,
            },
            field("c_custkey", "int", "int"),
            field("c_name", "varchar(25)"),
            field("c_acctbal", "decimal(12,2)"),
            field("c_mktsegment", "varchar(10)"),
            field("created_us", "bigint", "long"),
        ],
    }


def payload(key: int, sequence: int) -> tuple[str, str, str]:
    """(c_name, c_acctbal, c_mktsegment) of a row image, a pure function
    of the key and the GTID sequence that wrote it, so a reference state
    can be rebuilt from (key, sequence) alone."""
    cents = (key * 7919 + sequence * 104729) % 1_000_000 - 100_000
    sign = "-" if cents < 0 else ""
    cents = abs(cents)
    return f"Customer#{key:09d}", f"{sign}{cents // 100}.{cents % 100:02d}", SEGMENTS[sequence % 5]


def event_line(seq: int, evn: int, etype: int, key: int, created_us: int) -> bytes:
    name, bal, seg = payload(key, seq)
    return (
        f'{{"domain":{DOMAIN},"server_id":{SERVER_ID},"sequence":{seq},'
        f'"event_number":{evn},"timestamp":{created_us // 1_000_000},'
        f'"event_type":"{TYPE_NAMES[etype]}","c_custkey":{key},'
        f'"c_name":"{name}","c_acctbal":"{bal}","c_mktsegment":"{seg}",'
        f'"created_us":{created_us}}}\n'
    ).encode()


class EventSource:
    """The seeded transaction stream: yields (sequence, [(evn, type)], key)."""

    def __init__(self, seed: int) -> None:
        self._rng = np.random.default_rng(seed)
        self._alive = bytearray(KEYS + 1)
        self._seq = 0
        self._keys = np.empty(0, dtype=np.int64)
        self._draws = np.empty(0)
        self._i = 0

    def next_txn(self) -> tuple[int, tuple, int]:
        if self._i == len(self._keys):
            self._keys = self._rng.integers(1, KEYS + 1, size=65536)
            self._draws = self._rng.random(65536)
            self._i = 0
        key = int(self._keys[self._i])
        draw = self._draws[self._i]
        self._i += 1
        self._seq += 1
        if not self._alive[key]:
            self._alive[key] = 1
            return self._seq, ((1, INSERT),), key
        if draw < P_DELETE:
            self._alive[key] = 0
            return self._seq, ((1, DELETE),), key
        return self._seq, ((1, UPDATE_BEFORE), (2, UPDATE_AFTER)), key


class Table:
    """One table's served log: concatenated wire lines plus per-line
    envelope columns for resume lookups and the event log."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.schema_line = (json.dumps(schema_record(name)) + "\n").encode()
        self.data = bytearray()
        self.offsets: list[int] = []  # byte offset of each line
        self.seqs: list[int] = []
        self.evns: list[int] = []
        self.keys: list[int] = []
        self.types: list[int] = []
        self.created: list[int] = []

    def extend(self, events: list[tuple[int, int, int, int]], created_us: int) -> None:
        """Append many (seq, evn, type, key) events stamped ``created_us``."""
        lines = [event_line(s, e, t, k, created_us) for s, e, t, k in events]
        pos = len(self.data)
        for line in lines:
            self.offsets.append(pos)
            pos += len(line)
        self.data += b"".join(lines)
        for s, e, t, k in events:
            self.seqs.append(s)
            self.evns.append(e)
            self.types.append(t)
            self.keys.append(k)
        self.created.extend([created_us] * len(events))

    def resume_offset(self, gtid: str | None) -> int:
        """Byte offset of the first event at or after ``gtid``
        (inclusive: a resume replays the requested GTID's events)."""
        if not gtid:
            return 0
        _d, _s, q = (int(p) for p in gtid.split("-"))
        i = bisect_left(self.seqs, q)
        return self.offsets[i] if i < len(self.offsets) else len(self.data)

    def save(self, path: str) -> None:
        np.savez(
            path,
            sequence=np.asarray(self.seqs, dtype=np.int64),
            event_number=np.asarray(self.evns, dtype=np.int8),
            key=np.asarray(self.keys, dtype=np.int32),
            type=np.asarray(self.types, dtype=np.int8),
            created_us=np.asarray(self.created, dtype=np.int64),
        )


def expected_auth() -> bytes:
    return ((USER + ":").encode().hex() + hashlib.sha1(PASSWORD.encode()).hexdigest()).encode()


class Conn:
    def __init__(self, sock: socket.socket) -> None:
        self.sock = sock
        self.phase = "auth"
        self.inbuf = b""
        self.out = bytearray()  # handshake replies and the schema record
        self.table: Table | None = None
        self.sent = 0  # byte offset into table.data


class Server:
    def __init__(self, seed: int) -> None:
        self.source = EventSource(seed)
        self.tables: dict[str, Table] = {}
        self.sel = selectors.DefaultSelector()
        self.lsock = socket.create_server(("127.0.0.1", 0))
        self.lsock.setblocking(False)
        self.sel.register(self.lsock, selectors.EVENT_READ, "listen")
        self.sel.register(sys.stdin.fileno(), selectors.EVENT_READ, "stdin")
        self.stdin_buf = b""
        self.conns: list[Conn] = []
        self.tail: dict | None = None
        self.running = True

    # -- commands -----------------------------------------------------------

    def table(self, name: str) -> Table:
        if name not in self.tables:
            self.tables[name] = Table(name)
        return self.tables[name]

    def cmd_backlog(self, tables: list[str], events: int) -> dict:
        shards = [self.table(t) for t in tables]
        pending: list[list[tuple[int, int, int, int]]] = [[] for _ in shards]
        n = 0
        while n < events:
            seq, evs, key = self.source.next_txn()
            out = pending[key % len(shards)]
            for evn, etype in evs:
                out.append((seq, evn, etype, key))
            n += len(evs)
        now = int(time.time() * 1e6)
        for shard, evs in zip(shards, pending):
            shard.extend(evs, now)
            self.wake(shard)
        return {"events": n, "per_table": {t.name: len(t.seqs) for t in shards}}

    def cmd_tail(self, table: str, rate: float) -> dict:
        self.tail = {
            "table": self.table(table),
            "rate": float(rate),
            "t0": time.monotonic(),
            "emitted": 0,
            "late_ms": [],
        }
        return {"started": True}

    def cmd_stop_tail(self) -> dict:
        tail, self.tail = self.tail, None
        if tail is None:
            return {"emitted": 0, "late_ms_p99": 0.0, "late_ms_max": 0.0}
        late = np.asarray(tail["late_ms"] or [0.0])
        return {
            "emitted": tail["emitted"],
            "late_ms_p99": float(np.percentile(late, 99)),
            "late_ms_max": float(late.max()),
        }

    def handle_command(self, line: bytes) -> None:
        msg = json.loads(line)
        op = msg["op"]
        if op == "backlog":
            reply = self.cmd_backlog(msg["tables"], int(msg["events"]))
        elif op == "tail":
            reply = self.cmd_tail(msg["table"], msg["rate"])
        elif op == "stop_tail":
            reply = self.cmd_stop_tail()
        elif op == "log":
            self.table(msg["table"]).save(msg["path"])
            reply = {"saved": msg["path"]}
        elif op == "quit":
            self.running = False
            reply = {"bye": True}
        else:
            reply = {"error": f"unknown op {op!r}"}
        sys.stdout.write(json.dumps(reply) + "\n")
        sys.stdout.flush()

    # -- open loop ----------------------------------------------------------

    def emit_due(self) -> float:
        """Append every transaction due by now; return seconds to the next."""
        tail = self.tail
        if tail is None:
            return 1.0
        now = time.monotonic()
        wall_us = int(time.time() * 1e6)
        table: Table = tail["table"]
        rate = tail["rate"]
        due_events = []
        while True:
            due = tail["t0"] + tail["emitted"] / rate
            if due > now:
                break
            seq, evs, key = self.source.next_txn()
            due_events += [(seq, evn, etype, key) for evn, etype in evs]
            tail["late_ms"].append((now - due) * 1000.0)
            tail["emitted"] += len(evs)
        if due_events:
            table.extend(due_events, wall_us)
            self.wake(table)
        return max(0.0, min(TICK_S, tail["t0"] + tail["emitted"] / rate - time.monotonic()))

    # -- sockets ------------------------------------------------------------

    def wake(self, table: Table) -> None:
        for c in self.conns:
            if c.table is table:
                self.want_write(c)

    def pending(self, c: Conn) -> bool:
        return bool(c.out) or (c.table is not None and c.sent < len(c.table.data))

    def want_write(self, c: Conn) -> None:
        events = selectors.EVENT_READ | (selectors.EVENT_WRITE if self.pending(c) else 0)
        self.sel.modify(c.sock, events, c)

    def close(self, c: Conn) -> None:
        self.sel.unregister(c.sock)
        c.sock.close()
        self.conns.remove(c)

    def on_readable(self, c: Conn) -> None:
        try:
            chunk = c.sock.recv(65536)
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            self.close(c)
            return
        if not chunk:
            self.close(c)
            return
        c.inbuf += chunk
        if c.phase == "auth":
            want = expected_auth()
            if len(c.inbuf) < len(want):
                return
            ok = c.inbuf[: len(want)] == want
            c.inbuf = c.inbuf[len(want):]
            c.out += b"OK\n" if ok else b"ERR access denied\n"
            c.phase = "register" if ok else "closing"
        elif c.phase == "register":
            if not c.inbuf.startswith(b"REGISTER"):
                c.out += b"ERR bad registration\n"
                c.phase = "closing"
            else:
                c.inbuf = b""
                c.out += b"OK\n"
                c.phase = "request"
        elif c.phase == "request":
            parts = c.inbuf.decode("utf-8", "replace").split()
            c.inbuf = b""
            if len(parts) < 2 or parts[0] != "REQUEST-DATA" or parts[1] not in self.tables:
                c.out += b"ERR unknown table\n"
                c.phase = "closing"
            else:
                c.table = self.tables[parts[1]]
                c.out += c.table.schema_line
                c.sent = c.table.resume_offset(parts[2] if len(parts) > 2 else None)
                c.phase = "stream"
        else:  # stream: the only client message is CLOSE
            if c.inbuf.startswith(b"CLOSE"):
                self.close(c)
                return
            c.inbuf = b""
        self.want_write(c)

    def on_writable(self, c: Conn) -> None:
        try:
            if c.out:
                n = c.sock.send(c.out)
                del c.out[:n]
            elif c.table is not None and c.sent < len(c.table.data):
                data = c.table.data
                c.sent += c.sock.send(data[c.sent : c.sent + SEND_CHUNK])
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            self.close(c)
            return
        if c.phase == "closing" and not c.out:
            self.close(c)
            return
        self.want_write(c)

    def on_stdin(self) -> None:
        chunk = os.read(sys.stdin.fileno(), 65536)
        if not chunk:
            self.running = False
            return
        self.stdin_buf += chunk
        while b"\n" in self.stdin_buf:
            line, self.stdin_buf = self.stdin_buf.split(b"\n", 1)
            if line.strip():
                self.handle_command(line)

    def serve(self) -> None:
        sys.stdout.write(json.dumps({"port": self.lsock.getsockname()[1]}) + "\n")
        sys.stdout.flush()
        timeout = 1.0
        while self.running:
            for key, mask in self.sel.select(timeout):
                if key.data == "listen":
                    try:
                        sock, _ = self.lsock.accept()
                    except BlockingIOError:
                        continue
                    sock.setblocking(False)
                    c = Conn(sock)
                    self.conns.append(c)
                    self.sel.register(sock, selectors.EVENT_READ, c)
                elif key.data == "stdin":
                    self.on_stdin()
                else:
                    c = key.data
                    if mask & selectors.EVENT_READ and c in self.conns:
                        self.on_readable(c)
                    if mask & selectors.EVENT_WRITE and c in self.conns:
                        self.on_writable(c)
            timeout = self.emit_due()
        for c in list(self.conns):
            self.close(c)
        self.lsock.close()


def main() -> None:
    Server(int(sys.argv[1])).serve()


class GeneratorProcess:
    """The benchmark's handle on a generator process: start it, send
    commands, and stop it (waiting until it has exited)."""

    def __init__(self, seed: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.port = int(self._reply()["port"])

    def _reply(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"generator exited with code {self.proc.poll()}")
        return json.loads(line)

    def send(self, **msg) -> None:
        """Send a command without waiting; ``receive`` collects replies in order."""
        self.proc.stdin.write(json.dumps(msg) + "\n")
        self.proc.stdin.flush()

    def receive(self) -> dict:
        reply = self._reply()
        if "error" in reply:
            raise RuntimeError(f"generator: {reply['error']}")
        return reply

    def call(self, **msg) -> dict:
        self.send(**msg)
        return self.receive()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.call(op="quit")
                self.proc.wait(timeout=10)
            except (OSError, RuntimeError, ValueError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        for stream in (self.proc.stdin, self.proc.stdout):
            stream.close()

    def __enter__(self) -> GeneratorProcess:
        return self

    def __exit__(self, *exc: object) -> None:
        self.close()


if __name__ == "__main__":
    main()
