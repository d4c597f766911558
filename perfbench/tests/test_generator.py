"""The generator: deterministic per seed, and a CDC server that replays
from a requested GTID inclusively."""

import os

import numpy as np

from generator import DELETE, INSERT, KEYS, GeneratorProcess
from maxscale_cdc_connector_spark.sources.protocol import CDCClient

TABLES = ["bench.a", "bench.b"]


def backlog_log(seed, tmp_path, events=3000):
    with GeneratorProcess(seed) as gen:
        gen.call(op="backlog", tables=TABLES, events=events)
        logs = []
        for t in TABLES:
            path = os.path.join(tmp_path, f"{seed}-{t}.npz")
            gen.call(op="log", table=t, path=path)
            with np.load(path) as z:
                logs.append({k: z[k] for k in ("sequence", "event_number", "key", "type")})
    return logs


def test_same_seed_same_events(tmp_path):
    a = backlog_log(7, tmp_path)
    b = backlog_log(7, tmp_path)
    c = backlog_log(8, tmp_path)
    for la, lb in zip(a, b):
        for k in la:
            assert np.array_equal(la[k], lb[k])
    assert not np.array_equal(a[0]["key"], c[0]["key"])


def test_event_mix(tmp_path):
    logs = backlog_log(3, tmp_path, events=40_000)
    seq = np.concatenate([lg["sequence"] for lg in logs])
    key = np.concatenate([lg["key"] for lg in logs])
    typ = np.concatenate([lg["type"] for lg in logs])
    evn = np.concatenate([lg["event_number"] for lg in logs])
    # One GTID space: a sequence is never reused across shards, except by
    # the two halves of an update pair.
    _, counts = np.unique(seq, return_counts=True)
    assert counts.max() <= 2
    assert set(np.unique(evn)) == {1, 2}
    assert ((typ == 2) == (evn == 2)).all()  # event_number 2 is the update_after
    assert 0.03 < (typ == DELETE).mean() < 0.07
    assert key.min() >= 1 and key.max() <= KEYS
    # Shards split keys: key % shards picks the table.
    for i, lg in enumerate(logs):
        assert (lg["key"] % len(TABLES) == i).all()
    # The first event of every key is an insert.
    order = np.argsort(seq, kind="stable")
    first = {}
    for k, t in zip(key[order].tolist(), typ[order].tolist()):
        first.setdefault(k, t)
    assert set(first.values()) == {INSERT}


def test_replay_from_gtid_is_inclusive():
    with GeneratorProcess(5) as gen:
        gen.call(op="backlog", tables=TABLES, events=2000)
        with CDCClient("127.0.0.1", gen.port, "bench", "bench", TABLES[0], timeout=0.3) as c:
            records = []
            while (r := c.read_record()) is not None:
                records.append(r)
        pair = next(r for r in records if r["event_number"] == 2)
        gtid = f"0-1-{pair['sequence']}"
        with CDCClient("127.0.0.1", gen.port, "bench", "bench", TABLES[0], gtid=gtid,
                       timeout=0.3) as c:
            first, second = c.read_record(), c.read_record()
    assert (first["sequence"], first["event_number"]) == (pair["sequence"], 1)
    assert (second["sequence"], second["event_number"]) == (pair["sequence"], 2)
    assert first["event_type"] == "update_before" and second["event_type"] == "update_after"


def test_wrong_credentials_are_refused():
    import pytest

    from maxscale_cdc_connector_spark.sources.protocol import CDCProtocolError

    with GeneratorProcess(1) as gen:
        gen.call(op="backlog", tables=TABLES, events=10)
        with pytest.raises(CDCProtocolError):
            CDCClient("127.0.0.1", gen.port, "bench", "wrong", TABLES[0], timeout=0.3).connect()
