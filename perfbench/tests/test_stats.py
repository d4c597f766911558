"""Freshness attribution, percentiles and the reference state."""

import numpy as np
import pytest

import stats
from generator import payload


def progress(batch_id, end_offset, rows=0):
    return {"batchId": batch_id, "numInputRows": rows, "sources": [{"endOffset": end_offset}]}


def test_percentile_needs_ten_samples_beyond():
    assert stats.supported(100, 90)
    assert not stats.supported(99, 90)
    assert stats.supported(20, 50)
    assert not stats.supported(19, 50)
    with pytest.raises(ValueError):
        stats.percentile(range(99), 90)
    assert stats.percentile(range(101), 90) == pytest.approx(90.0)
    assert stats.percentile_or_none(range(50), 90) == (None, 50)


def test_offsets_parse_as_repr_or_json():
    assert stats.parse_offset("{'gtid': '0-1-7'}") == {"gtid": "0-1-7"}
    assert stats.parse_offset('{"gtid": "0-1-7"}') == {"gtid": "0-1-7"}
    assert stats.parse_offset({"gtid": "0-1-7"}) == {"gtid": "0-1-7"}


def test_single_socket_cursor_is_the_batch_own_end_offset():
    # Batch 0 delivers sequences 1..2, batch 1 delivers 3..5 (GTID granular).
    prog = [progress(0, "{'gtid': '0-1-2'}"), progress(1, "{'gtid': '0-1-5'}")]
    cursors = stats.delivered_cursors(prog, "single")
    seq = np.array([1, 2, 2, 3, 5, 6])
    evn = np.array([1, 1, 2, 1, 2, 1])
    vis = stats.visible_times(np.full(len(seq), ""), stats.event_code(seq, evn),
                              cursors, {0: 10.0, 1: 20.0})
    assert vis[:3].tolist() == [10.0, 10.0, 10.0]
    assert vis[3:5].tolist() == [20.0, 20.0]
    assert np.isnan(vis[5])


def test_frontier_cursor_is_the_next_batch_end_offset():
    def off(epoch, g0, e0, g1, e1):
        return repr({"epoch": epoch, "streams": {
            "s0": {"gtid": g0, "evn": e0}, "s1": {"gtid": g1, "evn": e1}}})

    # Batch 0 plans from nothing; its reads reach s0@(4,1) and s1@(3,2),
    # which only batch 1's endOffset shows. Batch 1 then reaches s0@(6,2).
    prog = [
        progress(0, off(1, "", -1, "", -1)),
        progress(1, off(2, "0-1-4", 1, "0-1-3", 2)),
        progress(2, off(3, "0-1-6", 2, "0-1-3", 2)),
    ]
    cursors = stats.delivered_cursors(prog, "frontier")
    assert set(cursors) == {0, 1}
    tables = np.array(["s0", "s0", "s0", "s1", "s0"])
    seq = np.array([1, 4, 4, 3, 6])
    evn = np.array([1, 1, 2, 2, 2])
    vis = stats.visible_times(tables, stats.event_code(seq, evn), cursors,
                              {0: 1.0, 1: 2.0, 2: 3.0})
    # (4, 2) split from its pair by the batch cap lands one batch later.
    assert vis.tolist() == [1.0, 1.0, 2.0, 1.0, 2.0]


def test_cursor_never_moves_back():
    prog = [progress(0, "{'gtid': '0-1-5'}"), progress(1, "{'gtid': '0-1-3'}")]
    vis = stats.visible_times(np.array([""]), stats.event_code([5], [2]),
                              stats.delivered_cursors(prog, "single"), {0: 1.0, 1: 2.0})
    assert vis.tolist() == [1.0]


def test_unknown_convention_is_refused():
    with pytest.raises(ValueError):
        stats.delivered_cursors([], "other")


def test_reference_state_keeps_latest_and_drops_deletes():
    seq = [1, 2, 2, 3, 4, 5, 5]
    evn = [1, 1, 2, 1, 1, 1, 2]
    key = [10, 10, 10, 11, 11, 12, 12]
    typ = [0, 1, 2, 0, 3, 1, 2]  # insert, update pair, insert, delete, update pair
    ref = stats.reference_state(seq, evn, key, typ)
    assert ref == {10: (2, 2), 12: (5, 2)}


def test_compare_state_reports_differences():
    from decimal import Decimal

    expected = {10: (2, 2), 12: (5, 2)}

    def row(k, s, e):
        name, bal, seg = payload(k, s)
        return (k, s, e, name, Decimal(bal), seg)

    assert stats.compare_state([row(10, 2, 2), row(12, 5, 2)], expected, payload) == []
    problems = stats.compare_state([row(10, 2, 1)], expected, payload)
    assert any("expected (2, 2)" in p for p in problems)
    assert any("missing" in p for p in problems)
