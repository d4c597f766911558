"""Pure result logic of the benchmark: percentiles, progress offsets,
visibility of events, and the reference state the outputs are checked
against. Nothing here touches Spark, so it is unit-tested directly."""

from __future__ import annotations

import ast
import json
import re
from collections.abc import Iterable, Mapping

import numpy as np

from generator import DELETE

MIN_BEYOND = 10
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Event codes order (sequence, event_number) within one GTID space;
# ``event_number`` is -1 (nothing of the GTID delivered yet), 1 or 2,
# and a GTID-only cursor covers every event of its GTID.
_EVN_SLOTS = 4
_GTID_ONLY = 2


def percentile(values: Iterable[float], q: float, min_beyond: int = MIN_BEYOND) -> float:
    """The ``q``-th percentile (0 < q < 100, linear interpolation), only
    when at least ``min_beyond`` samples lie beyond it; raises
    ``ValueError`` otherwise, so a tail is never reported from too few
    samples."""
    arr = np.asarray(list(values), dtype=np.float64)
    if not supported(len(arr), q, min_beyond):
        raise ValueError(
            f"p{q:g} needs at least {min_beyond} samples beyond it; have {len(arr)} samples"
        )
    return float(np.percentile(arr, q))


def supported(n: int, q: float, min_beyond: int = MIN_BEYOND) -> bool:
    """True when ``n`` samples leave ``min_beyond`` beyond the ``q``-th percentile."""
    return n * (100.0 - q) / 100.0 >= min_beyond


def percentile_or_none(values: Iterable[float], q: float) -> tuple[float | None, int]:
    """(percentile, sample count), the percentile ``None`` when the
    samples cannot support it."""
    arr = list(values)
    if not supported(len(arr), q):
        return None, len(arr)
    return percentile(arr, q), len(arr)


def parse_offset(text: str | Mapping) -> dict:
    """A source offset from a progress record. Python data sources report
    offsets as Python-repr strings (single quotes), JVM sources as JSON."""
    if isinstance(text, Mapping):
        return dict(text)
    try:
        return json.loads(text)
    except (TypeError, ValueError):
        return ast.literal_eval(text)


def _gtid_seq(gtid: str) -> int:
    return int(gtid.split("-")[2]) if gtid else -1


def event_code(seq, evn):
    """Total order over (sequence, event_number) as one integer."""
    return np.asarray(seq, dtype=np.int64) * _EVN_SLOTS + (np.asarray(evn, dtype=np.int64) + 1)


def cursor_code(gtid: str, evn: int | None) -> int:
    """Code of a delivered cursor: every event at or below it is delivered.
    ``evn=None`` is a GTID-only cursor (the single-socket reader)."""
    seq = _gtid_seq(gtid)
    if seq < 0:
        return -1
    return seq * _EVN_SLOTS + (_GTID_ONLY + 1 if evn is None else int(evn) + 1)


def delivered_cursors(progress: list[Mapping], convention: str) -> dict[int, dict[str, int]]:
    """``{batch_id: {table: cursor_code}}``: what each batch delivered.

    ``convention`` is ``"single"`` for the single-socket reader, whose
    batch ``endOffset`` is that batch's own last event (``{'gtid': g}``,
    keyed here as table ``""``), or ``"frontier"`` for the partitioned
    reader, whose ``endOffset`` folds the frontier files the *previous*
    batch's read tasks wrote, so the cursor a batch delivered appears in
    the next batch's ``endOffset``.
    """
    ends: dict[int, dict[str, int]] = {}
    for rec in progress:
        sources = rec.get("sources") or []
        if not sources or sources[0].get("endOffset") is None:
            continue
        off = parse_offset(sources[0]["endOffset"])
        if "streams" in off:
            cur = {t: cursor_code(s.get("gtid", ""), s.get("evn", -1)) for t, s in off["streams"].items()}
        else:
            cur = {"": cursor_code(off.get("gtid", ""), None)}
        ends[int(rec["batchId"])] = cur
    if convention == "single":
        return ends
    if convention != "frontier":
        raise ValueError(f"unknown cursor convention {convention!r}")
    return {b: ends[b + 1] for b in ends if b + 1 in ends}


def visible_times(
    tables: np.ndarray,
    codes: np.ndarray,
    cursors: Mapping[int, Mapping[str, int]],
    returns: Mapping[int, float],
) -> np.ndarray:
    """For each event (its table and event code), the return time of the
    first sink call whose batch delivered it; NaN when none did.

    ``tables`` holds table names (``""`` for the single-socket reader),
    ``returns`` maps batch id → time the SnapshotSink call returned.
    """
    out = np.full(len(codes), np.nan)
    batches = sorted(b for b in cursors if b in returns)
    if not batches:
        return out
    times = np.asarray([returns[b] for b in batches])
    for table in np.unique(tables):
        cur = np.asarray([cursors[b].get(table, -1) for b in batches], dtype=np.int64)
        cur = np.maximum.accumulate(cur)  # a cursor never moves back
        mask = tables == table
        idx = np.searchsorted(cur, codes[mask], side="left")
        hit = idx < len(cur)
        vis = np.full(mask.sum(), np.nan)
        vis[hit] = times[idx[hit]]
        out[mask] = vis
    return out


def reference_state(seq, evn, key, etype) -> dict[int, tuple[int, int]]:
    """Latest event per key by (sequence, event_number), deletes dropped:
    ``{key: (sequence, event_number)}``."""
    order = np.lexsort((np.asarray(evn), np.asarray(seq)))
    latest: dict[int, tuple[int, int, int]] = {}
    seq, evn, key, etype = (np.asarray(a)[order] for a in (seq, evn, key, etype))
    for s, e, k, t in zip(seq.tolist(), evn.tolist(), key.tolist(), etype.tolist()):
        latest[k] = (s, e, t)
    return {k: (s, e) for k, (s, e, t) in latest.items() if t != DELETE}


def compare_state(
    rows: Iterable[tuple], expected: Mapping[int, tuple[int, int]], payload
) -> list[str]:
    """Differences between snapshot rows ``(key, sequence, event_number,
    c_name, c_acctbal, c_mktsegment)`` and the reference; ``payload(key,
    sequence)`` gives the row image the generator wrote. Empty when equal."""
    problems: list[str] = []
    seen = set()
    for key, s, e, name, bal, seg in rows:
        if key in seen:
            problems.append(f"key {key} appears twice")
            continue
        seen.add(key)
        want = expected.get(key)
        if want is None:
            problems.append(f"key {key} present but deleted or never written")
        elif (s, e) != want:
            problems.append(f"key {key} at {(s, e)}, expected {want}")
        elif (name, f"{bal:.2f}", seg) != payload(key, s):
            problems.append(f"key {key} payload {(name, bal, seg)} != {payload(key, s)}")
        if len(problems) >= 5:
            break
    missing = set(expected) - seen
    if missing and len(problems) < 5:
        problems.append(f"{len(missing)} keys missing, e.g. {sorted(missing)[:3]}")
    return problems
