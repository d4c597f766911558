"""The CDC workloads: ``tail`` (open loop, single-socket reader) and
``catchup`` (closed loop, partitioned reader draining a backlog).

Both drive the system only through its public surfaces: the
``maxscale_cdc`` source, ``streaming.ops.SnapshotSink`` behind a timing
``foreachBatch`` wrapper, and ``SnapshotSink.snapshot()`` for reads.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

import stats
from generator import USER, PASSWORD, payload
from spans import StatusStore, Trace, covered_s

TAIL_TABLE = "bench.tail"
TAIL_RATE = 2000  # events/s offered by the open loop
TAIL_WARMUP_BATCHES = 3  # triggers excluded from every tail metric
TAIL_SEED_EVENTS = 2000  # backlog the first (cold) trigger drains
WARM_EVENTS = 40_000  # catch-up warm-up round, over all shards
SHARDS = 4
BACKLOG_EVENTS = 400_000  # per catch-up round, over all shards
# maxRecordsPerBatch as a share of a shard's backlog: two full batches
# drain a round; the margin absorbs the key-hash imbalance between shards.
BATCH_SHARE = 0.52
READ_PERIOD_S = 2.0
READ_RETRIES = 3
READ_PROBES = 5  # traced catch-up runs: reads of the finished table
DRAIN_TIMEOUT_S = 40.0
N_BUCKETS = 16
KEY = "c_custkey"
RETRYABLE = ("FILE_NOT_EXIST", "PATH_NOT_FOUND", "FileNotFoundException", "does not exist")


@dataclass
class Context:
    spark: object
    gen: object  # generator.GeneratorProcess
    work: str
    seconds: float
    trace: Trace
    t_start: float  # process start, wall clock
    smoke: bool = False
    marks: dict = field(default_factory=dict)  # set-up phase → seconds since start

    def mark(self, name: str) -> None:
        self.marks[name] = time.time() - self.t_start


@dataclass
class Outcome:
    """What one workload run measured; ``run.py`` turns it into the result."""

    setup_s: float
    samples_ms: np.ndarray  # freshness of every measured event
    events_per_s: float
    attempted: int
    failed: int
    problems: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


class TimedSink:
    """The ``foreachBatch`` function: times each ``SnapshotSink`` call and,
    when tracing, tags the call's Spark jobs with a per-batch job group."""

    def __init__(self, sink, tag: str, traced: bool) -> None:
        self.sink = sink
        self.tag = tag
        self.traced = traced
        self._lock = threading.Lock()
        self._calls: dict[int, tuple[float, float]] = {}

    def __call__(self, batch, batch_id: int) -> None:
        if self.traced:
            batch.sparkSession.sparkContext.setJobGroup(
                f"{self.tag}-sink-{batch_id}", "SnapshotSink", False)
        t0 = time.time()
        self.sink(batch, batch_id)
        t1 = time.time()
        with self._lock:
            self._calls[batch_id] = (t0, t1)

    def calls(self) -> dict[int, tuple[float, float]]:
        with self._lock:
            return dict(self._calls)


class SnapshotReader(threading.Thread):
    """Open-loop reader: one ``snapshot()`` aggregate every period, timed
    from its due time. A read that races a bucket swap is retried, as the
    sink's docstring asks; a read due before any snapshot exists is
    skipped, not counted."""

    def __init__(self, spark, sink, period: float = READ_PERIOD_S) -> None:
        super().__init__(daemon=True)
        self.spark = spark
        self.sink = sink
        self.period = period
        self.reads: list[dict] = []
        self._halt = threading.Event()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=120)
        if self.is_alive():
            raise RuntimeError("snapshot reader did not stop")

    def _read_once(self) -> None:
        from pyspark.sql import functions as F

        (self.sink.snapshot(self.spark).groupBy("c_mktsegment")
         .agg(F.count("*"), F.sum("c_acctbal")).collect())

    def run(self) -> None:
        due = time.time()
        while not self._halt.wait(max(0.0, due - time.time())):
            read = self.read(due)
            if read is not None:
                self.reads.append(read)
            due += self.period

    def read(self, due: float) -> dict | None:
        """One read due at ``due``, retried on a swap race; ``None`` when
        there is nothing to read yet."""
        read = {"due": due, "attempts": 0, "ok": False, "error": None}
        while read["attempts"] <= READ_RETRIES:
            read["attempts"] += 1
            read["start"] = time.time()
            try:
                self._read_once()
                read["ok"] = True
                break
            except FileNotFoundError:
                return None  # snapshot() before the first bucket swap: nothing to read yet
            except Exception as exc:  # noqa: BLE001 - the reader outlives failed reads; counted
                read["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
                if not any(m in str(exc) for m in RETRYABLE):
                    break
        read["end"] = time.time()
        return read


def source_options(port: int) -> dict:
    return {"host": "127.0.0.1", "port": str(port), "user": USER, "password": PASSWORD}


def start_query(spark, options: dict, sink: TimedSink, checkpoint: str):
    reader = spark.readStream.format("maxscale_cdc")
    for k, v in options.items():
        reader = reader.option(k, v)
    return (reader.load().writeStream.foreachBatch(sink)
            .trigger(processingTime="0 seconds")
            .option("checkpointLocation", checkpoint).start())


def load_log(ctx: Context, table: str) -> dict[str, np.ndarray]:
    path = os.path.join(ctx.work, table.replace(".", "_") + ".npz")
    ctx.gen.call(op="log", table=table, path=path)
    with np.load(path) as z:
        return {k: z[k] for k in z.files}


def merge_logs(logs: list[dict]) -> dict[str, np.ndarray]:
    return {k: np.concatenate([log[k] for log in logs]) for k in logs[0]}


def check_snapshot(spark, sink, log: dict) -> list[str]:
    rows = (sink.snapshot(spark)
            .select(KEY, "sequence", "event_number", "c_name", "c_acctbal", "c_mktsegment")
            .collect())
    expected = stats.reference_state(log["sequence"], log["event_number"], log["key"], log["type"])
    return stats.compare_state([tuple(r) for r in rows], expected, payload)


def wait_delivered(query, convention: str, last_codes: dict[str, int], timeout: float) -> bool:
    """Poll progress until every table's delivered cursor covers its last
    event code; False on timeout."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        cursors = stats.delivered_cursors(query.recentProgress, convention).values()
        if cursors and all(max(c.get(t, -1) for c in cursors) >= code
                           for t, code in last_codes.items()):
            return True
        time.sleep(0.05)
    return False


def wait_calls(query, sink: TimedSink, n: int) -> None:
    while len(sink.calls()) < n:
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        time.sleep(0.02)


def last_codes(log: dict, tables: np.ndarray) -> dict[str, int]:
    codes = stats.event_code(log["sequence"], log["event_number"])
    return {t: int(codes[tables == t].max()) for t in np.unique(tables)}


def drain_round(ctx: Context, tag: str, options: dict, log: dict, tables: np.ndarray) -> dict:
    """Run one fresh partitioned-reader query over a backlog until all of
    it is visible."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    base = os.path.join(ctx.work, tag)
    sink = TimedSink(SnapshotSink(os.path.join(base, "sink"), [KEY], N_BUCKETS),
                     tag, ctx.trace.enabled)
    t0 = time.time()
    query = start_query(ctx.spark, {**options, "frontierDir": os.path.join(base, "frontier")},
                        sink, os.path.join(base, "ckpt"))
    try:
        if not wait_delivered(query, "frontier", last_codes(log, tables), DRAIN_TIMEOUT_S):
            raise RuntimeError(f"{tag}: backlog not delivered within {DRAIN_TIMEOUT_S} s")
        progress = list(query.recentProgress)
    finally:
        query.stop()
    vis = visible(log, tables, progress, "frontier", sink.calls())
    return {"tag": tag, "t0": t0, "sink": sink, "progress": progress, "visible": vis}


def visible(log: dict, tables: np.ndarray, progress: list, convention: str,
            calls: dict) -> np.ndarray:
    codes = stats.event_code(log["sequence"], log["event_number"])
    cursors = stats.delivered_cursors(progress, convention)
    returns = {b: t1 for b, (_t0, t1) in calls.items()}
    return stats.visible_times(tables, codes, cursors, returns)


# -- tail ---------------------------------------------------------------------


def run_tail(ctx: Context) -> Outcome:
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    single = {**source_options(ctx.gen.port), "pollSeconds": "0.5", "maxBatchSeconds": "1"}
    # The first trigger compiles and starts everything cold; it drains the
    # small backlog ``backlogs()`` seeded, and the open loop starts once it
    # returns, so the cold trigger's duration does not pile up as a backlog
    # that the measured triggers would still be working off.
    sink = TimedSink(SnapshotSink(os.path.join(ctx.work, "tail", "sink"), [KEY], N_BUCKETS),
                     "tail", ctx.trace.enabled)
    query = start_query(ctx.spark, {**single, "table": TAIL_TABLE}, sink,
                        os.path.join(ctx.work, "tail", "ckpt"))
    reader = SnapshotReader(ctx.spark, sink.sink)
    try:
        wait_calls(query, sink, 1)
        ctx.mark("cold_trigger_done")
        ctx.gen.call(op="tail", table=TAIL_TABLE, rate=TAIL_RATE)
        wait_calls(query, sink, TAIL_WARMUP_BATCHES)
        calls = sink.calls()
        window_start = max(t1 for _t0, t1 in calls.values())
        warm_batches = set(calls)
        reader.start()
        time.sleep(max(0.0, window_start + ctx.seconds - time.time()))
        window_end = time.time()
        stopped = ctx.gen.call(op="stop_tail")
        log = load_log(ctx, TAIL_TABLE)
        tables = np.full(len(log["sequence"]), "")
        drained = wait_delivered(query, "single", last_codes(log, tables), DRAIN_TIMEOUT_S)
        reader.stop()
        progress = list(query.recentProgress)
    finally:
        if reader.is_alive():
            reader.stop()
        query.stop()
    calls = sink.calls()

    created = log["created_us"] / 1e6
    in_window = (created >= window_start) & (created < window_end)
    vis = visible(log, tables, progress, "single", calls)[in_window]
    fresh_ms = (vis - created[in_window]) * 1000.0
    lost = int(np.isnan(fresh_ms).sum())

    measured = [b for b, (_t0, t1) in calls.items() if b not in warm_batches and t1 <= window_end]
    rows = {int(p["batchId"]): int(p["numInputRows"]) for p in progress}
    span = max((calls[b][1] for b in measured), default=window_start) - window_start
    events_per_s = sum(rows.get(b, 0) for b in measured) / span if span > 0 else 0.0

    problems = check_snapshot(ctx.spark, sink.sink, log)
    if not drained:
        problems.append(f"{lost} window events not visible {DRAIN_TIMEOUT_S} s after the generator stopped")
    reads = reader.reads
    read_failed = sum(not r["ok"] for r in reads)
    out = Outcome(
        setup_s=window_start - ctx.t_start,
        samples_ms=fresh_ms[~np.isnan(fresh_ms)],
        events_per_s=events_per_s,
        attempted=int(in_window.sum()) + len(reads),
        failed=lost + read_failed,
        problems=problems,
    )
    out.detail = {
        "setup_marks_s": ctx.marks,
        "window_s": window_end - window_start,
        "window_events": int(in_window.sum()),
        "batches_measured": len(measured),
        "trigger_ms": [p["durationMs"].get("triggerExecution") for p in progress],
        "generator": stopped,
        **read_detail(reads),
    }
    if ctx.trace.enabled:
        batches = sorted(measured)
        out.layers = stream_layers(ctx, [("tail", progress, sink, batches)], reads)
    return out


# -- catchup ------------------------------------------------------------------


SHARD_TABLES = [f"bench.shard_{i}" for i in range(SHARDS)]
WARM_TABLES = [f"bench.warm_{i}" for i in range(SHARDS)]


def backlogs(workload: str, smoke: bool) -> list[tuple[list[str], int]]:
    """The backlogs, as (tables, events), that the generator builds while
    the Spark session starts."""
    if workload == "tail":
        return [([TAIL_TABLE], TAIL_SEED_EVENTS)]
    scale = 20 if smoke else 1
    return [(WARM_TABLES, WARM_EVENTS // scale), (SHARD_TABLES, BACKLOG_EVENTS // scale)]


def run_catchup(ctx: Context) -> Outcome:
    shards, warm = SHARD_TABLES, WARM_TABLES
    options = {
        **source_options(ctx.gen.port),
        "pollSeconds": "0.5",
        "maxRecordsPerBatch": str(int(backlogs("catchup", ctx.smoke)[1][1] / SHARDS * BATCH_SHARE)),
    }

    def backlog(tables: list[str]):
        logs = [load_log(ctx, t) for t in tables]
        names = np.concatenate([np.full(len(lg["sequence"]), t) for t, lg in zip(tables, logs)])
        return merge_logs(logs), names

    warm_log, warm_tables = backlog(warm)
    log, tables = backlog(shards)
    streams = lambda ts: {**options, "streams": json.dumps([{"table": t} for t in ts])}  # noqa: E731

    ctx.mark("warm_start")
    drain_round(ctx, "warm", streams(warm), warm_log, warm_tables)
    ctx.mark("warm_done")
    rounds = []
    window_start = time.time()
    # Closed loop: another round only if it is expected to end inside the
    # measured seconds (the last round's length predicts the next).
    while not rounds or (time.time() - window_start
                         + time.time() - rounds[-1]["t0"] <= ctx.seconds):
        rounds.append(drain_round(ctx, f"round{len(rounds)}", streams(shards), log, tables))

    samples, drains, lost, problems = [], [], 0, []
    for rnd in rounds:
        vis = rnd["visible"]
        lost += int(np.isnan(vis).sum())
        ms = (vis - rnd["t0"]) * 1000.0
        samples.append(ms[~np.isnan(ms)])
        drains.append(float(np.nanmax(vis) - rnd["t0"]))
        problems += [f"{rnd['tag']}: {p}" for p in check_snapshot(ctx.spark, rnd["sink"].sink, log)]
    out = Outcome(
        setup_s=window_start - ctx.t_start,
        samples_ms=np.concatenate(samples),
        events_per_s=len(rounds) * len(log["sequence"]) / sum(drains),
        attempted=len(rounds) * len(log["sequence"]),
        failed=lost,
        problems=problems,
    )
    out.detail = {
        "setup_marks_s": ctx.marks,
        "rounds": len(rounds),
        "backlog_events": int(len(log["sequence"])),
        "round_drain_s": drains,
    }
    if ctx.trace.enabled:
        # No reader races the catch-up, so the read metrics come from
        # reads of the finished table: service time only.
        reader = SnapshotReader(ctx.spark, rounds[-1]["sink"].sink)
        reads = [reader.read(time.time()) for _ in range(READ_PROBES)]
        out.layers = stream_layers(
            ctx, [(r["tag"], r["progress"], r["sink"], sorted(r["sink"].calls())) for r in rounds], reads)
    return out


# -- reporting ----------------------------------------------------------------


def read_detail(reads: list[dict]) -> dict:
    lat = [(r["end"] - r["due"]) * 1000.0 for r in reads if r["ok"]]
    p50, n = stats.percentile_or_none(lat, 50)
    p90, _ = stats.percentile_or_none(lat, 90)
    return {
        "reads": len(reads),
        "read_p50_ms": p50,
        "read_p90_ms": p90,
        "read_failed_ratio": (sum(not r["ok"] for r in reads) / len(reads)) if reads else 0.0,
        "read_samples": n,
    }


def _median(values) -> float:
    values = [v for v in values if v is not None]
    return float(np.median(values)) if values else 0.0


def _mean(values) -> float:
    return float(np.mean(values)) if values else 0.0


def stream_layers(ctx: Context, queries: list, reads: list[dict]) -> dict:
    """Per-layer metrics of the streaming stack for the measured batches,
    from progress ``durationMs``, the sink wrapper and the status store;
    records the matching spans."""
    store = StatusStore(ctx.spark)
    trace = ctx.trace
    phases = ("triggerExecution", "latestOffset", "queryPlanning", "addBatch",
              "walCommit", "commitOffsets")
    per_phase = {p: [] for p in phases}
    rows, call_ms, jobs, cpu, shuffle = [], [], [], [], []
    sink_driver_ms = []
    for tag, progress, sink, batches in queries:
        groups = store.groups(f"{tag}-sink-")
        calls = sink.calls()
        by_batch = {int(p["batchId"]): p for p in progress}
        for b in batches:
            p = by_batch.get(b)
            if p is None or b not in calls:
                continue
            dur = p["durationMs"]
            for ph in phases:
                per_phase[ph].append(dur.get(ph, 0))
            rows.append(p["numInputRows"])
            t0, t1 = calls[b]
            call_ms.append((t1 - t0) * 1000.0)
            g = groups.get(f"{tag}-sink-{b}", {"jobs": 0, "executor_cpu_ms": 0.0,
                                                "shuffle_write_bytes": 0, "job_spans": []})
            jobs.append(g["jobs"])
            cpu.append(g["executor_cpu_ms"])
            shuffle.append(g["shuffle_write_bytes"])
            sink_driver_ms.append((t1 - t0 - covered_s(g["job_spans"], t0, t1)) * 1000.0)
            start = datetime.fromisoformat(p["timestamp"]).timestamp()
            trig = trace.add("microbatch.trigger", start, start + dur.get("triggerExecution", 0) / 1000.0,
                             f"{tag}-batch-{b}", rows=p["numInputRows"],
                             **{f"{ph}_ms": dur.get(ph, 0) for ph in phases})
            call = trace.add("snapshot_sink.call", t0, t1, f"{tag}-batch-{b}", trig)
            for s, e, jid in g["job_spans"]:
                trace.add("spark.job", s, e, f"{tag}-batch-{b}", call, job_id=jid)
    for i, r in enumerate(reads):
        rid = trace.add("snapshot_sink.read", r["due"], r["end"], f"read-{i}",
                        attempts=r["attempts"], ok=r["ok"])
        trace.add("snapshot_sink.read_attempt", r["start"], r["end"], f"read-{i}", rid)
    sink_dir = os.path.join(ctx.work, queries[-1][0], "sink")
    state_bytes = state_files = 0
    for dirpath, _dirs, files in os.walk(sink_dir):
        for f in files:
            if f.endswith(".parquet"):
                state_files += 1
                state_bytes += os.path.getsize(os.path.join(dirpath, f))
    ok_reads = [r for r in reads if r["ok"]]
    attempts = sum(r["attempts"] for r in reads)
    return {
        "microbatch.batches": len(rows),
        # Progress phases are whole milliseconds; the mean keeps the
        # digits a median of a few small integers would lose.
        "microbatch.trigger_ms": _mean(per_phase["triggerExecution"]),
        "microbatch.latest_offset_ms": _mean(per_phase["latestOffset"]),
        "microbatch.query_planning_ms": _mean(per_phase["queryPlanning"]),
        "microbatch.add_batch_ms": _mean(per_phase["addBatch"]),
        "microbatch.wal_commit_ms": _mean(per_phase["walCommit"]),
        "microbatch.commit_offsets_ms": _mean(per_phase["commitOffsets"]),
        "microbatch.rows_per_batch": _median(rows),
        "snapshot_sink.call_ms": _median(call_ms),
        "snapshot_sink.driver_ms": _median(sink_driver_ms),
        "snapshot_sink.jobs_per_batch": _median(jobs),
        "snapshot_sink.executor_cpu_ms_per_batch": _median(cpu),
        "snapshot_sink.shuffle_bytes_per_batch": _median(shuffle),
        "snapshot_sink.state_bytes": state_bytes,
        "snapshot_sink.state_files": state_files,
        "snapshot_sink.read_ms": _median([(r["end"] - r["start"]) * 1000.0 for r in ok_reads]),
        "snapshot_sink.read_retry_ratio": (attempts - len(reads)) / attempts if attempts else 0.0,
        "snapshot_sink.read_failed_ratio": (len(reads) - len(ok_reads)) / len(reads) if reads else 0.0,
    }
