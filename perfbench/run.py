"""cdc-spark benchmark: CDC tail freshness, backlog catch-up and the query board.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (``END_TO_END``), with
``--trace 1`` the per-layer ones (``PER_LAYER``) and the spans go to
``.perfbench-run/trace-<workload>-seed<n>.json``. The line before it,
``detail: {...}``, holds the workload's own figures and health checks.
See perfbench/README.md.
"""

import time

T_START = time.time()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench-run")
WORKLOADS = ("tail", "catchup", "board")
DRIVER_MEMORY = "4g"  # the session default (24g) does not fit a 15 GB host

END_TO_END = {
    "setup_s": "s",
    "freshness_p50_ms": "ms",
    "freshness_p90_ms": "ms",
    "events_per_s": "1/s",
}
PER_LAYER = {
    "protocol.handshake_ms": "ms",
    "protocol.frame_events_per_s": "1/s",
    "protocol.record_events_per_s": "1/s",
    "cdc_partitioned.read_events_per_s": "1/s",
    "microbatch.batches": "count",
    "microbatch.trigger_ms": "ms",
    "microbatch.latest_offset_ms": "ms",
    "microbatch.query_planning_ms": "ms",
    "microbatch.add_batch_ms": "ms",
    "microbatch.wal_commit_ms": "ms",
    "microbatch.commit_offsets_ms": "ms",
    "microbatch.rows_per_batch": "count",
    "snapshot_sink.call_ms": "ms",
    "snapshot_sink.driver_ms": "ms",
    "snapshot_sink.jobs_per_batch": "count",
    "snapshot_sink.executor_cpu_ms_per_batch": "ms",
    "snapshot_sink.shuffle_bytes_per_batch": "bytes",
    "snapshot_sink.state_bytes": "bytes",
    "snapshot_sink.state_files": "count",
    "snapshot_sink.read_ms": "ms",
    "snapshot_sink.read_retry_ratio": "ratio",
    "snapshot_sink.read_failed_ratio": "ratio",
    "queries.build_ms": "ms",
    "queries.build_jobs": "count",
    "spark_sql.execute_ms": "ms",
    "spark_sql.jobs": "count",
    "spark_sql.stages": "count",
    "spark_sql.tasks": "count",
    "spark_sql.driver_ms": "ms",
    "spark_sql.executor_cpu_ms": "ms",
    "spark_sql.shuffle_write_bytes": "bytes",
    "spark_sql.shuffle_read_bytes": "bytes",
    "spark_sql.spill_bytes": "bytes",
    "operators.q23_jobs": "count",
    "operators.q23_driver_ms": "ms",
    "operators.q23_rounds": "count",
    "operators.q33_jobs": "count",
    "operators.q33_driver_ms": "ms",
    "operators.q37_jobs": "count",
    "operators.q37_driver_ms": "ms",
    "operators.q30_executor_cpu_ms": "ms",
    "operators.q30_shuffle_write_bytes": "bytes",
    "trace.self_ms": "ms",
}
# The board workload's own end-to-end figures (it is not in BENCHMARK.json).
BOARD_METRICS = {"setup_s": "s", "board_s": "s", "query_p50_ms": "ms", "query_p90_ms": "ms"}
LATE_WARN_MS = 50.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    return ap.parse_args(argv)


def preflight() -> None:
    """Exit non-zero unless the program under test and its toolchain are here."""
    missing = [p for p in ("maxscale_cdc_connector_spark/__init__.py", "tests/oracle.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: {', '.join(missing)} not found under {ROOT}; "
                 "run from the root of a full checkout")
    for mod in ("pyspark", "pyarrow", "numpy", "duckdb"):
        try:
            __import__(mod)
        except ImportError:
            sys.exit(f"perfbench: python module {mod!r} is not installed")


def pin_environment(work: str) -> None:
    """Everything the run writes stays under ``work``; Spark gets the
    host's cores and a driver heap that fits it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dderby.system.home={work}'",
        "--conf spark.ui.retainedJobs=20000",
        "--conf spark.ui.retainedStages=40000",
        "pyspark-shell",
    ])


def start_spark():
    from maxscale_cdc_connector_spark.session import get_session
    from maxscale_cdc_connector_spark.sources.cdc_datasource import MaxScaleCDCDataSource

    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    spark.dataSource.register(MaxScaleCDCDataSource)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM, and with it the Python
    workers it started, to exit: the JVM leaves when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total > 0 else 0.0


def run_cdc(args, work: str, trace) -> tuple[dict, dict]:
    import cdc
    import probes
    import stats
    from board import operator_probe
    from generator import GeneratorProcess

    with GeneratorProcess(args.seed) as gen:
        prepared = cdc.backlogs(args.workload, args.smoke)
        for tables, events in prepared:
            gen.send(op="backlog", tables=tables, events=events)
        spark = start_spark()
        try:
            for _ in prepared:
                gen.receive()
            ctx = cdc.Context(spark=spark, gen=gen, work=work, seconds=args.seconds,
                              trace=trace, t_start=T_START, smoke=args.smoke)
            ctx.mark("session")
            cpu0 = cpu_times()
            out = (cdc.run_tail if args.workload == "tail" else cdc.run_catchup)(ctx)
            steal = steal_pct(cpu0, cpu_times())
            if trace.enabled:
                probe = gen.call(op="backlog", tables=[probes.PROBE_TABLE],
                                 events=probes.PROBE_EVENTS // (20 if args.smoke else 1))
                n = probe["per_table"][probes.PROBE_TABLE]
                out.layers.update(probes.protocol_probe(gen.port, n, trace))
                out.layers.update(probes.partitioned_probe(gen.port, n, work, trace))
                out.layers.update(operator_probe(spark, trace))
        finally:
            stop_spark(spark)
    fresh = out.samples_ms
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "setup_s": out.setup_s,
        "freshness_p50_ms": stats.percentile(fresh, 50),
        "freshness_p90_ms": stats.percentile(fresh, 90),
        "freshness_samples": int(len(fresh)),
        "events_per_s": out.events_per_s,
        "failed_ratio": out.failed / out.attempted,
        "host.steal_pct": steal,
        "problems": out.problems,
        **out.detail,
    }
    late = (out.detail.get("generator") or {}).get("late_ms_p99", 0.0)
    if late > LATE_WARN_MS:
        detail["warning"] = f"generator ran {late:.1f} ms late at p99; open-loop timing is suspect"
    result = {
        "correct": not out.problems,
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": {k: detail[k] for k in END_TO_END},
    }
    if trace.enabled:
        out.layers["trace.self_ms"] = trace.self_s * 1000.0
        result["metrics"] = out.layers
    return result, detail


def run_board(args, work: str, trace) -> tuple[dict, dict]:
    from board import BOARD, SMOKE_BOARD
    from board import run_board as board

    spark = start_spark()
    try:
        cpu0 = cpu_times()
        out = board(spark, args.seed, args.seconds, trace, T_START,
                    keys=SMOKE_BOARD if args.smoke else BOARD)
        steal = steal_pct(cpu0, cpu_times())
    finally:
        stop_spark(spark)
    detail = {"workload": "board", "seed": args.seed, "host.steal_pct": steal,
              "failed_ratio": out["failed"] / out["attempted"],
              **{k: v for k, v in out.items() if k != "layers"}}
    result = {
        "correct": not out["problems"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: out[k] for k in BOARD_METRICS},
    }
    if trace.enabled:
        result["metrics"] = {**out["layers"], "trace.self_ms": trace.self_s * 1000.0}
    return result, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    preflight()
    sys.path.insert(0, ROOT)
    work = os.path.join(RUN_DIR, f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    from spans import Trace

    trace = Trace(bool(args.trace))
    try:
        runner = run_board if args.workload == "board" else run_cdc
        result, detail = runner(args, work, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if trace.enabled:
        path = os.path.join(RUN_DIR, f"trace-{args.workload}-seed{args.seed}.json")
        trace.write(path)
        detail["trace_file"] = os.path.relpath(path, ROOT)
    units = PER_LAYER if trace.enabled else (BOARD_METRICS if args.workload == "board" else END_TO_END)
    result["metrics"] = {
        k: {"value": v, "unit": units.get(k, "")} for k, v in result["metrics"].items()
    }
    print("detail: " + json.dumps(detail, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
