"""Idle-trigger floor probe: one methodology for every stream count.

VERDICT r13 item 5 + ADVICE r13: the pinned MEASURED_IDLE_MS rows mixed
calibration vintages (16/32/64 predated the r12 fake-server harness
rework; 96/128 postdated it), and the r13 re-probe ran on a noisy host
and came back non-monotone — useless for validation. This script
measures ALL stream counts in one warm session with the same harness,
stamps the run with the bench canary + steal samples so the host class
is part of the record, and prints one JSON line for the calibration
history in sources/cdc_partitioned.py.

Usage: python scripts/probe_idle_trigger.py [--streams 16,32,64,96,128]
       [--reps 3]

For the per-phase split of one trigger (``latestOffset``, query
planning, handshake), run ``perfbench/run.py --trace 1``: it reads the
phases from Spark's progress records.

Methodology (matches bench._idle_trigger_ms): per count, N empty blob
servers, one streaming query at trigger 0s / poll 0.1 s, 10-trigger
average AFTER the first completed batch; MIN across reps (an empty
trigger's floor is handshake latency — contention only inflates it).
The 16-stream row doubles as a cross-check against the bench's
per-round 16/32/64 rows.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from maxscale_cdc_connector_spark.session import get_session


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--streams", default="16,32,64,96,128")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    counts = [int(s) for s in args.streams.split(",")]

    spark = get_session("idle_probe")
    # Warm the streaming machinery once (python workers, state store)
    # so the first measured count doesn't pay one-time init.
    bench._idle_trigger_ms(spark, 4)

    watch = bench._StealWatch()
    out: dict = {
        "canary_pre_sec": bench._canary_sec(spark),
        "floors_ms": {},
        "steal_per_count_pct": {},
        "reps": args.reps,
    }
    watch.sample()  # reset the window to the start of the probes
    for n in counts:
        vals = [bench._idle_trigger_ms(spark, n) for _ in range(args.reps)]
        out["floors_ms"][n] = min(vals)
        out["steal_per_count_pct"][n] = watch.sample()
        print(f"[probe] {n} streams: min {min(vals)} ms of {vals}", flush=True)
    out["canary_post_sec"] = bench._canary_sec(spark)
    # ONE classifier for every artifact: shape the probe's measurements
    # into the bench's out-dict fields and reuse bench._host_class —
    # an inline copy of the decision tree would silently desynchronize
    # from the bench's semantics on any future threshold change.
    out["host_class"] = bench._host_class(
        {
            "canary_sec": out["canary_pre_sec"],
            "canary_sec_post": out["canary_post_sec"],
            "load": {
                "steal_midrun_pct": list(out["steal_per_count_pct"].values())
            },
        }
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
