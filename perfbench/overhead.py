"""Tracing overhead: run one workload untraced and traced with the same
seed and print, per end-to-end metric, traced minus untraced.

    python3 perfbench/overhead.py --workload tail --seed 1 --seconds 12

The traced run reports its end-to-end figures on its ``detail:`` line, so
both runs are compared on the same definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END  # noqa: E402


def detail_of(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    line = next(ln for ln in reversed(out.splitlines()) if ln.startswith("detail: "))
    return json.loads(line[len("detail: "):])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("tail", "catchup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain = detail_of(args.workload, args.seed, args.seconds, 0)
    traced = detail_of(args.workload, args.seed, args.seconds, 1)
    rows = {
        name: {"untraced": plain[name], "traced": traced[name],
               "overhead": traced[name] - plain[name], "unit": unit}
        for name, unit in END_TO_END.items()
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": rows}))


if __name__ == "__main__":
    main()
