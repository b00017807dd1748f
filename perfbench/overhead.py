"""Tracing overhead: traced minus untraced end-to-end metrics.

    python3 perfbench/overhead.py --workload upsert_load --seeds 1,2,3 --seconds 25

Runs ``run.py`` on each seed with ``--trace 0`` and with ``--trace 1`` (one
after the other, never at once) and prints, per metric, the median of each
mode and their difference. The traced run reports its own end-to-end numbers
as ``trace.op_p50_s`` and ``trace.setup_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PAIRS = {"op_p50_s": "trace.op_p50_s", "setup_s": "trace.setup_s"}


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=300, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1,2,3")
    p.add_argument("--seconds", type=float, default=25)
    args = p.parse_args()
    plain, traced = {k: [] for k in PAIRS}, {k: [] for k in PAIRS}
    for seed in (int(s) for s in args.seeds.split(",")):
        m0 = run_once(args.workload, seed, args.seconds, 0)
        m1 = run_once(args.workload, seed, args.seconds, 1)
        for k, tk in PAIRS.items():
            plain[k].append(m0[k]["value"])
            traced[k].append(m1[tk]["value"])
    for k in PAIRS:
        a, b = statistics.median(plain[k]), statistics.median(traced[k])
        print(f"{args.workload} {k}: untraced {a:.4f} s, traced {b:.4f} s, "
              f"overhead {b - a:+.4f} s ({(b - a) / a:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
