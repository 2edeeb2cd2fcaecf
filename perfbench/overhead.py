"""Tracing overhead: traced minus untraced end-to-end medians.

    python3 perfbench/overhead.py --workload search --seeds 1,2,3 --seconds 5

Runs ``run.py`` once untraced and once traced per seed (alternating
which goes first), then prints, per end-to-end metric, both medians and
their difference. A traced run prints its own end-to-end values on the
line before its result, so both sides measure the same quantities.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _run(workload: str, seed: int, seconds: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", seconds,
         "--trace", str(trace)],
        capture_output=True, text=True, check=True).stdout.splitlines()
    result = json.loads(out[-1])
    if not result["correct"]:
        raise SystemExit(f"seed {seed} trace {trace}: incorrect output")
    e2e = result["metrics"] if not trace else json.loads(out[-2])["end_to_end"]
    return {k: v["value"] for k, v in e2e.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", default="5")
    args = ap.parse_args()

    runs = {0: [], 1: []}
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(_run(args.workload, seed, args.seconds, trace))
    out = {}
    for name in runs[0][0]:
        plain = statistics.median(r[name] for r in runs[0])
        traced = statistics.median(r[name] for r in runs[1])
        out[name] = {"untraced": plain, "traced": traced,
                     "overhead": traced - plain,
                     "overhead_frac": (traced - plain) / plain}
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "metrics": out}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
