"""Run a workload once per seed and report each metric's median and its
spread (interquartile range as a share of the median).

    python3 perfbench/spread.py --workload ingest_tcp --seeds 1-10 --seconds 5

Run from the root of a checkout. Runs are sequential; each one's result
line, with its context line under ``run``, is appended to ``--log`` (default ``.perfbench_runs/spread.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log", default=os.path.join(os.path.dirname(HERE), ".perfbench_runs", "spread.jsonl"))
    a = ap.parse_args()
    values: dict[str, list[float]] = {}
    os.makedirs(os.path.dirname(a.log), exist_ok=True)
    for s in a.seeds:
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload, "--seed", str(s),
             "--seconds", str(a.seconds), "--trace", str(a.trace)],
            capture_output=True, text=True, timeout=600,
        )
        wall = time.time() - t0
        if out.returncode != 0:
            print(f"seed {s}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        context, last = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
        with open(a.log, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": s, "wall_s": wall, **last,
                                "run": context}) + "\n")
        print(f"seed {s}: {wall:.1f} s wall, " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if len(a.seeds) >= 2:
        for k, vs in values.items():
            print(f"{k:32s} median={statistics.median(vs):.6g} spread={spread(vs):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
