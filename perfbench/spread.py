"""Run one workload under several seeds and report each metric's median
and spread (interquartile range as a share of the median).

    python3 perfbench/spread.py --workload NAME --seeds 1-10 [--trace 0|1]

Run from the repository root. Each run is a separate process, as the
benchmark is meant to be run; the result lines are appended to
``perfbench/.work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    out = HERE / ".work" / f"spread-{args.workload}.jsonl"
    out.parent.mkdir(parents=True, exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
        elapsed = time.monotonic() - t0
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(out, "a") as f:
            f.write(json.dumps({"seed": seed, **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} run took {elapsed:.1f}s", file=sys.stderr, flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:28s} median={med:12.4f} spread={spread:6.3f} n={len(v)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
