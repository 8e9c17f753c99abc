"""Run one workload over several seeds and report each end-to-end metric's
median, quartiles and quartile spread ((Q3 - Q1) / median), the figure each
bound in BENCHMARK.json is compared with.

    python3 perfbench/spread.py --workload stream_ads --seeds 1-10 [--seconds 15]

Runs are sequential, one process each, untraced. Per-run result lines are
appended to perfbench/.out/spread-<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = os.path.join(HERE, ".out", f"spread-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in _seeds(a.seeds):
        cmd = bench["command"] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "0",
        ]
        done = subprocess.run(
            cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=300
        )
        if done.returncode != 0:
            print(done.stderr[-2000:], file=sys.stderr)
            print(f"seed {seed}: exit {done.returncode}", file=sys.stderr)
            return 1
        res = json.loads(done.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, **res}) + "\n")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(
            f"seed {seed}: failed {res['failed']}/{res['attempted']} "
            + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
            flush=True,
        )
    print(f"{'metric':16s} {'median':>12s} {'Q1':>12s} {'Q3':>12s} {'spread':>7s} {'bound':>6s}")
    for name, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        print(
            f"{name:16s} {q2:12.4g} {q1:12.4g} {q3:12.4g} "
            f"{stats.quartile_spread(vs):7.3f} {bounds.get(name, float('nan')):6.2f}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
