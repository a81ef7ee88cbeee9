"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/steadiness.py --seeds 1-10

Runs every workload of ``BENCHMARK.json`` once per seed, untraced and
for its ``run_seconds``, alternating the workload order from seed to
seed, and prints one line per run and, per workload and metric,
the median, the quartiles (``statistics.quantiles(n=4)``) and the
spread (q3 - q1) / median.  Run from the repository root.
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


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    args = ap.parse_args()
    workloads = [w["name"] for w in bench["workloads"]]

    values: dict[str, dict[str, list[float]]] = {}
    for k, seed in enumerate(args.seeds):
        order = workloads if k % 2 == 0 else workloads[::-1]
        for wl in order:
            t = time.perf_counter()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True,
            )
            lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
            if p.returncode or len(lines) < 2:
                print(f"{wl} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", flush=True)
                continue
            res, summ = json.loads(lines[-1]), json.loads(lines[-2])["summary"]
            print(json.dumps({
                "workload": wl, "seed": seed, "run_s": round(time.perf_counter() - t, 1),
                "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
                "metrics": {m: v["value"] for m, v in res["metrics"].items()},
                "host_calib_s": summ["host_calib_s"],
            }), flush=True)
            for m, v in res["metrics"].items():
                values.setdefault(wl, {}).setdefault(m, []).append(v["value"])
    for wl, per in values.items():
        for m, xs in per.items():
            if len(xs) < 2 or not statistics.median(xs):
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            print(f"{wl} {m}: n={len(xs)} median={statistics.median(xs):.4f} "
                  f"q1={q1:.4f} q3={q3:.4f} spread={(q3 - q1) / statistics.median(xs):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
