"""Run each workload on several seeds and report the spread of every
end-to-end metric.

    python3 perfbench/steadiness.py [--workloads ...] [--seeds 1 2 ... 10] [--out FILE]

For each metric it prints the median of the runs and the distance between
the first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of that median, next to the metric's bound in BENCHMARK.json.  Runs
are strictly sequential.
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
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(1, 11)))
    ap.add_argument("--out", default=None, help="also write the raw values as JSON")
    args = ap.parse_args()
    raw: dict = {}
    failed = False
    for w in args.workloads:
        raw[w] = {"runs": []}
        for seed in args.seeds:
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall = time.time() - t0
            if proc.returncode != 0:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                failed = True
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            failed |= not res["correct"]
            raw[w]["runs"].append({"seed": seed, "wall_s": wall, **{
                k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed {seed}: {wall:.0f}s wall, correct={res['correct']}", flush=True)
        runs = raw[w]["runs"]
        for m in bench["end_to_end"]:
            vals = [r[m["name"]] for r in runs]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            raw[w][m["name"]] = {"median": med, "iqr_share": spread, "bound": m["bound"]}
            print(f"  {w:8s} {m['name']:12s} median {med:10.4f} {m['unit']:4s} "
                  f"IQR/median {spread:.3f} (bound {m['bound']}, a third {m['bound'] / 3:.3f})")
        walls = [r["wall_s"] for r in runs]
        if walls:
            print(f"  {w:8s} wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(raw, f, indent=1)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
