"""Self-test of the benchmark at tiny size (sf0.001 tables, 2^10-row codec
arrays, a few operations per workload).

    python3 perfbench/selftest.py [--workloads queries scan ingest codec]

For each workload it runs ``run.py --size tiny`` three times: untraced,
then traced twice with the same seed.  It checks that

- the untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit, and the traced runs every per-layer metric with its unit;
- every run reports ``correct`` with no failed operation;
- the two traced runs replay the same operation sequence with the same
  exact counts (rows, files, stored bytes, Spark jobs, page codecs).

Exits 0 when every check holds.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: per-layer counts that a replay of the same seed must reproduce exactly
EXACT_LAYER = (
    "spark.jobs", "tables.load_calls", "manifest.loads", "storage.files",
    "maintenance.files_rewritten", "maintenance.files_carried",
    "trace.spans_per_op", "sources.write_jvm_share", "sources.scan_jvm_share",
)


def run(workload: str, seed: int, trace: int, dump: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--size", "tiny", "--dump", dump]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_names(result: dict, spec: list[dict], what: str) -> list[str]:
    errors = []
    for m in spec:
        got = result["metrics"].get(m["name"])
        if got is None:
            errors.append(f"{what}: missing {m['name']}")
        elif got["unit"] != m["unit"]:
            errors.append(f"{what}: {m['name']} unit {got['unit']} != {m['unit']}")
    extra = set(result["metrics"]) - {m["name"] for m in spec}
    if extra:
        errors.append(f"{what}: metrics not in BENCHMARK.json: {sorted(extra)}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    errors: list[str] = []
    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        for w in args.workloads:
            dumps, traced = [], []
            plain = run(w, 7, 0, os.path.join(tmp, f"{w}-0.json"))
            errors += check_names(plain, bench["end_to_end"], f"{w} untraced")
            for i in (1, 2):
                path = os.path.join(tmp, f"{w}-t{i}.json")
                traced.append(run(w, 7, 1, path))
                with open(path) as f:
                    dumps.append(json.load(f))
                errors += check_names(traced[-1], bench["per_layer"], f"{w} traced")
            for r in [plain, *traced]:
                if not r["correct"] or r["failed"]:
                    errors.append(f"{w}: run not correct ({r['failed']} of {r['attempted']} failed)")
            a, b = ({"ops": d["ops"], "exact": d["exact"],
                     "spans": [sp[:3] for sp in d["spans"]]} for d in dumps)
            if a != b:
                errors.append(f"{w}: same seed gave different operations, exact counts or span trees")
            for k in EXACT_LAYER:
                a, b = (t["metrics"][k]["value"] for t in traced)
                if a != b:
                    errors.append(f"{w}: {k} differs between replays ({a} vs {b})")
            print(f"{w}: checked ({len(errors)} errors so far)", flush=True)
    try:
        os.rmdir(scratch)
    except OSError:
        pass  # another run is using it
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
