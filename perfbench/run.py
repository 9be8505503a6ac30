"""Benchmark entry point.

    python3 perfbench/run.py --workload {queries,scan,ingest,codec} \\
        --seed N --seconds S --trace {0,1}

Runs one workload as a closed loop (one client, each operation starts when
the previous one has finished), checks every output and prints one JSON
result line last.  ``--trace 0`` reports the end-to-end metrics; on
``ingest`` and ``codec`` every operation is paired with the same operation
through Parquet, timed beside it, and the latencies are reported relative
to Parquet's;
``--trace 1`` runs the same operation sequence twice, untraced then traced,
and reports the per-layer metrics plus the tracing overhead.  See
perfbench/README.md for the metrics and why each workload exists.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
import traceback

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
from common import SetupError, log  # noqa: E402

WORKLOADS = ("queries", "scan", "ingest", "codec")


def _load(name: str):
    if name == "queries":
        from w_queries import QueriesWorkload as W
    elif name == "scan":
        from w_scan import ScanWorkload as W
    elif name == "ingest":
        from w_ingest import IngestWorkload as W
    else:
        from w_codec import CodecWorkload as W
    return W


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is the self-test size")
    ap.add_argument("--dump", default=None,
                    help="write the operation sequence, exact counts and "
                         "span tree as JSON to this path (self-test)")
    return ap.parse_args(argv)


def run(args) -> int:
    common.check_checkout()
    work = common.make_workdir()
    sess = None
    try:
        common.configure_env(work)
        wl = _load(args.workload)(args.seed, args.size, work)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        if wl.uses_spark:
            sess = common.start_session(work)
            setups = [sess.setup["total"]]
            spark = sess.spark
        else:
            setups = wl.setup()
            spark = None
        t1 = time.perf_counter()
        wl.prepare(spark)
        fixtures_s = gen_s + time.perf_counter() - t1
        t2 = time.perf_counter()
        warm = wl.warm()
        warm_s = time.perf_counter() - t2
        log(f"{args.workload}: fixtures {fixtures_s:.1f}s, warm-up {warm_s:.1f}s, setups {[round(s, 3) for s in setups]}")

        if args.trace:
            from tracing import traced_run

            metrics, untraced, traced, spans = traced_run(wl, sess, args.seconds, fixtures_s, work)
            results = untraced + traced
        else:
            spans = []
            paired = getattr(wl, "parquet_baseline", False)
            results, wall = common.closed_loop(wl, common.n_decks(wl, args.seconds), baseline=paired)
            log(f"{args.workload}: {len(results)} ops in {wall:.1f}s"
                + (" with their Parquet runs; " if paired else "; ") + common.kind_summary(results))
            metrics = {"setup_s": (common.median(setups), "s")}
            # workloads without a Parquet twin (queries, scan) report plain latency
            metrics.update(common.relative_metrics(results) if paired
                           else common.latency_metrics(results, wall))
            metrics["stored_bytes_per_user_byte"] = (wl.stored_ratio(results), "ratio")
        failed = sum(1 for r in results if not r.ok) + sum(1 for ok in warm if not ok)
        attempted = len(results) + len(warm)
        if args.dump:
            import json

            with open(args.dump, "w") as f:
                json.dump({
                    "ops": [[r.kind, r.info.get("rows")] for r in results],
                    "exact": wl.exact_counts(),
                    # name, operation, parent index, start and end in s
                    "spans": [[s.name, s.op, s.parent, s.start - spans[0].start,
                               s.end - spans[0].start] for s in spans],
                }, f, default=str)
    finally:
        if sess is not None:
            try:
                common.stop_session(sess)
            except Exception:  # noqa: BLE001 — exiting anyway
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work.parent)
        except OSError:
            pass
    # printed after the session has stopped, so nothing follows it
    common.emit(failed == 0, attempted, failed, metrics)
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        return run(args)
    except SetupError as exc:
        log(f"cannot run: {exc}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
