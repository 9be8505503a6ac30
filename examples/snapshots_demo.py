#!/usr/bin/env python
"""Table operations demo: generation snapshots, time travel, rollback,
retention, and the multi-writer contract.

Run:  python examples/snapshots_demo.py

The reference is a single-file format library (one write = one file,
/root/reference/src/write/writer.rs); the TABLE layer shown here —
atomic overwrites, retained versions, rollback, GC — is engine surface
this repo adds on top, with the commit protocol documented in
quiver_spark/sources/pointer_store.py.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("quiver-snapshots-demo")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from quiver_spark.maintenance import (
        expire_generations,
        rollback_generation,
    )
    from quiver_spark.sources import register, scan, write

    register(spark)
    tbl = os.path.join(tempfile.mkdtemp(prefix="quiver_demo_"), "events")

    # --- 1. overwrites are atomic generation swaps --------------------
    # Each overwrite publishes into gen-NNNNNN/ and atomically re-points
    # `_current`; keep_generations=3 retains the two previous snapshots.
    for day, n in (("day1", 100), ("day2", 200), ("day3", 300)):
        write(
            spark.range(n).selectExpr("id", f"'{day}' AS batch"), tbl,
            keep_generations="3",
        )
    live = scan(spark, tbl)
    print("live rows:", live.count(), "| generations:",
          sorted(d for d in os.listdir(tbl) if d.startswith("gen-")))

    # --- 2. time travel to a retained generation ----------------------
    v1 = scan(spark, tbl, version="1")
    print("version 1 rows:", v1.count(), "(day1 snapshot, still readable)")

    # --- 3. rollback: undo the last overwrite -------------------------
    # A CAS pointer swap under the per-table writer lock — no data moves.
    res = rollback_generation(tbl, 2)
    print("rolled back:", res)
    print("live rows after rollback:",
          scan(spark, tbl).count(), "(day2 again)")

    # --- 4. retention sweep -------------------------------------------
    print("expire:", expire_generations(tbl, keep=1))

    # --- 5. the multi-writer contract ---------------------------------
    # With the default local store, concurrent writers on one table are
    # serialized by an advisory lock: two racing overwrites land as two
    # DISTINCT generations, last swap wins. On a store without locking
    # (object-store posture), the exclusive generation claim + CAS
    # pointer swap turn every race into a loud ConcurrentWriteError —
    # never a mixed or silently lost snapshot. See
    # tests/test_concurrent_writers.py for the pinned interleavings.
    from quiver_spark.sources.pointer_store import (
        ConcurrentWriteError,
        get_pointer_store,
    )

    store = get_pointer_store()
    current = store.read_pointer(tbl)
    try:
        # a stale CAS (expected predecessor no longer current) refuses:
        store.swap_pointer(tbl, "gen-000099", expected="gen-000001")
    except ConcurrentWriteError as exc:
        print("stale swap refused (as designed):",
              str(exc).splitlines()[0][:80], "...")
    assert store.read_pointer(tbl) == current, "pointer must be untouched"

    shutil.rmtree(os.path.dirname(tbl), ignore_errors=True)
    spark.stop()
    print("demo complete")


if __name__ == "__main__":
    main()
