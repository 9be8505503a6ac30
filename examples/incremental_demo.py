#!/usr/bin/env python
"""Incremental (CDC-lite) consumption demo on the bundled testdata.

Run:  python examples/incremental_demo.py [sf_dir]

Shows the workflow of a downstream pipeline that processes a table's
NEW data on each run without rescanning the table:

1. a producer lands a baseline snapshot, then two appends (three sink
   commits — each stamps its files with a monotone commit number in the
   table manifest);
2. a consumer records a cursor (``maintenance.current_commit``), and
   later reads only what landed after it (``maintenance.table_changes``
   — plans O(changed files), one manifest read);
3. the same cursor drives a STREAM that tails new commits instead of
   re-ingesting the backfill (``.option("start_commit", cursor)``);
4. ``maintenance.commit_at`` turns a wall-clock instant into a cursor,
   so a nightly job can ask for "everything since yesterday" with no
   bookkeeping between runs.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("quiver-incremental-demo")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from quiver_spark import enable, maintenance
    from quiver_spark.sources import scan, write

    enable(spark)

    table = os.path.join(tempfile.mkdtemp(prefix="quiver_cdc_"), "docs")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source", "n_chars"
    )

    # --- producer: baseline snapshot -------------------------------
    write(docs.filter("doc_id % 10 < 6"), table)
    cursor = maintenance.current_commit(table)
    t_baseline = time.time()
    print(f"baseline landed: commit {cursor}")

    # --- consumer records its cursor; producer keeps appending -----
    time.sleep(1.1)  # commit times are whole seconds
    write(docs.filter("doc_id % 10 in (6, 7)"), table, mode="append")
    write(docs.filter("doc_id % 10 in (8, 9)"), table, mode="append")
    print(f"two appends landed: commit {maintenance.current_commit(table)}")

    # --- incremental batch read: only the two appends --------------
    changes = maintenance.table_changes(spark, table, cursor)
    print("\nnew rows per language since the cursor:")
    changes.groupBy("lang").agg(
        F.count(F.lit(1)).alias("new_docs"),
        F.sum("n_chars").alias("new_chars"),
    ).orderBy("lang").show(5)

    # --- time-based cursor: no bookkeeping between runs ------------
    since = maintenance.commit_at(table, t_baseline)
    print(
        f"commit_at(baseline wall-clock) -> cursor {since}; "
        f"rows since then: "
        f"{maintenance.table_changes(spark, table, since).count()}"
    )

    # --- streaming tail: skip the backfill -------------------------
    q = (
        spark.readStream.format("quiverjvm")
        .option("start_commit", str(cursor))
        .load(table)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("tailed_docs"))
        .writeStream.format("memory")
        .queryName("cdc_tail")
        .outputMode("complete")
        .option(
            "checkpointLocation",
            os.path.join(os.path.dirname(table), "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise SystemExit(
            "streaming tail did not finish within 120 s — results "
            "would be partial; re-run on a less loaded host"
        )
    print("streamed tail (appends only, backfill skipped):")
    spark.table("cdc_tail").orderBy("lang").show(5)

    total = scan(spark, table).count()
    tailed = sum(
        r.tailed_docs for r in spark.table("cdc_tail").collect()
    )
    print(f"table total {total} rows; stream tailed {tailed} (the appends)")
    spark.stop()


if __name__ == "__main__":
    main()
