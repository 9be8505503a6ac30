#!/usr/bin/env python
"""Quickstart: the workflow of a user switching from the Rust reference.

Run:  python examples/quickstart.py

Covers the full surface in one script: enable the format on a plain
SparkSession, write a quiver directory (adaptive codec cascade), read it
back (DataFrame and SQL-view forms), inspect the chosen codecs, and run a
few of the engine's registered pipeline operators.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import quiver_spark
from quiver_spark.sources import scan, write


def main() -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("quiver-quickstart")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # one call: runtime confs + DataSource registration + package shipping
    quiver_spark.enable(spark)

    out = tempfile.mkdtemp(prefix="quiver_quickstart_")

    # --- write: any DataFrame, adaptive per-page codec cascade ------------
    df = spark.range(100_000).select(
        F.col("id"),
        (F.col("id") % 7).alias("small_int"),          # -> dict/bitpacking
        F.lit(42).alias("constant"),                   # -> one_value
        (F.col("id") * 2).cast("int").alias("sorted_ints"),  # -> delta bitpacking (4-byte sorted)
        F.concat(F.lit("user-"), (F.col("id") % 100).cast("string")).alias(
            "category"
        ),                                             # -> dict
    )
    # keep_generations makes this load generation 1, so the overwrite
    # below can time-travel back to it
    write(df, f"{out}/demo", keep_generations="2")
    print(f"wrote {df.count()} rows to {out}/demo")

    # --- read: DataFrame form --------------------------------------------
    back = scan(spark, f"{out}/demo")
    agg = back.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"), F.sum("sorted_ints").alias("s")
    )
    print("DataFrame read:", agg.count(), "groups")

    # --- overwrite: atomic generation swap + time travel -----------------
    # keep_generations retains the previous snapshot; version reads it
    write(df.limit(10), f"{out}/demo", keep_generations="2")
    print(
        "after overwrite:",
        scan(spark, f"{out}/demo").count(),
        "rows; previous snapshot:",
        scan(spark, f"{out}/demo", version="1").count(),
        "rows",
    )
    # restore the full demo table for the sections below (a scan reads
    # the live snapshot at each action, so pin the retained generation)
    write(scan(spark, f"{out}/demo", version="1"), f"{out}/demo")
    back = scan(spark, f"{out}/demo")

    # --- read: narrow projection -----------------------------------------
    # columns= is a select on the scan; Catalyst prunes the reader's
    # decode to ONLY those leaves:
    narrow = scan(spark, f"{out}/demo", columns="category,sorted_ints")
    print("narrow projection:", narrow.columns, "->", narrow.count(), "rows")

    # --- read: SQL-view form ---------------------------------------------
    back.createOrReplaceTempView("demo")
    print(
        "SQL read:",
        spark.sql("SELECT COUNT(DISTINCT category) AS c FROM demo").first().c,
        "distinct categories",
    )

    # --- inspect: which codec did each page get? -------------------------
    from quiver_spark.format.stat import describe

    from quiver_spark.sources.quiver_datasource import _list_files

    # _list_files resolves the live generation (overwrites publish into
    # gen-NNNNNN/ behind an atomic _current pointer)
    part = _list_files(f"{out}/demo")[0]
    print("\ncodec tree (first file):")
    print(describe(part))

    # --- maintenance: compact a small-files directory --------------------
    from quiver_spark import maintenance

    summary = maintenance.compact(
        spark, f"{out}/demo", f"{out}/demo_compacted"
    )
    print(
        f"\ncompacted {summary['files_before']} files -> "
        f"{summary['files_after']} ({summary['rows']} rows preserved)"
    )
    # the same utilities without a Spark session:
    #   python -m quiver_spark inspect|stat|verify|head|compact <path>

    # --- pipeline operators over the driver testdata (if present) --------
    sf = "/root/testdata/sf0.001"
    if os.path.isdir(sf):
        from quiver_spark.registry import load_all_operators

        specs = load_all_operators()
        for name in ("dedup_exact_docs", "text_repetition_stats", "ann_cosine_topk"):
            n = specs[name].spark(spark, sf).count()
            print(f"{name}: {n} rows")

    spark.stop()


if __name__ == "__main__":
    main()
