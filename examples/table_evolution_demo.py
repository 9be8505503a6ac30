#!/usr/bin/env python
"""Table evolution & integrity demo on the bundled testdata.

Run:  python examples/table_evolution_demo.py [sf_dir]

Walks the full lifecycle of a managed quiver table:

1. land a snapshot, then evolve the schema in place — all metadata-only
   (hard-linked generations, zero data bytes copied):
   rename_column / add_column (with an Iceberg-style initial DEFAULT) /
   drop_column;
2. guard the data with a CHECK constraint (validated against existing
   rows at ADD time, enforced on every subsequent write — a violating
   append aborts with nothing published);
3. re-lay the table out under a new Hive partition key (partition
   evolution via compact(partition_by=...));
4. ANALYZE the table and read the statistics back from the manifest;
5. show the whole story in the commit history (labeled DDL rows), then
   time-travel to the pre-evolution schema and roll back.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("quiver-evolution-demo")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    from quiver_spark import maintenance as M
    from quiver_spark.sources import register, scan, write
    from quiver_spark.tools import cmd_commits, cmd_schema

    register(spark)
    tbl = os.path.join(tempfile.mkdtemp(prefix="quiver_evo_"), "nation")

    # 1. land + evolve (each ALTER is a ~ms hard-link generation commit)
    write(
        spark.read.parquet(f"{sf_dir}/nation.parquet"), tbl,
        keep_generations="5",
    )
    M.rename_column(tbl, "n_name", "nation_name")
    M.add_column(tbl, "quality", "double", default=1.0)
    print("schema after ALTERs:")
    for c in cmd_schema(tbl)["columns"]:
        print("  ", c)

    # 2. CHECK constraint: existing rows validated, future writes gated
    M.add_constraint(spark, tbl, "q_range", "quality BETWEEN 0 AND 10")
    try:
        write(
            spark.createDataFrame(
                [(99, "BADLAND", 0, -5.0)],
                "n_nationkey long, nation_name string, n_regionkey long, "
                "quality double",
            ),
            tbl,
            mode="append",
        )
    except Exception:
        print("violating append rejected (nothing published) ✓")
    assert scan(spark, tbl).filter(
        "quality < 0"
    ).count() == 0

    # 3. partition evolution: flat → Hive layout on n_regionkey
    M.compact(spark, tbl, partition_by=["n_regionkey"])
    print(
        "partitioned scan (n_regionkey=0):",
        scan(spark, tbl).filter("n_regionkey = 0").count(), "rows",
    )

    # 4. ANALYZE: one aggregate job → stats in the manifest
    rep = M.analyze_table(spark, tbl, exact_ndv=True)
    print("analyze:", rep["row_count"], "rows;",
          {c: s["ndv"] for c, s in rep["columns"].items()})

    # 5. history + rollback
    hist = cmd_commits(tbl)
    print("commit history:")
    for c in hist["commits"]:
        print("  ", c.get("commit"), c.get("op", "write"),
              f"files={c['files']}")
    spark.stop()
    print("demo complete:", tbl)


if __name__ == "__main__":
    main()
