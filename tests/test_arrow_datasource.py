"""Arrow IPC (.arrow) DataSource tests: roundtrip through the sink,
record-batch-granular splits, projection, foreign-file normalization, and
the generation machinery it shares with quiver tables (``snapshot.commit``)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.ipc as ipc
import pytest
from pyspark.sql import functions as F

from quiver_spark.sources import register
from quiver_spark.sources.arrow_datasource import ArrowIpcScanReader
from quiver_spark.sources.quiver_datasource import _data_root

from conftest import SF_DIR


def test_roundtrip_matches_parquet(spark, tmp_path):
    register(spark)
    src = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out = str(tmp_path / "orders_arrow")
    src.write.format("arrowipc").mode("overwrite").save(out)
    back = spark.read.format("arrowipc").load(out)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )


def test_projection_and_unknown_column(spark, tmp_path):
    register(spark)
    src = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    out = str(tmp_path / "nation_arrow")
    src.write.format("arrowipc").mode("overwrite").save(out)
    n = (
        spark.read.format("arrowipc")
        .option("columns", "n_name")
        .load(out)
    )
    assert n.columns == ["n_name"]
    assert n.count() == src.count()
    with pytest.raises(Exception, match="not in"):
        spark.read.format("arrowipc").option(
            "columns", "nope"
        ).load(out).count()


def test_batch_granular_splits(spark, tmp_path):
    """Splits cover record-batch ranges; planning_parallelism drives the
    dynamic byte floor exactly like the quiver planner."""
    register(spark)
    d = tmp_path / "many_batches"
    os.makedirs(d, exist_ok=True)
    import numpy as np

    schema = pa.schema([pa.field("x", pa.float64())])
    with ipc.new_file(str(d / "a.arrow"), schema) as w:
        for k in range(64):
            w.write_batch(
                pa.RecordBatch.from_arrays(
                    [
                        pa.array(
                            np.random.default_rng(k).normal(size=20_000)
                        )
                    ],
                    schema=schema,
                )
            )
    one = ArrowIpcScanReader(
        {"path": str(d), "planning_parallelism": "1"}, None
    )
    many = ArrowIpcScanReader(
        {"path": str(d), "planning_parallelism": "1024"}, None
    )
    assert len(one.partitions()) < len(many.partitions())
    df = spark.read.format("arrowipc").load(str(d))
    assert df.count() == 64 * 20_000


def test_foreign_file_normalization(spark, tmp_path):
    """Files written by other Arrow producers normalize to Spark's type
    domain: ns timestamps truncate to us (NTZ), uints widen — same
    treatment as the quiver reader's type normalization."""
    register(spark)
    d = tmp_path / "foreign"
    os.makedirs(d, exist_ok=True)
    t = pa.table(
        {
            "ts": pa.array([1_500, 2_500], type=pa.timestamp("ns")),
            "u": pa.array([1, 2], type=pa.uint32()),
        }
    )
    with ipc.new_file(str(d / "a.arrow"), t.schema) as w:
        w.write_table(t)
    df = spark.read.format("arrowipc").load(str(d))
    assert df.schema.simpleString() == "struct<ts:timestamp_ntz,u:bigint>"
    rows = sorted(map(tuple, df.collect()))
    assert [r[1] for r in rows] == [1, 2]


def test_generation_machinery_shared(spark, tmp_path):
    """Overwrite/append/time-travel ride the same generation protocol as
    quiver tables (``snapshot.commit``; only the bytes on disk differ)."""
    register(spark)
    out = str(tmp_path / "gen_arrow")
    spark.range(10).write.format("arrowipc").option(
        "keep_generations", "2"
    ).mode("overwrite").save(out)
    spark.range(5).write.format("arrowipc").mode("append").save(out)
    assert spark.read.format("arrowipc").load(out).count() == 15
    spark.range(3).write.format("arrowipc").option(
        "keep_generations", "2"
    ).mode("overwrite").save(out)
    assert os.path.basename(_data_root(out)) == "gen-000002"
    assert spark.read.format("arrowipc").load(out).count() == 3
    v1 = spark.read.format("arrowipc").option("version", "1").load(out)
    assert v1.count() == 15


def test_empty_result_write_keeps_schema(spark, tmp_path):
    register(spark)
    out = str(tmp_path / "empty_arrow")
    src = spark.read.parquet(f"{SF_DIR}/region.parquet").filter(
        F.lit(False)
    )
    src.write.format("arrowipc").mode("overwrite").save(out)
    back = spark.read.format("arrowipc").load(out)
    assert back.count() == 0
    assert back.schema == src.schema


def test_streaming_sink_and_source_roundtrip(spark, tmp_path):
    """Arrow IPC as a streaming SINK (per-batch commit log) and SOURCE
    (file-listing deltas): events written through a stream land as
    .arrow files and a second stream reads them back in full."""
    register(spark)
    src_dir = str(tmp_path / "landing")
    os.makedirs(src_dir)
    # landing zone: three little .arrow files appear over time
    schema = pa.schema(
        [pa.field("id", pa.int64()), pa.field("s", pa.string())]
    )
    for k in range(3):
        with ipc.new_file(f"{src_dir}/f{k}.arrow", schema) as w:
            w.write_batch(
                pa.RecordBatch.from_arrays(
                    [
                        pa.array(
                            list(range(k * 10, (k + 1) * 10)),
                            type=pa.int64(),
                        ),
                        pa.array([f"v{k}"] * 10),
                    ],
                    schema=schema,
                )
            )
    out = str(tmp_path / "sinked")
    q = (
        spark.readStream.format("arrowipc")
        .load(src_dir)
        .writeStream.format("arrowipc")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.format("arrowipc").load(out)
    assert back.count() == 30
    assert sorted(r.id for r in back.collect()) == list(range(30))


def test_mixed_column_order_binds_by_name(spark, tmp_path):
    """Code-review regression pin: files whose native column ORDER
    differs must bind by NAME against the planned schema — positional
    passthrough silently transposed values."""
    register(spark)
    d = tmp_path / "mixed_order"
    os.makedirs(d, exist_ok=True)
    s1 = pa.schema([pa.field("x", pa.int64()), pa.field("y", pa.int64())])
    s2 = pa.schema([pa.field("y", pa.int64()), pa.field("x", pa.int64())])
    with ipc.new_file(str(d / "a.arrow"), s1) as w:
        w.write_batch(
            pa.RecordBatch.from_arrays(
                [pa.array([1]), pa.array([100])], schema=s1
            )
        )
    with ipc.new_file(str(d / "b.arrow"), s2) as w:
        w.write_batch(
            pa.RecordBatch.from_arrays(
                [pa.array([200]), pa.array([2])], schema=s2
            )
        )
    rows = sorted(
        map(tuple, spark.read.format("arrowipc").load(str(d)).collect())
    )
    # (x, y) pairs regardless of each file's native order
    assert rows == [(1, 100), (2, 200)], rows


def test_schema_evolution_null_fills_missing_columns(spark, tmp_path):
    """A file lacking a declared column null-fills it (quiver-reader
    contract) instead of crashing or mis-binding."""
    register(spark)
    d = tmp_path / "evolved"
    os.makedirs(d, exist_ok=True)
    s_full = pa.schema(
        [pa.field("x", pa.int64()), pa.field("extra", pa.string())]
    )
    s_old = pa.schema([pa.field("x", pa.int64())])
    with ipc.new_file(str(d / "a.arrow"), s_full) as w:
        w.write_batch(
            pa.RecordBatch.from_arrays(
                [pa.array([1]), pa.array(["v"])], schema=s_full
            )
        )
    with ipc.new_file(str(d / "b.arrow"), s_old) as w:
        w.write_batch(
            pa.RecordBatch.from_arrays([pa.array([2])], schema=s_old)
        )
    rows = sorted(
        map(tuple, spark.read.format("arrowipc").load(str(d)).collect())
    )
    assert rows == [(1, "v"), (2, None)], rows


def test_partition_by_refused(spark, tmp_path):
    """The inherited partition_by option is not implemented by the arrow
    sink — refused loudly instead of silently writing a flat layout."""
    register(spark)
    with pytest.raises(Exception, match="partition_by is not supported"):
        spark.range(5).selectExpr("id", "id % 2 AS p").write.format(
            "arrowipc"
        ).option("partition_by", "p").mode("overwrite").save(
            str(tmp_path / "nope")
        )


def test_require_not_null_arrowipc(spark, tmp_path):
    """The NOT NULL write constraint holds on the arrowipc writer too
    (code-review regression pin: the overridden write() loop used to
    skip the check the shared __init__ parsed)."""
    out = str(tmp_path / "t")
    ok = spark.createDataFrame([(1, "a")], "id long, s string")
    (
        ok.write.format("arrowipc")
        .mode("overwrite")
        .option("require_not_null", "s")
        .save(out)
    )
    bad = spark.createDataFrame([(2, None)], "id long, s string")
    with pytest.raises(Exception, match="NOT NULL constraint violated"):
        (
            bad.write.format("arrowipc")
            .mode("overwrite")
            .option("require_not_null", "s")
            .save(out)
        )
    # previous snapshot intact
    assert sorted(
        (r.id, r.s)
        for r in spark.read.format("arrowipc").load(out).collect()
    ) == [(1, "a")]


def test_stream_start_commit_skips_backfill(spark, tmp_path):
    """The arrowipc stream source inherits start_commit: a fresh stream
    seeded at the current commit tails only later appends."""
    from quiver_spark import maintenance

    register(spark)
    out = str(tmp_path / "cdc_arrow")
    spark.range(50).write.format("arrowipc").mode("overwrite").save(out)
    cursor = maintenance.current_commit(out)
    spark.range(50, 70).write.format("arrowipc").mode("append").save(out)
    src = (
        spark.readStream.format("arrowipc")
        .option("start_commit", str(cursor))
        .load(out)
    )
    q = (
        src.groupBy()
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("id").alias("ks"))
        .writeStream.format("memory")
        .queryName("cdc_arrow_tail")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    row = spark.table("cdc_arrow_tail").collect()[0]
    assert row.cnt == 20
    assert row.ks == sum(range(50, 70))
