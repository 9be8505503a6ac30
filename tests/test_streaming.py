"""Structured Streaming tests: run each streaming recipe with
Trigger.AvailableNow over a file landing zone and compare against the batch
twin computed on the same data."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from quiver_spark import sources
from quiver_spark.streaming import events as se

from conftest import SF_DIR


@pytest.fixture(scope="module")
def landing_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    # split the events parquet into multiple files so maxFilesPerTrigger
    # exercises multi-batch progress
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/events.parquet")
    n = t.num_rows
    step = max(n // 5, 1)
    for i, start in enumerate(range(0, n, step)):
        pq.write_table(t.slice(start, step), str(d / f"chunk-{i}.parquet"))
    return str(d)


def _run_stream(df, tmp_path, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if name != "dedup" else "append")
        .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_hourly_counts_matches_batch(spark, landing_dir, tmp_path):
    stream = se.stream_events(spark, landing_dir)
    _run_stream(se.hourly_counts(stream), tmp_path, "hourly")
    got = spark.table("hourly").toPandas()

    from quiver_spark.tables import load

    batch = (
        load(spark, SF_DIR, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .toPandas()
    )
    key = ["hour_ts", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    assert len(got) == len(batch)
    assert (got["cnt"].values == batch["cnt"].values).all()
    assert (got["sum_value"].values == batch["sum_value"].values).all()


def test_session_windows_run(spark, landing_dir, tmp_path):
    stream = se.stream_events(spark, landing_dir)
    _run_stream(se.sessionized_counts(stream), tmp_path, "sessions")
    got = spark.table("sessions")
    assert got.count() > 0
    # session event counts must total the input events
    assert got.agg(F.sum("event_cnt")).collect()[0][0] == spark.read.parquet(f"{SF_DIR}/events.parquet").count()


def test_stream_dedup(spark, landing_dir, tmp_path):
    stream = se.stream_events(spark, landing_dir)
    q = (
        se.stream_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt-dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup")
    assert got.count() == got.select("event_id").distinct().count() == spark.read.parquet(f"{SF_DIR}/events.parquet").count()


def test_stateful_user_totals(spark, landing_dir, tmp_path):
    """applyInPandasWithState running totals: the final update per user must
    equal the batch group-by (state carries across micro-batches)."""
    stream = se.stream_events(spark, landing_dir)
    q = (
        se.user_totals_stateful(stream)
        .writeStream.format("memory")
        .queryName("usertotals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt-ut"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("usertotals")
    # running totals are monotone: the max per user is the final state
    final = got.groupBy("user_id").agg(F.max("event_cnt").alias("event_cnt"))
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("event_cnt"))
    )
    diff = final.join(batch, "user_id").filter(
        final.event_cnt != batch.event_cnt
    )
    assert final.count() == batch.count()
    assert diff.count() == 0


def test_quiver_streaming_sink(spark, landing_dir, tmp_path):
    out = str(tmp_path / "quiver_out")
    ckpt = str(tmp_path / "ckpt-quiver")
    stream = se.stream_events(spark, landing_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    q = se.write_quiver_stream(stream, out, ckpt)
    q.awaitTermination(120)
    files = [f for f in os.listdir(out) if f.endswith(".quiver")]
    assert files, "streaming sink wrote no quiver files"
    back = spark.read.format("quiver").load(out)
    assert back.count() == spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert back.select(F.sum("event_id")).collect()[0][0] == spark.read.parquet(f"{SF_DIR}/events.parquet").select(F.sum("event_id")).collect()[0][0]

    # quiver directory as a streaming SOURCE: stream the sink's output back
    # out and compare totals (sink → source round-trip)
    src = spark.readStream.format("quiver").load(out)
    q2 = (
        src.groupBy()
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("event_id").alias("ks"))
        .writeStream.format("memory")
        .queryName("quiver_src")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt-qsrc"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    row = spark.table("quiver_src").collect()[0]
    p = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert row.cnt == p.count()
    assert row.ks == p.select(F.sum("event_id")).collect()[0][0]


def test_stream_source_rate_limit(spark, tmp_path):
    """max_files_per_trigger=1 must spread a 3-file backlog over ≥3
    micro-batches while still delivering every row exactly once."""
    from quiver_spark.sources import register
    from quiver_spark.sources.quiver_datasource import _data_root

    register(spark)
    out = str(tmp_path / "rate_src")
    for i in range(3):
        sources.write(
            spark.range(i * 10, (i + 1) * 10).selectExpr(
                "id", "CAST(id AS STRING) AS s"
            ).coalesce(1),
            out,
            mode="append" if i else "overwrite",
        )
    files = [f for f in os.listdir(_data_root(out)) if f.endswith(".quiver")]
    assert len(files) == 3, files

    batches = []

    def _sink(df, batch_id):
        rows = df.collect()
        if rows:
            batches.append(sorted(r.id for r in rows))

    # default processing-time trigger: availableNow falls back to a single
    # batch for Python stream sources, which would defeat the per-trigger
    # cap (documented in QuiverStreamReader)
    q = (
        spark.readStream.format("quiver")
        .option("max_files_per_trigger", "1")
        .load(out)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt-rate"))
        .start()
    )
    import time as _time

    deadline = _time.time() + 120
    while _time.time() < deadline and sum(len(b) for b in batches) < 30:
        _time.sleep(0.5)
    q.stop()
    assert len(batches) >= 3, f"backlog was not split: {batches}"
    all_ids = sorted(i for b in batches for i in b)
    assert all_ids == list(range(30)), all_ids


def test_stream_source_rate_limit_restart_no_duplicates(spark, tmp_path):
    """Restarting a rate-limited stream from its checkpoint must not
    re-deliver files: the in-memory cursor is re-seeded from the offsets
    Spark replays (partitions/commit), so latestOffset never regresses
    behind the committed offset."""
    import time as _time

    from quiver_spark.sources import register as register_format

    register_format(spark)
    out = str(tmp_path / "restart_src")
    for i in range(3):
        sources.write(
            spark.range(i * 10, (i + 1) * 10).selectExpr(
                "id", "CAST(id AS STRING) AS s"
            ).coalesce(1),
            out,
            mode="append" if i else "overwrite",
        )
    ckpt = str(tmp_path / "ckpt-restart")

    def run(expect_rows: int, max_wait: float):
        batches = []

        def _sink(df, batch_id):
            rows = [r.id for r in df.collect()]
            if rows:
                batches.append(rows)

        q = (
            spark.readStream.format("quiver")
            .option("max_files_per_trigger", "1")
            .load(out)
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        deadline = _time.time() + max_wait
        while (
            _time.time() < deadline
            and sum(len(b) for b in batches) < expect_rows
        ):
            _time.sleep(0.5)
        _time.sleep(2)  # allow extra triggers to surface any duplicates
        q.stop()
        return [i for b in batches for i in b]

    first = run(expect_rows=30, max_wait=60)
    assert sorted(first) == list(range(30)), sorted(first)
    # restart on the same checkpoint with no new data: nothing may arrive
    second = run(expect_rows=1, max_wait=8)
    assert second == [], f"restart re-delivered rows: {sorted(second)}"


def test_stream_stream_interval_join_matches_batch(spark, landing_dir, tmp_path):
    """Watermarked stream-stream interval join must emit exactly the batch
    join's pairs once the whole landing zone is consumed."""
    pairs = se.view_purchase_join(
        se.stream_events(spark, landing_dir),
        se.stream_events(spark, landing_dir),
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("vp_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt-vpjoin"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("vp_join").toPandas()

    from quiver_spark.tables import load

    ev = load(spark, SF_DIR, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    batch = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).toPandas()
    key = ["v_user", "v_ts", "p_user", "p_ts"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    assert len(got) == len(batch) and len(batch) > 0
    for k in key:
        assert (got[k].values == batch[k].values).all()


def test_transform_with_state_matches_batch(spark, landing_dir, tmp_path):
    """transformWithStateInPandas running totals: after the whole landing
    zone is consumed, the LAST emitted row per user equals the batch
    aggregate. Requires the RocksDB state store provider AND protobuf
    (the TWS state-server wire protocol) — skipped, with the reason
    recorded, where protobuf isn't installed (this container has no
    google.protobuf and installs are barred; applyInPandasWithState
    covers the stateful surface in the meantime)."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs protobuf for its state "
        "server protocol; not available in this environment",
    )
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = se.stream_events(spark, landing_dir)
        q = (
            se.user_totals_tws(stream)
            .writeStream.format("memory")
            .queryName("tws_totals")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt-tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        import pandas as pd  # noqa: F401

        got = spark.table("tws_totals").toPandas()
        # update mode re-emits per batch: keep each user's LAST emission
        got = got.groupby("user_id").last().reset_index()

        from quiver_spark.tables import load

        batch = (
            load(spark, SF_DIR, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("event_cnt"),
                F.sum("value").alias("sum_value"),
            )
            .toPandas()
        )
        got = got.sort_values("user_id").reset_index(drop=True)
        batch = batch.sort_values("user_id").reset_index(drop=True)
        assert len(got) == len(batch)
        assert (got["event_cnt"].values == batch["event_cnt"].values).all()
        assert (
            abs(got["sum_value"].values - batch["sum_value"].values) < 1e-6
        ).all()
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_source_overwrite_reingests_new_generation(spark, tmp_path):
    """Streaming source × generation snapshots — the CHOSEN interplay: the
    stream lists files through the live generation, so an overwrite
    mid-stream makes the new generation's files appear as brand-new names
    (the gen-NNNNNN/ prefix changes) and they are re-ingested wholesale,
    while already-consumed old-generation names are never re-offered.
    This matches the convention of file-based streaming sources (which
    assume append-only directories); the pin makes the behavior a
    decision, not an accident."""
    from quiver_spark.sources import register

    register(spark)
    out = str(tmp_path / "gen_src")
    sources.write(spark.range(0, 10).selectExpr("id").coalesce(1), out)

    batches = []

    def _sink(df, batch_id):
        rows = df.collect()
        if rows:
            batches.append(sorted(r.id for r in rows))

    q = (
        spark.readStream.format("quiver")
        .load(out)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt-gen"))
        .start()
    )
    import time as _time

    deadline = _time.time() + 120
    while _time.time() < deadline and sum(len(b) for b in batches) < 10:
        _time.sleep(0.5)
    assert sorted(i for b in batches for i in b) == list(range(10))

    # overwrite mid-stream: a NEW generation becomes live
    sources.write(spark.range(100, 105).selectExpr("id").coalesce(1), out)
    deadline = _time.time() + 120
    while _time.time() < deadline and sum(len(b) for b in batches) < 15:
        _time.sleep(0.5)
    q.stop()

    all_ids = sorted(i for b in batches for i in b)
    # old snapshot consumed once, new snapshot re-ingested wholesale,
    # nothing delivered twice
    assert all_ids == list(range(10)) + list(range(100, 105)), all_ids


def test_stream_source_start_commit_skips_backfill(spark, tmp_path):
    """start_commit=N seeds the initial offset with every file committed
    at-or-before N: a fresh stream tails NEW commits instead of
    re-ingesting the historical backfill (the Kafka startingOffsets
    analogue over the manifest commit sequence)."""
    from quiver_spark import maintenance
    from quiver_spark.sources import register

    register(spark)
    out = str(tmp_path / "cdc_table")
    sources.write(spark.range(100), out)
    cursor = maintenance.current_commit(out)
    assert cursor == 1
    sources.write(spark.range(100, 130), out, mode="append")
    src = (
        spark.readStream.format("quiver")
        .option("start_commit", str(cursor))
        .load(out)
    )
    q = (
        src.groupBy()
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("id").alias("ks"))
        .writeStream.format("memory")
        .queryName("cdc_tail")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt-cdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    row = spark.table("cdc_tail").collect()[0]
    assert row.cnt == 30
    assert row.ks == sum(range(100, 130))


# ---- JVM streaming source (round 13 — VERDICT r12 Next #6) ----------------


def _jvm_stream_ready(spark):
    from quiver_spark.jvm import attach_jar, session_has_jar
    from quiver_spark.sources import register

    register(spark)
    return session_has_jar(spark) and attach_jar(spark)


def test_jvm_stream_source_matches_batch(spark, tmp_path):
    """Stream-vs-batch parity through the JVM MicroBatchStream: the same
    three-commit table read as a quiverjvm STREAM (availableNow) equals
    the quiverjvm BATCH read — rows, not counts. Per-micro-batch planning
    runs JVM-side (no Python planner-process floor per batch)."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    d = str(tmp_path / "tbl")
    sources.write(
        spark.range(20).selectExpr("id", "id * 2 AS v").coalesce(2),
        d,
    )
    sources.write(
        spark.range(20, 30).selectExpr("id", "id * 2 AS v").coalesce(1),
        d,
        mode="append",
    )
    q = (
        spark.readStream.format("quiverjvm")
        .load(d)
        .writeStream.format("memory")
        .queryName("jvm_sb")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM jvm_sb").collect()))
    want = sorted(
        map(tuple, spark.read.format("quiverjvm").load(d).collect())
    )
    assert got == want


def test_jvm_stream_rate_limit_and_start_commit(spark, tmp_path):
    """max_files_per_trigger drains the backlog in capped micro-batches
    (SupportsTriggerAvailableNow — unlike the Python source, availableNow
    honors the cap and still consumes everything), and start_commit seeds
    the initial offset so only post-cursor commits stream."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    d = str(tmp_path / "tbl")
    sources.write(spark.range(10).selectExpr("id").coalesce(2), d)
    sources.write(
        spark.range(10, 14).selectExpr("id").coalesce(1),
        d,
        mode="append",
    )
    q = (
        spark.readStream.format("quiverjvm")
        .option("max_files_per_trigger", "1")
        .load(d)
        .writeStream.format("memory")
        .queryName("jvm_rate")
        .option("checkpointLocation", str(tmp_path / "ckpt-rate"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["id"] for r in spark.sql("SELECT * FROM jvm_rate").collect())
    assert got == list(range(14))
    assert len(q.recentProgress) >= 3  # 3 files, 1 per batch

    q2 = (
        spark.readStream.format("quiverjvm")
        .option("start_commit", "1")
        .load(d)
        .writeStream.format("memory")
        .queryName("jvm_sc")
        .option("checkpointLocation", str(tmp_path / "ckpt-sc"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got2 = sorted(r["id"] for r in spark.sql("SELECT * FROM jvm_sc").collect())
    assert got2 == list(range(10, 14))


def test_jvm_stream_checkpoint_restart_no_duplicates(spark, tmp_path):
    """A checkpointed restart resumes from the committed offset: new
    appends stream exactly once, consumed files never re-deliver (the
    offset survives via deserializeOffset round-trip)."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    d = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    sources.write(spark.range(5).selectExpr("id").coalesce(1), d)

    def run():
        # file sink (the memory sink cannot recover from a checkpoint)
        q = (
            spark.readStream.format("quiverjvm")
            .load(d)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(r["id"] for r in spark.read.parquet(out).collect())

    assert run() == list(range(5))
    sources.write(
        spark.range(5, 8).selectExpr("id").coalesce(1),
        d,
        mode="append",
    )
    # same checkpoint: only the appended rows arrive (sink accumulates —
    # exactly-once would break as duplicates of 0..4 here)
    assert run() == list(range(8))


def test_jvm_stream_nested_and_hive(spark, tmp_path):
    """The JVM stream serves the full batch-reader surface per batch:
    nested columns ride the Dremel assembler and Hive partition keys
    resolve as plan-time constants — parity against the quiverjvm BATCH
    read of the same tables."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")

    def stream_rows(d, name):
        q = (
            spark.readStream.format("quiverjvm")
            .load(d)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(map(repr, spark.sql(f"SELECT * FROM {name}").collect()))

    nested = str(tmp_path / "nested")
    sources.write(
        spark.createDataFrame(
            [(1, [1.0, 2.0], {"k": 1}), (2, [3.0], None), (3, [], {"z": 9})],
            "id bigint, emb array<double>, m map<string,int>",
        ).coalesce(1),
        nested,
    )
    want = sorted(
        map(repr, spark.read.format("quiverjvm").load(nested).collect())
    )
    assert stream_rows(nested, "jvm_nested_stream") == want

    hive = str(tmp_path / "hive")
    spark.range(12).selectExpr("id", "id % 3 AS part").write.format(
        "quiverjvm"
    ).partitionBy("part").mode("overwrite").save(hive)
    want_h = sorted(
        map(repr, spark.read.format("quiverjvm").load(hive).collect())
    )
    got_h = stream_rows(hive, "jvm_hive_stream")
    assert got_h == want_h


def test_jvm_streaming_sink_roundtrip_and_commit_protocol(spark, tmp_path):
    """A routed stream (sources.stream_writer) of a quiverjvm source:
    each micro-batch stages under _temporary/ and commits through
    sources.write, leaving the stream log's on-disk protocol — per-batch
    markers in _quiver_commits/, ONE CDC-stamped manifest commit per
    non-empty batch, staging pruned. The streamed table reads identically
    through BOTH engines."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    import os

    from quiver_spark.sources import stream_writer
    from quiver_spark.sources.manifest import load_manifest

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    spark.range(60).selectExpr("id", "concat('v', id) AS s").coalesce(
        3
    ).write.format("quiverjvm").mode("overwrite").save(src)
    q = (
        stream_writer(spark.readStream.format("quiverjvm").load(src), dst)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = sorted(map(tuple, spark.read.format("quiverjvm").load(src).collect()))
    got_py = sorted(map(tuple, spark.read.format("quiver").load(dst).collect()))
    got_jvm = sorted(map(tuple, spark.read.format("quiverjvm").load(dst).collect()))
    assert got_py == want and got_jvm == want
    # commit protocol: marker log + CDC-stamped manifest + pruned staging
    assert os.listdir(os.path.join(dst, "_quiver_commits")) == ["0"]
    man = load_manifest(dst)
    assert man.commit_seq == 1
    assert {e.commit for e in man.entries.values()} == {1}
    assert not os.path.exists(os.path.join(dst, "_temporary")) or not os.listdir(
        os.path.join(dst, "_temporary")
    )


def test_jvm_streaming_sink_replay_marker_drops_batch(spark, tmp_path):
    """Idempotent replay: a routed stream's batch whose _quiver_commits
    marker already exists must not publish again (the arrowipc stream
    sink's recovery contract, shared log layout). Pre-seeding marker 0
    simulates the replayed batch."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    import glob
    import os

    from quiver_spark.sources import stream_writer

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    spark.range(10).selectExpr("id").write.format("quiverjvm").mode(
        "overwrite"
    ).save(src)
    os.makedirs(os.path.join(dst, "_quiver_commits"))
    with open(os.path.join(dst, "_quiver_commits", "0"), "w") as f:
        f.write("ok")
    q = (
        stream_writer(spark.readStream.format("quiverjvm").load(src), dst)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert glob.glob(os.path.join(dst, "**", "*.quiver"), recursive=True) == []


def test_jvm_streaming_sink_restart_appends_only_delta(spark, tmp_path):
    """Checkpointed restart of a routed stream from a quiverjvm source
    delivers only the NEW source commit (batch 1), never re-publishing
    batch 0 — and each batch lands as its own CDC commit in the sink's
    manifest."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    import os

    from quiver_spark.sources import stream_writer
    from quiver_spark.sources.manifest import load_manifest

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            stream_writer(spark.readStream.format("quiverjvm").load(src), dst)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.range(10).selectExpr("id").coalesce(1).write.format(
        "quiverjvm"
    ).mode("overwrite").save(src)
    run_once()
    spark.range(10, 25).selectExpr("id").coalesce(1).write.format(
        "quiverjvm"
    ).mode("append").save(src)
    run_once()
    got = sorted(r.id for r in spark.read.format("quiverjvm").load(dst).collect())
    assert got == list(range(25))
    assert sorted(os.listdir(os.path.join(dst, "_quiver_commits"))) == ["0", "1"]
    assert load_manifest(dst).commit_seq == 2


def test_stream_writer_router(spark, tmp_path):
    """sources.stream_writer has one path: every micro-batch is one
    sources.write append on the quiverjvm writer, with or without
    ``require_not_null`` (checked in the plan). Both streams round-trip
    through BOTH batch readers."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    import os

    from quiver_spark import sources
    from quiver_spark.sources import stream_writer

    engines: list[str] = []
    real_write = sources.write

    def spy(*args, **kwargs):
        engines.append(real_write(*args, **kwargs))
        return engines[-1]

    src = str(tmp_path / "src")
    spark.range(25).selectExpr("id", "concat('r', id) AS s").write.format(
        "quiverjvm"
    ).mode("overwrite").save(src)
    stream_df = spark.readStream.format("quiverjvm").load(src)
    want = sorted(map(tuple, spark.read.format("quiverjvm").load(src).collect()))
    for name, opts, engine in (
        ("dst", {}, "quiverjvm"),
        ("dst2", {"require_not_null": "id"}, "quiverjvm"),
    ):
        dst = str(tmp_path / name)
        engines.clear()
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(sources, "write", spy)
            q = (
                stream_writer(stream_df, dst, **opts)
                .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        assert engines == [engine], (name, engines)
        for fmt in ("quiver", "quiverjvm"):
            got = sorted(map(tuple, spark.read.format(fmt).load(dst).collect()))
            assert got == want, (name, fmt)
        assert os.listdir(os.path.join(dst, "_quiver_commits")) == ["0"]


def test_stream_writer_batches_store_lz4_and_commit_once(
    spark, tmp_path, monkeypatch
):
    """A JVM-eligible routed stream naming no codec stores only lz4
    blocks, as a batch write through sources.write does, and each
    micro-batch is one sources.write call that returns "quiverjvm" and
    one snapshot.commit under the table lock."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    from quiver_spark import sources
    from quiver_spark.format.stat import stat_file
    from quiver_spark.sources import snapshot, stream_writer

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    rows = spark.range(0, 20000, 1, 1).selectExpr(
        "id", "sha2(CAST(id AS STRING), 256) AS h"
    )
    rows.filter("id < 10000").write.format("quiverjvm").mode(
        "overwrite"
    ).save(src)
    rows.filter("id >= 10000").write.format("quiverjvm").mode(
        "append"
    ).save(src)
    writes: list[str] = []
    commits: list[str] = []
    real_write, real_commit = sources.write, snapshot.commit

    def write(*args, **kwargs):
        writes.append(real_write(*args, **kwargs))
        return writes[-1]

    def commit(table, *args, **kwargs):
        commits.append(table)
        return real_commit(table, *args, **kwargs)

    monkeypatch.setattr(sources, "write", write)
    monkeypatch.setattr(snapshot, "commit", commit)
    q = (
        stream_writer(
            spark.readStream.format("quiverjvm")
            .option("max_files_per_trigger", "1")
            .load(src),
            dst,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batches = os.listdir(os.path.join(dst, snapshot.COMMIT_LOG))
    assert sorted(batches) == ["0", "1"]
    assert writes == ["quiverjvm", "quiverjvm"]
    assert commits == [dst, dst]
    codecs = {
        p.codec
        for f in snapshot.list_files(snapshot.data_root(dst), "*.quiver")
        for pages in stat_file(f).values()
        for p in pages
    }
    assert codecs == {"lz4"}
    assert sources.scan(spark, dst).count() == 20000


def test_quiverjvm_format_has_no_stream_write(spark, tmp_path):
    """``writeStream.format("quiverjvm")`` fails at start() — the format
    has no streaming write; streams go through sources.stream_writer —
    and leaves the destination empty."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    src = str(tmp_path / "src")
    dst = tmp_path / "dst"
    dst.mkdir()
    spark.range(10).write.format("quiverjvm").mode("overwrite").save(src)
    with pytest.raises(Exception, match="does not support streamed writing"):
        (
            spark.readStream.format("quiverjvm")
            .load(src)
            .writeStream.format("quiverjvm")
            .option("path", str(dst))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
    assert os.listdir(dst) == []


def test_quiver_format_has_no_stream_write(spark, tmp_path):
    """``writeStream.format("quiver")`` fails, naming
    ``sources.stream_writer``, and publishes nothing: the Python stream
    sink is gone, so every stream into a quiver table is routed."""
    from quiver_spark.sources import register

    register(spark)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    sources.write(spark.range(10), src)
    with pytest.raises(Exception, match="sources.stream_writer"):
        q = (
            spark.readStream.format("quiver")
            .load(src)
            .writeStream.format("quiver")
            .option("path", dst)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    data = [
        f
        for _d, _s, files in os.walk(dst)
        for f in files
        if f.endswith(".quiver")
    ]
    assert data == []


def test_jvm_stream_sink_concurrent_python_append(spark, tmp_path):
    """A Python-sink batch APPEND racing a routed stream's micro-batch
    commits on the same table: both commit under the table lock, so
    every row of BOTH writers is readable afterwards through BOTH
    engines."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    import os

    from quiver_spark.sources import stream_writer

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    spark.range(10).selectExpr("id").coalesce(1).write.format(
        "quiverjvm"
    ).mode("overwrite").save(src)
    for lo in range(10, 80, 10):
        spark.range(lo, lo + 10).selectExpr("id").coalesce(1).write.format(
            "quiverjvm"
        ).mode("append").save(src)
    q = (
        stream_writer(
            spark.readStream.format("quiverjvm")
            .option("max_files_per_trigger", "1")
            .load(src),
            dst,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    appended = []
    lo = 1000
    while q.isActive and lo < 1030:
        sources.write(
            spark.range(lo, lo + 10).selectExpr("id").coalesce(1),
            dst,
            mode="append",
        )
        appended.extend(range(lo, lo + 10))
        lo += 10
    q.awaitTermination(120)
    while lo < 1030:  # drained too fast to interleave: append the rest
        sources.write(
            spark.range(lo, lo + 10).selectExpr("id").coalesce(1),
            dst,
            mode="append",
        )
        appended.extend(range(lo, lo + 10))
        lo += 10
    want = sorted(list(range(80)) + appended)
    got_py = sorted(r.id for r in spark.read.format("quiver").load(dst).collect())
    got_jvm = sorted(
        r.id for r in spark.read.format("quiverjvm").load(dst).collect()
    )
    assert got_py == want
    assert got_jvm == want
    # every stream epoch left its marker
    assert len(os.listdir(os.path.join(dst, "_quiver_commits"))) >= 1


def test_jvm_streaming_sink_partition_by_option(spark, tmp_path):
    """Hive fan-out of a routed stream: stream_writer's `partition_by`
    reaches sources.write's own parameter per micro-batch. Batches land
    col=value layouts; both engines read the streamed table; partition
    filters prune."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    import os

    from quiver_spark.sources import stream_writer

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    spark.range(40).selectExpr("id", "CAST(id % 3 AS INT) AS bucket").write.format(
        "quiverjvm"
    ).mode("overwrite").save(src)
    q = (
        stream_writer(
            spark.readStream.format("quiverjvm").load(src),
            dst,
            partition_by="bucket",
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(
        x for x in os.listdir(dst) if "=" in x
    ) == ["bucket=0", "bucket=1", "bucket=2"]
    jd = spark.read.format("quiverjvm").load(dst)
    want = sorted(
        map(tuple, spark.read.format("quiverjvm").load(src).collect())
    )
    assert sorted(map(tuple, jd.collect())) == want
    assert sorted(
        map(tuple, spark.read.format("quiver").load(dst).collect())
    ) == want
    assert jd.filter("bucket = 1").count() == sum(
        1 for i in range(40) if i % 3 == 1
    )


def test_jvm_stream_source_semantic_options(spark, tmp_path):
    """The JVM stream source must HONOR or REFUSE the batch reader's
    semantic options, never silently ignore them (pre-fix: schema came
    from the pinned generation while data came from the live one).
    version= streams the PINNED (frozen) generation; changes_since= seeds
    the initial offset like start_commit (the batch option's delta
    contract carries over); files= and merge_schemas= refuse loudly."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    import uuid

    from quiver_spark.sources.manifest import load_manifest
    from quiver_spark.sources.quiver_datasource import _data_root

    d = str(tmp_path / "tbl")
    sources.write(spark.range(10).selectExpr("id"), d, keep_generations="2")
    c0 = load_manifest(_data_root(d)).commit_seq
    sources.write(
        spark.range(10, 20).selectExpr("id"),
        d,
        keep_generations="2",
    )

    def drain(reader_opts, name):
        q = (
            spark.readStream.format("quiverjvm")
            .options(**reader_opts)
            .load(d)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return sorted(r.id for r in spark.sql(f"SELECT * FROM {name}").collect())

    # version pins generation 1 (ids 0..9), not the live one
    got = drain({"version": "1"}, "v_" + uuid.uuid4().hex[:6])
    assert got == list(range(10)), got
    # changes_since seeds the cursor: only the live generation's files
    # (committed after c0) are delivered
    got2 = drain({"changes_since": str(c0)}, "c_" + uuid.uuid4().hex[:6])
    assert got2 == list(range(10, 20)), got2
    # files= and merge_schemas refuse loudly instead of silently ignoring
    for bad in ({"files": "[]"}, {"merge_schemas": "true"}):
        try:
            drain(bad, "b_" + uuid.uuid4().hex[:6])
            raise AssertionError(f"{bad}: stream should have refused")
        except Exception as ex:
            assert "quiverjvm stream" in str(ex) or "batch-only" in str(ex), ex


def test_jvm_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join where BOTH sides are JVM
    MicroBatchStream sources over a quiver table (the all-JVM pipeline:
    quiver storage -> two JVM streams -> stateful join), drained with
    availableNow and compared to the batch join on the same table."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    from quiver_spark.tables import load

    d = str(tmp_path / "events_qv")
    load(spark, SF_DIR, "events").coalesce(4).write.format("quiverjvm").mode(
        "overwrite"
    ).save(d)

    def side(event_type, prefix):
        return (
            spark.readStream.format("quiverjvm")
            .load(d)
            .filter(F.col("event_type") == event_type)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "2 hours")
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
        )

    pairs = side("view", "v").join(
        side("purchase", "p"),
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("jvm_vp_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = spark.table("jvm_vp_join").toPandas()
    ev = load(spark, SF_DIR, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    batch = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).toPandas()
    key = ["v_user", "v_ts", "p_user", "p_ts"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    assert len(got) == len(batch) and len(batch) > 0
    for k in key:
        assert (got[k].values == batch[k].values).all()


def test_jvm_stream_pipeline_watermark_restart(spark, tmp_path):
    """Round 14 (VERDICT r13 Next #7): checkpointed RESTART of the full
    pipeline — JVM stream source → watermarked hourly window agg
    (append mode) → routed stream sink. The first drain closes only the
    windows behind the watermark; a second source commit straddles a
    window boundary, and the restarted query must (a) restore the open
    window's state from the checkpoint (its count spans BOTH commits),
    (b) never re-emit an already-published window (append-only sink ⇒ a
    re-emission would duplicate keys), (c) leave the tail window open.
    The sink is sources.stream_writer: one sources.write append per
    micro-batch."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    from quiver_spark.sources import stream_writer

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")

    def write_minutes(lo, hi, mode):
        (
            spark.range(lo, hi)
            .selectExpr(
                "CAST(TIMESTAMP'2024-01-01 00:00:00' + id * INTERVAL '1' "
                "MINUTE AS TIMESTAMP_NTZ) AS ts",
                "CAST(id AS DOUBLE) AS value",
            )
            .coalesce(1)
            .write.format("quiverjvm")
            .mode(mode)
            .save(src)
        )

    def run_once():
        windowed = (
            spark.readStream.format("quiverjvm")
            .load(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "17 minutes")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("win.start").alias("ws"), "cnt")
        )
        q = (
            stream_writer(windowed, dst)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    # commit 1: minutes 0..320 → max ts 320 min, watermark 303 min →
    # windows ending ≤ 303 min close: hours 0..4 (ends 60..300)
    write_minutes(0, 321, "overwrite")
    run_once()
    first = {
        r.ws: r.cnt
        for r in spark.read.format("quiverjvm").load(dst).collect()
    }
    assert len(first) == 5, first
    assert set(first.values()) == {60}, first  # full hours only

    # commit 2: minutes 321..600 — window 5 (300-360) straddles commits
    write_minutes(321, 601, "append")
    run_once()
    rows = spark.read.format("quiverjvm").load(dst).collect()
    got = {r.ws: r.cnt for r in rows}
    # no duplicate emission of any window
    assert len(rows) == len(got), rows
    # final watermark 600-17=583 min → windows 0..8 closed (end ≤ 560?
    # end of hour 8 window = 540 ≤ 583; hour 9 window end 600 > 583 stays
    # open). Window 5's count spans both commits (restored state).
    assert len(got) == 9, sorted(got)
    assert set(got.values()) == {60}, got


def test_jvm_stream_metadata_column_upstream_gap(spark, tmp_path):
    """The `_quiver_file` metadata column is BATCH-only today: Spark
    4.1.2's streaming DSv2 resolves a selected metadata column into the
    relation output but never delivers it to pruneColumns, so the stream
    fails in Spark's own execution (the scan was never asked for the
    column). This pin documents the upstream gap — if a Spark upgrade
    starts passing metadata columns to streaming scans, this test FAILS
    and the (already-wired) metaIdx path starts serving the column; drop
    this pin and advertise streaming file identity then."""
    if not _jvm_stream_ready(spark):
        import pytest as _pytest

        _pytest.skip("quiverjvm jar unavailable")
    import tempfile

    src = str(tmp_path / "src")
    spark.range(10).selectExpr("id").coalesce(1).write.format(
        "quiverjvm"
    ).mode("overwrite").save(src)
    # batch: the metadata column works
    b = spark.read.format("quiverjvm").load(src).select("id", "_quiver_file")
    assert b.count() == 10
    assert all(r["_quiver_file"].endswith(".quiver") for r in b.collect())
    # streaming: upstream never delivers the column to the scan
    q = (
        spark.readStream.format("quiverjvm")
        .load(src)
        .select("id", "_quiver_file")
        .writeStream.format("memory")
        .queryName("meta_gap")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    import pyspark.errors

    try:
        q.awaitTermination(60)
        streamed_ok = True
    except pyspark.errors.exceptions.captured.StreamingQueryException:
        streamed_ok = False
    assert not streamed_ok, (
        "Spark now delivers metadata columns to streaming scans — "
        "drop this pin and advertise streaming file identity"
    )


def test_quiverjvm_stream_scan_leaves_no_trace(spark):
    """The streaming gate query runs its stream in a sibling session and
    cleans up after the drain: the caller's SQL conf and temp views are
    unchanged and no checkpoint directory is left behind."""
    import glob
    import tempfile

    from quiver_spark.jvm import attach_jar
    from quiver_spark.operators.format_queries_jvm import quiverjvm_stream_scan

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar unavailable")

    def checkpoints():
        return set(glob.glob(
            os.path.join(tempfile.gettempdir(), "quiver_qjs_ckpt_*")
        ))

    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    parts = spark.conf.get("spark.sql.shuffle.partitions")
    before = (checkpoints(), views())
    rows = quiverjvm_stream_scan(spark, SF_DIR).collect()
    assert len(rows) == 5  # one aggregate row per language
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert (checkpoints(), views()) == before


@pytest.mark.parametrize(
    "name",
    [
        "quiverjvm_stream_sink_scan",
        "quiverjvm_stream_pipeline_scan",
        "quiverjvm_stream_sessions_scan",
    ],
)
def test_stream_fixture_builds_leave_no_trace(
    spark, duck, tmp_path, monkeypatch, name
):
    """Building a stream gate's fixture from scratch (a fresh cache root)
    runs its stream in a sibling session and removes its checkpoint: the
    caller's SQL conf and the temp directory are unchanged, and the
    query still equals its oracle exactly."""
    import tempfile

    from test_oracle_parity import assert_frames_match

    from quiver_spark.jvm import attach_jar
    from quiver_spark.operators import format_queries, format_queries2
    from quiver_spark.registry import load_all_operators
    from quiver_spark.sources import register

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar unavailable")
    register(spark)
    spec = load_all_operators()[name]
    tmp = tempfile.gettempdir()

    def build(cache: str):
        monkeypatch.setattr(format_queries, "CACHE_ROOT", cache)
        monkeypatch.setattr(format_queries2, "CACHE_ROOT", cache)
        got = spec.spark(spark, SF_DIR).toPandas()
        assert os.path.isdir(cache)
        return got

    confs = spark.conf.getAll
    # a first build creates the JVM's one-time temp files (native codec
    # libraries, the artifact root), which a second build no longer does
    build(str(tmp_path / "warm"))
    files = set(os.listdir(tmp))
    got = build(str(tmp_path / "cache"))
    assert spark.conf.getAll == confs
    assert set(os.listdir(tmp)) == files, sorted(set(os.listdir(tmp)) ^ files)
    assert_frames_match(got, duck.execute(spec.oracle).fetchdf(), name)
