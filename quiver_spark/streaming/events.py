"""Structured Streaming recipes over the events table (SURVEY.md §2.3
streaming row — absent from the reference, mandated by the driver).

Everything is expressed with stock Structured Streaming primitives:
file-stream source, `withWatermark` for late data, `window()` /
`session_window()` aggregations, `dropDuplicatesWithinWatermark`. Each
recipe has a batch twin in quiver_spark.operators.events, and the tests run
the streams with Trigger.AvailableNow against the batch results.

Scale posture: streaming state is keyed by (window × group) or
(session × user) — bounded by the watermark horizon, not by stream length;
no per-record driver state anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from quiver_spark.session import configure

#: Raw stream schema when events.ts is stored as int64 nanos (Spark cannot
#: type TIMESTAMP(NANOS) parquet natively — see tables.load).
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _events_ts_is_int64_nanos(events_dir: str) -> bool:
    """Probe one parquet footer to learn how Spark will see ``ts``.

    readStream forces a schema, so the branch must be decided before the
    stream opens. With ``spark.sql.legacy.parquet.nanosAsLong=true`` (set by
    session.configure) Spark reads BOTH a physical int64 column and a
    TIMESTAMP(NANOS) logical column as bigint — but pyarrow's footer reports
    the latter as timestamp[ns] — so both map to the int64-nanos branch
    here. Only a genuine timestamp[us/ms/s] column takes the native branch.
    One driver-side footer read, no data I/O; an events dir with no
    readable footer is an explicit error rather than a silent guess.
    """
    import glob
    import os

    import pyarrow.parquet as pq

    candidates = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    if os.path.isfile(events_dir):
        candidates = [events_dir]
    for path in candidates:
        try:
            field = pq.read_schema(path).field("ts")
        except (OSError, KeyError):
            continue
        import pyarrow as pa

        t = field.type
        return pa.types.is_int64(t) or (
            pa.types.is_timestamp(t) and t.unit == "ns"
        )
    raise FileNotFoundError(
        f"no parquet file with a 'ts' column under {events_dir}; cannot "
        "choose the stream's ts layout (pass a landing dir seeded with at "
        "least one file)"
    )


def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-stream source over a directory of events parquet files, with the
    ts column normalized to a naive timestamp. New files appearing in the
    directory are picked up per micro-batch (the standard landing-zone
    pattern). Handles both physical layouts the driver has shipped:
    timestamp[us] (read natively) and int64 nanos (truncated to micros,
    matching tables.load / DuckDB's TIMESTAMP(NANOS) handling)."""
    configure(spark)
    if _events_ts_is_int64_nanos(events_dir):
        raw = (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", "4")
            .parquet(events_dir)
        )
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp")
        )
    schema = StructType(
        [
            f if f.name != "ts" else StructField("ts", TimestampNTZType())
            for f in EVENTS_RAW_SCHEMA.fields
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(events_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1h windows with a late-data watermark (batch twin:
    events_hourly_rollup)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def sessionized_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-based), the streaming twin of the
    batch events_sessionize recipe."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("event_cnt"))
        .select(
            "user_id",
            F.date_format(F.col("s.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "event_cnt",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-event_id within the watermark horizon — the
    streaming dedup primitive (state is bounded by the watermark)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def user_totals_stateful(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (SURVEY §2.3
    streaming row): per-user running totals held in explicit GroupState —
    the extension point for operators Spark's built-in windows can't
    express. State is one row per user (bounded by cardinality, not stream
    length); each micro-batch emits the updated running totals."""
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_cnt", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("cnt", LongType()), StructField("sv", DoubleType())]
    )

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        cnt, sv = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            cnt += len(pdf)
            sv += float(pdf["value"].sum())
        state.update((cnt, sv))
        yield pd.DataFrame(
            {"user_id": [key[0]], "event_cnt": [cnt], "sum_value": [sv]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def write_quiver_stream(df: DataFrame, out_dir: str, checkpoint: str):
    """Stream into a quiver directory (one append per micro-batch)
    through ``sources.stream_writer``."""
    from quiver_spark.sources import stream_writer

    return (
        stream_writer(df, out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def view_purchase_join(
    views: DataFrame, purchases: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked stream-stream interval join (batch twin:
    operators.pipeline4.events_interval_join): each view event inner-joined
    to the same user's purchase events within the following hour — the
    streaming attribution/conversion join.

    Both sides carry watermarks and the join condition bounds event time in
    BOTH directions, so Spark can size the join state: buffered rows older
    than watermark − interval are dropped on each side instead of being
    retained for the life of the stream. Inner-join matches are emitted as
    found (append mode); state stays bounded by the join horizon."""
    v = (
        views.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", watermark)
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark)
    )
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    )


def user_totals_tws(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-user running totals via transformWithStateInPandas — the
    Spark 4 arbitrary-state API (successor of applyInPandasWithState):
    explicit typed ValueState through a StatefulProcessorHandle, RocksDB
    state store required. Functionally the twin of user_totals_stateful;
    both are kept because fleets migrate between the two APIs.

    ENVIRONMENT NOTE: executing this requires `google.protobuf` (the TWS
    state-server wire protocol imports StateMessage_pb2); in environments
    without protobuf the stream fails at initialization — the test suite
    skips with that reason, and applyInPandasWithState (no protobuf
    dependency) covers the custom-stateful surface.

    State is one (cnt, sum) row per user — bounded by key cardinality;
    each micro-batch emits the keys it touched (update mode)."""
    import pandas as pd  # noqa: F401 (worker-side import check)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_cnt", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals",
                StructType(
                    [
                        StructField("cnt", LongType()),
                        StructField("sv", DoubleType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            cnt, sv = (
                self._totals.get() if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                cnt += len(pdf)
                sv += float(pdf["value"].sum())
            self._totals.update((cnt, sv))
            yield pd.DataFrame(
                {"user_id": [key[0]], "event_cnt": [cnt], "sum_value": [sv]}
            )

        def close(self) -> None:
            return None

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )
