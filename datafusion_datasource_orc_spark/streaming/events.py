"""Structured Streaming operators over the events table.

Beyond-reference: the reference is strictly batch (SURVEY.md §2C — no
streaming model anywhere in the crate). These operators give the engine the
streaming half of a training-data pipeline: incremental ingestion with event
-time windows, watermarked late-data handling, and stateful running
aggregates.

Design: each streaming transformation shares its aggregation expressions
with the batch twin in ``operators/events.py``, so batch results
oracle-validate streaming semantics (run via ``trigger(availableNow=True)``
on a file source and compare — that is exactly what tests/test_streaming.py
does).

Scale notes: file-source streaming partitions by input files;
``maxFilesPerTrigger`` bounds micro-batch size. Watermark = 1 hour: state for
closed windows is dropped, so long-running state stays bounded no matter the
input volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_datasource_orc_spark.functions.portable import money_sum

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream (schema must be declared for streaming reads)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(source_dir)


def stream_tumbling_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators.events.events_tumbling_window: watermarked
    1-hour tumbling counts + exact-decimal value sums per event_type."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            money_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


def stream_dedup_events(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming ingest dedup: at-least-once delivery re-sends events, so
    drop re-deliveries whose idempotency key (event_id) was already seen
    within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` bounds the dedup state to the watermark
    window — the continuous-ingest analogue of the batch dedup family
    (operators/dedup.py). Plain ``dropDuplicates`` on a stream would keep
    every key ever seen in state and OOM a 100 TB/day feed; within-watermark
    state stays proportional to event rate x horizon regardless of total
    history."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_user_running_totals(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful per-user aggregate (complete-per-key semantics via update
    mode): event count + value total per user."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value")).alias("total_value"),
        )
    )


USER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)


def _update_user_state(key, pdf_iter, state):
    """applyInPandasWithState kernel: per-user running (count, sum) carried
    across micro-batches. Arrow-batched — one Python call per user-batch."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    import pandas as pd

    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


def stream_user_state_custom(stream: DataFrame) -> DataFrame:
    """Custom stateful operator (beyond reference — SURVEY §2C: streaming is
    wholly absent there): arbitrary per-key state via applyInPandasWithState.
    The built-in groupBy covers count/sum; this is the extension point for
    state machines that aggregates can't express (fraud scoring, per-user
    model state). State is per-key and partition-local — scales horizontally
    with executors; no timeout here, so pair with watermark-based TTL for
    unbounded key spaces at 100 TB."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=USER_STATE_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_enrich_segments(
    stream: DataFrame, customers: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-static enrichment join + windowed aggregate: each event joins
    the static customer dimension (user_id → c_custkey) to pick up the
    market segment, then counts per (1-hour window, segment).

    The static side is explicitly broadcast — on a cluster the dimension
    ships once per executor and every micro-batch joins map-side, no state
    and no shuffle of the stream. This is THE pattern for enriching a 100
    TB/day event stream with reference data; only if the dimension itself
    outgrows broadcast does it become a stateful stream-stream join."""
    dim = F.broadcast(customers.select("c_custkey", "c_mktsegment"))
    return (
        stream.withWatermark("ts", watermark)
        .join(dim, stream.user_id == dim.c_custkey)
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            money_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "c_mktsegment",
            "cnt",
            "total_value",
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming query over all currently-available input
    (trigger=availableNow) into an in-memory sink and return the result as a
    batch DataFrame. This is the test/validation harness path."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def stream_stream_click_purchase(
    clicks: DataFrame, purchases: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: each click joined to the same user's
    purchases within the following hour. Both sides carry watermarks and the
    join condition bounds event-time distance, so Spark can expire buffered
    state once the watermark passes — the state-boundedness contract every
    stream-stream join needs at scale (an unbounded-time join would buffer
    the full streams forever)."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id", "c_user", "click_ts", "purchase_ts")


def stream_to_orc(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    query_name: str = "orc_sink",
):
    """Streaming ORC sink: continuous ingest writing the ORC lake the batch
    engine reads — the streaming half of the connector surface (the
    reference's writer is a stub, src/writer.rs:18-23; Spark gives us an
    exactly-once file sink for free).

    Exactly-once comes from the checkpoint + file-sink manifest (_spark_
    metadata): a restarted query never re-commits a batch's files. At
    100 TB/day pair this with `compact_orc` on a schedule — micro-batches
    produce many small files by design, and compaction restores
    scan-friendly sizes downstream.

    Files are written with the session's ORC codec. Returns the started
    StreamingQuery (caller awaits / stops); processes all currently-available
    input per trigger.
    """
    return (
        stream_df.writeStream.format("orc")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def stream_session_windows(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators.events.events_session_window: gap-based
    (30-minute) sessionization via the native session_window operator under
    a watermark — the 100 TB streaming-sessionization path the batch
    docstring promises. State per (user, open session) only; the watermark
    closes sessions and evicts state, which is what makes indefinite
    sessionization of an unbounded feed feasible at all."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            "n_events",
            F.floor(F.col("w.start").cast("double")).cast("long").alias(
                "session_start_epoch"
            ),
        )
    )
