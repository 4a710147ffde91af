"""Structured Streaming pipelines (SURVEY §2b streaming, M5).

The reference has NO streaming of any kind — its flow is batch-per-
uploaded-file inside one Flask request (reference app.py:141-189; the
"Lambda" mentions in its UI are aspirational). The engine adds the
streaming surface a real event pipeline needs, as Structured Streaming
jobs whose transformations are IDENTICAL to the batch operators in
operators/events.py — batch is the oracle-checkable twin of each stream.

Every transformation here takes a (possibly streaming) DataFrame and
returns a DataFrame, so the same function body is unit-tested in batch
mode and run in streaming mode:

- tumbling/sliding window aggregates with watermarked late-data handling
- session windows (stateful gap-merge)
- streaming dedup within a watermark
- a custom stateful operator (per-user running aggregates) via
  ``applyInPandasWithState`` — the escape hatch for semantics the
  built-in operators can't express.

Every stream starts through ``run_available_now``, which gives a new
stream one state partition per task slot instead of the session's batch
``spark.sql.shuffle.partitions`` (a batch upper bound that AQE coalesces
down; a stream's shuffle is not coalesced). A memory drain
(``run_to_memory``) also skips checkpoint checksum files: its checkpoint
is a temporary directory Spark deletes when the query stops.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)

DEFAULT_WATERMARK = "30 minutes"


def read_event_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 10) -> DataFrame:
    """File-source stream: each new parquet file in ``path`` is a
    micro-batch (the streaming analog of the reference's one-file-per-job
    flow). ``maxFilesPerTrigger`` bounds per-batch work."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def hourly_stats(df: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Tumbling 1-hour per-type stats; same aggregates as the batch twin
    ``events_hourly_stats`` — including its decimal-sum-then-round
    convention (``dsum_rounded``), so the stream's emitted values are
    order-independent and bit-comparable to the batch/oracle result (a
    float sum would drift with partitioning). The watermark lets state
    for closed windows be dropped — without it, streaming state grows
    unboundedly."""
    from aws_saas_etl_spark.functions.num import dsum_rounded

    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_rounded(F.col("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sliding_stats(df: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Sliding 1h/30m window counts (streaming twin of
    ``events_sliding_windows``)."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def session_stats(df: DataFrame, gap: str = "10 minutes", watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Per-user session windows (streaming twin of
    ``events_session_stats``): state merges as events arrive, sessions
    close gap-after the last event once the watermark passes. Decimal
    sum (the batch twin's convention) so emitted values are independent
    of partitioning and batch order."""
    from aws_saas_etl_spark.functions.num import dsum_rounded

    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_rounded(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(df: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Exactly-once-per-event_id within the watermark horizon — bounded
    state, unlike a global dropDuplicates."""
    return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


RUNNING_STATE_SCHEMA = StructType(
    [StructField("n", LongType(), True), StructField("total", DoubleType(), True)]
)
RUNNING_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("n_events", LongType(), True),
        StructField("total_value", DoubleType(), True),
    ]
)


def _running_totals_fn(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Custom stateful kernel: accumulate per-user (count, sum) across
    micro-batches. Arrow-batched; state is a 2-field tuple."""
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
    )


def running_user_totals(df: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: emits the
    cumulative (count, sum) per user after every micro-batch — semantics
    the built-in agg can't give (continuous running output in update mode
    with explicit state control)."""
    return (
        df.groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=RUNNING_OUTPUT_SCHEMA,
            stateStructType=RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@contextmanager
def _session_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set ``key`` to ``value`` on the caller's session for the block,
    then restore the caller's value (or unset it), also when the block
    raises. Like the memo trace (``memo.py``), this assumes one thread
    drives a session at a time."""
    previous = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if previous is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, previous)


def run_available_now(writer: DataStreamWriter, spark: SparkSession) -> StreamingQuery:
    """Start ``writer`` with ``trigger(availableNow=True)``, wait until it
    has processed all pending input, and return the finished query. Every
    stream the engine starts goes through here.

    The stream starts with ``spark.sql.shuffle.partitions`` set to the
    cluster's task slots (``defaultParallelism``), so each micro-batch
    runs one state-store task per slot rather than the batch default
    (32 under ``get_spark``, 200 on a plain session): AQE is off inside
    a stream and cannot coalesce its shuffle. Spark clones the session
    when the query is created and records the count in the checkpoint's
    offset metadata, so the count holds for the stream's whole life and
    the caller's value is restored (or unset) as soon as ``start()``
    returns or raises. A resumed checkpoint keeps the count it recorded.
    """
    slots = str(spark.sparkContext.defaultParallelism)
    with _session_conf(spark, "spark.sql.shuffle.partitions", slots):
        q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def run_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> None:
    """Drain a stream into an in-memory table (test/debug sink) using
    availableNow — processes all pending input then stops.

    A memory sink has no ``checkpointLocation``: Spark checkpoints to a
    temporary directory and deletes it, file by file, before the query
    reports termination. So the drain starts with checkpoint checksum
    files off (``spark.sql.streaming.checkpoint.fileChecksum.enabled``):
    they would guard files nobody reads again, and each one is an extra
    file to create, and then delete, inside the drain (two per state
    partition per micro-batch, plus a thread pool per state store that
    outlives the query). Streams with a real checkpoint keep Spark's
    default.
    """
    spark = stream_df.sparkSession
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
    )
    checksums = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    with _session_conf(spark, checksums, "false"):
        run_available_now(writer, spark)


def enriched_event_stream(stream_df: DataFrame, dim_df: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a (bounded,
    broadcast) dimension snapshot — the streaming analog of the
    reference's users⋈jobs FK join. The static side re-reads per
    micro-batch; no state is kept."""
    return stream_df.join(
        F.broadcast(dim_df), stream_df["user_id"] == dim_df["dim_user_id"], "left"
    ).select(
        "event_id", "ts", "user_id", "event_type", "value", "user_segment"
    )


def click_purchase_attribution(
    stream_df: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    horizon_min: int | None = None,
) -> DataFrame:
    """Stream-stream interval join: purchases attributed to same-user
    clicks at most ``horizon_min`` minutes earlier.

    ``horizon_min`` defaults at CALL time to the batch twin's
    ``events.ATTRIBUTION_HORIZON_MIN`` — the stream pipeline, the batch
    operator, and the driver oracle share ONE constant, so editing it
    cannot desynchronize them (and call-time resolution keeps
    monkeypatching honest — the def-time binding pitfall documented in
    tests/test_functions.py).

    Both sides are watermarked and the join condition bounds purchase_ts
    on BOTH sides of click_ts, so Spark derives state-eviction watermarks
    for each buffer — state is O(events within horizon + watermark), not
    unbounded. Batch twin: operators/events.py:events_click_attribution.
    """
    if horizon_min is None:
        from aws_saas_etl_spark.operators.events import ATTRIBUTION_HORIZON_MIN

        horizon_min = ATTRIBUTION_HORIZON_MIN
    clicks = (
        stream_df.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream_df.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            "value",
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr(f"INTERVAL {horizon_min} MINUTES")
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")).alias(
            "secs_to_purchase"
        ),
        F.col("value").alias("purchase_value"),
    )


def upsert_batch_to_log(batch_df: DataFrame, batch_id: int, log_path: str) -> None:
    """``foreachBatch`` sink body: CDC-style keyed upsert without a
    transactional table format. The micro-batch is reduced to its latest
    row per user (map-side window within the batch), then APPENDED to a
    keyed log with the batch id — an idempotent, append-only write (a
    retried batch re-appends identical rows that latest-wins collapses),
    the same rollback-free design as operators/jobs.py:JobStore. A
    production deployment on a MERGE-capable table format would swap the
    append for a keyed MERGE; the reader contract below is unchanged.
    """
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = (
        batch_df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .withColumn("batch_id", F.lit(batch_id))
    )
    latest.write.mode("append").parquet(log_path)


def upsert_state(spark: SparkSession, log_path: str) -> DataFrame:
    """Latest-wins compaction view over the upsert log: one row per user,
    ordered by (ts, batch_id, event_id). The log is partition-pruned and
    the window shuffles on user_id — both scale-safe; periodic compaction
    (rewrite the view as the new log) bounds read amplification."""
    log = spark.read.parquet(log_path)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("batch_id"), F.desc("event_id")
    )
    return (
        log.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    )


def click_attribution_with_unmatched(
    stream_df: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    horizon_min: int | None = None,
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click emits — matched
    rows as soon as both sides arrive, UNMATCHED clicks only once the
    click-side watermark passes the join horizon (state eviction proves no
    match can still arrive). The outer side is the semantics inner joins
    can't give: "clicks that never converted" as a first-class stream.
    Same state bounds as the inner variant (both sides watermarked, the
    condition bounds purchase_ts from both directions).
    """
    if horizon_min is None:
        from aws_saas_etl_spark.operators.events import ATTRIBUTION_HORIZON_MIN

        horizon_min = ATTRIBUTION_HORIZON_MIN
    clicks = (
        stream_df.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream_df.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            "value",
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr(f"INTERVAL {horizon_min} MINUTES")
        ),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.col("purchase_id").isNull().cast("int").alias("unconverted"),
        F.col("value").alias("purchase_value"),
    )
