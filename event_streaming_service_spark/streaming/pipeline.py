"""Structured Streaming layer: W1-W9 (SURVEY.md section 2.8, 3.2).

The reference's consume loop (poll <= 500 records on 3 listener
threads, validate, dedup against Redis TTL state, process, ack or
retry/DLQ — BaseEventConsumer.java:53-105) maps onto Structured
Streaming micro-batches:

    W1  micro-batch trigger/size   -> trigger(processingTime) +
                                      maxFilesPerTrigger / maxOffsetsPerTrigger
    W3  late-data policy (7 days)  -> withWatermark("ts", "7 days")
    W4  idempotency TTL (3600 s)   -> dropDuplicatesWithinWatermark, 1 h
    W5/W6 retry + DLQ routing      -> driver-side control flow in
                                      foreachBatch (control flow, not dataflow)
    W7  progress reporting         -> StreamingQueryListener / batch metrics
    W8  windowed aggregations      -> window()/session_window() (native;
                                      batch twins in operators/windows.py)
    W9  exactly-once               -> checkpoint + idempotent-by-batch_id sink

On a real deployment the source swaps to format("kafka") with
maxOffsetsPerTrigger=500 — every transformation below is
source-agnostic. Fixtures drive it as a file stream.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from event_streaming_service_spark.operators import pipeline as batch_pipeline

EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])

LATE_DATA_HORIZON = "7 days"    # W3: BaseEventConsumer.java:150-159
IDEMPOTENCY_HORIZON = "1 hour"  # W4: 3600 s Redis TTL, :43-47
CLOCK_COL = "_consume_now"      # consume_to_tables' per-batch clock


def read_event_stream(spark: SparkSession, source_dir: str,
                      max_files_per_trigger: int = 1) -> DataFrame:
    """W1: micro-batch file source (kafka twin: maxOffsetsPerTrigger=500,
    KafkaConfig.java:117)."""
    return (spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir))


def with_late_data_policy(stream: DataFrame,
                          horizon: str = LATE_DATA_HORIZON) -> DataFrame:
    """W3: events older than the horizon are dropped from stateful ops
    (the reference logs-and-counts them; the watermark is the engine-
    native form of the same policy)."""
    return stream.withWatermark("ts", horizon)


def dedup_stream(stream: DataFrame,
                 horizon: str = IDEMPOTENCY_HORIZON) -> DataFrame:
    """D1/D2/W4: idempotent consumption. dropDuplicatesWithinWatermark
    keeps first-seen event_ids and expires state once event-time passes
    the horizon — the event-time analogue of the reference's
    wall-clock Redis TTL (documented delta: TTL is processing-time;
    a strict twin would be applyInPandasWithState with timers)."""
    return (stream.withWatermark("ts", horizon)
            .dropDuplicatesWithinWatermark(["event_id"]))


def tumbling_counts(stream: DataFrame, width: str = "10 minutes",
                    watermark: str = "30 minutes") -> DataFrame:
    """W8: native tumbling window agg with watermarked state eviction.
    The value sum goes through an exact decimal accumulator so the
    result is independent of micro-batch arrival order (a plain double
    sum varies in the last ulps with batching, which would make the
    stream unequal to its batch twin)."""
    return (stream.withWatermark("ts", watermark)
            .groupBy(F.window("ts", width), F.col("event_type"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(24,4)")).cast("double")
                  .alias("sum_value"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "event_type", "n", "sum_value"))


def session_counts(stream: DataFrame, gap: str = "30 minutes",
                   watermark: str = "1 hour") -> DataFrame:
    """W8: native session windows per user."""
    return (stream.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap), F.col("user_id"))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "user_id", "n_events"))


def interval_join(left: DataFrame, right: DataFrame, key: str,
                  left_ts: str, right_ts: str,
                  within: str = "1 hour",
                  watermark: str = "1 hour",
                  how: str = "inner") -> DataFrame:
    """Stream-stream interval join: pair each right-side event with the
    left-side events of the same key that precede it by at most
    `within` (the funnel-attribution shape: view -> purchase).

    Both sides carry watermarks and the time condition bounds state on
    BOTH sides, so Spark evicts left rows once the right watermark
    passes left_ts + within — bounded state at any stream length,
    which is what makes this runnable forever on a real cluster.

    Emission is deterministic on a static, time-ordered source:

    * inner: matches emit when the later side arrives (the watermark
      bounds STATE, not output), and with time-sorted input the
      earlier side is always already in state — the emitted set equals
      the batch join (pinned by the stream/batch equivalence test).
    * leftOuter: additionally emits null-padded left rows once their
      state is evicted, i.e. when the final watermark passes
      left_ts + within — so unmatched rows near the stream tail
      (left_ts + within >= final watermark) stay in state and are NOT
      emitted. The batch-twin oracle reproduces exactly that rule
      (empirically pinned at ms granularity, driver-verified by
      streaming_interval_join_outer).

    Columns are disambiguated by aliasing the two sides l/r.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    return l.join(
        r,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {within}")),
        how)


def consume_to_tables(stream: DataFrame, main_dir: str, dlq_dir: str,
                      checkpoint_dir: str, now_fn: Callable[[], F.Column] | None = None,
                      process: Callable[[DataFrame], DataFrame] | None = None,
                      ) -> StreamingQuery:
    """The full consume path (section 3.2) as one foreachBatch body:

        batch -> validate -> split -> [valid: dedup -> process -> main]
                                      [invalid: DLQ decoration -> dlq]

    Exactly-once (W9): the checkpoint tracks source progress and each
    batch writes into batch_id-scoped output directories, so a replayed
    batch overwrites its own previous (possibly partial) attempt instead
    of appending duplicates — idempotent-by-batch_id, the standard
    foreachBatch exactly-once recipe.

    Validation clock: the 7-day age check reads one clock per
    micro-batch. It is a column added to the stream before
    foreachBatch: `now_fn()` if given, else `current_timestamp()`,
    which Spark evaluates as the micro-batch's timestamp and records in
    the checkpoint's offset log. Both branches validate against that
    one value, so no row crosses the horizon between the main and the
    DLQ write and lands in both; a replayed batch reuses its recorded
    timestamp and rewrites the same rows. The column is dropped before
    `process` and both writes; output schemas do not carry it.
    """
    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        valid, invalid = batch_pipeline.split_valid_invalid(
            batch.withColumn("event_key", F.col("event_id").cast("string"))
                 .withColumn("topic", F.concat(F.lit("nnipa.events."),
                                               F.col("event_type"))),
            "event_key", "ts", F.col(CLOCK_COL))
        # deterministic first-wins (bare dropDuplicates keeps a
        # scheduling-dependent survivor, so a replayed batch could
        # rewrite its directory with different rows — breaking the
        # idempotent-by-batch_id property this sink advertises)
        out = batch_pipeline.dedup_earliest(valid.drop(CLOCK_COL),
                                            ["event_id"], ["ts", "event_id"])
        if process is not None:
            out = process(out)
        (out.write.mode("overwrite")
            .parquet(f"{main_dir}/batch_id={batch_id}"))
        dlq = batch_pipeline.to_dlq(invalid.drop(CLOCK_COL))
        (dlq.write.mode("overwrite")
            .parquet(f"{dlq_dir}/batch_id={batch_id}"))

    now = now_fn() if now_fn is not None else F.current_timestamp()
    return (stream.withColumn(CLOCK_COL, now).writeStream
            .foreachBatch(handle_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def retrying_sink(stream: DataFrame, out_dir: str, checkpoint_dir: str,
                  attempt_fn: Callable[[DataFrame, int], DataFrame],
                  max_retries: int = batch_pipeline.MAX_RETRIES,
                  ) -> StreamingQuery:
    """W5: retry-with-backoff as driver-side control flow. Each batch is
    attempted up to max_retries times (the reference's handler,
    BaseEventConsumer.java:209-234); rows still failing are written to
    the retry-exhausted DLQ with their attempt count."""
    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        remaining = batch
        for attempt in range(max_retries + 1):
            try:
                result = attempt_fn(remaining, attempt)
                result.write.mode("overwrite").parquet(
                    f"{out_dir}/batch_id={batch_id}")
                return
            except Exception:
                if attempt >= max_retries:
                    (remaining.withColumn("exhausted_after", F.lit(attempt))
                     .write.mode("overwrite")
                     .parquet(f"{out_dir}/dlq/batch_id={batch_id}"))
                    return
                # backoff between attempts mirrors backoff_ms; in local
                # tests the delay is skipped (control flow is the point)

    return (stream.writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def running_type_counts(stream: DataFrame) -> DataFrame:
    """Watermark-free running aggregate per event type (count + exact
    integer-cents value sum) — the UPDATE-mode shape: state is one
    (count, sum) pair per key, every micro-batch emits the keys it
    changed with their new running totals. Complements the append-mode
    windowed aggs (emission driven by watermark finalization) with the
    live-dashboard form (emission driven by change).

    Because both aggregates are MONOTONE over non-negative inputs, the
    final value of a key equals the MAX over all its emissions — which
    is how a consumer reconciles an update-mode changelog without
    batch ids (query_defs/streaming_queries.py relies on exactly that
    to oracle-check the changelog against the batch GROUP BY)."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    return (stream
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(cents).alias("value_cents")))
