"""Structured Streaming layer tests (W1-W9): file-driven micro-batches,
watermark dedup, windowed aggs, foreachBatch consume/retry/DLQ,
exactly-once replays."""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from event_streaming_service_spark.sources import tables
from event_streaming_service_spark.streaming import pipeline as sp


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ess-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_source(spark, sf_smoke, tmpdir, n_files=2) -> str:
    src = f"{tmpdir}/source"
    ev = tables.load_table(spark, sf_smoke, "events")
    ev.repartition(n_files).write.mode("overwrite").parquet(src)
    return src


def test_stream_tumbling_counts_match_batch(spark, sf_smoke, tmpdir):
    src = _write_source(spark, sf_smoke, tmpdir)
    stream = sp.read_event_stream(spark, src)
    q = (sp.tumbling_counts(stream, "1 hour", "30 minutes")
         .writeStream.outputMode("append").format("memory")
         .queryName("tumbling_out").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT sum(n) AS total FROM tumbling_out").first().total or 0
    # append mode emits only windows the watermark has closed; the final
    # open windows stay in state, so emitted <= batch total and > 0
    batch_total = tables.load_table(spark, sf_smoke, "events").count()
    assert 0 < got <= batch_total


def test_stream_dedup_within_watermark(spark, tmpdir):
    src = f"{tmpdir}/dupsrc"
    rows = [(1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
            (1, "2024-01-01 10:05:00", 1, "view", 1.0, "{}"),  # dup id
            (2, "2024-01-01 10:06:00", 1, "view", 1.0, "{}")]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, "
              "value double, props string") \
        .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s") \
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = sp.read_event_stream(spark, src)
    q = (sp.dedup_stream(stream).writeStream.outputMode("append")
         .format("memory").queryName("dedup_out")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_out").collect()
    assert sorted(r.event_id for r in got) == [1, 2]


def test_consume_to_tables_splits_valid_and_dlq(spark, sf_smoke, tmpdir):
    src = _write_source(spark, sf_smoke, tmpdir, n_files=1)
    main, dlq, ckpt = f"{tmpdir}/main", f"{tmpdir}/dlq", f"{tmpdir}/ckpt"
    # fixed "now" just past the fixture's last event: some events stale
    now_fn = lambda: F.lit("2024-02-03 00:00:00").cast("timestamp")
    q = sp.consume_to_tables(
        sp.read_event_stream(spark, src), main, dlq, ckpt, now_fn=now_fn)
    q.awaitTermination(120)
    n_events = tables.load_table(spark, sf_smoke, "events").count()
    n_main = spark.read.parquet(main).count()
    n_dlq = spark.read.parquet(dlq).count()
    assert n_main + n_dlq == n_events
    assert n_dlq > 0
    dlq_row = spark.read.parquet(dlq).first()
    assert dlq_row.dlq_topic.startswith("nnipa.dlq.")
    assert dlq_row.error_class == "ValidationException"


def test_consume_exactly_once_on_restart(spark, sf_smoke, tmpdir):
    """W9: re-running with the same checkpoint must not duplicate rows."""
    src = _write_source(spark, sf_smoke, tmpdir, n_files=1)
    main, dlq, ckpt = f"{tmpdir}/main", f"{tmpdir}/dlq", f"{tmpdir}/ckpt"
    now_fn = lambda: F.lit("2024-02-03 00:00:00").cast("timestamp")
    for _ in range(2):  # second run: checkpoint says nothing new -> no-op
        q = sp.consume_to_tables(
            sp.read_event_stream(spark, src), main, dlq, ckpt, now_fn=now_fn)
        q.awaitTermination(120)
    n_events = tables.load_table(spark, sf_smoke, "events").count()
    assert (spark.read.parquet(main).count()
            + spark.read.parquet(dlq).count()) == n_events


def test_consume_replay_keeps_its_batch_clock(spark, tmpdir):
    """One validation clock per micro-batch, recorded in the checkpoint.

    The source's timestamps cross the 7-day horizon every 20 ms over
    the two minutes after it is written, so a clock that moved
    between the main and the DLQ write would put some event_id in both
    tables, and a replay with a new clock would rewrite its batch with
    different rows."""
    src = f"{tmpdir}/edge"
    main, dlq, ckpt = f"{tmpdir}/main", f"{tmpdir}/dlq", f"{tmpdir}/ckpt"
    horizon_us = int((time.time() - 7 * 86_400 - 5) * 1e6)
    (spark.range(6_000)
     .select(F.col("id").alias("event_id"),
             F.timestamp_micros(F.lit(horizon_us) + F.col("id") * 20_000)
              .alias("ts"),
             F.lit(1).cast("long").alias("user_id"),
             F.lit("view").alias("event_type"), F.lit(1.0).alias("value"),
             F.lit("{}").alias("props"))
     .repartition(2).write.mode("overwrite").parquet(src))

    def drain():
        q = sp.consume_to_tables(sp.read_event_stream(spark, src),
                                 main, dlq, ckpt)
        q.awaitTermination(120)
        assert q.exception() is None
        return q

    def written():
        return ({(r.batch_id, r.event_id) for r in
                 spark.read.parquet(main).select("batch_id", "event_id")
                 .collect()},
                {(r.batch_id, r.event_id, r.reject_reason) for r in
                 spark.read.parquet(dlq)
                 .select("batch_id", "event_id", "reject_reason").collect()})

    drain()
    first_main, first_dlq = written()
    assert first_main and first_dlq
    assert not ({e for _, e in first_main} & {e for _, e, _ in first_dlq})

    # forget that the last batch committed: the restart replays it
    last = max(int(f) for f in os.listdir(f"{ckpt}/commits") if f.isdigit())
    os.remove(f"{ckpt}/commits/{last}")
    os.remove(f"{ckpt}/commits/.{last}.crc")
    replay = drain()
    assert any(p.numInputRows > 0 for p in replay.recentProgress)
    assert written() == (first_main, first_dlq)


def test_retrying_sink_exhausts_to_dlq(spark, tmpdir):
    src = f"{tmpdir}/rsrc"
    spark.createDataFrame([(1,)], "event_id long") \
        .withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp")) \
        .withColumn("user_id", F.lit(1).cast("long")) \
        .withColumn("event_type", F.lit("view")) \
        .withColumn("value", F.lit(1.0)) \
        .withColumn("props", F.lit("{}")) \
        .select("event_id", "ts", "user_id", "event_type", "value", "props") \
        .coalesce(1).write.mode("overwrite").parquet(src)

    def always_fail(df, attempt):
        raise RuntimeError(f"boom attempt {attempt}")

    out, ckpt = f"{tmpdir}/out", f"{tmpdir}/rckpt"
    q = sp.retrying_sink(sp.read_event_stream(spark, src), out, ckpt,
                         always_fail, max_retries=2)
    q.awaitTermination(120)
    dlq = spark.read.parquet(f"{out}/dlq")
    rows = dlq.collect()
    assert len(rows) == 1 and rows[0].exhausted_after == 2


def test_session_counts_stream_runs(spark, sf_smoke, tmpdir):
    src = _write_source(spark, sf_smoke, tmpdir, n_files=1)
    q = (sp.session_counts(sp.read_event_stream(spark, src))
         .writeStream.outputMode("append").format("memory")
         .queryName("sess_out").trigger(availableNow=True).start())
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) c FROM sess_out").first().c
    assert n >= 0  # closed sessions only; state holds the tail


def test_session_window_exact_gap_boundary_merges(spark):
    # pins the merge rule the streaming_session_windows oracle encodes:
    # events EXACTLY gap apart merge; one microsecond past starts a new
    # session (new session iff consecutive delta > gap, not >=)
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"),
         (1, "2024-01-01 00:30:00"),            # == gap -> merges
         (1, "2024-01-01 01:00:00.000001")],    # gap + 1us -> new
        "user_id long, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = (df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
           .agg(F.count("*").alias("n"))
           .select("session_window.end", "n")
           .orderBy("end").collect())
    assert [r.n for r in out] == [2, 1]
    assert str(out[0].end) == "2024-01-01 01:00:00"  # last event + gap


def test_running_counts_update_mode_emits_changelog(spark, sf_smoke, tmpdir):
    """UPDATE-mode running aggregate: with 2 micro-batches the memory
    sink must hold MORE rows than keys (intermediate emissions are
    real), and the per-key MAX reconciliation must equal the batch
    GROUP BY totals exactly."""
    import uuid

    src = _write_source(spark, sf_smoke, tmpdir, n_files=2)
    sink = f"rtc_{uuid.uuid4().hex[:8]}"
    q = (sp.running_type_counts(sp.read_event_stream(spark, src))
         .writeStream.outputMode("update").format("memory")
         .queryName(sink).trigger(availableNow=True).start())
    q.awaitTermination(300)
    log = spark.table(sink)
    keys = log.select("event_type").distinct().count()
    assert log.count() > keys, "no intermediate emission: single batch?"

    got = {r["event_type"]: (r["n"], r["c"]) for r in
           log.groupBy("event_type")
              .agg(F.max("n_events").alias("n"),
                   F.max("value_cents").alias("c")).collect()}
    ev = tables.load_table(spark, sf_smoke, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    want = {r["event_type"]: (r["n"], r["c"]) for r in
            ev.groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(cents).alias("c")).collect()}
    assert got == want


def test_late_data_dropped_behind_watermark(spark, sf_oracle):
    """W3 driver-checkable form (round-6 registration candidate): the
    planted late batch must be DROPPED — the streaming result equals
    the batch twin over the on-time set, and differs from the
    include-everything aggregate (proving drops actually happened)."""
    from event_streaming_service_spark.query_defs.streaming_queries import (
        LATE_DROP_ORACLE,
        build_late_drop_counts,
    )
    from tests.parity import compare, run_oracle

    got = build_late_drop_counts(spark, sf_oracle)
    compare(got, run_oracle(LATE_DROP_ORACLE, sf_oracle),
            "late_drop_counts")

    naive = run_oracle(
        LATE_DROP_ORACLE.replace(
            "AND epoch_ms(e.ts) < b.max_ms - 21600000", "AND FALSE"),
        sf_oracle)
    assert len(naive) != len(got.collect()) or \
        int(naive["n"].sum()) != sum(r["n"] for r in got.collect()), \
        "late rows were not dropped — stream matched the naive batch"
