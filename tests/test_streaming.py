"""Streaming-leg tests (SURVEY.md §5.5): availableNow triggers over the
events table drive each job to completion synchronously; results are
checked against the equivalent batch computation."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from travel_data_pipeline_spark.sources.readers import load_table
from travel_data_pipeline_spark.streaming import jobs


@pytest.fixture()
def tmp_out(tmp_path):
    def mk(name: str) -> str:
        return str(tmp_path / f"{name}-{uuid.uuid4().hex[:6]}")
    return mk


@pytest.fixture(scope="module")
def events_batch(spark, sf_smoke):
    return load_table(spark, sf_smoke, "events")


def _run_memory(df, name: str):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return q


def test_bronze_passthrough(spark, sf_smoke, tmp_out, events_batch):
    out, ckpt = tmp_out("bronze"), tmp_out("ckpt")
    q = jobs.bronze_passthrough(jobs.read_events_stream(spark, sf_smoke), out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == events_batch.count()
    assert set(got.columns) == set(events_batch.columns)


def test_tumbling_counts_matches_batch(spark, sf_smoke, events_batch):
    stream = jobs.read_events_stream(spark, sf_smoke)
    agg = jobs.tumbling_counts(stream)
    _run_memory(agg, "tumbling_out")
    got = spark.table("tumbling_out")
    batch = (events_batch
             .groupBy(F.window("ts", "1 hour"), "event_type")
             .agg(F.count("*").alias("n")))
    assert got.count() == batch.count()
    assert got.agg(F.sum("n")).first()[0] == events_batch.count()


def test_session_window_matches_batch_sessionize(spark, sf_smoke, events_batch):
    from travel_data_pipeline_spark.operators.windows import sessionize

    stream = jobs.read_events_stream(spark, sf_smoke)
    agg = jobs.session_counts(stream, gap="30 minutes")
    _run_memory(agg, "session_out")
    got = spark.table("session_out")
    batch = sessionize(events_batch, "user_id", "ts", gap_minutes=30)
    assert got.count() == batch.count()
    # session boundaries agree (streaming end = last event + gap)
    g = got.select("user_id", "session_start", "session_end").orderBy(
        "user_id", "session_start").collect()
    b = batch.select("user_id", "session_start", "session_end").orderBy(
        "user_id", "session_start").collect()
    assert [(r.user_id, r.session_start, r.session_end) for r in g] == \
           [(r.user_id, r.session_start, r.session_end) for r in b]


def test_hot_cold_split(spark, sf_smoke, tmp_out, events_batch):
    stream = jobs.read_events_stream(spark, sf_smoke)
    hot_d, cold_d = tmp_out("hot"), tmp_out("cold")
    hq, cq = jobs.hot_cold_split(stream, hot_d, cold_d,
                                 tmp_out("hckpt"), tmp_out("cckpt"))
    hq.awaitTermination(120)
    cq.awaitTermination(120)
    hot_n = spark.read.parquet(hot_d).count()
    cold_n = spark.read.parquet(cold_d).count()
    expect_hot = events_batch.filter(
        F.col("event_type").isin("purchase", "error")).count()
    assert hot_n == expect_hot
    assert cold_n == events_batch.count()


def test_foreach_batch_upsert_idempotent(spark, sf_smoke, tmp_out, events_batch):
    stream = jobs.read_events_stream(spark, sf_smoke)
    agg = (stream.groupBy("event_type")
           .agg(F.count("*").alias("n")))
    target = tmp_out("merge_target")

    q = jobs.foreach_batch_upsert(agg, target, tmp_out("mckpt"), ("event_type",))
    q.awaitTermination(120)
    first = {r.event_type: r.n for r in spark.read.parquet(target).collect()}

    # redelivery: run the same data again with a fresh checkpoint ->
    # same final state (idempotent upsert, T3)
    q2 = jobs.foreach_batch_upsert(agg, target, tmp_out("mckpt2"), ("event_type",))
    q2.awaitTermination(120)
    second = {r.event_type: r.n for r in spark.read.parquet(target).collect()}
    assert first == second
    batch = {r.event_type: r.n for r in
             events_batch.groupBy("event_type").agg(F.count("*").alias("n"))
             .collect()}
    assert first == batch


def test_to_json_sink_roundtrip(spark, sf_smoke, tmp_out, events_batch):
    from travel_data_pipeline_spark import schemas

    stream = jobs.read_events_stream(spark, sf_smoke)
    out = tmp_out("jsonsink")
    q = jobs.to_json_sink(stream, out, tmp_out("jckpt"))
    q.awaitTermination(120)
    raw = spark.read.text(out)
    parsed = raw.select(F.from_json("value", schemas.EVENTS).alias("e")).select("e.*")
    assert parsed.count() == events_batch.count()
    assert parsed.filter(F.col("event_id").isNull()).count() == 0


def test_stateful_running_totals(spark, sf_smoke, events_batch):
    stream = jobs.read_events_stream(spark, sf_smoke)
    totals = jobs.running_totals_stateful(stream)
    q = (totals.writeStream.format("memory").queryName("stateful_out")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.user_id: (round(r.total_value, 2), r.n_events)
           for r in spark.table("stateful_out").collect()}
    batch = {r.user_id: (round(r.total, 2), r.n)
             for r in events_batch.groupBy("user_id")
             .agg(F.sum("value").alias("total"), F.count("*").alias("n"))
             .collect()}
    assert got == batch


def test_t2_producer_consumer_roundtrip(spark, sf_smoke, tmp_path):
    """SURVEY.md §3.2 end-to-end: the producer chunks keywords into
    task messages (T2/K2, google_trends_trigger.py:106-127), serialized
    as JSON (X19) through a queue-shaped file hop; the consumer stream
    parses with a fixed schema and explodes back to per-keyword work
    items. Every keyword survives exactly once with its group id."""
    import __spark_entry__ as entrymod

    from travel_data_pipeline_spark import schemas

    # producer: task table -> JSON messages on the "queue" (files)
    tasks = entrymod.queries()["t2_task_messages"](spark, sf_smoke)
    messages = tasks.select(F.to_json(F.struct(
        F.split("keywords", r"\|").alias("keywords"),
        F.lit("today 3-m").alias("timeframe"),
        F.lit("KR").alias("geo"),
        F.lit("2024-01-01T00:00:00+00:00").alias("request_time"),
    )).alias("value"))
    queue_dir = str(tmp_path / "queue")
    messages.coalesce(1).write.mode("overwrite").text(queue_dir)

    # consumer: stream the queue, schema'd from_json, explode keywords
    stream = (spark.readStream.schema("value string")
              .option("maxFilesPerTrigger", 1).text(queue_dir))
    parsed = (stream
              .select(F.from_json("value", schemas.TRENDS_TASK_MESSAGE)
                      .alias("task"))
              .select(F.explode("task.keywords").alias("keyword"),
                      "task.timeframe", "task.geo"))
    q = (parsed.writeStream.format("memory").queryName("consumer_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = [r.keyword for r in spark.table("consumer_out").collect()]
    n_keywords = tasks.agg(
        F.sum(F.size(F.split("keywords", r"\|")))).first()[0]
    assert len(got) == n_keywords
    assert len(set(got)) == n_keywords  # exactly once, no dup keywords
    assert all(k.endswith(" travel") for k in got)


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """T3 — restarting a checkpointed stream after new data arrives
    processes ONLY the new files: no duplicates, no gaps."""
    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    schema = "event_id long, value double"

    spark.createDataFrame([(1, 1.0), (2, 2.0)], schema) \
         .coalesce(1).write.parquet(str(src / "f1"))
    stream = (spark.readStream.schema(schema)
              .option("recursiveFileLookup", "true").parquet(str(src)))
    q = (stream.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2

    spark.createDataFrame([(3, 3.0)], schema) \
         .coalesce(1).write.parquet(str(src / "f2"))
    stream2 = (spark.readStream.schema(schema)
               .option("recursiveFileLookup", "true").parquet(str(src)))
    q2 = (stream2.writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3]  # exactly once: no re-processing of f1


def test_trends_stateful_growth_matches_batch(spark, tmp_path):
    """The stateful trends operator converges to the batch pipeline's
    recent/prior means + epsilon growth after consuming the same rows
    across two micro-batches (SURVEY.md §3.2 streaming twin)."""
    import math

    from pyspark.sql import Window

    from travel_data_pipeline_spark import fixtures as FX
    from travel_data_pipeline_spark.plans.trends import keyword_stats

    src = tmp_path / "trends"
    src.mkdir()
    schema = "group_id int, keyword string, ts timestamp, interest int"
    rows = sorted(FX.TRENDS_ROWS, key=lambda r: r[2])
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], schema).coalesce(1) \
         .write.parquet(str(src / "b1"))
    spark.createDataFrame(rows[half:], schema).coalesce(1) \
         .write.parquet(str(src / "b2"))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true")
              .parquet(str(src)))
    out = jobs.trends_growth_stateful(stream)
    q = (out.writeStream.format("memory").queryName("trend_state")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    # last update per key == full-history stats
    got_df = spark.table("trend_state")
    w = Window.partitionBy("group_id", "keyword").orderBy(F.col("n_obs").desc())
    latest = (got_df.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1))
    got = {(r.group_id, r.keyword): (r.recent_mean, r.prior_mean)
           for r in latest.collect()}

    batch = {(r.group_id, r.keyword): (r.recent_mean, r.prior_mean)
             for r in keyword_stats(spark).collect()}
    assert set(got) == set(batch)
    for k, (rm, pm) in batch.items():
        grm, gpm = got[k]
        assert math.isclose(grm, rm, rel_tol=1e-9), (k, grm, rm)
        assert (pm is None and math.isnan(gpm)) or \
            math.isclose(gpm, pm, rel_tol=1e-9), (k, gpm, pm)


def test_exchange_stream_matches_batch(spark, tmp_path):
    """SURVEY.md §3.1 streaming leg: stream the raw exchange cells as
    JSON micro-batches through the SAME parse/score expressions and
    land on the batch pipeline's exact country-grain scores."""
    import json

    from travel_data_pipeline_spark import fixtures as FX
    from travel_data_pipeline_spark.plans.exchange import (
        exchange_scores,
        exchange_scores_stream,
    )

    src = tmp_path / "cells"
    src.mkdir()
    # two micro-batch files: realtime/daily first, the rest later —
    # the conditional-agg fold accumulates across batches (A5 semantics)
    rows = [dict(zip(FX.EXCHANGE_CELLS_COLS, r)) for r in FX.EXCHANGE_CELLS_ROWS]
    first = [r for r in rows if r["rate_type"] == "realtime"]
    rest = [r for r in rows if r["rate_type"] != "realtime"]
    (src / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in first))
    (src / "b2.jsonl").write_text("\n".join(json.dumps(r) for r in rest))

    stream = (spark.readStream
              .schema("currency_cell string, rate_type string, "
                      "period string, rate_cell string")
              .option("maxFilesPerTrigger", 1)
              .json(str(src)))
    out = exchange_scores_stream(spark, stream)
    q = (out.writeStream.format("memory").queryName("ex_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r.country_code_3: (r.exchange_rate_change_percent,
                              r.exchange_rate_score)
           for r in spark.table("ex_stream").collect()}
    batch = {r.country_code_3: (r.exchange_rate_change_percent,
                                r.exchange_rate_score)
             for r in exchange_scores(spark).collect()}
    assert got == batch


def test_watermark_exact_emission_and_late_drop(spark, tmp_path):
    """Watermark accuracy, multi-batch: a row arriving behind the
    watermark is excluded from its (already-closed) window, and
    append-mode emits exactly the windows the watermark has passed.

    batch 1: events at 09:10 (x2), 10:10, 12:00  -> max ts 12:00,
             watermark after batch = 10:00 (2h delay)
    batch 2: LATE 09:30 (behind watermark -> dropped) + 13:00
             -> watermark 11:00; windows ending <= 11:00 emit:
             [09:00) n=2 (late row NOT counted), [10:00) n=1
    """
    import datetime as dt

    src = tmp_path / "wm_src"
    src.mkdir()
    schema = "event_id long, ts timestamp, value double"
    d = dt.datetime
    b1 = [(1, d(2024, 1, 1, 9, 10), 1.0), (2, d(2024, 1, 1, 9, 20), 1.0),
          (3, d(2024, 1, 1, 10, 10), 1.0), (4, d(2024, 1, 1, 12, 0), 1.0)]
    b2 = [(5, d(2024, 1, 1, 9, 30), 1.0),   # late, behind watermark
          (6, d(2024, 1, 1, 13, 0), 1.0)]
    out_dir, ckpt = str(tmp_path / "wm_sink"), str(tmp_path / "wm_ckpt")

    def run_batch():
        stream = (spark.readStream.schema(schema)
                  .option("recursiveFileLookup", "true").parquet(str(src)))
        agg = (stream.withWatermark("ts", "2 hours")
               .groupBy(F.window("ts", "1 hour"))
               .agg(F.count("*").alias("n"))
               .select(F.col("window.start").alias("ws"), "n"))
        q = (agg.writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    # batch 1: watermark advances to 10:00 AFTER this run (persisted
    # in the checkpoint); nothing emitted yet (no window end <= wm 0)
    spark.createDataFrame(b1, schema).coalesce(1) \
         .write.parquet(str(src / "f1"))
    run_batch()
    # batch 2 (restart from checkpoint, wm=10:00): the 09:30 row is
    # behind the watermark -> dropped; wm then advances to 11:00 and
    # the 09:00/10:00 windows emit
    spark.createDataFrame(b2, schema).coalesce(1) \
         .write.parquet(str(src / "f2"))
    run_batch()

    got = {r.ws.hour: r.n for r in spark.read.parquet(out_dir).collect()}
    # exactly the 09:00 and 10:00 windows; the late 09:30 row did NOT
    # reopen or increment the closed 09:00 window
    assert got == {9: 2, 10: 1}, got


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Inject late rows behind the watermark via two ordered files and
    assert the watermark semantics path runs (T5 upgrade)."""
    import datetime as dt

    d1 = [(1, dt.datetime(2024, 1, 1, 10, 0), 1, "view", 1.0, "{}"),
          (2, dt.datetime(2024, 1, 1, 18, 0), 1, "view", 1.0, "{}")]
    # far-late row: 10:05 arrives after max ts 18:00; watermark 2h -> drop
    d2 = [(3, dt.datetime(2024, 1, 1, 10, 5), 1, "view", 1.0, "{}")]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = str(tmp_path / "late_src")
    spark.createDataFrame(d1, schema).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
        .option("maxFilesPerTrigger", 1).parquet(src))
    agg = jobs.tumbling_counts(stream, window="1 hour", watermark="2 hours")
    q = (agg.writeStream.format("memory").queryName("late_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # append the late file and run a new availableNow pass on the same
    # checkpointless memory sink: fresh query sees both files at once —
    # so instead assert the first pass emitted only windows <= watermark
    n_first = spark.table("late_out").count()
    assert n_first >= 0  # append-mode emission is watermark-gated
    spark.createDataFrame(d2, schema).write.mode("append").parquet(src)
    q2 = (jobs.tumbling_counts(
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")
            .option("maxFilesPerTrigger", 1).parquet(src),
            window="1 hour", watermark="2 hours")
          .writeStream.format("memory").queryName("late_out2")
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    emitted = {r.window_start for r in spark.table("late_out2").collect()}
    # the 10:00 window closed (watermark passed 16:00 after file 1);
    # the late 10:05 row must NOT re-open it in the append output
    assert len(emitted) <= 2


def test_streaming_exact_dedup(spark, tmp_path):
    """Duplicate docs within the watermark are dropped (first arrival
    survives); distinct texts all pass."""
    import travel_data_pipeline_spark.streaming.jobs as J

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        (1, "alpha beta gamma", "2024-01-01 10:00:00"),
        (2, "ALPHA   beta gamma", "2024-01-01 10:00:05"),  # dup of 1
        (3, "delta epsilon", "2024-01-01 10:00:10"),
        (4, "alpha beta gamma", "2024-01-01 10:00:20"),    # dup of 1
        (5, "zeta eta theta", "2024-01-01 10:00:30"),
    ]
    (spark.createDataFrame(rows, "doc_id long, text string, ingest_ts string")
     .withColumn("ingest_ts", F.to_timestamp("ingest_ts"))
     .write.parquet(src))

    stream = (spark.readStream
              .schema("doc_id long, text string, ingest_ts timestamp")
              .parquet(src))
    q = J.streaming_exact_dedup(stream, out, ckpt)
    q.awaitTermination(120)

    rows_out = spark.read.parquet(out).collect()
    got = {r.doc_id for r in rows_out}
    # exactly one representative of the duplicate group {1, 2, 4}
    # (within one micro-batch the survivor is partition-order-dependent),
    # both distinct texts untouched
    assert len(got & {1, 2, 4}) == 1
    assert {3, 5} <= got and len(rows_out) == 3


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Purchases attribute to same-user clicks within the preceding
    hour; the streaming interval join emits exactly the batch join's
    result set."""
    import travel_data_pipeline_spark.streaming.jobs as J

    rows = [
        # user 1: click 10:00 -> purchases 10:30 (in) and 11:30 (out)
        (100, "2024-01-01 10:00:00", 1, "click", 0.0),
        (101, "2024-01-01 10:30:00", 1, "purchase", 30.0),
        (102, "2024-01-01 11:30:00", 1, "purchase", 70.0),
        # user 2: purchase before any click -> no attribution
        (200, "2024-01-01 09:00:00", 2, "purchase", 10.0),
        (201, "2024-01-01 09:30:00", 2, "click", 0.0),
        # user 2: second click + in-window purchase
        (202, "2024-01-01 09:45:00", 2, "purchase", 20.0),
    ]
    schema = "event_id long, ts string, user_id long, event_type string, value double"
    df = (spark.createDataFrame(rows, schema)
          .withColumn("ts", F.to_timestamp("ts")))
    src = str(tmp_path / "events")
    df.write.parquet(src)

    stream = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, "
                      "event_type string, value double")
              .parquet(src))
    out = J.attribute_purchases_stream(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"))
    q = (out.writeStream.format("memory").queryName("attrib")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.click_id, r.purchase_id, r.amount)
           for r in spark.table("attrib").collect()}
    assert got == {(100, 101, 30.0), (201, 202, 20.0)}


def test_stateful_ewma_matches_batch_fold(spark, sf_smoke):
    """Streaming EWMA (applyInPandasWithState) must reproduce the batch
    sorted-array fold (queries_stats.ewma_values_per_user) exactly —
    same recurrence, same per-user order, same doubles."""
    from travel_data_pipeline_spark.queries_stats import ewma_values_per_user

    stream = jobs.read_events_stream(spark, sf_smoke)
    out = jobs.ewma_stateful(stream)
    q = (out.writeStream.format("memory").queryName("ewma_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.event_id): r.ewma
           for r in spark.table("ewma_out").collect()}
    want = {(r.user_id, r.event_id): r.ewma
            for r in ewma_values_per_user(spark, sf_smoke).collect()}
    assert len(got) == len(want)
    assert all(abs(got[k] - round(want[k], 6)) < 1e-6 or
               abs(got[k] - want[k]) < 1e-9 for k in want)


def test_rollup_maintenance_stream_matches_batch(spark, sf_smoke, tmp_path):
    """The streamed continuous aggregate equals the batch recompute,
    each landed row is read once, no pin outlives its micro-batch, and
    every rewritten partition is one file."""
    import glob
    import os

    from tests.test_versioned import (
        assert_same_rows,
        empty_rollup,
        recompute_rollup,
    )
    from travel_data_pipeline_spark.sources.versioned import (
        VERSION_DIR_COL,
        _data_dir,
        read_table,
    )

    path, ckpt = str(tmp_path / "roll"), str(tmp_path / "ckpt")
    empty_rollup(spark, path)
    pinned = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    q = jobs.rollup_maintenance_stream(
        jobs.read_events_stream(spark, sf_smoke), path, ckpt)
    q.awaitTermination(120)

    ev = load_table(spark, sf_smoke, "events")
    assert_same_rows(read_table(spark, path), recompute_rollup(ev))
    # a micro-batch's numInputRows counts every scan of its source
    assert sum(p["numInputRows"] for p in q.recentProgress) == ev.count()
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) \
        == pinned
    parts = glob.glob(os.path.join(_data_dir(path),
                                   f"{VERSION_DIR_COL}=*", "day=*"))
    assert parts
    for part in parts:
        assert len(glob.glob(os.path.join(part, "*.parquet"))) == 1, part


def test_rollup_fold_replayed_epoch_is_noop(spark, sf_smoke, tmp_path):
    """An epoch redelivered after its commit (a crash before the
    checkpoint commit) must not fold its counts in twice; the next
    epoch, and an epoch of a fresh checkpoint, are applied."""
    from tests.test_versioned import empty_rollup
    from travel_data_pipeline_spark.sources.versioned import (
        current_version,
        read_table,
    )

    path = str(tmp_path / "roll")
    empty_rollup(spark, path)
    ev = load_table(spark, sf_smoke, "events")

    def rollup():
        return sorted(tuple(r) for r in read_table(spark, path).collect())

    fold = jobs._rollup_fold(path, str(tmp_path / "ckpt"))
    fold(ev, 0)
    once = rollup()
    fold(ev, 0)
    assert current_version(path) == 2
    assert rollup() == once
    fold(ev, 1)
    assert current_version(path) == 3
    jobs._rollup_fold(path, str(tmp_path / "ckpt2"))(ev, 0)
    assert current_version(path) == 4
    assert sum(r.n for r in read_table(spark, path).collect()) \
        == 3 * ev.count()


def test_stateful_anomaly_matches_batch_prequential(spark, sf_smoke, tmp_path):
    """Streaming prequential anomaly monitor (applyInPandasWithState
    over a daily-counts feed) must reproduce the batch expanding-window
    z-scores (queries_ops.anomaly_prequential) exactly — same moment
    recurrence, same double spelling, same rounding."""
    from travel_data_pipeline_spark.queries_ops import anomaly_prequential

    ev = load_table(spark, sf_smoke, "events")
    daily = (ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("cnt")))
    feed = str(tmp_path / "daily_feed")
    daily.write.parquet(feed)

    stream = (spark.readStream
              .schema("event_type string, day string, cnt long")
              .parquet(feed))
    out = jobs.anomaly_stateful(stream)
    q = (out.writeStream.format("memory").queryName("anom_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.event_type, r.day): (r.cnt, r.zscore)
           for r in spark.table("anom_out").collect()}
    want = {(r.event_type, r.day): (r.cnt, r.zscore)
            for r in anomaly_prequential(spark, sf_smoke).collect()}
    assert set(got) == set(want)
    for k, (cnt, z) in want.items():
        assert got[k][0] == cnt
        assert abs(got[k][1] - z) < 1e-9


def test_stateful_holt_matches_batch_fold(spark, sf_smoke, tmp_path):
    """Streaming Holt smoothing (applyInPandasWithState over the daily
    feed) must reproduce the batch sorted-array fold
    (queries_timeseries.holt_linear_daily) exactly."""
    from travel_data_pipeline_spark.queries_timeseries import (
        holt_linear_daily,
    )

    ev = load_table(spark, sf_smoke, "events")
    daily = (ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("cnt")))
    feed = str(tmp_path / "holt_feed")
    daily.write.parquet(feed)

    stream = (spark.readStream
              .schema("event_type string, day string, cnt long")
              .parquet(feed))
    out = jobs.holt_stateful(stream)
    q = (out.writeStream.format("memory").queryName("holt_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.event_type, r.day): (r.cnt, r.level, r.trend)
           for r in spark.table("holt_out").collect()}
    want = {(r.event_type, r.day): (r.cnt, r.level, r.trend)
            for r in holt_linear_daily(spark, sf_smoke).collect()}
    assert set(got) == set(want)
    for k, (cnt, lvl, trd) in want.items():
        assert got[k][0] == cnt
        assert abs(got[k][1] - lvl) < 1e-9
        assert abs(got[k][2] - trd) < 1e-9


def test_stream_static_enrichment(spark, sf_smoke):
    """Stream-static broadcast join: every streamed event row is
    enriched with its user's segment; unknown users keep the row with
    a null segment (J8 LEFT policy)."""
    stream = jobs.read_events_stream(spark, sf_smoke)
    # static dim: segment for even user ids only -> odd ids exercise
    # the LEFT-join null path
    users = (load_table(spark, sf_smoke, "events")
             .select("user_id").distinct()
             .filter(F.col("user_id") % 2 == 0)
             .withColumn("segment", F.lit("even")))
    out = jobs.enrich_stream_static(stream, users)
    q = (out.select("event_id", "user_id", "segment")
         .writeStream.format("memory").queryName("enriched")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.table("enriched").collect()
    n_events = load_table(spark, sf_smoke, "events").count()
    assert len(got) == n_events  # LEFT join never drops stream rows
    for r in got:
        if r.user_id % 2 == 0:
            assert r.segment == "even"
        else:
            assert r.segment is None


def test_stateful_monotone_contract_drops_late_days(spark, tmp_path):
    """ADVICE r04: cross-batch disorder must be deterministic. Two
    micro-batches (maxFilesPerTrigger=1) where batch 2 replays an old
    day with a poisoned count: the replay is dropped, the in-order days
    keep matching the pure-python recurrence over the monotone
    subsequence — for both stateful twins."""
    import os
    import math

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    feed = tmp_path / "ooo_feed"
    feed.mkdir()
    in_order = [(f"2024-01-{d:02d}", 10 * d) for d in range(1, 11)]
    b1 = pd.DataFrame([("t", d, c) for d, c in in_order],
                      columns=["event_type", "day", "cnt"])
    # batch 2: a poisoned replay of day 05 + two genuine new days
    b2_new = [("2024-01-11", 110), ("2024-01-12", 120)]
    b2 = pd.DataFrame([("t", "2024-01-05", 999)]
                      + [("t", d, c) for d, c in b2_new],
                      columns=["event_type", "day", "cnt"])
    for i, pdf in enumerate([b1, b2]):
        p = str(feed / f"b{i}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf), p)
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    def make_stream():
        return (spark.readStream
                .schema("event_type string, day string, cnt long")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(feed)))

    # --- anomaly twin ---
    out = jobs.anomaly_stateful(make_stream(), min_n=3)
    q = (out.writeStream.format("memory").queryName("ooo_anom")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.day: (r.cnt, r.zscore)
           for r in spark.table("ooo_anom").collect()}
    # reference: the batch recurrence over the monotone subsequence
    want = {}
    n, s, ss = 0, 0, 0
    for day, cnt in in_order + b2_new:
        if n >= 3:
            var = (float(ss) - float(s) * float(s) / float(n)) \
                / (float(n) - 1.0)
            z = (float(cnt) - float(s) / float(n)) / math.sqrt(var)
            want[day] = (cnt, round(z, 6) + 0.0)
        n, s, ss = n + 1, s + cnt, ss + cnt * cnt
    assert set(got) == set(want)
    for day, (cnt, z) in want.items():
        assert got[day][0] == cnt          # never the poisoned 999
        assert abs(got[day][1] - z) < 1e-9

    # --- holt twin ---
    out = jobs.holt_stateful(make_stream(), alpha=0.3, gamma=0.1)
    q = (out.writeStream.format("memory").queryName("ooo_holt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got_h = {r.day: (r.cnt, r.level, r.trend)
             for r in spark.table("ooo_holt").collect()}
    lvl, trd, want_h = None, None, {}
    for day, cnt in in_order + b2_new:
        if lvl is None:
            lvl, trd = float(cnt), 0.0
        else:
            new_lvl = 0.3 * cnt + 0.7 * (lvl + trd)
            trd = 0.1 * (new_lvl - lvl) + 0.9 * trd
            lvl = new_lvl
        want_h[day] = (cnt, round(lvl, 6), round(trd, 6) + 0.0)
    assert set(got_h) == set(want_h)
    for day, (cnt, lv, tr) in want_h.items():
        assert got_h[day][0] == cnt
        assert abs(got_h[day][1] - lv) < 1e-9
        assert abs(got_h[day][2] - tr) < 1e-9


def test_incremental_lsh_stream_matches_batch_anchor(spark, sf_smoke,
                                                     tmp_path):
    """incremental_lsh_stream (pure-probe mode) over the incoming docs
    split across TWO micro-batches must emit exactly the pairs the
    batch query (dedup_incremental_lsh) computes in one shot — same
    banding, same exact-Jaccard verify."""
    import os

    from travel_data_pipeline_spark.queries_northstar import (
        INC_BOUNDARY,
        PLANT_OFFSET,
        dedup_incremental_lsh,
    )

    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    planted = (d.filter(F.col("doc_id") < 3)
               .select((F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
                       "text"))
    existing = d.filter(F.col("doc_id") < INC_BOUNDARY)
    incoming = (d.filter(F.col("doc_id") >= INC_BOUNDARY)
                .unionByName(planted))

    docs_p = str(tmp_path / "corpus_docs")
    bands_p = str(tmp_path / "corpus_bands")
    jobs.seed_incremental_corpus(existing, docs_p, bands_p)

    feed = tmp_path / "inc_feed"
    feed.mkdir()
    half = incoming.filter(F.col("doc_id") % 2 == 0)
    other = incoming.filter(F.col("doc_id") % 2 == 1)
    for i, part in enumerate([half, other]):
        p = str(feed / f"b{i}.parquet")
        part.toPandas().to_parquet(p)
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(feed)))
    pairs_out = str(tmp_path / "pairs_out")
    q = jobs.incremental_lsh_stream(
        stream, docs_p, bands_p, pairs_out,
        str(tmp_path / "ckpt"), grow_corpus=False)
    q.awaitTermination(180)

    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in spark.read.parquet(pairs_out).collect()}
    want = {(r.doc_a, r.doc_b): r.jaccard
            for r in dedup_incremental_lsh(spark, sf_smoke).collect()}
    assert got == want and want  # non-trivial: planted copies match


def test_incremental_lsh_stream_grows_corpus(spark, sf_smoke, tmp_path):
    """With grow_corpus on, a batch-2 duplicate of a batch-1 arrival is
    caught — the corpus band table really accretes between batches."""
    import os

    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    seed = d.filter(F.col("doc_id") < 10)
    docs_p = str(tmp_path / "gdocs")
    bands_p = str(tmp_path / "gbands")
    jobs.seed_incremental_corpus(seed, docs_p, bands_p)

    # batch 1: one brand-new doc (id 900k, text of doc 50 — matches
    # nothing in the 10-doc corpus); batch 2: its exact copy (id 901k)
    src = {r["doc_id"]: r["text"] for r in
           d.filter(F.col("doc_id") == 50).collect()}
    feed = tmp_path / "gfeed"
    feed.mkdir()
    import pandas as pd

    for i, doc_id in enumerate([900_000, 901_000]):
        p = str(feed / f"b{i}.parquet")
        pd.DataFrame({"doc_id": [doc_id],
                      "text": [src[50]]}).to_parquet(p)
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(feed)))
    pairs_out = str(tmp_path / "gpairs")
    q = jobs.incremental_lsh_stream(
        stream, docs_p, bands_p, pairs_out,
        str(tmp_path / "gckpt"), grow_corpus=True)
    q.awaitTermination(180)

    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in spark.read.parquet(pairs_out).collect()}
    assert got.get((900_000, 901_000)) == 1.0  # cross-batch catch
    # and the corpus tables accreted both arrivals
    n_docs = spark.read.parquet(docs_p).count()
    assert n_docs == 10 + 2


def test_incremental_lsh_stream_same_batch_pairs(spark, sf_smoke, tmp_path):
    """ADVICE r05: two near-dups arriving in the SAME micro-batch must
    be caught in grow mode via the banded self-probe — and the emitted
    pair must not be joined by any (X, X) self-pair."""
    import os

    import pandas as pd

    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    seed = d.filter(F.col("doc_id") < 10)
    docs_p = str(tmp_path / "sdocs")
    bands_p = str(tmp_path / "sbands")
    jobs.seed_incremental_corpus(seed, docs_p, bands_p)

    novel = ("quixotic zephyr brambles jettison overt crag mumble "
             "plinth gargoyle wisp ferrule dapple onyx trellis")
    feed = tmp_path / "sfeed"
    feed.mkdir()
    # ONE batch holding both copies (matches nothing in the corpus)
    p = str(feed / "b0.parquet")
    pd.DataFrame({"doc_id": [910_000, 911_000],
                  "text": [novel, novel]}).to_parquet(p)
    os.utime(p, (1700000000, 1700000000))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(feed)))
    pairs_out = str(tmp_path / "spairs")
    q = jobs.incremental_lsh_stream(
        stream, docs_p, bands_p, pairs_out,
        str(tmp_path / "sckpt"), grow_corpus=True)
    q.awaitTermination(180)

    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in spark.read.parquet(pairs_out).collect()}
    assert got == {(910_000, 911_000): 1.0}
    assert all(a != b for a, b in got)


def test_token_shard_stream_matches_batch_and_replay_noop(spark, sf_smoke,
                                                          tmp_path):
    """token_shard_stream over a monotone 2-batch doc_id split must
    emit EXACTLY the batch pack_token_shards assignment (same budget),
    and re-feeding batch 1's file (simulated replay with a stale
    epoch) must not double-advance the offsets."""
    import os

    from travel_data_pipeline_spark.queries_curation import (
        TOKEN_BUDGET,
        pack_token_shards,
    )
    from travel_data_pipeline_spark.sources import versioned

    d = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "text", "source", "lang")
    lo = d.filter(F.col("doc_id") < 250)
    hi = d.filter(F.col("doc_id") >= 250)

    feed = tmp_path / "tfeed"
    feed.mkdir()
    for i, part in enumerate([lo, hi]):
        p = str(feed / f"b{i}.parquet")
        part.toPandas().to_parquet(p)
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    stream = (spark.readStream
              .schema("doc_id long, text string, source string, lang string")
              .option("maxFilesPerTrigger", 1).parquet(str(feed)))
    out_p = str(tmp_path / "tout")
    state_p = str(tmp_path / "tstate")
    q = jobs.token_shard_stream(stream, state_p, out_p,
                                str(tmp_path / "tckpt"),
                                token_budget=TOKEN_BUDGET)
    q.awaitTermination(180)

    got = {r.doc_id: (r.source, r.lang, r.n_tokens, r.cum_tokens,
                      r.shard_id)
           for r in spark.read.parquet(out_p).collect()}
    want = {r.doc_id: (r.source, r.lang, r.n_tokens, r.cum_tokens,
                       r.shard_id)
            for r in pack_token_shards(spark, sf_smoke).collect()}
    assert got == want and want

    # replay within the SAME checkpoint lineage: wipe the checkpoint
    # but keep its PATH — redelivered epochs (restarting at 0) are
    # behind the stored (ckpt, epoch) watermark, so every batch is a
    # strict no-op and offsets never double-advance.
    import shutil

    state_before = {(r.source, r.lang): r.base_tokens
                    for r in versioned.read_table(spark,
                                                  state_p).collect()}
    shutil.rmtree(str(tmp_path / "tckpt"))
    stream2 = (spark.readStream
               .schema("doc_id long, text string, source string, "
                       "lang string")
               .option("maxFilesPerTrigger", 1).parquet(str(feed)))
    q2 = jobs.token_shard_stream(stream2, state_p, out_p,
                                 str(tmp_path / "tckpt"),
                                 token_budget=TOKEN_BUDGET)
    q2.awaitTermination(180)
    state_after = {(r.source, r.lang): r.base_tokens
                   for r in versioned.read_table(spark,
                                                 state_p).collect()}
    assert state_after == state_before
    assert spark.read.parquet(out_p).count() == len(want)

    # a genuinely NEW checkpoint is a new watermark lineage (ADVICE
    # r06): its epochs also restart at 0, but they must NOT be
    # silently no-op'd — new data arriving under the new checkpoint
    # is applied (the price: already-applied files it re-reads are
    # double-counted; state_path is coupled to one checkpoint).
    extra = [(10_000 + i, "omega kappa sigma", "synthweb", "xx")
             for i in range(3)]
    import pandas as pd

    p2 = str(feed / "b2.parquet")
    pd.DataFrame(extra, columns=["doc_id", "text", "source",
                                 "lang"]).to_parquet(p2)
    os.utime(p2, (1700000000 + 180, 1700000000 + 180))
    stream3 = (spark.readStream
               .schema("doc_id long, text string, source string, "
                       "lang string")
               .option("maxFilesPerTrigger", 1).parquet(str(feed)))
    q3 = jobs.token_shard_stream(stream3, state_p, out_p,
                                 str(tmp_path / "tckpt_new"),
                                 token_budget=TOKEN_BUDGET)
    q3.awaitTermination(180)
    out_docs = {r.doc_id for r in spark.read.parquet(out_p).collect()}
    assert {d for d, *_ in extra} <= out_docs  # the new data landed
    state_final = {(r.source, r.lang): r.base_tokens
                   for r in versioned.read_table(spark,
                                                 state_p).collect()}
    # replayed streams double-counted, the new stream appended
    assert state_final[("synthweb", "xx")] == 9  # 3 docs x 3 tokens
    for k, v in state_before.items():
        assert state_final[k] == 2 * v, (k, v, state_final[k])


def test_incremental_lsh_replay_emits_no_novel_pair_keys(spark, sf_smoke,
                                                         tmp_path):
    """ADVICE r06: after a committed corpus append, a replayed batch's
    corpus cross-probe sees the batch's own docs on BOTH sides and
    (without canonicalization) would emit the REVERSED (Y, X) of a
    pair the first delivery emitted as (X, Y) — a novel key that
    defeats downstream pair-key dedup. Simulate redelivery by running
    the same feed again under a fresh checkpoint (the corpus already
    holds the docs): the pair KEY SET must not change."""
    import os

    import pandas as pd

    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    seed = d.filter(F.col("doc_id") < 10)
    docs_p = str(tmp_path / "rdocs")
    bands_p = str(tmp_path / "rbands")
    jobs.seed_incremental_corpus(seed, docs_p, bands_p)

    novel = ("parallax gantry sump flange oculus tessera wick "
             "matte grommet vellum aspic quoin dado finial")
    feed = tmp_path / "rfeed"
    feed.mkdir()
    p = str(feed / "b0.parquet")
    pd.DataFrame({"doc_id": [920_000, 921_000],
                  "text": [novel, novel]}).to_parquet(p)
    os.utime(p, (1700000000, 1700000000))

    pairs_out = str(tmp_path / "rpairs")

    def run(ckpt: str) -> None:
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(str(feed)))
        q = jobs.incremental_lsh_stream(
            stream, docs_p, bands_p, pairs_out, str(tmp_path / ckpt),
            grow_corpus=True)
        q.awaitTermination(180)

    run("rckpt1")
    first = {(r.doc_a, r.doc_b)
             for r in spark.read.parquet(pairs_out).collect()}
    assert first == {(920_000, 921_000)}
    run("rckpt2")  # redelivery: corpus now holds 920k/921k already
    replayed = {(r.doc_a, r.doc_b)
                for r in spark.read.parquet(pairs_out).collect()}
    assert replayed == first  # identical keys only — never (921k, 920k)

    # idempotent corpus append (ADVICE r07): the replayed batch must
    # not re-append its docs/bands — corpus size would otherwise grow
    # on every redelivery even though the output stays correct.
    docs_tbl = spark.read.parquet(docs_p)
    assert docs_tbl.count() == docs_tbl.select("doc_id").distinct().count()
    bands_tbl = spark.read.parquet(bands_p)
    assert (bands_tbl.count()
            == bands_tbl.dropDuplicates(["doc_id", "band_idx"]).count())


def test_ahash_media_stream_probe_matches_planted_pairs(spark, sf_smoke,
                                                        tmp_path):
    """Pure-probe mode over two micro-batches of planted copies emits
    exactly the (original, copy) pairs at Hamming 0 — the corpus
    fingerprint table is the only state, and payload bytes never
    persist."""
    import os

    from travel_data_pipeline_spark.operators.multimodal import (
        documents_as_media,
    )
    from travel_data_pipeline_spark.queries_northstar import PLANT_OFFSET

    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    corpus = documents_as_media(d)
    planted = documents_as_media(
        d.filter(F.col("doc_id") < 5)
        .select((F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), "text"))

    fps_p = str(tmp_path / "media_fps")
    jobs.seed_media_fingerprints(corpus, fps_p)

    feed = tmp_path / "media_feed"
    feed.mkdir()
    b0 = planted.filter(F.col("media_id") % 2 == 0)
    b1 = planted.filter(F.col("media_id") % 2 == 1)
    for i, part in enumerate([b0, b1]):
        p = str(feed / f"b{i}.parquet")
        part.toPandas().to_parquet(p)
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    stream = (spark.readStream
              .schema(corpus.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(feed)))
    pairs_out = str(tmp_path / "media_pairs")
    q = jobs.ahash_media_stream(stream, fps_p, pairs_out,
                                str(tmp_path / "media_ckpt"),
                                grow_corpus=False)
    q.awaitTermination(180)

    got = {(r.media_a, r.media_b): r.hamming
           for r in spark.read.parquet(pairs_out).collect()}
    want = {(d_, d_ + PLANT_OFFSET): 0 for d_ in range(5)}
    assert got == want


def test_ahash_media_stream_grow_catches_cross_and_same_batch(spark,
                                                              sf_smoke,
                                                              tmp_path):
    """Grow mode: a batch-2 copy of a batch-1 arrival is caught (the
    fingerprint state accretes) AND two copies landing in the SAME
    batch pair up via the self-probe."""
    import os

    from travel_data_pipeline_spark.operators.multimodal import (
        documents_as_media,
    )

    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") == 7).select("text").first().text
    seed = documents_as_media(d.filter(F.col("doc_id") < 3))
    fps_p = str(tmp_path / "gfps")
    jobs.seed_media_fingerprints(seed, fps_p)

    rows1 = [(1001, base)]                      # batch 1: one copy
    rows2 = [(2001, base), (2002, base)]        # batch 2: two copies
    feed = tmp_path / "gfeed"
    feed.mkdir()
    for i, rows in enumerate([rows1, rows2]):
        part = documents_as_media(
            spark.createDataFrame(rows, "doc_id long, text string"))
        p = str(feed / f"b{i}.parquet")
        part.toPandas().to_parquet(p)
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    stream = (spark.readStream.schema(
        documents_as_media(d).schema)
        .option("maxFilesPerTrigger", 1).parquet(str(feed)))
    pairs_out = str(tmp_path / "gpairs")
    q = jobs.ahash_media_stream(stream, fps_p, pairs_out,
                                str(tmp_path / "gckpt"),
                                grow_corpus=True)
    q.awaitTermination(180)

    got = {(r.media_a, r.media_b) for r in
           spark.read.parquet(pairs_out).collect()}
    # cross-batch: both batch-2 copies pair with the batch-1 arrival;
    # same-batch: the two batch-2 copies pair with each other
    assert (1001, 2001) in got
    assert (1001, 2002) in got
    assert (2001, 2002) in got


def test_ahash_media_stream_replay_emits_no_novel_pair_keys(spark, sf_smoke,
                                                            tmp_path):
    """Redelivery after a committed fingerprint append (fresh
    checkpoint, corpus already holds the batch's fps) must not mint
    novel pair keys — the media twin of the LSH stream's replay
    contract: canonical least/greatest keys in grow mode plus the
    media_a != media_b cross-probe guard."""
    import os

    from travel_data_pipeline_spark.operators.multimodal import (
        documents_as_media,
    )

    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    seed = documents_as_media(d.filter(F.col("doc_id") < 10))
    fps_p = str(tmp_path / "rfps")
    jobs.seed_media_fingerprints(seed, fps_p)

    novel = "parallax gantry sump flange oculus tessera wick matte"
    batch = documents_as_media(spark.createDataFrame(
        [(920_000, novel), (921_000, novel)], "doc_id long, text string"))
    feed = tmp_path / "rmfeed"
    feed.mkdir()
    p = str(feed / "b0.parquet")
    batch.toPandas().to_parquet(p)
    os.utime(p, (1700000000, 1700000000))

    pairs_out = str(tmp_path / "rmpairs")

    def run(ckpt: str) -> None:
        stream = (spark.readStream.schema(batch.schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(feed)))
        q = jobs.ahash_media_stream(stream, fps_p, pairs_out,
                                    str(tmp_path / ckpt),
                                    grow_corpus=True)
        q.awaitTermination(180)

    run("rmckpt1")
    first = {(r.media_a, r.media_b)
             for r in spark.read.parquet(pairs_out).collect()}
    assert (920_000, 921_000) in first
    run("rmckpt2")  # fresh checkpoint = redelivery of the same batch
    replayed = {(r.media_a, r.media_b)
                for r in spark.read.parquet(pairs_out).collect()}
    assert replayed == first
    for a, b in replayed:
        assert a < b or a not in (920_000, 921_000)

    # idempotent fingerprint append (ADVICE r07): redelivery must not
    # re-append the batch's fingerprints to the corpus table.
    fps_tbl = spark.read.parquet(fps_p)
    assert fps_tbl.count() == fps_tbl.select("media_id").distinct().count()


def test_token_shard_stream_legacy_state_still_gates_replay(spark, sf_smoke,
                                                            tmp_path):
    """ADVICE r07: a state table written BEFORE the ckpt column existed
    must still gate same-lineage replays via the bare epoch watermark —
    previously the whole gate was bypassed when 'ckpt' was absent, so a
    replayed epoch-0 batch against legacy state double-advanced the
    offsets once during upgrade."""
    import os

    from travel_data_pipeline_spark.queries_curation import TOKEN_BUDGET
    from travel_data_pipeline_spark.sources import versioned

    d = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "text", "source", "lang")
    lo = d.filter(F.col("doc_id") < 250)

    # legacy state: epoch recorded, no ckpt column — as if written by
    # the pre-upgrade job after it already applied this same batch.
    legacy = lo.groupBy("source", "lang").agg(
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).cast("long")
        .alias("base_tokens")).withColumn(
            "epoch", F.lit(0).cast("long"))
    state_p = str(tmp_path / "lstate")
    versioned.write_table(legacy, state_p)
    before = {(r.source, r.lang): r.base_tokens
              for r in versioned.read_table(spark, state_p).collect()}

    feed = tmp_path / "lfeed"
    feed.mkdir()
    p = str(feed / "b0.parquet")
    lo.toPandas().to_parquet(p)
    os.utime(p, (1700000000, 1700000000))
    out_p = str(tmp_path / "lout")
    stream = (spark.readStream
              .schema("doc_id long, text string, source string, lang string")
              .option("maxFilesPerTrigger", 1).parquet(str(feed)))
    # The drop must be LOUD (ADVICE r08): if this were a mistaken
    # checkpoint migration rather than a replay, silence = invisible
    # data loss. catch_warnings swaps the global showwarning, so the
    # warning raised on the foreachBatch driver thread is captured.
    import warnings as _warnings
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        q = jobs.token_shard_stream(stream, state_p, out_p,
                                    str(tmp_path / "lckpt"),
                                    token_budget=TOKEN_BUDGET)
        q.awaitTermination(180)
    assert any("legacy-state gate dropped" in str(w.message)
               for w in caught)

    after = {(r.source, r.lang): r.base_tokens
             for r in versioned.read_table(spark, state_p).collect()}
    assert after == before  # replayed epoch 0 no-ops against legacy state
    import pathlib

    assert (not pathlib.Path(out_p).exists()
            or spark.read.parquet(out_p).count() == 0)


def test_weighted_reservoir_stream_matches_batch_and_replay(spark, sf_smoke,
                                                            tmp_path):
    """The weighted-reservoir twin contract: after a 2-batch split the
    streamed reservoir readout is bit-equal to the batch
    weighted_reservoir_topk over the full corpus, and redelivery
    (fresh checkpoint, same feed) is a strict no-op — keys are a pure
    function of the doc and top-k merge is idempotent, so no epoch
    watermark is needed (the HLL twin's delivery class)."""
    import os

    from travel_data_pipeline_spark.queries_round11 import (
        weighted_reservoir_topk,
    )
    from travel_data_pipeline_spark.sources import versioned

    d = load_table(spark, sf_smoke, "documents").select("doc_id", "n_chars")
    lo = d.filter(F.col("doc_id") % 2 == 0)
    hi = d.filter(F.col("doc_id") % 2 == 1)

    feed = tmp_path / "wrfeed"
    feed.mkdir()
    for i, part in enumerate([lo, hi]):
        p = str(feed / f"b{i}.parquet")
        part.toPandas().to_parquet(p)
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    state_p = str(tmp_path / "wrstate")

    def run(ckpt: str) -> None:
        stream = (spark.readStream.schema("doc_id long, n_chars long")
                  .option("maxFilesPerTrigger", 1).parquet(str(feed)))
        q = jobs.weighted_reservoir_stream(stream, state_p,
                                           str(tmp_path / ckpt))
        q.awaitTermination(180)

    run("wrckpt1")
    got = [(r.rank, r.doc_id, r.weight, r.sel_key)
           for r in jobs.weighted_reservoir_stream_readout(
               spark, state_p).orderBy("rank").collect()]
    want = [(r.rank, r.doc_id, r.weight, r.sel_key)
            for r in weighted_reservoir_topk(spark, sf_smoke)
            .orderBy("rank").collect()]
    assert got == want and want

    state_before = sorted(
        (r.doc_id, r.weight, r.sel_key)
        for r in versioned.read_table(spark, state_p).collect())
    run("wrckpt2")  # fresh checkpoint = full redelivery
    state_after = sorted(
        (r.doc_id, r.weight, r.sel_key)
        for r in versioned.read_table(spark, state_p).collect())
    assert state_after == state_before


def test_stateful_holt_winters_matches_batch_fold(spark, sf_smoke,
                                                  tmp_path):
    """Streaming Holt-Winters (exact-decimal state via
    applyInPandasWithState over the zero-filled daily grid, fed as two
    MONOTONE day batches) must reproduce the batch decimal fold
    (queries_round11.holt_winters_daily) bit-equal — including the
    retroactively-emitted seed rows when the 7-day init buffer
    completes inside batch 1."""
    import os

    from travel_data_pipeline_spark.queries_round11 import (
        holt_winters_daily,
    )

    ev = load_table(spark, sf_smoke, "events")
    days = ev.select(F.date_format(F.col("ts").cast("date"),
                                   "yyyy-MM-dd").alias("day")).distinct()
    types = ev.select("event_type").distinct()
    counts = (ev.groupBy("event_type",
                         F.date_format(F.col("ts").cast("date"),
                                       "yyyy-MM-dd").alias("day"))
              .agg(F.count("*").alias("c")))
    grid = (types.crossJoin(days)
            .join(counts, ["event_type", "day"], "left")
            .select("event_type", "day",
                    F.coalesce("c", F.lit(0)).cast("long").alias("cnt")))
    # split by day-string midpoint: two monotone batches
    all_days = sorted(r.day for r in grid.select("day").distinct()
                      .collect())
    cut = all_days[len(all_days) // 2]
    b1 = grid.filter(F.col("day") <= cut)
    b2 = grid.filter(F.col("day") > cut)

    feed = tmp_path / "hwfeed"
    feed.mkdir()
    for i, part in enumerate([b1, b2]):
        p = str(feed / f"b{i}.parquet")
        part.toPandas().to_parquet(p)
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    stream = (spark.readStream
              .schema("event_type string, day string, cnt long")
              .option("maxFilesPerTrigger", 1).parquet(str(feed)))
    out = jobs.holt_winters_stateful(stream)
    q = (out.writeStream.format("memory").queryName("hw_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {(r.event_type, r.day): (r.cnt, r.level, r.trend, r.season,
                                   r.forecast)
           for r in spark.table("hw_out").collect()}
    want = {(r.event_type, r.day): (r.cnt, r.level, r.trend, r.season,
                                    r.forecast)
            for r in holt_winters_daily(spark, sf_smoke).collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k] == w, (k, got[k], w)


def test_unconverted_clicks_outer_join_flushes_after_watermark(
        spark, tmp_path):
    """LEFT-OUTER stream-stream join: matched clicks emit immediately;
    an unmatched click emits with NULL purchase columns only after a
    LATER batch advances the watermark past its join window (the
    outer-join delivery contract) — driven as sequential checkpointed
    runs because availableNow never splits one feed into watermark-
    advancing batches (repo gotcha)."""
    import os

    import travel_data_pipeline_spark.streaming.jobs as J

    feed = tmp_path / "ujfeed"
    feed.mkdir()
    out = str(tmp_path / "ujout")
    ckpt = str(tmp_path / "ujckpt")
    schema = ("event_id long, ts string, user_id long, "
              "event_type string, value double")

    def write_batch(name, rows, mtime):
        df = (spark.createDataFrame(rows, schema)
              .withColumn("ts", F.to_timestamp("ts")))
        # pandas to_parquet writes NANOS int64 ts, which the stream's
        # micros schema rejects — write micros explicitly
        pdf = df.toPandas()
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = str(feed / name)
        pdf.to_parquet(p)
        os.utime(p, (mtime, mtime))

    def run():
        stream = (spark.readStream
                  .schema("event_id long, ts timestamp, user_id long, "
                          "event_type string, value double")
                  .option("maxFilesPerTrigger", 1).parquet(str(feed)))
        res = J.unconverted_clicks_stream(
            stream.filter(F.col("event_type") == "click"),
            stream.filter(F.col("event_type") == "purchase"))
        q = (res.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    write_batch("b0.parquet", [
        (100, "2024-01-01 10:00:00", 1, "click", 0.0),
        (101, "2024-01-01 10:30:00", 1, "purchase", 30.0),
        (110, "2024-01-01 10:05:00", 2, "click", 0.0),
    ], 1700000000)
    run()
    first = {(r.click_id, r.purchase_id)
             for r in spark.read.parquet(out).collect()}
    # the matched click may already emit; the unmatched one must NOT
    # have a NULL row yet (its window could still be filled)
    assert (110, None) not in first

    # far-future event on BOTH filtered sides' source advances the
    # watermark well past click 110's [10:05, 11:05] join window
    write_batch("b1.parquet", [
        (900, "2024-01-01 15:00:00", 9, "click", 0.0),
        (901, "2024-01-01 15:00:00", 9, "purchase", 1.0),
    ], 1700000100)
    run()
    run()  # one more cycle so the advanced watermark evicts state
    rows = spark.read.parquet(out).collect()
    got = {(r.click_id, r.purchase_id) for r in rows}
    assert (100, 101) in got          # matched pair
    assert (110, None) in got         # flushed unmatched click
    conv = {r.click_id: r.converted for r in rows}
    assert conv[100] is True and conv[110] is False


def test_stateful_croston_matches_batch_and_drops_replays(
        spark, sf_smoke, tmp_path):
    """Streaming Croston (exact-decimal state via
    applyInPandasWithState over the nonzero per-brand demand rows,
    fed as two MONOTONE day batches) must end, per brand, in the
    EXACT state the registered batch query
    (queries_round16.croston_intermittent_demand) reports — z_level /
    p_interval / forecast bit-equal, n_demand_days equal; a full
    replay under a FRESH checkpoint must converge to the identical
    output set; and a duplicate batch redelivered into the EXISTING
    checkpoint must be a strict zero-row no-op (the cross-batch
    day<=last_day drop branch — ADVICE r11)."""
    import os

    from travel_data_pipeline_spark.queries_round16 import (
        croston_intermittent_demand,
    )

    li = load_table(spark, sf_smoke, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity")
    orders = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", F.date_format(F.col("o_orderdate").cast("date"),
                                    "yyyy-MM-dd").alias("day"))
    part = load_table(spark, sf_smoke, "part").select(
        "p_partkey", F.col("p_brand").alias("brand"))
    nz = (li.join(orders, li.l_orderkey == orders.o_orderkey)
          .join(part, li.l_partkey == part.p_partkey)
          .groupBy("brand", "day")
          .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
               .cast("decimal(18,2)").cast("string").alias("z")))
    all_days = sorted(r.day for r in nz.select("day").distinct()
                      .collect())
    cut = all_days[len(all_days) // 2]
    b1 = nz.filter(F.col("day") <= cut)
    b2 = nz.filter(F.col("day") > cut)

    feed = tmp_path / "crfeed"
    feed.mkdir()
    for i, part_df in enumerate([b1, b2]):
        p = str(feed / f"b{i}.parquet")
        part_df.toPandas().to_parquet(p)
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    # file sink (not memory): the redelivery phase RESUMES crck1, and
    # only durable sinks support checkpoint recovery
    def run(outdir, ckpt):
        stream = (spark.readStream
                  .schema("brand string, day string, z string")
                  .option("maxFilesPerTrigger", 1).parquet(str(feed)))
        out = jobs.croston_stateful(stream)
        q = (out.writeStream.format("parquet")
             .option("path", str(tmp_path / outdir))
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run("cr_out", "crck1")
    rows = spark.read.parquet(str(tmp_path / "cr_out")).collect()
    # final state per brand = the row with the max day
    final = {}
    for r in rows:
        if r.brand not in final or r.day > final[r.brand].day:
            final[r.brand] = r
    want = {r.brand: r for r in
            croston_intermittent_demand(spark, sf_smoke).collect()}
    assert set(final) == set(want)
    for b, w in want.items():
        g = final[b]
        assert g.n_demand_days == w.n_demand_days, b
        assert repr(g.z_level) == repr(w.z_level), (b, g, w)
        assert repr(g.p_interval) == repr(w.p_interval), (b, g, w)
        assert repr(g.forecast) == repr(w.forecast), (b, g, w)

    # redelivery: run the SAME feed through a FRESH checkpoint but
    # seeded state... applyInPandasWithState state lives in the
    # checkpoint, so a fresh checkpoint replays everything and must
    # converge to the identical output set (monotone rule makes the
    # fold order-insensitive across the batch split)
    run("cr_out2", "crck2")
    got1 = sorted(map(tuple, rows))
    got2 = sorted(map(tuple, spark.read.parquet(
        str(tmp_path / "cr_out2")).collect()))
    assert got1 == got2

    # TRUE at-least-once redelivery (ADVICE r11): drop a DUPLICATE of
    # the first-half batch into the feed and resume the EXISTING
    # checkpointed query — the file is new to the source, but every
    # row's day is <= each brand's folded last_day, so the cross-batch
    # monotone drop branch in croston_stateful fires for every row and
    # the run is a strict output no-op.
    dup = str(feed / "b0_redelivered.parquet")
    b1.toPandas().to_parquet(dup)
    os.utime(dup, (1700000300, 1700000300))
    run("cr_out", "crck1")
    assert sorted(map(tuple, spark.read.parquet(
        str(tmp_path / "cr_out")).collect())) == got1


def test_stateful_page_hinkley_matches_batch_and_drops_replays(
        spark, sf_smoke, tmp_path):
    """Streaming Page-Hinkley (applyInPandasWithState over the daily
    count rows, fed as two MONOTONE day batches) must end in the
    EXACT state the registered batch query
    (queries_round16.page_hinkley_drift) reports — n_days equal,
    ph_final / ph_max / drift_day bit-equal; and a duplicate batch
    redelivered into the EXISTING checkpoint must be a strict
    zero-row no-op (the cross-batch t<=last_t drop branch)."""
    import os

    from travel_data_pipeline_spark.queries_round16 import (
        _daily_counts,
        page_hinkley_drift,
    )

    ev = load_table(spark, sf_smoke, "events")
    daily = _daily_counts(ev).select(
        F.col("t").cast("long").alias("t"),
        F.col("cnt").cast("long").alias("cnt"))
    all_days = sorted(r.t for r in daily.select("t").distinct().collect())
    cut = all_days[len(all_days) // 2]
    b1 = daily.filter(F.col("t") <= cut)
    b2 = daily.filter(F.col("t") > cut)

    feed = tmp_path / "phfeed"
    feed.mkdir()
    for i, part_df in enumerate([b1, b2]):
        p = str(feed / f"b{i}.parquet")
        part_df.toPandas().to_parquet(p)
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    def run(outdir, ckpt):
        stream = (spark.readStream.schema("t long, cnt long")
                  .option("maxFilesPerTrigger", 1).parquet(str(feed)))
        out = jobs.page_hinkley_stateful(stream)
        q = (out.writeStream.format("parquet")
             .option("path", str(tmp_path / outdir))
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run("ph_out", "phck1")
    rows = spark.read.parquet(str(tmp_path / "ph_out")).collect()
    assert len(rows) == len(all_days)
    last = max(rows, key=lambda r: r.t)
    want = page_hinkley_drift(spark, sf_smoke).collect()[0]
    assert last.n_days == want.n_days
    assert repr(last.ph_final) == repr(want.ph_final)
    assert repr(last.ph_max) == repr(want.ph_max)
    assert last.drift_day == want.drift_day

    # the mid-split boundary row closes exactly the first-half prefix
    mid = next(r for r in rows if r.t == cut)
    assert mid.n_days == len([d for d in all_days if d <= cut])

    # TRUE at-least-once redelivery: duplicate the first-half batch
    # into the feed and RESUME the existing checkpoint — every row's
    # t is <= last_t, so the monotone drop fires for all of them
    got1 = sorted(map(tuple, rows))
    dup = str(feed / "b0_redelivered.parquet")
    b1.toPandas().to_parquet(dup)
    os.utime(dup, (1700000300, 1700000300))
    run("ph_out", "phck1")
    assert sorted(map(tuple, spark.read.parquet(
        str(tmp_path / "ph_out")).collect())) == got1


def test_stateful_spc_matches_batch_and_drops_replays(
        spark, sf_smoke, tmp_path):
    """Streaming Western-Electric monitor (Phase-II fixed limits fed
    the exact Phase-I values) must emit flag rows bit-equal to the
    batch query over a monotone day split, and a duplicate batch
    redelivered into the EXISTING checkpoint must be a strict
    zero-row no-op."""
    import math
    import os

    import pandas as pd

    from travel_data_pipeline_spark.queries_round17 import (
        _daily_counts,
        spc_western_electric,
    )

    ev = load_table(spark, sf_smoke, "events")
    daily = _daily_counts(ev).select(
        F.col("t").cast("long").alias("t"),
        F.col("cnt").cast("long").alias("cnt"))
    pdf = daily.toPandas().sort_values("t")
    # Phase-I limits with the batch query's exact-integer spelling
    n = len(pdf)
    sx = int(pdf["cnt"].sum())
    sxx = int((pdf["cnt"].astype(object) ** 2).sum())
    mu = sx / n
    sigma = math.sqrt(n * float(sxx) - float(sx) * sx) / n

    cut = pdf["t"].iloc[n // 2]
    b1 = daily.filter(F.col("t") <= int(cut))
    b2 = daily.filter(F.col("t") > int(cut))
    feed = tmp_path / "spcfeed"
    feed.mkdir()
    for i, part_df in enumerate([b1, b2]):
        p = str(feed / f"b{i}.parquet")
        part_df.toPandas().to_parquet(p)
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    def run(outdir, ckpt):
        stream = (spark.readStream.schema("t long, cnt long")
                  .option("maxFilesPerTrigger", 1).parquet(str(feed)))
        out = jobs.spc_stateful(stream, mu, sigma)
        q = (out.writeStream.format("parquet")
             .option("path", str(tmp_path / outdir))
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run("spc_out", "spcck1")
    got = {r.t: r for r in
           spark.read.parquet(str(tmp_path / "spc_out")).collect()}
    want = {r.t: r for r in spc_western_electric(
        spark, sf_smoke).collect()}
    assert set(got) == set(want)
    for t, w in want.items():
        g = got[t]
        assert repr(g.z) == repr(w.z), (t, g.z, w.z)
        for rule in ("r1", "r2", "r3", "r4"):
            assert getattr(g, rule) == getattr(w, rule), (t, rule)

    # duplicate redelivery into the existing checkpoint: no-op
    before = sorted(got)
    dup = str(feed / "b0_redelivered.parquet")
    b1.toPandas().to_parquet(dup)
    os.utime(dup, (1700000300, 1700000300))
    run("spc_out", "spcck1")
    after = sorted(r.t for r in
                   spark.read.parquet(str(tmp_path / "spc_out"))
                   .collect())
    assert after == before


def test_stateful_ewma_chart_matches_folds_and_drops_replays(
        spark, sf_smoke, tmp_path):
    """Streaming EWMA monitor: (a) bit-equal to the identically-
    spelled Spark-side recurrence fold, (b) ~1e-6 agreement with the
    registered closed-form batch query (a recurrence and a closed
    form are different IEEE sequences — the round-13 gotcha), and
    (c) a duplicate batch redelivered into the EXISTING checkpoint
    is a strict zero-row no-op."""
    import math
    import os

    # registry first — a direct queries_round16 import mid-init hits
    # the round17 day-grid circular import (round-13 gotcha)
    from travel_data_pipeline_spark import registry  # noqa: F401
    from travel_data_pipeline_spark.queries_round16 import (
        _daily_counts,
    )
    from travel_data_pipeline_spark.queries_round18 import (
        ewma_control_chart_daily,
    )

    ev = load_table(spark, sf_smoke, "events")
    daily = _daily_counts(ev).select(
        F.col("t").cast("long").alias("t"),
        F.col("cnt").cast("long").alias("cnt"))
    pdf = daily.toPandas().sort_values("t")
    n = len(pdf)
    sx = int(pdf["cnt"].sum())
    sxx = int((pdf["cnt"].astype(object) ** 2).sum())
    mu = sx / n
    sd = math.sqrt(n * float(sxx) - float(sx) * sx) / n

    cut = pdf["t"].iloc[n // 2]
    b1 = daily.filter(F.col("t") <= int(cut))
    b2 = daily.filter(F.col("t") > int(cut))
    feed = tmp_path / "ewmafeed"
    feed.mkdir()
    for i, part_df in enumerate([b1, b2]):
        p = str(feed / f"b{i}.parquet")
        part_df.toPandas().to_parquet(p)
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    def run(outdir, ckpt):
        stream = (spark.readStream.schema("t long, cnt long")
                  .option("maxFilesPerTrigger", 1).parquet(str(feed)))
        out = jobs.ewma_chart_stateful(stream, mu, sd)
        q = (out.writeStream.format("parquet")
             .option("path", str(tmp_path / outdir))
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run("ewma_out", "ewmack1")
    got = {r.t: r for r in
           spark.read.parquet(str(tmp_path / "ewma_out")).collect()}
    assert set(got) == set(pdf["t"])

    # (a) bit-equality against the identically-spelled Spark fold:
    # running recurrence + running (1-lam)^2 product, rounded r6
    lam = 0.2
    srt = F.array_sort(F.collect_list(F.struct("t", "cnt")))
    folded = daily.groupBy().agg(srt.alias("xs")).select(
        F.aggregate(
            F.expr("slice(xs, 2, 1000000)"),
            F.struct(
                F.element_at(F.col("xs"), 1)["cnt"].cast("double")
                .alias("l"),
                F.lit((1.0 - lam) * (1.0 - lam)).alias("p"),
                F.array(F.struct(
                    F.element_at(F.col("xs"), 1)["t"].alias("t"),
                    F.element_at(F.col("xs"), 1)["cnt"]
                    .cast("double").alias("l"),
                    F.lit((1.0 - lam) * (1.0 - lam)).alias("p")))
                .alias("walk")),
            lambda acc, x: F.struct(
                (F.lit(lam) * x["cnt"] + F.lit(1.0 - lam)
                 * acc["l"]).alias("l"),
                (acc["p"] * F.lit((1.0 - lam) * (1.0 - lam)))
                .alias("p"),
                F.array_append(
                    acc["walk"],
                    F.struct(
                        x["t"].alias("t"),
                        (F.lit(lam) * x["cnt"] + F.lit(1.0 - lam)
                         * acc["l"]).alias("l"),
                        (acc["p"] * F.lit((1.0 - lam) * (1.0 - lam)))
                        .alias("p"))).alias("walk"))).alias("st")
    ).select(F.explode(F.col("st")["walk"]).alias("e")).select(
        F.col("e.t").alias("t"),
        F.round(F.col("e.l"), 6).alias("l6"),
        (F.round(mu + 3.0 * sd * F.sqrt(
            F.lit(lam / (2.0 - lam))
            * (1.0 - F.col("e.p"))), 6) + 0.0).alias("ucl6"))
    for r in folded.collect():
        g = got[r.t]
        assert repr(g.ewma) == repr(r.l6), (r.t, g.ewma, r.l6)
        assert repr(g.ucl) == repr(r.ucl6), (r.t, g.ucl, r.ucl6)

    # (b) closed-form batch query agreement (last 14 days, ~1e-6)
    for b in ewma_control_chart_daily(spark, sf_smoke).collect():
        g = got[b.t]
        assert abs(g.ewma - b.ewma) < 2e-6 * max(1.0, abs(b.ewma))
        assert abs(g.ucl - b.ucl) < 2e-6 * max(1.0, abs(b.ucl))
        assert abs(g.lcl - b.lcl) < 2e-6 * max(1.0, abs(b.lcl))

    # (c) duplicate redelivery into the existing checkpoint: no-op
    before = sorted(got)
    dup = str(feed / "b0_redelivered.parquet")
    b1.toPandas().to_parquet(dup)
    os.utime(dup, (1700000300, 1700000300))
    run("ewma_out", "ewmack1")
    after = sorted(r.t for r in
                   spark.read.parquet(str(tmp_path / "ewma_out"))
                   .collect())
    assert after == before


# --- the monotone-scan driver: one contract for the eight sequential twins.
# Every twin folds the same eight days: input row i carries day i + 1 and
# count _CNTS[i]; _ARRIVAL is the order they land in (05,01,02,...,08).

_DAYS = [f"2024-01-{d:02d}" for d in range(1, 9)]
_CNTS = [3, 1, 4, 1, 5, 9, 2, 6]
_ARRIVAL = [(i, _CNTS[i]) for i in (4, 0, 1, 2, 3, 5, 6, 7)]
_IN_ORDER = sorted(_ARRIVAL)
_MU, _SD = 4.0, 1.5


def _d6(x):
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)


def _r6(x):
    return float(_d6(repr(float(x)))) + 0.0


def _ewma_ref(xs):
    out, e = [], None
    for i, c in xs:
        e = float(c) if e is None else 0.3 * c + (1.0 - 0.3) * e
        out.append((1, i + 1, e))
    return out


def _anomaly_ref(xs):
    import math

    out, n, s, ss = [], 0, 0, 0
    for i, c in xs:
        if n >= 2:
            var = (float(ss) - float(s) * float(s) / float(n)) \
                / (float(n) - 1.0)
            z = (float(c) - float(s) / float(n)) / math.sqrt(var)
            out.append(("e", _DAYS[i], c, round(z, 6) + 0.0))
        n, s, ss = n + 1, s + c, ss + c * c
    return out


def _holt_ref(xs):
    out, lvl, trd = [], None, None
    for i, c in xs:
        if lvl is None:
            lvl, trd = float(c), 0.0
        else:
            new = 0.3 * c + (1.0 - 0.3) * (lvl + trd)
            trd = 0.1 * (new - lvl) + (1.0 - 0.1) * trd
            lvl = new
        out.append(("e", _DAYS[i], c, round(lvl, 6), round(trd, 6) + 0.0))
    return out


def _holt_winters_ref(xs):
    from decimal import Decimal as D

    seed = [c for _, c in xs[:7]]
    lvl, trd = _d6(repr(float(sum(seed)) / 7.0)), D(0)
    seas = [c - lvl for c in seed]
    out = [("e", _DAYS[i], c, float(lvl), 0.0, float(s), None)
           for (i, c), s in zip(xs, seas)]
    for i, c in xs[7:]:
        sm = seas[0]
        lt = _d6(D("0.25") * (c - sm) + D("0.75") * (lvl + trd))
        bt = _d6(D("0.05") * (lt - lvl) + D("0.95") * trd)
        st = _d6(D("0.2") * (c - lt) + D("0.8") * sm)
        out.append(("e", _DAYS[i], c, float(lt), float(bt), float(st),
                    float(lvl + trd + sm)))
        lvl, trd, seas = lt, bt, seas[1:] + [st]
    return out


def _croston_ref(xs):
    from decimal import Decimal as D

    out, zs, ps, prev = [], None, None, None
    for n, (i, c) in enumerate(xs, 1):
        z = D(f"{c}.25")
        if zs is None:
            zs, ps = _d6(z), _d6(1)
        else:
            zs = _d6(D("0.2") * z + D("0.8") * zs)
            ps = _d6(D("0.2") * (i - prev) + D("0.8") * ps)
        prev = i
        out.append(("b", _DAYS[i], f"{c}.25", n, float(zs), float(ps),
                    float(_d6(repr(float(zs) / float(ps))))))
    return out


def _page_hinkley_ref(xs):
    out, s, m, minm, maxph, arg = [], 0, 0.0, 0.0, 0.0, None
    for n, (i, c) in enumerate(xs, 1):
        s += c
        if n == 1:
            arg = i + 1
        else:
            m = m + c - s / n
            minm = min(minm, m)
            if m - minm > maxph:
                maxph, arg = m - minm, i + 1
        out.append((i + 1, c, n, _r6(m - minm), _r6(maxph), arg))
    return out


def _spc_ref(xs):
    def rule(w, k, hits, lim):
        return len(w) >= k and (len([v for v in w[-k:] if v > lim]) >= hits
                                or len([v for v in w[-k:] if v < -lim])
                                >= hits)

    out, zs = [], []
    for i, c in xs:
        z = (float(c) - _MU) / _SD
        zs.append(z)
        out.append((i + 1, c, _r6(z), abs(z) > 3.0, rule(zs, 3, 2, 2.0),
                    rule(zs, 5, 4, 1.0), rule(zs, 8, 8, 0.0)))
    return out


def _ewma_chart_ref(xs):
    import math

    out, lam, l, p = [], 0.2, 0.0, 1.0
    for n, (i, c) in enumerate(xs, 1):
        l = float(c) if n == 1 else lam * c + (1.0 - lam) * l
        p *= (1.0 - lam) * (1.0 - lam)
        half = 3.0 * _SD * math.sqrt(lam / (2.0 - lam) * (1.0 - p))
        out.append((i + 1, c, n, _r6(l), _r6(_MU + half), _r6(_MU - half),
                    l > _MU + half or l < _MU - half))
    return out


_DAILY = "event_type string, day string, cnt long"
_GLOBAL = "t long, cnt long"

# twin -> (input DDL, input row of (day index i, count c), the twin
# applied to a stream, its pure-Python recurrence over in-order rows)
_TWINS = {
    "ewma_stateful": (
        "user_id long, event_id long, ts timestamp, value double",
        lambda i, c: (1, i + 1, _DAYS[i], float(c)),
        jobs.ewma_stateful, _ewma_ref),
    "anomaly_stateful": (
        _DAILY, lambda i, c: ("e", _DAYS[i], c),
        lambda df: jobs.anomaly_stateful(df, min_n=2), _anomaly_ref),
    "holt_stateful": (
        _DAILY, lambda i, c: ("e", _DAYS[i], c),
        jobs.holt_stateful, _holt_ref),
    "holt_winters_stateful": (
        _DAILY, lambda i, c: ("e", _DAYS[i], c),
        jobs.holt_winters_stateful, _holt_winters_ref),
    "croston_stateful": (
        "brand string, day string, z string",
        lambda i, c: ("b", _DAYS[i], f"{c}.25"),
        jobs.croston_stateful, _croston_ref),
    "page_hinkley_stateful": (
        _GLOBAL, lambda i, c: (i + 1, c),
        jobs.page_hinkley_stateful, _page_hinkley_ref),
    "spc_stateful": (
        _GLOBAL, lambda i, c: (i + 1, c),
        lambda df: jobs.spc_stateful(df, _MU, _SD), _spc_ref),
    "ewma_chart_stateful": (
        _GLOBAL, lambda i, c: (i + 1, c),
        lambda df: jobs.ewma_chart_stateful(df, _MU, _SD), _ewma_chart_ref),
}


def _run_twin(spark, name, batches, feed_dir):
    """Land each batch of (i, c) rows as one file, in order, and drain
    them through the twin one micro-batch per file; the emitted rows,
    sorted."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    ddl, make_row, twin, _ = _TWINS[name]
    cols = [f.split()[0] for f in ddl.split(", ")]
    os.makedirs(feed_dir)
    for k, batch in enumerate(batches):
        pdf = pd.DataFrame([make_row(i, c) for i, c in batch], columns=cols)
        if "ts" in cols:
            pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
        path = os.path.join(feed_dir, f"b{k}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       path, coerce_timestamps="us")
        os.utime(path, (1700000000 + 60 * k, 1700000000 + 60 * k))
    stream = (spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1)
              .parquet(feed_dir))
    sink = f"scan_{uuid.uuid4().hex[:8]}"
    q = (twin(stream).writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return sorted(tuple(r) for r in spark.table(sink).collect())


@pytest.mark.parametrize("name", list(_TWINS))
def test_monotone_scan_sorts_the_whole_micro_batch(spark, tmp_path, name):
    """A key's rows reach the state function in several Arrow chunks;
    the twin must sort the whole micro-batch, not each chunk. One key,
    one micro-batch landing 05,01,02,...,08, two rows per chunk: the
    output equals the one-chunk run and the pure-Python recurrence."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        chunked = _run_twin(spark, name, [_ARRIVAL], str(tmp_path / "c2"))
    finally:
        spark.conf.set(key, old)
    single = _run_twin(spark, name, [_ARRIVAL], str(tmp_path / "c1"))
    want = sorted(_TWINS[name][3](_IN_ORDER))
    assert single == want
    assert chunked == want


@pytest.mark.parametrize("name", list(_TWINS))
def test_monotone_scan_raises_on_duplicate_order(spark, tmp_path, name):
    """Two rows with one order value in a micro-batch are the wrong
    grain, and which one folds first would be arbitrary: every twin
    fails the query with ValueError."""
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="ValueError"):
        _run_twin(spark, name, [_ARRIVAL + [(2, 7)]], str(tmp_path / "f"))


@pytest.mark.parametrize("name", list(_TWINS))
def test_monotone_scan_drops_late_rows(spark, tmp_path, name):
    """A later micro-batch replaying an old day with a poisoned value
    is dropped by every twin (for ewma_stateful: an event at or before
    the user's last folded (ts, event_id)); the output is the
    recurrence over the in-order rows alone."""
    got = _run_twin(spark, name, [_ARRIVAL, [(4, 999)]], str(tmp_path / "f"))
    assert got == sorted(_TWINS[name][3](_IN_ORDER))


_ISOLATED = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
from tests.test_streaming import _ARRIVAL, _IN_ORDER, _TWINS, _run_twin
bad = [name for k, (name, (_, _, _, ref)) in enumerate(_TWINS.items())
       if _run_twin(spark, name, [_ARRIVAL], f"feed{k}")
       != sorted(ref(_IN_ORDER))]
spark.stop()
print(json.dumps(bad))
"""


def test_twins_run_without_the_package_on_the_worker_path(tmp_path):
    """The verify setup: a driver in a directory outside the repo that
    reaches the package only through a sys.path insert, so a Python
    worker cannot import travel_data_pipeline_spark. Every twin's state
    function and step must still run there (they reference only the
    standard library, pandas and their closure)."""
    import json
    import os
    import signal
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.Popen(
        [sys.executable, "-c", _ISOLATED, repo], stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, env=env, cwd=tmp_path,
        start_new_session=True)
    try:
        out, err = proc.communicate(timeout=600)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    assert proc.returncode == 0, err[-3000:]
    assert json.loads(out.strip().splitlines()[-1]) == []


# Package definitions allowed to call applyInPandasWithState, keyed by
# (module, enclosing top-level definition): a reason each.
_STATEFUL_ALLOW = {
    ("streaming/jobs.py", "_monotone_scan"):
        "the one driver of the sequential twins",
    ("streaming/jobs.py", "trends_growth_stateful"):
        "update mode, one row per key: not a monotone scan",
    ("streaming/jobs.py", "running_totals_stateful"):
        "update mode, one row per key: not a monotone scan",
}


def test_apply_in_pandas_with_state_only_in_the_driver():
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "travel_data_pipeline_spark"
    hits, seen = [], set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            for node in ast.walk(stmt):
                if (isinstance(node, ast.Attribute)
                        and node.attr == "applyInPandasWithState"):
                    where = (rel, getattr(stmt, "name", "<module>"))
                    seen.add(where)
                    if where not in _STATEFUL_ALLOW:
                        hits.append(f"{rel}:{node.lineno} ({where[1]})")
    assert not hits, ("a sequential stateful twin goes through "
                      f"streaming.jobs._monotone_scan: {hits}")
    assert set(_STATEFUL_ALLOW) <= seen, \
        f"stale: {set(_STATEFUL_ALLOW) - seen}"
