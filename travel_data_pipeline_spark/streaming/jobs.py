"""Structured Streaming jobs — SURVEY.md §2.8 (T1-T6 upgrades).

The reference's "streaming" is externally-timed batch: cron triggers
(T1), queue fan-out (T2), at-least-once with idempotent overwrite (T3),
an ASA hot/cold split (T4), and `past_due` logging instead of late-data
semantics (T5). This module is the idiomatic Structured Streaming
re-expression, plus the principled upgrades the reference lacks:
real watermarks, tumbling/sliding/session windows, and an idempotent
foreachBatch merge sink.

Delta is not on this container's classpath (pyspark_guide.md), so merge
sinks are emulated with parquet + key-dedup in foreachBatch; the API
surface is the same and swaps to `MERGE INTO` when Delta is present.

All jobs read the driver's `events` table as a file stream; the
physical type of `ts` has varied across driver testdata generations
(TIMESTAMP(NANOS) vs TIMESTAMP(MICROS, NTZ)), so `read_events_stream`
probes the parquet footer and normalizes to TIMESTAMP, mirroring the
batch reader.
"""

from __future__ import annotations

import datetime
import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from travel_data_pipeline_spark.fixtures import local_relation


def _events_stream_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_type),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7 — file-source stream over the events table (one micro-batch
    per file batch; in production this is the Kafka/Event Hub source K1
    consumes from).

    Streams need the schema up front, but the driver's testdata has
    shipped events.ts as both TIMESTAMP(NANOS) (reads as a nanos long
    under legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS, NTZ)
    across rounds — so probe the footer with a zero-cost batch-read
    and normalize to TIMESTAMP, exactly like readers.load_table.
    """
    import os

    probe = dict(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")).dtypes
    ).get("ts")
    if probe == "bigint":  # TIMESTAMP(NANOS) + nanosAsLong session
        raw = (spark.readStream.format("parquet")
               .schema(_events_stream_schema(T.LongType()))
               .option("pathGlobFilter", "events.parquet")
               .load(sf_dir))
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if probe == "timestamp_ntz":
        raw = (spark.readStream.format("parquet")
               .schema(_events_stream_schema(T.TimestampNTZType()))
               .option("pathGlobFilter", "events.parquet")
               .load(sf_dir))
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    raw = (spark.readStream.format("parquet")
           .schema(_events_stream_schema(T.TimestampType()))
           .option("pathGlobFilter", "events.parquet")
           .load(sf_dir))
    return raw


def bronze_passthrough(events: DataFrame, out_dir: str,
                       checkpoint: str) -> StreamingQuery:
    """K6 — raw-layer passthrough (Stream Analytics -> Blob raw,
    README.md:80-81): no transform, append-only bronze sink."""
    return (events.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """T5 upgrade — watermarked tumbling-window aggregation. Late rows
    beyond the watermark are dropped instead of logged (the reference
    only logs `past_due`, exchange_rate_trigger.py:32-34)."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                  .alias("total_value"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "event_type", "n", "total_value"))


def sliding_means(events: DataFrame, window: str = "30 minutes",
                  slide: str = "10 minutes",
                  watermark: str = "1 hour") -> DataFrame:
    """Sliding-window mean per event_type (capability the reference's
    5-min cron only approximates)."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window, slide), "event_type")
            .agg(F.avg("value").alias("mean_value"),
                 F.count("*").alias("n"))
            .select(F.col("window.start").alias("window_start"),
                    "event_type", "mean_value", "n"))


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """session_window — streaming twin of operators.windows.sessionize
    (same start=min(ts), end=max(ts)+gap semantics)."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "user_id", "n_events"))


def hot_cold_split(events: DataFrame, hot_dir: str, cold_dir: str,
                   hot_checkpoint: str, cold_checkpoint: str,
                   hot_types: tuple[str, ...] = ("purchase", "error"),
                   ) -> tuple[StreamingQuery, StreamingQuery]:
    """T4 — two sinks off one source: the ASA hot-path (Power BI) /
    cold-path (Blob raw) split (README.md:80-83)."""
    hot = (events.filter(F.col("event_type").isin(*hot_types))
           .writeStream.format("parquet")
           .option("path", hot_dir).option("checkpointLocation", hot_checkpoint)
           .outputMode("append").trigger(availableNow=True).start())
    cold = (events.writeStream.format("parquet")
            .option("path", cold_dir).option("checkpointLocation", cold_checkpoint)
            .outputMode("append").trigger(availableNow=True).start())
    return hot, cold


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path` via the session's Hadoop conf —
    works on any Hadoop-supported FS, not just local disk."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def foreach_batch_upsert(agg: DataFrame, target_dir: str, checkpoint: str,
                         keys: tuple[str, ...]) -> StreamingQuery:
    """T3 — idempotent merge sink: each micro-batch upserts into the
    target keyed table (Delta MERGE INTO semantics emulated on parquet:
    read target, anti-join on keys, union, rewrite). At-least-once
    redelivery therefore converges to the same state the reference got
    from its overwrite-by-name blob sink (_archive/function_app.py:203).

    The empty-target case is an explicit FS existence check — a read
    failure on an existing target (transient FS error, corrupt files)
    propagates instead of silently restarting the table from one batch.
    The swap is rename-based: a crash mid-swap leaves either the old
    target or the complete `_next` on disk, never a half-written target.

    Scale note: rewrites the whole target per micro-batch — O(table).
    Fine as a declared Delta-MERGE emulation; swap to `MERGE INTO` when
    Delta is on the classpath, or partition the target by a
    batch-derivable key and rewrite only touched partitions.
    """
    key_list = list(keys)

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates(key_list)
        fs, target_path = _hadoop_fs(spark, target_dir)
        if fs.exists(target_path):
            current = spark.read.parquet(target_dir)
            kept = current.join(batch.select(*key_list), key_list, "left_anti")
            merged = kept.unionByName(batch)
        else:
            merged = batch
        next_dir = target_dir + "_next"
        merged.write.mode("overwrite").parquet(next_dir)
        # rename-based swap: old target fully replaced or untouched
        _, next_path = _hadoop_fs(spark, next_dir)
        if fs.exists(target_path):
            fs.delete(target_path, True)
        fs.rename(next_path, target_path)

    return (agg.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
            .trigger(availableNow=True)
            .start())


def to_json_sink(events: DataFrame, out_dir: str,
                 checkpoint: str) -> StreamingQuery:
    """K1 — Event Hub/Kafka-shaped sink: to_json(struct(*)) payloads
    (exchange_rate_trigger.py:45-52). Without a Kafka broker on the
    container the payload lands as text files; the payload column is
    what `writeStream.format('kafka')` would take as `value`."""
    payload = events.select(F.to_json(F.struct("*")).alias("value"))
    return (payload.writeStream.format("text")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def trends_growth_stateful(trends: DataFrame, window: int = 15) -> DataFrame:
    """The trends pipeline's streaming twin: per (group_id, keyword),
    keep the most recent 2*window observations in state and emit the
    reference's recent/prior means + epsilon growth each micro-batch
    (google_trends_crawler.py:71-92 semantics, incremental).

    State is two bounded parallel arrays (ts micros, interest) — memory
    per key is O(2*window), so 100k keywords cost ~100 MB of state.
    """
    import pandas as pd  # noqa: F401

    out_schema = T.StructType([
        T.StructField("group_id", T.IntegerType()),
        T.StructField("keyword", T.StringType()),
        T.StructField("recent_mean", T.DoubleType()),
        T.StructField("prior_mean", T.DoubleType()),
        T.StructField("raw_growth", T.DoubleType()),
        T.StructField("last_interest", T.DoubleType()),
        T.StructField("n_obs", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("ts", T.ArrayType(T.LongType())),
        T.StructField("interest", T.ArrayType(T.DoubleType())),
    ])
    cap = 2 * window

    # self-contained closure (executors may lack this repo on sys.path)
    def update(key, pdfs, state):
        import math

        import pandas as pd

        ts, vals = state.get if state.exists else ([], [])
        ts, vals = list(ts), list(vals)
        for pdf in pdfs:
            for t, v in zip(pdf["ts"], pdf["interest"]):
                micros = int(t.value // 1000)  # pandas Timestamp ns -> us
                ts.append(micros)
                vals.append(float(v) if v is not None and not (
                    isinstance(v, float) and math.isnan(v)) else float("nan"))
        order = sorted(range(len(ts)), key=lambda i: ts[i])[-cap:]
        ts = [ts[i] for i in order]
        vals = [vals[i] for i in order]
        state.update((ts, vals))

        def mean(xs):
            xs = [x for x in xs if not math.isnan(x)]
            return sum(xs) / len(xs) if xs else float("nan")

        recent = mean(vals[-window:])
        prior = mean(vals[-2 * window:-window])
        if not math.isnan(prior) and prior > 0:
            growth = (recent - prior) / prior
        elif not math.isnan(recent) and recent > 0:
            growth = recent / 1e-6
        else:
            growth = 0.0
        last = vals[-1] if vals else float("nan")
        yield pd.DataFrame({
            "group_id": [key[0]], "keyword": [key[1]],
            "recent_mean": [recent], "prior_mean": [prior],
            "raw_growth": [growth],
            "last_interest": [0.0 if math.isnan(last) else last],
            "n_obs": [len(vals)],
        })

    return (trends.groupBy("group_id", "keyword")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", "NoTimeout"))


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running value total + event count across micro-batches (the
    sanctioned surface for per-group Python state, SURVEY.md §2.9)."""
    import pandas as pd  # noqa: F401

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("total_value", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
    ])

    # self-contained closure: executors may not have this repo on path
    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            total, n = state.get
        else:
            total, n = 0.0, 0
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            n += int(len(pdf))
        state.update((total, n))
        yield pd.DataFrame({"user_id": [key[0]], "total_value": [total],
                            "n_events": [n]})

    return (events.groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", "NoTimeout"))


def foreach_batch_merge_versioned(stream: DataFrame, table_path: str,
                                  checkpoint: str, keys: tuple[str, ...],
                                  attempts: int = 3) -> StreamingQuery:
    """T3/K5 — micro-batch MERGE into the versioned parquet table
    (sources/versioned.py): copy-on-write of only the partitions the
    batch touches (O(touched), not O(table) — the scale fix for the
    plain-parquet upsert above), atomic pointer-swap commit, and every
    batch's state time-travelable. Wrapped in the T6 retry policy.

    The table must exist (versioned.write_table) so the partition
    layout is declared before streaming starts — same contract as
    Delta's MERGE. Replays after a crash re-merge the same keys:
    idempotent by the MERGE semantics."""
    from travel_data_pipeline_spark.sources import versioned
    from travel_data_pipeline_spark.streaming.retry import (
        retrying_foreach_batch,
    )

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        versioned.merge_into(batch_df.dropDuplicates(list(keys)),
                             table_path, keys=list(keys))

    return (stream.writeStream
            .foreachBatch(retrying_foreach_batch(merge_batch,
                                                 attempts=attempts,
                                                 jitter_s=0.0))
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
            .trigger(availableNow=True)
            .start())


def streaming_exact_dedup(docs_stream: DataFrame, out_dir: str,
                          checkpoint: str,
                          ts_col: str = "ingest_ts",
                          text_col: str = "text",
                          watermark: str = "1 hour") -> StreamingQuery:
    """Streaming exact dedup for a training-data ingest stream: key on
    the md5 of normalized text, keep exactly ONE representative per
    key, drop redelivered or duplicate documents. (Across micro-batches
    the earlier batch's row survives; within one micro-batch the
    representative is partition-order-dependent — same contract as
    Spark's own dropDuplicates.)

    ``dropDuplicatesWithinWatermark`` bounds the dedup state: keys
    older than the watermark are evicted, so state is
    O(throughput x watermark), not O(corpus) — the only shape that
    survives an unbounded ingest stream. Cross-watermark duplicates
    are the batch dedup's job (operators/dedup.exact_dedup over the
    landed bronze), exactly how production pipelines split the two.
    """
    from travel_data_pipeline_spark.operators.dedup import normalize_text

    keyed = docs_stream.withColumn(
        "text_key", F.md5(normalize_text(F.col(text_col))))
    deduped = (keyed.withWatermark(ts_col, watermark)
               .dropDuplicatesWithinWatermark(["text_key"]))
    return (deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def attribute_purchases_stream(clicks: DataFrame, purchases: DataFrame,
                               within: str = "1 hour") -> DataFrame:
    """Stream-stream interval join: each purchase joins the same
    user's clicks from the preceding ``within`` interval (ad-style
    attribution). Watermarks on BOTH sides plus the time-range
    predicate let Spark expire join state — without them a
    stream-stream join buffers forever. State is
    O(throughput x within), the only shape that survives unbounded
    streams.
    """
    c = (clicks.select(F.col("user_id").alias("c_user"),
                       F.col("event_id").alias("click_id"),
                       F.col("ts").alias("click_ts"))
         .withWatermark("click_ts", within))
    p = (purchases.select(F.col("user_id").alias("p_user"),
                          F.col("event_id").alias("purchase_id"),
                          F.col("value").alias("amount"),
                          F.col("ts").alias("purchase_ts"))
         .withWatermark("purchase_ts", within))
    cond = F.expr(f"""
        c_user = p_user AND
        purchase_ts >= click_ts AND
        purchase_ts <= click_ts + interval {within}""")
    return (c.join(p, cond, "inner")
            .select(F.col("p_user").alias("user_id"),
                    "click_id", "purchase_id", "amount",
                    "click_ts", "purchase_ts"))


def unconverted_clicks_stream(clicks: DataFrame, purchases: DataFrame,
                              within: str = "1 hour") -> DataFrame:
    """LEFT-OUTER stream-stream interval join — the retargeting feed:
    every click emits, joined to the same user's purchase within
    ``within`` when one arrives, or with NULL purchase columns once
    the watermark passes the click's join window (Spark holds the
    click in state until then — an outer result cannot be emitted
    before the engine KNOWS no match can still arrive; this is the
    outer-join delivery semantics availableNow single-batch runs
    never flush, so tests drive it with sequential checkpointed
    runs).  State stays O(throughput x within), the inner-join bound.
    """
    c = (clicks.select(F.col("user_id").alias("c_user"),
                       F.col("event_id").alias("click_id"),
                       F.col("ts").alias("click_ts"))
         .withWatermark("click_ts", within))
    p = (purchases.select(F.col("user_id").alias("p_user"),
                          F.col("event_id").alias("purchase_id"),
                          F.col("value").alias("amount"),
                          F.col("ts").alias("purchase_ts"))
         .withWatermark("purchase_ts", within))
    cond = F.expr(f"""
        c_user = p_user AND
        purchase_ts >= click_ts AND
        purchase_ts <= click_ts + interval {within}""")
    return (c.join(p, cond, "left_outer")
            .select(F.col("c_user").alias("user_id"),
                    "click_id", "click_ts", "purchase_id", "amount",
                    F.col("purchase_id").isNotNull().alias("converted")))


def _monotone_scan(rows: DataFrame, keys: list[str], order: list[str],
                   out_schema: T.StructType, state_schema: T.StructType,
                   init: tuple, step) -> DataFrame:
    """The one driver of the sequential stateful twins: per key, fold
    each micro-batch's rows in ``order`` through ``step(state, row) ->
    (state, rows_to_emit)`` and emit those rows, the key prepended to
    each, in append mode. ``state`` is a tuple shaped as
    ``state_schema`` (``init`` before the key's first row); ``row`` is
    a namedtuple of the input columns. An empty ``keys`` is one global
    fold in ONE state partition by design: hand it a bounded grain
    (one row per day), never raw events.

    The monotone-ingestion contract, the same for every twin:
    - a key's rows are gathered from all of its Arrow chunks and
      sorted once, stably, on ``order``. Arrow hands a group over in
      chunks of at most spark.sql.execution.arrow.maxRecordsPerBatch
      unsorted rows, so a per-chunk sort folds rows out of order and
      makes the drop below discard in-order ones;
    - a duplicate ``order`` value inside one micro-batch raises
      ValueError: which copy folds first would be arbitrary, and the
      input is at the wrong grain (raw events, not one row per day);
    - a row at or before the last folded ``order`` value, kept in the
      state after the twin's own fields, is dropped: a late arrival or
      an at-least-once replay of an old batch is a no-op instead of
      folding into the recurrence out of order. Each twin folds the
      monotone subsequence of arrivals, exactly what a watermark would
      admit, and on an in-order feed matches its batch fold.

    The state function and every ``step`` run in Python workers that
    may not have this package on their path, so they reference only
    the standard library, pandas and their own closure.
    """
    schema = T.StructType(
        [T.StructField(k, rows.schema[k].dataType) for k in keys]
        + out_schema.fields)
    full_state = T.StructType(
        state_schema.fields
        + [T.StructField(f"last_{c}", rows.schema[c].dataType)
           for c in order])
    n_state = len(state_schema.fields)
    names = schema.fieldNames()

    def update(key, pdfs, state):
        import pandas as pd

        st, last = init, None
        if state.exists:
            st, last = state.get[:n_state], state.get[n_state:]
        batch = pd.concat(list(pdfs)).sort_values(order, kind="stable")
        if batch.duplicated(order).any():
            raise ValueError(f"duplicate {order} value in one micro-batch "
                             f"for key {tuple(key)}: the input must hold "
                             f"one row per {order} (e.g. the daily grain, "
                             "not raw events)")
        prefix, out = tuple(key)[:len(keys)], []
        for row in batch.itertuples(index=False):
            pos = tuple(getattr(row, c) for c in order)
            if last is not None and pos <= last:
                continue  # late arrival / replay: drop
            st, emit = step(st, row)
            out += [prefix + tuple(r) for r in emit]
            last = pos
        if last is not None:
            state.update((*st, *last))
        yield pd.DataFrame.from_records(out, columns=names)

    grouped = (rows.groupBy(*keys) if keys
               else rows.withColumn("g", F.lit(0)).groupBy("g"))
    return grouped.applyInPandasWithState(update, schema, full_state,
                                          "append", "NoTimeout")


def ewma_stateful(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Streaming EWMA per user — the streaming twin of
    queries_stats.ewma_values_per_user: state is one double (the last
    smoothed value) per user; each event, in (ts, event_id) order,
    continues the recurrence E = alpha*v + (1-alpha)*E from state.
    Emits one row per event (append mode). With the same arrival
    order, the doubles match the batch fold exactly — asserted in
    tests/test_streaming.py.

    Late rows: an event at or before the user's last folded
    (ts, event_id) — a late arrival or a replay — is dropped, not
    folded out of order; a duplicate (ts, event_id) in one micro-batch
    raises ValueError (_monotone_scan's contract)."""
    out_schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("last_ewma", T.DoubleType()),
    ])

    def step(state, row):
        prev, v = state[0], float(row.value)
        e = v if prev is None else alpha * v + (1.0 - alpha) * prev
        return (e,), [(row.event_id, e)]

    return _monotone_scan(events, ["user_id"], ["ts", "event_id"],
                          out_schema, state_schema, (None,), step)


def rollup_maintenance_stream(events: DataFrame, table_path: str,
                              checkpoint: str):
    """Streaming continuous aggregate: every micro-batch folds into the
    versioned hourly rollup via maintain_hourly_rollup — the streaming
    producer of the same table the batch path maintains, reading each
    landed row once.

    Effectively-once on at-least-once redelivery: each commit records
    the absolute checkpoint path and the epoch, and an epoch the latest
    manifest already holds for the same checkpoint (a crash between the
    table commit and the checkpoint commit replays it) is a no-op, where
    folding it again would add its counts twice. As with
    token_shard_stream, the gate is bound to the checkpoint's lifetime:
    a fresh checkpoint restarts epochs at 0 and is applied, so
    re-feeding already-applied data under a fresh checkpoint
    double-counts."""
    return (events.writeStream
            .foreachBatch(_rollup_fold(table_path, checkpoint))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def _rollup_fold(table_path: str, checkpoint: str):
    """rollup_maintenance_stream's foreachBatch function."""
    import os

    from travel_data_pipeline_spark.sources.versioned import _maintain_rollup

    ckpt_id = os.path.abspath(checkpoint)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        _maintain_rollup(batch_df, table_path,
                         {"checkpoint": ckpt_id, "epoch": epoch_id})

    return fold


def anomaly_stateful(daily_counts: DataFrame,
                     min_n: int = 7) -> DataFrame:
    """Streaming prequential anomaly monitor — the streaming twin of
    queries_ops.anomaly_prequential: state is the exact integer moment
    triple (n, s, ss) per event_type; each day's count is z-scored
    against the history accumulated so far, THEN folded into the
    moments. Emits one row per scored day (append mode). On an
    in-order feed the doubles match the batch expanding-window
    spelling bit-for-bit; both the in-order equality and the late-day
    drop are asserted in tests/test_streaming.py."""
    out_schema = T.StructType([
        T.StructField("day", T.StringType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("zscore", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("s", T.LongType()),
        T.StructField("ss", T.LongType()),
    ])

    def step(state, row):
        (n, s, ss), cnt, emit = state, int(row.cnt), []
        if n >= min_n:
            # identical spelling to _Z_SQL: all-double over exact
            # integer moments, with the same degenerate guard
            # (zero-variance history -> NULL zscore)
            var_num = float(ss) - (float(s) * float(s)) / float(n)
            if var_num <= 0.0:
                z = None
            else:
                mean = float(s) / float(n)
                var = var_num / (float(n) - 1.0)
                z = round((float(cnt) - mean) / math.sqrt(var), 6) + 0.0
            emit = [(str(row.day), cnt, z)]
        return (n + 1, s + cnt, ss + cnt * cnt), emit

    return _monotone_scan(daily_counts, ["event_type"], ["day"],
                          out_schema, state_schema, (0, 0, 0), step)


def holt_stateful(daily_counts: DataFrame, alpha: float = 0.3,
                  gamma: float = 0.1) -> DataFrame:
    """Streaming Holt linear smoothing — the streaming twin of
    queries_timeseries.holt_linear_daily: state is the (level, trend)
    double pair per event_type; each day's count continues the
    two-state recurrence
        l' = a*x + (1-a)*(l + b);  b' = g*(l' - l) + (1-g)*b
    with the identical double spelling, so the outputs match the batch
    sorted-array fold exactly — asserted in tests/test_streaming.py."""
    out_schema = T.StructType([
        T.StructField("day", T.StringType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("lvl", T.DoubleType()),
        T.StructField("trd", T.DoubleType()),
    ])

    def step(state, row):
        (lvl, trd), x = state, int(row.cnt)
        if lvl is None:
            lvl, trd = float(x), 0.0
        else:
            new_lvl = alpha * x + (1.0 - alpha) * (lvl + trd)
            trd = gamma * (new_lvl - lvl) + (1.0 - gamma) * trd
            lvl = new_lvl
        return (lvl, trd), [(str(row.day), x, round(lvl, 6),
                             round(trd, 6) + 0.0)]

    return _monotone_scan(daily_counts, ["event_type"], ["day"],
                          out_schema, state_schema, (None, None), step)


def enrich_stream_static(events: DataFrame, dim: DataFrame,
                         key: str = "user_id") -> DataFrame:
    """Stream-static enrichment — the canonical dimension join shape in
    Structured Streaming: the static side is broadcast into every
    micro-batch (no state store, no watermark needed; Spark re-plans
    the static side per batch, so a refreshed dim table is picked up
    on the next trigger). LEFT join per the engine-wide J8 coverage
    policy — an unknown key must not drop the fact row."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), on=key, how="left")


def seed_incremental_corpus(docs: DataFrame, docs_path: str,
                            bands_path: str, num_hashes: int = 8,
                            bands: int = 4) -> None:
    """Land the existing corpus for incremental_lsh_stream: the raw
    (doc_id, text) relation plus its precomputed LSH band table, so the
    per-batch probe never re-signatures the corpus."""
    from travel_data_pipeline_spark.operators import dedup

    docs.select("doc_id", "text").write.mode("overwrite").parquet(docs_path)
    sigs = dedup.minhash_signatures(docs, num_hashes=num_hashes)
    (dedup.band_explode(sigs, num_hashes=num_hashes, bands=bands)
     .write.mode("overwrite").parquet(bands_path))


def incremental_lsh_stream(incoming: DataFrame, docs_path: str,
                           bands_path: str, pairs_out: str,
                           checkpoint: str, num_hashes: int = 8,
                           bands: int = 4, threshold: float = 0.5,
                           grow_corpus: bool = True) -> StreamingQuery:
    """Streaming near-duplicate detection — the streaming twin of
    queries_northstar.dedup_incremental_lsh: every micro-batch of
    incoming documents is MinHash-banded and equi-joined against the
    PERSISTED corpus band table, candidates are exact-Jaccard verified
    (shingles built only for candidate docs), and verified
    (corpus doc_a, incoming doc_b, jaccard) pairs append to
    ``pairs_out``.

    In grow mode pairs come from TWO probes per batch: the corpus
    join (earlier arrivals / seeded corpus) and a banded self-join of
    the batch's own bands (doc_a < doc_b), so two near-dups landing in
    the same micro-batch are caught too (ADVICE r05 — previously a
    permanent recall gap). A doc_a != doc_b guard makes at-least-once replay
    safe with ``grow_corpus``: if the corpus append committed but the
    checkpoint did not, the replayed batch probes a corpus containing
    its own docs, and without the guard would emit novel (X, X)
    self-pair keys; with it, redelivery only re-emits identical pairs
    (idempotent downstream consumers dedup on the pair key, the
    foreach_batch_upsert pattern). Replayed appends can still leave
    duplicate corpus/band ROWS — those only re-yield the same pair
    keys, never new ones. With ``grow_corpus`` off, the job is a pure
    probe whose cross-batch pairs are bit-equal to the batch query on
    any batch split — asserted in tests/test_streaming.py.

    Scale shape: the corpus side stays landed (never re-signatured);
    the per-batch work is one signature pass over the BATCH, a
    broadcast of the batch's bands into the corpus band scan, and a
    semi-joined verify — state is a parquet table, not executor
    memory, so an unbounded corpus cannot OOM the stream."""
    from travel_data_pipeline_spark.operators import dedup

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_docs = batch_df.select("doc_id", "text")
        corpus_docs = spark.read.parquet(docs_path)
        corpus_bands = spark.read.parquet(bands_path)
        inc_sigs = dedup.minhash_signatures(batch_docs,
                                            num_hashes=num_hashes)
        inc_bands = dedup.band_explode(inc_sigs, num_hashes=num_hashes,
                                       bands=bands)
        # doc_a != doc_b (ADVICE r05): under at-least-once replay with
        # grow_corpus, the corpus may already hold this batch's own
        # docs (append succeeded, checkpoint commit did not) — without
        # the guard the probe emits NEW (X, X) self-pair keys that no
        # downstream pair-key dedup can remove.
        cross = (corpus_bands.withColumnRenamed("doc_id", "doc_a")
                 .join(F.broadcast(
                     inc_bands.withColumnRenamed("doc_id", "doc_b")),
                     ["band_idx", "band_key"])
                 .filter(F.col("doc_a") != F.col("doc_b"))
                 .select("doc_a", "doc_b"))
        # within-batch self-probe (ADVICE r05), grow mode only: two
        # near-dups arriving in the SAME micro-batch share inc bands
        # but neither is in the corpus yet — the banded self-join
        # (doc_a < doc_b keys each unordered pair once) closes that
        # permanent recall gap. Pure-probe mode stays incoming-vs-
        # corpus ONLY: its contract is bit-equality with the batch
        # query on any split, which has no within-batch notion.
        cand = cross
        if grow_corpus:
            ib = inc_bands.withColumnRenamed("doc_id", "doc_a")
            within = (ib.join(F.broadcast(
                          inc_bands.withColumnRenamed("doc_id", "doc_b")),
                          ["band_idx", "band_key"])
                      .filter(F.col("doc_a") < F.col("doc_b"))
                      .select("doc_a", "doc_b"))
            # canonicalize pair keys (ADVICE r06): on replay after a
            # committed corpus append, the cross-probe sees the batch's
            # own docs on BOTH sides and emits (X, Y) *and* (Y, X);
            # the self-probe's first delivery emitted only X < Y, so
            # the reversed key would be NOVEL and defeat downstream
            # pair-key dedup. least/greatest folds both orientations
            # onto the self-probe's X < Y form before distinct.
            # Pure-probe mode keeps the corpus/incoming orientation —
            # its contract is bit-equality with the batch query.
            cand = (cand.unionByName(within)
                    .select(F.least("doc_a", "doc_b").alias("doc_a"),
                            F.greatest("doc_a", "doc_b").alias("doc_b")))
        pairs = cand.distinct().localCheckpoint(eager=True)
        # dropDuplicates(doc_id): on replay after a committed corpus
        # append the batch docs are ALSO in the corpus; duplicated doc
        # rows would double every shingle row, making Jaccard's
        # denominator size_a + size_b - inter_n collapse to ZERO for
        # replayed pairs (ANSI divide-by-zero crash, found by
        # tests/test_streaming.py::
        # test_incremental_lsh_replay_emits_no_novel_pair_keys)
        docs_all = (corpus_docs.unionByName(batch_docs)
                    .dropDuplicates(["doc_id"]))
        verified = dedup.jaccard_pairs(docs_all, pairs,
                                       threshold=threshold)
        verified.write.mode("append").parquet(pairs_out)
        if grow_corpus:
            # idempotent corpus append (ADVICE r07, same hardening as
            # ahash_media_stream): a crash between these appends and
            # the checkpoint commit replays the batch; anti-join
            # against the persisted corpus so replayed docs/bands
            # never accumulate. Materialized BEFORE the write so the
            # append never reads the path it is writing to.
            new_docs = (batch_docs.join(corpus_docs.select("doc_id"),
                                        "doc_id", "left_anti")
                        .localCheckpoint(eager=True))
            new_bands = (inc_bands.join(corpus_bands
                                        .select("doc_id").distinct(),
                                        "doc_id", "left_anti")
                         .localCheckpoint(eager=True))
            new_docs.write.mode("append").parquet(docs_path)
            new_bands.write.mode("append").parquet(bands_path)

    return (incoming.writeStream.foreachBatch(fold)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def token_shard_stream(incoming: DataFrame, state_path: str,
                       out_path: str, checkpoint: str,
                       token_budget: int = 120) -> StreamingQuery:
    """Streaming shard packer — the stateful twin of
    queries_curation.pack_token_shards: micro-batches of documents get
    shard assignments that CONTINUE each (source, lang) stream's
    running token total across batches, so a shard writer can run
    forever without re-scanning history.

    State is a versioned table of per-(source, lang) token offsets
    plus the last applied (checkpoint identity, epoch_id); a replayed
    micro-batch (at-least-once delivery) from the SAME checkpoint
    compares its epoch against the state and becomes a NO-OP —
    offsets never double-advance (same discipline as
    foreach_batch_upsert, but via the epoch high-watermark because
    offset accumulation is not naturally idempotent the way grain
    MERGE is). The watermark is bound to the checkpoint lifetime
    (ADVICE r06): epochs restart at 0 under a FRESH checkpoint, so a
    bare epoch comparison would silently no-op genuinely new batches;
    storing the checkpoint identity alongside the epoch makes a new
    checkpoint start a new watermark lineage instead of losing data.
    Corollary: re-feeding ALREADY-APPLIED data under a fresh
    checkpoint double-counts — state_path is coupled to one
    checkpoint; point a new checkpoint at a new state/out path (or
    accept the replay) when reprocessing.

    Delivery contract: offsets never double-advance, but assignments
    append BEFORE the state commit, so a crash in that window re-
    appends the same rows on replay — the sink is at-least-once with
    IDENTICAL rows (count-based consumers dedup on doc_id), not
    effectively-once.

    Under the monotone-ingestion contract (later batches carry higher
    doc_ids per stream — the stateful-twin contract of the Holt /
    anomaly twins), the union of emitted assignments is bit-equal to
    the batch query over the union of batches — asserted in
    tests/test_streaming.py on a 2-batch split.

    Scale shape per batch: one (source, lang) shuffle for the batch's
    local cumsum, one broadcast join against the (tiny,
    |sources x langs|-bounded) offsets state, one append. Nothing ever
    re-reads or rewrites prior assignments.
    """
    from pyspark.sql import Window

    from travel_data_pipeline_spark.operators import text
    from travel_data_pipeline_spark.sources import versioned

    import os as _os

    ckpt_id = _os.path.abspath(checkpoint)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        try:
            state = versioned.read_table(spark, state_path)
            if "ckpt" in state.columns:
                head = state.agg(F.max("epoch").alias("epoch"),
                                 F.max("ckpt").alias("ckpt")).first()
                # the epoch watermark only gates replays from the SAME
                # checkpoint lineage; a fresh checkpoint restarts
                # epochs at 0 and must NOT be silently no-op'd
                # (ADVICE r06)
                if (head["epoch"] is not None
                        and head["ckpt"] == ckpt_id
                        and epoch_id <= head["epoch"]):
                    return  # replayed batch: a strict no-op
            else:
                # legacy state written before the ckpt column existed:
                # fall back to the bare epoch watermark rather than
                # bypassing the gate — a same-checkpoint replay against
                # legacy state must still no-op (ADVICE r07).
                #
                # UPGRADE CONTRACT: legacy state is only meaningful
                # with ITS ORIGINAL checkpoint directory. Pointing a
                # FRESH checkpoint at legacy state is ambiguous — the
                # gate cannot distinguish a replayed epoch from a
                # genuinely new one restarting at 0 — and this
                # fallback resolves it conservatively (at-most-once:
                # epochs <= the stored watermark are dropped). The
                # double-count alternative would corrupt every future
                # shard id, while the drop loses only the replayed
                # window; operators migrating checkpoints must keep
                # the old dir or re-seed state. On first contact we
                # ADOPT the legacy state into this checkpoint's
                # lineage (write the ckpt column), so the ambiguity
                # lasts exactly one fold.
                head = state.agg(F.max("epoch").alias("epoch")).first()
                if (head["epoch"] is not None
                        and epoch_id <= head["epoch"]):
                    # LOUD drop (ADVICE r08): if this is a mistaken
                    # checkpoint migration (fresh checkpoint pointed
                    # at legacy state) rather than a true replay, this
                    # branch is silently losing a genuinely new
                    # window — make the at-most-once resolution
                    # operator-visible instead of invisible.
                    import warnings
                    warnings.warn(
                        "token_shard_stream: legacy-state gate dropped "
                        f"epoch {epoch_id} (stored watermark "
                        f"{head['epoch']}, state={state_path}). If this "
                        "checkpoint is NEW (not a replay of the state's "
                        "original checkpoint), this is DATA LOSS — keep "
                        "the original checkpoint dir or re-seed state.",
                        stacklevel=2)
                    versioned.write_table(
                        state.withColumn("ckpt", F.lit(ckpt_id)),
                        state_path)
                    return
            offsets = state.select("source", "lang", "base_tokens")
        except FileNotFoundError:
            offsets = local_relation(
                spark, [], "source string, lang string, base_tokens long")

        w = (Window.partitionBy("source", "lang").orderBy("doc_id")
             .rowsBetween(Window.unboundedPreceding, 0))
        toked = batch_df.select(
            "doc_id", "source", "lang",
            text.whitespace_token_count(F.col("text")).alias("n_tokens"))
        local = toked.withColumn("_cum", F.sum("n_tokens").over(w))
        assigned = (local.join(F.broadcast(offsets), ["source", "lang"],
                               "left")
                    .withColumn("_base", F.coalesce("base_tokens",
                                                    F.lit(0)))
                    .select("doc_id", "source", "lang", "n_tokens",
                            (F.col("_base") + F.col("_cum")).cast("long")
                            .alias("cum_tokens"),
                            F.floor((F.col("_base") + F.col("_cum")
                                     - F.col("n_tokens"))
                                    / float(token_budget))
                            .cast("long").alias("shard_id")))
        assigned.write.mode("append").parquet(out_path)

        batch_totals = (toked.groupBy("source", "lang")
                        .agg(F.sum("n_tokens").cast("long").alias("_add")))
        new_state = (offsets.join(batch_totals, ["source", "lang"],
                                  "full_outer")
                     .select("source", "lang",
                             (F.coalesce("base_tokens", F.lit(0))
                              + F.coalesce("_add", F.lit(0))).cast("long")
                             .alias("base_tokens"),
                             F.lit(epoch_id).cast("long").alias("epoch"),
                             F.lit(ckpt_id).alias("ckpt")))
        versioned.write_table(new_state, state_path)

    return (incoming.writeStream.foreachBatch(fold)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def hll_register_stream(incoming: DataFrame, state_path: str,
                        checkpoint: str) -> StreamingQuery:
    """Streaming HLL register maintenance — the stateful twin of
    queries_round8.hll_running_distinct_curve's prefix merge: each
    micro-batch's (bucket, max-rho) registers are merged into a
    64-row versioned state table by register-wise MAX, so the
    lifetime-distinct-user estimate is always one 64-row fold away
    and history is never re-scanned.

    Replay-safe WITHOUT an epoch watermark: register-wise max is
    idempotent and commutative, so at-least-once redelivery — same
    checkpoint, fresh checkpoint, any order — cannot change the
    state. This is the delivery-semantics payoff the sketch buys over
    the offset-accumulating token_shard_stream (whose state NEEDS the
    checkpoint-bound epoch gate); asserted in
    tests/test_round8.py::test_hll_register_stream (stream estimate
    bit-equal to the batch fold over the union, replay a no-op).

    Scale shape per batch: one map-side-combinable 64-group
    aggregation of the batch, one 64-row union+max, one tiny state
    write. State size is CONSTANT in stream length.
    """
    from travel_data_pipeline_spark.queries_round8 import (
        user_hll_registers,
    )
    from travel_data_pipeline_spark.sources import versioned

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_regs = user_hll_registers(batch_df.select("user_id"))
        try:
            state = (versioned.read_table(spark, state_path)
                     .select("bucket", "m"))
        except FileNotFoundError:
            state = local_relation(spark, [], "bucket int, m int")
        merged = (state.unionByName(
            batch_regs.select(F.col("bucket").cast("int").alias("bucket"),
                              F.col("m").cast("int").alias("m")))
            .groupBy("bucket").agg(F.max("m").alias("m")))
        versioned.write_table(merged, state_path)

    return (incoming.writeStream.foreachBatch(fold)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def holt_winters_stateful(daily_counts: DataFrame) -> DataFrame:
    """Streaming additive Holt-Winters — the stateful twin of
    queries_round11.holt_winters_daily: per event_type the state is
    the EXACT 6-dp decimal (level, trend, seasonal deque of 7) carried
    as strings (decimals survive the state roundtrip losslessly as
    text), plus the init buffer (the first 7 days must all arrive
    before l0 = round(mean, 6) and the seasonal seeds exist — the seed
    rows are emitted retroactively with the eighth day, the first
    recurrence row).

    The recurrence spelling is digit-identical to the batch fold
    (same python-literal constants, same HALF_UP quantization), so
    outputs are bit-equal to the batch query over the union of
    monotone batches — asserted in tests/test_streaming.py.

    The input must be the ZERO-FILLED daily grid the batch query
    folds (seasonality indexes by calendar position); feeding raw
    observed-day counts would silently shift the season.
    """
    out_schema = T.StructType([
        T.StructField("day", T.StringType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("season", T.DoubleType()),
        T.StructField("forecast", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("lvl", T.StringType()),
        T.StructField("trd", T.StringType()),
        T.StructField("seas", T.ArrayType(T.StringType())),
        T.StructField("buf_days", T.ArrayType(T.StringType())),
        T.StructField("buf_cnts", T.ArrayType(T.LongType())),
    ])
    A, A1 = Decimal("0.25"), Decimal("0.75")
    B, B1 = Decimal("0.05"), Decimal("0.95")
    G, G1 = Decimal("0.2"), Decimal("0.8")
    m = 7

    def d6(x):
        return Decimal(x).quantize(Decimal("0.000001"),
                                   rounding=ROUND_HALF_UP)

    def step(state, row):
        lvl, trd, seas, buf_d, buf_c = state
        day, x = str(row.day), int(row.cnt)
        out = []
        if lvl is None:
            if len(buf_d) < m:
                return (None, None, [], [*buf_d, day], [*buf_c, x]), []
            # the (m+1)-th day arrived: NOW init + emit the seed rows
            # retroactively — the batch query requires a grid LONGER
            # than m days before emitting anything (size > 7 gate), so
            # a 7-day-total stream must stay silent exactly like the
            # batch (review r08)
            lvl = d6(repr(float(sum(buf_c)) / float(m)))
            trd = Decimal(0)
            seas = [Decimal(c) - lvl for c in buf_c]
            out = [(d, c, float(lvl), float(trd), float(s), None)
                   for d, c, s in zip(buf_d, buf_c, seas)]
        else:
            lvl, trd = Decimal(lvl), Decimal(trd)
            seas = [Decimal(s) for s in seas]
        sm = seas[0]
        fc = lvl + trd + sm
        lt = d6(A * (Decimal(x) - sm) + A1 * (lvl + trd))
        bt = d6(B * (lt - lvl) + B1 * trd)
        st = d6(G * (Decimal(x) - lt) + G1 * sm)
        out.append((day, x, float(lt), float(bt), float(st), float(fc)))
        return (str(lt), str(bt), [str(s) for s in seas[1:] + [st]],
                [], []), out

    return _monotone_scan(daily_counts, ["event_type"], ["day"],
                          out_schema, state_schema,
                          (None, None, [], [], []), step)


def croston_stateful(demand_rows: DataFrame) -> DataFrame:
    """Streaming Croston/SBA smoother — the stateful twin of
    queries_round16.croston_intermittent_demand: per brand the state
    is the EXACT 6-dp decimal (Z level, P interval) carried as strings
    plus the previous demand day; demand sizes arrive as exact decimal
    STRINGS (2-dp text survives the Arrow roundtrip losslessly,
    doubles would not).

    The recurrence spelling is digit-identical to the batch fold
    (same Decimal constants, same HALF_UP quantization), so the LAST
    emitted row per brand is bit-equal to the registered batch query
    over any MONOTONE batch split — asserted in
    tests/test_streaming.py; at-least-once redelivery of an old batch
    is a no-op.

    Input must be the NONZERO-demand day rows (brand, day
    'yyyy-MM-dd', z decimal-string) — Croston consumes gaps through
    the interval smoother, never zero rows.
    """
    out_schema = T.StructType([
        T.StructField("day", T.StringType()),
        T.StructField("z", T.StringType()),
        T.StructField("n_demand_days", T.LongType()),
        T.StructField("z_level", T.DoubleType()),
        T.StructField("p_interval", T.DoubleType()),
        T.StructField("forecast", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("zs", T.StringType()),
        T.StructField("ps", T.StringType()),
        T.StructField("prev_day", T.StringType()),
        T.StructField("n_days", T.LongType()),
    ])
    A, A1 = Decimal("0.2"), Decimal("0.8")

    def d6(x):
        return Decimal(x).quantize(Decimal("0.000001"),
                                   rounding=ROUND_HALF_UP)

    def step(state, row):
        zs, ps, prev, n = state
        day, z = str(row.day), Decimal(row.z)
        if zs is None:
            zs, ps = d6(z), d6(1)
        else:
            gap = (datetime.date.fromisoformat(day)
                   - datetime.date.fromisoformat(prev)).days
            zs = d6(A * z + A1 * Decimal(zs))
            ps = d6(A * Decimal(gap) + A1 * Decimal(ps))
        # Spark F.round(double, 6): HALF_UP on the shortest repr
        fc = float(d6(repr(float(zs) / float(ps))))
        return ((str(zs), str(ps), day, n + 1),
                [(day, str(row.z), n + 1, float(zs), float(ps), fc)])

    return _monotone_scan(demand_rows, ["brand"], ["day"], out_schema,
                          state_schema, (None, None, None, 0), step)


def page_hinkley_stateful(daily_rows: DataFrame) -> DataFrame:
    """Streaming Page-Hinkley mean-shift monitor — the stateful twin
    of queries_round16.page_hinkley_drift (VERDICT r11 #5): one
    global fold, state = the exact (rn, s, m, min m, max PH, argmax
    day) tuple the batch recurrence carries. m/minm/maxph are IEEE
    doubles — they cross the Arrow state boundary bit-exactly (no
    string shim needed; the croston twin carries decimal strings only
    because ITS state is decimal).

    The recurrence spelling is step-identical to the batch fold:
    m += cnt - s/rn with s, rn exact integers (< 2^53, so Python's
    true division and Spark's double/double division are the same
    correctly-rounded IEEE op), and the emitted ph_final/ph_max pass
    the same shortest-repr HALF_UP 6-dp round as Spark F.round. The
    LAST emitted row per feed therefore bit-matches the registered
    batch query over any MONOTONE day split — asserted in
    tests/test_streaming.py.

    Input must be the daily count rows (t day-index long, cnt long)
    — the _daily_counts grain, one row per day; never hand this raw
    event-grain input (pre-aggregate with _daily_counts first).
    """
    out_schema = T.StructType([
        T.StructField("t", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("n_days", T.LongType()),
        T.StructField("ph_final", T.DoubleType()),
        T.StructField("ph_max", T.DoubleType()),
        T.StructField("drift_day", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("rn", T.LongType()),
        T.StructField("s", T.LongType()),
        T.StructField("m", T.DoubleType()),
        T.StructField("minm", T.DoubleType()),
        T.StructField("maxph", T.DoubleType()),
        T.StructField("argmax_t", T.LongType()),
    ])

    def r6(x):
        return float(Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP)) + 0.0

    def step(state, row):
        rn, s, m, minm, maxph, argmax_t = state
        t, cnt = int(row.t), int(row.cnt)
        rn, s = rn + 1, s + cnt
        if rn == 1:
            # seed: m0 = cnt - double(cnt) = 0.0 exactly
            m = minm = float(cnt) - float(cnt)
            maxph, argmax_t = 0.0, t
        else:
            m = m + cnt - s / rn
            minm = min(minm, m)
            if m - minm > maxph:
                maxph, argmax_t = m - minm, t
        return ((rn, s, m, minm, maxph, argmax_t),
                [(t, cnt, rn, r6(m - minm), r6(maxph), argmax_t)])

    return _monotone_scan(daily_rows, [], ["t"], out_schema, state_schema,
                          (0, 0, 0.0, 0.0, 0.0, None), step)


def spc_stateful(daily_rows: DataFrame, mu: float,
                 sigma: float) -> DataFrame:
    """Streaming Western-Electric control monitor — the Phase-II twin
    of queries_round17.spc_western_electric: limits (mu, sigma) are
    FIXED inputs (in production the Phase-I batch query fits them on
    a reference window; the monitor then applies them to live data),
    state = the trailing 8 raw z values, one global fold.

    z = (cnt - mu) / sigma with mu/sigma passed as the SAME IEEE
    doubles the batch spelling produces (exact-integer moments ->
    identical division/sqrt), so every emitted flag row is bit-equal
    to the batch query over any MONOTONE day split — asserted in
    tests/test_streaming.py.

    Input: the daily count rows (t long, cnt long) — one row per day;
    pre-aggregate raw events to the daily grain first.
    """
    out_schema = T.StructType([
        T.StructField("t", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("r1", T.BooleanType()),
        T.StructField("r2", T.BooleanType()),
        T.StructField("r3", T.BooleanType()),
        T.StructField("r4", T.BooleanType()),
    ])
    state_schema = T.StructType([
        # trailing window of raw z values (<= 8), oldest first
        T.StructField("zs", T.ArrayType(T.DoubleType())),
    ])

    mu_l, sigma_l = float(mu), float(sigma)
    if not sigma_l > 0.0:
        raise ValueError("spc_stateful: sigma must be > 0 "
                         "(the batch query yields NULL z on a "
                         "zero-variance series; a Phase-II monitor "
                         "needs real limits)")

    def r6(x):
        return float(Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP)) + 0.0

    def rule(zs, k, hits, lim):  # >= hits of the last k z on one side
        w = zs[-k:]
        return len(w) >= k and (sum(v > lim for v in w) >= hits
                                or sum(v < -lim for v in w) >= hits)

    def step(state, row):
        t, cnt = int(row.t), int(row.cnt)
        z = (float(cnt) - mu_l) / sigma_l
        zs = (state[0] + [z])[-8:]
        return (zs,), [(t, cnt, r6(z), abs(z) > 3.0, rule(zs, 3, 2, 2.0),
                        rule(zs, 5, 4, 1.0), rule(zs, 8, 8, 0.0))]

    return _monotone_scan(daily_rows, [], ["t"], out_schema, state_schema,
                          ([],), step)


def weighted_reservoir_stream(incoming: DataFrame, state_path: str,
                              checkpoint: str,
                              k: int | None = None) -> StreamingQuery:
    """Streaming weighted reservoir — the stateful twin of
    queries_round11.weighted_reservoir_topk: per micro-batch, compute
    the batch docs' Efraimidis–Spirakis keys with the SHARED builder
    (reservoir_keys — keys are a pure function of the doc, so batch
    and stream agree by construction), union with the persisted
    k-row reservoir, and keep the k best (sel_key DESC, doc_id).

    Replay-safe WITHOUT an epoch watermark (the HLL twin's class, not
    token_shard's): a redelivered doc re-derives the IDENTICAL key,
    and dropDuplicates(doc_id) + top-k is idempotent and commutative
    — at-least-once redelivery in any order cannot change the state.
    State size is CONSTANT (k rows) in stream length.

    Scale shape per batch: one per-row key expression over the batch,
    one TakeOrdered merge of batch-topk + k state rows, one k-row
    state write. Nothing ever re-reads prior batches.
    """
    from travel_data_pipeline_spark.queries_round11 import (
        _WR_K,
        reservoir_keys,
    )
    from travel_data_pipeline_spark.sources import versioned

    kk = _WR_K if k is None else k

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_keys = (reservoir_keys(batch_df)
                      .orderBy(F.col("sel_key").desc(), "doc_id")
                      .limit(kk))
        try:
            state = (versioned.read_table(spark, state_path)
                     .select("doc_id", "weight", "sel_key"))
        except FileNotFoundError:
            state = local_relation(
                spark, [], "doc_id long, weight long, sel_key double")
        merged = (state.unionByName(
            batch_keys.select(F.col("doc_id").cast("long"),
                              F.col("weight").cast("long"),
                              F.col("sel_key").cast("double")))
            .dropDuplicates(["doc_id"])
            .orderBy(F.col("sel_key").desc(), "doc_id").limit(kk))
        versioned.write_table(merged, state_path)

    return (incoming.writeStream.foreachBatch(fold)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def weighted_reservoir_stream_readout(spark: SparkSession,
                                      state_path: str,
                                      k: int | None = None) -> DataFrame:
    """Ranked readout off the streamed reservoir state via the SAME
    bounded tail the batch query uses (reservoir_rank) — bit-equal to
    weighted_reservoir_topk over the union of arrived batches. Pass
    the SAME k the stream was built with (defaults match; review
    r08)."""
    from travel_data_pipeline_spark.queries_round11 import (
        _WR_K,
        reservoir_rank,
    )
    from travel_data_pipeline_spark.sources import versioned

    state = versioned.read_table(spark, state_path).select(
        "doc_id", "weight", "sel_key")
    return reservoir_rank(state, _WR_K if k is None else k)


def hll_stream_estimate(spark: SparkSession, state_path: str) -> DataFrame:
    """Current lifetime-distinct estimate off the streamed register
    state: zero-fill the 64-bucket grid and run the SAME shared fold
    (+ small-range correction) the batch queries use — the streamed
    and batch estimates are bit-equal by construction."""
    from travel_data_pipeline_spark.queries_round8 import (
        _HLL_M,
        _hll_fold_spark,
    )
    from travel_data_pipeline_spark.sources import versioned

    regs = versioned.read_table(spark, state_path).select("bucket", "m")
    grid = (spark.range(_HLL_M)
            .select(F.col("id").cast("int").alias("bucket"))
            .join(regs, "bucket", "left").na.fill({"m": 0})
            .select(F.lit(0).alias("k"), "bucket", "m"))
    return _hll_fold_spark(grid, "k").select("raw_est")


def count_min_stream(incoming: DataFrame, state_path: str,
                     checkpoint: str) -> StreamingQuery:
    """Streaming count-min cell maintenance — the stateful twin of
    queries_round8.count_min_heavy_hitters' sketch: each micro-batch's
    d x w cells (the SAME shared builder, user_cm_cells) are added
    into a bounded versioned state table, so a lifetime frequency
    estimate for any key is one broadcast probe away and history is
    never re-scanned.

    Unlike the HLL register twin (max-merge, naturally idempotent),
    CELL ADDITION IS NOT IDEMPOTENT — so this stream carries the
    checkpoint-bound epoch watermark of token_shard_stream: a
    replayed micro-batch from the SAME checkpoint lineage compares
    its epoch against the stored (ckpt, epoch) head and becomes a
    strict no-op; a FRESH checkpoint starts a new watermark lineage
    (its epochs restart at 0 and are applied — state_path is coupled
    to one checkpoint; re-feeding already-applied data under a fresh
    checkpoint double-counts by design, same contract as
    token_shard_stream).

    Under monotone ingestion the state is bit-equal to the batch
    user_cm_cells over the union of batches (tests/test_round9.py).

    Scale shape per batch: one map-side-combinable <= d*w-group
    aggregation of the batch, one <= d*w-row union+sum, one tiny
    state write. State size is CONSTANT in stream length.
    """
    from travel_data_pipeline_spark.queries_round8 import user_cm_cells
    from travel_data_pipeline_spark.sources import versioned

    import os as _os

    ckpt_id = _os.path.abspath(checkpoint)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        try:
            state = versioned.read_table(spark, state_path)
            head = state.agg(F.max("epoch").alias("epoch"),
                             F.max("ckpt").alias("ckpt")).first()
            if (head is not None and head["epoch"] is not None
                    and head["ckpt"] == ckpt_id
                    and epoch_id <= head["epoch"]):
                return  # replayed batch within this lineage: no-op
            cells = state.select("seed", "bucket", "c")
        except FileNotFoundError:
            cells = local_relation(
                spark, [], "seed int, bucket int, c long")

        batch_cells = user_cm_cells(batch_df.select("user_id"))
        merged = (cells.unionByName(
            batch_cells.select(F.col("seed").cast("int").alias("seed"),
                               F.col("bucket").cast("int").alias("bucket"),
                               F.col("c").cast("long").alias("c")))
            .groupBy("seed", "bucket")
            .agg(F.sum("c").cast("long").alias("c"))
            .select("seed", "bucket", "c",
                    F.lit(epoch_id).cast("long").alias("epoch"),
                    F.lit(ckpt_id).alias("ckpt")))
        versioned.write_table(merged, state_path)

    return (incoming.writeStream.foreachBatch(fold)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def cm_stream_probe(spark: SparkSession, state_path: str,
                    keys: DataFrame) -> DataFrame:
    """Frequency estimates for a (user_id) key relation off the
    streamed cell state: min over the d probed counters — the same
    probe expression the batch heavy-hitter query uses, so streamed
    and batch estimates are bit-equal by construction. Missing cells
    count 0 (a key never streamed probes empty buckets)."""
    from travel_data_pipeline_spark.queries_round8 import cm_pairs
    from travel_data_pipeline_spark.sources import versioned

    cells = versioned.read_table(spark, state_path).select(
        "seed", "bucket", "c")
    probes = (keys.select(
        "user_id",
        F.explode(cm_pairs(F.col("user_id").cast("string"))).alias("p"))
        .select("user_id", F.col("p.seed").alias("seed"),
                F.col("p.bucket").alias("bucket")))
    return (probes.join(F.broadcast(cells), ["seed", "bucket"], "left")
            .groupBy("user_id")
            .agg(F.min(F.coalesce("c", F.lit(0))).cast("long")
                 .alias("cm_estimate")))



def seed_media_fingerprints(media: DataFrame, fps_path: str) -> None:
    """Land the existing media corpus for ahash_media_stream: only the
    aHash fingerprints (5 BIGINTs per item) persist — the binary
    payloads are hashed once and never stored or re-read."""
    from travel_data_pipeline_spark.operators.multimodal import (
        ahash_fingerprints,
    )

    ahash_fingerprints(media).write.mode("overwrite").parquet(fps_path)


def ahash_media_stream(incoming: DataFrame, fps_path: str,
                       pairs_out: str, checkpoint: str,
                       ham_t: int = 6,
                       grow_corpus: bool = True) -> StreamingQuery:
    """Streaming perceptual near-dup detection over media — the
    multimodal twin of incremental_lsh_stream: each micro-batch of
    (media_id, payload, meta) rows is aHash-fingerprinted (the
    Arrow-batched fake-decode path of queries_round10.
    image_ahash_neardup), its 16-bit bands probe the PERSISTED corpus
    fingerprint table, and candidates are Hamming-verified; verified
    (media_a, media_b, hamming) pairs append to ``pairs_out``.

    The replay/growth contract is inherited verbatim from the LSH
    stream: media_a != media_b guards the cross-probe against a
    committed-append/uncommitted-checkpoint replay; grow mode adds the
    within-batch banded self-probe and canonicalizes pair keys with
    least/greatest before distinct; the verify side dropDuplicates on
    media_id so replayed corpus rows cannot double anything (Hamming
    needs only ONE fingerprint per id — there is no Jaccard-style
    denominator to corrupt, but duplicate rows would duplicate output
    pair ROWS, which downstream pair-key dedup absorbs).

    Scale shape: corpus state is 5 BIGINTs per media item in parquet
    (payload bytes are hashed in the batch and never persisted); the
    per-batch work is one Arrow pass over the BATCH, a broadcast of
    the batch's bands into the corpus fingerprint scan, and a
    candidate-only verify join.
    """
    from travel_data_pipeline_spark.operators.multimodal import (
        ahash_bands,
        ahash_fingerprints,
        ahash_hamming,
        ahash_side,
    )

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        inc_fps = (ahash_fingerprints(batch_df)
                   .localCheckpoint(eager=True))
        corpus_fps = spark.read.parquet(fps_path)
        inc_bands = ahash_bands(inc_fps, "media_b")
        cross = (ahash_bands(corpus_fps, "media_a")
                 .join(F.broadcast(inc_bands), ["band_idx", "band_val"])
                 .filter(F.col("media_a") != F.col("media_b"))
                 .select("media_a", "media_b"))
        cand = cross
        if grow_corpus:
            within = (ahash_bands(inc_fps, "media_a")
                      .join(F.broadcast(inc_bands),
                            ["band_idx", "band_val"])
                      .filter(F.col("media_a") < F.col("media_b"))
                      .select("media_a", "media_b"))
            cand = (cand.unionByName(within)
                    .select(F.least("media_a", "media_b")
                            .alias("media_a"),
                            F.greatest("media_a", "media_b")
                            .alias("media_b")))
        pairs = cand.distinct().localCheckpoint(eager=True)
        fps_all = (corpus_fps.unionByName(inc_fps)
                   .dropDuplicates(["media_id"]))
        fa = ahash_side(fps_all, "media_a", "xa")
        fb = ahash_side(fps_all, "media_b", "xb")
        ham = ahash_hamming("xa", "xb")
        verified = (pairs.join(fa, "media_a").join(fb, "media_b")
                    .select("media_a", "media_b",
                            ham.cast("int").alias("hamming"))
                    .filter(F.col("hamming") <= ham_t))
        verified.write.mode("append").parquet(pairs_out)
        if grow_corpus:
            # idempotent corpus append (ADVICE r07): a crash between
            # this append and the checkpoint commit replays the batch,
            # so anti-join against what's already in the corpus —
            # otherwise duplicate fingerprint rows accumulate
            # unboundedly (output stays correct via distinct, but
            # corpus size and band-probe cost grow per replay).
            # Materialized BEFORE the write so the append never reads
            # the path it is writing to.
            new_fps = (inc_fps.join(corpus_fps.select("media_id"),
                                    "media_id", "left_anti")
                       .localCheckpoint(eager=True))
            new_fps.write.mode("append").parquet(fps_path)

    return (incoming.writeStream.foreachBatch(fold)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def group_sequential_stream(events: DataFrame, state_path: str,
                            checkpoint: str, d0: str) -> StreamingQuery:
    """Streaming group-sequential monitor — the stateful twin of
    queries_round15.group_sequential_boundaries: each micro-batch
    folds its users' first-activity / first-purchase days into a
    versioned per-user MIN state, from which the 5-look O'Brien-
    Fleming relation can be read at any time
    (group_sequential_readout).

    ``d0`` (ISO date) is the experiment start — a DEPLOYMENT constant,
    not derived from the stream (a stream cannot know the global min
    day upfront; the batch query derives it from the full table, so
    the twin test passes the feed's min day here).

    Delivery: folding MINs is idempotent and commutative — replayed
    or reordered micro-batches (at-least-once delivery) converge to
    the same state with NO epoch watermark needed (the HLL/reservoir
    delivery class, not the token-shard offset class). State is a
    versioned full snapshot per fold: per-user rows, bounded by the
    experiment population, not the event volume.

    Scale shape per batch: one grouped pass over the batch ->
    per-user mins; one union + groupBy against the (population-
    bounded) state; one snapshot write.
    """
    from travel_data_pipeline_spark.queries_round15 import gs_user_firsts
    from travel_data_pipeline_spark.sources import versioned

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        d0_df = local_relation(spark, [(d0,)], "d0s string").select(
            F.to_timestamp("d0s").alias("d0"))
        incoming = gs_user_firsts(batch_df, d0_df)
        try:
            state = versioned.read_table(spark, state_path)
            merged = (state.unionByName(incoming)
                      .groupBy("user_id", "arm")
                      .agg(F.min("first_day").alias("first_day"),
                           F.min("first_purchase_day")
                           .alias("first_purchase_day")))
        except FileNotFoundError:
            merged = incoming
        versioned.write_table(merged, state_path)

    return (events.writeStream.foreachBatch(fold)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def group_sequential_readout(spark: SparkSession,
                             state_path: str) -> DataFrame:
    """The 5-look OF boundary relation from the streaming monitor's
    state — the SAME gs_looks_from_firsts code path the batch query
    runs, so batch and stream are bit-equal by construction once the
    state has absorbed the same events."""
    from travel_data_pipeline_spark.queries_round15 import (
        gs_looks_from_firsts,
    )
    from travel_data_pipeline_spark.sources import versioned

    peru = versioned.read_table(spark, state_path).select(
        "user_id", "arm", "first_day", "first_purchase_day")
    return gs_looks_from_firsts(spark, peru)


def ewma_chart_stateful(daily_rows: DataFrame, mu: float, sd: float,
                        lam: float = 0.2) -> DataFrame:
    """Streaming EWMA control monitor — the Phase-II twin of
    queries_round18.ewma_control_chart_daily (round-13 policy: a new
    sequential family gets its twin). Limits (mu, sd) are FIXED
    inputs (the batch query fits them Phase-I from the whole
    series); state = (level, (1-lam)^(2i) running product, i), one
    global fold.

    The recurrence l = lam*y + (1-lam)*l (seed l_1 = y_1) and the
    limit product p *= (1-lam)^2 use only IEEE *, +, /, sqrt — all
    correctly rounded and therefore bit-identical between the Python
    worker and a JVM-side fold with the SAME spelling; the test pins
    bit-equality against that identically-spelled Spark aggregate.
    The REGISTERED batch query deliberately evaluates the
    closed-form weighted sum instead (its oracle needs one
    rendering), which is the same real number through a different
    IEEE sequence — so the batch comparison asserts ~1e-6 agreement,
    never bits (the module's closed-form-vs-recurrence gotcha).

    Input: daily count rows (t long, cnt long) — one row per day;
    pre-aggregate to the daily grain first.
    """
    out_schema = T.StructType([
        T.StructField("t", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("n_days", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
        T.StructField("ucl", T.DoubleType()),
        T.StructField("lcl", T.DoubleType()),
        T.StructField("breach", T.BooleanType()),
    ])
    state_schema = T.StructType([
        T.StructField("l", T.DoubleType()),
        T.StructField("p", T.DoubleType()),
        T.StructField("i", T.LongType()),
    ])

    mu_l, sd_l, lam_l = float(mu), float(sd), float(lam)
    lam1sq = (1.0 - lam_l) * (1.0 - lam_l)

    def r6(x):
        return float(Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP)) + 0.0

    def step(state, row):
        (l, p, i), t, cnt = state, int(row.t), int(row.cnt)
        i += 1
        l = float(cnt) if i == 1 \
            else lam_l * float(cnt) + (1.0 - lam_l) * l
        p = p * lam1sq
        half = 3.0 * sd_l * math.sqrt(lam_l / (2.0 - lam_l) * (1.0 - p))
        ucl, lcl = mu_l + half, mu_l - half
        return (l, p, i), [(t, cnt, i, r6(l), r6(ucl), r6(lcl),
                            l > ucl or l < lcl)]

    return _monotone_scan(daily_rows, [], ["t"], out_schema, state_schema,
                          (0.0, 1.0, 0), step)
