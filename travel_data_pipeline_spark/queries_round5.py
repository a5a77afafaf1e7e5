"""Round-5 additions — ten operators a large-scale training-data /
analytics platform needs that the registry did not yet cover:
LSH-config auditing, mixture rebalancing, dataset profiling,
stratified k-fold assignment, gaps-and-islands streaks, funnel
latency, embedding-norm hygiene, per-source language entropy,
nearest (bidirectional) as-of matching, and interval-union coverage.

Every query is oracle-paired and follows the registry's
float-determinism rules (registry.py docstring): exact integer /
DECIMAL moments wherever possible, order-pinned folds for float sums,
and the Spark-parity rounding spelling (functions/parity.round_sql)
on every rounded oracle double.

Scale notes are per query; none of them collects to the driver, and
every join is either a key-shuffle or an explicit broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_pipeline_spark.functions.hashing import (
    md5_long,
    md5_long_sql,
)
from travel_data_pipeline_spark.functions.parity import (
    ordered_sum, ordered_sum_sql, round_sql,
)
from travel_data_pipeline_spark.registry import ORACLES, register
from travel_data_pipeline_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# LSH s-curve audit: for every VERIFIED near-dup pair, the theoretical
# probability the current banding (b bands of r rows) would surface it:
#   p = 1 - (1 - j^r)^b
# The classic LSH tuning readout (Leskovec/Rajaraman/Ullman, MMDS ch.3)
# — pairs near the threshold with low p tell you the banding is too
# coarse BEFORE recall silently drops at scale. Powers are spelled as
# explicit multiplies (j*j, q*q) so both engines run the identical IEEE
# sequence; Math.pow/libm pow may differ in the last ulp.
# ---------------------------------------------------------------------------


def _mul_chain_sql(base: str, n: int) -> str:
    """base * base * ... (n times) — left-associated in both engines,
    so the IEEE rounding sequence is identical."""
    return "(" + " * ".join([base] * n) + ")"


def _scurve_oracle() -> str:
    # r and b DERIVED from the engine's actual banding constants
    # (ADVICE r05: hardcoding b=4, r=2 here would silently desync the
    # audit from a banding config change while still passing parity)
    from travel_data_pipeline_spark.queries_northstar import (
        BANDS, NUM_HASHES)

    r, b = NUM_HASHES // BANDS, BANDS
    q = f"(1.0 - {_mul_chain_sql('jaccard', r)})"
    return f"""
SELECT doc_a, doc_b, jaccard,
       {round_sql(f"1.0 - {_mul_chain_sql(q, b)}")} AS p_collide
FROM ({ORACLES["dedup_minhash_jaccard"]})
"""


@register("lsh_scurve_audit", _scurve_oracle)
def lsh_scurve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collision probability p = 1 - (1 - j^r)^b of the engine's
    actual banding (r = NUM_HASHES // BANDS rows, b = BANDS bands) for
    each verified near-dup pair — composes directly on the registered
    dedup_minhash_jaccard result, adding one per-row expression. Both
    the Spark expression and the oracle build their multiply chains
    from the same constants, so a banding change cannot desync them."""
    from functools import reduce

    from travel_data_pipeline_spark.queries_northstar import (
        BANDS, NUM_HASHES, dedup_minhash_jaccard)

    r, b = NUM_HASHES // BANDS, BANDS
    pairs = dedup_minhash_jaccard(spark, sf_dir)
    j = F.col("jaccard")
    q = 1.0 - reduce(lambda acc, _: acc * j, range(r - 1), j)
    p = 1.0 - reduce(lambda acc, _: acc * q, range(b - 1), q)
    return pairs.select("doc_a", "doc_b", "jaccard",
                        F.round(p, 6).alias("p_collide"))


# ---------------------------------------------------------------------------
# Mixture rebalancing plan: per-source sampling rates that move the
# corpus toward a UNIFORM source mixture — the planning step of
# training-data recipes (each source capped at total/K rows). One
# grouped count + one broadcast scalar; the plan is O(sources) rows.
# ---------------------------------------------------------------------------


@register("mixture_rebalance_plan", f"""
WITH per_source AS (
    SELECT source, count(*) AS n_docs FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(sum(n_docs) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS k
    FROM per_source
)
SELECT source, n_docs,
       {round_sql("CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE)")}
         AS share,
       {round_sql("1.0 / CAST(k AS DOUBLE)")} AS target_share,
       {round_sql("least(1.0, (CAST(total AS DOUBLE) / CAST(k AS DOUBLE))"
                  " / CAST(n_docs AS DOUBLE))")} AS sample_rate,
       CAST(floor(least(1.0, (CAST(total AS DOUBLE) / CAST(k AS DOUBLE))
                       / CAST(n_docs AS DOUBLE))
                  * CAST(n_docs AS DOUBLE)) AS BIGINT) AS expected_rows
FROM per_source CROSS JOIN tot
""")
def mixture_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = per_source.agg(F.sum("n_docs").cast("long").alias("total"),
                         F.count("*").cast("long").alias("k"))
    nd = F.col("n_docs").cast("double")
    total = F.col("total").cast("double")
    k = F.col("k").cast("double")
    rate = F.least(F.lit(1.0), (total / k) / nd)
    return (per_source.crossJoin(F.broadcast(tot))
            .select("source", "n_docs",
                    F.round(nd / total, 6).alias("share"),
                    F.round(F.lit(1.0) / k, 6).alias("target_share"),
                    F.round(rate, 6).alias("sample_rate"),
                    F.floor(rate * nd).cast("long").alias("expected_rows")))


# ---------------------------------------------------------------------------
# Dataset profiler: per-column null count, exact distinct count, and
# numeric min/max over orders in ONE pass (the Deequ/DQ-profile shape).
# Spark plans the multi-distinct aggregate with a single Expand +
# shuffle; the long-format output comes from a stack(), not per-column
# scans.
# ---------------------------------------------------------------------------

_PROFILE_NUM = ["o_orderkey", "o_custkey", "o_totalprice"]
_PROFILE_CAT = ["o_orderstatus", "o_orderpriority"]


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_NUM:
        parts.append(
            f"SELECT '{c}' AS column_name, count(*) AS n_rows, "
            f"count(*) - count({c}) AS n_nulls, "
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            f"CAST(min({c}) AS DOUBLE) AS min_val, "
            f"CAST(max({c}) AS DOUBLE) AS max_val FROM orders")
    for c in _PROFILE_CAT:
        parts.append(
            f"SELECT '{c}' AS column_name, count(*) AS n_rows, "
            f"count(*) - count({c}) AS n_nulls, "
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            f"CAST(NULL AS DOUBLE) AS min_val, "
            f"CAST(NULL AS DOUBLE) AS max_val FROM orders")
    return " UNION ALL ".join(parts)


@register("column_profile_stats", _profile_oracle())
def column_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_NUM + _PROFILE_CAT:
        aggs.append((F.count("*") - F.count(c)).alias(f"{c}__nulls"))
        aggs.append(F.count_distinct(F.col(c)).cast("long")
                    .alias(f"{c}__distinct"))
    for c in _PROFILE_NUM:
        aggs.append(F.min(c).cast("double").alias(f"{c}__min"))
        aggs.append(F.max(c).cast("double").alias(f"{c}__max"))
    one = orders.agg(*aggs)

    rows = []
    for c in _PROFILE_NUM:
        rows.append(f"'{c}', n_rows, `{c}__nulls`, `{c}__distinct`, "
                    f"`{c}__min`, `{c}__max`")
    for c in _PROFILE_CAT:
        rows.append(f"'{c}', n_rows, `{c}__nulls`, `{c}__distinct`, "
                    f"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)")
    n = len(rows)
    stack = (f"stack({n}, " + ", ".join(rows)
             + ") as (column_name, n_rows, n_nulls, n_distinct, "
               "min_val, max_val)")
    return one.selectExpr(stack)


# ---------------------------------------------------------------------------
# Stratified k-fold assignment: deterministic md5-derived fold ids,
# stratified by language — every (lang, fold) cell reports its size
# and in-stratum share. The assignment is a pure per-row hash (no
# shuffle beyond the reporting groupBy), so it reproduces identically
# on any cluster size — the property CV splits need at 100 TB.
# ---------------------------------------------------------------------------

_KFOLD = 5


@register("stratified_kfold_assign", f"""
WITH assigned AS (
    SELECT lang,
           {md5_long_sql("CAST(doc_id AS VARCHAR)")} % {_KFOLD} AS fold
    FROM documents
),
cells AS (
    SELECT lang, CAST(fold AS INT) AS fold, count(*) AS n_docs
    FROM assigned GROUP BY 1, 2
),
strata AS (
    SELECT lang, sum(n_docs) AS stratum_n FROM cells GROUP BY lang
)
SELECT c.lang, c.fold, c.n_docs,
       {round_sql("CAST(c.n_docs AS DOUBLE) / CAST(s.stratum_n AS DOUBLE)")}
         AS stratum_share
FROM cells c JOIN strata s USING (lang)
""")
def stratified_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select(
        "lang",
        (md5_long(F.col("doc_id").cast("string")) % _KFOLD)
        .cast("int").alias("fold"))
    cells = assigned.groupBy("lang", "fold").agg(
        F.count("*").alias("n_docs"))
    strata = cells.groupBy("lang").agg(F.sum("n_docs").alias("stratum_n"))
    return (cells.join(F.broadcast(strata), "lang")
            .select("lang", "fold", "n_docs",
                    F.round(F.col("n_docs").cast("double")
                            / F.col("stratum_n").cast("double"), 6)
                    .alias("stratum_share")))


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-active-day streak per user —
# the canonical islands trick (day_number - row_number is constant
# within a consecutive run). Two key-local windows + two groupBys; the
# raw events collapse to one row per (user, day) first, so the window
# state is bounded by active days, not events.
# ---------------------------------------------------------------------------


@register("active_day_streaks", """
WITH days AS (
    SELECT DISTINCT user_id,
           date_diff('day', DATE '1970-01-01',
                     CAST(date_trunc('day', ts) AS DATE)) AS day_num
    FROM events
),
runs AS (
    SELECT user_id, day_num,
           day_num - row_number() OVER (PARTITION BY user_id
                                        ORDER BY day_num) AS grp
    FROM days
),
islands AS (
    SELECT user_id, grp, CAST(count(*) AS BIGINT) AS streak_len,
           min(day_num) AS start_day
    FROM runs GROUP BY user_id, grp
),
ranked AS (
    SELECT user_id, streak_len, start_day,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY streak_len DESC, start_day)
             AS rn,
           CAST(sum(streak_len) OVER (PARTITION BY user_id) AS BIGINT)
             AS n_active_days
    FROM islands
)
SELECT user_id, n_active_days, streak_len AS longest_streak,
       strftime(DATE '1970-01-01' + start_day * INTERVAL 1 DAY,
                '%Y-%m-%d') AS streak_start
FROM ranked WHERE rn = 1
""")
def active_day_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = (ev.select(
        "user_id",
        F.datediff(F.date_trunc("day", "ts").cast("date"),
                   F.lit("1970-01-01").cast("date")).alias("day_num"))
        .distinct())
    wrun = Window.partitionBy("user_id").orderBy("day_num")
    runs = days.withColumn(
        "grp", F.col("day_num") - F.row_number().over(wrun))
    islands = (runs.groupBy("user_id", "grp")
               .agg(F.count("*").cast("long").alias("streak_len"),
                    F.min("day_num").alias("start_day")))
    wpick = (Window.partitionBy("user_id")
             .orderBy(F.col("streak_len").desc(), F.col("start_day")))
    wtot = Window.partitionBy("user_id")
    ranked = (islands
              .withColumn("rn", F.row_number().over(wpick))
              .withColumn("n_active_days",
                          F.sum("streak_len").over(wtot).cast("long")))
    return (ranked.filter(F.col("rn") == 1)
            .select("user_id", "n_active_days",
                    F.col("streak_len").alias("longest_streak"),
                    F.date_format(
                        F.date_add(F.lit("1970-01-01").cast("date"),
                                   F.col("start_day").cast("int")),
                        "yyyy-MM-dd").alias("streak_start")))


# ---------------------------------------------------------------------------
# Funnel latency: time from each user's FIRST view to their first
# purchase at or after it. All interval math is exact integer
# microseconds; only the final averages divide — one spelling, both
# engines. Two grouped mins + one key join; single summary row.
# ---------------------------------------------------------------------------


@register("funnel_time_to_convert", f"""
WITH first_view AS (
    SELECT user_id, min(epoch_us(ts)) AS v_us
    FROM events WHERE event_type = 'view' GROUP BY user_id
),
conv AS (
    SELECT f.user_id, min(epoch_us(e.ts)) - f.v_us AS delta_us
    FROM first_view f
    JOIN events e ON e.user_id = f.user_id
     AND e.event_type = 'purchase' AND epoch_us(e.ts) >= f.v_us
    GROUP BY f.user_id, f.v_us
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM first_view) AS n_viewers,
       CAST(count(*) AS BIGINT) AS n_converted,
       CASE WHEN count(*) > 0 THEN
         {round_sql("CAST(sum(delta_us) AS DOUBLE)"
                    " / CAST(count(*) AS DOUBLE) / 1000000.0")}
       END AS avg_sec,
       CAST(min(delta_us) AS DOUBLE) / 1000000.0 AS min_sec,
       CAST(max(delta_us) AS DOUBLE) / 1000000.0 AS max_sec
FROM conv
""")
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus"))
    first_view = (ev.filter(F.col("event_type") == "view")
                  .groupBy("user_id").agg(F.min("tus").alias("v_us")))
    purchases = ev.filter(F.col("event_type") == "purchase")
    conv = (first_view.join(purchases, "user_id")
            .filter(F.col("tus") >= F.col("v_us"))
            .groupBy("user_id", "v_us")
            .agg((F.min("tus") - F.col("v_us")).alias("delta_us")))
    n_view = first_view.agg(
        F.count("*").cast("long").alias("n_viewers"))
    stats = conv.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.when(F.count("*") > 0,
               F.round(F.sum("delta_us").cast("double")
                       / F.count("*").cast("double") / 1000000.0, 6))
        .alias("avg_sec"),
        (F.min("delta_us").cast("double") / 1000000.0).alias("min_sec"),
        (F.max("delta_us").cast("double") / 1000000.0).alias("max_sec"))
    return F.broadcast(n_view).crossJoin(stats)


# ---------------------------------------------------------------------------
# Embedding-norm hygiene per label: L2 norms are per-row folds in
# array-index order (identical in both engines); the per-label MEAN
# norm folds over a vec_id-SORTED list so float summation order is
# pinned (the embedding_label_centroids recipe). Collapsed or exploded
# norms per label are the standard embedding-table health check.
# ---------------------------------------------------------------------------


@register("embedding_norm_stats", f"""
WITH norms AS (
    SELECT label, vec_id,
           sqrt(list_reduce(
               list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
               (a, b) -> a + b)) AS nrm
    FROM embeddings
),
folded AS (
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           min(nrm) AS min_n, max(nrm) AS max_n,
           {ordered_sum_sql("nrm", "vec_id")} AS s
    FROM norms GROUP BY label
)
SELECT label, n,
       {round_sql("min_n")} AS min_norm,
       {round_sql("max_n")} AS max_norm,
       {round_sql("s / CAST(n AS DOUBLE)")} AS mean_norm
FROM folded
""")
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(F.aggregate(
        F.col("embedding").cast("array<double>"), F.lit(0.0),
        lambda a, x: a + x * x))
    norms = emb.select("label", "vec_id", nrm.alias("nrm"))
    folded = (norms.groupBy("label")
              .agg(F.count("*").cast("long").alias("n"),
                   F.min("nrm").alias("min_n"),
                   F.max("nrm").alias("max_n"),
                   ordered_sum("nrm", "vec_id").alias("s")))
    return folded.select(
        "label", "n",
        F.round("min_n", 6).alias("min_norm"),
        F.round("max_n", 6).alias("max_norm"),
        F.round(F.col("s") / F.col("n").cast("double"), 6).alias("mean_norm"))


# ---------------------------------------------------------------------------
# Per-source language entropy: H = -sum p ln p over each source's
# language distribution — the mixture-diversity readout next to
# mixture_rebalance_plan. Counts are exact; the entropy terms fold
# over a lang-SORTED list to pin summation order.
# ---------------------------------------------------------------------------


@register("source_lang_entropy", f"""
WITH cells AS (
    SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2
),
tot AS (
    SELECT source, CAST(sum(n) AS BIGINT) AS n_src FROM cells
    GROUP BY source
),
terms AS (
    SELECT c.source, c.lang, c.n, t.n_src,
           -(CAST(c.n AS DOUBLE) / CAST(t.n_src AS DOUBLE))
            * ln(CAST(c.n AS DOUBLE) / CAST(t.n_src AS DOUBLE)) AS term
    FROM cells c JOIN tot t USING (source)
),
srcs AS (
    SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           {ordered_sum_sql("term", "lang")} AS h
    FROM terms GROUP BY source
)
SELECT source, n_docs, n_langs, {round_sql("h")} AS entropy
FROM srcs
""")
def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    wsrc = Window.partitionBy("source")
    p = F.col("n").cast("double") / F.sum("n").over(wsrc).cast("double")
    terms = cells.select("source", "lang", "n",
                         (-p * F.log(p)).alias("term"))
    folded = (terms.groupBy("source")
              .agg(F.sum("n").cast("long").alias("n_docs"),
                   F.count("*").cast("long").alias("n_langs"),
                   ordered_sum("term", "lang").alias("h")))
    return folded.select("source", "n_docs", "n_langs",
                         F.round("h", 6).alias("entropy"))


# ---------------------------------------------------------------------------
# Nearest as-of match (both directions): each purchase finds the
# error event of the same user with the smallest |time delta| within
# 1 hour — pandas' merge_asof(direction='nearest', tolerance=...).
# Engine shape: ONE union relation, two ordered window scans
# (backward + forward carry of the last error seen), then a per-row
# CASE — no range join, no per-row probe; state per key is one struct.
# Ties are total-ordered: equal |delta| prefers the backward match;
# equal-timestamp errors resolve by event_id (max for backward, min
# for forward — the id closest to the scan).
# ---------------------------------------------------------------------------

_NEAREST_TOL_US = 3_600_000_000  # 1 hour


@register("nearest_error_event", f"""
WITH purchases AS (
    SELECT event_id, user_id, epoch_us(ts) AS p_us
    FROM events WHERE event_type = 'purchase'
),
errs AS (
    SELECT event_id, user_id, epoch_us(ts) AS e_us
    FROM events WHERE event_type = 'error'
),
matched AS (
    SELECT p.event_id, p.user_id, p.p_us,
           b.event_id AS b_id, b.e_us AS b_us,
           f.event_id AS f_id, f.e_us AS f_us
    FROM purchases p
    LEFT JOIN LATERAL (
        SELECT event_id, e_us FROM errs b
        WHERE b.user_id = p.user_id AND b.e_us <= p.p_us
        ORDER BY b.e_us DESC, b.event_id DESC LIMIT 1
    ) b ON TRUE
    LEFT JOIN LATERAL (
        SELECT event_id, e_us FROM errs f
        WHERE f.user_id = p.user_id AND f.e_us >= p.p_us
        ORDER BY f.e_us ASC, f.event_id ASC LIMIT 1
    ) f ON TRUE
),
chosen AS (
    SELECT event_id, user_id, p_us,
           CASE WHEN b_id IS NOT NULL
                 AND (f_id IS NULL OR p_us - b_us <= f_us - p_us)
                THEN b_id ELSE f_id END AS err_event_id,
           CASE WHEN b_id IS NOT NULL
                 AND (f_id IS NULL OR p_us - b_us <= f_us - p_us)
                THEN b_us ELSE f_us END AS err_us
    FROM matched
)
SELECT event_id, user_id, err_event_id,
       CAST(err_us - p_us AS DOUBLE) / 1000000.0 AS diff_sec
FROM chosen
WHERE err_event_id IS NOT NULL
  AND abs(err_us - p_us) <= {_NEAREST_TOL_US}
""")
def nearest_error_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from travel_data_pipeline_spark.operators.joins import nearest_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros("ts").alias("tus"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "tus"))
    errs = (ev.filter(F.col("event_type") == "error")
            .select("event_id", "user_id", "tus"))
    matched = nearest_join(purchases, errs, "user_id", "tus", "tus",
                           "event_id", tolerance=_NEAREST_TOL_US)
    return (matched.filter(F.col("nearest_id").isNotNull())
            .select("event_id", "user_id",
                    F.col("nearest_id").alias("err_event_id"),
                    ((F.col("nearest_ts") - F.col("tus")).cast("double")
                     / 1000000.0).alias("diff_sec")))


# ---------------------------------------------------------------------------
# Interval-union coverage: pad every event +-15 min and merge the
# overlapping intervals per user — total monitored seconds + merged
# interval count (the "effective activity coverage" readout). Islands
# over a running exclusive max of interval ends; all arithmetic is
# exact integer microseconds until one final division.
# ---------------------------------------------------------------------------

_PAD_US = 900_000_000  # 15 minutes


@register("interval_union_coverage", f"""
WITH iv AS (
    SELECT user_id, epoch_us(ts) - {_PAD_US} AS s,
           epoch_us(ts) + {_PAD_US} AS e
    FROM events
),
flagged AS (
    SELECT user_id, s, e,
           CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) >= s
                THEN 0 ELSE 1 END AS new_island
    FROM iv
),
islands AS (
    SELECT user_id, s, e,
           CAST(sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS island
    FROM flagged
),
merged AS (
    SELECT user_id, island, min(s) AS ms, max(e) AS me
    FROM islands GROUP BY user_id, island
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(me - ms) AS DOUBLE) / 1000000.0 AS covered_sec
FROM merged GROUP BY user_id
""")
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from travel_data_pipeline_spark.operators.windows import (
        merge_intervals,
    )

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select("user_id",
                   (F.unix_micros("ts") - _PAD_US).alias("s"),
                   (F.unix_micros("ts") + _PAD_US).alias("e"))
    merged = merge_intervals(iv, "user_id", "s", "e")
    return (merged.groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n_intervals"),
                 (F.sum(F.col("e") - F.col("s")).cast("double")
                  / 1000000.0).alias("covered_sec")))
