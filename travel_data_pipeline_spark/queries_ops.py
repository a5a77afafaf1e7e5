"""Operational data-platform layer — blocked entity resolution,
small-file compaction planning, and event-rate anomaly detection.

Three operations every large-scale ingestion platform runs between
"data landed" and "data served", distinct from the dedup/curation
families already covered:

- RECORD LINKAGE (entity resolution): dirty inbound records matched to
  a canonical master via blocking + bounded edit-distance scoring —
  the classic Fellegi-Sunter candidate-generation shape. The reference
  resolves inbound keyword/alias rows against master dims the same way
  (cf. /root/reference data_sources/google_trends_crawler.py keyword
  standardization and the country-master joins); this operator is the
  fuzzy generalization for keys that do not join exactly.
- COMPACTION PLANNING: bin-pack per-partition file statistics into
  target-size rewrite groups. At 100 TB this runs on the metadata
  listing (cf. partition_stats_orders), never the data: one window
  per partition, no shuffle of row data.
- RATE ANOMALY DETECTION: per-entity daily arrival counts scored by
  z-score against that entity's own history — the ops-side twin of the
  trends pipeline's recent-vs-prior anchor comparison (reference
  google_trends_crawler.py anchor scoring, J7/A1).

Scale notes (100 TB posture):
- Linkage candidates come ONLY from equality-blocked joins (nation +
  name suffix), never a cross join; per-block fan-out is bounded by
  block cardinality, and the best-match pick is one row_number window
  keyed by the dirty id.
- Compaction packs with ONE cumulative-sum window per partition over
  per-file stats (thousands of rows per partition, not data rows).
- Anomaly stats are exact integer moments (sum, sum-of-squares) so the
  per-type aggregation is a map-side-combinable single shuffle and the
  z-score is one deterministic per-row double expression — identical
  spelling in the DuckDB oracle (see queries_stats.py).

Float determinism: z-scores round(6) with the `+ 0.0` -0.0 guard; all
other outputs are integers or strings.
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
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# Record linkage: dirty inbound customer records vs the master table.
#
# The dirty batch is derived deterministically from the master so the
# planted truth is known at every SF:
#   custkey <  25 : one mid-name character overwritten  (lev = 1)
#   25 <= k < 40  : two mid-name characters overwritten (lev = 2)
#   40 <= k < 50  : 'ZZZ' prepended (lev = 3 -> above threshold, so
#                   candidates exist in-block but no match is emitted)
# Blocking key: (c_nationkey, right(c_name, 2)) — untouched by the
# perturbations, so true matches always share a block.
# ---------------------------------------------------------------------------

_DIRTY_OFFSET = 9_000_000
_LEV_MAX = 2


@register("record_linkage_blocked", f"""
WITH master AS (
    SELECT c_custkey, c_name, c_nationkey,
           right(c_name, 2) AS blk_sfx
    FROM customer
),
dirty AS (
    SELECT c_custkey + {_DIRTY_OFFSET} AS dirty_id,
           CASE
             WHEN c_custkey < 25 THEN
               substr(c_name, 1, 10) || 'X' || substr(c_name, 12)
             WHEN c_custkey < 40 THEN
               substr(c_name, 1, 10) || 'XY' || substr(c_name, 13)
             ELSE 'ZZZ' || c_name
           END AS d_name,
           c_nationkey AS d_nationkey,
           right(c_name, 2) AS blk_sfx
    FROM customer WHERE c_custkey < 50
),
cand AS (
    SELECT d.dirty_id, d.d_name, m.c_custkey,
           levenshtein(d.d_name, m.c_name) AS lev
    FROM dirty d JOIN master m
      ON d.d_nationkey = m.c_nationkey AND d.blk_sfx = m.blk_sfx
),
best AS (
    SELECT dirty_id, c_custkey, lev,
           row_number() OVER (PARTITION BY dirty_id
                              ORDER BY lev, c_custkey) AS rn
    FROM cand WHERE lev <= {_LEV_MAX}
)
SELECT d.dirty_id,
       COALESCE(b.c_custkey, -1) AS matched_custkey,
       COALESCE(b.lev, -1)       AS lev_distance,
       CASE WHEN b.c_custkey IS NULL THEN 'no_match'
            WHEN b.lev = 0 THEN 'exact' ELSE 'fuzzy' END AS decision
FROM dirty d LEFT JOIN best b
  ON d.dirty_id = b.dirty_id AND b.rn = 1
""")
def record_linkage_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy match of a dirty batch against the customer master.

    Candidates are generated by an equality join on the blocking key
    (never a cross join); the threshold-filtered best match per dirty
    record is one row_number window. The master side of the block join
    is whatever Catalyst picks (broadcast at these SFs; sort-merge on a
    co-partitioned key at cluster scale)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey")
    master = cust.withColumn("blk_sfx", F.expr("right(c_name, 2)"))

    d_name = (
        F.when(F.col("c_custkey") < 25,
               F.concat(F.substring("c_name", 1, 10), F.lit("X"),
                        F.expr("substr(c_name, 12)")))
        .when(F.col("c_custkey") < 40,
              F.concat(F.substring("c_name", 1, 10), F.lit("XY"),
                       F.expr("substr(c_name, 13)")))
        .otherwise(F.concat(F.lit("ZZZ"), F.col("c_name"))))
    dirty = (cust.filter(F.col("c_custkey") < 50)
             .select((F.col("c_custkey") + _DIRTY_OFFSET).alias("dirty_id"),
                     d_name.alias("d_name"),
                     F.col("c_nationkey").alias("d_nationkey"),
                     F.expr("right(c_name, 2)").alias("blk_sfx")))

    cand = (dirty.join(master,
                       (dirty.d_nationkey == master.c_nationkey)
                       & (dirty.blk_sfx == master.blk_sfx))
            .select("dirty_id",
                    F.levenshtein("d_name", "c_name").alias("lev"),
                    "c_custkey"))

    w = Window.partitionBy("dirty_id").orderBy("lev", "c_custkey")
    best = (cand.filter(F.col("lev") <= _LEV_MAX)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("dirty_id", "c_custkey", "lev"))

    return (dirty.select("dirty_id").join(best, "dirty_id", "left")
            .select("dirty_id",
                    F.coalesce("c_custkey", F.lit(-1)).alias("matched_custkey"),
                    F.coalesce("lev", F.lit(-1)).alias("lev_distance"),
                    F.when(F.col("c_custkey").isNull(), "no_match")
                     .when(F.col("lev") == 0, "exact")
                     .otherwise("fuzzy").alias("decision")))


# ---------------------------------------------------------------------------
# Compaction planning: greedy in-order bin packing of per-day "file"
# stats (row counts) into ~TARGET-row rewrite groups, one plan per
# month partition. bin = floor(exclusive-prefix-sum / TARGET) is the
# standard streaming bin-pack: files stay in date order, every bin
# except the last overflows TARGET by less than one file.
# ---------------------------------------------------------------------------

_BIN_TARGET = 500


@register("compaction_bin_packing", f"""
WITH files AS (
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           strftime(o_orderdate, '%Y-%m-%d') AS file_date,
           count(*) AS size_rows
    FROM orders GROUP BY 1, 2
),
packed AS (
    SELECT month, file_date, size_rows,
           CAST(floor(
             CAST(sum(size_rows) OVER (PARTITION BY month ORDER BY file_date
                  ROWS UNBOUNDED PRECEDING) - size_rows AS DOUBLE)
             / {_BIN_TARGET}) AS BIGINT) AS bin_id
    FROM files
)
SELECT month, bin_id,
       count(*) AS n_files,
       CAST(sum(size_rows) AS BIGINT) AS bin_rows,
       min(file_date) AS first_date,
       max(file_date) AS last_date
FROM packed
GROUP BY month, bin_id
""")
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan small-file compaction groups from per-partition file stats.

    Operates purely on the stats relation (one row per file): a single
    cumulative-sum window per month partition assigns each file to
    bin = floor(prefix_rows / target); at 100 TB the input is the
    catalog/manifest listing, so the plan costs O(files), not O(rows)."""
    orders = load_table(spark, sf_dir, "orders")
    files = (orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
         .alias("month"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("file_date"))
        .agg(F.count("*").alias("size_rows")))

    w = (Window.partitionBy("month").orderBy("file_date")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = files.withColumn(
        "bin_id",
        F.floor((F.sum("size_rows").over(w) - F.col("size_rows"))
                .cast("double") / _BIN_TARGET))

    return (packed.groupBy("month", "bin_id")
            .agg(F.count("*").alias("n_files"),
                 F.sum("size_rows").alias("bin_rows"),
                 F.min("file_date").alias("first_date"),
                 F.max("file_date").alias("last_date")))


# ---------------------------------------------------------------------------
# Event-rate anomaly detection: daily counts per event_type, z-scored
# against that type's own history from EXACT integer moments (counts
# are integers, so sum / sum-of-squares are exact and the per-type agg
# is one map-side-combinable shuffle); |z| >= 2 flags the anomaly.
# ---------------------------------------------------------------------------

_Z_CUT = 2.0
# identical z spelling both engines: all-double arithmetic over exact
# integer moments (n days, sum, sum of squares) — see queries_stats.py.
# Degenerate histories (n <= 1, or zero variance e.g. a constant daily
# count) must yield NULL in BOTH engines: without the guard Spark
# (non-ANSI) returns NULL for x/0 while DuckDB returns IEEE +-inf/NaN
# (and orders NaN above all values), so abs(z) >= cut would diverge.
# The guard compares the double-precision variance numerator, the same
# spelling both engines evaluate, so the branch decision is identical.
_Z_VAR = ("(CAST(ss AS DOUBLE) "
          "- (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE))")
_Z_SQL = (f"CASE WHEN CAST(n AS DOUBLE) <= 1.0 OR {_Z_VAR} <= 0.0 THEN NULL "
          f"ELSE (CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) "
          f"/ sqrt({_Z_VAR} / (CAST(n AS DOUBLE) - 1.0)) END")


@register("anomaly_event_rate", f"""
WITH daily AS (
    SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
),
moments AS (
    SELECT event_type, count(*) AS n, sum(cnt) AS s, sum(cnt * cnt) AS ss
    FROM daily GROUP BY 1
),
scored AS (
    SELECT d.event_type, d.day, d.cnt, {_Z_SQL} AS z
    FROM daily d JOIN moments USING (event_type)
)
SELECT event_type, day, cnt, round(z, 6) + 0.0 AS zscore
FROM scored WHERE abs(z) >= {_Z_CUT}
""")
def anomaly_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag days whose arrival count deviates >= 2 sigma from the
    event type's own daily history.

    The history stats reduce to three exact integers per type (broadcast
    back onto the daily relation), so the whole operator is two narrow
    aggregations and one per-row expression — no window over the full
    history, no second scan of the raw events."""
    events = load_table(spark, sf_dir, "events")
    daily = (events.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("cnt")))
    moments = (daily.groupBy("event_type")
               .agg(F.count("*").alias("n"),
                    F.sum("cnt").alias("s"),
                    F.sum(F.col("cnt") * F.col("cnt")).alias("ss")))
    scored = (daily.join(F.broadcast(moments), "event_type")
              .withColumn("z", F.expr(_Z_SQL)))
    return (scored.filter(F.abs(F.col("z")) >= _Z_CUT)
            .select("event_type", "day", "cnt",
                    (F.round("z", 6) + 0.0).alias("zscore")))


# ---------------------------------------------------------------------------
# Prequential (online) anomaly scoring: each day is z-scored against
# the moments of PRIOR days only — the batch spelling of what a
# streaming monitor computes as data arrives. The expanding-window
# moments are exact integers via one window pass per event_type;
# streaming/jobs.py:anomaly_stateful folds the identical recurrence in
# applyInPandasWithState and is asserted bit-equal in
# tests/test_streaming.py.
# ---------------------------------------------------------------------------

_PREQ_MIN_N = 7  # days of history required before scoring


@register("anomaly_prequential", f"""
WITH daily AS (
    SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
),
expanded AS (
    SELECT event_type, day, cnt,
           count(*)        OVER w AS n,
           sum(cnt)        OVER w AS s,
           sum(cnt * cnt)  OVER w AS ss
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, cnt,
       round({_Z_SQL}, 6) + 0.0 AS zscore
FROM expanded WHERE n >= {_PREQ_MIN_N}
""")
def anomaly_prequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score each day's arrival count against the expanding history of
    prior days (no lookahead) — the batch twin of the streaming monitor.

    One window pass per event_type over the tiny daily relation; the
    raw events are touched exactly once by the count aggregation."""
    events = load_table(spark, sf_dir, "events")
    daily = (events.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("cnt")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, -1))
    expanded = (daily
                .withColumn("n", F.count("*").over(w))
                .withColumn("s", F.sum("cnt").over(w))
                .withColumn("ss", F.sum(F.col("cnt") * F.col("cnt")).over(w)))
    return (expanded.filter(F.col("n") >= _PREQ_MIN_N)
            .select("event_type", "day", "cnt",
                    (F.round(F.expr(_Z_SQL), 6) + 0.0).alias("zscore")))


# ---------------------------------------------------------------------------
# Distribution drift (PSI): compare each event type's value
# distribution between the first and second half of the month over 10
# fixed-width bins. PSI = sum_i (p_i - q_i) * ln(p_i / q_i) with
# Laplace-smoothed bin shares — the standard model-monitoring drift
# score. All bin counts are exact integers from ONE grouped count; the
# 10-term float sum folds over a SORTED array so the summation order is
# pinned in both engines (same recipe as chi2_event_type_by_dow).
# ---------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_WIDTH = 50.0  # value bins [0,50), [50,100), ..., [450, inf)
_PSI_TERM = ("((CAST(rc + 1 AS DOUBLE) / CAST(rn + 10 AS DOUBLE))"
             " - (CAST(cc + 1 AS DOUBLE) / CAST(cn + 10 AS DOUBLE)))"
             " * ln((CAST(rc + 1 AS DOUBLE) / CAST(rn + 10 AS DOUBLE))"
             " / (CAST(cc + 1 AS DOUBLE) / CAST(cn + 10 AS DOUBLE)))")


@register("drift_psi_event_values", f"""
WITH binned AS (
    SELECT event_type,
           CAST(least(floor(value / {_PSI_WIDTH}),
                      {_PSI_BINS - 1}) AS BIGINT) AS bin,
           CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS is_ref
    FROM events
),
grid AS (
    SELECT t.event_type, g.bin
    FROM (SELECT DISTINCT event_type FROM binned) t
    CROSS JOIN (SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bin) g
),
cnts AS (
    SELECT g.event_type, g.bin,
           COALESCE(b.rc, 0) AS rc, COALESCE(b.cc, 0) AS cc
    FROM grid g LEFT JOIN (
        SELECT event_type, bin,
               SUM(is_ref) AS rc, SUM(1 - is_ref) AS cc
        FROM binned GROUP BY 1, 2) b
      ON g.event_type = b.event_type AND g.bin = b.bin
),
tot AS (
    SELECT event_type, SUM(rc) AS rn, SUM(cc) AS cn
    FROM cnts GROUP BY 1
),
terms AS (
    SELECT c.event_type, c.bin, {_PSI_TERM} AS term
    FROM cnts c JOIN tot USING (event_type)
),
folded AS (
    SELECT event_type,
           {ordered_sum_sql("term", "bin")} AS s
    FROM terms GROUP BY event_type
)
SELECT f.event_type,
       CAST(t.rn AS BIGINT) AS n_ref, CAST(t.cn AS BIGINT) AS n_cur,
       {round_sql('s', 6)} + 0.0 AS psi
FROM folded f JOIN tot t USING (event_type)
""")
def drift_psi_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift of the value distribution,
    first half-month (reference) vs second half (current), per type.

    One scan + one grouped count produce all 10x2 bin counts per type;
    the dense bin grid comes from a broadcast range cross join so empty
    bins still contribute their smoothed term. The 10-term double sum
    folds over a sorted array (order-pinned, cf. chi2)."""
    events = load_table(spark, sf_dir, "events")
    binned = events.select(
        "event_type",
        F.least(F.floor(F.col("value") / _PSI_WIDTH),
                F.lit(_PSI_BINS - 1)).cast("long").alias("bin"),
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("is_ref"))
    counts = (binned.groupBy("event_type", "bin")
              .agg(F.sum("is_ref").alias("rc"),
                   F.sum(1 - F.col("is_ref")).alias("cc")))
    grid = (counts.select("event_type").distinct()
            .crossJoin(F.broadcast(
                spark.range(_PSI_BINS).select(F.col("id").alias("bin")))))
    cnts = (grid.join(counts, ["event_type", "bin"], "left")
            .select("event_type", "bin",
                    F.coalesce("rc", F.lit(0)).alias("rc"),
                    F.coalesce("cc", F.lit(0)).alias("cc")))
    tot = (cnts.groupBy("event_type")
           .agg(F.sum("rc").alias("rn"), F.sum("cc").alias("cn")))
    terms = (cnts.join(F.broadcast(tot), "event_type")
             .select("event_type", "bin", "rn", "cn",
                     F.expr(_PSI_TERM).alias("term")))
    folded = (terms.groupBy("event_type")
              .agg(F.max("rn").alias("n_ref"), F.max("cn").alias("n_cur"),
                   ordered_sum("term", "bin").alias("s")))
    return folded.select("event_type", "n_ref", "n_cur",
                         (F.round("s", 6) + 0.0).alias("psi"))


# ---------------------------------------------------------------------------
# Experimentation: deterministic A/B assignment + outcome readout.
# Users are bucketed by id hash (reproducible across reruns/engines —
# the same discipline as split_train_valid_test); the readout is one
# grouped pass over exact integer/decimal accumulators, plus the
# two-proportion z-statistic computed from the two arm rows.
# ---------------------------------------------------------------------------

_ab_hash = md5_long_sql("'ab:' || CAST(user_id AS VARCHAR)")
# "conversion" = heavy purchaser (>= median purchase count): every user
# in the fixture buys at least once, so presence alone cannot separate
# the arms at any SF
_AB_HEAVY = 14
# two-proportion z: (p_t - p_c) / sqrt(p*(1-p)*(1/n_c + 1/n_t)),
# pooled p — identical all-double spelling both engines
# degenerate pooled rates (0% or 100% conversion) make the z denominator
# zero — emit NULL then (ANSI mode would otherwise raise); the CASE is
# one shared spelling for both engines
_AB_Z = ("CASE WHEN (x_c + x_t) = 0 OR (x_c + x_t) = (n_c + n_t)"
         " THEN NULL ELSE"
         " (CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)"
         " - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE))"
         " / sqrt((CAST(x_c + x_t AS DOUBLE) / CAST(n_c + n_t AS DOUBLE))"
         " * (1.0 - CAST(x_c + x_t AS DOUBLE) / CAST(n_c + n_t AS DOUBLE))"
         " * (1.0 / CAST(n_c AS DOUBLE) + 1.0 / CAST(n_t AS DOUBLE)))"
         " END")


@register("ab_assignment_outcomes", f"""
WITH assigned AS (
    SELECT DISTINCT user_id,
           CASE WHEN ({_ab_hash} % 2) = 0 THEN 'control'
                ELSE 'treatment' END AS arm
    FROM events
),
outcome AS (
    SELECT user_id,
           count(*) AS n_purchases,
           sum(CAST(value AS DECIMAL(18,2))) AS spend
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
arms AS (
    SELECT a.arm,
           count(*) AS n_users,
           CAST(sum(CASE WHEN o.n_purchases >= {_AB_HEAVY} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
           CAST(COALESCE(sum(o.spend), 0) AS DECIMAL(18,2)) AS total_spend
    FROM assigned a LEFT JOIN outcome o ON a.user_id = o.user_id
    GROUP BY a.arm
),
wide AS (
    SELECT max(CASE WHEN arm = 'control' THEN n_users END) AS n_c,
           max(CASE WHEN arm = 'treatment' THEN n_users END) AS n_t,
           max(CASE WHEN arm = 'control' THEN n_converted END) AS x_c,
           max(CASE WHEN arm = 'treatment' THEN n_converted END) AS x_t
    FROM arms
)
SELECT arm, n_users, n_converted,
       round(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
         AS conv_rate,
       CAST(total_spend AS DOUBLE) AS total_spend,
       round({_AB_Z}, 6) + 0.0 AS z_two_prop
FROM arms CROSS JOIN wide
""")
def ab_assignment_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic experiment readout: hash-bucketed arms, exact
    conversion counts, decimal spend, and the pooled two-proportion
    z-statistic (identical on both arm rows).

    Scale shape: distinct users + per-user outcomes are two grouped
    passes over the events scan; the arm rollup is 2 rows, so the
    z-stat cross join is a broadcast of a scalar relation."""
    events = load_table(spark, sf_dir, "events")
    arm = F.when(
        (md5_long(F.concat(F.lit("ab:"),
                           F.col("user_id").cast("string"))) % 2) == 0,
        "control").otherwise("treatment")
    assigned = (events.select("user_id").distinct()
                .select("user_id", arm.alias("arm")))
    outcome = (events.filter(F.col("event_type") == "purchase")
               .groupBy("user_id")
               .agg(F.count("*").alias("n_purchases"),
                    F.sum(F.col("value").cast("decimal(18,2)"))
                     .alias("spend")))
    arms = (assigned.join(outcome, "user_id", "left")
            .groupBy("arm")
            .agg(F.count("*").alias("n_users"),
                 F.sum(F.when(F.col("n_purchases") >= _AB_HEAVY, 1)
                       .otherwise(0)).alias("n_converted"),
                 F.coalesce(F.sum("spend"), F.lit(0))
                  .cast("decimal(18,2)").alias("total_spend")))
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "control", F.col("n_users")))
         .alias("n_c"),
        F.max(F.when(F.col("arm") == "treatment", F.col("n_users")))
         .alias("n_t"),
        F.max(F.when(F.col("arm") == "control", F.col("n_converted")))
         .alias("x_c"),
        F.max(F.when(F.col("arm") == "treatment", F.col("n_converted")))
         .alias("x_t"))
    return (arms.crossJoin(F.broadcast(wide))
            .select("arm", "n_users", "n_converted",
                    F.round(F.col("n_converted").cast("double")
                            / F.col("n_users").cast("double"), 6)
                     .alias("conv_rate"),
                    F.col("total_spend").cast("double").alias("total_spend"),
                    (F.round(F.expr(_AB_Z), 6) + 0.0).alias("z_two_prop")))


# ---------------------------------------------------------------------------
# Referential-integrity audit: orphaned-FK counts for every edge of the
# star schema, in one result table. Complements the row-level
# dq_constraint_violations (which checks value constraints): this is
# the relationship-level half of a DQ suite.
#
# Scale shape: each edge is one LEFT ANTI join counted — the dimension
# side is broadcast (or AQE-converted) and the fact side streams; no
# edge ever materializes matched rows. The final table is 5 rows via a
# cheap union of scalar aggregates.
# ---------------------------------------------------------------------------

_FK_EDGES = (
    # (child table, fk col, parent table, pk col)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
)


def _fk_edge_sql(child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
SELECT '{child}.{fk}' AS edge,
       (SELECT count(*) FROM {child}) AS n_rows,
       count(*) AS n_orphans
FROM {child} c
WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})"""


@register("referential_integrity_audit", "\nUNION ALL\n".join(
    _fk_edge_sql(*edge) for edge in _FK_EDGES))
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count orphaned foreign keys on every star-schema edge.

    One anti join per edge (dimension side broadcastable at any scale
    — parents here are the smaller relation of each pair), one row per
    edge out."""
    out = None
    for child, fk, parent, pk in _FK_EDGES:
        c = load_table(spark, sf_dir, child).select(fk)
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias(fk))
        totals = c.agg(F.count("*").alias("n_rows"))
        orphans = (c.join(F.broadcast(p), fk, "left_anti")
                   .agg(F.count("*").alias("n_orphans")))
        edge = (totals.crossJoin(F.broadcast(orphans))
                .select(F.lit(f"{child}.{fk}").alias("edge"),
                        "n_rows", "n_orphans"))
        out = edge if out is None else out.unionByName(edge)
    return out


# ---------------------------------------------------------------------------
# JSON quarantine split — the ingest-side dead-letter route: rows whose
# props payload fails to parse go to quarantine instead of poisoning
# the batch (the engine-wide F3 malformed-row policy, surfaced as an
# auditable count). The fixture's props are all valid, so three
# malformed variants are planted for event_id < 5 (same convention as
# the dedup family); Spark's from_json null-on-malformed agrees with
# the oracle's json_valid() on every planted and natural shape
# (objects only — no bare JSON scalars exist in this column).
# ---------------------------------------------------------------------------

_QUAR_OFFSET = 9_000_000


@register("json_quarantine_split", f"""
WITH aug AS (
    SELECT event_id, props FROM events
    UNION ALL
    SELECT event_id + {_QUAR_OFFSET},
           CASE event_id % 3 WHEN 0 THEN '{{"k": 1'
                             WHEN 1 THEN 'not json' ELSE '' END
    FROM events WHERE event_id < 5
)
SELECT CASE WHEN json_valid(props) THEN 'parsed' ELSE 'quarantined' END
         AS route,
       count(*) AS n_rows,
       min(event_id) AS min_event_id
FROM aug GROUP BY 1
""")
def json_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route rows by JSON parseability of props; emit per-route counts
    and the smallest routed id. One scan, one grouped pass; at scale
    the quarantined side would additionally be written to a dead-letter
    sink (sources/sinks.py) with the same predicate."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "props")
    planted = (ev.filter(F.col("event_id") < 5)
               .select((F.col("event_id") + _QUAR_OFFSET).alias("event_id"),
                       F.when(F.col("event_id") % 3 == 0, '{"k": 1')
                        .when(F.col("event_id") % 3 == 1, 'not json')
                        .otherwise('').alias("props")))
    aug = ev.unionByName(planted)
    # from_json is PERMISSIVE (malformed -> all-null struct, not NULL);
    # try_parse_json is the null-on-invalid parse that matches the
    # oracle's json_valid()
    parsed = F.try_parse_json("props").isNotNull()
    return (aug.groupBy(
        F.when(parsed, "parsed").otherwise("quarantined").alias("route"))
        .agg(F.count("*").alias("n_rows"),
             F.min("event_id").alias("min_event_id")))


# ---------------------------------------------------------------------------
# Composed data-health pipeline — the observability flagship: one
# normalized (check, entity, metric, status) report unioning the
# referential-integrity audit, the anomaly-day counts, the PSI drift
# scores, and the quarantine rate. Mirrors how pipeline_training_data
# composes the dedup/curation stages: every branch reuses the
# registered operator (and the oracle reuses the registered oracle
# text as subqueries), so the health report can never drift from the
# checks it summarizes.
# ---------------------------------------------------------------------------

def _health_oracle() -> str:
    from travel_data_pipeline_spark import registry as _r

    ri = _r.ORACLES["referential_integrity_audit"]
    an = _r.ORACLES["anomaly_event_rate"]
    ps = _r.ORACLES["drift_psi_event_values"]
    qu = _r.ORACLES["json_quarantine_split"]
    return f"""
SELECT 'ref_integrity' AS check_name, edge AS entity,
       CAST(n_orphans AS DOUBLE) AS metric,
       CASE WHEN n_orphans > 0 THEN 'fail' ELSE 'ok' END AS status
FROM ({ri}) ri
UNION ALL
SELECT 'rate_anomaly', event_type, CAST(count(*) AS DOUBLE),
       'warn'
FROM ({an}) an GROUP BY event_type
UNION ALL
SELECT 'psi_drift', event_type, psi,
       CASE WHEN psi >= 0.1 THEN 'warn' ELSE 'ok' END
FROM ({ps}) ps
UNION ALL
SELECT 'quarantine_rate', route, CAST(n_rows AS DOUBLE),
       CASE WHEN route = 'quarantined' AND n_rows > 0 THEN 'warn'
            ELSE 'ok' END
FROM ({qu}) qu
"""


@register("pipeline_data_health", _health_oracle())
def pipeline_data_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union the four operational checks into one normalized health
    report. Each branch is the registered operator itself; the union
    is a few dozen rows regardless of corpus size."""
    ri = (referential_integrity_audit(spark, sf_dir)
          .select(F.lit("ref_integrity").alias("check_name"),
                  F.col("edge").alias("entity"),
                  F.col("n_orphans").cast("double").alias("metric"),
                  F.when(F.col("n_orphans") > 0, "fail").otherwise("ok")
                   .alias("status")))
    an = (anomaly_event_rate(spark, sf_dir)
          .groupBy("event_type")
          .agg(F.count("*").cast("double").alias("metric"))
          .select(F.lit("rate_anomaly").alias("check_name"),
                  F.col("event_type").alias("entity"), "metric",
                  F.lit("warn").alias("status")))
    ps = (drift_psi_event_values(spark, sf_dir)
          .select(F.lit("psi_drift").alias("check_name"),
                  F.col("event_type").alias("entity"),
                  F.col("psi").alias("metric"),
                  F.when(F.col("psi") >= 0.1, "warn").otherwise("ok")
                   .alias("status")))
    qu = (json_quarantine_split(spark, sf_dir)
          .select(F.lit("quarantine_rate").alias("check_name"),
                  F.col("route").alias("entity"),
                  F.col("n_rows").cast("double").alias("metric"),
                  F.when((F.col("route") == "quarantined")
                         & (F.col("n_rows") > 0), "warn").otherwise("ok")
                   .alias("status")))
    return ri.unionByName(an).unionByName(ps).unionByName(qu)
