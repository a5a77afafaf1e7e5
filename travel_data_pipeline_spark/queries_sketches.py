"""Sketch-accelerated scale patterns: Bloom-filter join pruning,
count-min-sketch heavy hitters, and banded interval-overlap joins.

Three more "would it survive 100 TB" shapes, each with a SEMANTICS
oracle (the plain/exact computation) rather than a mechanical
translation — the sketch must change the plan, not the answer:

- bloom_prefilter_join: a fixed-size bitmap (not the key set!) is
  broadcast to prune the probe side before the real join; false
  positives are removed by the exact join, so the result equals the
  plain join the oracle runs.
- cms_heavy_hitters: a (d x w) count-min sketch of lineitem part
  frequencies, read back for the exact top-20 — estimate >= exact
  always, and the oracle replicates the sketch bit-for-bit (integer
  counts, md5-derived positions available in both engines).
- interval_overlap_join: theta joins (a.start < b.end AND a.end >
  b.start) degenerate to broadcast-nested-loop at scale; bucketing
  both sides on the hour grid turns it into an equi-join with a
  bounded fan-out. Oracle runs the plain theta join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_pipeline_spark.fixtures import local_relation
from travel_data_pipeline_spark.functions.hashing import (
    affine_hash,
    affine_hash_sql,
    affine_params,
    minhash_base,
    minhash_base_sql,
)
from travel_data_pipeline_spark.operators.windows import sessionize
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# Bloom-filter join pruning.
#
# Build: urgent orders' keys hashed k=3 ways into an m-bit bitmap,
# stored as ~m/60 (word_idx, word) rows via bit_or aggregation —
# 60-bit words so every shifted bit stays positive in a signed i64.
# Probe: lineitem joins the broadcast bitmap on word_idx (3 tiny
# hash joins), keeps rows with all 3 bits set, THEN exact-joins the
# urgent orders.
#
# Why not broadcast the key set? At 100 TB the build side can be
# billions of keys (GBs); the bitmap is FIXED-SIZE (m bits, here
# 16 KB, scaled up it's still MBs) no matter the key count — this is
# what Spark's own runtime row-group bloom pushdown does, expressed
# at the DataFrame level. Hashing uses engine-side xxhash64: the
# bitmap never reaches the oracle, which runs the plain join.
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 17          # bits
_BLOOM_K = 3
_WORD = 60                  # bits per word; 1<<59 max shift stays positive


def _bloom_pos(key, seed: int):
    return F.pmod(F.xxhash64(F.lit(seed), key), F.lit(_BLOOM_M))


@register("bloom_prefilter_join", """
SELECT strftime(o.o_orderdate, '%Y-%m') AS o_month,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY 1
""")
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order revenue by month, with the lineitem scan pruned by
    a broadcast Bloom bitmap before the exact join. Result is
    bit-identical to the plain join (oracle): the bitmap only drops
    rows the join would drop anyway."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    urgent = (orders.filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_orderkey", "o_orderdate"))

    key_b = F.col("o_orderkey").cast("string")
    positions = F.array(*[_bloom_pos(key_b, s) for s in range(_BLOOM_K)])
    bloom = (urgent.select(F.explode(positions).alias("pos"))
             .select((F.col("pos") / _WORD).cast("int").alias("word_idx"),
                     F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                            f"CAST(pos % {_WORD} AS INT))").alias("mask"))
             .groupBy("word_idx").agg(F.bit_or("mask").alias("word")))

    probe = lineitem.select("l_orderkey", "l_extendedprice")
    key_p = F.col("l_orderkey").cast("string")
    for s in range(_BLOOM_K):
        pos = _bloom_pos(key_p, s)
        w = bloom.select(F.col("word_idx").alias(f"wi{s}"),
                         F.col("word").alias(f"w{s}"))
        probe = (probe
                 .withColumn(f"p{s}", pos)
                 .join(F.broadcast(w),
                       (F.col(f"p{s}") / _WORD).cast("int") == F.col(f"wi{s}"),
                       "left")
                 .filter(F.col(f"w{s}").isNotNull()
                         & (F.col(f"w{s}").bitwiseAND(F.expr(
                             f"shiftleft(CAST(1 AS BIGINT), "
                             f"CAST(p{s} % {_WORD} AS INT))")) != 0)))
    candidates = probe.select("l_orderkey", "l_extendedprice")

    joined = candidates.join(urgent,
                             candidates.l_orderkey == urgent.o_orderkey)
    return (joined
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("o_month"))
            .agg(F.count("*").alias("n_items"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                  .cast("double").alias("revenue")))


def bloom_candidate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic (test-facing): candidate rows after the Bloom gate vs
    true matches — candidates must be a superset, and small."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    true_rows = lineitem.join(
        urgent.select("o_orderkey"),
        lineitem.l_orderkey == F.col("o_orderkey"), "left_semi").count()
    # rebuild the candidate set exactly as the query does
    key_b = F.col("o_orderkey").cast("string")
    positions = F.array(*[_bloom_pos(key_b, s) for s in range(_BLOOM_K)])
    bloom = (urgent.select(F.explode(positions).alias("pos"))
             .select((F.col("pos") / _WORD).cast("int").alias("word_idx"),
                     F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                            f"CAST(pos % {_WORD} AS INT))").alias("mask"))
             .groupBy("word_idx").agg(F.bit_or("mask").alias("word")))
    probe = lineitem.select("l_orderkey")
    key_p = F.col("l_orderkey").cast("string")
    for s in range(_BLOOM_K):
        pos = _bloom_pos(key_p, s)
        w = bloom.select(F.col("word_idx").alias(f"wi{s}"),
                         F.col("word").alias(f"w{s}"))
        probe = (probe.withColumn(f"p{s}", pos)
                 .join(F.broadcast(w),
                       (F.col(f"p{s}") / _WORD).cast("int") == F.col(f"wi{s}"),
                       "left")
                 .filter(F.col(f"w{s}").isNotNull()
                         & (F.col(f"w{s}").bitwiseAND(F.expr(
                             f"shiftleft(CAST(1 AS BIGINT), "
                             f"CAST(p{s} % {_WORD} AS INT))")) != 0)))
    return local_relation(
        spark, [(true_rows, probe.count(), lineitem.count())],
        "true_rows long, candidates long, total long")


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters, certified against exact counts.
#
# d=4 hash rows x w=256 columns of integer counters; estimate(key) =
# min over rows of counter[h_s(key)]. The overestimate is visible at
# this (2k keys / 256 columns) load factor, the min over 4 rows
# keeps it small, and estimate >= exact holds by construction. Both
# engines compute the identical sketch (md5-derived positions, exact
# integer counts) — the oracle IS the sketch, making the driver
# hash-check a replication proof.
#
# Scale: the sketch build is one map-side-combinable aggregation to
# d*w cells regardless of input size; the readback joins a 1k-row
# broadcast. This is the streaming-friendly top-k shape (Spark's
# count_min_sketch agg emits an opaque binary — this keeps the cells
# relational so they can be merged, windowed, or MERGEd into a store).
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 256
_CMS_TOPK = 20
# ONE md5 per row + d affine derivations (pairwise-independent family),
# exactly the MinHash cost trick (functions/hashing.py) — d x cheaper
# than d md5s on the hot 4x-exploded path.
_CMS_PARAMS = affine_params(_CMS_D)


def _cms_sql() -> str:
    base = minhash_base_sql("CAST(l_partkey AS VARCHAR)")
    pos_rows = "\nUNION ALL\n".join(
        f"SELECT {s} AS s, ({affine_hash_sql('base', a, b)} % {_CMS_W}) AS p"
        f" FROM based"
        for s, (a, b) in enumerate(_CMS_PARAMS))
    est_joins = "\n".join(
        f"JOIN sketch s{s} ON s{s}.s = {s} AND s{s}.p = "
        f"({affine_hash_sql('e.base', a, b)} % {_CMS_W})"
        for s, (a, b) in enumerate(_CMS_PARAMS))
    least = ", ".join(f"s{s}.c" for s in range(_CMS_D))
    return f"""
WITH based AS (SELECT {base} AS base FROM lineitem),
pos AS ({pos_rows}),
sketch AS (SELECT s, p, COUNT(*) AS c FROM pos GROUP BY s, p),
exact AS (
    SELECT l_partkey, COUNT(*) AS exact_cnt,
           {base} AS base
    FROM lineitem
    GROUP BY l_partkey ORDER BY exact_cnt DESC, l_partkey LIMIT {_CMS_TOPK}
)
SELECT e.l_partkey, e.exact_cnt,
       CAST(least({least}) AS BIGINT) AS est_cnt,
       CAST(least({least}) - e.exact_cnt AS BIGINT) AS overcount
FROM exact e
{est_joins}
"""


@register("cms_heavy_hitters", _cms_sql())
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part frequencies read back from a 4x256 count-min sketch,
    reported next to the exact counts (overcount >= 0 certifies the
    one-sided CMS error)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    base = minhash_base(F.col("l_partkey").cast("string"))

    cells = li.select(F.explode(F.array(*[
        F.struct(F.lit(s).alias("s"),
                 (affine_hash(base, a, b) % _CMS_W).alias("p"))
        for s, (a, b) in enumerate(_CMS_PARAMS)])).alias("sp"))
    sketch = (cells.select("sp.s", "sp.p")
              .groupBy("s", "p").agg(F.count("*").alias("c")))

    exact = (li.groupBy("l_partkey").agg(F.count("*").alias("exact_cnt"))
             .orderBy(F.col("exact_cnt").desc(), F.col("l_partkey"))
             .limit(_CMS_TOPK))

    est = exact
    ebase = minhash_base(F.col("l_partkey").cast("string"))
    for s, (a, b) in enumerate(_CMS_PARAMS):
        sk = (sketch.filter(F.col("s") == s)
              .select(F.col("p").alias(f"p{s}"), F.col("c").alias(f"c{s}")))
        est = est.join(
            F.broadcast(sk),
            (affine_hash(ebase, a, b) % _CMS_W) == F.col(f"p{s}"))
    least = F.least(*[F.col(f"c{s}") for s in range(_CMS_D)])
    return est.select(
        "l_partkey", "exact_cnt",
        least.alias("est_cnt"),
        (least - F.col("exact_cnt")).alias("overcount"))


# ---------------------------------------------------------------------------
# Interval-overlap join: user sessions x globally busy hours.
#
# Busy hour: event count strictly above 1.15x the mean hourly count —
# compared in exact integer arithmetic (c * n_hours * 100 > 115 *
# total) so the threshold is scale-relative and float-free.
#
# Band shape: each session explodes into the hour buckets it covers
# (bounded fan-out: session length / 1h), the busy side's bucket IS
# its hour — the overlap test becomes an equi-join on the bucket.
# The oracle runs the naive theta join; identical output proves the
# banding loses nothing.
# ---------------------------------------------------------------------------

_SESSIONS_SQL = """
flagged AS (
    SELECT user_id, ts,
           CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
    SELECT user_id, ts,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_seq
    FROM flagged
), sessions AS (
    SELECT user_id, session_seq,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS s_start,
           CAST(floor(epoch(max(ts))) + 1800 AS BIGINT) AS s_end
    FROM numbered GROUP BY user_id, session_seq
)
"""


@register("interval_overlap_join", f"""
WITH {_SESSIONS_SQL},
hourly AS (
    SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
           COUNT(*) AS c
    FROM events GROUP BY 1
),
bounds AS (SELECT COUNT(*) AS n_hours, SUM(c) AS total FROM hourly),
busy AS (
    SELECT h FROM hourly CROSS JOIN bounds b
    WHERE c * b.n_hours * 100 > b.total * 115
)
SELECT s.user_id, s.session_seq, b.h AS hour_epoch,
       least(s.s_end, b.h + 3600) - greatest(s.s_start, b.h)
         AS overlap_secs
FROM sessions s
JOIN busy b ON s.s_start < b.h + 3600 AND s.s_end > b.h
""")
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which user sessions overlap the corpus-wide busy hours, and by
    how many seconds — banded into an hour-bucket equi-join."""
    ev = load_table(spark, sf_dir, "events")
    sessions = (sessionize(ev.select("user_id", "ts"), "user_id", "ts")
                .select("user_id", "session_seq",
                        F.col("session_start").cast("long").alias("s_start"),
                        F.col("session_end").cast("long").alias("s_end")))

    hourly = (ev.groupBy(F.date_trunc("hour", "ts").cast("long").alias("h"))
              .agg(F.count("*").alias("c")))
    bounds = hourly.agg(F.count("*").alias("n_hours"),
                        F.sum("c").alias("total"))
    busy = (hourly.crossJoin(F.broadcast(bounds))
            .filter(F.col("c") * F.col("n_hours") * 100
                    > F.col("total") * 115)
            .select("h"))

    banded = sessions.select(
        "user_id", "session_seq", "s_start", "s_end",
        F.explode(F.sequence(
            (F.col("s_start") / 3600).cast("long"),
            ((F.col("s_end") - 1) / 3600).cast("long"))).alias("bucket"))
    return (banded.join(busy,
                        banded.bucket * 3600 == busy.h)
            .select("user_id", "session_seq",
                    F.col("h").alias("hour_epoch"),
                    (F.least(F.col("s_end"), F.col("h") + 3600)
                     - F.greatest(F.col("s_start"), F.col("h")))
                    .alias("overlap_secs")))
