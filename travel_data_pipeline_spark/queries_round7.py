"""Round-7 candidate queries (written in round 6) — the next platform
gaps per VERDICT r05 #5, continuing the LLM-pipeline mandate:

- shard_writer_manifest: shard-writer PLANNING under dual size
  targets (tokens AND chars) — the training-shard sibling of the
  compaction bin-packing planner; emits the shard-level manifest a
  distributed writer would execute.
- contamination_bloom_prefilter: train/eval n-gram decontamination
  at corpus scale — the eval gram set compressed to a fixed-size
  Bloom bitmap (extending bloom_prefilter_join to the documents
  pipeline), probed JVM-side, exact-verified so the result is
  bit-identical to the exact join.
- attribution_multi_touch: U-shaped (position-based) multi-touch
  attribution — the journey-credit twin of attribution_last_click,
  expressed as per-user window passes, never a purchases x touches
  self-join.

Later round-6 waves extend the batch with snapshot diffing,
k-anonymity, two-phase global ntiles (revenue deciles, source quality
quartiles, shuffle block mixing), mixture/epoch planning
(epoch_replication_plan, padding_waste_audit), tokenizer induction
(bpe_merge_candidates and the iterative bpe_train_merges), and filter
evaluation (classifier_threshold_sweep, langid_confusion_matrix) —
each section carries its own scale-shape note.

Same discipline as every other module: exact integer/decimal moments,
order-pinned folds for float sums, shared per-row double spellings,
Spark-parity rounding (functions/parity.round_sql) on rounded oracle
doubles, broadcast for every dimension-sized side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_pipeline_spark.fixtures import local_relation
from travel_data_pipeline_spark.functions.hashing import (
    md5_long,
    md5_long_sql,
)
from travel_data_pipeline_spark.functions.parity import (
    ordered_sum, ordered_sum_sql, round_sql,
)
from travel_data_pipeline_spark.operators import text
from travel_data_pipeline_spark.registry import ORACLES, register
from travel_data_pipeline_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# Shard-writer manifest under DUAL budgets (tokens + chars).
#
# pack_token_shards assigns docs to shards under one token budget via
# the floor-of-exclusive-cumsum rule; a real shard writer also caps
# the byte size of a file. Two independent single-budget packings give
# two non-decreasing bin sequences per (source, lang) stream; a shard
# closes when EITHER bin increments, i.e. shard_id = dense_rank over
# the (token_bin, char_bin) pair. Every shard then respects BOTH
# budgets modulo the standard one-doc overflow, and the rule stays a
# pure window expression — no per-shard reset state, so it scales as
# one (source, lang) shuffle with two ordered scans.
#
# The manifest (not the per-doc assignment) is the deliverable: what a
# distributed writer needs to open files and what an auditor needs to
# see fill ratios.
# ---------------------------------------------------------------------------

_SHARD_TOKENS = 400          # token budget per shard
_SHARD_CHARS = 2400          # char budget per shard

_TOKED_SQL = """
    SELECT doc_id, source, lang,
           len(list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS n_tokens,
           n_chars
    FROM documents
"""


@register("shard_writer_manifest", f"""
WITH toked AS ({_TOKED_SQL}),
binned AS (
    SELECT doc_id, source, lang, n_tokens, n_chars,
           CAST(floor((SUM(n_tokens) OVER w - n_tokens)
                      / {_SHARD_TOKENS}.0) AS BIGINT) AS tok_bin,
           CAST(floor((SUM(n_chars) OVER w - n_chars)
                      / {_SHARD_CHARS}.0) AS BIGINT) AS chr_bin
    FROM toked
    WINDOW w AS (PARTITION BY source, lang ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING)
),
sharded AS (
    SELECT *,
           CAST(dense_rank() OVER (PARTITION BY source, lang
                                   ORDER BY tok_bin, chr_bin) AS BIGINT)
             - 1 AS shard_id
    FROM binned
)
SELECT source, lang, shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc,
       {round_sql(f"SUM(n_tokens) / {_SHARD_TOKENS}.0")} AS token_fill,
       {round_sql(f"SUM(n_chars) / {_SHARD_CHARS}.0")} AS char_fill
FROM sharded
GROUP BY source, lang, shard_id
""")
def shard_writer_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-level writer plan per (source, lang) stream under BOTH a
    token and a char budget. One shuffle on (source, lang); the two
    cumsum scans and the dense_rank reuse the same partitioning (one
    exchange feeds all three window passes); the manifest aggregate is
    a map-side-combinable groupBy over per-doc rows."""
    docs = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("source", "lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    toked = docs.select(
        "doc_id", "source", "lang", "n_chars",
        text.whitespace_token_count(F.col("text")).alias("n_tokens"))
    binned = toked.select(
        "doc_id", "source", "lang", "n_tokens", "n_chars",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens"))
                / float(_SHARD_TOKENS)).alias("tok_bin"),
        F.floor((F.sum("n_chars").over(w) - F.col("n_chars"))
                / float(_SHARD_CHARS)).alias("chr_bin"))
    wd = Window.partitionBy("source", "lang").orderBy("tok_bin", "chr_bin")
    sharded = binned.withColumn(
        "shard_id", (F.dense_rank().over(wd) - 1).cast("long"))
    return (sharded.groupBy("source", "lang", "shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("tokens"),
                 F.sum("n_chars").cast("long").alias("chars"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"),
                 F.round(F.sum("n_tokens") / float(_SHARD_TOKENS), 6)
                  .alias("token_fill"),
                 F.round(F.sum("n_chars") / float(_SHARD_CHARS), 6)
                  .alias("char_fill")))


# ---------------------------------------------------------------------------
# Bloom-prefiltered n-gram decontamination.
#
# contamination_ngram_overlap broadcasts the exact eval gram SET; at
# corpus scale the right shape compresses it to a fixed-size Bloom
# bitmap (queries_sketches.bloom_prefilter_join's build/probe, applied
# to the documents pipeline): the training-side shingle stream is
# gated by k JVM xxhash probes against a broadcast bitmap BEFORE the
# exact membership join, so only candidate grams (true hits + the
# bitmap's few false positives) ever reach the join. The exact verify
# join removes false positives, so the output is bit-identical to the
# exact query — the oracle IS contamination_ngram_overlap's.
# ---------------------------------------------------------------------------


@register("contamination_bloom_prefilter",
          lambda: ORACLES["contamination_ngram_overlap"])
def contamination_bloom_prefilter(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Per-train-doc eval contamination via a Bloom-gated gram join.

    Scale shape: the eval suite is MBs, its bitmap KBs — broadcast
    both; the corpus-sized train side is filtered by pure JVM hash
    expressions; per-doc totals (n_grams) come from the UNfiltered
    stream in the same pass as the shingle groupBy. Bit-identical to
    the exact oracle: the bitmap has no false negatives and the exact
    join drops its false positives."""
    from travel_data_pipeline_spark.operators import dedup
    from travel_data_pipeline_spark.queries_sketches import (
        _BLOOM_K,
        _WORD,
        _bloom_pos,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = (dedup.shingle_sets(docs, shingle_n=5)
          .withColumnRenamed("shingle", "g"))
    eval_grams = sh.filter(F.col("doc_id") < 10).select("g").distinct()
    train = sh.filter(F.col("doc_id") >= 10)

    positions = F.array(*[_bloom_pos(F.col("g"), s)
                          for s in range(_BLOOM_K)])
    bloom = (eval_grams.select(F.explode(positions).alias("pos"))
             .select((F.col("pos") / _WORD).cast("int").alias("word_idx"),
                     F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                            f"CAST(pos % {_WORD} AS INT))").alias("mask"))
             .groupBy("word_idx").agg(F.bit_or("mask").alias("word")))

    probe = train
    for s in range(_BLOOM_K):
        pos = _bloom_pos(F.col("g"), s)
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
    candidates = probe.select("doc_id", "g")

    totals = train.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (candidates
            .join(F.broadcast(eval_grams), "g", "left_semi")
            .groupBy("doc_id").agg(F.count("*").alias("n_hit")))
    return (totals.join(hits, "doc_id")
            .filter(F.col("n_hit") > 0)
            .select("doc_id", "n_grams", "n_hit",
                    F.round(F.col("n_hit") / F.col("n_grams"), 6)
                     .alias("contamination")))


# ---------------------------------------------------------------------------
# U-shaped multi-touch attribution.
#
# Journey model: every touch (click/view/signup) belongs to the NEXT
# purchase in its user's (ts, event_id) order; a purchase's journey is
# the touches since the previous purchase that fall within 7 days of
# it. Credit: 1.0 to a lone touch, 0.5/0.5 for two, else 0.4 to first
# and last and 0.2/(n-2) spread over the middle — the standard
# position-based recipe.
#
# Scale shape: journey assignment is a REVERSE cumulative purchase
# count (one user_id window — no purchases x touches join, the same
# argument as attribution_last_click); per-journey rank/size is one
# (user_id, journey) window; the final per-type credit sums are
# order-pinned folds over per-row ROUNDED credits so both engines add
# identical doubles identically.
# ---------------------------------------------------------------------------

_MT_WINDOW_US = 604_800_000_000  # 7 days

_MT_CREDIT_SQL = round_sql(
    "(CASE WHEN n = 1 THEN 1.0"
    " WHEN n = 2 THEN 0.5"
    " WHEN rn = 1 OR rn = n THEN 0.4"
    " ELSE 0.2 / (CAST(n AS DOUBLE) - 2.0) END) * p_value")


@register("attribution_multi_touch", f"""
WITH stream AS (
    SELECT user_id, event_id, event_type, value,
           epoch_us(ts) AS us,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
    FROM events
    WHERE event_type IN ('purchase', 'click', 'view', 'signup')
),
grouped AS (
    SELECT *,
           SUM(is_p) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN CURRENT ROW
                           AND UNBOUNDED FOLLOWING) AS jny
    FROM stream
),
journeys AS (
    SELECT *,
           MAX(CASE WHEN is_p = 1 THEN us END) OVER j AS p_us,
           MAX(CASE WHEN is_p = 1 THEN event_id END) OVER j AS p_id,
           MAX(CASE WHEN is_p = 1 THEN value END) OVER j AS p_value
    FROM grouped
    WINDOW j AS (PARTITION BY user_id, jny)
),
touches AS (
    SELECT user_id, event_id, event_type, p_id, p_value,
           row_number() OVER w AS rn,
           count(*) OVER (PARTITION BY user_id, jny) AS n
    FROM journeys
    WHERE is_p = 0 AND p_us IS NOT NULL
      AND p_us - us <= {_MT_WINDOW_US}
    WINDOW w AS (PARTITION BY user_id, jny ORDER BY us, event_id)
),
credited AS (
    SELECT event_type, event_id,
           {_MT_CREDIT_SQL} AS credit
    FROM touches
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_touches,
       {round_sql(ordered_sum_sql("credit", "event_id"))} + 0.0
           AS credited_value
FROM credited
GROUP BY event_type
""")
def attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based multi-touch credit per touch type over purchase
    journeys. Two shuffles total (user_id, then (user_id, journey)) —
    never a self-join — and the credit sums fold in event_id order for
    cross-engine float determinism."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    stream = (e.filter(F.col("event_type")
                       .isin("purchase", "click", "view", "signup"))
              .select("user_id", "event_id", "event_type", "value",
                      us.alias("us"),
                      F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0).alias("is_p")))
    wrev = (Window.partitionBy("user_id").orderBy("us", "event_id")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    grouped = stream.withColumn("jny", F.sum("is_p").over(wrev))
    wj = Window.partitionBy("user_id", "jny")
    p_of = lambda c: F.max(F.when(F.col("is_p") == 1, F.col(c))).over(wj)
    journeys = (grouped
                .withColumn("p_us", p_of("us"))
                .withColumn("p_id", p_of("event_id"))
                .withColumn("p_value", p_of("value")))
    wo = Window.partitionBy("user_id", "jny").orderBy("us", "event_id")
    touches = (journeys
               .filter((F.col("is_p") == 0) & F.col("p_us").isNotNull()
                       & (F.col("p_us") - F.col("us") <= _MT_WINDOW_US))
               .withColumn("rn", F.row_number().over(wo))
               .withColumn("n", F.count("*").over(wj)))
    n_d = F.col("n").cast("double")
    weight = (F.when(F.col("n") == 1, F.lit(1.0))
              .when(F.col("n") == 2, F.lit(0.5))
              .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")),
                    F.lit(0.4))
              .otherwise(F.lit(0.2) / (n_d - 2.0)))
    credited = touches.select(
        "event_type", "event_id",
        F.round(weight * F.col("p_value"), 6).alias("credit"))
    return (credited.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_touches"),
                 (F.round(ordered_sum("credit", "event_id"), 6) + 0.0)
                 .alias("credited_value")))


# ---------------------------------------------------------------------------
# Dataset snapshot diff — the data-versioning primitive: given two
# snapshots of a keyed table, classify every key as added / removed /
# changed / unchanged and report the counts. The scale shape is the
# only one that survives 100 TB: project each side to (key, md5) FIRST
# so the full-outer join shuffles 32-byte digests, never the payloads
# (the exact_dedup argument, operators/dedup.py:66).
#
# Snapshots are simulated deterministically from the documents table:
# v2 is the table as-is; v1 drops doc_id % 11 == 3 ("added" in v2),
# rewrites text for doc_id % 13 == 1 ("changed"), and carries a
# shifted +9M tail ("removed").
# ---------------------------------------------------------------------------


@register("dataset_snapshot_diff", """
WITH v2 AS (
    SELECT doc_id, md5(text) AS h FROM documents
),
v1 AS (
    SELECT doc_id,
           md5(CASE WHEN doc_id % 13 = 1 THEN text || ' [v1]'
                    ELSE text END) AS h
    FROM documents WHERE doc_id % 11 <> 3
    UNION ALL
    SELECT doc_id + 9000000 AS doc_id, md5(text) AS h
    FROM documents WHERE doc_id % 17 = 2
),
diff AS (
    SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                WHEN v1.h <> v2.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM v1 FULL OUTER JOIN v2 USING (doc_id)
)
SELECT status, CAST(count(*) AS BIGINT) AS n_docs
FROM diff GROUP BY status
""")
def dataset_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Added/removed/changed/unchanged counts between two simulated
    snapshots, joined on (key, content-hash) projections only."""
    docs = load_table(spark, sf_dir, "documents")
    v2 = docs.select("doc_id", F.md5("text").alias("h"))
    v1_kept = (docs.filter(F.col("doc_id") % 11 != 3)
               .select("doc_id",
                       F.md5(F.when(F.col("doc_id") % 13 == 1,
                                    F.concat("text", F.lit(" [v1]")))
                             .otherwise(F.col("text"))).alias("h")))
    v1_tail = (docs.filter(F.col("doc_id") % 17 == 2)
               .select((F.col("doc_id") + 9_000_000).alias("doc_id"),
                       F.md5("text").alias("h")))
    v1 = v1_kept.unionAll(v1_tail)
    joined = v1.withColumnRenamed("h", "h1").join(
        v2.withColumnRenamed("h", "h2"), "doc_id", "full_outer")
    status = (F.when(F.col("h1").isNull(), "added")
              .when(F.col("h2").isNull(), "removed")
              .when(F.col("h1") != F.col("h2"), "changed")
              .otherwise("unchanged"))
    return (joined.select(status.alias("status"))
            .groupBy("status").agg(F.count("*").cast("long")
                                   .alias("n_docs")))


# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers — the privacy gate of a
# training-data release: rows whose (lang, source, length-bucket)
# combination identifies fewer than k documents are re-identification
# risks. Reported per lang (bounded output), never as the raw risky-
# group listing (which scales with data).
# ---------------------------------------------------------------------------

_KANON_K = 5
_KANON_BUCKET = 200


@register("k_anonymity_audit", f"""
WITH qi AS (
    SELECT lang, source,
           CAST(n_chars // {_KANON_BUCKET} AS BIGINT) AS len_bucket
    FROM documents
),
groups AS (
    SELECT lang, source, len_bucket, count(*) AS sz
    FROM qi GROUP BY lang, source, len_bucket
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(SUM(sz) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN sz < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS risky_groups,
       CAST(SUM(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END) AS BIGINT)
         AS risky_rows,
       {round_sql(f"SUM(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END)"
                  " / CAST(SUM(sz) AS DOUBLE)")} AS risky_share
FROM groups GROUP BY lang
""")
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language k-anonymity readout (k=5) over the
    (lang, source, 200-char length bucket) quasi-identifier. Two
    map-side-combinable aggregations; output bounded by |langs|."""
    docs = load_table(spark, sf_dir, "documents")
    qi = docs.select(
        "lang", "source",
        F.floor(F.col("n_chars") / _KANON_BUCKET).alias("len_bucket"))
    groups = (qi.groupBy("lang", "source", "len_bucket")
              .agg(F.count("*").alias("sz")))
    risky = F.when(F.col("sz") < _KANON_K, F.col("sz")).otherwise(0)
    return (groups.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_groups"),
                 F.sum("sz").cast("long").alias("n_rows"),
                 F.sum(F.when(F.col("sz") < _KANON_K, 1).otherwise(0))
                  .cast("long").alias("risky_groups"),
                 F.sum(risky).cast("long").alias("risky_rows"),
                 F.round(F.sum(risky)
                         / F.sum("sz").cast("double"), 6)
                  .alias("risky_share")))


# ---------------------------------------------------------------------------
# Revenue decile bands — global ntile over a data-scaled relation,
# done right: the decile of a customer derives from the TWO-PHASE
# global rank (operators/windows.two_phase_ordered), never a
# partitionless ntile()/row_number() window. floor((rank-1) * 10 / n)
# is the exact rank-based ntile when n % 10 == 0 and a deterministic
# near-ntile otherwise — spelled identically in both engines (exact
# integer arithmetic, no doubles until the band aggregates).
# ---------------------------------------------------------------------------


@register("revenue_decile_bands", """
WITH rev AS (
    SELECT o_custkey,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT r,
           row_number() OVER (ORDER BY r, o_custkey) AS i,
           count(*) OVER () AS n
    FROM rev
)
SELECT CAST((i - 1) * 10 // n AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(min(r) AS DOUBLE) AS lo,
       CAST(max(r) AS DOUBLE) AS hi,
       CAST(SUM(r) AS DOUBLE) AS revenue
FROM ranked GROUP BY 1
""")
def revenue_decile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile customer-revenue bands (count, lo/hi boundary,
    total). The rank is two-phase (quantile buckets + broadcast
    offsets); the only global single-partition work is the
    <=num_buckets offsets pass."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    orders = load_table(spark, sf_dir, "orders")
    rev = (orders.groupBy("o_custkey")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .alias("r")))
    ranked = two_phase_ordered(
        rev, [F.col("r").asc(), F.col("o_custkey").asc()],
        F.col("r").cast("double") + F.col("o_custkey") / F.lit(1e18),
        rank_col="i")
    n = rev.agg(F.count("*").alias("n"))
    banded = (ranked.crossJoin(F.broadcast(n))
              .select(F.expr("((i - 1) * 10) div n")  # exact integer
                      .cast("long").alias("decile"), "r"))
    return (banded.groupBy("decile")
            .agg(F.count("*").cast("long").alias("n_customers"),
                 F.min("r").cast("double").alias("lo"),
                 F.max("r").cast("double").alias("hi"),
                 F.sum("r").cast("double").alias("revenue")))


# ---------------------------------------------------------------------------
# Epoch replication plan — the UPSAMPLING dual of
# queries_round5.mixture_rebalance_plan: sources below the uniform
# target get rate > 1, realized as floor(rate) full copies per doc
# plus one extra copy for the md5-thresholded fraction of docs
# (deterministic, rerun-stable — the sample_stratified_by_lang hash
# discipline). Per-doc output so a writer can materialize epochs by
# exploding n_copies; the fractional threshold is exact integer
# arithmetic off an identically-spelled double rate.
# ---------------------------------------------------------------------------

_REP_HASH_SQL = md5_long_sql("'rep:' || CAST(doc_id AS VARCHAR)")


@register("epoch_replication_plan", f"""
WITH per_source AS (
    SELECT source, count(*) AS n_docs FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(sum(n_docs) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS k
    FROM per_source
),
rated AS (
    SELECT source, n_docs,
           (CAST(total AS DOUBLE) / CAST(k AS DOUBLE))
             / CAST(n_docs AS DOUBLE) AS rate
    FROM per_source CROSS JOIN tot
)
SELECT d.doc_id, d.source,
       CAST(floor(r.rate) +
            CASE WHEN ({_REP_HASH_SQL} % 1000000)
                      < CAST(floor((r.rate - floor(r.rate)) * 1000000)
                             AS BIGINT)
                 THEN 1 ELSE 0 END AS BIGINT) AS n_copies
FROM documents d JOIN rated r USING (source)
""")
def epoch_replication_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc replication counts toward a uniform source mixture.
    One grouped count + a broadcast of the (|sources|-row) rate table
    back onto the corpus — the doc-side work is pure expressions."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = per_source.agg(F.sum("n_docs").cast("long").alias("total"),
                         F.count("*").cast("long").alias("k"))
    rate = ((F.col("total").cast("double") / F.col("k").cast("double"))
            / F.col("n_docs").cast("double"))
    rated = (per_source.crossJoin(F.broadcast(tot))
             .select("source", rate.alias("rate")))
    h = md5_long(F.concat(F.lit("rep:"),
                          F.col("doc_id").cast("string"))) % 1_000_000
    frac_thresh = F.floor((F.col("rate") - F.floor("rate")) * 1_000_000) \
        .cast("long")
    n_copies = (F.floor("rate")
                + F.when(h < frac_thresh, 1).otherwise(0)).cast("long")
    return (docs.select("doc_id", "source")
            .join(F.broadcast(rated), "source")
            .select("doc_id", "source", n_copies.alias("n_copies")))


# ---------------------------------------------------------------------------
# Padding-waste audit — the training-efficiency readout: with a fixed
# max sequence length, how many pad tokens does naive batching burn vs
# length-bucketed batching (bucket width 32)? All integer token
# arithmetic; the only doubles are the two waste shares.
# ---------------------------------------------------------------------------

_PAD_MAX_SEQ = 256
_PAD_BUCKET = 32


@register("padding_waste_audit", f"""
WITH toked AS (
    SELECT least(len(list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')), {_PAD_MAX_SEQ}) AS n_tokens
    FROM documents
),
bucketed AS (
    SELECT n_tokens,
           least(CAST(ceil(CAST(n_tokens AS DOUBLE) / {_PAD_BUCKET})
                      AS BIGINT) * {_PAD_BUCKET}, {_PAD_MAX_SEQ})
             AS bucket_top
    FROM toked
)
SELECT bucket_top,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens,
       CAST(count(*) * {_PAD_MAX_SEQ} - SUM(n_tokens) AS BIGINT)
         AS naive_pad,
       CAST(count(*) * bucket_top - SUM(n_tokens) AS BIGINT)
         AS bucketed_pad,
       {round_sql(f"1.0 - CAST(SUM(n_tokens) AS DOUBLE)"
                  f" / (count(*) * {_PAD_MAX_SEQ}.0)")} AS naive_waste,
       {round_sql("1.0 - CAST(SUM(n_tokens) AS DOUBLE)"
                  " / (count(*) * CAST(bucket_top AS DOUBLE))")}
         AS bucketed_waste
FROM bucketed GROUP BY bucket_top
""")
def padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pad-token waste per 32-token length bucket, naive (pad to 256)
    vs length-bucketed batching. One scan + one small groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.least(text.whitespace_token_count(F.col("text")),
                   F.lit(_PAD_MAX_SEQ))
    bucket_top = F.least(
        F.ceil(toks.cast("double") / _PAD_BUCKET).cast("long") * _PAD_BUCKET,
        F.lit(_PAD_MAX_SEQ))
    b = docs.select(toks.alias("n_tokens"), bucket_top.alias("bucket_top"))
    n, s = F.count("*"), F.sum("n_tokens")
    return (b.groupBy("bucket_top")
            .agg(n.cast("long").alias("n_docs"),
                 s.cast("long").alias("tokens"),
                 (n * _PAD_MAX_SEQ - s).cast("long").alias("naive_pad"),
                 (n * F.col("bucket_top") - s).cast("long")
                  .alias("bucketed_pad"),
                 F.round(F.lit(1.0) - s.cast("double")
                         / (n * float(_PAD_MAX_SEQ)), 6)
                  .alias("naive_waste"),
                 F.round(F.lit(1.0) - s.cast("double")
                         / (n * F.col("bucket_top").cast("double")), 6)
                  .alias("bucketed_waste")))


# ---------------------------------------------------------------------------
# BPE merge candidates — step 1 of tokenizer induction: the most
# frequent ADJACENT token pairs across the corpus (the pair a BPE
# trainer would merge next). Pairs come from zipping each token array
# with its own tail — no self-join, no positional explode+rejoin; the
# per-doc work is a single generator expression and the corpus-wide
# work is one count aggregation + a TakeOrderedAndProject top-20
# (total order: count DESC, pair ASC).
# ---------------------------------------------------------------------------

_NORM7 = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@register("bpe_merge_candidates", f"""
WITH toks AS (
    SELECT list_filter(string_split({_NORM7}, ' '), x -> x <> '') AS t
    FROM documents
),
pairs AS (
    SELECT unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1])) AS pair
    FROM toks WHERE len(t) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY pair
ORDER BY n_pairs DESC, pair
LIMIT 20
""")
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token pairs by corpus frequency — the next-merge
    ranking a BPE trainer computes each iteration. One scan, one
    shuffle (pair counts), partial top-k on the way out."""
    docs = load_table(spark, sf_dir, "documents")
    toks = text.token_array(F.col("text"))
    withp = (docs.select(toks.alias("t"))
             .filter(F.size("t") >= 2)
             .select(F.zip_with(
                 F.slice("t", F.lit(1), F.size("t") - 1),
                 F.slice("t", F.lit(2), F.size("t") - 1),
                 lambda a, b: F.concat(a, F.lit(" "), b)).alias("pairs")))
    return (withp.select(F.explode("pairs").alias("pair"))
            .groupBy("pair").agg(F.count("*").cast("long").alias("n_pairs"))
            .orderBy(F.desc("n_pairs"), F.asc("pair"))
            .limit(20))


# ---------------------------------------------------------------------------
# Source quality quartiles — which sources contribute the good data:
# each doc's GLOBAL quality quartile (by the frozen logistic logit of
# quality_classifier_logistic), crossed with its source. The global
# rank is two-phase (operators/windows.two_phase_ordered) — never a
# partitionless window; quartile = exact integer (i-1)*4 div n.
# ---------------------------------------------------------------------------

_SQQ_FEATS_SQL = f"""
feats AS (
    SELECT doc_id, source,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
           length(text) - length(regexp_replace(text,
               '[.,;:!?''"()\\[\\]{{}}]', '', 'g')) AS punct_chars
    FROM documents
),
scored AS (
    SELECT doc_id, source,
           {round_sql(
               f"-2.0 + 3.5 * {round_sql('alpha_chars / GREATEST(n_chars, 1)')}"
               f" - 6.0 * {round_sql('punct_chars / GREATEST(n_chars, 1)')}"
               f" + 0.9 * {round_sql('log10(CAST(n_chars AS DOUBLE) + 1.0)')}")}
             + 0.0 AS logit
    FROM feats
)"""


@register("source_quality_quartiles", f"""
WITH {_SQQ_FEATS_SQL},
ranked AS (
    SELECT source,
           row_number() OVER (ORDER BY logit, doc_id) AS i,
           count(*) OVER () AS n
    FROM scored
),
g AS (
    SELECT source, (i - 1) * 4 // n AS quartile, count(*) AS c
    FROM ranked GROUP BY 1, 2
),
t AS (SELECT source, SUM(c) AS tot FROM g GROUP BY source)
SELECT g.source, CAST(quartile AS BIGINT) AS quartile,
       CAST(c AS BIGINT) AS n_docs,
       {round_sql("c / CAST(tot AS DOUBLE)")} AS share
FROM g JOIN t ON g.source = t.source
""")
def source_quality_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mix of GLOBAL quality quartiles (3-feature frozen
    logit, no-token variant — pure length/regexp projections). Rank is
    two-phase; everything after is bounded by |sources| x 4."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    punct = n_chars - F.length(
        F.regexp_replace("text", r"""[.,;:!?'"()\[\]{}]""", ""))
    logit = F.round(
        F.lit(-2.0)
        + F.lit(3.5) * F.round(alpha / F.greatest(n_chars, F.lit(1)), 6)
        - F.lit(6.0) * F.round(punct / F.greatest(n_chars, F.lit(1)), 6)
        + F.lit(0.9) * F.round(F.log10(n_chars.cast("double") + F.lit(1.0)),
                               6), 6) + F.lit(0.0)
    scored = docs.select("doc_id", "source", logit.alias("logit"))
    ranked = two_phase_ordered(
        scored, [F.col("logit").asc(), F.col("doc_id").asc()],
        F.col("logit") + F.col("doc_id") / F.lit(1e18), rank_col="i")
    n = scored.agg(F.count("*").alias("n"))
    g = (ranked.crossJoin(F.broadcast(n))
         .select("source",
                 F.expr("((i - 1) * 4) div n").cast("long").alias("quartile"))
         .groupBy("source", "quartile")
         .agg(F.count("*").alias("c")))
    tot = g.groupBy("source").agg(F.sum("c").alias("tot"))
    return (g.join(F.broadcast(tot), "source")
            .select("source", "quartile",
                    F.col("c").cast("long").alias("n_docs"),
                    F.round(F.col("c") / F.col("tot").cast("double"), 6)
                     .alias("share")))


# ---------------------------------------------------------------------------
# Classifier threshold sweep — the operating-point table for the
# quality filter: precision/recall/F1 at 7 fixed logit thresholds.
# One corpus scan broadcast-crossed with the 7-row grid, then a
# map-side-combinable conditional aggregation. Degenerate cells
# (tp+fp = 0 or tp+fn = 0) branch to NULL EXPLICITLY in both engines
# (Spark non-ANSI x/0 -> NULL vs DuckDB inf would otherwise diverge).
# ---------------------------------------------------------------------------

_THR = ("-1.5", "-1.0", "-0.5", "0.0", "0.5", "1.0", "1.5")


@register("classifier_threshold_sweep", f"""
WITH feats AS (
    SELECT doc_id,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
           len(list_filter(string_split({_NORM7}, ' '), x -> x <> ''))
               AS n_tokens
    FROM documents
),
x AS (
    SELECT doc_id,
           {round_sql("alpha_chars / GREATEST(n_chars, 1)")} AS alpha_ratio,
           {round_sql("(n_chars - alpha_chars) / GREATEST(n_chars, 1)")}
             AS sym_ratio,
           {round_sql("alpha_chars / GREATEST(n_tokens, 1)")}
             AS mean_word_len,
           {round_sql("log10(CAST(n_chars AS DOUBLE) + 1.0)")} AS log_len,
           n_tokens
    FROM feats
),
judged AS (
    SELECT {round_sql("-2.0 + 3.5 * alpha_ratio - 6.0 * (1.0 - alpha_ratio)"
                      " + 0.08 * mean_word_len + 0.9 * log_len")} + 0.0
             AS score,
           (n_tokens >= 10 AND mean_word_len <= 12.0
            AND sym_ratio <= 0.35) AS truth
    FROM x
),
grid AS (SELECT unnest([{', '.join(_THR)}]) AS thr),
cells AS (
    SELECT thr,
      CAST(SUM(CASE WHEN score >= thr AND truth THEN 1 ELSE 0 END)
           AS BIGINT) AS tp,
      CAST(SUM(CASE WHEN score >= thr AND NOT truth THEN 1 ELSE 0 END)
           AS BIGINT) AS fp,
      CAST(SUM(CASE WHEN score < thr AND truth THEN 1 ELSE 0 END)
           AS BIGINT) AS fn
    FROM judged CROSS JOIN grid GROUP BY thr
)
SELECT CAST(thr AS DOUBLE) AS thr, tp, fp, fn,
       CASE WHEN tp + fp = 0 THEN NULL
            ELSE {round_sql("CAST(tp AS DOUBLE) / (tp + fp)")} END
         AS precision,
       CASE WHEN tp + fn = 0 THEN NULL
            ELSE {round_sql("CAST(tp AS DOUBLE) / (tp + fn)")} END
         AS recall,
       CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
            ELSE {round_sql("2.0 * tp / CAST(2 * tp + fp + fn AS DOUBLE)")}
            END AS f1
FROM cells
""")
def classifier_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 of the frozen quality scorer at 7 logit
    thresholds (the eval-score spelling of classifier_eval_metrics,
    raw corpus). Broadcast 7-row grid x one scan; output is 7 rows."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    toks = F.filter(F.split(norm, " "), lambda x: x != "")
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    n_tokens = F.size(toks)
    alpha_ratio = F.round(alpha / F.greatest(n_chars, F.lit(1)), 6)
    sym_ratio = F.round((n_chars - alpha) / F.greatest(n_chars, F.lit(1)), 6)
    mwl = F.round(alpha / F.greatest(n_tokens, F.lit(1)), 6)
    log_len = F.round(F.log10(n_chars.cast("double") + F.lit(1.0)), 6)
    score = F.round(F.lit(-2.0) + F.lit(3.5) * alpha_ratio
                    - F.lit(6.0) * (F.lit(1.0) - alpha_ratio)
                    + F.lit(0.08) * mwl + F.lit(0.9) * log_len, 6) \
        + F.lit(0.0)
    truth = (n_tokens >= 10) & (mwl <= 12.0) & (sym_ratio <= 0.35)
    judged = docs.select(score.alias("score"), truth.alias("truth"))
    grid = local_relation(spark, [(float(t),) for t in _THR], "thr double")
    hit = F.col("score") >= F.col("thr")
    cells = (judged.crossJoin(F.broadcast(grid))
             .groupBy("thr")
             .agg(F.sum(F.when(hit & F.col("truth"), 1).otherwise(0))
                   .cast("long").alias("tp"),
                  F.sum(F.when(hit & ~F.col("truth"), 1).otherwise(0))
                   .cast("long").alias("fp"),
                  F.sum(F.when(~hit & F.col("truth"), 1).otherwise(0))
                   .cast("long").alias("fn")))
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return cells.select(
        F.col("thr").cast("double"), "tp", "fp", "fn",
        F.when(tp + fp == 0, F.lit(None).cast("double"))
         .otherwise(F.round(tp.cast("double") / (tp + fp), 6))
         .alias("precision"),
        F.when(tp + fn == 0, F.lit(None).cast("double"))
         .otherwise(F.round(tp.cast("double") / (tp + fn), 6))
         .alias("recall"),
        F.when(2 * tp + fp + fn == 0, F.lit(None).cast("double"))
         .otherwise(F.round(F.lit(2.0) * tp
                            / (2 * tp + fp + fn).cast("double"), 6))
         .alias("f1"))


# ---------------------------------------------------------------------------
# Shuffle block mixing — audits the deterministic training-order
# shuffle: docs ordered by md5('shuf:'||doc_id) are cut into
# 100-doc blocks; a well-mixed shuffle gives every block many distinct
# sources. Global order again via the two-phase rank (the md5 key cast
# to double is monotone along the order, so it buckets exactly);
# output is the tiny histogram blocks-per-distinct-source-count.
# ---------------------------------------------------------------------------

_SHUF_BLOCK = 100
_SHUF_HASH_SQL = md5_long_sql("'shuf:' || CAST(doc_id AS VARCHAR)")


@register("shuffle_block_mixing", f"""
WITH h AS (
    SELECT doc_id, source, {_SHUF_HASH_SQL} AS hk FROM documents
),
ranked AS (
    SELECT source,
           (row_number() OVER (ORDER BY hk, doc_id) - 1) // {_SHUF_BLOCK}
             AS block
    FROM h
),
per_block AS (
    SELECT block, count(DISTINCT source) AS n_sources,
           count(*) AS n_docs
    FROM ranked GROUP BY block
)
SELECT CAST(n_sources AS BIGINT) AS n_sources,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(min(n_docs) AS BIGINT) AS min_docs,
       CAST(max(n_docs) AS BIGINT) AS max_docs
FROM per_block GROUP BY n_sources
""")
def shuffle_block_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-source histogram over 100-doc blocks of the
    hash-shuffled training order. Two-phase global rank; per-block
    distinct is bounded by |sources|."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", "source",
        md5_long(F.concat(F.lit("shuf:"),
                          F.col("doc_id").cast("string"))).alias("hk"))
    ranked = two_phase_ordered(
        h, [F.col("hk").asc(), F.col("doc_id").asc()],
        F.col("hk").cast("double"), rank_col="i")
    per_block = (ranked
                 .select("source",
                         F.expr(f"((i - 1)) div {_SHUF_BLOCK}")
                          .alias("block"))
                 .groupBy("block")
                 .agg(F.countDistinct("source").alias("n_sources"),
                      F.count("*").alias("n_docs")))
    return (per_block.groupBy("n_sources")
            .agg(F.count("*").cast("long").alias("n_blocks"),
                 F.min("n_docs").cast("long").alias("min_docs"),
                 F.max("n_docs").cast("long").alias("max_docs"))
            .select(F.col("n_sources").cast("long"), "n_blocks",
                    "min_docs", "max_docs"))


# ---------------------------------------------------------------------------
# Language-ID confusion matrix — evaluates the stopword-argmax
# language identifier against the corpus's ground-truth `lang` label:
# (truth, prediction) counts plus per-truth recall shares. The
# quality readout that decides whether the cheap heuristic is safe to
# filter on. One projection pass + one bounded (|langs|^2) groupBy.
# ---------------------------------------------------------------------------


def _langid_confusion_sql() -> str:
    from travel_data_pipeline_spark.queries_northstar import (
        lang_pred_case_sql,
    )
    return f"""
WITH toked AS (
    SELECT lang,
           list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '') AS toks
    FROM documents
),
pred AS (
    SELECT lang, {lang_pred_case_sql()} AS pred_lang FROM toked
),
cells AS (
    SELECT lang, pred_lang, count(*) AS c
    FROM pred GROUP BY lang, pred_lang
),
t AS (SELECT lang, SUM(c) AS tot FROM cells GROUP BY lang)
SELECT cells.lang, pred_lang, CAST(c AS BIGINT) AS n_docs,
       {round_sql("c / CAST(tot AS DOUBLE)")} AS share
FROM cells JOIN t ON cells.lang = t.lang
"""


# lazy (the callable, not a rendered string): rendering at decoration
# time imports queries_northstar, which breaks the direct
# `import queries_round7` path while northstar is still initializing
# (the registry import chain) — the latent circular-import seam the
# round-5 memory note warned about
@register("langid_confusion_matrix", _langid_confusion_sql)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(truth lang, predicted lang) confusion cells with per-truth
    recall shares. Pure-expression prediction; output bounded by
    |langs|^2."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (docs.select("lang",
                         text.language_pred(F.col("text"))
                          .alias("pred_lang"))
             .groupBy("lang", "pred_lang")
             .agg(F.count("*").alias("c")))
    tot = cells.groupBy("lang").agg(F.sum("c").alias("tot"))
    return (cells.join(F.broadcast(tot), "lang")
            .select("lang", "pred_lang",
                    F.col("c").cast("long").alias("n_docs"),
                    F.round(F.col("c") / F.col("tot").cast("double"), 6)
                     .alias("share")))


# ---------------------------------------------------------------------------
# Iterative BPE merge training — the 5-round extension of
# bpe_merge_candidates: each round counts adjacent pairs, takes the
# global argmax (count DESC, pair ASC — a total order), and applies
# the merge corpus-wide as a leftmost-greedy non-overlapping fold
# (pure JVM higher-order aggregate, no UDF). The loop follows the
# kmeans/connected-components driver-iteration discipline: persist the
# current token relation, materialize the next via the round's count
# action, unpersist with lag 1. Oracle is LAZY (iterative training is
# not SQL-expressible): an independent pure-python BPE over the same
# parquet rendered as a VALUES literal — exact integer counts and
# strings, no float parity surface.
# ---------------------------------------------------------------------------

_BPE_TRAIN_MERGES = 5
_BPE_SEP = "▁"


def _adjacent_pairs(col):
    """'a b' strings for each adjacent token pair (tokens are
    space-free, so the join is unambiguous)."""
    return F.zip_with(
        F.slice(col, F.lit(1), F.size(col) - 1),
        F.slice(col, F.lit(2), F.size(col) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b))


def _merge_fold(arr, a: str, b: str):
    """Leftmost-greedy non-overlapping merge of adjacent (a, b) into
    a single token, as an accumulator fold. try_element_at keeps the
    empty-accumulator probe NULL-safe under ANSI mode. The repeated
    array concat makes this O(len^2) per doc — used only for the
    a == b case, where merge starts can chain and need the running
    state; see _merge_linear for the a != b fast path."""
    merged = F.lit(a + _BPE_SEP + b)
    return F.aggregate(
        arr, F.expr("cast(array() as array<string>)"),
        lambda acc, t: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a))
            & (t == F.lit(b)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(merged))
        ).otherwise(F.concat(acc, F.array(t))))


def _merge_linear(arr, a: str, b: str):
    """O(len) merge for a != b: two DISTINCT tokens can't chain
    (position i and i+1 both starting a merge would need t[i+1] to be
    both b and a), so greedy-leftmost == merge EVERY (a, b) adjacency.
    Each position maps to [merged], [] (consumed by the previous
    start), or [t[i]], then one flatten. try_element_at turns the
    boundary probes (index 0 / past-the-end) into NULLs under ANSI."""
    assert a != b
    merged = F.lit(a + _BPE_SEP + b)
    idx = F.sequence(F.lit(1), F.size(arr))  # 1-based positions

    def cell(i):
        here = F.element_at(arr, i)
        start = (here == F.lit(a)) & (F.try_element_at(arr, i + 1)
                                      == F.lit(b))
        # try_element_at(_, 0) is still INVALID_INDEX_OF_ZERO; the CASE
        # branch keeps the i-1 probe unevaluated at the left boundary
        prev = F.when(i > 1, F.element_at(arr, i - 1))
        consumed = (prev == F.lit(a)) & (here == F.lit(b))
        return (F.when(start, F.array(merged))
                .when(consumed, F.expr("cast(array() as array<string>)"))
                .otherwise(F.array(here)))

    return F.flatten(F.transform(idx, cell))


def _merge_tokens(arr, a: str, b: str):
    return _merge_fold(arr, a, b) if a == b else _merge_linear(arr, a, b)


def _bpe_train(tokens_df: DataFrame,
               n_merges: int = _BPE_TRAIN_MERGES) -> list[tuple]:
    """Run the merge loop over a one-column ``t: array<string>`` frame;
    returns [(rank, 'a b', count), ...].

    Sampling posture (the only driver-loop collect in a query path):
    the per-round ``.orderBy(...).limit(1).collect()`` is a 1-row
    argmax — the standard iterative-BPE shape — and the loop is
    bounded at ``n_merges`` (5 here), so the driver sees exactly
    ``n_merges`` single-row results; every corpus-wide pass (the pair
    count and the merge rewrite) stays distributed with lag-1
    persisted lineage. At 100 TB you would not change this loop — you
    would train on a sample, the standard practice for tokenizer
    induction (BPE merge ranks converge long before corpus scale):
    gate ``tokens_df`` with an md5-hash slice (e.g.
    ``md5_bucket(doc_id) < k`` as in sample_stratified_by_lang) and
    train on the O(GB) sample; applying the learned merges
    (bpe_apply_learned) is the part that runs at corpus scale and is
    a pure distributed map."""
    cur = tokens_df.persist()
    prev = None
    out: list[tuple] = []
    try:
        for rank in range(1, n_merges + 1):
            top = (cur.select(F.explode(_adjacent_pairs(F.col("t")))
                              .alias("pair"))
                   .groupBy("pair").agg(F.count("*").alias("n"))
                   .orderBy(F.desc("n"), F.asc("pair")).limit(1).collect())
            if prev is not None:
                prev.unpersist()
            if not top:
                break
            pair, n = top[0]["pair"], int(top[0]["n"])
            out.append((rank, pair, n))
            a, b = pair.split(" ")
            prev, cur = cur, (cur.select(_merge_tokens(F.col("t"), a, b)
                                         .alias("t")).persist())
    finally:
        cur.unpersist()
        if prev is not None:
            prev.unpersist()
    return out


def _bpe_train_oracle() -> str:
    """LAZY oracle: independent pure-python BPE straight off the
    oracle-SF parquet (same normalize/tokenize, same greedy
    non-overlapping merge, tie-break on the JOINED 'a b' string to
    mirror Spark's pair-string ordering), rendered as VALUES."""
    import os
    import re
    from collections import Counter

    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    con = duckdb.connect()
    texts = [t[0] for t in con.execute(
        "SELECT text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')").fetchall()]
    con.close()
    docs = []
    for t in texts:
        toks = [x for x in
                re.sub(r"\s+", " ", t.lower()).strip().split(" ") if x]
        if len(toks) >= 2:
            docs.append(toks)
    values = []
    for rank in range(1, _BPE_TRAIN_MERGES + 1):
        c: Counter = Counter()
        for toks in docs:
            c.update(zip(toks, toks[1:]))
        if not c:
            break
        (a, b), n = min(c.items(),
                        key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1]))
        values.append((rank, (a + " " + b).replace("'", "''"), n))
        m = a + _BPE_SEP + b
        nxt = []
        for toks in docs:
            out: list = []
            for t in toks:
                if out and out[-1] == a and t == b:
                    out[-1] = m
                else:
                    out.append(t)
            nxt.append(out)
        docs = nxt
    if not values:
        return ("SELECT CAST(0 AS BIGINT) AS merge_rank, '' AS pair, "
                "CAST(0 AS BIGINT) AS n_pairs WHERE 1 = 0")
    body = ",\n".join(f"(CAST({r} AS BIGINT), '{p}', CAST({n} AS BIGINT))"
                      for r, p, n in values)
    return (f"SELECT * FROM (VALUES\n{body}\n) "
            "AS t(merge_rank, pair, n_pairs)")


@register("bpe_train_merges", _bpe_train_oracle)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 5 BPE merges learned from the corpus (pair, frequency at
    merge time). Iterative driver loop — one pair-count shuffle per
    round over the persisted token relation; the merge itself is a
    per-row JVM fold, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.select(text.token_array(F.col("text")).alias("t"))
            .filter(F.size("t") >= 2))
    rows = _bpe_train(toks)
    return local_relation(
        spark, rows, "merge_rank long, pair string, n_pairs long")


# ---------------------------------------------------------------------------
# Zone-map skip audit — quantifies what data LAYOUT buys the scan
# pruning a parquet reader does with per-block min/max: for the
# predicate n_chars > 450 over 100-doc blocks, how many blocks are
# skippable (block max <= 450) under (a) the natural doc_id layout,
# (b) a hash-scattered layout, (c) a length-sorted layout. The sorted
# case needs NO global sort: in sorted order the skippable blocks are
# exactly the full blocks inside the <=T prefix, i.e. count(<=T) div
# block — order statistics give the answer from one count.
# ---------------------------------------------------------------------------

_ZM_BLOCK = 100
_ZM_T = 450
_ZM_HASH_SQL = md5_long_sql("'zm:' || CAST(doc_id AS VARCHAR)")


@register("zone_map_skip_audit", f"""
WITH n AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN n_chars <= {_ZM_T} THEN 1 ELSE 0 END)
                AS BIGINT) AS k
    FROM documents
),
nat AS (
    SELECT doc_id // {_ZM_BLOCK} AS block, max(n_chars) AS mx
    FROM documents GROUP BY 1
),
nat_s AS (
    SELECT CAST(count(*) AS BIGINT) AS blocks,
           CAST(SUM(CASE WHEN mx <= {_ZM_T} THEN 1 ELSE 0 END) AS BIGINT)
             AS skippable
    FROM nat
),
hsh AS (
    SELECT ({_ZM_HASH_SQL}) % ((SELECT (n + {_ZM_BLOCK} - 1)
                                 // {_ZM_BLOCK} FROM n)) AS block,
           max(n_chars) AS mx
    FROM documents GROUP BY 1
),
hsh_s AS (
    SELECT CAST(count(*) AS BIGINT) AS blocks,
           CAST(SUM(CASE WHEN mx <= {_ZM_T} THEN 1 ELSE 0 END) AS BIGINT)
             AS skippable
    FROM hsh
),
srt AS (
    SELECT CAST((n + {_ZM_BLOCK} - 1) // {_ZM_BLOCK} AS BIGINT) AS blocks,
           CAST(CASE WHEN k = n THEN (n + {_ZM_BLOCK} - 1) // {_ZM_BLOCK}
                     ELSE k // {_ZM_BLOCK} END AS BIGINT) AS skippable
    FROM n
)
SELECT layout, blocks, skippable,
       {round_sql("skippable / CAST(blocks AS DOUBLE)")} AS skip_share
FROM (
    SELECT 'natural' AS layout, * FROM nat_s
    UNION ALL SELECT 'hashed', * FROM hsh_s
    UNION ALL SELECT 'sorted', * FROM srt
)
""")
def zone_map_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skippable-block share for n_chars > 450 under natural / hashed
    / length-sorted 100-doc layouts. Two bounded groupBys + one count
    — the sorted case is pure order-statistics arithmetic, no global
    sort anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    n_agg = docs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("n_chars") <= _ZM_T, 1).otherwise(0))
         .cast("long").alias("k"))
    nat = (docs.groupBy((F.col("doc_id") / _ZM_BLOCK).cast("long")
                        .alias("block"))
           .agg(F.max("n_chars").alias("mx"))
           .agg(F.count("*").cast("long").alias("blocks"),
                F.sum(F.when(F.col("mx") <= _ZM_T, 1).otherwise(0))
                 .cast("long").alias("skippable")))
    nblocks = F.expr(f"(n + {_ZM_BLOCK} - 1) div {_ZM_BLOCK}")
    hsh = (docs.crossJoin(F.broadcast(n_agg))
           .select((md5_long(F.concat(F.lit("zm:"),
                                      F.col("doc_id").cast("string")))
                    % nblocks).alias("block"), "n_chars")
           .groupBy("block").agg(F.max("n_chars").alias("mx"))
           .agg(F.count("*").cast("long").alias("blocks"),
                F.sum(F.when(F.col("mx") <= _ZM_T, 1).otherwise(0))
                 .cast("long").alias("skippable")))
    srt = n_agg.select(
        nblocks.cast("long").alias("blocks"),
        F.when(F.col("k") == F.col("n"), nblocks)
         .otherwise(F.expr(f"k div {_ZM_BLOCK}")).cast("long")
         .alias("skippable"))
    u = (nat.select(F.lit("natural").alias("layout"), "blocks", "skippable")
         .unionByName(hsh.select(F.lit("hashed").alias("layout"),
                                 "blocks", "skippable"))
         .unionByName(srt.select(F.lit("sorted").alias("layout"),
                                 "blocks", "skippable")))
    return u.select(
        "layout", "blocks", "skippable",
        F.round(F.col("skippable") / F.col("blocks").cast("double"), 6)
         .alias("skip_share"))


# ---------------------------------------------------------------------------
# OOV rate by source — tokenizer-coverage planning: the share of each
# source's token stream that falls outside the global top-1000
# vocabulary (count DESC, token ASC — total order). The vocabulary is
# a TakeOrdered top-k broadcast back onto the (source, token) count
# relation — the corpus is never re-scanned for the join.
# ---------------------------------------------------------------------------

_OOV_VOCAB_K = 1000


@register("vocab_oov_by_source", f"""
WITH toks AS (
    SELECT source, unnest(list_filter(string_split({_NORM7}, ' '),
                                      x -> x <> '')) AS tok
    FROM documents
),
tc AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
g AS (SELECT tok, SUM(c) AS gc FROM tc GROUP BY tok),
vocab AS (SELECT tok FROM g ORDER BY gc DESC, tok LIMIT {_OOV_VOCAB_K}),
per AS (
    SELECT source, SUM(c) AS total,
           SUM(CASE WHEN tok IN (SELECT tok FROM vocab)
               THEN c ELSE 0 END) AS iv
    FROM tc GROUP BY source
)
SELECT source, CAST(total AS BIGINT) AS total_tokens,
       CAST(total - iv AS BIGINT) AS oov_tokens,
       {round_sql("(total - iv) / CAST(total AS DOUBLE)")} AS oov_share
FROM per
""")
def vocab_oov_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary token share per source against the global
    top-1000 vocabulary. One explode + two grouped counts; the vocab
    is a broadcast top-k (partial TakeOrdered), so the join adds no
    corpus-side shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (docs.select("source",
                      F.explode(text.token_array(F.col("text")))
                       .alias("tok"))
          .groupBy("source", "tok").agg(F.count("*").alias("c")))
    vocab = (tc.groupBy("tok").agg(F.sum("c").alias("gc"))
             .orderBy(F.desc("gc"), F.asc("tok")).limit(_OOV_VOCAB_K)
             .select("tok"))
    iv = (tc.join(F.broadcast(vocab), "tok")
          .groupBy("source").agg(F.sum("c").alias("iv")))
    per = (tc.groupBy("source").agg(F.sum("c").alias("total"))
           .join(iv, "source", "left")
           .na.fill({"iv": 0}))
    return per.select(
        "source", F.col("total").cast("long").alias("total_tokens"),
        (F.col("total") - F.col("iv")).cast("long").alias("oov_tokens"),
        F.round((F.col("total") - F.col("iv"))
                / F.col("total").cast("double"), 6).alias("oov_share"))


# ---------------------------------------------------------------------------
# Watermark lateness plan — streaming-deployment planning from the
# batch log: with event_id as the arrival order (the repo's monotone-
# ingestion contract for the stateful streaming twins), an event's
# lateness is running_max(event time) - its own event time; a
# watermark of W seconds would drop events with lateness > W. Reports
# drop counts/shares at four candidate watermarks. The global running
# max is two-phase (cummax over event_id buckets — event_id is unique
# and monotone in the order, so quantile bucketing is exact).
# ---------------------------------------------------------------------------

_WM_THRESHOLDS = (60, 300, 900, 3600)   # seconds


@register("watermark_lateness_plan", f"""
WITH e AS (
    SELECT event_id, epoch_us(ts) AS tus FROM events
),
rm AS (
    SELECT event_id, tus,
           max(tus) OVER (ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING) AS run_max
    FROM e
),
late AS (SELECT run_max - tus AS lateness_us FROM rm),
grid AS (SELECT unnest([{', '.join(map(str, _WM_THRESHOLDS))}])
                AS thr_seconds),
n AS (SELECT count(*) AS total FROM late)
SELECT CAST(thr_seconds AS BIGINT) AS thr_seconds,
       CAST(SUM(CASE WHEN lateness_us
                     > CAST(thr_seconds AS BIGINT) * 1000000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       {round_sql("SUM(CASE WHEN lateness_us"
                  " > CAST(thr_seconds AS BIGINT) * 1000000"
                  " THEN 1 ELSE 0 END) / CAST(max(total) AS DOUBLE)")}
         AS drop_share
FROM late CROSS JOIN grid CROSS JOIN n
GROUP BY thr_seconds
""")
def watermark_lateness_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events a W-second watermark would drop, for four candidate W.
    One two-phase cummax pass + a broadcast 4-row grid; output is 4
    rows."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    events = load_table(spark, sf_dir, "events")
    e = events.select("event_id",
                      F.unix_micros(F.col("ts")).alias("tus"))
    rm = two_phase_ordered(
        e, [F.col("event_id").asc()], F.col("event_id"),
        cummax_cols={"tus": "run_max"})
    late = rm.select((F.col("run_max") - F.col("tus"))
                     .alias("lateness_us"))
    grid = local_relation(spark, [(t,) for t in _WM_THRESHOLDS],
                          "thr_seconds long")
    n = late.agg(F.count("*").alias("total"))
    dropped = F.sum(
        F.when(F.col("lateness_us")
               > F.col("thr_seconds") * 1_000_000, 1).otherwise(0))
    return (late.crossJoin(F.broadcast(grid))
            .crossJoin(F.broadcast(n))
            .groupBy("thr_seconds")
            .agg(dropped.cast("long").alias("n_dropped"),
                 F.round(dropped / F.max("total").cast("double"), 6)
                  .alias("drop_share"))
            .select(F.col("thr_seconds").cast("long"),
                    "n_dropped", "drop_share"))


# ---------------------------------------------------------------------------
# Session gap sensitivity — how the session count responds to the
# inactivity threshold: total sessions at gap G = #users + #(per-user
# ordered inter-event gaps > G). One per-user window pass computes the
# gaps; the four thresholds are conditional aggregates over the same
# relation.
# ---------------------------------------------------------------------------

_GAP_THRESHOLDS = (300, 900, 1800, 3600)   # seconds


@register("session_gap_sensitivity", f"""
WITH gaps AS (
    SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
),
grid AS (SELECT unnest([{', '.join(map(str, _GAP_THRESHOLDS))}])
                AS gap_seconds),
u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events)
SELECT CAST(gap_seconds AS BIGINT) AS gap_seconds,
       CAST(max(n_users)
            + SUM(CASE WHEN gap_us
                       > CAST(gap_seconds AS BIGINT) * 1000000
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM gaps CROSS JOIN grid CROSS JOIN u
GROUP BY gap_seconds
""")
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session counts at four inactivity thresholds from ONE per-user
    gap pass (no re-sessionization per threshold)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tus = F.unix_micros(F.col("ts"))
    gaps = events.select(
        "user_id", (tus - F.lag(tus).over(w)).alias("gap_us"))
    grid = local_relation(spark, [(t,) for t in _GAP_THRESHOLDS],
                          "gap_seconds long")
    u = events.agg(F.countDistinct("user_id").cast("long")
                   .alias("n_users"))
    breaks = F.sum(
        F.when(F.col("gap_us") > F.col("gap_seconds") * 1_000_000, 1)
         .otherwise(0))
    return (gaps.crossJoin(F.broadcast(grid))
            .crossJoin(F.broadcast(u))
            .groupBy("gap_seconds")
            .agg((F.max("n_users") + breaks).cast("long")
                 .alias("n_sessions"))
            .select(F.col("gap_seconds").cast("long"), "n_sessions"))
