"""Round-14 query layer — genuinely-uncovered engine surfaces
(VERDICT r13 #6 named the first two): Spark-side LATERAL correlated
subqueries, the ``try_*`` error-safe function family, the Spark 4
VARIANT semi-structured type, ``DataFrame.transpose``, case-insensitive
collation, the built-in Datasketches HLL aggregates, and
timestampadd/timestampdiff interval arithmetic.

Registry-discipline note (ROADMAP r14 #5): each family was grepped
before drafting — LATERAL previously appeared ONLY in oracle SQL
(asof/gapfill probes), ``try_parse_json`` was the single ``try_*``
touch, and variant/transpose/collate/hll_sketch_agg/timestampadd had
zero call sites. x19_json_extract (get_json_object over props) is the
nearest kin of the variant suite — that one exercises STRING-path JSON
extraction, this one the typed VARIANT binary encoding.

Scale shapes: every query is a bounded projection/aggregation over one
fact table (no new shuffle-heavy joins); the LATERAL query decorrelates
to a per-nation window rank (25-row outer side); transpose runs on a
5-row aggregate by contract (transpose requires a driver-side column
head — documented below).

Reference: the reference crawler (exchage_rate_crawler.py,
google_trends_*.py) has no analogue surface; this layer exists for the
100 TB engine-parity mandate, not reference parity.
"""

from __future__ import annotations

import hashlib
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_pipeline_spark.fixtures import local_relation
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# LATERAL correlated subquery — Spark-side surface parity.
#
# Top-2 customers by account balance per nation, spelled as a SQL
# LATERAL join on BOTH engines (identical text modulo view names).
# Catalyst decorrelates the ORDER BY ... LIMIT 2 inner query into a
# per-nation rank — the outer side is the 25-row nation dim, so the
# plan is one customer shuffle however large the fact side grows.
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT n.n_name AS nation, t.c_name AS cust_name,
       t.c_acctbal AS acctbal,
       CAST(row_number() OVER (PARTITION BY n.n_name
            ORDER BY t.c_acctbal DESC, t.c_name) AS INT) AS rnk
FROM {nation} n, LATERAL (
    SELECT c_name, c_acctbal FROM {customer} c
    WHERE c.c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_name LIMIT 2
) t
ORDER BY nation, rnk
"""
# (comma-LATERAL: the one spelling BOTH parsers accept — DuckDB's
# JOIN LATERAL requires an ON clause that Spark's does not)


@register("lateral_topk_per_key",
          _LATERAL_SQL.format(nation="nation", customer="customer"))
def lateral_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL LATERAL correlated subquery (identical spelling on both
    engines): top-2 customers per nation with a deterministic
    (acctbal DESC, name) tiebreak. acctbal is a passthrough double —
    no arithmetic, bit-equal by the registry float rules."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "r19_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "r19_customer")
    return spark.sql(_LATERAL_SQL.format(nation="r19_nation",
                                         customer="r19_customer"))


# ---------------------------------------------------------------------------
# try_* error-safe function family — NULL-on-failure semantics pinned
# cross-engine on a fixed case matrix (every case was verified to agree
# between Spark's try_* and DuckDB's TRY_CAST / HUGEINT-guard
# spellings before registration; cases where the engines genuinely
# differ — e.g. TRY_CAST('3.9' AS INT), which DuckDB rounds and Spark
# nulls — are deliberately NOT in the matrix).
# ---------------------------------------------------------------------------


@register("try_error_safe_suite", """
SELECT
  TRY_CAST('42' AS INT)                                   AS cast_ok,
  TRY_CAST('12x' AS INT)                                  AS cast_junk,
  TRY_CAST('' AS INT)                                     AS cast_empty,
  CAST(TRY_CAST('2024-02-30' AS DATE) AS VARCHAR)         AS date_invalid,
  CAST(TRY_CAST('2024-02-29' AS DATE) AS VARCHAR)         AS date_leap,
  TRY_CAST('1e3' AS DOUBLE)                               AS cast_sci,
  CAST(10.0 AS DOUBLE) / 4.0                              AS div_ok,
  CASE WHEN 0 = 0 THEN NULL
       ELSE CAST(1 AS DOUBLE) / 0 END                     AS div_zero,
  CASE WHEN CAST(9223372036854775807 AS HUGEINT) + 1
            <= 9223372036854775807
       THEN CAST(CAST(9223372036854775807 AS HUGEINT) + 1 AS BIGINT)
       END                                                AS add_overflow,
  CAST(5 + 7 AS BIGINT)                                   AS add_ok,
  CASE WHEN CAST(-9223372036854775808 AS HUGEINT) - 1
            >= -9223372036854775808
       THEN CAST(CAST(-9223372036854775808 AS HUGEINT) - 1 AS BIGINT)
       END                                                AS sub_overflow,
  CASE WHEN CAST(4611686018427387904 AS HUGEINT) * 4
            <= 9223372036854775807
       THEN CAST(CAST(4611686018427387904 AS HUGEINT) * 4 AS BIGINT)
       END                                                AS mul_overflow,
  CAST(TRY_CAST(replace(replace('$1,234.56', '$', ''), ',', '')
       AS DECIMAL(6,2)) AS DOUBLE)                        AS tonum_ok,
  CAST(TRY_CAST('zz' AS DECIMAL(3,0)) AS DOUBLE)          AS tonum_junk,
  ([10, 20, 30])[5]                                       AS arr_oob,
  ([10, 20, 30])[2]                                       AS arr_hit,
  CAST(NULL AS INT)                                       AS map_miss,
  9                                                       AS map_hit
""")
def try_error_safe_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* error-safe surface: try_cast (junk / empty /
    impossible-date / scientific notation), try_divide by zero,
    try_add / try_subtract / try_multiply at BIGINT overflow,
    try_to_number with a currency format, try_element_at out-of-bounds
    and missing-key. One row, one typed column per case; the oracle
    spells the identical semantics with TRY_CAST and HUGEINT range
    guards. Dates bridge as strings (ISO render is engine-identical);
    decimals bridge as double."""
    _ = load_table(spark, sf_dir, "region")  # path validity contract
    return spark.sql("""
SELECT
  try_cast('42' AS INT)                              AS cast_ok,
  try_cast('12x' AS INT)                             AS cast_junk,
  try_cast('' AS INT)                                AS cast_empty,
  CAST(try_cast('2024-02-30' AS DATE) AS STRING)     AS date_invalid,
  CAST(try_cast('2024-02-29' AS DATE) AS STRING)     AS date_leap,
  try_cast('1e3' AS DOUBLE)                          AS cast_sci,
  try_divide(CAST(10.0 AS DOUBLE), CAST(4.0 AS DOUBLE)) AS div_ok,
  try_divide(CAST(1 AS DOUBLE), CAST(0 AS DOUBLE))   AS div_zero,
  try_add(9223372036854775807L, 1L)                  AS add_overflow,
  try_add(5L, 7L)                                    AS add_ok,
  try_subtract(-9223372036854775808L, 1L)            AS sub_overflow,
  try_multiply(4611686018427387904L, 4L)             AS mul_overflow,
  CAST(try_to_number('$1,234.56', '$9,999.99') AS DOUBLE) AS tonum_ok,
  CAST(try_to_number('zz', '999') AS DOUBLE)         AS tonum_junk,
  try_element_at(array(10, 20, 30), 5)               AS arr_oob,
  try_element_at(array(10, 20, 30), 2)               AS arr_hit,
  try_element_at(map('k', 9), 'z')                   AS map_miss,
  try_element_at(map('k', 9), 'k')                   AS map_hit
""")


# ---------------------------------------------------------------------------
# VARIANT semi-structured type — typed-path extraction over the binary
# variant encoding (x19_json_extract's kin covers STRING-path
# get_json_object; this covers parse_json -> variant_get /
# try_variant_get / schema_of_variant). The JSON document is built
# in-engine from event columns with the same concat on both sides, so
# the extraction inputs are byte-identical.
# ---------------------------------------------------------------------------

_VAR_SCHEMA_LIT = "OBJECT<a: ARRAY<BIGINT>, t: STRING, u: BIGINT>"


@register("variant_get_suite", f"""
WITH j AS (
    SELECT event_id,
           '{{"u":' || CAST(user_id AS VARCHAR)
             || ',"t":"' || event_type
             || '","a":[' || CAST(event_id % 7 AS VARCHAR)
             || ',' || CAST(event_id % 11 AS VARCHAR) || ']}}' AS doc
    FROM events WHERE event_id < 50
)
SELECT event_id,
       CAST(json_extract(doc, '$.u') AS BIGINT)      AS u,
       json_extract_string(doc, '$.t')               AS t,
       CAST(json_extract(doc, '$.a[1]') AS BIGINT)   AS a1,
       CAST(json_extract(doc, '$.missing') AS BIGINT) AS miss,
       '{_VAR_SCHEMA_LIT}'                           AS sch
FROM j ORDER BY event_id
""")
def variant_get_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT: parse_json into the binary variant encoding,
    then typed-path variant_get ($.u bigint, $.t string, $.a[1] array
    element), try_variant_get on a missing path (NULL, no error), and
    schema_of_variant (constant for this fixed construction — the
    oracle pins the literal, which documents the inferred shape:
    {_VAR_SCHEMA_LIT!r})."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 50)
    doc = F.concat(
        F.lit('{"u":'), F.col("user_id").cast("string"),
        F.lit(',"t":"'), F.col("event_type"),
        F.lit('","a":['), (F.col("event_id") % 7).cast("string"),
        F.lit(","), (F.col("event_id") % 11).cast("string"), F.lit("]}"))
    v = F.parse_json(doc)
    return (ev.select(
        "event_id",
        F.variant_get(v, "$.u", "bigint").alias("u"),
        F.variant_get(v, "$.t", "string").alias("t"),
        F.variant_get(v, "$.a[1]", "bigint").alias("a1"),
        F.try_variant_get(v, "$.missing", "bigint").alias("miss"),
        F.schema_of_variant(v).alias("sch"))
        .orderBy("event_id"))


# ---------------------------------------------------------------------------
# DataFrame.transpose — region metrics matrix flipped so metrics become
# rows and regions become columns. transpose() requires the frame
# head on the driver (column names come from data), so the input is a
# 5-row aggregate BY CONTRACT — the reduction happens before the flip,
# exactly how a 100 TB report would use it.
# ---------------------------------------------------------------------------


@register("transpose_region_stats", """
WITH m AS (
    SELECT r.r_name,
           round(avg(c.c_acctbal), 6) + 0.0 AS avg_bal,
           CAST(count(*) AS DOUBLE)         AS n_cust,
           CAST(count(DISTINCT n.n_nationkey) AS DOUBLE) AS n_nations
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
)
SELECT k AS key,
       max(CASE WHEN r_name = 'AFRICA' THEN v END)      AS "AFRICA",
       max(CASE WHEN r_name = 'AMERICA' THEN v END)     AS "AMERICA",
       max(CASE WHEN r_name = 'ASIA' THEN v END)        AS "ASIA",
       max(CASE WHEN r_name = 'EUROPE' THEN v END)      AS "EUROPE",
       max(CASE WHEN r_name = 'MIDDLE EAST' THEN v END) AS "MIDDLE EAST"
FROM (
    SELECT r_name, 'avg_bal' AS k, avg_bal AS v FROM m
    UNION ALL SELECT r_name, 'n_cust', n_cust FROM m
    UNION ALL SELECT r_name, 'n_nations', n_nations FROM m
)
GROUP BY k ORDER BY k
""")
def transpose_region_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose over a 5-region aggregate: region rows
    become columns (names from data — the driver-side head transpose
    requires is why the input is the REDUCED relation), metric columns
    become rows keyed by 'key'. The oracle spells the flip as a
    conditional-aggregation pivot. All metrics are double (transpose
    needs one common value type)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    m = (region
         .join(nation, nation.n_regionkey == region.r_regionkey)
         .join(cust, cust.c_nationkey == nation.n_nationkey)
         .groupBy("r_name")
         .agg((F.round(F.avg("c_acctbal"), 6) + 0.0).alias("avg_bal"),
              F.count("*").cast("double").alias("n_cust"),
              F.countDistinct("n_nationkey").cast("double")
              .alias("n_nations"))
         .orderBy("r_name"))
    return m.transpose().withColumnRenamed("key", "key").orderBy("key")


# ---------------------------------------------------------------------------
# Case-insensitive collation — Spark 4 UTF8_LCASE grouping. Mixed
# casing is injected deterministically (event_id mod 3: UPPER /
# Initial-cap / original), then grouped under the collation; the
# oracle groups by lower(). The initial-cap spelling is built by hand
# (upper(first) || rest) with the identical expression on both sides.
# ---------------------------------------------------------------------------


@register("collation_lcase_groups", """
WITH k AS (
    SELECT CASE WHEN event_id % 3 = 0 THEN upper(event_type)
                WHEN event_id % 3 = 1 THEN
                     upper(substr(event_type, 1, 1))
                       || substr(event_type, 2)
                ELSE event_type END AS k
    FROM events
)
SELECT lower(min(k)) AS lkey,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT k) AS BIGINT) AS n_case_variants
FROM k GROUP BY lower(k) ORDER BY lkey
""")
def collation_lcase_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY under the UTF8_LCASE collation: 'CLICK' / 'Click' /
    'click' land in one group. Output key is lower(min(binary-k)) —
    deterministic, never the collation's arbitrary group
    representative. n_case_variants counts the distinct raw spellings
    the collated group absorbed (binary-distinct inside a collated
    group — the two collations composing is the point)."""
    ev = load_table(spark, sf_dir, "events")
    k = (F.when(F.col("event_id") % 3 == 0, F.upper("event_type"))
         .when(F.col("event_id") % 3 == 1,
               F.concat(F.upper(F.substring("event_type", 1, 1)),
                        F.expr("substr(event_type, 2)")))
         .otherwise(F.col("event_type")))
    return (ev.select(k.alias("k"))
            .groupBy(F.collate(F.col("k"), "UTF8_LCASE").alias("ck"))
            .agg(F.lower(F.min(F.expr("k COLLATE UTF8_BINARY")))
                 .alias("lkey"),
                 F.count("*").cast("long").alias("n"),
                 F.countDistinct(F.expr("k COLLATE UTF8_BINARY"))
                 .cast("long").alias("n_case_variants"))
            .select("lkey", "n", "n_case_variants")
            .orderBy("lkey"))


# ---------------------------------------------------------------------------
# Built-in Datasketches HLL aggregates — the MERGEABLE sketch builtin
# (the engine's own HLL queries implement the register math by hand;
# this exercises hll_sketch_agg / hll_union_agg / hll_sketch_estimate,
# the binary-sketch path a 100 TB rollup would persist). Estimates are
# asserted as booleans against the exact count (±5%, far outside the
# lgK=12 error envelope) — the exact count is the hashed value.
# ---------------------------------------------------------------------------


@register("hll_sketch_builtin_audit", """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS est_within_5pct,
       TRUE AS merge_within_5pct
FROM events GROUP BY event_type ORDER BY event_type
""")
def hll_sketch_builtin_audit(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Datasketches HLL builtins: per event type, the direct sketch
    estimate AND the shard-merged estimate (8 user-shard sketches
    combined with hll_union_agg — the mergeable-summary path) must
    land within ±5% of the exact distinct count. The oracle carries
    the exact count and TRUE literals: DuckDB's approx_count_distinct
    is a different HLL implementation, so the ASSERTION is the
    portable fact, not the estimate."""
    ev = load_table(spark, sf_dir, "events")
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
    shards = (ev.groupBy("event_type",
                         F.pmod(F.col("user_id"), F.lit(8)).alias("sh"))
              .agg(F.hll_sketch_agg("user_id").alias("sk")))
    merged = shards.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_m"))
    ok = lambda c: (F.abs(c - F.col("n_exact"))  # noqa: E731
                    <= 0.05 * F.col("n_exact"))
    return (ex.join(merged, "event_type")
            .select("event_type", "n_exact",
                    ok(F.col("est")).alias("est_within_5pct"),
                    ok(F.col("est_m")).alias("merge_within_5pct"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# timestampadd / timestampdiff interval arithmetic — whole-unit offsets
# only: DuckDB's date_diff counts boundary CROSSINGS while Spark's
# timestampdiff counts elapsed full units, and the two agree exactly
# when the offset is an integral number of the diffed unit (the
# sub-unit fields cancel). Month-grain edges live in date_edge_suite;
# this suite is the sub-day surface it left uncovered.
# ---------------------------------------------------------------------------


@register("interval_arith_suite", """
WITH e AS (
    SELECT event_id, ts,
           CAST(event_id % 90 AS INT) AS mins,
           CAST(event_id % 5 AS INT) AS weeks
    FROM events WHERE event_id < 40
)
SELECT event_id,
       epoch_us(ts + INTERVAL 3 HOUR)                    AS plus_3h_us,
       epoch_us(ts + to_minutes(mins))                   AS plus_kmin_us,
       epoch_us(ts + to_days(7 * weeks))                 AS plus_kweek_us,
       epoch_us(ts + INTERVAL 1 DAY + INTERVAL 2 HOUR
                   + INTERVAL 3 MINUTE + INTERVAL 4 SECOND)
                                                         AS plus_dt_us,
       CAST(date_diff('minute', ts, ts + to_minutes(mins)) AS BIGINT)
                                                         AS diff_min,
       CAST(date_diff('hour', ts, ts + INTERVAL 3 HOUR) AS BIGINT)
                                                         AS diff_hour,
       CAST(date_diff('day', ts, ts + to_days(7 * weeks)) AS BIGINT)
                                                         AS diff_day
FROM e ORDER BY event_id
""")
def interval_arith_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timestampadd (HOUR / MINUTE / WEEK-as-days), make_dt_interval
    composition, and timestampdiff at minute/hour/day grain over
    whole-unit offsets (the crossings-vs-elapsed agreement zone —
    docstring above). Timestamps bridge as epoch-micros BIGINTs (the
    registry rule: exact in both engines)."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 40)
          .select("event_id", "ts",
                  (F.col("event_id") % 90).cast("int").alias("mins"),
                  (F.col("event_id") % 5).cast("int").alias("weeks")))
    return (ev.select(
        "event_id",
        F.unix_micros(F.timestamp_add("HOUR", F.lit(3), F.col("ts")))
        .alias("plus_3h_us"),
        F.unix_micros(F.timestamp_add("MINUTE", F.col("mins"),
                                      F.col("ts")))
        .alias("plus_kmin_us"),
        F.unix_micros(F.timestamp_add("DAY", 7 * F.col("weeks"),
                                      F.col("ts")))
        .alias("plus_kweek_us"),
        F.unix_micros(F.col("ts") + F.make_dt_interval(
            F.lit(1), F.lit(2), F.lit(3), F.lit(4)))
        .alias("plus_dt_us"),
        F.expr("timestampdiff(MINUTE, ts, "
               "timestampadd(MINUTE, mins, ts))").cast("long")
        .alias("diff_min"),
        F.expr("timestampdiff(HOUR, ts, "
               "timestampadd(HOUR, 3, ts))").cast("long")
        .alias("diff_hour"),
        F.expr("timestampdiff(DAY, ts, "
               "timestampadd(DAY, 7 * weeks, ts))").cast("long")
        .alias("diff_day"))
        .orderBy("event_id"))


# ---------------------------------------------------------------------------
# Batch 2 (same registry-discipline greps before drafting): binary
# codec + hash scalars, URL parsing/encoding, XML extraction
# (from_xml + xpath), str_to_map + the null-surface scalars, timezone
# conversion across DST edges, and the bitmap exact-distinct
# aggregates. Each family had ZERO prior call sites (hex/base64/md5/
# sha/crc32/parse_url/url_encode/from_xml/xpath/str_to_map/
# convert_timezone/bitmap_*); nearest kin checked: x_date_suite and
# interval_arith_suite cover date ARITHMETIC (not zone conversion),
# x19_json_extract/variant_get_suite cover JSON (not XML),
# hll_sketch_builtin_audit covers APPROXIMATE distinct (bitmap is the
# exact-bitset path a 100 TB rollup would persist per partition).
# ---------------------------------------------------------------------------

# Independent-implementation literals (the _BENFORD2_P discipline):
# the oracle pins hashlib/zlib's answer for a fixed input, the Spark
# side runs the engine's sha1()/crc32() — two unrelated
# implementations agreeing IS the test.
_SHA1_LIT = hashlib.sha1(b"travel-data").hexdigest()
_CRC32_LIT = zlib.crc32(b"travel-data")


@register("codec_hash_suite", f"""
WITH d AS (
    SELECT doc_id, substr(text, 1, 16) AS s
    FROM documents WHERE doc_id < 25
)
SELECT doc_id,
       base64(CAST(s AS BLOB))                              AS b64,
       decode(from_base64(base64(CAST(s AS BLOB))))         AS rt_b64,
       lower(hex(CAST(s AS BLOB)))                          AS hx,
       decode(unhex(lower(hex(CAST(s AS BLOB)))))           AS rt_hex,
       md5(s)                                               AS md5_s,
       sha256(s)                                            AS sha256_s,
       CAST(bit_length(s) AS BIGINT)                        AS bl,
       CAST(octet_length(CAST(s AS BLOB)) AS BIGINT)        AS ol,
       '{_SHA1_LIT}'                                        AS sha1_lit,
       CAST({_CRC32_LIT} AS BIGINT)                         AS crc32_lit
FROM d ORDER BY doc_id
""")
def codec_hash_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec + hash scalar surface: base64/unbase64 and
    hex/unhex round trips (binary bridges as its decoded text — the
    corpus is ASCII by construction), md5 and sha2-256 digests of
    data-derived strings (DuckDB computes its own), and sha1/crc32
    against Python hashlib/zlib literals (DuckDB 1.0 lacks both
    functions, so the oracle pins the INDEPENDENT implementation's
    answer). bit_length/octet_length pin the byte-vs-bit accounting.
    Pure per-row codegen scalars — no shuffle, scan-bound at any SF."""
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("doc_id") < 25)
         .select("doc_id", F.substring("text", 1, 16).alias("s")))
    return (d.select(
        "doc_id",
        F.base64(F.col("s").cast("binary")).alias("b64"),
        F.unbase64(F.base64(F.col("s").cast("binary")))
        .cast("string").alias("rt_b64"),
        F.lower(F.hex(F.col("s"))).alias("hx"),
        F.unhex(F.lower(F.hex(F.col("s")))).cast("string")
        .alias("rt_hex"),
        F.md5("s").alias("md5_s"),
        F.sha2(F.col("s"), 256).alias("sha256_s"),
        F.bit_length("s").cast("long").alias("bl"),
        F.octet_length("s").cast("long").alias("ol"),
        F.sha1(F.lit("travel-data")).alias("sha1_lit"),
        F.crc32(F.lit("travel-data").cast("binary")).cast("long")
        .alias("crc32_lit"))
        .orderBy("doc_id"))


@register("url_parse_codec_suite", """
WITH u AS (
    SELECT event_id,
           'https://api.example.com:8443/v1/' || event_type || '/'
             || CAST(user_id AS VARCHAR)
             || '?uid=' || CAST(user_id AS VARCHAR)
             || '&etype=' || event_type
             || '#s' || CAST(event_id % 3 AS VARCHAR) AS url,
           'q=' || event_type || ' ' || CAST(user_id AS VARCHAR) AS raw
    FROM events WHERE event_id < 60
)
SELECT event_id,
       regexp_extract(url, '^([a-z]+)://', 1)            AS proto,
       regexp_extract(url, '://([^/:?#]+)', 1)           AS host,
       regexp_extract(url, '://[^/?#]+(/[^?#]*)', 1)     AS path,
       regexp_extract(url, '\\?([^#]*)', 1)              AS qy,
       regexp_extract(url, '#(.*)$', 1)                  AS frag,
       regexp_extract(url, '[?&]uid=([^&#]*)', 1)        AS uid_parm,
       replace(replace(raw, '=', '%3D'), ' ', '+')       AS enc,
       raw                                               AS dec_rt
FROM u ORDER BY event_id
""")
def url_parse_codec_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url component extraction (PROTOCOL/HOST/PATH/QUERY/REF +
    named query parameter — HOST excludes the port) over URLs built
    in-engine from event columns, plus url_encode (form-encoding:
    space->'+', '='->'%3D'; the input alphabet is constrained to
    [a-z0-9 =_] so the oracle's replace-chain is total) and the
    url_decode(url_encode(x)) == x round trip. DuckDB 1.0 has no URL
    functions — the oracle spells the same components as anchored
    regexp_extract over the identically-constructed string. Per-row
    scalars, scan-bound."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 60)
          .select("event_id", "event_type", "user_id"))
    url = F.concat(
        F.lit("https://api.example.com:8443/v1/"), F.col("event_type"),
        F.lit("/"), F.col("user_id").cast("string"),
        F.lit("?uid="), F.col("user_id").cast("string"),
        F.lit("&etype="), F.col("event_type"),
        F.lit("#s"), (F.col("event_id") % 3).cast("string"))
    raw = F.concat(F.lit("q="), F.col("event_type"), F.lit(" "),
                   F.col("user_id").cast("string"))
    return (ev.select(
        "event_id",
        F.parse_url(url, F.lit("PROTOCOL")).alias("proto"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("qy"),
        F.parse_url(url, F.lit("REF")).alias("frag"),
        F.parse_url(url, F.lit("QUERY"), F.lit("uid")).alias("uid_parm"),
        F.url_encode(raw).alias("enc"),
        F.url_decode(F.url_encode(raw)).alias("dec_rt"))
        .orderBy("event_id"))


@register("xml_extract_suite", """
WITH x AS (
    SELECT o_orderkey AS k, o_orderstatus AS st, o_orderpriority AS pr,
           CAST(o_orderkey % 5 AS VARCHAR) AS q0,
           CAST(o_orderkey % 7 AS VARCHAR) AS q1
    FROM orders WHERE o_orderkey < 40
)
SELECT k AS o_orderkey,
       st AS xf_flag, k AS xf_id, pr AS xf_pr,
       k AS xp_id, st AS xp_flag, pr AS xp_pr,
       q0 || ',' || q1 AS qs
FROM x ORDER BY o_orderkey
""")
def xml_extract_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML surface: an order document built in-engine
    ('<ord flag=...><id>..</id><pr>..</pr><it><q>..</q></it>...'),
    then (a) from_xml with a typed schema — attribute field `_flag`,
    scalar fields, ARRAY<STRUCT> for the repeated <it> element — and
    (b) the xpath_* scalar family (xpath_int, attribute xpath
    '/ord/@flag', and the node-list xpath() joined to a CSV). DuckDB
    has no XML type — the oracle recomputes every extracted value
    from the SAME source columns the document was built from, so a
    wrong extraction cannot hash-match. Per-row scalars,
    scan-bound."""
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderkey") < 40))
    doc = F.concat(
        F.lit('<ord flag="'), F.col("o_orderstatus"),
        F.lit('"><id>'), F.col("o_orderkey").cast("string"),
        F.lit("</id><pr>"), F.col("o_orderpriority"),
        F.lit("</pr><it><q>"), (F.col("o_orderkey") % 5).cast("string"),
        F.lit("</q></it><it><q>"), (F.col("o_orderkey") % 7).cast("string"),
        F.lit("</q></it></ord>"))
    xf = F.from_xml(doc, "_flag STRING, id BIGINT, pr STRING, "
                         "it ARRAY<STRUCT<q: BIGINT>>")
    return (o.select(
        "o_orderkey",
        xf.getField("_flag").alias("xf_flag"),
        xf.getField("id").alias("xf_id"),
        xf.getField("pr").alias("xf_pr"),
        F.xpath_int(doc, F.lit("/ord/id")).cast("long").alias("xp_id"),
        F.xpath_string(doc, F.lit("/ord/@flag")).alias("xp_flag"),
        F.xpath_string(doc, F.lit("/ord/pr")).alias("xp_pr"),
        F.array_join(F.xpath(doc, F.lit("/ord/it/q/text()")), ",")
        .alias("qs"))
        .orderBy("o_orderkey"))


@register("str_to_map_null_suite", """
WITH e AS (
    SELECT event_id, event_type, value,
           CAST(event_id % 7 AS VARCHAR) AS va,
           CAST(event_id % 5 AS INT) AS vb
    FROM events WHERE event_id < 80
)
SELECT event_id,
       va                                                  AS ma,
       vb                                                  AS mb,
       event_type                                          AS mc,
       CAST(NULL AS VARCHAR)                               AS miss,
       CAST(3 AS INT)                                      AS n_keys,
       'a|b|c'                                             AS ks,
       nullif(event_type, 'click')                         AS nullif_ct,
       CASE WHEN nullif(event_type, 'click') IS NOT NULL
            THEN 'other' ELSE 'click' END                  AS nvl2_ct,
       (nullif(event_type, 'click')
          IS NOT DISTINCT FROM CAST(NULL AS VARCHAR))      AS eqn,
       CASE WHEN event_id % 2 = 0 THEN -1.0 ELSE value END AS nanvl_v
FROM e ORDER BY event_id
""")
def str_to_map_null_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str_to_map over an in-engine 'a:<x>,b:<y>,c:<type>' string —
    typed element_at extraction, try_element_at on a missing key
    (NULL under ANSI, no error), key-order determinism
    (map_keys preserves first-appearance order), size() — plus the
    null-surface scalars: nullif, nvl2, equal_null (null-safe
    equality as a value), and nanvl over a deterministically injected
    NaN (even event_ids; the odd rows pass `value` through
    untouched — bit-equal by the passthrough rule). The oracle
    recomputes the map values from the same mods and spells
    equal_null as IS NOT DISTINCT FROM. Per-row scalars."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 80)
          .select("event_id", "event_type", "value"))
    kv = F.concat(F.lit("a:"), (F.col("event_id") % 7).cast("string"),
                  F.lit(",b:"), (F.col("event_id") % 5).cast("string"),
                  F.lit(",c:"), F.col("event_type"))
    m = F.str_to_map(kv, F.lit(","), F.lit(":"))
    nan_or_val = (F.when(F.col("event_id") % 2 == 0,
                         F.lit("NaN").cast("double"))
                  .otherwise(F.col("value")))
    return (ev.select(
        "event_id",
        F.element_at(m, "a").alias("ma"),
        F.element_at(m, "b").cast("int").alias("mb"),
        F.element_at(m, "c").alias("mc"),
        F.try_element_at(m, F.lit("zz")).alias("miss"),
        F.size(F.map_keys(m)).alias("n_keys"),
        F.array_join(F.map_keys(m), "|").alias("ks"),
        F.nullif(F.col("event_type"), F.lit("click")).alias("nullif_ct"),
        F.nvl2(F.nullif(F.col("event_type"), F.lit("click")),
               F.lit("other"), F.lit("click")).alias("nvl2_ct"),
        F.equal_null(F.nullif(F.col("event_type"), F.lit("click")),
                     F.lit(None).cast("string")).alias("eqn"),
        F.nanvl(nan_or_val, F.lit(-1.0)).alias("nanvl_v"))
        .orderBy("event_id"))


@register("tz_convert_suite", """
WITH t AS (
    SELECT event_id,
           timestamp '2024-03-10 04:30:00'
             + to_hours(event_id) AS spr,
           timestamp '2024-11-03 03:30:00'
             + to_hours(event_id) AS fal
    FROM events WHERE event_id < 8
)
SELECT event_id,
       strftime(timezone('America/New_York', timezone('UTC', spr)),
                '%Y-%m-%d %H:%M:%S')                    AS ny_spring,
       strftime(timezone('America/New_York', timezone('UTC', fal)),
                '%Y-%m-%d %H:%M:%S')                    AS ny_fall,
       strftime(timezone('Asia/Tokyo', timezone('UTC', spr)),
                '%Y-%m-%d %H:%M:%S')                    AS tokyo,
       strftime(spr, '%Y-%m-%d %H:%M:%S')               AS back_utc,
       CAST(date_diff('minute', spr,
            timezone('America/New_York', timezone('UTC', spr)))
            AS BIGINT)                                  AS off_min_spring,
       CAST(date_diff('minute', fal,
            timezone('America/New_York', timezone('UTC', fal)))
            AS BIGINT)                                  AS off_min_fall
FROM t ORDER BY event_id
""")
def tz_convert_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """convert_timezone across BOTH 2024 US DST edges: eight hourly
    UTC instants spanning the spring-forward (2024-03-10 07:00 UTC —
    the 02:30 NY wall time never exists) and fall-back (2024-11-03
    06:00 UTC — 01:30 exists twice) transitions, a no-DST zone
    (Asia/Tokyo), the Tokyo round trip back to UTC (Tokyo has no
    ambiguous wall times, so the round trip is total), and the
    wall-clock offset in minutes (timestampdiff vs date_diff agree
    here: whole-hour offsets at :30 — the crossings-vs-elapsed
    agreement zone, see interval_arith_suite). Everything is spelled
    session-timezone-independent on both engines: Spark works in
    TIMESTAMP_NTZ with explicit source/target zones; DuckDB composes
    timezone('UTC', ts) [naive->instant] with timezone(tz, tstz)
    [instant->naive]."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 8).select("event_id"))
    spr = F.expr("timestampadd(HOUR, event_id, "
                 "timestamp_ntz'2024-03-10 04:30:00')")
    fal = F.expr("timestampadd(HOUR, event_id, "
                 "timestamp_ntz'2024-11-03 03:30:00')")
    ny = "America/New_York"
    def conv(src, tz):
        return F.convert_timezone(F.lit("UTC"), F.lit(tz), src)
    return (ev.select(
        "event_id",
        conv(spr, ny).cast("string").alias("ny_spring"),
        conv(fal, ny).cast("string").alias("ny_fall"),
        conv(spr, "Asia/Tokyo").cast("string").alias("tokyo"),
        F.convert_timezone(F.lit("Asia/Tokyo"), F.lit("UTC"),
                           conv(spr, "Asia/Tokyo"))
        .cast("string").alias("back_utc"),
        F.expr("timestampdiff(MINUTE, "
               "timestampadd(HOUR, event_id, "
               "timestamp_ntz'2024-03-10 04:30:00'), "
               "convert_timezone('UTC', 'America/New_York', "
               "timestampadd(HOUR, event_id, "
               "timestamp_ntz'2024-03-10 04:30:00')))").cast("long")
        .alias("off_min_spring"),
        F.expr("timestampdiff(MINUTE, "
               "timestampadd(HOUR, event_id, "
               "timestamp_ntz'2024-11-03 03:30:00'), "
               "convert_timezone('UTC', 'America/New_York', "
               "timestampadd(HOUR, event_id, "
               "timestamp_ntz'2024-11-03 03:30:00')))").cast("long")
        .alias("off_min_fall"))
        .orderBy("event_id"))


def bitmap_distinct_from_keys(df: DataFrame, group_col: str,
                              pos_col: str,
                              n_shards: int = 4) -> DataFrame:
    """The bitmap exact-distinct pipeline over (group, position>=1)
    rows — the registered seam ``bitmap_exact_distinct`` wraps and
    ``tools/stress_bitmap.py`` drives at 200M rows. Three paths per
    group: exact countDistinct, the direct bucketed bitmap sum, and
    the shard-then-OR-merge path (the mergeable-summary shape a
    100 TB rollup persists per partition and unions at read). Scale
    shape: the shuffle key is (group, bucket) — 32768 positions per
    bucket bound each bitmap at 4 KiB of agg state, and map-side
    partial aggregation combines before every exchange."""
    ev = df.select(
        F.col(group_col).alias("g"), F.col(pos_col).alias("pos"),
        F.pmod(F.col(pos_col), F.lit(n_shards)).alias("shard"))
    buckets = (ev.groupBy("g",
                          F.expr("bitmap_bucket_number(pos)").alias("bkt"))
               .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(pos))")
                    .alias("bm")))
    direct = (buckets.groupBy("g")
              .agg(F.sum(F.expr("bitmap_count(bm)")).cast("long")
                   .alias("n_bitmap")))
    shard_buckets = (ev.groupBy("g",
                                F.expr("bitmap_bucket_number(pos)")
                                .alias("bkt"), "shard")
                     .agg(F.expr(
                         "bitmap_construct_agg(bitmap_bit_position(pos))")
                         .alias("bm")))
    merged = (shard_buckets.groupBy("g", "bkt")
              .agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("c"))
              .groupBy("g")
              .agg(F.sum("c").cast("long").alias("n_merged")))
    exact = (ev.groupBy("g")
             .agg(F.countDistinct("pos").cast("long").alias("n_exact")))
    return (exact.join(direct, "g").join(merged, "g")
            .select(F.col("g").alias(group_col),
                    "n_exact", "n_bitmap", "n_merged"))


@register("bitmap_exact_distinct", """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_bitmap,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_merged
FROM events GROUP BY event_type ORDER BY event_type
""")
def bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitmap EXACT-distinct aggregate family (the exact
    counterpart of hll_sketch_builtin_audit's approximate path):
    per event type, (a) bitmap_construct_agg over
    bitmap_bit_position(user_id+1) grouped by
    bitmap_bucket_number(user_id+1) — the +1 keeps id 0 inside the
    32768-slot bucket 1 (position is (v-1) mod 32768) — summed with
    bitmap_count per bucket, and (b) the same bitmaps built on
    position-shards then OR-merged with bitmap_or_agg before
    counting. Both must EQUAL the exact count(DISTINCT) — bitmaps
    are exact bitsets, so the oracle pins all three columns to the
    same count. Pipeline + scale notes: bitmap_distinct_from_keys
    (the seam stress_bitmap certifies at 200M rows / 50M ids)."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_type", (F.col("user_id") + 1).alias("pos")))
    return (bitmap_distinct_from_keys(ev, "event_type", "pos")
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# DataFrame.observe / Observation — the zero-extra-pass metrics channel
# (a 100 TB pipeline attaches these to production writes to get row
# counts / sums / bounds for free off the same action). No prior call
# site in the package (grepped). The observation needs an ACTION to
# materialize, so this query does bounded eager work at construction —
# the adamic_adar_from_edges precedent, documented here and accounted
# under bench build_sec.
# ---------------------------------------------------------------------------


@register("observe_metrics_audit", """
SELECT CAST(count(*) AS BIGINT)                          AS n_rows,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            AS DECIMAL(18,2)) AS DOUBLE)                 AS sum_price,
       min(o_totalprice)                                 AS min_price,
       max(o_totalprice)                                 AS max_price,
       CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END)
            AS BIGINT)                                   AS n_open
FROM orders
""")
def observe_metrics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.observe(Observation, ...) metrics collected off ONE
    pass over orders (count, DECIMAL(18,2) order-free sum bridged to
    double, min/max, a conditional count) — the action is a count()
    at construction; obs.get then carries the metrics back to the
    driver and the query returns them as a 1-row frame. The sum goes
    through DECIMAL so the observed value is order-independent (the
    registry money rule); min/max/counts are order-free by nature.
    The oracle computes the same aggregates relationally — a wrong
    observed metric cannot hash-match."""
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("orders_audit")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").alias("sum_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"))
    observed.count()  # the action that materializes the metrics
    m = obs.get
    return local_relation(
        spark,
        [(int(m["n_rows"]), float(m["sum_price"]),
          float(m["min_price"]), float(m["max_price"]),
          int(m["n_open"]))],
        "n_rows BIGINT, sum_price DOUBLE, min_price DOUBLE, "
        "max_price DOUBLE, n_open BIGINT")


# ---------------------------------------------------------------------------
# DataFrame.sampleBy — seeded per-stratum Bernoulli sampling. The
# sampled SET depends on partition layout (rand(seed) is a function of
# partition index), so the portable facts are the exact stratum sizes
# and the sampled fraction landing inside a 6-sigma binomial band —
# the hll_sketch_builtin_audit assertion idiom.
# ---------------------------------------------------------------------------

_SAMPLE_FRACS = {"click": 0.5, "view": 0.25, "purchase": 0.75,
                 "signup": 0.1, "error": 0.9}


@register("stratified_sample_audit", f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_stratum,
       CASE event_type
         {' '.join(f"WHEN '{k}' THEN CAST({v} AS DOUBLE)"
                   for k, v in sorted(_SAMPLE_FRACS.items()))}
       END AS target_frac,
       TRUE AS frac_within_6sigma
FROM events GROUP BY event_type ORDER BY event_type
""")
def stratified_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.sampleBy('event_type', fractions, seed=41): per-stratum
    counts of the seeded Bernoulli sample must land within 6 binomial
    standard deviations of target_frac * n_stratum (flake odds ~1e-9
    per stratum). n_stratum and target_frac are exact/hashed; the
    band membership is the portable boolean — the sampled row SET
    itself is partition-layout-dependent by design, so asserting it
    would pin an implementation detail, not a semantic. Scale shape:
    sampleBy is a per-row filter (no shuffle); the audit adds one
    groupBy over the 5 strata."""
    ev = load_table(spark, sf_dir, "events").select("event_type")
    sampled = (ev.sampleBy("event_type", _SAMPLE_FRACS, seed=41)
               .groupBy("event_type")
               .agg(F.count("*").alias("n_sampled")))
    frac = F.create_map(
        *[x for k, v in sorted(_SAMPLE_FRACS.items())
          for x in (F.lit(k), F.lit(v))])[F.col("event_type")]
    return (ev.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_stratum"))
            .join(sampled, "event_type")
            .select("event_type", "n_stratum",
                    frac.cast("double").alias("target_frac"),
                    (F.abs(F.col("n_sampled")
                           - frac * F.col("n_stratum"))
                     <= 6.0 * F.sqrt(frac * (1.0 - frac)
                                     * F.col("n_stratum")))
                    .alias("frac_within_6sigma"))
            .orderBy("event_type"))
