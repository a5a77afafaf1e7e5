"""Google-Trends pipeline recomposed Spark-first — SURVEY.md §3.2.

The reference's queue-fanned crawl + per-keyword loop
(google_trends_crawler.py:32-130; google_trends_processor.py:93-245)
becomes one plan over the long-format interest table:

    long scan -> A1 recent/prior row-window means + A2 last value
    -> J7 per-group anchor stats -> W3 growth (epsilon semantics)
    -> X9 log-compress -> X11 scale -> X12 blend -> J3 standardize join

Edge semantics pinned against the reference:
- windows are the last-15 / previous-15 OBSERVATIONS per keyword
  (iloc[-15:] / iloc[-30:-15], google_trends_crawler.py:71-72), not
  time ranges — reproduced with a row_number over ts DESC
- keyword epsilon path: prior==0, recent>0 -> recent/1e-6 (:91-92);
  anchor variant snaps to 1.0 (:108-111); both else 0.0
- NaN last value -> 0.0 (:95-96, :112-114)
- anchor keyword itself is excluded from output (:78-79)
- X9: log10(1+g) for g>0, identity for g<0, 0 at 0
  (google_trends_processor.py:187-194)
- X11: positive scaled growth -> (scaled/10)*100 capped at 100;
  zero/negative -> 0.0 (:200-217)
- X12: 0.7*norm_growth + 0.3*interest, clamped [0,100] (:219-223)
- J3: strip ' 여행', look up alias map, miss -> Unknown_Korean /
  Unknown_English / N/A / N/A (:141-160)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_pipeline_spark import fixtures as FX


def keyword_stats_from(t: DataFrame) -> DataFrame:
    """Per (group, keyword): recent/prior means over row windows + last
    value — over any long-format interest relation (fixture or landed)."""
    w = Window.partitionBy("group_id", "keyword").orderBy(F.col("ts").desc())
    ranked = t.withColumn("rn", F.row_number().over(w))
    i, rn = F.col("interest"), F.col("rn")
    return ranked.groupBy("group_id", "keyword").agg(
        (F.sum(F.when(rn <= 15, i)).cast("double")
         / F.count(F.when(rn <= 15, i))).alias("recent_mean"),
        (F.sum(F.when((rn > 15) & (rn <= 30), i)).cast("double")
         / F.count(F.when((rn > 15) & (rn <= 30), i))).alias("prior_mean"),
        F.max(F.when(rn == 1, i)).alias("last_interest"))


def keyword_stats(spark: SparkSession) -> DataFrame:
    return keyword_stats_from(
        FX.local_relation(spark, FX.TRENDS_ROWS, FX.TRENDS_SCHEMA))


def _growth(recent, prior, anchor: bool):
    base = F.when(prior > 0, (recent - prior) / prior)
    if anchor:
        return base.when(recent > 0, F.lit(1.0)).otherwise(F.lit(0.0))
    return base.when(recent > 0, recent / F.lit(1e-6)).otherwise(F.lit(0.0))


def trend_scores_from(trends_long: DataFrame,
                      alias_dim: DataFrame) -> DataFrame:
    """Core plan over caller-supplied long interest rows + alias dim."""
    stats = keyword_stats_from(trends_long)
    anchor = (stats.filter(F.col("keyword") == FX.ANCHOR_KEYWORD)
              .select("group_id",
                      F.col("recent_mean").alias("a_recent"),
                      F.col("prior_mean").alias("a_prior"),
                      F.col("last_interest").alias("a_last")))
    kw = (stats.filter(F.col("keyword") != FX.ANCHOR_KEYWORD)
          .join(F.broadcast(anchor), "group_id", "left"))

    growth = _growth(F.col("recent_mean"), F.col("prior_mean"), anchor=False)
    anchor_growth = _growth(F.col("a_recent"), F.col("a_prior"), anchor=True)
    interest = F.coalesce(F.col("last_interest").cast("double"), F.lit(0.0))
    anchor_interest = F.coalesce(F.col("a_last").cast("double"), F.lit(0.0))

    scored = kw.select(
        "group_id", "keyword",
        growth.alias("trend_score_raw_growth"),
        interest.alias("_interest"),
        anchor_growth.alias("anchor_growth"),
        anchor_interest.alias("anchor_interest"))

    g = F.col("trend_score_raw_growth")
    scaled = (F.when(g > 0, F.log10(F.lit(1.0) + g))
               .when(g < 0, g)
               .otherwise(F.lit(0.0)))
    scored = scored.withColumn("scaled_raw_growth", scaled)
    s = F.col("scaled_raw_growth")
    norm = F.when(s > 0, F.least(s / F.lit(10.0) * F.lit(100.0), F.lit(100.0))) \
            .otherwise(F.lit(0.0))
    final = F.greatest(F.lit(0.0),
                       F.least(norm * F.lit(0.7) + F.col("_interest") * F.lit(0.3),
                               F.lit(100.0)))
    scored = scored.withColumn("final_trend_score", final)

    # J3 standardization join
    named = scored.withColumn(
        "_name", F.regexp_replace("keyword", " 여행", ""))
    joined = named.join(F.broadcast(alias_dim),
                        named["_name"] == alias_dim["alias"], "left")
    return joined.select(
        "group_id", "keyword",
        F.coalesce("korean_name", F.lit("Unknown_Korean"))
         .alias("country_korean_name"),
        F.coalesce("english_name", F.lit("Unknown_English"))
         .alias("country_english_name"),
        F.coalesce("country_code_3", F.lit("N/A")).alias("country_code_3"),
        F.coalesce("country_code_2", F.lit("N/A")).alias("country_code_2"),
        "final_trend_score",
        "trend_score_raw_growth", "scaled_raw_growth",
        F.col("_interest").cast("int").alias("trend_score_current_interest"),
        "anchor_growth",
        F.col("anchor_interest").cast("int").alias("anchor_interest"))


def trend_scores(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    trends_long = FX.local_relation(spark, FX.TRENDS_ROWS, FX.TRENDS_SCHEMA)
    alias_dim = FX.local_relation(spark, FX.COUNTRY_ALIAS_ROWS,
                                  FX.COUNTRY_ALIAS_SCHEMA)
    return trend_scores_from(trends_long, alias_dim)


def drop_is_partial(df: DataFrame) -> DataFrame:
    """P1 — google_trends_crawler.py:66-67: pytrends appends an
    ``isPartial`` marker column (the trailing bucket is still
    accumulating when fetched); the reference drops the COLUMN and
    keeps the rows. Conditional exactly like the reference's
    ``if "isPartial" in columns`` guard, so already-clean frames pass
    through untouched."""
    return df.drop("isPartial") if "isPartial" in df.columns else df


def marked_trends(spark: SparkSession) -> DataFrame:
    """The fixture series with the pytrends-shaped isPartial marker:
    the last observation of each (group, keyword) series is the
    still-accumulating partial bucket."""
    t = FX.local_relation(spark, FX.TRENDS_ROWS, FX.TRENDS_SCHEMA)
    w = Window.partitionBy("group_id", "keyword")
    return t.withColumn("isPartial",
                        F.col("ts") == F.max("ts").over(w))


def ispartial_drop(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """P1 as a registered query: mark -> explicit drop. The schema
    check proves the marker is gone; the value hash proves every row
    (including the partial trailing bucket) survived — the reference
    drops the column, never the rows."""
    return drop_is_partial(marked_trends(spark)).select(
        "group_id", "keyword", "ts", "interest")


def keyword_coverage(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """F7 — google_trends_crawler.py:81,125-128: any keyword the crawl
    REQUESTED but the API frame came back without is warned about and
    skipped. Expressed as a left join of the requested sets against
    the returned series, with the warn+skip policy as a status column
    (an audit relation instead of a log line)."""
    requested = FX.local_relation(spark, FX.TRENDS_REQUESTED_ROWS,
                                  FX.TRENDS_REQUESTED_SCHEMA)
    t = FX.local_relation(spark, FX.TRENDS_ROWS, FX.TRENDS_SCHEMA)
    returned = (t.groupBy("group_id", "keyword")
                .agg(F.count("interest").cast("int").alias("n_obs")))
    return (requested.join(F.broadcast(returned),
                           ["group_id", "keyword"], "left")
            .select("group_id", "keyword",
                    F.col("n_obs").isNotNull().alias("returned"),
                    F.coalesce("n_obs", F.lit(0)).cast("int").alias("n_obs"),
                    F.when(F.col("n_obs").isNotNull(), F.lit("ok"))
                     .otherwise(F.lit("missing_skip")).alias("status")))


ISPARTIAL_DROP_ORACLE = f"""
WITH marked AS (
    SELECT group_id, keyword, ts, interest,
           ts = MAX(ts) OVER (PARTITION BY group_id, keyword) AS isPartial
    FROM {FX.values_cte(FX.TRENDS_ROWS, FX.TRENDS_COLS)}
)
SELECT group_id, keyword, ts, interest FROM marked
"""

KEYWORD_COVERAGE_ORACLE = f"""
WITH requested AS (
    SELECT * FROM {FX.values_cte(FX.TRENDS_REQUESTED_ROWS,
                                 FX.TRENDS_REQUESTED_COLS)}
),
returned AS (
    SELECT group_id, keyword, CAST(COUNT(interest) AS INT) AS n_obs
    FROM {FX.values_cte(FX.TRENDS_ROWS, FX.TRENDS_COLS)}
    GROUP BY group_id, keyword
)
SELECT r.group_id, r.keyword,
       t.n_obs IS NOT NULL AS returned,
       COALESCE(t.n_obs, 0) AS n_obs,
       CASE WHEN t.n_obs IS NOT NULL THEN 'ok'
            ELSE 'missing_skip' END AS status
FROM requested r LEFT JOIN returned t USING (group_id, keyword)
"""


def _stats_sql() -> str:
    data = FX.values_cte(FX.TRENDS_ROWS, FX.TRENDS_COLS)
    return f"""
ranked AS (
    SELECT group_id, keyword, ts, interest,
           ROW_NUMBER() OVER (PARTITION BY group_id, keyword
                              ORDER BY ts DESC) AS rn
    FROM {data}
),
stats AS (
    SELECT group_id, keyword,
           CAST(SUM(CASE WHEN rn <= 15 THEN interest END) AS DOUBLE)
             / COUNT(CASE WHEN rn <= 15 THEN interest END) AS recent_mean,
           CAST(SUM(CASE WHEN rn > 15 AND rn <= 30 THEN interest END) AS DOUBLE)
             / COUNT(CASE WHEN rn > 15 AND rn <= 30 THEN interest END) AS prior_mean,
           MAX(CASE WHEN rn = 1 THEN interest END) AS last_interest
    FROM ranked GROUP BY group_id, keyword
)"""


TREND_SCORES_ORACLE = f"""
WITH {_stats_sql()},
anchor AS (
    SELECT group_id, recent_mean AS a_recent, prior_mean AS a_prior,
           last_interest AS a_last
    FROM stats WHERE keyword = '{FX.ANCHOR_KEYWORD}'
),
scored AS (
    SELECT s.group_id, s.keyword,
           CASE WHEN s.prior_mean > 0
                THEN (s.recent_mean - s.prior_mean) / s.prior_mean
                WHEN s.recent_mean > 0 THEN s.recent_mean / 0.000001
                ELSE 0.0 END AS trend_score_raw_growth,
           COALESCE(CAST(s.last_interest AS DOUBLE), 0.0) AS _interest,
           CASE WHEN a.a_prior > 0 THEN (a.a_recent - a.a_prior) / a.a_prior
                WHEN a.a_recent > 0 THEN 1.0
                ELSE 0.0 END AS anchor_growth,
           COALESCE(CAST(a.a_last AS DOUBLE), 0.0) AS anchor_interest
    FROM stats s LEFT JOIN anchor a USING (group_id)
    WHERE s.keyword <> '{FX.ANCHOR_KEYWORD}'
),
compressed AS (
    SELECT *,
           CASE WHEN trend_score_raw_growth > 0
                THEN log10(1.0 + trend_score_raw_growth)
                WHEN trend_score_raw_growth < 0 THEN trend_score_raw_growth
                ELSE 0.0 END AS scaled_raw_growth
    FROM scored
),
final AS (
    SELECT *,
           GREATEST(0.0, LEAST(
               (CASE WHEN scaled_raw_growth > 0
                     THEN LEAST(scaled_raw_growth / 10.0 * 100.0, 100.0)
                     ELSE 0.0 END) * 0.7 + _interest * 0.3,
               100.0)) AS final_trend_score
    FROM compressed
),
alias_dim AS (SELECT * FROM {FX.values_cte(FX.COUNTRY_ALIAS_ROWS, FX.COUNTRY_ALIAS_COLS)})
SELECT f.group_id, f.keyword,
       COALESCE(a.korean_name, 'Unknown_Korean') AS country_korean_name,
       COALESCE(a.english_name, 'Unknown_English') AS country_english_name,
       COALESCE(a.country_code_3, 'N/A') AS country_code_3,
       COALESCE(a.country_code_2, 'N/A') AS country_code_2,
       f.final_trend_score, f.trend_score_raw_growth, f.scaled_raw_growth,
       CAST(f._interest AS INT) AS trend_score_current_interest,
       f.anchor_growth,
       CAST(f.anchor_interest AS INT) AS anchor_interest
FROM final f
LEFT JOIN alias_dim a ON replace(f.keyword, ' 여행', '') = a.alias
"""
