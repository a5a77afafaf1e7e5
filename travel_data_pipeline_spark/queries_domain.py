"""Domain-pipeline queries (reference-semantics golden ops).

Each query replays a reference pipeline stage on inline fixtures
(fixtures.py — identical literal rows on both engines) and pins the
exact edge semantics the reference exhibits (SURVEY.md §7 hard parts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_pipeline_spark import fixtures as FX
from travel_data_pipeline_spark.functions import scores
from travel_data_pipeline_spark.plans.exchange import (
    EXCHANGE_SCORES_ORACLE,
    MONTHLY_MAP_ORACLE,
    exchange_scores,
    monthly_map_long,
)
from travel_data_pipeline_spark.plans.trends import (
    TREND_SCORES_ORACLE,
    trend_scores,
)
from travel_data_pipeline_spark.registry import register

# ---------------------------------------------------------------------------
# Exchange pipeline (S1 parse -> A5 pivot -> J2 fan-out -> F6/X10/X13 score)
# ---------------------------------------------------------------------------

register("exchange_pipeline_scores", EXCHANGE_SCORES_ORACLE)(exchange_scores)
register("exchange_monthly_map_long", MONTHLY_MAP_ORACLE)(monthly_map_long)

# ---------------------------------------------------------------------------
# Trends pipeline (A1/A2 -> J7 anchor -> W3 epsilon -> X9/X11/X12 -> J3)
# ---------------------------------------------------------------------------

register("trends_pipeline_scores", TREND_SCORES_ORACLE)(trend_scores)

# P1 / F7 closures (VERDICT r03 "What's missing" #3/#4): the explicit
# isPartial column drop and the requested-vs-returned keyword audit.
from travel_data_pipeline_spark.plans.trends import (  # noqa: E402
    ISPARTIAL_DROP_ORACLE,
    KEYWORD_COVERAGE_ORACLE,
    ispartial_drop,
    keyword_coverage,
)

register("trends_ispartial_drop", ISPARTIAL_DROP_ORACLE)(ispartial_drop)
register("keyword_coverage_audit", KEYWORD_COVERAGE_ORACLE)(keyword_coverage)

# P4 closure: the Korean display-name edge rename layer.
from travel_data_pipeline_spark.plans.flights import (  # noqa: E402
    FLIGHT_MONTHLY_DISPLAY_ORACLE,
    flight_monthly_display,
)

register("flight_display_renames",
         FLIGHT_MONTHLY_DISPLAY_ORACLE)(flight_monthly_display)


# ---------------------------------------------------------------------------
# Flight nested flatten (X20 double explode + X18 discount flag)
# ---------------------------------------------------------------------------

def _flight_flatten_oracle() -> str:
    rows = ",\n    ".join(
        f"({FX.duck_literal(r['itineraries'])})" for r in FX.FLIGHT_ROWS)
    return f"""
WITH data AS (
    SELECT * FROM (VALUES
    {rows}
    ) AS t(itineraries)
),
it AS (SELECT unnest(itineraries) AS itin FROM data),
seg AS (
    SELECT itin, generate_subscripts(itin.sector.sectorSegments, 1) AS seg_idx,
           unnest(itin.sector.sectorSegments) AS s
    FROM it
)
SELECT itin.id AS itinerary_id,
       CAST(seg_idx - 1 AS INT) AS segment_idx,
       itin.price.amount AS price,
       COALESCE(itin.price.priceBeforeDiscount, itin.price.amount)
         AS price_before_discount,
       itin.price.amount <> COALESCE(itin.price.priceBeforeDiscount,
                                     itin.price.amount) AS is_discounted,
       s.segment.source.station.code AS src_airport,
       s.segment.source.station.city.name AS src_city,
       s.segment.destination.station.code AS dst_airport,
       s.segment.destination.station.city.name AS dst_city,
       s.segment.carrier.name AS carrier,
       s.segment.cabinClass AS cabin_class,
       s.segment.duration AS duration_min
FROM seg
"""


def flatten_flights(raw: DataFrame) -> DataFrame:
    """X20 — the reference's itinerary->segment dict walk
    (_archive/flight_price_preprocessing.py:3-49) as explode + dotted
    selects; missing nested levels become NULLs for free. X18 discount
    flag with priceBeforeDiscount defaulting to price (:8-10). Works on
    any relation with the nested offer schema (fixture or landed)."""
    itins = raw.select(F.explode("itineraries").alias("itin"))
    segs = itins.select(
        "itin", F.posexplode("itin.sector.sectorSegments")
        .alias("segment_idx", "s"))
    price = F.col("itin.price.amount")
    before = F.col("itin.price.priceBeforeDiscount")
    return segs.select(
        F.col("itin.id").alias("itinerary_id"),
        F.col("segment_idx").cast("int").alias("segment_idx"),
        price.alias("price"),
        F.coalesce(before, price).alias("price_before_discount"),
        (price != F.coalesce(before, price)).alias("is_discounted"),
        F.col("s.segment.source.station.code").alias("src_airport"),
        F.col("s.segment.source.station.city.name").alias("src_city"),
        F.col("s.segment.destination.station.code").alias("dst_airport"),
        F.col("s.segment.destination.station.city.name").alias("dst_city"),
        F.col("s.segment.carrier.name").alias("carrier"),
        F.col("s.segment.cabinClass").alias("cabin_class"),
        F.col("s.segment.duration").alias("duration_min"))


@register("flight_nested_flatten", _flight_flatten_oracle())
def flight_nested_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flatten_flights(
        FX.local_relation(spark, FX.FLIGHT_ROWS, FX.FLIGHT_SCHEMA))


# ---------------------------------------------------------------------------
# F9 — the reference's commented-out route filter, made real:
# ICN-departure economy segments only (_archive/flight_avg_merge.py:67-74)
# ---------------------------------------------------------------------------

_F9_ORACLE = _flight_flatten_oracle().replace(
    "FROM seg\n",
    "FROM seg\nWHERE s.segment.source.station.code = 'ICN'"
    " AND s.segment.cabinClass = 'ECONOMY'\n")


@register("f9_route_filter", _F9_ORACLE)
def f9_route_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = flight_nested_flatten(spark, sf_dir)
    return flat.filter((F.col("src_airport") == "ICN")
                       & (F.col("cabin_class") == "ECONOMY"))


# ---------------------------------------------------------------------------
# F8 — dropna(subset=...) after the flight x meta LEFT join
# (_archive/flight_avg_merge.py:95: df.dropna(subset=[...]) drops rows
# whose REQUIRED fields are null while tolerating nulls elsewhere)
# ---------------------------------------------------------------------------

# partial-coverage destination meta: BKK/HKG deliberately absent, so the
# LEFT join manufactures the nulls dropna must act on
_DST_REGION_COLS = ("dst_airport", "dst_region")
_DST_REGION_ROWS = [("NRT", "East Asia"), ("CDG", "Europe")]

_F8_ORACLE = f"""
WITH flat AS ({_flight_flatten_oracle()}),
meta AS (SELECT * FROM {FX.values_cte(_DST_REGION_ROWS, _DST_REGION_COLS)}),
joined AS (
    SELECT f.itinerary_id, f.segment_idx, f.dst_airport, m.dst_region,
           CASE WHEN f.price_before_discount - f.price <> 0.0
                THEN f.price_before_discount - f.price END AS discount_amt
    FROM flat f LEFT JOIN meta m USING (dst_airport)
)
SELECT * FROM joined
WHERE itinerary_id IS NOT NULL AND dst_region IS NOT NULL
"""


@register("f8_dropna_meta_join", _F8_ORACLE)
def f8_dropna_meta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — ``na.drop(subset=...)`` spelled as the real DataFrame op:
    flight segments LEFT-joined to a partial destination-meta dim, then
    rows lacking the REQUIRED fields (itinerary_id, dst_region) are
    dropped while a null in the non-subset ``discount_amt`` column
    survives — the exact pandas-dropna(subset=...) semantics of
    _archive/flight_avg_merge.py:95."""
    flat = flight_nested_flatten(spark, sf_dir)
    meta = FX.local_relation(spark, _DST_REGION_ROWS,
                             "dst_airport string, dst_region string")
    joined = (flat.join(F.broadcast(meta), "dst_airport", "left")
              .select("itinerary_id", "segment_idx", "dst_airport",
                      "dst_region",
                      F.nullif(F.col("price_before_discount")
                               - F.col("price"), F.lit(0.0))
                       .alias("discount_amt")))
    return joined.na.drop(subset=["itinerary_id", "dst_region"])


# ---------------------------------------------------------------------------
# J9 — final destination-attractiveness join (README.md:80-87 [prose-only])
# ---------------------------------------------------------------------------

_J9_ORACLE = f"""
WITH exchange AS ({EXCHANGE_SCORES_ORACLE}),
trends AS ({TREND_SCORES_ORACLE}),
trend_by_country AS (
    SELECT country_code_3,
           CAST(SUM(CAST(final_trend_score AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(final_trend_score) AS trend_score
    FROM trends WHERE country_code_3 <> 'N/A' GROUP BY country_code_3
),
flight AS (SELECT * FROM {FX.values_cte(FX.FLIGHT_COUNTRY_SCORES_ROWS,
                                        FX.FLIGHT_COUNTRY_SCORES_COLS)})
SELECT e.country_code_3, e.country_name_kor,
       e.exchange_rate_score, t.trend_score,
       f.flight_value_score,
       GREATEST(0.0, LEAST(100.0,
           COALESCE(e.exchange_rate_score, 0.0) * 0.4
           + COALESCE(t.trend_score, 0.0) * 0.4
           + (COALESCE(f.flight_value_score, 0.0) + 1.0) * 50.0 * 0.2))
         AS attractiveness_score
FROM exchange e
LEFT JOIN trend_by_country t USING (country_code_3)
LEFT JOIN flight f USING (country_code_3)
"""


@register("j9_attractiveness", _J9_ORACLE)
def j9_attractiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final combined score the reference only describes in prose:
    country-grain LEFT joins (J8 policy) of the three per-domain scores,
    blended by scores.attractiveness_score."""
    ex = exchange_scores(spark, sf_dir)
    tr = trend_scores(spark, sf_dir)
    trend_by_country = (tr.filter(F.col("country_code_3") != "N/A")
                        .groupBy("country_code_3")
                        .agg((F.sum(F.col("final_trend_score")
                                    .cast("decimal(18,6)")).cast("double")
                              / F.count("final_trend_score"))
                             .alias("trend_score")))
    flight = FX.local_relation(spark, FX.FLIGHT_COUNTRY_SCORES_ROWS,
                               FX.FLIGHT_COUNTRY_SCORES_SCHEMA)
    joined = (ex.select("country_code_3", "country_name_kor",
                        "exchange_rate_score")
              .join(trend_by_country, "country_code_3", "left")
              .join(F.broadcast(flight), "country_code_3", "left"))
    return joined.select(
        "country_code_3", "country_name_kor", "exchange_rate_score",
        "trend_score", "flight_value_score",
        scores.attractiveness_score(
            F.col("exchange_rate_score"), F.col("trend_score"),
            F.col("flight_value_score").cast("double"))
        .alias("attractiveness_score"))
