"""Exchange-rate pipeline recomposed Spark-first — SURVEY.md §3.1.

The reference's 6 sequential HTML-crawl passes + dict fan-out + score
loop (exchage_rate_crawler.py:326-656) become ONE logical plan:

    typed cells scan -> X1/X2 parse -> A5 pivot (wide per currency)
    -> J2 broadcast fan-out join to country master -> F6/X10/X13 score

Edge semantics pinned against the reference:
- '(100)'/'(10)' unit suffixes stripped from the currency cell (X1,
  exchage_rate_crawler.py:199-211)
- '-'/'' cells parse to 0.0, NOT NULL (X2, :213-254) — a 0.0 realtime
  is therefore *valid* for scoring
- unknown currency dropped by the master join (F4, :363-367)
- EUR fans out to every is_euro_zone country because those master rows
  all carry currency_code='EUR' (J2, :349-380) — no special case
- score gate: realtime/yearly non-null and yearly>0, else change=NULL
  and score=0.0 (F6, :606-646); ±10% band rescaled to [0,100] (X10)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_pipeline_spark import fixtures as FX
from travel_data_pipeline_spark.functions import scalars as X
from travel_data_pipeline_spark.functions import scores

RATE_TYPES = ["realtime", "daily_avg", "yearly_avg"]


def parse_cells(cells: DataFrame) -> DataFrame:
    """X1/X2 parse over any raw-cells relation (fixture, landed JSON,
    or stream) — one spelling for every entry path."""
    return cells.select(
        X.extract_currency_code("currency_cell").alias("currency_code"),
        "rate_type", "period",
        X.parse_rate("rate_cell").alias("rate"))


def exchange_scores_from(cells: DataFrame, master: DataFrame) -> DataFrame:
    """Core plan over caller-supplied raw cells + master dim (the
    landed-raw entry path reuses this with the same expressions)."""
    parsed = parse_cells(cells)
    wide = (parsed.filter(F.col("rate_type").isin(*RATE_TYPES))
            .groupBy("currency_code")
            .pivot("rate_type", RATE_TYPES)
            .agg(F.max("rate")))

    joined = wide.join(F.broadcast(master), "currency_code", "inner")
    rt, yr = F.col("realtime"), F.col("yearly_avg")
    return joined.select(
        "country_code_3", "country_code_2",
        "country_name_kor", "country_name_eng",
        "currency_code", "is_euro_zone",
        F.col("realtime").alias("realtime_rate"),
        F.col("daily_avg").alias("daily_avg_rate"),
        F.col("yearly_avg").alias("yearly_avg_rate"),
        scores.exchange_change_pct(rt, yr).alias("exchange_rate_change_percent"),
        scores.exchange_score(rt, yr).alias("exchange_rate_score"),
    )


def exchange_scores(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """Country-grain exchange records with change% + score."""
    cells = FX.local_relation(spark, FX.EXCHANGE_CELLS_ROWS,
                               FX.EXCHANGE_CELLS_SCHEMA)
    master = FX.local_relation(spark, FX.COUNTRY_MASTER_ROWS,
                                FX.COUNTRY_MASTER_SCHEMA)
    return exchange_scores_from(cells, master)


def monthly_map_from(cells: DataFrame, master: DataFrame) -> DataFrame:
    """A5's MapType monthly column, exploded to the oracle-friendly long
    form (SURVEY.md §7 hard part (c)): build the map (X21 upserts become
    map_from_entries) then explode — the round-trip exercises both."""
    parsed = parse_cells(cells)
    monthly = (parsed.filter(F.col("rate_type") == "monthly_avg")
               .groupBy("currency_code")
               .agg(F.map_from_entries(
                   F.sort_array(F.collect_list(F.struct("period", "rate"))))
                    .alias("monthly_avg_rates")))
    fanned = monthly.join(F.broadcast(master), "currency_code", "inner")
    return fanned.select(
        "country_code_3", "currency_code",
        F.explode("monthly_avg_rates").alias("period", "monthly_rate"))


def monthly_map_long(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    cells = FX.local_relation(spark, FX.EXCHANGE_CELLS_ROWS,
                               FX.EXCHANGE_CELLS_SCHEMA)
    master = FX.local_relation(spark, FX.COUNTRY_MASTER_ROWS,
                                FX.COUNTRY_MASTER_SCHEMA)
    return monthly_map_from(cells, master)


def _parse_sql() -> str:
    cells = FX.values_cte(FX.EXCHANGE_CELLS_ROWS, FX.EXCHANGE_CELLS_COLS)
    return f"""
parsed AS (
    SELECT trim(regexp_replace(split_part(currency_cell, ' ', 2),
                               '\\((100|10)\\)', '', 'g')) AS currency_code,
           rate_type, period,
           CASE WHEN trim(rate_cell) IN ('-', '') OR rate_cell IS NULL THEN 0.0
                ELSE CAST(replace(trim(rate_cell), ',', '') AS DOUBLE)
           END AS rate
    FROM {cells}
),
master AS (SELECT * FROM {FX.values_cte(FX.COUNTRY_MASTER_ROWS, FX.COUNTRY_MASTER_COLS)})
"""


EXCHANGE_SCORES_ORACLE = f"""
WITH {_parse_sql()},
wide AS (
    SELECT currency_code,
           MAX(CASE WHEN rate_type = 'realtime' THEN rate END) AS realtime,
           MAX(CASE WHEN rate_type = 'daily_avg' THEN rate END) AS daily_avg,
           MAX(CASE WHEN rate_type = 'yearly_avg' THEN rate END) AS yearly_avg
    FROM parsed WHERE rate_type IN ('realtime', 'daily_avg', 'yearly_avg')
    GROUP BY currency_code
)
SELECT m.country_code_3, m.country_code_2, m.country_name_kor,
       m.country_name_eng, w.currency_code, m.is_euro_zone,
       w.realtime AS realtime_rate,
       w.daily_avg AS daily_avg_rate,
       w.yearly_avg AS yearly_avg_rate,
       CASE WHEN w.realtime IS NOT NULL AND w.yearly_avg IS NOT NULL
                 AND w.yearly_avg > 0
            THEN ROUND((w.realtime - w.yearly_avg) / w.yearly_avg * 100.0, 2)
       END AS exchange_rate_change_percent,
       CASE WHEN w.realtime IS NOT NULL AND w.yearly_avg IS NOT NULL
                 AND w.yearly_avg > 0
            THEN ROUND(GREATEST(0.0, LEAST(100.0,
                 (10.0 - (w.realtime - w.yearly_avg) / w.yearly_avg * 100.0)
                 / 20.0 * 100.0)), 2)
            ELSE 0.0
       END AS exchange_rate_score
FROM wide w JOIN master m ON w.currency_code = m.currency_code
"""

MONTHLY_MAP_ORACLE = f"""
WITH {_parse_sql()}
SELECT m.country_code_3, p.currency_code, p.period, p.rate AS monthly_rate
FROM parsed p JOIN master m ON p.currency_code = m.currency_code
WHERE p.rate_type = 'monthly_avg'
"""


# ---------------------------------------------------------------------------
# Streaming leg — SURVEY.md §3.1: the 5-min crawl cadence becomes a
# micro-batched stream of raw cell JSON; the SAME parse/score
# expressions run incrementally. Streaming can't pivot(), so the A5
# fold is spelled as conditional aggregation (update/complete mode);
# the master join is a stream-static broadcast join.
# ---------------------------------------------------------------------------

def exchange_scores_stream(spark: SparkSession, cells_stream: DataFrame) -> DataFrame:
    """cells_stream: streaming DF with the EXCHANGE_CELLS schema."""
    parsed = cells_stream.select(
        X.extract_currency_code("currency_cell").alias("currency_code"),
        "rate_type",
        X.parse_rate("rate_cell").alias("rate"))
    wide = (parsed.filter(F.col("rate_type").isin(*RATE_TYPES))
            .groupBy("currency_code")
            .agg(*[F.max(F.when(F.col("rate_type") == rt, F.col("rate")))
                   .alias(rt) for rt in RATE_TYPES]))
    master = FX.local_relation(spark, FX.COUNTRY_MASTER_ROWS,
                                FX.COUNTRY_MASTER_SCHEMA)
    joined = wide.join(F.broadcast(master), "currency_code", "inner")
    rt, yr = F.col("realtime"), F.col("yearly_avg")
    return joined.select(
        "country_code_3", "currency_code",
        F.col("realtime").alias("realtime_rate"),
        F.col("yearly_avg").alias("yearly_avg_rate"),
        scores.exchange_change_pct(rt, yr).alias("exchange_rate_change_percent"),
        scores.exchange_score(rt, yr).alias("exchange_rate_score"))
