"""Inline domain fixtures (FIXTURES.md §B) shared by the Spark queries
and their DuckDB oracles.

One Python literal per fixture, rendered for both engines from the
*same rows*, so both provably consume identical inputs:
``local_relation`` turns it into a Spark ``LocalRelation`` (an inline
``VALUES`` table cast to the fixture's DDL schema, scanned in the JVM
with no Python worker) and ``values_cte`` into the DuckDB oracle's
VALUES clause. ``local_relation`` is also the package's one way to turn
any driver-side Python list (a parameter grid, a driver-computed result)
into a DataFrame. Every edge case the reference exhibits is present and
flagged with a comment.
"""

from __future__ import annotations

import datetime as _dt
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# B1 — country_master (mirrors config/master_country_crawler.json shape)
# ---------------------------------------------------------------------------

COUNTRY_MASTER_COLS = ("country_code_3", "country_code_2", "country_name_eng",
                       "country_name_kor", "currency_code", "is_euro_zone",
                       "google_trend_keyword_kor")

COUNTRY_MASTER_ROWS = [
    ("USA", "US", "United States", "미국", "USD", False, "미국 여행"),
    ("JPN", "JP", "Japan", "일본", "JPY", False, "일본 여행"),
    # 3 Eurozone rows share currency_code='EUR' -> J2 fan-out
    ("DEU", "DE", "Germany", "독일", "EUR", True, "독일 여행"),
    ("FRA", "FR", "France", "프랑스", "EUR", True, "프랑스 여행"),
    ("HRV", "HR", "Croatia", "크로아티아", "EUR", True, None),  # NULL keyword
    ("GBR", "GB", "United Kingdom", "영국", "GBP", False, "영국 여행"),
    ("BRA", "BR", "Brazil", "브라질", "BRL", False, "브라질 여행"),
    ("CAN", "CA", "Canada", "캐나다", "CAD", False, "캐나다 여행"),
    # CHE has no rate rows at all -> absent from pipeline output (F5 analogue)
    ("CHE", "CH", "Switzerland", "스위스", "CHF", False, "스위스 여행"),
]

COUNTRY_MASTER_SCHEMA = ("country_code_3 string, country_code_2 string, "
                         "country_name_eng string, country_name_kor string, "
                         "currency_code string, is_euro_zone boolean, "
                         "google_trend_keyword_kor string")

# ---------------------------------------------------------------------------
# B2 — country_alias (mirrors config/standard_country_map.json shape)
# ---------------------------------------------------------------------------

COUNTRY_ALIAS_COLS = ("alias", "korean_name", "english_name",
                      "country_code_3", "country_code_2")

COUNTRY_ALIAS_ROWS = [
    ("미국", "미국", "United States", "USA", "US"),
    ("일본", "일본", "Japan", "JPN", "JP"),
    ("독일", "독일", "Germany", "DEU", "DE"),
    ("프랑스", "프랑스", "France", "FRA", "FR"),
    ("영국", "영국", "United Kingdom", "GBR", "GB"),
    ("크로아티아", "크로아티아", "Croatia", "HRV", "HR"),
    # the anchor pseudo-country (google_trends_processor.py:149-151)
    ("해외여행", "해외여행", "Overseas Travel", "GLB", "XX"),
]

COUNTRY_ALIAS_SCHEMA = ("alias string, korean_name string, english_name string, "
                        "country_code_3 string, country_code_2 string")

# ---------------------------------------------------------------------------
# B3 — exchange rate raw HTML cells (pre-parse form: X1/X2 inputs)
# rate_cell edge cases: thousands separators, '-' -> 0.0, '' -> 0.0
# ---------------------------------------------------------------------------

EXCHANGE_CELLS_COLS = ("currency_cell", "rate_type", "period", "rate_cell")

EXCHANGE_CELLS_ROWS = [
    # USA: +8.04% change -> score 9.8
    ("미국 USD", "realtime", None, "1,350.50"),
    ("미국 USD", "daily_avg", None, "1,340.00"),
    ("미국 USD", "monthly_avg", "202401", "1,320.00"),
    ("미국 USD", "monthly_avg", "202402", "1,330.00"),
    ("미국 USD", "monthly_avg", "202403", "1,345.00"),
    ("미국 USD", "yearly_avg", None, "1,250.00"),
    # JPY carries the '(100)' unit suffix (X1) and a '-' realtime (X2 -> 0.0,
    # which is a VALID value -> change -100% -> score clamps to 100)
    ("일본 JPY(100)","realtime", None, "-"),
    ("일본 JPY(100)","daily_avg", None, "905.12"),
    ("일본 JPY(100)","monthly_avg", "202401", "900.00"),
    ("일본 JPY(100)","monthly_avg", "202402", "910.00"),
    ("일본 JPY(100)","monthly_avg", "202403", "908.00"),
    ("일본 JPY(100)","yearly_avg", None, "9.50"),
    # EUR fans out to DEU/FRA/HRV; -3.33% -> score 66.65
    ("유로 EUR", "realtime", None, "1,450.00"),
    ("유로 EUR", "daily_avg", None, "1,448.00"),
    ("유로 EUR", "monthly_avg", "202401", "1,470.00"),
    ("유로 EUR", "monthly_avg", "202402", "1,460.00"),
    ("유로 EUR", "monthly_avg", "202403", "1,455.00"),
    ("유로 EUR", "yearly_avg", None, "1,500.00"),
    # GBP: +20% change -> beyond band -> score clamps to 0.0
    ("영국 GBP", "realtime", None, "1,800.00"),
    ("영국 GBP", "yearly_avg", None, "1,500.00"),
    # BRA: yearly_avg == 0 ('-') -> gated -> NULL change, score 0.0 (F6)
    ("브라질 BRL", "realtime", None, "270.00"),
    ("브라질 BRL", "yearly_avg", None, "-"),
    # CAN: realtime only, yearly missing -> NULL -> gated -> score 0.0
    ("캐나다 CAD", "realtime", None, "980.00"),
    # unknown currency -> dropped by the master join (F4)
    ("짐바브웨 ZWL", "realtime", None, "3.50"),
    ("짐바브웨 ZWL", "yearly_avg", None, "3.00"),
    # empty-string rate -> 0.0 (X2 second edge spelling)
    ("캐나다 CAD", "daily_avg", None, ""),
]

EXCHANGE_CELLS_SCHEMA = ("currency_cell string, rate_type string, "
                         "period string, rate_cell string")

# ---------------------------------------------------------------------------
# B4 — trends interest, long form. 2 groups x (keywords + anchor) x 35 days.
# Edge cases: epsilon growth path, anchor prior-0 -> 1.0, NULL last value,
# unknown keyword -> Unknown_* defaults.
# ---------------------------------------------------------------------------

TRENDS_COLS = ("group_id", "keyword", "ts", "interest")


def _trend_series(group_id: int, keyword: str, values: list[int | None]):
    base = _dt.datetime(2024, 1, 1)
    return [(group_id, keyword, base + _dt.timedelta(days=i), v)
            for i, v in enumerate(values)]


def _build_trends_rows() -> list[tuple]:
    rows: list[tuple] = []
    # 35 observations; rows -15: recent window, -30:-15 prior window.
    # group 1
    rows += _trend_series(1, "미국 여행", [40] * 5 + [50] * 15 + [60] * 15)   # +20% growth
    rows += _trend_series(1, "일본 여행", [80] * 5 + [80] * 15 + [60] * 15)   # -25% growth
    rows += _trend_series(1, "독일 여행", [10] * 5 + [0] * 15 + [7] * 15)     # epsilon path
    rows += _trend_series(1, "무명국 여행", [30] * 5 + [30] * 15 + [30] * 15)  # unknown alias
    rows += _trend_series(1, "해외여행", [50] * 5 + [50] * 15 + [55] * 15)     # anchor +10%
    # group 2 — anchor prior window all 0 -> anchor growth snaps to 1.0
    rows += _trend_series(2, "프랑스 여행", [20] * 5 + [20] * 15 + [20] * 15)  # 0 growth
    uk = [35] * 5 + [40] * 15 + [45] * 14 + [None]                             # NULL last -> 0
    rows += _trend_series(2, "영국 여행", uk)
    rows += _trend_series(2, "해외여행", [0] * 5 + [0] * 15 + [30] * 15)
    return rows


TRENDS_ROWS = _build_trends_rows()
TRENDS_SCHEMA = "group_id int, keyword string, ts timestamp, interest int"

ANCHOR_KEYWORD = "해외여행"

# F7 — the keyword sets the crawler REQUESTED per group
# (google_trends_crawler.py:125-128 warns + skips any requested keyword
# the API frame came back without). Two planted keywords per the
# reference's failure mode: requested but never returned.
TRENDS_REQUESTED_COLS = ("group_id", "keyword")
TRENDS_REQUESTED_ROWS = [
    (1, "미국 여행"),
    (1, "일본 여행"),
    (1, "독일 여행"),
    (1, "무명국 여행"),
    (1, "아틀란티스 여행"),   # requested, API returned no column
    (1, "해외여행"),
    (2, "프랑스 여행"),
    (2, "영국 여행"),
    (2, "엘도라도 여행"),     # requested, API returned no column
    (2, "해외여행"),
]
TRENDS_REQUESTED_SCHEMA = "group_id int, keyword string"

# ---------------------------------------------------------------------------
# B5 — nested flight itineraries (X20 double-explode; X18 discount flag)
# ---------------------------------------------------------------------------

def _station(code: str, city: str):
    return {"code": code, "city": {"name": city}}


def _segment(src_code, src_city, dst_code, dst_city, carrier, cabin, dur):
    return {"segment": {
        "source": {"station": _station(src_code, src_city)},
        "destination": {"station": _station(dst_code, dst_city)},
        "carrier": {"name": carrier},
        "cabinClass": cabin,
        "duration": dur,
    }}


FLIGHT_ROWS = [
    {"itineraries": [
        {"id": "it1",
         "price": {"amount": 450.0, "priceBeforeDiscount": 500.0},  # discounted
         "sector": {"sectorSegments": [
             _segment("ICN", "Seoul", "NRT", "Tokyo", "KE", "ECONOMY", 140),
         ]}},
        {"id": "it2",
         "price": {"amount": 980.0, "priceBeforeDiscount": None},   # default->price
         "sector": {"sectorSegments": [
             _segment("ICN", "Seoul", "HKG", "Hong Kong", "OZ", "ECONOMY", 230),
             _segment("HKG", "Hong Kong", "CDG", "Paris", "AF", "ECONOMY", 760),
         ]}},
    ]},
    {"itineraries": [
        {"id": "it3",
         "price": {"amount": 620.0, "priceBeforeDiscount": 620.0},  # equal -> no discount
         "sector": {"sectorSegments": [
             _segment("ICN", "Seoul", "BKK", "Bangkok", "TG", "BUSINESS", 330),
         ]}},
    ]},
]

FLIGHT_SCHEMA = (
    "itineraries array<struct<"
    "id:string,"
    "price:struct<amount:double,priceBeforeDiscount:double>,"
    "sector:struct<sectorSegments:array<struct<"
    "segment:struct<"
    "source:struct<station:struct<code:string,city:struct<name:string>>>,"
    "destination:struct<station:struct<code:string,city:struct<name:string>>>,"
    "carrier:struct<name:string>,"
    "cabinClass:string,duration:bigint>>>>>>"
)

# J9 — per-country flight value scores (the prose-only final join input)
FLIGHT_COUNTRY_SCORES_COLS = ("country_code_3", "flight_value_score")
FLIGHT_COUNTRY_SCORES_ROWS = [
    ("USA", 1), ("JPN", -1), ("DEU", 0), ("FRA", 1), ("GBR", -1),
]
FLIGHT_COUNTRY_SCORES_SCHEMA = "country_code_3 string, flight_value_score int"


def duck_literal(v) -> str:
    """Render a Python value (incl. nested dict/list) as a DuckDB literal."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, dict):
        inner = ", ".join(f"'{k}': {duck_literal(x)}" for k, x in v.items())
        return "{" + inner + "}"
    if isinstance(v, list):
        return "[" + ", ".join(duck_literal(x) for x in v) + "]"
    s = str(v).replace("'", "''")
    return f"'{s}'"


# ---------------------------------------------------------------------------
# materializers
# ---------------------------------------------------------------------------


def local_relation(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``rows`` as a JVM-side ``LocalRelation`` typed exactly as the DDL
    ``schema``: an inline ``VALUES`` table of typed literals, cast per
    column. Nothing is pickled and no Python worker runs when it is
    scanned (``createDataFrame(list)`` builds a Python RDD instead).

    A row, like a struct value, is a tuple in field order or a dict
    keyed by field name. Timestamps are wall times in the session time
    zone, not the host's."""
    st = T.StructType.fromDDL(schema)
    cols = [f"c{i}" for i in range(len(st.fields))]
    body = ", ".join("(" + ", ".join(_field_literals(r, st)) + ")"
                     for r in rows or [[None] * len(cols)])
    df = spark.sql(f"SELECT * FROM VALUES {body} AS t({', '.join(cols)})")
    if not rows:
        df = df.limit(0)
    return df.select([F.col(c).cast(f.dataType).alias(f.name)
                      for c, f in zip(cols, st.fields)])


_INT_SUFFIX = {"int": "", "bigint": "L"}


def _field_literals(v, st: T.StructType) -> list[str]:
    vals = [v.get(n) for n in st.names] if isinstance(v, dict) else v
    if len(vals) != len(st.fields):
        raise ValueError(f"{len(vals)} values for {st.simpleString()}")
    return [_spark_literal(x, f.dataType) for x, f in zip(vals, st.fields)]


def _spark_literal(v, dt: T.DataType) -> str:
    """A Spark SQL literal of exactly type ``dt`` holding ``v``."""
    t = dt.simpleString()
    if v is None:
        return f"CAST(NULL AS {t})"
    if isinstance(dt, T.StructType):
        return "named_struct(" + ", ".join(
            f"{_spark_literal(f.name, T.StringType())}, {x}"
            for f, x in zip(dt.fields, _field_literals(v, dt))) + ")"
    if isinstance(dt, T.ArrayType):
        items = ", ".join(_spark_literal(x, dt.elementType) for x in v)
        return f"CAST(array({items}) AS {t})" if not v else f"array({items})"
    if isinstance(dt, T.BooleanType):
        return "TRUE" if v else "FALSE"
    if t in _INT_SUFFIX:
        return f"{int(v)}{_INT_SUFFIX[t]}"
    if isinstance(dt, T.DoubleType):
        # repr: the shortest round-trip spelling; nan, inf, -0.0 as well
        return f"CAST('{float(v)!r}' AS {t})"
    if isinstance(dt, T.DecimalType):
        return f"CAST('{v}' AS {t})"
    if isinstance(dt, T.StringType):
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(dt, T.DateType):
        return f"DATE '{v.isoformat()}'"
    if isinstance(dt, T.TimestampType):
        return f"TIMESTAMP '{v.isoformat(' ')}'"
    raise TypeError(f"local_relation: no literal for {t}")


def _sql_literal(v) -> str:
    """A DuckDB literal for a scalar fixture value (``values_cte``)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and (not math.isfinite(v) or (
            v == 0.0 and math.copysign(1.0, v) < 0)):
        return f"'{v!r}'::DOUBLE"  # bare nan/inf is no literal; -0.0 reads 0
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(' ')}'"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def values_cte(rows: list[tuple], cols: tuple[str, ...]) -> str:
    """Render rows as ``(VALUES ...) AS t(col, ...)`` for the oracle."""
    body = ",\n    ".join(
        "(" + ", ".join(_sql_literal(v) for v in row) + ")" for row in rows)
    return f"(VALUES\n    {body}\n) AS t({', '.join(cols)})"
