"""Scalar function library — SURVEY.md §2.7 (X1-X21).

Every reference scalar op re-expressed as a pure Column-builder
function. None of these are Python UDFs: they compile to Catalyst
expressions, so whole-stage codegen, pushdown, and constant folding all
keep working (SURVEY.md §2.9 design rule).

Citations are to /root/reference/ files so parity can be checked.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# -- X1: currency-code extraction -------------------------------------------
# exchage_rate_crawler.py:199-211 — split()[1], strip "(100)"/"(10)".
def extract_currency_code(raw: ColumnOrName) -> Column:
    token = F.split(_col(raw), " ").getItem(1)
    return F.trim(F.regexp_replace(token, r"\((100|10)\)", ""))


# -- X2: thousands-separator strip + cast; "-"/"" -> 0.0 ---------------------
# exchage_rate_crawler.py:213-254.
def parse_rate(raw: ColumnOrName) -> Column:
    c = F.trim(_col(raw))
    return (F.when(c.isin("-", "") | c.isNull(), F.lit(0.0))
             .otherwise(F.regexp_replace(c, ",", "").cast("double")))


# -- X3: keyword -> country-name cleanup -------------------------------------
# google_trends_processor.py:141-144 — keyword.replace(" 여행", "").
def keyword_to_name(keyword: ColumnOrName, suffix: str = " 여행") -> Column:
    return F.regexp_replace(_col(keyword), suffix, "")


# -- X4: bracketed-list string cleanup + split -------------------------------
# _archive/flight_avg_merge.py:94-98 — str.replace(r"[\[\]' ]","") + split(',').
def split_code_list(raw: ColumnOrName) -> Column:
    return F.split(F.regexp_replace(_col(raw), r"[\[\]' ]", ""), ",")


# -- X5: date formatting helpers ---------------------------------------------
# exchage_rate_crawler.py:75-103 — YYYYMMDD/YYYY-MM-DD renderers,
# first-day-of-period, last-day-of-month.
def fmt_yyyymmdd(d: ColumnOrName) -> Column:
    return F.date_format(_col(d), "yyyyMMdd")


def fmt_iso_date(d: ColumnOrName) -> Column:
    return F.date_format(_col(d), "yyyy-MM-dd")


def first_day_of_month(d: ColumnOrName) -> Column:
    return F.trunc(_col(d), "month")


def first_day_of_year(d: ColumnOrName) -> Column:
    return F.trunc(_col(d), "year")


def last_day_of_month(d: ColumnOrName) -> Column:
    return F.last_day(_col(d))


# -- X6: month extraction -----------------------------------------------------
# _archive/flight_avg_merge.py:26.
def month_of(ts: ColumnOrName) -> Column:
    return F.month(_col(ts))


# -- X9: log-compression -------------------------------------------------------
# google_trends_processor.py:187-194 — log10(1+x) for x>0; identity x<0; 0 at 0.
def log_compress(x: ColumnOrName) -> Column:
    c = _col(x)
    return (F.when(c > 0, F.log10(F.lit(1.0) + c))
             .when(c < 0, c)
             .otherwise(F.lit(0.0)))


# -- X10: min-max rescale + clamp ----------------------------------------------
# exchage_rate_crawler.py:621-636 — ((max-x)/range)*100 clamped to [0,100];
# degenerate range -> 50.0.
def minmax_rescale(x: ColumnOrName, lo: ColumnOrName, hi: ColumnOrName) -> Column:
    c, l, h = _col(x), _col(lo), _col(hi)
    scaled = (h - c) / (h - l) * F.lit(100.0)
    return (F.when(h == l, F.lit(50.0))
             .otherwise(clamp(scaled, 0.0, 100.0)))


def clamp(x: ColumnOrName, lo: float, hi: float) -> Column:
    return F.greatest(F.lit(float(lo)), F.least(F.lit(float(hi)), _col(x)))


# -- X11: scale-to-100 + cap ----------------------------------------------------
# google_trends_processor.py:200-217 — (scaled/10)*100 capped at 100;
# negatives -> 0.
def scale_to_100(x: ColumnOrName, full_scale: float = 10.0) -> Column:
    c = _col(x)
    return (F.when(c < 0, F.lit(0.0))
             .otherwise(F.least(F.lit(100.0), c / F.lit(full_scale) * F.lit(100.0))))


# -- X12: weighted linear score --------------------------------------------------
# google_trends_processor.py:197-198, 219-223 — 0.7*growth + 0.3*interest,
# clamp [0,100].
def weighted_score(a: ColumnOrName, b: ColumnOrName,
                   w_a: float = 0.7, w_b: float = 0.3) -> Column:
    return clamp(_col(a) * F.lit(w_a) + _col(b) * F.lit(w_b), 0.0, 100.0)


# -- X13: pct-change --------------------------------------------------------------
# exchage_rate_crawler.py:616-619; _archive/flight_avg_merge.py:45-46.
def pct_change(cur: ColumnOrName, base: ColumnOrName) -> Column:
    return (_col(cur) - _col(base)) / _col(base) * F.lit(100.0)


# -- X15: sign -> category -> score ---------------------------------------------------
# _archive/flight_avg_merge.py:47-48 — diff sign -> 상승/하락/동일 -> {-1,1,0}.
def sign_category(diff: ColumnOrName,
                  up: str = "상승", down: str = "하락", same: str = "동일") -> Column:
    c = _col(diff)
    return F.when(c > 0, F.lit(up)).when(c < 0, F.lit(down)).otherwise(F.lit(same))


def sign_score(diff: ColumnOrName) -> Column:
    c = _col(diff)
    return (F.when(c > 0, F.lit(-1)).when(c < 0, F.lit(1)).otherwise(F.lit(0)))


# -- X16: null-default projection ------------------------------------------------------
# google_trends_processor.py:154-159 — .get(k, default).
def with_default(c: ColumnOrName, default) -> Column:
    return F.coalesce(_col(c), F.lit(default))


# -- X17: NaN->0 vs NaN->null coercion --------------------------------------------------
# google_trends_crawler.py:95-96 vs google_trends_processor.py:162-186 —
# the same field gets BOTH treatments in the reference; the engine keeps
# both spellings so the asymmetry is explicit at call sites.
def nan_to_zero(c: ColumnOrName) -> Column:
    x = _col(c)
    return F.when(F.isnan(x) | x.isNull(), F.lit(0.0)).otherwise(x)


def nan_to_null(c: ColumnOrName) -> Column:
    x = _col(c)
    return F.when(F.isnan(x), F.lit(None).cast("double")).otherwise(x)


# -- X21: map-entry upsert ------------------------------------------------------------------
# exchage_rate_crawler.py:416-420 — point update of the monthly map.
def map_upsert(m: ColumnOrName, key: ColumnOrName, value: ColumnOrName) -> Column:
    return F.map_concat(
        F.map_filter(_col(m), lambda k, _: k != _col(key)),
        F.create_map(_col(key), _col(value)),
    )
