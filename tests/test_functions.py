"""Golden-output tests pinning the reference's exact edge semantics
(SURVEY.md §5.2 / §7 hard part (a))."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from travel_data_pipeline_spark.functions import scalars as X
from travel_data_pipeline_spark.functions import scores


def _one(spark, col, schema="x double", row=(0.0,)):
    return spark.createDataFrame([row], schema).select(col.alias("v")).first().v


# --- W3 growth epsilon paths (google_trends_crawler.py:82-92, 103-111) ----

@pytest.mark.parametrize("recent,prior,expect", [
    (60.0, 50.0, 0.2),          # normal growth
    (7.0, 0.0, 7.0 / 1e-6),     # epsilon blow-up
    (0.0, 0.0, 0.0),            # both zero
    (0.0, 50.0, -1.0),          # total decline
])
def test_growth_rate(spark, recent, prior, expect):
    got = spark.range(1).select(
        scores.growth_rate(F.lit(recent), F.lit(prior)).alias("g")).first().g
    assert got == pytest.approx(expect)


def test_anchor_growth_snaps_to_one(spark):
    got = spark.range(1).select(
        scores.anchor_growth_rate(F.lit(30.0), F.lit(0.0)).alias("g")).first().g
    assert got == 1.0


# --- X9 log compression (google_trends_processor.py:187-194) --------------

@pytest.mark.parametrize("x,expect", [
    (9.0, 1.0),        # log10(10) = 1
    (-0.4, -0.4),      # negative: identity
    (0.0, 0.0),
])
def test_log_compress(spark, x, expect):
    got = spark.range(1).select(X.log_compress(F.lit(x)).alias("v")).first().v
    assert got == pytest.approx(expect)


# --- X11 scale + cap (google_trends_processor.py:200-217) ------------------

@pytest.mark.parametrize("x,expect", [
    (5.0, 50.0),
    (15.0, 100.0),     # cap
    (-3.0, 0.0),       # negatives -> 0
    (0.0, 0.0),
])
def test_scale_to_100(spark, x, expect):
    got = spark.range(1).select(X.scale_to_100(F.lit(x)).alias("v")).first().v
    assert got == expect


# --- X12 blend + clamp ------------------------------------------------------

def test_trend_score_blend_and_clamp(spark):
    # growth 9 -> log10(10)=1 -> norm 10; interest 100 -> 0.7*10+0.3*100=37
    got = spark.range(1).select(
        scores.trend_score(F.lit(9.0), F.lit(100.0)).alias("v")).first().v
    assert got == pytest.approx(37.0)
    # epsilon-path growth 7e6 -> log10 ~6.845 -> norm 68.45 -> 77.92
    got = spark.range(1).select(
        scores.trend_score(F.lit(7e6), F.lit(100.0)).alias("v")).first().v
    assert got == pytest.approx(77.9156863, abs=1e-4)
    # growth big enough to cap norm at 100 (log10 > 10 needs g > 1e10-1)
    got = spark.range(1).select(
        scores.trend_score(F.lit(5e10), F.lit(100.0)).alias("v")).first().v
    assert got == 100.0


# --- F6/X10 exchange gate + band (exchage_rate_crawler.py:604-649) ---------

@pytest.mark.parametrize("rt,yr,change,score", [
    (1350.5, 1250.0, 8.04, 9.8),
    (1450.0, 1500.0, -3.33, 66.67),
    (1800.0, 1500.0, 20.0, 0.0),       # clamp below band
    (0.0, 9.5, -100.0, 100.0),          # '-' -> 0.0 is valid, clamps above
    (None, 1000.0, None, 0.0),          # gate: null realtime
    (1000.0, None, None, 0.0),          # gate: null yearly
    (1000.0, 0.0, None, 0.0),           # gate: yearly == 0
])
def test_exchange_semantics(spark, rt, yr, change, score):
    df = spark.createDataFrame([(rt, yr)], "rt double, yr double")
    row = df.select(
        scores.exchange_change_pct(F.col("rt"), F.col("yr")).alias("c"),
        scores.exchange_score(F.col("rt"), F.col("yr")).alias("s")).first()
    if change is None:
        assert row.c is None
    else:
        assert row.c == pytest.approx(change, abs=0.01)
    assert row.s == pytest.approx(score, abs=0.01)


# --- X2 rate parse ('-'/''/thousands) ---------------------------------------

@pytest.mark.parametrize("raw,expect", [
    ("1,350.50", 1350.5),
    ("-", 0.0),
    ("", 0.0),
    (None, 0.0),
    (" 905.12 ", 905.12),
])
def test_parse_rate(spark, raw, expect):
    df = spark.createDataFrame([(raw,)], "c string")
    assert df.select(X.parse_rate("c").alias("v")).first().v == expect


# --- X1 currency extraction ---------------------------------------------------

@pytest.mark.parametrize("raw,expect", [
    ("미국 USD", "USD"),
    ("일본 JPY(100)", "JPY"),
    ("인도네시아 IDR(10)", "IDR"),
])
def test_extract_currency_code(spark, raw, expect):
    df = spark.createDataFrame([(raw,)], "c string")
    assert df.select(X.extract_currency_code("c").alias("v")).first().v == expect


# --- X10 degenerate range -> 50.0 ---------------------------------------------

def test_minmax_degenerate_range(spark):
    got = spark.range(1).select(
        X.minmax_rescale(F.lit(5.0), F.lit(3.0), F.lit(3.0)).alias("v")).first().v
    assert got == 50.0


# --- X17 NaN asymmetry ----------------------------------------------------------

def test_nan_asymmetry(spark):
    df = spark.createDataFrame([(float("nan"),), (1.5,)], "x double")
    got = df.select(
        X.nan_to_zero("x").alias("z"), X.nan_to_null("x").alias("n")).collect()
    assert got[0].z == 0.0 and got[0].n is None
    assert got[1].z == 1.5 and got[1].n == 1.5


# --- X21 map upsert ---------------------------------------------------------------

def test_map_upsert(spark):
    df = spark.createDataFrame(
        [({"202401": 1.0, "202402": 2.0},)], "m map<string,double>")
    got = df.select(X.map_upsert(
        "m", F.lit("202402"), F.lit(9.9)).alias("v")).first().v
    assert got == {"202401": 1.0, "202402": 9.9}


# --- as-of join correctness on crafted data ------------------------------------

def test_asof_join(spark):
    import datetime as dt

    from travel_data_pipeline_spark.operators.joins import asof_join

    fact = spark.createDataFrame([
        ("USD", dt.datetime(2024, 1, 10), 100.0),
        ("USD", dt.datetime(2024, 1, 20), 200.0),
        ("EUR", dt.datetime(2024, 1, 5), 300.0),   # before any quote -> null
    ], "ccy string, ts timestamp, amount double")
    quotes = spark.createDataFrame([
        ("USD", dt.datetime(2024, 1, 1), 1300.0),
        ("USD", dt.datetime(2024, 1, 15), 1350.0),
        ("EUR", dt.datetime(2024, 1, 8), 1450.0),
    ], "ccy string, qts timestamp, rate double")

    out = asof_join(fact, quotes, "ccy", "ts", "qts", ["rate"])
    got = {(r.ccy, r.amount): r.rate for r in out.collect()}
    assert got == {("USD", 100.0): 1300.0,   # 01-10 -> quote of 01-01
                   ("USD", 200.0): 1350.0,   # 01-20 -> quote of 01-15
                   ("EUR", 300.0): None}     # 01-05 precedes 01-08 quote


# --- salted two-stage aggregation == plain aggregation ----------------------------

def test_salted_sum_equals_plain(spark, sf_smoke):
    from travel_data_pipeline_spark.operators.aggregates import salted_sum
    from travel_data_pipeline_spark.sources.readers import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    salted = {r.l_returnflag: r.total for r in
              salted_sum(li, ["l_returnflag"], "l_extendedprice", "total").collect()}
    plain = {r.l_returnflag: r.total for r in
             li.groupBy("l_returnflag")
             .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                  .cast("double").alias("total")).collect()}
    assert salted == plain


# --- property-style checks (SURVEY.md §5.4) ----------------------------------------

def test_clamp_always_in_range(spark):
    df = spark.range(-200, 200, 7).select(
        X.clamp(F.col("id").cast("double"), 0.0, 100.0).alias("v"))
    lo, hi = df.agg(F.min("v"), F.max("v")).first()
    assert lo >= 0.0 and hi <= 100.0


def test_approximate_aggregates_bounds(spark, sf_smoke):
    """Approximate aggregates (SURVEY.md §2.4 'absent in reference',
    engine exposes Spark's): approx_count_distinct within its published
    rsd, percentile_approx close to the exact interpolated percentile."""
    from travel_data_pipeline_spark.sources.readers import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
        F.percentile(F.col("l_extendedprice"), F.lit(0.5)).alias("p50_exact"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx"),
    ).first()
    assert abs(row.approx - row.exact) / row.exact < 0.05
    assert abs(row.p50_approx - row.p50_exact) / row.p50_exact < 0.02


def test_unpivot_roundtrip_count(spark, sf_smoke):
    from travel_data_pipeline_spark.sources.readers import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    longf = li.unpivot(["l_orderkey", "l_linenumber"],
                       ["l_quantity", "l_extendedprice", "l_discount"],
                       "measure", "value")
    assert longf.count() == li.count() * 3


# --- order-pinned float sum (functions/parity.py) --------------------------
# 1e16 absorbs a following 1.0 (one ulp there is 2.0), so this sum depends
# on addition order: folded in k order it is 1.0, in other orders 0.0 or
# 2.0.

_CANCEL = [(1, 1e16), (2, 1.0), (3, -1e16), (4, 1.0)]


def _hand_fold(value, key):
    """The spelling ordered_sum replaced, kept here as its reference."""
    return F.aggregate(F.array_sort(F.collect_list(F.struct(key, value))),
                       F.lit(0.0), lambda a, x: a + x[value])


@pytest.mark.parametrize("partitions", [1, 7, 200])
def test_ordered_sum_bits_match_hand_fold_and_duckdb(spark, partitions):
    import random

    import duckdb

    from travel_data_pipeline_spark.functions.parity import (
        ordered_sum, ordered_sum_sql,
    )

    rows = [(g, k, x) for g in range(3) for k, x in _CANCEL]
    random.Random(partitions).shuffle(rows)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        df = (spark.createDataFrame(rows, "g int, k int, x double")
              .repartition(partitions))
        got = (df.groupBy("g")
               .agg(ordered_sum("x", "k").alias("s"),
                    _hand_fold("x", "k").alias("h"))
               .orderBy("g").collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INT, k INT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    duck = con.execute(f"SELECT g, {ordered_sum_sql('x', 'k')} FROM t "
                       "GROUP BY g ORDER BY g").fetchall()
    assert [r.s for r in got] == [r.h for r in got] == [1.0] * 3
    assert [s for _, s in duck] == [1.0] * 3


def test_ordered_sum_empty_group_is_zero_on_both_engines(spark):
    import duckdb

    from travel_data_pipeline_spark.functions.parity import (
        ordered_fold, ordered_sum, ordered_sum_sql,
    )

    df = spark.createDataFrame(_CANCEL, "k int, x double")
    kept = df.filter(F.col("k") > 9)
    got = kept.agg(ordered_sum("x", "k").alias("s")).first().s
    arr = kept.agg(F.array_sort(F.collect_list(F.struct("k", "x")))
                   .alias("xs")).select(ordered_fold("xs", "x").alias("s"))
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k INT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", _CANCEL)
    duck = con.execute(f"SELECT {ordered_sum_sql('x', 'k')} FROM t "
                       "WHERE k > 9").fetchone()[0]
    unseeded = con.execute("SELECT list_reduce(list(x ORDER BY k), "
                           "(a, b) -> a + b) FROM t WHERE k > 9").fetchone()[0]
    assert got == arr.first().s == duck == 0.0
    assert unseeded is None  # why the helper keeps only the seeded form


def test_ordered_fold_term_function(spark):
    from travel_data_pipeline_spark.functions.parity import ordered_fold

    df = spark.createDataFrame(_CANCEL, "k int, x double")
    xs = F.array_sort(F.collect_list(F.struct("k", "x")))
    got = df.agg(ordered_fold(xs, "x").alias("s"),
                 ordered_fold(xs, lambda r: r["x"] * 2.0).alias("s2")).first()
    assert (got.s, got.s2) == (1.0, 2.0)


# Regrowth guard: order-pinned float sums go through functions/parity.py.
# Each hand-spelled site left is listed with why the pair cannot say it.
_FOLD_ALLOW = {
    ("queries_round10.py", "ipw_ate_stratified"):
        "FILTER (term IS NOT NULL) drops one-armed strata from the fold",
    ("queries_round11.py", "_aipw_oracle"):
        "FILTER drops one-armed strata; an empty fold is NULL on purpose",
    ("queries_round11.py", "_js_oracle"):
        "FILTER drops degenerate strata; an empty fold is NULL on purpose",
    ("queries_round11.py", "_placebo_oracle"):
        "FILTER drops one-armed strata; an empty fold is NULL on purpose",
    ("queries_round11.py", "_ate_boot_oracle"):
        "FILTER drops one-armed strata; an empty fold is NULL on purpose",
    ("queries_round18.py", "theta_method_forecast"):
        "exponential-smoothing recurrence, not a sum",
}
_DUCK_FOLD = re.compile(
    r"list_reduce\(\s*(?:list_prepend\(\s*0\.0,\s*)?list\(")


def _is_f(node, name):
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == name
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F")


def _sorted_list(node):
    """A collected (or named, already collected) list, maybe transformed."""
    if _is_f(node, "transform") and node.args:
        node = node.args[0]
    if (_is_f(node, "array_sort") or _is_f(node, "sort_array")) and node.args:
        return _is_f(node.args[0], "collect_list")
    return isinstance(node, ast.Constant) and isinstance(node.value, str)


def _hand_spelled_folds(src):
    """Lines of 0.0-seeded Spark folds over a collected list and of
    DuckDB list_reduce folds over an aggregate list()."""
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if (_is_f(node, "aggregate") and len(node.args) == 3
                and _sorted_list(node.args[0])
                and _is_f(node.args[1], "lit")
                and ast.literal_eval(node.args[1].args[0]) == 0.0):
            yield node.lineno
    for m in _DUCK_FOLD.finditer(src):
        yield src.count("\n", 0, m.start()) + 1


def _enclosing(tree, line):
    for stmt in tree.body:
        first = min([stmt.lineno] + [d.lineno for d in
                                     getattr(stmt, "decorator_list", [])])
        if first <= line <= stmt.end_lineno:
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                return stmt.name
            if isinstance(stmt, ast.Assign):
                return ast.unparse(stmt.targets[0])
    return "<module>"


def test_no_hand_spelled_ordered_sums():
    pkg = Path(__file__).resolve().parents[1] / "travel_data_pipeline_spark"
    hits, seen = [], set()
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).as_posix() == "functions/parity.py":
            continue
        src = path.read_text()
        tree = ast.parse(src)
        for line in _hand_spelled_folds(src):
            key = (path.relative_to(pkg).as_posix(), _enclosing(tree, line))
            seen.add(key)
            if key not in _FOLD_ALLOW:
                hits.append(f"{key[0]}:{line} ({key[1]})")
    assert not hits, ("order-pinned float sum spelled by hand; use "
                      f"functions/parity.ordered_sum*: {hits}")
    assert set(_FOLD_ALLOW) <= seen, f"stale: {set(_FOLD_ALLOW) - seen}"
