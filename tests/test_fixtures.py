"""``fixtures.local_relation``: every type a caller passes comes back
exactly as the DDL says, as a JVM-side ``LocalTableScan`` (no Python
RDD), and nothing else in the package builds a DataFrame from a Python
list. Plus the DuckDB-side renderer ``_sql_literal``."""

from __future__ import annotations

import ast
import datetime as dt
import json
import math
import os
import signal
import struct
import subprocess
import sys
from decimal import Decimal
from pathlib import Path

import duckdb
from pyspark.sql import functions as F
from pyspark.sql import types as T

from travel_data_pipeline_spark import fixtures as FX

REPO_ROOT = Path(__file__).resolve().parents[1]


def _local(spark, rows, ddl):
    """local_relation(rows, ddl), checked for names, types and plan."""
    df = FX.local_relation(spark, rows, ddl)
    assert ([(f.name, f.dataType) for f in df.schema]
            == [(f.name, f.dataType) for f in T.StructType.fromDDL(ddl)])
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    return df


def test_local_relation_nonfinite_and_negative_zero_doubles(spark):
    got = [r.x for r in _local(spark, [(float("nan"),), (float("inf"),),
                                       (float("-inf"),), (-0.0,)],
                               "x double").collect()]
    assert math.isnan(got[0])
    assert got[1:3] == [math.inf, -math.inf]
    assert got[3] == 0.0 and math.copysign(1.0, got[3]) == -1.0


def test_local_relation_computed_doubles_are_bit_exact(spark):
    vals = [0.1 + 0.2, 1 / 3, 5e-324, 1.7976931348623157e308, 1e20,
            -2.5e-7]
    got = _local(spark, [(v,) for v in vals], "x double").collect()
    assert [struct.pack("<d", r.x) for r in got] == \
        [struct.pack("<d", v) for v in vals]


def test_local_relation_decimal(spark):
    vals = [Decimal("1234567890123456.78"), Decimal("-0.01"), None]
    got = _local(spark, [(v,) for v in vals], "d decimal(18,2)").collect()
    assert [r.d for r in got] == vals


def test_local_relation_date(spark):
    vals = [dt.date(2024, 2, 29), dt.date(1970, 1, 1)]
    got = _local(spark, [(v,) for v in vals], "d date").collect()
    assert [r.d for r in got] == vals


def test_local_relation_timestamp_microseconds(spark):
    vals = [dt.datetime(2024, 1, 1, 0, 0, 0, 1),
            dt.datetime(2024, 12, 31, 23, 59, 59, 999999),
            dt.datetime(2024, 6, 1, 12, 30)]
    df = _local(spark, [(v,) for v in vals], "ts timestamp")
    got = [r.s for r in df.select(F.col("ts").cast("string").alias("s"))
           .collect()]
    assert got == ["2024-01-01 00:00:00.000001",
                   "2024-12-31 23:59:59.999999", "2024-06-01 12:30:00"]


def test_local_relation_null_only_column(spark):
    got = _local(spark, [(None, 1), (None, 2)], "a double, b int").collect()
    assert [tuple(r) for r in got] == [(None, 1), (None, 2)]


def test_local_relation_empty_rows(spark):
    df = _local(spark, [], "bucket int, m int")
    assert df.count() == 0


def test_local_relation_nested_flight_schema(spark):
    got = _local(spark, FX.FLIGHT_ROWS, FX.FLIGHT_SCHEMA).collect()
    assert [r.asDict(recursive=True) for r in got] == FX.FLIGHT_ROWS


def test_local_relation_awkward_strings(spark):
    vals = ["it's", "back\\slash", "trail\\", "\\'", "''", "해외여행 영국",
            "line\nbreak", ""]
    got = _local(spark, [(v,) for v in vals], "s string").collect()
    assert [r.s for r in got] == vals


_TZ_PROBE = """
import json, os, sys, time
time.tzset()
from pyspark.sql import functions as F
from travel_data_pipeline_spark.plans.trends import ispartial_drop
from travel_data_pipeline_spark.session import get_spark
spark = get_spark("tz-probe", shuffle_partitions=2)
out = {}
for zone in sys.argv[1:]:
    os.environ["TZ"] = zone
    time.tzset()
    out[zone] = sorted({r[0] for r in ispartial_drop(spark).select(
        F.col("ts").cast("string")).collect()})
spark.stop()
print(json.dumps(out))
"""


def test_fixture_timestamps_ignore_the_host_time_zone():
    """The fixture's naive datetimes are wall times in the session zone
    (UTC), whatever zone the driver's OS is in: ``trends_ispartial_drop``
    must emit the fixture's own ts strings, as its DuckDB oracle does."""
    zones = ["Asia/Seoul", "America/New_York"]
    env = dict(os.environ, TZ=zones[0], SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   [str(REPO_ROOT), os.environ.get("PYTHONPATH", "")]))
    proc = subprocess.Popen(
        [sys.executable, "-c", _TZ_PROBE, *zones], stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, env=env, cwd=REPO_ROOT,
        start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=300)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    assert proc.returncode == 0
    want = sorted({f"{r[2]:%Y-%m-%d %H:%M:%S}" for r in FX.TRENDS_ROWS})
    got = json.loads(out.strip().splitlines()[-1])
    assert got == {z: want for z in zones}


def test_sql_literal_is_exact():
    row = (float("nan"), float("inf"), float("-inf"), -0.0, 0.5,
           dt.datetime(2024, 1, 1, 0, 0, 0, 5), dt.datetime(2024, 1, 1))
    # whole seconds keep the old bytes, so no existing oracle moves
    assert FX._sql_literal(row[-1]) == "TIMESTAMP '2024-01-01 00:00:00'"
    assert FX._sql_literal(0.5) == "0.5"
    cols = tuple(f"c{i}" for i in range(len(row)))
    got = duckdb.sql(f"SELECT * FROM {FX.values_cte([row], cols)}").fetchone()
    assert math.isnan(got[0])
    assert got[1:3] == (math.inf, -math.inf)
    assert math.copysign(1.0, got[3]) == -1.0
    assert got[4:] == row[4:]


# Package modules allowed to call createDataFrame, keyed by (module,
# enclosing top-level definition): a reason each. Empty: every Python
# list goes through fixtures.local_relation.
_CDF_ALLOW: dict[tuple[str, str], str] = {}


def _create_dataframe_calls(tree):
    for stmt in tree.body:
        for node in ast.walk(stmt):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                yield node.lineno, getattr(stmt, "name", "<module>")


def test_no_python_list_dataframes():
    pkg = REPO_ROOT / "travel_data_pipeline_spark"
    hits, seen = [], set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "fixtures.py":
            continue
        for line, where in _create_dataframe_calls(
                ast.parse(path.read_text())):
            seen.add((rel, where))
            if (rel, where) not in _CDF_ALLOW:
                hits.append(f"{rel}:{line} ({where})")
    assert not hits, ("createDataFrame builds a pickled Python RDD; use "
                      f"fixtures.local_relation: {hits}")
    assert set(_CDF_ALLOW) <= seen, f"stale: {set(_CDF_ALLOW) - seen}"
