"""Driver-mimicking differential tests: every registered query vs its
DuckDB oracle at sf0.01 (the driver's t2 gate, SURVEY.md §5.1)."""

from __future__ import annotations

import pytest

from tests.oracle_harness import compare, duck_connection


def _pairs():
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    return q, o


QUERIES, ORACLES = _pairs()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    df = QUERIES[name](spark, sf_dir)
    assert df.columns, f"{name}: no columns"
    if name not in ORACLES:
        # rows-only check (driver's weaker path for non-SQL ops)
        assert df.count() >= 0
        return
    problems = compare(df, duck, ORACLES[name], name)
    assert not problems, "\n".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns


def test_every_query_has_oracle_or_reason():
    missing = sorted(set(QUERIES) - set(ORACLES))
    # non-SQL-expressible ops are allowed to omit the oracle; keep the
    # list explicit so additions are deliberate.
    allowed_rows_only = {"multimodal_decode_meta",
                         "streaming_tumbling_watermark", "streaming_session_window",
                         "streaming_bronze_passthrough", "streaming_foreachbatch_merge"}
    unexpected = [m for m in missing if m not in allowed_rows_only]
    assert not unexpected, f"queries without oracle: {unexpected}"


def test_registered_queries_take_spark_and_sf_dir():
    """Every registered query honours the (spark, sf_dir) contract;
    the only further parameters are the injection seams non-test
    callers pass (tools/stress_*, dedup_scorecard), each defaulted."""
    import inspect

    from travel_data_pipeline_spark import registry

    seams = {"units", "pairs"}
    bad = []
    for name, fn in registry.QUERIES.items():
        params = list(inspect.signature(fn).parameters.values())
        if [p.name for p in params[:2]] != ["spark", "sf_dir"] or any(
                p.name not in seams or p.default is inspect.Parameter.empty
                for p in params[2:]):
            bad.append(f"{name}{inspect.signature(fn)}")
    assert not bad, f"queries off the (spark, sf_dir) contract: {bad}"
