"""S1–S3 landing layer: raw JSONL -> schema'd readers -> the same
plan cores as the fixture path, result-identical (VERDICT r01 item 5)."""

from __future__ import annotations

import pytest

from travel_data_pipeline_spark import fixtures as FX
from travel_data_pipeline_spark.plans.exchange import (
    exchange_scores,
    exchange_scores_from,
)
from travel_data_pipeline_spark.plans.trends import trend_scores, trend_scores_from
from travel_data_pipeline_spark.queries_domain import (
    flatten_flights,
    flight_nested_flatten,
)
from travel_data_pipeline_spark.sources import landing


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("raw")
    landing.land_exchange_cells(str(d / "cells.jsonl"))
    landing.land_trends_rows(str(d / "trends.jsonl"))
    landing.land_flight_offers(str(d / "flights.jsonl"))
    return d


def test_landed_exchange_equals_fixture_path(spark, raw_dir):
    cells = landing.read_exchange_cells_raw(spark, str(raw_dir / "cells.jsonl"))
    master = FX.local_relation(spark, FX.COUNTRY_MASTER_ROWS,
                               FX.COUNTRY_MASTER_SCHEMA)
    assert _rows(exchange_scores_from(cells, master)) == \
        _rows(exchange_scores(spark))


def test_landed_trends_equals_fixture_path(spark, raw_dir):
    trends = landing.read_trends_raw(spark, str(raw_dir / "trends.jsonl"))
    alias_dim = FX.local_relation(spark, FX.COUNTRY_ALIAS_ROWS,
                                  FX.COUNTRY_ALIAS_SCHEMA)
    assert _rows(trend_scores_from(trends, alias_dim)) == \
        _rows(trend_scores(spark))


def test_landed_flights_equals_fixture_path(spark, raw_dir):
    raw = landing.read_flight_offers_raw(spark, str(raw_dir / "flights.jsonl"))
    assert _rows(flatten_flights(raw)) == _rows(flight_nested_flatten(spark, ""))


def test_landed_trends_ispartial_marker_dropped_on_read(spark, raw_dir):
    """P1: the raw JSONL carries pytrends' isPartial marker (one true
    row per series, on the max ts); the reader drops the column and
    keeps every row."""
    import json

    with open(raw_dir / "trends.jsonl", encoding="utf-8") as fh:
        raw_rows = [json.loads(line) for line in fh]
    assert all("isPartial" in r for r in raw_rows)
    n_series = len({(r["group_id"], r["keyword"]) for r in raw_rows})
    assert sum(r["isPartial"] for r in raw_rows) == n_series

    trends = landing.read_trends_raw(spark, str(raw_dir / "trends.jsonl"))
    assert "isPartial" not in trends.columns
    assert trends.count() == len(raw_rows)


def test_online_crawl_is_guarded(tmp_path):
    with pytest.raises(NotImplementedError):
        landing.land_exchange_cells(str(tmp_path / "x.jsonl"), online=True)
    with pytest.raises(NotImplementedError):
        landing.land_trends_rows(str(tmp_path / "y.jsonl"), online=True)
    with pytest.raises(NotImplementedError):
        landing.land_flight_offers(str(tmp_path / "z.jsonl"), online=True)


def test_landed_raw_feeds_streaming_leg(spark, raw_dir, tmp_path):
    """ROADMAP splice: the LANDED raw exchange cells, streamed as
    micro-batches through exchange_scores_stream, land on the batch
    pipeline's exact scores — the full crawl-shaped entry to the
    streaming engine without network."""
    from travel_data_pipeline_spark.plans.exchange import (
        exchange_scores,
        exchange_scores_stream,
    )

    stream = (spark.readStream
              .schema(FX.EXCHANGE_CELLS_SCHEMA)
              .option("pathGlobFilter", "cells.jsonl")
              .json(str(raw_dir)))
    out = exchange_scores_stream(spark, stream)
    q = (out.writeStream.format("memory").queryName("landed_ex_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r.country_code_3: (r.exchange_rate_change_percent,
                              r.exchange_rate_score)
           for r in spark.table("landed_ex_stream").collect()}
    batch = {r.country_code_3: (r.exchange_rate_change_percent,
                                r.exchange_rate_score)
             for r in exchange_scores(spark).collect()}
    assert got == batch
