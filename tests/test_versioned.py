"""K5 versioned table: MERGE, partition-level copy-on-write, time
travel, crash safety — Delta semantics on plain parquet
(sources/versioned.py)."""

from __future__ import annotations

import glob
import os

import pytest

from travel_data_pipeline_spark.sources import versioned as V


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def seeded(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0), (4, "C", 40.0)],
        "id long, seg string, val double")
    assert V.write_table(base, path, partition_col="seg") == 1
    return path


def test_roundtrip_and_history(spark, seeded):
    got = _rows(V.read_table(spark, seeded).select("id", "seg", "val"))
    assert got == [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0),
                   (4, "C", 40.0)]
    assert V.history(seeded) == [
        {"version": 1, "op": "create", "touched": ["A", "B", "C"]}]


def test_merge_update_insert_and_time_travel(spark, seeded):
    batch = spark.createDataFrame(
        [(2, "A", 99.0), (5, "B", 50.0)], "id long, seg string, val double")
    assert V.merge_into(batch, seeded, keys=["id"]) == 2
    now = _rows(V.read_table(spark, seeded).select("id", "seg", "val"))
    assert now == [(1, "A", 10.0), (2, "A", 99.0), (3, "B", 30.0),
                   (4, "C", 40.0), (5, "B", 50.0)]
    # time travel: version 1 unchanged
    v1 = _rows(V.read_table(spark, seeded, version=1).select("id", "seg", "val"))
    assert v1 == [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0),
                  (4, "C", 40.0)]


def test_merge_rewrites_only_touched_partitions(spark, seeded):
    batch = spark.createDataFrame([(2, "A", 99.0)],
                                  "id long, seg string, val double")
    V.merge_into(batch, seeded, keys=["id"])
    man = V._read_manifest(seeded, 2)
    # A rewritten in v2; B and C still served from the v1 snapshot
    assert man["partitions"] == {"A": 2, "B": 1, "C": 1}
    assert not glob.glob(os.path.join(V._data_dir(seeded),
                                      f"{V.VERSION_DIR_COL}=2", "seg=B", "*"))


def test_merge_delete_condition_and_partition_drop(spark, seeded):
    # delete everything in partition C; also update row 1
    batch = spark.createDataFrame([(1, "A", 11.0), (4, "C", 40.0)],
                                  "id long, seg string, val double")
    V.merge_into(batch, seeded, keys=["id"], delete_condition="seg = 'C'")
    now = _rows(V.read_table(spark, seeded).select("id", "seg", "val"))
    assert now == [(1, "A", 11.0), (2, "A", 20.0), (3, "B", 30.0)]
    # fully-deleted partition left the manifest
    assert "C" not in V._read_manifest(seeded, 2)["partitions"]


def test_merge_null_partition_bucket_dedups(spark, tmp_path):
    """A NULL partition value must participate in the touched-partition
    read (collect_set drops NULLs — the null bucket is probed
    separately), or a re-merged null-partition key duplicates."""
    path = str(tmp_path / "nulltbl")
    base = spark.createDataFrame(
        [(1, None, 10.0), (2, "A", 20.0)], "id long, seg string, val double")
    V.write_table(base, path, partition_col="seg")
    batch = spark.createDataFrame(
        [(1, None, 99.0)], "id long, seg string, val double")
    V.merge_into(batch, path, keys=["id"])
    now = _rows(V.read_table(spark, path).select("id", "seg", "val"))
    assert now == [(1, None, 99.0), (2, "A", 20.0)]


@pytest.mark.parametrize("days", [["2024-01-02", "2024-01-03", None],
                                  ["007", "010"]])
def test_partition_column_reads_back_as_written_string(spark, tmp_path,
                                                       days):
    """Date-like and zero-padded partition values come back as the
    strings written, not as Spark's inferred DATE or integer, through
    read_table and through merge_into's read of touched partitions;
    a NULL value still reads as NULL."""
    path = str(tmp_path / "days")
    rows = list(enumerate(days))
    V.write_table(spark.createDataFrame(rows, "id long, day string"),
                  path, partition_col="day")
    got = V.read_table(spark, path)
    assert got.schema["day"].dataType.simpleString() == "string"
    assert _rows(got.select("id", "day")) == rows
    V.merge_into(spark.createDataFrame([(9, days[1])], "id long, day string"),
                 path, keys=["id"])
    assert _rows(V.read_table(spark, path).select("id", "day")) == \
        rows + [(9, days[1])]


def test_crash_before_pointer_swap_is_invisible(spark, seeded):
    # simulate a crash: v2 data + manifest written, _latest not swapped
    batch = spark.createDataFrame([(9, "A", 9.0)],
                                  "id long, seg string, val double")
    V._write_snapshot(batch, seeded, 2, "seg")
    with open(V._manifest_path(seeded, 2), "w") as fh:
        fh.write('{"version": 2, "op": "merge", "partition_col": "seg", '
                 '"partitions": {"A": 2}}')
    # no _latest swap -> readers still see version 1
    assert V.current_version(seeded) == 1
    got = _rows(V.read_table(spark, seeded).select("id"))
    assert got == [(1,), (2,), (3,), (4,)]


def test_unpartitioned_merge(spark, tmp_path):
    path = str(tmp_path / "flat")
    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    V.write_table(base, path)
    V.merge_into(spark.createDataFrame([(2, 99.0), (3, 30.0)],
                                       "id long, v double"), path, keys=["id"])
    assert _rows(V.read_table(spark, path)) == [(1, 10.0), (2, 99.0),
                                                (3, 30.0)]
    assert _rows(V.read_table(spark, path, version=1)) == [(1, 10.0),
                                                           (2, 20.0)]


def test_streaming_upsert_through_versioned_table(spark, tmp_path):
    """T3 on the versioned store: two micro-batch merges converge and
    every intermediate state stays time-travelable."""
    import travel_data_pipeline_spark.streaming.jobs as J

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame([(1, "A", 1.0), (2, "B", 2.0)],
                          "id long, seg string, val double") \
        .write.parquet(os.path.join(src, "b0"))
    V.write_table(spark.read.parquet(os.path.join(src, "b0")), tbl,
                  partition_col="seg")

    spark.createDataFrame([(2, "B", 22.0), (3, "A", 3.0)],
                          "id long, seg string, val double") \
        .write.parquet(os.path.join(src, "b1"))
    stream = (spark.readStream.schema("id long, seg string, val double")
              .parquet(os.path.join(src, "b1")))
    q = J.foreach_batch_merge_versioned(stream, tbl, ckpt, keys=("id",))
    q.awaitTermination(120)

    assert _rows(V.read_table(spark, tbl).select("id", "val")) == \
        [(1, 1.0), (2, 22.0), (3, 3.0)]
    ops = [h["op"] for h in V.history(tbl)]
    assert ops[0] == "create" and "merge" in ops


def test_merge_schema_evolution(spark, seeded):
    """Additive evolution: a batch with a new column merges in; rows
    from older snapshots read the column as NULL."""
    batch = spark.createDataFrame(
        [(2, "A", 99.0, "eur")],
        "id long, seg string, val double, ccy string")
    V.merge_into(batch, seeded, keys=["id"], merge_schema=True)
    now = _rows(V.read_table(spark, seeded)
                .select("id", "val", "ccy"))
    assert now == [(1, 10.0, None), (2, 99.0, "eur"),
                   (3, 30.0, None), (4, 40.0, None)]
    # strict mode drops unknown columns instead
    batch2 = spark.createDataFrame(
        [(3, "B", 33.0, "usd")],
        "id long, seg string, val double, extra string")
    V.merge_into(batch2, seeded, keys=["id"])
    assert "extra" not in V.read_table(spark, seeded).columns


def empty_rollup(spark, path: str) -> None:
    V.write_table(spark.createDataFrame(
        [], "day string, hour_bucket string, event_type string, "
            "n long, total_value decimal(18,2)"), path, partition_col="day")


def recompute_rollup(ev):
    """The hourly rollup of every event, recomputed in one batch."""
    from pyspark.sql import functions as F

    hour = F.date_trunc("hour", "ts")
    return (ev.groupBy(
                F.date_format(hour, "yyyy-MM-dd").alias("day"),
                F.date_format(hour, "yyyy-MM-dd HH:00").alias("hour_bucket"),
                "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                  .alias("total_value")))


def assert_same_rows(got, want) -> None:
    """Equal as multisets, column by column in ``want``'s order: a
    grain duplicated in place of a missing one fails, where equal
    counts plus a distinct union would pass it."""
    got = got.select(*want.columns)
    assert got.exceptAll(want).collect() == []
    assert want.exceptAll(got).collect() == []


def test_incremental_rollup_equals_recompute(spark, sf_smoke, tmp_path):
    """Two incremental maintenance batches over a time-split event
    stream must produce exactly the rollup a full recompute gives —
    grain counts and decimal sums bit-equal."""
    from pyspark.sql import functions as F

    from travel_data_pipeline_spark.sources.readers import load_table

    ev = load_table(spark, sf_smoke, "events")
    cut = ev.agg(F.percentile(F.unix_micros("ts"), F.lit(0.5))
                 .alias("c")).first().c
    first = ev.filter(F.unix_micros("ts") <= cut)
    second = ev.filter(F.unix_micros("ts") > cut)
    assert first.count() > 0 and second.count() > 0

    path = str(tmp_path / "rollup")
    empty_rollup(spark, path)
    V.maintain_hourly_rollup(first, path)
    V.maintain_hourly_rollup(second, path)

    assert_same_rows(V.read_table(spark, path), recompute_rollup(ev))


def test_rollup_null_timestamp_grain_accumulates(spark, tmp_path):
    """Events with a NULL ts share one (NULL day, NULL hour) grain per
    event type, kept in the null partition: two batches that each carry
    one NULL-ts view leave one row with n=2, not two rows with n=1. An
    empty batch commits nothing."""
    from decimal import Decimal

    path = str(tmp_path / "rollup")
    empty_rollup(spark, path)
    batch = spark.sql("SELECT CAST(NULL AS TIMESTAMP) AS ts, "
                      "'view' AS event_type, 1.5D AS value")
    assert V.maintain_hourly_rollup(batch, path) == 2
    assert V.maintain_hourly_rollup(batch, path) == 3
    assert V.maintain_hourly_rollup(batch.limit(0), path) == 3
    assert V.current_version(path) == 3
    got = [tuple(r) for r in V.read_table(spark, path).select(
        "day", "hour_bucket", "event_type", "n", "total_value").collect()]
    assert got == [(None, None, "view", 2, Decimal("3.00"))]
    assert V._read_manifest(path, 3)["partitions"] == {V._NULL_PART: 3}
