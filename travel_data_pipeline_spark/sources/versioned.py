"""K5 — versioned table on plain parquet: MERGE, time travel, SCD2.

The reference's gold layer is Delta + Unity Catalog (README.md:86-87,
109-112 [prose-only]). Delta jars are not on this container's
classpath, so this module provides the same *semantics* Spark-first on
parquet + a JSON manifest — and becomes a thin shim the day
``format("delta")`` loads:

- **Snapshot isolation / atomic commit**: data files land first, the
  manifest for the new version lands second, and a tiny ``_latest``
  pointer is swapped last via an atomic rename. A crash at any point
  leaves readers on the previous version (orphan files are invisible).
- **MERGE INTO**: copy-on-write at PARTITION granularity — only
  partitions present in the source batch are rewritten; untouched
  partitions are carried forward by manifest reference. This is what
  keeps a streaming upsert sink O(touched-partitions) per micro-batch
  instead of O(table) (the round-1 advisor's scale concern).
- **Time travel**: every version's manifest is retained;
  ``read_table(..., version=N)`` reads the table as of N.

Layout::

    table/
      _latest                # text: current version (atomic swap)
      _manifests/v00003.json # {"version","op","partitions":{pval:ver}}
      data/tdpv=3/<part=...> # snapshot data, hive-partitioned

Scale notes: the manifest maps partition-value -> version, so its size
is O(partitions), not O(files) — the operational knob is partition
granularity, exactly as with any lakehouse table. Reads pass explicit
partition dirs with a shared basePath, so Spark restores partition
columns and still prunes/pushes down within each dir.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

VERSION_DIR_COL = "tdpv"  # internal hive key for snapshot dirs
_NO_PART = "__all__"
# Spark/Hive's directory name for a NULL partition value — what
# partitionBy() writes and what the post-write listing records in the
# manifest, so the merge path must speak the same name.
_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"v{version:05d}.json")


def _latest_path(path: str) -> str:
    return os.path.join(path, "_latest")


def current_version(path: str) -> int:
    """0 if the table does not exist yet."""
    try:
        with open(_latest_path(path), encoding="utf-8") as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return 0


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version), encoding="utf-8") as fh:
        return json.load(fh)


def _commit(path: str, manifest: dict) -> int:
    """Write manifest, then atomically swap the _latest pointer —
    the commit point. Everything before is invisible to readers."""
    os.makedirs(_manifest_dir(path), exist_ok=True)
    version = manifest["version"]
    with open(_manifest_path(path, version), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    fd, tmp = tempfile.mkstemp(dir=path, prefix="_latest")
    with os.fdopen(fd, "w", encoding="utf-8") as fh:
        fh.write(str(version))
    os.replace(tmp, _latest_path(path))  # atomic on POSIX
    return version


def _write_snapshot(df: DataFrame, path: str, version: int,
                    partition_col: str | None) -> list[str]:
    """Write df under data/tdpv=<version>/, hive-partitioned if asked.
    Returns the partition values written."""
    out = os.path.join(_data_dir(path), f"{VERSION_DIR_COL}={version}")
    writer = df.write.mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(out)
    if partition_col:
        # Learn the written partitions from the committed directory
        # layout — one filesystem metadata listing, O(partitions).
        # The previous distinct().collect() re-ran df's ENTIRE lineage
        # a second time just to learn these values (2x every versioned
        # write); the post-write listing is how real commit protocols
        # (Delta, Hive dynamic-partition overwrite) learn them too.
        # (Hive-escaping of exotic partition values is out of scope:
        # this table's partition values are dates/plain strings.)
        prefix = f"{partition_col}="
        parts = sorted(d[len(prefix):] for d in os.listdir(out)
                       if d.startswith(prefix))
    else:
        parts = [_NO_PART]
    return [str(p) for p in parts]


def write_table(df: DataFrame, path: str,
                partition_col: str | None = None) -> int:
    """Create or fully overwrite: a complete new snapshot."""
    version = current_version(path) + 1
    parts = _write_snapshot(df, path, version, partition_col)
    return _commit(path, {
        "version": version, "op": "overwrite" if version > 1 else "create",
        "partition_col": partition_col,
        "partitions": {p: version for p in parts},
    })


def _partition_dirs(path: str, man: dict, parts) -> list[str]:
    """The snapshot directories that hold ``parts`` (partition values of
    manifest ``man``): one per partition, or each whole snapshot of an
    unpartitioned table."""
    pcol = man["partition_col"]
    return sorted({os.path.join(_data_dir(path),
                                f"{VERSION_DIR_COL}={man['partitions'][p]}",
                                *([f"{pcol}={p}"] if pcol else []))
                   for p in parts})


def _read_parts(spark: SparkSession, path: str, man: dict, parts,
                **options: str) -> DataFrame:
    """The rows of ``parts`` (partition values of manifest ``man``).
    Partition dirs are passed explicitly with a shared basePath, so
    partition columns come back and scans prune per-dir. The partition
    column comes back as the string its directory was written with:
    Spark would infer its type (``2024-01-02`` reads as a DATE, ``007``
    as the integer 7), so the inferred schema is re-read with that
    column typed string."""
    reader = spark.read.options(basePath=_data_dir(path), **options)
    dirs = _partition_dirs(path, man, parts)
    pcol = man["partition_col"]
    if pcol:
        reader = reader.schema(StructType([
            StructField(f.name, StringType()) if f.name == pcol else f
            for f in reader.parquet(*dirs).schema]))
    return reader.parquet(*dirs).drop(VERSION_DIR_COL)


def read_table(spark: SparkSession, path: str,
               version: int | None = None) -> DataFrame:
    """The table as of ``version`` (default: latest)."""
    v = version if version is not None else current_version(path)
    if v < 1:
        raise FileNotFoundError(f"no committed version at {path}")
    man = _read_manifest(path, v)
    # mergeSchema: snapshots written before an additive schema change
    # surface the new columns as NULL
    return _read_parts(spark, path, man, man["partitions"],
                       mergeSchema="true")


def merge_into(source: DataFrame, path: str, keys: list[str],
               delete_condition: str | None = None,
               merge_schema: bool = False) -> int:
    """Delta ``MERGE INTO`` semantics: matched target rows are replaced
    by source rows, unmatched source rows are inserted; rows matching
    ``delete_condition`` (SQL over the merged relation) are dropped.

    Copy-on-write at partition granularity: only partitions that occur
    in ``source`` are rewritten; the rest carry forward by reference.
    The touched-partition list is collected driver-side — it is
    O(partition values in the batch), the same listing cost every
    lakehouse MERGE pays.

    ``merge_schema=True`` allows additive schema evolution: new source
    columns are kept (old rows read them as NULL via parquet
    mergeSchema); by default unknown columns are dropped, matching
    Delta's strict-schema default.
    """
    spark = source.sparkSession
    base_version = current_version(path)
    if base_version < 1:
        raise FileNotFoundError(
            f"merge_into target {path} does not exist; write_table first")
    man = _read_manifest(path, base_version)
    pcol = man["partition_col"]

    if pcol is None:
        touched = [_NO_PART]
        current = read_table(spark, path)
        relevant = source
    else:
        # The manifest is keyed by partition value, so the commit needs
        # the touched set driver-side — the same O(touched-partitions)
        # metadata every lakehouse MERGE commit carries. One single-row
        # action (set aggregated executor-side), not a row collect.
        from pyspark.sql import functions as F

        row = source.agg(
            F.collect_set(F.col(pcol).cast("string")).alias("vals"),
            # collect_set drops NULLs — probe the null bucket explicitly
            # in the SAME single-row action, or null-partition source
            # rows bypass the existing-partition dedup read below and
            # duplicate their keys
            F.max(F.col(pcol).isNull()).alias("has_null")).first()
        touched = sorted(str(v) for v in row["vals"])
        if row["has_null"]:
            touched.append(_NULL_PART)
        existing = [p for p in touched if p in man["partitions"]]
        if existing:
            current = _read_parts(spark, path, man, existing)
        else:
            current = source.limit(0)
        relevant = source

    kept = current.join(relevant.select(*keys).distinct(), keys, "left_anti")
    if merge_schema:
        merged = kept.unionByName(relevant, allowMissingColumns=True)
    else:
        merged = kept.unionByName(relevant.select(*current.columns))
    if delete_condition:
        merged = merged.filter(f"NOT ({delete_condition})")

    return _replace_partitions(merged, path, man, touched)


def _replace_partitions(df: DataFrame, path: str, man: dict,
                        touched: list[str],
                        stream: dict | None = None) -> int:
    """Commit ``df`` as the whole new content of the ``touched``
    partitions of the table at manifest ``man``; every other partition
    carries forward by reference, and a touched partition ``df`` leaves
    empty drops out of the manifest. ``stream`` (a micro-batch's
    checkpoint and epoch) is recorded in the manifest; without one the
    base manifest's record carries forward, so a later commit by
    another writer does not reopen an applied epoch."""
    version = man["version"] + 1
    written = _write_snapshot(df, path, version, man["partition_col"])
    partitions = dict(man["partitions"])
    for p in touched:       # fully-deleted partitions leave the manifest
        partitions.pop(p, None)
    for p in written:
        partitions[p] = version
    commit = {"version": version, "op": "merge",
              "partition_col": man["partition_col"], "partitions": partitions}
    stream = stream or man.get("stream")
    if stream:
        commit["stream"] = stream
    return _commit(path, commit)


def history(path: str) -> list[dict]:
    """Commit log, oldest first: version, op, partitions touched."""
    out = []
    for v in range(1, current_version(path) + 1):
        man = _read_manifest(path, v)
        out.append({"version": man["version"], "op": man["op"],
                    "touched": [p for p, sv in man["partitions"].items()
                                if sv == man["version"]]})
    return out


def maintain_hourly_rollup(batch: DataFrame, path: str) -> int:
    """Incremental continuous-aggregate maintenance (the hypertable /
    materialized-rollup pattern): aggregate the incoming event batch to
    (day, hour_bucket, event_type) grain, add it to the CURRENT rollup
    rows of exactly the days it touches, and commit the refreshed days
    as the whole new content of their partitions; untouched partitions
    carry forward by reference (merge_into's copy-on-write).

    The batch is read once: its delta (O(grains) rows) is aggregated
    once and pinned, the touched days (a NULL day is the null
    partition) are collected from it to the driver, and only those day
    directories of the current manifest are read, with the delta's
    schema, so no schema inference runs. The summed frame holds every
    row of the touched days, so no key probe or anti-join against the
    old rows is needed. An empty batch commits nothing. Counts and
    DECIMAL sums are exact, so incremental == full recompute
    bit-for-bit (asserted in tests/test_versioned.py).

    First call may target an empty table created via
    ``write_table(empty_rollup, path, partition_col='day')``.
    """
    return _maintain_rollup(batch, path, None)


def _maintain_rollup(batch: DataFrame, path: str,
                     stream: dict | None) -> int:
    """maintain_hourly_rollup for one micro-batch of a stream, when
    ``stream`` is ``{"checkpoint": <absolute path>, "epoch": <id>}``:
    the commit records it, and a batch whose checkpoint the latest
    manifest holds at an epoch >= this one was applied already, so it
    commits nothing. Returns the table's version after the call."""
    from pyspark.sql import functions as F

    base_version = current_version(path)
    man = _read_manifest(path, base_version)
    done = man.get("stream")
    if (stream and done and done["checkpoint"] == stream["checkpoint"]
            and done["epoch"] >= stream["epoch"]):
        return base_version
    hour = F.date_trunc("hour", "ts")
    grain = ["day", "hour_bucket", "event_type"]
    delta = (batch.groupBy(
                F.date_format(hour, "yyyy-MM-dd").alias("day"),
                F.date_format(hour, "yyyy-MM-dd HH:00").alias("hour_bucket"),
                "event_type")
             .agg(F.count("*").alias("n"),
                  F.sum(F.col("value").cast("decimal(18,2)"))
                   .cast("decimal(18,2)").alias("total_value"))
             .persist())
    try:
        touched = sorted({_NULL_PART if r.day is None else r.day
                          for r in delta.select("day").collect()})
        if not touched:
            return base_version
        if man["partition_col"] is None:
            touched = [_NO_PART]
        existing = [p for p in touched if p in man["partitions"]]
        if existing:
            current = (batch.sparkSession.read.schema(delta.schema)
                       .option("basePath", _data_dir(path))
                       .parquet(*_partition_dirs(path, man, existing))
                       .drop(VERSION_DIR_COL))
        else:
            current = delta.limit(0)
        # clustered by day, so each touched partition is written as one
        # file (the grain aggregate reuses that clustering), in grain
        # order (the writer's own sort by day is then a no-op)
        combined = (current.unionByName(delta).repartition("day")
                    .groupBy(*grain)
                    .agg(F.sum("n").cast("long").alias("n"),
                         F.sum("total_value").cast("decimal(18,2)")
                          .alias("total_value"))
                    .sortWithinPartitions(*grain))
        return _replace_partitions(combined, path, man, touched, stream)
    finally:
        delta.unpersist()
