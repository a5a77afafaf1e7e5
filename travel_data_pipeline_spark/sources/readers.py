"""Typed readers for the engine's sources.

Reference source inventory (SURVEY.md §2.1): the crawlers/REST/pytrends
sources (S1-S3) are external to the engine — data lands raw and enters
through these schema'd readers, so the positional-cell HTML parse of
exchage_rate_crawler.py:158-180 becomes a fixed-schema scan. S4 (CSV),
S5 (JSON dims) and the parquet test tables are first-class here.

All readers return plain DataFrames; column pruning and predicate
pushdown stay with Catalyst (verify with .explain — PushedFilters /
ReadSchema must show the pruned set).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from travel_data_pipeline_spark import schemas

TABLE_NAMES = tuple(schemas.TABLES)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver parquet table with its registered schema.

    Parquet footers carry the authoritative schema; we read without an
    enforced schema (so the scan keeps parquet statistics + pushdown)
    but the registry in ``schemas.TABLES`` documents the contract.

    events.ts has shipped as TIMESTAMP(NANOS) and TIMESTAMP(MICROS,
    NTZ) across driver testdata generations, and the session may or
    may not carry legacy.parquet.nanosAsLong — normalize every
    combination to plain TIMESTAMP here so downstream code sees ONE
    dtype (r02 lesson: unix_micros rejects NTZ).
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # session has nanosAsLong=true: nanos long -> micros timestamp
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # session lacks the legacy knob: Spark reads TIMESTAMP(NANOS)
            # as TIMESTAMP_NTZ. Normalize to TIMESTAMP (session TZ is UTC,
            # so wall-clock values are unchanged) so every downstream
            # consumer — incl. unix_micros, which rejects NTZ — sees one
            # dtype in both the local and the driver session.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the full driver star schema + events/documents/embeddings."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S4 — CSV scan with explicit schema (never inferSchema in prod;
    reference: pd.read_csv at _archive/flight_avg_merge.py:22-23)."""
    return spark.read.csv(path, header=True, schema=schema)


def read_json_dim(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S5 — JSON config dimension scan (multiLine for config-style files;
    reference: module-level json.load at exchage_rate_crawler.py:45-47).
    Dimension frames are small by contract — join them with
    F.broadcast() (operators/joins.py)."""
    return spark.read.json(path, schema=schema, multiLine=True)


def read_keyed_json_dim(spark: SparkSession, path: str,
                        value_schema: T.StructType,
                        key_col: str = "key") -> DataFrame:
    """S5 — config dimension stored as ONE top-level JSON object keyed
    by code (the reference's exact shape: ``{"ARG": {...}, ...}`` in
    config/master_country_crawler.json, loaded via json.load at
    exchage_rate_crawler.py:45-47 / google_trends_processor.py:32-34).

    A keyed object is not row-oriented, so ``spark.read.json`` would
    produce one 59-field row. Instead: read wholetext, parse with
    ``from_json`` into MAP<STRING, value_schema>, ``explode`` to
    (key, struct) rows, flatten. Config dims are small by contract
    (<100 KB) — one wholetext row then an explode is the right shape;
    the result broadcasts into every downstream join."""
    m = F.from_json(F.col("value"),
                    T.MapType(T.StringType(), value_schema))
    return (spark.read.text(path, wholetext=True)
            .select(F.explode(m).alias(key_col, "_v"))
            .select(key_col, "_v.*"))


def read_json_events(spark: SparkSession, path: str,
                     schema: T.StructType) -> DataFrame:
    """S1/S3 analogue — landed raw JSON with a nested schema, PERMISSIVE
    mode so malformed rows surface in ``_corrupt_record`` (the engine
    version of the reference's skip-and-log at
    exchage_rate_crawler.py:190-197, F3).

    Note: Spark refuses queries that reference ONLY ``_corrupt_record``
    on a raw scan — ``.cache()`` the frame before auditing it.
    """
    full = T.StructType(schema.fields + [T.StructField("_corrupt_record", T.StringType())])
    return spark.read.json(path, schema=full, mode="PERMISSIVE",
                           columnNameOfCorruptRecord="_corrupt_record")
