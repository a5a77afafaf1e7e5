"""Output checks against computations made apart from the program.

Query results are compared with the query's registered oracle SQL run in
DuckDB over the same input directory, by the canonical sorted-string
compare the project's oracle tests use (columns sorted by name, every
cell rendered as a string, rows sorted). The streaming rollup is
compared with a DuckDB ``GROUP BY`` over the arrival files, and its
commit log must hold exactly one version per non-empty micro-batch plus
the creating one.

Only DuckDB and pandas are needed here, so the self-tests run it
without Spark.
"""

from __future__ import annotations

import math
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _parquet_glob(path: str) -> str:
    """A table written as a directory of part files is read through a glob."""
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def duck_connection(in_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        src = _parquet_glob(os.path.join(in_dir, f"{t}.parquet"))
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canonical(pdf) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """(sorted column names, sorted rows of string cells)."""
    cols = tuple(sorted(pdf.columns))
    rows = [tuple(_canon_cell(v) for v in row)
            for row in pdf[list(cols)].itertuples(index=False)]
    return cols, sorted(rows)


def mismatch(got, want, name: str) -> str | None:
    """None when the canonical forms agree, else a one-line reason."""
    g_cols, g_rows = got
    w_cols, w_rows = want
    if g_cols != w_cols:
        return f"{name}: columns {list(g_cols)} != {list(w_cols)}"
    if len(g_rows) != len(w_rows):
        return f"{name}: {len(g_rows)} rows != {len(w_rows)}"
    for g, w in zip(g_rows, w_rows):
        if g != w:
            return f"{name}: first differing row {g} != {w}"
    return None


ROLLUP_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d') AS day,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_bucket,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18, 2))) AS VARCHAR) AS total_value
FROM read_parquet({files})
GROUP BY ALL
"""


def expected_rollup(arrival_files: list[str]):
    """The hourly rollup computed by DuckDB straight from the arrival files."""
    files = "[" + ", ".join(f"'{f}'" for f in arrival_files) + "]"
    with duckdb.connect() as con:
        pdf = con.execute(ROLLUP_SQL.format(files=files)).df()
    return canonical(rollup_frame(pdf))


def rollup_frame(pdf):
    """Normalise a rollup frame from either engine to string sums and
    integer counts, so DECIMAL renderings compare exactly."""
    out = pdf[["day", "hour_bucket", "event_type", "n", "total_value"]].copy()
    out["n"] = out["n"].astype("int64")
    out["total_value"] = out["total_value"].map(str)
    return out


def commit_mismatch(versions: int, nonempty_batches: int) -> str | None:
    if versions != nonempty_batches + 1:
        return (f"rollup: {versions} committed versions != "
                f"{nonempty_batches} non-empty batches + 1")
    return None
