"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the registered queries read (``region`` ...
``embeddings``, one parquet file each) with the schemas, physical types
and value shapes of the project's test data (FIXTURES.md section A), so
the queries and their DuckDB oracles run unchanged on them. Row counts
scale linearly with ``sf`` the way the test data does: sf 0.01 has
60 000 lineitem rows, sf 0.1 has 600 000.

The same ``(sf, seed)`` always gives byte-identical tables. Nothing here
imports the program under test.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EMBED_DIM = 64
N_LABELS = 10
# 2024-01-01T00:00:00 and a 30-day span, in microseconds
EVENTS_T0_US = 1_704_067_200_000_000
EVENTS_SPAN_US = 30 * 86_400_000_000


def _day_us(day: dt.date) -> int:
    return (day - dt.date(1970, 1, 1)).days * 86_400_000_000


def _random_days(rng: np.random.Generator, n: int, lo: dt.date,
                 hi: dt.date) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_day_us(lo) + days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(
            900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _random_days(rng, n_ord, dt.date(1995, 1, 1),
                                    dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _random_days(rng, n_line, dt.date(1995, 1, 2),
                                   dt.date(2001, 11, 4))})
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n_ev)) + EVENTS_T0_US
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; one in twenty is an earlier document plus a
    trailing ``dup`` token, so the near-duplicate queries find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors scattered round ``N_LABELS`` centres; label = centre."""
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def cut_arrivals(events: pa.Table, out_dir: str, n_files: int,
                 seed: int) -> list[int]:
    """Cut ``events`` (sorted by ts) into ``n_files`` arrival files by event
    time. The cut points are drawn from ``seed``: every file holds at least
    half the even share. Returns the row count of each file."""
    rng = np.random.default_rng(seed)
    n = events.num_rows
    share = n / n_files
    sizes = np.full(n_files, share * 0.5) + rng.dirichlet(
        np.ones(n_files)) * (n - share * 0.5 * n_files)
    bounds = np.concatenate([[0], np.round(np.cumsum(sizes)).astype(int)])
    bounds[-1] = n
    os.makedirs(out_dir, exist_ok=True)
    rows = []
    for i in range(n_files):
        part = events.slice(int(bounds[i]), int(bounds[i + 1] - bounds[i]))
        pq.write_table(part, os.path.join(out_dir, f"arrival-{i:03d}.parquet"))
        rows.append(part.num_rows)
    return rows
