"""Join operators — SURVEY.md §2.3 (J1-J9).

All reference joins are equi-joins done as dict lookups / pd.merge; here
they are DataFrame joins with an explicit policy layer:

- **J8 LEFT-JOIN coverage policy**: dimension joins default to
  ``how='left'`` with an explicit null-audit helper, never a silent
  inner join (README.md:119 — the reference's "90% of discarded data
  recovered" lesson).
- **Broadcast by declaration**: dimensions are small by contract
  (59-739 rows in the reference; any true dim at 100 TB scale is still
  MBs) so every dim join takes the ``F.broadcast`` hint — no shuffle of
  the fact side. J1's hand-built lookup index is exactly the hash-join
  build side we get for free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def broadcast_left(fact: DataFrame, dim: DataFrame,
                   on: str | Sequence[str] | Column,
                   how: str = "left") -> DataFrame:
    """The engine's standard dimension join (J2/J3/J5/J6 share it)."""
    return fact.join(F.broadcast(dim), on, how)


def null_audit(joined: DataFrame, dim_col: str) -> DataFrame:
    """J8's audit arm: rows the dimension failed to cover.

    The reference silently dropped these (F4/F5,
    exchage_rate_crawler.py:363-367, 596-602) until the LEFT-JOIN
    redesign; the engine keeps them queryable.
    """
    return joined.filter(F.col(dim_col).isNull())


def currency_fanout(rates: DataFrame, master: DataFrame,
                    key: str = "currency_code") -> DataFrame:
    """J2 — currency -> country fan-out join.

    One rate row joins to ALL countries using that currency; the
    reference special-cases EUR against a precomputed Eurozone list
    (exchage_rate_crawler.py:349-380, EUR at :52-59, 358-360). Here the
    1:N multiplicity of the join reproduces the fan-out with no special
    case, because every Eurozone master row carries currency_code='EUR'.
    """
    return broadcast_left(rates, master, key, "inner")


def standardize_join(facts: DataFrame, alias_dim: DataFrame,
                     raw_col: str, alias_col: str = "alias",
                     suffix: str = " 여행",
                     defaults: dict[str, str] | None = None) -> DataFrame:
    """J3 — keyword -> standard-country join with default fill.

    Strips the keyword suffix, left-joins the alias dimension, and
    coalesces misses to Unknown_* defaults
    (google_trends_processor.py:141-160).

    Suffix strip is the SAME replace-all spelling as
    scalars.keyword_to_name — the reference uses str.replace (all
    occurrences, un-anchored), and one engine-wide spelling keeps
    Spark/oracle agreement by construction, not by fixture luck.
    """
    from travel_data_pipeline_spark.functions.scalars import keyword_to_name

    defaults = defaults or {}
    cleaned = facts.withColumn("_std_key",
                               keyword_to_name(F.col(raw_col), suffix))
    joined = cleaned.join(F.broadcast(alias_dim),
                          cleaned["_std_key"] == alias_dim[alias_col], "left")
    out = joined.drop(alias_col)
    for col_name, default in defaults.items():
        out = out.withColumn(col_name, F.coalesce(F.col(col_name), F.lit(default)))
    return out.drop("_std_key")


def explode_join(fact: DataFrame, dim: DataFrame, dim_list_col: str,
                 fact_key: str, exploded_name: str | None = None,
                 how: str = "left") -> DataFrame:
    """J5 + X4 — explode a code-list column of the dimension, then join
    the fact on the exploded code (_archive/flight_avg_merge.py:94-106).
    The exploded dim stays tiny -> still broadcast."""
    exploded_name = exploded_name or fact_key
    dim_exploded = dim.withColumn(
        exploded_name,
        F.explode(F.split(F.regexp_replace(F.col(dim_list_col), r"[\[\]' ]", ""), ",")),
    ).drop(dim_list_col)
    return fact.join(F.broadcast(dim_exploded), exploded_name if exploded_name == fact_key
                     else fact[fact_key] == dim_exploded[exploded_name], how)


def map_literal_join(df: DataFrame, out_col: str, key_col: str,
                     mapping: dict[str, str]) -> Column | DataFrame:
    """J6 — dict-map join (ISO2 -> ISO3, _archive/flight_avg_merge.py:82-87).

    For truly tiny maps a map literal beats even a broadcast join: it is
    a pure expression, constant-folded, zero build side.
    """
    entries = [x for kv in mapping.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    return df.withColumn(out_col, F.element_at(F.create_map(*entries), F.col(key_col)))


def semi(fact: DataFrame, other: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """left_semi — EXISTS. (Capability-matrix op: absent in reference,
    free in Spark; powers F4's audit variant.)"""
    return fact.join(other, on, "left_semi")


def anti(fact: DataFrame, other: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """left_anti — NOT EXISTS."""
    return fact.join(other, on, "left_anti")


def salted_join(skewed: DataFrame, other: DataFrame, on: str,
                salt_buckets: int = 16, how: str = "inner") -> DataFrame:
    """Explicit salt-and-replicate equi-join for skewed keys.

    The skewed side gets a random salt in [0, B); the other side is
    replicated B times with every salt value; the join runs on
    (key, salt), spreading each hot key over B reducers. Result is
    row-identical to the plain join. Use when AQE is unavailable or the
    skew lives in an aggregation-feeding join AQE won't split; AQE's
    runtime path is tests/test_scale_patterns.py.

    Cost model: replicates ``other`` B times — only worth it when
    ``other`` is much smaller than the skewed side's hot partitions
    (the usual case: dim or pre-aggregated side).
    """
    salted = skewed.withColumn("_salt", (F.rand(seed=11) * salt_buckets)
                               .cast("int"))
    replicated = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])))
    out = salted.join(replicated, [on, "_salt"], how)
    return out.drop("_salt")


# Measured adoption point (tools/stress_skew.py, round 14): at a
# 200M-row zipf(1.5) fact (head key = 29.3% of all rows, 570k distinct
# keys) joined to its per-key counts with broadcast pinned off,
# salted_join(B=32) ran 23.2 s vs 33.6 s with AQE skew-join ON (1.45x)
# and 44.0 s with it OFF (1.90x), checksums bit-identical across all
# three arms. AQE's split only triggers past its 256 MB partition
# threshold and re-sorts each hot chunk; salting spreads the hot key
# BEFORE the shuffle. Below the threshold share the plain join wins
# (no x``B`` replication of ``other``, AQE handles residual skew).
SKEW_HEAD_SHARE = 0.05
SKEW_PROBE_FRACTION = 0.001
SKEW_MIN_PROBE_ROWS = 200


def skew_routed_join(skewed: DataFrame, other: DataFrame, on: str,
                     salt_buckets: int = 32, how: str = "inner",
                     head_share_threshold: float = SKEW_HEAD_SHARE,
                     probe_fraction: float = SKEW_PROBE_FRACTION,
                     min_probe_rows: int = SKEW_MIN_PROBE_ROWS,
                     route_out: dict | None = None) -> DataFrame:
    """Skew-probe auto-routed equi-join (VERDICT r13 #1).

    CONTRACT — runs an EAGER probe at construction (the ivf/bloom
    routing idiom; bench accounts it via build_sec): a seeded
    ``probe_fraction`` row sample of ``skewed`` is key-counted and the
    head key's in-sample share estimated. At or above
    ``head_share_threshold`` the join routes to :func:`salted_join`
    (measured 1.45x over AQE skew-join at the adoption point above);
    below it, the plain join — Catalyst may then broadcast ``other``
    or let AQE split residual skew. Result rows are identical either
    way. The sample is deterministic for a fixed input partitioning
    (seeded Bernoulli per partition); near-threshold inputs may route
    differently across repartitionings — both routes are correct.

    At 100 TB the probe is one column-pruned 0.1% scan of the fact —
    bounded, and far cheaper than discovering the straggler in the
    shuffle itself.
    """
    sample = (skewed.select(on).sample(fraction=probe_fraction, seed=14)
              .groupBy(on).count()
              .agg(F.max("count").alias("mx"),
                   F.sum("count").alias("tot"))
              .first())
    tot = sample["tot"] or 0
    head_share = (sample["mx"] / tot) if tot else 0.0
    # a sub-``min_probe_rows`` sample can report a spurious 100% head
    # share (one key drawn twice in a handful of rows); too small to
    # establish skew -> plain join, and route_out says so
    salt = tot >= min_probe_rows and head_share >= head_share_threshold
    if route_out is not None:
        route_out.update({"route": "salted" if salt else "plain",
                          "head_share_est": round(head_share, 4),
                          "probe_rows": tot})
    if salt:
        return salted_join(skewed, other, on,
                           salt_buckets=salt_buckets, how=how)
    return skewed.join(other, on, how)


def asof_join(fact: DataFrame, quotes: DataFrame, key: str,
              fact_ts: str, quote_ts: str,
              quote_cols: Sequence[str],
              strict: bool = False) -> DataFrame:
    """As-of join — nearest quote at-or-before each fact timestamp
    (strictly-before when ``strict``; equal-timestamp quotes are then
    invisible to the fact row, the self-join spelling of "previous").

    Natural extension flagged in SURVEY.md §2.3 ("nearest
    exchange-rate-at-time lookups"). Spark lacks a native as-of join;
    the scalable composition is union + window ``last(ignorenulls)``
    partitioned by key — one shuffle on (key), no range explosion:

    tag both sides, union, sort by ts within key, carry the last quote
    value forward onto fact rows.
    """
    from pyspark.sql import Window

    quote_types = dict(quotes.dtypes)
    fact_types = dict(fact.dtypes)
    fact_cols = list(fact.columns)

    f_side = fact.withColumn("_ts", F.col(fact_ts)).withColumn("_is_quote", F.lit(0))
    for c in quote_cols:
        f_side = f_side.withColumn(c, F.lit(None).cast(quote_types[c]))

    q_side = quotes.withColumn("_ts", F.col(quote_ts)).withColumn("_is_quote", F.lit(1))
    for c in fact_cols:
        if c not in q_side.columns:
            q_side = q_side.withColumn(c, F.lit(None).cast(fact_types[c]))

    merged = f_side.select(*fact_cols, "_ts", "_is_quote", *quote_cols).unionByName(
        q_side.select(*fact_cols, "_ts", "_is_quote", *quote_cols))
    # at equal _ts: quote-first (desc) makes the join at-or-before;
    # fact-first (asc) hides the same-instant quote -> strictly-before
    tie = F.col("_is_quote").asc() if strict else F.col("_is_quote").desc()
    w = (Window.partitionBy(key).orderBy(F.col("_ts").asc(), tie)
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = merged.select(
        *fact_cols, "_is_quote",
        *[F.last(F.when(F.col("_is_quote") == 1, F.col(c)), ignorenulls=True)
           .over(w).alias(c) for c in quote_cols],
    )
    return carried.filter(F.col("_is_quote") == 0).drop("_is_quote")


def nearest_join(fact: DataFrame, quotes: DataFrame, key: str,
                 fact_ts: str, quote_ts: str, quote_id: str,
                 tolerance: int | None = None) -> DataFrame:
    """Nearest-timestamp join — pandas ``merge_asof`` with
    ``direction='nearest'`` (+ optional ``tolerance``), the
    bidirectional sibling of :func:`asof_join`.

    Each fact row matches the quote with the smallest
    ``|quote_ts - fact_ts|`` (same units both sides); when no quote is
    within ``tolerance`` the match columns are null (LEFT semantics —
    the J8 coverage policy). Ties are total-ordered so the result is
    deterministic under any partitioning: equal distance prefers the
    at-or-before quote; equal-timestamp quotes resolve to the max
    ``quote_id`` backward and the min ``quote_id`` forward.

    Scale shape: ONE union relation, two ordered window scans per key
    (backward + forward carry of the last quote seen) and a per-row
    CASE — one shuffle on ``key``, per-key window state of one struct,
    no range join and no per-row probe at any scale.

    Returns the fact columns + ``nearest_id`` / ``nearest_ts``.
    """
    from pyspark.sql import Window

    fact_cols = list(fact.columns)
    fact_types = dict(fact.dtypes)
    qid_type = dict(quotes.dtypes)[quote_id]
    # both _ts legs cast to the FACT timestamp type (ADVICE r05: the
    # old cast-to-own-type was a no-op; a type mismatch would silently
    # widen the union column and break the delta arithmetic contract)
    ts_type = fact_types[fact_ts]

    f_side = (fact
              .withColumn("_ts", F.col(fact_ts).cast(ts_type))
              .withColumn("_is_quote", F.lit(0))
              .withColumn("_qid", F.lit(None).cast(qid_type)))
    q_side = quotes.select(
        F.col(key), F.col(quote_ts).cast(ts_type).alias("_ts"),
        F.lit(1).alias("_is_quote"), F.col(quote_id).alias("_qid"))
    for c in fact_cols:
        if c not in q_side.columns:
            q_side = q_side.withColumn(c, F.lit(None).cast(fact_types[c]))
    cols = [*fact_cols, "_ts", "_is_quote", "_qid"]
    merged = f_side.select(*cols).unionByName(q_side.select(*cols))

    qstruct = F.when(F.col("_is_quote") == 1,
                     F.struct(F.col("_ts").alias("q_ts"),
                              F.col("_qid").alias("q_id")))
    # equal-_ts rows: quotes first (_is_quote desc) so a same-instant
    # quote is visible to the fact in BOTH scans; _qid direction picks
    # the max id backward / min id forward as the "last seen"
    wback = (Window.partitionBy(key)
             .orderBy(F.col("_ts").asc(), F.col("_is_quote").desc(),
                      F.col("_qid").asc())
             .rowsBetween(Window.unboundedPreceding, 0))
    wfwd = (Window.partitionBy(key)
            .orderBy(F.col("_ts").desc(), F.col("_is_quote").desc(),
                     F.col("_qid").desc())
            .rowsBetween(Window.unboundedPreceding, 0))
    scanned = (merged
               .withColumn("_b", F.last(qstruct, ignorenulls=True).over(wback))
               .withColumn("_f", F.last(qstruct, ignorenulls=True).over(wfwd))
               .filter(F.col("_is_quote") == 0))

    b_ts, f_ts = F.col("_b.q_ts"), F.col("_f.q_ts")
    take_back = F.col("_b").isNotNull() & (
        F.col("_f").isNull()
        | (F.col("_ts") - b_ts <= f_ts - F.col("_ts")))
    chosen = scanned.select(
        *fact_cols,
        F.when(take_back, F.col("_b.q_id")).otherwise(F.col("_f.q_id"))
        .alias("nearest_id"),
        F.when(take_back, b_ts).otherwise(f_ts).alias("nearest_ts"))
    if tolerance is not None:
        in_tol = (F.col("nearest_id").isNotNull()
                  & (F.abs(F.col("nearest_ts") - F.col(fact_ts))
                     <= tolerance))
        chosen = chosen.select(
            *fact_cols,
            F.when(in_tol, F.col("nearest_id")).alias("nearest_id"),
            F.when(in_tol, F.col("nearest_ts")).alias("nearest_ts"))
    return chosen
