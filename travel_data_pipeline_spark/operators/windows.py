"""Window / ordered operators — SURVEY.md §2.5 (W1-W4) + the ranking
family the reference lacks but the engine exposes.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# W2 — top-k per group (_archive/flight_avg_merge.py:67-74: sort by price
# asc + drop_duplicates keep='first' == row_number()==1).
# ---------------------------------------------------------------------------

def topk_per_group(df: DataFrame, part_keys: Sequence[str],
                   order_by: Sequence[Column], k: int = 1,
                   rank_col: str = "rn") -> DataFrame:
    """The canonical Spark top-k-per-group. ``order_by`` must be a total
    order (include tie-break keys) or results are nondeterministic.

    Scale note: one shuffle on part_keys; for k=1 prefer
    ``max_by``/``min_by`` (no sort) when only one payload column is
    needed — this generic form keeps the whole row.
    """
    w = Window.partitionBy(*part_keys).orderBy(*order_by)
    return (df.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k))


# ---------------------------------------------------------------------------
# W1 — trailing observation windows (rolling form).
# google_trends_crawler.py:71-72 — last-15 vs previous-15 rows.
# ---------------------------------------------------------------------------

def rolling_mean(df: DataFrame, part_keys: Sequence[str], ts: str, value: str,
                 n: int, alias: str = "rolling_mean") -> DataFrame:
    w = (Window.partitionBy(*part_keys).orderBy(F.col(ts))
         .rowsBetween(-(n - 1), 0))
    return df.withColumn(alias, F.avg(value).over(w))


# ---------------------------------------------------------------------------
# W4 — unpivot (wide -> long), the engine-side form of the per-keyword
# column loop over the wide pytrends frame (google_trends_crawler.py:77-124).
# ---------------------------------------------------------------------------

def unpivot(df: DataFrame, id_cols: Sequence[str], value_cols: Sequence[str],
            var_name: str = "key", value_name: str = "value") -> DataFrame:
    """Built on DataFrame.unpivot (Spark >= 3.4) — melts to long form."""
    return df.unpivot(list(id_cols), list(value_cols), var_name, value_name)


# ---------------------------------------------------------------------------
# Batch sessionization — lag(ts) + cumulative sum on gap > threshold
# (streaming twin: session_window in streaming/jobs.py).
# ---------------------------------------------------------------------------

def sessionize(df: DataFrame, key: str, ts: str,
               gap_minutes: int = 30) -> DataFrame:
    """Assign session ids per key; emits one row per session with start,
    end, and event count. Matches Structured Streaming's
    session_window(start=min(ts), end=max(ts)+gap) semantics."""
    w = Window.partitionBy(key).orderBy(F.col(ts))
    # Exact microsecond integer comparison: cast('long') would floor to whole
    # seconds and disagree with a fractional-precision oracle for true gaps
    # within ~1s of the threshold.
    gap_us = F.lit(gap_minutes * 60 * 1_000_000)
    # cast first: unix_micros rejects TIMESTAMP_NTZ, and callers may pass
    # frames that didn't go through readers.load_table's normalization.
    micros = F.unix_micros(F.col(ts).cast("timestamp"))
    flagged = df.withColumn(
        "_new_session",
        F.when(micros - F.lag(micros).over(w) > gap_us,
               F.lit(1)).otherwise(F.lit(0)))
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("_new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (sessions.groupBy(key, "session_seq")
            .agg(F.min(ts).alias("session_start"),
                 (F.max(ts) + F.expr(f"INTERVAL {gap_minutes * 60} SECONDS"))
                  .alias("session_end"),
                 F.count("*").alias("n_events")))


# ---------------------------------------------------------------------------
# SCD2 — collapse an ordered change stream into type-2 validity ranges
# (gaps-and-islands). The reference's gold layer stores history in
# Delta (README.md:109-112 [prose-only]); this is the transformation
# that produces it, independent of the storage (sources/versioned.py
# provides the MERGE/time-travel storage side).
# ---------------------------------------------------------------------------

def scd2_collapse(df: DataFrame, entity: str, attr: str, ts: str,
                  tiebreak: Sequence[str] = ()) -> DataFrame:
    """(entity, attr, valid_from, valid_to, is_current): consecutive
    runs of the same ``attr`` value per entity merge into one validity
    range; ``valid_to`` is the next range's start (NULL = current).

    One shuffle on entity; both window passes reuse the partitioning.
    ``tiebreak`` must make the order total or ranges are
    nondeterministic.
    """
    order = [F.col(ts)] + [F.col(c) for c in tiebreak]
    w = Window.partitionBy(entity).orderBy(*order)
    prev = F.lag(F.col(attr)).over(w)
    changed = (~prev.eqNullSafe(F.col(attr))).cast("int")
    islands = (df.withColumn("_chg", changed)
               .withColumn("_island", F.sum("_chg").over(
                   w.rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow))))
    ranges = (islands.groupBy(entity, "_island")
              .agg(F.max(attr).alias(attr),
                   F.min(ts).alias("valid_from")))
    w2 = Window.partitionBy(entity).orderBy("valid_from")
    return (ranges
            .withColumn("valid_to", F.lead("valid_from").over(w2))
            .withColumn("is_current", F.col("valid_to").isNull())
            .select(entity, attr, "valid_from", "valid_to", "is_current"))


def merge_intervals(df: DataFrame, key: str, start: str,
                    end: str) -> DataFrame:
    """Merge overlapping-or-touching ``[start, end]`` intervals per
    key — the gaps-and-islands union (coverage, session stitching,
    blackout windows).

    An interval starts a new island iff its start exceeds the running
    max of every PRIOR interval's end (exclusive-preceding frame);
    the island id is the running count of such starts. Per-key window
    state is one running max + one counter, so the cost is one key
    shuffle + an ordered scan regardless of per-key row counts.

    Returns one row per merged interval: (key, island, start, end).
    """
    wprev = (Window.partitionBy(key).orderBy(start, end)
             .rowsBetween(Window.unboundedPreceding, -1))
    wcum = (Window.partitionBy(key).orderBy(start, end)
            .rowsBetween(Window.unboundedPreceding, 0))
    return (df
            .withColumn("_new",
                        F.when(F.max(end).over(wprev) >= F.col(start), 0)
                        .otherwise(1))
            .withColumn("island", F.sum("_new").over(wcum).cast("long"))
            .groupBy(key, "island")
            .agg(F.min(start).alias(start), F.max(end).alias(end)))


# ---------------------------------------------------------------------------
# Two-phase global ordering (rank / running sums) — the scale-safe
# replacement for ``Window.orderBy(...)`` with no partitionBy, which
# Spark executes as a SINGLE-partition sort: correct at sf0.1, a
# one-reducer funnel at 100 TB. Generalizes the prefix-offset pattern
# first used in queries_tpch.t2_task_messages.
# ---------------------------------------------------------------------------

def two_phase_ordered(df: DataFrame, order_cols: Sequence[Column | str],
                      bucket_on: Column, *, rank_col: str | None = None,
                      cumsum_cols: dict[str, str] | None = None,
                      cummax_cols: dict[str, str] | None = None,
                      num_buckets: int = 64,
                      rel_err: float = 0.001,
                      materialize: bool = True) -> DataFrame:
    """Global ``row_number()`` and/or inclusive running ``sum()`` over
    ``ORDER BY order_cols`` without a single-partition sort.

    Phase 1 buckets rows by approximate quantiles of ``bucket_on``
    (boundaries become literals, so both passes below assign buckets
    identically — no reliance on exchange reuse or sampling seeds);
    phase 2 ranks/accumulates WITHIN each bucket in parallel and adds
    broadcast per-bucket offsets (count / sum of all lower buckets).
    Bit-identical to the global window when:

    * ``order_cols`` is a TOTAL order (include tie-break keys), and
    * ``bucket_on`` is numeric, null-free, and non-decreasing along
      that order — negate for DESC heads; for tie-heavy heads fold a
      fractional tie-break term (see ``prefix_code`` /
      dedup.ppjoin_routed_pairs) so quantiles can actually split.

    Cost: one ``approxQuantile`` action (a planning probe, same
    discipline as dedup.ppjoin_candidate_bound), two passes over
    ``df`` (per-bucket stats + the windowed pass), and one broadcast
    join. The offsets window runs over <= num_buckets rows — a
    CONSTANT, never data-scaled; every data-scaled sort happens
    inside buckets of ~1/num_buckets of the rows.

    ``cumsum_cols`` maps source column -> output alias (inclusive
    frame, ``ROWS UNBOUNDED PRECEDING``); exclusive variants are
    ``alias - source`` at the call site. ``cummax_cols`` is the
    running-``max()`` sibling (same inclusive frame): per-bucket max
    offsets combine with the bucket-local running max via
    ``greatest`` (null-skipping, so bucket 0 needs no sentinel).

    ``cumsum_cols`` sources must be EXACT types (integers/decimals —
    the repo-wide float discipline already requires this): the
    two-phase sum associates as offset + bucket-local scan, which for
    raw doubles can differ from the sequential global scan in the
    last ulp whenever a bucket boundary re-parenthesizes the
    addition (hypothesis-found, round 7). max is order-free, so
    ``cummax_cols`` carries no such restriction.
    """
    cumsum_cols = dict(cumsum_cols or {})
    cummax_cols = dict(cummax_cols or {})
    if materialize:
        # r14: the input is consumed three times (quantile probe,
        # per-bucket stats, the tagged windowed pass) — every caller
        # was paying its full upstream lineage per pass. persist(),
        # not an eager localCheckpoint: the quantile probe is an
        # action anyway, so the cache still fills exactly once at
        # construction, but persist skips the checkpoint's
        # planning/RDD machinery and keeps lineage (evicted blocks
        # recompute instead of failing). Measured over five callers:
        # 7.30 -> 6.43 s build+exec. Pass materialize=False when the
        # caller already persists/checkpoints.
        df = df.persist()
    probs = [i / num_buckets for i in range(1, num_buckets)]
    probe = df.select(bucket_on.cast("double").alias("_tpk"))
    bounds = sorted(set(probe.approxQuantile("_tpk", probs, rel_err)))
    key = bucket_on.cast("double")

    def _bsearch(lo: int, hi: int) -> Column:
        # upper-bound binary search compiled to a lazy CASE tree:
        # O(log num_buckets) comparisons per row (the O(num_buckets)
        # array-filter form measured 4.5x slower at 20M rows)
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (F.when(key >= F.lit(float(bounds[mid])),
                       _bsearch(mid + 1, hi))
                .otherwise(_bsearch(lo, mid)))

    # empty input -> no bounds -> single bucket 0, degenerate but correct
    bucket = _bsearch(0, len(bounds)).cast("int")
    tagged = df.withColumn("_tpb", bucket)

    aggs = [F.count("*").alias("_tpn")]
    aggs += [F.sum(src).alias(f"_tps_{src}") for src in cumsum_cols]
    aggs += [F.max(src).alias(f"_tpm_{src}") for src in cummax_cols]
    stats = tagged.groupBy("_tpb").agg(*aggs)
    w_off = Window.orderBy("_tpb").rowsBetween(Window.unboundedPreceding, -1)
    off_sel = [F.col("_tpb"),
               F.coalesce(F.sum("_tpn").over(w_off), F.lit(0))
                .alias("_tpoff_n")]
    off_sel += [F.coalesce(F.sum(f"_tps_{src}").over(w_off), F.lit(0))
                .alias(f"_tpoff_{src}") for src in cumsum_cols]
    off_sel += [F.max(f"_tpm_{src}").over(w_off)  # NULL for bucket 0
                .alias(f"_tpoffm_{src}") for src in cummax_cols]
    offsets = stats.select(*off_sel)

    out = tagged.join(F.broadcast(offsets), "_tpb")
    w_rank = Window.partitionBy("_tpb").orderBy(*order_cols)
    w_sum = w_rank.rowsBetween(Window.unboundedPreceding, 0)
    if rank_col is not None:
        out = out.withColumn(
            rank_col,
            (F.col("_tpoff_n") + F.row_number().over(w_rank)).cast("long"))
    for src, alias in cumsum_cols.items():
        out = out.withColumn(
            alias, F.col(f"_tpoff_{src}") + F.sum(src).over(w_sum))
    for src, alias in cummax_cols.items():
        out = out.withColumn(
            alias, F.greatest(F.col(f"_tpoffm_{src}"),
                              F.max(src).over(w_sum)))
    drop = ["_tpb", "_tpoff_n"] + [f"_tpoff_{src}" for src in cumsum_cols] \
        + [f"_tpoffm_{src}" for src in cummax_cols]
    return out.drop(*drop)


def two_phase_kth(df: DataFrame, order_cols: Sequence[Column | str],
                  bucket_on: Column, k, *,
                  num_buckets: int = 64,
                  rel_err: float = 0.001,
                  rank_col: str | None = None,
                  n_col: str | None = None) -> DataFrame:
    """The k-th row(s) (1-based) of ``df`` under ``ORDER BY order_cols``
    without a global sort OR a full two-phase rank — the exact
    order-statistic sibling of ``two_phase_ordered`` (r14).

    ``k`` may be an int, any non-string iterable of ints (optimization r15: a
    bounded set of order statistics — quartile grids — picked in ONE
    pass instead of one full rank per statistic), or a callable
    ``n_rows -> k`` / ``n_rows -> [k, ...]`` evaluated on the phase-1
    total so rank indices defined relative to COUNT(*) (the conformal
    ceil((n+1)(1-alpha)) form, the QTE (q*n+3)//4 grid) need no extra
    counting pass.

    ``rank_col`` (optional) emits each picked row's GLOBAL rank — the
    multi-k caller's key for mapping rows back to their quantile.
    ``n_col`` (optional) emits the phase-1 row total as a literal
    column, replacing a separate COUNT(*) pass at the call site.

    Same contract: ``order_cols`` must be a total order and
    ``bucket_on`` numeric, null-free, non-decreasing along it. Phase 1
    buckets rows by approxQuantile literals and collects the per-bucket
    counts (a BOUNDED <= num_buckets-row planning collect, the
    ppjoin_candidate_bound discipline); phase 2 ranks ONLY inside the
    buckets that contain a requested global rank — ~|ks|/num_buckets
    of the rows — where ``two_phase_ordered`` windowed every bucket
    and paid an extra broadcast-offsets join. Ties on ``bucket_on``
    share a bucket (the binary search compares ``>= bound`` only), so
    the bucket-local (order_cols) rank k - offset is exactly the
    global rank k. Out-of-range ks contribute zero rows.
    """
    # probe + bucket counts + the final bucket-local rank are three
    # passes over df — same discipline (and the same measured
    # persist-over-checkpoint choice) as two_phase_ordered
    df = df.persist()
    probs = [i / num_buckets for i in range(1, num_buckets)]
    probe = df.select(bucket_on.cast("double").alias("_tpk"))
    bounds = sorted(set(probe.approxQuantile("_tpk", probs, rel_err)))
    key = bucket_on.cast("double")

    def _bsearch(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (F.when(key >= F.lit(float(bounds[mid])),
                       _bsearch(mid + 1, hi))
                .otherwise(_bsearch(lo, mid)))

    tagged = df.withColumn("_tpb", _bsearch(0, len(bounds)).cast("int"))
    counts = sorted((r["_tpb"], r["c"]) for r in
                    tagged.groupBy("_tpb").agg(F.count("*").alias("c"))
                    .collect())
    n_rows = sum(c for _, c in counts)
    if callable(k):
        k = k(n_rows)
    ks = (sorted({int(x) for x in k})
          if isinstance(k, Iterable) and not isinstance(k, (str, bytes))
          else [int(k)])
    # (bucket, local_k, global_k) for every in-range requested rank
    hits: list[tuple[int, int, int]] = []
    for kv in ks:
        off = 0
        for b, c in counts:
            if off < kv <= off + c:
                hits.append((b, kv - off, kv))
                break
            off += c
    if not hits:  # every k out of range -> empty, like a rank miss
        out = df.filter(F.lit(False))
        if rank_col is not None:
            out = out.withColumn(rank_col, F.lit(None).cast("long"))
        if n_col is not None:
            out = out.withColumn(n_col, F.lit(int(n_rows)).cast("long"))
        return out
    targets = sorted({b for b, _, _ in hits})
    w = Window.partitionBy("_tpb").orderBy(*order_cols)
    picked = (tagged.filter(F.col("_tpb").isin(targets))
              .withColumn("_tpr", F.row_number().over(w)))
    cond = F.lit(False)
    for b, lk, _ in hits:
        cond = cond | ((F.col("_tpb") == F.lit(b))
                       & (F.col("_tpr") == F.lit(int(lk))))
    out = picked.filter(cond)
    if rank_col is not None:
        # each picked row's global rank: the (bucket, local) pair maps
        # to exactly one requested k (total order => unique ranks)
        gr = F.lit(None).cast("long")
        for b, lk, gk in hits:
            gr = F.when((F.col("_tpb") == F.lit(b))
                        & (F.col("_tpr") == F.lit(int(lk))),
                        F.lit(int(gk)).cast("long")).otherwise(gr)
        out = out.withColumn(rank_col, gr)
    if n_col is not None:
        out = out.withColumn(n_col, F.lit(int(n_rows)).cast("long"))
    return out.drop("_tpb", "_tpr")


def prefix_code(col: Column, chars: int = 2) -> Column:
    """Numeric code in [0, 1) monotone in the first ``chars`` ASCII
    characters of a string — the fractional tie-break term for
    ``two_phase_ordered``'s ``bucket_on`` when the numeric head is
    tie-heavy (vocabulary dfreq, term freq): ``head + prefix_code(s)``
    still orders by (head, s-prefix) yet gives approxQuantile real
    spread to cut boundaries through the ties."""
    code = F.lit(0.0)
    for i in range(1, chars + 1):
        cp = F.least(F.coalesce(F.ascii(F.substring(col, i, 1)), F.lit(0)),
                     F.lit(127))  # clamp non-ASCII: ties are safe,
        #                           a fraction >= 1 would break the
        #                           "head step dominates" monotonicity
        code = code + cp / float(128 ** i)
    return code
