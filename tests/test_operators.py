"""Unit tests for operator-library functions whose registered queries
use inline equivalents — the library surface itself must stay correct
(a reference user imports these directly)."""

from __future__ import annotations

from pyspark.sql import functions as F

from travel_data_pipeline_spark import fixtures as FX
from travel_data_pipeline_spark.operators import aggregates, joins
from travel_data_pipeline_spark.sources.readers import load_table


def _master(spark):
    return FX.local_relation(spark, FX.COUNTRY_MASTER_ROWS,
                             FX.COUNTRY_MASTER_SCHEMA)


def test_currency_fanout_multiplicity(spark):
    """J2: one EUR rate row fans out to every Eurozone master row; an
    unknown currency drops (F4)."""
    rates = spark.createDataFrame(
        [("EUR", 1450.0), ("USD", 1350.0), ("ZWL", 3.0)],
        "currency_code string, rate double")
    out = joins.currency_fanout(rates, _master(spark))
    by_ccy = {r.currency_code: r.n for r in
              out.groupBy("currency_code").agg(F.count("*").alias("n")).collect()}
    assert by_ccy == {"EUR": 3, "USD": 1}  # 3 eurozone rows; ZWL dropped


def test_standardize_join_defaults(spark):
    """J3: suffix strip + alias lookup; misses fill Unknown defaults."""
    facts = spark.createDataFrame(
        [("미국 여행",), ("무명국 여행",)], "keyword string")
    alias_dim = FX.local_relation(spark, FX.COUNTRY_ALIAS_ROWS,
                                  FX.COUNTRY_ALIAS_SCHEMA)
    out = joins.standardize_join(
        facts, alias_dim, "keyword",
        defaults={"korean_name": "Unknown_Korean", "country_code_3": "N/A"})
    rows = {r.keyword: (r.korean_name, r.country_code_3) for r in out.collect()}
    assert rows["미국 여행"] == ("미국", "USA")
    assert rows["무명국 여행"] == ("Unknown_Korean", "N/A")


def test_explode_join_code_lists(spark):
    """J5+X4: bracket-noise cleanup, explode, join through the code."""
    dim = spark.createDataFrame(
        [("SEL", "['ICN','GMP']"), ("TYO", "['NRT', 'HND']")],
        "city string, airports string")
    fact = spark.createDataFrame(
        [("ICN", 10.0), ("HND", 20.0), ("XXX", 30.0)],
        "airport string, v double")
    out = joins.explode_join(fact, dim, "airports", "airport",
                             exploded_name="airport", how="left")
    rows = {r.airport: r.city for r in out.collect()}
    assert rows == {"ICN": "SEL", "HND": "TYO", "XXX": None}


def test_map_literal_join(spark):
    df = spark.createDataFrame([("US",), ("JP",), ("??",)], "c2 string")
    out = joins.map_literal_join(df, "c3", "c2", {"US": "USA", "JP": "JPN"})
    rows = {r.c2: r.c3 for r in out.collect()}
    assert rows == {"US": "USA", "JP": "JPN", "??": None}


def test_pivot_rates_and_monthly_map(spark):
    """A5: wide record per currency + sorted monthly MapType; X21's
    exploded long form round-trips."""
    rates = spark.createDataFrame(
        [("USD", "realtime", None, 1350.0),
         ("USD", "yearly_avg", None, 1250.0),
         ("USD", "monthly_avg", "202402", 1330.0),
         ("USD", "monthly_avg", "202401", 1320.0)],
        "currency_code string, rate_type string, period string, standard_rate double")
    wide = aggregates.pivot_rates(rates)
    row = wide.filter(F.col("currency_code") == "USD").first()
    assert row.realtime == 1350.0 and row.yearly_avg == 1250.0
    assert row.daily_avg is None
    assert row.monthly_avg_rates == {"202401": 1320.0, "202402": 1330.0}

    longf = aggregates.explode_monthly_map(wide)
    got = sorted((r.period, r.rate) for r in longf.collect())
    assert got == [("202401", 1320.0), ("202402", 1330.0)]


def test_grouped_stats(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    out = aggregates.grouped_stats(li, ["l_returnflag"], "l_extendedprice")
    r = out.filter(F.col("l_returnflag") == "N").first()
    assert r.min_price <= r.avg_price <= r.max_price
    assert r.n > 0


def test_recent_vs_prior_mean_time_form(spark, sf_smoke):
    """A1 (time-bounded form): windows partition the last 30 days of
    data; non-null means, and manually-computed bounds agree."""
    e = load_table(spark, sf_smoke, "events")
    out = aggregates.recent_vs_prior_mean(e, ["event_type"], "ts", "value")
    rows = out.collect()
    assert len(rows) == 5
    assert all(r.recent_mean is not None and r.prior_mean is not None
               for r in rows)


def test_last_value_per_key(spark, sf_smoke):
    e = load_table(spark, sf_smoke, "events")
    out = aggregates.last_value_per_key(e, ["user_id"], "ts", "value")
    # cross-check one user against an orderBy/limit pull
    u0 = out.filter(F.col("user_id") == 0).first()
    expect = (e.filter(F.col("user_id") == 0)
              .orderBy(F.col("ts").desc()).limit(1).first())
    assert u0.last_value == expect.value


def test_rolling_mean_operator(spark, sf_smoke):
    from travel_data_pipeline_spark.operators.windows import rolling_mean

    e = load_table(spark, sf_smoke, "events")
    out = rolling_mean(e, ["user_id"], "ts", "value", n=5)
    first = (out.filter(F.col("user_id") == 0)
             .orderBy("ts").limit(1).first())
    # first row's rolling mean over a 5-row trailing frame is itself
    assert abs(first.rolling_mean - first.value) < 1e-9


def test_connected_components_chain(spark):
    from travel_data_pipeline_spark.operators import graph

    # two clusters: a 4-chain (1-2-3-4, diameter 3 -> needs >1 round)
    # and a pair (10-11); vertex 4 only reaches 1 transitively
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"])
    got = {r.doc_id: r.component
           for r in graph.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_star_chain_adversarial(spark):
    """Diameter-proof path: a 200-vertex chain (diameter 199) must
    converge within the default 25 alternating star rounds — the
    propagation loop would need 199 rounds on this graph."""
    from travel_data_pipeline_spark.operators import graph

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["doc_a", "doc_b"])
    got = {r.doc_id: r.component
           for r in graph.connected_components_star(edges).collect()}
    assert got == {i: 1 for i in range(1, n + 1)}


def test_connected_components_star_matches_propagation(spark):
    """Both engines compute min-reachable-id; on a seeded random graph
    (multiple components, cycles, hubs) the labelings must be equal."""
    import random

    from travel_data_pipeline_spark.operators import graph

    rng = random.Random(42)
    edges_py = [(rng.randrange(120), rng.randrange(120)) for _ in range(150)]
    edges_py = [(a, b) for a, b in edges_py if a != b]
    edges = spark.createDataFrame(edges_py, ["doc_a", "doc_b"])
    star = {r.doc_id: r.component
            for r in graph.connected_components_star(edges).collect()}
    prop = {r.doc_id: r.component
            for r in graph.connected_components_propagation(edges).collect()}
    assert star == prop and len(star) > 50


def test_connected_components_star_empty_and_pair(spark):
    from travel_data_pipeline_spark.operators import graph

    empty = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert graph.connected_components_star(empty).count() == 0
    pair = spark.createDataFrame([(7, 3)], ["doc_a", "doc_b"])
    got = {r.doc_id: r.component
           for r in graph.connected_components_star(pair).collect()}
    assert got == {3: 3, 7: 3}


def test_canonical_map_full_corpus(spark):
    from pyspark.sql import functions as F

    from travel_data_pipeline_spark.operators import graph

    corpus = spark.range(6).select(F.col("id").alias("doc_id"))
    edges = spark.createDataFrame([(1, 3), (3, 5)], ["doc_a", "doc_b"])
    comps = graph.connected_components(edges)
    out = {r.doc_id: (r.keep_id, r.is_duplicate)
           for r in graph.canonical_map(corpus, comps).collect()}
    assert out == {0: (0, 0), 1: (1, 0), 2: (2, 0),
                   3: (1, 1), 4: (4, 0), 5: (1, 1)}


def test_repetition_signals_edges(spark):
    from travel_data_pipeline_spark.operators.text import repetition_signals

    docs = spark.createDataFrame(
        [(1, ""),                       # empty -> no tokens, no grams
         (2, "solo"),                   # 1 token -> no bigrams
         (3, "a b a b a b"),            # one bigram dominates
         (4, "w x y z")],               # all bigrams unique
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert rows[1]["n_tokens"] == 0 and rows[1]["top_2gram_frac"] == 0.0
    assert rows[2]["n_tokens"] == 1 and rows[2]["dup_2gram_frac"] == 0.0
    # "a b a b a b": grams = [ab, ba, ab, ba, ab] -> top "a b" 3/5
    assert rows[3]["top_2gram_frac"] == 0.6
    assert rows[3]["dup_2gram_frac"] == 1.0   # every gram repeats
    assert rows[3]["ttr"] == round(2 / 6, 6)
    assert rows[4]["top_2gram_frac"] == round(1 / 3, 6)
    assert rows[4]["dup_2gram_frac"] == 0.0 and rows[4]["ttr"] == 1.0


def test_curation_flags_keep_logic(spark):
    from travel_data_pipeline_spark.operators.text import curation_flags

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "too short"),
         (3, "pneumonoultramicroscopic silicovolcanoconiosis " * 3),
         (4, "function foo() { return 1; } " * 3),
         (5, "Lorem ipsum dolor sit amet consectetur adipiscing elit now")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in curation_flags(docs).collect()}
    assert rows[1]["keep"] is True
    assert rows[2]["flag_too_short"] and not rows[2]["keep"]
    assert rows[3]["flag_word_len"] and not rows[3]["keep"]
    assert rows[4]["flag_brace"] and not rows[4]["keep"]
    assert rows[5]["flag_lorem"] and not rows[5]["keep"]


def test_pack_token_shards_boundary_rule(spark):
    from travel_data_pipeline_spark.queries_curation import TOKEN_BUDGET
    from travel_data_pipeline_spark import registry

    df = registry.QUERIES["pack_token_shards"](
        spark, "/root/testdata/sf0.001").collect()
    assert len(df) > 0
    seen_multi = set()
    for r in df:
        start = r["cum_tokens"] - r["n_tokens"]
        # shard derives from the pre-doc cumsum -> stable greedy rule
        assert r["shard_id"] == start // TOKEN_BUDGET
        seen_multi.add((r["source"], r["lang"], r["shard_id"]))
    # the budget actually splits streams at this scale
    assert len(seen_multi) > len({(s, l) for s, l, _ in seen_multi})


def test_ppjoin_routing_bound_and_fallback(spark):
    """VERDICT r04 #3: ppjoin_routed_pairs must route by the exact
    candidate bound — PPJoin on a benign corpus, banded-LSH fallback on
    a duplicate-heavy one — and both paths must verify with exact
    Jaccard at the threshold."""
    from travel_data_pipeline_spark.operators import dedup

    # benign corpus: two exact near-dup pairs + distinct filler
    texts = []
    for i in range(20):
        texts.append((i, f"alpha beta gamma delta epsilon zeta {i} "
                         f"eta theta iota kappa word{i} tail{i}"))
    texts.append((100, texts[0][1]))       # exact dup of doc 0
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    pairs, strategy = dedup.ppjoin_routed_pairs(docs, threshold=0.8)
    assert strategy == "ppjoin"
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    assert got.get((0, 100)) == 1.0
    assert all(j >= 0.8 for j in got.values())

    # duplicate-heavy corpus: one 40-copy group -> every prefix token
    # bucket holds all 40 copies, bound ~ C(40,2) * prefix_len >> 50
    heavy = [(i, "lorem ipsum dolor sit amet consectetur adipiscing "
                 "elit sed do eiusmod tempor")
             for i in range(40)]
    hdocs = spark.createDataFrame(heavy, "doc_id long, text string")
    hpairs, hstrategy = dedup.ppjoin_routed_pairs(
        hdocs, threshold=0.8, max_candidates=50)
    assert hstrategy == "lsh"
    hgot = {(r.doc_a, r.doc_b): r.jaccard for r in hpairs.collect()}
    # identical texts share every band -> LSH recall is exact here
    assert len(hgot) == 40 * 39 // 2
    assert all(j == 1.0 for j in hgot.values())


# ---------------------------------------------------------------------------
# two_phase_ordered — must be bit-identical to the single-partition
# global window it replaces (VERDICT r05: gini / abc_pareto / auc /
# ppjoin-srk rework).
# ---------------------------------------------------------------------------

def _global_window_truth(df, order_cols, cumsum_src):
    from pyspark.sql import Window
    w = Window.orderBy(*order_cols)
    ws = w.rowsBetween(Window.unboundedPreceding, 0)
    return (df.withColumn("rk", F.row_number().over(w).cast("long"))
            .withColumn("cum", F.sum(cumsum_src).over(ws)))


def test_two_phase_ordered_matches_global_window(spark):
    """Random-ish data with heavy ties on the numeric head: rank and
    inclusive cumsum must equal the naive global window exactly."""
    from travel_data_pipeline_spark.operators import windows as W

    rows = [(i, (i * 37) % 11, float((i * 53) % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, grp int, v double")
    order = [F.col("grp").asc(), F.col("id").asc()]
    got = W.two_phase_ordered(
        df, order, F.col("grp") + F.col("id") / 1e9,
        rank_col="rk", cumsum_cols={"v": "cum"}, num_buckets=8)
    truth = _global_window_truth(df, order, "v")
    g = {r.id: (r.rk, r.cum) for r in got.collect()}
    t = {r.id: (r.rk, r.cum) for r in truth.collect()}
    assert g == t


def test_two_phase_ordered_desc_and_prefix_code(spark):
    """DESC head via negation + string tie-break via prefix_code —
    the zipf/ppjoin shape (freq desc / (dfreq, term) asc)."""
    from travel_data_pipeline_spark.operators import windows as W

    terms = [(f"term{i:03d}", 1 if i % 3 else 5) for i in range(120)]
    df = spark.createDataFrame(terms, "term string, freq long")
    order = [F.col("freq").desc(), F.col("term").asc()]
    got = W.two_phase_ordered(
        df, order, -F.col("freq") + W.prefix_code(F.col("term"), 6),
        rank_col="rk", num_buckets=6)
    truth = _global_window_truth(df, order, "freq")
    g = {r.term: r.rk for r in got.collect()}
    t = {r.term: r.rk for r in truth.collect()}
    assert g == t


def test_two_phase_ordered_no_global_sort_in_plan(spark):
    """The physical plan must contain no SinglePartition global sort
    over the data relation — the whole point of the operator. The
    only partitionless window is the <=num_buckets offsets pass."""
    from travel_data_pipeline_spark.operators import windows as W

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 13).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"))
    got = W.two_phase_ordered(
        df, [F.col("k").asc(), F.col("id").asc()],
        F.col("k") + F.col("id") / 1e9,
        rank_col="rk", cumsum_cols={"v": "cum"}, num_buckets=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # exactly one SinglePartition exchange: the offsets relation
    # (bounded by num_buckets), nothing over the main data path
    assert plan.count("SinglePartition") <= 1


def test_ppjoin_dfreq_bound_dominates_exact(spark):
    """Routing rework (VERDICT r05 #3): the rank-free dfreq bound must
    dominate the exact prefix bound on both routing fixtures, so the
    new probe can only push corpora TOWARD the LSH scale path."""
    from pyspark.sql import Window

    from travel_data_pipeline_spark.operators import dedup

    def exact_and_dfreq(docs, threshold=0.8, max_bucket=1000):
        ss = dedup.shingle_sets(docs)
        sdf = ss.groupBy("shingle").agg(F.count("*").alias("dfreq"))
        srank = sdf.withColumn(
            "srk", F.row_number().over(Window.orderBy("dfreq", "shingle")))
        sets = (ss.join(srank.select("shingle", "srk"), "shingle")
                .groupBy("doc_id")
                .agg(F.sort_array(F.collect_list("srk")).alias("toks"),
                     F.count("*").cast("long").alias("sz")))
        plen = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1) \
            .cast("int")
        prefixes = sets.select(
            "doc_id", F.explode(F.slice("toks", 1, plen)).alias("srk"))
        return (dedup.ppjoin_candidate_bound(prefixes),
                dedup.ppjoin_dfreq_bound(sdf, max_bucket))

    benign = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i} "
             f"eta theta iota kappa word{i} tail{i}") for i in range(20)],
        "doc_id long, text string")
    heavy = spark.createDataFrame(
        [(i, "lorem ipsum dolor sit amet consectetur adipiscing "
             "elit sed do eiusmod tempor") for i in range(40)],
        "doc_id long, text string")
    for docs in (benign, heavy):
        exact, loose = exact_and_dfreq(docs)
        assert loose >= exact, (exact, loose)


def test_ppjoin_lsh_route_never_builds_the_rank(spark, monkeypatch):
    """LSH-routed corpora must not pay ANY vocabulary ranking work
    (VERDICT r05 #3). Poison two_phase_ordered: the LSH route must
    succeed without touching it, and the PPJoin route must use it."""
    from travel_data_pipeline_spark.operators import dedup
    from travel_data_pipeline_spark.operators import windows as W

    def boom(*a, **k):
        raise AssertionError("vocabulary rank built on the LSH route")

    monkeypatch.setattr(W, "two_phase_ordered", boom)
    heavy = spark.createDataFrame(
        [(i, "lorem ipsum dolor sit amet consectetur adipiscing "
             "elit sed do eiusmod tempor") for i in range(40)],
        "doc_id long, text string")
    pairs, strategy = dedup.ppjoin_routed_pairs(
        heavy, threshold=0.8, max_candidates=50)
    assert strategy == "lsh"
    assert pairs.count() == 40 * 39 // 2


def test_two_phase_ordered_cummax_matches_global_window(spark):
    """Running max with tie-heavy bucket keys must equal the naive
    global window — including bucket-boundary carry (a max set early
    must survive into later buckets where all local values are
    smaller)."""
    from pyspark.sql import Window

    from travel_data_pipeline_spark.operators import windows as W

    # v spikes early then decays: later buckets' local max < carried max
    rows = [(i, (i * 37) % 11, float(1000 - i if i == 3 else (i * 53) % 97))
            for i in range(500)]
    df = spark.createDataFrame(rows, "id long, grp int, v double")
    order = [F.col("grp").asc(), F.col("id").asc()]
    got = W.two_phase_ordered(
        df, order, F.col("grp") + F.col("id") / 1e9,
        cummax_cols={"v": "rmax"}, num_buckets=8)
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    truth = df.select("id", F.max("v").over(w).alias("rmax"))
    g = {r.id: r.rmax for r in got.collect()}
    t = {r.id: r.rmax for r in truth.collect()}
    assert g == t


# ---------------------------------------------------------------------------
# two_phase_kth (r14) — exact global order statistic; must agree with
# the naive global sort for every k and for the callable-k (rank
# defined on COUNT(*)) form used by conformal.
# ---------------------------------------------------------------------------

def test_two_phase_kth_matches_global_sort(spark):
    from travel_data_pipeline_spark.operators import windows as W

    rows = [(i, float((i * 53) % 97) + ((i * 37) % 11))
            for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v double")
    order = [F.col("v").asc(), F.col("id").asc()]
    truth = sorted(rows, key=lambda r: (r[1], r[0]))
    for k in (1, 2, 250, 499, 500):
        got = W.two_phase_kth(
            df, order, F.col("v"), k, num_buckets=8).collect()
        assert len(got) == 1, k
        assert (got[0]["id"], got[0]["v"]) == truth[k - 1], k


def test_two_phase_kth_out_of_range_and_callable(spark):
    from travel_data_pipeline_spark.operators import windows as W

    rows = [(i, float(i % 7)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, v double")
    order = [F.col("v").asc(), F.col("id").asc()]
    # out of range -> empty, like a rank-filter miss
    assert W.two_phase_kth(df, order, F.col("v"), 0,
                           num_buckets=4).count() == 0
    assert W.two_phase_kth(df, order, F.col("v"), 101,
                           num_buckets=4).count() == 0
    # callable k on the phase-1 count: conformal's ceil(9(n+1)/10)
    k_fn = lambda n: (9 * (n + 1) + 9) // 10  # noqa: E731
    got = W.two_phase_kth(df, order, F.col("v"), k_fn,
                          num_buckets=4).collect()
    truth = sorted(rows, key=lambda r: (r[1], r[0]))[k_fn(100) - 1]
    assert len(got) == 1 and (got[0]["id"], got[0]["v"]) == truth
    # any non-string iterable of ranks: a range and a generator
    ranked = sorted(rows, key=lambda r: (r[1], r[0]))
    for ks, want in ((range(10, 40, 10), [10, 20, 30]),
                     ((x for x in (95, 5)), [5, 95])):
        got = W.two_phase_kth(df, order, F.col("v"), ks, num_buckets=4,
                              rank_col="rk").collect()
        assert sorted(r["rk"] for r in got) == want
        assert all((r["id"], r["v"]) == ranked[r["rk"] - 1] for r in got)
    # every k out of range: n_col still carries the phase-1 total
    empty = W.two_phase_kth(df, order, F.col("v"), [0, 101],
                            num_buckets=4, n_col="n")
    assert empty.count() == 0 and not empty.schema["n"].nullable
    assert "cast(100 as bigint) AS n#" in \
        empty._jdf.queryExecution().analyzed().toString()


def test_two_phase_kth_multi_k_rank_and_n_cols(spark):
    """Multi-k form (r15, the QTE quartile grid): a bounded list of
    ranks picked in one pass, with the global rank and phase-1 total
    emitted as columns; duplicates and out-of-range ks are benign."""
    from travel_data_pipeline_spark.operators import windows as W

    rows = [(i, float((i * 53) % 97) + ((i * 37) % 11))
            for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v double")
    order = [F.col("v").asc(), F.col("id").asc()]
    truth = sorted(rows, key=lambda r: (r[1], r[0]))
    got = W.two_phase_kth(
        df, order, F.col("v"), [125, 250, 375], num_buckets=8,
        rank_col="rk", n_col="n").collect()
    assert sorted(r["rk"] for r in got) == [125, 250, 375]
    assert all(r["n"] == 500 for r in got)
    for r in got:
        assert (r["id"], r["v"]) == truth[r["rk"] - 1]
    # callable returning a list, with a duplicate and an out-of-range
    # entry: dedup'd, the invalid k contributes nothing
    got2 = W.two_phase_kth(
        df, order, F.col("v"), lambda n: [1, 1, n, n + 7],
        num_buckets=8, rank_col="rk").collect()
    assert sorted(r["rk"] for r in got2) == [1, 500]
    # every k out of range -> empty, schema still carries the columns
    empty = W.two_phase_kth(df, order, F.col("v"), [0, 501],
                            num_buckets=8, rank_col="rk", n_col="n")
    assert empty.count() == 0
    assert {"rk", "n"} <= set(empty.columns)


def test_two_phase_kth_ties_straddle(spark):
    """All-equal bucket keys (bounds collapse to one bucket) must stay
    exact."""
    from travel_data_pipeline_spark.operators import windows as W

    rows = [(i, 1.0) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, v double")
    order = [F.col("v").asc(), F.col("id").asc()]
    got = W.two_phase_kth(df, order, F.col("v"), 17,
                          num_buckets=8).collect()
    assert len(got) == 1 and got[0]["id"] == 16


def test_two_phase_ordered_materialize_off_matches(spark):
    """materialize=False (caller already persists/checkpoints) must be
    result-identical to the default path."""
    from travel_data_pipeline_spark.operators import windows as W

    rows = [(i, (i * 37) % 11, float((i * 53) % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, grp int, v double")
    order = [F.col("grp").asc(), F.col("id").asc()]
    kw = dict(rank_col="rk", cumsum_cols={"v": "cum"}, num_buckets=8)
    on = W.two_phase_ordered(
        df, order, F.col("grp") + F.col("id") / 1e9, **kw)
    off = W.two_phase_ordered(
        df, order, F.col("grp") + F.col("id") / 1e9,
        materialize=False, **kw)
    assert ({(r.id, r.rk, r.cum) for r in on.collect()}
            == {(r.id, r.rk, r.cum) for r in off.collect()})


def test_large_star_orient_duplicates_are_benign(spark):
    """r14: _large_star emits oriented-but-undeduped edges. The star
    round (small(large(x))) must still produce a DISTINCT canonical
    edge set equal to the old fully-canonical round, even when the
    input itself carries duplicate/reversed edges."""
    from travel_data_pipeline_spark.operators import graph as G

    raw = [(2, 1), (1, 2), (3, 2), (2, 3), (4, 3), (5, 1), (5, 1),
           (7, 6), (6, 7), (8, 6)]
    edges = spark.createDataFrame(raw, "u long, v long")
    work = G._canon(edges)
    stepped = G._small_star(G._large_star(work)).collect()
    got = sorted((r["u"], r["v"]) for r in stepped)
    # output is a set (no duplicates) and stays lo<hi oriented
    assert got == sorted(set(got))
    assert all(u < v for u, v in got)
    # and the full fixpoint labeling is still the exact min-reachable
    labels = {r["doc_id"]: r["component"]
              for r in G.connected_components_star(
                  edges.select(F.col("u").alias("doc_a"),
                               F.col("v").alias("doc_b"))).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 6, 8: 6}
