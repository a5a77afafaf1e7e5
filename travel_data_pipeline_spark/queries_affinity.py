"""Co-purchase affinity analytics: market-basket lift and a
fixed-iteration weighted PageRank over the co-purchase graph.

Two classic "derived graph" workloads over the order/lineitem star:

- market_basket_lift — association strength (support + lift) between
  parts bought in the same order. Pair expansion is a self-join on
  the ORDER key, whose fan-out is bounded by items-per-order (~7 in
  TPC-H, giving ~21 pairs/order) — per-key-bounded quadratic work is
  the safe kind, unlike corpus-wide self-joins (cf. operators/dedup
  bucket caps for the unbounded case).
- copurchase_pagerank — power iteration on the support-filtered
  co-purchase graph, 3 unrolled iterations. Per-node neighbor sums
  are ORDER-PINNED array folds (sorted collect_list -> aggregate; the
  chi2/BM25 discipline), so the doubles match DuckDB's unrolled-CTE
  twin bit-for-bit before the final round(6). The iterative-join
  shape (ranks x edges per step) is how GraphX/Pregel lowers to
  shuffles; 3 fixed steps = 3 shuffle rounds, each re-using the
  edge partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_pipeline_spark.functions.parity import (
    ordered_sum, ordered_sum_sql,
)
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

MINSUP = 2          # pair support threshold (distinct orders)
DAMPING = 0.85
N_ITER = 3
MAX_BASKET = 64     # per-order item cap before pair expansion

_PAIRS_SQL = f"""
items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
capped AS (
    SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_partkey) AS rn
        FROM items)
    WHERE rn <= {MAX_BASKET}
),
pair_counts AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS pair_cnt
    FROM capped a JOIN capped b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= {MINSUP}
)
"""


def _order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey").distinct())


def _pair_counts(items: DataFrame) -> DataFrame:
    """Per-order pair expansion with a basket-size cap.

    The order-key self-join is quadratic in basket size — one 10k-item
    pathological order would emit 50M pairs. Capping each basket to
    its first MAX_BASKET items (deterministic: ordered by l_partkey,
    the same pattern as operators/dedup's LSH ``max_bucket``) bounds
    the blow-up at MAX_BASKET^2/2 pairs per order while leaving TPC-H
    baskets (~7 items) untouched. The cap is mirrored in _PAIRS_SQL so
    the oracle sees identical semantics.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey").orderBy("l_partkey")
    capped = (items.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= MAX_BASKET)
              .drop("rn"))
    a = capped.alias("a")
    b = capped.alias("b")
    return (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_partkey") < F.col("b.l_partkey")))
            .groupBy(F.col("a.l_partkey").alias("part_a"),
                     F.col("b.l_partkey").alias("part_b"))
            .agg(F.count("*").alias("pair_cnt"))
            .filter(F.col("pair_cnt") >= MINSUP))


@register("market_basket_lift", f"""
WITH {_PAIRS_SQL},
item_counts AS (
    SELECT l_partkey, COUNT(*) AS item_cnt FROM items GROUP BY 1
),
nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items)
SELECT p.part_a, p.part_b, p.pair_cnt,
       ia.item_cnt AS cnt_a, ib.item_cnt AS cnt_b,
       round((p.pair_cnt * CAST(nb.n_orders AS DOUBLE))
             / (ia.item_cnt * ib.item_cnt), 6) AS lift
FROM pair_counts p
JOIN item_counts ia ON ia.l_partkey = p.part_a
JOIN item_counts ib ON ib.l_partkey = p.part_b
CROSS JOIN nb
""")
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs co-purchased in >= MINSUP orders, with lift =
    P(a,b) / (P(a)P(b)) from exact integer counts."""
    items = _order_items(spark, sf_dir)
    pairs = _pair_counts(items)
    item_counts = items.groupBy("l_partkey").agg(
        F.count("*").alias("item_cnt"))
    nb = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    return (pairs
            .join(F.broadcast(item_counts.select(
                F.col("l_partkey").alias("part_a"),
                F.col("item_cnt").alias("cnt_a"))), "part_a")
            .join(F.broadcast(item_counts.select(
                F.col("l_partkey").alias("part_b"),
                F.col("item_cnt").alias("cnt_b"))), "part_b")
            .crossJoin(F.broadcast(nb))
            .select("part_a", "part_b", "pair_cnt", "cnt_a", "cnt_b",
                    F.round((F.col("pair_cnt")
                             * F.col("n_orders").cast("double"))
                            / (F.col("cnt_a") * F.col("cnt_b")), 6)
                    .alias("lift")))


def _pagerank_oracle() -> str:
    iters = []
    prev = "r0"
    for k in range(1, N_ITER + 1):
        iters.append(f"""
c{k} AS (
    SELECT e.d, e.s,
           (e.w / CAST(st.st AS DOUBLE)) * {prev}.r AS contrib
    FROM edges e
    JOIN strength st ON st.s = e.s
    JOIN {prev} ON {prev}.node = e.s
),
r{k} AS (
    SELECT c{k}.d AS node,
           {1 - DAMPING} / nn.n
               + {DAMPING} * {ordered_sum_sql("contrib", "s")} AS r
    FROM c{k} CROSS JOIN nn
    GROUP BY c{k}.d, nn.n
)""")
        prev = f"r{k}"
    return f"""
WITH {_PAIRS_SQL},
edges AS (
    SELECT part_a AS s, part_b AS d, pair_cnt AS w FROM pair_counts
    UNION ALL
    SELECT part_b AS s, part_a AS d, pair_cnt AS w FROM pair_counts
),
nodes AS (SELECT DISTINCT s AS node FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
strength AS (SELECT s, SUM(w) AS st FROM edges GROUP BY s),
r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
{','.join(iters)}
SELECT node AS l_partkey, CAST(round(CAST(format('{{}}', r) AS DECIMAL(38,18)), 6) AS DOUBLE) AS pagerank FROM r{N_ITER}
"""


@register("copurchase_pagerank", _pagerank_oracle())
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step weighted PageRank over the support-filtered co-purchase
    graph. Every neighbor sum is a position-sorted fold, so the result
    is bitwise-stable under any partitioning — the property that makes
    an iterative float algorithm oracle-checkable at all."""
    items = _order_items(spark, sf_dir)
    pairs = _pair_counts(items)
    edges = (pairs.select(F.col("part_a").alias("s"),
                          F.col("part_b").alias("d"),
                          F.col("pair_cnt").alias("w"))
             .unionAll(pairs.select(F.col("part_b").alias("s"),
                                    F.col("part_a").alias("d"),
                                    F.col("pair_cnt").alias("w"))))
    strength = edges.groupBy("s").agg(F.sum("w").alias("st"))
    # The edge relation feeds every power iteration; without a
    # materialization each step replays the items self-join + pair
    # aggregation from scratch. CRITICALLY, nodes and the node-count
    # scalar must derive from the CHECKPOINTED relation too — they are
    # referenced inside every iteration, and deriving them upstream
    # re-runs the whole pair build per step (measured: 6.5s -> 3.1s
    # warm at sf0.1). Pregel's "load the graph once" shape; partition
    # count follows the session's parallelism so the iteration isn't
    # serialized on a hardcoded task count at cluster scale (AQE can
    # still coalesce if the filtered graph is tiny).
    n_part = spark.sparkContext.defaultParallelism
    edges_n = (edges.join(strength, "s")
               .repartition(n_part, "s").localCheckpoint(eager=True))
    nodes = edges_n.select(F.col("s").alias("node")).distinct()
    nn = nodes.agg(F.count("*").cast("double").alias("n"))

    ranks = (nodes.crossJoin(F.broadcast(nn))
             .select("node", (F.lit(1.0) / F.col("n")).alias("r")))
    for _ in range(N_ITER):
        contrib = (edges_n.join(ranks, edges_n.s == ranks.node)
                   .select("d", "s",
                           ((F.col("w") / F.col("st").cast("double"))
                            * F.col("r")).alias("contrib")))
        folded = (contrib.groupBy("d")
                  .agg(ordered_sum("contrib", "s").alias("nsum")))
        ranks = (folded.crossJoin(F.broadcast(nn))
                 .select(F.col("d").alias("node"),
                         (F.lit(1 - DAMPING) / F.col("n")
                          + F.lit(DAMPING) * F.col("nsum")).alias("r")))
    return ranks.select(F.col("node").alias("l_partkey"),
                        F.round("r", 6).alias("pagerank"))


# ---------------------------------------------------------------------------
# Triangle counting on the support-filtered co-purchase graph — the
# classic graph-analytics kernel (clustering-coefficient numerator).
# Canonical a<b<c orientation: every pair relation already stores
# part_a < part_b, so each triangle is counted exactly once and the
# heaviest join is edges x edges pruned by the a<b<c wedge condition.
# ---------------------------------------------------------------------------

@register("copurchase_triangles", f"""
WITH {_PAIRS_SQL},
e AS (SELECT part_a AS a, part_b AS b FROM pair_counts),
tri AS (
    SELECT e1.a, e1.b, e2.b AS c
    FROM e e1
    JOIN e e2 ON e2.a = e1.b          -- wedge a<b, b<c
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b   -- closing edge a<c
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_cnt
FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
GROUP BY node
""")
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the capped, support-filtered
    co-purchase graph.

    Scale shape: edges are canonically oriented (a<b), so the wedge
    join e1.b=e2.a enumerates each open triangle once and the closing
    semi-equi-join checks (a,c); both joins are equi-joins Catalyst can
    shuffle-partition on the shared key, and the wedge relation is
    support-pruned BEFORE expansion (MINSUP + MAX_BASKET bound the
    degree). This is the node-iterator++ layout GraphX/Spark graph
    libraries lower to."""
    items = _order_items(spark, sf_dir)
    # materialize the edge relation once: the triangle join references
    # it THREE times, and without a checkpoint each leg replays the
    # whole items->cap->pair pipeline (plan audit showed 64 shuffle
    # exchanges; with it the pair build runs once — same reasoning as
    # pagerank's checkpointed graph load)
    # eager checkpoint KEPT (optimization r14, measured): the
    # single-action persist variant looked like a wash in the suite
    # A/B but regressed in isolated cold runs (first-computation 7.67
    # -> 8.58 s min-of-3, worst sample 10.8 s) — the THREE-way
    # self-join forces analyzer relation-dedup rewrites after which
    # the legs no longer reliably match the cached plan, and a missed
    # leg replays the whole items->cap->pair pipeline (the
    # hits_from_edges lesson). A checkpoint leaf cannot be un-matched.
    e = (_pair_counts(items).select(F.col("part_a").alias("a"),
                                    F.col("part_b").alias("b"))
         .localCheckpoint(eager=True))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (e1.join(e2, F.col("e2.a") == F.col("e1.b"))
           .join(e3, (F.col("e3.a") == F.col("e1.a"))
                 & (F.col("e3.b") == F.col("e2.b")))
           .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"),
                   F.col("e2.b").alias("c")))
    nodes = (tri.select(F.col("a").alias("node"))
             .unionAll(tri.select(F.col("b").alias("node")))
             .unionAll(tri.select(F.col("c").alias("node"))))
    return nodes.groupBy("node").agg(F.count("*").alias("tri_cnt"))
