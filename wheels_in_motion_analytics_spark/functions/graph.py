"""Graph analytics as relational plans: PageRank over the part↔supplier
bipartite graph observed in lineitem.

Each PageRank iteration is one join + one aggregate (contributions flow
along edges, sum per target) — the textbook distributed formulation; at
100 TB the edge table shuffles on src/dst and the rank state is
node-cardinality. Iterations are UNROLLED (fixed count) both in the Spark
plan and as chained CTEs in the DuckDB oracle, and every per-node
contribution is quantized to an exact 1e-9 integer grid before summation,
so accumulation order can never flake the cross-engine hash — an
oracle-checked iterative algorithm, not a rows-only one.

(The other iterative op, connected components, lives in
functions/similarity.py with a recursive-CTE oracle; PageRank needs an
aggregate per iteration, which recursive terms don't allow — hence the
unroll.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import local_frame, table

PR_ITERS = 6
PR_DAMPING = 0.85
PR_GRID = 1_000_000_000  # 1e-9 rank quantization
PR_TOPK = 30
_SUPPLIER_OFFSET = 100_000  # node id space: parts as-is, suppliers offset


def _oracle_pagerank() -> str:
    grid = PR_GRID
    steps = []
    for k in range(PR_ITERS):
        steps.append(
            f"""pr{k + 1} AS (
  SELECT e.dst AS node,
         floor(({1 - PR_DAMPING} + {PR_DAMPING} *
                (SUM(CAST(floor(p.rank / o.d * {grid} + 0.5) AS BIGINT))
                 / {grid}.0)) * {grid} + 0.5) / {grid}.0 AS rank
  FROM pr{k} p
  JOIN edges e ON e.src = p.node
  JOIN outdeg o ON o.src = p.node
  GROUP BY e.dst
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH links AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
edges AS (
  SELECT p AS src, {_SUPPLIER_OFFSET} + s AS dst FROM links
  UNION ALL
  SELECT {_SUPPLIER_OFFSET} + s, p FROM links
),
outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
pr0 AS (SELECT src AS node, 1.0 AS rank FROM edges GROUP BY src),
{chain}
SELECT node, rank FROM pr{PR_ITERS}
ORDER BY rank DESC, node
LIMIT {PR_TOPK}
"""


def pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Quantized PageRank over a directed (src, dst) edge DataFrame where
    every node has out-degree ≥ 1 (symmetric graphs satisfy this)."""
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # Fold the out-degree INTO the edge table once — otherwise every
    # iteration pays a second join just to fetch d — and hash-partition it
    # on src BEFORE the lineage cut (GraphX's static edge partitioning):
    # the checkpointed partitioning satisfies every iteration's join
    # requirement, so once ranks outgrow the broadcast threshold only the
    # node-cardinality ranks side shuffles per round, never the edges.
    edges_d = edges.join(outdeg, "src").repartition("src").localCheckpoint()
    # initial ranks come from the (already-aggregated) out-degree relation —
    # it IS the distinct source set, so no second distinct shuffle
    ranks = outdeg.select(F.col("src").alias("node"), F.lit(1.0).alias("rank"))
    for i in range(iters):
        contrib_q = F.floor(
            F.col("rank") / F.col("d") * PR_GRID + 0.5
        ).cast("long")
        ranks = (
            ranks.join(edges_d, F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("next_node"))
            .agg(
                (
                    F.floor(
                        (
                            (1 - PR_DAMPING)
                            + PR_DAMPING
                            * (F.sum(contrib_q) / F.lit(float(PR_GRID)))
                        )
                        * PR_GRID
                        + 0.5
                    )
                    / F.lit(float(PR_GRID))
                ).alias("rank")
            )
            .select(F.col("next_node").alias("node"), "rank")
        )
    # No in-loop lineage cuts: with the edge table already checkpointed the
    # unrolled plan is LINEAR in iteration count (6 joins deep — well inside
    # Catalyst's comfort zone), and skipping the materialization of
    # intermediate ranks is ~20% faster at sf0.1. (connected_components
    # keeps its cuts: its loop is unbounded and re-reads `changed` counts.)
    return ranks


@register(
    "pagerank_part_supplier",
    category="graph",
    doc=f"PageRank ({PR_ITERS} unrolled iterations, d={PR_DAMPING}) over "
    "the symmetric part↔supplier graph from observed lineitem links. "
    "Per-edge contributions quantize to a 1e-9 integer grid before the "
    "per-target sum, so the result is exact under any partitioning and "
    f"fully oracle-checked (chained-CTE unroll in DuckDB). Top {PR_TOPK} "
    "nodes; suppliers offset by 100k in the node id space.",
    oracle=_oracle_pagerank(),
)
def pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    links = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    fwd = links.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + _SUPPLIER_OFFSET).alias("dst"),
    )
    rev = links.select(
        (F.col("l_suppkey") + _SUPPLIER_OFFSET).alias("src"),
        F.col("l_partkey").alias("dst"),
    )
    # Materialize the edge list once: every iteration joins against it, and
    # without the lineage cut each of the 6 iteration plans would re-run
    # the distinct shuffle (and the union) from scratch.
    edges = fwd.unionByName(rev).localCheckpoint()
    return (
        pagerank(edges)
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(PR_TOPK)
    )


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered orientation)
# ---------------------------------------------------------------------------

TRI_MIN_QTY = 48  # co-supply link threshold (sparsifies the complete graph)
TRI_MIN_SHARED = 2  # suppliers must share ≥ this many qualifying parts
TRI_TOPK = 20

_TRI_EDGES_ORACLE = f"""
links AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
  WHERE l_quantity >= {TRI_MIN_QTY}
),
edges AS (
  SELECT a.s AS s1, b.s AS s2
  FROM links a JOIN links b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SHARED}
)"""


def oriented_triangles(und: DataFrame) -> DataFrame:
    """(a, b, c) triangles of an undirected edge list (s1 < s2 per row),
    via degree-ordered orientation + wedge join + closure semi-join."""
    deg = (
        und.select(F.col("s1").alias("n"))
        .unionAll(und.select("s2"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        und.join(deg.withColumnRenamed("n", "s1").withColumnRenamed("d", "d1"), "s1")
        .join(deg.withColumnRenamed("n", "s2").withColumnRenamed("d", "d2"), "s2")
        .select(
            F.when(
                (F.col("d1") < F.col("d2"))
                | ((F.col("d1") == F.col("d2")) & (F.col("s1") < F.col("s2"))),
                F.struct(F.col("s1").alias("u"), F.col("s2").alias("v")),
            )
            .otherwise(F.struct(F.col("s2").alias("u"), F.col("s1").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint()  # the wedge join + closure check reuse it 3x
    )
    wedge = e.select(F.col("u").alias("a"), F.col("v").alias("b")).join(
        e.select(F.col("u").alias("b"), F.col("v").alias("c")), "b"
    )
    return wedge.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("c")),
        ["a", "c"],
        "left_semi",
    )


@register(
    "triangle_count_cosupply",
    category="graph",
    doc="Per-node triangle counts in the co-supply graph (suppliers sharing "
    f"≥{TRI_MIN_SHARED} parts with l_quantity ≥ {TRI_MIN_QTY}). The Spark "
    "plan uses DEGREE-ORDERED orientation — every edge directed from the "
    "(degree, id)-smaller endpoint, wedges enumerated only along out-edges "
    "— which bounds per-node wedge fan-out by O(sqrt(|E|)) regardless of "
    "skew (the standard distributed triangle algorithm). The oracle counts "
    "the same triangle set with the simple a<b<c orientation: enumeration "
    f"order differs, the triangle SET does not. Top {TRI_TOPK} nodes.",
    oracle=f"""
WITH {_TRI_EDGES_ORACLE},
tri AS (
  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
  FROM edges e1
  JOIN edges e2 ON e1.s2 = e2.s1
  JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
),
members AS (
  SELECT unnest([a, b, c]) AS node FROM tri
)
SELECT node, COUNT(*) AS tri_count
FROM members
GROUP BY node
ORDER BY tri_count DESC, node
LIMIT {TRI_TOPK}
""",
)
def triangle_count_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    links = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= TRI_MIN_QTY)
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = links.select(F.col("p"), F.col("s").alias("s1"))
    b = links.select(F.col("p"), F.col("s").alias("s2"))
    und = (
        a.join(b, "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= TRI_MIN_SHARED)
        .select("s1", "s2")
    )
    tri = oriented_triangles(und)
    members = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    return (
        members.groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_count"))
        .orderBy(F.desc("tri_count"), F.asc("node"))
        .limit(TRI_TOPK)
    )


# ---------------------------------------------------------------------------
# BFS shortest hop counts (bounded single-source shortest paths)
# ---------------------------------------------------------------------------

BFS_HOPS = 4


def bfs_min_hops(edges: DataFrame, seed: int, max_hops: int = BFS_HOPS) -> DataFrame:
    """Single-source BFS over a directed (src, dst) edge DataFrame: returns
    (node, hop) with the MINIMUM hop count ≤ ``max_hops`` from ``seed``.

    Frontier expansion: each round joins only the NEW frontier against the
    edge table and anti-joins the visited set — per-round work is
    O(frontier × avg-degree), the textbook distributed BFS (Pregel's
    message step as a join). The driver loop is bounded control flow;
    an empty frontier short-circuits.
    """
    spark = edges.sparkSession
    visited = local_frame(spark, [(seed, 0)], "node long, hop int").localCheckpoint()
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hop", F.lit(h))
            .localCheckpoint()  # reused by the next round's anti-join AND union
        )
        if not nxt.take(1):
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return visited


@register(
    "bfs_cosupply_hops",
    category="graph",
    doc=f"Bounded single-source BFS (≤{BFS_HOPS} hops) over the symmetric "
    "co-supply graph, seeded at the minimum node id: per-round "
    "frontier⋈edges + visited anti-join (Pregel-style message step as a "
    "join). Oracle: recursive CTE with DISTINCT union — the working set is "
    "deduped (node, hop) pairs, so cycles cannot blow up the recursion; "
    "MIN(hop) per node equals the BFS level on both engines.",
    oracle=f"""
WITH RECURSIVE {_TRI_EDGES_ORACLE.lstrip()},
sym AS (
  SELECT s1 AS src, s2 AS dst FROM edges
  UNION ALL
  SELECT s2, s1 FROM edges
),
r(node, hop) AS (
  SELECT (SELECT MIN(src) FROM sym), 0
  UNION
  SELECT s.dst, r.hop + 1
  FROM r JOIN sym s ON s.src = r.node
  WHERE r.hop < {BFS_HOPS}
)
SELECT node, CAST(MIN(hop) AS INTEGER) AS hop
FROM r GROUP BY node
""",
)
def bfs_cosupply_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    links = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= TRI_MIN_QTY)
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    und = (
        links.select("p", F.col("s").alias("s1"))
        .join(links.select("p", F.col("s").alias("s2")), "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= TRI_MIN_SHARED)
        .select("s1", "s2")
    )
    edges = (
        und.select(F.col("s1").alias("src"), F.col("s2").alias("dst"))
        .unionByName(und.select(F.col("s2").alias("src"), F.col("s1").alias("dst")))
        .localCheckpoint()  # every BFS round joins this
    )
    seed = edges.agg(F.min("src").alias("m")).collect()[0].m
    return bfs_min_hops(edges, int(seed)).select(
        F.col("node").cast("long").alias("node"), "hop"
    )


SSSP_ROUNDS = 4


@register(
    "sssp_cheapest_supply_path",
    category="graph",
    doc=f"Weighted single-source shortest path (Bellman-Ford, "
    f"{SSSP_ROUNDS} synchronous relaxation rounds) over the cheapest-"
    "cosupply graph: per part keep the two cheapest suppliers (exact cent "
    "prices), edge weight = sum of the pair's cents, seed = minimum node. "
    "Each round is one edges⋈dist join + min-aggregate — the Pregel "
    "min-plus message step as relational ops; after k rounds dist(v) is "
    "EXACTLY the min cost over ≤k-edge paths, so the bounded result is "
    "well-defined on both engines regardless of convergence. Oracle: "
    "recursive CTE enumerating ≤4-edge paths from the seed (positive "
    "weights — revisits only raise cost). The weighted sibling of "
    "bfs_cosupply_hops.",
    oracle=f"""
WITH RECURSIVE mp AS (
  SELECT l_partkey AS p, l_suppkey AS s,
         MIN(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS c
  FROM lineitem GROUP BY 1, 2
),
top2 AS (
  SELECT p, s, c FROM (
    SELECT p, s, c, row_number() OVER (PARTITION BY p ORDER BY c, s) AS rn FROM mp
  ) WHERE rn <= 2
),
und AS (
  SELECT a.s AS s1, b.s AS s2, MIN(a.c + b.c) AS w
  FROM top2 a JOIN top2 b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2
),
sym AS (
  SELECT s1 AS src, s2 AS dst, w FROM und
  UNION ALL
  SELECT s2, s1, w FROM und
),
r(node, cost, depth) AS (
  SELECT (SELECT MIN(src) FROM sym), CAST(0 AS BIGINT), 0
  UNION
  SELECT s.dst, r.cost + s.w, r.depth + 1
  FROM r JOIN sym s ON s.src = r.node
  WHERE r.depth < {SSSP_ROUNDS}
)
SELECT node, MIN(cost) AS dist_cents FROM r GROUP BY node
""",
)
def sssp_cheapest_supply_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    mp = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .agg(F.min(cents).alias("c"))
    )
    w2 = Window.partitionBy("p").orderBy("c", "s")
    top2 = mp.withColumn("rn", F.row_number().over(w2)).where(F.col("rn") <= 2)
    a = top2.select("p", F.col("s").alias("s1"), F.col("c").alias("c1"))
    b = top2.select("p", F.col("s").alias("s2"), F.col("c").alias("c2"))
    und = (
        a.join(b, "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.min(F.col("c1") + F.col("c2")).alias("w"))
    )
    edges = (
        und.select(F.col("s1").alias("src"), F.col("s2").alias("dst"), "w")
        .unionByName(und.select(F.col("s2").alias("src"), F.col("s1").alias("dst"), "w"))
        # every relaxation round joins this; cut lineage once
        .localCheckpoint()
    )
    seed = int(edges.agg(F.min("src").alias("m")).collect()[0].m)
    dist = local_frame(spark, [(seed, 0)], "node BIGINT, cost BIGINT")
    for _ in range(SSSP_ROUNDS):
        relaxed = edges.join(dist, edges.src == dist.node).select(
            F.col("dst").alias("node"), (F.col("cost") + F.col("w")).alias("cost")
        )
        # no per-round checkpoint: dist is node-cardinality and the
        # 4-round lineage over checkpointed edges stays shallow (same
        # lesson as PageRank dropping in-loop checkpoints, ~20% faster)
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
    return dist.select("node", F.col("cost").alias("dist_cents"))


# ---------------------------------------------------------------------------
# k-core decomposition — iterative peel to the maximal subgraph of min degree k
# ---------------------------------------------------------------------------

KCORE_K = 2
KCORE_ROUNDS = 10  # ≥ measured convergence (6 at sf0.1) with headroom


def _oracle_kcore() -> str:
    """T peel rounds unrolled as a CTE chain (recursive CTEs can't
    aggregate in the recursive term, so the fixed bound unrolls —
    convergence is ASSERTED by the converged verdict, which the oracle
    requires TRUE)."""
    base = _TRI_EDGES_ORACLE.lstrip().replace(
        "edges AS (", "edges AS MATERIALIZED (", 1
    ).replace("links AS (", "links AS MATERIALIZED (", 1)
    parts = [f"WITH {base}"]
    prev_nodes = "n0"
    parts.append(
        "n0 AS MATERIALIZED "
        "(SELECT s1 AS n FROM edges UNION SELECT s2 AS n FROM edges)"
    )
    for i in range(KCORE_ROUNDS):
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT s1, s2 FROM edges "
            f"WHERE s1 IN (SELECT n FROM {prev_nodes}) "
            f"AND s2 IN (SELECT n FROM {prev_nodes}))"
        )
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM "
            f"(SELECT s1 AS n FROM e{i} UNION ALL SELECT s2 AS n FROM e{i}) "
            f"GROUP BY n)"
        )
        parts.append(
            f"n{i + 1} AS MATERIALIZED (SELECT n FROM d{i} WHERE d >= {KCORE_K})"
        )
        prev_nodes = f"n{i + 1}"
    last_d = f"d{KCORE_ROUNDS - 1}"
    return (
        ",\n".join(parts)
        + f"""
SELECT n AS node, d AS core_degree,
       (SELECT COUNT(*) FROM {last_d} WHERE d < {KCORE_K}) = 0 AS converged
FROM {last_d} WHERE d >= {KCORE_K}
"""
    )


@register(
    "kcore_decomposition_cosupply",
    category="graph",
    doc=f"{KCORE_K}-core of the co-supply graph (same edge relation as "
    "triangle_count_cosupply): iteratively peel nodes of degree < "
    f"{KCORE_K} until fixpoint — the standard dense-subgraph / community "
    f"seed primitive. SCALE SHAPE: {KCORE_ROUNDS} bounded peel rounds "
    "(measured convergence: 6 at sf0.1), each one a node-set semi-join + "
    "degree partial-agg — per-round state is the NODE set, never edges² "
    "— with the node relation localCheckpoint'd per round (same "
    "iterative posture as PageRank). Output = surviving nodes with their "
    "in-core degrees plus the audited 'converged' verdict: the oracle "
    "unrolls the same rounds and asserts TRUE, so an insufficient round "
    "budget hash-fails instead of silently truncating the peel.",
    oracle=_oracle_kcore(),
)
def kcore_decomposition_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    links = (
        li.where(F.col("l_quantity") >= TRI_MIN_QTY)
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = links.select("p", F.col("s").alias("s1"))
    b = links.select("p", F.col("s").alias("s2"))
    edges = (
        a.join(b, "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= TRI_MIN_SHARED)
        .select("s1", "s2")
        .localCheckpoint()  # every peel round re-reads the edge relation
    )
    alive = (
        edges.select(F.col("s1").alias("n"))
        .union(edges.select("s2"))
        .distinct()
        .localCheckpoint()
    )

    def degrees(nodes: DataFrame) -> DataFrame:
        e_alive = edges.join(
            nodes.withColumnRenamed("n", "s1"), "s1", "left_semi"
        ).join(nodes.withColumnRenamed("n", "s2"), "s2", "left_semi")
        return (
            e_alive.select(F.col("s1").alias("n"))
            .unionAll(e_alive.select("s2"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        )

    # fixpoint early-exit: the peel is monotone, so an unchanged node
    # COUNT means an unchanged node set — the driver-side state is one
    # integer per round (the oracle unrolls all rounds; past the
    # fixpoint they are no-ops, so results agree)
    prev = alive.count()
    for _ in range(KCORE_ROUNDS):
        alive = (
            degrees(alive)
            .where(F.col("d") >= KCORE_K)
            .select("n")
            .localCheckpoint()
        )
        cur = alive.count()
        if cur == prev:
            break
        prev = cur
    deg = degrees(alive).localCheckpoint()
    not_conv = deg.where(F.col("d") < KCORE_K).agg(
        (F.count(F.lit(1)) == 0).alias("converged")
    )
    return (
        deg.where(F.col("d") >= KCORE_K)
        .crossJoin(F.broadcast(not_conv))
        .select(
            F.col("n").alias("node"),
            F.col("d").alias("core_degree"),
            "converged",
        )
    )


# ---------------------------------------------------------------------------
# Label propagation communities (synchronous, deterministic tiebreak)
# ---------------------------------------------------------------------------

LPA_ROUNDS = 4

_LPA_ROUND_ORACLE = """
{name} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT s.dst AS node, l.lbl, COUNT(*) AS c,
           row_number() OVER (PARTITION BY s.dst ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
    FROM sym s JOIN {prev} l ON l.node = s.src
    GROUP BY s.dst, l.lbl
  ) WHERE rn = 1
)"""


@register(
    "label_propagation_communities",
    category="graph",
    doc=f"Community detection by synchronous label propagation "
    f"({LPA_ROUNDS} fixed rounds) over the symmetric co-supply graph: "
    "every node adopts its neighbors' majority label with the "
    "deterministic (count DESC, label ASC) tiebreak, labels seeded with "
    "node ids. Each round is one edges⋈labels join + a (node, label) "
    "count + a per-node argmax — the Pregel message/compute step as two "
    "map-side-combinable shuffles; fixed synchronous rounds keep the "
    "result engine- and partitioning-independent (no convergence race). "
    "Oracle: unrolled MATERIALIZED CTE rounds (the kcore exponential-"
    "inlining lesson, NOTES.md r4).",
    oracle=f"""
WITH {_TRI_EDGES_ORACLE.lstrip()},
sym AS MATERIALIZED (
  SELECT s1 AS src, s2 AS dst FROM edges
  UNION ALL
  SELECT s2, s1 FROM edges
),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
{_LPA_ROUND_ORACLE.format(name='l1', prev='l0')},
{_LPA_ROUND_ORACLE.format(name='l2', prev='l1')},
{_LPA_ROUND_ORACLE.format(name='l3', prev='l2')},
{_LPA_ROUND_ORACLE.format(name='l4', prev='l3')}
SELECT node, lbl AS community,
       CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
FROM l4
""",
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    _und, _sym, labels = _lpa_labels(spark, sf_dir)
    wsz = Window.partitionBy("lbl")
    return labels.select(
        "node",
        F.col("lbl").alias("community"),
        F.count(F.lit(1)).over(wsz).cast("bigint").alias("community_size"),
    )


def _lpa_labels(spark: SparkSession, sf_dir: str):
    """(und, sym, labels) — the LPA core shared by the communities query
    and the modularity score (identical rounds and tiebreaks)."""
    links = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= TRI_MIN_QTY)
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    und = (
        links.select("p", F.col("s").alias("s1"))
        .join(links.select("p", F.col("s").alias("s2")), "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= TRI_MIN_SHARED)
        .select("s1", "s2")
        .localCheckpoint()
    )
    sym = (
        und.select(F.col("s1").alias("src"), F.col("s2").alias("dst"))
        .unionByName(und.select(F.col("s2").alias("src"), F.col("s1").alias("dst")))
        .localCheckpoint()  # every round joins this
    )
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(LPA_ROUNDS):
        labels = (
            sym.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "lbl")
            .localCheckpoint()  # cut the per-round lineage growth
        )
    return und, sym, labels


# ---------------------------------------------------------------------------
# Node neighborhood similarity (common-neighbor Jaccard)
# ---------------------------------------------------------------------------

NODE_SIM_TOPK = 20


@register(
    "graph_node_jaccard_similarity",
    category="graph",
    doc="Structural node similarity in the co-supply graph: Jaccard of "
    "neighbor sets |N(a) ∩ N(b)| / |N(a) ∪ N(b)| for every supplier pair "
    "with at least one COMMON neighbor — the link-prediction / entity-"
    "similarity primitive. SCALE SHAPE: candidate pairs come from the "
    "wedge join through shared neighbors (each common neighbor emits its "
    "pair once; grouping counts the intersection) — NEVER all-pairs; "
    "degrees attach by join; the union size is inclusion-exclusion "
    "(da + db - common), so no set materialization. jaccard_ppm is exact "
    f"half-up integer division; top {NODE_SIM_TOPK} by (jaccard, pair).",
    oracle=f"""
WITH {_TRI_EDGES_ORACLE},
adj AS (
  SELECT s1 AS u, s2 AS v FROM edges
  UNION ALL
  SELECT s2 AS u, s1 AS v FROM edges
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
common AS (
  SELECT a.u AS na, b.u AS nb, CAST(COUNT(*) AS BIGINT) AS c
  FROM adj a JOIN adj b ON a.v = b.v AND a.u < b.u
  GROUP BY 1, 2
)
SELECT na, nb, c AS n_common,
       da.d + db.d - c AS n_union,
       CAST((2 * c * 1000000 + (da.d + db.d - c))
            // (2 * (da.d + db.d - c)) AS BIGINT) AS jaccard_ppm
FROM common
JOIN deg da ON da.u = na
JOIN deg db ON db.u = nb
ORDER BY jaccard_ppm DESC, na, nb
LIMIT {NODE_SIM_TOPK}
""",
)
def graph_node_jaccard_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    links = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= TRI_MIN_QTY)
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = links.select(F.col("p"), F.col("s").alias("s1"))
    b = links.select(F.col("p"), F.col("s").alias("s2"))
    und = (
        a.join(b, "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= TRI_MIN_SHARED)
        .select("s1", "s2")
    )
    adj = (
        und.select(F.col("s1").alias("u"), F.col("s2").alias("v"))
        .unionByName(und.select(F.col("s2").alias("u"), F.col("s1").alias("v")))
        .localCheckpoint()  # wedge join + two degree attaches reuse it
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    common = (
        adj.select(F.col("u").alias("na"), "v")
        .join(adj.select(F.col("u").alias("nb"), "v"), "v")
        .where(F.col("na") < F.col("nb"))
        .groupBy("na", "nb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    c = F.col
    out = (
        common.join(deg.select(c("u").alias("na"), c("d").alias("da")), "na")
        .join(deg.select(c("u").alias("nb"), c("d").alias("db")), "nb")
        .select(
            "na",
            "nb",
            c("c").alias("n_common"),
            (c("da") + c("db") - c("c")).alias("n_union"),
            F.expr(
                "CAST((2 * c * 1000000 + (da + db - c))"
                " DIV (2 * (da + db - c)) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    return out.orderBy(F.desc("jaccard_ppm"), "na", "nb").limit(NODE_SIM_TOPK)


# ---------------------------------------------------------------------------
# HITS — hubs (suppliers) and authorities (parts) on the bipartite graph
# ---------------------------------------------------------------------------

HITS_ROUNDS = 2
HITS_TOPK = 10
_HITS_SCALE = 1_000_000


def _oracle_hits() -> str:
    steps = [
        "e AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey AS p"
        " FROM lineitem)",
        f"h0 AS (SELECT DISTINCT s, CAST({_HITS_SCALE} AS HUGEINT) AS sc FROM e)",
    ]
    prev_h = "h0"
    for r in range(1, HITS_ROUNDS + 1):
        steps.append(
            f"""a{r} AS MATERIALIZED (
  SELECT e.p, CAST(SUM({prev_h}.sc) AS HUGEINT) AS sc
  FROM e JOIN {prev_h} USING (s) GROUP BY e.p)"""
        )
        steps.append(
            f"a{r}n AS MATERIALIZED (SELECT p, (sc * {_HITS_SCALE})"
            f" // (SELECT MAX(sc) FROM a{r}) AS sc FROM a{r})"
        )
        steps.append(
            f"""h{r} AS MATERIALIZED (
  SELECT e.s, CAST(SUM(a{r}n.sc) AS HUGEINT) AS sc
  FROM e JOIN a{r}n USING (p) GROUP BY e.s)"""
        )
        steps.append(
            f"h{r}n AS MATERIALIZED (SELECT s, (sc * {_HITS_SCALE})"
            f" // (SELECT MAX(sc) FROM h{r}) AS sc FROM h{r})"
        )
        prev_h = f"h{r}n"
    last = HITS_ROUNDS
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
SELECT side, key, score_ppm, rnk FROM (
  SELECT 'authority' AS side, CAST(p AS BIGINT) AS key,
         CAST(sc AS BIGINT) AS score_ppm,
         row_number() OVER (ORDER BY sc DESC, p) AS rnk
  FROM a{last}n ORDER BY sc DESC, p LIMIT {HITS_TOPK}
) UNION ALL
SELECT side, key, score_ppm, rnk FROM (
  SELECT 'hub' AS side, CAST(s AS BIGINT) AS key,
         CAST(sc AS BIGINT) AS score_ppm,
         row_number() OVER (ORDER BY sc DESC, s) AS rnk
  FROM h{last}n ORDER BY sc DESC, s LIMIT {HITS_TOPK}
)"""
    )


@register(
    "hits_hubs_authorities",
    category="graph",
    doc=f"HITS (Kleinberg) over the supplier->part bipartite supply graph: "
    f"{HITS_ROUNDS} unrolled mutual-reinforcement rounds — authority = "
    "sum of pointing hub scores, hub = sum of pointed authority scores — "
    "with MAX-normalization after every half-step kept in EXACT integers "
    f"(score*1e6 DIV max, bounded at {_HITS_SCALE}); emits the top-"
    f"{HITS_TOPK} authorities and hubs. SCALE SHAPE: each half-round is "
    "one edge join + one map-side-combinable sum keyed on the node id "
    "(the PageRank shape); the normalizer is a 1-row aggregate crossJoin, "
    "never a global window; the edge relation is checkpointed once and "
    "reused by all rounds. Deterministic integer dynamics — identical on "
    "any engine; oracle = unrolled MATERIALIZED CTE rounds (the kcore "
    "lesson). Top-k via ORDER BY+LIMIT heaps.",
    oracle=_oracle_hits(),
)
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    e = (
        table(spark, sf_dir, "lineitem")
        .select(c("l_suppkey").alias("s"), c("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()  # all rounds read it
    )
    h = e.select("s").distinct().select(
        "s", F.lit(_HITS_SCALE).cast("decimal(38,0)").alias("sc")
    )
    a = None
    for _ in range(HITS_ROUNDS):
        # checkpoint the raw aggregate BEFORE the max-normalizer crossJoin:
        # crossJoin(df.agg(max)) otherwise evaluates the un-materialized
        # aggregate subplan TWICE per half-round (the double-subplan trap),
        # compounding across rounds. Node-cardinality state — cheap.
        a = (
            e.join(h, "s")
            .groupBy("p")
            .agg(F.sum("sc").cast("decimal(38,0)").alias("sc"))
            .localCheckpoint()
        )
        a = a.crossJoin(a.agg(F.max("sc").alias("mx"))).select(
            "p", F.expr(f"CAST((sc * {_HITS_SCALE}) DIV mx AS DECIMAL(38,0))").alias("sc")
        )
        h = (
            e.join(a, "p")
            .groupBy("s")
            .agg(F.sum("sc").cast("decimal(38,0)").alias("sc"))
            .localCheckpoint()
        )
        h = h.crossJoin(h.agg(F.max("sc").alias("mx"))).select(
            "s", F.expr(f"CAST((sc * {_HITS_SCALE}) DIV mx AS DECIMAL(38,0))").alias("sc")
        )

    def topk(df: DataFrame, key: str, side: str) -> DataFrame:
        lim = df.orderBy(F.desc("sc"), F.asc(key)).limit(HITS_TOPK)
        w = Window.orderBy(F.desc("sc"), F.asc(key))
        return lim.select(
            F.lit(side).alias("side"),
            c(key).cast("bigint").alias("key"),
            c("sc").cast("bigint").alias("score_ppm"),
            F.row_number().over(w).cast("bigint").alias("rnk"),
        )

    return topk(a, "p", "authority").unionAll(topk(h, "s", "hub"))


# ---------------------------------------------------------------------------
# k-truss — edge peeling by triangle support (the edge sibling of k-core)
# ---------------------------------------------------------------------------

KTRUSS_K = 4  # every surviving edge sits in >= k-2 = 2 triangles
KTRUSS_MIN_QTY = 45
KTRUSS_MIN_SHARED = 2
KTRUSS_ROUNDS = 7  # fixpoint needs 6 at sf0.1; verdict audits the budget
KTRUSS_TOPK = 20


def _oracle_ktruss() -> str:
    base = f"""e0 AS MATERIALIZED (
  SELECT a.s AS s1, b.s AS s2
  FROM links a JOIN links b USING (p)
  WHERE a.s < b.s GROUP BY 1, 2 HAVING COUNT(*) >= {KTRUSS_MIN_SHARED})"""
    steps = [
        f"""links AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
  WHERE l_quantity >= {KTRUSS_MIN_QTY})""",
        base,
    ]
    for r in range(1, KTRUSS_ROUNDS + 1):
        p = r - 1
        steps.append(
            f"""t{p} AS MATERIALIZED (
  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
  FROM e{p} e1 JOIN e{p} e2 ON e1.s2 = e2.s1
  JOIN e{p} e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2)"""
        )
        steps.append(
            f"""sp{p} AS MATERIALIZED (
  SELECT s1, s2, COUNT(*) AS supp FROM (
    SELECT a AS s1, b AS s2 FROM t{p}
    UNION ALL SELECT a, c FROM t{p}
    UNION ALL SELECT b, c FROM t{p}) GROUP BY 1, 2)"""
        )
        steps.append(
            f"""e{r} AS MATERIALIZED (
  SELECT e.s1, e.s2 FROM e{p} e
  LEFT JOIN sp{p} s ON s.s1 = e.s1 AND s.s2 = e.s2
  WHERE COALESCE(s.supp, 0) >= {KTRUSS_K - 2})"""
        )
    last, prev = KTRUSS_ROUNDS, KTRUSS_ROUNDS - 1
    return (
        "WITH "
        + ",\n".join(steps)
        + f""",
tf AS MATERIALIZED (
  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
  FROM e{last} e1 JOIN e{last} e2 ON e1.s2 = e2.s1
  JOIN e{last} e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
spf AS (
  SELECT s1, s2, COUNT(*) AS supp FROM (
    SELECT a AS s1, b AS s2 FROM tf
    UNION ALL SELECT a, c FROM tf
    UNION ALL SELECT b, c FROM tf) GROUP BY 1, 2),
summary AS (
  SELECT (SELECT COUNT(*) FROM e{last}) AS n_edges_final,
         (SELECT COUNT(*) FROM e{last}) = (SELECT COUNT(*) FROM e{prev})
           AS converged
)
SELECT e.s1, e.s2, CAST(COALESCE(s.supp, 0) AS BIGINT) AS support,
       CAST(summary.n_edges_final AS BIGINT) AS n_edges_final,
       summary.converged
FROM e{last} e
LEFT JOIN spf s ON s.s1 = e.s1 AND s.s2 = e.s2
CROSS JOIN summary
ORDER BY support DESC, e.s1, e.s2 LIMIT {KTRUSS_TOPK}"""
    )


@register(
    "ktruss_cosupply_peel",
    category="graph",
    doc=f"{KTRUSS_K}-truss of the co-supply graph (qty >= "
    f"{KTRUSS_MIN_QTY}, shared >= {KTRUSS_MIN_SHARED}): iteratively drop "
    f"edges in fewer than {KTRUSS_K - 2} triangles until fixpoint — the "
    "EDGE-cohesion sibling of kcore_decomposition (k-truss is the "
    "community-core primitive in graph mining). Each round re-derives "
    "per-edge triangle support from the degree-ordered oriented wedge "
    "join (O(E^1.5) work, skew-bounded) and filters; the Spark loop "
    "early-exits on a fixpoint (ONE scalar of driver state per round, "
    f"the kcore pattern) under a {KTRUSS_ROUNDS}-round budget, and the "
    "AUDITED converged verdict hash-fails if that budget is ever "
    "insufficient (oracle replays the same unrolled MATERIALIZED rounds "
    "— surplus rounds are no-ops past the fixpoint). Emits the top-"
    f"{KTRUSS_TOPK} surviving edges by final support.",
    oracle=_oracle_ktruss(),
)
def ktruss_cosupply_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    links = (
        table(spark, sf_dir, "lineitem")
        .where(c("l_quantity") >= KTRUSS_MIN_QTY)
        .select(c("l_partkey").alias("p"), c("l_suppkey").alias("s"))
        .distinct()
    )
    a = links.select("p", c("s").alias("s1"))
    b = links.select("p", c("s").alias("s2"))
    e = (
        a.join(b, "p")
        .where(c("s1") < c("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(c("shared") >= KTRUSS_MIN_SHARED)
        .select("s1", "s2")
        .localCheckpoint()
    )

    def support(edges: DataFrame) -> DataFrame:
        # materialize the triangle relation: its three pair projections
        # would otherwise re-run the wedge join three times per round
        tri = oriented_triangles(edges).localCheckpoint()
        pairs = (
            tri.select(F.least("a", "b").alias("s1"), F.greatest("a", "b").alias("s2"))
            .unionAll(
                tri.select(
                    F.least("a", "c").alias("s1"), F.greatest("a", "c").alias("s2")
                )
            )
            .unionAll(
                tri.select(
                    F.least("b", "c").alias("s1"), F.greatest("b", "c").alias("s2")
                )
            )
        )
        return pairs.groupBy("s1", "s2").agg(F.count(F.lit(1)).alias("supp"))

    n_prev = e.count()
    converged = False
    sp = None
    for _ in range(KTRUSS_ROUNDS):
        sp = support(e)
        e = (
            e.join(sp, ["s1", "s2"], "left")
            .where(F.coalesce(c("supp"), F.lit(0)) >= KTRUSS_K - 2)
            .select("s1", "s2")
            .localCheckpoint()
        )
        n_now = e.count()  # one scalar of driver state per round
        if n_now == n_prev:
            converged = True
            break
        n_prev = n_now
    # On a converged exit the last round dropped no edges, so e IS the
    # edge set sp was computed from — reuse sp for the final readout
    # instead of paying one more full wedge-join pass (sp's triangle
    # input is checkpointed; re-evaluating sp is only the union+groupBy
    # over it). A budget-exhausted exit still recomputes honestly.
    final_sp = sp if converged and sp is not None else support(e)
    out = (
        e.join(final_sp, ["s1", "s2"], "left")
        .select(
            "s1",
            "s2",
            F.coalesce(c("supp"), F.lit(0)).cast("bigint").alias("support"),
            F.lit(n_prev).cast("bigint").alias("n_edges_final"),
            F.lit(converged).alias("converged"),
        )
        .orderBy(F.desc("support"), "s1", "s2")
        .limit(KTRUSS_TOPK)
    )
    return out


# ---------------------------------------------------------------------------
# Degree assortativity — do high-degree suppliers co-supply with each other?
# ---------------------------------------------------------------------------


@register(
    "degree_assortativity_cosupply",
    category="graph",
    doc="Degree assortativity coefficient of the co-supply graph (same "
    f"edge set as triangle_count_cosupply): the Pearson correlation of "
    "endpoint degrees over the SYMMETRIZED directed edge list (each "
    "undirected edge contributes both orientations — the standard "
    "Newman formulation, which makes the x/y marginals identical). "
    "Positive = hub-hub mixing, negative = hub-leaf (disassortative). "
    "One degree aggregate + one edge join + one moment aggregate; the "
    "coefficient goes through the shared corrected-isqrt ppm path and "
    "the exact moments emit as DIGIT STRINGS (they grow ~E*deg^2, past "
    "BIGINT at scale — the decimal lesson).",
    oracle=f"""
WITH links AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
  WHERE l_quantity >= {TRI_MIN_QTY}
),
und AS (
  SELECT a.s AS s1, b.s AS s2
  FROM links a JOIN links b USING (p)
  WHERE a.s < b.s GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SHARED}
),
deg AS (
  SELECT n, CAST(COUNT(*) AS HUGEINT) AS d FROM (
    SELECT s1 AS n FROM und UNION ALL SELECT s2 FROM und
  ) GROUP BY n
),
dir AS (
  SELECT s1 AS a, s2 AS b FROM und UNION ALL SELECT s2, s1 FROM und
),
mom AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(da.d) AS HUGEINT) AS sx,
         CAST(SUM(da.d * da.d) AS HUGEINT) AS sxx,
         CAST(SUM(da.d * db.d) AS HUGEINT) AS sxy
  FROM dir
  JOIN deg da ON da.n = dir.a
  JOIN deg db ON db.n = dir.b
),
m AS (
  SELECT n, n * sxy - sx * sx AS num,
         n * sxx - sx * sx AS dxx,
         n * sxx - sx * sx AS dyy
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n_directed,
       CAST(num AS VARCHAR) AS num,
       CAST(dxx AS VARCHAR) AS dxx,
       {{CORR}} AS r_ppm
FROM m
""",
)
def degree_assortativity_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.stats import with_corr_ppm

    c = F.col
    links = (
        table(spark, sf_dir, "lineitem")
        .where(c("l_quantity") >= TRI_MIN_QTY)
        .select(c("l_partkey").alias("p"), c("l_suppkey").alias("s"))
        .distinct()
    )
    a = links.select("p", c("s").alias("s1"))
    b = links.select("p", c("s").alias("s2"))
    und = (
        a.join(b, "p")
        .where(c("s1") < c("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(c("shared") >= TRI_MIN_SHARED)
        .select("s1", "s2")
        .localCheckpoint()  # degree agg + both orientations read it
    )
    deg = (
        und.select(c("s1").alias("n"))
        .unionAll(und.select("s2"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    direct = und.select(c("s1").alias("a"), c("s2").alias("b")).unionAll(
        und.select(c("s2").alias("a"), c("s1").alias("b"))
    )
    da = deg.select(c("n").alias("a"), c("d").alias("dega"))
    db = deg.select(c("n").alias("b"), c("d").alias("degb"))
    mom = (
        direct.join(da, "a")
        .join(db, "b")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("dega").cast("decimal(38,0)").alias("sx"),
            F.sum(c("dega") * c("dega")).cast("decimal(38,0)").alias("sxx"),
            F.sum(c("dega") * c("degb")).cast("decimal(38,0)").alias("sxy"),
        )
    )
    m = mom.select(
        "n",
        F.expr("CAST(n * sxy - sx * sx AS DECIMAL(38,0))").alias("num"),
        F.expr("CAST(n * sxx - sx * sx AS DECIMAL(38,0))").alias("dxx"),
        F.expr("CAST(n * sxx - sx * sx AS DECIMAL(38,0))").alias("dyy"),
    )
    return with_corr_ppm(m, out="r_ppm").select(
        c("n").cast("bigint").alias("n_directed"),
        c("num").cast("string").alias("num"),
        c("dxx").cast("string").alias("dxx"),
        "r_ppm",
    )


from wheels_in_motion_analytics_spark.functions.stats import corr_ppm_sql as _corr_sql2  # noqa: E402
from wheels_in_motion_analytics_spark.registry import REGISTRY as _REG_DA  # noqa: E402

_REG_DA["degree_assortativity_cosupply"].oracle = _REG_DA[
    "degree_assortativity_cosupply"
].oracle.replace("{CORR}", _corr_sql2("num", "dxx", "dyy"))


# ---------------------------------------------------------------------------
# Clustering coefficients — global transitivity + average local
# ---------------------------------------------------------------------------


@register(
    "clustering_coefficient_cosupply",
    category="graph",
    doc="Global transitivity AND average local clustering coefficient of "
    "the co-supply graph (same edge set as triangle_count_cosupply), "
    "completing the cohesion family (triangles, k-core, k-truss, "
    "assortativity). Global C = 3T / W with W = sum d(d-1)/2 open "
    "wedges; local c_v = tri_v / (d_v choose 2) averaged over nodes "
    "with d >= 2 — BOTH as exact half-up ppm integers: the global one "
    "by direct cross-multiplication, the average-local one by summing "
    "per-node cross-multiplied ppm values (each an exact integer) and "
    "half-up dividing by the node count. One triangle enumeration "
    "(degree-ordered wedge join), one degree aggregate, one join.",
    oracle=f"""
WITH {_TRI_EDGES_ORACLE},
tri AS (
  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
  FROM edges e1
  JOIN edges e2 ON e1.s2 = e2.s1
  JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
),
deg AS (
  SELECT n, CAST(COUNT(*) AS HUGEINT) AS d FROM (
    SELECT s1 AS n FROM edges UNION ALL SELECT s2 FROM edges
  ) GROUP BY n
),
pert AS (
  SELECT node, CAST(COUNT(*) AS HUGEINT) AS t FROM (
    SELECT unnest([a, b, c]) AS node FROM tri
  ) GROUP BY node
),
tot AS (
  SELECT CAST((SELECT COUNT(*) FROM tri) AS HUGEINT) AS n_tri,
         CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS HUGEINT) AS n_wedges
),
loc AS (
  SELECT deg.n,
         (2000000 * COALESCE(pert.t, 0) * 2 + deg.d * (deg.d - 1))
           // (2 * (deg.d * (deg.d - 1) // 2)) AS c_ppm
  FROM deg LEFT JOIN pert ON pert.node = deg.n
  WHERE deg.d >= 2
),
avg_loc AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n_nodes,
         CAST(SUM(c_ppm) AS HUGEINT) AS s
  FROM loc
)
SELECT CAST(tot.n_tri AS BIGINT) AS n_triangles,
       CAST(tot.n_wedges AS BIGINT) AS n_wedges,
       CAST((2000000 * 3 * tot.n_tri + tot.n_wedges)
            // (2 * tot.n_wedges) AS BIGINT) AS global_cc_ppm,
       CAST(avg_loc.n_nodes AS BIGINT) AS n_nodes_deg2,
       CAST((2 * avg_loc.s + avg_loc.n_nodes)
            // (2 * avg_loc.n_nodes) AS BIGINT) AS avg_local_cc_ppm
FROM tot CROSS JOIN avg_loc
""",
)
def clustering_coefficient_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    links = (
        table(spark, sf_dir, "lineitem")
        .where(c("l_quantity") >= TRI_MIN_QTY)
        .select(c("l_partkey").alias("p"), c("l_suppkey").alias("s"))
        .distinct()
    )
    a = links.select("p", c("s").alias("s1"))
    b = links.select("p", c("s").alias("s2"))
    und = (
        a.join(b, "p")
        .where(c("s1") < c("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(c("shared") >= TRI_MIN_SHARED)
        .select("s1", "s2")
        .localCheckpoint()  # degrees + triangle enumeration share it
    )
    tri = oriented_triangles(und).localCheckpoint()  # total + per-node reads
    deg = (
        und.select(c("s1").alias("n"))
        .unionAll(und.select("s2"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    pert = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    tot = tri.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n_tri")).crossJoin(
        deg.agg(
            F.sum(F.expr("d * (d - 1) DIV 2")).cast("decimal(38,0)").alias("n_wedges")
        )
    )
    loc = (
        deg.where(c("d") >= 2)
        .join(pert, deg.n == pert.node, "left")
        .select(
            F.expr(
                "(CAST(2000000 AS DECIMAL(38,0)) * COALESCE(t, 0) * 2"
                " + CAST(d AS DECIMAL(38,0)) * (d - 1))"
                " DIV (2 * (CAST(d AS DECIMAL(38,0)) * (d - 1) DIV 2))"
            ).alias("c_ppm")
        )
    )
    avg_loc = loc.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_nodes"),
        F.sum("c_ppm").cast("decimal(38,0)").alias("s"),
    )
    return tot.crossJoin(avg_loc).select(
        c("n_tri").cast("bigint").alias("n_triangles"),
        c("n_wedges").cast("bigint").alias("n_wedges"),
        F.expr(
            "CAST((2000000 * 3 * n_tri + n_wedges) DIV (2 * n_wedges) AS BIGINT)"
        ).alias("global_cc_ppm"),
        c("n_nodes").cast("bigint").alias("n_nodes_deg2"),
        F.expr(
            "CAST((2 * s + n_nodes) DIV (2 * n_nodes) AS BIGINT)"
        ).alias("avg_local_cc_ppm"),
    )


# ---------------------------------------------------------------------------
# Modularity — quality score of the detected communities
# ---------------------------------------------------------------------------


@register(
    "community_modularity_score",
    category="graph",
    doc="Newman modularity Q of the label-propagation partition (the SAME "
    f"{LPA_ROUNDS} synchronous rounds and tiebreaks as "
    "label_propagation_communities — shared core): Q = sum_c [e_c/m - "
    "(d_c/2m)^2] computed EXACTLY as integers — num = sum_c (4*m*e_c - "
    "d_c^2), den = 4*m^2, q_ppm = sign * half-up DIV; num emits as a "
    "digit string. e_c is one labels-join per edge endpoint + a filtered "
    "count, d_c one degree-labels join — all map-side-combinable. The "
    "community-quality readout that tells you whether the partition is "
    "better than random (Q > 0).",
    oracle=f"""
WITH {_TRI_EDGES_ORACLE.lstrip()},
sym AS MATERIALIZED (
  SELECT s1 AS src, s2 AS dst FROM edges
  UNION ALL
  SELECT s2, s1 FROM edges
),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
{_LPA_ROUND_ORACLE.format(name='l1', prev='l0')},
{_LPA_ROUND_ORACLE.format(name='l2', prev='l1')},
{_LPA_ROUND_ORACLE.format(name='l3', prev='l2')},
{_LPA_ROUND_ORACLE.format(name='l4', prev='l3')},
m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM edges),
ec AS (
  SELECT la.lbl, CAST(COUNT(*) AS HUGEINT) AS e_c
  FROM edges e
  JOIN l4 la ON la.node = e.s1
  JOIN l4 lb ON lb.node = e.s2
  WHERE la.lbl = lb.lbl
  GROUP BY la.lbl
),
dc AS (
  SELECT l4.lbl, CAST(COUNT(*) AS HUGEINT) AS d_c
  FROM sym JOIN l4 ON l4.node = sym.src
  GROUP BY l4.lbl
),
terms AS (
  SELECT dc.lbl, 4 * m.m * COALESCE(ec.e_c, 0) - dc.d_c * dc.d_c AS t
  FROM dc LEFT JOIN ec ON ec.lbl = dc.lbl CROSS JOIN m
),
agg AS (
  SELECT CAST(SUM(t) AS HUGEINT) AS num,
         CAST(COUNT(*) AS BIGINT) AS n_comm
  FROM terms
)
SELECT CAST(m.m AS BIGINT) AS n_edges,
       agg.n_comm AS n_communities,
       CAST(agg.num AS VARCHAR) AS q_num,
       CAST((CASE WHEN agg.num < 0 THEN -1 ELSE 1 END)
            * ((2000000 * abs(agg.num) + 4 * m.m * m.m)
               // (2 * 4 * m.m * m.m)) AS BIGINT) AS q_ppm
FROM m CROSS JOIN agg
""",
)
def community_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    und, sym, labels = _lpa_labels(spark, sf_dir)
    labels = labels.localCheckpoint()  # three consumers below
    m = und.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("m"))
    ec = (
        und.join(labels.select(c("node").alias("s1"), c("lbl").alias("la")), "s1")
        .join(labels.select(c("node").alias("s2"), c("lbl").alias("lb")), "s2")
        .where(c("la") == c("lb"))
        .groupBy(c("la").alias("lbl"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("e_c"))
    )
    dc = (
        sym.join(labels.select(c("node").alias("src"), "lbl"), "src")
        .groupBy("lbl")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("d_c"))
    )
    terms = (
        dc.join(ec, "lbl", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.expr(
                "4 * m * COALESCE(e_c, CAST(0 AS DECIMAL(38,0))) - d_c * d_c"
            ).alias("t")
        )
    )
    agg = terms.agg(
        F.sum("t").cast("decimal(38,0)").alias("num"),
        F.count(F.lit(1)).cast("bigint").alias("n_comm"),
    )
    return m.crossJoin(agg).select(
        c("m").cast("bigint").alias("n_edges"),
        c("n_comm").alias("n_communities"),
        c("num").cast("string").alias("q_num"),
        F.expr(
            "CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)"
            " * ((2000000 * abs(num) + 4 * m * m)"
            " DIV (2 * 4 * m * m)) AS BIGINT)"
        ).alias("q_ppm"),
    )
