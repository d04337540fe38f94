"""Window-function operators (§2b gap fill — the reference has no window
functions; its nearest patterns are the BI share-of-total A5 and top-k A4).

Scale notes: a window partitioned by a real key (customer, user) shuffles once
on that key and streams within the partition — fine at 100 TB if the key has
enough cardinality. Windows with an EMPTY partition spec serialize onto a
single task; they appear here only on top of already-aggregated inputs.
Running sums accumulate in decimal so the emitted doubles are bit-stable
(compat.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import local_frame, table


@register(
    "window_rank_dense",
    category="windows",
    doc="rank / dense_rank / row_number per group over a total order.",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice,
       rank()       OVER w AS price_rank,
       dense_rank() OVER w AS price_dense_rank,
       row_number() OVER w AS rn
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)
QUALIFY rn <= 20
""",
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).alias("price_rank"),
            F.dense_rank().over(w).alias("price_dense_rank"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 20)
    )


@register(
    "window_running_sum",
    category="windows",
    doc="Running total per customer (rows UNBOUNDED PRECEDING..CURRENT), "
    "decimal-accumulated for cross-engine bit-stability.",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend
FROM orders
""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w).cast("double").alias("running_spend"),
    )


@register(
    "window_lag_lead",
    category="windows",
    doc="lag/lead analytic functions: previous/next event value per user.",
    oracle="""
SELECT user_id, event_id, value,
       lag(value)  OVER w AS prev_value,
       lead(value) OVER w AS next_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
""",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@register(
    "window_ntile_percentiles",
    category="windows",
    doc="ntile / percent_rank / cume_dist distribution functions.",
    oracle="""
SELECT c_custkey, c_acctbal,
       ntile(4)       OVER w AS quartile,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist()    OVER w, 6) AS cume
FROM customer
WINDOW w AS (ORDER BY c_acctbal ASC, c_custkey ASC)
""",
)
def window_ntile_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Empty partition spec: single-task sort — acceptable here because the
    # customer dim is small; for a fact-sized input, bucket first.
    w = Window.orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
    return table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "window_range_frame",
    category="windows",
    doc="RANGE frame over a numeric order: count of same-priority orders "
    "within ±50 of each order's total price.",
    oracle="""
SELECT o_orderkey, o_orderpriority, o_totalprice,
       COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
                      RANGE BETWEEN 50 PRECEDING AND 50 FOLLOWING) AS peers_within_50
FROM orders
""",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice"))
        .rangeBetween(-50, 50)
    )
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("peers_within_50"),
    )


@register(
    "window_first_last",
    category="windows",
    doc="first_value/last_value with explicit frames per group.",
    oracle="""
SELECT user_id, event_id, ts,
       first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS first_event_type,
       last_value(event_type)  OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS last_event_type
FROM events
""",
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    order = [F.asc("ts"), F.asc("event_id")]
    w_first = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_last = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.first("event_type").over(w_first).alias("first_event_type"),
        F.last("event_type").over(w_last).alias("last_event_type"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands streak detection
# ---------------------------------------------------------------------------


@register(
    "streak_increasing_orders",
    category="windows",
    doc="MATCH_RECOGNIZE-style pattern over order history: per customer, "
    "the LONGEST streak of consecutive strictly-increasing order totals "
    "(cents-exact comparison). Classic gaps-and-islands: a lag flag marks "
    "streak breaks, a running sum of breaks assigns island ids, one "
    "groupBy sizes the islands, a max picks the streak. All three windows "
    "share the customer partitioning — one shuffle.",
    oracle="""
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS seq
  FROM orders
),
flagged AS (
  SELECT o_custkey, seq, cents,
         CASE WHEN cents > lag(cents) OVER w THEN 0 ELSE 1 END AS brk
  FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY seq)
),
islands AS (
  SELECT o_custkey,
         SUM(brk) OVER (PARTITION BY o_custkey ORDER BY seq) AS island
  FROM flagged
),
sized AS (
  SELECT o_custkey, island, COUNT(*) AS len FROM islands GROUP BY 1, 2
)
SELECT o_custkey, MAX(len) AS longest_increasing_streak
FROM sized GROUP BY o_custkey
""",
)
def streak_increasing_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("seq"),
    )
    wseq = Window.partitionBy("o_custkey").orderBy("seq")
    flagged = o.select(
        "o_custkey",
        "seq",
        F.when(F.col("cents") > F.lag("cents").over(wseq), 0)
        .otherwise(1)
        .alias("brk"),
    )
    islands = flagged.select(
        "o_custkey",
        F.sum("brk")
        .over(wseq.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    sized = islands.groupBy("o_custkey", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return sized.groupBy("o_custkey").agg(
        F.max("len").alias("longest_increasing_streak")
    )


# ---------------------------------------------------------------------------
# Weighted median
# ---------------------------------------------------------------------------


@register(
    "weighted_median_price",
    category="windows",
    doc="Quantity-weighted median of extended price per return flag: "
    "cumulative-weight window over the per-value grain, first value whose "
    "running weight reaches half the group total (lower weighted median — "
    "a deterministic convention, no interpolation). The value grain keeps "
    "window state at |distinct prices per group|, not raw rows.",
    oracle="""
WITH g AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         SUM(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem GROUP BY 1, 2
),
c AS (
  SELECT flag, cents,
         SUM(w) OVER (PARTITION BY flag ORDER BY cents) AS cw,
         SUM(w) OVER (PARTITION BY flag) AS tw
  FROM g
)
SELECT flag, MIN(cents) AS weighted_median_cents
FROM c WHERE cw * 2 >= tw
GROUP BY flag
""",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("w"))
    )
    wc = Window.partitionBy("flag").orderBy("cents").rangeBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("flag")
    c = g.select(
        "flag",
        "cents",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    return (
        c.where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("flag")
        .agg(F.min("cents").alias("weighted_median_cents"))
    )


# ---------------------------------------------------------------------------
# Distributed exact global rank (two-phase, TeraSort-shaped)
# ---------------------------------------------------------------------------


def global_row_number(
    df: DataFrame,
    order_cols: list,
    rn_name: str = "rn",
    partitions: int | None = None,
) -> DataFrame:
    """Exact global ``row_number`` over a TOTAL order without the
    single-task funnel of an unpartitioned window: the inclusive running
    count of rows, i.e. :func:`global_prefix_sums` of a constant 1.

    Exact for any partition boundaries as long as ``order_cols`` is a total
    order (include a unique tiebreak)."""
    ones = df.withColumn("__one", F.lit(1).cast("long"))
    ranked, _ = _prefix_sums(ones, order_cols, ["__one"], partitions, "_cum")
    return ranked.withColumnRenamed("__one_cum", rn_name).drop("__one")


def global_ntile(
    df: DataFrame,
    n_tiles: int,
    order_cols: list,
    tile_name: str = "tile",
    partitions: int | None = None,
) -> DataFrame:
    """Exact global ``ntile(n)`` on top of the two-phase rank — identical
    semantics to ``ntile`` over an unpartitioned window (the first
    ``N mod n`` tiles get the extra row), minus its single-task sort. The
    row total falls out of the per-partition sums, so no counting job."""
    ones = df.withColumn("__one", F.lit(1).cast("long"))
    ranked, totals = _prefix_sums(ones, order_cols, ["__one"], partitions, "_cum")
    q, r = divmod(totals["__one"], n_tiles)
    big = q + 1  # tiles 1..r have q+1 rows; tiles r+1..n have q rows
    rn = F.col("__one_cum")
    tile = F.when(
        rn <= big * r, ((rn - 1) / big).cast("long") + 1
    ).otherwise(F.lit(r) + ((rn - 1 - big * r) / F.greatest(F.lit(q), F.lit(1))).cast("long") + 1)
    return ranked.withColumn(tile_name, tile.cast("int")).drop("__one", "__one_cum")


def global_prefix_sums(
    df: DataFrame,
    order_cols: list,
    value_cols: list,
    partitions: int | None = None,
    suffix: str = "_cum",
) -> DataFrame:
    """Exact INCLUSIVE global running sums of integral ``value_cols`` over a
    total order, TeraSort-shaped so rank statistics (Mann-Whitney, KS,
    CDFs) never pay a single-task global window even when the
    distinct-value relation is nearly row-cardinality:

    1. ``repartitionByRange`` on the order columns — a sampled range
       partitioner sorts in parallel (partition *i* holds strictly lower
       key tuples than partition *i+1*);
    2. per-partition sums → cumulative offsets. The only driver-side state
       is one row per partition — bounded by the partition count, never by
       data size;
    3. a window partitioned by the RANGE partition id computes the local
       running sum, and local + offset is the exact global sum. Every
       window group is one range partition, so parallelism equals the sort
       parallelism — no single-task stage anywhere in the plan.

    Values must be integral (LONG offsets keep the result exact under any
    partitioning)."""
    return _prefix_sums(df, order_cols, value_cols, partitions, suffix)[0]


def _prefix_sums(
    df: DataFrame,
    order_cols: list,
    value_cols: list,
    partitions: int | None,
    suffix: str,
) -> tuple[DataFrame, dict[str, int]]:
    """:func:`global_prefix_sums` plus each column's grand total, which the
    offset pass yields for free."""
    spark = df.sparkSession
    if partitions is None:
        # scan/shuffle-width default: enough to keep every core busy without
        # spraying a local run into hundreds of tiny range partitions
        partitions = spark.sparkContext.defaultParallelism
    # LAZY local checkpoint (r11 fuse): the per-partition sums job below is
    # the first consumer, so it materializes the range-partitioned blocks —
    # 2 jobs per use instead of eager-checkpoint + sums + final. The
    # nondeterministic range sampling still executes exactly once (the
    # window pass reads the SAME stored blocks; a local checkpoint cannot
    # recompute — lineage is truncated, so a lost block fails loudly
    # rather than resampling).
    ranged = (
        df.repartitionByRange(partitions, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    per = (
        ranged.groupBy("__pid")
        .agg(*[F.sum(c).cast("long").alias(c) for c in value_cols])
        .collect()
    )
    rows, acc = [], {c: 0 for c in value_cols}
    for r in sorted(per, key=lambda r: r["__pid"]):
        rows.append(tuple([r["__pid"]] + [acc[c] for c in value_cols]))
        for c in value_cols:
            acc[c] += r[c] or 0
    off_cols = [f"__off{i}" for i in range(len(value_cols))]
    off = local_frame(
        spark, rows, "__pid int, " + ", ".join(f"{c} long" for c in off_cols)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # window before the offsets join: joining first measured ~15% slower
    # (ntile over sf0.1 lineitem, min of 5)
    out = ranged
    for c in value_cols:
        out = out.withColumn(c + suffix, F.sum(c).over(w))
    out = out.join(F.broadcast(off), "__pid")
    for c, o in zip(value_cols, off_cols):
        out = out.withColumn(c + suffix, (F.col(c + suffix) + F.col(o)).cast("long"))
    return out.drop("__pid", *off_cols), acc


@register(
    "global_quartiles_exact",
    category="windows",
    doc="EXACT corpus-wide p25/p50/p75 of l_extendedprice by distributed "
    "order-statistic selection: prices quantize to integer cents and each "
    "quartile's two straddling ranks are selected by shared-round histogram "
    "narrowing (rank_values — one integer histogram of <=16384 rows per "
    "round, all six target ranks narrowed in the SAME scan), with quantile_cont "
    "interpolation done in EXACT integer arithmetic (result × 4 is an "
    "integer because the interpolation fractions are quarters). No "
    "single-task sort, no float accumulation — and, unlike a rank-"
    "everything two-phase sort, NO shuffle of the data at all: selection "
    "needs counts, not ranks, so the only exchange is the ≤16385-row "
    "histogram merge. r10 rewrite from the two-phase global rank (which "
    "range-shuffled + sorted all rows, joined offsets, then threw away all "
    "but 6 ranks): 2.9–3.5 s → ~0.9 s at sf0.1, and the 100 TB posture "
    "strictly improves (two column-scan histogram passes replace a "
    "full-table range shuffle + sort). The 100 TB exact-quantile answer "
    "when a sketch's error bound is not acceptable.",
    oracle="""
WITH c AS (
  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         row_number() OVER (ORDER BY floor(l_extendedprice * 100 + 0.5),
                            l_orderkey, l_linenumber) AS rn
  FROM lineitem
),
n AS (SELECT COUNT(*) AS n FROM c),
sel AS (
  SELECT rn, cents FROM c CROSS JOIN n
  WHERE rn IN ((1 * (n - 1)) // 4 + 1, (1 * (n - 1)) // 4 + 1 + CASE WHEN (1 * (n - 1)) % 4 > 0 THEN 1 ELSE 0 END,
               (2 * (n - 1)) // 4 + 1, (2 * (n - 1)) // 4 + 1 + CASE WHEN (2 * (n - 1)) % 4 > 0 THEN 1 ELSE 0 END,
               (3 * (n - 1)) // 4 + 1, (3 * (n - 1)) // 4 + 1 + CASE WHEN (3 * (n - 1)) % 4 > 0 THEN 1 ELSE 0 END)
)
SELECT n.n AS n,
       CAST(MAX(CASE WHEN rn = (1 * (n - 1)) // 4 + 1 THEN cents END) * (4 - (1 * (n - 1)) % 4)
          + MAX(CASE WHEN rn = (1 * (n - 1)) // 4 + 1 + CASE WHEN (1 * (n - 1)) % 4 > 0 THEN 1 ELSE 0 END THEN cents END) * ((1 * (n - 1)) % 4) AS BIGINT) AS p25_cents_x4,
       CAST(MAX(CASE WHEN rn = (2 * (n - 1)) // 4 + 1 THEN cents END) * (4 - (2 * (n - 1)) % 4)
          + MAX(CASE WHEN rn = (2 * (n - 1)) // 4 + 1 + CASE WHEN (2 * (n - 1)) % 4 > 0 THEN 1 ELSE 0 END THEN cents END) * ((2 * (n - 1)) % 4) AS BIGINT) AS p50_cents_x4,
       CAST(MAX(CASE WHEN rn = (3 * (n - 1)) // 4 + 1 THEN cents END) * (4 - (3 * (n - 1)) % 4)
          + MAX(CASE WHEN rn = (3 * (n - 1)) // 4 + 1 + CASE WHEN (3 * (n - 1)) % 4 > 0 THEN 1 ELSE 0 END THEN cents END) * ((3 * (n - 1)) % 4) AS BIGINT) AS p75_cents_x4
FROM sel CROSS JOIN n
GROUP BY n.n
""",
)
def global_quartiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents")
    )

    def quartile_ranks(n: int) -> list[int]:
        want = []
        for k in (1, 2, 3):
            m = k * (n - 1)
            lo = m // 4 + 1
            want += [lo, lo + (1 if m % 4 else 0)]
        return want

    vals, n = rank_values(li, "cents", quartile_ranks)
    out = [n]
    for k in (1, 2, 3):
        m = k * (n - 1)
        lo = m // 4 + 1
        r = m % 4
        hi = lo + (1 if r else 0)
        out.append(vals[lo] * (4 - r) + vals[hi] * r)
    return local_frame(
        spark,
        [tuple(out)],
        "n long, p25_cents_x4 long, p50_cents_x4 long, p75_cents_x4 long",
    )


def global_prefix_max(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_name: str = "prefix_max",
    partitions: int | None = None,
) -> DataFrame:
    """Exact EXCLUSIVE global running max of an integral ``value_col`` over
    a total order — the prefix-max sibling of :func:`global_prefix_sums`
    (range-partition parallel sort → per-partition maxes → local exclusive
    running max combined with the previous partitions' max). NULL for the
    globally first row(s), exactly like ``MAX(v) OVER (ORDER BY ... ROWS
    BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)``. Driver state is one
    value per partition — bounded by partition count, never by data."""
    spark = df.sparkSession
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    # lazy checkpoint: the per-partition max job materializes the blocks
    # (see _prefix_sums — 2 jobs instead of 3 per use)
    ranged = (
        df.repartitionByRange(partitions, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    per = ranged.groupBy("__pid").agg(F.max(value_col).alias("m")).collect()
    rows, best = [], None
    for r in sorted(per, key=lambda r: r["__pid"]):
        rows.append((r["__pid"], best))
        if r["m"] is not None and (best is None or r["m"] > best):
            best = r["m"]
    off = local_frame(spark, rows, "__pid int, __pmoff long")
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranged.join(F.broadcast(off), "__pid")
        # greatest() skips NULLs: NULL only when there is no prior row in
        # the partition AND no prior partition had any value
        .withColumn(
            out_name,
            F.greatest(F.max(value_col).over(w), F.col("__pmoff")).cast("long"),
        )
        .drop("__pid", "__pmoff")
    )


@register(
    "skyline_pareto_parts",
    category="windows",
    doc="Pareto skyline (maximal-vector) query over the part catalog: the "
    "set of parts not dominated on (retail price DOWN, size UP) — a point "
    "is dominated if another is no worse on both dimensions and strictly "
    "better on one. SCALE SHAPE: the classic nested-loop skyline is O(n²); "
    "here points first collapse to price levels with their max size (one "
    "partial-aggregable groupBy), the EXCLUSIVE prefix max of size over "
    "ascending price comes from the TWO-PHASE global prefix max "
    "(global_prefix_max — range-partitioned parallel sort, no single-task "
    "window even when price levels are near row-cardinality), and a point "
    "survives iff it carries its level's max size AND strictly beats every "
    "cheaper level's best size. One groupBy + one two-phase pass + one "
    "hash join-back: linear, exact, duplicate-preserving (ties on both "
    "dimensions are mutually non-dominating and all survive).",
    oracle="""
WITH pts AS (
  SELECT p_partkey,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS size
  FROM part
),
lv AS (SELECT price_cents, MAX(size) AS ms FROM pts GROUP BY price_cents),
cum AS (
  SELECT price_cents, ms,
         MAX(ms) OVER (ORDER BY price_cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM lv
)
SELECT p.p_partkey, p.price_cents, p.size
FROM pts p JOIN cum c ON p.price_cents = c.price_cents
WHERE p.size = c.ms AND (c.pm IS NULL OR p.size > c.pm)
""",
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_cents"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    lv = pts.groupBy("price_cents").agg(F.max("size").alias("ms"))
    cum = global_prefix_max(lv, ["price_cents"], "ms", out_name="pm")
    return (
        pts.join(cum, "price_cents")
        .where(
            (F.col("size") == F.col("ms"))
            & (F.col("pm").isNull() | (F.col("size") > F.col("pm")))
        )
        .select("p_partkey", "price_cents", "size")
    )


@register(
    "group_exact_percentiles",
    category="windows",
    doc="EXACT per-group p25/p50/p75 of order value (integer cents, "
    "results x4 so quarter-interpolation stays integer — same arithmetic "
    "as global_quartiles_exact): each group's six straddling ranks are "
    "selected by shared-round histogram narrowing (rank_values — "
    "ALL groups and ALL targets histogrammed in the SAME scan each "
    "round), quarter-interpolated in exact integer arithmetic. SCALE "
    "SHAPE (r11 rewrite from a group-partitioned window rank): the old "
    "shape shuffled and sorted every order row with parallelism capped "
    "at the group count (5 priorities ⇒ 5 sort tasks regardless of "
    "cores); selection is 3 bounded column-scan jobs with no shuffle of "
    "the data at all — the per-GROUP complement of the driver-assembled "
    "global quartiles. No floats anywhere.",
    oracle="""
WITH c AS (
  SELECT o_orderpriority AS grp,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY floor(o_totalprice * 100 + 0.5), o_orderkey) AS BIGINT)
           AS rn
  FROM orders
),
t AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY grp),
j AS (SELECT c.grp, c.cents, c.rn, t.n FROM c JOIN t ON c.grp = t.grp)
SELECT grp, n,
       CAST(MAX(CASE WHEN rn = (1 * (n - 1)) // 4 + 1 THEN cents END) * (4 - (1 * (n - 1)) % 4)
          + MAX(CASE WHEN rn = (1 * (n - 1)) // 4 + 1 + CASE WHEN (1 * (n - 1)) % 4 > 0 THEN 1 ELSE 0 END THEN cents END) * ((1 * (n - 1)) % 4) AS BIGINT) AS p25_cents_x4,
       CAST(MAX(CASE WHEN rn = (2 * (n - 1)) // 4 + 1 THEN cents END) * (4 - (2 * (n - 1)) % 4)
          + MAX(CASE WHEN rn = (2 * (n - 1)) // 4 + 1 + CASE WHEN (2 * (n - 1)) % 4 > 0 THEN 1 ELSE 0 END THEN cents END) * ((2 * (n - 1)) % 4) AS BIGINT) AS p50_cents_x4,
       CAST(MAX(CASE WHEN rn = (3 * (n - 1)) // 4 + 1 THEN cents END) * (4 - (3 * (n - 1)) % 4)
          + MAX(CASE WHEN rn = (3 * (n - 1)) // 4 + 1 + CASE WHEN (3 * (n - 1)) % 4 > 0 THEN 1 ELSE 0 END THEN cents END) * ((3 * (n - 1)) % 4) AS BIGINT) AS p75_cents_x4
FROM j
GROUP BY grp, n
""",
)
def group_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )

    def want(n: int) -> list[int]:
        ranks = []
        for k in (1, 2, 3):
            m = k * (n - 1)
            lo = m // 4 + 1
            ranks += [lo, lo + (1 if m % 4 else 0)]
        return ranks

    sel = rank_values(o, "cents", want, group_col="grp")
    rows = []
    for g, (vals, n) in sorted(sel.items()):
        row = [g, n]
        for k in (1, 2, 3):
            m = k * (n - 1)
            lo = m // 4 + 1
            r = m % 4
            hi = lo + (1 if r else 0)
            row.append(vals[lo] * (4 - r) + vals[hi] * r)
        rows.append(tuple(row))
    return local_frame(
        spark,
        rows,
        "grp string, n long, p25_cents_x4 long, p50_cents_x4 long, "
        "p75_cents_x4 long",
    )


# Histogram rows one narrowing round may collect, shared by its live
# ranges. A 65536-way collect measured 0.3-0.6 s via py4j at sf0.1 — the
# dominant cost of a round — while one range's 16384-way histogram still
# resolves any 64-bit range in <= 5 rounds and any cents-magnitude range
# (<= ~2.7e8) in 2.
_ROUND_ROWS = 16384


def _round_buckets(rows: list[int]) -> int:
    """Buckets per live range for one round, given each range's row count:
    a range holding c rows returns at most min(c, buckets) histogram rows,
    so ranges with few rows leave their unused share to the others. When
    every row fits in the budget the buckets are as fine as the bigint key
    allows, and most targets resolve in that round."""
    rest, cap = _ROUND_ROWS, 2**62 // len(rows)
    for j, c in enumerate(sorted(rows)):
        share = rest // (len(rows) - j)
        if c > share:
            return max(2, min(share, cap))
        rest -= c
    return cap


def _group_literal(g) -> str:
    """SQL text for a group key. Strings travel as hex byte literals, so no
    quote or backslash in a key needs escaping."""
    if isinstance(g, str):
        return f"CAST(X'{g.encode().hex()}' AS STRING)"
    if isinstance(g, int):
        return str(g)
    raise TypeError(f"rank selection: unsupported group key type {type(g).__name__}")


def rank_values(df: DataFrame, col: str, ranks, group_col: str | None = None):
    """EXACT order-statistic selection of SEVERAL ranks of an integral
    column by shared-round histogram narrowing, per group of ``group_col``
    or, without one, over the whole relation (the one-group case).

    ``ranks`` is a list of 1-based target ranks or a callable ``n ->
    list[int]`` resolved against each group's size. NULL values are
    ignored (``percentile()`` semantics); a NULL group key is a group of
    its own. Returns ``({rank: value}, n_rows)`` without ``group_col`` —
    raising ``ValueError`` on an empty relation — and ``{group: ({rank:
    value}, n_rows)}`` with it (``{}`` when empty).

    One job sizes every group (min, max, count), then ONE job per round
    serves ALL groups and ALL targets: every target starts from its
    group's [min, max] and each round narrows to ONE bucket of its
    previous range, so within a group the live ranges are identical-or-
    disjoint and every row falls in at most one of them. The ranges
    attach as ONE flat ``CASE`` parsed from SQL text in one call — no
    broadcast range relation (a one-task job per round) and no ``Column``
    forest (seconds of driver-side py4j time at ~30 ranges) — whose value
    packs (range id, bucket) into one bigint key for a single
    partial-aggregable ``groupBy``. The round's ``_ROUND_ROWS`` budget is
    split over the live ranges (:func:`_round_buckets`), which bounds the
    driver collect and sets the round cap; no sort, no shuffle of the data
    anywhere. Replaces the per-group counts map of ``percentile()``
    (partial maps grow with distinct values per group — a memory hazard at
    scale) with bounded histograms.
    """
    keys = [] if group_col is None else ["g"]
    src = (
        df.select(*[F.col(group_col).alias(k) for k in keys], F.col(col).alias("v"))
        .where(F.col("v").isNotNull())
        # lazy: the min/max/count job below materializes the blocks
        .localCheckpoint(eager=False)
    )
    base = src.groupBy(*keys).agg(
        F.min("v").alias("mn"), F.max("v").alias("mx"), F.count(F.lit(1)).alias("n")
    ).collect()
    out: dict = {}
    # (g, rank) -> (lo, hi, rank inside [lo, hi], rows in [lo, hi])
    live: dict[tuple, tuple[int, int, int, int]] = {}
    for row in base:
        g, n = (row["g"] if keys else None), row["n"]
        if n == 0:  # the global aggregate of an empty relation
            continue
        out[g] = ({}, n)
        for k in sorted(set(ranks(n) if callable(ranks) else ranks)):
            if not 1 <= k <= n:
                raise ValueError(f"rank {k} outside 1..{n} for group {g!r}")
            if row["mn"] == row["mx"]:
                out[g][0][k] = row["mn"]
            else:
                live[(g, k)] = (row["mn"], row["mx"], k, n)
    if not keys and not out:
        raise ValueError("rank selection over an empty relation")
    # live ranges never outnumber live targets, so every round gets at
    # least this many buckets per range — enough rounds to split any
    # 64-bit span down to one value
    fewest = max(2, _ROUND_ROWS // max(1, len(live)))
    max_rounds = next(r for r in range(1, 65) if fewest**r >= 2**64)
    for _ in range(max_rounds):
        if not live:
            break
        ranges = list(dict.fromkeys((g, lo, hi, c) for (g, _), (lo, hi, _, c) in live.items()))
        b = _round_buckets([c for *_, c in ranges])
        whens = []
        for i, (g, lo, hi, _) in enumerate(ranges):
            cond = f"v BETWEEN {lo} AND {hi}"
            if keys:
                cond = f"g {'IS NULL' if g is None else '= ' + _group_literal(g)} AND {cond}"
            # a span past 2^63 would overflow the bigint subtraction
            diff = f"v - {lo}" if hi - lo < 2**63 else f"CAST(v AS DECIMAL(20, 0)) - {lo}"
            # integer DIV, not float-divide-then-cast (NOTES.md round-3)
            whens.append(f"WHEN {cond} THEN {i * b} + ({diff}) DIV {(hi - lo) // b + 1}")
        # rows outside every range skip the CASE and the aggregate
        hull = f"v BETWEEN {min(r[1] for r in ranges)} AND {max(r[2] for r in ranges)}"
        hist = (
            src.where(hull)
            .groupBy(F.expr(f"CASE {' '.join(whens)} END").alias("k"))
            .count()
            .collect()
        )
        per_range: dict[int, list] = {}
        for key, c in hist:
            if key is not None:
                per_range.setdefault(key // b, []).append((key % b, c))
        index = {r[:3]: i for i, r in enumerate(ranges)}
        nxt: dict[tuple, tuple[int, int, int, int]] = {}
        for (g, k), (lo, hi, kk, _) in live.items():
            for bucket, c in sorted(per_range[index[(g, lo, hi)]]):
                if kk <= c:
                    break
                kk -= c
            width = (hi - lo) // b + 1
            nlo = lo + bucket * width
            nhi = min(hi, nlo + width - 1)
            if nlo == nhi:
                out[g][0][k] = nlo
            else:
                nxt[(g, k)] = (nlo, nhi, kk, c)
        live = nxt
    if live:
        raise AssertionError(f"rank selection failed to converge in {max_rounds} rounds")
    return out if keys else out[None]


def grouped_percentile_doubles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    fracs: list,
    scale: int = 100,
) -> dict:
    """EXACT per-group continuous percentiles of a fixed-decimal DOUBLE
    column, BIT-IDENTICAL to Spark's ``percentile(col, frac)`` aggregate
    (pinned by tests/test_operators.py), via :func:`rank_values`.

    Requires every value to be an exact multiple of ``1/scale`` with
    ``scale`` a power of ten (TPC-H money columns): then
    ``floor(v*scale+0.5)`` is a monotone bijection onto integers and
    ``cents/scale`` in IEEE double reproduces the input double exactly
    (correctly-rounded division of an exact integer == the double nearest
    the decimal literal). Interpolation reproduces Spark's Percentile
    arithmetic op-for-op: ``position = frac * (n-1)`` (double),
    ``(higher-position)*v[lower] + (position-lower)*v[higher]`` — verified
    bit-exact against percentile() over 480 randomized cases and pinned on
    real data by tests. Returns ``{group: [double per frac]}``; leave any
    final ``round()`` to Spark expressions so rounding semantics also stay
    the engine's own.
    """
    import math

    quant = df.select(
        F.col(group_col).alias("g"),
        F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("bigint").alias("c"),
    )

    def want(n: int) -> list[int]:
        out = []
        for p in fracs:
            pos = p * (n - 1)
            out += [math.floor(pos) + 1, math.ceil(pos) + 1]
        return out

    sel = rank_values(quant, "c", want, group_col="g")
    result = {}
    for g, (vals, n) in sel.items():
        outs = []
        for p in fracs:
            pos = p * (n - 1)
            lower, higher = math.floor(pos), math.ceil(pos)
            v_lo = vals[lower + 1] / scale
            if higher == lower:
                outs.append(v_lo)
            else:
                v_hi = vals[higher + 1] / scale
                outs.append((higher - pos) * v_lo + (pos - lower) * v_hi)
        result[g] = outs
    return result


@register(
    "inventory_balance_clamped",
    category="windows",
    doc="Floor-clamped running balance — the classic 'impossible cumsum': "
    "b_t = max(b_{t-1} + x_t, 0) looks inherently sequential (each step "
    "depends on the clamped previous), but for a zero floor it has the "
    "closed form b_t = prefix_t - least(0, min_{s<=t} prefix_s), which is "
    "TWO ordinary windows over the same key partition (prefix sum + "
    "running min) — fully parallel across parts, exact integers, no "
    "recursion/UDF/iteration. Modeled as a per-part backorder ledger: "
    "demand reserved at order date (-qty), replenished at ship date "
    "(+qty) — orders precede shipments, so the raw prefix dips negative "
    "and the clamp engages constantly: the identity is genuinely "
    "exercised, clamp engagement emitted per day. Output restricted to a 1% part "
    "sample to bound the relation; the per-part window is bounded by "
    "line count per part.",
    oracle="""
WITH li AS (
  SELECT l.l_partkey, l.l_quantity, l.l_shipdate, o.o_orderdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_partkey % 100 = 7
),
f AS (
  SELECT l_partkey AS part, CAST(o_orderdate AS DATE) AS day,
         -CAST(l_quantity AS BIGINT) AS flow
  FROM li
  UNION ALL
  SELECT l_partkey, CAST(l_shipdate AS DATE), CAST(l_quantity AS BIGINT)
  FROM li
),
d AS (SELECT part, day, CAST(SUM(flow) AS BIGINT) AS net FROM f GROUP BY 1, 2),
w1 AS (
  SELECT part, day, net, CAST(SUM(net) OVER pw AS BIGINT) AS pfx
  FROM d
  WINDOW pw AS (PARTITION BY part ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
w AS (
  SELECT part, day, net, pfx, CAST(MIN(pfx) OVER pw2 AS BIGINT) AS runmin
  FROM w1
  WINDOW pw2 AS (PARTITION BY part ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT part, day, net,
       pfx - least(CAST(0 AS BIGINT), runmin) AS balance,
       pfx < least(CAST(0 AS BIGINT), runmin) IS FALSE
         AND pfx <> pfx - least(CAST(0 AS BIGINT), runmin) AS clamped
FROM w
""",
)
def inventory_balance_clamped(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.pmod(F.col("l_partkey"), F.lit(100)) == 7)
        .join(
            table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_partkey", "l_quantity", "l_shipdate", "o_orderdate")
    )
    ship = li.select(
        F.col("l_partkey").alias("part"),
        F.col("o_orderdate").cast("date").alias("day"),
        (-F.col("l_quantity").cast("bigint")).alias("flow"),
    )
    recv = li.select(
        F.col("l_partkey").alias("part"),
        F.col("l_shipdate").cast("date").alias("day"),
        F.col("l_quantity").cast("bigint").alias("flow"),
    )
    d = (
        ship.unionByName(recv)
        .groupBy("part", "day")
        .agg(F.sum("flow").cast("bigint").alias("net"))
    )
    pw = (
        Window.partitionBy("part")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = d.withColumn("pfx", F.sum("net").over(pw).cast("bigint")).withColumn(
        "runmin", F.min(F.col("pfx")).over(pw).cast("bigint")
    )
    floor0 = F.least(F.lit(0).cast("bigint"), F.col("runmin"))
    return w.select(
        "part",
        "day",
        "net",
        (F.col("pfx") - floor0).alias("balance"),
        (
            ~(F.col("pfx") < floor0) & (F.col("pfx") != F.col("pfx") - floor0)
        ).alias("clamped"),
    )
