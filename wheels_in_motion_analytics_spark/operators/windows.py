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


def _ranked_by_range(
    df: DataFrame,
    order_cols: list,
    rn_name: str,
    partitions: int | None,
) -> tuple[DataFrame, int]:
    """Shared core of :func:`global_row_number` / :func:`global_ntile`:
    returns (ranked df, total row count) — the count falls out of the
    offset pass for free, so callers never pay a separate counting job."""
    spark = df.sparkSession
    if partitions is None:
        # scan/shuffle-width default: enough to keep every core busy without
        # spraying a local run into hundreds of tiny range partitions
        partitions = spark.sparkContext.defaultParallelism
    # LAZY local checkpoint (r11 fuse): the offsets job below is the first
    # consumer, so it materializes the range-partitioned blocks as it
    # counts them — one job instead of eager-checkpoint + count. The
    # nondeterministic range sampling still executes exactly once (the
    # window pass reads the SAME stored blocks; a local checkpoint cannot
    # recompute — lineage is truncated, so a lost block fails loudly
    # rather than resampling).
    ranged = (
        df.repartitionByRange(partitions, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("c")).collect()
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], acc))
        acc += row["c"]
    off = local_frame(spark, offsets, "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    ranked = (
        ranged.withColumn("__lrn", F.row_number().over(w))
        .join(F.broadcast(off), "__pid")
        .withColumn(rn_name, (F.col("__lrn") + F.col("__off")).cast("long"))
        .drop("__pid", "__lrn", "__off")
    )
    return ranked, acc


def global_row_number(
    df: DataFrame,
    order_cols: list,
    rn_name: str = "rn",
    partitions: int | None = None,
) -> DataFrame:
    """Exact global ``row_number`` over a TOTAL order without the
    single-task funnel of an unpartitioned window.

    TeraSort-shaped two-phase rank:

    1. ``repartitionByRange`` on the order columns — a sampled range
       partitioner sorts in parallel (partition *i* holds strictly lower
       key tuples than partition *i+1*);
    2. per-partition row counts → cumulative offsets. The only driver-side
       state is one number per partition — bounded by the partition count,
       never by data size;
    3. a window partitioned by the RANGE partition id computes the local
       row_number, and local + offset is the exact global rank. Every
       window group is one range partition, so parallelism equals the sort
       parallelism — no single-task stage anywhere in the plan.

    Exact for any partition boundaries as long as ``order_cols`` is a total
    order (include a unique tiebreak). The range input is checkpointed once
    because two jobs consume it (the count pass and the rank pass).
    """
    return _ranked_by_range(df, order_cols, rn_name, partitions)[0]


def global_ntile(
    df: DataFrame,
    n_tiles: int,
    order_cols: list,
    tile_name: str = "tile",
    partitions: int | None = None,
) -> DataFrame:
    """Exact global ``ntile(n)`` on top of the two-phase rank — identical
    semantics to ``ntile`` over an unpartitioned window (the first
    ``N mod n`` tiles get the extra row), minus its single-task sort."""
    ranked, n_total = _ranked_by_range(df, order_cols, "__grn", partitions)
    q, r = divmod(n_total, n_tiles)
    big = q + 1  # tiles 1..r have q+1 rows; tiles r+1..n have q rows
    rn = F.col("__grn")
    tile = F.when(
        rn <= big * r, ((rn - 1) / big).cast("long") + 1
    ).otherwise(F.lit(r) + ((rn - 1 - big * r) / F.greatest(F.lit(q), F.lit(1))).cast("long") + 1)
    return ranked.withColumn(tile_name, tile.cast("int")).drop("__grn")


def global_prefix_sums(
    df: DataFrame,
    order_cols: list,
    value_cols: list,
    partitions: int | None = None,
    suffix: str = "_cum",
) -> DataFrame:
    """Exact INCLUSIVE global running sums of integral ``value_cols`` over a
    total order — the same two-phase shape as :func:`global_row_number`
    (range-partition parallel sort → per-partition sums → local running sum
    + partition offset), so rank statistics (Mann-Whitney, KS, CDFs) never
    pay a single-task global window even when the distinct-value relation
    is nearly row-cardinality. Values must be integral (LONG offsets keep
    the result exact under any partitioning)."""
    spark = df.sparkSession
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    # lazy checkpoint: the per-partition sums job materializes the blocks
    # (see _ranked_by_range — 2 jobs instead of 3 per use)
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
    out = ranged.join(F.broadcast(off), "__pid")
    for i, c in enumerate(value_cols):
        out = out.withColumn(
            c + suffix, (F.sum(c).over(w) + F.col(off_cols[i])).cast("long")
        )
    return out.drop("__pid", *off_cols)


@register(
    "global_quartiles_exact",
    category="windows",
    doc="EXACT corpus-wide p25/p50/p75 of l_extendedprice by distributed "
    "order-statistic selection: prices quantize to integer cents and each "
    "quartile's two straddling ranks are selected by shared-round histogram "
    "narrowing (global_rank_values — 16384-way integer histograms, all six "
    "target ranks narrowed in the SAME scan each round), with quantile_cont "
    "interpolation done in EXACT integer arithmetic (result × 4 is an "
    "integer because the interpolation fractions are quarters). No "
    "single-task sort, no float accumulation — and, unlike a rank-"
    "everything two-phase sort, NO shuffle of the data at all: selection "
    "needs counts, not ranks, so the only exchange is the ≤65537-row "
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

    # plain column scan per histogram round (2 rounds at sf0.1 cents
    # magnitudes) — cheaper than a checkpoint job for a source-backed scan
    vals, n = global_rank_values(li, "cents", quartile_ranks, materialize=False)
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
    # (see _ranked_by_range — 2 jobs instead of 3 per use)
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
    "selected by shared-round histogram narrowing (grouped_rank_values — "
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

    sel = grouped_rank_values(o, "grp", "cents", want)
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


# Histogram fan-out per narrowing round. 16384 keeps the driver collect to
# <= 16385 rows/round (a 65536-way histogram collect measured 0.3-0.6s via
# py4j at sf0.1 — the dominant cost of a round) while still resolving any
# 64-bit range in <= ceil(64/14)+1 = 6 rounds and any cents-magnitude range
# (<= ~2.7e8 after one round) in 2.
_HIST_BUCKETS = 16384

def global_rank_values(
    df: DataFrame,
    col: str,
    ranks,
    materialize: bool = True,
) -> tuple[dict[int, int], int]:
    """EXACT order-statistic selection of SEVERAL ranks of an integral
    column in shared histogram rounds — the multi-rank sibling of
    :func:`global_kth_smallest` (same narrowing idea, one job per round for
    ALL targets instead of one quickselect per target).

    ``ranks`` is a list of 1-based target ranks or a callable ``n ->
    list[int]`` resolved against the relation size. Returns
    ``({rank: value}, n_rows)``.

    Why one job per round stays possible with many targets: every target
    starts from the same [min, max] range, and each round a target's range
    narrows to ONE bucket of its previous range — so live ranges are always
    pairwise identical-or-disjoint, every row belongs to at most one range,
    and a single ``CASE``-keyed ``groupBy (range_id, bucket)`` histograms
    all of them in one partial-aggregable pass. Driver state is bounded by
    65537 x n_targets rows per round, never by data. No sort, NO shuffle of
    the data anywhere (the only exchange is the tiny histogram merge) —
    compare the TeraSort-shaped two-phase rank, which range-shuffles the
    entire relation to produce ranks that a selection query throws away.
    """
    src = df.select(F.col(col).alias("v"))
    if materialize:
        # lazy: the min/max job below materializes the blocks (one job
        # saved per use — the same fuse as the two-phase rank family)
        src = src.localCheckpoint(eager=False)
    mm = src.agg(F.min("v").alias("mn"), F.max("v").alias("mx")).collect()[0]
    if mm.mn is None:
        raise ValueError("rank selection over an empty relation")
    # resolve n + target list from the first full-range histogram
    n_total: int | None = None
    # live targets: rank -> (lo, hi, kk) with kk the rank inside [lo, hi]
    live: dict[int, tuple[int, int, int]] = {}
    resolved: dict[int, int] = {}
    first_lo, first_hi = mm.mn, mm.mx
    for _ in range(8):
        if n_total is not None and not live:
            break
        if n_total is None:
            ranges = [(first_lo, first_hi)]
        else:
            # identical-or-disjoint by construction; histogram each once
            ranges = sorted({(lo, hi) for lo, hi, _ in live.values()})
        widths = [(hi - lo) // _HIST_BUCKETS + 1 for lo, hi in ranges]
        bucket = None
        for i, ((lo, hi), width) in enumerate(zip(ranges, widths)):
            # integer DIV, not float-divide-then-cast (NOTES.md round-3)
            b = F.when(
                (F.col("v") >= lo) & (F.col("v") <= hi),
                F.expr(f"CAST((v - {lo}) DIV {width} AS BIGINT)"),
            )
            bucket = b if bucket is None else F.coalesce(bucket, b)
            if i == 0:
                rid = F.when((F.col("v") >= lo) & (F.col("v") <= hi), i)
            else:
                rid = rid.when((F.col("v") >= lo) & (F.col("v") <= hi), i)
        hist = (
            src.groupBy(rid.alias("r"), bucket.alias("b"))
            .count()
            .where(F.col("r").isNotNull())
            .collect()
        )
        per_range: dict[int, list] = {}
        for row in hist:
            per_range.setdefault(row["r"], []).append(row)
        if n_total is None:
            n_total = sum(r["count"] for r in per_range.get(0, []))
            want = sorted(set(ranks(n_total) if callable(ranks) else ranks))
            for k in want:
                if not 1 <= k <= n_total:
                    raise ValueError(f"rank {k} outside 1..{n_total}")
            live = {k: (first_lo, first_hi, k) for k in want}
        nxt: dict[int, tuple[int, int, int]] = {}
        for k, (lo, hi, kk) in live.items():
            if lo == hi:
                resolved[k] = lo
                continue
            ridx = ranges.index((lo, hi))
            width = widths[ridx]
            acc, g = 0, None
            for row in sorted(per_range.get(ridx, []), key=lambda r: r["b"]):
                if acc + row["count"] >= kk:
                    g = row["b"]
                    kk -= acc
                    break
                acc += row["count"]
            assert g is not None
            if width == 1:
                resolved[k] = lo + g
            else:
                nlo = lo + g * width
                nxt[k] = (nlo, min(hi, nlo + width - 1), kk)
        live = nxt
    if live:
        raise AssertionError("multi-rank selection failed to converge in 8 rounds")
    return resolved, n_total


def grouped_rank_values(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ranks,
    buckets: int = 4096,
) -> dict:
    """EXACT per-GROUP order-statistic selection of an integral column in
    shared histogram rounds — the group-keyed sibling of
    :func:`global_rank_values` for bounded group domains (return flags,
    nations, priorities). ``ranks`` is a callable ``n -> list[int]``
    resolved against each group's size. Returns
    ``{group: ({rank: value}, n_rows)}``.

    One job per round for ALL groups and ALL targets: within a group the
    live ranges are identical-or-disjoint (each target's range narrows to
    one bucket of its previous range), and across groups the group key
    separates them — so one ``groupBy (range_id, bucket)`` histograms
    everything at once. The live ranges attach as a TINY BROADCAST
    RELATION (null-safe equi-join on the group key + range filter), NOT as an
    inline CASE chain: a when-chain over ``groups × targets`` ranges
    blows up analysis/codegen super-linearly (measured 1.1 s → 22 s →
    minutes per round at 23–28 ranges on 15k rows — the round-4 lesson
    that literal model state belongs in a broadcast relation, not an
    expression forest). Driver state per round is bounded by ``buckets ×
    live_ranges`` (live_ranges ≤ groups × targets), never by data.
    Replaces the per-group counts-map state of Spark's ``percentile()``
    aggregate (whose partial maps grow with distinct values per group — a
    memory hazard at scale) with fixed-size histograms; no sort, no
    shuffle of the data anywhere.
    """
    src = (
        df.select(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .where(F.col("v").isNotNull())  # percentile() semantics: nulls ignored
        # lazy: the min/max/count job below materializes the blocks
        .localCheckpoint(eager=False)
    )
    base = src.groupBy("g").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx"), F.count(F.lit(1)).alias("n")
    ).collect()
    live: dict[tuple, tuple[int, int, int]] = {}  # (g, rank) -> (lo, hi, kk)
    resolved: dict = {}
    for row in base:
        g, n = row["g"], row["n"]
        resolved[g] = ({}, n)
        for k in sorted(set(ranks(n))):
            if not 1 <= k <= n:
                raise ValueError(f"rank {k} outside 1..{n} for group {g!r}")
            live[(g, k)] = (row["mn"], row["mx"], k)
    spark = df.sparkSession
    import pyspark.sql.types as T

    g_type = src.schema["g"].dataType
    rng_schema = T.StructType(
        [
            T.StructField("__r", T.IntegerType()),
            T.StructField("__g", g_type),
            T.StructField("__lo", T.LongType()),
            T.StructField("__hi", T.LongType()),
            T.StructField("__w", T.LongType()),
        ]
    )
    for _ in range(8):
        if not live:
            break
        # NULL is a group too (percentile() keeps it): sort it first
        ranges = sorted(
            {(g, lo, hi) for (g, _), (lo, hi, _) in live.items()},
            key=lambda r: (r[0] is not None, r),
        )
        widths = [(hi - lo) // buckets + 1 for _, lo, hi in ranges]
        rng = local_frame(
            spark,
            [
                (i, g, lo, hi, width)
                for i, ((g, lo, hi), width) in enumerate(zip(ranges, widths))
            ],
            rng_schema,
        )
        hist = (
            src.join(
                # one task ships the few range rows to the broadcast (a
                # LocalTableScan spreads them over up to one task per core)
                F.broadcast(rng.coalesce(1)),
                F.col("g").eqNullSafe(F.col("__g"))
                & (F.col("v") >= F.col("__lo"))
                & (F.col("v") <= F.col("__hi")),
            )
            # integer DIV, not float-divide-then-cast (NOTES.md round-3)
            .groupBy(
                F.col("__r").alias("r"),
                F.expr("CAST((v - __lo) DIV __w AS BIGINT)").alias("b"),
            )
            .count()
            .collect()
        )
        per_range: dict[int, list] = {}
        for row in hist:
            per_range.setdefault(row["r"], []).append(row)
        nxt: dict[tuple, tuple[int, int, int]] = {}
        for (g, k), (lo, hi, kk) in live.items():
            if lo == hi:
                resolved[g][0][k] = lo
                continue
            ridx = ranges.index((g, lo, hi))
            width = widths[ridx]
            acc, picked = 0, None
            for row in sorted(per_range.get(ridx, []), key=lambda r: r["b"]):
                if acc + row["count"] >= kk:
                    picked = row["b"]
                    kk -= acc
                    break
                acc += row["count"]
            assert picked is not None
            if width == 1:
                resolved[g][0][k] = lo + picked
            else:
                nlo = lo + picked * width
                nxt[(g, k)] = (nlo, min(hi, nlo + width - 1), kk)
        live = nxt
    if live:
        raise AssertionError("grouped rank selection failed to converge in 8 rounds")
    return resolved


def grouped_percentile_doubles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    fracs: list,
    scale: int = 100,
) -> dict:
    """EXACT per-group continuous percentiles of a fixed-decimal DOUBLE
    column, BIT-IDENTICAL to Spark's ``percentile(col, frac)`` aggregate
    (pinned by tests/test_operators.py), via :func:`grouped_rank_values`.

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

    sel = grouped_rank_values(quant, "g", "c", want)
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


def global_kth_smallest(df: DataFrame, col: str, rank) -> tuple[int, int]:
    """EXACT order-statistic selection of an integral column by distributed
    quickselect — the selection complement of :func:`global_row_number`
    when only ONE order statistic is needed (a full two-phase rank pays
    range-sampling + checkpoint + offset machinery for ranks that are
    thrown away).

    ``rank`` is the 1-based target rank, either an int or a callable
    ``n -> rank`` resolved against the relation size (so "lower median" =
    ``lambda n: (n + 1) // 2`` costs no extra counting pass — the size
    falls out of the first histogram). Returns ``(value, n_rows)``.

    Histogram narrowing: each round splits the live value range into
    <= _HIST_BUCKETS equal integer buckets, one map-side-combinable groupBy
    counts them (driver collect bounded by _HIST_BUCKETS+1 rows), and the search
    descends into the bucket containing the target rank. The range
    shrinks by 2^14 per round, so <= 6 rounds resolve any 64-bit range —
    every pass is a filter + partial-agg over a localCheckpoint'd
    relation, no sort anywhere, driver state bounded by the bucket
    count."""
    # lazy checkpoint: the min/max job materializes the blocks (one job
    # saved per use — the same fuse as the two-phase rank family)
    src = df.select(F.col(col).alias("v")).localCheckpoint(eager=False)
    mm = src.agg(F.min("v").alias("mn"), F.max("v").alias("mx")).collect()[0]
    lo, hi = mm.mn, mm.mx
    if lo is None:
        raise ValueError("k-th smallest of an empty relation")
    kk = None
    n_total = None
    # ONE checkpoint, ONE job per round: the narrowed bounds are known
    # exactly from the chosen bucket (no re-min/max, no re-checkpoint —
    # each round is a filtered partial-agg scan of the same checkpoint;
    # per-job fixed cost dominates small rounds, so fewer jobs wins)
    for _ in range(8):
        width = (hi - lo) // _HIST_BUCKETS + 1
        # integer DIV, not float-divide-then-cast (one-off-the-floor hazard
        # on large magnitudes — NOTES.md round-3)
        hist = (
            src.where((F.col("v") >= lo) & (F.col("v") <= hi))
            .groupBy(F.expr(f"CAST((v - {lo}) DIV {width} AS BIGINT)").alias("b"))
            .count()
            .collect()
        )
        if n_total is None:
            n_total = sum(r["count"] for r in hist)
            kk = rank(n_total) if callable(rank) else rank
            if not 1 <= kk <= n_total:
                raise ValueError(f"rank {kk} outside 1..{n_total}")
        if lo == hi:
            return lo, n_total
        acc = 0
        g = None
        for row in sorted(hist, key=lambda r: r.b):
            if acc + row["count"] >= kk:
                g = row.b
                kk -= acc
                break
            acc += row["count"]
        assert g is not None
        if width == 1:
            return lo + g, n_total
        lo, hi = lo + g * width, min(hi, lo + g * width + width - 1)
    raise AssertionError("quickselect failed to converge in 8 rounds")


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
