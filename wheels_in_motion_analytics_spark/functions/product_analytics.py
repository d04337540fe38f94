"""Product-analytics operators: cohort retention, market-basket lift,
event-transition matrices, and period-over-period growth — the BI layer a
serving warehouse exposes over the enriched star (reference analogue: the
dashboard marts in /root/reference/README.md's BI section).

Scale shapes:

* Cohort retention: one window (first order per customer — min over the
  customer partition) + one groupBy on (cohort, age). Both shuffles key on
  the customer/cohort — map-side combinable, no fact-side explosion.
* Basket lift: the pair explode is bounded by per-basket item count k
  (k·(k−1)/2 pairs per order, k ≈ 4 here), never corpus-quadratic — the
  standard distributed frequent-pair shape; item supports broadcast back.
* Event transitions: per-user lag window → (from, to) count matrix; state
  is bounded by per-user event history, the same partitioning the
  sessionizer uses.
* MoM growth: aggregate to the month grain FIRST (tiny relation), then a
  1-step lag window over it — never a window over fact rows.

Float discipline: revenue sums accumulate in decimal (compat.dsum);
ratios/lift round in isolation from exact integer counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.compat import dsum, oracle_dsum
from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import local_frame, table

# --------------------------------------------------------------------------
# Cohort retention matrix
# --------------------------------------------------------------------------


@register(
    "cohort_retention_matrix",
    category="product-analytics",
    doc="Cohort retention: customers cohorted by first-order quarter, "
    "retention = distinct active customers per (cohort, quarters-since). "
    "First-order via a min window over the customer partition, ages via "
    "integer quarter arithmetic — one customer-keyed shuffle + one "
    "(cohort, age) groupBy.",
    oracle="""
WITH o AS (
  SELECT o_custkey,
         (year(o_orderdate) * 4 + (quarter(o_orderdate) - 1)) AS q
  FROM orders
),
c AS (SELECT o_custkey, q, MIN(q) OVER (PARTITION BY o_custkey) AS cohort_q FROM o)
SELECT cohort_q, q - cohort_q AS age_quarters,
       COUNT(DISTINCT o_custkey) AS active_customers
FROM c
GROUP BY 1, 2
""",
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate") * 4 + (F.quarter("o_orderdate") - 1)
        ).alias("q"),
    )
    w = Window.partitionBy("o_custkey")
    c = o.withColumn("cohort_q", F.min("q").over(w))
    return (
        c.groupBy("cohort_q", (F.col("q") - F.col("cohort_q")).alias("age_quarters"))
        .agg(F.countDistinct("o_custkey").alias("active_customers"))
    )


# --------------------------------------------------------------------------
# Market-basket pair lift
# --------------------------------------------------------------------------

BASKET_MIN_PAIR_SUPPORT = 2
BASKET_TOPK = 25


@register(
    "basket_pair_lift",
    category="product-analytics",
    doc="Market-basket analysis over order baskets: brand pairs co-occurring "
    "in an order, support/confidence/lift from exact counts. The pair "
    "explode is a within-basket self-join (k·(k−1)/2 pairs per order, k≈4) "
    "— bounded by basket size, never corpus-quadratic; per-brand supports "
    f"broadcast back onto the pair relation. Pairs with support ≥ "
    f"{BASKET_MIN_PAIR_SUPPORT}, top {BASKET_TOPK} by lift.",
    oracle=f"""
WITH b AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM b),
sup AS (SELECT brand, COUNT(*) AS s FROM b GROUP BY brand),
pairs AS (
  SELECT a.brand AS brand_a, c.brand AS brand_b, COUNT(*) AS pair_n
  FROM b a JOIN b c ON a.ok = c.ok AND a.brand < c.brand
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_PAIR_SUPPORT}
)
SELECT brand_a, brand_b, pair_n,
       round(CAST(pair_n AS DOUBLE) / sa.s, 6) AS conf_a_to_b,
       round(CAST(pair_n AS DOUBLE) * n.n_baskets / (sa.s * sb.s), 6) AS lift
FROM pairs
JOIN sup sa ON sa.brand = pairs.brand_a
JOIN sup sb ON sb.brand = pairs.brand_b
CROSS JOIN n
ORDER BY lift DESC, brand_a, brand_b
LIMIT {BASKET_TOPK}
""",
)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = (
        table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                table(spark, sf_dir, "part").select("p_partkey", "p_brand")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n = b.agg(F.countDistinct("ok").alias("n_baskets"))
    sup = b.groupBy("brand").agg(F.count(F.lit(1)).alias("s"))
    a = b.select("ok", F.col("brand").alias("brand_a"))
    c = b.select("ok", F.col("brand").alias("brand_b"))
    pairs = (
        a.join(c, "ok")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .where(F.col("pair_n") >= BASKET_MIN_PAIR_SUPPORT)
    )
    sa = sup.select(F.col("brand").alias("brand_a"), F.col("s").alias("s_a"))
    sb = sup.select(F.col("brand").alias("brand_b"), F.col("s").alias("s_b"))
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "pair_n",
            F.round(F.col("pair_n").cast("double") / F.col("s_a"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(
                F.col("pair_n").cast("double")
                * F.col("n_baskets")
                / (F.col("s_a") * F.col("s_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(BASKET_TOPK)
    )


# --------------------------------------------------------------------------
# Event-transition matrix
# --------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    category="product-analytics",
    doc="Behavioral transition matrix: per-user event streams ordered by "
    "time, adjacent (from → to) event-type pairs counted, with each "
    "from-state's outgoing transition share. One lag window per user + one "
    "(from, to) groupBy — the path-analysis primitive behind Sankey views.",
    oracle="""
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
t AS (
  SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
  FROM s WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6)
         AS share_of_from
FROM t
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wf = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wf), 6).alias(
            "share_of_from"
        ),
    )


# --------------------------------------------------------------------------
# Month-over-month growth
# --------------------------------------------------------------------------


@register(
    "revenue_mom_growth",
    category="product-analytics",
    doc="Month-over-month revenue growth: aggregate to the month grain "
    "FIRST (decimal-accumulated), then one lag window over the tiny month "
    "relation — the window never touches fact rows. NULL growth on the "
    "first month and on gap months (lag is strictly previous-month).",
    oracle=f"""
WITH m AS (
  SELECT year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS mkey,
         {oracle_dsum('o_totalprice')} AS revenue
  FROM orders GROUP BY 1
)
SELECT mkey // 12 AS yr, mkey % 12 + 1 AS mon, revenue,
       CASE WHEN lag(mkey) OVER (ORDER BY mkey) = mkey - 1
            THEN round((revenue - lag(revenue) OVER (ORDER BY mkey))
                       / lag(revenue) OVER (ORDER BY mkey), 6)
            END AS mom_growth
FROM m
""",
)
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        table(spark, sf_dir, "orders")
        .groupBy(
            (
                F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)
            ).alias("mkey")
        )
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = Window.orderBy("mkey")
    growth = F.when(
        F.lag("mkey").over(w) == F.col("mkey") - 1,
        F.round(
            (F.col("revenue") - F.lag("revenue").over(w))
            / F.lag("revenue").over(w),
            6,
        ),
    )
    return m.select(
        (F.col("mkey") / 12).cast("long").alias("yr"),
        (F.col("mkey") % 12 + 1).alias("mon"),
        "revenue",
        growth.alias("mom_growth"),
    )


# --------------------------------------------------------------------------
# Cumulative distinct users (growth curve)
# --------------------------------------------------------------------------


@register(
    "cumulative_distinct_users_daily",
    category="product-analytics",
    doc="Daily growth curve: active users per day, NEW users per day "
    "(first-seen date via one min-groupBy — never a distinct-over-window), "
    "and the cumulative distinct user count as a running sum of news. The "
    "standard trick: cumulative COUNT(DISTINCT) is unwindowable at scale, "
    "but first-occurrence flags turn it into an ordinary prefix sum over "
    "the tiny day grain.",
    oracle="""
WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
firstd AS (SELECT user_id, MIN(d) AS fd FROM e GROUP BY user_id),
daily AS (SELECT d, COUNT(DISTINCT user_id) AS active FROM e GROUP BY d),
news AS (SELECT fd AS d, COUNT(*) AS new_users FROM firstd GROUP BY fd)
SELECT daily.d AS day, daily.active,
       COALESCE(news.new_users, 0) AS new_users,
       CAST(SUM(COALESCE(news.new_users, 0)) OVER (ORDER BY daily.d)
            AS BIGINT) AS cum_distinct_users
FROM daily LEFT JOIN news ON news.d = daily.d
""",
)
def cumulative_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    firstd = e.groupBy("user_id").agg(F.min("d").alias("fd"))
    daily = e.groupBy("d").agg(F.countDistinct("user_id").alias("active"))
    news = firstd.groupBy(F.col("fd").alias("d")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    joined = daily.join(news, "d", "left").select(
        F.col("d").alias("day"),
        "active",
        F.coalesce("new_users", F.lit(0)).alias("new_users"),
    )
    return joined.withColumn(
        "cum_distinct_users",
        F.sum("new_users").over(
            Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


# --------------------------------------------------------------------------
# Hierarchical share-of-parent
# --------------------------------------------------------------------------


@register(
    "hierarchy_share_of_parent",
    category="product-analytics",
    doc="Hierarchical share-of-parent: revenue at the nation grain with "
    "each nation's share of its region and each region's share of the "
    "grand total — aggregate once at the leaf grain (decimal-accumulated), "
    "then two sum-windows over the tiny grain relation. The drill-down "
    "companion to rollup_agg's subtotals.",
    oracle=f"""
WITH leaf AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         {oracle_dsum('o.o_totalprice')} AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT region, nation, revenue,
       round(revenue / SUM(revenue) OVER (PARTITION BY region), 6)
         AS share_of_region,
       round(SUM(revenue) OVER (PARTITION BY region)
             / SUM(revenue) OVER (), 6) AS region_share_of_total
FROM leaf
""",
)
def hierarchy_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    leaf = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    wr = Window.partitionBy("region")
    wall = Window.partitionBy()
    return leaf.select(
        "region",
        "nation",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(wr), 6).alias(
            "share_of_region"
        ),
        F.round(
            F.sum("revenue").over(wr) / F.sum("revenue").over(wall), 6
        ).alias("region_share_of_total"),
    )


# --------------------------------------------------------------------------
# Multi-touch attribution
# --------------------------------------------------------------------------

ATTR_WINDOW_HOURS = 6


@register(
    "multi_touch_attribution",
    category="product-analytics",
    doc=f"Linear multi-touch attribution: each purchase splits its value "
    f"equally across the same user's views in the preceding "
    f"{ATTR_WINDOW_HOURS}h; per-view credits roll up to credited value per "
    "user. The interval join is user-keyed and time-bounded (state = one "
    "attribution window per user, the streaming-joinable shape); credit "
    "division is exact integer cents split with remainder-to-first so the "
    "credits sum EXACTLY to the purchase value.",
    oracle=f"""
WITH v AS (
  SELECT user_id, event_id AS view_id, ts AS vts FROM events
  WHERE event_type = 'view'
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS pts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT p.user_id, p.purchase_id, p.cents, v.view_id,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY v.vts, v.view_id) AS tn,
         COUNT(*) OVER (PARTITION BY p.purchase_id) AS k
  FROM p JOIN v ON p.user_id = v.user_id
     AND v.vts < p.pts
     AND v.vts >= p.pts - INTERVAL {ATTR_WINDOW_HOURS} HOUR
),
credits AS (
  SELECT user_id, view_id, purchase_id,
         cents // k + CASE WHEN tn <= cents % k THEN 1 ELSE 0 END AS credit_cents
  FROM touches
)
SELECT user_id,
       COUNT(DISTINCT purchase_id) AS attributed_purchases,
       COUNT(*) AS credited_views,
       CAST(SUM(credit_cents) AS DOUBLE) / 100 AS credited_value
FROM credits
GROUP BY user_id
""",
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    touches = (
        p.join(
            v,
            (F.col("user_id") == F.col("vu"))
            & (F.col("vts") < F.col("pts"))
            & (
                F.col("vts")
                >= F.col("pts") - F.expr(f"INTERVAL {ATTR_WINDOW_HOURS} HOURS")
            ),
        )
        .withColumn(
            "tn",
            F.row_number().over(
                Window.partitionBy("purchase_id").orderBy("vts", "view_id")
            ),
        )
        .withColumn("k", F.count(F.lit(1)).over(Window.partitionBy("purchase_id")))
    )
    credit = F.expr("cents div k") + F.when(
        F.col("tn") <= F.col("cents") % F.col("k"), 1
    ).otherwise(0)
    return (
        touches.select("user_id", "view_id", "purchase_id", credit.alias("credit_cents"))
        .groupBy("user_id")
        .agg(
            F.countDistinct("purchase_id").alias("attributed_purchases"),
            F.count(F.lit(1)).alias("credited_views"),
            (F.sum("credit_cents").cast("double") / 100).alias("credited_value"),
        )
    )


BASKET_MIN_TRIPLE_SUPPORT = 2


@register(
    "basket_triple_apriori",
    category="product-analytics",
    doc="Frequent brand TRIPLES with the Apriori candidate prune: a triple "
    "is counted only when all three of its sub-pairs are themselves "
    "frequent (the downward-closure property), so the within-basket 3-way "
    "self-join explodes only items that already survived the pair gate — "
    "at scale the prune is what keeps candidate growth polynomial while a "
    "naive k-way basket explode is combinatorial. Frequent pairs are a "
    "small relation (bounded by the brand dictionary squared) and "
    "broadcast onto every prune join; triple counting is one "
    "partial-aggregable groupBy. Support ratios are exact-count divisions "
    f"rounded 6dp. Triples with support >= {BASKET_MIN_TRIPLE_SUPPORT}, "
    f"top {BASKET_TOPK} by count with lexicographic tiebreak. The ORACLE "
    "counts triples directly WITHOUT the prune: downward closure makes "
    "the prune result-neutral (support(pair) >= support(triple) >= "
    f"{BASKET_MIN_TRIPLE_SUPPORT} >= {BASKET_MIN_PAIR_SUPPORT}), and "
    "spelling the six-way pruned join in SQL sends DuckDB's join "
    "reordering into a brand×basket blowup (measured: >10 min vs 5s).",
    oracle=f"""
WITH b AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_baskets FROM b),
t AS (
  SELECT a.brand AS brand_a, c.brand AS brand_b, d.brand AS brand_c,
         CAST(COUNT(*) AS BIGINT) AS triple_n
  FROM b a
  JOIN b c ON a.ok = c.ok AND a.brand < c.brand
  JOIN b d ON a.ok = d.ok AND c.brand < d.brand
  GROUP BY 1, 2, 3
  HAVING COUNT(*) >= {BASKET_MIN_TRIPLE_SUPPORT}
)
SELECT brand_a, brand_b, brand_c, triple_n,
       round(CAST(triple_n AS DOUBLE) / n.n_baskets, 6) AS support
FROM t CROSS JOIN n
ORDER BY triple_n DESC, brand_a, brand_b, brand_c
LIMIT {BASKET_TOPK}
""",
)
def basket_triple_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = (
        table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                table(spark, sf_dir, "part").select("p_partkey", "p_brand")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
        .localCheckpoint()  # four joins consume it — cut the shared lineage
    )
    n = b.agg(F.countDistinct("ok").cast("bigint").alias("n_baskets"))
    a = b.select("ok", F.col("brand").alias("brand_a"))
    c = b.select("ok", F.col("brand").alias("brand_b"))
    d = b.select("ok", F.col("brand").alias("brand_c"))
    # r10: materialize the ordered per-basket pair relation ONCE — it feeds
    # both the pair-support aggregate and the triple base, which otherwise
    # re-run the basket self-join (the expensive per-basket explosion)
    pairs = (
        a.join(c, "ok")
        .where(F.col("brand_a") < F.col("brand_b"))
        .localCheckpoint()
    )
    fp = (
        pairs.groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= BASKET_MIN_PAIR_SUPPORT)
        .select(F.col("brand_a").alias("x"), F.col("brand_b").alias("y"))
        .localCheckpoint()
    )

    def prune(df: DataFrame, left: str, right: str) -> DataFrame:
        f = fp.select(F.col("x").alias(left), F.col("y").alias(right))
        return df.join(F.broadcast(f), [left, right])

    t = (
        prune(pairs, "brand_a", "brand_b")
        .join(d, "ok")
        .where(F.col("brand_b") < F.col("brand_c"))
    )
    t = prune(prune(t, "brand_a", "brand_c"), "brand_b", "brand_c")
    triples = (
        t.groupBy("brand_a", "brand_b", "brand_c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triple_n"))
        .where(F.col("triple_n") >= BASKET_MIN_TRIPLE_SUPPORT)
    )
    return (
        triples.crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "brand_c",
            "triple_n",
            F.round(
                F.col("triple_n").cast("double") / F.col("n_baskets"), 6
            ).alias("support"),
        )
        .orderBy(
            F.desc("triple_n"), F.asc("brand_a"), F.asc("brand_b"), F.asc("brand_c")
        )
        .limit(BASKET_TOPK)
    )


@register(
    "rfm_customer_segmentation",
    category="product-analytics",
    doc="RFM segmentation (recency / frequency / monetary), the classic "
    "CRM scoring: per customer, days-recency of the last order, order "
    "count, and lifetime cents; each dimension quintile-scored 1-5 (5 = "
    "best) and mapped to a named segment (champion / loyal / big_spender "
    "/ at_risk / hibernating / regular). SCALE SHAPE: the customer grain "
    "is row-scale at 100 TB, so every quintile comes from the TWO-PHASE "
    "exact global ntile (operators/windows.py:global_ntile — "
    "range-partitioned parallel sort + offsets, no single-task window); "
    "the three score relations hash-join back on custkey. Monetary sums "
    "in exact integer cents; ties break on custkey everywhere, so scores "
    "and segments are engine- and partitioning-deterministic.",
    oracle="""
WITH base AS (
  SELECT o_custkey AS custkey,
         MAX(o_orderdate) AS last_date,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
)
SELECT custkey, n_orders, cents,
       CAST(ntile(5) OVER (ORDER BY last_date ASC, custkey ASC) AS INTEGER)
         AS r_score,
       CAST(ntile(5) OVER (ORDER BY n_orders ASC, custkey ASC) AS INTEGER)
         AS f_score,
       CAST(ntile(5) OVER (ORDER BY cents ASC, custkey ASC) AS INTEGER)
         AS m_score,
       CASE
         WHEN ntile(5) OVER (ORDER BY last_date ASC, custkey ASC) >= 4
          AND ntile(5) OVER (ORDER BY n_orders ASC, custkey ASC) >= 4
          AND ntile(5) OVER (ORDER BY cents ASC, custkey ASC) >= 4
           THEN 'champion'
         WHEN ntile(5) OVER (ORDER BY n_orders ASC, custkey ASC) >= 4
           THEN 'loyal'
         WHEN ntile(5) OVER (ORDER BY cents ASC, custkey ASC) >= 4
           THEN 'big_spender'
         WHEN ntile(5) OVER (ORDER BY last_date ASC, custkey ASC) <= 2
          AND ntile(5) OVER (ORDER BY cents ASC, custkey ASC) >= 3
           THEN 'at_risk'
         WHEN ntile(5) OVER (ORDER BY last_date ASC, custkey ASC) <= 2
           THEN 'hibernating'
         ELSE 'regular'
       END AS segment
FROM base
""",
)
def rfm_customer_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_ntile

    base = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_date"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("cents"),
        )
        .localCheckpoint()  # three ntile passes consume it
    )

    def score(col: str, name: str) -> DataFrame:
        return global_ntile(
            base.select("custkey", col), 5, [col, "custkey"], tile_name=name
        ).select("custkey", name)

    out = (
        base.select("custkey", "n_orders", "cents")
        .join(score("last_date", "r_score"), "custkey")
        .join(score("n_orders", "f_score"), "custkey")
        .join(score("cents", "m_score"), "custkey")
    )
    r, f, m = F.col("r_score"), F.col("f_score"), F.col("m_score")
    segment = (
        F.when((r >= 4) & (f >= 4) & (m >= 4), "champion")
        .when(f >= 4, "loyal")
        .when(m >= 4, "big_spender")
        .when((r <= 2) & (m >= 3), "at_risk")
        .when(r <= 2, "hibernating")
        .otherwise("regular")
    )
    return out.select(
        "custkey", "n_orders", "cents", "r_score", "f_score", "m_score",
        segment.alias("segment"),
    )


@register(
    "pareto_revenue_concentration",
    category="product-analytics",
    doc="Revenue concentration (the 80/20 audit): customers ranked by "
    "lifetime revenue DESCENDING, exact running revenue share, and two "
    "headline stats — how many customers cover 80% of revenue (and the "
    "share of the base they are), and the revenue share of the top "
    "decile. SCALE SHAPE: the customer grain is row-scale, so rank AND "
    "running sum both come from ONE two-phase exact prefix-sum pass "
    "(global_prefix_sums over (revenue desc, custkey) with a ones column "
    "as the rank) — no single-task window; the two scalars (N, total) "
    "broadcast onto a final one-row aggregate. All comparisons are "
    "integer cross-multiplications; only the two emitted shares round.",
    oracle="""
WITH base AS (
  SELECT o_custkey AS custkey,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents DESC, custkey ASC) AS BIGINT)
           AS rn,
         CAST(SUM(cents) OVER (ORDER BY cents DESC, custkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM base
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM base
)
SELECT t.n_customers, t.total_cents,
       CAST(MIN(CASE WHEN cum * 5 >= total_cents * 4 THEN rn END) AS BIGINT)
         AS n_to_80pct,
       round(CAST(MIN(CASE WHEN cum * 5 >= total_cents * 4 THEN rn END)
             AS DOUBLE) / n_customers, 6) AS pct_customers_to_80,
       round(CAST(MAX(CASE WHEN rn = (n_customers + 9) // 10 THEN cum END)
             AS DOUBLE) / total_cents, 6) AS top_decile_share
FROM ranked CROSS JOIN tot t
GROUP BY t.n_customers, t.total_cents
""",
)
def pareto_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import (
        global_prefix_sums,
    )

    base = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("cents"),
        )
        .withColumn("neg_cents", -F.col("cents"))
        .withColumn("one", F.lit(1).cast("bigint"))
    )
    ranked = global_prefix_sums(
        base, ["neg_cents", "custkey"], ["cents", "one"]
    ).select(
        "cents", F.col("one_cum").alias("rn"), F.col("cents_cum").alias("cum")
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    rn, cum = F.col("rn"), F.col("cum")
    n, total = F.col("n_customers"), F.col("total_cents")
    n80 = F.min(F.when(cum * 5 >= total * 4, rn)).cast("bigint")
    decile_cum = F.max(
        F.when(rn == F.floor((n + 9) / 10).cast("bigint"), cum)
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("n_customers", "total_cents")
        .agg(
            n80.alias("n_to_80pct"),
            F.round(n80.cast("double") / n, 6).alias("pct_customers_to_80"),
            F.round(decile_cum.cast("double") / total, 6).alias(
                "top_decile_share"
            ),
        )
    )


@register(
    "wau_sliding_distinct_users",
    category="product_analytics",
    doc="7-day sliding-window distinct active users (WAU) for every "
    "calendar day of the event range — the classic hard sliding-DISTINCT. "
    "SCALE SHAPE: never the naive 7x explode-per-day recount. Each "
    "user's active days collapse to merged coverage islands (an active "
    "day covers [d, d+6]; islands merge while gaps <= 7), every island "
    "becomes a +1/-1 difference-array pair, and WAU(day) is ONE exact "
    "prefix sum over the bounded day axis (operators/windows.py:"
    "global_prefix_sums). Cost is O(distinct user-days), not "
    "O(days x users); the per-user island window is bounded by the "
    "calendar span. Oracle recomputes the definition directly with a "
    "range-join COUNT(DISTINCT).",
    oracle="""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
b AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM ud),
cal AS (
  SELECT CAST(unnest(generate_series(b.mn, b.mx, INTERVAL 1 DAY)) AS DATE) AS day
  FROM b
)
SELECT c.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
FROM cal c LEFT JOIN ud u ON u.day BETWEEN c.day - 6 AND c.day
GROUP BY c.day
""",
)
def wau_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_prefix_sums

    ud = (
        table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
        .localCheckpoint()  # reused: islands + calendar bounds
    )
    w = Window.partitionBy("user_id").orderBy("day")
    isl = (
        ud.withColumn("prev", F.lag("day").over(w))
        .withColumn(
            "new_isl",
            (F.col("prev").isNull() | (F.datediff("day", "prev") > 7)).cast("int"),
        )
        .withColumn("isl", F.sum("new_isl").over(w))
    )
    islands = isl.groupBy("user_id", "isl").agg(
        F.min("day").alias("start"), F.max("day").alias("last")
    )
    deltas = islands.select(
        F.col("start").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        islands.select(F.date_add("last", 7).alias("day"), F.lit(-1).alias("delta"))
    )
    bounds = ud.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    cal = bounds.select(
        F.explode(F.sequence("mn", "mx")).alias("day")
    )
    dd = deltas.groupBy("day").agg(F.sum("delta").alias("delta"))
    axis = (
        cal.join(dd, "day", "left")
        .na.fill({"delta": 0})
        # deltas beyond the calendar horizon never affect emitted days
    )
    pre = global_prefix_sums(axis, ["day"], ["delta"])
    # islands still open at the horizon close beyond it — their -1 falls off
    # the axis, which is exactly right for an inclusive prefix
    return pre.select("day", F.col("delta_cum").cast("bigint").alias("wau"))


# ---------------------------------------------------------------------------
# ABC-XYZ classification — the inventory/revenue segmentation matrix
# ---------------------------------------------------------------------------


@register(
    "abc_xyz_classification",
    category="product",
    doc="ABC-XYZ classification of parts: ABC by cumulative revenue share "
    "(A <= 70%, B <= 90%, C rest — exact cross-multiplied cumulative "
    "comparisons over the TWO-PHASE revenue rank, never a single-task "
    "sort) crossed with XYZ demand variability (CV^2 of monthly demand "
    "against 0.25 / 1.0 thresholds, decided by the cross-multiplied "
    "integer test n*Σq² - (Σq)² vs k*(Σq)²/... all in DECIMAL(38,0), no "
    "sqrt or division). The classic planning matrix; emits per-class "
    "part counts and revenue mass. Demand months with zero sales count "
    "as gaps (the months-observed denominator is per-part).",
    oracle="""
WITH prev AS (
  SELECT l_partkey AS p,
         CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS rev
  FROM lineitem GROUP BY 1
),
ranked AS (
  SELECT p, rev,
         CAST(SUM(rev) OVER (ORDER BY rev DESC, p
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum,
         CAST(SUM(rev) OVER () AS HUGEINT) AS tot
  FROM prev
),
abc AS (
  SELECT p, rev,
         CASE WHEN cum * 100 <= tot * 70 THEN 'A'
              WHEN cum * 100 <= tot * 90 THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
),
mdem AS (
  SELECT l_partkey AS p,
         (year(l_shipdate) - 1990) * 12 + month(l_shipdate) AS m,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS q
  FROM lineitem GROUP BY 1, 2
),
var_ AS (
  SELECT p, CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(q) AS HUGEINT) AS s,
         SUM(q * q) AS ss
  FROM mdem GROUP BY p
),
xyz AS (
  SELECT p,
         CASE WHEN (n * ss - s * s) * 4 <= s * s THEN 'X'
              WHEN n * ss - s * s <= s * s THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM var_
)
SELECT abc.abc, xyz.xyz,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(abc.rev) AS BIGINT) AS revenue_cents
FROM abc JOIN xyz USING (p)
GROUP BY abc.abc, xyz.xyz
""",
)
def abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_prefix_sums

    c = F.col
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("q"),
        (
            (F.year("l_shipdate") - 1990) * 12 + F.month("l_shipdate")
        ).alias("m"),
    ).localCheckpoint()  # revenue rank + monthly-demand variance share it
    prev = li.groupBy("p").agg(F.sum("cents").cast("bigint").alias("rev"))
    # exact cumulative revenue share via the two-phase prefix sum over
    # (rev DESC, p) — part relations are row-scale at 100 TB
    ranked = global_prefix_sums(
        prev.withColumn("negrev", -c("rev")), ["negrev", "p"], ["rev"]
    )
    tot = prev.agg(F.sum("rev").cast("decimal(38,0)").alias("tot"))
    abc = ranked.crossJoin(F.broadcast(tot)).select(
        "p",
        "rev",
        F.when(
            c("rev_cum").cast("decimal(38,0)") * 100 <= c("tot") * 70, F.lit("A")
        )
        .when(c("rev_cum").cast("decimal(38,0)") * 100 <= c("tot") * 90, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc"),
    )
    mdem = li.groupBy("p", "m").agg(F.sum("q").cast("bigint").alias("mq"))
    var_ = mdem.groupBy("p").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("mq").cast("decimal(38,0)").alias("s"),
        F.sum(c("mq").cast("decimal(38,0)") * c("mq")).alias("ss"),
    )
    xyz = var_.select(
        "p",
        F.when((c("n") * c("ss") - c("s") * c("s")) * 4 <= c("s") * c("s"), "X")
        .when(c("n") * c("ss") - c("s") * c("s") <= c("s") * c("s"), "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        abc.join(xyz, "p")
        .groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev").cast("bigint").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution — where does user behavior settle?
# ---------------------------------------------------------------------------

MARKOV_ROUNDS = 8


def _oracle_markov() -> str:
    steps = [
        """s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)""",
        """t AS MATERIALIZED (
  SELECT from_type, to_type, n,
         CAST(SUM(n) OVER (PARTITION BY from_type) AS HUGEINT) AS r
  FROM (
    SELECT prev_type AS from_type, event_type AS to_type,
           CAST(COUNT(*) AS HUGEINT) AS n
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
  )
)""",
        "p0 AS (SELECT DISTINCT from_type AS st, CAST(1000000 AS HUGEINT) AS pi FROM t)",
    ]
    prev = "p0"
    for r in range(1, MARKOV_ROUNDS + 1):
        steps.append(
            f"""p{r} AS MATERIALIZED (
  SELECT t.to_type AS st, CAST(SUM((p.pi * t.n) // t.r) AS HUGEINT) AS pi
  FROM {prev} p JOIN t ON t.from_type = p.st
  GROUP BY t.to_type)"""
        )
        prev = f"p{r}"
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
SELECT st AS state,
       CAST(pi AS BIGINT) AS pi_grid,
       CAST((2000000 * pi + (SELECT SUM(pi) FROM {prev}))
            // (2 * (SELECT SUM(pi) FROM {prev})) AS BIGINT) AS pi_norm_ppm
FROM {prev}"""
    )


def _markov_chain(spark: SparkSession, sf_dir: str):
    """(edges, pi) — the integer-grid chain shared by the stationary
    distribution and the entropy rate (identical rounds and grids).

    The fact-scaled work (the lag window building transitions) runs
    distributed and is collected ONCE — the transition matrix is bounded by
    the event-type set squared (~25 rows), the same bounded-driver-state
    contract as the quickselect family. The 8 power-iteration rounds then
    run driver-side in arbitrary-precision Python integers: each round was
    a Catalyst join+aggregate over a ~5-row relation — pure plan-depth and
    job overhead (r10 measurement: ~2 s of the query was the unrolled
    round plans, none of it data work). The grid arithmetic is unchanged —
    (pi*n) DIV r on nonnegative integers == Python ``//`` — so the dynamics
    are bit-identical to the relational unrolling and to the oracle's
    MATERIALIZED CTE rounds. ``edges`` rows carry (from_type, to_type, n,
    r, dln) with dln = round(ln(r),9)e9 − round(ln(n),9)e9 computed IN
    SPARK (ln must come from the engine whose 9dp rounding the oracle
    mirrors — never Python's libm)."""
    c = F.col
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(c("prev_type").isNotNull())
        .groupBy(c("prev_type").alias("from_type"), c("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    )

    def ln9(col):
        return (F.round(F.log(col.cast("double")), 9) * F.lit(1_000_000_000)).cast(
            "decimal(38,0)"
        )

    edges = [
        (r.from_type, r.to_type, int(r.n), int(r.r), int(r.dln))
        for r in base.join(
            base.groupBy("from_type").agg(
                F.sum("n").cast("decimal(38,0)").alias("r")
            ),
            "from_type",
        )
        .select(
            "from_type",
            "to_type",
            "n",
            "r",
            (ln9(c("r")) - ln9(c("n"))).alias("dln"),
        )
        .collect()
    ]
    pi = {st: 1_000_000 for st in {e[0] for e in edges}}
    for _ in range(MARKOV_ROUNDS):
        nxt: dict[str, int] = {}
        for from_type, to_type, n, r, _dln in edges:
            p = pi.get(from_type)
            if p is not None:
                nxt[to_type] = nxt.get(to_type, 0) + (p * n) // r
        pi = nxt
    return edges, pi


@register(
    "markov_stationary_behavior",
    category="product-analytics",
    doc=f"Stationary distribution of the user-behavior Markov chain (the "
    "event_transition_matrix states): {MARKOV_ROUNDS} unrolled power-"
    "iteration rounds pi' = pi P on an EXACT integer grid — each "
    "per-edge term is (pi_i * c_ij) DIV r_i (floor, deterministic on "
    "any engine), so the dynamics are grid-exact and the oracle replays "
    "them as unrolled MATERIALIZED CTE rounds. The final mass "
    "normalizes to half-up ppm. The long-run 'where do users spend "
    "their sessions' readout on top of the transition matrix; state "
    "space is the bounded event-type set, so every round is a "
    "tiny-relation join + aggregate regardless of data scale (the "
    "fact-scaled work is the ONE lag window building transitions).",
    oracle=_oracle_markov(),
)
def markov_stationary_behavior(spark: SparkSession, sf_dir: str) -> DataFrame:
    _edges, pi = _markov_chain(spark, sf_dir)
    s = sum(pi.values())
    return local_frame(
        spark,
        [(st, p, (2_000_000 * p + s) // (2 * s)) for st, p in sorted(pi.items())],
        "state string, pi_grid long, pi_norm_ppm long",
    )


# ---------------------------------------------------------------------------
# Shapley channel attribution — data-driven credit assignment
# ---------------------------------------------------------------------------

SHAPLEY_CHANNELS = ("view", "click", "signup")  # conversion = purchase


@register(
    "shapley_channel_attribution",
    category="product-analytics",
    doc="Data-driven (Shapley) attribution over the 3 marketing channels "
    f"{SHAPLEY_CHANNELS} with conversion = any purchase event: v(S) = "
    "conversion rate among users exposed to EXACTLY coalition S (8 "
    "coalitions; empty coalitions contribute v=0), each v as a half-up "
    "ppm integer, and the Shapley value on the ppm grid: phi_i*6 = "
    "2(v_i - v_0) + (v_ij - v_j) + (v_ik - v_k) + 2(v_full - v_jk) — "
    "pure integer arithmetic, so efficiency sum(phi*6) = 6(v_full - "
    "v_0) holds EXACTLY and is emitted as an audit column. SCALE "
    "SHAPE: one per-user exposure aggregate (map-side combinable "
    "booleans), one 8-row coalition aggregate, then constant-size "
    "arithmetic — the multi-touch upgrade from the rule-based "
    "multi_touch_attribution.",
    oracle="""
WITH per AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ev,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ec,
         MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS es,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
coal AS (
  SELECT ev, ec, es, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(conv) AS BIGINT) AS c
  FROM per GROUP BY ev, ec, es
),
v AS (
  SELECT
    MAX(CASE WHEN ev=0 AND ec=0 AND es=0 THEN CAST((2000000*c + n) // (2*n) AS BIGINT) ELSE NULL END) AS v000,
    MAX(CASE WHEN ev=1 AND ec=0 AND es=0 THEN CAST((2000000*c + n) // (2*n) AS BIGINT) ELSE NULL END) AS v100,
    MAX(CASE WHEN ev=0 AND ec=1 AND es=0 THEN CAST((2000000*c + n) // (2*n) AS BIGINT) ELSE NULL END) AS v010,
    MAX(CASE WHEN ev=0 AND ec=0 AND es=1 THEN CAST((2000000*c + n) // (2*n) AS BIGINT) ELSE NULL END) AS v001,
    MAX(CASE WHEN ev=1 AND ec=1 AND es=0 THEN CAST((2000000*c + n) // (2*n) AS BIGINT) ELSE NULL END) AS v110,
    MAX(CASE WHEN ev=1 AND ec=0 AND es=1 THEN CAST((2000000*c + n) // (2*n) AS BIGINT) ELSE NULL END) AS v101,
    MAX(CASE WHEN ev=0 AND ec=1 AND es=1 THEN CAST((2000000*c + n) // (2*n) AS BIGINT) ELSE NULL END) AS v011,
    MAX(CASE WHEN ev=1 AND ec=1 AND es=1 THEN CAST((2000000*c + n) // (2*n) AS BIGINT) ELSE NULL END) AS v111
  FROM coal
),
vv AS (
  SELECT COALESCE(v000,0) AS v000, COALESCE(v100,0) AS v100,
         COALESCE(v010,0) AS v010, COALESCE(v001,0) AS v001,
         COALESCE(v110,0) AS v110, COALESCE(v101,0) AS v101,
         COALESCE(v011,0) AS v011, COALESCE(v111,0) AS v111
  FROM v
)
SELECT channel, phi_x6_ppm, eff_x6_ppm FROM (
  SELECT 'view' AS channel,
         2*(v100 - v000) + (v110 - v010) + (v101 - v001) + 2*(v111 - v011) AS phi_x6_ppm,
         6*(v111 - v000) AS eff_x6_ppm
  FROM vv
  UNION ALL
  SELECT 'click',
         2*(v010 - v000) + (v110 - v100) + (v011 - v001) + 2*(v111 - v101),
         6*(v111 - v000)
  FROM vv
  UNION ALL
  SELECT 'signup',
         2*(v001 - v000) + (v101 - v100) + (v011 - v010) + 2*(v111 - v110),
         6*(v111 - v000)
  FROM vv
)
""",
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    per = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max((c("event_type") == "view").cast("int")).alias("ev"),
            F.max((c("event_type") == "click").cast("int")).alias("ec"),
            F.max((c("event_type") == "signup").cast("int")).alias("es"),
            F.max((c("event_type") == "purchase").cast("int")).alias("conv"),
        )
    )
    coal = per.groupBy("ev", "ec", "es").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("conv").cast("decimal(38,0)").alias("cv"),
    )
    cells = {
        "v000": (0, 0, 0), "v100": (1, 0, 0), "v010": (0, 1, 0),
        "v001": (0, 0, 1), "v110": (1, 1, 0), "v101": (1, 0, 1),
        "v011": (0, 1, 1), "v111": (1, 1, 1),
    }
    v = coal.agg(
        *[
            F.coalesce(
                F.max(
                    F.when(
                        (c("ev") == a) & (c("ec") == b) & (c("es") == d),
                        F.expr("CAST((2000000 * cv + n) DIV (2 * n) AS BIGINT)"),
                    )
                ),
                F.lit(0),
            ).alias(name)
            for name, (a, b, d) in cells.items()
        ]
    ).localCheckpoint()  # three channel arms read the 1-row lattice
    eff = "6 * (v111 - v000)"
    arms = [
        ("view", "2*(v100 - v000) + (v110 - v010) + (v101 - v001) + 2*(v111 - v011)"),
        ("click", "2*(v010 - v000) + (v110 - v100) + (v011 - v001) + 2*(v111 - v101)"),
        ("signup", "2*(v001 - v000) + (v101 - v100) + (v011 - v010) + 2*(v111 - v110)"),
    ]
    out = None
    for name, expr in arms:
        arm = v.select(
            F.lit(name).alias("channel"),
            F.expr(f"CAST({expr} AS BIGINT)").alias("phi_x6_ppm"),
            F.expr(f"CAST({eff} AS BIGINT)").alias("eff_x6_ppm"),
        )
        out = arm if out is None else out.unionAll(arm)
    return out


# ---------------------------------------------------------------------------
# Entropy rate — how predictable is the behavior chain?
# ---------------------------------------------------------------------------


def _oracle_markov_entropy() -> str:
    # reuse the stationary oracle's chain, then weight -p log p by pi
    base = _oracle_markov()
    head, _sep, _tail = base.rpartition("\nSELECT")
    return (
        head
        + f"""
, ent AS (
  SELECT CAST(SUM(
           (p.pi * t.n *
            (CAST(round(ln(CAST(t.r AS DOUBLE)), 9) * 1000000000 AS HUGEINT)
             - CAST(round(ln(CAST(t.n AS DOUBLE)), 9) * 1000000000 AS HUGEINT)))
           // t.r) AS HUGEINT) AS s
  FROM p{MARKOV_ROUNDS} p JOIN t ON t.from_type = p.st
),
tot AS (SELECT CAST(SUM(pi) AS HUGEINT) AS z FROM p{MARKOV_ROUNDS})
SELECT CAST((SELECT COUNT(*) FROM p{MARKOV_ROUNDS}) AS BIGINT) AS n_states,
       CAST((2 * ent.s + tot.z * 1000) // (2 * tot.z * 1000) AS BIGINT)
         AS entropy_rate_micro_nats
FROM ent CROSS JOIN tot"""
    )


@register(
    "markov_entropy_rate",
    category="product-analytics",
    doc="Entropy rate of the user-behavior Markov chain: H = -sum_i pi_i "
    "sum_j p_ij ln p_ij, with pi from the SAME integer-grid power "
    "iteration as markov_stationary_behavior (shared _markov_chain "
    "core) and -ln p_ij = ln(r_i) - ln(c_ij) as isolated-9dp nano "
    "integers; every (i,j) term is (pi_i * c_ij * dln) DIV r_i — a "
    "deterministic floor on the grid — and the rate normalizes by the "
    "stationary mass as half-up micro-nats. High entropy = sessions "
    "are unpredictable (every next-step model will struggle); low = "
    "strongly patterned funnels. Bounded state space: constant-size "
    "arithmetic on top of the one fact-scaled lag window.",
    oracle=_oracle_markov_entropy(),
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, pi = _markov_chain(spark, sf_dir)
    # every (i,j) term is (pi_i * c_ij * dln) DIV r_i — floor on the grid,
    # arbitrary-precision in Python (the relational form needed
    # DECIMAL(38,0): pi*n*dln overflows int64); dln was computed in Spark
    s = sum(
        (pi[from_type] * n * dln) // r
        for from_type, _to, n, r, dln in edges
        if from_type in pi
    )
    z = sum(pi.values())
    return local_frame(
        spark,
        [(len(pi), (2 * s + z * 1000) // (2 * z * 1000))],
        "n_states long, entropy_rate_micro_nats long",
    )
