"""Modern SQL surface: recursive CTEs (Spark 4), parameterized SQL, and
mergeable HLL sketch roll-ups.

These run through ``tables.star_sql`` over the session's star views
(vanilla-driver-session safe — no session-factory configs).

Recursive-CTE limits probed, not assumed: Spark 4.1 supports UNION ALL
recursion only (``UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE``), so the
registered recursion is the acyclic series-generation pattern; cyclic
transitive closure stays on the iterative DataFrame path
(functions/similarity.py dedup_connected_components, whose DuckDB oracle
IS a recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import star_sql, table


@register(
    "recursive_month_series_orders",
    category="advanced",
    doc="Recursive CTE (Spark 4 WITH RECURSIVE): generate the 1995-01 → "
    "2001-08 month series by recursion, LEFT JOIN orders per month — the "
    "calendar-spine pattern that reports empty periods as zero rows instead "
    "of silently dropping them. The spine is 80 rows (driver-free, "
    "engine-side); the join shuffles only the aggregated month keys.",
    oracle="""
WITH RECURSIVE months(month_start) AS (
  SELECT TIMESTAMP '1995-01-01 00:00:00'
  UNION ALL
  SELECT month_start + INTERVAL 1 MONTH FROM months
  WHERE month_start < TIMESTAMP '2001-08-01 00:00:00'
)
SELECT month_start,
       COUNT(o_orderkey) AS n_orders,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS total_value
FROM months
LEFT JOIN orders ON CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) = month_start
GROUP BY month_start
""",
)
def recursive_month_series_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, """
WITH RECURSIVE months(month_start) AS (
  SELECT TIMESTAMP_NTZ '1995-01-01 00:00:00'
  UNION ALL
  SELECT month_start + INTERVAL 1 MONTH FROM months
  WHERE month_start < TIMESTAMP_NTZ '2001-08-01 00:00:00'
)
SELECT month_start,
       COUNT(o_orderkey) AS n_orders,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS total_value
FROM months
LEFT JOIN {orders} ON date_trunc('month', o_orderdate) = month_start
GROUP BY month_start
""")


@register(
    "parameterized_sql_filter",
    category="advanced",
    doc="Named-parameter SQL (spark.sql(..., args={...})): the "
    "injection-safe templating surface — parameters bind as typed literals "
    "in the plan, so Catalyst still constant-folds and pushes the filter "
    "into the scan. Oracle inlines the same literal values.",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM orders
WHERE o_orderstatus = 'O' AND o_totalprice >= 50000.0
GROUP BY o_orderpriority
""",
)
def parameterized_sql_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(
        spark,
        sf_dir,
        """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM {orders}
WHERE o_orderstatus = :status AND o_totalprice >= :min_total
GROUP BY o_orderpriority
""",
        args={"status": "O", "min_total": 50000.0},
    )


@register(
    "hll_sketch_rollup",
    category="aggregates",
    doc="Mergeable HLL sketches (Datasketches, Spark 3.5+): per-month "
    "hll_sketch_agg of the ordering customers, then hll_union_agg rolls the "
    "monthly sketches up to per-year estimates WITHOUT re-scanning rows — "
    "the pre-aggregation pattern that makes distinct-count dashboards "
    "feasible at 100 TB (store tiny sketches, merge on demand). AUDITED "
    "oracle (Count-Min pattern): Datasketches estimates are engine-specific, "
    "so the emitted relation carries the exact per-year distinct plus a "
    "bounded-relative-error verdict computed from the merged-sketch "
    "estimate; the oracle asserts the verdict TRUE per year (lgConfigK=12 "
    "→ rsd≈1.6%; audited at 5%). Estimate-vs-exact error additionally "
    "asserted in tests/test_operators.py.",
    oracle="""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
       COUNT(DISTINCT o_custkey) AS exact_distinct_customers,
       TRUE AS hll_within_5pct
FROM orders GROUP BY 1
""",
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
        )
        .agg(F.hll_sketch_agg("o_custkey").alias("sketch"))
    )
    yearly_est = monthly.groupBy("order_year").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est")
    )
    yearly_exact = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year")
    ).agg(F.countDistinct("o_custkey").alias("exact_distinct_customers"))
    return yearly_exact.join(yearly_est, "order_year").select(
        "order_year",
        "exact_distinct_customers",
        (
            F.abs(F.col("est") - F.col("exact_distinct_customers"))
            <= F.greatest(F.lit(2), F.col("exact_distinct_customers") * 0.05)
        ).alias("hll_within_5pct"),
    )


@register(
    "hll_intersection_inclusion_exclusion",
    category="sketch",
    doc="HLL sketches cannot intersect natively — the standard remedy is "
    "inclusion-exclusion: |A∩B| ≈ est(A) + est(B) - est(A∪B), with the "
    "union estimated from hll_union of the two sketches. A = customers "
    "with URGENT orders, B = customers with HIGH orders; both sketches and "
    "both exact sides are built in ONE scan each (conditional "
    "hll_sketch_agg / per-customer flag rollup). AUDITED oracle (the "
    "hll_sketch_rollup pattern): estimates are engine-specific, so the "
    "relation emits the exact sizes plus a bounded-error verdict — the "
    "inclusion-exclusion error compounds three sketches, so the band is "
    "relative to the UNION size (5% + slack), not the intersection.",
    oracle="""
WITH flags AS (
  SELECT o_custkey,
         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS in_b
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  GROUP BY o_custkey
)
SELECT CAST(SUM(in_a) AS BIGINT) AS exact_a,
       CAST(SUM(in_b) AS BIGINT) AS exact_b,
       COUNT(*) AS exact_union,
       CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS exact_intersection,
       TRUE AS inter_within_band
FROM flags
""",
)
def hll_intersection_inclusion_exclusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    a_key = F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_custkey"))
    b_key = F.when(F.col("o_orderpriority") == "2-HIGH", F.col("o_custkey"))
    sketches = orders.agg(
        F.hll_sketch_agg(a_key).alias("sk_a"),
        F.hll_sketch_agg(b_key).alias("sk_b"),
    ).select(
        F.hll_sketch_estimate("sk_a").alias("est_a"),
        F.hll_sketch_estimate("sk_b").alias("est_b"),
        F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias("est_u"),
    )
    flags = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("o_orderpriority") == "2-HIGH", 1).otherwise(0)
            ).alias("in_b"),
        )
        .agg(
            F.sum("in_a").alias("exact_a"),
            F.sum("in_b").alias("exact_b"),
            F.count(F.lit(1)).alias("exact_union"),
            F.sum(
                F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
            ).alias("exact_intersection"),
        )
    )
    est_inter = F.col("est_a") + F.col("est_b") - F.col("est_u")
    return flags.crossJoin(F.broadcast(sketches)).select(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_intersection",
        (
            F.abs(est_inter - F.col("exact_intersection"))
            <= F.greatest(F.lit(4), F.col("exact_union") * 0.05)
        ).alias("inter_within_band"),
    )


# --- Count-Min Sketch frequency estimation ---------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 64
CMS_TOPK = 20


@register(
    "countmin_frequency_estimate",
    category="sketch",
    doc=f"Count-Min Sketch frequency estimation, fully oracle-checked: a "
    f"{CMS_DEPTH}×{CMS_WIDTH} sketch of lineitem part frequencies built "
    "with md5-portable bucket hashes (one groupBy over (row, bucket) — "
    f"{CMS_DEPTH * CMS_WIDTH} cells regardless of corpus size), then "
    f"per-key estimates = min over rows, top-{CMS_TOPK} with true counts "
    "and overestimate error alongside. The mergeable counting sketch for "
    "when exact per-key counts don't fit — estimates provably >= truth.",
    oracle=f"""
WITH pairs AS (
  SELECT l_partkey, i,
         ('0x' || substr(md5('cms:' || CAST(l_partkey AS VARCHAR)),
                         i * 4 + 1, 4))::BIGINT % {CMS_WIDTH} AS bucket
  FROM lineitem CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS i) d
),
sketch AS (
  SELECT i, bucket, COUNT(*) AS c FROM pairs GROUP BY i, bucket
),
truth AS (
  SELECT l_partkey, COUNT(*) AS true_cnt FROM lineitem GROUP BY l_partkey
),
est AS (
  SELECT p.l_partkey, MIN(s.c) AS est_cnt
  FROM (SELECT DISTINCT l_partkey, i, bucket FROM pairs) p
  JOIN sketch s ON p.i = s.i AND p.bucket = s.bucket
  GROUP BY p.l_partkey
)
SELECT t.l_partkey AS partkey, t.true_cnt, e.est_cnt,
       e.est_cnt - t.true_cnt AS overestimate
FROM truth t JOIN est e ON t.l_partkey = e.l_partkey
ORDER BY t.true_cnt DESC, t.l_partkey
LIMIT {CMS_TOPK}
""",
)
def countmin_frequency_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_partkey")

    # ONE md5 per key; each sketch row's bucket is a distinct 4-hex-digit
    # slice of it (md5 dominates the sketch build cost — 4x cheaper than
    # hashing per row-of-the-sketch).
    def bucket(i):
        return (
            F.conv(F.substring(F.col("h"), i * 4 + 1, 4), 16, 10).cast("bigint")
            % CMS_WIDTH
        )

    pair_arr = F.array(
        *[
            F.struct(F.lit(i).alias("i"), bucket(i).alias("bucket"))
            for i in range(CMS_DEPTH)
        ]
    )
    # This audit query needs the exact per-key truth anyway (for the error
    # columns), so the sketch cells derive from it: cell = Σ true_cnt of the
    # keys hashing there — identical to counting raw rows, but the explode
    # runs over |distinct keys| × depth instead of |fact rows| × depth
    # (2.4M → 80k rows at sf0.1, ~2× faster end-to-end). In production,
    # where no truth table exists, the sketch builds map-side from the raw
    # explode — that variant is what the 100 TB story uses, and the cell
    # contents are the same by construction.
    truth = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("true_cnt"))
    key_cells = (
        truth.withColumn("h", F.md5(F.concat(F.lit("cms:"), F.col("l_partkey").cast("string"))))
        .select("l_partkey", "true_cnt", F.explode_outer(pair_arr).alias("p"))
        .where(F.col("p").isNotNull())
        .select(
            "l_partkey",
            "true_cnt",
            F.col("p.i").alias("i"),
            F.col("p.bucket").alias("bucket"),
        )
    )
    sketch = key_cells.groupBy("i", "bucket").agg(
        F.sum("true_cnt").alias("c")
    )
    est = (
        key_cells.select("l_partkey", "i", "bucket")
        .join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("l_partkey")
        .agg(F.min("c").alias("est_cnt"))
    )
    return (
        truth.join(est, "l_partkey")
        .select(
            F.col("l_partkey").alias("partkey"),
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).alias("overestimate"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("partkey"))
        .limit(CMS_TOPK)
    )


@register(
    "lateral_topk_per_key",
    category="sql-surface",
    doc="SQL LATERAL correlated subquery: top-2 customers by balance per "
    "nation, the LATERAL form of top-k-per-group (each outer row drives "
    "a correlated ORDER BY … LIMIT subquery; Catalyst decorrelates it "
    "into the same window/aggregate shape the explicit rank query plans). "
    "Deterministic tiebreak on custkey.",
    oracle="""
SELECT n.n_name AS nation, top.c_custkey, top.cents
FROM nation n,
LATERAL (
  SELECT c_custkey,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY cents DESC, c_custkey
  LIMIT 2
) top
""",
)
def lateral_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, """
SELECT n.n_name AS nation, top.c_custkey, top.cents
FROM {nation} n,
LATERAL (
  SELECT c_custkey,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM {customer} c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY cents DESC, c_custkey
  LIMIT 2
) top
""")


@register(
    "pandas_api_groupby_agg",
    category="udf-tiers",
    doc="The FOURTH API tier — pandas API on Spark (pyspark.pandas): a "
    "groupby/agg written as pandas code compiles to the same Catalyst "
    "plan as the native DataFrame form (no Python execution in the hot "
    "path; only the API differs). Sums run on exact integer cents so the "
    "tier is oracle-checkable like every other.",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY o_orderstatus
""",
)
def pandas_api_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.tables import table

    sdf = table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    psdf = sdf.pandas_api()
    out = (
        psdf.groupby("o_orderstatus")
        .agg(n=("cents", "count"), total_cents=("cents", "sum"))
        .reset_index()
    )
    return out.to_spark().select(
        "o_orderstatus",
        F.col("n").cast("bigint").alias("n"),
        F.col("total_cents").cast("bigint").alias("total_cents"),
    )


@register(
    "bitmap_distinct_rollup",
    category="aggregates",
    doc="EXACT mergeable distinct-count rollup via bitmap indexes (Spark "
    "3.5+ bitmap_* aggregates) — the exact counterpart of "
    "hll_sketch_rollup: per (year, month, 32k-bucket) bitmaps from "
    "bitmap_construct_agg(bitmap_bit_position(custkey)), OR-merged up to "
    "years WITHOUT re-scanning fact rows, then bitmap_count summed per "
    "year. Same pre-aggregation shape dashboards need at 100 TB (store "
    "small bitmaps per partition, merge on demand) but with exact "
    "answers — the result equals COUNT(DISTINCT) and is fully "
    "oracle-checked against it.",
    oracle="""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
       COUNT(DISTINCT o_custkey) AS exact_distinct_customers
FROM orders GROUP BY 1
""",
)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
            F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
        )
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias("bm")
        )
    )
    yearly = (
        monthly.groupBy("order_year", "bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .select("order_year", F.expr("bitmap_count(bm)").alias("c"))
    )
    return yearly.groupBy("order_year").agg(
        F.sum("c").alias("exact_distinct_customers")
    )


@register(
    "sql_pipe_syntax_report",
    category="advanced",
    doc="Spark 4 SQL pipe syntax (FROM ... |> WHERE |> EXTEND |> AGGREGATE "
    "|> WHERE |> SELECT): the linear query-flow dialect, one operator per "
    "stage in reading order. Pipe operators are pure parser surface — the "
    "chain compiles to the same Catalyst plan as the ANSI rendering (scan "
    "with pushed timestamp filter, partial+final hash agg, post-agg "
    "filter), so pushdown and whole-stage codegen are unchanged; the oracle "
    "IS that ANSI rendering. Revenue is integer-cents quantized "
    "(floor(x*100+0.5)) so the pipe EXTEND column hashes identically across "
    "engines.",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                          AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS net_revenue
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
HAVING COUNT(*) > 100
""",
)
def sql_pipe_syntax_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, """
FROM {lineitem}
|> WHERE l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'
|> EXTEND CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
     AS net_cents
|> AGGREGATE COUNT(*) AS n_rows,
       CAST(SUM(net_cents) AS DOUBLE) / 100.0 AS net_revenue
     GROUP BY l_returnflag, l_linestatus
|> WHERE n_rows > 100
|> SELECT l_returnflag, l_linestatus, n_rows, net_revenue
""")
