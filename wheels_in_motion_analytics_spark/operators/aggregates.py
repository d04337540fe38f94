"""Aggregation operators (reference A1-A6 + full agg surface).

A1 null-profile: /root/reference/airflow/dags/scripts/init-data-transformation.py:57-63,104-116.
A3-A6 dashboard aggs: images/analytics_dashboard_2.PNG, README.md:252.

Scale notes: every groupBy here is a partial (map-side) + final hash
aggregation — Catalyst does the combine automatically, so shuffled bytes are
proportional to |groups|, not |rows|. The null-profile is a single global agg
with ~k columns: one row out, one Exchange of k counters per partition.
Share-of-total uses a window over an empty partition spec — acceptable only
because the input is the already-aggregated group table (|groups| rows), never
the raw fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.compat import davg, dsum, oracle_davg, oracle_dsum
from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import local_frame, star_sql, table


def null_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """A1: one-row DataFrame of per-column null counts.

    Formulated as COUNT(*) - COUNT(col) (bigint in both engines) rather than
    SUM(CASE WHEN...) so the oracle schema matches exactly.
    """
    cols = cols or df.columns
    return df.agg(*[(F.count(F.lit(1)) - F.count(F.col(c))).alias(c) for c in cols])


@register(
    "null_profile_agg",
    category="aggregates",
    doc="A1 per-column null profile on lineitem "
    "(init-data-transformation.py:57-63,104-116).",
    oracle="""
SELECT COUNT(*) - COUNT(l_orderkey) AS l_orderkey,
       COUNT(*) - COUNT(l_quantity) AS l_quantity,
       COUNT(*) - COUNT(l_discount) AS l_discount,
       COUNT(*) - COUNT(l_returnflag) AS l_returnflag,
       COUNT(*) - COUNT(l_shipdate) AS l_shipdate
FROM lineitem
""",
)
def null_profile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "lineitem")
    return null_profile(df, ["l_orderkey", "l_quantity", "l_discount", "l_returnflag", "l_shipdate"])


@register(
    "count_total",
    category="aggregates",
    doc="A3 'Total Rides' global count (dashboard headline).",
    oracle="SELECT COUNT(*) AS total_rows FROM lineitem",
)
def count_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("total_rows"))


@register(
    "group_topk",
    category="aggregates",
    doc="A4 'Rides By Station Name': group-count, sort desc, deterministic top-k.",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS num_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY num_orders DESC, o_orderpriority ASC
LIMIT 5
""",
)
def group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, """
SELECT o_orderpriority, COUNT(*) AS num_orders
FROM {orders}
GROUP BY o_orderpriority
ORDER BY num_orders DESC, o_orderpriority ASC
LIMIT 5
""")


@register(
    "share_of_total",
    category="aggregates",
    doc="A5 'Rides By Bicycle Model' share-of-total: group count / grand total "
    "via an empty-partition window over the aggregated groups.",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS num_orders,
       CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
FROM orders
GROUP BY o_orderstatus
""",
)
def share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    grouped = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("num_orders"))
    )
    w = Window.partitionBy()
    return grouped.withColumn(
        "share", F.col("num_orders").cast("double") / F.sum("num_orders").over(w)
    )


@register(
    "hist_by_hour",
    category="aggregates",
    doc="A6 'Rides By Hour' 24-bucket histogram over event timestamps "
    "(hour precomputed in dim_datetime, journey-data-transformation.py:164).",
    oracle="""
SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day, COUNT(*) AS num_events
FROM events
GROUP BY 1
""",
)
def hist_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.hour("ts").alias("hour_of_day"))
        .agg(F.count(F.lit(1)).alias("num_events"))
    )


@register(
    "distinct_pairs",
    category="aggregates",
    doc="A2 DISTINCT projection (station id/name pairs, "
    "journey-data-transformation.py:114-124).",
    oracle="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment").distinct()


@register(
    "agg_stats_suite",
    category="aggregates",
    doc="min/max/avg/sum per group with order-independent numerics "
    "(decimal-accumulated; stddev rounded).",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {oracle_dsum('l_quantity')} AS sum_qty,
       {oracle_dsum('l_extendedprice')} AS sum_base_price,
       {oracle_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {oracle_davg('l_quantity')} AS avg_qty,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the canonical partial-agg benchmark."""
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
        davg("l_quantity").alias("avg_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "count_distinct_exact",
    category="aggregates",
    doc="Exact COUNT(DISTINCT) — expands to a two-phase agg in Spark.",
    oracle="""
SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS num_customers
FROM orders GROUP BY o_orderpriority
""",
)
def count_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("num_customers"))
    )


@register(
    "approx_count_distinct",
    category="aggregates",
    doc="HyperLogLog++ approximate distinct — sketch-based, mergeable, the "
    "100 TB path where exact distinct would shuffle every key. AUDITED "
    "oracle (Count-Min pattern): the sketch estimate itself is "
    "engine-specific, so the emitted relation carries the exact count plus "
    "a bounded-relative-error verdict computed from the estimate; the "
    "oracle asserts the verdict is TRUE for every group (rsd=0.01, audited "
    "at 5× that). A drifting sketch flips the verdict and fails the hash.",
    oracle="""
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       TRUE AS approx_within_5pct
FROM orders GROUP BY o_orderpriority
""",
)
def approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NEVER put approx_count_distinct in the same agg as a DISTINCT
    # aggregate: Catalyst's distinct rewrite keys the first-level partial
    # aggregate by (group, distinct-col), so the HLL buffer (16 KB at
    # rsd=0.01) materializes once per DISTINCT PAIR — ~100k sketches here,
    # 3.4s; at 100 TB it's an OOM. Distinct the pairs first, then aggregate:
    # count(*) over distinct pairs IS the exact distinct, and HLL is
    # duplicate-insensitive so its estimate is unchanged (one buffer per
    # group). Measured 3.4s -> 1.0s at sf0.1.
    pairs = (
        table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_custkey")
        .distinct()
    )
    return (
        pairs.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("exact_customers"),
            F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx"),
        )
        .select(
            "o_orderpriority",
            "exact_customers",
            (
                F.abs(F.col("approx") - F.col("exact_customers"))
                <= F.greatest(F.lit(1), F.col("exact_customers") * 0.05)
            ).alias("approx_within_5pct"),
        )
    )


@register(
    "rollup_agg",
    category="aggregates",
    doc="ROLLUP hierarchy totals with GROUPING() markers (§2b gap fill).",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       COUNT(*) AS num_orders
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("num_orders"),
        )
    )


@register(
    "cube_agg",
    category="aggregates",
    doc="CUBE over two dims (§2b gap fill).",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS num_items,
       {oracle_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
""",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("num_items"), dsum("l_quantity").alias("sum_qty"))
    )


@register(
    "grouping_sets_agg",
    category="aggregates",
    doc="Explicit GROUPING SETS (§2b gap fill).",
    oracle="""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS num_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS num_orders
FROM {orders}
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""")


@register(
    "percentile_exact",
    category="aggregates",
    doc="Exact continuous percentiles per group (oracle: quantile_cont). "
    "r11 rewrite: per-group shared-round histogram selection "
    "(rank_values) + Spark's own interpolation arithmetic "
    "reproduced op-for-op on the selected straddling values — "
    "bit-identical to the former percentile() aggregate (pinned by "
    "tests/test_operators.py) WITHOUT its per-group counts-map state, "
    "whose partial maps grow with distinct values per group (a memory "
    "hazard at 100 TB) and whose final merge serializes onto one task "
    "per group (3 groups ⇒ 3-way parallelism ceiling — the r10 driver "
    "measured 0.54 low/high-core anti-scaling). Selection is 3 bounded "
    "scan jobs; the final round() stays a Spark expression so rounding "
    "semantics remain the engine's own.",
    oracle="""
SELECT l_returnflag,
       ROUND(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS p50,
       ROUND(CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE), 4) AS p90
FROM lineitem GROUP BY l_returnflag
""",
)
def percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import (
        grouped_percentile_doubles,
    )

    pct = grouped_percentile_doubles(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice", [0.5, 0.9]
    )
    rows = [(g, v[0], v[1]) for g, v in sorted(pct.items())]
    return local_frame(
        spark, rows, "l_returnflag string, p50_raw double, p90_raw double"
    ).select(
        "l_returnflag",
        F.round("p50_raw", 4).alias("p50"),
        F.round("p90_raw", 4).alias("p90"),
    )


@register(
    "percentile_approx_sketch",
    category="aggregates",
    doc="approx_percentile (KLL-style sketch) — the mergeable 100 TB "
    "quantile path. AUDITED oracle (Count-Min pattern): the sketch's picked "
    "elements are engine-specific, so the emitted relation carries the "
    "exact interpolated percentiles plus bounded-relative-error verdicts "
    "computed from the sketch output; the oracle asserts both verdicts are "
    "TRUE per group (accuracy 10000 → rank error 1e-4; value audited at 2% "
    "since the sketch returns discrete elements vs the continuous exact).",
    oracle="""
SELECT l_returnflag,
       ROUND(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS p50_exact,
       ROUND(CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE), 4) AS p90_exact,
       TRUE AS p50_within_2pct,
       TRUE AS p90_within_2pct
FROM lineitem GROUP BY l_returnflag
""",
)
def percentile_approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", [0.5, 0.9], 10000).alias("apcts"),
            F.expr("percentile(l_extendedprice, array(0.5, 0.9))").alias("epcts"),
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("epcts", 1), 4).alias("p50_exact"),
            F.round(F.element_at("epcts", 2), 4).alias("p90_exact"),
            (
                F.abs(F.element_at("apcts", 1) - F.element_at("epcts", 1))
                <= F.element_at("epcts", 1) * 0.02
            ).alias("p50_within_2pct"),
            (
                F.abs(F.element_at("apcts", 2) - F.element_at("epcts", 2))
                <= F.element_at("epcts", 2) * 0.02
            ).alias("p90_within_2pct"),
        )
    )


@register(
    "moment_stats_suite",
    category="aggregates",
    doc="Higher-moment statistics per group — skewness/kurtosis derived from "
    "exact decimal power sums (Σq, Σq², Σq³, Σq⁴) with the IDENTICAL "
    "closed-form expression on both engines (built-in skewness()/kurtosis() "
    "differ across engines in bias correction), plus exact interpolated "
    "median on integral quantities. Power sums accumulate in DECIMAL(38,0)-"
    "range so the op survives 10^13-row groups.",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n,
       round(CAST(SUM(CAST(l_quantity AS DECIMAL(38,1))) AS DOUBLE) / COUNT(*), 6) AS mean_qty,
       round(
         (CAST(SUM(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(38,1))) AS DOUBLE) / COUNT(*)
          - 3 * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,1))) AS DOUBLE) / COUNT(*))
              * (CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,1))) AS DOUBLE) / COUNT(*))
          + 2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,1))) AS DOUBLE) / COUNT(*))
              * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,1))) AS DOUBLE) / COUNT(*))
              * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,1))) AS DOUBLE) / COUNT(*)))
         / ((CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,1))) AS DOUBLE) / COUNT(*)
             - (CAST(SUM(CAST(l_quantity AS DECIMAL(38,1))) AS DOUBLE) / COUNT(*))
               * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,1))) AS DOUBLE) / COUNT(*)))
            * sqrt(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,1))) AS DOUBLE) / COUNT(*)
                   - (CAST(SUM(CAST(l_quantity AS DECIMAL(38,1))) AS DOUBLE) / COUNT(*))
                     * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,1))) AS DOUBLE) / COUNT(*)))),
         6) AS skew_qty,
       round(median(l_quantity), 6) AS median_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def moment_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    s1 = F.sum(q.cast("decimal(38,1)")).cast("double")
    s2 = F.sum((q * q).cast("decimal(38,1)")).cast("double")
    s3 = F.sum((q * q * q).cast("decimal(38,1)")).cast("double")
    n = F.count(F.lit(1))
    grouped = li.groupBy("l_returnflag").agg(
        n.alias("n"),
        s1.alias("s1"),
        s2.alias("s2"),
        s3.alias("s3"),
        F.median(q).alias("med"),
    )
    m1 = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n")
    m3 = F.col("s3") / F.col("n")
    var = m2 - m1 * m1
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / (var * F.sqrt(var))
    return grouped.select(
        "l_returnflag",
        "n",
        F.round(m1, 6).alias("mean_qty"),
        F.round(skew, 6).alias("skew_qty"),
        F.round("med", 6).alias("median_qty"),
    )


@register(
    "mode_argminmax_suite",
    category="aggregates",
    doc="Deterministic mode + arg-min/arg-max per group: built-in mode() is "
    "tie-arbitrary on BOTH engines, so the mode is a count aggregate plus a "
    "rank window with a total-order tiebreak; first/last order ids use "
    "min_by/max_by (arg_min/arg_max) on a composite days*grid+key sort key "
    "that stays unique and overflow-safe at fact scale.",
    oracle="""
WITH counted AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS c
  FROM orders GROUP BY 1, 2
),
ranked AS (
  SELECT o_orderpriority, o_orderstatus, c,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY c DESC, o_orderstatus ASC) AS rn
  FROM counted
),
ends AS (
  SELECT o_orderpriority,
         arg_min(o_orderkey,
                 date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
                 * 10000000000 + o_orderkey) AS first_orderkey,
         arg_max(o_orderkey,
                 date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
                 * 10000000000 + o_orderkey) AS last_orderkey
  FROM orders GROUP BY 1
)
SELECT r.o_orderpriority, r.o_orderstatus AS mode_status, r.c AS mode_count,
       e.first_orderkey, e.last_orderkey
FROM ranked r JOIN ends e USING (o_orderpriority)
WHERE r.rn = 1
""",
)
def mode_argminmax_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    counted = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("c"), F.asc("o_orderstatus")
    )
    ranked = (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            F.col("c").alias("mode_count"),
        )
    )
    skey = (
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).cast(
            "bigint"
        )
        * F.lit(10000000000)
        + F.col("o_orderkey")
    )
    ends = orders.groupBy("o_orderpriority").agg(
        F.min_by("o_orderkey", skey).alias("first_orderkey"),
        F.max_by("o_orderkey", skey).alias("last_orderkey"),
    )
    return ranked.join(ends, "o_orderpriority").select(
        "o_orderpriority", "mode_status", "mode_count", "first_orderkey", "last_orderkey"
    )


@register(
    "chi_square_independence",
    category="aggregates",
    doc="Chi-square independence statistic between market segment and order "
    "priority, computed from the exact contingency table: chi2 = "
    "Σ (O - E)² / E with E = row_total * col_total / N. All counts are "
    "integers, E and the statistic derive from identical IEEE arithmetic "
    "on both engines; per-cell terms quantize to a 1e-9 integer grid before the sum. Three small aggregates + one "
    "broadcast-joined grid; the classic feature-dependence screen.",
    oracle="""
WITH joined AS (
  SELECT c_mktsegment AS seg, o_orderpriority AS pri
  FROM orders JOIN customer ON o_custkey = c_custkey
),
obs AS (SELECT seg, pri, COUNT(*) AS o FROM joined GROUP BY seg, pri),
rows_t AS (SELECT seg, COUNT(*) AS rt FROM joined GROUP BY seg),
cols_t AS (SELECT pri, COUNT(*) AS ct FROM joined GROUP BY pri),
n AS (SELECT COUNT(*) AS total FROM joined)
SELECT CAST(SUM(CAST(floor( (o - CAST(rt AS DOUBLE) * ct / total)
                           * (o - CAST(rt AS DOUBLE) * ct / total)
                           / (CAST(rt AS DOUBLE) * ct / total)
                           * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000000.0 AS chi2,
       CAST((COUNT(DISTINCT obs.seg) - 1) * (COUNT(DISTINCT obs.pri) - 1) AS BIGINT)
         AS dof
FROM obs
JOIN rows_t USING (seg)
JOIN cols_t USING (pri)
CROSS JOIN n
""",
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
    )
    obs = joined.groupBy("seg", "pri").agg(F.count(F.lit(1)).alias("o"))
    rows_t = joined.groupBy("seg").agg(F.count(F.lit(1)).alias("rt"))
    cols_t = joined.groupBy("pri").agg(F.count(F.lit(1)).alias("ct"))
    n = joined.agg(F.count(F.lit(1)).alias("total"))
    e = F.col("rt").cast("double") * F.col("ct") / F.col("total")
    return (
        obs.join(F.broadcast(rows_t), "seg")
        .join(F.broadcast(cols_t), "pri")
        .crossJoin(F.broadcast(n))
        .agg(
            (
                F.sum(
                    F.floor(
                        (F.col("o") - e) * (F.col("o") - e) / e * 1000000000 + 0.5
                    ).cast("long")
                ).cast("double")
                / 1000000000.0
            ).alias("chi2"),
            (
                (F.count_distinct("seg") - 1) * (F.count_distinct("pri") - 1)
            ).cast("bigint").alias("dof"),
        )
    )


# ---------------------------------------------------------------------------
# Sampling-based approximate query (AQP) with accuracy audit
# ---------------------------------------------------------------------------

AQP_PCT = 10  # deterministic 1-in-10 sample


@register(
    "approx_revenue_sampled",
    category="aggregates",
    doc=f"Approximate query processing: total revenue estimated from a "
    f"deterministic md5 {AQP_PCT}% row sample (Horvitz-Thompson scale-up), "
    "audited against the exact total in the same query. The sample "
    "predicate is a pushed-down hash filter — at 100 TB the approximate "
    "path reads every block but decodes/aggregates a tenth of the rows, "
    "and the md5 keying makes the 'random' sample reproducible across "
    "engines, runs and partitionings (no TABLESAMPLE nondeterminism). "
    "Estimate and relative error are decimal-exact.",
    oracle=f"""
WITH r AS (
  SELECT CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev,
         ('0x' || substr(md5('smp:' || CAST(l_orderkey AS VARCHAR) || ':'
                              || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
           % {AQP_PCT} = 0 AS in_sample
  FROM lineitem
)
SELECT CAST(COUNT(*) FILTER (WHERE in_sample) AS BIGINT) AS n_sample,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(rev) FILTER (WHERE in_sample) * {AQP_PCT} AS DOUBLE)
         AS est_revenue,
       CAST(SUM(rev) AS DOUBLE) AS true_revenue,
       round(CAST(SUM(rev) FILTER (WHERE in_sample) * {AQP_PCT} AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE) - 1, 6) AS rel_err
FROM r
""",
)
def approx_revenue_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.similarity import hash_hex

    li = table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    in_sample = (
        hash_hex(
            F.concat(
                F.lit("smp:"),
                F.col("l_orderkey").cast("string"),
                F.lit(":"),
                F.col("l_linenumber").cast("string"),
            )
        )
        % AQP_PCT
        == 0
    )
    agg = li.select(rev.alias("rev"), in_sample.alias("in_sample")).agg(
        F.count(F.when(F.col("in_sample"), 1)).alias("n_sample"),
        F.count(F.lit(1)).alias("n_total"),
        (
            F.sum(F.when(F.col("in_sample"), F.col("rev"))) * AQP_PCT
        ).cast("double").alias("est_revenue"),
        F.sum("rev").cast("double").alias("true_revenue"),
    )
    return agg.select(
        "n_sample",
        "n_total",
        "est_revenue",
        "true_revenue",
        F.round(F.col("est_revenue") / F.col("true_revenue") - 1, 6).alias("rel_err"),
    )


@register(
    "heavy_hitters_topk",
    category="sketch",
    doc="Heavy hitters via approx_top_k (Spark 4.1 frequent-items sketch): "
    "a deterministic Zipf-ish key (floor(sqrt(o_orderkey mod 10000)) — "
    "value v covers 2v+1 residues, so frequency grows with v) is sketched "
    "for its top 10; the sketch result is then AUDITED against the exact "
    "groupBy: every sketched item must carry its exact count and sit in "
    "the exact top-10 (items tracked ≥ distinct values ⇒ the sketch's "
    "counts are exact by construction; the audit would catch a tie-break "
    "or eviction drift). The mergeable-sketch path is what survives "
    "100 TB — partials combine associatively like the HLL/CMS siblings.",
    oracle="""
WITH keyed AS (
  SELECT CAST(floor(sqrt(o_orderkey % 10000)) AS INT) AS item FROM orders
),
exact AS (
  SELECT item, COUNT(*) AS exact_cnt,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, item) AS rnk
  FROM keyed GROUP BY item
)
SELECT item, exact_cnt,
       TRUE AS sketch_count_exact,
       TRUE AS in_exact_topk
FROM exact WHERE rnk <= 10
""",
)
def heavy_hitters_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyed = table(spark, sf_dir, "orders").select(
        F.floor(F.sqrt(F.col("o_orderkey") % 10000)).cast("int").alias("item")
    )
    sketch = keyed.select(
        F.explode(F.expr("approx_top_k(item, 10, 10000)")).alias("e")
    ).select(F.col("e.item").alias("item"), F.col("e.count").alias("sketch_cnt"))
    exact = keyed.groupBy("item").agg(F.count(F.lit(1)).alias("exact_cnt"))
    w = Window.orderBy(F.desc("exact_cnt"), F.asc("item"))
    exact_topk = exact.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= 10
    )
    return (
        sketch.join(exact, "item", "left")
        .join(exact_topk.select("item", "rnk"), "item", "left")
        .select(
            "item",
            "exact_cnt",
            (F.col("sketch_cnt") == F.col("exact_cnt")).alias("sketch_count_exact"),
            F.col("rnk").isNotNull().alias("in_exact_topk"),
        )
    )
