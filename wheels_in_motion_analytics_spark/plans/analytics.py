"""Composed analytics queries over the star schema: dashboard-grade
multi-operator pipelines (join + filter + agg + top-k in one plan), the
serving-layer workload a user of the reference runs via BigQuery/Looker
(README.md:242-252), expressed directly on the engine.

Each tile is ONE SQL statement over the session's star views
(``tables.star_sql``), mirroring its DuckDB oracle. Building it costs a
handful of py4j round trips; the same plan through the ``Column`` API
cost 100-800. The physical recipe lives in the SQL:

* ``/*+ BROADCAST(...) */`` names only bounded dims (region, nation,
  supplier, part; ``tables.BROADCASTABLE``). ``orders`` and ``customer``
  are fact-scaled, so their joins carry NO hint and the optimizer picks by
  measured size: broadcast at test scale, shuffle + AQE at 100 TB.
* The FROM clause lists the joins in build order (fact first); Spark does
  not reorder them without CBO, so the hints land where written.
* Float sums and averages accumulate in decimal
  (``compat.oracle_dsum``/``oracle_davg``, the SQL form of ``dsum``/
  ``davg``); top-k orders are total (tiebreak on the group key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from wheels_in_motion_analytics_spark.compat import oracle_davg, oracle_dsum
from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import star_sql

REVENUE = "l_extendedprice * (1 - l_discount)"


@register(
    "top_unshipped_orders",
    category="plans",
    doc="TPC-H Q3 shape: highest-revenue orders in a segment/date corridor "
    "(filter both sides before the join; broadcast the filtered dim).",
    oracle="""
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
)
def top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, f"""
SELECT l_orderkey, {oracle_dsum(REVENUE)} AS revenue, o_orderdate
FROM {{lineitem}}
JOIN {{orders}}   ON l_orderkey = o_orderkey
JOIN {{customer}} ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP_NTZ '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP_NTZ '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""")


@register(
    "returned_item_customers",
    category="plans",
    doc="TPC-H Q10 shape: revenue lost to returns per customer, top 20.",
    oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS lost_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT 20
""",
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, f"""
SELECT /*+ BROADCAST(nation) */
       c_custkey, c_name, n_name, {oracle_dsum(REVENUE)} AS lost_revenue
FROM {{lineitem}}
JOIN {{orders}}        ON l_orderkey = o_orderkey
JOIN {{customer}}      ON o_custkey = c_custkey
JOIN {{nation}} nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT 20
""")


@register(
    "regional_market_share",
    category="plans",
    doc="TPC-H Q8 shape: one supplier nation's revenue share per year within "
    "a region — conditional agg over the full star.",
    oracle="""
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_7'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                     AS DECIMAL(18,4))) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS market_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA'
GROUP BY 1
""",
)
def regional_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation_rev = f"CASE WHEN n2.n_name = 'NATION_7' THEN {REVENUE} ELSE 0 END"
    return star_sql(spark, sf_dir, f"""
SELECT /*+ BROADCAST(n1, region, supplier, n2) */
       CAST(year(o_orderdate) AS INT) AS order_year,
       {oracle_dsum(nation_rev)} / {oracle_dsum(REVENUE)} AS market_share
FROM {{lineitem}}
JOIN {{orders}}            ON l_orderkey = o_orderkey
JOIN {{customer}}          ON o_custkey = c_custkey
JOIN {{nation}} n1         ON c_nationkey = n1.n_nationkey
JOIN {{region}} region     ON n1.n_regionkey = r_regionkey
JOIN {{supplier}} supplier ON l_suppkey = s_suppkey
JOIN {{nation}} n2         ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA'
GROUP BY 1
""")


@register(
    "priority_shipping_summary",
    category="plans",
    doc="TPC-H Q12 shape: per order-priority, count of critical vs "
    "non-critical line items shipped in a date corridor (conditional "
    "counts over a single join).",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS finished_items,
       COUNT(*) FILTER (WHERE o_orderstatus <> 'F') AS open_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderpriority
""",
)
def priority_shipping_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS finished_items,
       COUNT(*) FILTER (WHERE o_orderstatus <> 'F') AS open_items
FROM {lineitem}
JOIN {orders} ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP_NTZ '1998-01-01 00:00:00'
GROUP BY o_orderpriority
""")


@register(
    "pricing_summary_report",
    category="plans",
    doc="TPC-H Q1 shape: the canonical pricing-summary scan-heavy aggregate "
    "— one full pass over lineitem, grouped by the two status flags, eight "
    "aggregates at once. Pure map-side-combinable agg: at 100 TB this is a "
    "scan + partial agg + tiny final shuffle (9 groups), the best possible "
    "plan shape. All float sums/avgs decimal-accumulated (compat.py).",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {oracle_dsum('l_quantity')} AS sum_qty,
       {oracle_dsum('l_extendedprice')} AS sum_base_price,
       {oracle_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000 + 0.5)
                     AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_charge,
       {oracle_davg('l_quantity')} AS avg_qty,
       {oracle_davg('l_extendedprice')} AS avg_price,
       {oracle_davg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 3-factor product carries enough float precision that the two
    # engines' double->DECIMAL(18,4) casts round a few rows differently;
    # quantize to an exact integer grid instead (floor(x+0.5) — identical
    # IEEE ops on both engines; see functions/udfs.py grouped_map_demean).
    return star_sql(spark, sf_dir, f"""
SELECT l_returnflag, l_linestatus,
       {oracle_dsum('l_quantity')} AS sum_qty,
       {oracle_dsum('l_extendedprice')} AS sum_base_price,
       {oracle_dsum(REVENUE)} AS sum_disc_price,
       CAST(SUM(CAST(FLOOR({REVENUE} * (1 + l_tax) * 10000 + 0.5)
                     AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_charge,
       {oracle_davg('l_quantity')} AS avg_qty,
       {oracle_davg('l_extendedprice')} AS avg_price,
       {oracle_davg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM {{lineitem}}
WHERE l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")


@register(
    "promo_revenue_share",
    category="plans",
    doc="TPC-H Q14 shape: PROMO parts' share of revenue in one month — "
    "conditional decimal-sum ratio.",
    oracle="""
SELECT CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                AS DECIMAL(18,4))) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
       AS promo_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
""",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    promo_rev = f"CASE WHEN p_type = 'PROMO' THEN {REVENUE} ELSE 0 END"
    return star_sql(spark, sf_dir, f"""
SELECT /*+ BROADCAST(part) */
       {oracle_dsum(promo_rev)} / {oracle_dsum(REVENUE)} AS promo_share
FROM {{lineitem}}
JOIN {{part}} part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP_NTZ '1997-06-01 00:00:00'
  AND l_shipdate <  TIMESTAMP_NTZ '1997-07-01 00:00:00'
""")
