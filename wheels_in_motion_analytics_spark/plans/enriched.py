"""Enriched star-join plan — the engine's flagship pipeline.

Re-expresses the reference's serving-layer pattern: the materialized
``journeys_enriched`` table (fact joined to every dimension, the
reference's README.md:224,321) feeding dashboard aggregations like "Rides
By Station Name" (group-count, sort desc, top-k —
images/analytics_dashboard_2.PNG). Here the star is
lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region, and each tile is one SQL
statement over the session's star views (``tables.star_sql``), as a
Looker tile is one query over the registered BigQuery tables.

Physical strategy, written as SQL hints: ``/*+ BROADCAST(...) */`` names
ONLY the bounded dimensions (region/nation — ``tables.BROADCASTABLE``).
``orders`` and ``customer`` are FACT-scaled (they grow linearly with sf;
~10^10 rows at 100 TB), so forcing a broadcast on them would OOM every
executor at scale — instead their joins carry no hint and the optimizer
picks the strategy by measured size: at test scale they still resolve to
broadcast hash joins (under the 10 MB auto-broadcast threshold), at 100 TB
they degrade gracefully to shuffle joins that AQE can re-plan (skew split,
local hash). That size-gated decision — never a forced hint on an
sf-scaling input — is the plan that survives a 100 TB fact table;
`tests/test_plan_shapes.py` (`test_no_forced_broadcast_on_fact_tables`)
pins it by disabling the auto-threshold and asserting the fact joins fall
back to shuffle joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from wheels_in_motion_analytics_spark.compat import oracle_dsum
from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import star_sql


@register(
    "star_join_enriched",
    category="joins",
    doc="J2 star join + dashboard agg: revenue and ride count per region/nation "
    "(reference README.md:224 journeys_enriched; dashboard A4 pattern).",
    oracle="""
SELECT r_name, n_name,
       COUNT(*) AS num_items,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
)
def star_join_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, f"""
SELECT /*+ BROADCAST(nation, region) */
       r_name, n_name,
       COUNT(*) AS num_items,
       {oracle_dsum("l_extendedprice * (1 - l_discount)")} AS revenue
FROM {{lineitem}}
JOIN {{orders}}        ON l_orderkey = o_orderkey
JOIN {{customer}}      ON o_custkey = c_custkey
JOIN {{nation}} nation ON c_nationkey = n_nationkey
JOIN {{region}} region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""")


@register(
    "flagship_rides_by_dim",
    category="plans",
    doc="Flagship dashboard query: 'Rides By Station Name' transposed — "
    "count per customer name over the enriched star, top 10 "
    "(images/analytics_dashboard_2.PNG, A4).",
    oracle="""
SELECT c_name, COUNT(*) AS num_rides
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_name
ORDER BY num_rides DESC, c_name ASC
LIMIT 10
""",
)
def flagship_rides_by_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fact⋈fact joins: no hint (see module docstring); deterministic top-k
    # with a tiebreak on the group key (SURVEY.md §4.3)
    return star_sql(spark, sf_dir, """
SELECT c_name, COUNT(*) AS num_rides
FROM {lineitem}
JOIN {orders}   ON l_orderkey = o_orderkey
JOIN {customer} ON o_custkey = c_custkey
GROUP BY c_name
ORDER BY num_rides DESC, c_name ASC
LIMIT 10
""")
