"""Advanced relational surface (§2b completeness): pivot/unpivot, subquery
forms (scalar / IN / correlated EXISTS), lateral explode, regression/corr
aggregates, and a salted skew join.

Scale notes: pivot with an explicit value list is a single partial+final agg
(no second pass to discover values — always pass the list at 100 TB). The
salted join is the manual skew remedy for when AQE's runtime splitting isn't
available (streaming joins, forced shuffle strategies): explode the build
side S ways, salt the probe side, join on (key, salt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.compat import oracle_dsum
from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import star_sql, table

ORDER_STATUSES = ["F", "O", "P"]


@register(
    "pivot_status_by_priority",
    category="advanced",
    doc="PIVOT: order counts, priorities × statuses (explicit value list — "
    "no discovery scan).",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
FROM orders
GROUP BY o_orderpriority
""",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ORDER_STATUSES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, ORDER_STATUSES)
    )


@register(
    "unpivot_weather_measures",
    category="advanced",
    doc="UNPIVOT/melt: wide numeric columns to (key, measure, value) rows.",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
""",
)
def unpivot_weather_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "lineitem").unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "value",
    )


@register(
    "scalar_subquery_above_avg",
    category="advanced",
    doc="Scalar subquery: orders above the global average price (the "
    "average is decimal-accumulated on both engines).",
    oracle=f"""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT {oracle_dsum('o_totalprice')} / COUNT(*) FROM orders)
""",
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, f"""
SELECT o_orderkey, o_totalprice
FROM {{orders}}
WHERE o_totalprice > (SELECT {oracle_dsum('o_totalprice')} / COUNT(*) FROM {{orders}})
""")


@register(
    "correlated_exists_subquery",
    category="advanced",
    doc="Correlated EXISTS with an extra predicate: customers having a "
    "high-value urgent order.",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderpriority = '1-URGENT'
    AND o.o_totalprice > 150000
)
""",
)
def correlated_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, """
SELECT c_custkey, c_name
FROM {customer} c
WHERE EXISTS (
  SELECT 1 FROM {orders} o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderpriority = '1-URGENT'
    AND o.o_totalprice > 150000
)
""")


@register(
    "in_subquery_hot_parts",
    category="advanced",
    doc="IN subquery (NULL-free key — planned as a left semi join).",
    oracle="""
SELECT l_orderkey, l_partkey, l_quantity
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
""",
)
def in_subquery_hot_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, """
SELECT l_orderkey, l_partkey, l_quantity
FROM {lineitem}
WHERE l_partkey IN (SELECT p_partkey FROM {part} WHERE p_size > 40)
""")


@register(
    "lateral_explode_tokens",
    category="advanced",
    doc="LATERAL VIEW posexplode: tokenized document words with positions "
    "(the flatMap shape every text op builds on).",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
  FROM documents
)
SELECT doc_id,
       CAST(unnest(range(1, len(ws) + 1)) - 1 AS INTEGER) AS pos,
       unnest(ws) AS tok
FROM toks
""",
)
def lateral_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.text import tokens

    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens(F.col("text")).alias("ws"))
        # posexplode_outer, not posexplode: the non-outer form makes the
        # optimizer infer a size()>0 filter that inlines the tokenizer a
        # second (and third) time below the Generate (see ngram_bigram_topk)
        .select("doc_id", F.posexplode_outer("ws").alias("pos", "tok"))
        .where(F.col("tok").isNotNull())
    )


@register(
    "regression_corr_agg",
    category="advanced",
    doc="Bivariate aggregates: regr_slope/intercept + corr of price vs "
    "quantity per return flag (rounded — both engines use streaming "
    "covariance).",
    oracle="""
SELECT l_returnflag,
       ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       ROUND(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr
FROM lineitem
GROUP BY l_returnflag
""",
)
def regression_corr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
            F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
        )
    )


@register(
    "array_set_ops",
    category="advanced",
    doc="Array set algebra: intersect/union/except + sort over per-group "
    "collected keys.",
    oracle="""
WITH f AS (
  SELECT o_orderpriority, list_sort(list(DISTINCT o_custkey)) AS f_keys
  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority
),
o AS (
  SELECT o_orderpriority, list_sort(list(DISTINCT o_custkey)) AS o_keys
  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_orderpriority
)
SELECT f.o_orderpriority,
       CAST(len(list_intersect(f_keys, o_keys)) AS INTEGER) AS n_both,
       CAST(len(list_distinct(list_concat(f_keys, o_keys))) AS INTEGER) AS n_either,
       CAST(len(list_filter(f_keys, k -> NOT list_contains(o_keys, k))) AS INTEGER) AS n_only_f
FROM f JOIN o ON f.o_orderpriority = o.o_orderpriority
""",
)
def array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    f_side = (
        orders.where(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(F.sort_array(F.collect_set("o_custkey")).alias("f_keys"))
    )
    o_side = (
        orders.where(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(F.sort_array(F.collect_set("o_custkey")).alias("o_keys"))
    )
    return (
        f_side.join(o_side, "o_orderpriority")
        .select(
            "o_orderpriority",
            F.size(F.array_intersect("f_keys", "o_keys")).alias("n_both"),
            F.size(F.array_union("f_keys", "o_keys")).alias("n_either"),
            F.size(F.array_except("f_keys", "o_keys")).alias("n_only_f"),
        )
    )


SALT_BUCKETS = 8


def salted_join(
    big: DataFrame, small: DataFrame, key: str, buckets: int = SALT_BUCKETS,
    keep_salt: bool = False,
) -> DataFrame:
    """Skew-safe equi-join: replicate the small side across ``buckets`` salt
    values, salt the big side randomly-but-deterministically (hash of the
    full row), join on (key, salt). Result is identical to a plain join;
    the hot key's rows spread over ``buckets`` join tasks.
    ``keep_salt=True`` retains ``__salt`` for inspection/tests."""
    salted_small = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    salted_big = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*big.columns), F.lit(buckets)).cast("int")
    )
    joined = salted_big.join(salted_small, [key, "__salt"])
    return joined if keep_salt else joined.drop("__salt")


@register(
    "salted_skew_join",
    category="advanced",
    doc=f"Salted join ({SALT_BUCKETS} buckets): result must equal the plain "
    "join — the manual skew remedy when AQE can't re-plan (oracle: the "
    "plain join).",
    oracle="""
SELECT l_orderkey, l_extendedprice, o_orderpriority
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
""",
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_orderkey", "l_extendedprice"
    )
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    return salted_join(li, orders, "k").select(
        "l_orderkey", "l_extendedprice", "o_orderpriority"
    )

# ---------------------------------------------------------------------------
# Pareto frontier (2-D skyline) — window formulation, no dominance self-join
# ---------------------------------------------------------------------------


@register(
    "pareto_frontier_parts",
    category="advanced",
    doc="2-D skyline: parts Pareto-optimal on (maximize p_size, minimize "
    "p_retailprice). Instead of the quadratic dominance self-join, reduce "
    "to the per-size min-price grain (tiny — |distinct sizes| rows), take "
    "a running min over strictly-larger sizes (RANGE frame), and keep "
    "grain rows strictly cheaper than everything larger; frontier parts "
    "re-attach by broadcast semi-join. Exact integer/cent comparisons.",
    oracle="""
WITH g AS (
  SELECT p_size, MIN(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
           AS min_cents
  FROM part GROUP BY p_size
),
r AS (
  SELECT p_size, min_cents,
         MIN(min_cents) OVER (ORDER BY p_size
              RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS best_larger
  FROM g
),
front AS (
  SELECT p_size, min_cents FROM r
  WHERE best_larger IS NULL OR min_cents < best_larger
)
SELECT p.p_partkey, p.p_size,
       CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT) AS cents
FROM part p JOIN front f
  ON p.p_size = f.p_size
 AND CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT) = f.min_cents
""",
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cents = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("bigint")
    parts = table(spark, sf_dir, "part").select(
        "p_partkey", "p_size", cents.alias("cents")
    )
    g = parts.groupBy("p_size").agg(F.min("cents").alias("min_cents"))
    w = Window.orderBy("p_size").rangeBetween(1, Window.unboundedFollowing)
    front = (
        g.withColumn("best_larger", F.min("min_cents").over(w))
        .where(
            F.col("best_larger").isNull()
            | (F.col("min_cents") < F.col("best_larger"))
        )
        # rename to break the self-derived lineage ambiguity
        .select(F.col("p_size").alias("f_size"), F.col("min_cents").alias("f_cents"))
    )
    return parts.join(
        F.broadcast(front),
        (F.col("p_size") == F.col("f_size")) & (F.col("cents") == F.col("f_cents")),
    ).select("p_partkey", "p_size", "cents")
