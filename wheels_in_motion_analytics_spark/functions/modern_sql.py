"""Spark 4 modern SQL surface: VARIANT semi-structured extraction, SQL
scalar/table UDFs, session variables + EXECUTE IMMEDIATE, and listagg.

The reference exposes its query surface through a SQL endpoint
(/root/reference/README.md serving/BI layer); these queries cover the
Spark-4-era SQL features a user migrating that surface would reach for:

* ``parse_json``/``variant_get`` — the open VARIANT type for
  semi-structured columns (events.props is a JSON string in the testdata).
  At 100 TB variant beats from_json-with-declared-schema when the schema
  drifts: the binary encoding is parsed once at scan time and typed paths
  are extracted without a full re-parse per access.
* SQL scalar UDFs (CREATE FUNCTION ... RETURN expr) — declarative
  user functions that Catalyst INLINES into the plan (no Python worker,
  no serialization wall; the function body participates in codegen and
  pushdown, unlike every Python UDF tier in functions/udfs.py).
* SQL table UDFs (RETURNS TABLE) — parameterized view-shaped functions;
  the dimension-spine generator here is the SQL twin of the recursive-CTE
  calendar spine in functions/sql_surface.py.
* Session variables (DECLARE VARIABLE / SET VAR) + EXECUTE IMMEDIATE —
  the dynamic-SQL surface: variables bind as typed literals, so the
  planner still constant-folds and pushes them into scans.
* ``listagg(...) WITHIN GROUP (ORDER BY ...)`` — the ANSI ordered string
  aggregate (Spark 4.0+); deterministic because the order-by key is
  unique per group.

Star tables are read through ``tables.star_sql`` (session views kept per
table file); all other state (functions, variables) is created OR REPLACE
inside the callables — vanilla-driver-session safe and idempotent across
reruns.

Determinism: money math on integer cents (floor(x*100 + 0.5) — identical
IEEE ops in Spark and DuckDB); BIGINT sums CAST back from DuckDB HUGEINT
in the oracles (NOTES.md dialect rule).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import star_sql, table


@register(
    "variant_extract_event_props",
    category="functions",
    doc="VARIANT semi-structured extraction: parse events.props (a JSON "
    "string) once into a VARIANT, then pull typed paths with variant_get / "
    "try_variant_get and inspect per-value schemas with schema_of_variant. "
    "The missing-path probe demonstrates try_variant_get's NULL (not error) "
    "contract. Scan + map-side-combinable agg — one pass, no Python.",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       COUNT(*) - COUNT(json_extract_string(props, '$.missing')) AS n_missing_path,
       'OBJECT<k: BIGINT>' AS variant_schema
FROM events
GROUP BY event_type
""",
)
def variant_extract_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "props")
    v = F.parse_json("props")
    parsed = ev.select(
        "event_type",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.missing", "bigint").alias("missing"),
        F.schema_of_variant(v).alias("vschema"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        (F.count(F.lit(1)) - F.count("missing")).alias("n_missing_path"),
        F.min("vschema").alias("variant_schema"),
    )


@register(
    "sql_scalar_udf_net_revenue",
    category="functions",
    doc="SQL scalar UDF (CREATE FUNCTION ... RETURN expr): net-revenue "
    "cents per line via a declared function that Catalyst inlines into the "
    "plan — the declarative-UDF tier that keeps whole-stage codegen intact "
    "(contrast python_udf_row_at_a_time). Integer-cents math throughout; "
    "the oracle inlines the same arithmetic (DuckDB has no SQL UDF DDL "
    "in-dialect here).",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       CAST(SUM((CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                 * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) // 100)
            AS BIGINT) AS net_cents_total
FROM lineitem
GROUP BY l_returnflag
""",
)
def sql_scalar_udf_net_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        """
CREATE OR REPLACE TEMPORARY FUNCTION modernsql_net_cents(price_cents BIGINT, disc_pct BIGINT)
RETURNS BIGINT
RETURN (price_cents * (100 - disc_pct)) DIV 100
"""
    )
    return star_sql(spark, sf_dir, """
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       SUM(modernsql_net_cents(
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT),
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS net_cents_total
FROM {lineitem}
GROUP BY l_returnflag
""")


@register(
    "sql_table_udf_price_brackets",
    category="functions",
    doc="SQL table UDF (CREATE FUNCTION ... RETURNS TABLE): a parameterized "
    "bracket-spine generator joined LEFT to the orders rollup, so empty "
    "price brackets report as zero rows instead of vanishing — the "
    "table-function twin of the recursive-CTE calendar spine. The spine is "
    "10 rows; only the 10-group rollup shuffles.",
    oracle="""
WITH spine AS (SELECT unnest(generate_series(0, 9)) AS bracket),
agg AS (
  SELECT least(CAST(floor(o_totalprice) AS BIGINT) // 50000, 9) AS bracket,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents_total
  FROM orders
  GROUP BY 1
)
SELECT s.bracket,
       COALESCE(a.n_orders, 0) AS n_orders,
       COALESCE(a.cents_total, 0) AS cents_total
FROM spine s LEFT JOIN agg a ON s.bracket = a.bracket
""",
)
def sql_table_udf_price_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        """
CREATE OR REPLACE TEMPORARY FUNCTION modernsql_brackets(lo BIGINT, hi BIGINT)
RETURNS TABLE(bracket BIGINT)
RETURN SELECT explode(sequence(lo, hi)) AS bracket
"""
    )
    return star_sql(spark, sf_dir, """
WITH agg AS (
  SELECT least(CAST(floor(o_totalprice) AS BIGINT) DIV 50000, 9L) AS bracket,
         COUNT(*) AS n_orders,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents_total
  FROM {orders}
  GROUP BY 1
)
SELECT s.bracket,
       COALESCE(a.n_orders, 0L) AS n_orders,
       COALESCE(a.cents_total, 0L) AS cents_total
FROM modernsql_brackets(0, 9) s LEFT JOIN agg a ON s.bracket = a.bracket
""")


@register(
    "session_variable_dynamic_window",
    category="functions",
    doc="Session variables + dynamic SQL: DECLARE VARIABLE / SET VAR bind a "
    "reporting window, EXECUTE IMMEDIATE ... USING runs the parameterized "
    "report with the variables as typed named parameters. Variables bind as "
    "literals in the plan, so the date filter still constant-folds and "
    "pushes into the parquet scan (PushedFilters) — dynamic SQL without "
    "losing pushdown.",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents_total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY o_orderpriority
""",
)
def session_variable_dynamic_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql("DECLARE OR REPLACE VARIABLE modernsql_win_start TIMESTAMP")
    spark.sql("DECLARE OR REPLACE VARIABLE modernsql_win_end TIMESTAMP")
    spark.sql("SET VAR modernsql_win_start = TIMESTAMP '1996-01-01 00:00:00'")
    spark.sql("SET VAR modernsql_win_end = TIMESTAMP '1996-07-01 00:00:00'")
    return star_sql(spark, sf_dir, """
EXECUTE IMMEDIATE
  'SELECT o_orderpriority,
          COUNT(*) AS n_orders,
          SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents_total
   FROM {orders}
   WHERE o_orderdate >= :win_start AND o_orderdate < :win_end
   GROUP BY o_orderpriority'
  USING (modernsql_win_start AS win_start, modernsql_win_end AS win_end)
""")


@register(
    "sql_sugar_suite",
    category="functions",
    doc="Modern SQL ergonomics in one plan: IDENTIFIER(var) resolves the "
    "table name from a session variable (dynamic identifiers without string "
    "interpolation), chained lateral column aliases derive cents -> dollars "
    "-> bracket in a single projection (each alias referencing the "
    "previous), and GROUP BY ALL / ORDER BY ALL infer the grouping and "
    "ordering from the select list. All parser/analyzer surface: the plan "
    "is the same scan + two-level hash agg as the spelled-out ANSI query, "
    "so codegen and pushdown are unchanged. Integer-cents money math.",
    oracle="""
WITH per_order AS (
  SELECT o_orderpriority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         cents // 100 AS dollars,
         CAST(least(dollars // 50000, 5) AS BIGINT) AS bracket
  FROM orders
)
SELECT o_orderpriority, bracket,
       COUNT(*) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS cents_total
FROM per_order
GROUP BY ALL
ORDER BY ALL
""",
)
def sql_sugar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql("DECLARE OR REPLACE VARIABLE modernsql_sugar_tbl STRING")
    star_sql(spark, sf_dir, "SET VAR modernsql_sugar_tbl = '{orders}'")
    return spark.sql(
        """
WITH per_order AS (
  SELECT o_orderpriority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         cents DIV 100 AS dollars,
         CAST(least(dollars DIV 50000, 5) AS BIGINT) AS bracket
  FROM IDENTIFIER(modernsql_sugar_tbl)
)
SELECT o_orderpriority, bracket,
       COUNT(*) AS n_orders,
       SUM(cents) AS cents_total
FROM per_order
GROUP BY ALL
ORDER BY ALL
"""
    )


@register(
    "listagg_nation_supplier_roster",
    category="functions",
    doc="ANSI listagg (Spark 4.0+): per-nation supplier roster as an "
    "ordered delimited string — listagg(...) WITHIN GROUP (ORDER BY ...) "
    "with a unique order key, so the result is total-order deterministic "
    "across partitionings. Broadcast dim join + 25-group agg; the roster "
    "strings are bounded by suppliers-per-nation, not table size.",
    oracle="""
SELECT n_name,
       COUNT(*) AS n_suppliers,
       string_agg(s_name, ',' ORDER BY s_name) AS roster
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""",
)
def listagg_nation_supplier_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, """
SELECT n_name,
       COUNT(*) AS n_suppliers,
       listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name) AS roster
FROM {supplier} JOIN {nation} ON s_nationkey = n_nationkey
GROUP BY n_name
""")


# ---------------------------------------------------------------------------
# SQL scripting (Spark 4) — procedural BEGIN/DECLARE/WHILE control flow
# ---------------------------------------------------------------------------


@register(
    "sql_scripting_procedural_loop",
    category="modern_sql",
    doc="Spark 4 SQL SCRIPTING surface (BEGIN ... END with DECLARE / "
    "data-dependent SET var = (subquery) / WHILE loops): a procedural "
    "break-even search — the smallest number of calendar QUARTERS from "
    "1995-01 whose cumulative revenue reaches half the all-time total "
    "(quarter grain keeps the loop ~14 driver-cheap iterations). "
    "Each loop iteration is one Catalyst-compiled aggregate (the scripting "
    "layer is control flow ONLY — the data path stays declarative and "
    "distributed; driver state is three scalars). Exact integer cents "
    "grid. The oracle states the same semantics relationally (monthly "
    "cumulative sums + first-crossing pick) — procedural and declarative "
    "must agree exactly.",
    oracle="""
WITH m AS (
  SELECT (year(o_orderdate) - 1995) * 4 + (month(o_orderdate) - 1) // 3 AS idx,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM m),
c AS (
  SELECT idx,
         CAST(SUM(cents) OVER (ORDER BY idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM m
)
SELECT CAST(c.idx + 1 AS INTEGER) AS k_quarters,
       c.cum AS cum_cents,
       t.total AS total_cents
FROM c CROSS JOIN t
WHERE 2 * c.cum >= t.total
ORDER BY c.idx
LIMIT 1
""",
)
def sql_scripting_procedural_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_sql(spark, sf_dir, """
BEGIN
  DECLARE total BIGINT;
  DECLARE cum BIGINT DEFAULT 0;
  DECLARE k INT DEFAULT 0;
  SET total = (SELECT CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               FROM {orders});
  WHILE cum * 2 < total DO
    SET k = k + 1;
    SET cum = (SELECT CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               FROM {orders}
               WHERE o_orderdate < add_months(DATE '1995-01-01', k * 3));
  END WHILE;
  SELECT k AS k_quarters, cum AS cum_cents, total AS total_cents;
END
""")


# ---------------------------------------------------------------------------
# DataFrame.transpose — the Spark 4 row<->column flip as a relational op
# ---------------------------------------------------------------------------

_TR_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


@register(
    "transpose_region_metrics",
    category="modern_sql",
    doc="Spark 4 DataFrame.transpose over a per-region metrics relation: "
    "the star join + groupBy collapses the fact table to 5 region rows x "
    "3 BIGINT metrics, then transpose() flips it to one row PER METRIC "
    "with a sorted column per region ('MIDDLE EAST' exercises "
    "space-in-identifier handling end to end). transpose is driver-"
    "bounded by construction here — it runs on the 5-row aggregate, "
    "never the fact table; the heavy work stays in the distributed "
    "star-join aggregate (region/nation broadcast). Oracle rebuilds the "
    "same shape with conditional aggregates + UNION ALL arms in "
    "original-column order.",
    oracle=f"""
WITH m AS (
  SELECT r.r_name,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
         CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name
)
SELECT 'n_orders' AS key,
       {", ".join(f'''CAST(SUM(CASE WHEN r_name = '{r}' THEN n_orders END) AS BIGINT) AS "{r}"''' for r in _TR_REGIONS)}
FROM m
UNION ALL
SELECT 'revenue_cents',
       {", ".join(f"CAST(SUM(CASE WHEN r_name = '{r}' THEN revenue_cents END) AS BIGINT)" for r in _TR_REGIONS)}
FROM m
UNION ALL
SELECT 'n_customers',
       {", ".join(f"CAST(SUM(CASE WHEN r_name = '{r}' THEN n_customers END) AS BIGINT)" for r in _TR_REGIONS)}
FROM m
""",
)
def transpose_region_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("revenue_cents"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )
    return m.transpose()
