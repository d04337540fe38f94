"""Targeted pins for the round-4 modern-surface additions: SQL pipe syntax,
single-pass Observation metrics as a registry query, and the state-store
batch reader."""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_SMALL
from wheels_in_motion_analytics_spark.functions.integrity import (
    observe_dq_single_pass,
)
from wheels_in_motion_analytics_spark.functions.sql_surface import (
    sql_pipe_syntax_report,
)
from wheels_in_motion_analytics_spark.streaming.state_reader import (
    stream_state_store_read,
)
from wheels_in_motion_analytics_spark.tables import star_sql, table


def test_pipe_syntax_compiles_to_same_plan_as_ansi(spark):
    """Pipe operators are parser surface only — the optimized plan must be
    the one the ANSI rendering produces (pushed filter, hash agg, post-agg
    filter), so pushdown/codegen are unaffected by the dialect choice."""
    piped = sql_pipe_syntax_report(spark, SF_SMALL)
    table(spark, SF_SMALL, "lineitem").createOrReplaceTempView("pipe_lineitem")
    ansi = spark.sql("""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(net_cents) AS DOUBLE) / 100.0 AS net_revenue
FROM (
  SELECT *, CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
       AS net_cents
  FROM pipe_lineitem
  WHERE l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'
)
GROUP BY l_returnflag, l_linestatus
HAVING COUNT(*) > 100
""")
    assert piped.schema == ansi.schema
    # physical plans match modulo plan ids
    import re

    def canon_plan(df):
        p = df._jdf.queryExecution().executedPlan().toString()
        p = re.sub(r"#\d+L?", "#x", p)
        return re.sub(r"plan_id=\d+", "plan_id=x", p)

    assert canon_plan(piped) == canon_plan(ansi)
    # and the pushed filter reached the scan
    explained = piped._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in explained


def test_observe_metrics_equal_relational_audit(spark):
    got = {r[0]: r for r in [tuple(observe_dq_single_pass(spark, SF_SMALL).collect()[0])]}
    row = next(iter(got.values()))
    orders = table(spark, SF_SMALL, "orders")
    expect = orders.agg(
        F.count(F.lit(1)),
        F.sum(F.col("o_totalprice").isNull().cast("bigint")),
        F.min("o_orderkey"),
        F.max("o_orderkey"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")),
    ).collect()[0]
    assert row == tuple(expect)


def test_sql_scalar_udf_inlines_into_plan(spark):
    """The SQL UDF body must be inlined by Catalyst: no Python eval node in
    the physical plan, and results identical to the inline-arithmetic twin."""
    from wheels_in_motion_analytics_spark.functions.modern_sql import (
        sql_scalar_udf_net_revenue,
    )

    df = sql_scalar_udf_net_revenue(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    disc = F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint")
    twin = (
        table(spark, SF_SMALL, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(((cents * (100 - disc)) / F.lit(100)).cast("bigint")).alias(
                "net_cents_total"
            ),
        )
    )
    got = {tuple(r) for r in df.collect()}
    want = {tuple(r) for r in twin.collect()}
    assert got == want


def test_variant_extract_equals_from_json(spark):
    """variant_get typed-path extraction agrees with from_json under a
    declared schema on the same props column."""
    from wheels_in_motion_analytics_spark.functions.modern_sql import (
        variant_extract_event_props,
    )

    got = {r["event_type"]: r["sum_k"] for r in variant_extract_event_props(spark, SF_SMALL).collect()}
    ev = table(spark, SF_SMALL, "events")
    want = {
        r["event_type"]: r["sum_k"]
        for r in ev.select(
            "event_type", F.from_json("props", "k BIGINT").alias("j")
        )
        .groupBy("event_type")
        .agg(F.sum("j.k").alias("sum_k"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_session_variable_filter_pushes_down(spark):
    """Variables bind as literals, so the window filter must reach the
    parquet scan as a pushed filter."""
    from wheels_in_motion_analytics_spark.functions.modern_sql import (
        session_variable_dynamic_window,
    )

    df = session_variable_dynamic_window(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderdate" in plan


def test_table_udf_spine_reports_empty_brackets(spark):
    from wheels_in_motion_analytics_spark.functions.modern_sql import (
        sql_table_udf_price_brackets,
    )

    rows = sql_table_udf_price_brackets(spark, SF_SMALL).collect()
    assert sorted(r["bracket"] for r in rows) == list(range(10))
    total = sum(r["n_orders"] for r in rows)
    assert total == table(spark, SF_SMALL, "orders").count()


def test_listagg_roster_matches_sorted_collect(spark):
    from wheels_in_motion_analytics_spark.functions.modern_sql import (
        listagg_nation_supplier_roster,
    )

    got = {
        r["n_name"]: r["roster"]
        for r in listagg_nation_supplier_roster(spark, SF_SMALL).collect()
    }
    twin = (
        table(spark, SF_SMALL, "supplier")
        .join(table(spark, SF_SMALL, "nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias("roster"))
    )
    want = {r["n_name"]: r["roster"] for r in twin.collect()}
    assert got == want and len(got) > 0


def test_sql_sugar_suite_matches_spelled_out_ansi(spark):
    """GROUP BY ALL / ORDER BY ALL / lateral aliases / IDENTIFIER() are
    parser surface only: results must equal the fully spelled-out query."""
    from wheels_in_motion_analytics_spark.functions.modern_sql import sql_sugar_suite

    got = {tuple(r) for r in sql_sugar_suite(spark, SF_SMALL).collect()}
    want = {
        tuple(r)
        for r in star_sql(
            spark,
            SF_SMALL,
            """
SELECT o_orderpriority,
       CAST(least((CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DIV 100)
                  DIV 50000, 5) AS BIGINT) AS bracket,
       COUNT(*) AS n_orders,
       SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents_total
FROM {orders}
GROUP BY o_orderpriority, bracket
"""
        ).collect()
    }
    assert got == want and len(got) > 0


def test_hll_intersection_verdict_and_exacts(spark):
    from wheels_in_motion_analytics_spark.functions.sql_surface import (
        hll_intersection_inclusion_exclusion,
    )

    row = hll_intersection_inclusion_exclusion(spark, SF_SMALL).collect()[0]
    orders = table(spark, SF_SMALL, "orders")
    a = {
        r[0]
        for r in orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
        .collect()
    }
    b = {
        r[0]
        for r in orders.where(F.col("o_orderpriority") == "2-HIGH")
        .select("o_custkey")
        .distinct()
        .collect()
    }
    assert row["exact_a"] == len(a)
    assert row["exact_b"] == len(b)
    assert row["exact_union"] == len(a | b)
    assert row["exact_intersection"] == len(a & b)
    assert row["inter_within_band"] is True


def test_state_store_read_equals_batch_groupby(spark):
    state_counts = {
        r["user_id"]: r["n_events"]
        for r in stream_state_store_read(spark, SF_SMALL).collect()
    }
    batch = {
        r["user_id"]: r["n"]
        for r in table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert state_counts == batch
    assert len(state_counts) > 0


def test_transpose_region_metrics_shape_and_values(spark):
    """transpose() must be the exact flip of the 5-row metrics relation."""
    from wheels_in_motion_analytics_spark.registry import load_all_queries

    rows = load_all_queries()["transpose_region_metrics"].fn(spark, SF_SMALL).collect()
    assert [r["key"] for r in rows] == ["n_orders", "revenue_cents", "n_customers"]
    cols = rows[0].asDict().keys()
    assert sorted(c for c in cols if c != "key") == [
        "AFRICA",
        "AMERICA",
        "ASIA",
        "EUROPE",
        "MIDDLE EAST",
    ]
    # row sums equal the untransposed totals
    orders = table(spark, SF_SMALL, "orders")
    n_orders = orders.count()
    got_n = sum(v for k, v in rows[0].asDict().items() if k != "key")
    assert got_n == n_orders
