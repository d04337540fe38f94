"""Join operators: anti/semi (J1), band/range, as-of.

J1 is the reference's station-discovery NOT IN subquery
(/root/reference/airflow/dags/scripts/journey-data-transformation.py:110-127).
Spark-first rewrite: ``left_anti`` — NULL-safe where NOT IN silently yields
zero rows if the subquery side contains a NULL (SURVEY.md §4.3); the oracle
uses NOT EXISTS so both engines compute the declared intent.

Scale notes: anti/semi joins against a small key set become
BroadcastHashJoin(LeftAnti/LeftSemi) — no shuffle of the big side. The as-of
join avoids any cross product by being a union-tag + running-last window,
partitioned by the join key: one shuffle on the key, linear scan within, the
standard distributed as-of strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import local_frame, table


def anti_join(df: DataFrame, keys_df: DataFrame, on: list[str]) -> DataFrame:
    """Rows of ``df`` whose key is absent from ``keys_df`` (NULL-safe J1)."""
    return df.join(keys_df.select(*on), on=on, how="left_anti")


def semi_join(df: DataFrame, keys_df: DataFrame, on: list[str]) -> DataFrame:
    """Rows of ``df`` whose key is present in ``keys_df``."""
    return df.join(keys_df.select(*on), on=on, how="left_semi")


@register(
    "anti_join_new_keys",
    category="joins",
    doc="J1 discovery anti-join: customers with no orders (the 'stations seen "
    "in journeys but missing from the dim' pattern, "
    "journey-data-transformation.py:110-127).",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
""",
)
def anti_join_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return anti_join(customer, orders, ["c_custkey"]).select("c_custkey", "c_name")


@register(
    "semi_join_active_keys",
    category="joins",
    doc="Complement of J1: customers that do have orders (left_semi).",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
""",
)
def semi_join_active_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return semi_join(customer, orders, ["c_custkey"]).select("c_custkey", "c_name")


@register(
    "band_join_price_buckets",
    category="joins",
    doc="Range/band join: parts classified into price bands via an inequality "
    "join against a broadcast band table (generalizes the fact->dim_weather "
    "date-range association).",
    oracle="""
SELECT b.band, COUNT(*) AS num_parts,
       CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM part p
JOIN (VALUES ('low', 0.0, 500.0), ('mid', 500.0, 1200.0), ('high', 1200.0, 1e9)) b(band, lo, hi)
  ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
GROUP BY b.band
""",
)
def band_join_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.compat import dsum

    part = table(spark, sf_dir, "part")
    bands = local_frame(
        spark,
        [("low", 0.0, 500.0), ("mid", 500.0, 1200.0), ("high", 1200.0, 1e9)],
        "band string, lo double, hi double",
    )
    # Inequality-only join: force broadcast so Catalyst picks
    # BroadcastNestedLoopJoin over the 3-row band table instead of a
    # cartesian shuffle — the only sane physical plan at scale.
    joined = part.join(
        F.broadcast(bands),
        (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("num_parts"),
        dsum("p_retailprice").alias("total_price"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Distributed as-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` sharing ``on``.

    Strategy: tag and union both sides, then a single window pass per key
    ordered by time takes ``last(right value, ignorenulls)`` over the
    unbounded-preceding frame. One shuffle on the key; no range explosion;
    skew-safe under AQE. This is the composition-of-builtins path (no UDF).
    """
    lt = left.withColumn("__t", F.col(left_ts)).withColumn("__side", F.lit(1))
    rt = (
        right.select(on, right_ts, *right_cols)
        .withColumn("__t", F.col(right_ts))
        .withColumn("__side", F.lit(0))
    )
    merged = lt.unionByName(rt, allowMissingColumns=True)
    # Right rows sort before left rows at equal timestamps => "<=" semantics.
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__t").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged.withColumns(
        {c: F.last(F.when(F.col("__side") == 0, F.col(c)), ignorenulls=True).over(w) for c in right_cols}
    )
    return filled.where(F.col("__side") == 1).drop("__t", "__side", right_ts)


@register(
    "interval_proximity_join",
    category="joins",
    doc="Interval/theta join at scale: purchase-view pairs of the same user "
    "within 2 hours. Implemented as equi-join on coarse time buckets "
    "(each left row probes its own and the previous bucket) + residual "
    "filter — the bucketing rewrite that turns an unbounded inequality "
    "join into a hash join. Oracle: the plain inequality join.",
    oracle="""
SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts > p.ts - INTERVAL 2 HOUR
""",
)
def interval_proximity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    bucket = lambda c: (F.unix_timestamp(c) / 7200).cast("bigint")  # noqa: E731
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    views = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
        bucket(F.col("ts")).alias("v_bucket"),
    )
    # each purchase probes its bucket and the previous one — a 2-hour
    # lookback can only span two 2-hour buckets
    probes = purchases.select(
        "purchase_id",
        "user_id",
        "p_ts",
        F.explode(F.array(bucket(F.col("p_ts")), bucket(F.col("p_ts")) - 1)).alias("v_bucket"),
    )
    return (
        probes.join(
            views,
            (probes.user_id == views.v_user_id) & (probes.v_bucket == views.v_bucket),
        )
        .where(
            (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 2 HOURS"))
        )
        .select("purchase_id", "view_id", "user_id")
    )


@register(
    "asof_join_last_signup",
    category="joins",
    doc="As-of join: for each purchase event, the most recent prior-or-equal "
    "'view' event of the same user (DuckDB ASOF JOIN as oracle).",
    oracle="""
SELECT p.event_id, p.user_id, p.ts, v.ts AS last_view_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
""",
)
def asof_join_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = (
        events.where(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("v_ts"), F.col("ts").alias("last_view_ts"))
    )
    return asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="v_ts", right_cols=["last_view_ts"]
    ).select("event_id", "user_id", "ts", "last_view_ts")


@register(
    "fk_integrity_audit",
    category="dq",
    doc="Referential-integrity audit across the whole star in one result: "
    "orphan counts for lineitem→orders, lineitem→part, lineitem→supplier, "
    "orders→customer via anti-join counts, unioned with PK duplicate "
    "counts for each key. Every branch is a semi/anti join or a count "
    "aggregate — the scheduled consistency check of a serving layer.",
    oracle="""
SELECT 'lineitem->orders orphans' AS check_name,
       (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_bad
UNION ALL
SELECT 'lineitem->part orphans',
       (SELECT COUNT(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
UNION ALL
SELECT 'lineitem->supplier orphans',
       (SELECT COUNT(*) FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
UNION ALL
SELECT 'orders->customer orphans',
       (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
UNION ALL
SELECT 'orders pk duplicates',
       (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1))
UNION ALL
SELECT 'lineitem pk duplicates',
       (SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem
                              GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1))
ORDER BY check_name
""",
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")

    def orphans(fact, key, dim, dim_key):
        return fact.join(
            dim, F.col(key) == F.col(dim_key), "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_bad"))

    def dupes(df, *keys):
        return (
            df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > 1)
            .agg(F.count(F.lit(1)).alias("n_bad"))
        )

    checks = [
        ("lineitem->orders orphans",
         orphans(li, "l_orderkey", orders.select("o_orderkey"), "o_orderkey")),
        ("lineitem->part orphans",
         orphans(li, "l_partkey",
                 table(spark, sf_dir, "part").select("p_partkey"), "p_partkey")),
        ("lineitem->supplier orphans",
         orphans(li, "l_suppkey",
                 table(spark, sf_dir, "supplier").select("s_suppkey"), "s_suppkey")),
        ("orders->customer orphans",
         orphans(orders, "o_custkey",
                 table(spark, sf_dir, "customer").select("c_custkey"), "c_custkey")),
        ("orders pk duplicates", dupes(orders, "o_orderkey")),
        ("lineitem pk duplicates", dupes(li, "l_orderkey", "l_linenumber")),
    ]
    out = None
    for name, df in checks:
        branch = df.select(
            F.lit(name).alias("check_name"), F.col("n_bad").cast("bigint")
        )
        out = branch if out is None else out.unionByName(branch)
    return out.orderBy("check_name")


@register(
    "temporal_point_in_time_join",
    category="joins",
    doc="Temporal (point-in-time) join: each order enriched with the "
    "customer's SCD2 status VALID AT the order date. The validity-interval "
    "range join rewrites to the as-of union-tag + window pass (one "
    "custkey shuffle, no interval explosion); change rows are deduped to "
    "one per (custkey, date) — max orderkey wins — so the as-of target is "
    "unique and the result engine-independent. DuckDB ASOF JOIN oracle.",
    oracle="""
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
),
changes AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
  FROM ordered WHERE prev IS NULL OR o_orderstatus <> prev
),
dedup AS (
  SELECT o_custkey AS c_key, o_orderdate AS valid_from,
         arg_max(o_orderstatus, o_orderkey) AS status_at
  FROM changes GROUP BY 1, 2
)
SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, d.status_at
FROM orders o
ASOF LEFT JOIN dedup d
  ON o.o_custkey = d.c_key AND o.o_orderdate >= d.valid_from
""",
)
def temporal_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = orders.withColumn(
        "prev", F.lag("o_orderstatus").over(w)
    ).where(F.col("prev").isNull() | (F.col("o_orderstatus") != F.col("prev")))
    dedup = changes.groupBy(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
    ).agg(F.max_by("o_orderstatus", "o_orderkey").alias("status_at"))
    return asof_join(
        orders.drop("o_orderstatus"),
        dedup,
        on="o_custkey",
        left_ts="o_orderdate",
        right_ts="valid_from",
        right_cols=["status_at"],
    ).select("o_orderkey", "o_custkey", "o_orderdate", "status_at")


@register(
    "join_strategy_hints_suite",
    category="joins",
    doc="Explicit physical join-strategy control: the SAME customer->nation "
    "dim join computed under BROADCAST, MERGE and SHUFFLE_HASH hints and "
    "union-labeled — the knob an operator reaches for when Catalyst's "
    "size-estimate picks wrong at 100 TB (a dim just over the broadcast "
    "threshold, or a skew-prone sort-merge better served by shuffle-hash). "
    "Strategy must never change RESULTS, only the plan — the three labeled "
    "copies hash-check identical against one relational rollup, and "
    "tests/test_plan_shapes.py pins that the physical plan really contains "
    "BroadcastHashJoin, SortMergeJoin and ShuffledHashJoin respectively.",
    oracle="""
WITH r AS (
  SELECT n.n_name AS nation,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS acctbal_cents
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT s.strategy, r.nation, r.n_customers, r.acctbal_cents
FROM r CROSS JOIN (
  SELECT * FROM (VALUES ('broadcast'), ('merge'), ('shuffle_hash')) v(strategy)
) s
""",
)
def join_strategy_hints_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def rollup(strategy: str) -> DataFrame:
        j = cust.join(
            nat.hint(strategy), cust["c_nationkey"] == nat["n_nationkey"]
        )
        return j.groupBy(F.col("n_name").alias("nation")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("acctbal_cents"),
        ).select(F.lit(strategy).alias("strategy"), "*")

    out = rollup("broadcast")
    for s in ("merge", "shuffle_hash"):
        out = out.unionByName(rollup(s))
    return out


@register(
    "asof_join_forward_tolerance",
    category="joins",
    doc="FORWARD as-of join with tolerance: for each view event, the "
    "earliest same-user purchase at-or-after it, but only within 2 hours "
    "— the conversion-attribution shape (pandas merge_asof "
    "direction='forward', tolerance=2h). Same union+single-window "
    "strategy as the backward asof_join (one shuffle on the key, no "
    "range explosion): sides ordered so an equal-timestamp purchase "
    "sorts AFTER the view (>= semantics), first(purchase_ts, "
    "ignorenulls) over the [current, unbounded following] frame, then "
    "the tolerance nulls matches beyond the horizon. Oracle states the "
    "same semantics as a MIN over an inequality join.",
    oracle="""
WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
SELECT v.event_id, v.user_id, v.ts,
       MIN(p.ts) AS next_purchase_ts,
       MIN(p.ts) IS NOT NULL AS converted_2h
FROM v LEFT JOIN p
  ON p.user_id = v.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 2 HOUR
GROUP BY v.event_id, v.user_id, v.ts
""",
)
def asof_join_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    views = events.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", F.lit(0).alias("__side")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(1).alias("__side"),
    )
    merged = views.unionByName(purchases)
    # equal timestamps: purchase (side 1) sorts after the view (side 0), so
    # the [current, following] frame includes it — ">=" semantics
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nxt = merged.withColumn(
        "next_any",
        F.first(
            F.when(F.col("__side") == 1, F.col("ts")), ignorenulls=True
        ).over(w),
    )
    return (
        nxt.where(F.col("__side") == 0)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(
                F.col("next_any") <= F.col("ts") + F.expr("INTERVAL 2 HOURS"),
                F.col("next_any"),
            ).alias("next_purchase_ts"),
        )
        .withColumn("converted_2h", F.col("next_purchase_ts").isNotNull())
    )


# ---------------------------------------------------------------------------
# Runtime bloom-filter join pruning (Spark injected runtime filter)
# ---------------------------------------------------------------------------


def runtime_bloom_join(spark: SparkSession, sf_dir: str, force: bool) -> DataFrame:
    """Core of ``runtime_bloom_filter_join``: lineitem ⋈ selectively-filtered
    orders with Catalyst's runtime bloom-filter injection toggled. With
    ``force=True`` the optimizer builds a bloom filter from the filtered
    orders keys and pushes a ``might_contain`` predicate into the lineitem
    SCAN — at 100 TB that prunes the probe side shuffle down to ~the
    selectivity of the build side, the engine-native equivalent of
    bloom_join_prune_audit's portable bloom. Confs are set+restored around
    plan construction; the result is materialized (eager localCheckpoint)
    BEFORE restore so the plan executes under the intended confs."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true" if force else "false",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
        o = table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        out = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_items"),
                F.sum("cents").cast("bigint").alias("revenue_cents"),
            )
            .localCheckpoint()  # eager: executes under the confs above
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


@register(
    "runtime_bloom_filter_join",
    category="joins",
    doc="Engine-native runtime filtering: Catalyst's injected bloom filter "
    "(spark.sql.optimizer.runtime.bloomFilter) builds a bloom sketch from "
    "the SELECTIVE side of a shuffle join (urgent orders) and pushes a "
    "might_contain predicate into the fact-scan — probe-side rows that "
    "cannot join are dropped AT THE SCAN, before the shuffle. The 100 TB "
    "lever for selective fact⋈fact joins (the portable-bloom twin "
    "bloom_join_prune_audit computes the same pruning arithmetic as data). "
    "Result is the plain join aggregate — the filter is result-neutral by "
    "construction; tests/test_plan_shapes.py pins might_contain into the "
    "executed plan and its absence when disabled.",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
""",
)
def runtime_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return runtime_bloom_join(spark, sf_dir, force=True)
