"""Storage-level incremental MERGE (CDC upsert into a versioned table).

The reference's incremental story is idempotent-by-truncation: every load is
a ``WRITE_TRUNCATE`` of the whole BigQuery table (proc_2_GCS_to_BQ_dag.py:
89-91). That is correct but rewrites everything; the engine counterpart here
is a keyed MERGE that lands as ONE commit on the versioned table log
(sources/versioned.py):

* ``merge_upsert`` = read the head manifest (driver-side JSON) → read the
  current files ∪ the update batch → keep the highest ``version`` per key
  (deterministic row_number, ties broken toward the update) → commit a new
  version. A new version never overwrites its input, so no self-overwrite
  guard (``localCheckpoint``) is needed.
* Exactly-once: the batch id is recorded in the same manifest publish as the
  merged data (Delta's ``txn`` action), and every later commit carries it
  forward. Re-running a batch is a no-op, so a scheduler retry cannot
  double-apply, and no crash can leave the data applied without its id.
* With ``partition_col`` the merge is partition-scoped — the 100 TB shape:
  only the dirty partitions' files are read and rewritten; the new manifest
  keeps every clean partition's entries (Delta's remove+add), so the work
  scales with the dirty set, not the table.
"""

from __future__ import annotations

import os
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F
import pyspark.sql.types as T

from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.sources import versioned
from wheels_in_motion_analytics_spark.tables import table


def _assert_feed_matches_stored(updates: DataFrame, probe_file: str) -> None:
    """Guard for the explicit-schema merge reads: reading the stored table
    with ``updates.schema`` silently NULLs any stored column absent from
    the feed — and the merge would then rewrite that column away. Compare
    field names against one stored footer DRIVER-SIDE (a ~ms pyarrow
    probe, not a Spark inference job) and fail loudly on mismatch."""
    try:
        import pyarrow.parquet as pq

        stored = set(pq.ParquetFile(probe_file).schema_arrow.names)
    except Exception:
        return  # probe is best-effort; absence of pyarrow must not break merges
    # partition columns live in directory names, not footers — they are
    # allowed to be feed-only; anything stored-only is the data-loss hazard
    missing = stored - set(updates.columns)
    if missing:
        raise ValueError(
            f"update feed is missing stored table columns {sorted(missing)}: "
            "an explicit-schema read would NULL them and the merge would "
            "rewrite them away (pass a feed carrying every table column)"
        )


def _partition_value(entry: str, col: str) -> str:
    """The ``<col>=<val>`` directory value of a manifest entry, unescaped."""
    prefix = f"{col}="
    return unquote(next(p for p in entry.split(os.sep) if p.startswith(prefix))[len(prefix):])


def merge_upsert(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
    batch_id: str,
    partition_col: str | None = None,
) -> bool:
    """MERGE ``updates`` into the versioned table at ``root`` as one commit.

    Keeps the highest ``version_col`` per key; on version ties the update
    row wins (MERGE semantics: WHEN MATCHED THEN UPDATE). Returns False
    (no-op) if ``batch_id`` is already recorded in the head manifest — the
    exactly-once guard. A table with no commits takes the feed (highest
    version per key) as its first version. The commit expects the head read
    here, so a concurrent merge from the same base raises VersionConflict.

    With ``partition_col`` (a string or integer column) only the head's
    files in partitions present in ``updates`` are read; the new version
    holds their merged rewrite plus every other partition's entries,
    untouched. A key's partition value must not change: the old row of a
    key that moves partitions stays in its clean partition.
    """
    base, head = versioned.head(root)
    if batch_id in head.get("batch_ids", ()):
        return False
    if head.get("deletes"):
        raise ValueError("merge over a deletion-vector chain: overwrite first")
    if head.get("files"):
        _assert_feed_matches_stored(
            updates, os.path.join(versioned._data_dir(root), head["files"][0])
        )
    current, keep = None, None
    if base:
        files = head["files"]
        if partition_col is not None:
            if not isinstance(updates.schema[partition_col].dataType, (T.StringType, T.IntegralType)):
                raise ValueError(f"partition column {partition_col!r} must be a string or integer")
            # The feed is read twice (the dirty-partition collect and the
            # merge union): materialize it once, or each read re-evaluates
            # its whole lineage — a full re-scan when the feed is derived
            # from a large table (measured 2x the feed cost at the 100x
            # scale probe).
            updates = updates.localCheckpoint()
            # NULL and '' both land in Spark's default partition directory
            dirty = {
                "__HIVE_DEFAULT_PARTITION__" if v in (None, "") else str(v)
                for (v,) in updates.select(partition_col).distinct().collect()
            }
            keep = [e for e in files if _partition_value(e, partition_col) not in dirty]
            files = [e for e in files if _partition_value(e, partition_col) in dirty]
        # the feed's schema is the table's by construction (the guard above
        # enforces it) — supplying it skips footer inference
        current = versioned.read_entries(spark, root, head, files, updates.schema)
    rows = updates.withColumn("__src", F.lit(1))
    if current is not None:
        rows = current.withColumn("__src", F.lit(0)).unionByName(rows)
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(), F.col("__src").desc()
    )
    merged = rows.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop(
        "__rn", "__src"
    )
    if partition_col is not None:
        # shuffle by the partition key first: one writer per partition
        # directory instead of every task spraying a file into every dir
        merged = merged.repartition(F.col(partition_col))
    versioned.commit(
        merged, root, mode="merge", expected_version=base, batch_id=batch_id,
        partition_col=partition_col, keep=keep,
    )
    return True


# ---------------------------------------------------------------------------
# Registry query: a deterministic two-batch CDC run over orders
# ---------------------------------------------------------------------------

_BASE_COLS = ["order_id", "status", "total_price", "version"]


def _base_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All price math happens in DECIMAL and only the final value is emitted
    # as DOUBLE: double-space round() disagrees between engines near .005
    # boundaries (the round-1 project_rename_cast lesson), decimal-space
    # arithmetic is exact in both.
    return table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("total_price"),
        F.lit(1).alias("version"),
    )


def _update_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch 1: every 7th order re-priced and closed (updates), plus a new
    order per 13th key (inserts) — all derived deterministically from the
    input so the oracle can rebuild the same batch."""
    orders = table(spark, sf_dir, "orders")
    reprice = F.expr(
        "CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,2)), 2) AS DOUBLE)"
    )
    # × DECIMAL 0.5, not / 2: DuckDB routes decimal-by-integer division
    # through DOUBLE (140053.735 → .73) while Spark stays decimal (→ .74);
    # decimal × decimal is exact in both engines.
    halved = F.expr(
        "CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.5 AS DECIMAL(2,1)), 2) AS DOUBLE)"
    )
    updates = orders.where(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("order_id"),
        F.lit("C").alias("status"),
        reprice.alias("total_price"),
        F.lit(2).alias("version"),
    )
    inserts = orders.where(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("order_id"),
        F.lit("N").alias("status"),
        halved.alias("total_price"),
        F.lit(2).alias("version"),
    )
    return updates.unionByName(inserts)


def run_cdc_pipeline(spark: SparkSession, sf_dir: str, table_path: str) -> DataFrame:
    """Seed the table, apply the update batch TWICE under one batch id (the
    second apply must be the exactly-once no-op), return the final state."""
    versioned.commit(_base_state(spark, sf_dir), table_path, mode="overwrite")
    applied_first = merge_upsert(
        spark, table_path, _update_batch(spark, sf_dir), ["order_id"], "version", "batch-1"
    )
    applied_again = merge_upsert(
        spark, table_path, _update_batch(spark, sf_dir), ["order_id"], "version", "batch-1"
    )
    assert applied_first and not applied_again, "exactly-once batch guard violated"
    return versioned.read_version(spark, table_path).select(*_BASE_COLS)


@register(
    "cdc_merge_orders_state",
    category="sources",
    doc="Storage-level CDC MERGE: seed a versioned table from orders, apply "
    "a derived update+insert batch through the keyed exactly-once merge "
    "commit (applied twice — the rerun is a no-op: its batch id is in the "
    "head manifest), read back the final state. The oracle rebuilds the "
    "same final state relationally from orders.",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS order_id, o_orderstatus AS status,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
         1 AS version
  FROM orders
),
upd AS (
  SELECT o_orderkey AS order_id, 'C' AS status,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,2)), 2) AS DOUBLE) AS total_price,
         2 AS version
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 100000000 AS order_id, 'N' AS status,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.5 AS DECIMAL(2,1)), 2) AS DOUBLE) AS total_price,
         2 AS version
  FROM orders WHERE o_orderkey % 13 = 0
),
merged AS (
  SELECT *, 0 AS __src FROM base
  UNION ALL
  SELECT *, 1 AS __src FROM upd
)
SELECT order_id, status, total_price, version
FROM (
  SELECT *, row_number() OVER (PARTITION BY order_id
                               ORDER BY version DESC, __src DESC) AS rn
  FROM merged
)
WHERE rn = 1
""",
)
def cdc_merge_orders_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    # fresh workspace per invocation: the pipeline's writes never collide
    # across concurrent runs, and the result is path-independent
    table_path = tempfile.mkdtemp(prefix="cdc_merge_")
    return run_cdc_pipeline(spark, sf_dir, table_path)


# ---------------------------------------------------------------------------
# Partition-scoped variant: the merge rewrites ONLY dirty partitions
# ---------------------------------------------------------------------------

DIRTY_MONTHS = ["1997-03", "1997-04", "1997-05"]


def _base_state_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("total_price"),
        F.lit(1).alias("version"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
    )


def _update_batch_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Updates confined to DIRTY_MONTHS: every 5th order in those months is
    repriced and closed; a new order is inserted per 11th key."""
    orders = table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    ).where(F.col("order_month").isin(DIRTY_MONTHS))
    reprice = F.expr(
        "CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.2 AS DECIMAL(3,2)), 2) AS DOUBLE)"
    )
    halved = F.expr(
        "CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.5 AS DECIMAL(2,1)), 2) AS DOUBLE)"
    )
    updates = orders.where(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("order_id"),
        F.lit("X").alias("status"),
        reprice.alias("total_price"),
        F.lit(2).alias("version"),
        "order_month",
    )
    inserts = orders.where(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 200000000).alias("order_id"),
        F.lit("N").alias("status"),
        halved.alias("total_price"),
        F.lit(2).alias("version"),
        "order_month",
    )
    return updates.unionByName(inserts)


def run_partitioned_cdc(spark: SparkSession, sf_dir: str, table_path: str) -> DataFrame:
    """Seed the month-partitioned table, apply the dirty-month batch twice
    (second apply = exactly-once no-op), return the full final state."""
    versioned.commit(
        _base_state_partitioned(spark, sf_dir).repartition(F.col("order_month")),
        table_path,
        mode="overwrite",
        partition_col="order_month",
    )
    first, again = (
        merge_upsert(
            spark, table_path, _update_batch_months(spark, sf_dir),
            ["order_id"], "version", "batch-1", partition_col="order_month",
        )
        for _ in range(2)
    )
    assert first and not again, "exactly-once batch guard violated"
    return versioned.read_version(spark, table_path).select(*_BASE_COLS, "order_month")


@register(
    "cdc_merge_partition_overwrite",
    category="sources",
    doc="Partition-scoped CDC MERGE (remove+add commit): updates land in 3 "
    "dirty months of a month-partitioned versioned orders table; the merge "
    "reads only those months' manifest entries and commits a version that "
    "swaps in their rewritten files — untouched months keep their files "
    "and entries. Work scales with the dirty set, not the table; this is "
    "the whole-table cdc_merge_orders_state made 100 TB-shaped.",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS order_id, o_orderstatus AS status,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
         1 AS version, strftime(o_orderdate, '%Y-%m') AS order_month
  FROM orders
),
upd AS (
  SELECT o_orderkey AS order_id, 'X' AS status,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.2 AS DECIMAL(3,2)), 2) AS DOUBLE) AS total_price,
         2 AS version, strftime(o_orderdate, '%Y-%m') AS order_month
  FROM orders
  WHERE strftime(o_orderdate, '%Y-%m') IN ('1997-03', '1997-04', '1997-05')
    AND o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey + 200000000 AS order_id, 'N' AS status,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.5 AS DECIMAL(2,1)), 2) AS DOUBLE) AS total_price,
         2 AS version, strftime(o_orderdate, '%Y-%m') AS order_month
  FROM orders
  WHERE strftime(o_orderdate, '%Y-%m') IN ('1997-03', '1997-04', '1997-05')
    AND o_orderkey % 11 = 0
),
merged AS (
  SELECT *, 0 AS __src FROM base
  UNION ALL
  SELECT *, 1 AS __src FROM upd
)
SELECT order_id, status, total_price, version, order_month
FROM (
  SELECT *, row_number() OVER (PARTITION BY order_id
                               ORDER BY version DESC, __src DESC) AS rn
  FROM merged
)
WHERE rn = 1
""",
)
def cdc_merge_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    table_path = tempfile.mkdtemp(prefix="cdc_dyn_")
    return run_partitioned_cdc(spark, sf_dir, table_path)


@register(
    "scd2_customer_status_history",
    category="cdc",
    doc="Slowly-Changing-Dimension Type 2 build: per-customer order-status "
    "history compressed to change intervals (valid_from / valid_to / "
    "is_current) via change-detection lag + lead windows over "
    "(o_orderdate, o_orderkey) — one customer-keyed shuffle, the standard "
    "warehouse dimension-history pattern (reference analogue: the serving "
    "dims rebuilt per load, proc_2_GCS_to_BQ_dag.py WRITE_TRUNCATE).",
    oracle="""
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         lag(o_orderstatus) OVER w AS prev_status
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
changes AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
  FROM ordered
  WHERE prev_status IS NULL OR o_orderstatus <> prev_status
)
SELECT o_custkey AS custkey, o_orderstatus AS status,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS valid_to,
       (lead(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) IS NULL)
         AS is_current
FROM changes
""",
)
def scd2_customer_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = orders.withColumn(
        "prev_status", F.lag("o_orderstatus").over(w)
    ).where(
        F.col("prev_status").isNull()
        | (F.col("o_orderstatus") != F.col("prev_status"))
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w2)
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "scd2_point_in_time_lookup",
    category="cdc",
    doc="Point-in-time dimension lookup against the SCD2 history (the "
    "query half of scd2_customer_status_history): every shipped line item "
    "is attributed to the customer-status version valid AT ITS SHIP DATE "
    "(valid_from <= ship < valid_to, open-ended current version), with "
    "shipments predating the first version binned as 'none' — the classic "
    "warehouse as-of semantics that a plain dim join gets WRONG whenever "
    "attributes change over time. SCALE SHAPE: the history join is equi "
    "on custkey with a bounded interval filter (versions per key are "
    "bounded by status-change count, so the join fan-out is bounded); the "
    "result folds to one partial-aggregable rollup by looked-up status. "
    "Revenue sums in exact integer cents.",
    oracle="""
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         lag(o_orderstatus) OVER w AS prev_status
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
changes AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
  FROM ordered
  WHERE prev_status IS NULL OR o_orderstatus <> prev_status
),
-- The interval join (valid_from <= ship < valid_to over tiling versions)
-- is equivalent to an as-of pick: the version with the greatest
-- (valid_from, orderkey) at or before the ship date.  Proof sketch: per
-- custkey the versions v1..vk ordered by (valid_from, orderkey) satisfy
-- valid_to_i = valid_from_{i+1}; for j = max{i : valid_from_i <= ship},
-- every i < j has valid_to_i <= valid_from_j <= ship (no match, incl.
-- same-date empty intervals) and v_j's valid_to is > ship or NULL —
-- exactly one match.  Spelled as a union + running last_value so DuckDB
-- executes one O(n log n) window instead of a range join (the literal
-- interval-join form took ~270s at sf0.1; this is seconds).
hist AS (
  SELECT o_custkey AS custkey, o_orderdate AS d, o_orderkey AS ok,
         o_orderstatus AS status
  FROM changes
),
fact AS (
  SELECT o.o_custkey AS custkey, l.l_shipdate AS d,
         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
events AS (
  SELECT custkey, d, 0 AS is_fact, ok, status, CAST(NULL AS BIGINT) AS cents
  FROM hist
  UNION ALL
  SELECT custkey, d, 1 AS is_fact, CAST(NULL AS BIGINT) AS ok,
         CAST(NULL AS VARCHAR) AS status, cents
  FROM fact
),
resolved AS (
  SELECT is_fact, cents,
         last_value(status IGNORE NULLS) OVER (
           PARTITION BY custkey ORDER BY d, is_fact, ok
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS status_at
  FROM events
)
SELECT COALESCE(status_at, 'none') AS status_at_ship,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM resolved
WHERE is_fact = 1
GROUP BY 1
""",
)
def scd2_point_in_time_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = orders.withColumn(
        "prev_status", F.lag("o_orderstatus").over(w)
    ).where(
        F.col("prev_status").isNull()
        | (F.col("o_orderstatus") != F.col("prev_status"))
    )
    nxt = F.lead("o_orderdate").over(w)
    hist = changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
    )
    fact = (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_shipdate",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
        .join(
            table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_shipdate").alias("ship"),
            "cents",
        )
    )
    joined = fact.join(
        hist,
        (fact["custkey"] == hist["custkey"])
        & (F.col("valid_from") <= F.col("ship"))
        & (F.col("valid_to").isNull() | (F.col("ship") < F.col("valid_to"))),
        "left",
    )
    return joined.groupBy(
        F.coalesce(F.col("status"), F.lit("none")).alias("status_at_ship")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
