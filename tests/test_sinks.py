"""Sink-layer tests: partitioned layout pruning and bucketed co-located
joins — the write-side halves of the 100 TB read-path strategies."""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_SMALL
from wheels_in_motion_analytics_spark.sinks import (
    write_bucketed_table,
    write_partitioned,
)
from wheels_in_motion_analytics_spark.tables import table


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """K4: a filter on the partition column must become a PartitionFilter
    (directory pruning), not a data filter."""
    orders = table(spark, SF_SMALL, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    path = str(tmp_path / "orders_by_month")
    write_partitioned(orders, path, ["order_month"])

    df = spark.read.parquet(path).where(F.col("order_month") == "1995-03")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "order_month" in plan.split("PartitionFilters:")[1].splitlines()[0]
    got = df.count()
    expected = orders.where(F.date_format("o_orderdate", "yyyy-MM") == "1995-03").count()
    assert got == expected > 0


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must join without any Exchange —
    the write-time shuffle is amortized across every later join."""
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")

    li = table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = table(spark, SF_SMALL, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed_table(li, "li_bucketed", ["l_orderkey"], num_buckets=8)
    write_bucketed_table(orders, "ord_bucketed", ["o_orderkey"], num_buckets=8)

    # disable broadcast so the join must pick a shuffle or bucket strategy
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_bucketed").join(
            spark.table("ord_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not re-shuffle"
        assert joined.count() == table(spark, SF_SMALL, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")

def test_cdc_merge_exactly_once(spark, tmp_path):
    """Storage-level MERGE: re-applying an already-applied batch id is a
    no-op (the id is in the head manifest), new batches upsert by highest
    version, and every merge is one new version of the table."""
    import pyspark.sql.functions as F_

    from wheels_in_motion_analytics_spark.sources import cdc, versioned

    path = str(tmp_path / "cdc_table")
    final = cdc.run_cdc_pipeline(spark, SF_SMALL, path)

    base = cdc._base_state(spark, SF_SMALL)
    n_base = base.count()
    n_inserts = cdc._update_batch(spark, SF_SMALL).where(F_.col("status") == "N").count()
    assert final.count() == n_base + n_inserts

    # updated keys carry version 2; untouched keys stay version 1
    v2 = final.where(F_.col("version") == 2).count()
    assert v2 == cdc._update_batch(spark, SF_SMALL).count()
    # the seed and one merge: the pipeline's re-apply committed nothing
    assert versioned.current_version(path) == 2
    final_rows = sorted(map(tuple, final.collect()))

    # an explicit re-apply with the same batch id must refuse
    assert not cdc.merge_upsert(
        spark, path, cdc._update_batch(spark, SF_SMALL), ["order_id"], "version", "batch-1"
    )
    assert versioned.current_version(path) == 2
    # a NEW batch id with the same payload applies, but changes nothing
    # (every row already at version 2 wins ties toward the update — state
    # stays identical)
    assert cdc.merge_upsert(
        spark, path, cdc._update_batch(spark, SF_SMALL), ["order_id"], "version", "batch-2"
    )
    assert versioned.head(path)[1]["batch_ids"] == ["batch-1", "batch-2"]
    again = versioned.read_version(spark, path).select(*cdc._BASE_COLS)
    assert sorted(map(tuple, again.collect())) == final_rows
    # the merges never touched the seed's files: v1 still reads as the seed
    assert versioned.read_version(spark, path, 1).count() == n_base


def test_cdc_merge_rejects_feed_missing_stored_columns(spark, tmp_path):
    """A feed missing a stored table column must fail loudly — the
    explicit-schema read would otherwise NULL the column and the merge
    would rewrite it away."""
    import pytest

    from wheels_in_motion_analytics_spark.sources import cdc

    path = str(tmp_path / "cdc_guard")
    cdc.run_cdc_pipeline(spark, SF_SMALL, path)
    crippled = cdc._update_batch(spark, SF_SMALL).drop("total_price")
    with pytest.raises(ValueError, match="missing stored table columns"):
        cdc.merge_upsert(spark, path, crippled, ["order_id"], "version", "batch-x")


def _month_entries(root: str, version: int) -> dict[str, set[str]]:
    from wheels_in_motion_analytics_spark.sources import cdc, versioned

    by_month: dict[str, set[str]] = {}
    for e in versioned._manifest(root, version)["files"]:
        by_month.setdefault(cdc._partition_value(e, "order_month"), set()).add(e)
    return by_month


def _seed_partitioned(spark, root: str) -> None:
    import pyspark.sql.functions as F_

    from wheels_in_motion_analytics_spark.sources import cdc, versioned

    versioned.commit(
        cdc._base_state_partitioned(spark, SF_SMALL).repartition(F_.col("order_month")),
        root,
        mode="overwrite",
        partition_col="order_month",
    )


def test_partition_overwrite_cdc_touches_only_dirty_months(spark, tmp_path):
    """Partition-scoped MERGE commit (remove+add): the clean months keep
    their manifest entries and their files' (mtime, size); the dirty
    months' entries are replaced; only dirty-month rows change."""
    import os

    import pyspark.sql.functions as F_

    from wheels_in_motion_analytics_spark.sources import cdc, versioned

    path = str(tmp_path / "state")
    _seed_partitioned(spark, path)

    def stats(entries):
        files = [os.path.join(versioned._data_dir(path), e) for e in sorted(entries)]
        return [(os.path.getmtime(f), os.path.getsize(f)) for f in files]

    before = _month_entries(path, 1)
    stats_before = {m: stats(es) for m, es in before.items()}

    assert cdc.merge_upsert(
        spark, path, cdc._update_batch_months(spark, SF_SMALL),
        ["order_id"], "version", "b1", partition_col="order_month",
    )

    after = _month_entries(path, 2)
    clean = set(before) - set(cdc.DIRTY_MONTHS)
    assert clean and set(after) == set(before)
    for m in clean:  # untouched partitions: same entries, same files
        assert after[m] == before[m]
        assert stats(after[m]) == stats_before[m]
    for m in cdc.DIRTY_MONTHS:  # dirty partitions: new files only
        assert after[m].isdisjoint(before[m])

    # only dirty-month rows changed vs the seed
    final = versioned.read_version(spark, path)
    changed = final.where(F_.col("version") == 2)
    assert {r.order_month for r in changed.select("order_month").distinct().collect()} == set(
        cdc.DIRTY_MONTHS
    )
    assert versioned.read_version(spark, path, 1).where(F_.col("version") == 2).count() == 0


_FEED_SCHEMA = "order_id BIGINT, status STRING, version INT"


def test_cdc_merge_crash_before_publish_leaves_head_and_retries_once(
    spark, tmp_path, monkeypatch
):
    """A crash between staging the merged files and publishing the manifest
    leaves the head and its batch ids unchanged; the retry applies once."""
    import pytest

    from wheels_in_motion_analytics_spark.sources import cdc, versioned

    root = str(tmp_path / "t")
    versioned.commit(
        spark.createDataFrame([(1, "a", 1), (2, "b", 1)], _FEED_SCHEMA), root, mode="overwrite"
    )
    feed = spark.createDataFrame([(2, "B", 2), (3, "C", 2)], _FEED_SCHEMA)

    def crash(*args, **kwargs):
        raise RuntimeError("crash before publish")

    with monkeypatch.context() as m:
        m.setattr(versioned, "_publish", crash)
        with pytest.raises(RuntimeError, match="crash"):
            cdc.merge_upsert(spark, root, feed, ["order_id"], "version", "b1")
    version, head = versioned.head(root)
    assert version == 1 and "batch_ids" not in head
    assert sorted(map(tuple, versioned.read_version(spark, root).collect())) == [
        (1, "a", 1), (2, "b", 1)
    ]

    assert cdc.merge_upsert(spark, root, feed, ["order_id"], "version", "b1")
    assert not cdc.merge_upsert(spark, root, feed, ["order_id"], "version", "b1")
    version, head = versioned.head(root)
    assert version == 2 and head["batch_ids"] == ["b1"]
    assert sorted(map(tuple, versioned.read_version(spark, root).collect())) == [
        (1, "a", 1), (2, "B", 2), (3, "C", 2)
    ]


def test_cdc_merges_from_same_base_conflict(spark, tmp_path, monkeypatch):
    """Two merges that read the same head: the first commits, the second
    raises VersionConflict instead of overwriting the first's update."""
    import pytest

    from wheels_in_motion_analytics_spark.sources import cdc, versioned

    root = str(tmp_path / "t")
    versioned.commit(spark.createDataFrame([(1, "a", 1)], _FEED_SCHEMA), root, mode="overwrite")
    stale = versioned.head(root)
    assert cdc.merge_upsert(
        spark, root, spark.createDataFrame([(1, "x", 2)], _FEED_SCHEMA),
        ["order_id"], "version", "first",
    )
    # the second merge read its head before the first one published
    reads = iter([stale])
    real_head = versioned.head
    monkeypatch.setattr(versioned, "head", lambda r: next(reads, None) or real_head(r))
    with pytest.raises(versioned.VersionConflict):
        cdc.merge_upsert(
            spark, root, spark.createDataFrame([(1, "y", 3)], _FEED_SCHEMA),
            ["order_id"], "version", "second",
        )
    version, head = real_head(root)
    assert version == 2 and head["batch_ids"] == ["first"]
    assert [tuple(r) for r in versioned.read_version(spark, root).collect()] == [(1, "x", 2)]


def test_cdc_first_merge_creates_table(spark, tmp_path):
    """A table with no commits takes the feed — highest version per key —
    as its first version, with the batch id recorded."""
    from wheels_in_motion_analytics_spark.sources import cdc, versioned

    root = str(tmp_path / "t")
    feed = spark.createDataFrame([(1, "a", 1), (1, "b", 2), (2, "c", 1)], _FEED_SCHEMA)
    assert cdc.merge_upsert(spark, root, feed, ["order_id"], "version", "b0")
    version, head = versioned.head(root)
    assert version == 1 and head["batch_ids"] == ["b0"]
    assert sorted(map(tuple, versioned.read_version(spark, root).collect())) == [
        (1, "b", 2), (2, "c", 1)
    ]


def test_cdc_merge_of_empty_feed(spark, tmp_path):
    """An empty feed commits a version with unchanged content that records
    the batch id; partition-scoped, it keeps every entry of the parent."""
    from wheels_in_motion_analytics_spark.sources import cdc, versioned

    root = str(tmp_path / "t")
    rows = [(1, "a", 1), (2, "b", 1)]
    versioned.commit(spark.createDataFrame(rows, _FEED_SCHEMA), root, mode="overwrite")
    empty = spark.createDataFrame([], _FEED_SCHEMA)
    assert cdc.merge_upsert(spark, root, empty, ["order_id"], "version", "e")
    assert versioned.head(root)[1]["batch_ids"] == ["e"]
    assert sorted(map(tuple, versioned.read_version(spark, root).collect())) == rows

    proot = str(tmp_path / "p")
    _seed_partitioned(spark, proot)
    feed = cdc._base_state_partitioned(spark, SF_SMALL).limit(0)
    assert cdc.merge_upsert(
        spark, proot, feed, ["order_id"], "version", "e", partition_col="order_month"
    )
    assert _month_entries(proot, 2) == _month_entries(proot, 1)
    assert (
        versioned.read_version(spark, proot, 2).count()
        == versioned.read_version(spark, proot, 1).count()
    )


def test_csv_corrupt_record_capture(spark, tmp_path):
    """PERMISSIVE CSV parsing quarantines malformed rows into
    _corrupt_record instead of failing the scan — the bad-row contract of
    text ingestion (DROPMALFORMED then shrinks to the clean subset)."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    p = tmp_path / "raw.csv"
    p.write_text(
        "id,qty,price\n"
        "1,5,10.5\n"
        "2,not_a_number,3.25\n"
        "3,7,oops\n"
        "4,2,99.0\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("qty", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
        .cache()  # corrupt-record column requires materialization before filter
    )
    bad = df.where(F.col("_corrupt_record").isNotNull()).collect()
    good = df.where(F.col("_corrupt_record").isNull()).collect()
    assert {r.id for r in good} == {1, 4}
    assert len(bad) == 2 and all(r._corrupt_record for r in bad)
    clean_schema = T.StructType(schema.fields[:3])  # no corrupt column
    dropped = (
        spark.read.schema(clean_schema)
        .option("header", "true")
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    # count() would read zero columns and skip parsing entirely (so nothing
    # gets dropped) — force real column parsing to see the drops
    assert len(dropped.collect()) == 2


def test_k4_registry_query_prunes_partitions(spark):
    """The partitioned_sink_pruned_read query's read-back must prune: the
    3-month predicate reaches the scan as a PartitionFilter over the layout
    its own write_partitioned call produced."""
    import wheels_in_motion_analytics_spark.sources.scan_queries as sq

    orders = table(spark, SF_SMALL, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
    )
    import tempfile, os
    out = os.path.join(tempfile.mkdtemp(prefix="sink_k4_test_"), "orders_by_month")
    write_partitioned(orders, out, ["order_month"])
    df = spark.read.parquet(out).where(F.col("order_month").isin(sq._K4_MONTHS))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "order_month" in plan.split("PartitionFilters:")[1].splitlines()[0]

    result = {
        r["order_month"]: r["n_orders"]
        for r in sq.partitioned_sink_pruned_read(spark, SF_SMALL).collect()
    }
    expected = {
        r["order_month"]: r["cnt"]
        for r in orders.where(F.col("order_month").isin(sq._K4_MONTHS))
        .groupBy("order_month")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert result == expected and len(result) == 3
    import shutil
    shutil.rmtree(os.path.dirname(out), ignore_errors=True)
