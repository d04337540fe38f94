"""Scale probe of the incremental-maintenance (CDC MERGE) family.

The partition-scoped merge's 100 TB claim (sources/cdc.py:merge_upsert
with ``partition_col``) is "work scales with the dirty set, not the
table". The registry verifies its
CORRECTNESS at small sf; this probe verifies the SCALING CLAIM by
measuring both merge variants over the same dirty-month update batch at
1x, 10x and 100x the sf0.1 orders table (100x = 15M rows — the sf10
orders cardinality):

* ``partitioned`` — merge_upsert with ``partition_col``: read of the 3 dirty
  months' manifest entries + a commit whose manifest swaps in only their
  rewritten files.
* ``full`` — merge_upsert: whole-table read + whole-table rewrite as one
  new version (the reference's WRITE_TRUNCATE shape, sources/cdc.py
  docstring).

Claim confirmed iff the partitioned/full wall-time ratio stays pinned near
the dirty-data fraction (~4%) as the table grows 10x and 100x — i.e. the
partitioned merge's cost tracks the dirty volume axis, the full merge's
cost tracks the table volume axis. The probe also re-checks, at every
scale: untouched partitions keep their manifest entries and files
(entry->size map equality), and the exactly-once re-apply is a no-op.

Expansion: o_orderkey re-spaced per replica (key + rep*10_000_000 — clear
of the +200_000_000 insert key space); o_orderdate untouched, so the
month-partition layout and the 3-month dirty set are scale-invariant while
every partition's volume grows with the factor.

Not part of bench.py (runtime is minutes). Results live in PERFORMANCE.md
("Round-10 scale probe: the CDC merge family" and "One table-commit
substrate"). Run:

  SPARK_GRAFT_DRIVER_MEM=32g python tools/scale_probe_cdc.py [FACTORS]

FACTORS defaults to "1,10,100" (comma-separated expansion factors).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from tools.harness import release_blocks
from wheels_in_motion_analytics_spark.session import get_session
from wheels_in_motion_analytics_spark.sources import cdc, versioned

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROOT = "/tmp/sf1probe_cdc"


def build_orders(spark, factor: int) -> str:
    """Materialize a factor-x orders.parquet; returns its sf_dir."""
    if factor == 1:
        return SF_DIR
    out_dir = os.path.join(ROOT, f"x{factor}")
    out = os.path.join(out_dir, "orders.parquet")
    if not os.path.exists(out):
        orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
        reps = spark.range(factor).withColumnRenamed("id", "rep")
        (
            orders.crossJoin(reps)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.col("rep") * 10_000_000)
            .drop("rep")
            # spread the fan-out across tasks before the write (NOTES: a
            # crossJoin over one small scan otherwise lands on few tasks)
            .repartition(32)
            .write.mode("overwrite")
            .parquet(out)
        )
    return out_dir


def materialize_updates(spark, sf_dir: str) -> str:
    """Write the dirty-month update batch to parquet once and return its
    path. A real CDC feed arrives as a bounded changeset on storage; the
    testdata derivation scans the WHOLE orders table, so timing the merge
    with the raw derivation charges the merge for input synthesis."""
    out = os.path.join(ROOT, "feed", os.path.basename(sf_dir.rstrip("/")))
    if not os.path.exists(out):
        cdc._update_batch_months(spark, sf_dir).repartition(4).write.mode(
            "overwrite"
        ).parquet(out)
    return out


def partition_sizes(tbl: str, version: int) -> dict[str, dict[str, int]]:
    """month -> {manifest entry: bytes} for every partition of a version."""
    out: dict[str, dict[str, int]] = {}
    for e in versioned._manifest(tbl, version)["files"]:
        size = os.path.getsize(os.path.join(versioned._data_dir(tbl), e))
        out.setdefault(cdc._partition_value(e, "order_month"), {})[e] = size
    return out


def probe_partitioned(spark, sf_dir: str) -> dict:
    """Seed the month-partitioned table, time the partition-scoped merge."""
    tbl = os.path.join(ROOT, "work_part")
    shutil.rmtree(tbl, ignore_errors=True)

    t0 = time.perf_counter()
    versioned.commit(
        cdc._base_state_partitioned(spark, sf_dir).repartition(F.col("order_month")),
        tbl,
        mode="overwrite",
        partition_col="order_month",
    )
    seed_s = time.perf_counter() - t0

    release_blocks(spark)
    updates = spark.read.parquet(materialize_updates(spark, sf_dir))
    t0 = time.perf_counter()
    applied = cdc.merge_upsert(
        spark, tbl, updates, ["order_id"], "version", "b1", partition_col="order_month"
    )
    merge_s = time.perf_counter() - t0
    assert applied

    t0 = time.perf_counter()
    reapplied = cdc.merge_upsert(
        spark, tbl, updates, ["order_id"], "version", "b1", partition_col="order_month"
    )
    noop_s = time.perf_counter() - t0
    assert not reapplied, "exactly-once batch guard violated"

    before, after = partition_sizes(tbl, 1), partition_sizes(tbl, 2)
    untouched_ok = all(
        before[m] == after[m] for m in before if m not in cdc.DIRTY_MONTHS
    )
    rewritten = sorted(m for m in after if before.get(m) != after.get(m))
    rows = versioned.read_version(spark, tbl).count()
    shutil.rmtree(tbl, ignore_errors=True)
    return {
        "seed_s": round(seed_s, 2),
        "merge_s": round(merge_s, 2),
        "noop_s": round(noop_s, 3),
        "rows_after": rows,
        "partitions": len(before),
        "rewritten_partitions": rewritten,
        "untouched_entries_identical": untouched_ok,
    }


def probe_full(spark, sf_dir: str) -> dict:
    """Same update batch merged into a NON-partitioned table (whole-table
    read + rewrite — the WRITE_TRUNCATE shape the reference uses)."""
    tbl = os.path.join(ROOT, "work_full")
    shutil.rmtree(tbl, ignore_errors=True)

    t0 = time.perf_counter()
    versioned.commit(
        cdc._base_state_partitioned(spark, sf_dir).repartition(32), tbl, mode="overwrite"
    )
    seed_s = time.perf_counter() - t0

    release_blocks(spark)
    updates = spark.read.parquet(materialize_updates(spark, sf_dir))
    t0 = time.perf_counter()
    applied = cdc.merge_upsert(spark, tbl, updates, ["order_id"], "version", "b1")
    merge_s = time.perf_counter() - t0
    assert applied
    rows = versioned.read_version(spark, tbl).count()
    shutil.rmtree(tbl, ignore_errors=True)
    return {"seed_s": round(seed_s, 2), "merge_s": round(merge_s, 2), "rows_after": rows}


def main() -> None:
    factors = [
        int(x) for x in (sys.argv[1] if len(sys.argv) > 1 else "1,10,100").split(",")
    ]
    spark = get_session("cdc-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(ROOT, exist_ok=True)

    results = {}
    for factor in factors:
        sf_dir = build_orders(spark, factor)
        orders_rows = spark.read.parquet(
            os.path.join(sf_dir, "orders.parquet")
        ).count()
        dirty_rows = spark.read.parquet(materialize_updates(spark, sf_dir)).count()
        part = probe_partitioned(spark, sf_dir)
        full = probe_full(spark, sf_dir)
        r = {
            "orders_rows": orders_rows,
            "update_rows": dirty_rows,
            "partitioned": part,
            "full_table": full,
            "merge_ratio_part_over_full": round(
                part["merge_s"] / full["merge_s"], 3
            ),
        }
        results[f"x{factor}"] = r
        print(json.dumps({f"x{factor}": r}), flush=True)

    print(json.dumps({"summary": results}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
