"""Scale probe of the incremental-maintenance (CDC MERGE) family (round 10).

The partition-scoped merge's 100 TB claim (sources/cdc.py:212) is
"work scales with the dirty set, not the table". The registry verifies its
CORRECTNESS at small sf; this probe verifies the SCALING CLAIM by
measuring both merge variants over the same dirty-month update batch at
1x, 10x and 100x the sf0.1 orders table (100x ~ 150M rows — the sf100
orders cardinality, where a full-table rewrite is minutes and a
partition-scoped one must not be):

* ``partitioned`` — merge_upsert_partitioned: partition-pruned read of the
  3 dirty months + dynamic partition overwrite of only those directories.
* ``full`` — merge_upsert: whole-table read + whole-table rewrite (the
  reference's WRITE_TRUNCATE shape, sources/cdc.py docstring).

Claim confirmed iff the partitioned/full wall-time ratio stays pinned near
the dirty-data fraction (~4%) as the table grows 10x and 100x — i.e. the
partitioned merge's cost tracks the dirty volume axis, the full merge's
cost tracks the table volume axis. The probe also re-checks, at every
scale: untouched partition directories byte-identical after the merge
(file->size map equality), and the exactly-once ledger no-op re-apply.

Expansion: o_orderkey re-spaced per replica (key + rep*10_000_000 — clear
of the +200_000_000 insert key space); o_orderdate untouched, so the
month-partition layout and the 3-month dirty set are scale-invariant while
every partition's volume grows with the factor.

Not part of bench.py (runtime is minutes). Results live in PERFORMANCE.md
("Round-10 scale probe: the CDC merge family"). Run:

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
from wheels_in_motion_analytics_spark.sources import cdc
from wheels_in_motion_analytics_spark.tables import local_frame

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


def partition_sizes(data_path: str) -> dict[str, dict[str, int]]:
    """month -> {filename: bytes} for every partition directory."""
    out: dict[str, dict[str, int]] = {}
    for d in sorted(os.listdir(data_path)):
        full = os.path.join(data_path, d)
        if not (os.path.isdir(full) and d.startswith("order_month=")):
            continue
        out[d] = {
            f: os.path.getsize(os.path.join(full, f))
            for f in sorted(os.listdir(full))
            if not f.startswith(("_", "."))
        }
    return out


def probe_partitioned(spark, sf_dir: str) -> dict:
    """Seed the month-partitioned table, time the partition-scoped merge."""
    tbl = os.path.join(ROOT, "work_part")
    shutil.rmtree(tbl, ignore_errors=True)
    data_path = os.path.join(tbl, "data")

    t0 = time.perf_counter()
    base = cdc._base_state_partitioned(spark, sf_dir).localCheckpoint()
    base.repartition(F.col("order_month")).write.mode("overwrite").partitionBy(
        "order_month"
    ).parquet(data_path)
    seed_s = time.perf_counter() - t0
    local_frame(spark, [], cdc._LEDGER_SCHEMA).write.mode("overwrite").parquet(
        cdc._ledger_path(tbl)
    )

    release_blocks(spark)
    before = partition_sizes(data_path)
    updates = spark.read.parquet(materialize_updates(spark, sf_dir))
    t0 = time.perf_counter()
    applied = cdc.merge_upsert_partitioned(
        spark, tbl, updates, ["order_id"], "version", "order_month", "b1"
    )
    merge_s = time.perf_counter() - t0
    assert applied

    t0 = time.perf_counter()
    reapplied = cdc.merge_upsert_partitioned(
        spark, tbl, updates, ["order_id"], "version", "order_month", "b1"
    )
    noop_s = time.perf_counter() - t0
    assert not reapplied, "exactly-once ledger violated"

    after = partition_sizes(data_path)
    dirty = {f"order_month={m}" for m in cdc.DIRTY_MONTHS}
    untouched_ok = all(
        before[m] == after[m] for m in before if m not in dirty
    )
    rewritten = sorted(m for m in after if before.get(m) != after.get(m))
    rows = spark.read.parquet(data_path).count()
    shutil.rmtree(tbl, ignore_errors=True)
    return {
        "seed_s": round(seed_s, 2),
        "merge_s": round(merge_s, 2),
        "noop_s": round(noop_s, 3),
        "rows_after": rows,
        "partitions": len(before),
        "rewritten_dirs": rewritten,
        "untouched_byte_identical": untouched_ok,
    }


def probe_full(spark, sf_dir: str) -> dict:
    """Same update batch merged into a NON-partitioned table (whole-table
    read + rewrite — the WRITE_TRUNCATE shape the reference uses)."""
    tbl = os.path.join(ROOT, "work_full")
    shutil.rmtree(tbl, ignore_errors=True)
    data_path = os.path.join(tbl, "data")

    t0 = time.perf_counter()
    base = cdc._base_state_partitioned(spark, sf_dir).localCheckpoint()
    base.repartition(32).write.mode("overwrite").parquet(data_path)
    seed_s = time.perf_counter() - t0
    local_frame(spark, [], cdc._LEDGER_SCHEMA).write.mode("overwrite").parquet(
        cdc._ledger_path(tbl)
    )

    release_blocks(spark)
    updates = spark.read.parquet(materialize_updates(spark, sf_dir))
    t0 = time.perf_counter()
    applied = cdc.merge_upsert(
        spark, tbl, updates, ["order_id"], "version", "b1"
    )
    merge_s = time.perf_counter() - t0
    assert applied
    rows = spark.read.parquet(data_path).count()
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
