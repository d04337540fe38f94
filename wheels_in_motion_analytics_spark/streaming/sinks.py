"""Streaming sinks & auxiliary sources (§7.3): foreachBatch for arbitrary
sinks, rate source for synthetic load.

foreachBatch is the production sink shape: each micro-batch arrives as a
normal DataFrame, so the batch operator library (including idempotent
parquet overwrite-by-partition) is reusable verbatim — one code path for
batch and streaming, the core Structured Streaming design win.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic load source: (timestamp, value) at a fixed rate."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def foreach_batch_parquet_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    batch_hook: Callable[[DataFrame, int], None] | None = None,
):
    """writeStream.foreachBatch → append parquet per micro-batch, with an
    optional hook (metrics, dedup, warehouse upsert) over the batch
    DataFrame. Returns the started StreamingQuery."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_hook is not None:
            batch_hook(batch_df, batch_id)
        batch_df.write.mode("append").parquet(path)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Streaming CDC: foreachBatch + keyed MERGE (exactly-once upsert sink)
# ---------------------------------------------------------------------------

import os  # noqa: E402

import pyspark.sql.functions as F  # noqa: E402

from wheels_in_motion_analytics_spark.registry import register  # noqa: E402
from wheels_in_motion_analytics_spark.sources import versioned  # noqa: E402

_SU_KEY_MOD = 23  # keep ~1/23 of orders as CDC keys
_SU_V2_MOD = 3  # keys with o_orderkey % 3 != 0 receive a second version


@register(
    "stream_upsert_foreachbatch",
    category="streaming",
    doc="STREAMING CDC UPSERT, oracle-checked end-to-end: a change stream "
    "(version-1 'P' placeholder rows, then version-2 finals for 2/3 of the "
    "keys, staged as separate files) runs through foreachBatch under "
    "trigger availableNow with maxFilesPerTrigger=1, and EVERY micro-batch "
    "is applied to a versioned target via the keyed MERGE from sources/cdc.py "
    "(one merge commit per batch that records the batch id — the "
    "exactly-once guard; the first batch becomes the table's first "
    "version). Because the merge keeps the highest version per "
    "key, the final table state is independent of micro-batch boundaries — "
    "which is what makes a streaming SINK value-hash-comparable to a batch "
    "SQL oracle. The batch handler is the same merge the batch CDC "
    "pipeline uses: one code path for batch and streaming apply.",
    oracle=f"""
WITH k AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % {_SU_KEY_MOD} = 0
)
SELECT o_orderkey AS order_id,
       CASE WHEN o_orderkey % {_SU_V2_MOD} <> 0 THEN o_orderstatus ELSE 'P' END AS status,
       CASE WHEN o_orderkey % {_SU_V2_MOD} <> 0 THEN o_totalprice ELSE 0.0 END AS total_price,
       CASE WHEN o_orderkey % {_SU_V2_MOD} <> 0 THEN 2 ELSE 1 END AS version
FROM k
""",
)
def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_upsert(spark, sf_dir, max_files_per_trigger=1)


def run_stream_upsert(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None
) -> DataFrame:
    """Core of ``stream_upsert_foreachbatch``, parameterized on the
    micro-batch split so tests can assert the final state is identical for
    one-file-per-batch vs everything-in-one-batch. Each micro-batch is one
    merge commit on the versioned table at ``target``; there is no seed
    write — the first batch's merge creates the table."""
    import shutil
    import tempfile

    from wheels_in_motion_analytics_spark.sources.cdc import merge_upsert
    from wheels_in_motion_analytics_spark.tables import table

    base = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % _SU_KEY_MOD == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    v1 = base.select(
        F.col("o_orderkey").alias("order_id"),
        F.lit("P").alias("status"),
        F.lit(0.0).alias("total_price"),
        F.lit(1).alias("version"),
    )
    v2 = base.where(F.col("o_orderkey") % _SU_V2_MOD != 0).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total_price"),
        F.lit(2).alias("version"),
    )

    stage = tempfile.mkdtemp(prefix="stream_upsert_src_")
    target = tempfile.mkdtemp(prefix="stream_upsert_tgt_")
    ckpt = tempfile.mkdtemp(prefix="stream_upsert_ckpt_")
    # two files staged in arrival order → with maxFilesPerTrigger=1 the
    # stream applies them as separate micro-batches
    v1.coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, "f1"))
    v2.coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, "f2"))

    schema = "order_id BIGINT, status STRING, total_price DOUBLE, version INT"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the merge's per-key winner also dedups keys within the batch
        merge_upsert(
            batch_df.sparkSession,
            target,
            batch_df,
            ["order_id"],
            "version",
            f"stream-batch-{batch_id}",
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    q = (
        reader.parquet(os.path.join(stage, "*"))
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("availableNow upsert stream did not finish in 300s")
    # materialize the final state, then reclaim the staged copies — each
    # bench/driver invocation would otherwise leak three temp dirs
    final = versioned.read_version(spark, target).localCheckpoint()
    for d in (stage, target, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    return final


# ---------------------------------------------------------------------------
# Streaming ingestion into the versioned (commit-log) table — the
# lakehouse ingest shape: every micro-batch is an atomic ACID append
# ---------------------------------------------------------------------------

_SI_KEY_MOD = 11  # bounded deterministic slice of events


@register(
    "stream_ingest_versioned_table",
    category="streaming",
    doc="Streaming ingestion into the versioned commit-log table "
    "(sources/versioned.py): an availableNow file stream over three "
    "staged event slices, foreachBatch committing each micro-batch as an "
    "ATOMIC append (data files written before the manifest rename — a "
    "crash mid-batch leaves only invisible orphans, the exactly-once "
    "lakehouse ingest contract). The result reads the FINAL snapshot "
    "through the commit log and aggregates per event type, plus the "
    "commit-count audit (3 micro-batches -> 3 versions with "
    "maxFilesPerTrigger=1). Value cents on the exact integer grid. "
    "Oracle = batch aggregate over the same slice (stream/batch parity) "
    "with the replayed version count.",
    oracle=f"""
WITH s AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         event_id
  FROM events WHERE event_id % {_SI_KEY_MOD} = 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(3 AS BIGINT) AS n_versions
FROM s GROUP BY event_type
""",
)
def stream_ingest_versioned_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from wheels_in_motion_analytics_spark.sources.versioned import (
        commit,
        current_version,
        read_version,
    )
    from wheels_in_motion_analytics_spark.tables import table

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_id") % _SI_KEY_MOD == 0)
        .select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
    )
    stage = tempfile.mkdtemp(prefix="stream_ingest_src_")
    root = tempfile.mkdtemp(prefix="stream_ingest_tbl_")
    ckpt = tempfile.mkdtemp(prefix="stream_ingest_ckpt_")
    # three arrival files split on a residue of the id — with
    # maxFilesPerTrigger=1 each becomes its own micro-batch/commit
    for part in range(3):
        ev.where(F.col("event_id") % 3 == part).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, f"f{part}"))

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        commit(batch_df, root, mode="append")

    q = (
        spark.readStream.schema("event_id BIGINT, event_type STRING, cents BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(stage, "*"))
        .writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("availableNow ingest stream did not finish in 300s")
    n_versions = current_version(root)
    final = (
        read_version(spark, root)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .withColumn("n_versions", F.lit(n_versions).cast("bigint"))
        .localCheckpoint()
    )
    for d in (stage, root, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    return final


# ---------------------------------------------------------------------------
# Multi-sink fanout — one stream, two exactly-once destinations
# ---------------------------------------------------------------------------

_FO_KEY_MOD = 13


def fold_type_totals(root: str, batch_df: DataFrame, batch_id: str) -> bool:
    """Fold one micro-batch's per-``event_type`` (count, cents) into the
    running totals held as a versioned table at ``root``: one commit that
    records ``batch_id``. Returns False (no-op) if the id is already
    recorded, so a replayed foreachBatch id cannot double-count."""
    base, head = versioned.head(root)
    if batch_id in head.get("batch_ids", ()):
        return False
    rows = batch_df.select(
        "event_type",
        F.lit(1).cast("bigint").alias("n"),
        F.col("cents").cast("bigint").alias("c"),
    )
    if base:
        rows = versioned.read_version(batch_df.sparkSession, root, base).unionByName(rows)
    totals = rows.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n"), F.sum("c").cast("bigint").alias("c")
    )
    versioned.commit(totals, root, mode="overwrite", expected_version=base, batch_id=batch_id)
    return True


@register(
    "stream_fanout_two_sinks",
    category="streaming",
    doc="Multi-sink streaming fanout: ONE availableNow stream whose "
    "foreachBatch writes every micro-batch to TWO destinations — a "
    "partitioned parquet mirror (idempotent per-batch overwrite into a "
    "batch=<id> subdir: replays rewrite, never duplicate) and a running "
    "per-type aggregate folded by one versioned commit per batch that "
    "records the batch id (replays are no-ops). The result joins "
    "both destinations and PROVES they agree: per event type, the "
    "mirror's recount vs the merged running totals, with match verdicts. "
    "This is the consistency contract a dual-write pipeline (lake mirror "
    "+ serving state) must keep; batch-boundary independence comes free "
    "from the idempotent batch-dir scheme. Exact integer cents.",
    oracle=f"""
WITH s AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_id % {_FO_KEY_MOD} = 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS mirror_events,
       CAST(SUM(cents) AS BIGINT) AS mirror_cents,
       CAST(COUNT(*) AS BIGINT) AS state_events,
       CAST(SUM(cents) AS BIGINT) AS state_cents,
       TRUE AS sinks_agree
FROM s GROUP BY event_type
""",
)
def stream_fanout_two_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from wheels_in_motion_analytics_spark.tables import table

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_id") % _FO_KEY_MOD == 0)
        .select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
    )
    stage = tempfile.mkdtemp(prefix="fanout_src_")
    mirror = tempfile.mkdtemp(prefix="fanout_mirror_")
    state = tempfile.mkdtemp(prefix="fanout_state_")
    ckpt = tempfile.mkdtemp(prefix="fanout_ckpt_")
    for part in range(3):
        ev.where(F.col("event_id") % 3 == part).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, f"f{part}"))

    def fanout(batch_df: DataFrame, batch_id: int) -> None:
        # sink 1: idempotent lake mirror — replays overwrite their own dir
        batch_df.write.mode("overwrite").parquet(
            os.path.join(mirror, f"batch={batch_id}")
        )
        # sink 2: running per-type totals, one commit per batch id
        fold_type_totals(state, batch_df, str(batch_id))

    q = (
        spark.readStream.schema("event_id BIGINT, event_type STRING, cents BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(stage, "*"))
        .writeStream.foreachBatch(fanout)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("availableNow fanout stream did not finish in 300s")
    m = (
        spark.read.schema("event_id BIGINT, event_type STRING, cents BIGINT")
        .parquet(os.path.join(mirror, "batch=*"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("mirror_events"),
            F.sum("cents").cast("bigint").alias("mirror_cents"),
        )
    )
    st = versioned.read_version(spark, state).select(
        "event_type",
        F.col("n").alias("state_events"),
        F.col("c").alias("state_cents"),
    )
    out = (
        m.join(st, "event_type")
        .select(
            "event_type",
            "mirror_events",
            "mirror_cents",
            "state_events",
            "state_cents",
            (
                (F.col("mirror_events") == F.col("state_events"))
                & (F.col("mirror_cents") == F.col("state_cents"))
            ).alias("sinks_agree"),
        )
        .localCheckpoint()
    )
    for dpath in (stage, mirror, state, ckpt):
        shutil.rmtree(dpath, ignore_errors=True)
    return out
