"""Versioned parquet table with snapshot isolation and time travel — the
transaction-log-lite the environment's missing Delta/Iceberg would provide.

Layout::

    <root>/data/v{N}/<attempt>/*.parquet           immutable data files
    <root>/data/v{N}/<attempt>/<col>=<val>/*.parquet   (partitioned tables)
    <root>/_log/v{N}.json                          commit manifest

A *commit* stages new data files, then publishes the manifest (``_publish``)
with an atomic no-replace link — readers either see the old version or the
new one, never a half-written directory listing, and of two writers racing
for version N exactly one wins (compare-and-swap on the log entry; the
loser gets ``VersionConflict``). Each commit attempt stages into its own
``<attempt>`` directory, so a retry after a crash between staging and
publish never collides with the crashed attempt's orphans. Old files are
never mutated or deleted, so every historical version stays readable (time
travel) and in-flight readers of version N are isolated from a concurrent
commit of N+1.

A manifest lists the version's files, the table schema (reads supply it,
so no footer-inference job runs), the partition column if any, and the ids
of every batch applied to the table so far — carried forward by every
commit, so a batch id is published in the same step as the data it
applied (Delta's ``txn`` action). ``append`` commits reference the parent's
files plus the new ones; ``overwrite`` commits reference only the new ones;
``merge`` commits keep a chosen subset of the parent's files (the clean
partitions of a partition-scoped rewrite — Delta's remove+add). Readers
NEVER list the data directory — the manifest is the source of truth, so
stale files from failed commits are invisible (exactly the property
directory-listing parquet lacks).

Reference analogue: the serving loads are WRITE_TRUNCATE per run
(proc_2_GCS_to_BQ_dag.py:89-91) — correct but destroys history; this keeps
every load addressable.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T

from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import table


class VersionConflict(RuntimeError):
    """Another writer committed this version first (CAS failure)."""


def _log_dir(root: str) -> str:
    return os.path.join(root, "_log")


def _data_dir(root: str) -> str:
    return os.path.join(root, "data")


def current_version(root: str) -> int:
    """Highest committed version, or 0 if the table is empty."""
    log = _log_dir(root)
    if not os.path.isdir(log):
        return 0
    versions = [
        int(f[1:-5])
        for f in os.listdir(log)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions, default=0)


def _manifest(root: str, version: int) -> dict:
    with open(os.path.join(_log_dir(root), f"v{version}.json")) as fh:
        return json.load(fh)


def head(root: str) -> tuple[int, dict]:
    """The latest version and its manifest (``(0, {})`` for a table with
    no commits) — a driver-side JSON read, no Spark job."""
    v = current_version(root)
    return v, (_manifest(root, v) if v else {})


def _stage(df: DataFrame, root: str, top: str, partition_col: str | None = None) -> list[str]:
    """Write ``df`` under a fresh ``data/<top>/<attempt>/`` directory and
    return the written files as manifest entries (relative to ``data/``)."""
    stage = os.path.join(_data_dir(root), top, uuid.uuid4().hex[:12])
    writer = df.write.mode("errorifexists")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(stage)
    return sorted(
        os.path.relpath(os.path.join(d, f), _data_dir(root))
        for d, _, names in os.walk(stage)
        for f in names
        if f.endswith(".parquet")
    )


def _union_schema(prev: dict, schema: T.StructType) -> T.StructType:
    """The parent's recorded schema plus the columns ``schema`` adds."""
    if "schema" not in prev:
        return schema
    old = T.StructType.fromJson(prev["schema"])
    return T.StructType(old.fields + [f for f in schema.fields if f.name not in old.names])


def _publish(
    root: str,
    manifest: dict,
    prev: dict,
    schema: T.StructType | None = None,
    batch_id: str | None = None,
) -> int:
    """Publish ``manifest`` as log entry ``v{manifest['version']}`` — the
    one way a version enters the log. Records ``schema`` (default: the
    parent's) and the parent's batch ids plus ``batch_id``. The entry is
    written to a temp file and hard-linked into place: the link fails if
    the entry exists (a rename would silently replace the first writer's
    entry), so the check and the publish are one atomic step."""
    if schema is not None:
        manifest["schema"] = schema.jsonValue()
    elif "schema" in prev:
        manifest["schema"] = prev["schema"]
    batch_ids = prev.get("batch_ids", []) + ([batch_id] if batch_id is not None else [])
    if batch_ids:
        manifest["batch_ids"] = batch_ids
    version = manifest["version"]
    final = os.path.join(_log_dir(root), f"v{version}.json")
    fd, tmp = tempfile.mkstemp(dir=_log_dir(root), suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(manifest, fh)
        os.link(tmp, final)
    except FileExistsError:
        raise VersionConflict(f"v{version} of {root} already committed") from None
    finally:
        os.unlink(tmp)
    return version


def commit(
    df: DataFrame,
    root: str,
    mode: str = "append",
    expected_version: int | None = None,
    batch_id: str | None = None,
    partition_col: str | None = None,
    keep: list[str] | None = None,
) -> int:
    """Write ``df`` as a new table version; returns the committed version.

    ``mode``: ``append`` carries the parent's files forward (and inherits
    its partition column), ``overwrite`` carries none, ``merge`` carries
    the parent entries listed in ``keep``. ``expected_version``
    (optimistic CAS): fail with VersionConflict if the table has moved
    past it. ``batch_id`` is recorded in the published manifest.
    ``partition_col`` writes hive-style ``<col>=<val>/`` directories. Data
    files are written BEFORE the manifest publish, so a crash mid-commit
    leaves only invisible orphans.
    """
    os.makedirs(_log_dir(root), exist_ok=True)
    base, prev = head(root)
    if expected_version is not None and base != expected_version:
        raise VersionConflict(f"expected v{expected_version}, table is at v{base}")
    version = base + 1
    schema = df.schema
    if mode == "append":
        partition_col = partition_col or prev.get("partition_col")
        schema = _union_schema(prev, schema)
    new_files = _stage(df, root, f"v{version}", partition_col)
    manifest = {"version": version, "mode": mode}
    if mode == "append":
        manifest["files"] = prev.get("files", []) + new_files
        # An append must carry the accumulated DV chain forward or the
        # deleted rows resurrect in every later snapshot (caught by the
        # change-feed replay invariant in tests/test_versioned.py). The
        # vectors are sequence-scoped at read time (read_version_mor): they
        # tombstone only files older than themselves, so rows this append
        # re-inserts stay visible. An overwrite legitimately clears the
        # chain — it re-baselines row identity.
        if prev.get("deletes"):
            manifest["deletes"] = prev["deletes"]
            manifest["delete_key"] = prev["delete_key"]
    else:
        manifest["files"] = (keep or []) + new_files
    if partition_col is not None:
        manifest["partition_col"] = partition_col
    return _publish(root, manifest, prev, schema, batch_id)


def read_entries(
    spark: SparkSession,
    root: str,
    manifest: dict,
    entries: list[str],
    schema: T.StructType | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Scan ``entries`` (files of the version described by ``manifest``).

    The schema defaults to the manifest's recorded one — no footer-
    inference job; ``merge_schema=True`` infers the union of the files'
    schemas instead. A partitioned table is read one scan per staging
    directory, with that directory as ``basePath`` (a plain read of files
    from two versions NULLs the partition column; one ``basePath`` over
    both is a conflicting directory structure)."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    elif schema is None and "schema" in manifest:
        schema = T.StructType.fromJson(manifest["schema"])
    if schema is not None:
        reader = reader.schema(schema)
    data = _data_dir(root)
    col = manifest.get("partition_col")
    if col is None:
        return reader.parquet(*[os.path.join(data, e) for e in entries])
    stages: dict[str, list[str]] = {}
    for e in entries:
        stages.setdefault(e.split(f"{os.sep}{col}=", 1)[0], []).append(e)
    scans = [
        reader.option("basePath", os.path.join(data, stage)).parquet(
            *[os.path.join(data, e) for e in files]
        )
        for stage, files in stages.items()
    ]
    if not scans:
        return reader.parquet()
    out = scans[0]
    for scan in scans[1:]:
        out = out.unionByName(scan, allowMissingColumns=merge_schema)
    return out


def read_version(
    spark: SparkSession, root: str, version: int | None = None, merge_schema: bool = False
) -> DataFrame:
    """Snapshot read of ``version`` (default: latest). File list comes from
    the manifest, never a directory listing. A version whose manifest
    carries deletion vectors (a MoR DELETE commit) delegates to the
    merge-on-read path — a plain file read of such a version would
    resurrect deleted rows. ``merge_schema=True`` unions file schemas
    across generations (schema-evolution reads: pre-evolution files
    NULL-fill added columns)."""
    v = current_version(root) if version is None else version
    if v == 0:
        raise ValueError(f"versioned table at {root} has no commits")
    m = _manifest(root, v)
    if m.get("deletes"):
        return read_version_mor(spark, root, version=v, merge_schema=merge_schema)
    return read_entries(spark, root, m, m["files"], merge_schema=merge_schema)


@register(
    "versioned_table_time_travel",
    category="cdc",
    doc="Snapshot-isolated versioned table: three commits (initial load, "
    "append, overwrite-correction) then a TIME-TRAVEL read of v2 — the "
    "pre-correction state — aggregated per status. Readers resolve files "
    "from the atomically published commit log, never directory listings, so "
    "v2 stays byte-stable after v3 overwrites. Oracle reproduces v2's "
    "logical content (orders before the 1999 cutoff) relationally.",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM orders
WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY o_orderstatus
""",
)
def versioned_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    cut_v1 = F.lit("1997-01-01 00:00:00").cast("timestamp")
    cut_v2 = F.lit("1999-01-01 00:00:00").cast("timestamp")
    root = tempfile.mkdtemp(prefix="versioned_")
    # v1: initial load (pre-1997)
    commit(orders.where(F.col("o_orderdate") < cut_v1), root, mode="overwrite")
    # v2: append 1997-1998
    commit(
        orders.where(
            (F.col("o_orderdate") >= cut_v1) & (F.col("o_orderdate") < cut_v2)
        ),
        root,
        mode="append",
        expected_version=1,
    )
    # v3: full correction overwrite (everything, prices zeroed — a bad load
    # the time-travel read must NOT see)
    commit(
        orders.withColumn("o_totalprice", F.lit(0.0)),
        root,
        mode="overwrite",
        expected_version=2,
    )
    return (
        read_version(spark, root, version=2)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@register(
    "snapshot_diff_orders",
    category="cdc",
    doc="Snapshot reconciliation: FULL OUTER join of two table states on "
    "the primary key, classifying every key as added / removed / changed / "
    "unchanged (payload compared via md5 over a canonical column render). "
    "The audit every CDC/backfill pipeline runs after a load; one key "
    "shuffle, counts map-side combined.",
    oracle="""
WITH v_old AS (
  SELECT o_orderkey,
         md5(CAST(o_orderstatus AS VARCHAR) || '|' ||
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)) AS payload
  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
),
v_new AS (
  SELECT o_orderkey,
         md5(CAST(CASE WHEN o_orderstatus = 'P' THEN 'F' ELSE o_orderstatus END
                  AS VARCHAR) || '|' ||
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)) AS payload
  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
)
SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.payload <> n.payload THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       COUNT(*) AS n_keys
FROM v_old o FULL OUTER JOIN v_new n ON o.o_orderkey = n.o_orderkey
GROUP BY 1
ORDER BY change_type
""",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")

    def payload(status_col):
        return F.md5(
            F.concat_ws(
                "|",
                status_col.cast("string"),
                F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
            )
        )

    old = orders.where(
        F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp")
    ).select(
        F.col("o_orderkey").alias("k_old"),
        payload(F.col("o_orderstatus")).alias("p_old"),
    )
    new = orders.where(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    ).select(
        F.col("o_orderkey").alias("k_new"),
        payload(
            F.when(F.col("o_orderstatus") == "P", "F").otherwise(
                F.col("o_orderstatus")
            )
        ).alias("p_new"),
    )
    change = (
        F.when(F.col("k_old").isNull(), "added")
        .when(F.col("k_new").isNull(), "removed")
        .when(F.col("p_old") != F.col("p_new"), "changed")
        .otherwise("unchanged")
    )
    return (
        old.join(new, F.col("k_old") == F.col("k_new"), "full_outer")
        .select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("change_type")
    )


def merge_agg_state(state: DataFrame, batch: DataFrame, keys: list[str]) -> DataFrame:
    """Merge a partial-aggregate batch into an aggregate state table: union
    then re-sum. Works because (count, decimal-sum) are commutative
    monoids — the core of incremental materialized-view maintenance."""
    return (
        state.unionByName(batch)
        .groupBy(*keys)
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_q").alias("total_q"),
        )
    )


def _order_agg_batch(orders: DataFrame) -> DataFrame:
    """Partial aggregate of one order batch in mergeable form (decimal sum
    kept as DECIMAL so later merges stay exact)."""
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("total_q"),
    )


@register(
    "incremental_agg_maintenance",
    category="cdc",
    doc="Incremental materialized-view maintenance: a per-status aggregate "
    "state table is seeded from the initial load, then two later batches "
    "are merged as PARTIAL aggregates (union + re-sum of count/decimal-sum "
    "monoids) — each refresh touches only the batch plus the tiny state, "
    "never the full history. Every state version commits to the versioned "
    "table (atomic publish, time-travelable). Oracle: the equivalent "
    "one-shot aggregate over the full input — incremental == full is the "
    "correctness property of the pattern.",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM orders
GROUP BY o_orderstatus
""",
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    c1 = F.lit("1997-01-01 00:00:00").cast("timestamp")
    c2 = F.lit("1999-01-01 00:00:00").cast("timestamp")
    root = tempfile.mkdtemp(prefix="incr_agg_")
    commit(
        _order_agg_batch(orders.where(F.col("o_orderdate") < c1)).coalesce(1),
        root,
        mode="overwrite",
    )
    for batch_filter in (
        (F.col("o_orderdate") >= c1) & (F.col("o_orderdate") < c2),
        F.col("o_orderdate") >= c2,
    ):
        # No localCheckpoint needed: a commit writes into a NEW version
        # directory, never over the files the state read came from.
        # coalesce(1): the state is O(|groups|) rows — one file per version.
        merged = merge_agg_state(
            read_version(spark, root),
            _order_agg_batch(orders.where(batch_filter)),
            ["o_orderstatus"],
        ).coalesce(1)
        commit(merged, root, mode="overwrite")
    return read_version(spark, root).select(
        "o_orderstatus",
        "n_orders",
        F.col("total_q").cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# OPTIMIZE: small-file compaction
# ---------------------------------------------------------------------------


def compact(
    spark: SparkSession, root: str, target_files: int = 4
) -> int:
    """Rewrite the latest version's content into ``target_files`` files and
    commit it as a new overwrite version (Delta OPTIMIZE-lite). Logical
    content is untouched; old versions remain time-travelable because their
    files are immutable and still referenced by their manifests."""
    v = current_version(root)
    # merge_schema: a compaction after a schema-evolution append must
    # rewrite under the UNION schema — the plain read takes one file's
    # schema and silently DROPS evolved columns (data loss; regression
    # test pins this).
    data = read_version(spark, root, v, merge_schema=True)
    return commit(
        data.repartition(target_files), root, mode="overwrite", expected_version=v
    )


def manifest_file_count(root: str, version: int | None = None) -> int:
    v = current_version(root) if version is None else version
    return len(_manifest(root, v)["files"])


_COMPACT_CHECK_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "CENTS:o_totalprice",
]


@register(
    "versioned_compact_optimize",
    category="cdc",
    doc="Small-file compaction (OPTIMIZE): 12 monthly micro-append commits "
    "spray the table into many small files; compact() rewrites the content "
    "into a handful and commits it as a new version (old versions stay "
    "time-travelable — files are immutable). Emits (phase, n_rows, "
    "checksum) before and after; the order-independent md5 checksum "
    "proves byte-level logical invariance, and the oracle recomputes both "
    "rows straight from the source relation.",
    oracle="""
WITH src AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
),
fp AS (
  SELECT COUNT(*) AS n_rows,
         CAST(CAST(SUM(CAST(('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(o_custkey AS VARCHAR) || '|' ||
             CAST(o_orderstatus AS VARCHAR) || '|' ||
             CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
           ), 1, 15))::BIGINT AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
           AS checksum
  FROM src
)
SELECT 'before' AS phase, n_rows, checksum FROM fp
UNION ALL
SELECT 'after' AS phase, n_rows, checksum FROM fp
""",
)
def versioned_compact_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.integrity import fingerprint_of

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    root = tempfile.mkdtemp(prefix="compact_")
    for m in range(1, 13):  # 12 monthly micro-appends, 2 files each
        lo = F.lit(f"1995-{m:02d}-01 00:00:00").cast("timestamp")
        hi = (
            F.lit(f"1995-{m + 1:02d}-01 00:00:00").cast("timestamp")
            if m < 12
            else F.lit("1996-01-01 00:00:00").cast("timestamp")
        )
        commit(
            orders.where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
            .drop("o_orderdate")
            .repartition(2),
            root,
            mode="append" if m > 1 else "overwrite",
        )

    def audit(phase: str) -> DataFrame:
        return fingerprint_of(
            read_version(spark, root), _COMPACT_CHECK_COLS
        ).select(F.lit(phase).alias("phase"), "n_rows", "checksum")

    before = audit("before").localCheckpoint()  # pin pre-compact answer
    compact(spark, root, target_files=3)
    return before.unionByName(audit("after"))


# --------------------------------------------------------------------------
# Branch / three-way merge — git-for-data on top of the commit log
# --------------------------------------------------------------------------


def create_branch(root: str, name: str, at: int | None = None) -> str:
    """Create a zero-copy branch ref at ``at`` (default: current head).

    A branch is its own commit log rooted under ``branches/<name>`` whose
    base manifest only RECORDS the fork point — no data files move; branch
    commits stage new immutable files beside it like any commit."""
    base_version = current_version(root) if at is None else at
    broot = os.path.join(root, "branches", name)
    os.makedirs(_log_dir(broot), exist_ok=True)
    os.makedirs(_data_dir(broot), exist_ok=True)
    manifest = {"version": 1, "mode": "branch-base", "files": [], "base_version": base_version}
    _publish(broot, manifest, {})
    return broot


def branch_base_version(root: str, name: str) -> int:
    return _manifest(os.path.join(root, "branches", name), 1)["base_version"]


def read_branch(
    spark: SparkSession, root: str, name: str, merge_schema: bool = False
) -> DataFrame:
    """Branch head state: the latest branch overwrite commit, else the
    fork-point snapshot of the main log."""
    broot = os.path.join(root, "branches", name)
    head = current_version(broot)
    if head > 1:
        return read_version(spark, broot, head, merge_schema=merge_schema)
    return read_version(
        spark, root, branch_base_version(root, name), merge_schema=merge_schema
    )


def merge_branch(
    spark: SparkSession, root: str, name: str, key: str
) -> tuple[DataFrame, DataFrame]:
    """Three-way keyed merge of a branch into the CURRENT main head.

    base = fork-point snapshot, ours = main head, theirs = branch head.
    Row-level diffs vs base classify each side's touched keys (changed,
    added, deleted — all relational anti-joins on an md5 row fingerprint);
    merged = ours with theirs' touched keys replaced/deleted/added.
    Returns (merged_state, conflicts) where conflicts lists keys changed
    on BOTH sides (resolved branch-wins, but surfaced — the audit half a
    real lakehouse merge needs)."""
    from wheels_in_motion_analytics_spark.operators.projection import (
        conform_schema,
    )

    base = read_version(
        spark, root, branch_base_version(root, name), merge_schema=True
    )
    ours = read_version(spark, root, merge_schema=True)
    theirs = read_branch(spark, root, name, merge_schema=True)
    # Conform every side to the union schema across the three: a schema
    # evolution on one side must neither drop the evolved column from the
    # merge result nor make untouched rows look "changed" merely because
    # the other sides lack the column (they see typed NULLs instead).
    union = {}
    for side in (base, ours, theirs):
        for f in side.schema.fields:
            union.setdefault(f.name, f)
    from pyspark.sql.types import StructType

    union_schema = StructType([union[n] for n in union])
    base = conform_schema(base, union_schema)
    ours = conform_schema(ours, union_schema)
    theirs = conform_schema(theirs, union_schema)

    def fp(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(key).alias("k"),
            F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in sorted(df.columns)])).alias("fp"),
        )

    base_fp, ours_fp, theirs_fp = fp(base), fp(ours), fp(theirs)
    # keys whose row content differs from base (changed or added), per side
    theirs_touched = (
        theirs_fp.join(base_fp, ["k", "fp"], "left_anti").select("k")
        .unionByName(base_fp.join(theirs_fp, ["k"], "left_anti").select("k"))
        .distinct()
    )
    ours_touched = (
        ours_fp.join(base_fp, ["k", "fp"], "left_anti").select("k")
        .unionByName(base_fp.join(ours_fp, ["k"], "left_anti").select("k"))
        .distinct()
    )
    conflicts = theirs_touched.join(ours_touched, "k").select(F.col("k").alias(key))
    merged = (
        ours.join(theirs_touched.withColumnRenamed("k", key), key, "left_anti")
        .unionByName(theirs.join(theirs_touched.withColumnRenamed("k", key), key, "left_semi"))
    )
    return merged, conflicts


@register(
    "versioned_branch_merge",
    category="cdc",
    doc="Branch + three-way MERGE on the versioned table (git-for-data): "
    "main commits pre-1997 orders, a zero-copy branch forks there, main "
    "then appends 1997 orders while the branch applies a +10% price "
    "correction to its urgent orders; merge_branch classifies each side's "
    "touched keys by row-fingerprint diff vs the fork snapshot (relational "
    "anti-joins) and replays the branch's changes onto the advanced main "
    "head. Divergent-key conflicts are surfaced (here: zero, since main "
    "only appended). Emits the merged state aggregated per (status, "
    "priority, exact integer cents) plus the conflict count on every row; "
    "DuckDB reproduces "
    "the merged logical state relationally.",
    oracle="""
WITH merged AS (
  SELECT o_orderstatus, o_orderpriority,
         CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                   AND o_orderpriority = '1-URGENT'
              THEN (CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 11 + 5) // 10
              ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END AS cents
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(0 AS BIGINT) AS n_conflicts
FROM merged GROUP BY 1, 2
""",
)
def versioned_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = tempfile.mkdtemp(prefix="branch_merge_")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    pre97 = orders.where(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    y97 = orders.where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    commit(pre97, root, mode="overwrite")
    create_branch(root, "price-fix")
    commit(y97, root, mode="append")  # main advances past the fork point
    # +10%% price correction in exact integer cents (round-half-up):
    # (cents*11 + 5) DIV 10 — identical integer math on both engines
    fixed = read_version(spark, root, 1).withColumn(
        "cents",
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            F.expr("CAST((cents * 11 + 5) DIV 10 AS BIGINT)"),
        ).otherwise(F.col("cents")),
    )
    commit(fixed, os.path.join(root, "branches", "price-fix"), mode="overwrite")
    merged, conflicts = merge_branch(spark, root, "price-fix", "o_orderkey")
    n_conf = conflicts.count()
    out = (
        merged.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )
        .withColumn("n_conflicts", F.lit(n_conf).cast("bigint"))
        .localCheckpoint()
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# Deletion vectors — merge-on-read deletes (no data-file rewrites)
# --------------------------------------------------------------------------


def commit_delete(df_keys: DataFrame, root: str, key: str) -> int:
    """Commit a DELETE as a deletion-vector sidecar: the doomed keys are
    written as a tiny parquet next to the data (never touching the
    immutable data files), and the manifest carries the DV chain. Readers
    anti-join the accumulated keys — merge-on-read, the cheap-delete half
    of the CoW/MoR trade-off (OPTIMIZE/compact() is the rewrite half)."""
    base, prev = head(root)
    if base == 0:
        raise ValueError("cannot delete from an empty table")
    version = base + 1
    new_dv = _stage(df_keys, root, f"v{version}-deletes")
    manifest = {
        "version": version,
        "mode": "delete",
        "files": prev["files"],  # data files carried forward untouched
        "deletes": prev.get("deletes", []) + new_dv,
        "delete_key": key,
    }
    if "partition_col" in prev:
        manifest["partition_col"] = prev["partition_col"]
    return _publish(root, manifest, prev)


def _entry_version(rel: str) -> int:
    """Commit version a manifest entry was created at, parsed from its
    version-scoped directory name (``v{N}/...`` data files, authored by
    commit/update_copy_on_write; ``v{N}-deletes/...`` DV sidecars)."""
    top = rel.split(os.sep, 1)[0]
    return int(top.removeprefix("v").removesuffix("-deletes"))


def read_version_mor(
    spark: SparkSession, root: str, version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Merge-on-read snapshot: data files minus the applicable deletion
    vectors. DVs are SEQUENCE-SCOPED, Iceberg-style: a DV committed at
    version K tombstones keys only in data files that already existed at
    K — a row re-inserted by a LATER append is a new row and must stay
    visible (pinned by the mixed-chain model test). Files are grouped by
    their applicable-DV set (at most one group per delete commit), each
    group anti-joined with the union of its DV keys — the same single-
    shuffle shape per group as the global form."""
    v = current_version(root) if version is None else version
    m = _manifest(root, v)
    dvs = m.get("deletes", [])
    if not dvs:
        return read_entries(spark, root, m, m["files"], merge_schema=merge_schema)
    groups: dict[tuple, list] = {}
    for f in m["files"]:
        fv = _entry_version(f)
        covering = tuple(dv for dv in dvs if _entry_version(dv) > fv)
        groups.setdefault(covering, []).append(f)
    pieces = []
    for covering, files in groups.items():
        part = read_entries(spark, root, m, files, merge_schema=merge_schema)
        if covering:
            keys = spark.read.parquet(
                *[os.path.join(_data_dir(root), d) for d in covering]
            )
            part = part.join(keys, m["delete_key"], "left_anti")
        pieces.append(part)
    out = pieces[0]
    for part in pieces[1:]:
        # groups may straddle a schema evolution; NULL-fill either side
        out = out.unionByName(part, allowMissingColumns=merge_schema)
    return out


@register(
    "versioned_merge_on_read_deletes",
    category="cdc",
    doc="Deletion vectors run end to end: load orders as a versioned "
    "table, then TWO delete commits (cancelled pre-1996 orders, then all "
    "low-value orders) that write only tiny key sidecars — the manifest "
    "proves the data files are byte-identical across the chain (verdict "
    "column, oracle-asserted TRUE). The merge-on-read snapshot anti-joins "
    "the accumulated vectors; aggregate per status must equal the "
    "relational predicate in DuckDB. The CoW/MoR trade-off's cheap half, "
    "next to versioned_compact_optimize's rewrite half.",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       TRUE AS data_files_untouched
FROM orders
WHERE NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01')
  AND NOT (o_totalprice < 1000.0)
GROUP BY o_orderstatus
""",
)
def versioned_merge_on_read_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = tempfile.mkdtemp(prefix="mor_deletes_")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    commit(orders, root, mode="overwrite")
    files_v1 = _manifest(root, 1)["files"]
    commit_delete(
        orders.where(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        ).select("o_orderkey"),
        root,
        "o_orderkey",
    )
    commit_delete(
        orders.where(F.col("o_totalprice") < 1000.0).select("o_orderkey"),
        root,
        "o_orderkey",
    )
    untouched = _manifest(root, 3)["files"] == files_v1
    out = (
        read_version_mor(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .withColumn("data_files_untouched", F.lit(bool(untouched)))
        .localCheckpoint()
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


def change_feed(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int,
    key_col: str = "o_orderkey",
    payload_cents_col: str = "o_totalprice",
) -> DataFrame:
    """Row-level change feed across a version range, derived from the
    commit log ALONE — the CDF surface of the versioned table.

    Append commits contribute exactly their NEW data files, read directly
    (``_change_type='insert'``); delete commits contribute their NEW
    deletion-vector sidecars (``'delete'``, key column only — DVs never
    carry payloads). No snapshot diffing anywhere, so the cost is
    O(changed data), not O(table): at 100 TB a day's feed reads a day's
    files. ``key_col``/``payload_cents_col`` parameterize the emitted row
    identity and the cents-quantized payload (defaults match the orders
    exhibits). Commit modes the feed cannot express raise explicitly: an
    overwrite (or COW ``update``) inside the range resets row identity and
    a file-level feed cannot express it (callers re-baseline from that
    snapshot instead); ``branch-base`` refs carry no files of their own.
    """
    if from_version < 1 or to_version < from_version:
        raise ValueError(f"bad change-feed range v{from_version}..v{to_version}")
    pieces: list[DataFrame] = []
    for v in range(from_version, to_version + 1):
        m = _manifest(root, v)
        mode = m["mode"]
        if mode not in ("overwrite", "append", "delete"):
            # 'update' rewrites files in place (row identity resets without
            # a DV trail); 'branch-base' is a ref, not data; anything else
            # is a future commit kind this feed has not been taught.
            raise ValueError(
                f"change feed cannot express the {mode!r} commit v{v}; "
                "re-baseline from that snapshot"
            )
        prev_files: set[str] = set()
        prev_dvs: set[str] = set()
        if v > 1:
            prev = _manifest(root, v - 1)
            prev_files = set(prev["files"])
            prev_dvs = set(prev.get("deletes", []))
        if mode == "overwrite":
            if v != 1:
                raise ValueError(
                    f"change feed cannot span the overwrite commit v{v}; "
                    "re-baseline from that snapshot"
                )
            new_files = list(m["files"])
        elif mode == "append":
            new_files = [f for f in m["files"] if f not in prev_files]
        else:  # delete
            new_dvs = [f for f in m.get("deletes", []) if f not in prev_dvs]
            keys = spark.read.parquet(
                *[os.path.join(_data_dir(root), f) for f in new_dvs]
            )
            pieces.append(
                keys.select(
                    F.lit(v).alias("commit_version"),
                    F.lit("delete").alias("change_type"),
                    F.col(m["delete_key"]).alias("row_key"),
                    F.lit(None).cast("bigint").alias("price_cents"),
                )
            )
            continue
        rows = spark.read.parquet(
            *[os.path.join(_data_dir(root), f) for f in new_files]
        )
        pieces.append(
            rows.select(
                F.lit(v).alias("commit_version"),
                F.lit("insert").alias("change_type"),
                F.col(key_col).alias("row_key"),
                F.floor(F.col(payload_cents_col) * 100 + 0.5)
                .cast("bigint")
                .alias("price_cents"),
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


@register(
    "versioned_change_feed",
    category="cdc",
    doc="CHANGE DATA FEED over the versioned table: a 4-commit chain "
    "(initial load, append, deletion-vector delete, append), then the "
    "row-level feed v1..v4 reconstructed from the commit log alone — "
    "append commits read only their NEW files, delete commits only their "
    "NEW DV sidecars, so feed cost is O(changed data) never O(table) "
    "(the downstream-incremental-consumer surface next to "
    "snapshot_diff_orders' full-reconciliation audit). Emitted as "
    "per-(commit, change-type) counts, key-sums and cents-sums the oracle "
    "replicates from the same version-cut predicates; DV deletes are "
    "key-only so their cents-sum is NULL by contract.",
    oracle="""
SELECT CAST(1 AS INTEGER) AS commit_version, 'insert' AS change_type,
       COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders WHERE o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
UNION ALL
SELECT CAST(2 AS INTEGER), 'insert', COUNT(*),
       CAST(SUM(o_orderkey) AS BIGINT),
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
UNION ALL
SELECT CAST(3 AS INTEGER), 'delete', COUNT(*),
       CAST(SUM(o_orderkey) AS BIGINT), CAST(NULL AS BIGINT)
FROM orders
WHERE o_totalprice < 5000.0
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
UNION ALL
SELECT CAST(4 AS INTEGER), 'insert', COUNT(*),
       CAST(SUM(o_orderkey) AS BIGINT),
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
""",
)
def versioned_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = tempfile.mkdtemp(prefix="cdf_")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    cut_a = F.lit("1996-07-01 00:00:00").cast("timestamp")
    cut_b = F.lit("1998-01-01 00:00:00").cast("timestamp")
    commit(orders.where(F.col("o_orderdate") < cut_a), root, mode="overwrite")
    commit(
        orders.where((F.col("o_orderdate") >= cut_a) & (F.col("o_orderdate") < cut_b)),
        root,
        mode="append",
        expected_version=1,
    )
    commit_delete(
        orders.where(
            (F.col("o_totalprice") < 5000.0) & (F.col("o_orderdate") < cut_b)
        ).select("o_orderkey"),
        root,
        "o_orderkey",
    )
    commit(
        orders.where(F.col("o_orderdate") >= cut_b),
        root,
        mode="append",
        expected_version=3,
    )
    feed = change_feed(spark, root, 1, 4)
    out = (
        feed.groupBy("commit_version", "change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("row_key").alias("sum_keys"),
            F.sum("price_cents").alias("sum_cents"),
        )
        .localCheckpoint()
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


def vacuum(root: str, retain_from: int) -> dict:
    """Reclaim storage: delete data files and DV sidecars referenced ONLY by
    versions older than ``retain_from``, and drop those versions' manifests.

    The retention horizon is a VERSION (time travel to ``>= retain_from``
    keeps working; older versions become unreadable by design — the same
    contract as Delta's VACUUM, expressed in versions instead of hours).
    Files are immutable and shared across manifests, so liveness is a set
    union over the retained manifests — an O(log) driver-side computation,
    never a data scan. Returns an audit dict (files before/after, reclaimed
    count, dropped versions).
    """
    head = current_version(root)
    if not 1 <= retain_from <= head:
        raise ValueError(f"retain_from v{retain_from} outside v1..v{head}")
    # Live branch refs PIN their fork-point version: its manifest and file
    # refs must survive a vacuum past the fork, or every branch read (and
    # any future merge) of that branch dangles (regression-test pinned).
    pinned: set[int] = set()
    bdir = os.path.join(root, "branches")
    if os.path.isdir(bdir):
        for name in sorted(os.listdir(bdir)):
            try:
                pinned.add(branch_base_version(root, name))
            except (FileNotFoundError, KeyError):
                continue
    all_refs: set[str] = set()
    live_refs: set[str] = set()
    for v in range(1, head + 1):
        m = _manifest(root, v)
        refs = set(m["files"]) | set(m.get("deletes", []))
        all_refs |= refs
        if v >= retain_from or v in pinned:
            live_refs |= refs
    doomed = sorted(all_refs - live_refs)
    for rel in doomed:
        path = os.path.join(_data_dir(root), rel)
        if os.path.exists(path):
            os.unlink(path)
    dropped = [v for v in range(1, retain_from) if v not in pinned]
    for v in dropped:
        os.unlink(os.path.join(_log_dir(root), f"v{v}.json"))
    return {
        "files_before": len(all_refs),
        "files_after": len(live_refs),
        "reclaimed": len(doomed),
        "dropped_versions": len(dropped),
    }


@register(
    "versioned_vacuum_retention",
    category="cdc",
    doc="VACUUM with a version-retention horizon, completing the table "
    "lifecycle (commit → compact → branch → MoR delete → CDF → vacuum): a "
    "4-commit chain where v3 overwrites (orphaning v1/v2-only files), then "
    "vacuum(retain_from=3) deletes exactly the files no retained manifest "
    "references — liveness is a manifest set-union on the driver, never a "
    "data scan, so a 100 TB vacuum costs O(versions × files-per-manifest) "
    "metadata work plus the deletes. Emits the audit plus the surviving "
    "head aggregate; the oracle recomputes the aggregate relationally and "
    "asserts the audit verdicts (pre-horizon read now fails, head content "
    "intact, orphan count as constructed).",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents,
       TRUE AS reclaimed_old_only,
       TRUE AS old_reads_fail,
       TRUE AS head_intact
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderstatus
""",
)
def versioned_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = tempfile.mkdtemp(prefix="vacuum_")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")
    commit(orders.where(F.col("o_orderdate") < cut), root, mode="overwrite")
    commit(orders.limit(0), root, mode="append", expected_version=1)
    # v3 overwrite: from here on, v1/v2's files are referenced only below
    # the coming horizon
    commit(orders.where(F.col("o_orderdate") >= cut), root, mode="overwrite")
    commit(orders.limit(0), root, mode="append", expected_version=3)

    def _refs(v: int) -> set:
        m = _manifest(root, v)
        return set(m["files"]) | set(m.get("deletes", []))

    old_only = (_refs(1) | _refs(2)) - _refs(4)  # v4 append carries v3's refs
    head_refs = _refs(4)
    audit = vacuum(root, retain_from=3)

    def _exists(rel: str) -> bool:
        return os.path.exists(os.path.join(_data_dir(root), rel))

    reclaimed_old_only = (
        audit["reclaimed"] == len(old_only)
        and not any(_exists(f) for f in old_only)
        and all(_exists(f) for f in head_refs)
    )
    old_reads_fail = False
    try:
        read_version(spark, root, version=1)
    except Exception:
        old_reads_fail = True
    head = read_version(spark, root)  # v4 == v3 content
    out = (
        head.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")).alias(
                "total_cents"
            ),
            F.lit(bool(reclaimed_old_only)).alias("reclaimed_old_only"),
            F.lit(bool(old_reads_fail)).alias("old_reads_fail"),
            F.lit(audit["files_after"] > 0 and audit["dropped_versions"] == 2).alias(
                "head_intact"
            ),
        )
        .localCheckpoint()
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Copy-on-write UPDATE — rewrite only the files containing matches
# ---------------------------------------------------------------------------


def update_copy_on_write(spark: SparkSession, root: str, predicate, apply_update) -> dict:
    """Row-level UPDATE with file-level copy-on-write (the Delta/Iceberg
    COW UPDATE mechanism): every data file of the current version is
    probed for predicate matches; files with NO matches carry forward
    untouched (byte-identical, same manifest entry), files WITH matches
    are rewritten with ``apply_update`` applied to every row. The new
    manifest references kept + rewritten files and publishes through the
    same atomic no-replace ``_publish`` as ``commit``. At real scale the probe is a
    min/max-zone-map check, not a scan; semantics are identical.

    ``predicate(df) -> Column`` selects rows to update; ``apply_update(df)
    -> DataFrame`` must return the full-file frame (same schema), already
    transformed. Not supported over a deletion-vector chain (MoR deletes
    re-baseline through an overwrite first).
    """
    from wheels_in_motion_analytics_spark.operators.projection import (
        conform_schema,
    )

    base = current_version(root)
    m = _manifest(root, base)
    if m.get("deletes"):
        raise ValueError("COW update over a deletion-vector chain: overwrite first")
    # Union schema across generations: predicates on an evolved column must
    # see typed NULLs in pre-evolution files (SQL semantics: no match, file
    # carried forward byte-identical) instead of dying with an unresolved-
    # column error; rewritten files are upgraded to the union schema.
    union_schema = read_version(spark, root, base, merge_schema=True).schema
    version = base + 1
    # an attempt directory of its own, as in ``_stage``: the cleanup below
    # must not delete the files of a writer that won version N
    stage = os.path.join(_data_dir(root), f"v{version}", uuid.uuid4().hex[:12])
    os.makedirs(stage)
    kept, new_entries, n_updated = [], [], 0
    # Any failure before the manifest publishes (including losing the CAS
    # race below) must reclaim the staged rewrites — vacuum() only walks
    # manifest-referenced files, so an orphaned stage dir would otherwise
    # persist forever.
    try:
        for i, rel in enumerate(m["files"]):
            path = os.path.join(_data_dir(root), rel)
            df = conform_schema(spark.read.parquet(path), union_schema)
            n_match = df.where(predicate(df)).count()
            if n_match == 0:
                kept.append(rel)
                continue
            n_updated += n_match
            tmp = os.path.join(stage, f"_rw{i}.tmp")
            # one file in, one file out: the rewrite preserves file
            # granularity
            apply_update(df).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            final_name = f"rw{i}.parquet"
            os.replace(os.path.join(tmp, part), os.path.join(stage, final_name))
            shutil.rmtree(tmp)
            new_entries.append(os.path.relpath(os.path.join(stage, final_name), _data_dir(root)))
        manifest = {
            "version": version,
            "mode": "update",
            "files": sorted(kept + new_entries),
        }
        _publish(root, manifest, m, union_schema)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    return {
        "version": version,
        "n_files_total": len(m["files"]),
        "n_files_rewritten": len(new_entries),
        "n_rows_updated": n_updated,
    }


@register(
    "versioned_update_copy_on_write",
    category="cdc",
    doc="Row-level UPDATE on the versioned table via file-level "
    "copy-on-write: v1 loads orders clustered on pmod(orderkey, 4), then "
    "an UPDATE (+10% price, money math on integer cents) targeting ONE "
    "residue class rewrites ONLY the data file(s) containing matches — "
    "untouched files carry into the new manifest byte-identical (file "
    "pruning is what makes COW UPDATE tractable at 100 TB: touched-file "
    "cost, not table cost). Emits the updated snapshot's per-priority "
    "rollup in exact cents, the updated-row count, and the audited "
    "verdict cow_pruned (some file was rewritten AND some was not — the "
    "oracle asserts it TRUE, so a pruning regression hash-fails).",
    oracle="""
WITH upd AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 4 = 2 AND o_orderpriority = '1-URGENT'
              THEN (CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 11 + 5) // 10
              ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
         END AS cents,
         CASE WHEN o_orderkey % 4 = 2 AND o_orderpriority = '1-URGENT'
              THEN 1 ELSE 0 END AS is_upd
  FROM orders
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       (SELECT CAST(SUM(is_upd) AS BIGINT) FROM upd) AS n_rows_updated,
       TRUE AS cow_pruned
FROM upd
GROUP BY 1
""",
)
def versioned_update_copy_on_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="versioned_cow_")
    # v1 clustered on the residue class, so the update predicate is
    # containable to a strict subset of the files
    commit(
        orders.repartition(4, F.pmod(F.col("o_orderkey"), F.lit(4))),
        root,
        mode="overwrite",
    )

    def pred(df: DataFrame):
        return (F.pmod(df["o_orderkey"], F.lit(4)) == 2) & (
            df["o_orderpriority"] == "1-URGENT"
        )

    def bump(df: DataFrame) -> DataFrame:
        cents = F.floor(df["o_totalprice"] * 100 + F.lit(0.5)).cast("bigint")
        new_price = (
            ((cents * 11 + 5) / 10).cast("bigint").cast("double") / 100.0
        )
        return df.withColumn(
            "o_totalprice",
            F.when(pred(df), new_price).otherwise(df["o_totalprice"]),
        )

    audit = update_copy_on_write(spark, root, pred, bump)
    pruned = bool(
        0 < audit["n_files_rewritten"] < audit["n_files_total"]
    )
    snap = read_version(spark, root)
    out = (
        snap.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
            F.lit(audit["n_rows_updated"]).cast("bigint").alias("n_rows_updated"),
            F.lit(pruned).alias("cow_pruned"),
        )
        .localCheckpoint()
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "versioned_schema_evolution",
    category="cdc",
    doc="Schema evolution on the versioned table (the Delta/Iceberg ADD "
    "COLUMN path): v1 loads orders with the base schema, v2 appends a new "
    "generation carrying an extra o_channel column. A merge-schema head "
    "read unions the generations — pre-evolution files NULL-fill the "
    "added column (surfaced as channel 'legacy'), no rewrite of old data "
    "ever happens (the evolution is metadata + new files only, which is "
    "why ADD COLUMN is O(1) at 100 TB). Emits the per-channel rollup "
    "plus audited verdicts: the v1 time-travel schema does NOT have the "
    "column, the head schema does, and v1's files carried into v2's "
    "manifest unchanged. Oracle reproduces the channel derivation "
    "relationally on orders.",
    oracle="""
WITH g AS (
  SELECT CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
              THEN CASE CAST(o_orderkey % 3 AS INTEGER)
                   WHEN 0 THEN 'web' WHEN 1 THEN 'store' ELSE 'app' END
              ELSE 'legacy' END AS channel,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       TRUE AS v1_lacks_channel,
       TRUE AS head_has_channel,
       TRUE AS old_files_carried
FROM g
GROUP BY channel
""",
)
def versioned_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")
    root = tempfile.mkdtemp(prefix="versioned_evo_")
    commit(orders.where(F.col("o_orderdate") < cut), root, mode="overwrite")
    evolved = orders.where(F.col("o_orderdate") >= cut).withColumn(
        "o_channel",
        F.element_at(
            F.array(F.lit("web"), F.lit("store"), F.lit("app")),
            (F.pmod(F.col("o_orderkey"), F.lit(3)) + 1).cast("int"),
        ),
    )
    commit(evolved, root, mode="append", expected_version=1)

    v1_schema = set(read_version(spark, root, version=1).columns)
    head = read_version(spark, root, merge_schema=True)
    head_schema = set(head.columns)
    m1, m2 = _manifest(root, 1), _manifest(root, 2)
    carried = set(m1["files"]) <= set(m2["files"])

    out = (
        head.groupBy(
            F.coalesce(F.col("o_channel"), F.lit("legacy")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("total_cents"),
            F.lit("o_channel" not in v1_schema).alias("v1_lacks_channel"),
            F.lit("o_channel" in head_schema).alias("head_has_channel"),
            F.lit(bool(carried)).alias("old_files_carried"),
        )
        .localCheckpoint()
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


def compact_zorder(
    spark: SparkSession, root: str, a_col: str, b_col: str, target_files: int = 8
) -> int:
    """OPTIMIZE ZORDER BY (a, b) for the versioned table: rewrite the
    latest version's content clustered along the 2-D Morton curve
    (functions/layout.py:zorder_layout — min-max scale to 16 bits,
    range-partition by the interleave, sort within files) and commit as a
    new overwrite version. Logical content untouched; prior versions stay
    time-travelable. One stats pass + one shuffle — the same cost shape
    as Delta's OPTIMIZE ZORDER."""
    from wheels_in_motion_analytics_spark.functions.layout import zorder_layout

    v = current_version(root)
    data = read_version(spark, root, v, merge_schema=True)  # see compact()
    clustered = zorder_layout(data, a_col, b_col, target_files)
    return commit(clustered, root, mode="overwrite", expected_version=v)


@register(
    "versioned_optimize_zorder",
    category="cdc",
    doc="OPTIMIZE ZORDER over the versioned table: v1 lands orders "
    "round-robin across 8 files (every file spans the full key range — "
    "zero skipping), v2 = compact_zorder on (custkey, price cents). The "
    "audit reads per-file custkey min/max zone maps THROUGH the hidden "
    "_metadata.file_name column on both versions and counts files a "
    "25%-of-keyspace custkey range predicate must open: the z-ordered "
    "layout must open strictly fewer (audited verdict — a clustering "
    "regression hash-fails). Content preservation is verified by exact "
    "count/cents/custkey totals v1 vs v2 (verdict), and the emitted "
    "rollup is the ordinary per-status relation the oracle reproduces.",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents,
       TRUE AS zorder_prunes_better,
       TRUE AS content_preserved
FROM orders
GROUP BY o_orderstatus
""",
)
def versioned_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
    )
    root = tempfile.mkdtemp(prefix="versioned_zorder_")
    commit(orders.repartition(8), root, mode="overwrite")
    compact_zorder(spark, root, "o_custkey", "o_totalprice", target_files=8)

    def stats(version: int):
        df = read_version(spark, root, version)
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents"),
            F.sum("o_custkey").alias("ck"),
            F.min("o_custkey").alias("ckmin"),
            F.max("o_custkey").alias("ckmax"),
        ).collect()[0]

    s1, s2 = stats(1), stats(2)
    content_preserved = (s1.n, s1.cents, s1.ck) == (s2.n, s2.cents, s2.ck)
    lo = s1.ckmin
    hi = s1.ckmin + (s1.ckmax - s1.ckmin) // 4  # 25% of the keyspace

    def files_opened(version: int) -> int:
        zone = (
            read_version(spark, root, version)
            .select(F.col("_metadata.file_name").alias("f"), "o_custkey")
            .groupBy("f")
            .agg(F.min("o_custkey").alias("mn"), F.max("o_custkey").alias("mx"))
        )
        return zone.where(~((F.col("mx") < lo) | (F.col("mn") > hi))).count()

    before, after = files_opened(1), files_opened(2)
    out = (
        read_version(spark, root, 2)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("total_cents"),
            F.lit(after < before).alias("zorder_prunes_better"),
            F.lit(bool(content_preserved)).alias("content_preserved"),
        )
        .localCheckpoint()
    )
    shutil.rmtree(root, ignore_errors=True)
    return out
