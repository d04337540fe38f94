"""Schema-contract pins for the explicit-schema table loader (r10 opt).

``tables.table()`` reads every non-events table with the declared SCHEMAS
entry instead of paying a per-call footer-inference job (~10x the
DataFrame-construction cost, measured r10). That is only sound while the
declared contract matches what Spark would infer from the physical files —
this sweep compares the two for every table at every shipped scale factor,
so a testdata regeneration that changes a physical type (the events nanos
lesson, NOTES.md decision #2) fails HERE instead of silently misreading.
"""

from __future__ import annotations

import ast
import datetime
from decimal import Decimal
import os
import pathlib

import pytest

import wheels_in_motion_analytics_spark
from wheels_in_motion_analytics_spark.tables import SCHEMAS, TABLE_NAMES, local_frame, table

SF_DIRS = [d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1") if os.path.isdir(d)]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_declared_schema_matches_inference(spark, sf_dir):
    mismatches = []
    for name in TABLE_NAMES:
        path = f"{sf_dir}/{name}.parquet"
        inferred = spark.read.parquet(path).schema
        declared = SCHEMAS[name]
        if [(f.name, f.dataType) for f in inferred.fields] != [
            (f.name, f.dataType) for f in declared.fields
        ]:
            mismatches.append(
                f"{sf_dir}/{name}: inferred {inferred.simpleString()} != "
                f"declared {declared.simpleString()}"
            )
    assert not mismatches, (
        "declared SCHEMAS diverged from physical files — fix SCHEMAS (or the "
        "events dispatch) before trusting the explicit-schema fast path:\n"
        + "\n".join(mismatches)
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_table_loader_types_unchanged(spark, sf_dir):
    """table() must yield exactly the inference-era types (NTZ timestamps)."""
    for name in TABLE_NAMES:
        got = table(spark, sf_dir, name).schema
        want = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert [(f.name, f.dataType) for f in got.fields] == [
            (f.name, f.dataType) for f in want.fields
        ], f"{name}: loader changed column types"


@pytest.mark.skipif(not SF_DIRS, reason="no /root/testdata directories")
def test_events_fast_path_is_ntz(spark):
    df = table(spark, SF_DIRS[0], "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    # fast path must be a plain scan (no inference-era withColumn rewrite)
    assert "convert_timezone" not in df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_derived_lake_declared_schema_matches_inference(spark, sf_dir):
    """r11 ADVICE fix: the `.derived/` month-partitioned lineitem lake is
    _SUCCESS-gated and never rebuilt, so its explicit-schema reads trusted
    a contract the base-table sweep never checked — a stale lake written
    under a different timestamp generation would be silently misread.
    Compare declared vs inference whenever the lake exists (builds it on
    first run, same as the queries do)."""
    from wheels_in_motion_analytics_spark.sources.partitioned import (
        _partitioned_lineitem_schema,
        ensure_partitioned_lineitem,
    )

    path = ensure_partitioned_lineitem(spark, sf_dir)
    inferred = spark.read.parquet(path).schema
    declared = _partitioned_lineitem_schema()
    assert sorted((f.name, f.dataType.simpleString()) for f in inferred.fields) == sorted(
        (f.name, f.dataType.simpleString()) for f in declared.fields
    ), (
        f"declared derived-lake schema diverged from {path} — rebuild the "
        "lake (delete .derived/) or fix _partitioned_lineitem_schema"
    )


# Every column type the package's driver-side relations use, each with a
# NULL row; every case also runs with an empty row list.
_LOCAL_FRAME_CASES = [
    ("v int", [(1,), (None,), (-2147483648,)]),
    ("v bigint", [(2**40,), (None,), (-1,)]),
    ("v string", [("x",), (None,), ("",)]),
    ("v double", [(1.5,), (None,), (-0.0,), (float("nan"),)]),
    ("v decimal(18,4)", [(Decimal("1.2345"),), (None,), (Decimal("-99"),)]),
    ("v date", [(datetime.date(2024, 1, 2),), (None,)]),
    ("v timestamp", [(datetime.datetime(2024, 1, 2, 3, 4, 5, 6),), (None,)]),
    ("v boolean", [(True,), (None,), (False,)]),
    ("v array<double>", [([1.0, None, 2.5],), (None,), ([],)]),
    ("v array<float>", [([1.1, 2.2],), (None,)]),
    ("k int, v string", [(1, "a"), (None, None)]),
]


def _jobs_to_collect(spark, df, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setJobGroup(None, None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("ddl,rows", _LOCAL_FRAME_CASES, ids=[c[0] for c in _LOCAL_FRAME_CASES])
def test_local_frame_matches_create_dataframe(spark, ddl, rows):
    """local_frame is a drop-in for createDataFrame(list, ddl): same schema,
    same collected values (repr, so -0.0, NaN and float32 rounding count),
    but a LocalTableScan whose collect runs no Spark job."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    for i, data in enumerate((rows, [])):
        want = spark.createDataFrame(data, ddl)
        got = local_frame(spark, data, ddl)
        assert got.schema == want.schema
        got_rows, n_jobs = _jobs_to_collect(spark, got, f"local-frame-{ddl}-{i}")
        assert repr(got_rows) == repr(want.collect())
        assert n_jobs == 0, f"{ddl}: collecting the local relation ran {n_jobs} jobs"
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan"), plan


@pytest.mark.parametrize(
    "ddl,rows",
    [
        ("v int", [("1",)]),
        ("v int", [(1.5,)]),
        ("v int", [(2**40,)]),
        ("v bigint", [(1.0,)]),
        ("v double", [("1.0",)]),
        ("v boolean", [(1,)]),
        ("v string", [(1,)]),
        ("v decimal(18,4)", [(Decimal("1.23456"),)]),
        ("v array<double>", [("ab",)]),
        ("k int, v string", [(1,)]),
    ],
)
def test_local_frame_rejects_mistyped_values(spark, ddl, rows):
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, rows, ddl).collect()


def test_create_dataframe_only_inside_local_frame():
    """Guard: a createDataFrame call anywhere else in the package would
    bring back the parallelize + Python-worker path (a Spark job on first
    use of every driver-side relation)."""
    root = pathlib.Path(wheels_in_motion_analytics_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        if path == root / "tables.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(root.parent)}:{node.lineno}")
    assert not offenders, "use tables.local_frame instead of createDataFrame: " + ", ".join(
        offenders
    )
