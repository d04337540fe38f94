"""Testdata star-schema loaders.

The driver testdata (TESTDATA.md) is the stand-in for the reference's star
schema (fact_journey / dim_station / dim_datetime / dim_weather —
/root/reference/README.md:15-23). Schemas are declared explicitly: the
reference relies on ``inferSchema`` (init-data-transformation.py:41-46), which
double-scans and is data-dependent; this engine treats inference as opt-in
(SURVEY.md §4.3) and asserts the contract instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Declared schema contracts for the driver testdata (see TESTDATA.md).
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            # naive µs parquet timestamp (isAdjustedToUTC=false) — Spark
            # reads it as TIMESTAMP_NTZ; the declared contract must match
            # what inference yields or the explicit-schema fast path in
            # table() would silently re-anchor instants (TZ hazard,
            # NOTES.md r10 axis).
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),  # see o_orderdate
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Tables eligible for a forced broadcast hint in joins. region/nation are
# bounded; supplier/part grow far slower than the facts and stay within
# broadcast budgets at any realistic sf. customer and orders are FACT-scaled
# (linear in sf — ~10^10 rows at 100 TB): never hint them; their joins must
# be left to size-based planning (auto-broadcast locally, shuffle+AQE at
# scale).
BROADCASTABLE = {"region", "nation", "supplier", "part"}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table from a scale-factor directory.

    A plain columnar parquet scan — filters/projections applied by callers
    reach the scan via Catalyst pushdown (verify with
    ``df.explain('formatted')`` → PushedFilters / ReadSchema).

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) and timestamp[us]
    parquet across testdata generations, so the loader dispatches on the
    type Spark actually reads and normalizes every variant to the same
    TIMESTAMP_NTZ wall clock DuckDB sees:

    * int64 (TIMESTAMP(NANOS) via the nanosAsLong legacy conf, SPARK-40819):
      floor-truncate nanos→µs — what DuckDB's µs-native TIMESTAMP does.
    * TIMESTAMP (instant): re-anchor the UTC wall clock as NTZ, independent
      of session timezone.
    * TIMESTAMP_NTZ (µs, isAdjustedToUTC=false, the current generation):
      already the naive wall clock both engines agree on — use as-is.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        return _events_table(spark, path)
    # Explicit declared schema: skips the footer-inference pass that
    # spark.read.parquet otherwise runs as a separate job on EVERY call
    # (~10x the DataFrame-construction cost of a schema-supplied read —
    # measured r10). The schema contract is pinned against live inference
    # for every table and sf in tests/test_tables.py, so a testdata
    # regeneration that changes a physical type fails loudly instead of
    # misreading.
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def local_frame(
    spark: SparkSession, rows: list, schema: T.StructType | str
) -> DataFrame:
    """A driver-side row list as a JVM ``LocalRelation``.

    ``spark.createDataFrame(<list>, ddl)`` parallelizes the list and maps
    it through a Python worker, so the first action on the relation runs
    a Spark job (plan leaf ``Scan ExistingRDD``). This helper hands the
    rows over as an Arrow table instead: the plan leaf is a
    ``LocalTableScan``, collecting it runs no job, and broadcasting it
    starts no Python worker.

    ``schema`` is a DDL string or a ``StructType``; ``rows`` are tuples in
    field order. Values pass the same type check as ``createDataFrame``;
    Arrow also refuses a value its column cannot hold exactly, such as a
    number in a string column or a decimal with more digits than its scale.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    verify = T._make_type_verifier(struct)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(col), type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def _events_table(spark: SparkSession, path: str) -> DataFrame:
    """events loader: dispatch on the PHYSICAL timestamp type (see
    :func:`table` docstring) without paying a per-call Spark inference job.

    The dispatch probe reads just the parquet footer via pyarrow (driver-
    side, ~ms). The current-generation fast path (naive µs → TIMESTAMP_NTZ)
    reads with the declared schema; every other historical variant falls
    back to the original Spark-inference dispatch, byte-for-byte.
    """
    import pyspark.sql.functions as F

    ts_type = None
    try:
        import pyarrow.parquet as pq

        ts_type = pq.read_schema(path).field("ts").type
    except Exception:
        ts_type = None
    if ts_type is not None:
        import pyarrow as pa

        if ts_type == pa.timestamp("us"):  # naive µs == TIMESTAMP_NTZ
            return spark.read.schema(SCHEMAS["events"]).parquet(path)

    # Legacy generations (TIMESTAMP(NANOS) int64, instant µs) and any probe
    # failure: the original inference-based dispatch.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    ts_read = df.schema["ts"].dataType
    if isinstance(ts_read, T.LongType):
        # integer div keeps full int64 precision (double would lose bits
        # above 2^53); nanos are positive so div == floor-truncation.
        return df.withColumn(
            "ts", F.expr("convert_timezone('UTC', timestamp_micros(ts div 1000))")
        )
    if isinstance(ts_read, T.TimestampType):
        return df.withColumn("ts", F.expr("convert_timezone('UTC', ts)"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each table as a temp view so SQL-form operators can run.

    Mirrors the reference's mixed DF-API + SQL style where temp views feed a
    SQL query in the same Catalyst plan
    (journey-data-transformation.py:107-127).
    """
    for name in names or TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
