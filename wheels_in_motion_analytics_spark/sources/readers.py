"""Source readers (reference S1-S6, S8) with explicit schema contracts.

The reference infers schemas everywhere (S1/S2: init-data-transformation.py:41-46,
journey-data-transformation.py:52; S4: :79). Inference double-scans the input
and is data-dependent; here a declared StructType is the default and inference
is an explicit opt-in (SURVEY.md §4.3) — at 100 TB an inference pre-scan is a
full extra pass over the lake.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T

from wheels_in_motion_analytics_spark.tables import local_frame


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    recursive: bool = False,
    infer: bool = False,
) -> DataFrame:
    """S1/S2/S3: CSV scan — glob paths work directly (``dir/*/*.csv``);
    ``recursive`` enables recursiveFileLookup for non-glob directory inputs
    (journey-data-transformation.py:52-57)."""
    reader = spark.read.option("header", str(header).lower())
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multiline: bool = False,
) -> DataFrame:
    """S4: JSON scan (init-data-transformation.py:79)."""
    reader = spark.read
    if multiline:
        reader = reader.option("multiLine", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet_or_empty(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """S5: parquet scan with declared-schema empty fallback — the
    'dim may not exist yet on first run' pattern
    (journey-data-transformation.py:98-105)."""
    try:
        return spark.read.parquet(path)
    except Exception:
        return local_frame(spark, [], schema)


def normalize_json_payload(
    spark: SparkSession, path: str, record_keys: tuple[str, ...] = ("days", "data")
) -> DataFrame:
    """S8 Spark-native semi-structured normalization.

    The reference normalizes dict-root weather payloads driver-side before
    Spark ever sees them (init_0_ingestion_to_GCS_dag.py:49-94). Spark-first:
    read multiLine, coalesce the candidate record-array fields, explode, and
    flatten — the whole normalization stays in the distributed plan.
    """
    raw = spark.read.option("multiLine", "true").json(path)
    present = [k for k in record_keys if k in raw.columns]
    if not present:
        # Already an array-of-records payload.
        return raw
    records = F.coalesce(*[F.col(k) for k in present]) if len(present) > 1 else F.col(present[0])
    return raw.select(F.explode(records).alias("day")).select("day.*")


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """S6 at scale: binary-file source (path, modificationTime, length,
    content) — the distributed replacement for driver-side wget staging
    (init_0_ingestion_to_GCS_dag.py:132-134). Feeds the multimodal ops."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


# ---------------------------------------------------------------------------
# S6 fetch half: distributed URL acquisition into a binary landing table
# ---------------------------------------------------------------------------

FETCH_SCHEMA = "url STRING, status STRING, n_bytes LONG, content BINARY"


def fetch_binary(spark: SparkSession, urls: list[str], timeout_s: int = 10) -> DataFrame:
    """Distributed acquisition (reference analogue: the requests-based
    ingestion DAGs, /root/reference/airflow/dags/init_0_ingestion_to_GCS_dag.py:132-134
    and proc_0 — there driver-side Airflow tasks; here each executor task
    fetches a slice of the URL list via stdlib urllib, Arrow-batched, and
    the result is an ordinary binary DataFrame ready for a parquet landing
    write). Failures are captured per-URL as status text, never raised —
    an ingestion sweep must not die on one bad link. file:// URLs make the
    path testable offline (tests/test_operators.py)."""
    import pandas as pd

    def fetch(batches):
        from urllib.request import urlopen

        for pdf in batches:
            out = []
            for u in pdf["url"]:
                try:
                    with urlopen(u, timeout=timeout_s) as r:
                        data = r.read()
                    out.append((u, "ok", len(data), data))
                except Exception as e:  # captured, not raised
                    out.append((u, f"error: {type(e).__name__}", 0, b""))
            yield pd.DataFrame(out, columns=["url", "status", "n_bytes", "content"])

    src = local_frame(spark, [(u,) for u in urls], "url STRING")
    # one fetch task per small URL group — network-bound, so parallelism
    # should track the URL count, not the default input splits
    par = max(1, min(len(urls), spark.sparkContext.defaultParallelism))
    return src.repartition(par).mapInPandas(fetch, FETCH_SCHEMA)
