"""Manifest-driven incremental source (reference S7).

The reference scrapes an S3 listing into a ``{date_key: relative_path}`` dict
(web_scraper.py:18-52) and each run picks the newest entry ≤ the logical date
(proc_0_ingest_to_GCP.dag.py:31-51). Spark-first: the manifest is itself a
DataFrame; "pick the file" is a filter + max — i.e. partition pruning by
date, expressed relationally so it composes with the rest of the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import local_frame, table


def manifest_from_dict(spark: SparkSession, links: dict[str, str]) -> DataFrame:
    """{ '23Mar2021': 'usage-stats/17Mar2021-23Mar2021.csv', ... } → DataFrame
    with a typed date column (F2: the reference's strptime '%d%b%Y').

    Parsed with explicit English month literals instead of to_date's 'MMM'
    pattern — JVM text-pattern parsing follows the default locale, and the
    manifest keys are always English."""
    df = local_frame(
        spark, [(k, v) for k, v in links.items()], "date_key string, rel_path string"
    )
    months = F.array(
        *[F.lit(m) for m in
          ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]]
    )
    key_date = F.make_date(
        F.regexp_extract("date_key", r"([0-9]{4})$", 1).cast("int"),
        F.array_position(months, F.regexp_extract("date_key", r"^[0-9]{1,2}([A-Za-z]{3})", 1)).cast("int"),
        F.regexp_extract("date_key", r"^([0-9]{1,2})", 1).cast("int"),
    )
    return df.select(
        "date_key",
        "rel_path",
        key_date.alias("key_date"),
        F.element_at(F.split("rel_path", "/"), -1).alias("filename"),
    )


def latest_entry(manifest: DataFrame, logical_date) -> DataFrame:
    """Newest manifest row with key_date ≤ logical_date
    (proc_0_ingest_to_GCP.dag.py:37-44)."""
    eligible = manifest.where(F.col("key_date") <= F.lit(logical_date))
    mx = eligible.agg(F.max("key_date").alias("key_date"))
    return eligible.join(mx, "key_date")


@register(
    "manifest_filter_years",
    category="sources",
    doc="S7 manifest filtering transposed to testdata: suffix/prefix "
    "predicates + year-range filter over document sources "
    "(web_scraper.py:37-46 filters keys by extension and year).",
    oracle="""
SELECT doc_id, source,
       CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) AS source_num
FROM documents
WHERE starts_with(source, 'src')
  AND CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 3 = 0
""",
)
def manifest_filter_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    num = F.regexp_extract("source", r"([0-9]+)$", 1).cast("bigint")
    return (
        docs.where(F.col("source").startswith("src") & (num % 3 == 0))
        .select("doc_id", "source", num.alias("source_num"))
    )
