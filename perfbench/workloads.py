"""The two workloads: what one pass runs and how its outputs are checked.

A pass is a list of steps. A step makes one or more calls into the
package's public functions through a ``Probe`` (which times each call and
attributes it to the layer — the subpackage — the function lives in) and,
for registry queries, one action on the returned DataFrame. A step's
latency is one query execution.

* ``bi_star`` — dashboard tiles from ``plans`` and selection/window tiles
  from ``operators`` over the star schema. Job-count and driver bound; it
  calls no other layer.
* ``elt_curation`` — the nightly data pipeline. The reference's weekly
  ingestion cycle: the init and journey pipelines write parquet dims and
  facts, and the enriched serving view is read back through ``sources`` and
  written through ``sinks``. Then the CDC merge, time-travel and
  streaming-upsert queries run, and the LLM-data operators from
  ``functions`` and ``multimodal``. It calls ``plans`` only through
  ``plans.reference_pipeline`` and never calls ``operators``.

The seed permutes the order of the registry-query steps in every pass. On
``elt_curation`` it also generates the raw input files; the pipeline steps
run first, in pipeline order.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass

LAYERS = ["sources", "sinks", "streaming", "operators", "plans", "functions", "multimodal"]

BI_STAR = [
    "star_join_enriched",
    "flagship_rides_by_dim",
    "pricing_summary_report",
    "regional_market_share",
    "window_running_sum",
    "group_topk",
    "percentile_exact",
]
LLM_CURATION = [
    "dedup_minhash_lsh",
    "ann_lsh_bucketed",
    "bm25_topk_search",
    "text_quality_score",
    "curate_pack_sequences",
    "multimodal_features",
]
ELT_QUERIES = [
    "cdc_merge_orders_state",
    "versioned_table_time_travel",
    "stream_upsert_foreachbatch",
]
WORKLOAD_QUERIES = {
    "bi_star": BI_STAR,
    "elt_curation": ELT_QUERIES + LLM_CURATION,
}

# Fewest passes per run: the cold pass and then the warm ones. bi_star's
# passes are short, so it has three warm passes; elt_curation's are long
# and it has two.
MIN_PASSES = {"bi_star": 4, "elt_curation": 3}

# The star-schema tables both workloads read: a copy of the repository's
# sf0.01 testdata (TESTDATA.md), the scale its DuckDB correctness tier
# checks. The seed only permutes the step order over them. ELT is the shape
# of elt_curation's seeded raw inputs.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "testdata-sf0.01")
ELT = {"weeks": 2, "rides_per_week": 30_000, "n_stations": 800}


def layer_of(fn: Callable) -> str:
    """The layer a public function belongs to: its subpackage name."""
    parts = fn.__module__.split(".")
    return parts[1] if len(parts) > 2 else parts[-1]


def digest(cols: list[str], rows: list) -> str:
    """Order-insensitive digest of a result: sorted column names plus the
    canonical row form the repository's DuckDB differential compares."""
    from tools.driver_check import canon

    h = hashlib.sha256("\x1f".join(sorted(cols)).encode())
    for row in canon(rows, cols):
        h.update(b"\n" + "\x1f".join(row).encode())
    return h.hexdigest()


@dataclass
class Step:
    name: str
    body: Callable  # (probe) -> output
    check: Callable | None = None  # (output) -> bool, run outside the timers


class Workload:
    """Steps of every pass; ``end_pass`` tidies what a pass left on disk."""

    def __init__(self, name: str, spark, specs: dict, sf_dir: str, seed: int,
                 expected: dict, run_dir: str, elt_inputs: dict | None):
        self.name, self.spark, self.specs, self.sf_dir = name, spark, specs, sf_dir
        self.expected, self.run_dir, self.elt = expected, run_dir, elt_inputs
        self.rng = random.Random(seed)

    def _query_step(self, qname: str) -> Step:
        spec = self.specs[qname]

        def body(probe):
            df = probe.call(spec.fn, self.spark, self.sf_dir)
            return df.columns, probe.action(spec.fn, df)

        def check(out) -> bool:
            cols, rows = out
            want = self.expected[qname]
            return len(rows) == want["rows"] and digest(cols, rows) == want["digest"]

        return Step(qname, body, check)

    def steps(self, pass_idx: int) -> list[Step]:
        queries = [self._query_step(q) for q in WORKLOAD_QUERIES[self.name]]
        self.rng.shuffle(queries)
        if self.name == "elt_curation":
            return self._elt_steps(pass_idx) + queries
        return queries

    def _elt_steps(self, pass_idx: int) -> list[Step]:
        from wheels_in_motion_analytics_spark.plans import reference_pipeline as rp
        from wheels_in_motion_analytics_spark.sinks import write_parquet_overwrite
        from wheels_in_motion_analytics_spark.sources.readers import read_parquet_or_empty
        from pyspark.sql.types import StructType

        spark, elt = self.spark, self.elt
        out = os.path.join(self.run_dir, "out", f"pass{pass_idx}")
        dims, fact_path = f"{out}/cycling-dimension", f"{out}/cycling-fact/journey"
        serving = f"{out}/serving/journeys_enriched"

        def init(probe):
            probe.call(rp.run_init_pipeline, spark, elt["stations_csv"], elt["weather_json"], out)

        steps = [Step("init", init)]
        for wk, week_file in enumerate(elt["week_files"]):
            want_rows = elt["fact_rows_after_week"][wk]
            want_stations = elt["station_ids_after_week"][wk]

            def load(probe, week_file=week_file):
                probe.call(rp.run_journey_pipeline, spark, week_file, out)

            def check_load(_, want_rows=want_rows, want_stations=want_stations) -> bool:
                fact = spark.read.parquet(fact_path).count()
                stations = spark.read.parquet(f"{dims}/stations").select("station_id").distinct().count()
                return fact == want_rows and stations == want_stations

            def serve(probe):
                # The paths exist once a week is loaded, so the empty-dim
                # fallback schemas are never used except for the stations.
                fact = probe.call(read_parquet_or_empty, spark, fact_path, StructType())
                stations = probe.call(read_parquet_or_empty, spark, f"{dims}/stations",
                                      rp.STATION_DIM_SCHEMA)
                dt = probe.call(read_parquet_or_empty, spark, f"{dims}/datetime", StructType())
                weather = probe.call(read_parquet_or_empty, spark, f"{dims}/weather", StructType())
                view = probe.call(rp.enriched_view, fact, stations, dt, weather)
                probe.call(write_parquet_overwrite, view, serving, 4)

            def check_serve(_, want_rows=want_rows) -> bool:
                return spark.read.parquet(serving).count() == want_rows

            steps += [Step(f"week{wk}.load", load, check_load),
                      Step(f"week{wk}.serve", serve, check_serve)]
        return steps

    def end_pass(self, pass_idx: int) -> None:
        if self.name == "elt_curation":
            shutil.rmtree(os.path.join(self.run_dir, "out", f"pass{pass_idx}"), ignore_errors=True)


def compute_expected(sf_dir: str, names: list[str]) -> dict:
    """Run each query's DuckDB oracle over the star tables; return its row
    count and result digest."""
    import duckdb

    from wheels_in_motion_analytics_spark.registry import load_all_queries
    from wheels_in_motion_analytics_spark.tables import TABLE_NAMES

    specs = load_all_queries()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    expected = {}
    for name in names:
        cur = con.execute(specs[name].oracle)
        cols = [c[0] for c in cur.description]
        rows = cur.fetchall()
        expected[name] = {"rows": len(rows), "digest": digest(cols, rows)}
    con.close()
    return expected
