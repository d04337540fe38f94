"""Benchmark runner: every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced end-to-end with a noop-format write (full computation on
executors, zero driver collect) — the honest way to time a distributed plan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.harness import release_blocks, warm_up
from wheels_in_motion_analytics_spark.registry import load_all_queries
from wheels_in_motion_analytics_spark.session import get_session


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_session("wheels-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all_queries()

    warm_up(spark, specs, sf_dir)

    def measure(name: str) -> float:
        release_blocks(spark)
        t0 = time.perf_counter()
        specs[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # PINNED COMPARABLE SUBSET — run FIRST (right after warmup, before the
    # full sweep can pollute the JVM) at guaranteed min-of-3, immune to the
    # time box. This is the round-over-round comparison protocol: same 25
    # queries, same position in a fresh JVM, same pass count every round —
    # so cross-round per-query deltas measure plans, not tail-position luck.
    # DO NOT rotate members; add a new pinned list instead if families shift.
    pinned = [
        "flagship_rides_by_dim",
        "star_join_enriched",
        "pricing_summary_report",
        "local_supplier_volume",
        "scan_parquet_project",
        "anti_join_new_keys",
        "group_topk",
        "window_running_sum",
        "dedup_key_deterministic",
        "dedup_minhash_lsh",
        "similarity_topk_bruteforce",
        "ann_lsh_bucketed",
        "text_quality_score",
        "bm25_topk_search",
        "bpe_merge_table",
        "curate_pack_sequences",
        "sft_render_conversations",
        "multimodal_features",
        "stream_tumbling_window",
        "cdc_merge_orders_state",
        "versioned_table_time_travel",
        "triangle_count_cosupply",
        "pandas_udaf_weighted_mean",
        "global_quartiles_exact",
        "gap_fill_locf_daily",
    ]
    subset: dict[str, float] = {}
    for _ in range(3):
        for name in pinned:
            if name not in specs:
                continue
            dt = measure(name)
            subset[name] = round(min(subset.get(name, dt), dt), 3)

    if os.environ.get("SPARK_GRAFT_SUBSET_ONLY"):
        # round-open idle measurement of JUST the pinned comparable subset
        # (the r9 verdict item-3 protocol) — same warmup, same fresh-JVM
        # position, same min-of-3, without the full-registry sweep. The
        # driver never sets this; its per-round line is unaffected.
        print(json.dumps({
            "metric": "pinned_subset_wall_time",
            "value": round(sum(subset.values()), 3),
            "unit": "sec",
            "subset": subset,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        }))
        spark.stop()
        return

    # min over passes: steady-state per-query cost, robust to GC/JIT noise
    # from neighboring queries in the same JVM. TIME-BOXED: the first full
    # pass always completes (every query gets a number), then extra
    # min-passes run only while the wall budget allows — so a larger
    # registry can never push the run past an external timeout and lose
    # the whole benchmark, it just degrades toward min-of-1.
    max_iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "720"))
    bench_start = time.monotonic()
    timings: dict[str, float] = {}
    passes: dict[str, int] = {}
    budget_cutoff: str | None = None
    for it in range(max_iters):
        # pass 1: alphabetical, always completes (every query gets a number).
        # Re-measure passes run MOST-EXPENSIVE-FIRST by current timing, so
        # when the budget cuts a pass short (r3: an alphabetical pass 2 died
        # ~6 queries in, leaving 271 queries min-of-1) the cheap sub-second
        # tail is what degrades to min-of-1 — every query where JVM noise
        # actually moves the total has passes >= 2.
        order = sorted(specs) if it == 0 else sorted(
            specs, key=lambda n: -timings.get(n, 0.0)
        )
        for name in order:
            # re-measure passes stop mid-pass the moment the budget runs out
            # (those queries keep their prior min — min-of-k degrades
            # gracefully, never truncates output)
            if it > 0 and time.monotonic() - bench_start > budget_s:
                if budget_cutoff is None:
                    budget_cutoff = name
                break
            dt = measure(name)
            timings[name] = round(min(timings.get(name, dt), dt), 3)
            passes[name] = passes.get(name, 0) + 1

    # The driver captures only a bounded tail of stdout; a 105-query JSON
    # line (~5KB) gets truncated mid-line and fails to parse (BENCH_r01).
    # Print ONE compact line: total over all queries + a headline subset.
    # Full per-query timings go to BENCH_FULL.json next to this script.
    headline = [
        "flagship_rides_by_dim",
        "star_join_enriched",
        "regional_market_share",
        "top_unshipped_orders",
        "dedup_minhash_lsh",
        "scaled_dedup_minhash_lsh",
        "scaled_dedup_exact",
        "scaled_ann_lsh",
        "dedup_connected_components",
        "similarity_topk_bruteforce",
        "ann_lsh_bucketed",
        "corpus_quality_pipeline",
        "local_supplier_volume",
        "lm_bigram_perplexity",
        "embedding_random_projection",
        "percentile_exact",
        "salted_skew_join",
        "asof_join_last_signup",
        "window_running_sum",
        "stream_tumbling_window",
    ]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "total_query_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        "queries": timings,
        "sf": sf_val,
        "subset": subset,
        "subset_total": round(sum(subset.values()), 3),
        # methodology metadata: how many min-passes each query actually got
        # (the time box can cut re-measure passes short) and where the
        # budget ran out — so cross-run comparisons can tell budget
        # truncation from real regressions.
        "passes": passes,
        "budget_cutoff": budget_cutoff,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"), "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    compact = dict(full)
    compact["queries"] = {q: timings[q] for q in headline if q in timings}
    del compact["passes"]  # full map lives in BENCH_FULL.json; keep line compact
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
