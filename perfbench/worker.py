"""One benchmark run inside the pinned environment ``run.py`` prepares.

Sets up the session (timed as ``setup_s`` from the moment ``run.py``
spawned this process), then runs passes of the workload until the
measurement window has passed, with at least the workload's
``MIN_PASSES``: pass 0 is the cold pass (fresh JVM), passes 1.. are the
warm passes. The warm pass time is the fastest warm pass: pass 1 still
carries some JIT warm-up and the shared host's interference only ever adds
time, so the minimum is the steadiest estimate (as in ``bench.py``'s
min-of-k).

Each step's output is checked once, on the cold pass, outside the timers.
Writes the result object (and, when traced, the spans) to files named on
the command line.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback

from probe import LAYER_METRICS, Probe, RssSampler, layer_totals, median_layers
from workloads import LAYERS, MIN_PASSES, Workload

WARM_FROM = 1


def release_blocks(spark) -> None:
    """Drop the checkpoint and cache blocks the previous step left, so every
    step starts from the same block-manager state."""
    gc.collect()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)


def setup(t_spawn: float, sf_dir: str) -> tuple:
    t = time.time()
    from wheels_in_motion_analytics_spark.session import get_session

    spark = get_session("wheels-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.time()
    from wheels_in_motion_analytics_spark.registry import load_all_queries

    specs = load_all_queries()
    t_registry = time.time()
    # Warm the JVM and the Python/Arrow worker pool once (as bench.py does).
    specs["count_total"].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: (pdf for pdf in it), "x int"
    ).write.mode("overwrite").format("noop").save()
    t_warm = time.time()
    stats = {
        "session.start_s": t_session - t,
        "registry.import_s": t_registry - t_session,
        "session.warmup_s": t_warm - t_registry,
        "setup_s": t_warm - t_spawn,
    }
    return spark, specs, stats


def check(step, out) -> bool:
    """Run a step's output check; a check that raises counts as failed."""
    try:
        ok = step.check is None or bool(step.check(out))
    except Exception:
        traceback.print_exc()
        ok = False
    if not ok:
        print(f"check failed: {step.name}", file=sys.stderr)
    return ok


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a Beta(p(n+1), (1-p)(n+1))-
    weighted average of all order statistics. Unlike a single order
    statistic it does not jump when one sample crosses the gap between two
    clusters of step latencies, which a pass of unlike steps always has."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = (np.arange(200_000) + 0.5) / 200_000
    log_pdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    cdf = np.cumsum(np.exp(log_pdf - log_pdf.max()))
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf, left=0.0, right=1.0))
    return float(weights @ x)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--config", required=True, help="JSON: expected results, elt inputs, cores")
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", default="")
    args = ap.parse_args()
    with open(args.config) as f:
        cfg = json.load(f)

    rss = RssSampler()
    rss.start()
    spark, specs, setup_stats = setup(args.t_spawn, cfg["sf_dir"])
    # The set-up's objects live until the end; keep them out of the
    # collections ``release_blocks`` runs before every step.
    gc.collect()
    gc.freeze()
    wl = Workload(args.workload, spark, specs, cfg["sf_dir"], args.seed, cfg["expected"],
                  args.run_dir, cfg.get("elt"))
    probe = Probe(spark, traced=bool(args.trace))
    run_span = probe.open(f"run {args.workload} seed={args.seed}", "run")

    checked: dict[str, bool] = {}
    pass_times: list[float] = []
    latencies: list[list[float]] = []
    executions: list[tuple[str, bool]] = []
    step_times: dict[str, list[float]] = {}
    pass_spans: list[int] = []
    trace_s: list[float] = []
    window_start = time.time()
    k = 0
    while k < MIN_PASSES[args.workload] or time.time() - window_start < args.seconds:
        pass_spans.append(probe.open(f"pass {k}", "pass"))
        trace_before = probe.trace_s
        lats = []
        for step in wl.steps(k):
            release_blocks(spark)
            probe.skip()
            step_span = probe.open(step.name, "query")
            t = time.perf_counter()
            try:
                out, ok = step.body(probe), True
            except Exception:  # a failed execution is counted, never fatal
                traceback.print_exc()
                out, ok = None, False
            lat = time.perf_counter() - t
            probe.close(step_span, ok=ok)
            if k == 0:
                checked[step.name] = ok and check(step, out)
            executions.append((step.name, ok))
            step_times.setdefault(step.name, []).append(round(lat, 3))
            lats.append(lat)
        probe.close(pass_spans[-1])
        trace_s.append(probe.trace_s - trace_before)
        wl.end_pass(k)
        pass_times.append(sum(lats))
        latencies.append(lats)
        k += 1
    probe.close(run_span)

    peak_rss_mb = rss.stop()
    warm = [x for lats in latencies[WARM_FROM:] for x in lats]
    ok_execs = sum(ok and checked.get(name, False) for name, ok in executions)
    info = {
        "rss_hwm_mb": {key: round(kb / 1024) for key, kb in rss.hwm_kb.items()},
        "workload": args.workload, "seed": args.seed, "passes": len(pass_times),
        "warm_passes": len(pass_times) - WARM_FROM, "warm_executions": len(warm),
        "steps_per_pass": len(latencies[0]), "pass_times_s": pass_times,
        "failed_checks": sorted(n for n, v in checked.items() if not v),
        "step_times_s": step_times,
    }
    if args.trace:
        per_pass = [layer_totals(probe.spans, sid, cfg["cores"]) for sid in pass_spans[WARM_FROM:]]
        values = median_layers(per_pass)
        units = {f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS.items()}
        for name in ("session.start_s", "registry.import_s", "session.warmup_s"):
            values[name], units[name] = setup_stats[name], "s"
        values["memory.peak_rss_mb"], units["memory.peak_rss_mb"] = peak_rss_mb, "MB"
        values["trace.warm_pass_s"] = min(pass_times[WARM_FROM:])
        values["trace.overhead_s"] = statistics.median(trace_s[WARM_FROM:])
        units["trace.warm_pass_s"] = units["trace.overhead_s"] = "s"
        info["jobs_per_pass"] = [sum(int(t[layer]["jobs"]) for layer in LAYERS)
                                 for t in per_pass]
        with open(args.spans, "w") as f:
            json.dump({"info": info, "spans": probe.spans}, f)
    else:
        values = {
            "setup_s": setup_stats["setup_s"],
            "cold_pass_s": pass_times[0],
            "warm_pass_s": min(pass_times[WARM_FROM:]),
            "query_p50_s": hd_quantile(warm, 0.5),
            "query_p90_s": hd_quantile(warm, 0.9),
            "ok_frac": ok_execs / len(executions),
        }
        units = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "query_p50_s": "s",
                 "query_p90_s": "s", "ok_frac": "frac"}
    result = {
        "correct": ok_execs == len(executions),
        "attempted": len(executions),
        "failed": len(executions) - ok_execs,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    with open(args.result, "w") as f:
        json.dump({"info": info, "result": result}, f)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # run.py kills this process's session (the JVM and the Python workers)
    # and waits for it; a graceful SparkContext.stop() would only add
    # seconds to every run.
    os._exit(code)
