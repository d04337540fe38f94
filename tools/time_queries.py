"""Isolated per-query timing: python tools/time_queries.py q1 q2 [--n=3] [--sf=DIR]
[--explain=plans/r10] [--suffix=_before]

Bench-identical methodology (same session factory, same noop sink, min-of-N
in one JVM after the same warmup) for optimizing individual queries without
paying a full 443-query sweep. Each query's fastest run is split into
``build_s`` (the registry call, including any jobs it runs eagerly) and
``run_s`` (the noop write), with the py4j round trips the build sent;
totals follow. Optionally writes each query's explain("formatted") to
<explain>/<name><suffix>.txt for the plan record.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import py4j_commands, release_blocks, warm_up
from wheels_in_motion_analytics_spark.registry import load_all_queries
from wheels_in_motion_analytics_spark.session import get_session


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = {a.split("=", 1)[0]: a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--") and "=" in a}
    sf_dir = opts.get("--sf", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    n_iter = int(opts.get("--n", "3"))
    explain_dir = opts.get("--explain")
    suffix = opts.get("--suffix", "")

    spark = get_session("wheels-time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all_queries()

    warm_up(spark, specs, sf_dir)

    results: dict[str, tuple[float, float, int]] = {}
    print(f"{'build_s':>8} {'run_s':>8} {'trips':>6}  query", flush=True)
    for name in names:
        if name not in specs:
            print(f"?? unknown query {name}")
            continue
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            df = specs[name].fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
            with open(os.path.join(explain_dir, f"{name}{suffix}.txt"), "w") as fh:
                fh.write(plan)
        best = None
        for _ in range(n_iter):
            release_blocks(spark)
            spark.sparkContext.setJobDescription(f"time:{name}")
            t0 = time.perf_counter()
            with py4j_commands(spark) as sent:
                df = specs[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            run = (t1 - t0, time.perf_counter() - t1, len(sent))
            best = run if best is None or sum(run[:2]) < sum(best[:2]) else best
        results[name] = best
        print(f"{best[0]:8.3f} {best[1]:8.3f} {best[2]:6d}  {name}", flush=True)
    totals = [sum(r[i] for r in results.values()) for i in range(3)]
    print(f"{totals[0]:8.3f} {totals[1]:8.3f} {totals[2]:6d}  TOTAL")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
