"""Isolated per-query timing: python tools/time_queries.py q1 q2 [--n=3] [--sf=DIR]
[--explain=plans/r10] [--suffix=_before]

Bench-identical methodology (same session factory, same noop sink, min-of-N
in one JVM after the same warmup) for optimizing individual queries without
paying a full 443-query sweep. Optionally writes each query's
explain("formatted") to <explain>/<name><suffix>.txt for the plan record.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import release_blocks, warm_up
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

    results: dict[str, float] = {}
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
            specs[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        results[name] = round(best, 3)
        print(f"{results[name]:8.3f}  {name}", flush=True)
    print("TOTAL", round(sum(results.values()), 3))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
