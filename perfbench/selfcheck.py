"""Steadiness self-check for the benchmark.

    python3 perfbench/selfcheck.py [--seeds 5] [--workloads bi_star,...]

For each workload: two sets of untraced runs (set A on seeds 1..N, set B on
seeds N+1..2N), then two traced runs. Reports, per end-to-end metric, each
set's median and quartiles, the spread (interquartile range / median), the
shift of set B's median against set A's next to the metric's bound in
BENCHMARK.json, and the spread over all 2N runs; then the tracing overhead
(traced ``warm_pass_s`` against untraced), each run's wall time and what 22
runs per workload plus 4 more would take. Fails if any run is incorrect, if
a spread or a median shift exceeds its bound (``setup_s`` included), or if
the per-layer ``jobs`` and ``tasks`` differ between the two traced runs.

Run from the repository root; takes about 2 × N + 2 runs per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    return {"info": json.loads(out[-2])["info"], "wall_s": time.time() - t, **json.loads(out[-1])}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=5)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    report, ok = {}, True
    for wl in args.workloads.split(","):
        sets = [[run(wl, args.seeds * s + i + 1, seconds, 0) for i in range(args.seeds)]
                for s in (0, 1)]
        traced = [run(wl, i + 1, seconds, 1) for i in range(2)]
        rows = {}
        for name, m in metrics.items():
            a, b = (summary([r["metrics"][name]["value"] for r in runs]) for runs in sets)
            worse = (b["median"] - a["median"]) / a["median"] if a["median"] else 0.0
            if m["better"] == "higher":
                worse = -worse
            spread_ok = max(a["spread"], b["spread"]) <= m["bound"]
            pooled = summary([r["metrics"][name]["value"] for runs in sets for r in runs])
            rows[name] = {"A": a, "B": b, "all": pooled, "shift": worse, "bound": m["bound"],
                          "ok": spread_ok and worse <= m["bound"]}
            ok &= rows[name]["ok"]
        counts = [{k: v["value"] for k, v in t["metrics"].items()
                   if k.endswith((".jobs", ".tasks"))} for t in traced]
        untraced_warm = statistics.median(r["metrics"]["warm_pass_s"]["value"]
                                          for runs in sets for r in runs)
        traced_warm = statistics.median(t["metrics"]["trace.warm_pass_s"]["value"] for t in traced)
        correct = all(r["correct"] for runs in sets for r in runs) and all(t["correct"] for t in traced)
        walls = [r["wall_s"] for runs in sets for r in runs]
        report[wl] = {
            "metrics": rows,
            "median_wall_s": statistics.median(walls),
            "correct": correct,
            "counts_repeat": counts[0] == counts[1],
            "counts": counts[0],
            "tracing_overhead": traced_warm / untraced_warm - 1,
            "trace_read_s_per_pass": statistics.median(
                t["metrics"]["trace.overhead_s"]["value"] for t in traced),
        }
        ok &= correct and counts[0] == counts[1]
        print(f"== {wl}: correct={correct} counts_repeat={counts[0] == counts[1]} "
              f"tracing_overhead={report[wl]['tracing_overhead']:+.1%} "
              f"(store reads {report[wl]['trace_read_s_per_pass']:.3f} s/pass) "
              f"median_wall={report[wl]['median_wall_s']:.1f}s")
        for name, r in rows.items():
            print(f"  {name:12s} A {r['A']['median']:10.4f} [{r['A']['q1']:.4f}, {r['A']['q3']:.4f}] "
                  f"spread {r['A']['spread']:.3f} | B {r['B']['median']:10.4f} spread "
                  f"{r['B']['spread']:.3f} | all {r['all']['spread']:.3f} | shift {r['shift']:+.3f} "
                  f"bound {r['bound']} "
                  f"{'ok' if r['ok'] else 'FAIL'}")
    walls = [r["median_wall_s"] for r in report.values()]
    print(f"22 runs per workload + 4 take about {22 * sum(walls) + 4 * max(walls):.0f} s")
    os.makedirs(os.path.join(HERE, ".state"), exist_ok=True)
    with open(os.path.join(HERE, ".state", "selfcheck.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("selfcheck", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
