"""Benchmark entry point.

    python3 perfbench/run.py --workload {bi_star,elt_curation}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Prints one info line and, as the last line of
standard output, the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Before spawning the measured process this script

* pins the environment: ``SPARK_GRAFT_CPUS`` = the CPUs this process may
  use, ``SPARK_GRAFT_SF_DIR`` = the star tables under ``data/``, no memory or
  split-size overrides, the repository root on ``PYTHONPATH`` (pandas-UDF
  workers import the package from it) and ``TMPDIR``/``SPARK_LOCAL_DIRS``
  in a per-run directory that is deleted afterwards;
* computes the expected query results on first use and caches them under
  ``perfbench/.state/`` (DuckDB oracles over the star tables; they never
  depend on the seed) and, for ``elt_curation``, generates the seeded raw
  files in the run directory;
* removes the package's lazily built ``.derived/<sf>/`` lakes for the
  benchmark's tables, so every run starts from the same disk state.

The measured process runs in its own session; everything in it is killed
and waited for before this script exits.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
RUN_LIMIT_S = 170.0
PR_SET_CHILD_SUBREAPER = 36


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def ensure_expected(workloads) -> dict:
    """Expected query results over the star tables, computed once per
    checkout. The cache key covers everything they depend on: the tables'
    bytes, each query's oracle SQL and the code that digests the rows."""
    from wheels_in_motion_analytics_spark.registry import load_all_queries

    queries = sorted(q for qs in workloads.WORKLOAD_QUERIES.values() for q in qs)
    specs = load_all_queries()
    key = hashlib.sha256()
    for name in sorted(os.listdir(workloads.SF_DIR)):
        with open(os.path.join(workloads.SF_DIR, name), "rb") as f:
            key.update(name.encode() + b"\0" + hashlib.sha256(f.read()).digest())
    for q in queries:
        key.update(q.encode() + b"\0" + specs[q].oracle.encode() + b"\0")
    for src in (workloads.__file__, os.path.join(ROOT, "tools", "driver_check.py")):
        with open(src, "rb") as f:
            key.update(f.read())
    path = os.path.join(STATE, f"expected-{key.hexdigest()[:16]}.json")
    if not os.path.exists(path):
        os.makedirs(STATE, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(workloads.compute_expected(workloads.SF_DIR, queries), f)
        os.rename(tmp, path)
    with open(path) as f:
        return json.load(f)


def pinned_env(sf_dir: str, run_dir: str, cores: int) -> dict:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_")) and k != "SPARK_LOCAL_DIRS"}
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # Keep the JVM's temp files in the run directory too; its perf-data
        # file would otherwise be left in /tmp by every killed JVM.
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-XX:+PerfDisableSharedMem",
        ])),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYTHONHASHSEED": "0",
    })
    return env


def kill_session(proc: subprocess.Popen) -> None:
    """Kill every process of the worker's session and reap them all.

    This process is a child subreaper, so the session's processes become its
    children once their parents die, and ``waitpid`` sees each of them end."""
    from probe import session_pids

    for pid in [proc.pid] + session_pids(proc.pid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    deadline = time.time() + 30
    while session_pids(proc.pid) and time.time() < deadline:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # Turn a termination request into an exception, so the finally blocks
    # below still kill the measured process's session and remove the run dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1)

    if not os.path.isfile(os.path.join(ROOT, "wheels_in_motion_analytics_spark", "__init__.py")):
        return fail(f"package not found under {ROOT}; run from a repository checkout")
    sys.path.insert(0, ROOT)
    import workloads
    import datagen

    if args.workload not in workloads.WORKLOAD_QUERIES:
        return fail(f"unknown workload {args.workload!r}")

    cores = len(os.sched_getaffinity(0))
    sf_dir = workloads.SF_DIR
    expected = ensure_expected(workloads)
    shutil.rmtree(os.path.join(ROOT, ".derived", os.path.basename(sf_dir)), ignore_errors=True)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    traces = os.path.join(STATE, "traces")
    os.makedirs(traces, exist_ok=True)
    try:
        cfg = {"expected": expected, "cores": cores, "sf_dir": sf_dir}
        if args.workload == "elt_curation":
            cfg["elt"] = datagen.write_elt_inputs(os.path.join(run_dir, "inputs"), args.seed,
                                                  **workloads.ELT)
        config = os.path.join(run_dir, "config.json")
        with open(config, "w") as f:
            json.dump(cfg, f)
        result_path = os.path.join(run_dir, "result.json")
        log_path = os.path.join(run_dir, "worker.log")
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--run-dir", run_dir, "--config", config, "--result", result_path,
               "--spans", os.path.join(traces, f"{args.workload}-seed{args.seed}.json")]
        with open(log_path, "w") as log:
            t_spawn = time.time()
            proc = subprocess.Popen(cmd + ["--t-spawn", repr(t_spawn)], cwd=run_dir,
                                    env=pinned_env(sf_dir, run_dir, cores), stdin=subprocess.DEVNULL,
                                    stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
            try:
                code = proc.wait(timeout=max(RUN_LIMIT_S - (time.time() - t_start), 10))
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                kill_session(proc)
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            return fail(f"measured process ended with {code}")
        with open(result_path) as f:
            out = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    env_info = {"cores": cores, "sf_dir": os.path.relpath(sf_dir, ROOT),
                "elt": workloads.ELT if args.workload == "elt_curation" else None,
                "python": sys.version.split()[0], "seconds": args.seconds, "trace": args.trace}
    print(json.dumps({"info": {**out["info"], "env": env_info}}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
