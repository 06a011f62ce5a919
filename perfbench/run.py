"""Benchmark entry point.

    python3 perfbench/run.py --workload <onepass|staged|all> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. One driver process
runs the engine on ``local[nproc]`` as a closed loop with one client: one
job at a time, the next only after the previous one was timed, checked
and cleaned up. Jobs run until ``--seconds`` of wall time have passed,
at least one. With ``--trace 0`` the last line of standard
output is the end-to-end result; with ``--trace 1`` it is the per-layer
result of a separate traced run (Spark UI and the Python UDF profiler
on). ``--workload all`` runs every workload, each in its own process,
and prints one result line per workload. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")


def configure_env() -> str:
    """Environment inherited by the JVM and the Python workers: the
    package on the path, one BLAS/OpenMP thread per worker, scratch and
    Spark local dirs inside the checkout, the engine's default driver
    heap whatever the caller's environment says."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
              "NUMEXPR_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.pop("SPARK_DRIVER_MEM", None)    # the engine's default heap
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.port=0 "
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "pyspark-shell")
    return local


def host_probe(nproc: int) -> dict | str:
    """The repository's host probe (``bench.host_probe``: memory-stream
    and cache-resident numpy throughput) at 1 and ``nproc`` processes,
    run after the session has stopped. Reported absent if the
    repository no longer has it."""
    try:
        from bench import host_probe as probe
    except ImportError:
        return "absent"
    return probe(1, nproc)


def _run_all(args, workloads) -> int:
    results = {}
    for w in workloads:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"perfbench: workload {w} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        results[w] = json.loads(lines[-1])
        print(json.dumps({w: results[w]}), flush=True)
    print(json.dumps(results))
    return 0


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import NAMES

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "st_mapmatching_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from the root of a checkout of the repository: "
              "st_mapmatching_spark/ and __spark_entry__.py not found", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args, NAMES)

    nproc = len(os.sched_getaffinity(0))
    local = configure_env()

    from perfbench import driver
    from perfbench.measure import fs_type
    result, detail = driver.run(args.workload, args.seed, args.seconds,
                                bool(args.trace), nproc, WORK, T_PROCESS)
    detail["host"] = {"nproc": nproc, "probe": host_probe(nproc),
                      "spark_local_dirs_fs": fs_type(local),
                      "spark_driver_memory": detail.pop("spark_driver_memory"),
                      "shuffle_partitions": detail.pop("shuffle_partitions"),
                      "blas_threads_per_worker": 1}
    detail.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, total_s=time.perf_counter() - T_PROCESS)
    with open(os.path.join(WORK, f"result_{args.workload}_{args.trace}.json"), "w") as f:
        json.dump({"result": result, "detail": detail}, f, indent=1, default=str)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
