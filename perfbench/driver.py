"""One benchmark run: set-up, the closed measurement loop, the checks.

Timed window of a job: the public call plus a ``noop`` write of every
output column. Outside it, per job: the stage count of the job's group
(from ``sc.statusTracker()``), the output digest, the release of the
returned frame, what is still cached, and ``spark.catalog.clearCache()``.
A job fails if it raises, if its digest differs from the expected one or
if it ran fewer stages than ``expected.json`` holds for its workload (a
job that read a leftover cache skips stages). More stages are no sign of
that: one traced ``staged`` job ran 42 of the usual 41, with the
expected output. The
network-level memos (broadcasts, the sp payload) stay: they are
per-network set-up, paid by the warm-up job and counted in ``setup_s``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from . import measure
from . import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
MAX_JOBS = 40


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def expected_job(expected: dict, workload: str) -> dict:
    """The checks of a timed job of ``workload``: its output digest and
    its stage count."""
    return {"digest": expected[f"{workload}/match_pages"],
            "stages": expected[f"{workload}/stages"]}


def start_session(nproc: int, ui: bool):
    os.environ["SPARK_GRAFT_UI"] = "true" if ui else "false"
    from st_mapmatching_spark.session import get_spark
    spark = get_spark(cores=nproc, app="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark):
    """Stop the context, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort at process exit
            proc.kill()
            proc.wait(timeout=10)


def cached_rdds(spark) -> dict[int, float]:
    """RDD id -> MB held, for every RDD with cached blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {int(i.id()): (i.memSize() + i.diskSize()) / 2 ** 20
            for i in infos if i.numCachedPartitions() > 0}


def release_rdds(spark, ids):
    """Unpersist cached RDDs by id, blocking until their blocks are gone."""
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    for i in ids:
        opt = rdds.get(i)
        if opt.isDefined():
            opt.get().unpersist(True)


def group_stage_count(spark, group: str) -> int:
    """Stages of a job group that ran at least one task."""
    st = spark.sparkContext.statusTracker()
    ran = set()
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                ran.add(s)
    return len(ran)


class Loop:
    """Runs one job at a time and keeps a record per timed job."""

    def __init__(self, spark, workload: W.Workload, expected: dict,
                 input_rdds: set, sampler: measure.RssSampler):
        """``expected`` holds the workload's output ``digest`` and the
        ``stages`` a clean timed job runs; a key left out is not checked
        (``make_expected.py`` measures them that way)."""
        self.spark = spark
        self.w = workload
        self.expected = expected
        self.input_rdds = input_rdds
        self.sampler = sampler
        self.records = []
        self.n = 0

    def run_job(self, timed: bool = True, tag: str = "job", tracer=None) -> dict:
        spark, sc = self.spark, self.spark.sparkContext
        self.n += 1
        group = f"{self.w.name}:{tag}:{self.n}"
        sc.setJobGroup(group, group)
        rec = {"group": group, "ok": True, "error": None}
        span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
        if timed:
            self.sampler.active.set()
        t_wall0 = time.time()
        t0 = time.perf_counter()
        try:
            with span("match_pages"):
                df = self.w.call()
            with span("noop_write"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001 - a failed job is counted, not fatal
            df = None
            rec.update(ok=False, error=f"{type(ex).__name__}: {ex}"[:300])
        t1 = time.perf_counter()
        self.sampler.active.clear()
        rec["wall"] = (t_wall0, time.time())
        rec["job_s"] = t1 - t0
        rec["stages"] = group_stage_count(spark, group)
        if df is not None and timed:
            sc.setJobGroup(f"{group}:digest", "digest")
            out = W.match_projection(df).toPandas()
            rec["digest"] = measure.digest(out)
            rec["status_hist"] = out["status"].value_counts().to_dict()
            want = self.expected.get("digest")
            if want is not None and rec["digest"] != want:
                rec.update(ok=False, error=f"digest {rec['digest']} != expected {want}")
        if df is not None:
            df.unpersist(blocking=True)
        held = {k: v for k, v in cached_rdds(spark).items() if k not in self.input_rdds}
        rec["persisted_rdds"] = len(held)
        rec["leaked_mb"] = sum(held.values())
        spark.catalog.clearCache()
        release_rdds(spark, held)
        want = self.expected.get("stages")
        if timed and rec["ok"] and want is not None and rec["stages"] < want:
            rec.update(ok=False, error=f"ran {rec['stages']} stages, fewer than {want}")
        sc.setJobGroup("idle", "idle")
        if timed:
            self.records.append(rec)
        return rec


def run(workload: str, seed: int, seconds: float, trace: bool, nproc: int,
        work: str, t_process: float) -> tuple[dict, dict]:
    expected = load_expected()
    phases = {}

    t = time.perf_counter()
    spark = start_session(nproc, ui=trace)
    phases["session_s"] = time.perf_counter() - t
    try:
        driver_memory = spark.conf.get("spark.driver.memory")
        w, ph = W.setup(spark, workload, seed, nproc)
        shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        phases.update(ph)
        held = set(cached_rdds(spark))   # the staged input

        with measure.RssSampler() as sampler:
            loop = Loop(spark, w, expected_job(expected, workload), held, sampler)
            t = time.perf_counter()
            warmup = loop.run_job(timed=False, tag="warmup")
            phases["warmup_s"] = time.perf_counter() - t
            setup_s = time.perf_counter() - t_process   # process start to ready
            t = time.perf_counter()
            if trace:
                from . import tracing
                result, detail = tracing.traced_run(spark, loop, phases, work, expected)
            else:
                result, detail = measured_run(loop, seconds, setup_s, sampler)
            phases["measure_s"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        stop_session(spark)
        phases["stop_s"] = time.perf_counter() - t
    detail["phases"] = phases
    detail["warmup_stages"] = warmup["stages"]
    detail["spark_driver_memory"] = driver_memory
    detail["shuffle_partitions"] = shuffle_partitions
    return result, detail


def measured_run(loop: Loop, seconds: float, setup_s: float,
                 sampler: measure.RssSampler) -> tuple[dict, dict]:
    """Closed loop: one job at a time, at least one, and then another only
    while it can end within ``seconds`` of wall time, judged by the last
    job (timed window, digest and clean-up together)."""
    t_end = time.perf_counter() + seconds
    cycle = 0.0
    while not loop.records or (len(loop.records) < MAX_JOBS
                               and time.perf_counter() + cycle <= t_end):
        t = time.perf_counter()
        loop.run_job()
        cycle = time.perf_counter() - t
    recs = loop.records
    failed = [r for r in recs if not r["ok"]]
    job_s = measure.median(r["job_s"] for r in recs)
    metrics = {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "trajs_per_s": (loop.w.n_trajs / job_s, "traj/s"),
        "worker_rss_mb": (sampler.peak["workers"], "MB"),
    }
    result = {"correct": not failed, "attempted": len(recs), "failed": len(failed),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    detail = {"job_samples": len(recs),
              "failed_frac": len(failed) / len(recs),
              "errors": [r["error"] for r in failed][:5],
              "stages_per_job": [r["stages"] for r in recs],
              "job_s_all": [r["job_s"] for r in recs],
              "retained_mb": [r["leaked_mb"] for r in recs],
              "persisted_rdds": [r["persisted_rdds"] for r in recs],
              "peak_rss_mb": sampler.peak}
    return result, detail
