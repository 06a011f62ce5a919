"""The traced run: per-layer numbers, taken from outside the engine.

Sources, all outside the measured plan:
- spans recorded by the benchmark around each call into a layer, each
  mapped to a Spark job group;
- stage metrics Spark already records, read over the UI REST API (the UI
  is on in this run only);
- the Python UDF profiler (``spark.sql.pyspark.udf.profiler=perf``),
  dumped after each traced job and summed by function.

The staged decomposition runs each public layer function on the previous
layer's materialized output, in its own job group. It is a traced-run
decomposition, not the measured plan. On ``onepass`` the traced run also
measures the operator suite (``operators_layer``) and the sharded
matcher (``sharded_layer``). A layer whose public function no longer
exists is reported absent rather than failing the run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import pstats
import shutil
import time
import urllib.request
from datetime import datetime, timezone

from . import measure, operators_layer, sharded_layer

KERNELS = {  # metric -> (module, function); cumulative time in the profile
    "candidates.extract_arrays_s": ("st_mapmatching_spark/operators/candidates.py", "extract_arrays"),
    "kernels.simplify_points_batch_s": ("st_mapmatching_spark/kernels/simplify.py", "simplify_points_batch"),
    "kernels.project_core_s": ("st_mapmatching_spark/kernels/linear_ref.py", "project_core"),
    "kernels.score_base_np_s": ("st_mapmatching_spark/kernels/hmm.py", "score_base_np"),
    "kernels.engine_dir_probs_s": ("st_mapmatching_spark/kernels/dir_stats.py", "engine_dir_probs"),
    "kernels.viterbi_beam_lockstep_s": ("st_mapmatching_spark/kernels/hmm.py", "viterbi_beam_lockstep"),
    "kernels.stitch_path_s": ("st_mapmatching_spark/kernels/hmm.py", "stitch_path"),
}
SELF_KERNELS = {  # metric -> (module, function); self time in the profile
    "matching.match_frame_self_s": ("st_mapmatching_spark/operators/matching.py", "_match_frame"),
}
SPARK = ("spark.jobs", "spark.stages", "spark.tasks", "spark.task_failures",
         "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
         "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
         "spark.driver_gap_s")
# staged decomposition: span name -> (module, public function)
LAYERS = {
    "candidates.extract_simplify": ("st_mapmatching_spark.operators.candidates", "extract_simplify"),
    "candidates.candidate_join": ("st_mapmatching_spark.operators.candidates", "candidate_join"),
    "candidates.rehydrate": ("st_mapmatching_spark.operators.candidates", "rehydrate_cands"),
    "shortest_paths.demands": ("st_mapmatching_spark.operators.matching", "sp_demands"),
    "shortest_paths.table": ("st_mapmatching_spark.operators.shortest_paths", "shortest_path_table"),
    "matching.build_pairs": ("st_mapmatching_spark.operators.matching", "build_pairs_df"),
    "matching.score_pairs": ("st_mapmatching_spark.operators.matching", "score_pairs_df"),
    "matching.viterbi": ("st_mapmatching_spark.operators.matching", "viterbi_match"),
    "matching.attach_epath": ("st_mapmatching_spark.operators.matching", "attach_epath_relational"),
}
COUNTS = ("candidates.rows", "shortest_paths.demand_rows", "shortest_paths.rows",
          "matching.pair_rows", "shortest_paths.used_frac", "trace.pipelining_gap_s")
STATUS = tuple(f"matching.status_{i}" for i in range(4))
OTHER = ("python.udf_s", "python.arrow_s", "python.kernel_s",
         "cache.persisted_rdds", "cache.retained_mb",
         "process.peak_rss_mb", "process.jvm_rss_mb",
         "setup.session_s", "setup.network_s", "setup.input_s", "setup.warmup_s",
         "trace.overhead_s")
UNTRACED_JOBS = 1
TRACED_JOBS = 1


def per_layer_names() -> list[str]:
    return (list(SPARK) + list(OTHER[:3]) + list(KERNELS) + list(SELF_KERNELS)
            + [f"{n}_s" for n in LAYERS] + list(COUNTS) + list(STATUS)
            + list(sharded_layer.NAMES) + list(operators_layer.NAMES)
            + list(OTHER[3:]))


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


class Tracer:
    """Spans kept in memory: id, name, parent, run id, job group, start
    and end (epoch seconds)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, sc=None, group: str | None = None):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "group": group, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if sc is not None and group is not None:
            sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str):
        selfs = measure.self_times(self.spans)
        for s in self.spans:
            s["self_s"] = selfs[s["id"]]
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# ---------------------------------------------------------------------------
# Spark UI REST
# ---------------------------------------------------------------------------

def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


class Rest:
    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group_metrics(self, group: str, window: tuple[float, float]) -> dict:
        """Stage metrics of every job in ``group``, summed; waits until the
        status store has seen every job and stage of the group finish."""
        for _ in range(100):
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") == group]
            ids = {s for j in jobs for s in j["stageIds"]}
            stages = [s for s in self.get("/stages") if s["stageId"] in ids]
            if all(j["status"] != "RUNNING" for j in jobs) and \
                    all(s["status"] in ("COMPLETE", "SKIPPED", "FAILED") for s in stages):
                break
            time.sleep(0.05)
        ran = [s for s in stages if s["status"] != "SKIPPED"]
        intervals = [(_ts(s.get("submissionTime")), _ts(s.get("completionTime")))
                     for s in ran]
        intervals = [(a, b) for a, b in intervals if a and b]
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(ran),
            "spark.tasks": sum(s["numCompleteTasks"] for s in ran),
            "spark.task_failures": sum(s["numFailedTasks"] for s in ran),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / 2 ** 20,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in ran) / 2 ** 20,
            "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                  for s in ran) / 2 ** 20,
            "spark.driver_gap_s": measure.driver_gap(window, intervals),
        }


# ---------------------------------------------------------------------------
# UDF profile
# ---------------------------------------------------------------------------

def _engine_files() -> set[str]:
    """Basenames of the engine's modules (the profiler records basenames)."""
    import st_mapmatching_spark
    root = os.path.dirname(st_mapmatching_spark.__file__)
    return {os.path.basename(f) for f in glob.glob(os.path.join(root, "**", "*.py"),
                                                    recursive=True)}


def profile_metrics(stats: dict, engine_files: set[str]) -> dict:
    """Sum a pstats table ((file, line, fn) -> (cc, nc, tt, ct, callers))
    of the UDF bodies into the python.* and kernel metrics.

    python.udf_s    all time profiled inside UDF bodies, summed over tasks
    python.kernel_s self time in engine functions plus the cumulative time
                    of the non-engine functions they call directly (numpy,
                    pandas)
    """
    def engine(key):
        return key[0] in engine_files

    kernel = 0.0
    for key, (_, _, tt, _, callers) in stats.items():
        if engine(key):
            kernel += tt
        else:
            kernel += sum(c[3] for ck, c in callers.items() if engine(ck))
    out = {"python.udf_s": sum(v[2] for v in stats.values()),
           "python.kernel_s": kernel}
    for metrics, col in ((KERNELS, 3), (SELF_KERNELS, 2)):
        for name, (file, fn) in metrics.items():
            base = os.path.basename(file)
            out[name] = sum(v[col] for k, v in stats.items()
                            if k[0] == base and k[2] == fn)
    return out


def _defined(file: str, fn: str) -> bool:
    """Whether the engine still defines function ``fn`` in ``file``."""
    import importlib
    mod = file[:-3].replace("/", ".")
    try:
        return hasattr(importlib.import_module(mod), fn)
    except ImportError:
        return False


def dump_profile(spark, path: str) -> dict:
    """Dump the UDF perf profiles, merge them and clear the collector."""
    shutil.rmtree(path, ignore_errors=True)
    spark.profile.dump(path)
    spark.profile.clear()
    files = glob.glob(os.path.join(path, "*.pstats"))
    if not files:
        return {}
    st = pstats.Stats(files[0])
    for f in files[1:]:
        st.add(f)
    return st.stats


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

def _median_dicts(dicts: list[dict]) -> dict:
    keys = set().union(*dicts) if dicts else set()
    return {k: measure.median(d.get(k, 0.0) for d in dicts) for k in keys}


def staged_decomposition(spark, w, tracer: Tracer) -> tuple[dict, list]:
    """Run the staged plan's public layer functions one at a time, each
    on the previous layer's materialized output."""
    import importlib
    sc = spark.sparkContext
    fns, absent = {}, []
    for span, (mod, attr) in LAYERS.items():
        fn = getattr(importlib.import_module(mod), attr, None)
        if fn is None:
            absent.append(span)
        fns[span] = fn
    out, held = {}, []
    if absent:
        return out, absent
    from st_mapmatching_spark.operators.candidates import network_frames
    cfg, net = w.cfg, w.net
    idx, attrs = network_frames(spark, net, cfg)
    nids, _ = net.node_xy_arrays()

    def layer(span, make):
        group = f"decomp:{span}"
        with tracer.span(span, sc, group) as rec:
            df = make().persist()
            n = df.count()
        held.append(df)
        out[f"{span}_s"] = rec["end"] - rec["start"]
        return df, n

    with tracer.span("decomposition"):
        pts, _ = layer("candidates.extract_simplify",
                       lambda: fns["candidates.extract_simplify"](w.pages, cfg))
        cands, out["candidates.rows"] = layer(
            "candidates.candidate_join",
            lambda: fns["candidates.candidate_join"](pts, idx, attrs, cfg, True,
                                                     net=net, slim=True))
        full, _ = layer("candidates.rehydrate",
                        lambda: fns["candidates.rehydrate"](cands, net))
        dem, out["shortest_paths.demand_rows"] = layer(
            "shortest_paths.demands",
            lambda: fns["shortest_paths.demands"](cands, attrs, n_nodes=len(nids)))
        sp, out["shortest_paths.rows"] = layer(
            "shortest_paths.table",
            lambda: fns["shortest_paths.table"](spark, dem, net, cfg))
        pairs, out["matching.pair_rows"] = layer(
            "matching.build_pairs", lambda: fns["matching.build_pairs"](full, pts, cfg))
        scored, _ = layer("matching.score_pairs",
                          lambda: fns["matching.score_pairs"](spark, pairs, sp, net, cfg,
                                                              broadcast_sp=False))
        pre, _ = layer("matching.viterbi",
                       lambda: fns["matching.viterbi"](full, scored, cfg, sp_paths=None))
        layer("matching.attach_epath",
              lambda: fns["matching.attach_epath"](pre, sp, cfg))
    sc.setJobGroup("decomp:used", "used")
    used = sp.join(pairs.select("o_node", "d_node").distinct(),
                   ["o_node", "d_node"], "left_semi").count()
    out["shortest_paths.used_frac"] = used / max(out["shortest_paths.rows"], 1)
    for df in held:
        df.unpersist(blocking=True)
    spark.catalog.clearCache()
    return out, absent


def traced_run(spark, loop, phases: dict, work: str,
               expected: dict) -> tuple[dict, dict]:
    """Untraced jobs (UI on, profiler off), then traced jobs (profiler on,
    spans), then the staged decomposition (``staged``) or the operator
    suite and the sharded matcher (``onepass``). Per-layer values are
    medians per job."""
    sc = spark.sparkContext
    tracer = Tracer(f"{loop.w.name}-{sc.applicationId}")
    rest = Rest(sc)

    spark_m, untraced = [], []
    for _ in range(UNTRACED_JOBS):
        rec = loop.run_job()
        untraced.append(rec)
        spark_m.append(rest.group_metrics(rec["group"], rec["wall"]))

    prof_dir = os.path.join(work, "profile")
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    prof_m, traced, files = [], [], _engine_files()
    try:
        for _ in range(TRACED_JOBS):
            with tracer.span("job"):
                rec = loop.run_job(tag="traced", tracer=tracer)
            traced.append(rec)
            pm = profile_metrics(dump_profile(spark, prof_dir), files)
            # task time outside the UDF bodies: Arrow<->pandas conversion,
            # serialization and the JVM operators of the job
            run_s = rest.group_metrics(rec["group"], rec["wall"])["spark.executor_run_s"]
            pm["python.arrow_s"] = run_s - pm["python.udf_s"]
            prof_m.append(pm)
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")

    job_s = measure.median(r["job_s"] for r in untraced)
    m = {k: 0.0 for k in per_layer_names()}
    m.update(_median_dicts(spark_m))
    m.update(_median_dicts(prof_m))
    m["cache.persisted_rdds"] = measure.median(r["persisted_rdds"] for r in untraced)
    m["cache.retained_mb"] = measure.median(r["leaked_mb"] for r in untraced)
    m["process.peak_rss_mb"] = loop.sampler.peak["total"]
    m["process.jvm_rss_mb"] = loop.sampler.peak["jvm"]
    for k in ("session_s", "network_s", "input_s", "warmup_s"):
        m[f"setup.{k}"] = phases[k]
    m["trace.overhead_s"] = measure.median(r["job_s"] for r in traced) - job_s
    for i in range(4):
        m[f"matching.status_{i}"] = measure.median(
            r.get("status_hist", {}).get(i, 0) for r in untraced)

    absent = [name for name, (file, fn) in {**KERNELS, **SELF_KERNELS}.items()
              if not _defined(file, fn)]
    recs = loop.records
    attempted = len(recs)
    errors = [r["error"] for r in recs if not r["ok"]]
    failed = len(errors)
    w = loop.w
    if w.name == "staged":
        not_applicable = list(sharded_layer.NAMES) + list(operators_layer.NAMES)
        decomp, missing = staged_decomposition(spark, w, tracer)
        absent += missing
        m.update(decomp)
        if not missing:
            m["trace.pipelining_gap_s"] = sum(
                decomp[f"{n}_s"] for n in LAYERS) - job_s
    else:
        not_applicable = [f"{n}_s" for n in LAYERS] + list(COUNTS)
        ops, missing, errs = operators_layer.run(spark, tracer, expected,
                                                 loop.input_rdds)
        sharded, missing_sh, err = sharded_layer.run(
            spark, w, tracer, expected.get("onepass/sharded"))
        errs += [err] if err else []
        m.update(ops)
        m.update(sharded)
        absent += missing + missing_sh
        attempted += len(operators_layer.CALLS) - len(missing) + ("sharded.job_s" in sharded)
        failed += len(errs)
        errors += errs
    tracer.write(os.path.join(work, f"trace_{w.name}.json"))

    result = {"correct": not errors, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(v), "unit": unit_of(k)}
                          for k, v in sorted(m.items())}}
    detail = {"untraced_job_s": [r["job_s"] for r in untraced],
              "traced_job_s": [r["job_s"] for r in traced],
              "absent": absent, "not_applicable": not_applicable,
              "errors": errors[:5],
              "spans": len(tracer.spans)}
    return result, detail
