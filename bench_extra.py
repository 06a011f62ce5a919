#!/usr/bin/env python
"""Round-7 optimization measurement harness (bench.py is FROZEN for the
driver's measurement; every extra number quoted in OPTIMIZATION_r07.md
comes from here).

Usage:
  python bench_extra.py --time q1,q2 [--sf DIR] [--iters N] [--noop]
      time the named headline queries (same warm-up + min-of-N methodology
      as bench.py; --noop uses the noop sink instead of .count())
  python bench_extra.py --explain q1,q2 [--sf DIR] [--tag before|after]
      write .explain("formatted") for each query to plans/r07/<q>_<tag>.txt
  python bench_extra.py --simhash-stages [--sf DIR]
      per-stage breakdown of the dedup_simhash pipeline
"""

from __future__ import annotations

import json
import os
import sys
import time

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _arg(name, default=None):
    if name in sys.argv:
        i = sys.argv.index(name)
        if i + 1 < len(sys.argv) and not sys.argv[i + 1].startswith("--"):
            return sys.argv[i + 1]
        return True
    return default


def _spark():
    from st_mapmatching_spark.session import get_spark
    return get_spark(cores=CPUS, app="bench-extra")


def _sink(df, noop: bool) -> int:
    if noop:
        df.write.format("noop").mode("overwrite").save()
        return -1
    return df.count()


def time_queries(names, sf_dir, iters=3, noop=False):
    import __spark_entry__ as entry
    spark = _spark()
    qs = entry.queries()
    for name in names:            # warm-up: codegen + broadcasts
        qs[name](spark, "/root/testdata/sf0.001").count()
    times, counts = {}, {}
    for _ in range(iters):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench-extra:{name}")
            t0 = time.perf_counter()
            counts[name] = _sink(qs[name](spark, sf_dir), noop)
            dt = round(time.perf_counter() - t0, 3)
            times[name] = min(times.get(name, dt), dt)
            spark.sparkContext.setJobDescription(None)
    out = {"metric": "bench_extra_sec", "queries": times, "rows": counts,
           "sf": sf_dir, "cpus": CPUS, "iters": iters, "noop": noop,
           "total": round(sum(times.values()), 3)}
    print(json.dumps(out))
    spark.stop()


def explain_queries(names, sf_dir, tag):
    import __spark_entry__ as entry
    spark = _spark()
    qs = entry.queries()
    os.makedirs("plans/r07", exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(f"plans/r07/{name}_{tag}.txt", "w") as f:
            f.write(txt)
        print(f"wrote plans/r07/{name}_{tag}.txt ({len(txt)} bytes)")
    spark.stop()


def simhash_stages(sf_dir):
    """Isolate: scan, simhash64 compute, chunk explode+self-join+dedup."""
    from pyspark.sql import functions as F
    from st_mapmatching_spark.operators.dedup import (simhash64,
                                                      simhash_near_pairs)
    spark = _spark()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res = {}
    t0 = time.perf_counter()
    n_docs = docs.count()
    res["scan_count"] = round(time.perf_counter() - t0, 3)
    # text volume
    stats = docs.agg(F.count("*").alias("n"),
                     F.sum(F.length("text")).alias("chars")).first()
    res["n_docs"] = stats.n
    res["total_chars"] = stats.chars

    for it in range(2):
        t0 = time.perf_counter()
        sh = simhash64(docs)
        sh.write.format("noop").mode("overwrite").save()
        res[f"simhash64_noop_{it}"] = round(time.perf_counter() - t0, 3)

    sh = simhash64(docs).persist()
    sh.count()
    # candidate pair volume before hamming filter
    chunks = sh.select(F.col("doc_id").alias("id"), "simhash",
                       F.explode(F.array(*[
                           F.struct(F.lit(c).alias("c"),
                                    F.shiftright("simhash", c * 16)
                                    .bitwiseAND(F.lit(0xFFFF)).alias("v"))
                           for c in range(4)])).alias("ck")) \
              .select("id", "simhash", F.col("ck.c").alias("c"),
                      F.col("ck.v").alias("v"))
    bucket = chunks.groupBy("c", "v").count()
    t0 = time.perf_counter()
    top = bucket.orderBy(F.desc("count")).limit(10).collect()
    res["bucket_top10"] = [(r.c, r.v, r["count"]) for r in top]
    res["bucket_probe_sec"] = round(time.perf_counter() - t0, 3)
    npairs = bucket.agg(
        F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0]
    res["candidate_pairs_prededup"] = int(npairs)
    sh.unpersist()

    for it in range(2):
        t0 = time.perf_counter()
        n = simhash_near_pairs(docs, max_hamming=3).count()
        res[f"full_pipeline_{it}"] = round(time.perf_counter() - t0, 3)
    res["out_rows"] = n
    print(json.dumps(res))
    spark.stop()


def shuffle_probe(lo: int = 2, hi: int = 8, secs: float = 4.0) -> dict:
    """Bare shuffle-proxy probe (ZERO Spark): per process, the staged
    matcher's shuffle-leg work profile — argsort an int64 key over a
    ~100 MB structured payload, gather the payload through the sort
    order, then a serialize/deserialize memcpy round-trip (the
    write+read of a shuffle partition). Aggregate work-units/s at lo and
    hi processes = the host's achievable scaling ceiling for
    sort+stream-bound work. A Spark pair whose efficiency matches this
    ceiling is host-bound, not engine-bound (r6 verdict item 1b)."""
    import multiprocessing as mp
    import numpy as np

    def work(out, i, seconds):
        rng = np.random.default_rng(97 + i)
        n = 1_200_000                      # ~ one x32-leg shuffle partition
        key = rng.integers(0, 1 << 62, n)
        payload = rng.random((n, 9))       # ~ the slimmed union row width
        t0, units = time.perf_counter(), 0
        while time.perf_counter() - t0 < seconds:
            o = np.argsort(key, kind="stable")     # the sort
            g = payload[o]                         # the gather
            b = g.tobytes()                        # shuffle write
            np.frombuffer(b, dtype=np.float64)     # shuffle read
            units += 1
        out[i] = units / (time.perf_counter() - t0)

    res = {"cores": [lo, hi]}
    per = {}
    for np_ in (lo, hi):
        out = mp.Manager().dict()
        ps = [mp.Process(target=work, args=(out, i, secs)) for i in range(np_)]
        [p.start() for p in ps]
        [p.join() for p in ps]
        per[np_] = round(sum(out.values()), 2)
    res["shuffle"] = {"agg_throughput": per,
                      "scaling_lo_to_hi": round(per[hi] / per[lo], 2),
                      "eff_vs_ideal": round(per[hi] / per[lo] / (hi / lo), 3)}
    return res


def staged_pair(mult: int = 32, g: int = 350) -> dict:
    """The staged-relational 2c/8c pair with host probes BRACKETING each
    leg (r6 verdict item 1: 'the bandwidth-bound claim not yet
    attributed'): stream/compute/shuffle-proxy ceilings are measured in
    the same window as the legs they annotate, so the pair efficiency
    can be read against what THIS window's host could deliver for the
    path's sort+stream-bound shuffle work. Legs are bench.py's own
    (subprocess-isolated, identical methodology)."""
    import subprocess
    import bench

    def probes():
        return {"host": bench.host_probe(2, 8), "shuffle": shuffle_probe(2, 8)}

    res = {"metric": "staged_pair_attributed", "g": g, "mult": mult}
    res["probe_before"] = probes()
    legs = {}
    for cpus in ("2", "8"):
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
                   SPARK_GRAFT_SCALE_MULT=str(mult),
                   SPARK_GRAFT_BIGNET_G=str(g))
        p = subprocess.run([sys.executable, "bench.py", "--bignet-leg"],
                           env=env, capture_output=True, text=True, check=True)
        legs[cpus] = json.loads(p.stdout.strip().splitlines()[-1])
        res[f"probe_after_{cpus}c"] = probes()
    res["legs"] = legs
    eff = (legs["8"]["trajs_per_sec"] / legs["2"]["trajs_per_sec"]) / 4.0
    res["scaling_efficiency"] = round(eff, 3)
    # the binding ceiling for this path: the WORST stream/shuffle scaling
    # observed in the windows bracketing the legs (the path's shuffles
    # are exactly this work profile)
    ceils = []
    for k in ("probe_before", "probe_after_2c", "probe_after_8c"):
        ceils.append(res[k]["host"]["stream"]["scaling_lo_to_hi"] / 4.0)
        ceils.append(res[k]["shuffle"]["shuffle"]["eff_vs_ideal"])
    res["stream_ceiling_band"] = [round(min(ceils), 3), round(max(ceils), 3)]
    res["eff_vs_worst_ceiling"] = round(eff / min(ceils), 3) if min(ceils) else None
    try:
        os.makedirs("BENCH", exist_ok=True)
        with open("BENCH/LEGS.jsonl", "a") as f:
            f.write(json.dumps({**res, "ts": time.strftime("%Y-%m-%dT%H:%M:%S")}) + "\n")
    except OSError:
        pass
    return res


def main():
    names = _arg("--time") or _arg("--explain")
    sf_dir = _arg("--sf", SF)
    if _arg("--time"):
        time_queries(names.split(","), sf_dir,
                     iters=int(_arg("--iters", 3)),
                     noop=bool(_arg("--noop", False)))
    elif _arg("--explain"):
        explain_queries(names.split(","), sf_dir, _arg("--tag", "before"))
    elif _arg("--simhash-stages"):
        simhash_stages(sf_dir)
    elif _arg("--shuffle-probe"):
        print(json.dumps({"metric": "shuffle_probe", **shuffle_probe()}))
    elif _arg("--staged-pair"):
        mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "32"))
        g = int(os.environ.get("SPARK_GRAFT_BIGNET_G", "350"))
        print(json.dumps(staged_pair(mult, g)))
    else:
        print(__doc__)


if __name__ == "__main__":
    main()
