"""The region-sharded matcher, measured in the traced run of ``onepass``.

``match_pages_sharded`` with auto-derived parameters on a 100 x 100 grid
(10,000 nodes; the one-pass plan stops at ~1,400) over snake pages
derived from the same sf0.1 events table as ``onepass``. It runs the frame kernels of
``onepass`` behind another set-up: region payloads memoized on the
network, a region job, and a staged fallback for urls that break the
guards. Its set-up costs about a whole ``onepass`` run, which the end-to-end
run budget does not have, so it is measured here only: one warm-up call,
the parameter derivation on its own, then one clean call. The grid is
smaller than the 150 x 150 first planned because the region
payloads of that grid took ~40-53 s to build, which pushed the traced
run towards the 180 s a run may take.
Its output must equal ``match_pages`` on the same input (the expected
digest made by ``make_expected.py``).
"""

from __future__ import annotations

from . import measure
from . import workloads as W

GRID = 100
NAMES = ("sharded.setup_s", "sharded.derive_params_s", "sharded.job_s",
         "sharded.stages", "sharded.regions", "sharded.fallback_urls")


def network():
    import __spark_entry__ as E
    from st_mapmatching_spark.sources import derived as D
    return D.big_grid_network(E.CFG, GRID)


def stage(spark, seed: int, nproc: int):
    from st_mapmatching_spark.sources import derived as D
    return W.stage_pages(D.derive_points_snake(spark, W.DATA, GRID), seed, 4 * nproc)


def _write(df):
    df.write.format("noop").mode("overwrite").save()


def run(spark, w: W.Workload, tracer, expected: str | None) -> tuple[dict, list, str | None]:
    """Returns the sharded.* metrics, the names reported absent, and an
    error if the output digest differs from the expected one."""
    try:
        from st_mapmatching_spark.operators.sharded import (  # noqa: F401
            derive_shard_params, match_pages_sharded)
    except ImportError:
        return {}, list(NAMES), None
    out, absent = {}, []
    try:
        got = _measure(spark, w, tracer, out, absent)
    except Exception as ex:  # noqa: BLE001 - reported, not fatal
        return out, absent, f"sharded: {type(ex).__name__}: {ex}"[:300]
    error = None if got == expected else f"sharded digest {got} != expected {expected}"
    return out, absent, error


def _measure(spark, w: W.Workload, tracer, out: dict, absent: list) -> str:
    """Fill ``out`` and ``absent``; return the output digest."""
    from st_mapmatching_spark.operators.sharded import (derive_shard_params,
                                                        match_pages_sharded)

    import __spark_entry__ as E

    from .driver import group_stage_count
    sc, cfg = spark.sparkContext, E.CFG
    with tracer.span("sharded.setup", sc, "sharded:setup") as rec:
        net = network()
        pages = stage(spark, w.seed, w.nproc)
        warm = match_pages_sharded(spark, pages, net, cfg)
        _write(warm)
        warm.unpersist(blocking=True)
        spark.catalog.clearCache()
    out["sharded.setup_s"] = rec["end"] - rec["start"]
    with tracer.span("sharded.derive_params", sc, "sharded:derive") as rec:
        derive_shard_params(spark, pages, net, cfg)
    out["sharded.derive_params_s"] = rec["end"] - rec["start"]
    with tracer.span("sharded.job", sc, "sharded:job") as rec:
        df = match_pages_sharded(spark, pages, net, cfg)
        _write(df)
    out["sharded.job_s"] = rec["end"] - rec["start"]
    out["sharded.stages"] = group_stage_count(spark, "sharded:job")

    fallbacks = getattr(df, "_shard_fallbacks", None)
    if fallbacks is None:
        absent.append("sharded.fallback_urls")
    else:
        out["sharded.fallback_urls"] = fallbacks
    memo = getattr(net, "_shard_payload_cache", None)
    if memo is None:
        absent.append("sharded.regions")
    else:
        out["sharded.regions"] = sum(len(e["pays"]) for e in memo.values())

    sc.setJobGroup("sharded:digest", "digest")
    got = measure.digest(W.match_projection(df).toPandas())
    df.unpersist(blocking=True)
    spark.catalog.clearCache()
    return got
