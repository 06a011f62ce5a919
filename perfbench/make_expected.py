"""Recompute perfbench/expected.json: each workload's expected output
digest and the stage count of a clean timed job.

    python3 perfbench/make_expected.py     (from the repository root)

The expected output of both workloads comes from the DuckDB twin of the
matcher (``oracle_sql()["match_grid"]``), evaluated over the same sf0.1
events (restricted to the workload's users), never from the engine
itself. The sharded matcher (traced run of ``onepass``) must return the
rows of one ``match_pages`` run on its input, so its expected digest
comes from that run. The operator suite (traced run of ``onepass``) is
checked against the DuckDB twin of each gate query. The stage counts
come from the engine: the warm-up job and one timed job of each
workload, run as the benchmark runs them. Run it when the input tables,
the output projection or a plan's stage count change on purpose.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.getcwd()


def engine_expected(out: dict) -> None:
    """Stage count of a clean timed job per workload (checked against
    the DuckDB digests already in ``out``), and the sharded digest."""
    from perfbench import driver, measure, run, sharded_layer
    from perfbench import workloads as W
    from st_mapmatching_spark.operators.matching import match_pages

    import __spark_entry__ as E
    nproc = len(os.sched_getaffinity(0))
    run.configure_env()
    spark = driver.start_session(nproc, ui=False)
    try:
        for name in W.NAMES:
            w, _ = W.setup(spark, name, 0, nproc)
            held = set(driver.cached_rdds(spark))
            with measure.RssSampler() as sampler:
                loop = driver.Loop(spark, w, {}, held, sampler)
                loop.run_job(timed=False, tag="warmup")
                rec = loop.run_job()
            if rec["digest"] != out[f"{name}/match_pages"]:
                raise SystemExit(f"{name}: engine digest {rec['digest']} != "
                                 f"DuckDB twin {out[f'{name}/match_pages']}")
            out[f"{name}/stages"] = rec["stages"]
            print(name, "stages", rec["stages"], flush=True)
        pages = sharded_layer.stage(spark, 0, nproc)
        df = match_pages(spark, pages, sharded_layer.network(), E.CFG)
        out["onepass/sharded"] = measure.digest(W.match_projection(df).toPandas())
        print("sharded", out["onepass/sharded"], flush=True)
    finally:
        driver.stop_session(spark)


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    import __spark_entry__ as E
    from perfbench import driver, measure, operators_layer
    from perfbench import workloads as W

    out = {}
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t}_all AS SELECT * FROM "
                    f"read_parquet('{W.DATA}/{t}.parquet')")
    for name in W.NAMES:
        con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM events_all "
                    f"WHERE {W.user_filter_sql(name)}")
        out[f"{name}/match_pages"] = measure.digest(
            con.execute(E.oracle_sql()["match_grid"]).df())
        print(name, out[f"{name}/match_pages"], flush=True)
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {t}_all")
    for q, _, _ in operators_layer.CALLS.values():
        out[f"operators/{q}"] = measure.digest(con.execute(E.oracle_sql()[q]).df())
        print(q, out[f"operators/{q}"], flush=True)
    con.close()
    engine_expected(out)
    with open(os.path.join(driver.HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
