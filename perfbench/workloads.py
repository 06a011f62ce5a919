"""The benchmark's workloads: the matcher's one-pass and staged plans.

Both run ``match_pages`` over pages rendered from the scale-factor-0.1
``events`` table (``perfbench/data/sf0.1``, byte-identical copies of the
tables TESTDATA.md names as the bench input), matched on the 9x9 grid
network. ``onepass`` takes the memoized-sp plan, one narrow Arrow
stage; ``staged`` sets ``sp_broadcast_max_rows=0``, which forces the
staged relational plan (candidate shuffle and top-k window,
demand-driven Dijkstra, pair self-join, relational sp join, Viterbi
cogroup, relational attach, url restore). A job is one ``match_pages``
call; the benchmark times it with a ``noop`` write of every output
column.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

NAMES = ("onepass", "staged")

# users kept per workload, as a filter on ``user_id`` (one user is one
# trajectory). onepass keeps all 1,500; staged keeps every fifth user
# (300 trajectories, 19,904 events): its plan runs 41 stages and cost
# ~28 s per job at the full count on 4 cores (four partitions per core),
# too long for the run budget.
USER_MOD = {"onepass": 1, "staged": 5}
N_TRAJS = {"onepass": 1500, "staged": 300}


def user_filter_sql(name: str) -> str:
    """The workload's user filter as SQL over the ``events`` table."""
    return f"user_id % {USER_MOD[name]} = 0"


def match_projection(df: DataFrame) -> DataFrame:
    """The matcher gates' projection: epath as a string, floats rounded
    (the columns of the DuckDB twin ``match_grid_oracle_sql``)."""
    return df.select("url", "status",
                     F.concat_ws(",", F.col("epath").cast("array<string>")).alias("epath_s"),
                     F.round("step_0", 6).alias("step_0_r"),
                     F.round("norm_prob", 6).alias("norm_prob_r"))


@dataclass
class Workload:
    name: str
    n_trajs: int
    spark: object
    pages: DataFrame
    net: object
    cfg: object
    seed: int
    nproc: int

    def call(self) -> DataFrame:
        """The public call one job makes, on the staged input."""
        from st_mapmatching_spark.operators.matching import match_pages
        return match_pages(self.spark, self.pages, self.net, self.cfg)


def stage_pages(points: DataFrame, seed: int, partitions: int) -> DataFrame:
    """Render pages from a points frame, lay them out by a seeded hash of
    the url and hold them as a local checkpoint: materialized once, and
    untouched by the ``clearCache()`` that follows every job.

    The layout is a range partitioning on the seeded hash. The sample
    behind its bounds covers every row at these sizes, so each of the
    ``partitions`` holds the same number of pages (+-1): the
    seed changes which trajectories share a task and an Arrow batch, not
    how many a task gets."""
    import __spark_entry__ as E
    key = F.xxhash64("url", F.lit(seed))
    return (E._render_pages(points)
            .repartitionByRange(partitions, key)
            .sortWithinPartitions(key)
            .localCheckpoint(eager=True))


def points(spark, name: str) -> DataFrame:
    """The workload's points: ``derive_points`` over the sf0.1 events,
    restricted to the workload's users (urls are ``user_<user_id>``)."""
    from st_mapmatching_spark.sources import derived as D
    pts = D.derive_points(spark, DATA)
    if USER_MOD[name] == 1:
        return pts
    uid = F.substring(F.col("url"), len("user_") + 1, 20).cast("long")
    return pts.filter(uid % USER_MOD[name] == 0)


def setup(spark, name: str, seed: int, nproc: int) -> tuple[Workload, dict]:
    """Build the network and stage the input. Returns the workload and
    the two phase times."""
    import time

    import __spark_entry__ as E
    from st_mapmatching_spark.sources import derived as D

    if name not in NAMES:
        raise ValueError(f"unknown workload {name!r}")
    # One input partition per core, and on staged one shuffle partition
    # per core (the engine's default is four per core). The matcher's cost
    # is largely per task: on 4 cores, at four partitions per core a
    # onepass job took 2.6 s against 1.6 s and a staged job 18-20 s against
    # 12-15 s, with a longer warm-up trend.
    if name == "staged":
        spark.conf.set("spark.sql.shuffle.partitions", str(nproc))
    t0 = time.perf_counter()
    net = D.grid_network(E.CFG)
    t1 = time.perf_counter()
    pages = stage_pages(points(spark, name), seed, nproc)
    t2 = time.perf_counter()
    cfg = E.CFG if name == "onepass" else replace(E.CFG, sp_broadcast_max_rows=0)
    w = Workload(name, N_TRAJS[name], spark, pages, net, cfg, seed, nproc)
    return w, {"network_s": t1 - t0, "input_s": t2 - t1}
