"""Demand-driven shortest-path table.

The reference memoizes A* results per query
(/root/reference/mapmatching/graph/astar.py:70-72,113,119 — "2 orders of
magnitude" speedup, changelog.md:684). Distributed, that memo becomes a
pure table: collect the DISTINCT (o_node, d_node) demands from the
transition-pair table, partition by origin, run one bounded Dijkstra per
origin against the broadcast adjacency, and join the result back. Turning
a stateful cache into a join also makes the stage resumable and reusable
across runs (persist it next to the network).

Scale: demands ~= |points| * top_k^2 before distinct; after distinct it is
bounded by the network's locality (origins near the trajectory corridor).
For planet-scale networks, partition the adjacency by region and route
origins to their region's partition instead of broadcasting everything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import MatchConfig
from ..graph.dijkstra import shortest_paths_to_targets
from ..graph.network import Network

SP_SCHEMA = ("o_node long, d_node long, cost double, epath array<long>, "
             "path_speed double, pcx double, pcy double, pw double, pn int")
_SP_COLS = ["o_node", "d_node", "cost", "epath", "path_speed", "pcx", "pcy", "pw", "pn"]


def shortest_path_table(spark: SparkSession, demands: DataFrame, net: Network,
                        cfg: MatchConfig) -> DataFrame:
    """demands(o_node, d_node) -> sp(o_node, d_node, cost, epath,
    path_speed, pcx, pcy, pw, pn).

    Missing/unreachable pairs get cost=inf (HMM break semantics, matching
    the reference's status-2 search, astar.py:111-114); o==d pairs get
    cost=0 with an empty path (astar.py:67-68). pcx/pcy/pw/pn are the
    path's additive direction statistics (kernels.dir_stats)."""
    bc = net.broadcast(spark, "adj", net.search_state)
    max_dist = cfg.max_dist

    # Origins are BATCHED into hash groups rather than one applyInPandas
    # group per origin: a planet-corridor demand set has 1e5+ distinct
    # origins, and the per-group overhead (pandas frame build, Arrow batch
    # flush) dominated the actual Dijkstra work (profiled 20 s -> the
    # grouped form cut the sp stage materially on the 122k-node bench).
    # Hash grouping keeps the work balanced; results are identical — one
    # bounded Dijkstra per origin either way.
    n_groups = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")) * 4,
                   32)

    def per_group(pdf):
        import pandas as pd
        adj, espeed, edist, etot = bc.value
        rows = []
        for o, sub in pdf.groupby("o_node", sort=False):
            rows.extend(shortest_paths_to_targets(
                adj, int(o), sub.d_node.unique().tolist(),
                max_dist, espeed, edist, etot))
        return pd.DataFrame(rows, columns=_SP_COLS)

    from pyspark.sql import functions as F
    return (demands.dropDuplicates(["o_node", "d_node"])
            .withColumn("_grp", F.pmod(F.xxhash64("o_node"), F.lit(n_groups)))
            .groupBy("_grp")
            .applyInPandas(per_group, schema=SP_SCHEMA))
