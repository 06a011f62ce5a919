"""Topology self-repair loop (SURVEY.md §2.10) — the batch form of the
reference's check_topo hook (/root/reference/mapmatching/matching.py:146-152
-> update_network.py:12-71): trajectories the matcher FAILS (or matches
with low confidence) are re-matched REVERSED; where the reversed match
clearly wins, the one-way ways it used get reverse twins added to the
network, and the corpus is re-matched against the amended network.

Differences from the reference (deliberate):
* the reference repairs per 2-point step inside one matching call; at
  batch scale the loop runs per ITERATION over the whole corpus — failed
  trajectories are re-matched in one extra Spark job, not one job per
  step (the reference itself re-runs the full match after a repair);
* the reference's A* memo clear (geograph.py:223) has no equivalent: the
  amended network is a new Network, whose broadcasts (and the kernel's
  per-worker shortest-path memo with them) start empty.

The candidate comparison rule is the reference's (update_network.py:20-21):
the reversed match wins if it succeeds while the forward match FAILED, or
its end probability exceeds the forward one by `factor`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import MatchConfig
from ..graph.network import Network
from ..kernels import hmm


def reversed_points(points: DataFrame) -> DataFrame:
    """(url, pid, x, y) -> the same trajectories traversed backwards."""
    w = Window.partitionBy("url")
    return (points
            .withColumn("pid", (F.max("pid").over(w) - F.col("pid")).cast("int")))


def repair_topology(spark: SparkSession, points: DataFrame, net: Network,
                    cfg: MatchConfig = MatchConfig(), prob_thres: float = 0.75,
                    factor: float = 1.2, max_rounds: int = 2):
    """-> (matched, net, added_eids). Iterates: match -> reversed re-match
    of FAILED/low-prob urls -> add reverse ways where reversed wins ->
    re-match, up to max_rounds or until nothing is added."""
    from .matching import match_points

    pts = points.persist()
    added_all: list[int] = []
    matched = match_points(spark, pts, net, cfg)
    for _ in range(max_rounds):
        suspects = matched.filter(
            (F.col("status") == hmm.STATUS_FAILED)
            | ((F.col("status") == hmm.STATUS_SUCCESS)
               & (F.col("norm_prob") < prob_thres)))
        bad_urls = suspects.select("url", F.col("status").alias("pos_status"),
                                   F.col("prob").alias("pos_prob"))
        rev = reversed_points(pts.join(bad_urls.select("url"), "url"))
        if rev.isEmpty():
            break
        rev_matched = match_points(spark, rev, net, cfg)  # persisted
        neg = rev_matched.select(
            "url", F.col("status").alias("neg_status"),
            F.col("prob").alias("neg_prob"), F.col("epath").alias("neg_epath"))
        wins = (neg.join(bad_urls, "url")
                .filter(F.col("neg_status").isin(hmm.STATUS_SUCCESS,
                                                 hmm.STATUS_SAME_LINK)
                        & ((F.col("pos_status") == hmm.STATUS_FAILED)
                           | (F.col("neg_prob") > F.col("pos_prob") * factor))))
        eids = wins.select(F.explode("neg_epath").alias("eid")).distinct()
        ways = [int(r.way_id) for r in
                eids.join(F.broadcast(spark.createDataFrame(
                    net.edges[["eid", "way_id"]])), "eid")
                .select("way_id").distinct().collect()]
        rev_matched.unpersist()  # consumed by the collect above
        if not ways:
            break
        net, new_eids = net.with_reverse_ways(ways)
        if not new_eids:
            break
        added_all.extend(new_eids)
        prev = matched
        matched = match_points(spark, pts, net, cfg)  # a persisted output
        prev.unpersist()  # superseded — pinned caches cause eviction churn
    pts.unpersist()
    return matched, net, added_all
