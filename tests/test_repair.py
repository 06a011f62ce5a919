"""Topology self-repair loop (reference update_network.py:12-71): a
one-way corridor traversed the wrong way FAILS, the reversed re-match
wins, reverse twins get added, and the re-match SUCCEEDS."""

import numpy as np
import pandas as pd
import pytest

from st_mapmatching_spark.config import MatchConfig
from st_mapmatching_spark.graph.network import Network
from st_mapmatching_spark.kernels import hmm
from st_mapmatching_spark.operators.repair import repair_topology, reversed_points


def _oneway_net():
    """Three collinear edges pointing RIGHT-to-LEFT only (a one-way
    corridor): node i at (250*i, 0), edge i runs node i+1 -> node i."""
    cfg = MatchConfig()
    edges = pd.DataFrame({
        "eid": [0, 1, 2],
        "src": [1, 2, 3],
        "dst": [0, 1, 2],
        "way_id": [0, 1, 2],
        "dir": [1, 1, 1],
        "speed": [15.0, 15.0, 15.0],
        "geom": [[[250.0, 0.0], [0.0, 0.0]],
                 [[500.0, 0.0], [250.0, 0.0]],
                 [[750.0, 0.0], [500.0, 0.0]]],
    })
    nodes = pd.DataFrame({"nid": [0, 1, 2, 3],
                          "x": [0.0, 250.0, 500.0, 750.0],
                          "y": [0.0, 0.0, 0.0, 0.0]})
    return Network(edges, nodes, cfg, geom_metric=True), cfg


@pytest.fixture(scope="module")
def oneway_net():
    return _oneway_net()


@pytest.fixture(scope="module")
def wrongway_points(spark):
    xs = [10.0, 120.0, 260.0, 400.0, 520.0, 700.0]
    pdf = pd.DataFrame({"url": "wrongway", "pid": np.arange(len(xs), dtype=np.int32),
                        "x": xs, "y": [5.0] * len(xs)})
    return spark.createDataFrame(pdf)


def test_wrong_way_fails_then_repairs(spark, oneway_net, wrongway_points):
    from st_mapmatching_spark.operators.matching import match_points
    net, cfg = oneway_net

    before = match_points(spark, wrongway_points, net, cfg).toPandas().iloc[0]
    assert before.status == hmm.STATUS_FAILED

    matched, net2, added = repair_topology(spark, wrongway_points, net, cfg)
    assert added, "repair should have added reverse twins"
    after = matched.toPandas().iloc[0]
    assert after.status == hmm.STATUS_SUCCESS
    # the repaired path runs left-to-right over the new twins
    assert set(int(e) for e in after.epath) <= set(added)
    # the amended network kept the originals too
    assert len(net2.edges) == 3 + len(added)


def test_repair_leaves_no_cached_rdd(spark, wrongway_points):
    """Every frame the loop persists is released, the reversed re-match's
    included: once the caller unpersists the returned frame, no RDD the
    call cached is left."""
    # a network of its own: a frame an earlier call left cached cannot
    # stand in for one this call persists
    net, cfg = _oneway_net()

    def cached():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = cached()
    matched, _, added = repair_topology(spark, wrongway_points, net, cfg)
    assert added
    matched.unpersist()
    assert cached() - before == set()


def test_reversed_points_reverses(spark, wrongway_points):
    rev = reversed_points(wrongway_points).toPandas().sort_values("pid")
    assert rev.x.tolist() == [700.0, 520.0, 400.0, 260.0, 120.0, 10.0]


def test_repair_noop_on_healthy_corpus(spark, pages, net, cfg):
    """On the healthy grid corpus the loop must add nothing and return
    the same results as a plain match."""
    from st_mapmatching_spark.operators.candidates import extract_simplify
    pages_df = spark.createDataFrame(pages)
    pts = extract_simplify(pages_df, cfg)
    matched, net2, added = repair_topology(spark, pts, net, cfg)
    assert added == []
    assert net2 is net
