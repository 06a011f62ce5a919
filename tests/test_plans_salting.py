"""Physical-plan regression checks + salted shuffle-join equivalence."""

import re

import pytest

from st_mapmatching_spark.operators.candidates import (candidate_join,
                                                       extract_trajs,
                                                       network_frames,
                                                       simplify_trajs)


@pytest.fixture(scope="module")
def points(spark, pages, cfg):
    return simplify_trajs(extract_trajs(spark.createDataFrame(pages)), cfg).persist()


def _plan(df, spark):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def test_candidate_plan_properties(spark, points, net, cfg):
    idx, attrs = network_frames(spark, net)
    plan = _plan(candidate_join(points, idx, attrs, cfg, net=net), spark)
    # the cell index join must be broadcast, never a shuffle
    assert "BroadcastHashJoin" in plan
    # Spark pushes the top-k rank limit into the shuffle
    assert "WindowGroupLimit" in plan
    # radius filter happens before the windows
    assert "dist_p2c" in plan


def test_extract_scan_pruned(spark, pages, tmp_path):
    p = str(tmp_path / "pages")
    spark.createDataFrame(pages).write.parquet(p)
    df = extract_trajs(spark.read.parquet(p))
    plan = _plan(df, spark)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"url", "text"}, f"scan not pruned: {cols}"


def test_salted_plan_broadcasts_hot_side(spark, points, net, cfg):
    """The hot-cell set must be attached by broadcast joins on BOTH sides
    of the salted join (never a driver collect + literal array), while the
    main cell join stays a shuffle join."""
    idx, attrs = network_frames(spark, net)
    df = candidate_join(points, idx, attrs, cfg, broadcast_index=False,
                        net=net, salt_hot_cells=4, hot_threshold=2)
    plan = _plan(df, spark)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # the round-1 shape — driver collect + array_contains literal — is gone
    assert "array_contains" not in plan, plan
    # (the main cell join may itself be auto-broadcast at fixture scale;
    # at real index sizes it degrades to a shuffle join, which AQE skews)


def test_salted_shuffle_join_same_results(spark, points, net, cfg):
    idx, attrs = network_frames(spark, net)
    base = (candidate_join(points, idx, attrs, cfg, net=net)
            .select("url", "pid", "eid", "dist_p2c").toPandas()
            .sort_values(["url", "pid", "eid"]).reset_index(drop=True))
    salted = (candidate_join(points, idx, attrs, cfg, broadcast_index=False,
                             net=net, salt_hot_cells=4, hot_threshold=2)
              .select("url", "pid", "eid", "dist_p2c").toPandas()
              .sort_values(["url", "pid", "eid"]).reset_index(drop=True))
    import pandas as pd
    pd.testing.assert_frame_equal(base, salted)


def test_index_dilation_guard(spark):
    """candidate_join must refuse an index dilated by less than the probe
    radius (silently missing candidates otherwise); rebuilding the index
    with the bigger cfg passes and finds the wider candidate set."""
    from dataclasses import replace
    import pytest as _pytest
    import __spark_entry__ as E
    from st_mapmatching_spark.operators.candidates import (candidate_join,
                                                           network_frames)
    net = E._net()
    big = replace(E.CFG, radius=net.cfg.radius * 2)
    p = E._pts(spark, "/root/testdata/sf0.001").select("url", "pid", "x", "y").limit(50)

    idx_small, attrs = network_frames(spark, net)           # pad = net radius
    with _pytest.raises(ValueError, match="dilated"):
        candidate_join(p, idx_small, attrs, big, net=net)

    idx_big, attrs = network_frames(spark, net, big)        # pad = cfg radius
    n_big = candidate_join(p, idx_big, attrs, big, net=net).count()
    n_base = candidate_join(p, idx_small, attrs, E.CFG, net=net).count()
    assert n_big >= n_base


def test_blocked_neardup_plan_has_no_thetajoin(spark):
    """The gated near-dup path must stay LSH-blocked: its physical plan
    may contain only hash joins — a BroadcastNestedLoop/Cartesian node
    means the O(n^2) all-pairs join crept back in."""
    import __spark_entry__ as E
    df = E.q_sim_neardup(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    assert "Cartesian" not in plan


def test_index_pad_marker_is_in_band(spark):
    """Round-4 ADVICE: the dilation pad must survive transformations and
    persist (it used to ride on a Python attribute that any of those
    drops, silently disabling the guard), and an index WITHOUT the marker
    must be refused outright (fail closed, never fail open)."""
    import pytest as _pytest
    import __spark_entry__ as E
    from st_mapmatching_spark.operators.candidates import (INDEX_PAD_COL,
                                                           candidate_join,
                                                           network_frames)
    net = E._net()
    p = E._pts(spark, "/root/testdata/sf0.001").select("url", "pid", "x", "y").limit(20)
    idx, attrs = network_frames(spark, net)

    # transformations + persist keep the marker -> guard still verifies
    idx_t = idx.filter("eid >= 0").persist()
    try:
        n = candidate_join(p, idx_t, attrs, E.CFG, net=net).count()
        assert n > 0
    finally:
        idx_t.unpersist()

    # marker stripped -> refuse (the old attribute guard failed open here)
    with _pytest.raises(ValueError, match="marker"):
        candidate_join(p, idx.drop(INDEX_PAD_COL), attrs, E.CFG, net=net)



def test_onepass_matcher_plan_is_one_stage(spark, pages, net, cfg):
    """The flagship regime (broadcastable network): the WHOLE matcher must
    be a single narrow Python stage — no Exchange (shuffle), no join, no
    window, exactly one MapInArrow and no MapInPandas — so pages ->
    matched is one embarrassingly parallel map at any executor count."""
    from st_mapmatching_spark.operators.matching import match_pages_onepass
    pages_df = spark.createDataFrame(pages[["url", "text"]])
    df = match_pages_onepass(spark, pages_df, net, cfg)
    plan = _plan(df, spark)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    # formatted explain lists each node twice (tree + detail section)
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1, plan
    assert "MapInPandas" not in plan, plan
