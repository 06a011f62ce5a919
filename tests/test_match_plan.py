"""The matcher's shared helpers: the url-boundary batch generator every
per-trajectory Arrow stage streams through, the plan chooser, and the
shape of match_points' plan."""

import logging
from dataclasses import replace

import numpy as np
import pandas as pd
import pytest

from st_mapmatching_spark.operators.candidates import url_batches
from st_mapmatching_spark.operators.matching import choose_plan, viterbi_match


def _batch(*urls):
    return pd.DataFrame({"url": list(urls), "v": np.arange(len(urls))},
                        columns=["url", "v"])


def _cut(*batches):
    return [list(f.url) for f in url_batches(iter(batches))]


def test_url_batches_url_split_across_batches():
    out = _cut(_batch("a", "a", "b"), _batch("b", "c"))
    assert out == [["a", "a"], ["b", "b"], ["c"]]


def test_url_batches_single_url_batches_carry_over():
    # no boundary inside a batch: nothing is emitted until the url ends
    out = _cut(_batch("a", "a"), _batch("a"), _batch("a", "b"))
    assert out == [["a", "a", "a", "a"], ["b"]]


def test_url_batches_empty_batches():
    assert _cut() == []
    assert _cut(_batch(), _batch()) == []
    out = _cut(_batch(), _batch("a"), _batch(), _batch("a", "b"), _batch())
    assert out == [["a", "a"], ["b"]]


def test_url_batches_flushes_last_url_and_keeps_rows():
    b1, b2 = _batch("a", "b", "b"), _batch("b", "c", "c")
    frames = list(url_batches(iter([b1, b2])))
    assert [list(f.url) for f in frames] == [["a"], ["b", "b", "b"],
                                            ["c", "c"]]
    # every row comes out once, in order, with its other columns
    got = pd.concat(frames, ignore_index=True)
    pd.testing.assert_frame_equal(got, pd.concat([b1, b2], ignore_index=True))


def test_viterbi_match_has_no_broadcast_paths_mode(cfg):
    # the winning-steps output is the only mode; the keyword stays
    with pytest.raises(ValueError, match="sp_paths"):
        viterbi_match(None, None, cfg, sp_paths={(1, 2): [3]})


@pytest.mark.parametrize("sized_net", [True, False])
@pytest.mark.parametrize("max_rows, relational", [(1, False), (-1, True)])
def test_choose_plan_table(net, cfg, sized_net, max_rows, relational):
    # only the sign of sp_broadcast_max_rows is read (0: the test below);
    # 1 row is far below the test network's n^2, so no size gate remains,
    # and the answer is the same on a network whose size cannot be read
    c = replace(cfg, sp_broadcast_max_rows=max_rows)
    want = "relational" if relational else "onepass"
    assert choose_plan(net if sized_net else _NoNodes(), c).name == want


def test_choose_plan_relational_when_no_broadcast_rows(net, cfg):
    c = replace(cfg, sp_broadcast_max_rows=0)
    assert choose_plan(net, c).name == "relational"


class _NoNodes:
    """Stand-in network whose size cannot be read."""

    def node_xy_arrays(self):
        raise AssertionError("choose_plan read the network's nodes")


def test_choose_plan_reads_no_network_size(cfg):
    # the in-kernel sp search has no all-pairs table to size: any
    # network takes the one-stage plan
    assert choose_plan(_NoNodes(), cfg).name == "onepass"


def test_choose_plan_logs_plan_and_reason(net, cfg, caplog):
    with caplog.at_level(logging.INFO,
                         logger="st_mapmatching_spark.operators.matching"):
        plan = choose_plan(net, cfg)
    assert plan.reason
    msgs = [r.getMessage() for r in caplog.records]
    assert any(plan.name in m and plan.reason in m for m in msgs), msgs


def _leaves(df):
    """The leaf nodes of a frame's physical plan, as strings."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    return [leaves.apply(i).toString() for i in range(leaves.size())]


def test_match_points_plan_reads_points_once(spark, pages, net, cfg):
    """The one-pass points plan is one url shuffle and one kernel stage
    over its input: it scans points_in once, joins nothing and does not
    hash-encode the url."""
    from st_mapmatching_spark.operators.candidates import extract_simplify
    from st_mapmatching_spark.operators.matching import match_points
    points = extract_simplify(spark.createDataFrame(pages), cfg)
    out = match_points(spark, points, net, cfg)
    # the result is persisted: release it so the plan below is its own,
    # not a scan of the cache
    out.unpersist()
    fresh = out.select(*out.columns)
    assert _leaves(fresh) == _leaves(points)
    plan = fresh._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert "xxhash64" not in plan
