"""The matcher's shared helpers: the url-boundary batch generator every
per-trajectory Arrow stage streams through, and the plan chooser."""

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


class _Nodes:
    """Stand-in network: choose_plan reads only the node count."""

    def __init__(self, n):
        self.n = n

    def node_xy_arrays(self):
        return np.arange(self.n), np.zeros((self.n, 2))


@pytest.mark.parametrize("cap_delta, want", [
    (1, ("onepass", "memo")),      # n^2 below the cap
    (0, ("onepass", "memo")),      # n^2 at the cap
    (-1, ("staged", "count")),     # n^2 above the cap
])
def test_choose_plan_memo_gate(net, cfg, cap_delta, want):
    n2 = len(net.node_xy_arrays()[0]) ** 2
    c = replace(cfg, sp_broadcast_max_rows=n2 + cap_delta)
    assert choose_plan(net, c, True)[:2] == want


def test_choose_plan_gate_is_capped_at_4m(cfg):
    big = replace(cfg, sp_broadcast_max_rows=10**9)
    assert choose_plan(_Nodes(2000), big, True).name == "onepass"  # 4.0 M
    assert choose_plan(_Nodes(2001), big, True)[:2] == ("staged", "count")


def test_choose_plan_shuffled_index_stays_staged(net, cfg):
    assert choose_plan(net, cfg, False)[:2] == ("staged", "memo")


def test_choose_plan_relational_when_no_broadcast_rows(net, cfg):
    c = replace(cfg, sp_broadcast_max_rows=0)
    for bi in (True, False):
        assert choose_plan(net, c, bi)[:2] == ("staged", "relational")


def test_choose_plan_logs_plan_and_reason(net, cfg, caplog):
    with caplog.at_level(logging.INFO,
                         logger="st_mapmatching_spark.operators.matching"):
        plan = choose_plan(net, cfg, True)
    assert plan.reason
    msgs = [r.getMessage() for r in caplog.records]
    assert any(plan.name in m and plan.reason in m for m in msgs), msgs
