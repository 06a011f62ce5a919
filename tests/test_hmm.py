"""Unit tests for the HMM kernel: flag logic (incl. the SAME_SRC_FIRST swap
and the 5 m approx-point reset), scoring clamps, beam Viterbi, stitch."""

import numpy as np
import pandas as pd
import pytest

from st_mapmatching_spark.config import MatchConfig
from st_mapmatching_spark.kernels import hmm
from st_mapmatching_spark.oracle import hmm_ref

CFG = MatchConfig()


def _pair_row(eid_0, eid_1, dist_0=100.0, step_0_len=60.0, step_n_len=50.0,
              src=1, dst=2, **kw):
    row = {
        "pid_0": 0, "pid_1": 1, "eid_0": eid_0, "eid_1": eid_1,
        "dist_0": dist_0, "dist_1": 100.0, "speed_0": 10.0, "speed_1": 10.0,
        "dst": dst, "src": src,
        "step_0_len": step_0_len, "step_0": np.array([[0.0, 0.0], [1.0, 0.0]]),
        "step_n_len": step_n_len, "step_n": np.array([[0.0, 0.0], [1.0, 0.0]]),
        "left_len0": dist_0 - step_0_len, "left_seg0": np.array([[9.0, 9.0], [9.5, 9.0]]),
        "observ_prob": 1.0, "d_euc": 40.0, "move_dir": 90.0,
    }
    row.update(kw)
    return row


def test_flag_same_src_first_swap():
    # same edge, proj_0 (offset 40) before proj_1 (offset 50) -> flag 1,
    # sp endpoints swapped to edge.src -> edge.dst
    gt = pd.DataFrame([_pair_row(7, 7, dist_0=100, step_0_len=60, step_n_len=50)])
    gt = hmm_ref.identify_flags(gt)
    assert gt.flag[0] == hmm.FLAG_SAME_SRC_FIRST
    assert gt.o_node[0] == 1 and gt.d_node[0] == 2


def test_flag_same_src_last():
    # same edge, proj_0 (offset 80) far past proj_1 (offset 20) -> flag 2,
    # search loops edge.dst -> edge.src
    gt = pd.DataFrame([_pair_row(7, 7, dist_0=100, step_0_len=20, step_n_len=20)])
    gt = hmm_ref.identify_flags(gt)
    assert gt.flag[0] == hmm.FLAG_SAME_SRC_LAST
    assert gt.o_node[0] == 2 and gt.d_node[0] == 1


def test_flag_approx_point_reset():
    # proj_0 offset 53, proj_1 offset 50: within 5 m tolerance but not
    # cond_1 -> step_n/step_n_len reset to cand_0's head cut
    gt = pd.DataFrame([_pair_row(7, 7, dist_0=100, step_0_len=47, step_n_len=50)])
    gt = hmm_ref.identify_flags(gt)
    assert gt.flag[0] == hmm.FLAG_SAME_SRC_FIRST
    assert gt.step_n_len[0] == pytest.approx(53.0)
    np.testing.assert_allclose(gt.step_n[0], [[9.0, 9.0], [9.5, 9.0]])


def test_flag_normal_cross_edge():
    gt = pd.DataFrame([_pair_row(3, 9, dist_0=100, step_0_len=20, step_n_len=70)])
    gt = hmm_ref.identify_flags(gt)
    assert gt.flag[0] == hmm.FLAG_NORMAL
    assert gt.o_node[0] == 2 and gt.d_node[0] == 1  # dst_0 -> src_1


def _scored(gt, cost, epath=None, path_speed=12.0, dir_trans=False):
    gt = gt.copy()
    gt["cost"] = cost
    gt["epath"] = [epath] * len(gt)
    gt["path_speed"] = path_speed
    return hmm_ref.finalize_scores(gt, {}, dir_trans, CFG)


def test_dist_prob_clamp_and_flag1_override():
    gt = hmm_ref.identify_flags(pd.DataFrame([_pair_row(3, 9, step_0_len=20, step_n_len=10)]))
    out = _scored(gt, cost=10.0)  # d_sht = 40, d_euc = 40 -> 1.0
    assert out.dist_prob[0] == pytest.approx(1.0)

    gt2 = hmm_ref.identify_flags(pd.DataFrame([_pair_row(3, 9, step_0_len=60, step_n_len=60)]))
    out2 = _scored(gt2, cost=80.0)  # d_sht = 200 vs d_euc = 40 -> 0.2
    assert out2.dist_prob[0] == pytest.approx(0.2)

    # flag 1: d_sht = step_0_len + step_n_len - dist_0 = 60+50-100 = 10
    gt3 = hmm_ref.identify_flags(pd.DataFrame([_pair_row(7, 7, step_0_len=60, step_n_len=50)]))
    out3 = _scored(gt3, cost=100.0, epath=[7])
    assert out3.d_sht[0] == pytest.approx(10.0)
    assert out3.epath[0] is None  # cleared for flag 1
    assert out3.dist_prob[0] == pytest.approx(10.0 / 40.0)


def test_unreachable_gives_zero_prob():
    gt = hmm_ref.identify_flags(pd.DataFrame([_pair_row(3, 9)]))
    out = _scored(gt, cost=np.inf)
    assert out.dist_prob[0] == 0.0


def test_temporal_weighted_speed():
    gt = hmm_ref.identify_flags(pd.DataFrame([_pair_row(3, 9, step_0_len=10, step_n_len=30)]))
    out = _scored(gt, cost=60.0, path_speed=20.0)
    expect = (10 * 10 + 10 * 30 + 20 * 60) / 100.0
    assert out.avg_speed[0] == pytest.approx(expect)


def _lattice():
    """3 layers x 2 candidates; edge ids 10,11 / 20,21 / 30,31."""
    cands = pd.DataFrame({
        "pid": [0, 0, 1, 1, 2, 2],
        "eid": [10, 11, 20, 21, 30, 31],
        "src": [1, 2, 3, 4, 5, 6],
        "dst": [3, 4, 5, 6, 7, 8],
        "dist_p2c": [5.0, 9.0, 4.0, 8.0, 3.0, 7.0],
        "observ_prob": [1.0, 0.8, 1.0, 0.7, 1.0, 0.6],
        "len0": [10.0, 20.0, 30.0, 40.0, 50.0, 60.0],
        "len1": [90.0, 80.0, 70.0, 60.0, 50.0, 40.0],
    })
    rows = []
    trans = {(10, 20): 0.9, (10, 21): 0.2, (11, 20): 0.5, (11, 21): 0.4,
             (20, 30): 0.8, (20, 31): 0.3, (21, 30): 0.6, (21, 31): 0.9}
    for (e0, e1), tp in trans.items():
        pid0 = 0 if e0 in (10, 11) else 1
        rows.append({
            "pid_0": pid0, "pid_1": pid0 + 1, "eid_0": e0, "eid_1": e1,
            "trans_prob": tp,
            "observ_prob": float(cands.set_index("eid").observ_prob[e1]),
            "epath": [e0 * 100], "d_sht": 100.0, "avg_speed": 10.0,
            "dist_prob": tp, "flag": 0,
        })
    return cands, pd.DataFrame(rows)


def test_viterbi_picks_best_chain():
    cands, gt = _lattice()
    end_prob, rlist = hmm_ref.viterbi_beam(cands, gt, CFG)
    assert list(rlist.eid) == [10, 20, 30]
    # layer1: 10->20 best prob = 1*0.9*1=0.9 ; layer2: 0.9*0.8*1=0.72
    assert end_prob == pytest.approx(0.72)


def test_viterbi_break_restarts_with_unit_prob():
    cands, gt = _lattice()
    # make layer 1 -> 2 unreachable from surviving states: zero out
    gt.loc[gt.pid_0 == 0, "trans_prob"] = np.nan
    end_prob, rlist = hmm_ref.viterbi_beam(cands, gt, CFG)
    # nan probs at layer 0 -> empty prune -> break at layer 1 with prev=1
    assert len(rlist) >= 2


def test_stitch_epath_concat_dedup():
    cands, gt = _lattice()
    end_prob, rlist = hmm_ref.viterbi_beam(cands, gt, CFG)
    res = hmm_ref.stitch_path(rlist, gt, cands, end_prob, CFG, dir_trans=False)
    assert res["epath"] == [10, 1000, 20, 2000, 30]
    assert res["status"] in (hmm.STATUS_SUCCESS, hmm.STATUS_FAILED)
    assert res["step_0"] == pytest.approx(10.0 / 100.0)
    assert res["step_n"] == pytest.approx(50.0 / 100.0)
    assert res["dist"] == pytest.approx(200.0)
    assert res["norm_prob"] == pytest.approx(np.sqrt(0.72))


def test_stitch_same_link():
    cands = pd.DataFrame({
        "pid": [0, 1], "eid": [10, 10], "src": [1, 1], "dst": [3, 3],
        "dist_p2c": [2.0, 2.0], "observ_prob": [1.0, 1.0],
        "len0": [10.0, 30.0], "len1": [90.0, 70.0],
    })
    gt = pd.DataFrame([{
        "pid_0": 0, "pid_1": 1, "eid_0": 10, "eid_1": 10,
        "trans_prob": 0.95, "observ_prob": 1.0, "epath": None,
        "d_sht": 20.0, "avg_speed": 10.0, "dist_prob": 0.95, "flag": 1,
    }])
    end_prob, rlist = hmm_ref.viterbi_beam(cands, gt, CFG)
    res = hmm_ref.stitch_path(rlist, gt, cands, end_prob, CFG, dir_trans=False)
    assert res["epath"] == [10]
    assert res["status"] == hmm.STATUS_SAME_LINK
