"""Differential test: viterbi_beam_lockstep must reproduce the per-group
viterbi_beam decision-for-decision on adversarial lattices — NaN
transition probs, HMM breaks (no reachable state), missing layer-0
candidates, duplicate probabilities (tie-breaks), beam caps."""

import numpy as np
import pandas as pd
import pytest

from st_mapmatching_spark.config import MatchConfig
from st_mapmatching_spark.kernels import hmm


def _random_case(rng: np.random.RandomState, ngroups: int):
    """Build aligned (cands, gt) per group + the lockstep batch arrays."""
    groups = []
    for g in range(ngroups):
        n_layers = rng.randint(2, 8)
        drop_layer0 = rng.rand() < 0.15
        pids = np.arange(n_layers)
        if drop_layer0:
            pids = pids + 1          # no pid==0 rows at all
        cand_rows = []
        for p in pids:
            k = rng.randint(1, 4)
            eids = rng.choice(np.arange(100), size=k, replace=False)
            for e in np.sort(eids):
                cand_rows.append((p, e, rng.rand() * 50,
                                  rng.choice([rng.rand(), 0.5])))
        cands = pd.DataFrame(cand_rows,
                             columns=["pid", "eid", "dist_p2c", "observ_prob"])
        # rows sorted like the fused matcher feeds them
        cands = cands.sort_values(["pid", "dist_p2c", "eid"]).reset_index(drop=True)

        gt_rows = []
        for i in range(len(pids) - 1):
            left = cands[cands.pid == pids[i]]
            right = cands[cands.pid == pids[i + 1]]
            for _, l in left.iterrows():
                for _, r in right.iterrows():
                    tp = rng.choice([rng.rand(), np.nan, 0.25,
                                     0.0 if rng.rand() < 0.2 else rng.rand()])
                    # break a layer sometimes: all-zero/NaN transitions
                    gt_rows.append((pids[i], int(l.eid), int(r.eid),
                                    tp, float(r.observ_prob)))
        gt = pd.DataFrame(gt_rows, columns=["pid_0", "eid_0", "eid_1",
                                            "trans_prob", "observ_prob"])
        groups.append((cands, gt))
    return groups


def _batchify(groups):
    """Assemble the lockstep inputs exactly like _decode_stitch does."""
    pl_gid, off, tot = [], [], []
    e0, e1, tp = [], [], []
    l0_e, l0_p, l0_off = [], [], [0]
    n_steps = []
    row_off = 0
    for g, (cands, gt) in enumerate(groups):
        pids = np.sort(cands.pid.unique())
        n_steps.append(len(pids) - 1)
        for i in range(len(pids) - 1):
            sl = gt[gt.pid_0 == pids[i]]
            pl_gid.append(g)
            off.append(row_off)
            tot.append(len(sl))
            e0.append(sl.eid_0.to_numpy())
            e1.append(sl.eid_1.to_numpy())
            tp.append((sl.trans_prob * sl.observ_prob).to_numpy())
            row_off += len(sl)
        m0 = cands[cands.pid == 0]
        l0_e.append(m0.eid.to_numpy())
        l0_p.append(m0.observ_prob.to_numpy())
        l0_off.append(l0_off[-1] + len(m0))
    return (np.array(pl_gid), np.array(off), np.array(tot),
            np.concatenate(e0).astype(np.int64),
            np.concatenate(e1).astype(np.int64),
            np.concatenate(tp).astype(np.float64),
            np.concatenate(l0_e).astype(np.int64),
            np.concatenate(l0_p).astype(np.float64),
            np.array(l0_off), np.array(n_steps))


def _group(w_off, w_idx, w_eid, w_prob, g):
    """Group g's (end_prob, layer indices, eids) from the flat return."""
    sl = slice(w_off[g], w_off[g + 1])
    return w_prob[g], w_idx[sl], w_eid[sl]


@pytest.mark.parametrize("seed", range(8))
def test_lockstep_equals_pergroup(seed):
    rng = np.random.RandomState(seed)
    cfg = MatchConfig()
    groups = _random_case(rng, ngroups=25)
    batch = _batchify(groups)
    w_off, w_idx, w_eid, w_prob = hmm.viterbi_beam_lockstep(*batch, cfg)
    assert len(w_off) == len(groups) + 1

    for g, (cands, gt) in enumerate(groups):
        exp_prob, exp_rlist = hmm.viterbi_beam(cands, gt, cfg)
        got_prob, ridx, reid = _group(w_off, w_idx, w_eid, w_prob, g)
        pids = np.sort(cands.pid.unique())
        got_pid = pids[ridx]
        assert np.array_equal(got_pid, exp_rlist.pid.to_numpy().astype(np.int64)), \
            f"group {g}: pids differ"
        assert np.array_equal(reid, exp_rlist.eid.to_numpy().astype(np.int64)), \
            f"group {g}: eids differ"
        if np.isnan(exp_prob):
            assert np.isnan(got_prob)
        else:
            assert got_prob == exp_prob, f"group {g}: end_prob differs"


def test_lockstep_low_beam_cap():
    """Tiny beam cap exercises the cap-before-dedup path."""
    from dataclasses import replace
    rng = np.random.RandomState(99)
    cfg = replace(MatchConfig(), beam_cap=2, prune_start_layer=1)
    groups = _random_case(rng, ngroups=20)
    batch = _batchify(groups)
    dec = hmm.viterbi_beam_lockstep(*batch, cfg)
    for g, (cands, gt) in enumerate(groups):
        exp_prob, exp_rlist = hmm.viterbi_beam(cands, gt, cfg)
        got_prob, ridx, reid = _group(*dec, g)
        pids = np.sort(cands.pid.unique())
        assert np.array_equal(pids[ridx], exp_rlist.pid.to_numpy().astype(np.int64))
        assert np.array_equal(reid, exp_rlist.eid.to_numpy().astype(np.int64))
        assert (got_prob == exp_prob) or (np.isnan(got_prob) and np.isnan(exp_prob))
