"""Differential test: viterbi_beam_lockstep must reproduce the per-group
viterbi_beam decision-for-decision on adversarial lattices — NaN
transition probs, HMM breaks (no reachable state), missing layer-0
candidates, duplicate probabilities (tie-breaks), beam caps — and on
batches shaped like the benchmark's kernel chunks."""

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
    """Assemble the lockstep inputs exactly like _decode_stitch does: a
    state's slot is its candidate row in the batch."""
    pl_gid, off, tot = [], [], []
    e0, e1, tp, s0, s1 = [], [], [], [], []
    l0_s, l0_p = [], []
    n_steps = []
    row_off = slot_off = 0
    for g, (cands, gt) in enumerate(groups):
        pids = np.sort(cands.pid.unique())
        n_steps.append(len(pids) - 1)
        slot = {(p, e): slot_off + i for i, (p, e) in enumerate(
            zip(cands.pid.tolist(), cands.eid.tolist()))}
        for i in range(len(pids) - 1):
            sl = gt[gt.pid_0 == pids[i]]
            pl_gid.append(g)
            off.append(row_off)
            tot.append(len(sl))
            e0.append(sl.eid_0.to_numpy())
            e1.append(sl.eid_1.to_numpy())
            tp.append((sl.trans_prob * sl.observ_prob).to_numpy())
            s0.append([slot[(pids[i], e)] for e in sl.eid_0.tolist()])
            s1.append([slot[(pids[i + 1], e)] for e in sl.eid_1.tolist()])
            row_off += len(sl)
        m0 = np.flatnonzero(cands.pid.to_numpy() == 0)
        l0_s.append(slot_off + m0)
        l0_p.append(cands.observ_prob.to_numpy()[m0])
        slot_off += len(cands)
    return (np.array(pl_gid), np.array(off), np.array(tot),
            np.concatenate(e0).astype(np.int64),
            np.concatenate(e1).astype(np.int64),
            np.concatenate(tp).astype(np.float64),
            np.concatenate(s0).astype(np.int64),
            np.concatenate(s1).astype(np.int64),
            np.concatenate(l0_s).astype(np.int64),
            np.concatenate(l0_p).astype(np.float64),
            slot_off, np.array(n_steps))


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


def _bench_case(rng: np.random.RandomState, ngroups: int):
    """Lattices shaped like the benchmark's chunks, built in numpy: 60-80
    layers of 1-5 candidates over eids >= 2**40, NaN and zero transition
    probs, whole pair layers of NaN (an HMM break), a tenth of the pairs
    missing and groups without a layer 0. Even groups are thin (1-2 candidates, 70-80 layers), odd
    ones fat (1-5 candidates, 60-65 layers), so that past step 65 every
    pair layer has at most 4 rows. Returns the per-group (cands, gt) and
    the lockstep inputs, slots being candidate rows as in _decode_stitch."""
    groups = []
    cols = {k: [] for k in ("pl_gid", "off", "cnt", "e0", "e1", "tp", "s0",
                            "s1", "l0_s", "l0_p", "n_steps")}
    n_rows = n_slots = 0
    for g in range(ngroups):
        thin = g % 2 == 0
        n_layers = rng.randint(70, 81) if thin else rng.randint(60, 66)
        k = rng.randint(1, 3 if thin else 6, n_layers)
        pid = np.repeat(np.arange(n_layers) + int(rng.rand() < 0.1), k)
        eid = 2 ** 40 + np.concatenate(
            [rng.choice(60, size=n, replace=False) for n in k])
        n = len(pid)
        cands = pd.DataFrame({
            "pid": pid, "eid": eid, "dist_p2c": rng.rand(n) * 50,
            "observ_prob": np.where(rng.rand(n) < 0.2, 0.5, rng.rand(n))})
        cands = cands.sort_values(["pid", "dist_p2c", "eid"],
                                  kind="stable").reset_index(drop=True)
        # every (left, right) pair of consecutive layers, left-major
        lo = np.concatenate([[0], np.cumsum(k)])
        nl, nr = k[:-1], k[1:]
        K = np.repeat(np.arange(n_layers - 1), nl * nr)
        j = np.arange(len(K)) - np.repeat(np.cumsum(nl * nr) - nl * nr,
                                          nl * nr)
        L, R = lo[:-2][K] + j // nr[K], lo[1:-1][K] + j % nr[K]
        # drop a tenth of the pairs (each pair layer keeps its first), so
        # a back pointer's state can lack a winner one step down
        kept = (rng.rand(len(K)) >= 0.1) | (j == 0)
        K, L, R = K[kept], L[kept], R[kept]
        nlr = np.bincount(K, minlength=n_layers - 1)
        r = rng.rand(len(K))
        tp = np.where(r < 0.05, np.nan, np.where(r < 0.1, 0.0, rng.rand(len(K))))
        tp[np.isin(K, rng.choice(n_layers - 1, 2, replace=False))] = np.nan
        if g % 3 == 0:
            tp[K == 1] = np.nan   # a break before pruning starts
        obs = cands.observ_prob.to_numpy()
        gt = pd.DataFrame({"pid_0": cands.pid.to_numpy()[L],
                           "eid_0": cands.eid.to_numpy()[L],
                           "eid_1": cands.eid.to_numpy()[R],
                           "trans_prob": tp, "observ_prob": obs[R]})
        groups.append((cands, gt))
        cols["pl_gid"].append(np.full(n_layers - 1, g))
        cols["off"].append(n_rows + np.cumsum(nlr) - nlr)
        cols["cnt"].append(nlr)
        cols["e0"].append(gt.eid_0.to_numpy())
        cols["e1"].append(gt.eid_1.to_numpy())
        cols["tp"].append(tp * obs[R])
        cols["s0"].append(n_slots + L)
        cols["s1"].append(n_slots + R)
        m0 = np.flatnonzero(cands.pid.to_numpy() == 0)
        cols["l0_s"].append(n_slots + m0)
        cols["l0_p"].append(obs[m0])
        cols["n_steps"].append([n_layers - 1])
        n_rows += len(K)
        n_slots += n
    c = {k: np.concatenate(v) for k, v in cols.items()}
    return groups, (c["pl_gid"], c["off"], c["cnt"], c["e0"], c["e1"],
                    c["tp"], c["s0"], c["s1"], c["l0_s"], c["l0_p"],
                    n_slots, c["n_steps"])


@pytest.mark.parametrize("beam_cap, prune_start_layer", [(100, 3), (7, 1)])
def test_lockstep_benchmark_shaped(beam_cap, prune_start_layer):
    """240 benchmark-shaped groups in one call. With beam_cap=7 the fat
    groups' 6-25-row pair layers bind the cap (the sorted prune) while
    every step past 65, on thin groups only, takes the sort-free one."""
    from dataclasses import replace
    cfg = replace(MatchConfig(), beam_cap=beam_cap,
                  prune_start_layer=prune_start_layer)
    groups, batch = _bench_case(np.random.RandomState(7), 240)
    w_off, w_idx, w_eid, w_prob = hmm.viterbi_beam_lockstep(*batch, cfg)
    assert w_eid.dtype == np.int64 and w_idx.dtype == np.int64
    for g, (cands, gt) in enumerate(groups):
        exp_prob, exp_rlist = hmm.viterbi_beam(cands, gt, cfg)
        got_prob, ridx, reid = _group(w_off, w_idx, w_eid, w_prob, g)
        pids = np.sort(cands.pid.unique())
        assert np.array_equal(pids[ridx], exp_rlist.pid.to_numpy()), g
        assert np.array_equal(reid, exp_rlist.eid.to_numpy()), g
        assert got_prob == exp_prob or (np.isnan(got_prob)
                                        and np.isnan(exp_prob)), g
