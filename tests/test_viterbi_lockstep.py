"""Differential test: viterbi_beam_lockstep and viterbi_classic_lockstep
must reproduce the per-group viterbi_beam and viterbi_classic
(oracle/hmm_ref.py) decision-for-decision on adversarial lattices — NaN
transition probs, HMM breaks (no reachable state), missing layer-0
candidates, duplicate probabilities (tie-breaks), beam caps — and on
batches shaped like the benchmark's kernel chunks."""

import warnings

import numpy as np
import pandas as pd
import pytest

from st_mapmatching_spark.config import MatchConfig
from st_mapmatching_spark.kernels import hmm
from st_mapmatching_spark.oracle import hmm_ref


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


def _batchify(groups, first_layer=False):
    """Assemble the lockstep inputs exactly like _decode_stitch does: a
    state's slot is its candidate row in the batch. l0 holds the pid == 0
    states, or with ``first_layer`` those of each group's first
    candidate layer (the classic decode's start)."""
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
        m0 = np.flatnonzero(cands.pid.to_numpy()
                            == (pids[0] if first_layer else 0))
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


def _assert_decodes(dec, groups, ref):
    """Every group's slice of the lockstep return ``dec`` equals
    ref(cands, gt)'s (end_prob, rlist): pids, eids and end_prob (NaN
    equal to NaN)."""
    for g, (cands, gt) in enumerate(groups):
        exp_prob, exp_rlist = ref(cands, gt)
        got_prob, ridx, reid = _group(*dec, g)
        pids = np.sort(cands.pid.unique())
        assert np.array_equal(pids[ridx], exp_rlist.pid.to_numpy()
                              .astype(np.int64)), f"group {g}: pids differ"
        assert np.array_equal(reid, exp_rlist.eid.to_numpy()
                              .astype(np.int64)), f"group {g}: eids differ"
        assert got_prob == exp_prob or (np.isnan(got_prob)
                                        and np.isnan(exp_prob)), \
            f"group {g}: end_prob differs"


def _classic_ref(cands, gt):
    """viterbi_classic with the case's trans_prob as its dist_prob, so
    that the lockstep's w (dist_prob * emit) is the batch's tp."""
    return hmm_ref.viterbi_classic(cands, gt.assign(dist_prob=gt.trans_prob))


@pytest.mark.parametrize("seed", range(8))
def test_lockstep_equals_pergroup(seed):
    rng = np.random.RandomState(seed)
    cfg = MatchConfig()
    groups = _random_case(rng, ngroups=25)
    batch = _batchify(groups)
    dec = hmm.viterbi_beam_lockstep(*batch, cfg)
    assert len(dec[0]) == len(groups) + 1
    _assert_decodes(dec, groups, lambda c, gt: hmm_ref.viterbi_beam(c, gt, cfg))


def test_lockstep_low_beam_cap():
    """Tiny beam cap exercises the cap-before-dedup path."""
    from dataclasses import replace
    rng = np.random.RandomState(99)
    cfg = replace(MatchConfig(), beam_cap=2, prune_start_layer=1)
    groups = _random_case(rng, ngroups=20)
    batch = _batchify(groups)
    dec = hmm.viterbi_beam_lockstep(*batch, cfg)
    _assert_decodes(dec, groups, lambda c, gt: hmm_ref.viterbi_beam(c, gt, cfg))


def _bench_case(rng: np.random.RandomState, ngroups: int,
                first_layer=False):
    """Lattices shaped like the benchmark's chunks, built in numpy: 60-80
    layers of 1-5 candidates over eids >= 2**40, NaN and zero transition
    probs, whole pair layers of NaN (an HMM break), a tenth of the pairs
    missing and groups without a layer 0. Even groups are thin (1-2 candidates, 70-80 layers), odd
    ones fat (1-5 candidates, 60-65 layers), so that past step 65 every
    pair layer has at most 4 rows. Returns the per-group (cands, gt) and
    the lockstep inputs, slots being candidate rows as in _decode_stitch
    and l0 as in _batchify."""
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
        m0 = np.flatnonzero(cands.pid.to_numpy()
                            == (pid[0] if first_layer else 0))
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
    dec = hmm.viterbi_beam_lockstep(*batch, cfg)
    assert dec[2].dtype == np.int64 and dec[1].dtype == np.int64
    _assert_decodes(dec, groups, lambda c, gt: hmm_ref.viterbi_beam(c, gt, cfg))


# ---------------------------------------------------------------------------
# the classic decode: viterbi_classic_lockstep vs viterbi_classic
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("seed", range(8))
def test_classic_lockstep_equals_pergroup(seed):
    """NaN dist_probs, value ties (0.25, 0.5) and groups whose first
    candidate layer is pid 1."""
    groups = _random_case(np.random.RandomState(seed), ngroups=25)
    dec = hmm.viterbi_classic_lockstep(*_batchify(groups, first_layer=True))
    assert len(dec[0]) == len(groups) + 1
    _assert_decodes(dec, groups, _classic_ref)


def test_classic_lockstep_benchmark_shaped():
    """240 benchmark-shaped groups: eids >= 2**40, whole pair layers of
    NaN, dropped pairs and groups without a layer 0."""
    groups, batch = _bench_case(np.random.RandomState(7), 240,
                                first_layer=True)
    dec = hmm.viterbi_classic_lockstep(*batch)
    assert dec[2].dtype == np.int64 and int(dec[2].min()) >= 2 ** 40
    _assert_decodes(dec, groups, _classic_ref)


def _hand_group(layers: dict, rows: list):
    """One group from {pid: [(eid, emit), ...]} and its pair rows
    [(pid_0, eid_0, eid_1, dist_prob), ...], in _random_case's frames
    (each row's observ_prob is its to-state's emit)."""
    cands = pd.DataFrame(
        [(p, e, float(i), o) for p, st in layers.items()
         for i, (e, o) in enumerate(st)],
        columns=["pid", "eid", "dist_p2c", "observ_prob"])
    nxt = dict(zip(sorted(layers)[:-1], sorted(layers)[1:]))
    emit = {(p, e): o for p, st in layers.items() for e, o in st}
    gt = pd.DataFrame([(p, a, b, dp, emit[(nxt[p], b)])
                       for p, a, b, dp in rows],
                      columns=["pid_0", "eid_0", "eid_1", "trans_prob",
                               "observ_prob"])
    return cands, gt


def test_classic_lockstep_named_cases():
    """Each rule of viterbi_classic, one group per rule, in one call."""
    nan = np.nan
    cases = [
        # an all-NaN step: every value NaN, compared as -inf, so each
        # tie goes to the larger e0 and the end value is NaN
        (_hand_group({0: [(1, .5), (2, .5)], 1: [(3, .4), (4, .6)],
                      2: [(5, .5)]},
                     [(0, 1, 3, nan), (0, 2, 3, nan), (0, 1, 4, nan),
                      (0, 2, 4, nan), (1, 3, 5, .5), (1, 4, 5, .5)]),
         [2, 4, 5], nan),
        # a NaN row loses to a valued one
        (_hand_group({0: [(1, .5), (2, .5)], 1: [(3, .5)]},
                     [(0, 1, 3, .5), (0, 2, 3, nan)]), [1, 3], .75),
        # a value tie on the previous state: the larger e0 wins
        (_hand_group({0: [(1, .5), (2, .5)], 1: [(3, .5)]},
                     [(0, 1, 3, .5), (0, 2, 3, .5)]), [2, 3], .75),
        # a value tie on the end state: the larger eid wins
        (_hand_group({0: [(1, .5)], 1: [(3, .5), (4, .5)]},
                     [(0, 1, 3, .5), (0, 1, 4, .5)]), [1, 4], .75),
        # an HMM break: no row of step 1 leaves a valued state
        (_hand_group({0: [(1, .5), (2, .5)], 1: [(3, .5), (4, .5)],
                      2: [(5, .5)]},
                     [(0, 1, 3, .5), (0, 2, 3, .5), (1, 4, 5, .5)]),
         [], 0.0),
        # the first candidate layer is pid 3, not pid 0
        (_hand_group({3: [(1, .5), (2, .25)], 5: [(6, .5)]},
                     [(3, 1, 6, .5), (3, 2, 6, .5)]), [1, 6], .75),
    ]
    groups = [g for g, _, _ in cases]
    dec = hmm.viterbi_classic_lockstep(*_batchify(groups, first_layer=True))
    _assert_decodes(dec, groups, _classic_ref)
    for g, (_, eids, end) in enumerate(cases):
        got_prob, _, reid = _group(*dec, g)
        assert list(reid) == eids, g
        assert got_prob == end or (np.isnan(got_prob) and np.isnan(end)), g


def test_reference_decodes_warn_nothing():
    """The per-url decodes and the lockstep ones run the adversarial
    lattices (all-NaN layers, breaks, missing layer 0) without a
    RuntimeWarning: a new one would not be lost among old ones."""
    cfg = MatchConfig()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        for seed in range(4):
            groups = _random_case(np.random.RandomState(seed), ngroups=25)
            _assert_decodes(hmm.viterbi_beam_lockstep(*_batchify(groups),
                                                      cfg), groups,
                            lambda c, gt: hmm_ref.viterbi_beam(c, gt, cfg))
            _assert_decodes(hmm.viterbi_classic_lockstep(
                *_batchify(groups, first_layer=True)), groups, _classic_ref)
        groups, batch = _bench_case(np.random.RandomState(7), 60)
        _assert_decodes(hmm.viterbi_beam_lockstep(*batch, cfg), groups,
                        lambda c, gt: hmm_ref.viterbi_beam(c, gt, cfg))
