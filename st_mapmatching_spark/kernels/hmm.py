"""ST-Matching HMM kernels the engine runs, over every trajectory of a
batch at once: emission, transition scoring, the lockstep beam and
classic Viterbi decodes and the batched path stitch. Pure numpy without
pandas, so the engine's Arrow stages run them in a worker that never
loads it. Each kernel reproduces a per-trajectory reference of
oracle/hmm_ref.py, which cites the reference implementation's lines.

Engine-vs-reference divergences (all deliberate, all shared with the oracle):
* ties in per-layer pruning and in top-k candidate cuts are broken by
  explicit keys (prob desc, eid_1, eid_0) instead of pandas' unstable sort;
* a fully-empty forward lattice returns status FAILED instead of raising;
* the reference's `get_shared_line` (match/misc.py:42-52) has an inverted
  None-check and in practice returns `step_n` whenever `step_0` exists —
  we reproduce that observable behavior directly.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from ..config import MatchConfig
from .keys import key_find, key_index

# status codes (/root/reference/mapmatching/match/status.py:3-14)
STATUS_SUCCESS = 0
STATUS_SAME_LINK = 1
STATUS_ONE_POINT = 2
STATUS_NO_CANDIDATES = 3
STATUS_FAILED = 4
STATUS_UNKNOWN = 99

# the float columns of a matched row; all NaN/null when nothing matched
METRIC_COLS = ("step_0", "step_n", "dist", "avg_speed", "prob", "norm_prob",
               "dist_prob", "trans_prob", "dir_prob")

FLAG_NORMAL = 0
FLAG_SAME_SRC_FIRST = 1
FLAG_SAME_SRC_LAST = 2

_EPS = 1e-6


def gaussian_emission(dist: np.ndarray, sigma: float = 20.0, bias: float = 0.0) -> np.ndarray:
    """Unnormalized Gaussian observation density
    (geometricAnalysis.py:19-23). Normalization by the per-trajectory max
    and the sqrt happen at the caller (they need the whole candidate set)."""
    factor = 1.0 / (np.sqrt(2.0 * np.pi) * sigma)
    d = np.asarray(dist, dtype=np.float64)
    return factor * np.exp(-np.power(d - bias, 2) / (2.0 * sigma * sigma))


def observ_prob_from_density(density: np.ndarray, traj_max_density: np.ndarray) -> np.ndarray:
    """sqrt(density / max density over the trajectory's candidate set)
    (geometricAnalysis.py:24-28 with normal=True)."""
    return np.sqrt(np.asarray(density, dtype=np.float64) / np.asarray(traj_max_density, dtype=np.float64))


# ---------------------------------------------------------------------------
# scoring
# ---------------------------------------------------------------------------

def path_coords_from_epath(epath, edge_coords: dict) -> np.ndarray | None:
    """Stitch edge geometries along a path, dropping the duplicated joint
    vertex between consecutive edges."""
    if epath is None or len(epath) == 0:
        return None
    parts = [np.asarray(edge_coords[int(epath[0])], dtype=np.float64)]
    for e in epath[1:]:
        parts.append(np.asarray(edge_coords[int(e)], dtype=np.float64)[1:])
    return np.concatenate(parts)


def score_base_np(cost, step_0_len, step_n_len, speed_0, speed_1, path_speed,
                  flag, dist_0, d_euc):
    """Pure-array form of the base scoring (spatialAnalysis.py:10-121):
    returns (avg_speed, d_sht, dist_prob, flag1_mask). All inputs float64/
    int arrays of equal length."""
    # temporal: weighted average of (speed_0, speed_1, path_speed) with
    # weights (step_0_len, step_n_len, cost); 0/inf weights -> eps
    # (spatialAnalysis.py:79-111)
    speeds = np.stack([speed_0, speed_1, path_speed], axis=1)
    weights = np.stack([step_0_len, step_n_len, cost], axis=1)
    weights = np.where(~np.isfinite(weights) | (weights == 0), _EPS, weights)
    avg_speed = (speeds * weights).sum(axis=1) / weights.sum(axis=1)

    # shortest-path distance (spatialAnalysis.py:60-69)
    d_sht = cost + step_0_len + step_n_len
    flag1 = flag == FLAG_SAME_SRC_FIRST
    d_sht = np.where(flag1, step_0_len + step_n_len - dist_0, d_sht)
    d_sht = np.where(flag1 & (d_sht < _EPS), d_euc, d_sht)

    # dist_prob = min(d_euc/d_sht, d_sht/d_euc) (spatialAnalysis.py:71-75)
    with np.errstate(divide="ignore", invalid="ignore"):
        r = d_euc / d_sht
        r = np.where(r > 1.0, 1.0 / r, r)
        r = np.where(d_sht == 0, np.where(d_euc == 0, np.nan, 0.0), r)
        r = np.where(np.isinf(d_sht), 0.0, r)
    return avg_speed, d_sht, r, flag1


# ---------------------------------------------------------------------------
# lockstep Viterbi decodes
# ---------------------------------------------------------------------------

def _first_max(grp, prob, key, pmax, kmin):
    """Positions of each group's row with the highest prob, NaN last,
    ties to the smallest key: two scatter reductions, into ``pmax`` (NaN)
    and ``kmin`` (int64 max) at the groups' entries, which stay dirty."""
    np.fmax.at(pmax, grp, prob)
    m = pmax[grp]
    top = np.flatnonzero((prob == m) | (m != m))     # m NaN: all rows NaN
    g, kt = grp[top], key[top]
    np.minimum.at(kmin, g, kt)
    return top[kt == kmin[g]]


def _step_major(pl_gid, pair_off, pair_cnt, n_steps):
    """A lockstep call's pair rows laid out step-major, once per call:
    pair layer q (group-major) is step t_of[q] of its group; a stable
    sort on t keeps each step's groups ascending, and k numbers the pair
    layers step-major. Returns (rows, K, t_k, ord_kt, cnt, k_lo, step_k,
    step_r, g_lo): per row its index in the pair rows and its k; per k
    its step, its q, its row count and first row; per step its first k
    and first row, then the totals; per group its first q."""
    g_lo = np.cumsum(n_steps) - n_steps
    t_of = np.arange(len(pl_gid)) - np.repeat(g_lo, n_steps)
    ord_kt = np.argsort(t_of, kind="stable")
    t_k = t_of[ord_kt]
    cnt = pair_cnt[ord_kt]
    k_lo = np.cumsum(cnt) - cnt
    rows = np.repeat(pair_off[ord_kt] - k_lo, cnt) + np.arange(int(cnt.sum()))
    step_k = np.searchsorted(t_k, np.arange(int(n_steps.max()) + 1))
    return (rows, np.repeat(np.arange(len(cnt)), cnt), t_k, ord_kt, cnt,
            k_lo, step_k, np.append(k_lo, len(rows))[step_k], g_lo)


def _walk_epaths(start, nxt, jump, w_idx, w_cur, w_prev, ng: int):
    """Every group's epath from its chain of winners, followed for all
    groups at once: group g's chain begins at winner start[g] (-1: no
    path) and goes from winner j to nxt[j] until that is -1. Per winner:
    its layer index, its eid and its back pointer's eid. Returns the
    flat epaths (w_off, idx, eid) and, per winner walked in walk order,
    (its group, the winner, whether it begins a chain: the start, or the
    winner after one where ``jump`` is set)."""
    act = np.flatnonzero(start >= 0)
    c, f = start[act], np.ones(len(act), dtype=bool)
    vis = []  # (group, winner, begins a chain) per link followed
    while len(act):
        vis.append((act, c, f))
        n, f = nxt[c], jump[c]
        on = n >= 0
        act, c, f = act[on], n[on], f[on]
    vg, vj, vf = (np.concatenate(a) for a in zip(*vis)) if vis \
        else (np.empty(0, np.int64), np.empty(0, np.int64),
              np.empty(0, dtype=bool))
    # one record (group, idx, cur, prev) per winner walked
    rg, ri, rc, rp = vg, w_idx[vj], w_cur[vj], w_prev[vj]

    # ------------------------------------------------ flat epath assembly
    # the per-url decodes' walk, for all groups at once: records
    # group-major, idx descending; a record appends (idx, cur) unless that
    # is the item the group's previous record appended last, then
    # (idx - 1, prev); the group's items, reversed, are its epath
    o = np.argsort(rg, kind="stable")
    rg, ri, rc, rp = rg[o], ri[o], rc[o], rp[o]
    dup = np.zeros(len(rg), dtype=bool)
    dup[1:] = (rg[1:] == rg[:-1]) & (ri[:-1] - 1 == ri[1:]) \
        & (rp[:-1] == rc[1:])
    keep = np.stack([~dup, np.ones_like(dup)], axis=1).ravel()
    it_g = np.repeat(rg, 2)[keep][::-1]
    it_i = np.stack([ri, ri - 1], axis=1).ravel()[keep][::-1]
    it_e = np.stack([rc, rp], axis=1).ravel()[keep][::-1]
    o = np.argsort(it_g, kind="stable")
    w_off = np.concatenate([[0], np.cumsum(np.bincount(it_g, minlength=ng))])
    return (w_off, it_i[o], it_e[o]), (vg, vj, vf)


def viterbi_beam_lockstep(pl_gid, pair_off, pair_cnt, e0, e1, tp, s0, s1,
                          l0_s, l0_p, n_slots, n_steps,
                          cfg: MatchConfig = MatchConfig()):
    """Beam Viterbi over MANY trajectories in lockstep: the batch twin of
    oracle.hmm_ref.viterbi_beam, decision for decision the same
    (tests/test_viterbi_lockstep.py pins it group by group).

    Step t of every trajectory is one set of array ops over that step's
    pair rows, which are laid out step-major once per call. Each state
    (a group's candidate in one layer) has a slot, and the previous
    layer's winner probs live in dense per-slot arrays: a step reads
    them with a gather and writes its winners with a scatter. A state's
    winner is its row with the highest prob, NaN last, ties to the
    smallest e0. Where no group keeps more than beam_cap rows (every step
    at the default top_k) two scatter reductions find it; a step where
    the cap binds sorts its rows by (group, -prob, e1, e0), cuts each
    group at the cap and keeps the first row per state, as _prune does.
    The backward walk is a linked list over the winners, followed for
    every group at once.

    Inputs (all numpy; pair layers sorted group-major then
    step-ascending, each with >= 1 row):
      pl_gid          group id per pair layer
      pair_off/cnt    row span of each pair layer in the pair rows
      e0, e1, tp      pair rows (tp = trans_prob * observ_prob)
      s0, s1          slot of each pair row's from- and to-state, in
                      [0, n_slots): one slot per (group, layer, eid)
      l0_s, l0_p      slots and probs of the layer-0 (pid == 0) states
      n_steps         pair layers per group (= layer count - 1)

    Returns flat arrays (w_off, idx, eid, end_prob): group g's epath is
    idx/eid[w_off[g]:w_off[g + 1]], idx the layer INDEX (the caller maps
    it to pids), empty with end_prob 0.0 when nothing was decoded."""
    ng = len(n_steps)
    maxT = int(n_steps.max()) if ng else 0
    if maxT == 0:
        return (np.zeros(ng + 1, np.int64), np.empty(0, np.int64),
                np.empty(0, np.int64), np.zeros(ng))
    cap = cfg.beam_cap

    rows, K, t_k, ord_kt, cnt, k_lo, step_k, step_r, g_lo = _step_major(
        pl_gid, pair_off, pair_cnt, n_steps)
    E0, E1 = e0[rows].astype(np.int64), e1[rows].astype(np.int64)
    TP, S0, S1 = tp[rows], s0[rows], s1[rows]
    # within its step: each pair layer's first row, each row's pair layer
    k_rst = k_lo - step_r[t_k]
    r_k = K - step_k[t_k[K]]
    # a step can bind the cap only if one of its pair layers is larger
    big = np.maximum.reduceat(cnt, step_k[:-1]) > cap

    # per slot: the winner prob of the previous layer and whether it has
    # one; a slot is the to-state of one step only, so nothing is reset
    P = np.full(n_slots, np.nan)
    H = np.zeros(n_slots, dtype=bool)
    P[l0_s], H[l0_s] = l0_p, True
    pmax = np.full(n_slots, np.nan)                  # scatter scratch
    e0min = np.full(n_slots, np.iinfo(np.int64).max)

    wins, wps = [], []  # per step: winner rows, their probs
    for t in range(maxT):
        a, b = step_r[t], step_r[t + 1]
        rst, rk = k_rst[step_k[t]:step_k[t + 1]], r_k[a:b]
        tS0, tS1 = S0[a:b], S1[a:b]
        # previous-layer lookup; a NaN-prob winner counts as MISSING for
        # selection (but its NaN value flows into the prune threshold)
        val, mk = P[tS0], H[tS0]
        okm = mk & (val == val)
        hit = np.logical_or.reduceat(okm, rst)
        if hit.all():
            sel, prob = okm, val * TP[a:b]
        else:  # HMM break: the group restarts its layer with prev prob 1
            rhit = hit[rk]
            sel = okm | ~rhit
            prob = np.where(rhit, val, 1.0) * TP[a:b]

        pruned = t >= cfg.prune_start_layer
        if pruned:
            # a row left out of sel has prob NaN: it is never kept and
            # adds nothing to its group's max
            ps = np.where(mk, val, 1.0) * prob
            segmax = np.fmax.reduceat(ps, rst)       # == nanmax per group
            thred = np.where(np.isfinite(segmax),
                             segmax * cfg.prune_trim_factor, -np.inf)
            keep = prob >= thred[rk]
        else:
            keep = sel
        k = np.flatnonzero(keep)

        if pruned and big[t] and np.add.reduceat(
                keep, rst, dtype=np.int64).max() > cap:
            tg = K[a:b]                      # orders the step's groups
            o = k[np.lexsort((E0[a:b][k], E1[a:b][k], -prob[k], tg[k]))]
            og = tg[o]
            i = np.arange(len(o))
            rank = i - np.maximum.accumulate(np.where(
                np.concatenate([[True], og[1:] != og[:-1]]), i, 0))
            capped = o[rank < cap]
            _, first = np.unique(tS1[capped], return_index=True)
            first.sort()
            w = capped[first]
        else:
            w = k[_first_max(tS1[k], prob[k], E0[a:b][k], pmax, e0min)]
        wp = prob[w]
        P[tS1[w]], H[tS1[w]] = wp, True
        wins.append(a + w)
        wps.append(wp)

    # ------------------------------------------------------- lockstep walk
    # viterbi_beam's walk as a linked list over the winners. A group
    # (re)starts at the first state of a step's pop order, which its
    # max(f, key=f.get) picks: max prob, NaN last, ties to the smallest
    # e1. From winner j the walk goes to the winner of j's back-pointer
    # state one step down; if that state has none, the group restarts two
    # steps down, or lower where a step left it no winner.
    W, WP = np.concatenate(wins), np.concatenate(wps)
    Wk = K[W]
    o = _first_max(Wk, WP, E1[W], np.full(len(cnt), np.nan),
                   np.full(len(cnt), np.iinfo(np.int64).max))
    lead = np.full(len(cnt), -1)
    lead[ord_kt[Wk[o]]] = o
    # per group-major pair layer q: the winner a restart at q takes, from
    # q's step or the nearest step below it with winners
    q = np.arange(len(lead))
    below = np.maximum.accumulate(np.where(lead >= 0, q, -1))
    rs_q = np.where(below >= g_lo[pl_gid], lead[below], -1)
    win_of = np.full(n_slots, -1, dtype=np.int64)
    win_of[S1[W]] = np.arange(len(W))
    nxt = win_of[S0[W]]
    jump = nxt < 0                      # the next winner is a restart
    j2 = jump & (t_k[Wk] >= 2)
    nxt[j2] = rs_q[ord_kt[Wk[j2]] - 2]
    start = np.where(n_steps > 0, rs_q[np.maximum(g_lo + n_steps - 1, 0)],
                     -1)
    (w_off, w_idx, w_eid), (vg, vj, vf) = _walk_epaths(
        start, nxt, jump, t_k[Wk] + 1, E1[W], E0[W], ng)
    # the restarts' probs summed in walk order, as viterbi_beam does
    ep_sum = np.zeros(ng)
    np.add.at(ep_sum, vg[vf], WP[vj[vf]])
    ep_cnt = np.bincount(vg[vf], minlength=ng)
    end_prob = np.zeros(ng)
    np.divide(ep_sum, ep_cnt, out=end_prob, where=ep_cnt > 0)
    return w_off, w_idx, w_eid, end_prob


def viterbi_classic_lockstep(pl_gid, pair_off, pair_cnt, e0, e1, w, s0, s1,
                             l0_s, l0_p, n_slots, n_steps):
    """Classic full-lattice Viterbi over MANY trajectories in lockstep:
    the batch twin of oracle.hmm_ref.viterbi_classic, decision for
    decision the same (tests/test_viterbi_lockstep.py pins it group by
    group). Inputs and return as viterbi_beam_lockstep's, but ``w`` is
    dist_prob * emit per pair row and l0_s/l0_p are the states of each
    group's FIRST candidate layer, whatever its pid.

    A state's value is the best of its rows' from-state value + w, over
    the rows whose from-state has a value: no prune, no beam cap, no
    restart. NaN compares as -inf (no value is -inf), and a value tie
    goes to the larger e0 (one _first_max with key -e0). The end state
    is the last layer's best, ties to the larger eid, and end_prob its
    value; a group that a step leaves no winner has no path."""
    ng = len(n_steps)
    maxT = int(n_steps.max()) if ng else 0
    if maxT == 0:
        return (np.zeros(ng + 1, np.int64), np.empty(0, np.int64),
                np.empty(0, np.int64), np.zeros(ng))
    rows, K, t_k, ord_kt, _, _, _, step_r, g_lo = _step_major(
        pl_gid, pair_off, pair_cnt, n_steps)
    E0, E1 = e0[rows].astype(np.int64), e1[rows].astype(np.int64)
    WT, S0, S1 = w[rows], s0[rows], s1[rows]
    # per slot: its state's value and whether it has one
    P = np.full(n_slots, np.nan)
    H = np.zeros(n_slots, dtype=bool)
    P[l0_s], H[l0_s] = l0_p, True
    pmax = np.full(n_slots, np.nan)                  # scatter scratch
    kmin = np.full(n_slots, np.iinfo(np.int64).max)
    wins = []  # per step: its winner rows
    for t in range(maxT):
        a, b = step_r[t], step_r[t + 1]
        r = a + np.flatnonzero(H[S0[a:b]])
        val = P[S0[r]] + WT[r]
        top = _first_max(S1[r], val, -E0[r], pmax, kmin)
        r = r[top]
        P[S1[r]], H[S1[r]] = val[top], True
        wins.append(r)

    # each group's end state: the best winner of its last pair layer;
    # the walk goes from a winner to its from-state's winner
    W = np.concatenate(wins)
    q = ord_kt[K[W]]
    g = pl_gid[q]
    last = np.flatnonzero(q == g_lo[g] + n_steps[g] - 1)
    end = last[_first_max(g[last], P[S1[W[last]]], -E1[W[last]],
                          np.full(ng, np.nan),
                          np.full(ng, np.iinfo(np.int64).max))]
    start = np.full(ng, -1)
    start[g[end]] = end
    win_of = np.full(n_slots, -1, dtype=np.int64)
    win_of[S1[W]] = np.arange(len(W))
    nxt = win_of[S0[W]]
    (w_off, w_idx, w_eid), _ = _walk_epaths(
        start, nxt, nxt < 0, t_k[K[W]] + 1, E1[W], E0[W], ng)
    end_prob = np.zeros(ng)
    end_prob[g[end]] = P[S1[W[end]]]
    return w_off, w_idx, w_eid, end_prob


# ---------------------------------------------------------------------------
# path stitch
# ---------------------------------------------------------------------------

def csr_take(flat: np.ndarray, off: np.ndarray, pos: np.ndarray,
             hit: np.ndarray):
    """Rows ``pos`` of the CSR (flat, off) as a new CSR; a row where
    ``hit`` is False comes out empty."""
    lens = np.zeros(len(pos), dtype=np.int64)
    lens[hit] = off[pos[hit] + 1] - off[pos[hit]]
    out_off = np.concatenate([[0], np.cumsum(lens)])
    start = np.zeros(len(pos), dtype=np.int64)
    start[hit] = off[pos[hit]]
    idx = np.repeat(start - out_off[:-1], lens) + np.arange(out_off[-1])
    return flat[idx], out_off


def split_rows(flat: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Object array whose element i is flat[off[i]:off[i + 1]]."""
    if len(off) < 2:
        return np.empty(0, dtype=object)
    return np.fromiter(np.split(flat, off[1:-1]), dtype=object,
                       count=len(off) - 1)


class ListCol(NamedTuple):
    """A list column as CSR: row i is flat[off[i]:off[i + 1]]. An empty
    row is NULL; no matched row carries an empty path."""
    flat: np.ndarray
    off: np.ndarray

    @classmethod
    def of_groups(cls, g: np.ndarray, items: np.ndarray, n: int) -> "ListCol":
        """``n`` rows; row i holds the ``items`` whose group ``g`` is i, in
        their order, as int64."""
        order = np.argsort(g, kind="stable")
        cnt = np.bincount(g, minlength=n)
        return cls(items[order].astype(np.int64),
                   np.concatenate([[0], np.cumsum(cnt)]))

    @classmethod
    def concat(cls, cols) -> "ListCol":
        """The rows of ``cols`` one after another."""
        ends = np.cumsum([0] + [c.off[-1] for c in cols[:-1]])
        return cls(np.concatenate([c.flat for c in cols]),
                   np.concatenate([cols[0].off[:1]] + [
                       c.off[1:] + e for c, e in zip(cols, ends)]))

    def rows(self) -> np.ndarray:
        """Object array of the rows, None for a NULL one (the pandas
        edge's epath column)."""
        out = split_rows(self.flat, self.off)
        out[np.diff(self.off) == 0] = None
        return out


def segment_reduce(off: np.ndarray, *terms) -> list[np.ndarray]:
    """Per-segment ``fn(v[off[i]:off[i + 1]])`` for each (fn, v) term
    (fn np.sum or np.prod; segments non-empty). The segments of one
    length are reduced as the rows of one 2-D array, which numpy sums
    in the same pairwise order as a 1-D call, so every result is
    bitwise what the per-segment call returns (np.add.reduceat is not)."""
    lens = np.diff(off)
    outs = [np.empty(len(lens)) for _ in terms]
    for n in np.unique(lens):
        segs = np.flatnonzero(lens == n)
        ix = off[segs][:, None] + np.arange(n)
        for out, (fn, v) in zip(outs, terms):
            out[segs] = fn(v[ix], axis=1)
    return outs


def stitch_batch(gid: np.ndarray, w_off: np.ndarray, w_pid: np.ndarray,
                 w_eid: np.ndarray, end_prob: np.ndarray, cands: dict,
                 pairs: dict, cfg: MatchConfig = MatchConfig(),
                 dir_trans: bool = True, paths=None) -> dict:
    """oracle.hmm_ref.stitch_path for many trajectories at once, result
    for result the same (tests/test_stitch_batch.py pins it url by url).

    Trajectory k is group gid[k]; its winning states are
    w_pid/w_eid[w_off[k]:w_off[k + 1]] (layer order) with end_prob[k].
    ``cands`` (gid, pid, eid, len0, len1) and ``pairs`` (gid, pid_0,
    eid_0, eid_1, flag, o_node, d_node, d_sht, avg_speed, dist_prob,
    trans_prob) hold the rows of every group. ``paths(o, d)`` returns
    the sp paths of the (o, d) arrays as CSR (flat eids, offsets), empty
    where there is none. ``paths=None`` is stitch_path's collect_steps
    mode: the ``steps`` and ``last_eid`` columns instead of epaths.

    Returns one array per output column (status, METRIC_COLS) and the
    epath as a ListCol of int64 eids (NULL where stitch_path gives
    None)."""
    m = len(gid)
    n_w = np.diff(w_off)
    state_g = np.repeat(np.arange(m), n_w)
    out = {"status": np.full(m, STATUS_FAILED, dtype=np.int64),
           **{c: np.full(m, np.nan) for c in METRIC_COLS}}
    out["prob"][:] = end_prob
    if paths is None:
        out["steps"] = np.full(m, None, dtype=object)
        out["last_eid"] = np.full(m, np.nan)

    # first/last cut params: one composite-key lookup for every group
    won = np.flatnonzero(n_w > 0)
    ends = np.concatenate([w_off[won], w_off[won + 1] - 1])
    uniq, code, corder = key_index(cands["gid"], cands["pid"], cands["eid"])
    pos, hit = key_find(uniq, code, np.tile(gid[won], 2), w_pid[ends],
                        w_eid[ends])
    if not hit.all():
        raise KeyError("winning state with no candidate row")
    r = corder[pos]
    l0 = cands["len0"][r].astype(np.float64)
    cut = l0 / (l0 + cands["len1"][r].astype(np.float64))
    out["step_0"][won], out["step_n"][won] = cut[:len(won)], cut[len(won):]

    by_prob = np.where(end_prob < cfg.prob_thres, STATUS_FAILED,
                       STATUS_SAME_LINK)
    single = np.flatnonzero(n_w == 1)
    out["status"][single] = by_prob[single]

    # winning-step pair rows: one composite-key lookup for every step;
    # a group with a missing step stays FAILED without a path
    st = np.flatnonzero(state_g[1:] == state_g[:-1])   # state -> next
    uniq, code, corder = key_index(pairs["gid"], pairs["pid_0"],
                                   pairs["eid_0"], pairs["eid_1"])
    pos, hit = key_find(uniq, code, gid[state_g[st]], w_pid[st], w_eid[st],
                        w_eid[st + 1])
    ok_g = np.zeros(m, dtype=bool)
    ok_g[n_w >= 2] = True
    ok_g[state_g[st[~hit]]] = False
    ok = np.flatnonzero(ok_g)
    st_ok = ok_g[state_g[st]]
    st, rows = st[st_ok], corder[pos[st_ok]]
    st_off = np.concatenate([[0], np.cumsum(n_w[ok] - 1)])

    # metrics of every ok group (_stitch_metrics)
    d_sht, speed, dist_p, trans_p = (
        pairs[c][rows].astype(np.float64)
        for c in ("d_sht", "avg_speed", "dist_prob", "trans_prob"))
    dist, sw, dp, tp = segment_reduce(
        st_off, (np.sum, d_sht), (np.sum, speed * d_sht),
        (np.prod, dist_p), (np.prod, trans_p))
    coef = 1.0 / (n_w[ok] - 1)
    with np.errstate(invalid="ignore", divide="ignore"):
        metrics = {"dist": dist,
                   "avg_speed": np.where(dist > 0, sw / dist, np.nan),
                   "norm_prob": np.power(end_prob[ok], coef),
                   "dist_prob": np.power(dp, coef),
                   "trans_prob": np.power(tp, coef)}
        if dir_trans:
            metrics["dir_prob"] = np.where(
                metrics["dist_prob"] != 0,
                metrics["trans_prob"] / metrics["dist_prob"], np.nan)

    o_node = pairs["o_node"][rows]
    d_node = pairs["d_node"][rows]
    need = pairs["flag"][rows] != FLAG_SAME_SRC_FIRST
    if paths is None:
        for c, v in metrics.items():
            out[c][ok] = v
        out["status"][ok] = STATUS_UNKNOWN
        out["last_eid"][ok] = w_eid[w_off[ok + 1] - 1]
        steps = np.fromiter(zip(o_node.tolist(), d_node.tolist(),
                                need.tolist(), w_eid[st].tolist()),
                            dtype=object, count=len(st))
        out["steps"][ok] = split_rows(steps, st_off)
        ep_g, ep_e = single, w_eid[w_off[single]]
    else:
        # full sequence per ok group: each winning state's eid, then (a
        # step, not the last state) its sp path unless SAME_SRC_FIRST,
        # then a consecutive dedup within the group
        ok_state = np.flatnonzero(ok_g[state_g])
        plen = np.zeros(len(w_eid), dtype=np.int64)
        p_flat, p_off = paths(o_node[need], d_node[need])
        plen[st[need]] = np.diff(p_off)
        seg = 1 + plen[ok_state]
        head = np.zeros(int(seg.sum()), dtype=bool)
        head[np.cumsum(seg) - seg] = True
        seq = np.empty(len(head), dtype=np.int64)
        seq[head] = w_eid[ok_state]
        seq[~head] = p_flat
        seq_g = np.repeat(state_g[ok_state], seg)
        keep = np.ones(len(seq), dtype=bool)
        keep[1:] = (seq_g[1:] != seq_g[:-1]) | (seq[1:] != seq[:-1])
        seq, seq_g = seq[keep], seq_g[keep]
        # a path that dedups to one edge is SAME_LINK (or FAILED) with
        # the step metrics left NaN
        linked = np.bincount(seq_g, minlength=m)[ok] > 1
        one = ok[~linked]
        out["status"][one] = by_prob[one]
        for c, v in metrics.items():
            out[c][ok[linked]] = v[linked]
        out["status"][ok[linked]] = np.where(
            metrics["trans_prob"][linked] < cfg.prob_thres, STATUS_FAILED,
            STATUS_SUCCESS)
        ep_g = np.concatenate([single, seq_g])
        ep_e = np.concatenate([w_eid[w_off[single]], seq])

    # every group's epath items as one list column; no items -> NULL
    out["epath"] = ListCol.of_groups(ep_g, ep_e, m)
    return out
