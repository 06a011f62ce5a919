"""ST-Matching HMM math: transition-pair construction, flag identification,
probability scoring, beam Viterbi, path stitching.

Pure numpy — shared verbatim by the oracle and by the engine's Arrow
stages. pandas is imported only by the per-trajectory functions that take
or return frames (the oracle's and the classic decode's), so the batched
kernels run in a worker that never loads it. Semantics re-derived from:

* pair construction + flags:  /root/reference/mapmatching/match/candidatesGraph.py:58-166
* dist/temporal/trans probs:  /root/reference/mapmatching/match/spatialAnalysis.py:10-151
* dir prob:                   /root/reference/mapmatching/match/dir_similarity.py:6-15,
                              /root/reference/mapmatching/geo/azimuth.py:175-208
* beam Viterbi + pruning:     /root/reference/mapmatching/match/viterbi.py:17-154
* path stitch + status:       /root/reference/mapmatching/match/postprocess.py:13-97

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
from .geodesy import bearing_deg, polyline_bearing_cos_dist
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
# transition pairs
# ---------------------------------------------------------------------------

def layer_params(layer_points: pd.DataFrame) -> pd.DataFrame:
    """Straight-line distance + heading between *consecutive candidate
    layers* (candidatesGraph.py:14-56 — note the reference computes these
    on points.loc[cands.pid.unique()], i.e. only layers that have
    candidates). Expects columns pid, x, y sorted by pid."""
    pts = layer_points.sort_values("pid").reset_index(drop=True)
    x = pts.x.to_numpy()
    y = pts.y.to_numpy()
    dx = x[1:] - x[:-1]
    dy = y[1:] - y[:-1]
    # sqrt(dx*dx + dy*dy), NOT np.hypot: IEEE sqrt/mul/add are correctly
    # rounded, so the JVM twin (operators.matching.layer_links) produces
    # bit-identical values; hypot algorithms differ in the last ulp, which
    # is enough to flip knife-edge Viterbi ties between twin edges
    d = np.sqrt(dx * dx + dy * dy)
    move_dir = bearing_deg(x[:-1], y[:-1], x[1:], y[1:])
    import pandas as pd
    return pd.DataFrame({
        "pid_0": pts.pid.to_numpy()[:-1],
        "pid_1": pts.pid.to_numpy()[1:],
        "d_euc": d,
        "move_dir": np.atleast_1d(move_dir),
    })


def build_transition_pairs(cands: pd.DataFrame, layer_points: pd.DataFrame) -> pd.DataFrame:
    """Cartesian product of consecutive candidate layers
    (candidatesGraph.py:117-166). ``cands`` needs columns
    pid, eid, src, dst, dist, speed, len0, len1, seg0, seg1, observ_prob.

    Output column glossary (matching the reference's renames at
    candidatesGraph.py:122-127):
      step_0 / step_0_len : tail of the FIRST edge after its projection
                            (cand_0.seg1 / cand_0.len1)
      step_n / step_n_len : head of the LAST edge up to its projection
                            (cand_1.seg0 / cand_1.len0)
      left_seg0/left_len0 : cand_0's own head cut, needed by the
                            approx-point reset in identify_flags.
    """
    layer_ids = np.sort(cands.pid.unique())
    nxt = dict(zip(layer_ids[:-1], layer_ids[1:]))

    left = cands[["pid", "eid", "dist", "speed", "dst", "len1", "seg1", "len0", "seg0"]].rename(
        columns={"pid": "pid_0", "eid": "eid_0", "dist": "dist_0", "speed": "speed_0",
                 "len1": "step_0_len", "seg1": "step_0",
                 "len0": "left_len0", "seg0": "left_seg0"})
    left["pid_1"] = left.pid_0.map(nxt)
    left = left[left.pid_1.notna()].copy()
    left["pid_1"] = left.pid_1.astype(np.int64)

    right = cands[["pid", "eid", "dist", "speed", "src", "len0", "seg0", "observ_prob"]].rename(
        columns={"pid": "pid_1", "eid": "eid_1", "dist": "dist_1", "speed": "speed_1",
                 "len0": "step_n_len", "seg0": "step_n"})

    gt = left.merge(right, on="pid_1", how="inner")
    gt = gt.merge(layer_params(layer_points), on=["pid_0", "pid_1"], how="left")
    return gt.reset_index(drop=True)


def identify_flags(gt: pd.DataFrame, dist_eps: float = 5.0, ratio_eps: float = 0.05) -> pd.DataFrame:
    """Classify same-edge pairs and apply the near-point merge
    (candidatesGraph.py:58-114). Mutates/returns gt with columns
    flag, o_node, d_node (shortest-path endpoints after the
    SAME_SRC_FIRST swap)."""
    offset_0 = gt.dist_0.to_numpy() - gt.step_0_len.to_numpy()       # proj_0 offset on edge_0
    step_n_len = gt.step_n_len.to_numpy()

    cond_1 = offset_0 <= step_n_len
    relaxed = np.minimum(np.maximum(0.0, offset_0 - dist_eps), offset_0 * (1.0 - ratio_eps))
    cond = relaxed <= step_n_len

    # near-point merge: proj_0 barely past proj_1 -> treat the head cut of
    # cand_0 as the step_n of the row (applies to ALL rows, same-edge or not,
    # exactly as the reference does at candidatesGraph.py:99-105)
    approx = cond & (~cond_1)
    if approx.any():
        idx = np.flatnonzero(approx)
        gt.loc[gt.index[idx], "step_n_len"] = gt.left_len0.to_numpy()[idx]
        seg_col = gt.columns.get_loc("step_n")
        left_col = gt.columns.get_loc("left_seg0")
        for i in idx:
            gt.iat[i, seg_col] = gt.iat[i, left_col]

    same_edge = gt.eid_0.to_numpy() == gt.eid_1.to_numpy()
    flag = np.where(same_edge & cond, FLAG_SAME_SRC_FIRST,
                    np.where(same_edge & (~cond), FLAG_SAME_SRC_LAST, FLAG_NORMAL))
    gt["flag"] = flag.astype(np.int32)

    # shortest-path endpoints: normally edge_0.dst -> edge_1.src; the
    # SAME_SRC_FIRST swap (candidatesGraph.py:107-109 + the search-arg
    # order at spatialAnalysis.py:54) makes it edge.src -> edge.dst.
    first = gt.flag.to_numpy() == FLAG_SAME_SRC_FIRST
    gt["o_node"] = np.where(first, gt.src.to_numpy(), gt.dst.to_numpy()).astype(np.int64)
    gt["d_node"] = np.where(first, gt.dst.to_numpy(), gt.src.to_numpy()).astype(np.int64)
    return gt


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


def score_base(gt: pd.DataFrame, cfg: MatchConfig = MatchConfig()) -> pd.DataFrame:
    """avg_speed, d_sht, dist_prob (everything except the direction term)
    given the shortest-path attach columns ``cost`` (inf if unreachable, 0
    if o_node==d_node), ``epath`` (list|None) and ``path_speed``
    (spatialAnalysis.py:10-121)."""
    if gt.empty:
        for c in ("avg_speed", "d_sht", "dist_prob"):
            gt[c] = np.array([], dtype=np.float64)
        return gt

    avg_speed, d_sht, dist_prob, flag1 = score_base_np(
        gt.cost.to_numpy(dtype=np.float64),
        gt.step_0_len.to_numpy(dtype=np.float64),
        gt.step_n_len.to_numpy(dtype=np.float64),
        gt.speed_0.to_numpy(dtype=np.float64),
        gt.speed_1.to_numpy(dtype=np.float64),
        gt.path_speed.to_numpy(dtype=np.float64),
        gt.flag.to_numpy(),
        gt.dist_0.to_numpy(dtype=np.float64),
        gt.d_euc.to_numpy(dtype=np.float64))
    gt["avg_speed"] = avg_speed
    gt["d_sht"] = d_sht
    gt["dist_prob"] = dist_prob
    if flag1.any() and "epath" in gt.columns:
        gt.loc[gt.flag == FLAG_SAME_SRC_FIRST, "epath"] = None
    return gt


def finalize_scores(gt: pd.DataFrame, edge_coords: dict, dir_trans: bool,
                    cfg: MatchConfig = MatchConfig()) -> pd.DataFrame:
    """Full scoring incl. dir_prob by literal geometry concatenation
    (dir_similarity.py:6-15) — the oracle path. The engine computes the
    same dir_prob from additive sufficient stats (kernels.dir_stats);
    the parity suite pins both to 1e-9."""
    gt = score_base(gt, cfg)
    if gt.empty or not dir_trans:
        gt["dir_prob"] = np.nan if not len(gt) else np.full(len(gt), np.nan)
        gt["trans_prob"] = gt.dist_prob if len(gt) else np.array([], dtype=np.float64)
        return gt
    flag1 = gt.flag.to_numpy() == FLAG_SAME_SRC_FIRST

    # direction prob over the stitched step geometry
    dir_prob = np.empty(len(gt), dtype=np.float64)
    step0_list = gt.step_0.tolist()
    stepn_list = gt.step_n.tolist()
    epaths = gt.epath.tolist()
    move_dirs = gt.move_dir.to_numpy(dtype=np.float64)
    for i in range(len(gt)):
        if flag1[i]:
            geom = stepn_list[i] if step0_list[i] is not None else None
            if geom is not None and len(geom) > 0:
                geom = np.vstack(geom).astype(np.float64)
        else:
            parts = [p for p in (step0_list[i],
                                 path_coords_from_epath(epaths[i], edge_coords),
                                 stepn_list[i]) if p is not None and len(p) > 0]
            # np.vstack instead of asarray: Arrow hands nested lists as
            # object arrays of row arrays
            geom = np.concatenate([np.vstack(p).astype(np.float64) for p in parts]) if parts else None
        dir_prob[i] = polyline_bearing_cos_dist(geom, move_dirs[i])
    gt["dir_prob"] = dir_prob
    gt["trans_prob"] = gt.dist_prob * gt.dir_prob
    return gt


# ---------------------------------------------------------------------------
# beam Viterbi
# ---------------------------------------------------------------------------

def _prune(pid_0, eid_0, eid_1, prob, level: int, prev_scores: tuple,
           cfg: MatchConfig):
    """One beam-prune step (viterbi.py:17-69). Returns (eid_1 winners,
    eid_0 back-pointers, probs) in pop order.

    ``prev_scores`` is the previous layer's (eid-sorted eids, probs);
    an eid_0 not among them scores with 1.0."""
    if level < cfg.prune_start_layer:
        order = np.lexsort((eid_0, eid_1, -prob))
        cap = len(order)
    else:
        pe, pp = prev_scores
        if len(pe):
            loc = np.minimum(np.searchsorted(pe, eid_0), len(pe) - 1)
            ps = np.where(pe[loc] == eid_0, pp[loc], 1.0) * prob
        else:
            ps = 1.0 * np.asarray(prob)
        if len(ps) == 0 or not np.isfinite(np.nanmax(ps)):
            thred = -np.inf
        else:
            thred = np.nanmax(ps) * cfg.prune_trim_factor
        keep = np.flatnonzero(prob >= thred)
        order = keep[np.lexsort((eid_0[keep], eid_1[keep], -prob[keep]))]
        cap = cfg.beam_cap

    # first occurrence per eid_1 within order[:cap], in pop order — the
    # array form of the loop-with-seen-set (np.unique's return_index is
    # the first occurrence because the mergesort tie-break is positional)
    head = order[:cap]
    if len(head) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    _, first = np.unique(eid_1[head], return_index=True)
    first.sort()
    win = head[first]
    return eid_1[win], eid_0[win], prob[win]


def viterbi_beam(cands: pd.DataFrame, gt: pd.DataFrame, cfg: MatchConfig = MatchConfig()):
    """Forward beam pass + back-pointer reconstruction
    (viterbi.py:107-154, 71-95). ``gt`` must already be scored
    (trans_prob, observ_prob columns). Returns (end_prob, rList DataFrame
    with columns pid, eid)."""
    c_pid = cands.pid.to_numpy()
    c_eid = cands.eid.to_numpy()
    layer_ids = np.unique(c_pid)
    m0 = c_pid == 0
    d0 = cands.dist_p2c.to_numpy()[m0]
    e0_ = c_eid[m0]
    o0 = cands.observ_prob.to_numpy()[m0]
    ordr = np.lexsort((e0_, d0))  # deterministic insertion order (dist, eid)

    # per-layer state as arrays instead of dicts (the dict build + per-edge
    # .get() calls were ~half the decode cost at 25-pair layers):
    #   ins_e1/ins_p — winners in pop (insertion) order, for the walk's
    #                  first-max tie-break;  bp — back-pointer eid_0s;
    #   srt_e1/srt_p — eid-sorted copies for O(log n) lookups.
    # layer-0 candidates are unique per eid already (one row per (pid,eid))
    ins_e1 = [e0_[ordr].astype(np.int64)]
    ins_p = [o0[ordr].astype(np.float64)]
    back_ptr = [None]
    srt = np.argsort(ins_e1[0], kind="stable")
    srt_e1 = [ins_e1[0][srt]]
    srt_p = [ins_p[0][srt]]

    # one numpy materialization, sliced per layer (pandas per-layer ops are
    # the profile hotspot at millions of trajectories)
    if len(gt):
        order = np.argsort(gt.pid_0.to_numpy(), kind="stable")
        g_pid0 = gt.pid_0.to_numpy()[order]
        g_e0 = gt.eid_0.to_numpy()[order]
        g_e1 = gt.eid_1.to_numpy()[order]
        g_tp = (gt.trans_prob.to_numpy(dtype=np.float64)
                * gt.observ_prob.to_numpy(dtype=np.float64))[order]
    else:
        g_pid0 = np.array([], dtype=np.int64)
        g_e0 = g_e1 = g_pid0
        g_tp = np.array([], dtype=np.float64)

    empty_i = np.empty(0, np.int64)
    empty_f = np.empty(0, np.float64)
    for idx, lvl in enumerate(layer_ids[:-1]):
        lo = np.searchsorted(g_pid0, lvl, side="left")
        hi = np.searchsorted(g_pid0, lvl, side="right")
        if lo == hi:
            ins_e1.append(empty_i); ins_p.append(empty_f)
            back_ptr.append(empty_i)
            srt_e1.append(empty_i); srt_p.append(empty_f)
            continue
        e0 = g_e0[lo:hi]
        pe, pp = srt_e1[-1], srt_p[-1]
        loc = np.minimum(np.searchsorted(pe, e0), max(len(pe) - 1, 0))
        cand = pp[loc] if len(pe) else np.full(hi - lo, np.nan)
        # a NaN-prob winner counts as MISSING here (the dict form surfaced
        # it as NaN through .get and the ~isnan mask dropped it)
        ok = (pe[loc] == e0) & ~np.isnan(cand) if len(pe) \
            else np.zeros(hi - lo, dtype=bool)
        if not ok.any():
            # HMM break: restart with prev prob = 1 over the full layer
            # (viterbi.py:122-126)
            sel = slice(None)
            prev = np.ones(hi - lo, dtype=np.float64)
        else:
            sel = ok
            prev = cand[ok]

        prob = prev * g_tp[lo:hi][sel]
        win_e1, win_e0, win_p = _prune(
            g_pid0[lo:hi][sel], g_e0[lo:hi][sel], g_e1[lo:hi][sel],
            prob, idx, (srt_e1[-1], srt_p[-1]), cfg)

        ins_e1.append(win_e1.astype(np.int64))
        ins_p.append(win_p.astype(np.float64))
        back_ptr.append(win_e0.astype(np.int64))
        srt = np.argsort(win_e1, kind="stable")
        srt_e1.append(win_e1[srt].astype(np.int64))
        srt_p.append(win_p[srt].astype(np.float64))

    # ------------------------------------------------------------------ walk
    epath, state, end_probs = [], None, []
    for idx in range(len(ins_e1) - 1, 0, -1):
        le1, lp_, lbp = ins_e1[idx], ins_p[idx], back_ptr[idx]
        if state is None:
            if len(le1) == 0:
                continue
            # max(f, key=f.get) on the insertion-order dict: Python's max
            # keeps the FIRST maximum and never replaces the incumbent on
            # a NaN comparison — so a NaN in slot 0 wins outright, and
            # NaNs elsewhere never win
            if np.isnan(lp_[0]):
                k = 0
            else:
                k = int(np.argmax(np.where(np.isnan(lp_), -np.inf, lp_)))
            state = int(le1[k])
            end_probs.append(float(lp_[k]))
        cur = (idx, state)
        hitpos = np.flatnonzero(le1 == state)
        if len(hitpos) == 0:
            state = None
            continue
        prev = (idx - 1, int(lbp[hitpos[0]]))
        if not epath or cur != epath[-1]:
            epath.append(cur)
        epath.append(prev)
        state = prev[1]
    epath = epath[::-1]

    import pandas as pd
    if not end_probs:
        return 0.0, pd.DataFrame({"pid": [], "eid": []})

    end_prob = float(sum(end_probs) / len(end_probs))
    rlist = pd.DataFrame({"pid": [int(layer_ids[i]) for i, _ in epath],
                          "eid": [int(e) for _, e in epath]})
    return end_prob, rlist


def viterbi_classic(cands: pd.DataFrame, gt: pd.DataFrame,
                    cfg: MatchConfig = MatchConfig()):
    """Classic full-lattice Viterbi — the reference's beam_search=False
    branch (matching.py:187-188 -> viterbi.py:200-268): additive
    accumulation (decode's default mode='+') of dist_prob * emit over ALL
    candidate states, no pruning, no beam cap, no HMM-break restart.

    Reference-fidelity notes (deliberate, shared with the oracle):
    * the reference's classic branch is bit-rotted — prepare_viterbi_input
      reads a `'f'` column (viterbi.py:258) that `graph[['pid_1',
      'dist_prob']]` (matching.py:188) does not carry, so it raises
      KeyError as shipped. We implement the evident intent: the
      transition weight is dist_prob (the classic branch never uses the
      direction term).
    * ties: max((value, prev_state)) — larger prev eid wins (viterbi.py:
      237), and the final state is the larger eid on value ties
      (viterbi.py:244).
    * start layer: the first layer WITH candidates (the reference hard-
      codes pid==0, viterbi.py:251, and would emit an empty lattice when
      simplification leaves layer 0 candidate-less).
    * an HMM break (a layer no transition reaches) crashes the reference
      (max over empty, viterbi.py:244); we return an empty rlist ->
      STATUS_FAILED, consistent with the beam path's degrade rule.

    Returns (end_prob, rlist) with rlist covering every candidate layer.
    """
    import pandas as pd
    c_pid = cands.pid.to_numpy()
    c_eid = cands.eid.to_numpy()
    layer_ids = np.unique(c_pid)
    obs = cands.observ_prob.to_numpy()
    emit = {(int(p), int(e)): float(o) for p, e, o in zip(c_pid, c_eid, obs)}

    m0 = c_pid == layer_ids[0]
    v = {int(e): float(o) for e, o in zip(c_eid[m0], obs[m0])}
    path = {e: [(int(layer_ids[0]), e)] for e in v}

    if len(gt):
        # canonical (layer, e1, e0) order + NaN-compares-as--inf makes the
        # winner independent of upstream row order (NaN dist_prob arises
        # from coincident points; the reference's max() over NaN tuples is
        # order-dependent — we pin a deterministic rule instead)
        order = np.lexsort((gt.eid_0.to_numpy(), gt.eid_1.to_numpy(),
                            gt.pid_0.to_numpy()))
        g_pid0 = gt.pid_0.to_numpy()[order]
        g_e0 = gt.eid_0.to_numpy()[order]
        g_e1 = gt.eid_1.to_numpy()[order]
        g_dp = gt.dist_prob.to_numpy(dtype=np.float64)[order]
    else:
        g_pid0 = np.array([], dtype=np.int64)
        g_e0 = g_e1 = g_pid0
        g_dp = np.array([], dtype=np.float64)

    def _cmp(x: float) -> float:
        return float("-inf") if np.isnan(x) else x

    for t in range(1, len(layer_ids)):
        lvl = layer_ids[t - 1]
        pid_t = int(layer_ids[t])
        lo = np.searchsorted(g_pid0, lvl, side="left")
        hi = np.searchsorted(g_pid0, lvl, side="right")
        new_v: dict[int, float] = {}
        new_path: dict[int, list] = {}
        best_prev: dict[int, int] = {}
        for e0, e1, dp in zip(g_e0[lo:hi], g_e1[lo:hi], g_dp[lo:hi]):
            e0, e1 = int(e0), int(e1)
            prev = v.get(e0)
            if prev is None:
                continue
            val = prev + dp * emit[(pid_t, e1)]
            cur = new_v.get(e1)
            if cur is None or (_cmp(val), e0) > (_cmp(cur), best_prev[e1]):
                new_v[e1] = val
                best_prev[e1] = e0
        for e1, e0 in best_prev.items():
            new_path[e1] = path[e0] + [(pid_t, e1)]
        v, path = new_v, new_path
        if not v:
            return 0.0, pd.DataFrame({"pid": [], "eid": []})

    end_state = max(v, key=lambda st: (_cmp(v[st]), st))
    end_prob = float(v[end_state])
    rlist = pd.DataFrame({"pid": [p for p, _ in path[end_state]],
                          "eid": [e for _, e in path[end_state]]})
    return end_prob, rlist


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


def viterbi_beam_lockstep(pl_gid, pair_off, pair_cnt, e0, e1, tp, s0, s1,
                          l0_s, l0_p, n_slots, n_steps,
                          cfg: MatchConfig = MatchConfig()):
    """Beam Viterbi over MANY trajectories in lockstep: the batch twin of
    viterbi_beam, decision for decision the same
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

    # ---- step-major pair rows, built once: pair layer q (group-major) is
    # step t_of[q] of its group; a stable sort on t keeps each step's
    # groups ascending. k below numbers the pair layers step-major.
    g_lo = np.cumsum(n_steps) - n_steps
    t_of = np.arange(len(pl_gid)) - np.repeat(g_lo, n_steps)
    ord_kt = np.argsort(t_of, kind="stable")
    t_k = t_of[ord_kt]
    cnt = pair_cnt[ord_kt]
    k_lo = np.cumsum(cnt) - cnt
    rows = np.repeat(pair_off[ord_kt] - k_lo, cnt) + np.arange(int(cnt.sum()))
    E0, E1 = e0[rows].astype(np.int64), e1[rows].astype(np.int64)
    TP, S0, S1 = tp[rows], s0[rows], s1[rows]
    K = np.repeat(np.arange(len(cnt)), cnt)          # each row's k
    step_k = np.searchsorted(t_k, np.arange(maxT + 1))
    step_r = np.append(k_lo, len(rows))[step_k]
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

    ep_sum = np.zeros(ng)
    c = np.where(n_steps > 0, rs_q[np.maximum(g_lo + n_steps - 1, 0)], -1)
    act = np.flatnonzero(c >= 0)
    c, f = c[act], np.ones(len(act), dtype=bool)
    vis = []  # (group, winner, reached by a restart) per link followed
    while len(act):
        vis.append((act, c, f))
        n, f = nxt[c], jump[c]
        on = n >= 0
        act, c, f = act[on], n[on], f[on]
    vg, vj, vf = (np.concatenate(a) for a in zip(*vis)) if vis \
        else (np.empty(0, np.int64), np.empty(0, np.int64),
              np.empty(0, dtype=bool))
    # the restarts' probs summed in walk order, as viterbi_beam does
    np.add.at(ep_sum, vg[vf], WP[vj[vf]])
    ep_cnt = np.bincount(vg[vf], minlength=ng)
    # one record (group, idx, cur, prev) per winner walked: the step's
    # layer index + 1, the winner's eid and its back pointer's
    rg, ri, rc, rp = vg, t_k[Wk[vj]] + 1, E1[W[vj]], E0[W[vj]]

    # ------------------------------------------------ flat epath assembly
    # viterbi_beam's walk, for all groups at once: records group-major,
    # idx descending; a record appends (idx, cur) unless that is the item
    # the group's previous record appended last, then (idx - 1, prev);
    # the group's items, reversed, are its epath
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
    end_prob = np.zeros(ng)
    np.divide(ep_sum, ep_cnt, out=end_prob, where=ep_cnt > 0)
    return w_off, it_i[o], it_e[o], end_prob


class _ACol:
    """Array-backed stand-in for a pandas column (the decode only calls
    .to_numpy())."""
    __slots__ = ("a",)

    def __init__(self, a):
        self.a = a

    def to_numpy(self, dtype=None, copy=False):
        if dtype is None:
            return self.a
        return self.a.astype(dtype, copy=copy)


class ColFrame:
    """Minimal DataFrame stand-in over a dict of aligned numpy arrays.

    decode_sequence / viterbi_* only read columns by attribute, call
    .to_numpy() and len() — the classic decode of _decode_stitch feeds
    them zero-copy slices of batch-level arrays through this shim instead
    of constructing a fresh pandas frame per trajectory (measured ~2.3 ms
    of pure BlockManager work per group). pandas inputs keep working:
    these functions use the exact attribute surface this class provides."""
    __slots__ = ("_d",)

    def __init__(self, d: dict):
        self._d = d

    def __getattr__(self, k):
        try:
            return _ACol(self._d[k])
        except KeyError:
            raise AttributeError(k)

    def __len__(self):
        d = self._d
        return len(next(iter(d.values()))) if d else 0


def decode_sequence(cands: pd.DataFrame, gt: pd.DataFrame,
                    cfg: MatchConfig = MatchConfig()):
    """Dispatch on cfg.beam_search (matching.py:185-188)."""
    if cfg.beam_search:
        return viterbi_beam(cands, gt, cfg)
    return viterbi_classic(cands, gt, cfg)


# ---------------------------------------------------------------------------
# path stitch
# ---------------------------------------------------------------------------

def stitch_path(rlist: pd.DataFrame, gt: pd.DataFrame, cands: pd.DataFrame,
                end_prob: float, cfg: MatchConfig = MatchConfig(),
                dir_trans: bool = True,
                collect_steps: bool = False) -> dict:
    """Assemble one trajectory's matched path + metrics
    (postprocess.py:13-97): the per-url reference of stitch_batch, which
    the engine runs.

    ``gt`` carries an ``epath`` column (each pair's sp path), or, with
    ``collect_steps=True`` (the planet-scale variant), (o_node, d_node,
    flag): instead of paths it returns ``steps`` = [(o_node, d_node, need_path, eid), ...]
    plus ``last_eid`` and leaves status=STATUS_UNKNOWN; a downstream
    relational stage joins the sp table, assembles + consecutive-dedups the
    epath and finalizes status (operators.matching.attach_epath_relational).
    All scalar metrics are computed here either way — they never depend on
    the expanded path contents."""
    res = {"status": STATUS_UNKNOWN, "epath": None, "step_0": np.nan, "step_n": np.nan,
           "dist": np.nan, "avg_speed": np.nan, "prob": end_prob,
           "norm_prob": np.nan, "dist_prob": np.nan, "trans_prob": np.nan,
           "dir_prob": np.nan}
    if rlist.empty:
        res["status"] = STATUS_FAILED
        return res

    r_pid = rlist.pid.to_numpy()
    r_eid = rlist.eid.to_numpy()
    # first/last cut params: two masked lookups instead of a dict over the
    # whole candidate slice ((pid, eid) is unique per candidate row)
    c_pid = cands.pid.to_numpy()
    c_eid = cands.eid.to_numpy()
    c_l0 = cands.len0.to_numpy()
    c_l1 = cands.len1.to_numpy()

    def _cut(p, e):
        i = np.flatnonzero((c_pid == p) & (c_eid == e))
        if not len(i):
            raise KeyError((p, e))      # same failure class as the dict
        return float(c_l0[i[0]]), float(c_l1[i[0]])

    f_l0, f_l1 = _cut(int(r_pid[0]), int(r_eid[0]))
    l_l0, l_l1 = _cut(int(r_pid[-1]), int(r_eid[-1]))
    res["step_0"] = f_l0 / (f_l0 + f_l1)
    res["step_n"] = l_l0 / (l_l0 + l_l1)

    if len(rlist) == 1:
        res["epath"] = [int(r_eid[0])]
        res["status"] = STATUS_FAILED if end_prob < cfg.prob_thres else STATUS_SAME_LINK
        return res

    # winning-step row lookup: one composite-key binary search over the
    # (pid_0, eid_0, eid_1) triples (the per-group dict build over every
    # transition pair was the measured stitch hot spot; triples are
    # unique, so first == the dict's last)
    uniq, code, corder = key_index(gt.pid_0.to_numpy(), gt.eid_0.to_numpy(),
                                   gt.eid_1.to_numpy())
    kp = r_pid[:-1].astype(np.int64)
    ka = r_eid[:-1].astype(np.int64)
    kb = r_eid[1:].astype(np.int64)
    pos, hit = key_find(uniq, code, kp, ka, kb)
    if not hit.all():
        # only reachable via the empty-lattice guard in viterbi_beam;
        # the reference raises here, we degrade to FAILED
        res["status"] = STATUS_FAILED
        return res
    rows = corder[pos]
    g_dsht, g_speed, g_distp, g_transp = (
        getattr(gt, c).to_numpy(dtype=np.float64)[rows]
        for c in ("d_sht", "avg_speed", "dist_prob", "trans_prob"))
    if collect_steps:
        g_o, g_d, g_flag = (getattr(gt, c).to_numpy()[rows]
                            for c in ("o_node", "d_node", "flag"))
        need = g_flag != FLAG_SAME_SRC_FIRST
        res["steps"] = [(int(o), int(d), bool(n), int(a))
                        for o, d, n, a in zip(g_o, g_d, need, ka)]
        res["last_eid"] = int(r_eid[-1])
        _stitch_metrics(res, g_dsht, g_speed, g_distp, g_transp, end_prob,
                        len(rows), dir_trans)
        return res  # status stays STATUS_UNKNOWN: finalized relationally
    g_ep = gt.epath.to_numpy(dtype=object)[rows]

    eids = []
    for a, ep in zip(ka.tolist(), g_ep):
        eids.append(a)
        if ep is not None and not (isinstance(ep, float) and np.isnan(ep)) and len(ep) > 0:
            eids.extend(int(e) for e in ep)
    eids.append(int(r_eid[-1]))
    dedup = [eids[0]] + [e for i, e in enumerate(eids[1:]) if e != eids[i]]
    res["epath"] = dedup

    if len(dedup) == 1:
        res["status"] = STATUS_FAILED if end_prob < cfg.prob_thres else STATUS_SAME_LINK
        return res

    _stitch_metrics(res, g_dsht, g_speed, g_distp, g_transp, end_prob,
                    len(rows), dir_trans)
    res["status"] = STATUS_FAILED if res["trans_prob"] < cfg.prob_thres else STATUS_SUCCESS
    return res


def _stitch_metrics(res: dict, g_dsht, g_speed, g_distp, g_transp,
                    end_prob: float, n_steps: int, dir_trans: bool) -> None:
    """dist / avg_speed / geometric-mean probabilities over the chosen steps
    (postprocess.py:60-85) — independent of the expanded path contents."""
    res["dist"] = float(g_dsht.sum())
    with np.errstate(invalid="ignore"):
        res["avg_speed"] = float(np.average(g_speed, weights=g_dsht)) \
            if g_dsht.sum() > 0 else float("nan")

    coef = 1.0 / n_steps
    dist_prob = float(np.prod(g_distp))
    trans_prob = float(np.prod(g_transp))
    res["norm_prob"] = float(np.power(end_prob, coef))
    res["dist_prob"] = float(np.power(dist_prob, coef))
    res["trans_prob"] = float(np.power(trans_prob, coef))
    if dir_trans:
        res["dir_prob"] = res["trans_prob"] / res["dist_prob"] if res["dist_prob"] else float("nan")


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
    """stitch_path for many trajectories at once, result for result the
    same (tests/test_stitch_batch.py pins it url by url).

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
