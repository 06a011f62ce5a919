"""Per-trajectory ST-Matching reference over pandas frames: transition
pairs, flags, scoring, the beam and classic Viterbi decodes and the path
stitch. The oracle (oracle/matcher.py) runs it; the tests pin the
engine's batched kernels (kernels/hmm.py, whose divergences from the
reference it shares) to it. Semantics re-derived from the reference
implementation's mapmatching package:

* pair construction + flags:  match/candidatesGraph.py:58-166
* dist/temporal/trans probs:  match/spatialAnalysis.py:10-151
* dir prob:                   match/dir_similarity.py:6-15, geo/azimuth.py:175-208
* beam Viterbi + pruning:     match/viterbi.py:17-154
* classic Viterbi:            match/viterbi.py:200-268
* path stitch + status:       match/postprocess.py:13-97
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..config import MatchConfig
from ..kernels.geodesy import bearing_deg, polyline_bearing_cos_dist
from ..kernels.hmm import (FLAG_NORMAL, FLAG_SAME_SRC_FIRST, FLAG_SAME_SRC_LAST,
                           STATUS_FAILED, STATUS_SAME_LINK, STATUS_SUCCESS,
                           STATUS_UNKNOWN, path_coords_from_epath, score_base_np)
from ..kernels.keys import key_find, key_index


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
# Viterbi decodes
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
        # the max over the non-NaN probs: np.nanmax warns on an all-NaN
        # layer; no such prob (or an inf max) keeps every row
        ps = ps[ps == ps]
        top = ps.max() if len(ps) else np.nan
        thred = top * cfg.prune_trim_factor if np.isfinite(top) else -np.inf
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
