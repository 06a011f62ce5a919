"""Single-trajectory pure-pandas reference matcher (the t2 oracle).

Runs the exact pipeline of ST_Matching.matching
(/root/reference/mapmatching/matching.py:72-192) — simplify -> candidate
retrieval -> validity gate -> transition graph -> scoring -> beam Viterbi ->
path stitch — entirely in-process, on oracle/hmm_ref.py's references and
the engine's geometry kernels. Candidate retrieval here is brute force
(every point against every edge) so it is index-free ground truth for the
engine's cell-cover join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..config import MatchConfig
from ..graph.dijkstra import shortest_paths_to_targets
from ..graph.network import Network
from ..kernels import hmm
from ..kernels.linear_ref import project_points_onto_polylines
from ..kernels.projection import project_coords
from ..kernels.simplify import simplify_points
from . import hmm_ref


def build_candidates(points_xy: np.ndarray, net: Network, cfg: MatchConfig) -> pd.DataFrame:
    """Brute-force kNN/radius candidates for an (n,2) metric point array.
    Output columns match the engine's candidate stage. Ties in the top-k
    cut are broken by (dist_p2c, eid) — the explicit version of the
    reference's stable sort (/root/reference/mapmatching/geo/query.py:177-180)."""
    n = len(points_xy)
    edges = net.edges
    m = len(edges)
    rep_points = np.repeat(points_xy, m, axis=0)
    rep_lines = list(edges["geom_xy"]) * n
    proj = project_points_onto_polylines(rep_points, rep_lines)

    df = pd.DataFrame({
        "pid": np.repeat(np.arange(n), m),
        "eid": np.tile(edges.eid.to_numpy(), n),
        "src": np.tile(edges.src.to_numpy(), n),
        "dst": np.tile(edges.dst.to_numpy(), n),
        "dist": np.tile(edges.dist.to_numpy(), n),
        "speed": np.tile(edges.speed.to_numpy(), n),
        "dist_p2c": proj["dist"],
        "len0": proj["len0"],
        "len1": proj["len1"],
    })
    df["proj"] = list(proj["proj"])
    df["seg0"] = proj["seg0"]
    df["seg1"] = proj["seg1"]

    df = df[df.dist_p2c <= cfg.radius]
    if df.empty:
        return df
    df = (df.sort_values(["pid", "dist_p2c", "eid"])
            .groupby("pid").head(cfg.top_k).reset_index(drop=True))

    dens = hmm.gaussian_emission(df.dist_p2c.to_numpy(), cfg.gps_sigma, cfg.gps_bias)
    df["observ_prob"] = hmm.observ_prob_from_density(dens, dens.max())
    return df


def attach_shortest_paths(pairs: pd.DataFrame, net: Network, cfg: MatchConfig) -> pd.DataFrame:
    """Demand-driven sp attach: group distinct (o_node, d_node) by origin,
    run one bounded Dijkstra per origin (the reference's search memo,
    astar.py:70-72, turned into a pure join)."""
    if pairs.empty:
        for c in ("cost", "path_speed"):
            pairs[c] = np.array([], dtype=np.float64)
        pairs["epath"] = []
        return pairs
    demands = pairs[["o_node", "d_node"]].drop_duplicates()
    rows = []
    for o, grp in demands.groupby("o_node"):
        rows.extend(shortest_paths_to_targets(
            net.adj, int(o), grp.d_node.tolist(), cfg.max_dist,
            net.edge_speed, net.edge_dist))
    sp = pd.DataFrame(rows)
    out = pairs.merge(sp, on=["o_node", "d_node"], how="left")
    return out


def match_trajectory(points_lonlat: np.ndarray, net: Network,
                     cfg: MatchConfig = MatchConfig()) -> dict:
    """Match one trajectory; returns the result dict of §1.2 (SURVEY.md)
    plus 'cands'/'pairs'/'rlist' debug frames."""
    res = {"status": hmm.STATUS_UNKNOWN, "epath": None, "step_0": np.nan,
           "step_n": np.nan, "dist": np.nan, "avg_speed": np.nan,
           "prob": np.nan, "norm_prob": np.nan, "dist_prob": np.nan,
           "trans_prob": np.nan, "dir_prob": np.nan}

    points_lonlat = np.asarray(points_lonlat, dtype=np.float64).reshape(-1, 2)
    if len(points_lonlat) == 0:
        res["status"] = hmm.STATUS_NO_CANDIDATES
        return res

    pts = project_coords(points_lonlat, cfg.lon0, cfg.lat0)
    if cfg.simplify and len(pts) > 1:
        keep = simplify_points(pts, cfg.tolerance)
        pts = pts[keep]

    cands = build_candidates(pts, net, cfg)
    if cands.empty:
        res["status"] = hmm.STATUS_NO_CANDIDATES
        return res

    if len(pts) == 1 or cands.pid.nunique() == 1:
        best = cands.sort_values(["dist_p2c", "eid"]).iloc[0]
        res["status"] = hmm.STATUS_ONE_POINT
        res["epath"] = [int(best.eid)]
        return res

    layer_points = pd.DataFrame({
        "pid": sorted(cands.pid.unique()),
    })
    layer_points["x"] = pts[layer_points.pid.to_numpy(), 0]
    layer_points["y"] = pts[layer_points.pid.to_numpy(), 1]

    pairs = hmm_ref.build_transition_pairs(cands, layer_points)
    pairs = hmm_ref.identify_flags(pairs, cfg.flag_dist_eps, cfg.flag_ratio_eps)
    pairs = attach_shortest_paths(pairs, net, cfg)
    pairs = hmm_ref.finalize_scores(pairs, net.edge_coords, cfg.dir_trans, cfg)

    end_prob, rlist = hmm_ref.decode_sequence(cands, pairs, cfg)
    out = hmm_ref.stitch_path(rlist, pairs, cands, end_prob, cfg, cfg.dir_trans)
    res.update(out)
    res["cands"] = cands
    res["pairs"] = pairs
    res["rlist"] = rlist
    res["vpath"] = net.vpath_from_epath(res["epath"]) if res["epath"] else None
    return res
