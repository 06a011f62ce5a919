"""Post-match path materialization (SURVEY.md §2.9 tail).

* matched_path_geometry — the DataFrame form of the reference's
  transform_mathching_res_2_path (/root/reference/mapmatching/match/
  postprocess.py:99-123): epath -> one row per path edge with attributes,
  the first/last edge geometry cut by the fractional offsets step_0/step_n
  (shapely.ops.substring normalized=True semantics, re-implemented as a
  numpy length-fraction interpolation), and dist scaled accordingly.
* resample_trajectory — the standalone resample op (/root/reference/
  mapmatching/geo/ops/resample.py:9-45) as a per-url Arrow stage.
* match_details — the distributed `details=True`: the scored transition
  graph per url (/root/reference/mapmatching/matching.py:108-124 exports
  `gt`), as a plain DataFrame instead of a nested dict.

Scale notes: matched_path_geometry is one shuffle-free mapInPandas over
the matched table with the (bounded) network geometry broadcast; output
rows ~= sum(len(epath)). The nested coords column is materialization
payload (user-facing), not an internal shuffle column.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import MatchConfig
from ..graph.network import Network
from ..kernels import metrics as M

PATH_GEOM_SCHEMA = ("url string, seq int, eid long, way_id long, dir int, "
                    "speed double, dist double, x0 double, y0 double, "
                    "x1 double, y1 double, coords array<array<double>>")


def substring_frac(coords: np.ndarray, f0: float, f1: float) -> np.ndarray:
    """Length-normalized substring of a polyline — shapely.ops.substring
    (normalized=True) semantics for 0 <= f0 <= f1 <= 1, as pure numpy."""
    coords = np.asarray(coords, dtype=np.float64)
    seg = np.linalg.norm(coords[1:] - coords[:-1], axis=1)
    total = seg.sum()
    if total == 0:
        return coords
    s = np.concatenate([[0.0], np.cumsum(seg)])
    lo, hi = f0 * total, f1 * total
    xs = np.interp([lo, hi], s, coords[:, 0])
    ys = np.interp([lo, hi], s, coords[:, 1])
    mid = coords[(s > lo) & (s < hi)]
    return np.concatenate([[[xs[0], ys[0]]], mid, [[xs[1], ys[1]]]])


def matched_path_geometry(matched: DataFrame, net: Network,
                          successful_only: bool = True) -> DataFrame:
    """matched (url, status, epath, step_0, step_n, ...) -> one row per
    path edge with the first/last-edge fractional cuts applied
    (postprocess.py:99-123). The network geometry rides as a broadcast;
    the stage is shuffle-free."""
    spark = matched.sparkSession
    e = net.edges
    attrs = {int(r.eid): (int(r.way_id), int(r.dir), float(r.speed), float(r.dist))
             for r in e[["eid", "way_id", "dir", "speed", "dist"]].itertuples()}
    bc = spark.sparkContext.broadcast((net.edge_coords, attrs))

    src = matched.select("url", "status", "epath", "step_0", "step_n")
    if successful_only:
        src = src.filter(F.col("epath").isNotNull())

    def op(batches):
        geoms, attr = bc.value
        for pdf in batches:
            out = {k: [] for k in ("url", "seq", "eid", "way_id", "dir",
                                   "speed", "dist", "x0", "y0", "x1", "y1",
                                   "coords")}
            for r in pdf.itertuples():
                if r.epath is None or len(r.epath) == 0:
                    continue
                ep = [int(x) for x in r.epath]
                s0 = 0.0 if r.step_0 is None or not np.isfinite(r.step_0) else float(r.step_0)
                sn = 1.0 if r.step_n is None or not np.isfinite(r.step_n) else float(r.step_n)
                n = len(ep)
                for i, eid in enumerate(ep):
                    coords = np.asarray(geoms[eid], dtype=np.float64)
                    way_id, d, speed, dist = attr[eid]
                    if n == 1:
                        # single-edge (SAME_LINK) matches can project with
                        # step_0 > step_n; shapely.ops.substring returns the
                        # reversed substring there — cut (sn, s0) and reverse
                        if s0 > sn:
                            coords = substring_frac(coords, sn, s0)[::-1]
                        else:
                            coords = substring_frac(coords, s0, sn)
                        dist *= abs(sn - s0)
                    elif i == 0:
                        coords = substring_frac(coords, s0, 1.0)
                        dist *= 1.0 - s0
                    elif i == n - 1:
                        coords = substring_frac(coords, 0.0, sn)
                        dist *= sn
                    out["url"].append(r.url)
                    out["seq"].append(i)
                    out["eid"].append(eid)
                    out["way_id"].append(way_id)
                    out["dir"].append(d)
                    out["speed"].append(speed)
                    out["dist"].append(dist)
                    out["x0"].append(coords[0, 0])
                    out["y0"].append(coords[0, 1])
                    out["x1"].append(coords[-1, 0])
                    out["y1"].append(coords[-1, 1])
                    out["coords"].append(coords.tolist())
            yield pd.DataFrame(out)

    return src.mapInPandas(op, schema=PATH_GEOM_SCHEMA)


def resample_trajectory(points: DataFrame, step: float = 5.0) -> DataFrame:
    """(url, pid, x, y) -> evenly resampled (url, seq, x, y) per url —
    the standalone resample op (geo/ops/resample.py:9-45)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pid")
        xy = pdf[["x", "y"]].to_numpy(dtype=np.float64)
        out = M.resample_polyline(xy, step)
        return pd.DataFrame({"url": pdf.url.iloc[0], "seq": np.arange(len(out)),
                             "x": out[:, 0], "y": out[:, 1]})

    return (points.select("url", "pid", "x", "y")
            .groupBy("url")
            .applyInPandas(fn, schema="url string, seq long, x double, y double"))


def match_details(spark: SparkSession, pages: DataFrame, net: Network,
                  cfg: MatchConfig = MatchConfig()) -> DataFrame:
    """The distributed `details=True` (matching.py:108-124): the scored
    per-url transition graph as a DataFrame — every candidate pair with
    flag, observation/dist/dir/transition probabilities and sp endpoints.
    Runs the relational pipeline (same kernels as the one-pass plan)."""
    from .candidates import candidate_join, extract_simplify, network_frames
    from .matching import build_pairs_df, score_pairs_df
    from .shortest_paths import shortest_path_table

    points = extract_simplify(pages, cfg)
    cell_index, edge_attrs = network_frames(spark, net, cfg)
    cands = candidate_join(points, cell_index, edge_attrs, cfg, net=net)
    pairs = build_pairs_df(cands, points, cfg)
    sp = shortest_path_table(spark, pairs.select("o_node", "d_node"), net, cfg)
    broadcast_sp = True  # details is a debugging surface; caller can persist
    return score_pairs_df(spark, pairs, sp, net, cfg, broadcast_sp=broadcast_sp)
