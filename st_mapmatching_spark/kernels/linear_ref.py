"""Vectorized linear referencing: project points onto polylines.

Semantics re-derived from
/root/reference/mapmatching/geo/ops/linear_referencing.py
(closest_point_on_segments :35-65, lines_to_matrix :119-129,
linear_referencing_vector :158-212, cut_lines :68-85). The matrix-padded
batch formulation is the reference's own key vectorization trick and maps
1:1 onto Arrow record batches.
"""

from __future__ import annotations

import numpy as np

_EPS = 1e-9


def pad_polylines(lines) -> tuple[np.ndarray, np.ndarray]:
    """Pad a ragged list of (k_i, 2) polylines to one (n, K, 2) matrix.

    Padding repeats the final vertex so padded segments have zero length
    and can never win the arg-min (their distance equals the distance to
    the real last vertex, which a real segment already achieves).
    """
    n = len(lines)
    k = max(len(l) for l in lines)
    mat = np.empty((n, k, 2), dtype=np.float64)
    for i, line in enumerate(lines):
        m = len(line)
        mat[i, :m] = line
        mat[i, m:] = line[m - 1]
    return mat, k


def project_core(points: np.ndarray, mat: np.ndarray) -> dict:
    """Vectorized point-onto-padded-polyline projection.

    points: (n, 2); mat: (n, K, 2) polylines padded by repeating the final
    vertex (padded segments are zero-length and can never win the arg-min:
    the real segment that achieves the same distance comes first).
    Returns proj, dist, len0, len1, seg_idx, ratio arrays.
    """
    a = mat[:, :-1, :]
    b = mat[:, 1:, :]
    ab = b - a
    d2 = (ab ** 2).sum(axis=-1)
    seg_len = np.sqrt(d2)
    d2_safe = np.where(d2 == 0, _EPS, d2)

    ap = points[:, None, :] - a
    t = (ab * ap).sum(axis=-1) / d2_safe
    t = np.clip(t, 0.0, 1.0)

    proj_all = a + ab * t[..., None]
    dist_all = np.linalg.norm(points[:, None, :] - proj_all, axis=-1)

    n = len(points)
    seg_idx = np.argmin(dist_all, axis=1)
    rows = np.arange(n)
    proj = proj_all[rows, seg_idx]
    ratio = t[rows, seg_idx]
    dist = dist_all[rows, seg_idx]

    csum = np.concatenate([np.zeros((n, 1)), np.cumsum(seg_len, axis=1)], axis=1)
    len0 = csum[rows, seg_idx] + seg_len[rows, seg_idx] * ratio
    len1 = csum[:, -1] - len0
    return {"proj": proj, "dist": dist, "len0": len0, "len1": len1,
            "seg_idx": seg_idx, "ratio": ratio}


def project_points_onto_polylines(points: np.ndarray, lines, cut: bool = True) -> dict:
    """For each (point, polyline) pair compute the closest point on the line.

    Args:
        points: (n, 2) array, one query point per polyline.
        lines:  length-n ragged list of (k_i, 2) arrays (metric coords).

    Returns dict of length-n arrays/lists:
        proj    (n, 2)   closest point
        dist    (n,)     point-to-curve distance (``dist_p2c``)
        len0    (n,)     arc length from line start to proj
        len1    (n,)     arc length from proj to line end
        seg_idx (n,)     index of the winning segment
        ratio   (n,)     clamped projection parameter on that segment
        seg0    list     coords start->proj  (None iff proj == line start)
        seg1    list     coords proj->end    (None iff proj == line end)
    """
    points = np.asarray(points, dtype=np.float64)
    n = len(lines)
    mat, k = pad_polylines(lines)
    out = project_core(points, mat)
    proj, ratio, seg_idx = out["proj"], out["ratio"], out["seg_idx"]
    if cut:
        seg0, seg1 = [], []
        for i in range(n):
            s0, s1 = cut_polyline(seg_idx[i], proj[i], ratio[i],
                                  np.asarray(lines[i], dtype=np.float64))
            seg0.append(s0)
            seg1.append(s1)
        out["seg0"] = seg0
        out["seg1"] = seg1
    return out


def cut_polyline(idx: int, proj: np.ndarray, ratio: float, coords: np.ndarray):
    """Split ``coords`` at (segment ``idx``, param ``ratio``) into
    (start->proj, proj->end). Boundary conventions follow the reference
    (linear_referencing.py:68-85): a cut at the very first vertex yields
    (None, coords); at the very last vertex (coords, None); a cut exactly
    on an interior vertex keeps that vertex on both sides without
    inserting a duplicate.
    """
    last_seg = coords.shape[0] - 2
    if idx == 0 and ratio == 0.0:
        return None, coords
    if idx == last_seg and ratio == 1.0:
        return coords, None
    if ratio == 0.0:
        return coords[: idx + 1], coords[idx:]
    if ratio == 1.0:
        return coords[: idx + 2], coords[idx + 1:]
    return (np.concatenate([coords[: idx + 1], proj[None, :]]),
            np.concatenate([proj[None, :], coords[idx + 1:]]))
