"""Sufficient-statistics form of the direction probability.

The dir_prob kernel (azimuth.py:175-208 in the reference, reimplemented in
kernels.geodesy.polyline_bearing_cos_dist) is a length-weighted mean of
per-segment normalized cos-similarities against a heading m:

    sim_i = (cos(b_i - m) + 1) / 2
    dir   = sum(w_i * sim_i) / sum(w_i)
          = ((cos m * CX + sin m * CY) / 2 + W / 2) / W

with CX = sum(w_i cos b_i), CY = sum(w_i sin b_i), W = sum(w_i) — heading-
independent statistics that are ADDITIVE over geometry parts (step_0 |
shortest path | step_n). Per-edge prefix sums of these stats let the
engine score millions of transition pairs with pure numpy gathers instead
of per-row polyline stitching. The oracle keeps the literal concatenation
path; the parity suite pins both to within 1e-9.

Part-concatenation bookkeeping: joints between consecutive present parts
are zero-length segments (shared vertex) contributing only to the segment
count n (they matter for the reference's unweighted fallback when the
total length is zero). The one *real* joint is step_0->step_n when the
shortest path is absent (same-node or unreachable transitions).
"""

from __future__ import annotations

import numpy as np

from .geodesy import bearing_deg


class EdgeDirStats:
    """Flat per-segment stat arrays over all edges, gatherable by
    (eid, seg_idx) without Python loops."""

    def __init__(self, edge_coords: dict):
        """Fully vectorized over ALL edges (a per-edge Python loop took
        ~42 s on a 489k-edge planet-bench network; this takes <1 s).
        Bitwise-identical to the per-edge formulation: elementwise ops
        (hypot/bearing/cos/sin/products) are order-independent, and the
        per-edge prefix sums are built with a masked K-step accumulation
        that reproduces np.cumsum's sequential addition order exactly —
        the oracle-parity pins (1e-9) stay untouched."""
        eids = np.array(sorted(edge_coords), dtype=np.int64)
        self.eid_index = {int(e): i for i, e in enumerate(eids)}
        n_edges = len(eids)

        coords = [np.asarray(edge_coords[int(e)], dtype=np.float64)
                  for e in eids]
        cnts = np.fromiter((len(c) for c in coords), np.int64, n_edges) \
            if n_edges else np.zeros(0, dtype=np.int64)
        if n_edges == 0 or (cnts < 2).any():
            # degenerate geometries: keep the simple per-edge path
            self._init_per_edge(eids, coords)
            return
        seg_counts = cnts - 1
        allc = np.concatenate(coords)
        voff = np.concatenate([[0], np.cumsum(cnts)])
        self.first_v = allc[voff[:-1]].copy()
        self.last_v = allc[voff[1:] - 1].copy()

        # flat segments: consecutive vertex pairs, dropping the rows that
        # cross an edge boundary
        keep = np.ones(len(allc) - 1, dtype=bool)
        keep[voff[1:-1] - 1] = False
        a = allc[:-1][keep]
        c1 = allc[1:][keep]
        d = c1 - a
        ln = np.hypot(d[:, 0], d[:, 1])
        b = np.radians(bearing_deg(a[:, 0], a[:, 1], c1[:, 0], c1[:, 1]))
        b = np.atleast_1d(b)

        self.nseg = seg_counts
        self.L = ln
        self.cosb = np.cos(b)
        self.sinb = np.sin(b)
        # per-edge offsets into the flat seg arrays and into prefix arrays
        self.off = np.concatenate([[0], np.cumsum(seg_counts)])[:-1]
        self.p_off = np.concatenate([[0], np.cumsum(seg_counts + 1)])[:-1]

        # prefix sums with a leading 0 per edge: P[e][i] = stats of segs < i.
        # K-step masked accumulation == per-edge sequential cumsum, bitwise.
        wx = ln * self.cosb
        wy = ln * self.sinb
        total = int(seg_counts.sum()) + n_edges
        pw = np.zeros(total)
        pcx = np.zeros(total)
        pcy = np.zeros(total)
        accw = np.zeros(n_edges)
        accx = np.zeros(n_edges)
        accy = np.zeros(n_edges)
        kmax = int(seg_counts.max()) if n_edges else 0
        for k in range(kmax):
            m = seg_counts > k
            fi = self.off[m] + k
            accw[m] = accw[m] + ln[fi]
            accx[m] = accx[m] + wx[fi]
            accy[m] = accy[m] + wy[fi]
            po = self.p_off[m] + 1 + k
            pw[po] = accw[m]
            pcx[po] = accx[m]
            pcy[po] = accy[m]
        self.pw = pw
        self.pcx = pcx
        self.pcy = pcy

    def _init_per_edge(self, eids, coords):
        """Reference per-edge construction (kept for degenerate/empty
        geometry sets; the vectorized path above is bitwise-equal)."""
        n_edges = len(eids)
        seg_counts = np.empty(n_edges, dtype=np.int64)
        L, cb, sb = [], [], []
        fv = np.empty((n_edges, 2))
        lv = np.empty((n_edges, 2))
        for i, c in enumerate(coords):
            d = c[1:] - c[:-1]
            ln = np.hypot(d[:, 0], d[:, 1])
            b = np.radians(bearing_deg(c[:-1, 0], c[:-1, 1], c[1:, 0], c[1:, 1]))
            b = np.atleast_1d(b)
            seg_counts[i] = len(ln)
            L.append(ln)
            cb.append(np.cos(b))
            sb.append(np.sin(b))
            fv[i] = c[0]
            lv[i] = c[-1]
        self.nseg = seg_counts
        self.first_v = fv
        self.last_v = lv
        self.L = np.concatenate(L) if L else np.zeros(0)
        self.cosb = np.concatenate(cb) if cb else np.zeros(0)
        self.sinb = np.concatenate(sb) if sb else np.zeros(0)
        self.off = np.concatenate([[0], np.cumsum(seg_counts)])[:-1]
        pw, pcx, pcy = [], [], []
        for i in range(n_edges):
            s, e_ = self.off[i], self.off[i] + seg_counts[i]
            w = self.L[s:e_]
            pw.append(np.concatenate([[0.0], np.cumsum(w)]))
            pcx.append(np.concatenate([[0.0], np.cumsum(w * self.cosb[s:e_])]))
            pcy.append(np.concatenate([[0.0], np.cumsum(w * self.sinb[s:e_])]))
        self.p_off = np.concatenate([[0], np.cumsum(seg_counts + 1)])[:-1]
        self.pw = np.concatenate(pw) if pw else np.zeros(0)
        self.pcx = np.concatenate(pcx) if pcx else np.zeros(0)
        self.pcy = np.concatenate(pcy) if pcy else np.zeros(0)

    # ------------------------------------------------------------------
    def edge_totals(self) -> dict:
        """eid -> (tcx, tcy, tw, n) for path-stat accumulation in the
        shortest-path job. Vectorized gather + one dict build (memoized:
        the dict is rebuilt identically on every shortest_path_table
        broadcast otherwise)."""
        if not hasattr(self, "_edge_totals"):
            p = self.p_off + self.nseg
            cx, cy, w = self.pcx[p], self.pcy[p], self.pw[p]
            self._edge_totals = {
                e: (float(cx[i]), float(cy[i]), float(w[i]), int(self.nseg[i]))
                for e, i in self.eid_index.items()}
        return self._edge_totals

    def dense(self, eid: np.ndarray) -> np.ndarray:
        """The dense edge index of ``eid``: its position in the sorted
        edge ids, the row of the per-edge arrays every method below
        gathers from (Network.padded_geoms uses the same order)."""
        # eid_index is position-in-sorted-order, so the dense index is a
        # binary search (a per-row dict-lookup listcomp here was 12% of
        # a one-pass kernel profile)
        if not hasattr(self, "_eids_sorted"):
            self._eids_sorted = np.array(sorted(self.eid_index), dtype=np.int64)
        return np.searchsorted(self._eids_sorted, np.asarray(eid, dtype=np.int64))

    def head_cut_stats(self, di, seg_idx, ratio):
        """Stats of the polyline head cut seg0 (start -> projection) of the
        edges at dense index ``di``, with cut_polyline's boundary
        conventions. Returns (cx, cy, w, n, present)."""
        idx = np.asarray(seg_idx, dtype=np.int64)
        r = np.asarray(ratio, dtype=np.float64)
        nseg = self.nseg[di]
        last = nseg - 1

        none0 = (idx == 0) & (r == 0.0)
        full = (idx == last) & (r == 1.0)

        # prefix index: r==0 -> idx; r==1 -> idx+1; else idx (+ partial)
        pi = np.where(r == 1.0, idx + 1, idx)
        pi = np.where(full, nseg, pi)
        p = self.p_off[di] + pi
        cx, cy, w = self.pcx[p].copy(), self.pcy[p].copy(), self.pw[p].copy()
        n = np.where(r == 0.0, idx, idx + 1)
        n = np.where(full, nseg, n)

        partial = (r > 0.0) & (r < 1.0)
        s = self.off[di] + np.minimum(idx, nseg - 1)
        add = np.where(partial, r * self.L[s], 0.0)
        cx += add * self.cosb[s]
        cy += add * self.sinb[s]
        w += add
        return cx, cy, w, n.astype(np.int64), ~none0

    def tail_cut_stats(self, di, seg_idx, ratio):
        """Stats of the tail cut seg1 (projection -> end) of the edges at
        dense index ``di``."""
        idx = np.asarray(seg_idx, dtype=np.int64)
        r = np.asarray(ratio, dtype=np.float64)
        nseg = self.nseg[di]
        last = nseg - 1

        none1 = (idx == last) & (r == 1.0)
        # totals
        pt = self.p_off[di] + nseg
        tcx, tcy, tw = self.pcx[pt], self.pcy[pt], self.pw[pt]
        # subtract prefix: r==0 -> P[idx]; else P[idx+1] (+ partial back)
        pi = np.where(r == 0.0, idx, idx + 1)
        p = self.p_off[di] + pi
        cx = tcx - self.pcx[p]
        cy = tcy - self.pcy[p]
        w = tw - self.pw[p]
        n = np.where(r == 0.0, nseg - idx,
                     np.where(r == 1.0, nseg - idx - 1, nseg - idx))

        partial = (r > 0.0) & (r < 1.0)
        s = self.off[di] + np.minimum(idx, nseg - 1)
        add = np.where(partial, (1.0 - r) * self.L[s], 0.0)
        cx = cx + add * self.cosb[s]
        cy = cy + add * self.sinb[s]
        w = w + add
        return cx, cy, w, n.astype(np.int64), ~none1

    def vertex(self, di, first: bool) -> np.ndarray:
        return (self.first_v if first else self.last_v)[di]


def engine_dir_probs(stats: "EdgeDirStats", di0, i0, r0, di1, i1, r1,
                     approx, flag1, has_path, pcx, pcy, pw, pn_path,
                     move_dir, o_xy, d_xy) -> np.ndarray:
    """The engine's full dir_prob computation from sufficient stats —
    shared by the relational Arrow scorer and the one-pass kernel
    (single source of truth for the part/joint bookkeeping). The pair's
    edges come as dense indices (EdgeDirStats.dense) ``di0``/``di1``.

    Joints between consecutive present parts are real segments in the
    reference's literal concatenation: normally zero-length (the parts
    share a vertex), but the approx-point substitution makes step_n start
    at edge_0's FIRST vertex, far from the path's end — those connecting
    segments carry real length and bearing and must enter the stats.
    ``o_xy``/``d_xy`` are the path's endpoint coordinates (the coords of
    o_node/d_node)."""
    from .geodesy import bearing_deg

    din = np.where(approx, di0, di1)
    i_n = np.where(approx, i0, i1)
    rn = np.where(approx, r0, r1)

    cx0, cy0, w0, n0, p0 = stats.tail_cut_stats(di0, i0, r0)
    cxn, cyn, wn, nn, pn_ = stats.head_cut_stats(din, i_n, rn)

    step0_end = stats.vertex(di0, first=False)
    stepn_start = stats.vertex(din, first=True)
    rows = len(din)

    def joint(frm, to, active):
        # (cx, cy, w) of the segment frm -> to on the active rows of
        # non-zero length, 0 elsewhere: a joint is mostly zero-length or
        # inactive, so its bearing is taken only where it counts
        cx, cy, w = np.zeros(rows), np.zeros(rows), np.zeros(rows)
        a = np.flatnonzero(active)
        ln = np.hypot(to[a, 0] - frm[a, 0], to[a, 1] - frm[a, 1])
        a, ln = a[ln > 0.0], ln[ln > 0.0]
        b = np.radians(bearing_deg(frm[a, 0], frm[a, 1], to[a, 0], to[a, 1]))
        cx[a], cy[a], w[a] = ln * np.cos(b), ln * np.sin(b), ln
        return cx, cy, w

    # joint step_0 -> step_n when the path is absent; joints step_0 ->
    # path start and path end -> step_n when it is present
    j0 = joint(step0_end, stepn_start, p0 & pn_ & (~has_path) & (~flag1))
    j1 = joint(step0_end, o_xy, p0 & has_path & (~flag1))
    j2 = joint(d_xy, stepn_start, pn_ & has_path & (~flag1))

    parts = p0.astype(np.int64) + pn_.astype(np.int64) + has_path.astype(np.int64)
    n_joints = np.maximum(parts - 1, 0)
    cx = (np.where(p0, cx0, 0.0) + np.where(has_path, pcx, 0.0)
          + np.where(pn_, cxn, 0.0) + j0[0] + j1[0] + j2[0])
    cy = (np.where(p0, cy0, 0.0) + np.where(has_path, pcy, 0.0)
          + np.where(pn_, cyn, 0.0) + j0[1] + j1[1] + j2[1])
    w = (np.where(p0, w0, 0.0) + np.where(has_path, pw, 0.0)
         + np.where(pn_, wn, 0.0) + j0[2] + j1[2] + j2[2])
    n = (np.where(p0, n0, 0) + np.where(has_path, pn_path, 0)
         + np.where(pn_, nn, 0) + n_joints)

    # flag-1: geometry is step_n alone, and only when step_0 exists
    # (the reference's get_shared_line behavior, match/misc.py:42-52)
    cx = np.where(flag1, cxn, cx)
    cy = np.where(flag1, cyn, cy)
    w = np.where(flag1, wn, w)
    n = np.where(flag1, nn, n)
    present = np.where(flag1, p0 & pn_, parts > 0)
    return dir_prob_from_stats(move_dir, cx, cy, w, n, present)


def dir_prob_from_stats(move_dir_deg: np.ndarray, cx, cy, w, n, present) -> np.ndarray:
    """Closed-form dir_prob; nan when no geometry, unweighted fallback
    (all-zero-length segments all have bearing 0) when total length is 0."""
    m = np.radians(np.asarray(move_dir_deg, dtype=np.float64))
    with np.errstate(divide="ignore", invalid="ignore"):
        val = ((np.cos(m) * cx + np.sin(m) * cy) / 2.0 + w / 2.0) / np.where(w == 0, 1.0, w)
    fallback = (np.cos(m) + 1.0) / 2.0
    val = np.where((w == 0) & (n > 0), fallback, val)
    return np.where(present & (n > 0), val, np.nan)
