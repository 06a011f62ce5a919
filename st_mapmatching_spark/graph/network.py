"""Road-network container shared by the oracle (in-process) and the engine
(broadcast to executors + relational cell index / sp table).

Models the matcher's edge slice `['eid','src','dst','way_id','dir','dist',
'speed','geometry']` (/root/reference/mapmatching/matching.py:50-52) with
geometry as plain coordinate arrays instead of shapely objects, plus the
derived structures the Spark plan needs: the cell->eid inverted index
(replacing gdf.sindex) and the Dijkstra adjacency.
"""

from __future__ import annotations

import math

import numpy as np

from ..config import MatchConfig
from ..kernels.cells import encode_cell, polyline_cover_cells
from ..kernels.geodesy import seq_lengths
from ..kernels.projection import project_coords
from .dijkstra import build_adjacency


class Network:
    """edges: DataFrame(eid,src,dst,way_id,dir,speed,geom) with geom as a
    list of [lon,lat] pairs; nodes: DataFrame(nid,x,y) in lon/lat."""

    def __init__(self, edges: pd.DataFrame, nodes: pd.DataFrame, cfg: MatchConfig,
                 geom_metric: bool = False):
        """geom_metric=True means `geom` is already in the pinned metric
        plane (skips the lon/lat roundtrip, which costs ~1e-10 m and can
        flip exact radius-boundary candidates)."""
        self.cfg = cfg
        self.nodes = nodes.reset_index(drop=True)
        edges = edges.reset_index(drop=True)

        if geom_metric:
            geom_xy = [np.asarray(g, dtype=np.float64) for g in edges["geom"]]
        else:
            geom_xy = [project_coords(np.asarray(g, dtype=np.float64), cfg.lon0, cfg.lat0)
                       for g in edges["geom"]]
        # metric length recomputed in the pinned projection, mirroring the
        # reference's projected-length recompute (geograph.py:302-310)
        dist = np.array([seq_lengths(g)[1] for g in geom_xy])
        self.edges = edges.assign(dist=dist)
        self.edges["geom_xy"] = geom_xy

        self.adj = build_adjacency(self.edges)
        self.edge_coords = {int(e): g for e, g in zip(self.edges.eid, geom_xy)}
        self.edge_speed = dict(zip(self.edges.eid.astype(int), self.edges.speed.astype(float)))
        self.edge_dist = dict(zip(self.edges.eid.astype(int), self.edges.dist.astype(float)))
        self.edge_src = dict(zip(self.edges.eid.astype(int), self.edges.src.astype(int)))
        self.edge_dst = dict(zip(self.edges.eid.astype(int), self.edges.dst.astype(int)))

        if geom_xy:
            xs = np.concatenate([g[:, 0] for g in geom_xy])
            ys = np.concatenate([g[:, 1] for g in geom_xy])
            self.bbox_xy = (float(xs.min()), float(ys.min()),
                            float(xs.max()), float(ys.max()))
        else:
            # a network with no edges: an empty (inverted) bbox
            self.bbox_xy = (math.inf, math.inf, -math.inf, -math.inf)

    def with_reverse_ways(self, way_ids) -> tuple["Network", list[int]]:
        """New Network with reverse twins added for the given way_ids (the
        reference's net.add_reverse_way used by the topology self-repair
        loop, update_network.py:24-33). Edges whose (dst, src) twin
        already exists are skipped. Returns (network, new_eids); the
        original network is untouched (the reference's memo clear,
        geograph.py:223, is moot — the sp table is demand-driven per run)."""
        wset = {int(w) for w in way_ids}
        e = self.edges
        have = set(zip(e.src.astype(int), e.dst.astype(int)))
        next_eid = int(e.eid.max()) + 1
        add, new_eids = [], []
        for r in e[e.way_id.isin(wset)].itertuples():
            if (int(r.dst), int(r.src)) in have:
                continue
            have.add((int(r.dst), int(r.src)))
            add.append((next_eid, int(r.dst), int(r.src), int(r.way_id),
                        -int(r.dir), float(r.speed),
                        np.asarray(r.geom_xy, dtype=np.float64)[::-1].copy()))
            new_eids.append(next_eid)
            next_eid += 1
        if not add:
            return self, []
        import pandas as pd
        base = e[["eid", "src", "dst", "way_id", "dir", "speed"]].copy()
        base["geom"] = list(e.geom_xy)
        new = pd.DataFrame(add, columns=["eid", "src", "dst", "way_id",
                                         "dir", "speed", "geom"])
        merged = pd.concat([base, new], ignore_index=True)
        return Network(merged, self.nodes, self.cfg, geom_metric=True), new_eids

    def broadcast(self, spark, kind: str, builder):
        """Memoized `sc.broadcast` of a network-derived payload, keyed by
        (SparkContext, kind). Network state is immutable per instance, so
        re-pickling + re-shipping the same geometry/stats/adjacency on
        EVERY match call and EVERY stage is pure waste — on a 489k-edge
        network the per-stage broadcast build was the dominant fixed cost
        of the staged path (~45 s per call before this). Workers also
        cache the value by broadcast id, so reuse skips their unpickle."""
        if not hasattr(self, "_bc_cache"):
            self._bc_cache = {}
        # applicationId, not id(sc): a stopped context's id() can be
        # reused by CPython, which would hand back a broadcast belonging
        # to the dead context (task failures at use time) — r6 ADVICE
        key = (spark.sparkContext.applicationId, kind)
        bc = self._bc_cache.get(key)
        if bc is None:
            bc = spark.sparkContext.broadcast(builder())
            self._bc_cache[key] = bc
        return bc

    def node_xy_arrays(self):
        """(nids_sorted, xy) node coordinates taken from EDGE geometry
        endpoints (not the nodes table) so they are bitwise-identical to
        the vertices the literal path concatenation uses — the dir_prob
        joint segments depend on exact equality for zero-length joints."""
        if not hasattr(self, "_node_xy"):
            m: dict = {}
            for e, g in self.edge_coords.items():
                m.setdefault(self.edge_src[int(e)], g[0])
                m.setdefault(self.edge_dst[int(e)], g[-1])
            nids = np.array(sorted(m), dtype=np.int64)
            xy = np.array([m[int(i)] for i in nids], dtype=np.float64)
            self._node_xy = (nids, xy)
        return self._node_xy

    def attr_arrays(self):
        """(src, dst, dist, speed) numpy arrays aligned with the sorted-eid
        order of padded_geoms() — per-candidate attributes are gathered
        from this broadcast instead of riding through joins."""
        if not hasattr(self, "_attr_arrays"):
            eids = np.array(sorted(self.edge_coords), dtype=np.int64)
            self._attr_arrays = (
                np.array([self.edge_src[int(e)] for e in eids], dtype=np.int64),
                np.array([self.edge_dst[int(e)] for e in eids], dtype=np.int64),
                np.array([self.edge_dist[int(e)] for e in eids]),
                np.array([self.edge_speed[int(e)] for e in eids]),
            )
        return self._attr_arrays

    def padded_geoms(self):
        """(sorted eid array, (N, K, 2) padded geometry matrix) for
        broadcast: the refine stage gathers per-row polylines by eid with
        one numpy indexing op instead of shipping nested geometry through
        the join. K is the max vertex count; for networks with a few very
        long polylines, split edges at build time to bound K."""
        if not hasattr(self, "_padded"):
            from ..kernels.linear_ref import pad_polylines
            eids = np.array(sorted(self.edge_coords), dtype=np.int64)
            mat, _ = pad_polylines([self.edge_coords[int(e)] for e in eids])
            self._padded = (eids, mat)
        return self._padded

    def search_state(self):
        """(adjacency, edge speed, edge dist, edge dir totals): the state
        one bounded Dijkstra (shortest_paths_to_targets) searches on. The
        sp table broadcasts it; a DemandSpPayload holds it."""
        return (self.adj, self.edge_speed, self.edge_dist,
                self.dir_stats().edge_totals())

    def dir_stats(self):
        """Lazily-built per-edge direction sufficient stats
        (kernels.dir_stats.EdgeDirStats)."""
        if not hasattr(self, "_dir_stats"):
            from ..kernels.dir_stats import EdgeDirStats
            self._dir_stats = EdgeDirStats(self.edge_coords)
        return self._dir_stats

    # -- derived relational structures ------------------------------------
    def cell_index(self, pad: float = 0.0) -> pd.DataFrame:
        """(cell, eid) inverted index: every grid cell an edge's geometry
        (conservatively) touches, optionally DILATED by ``pad`` meters.
        The engine broadcasts this and equi-joins point cells against it —
        the Catalyst-friendly stand-in for sindex.query_bulk
        (/root/reference/mapmatching/geo/query.py:92-97).

        With pad = search radius, a point's OWN cell alone finds every
        edge within the radius (dist(p, e) <= r means p lies in a segment
        bbox dilated by r, so p's cell intersects that padded box): the
        point side needs no cover explode and each (point, edge) pair is
        generated exactly once — the duplication moves into this (small,
        broadcast) edge index instead of the (huge) point stream.

        Fully vectorized over all edges' segments and memoized per pad
        (a per-edge Python loop took ~21 s on a 489k-edge planet-bench
        network and ran on EVERY match call via network_frames)."""
        if not hasattr(self, "_cell_index_cache"):
            self._cell_index_cache = {}
        key = (float(pad), float(self.cfg.cell_size))
        if key in self._cell_index_cache:
            return self._cell_index_cache[key]

        import pandas as pd
        cs = self.cfg.cell_size
        coords = list(self.edge_coords.values())
        eid_arr = np.fromiter(self.edge_coords.keys(), np.int64, len(coords))
        cnts = np.fromiter((len(c) for c in coords), np.int64, len(coords))
        if len(coords) == 0 or (cnts < 2).any():
            # degenerate geometries: per-edge reference path
            cells, eids = [], []
            for eid, g in self.edge_coords.items():
                cv = polyline_cover_cells(g, cs, pad=pad)
                cells.append(cv)
                eids.append(np.full(len(cv), eid, dtype=np.int64))
            out = pd.DataFrame({"cell": np.concatenate(cells),
                                "eid": np.concatenate(eids)})
            self._cell_index_cache[key] = out
            return out

        allc = np.concatenate(coords)
        voff = np.concatenate([[0], np.cumsum(cnts)])
        keep = np.ones(len(allc) - 1, dtype=bool)
        keep[voff[1:-1] - 1] = False
        a = allc[:-1][keep]
        b = allc[1:][keep]
        seg_eid = np.repeat(eid_arr, cnts - 1)

        # padded per-segment bbox -> inclusive cell ranges
        ix0 = np.floor((np.minimum(a[:, 0], b[:, 0]) - pad) / cs).astype(np.int64)
        ix1 = np.floor((np.maximum(a[:, 0], b[:, 0]) + pad) / cs).astype(np.int64)
        iy0 = np.floor((np.minimum(a[:, 1], b[:, 1]) - pad) / cs).astype(np.int64)
        iy1 = np.floor((np.maximum(a[:, 1], b[:, 1]) + pad) / cs).astype(np.int64)
        ny = iy1 - iy0 + 1
        counts = (ix1 - ix0 + 1) * ny
        coff = np.concatenate([[0], np.cumsum(counts)])
        sid = np.repeat(np.arange(len(counts)), counts)
        k = np.arange(coff[-1]) - coff[:-1][sid]
        cells = encode_cell(ix0[sid] + k // ny[sid], iy0[sid] + k % ny[sid])
        eids = seg_eid[sid]

        # dedupe (eid, cell): multi-segment polylines cover-overlap; the
        # join relies on each (point, edge) pair being generated once
        order = np.lexsort((cells, eids))
        e_s, c_s = eids[order], cells[order]
        m = np.ones(len(e_s), dtype=bool)
        m[1:] = (e_s[1:] != e_s[:-1]) | (c_s[1:] != c_s[:-1])
        out = pd.DataFrame({"cell": c_s[m], "eid": e_s[m]})
        self._cell_index_cache[key] = out
        return out

    def edge_attrs(self) -> pd.DataFrame:
        """Scalar columns the candidate join needs. Geometry deliberately
        excluded — it reaches executors via the padded_geoms broadcast, so
        nested arrays never ride through joins or Arrow."""
        return self.edges[["eid", "src", "dst", "way_id", "dir", "dist", "speed"]].copy()

    def vpath_from_epath(self, epath) -> list[int] | None:
        """edge-id path -> node-id path
        (/root/reference/mapmatching/graph/base.py:190-193)."""
        if epath is None or len(epath) == 0:
            return None
        out = [self.edge_src[int(e)] for e in epath]
        out.append(self.edge_dst[int(epath[-1])])
        return out
