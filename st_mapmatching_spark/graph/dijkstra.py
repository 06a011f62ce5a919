"""Bounded Dijkstra shortest paths.

Replaces the reference's memoized per-query A*
(/root/reference/mapmatching/graph/astar.py:60-132 with the memo at
:70-72,113,119). The memo is the single-machine version of a shortest-path
table; at Spark scale we precompute exactly the (origin, target) pairs the
candidate-pair table demands, distributing origins across partitions.

Semantics: optimal cost for every pair with cost <= max_dist; targets
beyond the bound (or unreachable) get cost=inf and an empty path, which the
HMM turns into trans_prob ~ 0 — same observable behavior as the reference's
status-2 search result (astar.py:111-114). The reference's additional
``max_steps`` heap-pop cap is a performance guard we do not replicate (it
can only *lose* valid paths the Dijkstra bound finds).
"""

from __future__ import annotations

import heapq
import math

import numpy as np


def build_adjacency(edges) -> dict:
    """adjacency: src -> list[(dst, cost, eid)] from an edges DataFrame with
    columns src, dst, dist, eid. (src, dst) pairs are assumed unique, which
    the network builder guarantees — mirroring the reference's multi-edge
    dedup at /root/reference/mapmatching/osmnet/parse_osm_xml.py:296-352."""
    adj: dict = {}
    for src, dst, dist, eid in zip(edges["src"].to_numpy(), edges["dst"].to_numpy(),
                                   edges["dist"].to_numpy(), edges["eid"].to_numpy()):
        adj.setdefault(int(src), []).append((int(dst), float(dist), int(eid)))
    return adj


def bounded_dijkstra(adj: dict, origin: int, max_dist: float,
                     targets: set | None = None):
    """Single-source Dijkstra bounded by ``max_dist``.

    Returns (cost: dict node->cost, prev: dict node->(prev_node, eid)).
    Stops early once every requested target is settled.
    """
    cost = {origin: 0.0}
    prev: dict = {origin: None}
    settled = set()
    remaining = set(targets) if targets else None
    if remaining is not None:
        remaining.discard(origin)
    heap = [(0.0, origin)]
    while heap:
        c, u = heapq.heappop(heap)
        if u in settled:
            continue
        settled.add(u)
        if remaining is not None:
            remaining.discard(u)
            if not remaining:
                break
        for v, w, eid in adj.get(u, ()):
            nc = c + w
            if nc > max_dist:
                continue
            if v not in cost or nc < cost[v]:
                cost[v] = nc
                prev[v] = (u, eid)
                heapq.heappush(heap, (nc, v))
    return cost, prev, settled


def _epath(prev: dict, node: int) -> list[int]:
    path = []
    while prev.get(node) is not None:
        u, eid = prev[node]
        path.append(eid)
        node = u
    return path[::-1]


def path_columns(adj: dict, origin: int, targets, max_dist: float,
                 edge_speed: dict | None = None,
                 edge_dist: dict | None = None,
                 edge_dir_totals: dict | None = None,
                 cols: dict | None = None) -> dict:
    """Shortest paths from one origin to many targets, appended column by
    column: one entry per target to each of ``cols``' lists "cost",
    "path_speed", "pcx", "pcy", "pw", "pn" and "ep_len" (the path's
    length), the path's eids to ``cols["ep_flat"]``. Returns ``cols``
    (new lists when None). shortest_paths_to_targets gives the same
    values as one dict per target.

    Each target mirrors the reference search result (the reference's
    mapmatching/graph/geograph.py:50-70): cost (inf
    beyond ``max_dist`` or unreachable, 0 for the origin itself), the
    edge path (empty for those three), path_speed (dist-weighted mean
    edge speed along the path; 0.0 when the path is empty/degenerate).
    With ``edge_dir_totals`` (eid -> (cx, cy, w, n), see
    kernels.dir_stats) the path's additive direction statistics pcx,
    pcy, pw, pn too, so the scoring stage stays fully vectorized."""
    if cols is None:
        cols = {c: [] for c in ("cost", "path_speed", "pcx", "pcy", "pw",
                                "pn", "ep_len", "ep_flat")}
    targets = [int(t) for t in targets]
    cost, prev, settled = bounded_dijkstra(adj, int(origin), max_dist, set(targets))
    for t in targets:
        c, ep, speed, dirs = math.inf, [], 0.0, (0.0, 0.0, 0.0, 0)
        if t == origin:
            c = 0.0
        elif t in settled and t in cost:
            ep = _epath(prev, t)
            c = float(cost[t])
        if edge_speed is not None and ep:
            # sequential sums: numpy's pairwise summation can differ in
            # the LAST ULP from this loop for paths >8 edges, a
            # difference confined to the 1e-9 parity pins (r6 ADVICE:
            # the old "bitwise" claim here was wrong for long paths) —
            # building two np.arrays per row dominated the sp stage at
            # 192k rows, which is why the loop form stays
            wsum = 0.0
            swsum = 0.0
            for e in ep:
                w = edge_dist[e]
                wsum += w
                swsum += edge_speed[e] * w
            speed = swsum / wsum if wsum > 0 else 0.0
        if edge_dir_totals is not None and ep:
            cx = cy = w_ = 0.0
            n = 0
            for e in ep:
                tcx, tcy, tw, tn = edge_dir_totals[e]
                cx += tcx; cy += tcy; w_ += tw; n += tn
            dirs = (cx, cy, w_, n)
        for k, v in zip(("cost", "path_speed", "pcx", "pcy", "pw", "pn",
                         "ep_len"), (c, speed, *dirs, len(ep))):
            cols[k].append(v)
        cols["ep_flat"].extend(ep)
    return cols


def shortest_paths_to_targets(adj: dict, origin: int, targets, max_dist: float,
                              edge_speed: dict | None = None,
                              edge_dist: dict | None = None,
                              edge_dir_totals: dict | None = None) -> list[dict]:
    """path_columns' targets as one row per target (the relational sp
    table's rows): o_node, d_node, cost, epath (list[int], None when
    empty), path_speed, pcx, pcy, pw, pn."""
    targets = [int(t) for t in targets]
    cols = path_columns(adj, origin, targets, max_dist, edge_speed,
                        edge_dist, edge_dir_totals)
    ends = np.cumsum(cols["ep_len"], dtype=np.int64)
    return [{"o_node": origin, "d_node": t, "cost": cols["cost"][i],
             "epath": cols["ep_flat"][e - n:e] or None,
             **{k: cols[k][i] for k in ("path_speed", "pcx", "pcy", "pw",
                                        "pn")}}
            for i, (t, n, e) in enumerate(zip(targets, cols["ep_len"],
                                              ends.tolist()))]


def build_adjacency_reverse(edges) -> dict:
    """Reverse adjacency: dst -> list[(src, cost, eid)] — the reference's
    graph_r (/root/reference/mapmatching/graph/geograph.py builds both)."""
    adj: dict = {}
    for src, dst, dist, eid in zip(edges["src"].to_numpy(), edges["dst"].to_numpy(),
                                   edges["dist"].to_numpy(), edges["eid"].to_numpy()):
        adj.setdefault(int(dst), []).append((int(src), float(dist), int(eid)))
    return adj


def bidirectional_dijkstra(adj: dict, adj_r: dict, src: int, dst: int,
                           max_dist: float) -> dict:
    """Bi-directional shortest path (the reference's experimental
    Bi_Astar, /root/reference/mapmatching/graph/bi_astar.py:8-219:
    forward frontier over graph, backward over graph_r, smaller frontier
    expanded first). Deliberate divergence, documented: the reference
    stops at the FIRST meeting node, which for A* frontiers is not
    guaranteed optimal; this implementation uses the standard optimal
    termination (stop when top_f + top_b >= best known meeting cost), so
    costs always equal the single-direction Dijkstra's — pinned in
    tests/test_graph_build.py.

    Returns {"status": 0|2, "cost": float, "epath": list[int] | None}.
    """
    import heapq
    import math

    if src == dst:
        return {"status": 0, "cost": 0.0, "epath": None}

    dist_f = {src: 0.0}
    dist_b = {dst: 0.0}
    prev_f: dict = {src: None}
    prev_b: dict = {dst: None}
    done_f: set = set()
    done_b: set = set()
    qf = [(0.0, src)]
    qb = [(0.0, dst)]
    best = math.inf
    meet = None

    def expand(q, dist_mine, dist_other, prev_mine, done_mine, graph):
        nonlocal best, meet
        c, u = heapq.heappop(q)
        if u in done_mine:
            return
        done_mine.add(u)
        for v, w, eid in graph.get(u, ()):
            nc = c + w
            if nc > max_dist:
                continue
            if v not in dist_mine or nc < dist_mine[v]:
                dist_mine[v] = nc
                prev_mine[v] = (u, eid)
                heapq.heappush(q, (nc, v))
            if v in dist_other and dist_mine[v] + dist_other[v] < best:
                best = dist_mine[v] + dist_other[v]
                meet = v

    while qf and qb:
        if qf[0][0] + qb[0][0] >= best:
            break
        if len(qf) < len(qb):
            expand(qf, dist_f, dist_b, prev_f, done_f, adj)
        else:
            expand(qb, dist_b, dist_f, prev_b, done_b, adj_r)

    if meet is None or best > max_dist:
        return {"status": 2, "cost": math.inf, "epath": None}

    fwd = []
    node = meet
    while prev_f.get(node) is not None:
        u, eid = prev_f[node]
        fwd.append(eid)
        node = u
    fwd.reverse()
    node = meet
    while prev_b.get(node) is not None:
        u, eid = prev_b[node]
        fwd.append(eid)
        node = u
    return {"status": 0, "cost": float(best), "epath": fwd or None}
