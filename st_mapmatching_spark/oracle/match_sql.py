"""DuckDB SQL twins of the FLAGSHIP match gates (match_grid /
match_grid_classic): the full text-render -> %.7f quantization -> extract ->
Douglas-Peucker -> candidate kNN -> transition scoring -> Viterbi decode
(beam viterbi.py:107-154 / classic viterbi.py:200-268 in the reference) ->
path stitch (postprocess.py:13-97) pipeline expressed as one DuckDB
statement over the events table.

Independence: the SQL re-derives every stage from the shared closed-form
constants (sources.derived) and the reference-documented semantics — it
shares NO code with kernels/hmm.py or hmm_ref.py. Engine/oracle agreement
is therefore a genuine cross-implementation check of the HMM semantics (the
gap the round-3 verdict flagged: pytest parity alone was self-referential).

Float-parity design notes (all verified bitwise at sf0.001 and sf0.01):
* Literals are emitted in E-notation (`fl`) — DuckDB parses short plain
  decimals as DECIMAL, losing the exact double.
* %.7f quantization: DuckDB printf (C, half-even) == Java format_string
  (HALF_UP) except on exact decimal ties, which require ~25 trailing zero
  bits in the double — probability ~1e-8 per coordinate.
* Projection/flag/distance math mirrors the kernels' IEEE op ORDER exactly
  (e.g. `250.0 * clamp((abx*apx + aby*apy) / d2)`), so candidate sets,
  ranks, flags and d_sht are bitwise equal.
* dir_prob uses the engine's sufficient-stats closed form
  (kernels/dir_stats.py engine_dir_probs) with per-edge cos/sin totals
  inlined as numpy-computed literals; only move-direction trig and the
  rare diagonal approx-joints go through DuckDB libm (<=1 ulp, absorbed by
  the 6-dp gate rounding).
* exp() differs from numpy by <=1 ulp on ~5% of emissions — observed to
  never flip a decode decision on the fixtures (margins are orders of
  magnitude larger).
* Shortest paths: Dijkstra on the uniform grid settles nodes in (cost,
  node-id) heap order, which resolves every equal-cost L-path to
  "horizontal leg on the LOWER row" — verified against
  graph/dijkstra.py for all 81x81 pairs (tests/test_match_oracle_sql.py)
  and emitted as the closed-form `_splist` edge sequence.
* The recursive Viterbi carries per-layer state as LISTS (candidate probs,
  back-pointers, insertion order) in a recursive CTE — beam pruning
  (prune_start_layer/trim/cap), NaN semantics (NaN compares greatest in
  DuckDB: masked explicitly to match numpy), and the first-max walk all
  mirror oracle/hmm_ref.py viterbi_beam/_prune; the classic decode
  mirrors viterbi_classic's (value, prev-eid) tie rule via last-argmax
  over eid-ascending lists.
"""

from __future__ import annotations

import numpy as np

from ..config import M_PER_DEG, MatchConfig
from ..sources import derived as D

CFG = MatchConfig(lon0=D.LON0, lat0=D.LAT0)

G, S, X0, N_ONEWAY = D.G, D.S, D.X0, D.N_ONEWAY
K = D.K

def fl(v):
    r = repr(float(v))
    return r if ("e" in r or "E" in r or "inf" in r or "nan" in r) else r + "e0"

def chord(s="i.s", e="i.e", j="j"):
    ax, ay = f"t.xs[{s}+1]", f"t.ys[{s}+1]"
    bx, by = f"t.xs[{e}+1]", f"t.ys[{e}+1]"
    px, py = f"t.xs[{j}+1]", f"t.ys[{j}+1]"
    a = f"sqrt(({bx}-{ax})*({bx}-{ax}) + ({by}-{ay})*({by}-{ay}))"
    b = f"sqrt(({px}-{ax})*({px}-{ax}) + ({py}-{ay})*({py}-{ay}))"
    c = f"sqrt(({px}-{bx})*({px}-{bx}) + ({py}-{by})*({py}-{by}))"
    p = f"(({a}) + ({b}) + ({c})) / 2.0"
    s_ = f"sqrt(abs(({p}) * (({p}) - ({a})) * (({p}) - ({b})) * (({p}) - ({c}))))"
    return f"CASE WHEN ({a}) = 0 THEN ({b}) ELSE 2.0 * ({s_}) / ({a}) END"

# ---- CTE chain (shared) ----
PTS = D.POINTS_CTE.strip()

QUANT = f"""
qpts AS MATERIALIZED (
  SELECT url, pid AS pid0,
         ((CAST(printf('%.7f', {fl(D.LON0)} + x / {fl(D.MK)}) AS DOUBLE) - {fl(D.LON0)})
            * {fl(M_PER_DEG)}) * {fl(K)} AS x,
         (CAST(printf('%.7f', {fl(D.LAT0)} + y / {fl(M_PER_DEG)}) AS DOUBLE) - {fl(D.LAT0)})
            * {fl(M_PER_DEG)} AS y
  FROM points
)"""

DP = f"""
tr AS MATERIALIZED (
  SELECT url, list(x ORDER BY pid0) AS xs, list(y ORDER BY pid0) AS ys, count(*) AS n
  FROM qpts GROUP BY url
),
iv(url, s, e) AS (
  SELECT url, 0, CAST(n - 1 AS BIGINT) FROM tr
  UNION ALL
  SELECT w.url, u.s2, u.e2
  FROM (
    SELECT d.url, d.s, d.e,
           d.s + 1 + list_position(dl, list_max(dl)) - 1 AS k,
           list_max(dl) AS dmax
    FROM (
      SELECT i.url, i.s, i.e,
             list_transform(range(i.s + 1, i.e), j -> {chord()}) AS dl
      FROM iv i JOIN tr t USING (url)
      WHERE i.e - i.s >= 2
    ) d
  ) w, unnest([struct_pack(s2 := w.s, e2 := w.k),
               struct_pack(s2 := w.k, e2 := w.e)]) AS t(u)
  WHERE w.dmax >= {CFG.tolerance!r}
),
keepp AS MATERIALIZED (
  SELECT DISTINCT url, pid FROM (
    SELECT url, s AS pid FROM iv
    UNION ALL SELECT url, e AS pid FROM iv)
),
spts AS MATERIALIZED (
  SELECT k.url AS url,
         CAST(row_number() OVER (PARTITION BY k.url ORDER BY k.pid) - 1 AS INT) AS pid,
         q.x, q.y
  FROM keepp k JOIN qpts q ON q.url = k.url AND q.pid0 = k.pid
)"""


# ---- Stage B: edges + candidates ----
EDGES2 = f"""
ge AS (
  SELECT CAST(k AS BIGINT) AS eid0,
         CASE WHEN k < {G*(G-1)} THEN {fl(X0)} + (k % {G-1}) * {fl(S)}
              ELSE {fl(X0)} + ((k - {G*(G-1)}) // {G-1}) * {fl(S)} END AS fax,
         CASE WHEN k < {G*(G-1)} THEN {fl(X0)} + (k // {G-1}) * {fl(S)}
              ELSE {fl(X0)} + ((k - {G*(G-1)}) % {G-1}) * {fl(S)} END AS fay,
         (k < {G*(G-1)}) AS horiz,
         CASE WHEN k < {G*(G-1)} THEN (k // {G-1}) * {G} + (k % {G-1})
              ELSE ((k - {G*(G-1)}) % {G-1}) * {G} + ((k - {G*(G-1)}) // {G-1}) END AS fsrc,
         CASE WHEN k < {G*(G-1)} THEN (k // {G-1}) * {G} + (k % {G-1}) + 1
              ELSE (((k - {G*(G-1)}) % {G-1}) + 1) * {G} + ((k - {G*(G-1)}) // {G-1}) END AS fdst
  FROM range({N_ONEWAY}) t(k)
),
edg AS MATERIALIZED (
  SELECT eid0 AS eid, fax AS ax, fay AS ay,
         CASE WHEN horiz THEN fax + {fl(S)} ELSE fax END AS bx,
         CASE WHEN horiz THEN fay ELSE fay + {fl(S)} END AS by,
         fsrc AS src, fdst AS dst FROM ge
  UNION ALL
  SELECT eid0 + {N_ONEWAY},
         CASE WHEN horiz THEN fax + {fl(S)} ELSE fax END,
         CASE WHEN horiz THEN fay ELSE fay + {fl(S)} END,
         fax, fay, fdst, fsrc FROM ge
)"""

FACTOR = 1.0 / (np.sqrt(2.0 * np.pi) * CFG.gps_sigma)

CAND = f"""
cand0 AS MATERIALIZED (
  SELECT p.url, p.pid, p.x AS px, p.y AS py, e.eid, e.src, e.dst,
         (e.bx - e.ax) AS abx, (e.by - e.ay) AS aby,
         least(greatest(((e.bx - e.ax) * (p.x - e.ax) + (e.by - e.ay) * (p.y - e.ay))
                        / ((e.bx - e.ax) * (e.bx - e.ax) + (e.by - e.ay) * (e.by - e.ay)),
                        0.0), 1.0) AS t,
         e.ax, e.ay
  FROM spts p CROSS JOIN edg e
),
cand1 AS MATERIALIZED (
  SELECT url, pid, eid, src, dst, t, ax, ay, abx, aby, px, py,
         sqrt((px - (ax + abx * t)) * (px - (ax + abx * t))
              + (py - (ay + aby * t)) * (py - (ay + aby * t))) AS dist,
         sqrt(abx * abx + aby * aby) * t AS len0
  FROM cand0
),
cand2 AS MATERIALIZED (
  SELECT *, {fl(S)} - len0 AS len1,
         CAST(row_number() OVER (PARTITION BY url, pid ORDER BY dist, eid) AS INT) AS rnk
  FROM cand1 WHERE dist <= {fl(CFG.radius)}
),
candk AS MATERIALIZED (SELECT * FROM cand2 WHERE rnk <= {CFG.top_k}),
cand AS MATERIALIZED (
  SELECT *,
         sqrt(({fl(FACTOR)} * exp(-((dist - {fl(CFG.gps_bias)}) * (dist - {fl(CFG.gps_bias)}))
                               / {fl(2.0 * CFG.gps_sigma**2)}))
              / max({fl(FACTOR)} * exp(-((dist - {fl(CFG.gps_bias)}) * (dist - {fl(CFG.gps_bias)}))
                               / {fl(2.0 * CFG.gps_sigma**2)})) OVER (PARTITION BY url)) AS obs
  FROM candk
)"""

# ---- Stage C: pairs + flags + dist scoring ----
PAIRS = f"""
lyr AS MATERIALIZED (
  SELECT url, pid,
         CAST(row_number() OVER (PARTITION BY url ORDER BY pid) - 1 AS BIGINT) AS t,
         lead(pid) OVER (PARTITION BY url ORDER BY pid) AS pid_next
  FROM (SELECT DISTINCT url, pid FROM cand)
),
lpt AS MATERIALIZED (
  SELECT l.url, l.pid, l.t, l.pid_next, p.x, p.y,
         lead(p.x) OVER (PARTITION BY l.url ORDER BY l.pid) AS nx,
         lead(p.y) OVER (PARTITION BY l.url ORDER BY l.pid) AS ny
  FROM lyr l JOIN spts p ON p.url = l.url AND p.pid = l.pid
),
lparam AS MATERIALIZED (
  SELECT url, pid, t, pid_next,
         sqrt((nx - x) * (nx - x) + (ny - y) * (ny - y)) AS d_euc,
         (CASE
            WHEN (nx - x) = 0 AND (ny - y) >= 0 THEN 0.0
            WHEN (ny - y) = 0 AND (nx - x) > 0 THEN {fl(np.pi/2)}
            WHEN (ny - y) = 0 AND (nx - x) < 0 THEN {fl(3*np.pi/2)}
            WHEN (nx - x) = 0 AND (ny - y) < 0 THEN {fl(np.pi)}
            WHEN (nx - x) > 0 AND (ny - y) > 0 THEN atan((nx - x) / (ny - y))
            WHEN (nx - x) > 0 AND (ny - y) < 0 THEN {fl(np.pi/2)} + atan(-(ny - y) / (nx - x))
            WHEN (nx - x) < 0 AND (ny - y) < 0 THEN {fl(np.pi)} + atan((nx - x) / (ny - y))
            ELSE {fl(3*np.pi/2)} + atan((ny - y) / (-(nx - x)))
          END * 180.0) / {fl(np.pi)} AS move_dir
  FROM lpt WHERE pid_next IS NOT NULL
),
prs0 AS MATERIALIZED (
  SELECT c0.url, c0.pid AS pid_0, lp.pid_next AS pid_1,
         c0.eid AS eid_0, c1.eid AS eid_1,
         c0.src AS src_0, c0.dst AS dst_0, c1.src AS src_1, c1.dst AS dst_1,
         {fl(S)} AS dist_0,
         c0.len1 AS step_0_len, c1.len0 AS step_n_raw, c0.len0 AS left_len0,
         c0.t AS ratio_0, c1.t AS ratio_1,
         c1.obs AS obs_1,
         lp.d_euc, lp.move_dir
  FROM lparam lp
  JOIN cand c0 ON c0.url = lp.url AND c0.pid = lp.pid
  JOIN cand c1 ON c1.url = lp.url AND c1.pid = lp.pid_next
),
prs1 AS MATERIALIZED (
  SELECT *,
         ({fl(S)} - step_0_len) AS offset_0,
         (({fl(S)} - step_0_len) <= step_n_raw) AS cond_1,
         (least(greatest(0.0, ({fl(S)} - step_0_len) - {fl(CFG.flag_dist_eps)}),
                ({fl(S)} - step_0_len) * {fl(1.0 - CFG.flag_ratio_eps)}) <= step_n_raw) AS cond
  FROM prs0
),
prs2 AS MATERIALIZED (
  SELECT *,
         CASE WHEN cond AND NOT cond_1 THEN left_len0 ELSE step_n_raw END AS step_n_len,
         (cond AND NOT cond_1) AS approx,
         CASE WHEN eid_0 = eid_1 AND cond THEN 1
              WHEN eid_0 = eid_1 AND NOT cond THEN 2 ELSE 0 END AS flag
  FROM prs1
),
prs3 AS MATERIALIZED (
  SELECT *,
         CASE WHEN flag = 1 THEN src_1 ELSE dst_0 END AS o_node,
         CASE WHEN flag = 1 THEN dst_1 ELSE src_1 END AS d_node
  FROM prs2
),
prs4 AS MATERIALIZED (
  SELECT *,
         CASE WHEN o_node = d_node THEN 0.0
              ELSE {fl(S)} * (abs(o_node % {G} - d_node % {G})
                              + abs(o_node // {G} - d_node // {G})) END AS cost
  FROM prs3
),
prs5 AS MATERIALIZED (
  SELECT *,
         CASE WHEN flag = 1 THEN
                CASE WHEN step_0_len + step_n_len - dist_0 < 1e-6
                     THEN d_euc ELSE step_0_len + step_n_len - dist_0 END
              ELSE cost + step_0_len + step_n_len END AS d_sht
  FROM prs4
),
prs AS MATERIALIZED (
  SELECT *,
         CASE WHEN d_sht = 0 THEN (CASE WHEN d_euc = 0 THEN CAST('nan' AS DOUBLE) ELSE 0.0 END)
              WHEN d_euc / d_sht > 1.0 THEN 1.0 / (d_euc / d_sht)
              ELSE d_euc / d_sht END AS dist_prob
  FROM prs5
)"""

# ---- Stage D: classic decode + stitch ----
SPLIST = """
CASE WHEN {flag} = 1 OR {o} = {d} THEN CAST([] AS BIGINT[]) ELSE
 CASE WHEN ({d} // 9 - {o} // 9) >= 0 THEN
   list_concat(
     CASE WHEN ({d} % 9 - {o} % 9) > 0
          THEN list_transform(range({d} % 9 - {o} % 9), s -> ({o} // 9) * 8 + ({o} % 9) + s)
          WHEN ({d} % 9 - {o} % 9) < 0
          THEN list_transform(range(({o} % 9) - ({d} % 9)), s -> 144 + ({o} // 9) * 8 + ({o} % 9) - s - 1)
          ELSE CAST([] AS BIGINT[]) END,
     list_transform(range({d} // 9 - {o} // 9), s -> 72 + ({d} % 9) * 8 + ({o} // 9) + s))
 ELSE
   list_concat(
     list_transform(range(({o} // 9) - ({d} // 9)), s -> 216 + ({o} % 9) * 8 + ({o} // 9) - s - 1),
     CASE WHEN ({d} % 9 - {o} % 9) > 0
          THEN list_transform(range({d} % 9 - {o} % 9), s -> ({d} // 9) * 8 + ({o} % 9) + s)
          WHEN ({d} % 9 - {o} % 9) < 0
          THEN list_transform(range(({o} % 9) - ({d} % 9)), s -> 144 + ({d} // 9) * 8 + ({o} % 9) - s - 1)
          ELSE CAST([] AS BIGINT[]) END)
 END END"""

def splist(flag, o, d):
    return SPLIST.format(flag=flag, o=o, d=d)

CLASSIC = f"""
lay AS MATERIALIZED (
  SELECT c.url, l.t,
         list(c.eid ORDER BY c.eid) AS elist,
         list(c.obs ORDER BY c.eid) AS olist,
         count(*) AS n
  FROM cand c JOIN lyr l ON l.url = c.url AND l.pid = c.pid
  GROUP BY c.url, l.t
),
pmat AS MATERIALIZED (
  SELECT p.url, l1.t AS t1,
         list(p.dist_prob ORDER BY p.eid_1, p.eid_0) AS dp,
         CAST(count(DISTINCT p.eid_0) AS BIGINT) AS n0
  FROM prs p JOIN lyr l1 ON l1.url = p.url AND l1.pid = p.pid_1
  GROUP BY p.url, l1.t
),
dec(url, t, vs, pm) AS (
  SELECT url, CAST(0 AS BIGINT), olist, list_transform(elist, e -> [e])
  FROM lay WHERE t = 0
  UNION ALL
  SELECT d.url, l1.t,
         list_transform(range(l1.n), k ->
           list_max(list_transform(range(m.n0), j ->
             d.vs[j+1] + m.dp[k * m.n0 + j + 1] * l1.olist[k+1]))),
         list_transform(range(l1.n), k ->
           d.pm[m.n0 + 1 - list_position(
                 list_reverse(list_transform(range(m.n0), j ->
                   d.vs[j+1] + m.dp[k * m.n0 + j + 1] * l1.olist[k+1])),
                 list_max(list_transform(range(m.n0), j ->
                   d.vs[j+1] + m.dp[k * m.n0 + j + 1] * l1.olist[k+1])))]
           || [l1.elist[k+1]])
  FROM dec d
  JOIN lay l1 ON l1.url = d.url AND l1.t = d.t + 1
  JOIN pmat m ON m.url = d.url AND m.t1 = d.t + 1
),
tmax AS (SELECT url, max(t) AS mt FROM lay GROUP BY url),
fin AS (
  SELECT d.url, d.t AS lt,
         list_max(d.vs) AS end_prob,
         d.pm[len(d.vs) + 1 - list_position(list_reverse(d.vs), list_max(d.vs))] AS rpath
  FROM dec d JOIN tmax x ON x.url = d.url AND d.t = x.mt
),
lpids AS MATERIALIZED (
  SELECT url, list(pid ORDER BY t) AS pids FROM lyr GROUP BY url
),
steps AS (
  SELECT f.url, s.k AS k,
         lp.pids[s.k + 1] AS pid_0,
         f.rpath[s.k + 1] AS e0,
         f.rpath[s.k + 2] AS e1,
         f.end_prob, f.lt
  FROM fin f JOIN lpids lp USING (url),
       LATERAL (SELECT unnest(range(f.lt)) AS k) s
),
srow AS (
  SELECT st.url, st.k, st.e0, st.e1, st.end_prob, st.lt,
         p.flag, p.o_node, p.d_node, p.dist_prob AS transp
  FROM steps st
  JOIN prs p ON p.url = st.url AND p.pid_0 = st.pid_0
            AND p.eid_0 = st.e0 AND p.eid_1 = st.e1
),
expand AS (
  SELECT url, k, end_prob, lt,
         list_concat([e0], {splist('flag', 'o_node', 'd_node')}) AS eids,
         transp
  FROM srow
),
agg AS (
  SELECT url, any_value(end_prob) AS end_prob, any_value(lt) AS n_steps,
         flatten(list(eids ORDER BY k)) AS eids_all,
         list(transp ORDER BY k) AS transps
  FROM expand GROUP BY url
),
withlast AS (
  SELECT a.url, a.end_prob, a.n_steps, a.transps,
         list_concat(a.eids_all, [f.rpath[f.lt + 1]]) AS eids_full
  FROM agg a JOIN fin f USING (url)
)
"""

CLASSIC_FINAL = f"""
, ded AS (
  SELECT url, end_prob, n_steps, transps,
         list_filter(eids_full, (x, i) -> i = 1 OR eids_full[i-1] <> x) AS epath
  FROM withlast
),
metr AS MATERIALIZED (
  SELECT url, end_prob, n_steps, epath,
         list_reduce(list_prepend(CAST(1.0 AS DOUBLE), transps), (a, x) -> a * x) AS transprod
  FROM ded
)
SELECT url,
       CAST(CASE WHEN len(epath) = 1
                 THEN CASE WHEN end_prob < {fl(CFG.prob_thres)} THEN 4 ELSE 1 END
                 WHEN pow(transprod, 1.0 / n_steps) < {fl(CFG.prob_thres)} THEN 4
                 ELSE 0 END AS INT) AS status,
       array_to_string(epath, ',') AS epath_s,
       round(pow(end_prob, 1.0 / n_steps), 6) AS norm_prob_r
FROM metr
"""

# ---- Stage C2: dir_prob + trans_prob (beam scoring) ----
# sufficient-stats dir_prob (kernels/dir_stats.py engine_dir_probs):
# per-edge totals/cos/sin inlined as numpy-computed literals (no libm skew)
_BCONST = {}
for _name, _deg in [("h", 90.0), ("v", 0.0), ("hr", 270.0), ("vr", 180.0)]:
    _b = np.radians(_deg)
    _BCONST[_name] = (float(np.cos(_b)), float(np.sin(_b)),
                      float(250.0 * np.cos(_b)), float(250.0 * np.sin(_b)))

def COSB(e):
    return (f"CASE WHEN {e} < 72 THEN {fl(_BCONST['h'][0])} "
            f"WHEN {e} < 144 THEN {fl(_BCONST['v'][0])} "
            f"WHEN {e} < 216 THEN {fl(_BCONST['hr'][0])} "
            f"ELSE {fl(_BCONST['vr'][0])} END")

def SINB(e):
    return (f"CASE WHEN {e} < 72 THEN {fl(_BCONST['h'][1])} "
            f"WHEN {e} < 144 THEN {fl(_BCONST['v'][1])} "
            f"WHEN {e} < 216 THEN {fl(_BCONST['hr'][1])} "
            f"ELSE {fl(_BCONST['vr'][1])} END")

def TCX(e):
    return (f"CASE WHEN {e} < 72 THEN {fl(_BCONST['h'][2])} "
            f"WHEN {e} < 144 THEN {fl(_BCONST['v'][2])} "
            f"WHEN {e} < 216 THEN {fl(_BCONST['hr'][2])} "
            f"ELSE {fl(_BCONST['vr'][2])} END")

def TCY(e):
    return (f"CASE WHEN {e} < 72 THEN {fl(_BCONST['h'][3])} "
            f"WHEN {e} < 144 THEN {fl(_BCONST['v'][3])} "
            f"WHEN {e} < 216 THEN {fl(_BCONST['hr'][3])} "
            f"ELSE {fl(_BCONST['vr'][3])} END")

def BEAR_DEG(dx, dy):
    """bearing_deg piecewise twin (degrees)."""
    return f"""(CASE
      WHEN ({dx}) = 0 AND ({dy}) >= 0 THEN 0.0
      WHEN ({dy}) = 0 AND ({dx}) > 0 THEN {fl(np.pi/2)}
      WHEN ({dy}) = 0 AND ({dx}) < 0 THEN {fl(3*np.pi/2)}
      WHEN ({dx}) = 0 AND ({dy}) < 0 THEN {fl(np.pi)}
      WHEN ({dx}) > 0 AND ({dy}) > 0 THEN atan(({dx}) / ({dy}))
      WHEN ({dx}) > 0 AND ({dy}) < 0 THEN {fl(np.pi/2)} + atan(-({dy}) / ({dx}))
      WHEN ({dx}) < 0 AND ({dy}) < 0 THEN {fl(np.pi)} + atan(({dx}) / ({dy}))
      ELSE {fl(3*np.pi/2)} + atan(({dy}) / (-({dx})))
    END * 180.0) / {fl(np.pi)}"""

RAD = 0.017453292519943295  # np.radians multiplier

# node coords closed form
def NX(n): return f"({fl(X0)} + (({n}) % 9) * {fl(S)})"
def NY(n): return f"({fl(X0)} + (({n}) // 9) * {fl(S)})"

PRSG = f"""
prsg AS MATERIALIZED (
  SELECT p.*,
         c0.ax AS ax0, c0.ay AS ay0, c0.abx AS abx0, c0.aby AS aby0,
         c1.ax AS ax1, c1.ay AS ay1, c1.abx AS abx1, c1.aby AS aby1
  FROM prs p
  JOIN cand c0 ON c0.url = p.url AND c0.pid = p.pid_0 AND c0.eid = p.eid_0
  JOIN cand c1 ON c1.url = p.url AND c1.pid = p.pid_1 AND c1.eid = p.eid_1
),
dirseg AS MATERIALIZED (
  SELECT *,
         (ratio_0 <> 1.0) AS p0,
         CASE WHEN approx THEN ratio_0 <> 0.0 ELSE ratio_1 <> 0.0 END AS pn,
         CASE WHEN approx THEN eid_0 ELSE eid_1 END AS en,
         CASE WHEN approx THEN ratio_0 ELSE ratio_1 END AS rn,
         -- step0_end = last vertex of e0; stepn_start = first vertex of en
         ax0 + abx0 AS s0ex, ay0 + aby0 AS s0ey,
         CASE WHEN approx THEN ax0 ELSE ax1 END AS snsx,
         CASE WHEN approx THEN ay0 ELSE ay1 END AS snsy,
         {splist('flag', 'o_node', 'd_node')} AS spl
  FROM prsg
),
dirstat AS MATERIALIZED (
  SELECT *,
         -- tail cut stats of e0 (step_0 part)
         CASE WHEN ratio_0 = 0.0 THEN {TCX('eid_0')}
              ELSE ((1.0 - ratio_0) * {fl(S)}) * {COSB('eid_0')} END AS cx0,
         CASE WHEN ratio_0 = 0.0 THEN {TCY('eid_0')}
              ELSE ((1.0 - ratio_0) * {fl(S)}) * {SINB('eid_0')} END AS cy0,
         CASE WHEN ratio_0 = 0.0 THEN {fl(S)} ELSE (1.0 - ratio_0) * {fl(S)} END AS w0,
         CASE WHEN ratio_0 = 1.0 THEN 0 ELSE 1 END AS n0,
         -- head cut stats of en (step_n part)
         CASE WHEN rn = 1.0 THEN {TCX('en')}
              ELSE (rn * {fl(S)}) * {COSB('en')} END AS cxn,
         CASE WHEN rn = 1.0 THEN {TCY('en')}
              ELSE (rn * {fl(S)}) * {SINB('en')} END AS cyn,
         CASE WHEN rn = 1.0 THEN {fl(S)} ELSE rn * {fl(S)} END AS wn,
         CASE WHEN rn = 0.0 THEN 0 ELSE 1 END AS nn,
         -- path stats (sequential fold over the sp edge list)
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(spl, e -> {TCX('e')})), (a, x) -> a + x) AS pcx,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(spl, e -> {TCY('e')})), (a, x) -> a + x) AS pcy,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(spl, e -> {fl(S)})), (a, x) -> a + x) AS pw,
         len(spl) AS pn_path,
         (len(spl) > 0) AS has_path
  FROM dirseg
),
dirj AS MATERIALIZED (
  SELECT *,
         -- j0: step_0 -> step_n joint when no path (j1 is always
         -- zero-length by construction: o_node = dst_0 = step0_end)
         CASE WHEN p0 AND pn AND NOT has_path AND flag <> 1
                   AND sqrt((snsx - s0ex) * (snsx - s0ex) + (snsy - s0ey) * (snsy - s0ey)) > 0.0
              THEN sqrt((snsx - s0ex) * (snsx - s0ex) + (snsy - s0ey) * (snsy - s0ey))
              ELSE 0.0 END AS j0l,
         CASE WHEN p0 AND pn AND NOT has_path AND flag <> 1
              THEN ({BEAR_DEG('snsx - s0ex', 'snsy - s0ey')}) ELSE 0.0 END AS j0b,
         -- j2: path end (d_node) -> step_n start
         CASE WHEN pn AND has_path AND flag <> 1
                   AND sqrt((snsx - {NX('d_node')}) * (snsx - {NX('d_node')})
                            + (snsy - {NY('d_node')}) * (snsy - {NY('d_node')})) > 0.0
              THEN sqrt((snsx - {NX('d_node')}) * (snsx - {NX('d_node')})
                        + (snsy - {NY('d_node')}) * (snsy - {NY('d_node')}))
              ELSE 0.0 END AS j2l,
         CASE WHEN pn AND has_path AND flag <> 1
              THEN ({BEAR_DEG(f"snsx - {NX('d_node')}", f"snsy - {NY('d_node')}")}) ELSE 0.0 END AS j2b
  FROM dirstat
),
dirp AS MATERIALIZED (
  SELECT *,
         CASE WHEN (CASE WHEN flag = 1 THEN p0 AND pn
                         ELSE (CASE WHEN p0 THEN 1 ELSE 0 END
                               + CASE WHEN pn THEN 1 ELSE 0 END
                               + CASE WHEN has_path THEN 1 ELSE 0 END) > 0 END)
                   AND fn > 0
              THEN CASE WHEN fw = 0 THEN (cos(move_dir * {fl(RAD)}) + 1.0) / 2.0
                        ELSE ((cos(move_dir * {fl(RAD)}) * fcx
                               + sin(move_dir * {fl(RAD)}) * fcy) / 2.0 + fw / 2.0) / fw END
              ELSE CAST('nan' AS DOUBLE) END AS dir_prob
  FROM (
    SELECT *,
      CASE WHEN flag = 1 THEN cxn ELSE
        (CASE WHEN p0 THEN cx0 ELSE 0.0 END
         + CASE WHEN has_path THEN pcx ELSE 0.0 END
         + CASE WHEN pn THEN cxn ELSE 0.0 END
         + CASE WHEN j0l > 0 THEN j0l * cos(j0b * {fl(RAD)}) ELSE 0.0 END
         + 0.0
         + CASE WHEN j2l > 0 THEN j2l * cos(j2b * {fl(RAD)}) ELSE 0.0 END) END AS fcx,
      CASE WHEN flag = 1 THEN cyn ELSE
        (CASE WHEN p0 THEN cy0 ELSE 0.0 END
         + CASE WHEN has_path THEN pcy ELSE 0.0 END
         + CASE WHEN pn THEN cyn ELSE 0.0 END
         + CASE WHEN j0l > 0 THEN j0l * sin(j0b * {fl(RAD)}) ELSE 0.0 END
         + 0.0
         + CASE WHEN j2l > 0 THEN j2l * sin(j2b * {fl(RAD)}) ELSE 0.0 END) END AS fcy,
      CASE WHEN flag = 1 THEN wn ELSE
        (CASE WHEN p0 THEN w0 ELSE 0.0 END
         + CASE WHEN has_path THEN pw ELSE 0.0 END
         + CASE WHEN pn THEN wn ELSE 0.0 END
         + j0l + 0.0 + j2l) END AS fw,
      CASE WHEN flag = 1 THEN nn ELSE
        (n0 + CASE WHEN has_path THEN pn_path ELSE 0 END + nn
         + greatest((CASE WHEN p0 THEN 1 ELSE 0 END
                     + CASE WHEN pn THEN 1 ELSE 0 END
                     + CASE WHEN has_path THEN 1 ELSE 0 END) - 1, 0)) END AS fn
    FROM dirj)
),
scoredb AS MATERIALIZED (
  SELECT *, dist_prob * dir_prob AS trans_prob FROM dirp
)"""

# ---- Stage E/F: beam decode + walk + stitch ----
BEAM = f"""
lpids AS MATERIALIZED (
  SELECT url, list(pid ORDER BY t) AS pids FROM lyr GROUP BY url
),
pb AS MATERIALIZED (
  SELECT s.url, l1.t AS t1,
         list(s.eid_0 ORDER BY s.eid_1, s.eid_0) AS pe0,
         list(s.eid_1 ORDER BY s.eid_1, s.eid_0) AS pe1,
         list(s.trans_prob * s.obs_1 ORDER BY s.eid_1, s.eid_0) AS ptp
  FROM scoredb s JOIN lyr l1 ON l1.url = s.url AND l1.pid = s.pid_1
  GROUP BY s.url, l1.t
),
lay0 AS MATERIALIZED (
  SELECT c.url,
         list(c.eid ORDER BY c.dist, c.eid) AS es,
         list(c.obs ORDER BY c.dist, c.eid) AS ps
  FROM cand c JOIN lyr l ON l.url = c.url AND l.pid = c.pid
  WHERE l.t = 0 GROUP BY c.url
),
bdec(url, t, es, ps, bp, hes, hps, hbp) AS (
  SELECT url, CAST(0 AS BIGINT), es, ps, CAST([] AS BIGINT[]),
         [es], [ps], [CAST([] AS BIGINT[])]
  FROM lay0
  UNION ALL
  SELECT url, t, es, ps, bp, hes || [es], hps || [ps], hbp || [bp]
  FROM (
    SELECT url, t,
           list_transform(ded, x -> x.e1) AS es,
           list_transform(ded, x -> x.prob) AS ps,
           list_transform(ded, x -> x.e0) AS bp,
           hes, hps, hbp
    FROM (
      SELECT url, t, hes, hps, hbp,
             list_filter(capped, (x, i) ->
               list_position(list_transform(capped, y -> y.e1), x.e1) = i) AS ded
      FROM (
        SELECT url, t, hes, hps, hbp,
               CASE WHEN lvl < {CFG.prune_start_layer} THEN list_sort(rows_)
                    ELSE list_slice(list_sort(rows_), 1, {CFG.beam_cap}) END AS capped
        FROM (
          SELECT url, t, lvl, hes, hps, hbp,
                 CASE WHEN lvl < {CFG.prune_start_layer} THEN
                   list_transform(list_filter(range(n), i -> msk[i + 1]),
                     i -> struct_pack(negp := -probv[i + 1], e1 := pe1[i + 1],
                                      e0 := pe0[i + 1], prob := probv[i + 1]))
                 ELSE
                   list_transform(
                     list_filter(range(n), i -> msk[i + 1]
                                 AND NOT isnan(probv[i + 1])
                                 AND probv[i + 1] >= thred),
                     i -> struct_pack(negp := -probv[i + 1], e1 := pe1[i + 1],
                                      e0 := pe0[i + 1], prob := probv[i + 1]))
                 END AS rows_
          FROM (
            SELECT *,
                   coalesce(list_max(list_transform(list_filter(range(n),
                       i -> msk[i + 1] AND NOT isnan(
                              coalesce(prevv[i + 1], 1.0) * probv[i + 1])),
                     i -> coalesce(prevv[i + 1], 1.0) * probv[i + 1])),
                     CAST('-infinity' AS DOUBLE)) * {fl(CFG.prune_trim_factor)} AS thred
            FROM (
              SELECT *,
                     CASE WHEN anyok THEN okm ELSE list_transform(range(n), i -> true) END AS msk,
                     list_transform(range(n), i ->
                       (CASE WHEN anyok THEN prevv[i + 1] ELSE 1.0 END) * ptp[i + 1]) AS probv
              FROM (
                SELECT *,
                       len(list_filter(range(n), i -> okm[i + 1])) > 0 AS anyok
                FROM (
                  SELECT d.url, p.t1 AS t, d.t AS lvl,
                         d.hes AS hes, d.hps AS hps, d.hbp AS hbp,
                         p.pe0, p.pe1, p.ptp, len(p.pe0) AS n,
                         list_transform(p.pe0, e ->
                           CASE WHEN list_position(d.es, e) IS NULL THEN NULL
                                ELSE d.ps[list_position(d.es, e)] END) AS prevv,
                         list_transform(p.pe0, e ->
                           list_position(d.es, e) IS NOT NULL
                           AND NOT isnan(coalesce(d.ps[list_position(d.es, e)], 0.0))) AS okm
                  FROM bdec d JOIN pb p ON p.url = d.url AND p.t1 = d.t + 1
                ) q0
              ) q1
            ) q2
          ) q3
        ) q4
      ) q5
    ) q6
  ) q7
),
btmax AS MATERIALIZED (SELECT url, max(t) AS mt FROM bdec GROUP BY url),
bfin AS MATERIALIZED (
  SELECT d.url, d.t AS lt, d.hes, d.hps, d.hbp,
         d.es[1] AS start_state, d.ps[1] AS end_prob
  FROM bdec d JOIN btmax x ON x.url = d.url AND d.t = x.mt
),
wk(url, idx, state, chain) AS (
  SELECT url, lt, start_state, [start_state] FROM bfin
  UNION ALL
  SELECT w.url, w.idx - 1,
         f.hbp[w.idx + 1][list_position(f.hes[w.idx + 1], w.state)],
         list_prepend(f.hbp[w.idx + 1][list_position(f.hes[w.idx + 1], w.state)], w.chain)
  FROM wk w JOIN bfin f ON f.url = w.url
  WHERE w.idx > 0
),
bpath AS MATERIALIZED (
  SELECT url, chain AS rpath FROM wk WHERE idx = 0
),
bsteps AS MATERIALIZED (
  SELECT f.url, s.k AS k,
         lp.pids[s.k + 1] AS pid_0,
         b.rpath[s.k + 1] AS e0,
         b.rpath[s.k + 2] AS e1,
         f.end_prob, f.lt
  FROM bfin f JOIN bpath b USING (url) JOIN lpids lp USING (url),
       LATERAL (SELECT unnest(range(f.lt)) AS k) s
),
bsrow AS MATERIALIZED (
  SELECT st.url, st.k, st.e0, st.e1, st.end_prob, st.lt, st.pid_0,
         p.flag, p.o_node, p.d_node, p.trans_prob AS transp
  FROM bsteps st
  JOIN scoredb p ON p.url = st.url AND p.pid_0 = st.pid_0
                AND p.eid_0 = st.e0 AND p.eid_1 = st.e1
),
bexpand AS MATERIALIZED (
  SELECT url, k, end_prob, lt,
         list_concat([e0], {splist('flag', 'o_node', 'd_node')}) AS eids,
         transp
  FROM bsrow
),
bagg AS MATERIALIZED (
  SELECT url, any_value(end_prob) AS end_prob, any_value(lt) AS n_steps,
         flatten(list(eids ORDER BY k)) AS eids_all,
         list(transp ORDER BY k) AS transps
  FROM bexpand GROUP BY url
),
bwithlast AS MATERIALIZED (
  SELECT a.url, a.end_prob, a.n_steps, a.transps,
         list_concat(a.eids_all, [b.rpath[a.n_steps + 1]]) AS eids_full
  FROM bagg a JOIN bpath b USING (url)
),
bded AS MATERIALIZED (
  SELECT url, end_prob, n_steps, transps,
         list_filter(eids_full, (x, i) -> i = 1 OR eids_full[i-1] <> x) AS epath
  FROM bwithlast
),
bstep0 AS MATERIALIZED (
  SELECT b.url, c.len0 / (c.len0 + c.len1) AS step_0
  FROM bpath b
  JOIN lpids lp USING (url)
  JOIN cand c ON c.url = b.url AND c.pid = lp.pids[1] AND c.eid = b.rpath[1]
),
bmetr AS MATERIALIZED (
  SELECT d.url, d.end_prob, d.n_steps, d.epath, s0.step_0,
         list_reduce(list_prepend(CAST(1.0 AS DOUBLE), d.transps), (a, x) -> a * x) AS transprod
  FROM bded d JOIN bstep0 s0 USING (url)
)
"""

BEAM_FINAL = f"""
SELECT url,
       CAST(CASE WHEN len(epath) = 1
                 THEN CASE WHEN end_prob < {fl(CFG.prob_thres)} THEN 4 ELSE 1 END
                 WHEN pow(transprod, 1.0 / n_steps) < {fl(CFG.prob_thres)} THEN 4
                 ELSE 0 END AS INT) AS status,
       array_to_string(epath, ',') AS epath_s,
       round(step_0, 6) AS step_0_r,
       round(pow(end_prob, 1.0 / n_steps), 6) AS norm_prob_r
FROM bmetr
"""


def match_grid_oracle_sql() -> str:
    """Full beam-search flagship twin (q_match_grid)."""
    return (f"WITH RECURSIVE {PTS},\n{QUANT},\n{DP},\n{EDGES2},\n{CAND},\n"
            f"{PAIRS},\n{PRSG},\n{BEAM}\n{BEAM_FINAL}")


def match_grid_classic_oracle_sql() -> str:
    """Classic full-lattice decode twin (q_match_grid_classic,
    beam_search=False + dir_trans=False)."""
    return (f"WITH RECURSIVE {PTS},\n{QUANT},\n{DP},\n{EDGES2},\n{CAND},\n"
            f"{PAIRS},\n{CLASSIC}\n{CLASSIC_FINAL}")


def match_path_geom_wrap_oracle_sql(path_margin: int = 25) -> str:
    """Matched-path geometry over the wrap/boundary COMPLEMENT of the
    clean snake subset (q_match_path_geom_wrap). The closed-form oracle of
    match_path_geom cannot cover these urls (their endpoints sit near grid
    nodes where the ±20 m noise creates emission ties with no closed
    form), so the expected rows are derived from the FULL beam-decode
    twin's epath + step_0/step_n, with the first/last-edge fractional cuts
    applied in SQL — the matched_path_geometry twin
    (operators/postprocess.py:53-112, reference postprocess.py:99-123)."""
    wrap = f"""
wrapu AS MATERIALIZED (
  SELECT url FROM (
    SELECT url,
           (CAST(str_split(url, '_')[2] AS BIGINT) * {D.A_USER})
             % {int(D.SNAKE_LEN)} AS s0,
           (CAST(str_split(url, '_')[2] AS BIGINT) * {D.A_USER})
             % {int(D.SNAKE_LEN)} + max(pid) * {int(D.STEP_M)} AS s1
    FROM points GROUP BY url)
  WHERE NOT (s1 < {int(D.SNAKE_LEN)}
             AND s0 % {int(D.S)} BETWEEN {path_margin} AND {int(D.S) - path_margin}
             AND s1 % {int(D.S)} BETWEEN {path_margin} AND {int(D.S) - path_margin})
),
gstat AS MATERIALIZED (
  SELECT m.url, m.epath,
         CASE WHEN len(m.epath) = 1
              THEN CASE WHEN m.end_prob < {fl(CFG.prob_thres)} THEN 4 ELSE 1 END
              WHEN pow(m.transprod, 1.0 / m.n_steps) < {fl(CFG.prob_thres)} THEN 4
              ELSE 0 END AS status
  FROM bmetr m JOIN wrapu USING (url)
),
gstep AS MATERIALIZED (
  SELECT d.url, d.epath,
         c0.len0 / (c0.len0 + c0.len1) AS step_0,
         cn.len0 / (cn.len0 + cn.len1) AS step_n
  FROM gstat d
  JOIN bpath f USING (url)
  JOIN lpids lp USING (url)
  JOIN cand c0 ON c0.url = d.url AND c0.pid = lp.pids[1] AND c0.eid = f.rpath[1]
  JOIN cand cn ON cn.url = d.url AND cn.pid = lp.pids[len(lp.pids)]
              AND cn.eid = f.rpath[len(f.rpath)]
  WHERE d.status IN (0, 1)
),
grows AS (
  SELECT url, step_0, step_n, len(epath) AS n, t.i - 1 AS seq, epath[t.i] AS eid
  FROM gstep, LATERAL (SELECT unnest(range(1, len(epath) + 1)) AS i) t
)"""
    final = f"""
SELECT url, CAST(seq AS INT) AS seq, eid,
       round(CASE WHEN n = 1 THEN {fl(S)} * abs(step_n - step_0)
                  WHEN seq = 0 THEN {fl(S)} * (1.0 - step_0)
                  WHEN seq = n - 1 THEN {fl(S)} * step_n
                  ELSE {fl(S)} END, 1) AS dist_r,
       round(CASE WHEN seq = 0 OR n = 1
                  THEN {EAX('eid')} + ({EBX('eid')} - {EAX('eid')}) * step_0
                  ELSE {EAX('eid')} END, 1) AS x0_r,
       round(CASE WHEN seq = n - 1
                  THEN {EAY('eid')} + ({EBY('eid')} - {EAY('eid')}) * step_n
                  ELSE {EBY('eid')} END, 1) AS y1_r
FROM grows"""
    return (f"WITH RECURSIVE {PTS},\n{QUANT},\n{DP},\n{EDGES2},\n{CAND},\n"
            f"{PAIRS},\n{PRSG},\n{BEAM},{wrap}\n{final}")


# ---------------------------------------------------------------------------
# eval_lcss twin: classic-decode match output -> fraction-cut path geometry
# -> 25 m resample (resample_polyline twin) -> LCSS DP as an anti-diagonal
# recursive CTE (no intra-step dependence: diagonal d is an elementwise
# list op over diagonals d-1 and d-2), normalized by min(len) — reference
# trajDist.py:31-53 via operators/metrics.eval_similarity.
# ---------------------------------------------------------------------------

def EAX(e):
    return (f"(CASE WHEN ({e}) < 72 THEN {fl(X0)} + (({e}) % 8) * {fl(S)} "
            f"WHEN ({e}) < 144 THEN {fl(X0)} + ((({e}) - 72) // 8) * {fl(S)} "
            f"WHEN ({e}) < 216 THEN ({fl(X0)} + ((({e}) - 144) % 8) * {fl(S)}) + {fl(S)} "
            f"ELSE {fl(X0)} + ((({e}) - 216) // 8) * {fl(S)} END)")

def EAY(e):
    return (f"(CASE WHEN ({e}) < 72 THEN {fl(X0)} + (({e}) // 8) * {fl(S)} "
            f"WHEN ({e}) < 144 THEN {fl(X0)} + ((({e}) - 72) % 8) * {fl(S)} "
            f"WHEN ({e}) < 216 THEN {fl(X0)} + ((({e}) - 144) // 8) * {fl(S)} "
            f"ELSE ({fl(X0)} + ((({e}) - 216) % 8) * {fl(S)}) + {fl(S)} END)")

def EBX(e):
    return (f"(CASE WHEN ({e}) < 72 THEN ({fl(X0)} + (({e}) % 8) * {fl(S)}) + {fl(S)} "
            f"WHEN ({e}) < 144 THEN {fl(X0)} + ((({e}) - 72) // 8) * {fl(S)} "
            f"WHEN ({e}) < 216 THEN {fl(X0)} + ((({e}) - 144) % 8) * {fl(S)} "
            f"ELSE {fl(X0)} + ((({e}) - 216) // 8) * {fl(S)} END)")

def EBY(e):
    return (f"(CASE WHEN ({e}) < 72 THEN {fl(X0)} + (({e}) // 8) * {fl(S)} "
            f"WHEN ({e}) < 144 THEN ({fl(X0)} + ((({e}) - 72) % 8) * {fl(S)}) + {fl(S)} "
            f"WHEN ({e}) < 216 THEN {fl(X0)} + ((({e}) - 144) // 8) * {fl(S)} "
            f"ELSE {fl(X0)} + ((({e}) - 216) % 8) * {fl(S)} END)")

LCSS_RS = 25.0

LCSS_EPS = 10.0

LCSS = f"""
ded AS MATERIALIZED (
  SELECT url, end_prob, n_steps, transps,
         list_filter(eids_full, (x, i) -> i = 1 OR eids_full[i-1] <> x) AS epath
  FROM withlast
),
cstat AS MATERIALIZED (
  SELECT url, epath, n_steps,
         CASE WHEN len(epath) = 1
              THEN CASE WHEN end_prob < {fl(CFG.prob_thres)} THEN 4 ELSE 1 END
              WHEN pow(list_reduce(list_prepend(CAST(1.0 AS DOUBLE), transps),
                                   (a, x) -> a * x), 1.0 / n_steps) < {fl(CFG.prob_thres)} THEN 4
              ELSE 0 END AS status
  FROM ded
),
cstep AS MATERIALIZED (
  SELECT d.url, d.epath, d.n_steps,
         c0.len0 / (c0.len0 + c0.len1) AS step_0,
         cn.len0 / (cn.len0 + cn.len1) AS step_n,
         f.rpath, lp.pids
  FROM cstat d
  JOIN fin f USING (url)
  JOIN lpids lp USING (url)
  JOIN cand c0 ON c0.url = d.url AND c0.pid = lp.pids[1] AND c0.eid = f.rpath[1]
  JOIN cand cn ON cn.url = d.url AND cn.pid = lp.pids[len(lp.pids)]
              AND cn.eid = f.rpath[len(f.rpath)]
  WHERE d.status IN (0, 1)
),
-- matched-path polyline: cut first/last edge by fractions, inner joints
-- dropped (epath is connected by construction: classic decode + sp
-- expansion; cut_path_by_fractions' allclose dedup reduces to this)
pverts AS MATERIALIZED (
  SELECT url,
         CASE WHEN len(epath) = 1 THEN
           [struct_pack(x := (({EBX('epath[1]')} - {EAX('epath[1]')}) / {fl(S)}) * (step_0 * {fl(S)}) + {EAX('epath[1]')},
                        y := (({EBY('epath[1]')} - {EAY('epath[1]')}) / {fl(S)}) * (step_0 * {fl(S)}) + {EAY('epath[1]')}),
            struct_pack(x := CASE WHEN step_n * {fl(S)} >= {fl(S)} THEN {EBX('epath[1]')}
                             ELSE (({EBX('epath[1]')} - {EAX('epath[1]')}) / {fl(S)}) * (step_n * {fl(S)}) + {EAX('epath[1]')} END,
                        y := CASE WHEN step_n * {fl(S)} >= {fl(S)} THEN {EBY('epath[1]')}
                             ELSE (({EBY('epath[1]')} - {EAY('epath[1]')}) / {fl(S)}) * (step_n * {fl(S)}) + {EAY('epath[1]')} END)]
         ELSE
           list_concat(list_concat(
             [struct_pack(x := CASE WHEN step_0 * {fl(S)} >= {fl(S)} THEN {EBX('epath[1]')}
                               ELSE (({EBX('epath[1]')} - {EAX('epath[1]')}) / {fl(S)}) * (step_0 * {fl(S)}) + {EAX('epath[1]')} END,
                          y := CASE WHEN step_0 * {fl(S)} >= {fl(S)} THEN {EBY('epath[1]')}
                               ELSE (({EBY('epath[1]')} - {EAY('epath[1]')}) / {fl(S)}) * (step_0 * {fl(S)}) + {EAY('epath[1]')} END)],
             list_transform(list_slice(epath, 1, len(epath) - 1),
               e -> struct_pack(x := {EBX('e')}, y := {EBY('e')}))),
             [struct_pack(x := (({EBX('epath[len(epath)]')} - {EAX('epath[len(epath)]')}) / {fl(S)}) * (step_n * {fl(S)}) + {EAX('epath[len(epath)]')},
                          y := (({EBY('epath[len(epath)]')} - {EAY('epath[len(epath)]')}) / {fl(S)}) * (step_n * {fl(S)}) + {EAY('epath[len(epath)]')})])
         END AS verts,
         n_steps
  FROM cstep
),
tverts AS MATERIALIZED (
  SELECT url, list(struct_pack(x := x, y := y) ORDER BY pid) AS verts
  FROM spts GROUP BY url
),
-- both polylines through the resample twin (resample_polyline, step 25,
-- keep_last): consecutive-dup drop, cumulative arc length, samples at
-- k*step for k < ceil(total/step), np.interp's slope-first op order,
-- plus the kept last vertex
allv AS MATERIALIZED (
  SELECT url, 'p' AS side, verts FROM pverts
  UNION ALL SELECT url, 't', verts FROM tverts
),
dedv AS MATERIALIZED (
  SELECT url, side,
         list_filter(verts, (v, i) -> i = 1 OR v.x <> verts[i-1].x OR v.y <> verts[i-1].y) AS verts
  FROM allv
),
cumv AS MATERIALIZED (
  SELECT url, side, verts,
         list_reduce(list_prepend(CAST([0.0] AS DOUBLE[]),
           list_transform(range(1, len(verts)), i ->
             [sqrt((verts[i+1].x - verts[i].x) * (verts[i+1].x - verts[i].x)
                   + (verts[i+1].y - verts[i].y) * (verts[i+1].y - verts[i].y))])),
           (a, x) -> list_append(a, a[len(a)] + x[1])) AS cum
  FROM dedv
),
segr AS MATERIALIZED (
  SELECT url, side, t.m AS m,
         verts[t.m].x AS x0, verts[t.m].y AS y0,
         verts[t.m + 1].x AS x1, verts[t.m + 1].y AS y1,
         cum[t.m] AS c0, cum[t.m + 1] AS c1
  FROM cumv, unnest(range(1, len(verts))) AS t(m)
),
sampk AS MATERIALIZED (
  SELECT url, side, t.k AS k
  FROM cumv, unnest(range(CAST(ceil(cum[len(cum)] / {fl(LCSS_RS)}) AS BIGINT))) AS t(k)
  WHERE len(verts) > 1
),
sinterp AS MATERIALIZED (
  SELECT s.url, s.side, s.k,
         ((g.x1 - g.x0) / (g.c1 - g.c0)) * (CAST(s.k AS DOUBLE) * {fl(LCSS_RS)} - g.c0) + g.x0 AS x,
         ((g.y1 - g.y0) / (g.c1 - g.c0)) * (CAST(s.k AS DOUBLE) * {fl(LCSS_RS)} - g.c0) + g.y0 AS y
  FROM sampk s JOIN segr g
    ON g.url = s.url AND g.side = s.side
   AND CAST(s.k AS DOUBLE) * {fl(LCSS_RS)} >= g.c0
   AND CAST(s.k AS DOUBLE) * {fl(LCSS_RS)} < g.c1
),
-- keep_last vertex (seq = count) + single-vertex passthrough
sall AS MATERIALIZED (
  SELECT url, side, k, x, y FROM sinterp
  UNION ALL
  SELECT url, side,
         CAST(ceil(cum[len(cum)] / {fl(LCSS_RS)}) AS BIGINT) AS k,
         verts[len(verts)].x, verts[len(verts)].y
  FROM cumv WHERE len(verts) > 1
  UNION ALL
  SELECT url, side, CAST(0 AS BIGINT), verts[1].x, verts[1].y
  FROM cumv WHERE len(verts) = 1
),
samp AS MATERIALIZED (
  SELECT url, side, list(struct_pack(x := x, y := y) ORDER BY k) AS samples
  FROM sall GROUP BY url, side
),
ab AS MATERIALIZED (
  SELECT t.url,
         t.samples AS av, p.samples AS bv,
         len(t.samples) AS n0, len(p.samples) AS n1
  FROM (SELECT * FROM samp WHERE side = 't') t
  JOIN (SELECT * FROM samp WHERE side = 'p') p USING (url)
),
-- LCSS DP by anti-diagonals: D_d[i+1] = c[i][d-i] (full-length lists,
-- out-of-diagonal cells 0); no intra-step dependence, so each diagonal is
-- a pure elementwise list op over the two previous diagonals
ldp(url, d, d1, d2) AS (
  SELECT url, CAST(1 AS BIGINT),
         list_transform(range(n0 + 1), i -> CAST(0 AS BIGINT)),
         list_transform(range(n0 + 1), i -> CAST(0 AS BIGINT))
  FROM ab
  UNION ALL
  SELECT l.url, l.d + 1,
         list_transform(range(a.n0 + 1), i ->
           CASE WHEN i >= 1 AND (l.d + 1 - i) BETWEEN 1 AND a.n1 THEN
             CASE WHEN sqrt((a.av[i].x - a.bv[l.d + 1 - i].x) * (a.av[i].x - a.bv[l.d + 1 - i].x)
                            + (a.av[i].y - a.bv[l.d + 1 - i].y) * (a.av[i].y - a.bv[l.d + 1 - i].y))
                       < {fl(LCSS_EPS)}
                  THEN l.d2[i] + 1
                  ELSE greatest(l.d1[i], l.d1[i + 1]) END
           ELSE 0 END),
         l.d1
  FROM ldp l JOIN ab a USING (url)
  WHERE l.d < a.n0 + a.n1
),
lcss AS (
  SELECT l.url, CAST(l.d1[a.n0 + 1] AS DOUBLE) / least(a.n0, a.n1) AS v
  FROM ldp l JOIN ab a USING (url)
  WHERE l.d = a.n0 + a.n1
)
"""

LCSS_FINAL = "SELECT url, round(v, 6) AS lcss_r FROM lcss"


def eval_lcss_oracle_sql() -> str:
    """Full eval_lcss twin (q_eval_lcss: classic cfg, resample=25 m)."""
    return (f"WITH RECURSIVE {PTS},\n{QUANT},\n{DP},\n{EDGES2},\n{CAND},\n"
            f"{PAIRS},\n{CLASSIC},\n{LCSS}\n{LCSS_FINAL}")


def match_single_point_oracle_sql() -> str:
    """Single-point degenerate twin (q_match_single_point): the pipeline's
    STATUS_ONE_POINT branch — best candidate by (dist, eid) of the url's
    only (quantized) point, status 2; status 3 when nothing is in radius
    (reference matching.py:128-135)."""
    return f"""WITH {PTS},\n{QUANT},\n{EDGES2},
    p0 AS (SELECT url, x, y FROM qpts WHERE pid0 = 0),
    c0 AS (
      SELECT p.url, e.eid, p.x AS px, p.y AS py, e.ax, e.ay, e.bx, e.by,
             least(greatest(((e.bx - e.ax) * (p.x - e.ax) + (e.by - e.ay) * (p.y - e.ay))
                            / ((e.bx - e.ax) * (e.bx - e.ax) + (e.by - e.ay) * (e.by - e.ay)),
                            0.0), 1.0) AS t
      FROM p0 p CROSS JOIN edg e),
    c1 AS (
      SELECT url, eid,
             sqrt((px - (ax + (bx - ax) * t)) * (px - (ax + (bx - ax) * t))
                  + (py - (ay + (by - ay) * t)) * (py - (ay + (by - ay) * t))) AS dist
      FROM c0),
    best AS (
      SELECT url, eid,
             row_number() OVER (PARTITION BY url ORDER BY dist, eid) AS rn
      FROM c1 WHERE dist <= {fl(CFG.radius)})
    SELECT p.url,
           CAST(CASE WHEN b.eid IS NULL THEN 3 ELSE 2 END AS INT) AS status,
           coalesce(CAST(b.eid AS VARCHAR), '') AS epath_s
    FROM (SELECT DISTINCT url FROM p0) p
    LEFT JOIN (SELECT url, eid FROM best WHERE rn = 1) b USING (url)"""


def match_bbox_outside_oracle_sql() -> str:
    """Out-of-coverage twin (q_match_bbox_outside): every trajectory is
    translated 50 km east of the network, so the bbox/no-candidate gate
    (reference matching.py:155-168; the engine's left-anti reattach) must
    return status 3 with no path for every url."""
    return (f"WITH {PTS}\n"
            "SELECT DISTINCT url, CAST(3 AS INT) AS status, '' AS epath_s "
            "FROM points")


# ---------------------------------------------------------------------------
# eval_edr twin: same classic-match + cut + resample chain as eval_lcss,
# different DP (reference trajDist.py:55-88): c[i][0]=i, c[0][j]=j,
# c[i][j] = min(c[i][j-1]+1, c[i-1][j]+1, c[i-1][j-1]+sub) — again by
# anti-diagonals, with the boundary cells carried in the diagonal lists.
# ---------------------------------------------------------------------------

_LCSS_PREP, _LCSS_DP = LCSS.split("-- LCSS DP by anti-diagonals", 1)

EDR = _LCSS_PREP + f"""-- EDR DP by anti-diagonals (boundaries in-band)
edp(url, d, d1, d2) AS (
  SELECT url, CAST(1 AS BIGINT),
         -- D_1: c[0][1] = 1, c[1][0] = 1
         list_transform(range(n0 + 1), i ->
           CASE WHEN i = 0 AND n1 >= 1 THEN 1.0e0
                WHEN i = 1 THEN 1.0e0 ELSE 0.0e0 END),
         -- D_0: c[0][0] = 0
         list_transform(range(n0 + 1), i -> 0.0e0)
  FROM ab
  UNION ALL
  SELECT l.url, l.d + 1,
         list_transform(range(a.n0 + 1), i ->
           CASE WHEN (l.d + 1 - i) < 0 OR (l.d + 1 - i) > a.n1 THEN 0.0e0
                WHEN i = 0 THEN CAST(l.d + 1 AS DOUBLE)
                WHEN l.d + 1 = i THEN CAST(i AS DOUBLE)
                ELSE least(l.d1[i + 1] + 1, l.d1[i] + 1,
                           l.d2[i] + CASE WHEN
                             sqrt((a.av[i].x - a.bv[l.d + 1 - i].x) * (a.av[i].x - a.bv[l.d + 1 - i].x)
                                  + (a.av[i].y - a.bv[l.d + 1 - i].y) * (a.av[i].y - a.bv[l.d + 1 - i].y))
                             < {fl(LCSS_EPS)} THEN 0.0e0 ELSE 1.0e0 END)
           END),
         l.d1
  FROM edp l JOIN ab a USING (url)
  WHERE l.d < a.n0 + a.n1
),
edr AS (
  SELECT l.url, l.d1[a.n0 + 1] / greatest(a.n0, a.n1) AS v
  FROM edp l JOIN ab a USING (url)
  WHERE l.d = a.n0 + a.n1
)
"""

EDR_FINAL = "SELECT url, round(v, 6) AS edr_r FROM edr"


def eval_edr_oracle_sql() -> str:
    """Full eval_edr twin (q_eval_edr: classic cfg, resample=25 m)."""
    return (f"WITH RECURSIVE {PTS},\n{QUANT},\n{DP},\n{EDGES2},\n{CAND},\n"
            f"{PAIRS},\n{CLASSIC},\n{EDR}\n{EDR_FINAL}")


# ---------------------------------------------------------------------------
# eval_erp twin: same prep chain; ERP DP (reference trajDist.py:90-124).
# Reference quirk preserved: the boundary rows/columns are the FULL
# gap-distance sums (c[i][0] = sum d(a,g) for every i >= 1), not running
# sums. Gap point g = origin (eval_similarity passes np.zeros(2)), so
# d(x, g) = sqrt(x^2 + y^2). Boundary sums are sequential folds (<= 1 ulp
# from numpy's pairwise sum, absorbed by the 6-dp gate rounding).
# ---------------------------------------------------------------------------

ERP = _LCSS_PREP + f"""-- ERP DP by anti-diagonals (full-sum boundaries in-band)
abg AS MATERIALIZED (
  SELECT *,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(av, v -> sqrt(v.x * v.x + v.y * v.y))),
           (a, x) -> a + x) AS r1sum,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(bv, v -> sqrt(v.x * v.x + v.y * v.y))),
           (a, x) -> a + x) AS r2sum
  FROM ab
),
pdp(url, d, d1, d2) AS (
  SELECT url, CAST(1 AS BIGINT),
         -- D_1: c[0][1] = r2sum, c[1][0] = r1sum
         list_transform(range(n0 + 1), i ->
           CASE WHEN i = 0 AND n1 >= 1 THEN r2sum
                WHEN i = 1 THEN r1sum ELSE 0.0e0 END),
         -- D_0: c[0][0] = 0
         list_transform(range(n0 + 1), i -> 0.0e0)
  FROM abg
  UNION ALL
  SELECT l.url, l.d + 1,
         list_transform(range(a.n0 + 1), i ->
           CASE WHEN (l.d + 1 - i) < 0 OR (l.d + 1 - i) > a.n1 THEN 0.0e0
                WHEN i = 0 THEN a.r2sum
                WHEN l.d + 1 = i THEN a.r1sum
                ELSE least(
                  l.d1[i] + sqrt(a.av[i].x * a.av[i].x + a.av[i].y * a.av[i].y),
                  l.d1[i + 1] + sqrt(a.bv[l.d + 1 - i].x * a.bv[l.d + 1 - i].x
                                     + a.bv[l.d + 1 - i].y * a.bv[l.d + 1 - i].y),
                  l.d2[i] + sqrt((a.av[i].x - a.bv[l.d + 1 - i].x) * (a.av[i].x - a.bv[l.d + 1 - i].x)
                                 + (a.av[i].y - a.bv[l.d + 1 - i].y) * (a.av[i].y - a.bv[l.d + 1 - i].y)))
           END),
         l.d1
  FROM pdp l JOIN abg a USING (url)
  WHERE l.d < a.n0 + a.n1
),
erp AS (
  SELECT l.url, l.d1[a.n0 + 1] AS v
  FROM pdp l JOIN abg a USING (url)
  WHERE l.d = a.n0 + a.n1
)
"""

ERP_FINAL = "SELECT url, round(v, 6) AS erp_r FROM erp"


def eval_erp_oracle_sql() -> str:
    """Full eval_erp twin (q_eval_erp: classic cfg, resample=25 m)."""
    return (f"WITH RECURSIVE {PTS},\n{QUANT},\n{DP},\n{EDGES2},\n{CAND},\n"
            f"{PAIRS},\n{CLASSIC},\n{ERP}\n{ERP_FINAL}")
