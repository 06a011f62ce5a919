"""Deterministic derivations shared bit-for-bit by the Spark engine and the
DuckDB SQL oracle.

The driver's correctness gate runs each `queries()` entry against an ANSI-SQL
oracle over the same parquet. Geospatial queries therefore synthesize their
inputs from the `events` table with pure integer/float arithmetic that both
engines evaluate identically (same literals, same association order):

* points: one point per event, placed on a deterministic 9x9 metric grid
  road network with a deterministic along-edge position and +-30 m lateral
  offset; trajectory key = user_id, order = (ts, event_id).
* network: the same grid expressed three ways — pandas (for the engine's
  Network), Spark columns, and a SQL CTE — all from the shared constants.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import M_PER_DEG, MatchConfig

# ---- shared constants (inlined into SQL at full precision) ----------------
LON0, LAT0 = 114.0, 22.5
K = math.cos(math.radians(LAT0))          # 0.9238795325112867
MK = M_PER_DEG * K                        # 102730.71684600176
G = 9                                     # grid nodes per side
S = 250.0                                 # grid spacing, meters
X0 = -1000.0                              # grid origin (metric)
N_ONEWAY = 2 * G * (G - 1)                # 144 forward edges
N_EDGES = 2 * N_ONEWAY                    # + reverse twins
CELL = 64.0                               # cell size used by SQL-checked queries
RADIUS = 50.0
TOP_K = 5

# integer mixers for the deterministic placement
A_EDGE, A_T, A_S = 7919, 104729, 31


def sql_grid_edges_pandas() -> pd.DataFrame:
    """edges(eid, src, dst, way_id, dir, speed, geom METRIC) — 2-vertex
    straight segments; reverse twins at eid+144. Metric geometry goes to
    Network(geom_metric=True) so coordinates match the SQL oracle's grid
    exactly (a lon/lat roundtrip costs ~1e-10 m, enough to flip exact
    radius-boundary candidates)."""
    rows = []
    for eid in range(N_ONEWAY):
        horiz = eid < G * (G - 1)
        if horiz:
            i, j = eid % (G - 1), eid // (G - 1)
            ax, ay = X0 + i * S, X0 + j * S
            bx, by = ax + S, ay
            src, dst = j * G + i, j * G + i + 1
        else:
            vb = eid - G * (G - 1)
            i, j = vb // (G - 1), vb % (G - 1)
            ax, ay = X0 + i * S, X0 + j * S
            bx, by = ax, ay + S
            src, dst = j * G + i, (j + 1) * G + i
        rows.append((eid, src, dst, eid, 1, 15.0, [[ax, ay], [bx, by]]))
        rows.append((eid + N_ONEWAY, dst, src, eid, -1, 15.0, [[bx, by], [ax, ay]]))
    return pd.DataFrame(rows, columns=["eid", "src", "dst", "way_id", "dir", "speed", "geom"])


def sql_grid_nodes_pandas() -> pd.DataFrame:
    rows = [(j * G + i, X0 + i * S, X0 + j * S) for j in range(G) for i in range(G)]
    return pd.DataFrame(rows, columns=["nid", "x", "y"])


def grid_network(cfg: MatchConfig | None = None):
    from ..graph.network import Network
    cfg = cfg or MatchConfig(lon0=LON0, lat0=LAT0)
    return Network(sql_grid_edges_pandas(), sql_grid_nodes_pandas(), cfg,
                   geom_metric=True)


# ---------------------------------------------------------------------------
# derived points: Spark side
# ---------------------------------------------------------------------------

# snake-walk constants: trajectories follow a boustrophedon route over the
# grid's horizontal rows joined by the right/left edge connectors, so the
# derived points are genuinely road-following (map matching succeeds) while
# staying a pure closed form both engines evaluate identically.
ROW_LEN = (G - 1) * S          # 2000 m per row
BLOCK = ROW_LEN + S            # row + connector
SNAKE_LEN = (G - 1) * BLOCK + ROW_LEN   # s in [0, SNAKE_LEN)
STEP_M = 40.0                  # along-route spacing between points
A_USER = 9973                  # per-user start offset mixer


def derive_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> points(url, pid, x, y, t_epoch); metric coords following
    the deterministic snake route over the grid, +-20 m lateral noise."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    e = F.col("event_id").cast("long")
    u = F.col("user_id").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pid = (F.row_number().over(w) - 1).cast("int")

    s = ((u * A_USER) % F.lit(int(SNAKE_LEN)) + pid.cast("long") * F.lit(int(STEP_M))) \
        % F.lit(int(SNAKE_LEN))
    s = s.cast("double")
    block = F.floor(s / F.lit(BLOCK)).cast("long")
    within = s - block.cast("double") * F.lit(BLOCK)
    on_row = within <= F.lit(ROW_LEN)
    even = block % 2 == 0
    y_row = F.lit(X0) + block.cast("double") * F.lit(S)
    x_on_row = F.when(even, F.lit(X0) + within).otherwise(F.lit(-X0) - within)
    lat = (((e * A_S) % 81) - 40) / F.lit(40.0) * F.lit(20.0)   # +-20 m noise
    px = F.when(on_row, x_on_row).otherwise(F.when(even, F.lit(-X0)).otherwise(F.lit(X0))) \
        + F.when(on_row, F.lit(0.0)).otherwise(lat)
    py = F.when(on_row, y_row + lat).otherwise(y_row + (within - F.lit(ROW_LEN)))

    return ev.select(
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias("url"),
        pid.alias("pid"),
        px.alias("x"), py.alias("y"),
        # parquet ts is TIMESTAMP_NTZ; with session TZ pinned to UTC this
        # equals DuckDB's epoch_ms(ts)
        F.unix_millis(F.col("ts").cast("timestamp_ltz")).alias("t_ms"),
        e.alias("event_id"))


def replicate_points(points: DataFrame, mult: int) -> DataFrame:
    """Deterministically replicate trajectories (url suffixed per copy) —
    used by the scaling benchmark to reach a compute-bound regime while
    keeping the input identical across parallelism levels."""
    if mult <= 1:
        return points
    spark = points.sparkSession
    copies = spark.range(mult).select(F.col("id").alias("_copy"))
    return (points.crossJoin(copies)
            .withColumn("url", F.concat(F.col("url"), F.lit("_r"), F.col("_copy")))
            .drop("_copy"))


# ---------------------------------------------------------------------------
# big synthetic network + snake points (the planet-path benchmark input):
# the same metric grid / boustrophedon construction generalized to g nodes
# per side, fully numpy-vectorized (a 350x350 grid is 122,500 nodes /
# 488,600 directed edges — a Python per-edge loop would dominate setup).
# No DuckDB twin is needed: correctness of every matcher route is
# hash-gated on the 9x9 oracle grid (match_grid: the onepass plan,
# match_grid_bignet: the relational plan, match_grid_sharded:
# match_points); this input only measures throughput and scaling.
# ---------------------------------------------------------------------------

def big_grid_edges_nodes(g: int, s: float = S):
    """(edges_df, nodes_df) for a g x g metric grid centered on the
    origin: 2-vertex straight segments, reverse twins at eid + n_oneway —
    the 9x9 layout of sql_grid_edges_pandas generalized and vectorized."""
    x0 = -(g - 1) * s / 2.0
    n_hor = g * (g - 1)
    n_oneway = 2 * n_hor

    eid = np.arange(n_oneway, dtype=np.int64)
    horiz = eid < n_hor
    i = np.where(horiz, eid % (g - 1), (eid - n_hor) // (g - 1))
    j = np.where(horiz, eid // (g - 1), (eid - n_hor) % (g - 1))
    ax = x0 + i * s
    ay = x0 + j * s
    bx = np.where(horiz, ax + s, ax)
    by = np.where(horiz, ay, ay + s)
    src = np.where(horiz, j * g + i, j * g + i)
    dst = np.where(horiz, j * g + i + 1, (j + 1) * g + i)

    fwd = pd.DataFrame({
        "eid": eid, "src": src, "dst": dst, "way_id": eid,
        "dir": np.int64(1), "speed": 15.0,
        "geom": [[[a, b], [c, d]] for a, b, c, d in zip(ax, ay, bx, by)]})
    rev = pd.DataFrame({
        "eid": eid + n_oneway, "src": dst, "dst": src, "way_id": eid,
        "dir": np.int64(-1), "speed": 15.0,
        "geom": [[[c, d], [a, b]] for a, b, c, d in zip(ax, ay, bx, by)]})
    edges = pd.concat([fwd, rev], ignore_index=True)

    jj, ii = np.divmod(np.arange(g * g, dtype=np.int64), g)
    nodes = pd.DataFrame({"nid": np.arange(g * g, dtype=np.int64),
                          "x": x0 + ii * s, "y": x0 + jj * s})
    return edges, nodes


def big_grid_network(cfg: MatchConfig | None = None, g: int = 350,
                     s: float = S):
    from ..graph.network import Network
    cfg = cfg or MatchConfig(lon0=LON0, lat0=LAT0)
    e, n = big_grid_edges_nodes(g, s)
    return Network(e, n, cfg, geom_metric=True)


def derive_points_snake(spark: SparkSession, sf_dir: str, g: int,
                        s: float = S, step: float = STEP_M) -> DataFrame:
    """derive_points generalized to a g x g grid: boustrophedon route over
    the grid's horizontal rows joined by alternating edge connectors, so
    points are road-following on big_grid_network(g). Same closed form as
    derive_points (which is this with g=9 plus the shared oracle
    constants), except route-end handling: instead of wrapping modulo the
    route (a whole-grid teleport that makes the trajectory's bbox the
    entire network), trajectories PING-PONG: reflect at the route ends
    and walk back. Continuous, road-following, bbox bounded by the walk
    length."""
    x0 = -(g - 1) * s / 2.0
    row_len = (g - 1) * s
    block = row_len + s
    snake_len = (g - 1) * block + row_len

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    e = F.col("event_id").cast("long")
    u = F.col("user_id").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pid = (F.row_number().over(w) - 1).cast("int")

    two_l = 2 * (int(snake_len) - 1)
    m = ((u * A_USER) % F.lit(two_l) + pid.cast("long") * F.lit(int(step))) \
        % F.lit(two_l)
    sa = F.when(m < F.lit(int(snake_len) - 1), m).otherwise(F.lit(two_l) - m)
    sa = sa.cast("double")
    blk = F.floor(sa / F.lit(block)).cast("long")
    within = sa - blk.cast("double") * F.lit(block)
    on_row = within <= F.lit(row_len)
    even = blk % 2 == 0
    y_row = F.lit(x0) + blk.cast("double") * F.lit(s)
    x_on_row = F.when(even, F.lit(x0) + within).otherwise(F.lit(-x0) - within)
    lat = (((e * A_S) % 81) - 40) / F.lit(40.0) * F.lit(20.0)
    px = F.when(on_row, x_on_row).otherwise(F.when(even, F.lit(-x0)).otherwise(F.lit(x0))) \
        + F.when(on_row, F.lit(0.0)).otherwise(lat)
    py = F.when(on_row, y_row + lat).otherwise(y_row + (within - F.lit(row_len)))

    return ev.select(
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias("url"),
        pid.alias("pid"), px.alias("x"), py.alias("y"),
        F.unix_millis(F.col("ts").cast("timestamp_ltz")).alias("t_ms"),
        e.alias("event_id"))


# ---------------------------------------------------------------------------
# derived points / network: DuckDB SQL side
# ---------------------------------------------------------------------------

POINTS_CTE = f"""
points_base AS (
  SELECT 'user_' || CAST(user_id AS VARCHAR) AS url,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS pid,
         CAST(user_id AS BIGINT) AS uid,
         CAST(event_id AS BIGINT) AS event_id,
         epoch_ms(ts) AS t_ms
  FROM events
),
points_s AS (
  SELECT url, pid, event_id, t_ms,
         CAST(((uid * {A_USER}) % {int(SNAKE_LEN)}
               + CAST(pid AS BIGINT) * {int(STEP_M)}) % {int(SNAKE_LEN)} AS DOUBLE) AS s,
         ((event_id * {A_S}) % 81 - 40) / 40.0 * 20.0 AS lat
  FROM points_base
),
points_b AS (
  SELECT url, pid, event_id, t_ms, s, lat,
         CAST(floor(s / {BLOCK!r}) AS BIGINT) AS block,
         s - CAST(CAST(floor(s / {BLOCK!r}) AS BIGINT) AS DOUBLE) * {BLOCK!r} AS within
  FROM points_s
),
points AS (
  SELECT url, pid,
         (CASE WHEN within <= {ROW_LEN!r}
               THEN CASE WHEN block % 2 = 0 THEN {X0!r} + within ELSE {-X0!r} - within END
               ELSE CASE WHEN block % 2 = 0 THEN {-X0!r} ELSE {X0!r} END END)
         + (CASE WHEN within <= {ROW_LEN!r} THEN 0.0 ELSE lat END) AS x,
         (CASE WHEN within <= {ROW_LEN!r}
               THEN ({X0!r} + CAST(block AS DOUBLE) * {S!r}) + lat
               ELSE ({X0!r} + CAST(block AS DOUBLE) * {S!r}) + (within - {ROW_LEN!r}) END) AS y,
         t_ms, event_id
  FROM points_b
)
"""

EDGES_CTE = f"""
grid_fwd AS (
  SELECT CAST(k AS BIGINT) AS eid,
         CASE WHEN k < {G * (G - 1)} THEN {X0!r} + (k % {G - 1}) * {S!r}
              ELSE {X0!r} + ((k - {G * (G - 1)}) // {G - 1}) * {S!r} END AS ax,
         CASE WHEN k < {G * (G - 1)} THEN {X0!r} + (k // {G - 1}) * {S!r}
              ELSE {X0!r} + ((k - {G * (G - 1)}) % {G - 1}) * {S!r} END AS ay,
         (k < {G * (G - 1)}) AS horiz
  FROM range({N_ONEWAY}) t(k)
),
edges AS (
  SELECT eid, ax, ay, horiz FROM grid_fwd
  UNION ALL
  SELECT eid + {N_ONEWAY}, ax, ay, horiz FROM grid_fwd
)
"""

# exact point-to-segment distance for axis-aligned 2-vertex edges
DIST_EXPR = (f"CASE WHEN e.horiz THEN "
             f"sqrt(pow(p.x - greatest(e.ax, least(p.x, e.ax + {S!r})), 2) + pow(p.y - e.ay, 2)) "
             f"ELSE sqrt(pow(p.x - e.ax, 2) + pow(p.y - greatest(e.ay, least(p.y, e.ay + {S!r})), 2)) END")
