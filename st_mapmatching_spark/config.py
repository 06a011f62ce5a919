"""Engine hyper-parameters.

Defaults mirror the reference matcher's defaults
(/root/reference/mapmatching/matching.py:38-44,64-69 and
/root/reference/mapmatching/match/geometricAnalysis.py:6) so that the
oracle and the engine score trajectories identically.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

# Pinned local metric projection (replaces the reference's
# `estimate_utm_crs`, /root/reference/mapmatching/graph/geograph.py:302-310,
# with a deterministic closed form shared by engine, oracle and SQL oracles).
EARTH_RADIUS_M = 6_371_008.8
M_PER_DEG = math.pi / 180.0 * EARTH_RADIUS_M  # 111194.92664455874


@dataclass(frozen=True)
class MatchConfig:
    # candidate retrieval (matching.py:40-44)
    top_k: int = 5
    radius: float = 50.0            # candidate search radius, meters
    gps_sigma: float = 20.0         # Gaussian emission deviation, meters
    gps_bias: float = 0.0

    # route planning caps (matching.py:38-39)
    max_dist: float = 10_000.0      # bounded-Dijkstra search radius, meters
    # NOTE: the reference also caps A* at max_steps=2000 heap pops
    # (/root/reference/mapmatching/graph/astar.py:89). That is a
    # performance guard, not a semantic: whenever the reference search
    # succeeds, bounded Dijkstra returns the same optimal cost. We bound
    # only by max_dist.

    # decision thresholds
    prob_thres: float = 0.8         # FAILED below this (matching.py:44)

    # beam Viterbi (viterbi.py:39,107)
    prune_start_layer: int = 3
    prune_trim_factor: float = 0.75
    beam_cap: int = 100

    # simplification (matching.py:72-82)
    simplify: bool = True
    tolerance: float = 5.0          # Douglas-Peucker, meters
    dir_trans: bool = True          # direction-aware transition prob

    # flag identification (candidatesGraph.py:58)
    flag_ratio_eps: float = 0.05
    flag_dist_eps: float = 5.0

    # cell grid (replaces the GeoPandas STRtree; new engineering)
    cell_size: float = 64.0         # meters; >= radius keeps covers tiny

    # plan switch: only the sign is read. <= 0 pins the relational plan
    # (distributed sp table, sp equi-join + post-Viterbi epath attach,
    # zero driver-side collection); > 0 picks the onepass plan, which
    # searches its shortest paths in-kernel (operators/matching.choose_plan)
    sp_broadcast_max_rows: int = 2_000_000

    # run the match pipeline on xxhash64(url) longs instead of the url
    # string (restored on the final result by one slim join): numeric
    # sorts/shuffles and ~40% slimmer Arrow batches on the candidate
    # tables. Disable for >1e8-trajectory corpora (64-bit collision odds)
    # or pre-assign numeric ids upstream.
    url_id_encode: bool = True

    # decode strategy (matching.py:64, viterbi.py:200-246): True is the reference
    # default beam, False the classic full-lattice Viterbi (both lockstep, hmm.py)
    beam_search: bool = True

    # projection origin (lon, lat) — pinned per network
    lon0: float = 114.0
    lat0: float = 22.5


DEFAULT_CONFIG = MatchConfig()
