"""match_pages' one-pass plan vs its relational plan on a 1,600-node
network: identical rows on a fixture spread over several 3 km regions of
the grid, with a long trajectory, an off-network trajectory (status 3),
a single-point page, a page with no coordinates, and a trajectory whose
~900 m steps are matched in-kernel."""

import math

import numpy as np
import pandas as pd
import pytest

from st_mapmatching_spark.config import M_PER_DEG, MatchConfig
from st_mapmatching_spark.operators.matching import choose_plan, match_pages
from st_mapmatching_spark.sources import derived as D

CFG = MatchConfig(lon0=D.LON0, lat0=D.LAT0)
K = math.cos(math.radians(D.LAT0))


def _page(url, pts):
    lines = []
    for i, (x, y) in enumerate(pts):
        lon = x / (M_PER_DEG * K) + D.LON0
        lat = y / M_PER_DEG + D.LAT0
        lines.append(f"GEO {i} {lon:.7f} {lat:.7f} {1700000000 + i}")
    return (url, "\n".join(lines))


@pytest.fixture(scope="module")
def bignet():
    # 40x40 = 1,600 nodes (span 9.75 km), metric grid, eids global
    return D.big_grid_network(CFG, g=40)


@pytest.fixture(scope="module")
def fixture_pages(spark):
    rows = []
    # t1: row-following inside the tile [0, 3000)^2
    rows.append(_page("t1", [(100.0 + 40 * i, 625.0 + ((i * 31) % 41 - 20))
                             for i in range(30)]))
    # t2: t1's shape shifted into the negative quadrant (the grid is
    # uniform, so it must match the same way t1 does)
    rows.append(_page("t2", [(100.0 - 5000.0 + 40 * i,
                              625.0 - 4500.0 + ((i * 31) % 41 - 20))
                             for i in range(30)]))
    # t3: spans ~7 km, across three 3 km tiles
    rows.append(_page("t3", [(-3500.0 + 70 * i, 125.0) for i in range(100)]))
    # t4: far off-network -> status 3
    rows.append(_page("t4", [(60000.0 + 10 * i, 60000.0) for i in range(5)]))
    # t5: single point -> status 2
    rows.append(_page("t5", [(150.0, 630.0)]))
    # t6: no GEO lines at all -> status 3
    rows.append(("t6", "no coordinates here"))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["url", "text"]))


def _relational(cfg):
    from dataclasses import replace
    return replace(cfg, sp_broadcast_max_rows=0)


def _assert_same_rows(got, want):
    """Url-indexed matched frames equal column for column: status and
    epath exactly, the metrics to 1e-12."""
    assert list(got.index) == list(want.index)
    assert (got.status == want.status).all(), \
        got.status.compare(want.status)
    for url in want.index:
        g_ep = got.loc[url].epath
        w_ep = want.loc[url].epath
        g_ep = None if g_ep is None else [int(e) for e in g_ep]
        w_ep = None if w_ep is None else [int(e) for e in w_ep]
        assert g_ep == w_ep, f"{url}: {g_ep} != {w_ep}"
        for c in ("step_0", "step_n", "dist", "avg_speed", "prob",
                  "norm_prob", "dist_prob", "trans_prob", "dir_prob"):
            gv, wv = float(got.loc[url][c]), float(want.loc[url][c])
            if np.isnan(wv):
                assert np.isnan(gv), f"{url}:{c}"
            else:
                assert gv == pytest.approx(wv, rel=1e-12, abs=1e-12), \
                    f"{url}:{c}"


def test_onepass_matches_relational_bignet(spark, bignet, fixture_pages):
    """The default plan equals the relational plan row for row. The
    default CFG takes the one-pass plan on this 1,600-node network: its
    shortest paths are searched in-kernel, so no network size bounds
    it."""
    assert choose_plan(bignet, CFG).name == "onepass"
    want = (match_pages(spark, fixture_pages, bignet, _relational(CFG))
            .toPandas().set_index("url").sort_index())
    got = (match_pages(spark, fixture_pages, bignet, CFG)
           .toPandas().set_index("url").sort_index())
    _assert_same_rows(got, want)
    # sanity on the fixture's intent
    assert int(want.loc["t1"].status) == 0
    assert int(want.loc["t2"].status) == 0
    assert int(want.loc["t3"].status) == 0
    assert int(want.loc["t4"].status) == 3
    assert int(want.loc["t5"].status) == 2
    assert int(want.loc["t6"].status) == 3


def test_long_steps_match_in_kernel(spark, bignet):
    """A clean trajectory with ~900 m post-simplification steps: longer
    than the 700 m an sp table precomputed to euclid 1,300 m could cover
    (1300 - 2*(radius 50 + edge 250)). The one-pass plan searches its
    shortest paths on demand in the kernel, and its row equals the
    relational plan's."""
    pts = [(150.0, 640.0), (1050.0, 610.0), (1950.0, 640.0),
           (2125.0, 1500.0), (2110.0, 2400.0)]
    steps = np.hypot(*np.diff(np.array(pts), axis=0).T)
    assert steps.max() > 1300.0 - 2 * (CFG.radius + 250.0)
    pages = spark.createDataFrame(pd.DataFrame([_page("t7", pts)],
                                               columns=["url", "text"]))
    got = (match_pages(spark, pages, bignet, CFG)
           .toPandas().set_index("url").sort_index())
    want = (match_pages(spark, pages, bignet, _relational(CFG))
            .toPandas().set_index("url").sort_index())
    _assert_same_rows(got, want)
    assert int(want.loc["t7"].status) == 0
