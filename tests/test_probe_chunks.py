"""The one-pass kernel's chunk cut: _probe_match probes, scores, decodes
and stitches url-aligned chunks of at most matching.CHUNK_ROWS probe
rows ((point, cell-edge) pairs), one at a time. A url over the budget is
a chunk of its own. The cut must not change a single bit of the output,
and no kernel call may see more than one chunk."""

import contextlib
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark import cloudpickle

from st_mapmatching_spark.kernels import linear_ref
from st_mapmatching_spark.kernels.cells import xy_to_cell
from st_mapmatching_spark.kernels.projection import xy_to_lonlat
from st_mapmatching_spark.operators import matching
from st_mapmatching_spark.operators.candidates import (extract_arrays,
                                                       extract_simplify)
from st_mapmatching_spark.sources.extract import url_codes

NEAR_MISS = "https://example.com/traj/3_near_miss"


def _near_miss_page(net, cfg) -> dict:
    """A page whose points fall in indexed cells (they have probe rows)
    but lie 70-90 m east of the grid, beyond cfg.radius from every edge:
    no in-radius candidate, status 3."""
    _, y0, x1, y1 = net.bbox_xy
    xy = np.array([[x1 + 70.0, (y0 + y1) / 2], [x1 + 80.0, (y0 + y1) / 2 + 40],
                   [x1 + 90.0, (y0 + y1) / 2 + 80]])
    lon, lat = xy_to_lonlat(xy[:, 0], xy[:, 1], cfg.lon0, cfg.lat0)
    text = "\n".join(f"GEO {i} {a:.7f} {b:.7f} {1_700_000_000 + 15 * i}"
                     for i, (a, b) in enumerate(zip(lon, lat)))
    return {"url": NEAR_MISS, "text": text}


@pytest.fixture(scope="module")
def chunk_pages(pages, net, cfg) -> pd.DataFrame:
    """The fixture pages with the near-miss url between traj/3 and
    traj/4, in page order and in url order."""
    p = pages[["url", "text"]]
    at = int(np.flatnonzero(p.url == "https://example.com/traj/3")[0]) + 1
    return pd.concat([p.iloc[:at], pd.DataFrame([_near_miss_page(net, cfg)]),
                      p.iloc[at:]], ignore_index=True)


def _extract(pages: pd.DataFrame, cfg):
    """extract_arrays over a pandas pages frame, each point's url code
    mapped back to its url string."""
    url = pa.array(pages.url.tolist(), pa.string())
    code, page = url_codes(url)
    u, pid, x, y = extract_arrays(code, pa.array(pages.text.tolist(),
                                                 pa.string()),
                                  cfg.lon0, cfg.lat0, cfg.tolerance,
                                  cfg.simplify)
    return pages.url.to_numpy()[page[u]], pid, x, y


def _cell_index(net, cfg):
    pad = max(net.cfg.radius, cfg.radius)
    ci = net.cell_index(pad=pad).sort_values(["cell", "eid"], kind="stable")
    return ci.cell.to_numpy(), ci.eid.to_numpy()


def _probe_rows(x, y, cells, cfg) -> np.ndarray:
    """Probe rows per point: its cell's run in the cell index."""
    ck = xy_to_cell(x, y, cfg.cell_size)
    return (np.searchsorted(cells[0], ck, side="right")
            - np.searchsorted(cells[0], ck, side="left"))


def _assert_rows_equal(got: pd.DataFrame, want: pd.DataFrame):
    """Same urls, statuses and epaths; every float column bitwise."""
    got = got.sort_values("url").reset_index(drop=True)
    want = want.sort_values("url").reset_index(drop=True)
    assert list(got.columns) == list(want.columns)
    assert got.url.tolist() == want.url.tolist()
    assert got.status.tolist() == want.status.tolist()
    assert [None if e is None else list(e) for e in got.epath] == \
        [None if e is None else list(e) for e in want.epath]
    for c in matching.METRIC_COLS:
        a = got[c].to_numpy(np.float64)
        b = want[c].to_numpy(np.float64)
        assert np.array_equal(a.view(np.int64), b.view(np.int64)), c


@contextlib.contextmanager
def _kernel_patched(monkeypatch, spark, chunk_rows: int):
    """matching.CHUNK_ROWS set to ``chunk_rows`` where the Spark workers
    read it, with an accumulator of the workers' _match_frame calls.

    A worker imports its own copy of the module, so a driver-side patch
    alone never reaches the kernel; pickling the matching module (and this
    one, for the counting wrapper) by value ships the patched globals
    with the kernel function."""
    calls = spark.sparkContext.accumulator(0)
    inner = matching._match_frame

    def counted(*args):
        calls.add(1)
        return inner(*args)

    monkeypatch.setattr(matching, "CHUNK_ROWS", chunk_rows)
    monkeypatch.setattr(matching, "_match_frame", counted)
    mods = (matching, sys.modules[__name__])
    for m in mods:
        cloudpickle.register_pickle_by_value(m)
    try:
        yield calls
    finally:
        for m in mods:
            cloudpickle.unregister_pickle_by_value(m)


def test_near_miss_url_has_probe_rows(chunk_pages, net, cfg):
    """The near-miss url reaches the refine (its cells are indexed) and
    the outside url does not: the parity test below cuts a chunk of each
    kind."""
    u, _, x, y = _extract(chunk_pages, cfg)
    rows = pd.Series(_probe_rows(x, y, _cell_index(net, cfg), cfg)).groupby(u).sum()
    assert rows[NEAR_MISS] > 0
    assert rows["https://example.com/outside"] == 0


def test_one_url_chunks_match_the_default(spark, monkeypatch, chunk_pages,
                                          net, cfg):
    """CHUNK_ROWS = 1 puts every url in a chunk of its own, each over the
    budget: a chunk whose url has no in-radius candidate (the near-miss
    url, between two matched urls), one with no probe row at all (the
    outside url) and single urls above the budget. match_pages_onepass
    and match_points give the default run's rows, bit for bit, and the
    workers call _match_frame once per url with a candidate."""
    pages_df = spark.createDataFrame(chunk_pages).coalesce(1)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        points = extract_simplify(pages_df, cfg)
        runs = {
            "onepass": lambda: matching.match_pages_onepass(
                spark, pages_df, net, cfg).toPandas(),
            "points": lambda: matching.match_points(
                spark, points, net, cfg).toPandas(),
        }
        for name, run in runs.items():
            want = run()
            assert want.set_index("url").status[NEAR_MISS] == 3
            with _kernel_patched(monkeypatch, spark, 1) as calls:
                got = run()
            _assert_rows_equal(got, want)
            assert calls.value == int((want.status != 3).sum()), name
            monkeypatch.undo()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_kernel_calls_stay_within_the_chunk_budget(monkeypatch, pages, net,
                                                   cfg):
    """A batch of the fixture trajectories tiled under new urls, plus one
    long url over the budget, needs several chunks: no project_core call
    projects more than CHUNK_ROWS probe rows and no _match_frame call gets
    more than CHUNK_ROWS candidate rows, except the long url's single-url
    chunk. The rows equal a one-chunk run's."""
    budget = 2_000
    u, pid, x, y = _extract(pages, cfg)
    tiles = [(np.array([f"{s}#{t}" for s in u], dtype=object), pid, x, y)
             for t in range(8)]
    # the long url: one trajectory repeated until it alone is over budget
    cells = _cell_index(net, cfg)
    first = u == u[0]
    reps = budget // int(_probe_rows(x[first], y[first], cells, cfg).sum()) + 2
    n = int(first.sum())
    tiles.append((np.full(n * reps, "long", dtype=object),
                  np.arange(n * reps), np.tile(x[first], reps),
                  np.tile(y[first], reps)))
    bu, bpid, bx, by = (np.concatenate(a) for a in zip(*tiles))
    url_rows = pd.Series(_probe_rows(bx, by, cells, cfg)).groupby(bu).sum()
    assert url_rows["long"] > budget
    assert url_rows.sum() >= 3 * budget

    geom = (*net.padded_geoms(), *net.attr_arrays())
    stats = (net.dir_stats(), net.node_xy_arrays())

    def run():
        spd = matching.DemandSpPayload(net.search_state(), cfg.max_dist)
        parts, have = matching._probe_match(bu, bpid, bx, by, cells, geom,
                                            stats, spd, cfg)
        return matching.matched_frame(
            matching.with_no_match_rows(parts, pd.unique(bu), have))

    want = run()
    projected, scored = [], []
    project_core, match_frame = linear_ref.project_core, matching._match_frame
    monkeypatch.setattr(linear_ref, "project_core", lambda pts, mat: (
        projected.append(len(pts)) or project_core(pts, mat)))
    monkeypatch.setattr(matching, "_match_frame", lambda c, *a: (
        scored.append(c) or match_frame(c, *a)))
    monkeypatch.setattr(matching, "CHUNK_ROWS", budget)
    got = run()

    # a projection over the budget is exactly the long url's probe rows
    assert [r for r in projected if r > budget] == [url_rows["long"]]
    assert len(scored) >= 3
    for c in scored:
        assert (len(c["gid"]) <= budget
                or len(np.unique(c["gid"])) == 1), len(c["gid"])
    _assert_rows_equal(got, want)
