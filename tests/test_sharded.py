"""Region-sharded one-pass matcher (operators/sharded.py) vs the staged
relational path: identical rows on a multi-region fixture including
guard-violating trajectories (fallback), an off-network trajectory
(status 3), a single-point page and long-step trajectories matched
in-kernel."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from st_mapmatching_spark.config import M_PER_DEG, MatchConfig
from st_mapmatching_spark.operators.matching import choose_plan, match_pages
from st_mapmatching_spark.operators.sharded import match_pages_sharded
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
    # t1: row-following inside region (0,0)'s tile [0, 3000)^2
    rows.append(_page("t1", [(100.0 + 40 * i, 625.0 + ((i * 31) % 41 - 20))
                             for i in range(30)]))
    # t2: t1's shape shifted into the negative-quadrant region (the grid
    # is uniform, so it must match the same way t1 does)
    rows.append(_page("t2", [(100.0 - 5000.0 + 40 * i,
                              625.0 - 4500.0 + ((i * 31) % 41 - 20))
                             for i in range(30)]))
    # t3: guard-A violator — spans ~7 km, far beyond core (tile + 1.5 km pad)
    rows.append(_page("t3", [(-3500.0 + 70 * i, 125.0) for i in range(100)]))
    # t4: far off-network (region exists, zero edges) -> status 3
    rows.append(_page("t4", [(60000.0 + 10 * i, 60000.0) for i in range(5)]))
    # t5: single point -> status 2
    rows.append(_page("t5", [(150.0, 630.0)]))
    # t6: no GEO lines at all -> status 3
    rows.append(("t6", "no coordinates here"))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["url", "text"]))


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


def test_sharded_matches_staged(spark, bignet, fixture_pages):
    """The sharded plan, and the default plan, both equal the relational
    plan row for row. The default CFG takes the one-pass plan on
    this 1,600-node network: its shortest paths are searched in-kernel,
    so no network size bounds it."""
    from dataclasses import replace
    cfg = replace(CFG, sp_broadcast_max_rows=0)   # pin the relational plan
    assert choose_plan(bignet, CFG).name == "onepass"
    want = (match_pages(spark, fixture_pages, bignet, cfg)
            .toPandas().set_index("url").sort_index())
    sharded = (match_pages_sharded(spark, fixture_pages, bignet, cfg,
                                   region_m=3000.0, cover_pad=1500.0)
               .toPandas().set_index("url").sort_index())
    onepass = (match_pages(spark, fixture_pages, bignet, CFG)
               .toPandas().set_index("url").sort_index())
    for got in (sharded, onepass):
        _assert_same_rows(got, want)
    # sanity on the fixture's intent
    assert int(want.loc["t1"].status) == 0
    assert int(want.loc["t2"].status) == 0
    assert int(want.loc["t3"].status) == 0     # matched via fallback
    assert int(want.loc["t4"].status) == 3
    assert int(want.loc["t5"].status) == 2
    assert int(want.loc["t6"].status) == 3


def test_sharded_fallback_routes_guard_violators(spark, bignet, fixture_pages):
    """The guard-A violator must be detected (not wrongly matched against
    a partial regional payload): with a tiny cover_pad even t1/t2 fall
    back, and results still equal the staged path."""
    from dataclasses import replace
    cfg = replace(CFG, sp_broadcast_max_rows=0)
    got = (match_pages_sharded(spark, fixture_pages, bignet, cfg,
                               region_m=3000.0, cover_pad=100.0)
           .toPandas().set_index("url").sort_index())
    want = (match_pages(spark, fixture_pages, bignet, cfg)
            .toPandas().set_index("url").sort_index())
    assert (got.status == want.status).all()


def test_sharded_auto_params_no_hand_sizing(spark, bignet, fixture_pages):
    """NO hand params — region_m/cover_pad auto-derived from corpus
    stats; results equal
    the staged path, and the clean trajectories take the sharded kernel
    (the only fallback is t3, whose 7 km span exceeds any sane tiling the
    sample would choose... included in the sample it grows cover_pad, so
    zero fallbacks is asserted on the clean subset below instead)."""
    from dataclasses import replace
    cfg = replace(CFG, sp_broadcast_max_rows=0)
    got = (match_pages_sharded(spark, fixture_pages, bignet, cfg)
           .toPandas().set_index("url").sort_index())
    want = (match_pages(spark, fixture_pages, bignet, cfg)
            .toPandas().set_index("url").sort_index())
    assert (got.status == want.status).all()
    for url in want.index:
        g_ep, w_ep = got.loc[url].epath, want.loc[url].epath
        g_ep = None if g_ep is None else [int(e) for e in g_ep]
        w_ep = None if w_ep is None else [int(e) for e in w_ep]
        assert g_ep == w_ep, f"{url}: {g_ep} != {w_ep}"


def test_sharded_auto_params_zero_fallbacks_on_clean_corpus(spark, bignet,
                                                           fixture_pages):
    """Auto-sizing must cover the corpus it was derived from: on the
    clean trajectories (t1/t2-shaped) every url takes the sharded kernel
    — zero guard fallbacks (r6 verdict item 3 'Done' criterion)."""
    from dataclasses import replace
    cfg = replace(CFG, sp_broadcast_max_rows=0)
    clean = fixture_pages.filter(F.col("url").isin("t1", "t2", "t5"))
    res = match_pages_sharded(spark, clean, bignet, cfg)
    assert res._shard_fallbacks == 0
    assert res.count() == 3


def test_sharded_adversarial_params_fail_closed(spark, bignet,
                                                fixture_pages):
    """Hand params sized ADVERSARIALLY small must route through the
    fallback (correct-but-slow), never silently mis-match: fallback count
    is positive and results still equal the staged path (covered row-wise
    by test_sharded_fallback_routes_guard_violators)."""
    from dataclasses import replace
    cfg = replace(CFG, sp_broadcast_max_rows=0)
    res = match_pages_sharded(spark, fixture_pages, bignet, cfg,
                              region_m=3000.0, cover_pad=100.0)
    assert res._shard_fallbacks > 0


def test_distributed_subnetwork_bitwise_matches_driver(spark, bignet):
    """_subnetwork_from_flat (the executor-side slice of the distributed
    payload build) must reproduce Network.subnetwork exactly: same edge
    set/order, same geometry bytes, same derived payload arrays."""
    import numpy as np
    from st_mapmatching_spark.operators.sharded import (_network_flat,
                                                        _subnetwork_from_flat)
    box = (-2000.0, -2000.0, 3000.0, 2500.0)
    a = bignet.subnetwork(*box)
    b = _subnetwork_from_flat(_network_flat(bignet), *box)
    assert a.edges.eid.tolist() == b.edges.eid.tolist()
    ea, ma = a.padded_geoms()
    eb, mb = b.padded_geoms()
    assert (ea == eb).all() and ma.shape == mb.shape
    assert np.array_equal(ma, mb)
    for x, y in zip(a.attr_arrays(), b.attr_arrays()):
        assert np.array_equal(x, y)
    na, xa = a.node_xy_arrays()
    nb, xb = b.node_xy_arrays()
    assert np.array_equal(na, nb) and np.array_equal(xa, xb)
    ca = a.cell_index(pad=50.0)
    cb = b.cell_index(pad=50.0)
    assert ca.cell.tolist() == cb.cell.tolist()
    assert ca.eid.tolist() == cb.eid.tolist()
    assert a.adj == b.adj


def test_sharded_payload_bytes_cap_fails_closed(spark, fixture_pages):
    """Adjacency/geometry payload size is capped: a tiny byte budget
    must raise with sizing guidance, not broadcast. The network is a
    fresh one: the payload memo lives on the network, keyed by tiling,
    and a cache hit legitimately skips the guard."""
    from dataclasses import replace
    cfg = replace(CFG, sp_broadcast_max_rows=0)
    with pytest.raises(ValueError, match="payload_max_bytes"):
        match_pages_sharded(spark, fixture_pages,
                            D.big_grid_network(CFG, g=40), cfg,
                            region_m=3000.0, cover_pad=1500.0,
                            payload_max_bytes=10)


def test_stream_sharded_plan_reuses_payloads(spark, bignet, fixture_pages,
                                             tmp_path):
    """r6 verdict item 5: a multi-micro-batch stream through the sharded
    plan equals the batch sharded output, and later epochs REUSE the
    memoized regional payloads (no per-epoch rebuild)."""
    from dataclasses import replace
    from st_mapmatching_spark.streaming.pipeline import stream_match_batches

    cfg = replace(CFG, sp_broadcast_max_rows=0)
    kw = dict(region_m=3000.0, cover_pad=1500.0)
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    clean = fixture_pages.filter(F.col("url").isin("t1", "t2", "t5"))
    clean.repartition(3).write.parquet(in_dir)

    # batch reference (also pre-warms the tiling memo — the stream must
    # HIT it, which is exactly the reuse this test pins)
    want = (match_pages_sharded(spark, clean, bignet, cfg, **kw)
            .toPandas().set_index("url").sort_index())
    memo_key = (kw["region_m"], kw["cover_pad"],
                cfg.radius + cfg.max_dist / 2.0 + 300.0,
                cfg.max_dist, cfg.radius, cfg.cell_size)
    pays_before = dict(bignet._shard_payload_cache[memo_key]["pays"])

    def sink(df, epoch_id):
        df.select("url", "status",
                  F.concat_ws(",", F.col("epath").cast("array<string>"))
                  .alias("ep")).write.mode("append").parquet(out_dir)

    stream = (spark.readStream.schema(clean.schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (stream_match_batches(spark, stream, bignet, cfg, sink,
                              plan="sharded", sharded_kwargs=kw)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = spark.read.parquet(out_dir).toPandas().set_index("url").sort_index()
    assert list(got.index) == list(want.index)
    assert (got.status == want.status).all()
    for url in want.index:
        w_ep = want.loc[url].epath
        w_s = "" if w_ep is None else ",".join(str(int(e)) for e in w_ep)
        assert got.loc[url].ep == w_s, url
    # payload memo unchanged: the stream built ZERO new regions
    pays_after = bignet._shard_payload_cache[memo_key]["pays"]
    assert set(pays_after) == set(pays_before)


def test_sharded_long_steps_match_in_kernel(spark, bignet):
    """A clean trajectory with ~900 m post-simplification steps: longer
    than the 700 m an sp table precomputed to euclid 1,300 m could cover
    (1300 - 2*(radius 50 + edge 250)), but inside guard A. Its shortest
    paths are searched on demand in the kernel, so it takes no fallback
    and its row equals the staged relational plan's."""
    from dataclasses import replace
    cfg = replace(CFG, sp_broadcast_max_rows=0)
    pts = [(150.0, 640.0), (1050.0, 610.0), (1950.0, 640.0),
           (2125.0, 1500.0), (2110.0, 2400.0)]
    steps = np.hypot(*np.diff(np.array(pts), axis=0).T)
    assert steps.max() > 1300.0 - 2 * (CFG.radius + 250.0)
    pages = spark.createDataFrame(pd.DataFrame([_page("t7", pts)],
                                               columns=["url", "text"]))
    res = match_pages_sharded(spark, pages, bignet, cfg,
                              region_m=3000.0, cover_pad=1500.0)
    assert res._shard_fallbacks == 0
    got = res.toPandas().set_index("url").sort_index()
    want = (match_pages(spark, pages, bignet, cfg)
            .toPandas().set_index("url").sort_index())
    _assert_same_rows(got, want)
    assert int(want.loc["t7"].status) == 0
