"""t2: the Spark engine must reproduce the pure-pandas oracle exactly —
same candidate rows, same epath/status, probs to 1e-9 (SURVEY.md §5)."""

import numpy as np
import pandas as pd
import pytest

from st_mapmatching_spark.kernels import hmm
from st_mapmatching_spark.operators.candidates import (candidate_join,
                                                       extract_trajs,
                                                       network_frames,
                                                       simplify_trajs)
from st_mapmatching_spark.operators.matching import match_pages
from st_mapmatching_spark.oracle.matcher import build_candidates, match_trajectory
from st_mapmatching_spark.sources.extract import extract_points


@pytest.fixture(scope="module")
def pages_df(spark, pages):
    return spark.createDataFrame(pages)


@pytest.fixture(scope="module")
def oracle_results(pages, net, cfg):
    pts = extract_points(pages)
    out = {}
    for url, grp in pts.groupby("url"):
        out[url] = match_trajectory(grp[["x", "y"]].to_numpy(), net, cfg)
    return out


def test_candidates_parity(spark, pages_df, pages, net, cfg):
    trajs = extract_trajs(pages_df)
    points = simplify_trajs(trajs, cfg)
    idx, attrs = network_frames(spark, net)
    got = (candidate_join(points, idx, attrs, cfg, net=net)
           .select("url", "pid", "eid", "dist_p2c", "len0", "len1", "observ_prob")
           .toPandas().sort_values(["url", "pid", "eid"]).reset_index(drop=True))

    # oracle candidates per url
    from st_mapmatching_spark.kernels.projection import project_coords
    from st_mapmatching_spark.kernels.simplify import simplify_points
    pts_all = extract_points(pages)
    rows = []
    for url, grp in pts_all.groupby("url"):
        xy = project_coords(grp[["x", "y"]].to_numpy(), cfg.lon0, cfg.lat0)
        if cfg.simplify and len(xy) > 1:
            xy = xy[simplify_points(xy, cfg.tolerance)]
        c = build_candidates(xy, net, cfg)
        if len(c):
            c = c.assign(url=url)
            rows.append(c[["url", "pid", "eid", "dist_p2c", "len0", "len1", "observ_prob"]])
    want = (pd.concat(rows).sort_values(["url", "pid", "eid"]).reset_index(drop=True))

    assert len(got) == len(want), f"row count {len(got)} != {len(want)}"
    pd.testing.assert_frame_equal(
        got.astype({"pid": "int64", "eid": "int64"}),
        want.astype({"pid": "int64", "eid": "int64"}),
        rtol=1e-12, atol=1e-12)


def test_matched_parity(spark, pages_df, net, cfg, oracle_results):
    got = match_pages(spark, pages_df, net, cfg).toPandas().set_index("url")
    assert len(got) == len(oracle_results)
    for url, want in oracle_results.items():
        row = got.loc[url]
        assert int(row.status) == want["status"], f"{url}: status {row.status} != {want['status']}"
        g_ep = None if row.epath is None else [int(e) for e in row.epath]
        w_ep = want["epath"] if want["epath"] is None else [int(e) for e in want["epath"]]
        assert g_ep == w_ep, f"{url}: epath {g_ep} != {w_ep}"
        for k in ("step_0", "step_n", "dist", "avg_speed", "prob",
                  "norm_prob", "dist_prob", "trans_prob", "dir_prob"):
            gv, wv = float(row[k]), float(want.get(k, np.nan))
            if np.isnan(wv):
                assert np.isnan(gv), f"{url}: {k} {gv} != nan"
            else:
                assert gv == pytest.approx(wv, rel=1e-9, abs=1e-12), f"{url}: {k}"


def _assert_matches_oracle(got, oracle_results):
    assert len(got) == len(oracle_results)
    for url, want in oracle_results.items():
        row = got.loc[url]
        assert int(row.status) == want["status"], f"{url}: status {row.status} != {want['status']}"
        g_ep = None if row.epath is None else [int(e) for e in row.epath]
        w_ep = want["epath"] if want["epath"] is None else [int(e) for e in want["epath"]]
        assert g_ep == w_ep, f"{url}: epath {g_ep} != {w_ep}"
        for k in ("step_0", "step_n", "dist", "avg_speed", "prob",
                  "norm_prob", "dist_prob", "trans_prob", "dir_prob"):
            gv, wv = float(row[k]), float(want.get(k, np.nan))
            if np.isnan(wv):
                assert np.isnan(gv), f"{url}: {k} {gv} != nan"
            else:
                assert gv == pytest.approx(wv, rel=1e-9, abs=1e-12), f"{url}: {k}"


def test_matched_parity_relational(spark, pages_df, net, cfg, oracle_results):
    """Planet-scale path: sp_broadcast_max_rows=0 forces the relational
    sp equi-join + post-Viterbi epath attach (zero driver collects of the
    sp table) — results must still be EXACTLY the oracle's."""
    from dataclasses import replace
    cfg0 = replace(cfg, sp_broadcast_max_rows=0)
    got = match_pages(spark, pages_df, net, cfg0).toPandas().set_index("url")
    _assert_matches_oracle(got, oracle_results)


def test_matched_parity_points_scattered(spark, pages_df, cfg, net,
                                         oracle_results):
    """match_points clusters its input on url before the kernel: points
    scattered by pid over 7 partitions put every url's rows in several
    input partitions, and only the url repartition puts each trajectory
    back together (decoding per-partition fragments gave 79/83
    mismatches on an earlier plan). Exact oracle parity is required."""
    from st_mapmatching_spark.operators.candidates import extract_simplify
    from st_mapmatching_spark.operators.matching import match_points
    points = extract_simplify(pages_df, cfg).repartition(7, "pid")
    out = match_points(spark, points, net, cfg)
    try:
        _assert_matches_oracle(out.toPandas().set_index("url"),
                               oracle_results)
    finally:
        out.unpersist()


def test_matched_parity_classic_decode(spark, pages_df, pages, net, cfg):
    """beam_search=False runs the classic full-lattice decode
    (viterbi.py:200-268 semantics) — engine must equal the oracle running
    the same flag, and successful epaths must stay connected. Checked on
    the default plan and on the relational plan (sp_broadcast_max_rows=0,
    viterbi_match), which share the decode tail."""
    from dataclasses import replace
    cfg0 = replace(cfg, beam_search=False)
    pts = extract_points(pages)
    want = {}
    for url, grp in pts.groupby("url"):
        want[url] = match_trajectory(grp[["x", "y"]].to_numpy(), net, cfg0)
    for run_cfg in (cfg0, replace(cfg0, sp_broadcast_max_rows=0)):
        got = (match_pages(spark, pages_df, net, run_cfg)
               .toPandas().set_index("url"))
        _assert_matches_oracle(got, want)
        n_success = (got.status == hmm.STATUS_SUCCESS).sum()
        assert n_success >= 8


def test_match_calls_launch_no_job_before_the_action(spark, pages_df, cfg):
    """On a fresh network (no broadcast, no sp memo yet) neither
    match_pages on the default plan nor match_points runs a Spark job
    inside the call: the kernel searches its shortest paths during the
    caller's action. Both plans give the same rows."""
    from st_mapmatching_spark.graph.network import Network
    from st_mapmatching_spark.operators.candidates import extract_simplify
    from st_mapmatching_spark.operators.matching import match_points
    from st_mapmatching_spark.sources.network_gen import make_grid_network
    fresh = Network(*make_grid_network(cfg, nx=12, ny=12, seed=42), cfg)
    points = extract_simplify(pages_df, cfg)
    sc = spark.sparkContext
    got = {}
    for name, call in (
            ("match_pages", lambda: match_pages(spark, pages_df, fresh, cfg)),
            ("match_points", lambda: match_points(spark, points, fresh, cfg))):
        group = f"no-job-before-action:{name}"
        sc.setJobGroup(group, group)
        try:
            out = call()
            assert sc.statusTracker().getJobIdsForGroup(group) == [], name
            got[name] = out.toPandas().set_index("url").sort_index()
            out.unpersist()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    by_pages, by_points = got["match_pages"], got["match_points"]
    # match_points sees only the urls with points: a page without any is
    # match_pages' status-3 row alone
    assert set(by_points.index) <= set(by_pages.index)
    by_pages = by_pages.loc[by_points.index]
    assert (by_pages.status == by_points.status).all()
    assert [None if e is None else list(e) for e in by_pages.epath] == \
        [None if e is None else list(e) for e in by_points.epath]


def test_matched_statuses(spark, pages_df, net, cfg):
    got = match_pages(spark, pages_df, net, cfg).toPandas().set_index("url")
    assert got.loc["https://example.com/one_point"].status == hmm.STATUS_ONE_POINT
    assert got.loc["https://example.com/outside"].status == hmm.STATUS_NO_CANDIDATES
    assert got.loc["https://example.com/same_edge"].status == hmm.STATUS_SAME_LINK
    n_success = (got.status == hmm.STATUS_SUCCESS).sum()
    assert n_success >= 8
