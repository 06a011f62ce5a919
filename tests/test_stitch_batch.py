"""Differential test: the batched decode tail (_decode_stitch ->
hmm.stitch_batch) against the per-url reference hmm_ref.stitch_path, url
by url, with sp paths from an SpPayload and in collect_steps mode. Every
output column must match exactly: the batch sums each url's steps in
the order np.sum does (hmm.segment_reduce)."""

from dataclasses import replace

import numpy as np
import pandas as pd
import pytest

from st_mapmatching_spark.config import MatchConfig
from st_mapmatching_spark.graph.dijkstra import shortest_paths_to_targets
from st_mapmatching_spark.kernels import hmm
from st_mapmatching_spark.kernels.keys import key_find, key_index
from st_mapmatching_spark.operators.matching import (METRIC_COLS,
                                                     MissingEmissionError,
                                                     _decode_stitch,
                                                     matched_frame)
from st_mapmatching_spark.oracle import hmm_ref
from test_viterbi_lockstep import _random_case
from test_viterbi_match_batched import _mk_inputs

CFG = MatchConfig()
N_NODES = 12


def _csr_paths(eps: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """CSR (flat eids, offsets) of an object array of epaths (None =
    empty)."""
    lens = np.fromiter((0 if e is None else len(e) for e in eps),
                       dtype=np.int64, count=len(eps))
    flat = np.concatenate([np.empty(0, np.int64)]
                          + [np.asarray(e, dtype=np.int64)
                             for e in eps[lens > 0]])
    return flat, np.concatenate([[0], np.cumsum(lens)])


def no_match_rows(urls) -> list[dict]:
    """The reference's status-3 row per url: no path, NaN metrics."""
    return [{"url": u, "status": hmm.STATUS_NO_CANDIDATES, "epath": None,
             **dict.fromkeys(METRIC_COLS, np.nan)} for u in urls]


class SpPayload:
    """Reference sp table with DemandSpPayload's interface (lookup,
    paths) over given rows, so a case can hold arbitrary paths and
    misses: a pair missing from the table is unreachable (cost inf, zero
    stats, no path)."""

    def __init__(self, sp_pdf: pd.DataFrame):
        self.uniq, self.key, order = key_index(
            sp_pdf.o_node.to_numpy(np.int64), sp_pdf.d_node.to_numpy(np.int64))
        self.cols = {c: sp_pdf[c].to_numpy(np.float64)[order]
                     for c in ("cost", "path_speed", "pcx", "pcy", "pw")}
        self.cols["pn"] = sp_pdf.pn.to_numpy(np.int64)[order]
        self.ep_flat, self.ep_off = _csr_paths(sp_pdf.epath.to_numpy()[order])

    def lookup(self, o_node, d_node) -> dict:
        pos, hit = key_find(self.uniq, self.key, o_node, d_node)
        miss = {"cost": np.inf, "pn": 0}
        out = {c: np.where(hit, v[pos], miss.get(c, 0.0))
               for c, v in self.cols.items()}
        out["has_path"] = hit & (np.diff(self.ep_off)[pos] > 0)
        return out

    def paths(self, o_node, d_node):
        return hmm.csr_take(self.ep_flat, self.ep_off,
                            *key_find(self.uniq, self.key, o_node, d_node))


def _sp_table(rng):
    """sp rows over N_NODES x N_NODES (o, d) pairs, ~15% of them missing
    (an sp miss), paths None, empty or 1-4 eids of the candidates'
    range (so consecutive-dedup fires). Returns (SpPayload, {(o, d): path})."""
    rows, paths = [], {}
    for o in range(N_NODES):
        for d in range(N_NODES):
            if rng.random() < 0.15:
                continue
            r = rng.random()
            ep = None if r < 0.2 else [] if r < 0.3 else \
                [int(e) for e in rng.integers(100, 106, rng.integers(1, 5))]
            paths[(o, d)] = ep
            rows.append((o, d, 0.0, 0.0, 0.0, 0.0, 0.0, 0, ep))
    pdf = pd.DataFrame(rows, columns=["o_node", "d_node", "cost",
                                      "path_speed", "pcx", "pcy", "pw",
                                      "pn", "epath"])
    return SpPayload(pdf), paths


def _augment(rng, cands, pairs):
    """Fill in the decode columns a generator leaves out: cut lengths,
    pid_1, flags (some SAME_SRC_FIRST / SAME_SRC_LAST), step metrics
    (some zero d_sht) and sp nodes within the sp table's range."""
    cands = cands.copy()
    pairs = pairs.copy()
    n, k = len(cands), len(pairs)
    if "len0" not in cands:
        cands["len0"] = rng.random(n) * 100
        cands["len1"] = rng.random(n) * 100
    if "pid_1" not in pairs:
        nxt = {}
        for u, g in cands.groupby("url"):
            p = np.sort(g.pid.unique())
            nxt.update({(u, a): b for a, b in zip(p[:-1], p[1:])})
        pairs["pid_1"] = [nxt[(u, p)] for u, p in zip(pairs.url, pairs.pid_0)]
    r = rng.random(k)
    pairs["flag"] = np.where(r < 0.15, hmm.FLAG_SAME_SRC_FIRST,
                             np.where(r < 0.2, hmm.FLAG_SAME_SRC_LAST,
                                      hmm.FLAG_NORMAL))
    pairs["dist_prob"] = rng.random(k)
    pairs["d_sht"] = np.where(rng.random(k) < 0.1, 0.0, rng.random(k) * 300)
    pairs["avg_speed"] = rng.random(k) * 20
    pairs["o_node"] = rng.integers(0, N_NODES, k)
    pairs["d_node"] = rng.integers(0, N_NODES, k)
    return cands, pairs


def _lockstep_inputs(rng, ngroups):
    """test_viterbi_lockstep's adversarial lattices (NaN transitions,
    HMM breaks, missing layer 0, ties) as flat url-keyed frames."""
    cs, gs = [], []
    for g, (c, gt) in enumerate(_random_case(
            np.random.RandomState(int(rng.integers(1 << 30))), ngroups)):
        cs.append(c.drop(columns="observ_prob").assign(url=f"g{g:03d}"))
        gs.append(gt.drop(columns="observ_prob").assign(url=f"g{g:03d}"))
    return _augment(rng, pd.concat(cs, ignore_index=True),
                    pd.concat(gs, ignore_index=True))


def _batched(cands, pairs, cfg, paths, extra_urls=()):
    """_decode_stitch over the whole batch, laid out as the matcher
    feeds it; ``extra_urls`` have no candidates (status 3)."""
    urls = np.array(sorted(set(cands.url) | set(extra_urls)), dtype=object)
    c = cands.sort_values(["url", "pid", "dist_p2c", "eid"], kind="stable")
    p = pairs.sort_values(["url", "pid_0"], kind="stable")
    c_gid = np.searchsorted(urls, c.url.to_numpy())
    p_gid = np.searchsorted(urls, p.url.to_numpy())
    c_off = np.searchsorted(c_gid, np.arange(len(urls) + 1))
    cand = {k: c[k].to_numpy() for k in ("pid", "eid", "dist_p2c", "len0",
                                         "len1")}
    pair = {k: p[k].to_numpy() for k in ("pid_0", "eid_0", "eid_1", "flag",
                                         "trans_prob", "dist_prob", "d_sht",
                                         "avg_speed", "o_node", "d_node")}
    uniq, code, corder = key_index(c_gid, cand["pid"], cand["eid"])
    for side, p_col, e_col in (("left", "pid_0", "eid_0"),
                               ("right", "pid_1", "eid_1")):
        pos, hit = key_find(uniq, code, p_gid, p[p_col].to_numpy(),
                            p[e_col].to_numpy())
        pair[side] = np.where(hit, corder[pos], -1)
    return matched_frame(_decode_stitch(urls, c_off, cand, pair, p_gid, cfg,
                                        paths)).set_index("url")


def _reference(cands, pairs, cfg, sp_paths, collect, extra_urls=()):
    """Per url: pandas emission + merge, decode_sequence, stitch_path
    (payload paths as an ``epath`` column, None for SAME_SRC_FIRST)."""
    rows = no_match_rows(sorted(extra_urls))
    for url in sorted(set(cands.url)):
        cpdf = (cands[cands.url == url]
                .sort_values(["pid", "dist_p2c", "eid"], kind="stable")
                .reset_index(drop=True))
        gpdf = (pairs[pairs.url == url].sort_values("pid_0", kind="stable")
                .reset_index(drop=True))
        row = no_match_rows([url])[0]
        rows.append(row)
        if not len(gpdf):
            row.update(status=hmm.STATUS_ONE_POINT, epath=[int(cpdf.eid[0])])
            continue
        dens = hmm.gaussian_emission(cpdf.dist_p2c.to_numpy(),
                                     cfg.gps_sigma, cfg.gps_bias)
        cpdf["observ_prob"] = hmm.observ_prob_from_density(dens, dens.max())
        obs = cpdf[["pid", "eid", "observ_prob"]].rename(
            columns={"pid": "pid_1", "eid": "eid_1"})
        gpdf = gpdf.merge(obs, on=["pid_1", "eid_1"], how="left")
        end_prob, rlist = hmm_ref.decode_sequence(cpdf, gpdf, cfg)
        if not collect:
            gpdf["epath"] = [
                None if f == hmm.FLAG_SAME_SRC_FIRST else sp_paths.get((o, d))
                for o, d, f in zip(gpdf.o_node, gpdf.d_node, gpdf.flag)]
        row.update(hmm_ref.stitch_path(rlist, gpdf, cpdf, end_prob, cfg,
                                   cfg.dir_trans, collect_steps=collect))
    return pd.DataFrame(rows).set_index("url").sort_index()


def _same(a, b):
    return (a is None and b is None) or a == b or (a != a and b != b)


def _assert_rows_equal(got, want, collect):
    assert list(got.index) == list(want.index)
    for url in want.index:
        g, w = got.loc[url], want.loc[url]
        assert g.status == w.status, f"{url}: status {g.status} != {w.status}"
        g_ep = None if g.epath is None else [int(e) for e in g.epath]
        assert g_ep == w.epath, f"{url}: epath {g_ep} != {w.epath}"
        for c in METRIC_COLS:
            assert _same(float(g[c]), float(w[c])), \
                f"{url}:{c}: {g[c]!r} != {w[c]!r}"
        if collect:
            w_steps = w.get("steps")
            w_steps = None if w_steps is None or w_steps != w_steps \
                else w_steps
            g_steps = None if g.steps is None else list(g.steps)
            assert g_steps == w_steps, f"{url}: steps differ"
            w_last = w.get("last_eid")
            assert _same(float(g.last_eid),
                         np.nan if w_last is None else float(w_last)), \
                f"{url}: last_eid differs"


def _check(cands, pairs, cfg, rng, extra_urls=()):
    spd, sp_paths = _sp_table(rng)
    for collect in (False, True):
        got = _batched(cands, pairs, cfg, None if collect else spd.paths,
                       extra_urls)
        want = _reference(cands, pairs, cfg, sp_paths, collect, extra_urls)
        _assert_rows_equal(got, want, collect)


@pytest.mark.parametrize("seed", range(6))
def test_lockstep_lattices(seed):
    rng = np.random.default_rng(seed)
    cands, pairs = _lockstep_inputs(rng, 30)
    _check(cands, pairs, CFG, rng)


@pytest.mark.parametrize("seed", range(3))
def test_classic_lockstep_lattices(seed):
    """The classic decode over the same lattices, a tenth of whose urls
    have no layer 0: it starts at each url's first candidate layer."""
    rng = np.random.default_rng(100 + seed)
    cands, pairs = _lockstep_inputs(rng, 30)
    assert (cands.groupby("url").pid.min() > 0).any()
    _check(cands, pairs, replace(CFG, beam_search=False), rng)


@pytest.mark.parametrize("seed", [3, 11, 17])
@pytest.mark.parametrize("beam", [True, False])
def test_match_batched_inputs(seed, beam):
    rng = np.random.default_rng(seed)
    cands, pairs = _mk_inputs(rng, 40, adversarial=beam)
    cands, pairs = _augment(rng, cands, pairs.drop(columns="flag"))
    _check(cands, pairs, replace(CFG, beam_search=beam), rng,
           extra_urls=("u_none",))


def test_dir_trans_off():
    rng = np.random.default_rng(5)
    cands, pairs = _mk_inputs(rng, 30)
    _check(*_augment(rng, cands, pairs), replace(CFG, dir_trans=False), rng)


def test_missing_right_candidates_share_a_state():
    """Pairs whose (pid_1, eid_1) is no candidate (right = -1, the
    relational plan's NaN emission), two of them into the same (url,
    pid_1, eid_1) and one out of it (left = -1), decode as the per-url
    viterbi_beam: all of layer 0 -> 1 is NaN, so layer 1 -> 2 restarts
    and its best row leaves the missing state, which the path then
    runs through."""
    rng = np.random.default_rng(8)
    c = pd.DataFrame({"pid": [0, 0, 1, 1, 2, 2, 3],
                      "eid": [10, 11, 20, 21, 30, 31, 40],
                      "dist_p2c": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]})
    rows = [(0, 1, a, b, np.nan) for a in (10, 11) for b in (20, 21, 999)]
    rows += [(1, 2, a, b, 0.3) for a in (20, 21) for b in (30, 31)]
    rows += [(1, 2, 999, 30, 0.9)]
    rows += [(2, 3, a, 40, 0.5) for a in (30, 31)]
    pairs = pd.DataFrame(rows, columns=["pid_0", "pid_1", "eid_0", "eid_1",
                                        "trans_prob"])
    mk = _mk_inputs(rng, 20, adversarial=True)
    cands = pd.concat([c.assign(url="m"), mk[0]], ignore_index=True)
    pairs = pd.concat([pairs.assign(url="m"), mk[1].drop(columns="flag")],
                      ignore_index=True)
    cands, pairs = _augment(rng, cands, pairs)
    _check(cands, pairs, CFG, rng)
    got = _batched(cands, pairs, CFG, None)
    assert 999 in [e for _, _, _, e in got.loc["m"].steps]


def test_classic_hmm_break_is_failed():
    """beam_search=False: a step that no valued state reaches (no row of
    layer 1 -> 2 leaves eid 3, the only state layer 0 -> 1 reaches)
    leaves the url no path: FAILED with end prob 0.0, as the per-url
    viterbi_classic gives."""
    rng = np.random.default_rng(9)
    cands = pd.DataFrame({"url": "b", "pid": [0, 0, 1, 1, 2],
                          "eid": [1, 2, 3, 4, 5],
                          "dist_p2c": [1.0, 2.0, 3.0, 4.0, 5.0]})
    pairs = pd.DataFrame({"url": "b", "pid_0": [0, 0, 1],
                          "eid_0": [1, 2, 4], "eid_1": [3, 3, 5],
                          "trans_prob": 0.5})
    cands, pairs = _augment(rng, cands, pairs)
    cfg = replace(CFG, beam_search=False)
    _check(cands, pairs, cfg, rng)
    got = _batched(cands, pairs, cfg, None).loc["b"]
    assert got.status == hmm.STATUS_FAILED and got.epath is None
    assert got.prob == 0.0


def test_classic_missing_emission_raises():
    """A pair row whose (pid_1, eid_1) has no candidate row (right = -1)
    is a NaN emission to the beam decode, but the classic one has no
    emission to score it with: _decode_stitch fails closed."""
    rng = np.random.default_rng(10)
    cands = pd.DataFrame({"url": "m", "pid": [0, 1], "eid": [10, 20],
                          "dist_p2c": [1.0, 2.0]})
    pairs = pd.DataFrame({"url": "m", "pid_0": [0, 0], "eid_0": [10, 10],
                          "eid_1": [20, 999], "trans_prob": 0.5})
    cands, pairs = _augment(rng, cands, pairs)
    assert _batched(cands, pairs, CFG, None).loc["m"].status \
        != hmm.STATUS_NO_CANDIDATES
    with pytest.raises(MissingEmissionError):
        _batched(cands, pairs, replace(CFG, beam_search=False), None)


# ---------------------------------------------------------------------------
# named cases: stitch_batch on hand-made winners vs stitch_path
# ---------------------------------------------------------------------------

def _cands(pids, eids):
    n = len(pids)
    return pd.DataFrame({"pid": pids, "eid": eids,
                         "len0": np.arange(1.0, n + 1) * 10,
                         "len1": np.arange(n, 0.0, -1) * 7})


def _pairs(rows):
    """rows: (pid_0, eid_0, eid_1, flag, o_node, d_node)."""
    df = pd.DataFrame(rows, columns=["pid_0", "eid_0", "eid_1", "flag",
                                     "o_node", "d_node"])
    k = len(df)
    df["d_sht"] = np.linspace(10.0, 90.0, k)
    df["avg_speed"] = np.linspace(3.0, 9.0, k)
    df["dist_prob"] = np.linspace(0.9, 0.5, k)
    df["trans_prob"] = np.linspace(0.8, 0.4, k)
    return df


def _stitch_cases(cases, cfg, sp_paths):
    """cases: (rlist pids, rlist eids, end_prob, cands, pairs) per url.
    Returns the batch's columns with sp paths."""
    spd = SpPayload(pd.DataFrame(
        [(o, d, 0.0, 0.0, 0.0, 0.0, 0.0, 0, ep)
         for (o, d), ep in sp_paths.items()],
        columns=["o_node", "d_node", "cost", "path_speed", "pcx", "pcy",
                 "pw", "pn", "epath"]))
    w_off = np.concatenate([[0], np.cumsum([len(c[0]) for c in cases])])
    w_pid, w_eid = (np.concatenate([np.asarray(c[i], np.int64)
                                    for c in cases]) for i in (0, 1))
    end_prob = np.array([c[2] for c in cases], dtype=np.float64)
    cat = {"gid": [], "c": [], "p": []}
    for g, c in enumerate(cases):
        cat["c"].append(c[3].assign(gid=g))
        cat["p"].append(c[4].assign(gid=g))
    cc, pp = (pd.concat(cat[k], ignore_index=True) for k in ("c", "p"))
    res = {}
    for collect in (False, True):
        got = res[collect] = hmm.stitch_batch(
            np.arange(len(cases)), w_off, w_pid, w_eid, end_prob,
            {k: cc[k].to_numpy() for k in cc}, {k: pp[k].to_numpy()
                                                for k in pp},
            cfg, cfg.dir_trans, None if collect else spd.paths)
        got["epath"] = got["epath"].rows()
        for g, (pids, eids, ep, c, p) in enumerate(cases):
            gt = p.copy()
            if not collect:
                gt["epath"] = [None if f == hmm.FLAG_SAME_SRC_FIRST
                               else sp_paths.get((o, d))
                               for o, d, f in zip(p.o_node, p.d_node, p.flag)]
            want = hmm_ref.stitch_path(pd.DataFrame({"pid": pids, "eid": eids}),
                                   gt, c, ep, cfg, cfg.dir_trans,
                                   collect_steps=collect)
            assert got["status"][g] == want["status"], (g, collect)
            g_ep = got["epath"][g]
            assert (None if g_ep is None else list(g_ep)) == want["epath"], \
                (g, collect)
            for k in METRIC_COLS:
                assert _same(got[k][g], want[k]), (g, k, collect)
            if collect:
                g_st = got["steps"][g]
                assert (None if g_st is None else list(g_st)) \
                    == want.get("steps"), (g, collect)
    return res[False]


def test_named_cases():
    cfg = CFG
    c3 = _cands([0, 1, 2], [100, 101, 102])
    cases = [
        # an empty winner list: FAILED, prob kept
        ([], [], 0.0, c3, _pairs([(0, 100, 101, 0, 1, 2)])),
        # a single winning state above / below prob_thres
        ([1], [101], 0.9, c3, _pairs([(0, 100, 101, 0, 1, 2)])),
        ([1], [101], cfg.prob_thres / 2, c3, _pairs([(0, 100, 101, 0, 1, 2)])),
        # a winning pair missing from the pair table: FAILED
        ([0, 1], [100, 101], 0.5, c3, _pairs([(0, 100, 999, 0, 1, 2)])),
        # a SAME_SRC_FIRST step (its path is skipped) then a NORMAL one
        ([0, 1, 2], [100, 101, 102], 0.5, c3,
         _pairs([(0, 100, 101, hmm.FLAG_SAME_SRC_FIRST, 1, 2),
                 (1, 101, 102, 0, 2, 3)])),
        # an sp miss: (5, 6) is not in the table
        ([0, 1], [100, 101], 0.5, c3, _pairs([(0, 100, 101, 0, 5, 6)])),
        # a path that dedups to one edge: SAME_LINK, metrics NaN
        ([0, 1], [100, 100], 0.9, _cands([0, 1], [100, 100]),
         _pairs([(0, 100, 100, 0, 7, 7)])),
        # ... and the same below prob_thres: FAILED
        ([0, 1], [100, 100], cfg.prob_thres / 2, _cands([0, 1], [100, 100]),
         _pairs([(0, 100, 100, 0, 7, 7)])),
        # zero step distance: avg_speed NaN; path overlapping both ends
        ([0, 2], [100, 102], 0.5, c3,
         _pairs([(0, 100, 102, 0, 3, 4)]).assign(d_sht=0.0)),
    ]
    sp_paths = {(1, 2): [100, 104], (2, 3): [101, 105, 102], (3, 4): [100, 102],
                (7, 7): None}
    got = _stitch_cases(cases, cfg, sp_paths)
    assert got["status"][0] == hmm.STATUS_FAILED
    assert list(got["status"][1:3]) == [hmm.STATUS_SAME_LINK,
                                        hmm.STATUS_FAILED]
    assert got["status"][3] == hmm.STATUS_FAILED and got["epath"][3] is None
    assert list(got["epath"][4]) == [100, 101, 105, 102]
    assert list(got["epath"][5]) == [100, 101]
    assert list(got["epath"][6]) == [100]
    assert list(got["status"][6:8]) == [hmm.STATUS_SAME_LINK,
                                        hmm.STATUS_FAILED]
    assert np.isnan(got["dist"][6])
    assert np.isnan(got["avg_speed"][8])


def test_missing_winning_candidate_raises():
    c = _cands([0, 1], [100, 101])
    with pytest.raises(KeyError):
        _stitch_cases([([0, 1], [100, 555], 0.5, c,
                        _pairs([(0, 100, 555, 0, 1, 2)]))], CFG, {})


def test_no_candidates_and_one_layer_urls():
    """A url with no candidates (status 3), one-layer urls (status 2,
    the layer's nearest edge) and no multi-layer url in the batch."""
    rng = np.random.default_rng(0)
    cands = pd.DataFrame({"url": ["a", "a", "b"], "pid": [0, 0, 0],
                          "eid": [7, 3, 9], "dist_p2c": [4.0, 2.0, 1.0],
                          "len0": [1.0, 2.0, 3.0], "len1": [1.0, 1.0, 1.0]})
    pairs = pd.DataFrame({c: pd.Series([], dtype=t) for c, t in (
        ("url", object), ("pid_0", np.int64), ("pid_1", np.int64),
        ("eid_0", np.int64), ("eid_1", np.int64), ("flag", np.int32),
        ("trans_prob", np.float64), ("dist_prob", np.float64),
        ("d_sht", np.float64), ("avg_speed", np.float64),
        ("o_node", np.int64), ("d_node", np.int64))})
    _check(cands, pairs, CFG, rng, extra_urls=("c",))
    got = _batched(cands, pairs, CFG, _sp_table(rng)[0].paths, ("c",))
    assert list(got.status) == [hmm.STATUS_ONE_POINT, hmm.STATUS_ONE_POINT,
                                hmm.STATUS_NO_CANDIDATES]
    assert [list(e) for e in got.epath[:2]] == [[3], [9]]


def test_demand_payload_equals_sp_table():
    """DemandSpPayload (searched per batch, one search per distinct
    origin, its memo appended column by column) gives every (o, d)
    exactly the lookup columns, bitwise, and the path of an SpPayload
    built from shortest_paths_to_targets' single-target rows over the
    same adjacency: across two overlapping batches (memo hits, and
    origins asked again with new targets), with o == d pairs,
    unreachable pairs (a node off the graph) and pairs beyond
    max_dist."""
    from st_mapmatching_spark.graph.network import Network
    from st_mapmatching_spark.operators.matching import DemandSpPayload
    from st_mapmatching_spark.sources.network_gen import make_grid_network
    e, n = make_grid_network(CFG)
    net = Network(e, n, CFG)
    exp = net.search_state()
    nodes = np.append(net.nodes.nid.to_numpy(np.int64), 10 ** 6)
    rng = np.random.default_rng(1)
    o1, d1 = rng.choice(nodes[:12], 300), rng.choice(nodes, 300)
    d1[::17] = o1[::17]                    # o == d: cost 0, no path
    o2 = np.concatenate([o1[:100], o1[:100]])
    d2 = np.concatenate([d1[:100], rng.choice(nodes, 100)])
    max_dist = 1500.0                      # far grid corners are beyond
    rows = [shortest_paths_to_targets(exp[0], int(a), [int(b)], max_dist,
                                      *exp[1:])[0]
            for a, b in {(a, b) for a, b in zip(np.concatenate([o1, o2]),
                                                np.concatenate([d1, d2]))}]
    want_spd = SpPayload(pd.DataFrame(rows))
    spd = DemandSpPayload(exp, max_dist)
    for o, d in ((o1, d1), (o2, d2)):
        got, want = spd.lookup(o, d), want_spd.lookup(o, d)
        assert got.keys() == want.keys()
        for c in want:
            assert got[c].dtype == want[c].dtype, c
            assert got[c].tobytes() == want[c].tobytes(), c
        for g, w in zip(spd.paths(o, d), want_spd.paths(o, d)):
            assert np.array_equal(g, w)
    assert len(spd.o) == len(rows)         # each pair searched once
    hit = want_spd.lookup(o1, d1)
    assert hit["has_path"].any() and not hit["has_path"][::17].any()
    off_graph = d1 == 10 ** 6
    assert off_graph.any() and np.isinf(hit["cost"][off_graph]).all()
    assert np.isinf(hit["cost"][~off_graph & (o1 != d1)]).any()
    empty = np.empty(0, np.int64)
    flat, off = spd.paths(empty, empty)
    assert len(flat) == 0 and list(off) == [0]
    assert all(len(v) == 0 for v in spd.lookup(empty, empty).values())
