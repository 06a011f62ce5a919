"""r7: viterbi_match's whole-batch decode (lockstep + composite-key obs
attach) vs the per-url reference recipe it replaced — including the
NaN-miss semantics of the old pandas merge, urls spanning tiny Arrow
batches, and single-layer/no-pair degenerates."""

import numpy as np
import pandas as pd
import pytest

from st_mapmatching_spark.config import MatchConfig
from st_mapmatching_spark.kernels import hmm
from st_mapmatching_spark.operators.matching import SCORED_COLS, viterbi_match
from st_mapmatching_spark.oracle import hmm_ref


CFG = MatchConfig(dir_trans=False)


def _mk_inputs(rng, n_urls, adversarial=True):
    """Synthetic candidate + scored-pair tables shaped like the
    relational pipeline's (including, for the beam decode, a deliberate
    pair row whose (pid_1, eid_1) has no candidate -> the merge's NaN
    path; the classic decode has no emission for such rows and raises,
    per url (viterbi_classic's emit dict) and batched
    (MissingEmissionError), so they are beam-only)."""
    cand_rows, pair_rows = [], []
    for ui in range(n_urls):
        url = f"u{ui:03d}"
        n_layers = int(rng.integers(1, 5))
        layer_eids = {}
        for pid in range(n_layers):
            k = int(rng.integers(1, 4))
            eids = rng.choice(np.arange(100, 120), size=k, replace=False)
            layer_eids[pid] = eids
            for e in eids:
                cand_rows.append((url, pid, int(e),
                                  float(rng.random() * 45),
                                  float(rng.random() * 100),
                                  float(rng.random() * 100)))
        for pid in range(n_layers - 1):
            for e0 in layer_eids[pid]:
                for e1 in layer_eids[pid + 1]:
                    pair_rows.append(
                        (url, pid, pid + 1, int(e0), int(e1),
                         int(hmm.FLAG_NORMAL),
                         float(rng.random()),          # trans_prob
                         float(rng.random()),          # dist_prob
                         float(rng.random() * 200),    # d_sht
                         float(rng.random() * 20),     # avg_speed
                         int(e0) * 10, int(e1) * 10))  # o_node, d_node
        if adversarial and n_layers >= 2 and rng.random() < 0.3:
            # adversarial: a pair pointing at a NON-candidate (pid_1,
            # eid_1) -> observ lookup must yield NaN like the old merge
            pair_rows.append((url, 0, 1, int(layer_eids[0][0]), 999,
                              int(hmm.FLAG_NORMAL), 0.5, 0.5, 10.0, 5.0,
                              1, 2))
    cands = pd.DataFrame(cand_rows, columns=[
        "url", "pid", "eid", "dist_p2c", "len0", "len1"])
    scored = pd.DataFrame(pair_rows, columns=[
        "url", "pid_0", "pid_1", "eid_0", "eid_1", "flag", "trans_prob",
        "dist_prob", "d_sht", "avg_speed", "o_node", "d_node"])
    return cands, scored


def _reference_rows(cands, scored, cfg):
    """The OLD per-url recipe: pandas slice + merge + decode + stitch."""
    rows = []
    for url in sorted(cands.url.unique()):
        cpdf = cands[cands.url == url].reset_index(drop=True)
        gpdf = scored[scored.url == url].reset_index(drop=True)
        base = {"url": url, "status": hmm.STATUS_NO_CANDIDATES,
                "epath0": None}
        if cpdf.pid.nunique() == 1:
            best = cpdf.sort_values(["dist_p2c", "eid"]).iloc[0]
            rows.append({**base, "status": hmm.STATUS_ONE_POINT,
                         "epath0": [int(best.eid)]})
            continue
        dens = hmm.gaussian_emission(cpdf.dist_p2c.to_numpy(),
                                     cfg.gps_sigma, cfg.gps_bias)
        cpdf = cpdf.assign(
            observ_prob=hmm.observ_prob_from_density(dens, dens.max()))
        obs_map = cpdf[["pid", "eid", "observ_prob"]].rename(
            columns={"pid": "pid_1", "eid": "eid_1",
                     "observ_prob": "_obs"})
        gpdf = gpdf.merge(obs_map, on=["pid_1", "eid_1"], how="left")
        gpdf["observ_prob"] = gpdf.pop("_obs")
        end_prob, rlist = hmm_ref.decode_sequence(cpdf, gpdf, cfg)
        res = hmm_ref.stitch_path(rlist, gpdf, cpdf, end_prob, cfg,
                              dir_trans=False, collect_steps=True)
        if "epath" in res:
            res["epath0"] = res.pop("epath")
        rows.append({**base, **res})
    return pd.DataFrame(rows).set_index("url").sort_index()


@pytest.mark.parametrize("seed", [3, 11])
@pytest.mark.parametrize("beam", [True, False])
def test_batched_equals_per_url_reference(spark, seed, beam):
    from dataclasses import replace
    cfg = replace(CFG, beam_search=beam)
    rng = np.random.default_rng(seed)
    cands_pd, scored_pd = _mk_inputs(rng, 25, adversarial=beam)
    cands = spark.createDataFrame(cands_pd)
    scored = spark.createDataFrame(
        scored_pd, schema=("url string, pid_0 int, pid_1 int, eid_0 long, "
                           "eid_1 long, flag int, trans_prob double, "
                           "dist_prob double, d_sht double, "
                           "avg_speed double, o_node long, d_node long"))
    # tiny Arrow batches: urls MUST span batch boundaries
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "17")
    try:
        got = (viterbi_match(cands, scored, cfg, sp_paths=None)
               .toPandas().set_index("url").sort_index())
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = _reference_rows(cands_pd, scored_pd, cfg)
    assert list(got.index) == list(want.index)
    assert (got.status == want.status).all(), \
        got.status.compare(want.status)
    for url in want.index:
        g_ep = got.loc[url].epath0
        w_ep = want.loc[url].epath0
        g_ep = None if g_ep is None else [int(e) for e in g_ep]
        w_ep = None if w_ep is None else [int(e) for e in w_ep]
        assert g_ep == w_ep, f"{url}: {g_ep} != {w_ep}"
        for c in ("step_0", "step_n", "dist", "avg_speed", "prob",
                  "norm_prob", "dist_prob", "trans_prob"):
            if c not in want.columns:
                continue
            gv, wv = float(got.loc[url][c]), float(want.loc[url][c])
            assert (np.isnan(wv) and np.isnan(gv)) or gv == wv, \
                f"{url}:{c}: {gv} != {wv}"
