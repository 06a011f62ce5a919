"""kernels.keys: the composite-key lookup shared by SpPayload.locate,
viterbi_match's pair-emission attach and stitch_path's winning-step
lookup — matches a dict lookup, including misses and duplicate keys, and
fails closed (ValueError) when the packed key would overflow int64. The
lockstep Viterbi packs no keys: it decodes eids near 2**62 exactly."""

import numpy as np
import pytest

from st_mapmatching_spark.config import MatchConfig
from st_mapmatching_spark.kernels import hmm
from st_mapmatching_spark.kernels.keys import check_key_space, key_find, key_index
from st_mapmatching_spark.oracle import hmm_ref
from test_viterbi_lockstep import _batchify, _group, _random_case


def test_lookup_matches_dict():
    rng = np.random.default_rng(5)
    a = rng.integers(0, 40, 500)
    b = rng.integers(-5, 1_000_000_000, 500)
    c = rng.integers(0, 3, 500).astype(np.int32)
    first = {}
    for i, k in enumerate(zip(a.tolist(), b.tolist(), c.tolist())):
        first.setdefault(k, i)
    uniq, code, order = key_index(a, b, c)
    # queries: every row's key plus keys absent from the index, with
    # values outside and between each column's uniques
    qa = np.concatenate([a, [41, 0, -1]])
    qb = np.concatenate([b, [b[0], 1_000_000_001, b[1]]])
    qc = np.concatenate([c, [c[0], c[1], c[2]]])
    pos, hit = key_find(uniq, code, qa, qb, qc)
    for i, k in enumerate(zip(qa.tolist(), qb.tolist(), qc.tolist())):
        if k in first:
            assert hit[i] and order[pos[i]] == first[k]
        else:
            assert not hit[i]


def test_empty_index_misses():
    uniq, code, order = key_index(np.empty(0, np.int64), np.empty(0, np.int64))
    pos, hit = key_find(uniq, code, np.array([1, 2]), np.array([3, 4]))
    assert not hit.any() and len(pos) == 2 and len(order) == 0


def test_key_space_overflow_raises():
    check_key_space(2 ** 31, 2 ** 32)          # 2**63 codes: 0 .. 2**63 - 1
    with pytest.raises(ValueError, match="overflow int64"):
        check_key_space(2 ** 31 + 1, 2 ** 32)
    # four columns of 60,000 distinct values: 60,000**4 > 2**63 would
    # wrap a packed rank code into collisions
    v = np.arange(60_000, dtype=np.int64)
    with pytest.raises(ValueError, match="overflow int64"):
        key_index(v, v, v, v)
    with pytest.raises(ValueError, match="overflow int64"):
        key_find((v, v, v, v), np.empty(0, np.int64), v, v, v, v)


def test_lockstep_decodes_eids_near_2_62():
    """viterbi_beam_lockstep keys its states by slot, not by a packed
    (group, eid) code: groups over eids near 2**62, whose grp * max_eid
    product overflows int64, decode exactly as viterbi_beam does."""
    big = 2 ** 62
    groups = []
    for cands, gt in _random_case(np.random.RandomState(4), ngroups=12):
        groups.append((cands.assign(eid=cands.eid + big),
                       gt.assign(eid_0=gt.eid_0 + big, eid_1=gt.eid_1 + big)))
    cfg = MatchConfig()
    dec = hmm.viterbi_beam_lockstep(*_batchify(groups), cfg)
    assert int(dec[2].min()) >= big
    for g, (cands, gt) in enumerate(groups):
        exp_prob, exp_rlist = hmm_ref.viterbi_beam(cands, gt, cfg)
        got_prob, ridx, reid = _group(*dec, g)
        pids = np.sort(cands.pid.unique())
        assert np.array_equal(pids[ridx], exp_rlist.pid.to_numpy())
        assert np.array_equal(reid, exp_rlist.eid.to_numpy())
        assert got_prob == exp_prob or (np.isnan(got_prob)
                                        and np.isnan(exp_prob))
