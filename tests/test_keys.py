"""kernels.keys: the composite-key lookup shared by SpPayload.locate,
viterbi_match's pair-emission attach and stitch_path's winning-step
lookup — matches a dict lookup, including misses and duplicate keys, and
fails closed (ValueError) when the packed key would overflow int64."""

import numpy as np
import pytest

from st_mapmatching_spark.config import MatchConfig
from st_mapmatching_spark.kernels import hmm
from st_mapmatching_spark.kernels.keys import check_key_space, key_find, key_index


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


def test_lockstep_group_key_overflow_raises():
    """viterbi_beam_lockstep packs (group, eid) as grp * M + e with
    M = max eid + 1: three groups over eids near 2**62 overflow int64 and
    must raise instead of wrapping into colliding state keys."""
    big = np.int64(2 ** 62)
    n = 3
    e0 = np.full(n, big, dtype=np.int64)
    e1 = np.full(n, big + 1, dtype=np.int64)
    with pytest.raises(ValueError, match="overflow int64"):
        hmm.viterbi_beam_lockstep(
            np.arange(n), np.arange(n), np.ones(n, np.int64), e0, e1,
            np.full(n, 0.5), e0, np.full(n, 0.5), np.arange(n + 1),
            np.ones(n, np.int64), MatchConfig())
