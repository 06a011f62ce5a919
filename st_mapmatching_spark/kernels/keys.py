"""Composite-key lookup: each integer key column is rank-encoded against
its sorted uniques and the ranks packed into one int64 code, so a
multi-column lookup is one binary search. Fails closed (ValueError) when
the key ranges' product does not fit in int64."""

from __future__ import annotations

import math

import numpy as np

_INT64_MAX = int(np.iinfo(np.int64).max)


def check_key_space(*sizes: int) -> None:
    """Raise ValueError unless codes in [0, prod(sizes)) fit in int64."""
    if math.prod(int(s) for s in sizes) - 1 > _INT64_MAX:
        raise ValueError(f"composite key ranges {[int(s) for s in sizes]} "
                         "overflow int64")


def _codes(uniq, cols):
    """(codes, ok): each row's packed rank code against ``uniq``; ok is
    False where a value is not among its column's uniques."""
    check_key_space(*(len(u) for u in uniq))
    n = len(cols[0])
    code = np.zeros(n, dtype=np.int64)
    ok = np.ones(n, dtype=bool)
    for u, c in zip(uniq, cols):
        if not len(u):
            return code, np.zeros(n, dtype=bool)
        r = np.minimum(np.searchsorted(u, c), len(u) - 1)
        ok &= u[r] == c
        code = code * len(u) + r
    return code, ok


def key_index(*cols):
    """(uniq, code, order): per-column sorted uniques, the rows' codes
    ascending, and the row behind each code (stable for equal keys)."""
    uniq = tuple(np.unique(c) for c in cols)
    code, _ = _codes(uniq, cols)
    order = np.argsort(code, kind="stable")
    return uniq, code[order], order


def key_find(uniq, code, *cols):
    """(pos, hit): each query key's first position in key_index's
    ``code`` (clipped where it misses) and whether it is there."""
    q, ok = _codes(uniq, cols)
    if not len(code):
        return np.zeros(len(q), dtype=np.int64), np.zeros(len(q), dtype=bool)
    pos = np.minimum(np.searchsorted(code, q), len(code) - 1)
    return pos, ok & (code[pos] == q)
