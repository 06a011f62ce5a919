"""Deterministic coordinate extraction from page text.

The graft's replacement for the GeoJSON trajectory reader
(/root/reference/mapmatching/match/io.py:7-26): mine the ordered
coordinate trail from `text` with a fixed grammar. The extractor is a
pure function of `text` — it never mutates it (per-row invariant:
byte-identical extracted text per url).

One extractor serves every stage: geo_points runs on Arrow arrays in
``pyarrow.compute`` (split into lines, one RE2 match per line, casts)
and loads no pandas, so the one-pass matcher's ``mapInArrow`` worker
never imports it; extract_points is its pandas wrapper for the
``mapInPandas`` stages and the oracle.

The grammar is read by RE2, as DuckDB's regex functions read it:
``\\d`` matches the ASCII digits only, so a line written with other
Unicode digits (which Python's ``re`` would accept) carries no point. A
line ends at ``\\n``; a CRLF line keeps its ``\\r`` and does not match.
"""

from __future__ import annotations

import numpy as np

from ..kernels.arrow_np import np_view

GEO_PATTERN = (r"^GEO (?P<pid_raw>\d+) (?P<x>-?\d+\.\d+) "
               r"(?P<y>-?\d+\.\d+) (?P<t_epoch>\d+)$")
_FIELDS = (("pid_raw", np.int64), ("x", np.float64), ("y", np.float64),
           ("t_epoch", np.int64))


def url_codes(url) -> tuple[np.ndarray, np.ndarray]:
    """(code, page): each entry of the Arrow array ``url`` as its dense
    rank among the array's distinct values, from 0 (equal urls share a
    code, and codes sort as the urls do, NULL last), and for each code
    an entry that holds it, for a ``take`` back to the url."""
    import pyarrow.compute as pc
    rank = pc.rank(url, sort_keys="ascending", tiebreaker="dense")
    code = np_view(rank, np.uint64).astype(np.int64) - 1
    page = np.empty(int(code.max(initial=-1)) + 1, np.int64)
    page[code] = np.arange(len(code))
    return code, page


def geo_points(code: np.ndarray, text) -> tuple:
    """The GEO lines of every page: ``text`` an Arrow string array (a
    NULL text has no points), ``code[i]`` page i's url code (url_codes'
    first array). Returns numpy arrays (page, pid_raw, x, y, t_epoch),
    page being the line's index in ``text``, sorted by (code, pid_raw)
    and stably, so a url's points keep their text order within one GEO
    index."""
    import pyarrow as pa
    import pyarrow.compute as pc
    lines = pc.split_pattern(text, "\n")
    m = pc.extract_regex(pc.list_flatten(lines), GEO_PATTERN)
    ok = m.is_valid()
    m = m.filter(ok)
    page = np_view(pc.list_parent_indices(lines).filter(ok), np.int64)
    cols = [np_view(pc.cast(pc.struct_field(m, f), pa.from_numpy_dtype(t)), t)
            for f, t in _FIELDS]
    o = np.lexsort((cols[0], code[page]))
    return (page[o], *(c[o] for c in cols))


def extract_points(pages):
    """pages(url, text, ...) pandas frame -> points(url, pid_raw, x, y,
    t_epoch), sorted (url, pid_raw): geo_points' pandas wrapper.

    ``pid_raw`` preserves the in-page order (the GEO index); downstream
    stages re-densify to 0..n-1 after simplification. A text that is not
    a string has no points."""
    import pandas as pd
    import pyarrow as pa
    url = pages["url"].to_numpy()
    text = pa.array([t if isinstance(t, str) else None
                     for t in pages["text"].to_numpy()], pa.string())
    page, pid_raw, x, y, t_epoch = geo_points(
        url_codes(pa.array(url, from_pandas=True))[0], text)
    return pd.DataFrame({"url": url[page], "pid_raw": pid_raw, "x": x,
                         "y": y, "t_epoch": t_epoch})
