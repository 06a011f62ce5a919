"""Deterministic coordinate extraction from page text.

The graft's replacement for the GeoJSON trajectory reader
(/root/reference/mapmatching/match/io.py:7-26): mine the ordered
coordinate trail from `text` with a fixed grammar. The extractor is a
pure function of `text` — it never mutates it (per-row invariant:
byte-identical extracted text per url) — and is vectorized so the engine
can run it inside `mapInPandas` over Arrow batches.
"""

from __future__ import annotations

import re
from itertools import chain

import numpy as np
import pandas as pd

GEO_LINE = re.compile(r"^GEO (\d+) (-?\d+\.\d+) (-?\d+\.\d+) (\d+)$", re.MULTILINE)


def extract_points(pages: pd.DataFrame) -> pd.DataFrame:
    """pages(url, text, ...) -> points(url, pid_raw, x, y, t_epoch).

    ``pid_raw`` preserves the in-page order (the GEO index); downstream
    stages re-densify to 0..n-1 after simplification. One C regex scan
    per page (``findall``; a non-string text has no points), then one
    numpy conversion of every captured field of the batch.
    """
    found = [GEO_LINE.findall(t) if isinstance(t, str) else []
             for t in pages["text"].to_numpy()]
    n = np.fromiter(map(len, found), dtype=np.int64, count=len(found))
    fields = np.array(list(chain.from_iterable(found)),
                      dtype=object).reshape(-1, 4)
    pts = pd.DataFrame({"url": np.repeat(pages["url"].to_numpy(), n),
                        "pid_raw": fields[:, 0].astype(np.int64),
                        "x": fields[:, 1].astype(np.float64),
                        "y": fields[:, 2].astype(np.float64),
                        "t_epoch": fields[:, 3].astype(np.int64)})
    return pts.sort_values(["url", "pid_raw"]).reset_index(drop=True)
