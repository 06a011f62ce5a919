"""Measurement arithmetic and host probes used by the benchmark.

Everything here is independent of Spark so the self-tests can pin it:
output digests, the stage-interval union behind the driver gap, span
self time, the process-tree RSS sampler and the filesystem type in the
host record.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time

import numpy as np
import pandas as pd

FLOAT_DECIMALS = 9


# ---------------------------------------------------------------------------
# output digests
# ---------------------------------------------------------------------------

def canonical_rows(df: pd.DataFrame) -> list[str]:
    """One string per row, columns in name order, floats rounded to
    FLOAT_DECIMALS, integral values written without a fraction and every
    null as ``null``; sorted so the digest ignores row order and engine
    dtype differences (int32 vs int64, object vs string)."""
    cols = []
    for c in sorted(df.columns):
        s = df[c]
        if s.dtype == object and s.map(lambda v: v is None or isinstance(
                v, (int, float, np.number)) and not isinstance(v, bool)).all():
            s = s.astype("float64")          # numbers held in an object column
        if s.dtype.kind == "f":
            r = s.round(FLOAT_DECIMALS)
            whole = r.notna() & (r == np.floor(r)) & (r.abs() < 2 ** 53)
            txt = r.map(repr)
            txt[whole] = r[whole].astype("int64").astype(str)
            txt[r.isna()] = "null"
        elif s.dtype.kind in "iub":
            txt = s.astype("int64").astype(str)
        else:
            txt = s.map(lambda v: "null" if v is None or v is pd.NA
                        or (isinstance(v, float) and v != v) else str(v))
        cols.append(txt.astype(str).reset_index(drop=True))
    if not cols:
        return []
    return sorted(cols[0].str.cat(cols[1:], sep="\x1f").tolist())


def digest(df: pd.DataFrame) -> str:
    """Order-independent digest of a result frame: its sorted column
    names plus its canonical rows."""
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(df.columns)).encode())
    for row in canonical_rows(df):
        h.update(row.encode())
        h.update(b"\n")
    return f"{len(df)}:{h.hexdigest()[:20]}"


# ---------------------------------------------------------------------------
# interval and span arithmetic
# ---------------------------------------------------------------------------

def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(window: tuple[float, float], stage_intervals) -> float:
    """Wall time inside ``window`` during which no stage was running."""
    w0, w1 = window
    clipped = [(max(s, w0), min(e, w1)) for s, e in stage_intervals]
    return (w1 - w0) - union_length(clipped)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    direct children cover (children may overlap each other)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = [(max(a, s["start"]), min(b, s["end"]))
                   for a, b in kids.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(covered)
    return out


def median(values) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# process-tree RSS
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(d))
    return kids


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident set size of ``root``'s process tree, in total and split
    into the JVM and the Python worker processes."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE") / 2 ** 20
    out = {"total": 0.0, "jvm": 0.0, "workers": 0.0}
    todo = [(root, "driver")]
    while todo:
        pid, kind = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                mb = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if comm == "java":
            kind = "jvm"
        elif kind == "jvm":
            kind = "workers"   # Python daemon and workers forked by the JVM
        out["total"] += mb
        if kind in out:
            out[kind] += mb
        todo.extend((k, kind) for k in kids.get(pid, []))
    return out


class RssSampler:
    """Samples the benchmark's process-tree RSS on a thread while
    ``active`` is set and keeps the highest sample of each part."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = {"total": 0.0, "jvm": 0.0, "workers": 0.0}
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            if self.active.wait(self.interval) and not self._stop.is_set():
                for k, v in tree_rss_mb(root).items():
                    self.peak[k] = max(self.peak[k], v)
                time.sleep(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self.active.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# host record
# ---------------------------------------------------------------------------

def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (e.g. tmpfs)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if path == mnt or path.startswith(mnt.rstrip("/") + "/"):
                if len(mnt) >= len(best):
                    best, kind = mnt, parts[2]
    return kind
