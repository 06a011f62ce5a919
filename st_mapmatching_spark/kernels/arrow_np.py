"""numpy <-> Arrow through buffers, without pandas.

In pyarrow 16, ``pa.array``, ``Array.to_numpy`` and ``np.asarray`` of an
Arrow array all import pandas; ``Array.from_buffers`` over
``pa.py_buffer`` and ``np.frombuffer`` over an array's buffers do not.
The one-pass matcher's mapInArrow stage crosses the boundary only
through these helpers, so its workers never load pandas.
"""

from __future__ import annotations

import numpy as np


def np_view(arr, dtype) -> np.ndarray:
    """Zero-copy, read-only numpy view of a null-free fixed-width Arrow
    array."""
    return np.frombuffer(arr.buffers()[1], dtype=dtype,
                         count=arr.offset + len(arr))[arr.offset:]


def _validity(valid: np.ndarray | None):
    """Arrow validity bitmap of the boolean ``valid`` (None: no NULLs)."""
    import pyarrow as pa
    if valid is None or valid.all():
        return None
    return pa.py_buffer(np.packbits(valid, bitorder="little"))


def arrow_array(values: np.ndarray, valid: np.ndarray | None = None):
    """Arrow array of the fixed-width numpy ``values``, of the same type,
    NULL where ``valid`` is False."""
    import pyarrow as pa
    values = np.ascontiguousarray(values)
    return pa.Array.from_buffers(pa.from_numpy_dtype(values.dtype),
                                 len(values),
                                 [_validity(valid), pa.py_buffer(values)])


def list_array(flat: np.ndarray, off: np.ndarray):
    """Arrow ``list<element: int64>`` (Spark's ``array<long>``) whose row
    i is flat[off[i]:off[i + 1]], NULL where that is empty."""
    import pyarrow as pa
    return pa.Array.from_buffers(
        pa.list_(pa.field("element", pa.int64())), len(off) - 1,
        [_validity(np.diff(off) > 0), pa.py_buffer(off.astype(np.int32))],
        children=[arrow_array(flat.astype(np.int64, copy=False))])
