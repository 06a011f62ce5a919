"""Self-tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/tests -q      (from the repository root)
"""

import math

import numpy as np
import pandas as pd
import pytest

from perfbench import measure, tracing


# ---- stage-interval union and the driver gap -------------------------------

@pytest.mark.parametrize("intervals, want", [
    ([], 0.0),
    ([(0, 1)], 1.0),
    ([(0, 1), (2, 3)], 2.0),                  # disjoint
    ([(0, 2), (1, 3)], 3.0),                  # overlapping
    ([(0, 4), (1, 2)], 4.0),                  # nested
    ([(2, 3), (0, 1), (1, 2)], 3.0),          # touching, unsorted
    ([(1, 1), (3, 2)], 0.0),                  # empty and inverted
])
def test_union_length(intervals, want):
    assert measure.union_length(intervals) == pytest.approx(want)


def test_driver_gap_counts_time_with_no_stage_running():
    # window 0..10; stages cover 1..3 and 2..5 (overlap) and 8..12 (clipped)
    gap = measure.driver_gap((0, 10), [(1, 3), (2, 5), (8, 12)])
    assert gap == pytest.approx(10 - (4 + 2))


def test_driver_gap_ignores_stages_outside_the_window():
    assert measure.driver_gap((5, 6), [(0, 1), (7, 9)]) == pytest.approx(1.0)


# ---- span self time --------------------------------------------------------

def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_union():
    spans = [_span(0, None, 0, 10),
             _span(1, 0, 1, 4), _span(2, 0, 3, 6),   # overlapping children
             _span(3, 1, 1, 2)]                       # grandchild
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10 - 5)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)


def test_tracer_records_parents_and_self_time(tmp_path):
    tr = tracing.Tracer("run-1")
    with tr.span("job"):
        with tr.span("call"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0]
    assert {s["run"] for s in tr.spans} == {"run-1"}
    tr.write(str(tmp_path / "trace.json"))
    assert all(s["self_s"] >= 0 for s in tr.spans)


# ---- digest canonicalization -----------------------------------------------

def _frame():
    return pd.DataFrame({"url": ["b", "a", "c"], "status": [0, 3, 1],
                         "norm_prob_r": [0.5, np.nan, 1.0 / 3.0]})


def test_digest_ignores_row_and_column_order():
    df = _frame()
    shuffled = df.iloc[[2, 0, 1]][["norm_prob_r", "url", "status"]]
    assert measure.digest(df) == measure.digest(shuffled)


def test_digest_ignores_engine_dtypes():
    df = _frame()
    other = df.astype({"status": "int32"})
    other["url"] = other["url"].astype("string")
    other["norm_prob_r"] = other["norm_prob_r"].astype(object).where(
        other["norm_prob_r"].notna(), None)
    assert measure.digest(df) == measure.digest(other)


def test_digest_treats_integral_floats_as_integers():
    a = pd.DataFrame({"rank": [1, 2]})
    b = pd.DataFrame({"rank": [1.0, 2.0]})
    assert measure.digest(a) == measure.digest(b)


def test_digest_rounds_below_nine_decimals_only():
    a = pd.DataFrame({"x": [0.1 + 0.2]})
    assert measure.digest(a) == measure.digest(pd.DataFrame({"x": [0.3]}))
    assert measure.digest(a) != measure.digest(pd.DataFrame({"x": [0.300000002]}))


def test_digest_sees_a_changed_value_and_a_missing_row():
    df = _frame()
    changed = df.copy()
    changed.loc[0, "status"] = 2
    assert measure.digest(df) != measure.digest(changed)
    assert measure.digest(df) != measure.digest(df.iloc[:2])


def test_digest_null_forms_agree():
    a = pd.DataFrame({"s": ["x", None]})
    b = pd.DataFrame({"s": ["x", math.nan]})
    assert measure.digest(a) == measure.digest(b)


# ---- profile aggregation ---------------------------------------------------

def test_profile_metrics_split_engine_time():
    op = ("matching.py", 895, "op")
    frame = ("matching.py", 610, "_match_frame")
    vit = ("hmm.py", 517, "viterbi_beam_lockstep")
    npf = ("fromnumeric.py", 53, "_wrapfunc")
    stats = {
        op: (1, 1, 0.5, 10.0, {}),
        frame: (1, 1, 1.0, 9.0, {op: (1, 1, 1.0, 9.0)}),
        vit: (1, 1, 2.0, 3.0, {frame: (1, 1, 2.0, 3.0)}),
        npf: (2, 2, 1.5, 1.5, {vit: (2, 2, 1.5, 1.0), ("other.py", 1, "f"): (0, 0, 0, 0.5)}),
    }
    m = tracing.profile_metrics(stats, {"matching.py", "hmm.py"})
    assert m["python.udf_s"] == pytest.approx(0.5 + 1.0 + 2.0 + 1.5)
    # engine self time + numpy called directly by engine code
    assert m["python.kernel_s"] == pytest.approx(0.5 + 1.0 + 2.0 + 1.0)
    assert m["kernels.viterbi_beam_lockstep_s"] == pytest.approx(3.0)
    assert m["matching.match_frame_self_s"] == pytest.approx(1.0)
    assert m["kernels.stitch_path_s"] == 0.0


def test_every_per_layer_name_has_a_unit():
    names = tracing.per_layer_names()
    assert len(names) == len(set(names))
    assert {tracing.unit_of(n) for n in names} <= {"s", "MB", "ratio", "count"}


def test_benchmark_json_lists_every_reported_metric():
    import json
    import os
    path = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == tracing.per_layer_names()
    assert [m["name"] for m in bench["end_to_end"]] == [
        "setup_s", "job_s", "trajs_per_s", "worker_rss_mb"]
