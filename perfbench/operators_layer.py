"""The operator suite, measured in the traced run of ``onepass``.

One job per call, back to back: each is the gate query that wraps one
public operator (``__spark_entry__.queries()``), run over the sf0.1
tables in ``perfbench/data/sf0.1``, with its result collected to the
driver (the digest needs the rows; a ``noop`` write would make every
query run twice). The candidates and simplify layers are used here
through the shuffle route rather than inside the matcher kernel. The
suite is the only user of dedup, similarity, tiling and text; the dedup
operators persist frames no caller can release (ROADMAP item 5), which
``cache.operators_*`` shows. It does not fit the end-to-end run budget
as a workload of its own, so it is measured here only, one call each
and without a warm-up round of its own (which would cost ~15-30 s of a
traced run that already nears the 180 s a run may take): a span
includes the code generation of its plan. Each output must equal its
DuckDB twin (``oracle_sql()``) over the same tables (the expected
digests made by ``make_expected.py``).
"""

from __future__ import annotations

import importlib

from . import measure
from .workloads import DATA

PKG = "st_mapmatching_spark.operators"
CALLS = {  # span -> (gate query, module, public function)
    "tiling.assign_tiles": ("geo_pip_tiles", "tiling", "assign_tiles"),
    "candidates.knn": ("geo_knn_edges", "candidates", "candidate_join"),
    "candidates.simplify_trajs": ("geo_simplify", "candidates", "simplify_trajs"),
    "dedup.minhash_lsh_pairs": ("dedup_minhash", "dedup", "minhash_lsh_pairs"),
    "dedup.simhash_near_pairs": ("dedup_simhash", "dedup", "simhash_near_pairs"),
    "similarity.brute_force_topk": ("sim_cosine_topk", "similarity", "brute_force_topk"),
    "text.lang_id": ("text_lang_id", "text", "lang_id"),
}
NAMES = tuple(f"{span}_s" for span in CALLS) + (
    "cache.operators_persisted_rdds", "cache.operators_retained_mb")


def _present(mod: str, fn: str) -> bool:
    try:
        return hasattr(importlib.import_module(f"{PKG}.{mod}"), fn)
    except ImportError:
        return False


def run(spark, tracer, expected: dict,
        keep: set) -> tuple[dict, list, list]:
    """Returns the operator metrics, the names reported absent and the
    errors (a failed call or a digest that differs from the expected
    one). ``keep`` holds the ids of the RDDs the run staged itself."""
    import __spark_entry__ as E

    from .driver import cached_rdds, release_rdds

    sc, queries = spark.sparkContext, E.queries()
    calls = {span: q for span, (q, mod, fn) in CALLS.items()
             if q in queries and _present(mod, fn)}
    absent = [f"{span}_s" for span in CALLS if span not in calls]
    out, errors, leaked = {}, [], []

    def call(span: str, q: str):
        with tracer.span(span, sc, f"operators:{span}") as rec:
            rows = queries[q](spark, DATA).toPandas()
        out[f"{span}_s"] = rec["end"] - rec["start"]
        got = measure.digest(rows)
        want = expected.get(f"operators/{q}")
        if got != want:
            errors.append(f"{q}: digest {got} != expected {want}")
        held = {k: v for k, v in cached_rdds(spark).items() if k not in keep}
        leaked.append(held)
        spark.catalog.clearCache()
        release_rdds(spark, held)

    for span, q in calls.items():
        try:
            call(span, q)
        except Exception as ex:  # noqa: BLE001 - reported, not fatal
            errors.append(f"{q}: {type(ex).__name__}: {ex}"[:300])
    out["cache.operators_persisted_rdds"] = sum(len(h) for h in leaked)
    out["cache.operators_retained_mb"] = sum(sum(h.values()) for h in leaked)
    return out, absent, errors
