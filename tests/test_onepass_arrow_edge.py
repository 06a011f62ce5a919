"""The one-pass stage's Arrow edge: its worker path never loads pandas,
and its rows equal the pandas edge's (match_points) value for value and
NULL for NULL."""

import json
import os
import pickle
import subprocess
import sys
import types
from dataclasses import replace

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from st_mapmatching_spark.graph.network import Network
from st_mapmatching_spark.kernels import hmm
from st_mapmatching_spark.operators import matching
from st_mapmatching_spark.operators.candidates import extract_simplify
from st_mapmatching_spark.sources.network_gen import make_grid_network

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = """
import json, pickle, sys
import pyarrow as pa
from st_mapmatching_spark.operators import matching
with open(sys.argv[1], "rb") as f:
    values, cfg = pickle.load(f)
batch = pa.ipc.open_file(sys.argv[2]).get_batch(0)
out = matching.match_pages_batch(batch, *values, cfg)
print(json.dumps({"pandas": "pandas" in sys.modules,
                  "url": out.column("url").to_pylist(),
                  "status": out.column("status").to_pylist(),
                  "schema": str(out.schema)}))
"""


def _broadcast_values(net, cfg) -> list:
    """_kernel_broadcasts' values, built by its own builders: a stub
    context hands each value back instead of broadcasting it."""
    sc = types.SimpleNamespace(applicationId="no-spark",
                               broadcast=lambda v: types.SimpleNamespace(value=v))
    return [b.value for b in matching._kernel_broadcasts(
        types.SimpleNamespace(sparkContext=sc), net, cfg)]


def test_worker_path_loads_no_pandas(tmp_path, pages, cfg):
    """A fresh interpreter imports the matching module, unpickles the
    four broadcast values (the sp memo empty, so the batch searches) and
    matches a pages RecordBatch read from Arrow IPC, as a worker gets it,
    including a page without text: pandas is never imported, with the
    beam decode and with the classic one the classic gates run
    (beam_search=False, dir_trans=False)."""
    net = Network(*make_grid_network(cfg, nx=12, ny=12, seed=42), cfg)
    state, batch_file = tmp_path / "state.pkl", tmp_path / "pages.arrow"
    urls = [*pages.url, "https://example.com/no_text"]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(urls, pa.string()),
         pa.array([*pages.text, None], pa.string())], ["url", "text"])
    with pa.ipc.new_file(str(batch_file), batch.schema) as w:
        w.write_batch(batch)
    env = {**os.environ, "PYTHONPATH": ROOT}
    for run_cfg in (cfg, replace(cfg, beam_search=False, dir_trans=False)):
        with open(state, "wb") as f:
            pickle.dump((_broadcast_values(net, run_cfg), run_cfg), f)
        proc = subprocess.run([sys.executable, "-c", _WORKER, str(state),
                               str(batch_file)], capture_output=True,
                              text=True, env=env, cwd=str(tmp_path),
                              check=True)
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert out["pandas"] is False, run_cfg
        assert sorted(out["url"]) == sorted(urls)
        status = dict(zip(out["url"], out["status"]))
        assert status["https://example.com/no_text"] \
            == hmm.STATUS_NO_CANDIDATES
        assert status["https://example.com/outside"] \
            == hmm.STATUS_NO_CANDIDATES
        assert hmm.STATUS_SUCCESS in out["status"], run_cfg
        assert "status: int32" in out["schema"]


def test_arrow_edge_rows_equal_pandas_edge_null_for_null(spark, pages, net,
                                                         cfg):
    """match_pages (mapInArrow) and match_points (mapInPandas) over the
    same pages, with status 0, 1, 2 and 3 rows and a NULL-text page:
    every column agrees per url on NULL-ness, NaN-ness and value,
    compared in Spark (toPandas would fold NULL into NaN). Neither edge
    emits a NaN: a missing metric is NULL, as is a missing path."""
    pdf = pd.concat([pages[["url", "text"]], pd.DataFrame(
        {"url": ["https://example.com/no_text"], "text": [None]})],
        ignore_index=True)
    df = spark.createDataFrame(pdf, "url string, text string").repartition(3)
    by_pages = matching.match_pages_onepass(spark, df, net, cfg)
    by_points = matching.match_points(spark, extract_simplify(df, cfg), net,
                                      cfg)
    statuses = {r.status for r in by_pages.select("status").collect()}
    assert statuses == {hmm.STATUS_SUCCESS, hmm.STATUS_SAME_LINK,
                        hmm.STATUS_ONE_POINT, hmm.STATUS_NO_CANDIDATES}

    no_text = by_pages.filter(F.col("url") == "https://example.com/no_text")
    row = no_text.first()
    assert row.status == hmm.STATUS_NO_CANDIDATES and row.epath is None
    assert all(row[c] is None for c in matching.METRIC_COLS)

    a, b = by_pages.alias("a"), by_points.alias("b")
    joined = a.join(b, "url")
    assert joined.count() == by_points.count() == len(pages)
    cols = ["status", "epath", *matching.METRIC_COLS]
    checks = []
    for c in cols:
        x, y = F.col(f"a.{c}"), F.col(f"b.{c}")
        bad = (x.isNull() != y.isNull()) | ~x.eqNullSafe(y)
        if c in matching.METRIC_COLS:
            bad = bad | (F.isnan(x) != F.isnan(y)) | F.isnan(x)
        checks.append(F.sum(bad.cast("int")).alias(c))
    bad = joined.agg(*checks).first().asDict()
    assert bad == dict.fromkeys(cols, 0)
    nulls = joined.agg(*(F.sum(F.col(f"a.{c}").isNull().cast("int")).alias(c)
                         for c in cols)).first().asDict()
    # the status 1/2/3 rows carry NULL metrics, the status-3 rows a NULL path
    assert nulls["dist"] > 0 and nulls["epath"] > 0 and nulls["status"] == 0
    for out in (by_pages, by_points):
        out.unpersist()
