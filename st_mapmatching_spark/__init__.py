"""st_mapmatching_spark — a PySpark-native spatial-join + tiling + map-matching engine.

A brand-new engine (not a port) with the query semantics of
wenke727/ST-MapMatching (reference at /root/reference), re-expressed
Spark-first:

* relational stages (candidate kNN spatial join, top-k windows,
  shortest-path attach, aggregations) are DataFrame/SQL plans that
  Catalyst optimizes;
* geometry kernels are vectorized numpy shared between the engine
  (Arrow-batched UDFs) and a pure-pandas oracle, so numeric parity holds
  by construction; the one-pass matcher's mapInArrow stage never loads
  pandas (modules on its import path import pandas only inside the
  functions that use it);
* the only genuinely sequential state (per-trajectory beam Viterbi)
  runs in `applyInPandas` keyed by trajectory id.

Layout:
  kernels/    pure numpy geometry + HMM math (no Spark imports)
  graph/      road-network container + bounded Dijkstra shortest paths
  oracle/     single-trajectory pure-pandas reference matcher
  sources/    deterministic fixture generators + the GEO-line coordinate
              extractor (pyarrow.compute, with a pandas wrapper)
  operators/  Spark DataFrame operators (candidates join, matching,
              tiling, dedup, text analysis, similarity search)
  functions/  reusable pyspark Column expression builders
  plans/      lineage / checkpoint-resume helpers
  streaming/  Structured Streaming variants
  worker_imports.py  Python task start-up fix for Spark workers
"""

__version__ = "0.1.0"

from .config import MatchConfig  # noqa: F401
from .worker_imports import install_on_worker

# every engine UDF unpickles a function of this package, so a worker
# installs this from its first engine task on
install_on_worker()
