"""The map-matching pipeline: candidates -> transition pairs + flags ->
shortest-path attach -> scoring -> per-trajectory beam Viterbi -> stitch.

choose_plan picks one of two plans for match_pages and match_points:
  onepass   : the whole pipeline in numpy inside one Arrow stage, per
              trajectory batch (_probe_match -> _match_frame): over pages
              in match_pages_onepass, over url-clustered points in
              match_points
  relational: candidate_join, then the relational tail below

The onepass plan takes its shortest paths from one source, a
DemandSpPayload: each batch's (o, d) pairs are searched on
the broadcast search state the first time they are asked for and
memoized per worker. No sp table is built before the match.

Relational tail (Spark lifecycle of ST_Matching.matching, SURVEY.md §3.1):
  pairs  : layer self-join of the candidate table — pure DataFrame joins
           (candidatesGraph.py:117-166 at table granularity)
  flags  : F.when column arithmetic (candidatesGraph.py:58-114)
  sp     : broadcast-adjacency Dijkstra fan-out + equi-join back
  scores : one Arrow pass with the shared numpy kernel (dist/temporal/
           dir/trans probs, spatialAnalysis.py:10-151)
  viterbi: one url-sorted Arrow stage over candidates + scored pairs —
           the only genuinely sequential state (viterbi.py:107-154)
  epath  : equi-join of the winning steps with the sp table

Both routes end in one decode tail, _decode_stitch: per-url-max
emission, one lockstep Viterbi (viterbi_beam_lockstep, or
viterbi_classic_lockstep with beam_search=False) and one batched stitch
(hmm.stitch_batch) over every trajectory of a batch, in flat arrays:
the winning states come back as offsets + (layer, eid), the winning
pair rows are one composite-key lookup, the sp paths one gather from
the payload's CSR path arrays (DemandSpPayload.paths) and the metrics
per-url segment reductions. _match_frame calls it with the payload's
paths, viterbi_match with none, emitting the winning steps for
attach_epath_relational. Both score transitions with _transition_probs.
The per-url references (the oracle's decodes and stitch, and the
differential tests' baseline) are in oracle/hmm_ref.py.
"""

from __future__ import annotations

import logging
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import MatchConfig
from ..functions.geo_cols import bearing_col
from ..graph.dijkstra import path_columns
from ..graph.network import Network
from ..kernels import hmm
from ..kernels.arrow_np import arrow_array, list_array
from ..kernels.keys import key_find, key_index
from ..sources.extract import url_codes
from .candidates import (candidate_join, extract_arrays, extract_simplify,
                         network_frames, rehydrate_cands, url_batches,
                         url_typed)
from .shortest_paths import shortest_path_table

log = logging.getLogger(__name__)

MATCHED_SCHEMA = ("url string, status int, epath array<long>, step_0 double, "
                  "step_n double, dist double, avg_speed double, prob double, "
                  "norm_prob double, dist_prob double, trans_prob double, dir_prob double")
METRIC_COLS = hmm.METRIC_COLS

# planet-scale variant: the cogroup emits the winning transition steps
# instead of expanded paths; attach_epath_relational joins the sp table and
# finalizes epath + status with zero driver-side collection
MATCHED_PRE_SCHEMA = (
    "url string, status int, epath0 array<long>, step_0 double, "
    "step_n double, dist double, avg_speed double, prob double, "
    "norm_prob double, dist_prob double, trans_prob double, dir_prob double, "
    "steps array<struct<o_node: long, d_node: long, need: boolean, eid: long>>, "
    "last_eid long")

# no `epath` here: nested arrays through Arrow cost ~10x the rest of the
# row combined (measured); stitch fetches paths from the broadcast sp map
SCORED_COLS = ["url", "pid_0", "pid_1", "eid_0", "eid_1", "flag", "observ_prob",
               "trans_prob", "dist_prob", "dir_prob", "d_sht", "avg_speed",
               "o_node", "d_node"]


def no_match_rows(urls) -> dict:
    """One status-3 row (MATCHED_SCHEMA) per url, as columns: no
    candidates, NULL path, NaN metrics."""
    n = len(urls)
    return {"url": urls,
            "status": np.full(n, hmm.STATUS_NO_CANDIDATES, np.int32),
            "epath": hmm.ListCol(np.empty(0, np.int64),
                                 np.zeros(n + 1, np.int64)),
            **{c: np.full(n, np.nan) for c in METRIC_COLS}}


def with_no_match_rows(parts: list[dict], urls: np.ndarray,
                       have: np.ndarray) -> dict:
    """A kernel batch's output columns: the matched ``parts`` (one
    _decode_stitch result per chunk) followed by one status-3 row
    (no_match_rows) per entry of ``urls`` not in ``have``, the urls
    _probe_match found candidates for."""
    parts = [*parts, no_match_rows(urls[~np.isin(urls, have)])]
    return {k: hmm.ListCol.concat([p[k] for p in parts]) if k == "epath"
            else np.concatenate([p[k] for p in parts]) for k in parts[0]}


def matched_frame(rows: dict):
    """The pandas edge: kernel output columns as a DataFrame, epath an
    object column of int64 arrays (None where NULL)."""
    import pandas as pd
    return pd.DataFrame({**rows, "epath": rows["epath"].rows()})


def matched_batch(rows: dict, url):
    """The Arrow edge: MATCHED_SCHEMA rows as a RecordBatch built from the
    columns' numpy buffers; ``rows["url"]`` holds positions in the Arrow
    array ``url``. NULL exactly where the pandas edge has it (mapInPandas
    writes NaN as NULL): a NaN metric, and the epath of a row without a
    path. Loads no pandas."""
    import pyarrow as pa
    return pa.RecordBatch.from_arrays(
        [url.take(arrow_array(rows["url"])),
         arrow_array(rows["status"].astype(np.int32)),
         list_array(*rows["epath"]),
         *(arrow_array(rows[c], ~np.isnan(rows[c])) for c in METRIC_COLS)],
        ["url", "status", "epath", *METRIC_COLS])


def build_pairs_df(cands: DataFrame, points: DataFrame, cfg: MatchConfig) -> DataFrame:
    """Consecutive-layer Cartesian product + flag identification + straight
    -line params, all relational. Geometry stays out of the row: the step
    cuts are carried as (eid, seg_idx, ratio) and re-materialized from the
    broadcast network inside the scoring Arrow pass."""
    left = cands.select(
        "url", F.col("pid").alias("pid_0"), F.col("eid").alias("eid_0"),
        F.col("dist").alias("dist_0"), F.col("speed").alias("speed_0"),
        "dst", F.col("len1").alias("step_0_len"), F.col("len0").alias("left_len0"),
        F.col("seg_idx").alias("seg_idx_0"), F.col("ratio").alias("ratio_0"))

    # observ_prob rides along only when the candidate table carries it:
    # the relational matcher path drops it entirely (the Viterbi kernel
    # recomputes the per-url-max emission in-numpy; attaching it upstream
    # cost a dedicated url window + exchange over the candidate table) —
    # match_details keeps it (the details surface exposes the column)
    right = cands.select(
        "url", F.col("pid").alias("pid_1"), F.col("eid").alias("eid_1"),
        F.col("dist").alias("dist_1"), F.col("speed").alias("speed_1"),
        "src", F.col("len0").alias("step_n_len"),
        F.col("seg_idx").alias("seg_idx_1"), F.col("ratio").alias("ratio_1"),
        *(["observ_prob"] if "observ_prob" in cands.columns else []))

    # consecutive candidate layers (pids that HAVE candidates), with the
    # straight-line distance/heading between them (candidatesGraph.py:137-160)
    link = layer_links(cands, points)

    gt = (left.join(link, ["url", "pid_0"])
              .join(right, ["url", "pid_1"]))

    # ---- flag identification (candidatesGraph.py:58-114), pure columns ----
    eps_d, eps_r = cfg.flag_dist_eps, cfg.flag_ratio_eps
    offset_0 = F.col("dist_0") - F.col("step_0_len")
    cond_1 = offset_0 <= F.col("step_n_len")
    relaxed = F.least(F.greatest(F.lit(0.0), offset_0 - eps_d), offset_0 * (1.0 - eps_r))
    cond = relaxed <= F.col("step_n_len")
    approx = cond & (~cond_1)
    same = F.col("eid_0") == F.col("eid_1")

    gt = (gt.withColumn("approx", approx)
            .withColumn("flag", F.when(same & cond, hmm.FLAG_SAME_SRC_FIRST)
                                 .when(same & (~cond), hmm.FLAG_SAME_SRC_LAST)
                                 .otherwise(hmm.FLAG_NORMAL).cast("int"))
            .withColumn("step_n_len", F.when(F.col("approx"), F.col("left_len0")).otherwise(F.col("step_n_len")))
            .withColumn("o_node", F.when(F.col("flag") == hmm.FLAG_SAME_SRC_FIRST, F.col("src")).otherwise(F.col("dst")))
            .withColumn("d_node", F.when(F.col("flag") == hmm.FLAG_SAME_SRC_FIRST, F.col("dst")).otherwise(F.col("src")))
            .drop("left_len0"))
    return gt


def _transition_probs(col, dstats, dir_trans: bool):
    """Transition scoring shared by score_pairs_df and _match_frame
    (spatialAnalysis.py:10-151): ``col(name)`` returns a pair column
    (build_pairs_df's, plus the sp attach incl. has_path, the edges'
    dense indices di_0/di_1 and the o/d node coordinates o_xy/d_xy);
    ``dstats`` is the network's EdgeDirStats. Returns (avg_speed, d_sht,
    dist_prob, dir_prob, trans_prob); dir_prob is NaN without dir_trans."""
    from ..kernels.dir_stats import engine_dir_probs

    def f(name):
        return col(name).astype(np.float64, copy=False)

    def i(name):
        return col(name).astype(np.int64, copy=False)

    flag = col("flag")
    avg_speed, d_sht, dist_prob, flag1 = hmm.score_base_np(
        f("cost"), f("step_0_len"), f("step_n_len"), f("speed_0"),
        f("speed_1"), f("path_speed"), flag, f("dist_0"), f("d_euc"))
    if not dir_trans:
        return (avg_speed, d_sht, dist_prob, np.full(len(flag), np.nan),
                dist_prob)
    dir_prob = engine_dir_probs(
        dstats, col("di_0"), i("seg_idx_0"), f("ratio_0"),
        col("di_1"), i("seg_idx_1"), f("ratio_1"), col("approx"), flag1,
        col("has_path"), f("pcx"), f("pcy"), f("pw"), i("pn"),
        f("move_dir"), col("o_xy"), col("d_xy"))
    return avg_speed, d_sht, dist_prob, dir_prob, dist_prob * dir_prob


def score_pairs_df(spark: SparkSession, pairs: DataFrame, sp: DataFrame,
                   net: Network, cfg: MatchConfig, broadcast_sp: bool = True) -> DataFrame:
    """Attach shortest paths (equi-join on the precomputed table — the
    distributed version of the reference's search memo) and compute the
    transition probabilities with the shared kernel in one Arrow pass.

    broadcast_sp=True keeps the pair table's url partitioning intact (the
    demand-driven sp table is bounded by the trajectory corridor, so it is
    broadcastable for city/regional networks); set False at planet scale
    to shuffle on (o_node, d_node) instead."""
    sp_slim = sp.select("o_node", "d_node", "cost", "path_speed",
                        "pcx", "pcy", "pw", "pn",
                        F.coalesce(F.size("epath"), F.lit(0)).alias("path_len"))
    sp_side = F.broadcast(sp_slim) if broadcast_sp else sp_slim
    joined = (pairs.join(sp_side, ["o_node", "d_node"], "left")
              .withColumn("cost", F.coalesce(F.col("cost"), F.lit(float("inf"))))
              .withColumn("path_speed", F.coalesce(F.col("path_speed"), F.lit(0.0)))
              .withColumn("pcx", F.coalesce(F.col("pcx"), F.lit(0.0)))
              .withColumn("pcy", F.coalesce(F.col("pcy"), F.lit(0.0)))
              .withColumn("pw", F.coalesce(F.col("pw"), F.lit(0.0)))
              .withColumn("pn", F.coalesce(F.col("pn"), F.lit(0)))
              .withColumn("path_len", F.coalesce(F.col("path_len"), F.lit(0))))

    bc = net.broadcast(spark, "stats",
                       lambda: (net.dir_stats(), net.node_xy_arrays()))
    dir_trans = cfg.dir_trans

    # output columns follow the input: no observ_prob in -> none out (the
    # relational path's slimming; the Viterbi stage recomputes emission)
    has_obs = "observ_prob" in pairs.columns
    cols_out = [c for c in SCORED_COLS if has_obs or c != "observ_prob"]
    types = {"url": "string", "pid_0": "int", "pid_1": "int", "eid_0": "long",
             "eid_1": "long", "flag": "int", "observ_prob": "double",
             "trans_prob": "double", "dist_prob": "double",
             "dir_prob": "double", "d_sht": "double", "avg_speed": "double",
             "o_node": "long", "d_node": "long"}
    schema = ", ".join(f"{c} {types[c]}" for c in cols_out)

    def op(batches):
        """mapInArrow: every numeric column is a zero-copy numpy view; the
        url strings pass through as Arrow arrays untouched (the
        Arrow->pandas object conversion of wide rows was the measured
        bottleneck of this stage)."""
        import pyarrow as pa
        for b in batches:
            if b.num_rows == 0:
                continue
            col = {n: b.column(i) for i, n in enumerate(b.schema.names)}
            dstats, (nids, nxy) = bc.value

            def get(name):
                if name == "has_path":
                    return get("path_len") > 0
                if name in ("di_0", "di_1"):
                    return dstats.dense(get("eid" + name[2:]))
                if name in ("o_xy", "d_xy"):
                    return nxy[np.searchsorted(nids, get(name[0] + "_node"))]
                return col[name].to_numpy(zero_copy_only=False)

            avg_speed, d_sht, dist_prob, dir_prob, trans_prob = \
                _transition_probs(get, dstats, dir_trans)
            computed = {"trans_prob": trans_prob, "dist_prob": dist_prob,
                        "dir_prob": dir_prob, "d_sht": d_sht,
                        "avg_speed": avg_speed}
            yield pa.RecordBatch.from_arrays(
                [pa.array(computed[c]) if c in computed else col[c]
                 for c in cols_out],
                cols_out)

    return joined.mapInArrow(op, schema=url_typed(schema, pairs))


def viterbi_match(cands: DataFrame, scored: DataFrame, cfg: MatchConfig,
                  sp_paths=None) -> DataFrame:
    """Per-trajectory Viterbi + path stitch (viterbi.py:107-154 +
    postprocess.py:13-97) as ONE streamed Arrow stage: candidates and
    scored pairs are tag-unioned into a single url-sorted stream (one
    shuffle) and decoded whole Arrow batches at a time by _decode_stitch.
    Sentinel zeros (never nulls) fill the other tag's columns so pandas
    dtypes survive the union intact.

    The output is MATCHED_PRE_SCHEMA: the winning steps only, no paths;
    feed it through attach_epath_relational(sp) to finalize — nothing is
    ever collected to the driver. ``sp_paths`` must be None (the only
    mode left; the keyword stays for existing callers)."""
    if sp_paths is not None:
        raise ValueError("viterbi_match only emits winning steps "
                         "(MATCHED_PRE_SCHEMA): sp_paths must be None; "
                         "attach paths with attach_epath_relational")
    # the url shuffle carries only what the decode reads: no observ_prob
    # (recomputed per url) and no dir_prob (stitch re-derives it)
    c_cols = ["pid", "eid", "dist_p2c", "len0", "len1"]
    s_cols = [c for c in SCORED_COLS
              if c not in ("url", "observ_prob", "dir_prob")]
    cands_min = cands.select("url", *c_cols)

    c_types = dict(cands_min.dtypes)
    s_types = dict(scored.dtypes)
    c_part = cands_min.withColumn("_tag", F.lit(0).cast("int"))
    for col in s_cols:
        c_part = c_part.withColumn(col, F.lit(0).cast(s_types[col]))
    s_part = scored.withColumn("_tag", F.lit(1).cast("int"))
    for col in c_cols:
        s_part = s_part.withColumn(col, F.lit(0).cast(c_types[col]))
    order = ["url", "_tag"] + c_cols + s_cols
    both = c_part.select(*order).unionByName(s_part.select(*order))
    src = both.repartition("url").sortWithinPartitions("url", "_tag")

    def _frame(pdf):
        """Split the batch's tagged union into candidate and pair arrays
        in _decode_stitch's order, find each pair's (pid_1, eid_1)
        candidate row, and decode every url of the batch at once."""
        u = pdf.url.to_numpy()
        head = np.concatenate([[True], u[1:] != u[:-1]])
        gid = np.cumsum(head) - 1
        tag = pdf._tag.to_numpy()
        col = {c: pdf[c].to_numpy() for c in c_cols + s_cols}
        # candidates (url, pid, dist_p2c, eid); pairs (url, pid_0), stable
        # so a layer keeps its arrival order
        ci = np.flatnonzero(tag == 0)
        ci = ci[np.lexsort((col["eid"][ci], col["dist_p2c"][ci],
                            col["pid"][ci], gid[ci]))]
        pi = np.flatnonzero(tag == 1)
        pi = pi[np.lexsort((col["pid_0"][pi], gid[pi]))]
        cand = {c: col[c][ci] for c in c_cols}
        pairs = {c: col[c][pi] for c in s_cols}
        # each pair side's candidate row; a pair whose (pid_1, eid_1) is
        # no candidate gets right = -1: a NaN emission, as the per-url
        # pandas merge gave
        uniq, code, corder = key_index(gid[ci], cand["pid"], cand["eid"])
        for side, p_col, e_col in (("left", "pid_0", "eid_0"),
                                   ("right", "pid_1", "eid_1")):
            pos, hit = key_find(uniq, code, gid[pi], pairs[p_col],
                                pairs[e_col])
            pairs[side] = np.where(hit, corder[pos], -1)
        c_off = np.searchsorted(gid[ci], np.arange(gid[-1] + 2))
        return matched_frame(_decode_stitch(
            u[head], c_off, cand, pairs, gid[pi], cfg)).rename(
                columns={"epath": "epath0"})

    def op(batches):
        for pdf in url_batches(batches):
            yield _frame(pdf)

    return src.mapInPandas(op, schema=url_typed(MATCHED_PRE_SCHEMA, cands))


def attach_epath_relational(pre: DataFrame, sp: DataFrame, cfg: MatchConfig) -> DataFrame:
    """MATCHED_PRE rows -> MATCHED rows with the epath assembled by a plain
    equi-join against the sp table — the planet-scale replacement for the
    broadcast path dict (nothing collected to the driver; the join shuffles
    on (o_node, d_node) like any other).

    Assembly mirrors hmm_ref.stitch_path's tail exactly: full sequence =
    [eid_i] ++ sp_epath_i per winning step (skipped for SAME_SRC_FIRST
    steps) ++ last_eid, then consecutive-dedup; a 1-edge deduped path is
    SAME_LINK (or FAILED below prob_thres) with the step metrics nulled
    (postprocess.py:40-58)."""
    empty = F.array().cast("array<long>")
    deferred = F.col("status") == hmm.STATUS_UNKNOWN

    # Plan shape matters more than anything here: `pre` is the whole
    # score+Viterbi subtree, and Spark does NOT dedupe common subplans —
    # the original formulation referenced a mid-assembly agg from BOTH the
    # output join and the dedup branch, re-running the explode/join/agg
    # job 2-3x per action (measured: half the forced-relational bignet
    # leg). This version touches only DEFERRED rows, assembles segments +
    # the trailing last_eid in ONE union, and feeds ONE groupBy whose
    # output is referenced exactly once.
    dsrc = pre.filter(deferred)
    steps = (dsrc.select("url", F.posexplode("steps").alias("pos", "st"))
             .select("url", "pos",
                     F.col("st.o_node").alias("o_node"),
                     F.col("st.d_node").alias("d_node"),
                     F.col("st.need").alias("need"),
                     F.col("st.eid").alias("eid")))
    seg = (steps.join(sp.select("o_node", "d_node", "epath"),
                      ["o_node", "d_node"], "left")
           .select("url", "pos",
                   F.concat(F.array(F.col("eid")),
                            F.when(F.col("need"),
                                   F.coalesce(F.col("epath"), empty))
                            .otherwise(empty)).alias("seg")))
    last = dsrc.select("url", F.lit(1 << 31).alias("pos"),
                       F.array(F.col("last_eid")).alias("seg"))
    # Consecutive-dedup LINEARLY: posexplode the segments and keep
    # elements that differ from lag(e) over (url ORDER BY pos, i), then
    # re-assemble. An F.aggregate fold (or an F.filter referencing the
    # array, which CollapseProject re-inlines per element) is O(L^2)
    # expression work per row — epaths are longest exactly on this
    # planet-scale path. The explode/window/agg reuse url partitioning.
    wl = Window.partitionBy("url").orderBy("pos", "i")
    ded = (seg.unionByName(last)
           .select("url", "pos", F.posexplode("seg").alias("i", "e"))
           .withColumn("prev", F.lag("e").over(wl))
           .filter(F.col("prev").isNull() | (F.col("e") != F.col("prev")))
           .groupBy("url")
           .agg(F.transform(F.array_sort(F.collect_list(F.struct("pos", "i", "e"))),
                            lambda s: s.e).alias("dedup")))
    out = pre.join(ded, "url", "left")
    epath = F.when(deferred, F.col("dedup")).otherwise(F.col("epath0"))
    out = out.withColumn("epath", epath)
    one = F.size("epath") <= 1
    nanlit = F.lit(float("nan"))
    status = (F.when(~deferred, F.col("status"))
              .when(one, F.when(F.col("prob") < cfg.prob_thres,
                                F.lit(hmm.STATUS_FAILED))
                    .otherwise(F.lit(hmm.STATUS_SAME_LINK)))
              .when(F.col("trans_prob") < cfg.prob_thres, F.lit(hmm.STATUS_FAILED))
              .otherwise(F.lit(hmm.STATUS_SUCCESS)))
    out = out.withColumn("status_f", status.cast("int"))
    metr = {c: F.when(deferred & one, nanlit).otherwise(F.col(c)).alias(c)
            for c in ("dist", "avg_speed", "norm_prob", "dist_prob",
                      "trans_prob", "dir_prob")}
    return out.select("url", F.col("status_f").alias("status"), "epath",
                      "step_0", "step_n", metr["dist"], metr["avg_speed"],
                      "prob", metr["norm_prob"], metr["dist_prob"],
                      metr["trans_prob"], metr["dir_prob"])


def layer_links(cands: DataFrame, points: DataFrame) -> DataFrame:
    """(url, pid_0, pid_1, d_euc, move_dir) between consecutive candidate
    layers (candidatesGraph.py:137-160) for the relational pair build;
    _match_frame derives the same values in numpy."""
    layer_pts = cands.select("url", "pid").distinct().join(points, ["url", "pid"])
    w = Window.partitionBy("url").orderBy("pid")
    dx = F.col("x1") - F.col("x")
    dy = F.col("y1") - F.col("y")
    # sqrt(dx*dx+dy*dy) to stay bit-identical with the numpy twin
    # (oracle.hmm_ref.layer_params) — see the ulp note there
    return (layer_pts
            .withColumn("pid_1", F.lead("pid").over(w))
            .withColumn("x1", F.lead("x").over(w))
            .withColumn("y1", F.lead("y").over(w))
            .filter(F.col("pid_1").isNotNull())
            .select("url", F.col("pid").alias("pid_0"), "pid_1",
                    F.sqrt(dx * dx + dy * dy).alias("d_euc"),
                    bearing_col(F.col("x"), F.col("y"), F.col("x1"), F.col("y1")).alias("move_dir")))


def sp_demands(cands: DataFrame, edge_attrs: DataFrame,
               cross_cap: int = 4_000_000, n_nodes: int | None = None) -> DataFrame:
    """Superset of the exact shortest-path demand set. Extra pairs merely
    add bounded-Dijkstra targets — they never change results.

    Fast path: when the candidate corridor touches few distinct nodes
    (|dst-set| x |src-set| <= cross_cap), the demand set is simply their
    cross product — computed from one map-side-combinable eid distinct,
    with NO shuffle of the full candidate table. Planet-scale corridors
    exceed the cap and fall back to the exact per-trajectory derivation:
    (a) dst-nodes of layer i x src-nodes of layer i+1 covers NORMAL and
    SAME_SRC_LAST transitions; (b) every candidate edge's (src, dst)
    covers the SAME_SRC_FIRST swap.

    ``n_nodes`` (the network's node count, known driver-side for free):
    when n_nodes^2 <= cross_cap the corridor cross product is bounded by
    construction, so the branch needs NO driver-blocking corridor-count
    job at all — that job forced the whole candidate pipeline to
    materialize before the sp build could even be planned (one of three
    serial actions on the relational path; guide §1.2 "remove passes")."""
    attrs = F.broadcast(edge_attrs.select("eid", "src", "dst"))
    eids = cands.select("eid").distinct().join(attrs, "eid")
    o_set = eids.select(F.col("dst").alias("o_node")).distinct()
    d_set = eids.select(F.col("src").alias("d_node")).distinct()
    dem_b = eids.select(F.col("src").alias("o_node"), F.col("dst").alias("d_node"))
    if n_nodes is not None and n_nodes * n_nodes <= cross_cap:
        return o_set.crossJoin(d_set).unionByName(dem_b)
    # both distinct sizes in ONE job (two driver-blocking .count() actions
    # here doubled the pre-pipeline latency of every match call)
    n_o, n_d = eids.agg(F.countDistinct("dst"), F.countDistinct("src")).first()
    if n_o * n_d <= cross_cap:
        return o_set.crossJoin(d_set).unionByName(dem_b)

    ce = cands.select("url", "pid", "eid").join(attrs, "eid")
    w = Window.partitionBy("url").orderBy("pid")
    link = (cands.select("url", "pid").distinct()
            .withColumn("pid_1", F.lead("pid").over(w))
            .filter(F.col("pid_1").isNotNull()))
    lhs = (ce.select("url", "pid", F.col("dst").alias("o_node")).distinct()
           .join(link, ["url", "pid"]))
    rhs = ce.select("url", F.col("pid").alias("pid_1"),
                    F.col("src").alias("d_node")).distinct()
    dem_a = lhs.join(rhs, ["url", "pid_1"]).select("o_node", "d_node")
    return dem_a.unionByName(dem_b)


class DemandSpPayload:
    """The kernel's shortest paths, (o, d) lookups and CSR paths searched
    on demand: the first time a pair is asked for, it is searched by
    bounded Dijkstra on ``state`` (Network.search_state: adjacency, edge
    speed, edge dist, edge dir totals) — one shortest_paths_to_targets
    call per distinct origin, toward that origin's new targets — and its
    row is memoized on this object. Held in a broadcast value, the memo lives
    as long as the worker keeps the broadcast loaded, so a pair is
    searched at most once per worker: the reference's per-query route
    memo (astar.py:70-72, geograph.py:223), per worker.

    Exact: a settled node's cost and back pointer never change, so a
    row does not depend on which other targets shared its search. The
    memo is stored in insertion order (columns, CSR paths) and indexed
    by one composite key, rebuilt when new rows arrive."""

    _COLS = ("cost", "path_speed", "pcx", "pcy", "pw", "pn")

    def __init__(self, state: tuple, max_dist: float):
        self.state, self.max_dist = state, max_dist
        self.o = self.d = self.pn = self.ep_flat = np.empty(0, np.int64)
        self.cost = self.path_speed = self.pcx = self.pcy = self.pw = \
            np.empty(0, np.float64)
        self.ep_off = np.zeros(1, np.int64)
        self._reindex()

    def _reindex(self):
        self.uniq, self.key, self.order = key_index(self.o, self.d)

    def _rows(self, o_node: np.ndarray, d_node: np.ndarray) -> np.ndarray:
        """Memo rows of the (o, d) query arrays, searching the pairs not
        memoized yet."""
        o_node = np.asarray(o_node, np.int64)
        d_node = np.asarray(d_node, np.int64)
        pos, hit = key_find(self.uniq, self.key, o_node, d_node)
        if not hit.all():
            self._search(o_node[~hit], d_node[~hit])
            pos, _ = key_find(self.uniq, self.key, o_node, d_node)
        return self.order[pos]

    def _search(self, o_node: np.ndarray, d_node: np.ndarray):
        """Search the (o, d) pairs and append their rows to the memo,
        column by column (graph.dijkstra.path_columns)."""
        od = np.unique(np.stack([o_node, d_node], axis=1), axis=0)
        heads = np.flatnonzero(np.diff(od[:, 0], prepend=od[0, 0] - 1))
        adj, espeed, edist, etot = self.state
        new = {c: [] for c in (*self._COLS, "ep_len", "ep_flat")}
        for lo, hi in zip(heads, np.append(heads[1:], len(od))):
            path_columns(adj, int(od[lo, 0]), od[lo:hi, 1].tolist(),
                         self.max_dist, espeed, edist, etot, new)
        self.o = np.concatenate([self.o, od[:, 0]])
        self.d = np.concatenate([self.d, od[:, 1]])
        for c in self._COLS:
            old = getattr(self, c)
            setattr(self, c, np.concatenate([old, np.array(new[c], old.dtype)]))
        self.ep_off = np.concatenate([self.ep_off, self.ep_off[-1] + np.cumsum(
            np.array(new["ep_len"], np.int64))])
        self.ep_flat = np.concatenate([self.ep_flat,
                                       np.array(new["ep_flat"], np.int64)])
        self._reindex()

    def lookup(self, o_node: np.ndarray, d_node: np.ndarray) -> dict:
        """The sp columns _transition_probs reads for the (o, d) query
        arrays; an unreachable pair is the search's own row (cost inf,
        zero stats, no path)."""
        r = self._rows(o_node, d_node)
        return {c: getattr(self, c)[r] for c in self._COLS} | {
            "has_path": self.ep_off[r + 1] > self.ep_off[r]}

    def paths(self, o_node: np.ndarray, d_node: np.ndarray):
        """The sp paths of the (o, d) query arrays as CSR (flat eids,
        offsets)."""
        r = self._rows(o_node, d_node)
        return hmm.csr_take(self.ep_flat, self.ep_off, r,
                            np.ones(len(r), dtype=bool))


def _match_frame(c: dict, urls, geom, stats, spd,
                 cfg: MatchConfig) -> dict:
    """Score EVERY trajectory of one chunk of candidates in one set of
    numpy passes (layer params, pair cross-product, flags, sp gather,
    dist/dir probs), then decode and stitch them all through
    _decode_stitch, the tail viterbi_match shares.

    ``c`` holds _probe_match's candidate rows for one url-aligned chunk
    as arrays, sorted (url, pid, dist_p2c, eid), cut to top_k per layer
    and with each url's rows complete: gid (the url's index in ``urls``),
    pid, x, y, eid, di (the edge's dense index, its row in the geom
    arrays and in the dir stats, which both follow the sorted edge ids),
    dist_p2c and the probe's projection (seg_idx, ratio, len0, len1),
    carried rather than projected again. ``geom``/``stats`` are the
    broadcast network tuples ((eids_sorted, mat, src, dst, dist, speed) /
    (dir_stats, (node ids, node xy))); ``spd`` the DemandSpPayload.
    Both kernel routes (match_pages_onepass, match_points) reach it
    through _probe_match, so they cannot drift. Returns _decode_stitch's
    columns."""
    from ..kernels.geodesy import bearing_deg

    dist_eps, ratio_eps = cfg.flag_dist_eps, cfg.flag_ratio_eps
    u, pid, di = c["gid"], c["pid"], c["di"]
    x, y, eid = c["x"], c["y"], c["eid"]
    len0, len1 = c["len0"], c["len1"]
    segi, rat = c["seg_idx"], c["ratio"]
    n = len(u)
    newlayer = np.concatenate(
        [[True], (pid[1:] != pid[:-1]) | (u[1:] != u[:-1])])
    bounds = np.flatnonzero(np.concatenate([[True], u[1:] != u[:-1], [True]]))
    gid = np.repeat(np.arange(len(bounds) - 1), np.diff(bounds))

    # per-candidate attrs gathered from the broadcast network; the pair
    # rows below gather from the candidate rows (L/R), never by eid
    _, _, src_a, dst_a, dist_a, speed_a = geom
    src, dst = src_a[di], dst_a[di]
    dist, speed = dist_a[di], speed_a[di]
    dstats, (nids, nxy) = stats
    src_ni, dst_ni = np.searchsorted(nids, src), np.searchsorted(nids, dst)

    # ---- layers: first row of each (url, pid) run ----
    lay_row = np.flatnonzero(newlayer)
    lay_gid = gid[lay_row]
    lay_pid = pid[lay_row]
    lay_end = np.concatenate([lay_row[1:], [n]])

    # consecutive-layer params within each group
    # (candidatesGraph.py:14-56 semantics — layer_params' exact ops)
    p0 = np.flatnonzero(lay_gid[1:] == lay_gid[:-1])
    dx = x[lay_row[p0 + 1]] - x[lay_row[p0]]
    dy = y[lay_row[p0 + 1]] - y[lay_row[p0]]
    d_euc_l = np.sqrt(dx * dx + dy * dy)
    move_dir_l = np.atleast_1d(bearing_deg(
        x[lay_row[p0]], y[lay_row[p0]], x[lay_row[p0 + 1]], y[lay_row[p0 + 1]]))

    # ---- pair cross-product over all layer pairs of all groups ----
    # row j of pair-layer k -> (left = start + j // nr, right = start1
    # + j % nr): identical enumeration order to the per-group code
    nl = (lay_end - lay_row)[p0]
    nr = (lay_end - lay_row)[p0 + 1]
    tot = nl * nr
    K = np.repeat(np.arange(len(p0), dtype=np.int64), tot)
    off = np.cumsum(tot) - tot                  # exclusive prefix
    j = np.arange(int(tot.sum()), dtype=np.int64) - off[K]
    L = lay_row[p0][K] + j // nr[K]
    R = lay_row[p0 + 1][K] + j % nr[K]

    e0, e1 = eid[L], eid[R]
    dist_0 = dist[L]
    step_0_len = len1[L]
    left_len0 = len0[L]
    step_n_len = len0[R]

    # ---- flags (candidatesGraph.py:58-114) ----
    offset_0 = dist_0 - step_0_len
    cond_1 = offset_0 <= step_n_len
    relaxed = np.minimum(np.maximum(0.0, offset_0 - dist_eps),
                         offset_0 * (1.0 - ratio_eps))
    cond = relaxed <= step_n_len
    approx = cond & (~cond_1)
    step_n_len = np.where(approx, left_len0, step_n_len)
    same = e0 == e1
    flag = np.where(same & cond, hmm.FLAG_SAME_SRC_FIRST,
                    np.where(same & (~cond), hmm.FLAG_SAME_SRC_LAST,
                             hmm.FLAG_NORMAL)).astype(np.int32)
    flag1 = flag == hmm.FLAG_SAME_SRC_FIRST
    o_node = np.where(flag1, src[R], dst[L])
    d_node = np.where(flag1, dst[L], src[R])

    # ---- sp attach (one vectorized binary-search gather) + scoring ----
    pair = {**spd.lookup(o_node, d_node),
            "step_0_len": step_0_len, "step_n_len": step_n_len,
            "speed_0": speed[L], "speed_1": speed[R], "flag": flag,
            "dist_0": dist_0, "d_euc": d_euc_l[K], "move_dir": move_dir_l[K],
            "eid_0": e0, "seg_idx_0": segi[L], "ratio_0": rat[L],
            "eid_1": e1, "seg_idx_1": segi[R], "ratio_1": rat[R],
            "di_0": di[L], "di_1": di[R], "approx": approx,
            "o_xy": nxy[np.where(flag1, src_ni[R], dst_ni[L])],
            "d_xy": nxy[np.where(flag1, dst_ni[L], src_ni[R])]}
    avg_speed, d_sht, dist_prob, _, trans_prob = _transition_probs(
        pair.__getitem__, dstats, cfg.dir_trans)

    pairs = {"pid_0": lay_pid[p0][K], "eid_0": e0, "eid_1": e1,
             "flag": flag, "trans_prob": trans_prob, "dist_prob": dist_prob,
             "d_sht": d_sht, "avg_speed": avg_speed,
             "o_node": o_node, "d_node": d_node, "left": L, "right": R}
    cand = {"pid": pid, "eid": eid, "dist_p2c": c["dist_p2c"],
            "len0": len0, "len1": len1}
    return _decode_stitch(urls[u[bounds[:-1]]], bounds, cand, pairs,
                          lay_gid[p0][K], cfg, spd.paths)


class MissingEmissionError(KeyError):
    """A pair row whose (pid_1, eid_1) has no candidate row reached the
    classic decode, which has no emission to score it with."""


def _decode_stitch(urls, c_off, cand: dict, pairs: dict, pair_gid,
                   cfg: MatchConfig, paths=None) -> dict:
    """The decode tail of _match_frame and viterbi_match: emission, one
    lockstep Viterbi (beam, or classic with beam_search=False) and one
    batched stitch (hmm.stitch_batch) over every url of a batch; one
    MATCHED_SCHEMA row per url, as columns: ``urls`` itself, int32
    status, the epath as an hmm.ListCol and a float64 array per metric.
    ``paths`` is the sp payload's CSR path lookup (DemandSpPayload.paths);
    with None the rows carry MATCHED_PRE_SCHEMA's winning steps (steps,
    last_eid) instead of expanded paths.

    Url g's candidate rows are c_off[g]:c_off[g + 1] of ``cand`` (pid,
    eid, dist_p2c, len0, len1), sorted (url, pid, dist_p2c, eid).
    ``pairs`` (SCORED_COLS' decode columns) is sorted (url, pid_0),
    ``pair_gid`` its url index, ``left`` the row of its (pid_0, eid_0)
    candidate and ``right`` that of its (pid_1, eid_1) candidate, -1 if
    none: for right, a NaN emission in the beam decode, and
    MissingEmissionError in the classic one. The emission is
    recomputed in numpy (the JVM's exp/sqrt differ in the last ulp) and
    normalized by the per-url max."""
    ngroups = len(urls)
    n_c = np.diff(c_off)
    gid = np.repeat(np.arange(ngroups), n_c)
    pid, eid = cand["pid"], cand["eid"]
    right = pairs["right"]
    if not cfg.beam_search and (right < 0).any():
        raise MissingEmissionError(
            f"{int((right < 0).sum())} pair rows have no (pid_1, eid_1) "
            "candidate row to take the classic decode's emission from")
    dens = hmm.gaussian_emission(cand["dist_p2c"], cfg.gps_sigma,
                                 cfg.gps_bias)
    gmax = np.full(ngroups, np.nan)
    ne = np.flatnonzero(n_c)
    gmax[ne] = np.maximum.reduceat(dens, c_off[ne])
    obs = hmm.observ_prob_from_density(dens, gmax[gid])
    p_obs = np.full(len(right), np.nan)
    p_obs[right >= 0] = obs[right[right >= 0]]

    # candidate layers, and the pair-layers between consecutive ones
    lay_row = np.flatnonzero((np.diff(gid, prepend=-1) != 0)
                             | (np.diff(pid, prepend=-1) != 0))
    lay_gid, lay_pid = gid[lay_row], pid[lay_row]
    pair_off = np.flatnonzero((np.diff(pair_gid, prepend=-1) != 0)
                              | (np.diff(pairs["pid_0"], prepend=-1) != 0))
    has_pairs = np.zeros(ngroups, dtype=bool)
    has_pairs[pair_gid] = True
    multi = np.flatnonzero(has_pairs)

    # winning states of every multi-layer url as flat arrays
    pl_gid = np.searchsorted(multi, pair_gid[pair_off])
    pair_cnt = np.diff(np.append(pair_off, len(pair_gid)))
    n_steps = np.bincount(pl_gid, minlength=len(multi))
    lay_lo = np.searchsorted(lay_gid, multi)
    # a state's slot is its candidate row; a pair side with no
    # candidate row gets a fresh slot per (layer, eid)
    s0, s1, n_slots = pairs["left"], right, len(pid)
    m0, m1 = np.flatnonzero(s0 < 0), np.flatnonzero(s1 < 0)
    if len(m0) or len(m1):
        pl_lay = lay_lo[pl_gid] + np.arange(len(pl_gid)) - np.repeat(
            np.cumsum(n_steps) - n_steps, n_steps)
        r_lay = np.repeat(pl_lay, pair_cnt)
        _, fresh = np.unique(np.stack([
            np.concatenate([r_lay[m0], r_lay[m1] + 1]),
            np.concatenate([pairs["eid_0"][m0], pairs["eid_1"][m1]])],
            axis=1), axis=0, return_inverse=True)
        fresh = n_slots + fresh.ravel()
        s0, s1 = s0.copy(), s1.copy()
        s0[m0], s1[m1] = fresh[:len(m0)], fresh[len(m0):]
        n_slots = int(fresh.max()) + 1
    lattice = (pl_gid, pair_off, pair_cnt, pairs["eid_0"], pairs["eid_1"])
    if cfg.beam_search:
        l0 = np.flatnonzero((pid == 0) & has_pairs[gid])
        w_off, w_idx, w_eid, end_prob = hmm.viterbi_beam_lockstep(
            *lattice, pairs["trans_prob"] * p_obs, s0, s1, l0, obs[l0],
            n_slots, n_steps, cfg)
    else:
        # the classic lattice starts at each url's first candidate layer
        l0 = np.flatnonzero((pid == pid[c_off[gid]]) & has_pairs[gid])
        w_off, w_idx, w_eid, end_prob = hmm.viterbi_classic_lockstep(
            *lattice, pairs["dist_prob"] * p_obs, s0, s1, l0, obs[l0],
            n_slots, n_steps)
    w_pid = lay_pid[np.repeat(lay_lo, np.diff(w_off)) + w_idx]

    st = hmm.stitch_batch(
        multi, w_off, w_pid, w_eid, end_prob,
        {"gid": gid, **cand}, {"gid": pair_gid, **pairs}, cfg,
        cfg.dir_trans, paths)

    # no candidates: status 3; one candidate layer: the nearest edge
    # (matching.py:170-178); more: the stitch
    one = np.flatnonzero((n_c > 0) & ~has_pairs)
    ep = st.pop("epath")
    out = {"url": urls,
           "status": np.full(ngroups, hmm.STATUS_NO_CANDIDATES, np.int32),
           "epath": hmm.ListCol.of_groups(
               np.concatenate([one, np.repeat(multi, np.diff(ep.off))]),
               np.concatenate([eid[c_off[one]], ep.flat]), ngroups),
           **{c: np.full(ngroups, np.nan) for c in METRIC_COLS}}
    if paths is None:
        out["steps"] = np.full(ngroups, None, dtype=object)
        out["last_eid"] = np.full(ngroups, np.nan)
    out["status"][one] = hmm.STATUS_ONE_POINT
    for c, v in st.items():
        out[c][multi] = v
    return out


def _kernel_broadcasts(spark: SparkSession, net: Network,
                       cfg: MatchConfig) -> tuple:
    """The one-pass kernel's broadcast network state, in _probe_match's
    argument order: the radius-dilated cell index as (cell, eid)-sorted
    arrays, the geometry + attribute arrays, the direction stats + node
    xy, and the DemandSpPayload over the network's search state. Each is
    broadcast once per network (and pad, max_dist); the payload's memo
    fills on the workers as batches ask for pairs, nothing is searched
    here."""
    pad = max(net.cfg.radius, cfg.radius)
    return (
        net.broadcast(spark, f"cellidx:{pad}", lambda: (
            lambda ci: (ci.cell.to_numpy(), ci.eid.to_numpy()))(
            net.cell_index(pad=pad).sort_values(["cell", "eid"],
                                                kind="stable"))),
        net.broadcast(spark, "geom",
                      lambda: (*net.padded_geoms(), *net.attr_arrays())),
        net.broadcast(spark, "stats",
                      lambda: (net.dir_stats(), net.node_xy_arrays())),
        net.broadcast(spark, f"sp:{cfg.max_dist}", lambda: DemandSpPayload(
            net.search_state(), cfg.max_dist)))


# Probe rows ((point, cell-edge) pairs) per _probe_match chunk: a chunk's
# probe, projection, pair table and decode are all sized by it, so it
# bounds a Python worker's working set whatever the Arrow batch holds.
# Each chunk also pays fixed work, mostly viterbi_beam_lockstep's
# per-step loop, which runs once per layer of the chunk's longest
# trajectory. In-process over perfbench onepass's four seed-1 batches
# (~375 pages, ~100k probe rows each; one process, medians of 5), kernel /
# lockstep: 40k 2.20 / 0.19 s, 20k 2.27 / 0.25 s, 10k 2.50 / 0.36 s.
# End to end on 4 cores against 40k chunks (worker_rss_mb ~835 MB), 10k
# reads 669 MB at job_s 1.27 -> 1.20 s (10 pairs) and 20k 728 MB at
# 1.07 -> 1.05 s (6 pairs).
CHUNK_ROWS = 10_000


def _probe_match(u, pid, x, y, cells, geom, stats, spd,
                 cfg: MatchConfig) -> tuple[list[dict], np.ndarray]:
    """Candidates + match for url-major points (extract_arrays' output or
    a slice of it), all in numpy, one url-aligned chunk at a time: cell
    probe of the radius-dilated index (searchsorted twin of
    candidate_join's broadcast equi-join) -> exact linear-referencing
    refine + radius filter -> (dist_p2c, eid) sort -> top-k cut ->
    _match_frame, which scores, decodes and stitches the chunk on the
    projection carried from the refine. A chunk holds whole urls and at
    most CHUNK_ROWS probe rows, counted from the cell-index searchsorted
    before anything is expanded; a url with more probe rows than that is
    a chunk of its own. ``cells`` is the (cell, eid)-sorted index as two
    arrays; ``geom``, ``stats`` and ``spd`` are _match_frame's. Shared by
    both kernel routes: match_pages_onepass and match_points.

    ``u`` is each point's url, an integer code at both edges (the url
    strings never enter the kernel). Returns the matched chunks'
    columns (_decode_stitch's) and the urls, in input order, that had at
    least one in-radius candidate; the caller emits status-3 rows for the rest
    (with_no_match_rows)."""
    from ..kernels.cells import xy_to_cell
    from ..kernels.linear_ref import project_core
    cells_s, cell_eids = cells
    eids_sorted, mat = geom[0], geom[1]
    # points carry a local integer gid, mapped back to the url once per
    # output chunk
    new_url = np.concatenate([[True], u[1:] != u[:-1]])
    urls_by_gid = u[new_url]
    pgid = np.cumsum(new_url) - 1
    ck = xy_to_cell(x, y, cfg.cell_size)
    lo = np.searchsorted(cells_s, ck, side="left")
    cnt = np.searchsorted(cells_s, ck, side="right") - lo
    # each url's first point, and its first probe row, plus the ends
    p_off = np.flatnonzero(np.append(new_url, True))
    r_off = np.concatenate([[0], np.cumsum(cnt)])[p_off]
    parts, have, a = [], [], 0
    while a < len(urls_by_gid):
        b = max(int(np.searchsorted(r_off, r_off[a] + CHUNK_ROWS,
                                    side="right")) - 1, a + 1)
        s, e = p_off[a], p_off[b]
        a = b
        # expand each point over its cell's eid run
        n_c = cnt[s:e]
        P = np.repeat(np.arange(s, e), n_c)
        E = cell_eids[np.arange(len(P)) - np.repeat(np.cumsum(n_c) - n_c, n_c)
                      + np.repeat(lo[s:e], n_c)]
        di = np.searchsorted(eids_sorted, E)
        pr = project_core(np.stack([x[P], y[P]], axis=1), mat[di])
        keep = np.flatnonzero(pr["dist"] <= cfg.radius)
        if not len(keep):
            continue
        # (url, pid) grouping == point ordinal P; within a layer the
        # (dist_p2c, eid) order the decode requires
        o = keep[np.lexsort((E[keep], pr["dist"][keep], P[keep]))]
        # top-k per (url, pid): rows are sorted (url, pid, dist_p2c, eid),
        # so candidate_join's row_number() <= k is rank-within-layer < k
        g, lp = pgid[P[o]], pid[P[o]]
        newlayer = np.concatenate(
            [[True], (lp[1:] != lp[:-1]) | (g[1:] != g[:-1])])
        i = np.arange(len(o))
        o = o[i - np.maximum.accumulate(np.where(newlayer, i, 0))
              < cfg.top_k]
        P = P[o]
        cand = {"gid": pgid[P], "pid": pid[P], "x": x[P], "y": y[P],
                "eid": E[o], "di": di[o], "dist_p2c": pr["dist"][o],
                **{k: pr[k][o] for k in ("seg_idx", "ratio", "len0", "len1")}}
        parts.append(_match_frame(cand, urls_by_gid, geom, stats, spd, cfg))
        have.append(cand["gid"])
    return parts, urls_by_gid[np.unique(np.concatenate(have))] if have \
        else urls_by_gid[:0]


def match_pages_onepass(spark: SparkSession, pages: DataFrame, net: Network,
                        cfg: MatchConfig) -> DataFrame:
    """The whole matcher as ONE narrow Arrow stage with a SINGLE
    JVM<->Python crossing: pages go in, one matched row per page comes
    out. Per batch, in numpy: GEO-line extraction + projection +
    Douglas-Peucker (extract_arrays) -> cell probe, refine, top-k,
    scoring, Viterbi and stitch (_probe_match), one url-aligned chunk of
    at most CHUNK_ROWS probe rows at a time: the kernel's working set is
    bounded by that budget, not by the Arrow batch
    (spark.sql.execution.arrow.maxRecordsPerBatch pages).

    Why: a staged pages plan crosses the Arrow boundary three times
    (extract out, refine in/out, match in), with the WIDE candidate table
    crossing twice — measured as the dominant memory-bandwidth load of
    the matcher after the url shuffle was removed (BENCH/profile_leg,
    kernel_probe: the bare kernels scale near-ideally; the crossings pay
    the bandwidth). Here the candidate table never leaves Python, url
    strings never need dictionary-encoding (nothing wide crosses a
    boundary), and a page with zero extractable points or zero in-radius
    candidates yields its status-3 row directly in-kernel — no anti-join,
    no persist, no JVM work between source scan and result.

    At 1000 executors this is the ideal plan: a single embarrassingly
    parallel map over pages with all network state broadcast once; the
    shortest paths are searched in-kernel (DemandSpPayload).

    The index is built radius-dilated (pad >= cfg.radius by construction
    — candidate_join's in-band pad guard is satisfied structurally).

    The stage is a mapInArrow (match_pages_batch) whose import and call
    path never loads pandas: the GEO lines are parsed by pyarrow.compute
    (sources.extract.geo_points), urls are integer codes inside the
    kernel, and the output batch is built from the kernel's numpy
    buffers, with NULL wherever the pandas edge has it. A Python worker
    that runs only this stage never pays pandas' import (~33 MB of RSS
    on top of numpy and pyarrow.compute, measured import by import)."""
    bcs = _kernel_broadcasts(spark, net, cfg)

    def op(batches):
        for b in batches:
            if b.num_rows:
                yield match_pages_batch(b, *(bc.value for bc in bcs), cfg)

    return pages.select("url", "text").mapInArrow(op, schema=MATCHED_SCHEMA)


def match_pages_batch(b, cells, geom, stats, spd, cfg: MatchConfig):
    """match_pages_onepass' work on one pages RecordBatch (url, text):
    its MATCHED_SCHEMA RecordBatch, one row per page. The kernel state is
    _kernel_broadcasts' values. Urls are integer codes (url_codes) from
    extraction to output, where the url column is a ``take`` of the
    input's."""
    code, page = url_codes(b.column(0))
    ex = extract_arrays(code, b.column(1), cfg.lon0, cfg.lat0, cfg.tolerance,
                        cfg.simplify)
    parts, have = ([], code[:0]) if ex is None else _probe_match(
        *ex, cells, geom, stats, spd, cfg)
    rows = with_no_match_rows(parts, code, have)
    rows["url"] = page[rows["url"]]
    return matched_batch(rows, b.column(0))


class Plan(NamedTuple):
    """choose_plan's answer: the plan and why."""
    name: str    # "onepass" | "relational"
    reason: str


def choose_plan(net: Network, cfg: MatchConfig) -> Plan:
    """The one place the matcher's plan is chosen; logged at INFO. It
    reads the config, nothing of the network: the onepass plan searches
    its shortest paths on demand.

    * ``relational`` — cfg.sp_broadcast_max_rows <= 0 pins the relational
      tail: sp table + equi-join + attach_epath_relational, nothing
      collected to the driver.
    * ``onepass`` — otherwise: the whole matcher is one Arrow stage per
      trajectory batch (match_pages_onepass over pages, match_points over
      url-clustered points)."""
    if cfg.sp_broadcast_max_rows <= 0:
        plan = Plan("relational",
                    "sp_broadcast_max_rows <= 0 pins the relational sp join")
    else:
        plan = Plan("onepass", "cell index broadcast, sp searched in-kernel")
    log.info("matcher plan %s: %s", plan.name, plan.reason)
    return plan


def match_pages(spark: SparkSession, pages: DataFrame, net: Network,
                cfg: MatchConfig = MatchConfig()) -> DataFrame:
    """pages -> matched, one row per url (SURVEY.md §1.2 result schema),
    on the plan choose_plan picks: match_pages_onepass, or extraction
    (extract_simplify) followed by the relational plan.

    Every input page yields exactly one output row: a page whose text
    yields no points, or whose points find no candidates (including
    out-of-bbox), gets status 3 — the engine's non-throwing version of
    the reference's bbox assert (matching.py:155-168). The result is
    persisted (lazily, except on the relational plan): every caller runs
    >= 1 action on it and several derive follow-up frames (path
    geometry, metrics)."""
    if choose_plan(net, cfg).name == "onepass":
        return match_pages_onepass(spark, pages, net, cfg).persist()
    # pages are one row per url, so the pages url column IS the url
    # universe (Catalyst prunes the text column out of this scan): the
    # relational plan skips its points distinct, and a page whose text
    # yields ZERO extractable points still gets its status-3 row
    return _match_relational(spark, extract_simplify(pages, cfg), net, cfg,
                             urls=pages.select("url"))


def match_points(spark: SparkSession, points_in: DataFrame, net: Network,
                 cfg: MatchConfig = MatchConfig()) -> DataFrame:
    """Match pre-extracted metric points (url, pid, x, y) — the pipeline
    below the text extractor; used by operators that synthesize point
    tables directly (e.g. the topology repair loop's reversed re-match).
    One row per url of points_in.

    On choose_plan's ``onepass`` plan the points are clustered on url
    (one shuffle, sorted (url, pid) within each partition) and matched
    by one mapInPandas: url_batches cuts the stream at url boundaries,
    _probe_match runs the one-pass kernel on each batch and a url with
    no in-radius candidate gets its status-3 row in the kernel. The
    action reads points_in once. On the ``relational`` plan:
    _match_relational.

    The onepass result is persisted lazily: no Spark job runs before
    the caller's action."""
    if choose_plan(net, cfg).name == "relational":
        return _match_relational(spark, points_in, net, cfg)
    bcs = _kernel_broadcasts(spark, net, cfg)

    def op(batches):
        for pdf in url_batches(batches):
            u = pdf.url.to_numpy()
            head = np.concatenate([[True], u[1:] != u[:-1]])
            code = np.cumsum(head) - 1
            parts, have = _probe_match(
                code, pdf.pid.to_numpy(), pdf.x.to_numpy(), pdf.y.to_numpy(),
                *(b.value for b in bcs), cfg)
            rows = with_no_match_rows(parts, np.arange(code[-1] + 1), have)
            rows["url"] = u[head][rows["url"]]
            yield matched_frame(rows)

    src = (points_in.select("url", "pid", "x", "y").repartition("url")
           .sortWithinPartitions("url", "pid"))
    return src.mapInPandas(
        op, schema=url_typed(MATCHED_SCHEMA, points_in)).persist()


def _match_relational(spark: SparkSession, points_in: DataFrame,
                      net: Network, cfg: MatchConfig,
                      urls: DataFrame | None = None) -> DataFrame:
    """The relational plan: candidate_join (slim, one url shuffle, top-k
    window) -> shortest_path_table over sp_demands -> rehydrate_cands ->
    build_pairs_df -> score_pairs_df (sp equi-join) -> viterbi_match ->
    attach_epath_relational, with status-3 rows for urls without
    candidates (_with_no_cand_rows). The result is materialized and
    persisted; the intermediates are released before returning.

    urls: optional one-row-per-url frame (column ``url``, string domain,
    caller-guaranteed distinct — match_pages passes
    ``pages.select("url")``). Supplies the status-3 universe and the
    url-restore dim without scanning the points table; a url present here
    but absent from points_in yields a status-3 row.

    url dictionary-encoding (cfg.url_id_encode): the url string would
    otherwise ride through every stage and dominate Arrow batch bytes on
    the widest tables. Instead the pipeline runs on `xxhash64(url)` as a
    long under the same column name — numeric sorts, slimmer shuffles —
    and the string is restored by one slim equi-join on the final
    1-row-per-url result. Collision odds are n^2/2^65 (~5e-10 at 1e5
    trajectories); for >1e8-trajectory corpora set url_id_encode=False
    or pre-assign numeric ids upstream."""
    cell_index, edge_attrs = network_frames(spark, net, cfg)
    encode = cfg.url_id_encode and dict(points_in.dtypes).get("url") == "string"
    if encode:
        # the pipeline reads the long, the restore dim reads both
        both = points_in.withColumn("_uid", F.xxhash64("url"))
        points = both.select(F.col("_uid").alias("url"),
                             *[c for c in points_in.columns if c != "url"])
        if urls is not None:
            url_dim = urls.select(F.xxhash64("url").alias("url"),
                                  F.col("url").alias("_url_str"))
        else:
            url_dim = both.select(F.col("_uid").alias("url"),
                                  F.col("url").alias("_url_str")).distinct()
    else:
        both = points = points_in
    # the one-row-per-url universe for the status-3 rows, in the
    # matcher's url domain (xxhash64-encoded when encode)
    if urls is not None:
        url_universe = urls.select(
            F.xxhash64("url").alias("url") if encode else F.col("url"))
    else:
        url_universe = points.select("url").distinct()
    cands = candidate_join(points, cell_index, edge_attrs, cfg, net=net,
                           slim=True)

    def restore(out: DataFrame) -> DataFrame:
        """The url string back on the matched rows: one slim equi-join on
        the final 1-row-per-url table (AQE broadcasts it when small)."""
        if not encode:
            return out
        return (out.join(url_dim, "url")
                .select(F.col("_url_str").alias("url"),
                        *[c for c in out.columns if c not in ("url", "_url_str")]))

    # persisted: the relational tail reads points and cands more than once
    both, cands = both.persist(), cands.persist()
    nids, _ = net.node_xy_arrays()
    sp = shortest_path_table(
        spark, sp_demands(cands, edge_attrs, n_nodes=len(nids)),
        net, cfg).persist()
    # rehydrate the slim candidates (one shuffle-free Arrow pass) and run
    # the relational tail; persisted because the pair self-join scans it
    # twice and the Viterbi union a third time. NO observ_prob attach:
    # the Viterbi kernel recomputes the per-url-max emission in-numpy (r7).
    full = rehydrate_cands(cands, net).persist()
    # pairs has exactly ONE consumer (score) — persisting it only added a
    # cache write/read of the widest table (r7)
    pairs = build_pairs_df(full, points, cfg)
    scored = score_pairs_df(spark, pairs, sp, net, cfg, broadcast_sp=False)
    # PERSIST pre: attach_epath_relational references it three times
    # (steps explode, the agg join-back, the dedup branch) and Spark does
    # not dedupe common subplans — unpersisted, the ENTIRE score+viterbi
    # subtree re-executed per reference (measured 8x wall on the
    # forced-relational bignet leg)
    pre = viterbi_match(full, scored, cfg).persist()
    out = restore(_with_no_cand_rows(attach_epath_relational(pre, sp, cfg),
                                     url_universe, cands)).persist()
    out.count()  # materialize, then release the intermediate caches —
    # leaving them pinned degrades successive runs via eviction churn
    for df in (both, cands, full, sp, pre):
        df.unpersist()
    return out


def _with_no_cand_rows(matched: DataFrame, url_universe: DataFrame,
                       cands: DataFrame) -> DataFrame:
    """Re-attach status-3 rows for urls with no candidates anywhere (the
    JVM twin of no_match_rows, for the relational plan). ``url_universe``
    is a one-row-per-url frame (column ``url``) holding every input url — the
    distinct points urls, or on the pages path the pages url set
    (cheaper: never touches extraction). ``cands`` must be the persisted
    candidate table, whose url set is the candidate-bearing urls — never
    an unpersisted heavy subtree, which would compute twice per action."""
    no_cands = (url_universe.select("url")
                .join(cands.select("url"), "url", "left_anti")
                .select("url",
                        F.lit(hmm.STATUS_NO_CANDIDATES).alias("status"),
                        F.lit(None).cast("array<long>").alias("epath"),
                        *[F.lit(None).cast("double").alias(c)
                          for c in METRIC_COLS]))
    return matched.unionByName(no_cands)
