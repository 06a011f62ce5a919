"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    -> flagship map-matching pipeline on /root/testdata/sf0.001
queries()       -> one entry per implemented operator (SURVEY.md §2)
oracle_sql()    -> DuckDB-equivalent SQL for every SQL-expressible query

Geospatial queries derive their inputs deterministically from the `events`
table (see st_mapmatching_spark/sources/derived.py) so the DuckDB oracle
can reproduce them bit-for-bit; non-SQL-expressible operators (Viterbi
matching, DP simplify, MinHash/SimHash/LSH, sp table) are rows-only checks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from st_mapmatching_spark.config import M_PER_DEG, MatchConfig
from st_mapmatching_spark.sources import derived as D

CFG = MatchConfig(lon0=D.LON0, lat0=D.LAT0)

_NET = None


def _net():
    global _NET
    if _NET is None:
        _NET = D.grid_network(CFG)
    return _NET


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def _render_pages(points: DataFrame) -> DataFrame:
    """points -> Common-Crawl-style pages with GEO trails in text."""
    lon = F.lit(D.LON0) + F.col("x") / F.lit(D.MK)
    lat = F.lit(D.LAT0) + F.col("y") / F.lit(M_PER_DEG)
    line = F.format_string("GEO %d %.7f %.7f %d", F.col("pid"), lon, lat,
                           (F.col("t_ms") / 1000).cast("long"))
    return (points
            .select("url", F.struct("pid", line.alias("line")).alias("s"))
            .groupBy("url")
            .agg(F.sort_array(F.collect_list("s")).alias("ls"))
            .select("url",
                    F.to_timestamp(F.lit("2023-11-14 00:00:00")).alias("warc_ts"),
                    F.encode("url", "utf-8").alias("html"),
                    F.concat_ws("\n", F.transform("ls", lambda x: x.line)).alias("text"),
                    F.lit("en").alias("lang")))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full text->extract->simplify->candidates->HMM->Viterbi
    pipeline over pages synthesized from sf0.001 events, matched against
    the deterministic grid road network."""
    from st_mapmatching_spark.operators.matching import match_pages
    points = D.derive_points(spark, "/root/testdata/sf0.001")
    pages = _render_pages(points)
    return match_pages(spark, pages, _net(), CFG)


# ---------------------------------------------------------------------------
# query helpers
# ---------------------------------------------------------------------------

def _pts(spark, sf):
    return D.derive_points(spark, sf)


def _docs(spark, sf):
    return spark.read.parquet(f"{sf}/documents.parquet")


def _emb(spark, sf):
    return (spark.read.parquet(f"{sf}/embeddings.parquet")
            .withColumn("embedding", F.col("embedding").cast("array<double>")))


_CELL_OFF = 1 << 25
_CELL_SHIFT = 1 << 26


def _cell(x, y):
    ix = F.floor(x / F.lit(D.CELL)).cast("long")
    iy = F.floor(y / F.lit(D.CELL)).cast("long")
    return (ix + _CELL_OFF) * _CELL_SHIFT + (iy + _CELL_OFF)


def _cell_sql(x, y):
    return (f"(CAST(floor(({x}) / {D.CELL!r}) AS BIGINT) + {_CELL_OFF}) * {_CELL_SHIFT} "
            f"+ (CAST(floor(({y}) / {D.CELL!r}) AS BIGINT) + {_CELL_OFF})")


def _fnv_sql(expr: str) -> str:
    """FNV-1a64 of an ASCII string expression as DuckDB SQL (list_reduce
    over char codes in HUGEINT; exact — matches kernels used by SimHash
    and the MinHash base hash byte-for-byte)."""
    return (f"CAST(list_reduce("
            f"list_prepend(CAST(14695981039346656037 AS HUGEINT), "
            f"list_transform(string_split({expr}, ''), "
            f"c -> CAST(ord(c) AS HUGEINT))), "
            f"(h, b) -> (CAST(xor(CAST(h AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT) "
            f"* 1099511628211) % CAST(18446744073709551616 AS HUGEINT)"
            f") AS UBIGINT)")


def _chord_dist_sql(s="i.s", e="i.e", j="j"):
    """SQL twin of kernels.geodesy.point_to_chord_dist over a trajectory's
    list columns (1-based list indexing; operand order matches the numpy
    kernel so every IEEE op rounds identically)."""
    ax, ay = f"t.xs[{s}+1]", f"t.ys[{s}+1]"
    bx, by = f"t.xs[{e}+1]", f"t.ys[{e}+1]"
    px, py = f"t.xs[{j}+1]", f"t.ys[{j}+1]"
    a = f"sqrt(({bx}-{ax})*({bx}-{ax}) + ({by}-{ay})*({by}-{ay}))"
    b = f"sqrt(({px}-{ax})*({px}-{ax}) + ({py}-{ay})*({py}-{ay}))"
    c = f"sqrt(({px}-{bx})*({px}-{bx}) + ({py}-{by})*({py}-{by}))"
    p = f"(({a}) + ({b}) + ({c})) / 2.0"
    s_ = f"sqrt(abs(({p}) * (({p}) - ({a})) * (({p}) - ({b})) * (({p}) - ({c}))))"
    return f"CASE WHEN ({a}) = 0 THEN ({b}) ELSE 2.0 * ({s_}) / ({a}) END"


# ---------------------------------------------------------------------------
# geo queries
# ---------------------------------------------------------------------------

def q_geo_points(spark, sf):
    return (_pts(spark, sf)
            .select("url", "pid", F.round("x", 6).alias("x_r"), F.round("y", 6).alias("y_r")))


def q_geo_cell_assign(spark, sf):
    p = _pts(spark, sf).withColumn("cell", _cell(F.col("x"), F.col("y")))
    return p.groupBy("cell").agg(F.count("*").alias("n_points"),
                                 F.countDistinct("url").alias("n_urls"))


def q_geo_cell_cover(spark, sf):
    p = _pts(spark, sf)
    r = D.RADIUS
    c00 = _cell(F.col("x") - r, F.col("y") - r)
    c01 = _cell(F.col("x") - r, F.col("y") + r)
    c10 = _cell(F.col("x") + r, F.col("y") - r)
    c11 = _cell(F.col("x") + r, F.col("y") + r)
    return (p.select("url", "pid",
                     F.explode(F.array_distinct(F.array(c00, c01, c10, c11))).alias("cell")))


def q_geo_knn_edges(spark, sf):
    from st_mapmatching_spark.operators.candidates import candidate_join, network_frames
    idx, attrs = network_frames(spark, _net())
    p = _pts(spark, sf).select("url", "pid", "x", "y")
    cands = candidate_join(p, idx, attrs, CFG, net=_net())
    w = Window.partitionBy("url", "pid").orderBy("dist_p2c", "eid")
    return (cands.withColumn("rank", F.row_number().over(w))
            .select("url", "pid", "eid", F.round("dist_p2c", 6).alias("dist_r"), "rank"))


def q_geo_pip_tiles(spark, sf):
    """Exact ray-cast PIP against rectangular tiles; the oracle uses the
    equivalent half-open range predicates."""
    import numpy as np
    import pandas as pd
    from st_mapmatching_spark.operators.tiling import assign_tiles
    rows = []
    for ty in range(4):
        for tx in range(4):
            bx0, by0 = -1100.0 + tx * 550.0, -1100.0 + ty * 550.0
            ring = [[bx0, by0], [bx0 + 550.0, by0], [bx0 + 550.0, by0 + 550.0],
                    [bx0, by0 + 550.0], [bx0, by0]]
            rows.append((ty * 4 + tx, 0, ring))
    tiles = pd.DataFrame(rows, columns=["tile_id", "res", "polygon"])
    p = _pts(spark, sf).select("url", "pid", "x", "y")
    return assign_tiles(spark, p, tiles, CFG).select("url", "pid", "tile_id")


def q_geo_rasterize(spark, sf):
    from st_mapmatching_spark.operators.tiling import rasterize_points
    p = _pts(spark, sf)
    return rasterize_points(p.select("url", "pid", "x", "y"), D.CELL)


def q_geo_bbox_filter(spark, sf):
    p = _pts(spark, sf)
    inside = (F.col("x") >= -500) & (F.col("x") < 500) & (F.col("y") >= -500) & (F.col("y") < 500)
    return p.groupBy("url").agg(F.sum(F.when(inside, 1).otherwise(0)).alias("n_inside"),
                                F.count("*").alias("n_total"))


# ---------------------------------------------------------------------------
# relational queries over the TPC-H-ish tables
# ---------------------------------------------------------------------------

def q_rel_topk_orders(spark, sf):
    o = spark.read.parquet(f"{sf}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price_r"), "rn"))


def q_rel_agg_pricing(spark, sf):
    l = spark.read.parquet(f"{sf}/lineitem.parquet")
    return (l.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count("*").alias("count_order")))


def q_rel_anti_join(spark, sf):
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def q_rel_degree(spark, sf):
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    deg = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    return (c.join(deg, c.c_custkey == deg.o_custkey, "left")
            .select("c_custkey", F.coalesce("n_orders", F.lit(0)).alias("n_orders")))


def q_rel_broadcast_dim(spark, sf):
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n_orders")))


def q_rel_union_reverse(spark, sf):
    l = spark.read.parquet(f"{sf}/lineitem.parquet")
    fwd = l.select(F.col("l_partkey").alias("a"), F.col("l_suppkey").alias("b")) \
           .distinct().withColumn("dir", F.lit(1))
    rev = fwd.select(F.col("b").alias("a"), F.col("a").alias("b"), (-F.col("dir")).alias("dir"))
    return fwd.unionByName(rev)


def q_rel_weighted_avg(spark, sf):
    l = spark.read.parquet(f"{sf}/lineitem.parquet")
    return (l.groupBy("l_suppkey")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.col("l_quantity"))
                         / F.sum("l_quantity"), 4).alias("w_avg")))


def q_rel_geomean(spark, sf):
    l = spark.read.parquet(f"{sf}/lineitem.parquet")
    return (l.groupBy("l_returnflag")
            .agg(F.round(F.exp(F.avg(F.log(F.lit(1.0) + F.col("l_discount")))), 9).alias("geo_mean")))


def q_rel_window_lead(spark, sf):
    e = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp_ltz"))
    return (e.withColumn("gap_ms", F.lead(ms).over(w) - ms)
            .filter(F.col("gap_ms").isNotNull())
            .select("user_id", "event_id", "gap_ms"))


def q_rel_dup_detect(spark, sf):
    e = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (e.withColumn("prev_v", F.lag("value").over(w))
            .filter(F.col("value") == F.col("prev_v"))
            .select("user_id", "event_id"))


def q_rel_combine_chains(spark, sf):
    """Combine 1-in/1-out chains (reference combine_edges.py:23-84) over a
    deterministic chain-edge table derived from events: one way per user
    (src/dst chain), plus branch edges every 11th event_id that raise the
    attach node's outdegree and break the chain there."""
    from st_mapmatching_spark.operators.graph_build import combine_chain_edges
    e = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    u = F.col("user_id").cast("long")
    ev = F.col("event_id").cast("long")
    base = (e.withColumn("pid", (F.row_number().over(w) - 1).cast("long"))
            .select(u.alias("way_id"), F.lit(1).alias("dir"),
                    F.col("pid").alias("order"),
                    (u * 100000 + F.col("pid")).alias("eid"),
                    (u * 100000 + F.col("pid")).alias("src"),
                    (u * 100000 + F.col("pid") + 1).alias("dst"),
                    (ev % 50 + 1).alias("dist"),
                    ev.alias("event_id")))
    branch = (base.filter(F.col("event_id") % 11 == 0)
              .select((F.col("event_id") + 1000000).alias("way_id"), "dir",
                      F.lit(0).cast("long").alias("order"),
                      (F.lit(500000000) + F.col("event_id")).alias("eid"),
                      F.col("dst").alias("src"),
                      (F.lit(900000000) + F.col("event_id")).alias("dst"),
                      F.lit(7).cast("long").alias("dist")))
    edges = base.drop("event_id").unionByName(branch)
    out = combine_chain_edges(edges)
    return out.select("way_id", "dir", "eid", "src", "dst", "order", "dist",
                      "n_merged",
                      F.concat_ws(",", F.col("waypoints").cast("array<string>")).alias("wp"))


def q_rel_multi_edge(spark, sf):
    e = spark.read.parquet(f"{sf}/events.parquet")
    return (e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1))


# ---------------------------------------------------------------------------
# text / dedup / similarity
# ---------------------------------------------------------------------------

def q_text_stats(spark, sf):
    from st_mapmatching_spark.operators.text import text_stats
    return text_stats(_docs(spark, sf)).select("doc_id", "n_chars", "n_tokens_ws", "n_tokens_re")


def q_text_lang_id(spark, sf):
    from st_mapmatching_spark.operators.text import lang_id
    out = lang_id(_docs(spark, sf))
    return out.select("doc_id", F.round("score_en", 6).alias("score_en_r"), "lang_pred")


def q_text_fingerprint(spark, sf):
    from st_mapmatching_spark.operators.text import fingerprint
    return fingerprint(_docs(spark, sf)).select("doc_id", "fp_md5")


def q_dedup_exact(spark, sf):
    from st_mapmatching_spark.operators.dedup import exact_dedup
    return exact_dedup(_docs(spark, sf))


def q_dedup_jaccard(spark, sf):
    from st_mapmatching_spark.operators.dedup import normalized_text
    docs = _docs(spark, sf).filter(F.col("doc_id") < 60)
    toks = docs.select(F.col("doc_id").alias("id"),
                       F.array_distinct(F.split(normalized_text(), " ")).alias("t"))
    l, r = toks.alias("l"), toks.alias("r")
    inter = F.size(F.array_intersect("l.t", "r.t")).cast("double")
    union = (F.size("l.t") + F.size("r.t") - F.size(F.array_intersect("l.t", "r.t"))).cast("double")
    return (l.join(r, F.col("l.id") < F.col("r.id"))
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"),
                    F.round(inter / union, 6).alias("jaccard_r"))
            .filter(F.col("jaccard_r") >= 0.3))


def q_sim_cosine_topk(spark, sf):
    from st_mapmatching_spark.operators.similarity import brute_force_topk
    emb = _emb(spark, sf)
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)
    return out.select("q_id", "c_id", "rank", F.round("cosine", 6).alias("cos_r"))


def q_sim_dot_pairs(spark, sf):
    from st_mapmatching_spark.operators.similarity import _dot
    emb = _emb(spark, sf)
    a = emb.filter(F.col("vec_id") < 20).select(F.col("vec_id").alias("a_id"),
                                                F.col("embedding").alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("a_id"), F.col("embedding").alias("vb"))
    return (a.join(b, "a_id")
            .select("a_id", F.round(_dot(F.col("va"), F.col("vb")), 6).alias("dot_r")))


# ---------------------------------------------------------------------------
# rows-only (non-SQL-expressible) operators
# ---------------------------------------------------------------------------

def q_match_grid(spark, sf):
    """THE flagship gate (reference matching.py:75-153 end-to-end): page
    render -> extract -> DP simplify -> candidate kNN -> HMM scoring
    (dist + dir) -> beam Viterbi -> stitch. Full DuckDB oracle
    (oracle/match_sql.py) re-derives every stage independently of the
    engine kernels — including the %.7f text quantization, the beam
    prune/walk and the closed-form grid shortest paths."""
    from st_mapmatching_spark.operators.matching import match_pages
    pages = _render_pages(_pts(spark, sf))
    m = match_pages(spark, pages, _net(), CFG)
    # epath is serialized to a scalar string: the gate canonicalizer sorts
    # and hashes column values, and array cells are unhashable
    return m.select("url", "status",
                    F.concat_ws(",", F.col("epath").cast("array<string>")).alias("epath_s"),
                    F.round("step_0", 6).alias("step_0_r"),
                    F.round("norm_prob", 6).alias("norm_prob_r"))


def q_match_grid_bignet(spark, sf):
    """The relational-plan gate: the SAME end-to-end pipeline as
    match_grid but with sp_broadcast_max_rows=0, which pins choose_plan's
    relational plan (operators/matching.py): distributed demand-driven
    shortest paths, relational sp equi-join scoring (score_pairs_df
    broadcast_sp=False), post-Viterbi attach_epath_relational. ZERO
    driver collects of unbounded state and no in-kernel search.
    Hash-gated against the same full DuckDB twin as match_grid
    (semantics are plan-independent by design)."""
    from dataclasses import replace
    from st_mapmatching_spark.operators.matching import match_pages
    pages = _render_pages(_pts(spark, sf))
    m = match_pages(spark, pages, _net(), replace(CFG, sp_broadcast_max_rows=0))
    return m.select("url", "status",
                    F.concat_ws(",", F.col("epath").cast("array<string>")).alias("epath_s"),
                    F.round("step_0", 6).alias("step_0_r"),
                    F.round("norm_prob", 6).alias("norm_prob_r"))


def q_match_grid_sharded(spark, sf):
    """The points-route gate: the same pages as match_grid, extracted
    and simplified in one Arrow stage (extract_simplify), then matched
    by match_points (one url shuffle, then the one-pass kernel
    per url-clustered batch). Every rendered page has a GEO line, so the
    points carry every url and the result has one row per url, hash-gated
    against match_grid's full DuckDB twin. The gate's name predates this
    subject: it gated the region-sharded plan, since deleted."""
    from st_mapmatching_spark.operators.candidates import extract_simplify
    from st_mapmatching_spark.operators.matching import match_points
    pages = _render_pages(_pts(spark, sf))
    m = match_points(spark, extract_simplify(pages, CFG), _net(), CFG)
    return m.select("url", "status",
                    F.concat_ws(",", F.col("epath").cast("array<string>")).alias("epath_s"),
                    F.round("step_0", 6).alias("step_0_r"),
                    F.round("norm_prob", 6).alias("norm_prob_r"))


def q_stream_match(spark, sf):
    """Streaming end-to-end gate: the SAME pages corpus fed through a real
    Structured Streaming file source (multiple micro-batches via
    maxFilesPerTrigger) -> foreachBatch matcher (streaming/pipeline.py
    stream_match_batches) -> parquet sink, result read back. Because
    pages are one row per url and urls are independent, the union of
    per-micro-batch matches MUST equal the batch matched table — so this
    gate shares match_grid's full DuckDB twin (batch-vs-stream equality
    checked against an independent oracle, not against the engine
    itself)."""
    import tempfile
    from st_mapmatching_spark.streaming.pipeline import stream_match_batches
    base = tempfile.mkdtemp(prefix="stream_match_gate_")
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    pages = _render_pages(_pts(spark, sf))
    pages.repartition(4).write.parquet(in_dir)

    def sink(df, epoch_id):
        (df.select("url", "status",
                   F.concat_ws(",", F.col("epath").cast("array<string>")).alias("epath_s"),
                   F.round("step_0", 6).alias("step_0_r"),
                   F.round("norm_prob", 6).alias("norm_prob_r"))
         .write.mode("append").parquet(out_dir))

    stream = (spark.readStream.schema(pages.schema)
              .option("maxFilesPerTrigger", 2).parquet(in_dir))
    q = (stream_match_batches(spark, stream, _net(), CFG, sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def q_match_grid_classic(spark, sf):
    """beam_search=False: classic full-lattice Viterbi decode
    (reference matching.py:187-188 -> viterbi.py:200-268). dir_trans is
    off as well — the reference's classic branch never uses the direction
    term in the decode, and distance-only transitions make the gate a
    clean isolation of the decode semantics (the dir term is gated by
    match_grid). Full DuckDB oracle: oracle/match_sql.py."""
    from dataclasses import replace
    from st_mapmatching_spark.operators.matching import match_pages
    pages = _render_pages(_pts(spark, sf))
    m = match_pages(spark, pages, _net(),
                    replace(CFG, beam_search=False, dir_trans=False))
    return m.select("url", "status",
                    F.concat_ws(",", F.col("epath").cast("array<string>")).alias("epath_s"),
                    F.round("norm_prob", 6).alias("norm_prob_r"))


def q_geo_simplify(spark, sf):
    from st_mapmatching_spark.operators.candidates import simplify_trajs
    p = _pts(spark, sf).select("url", F.col("pid").alias("pid_raw"),
                               (F.lit(D.LON0) + F.col("x") / F.lit(D.MK)).alias("x"),
                               (F.lit(D.LAT0) + F.col("y") / F.lit(M_PER_DEG)).alias("y"),
                               F.col("t_ms").alias("t_epoch"))
    return simplify_trajs(p, CFG).select("url", "pid", F.round("x", 6).alias("x_r"),
                                         F.round("y", 6).alias("y_r"))


def q_geo_path_cut(spark, sf):
    """Fractional path-edge cut (transform_res_2_path's substring kernel,
    reference postprocess.py:99-123) on a SQL-expressible input: each
    url's top-1 candidate edge at pid 0, cut at [0.25, 0.75]."""
    from st_mapmatching_spark.operators.candidates import candidate_join, network_frames
    from st_mapmatching_spark.operators.postprocess import matched_path_geometry
    idx, attrs = network_frames(spark, _net())
    p = _pts(spark, sf).select("url", "pid", "x", "y").filter(F.col("pid") == 0)
    cands = candidate_join(p, idx, attrs, CFG, net=_net())
    w = Window.partitionBy("url", "pid").orderBy("dist_p2c", "eid")
    top1 = cands.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    m = top1.select("url", F.lit(1).alias("status"),
                    F.array(F.col("eid")).alias("epath"),
                    F.lit(0.25).alias("step_0"), F.lit(0.75).alias("step_n"))
    g = matched_path_geometry(m, _net())
    return g.select("url", "eid", F.round("dist", 6).alias("dist_r"),
                    F.round("x0", 6).alias("x0_r"), F.round("y0", 6).alias("y0_r"),
                    F.round("x1", 6).alias("x1_r"), F.round("y1", 6).alias("y1_r"))


def q_eval_edr(spark, sf):
    """Edit Distance on Real sequence eval (SURVEY.md §2.11, reference
    trajDist.py:55-88) over the same classic-match + cut + 25 m resample
    chain as eval_lcss; full anti-diagonal DP twin in SQL."""
    from dataclasses import replace
    from st_mapmatching_spark.operators.candidates import extract_simplify
    from st_mapmatching_spark.operators.matching import match_pages
    from st_mapmatching_spark.operators.metrics import eval_similarity
    cfgc = replace(CFG, beam_search=False, dir_trans=False)
    pages = _render_pages(_pts(spark, sf))
    matched = match_pages(spark, pages, _net(), cfgc)
    points = extract_simplify(pages, cfgc)
    return (eval_similarity(spark, matched, points, _net(), cfgc,
                            metric="edr", resample=25.0)
            .select("url", F.round("metric_value", 6).alias("edr_r")))


def q_eval_erp(spark, sf):
    """Edit distance with Real Penalty eval (SURVEY.md §2.11, reference
    trajDist.py:90-124, gap point = origin) over the classic-match + cut
    + 25 m resample chain; full anti-diagonal DP twin in SQL."""
    from dataclasses import replace
    from st_mapmatching_spark.operators.candidates import extract_simplify
    from st_mapmatching_spark.operators.matching import match_pages
    from st_mapmatching_spark.operators.metrics import eval_similarity
    cfgc = replace(CFG, beam_search=False, dir_trans=False)
    pages = _render_pages(_pts(spark, sf))
    matched = match_pages(spark, pages, _net(), cfgc)
    points = extract_simplify(pages, cfgc)
    return (eval_similarity(spark, matched, points, _net(), cfgc,
                            metric="erp", resample=25.0)
            .select("url", F.round("metric_value", 6).alias("erp_r")))


def q_match_single_point(spark, sf):
    """STATUS_ONE_POINT branch through the real pipeline (reference
    matching.py:128-135): one-point trajectories -> best candidate edge,
    status 2 (or 3 when out of radius)."""
    from st_mapmatching_spark.operators.matching import match_pages
    pages = _render_pages(_pts(spark, sf).filter(F.col("pid") == 0))
    m = match_pages(spark, pages, _net(), CFG)
    return m.select("url", "status",
                    F.concat_ws(",", F.col("epath").cast("array<string>")).alias("epath_s"))


def q_match_bbox_outside(spark, sf):
    """STATUS_NO_CANDIDATES / bbox gate through the real pipeline
    (reference matching.py:155-168; engine: left-anti reattach): all
    points shifted 50 km east of the network."""
    from st_mapmatching_spark.operators.matching import match_pages
    pages = _render_pages(_pts(spark, sf).withColumn("x", F.col("x") + 50000.0))
    m = match_pages(spark, pages, _net(), CFG)
    return m.select("url", "status",
                    F.concat_ws(",", F.col("epath").cast("array<string>")).alias("epath_s"))


PATH_MARGIN = 25  # endpoint-to-node margin (m) > the ±20 m lateral noise


def _clean_snake_urls(points: DataFrame) -> DataFrame:
    """Urls whose derived trajectory neither wraps around the snake route
    nor starts/ends within PATH_MARGIN of a grid node. For these the
    matched path is a CLOSED FORM (the snake edges between the first and
    last point's arc position), which makes the full
    match->path-geometry pipeline SQL-oracle-able in CLOSED FORM;
    wrap/boundary urls involve emission ties under the ±20 m lateral
    noise (an endpoint 3 m past a node projects better onto the previous
    edge) with no closed form — their epath/step_0/norm_prob are fully
    hash-gated by match_grid (a complete DuckDB re-derivation of the beam
    pipeline), and their path GEOMETRY by match_path_geom_wrap, which
    derives the expected rows from that same SQL decode."""
    uid = F.split(F.col("url"), "_").getItem(1).cast("long")
    s0 = (uid * F.lit(D.A_USER)) % F.lit(int(D.SNAKE_LEN))
    st = points.groupBy("url").agg(F.max("pid").cast("long").alias("maxp"))
    s1 = s0 + F.col("maxp") * F.lit(int(D.STEP_M))
    m0, m1 = s0 % int(D.S), s1 % int(D.S)
    return (st.select("url", s0.alias("s0"), s1.alias("s1"),
                      m0.alias("m0"), m1.alias("m1"))
            .filter((F.col("s1") < int(D.SNAKE_LEN))
                    & (F.col("m0") >= PATH_MARGIN)
                    & (F.col("m0") <= int(D.S) - PATH_MARGIN)
                    & (F.col("m1") >= PATH_MARGIN)
                    & (F.col("m1") <= int(D.S) - PATH_MARGIN))
            .select("url"))


def q_match_path_geom(spark, sf):
    """Full matched-path geometry (the DataFrame form of
    transform_res_2_path over real match output) on the closed-form
    subset of trajectories — full oracle gate (the engine runs the real
    extract->simplify->candidates->HMM->Viterbi->cut pipeline; the oracle
    recomputes the expected result from the snake route's closed form)."""
    from st_mapmatching_spark.operators.matching import match_pages
    from st_mapmatching_spark.operators.postprocess import matched_path_geometry
    pts = _pts(spark, sf)
    pages = _render_pages(pts.join(_clean_snake_urls(pts), "url"))
    m = match_pages(spark, pages, _net(), CFG)
    g = matched_path_geometry(m, _net())
    # 1 decimal: the page text renders lon/lat at %.7f (~0.006 m grain);
    # the closed-form expectations are exact integers, so 0.05 m boundary
    # margin vs 0.006 m quantization error is safe
    return g.select("url", "seq", "eid", F.round("dist", 1).alias("dist_r"),
                    F.round("x0", 1).alias("x0_r"), F.round("y1", 1).alias("y1_r"))


def q_match_path_geom_wrap(spark, sf):
    """Matched-path geometry over the wrap/boundary COMPLEMENT of
    _clean_snake_urls — the urls q_match_path_geom excludes. Full oracle:
    the expected rows come from the beam-decode SQL twin's epath +
    step_0/step_n with the fractional cuts applied in SQL
    (oracle/match_sql.match_path_geom_wrap_oracle_sql), closing the last
    match-derived-output coverage gap (round-4 VERDICT item 4)."""
    from st_mapmatching_spark.operators.matching import match_pages
    from st_mapmatching_spark.operators.postprocess import matched_path_geometry
    pts = _pts(spark, sf)
    pages = _render_pages(pts.join(_clean_snake_urls(pts), "url", "left_anti"))
    m = match_pages(spark, pages, _net(), CFG).filter(F.col("status").isin(0, 1))
    g = matched_path_geometry(m, _net())
    return g.select("url", F.col("seq").cast("int").alias("seq"), "eid",
                    F.round("dist", 1).alias("dist_r"),
                    F.round("x0", 1).alias("x0_r"),
                    F.round("y1", 1).alias("y1_r"))


RSTEP = 40.0  # resample step (m) — shared by q_geo_resample and its oracle


def q_geo_resample(spark, sf):
    """Standalone trajectory resample op (geo/ops/resample.py:9-45) —
    full oracle gate (window cumsum + np.interp closed form in SQL)."""
    from st_mapmatching_spark.operators.postprocess import resample_trajectory
    p = _pts(spark, sf).select("url", "pid", "x", "y")
    return (resample_trajectory(p, step=RSTEP)
            .select("url", "seq", F.round("x", 6).alias("x_r"),
                    F.round("y", 6).alias("y_r")))


def q_geo_sp_table(spark, sf):
    from st_mapmatching_spark.operators.shortest_paths import shortest_path_table
    nodes = spark.range(0, D.G * D.G).select(F.col("id").alias("o_node"))
    demands = nodes.crossJoin(spark.range(0, 5).select(F.col("id").alias("d_node")))
    sp = shortest_path_table(spark, demands, _net(), CFG)
    return sp.select("o_node", "d_node", F.round("cost", 6).alias("cost_r"),
                     F.size(F.coalesce("epath", F.array())).alias("path_len"))


def q_dedup_minhash(spark, sf):
    from st_mapmatching_spark.operators.dedup import minhash_lsh_pairs
    return minhash_lsh_pairs(_docs(spark, sf), jaccard_threshold=0.5) \
        .select("a", "b", F.round("jaccard", 6).alias("jaccard_r"))


def q_sim_neardup(spark, sf):
    """Embedding-cosine near-dup pairs (SURVEY-extension family), BLOCKED
    by deterministic sign-LSH banding + exact sequential-fold cosine
    verify — no all-pairs join in the plan; the oracle reproduces the
    banded candidate set bitwise (Rademacher planes + list_reduce)."""
    from st_mapmatching_spark.operators.similarity import cosine_neardup_pairs
    return (cosine_neardup_pairs(_emb(spark, sf), threshold=0.4, dim=64)
            .select("a_id", "b_id", F.round("cosine", 6).alias("cos_r")))


def q_dedup_simhash(spark, sf):
    from st_mapmatching_spark.operators.dedup import simhash_near_pairs
    return simhash_near_pairs(_docs(spark, sf), max_hamming=3)


def q_dedup_cluster(spark, sf):
    """Near-dup CLUSTERS: connected components over the simhash pair
    graph via alternating large-star/small-star rounds (Kiveris et al.
    SoCC'14 — O(log^2 n) shuffle rounds, diameter-independent). Output
    (id, component = smallest reachable id); the oracle reaches the same
    fixpoint as a recursive-CTE transitive closure + MIN."""
    from st_mapmatching_spark.operators.dedup import (connected_components,
                                                      simhash_near_pairs)
    pairs = simhash_near_pairs(_docs(spark, sf), max_hamming=3)
    return connected_components(pairs)


def q_sim_lsh(spark, sf):
    """Banded sign-LSH top-k in strict-parity mode: deterministic
    Rademacher planes + sequential-fold projections, so the DuckDB oracle
    reproduces every signature bit (and hence the candidate set) bitwise."""
    from st_mapmatching_spark.operators.similarity import lsh_topk
    emb = _emb(spark, sf)
    return (lsh_topk(spark, emb, emb.filter(F.col("vec_id") < 5), dim=64, k=5,
                     strict=True)
            .select("q_id", "c_id", "rank", F.round("cosine", 6).alias("cos_r")))


def q_sim_ivf(spark, sf):
    """IVF top-k in strict-parity mode: first-8-by-id coarse quantizer,
    sequential-fold distances, stable tie-breaks — a full SQL closed form
    (see ivf_topk docstring for the quantizer tradeoff)."""
    from st_mapmatching_spark.operators.similarity import ivf_topk
    emb = _emb(spark, sf)
    return (ivf_topk(spark, emb, emb.filter(F.col("vec_id") < 5), dim=64, k=5,
                     n_centroids=8, n_probe=4, strict=True)
            .select("q_id", "c_id", "rank", F.round("cosine", 6).alias("cos_r")))


def q_eval_lcss(spark, sf):
    """Post-match trajectory-similarity eval (SURVEY.md §2.11): LCSS
    between the matched path geometry (fraction-cut + 25 m resample) and
    the simplified trajectory. Runs on the classic-decode match output
    (beam is gated by match_grid) so the full DuckDB twin — classic
    decode chain + path cut + resample + anti-diagonal LCSS DP in a
    recursive CTE — stays tractable; resample=25 m bounds the DP at
    ~100x100 per trajectory."""
    from dataclasses import replace
    from st_mapmatching_spark.operators.candidates import extract_simplify
    from st_mapmatching_spark.operators.matching import match_pages
    from st_mapmatching_spark.operators.metrics import eval_similarity
    cfgc = replace(CFG, beam_search=False, dir_trans=False)
    pages = _render_pages(_pts(spark, sf))
    matched = match_pages(spark, pages, _net(), cfgc)
    points = extract_simplify(pages, cfgc)
    return (eval_similarity(spark, matched, points, _net(), cfgc,
                            metric="lcss", resample=25.0)
            .select("url", F.round("metric_value", 6).alias("lcss_r")))


def _dedup_minhash_sql() -> str:
    """DuckDB twin of dedup.minhash_lsh_pairs (k=3, 16 hashes, 8 bands of
    2, bucket cap 200, jaccard >= 0.5). The affine constants come from the
    engine module — one source of truth."""
    from st_mapmatching_spark.operators.dedup import (MINHASH_A, MINHASH_B,
                                                      MINHASH_P)
    hf = ", ".join(f"({i}, {MINHASH_A[i]}, {MINHASH_B[i]})" for i in range(16))
    return f"""
        WITH tok AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                     x -> x <> '') AS toks
          FROM documents
        ),
        gr AS (
          SELECT doc_id, list_distinct(
            CASE WHEN len(toks) >= 3 THEN
                   list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                 WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                 ELSE [''] END) AS grams
          FROM tok
        ),
        g AS (SELECT doc_id, t.gram FROM gr, unnest(grams) AS t(gram)),
        h AS (
          SELECT doc_id, gram,
                 CAST({_fnv_sql('gram')} & 2147483647 AS BIGINT) AS h31
          FROM g
        ),
        hf(i, a, b) AS (VALUES {hf}),
        sigs AS (
          SELECT doc_id, hf.i AS i,
                 MIN((hf.a * h31 + hf.b) % {MINHASH_P}) AS mv
          FROM h, hf GROUP BY doc_id, hf.i
        ),
        sig AS (
          SELECT doc_id, list(mv ORDER BY i) AS sig FROM sigs GROUP BY doc_id
        ),
        band AS (
          SELECT doc_id, t.b AS band,
                 sig[2*t.b + 1] * 2147483648 + sig[2*t.b + 2] AS bh
          FROM sig, (SELECT unnest(range(8)) AS b) t
        ),
        capped AS (
          SELECT * FROM (
            SELECT doc_id, band, bh,
                   COUNT(*) OVER (PARTITION BY band, bh) AS nb
            FROM band) WHERE nb <= 200
        ),
        pairs AS (
          SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
          FROM capped l JOIN capped r
            ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
        ),
        nsz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        inter AS (
          SELECT p.a, p.b, COUNT(*) AS ni
          FROM pairs p
          JOIN g ga ON ga.doc_id = p.a
          JOIN g gb ON gb.doc_id = p.b AND gb.gram = ga.gram
          GROUP BY p.a, p.b
        )
        SELECT i.a, i.b,
               round(i.ni / (na.n + nb.n - i.ni), 6) AS jaccard_r
        FROM inter i
        JOIN nsz na ON na.doc_id = i.a
        JOIN nsz nb ON nb.doc_id = i.b
        WHERE i.ni / (na.n + nb.n - i.ni) >= 0.5"""


def _fold_sql(terms_list_expr: str) -> str:
    """Strict left fold (+) starting at 0.0 — the exact IEEE op order of
    the engine's F.aggregate / np.add.accumulate kernels."""
    return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {terms_list_expr}), "
            f"(a, x) -> a + x)")


def _proj_sql(v: str, j_expr: str, dim: int = 64, n_planes: int = 16) -> str:
    """Projection of DOUBLE[] ``v`` onto Rademacher plane ``j_expr``
    (similarity.rademacher_planes closed form), sequential fold."""
    sign = (f"CASE WHEN ((d * {n_planes} + ({j_expr})) * 2654435761) "
            f"% 4294967296 < 2147483648 THEN 1.0 ELSE -1.0 END")
    return _fold_sql(f"list_transform(range({dim}), d -> {v}[d+1] * ({sign}))")


def _bandv_sql(v: str, band: str, bits_per: int = 4) -> str:
    """Band value = bits_per sign bits of consecutive plane projections,
    packed little-endian — twin of the engine's (sig >> band*bits) & mask."""
    parts = [f"(CASE WHEN ({_proj_sql(v, f'({band}) * {bits_per} + {r}')}) >= 0 "
             f"THEN {1 << r} ELSE 0 END)" for r in range(bits_per)]
    return " + ".join(parts)


def _dot_sql(va: str, vb: str, dim: int = 64) -> str:
    return _fold_sql(f"list_transform(range({dim}), d -> {va}[d+1] * {vb}[d+1])")


def _norm_sql(v: str, dim: int = 64) -> str:
    return f"sqrt({_fold_sql(f'list_transform(range({dim}), d -> {v}[d+1] * {v}[d+1])')})"


def _cos_sql(va: str, vb: str, dim: int = 64) -> str:
    """cosine with the engine's exact op order: dot / (norm(a) * norm(b)),
    every sum a strict left fold."""
    return f"(({_dot_sql(va, vb, dim)}) / (({_norm_sql(va, dim)}) * ({_norm_sql(vb, dim)})))"


def _sqdist_sql(va: str, vb: str, dim: int = 64) -> str:
    """Squared euclidean distance, sequential fold of (x-c)*(x-c)."""
    return _fold_sql(f"list_transform(range({dim}), "
                     f"d -> ({va}[d+1] - {vb}[d+1]) * ({va}[d+1] - {vb}[d+1]))")


def _match_sql():
    from st_mapmatching_spark.oracle import match_sql
    return match_sql


def _osm_fixture_xml() -> str:
    """Deterministic .osm fixture for the osm_network gate: 8 parallel
    6-node ways (even = oneway primary, odd = two-way residential), a
    traffic signal splitting way 1, a duplicate-chain way (dropped), and
    a footway (filtered). Node/way geometry is pure arithmetic so the
    oracle derives the built edge table in closed form."""
    parts = ["<?xml version='1.0'?><osm>"]
    for w in range(8):
        lat = 22.5 + w * 0.001
        for i in range(6):
            nid = w * 10 + i
            tag = '<tag k="highway" v="traffic_signals"/>' if nid == 12 else ""
            parts.append(f'<node id="{nid}" lon="{114.0 + i * 0.001}" '
                         f'lat="{lat}">{tag}</node>')
    for w in range(8):
        nds = "".join(f'<nd ref="{w * 10 + i}"/>' for i in range(6))
        hw, ow = ("primary", "yes") if w % 2 == 0 else ("residential", "no")
        parts.append(f'<way id="{w}">{nds}<tag k="highway" v="{hw}"/>'
                     f'<tag k="oneway" v="{ow}"/></way>')
    # duplicate chain of way 0 (higher level -> dropped) + a filtered footway
    nds0 = "".join(f'<nd ref="{i}"/>' for i in range(6))
    parts.append(f'<way id="100">{nds0}<tag k="highway" v="secondary"/>'
                 f'<tag k="oneway" v="yes"/></way>')
    parts.append('<way id="101"><nd ref="0"/><nd ref="10"/>'
                 '<tag k="highway" v="footway"/></way>')
    parts.append("</osm>")
    return "".join(parts)


def q_osm_network(spark, sf):
    """OSM XML -> routable network ETL (parse_osm_xml.py:354-384 as Spark
    relational operators: dup-way drop, signal-aware chain combining,
    reverse twins, multi-edge resolution, geometry assembly)."""
    import io
    from st_mapmatching_spark.sources.osm_xml import (osm_network_tables,
                                                      parse_osm_xml)
    ways, nodes, edges = parse_osm_xml(io.StringIO(_osm_fixture_xml()))
    edges_pd, _ = osm_network_tables(spark, ways, nodes, edges)
    out = edges_pd[["eid", "way_id", "dir", "src", "dst", "n_merged"]] \
        .astype("int64")
    out["dist_r"] = edges_pd["dist"].round(3)
    out["speed_r"] = edges_pd["speed"].round(6)
    out["wp_s"] = edges_pd["waypoints"].map(
        lambda w: ",".join(str(int(v)) for v in w))
    return spark.createDataFrame(out.sort_values("eid"))


def q_mm_features(spark, sf):
    from st_mapmatching_spark.operators.multimodal import extract_media_features
    media = _docs(spark, sf).select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("image").alias("kind"), F.encode("text", "utf-8").alias("payload"))
    return extract_media_features(media) \
        .select("url", "n_bytes", F.round("byte_mean", 6).alias("mean_r"))


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # geo / tiling
        "geo_points": q_geo_points,
        "geo_cell_assign": q_geo_cell_assign,
        "geo_cell_cover": q_geo_cell_cover,
        "geo_knn_edges": q_geo_knn_edges,
        "geo_pip_tiles": q_geo_pip_tiles,
        "geo_rasterize": q_geo_rasterize,
        "geo_bbox_filter": q_geo_bbox_filter,
        "geo_path_cut": q_geo_path_cut,
        # relational
        "rel_topk_orders": q_rel_topk_orders,
        "rel_agg_pricing": q_rel_agg_pricing,
        "rel_anti_join": q_rel_anti_join,
        "rel_degree": q_rel_degree,
        "rel_broadcast_dim": q_rel_broadcast_dim,
        "rel_union_reverse": q_rel_union_reverse,
        "rel_weighted_avg": q_rel_weighted_avg,
        "rel_geomean": q_rel_geomean,
        "rel_window_lead": q_rel_window_lead,
        "rel_dup_detect": q_rel_dup_detect,
        "rel_multi_edge": q_rel_multi_edge,
        "rel_combine_chains": q_rel_combine_chains,
        # text / dedup / similarity
        "text_stats": q_text_stats,
        "text_lang_id": q_text_lang_id,
        "text_fingerprint": q_text_fingerprint,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "sim_cosine_topk": q_sim_cosine_topk,
        "sim_dot_pairs": q_sim_dot_pairs,
        "sim_neardup": q_sim_neardup,
        # rows-only
        "match_grid": q_match_grid,
        "match_grid_bignet": q_match_grid_bignet,
        "match_grid_sharded": q_match_grid_sharded,
        "match_grid_classic": q_match_grid_classic,
        "stream_match": q_stream_match,
        "eval_edr": q_eval_edr,
        "eval_erp": q_eval_erp,
        "match_single_point": q_match_single_point,
        "match_bbox_outside": q_match_bbox_outside,
        "match_path_geom": q_match_path_geom,
        "match_path_geom_wrap": q_match_path_geom_wrap,
        "geo_resample": q_geo_resample,
        "geo_simplify": q_geo_simplify,
        "geo_sp_table": q_geo_sp_table,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "dedup_cluster": q_dedup_cluster,
        "sim_lsh": q_sim_lsh,
        "sim_ivf": q_sim_ivf,
        "eval_lcss": q_eval_lcss,
        "mm_features": q_mm_features,
        "osm_network": q_osm_network,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_STOP = {
    "en": "['the','and','of','to','in','is','that','for','with','as']",
    "de": "['der','die','das','und','ist','von','mit','den','nicht','ein']",
    "fr": "['le','la','les','et','de','des','un','une','est','que']",
    "es": "['el','la','los','de','que','y','en','un','una','es']",
}


def _stop_score(lang):
    return (f"len(list_filter(string_split({_NORM}, ' '), "
            f"x -> list_contains({_STOP[lang]}, x))) "
            f"/ greatest(len(string_split({_NORM}, ' ')), 1)")


# SimHash pair twin, shared by the dedup_simhash gate and as the inner
# pair-generator of the dedup_cluster closure (nested WITH: DuckDB allows a
# full WITH...SELECT inside a parenthesized CTE body)
_SIMHASH_PAIRS_SQL = r"""
            WITH tok AS (
              SELECT doc_id, t.tok
              FROM documents, unnest(list_filter(
                string_split_regex(lower(text), '\s+'), x -> x <> '')) AS t(tok)
            ),
            h AS (
              SELECT doc_id,
                     CAST(list_reduce(
                       list_prepend(CAST(14695981039346656037 AS HUGEINT),
                                    list_transform(string_split(tok, ''),
                                                   c -> CAST(ord(c) AS HUGEINT))),
                       (h, b) -> (CAST(xor(CAST(h AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT)
                                  * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)
                     ) AS UBIGINT) AS fnv
              FROM tok
            ),
            bits AS (
              SELECT doc_id, i.i AS i,
                     SUM(CAST((fnv >> CAST(i.i AS INT)) & 1 AS BIGINT)) AS s,
                     COUNT(*) AS n
              FROM h, (SELECT unnest(range(64)) AS i) i
              GROUP BY doc_id, i.i
            ),
            sig AS (
              SELECT doc_id,
                     SUM(CASE WHEN 2*s >= n THEN CAST(1 AS HUGEINT) << CAST(i AS INT)
                              ELSE 0 END) AS us
              FROM bits GROUP BY doc_id
            ),
            sh AS (
              -- keep the unsigned form for the xor (a negative BIGINT
              -- cannot CAST to UBIGINT in DuckDB — range-checked)
              SELECT doc_id, CAST(us AS UBIGINT) AS uh FROM sig
            )
            SELECT a.doc_id AS a, b.doc_id AS b,
                   CAST(bit_count(xor(a.uh, b.uh)) AS INT) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.uh, b.uh)) <= 3"""


def oracle_sql() -> dict[str, str]:
    pts = D.POINTS_CTE.strip()
    edges = D.EDGES_CTE.strip()
    cell_xy = _cell_sql("p.x", "p.y")

    lang_case = ("CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0.0 THEN 'und' "
                 "WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en' "
                 "WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de' "
                 "WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr' "
                 "WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es' "
                 "ELSE 'und' END")

    return {
        "geo_points": f"WITH {pts} SELECT url, pid, round(x, 6) AS x_r, round(y, 6) AS y_r FROM points",

        "geo_cell_assign": f"""WITH {pts}
            SELECT {cell_xy} AS cell, count(*) AS n_points, count(DISTINCT url) AS n_urls
            FROM points p GROUP BY 1""",

        "geo_cell_cover": f"""WITH {pts},
            cov AS (SELECT url, pid, unnest(list_distinct([
                {_cell_sql(f"p.x - {D.RADIUS!r}", f"p.y - {D.RADIUS!r}")},
                {_cell_sql(f"p.x - {D.RADIUS!r}", f"p.y + {D.RADIUS!r}")},
                {_cell_sql(f"p.x + {D.RADIUS!r}", f"p.y - {D.RADIUS!r}")},
                {_cell_sql(f"p.x + {D.RADIUS!r}", f"p.y + {D.RADIUS!r}")}])) AS cell
              FROM points p)
            SELECT url, pid, cell FROM cov""",

        "geo_knn_edges": f"""WITH {pts}, {edges},
            cand AS (
              SELECT p.url, p.pid, e.eid, {D.DIST_EXPR} AS dist
              FROM points p CROSS JOIN edges e),
            ranked AS (
              SELECT url, pid, eid, dist,
                     CAST(row_number() OVER (PARTITION BY url, pid ORDER BY dist, eid) AS INT) AS rank
              FROM cand WHERE dist <= {D.RADIUS!r})
            SELECT url, pid, eid, round(dist, 6) AS dist_r, rank
            FROM ranked WHERE rank <= {D.TOP_K}""",

        "geo_pip_tiles": f"""WITH {pts}
            SELECT url, pid,
                   (CAST(floor((y + 1100.0) / 550.0) AS BIGINT) * 4
                    + CAST(floor((x + 1100.0) / 550.0) AS BIGINT)) AS tile_id
            FROM points p
            WHERE x >= -1100.0 AND x < 1100.0 AND y >= -1100.0 AND y < 1100.0""",

        "geo_rasterize": f"""WITH {pts}
            SELECT {cell_xy} AS cell, count(*) AS n_points FROM points p GROUP BY 1""",

        # top-1 edge at pid 0, substring-cut at [0.25, 0.75]; grid edges are
        # 2-point straight segments so the cut is linear interpolation
        # (reverse twins eid >= N_ONEWAY run end->start)
        "geo_path_cut": f"""WITH {pts}, {edges},
            cand AS (
              SELECT p.url, e.eid, e.ax, e.ay, e.horiz, {D.DIST_EXPR} AS dist
              FROM (SELECT * FROM points WHERE pid = 0) p CROSS JOIN edges e),
            ranked AS (
              SELECT url, eid, ax, ay, horiz,
                     row_number() OVER (PARTITION BY url ORDER BY dist, eid) AS rnk
              FROM cand WHERE dist <= {D.RADIUS!r}),
            ends AS (
              SELECT url, eid,
                     CASE WHEN eid < {D.N_ONEWAY} THEN ax
                          ELSE CASE WHEN horiz THEN ax + {D.S!r} ELSE ax END END AS sx,
                     CASE WHEN eid < {D.N_ONEWAY} THEN ay
                          ELSE CASE WHEN horiz THEN ay ELSE ay + {D.S!r} END END AS sy,
                     CASE WHEN eid < {D.N_ONEWAY} THEN CASE WHEN horiz THEN ax + {D.S!r} ELSE ax END
                          ELSE ax END AS ex,
                     CASE WHEN eid < {D.N_ONEWAY} THEN CASE WHEN horiz THEN ay ELSE ay + {D.S!r} END
                          ELSE ay END AS ey
              FROM ranked WHERE rnk = 1)
            SELECT url, eid,
                   round(0.5 * {D.S!r}, 6) AS dist_r,
                   round(sx + 0.25 * (ex - sx), 6) AS x0_r,
                   round(sy + 0.25 * (ey - sy), 6) AS y0_r,
                   round(sx + 0.75 * (ex - sx), 6) AS x1_r,
                   round(sy + 0.75 * (ey - sy), 6) AS y1_r
            FROM ends""",

        # CAST: DuckDB's integer sum() is HUGEINT (surfaces as float64 in
        # pandas) while Spark's is BIGINT — same values, different hash
        "geo_bbox_filter": f"""WITH {pts}
            SELECT url,
                   CAST(sum(CASE WHEN x >= -500 AND x < 500 AND y >= -500 AND y < 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
                   count(*) AS n_total
            FROM points GROUP BY url""",

        "rel_topk_orders": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price_r,
                   CAST(row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
            FROM orders QUALIFY rn <= 3""",

        "rel_agg_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",

        "rel_anti_join": """
            SELECT c_custkey FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",

        "rel_degree": """
            SELECT c.c_custkey, coalesce(o.n, 0) AS n_orders
            FROM customer c LEFT JOIN (
              SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey) o
            ON c.c_custkey = o.o_custkey""",

        "rel_broadcast_dim": """
            SELECT n.n_name, round(sum(o.o_totalprice), 2) AS revenue, count(*) AS n_orders
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name""",

        "rel_union_reverse": """
            WITH fwd AS (SELECT DISTINCT l_partkey AS a, l_suppkey AS b FROM lineitem)
            SELECT a, b, 1 AS dir FROM fwd
            UNION ALL SELECT b AS a, a AS b, -1 AS dir FROM fwd""",

        "rel_weighted_avg": """
            SELECT l_suppkey,
                   round(sum(l_extendedprice * (1 - l_discount) * l_quantity)
                         / sum(l_quantity), 4) AS w_avg
            FROM lineitem GROUP BY l_suppkey""",

        "rel_geomean": """
            SELECT l_returnflag, round(exp(avg(ln(1.0 + l_discount))), 9) AS geo_mean
            FROM lineitem GROUP BY l_returnflag""",

        "rel_window_lead": """
            SELECT user_id, event_id, gap_ms FROM (
              SELECT user_id, event_id,
                     lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       - epoch_ms(ts) AS gap_ms
              FROM events) WHERE gap_ms IS NOT NULL""",

        "rel_dup_detect": """
            SELECT user_id, event_id FROM (
              SELECT user_id, event_id, value,
                     lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v
              FROM events) WHERE value = prev_v""",

        "rel_multi_edge": """
            SELECT user_id, event_type, count(*) AS n FROM events
            GROUP BY user_id, event_type HAVING count(*) > 1""",

        "rel_combine_chains": """
            WITH base AS (
              SELECT CAST(user_id AS BIGINT) AS way_id, 1 AS dir,
                     CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS ord,
                     CAST(user_id AS BIGINT) * 100000
                       + (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) AS src,
                     CAST(event_id AS BIGINT) AS event_id
              FROM events),
            edges AS (
              SELECT way_id, dir, ord, src AS eid, src, src + 1 AS dst,
                     (event_id % 50 + 1) AS dist
              FROM base
              UNION ALL
              SELECT event_id + 1000000, dir, CAST(0 AS BIGINT),
                     500000000 + event_id, src + 1, 900000000 + event_id,
                     CAST(7 AS BIGINT)
              FROM base WHERE event_id % 11 = 0),
            deg AS (
              SELECT nid, sum(ind) AS indeg, sum(outd) AS outdeg FROM (
                SELECT dst AS nid, 1 AS ind, 0 AS outd FROM edges
                UNION ALL SELECT src AS nid, 0 AS ind, 1 AS outd FROM edges)
              GROUP BY nid),
            aux AS (SELECT nid FROM deg WHERE indeg = 1 AND outdeg = 1),
            m AS (
              SELECT e.*,
                     CASE WHEN a.nid IS NOT NULL AND e.ord > 0
                               AND lag(e.ord) OVER (PARTITION BY e.way_id, e.dir ORDER BY e.ord) = e.ord - 1
                          THEN 0 ELSE 1 END AS brk
              FROM edges e LEFT JOIN aux a ON e.src = a.nid),
            g AS (
              SELECT *, sum(brk) OVER (PARTITION BY way_id, dir ORDER BY ord) AS grp
              FROM m)
            SELECT way_id, dir,
                   arg_min(eid, ord) AS eid, arg_min(src, ord) AS src,
                   arg_max(dst, ord) AS dst, min(ord) AS "order",
                   CAST(sum(dist) AS BIGINT) AS dist,
                   count(*) AS n_merged,
                   array_to_string(list_append(list(src ORDER BY ord), arg_max(dst, ord)), ',') AS wp
            FROM g GROUP BY way_id, dir, grp""",

        "text_stats": f"""
            SELECT doc_id,
                   CAST(length(text) AS INT) AS n_chars,
                   CAST(len(string_split({_NORM}, ' ')) AS INT) AS n_tokens_ws,
                   CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INT) AS n_tokens_re
            FROM documents""",

        "text_lang_id": f"""
            SELECT doc_id, round(s_en, 6) AS score_en_r, {lang_case} AS lang_pred FROM (
              SELECT doc_id,
                     {_stop_score('en')} AS s_en, {_stop_score('de')} AS s_de,
                     {_stop_score('fr')} AS s_fr, {_stop_score('es')} AS s_es
              FROM documents)""",

        "text_fingerprint": f"SELECT doc_id, md5({_NORM}) AS fp_md5 FROM documents",

        "dedup_exact": f"""
            SELECT min(doc_id) AS doc_id, count(*) AS n_dups
            FROM documents GROUP BY md5({_NORM})""",

        "dedup_jaccard": f"""
            WITH toks AS (
              SELECT doc_id AS id, list_distinct(string_split({_NORM}, ' ')) AS t
              FROM documents WHERE doc_id < 60)
            SELECT l.id AS a, r.id AS b,
                   round(CAST(len(list_intersect(l.t, r.t)) AS DOUBLE)
                         / CAST(len(l.t) + len(r.t) - len(list_intersect(l.t, r.t)) AS DOUBLE), 6) AS jaccard_r
            FROM toks l JOIN toks r ON l.id < r.id
            WHERE round(CAST(len(list_intersect(l.t, r.t)) AS DOUBLE)
                  / CAST(len(l.t) + len(r.t) - len(list_intersect(l.t, r.t)) AS DOUBLE), 6) >= 0.3""",

        "sim_cosine_topk": """
            WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.q_id, c.vec_id AS c_id,
                     list_cosine_similarity(q.qv, CAST(c.embedding AS DOUBLE[])) AS cosine
              FROM embeddings c CROSS JOIN q WHERE c.vec_id != q.q_id),
            ranked AS (
              SELECT q_id, c_id, cosine,
                     CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS INT) AS rank
              FROM scored)
            SELECT q_id, c_id, rank, round(cosine, 6) AS cos_r FROM ranked WHERE rank <= 5""",

        # the grid network's shortest paths have a closed form: every edge
        # is 250 m and both directions exist, so cost = 250 * manhattan
        # grid distance and path_len = the step count (0 for o == d)
        "geo_sp_table": f"""
            WITH o AS (SELECT CAST(range AS BIGINT) AS nid FROM range({D.G * D.G})),
                 d AS (SELECT CAST(range AS BIGINT) AS nid FROM range(5))
            SELECT o.nid AS o_node, d.nid AS d_node,
                   round({D.S!r} * (abs(o.nid % {D.G} - d.nid % {D.G})
                                    + abs(o.nid // {D.G} - d.nid // {D.G})), 6) AS cost_r,
                   CAST(abs(o.nid % {D.G} - d.nid % {D.G})
                        + abs(o.nid // {D.G} - d.nid // {D.G}) AS INT) AS path_len
            FROM o CROSS JOIN d""",

        # blocked near-dup twin: the banded candidate set is reproduced
        # BITWISE (deterministic Rademacher planes, sequential-fold
        # projections == np.add.accumulate), then the exact cosine verify
        # uses the engine's own fold order — identical pair set by
        # construction, no all-pairs scan semantics anywhere
        "sim_neardup": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            bandv AS (
              SELECT e.vec_id, b.b AS band, {_bandv_sql('e.v', 'b.b')} AS bv
              FROM e, (SELECT unnest(range(4)) AS b) b),
            capped AS (
              SELECT * FROM (
                SELECT vec_id, band, bv,
                       COUNT(*) OVER (PARTITION BY band, bv) AS nb
                FROM bandv) WHERE nb <= 200),
            pairs AS (
              SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
              FROM capped l JOIN capped r
                ON l.band = r.band AND l.bv = r.bv AND l.vec_id < r.vec_id),
            ver AS (
              SELECT p.a, p.b, {_cos_sql('ea.v', 'eb.v')} AS cosine
              FROM pairs p
              JOIN e ea ON ea.vec_id = p.a
              JOIN e eb ON eb.vec_id = p.b)
            SELECT a AS a_id, b AS b_id, round(cosine, 6) AS cos_r
            FROM ver WHERE cosine >= 0.4""",

        # strict sign-LSH twin: signatures bitwise via the Rademacher
        # closed form; re-rank cosine in the engine's fold order; ties
        # (bitwise-equal cosines) broken by c_id in both engines
        "sim_lsh": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            cb AS (
              SELECT e.vec_id, b.b AS band, {_bandv_sql('e.v', 'b.b')} AS bv
              FROM e, (SELECT unnest(range(4)) AS b) b),
            qb AS (SELECT * FROM cb WHERE vec_id < 5),
            cand AS (
              SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
              FROM qb q JOIN cb c
                ON q.band = c.band AND q.bv = c.bv AND q.vec_id <> c.vec_id),
            scored AS (
              SELECT cand.q_id, cand.c_id, {_cos_sql('eq.v', 'ec.v')} AS cosine
              FROM cand
              JOIN e eq ON eq.vec_id = cand.q_id
              JOIN e ec ON ec.vec_id = cand.c_id),
            ranked AS (
              SELECT q_id, c_id, cosine,
                     CAST(row_number() OVER (PARTITION BY q_id
                          ORDER BY cosine DESC, c_id ASC) AS INT) AS rank
              FROM scored)
            SELECT q_id, c_id, rank, round(cosine, 6) AS cos_r
            FROM ranked WHERE rank <= 5""",

        # strict IVF twin: coarse quantizer = first 8 vectors by id,
        # assignment = row_number over (sequential-fold sq-distance,
        # centroid) — the engine's stable argsort tie rule; corpus probes
        # 1 list, queries probe 4; exact cosine re-rank as in sim_lsh
        "sim_ivf": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            cent AS (
              SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
              FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
            cd AS (
              SELECT e.vec_id, c.cid, {_sqdist_sql('e.v', 'c.v')} AS dist
              FROM e CROSS JOIN cent c),
            ranked_assign AS (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                          ORDER BY dist ASC, cid ASC) AS rn
              FROM cd),
            cassign AS (SELECT vec_id, cid FROM ranked_assign WHERE rn = 1),
            qassign AS (SELECT vec_id, cid FROM ranked_assign
                        WHERE rn <= 4 AND vec_id < 5),
            cand AS (
              SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
              FROM qassign q JOIN cassign c
                ON q.cid = c.cid AND q.vec_id <> c.vec_id),
            scored AS (
              SELECT cand.q_id, cand.c_id, {_cos_sql('eq.v', 'ec.v')} AS cosine
              FROM cand
              JOIN e eq ON eq.vec_id = cand.q_id
              JOIN e ec ON ec.vec_id = cand.c_id),
            ranked AS (
              SELECT q_id, c_id, cosine,
                     CAST(row_number() OVER (PARTITION BY q_id
                          ORDER BY cosine DESC, c_id ASC) AS INT) AS rank
              FROM scored)
            SELECT q_id, c_id, rank, round(cosine, 6) AS cos_r
            FROM ranked WHERE rank <= 5""",

        "sim_dot_pairs": """
            SELECT a.vec_id AS a_id,
                   round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS dot_r
            FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
            WHERE a.vec_id < 20""",

        # resample (geo/ops/resample.py:9-45): consecutive-dup drop, window
        # cumsum of segment lengths, samples at i*step (numpy arange count
        # = ceil(total/step)), linear interpolation in np.interp's exact
        # op order (slope first), plus the kept last vertex
        "geo_resample": f"""WITH {pts},
            d0 AS (
              SELECT url, pid, x, y,
                     lag(x) OVER w AS px, lag(y) OVER w AS py
              FROM points WINDOW w AS (PARTITION BY url ORDER BY pid)),
            ded AS (
              SELECT url, pid, x, y FROM d0
              WHERE px IS NULL OR x <> px OR y <> py),
            d1 AS (
              SELECT url, pid, x, y,
                     lag(x) OVER w AS px, lag(y) OVER w AS py
              FROM ded WINDOW w AS (PARTITION BY url ORDER BY pid)),
            c AS (
              SELECT url, pid, x, y,
                     sum(CASE WHEN px IS NULL THEN 0.0
                              ELSE sqrt((x - px) * (x - px) + (y - py) * (y - py)) END)
                       OVER (PARTITION BY url ORDER BY pid
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM d1),
            tot AS (
              SELECT url, max(cum) AS total, count(*) AS n,
                     max_by(x, pid) AS lx, max_by(y, pid) AS ly
              FROM c GROUP BY url),
            samp AS (
              SELECT url, unnest(range(CAST(ceil(total / {RSTEP}) AS BIGINT))) AS seq
              FROM tot WHERE n > 1),
            seg AS (
              SELECT url, x AS x1, y AS y1, cum AS c1,
                     lag(x) OVER w AS x0, lag(y) OVER w AS y0,
                     lag(cum) OVER w AS c0
              FROM c WINDOW w AS (PARTITION BY url ORDER BY pid)),
            interp AS (
              SELECT s.url, s.seq,
                     ((g.x1 - g.x0) / (g.c1 - g.c0))
                       * (CAST(s.seq AS DOUBLE) * {RSTEP} - g.c0) + g.x0 AS x,
                     ((g.y1 - g.y0) / (g.c1 - g.c0))
                       * (CAST(s.seq AS DOUBLE) * {RSTEP} - g.c0) + g.y0 AS y
              FROM samp s JOIN seg g
                ON s.url = g.url AND g.c0 IS NOT NULL
               AND CAST(s.seq AS DOUBLE) * {RSTEP} >= g.c0
               AND CAST(s.seq AS DOUBLE) * {RSTEP} < g.c1)
            SELECT url, seq, round(x, 6) AS x_r, round(y, 6) AS y_r FROM interp
            UNION ALL
            SELECT url, CAST(ceil(total / {RSTEP}) AS BIGINT) AS seq,
                   round(lx, 6) AS x_r, round(ly, 6) AS y_r
            FROM tot WHERE n > 1
            UNION ALL
            SELECT c.url, CAST(0 AS BIGINT) AS seq,
                   round(c.x, 6) AS x_r, round(c.y, 6) AS y_r
            FROM c JOIN tot USING (url) WHERE tot.n = 1""",

        # matched-path geometry over the CLEAN snake subset (no wrap, no
        # node-boundary endpoints): the engine runs the real match +
        # transform_res_2_path; the oracle recomputes the expected rows
        # from the snake route's closed form — edge k = s // 250 along the
        # snake, eid/geometry/cut fractions all integer-exact (see
        # _clean_snake_urls)
        "match_path_geom": f"""WITH {pts},
            st AS (
              SELECT url,
                     CAST(str_split(url, '_')[2] AS BIGINT) AS uid,
                     CAST(max(pid) AS BIGINT) AS maxp
              FROM points GROUP BY url),
            rng AS (
              SELECT url,
                     (uid * {D.A_USER}) % {int(D.SNAKE_LEN)} AS s0,
                     (uid * {D.A_USER}) % {int(D.SNAKE_LEN)}
                       + maxp * {int(D.STEP_M)} AS s1
              FROM st),
            clean AS (
              SELECT url, s0, s1, s0 // {int(D.S)} AS k0, s1 // {int(D.S)} AS k1
              FROM rng
              WHERE s1 < {int(D.SNAKE_LEN)}
                AND s0 % {int(D.S)} BETWEEN {PATH_MARGIN} AND {int(D.S) - PATH_MARGIN}
                AND s1 % {int(D.S)} BETWEEN {PATH_MARGIN} AND {int(D.S) - PATH_MARGIN}),
            kk AS (
              SELECT url, s0, s1, k0, k1,
                     unnest(range(k1 - k0 + 1)) AS seq
              FROM clean),
            ge AS (
              SELECT url, s0, s1, k0, k1, seq,
                     (k0 + seq) // 9 AS b, (k0 + seq) % 9 AS j
              FROM kk),
            pe AS (
              SELECT url, seq, k1 - k0 AS m1,
                     CAST(s0 % {int(D.S)} AS DOUBLE) / {D.S!r} AS f0,
                     CAST(s1 % {int(D.S)} AS DOUBLE) / {D.S!r} AS f1,
                     CAST(CASE WHEN j = 8 THEN {D.G * (D.G - 1)}
                                    + (CASE WHEN b % 2 = 0 THEN {(D.G - 1) * (D.G - 1)} ELSE 0 END) + b
                               WHEN b % 2 = 0 THEN b * {D.G - 1} + j
                               ELSE {D.N_ONEWAY} + b * {D.G - 1} + ({D.G - 2} - j) END AS BIGINT) AS eid,
                     CASE WHEN j = 8 THEN CASE WHEN b % 2 = 0 THEN {-D.X0!r} ELSE {D.X0!r} END
                          WHEN b % 2 = 0 THEN {D.X0!r} + j * {D.S!r}
                          ELSE {-D.X0!r} - j * {D.S!r} END AS gx0,
                     {D.X0!r} + b * {D.S!r} AS gy0,
                     CASE WHEN j = 8 THEN CASE WHEN b % 2 = 0 THEN {-D.X0!r} ELSE {D.X0!r} END
                          WHEN b % 2 = 0 THEN {D.X0!r} + (j + 1) * {D.S!r}
                          ELSE {-D.X0!r} - (j + 1) * {D.S!r} END AS gx1,
                     CASE WHEN j = 8 THEN {D.X0!r} + (b + 1) * {D.S!r}
                          ELSE {D.X0!r} + b * {D.S!r} END AS gy1
              FROM ge)
            SELECT url, CAST(seq AS INT) AS seq, eid,
                   round(CASE WHEN m1 = 0 THEN {D.S!r} * abs(f1 - f0)
                              WHEN seq = 0 THEN {D.S!r} * (1.0 - f0)
                              WHEN seq = m1 THEN {D.S!r} * f1
                              ELSE {D.S!r} END, 1) AS dist_r,
                   round(CASE WHEN seq = 0 OR m1 = 0
                              THEN ((gx1 - gx0) / {D.S!r}) * (f0 * {D.S!r}) + gx0
                              ELSE gx0 END, 1) AS x0_r,
                   round(CASE WHEN seq = m1
                              THEN ((gy1 - gy0) / {D.S!r}) * (f1 * {D.S!r}) + gy0
                              ELSE gy1 END, 1) AS y1_r
            FROM pe""",

        # closed-form twin of the OSM ETL fixture (q_osm_network docstring):
        # even ways combine to one edge (5 merged segments), odd ways add
        # reverse twins, way 1 splits at the signal node 12; haversine
        # re-derived per segment (trig ulp differences vanish at 3 dp)
        "osm_network": """
            WITH seg AS (
              SELECT w.w AS w, i.i AS i,
                     2 * 6371008.8 * asin(sqrt(
                       cos(radians(22.5 + w.w * 0.001))
                       * cos(radians(22.5 + w.w * 0.001))
                       * pow(sin((radians(114.0 + (i.i + 1) * 0.001)
                                  - radians(114.0 + i.i * 0.001)) / 2), 2)
                     )) AS d
              FROM (SELECT unnest(range(8)) AS w) w,
                   (SELECT unnest(range(5)) AS i) i
            ),
            ds AS (  -- dist of way w's segments [i0, i1)
              SELECT w, SUM(d) AS full_d,
                     SUM(CASE WHEN i < 2 THEN d END) AS head_d,
                     SUM(CASE WHEN i >= 2 THEN d END) AS tail_d
              FROM seg GROUP BY w
            ),
            wp AS (
              SELECT w, array_to_string(list_transform(range(0, 6),
                        j -> CAST(w * 10 + j AS VARCHAR)), ',') AS fwd,
                     array_to_string(list_transform(range(0, 6),
                        j -> CAST(w * 10 + 5 - j AS VARCHAR)), ',') AS rev
              FROM (SELECT unnest(range(8)) AS w)
            ),
            e AS (
              -- even ways: one combined oneway edge
              SELECT d.w AS way_id, 1 AS dir, 0 AS ord, d.w*10 AS src,
                     d.w*10+5 AS dst, 5 AS n_merged, d.full_d AS dist,
                     80/3.6 AS speed, wp.fwd AS wp_s
              FROM ds d JOIN wp USING (w) WHERE d.w % 2 = 0
              UNION ALL
              -- odd ways except 1: combined two-way edge + reverse twin
              SELECT d.w, 1, 0, d.w*10, d.w*10+5, 5, d.full_d, 30/3.6, wp.fwd
              FROM ds d JOIN wp USING (w) WHERE d.w % 2 = 1 AND d.w <> 1
              UNION ALL
              SELECT d.w, -1, -1, d.w*10+5, d.w*10, 5, d.full_d, 30/3.6, wp.rev
              FROM ds d JOIN wp USING (w) WHERE d.w % 2 = 1 AND d.w <> 1
              UNION ALL
              -- way 1 splits at signal node 12: (10-12), (12-15) + twins
              SELECT 1, 1, 0, 10, 12, 2, d.head_d, 30/3.6, '10,11,12'
              FROM ds d WHERE d.w = 1
              UNION ALL
              SELECT 1, 1, 2, 12, 15, 3, d.tail_d, 30/3.6, '12,13,14,15'
              FROM ds d WHERE d.w = 1
              UNION ALL
              SELECT 1, -1, -1, 12, 10, 2, d.head_d, 30/3.6, '12,11,10'
              FROM ds d WHERE d.w = 1
              UNION ALL
              SELECT 1, -1, -3, 15, 12, 3, d.tail_d, 30/3.6, '15,14,13,12'
              FROM ds d WHERE d.w = 1
            )
            SELECT CAST(row_number() OVER (ORDER BY way_id, dir, ord) - 1
                        AS BIGINT) AS eid,
                   CAST(way_id AS BIGINT) AS way_id, CAST(dir AS BIGINT) AS dir,
                   CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
                   CAST(n_merged AS BIGINT) AS n_merged,
                   round(dist, 3) AS dist_r, round(speed, 6) AS speed_r, wp_s
            FROM e""",

        # Douglas-Peucker as a recursive CTE: each iteration takes the
        # frontier of (s, e) intervals, finds the max-chord-distance point
        # (list_position returns the FIRST max — np.argmax semantics) and
        # splits when >= tolerance; kept pids = interval endpoints. The
        # chord distance uses sqrt(dx*dx+dy*dy) Heron exactly like the
        # kernel (IEEE-correctly-rounded ops only), so distances, ties and
        # threshold decisions agree bitwise. The keep-set dedup is an
        # explicit DISTINCT because DuckDB 1.0's UNION over two references
        # to a recursive CTE does not deduplicate (verified).
        "geo_simplify": f"""
            WITH RECURSIVE base AS (
              WITH {pts}
              SELECT url, pid,
                     (({D.LON0!r} + x / {D.MK!r}) - {D.LON0!r}) * {D.MK!r} AS x,
                     (({D.LAT0!r} + y / {M_PER_DEG!r}) - {D.LAT0!r}) * {M_PER_DEG!r} AS y
              FROM points
            ),
            tr AS (
              SELECT url, list(x ORDER BY pid) AS xs, list(y ORDER BY pid) AS ys,
                     count(*) AS n
              FROM base GROUP BY url
            ),
            iv(url, s, e) AS (
              SELECT url, 0, CAST(n - 1 AS BIGINT) FROM tr
              UNION ALL
              SELECT w.url, u.s2, u.e2
              FROM (
                SELECT d.url, d.s, d.e,
                       d.s + 1 + list_position(dl, list_max(dl)) - 1 AS k,
                       list_max(dl) AS dmax
                FROM (
                  SELECT i.url, i.s, i.e,
                         list_transform(range(i.s + 1, i.e),
                                        j -> {_chord_dist_sql()}) AS dl
                  FROM iv i JOIN tr t USING (url)
                  WHERE i.e - i.s >= 2
                ) d
              ) w, unnest([struct_pack(s2 := w.s, e2 := w.k),
                           struct_pack(s2 := w.k, e2 := w.e)]) AS t(u)
              WHERE w.dmax >= {CFG.tolerance!r}
            ),
            keep AS (
              SELECT DISTINCT url, pid FROM (
                SELECT url, s AS pid FROM iv
                UNION ALL SELECT url, e AS pid FROM iv)
            )
            SELECT k.url AS url,
                   CAST(row_number() OVER (PARTITION BY k.url ORDER BY k.pid) - 1
                        AS INT) AS pid,
                   round(b.x, 6) AS x_r, round(b.y, 6) AS y_r
            FROM keep k JOIN base b ON b.url = k.url AND b.pid = k.pid""",

        # FLAGSHIP twins: full render->extract->simplify->candidates->HMM->
        # Viterbi->stitch pipelines re-derived in DuckDB (beam + classic) —
        # see st_mapmatching_spark/oracle/match_sql.py for the float-parity
        # and tie-rule design notes
        "match_grid": _match_sql().match_grid_oracle_sql(),
        # the relational/planet path must produce the SAME rows — one twin
        "match_grid_bignet": _match_sql().match_grid_oracle_sql(),
        "match_grid_sharded": _match_sql().match_grid_oracle_sql(),
        # batch-vs-stream equality: urls are independent one-row pages, so
        # the streamed union must equal the batch table — same twin
        "stream_match": _match_sql().match_grid_oracle_sql(),
        "match_grid_classic": _match_sql().match_grid_classic_oracle_sql(),
        "eval_lcss": _match_sql().eval_lcss_oracle_sql(),
        "eval_edr": _match_sql().eval_edr_oracle_sql(),
        "eval_erp": _match_sql().eval_erp_oracle_sql(),
        "match_single_point": _match_sql().match_single_point_oracle_sql(),
        "match_bbox_outside": _match_sql().match_bbox_outside_oracle_sql(),
        "match_path_geom_wrap": _match_sql().match_path_geom_wrap_oracle_sql(PATH_MARGIN),

        # full MinHash-LSH twin in SQL: the engine's whole construction is
        # exact integer arithmetic by design (FNV-1a base hash, affine
        # universal family mod 2^31-1, base-2^31 band keys, 200-cap
        # buckets, exact gram-set jaccard) — reproduced verbatim
        "dedup_minhash": _dedup_minhash_sql(),

        # full SimHash twin in SQL: FNV-1a(64) per whitespace token via
        # list_reduce over char codes (ASCII text, so ord == utf-8 byte;
        # HUGEINT holds h*prime < 2^105 exactly), per-bit majority vote,
        # then brute-force hamming<=3 pairs — the engine's 16-bit-chunk
        # blocking is exact for hamming<=3 (pigeonhole), so the oracle's
        # all-pairs scan returns the identical pair set
        "dedup_simhash": _SIMHASH_PAIRS_SQL,

        # connected components over the simhash pair graph: the engine runs
        # alternating large-star/small-star rounds (O(log^2 n) shuffles,
        # diameter-independent); the oracle computes the same fixpoint as a
        # recursive-CTE transitive closure + min — identical (id, component)
        # labels even though the algorithms share nothing
        "dedup_cluster": (
            "WITH RECURSIVE pairs AS (" + _SIMHASH_PAIRS_SQL + "),\n"
            """edges AS (
              SELECT a AS u, b AS v FROM pairs
              UNION SELECT b AS u, a AS v FROM pairs
            ),
            reach(id, r) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
            )
            SELECT id, MIN(r) AS component FROM reach GROUP BY id"""),


        # documents text is ASCII (verified: max char code 121), so ord()
        # per char == utf-8 byte; the engine's prefix-sum byte mean is an
        # exact integer ratio, as is list_avg — hash-exact at 6 dp
        "mm_features": """
            SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS url,
                   CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                   round(list_avg(list_transform(string_split(text, ''),
                                                 x -> ord(x))), 6) AS mean_r
            FROM documents""",
    }
