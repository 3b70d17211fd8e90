"""Interleaved A/B for the round-14 OPTIMIZATION changes.

Each pair runs the OLD formulation (inlined here verbatim from the
pre-optimization HEAD) against the NEW shipped module code, interleaved
ABAB-style with min-of-N per variant, noop sink, clear_state between
runs, and loadavg + whole-run /proc/stat steal recorded — the
BASELINE.md r5-bisect discipline, so a steal burst hits both variants
alike instead of whichever ran second.

Pairs (old → new):
  pagerank   trade_pagerank: unconditional per-round dangling aggregate
             → zero-dangling probe skips it (bit-exact on this graph)
  hits       trade_hits: two localCheckpoints per round → one
  triangles  supplier_cotrade_triangles: no materialization (os_/pairs/
             e/oriented re-derived per consumer) → 4 narrow checkpoints
  dsir       dsir_importance_weights: ng derived twice → one
             (doc,lang,bucket) pre-agg checkpoint
  spans      repeated_ngram_spans: two full window-string passes → one
             narrow (doc,pos,h) pass + candidate-only string rebuild
  sentstats  dup_sentence_stats: sentence pipeline derived twice → one
             16-byte/instance checkpoint
  exactspan  exact_span_dedup: shingle frame derived twice → one
             24-byte/row checkpoint

Usage: python tools/ab_r14opt.py [sf_dir] [reps] [pair ...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import read_proc_stat  # noqa: E402
from movie_data_pipeline_spark.session import (  # noqa: E402
    clear_state,
    get_spark,
    shuffle_parallelism,
)

# ---------------------------------------------------------------------------
# OLD formulations (verbatim from pre-optimization HEAD, trimmed of
# docstrings). They operate on the same memoized trade-pairs parquet /
# the same tables as the shipped entries, so the only difference under
# measurement is the execution structure.
# ---------------------------------------------------------------------------


def _pagerank_old(edges, damping=0.85, n_iter=10, weight=None, ckpt_every=2):
    w_col = (F.col(weight).cast("double") if weight else F.lit(1.0)).alias("w")
    npart = shuffle_parallelism(edges.sparkSession)
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            w_col,
        )
        .filter(F.col("w") > 0)
        .repartition(npart, "src")
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.sum("w").alias("deg"))
    base = nodes.join(out_deg, nodes.node == out_deg.src, "left").select(
        "node", "deg"
    ).localCheckpoint()
    n_nodes = base.count()
    ranks = base.select("node", F.lit(1.0).alias("rank"), "deg")
    for it in range(n_iter):
        dangling = ranks.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        contrib = (
            ranks.join(e, ranks.node == e.src)
            .select("dst", (F.col("rank") * F.col("w") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            base.join(contrib, base.node == contrib.dst, "left")
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dmass") / F.lit(float(n_nodes))
                    )
                ).alias("rank"),
                "deg",
            )
        )
        if it % ckpt_every == ckpt_every - 1 or it == n_iter - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", "rank")


def _hits_old(edges, n_iter=10, normalize_every=10):
    sess = edges.sparkSession
    npart = shuffle_parallelism(sess)
    e_by_src = (
        edges.select(F.col("src"), F.col("dst"))
        .distinct()
        .repartition(npart, "src")
        .localCheckpoint()
    )
    e_by_dst = e_by_src.repartition(npart, "dst").localCheckpoint()
    nodes = (
        e_by_src.select(F.col("src").alias("node"))
        .union(e_by_src.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = nodes.select("node", F.lit(1.0).alias("authority"))

    def _l2(df, col):
        norm = df.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_n"))
        return df.crossJoin(F.broadcast(norm)).select(
            "node", (F.col(col) / F.col("_n")).alias(col)
        )

    for i in range(n_iter):
        do_norm = ((i + 1) % normalize_every == 0) or (i == n_iter - 1)
        auth = (
            e_by_src.join(hub, e_by_src.src == hub.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("authority"))
        )
        if do_norm:
            auth = _l2(auth, "authority")
        auth = auth.localCheckpoint()
        hub = (
            e_by_dst.join(auth, e_by_dst.dst == auth.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("hub"))
        )
        if do_norm:
            hub = _l2(hub, "hub")
        hub = hub.localCheckpoint()
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )


def _triangle_count_old(edges):
    e = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        e.join(deg.select(F.col("n").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("deg").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(y, F.col("x.a") == F.col("y.a")).filter(
        (F.col("x.db") < F.col("y.db"))
        | ((F.col("x.db") == F.col("y.db")) & (F.col("x.b") < F.col("y.b")))
    ).select(F.col("x.b").alias("wa"), F.col("y.b").alias("wb"))
    closed = wedges.join(
        oriented.select(F.col("a").alias("wa"), F.col("b").alias("wb")),
        ["wa", "wb"],
        "left_semi",
    )
    n_tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        n_nodes.crossJoin(n_edges).crossJoin(n_tri)
        .select("n_nodes", "n_edges", "n_triangles")
    )


def _triangles_old(spark, sf):
    from movie_data_pipeline_spark.sources.catalog import load_table

    li = load_table(spark, sf, "lineitem")
    os_ = li.select("l_orderkey", "l_suppkey").distinct()
    a, b = os_.alias("a"), os_.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(F.col("a.l_suppkey").alias("sa"), F.col("b.l_suppkey").alias("sb"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    mx = pairs.agg(F.max("w").alias("max_w"))
    edges = (
        pairs.crossJoin(F.broadcast(mx))
        .filter(F.col("w") >= 0.5 * F.col("max_w"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
    )
    return _triangle_count_old(edges)


def _dsir_old(spark, sf):
    from movie_data_pipeline_spark.plans.analytics_ext6 import (
        _BUCKET_EXPR,
        _DSIR_B,
    )
    from movie_data_pipeline_spark.plans.helpers import dec_sum
    from movie_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf, "documents")
    tkc = F.split(F.col("text"), " ")
    ng = (
        docs.select("doc_id", "lang", tkc.alias("tk"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "concat(tk, CASE WHEN size(tk) >= 2 THEN "
                    "transform(sequence(1, size(tk) - 1), "
                    "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1))) "
                    "ELSE array() END)"
                )
            ).alias("ngram"),
        )
        .withColumn("bucket", F.expr(_BUCKET_EXPR))
    )
    per = ng.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("n"))
    cnt = ng.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("ct"),
    )
    tot = cnt.agg(F.sum("cr").alias("tr_tot"), F.sum("ct").alias("tt_tot"))
    lr = (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                F.log(
                    ((F.col("ct") + F.lit(1.0)) * (F.col("tr_tot") + F.lit(_DSIR_B)).cast("double"))
                    / ((F.col("cr") + F.lit(1.0)) * (F.col("tt_tot") + F.lit(_DSIR_B)).cast("double"))
                ),
                6,
            ).alias("lr"),
        )
    )
    return (
        per.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_ngrams"),
            F.round(
                dec_sum(
                    F.col("n").cast("decimal(18,0)") * F.col("lr").cast("decimal(18,6)"), 6
                ).cast("double"),
                6,
            ).alias("dsir_logratio"),
        )
        .sortWithinPartitions("doc_id")
    )


def _spans_old(spark, sf):
    from pyspark.sql.window import Window

    from movie_data_pipeline_spark.plans.analytics_ext6 import _SPAN_L
    from movie_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf, "documents")
    tkc = F.split(F.col("text"), " ")
    w = (
        docs.select(F.col("doc_id"), tkc.alias("tk"))
        .filter(F.size("tk") >= _SPAN_L)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(tk) - {_SPAN_L - 1}), "
                    f"p -> struct(p AS pos, "
                    f"array_join(slice(tk, p, {_SPAN_L}), ' ') AS win))"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.win").alias("win"))
        .withColumn("h", F.xxhash64("win"))
    )
    hot = w.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") >= 2
    ).select("h")
    cand = w.join(hot, "h", "left_semi").localCheckpoint()
    dup_win = (
        cand.groupBy("win").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("win")
    )
    pos = cand.join(dup_win, "win", "left_semi").select("doc_id", "pos")
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    grouped = (
        pos.withColumn(
            "brk",
            F.when(
                F.col("pos") - F.lag("pos").over(by_doc) <= _SPAN_L, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn("isl", F.sum("brk").over(by_doc))
    )
    return grouped.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("start_tok"),
        (F.max("pos") + F.lit(_SPAN_L - 1)).alias("end_tok"),
        (F.max("pos") + F.lit(_SPAN_L) - F.min("pos")).alias("span_toks"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select("doc_id", "start_tok", "end_tok", "span_toks", "n_windows").orderBy(
        "doc_id", "start_tok"
    )


def _sentstats_old(spark, sf):
    from movie_data_pipeline_spark.plans.analytics_ext19 import sentence_keys
    from movie_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf, "documents")
    keyed = sentence_keys(docs)
    sent_docs = keyed.groupBy("k").agg(F.countDistinct("doc_id").alias("nd"))
    per_doc = (
        keyed.join(sent_docs, "k")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_sentences", F.lit(0)).cast("long").alias("n_sentences"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_sentences"),
            F.when(F.coalesce("n_sentences", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(F.col("n_dup").cast("double") / F.col("n_sentences"), 6)
            )
            .alias("dup_sentence_frac"),
        )
        .sortWithinPartitions("doc_id")
    )


def _exactspan_old(spark, sf):
    from pyspark.sql.window import Window

    from movie_data_pipeline_spark.plans.analytics_ext20 import (
        _FOOTER_SPAN,
        _HEADER_SPAN,
        _SPAN_K,
    )
    from movie_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf, "documents")
    t = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit(_HEADER_SPAN + " ")).otherwise(F.lit("")),
        F.trim(F.col("text")),
        F.when(F.col("doc_id") % 4 != 2, F.lit(" " + _FOOTER_SPAN)).otherwise(F.lit("")),
    )
    sized = docs.select(
        "doc_id", F.split(F.trim(t), r"[ \t\r\n]+").alias("tk")
    ).select("doc_id", F.size("tk").alias("n_tokens"), "tk")
    sh = (
        sized.filter(F.col("n_tokens") >= _SPAN_K)
        .select(
            "doc_id",
            "tk",
            F.explode(F.sequence(F.lit(0), F.col("n_tokens") - _SPAN_K)).alias("gs"),
        )
        .select(
            "doc_id",
            "gs",
            F.xxhash64(
                F.array_join(F.slice("tk", F.col("gs") + 1, F.lit(_SPAN_K)), " ")
            ).alias("k"),
        )
    )
    occ = sh.groupBy("k").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= 2)
    dup = sh.join(occ.select("k"), "k").select("doc_id", "gs")
    w = Window.partitionBy("doc_id").orderBy("gs")
    run = Window.partitionBy("doc_id").orderBy("gs").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    isl = (
        dup.withColumn("prev", F.lag("gs").over(w))
        .withColumn(
            "island",
            F.sum(
                F.when(
                    F.col("prev").isNull() | (F.col("gs") - F.col("prev") > _SPAN_K),
                    1,
                ).otherwise(0)
            ).over(run),
        )
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("gs").alias("s0"), (F.max("gs") + F.lit(_SPAN_K - 1)).alias("s1")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("s1") - F.col("s0") + 1).alias("dup_tokens"),
    )
    return (
        sized.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce(F.col("dup_tokens").cast("double") / F.col("n_tokens"), F.lit(0.0)),
                6,
            ).alias("dup_token_frac"),
        )
        .sortWithinPartitions("doc_id")
    )


def _ppr_old(edges, sources, damping=0.85, n_iter=10, ckpt_every=2):
    npart = shuffle_parallelism(edges.sparkSession)
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            F.lit(1.0).alias("w"),
        )
        .filter(F.col("w") > 0)
        .repartition(npart, "src")
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.sum("w").alias("deg"))
    s = sources.select(
        F.col(sources.columns[0]).cast("long").alias("node")
    ).distinct()
    base = (
        nodes.join(out_deg, nodes.node == out_deg.src, "left")
        .join(s.withColumn("_is_src", F.lit(True)), "node", "left")
        .select("node", "deg", F.coalesce("_is_src", F.lit(False)).alias("is_src"))
        .localCheckpoint()
    )
    n_src = base.filter("is_src").count()
    tele = F.when(F.col("is_src"), F.lit(1.0 / n_src)).otherwise(F.lit(0.0))
    ranks = base.select("node", tele.alias("rank"), "deg", "is_src")
    for it in range(n_iter):
        dangling = ranks.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        contrib = (
            ranks.join(e, ranks.node == e.src)
            .select("dst", (F.col("rank") * F.col("w") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            base.join(contrib, base.node == contrib.dst, "left")
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * tele
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dmass") * tele
                    )
                ).alias("rank"),
                "deg",
                "is_src",
            )
        )
        if it % ckpt_every == ckpt_every - 1 or it == n_iter - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", "rank")


def _kcore_old(edges, k):
    npart = shuffle_parallelism(edges.sparkSession)
    e = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = (
        e.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(e.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .repartition(npart, "node")
        .localCheckpoint()
    )
    n_nodes = adj.select("node").distinct().count()
    while True:
        deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("core_degree"))
        keep = deg.filter(F.col("core_degree") >= k).select("node")
        n_keep = keep.count()
        if n_keep == n_nodes:
            break
        n_nodes = n_keep
        adj = (
            adj.join(keep, "node", "left_semi")
            .join(keep.select(F.col("node").alias("nbr")), "nbr", "left_semi")
            .repartition(npart, "node")
            .localCheckpoint()
        )
        if n_keep == 0:
            break
    return (
        adj.groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .filter(F.col("core_degree") >= k)
    )


def _bfs_old(edges, seeds, max_hops):
    spark = edges.sparkSession
    npart = shuffle_parallelism(spark)
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .repartition(npart, "src")
        .localCheckpoint()
    )
    visited = (
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint()
    )
    frontier = visited.select("node")
    for k in range(1, max_hops + 1):
        nbrs = (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            nbrs.join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(k))
            .localCheckpoint()
        )
        visited = visited.unionAll(new).localCheckpoint()
        frontier = new.select("node")
    return visited


# ---------------------------------------------------------------------------
# NEW variants: the shipped registry entries / operators.
# ---------------------------------------------------------------------------


def _pairs(name):
    def old(spark, sf):
        from movie_data_pipeline_spark.plans import graphs as G

        if name == "pagerank":
            return _pagerank_old(G._trade_edges(spark, sf)).sortWithinPartitions("node")
        if name == "hits":
            p = G._trade_pairs(spark, sf)
            return _hits_old(
                p.select(F.col("cust").alias("src"), F.col("supp").alias("dst"))
            ).sortWithinPartitions("node")
        if name == "triangles":
            return _triangles_old(spark, sf)
        if name == "dsir":
            return _dsir_old(spark, sf)
        if name == "spans":
            return _spans_old(spark, sf)
        if name == "sentstats":
            return _sentstats_old(spark, sf)
        if name == "exactspan":
            return _exactspan_old(spark, sf)
        if name == "ppr":
            from movie_data_pipeline_spark.sources.catalog import load_table

            cust = load_table(spark, sf, "customer")
            sources = cust.filter(F.col("c_nationkey") == 0).select(
                F.col("c_custkey").alias("node")
            )
            return _ppr_old(
                G._trade_edges(spark, sf), sources
            ).sortWithinPartitions("node")
        if name == "kcore":
            return _kcore_old(
                G._trade_edges(spark, sf), k=8
            ).sortWithinPartitions("node")
        if name == "bfs":
            from movie_data_pipeline_spark.sources.catalog import load_table

            seeds = (
                load_table(spark, sf, "supplier")
                .agg((-F.min("s_suppkey")).alias("node"))
            )
            return (
                _bfs_old(G._trade_edges(spark, sf), seeds, max_hops=3)
                .select(
                    F.col("node").cast("long").alias("node"),
                    F.col("hops").cast("int").alias("hops"),
                )
                .sortWithinPartitions("node")
            )
        raise KeyError(name)

    def new(spark, sf):
        from movie_data_pipeline_spark.plans.analytics import QUERIES

        entry = {
            "pagerank": "trade_pagerank",
            "hits": "trade_hits",
            "triangles": "supplier_cotrade_triangles",
            "dsir": "dsir_importance_weights",
            "spans": "repeated_ngram_spans",
            "sentstats": "dup_sentence_stats",
            "exactspan": "exact_span_dedup",
            "ppr": "trade_ppr_nation0",
            "kcore": "trade_kcore",
            "bfs": "trade_bfs_hops",
        }[name]
        return QUERIES[entry][0](spark, sf)

    return old, new


ALL_PAIRS = ("pagerank", "hits", "triangles", "dsir", "spans", "sentstats", "exactspan")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    pair_names = sys.argv[3:] or list(ALL_PAIRS)
    load_start = round(os.getloadavg()[0], 2)
    steal0, busy0 = read_proc_stat()
    spark = get_spark("ab_r14opt")

    def run(builder):
        t0 = time.perf_counter()
        builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        clear_state(spark)
        return dt

    results = {}
    for name in pair_names:
        old_b, new_b = _pairs(name)
        # one untimed warm-up each (codegen, parquet footers)
        run(old_b)
        run(new_b)
        olds, news = [], []
        for _ in range(reps):
            olds.append(run(old_b))
            news.append(run(new_b))
        results[name] = {
            "old": [round(x, 3) for x in olds],
            "new": [round(x, 3) for x in news],
            "old_min": round(min(olds), 3),
            "new_min": round(min(news), 3),
            "ratio": round(min(news) / min(olds), 3),
        }
        print(f"{name}: old_min={min(olds):.3f}s new_min={min(news):.3f}s "
              f"ratio={min(news)/min(olds):.3f}", flush=True)

    steal1, busy1 = read_proc_stat()
    import json

    print(json.dumps({
        "sf_dir": sf_dir,
        "reps": reps,
        "load1_start": load_start,
        "load1_end": round(os.getloadavg()[0], 2),
        "steal_pct_busy": round((steal1 - steal0) / max(busy1 - busy0, 1) * 100, 2),
        "results": results,
    }, indent=1))


if __name__ == "__main__":
    main()
