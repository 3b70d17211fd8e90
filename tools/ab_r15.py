"""Interleaved A/B for the round-15 OPTIMIZATION changes.

Same methodology as tools/ab_r14opt.py (interleaved ABAB, min-of-N,
noop sink, clear_state between reps, loadavg + whole-run /proc/stat
steal recorded — a steal burst hits both variants alike), plus the
r14-ADVICE improvement: on the FIRST rep of every pair both variants'
outputs are collected and compared row-for-row, so the measurement
record itself proves the formulations compute the same values (before,
bit-exactness rested only on the separate oracle sweep).

Pairs (old → new):
  rfm       rfm_segments: three chained parallel_row_number calls
            (3 bounds jobs + 3 checkpoints + 3 stats collects + 3
            broadcast prefix joins + count crossJoin) → one fused
            parallel_multi_row_number round
  decile    price_decile_profile: single-rank ungrouped path, prefix
            via createDataFrame + broadcast join → dense array-literal
            prefix projection (no join)
  winsor    winsorized_price_stats: two scans of the projected fact
            → one scan compressed to the (flag, price, cnt) histogram,
            staged once, percentile with frequency arg
  rewrite   drop_dup_sentences_docs: corpus-sized TEXT localCheckpoint
            + text shuffled by k then by doc_id → 24-byte (doc_id,
            pos, k) stage, duplicate-only probe, text derived once at
            emit and shuffled once (guide §8)
  charlm    charlm_doc_scores PROTOTYPE (not shipped unless it wins):
            explode + hash-aggregate trigram counts → in-row sorted
            run-length count
  affinity  part_affinity_cosine EXPERIMENT (guide §2.5 two-level
            aggregation): groupBy(pk) → groupBy(pk, salt) + re-agg —
            expected to LOSE (map-side partials already bound hot
            keys); run to commit the measured rejection

Usage: python tools/ab_r15.py [sf_dir] [reps] [pair ...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from bench import read_proc_stat  # noqa: E402
from movie_data_pipeline_spark.session import (  # noqa: E402
    clear_state,
    get_spark,
)

# ---------------------------------------------------------------------------
# OLD formulations (verbatim structure from pre-r15 HEAD, trimmed of
# docstrings). Same inputs as the shipped entries; the only difference
# under measurement is the execution structure.
# ---------------------------------------------------------------------------


def _fwb_old(val, lo, hi, nbuckets):
    return F.least(
        F.floor(
            (val - lo)
            / F.greatest((hi - lo) / F.lit(float(nbuckets)), F.lit(1e-300))
        ).cast("int"),
        F.lit(nbuckets - 1),
    )


def _prn_old(df, value_col, tiebreaks, out_col="i", nbuckets=256):
    """Pre-r15 parallel_row_number, ungrouped no-hot path: bounds via
    crossJoin(broadcast), localCheckpoint, one driver stats collect,
    prefix via createDataFrame + broadcast JOIN (the r15 code replaces
    the join with a dense array-literal projection)."""
    spark = df.sparkSession
    bounds = df.groupBy().agg(
        F.min(value_col).cast("double").alias("_s0"),
        F.max(value_col).cast("double").alias("_s1"),
    )
    b = df.crossJoin(F.broadcast(bounds))
    val_d = F.col(value_col).cast("double")
    b = (
        b.withColumn(
            "_b",
            F.when(val_d.isNull(), F.lit(-1))
            .otherwise(_fwb_old(val_d, F.col("_s0"), F.col("_s1"), nbuckets))
            .cast("long"),
        )
        .drop("_s0", "_s1")
        .localCheckpoint()
    )
    rows = (
        b.groupBy("_b")
        .agg(
            F.count(F.lit(1)).alias("_bn"),
            F.min(val_d).alias("_v0"),
            F.max(val_d).alias("_v1"),
        )
        .collect()
    )
    acc, pfx = 0, []
    for r in sorted(rows, key=lambda r: r["_b"]):
        pfx.append((r["_b"], acc))
        acc += r["_bn"]
    prefix = spark.createDataFrame(pfx, "_b long, _pfx long")
    w = Window.partitionBy("_b").orderBy(value_col, *tiebreaks)
    return (
        b.withColumn("_rin", F.row_number().over(w))
        .join(F.broadcast(prefix), "_b")
        .withColumn(out_col, (F.col("_pfx") + F.col("_rin")).cast("long"))
        .drop("_b", "_rin", "_pfx")
    )


def _rfm_old(spark, sf):
    from movie_data_pipeline_spark.sources.catalog import load_table

    o = load_table(spark, sf, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate") * 10000
            + F.month("o_orderdate") * 100
            + F.dayofmonth("o_orderdate")
        ).alias("day"),
        F.col("o_totalprice").cast("decimal(30,2)").alias("price"),
    )
    rfm = o.groupBy("o_custkey").agg(
        F.max("day").alias("r"),
        F.count(F.lit(1)).alias("f"),
        F.sum("price").alias("m"),
    ).localCheckpoint()
    ranked = _prn_old(rfm, "r", ["o_custkey"], out_col="ri")
    ranked = _prn_old(ranked, "f", ["o_custkey"], out_col="fi")
    ranked = _prn_old(ranked, "m", ["o_custkey"], out_col="mi")
    tot = ranked.crossJoin(
        F.broadcast(rfm.agg(F.count(F.lit(1)).alias("n_total")))
    )
    seg = tot.select(
        "m",
        F.expr("((ri - 1) * 4) DIV n_total + 1").alias("r_q"),
        F.expr("((fi - 1) * 4) DIV n_total + 1").alias("f_q"),
        F.expr("((mi - 1) * 4) DIV n_total + 1").alias("m_q"),
    )
    return (
        seg.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (
                F.expr(
                    "CAST((2 * CAST(sum(m) * 100 AS BIGINT) + count(1))"
                    " DIV (2 * count(1)) AS DOUBLE)"
                )
                / 100.0
            ).alias("avg_monetary"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


def _decile_old(spark, sf):
    from movie_data_pipeline_spark.operators.ranks import ntile_expr
    from movie_data_pipeline_spark.plans.helpers import dec_sum
    from movie_data_pipeline_spark.sources.catalog import load_table

    li = load_table(spark, sf, "lineitem")
    ranked = _prn_old(
        li, "l_extendedprice", ["l_orderkey", "l_linenumber"], out_col="i"
    )
    n = li.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn("decile", ntile_expr("i", "n_total", 10))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("lo_price"),
            F.round(F.max("l_extendedprice"), 2).alias("hi_price"),
            F.round(
                dec_sum(F.col("l_extendedprice"), 6).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_price"),
        )
        .select(F.col("decile").cast("int").alias("decile"), "n_rows",
                "lo_price", "hi_price", "mean_price")
        .orderBy("decile")
    )


def _winsor_old(spark, sf):
    from movie_data_pipeline_spark.plans.helpers import dec_sum
    from movie_data_pipeline_spark.sources.catalog import load_table

    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    q = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.01D, 0.99D))").alias("q")
    )
    clipped = li.join(F.broadcast(q), "l_returnflag").select(
        "l_returnflag",
        F.greatest(
            F.col("q")[0], F.least(F.col("q")[1], F.col("l_extendedprice"))
        ).alias("wp"),
    )
    return (
        clipped.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                dec_sum(F.col("wp"), 6).cast("double") / F.count(F.lit(1)),
                4,
            ).alias("winsor_mean"),
            F.round(F.min("wp"), 4).alias("winsor_min"),
            F.round(F.max("wp"), 4).alias("winsor_max"),
        )
        .orderBy("l_returnflag")
    )


def _rewrite_old(spark, sf):
    from movie_data_pipeline_spark.plans.analytics_ext19 import (
        sentence_instances,
    )
    from movie_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf, "documents")
    sent = sentence_instances(docs)
    keyed = sent.select(
        "doc_id", "pos", "sn", F.xxhash64("sn").alias("k")
    ).localCheckpoint()
    stats = keyed.groupBy("k").agg(
        F.countDistinct("doc_id").alias("nd"),
        F.min("doc_id").alias("keeper"),
    )
    flagged = keyed.join(stats, "k").select(
        "doc_id",
        "pos",
        "sn",
        ((F.col("nd") < 2) | (F.col("doc_id") == F.col("keeper"))).alias(
            "keep"
        ),
    )
    rewritten = flagged.groupBy("doc_id").agg(
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "sn"))
                    )
                ),
                lambda x: x["sn"],
            ),
            " ",
        ).alias("rebuilt"),
    )
    return (
        docs.select("doc_id")
        .join(rewritten, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            F.md5(
                F.coalesce("rebuilt", F.lit("")).cast("binary")
            ).alias("clean_fp"),
        )
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# PROTOTYPES (new side inlined; shipped only if the A/B wins).
# ---------------------------------------------------------------------------


def _rewrite_hybrid(spark, sf):
    """drop_dup_sentences_docs with the staged frame written to a
    per-call parquet temp dir (the r14-VERDICT's sanctioned
    alternative): ONE sentence derivation, column-pruned disk reads
    (the stats and drop passes read only the integer columns), text
    read once and shuffled once (the per-doc emit groupBy)."""
    import atexit
    import shutil
    import tempfile

    from movie_data_pipeline_spark.plans.analytics_ext19 import (
        sentence_instances,
    )
    from movie_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf, "documents")
    sent = sentence_instances(docs)
    path = tempfile.mkdtemp(prefix="rewrite_stage_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    sent.select(
        "doc_id", "pos", "sn", F.xxhash64("sn").alias("k")
    ).write.mode("overwrite").parquet(path)
    staged = spark.read.parquet(path)
    stats = (
        staged.select("doc_id", "k")
        .groupBy("k")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("nd") >= 2)
    )
    dropped = (
        staged.select("doc_id", "pos", "k")
        .join(stats, "k")
        .filter(F.col("doc_id") != F.col("keeper"))
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("dp"))
    )
    per_doc = staged.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "sn"))).alias("arr")
    )
    joined = per_doc.join(dropped, "doc_id", "left")
    kept = F.when(F.col("dp").isNull(), F.col("arr")).otherwise(
        F.filter(
            F.col("arr"), lambda x: ~F.array_contains(F.col("dp"), x["pos"])
        )
    )
    n_drop = F.coalesce(F.size("dp"), F.lit(0))
    rewritten = joined.select(
        "doc_id",
        (F.size("arr") - n_drop).cast("long").alias("n_kept"),
        n_drop.cast("long").alias("n_dropped"),
        F.array_join(
            F.transform(kept, lambda x: x["sn"]), " "
        ).alias("rebuilt"),
    )
    return (
        docs.select("doc_id")
        .join(rewritten, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            F.md5(
                F.coalesce("rebuilt", F.lit("")).cast("binary")
            ).alias("clean_fp"),
        )
        .sortWithinPartitions("doc_id")
    )


def _charlm_rle(spark, sf):
    """charlm_doc_scores with the trigram counts computed IN-ROW: sort
    the per-doc trigram array once, run-length encode it (ends = the
    1-based positions where the gram changes), and explode the already
    -counted (g3, n) pairs — no corpus-sized hash aggregate, no
    exchange before the persisted count relation."""
    from movie_data_pipeline_spark.plans.helpers import dec_sum
    from movie_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", "")
    base = docs.select("doc_id", norm.alias("t")).filter(F.length("t") >= 3)
    gc = (
        base.withColumn(
            "s",
            F.expr(
                "array_sort(transform(sequence(1, length(t) - 2),"
                " i -> substring(t, i, 3)))"
            ),
        )
        .withColumn(
            "ends",
            F.expr(
                "filter(sequence(1, size(s)),"
                " i -> i = size(s) OR element_at(s, i) != element_at(s, i + 1))"
            ),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(ends, (e, j) -> struct("
                    "element_at(s, e) AS g3,"
                    " CAST(e - IF(j = 0, 0, element_at(ends, j)) AS BIGINT)"
                    " AS n))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.g3").alias("g3"), F.col("p.n").alias("n"))
        .persist()
    )
    model = (
        gc.groupBy("g3")
        .agg(F.sum("n").alias("c3"))
        .withColumn(
            "cp",
            F.sum("c3").over(Window.partitionBy(F.substring("g3", 1, 2))),
        )
    )
    scored = gc.join(F.broadcast(model), "g3").select(
        "doc_id",
        "n",
        F.round(F.log2(F.col("c3") / F.col("cp")), 6).alias("lp"),
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("n").alias("n_grams"),
        (
            F.round(
                -dec_sum(F.col("lp") * F.col("n"), 6).cast("double")
                / F.sum("n"),
                4,
            )
            + 0.0
        ).alias("bits_per_char"),
    )
    agg = agg.localCheckpoint()
    gc.unpersist(blocking=False)
    return agg.sortWithinPartitions("doc_id")


def _affinity_salted(spark, sf):
    """part_affinity_cosine with guide §2.5 two-level aggregation on
    the packed-pair key: pre-combine per (pk, salt-of-customer), then
    re-aggregate per pk. Expected to lose — partial map-side
    aggregation already bounds any hot pair at n_partitions rows — but
    measured so the rejection is on the record."""
    from movie_data_pipeline_spark.plans.analytics_ext7 import (
        _AFFINITY_K,
        _AFFINITY_MAX_BASKET,
        _AFFINITY_MIN_CO,
    )
    from movie_data_pipeline_spark.sources.catalog import load_table

    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
        )
        .distinct()
        .localCheckpoint()
    )
    baskets = cp.groupBy("cust").agg(
        F.sort_array(F.collect_set("part")).alias("ps")
    )
    m = int(_AFFINITY_MAX_BASKET)
    baskets = baskets.select(
        "cust",
        F.expr(
            "CASE WHEN size(ps) <= "
            f"{m} THEN ps ELSE array_sort(transform(slice(array_sort("
            "transform(ps, p -> struct(md5(concat(cast(cust AS string),"
            " ':', cast(p AS string))) AS h, p AS p))), 1, "
            f"{m}), s -> s.p)) END"
        ).alias("ps"),
    )
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)), y ->"
        " x * 4294967296L + y)))"
    )
    co = (
        baskets.select(
            F.pmod(F.xxhash64("cust"), F.lit(32)).alias("_salt"),
            F.explode(pair_expr).alias("pk"),
        )
        .groupBy("pk", "_salt")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("pk")
        .agg(F.sum("c").alias("co"))
        .filter(F.col("co") >= _AFFINITY_MIN_CO)
        .select(
            F.expr("pk DIV 4294967296L").alias("p1"),
            F.expr("pk % 4294967296L").alias("p2"),
            "co",
        )
    )
    deg = cp.groupBy("part").agg(F.count(F.lit(1)).alias("d"))
    scored = (
        co.join(
            deg.select(F.col("part").alias("p1"), F.col("d").alias("d1")),
            "p1",
        )
        .join(
            deg.select(F.col("part").alias("p2"), F.col("d").alias("d2")),
            "p2",
        )
        .select(
            "p1",
            "p2",
            F.col("co").cast("long").alias("co"),
            F.round(
                F.col("co")
                / F.sqrt((F.col("d1") * F.col("d2")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(
        F.desc("cosine"), F.asc("p1"), F.asc("p2")
    ).limit(_AFFINITY_K)


# ---------------------------------------------------------------------------


def _affinity_fused(spark, sf):
    """part_affinity_cosine with the distinct() exchange REMOVED
    (guide §2.4): collect_set dedups in-aggregate, so the raw join
    output goes straight to groupBy(cust), and the FULL-incidence
    degrees come from exploding the uncapped baskets — 3 exchanges of
    the incidence relation (distinct, cust, part) become 2 (cust,
    part), and the checkpoint stores one array row per customer
    instead of one row per (cust, part) pair. Same sets, same counts,
    bit-identical output."""
    from movie_data_pipeline_spark.plans.analytics_ext7 import (
        _AFFINITY_K,
        _AFFINITY_MAX_BASKET,
        _AFFINITY_MIN_CO,
    )
    from movie_data_pipeline_spark.sources.catalog import load_table

    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    raw = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
    )
    full = raw.groupBy("cust").agg(
        F.sort_array(F.collect_set("part")).alias("ps")
    ).localCheckpoint()  # feeds the capped expansion AND the degrees
    deg = (
        full.select(F.explode("ps").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    m = int(_AFFINITY_MAX_BASKET)
    baskets = full.select(
        "cust",
        F.expr(
            "CASE WHEN size(ps) <= "
            f"{m} THEN ps ELSE array_sort(transform(slice(array_sort("
            "transform(ps, p -> struct(md5(concat(cast(cust AS string),"
            " ':', cast(p AS string))) AS h, p AS p))), 1, "
            f"{m}), s -> s.p)) END"
        ).alias("ps"),
    )
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)), y ->"
        " x * 4294967296L + y)))"
    )
    co = (
        baskets.select(F.explode(pair_expr).alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= _AFFINITY_MIN_CO)
        .select(
            F.expr("pk DIV 4294967296L").alias("p1"),
            F.expr("pk % 4294967296L").alias("p2"),
            "co",
        )
    )
    scored = (
        co.join(
            deg.select(F.col("part").alias("p1"), F.col("d").alias("d1")),
            "p1",
        )
        .join(
            deg.select(F.col("part").alias("p2"), F.col("d").alias("d2")),
            "p2",
        )
        .select(
            "p1",
            "p2",
            F.col("co").cast("long").alias("co"),
            F.round(
                F.col("co")
                / F.sqrt((F.col("d1") * F.col("d2")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(
        F.desc("cosine"), F.asc("p1"), F.asc("p2")
    ).limit(_AFFINITY_K)


def _phrase_old(spark, sf):
    from movie_data_pipeline_spark.functions.text import bpe_ish_tokens
    from movie_data_pipeline_spark.plans.analytics_ext10 import (
        _PHRASE,
        _PHRASE_K,
    )
    from movie_data_pipeline_spark.sources.catalog import load_table

    w1, w2 = _PHRASE
    docs = load_table(spark, sf, "documents")
    counted = docs.select(
        "doc_id",
        bpe_ish_tokens(F.col("text")).alias("t"),
    ).select(
        "doc_id",
        F.size(
            F.expr(
                f"filter(sequence(1, size(t) - 1),"
                f" i -> t[i - 1] = '{w1}' AND t[i] = '{w2}')"
            )
        )
        .cast("int")
        .alias("n_matches"),
    )
    return (
        counted.filter(F.col("n_matches") > 0)
        .orderBy(F.desc("n_matches"), F.asc("doc_id"))
        .limit(_PHRASE_K)
    )


def _affinity_noreparition_old(spark, sf):
    """part_affinity_cosine as shipped before r15's repartition-by-pk
    change: default partial+final aggregate over the exploded pairs."""
    from movie_data_pipeline_spark.plans.analytics_ext7 import (
        _AFFINITY_K,
        _AFFINITY_MAX_BASKET,
        _AFFINITY_MIN_CO,
    )
    from movie_data_pipeline_spark.sources.catalog import load_table

    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
        )
        .distinct()
        .localCheckpoint()
    )
    baskets = cp.groupBy("cust").agg(
        F.sort_array(F.collect_set("part")).alias("ps")
    )
    m = int(_AFFINITY_MAX_BASKET)
    baskets = baskets.select(
        "cust",
        F.expr(
            "CASE WHEN size(ps) <= "
            f"{m} THEN ps ELSE array_sort(transform(slice(array_sort("
            "transform(ps, p -> struct(md5(concat(cast(cust AS string),"
            " ':', cast(p AS string))) AS h, p AS p))), 1, "
            f"{m}), s -> s.p)) END"
        ).alias("ps"),
    )
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)), y ->"
        " x * 4294967296L + y)))"
    )
    co = (
        baskets.select(F.explode(pair_expr).alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= _AFFINITY_MIN_CO)
        .select(
            F.expr("pk DIV 4294967296L").alias("p1"),
            F.expr("pk % 4294967296L").alias("p2"),
            "co",
        )
    )
    deg = cp.groupBy("part").agg(F.count(F.lit(1)).alias("d"))
    scored = (
        co.join(deg.select(F.col("part").alias("p1"), F.col("d").alias("d1")), "p1")
        .join(deg.select(F.col("part").alias("p2"), F.col("d").alias("d2")), "p2")
        .select(
            "p1", "p2", F.col("co").cast("long").alias("co"),
            F.round(
                F.col("co") / F.sqrt((F.col("d1") * F.col("d2")).cast("double")), 6
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc("p1"), F.asc("p2")).limit(_AFFINITY_K)


def _pairs(name):
    from movie_data_pipeline_spark.plans.analytics import QUERIES

    registry = {
        "rfm": "rfm_segments",
        "decile": "price_decile_profile",
        "winsor": "winsorized_price_stats",
        "rewrite": "drop_dup_sentences_docs",
        "charlm": "charlm_doc_scores",
        "affinity": "part_affinity_cosine",
        "affinity_fused": "part_affinity_cosine",
        "rewrite2": "drop_dup_sentences_docs",
        "phrase": "phrase_match_counts",
        "affinity_repart": "part_affinity_cosine",
    }
    olds = {
        "rfm": _rfm_old,
        "decile": _decile_old,
        "winsor": _winsor_old,
        "rewrite": _rewrite_old,
        "phrase": _phrase_old,
        "affinity_repart": _affinity_noreparition_old,
        # prototype pairs: the SHIPPED module code is the "old" side
        "charlm": QUERIES[registry["charlm"]][0],
        "affinity": QUERIES[registry["affinity"]][0],
        "affinity_fused": QUERIES[registry["affinity_fused"]][0],
        "rewrite2": _rewrite_old,
    }
    news = {
        "charlm": _charlm_rle,
        "affinity": _affinity_salted,
        "affinity_fused": _affinity_fused,
        "rewrite2": _rewrite_hybrid,
    }
    old_b = olds[name]
    new_b = news.get(name) or QUERIES[registry[name]][0]
    return old_b, new_b


ALL_PAIRS = (
    "rfm", "decile", "winsor", "rewrite", "charlm",
    "affinity", "affinity_fused",
)


def _rows_key(df):
    return sorted(tuple(r) for r in df.collect())


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    pair_names = sys.argv[3:] or list(ALL_PAIRS)
    load_start = round(os.getloadavg()[0], 2)
    steal0, busy0 = read_proc_stat()
    spark = get_spark("ab_r15")

    def run(builder):
        t0 = time.perf_counter()
        builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        clear_state(spark)
        return dt

    results = {}
    for name in pair_names:
        old_b, new_b = _pairs(name)
        # equality gate (r14-ADVICE): the variants must compute the
        # same rows before their timings mean anything
        got_old = _rows_key(old_b(spark, sf_dir))
        clear_state(spark)
        got_new = _rows_key(new_b(spark, sf_dir))
        clear_state(spark)
        if got_old != got_new:
            diff = [
                (a, b) for a, b in zip(got_old, got_new) if a != b
            ][:3]
            raise AssertionError(
                f"{name}: variants disagree "
                f"({len(got_old)} vs {len(got_new)} rows; first diffs "
                f"{diff})"
            )
        print(f"{name}: equality ok ({len(got_old)} rows)", flush=True)
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
            "new_faster_reps": sum(
                1 for a, b in zip(olds, news) if b < a
            ),
            "rows_equal": len(got_old),
        }
        print(
            f"{name}: old_min={min(olds):.3f}s new_min={min(news):.3f}s "
            f"ratio={min(news)/min(olds):.3f} "
            f"new_faster={results[name]['new_faster_reps']}/{reps}",
            flush=True,
        )

    steal1, busy1 = read_proc_stat()
    import json

    print(json.dumps({
        "sf_dir": sf_dir,
        "reps": reps,
        "load1_start": load_start,
        "load1_end": round(os.getloadavg()[0], 2),
        "steal_pct_busy": round(
            (steal1 - steal0) / max(busy1 - busy0, 1) * 100, 2
        ),
        "results": results,
    }, indent=1))


if __name__ == "__main__":
    main()
