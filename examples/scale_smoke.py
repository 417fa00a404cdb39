"""Scale-up smoke: run headline plans at 1x and 5x the sf0.1 data and
report the runtime ratio.

    python examples/scale_smoke.py

The 5x tables are built in-process by unioning the sf0.1 parquet five
times with shifted keys (no fixture writes) — so the same physical
plans (broadcast dims, partial aggs, pushdown) execute against ~3M
lineitem rows. A healthy plan scales ~linearly (ratio ≈ 5 or below once
fixed overheads amortize); a quadratic operator or a plan that
collapses to one partition shows up immediately as a blow-up ratio.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from storm_dynamic_spout_spark.engine import EngineConfig, build_session, load_table
from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = int(os.environ.get("SCALE_COPIES", "5"))

#: (query label, builder) — plan shapes worth scale-checking. Builders
#: take a table-loader fn so the same code runs at 1x and Nx.
def q1(t):
    li = t("lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.sum(disc), F.count("*"))
    )


def star_join(t):
    li, o, c = t("lineitem"), t("orders"), t("customer")
    n, r = F.broadcast(t("nation")), F.broadcast(t("region"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    )


def window_topk(t):
    from pyspark.sql.window import Window as W

    o = t("orders")
    rn = F.row_number().over(
        W.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), "o_orderkey")
    )
    return o.withColumn("rn", rn).filter(F.col("rn") <= 10)


def asof_join(t):
    """The one-shuffle union+running-max ASOF pattern (catalog/joins.py
    join_asof) — the shape whose naive range-join alternative explodes
    super-linearly, so it belongs in every scale check."""
    from pyspark.sql.window import Window as W

    e = t("events").select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("event_ts"),
        F.lit(None).cast("timestamp").alias("order_ts"),
        F.lit(1).alias("is_event"),
    )
    o = t("orders").select(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").alias("event_ts"),
        F.col("o_orderdate").alias("order_ts"),
        F.lit(0).alias("is_event"),
    )
    merged = e.unionByName(o)
    w = (
        W.partitionBy("uid")
        .orderBy("event_ts", "is_event")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return merged.withColumn("last_order_ts", F.max("order_ts").over(w)).filter(
        F.col("is_event") == 1
    )


def binned_range_join(t):
    """Big-big keyless range join via the bin optimization
    (operators/rangejoin.py) — the shape whose naive BNLJ alternative
    is O(points x intervals); binned it must scale ~linearly in the
    points side."""
    from storm_dynamic_spout_spark.operators.rangejoin import interval_join_binned

    # extendedprice spans ~900-105000 while bands cover ~850-2150, so
    # matches are sparse (the catalog query's shape) — the smoke then
    # measures join machinery, not the size of a dense true result
    li = t("lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    bands = t("part").select(
        (F.col("p_retailprice") - 50.0).alias("lo"),
        (F.col("p_retailprice") + 50.0).alias("hi"),
    )
    joined = interval_join_binned(li, bands, "l_extendedprice", "lo", "hi", 100.0)
    return joined.groupBy("l_orderkey", "l_linenumber").agg(
        F.count(F.lit(1)).alias("n_bands")
    )


def rollup_partial(t):
    """ContinuousRollup's per-batch partial (streaming/rollup.py) —
    map-side combine + one shuffle; the per-batch cost that must stay
    linear in batch size at 100 TB."""
    e = t("events").select(
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        e.withColumn("bucket_start", F.date_trunc("hour", "ts"))
        .groupBy("bucket_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_m"),
            F.min("cents").alias("min_m"),
            F.max("cents").alias("max_m"),
        )
    )


def minhash_lsh(t):
    """MinHash near-dup pipeline (operators/dedup.py, rep-collapsed LSH
    band join) — the 100 TB dedup workhorse.  The Nx loader token-salts
    each document copy, so per-copy dup density is constant and healthy
    scaling is ~linear in corpus size (buckets multiply, bucket SIZES
    stay flat).  Un-salted copies would instead multiply every
    exact-dup group Nx and grow the TRUE pair output N² — measuring
    result size, not plan health."""
    from storm_dynamic_spout_spark.operators.dedup import minhash_near_dups

    return minhash_near_dups(t("documents"), "doc_id", "text", 0.9)


def srp_lsh(t, scale=1):
    """Signed-random-projection embedding LSH (operators/similarity.py
    srp_band_pairs).  The Nx loader circular-shifts each embedding copy,
    decorrelating copies (cosine of a random 64-dim vector with its
    rotation ≈ 0) so the true pair count scales ~linearly.

    Band width is the index's scale knob: at FIXED band_bits the bucket
    count is constant, so bucket sizes — and the quadratic-in-bucket
    candidate join — grow linearly with the corpus.  A production SRP
    index adds ~log2(growth) bits per band as the corpus grows, keeping
    bucket sizes (and per-row join cost) flat; the smoke does exactly
    that, so a ~linear ratio here validates the *parameterized* design,
    not a fixed tiny index."""
    import math

    from storm_dynamic_spout_spark.operators.similarity import srp_band_pairs

    band_bits = 4 + math.ceil(math.log2(scale)) if scale > 1 else 4
    return srp_band_pairs(
        t("embeddings"),
        "vec_id",
        "embedding",
        0.25,
        dim=64,
        n_planes=4 * band_bits,
        band_bits=band_bits,
    )


def weighted_sample(t):
    """A-ES weighted sampling (catalog sample_weighted shape):
    TakeOrderedAndProject — per-partition top-k then a driver merge of
    k x partitions rows.  Healthy scaling is SUB-linear (the top-k scan
    is the only part that grows; the merge is constant)."""
    d = t("documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15),
            16,
            10,
        ).cast("long")
        % 1_000_000_007
        + 1
    ) / float(1_000_000_008)
    key = F.pow(u, 1.0 / F.greatest(F.col("n_chars"), F.lit(1)))
    return (
        d.select("doc_id", key.alias("__k")).orderBy(F.desc("__k"), "doc_id").limit(100)
    )


def keep_best(t):
    """Keep-best dedup canonicalization (catalog dedup_keep_best shape):
    map-side partial max_by pre-reduces each task's clusters, so the
    fingerprint shuffle carries one candidate row per (task, cluster) —
    ~linear scaling with flat reducer skew."""
    from storm_dynamic_spout_spark.operators.text import content_fingerprint

    d = t("documents")
    return (
        d.select(
            "doc_id", "n_chars", content_fingerprint(F.col("text")).alias("fp")
        )
        .groupBy("fp")
        .agg(
            F.max_by(F.col("doc_id"), F.struct(F.col("n_chars"), -F.col("doc_id"))),
            F.count(F.lit(1)),
        )
    )


def token_budget_prefix_sum(t):
    """Distributed prefix sum (catalog corpus_token_budget shape):
    quality-band buckets windowed in parallel + a 20-row offset
    broadcast.  Healthy scaling is ~linear — the single-partition
    pieces are the 20-row bucket totals and the 1-row grand total,
    both independent of corpus size."""
    from pyspark.sql.window import Window as W

    from storm_dynamic_spout_spark.operators.text import quality_score

    d = t("documents")
    scored = d.select(
        "doc_id",
        F.round(quality_score(F.col("text")), 6).alias("q"),
        F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens"),
    ).withColumn("__b", F.least(F.floor(F.col("q") * 20).cast("int"), F.lit(19)))
    within = F.sum("n_tokens").over(
        W.partitionBy("__b")
        .orderBy(F.desc("q"), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    totals = scored.groupBy("__b").agg(F.sum("n_tokens").alias("__bt"))
    offsets = totals.select(
        "__b",
        (
            F.sum("__bt").over(
                W.orderBy(F.desc("__b")).rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            - F.col("__bt")
        ).alias("__off"),
    )
    total = scored.agg(F.sum("n_tokens").alias("__tot"))
    return (
        scored.withColumn("__run", within)
        .join(F.broadcast(offsets), "__b")
        .crossJoin(F.broadcast(total))
        .filter(2 * (F.col("__off") + F.col("__run")) <= F.col("__tot"))
        .groupBy()
        .agg(F.count(F.lit(1)), F.max(F.col("__off") + F.col("__run")))
    )


def term_freq_topk(t):
    """Vocabulary top-k (catalog text_term_freq shape, r6 replan):
    explode -> |vocab|-keyed partial agg -> orderBy().limit() which
    plans TakeOrderedAndProject (per-partition heap + driver merge).
    The r5-flagged unpartitioned row_number would have moved the whole
    distinct-term table to one partition — at Nx the vocabulary is Nx
    (per-copy token suffixes), so THAT plan would blow up here."""
    d = t("documents")
    toks = d.select("doc_id", F.explode(F.split("text", r"\s+")).alias("term"))
    counts = toks.groupBy("term").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return counts.orderBy(F.desc("n_occurrences"), "term").limit(50)


def basket_pairs(t):
    """Market-basket pair expansion (catalog orders_market_basket
    shape): ONE exchange builds per-order sorted part sets, pairs
    expand as an array expression with bounded per-order fan-out
    (≤ C(7,2) pairs per order — no two-sided self-join shuffle),
    partial-agg'd pair counts, then a TakeOrderedAndProject top-50.
    Key-shifted copies keep orders disjoint, so pair volume grows
    linearly with the data — a quadratic cross-part blow-up would
    show immediately."""
    li = t("lineitem").select("l_orderkey", "l_partkey")
    items = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pair_arr = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice("parts", i + 2, F.size("parts")),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    return (
        items.select(F.explode(pair_arr).alias("p"))
        .groupBy("p.pa", "p.pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pa", "pb")
        .limit(50)
    )


def boiler_grams(t):
    """Boilerplate 4-gram detector (catalog text_boilerplate_ngrams
    shape): |tokens|-sized gram explosion immediately reduced by two
    aggregates; the only wide exchange joins two PRE-AGGREGATED sides
    on the gram key; the doc-count threshold is a one-row broadcast.
    Copy-salted tokens keep cross-copy grams distinct."""
    d = t("documents")
    footer = F.concat(
        F.col("text"),
        F.lit(" please subscribe to "),
        F.col("source"),
        F.lit(" newsletter today"),
    )
    tk = d.select("doc_id", F.split(footer, r"\s+").alias("tk"))
    idx = F.sequence(F.lit(1), F.size("tk") - 3)
    grams = tk.select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.array_join(F.slice("tk", i, 4), " "))
        ).alias("gram"),
    )
    pg = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("n"))
    gd = pg.groupBy("gram").agg(F.count(F.lit(1)).alias("nd"))
    th = d.select(F.ceil(F.count(F.lit(1)) * 0.02).cast("long").alias("min_docs"))
    boiler = F.when(F.col("nd") >= F.col("min_docs"), F.col("n")).otherwise(F.lit(0))
    return (
        pg.join(gd, "gram")
        .crossJoin(F.broadcast(th))
        .groupBy("doc_id")
        .agg(F.sum("n").alias("n_grams"), F.sum(boiler).alias("n_boiler"))
    )


def pq_adc(t):
    """PQ ADC search (catalog ann_topk_pq shape): the codebook and the
    per-query distance tables stay fixed-size broadcasts while the
    corpus of codes scales; per-query top-k is WindowGroupLimit-pruned.
    Queries pin to the copy-0 seed vectors, so query count is constant
    and the scan cost is the linear part."""
    from storm_dynamic_spout_spark.operators.similarity import pq_topk_adc

    return pq_topk_adc(
        t("embeddings"),
        "vec_id",
        "embedding",
        dim=64,
        query_pred=F.col("vec_id") < 8,
        k=5,
    )


def rfm_value_cuts(t):
    """RFM scoring via broadcast quartile cuts (catalog orders_rfm
    shape, r6 replan): one orders aggregate to |customers| rows, nine
    exact-percentile cuts as a one-row broadcast, CASE scoring — zero
    global sorts.  The replaced triple-ntile form sorted all customers
    on a single partition three times; at Nx customers that cost is Nx
    on one core, while this shape stays embarrassingly parallel."""
    o = t("orders")
    max_date = o.agg(F.max("o_orderdate").alias("__mx"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("o_totalprice").alias("__mon"),
        )
        .crossJoin(F.broadcast(max_date))
        .select(
            "o_custkey",
            F.datediff("__mx", "__last").cast("long").alias("recency_days"),
            "frequency",
            F.round("__mon", 2).alias("monetary"),
        )
    )
    cuts = per_cust.agg(
        *[
            F.percentile(col, F.lit(p)).alias(f"{al}{int(p * 100)}")
            for col, al in (("recency_days", "r"), ("frequency", "f"), ("monetary", "m"))
            for p in (0.25, 0.50, 0.75)
        ]
    )
    score = (
        F.lit(1)
        + (F.col("recency_days") > F.col("r25")).cast("int")
        + (F.col("recency_days") > F.col("r50")).cast("int")
        + (F.col("recency_days") > F.col("r75")).cast("int")
    )
    return (
        per_cust.crossJoin(F.broadcast(cuts))
        .select("o_custkey", score.alias("r_score"))
        .groupBy("r_score")
        .agg(F.count(F.lit(1)))
    )



def vocab_oov(t):
    """Vocab build + OOV audit (catalog text_vocab_coverage shape):
    token counts partial-aggregate to |vocab| rows, the top-K is
    TakeOrdered, and the audit side broadcasts the K-row vocab over the
    token stream — the token explode shuffles ONLY into the per-source
    rollup."""
    d = t("documents")
    toks = d.select("source", F.explode(F.split("text", r"\s+")).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        counts.orderBy(F.desc("c"), "term")
        .limit(100)
        .select("term", F.lit(True).alias("inv"))
    )
    oov = F.when(F.col("inv").isNull(), 1).otherwise(0)
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum(oov).alias("n_oov"))
    )


def bm25_postings(t):
    """BM25 (catalog text_bm25_rank shape): postings are filtered to
    the query terms BEFORE the (doc,term) aggregate — scan cost is the
    linear part, the shuffle carries only matching postings; df and
    corpus stats are broadcast one-row aggregates.  Copy-salted tokens
    keep per-copy term stats distinct (only copy 0 matches — the scan,
    not the match count, is what must scale)."""
    d = t("documents").select("doc_id", F.split("text", r"\s+").alias("tk"))
    dd = d.select("doc_id", "tk", F.size("tk").alias("dl"))
    stats = dd.agg(F.count(F.lit(1)).alias("nd"), F.sum("dl").alias("sdl"))
    tf = (
        dd.select("doc_id", "dl", F.explode("tk").alias("term"))
        .filter(F.col("term").isin("spark", "merge", "window"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("sdl").cast("double") / F.col("nd")
    part = (
        F.log(1 + (F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * F.col("tf") * 2.2
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / avgdl))
    )
    return (
        tf.join(F.broadcast(dfx), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(part).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


def span_dedup(t):
    """Span-level exact dedup (catalog text_span_dedup shape): one
    span-keyed window ranks corpus-wide first occurrences, then a
    per-doc rebuild aggregate.  Copy-salted tokens make every copy's
    spans distinct, so the span key space grows with the data — the
    window shuffle is the scaling part."""
    from pyspark.sql.window import Window as W

    d = t("documents").select("doc_id", F.split("text", r"\s+").alias("tk"))
    n = F.ceil(F.size("tk") / F.lit(10)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat_ws(" ", F.slice("tk", i * 10 + 1, 10)),
    )
    chunks = d.select("doc_id", F.posexplode(spans).alias("pos", "chunk"))
    rn = F.row_number().over(W.partitionBy("chunk").orderBy("doc_id", "pos"))
    return (
        chunks.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


def pagerank_iters(t):
    """PageRank power steps (catalog graph_pagerank shape): the edge
    build is a user-keyed window + tiny aggregate; each of the 3 steps
    is a src join + dst aggregate over the |E|-row edge table.  Node
    space is fixed (|event types|) while event volume scales — edge
    WEIGHTS grow, row counts stay bounded, so the window is the
    scaling part."""
    from pyspark.sql.window import Window as W

    from storm_dynamic_spout_spark.operators.graph import pagerank

    e = t("events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    return pagerank(edges, weight="w", iterations=3)


def setsim_prefix(t):
    """Exact set-similarity join (catalog dedup_setsim_prefix shape):
    per-copy token salting keeps cross-copy Jaccard at 0, so true
    pairs grow 5x (per-copy dup structure), candidates with them —
    the prefix equi-join must scale with output, not docs²."""
    from storm_dynamic_spout_spark.operators.dedup import setsim_prefix_pairs

    return setsim_prefix_pairs(t("documents"), "doc_id", "text", 0.8)


def spatial_grid(t):
    """Grid-blocked spatial join (catalog join_spatial_grid shape):
    each key copy lives on its own x-shifted plane (copy i offset by
    i·200k > plane width), so density — and therefore true pair count
    per copy — is constant and the total output grows 5x, never
    density²."""
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    pts = t("customer").select(
        F.col("c_custkey").alias("id"),
        (
            _spatial_coord("x")
            + (F.col("c_custkey") / F.lit(1_000_000_000)).cast("long")
            * F.lit(200_000)
        ).alias("ux"),
        _spatial_coord("y").alias("uy"),
    )
    return grid_neighbor_pairs(pts, "id", "ux", "uy", 1000)


def bloom_prune(t):
    """Bloom-prune semi-join (catalog join_bloom_prune shape): the
    build side stays copy-0's nation-3 suppliers while the fact side
    grows 5x — the regime the operator targets (bitmap constant,
    map-side prune rate rises, surviving rows bounded)."""
    from storm_dynamic_spout_spark.operators.bloom import bloom_prune_join

    li = t("lineitem")
    sup = t("supplier").where(F.col("s_nationkey") == 3)
    return bloom_prune_join(li, sup, "l_suppkey", "s_suppkey")


def abc_pareto_bands(t):
    """Distributed Pareto prefix sum (catalog parts_abc_pareto shape,
    via the SHARED pareto_cum_revenue core — the smoke exercises the
    exact production pipeline): 5x parts through the log-band offset
    decomposition — the band count stays ~40 while per-band windows
    take 5x rows."""
    from storm_dynamic_spout_spark.catalog.analytics import pareto_cum_revenue

    return pareto_cum_revenue(t("lineitem")).select(
        "l_partkey", (F.col("__off") + F.col("__run")).alias("cum")
    )


def heavy_hitters_two_pass(t):
    """text_heavy_hitters shape: pass 1 is map-only Misra-Gries (≤k
    rows out per partition), pass 2 a broadcast-semi-join exact count
    — shuffle bytes must stay ~constant while the token stream grows
    5x (candidate set is bounded by k, not by data)."""
    from storm_dynamic_spout_spark.catalog.llm import HH_K
    from storm_dynamic_spout_spark.operators.sketch import heavy_hitters_exact

    toks = t("documents").select(
        F.explode(F.split("text", r"\s+")).alias("term")
    )
    return heavy_hitters_exact(toks, "term", HH_K)


def bitmap_distinct_words(t):
    """agg_bitmap_distinct shape: keys collapse into keyspace/64 bitmap
    words during the map-side partial bit_or — the word table (and so
    the shuffle) grows with the KEYSPACE (shifted ids per copy), never
    with row count."""
    o = t("orders")
    return (
        o.select(
            "o_orderpriority",
            F.floor(F.col("o_custkey") / 64).alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(o_custkey % 64 AS INT))"
            ).alias("b"),
        )
        .groupBy("o_orderpriority", "w")
        .agg(F.expr("bit_or(b)").alias("m"))
        .groupBy("o_orderpriority")
        .agg(F.sum(F.bit_count("m")).alias("n_distinct"))
    )


def common_neighbor_wedges(t):
    """graph_common_neighbors shape: grid-blocked edge derivation, the
    wedge equi-join on the shared middle node, anti-join against the
    edge set, TakeOrdered top-k.  Wedge count grows with sum(deg^2),
    so on the key-shifted copies (each copy a disjoint subgraph) the
    ratio should stay ~linear."""
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    # the Nx loader shifts keys but _spatial_coord hashes the shifted
    # key back into the SAME coordinate space — 5x density means ~25x
    # edges and ~125x wedges, i.e. the smoke would measure TRUE-result
    # growth, not plan health.  Offset each copy's coordinates by its
    # copy index (key // shift) so copies are genuinely disjoint
    # subgraphs and per-copy structure is preserved.
    copy_off = (F.col("c_custkey") / F.lit(1_000_000_000)).cast("long") * F.lit(
        10_000_000
    )
    pts = t("customer").select(
        F.col("c_custkey").alias("id"),
        (_spatial_coord("x") + copy_off).alias("ux"),
        (_spatial_coord("y") + copy_off).alias("uy"),
    )
    edges = grid_neighbor_pairs(pts, "id", "ux", "uy", 1_500).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    wedges = s1.join(
        s2, (F.col("s1.v") == F.col("s2.v")) & (F.col("s1.u") < F.col("s2.u"))
    ).select(F.col("s1.u").alias("id_a"), F.col("s2.u").alias("id_b"))
    return (
        wedges.join(
            edges,
            (F.col("id_a") == F.col("a")) & (F.col("id_b") == F.col("b")),
            "left_anti",
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("cn"))
        .orderBy(F.desc("cn"), "id_a", "id_b")
        .limit(20)
    )


def triangle_close(t):
    """graph_triangle_count shape: grid-blocked edge derivation, then
    the DEGREE-ORIENTED wedge close (operators/graph.py) — fan-out per
    apex is its out-degree, O(sqrt(m)) on any graph.  Copies are made
    disjoint by the same coordinate offset as the common-neighbors
    shape, so healthy scaling is ~linear in the copy count."""
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord
    from storm_dynamic_spout_spark.operators.graph import (
        degree_oriented_triangles,
    )
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    copy_off = (F.col("c_custkey") / F.lit(1_000_000_000)).cast("long") * F.lit(
        10_000_000
    )
    pts = t("customer").select(
        F.col("c_custkey").alias("id"),
        (_spatial_coord("x") + copy_off).alias("ux"),
        (_spatial_coord("y") + copy_off).alias("uy"),
    )
    edges = local_checkpoint(
        grid_neighbor_pairs(pts, "id", "ux", "uy", 1_500).select(
            F.col("id_a").alias("a"), F.col("id_b").alias("b")
        )
    )
    return degree_oriented_triangles(edges).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def countmin_cells(t):
    """agg_countmin_freq shape: the sketch groupBy must emit ≤
    depth*width cells NO MATTER the input size — the one shape here
    whose healthy ratio is ~1 (constant output, map-side combine),
    so any growth beyond the scan itself is a regression."""
    from storm_dynamic_spout_spark.catalog.aggregates import CMS_DEPTH, CMS_WIDTH
    from storm_dynamic_spout_spark.operators.sketch import countmin_table

    return countmin_table(t("lineitem"), "l_partkey", CMS_DEPTH, CMS_WIDTH)


def kcore_peel(t):
    """graph_kcore shape: per-round degree aggregate + two broadcast
    semi-joins with a checkpoint between rounds (timing includes
    the checkpoint jobs — that IS the production cost model).  On
    key-shifted copies the graph is 5 disjoint replicas, so healthy
    scaling is ~linear."""
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    pts = t("customer").select(
        F.col("c_custkey").alias("id"),
        _spatial_coord("x").alias("ux"),
        _spatial_coord("y").alias("uy"),
    )
    edges = grid_neighbor_pairs(pts, "id", "ux", "uy", 1_500).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    for _ in range(4):
        sym = local_checkpoint(sym, eager=True)
        surv = (
            sym.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= 3)
            .select("u")
        )
        sym = sym.join(F.broadcast(surv), "u").join(
            F.broadcast(surv.withColumnRenamed("u", "v")), "v"
        ).select("u", "v")
    return sym.groupBy("u").agg(F.count(F.lit(1)).alias("core_degree"))


def rake_phrases(t):
    """text_keyword_rake shape: doc-partitioned prefix-sum phrase
    segmentation (two windows, both PARTITIONED BY doc_id — documents
    are the parallelism unit) + term rollup + TakeOrdered top-k."""
    from pyspark.sql.window import Window as W

    from storm_dynamic_spout_spark.catalog.llm import RAKE_STOP, RAKE_TOP

    pos = t("documents").select(
        "doc_id", F.posexplode(F.split("text", r"\s+")).alias("pos", "tok")
    ).withColumn(
        "is_stop",
        F.when(F.col("tok").isin(*RAKE_STOP), F.lit(1)).otherwise(F.lit(0)),
    )
    phrased = pos.withColumn(
        "phrase_id",
        F.sum("is_stop").over(
            W.partitionBy("doc_id").orderBy("pos").rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        ),
    )
    words = phrased.filter(F.col("is_stop") == 0).withColumn(
        "phrase_len", F.count(F.lit(1)).over(W.partitionBy("doc_id", "phrase_id"))
    )
    return (
        words.groupBy(F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("phrase_len").alias("degree"))
        .orderBy(F.desc("degree"), "term")
        .limit(RAKE_TOP)
    )


def kmv_topk(t):
    """agg_kmv_intersect sketch-build shape: distinct → per-partition
    top-k heap → driver merge (TakeOrdered); k rows out regardless of
    scale, so like countmin the ratio should track the scan."""
    from storm_dynamic_spout_spark.catalog.aggregates import KMV_K
    from storm_dynamic_spout_spark.operators.sketch import kmv_sketch

    return kmv_sketch(t("orders").select("o_custkey"), "o_custkey", KMV_K)


def zipf_banded_rank(t):
    """text_zipf_fit rank-decomposition shape (r8 hapax fix): the
    global rank never needs a global sort — every term-level window is
    keyed (log2-band, f, tie-bucket), so the hapax tie (~half the
    vocabulary) splits across _ZIPF_TIE_BUCKETS partitions instead of
    sorting in one.  Healthy = ratio tracks the scan; the pre-fix shape
    (window keyed on the band alone) degrades superlinearly as the
    f=1 partition grows with vocabulary."""
    from storm_dynamic_spout_spark.catalog.llm import zipf_ranked_logs

    return zipf_ranked_logs(t("documents")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lr").alias("sx"),
        F.sum(F.col("lr") * F.col("lf")).alias("sxy"),
    )



def ivfpq_adc(t):
    """ann_topk_ivfpq shape: PQ codes carry their coarse bucket through
    the encode aggregate, the scan is a bucket equi-join against
    broadcast query tables (never a cross join), WindowGroupLimit
    top-k.  Healthy = ratio tracks the (compressed) code scan."""
    from pyspark.sql import functions as F

    from storm_dynamic_spout_spark.operators.similarity import (
        PQ_K,
        pq_topk_ivf_adc,
    )

    return pq_topk_ivf_adc(
        t("embeddings"), "vec_id", "embedding", "label",
        dim=64, query_pred=F.col("vec_id") < PQ_K, k=5,
    )


def moments_partial_agg(t):
    """agg_moments_sketch shape: five exact power sums per group via
    partial->final hash aggregate — per-partition state is constant,
    so the ratio must track the scan exactly."""
    x = F.round("o_totalprice").cast("decimal(9,0)")
    base = (
        t("orders")
        .select("o_orderpriority", x.alias("x"))
        .withColumn("x2", F.col("x") * F.col("x"))
    )
    return base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum("x2").alias("s2"),
    )


def bpe_token_counts(t):
    """text_token_count_bpe shape: map-only regexp_extract_all sizes —
    zero shuffles before the aggregate; ratio == scan or the pattern
    stopped being codegen'd."""
    pat = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
    return (
        t("documents_plain")
        .select(F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))).alias("n"))
        .agg(F.sum("n").alias("total_tokens"))
    )


def survival_histogram(t):
    """events_survival_km shape: the stream reduces per user then per
    duration BEFORE any window — the two prefix sums run on a
    histogram bounded by the observation window, so the ratio tracks
    the per-user aggregate."""
    e = t("events")
    f = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
    )
    dur = F.floor(
        (F.unix_micros(F.col("tp").cast("timestamp"))
         - F.unix_micros(F.col("t0").cast("timestamp"))) / F.lit(3_600_000_000)
    )
    return (
        f.filter(F.col("tp").isNotNull())
        .select(dur.alias("dur"))
        .groupBy("dur")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def ivf_assign(t):
    """Fused IVF train + assign (operators/similarity.py
    ivf_assign_labels — the ann_topk_ivfpq_trained front half).  The
    |labels|×dim codebook broadcasts and the n×k candidate fan-out
    collapses map-side (min_by partial agg), so the corpus never
    shuffles: healthy scaling is ~linear in vectors.  The Nx loader's
    circular shift decorrelates copies but labels survive, so the
    codebook stays |labels| rows at every scale."""
    from storm_dynamic_spout_spark.operators.similarity import ivf_assign_labels

    return ivf_assign_labels(t("embeddings"), "vec_id", "embedding", "label")


def hashing_trick(t):
    """Signed feature hashing (catalog text_hashing_trick shape): two
    cascaded counting aggregates — (doc, bucket) then doc — both
    map-side combinable, no vocabulary pass; the plain-document loader
    keeps the regexp out of the measured delta.  Healthy scaling is
    ~linear in tokens."""
    from storm_dynamic_spout_spark.operators.text import token_hash

    d = t("documents_plain")
    term = F.col("term")
    sign = F.lit(1) - F.lit(2) * (
        F.conv(F.substring(F.md5(term.cast("binary")), 16, 1), 16, 10).cast("long")
        % 2
    )
    w = (
        d.select("doc_id", F.explode(F.split("text", r"\s+")).alias("term"))
        .select("doc_id", (token_hash(term) % 64).alias("bucket"), sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").alias("wgt"))
    )
    return w.groupBy("doc_id").agg(
        F.sum(F.col("wgt") * F.col("wgt")).alias("l2sq"),
        F.min_by("bucket", F.struct(-F.abs(F.col("wgt")), F.col("bucket"))).alias(
            "top_bucket"
        ),
    )


def asof_nearest(t):
    """Bidirectional nearest as-of (catalog join_asof_nearest): ONE
    per-key exchange feeding a running-max-backward and a running-min-
    forward window (second window re-sorts in place, no second
    shuffle).  Scales with per-key history like asof_join; the naive
    form is TWO range joins."""
    from pyspark.sql.window import Window as W

    # cast NTZ fixture timestamps to LTZ up front: unix_micros (the
    # integer tie arbiter) requires TIMESTAMP, and the catalog query
    # gets the coercion for free from its null-literal ts/od columns
    e = t("events").select(
        F.col("user_id").alias("k"),
        F.col("ts").cast("timestamp").alias("tt"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("timestamp").alias("od"),
    )
    o = t("orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("timestamp").alias("tt"),
        F.lit(0).alias("is_event"),
        F.col("o_orderdate").cast("timestamp").alias("od"),
    )
    wb = (
        W.partitionBy("k")
        .orderBy("tt", "is_event")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("k")
        .orderBy("tt", F.desc("is_event"))
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    prev_od, next_od = F.col("__prev"), F.col("__next")
    back_closer = F.unix_micros(F.col("tt")) - F.unix_micros(prev_od) <= (
        F.unix_micros(next_od) - F.unix_micros(F.col("tt"))
    )
    return (
        e.unionByName(o)
        .withColumn("__prev", F.max("od").over(wb))
        .withColumn("__next", F.min("od").over(wf))
        .filter(F.col("is_event") == 1)
        .select(
            "k",
            "tt",
            F.when(prev_od.isNull(), next_od)
            .when(next_od.isNull(), prev_od)
            .when(back_closer, prev_od)
            .otherwise(next_od)
            .alias("nearest"),
        )
    )


def whitening(t):
    """Diagonal corpus whitening (catalog embedding_whitening shape):
    posexplode -> d-group aggregate (map-side partial), mu/sd arrays
    return on a one-row broadcast, zip_with map-only transform.
    Healthy scaling is ~linear in vectors — the only exchange is d
    rows wide regardless of corpus size."""
    from storm_dynamic_spout_spark.operators.similarity import whiten_ppm

    return whiten_ppm(t("embeddings"), "vec_id", "embedding")


def ab_test_readout(t):
    """A/B readout (catalog events_ab_test shape): one (user, type)
    aggregate — checkpoint-shared by four branches — then |types|-row
    broadcasts and a |types|x2-cell closing aggregate.  Healthy
    scaling is ~linear in events; the z/t math is constant-size."""
    per = local_checkpoint(
        t("events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("val"))
    )
    users = per.select("user_id").distinct()
    types = per.select("event_type").distinct()
    nu = users.agg(F.count(F.lit(1)).alias("n_users"))
    tavg = (
        per.groupBy("event_type")
        .agg(F.sum("cnt").alias("tot"))
        .crossJoin(F.broadcast(nu))
        .select("event_type", (F.col("tot") * 1.0 / F.col("n_users")).alias("avg_cnt"))
    )
    frame = (
        users.crossJoin(F.broadcast(types))
        .join(per, ["user_id", "event_type"], "left")
        .select(
            "event_type",
            (F.col("user_id") % 2).alias("arm"),
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.coalesce("val", F.lit(0.0)).alias("val"),
        )
    )
    conv = frame.join(F.broadcast(tavg), "event_type")
    c, tr = F.col("arm") == 0, F.col("arm") == 1
    hit = (F.col("cnt") > F.col("avg_cnt")).cast("long")
    return conv.groupBy("event_type").agg(
        F.sum(c.cast("long")).alias("n_c"),
        F.sum(tr.cast("long")).alias("n_t"),
        F.sum(F.when(c, hit).otherwise(0)).alias("conv_c"),
        F.sum(F.when(tr, hit).otherwise(0)).alias("conv_t"),
        F.avg(F.when(c, F.col("val"))).alias("mean_c"),
        F.avg(F.when(tr, F.col("val"))).alias("mean_t"),
    )


def curriculum_order(t):
    """Quality-quartile curriculum (catalog corpus_curriculum_order
    shape): integer quality keys, one exact-percentile aggregate
    broadcast back, md5-ordered rank inside each of 4 buckets.
    Healthy scaling is ~linear in documents; the 4-partition window is
    the documented skew point (banded-rank at real scale)."""
    from pyspark.sql.window import Window as W

    from storm_dynamic_spout_spark.operators.text import quality_score

    d = t("documents_plain")
    q = d.select(
        "doc_id",
        F.round(quality_score(F.col("text")) * 1_000_000).cast("long").alias("qk"),
    )
    cuts = q.agg(
        F.percentile("qk", 0.25).alias("c1"),
        F.percentile("qk", 0.50).alias("c2"),
        F.percentile("qk", 0.75).alias("c3"),
    )
    bucket = (
        F.lit(1)
        + (F.col("qk") > F.col("c1")).cast("int")
        + (F.col("qk") > F.col("c2")).cast("int")
        + (F.col("qk") > F.col("c3")).cast("int")
    )
    b = q.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "qk",
        bucket.alias("bucket"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("h"),
    )
    w = W.partitionBy("bucket").orderBy("h", "doc_id")
    return b.withColumn("rank_in_bucket", F.row_number().over(w))


def compaction_plan(t):
    """Small-file compaction planning (catalog table_compaction_plan
    shape): per-partition prefix-sum window -> start-offset group
    bucketing -> two counting aggregates.  Healthy scaling is ~linear
    in files; per-partition file counts grow 5x but the window state
    is one running sum."""
    from pyspark.sql.window import Window as W

    f = t("orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("pm"),
        F.col("o_orderkey").alias("fid"),
        F.round(F.col("o_totalprice") / 10).cast("long").alias("kb"),
    )
    w = W.partitionBy("pm").orderBy("fid").rowsBetween(W.unboundedPreceding, W.currentRow)
    packed = f.withColumn(
        "grp", F.floor((F.sum("kb").over(w) - F.col("kb")) / 256_000).cast("long")
    )
    return (
        packed.groupBy("pm", "grp")
        .agg(F.sum("kb").alias("gkb"), F.count(F.lit(1)).alias("nf"))
        .groupBy("pm")
        .agg(
            F.sum("nf").alias("n_files"),
            F.count(F.lit(1)).alias("n_groups"),
            F.max("gkb").alias("largest"),
        )
    )


def clustering_coeff(t):
    """Per-node clustering coefficient (catalog
    graph_clustering_coefficient shape): degree-oriented wedge close
    + 3-corner explode + node-keyed counting join.  Healthy scaling
    is ~linear in edges — degree orientation bounds apex fan-out by
    O(sqrt(m)) even as hubs grow with the 5x graph."""
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord
    from storm_dynamic_spout_spark.operators.graph import (
        degree_oriented_triangles,
    )
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    pts = t("customer").select(
        F.col("c_custkey").alias("id"),
        _spatial_coord("x").alias("ux"),
        _spatial_coord("y").alias("uy"),
    )
    edges = local_checkpoint(
        grid_neighbor_pairs(pts, "id", "ux", "uy", 1_500).select(
            F.col("id_a").alias("a"), F.col("id_b").alias("b")
        )
    )
    deg = (
        edges.select(F.col("a").alias("id"))
        .unionByName(edges.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tcnt = (
        degree_oriented_triangles(edges)
        .select(F.explode(F.array("apex", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return deg.join(tcnt, "id", "left").filter(F.col("degree") >= 2)


def bootstrap_resamples(t):
    """Poisson-bootstrap resampling (catalog events_bootstrap_ci
    shape): B=81 hash-weight explode -> (b, arm) map-side-partial
    aggregate -> per-b delta -> percentile over B rows.  The explode
    is Bx scan rows but the shuffle is only 2B partial rows, so
    healthy scaling is ~linear in events."""
    B = 81
    ev = t("events").select(
        "event_id",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    e = ev.withColumn("b", F.explode(F.sequence(F.lit(1), F.lit(B)))).withColumn(
        "h",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("event_id"), F.col("b")).cast("binary")),
                1,
                4,
            ),
            16,
            10,
        ).cast("long"),
    )
    wt = (
        F.when(F.col("h") < 24110, 0)
        .when(F.col("h") < 48220, 1)
        .when(F.col("h") < 60276, 2)
        .otherwise(3)
    )
    g = e.select("b", "arm", wt.alias("wt"), "cents").groupBy("b", "arm").agg(
        F.sum("wt").alias("n"), F.sum(F.col("wt") * F.col("cents")).alias("s")
    )
    arm = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))  # noqa: E731
    d = g.groupBy("b").agg(
        (arm(1, "s") / arm(1, "n") - arm(0, "s") / arm(0, "n")).alias("delta")
    )
    return d.agg(F.percentile("delta", 0.5).alias("med"))


def bpe_pairs(t):
    """First BPE merge iteration (catalog text_bpe_merge_candidates
    shape): token explode -> char-2-gram explode -> alphabet^2-bounded
    count -> heap top-k.  Healthy scaling is ~linear in corpus bytes;
    the shuffle stays |pair-vocab|-sized."""
    toks = t("documents").select(
        F.explode(F.split("text", r"\s+")).alias("tok")
    ).filter(F.length("tok") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(tok) - 1), i -> substr(tok, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


def smoothing_folds(t):
    """Exponential-smoothing forecasts (catalog events_forecast_ses /
    _holt shape): daily map-side-partial aggregate -> per-type bounded
    array fold.  The fold length is calendar-bound, so the 5x corpus
    only widens the daily aggregate — healthy scaling is ~linear in
    events with a constant fold cost."""
    daily = (
        t("events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.round(F.sum("value") * 100).cast("long").alias("cents"))
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"].cast("double"),
        ).alias("ys")
    )
    fold = F.aggregate(
        F.slice(F.col("ys"), 2, F.greatest(F.size("ys") - 1, F.lit(0))),
        F.col("ys")[0],
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return series.select("event_type", fold.alias("ses"))


def did_cells(t):
    """Quasi-experimental cell moments (catalog events_diff_in_diff /
    events_power_mde shape): scalar-count broadcast -> one
    (arm, period) fused-moment aggregate -> closed-form math on 4
    rows.  Healthy scaling is ~linear in events."""
    ev = t("events")
    n_ev = ev.agg(F.count(F.lit(1)).alias("n_ev"))
    e = ev.crossJoin(F.broadcast(n_ev)).select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.when(F.col("event_id") * 2 < F.col("n_ev"), 0).otherwise(1).alias("period"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return e.groupBy("arm", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )


def bpe_learn(t):
    """Iterated BPE training (catalog text_bpe_learn_merges shape):
    word-count aggregate -> per-iteration pair count + 1-row broadcast
    + map-only merge fold.  Healthy scaling is ~linear in corpus bytes
    (the word-count pass); the per-iteration work is |distinct words|-
    bound, which grows sublinearly with copies."""
    wc = (
        t("documents")
        .select(F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = wc.select(
        "n",
        F.expr(
            "transform(sequence(1, char_length(word)), i -> substr(word, i, 1))"
        ).alias("syms"),
    )
    last = None
    for _ in range(2):
        pairs = (
            w.filter(F.size("syms") >= 2)
            .select(
                "n",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms)-1), j ->"
                        " struct(element_at(syms, j) as a,"
                        " element_at(syms, j+1) as b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt"))
        )
        top1 = pairs.orderBy(F.desc("cnt"), "a", "b").limit(1).select(
            F.col("a").alias("__pa"), F.col("b").alias("__pb")
        )
        merged = F.aggregate(
            F.slice(F.col("syms"), 2, F.greatest(F.size("syms") - 1, F.lit(0))),
            F.array(F.element_at(F.col("syms"), 1)),
            lambda acc, x: F.when(
                (F.element_at(acc, -1) == F.col("__pa")) & (x == F.col("__pb")),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.col("__pa"), F.col("__pb"))),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        w = w.crossJoin(F.broadcast(top1)).select("n", merged.alias("syms"))
        last = w
    return last.select(F.sum(F.size("syms")).alias("total_symbols"))


def bm25_stream_probe(t):
    """stream_bm25_index probe shape (round 12): postings from the even
    half of documents, the odd half's distinct tokens probe them,
    top-k per query — the per-batch cost model of the incremental
    BM25 index.  Per-copy token salting keeps cross-copy overlap at 0,
    so the token equi-join grows as Nx disjoint per-copy blocks:
    healthy scaling is ~linear (never a corpus self-scan).

    The fixture's 31-token vocabulary has median document-frequency
    ~80% — an adversarial all-stopwords regime where the uncapped
    probe output is Σ q_t·df_t ≈ |corpus|² (and the operator's
    max_df_frac ceiling, the documented 100 TB knob, would elide 30/31
    tokens — leaving nothing to measure).  The smoke therefore scores
    EXACTLY over a 1-in-10 systematic sample of each half: posting
    lists stay bounded, the plan is the true uncapped probe, and the
    salted Nx copies grow it as disjoint per-copy blocks."""
    from storm_dynamic_spout_spark.streaming.bm25_stream import (
        score_against_postings,
    )

    d = t("documents").select("doc_id", F.split("text", r"\s+").alias("__t"))
    dd = d.select(
        "doc_id",
        F.size("__t").cast("long").alias("__dl"),
        F.explode("__t").alias("__tok"),
    )
    pos = (
        dd.filter(F.col("doc_id") % 20 == 0)
        .select(F.col("doc_id").alias("__id"), "__dl", "__tok")
        .groupBy("__id", "__dl", "__tok")
        .agg(F.count(F.lit(1)).cast("long").alias("__tf"))
    )
    q = (
        dd.filter(F.col("doc_id") % 20 == 11)
        .select(F.col("doc_id").alias("query_id"), "__tok")
        .distinct()
    )
    return score_against_postings(pos, q)


def bt_strengths(t):
    """rank_bradley_terry shape (round 13): comparisons from per-user
    adjacent events (one corpus-sized window pass + one hash aggregate
    down to the pair VOCABULARY), then 12 broadcast-MM iterations on
    the fixed 5-item model.  Nx copies reuse user ids, so per-user
    event chains densify and comparisons grow ~Nx while the model
    stays 5 items — healthy scaling is wall ~ comparison scan, never
    iterations x corpus."""
    from pyspark.sql.window import Window as W

    from storm_dynamic_spout_spark.operators.ranking import (
        bradley_terry_strengths,
        pairwise_win_counts,
    )

    e = t("events")
    w = W.partitionBy("user_id").orderBy("event_id")
    lagged = e.select(
        "event_type",
        "value",
        F.lag("event_type").over(w).alias("__pt"),
        F.lag("value").over(w).alias("__pv"),
    )
    comp = lagged.filter(
        F.col("__pt").isNotNull()
        & (F.col("event_type") != F.col("__pt"))
        & (F.col("value") != F.col("__pv"))
    ).select(
        F.when(F.col("value") > F.col("__pv"), F.col("event_type"))
        .otherwise(F.col("__pt"))
        .alias("winner"),
        F.when(F.col("value") > F.col("__pv"), F.col("__pt"))
        .otherwise(F.col("event_type"))
        .alias("loser"),
    )
    return bradley_terry_strengths(pairwise_win_counts(comp, "winner", "loser"))


def kappa_agreement(t):
    """rank_cohen_kappa shape (round 13): row-local classifier
    prediction fused into the scan, one id-keyed join of the two rater
    projections, integer count aggregates + a label-vocabulary
    marginal join.  Pure corpus-linear; the model side is |labels|."""
    from storm_dynamic_spout_spark.operators.ranking import cohen_kappa
    from storm_dynamic_spout_spark.operators.text import lang_id

    d = t("documents")
    log = d.select(
        F.col("doc_id").alias("item"),
        F.lit("gold").alias("rater"),
        F.col("lang").alias("label"),
    ).unionByName(
        d.select(
            F.col("doc_id").alias("item"),
            F.lit("langid").alias("rater"),
            lang_id(F.col("text")).alias("label"),
        )
    )
    return cohen_kappa(log, "item", "rater", "label", "gold", "langid")


def bpe_apply_tokens(t):
    """text_bpe_apply shape (round 13): one word-count aggregate, three
    merge iterations (pair count -> 1-row broadcast top pair -> map-
    only fold) on the DISTINCT-word table, then the applied-token
    histogram.  Per-copy token salting multiplies the word vocabulary
    Nx, so healthy scaling is ~linear in distinct words."""
    from pyspark.sql.window import Window as W

    from storm_dynamic_spout_spark.operators.text import apply_bpe_merge, chars

    wc = (
        t("documents")
        .select(F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = wc.select("n", chars(F.col("word")).alias("syms"))
    for _ in range(3):
        pairs = (
            w.filter(F.size("syms") >= 2)
            .select(
                "n",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms)-1), j ->"
                        " struct(element_at(syms, j) as a,"
                        " element_at(syms, j+1) as b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").cast("bigint").alias("cnt"))
        )
        top1 = (
            pairs.orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .select(F.col("a").alias("__pa"), F.col("b").alias("__pb"))
        )
        w = w.crossJoin(F.broadcast(top1)).select(
            "n",
            apply_bpe_merge(F.col("syms"), F.col("__pa"), F.col("__pb")).alias(
                "syms"
            ),
        )
    tok = (
        w.select("n", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(F.sum("n").cast("bigint").alias("cnt"))
    )
    return (
        tok.orderBy(F.desc("cnt"), "token")
        .limit(15)
        .select(
            F.row_number().over(W.orderBy(F.desc("cnt"), "token")).alias("r"),
            "token",
            "cnt",
        )
    )


def eval_overlap(t):
    """eval_contamination shape (round-14 staging): per-eval-doc n-gram
    overlap fraction against the train gram vocabulary.  The 1-in-10
    systematic sample on each side bounds the adversarial fixture's
    gram lists (the bm25_stream_probe convention); per-copy token
    salting keeps cross-copy grams disjoint, so the membership join
    grows as Nx independent blocks."""
    from storm_dynamic_spout_spark.operators.corpus import eval_contamination

    d = t("documents")
    train = d.filter(F.col("doc_id") % 20 == 0)
    ev = d.filter(F.col("doc_id") % 20 == 11)
    return eval_contamination(train, ev, ngram=3, threshold=0.5)


def bpe_vocab_encode(t):
    """bpe_encode_words shape (round 14): vocab-scale tokenizer
    application — Arrow-batched mapInPandas encode of the corpus's
    distinct words under a ~50k-entry merge table, of which only the
    676 char-pair merges can ever apply (the rank-heap schedules by
    adjacency and never scans the table — table size must NOT show up
    in the ratio).  Nx salted copies grow the distinct-word table ~Nx;
    per-word cost is word-length bounded, so wall tracks word count."""
    import string

    from storm_dynamic_spout_spark.operators.text import bpe_encode_words

    words = (
        t("documents")
        .select(F.explode(F.split("text", r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    letters = string.ascii_lowercase
    merges = [(a, b) for a in letters for b in letters]
    merges += [(f"zz{i}", f"qq{i}") for i in range(50_000)]
    return bpe_encode_words(words, "word", merges).select(
        "word", F.size("bpe_tokens").alias("n_tok"), "n"
    )


def decontam_report(t):
    """decontamination_report shape (round-15 staging): per-train-source
    leakage budget — dedup'd (source, gram) vocabulary joined to the
    eval gram set on the hash.  Same 1-in-10 systematic sample and
    salting story as eval_overlap: copies contribute disjoint gram
    blocks, sources survive the salt, so the per-source aggregate grows
    as Nx independent work."""
    from storm_dynamic_spout_spark.operators.corpus import (
        decontamination_report,
    )

    d = t("documents")
    train = d.filter(F.col("doc_id") % 20 == 0)
    ev = d.filter(F.col("doc_id") % 20 == 11)
    return decontamination_report(train, ev, ngram=3)


QUERIES = [
    ("q1_agg", q1),
    ("star_join", star_join),
    ("window_topk", window_topk),
    ("asof_join", asof_join),
    ("binned_range", binned_range_join),
    ("rollup_part", rollup_partial),
    ("minhash_lsh", minhash_lsh),
    ("srp_lsh", srp_lsh),
    ("weighted_sample", weighted_sample),
    ("keep_best", keep_best),
    ("token_budget", token_budget_prefix_sum),
    ("term_freq_topk", term_freq_topk),
    ("rfm_value_cuts", rfm_value_cuts),
    ("basket_pairs", basket_pairs),
    ("boiler_grams", boiler_grams),
    ("pq_adc", pq_adc),
    ("vocab_oov", vocab_oov),
    ("bm25_postings", bm25_postings),
    ("span_dedup", span_dedup),
    ("pagerank_iters", pagerank_iters),
    ("setsim_prefix", setsim_prefix),
    ("spatial_grid", spatial_grid),
    ("bloom_prune", bloom_prune),
    ("abc_pareto", abc_pareto_bands),
    ("heavy_hitters", heavy_hitters_two_pass),
    ("bitmap_distinct", bitmap_distinct_words),
    ("common_neighbors", common_neighbor_wedges),
    ("triangle_close", triangle_close),
    ("countmin_cells", countmin_cells),
    ("kmv_topk", kmv_topk),
    ("kcore_peel", kcore_peel),
    ("rake_phrases", rake_phrases),
    ("zipf_banded_rank", zipf_banded_rank),
    ("ivfpq_adc", ivfpq_adc),
    ("moments_partial_agg", moments_partial_agg),
    ("bpe_token_counts", bpe_token_counts),
    ("survival_histogram", survival_histogram),
    ("ivf_assign", ivf_assign),
    ("hashing_trick", hashing_trick),
    ("asof_nearest", asof_nearest),
    ("whitening", whitening),
    ("ab_test", ab_test_readout),
    ("curriculum", curriculum_order),
    ("compaction_plan", compaction_plan),
    ("clustering_coeff", clustering_coeff),
    ("bootstrap_resamples", bootstrap_resamples),
    ("bpe_pairs", bpe_pairs),
    ("smoothing_folds", smoothing_folds),
    ("did_cells", did_cells),
    ("bpe_learn", bpe_learn),
    ("bm25_stream_probe", bm25_stream_probe),
    ("bt_strengths", bt_strengths),
    ("kappa_agreement", kappa_agreement),
    ("bpe_apply_tokens", bpe_apply_tokens),
    ("eval_overlap", eval_overlap),
    ("bpe_vocab_encode", bpe_vocab_encode),
    ("decontam_report", decontam_report),
]


def main() -> None:
    spark = build_session(EngineConfig({"spark.shuffle_partitions": 32}))
    spark.sparkContext.setLogLevel("ERROR")

    def loader_1x(name):
        if name == "documents_plain":
            name = "documents"
        return load_table(spark, SF_DIR, name)

    def loader_nx(name):
        # documents_plain: Nx documents WITHOUT the per-copy token salt
        # — for pure scan-throughput shapes where the salting regexp
        # (which exists to decorrelate DEDUP copies) would run inside
        # the timed query and distort the ratio
        plain = name == "documents_plain"
        base = load_table(spark, SF_DIR, "documents" if plain else name)
        if name in ("nation", "region", "part"):
            # dims stay dim-sized; part is the interval side of the
            # binned range join — duplicating it would multiply the
            # TRUE result size (5x bands over every price), which
            # measures output growth, not plan health
            return base
        copies = []
        for i in range(COPIES):
            shifted = base
            # shift every *key* column so copies don't collapse in joins
            for col, dt in base.dtypes:
                if col.endswith("key") and dt == "bigint":
                    shifted = shifted.withColumn(
                        col, F.col(col) + F.lit(i * 1_000_000_000)
                    )
            if plain:
                shifted = shifted.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * 1_000_000_000)
                )
            if name == "documents":
                # distinct ids + per-copy token salt: every token gets a
                # copy suffix, so cross-copy Jaccard is 0 and per-copy
                # dup structure is preserved (see minhash_lsh docstring)
                shifted = shifted.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * 1_000_000_000)
                ).withColumn(
                    "text", F.regexp_replace(F.col("text"), r"(\S+)", f"$1_c{i}")
                )
            if name == "embeddings":
                # distinct ids + circular shift by i: decorrelates copies
                shifted = shifted.withColumn(
                    "vec_id", F.col("vec_id") + F.lit(i * 1_000_000_000)
                )
                if i > 0:
                    shifted = shifted.withColumn(
                        "embedding",
                        F.concat(
                            F.slice(F.col("embedding"), i + 1, 64 - i),
                            F.slice(F.col("embedding"), 1, i),
                        ),
                    )
            copies.append(shifted)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        return out

    print(f"scale smoke: {SF_DIR} at 1x vs {COPIES}x (keys shifted per copy)")
    import inspect

    only = {s for s in os.environ.get("SCALE_ONLY", "").split(",") if s}
    for label, build in QUERIES:
        if only and label not in only:
            continue
        takes_scale = "scale" in inspect.signature(build).parameters
        times = {}
        for tag, loader, scale in (
            ("1x", loader_1x, 1),
            (f"{COPIES}x", loader_nx, COPIES),
        ):
            best = float("inf")
            # best-of-3: the host is noisy and the first noop write in a
            # JVM pays ~9s of classloading/codegen — 2 runs is not enough
            # to shed it (a cold fluke once showed asof 1x "slower" than
            # 10x)
            for _ in range(3):
                t0 = time.perf_counter()
                df = build(loader, scale=scale) if takes_scale else build(loader)
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            times[tag] = best
        ratio = times[f"{COPIES}x"] / times["1x"]
        verdict = "OK (≤ linear)" if ratio <= COPIES * 1.3 else "SUSPICIOUS (super-linear)"
        print(
            f"  {label:<12} 1x={times['1x']:.2f}s  {COPIES}x={times[f'{COPIES}x']:.2f}s  "
            f"ratio={ratio:.1f}  {verdict}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
