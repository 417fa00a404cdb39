"""Iterative graph operators expressed as DataFrame loops.

PageRank here is the fixed-iteration power method — each round is ONE
``src``-keyed broadcast-or-shuffle join (ranks are |V|-sized, edges
|E|-sized) plus a ``dst``-keyed partial+final sum, so an iteration
costs the same as one aggregate over the edge table.  Unbounded
convergence loops belong to the connected-components operator
(operators/dedup.py, large/small-star); this one is the bounded-depth
variant a scoring pipeline schedules (k iterations, deterministic
cost).

Reference parity: storm-dynamic-spout has no graph engine — this is
part of the training-data toolkit layer (link-graph quality priors for
crawl corpora à la Common Crawl harmonic/pagerank centrality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 3,
    damping: float = 0.85,
    nodes: DataFrame | None = None,
    checkpoint_every: int | None = 8,
) -> DataFrame:
    """Weighted PageRank after ``iterations`` power steps.

    ``p_{k+1}(v) = (1−d)/N + d · Σ_{u→v} p_k(u) · w(u,v)/out(u)``

    starting from the uniform vector ``1/N``.  Mass from dangling
    nodes (no out-edges) is dropped, not redistributed — documented
    simplification; the catalog fixture has none.

    ``nodes`` (its first column is taken as the node id) defaults to
    the distinct union of edge endpoints.  N is carried as
    a broadcast one-row aggregate, never a driver-side collect, so the
    same plan runs on a billion-node edge list.  ``checkpoint_every``
    truncates lineage with ``local_checkpoint`` the way the CC operator
    does — without it, k joins stack into one ever-deeper plan and
    Catalyst re-analysis goes quadratic past ~20 rounds.

    Returns ``(node, rank)`` with ``rank`` unrounded (callers round
    for cross-engine comparison).
    """
    w = F.col(weight) if weight else F.lit(1.0)
    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"), w.alias("__w"))
    if nodes is None:
        nodes = (
            e.select(F.col("__src").alias("node"))
            .union(e.select(F.col("__dst").alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node"))
    out = e.groupBy("__src").agg(F.sum("__w").alias("__out"))
    # norm and base are loop-INVARIANT and referenced every power
    # step; materialize each once (the adjacency-caching every
    # PageRank implementation does) or Catalyst re-derives the whole
    # upstream edge subtree per iteration — the kcore ~3^rounds plan
    # blow-up (22 scans / 73 exchanges at 3 iterations before this)
    norm = local_checkpoint(
        e.join(out, "__src").select(
            "__src", "__dst", (F.col("__w") / F.col("__out")).alias("__p")
        )
    )
    nstats = nodes.agg(F.count(F.lit(1)).alias("__n"))
    base = local_checkpoint(nodes.crossJoin(F.broadcast(nstats)))
    ranks = base.select("node", (F.lit(1.0) / F.col("__n")).alias("rank"))
    for i in range(iterations):
        contrib = norm.join(
            ranks.withColumnRenamed("node", "__src"), "__src"
        ).select(F.col("__dst").alias("node"), (F.col("rank") * F.col("__p")).alias("__c"))
        summed = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        ranks = base.join(summed, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping) / F.col("__n")
                + F.lit(damping) * F.coalesce(F.col("__s"), F.lit(0.0))
            ).alias("rank"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = local_checkpoint(ranks)
    return ranks


def lpa_labels(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    rounds: int = 3,
    converge: bool = False,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with a
    min-label tie-break: every node adopts the most frequent label
    among its neighbors each round; labels start as node ids.  Returns
    ``(node, lbl)``.

    ``converge=False`` (default): exactly ``rounds`` rounds — fully
    lazy, deterministic plan, the catalog/oracle form.
    ``converge=True``: converge-OR-max-rounds — stop as soon as a
    round changes no label (one extra count aggregate per round, each
    round materialized via local checkpoint), up to ``rounds`` as the
    cap.  The production form: community structure on real graphs
    usually stabilizes in a handful of rounds, and the stable-label
    count is the natural progress metric to log.  Both modes agree
    whenever the fixed round count reaches the fixpoint (pinned by
    tests/test_round9_ops.py, including the bipartite oscillation
    case, which the self-vote damps in BOTH modes).

    Each node's OWN current label votes alongside its neighbors'
    (self-preference) — plain synchronous LPA oscillates on bipartite
    structures (an isolated edge swaps labels every round, so a fixed
    odd round count strands the pair in different communities; pinned
    by the trivial-graph test), and the self-vote is the standard
    deterministic damping.  Implemented as a self-loop per node, so
    the loop body stays one equi-join + mode.

    The symmetric edge list is lazily checkpointed: it is re-joined
    every round, and the checkpoint also severs the lineage between
    ``labels`` (derived from it) and the join's other side."""
    base = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionAll(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    loops = base.select("u").distinct().select("u", F.col("u").alias("v"))
    sym = local_checkpoint(base.unionAll(loops))
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(rounds):
        nb = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy("u", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = W.partitionBy("u").orderBy(F.desc("c"), "lbl")
        new = (
            nb.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("u").alias("node"), "lbl")
        )
        if converge:
            # the count action below materializes it, truncating
            # per-round lineage
            new = local_checkpoint(new)
            changed = (
                new.join(labels.withColumnRenamed("lbl", "__prev"), "node")
                .filter(F.col("lbl") != F.col("__prev"))
                .count()
            )
            labels = new
            if changed == 0:
                break
        else:
            labels = new
    return labels


def orient_by_degree(edges: DataFrame) -> DataFrame:
    """Orient an undirected edge table (columns ``a``, ``b``, each edge
    once in any order) from its lower-(degree, id) endpoint to the
    higher one — the compact-forward orientation (Chiba & Nishizeki
    '85; Latapy '08).  Out-degree under this total order is bounded by
    O(sqrt(m)) on ANY graph: a node of degree d > sqrt(2m) has fewer
    than sqrt(2m) neighbors of degree >= d, so its out-fan is capped
    even at a celebrity node, which is what keeps the wedge self-join
    below from exploding on skewed graphs at 100 TB.

    Returns ``src, dst, src_deg, dst_deg`` with every input edge
    exactly once.  Degrees come from a node-sized aggregate attached by
    two plain equi-joins — no collect, no global sort."""
    ends = edges.select(F.col("a").alias("node")).unionAll(
        edges.select(F.col("b").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("__deg"))
    withdeg = (
        edges.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("__deg", "__da")
        .join(
            deg.withColumnRenamed("node", "b").withColumnRenamed(
                "__deg", "__db"
            ),
            "b",
        )
    )
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    return withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("__da")).otherwise(F.col("__db")).alias("src_deg"),
        F.when(a_first, F.col("__db")).otherwise(F.col("__da")).alias("dst_deg"),
    )


def degree_oriented_triangles(edges: DataFrame) -> DataFrame:
    """One row per triangle via degree-ordered wedge-close: every
    triangle has exactly one apex with two out-edges under the
    compact-forward orientation (its (degree, id)-minimal node), so the
    count is exact with no overcount and no dedup.

    Wedges join on the apex; the (v, w) pair is kept in orientation
    order (v precedes w in the (degree, id) total order), so the
    closing edge — if it exists — is stored exactly as ``v -> w`` and
    one equi-join finishes the triangle.  Fan-out per apex is its
    out-degree, O(sqrt(m)) by :func:`orient_by_degree`, vs the naive
    id-order where a low-id hub contributes a quadratic wedge bucket.

    Returns columns ``apex, v, w`` (one row per triangle)."""
    # The checkpoint stops the self-join below from recomputing the
    # degree agg on both sides.
    d = local_checkpoint(orient_by_degree(edges))
    d1 = d.alias("d1")
    d2 = d.alias("d2")
    wedges = (
        d1.join(d2, F.col("d1.src") == F.col("d2.src"))
        # v precedes w in the orientation order: same (deg, id)
        # comparison orient_by_degree used, so (v, w) matches the
        # stored direction of the closing edge
        .filter(
            (F.col("d1.dst_deg") < F.col("d2.dst_deg"))
            | (
                (F.col("d1.dst_deg") == F.col("d2.dst_deg"))
                & (F.col("d1.dst") < F.col("d2.dst"))
            )
        )
        .select(
            F.col("d1.src").alias("apex"),
            F.col("d1.dst").alias("v"),
            F.col("d2.dst").alias("w"),
        )
    )
    closing = d.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    return wedges.join(closing, ["v", "w"]).select("apex", "v", "w")
