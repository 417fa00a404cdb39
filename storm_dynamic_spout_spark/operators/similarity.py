"""Similarity search over embedding columns (north-star extension).

Brute-force cosine top-k is the correctness baseline; the scale path is
bucketed search (IVF-style coarse quantization — here the fixture's
`label` plays the coarse-centroid id) so the candidate set per query is
|bucket| instead of |corpus|. All arithmetic is built-in higher-order
array functions in double precision — JVM-side, portable to the DuckDB
oracle bit-for-bit (same left-to-right accumulation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint


def as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product (matches DuckDB list_inner_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _with_vec(df: DataFrame, id_col: str, vec_col: str, label_col: str | None = None):
    """Vector as double array + its norm precomputed ONCE per row —
    pair-scoring then costs one dot product per pair instead of three
    array traversals (norms recomputed per pair). Same arithmetic, same
    values: the norm is the identical float either way."""
    cols = [F.col(id_col), as_double(F.col(vec_col)).alias("__v")]
    if label_col:
        cols.append(F.col(label_col))
    return df.select(*cols).withColumn("__n", norm(F.col("__v")))


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_pred: Column,
    k: int = 5,
) -> DataFrame:
    """Brute-force top-k: rows matching ``query_pred`` are the query set
    (broadcast — it is small by construction); every corpus row is scored
    once; per-query top-k via row_number ≤ k (WindowGroupLimit).

    At 100 TB this is one broadcast + one scan + a shuffle on query_id of
    only the scored pairs — no corpus self-join."""
    corpus = _with_vec(df, id_col, vec_col)
    queries = corpus.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("__q"),
        F.col("__n").alias("__qn"),
    )
    scored = corpus.join(F.broadcast(queries), F.col(id_col) != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), id_col)
    return (
        scored.withColumn("cos", dot(F.col("__q"), F.col("__v")) / (F.col("__qn") * F.col("__n")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cos", "rank")
    )


def cosine_topk_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    query_pred: Column,
    k: int = 5,
) -> DataFrame:
    """IVF-style top-k: candidates restricted to the query's coarse
    bucket (here the fixture's `label`; in production, argmin-centroid
    assignment). Join is bucket-equi + broadcast queries → candidate set
    per query is |bucket|, not |corpus|."""
    corpus = _with_vec(df, id_col, vec_col, bucket_col)
    queries = corpus.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("__q"),
        F.col("__n").alias("__qn"),
        F.col(bucket_col).alias("__qb"),
    )
    scored = corpus.join(
        F.broadcast(queries),
        (F.col(bucket_col) == F.col("__qb")) & (F.col(id_col) != F.col("query_id")),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), id_col)
    return (
        scored.withColumn("cos", dot(F.col("__q"), F.col("__v")) / (F.col("__qn") * F.col("__n")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cos", "rank")
    )


def mips_topk_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    query_pred: Column,
    k: int = 5,
) -> DataFrame:
    """Maximum-inner-product top-k restricted to the query's coarse
    bucket — the retrieval scoring used by un-normalized two-tower /
    recommender embeddings, where MIPS ≠ cosine (a high-norm corpus
    vector can dominate every query; normalizing first would change
    the answer).  Rank is by inner product rounded to 1e-6 with id
    tie-break, identical on the oracle side, so near-tie ordering is
    engine-stable.

    At 100 TB: same plan as cosine_topk_ivf — broadcast queries,
    bucket equi-join, per-query WindowGroupLimit heap.  The standard
    sharding refinement is asymmetric augmentation (Shrivastava & Li
    2014): append sqrt(M² − ‖x‖²) to corpus vectors and 0 to queries,
    making inner-product order equal cosine order over constant-norm
    vectors, so the SRP-LSH bucketer (srp_band_pairs) applies
    unchanged — different bucket derivation, same join shape."""
    corpus = _with_vec(df, id_col, vec_col, bucket_col)
    queries = corpus.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("__q"),
        F.col(bucket_col).alias("__qb"),
    )
    scored = corpus.join(
        F.broadcast(queries),
        (F.col(bucket_col) == F.col("__qb")) & (F.col(id_col) != F.col("query_id")),
    ).withColumn("ip", F.round(dot(F.col("__q"), F.col("__v")) * 1e6) / 1e6)
    w = W.partitionBy("query_id").orderBy(F.desc("ip"), id_col)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "ip", "rank")
    )


def cosine_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, bucket_col: str, threshold: float
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold, bucket-blocked
    (same coarse bucket) so the pair join is equi on the bucket key —
    the LSH/IVF blocking pattern, never a full cross join."""
    v = _with_vec(df, id_col, vec_col, bucket_col)
    a = v.select(
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        F.col(bucket_col).alias("__b"),
    )
    b = v.select(
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        F.col(bucket_col).alias("__b"),
    )
    return (
        a.join(b, "__b")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def l2_normalize(df: DataFrame, id_col: str, vec_col: str, round_dp: int = 6) -> DataFrame:
    """Unit-normalize an embedding column: ``(id, l2_norm, unit)`` with
    components rounded in-query (engine-portable — the division is one
    IEEE op per component, rounding pins the cross-engine string repr).
    The preprocessing step every cosine index expects; pure built-in
    array ops, JVM-side, no shuffle.

    For exact cross-engine *integer* comparison use
    :func:`l2_normalize_ppm` — scaling a component already rounded to
    ``round_dp`` places and then truncating re-introduces one-ulp
    mismatches (a 6-dp double like 0.123457 is stored as 0.12345699…)."""
    v = as_double(F.col(vec_col))
    n = norm(v)
    unit = F.transform(v, lambda x: F.round(x / n, round_dp))
    return df.select(
        F.col(id_col),
        F.round(n, round_dp).alias("l2_norm"),
        unit.alias("unit"),
    )


def l2_normalize_ppm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Unit-normalize with integer parts-per-million components:
    ``(id, l2_norm, unit_ppm: array<long>)``.  Each component is the
    raw quotient ``x / ||v||`` scaled by 1e6 and rounded ONCE — the
    same single rounding DuckDB's ``round(x/norm * 1000000)`` applies,
    so the integers match bit-for-bit across engines.  No shuffle."""
    v = as_double(F.col(vec_col))
    n = norm(v)
    ppm = F.transform(v, lambda x: F.round(x / n * 1_000_000).cast("long"))
    return df.select(
        F.col(id_col),
        F.round(n, 6).alias("l2_norm"),
        ppm.alias("unit_ppm"),
    )


def int8_quantize(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric int8 quantization: ``scale = 127 / max|x|``, components
    ``round(x * scale)`` — 4x smaller vectors for the ANN index with
    exact integer outputs (the only float crossing engines is the
    rounded scale). Zero vectors quantize to zeros with scale 0."""
    v = as_double(F.col(vec_col))
    amax = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
    q = F.transform(v, lambda x: F.round(x * scale).cast("int"))
    return df.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        q.alias("q"),
    )


#: Denormal-sd floor for :func:`whiten_ppm`: dimension ``i`` whitens
#: iff ``sd_i > |mu_i| * WHITEN_SD_REL_EPS + WHITEN_SD_ABS_EPS``, else
#: it is the zero-variance case and whitens to 0.  The whiten-family
#: DuckDB oracles interpolate THESE constants (catalog/llm.py
#: _sql_sd_guard), so engine and oracle agree on all inputs — not just
#: fixtures whose sds happen to clear the floor (r14 advice: a plain
#: ``sd > 0`` oracle guard would silently flip the driver compare on a
#: regenerated fixture with a near-constant dimension).
WHITEN_SD_REL_EPS = 1e-12
WHITEN_SD_ABS_EPS = 1e-30


def whiten_ppm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Diagonal (per-dimension) corpus whitening — the embedding
    post-processing step retrieval stacks apply before indexing
    (Su et al. 2021 "Whitening Sentence Representations" restricted to
    the diagonal: full ZCA needs a covariance eigendecomposition, which
    is a driver-side O(d^2) solve, not a Spark shape).  Returns
    ``(id, n_dims, white_ppm: array<long>)`` where component ``i`` is
    ``round((x_i - mu_i) / sd_i * 1e6)`` — rounded ONCE so the integers
    match a SQL oracle bit-for-bit; dimensions with
    ``sd <= 1e-12 * |mu| + 1e-30`` are the zero-variance case and
    whiten to 0.  The relative epsilon (not a bare ``sd == 0`` test)
    is the r13-verdict hardening: a DENORMAL sd (Hypothesis found
    ``sd = 5.9e-39`` on a near-zero dimension) passes ``> 0`` yet is
    pure representation noise — dividing by it scales float dust to
    ±1e6 ppm, and any corpus-wide affine shift collapses the dimension
    to constant, so the whitened output would flip on noise.  Below
    the epsilon a dimension's spread is smaller than the float64
    rounding floor of its own mean — there is no signal to whiten.
    The whiten-family DuckDB oracles interpolate the SAME epsilon
    constants (r15, from the r14 advice), so the equivalence no longer
    rests on the fixture pin alone (fixture sds sit ≥ 9 orders above
    the floor — still pinned in tests/test_round14_ops.py as the
    both-branches-sane check).

    100 TB shape: one posexplode + per-dimension aggregate (map-side
    partial over ``dim`` values per row, ``d`` groups total), the
    d-element mu/sd arrays return via a one-row broadcast cross join,
    and the whitening itself is a map-only ``zip_with``.  No per-vector
    state ever crosses an exchange."""
    v = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
    cell = v.select(F.posexplode("__v").alias("pos", "x"))
    stats = cell.groupBy("pos").agg(
        F.avg("x").alias("mu"), F.stddev_pop("x").alias("sd")
    )
    arrs = (
        stats.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mu", "sd"))).alias("s"))
        .select(
            F.transform("s", lambda s: s.mu).alias("__mus"),
            # zero out sub-epsilon sds here so the zip_with below keeps
            # its single `s > 0` branch
            F.transform(
                "s",
                lambda s: F.when(
                    s.sd <= F.abs(s.mu) * WHITEN_SD_REL_EPS + WHITEN_SD_ABS_EPS,
                    F.lit(0.0),
                ).otherwise(s.sd),
            ).alias("__sds"),
        )
    )
    centered = F.zip_with("__v", "__mus", lambda x, m: x - m)
    white = F.zip_with(
        centered,
        F.col("__sds"),
        lambda d, s: F.when(s > 0, F.round(d / s * 1_000_000))
        .otherwise(F.lit(0.0))
        .cast("long"),
    )
    return v.crossJoin(F.broadcast(arrs)).select(
        F.col(id_col),
        F.size("__v").alias("n_dims"),
        white.alias("white_ppm"),
    )


def cosine_topk_ivf_nprobe(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    query_pred: Column,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Multi-probe IVF top-k: each query searches its ``nprobe`` nearest
    coarse centroids' buckets instead of one — the recall knob real IVF
    indexes expose (probing 2-8 of hundreds of buckets recovers most of
    the recall brute force has, at bucket-sized cost).

    Centroids are bucket means (tiny: |buckets| rows, broadcast);
    query→probe assignment is a broadcast scan + per-query top-nprobe;
    candidate scoring joins corpus to probes on the bucket key — at
    100 TB the probe join stays an equi-join with nprobe·|bucket|
    candidates per query, never |corpus|."""
    corpus = _with_vec(df, id_col, vec_col, bucket_col)
    comp = df.select(
        bucket_col, F.posexplode(as_double(F.col(vec_col))).alias("pos", "val")
    )
    cvec = (
        comp.groupBy(bucket_col, "pos")
        .agg(F.avg("val").alias("c"))
        .groupBy(bucket_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("__pc"))
        .select(
            F.col(bucket_col).alias("__cb"),
            F.transform(F.col("__pc"), lambda s: s.getField("c")).alias("__cv"),
        )
    )
    queries = corpus.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("__q"),
        F.col("__n").alias("__qn"),
    )
    ccos = dot(F.col("__q"), F.col("__cv")) / (F.col("__qn") * norm(F.col("__cv")))
    wq = W.partitionBy("query_id").orderBy(F.desc("__ccos"), "__cb")
    probes = (
        queries.crossJoin(F.broadcast(cvec))
        .withColumn("__ccos", ccos)
        .withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "__q", "__qn", F.col("__cb").alias("__qb"))
    )
    scored = corpus.join(
        F.broadcast(probes),
        (F.col(bucket_col) == F.col("__qb")) & (F.col(id_col) != F.col("query_id")),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), id_col)
    return (
        scored.withColumn(
            "cos", dot(F.col("__q"), F.col("__v")) / (F.col("__qn") * F.col("__n"))
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cos", "rank")
    )


def ivf_assign_labels(
    df: DataFrame, id_col: str, vec_col: str, label_col: str
) -> DataFrame:
    """IVF coarse train + assign in one operator: centroids are the
    per-``label_col`` mean vectors (one k-means update step seeded by
    the given labels) and every vector is re-assigned to its
    argmax-cosine centroid — ``(id_col, assigned)``.  The assignment
    convention (raw double cosine, ties to the smallest label) is the
    SAME one ``ann_ivf_assign`` oracle-proves, so composing this with
    a bucket-restricted search yields the full trained-IVF shape
    (train → assign → scan) without a new comparison convention.

    Why at 100 TB: the codebook is |labels|×dim (broadcast twice: once
    exploded for the update, once as arrays for the assign); the n×k
    candidate fan-out collapses back to one row per vector by map-side
    ``min_by`` partial aggregation BEFORE its exchange, so the corpus
    vectors themselves never shuffle — the pq_assign pattern."""
    v = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v"), F.col(label_col)
    )
    comp = v.select(label_col, F.posexplode("__v").alias("pos", "val"))
    cvec = (
        comp.groupBy(label_col, "pos")
        .agg(F.avg("val").alias("c"))
        .groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("__pc"))
        .select(
            F.col(label_col).alias("__clabel"),
            F.transform(F.col("__pc"), lambda s: s.getField("c")).alias("__cv"),
        )
    )
    cos = dot(F.col("__v"), F.col("__cv")) / (
        F.sqrt(dot(F.col("__v"), F.col("__v")))
        * F.sqrt(dot(F.col("__cv"), F.col("__cv")))
    )
    scored = v.crossJoin(F.broadcast(cvec)).select(
        F.col(id_col), F.col("__clabel"), cos.alias("__cos")
    )
    return scored.groupBy(id_col).agg(
        F.min_by(
            "__clabel", F.struct(-F.col("__cos"), F.col("__clabel").cast("long"))
        ).alias("assigned")
    )


def ivf_train_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    iters: int = 5,
) -> DataFrame:
    """LABEL-FREE IVF coarse training: full-vector k-means (Lloyd) from
    the deterministic first-k-vectors init, then argmin-L2 assignment —
    ``(id_col, assigned)`` with dense 0..k-1 bucket ids.  Completes the
    unsupervised FAISS story: where ``ivf_assign_labels`` seeds its one
    k-means step from a given label column, this needs NOTHING but the
    vectors, so ``pq_topk_ivf_adc_tuned`` composes into a fully trained
    index (coarse k-means + PQ k-means + multi-probe + rerank) on any
    unlabeled corpus.

    Full-vector k-means IS ``pq_train_codebook`` with m=1 (one
    subspace spanning the whole vector), so the training plan — one
    corpus scan per iteration, broadcast centroid table, map-side
    min_by argmin, k×dim-cell mean update, k-row checkpoint per round —
    is shared, not re-derived.  The assignment convention is the
    ``pq_assign`` one: integer-micro L2 with centroid-id tiebreak."""
    cb = pq_train_codebook(df, id_col, vec_col, dim, m=1, k=k, iters=iters)
    assigned = pq_assign(df, id_col, vec_col, dim, m=1, k=k, codebook=cb)
    return assigned.select(F.col(id_col), F.col("code_0").alias("assigned"))


# --- signed-random-projection (random-hyperplane) LSH ------------------

SRP_SEED = 42


def srp_planes(dim: int, n_planes: int, seed: int = SRP_SEED) -> list[list[float]]:
    """Deterministic ±1 hyperplane weights via md5 parity — the same
    list is inlined into the DuckDB oracle SQL, so both engines hash
    with bit-identical planes.  ±1 entries (instead of gaussians) are
    the standard sparse-SRP simplification; sign(v·w) keeps the
    cosine-LSH property (P[bit equal] = 1 − θ/π)."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"srp:{seed}:{p}:{d}".encode()).digest()[0] % 2 == 0 else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def srp_band_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    n_planes: int = 16,
    band_bits: int = 4,
    seed: int = SRP_SEED,
) -> DataFrame:
    """Label-free embedding near-dup pairs via random-hyperplane LSH:
    ``n_planes`` sign bits, banded ``band_bits`` at a time; pairs
    sharing ≥1 band are candidates; exact cosine ≥ ``threshold``
    verifies.  Unlike :func:`cosine_near_dup_pairs` this needs no
    precomputed bucket column — the blocking key is derived from the
    vector itself, which is what a 100 TB corpus without cluster labels
    requires.  Scale shape: band-key equi-join (never all-pairs), one
    dedup shuffle on the candidate pair key, AQE skew-split for dense
    buckets.  Returns ``(id_a, id_b, cos)``."""
    if n_planes % band_bits != 0:
        raise ValueError("n_planes must be a multiple of band_bits")
    planes = srp_planes(dim, n_planes, seed)
    v = _with_vec(df, id_col, vec_col)
    bits = [
        (dot(F.col("__v"), F.array(*[F.lit(w) for w in row])) >= 0).cast("int")
        for row in planes
    ]
    n_bands = n_planes // band_bits
    band_structs = []
    for bi in range(n_bands):
        val: Column = F.lit(0)
        for j in range(band_bits):
            val = val + bits[bi * band_bits + j] * F.lit(2**j)
        band_structs.append(
            F.struct(F.lit(bi).alias("band_idx"), val.alias("band_val"))
        )
    banded = v.select(
        id_col,
        "__v",
        "__n",
        F.explode(F.array(*band_structs)).alias("__bk"),
    ).select(id_col, "__v", "__n", "__bk.band_idx", "__bk.band_val")
    a = banded.select(
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        "band_idx",
        "band_val",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        "band_idx",
        "band_val",
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__va", "__vb", "__na", "__nb")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "cos", dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ)
# ---------------------------------------------------------------------------

#: PQ shape: M subspaces, K centroids per subspace.  The fixture
#: codebook is the subvectors of the first K vectors by id —
#: deterministic with zero training; swap in k-means-trained centroids
#: at scale, same plan shape.
PQ_M = 4
PQ_K = 8


def _dense_codebook(v: DataFrame, id_col: str, k: int) -> DataFrame:
    """Fixture codebook ``(__cid, __c)``: the corpus vectors with
    ``id < k``, re-indexed to a DENSE 0..n-1 ``__cid`` via row_number.

    The PQ code is a POSITIONAL index (``pq_topk_adc`` looks distance
    tables up with ``F.get(table, code)``), so raw ids only work when
    they happen to be contiguous from 0 — 1-based or sparse ids would
    silently fetch the wrong centroid (or NULL).  The unpartitioned
    row_number window is safe: it runs over the ≤k-row codebook that
    broadcasts anyway, never over the corpus."""
    return (
        v.filter(F.col(id_col) < k)
        .select(F.col(id_col).alias("__oid"), F.col("__v").alias("__c"))
        .withColumn(
            "__cid", (F.row_number().over(W.orderBy("__oid")) - 1).cast("long")
        )
        .select("__cid", "__c")
    )


def pq_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = PQ_M,
    k: int = PQ_K,
    carry: list[str] | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization encode: split each vector into ``m``
    subvectors, assign each to its nearest codebook centroid (squared
    L2), and emit the compact code plus the total quantization error —
    the memory-compression path of the ANN family (codes are m bytes
    per vector instead of dim*4).

    Distances are quantized to integer micro-units before the argmin
    and ties break on centroid id, so the assignment is deterministic
    and engine-portable (float near-ties never decide a code).

    Why at 100 TB: the codebook (k*m subcentroids) BROADCASTS; the
    k-way fan-out is collapsed back to one row per vector by map-side
    partial aggregation (all k candidate rows of a vector sit in the
    same partition), so the only exchange carries n compact code rows —
    the corpus vectors themselves never shuffle."""
    sub = dim // m
    carry = carry or []
    v = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v"), *map(F.col, carry)
    )
    cent = (
        codebook
        if codebook is not None
        else _dense_codebook(v.select(F.col(id_col), F.col("__v")), id_col, k)
    )
    joined = v.crossJoin(F.broadcast(cent))
    cols = [F.col(id_col), F.col("__cid"), *map(F.col, carry)]
    for ms in range(m):
        dv = F.slice("__v", ms * sub + 1, sub)
        dc = F.slice("__c", ms * sub + 1, sub)
        d2 = F.aggregate(
            F.zip_with(dv, dc, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(F.round(d2 * 1e6).cast("long").alias(f"__d{ms}"))
    scored = joined.select(*cols)
    aggs = []
    for ms in range(m):
        aggs.append(
            F.min_by("__cid", F.struct(F.col(f"__d{ms}"), F.col("__cid")))
            .cast("long")
            .alias(f"code_{ms}")
        )
        aggs.append(F.min(f"__d{ms}").alias(f"__e{ms}"))
    # ``carry`` columns are constant per id (one vector per row), so
    # grouping by them changes nothing semantically and keeps them in
    # the output without a second corpus scan + join
    out = scored.groupBy(id_col, *carry).agg(*aggs)
    err = sum(F.col(f"__e{ms}") for ms in range(m))
    return out.select(
        F.col(id_col),
        *map(F.col, carry),
        *[F.col(f"code_{ms}") for ms in range(m)],
        err.cast("long").alias("err_micro"),
    )


def pq_topk_adc(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    query_pred: Column,
    k: int = 5,
    m: int = PQ_M,
    kc: int = PQ_K,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the search half
    of the product-quantization path: each query precomputes a tiny
    distance table (its squared L2 to every subcentroid, in the same
    integer micro-units as pq_assign), and every corpus vector's
    approximate distance is m table LOOKUPS on its compact code — no
    float math against corpus vectors at query time.

    Why at 100 TB: the per-query tables are kc*m integers —
    queries × tables BROADCAST; the corpus side touches only the code
    columns (m small ints per vector, the 16x-compressed index, not
    the raw vectors), and the per-query top-k window is
    WindowGroupLimit-pruned.  Combine with the IVF bucket restriction
    (cosine_topk_ivf) to cut the scanned code set per query; ranking
    is on (integer distance, neighbor id) so results are exact given
    the codes — engine-portable, no float near-ties."""
    sub = dim // m
    v = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
    # derive the tiny dense-index codebook ONCE and share it between
    # the encode pass and the per-query distance tables (it is the
    # only subtree the r8 re-index made two stages deep — scan ->
    # single-partition row_number — so computing it twice doubles
    # that latency for zero information)
    cent = local_checkpoint(_dense_codebook(v, id_col, kc))
    codes = pq_assign(df, id_col, vec_col, dim, m, kc, codebook=cent)
    q = v.filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col("__v").alias("__q")
    )
    tcols = [F.col("query_id"), F.col("__cid")]
    for ms in range(m):
        dq = F.slice("__q", ms * sub + 1, sub)
        dc = F.slice("__c", ms * sub + 1, sub)
        d2 = F.aggregate(
            F.zip_with(dq, dc, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        tcols.append(F.round(d2 * 1e6).cast("long").alias(f"__t{ms}"))
    dt = q.crossJoin(F.broadcast(cent)).select(*tcols)

    def _table(ms: int):
        return F.transform(
            F.array_sort(F.collect_list(F.struct("__cid", f"__t{ms}"))),
            lambda s: s.getField(f"__t{ms}"),
        ).alias(f"__arr{ms}")

    tables = dt.groupBy("query_id").agg(*[_table(ms) for ms in range(m)])
    adc = codes.crossJoin(F.broadcast(tables)).filter(
        F.col(id_col) != F.col("query_id")
    )
    approx = None
    for ms in range(m):
        term = F.get(F.col(f"__arr{ms}"), F.col(f"code_{ms}").cast("int"))
        approx = term if approx is None else approx + term
    w = W.partitionBy("query_id").orderBy("approx_d2_micro", id_col)
    return (
        adc.withColumn("approx_d2_micro", approx.cast("long"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "approx_d2_micro", "rank")
    )


def pq_topk_ivf_adc(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    dim: int,
    query_pred: Column,
    k: int = 5,
    m: int = PQ_M,
    kc: int = PQ_K,
) -> DataFrame:
    """IVF-PQ search — the composition the production ANN indexes
    (FAISS IVFPQ) ship: the coarse bucket (IVF) bounds WHICH codes a
    query scans, the PQ code (ADC) bounds WHAT each scan costs.  Same
    distance-table derivation as ``pq_topk_adc``; the corpus side is
    the compact code table carrying its coarse bucket, and the
    scan is a bucket EQUI-join against the broadcast query tables
    instead of a cross join — per query, |bucket| code rows, each
    scored by m integer lookups.

    Why at 100 TB: this is the memory-AND-compute bound pair — 16x
    compressed corpus (codes) scanned at 1/|buckets| selectivity, one
    broadcast, one equi-join keyed on the bucket, WindowGroupLimit
    top-k.  Recall knobs (nprobe, rerank) compose exactly as in
    cosine_topk_ivf_nprobe / the pq rerank pass."""
    sub = dim // m
    v = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v"), F.col(bucket_col)
    )
    cent = local_checkpoint(
        _dense_codebook(
            v.select(F.col(id_col), F.col("__v")), id_col, kc
        )
    )
    codes = pq_assign(
        df.withColumn("__bkt", F.col(bucket_col)),
        id_col,
        vec_col,
        dim,
        m,
        kc,
        carry=["__bkt"],
        codebook=cent,
    )
    q = v.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("__q"),
        F.col(bucket_col).alias("__qb"),
    )
    tcols = [F.col("query_id"), F.col("__qb"), F.col("__cid")]
    for ms in range(m):
        dq = F.slice("__q", ms * sub + 1, sub)
        dc = F.slice("__c", ms * sub + 1, sub)
        d2 = F.aggregate(
            F.zip_with(dq, dc, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        tcols.append(F.round(d2 * 1e6).cast("long").alias(f"__t{ms}"))
    dt = q.crossJoin(F.broadcast(cent)).select(*tcols)

    def _table(ms: int):
        return F.transform(
            F.array_sort(F.collect_list(F.struct("__cid", f"__t{ms}"))),
            lambda s: s.getField(f"__t{ms}"),
        ).alias(f"__arr{ms}")

    tables = dt.groupBy("query_id", "__qb").agg(*[_table(ms) for ms in range(m)])
    adc = codes.join(
        F.broadcast(tables),
        (F.col("__bkt") == F.col("__qb")) & (F.col(id_col) != F.col("query_id")),
    )
    approx = None
    for ms in range(m):
        term = F.get(F.col(f"__arr{ms}"), F.col(f"code_{ms}").cast("int"))
        approx = term if approx is None else approx + term
    w = W.partitionBy("query_id").orderBy("approx_d2_micro", id_col)
    return (
        adc.withColumn("approx_d2_micro", approx.cast("long"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), "approx_d2_micro", "rank"
        )
    )


def pq_train_codebook(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = 5,
) -> DataFrame:
    """K-means-train the PQ codebook per subspace (Lloyd iterations) —
    the "swap in k-means-trained centroids at scale" path the fixture
    codebook's docstring promises.  Returns the same ``(__cid, __c)``
    full-dim contract as ``_dense_codebook`` (the cid-th centroid of
    each subspace, concatenated), so every PQ consumer (``pq_assign``,
    the ADC scans) takes it via their ``codebook=`` parameter with zero
    plan changes.

    Determinism: init is the fixture codebook (first k vectors by id);
    assignment rounds distances to integer micro-units with centroid-id
    tiebreak (the ``pq_assign`` convention); a subspace cluster that
    loses all members keeps its previous centroid.

    Why at 100 TB: per iteration, the corpus is scanned ONCE — each
    vector fans out to its m subvectors map-side, the m*k centroid
    table BROADCASTS, the argmin collapses map-side (min_by partial
    agg), and the centroid update is a (subspace, cid, pos) mean —
    m*k*sub group cells.  Iterations checkpoint the m*k-row
    centroid table only (the dedup/PageRank loop convention), never
    the corpus."""
    sub = dim // m
    v = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
    rows = v.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ms).alias("__ms"),
                        F.slice("__v", ms * sub + 1, sub).alias("__sv"),
                    )
                    for ms in range(m)
                ]
            )
        ).alias("__x")
    ).select("__x.__ms", "__x.__sv")

    init = _dense_codebook(v, id_col, k)
    cent = init.select(
        F.col("__cid"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ms).alias("__ms"),
                        F.slice("__c", ms * sub + 1, sub).alias("__cv"),
                    )
                    for ms in range(m)
                ]
            )
        ).alias("__x"),
    ).select("__x.__ms", "__cid", "__x.__cv")

    d2 = F.aggregate(
        F.zip_with("__sv", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    for _ in range(iters):
        assigned = (
            rows.join(F.broadcast(cent), "__ms")
            .withColumn("__d", F.round(d2 * 1e6).cast("long"))
            .groupBy("__ms", "__sv")
            .agg(
                F.min_by("__cid", F.struct(F.col("__d"), F.col("__cid"))).alias(
                    "__cid"
                ),
                F.count(F.lit(1)).alias("__n_dup"),
            )
        )
        means = (
            assigned.select(
                "__ms",
                "__cid",
                "__n_dup",
                F.posexplode("__sv").alias("__pos", "__val"),
            )
            .groupBy("__ms", "__cid", "__pos")
            # duplicate subvectors collapse in the groupBy above;
            # weight by their multiplicity so the mean is over VECTORS
            .agg(
                (
                    F.sum(F.col("__val") * F.col("__n_dup"))
                    / F.sum("__n_dup")
                ).alias("__c")
            )
            .groupBy("__ms", "__cid")
            .agg(F.array_sort(F.collect_list(F.struct("__pos", "__c"))).alias("__pc"))
            .select(
                "__ms",
                "__cid",
                F.transform("__pc", lambda s: s.getField("__c")).alias("__new"),
            )
        )
        cent = local_checkpoint(
            cent.join(means, ["__ms", "__cid"], "left")
            .select(
                "__ms",
                "__cid",
                # empty cluster keeps its previous centroid
                F.coalesce("__new", "__cv").alias("__cv"),
            )
        )

    return (
        cent.groupBy("__cid")
        .agg(F.array_sort(F.collect_list(F.struct("__ms", "__cv"))).alias("__mc"))
        .select(
            "__cid",
            F.flatten(F.transform("__mc", lambda s: s.getField("__cv"))).alias("__c"),
        )
    )


def pq_topk_ivf_adc_tuned(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    dim: int,
    query_pred: Column,
    k: int = 5,
    m: int = PQ_M,
    kc: int = PQ_K,
    nprobe: int = 1,
    rerank_mult: int = 0,
    train_iters: int = 0,
) -> DataFrame:
    """``pq_topk_ivf_adc`` with the THREE production recall knobs FAISS
    ships, composed (the base operator's docstring promises they
    compose — this is the composition):

    - ``train_iters``: k-means-train the PQ codebook
      (``pq_train_codebook``) instead of the fixture first-k-vectors
      codebook — attacks the code distortion at its source.  ``0``
      keeps the fixture codebook.

    - ``nprobe``: each query scans its ``nprobe`` nearest coarse
      buckets by exact L2 to the bucket MEAN vectors (metric-matched
      to the ADC scan — the cosine variant lives in
      ``cosine_topk_ivf_nprobe``), recovering true neighbors that the
      coarse quantizer put one bucket over.
    - ``rerank_mult``: the ADC scan keeps a ``k * rerank_mult``
      shortlist instead of ``k``, then re-scores JUST the shortlist
      with exact L2 against the original vectors — the standard fix
      for PQ distortion (here m=4 subspaces x 8 fixture centroids =
      12 bits/vector, so distortion dominates).  ``0`` disables.

    Output: ``(query_id, neighbor_id, d2_micro, rank)`` — ``d2_micro``
    is EXACT squared L2 (1e-6 units) when reranked, the ADC
    approximation otherwise.

    Why at 100 TB: everything the base operator promises, plus — the
    bucket-mean table is |buckets| rows (one tiny aggregate,
    broadcast), probes multiply only the BROADCAST side of the ADC
    join (corpus codes are still scanned once, now matching nprobe
    buckets per query), and the rerank touches k*rerank_mult original
    vectors per query via one broadcast equi-join on id — the full
    vectors never shuffle."""
    sub = dim // m
    v = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v"), F.col(bucket_col)
    )
    raw_cent = (
        pq_train_codebook(df, id_col, vec_col, dim, m, kc, iters=train_iters)
        if train_iters > 0
        else _dense_codebook(v.select(F.col(id_col), F.col("__v")), id_col, kc)
    )
    cent = local_checkpoint(raw_cent)
    codes = pq_assign(
        df.withColumn("__bkt", F.col(bucket_col)),
        id_col,
        vec_col,
        dim,
        m,
        kc,
        carry=["__bkt"],
        codebook=cent,
    )
    q = v.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("__q"),
        F.col(bucket_col).alias("__qb0"),
    )

    if nprobe <= 1:
        probes = q.select("query_id", F.col("__qb0").alias("__qb"))
    else:
        # bucket means by one posexplode aggregate; probe ranking is
        # integer-micro L2 with bucket-id tiebreak (deterministic)
        bcent = (
            v.select(bucket_col, F.posexplode("__v").alias("pos", "val"))
            .groupBy(bucket_col, "pos")
            .agg(F.avg("val").alias("c"))
            .groupBy(bucket_col)
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("__pc"))
            .select(
                F.col(bucket_col).alias("__cb"),
                F.transform(F.col("__pc"), lambda s: s.getField("c")).alias("__cv"),
            )
        )
        cd2 = F.aggregate(
            F.zip_with("__q", "__cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        wq = W.partitionBy("query_id").orderBy("__cd2", "__cb")
        probes = (
            q.crossJoin(F.broadcast(bcent))
            .withColumn("__cd2", F.round(cd2 * 1e6).cast("long"))
            .withColumn("__pr", F.row_number().over(wq))
            .filter(F.col("__pr") <= nprobe)
            .select("query_id", F.col("__cb").alias("__qb"))
        )

    tcols = [F.col("query_id"), F.col("__cid")]
    for ms in range(m):
        dq = F.slice("__q", ms * sub + 1, sub)
        dc = F.slice("__c", ms * sub + 1, sub)
        d2 = F.aggregate(
            F.zip_with(dq, dc, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        tcols.append(F.round(d2 * 1e6).cast("long").alias(f"__t{ms}"))
    dt = q.crossJoin(F.broadcast(cent)).select(*tcols)

    def _table(ms: int):
        return F.transform(
            F.array_sort(F.collect_list(F.struct("__cid", f"__t{ms}"))),
            lambda s: s.getField(f"__t{ms}"),
        ).alias(f"__arr{ms}")

    tables = dt.groupBy("query_id").agg(*[_table(ms) for ms in range(m)])
    adc = codes.join(
        F.broadcast(probes.join(tables, "query_id")),
        (F.col("__bkt") == F.col("__qb")) & (F.col(id_col) != F.col("query_id")),
    )
    approx = None
    for ms in range(m):
        term = F.get(F.col(f"__arr{ms}"), F.col(f"code_{ms}").cast("int"))
        approx = term if approx is None else approx + term
    shortlist_k = k * rerank_mult if rerank_mult > 0 else k
    w = W.partitionBy("query_id").orderBy("d2_micro", id_col)
    shortlist = (
        adc.withColumn("d2_micro", approx.cast("long"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= shortlist_k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "d2_micro", "rank")
    )
    if rerank_mult <= 0:
        return shortlist
    xd2 = F.aggregate(
        F.zip_with("__q", "__nv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wr = W.partitionBy("query_id").orderBy("d2_micro", "neighbor_id")
    return (
        v.select(F.col(id_col).alias("neighbor_id"), F.col("__v").alias("__nv"))
        .join(F.broadcast(shortlist.select("query_id", "neighbor_id")), "neighbor_id")
        .join(F.broadcast(q.select("query_id", "__q")), "query_id")
        .withColumn("d2_micro", F.round(xd2 * 1e6).cast("long"))
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "d2_micro", "rank")
    )
