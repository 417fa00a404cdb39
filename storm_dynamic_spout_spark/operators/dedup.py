"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard
(north-star extension; SURVEY §2.11 engine mapping).

Scale design: every family avoids the O(n²) all-pairs comparison —
candidates come from hash-bucket equi-joins (LSH bands / identical
simhash / shared fingerprint), so the shuffle is on bucket keys and the
pair-verification join only touches same-bucket rows. At 100 TB the
bucket join is a plain shuffled equi-join Catalyst handles; skewed
buckets (a viral duplicate cluster) are split by AQE skew-join.

All hashes are md5-derived and engine-portable (identical values in
Spark and DuckDB), so every operator is oracle-checkable.

Shared subtrees and fixpoint rounds materialize through
``operators.checkpoint.local_checkpoint``, which refuses a lazy
checkpoint of a nondeterministic plan (its docstring carries the
DETERMINISM note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint
from storm_dynamic_spout_spark.operators.skew import fan_out_narrow
from storm_dynamic_spout_spark.operators.text import (
    content_fingerprint,
    distinct_tokens,
    token_hash,
)

#: MinHash parameters: 8 hash functions → 2 bands × 4 rows.
MINHASH_SEEDS = tuple(range(8))
MINHASH_BANDS = ((0, 1, 2, 3), (4, 5, 6, 7))

#: SimHash width (bits). 16 keeps the per-bit expression set small while
#: still separating non-near-dup docs; widen via SIMHASH_BITS at scale.
SIMHASH_BITS = 16


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup on normalized content: one representative
    (min id) per distinct content fingerprint + duplicate count.

    One shuffle on the md5 fingerprint (not the full text — 32-byte keys
    keep the exchange small at 100 TB)."""
    # NOT fanned out: one md5 over the text per row is too little work
    # to buy back a repartition of the text payload (A/B'd r16 — the
    # gram/minhash passes fan out, this one stays narrow-tolerant)
    return (
        df.select(
            F.col(id_col), content_fingerprint(F.col(text_col)).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


def dedup_by_key(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep the first row (min order_col) per key — the row_number()==1
    pattern; Spark plans WindowGroupLimit so non-winners never
    materialize past the sort."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy(*keys).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_col(text_col: Column, seed: int) -> Column:
    """One MinHash value: lexicographic min of seeded md5 over the
    distinct token set. String-min is order-isomorphic to integer-min of
    the hash, and identical across engines."""
    toks = distinct_tokens(text_col)
    return F.array_min(
        F.transform(toks, lambda x: F.md5(F.concat(F.lit(f"{seed}:"), x).cast("binary")))
    )


def minhash_signature(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """id + minhash_0..7 + band keys (md5 of concatenated band rows).

    The distinct-token array is materialized ONCE as a column before the
    8 minhash lambdas reference it — an expression nested inside a
    higher-order lambda is re-evaluated per array element, which turns
    split+distinct into O(tokens²) work per row."""
    # tokenize + 8 seeded md5 sweeps are the CPU pass; one-row-group
    # inputs would run them on one core (fan_out_narrow note)
    return minhash_signature_tokens(
        fan_out_narrow(df).select(
            F.col(id_col), distinct_tokens(F.col(text_col)).alias("__toks")
        ),
        id_col,
        "__toks",
    ).drop("__toks")


def minhash_signature_tokens(
    df: DataFrame, id_col: str, toks_col: str
) -> DataFrame:
    """Signature from an ALREADY-TOKENIZED distinct-token array column —
    lets a pipeline that needs the token arrays elsewhere (sizes, exact
    verification, exact-set collapse) tokenize the corpus once instead
    of re-splitting the text per consumer."""

    def seeded_md5(seed: int):
        # closure factory (default-arg lambdas read as the 2-arg form)
        return lambda x: F.md5(F.concat(F.lit(f"{seed}:"), x).cast("binary"))

    out = df
    for s in MINHASH_SEEDS:
        out = out.withColumn(
            f"minhash_{s}", F.array_min(F.transform(F.col(toks_col), seeded_md5(s)))
        )
    for b, rows in enumerate(MINHASH_BANDS):
        out = out.withColumn(
            f"band_{b}",
            F.md5(F.concat(*[F.col(f"minhash_{r}") for r in rows]).cast("binary")),
        )
    return out


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    sizes: DataFrame | None = None,
    size_ratio: float | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one band bucket.

    The bands are EXPLODED into (band_idx, band_key) rows and the self-
    join runs ONCE on the composite key — one exchange of the exploded
    signature (reused for both join sides) instead of one join per band
    over a re-computed signature.  Never an all-pairs product.

    ``sizes`` (``(id_col, __n)``) + ``size_ratio``: push the Jaccard
    size-ratio prune INTO the band join, before the candidate distinct
    — J ≥ t implies min(|A|,|B|)/max(|A|,|B|) ≥ t, so mismatched-size
    pairs (≈half the candidates on the fixture corpus) never reach the
    dedup shuffle or the verify probes.  Purely an early application of
    the same filter jaccard_verify applies; the final pair set is
    unchanged.

    ``materialize``: checkpoint the exploded band rows before the
    self-join.  Catalyst does NOT reuse the exchange across the two
    differently-aliased sides, so without this the whole signature
    subtree (8 md5 minhash lambdas over every token) is computed TWICE;
    the checkpoint computes it once and both sides scan the result.
    (Local checkpoint = executor-local blocks; on a real cluster prefer
    reliable checkpointing or persist() if executor loss matters —
    here the rows are cheap to rebuild.)"""
    bands = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"), F.col(f"band_{b}").alias("__bk")
                    )
                    for b in range(len(MINHASH_BANDS))
                ]
            )
        ).alias("__x"),
    ).select(id_col, "__x.band_idx", "__x.__bk")
    if sizes is not None and size_ratio is not None:
        bands = bands.join(sizes, id_col)
        if materialize:
            bands = local_checkpoint(bands)
        a = bands.select(
            F.col(id_col).alias("id_a"), "band_idx", "__bk", F.col("__n").alias("__na")
        )
        c = bands.select(
            F.col(id_col).alias("id_b"), "band_idx", "__bk", F.col("__n").alias("__nb")
        )
        joined = (
            a.join(c, ["band_idx", "__bk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                (F.col("__na") >= F.lit(size_ratio) * F.col("__nb"))
                & (F.col("__nb") >= F.lit(size_ratio) * F.col("__na"))
            )
        )
    else:
        if materialize:
            bands = local_checkpoint(bands)
        a = bands.select(F.col(id_col).alias("id_a"), "band_idx", "__bk")
        c = bands.select(F.col(id_col).alias("id_b"), "band_idx", "__bk")
        joined = a.join(c, ["band_idx", "__bk"]).filter(F.col("id_a") < F.col("id_b"))
    return joined.select("id_a", "id_b").distinct()


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    tok_df: DataFrame | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Exact token-set Jaccard on candidate pairs; keep ≥ threshold.

    Verify-stage economics dominate this operator (true near-dup pairs
    can number ~1M per 5k docs on dense corpora), so three
    semantics-preserving levers:

    - tokens are 60-bit int hashes, not strings: fixed-width compares,
      ~4× narrower shuffle/broadcast rows
    - union via |A| + |B| − |A∩B|: one array op per pair, not two
    - size-ratio prune BEFORE touching arrays: J ≥ t ⟹
      min(|A|,|B|)/max(|A|,|B|) ≥ t, so mismatched-size pairs die on two
      int comparisons
    - ``tok_df`` (``(id_col, __toks)`` distinct string tokens) skips
      re-tokenizing the text; ``materialize`` checkpoints the
      hashed arrays so the a- and b-side joins scan one computed copy
      instead of hashing every token twice
    """
    if tok_df is not None:
        toks = tok_df.select(
            F.col(id_col),
            F.transform(F.col("__toks"), token_hash).alias("__toks"),
        ).withColumn("__n", F.size("__toks"))
    else:
        # tokenize + per-token hash is the CPU pass (fan_out_narrow note)
        toks = fan_out_narrow(docs).select(
            F.col(id_col),
            F.transform(distinct_tokens(F.col(text_col)), token_hash).alias("__toks"),
        ).withColumn("__n", F.size("__toks"))
    if materialize:
        toks = local_checkpoint(toks)
    a = toks.select(
        F.col(id_col).alias("id_a"), F.col("__toks").alias("__ta"), F.col("__n").alias("__na")
    )
    b = toks.select(
        F.col(id_col).alias("id_b"), F.col("__toks").alias("__tb"), F.col("__n").alias("__nb")
    )
    inter = F.size(F.array_intersect("__ta", "__tb")).cast("double")
    union = (F.col("__na") + F.col("__nb")).cast("double") - F.col("__inter")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(
            (F.col("__na") >= F.lit(threshold) * F.col("__nb"))
            & (F.col("__nb") >= F.lit(threshold) * F.col("__na"))
        )
        .withColumn("__inter", inter)
        .withColumn("jaccard", F.col("__inter") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    collapse_exact: bool = True,
) -> DataFrame:
    """Full pipeline: signature → LSH buckets → candidate pairs →
    exact-Jaccard verification.

    ``collapse_exact`` (default): documents with IDENTICAL distinct-
    token sets collapse to one representative (min id) before the LSH
    join, and verified representative pairs expand back to document
    pairs afterwards.  Output is pair-for-pair identical to the
    uncollapsed pipeline — identical token sets mean identical
    signatures (so candidate status is preserved both ways) and
    identical Jaccard values — but the quadratic bucket join runs on
    representatives only.  On a dup-dense corpus this is the difference
    between a 250-copy viral document contributing one bucket row and
    contributing 250² join pairs; exactly the skew a 100 TB crawl
    exhibits."""
    if not collapse_exact:
        sig = minhash_signature(df, id_col, text_col)
        cands = lsh_candidate_pairs(sig, id_col, materialize=True)
        return jaccard_verify(cands, df, id_col, text_col, threshold)

    # tokenize ONCE and checkpoint: the exact-set key, the
    # signature, the size prune, and the exact verification all read
    # this one materialized token table instead of re-splitting the
    # text per consumer (was: 20 file scans / 16 minhash evaluations
    # per run — Catalyst can't dedupe differently-aliased subtrees);
    # fanned out so the tokenize pass and every checkpoint consumer
    # run wide.
    tok = local_checkpoint(
        fan_out_narrow(df).select(
            F.col(id_col), distinct_tokens(F.col(text_col)).alias("__toks")
        )
    )
    keyed = tok.select(
        F.col(id_col),
        F.md5(F.to_json(F.array_sort(F.col("__toks")))).alias("__tk"),
    )
    groups = keyed.groupBy("__tk").agg(
        F.min(id_col).alias("__rep"), F.count(F.lit(1)).alias("__gn")
    )
    # materialize the doc→rep mapping ONCE: it feeds four consumers
    # (cross-expansion a/b sides, both intra-pair sides) and the rep
    # filter below — without the checkpoint Catalyst re-evaluates the
    # exact-key subtree (md5 over the sorted token array, corpus-wide)
    # plus the groups exchange+aggregate once per aliased copy
    mapping = local_checkpoint(
        keyed.join(groups, "__tk").select(F.col(id_col), "__rep", "__gn")
    )
    # a group's rep is its min member id, so reps are exactly the rows
    # with id == rep — read them from the checkpointed mapping instead
    # of re-deriving groups
    reps_tok = tok.join(
        mapping.filter(F.col(id_col) == F.col("__rep")).select(id_col), id_col
    )
    sig = minhash_signature_tokens(reps_tok, id_col, "__toks")
    sizes = reps_tok.select(F.col(id_col), F.size("__toks").alias("__n"))
    cands = lsh_candidate_pairs(
        sig, id_col, sizes=sizes, size_ratio=threshold, materialize=True
    )
    rep_pairs = jaccard_verify(
        cands, reps_tok, id_col, text_col, threshold,
        tok_df=reps_tok, materialize=True,
    )
    # cross-group expansion: members(rep_a) × members(rep_b); groups are
    # disjoint, so each unordered doc pair appears exactly once
    ma = mapping.select(F.col("__rep").alias("id_a"), F.col(id_col).alias("__da"))
    mb = mapping.select(F.col("__rep").alias("id_b"), F.col(id_col).alias("__db"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__da", "__db").alias("id_a"),
            F.greatest("__da", "__db").alias("id_b"),
            "jaccard",
        )
    )
    # intra-group pairs: identical token sets ⇒ jaccard exactly 1.0,
    # always ≥ threshold; all member pairs within each multi-doc group
    intra = (
        mapping.filter(F.col("__gn") >= 2)
        .select(F.col("__rep"), F.col(id_col).alias("__da"))
        .join(
            mapping.select(F.col("__rep"), F.col(id_col).alias("__db")), "__rep"
        )
        .filter(F.col("__da") < F.col("__db"))
        .select(
            F.col("__da").alias("id_a"),
            F.col("__db").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_from_hashes(hashes: Column, n: Column, bits: int) -> Column:
    """SimHash bits from a *materialized* token-hash array column. The
    hash array must be an attribute, not a nested expression — an
    expression inside a higher-order lambda is re-evaluated per array
    element (see minhash_signature)."""

    def bit_set(i: int):
        # closure factory (a default-arg lambda reads as the 2-arg form)
        return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1

    sim = F.lit(0).cast("long")
    for i in range(bits):
        ones = F.size(F.filter(hashes, bit_set(i)))
        bit = F.when(ones * 2 > n, F.lit(1)).otherwise(F.lit(0)).cast("long")
        sim = sim + (bit * F.lit(1 << i))
    return sim


def with_simhash(
    df: DataFrame, id_col: str, text_col: str, out_col: str = "simhash"
) -> DataFrame:
    """id + simhash: bit i set iff the count of token-hashes with bit i
    set exceeds half the distinct-token count."""
    # tokenize + per-token hash is the CPU pass (fan_out_narrow note)
    hashed = fan_out_narrow(df).select(
        F.col(id_col),
        F.transform(distinct_tokens(F.col(text_col)), token_hash).alias("__hs"),
    ).withColumn("__n", F.size("__hs"))
    return hashed.select(
        F.col(id_col),
        _simhash_from_hashes(F.col("__hs"), F.col("__n"), SIMHASH_BITS).alias(out_col),
    )


def simhash_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group docs by identical simhash (hamming-0 buckets): candidate
    near-dup clusters at zero join cost beyond one shuffle."""
    return (
        with_simhash(df, id_col, text_col)
        .groupBy("simhash")
        .agg(F.count("*").cast("long").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3) -> DataFrame:
    """Pairs within hamming distance ≤ max_hamming, candidate-limited to
    LSH band buckets (reusing the minhash bands) so the comparison never
    goes all-pairs."""
    sig = minhash_signature(df, id_col, text_col)
    # sims feeds BOTH verify-join sides — without it the corpus-wide
    # simhash (a hash per token per bit) computed twice; materialize=
    # True likewise shares the exploded band signature across the
    # candidate self-join sides
    sims = local_checkpoint(with_simhash(df, id_col, text_col, "__sh"))
    cands = lsh_candidate_pairs(sig, id_col, materialize=True)
    a = sims.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sims.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Character n-gram Jaccard
# ---------------------------------------------------------------------------


def with_char_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, out_col: str = "__g"
) -> DataFrame:
    """id + distinct character n-grams of the normalized text, as
    60-bit integer hashes (fixed-width compares in the verify join —
    same engine-portable hash as tokens). The normalized string is
    materialized as a column FIRST so the per-gram substr lambda
    references an attribute — nesting the regexp_replace inside the
    lambda re-runs it once per character of every document."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    # per-character gram transform is the CPU pass (fan_out_narrow note)
    normed = fan_out_narrow(df).select(F.col(id_col), norm.alias("__norm"))
    idx = F.sequence(F.lit(1), F.greatest(F.length("__norm") - (n - 1), F.lit(1)))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.col("__norm").substr(i, F.lit(n)))
    )
    return normed.select(
        F.col(id_col), F.transform(grams, token_hash).alias(out_col)
    )


def full_signature_pairs(sig: DataFrame, id_col: str) -> DataFrame:
    """Strict blocking: pairs whose ENTIRE 8-hash signature matches
    (vs per-band buckets). On low-entropy corpora the per-band buckets
    go quadratic; the full signature only collides for (near-)identical
    token sets, keeping the verify join linear in true-dup clusters."""
    key = F.md5(F.concat(*[F.col(f"minhash_{s}") for s in MINHASH_SEEDS]).cast("binary"))
    # Both self-join sides consume the keyed signature — without it
    # the whole 8-hash signature subtree (md5 per token per seed)
    # computed TWICE
    keyed = local_checkpoint(sig.select(F.col(id_col), key.alias("__sig")))
    a = keyed.select(F.col(id_col).alias("id_a"), "__sig")
    b = keyed.select(F.col(id_col).alias("id_b"), "__sig")
    return a.join(b, "__sig").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Character-n-gram Jaccard over strictly-blocked candidate pairs
    (full-signature match: the n-gram verify is ~10× costlier per pair
    than token Jaccard, so it gets the tighter candidate set)."""
    sig = minhash_signature(df, id_col, text_col)
    cands = full_signature_pairs(sig, id_col)
    # grams feeds BOTH verify-join sides — without it the char-n-gram
    # explode + hash ran twice over the corpus
    grams = local_checkpoint(with_char_ngrams(df, id_col, text_col, n))
    a = grams.select(
        F.col(id_col).alias("id_a"), F.col("__g").alias("__ga"), F.size("__g").alias("__na")
    )
    b = grams.select(
        F.col(id_col).alias("id_b"), F.col("__g").alias("__gb"), F.size("__g").alias("__nb")
    )
    inter = F.size(F.array_intersect("__ga", "__gb")).cast("double")
    union = (F.col("__na") + F.col("__nb")).cast("double") - F.col("__inter")
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .filter(
            (F.col("__na") >= F.lit(threshold) * F.col("__nb"))
            & (F.col("__nb") >= F.lit(threshold) * F.col("__na"))
        )
        .withColumn("__inter", inter)
        .withColumn("ngram_jaccard", F.col("__inter") / union)
        .filter(F.col("ngram_jaccard") >= threshold)
        .select("id_a", "id_b", "ngram_jaccard")
    )


def _canonical_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set in canonical (greater, lesser) form, no
    self-loops, distinct."""
    return (
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("__s"),
            F.least(F.col(src), F.col(dst)).alias("__d"),
        )
        .filter(F.col("__s") != F.col("__d"))
        .distinct()
    )


#: Edge-count crossover between the two star-round physical shapes.
#: Below it, the whole edge set is small enough that even a
#: total-degree hub is a bounded single task (≤ the full edge count,
#: tens of MB) and the window-min shape wins on job count (measured at
#: sf0.1: 59 vs 118 driver jobs, best 5.15s vs 6.55s — the extra jobs
#: are the mins checkpoint materializations, pure scheduling overhead
#: at this scale).  Above it, a power-law hub's partition is a real
#: straggler and the skew-safe aggregate+join shape is the only one
#: AQE can split.  10M edges ≈ 300 MB per worst-case task — the edge
#: of the healthy task-size range (guide §2.5).
STAR_SKEW_SAFE_MIN_EDGES = 10_000_000


def _large_star(canon: DataFrame, skew_safe: bool = True) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node connects its strictly-larger
    neighbors to the minimum of its closed neighborhood.  Halves long
    paths — the O(log n) contraction step.

    ``skew_safe=True`` (the at-scale shape, r15 verdict item 3) is a
    skew-proof two-level min (guide §2.5): the neighborhood minimum is
    a ``groupBy(__s).min`` — a hash aggregate whose map-side partials
    reduce even a power-law hub's adjacency to one row per map task
    before the exchange — joined back onto only the ``v > u`` probe
    rows (exactly the swapped canonical edges, so the probe exchange
    carries HALF the symmetric edge list the window shape shuffles).
    The join is AQE-skew-splittable, unlike a
    ``Window.partitionBy(__s)`` min, which forces the hub's entire
    adjacency into one task with no partial aggregation and no skew
    split.

    ``skew_safe=False`` (small graphs, below
    :data:`STAR_SKEW_SAFE_MIN_EDGES`): the one-exchange window min —
    fewer driver jobs, and safe because any single partition is
    bounded by the full (small) edge count.

    Output is NOT deduplicated under either shape: every row is (v, m)
    with v > u ≥ m taken once per (u,v) edge, duplicates only arise
    across u-groups mapping v to the same m, and the small-star round
    that always follows is min-idempotent under duplicates — its final
    distinct restores the canonical set."""
    sym = canon.unionByName(
        canon.select(F.col("__d").alias("__s"), F.col("__s").alias("__d"))
    )
    if not skew_safe:
        w = Window.partitionBy("__s")
        # v > u >= m, so (v, m) is already canonical (greater, lesser)
        return (
            sym.withColumn("__m", F.least(F.min("__d").over(w), F.col("__s")))
            .filter(F.col("__d") > F.col("__s"))
            .select(F.col("__d").alias("__s"), F.col("__m").alias("__d"))
            .filter(F.col("__s") != F.col("__d"))
        )
    # min over the OPEN neighborhood; closed-neighborhood min is
    # least(__m0, u), taken per probe row below.
    # lazy checkpoint of the min aggregate over the eager-checkpointed
    # canon.  Load-bearing for skew safety, not reuse: with the final
    # HashAggregate above the shuffle stage, AQE's OptimizeSkewedJoin
    # pattern (Sort+ShuffleRead on both sides) does not match and a
    # power-law hub's partition cannot be split — measured: skew=true
    # fires only with this materialized
    mins = local_checkpoint(
        sym.groupBy("__s")
        .agg(F.min("__d").alias("__m0"))
    )
    # rows with __d > __s in sym are exactly the swapped canonical
    # edges: (u, v) with v > u ⇔ canonical (v, u)
    probe = canon.select(F.col("__d").alias("__s"), F.col("__s").alias("__d"))
    # v > u >= m, so (v, m) is already canonical (greater, lesser)
    return (
        probe.join(mins, "__s")
        .select(
            F.col("__d").alias("__s"),
            F.least(F.col("__m0"), F.col("__s")).alias("__d"),
        )
        .filter(F.col("__s") != F.col("__d"))
    )


def _small_star(canon: DataFrame, skew_safe: bool = True) -> DataFrame:
    """Small-star round: every node links all its smaller neighbors
    (and itself) to the minimum among them — flattens the tree toward
    the component minimum.  Same two shapes as :func:`_large_star`
    (in the skew-safe shape the per-node min is one aggregate row, so
    the self-edge needs no window/dropDuplicates); tolerates duplicate
    input rows (min is duplicate-blind), emits the distinct canonical
    edge set the fixpoint test compares."""
    if not skew_safe:
        w = Window.partitionBy("__s")
        with_min = canon.withColumn("__m", F.min("__d").over(w))
        to_min = with_min.filter(F.col("__d") != F.col("__m")).select(
            F.col("__d").alias("__s"), F.col("__m").alias("__d")
        )
        # partitioning on __s from the window already clusters the
        # rows, so this per-__s dedup adds no exchange
        self_edge = with_min.select("__s", F.col("__m").alias("__d")).dropDuplicates(
            ["__s"]
        )
        return (
            to_min.unionByName(self_edge)
            .filter(F.col("__s") != F.col("__d"))
            .distinct()
        )
    # lazy checkpoint of the min aggregate over the round's
    # eager-checkpointed edge set; required for AQE skew-join
    # splitting of the join below — see the _large_star mins note
    mins = local_checkpoint(
        canon.groupBy("__s")
        .agg(F.min("__d").alias("__m"))
    )
    to_min = (
        canon.join(mins, "__s")
        .filter(F.col("__d") != F.col("__m"))
        .select(F.col("__d").alias("__s"), F.col("__m").alias("__d"))
    )
    self_edge = mins.select("__s", F.col("__m").alias("__d"))
    return (
        to_min.unionByName(self_edge)
        .filter(F.col("__s") != F.col("__d"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    method: str = "label_prop",
) -> DataFrame:
    """Connected components over near-dup pairs: every node labeled with
    the MINIMUM id reachable from it — the canonical cluster id that
    turns pair detection into corpus-level dedup (keep one doc per
    cluster, not per pair).

    ``method="label_prop"`` (default): iterative min-label propagation
    (the Pregel/GraphX pattern): each round, a node takes the smallest
    label among itself and its neighbors; converged when a round changes
    nothing. The loop is driver-side but each step is a distributed
    equi-join + aggregate; an eager ``local_checkpoint`` truncates the
    growing lineage each round. Rounds needed = graph diameter — right for
    near-dup graphs, whose clusters are shallow.

    ``method="star"``: alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    public MapReduce algorithm): each pair of rounds halves path
    lengths, converging in O(log n) rounds regardless of diameter —
    the 100 TB choice when dup chains can be long (boilerplate striping
    across a crawl).  Both methods reach the same fixpoint labels
    (property-tested in tests/test_corpus_properties.py).
    """
    if method == "star":
        canon = local_checkpoint(_canonical_edges(pairs, src, dst), eager=True)
        n_prev = canon.count()
        for _ in range(max_iter):
            # NOTE (r12 experiment): coalescing the contracted edge set
            # to fewer partitions between rounds was MEASURED SLOWER
            # (5.6s vs 4.9s at sf0.1) — coalesce collapses the star
            # joins' final stage to the narrow width, losing more
            # parallelism than the per-task scheduling it saves; AQE
            # already right-sizes the post-shuffle partitions.
            #
            # Per-round shape dispatch on the edge count the fixpoint
            # loop already tracks: small edge sets take the
            # one-exchange window shape (any straggler is bounded by
            # the whole edge count; fewer driver jobs), large ones the
            # AQE-skew-splittable aggregate+join shape — see
            # STAR_SKEW_SAFE_MIN_EDGES for the measured crossover.
            safe = n_prev > STAR_SKEW_SAFE_MIN_EDGES
            canon2 = local_checkpoint(
                _small_star(
                    _large_star(canon, skew_safe=safe), skew_safe=safe
                ),
                eager=True,
            )
            # fixpoint test: equal cardinality + one-directional set
            # containment ⇒ set equality (star output is distinct by
            # construction).  isEmpty() short-circuits at the first
            # differing row — cheaper than exceptAll().count() == 0,
            # which always builds the full difference
            n_new = canon2.count()
            same = n_new == n_prev and (
                canon2.join(canon, ["__s", "__d"], "left_anti").isEmpty()
            )
            canon, n_prev = canon2, n_new
            if same:
                break
        lab = canon.groupBy("__s").agg(F.min("__d").alias("__l"))
        return (
            nodes.select(F.col(id_col).alias("__n"))
            .join(lab, F.col("__n") == F.col("__s"), "left")
            .select(
                F.col("__n").alias(id_col),
                F.coalesce(F.col("__l"), F.col("__n")).alias("cluster_id"),
            )
        )
    if method != "label_prop":
        raise ValueError(f"unknown connected_components method: {method!r}")
    e = pairs.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    edges = local_checkpoint(
        e.unionByName(e.select(F.col("__d").alias("__s"), F.col("__s").alias("__d")))
        .distinct(),
        eager=True,
    )
    labels = nodes.select(F.col(id_col).alias("__n"), F.col(id_col).alias("__l"))
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["__d"] == labels["__n"])
            .groupBy("__s")
            .agg(F.min("__l").alias("__nl"))
        )
        new = local_checkpoint(
            labels.join(nbr, labels["__n"] == nbr["__s"], "left")
            .select(
                F.col("__n"),
                F.least(F.col("__l"), F.coalesce(F.col("__nl"), F.col("__l"))).alias("__l"),
            ),
            eager=True,
        )
        changed = (
            new.join(labels.withColumnRenamed("__l", "__prev"), "__n")
            .filter(F.col("__l") != F.col("__prev"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    return labels.select(F.col("__n").alias(id_col), F.col("__l").alias("cluster_id"))


# ---------------------------------------------------------------------------
# Asymmetric containment (subset duplication)
# ---------------------------------------------------------------------------


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    ngram: int = 8,
) -> DataFrame:
    """Asymmetric near-dup detection: ``(contained_id, container_id,
    containment)`` where containment = |G_a ∩ G_b| / |G_a| over hashed
    token ``ngram``-gram sets.

    Jaccard-tuned MinHash bands MISS subset duplication (a page that
    embeds another's article plus boilerplate has low Jaccard but high
    one-sided containment — the RefinedWeb/Gopher case), so candidates
    come from a shared-8-gram equi-join instead: verbatim phrase reuse
    IS the signal, and the join key is the phrase hash.  Verification
    is exact on the full gram sets, one intersect per unordered pair,
    emitted per passing direction.

    Scale: explode ships 8-byte gram hashes (never text); hot grams
    (site boilerplate) are AQE-skew-split — or cap gram document
    frequency upstream when boilerplate is known.  Documents with
    fewer than ``ngram`` tokens have no grams and drop out naturally.
    """
    from storm_dynamic_spout_spark.operators.corpus import token_ngram_hashes

    # gram hashing is the expensive pass and has FOUR consumers (both
    # candidate-join sides + both verify sides); materialize it once
    # (the minhash materialize= rationale at :148) instead of
    # re-tokenizing the corpus per reference; fanned out so the
    # gram-hash pass and its four consumers run wide
    grams = local_checkpoint(
        fan_out_narrow(df).select(
            F.col(id_col), token_ngram_hashes(F.col(text_col), ngram).alias("__g")
        ).withColumn("__n", F.size("__g"))
    )
    ex = grams.select(id_col, F.explode("__g").alias("__gk"))
    a = ex.select(F.col(id_col).alias("id_a"), "__gk")
    b = ex.select(F.col(id_col).alias("id_b"), "__gk")
    cand = (
        a.join(b, "__gk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ga = grams.select(
        F.col(id_col).alias("id_a"), F.col("__g").alias("__ga"), F.col("__n").alias("__na")
    )
    gb = grams.select(
        F.col(id_col).alias("id_b"), F.col("__g").alias("__gb"), F.col("__n").alias("__nb")
    )
    joined = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("__i", F.size(F.array_intersect("__ga", "__gb")).cast("double"))
    )
    # both directions from ONE pass over the verified pairs (separate
    # fwd/rev projections would duplicate the whole candidate+verify
    # subtree under the union)
    both = F.array(
        F.struct(
            F.col("id_a").alias("contained_id"),
            F.col("id_b").alias("container_id"),
            (F.col("__i") / F.col("__na")).alias("containment"),
        ),
        F.struct(
            F.col("id_b").alias("contained_id"),
            F.col("id_a").alias("container_id"),
            (F.col("__i") / F.col("__nb")).alias("containment"),
        ),
    )
    return (
        joined.select(F.explode(both).alias("__d"))
        .select("__d.contained_id", "__d.container_id", "__d.containment")
        .filter(F.col("containment") >= threshold)
    )


def soft_dedup_weights(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Soft deduplication: keep every copy of a duplicated document but
    down-weight it by its exact-dup cluster size (weight = 1/n_copies),
    so each distinct content contributes an expected ONE copy per
    training epoch — the loss-reweighting alternative to dropping
    duplicates (reference has no analog; training-pipeline extension).

    One shuffle on the 32-byte fingerprint: the cluster count comes
    from a window partitioned by the same key a groupBy would use, so
    the rows and their counts co-locate in a single exchange — no
    second self-join to fan the counts back out.  At 100 TB the
    exchange is fingerprint-keyed like exact_dedup's and AQE handles
    viral-content skew the same way."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("fingerprint")
    return (
        df.withColumn("fingerprint", content_fingerprint(F.col(text_col)))
        .withColumn("n_copies", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("weight", F.lit(1.0) / F.col("n_copies"))
    )


def setsim_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """EXACT Jaccard-threshold set-similarity self-join via prefix
    filtering (the PPJoin family, Xiao et al., WWW'08) — the
    no-false-negative complement to MinHash LSH: every pair with
    token-set Jaccard ≥ ``threshold`` is returned, guaranteed.

    Tokens are globally ordered by (frequency, token) ascending —
    rarest first.  A document of n distinct tokens exposes only its
    first ``n - ceil(t·n) + 1`` tokens under that order (its probe
    prefix): two sets with J ≥ t must overlap in ≥ ceil(t·n) tokens, so
    they cannot avoid sharing a prefix token.  Candidates therefore
    come from an equi-join on prefix tokens, and because prefixes hold
    each document's RAREST tokens the join buckets are intrinsically
    small — the frequency order IS the skew defense (the viral stopword
    that would explode a naive token join is never in anyone's prefix).
    Exact Jaccard verification then drops the false positives.

    ASYMMETRIC INDEX PREFIX (the ppjoin indexing bound): orient every
    candidate pair by (n, id) so the SMALLER set is the indexed side a
    and the larger the probing side b.  For a qualifying pair the
    required overlap is α = ⌈t/(1+t)·(n_a+n_b)⌉ ≥ ⌈2t/(1+t)·n_a⌉ (since
    n_b ≥ n_a) and ≥ ⌈t·n_b⌉ (since n_a ≥ t·n_b by the size bound), and
    the cross-prefix lemma (Xiao et al., WWW'08, Lemma 1: |x∩y| ≥ α ⟹
    the first |x|−α+1 tokens of x and first |y|−α+1 of y share a token)
    lets a expose only its first ``n − ⌈2t/(1+t)·n⌉ + 1`` tokens.  At
    t=0.8 the index prefix is 1/9 of the set vs the probe prefix's 1/5
    — candidate volume drops ~45% with zero false negatives (the same
    exact-verify stage runs after; only the candidate generator
    tightened).

    Plan at 100 TB: token-frequency aggregate (vocab-sized, shuffle on
    token) → per-doc sorted-token arrays via ONE hash aggregate
    (shuffle on doc id), pinned with a lazy ``local_checkpoint``
    because FOUR downstream branches read it (index prefix, probe
    prefix, both verify sides) — without the pin, lazy recomputation
    re-runs the tokenize→freq-join→sort subtree once per branch
    (measured 29s → 12s at sf0.1 from this pin alone, round-12 smoke
    record) → index-vs-probe prefix equi-join (shuffle on rare tokens)
    → size-pruned verify against the checkpointed arrays.  No
    all-pairs stage anywhere; no global sort and no per-doc window
    (the frequency order is consumed as an array sort key inside the
    aggregate, prefixes come from ``slice`` + ``posexplode`` of the
    sorted arrays).
    """
    toks_raw = df.select(
        F.col(id_col).alias("__id"),
        F.transform(distinct_tokens(F.col(text_col)), token_hash).alias("__toks"),
    )
    exploded = toks_raw.select("__id", F.explode("__toks").alias("__tok"))
    freq = exploded.groupBy("__tok").agg(F.count(F.lit(1)).alias("__freq"))
    # per-doc tokens sorted rarest-first by the global (freq, token)
    # order — struct sort is lexicographic by field position, exactly
    # the old window's orderBy(__freq, __tok)
    toks = local_checkpoint(
        exploded.join(freq, "__tok")
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list(F.struct("__freq", "__tok"))).alias("__fs"))
        .select(
            "__id",
            F.transform("__fs", lambda s: s["__tok"]).alias("__toks"),
            F.size("__fs").alias("__n"),
        )
    )
    # probe prefix length n − ⌈t·n⌉ + 1.  The ceil argument is nudged
    # down by 1e-9: float t·n can land an ulp ABOVE the exact rational
    # product (e.g. 0.55·180 → 99.00000000000001, ceil 100 instead of
    # 99), which would SHORTEN the prefix below the PPJoin bound and
    # silently drop qualifying pairs.  The nudge can only lengthen the
    # prefix — extra candidates, never a false negative.
    def plen(ratio: float):
        return (
            F.col("__n") - F.ceil(F.lit(ratio) * F.col("__n") - F.lit(1e-9)) + 1
        ).cast("int")

    prefix = toks.select(
        "__id",
        "__n",
        F.posexplode(F.slice("__toks", F.lit(1), plen(threshold))).alias(
            "__pos", "__tok"
        ),
    ).select("__id", "__tok", (F.col("__pos") + 1).alias("__rn"), "__n")
    # index prefix ⊆ probe prefix: same rows, tighter rank bound —
    # derived by filter from the checkpointed arrays (cheap re-scan).
    index_ratio = 2.0 * threshold / (1.0 + threshold)
    index_prefix = prefix.filter(F.col("__rn") <= plen(index_ratio))
    # Positional refinement (the "P" in PPJoin): a shared prefix token
    # at positions (pa, pb) of the globally-sorted arrays bounds the
    # overlap by min(n_a − pa, n_b − pb) + 1 — everything before the
    # shared token on either side is provably outside the other set's
    # tail.  J ≥ t needs overlap ≥ t·(n_a+n_b)/(1+t), so pairs whose
    # best bound (max over shared tokens) misses it die on an integer
    # compare before any array is touched.  The groupBy replaces the
    # plain distinct() — same shuffle, strictly fewer verify rows.
    bound = (
        F.least(
            F.col("a.__n") - F.col("a.__rn"), F.col("b.__n") - F.col("b.__rn")
        )
        + 1
    )
    cands = (
        index_prefix.alias("a")
        .join(prefix.alias("b"), "__tok")
        .filter(
            # canonical orientation: a is the smaller set (ties by id),
            # so each unordered pair is generated exactly once with the
            # indexed side exposing only its short index prefix
            (
                (F.col("a.__n") < F.col("b.__n"))
                | (
                    (F.col("a.__n") == F.col("b.__n"))
                    & (F.col("a.__id") < F.col("b.__id"))
                )
            )
            # size-ratio prune INSIDE the join filter: J ≥ t needs
            # min(n)/max(n) ≥ t, so mismatched-size pairs die before
            # the pair-key shuffle into the groupBy, not after it
            & (F.col("a.__n") >= F.lit(threshold) * F.col("b.__n"))
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            bound.alias("__ub"),
            (F.col("a.__n") + F.col("b.__n")).alias("__nsum"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("__ub").alias("__ub"), F.min("__nsum").alias("__nsum"))
        .filter(
            F.col("__ub")
            >= F.lit(threshold) / (1 + threshold) * F.col("__nsum") - F.lit(1e-6)
        )
        .select("id_a", "id_b")
    )
    a = toks.select(
        F.col("__id").alias("id_a"),
        F.col("__toks").alias("__ta"),
        F.col("__n").alias("__na"),
    )
    b = toks.select(
        F.col("__id").alias("id_b"),
        F.col("__toks").alias("__tb"),
        F.col("__n").alias("__nb"),
    )
    inter = F.size(F.array_intersect("__ta", "__tb")).cast("double")
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .filter(
            (F.col("__na") >= F.lit(threshold) * F.col("__nb"))
            & (F.col("__nb") >= F.lit(threshold) * F.col("__na"))
        )
        .withColumn("__inter", inter)
        .withColumn(
            "jaccard",
            F.col("__inter")
            / ((F.col("__na") + F.col("__nb")).cast("double") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        # candidates are oriented smaller-set-first; the output contract
        # is id-ordered pairs, so re-canonicalize here
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "jaccard",
        )
    )
