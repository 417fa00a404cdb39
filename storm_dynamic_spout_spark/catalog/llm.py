"""LLM-training-data pipeline operators as oracle-checked queries
(north-star extension — BASELINE.json: dedup, similarity search, text
analysis; SURVEY §2.11 engine mapping).

Oracle SQL strings are *generated* from the same constants
(seeds/stopwords/bands/bits) the Spark operators use, so both engines
compute the same deterministic md5-derived hashes and the value-hash
comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.catalog.registry import query, t
from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint
from storm_dynamic_spout_spark.operators.skew import fan_out_narrow
from storm_dynamic_spout_spark.operators import dedup as D
from storm_dynamic_spout_spark.operators import similarity as S
from storm_dynamic_spout_spark.operators import text as X

# ---------------------------------------------------------------------------
# SQL fragments mirroring operators/text.py + dedup.py (DuckDB dialect)
# ---------------------------------------------------------------------------

_TOKS = "regexp_split_to_array(text, '\\s+')"
_DTOKS = f"list_distinct({_TOKS})"


def _sql_minhash(seed: int) -> str:
    return f"list_min(list_transform({_DTOKS}, x -> md5('{seed}:' || x)))"


def _sql_band(rows: tuple[int, ...]) -> str:
    concat = " || ".join(f"mh{r}" for r in rows)
    return f"md5({concat})"


def _sql_simhash(hashes_expr: str, n_expr: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        ones = f"len(list_filter({hashes_expr}, h -> ((h >> {i}) & 1) = 1))"
        terms.append(f"(CASE WHEN {ones} * 2 > {n_expr} THEN CAST({1 << i} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


_SQL_TOKEN_HASHES = (
    f"list_transform({_DTOKS}, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT))"
)

_SQL_NORM_TEXT = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_SQL_COS = (
    "list_inner_product(q, v) / (sqrt(list_inner_product(q, q)) * sqrt(list_inner_product(v, v)))"
)

#: Thresholds (shared Spark/oracle)
NEAR_DUP_JACCARD = 0.9
NGRAM_JACCARD = 0.8
EMBED_COS_THRESHOLD = 0.25
ANN_K = 5
ANN_QUERY_MAX_ID = 8  # query set: vec_id < 8


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{X.TOKEN_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
             / CAST(greatest(len({_TOKS}), 1) AS DOUBLE) AS avg_token_len
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex tokenizers + length
    stats — the cheap volumetrics every corpus pipeline computes first."""
    d = t(spark, sf_dir, "documents")
    text = F.col("text")
    return d.select(
        "doc_id",
        X.token_count(text).alias("n_tokens"),
        F.size(X.bpe_ish_tokens(text)).cast("long").alias("n_bpe_tokens"),
        F.length(text).cast("long").alias("n_chars_actual"),
        X.avg_token_len(text).alias("avg_token_len"),
    )


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           {X.sql_stopword_ratio('text', X.QUALITY_STOPWORDS)} AS stopword_ratio,
           {X.sql_punct_ratio('text')} AS punct_ratio,
           (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
            + (1.0 - least({X.sql_punct_ratio('text')} * 5, 1.0))
            + (1.0 - abs({X.sql_stopword_ratio('text', X.QUALITY_STOPWORDS)} - 0.4))
           ) / 3.0 AS quality
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword/punctuation/length heuristics composed
    into a [0,1] score — the pre-training quality filter."""
    d = t(spark, sf_dir, "documents")
    text = F.col("text")
    return d.select(
        "doc_id",
        X.stopword_ratio(text).alias("stopword_ratio"),
        X.punct_ratio(text).alias("punct_ratio"),
        X.quality_score(text).alias("quality"),
    )


def _sql_lang_scores() -> dict[str, str]:
    return {
        lang: X.sql_stopword_ratio("text", words) for lang, words in X.STOPWORDS.items()
    }


def _sql_lang_case() -> str:
    s = _sql_lang_scores()
    langs = sorted(X.STOPWORDS)  # de, en, es, fr
    all_scores = ", ".join(s[lg] for lg in langs)
    branches = []
    for i, lg in enumerate(langs[:-1]):
        rest = ", ".join(s[o] for o in langs[i + 1 :])
        greatest = f"greatest({rest})" if "," in rest else rest
        branches.append(f"WHEN {s[lg]} >= {greatest} THEN '{lg}'")
    return (
        f"CASE WHEN greatest({all_scores}) = 0 THEN 'und' "
        + " ".join(branches)
        + f" ELSE '{langs[-1]}' END"
    )


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           {_sql_lang_case()} AS predicted_lang
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword hit-rate, argmax with
    alphabetical tie-break ('und' when nothing matches)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        X.lang_id(F.col("text")).alias("predicted_lang"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, md5({_SQL_NORM_TEXT}) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 of case/whitespace-normalized text
    (reference parity: Tools.makeMd5Hash, dynamic/Tools.java:139)."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", X.content_fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_SQL_NORM_TEXT.replace('text', 'd.text')}) AS fingerprint,
           CAST(min(d.doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT)      AS n_copies
    FROM documents d
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the content fingerprint, keep min id."""
    return D.exact_dedup(t(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dedup_by_key",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM (
      SELECT event_id, user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first-per-key dedup (the streaming dropDuplicates shape,
    SURVEY §2.9 T13, batch-expressed)."""
    return D.dedup_by_key(
        t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value"),
        ["user_id", "event_type"],
        "event_id",
    )


def _minhash_sig_sql() -> str:
    mh_cols = ",\n           ".join(
        f"{_sql_minhash(s)} AS mh{s}" for s in D.MINHASH_SEEDS
    )
    band_cols = ", ".join(
        f"{_sql_band(rows)} AS band_{b}" for b, rows in enumerate(D.MINHASH_BANDS)
    )
    return f"""
    WITH sig AS (
      SELECT doc_id,
           {mh_cols}
      FROM documents
    )
    SELECT doc_id, {band_cols} FROM sig
    """


@query("dedup_minhash_signature", oracle=_minhash_sig_sql())
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures → LSH band keys per document (the shuffle keys
    of the near-dup join; 32-byte keys, not full texts)."""
    sig = D.minhash_signature(t(spark, sf_dir, "documents"), "doc_id", "text")
    return sig.select(
        "doc_id", *[F.col(f"band_{b}") for b in range(len(D.MINHASH_BANDS))]
    )


def _minhash_pairs_sql() -> str:
    mh_cols = ", ".join(f"{_sql_minhash(s)} AS mh{s}" for s in D.MINHASH_SEEDS)
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {_sql_band(rows)} AS bk FROM sig"
        for rows in D.MINHASH_BANDS
    )
    return f"""
    WITH sig AS (SELECT doc_id, {mh_cols} FROM documents),
    buckets AS ({band_selects}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a JOIN buckets b ON a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    toks AS (SELECT doc_id, {_SQL_TOKEN_HASHES} AS tk FROM documents)
    SELECT id_a, id_b,
           CAST(len(list_intersect(x.tk, y.tk)) AS DOUBLE)
             / CAST(len(x.tk) + len(y.tk) - len(list_intersect(x.tk, y.tk)) AS DOUBLE)
             AS jaccard
    FROM cands JOIN toks x ON x.doc_id = id_a JOIN toks y ON y.doc_id = id_b
    WHERE CAST(len(list_intersect(x.tk, y.tk)) AS DOUBLE)
             / CAST(len(x.tk) + len(y.tk) - len(list_intersect(x.tk, y.tk)) AS DOUBLE)
          >= {NEAR_DUP_JACCARD}
    """


@query("dedup_minhash_pairs", oracle=_minhash_pairs_sql())
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection end-to-end: band buckets →
    candidate pairs (equi-join, never all-pairs) → exact token-set
    Jaccard verification ≥ threshold."""
    return D.minhash_near_dups(
        t(spark, sf_dir, "documents"), "doc_id", "text", NEAR_DUP_JACCARD
    )


def _simhash_sql() -> str:
    sim = _sql_simhash("hs", "n", D.SIMHASH_BITS)
    return f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKEN_HASHES} AS hs, len({_DTOKS}) AS n FROM documents
    )
    SELECT CAST({sim} AS BIGINT) AS simhash,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_id
    FROM tok
    GROUP BY 1
    """


@query("dedup_simhash", oracle=_simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup: identical-fingerprint buckets (hamming-0 clusters);
    permuted near-dups collide because the token *set* drives the bits."""
    return D.simhash_groups(t(spark, sf_dir, "documents"), "doc_id", "text")


def _ngram_pairs_sql() -> str:
    mh_cols = ", ".join(f"{_sql_minhash(s)} AS mh{s}" for s in D.MINHASH_SEEDS)
    full_sig = _sql_band(D.MINHASH_SEEDS)
    norm = "regexp_replace(lower(text), '\\s+', ' ', 'g')"
    grams_str = (
        f"list_distinct(list_transform(range(1, greatest(length({norm}) - 2, 1) + 1), "
        f"i -> substr({norm}, CAST(i AS INTEGER), 3)))"
    )
    grams = (
        f"list_transform({grams_str}, "
        "g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT))"
    )
    jac = (
        "CAST(len(list_intersect(x.g, y.g)) AS DOUBLE)"
        " / CAST(len(x.g) + len(y.g) - len(list_intersect(x.g, y.g)) AS DOUBLE)"
    )
    return f"""
    WITH sig AS (SELECT doc_id, {mh_cols} FROM documents),
    keyed AS (SELECT doc_id, {full_sig} AS sg FROM sig),
    cands AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keyed a JOIN keyed b ON a.sg = b.sg AND a.doc_id < b.doc_id
    ),
    gr AS (SELECT doc_id, {grams} AS g FROM documents)
    SELECT id_a, id_b, {jac} AS ngram_jaccard
    FROM cands JOIN gr x ON x.doc_id = id_a JOIN gr y ON y.doc_id = id_b
    WHERE {jac} >= {NGRAM_JACCARD}
    """


@query("dedup_ngram_jaccard", oracle=_ngram_pairs_sql())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram Jaccard near-dup over LSH-candidate pairs."""
    return D.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", 3, NGRAM_JACCARD
    )


#: Exact set-similarity join threshold — lower than the MinHash gate so
#: prefixes are longer than one token and the filter is exercised.
SETSIM_JACCARD = 0.8


def _setsim_prefix_sql() -> str:
    t_ = SETSIM_JACCARD
    return f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKEN_HASHES} AS tk FROM documents),
    sized AS (SELECT doc_id, tk, len(tk) AS n FROM tk),
    ex AS (SELECT doc_id, n, UNNEST(tk) AS tok FROM sized),
    freq AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok),
    ranked AS (
      SELECT ex.doc_id, ex.n, ex.tok,
             row_number() OVER (PARTITION BY ex.doc_id ORDER BY freq.c, ex.tok) AS rn
      FROM ex JOIN freq USING (tok)
    ),
    prefix AS (SELECT doc_id, tok FROM ranked
               WHERE rn <= n - ceil({t_} * n - 1e-9) + 1),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    j AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(x.tk, y.tk)) AS DOUBLE) /
             CAST(x.n + y.n - len(list_intersect(x.tk, y.tk)) AS DOUBLE) AS jaccard
      FROM cands JOIN sized x ON x.doc_id = id_a JOIN sized y ON y.doc_id = id_b
      WHERE x.n >= {t_} * y.n AND y.n >= {t_} * x.n
    )
    SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= {t_}
    """


@query("dedup_setsim_prefix", oracle=_setsim_prefix_sql())
def dedup_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard-threshold similarity self-join via prefix filtering
    (PPJoin family) — the no-false-negative complement to MinHash LSH:
    candidates share one of their rarest tokens under a global
    (frequency, token) order, so join buckets stay small by
    construction and every true pair is guaranteed found."""
    return D.setsim_prefix_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", SETSIM_JACCARD
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_VQ = f"""
    v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS q FROM v
          WHERE vec_id < {ANN_QUERY_MAX_ID})
"""


@query(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH {_VQ},
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
             round({_SQL_COS} * 1000000) / 1000000 AS cos
      FROM q CROSS JOIN v WHERE vec_id <> query_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= {ANN_K}
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (correctness baseline for ANN): broadcast
    query set × corpus scan, per-query heap via row_number. Cosine is
    rounded to 1e-6 in-query so rank ties and hash compares are stable
    across engines."""
    df = S.cosine_topk(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        F.col("vec_id") < ANN_QUERY_MAX_ID,
        ANN_K,
    )
    return df.select(
        "query_id", "neighbor_id", (F.round(F.col("cos") * 1000000) / 1000000).alias("cos"), "rank"
    )


@query(
    "ann_topk_ivf",
    oracle=f"""
    WITH {_VQ},
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
             round({_SQL_COS} * 1000000) / 1000000 AS cos
      FROM q JOIN v ON v.label = q.qlabel AND v.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= {ANN_K}
    """,
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style bucketed top-k: candidates limited to the query's coarse
    bucket (label = coarse centroid id) — the 100 TB path where scoring
    |bucket| ≪ |corpus| candidates per query."""
    df = S.cosine_topk_ivf(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        "label",
        F.col("vec_id") < ANN_QUERY_MAX_ID,
        ANN_K,
    )
    return df.select(
        "query_id", "neighbor_id", (F.round(F.col("cos") * 1000000) / 1000000).alias("cos"), "rank"
    )


@query(
    "embedding_near_pairs",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_inner_product(a.ve, b.ve)
             / (sqrt(list_inner_product(a.ve, a.ve)) * sqrt(list_inner_product(b.ve, b.ve)))
             * 1000000) / 1000000 AS cos
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_inner_product(a.ve, b.ve)
             / (sqrt(list_inner_product(a.ve, a.ve)) * sqrt(list_inner_product(b.ve, b.ve)))
          >= {EMBED_COS_THRESHOLD}
    """,
)
def embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, label-blocked (IVF blocking) —
    the semantic-dedup operator."""
    df = S.cosine_near_dup_pairs(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label", EMBED_COS_THRESHOLD
    )
    return df.select(
        "id_a", "id_b", (F.round(F.col("cos") * 1000000) / 1000000).alias("cos")
    )


#: SRP-LSH geometry (shared Spark/oracle): 64-dim fixture embeddings,
#: 16 sign bits in 4 bands of 4 — band-bucket blocking with no label.
SRP_DIM = 64
SRP_PLANES = 16
SRP_BAND_BITS = 4


def _srp_lsh_oracle() -> str:
    """DuckDB mirror of operators/similarity.py srp_band_pairs: the ±1
    hyperplanes are generated by the SAME ``srp_planes`` call and
    inlined as list literals, so both engines compute bit-identical
    sign bits (same left-to-right accumulation order)."""
    planes = S.srp_planes(SRP_DIM, SRP_PLANES)
    bit_exprs = ",\n           ".join(
        "(CASE WHEN list_inner_product(ve, ["
        + ", ".join(str(w) for w in row)
        + f"]) >= 0 THEN 1 ELSE 0 END) AS b{p}"
        for p, row in enumerate(planes)
    )
    n_bands = SRP_PLANES // SRP_BAND_BITS
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {bi} AS band_idx, "
        + " + ".join(f"{2**j} * b{bi * SRP_BAND_BITS + j}" for j in range(SRP_BAND_BITS))
        + " AS band_val FROM sig"
        for bi in range(n_bands)
    )
    return f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
               FROM embeddings),
    sig AS (SELECT vec_id, ve,
           {bit_exprs}
            FROM v),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             list_inner_product(va.ve, vb.ve)
               / (sqrt(list_inner_product(va.ve, va.ve)) * sqrt(list_inner_product(vb.ve, vb.ve)))
               AS c_raw
      FROM cand c
      JOIN v va ON va.vec_id = c.id_a
      JOIN v vb ON vb.vec_id = c.id_b
    )
    SELECT id_a, id_b, round(c_raw * 1000000) / 1000000 AS cos
    FROM scored WHERE c_raw >= {EMBED_COS_THRESHOLD}
    """


@query("embedding_lsh_pairs", oracle=_srp_lsh_oracle())
def embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-FREE embedding near-dup pairs via signed-random-projection
    LSH (random hyperplanes → sign bits → bands → bucket equi-join →
    exact cosine verify).  The blocking key is derived from the vector
    itself — the scale path for a corpus with no precomputed cluster
    ids.  Band join is equi (never all-pairs); candidate dedup is one
    shuffle on the pair key."""
    df = S.srp_band_pairs(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        EMBED_COS_THRESHOLD,
        dim=SRP_DIM,
        n_planes=SRP_PLANES,
        band_bits=SRP_BAND_BITS,
    )
    return df.select(
        "id_a", "id_b", (F.round(F.col("cos") * 1000000) / 1000000).alias("cos")
    )


SIMHASH_MAX_HAMMING = 3


def _simhash_pairs_sql() -> str:
    mh_cols = ", ".join(f"{_sql_minhash(s)} AS mh{s}" for s in D.MINHASH_SEEDS)
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {_sql_band(rows)} AS bk FROM sig" for rows in D.MINHASH_BANDS
    )
    sim = _sql_simhash("hs", "n", D.SIMHASH_BITS)
    return f"""
    WITH sig AS (SELECT doc_id, {mh_cols} FROM documents),
    buckets AS ({band_selects}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a JOIN buckets b ON a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    sh AS (
      SELECT doc_id, CAST({sim} AS BIGINT) AS s FROM (
        SELECT doc_id, {_SQL_TOKEN_HASHES} AS hs, len({_DTOKS}) AS n FROM documents
      )
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(x.s, y.s)) AS BIGINT) AS hamming
    FROM cands JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b
    WHERE bit_count(xor(x.s, y.s)) <= {SIMHASH_MAX_HAMMING}
    """


@query("dedup_simhash_pairs", oracle=_simhash_pairs_sql())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming distance ≤ 3 over LSH-candidate
    pairs (bit_count of XORed fingerprints — the constant-time pair
    check that makes SimHash the cheapest near-dup verifier at scale)."""
    return D.simhash_near_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", SIMHASH_MAX_HAMMING
    )


CHUNK_SIZE = 64  # tokens per chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (size-stride = overlap)
SAMPLE_PCT = 10  # deterministic sample rate (percent)


@query(
    "text_chunking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS tk, len({_TOKS}) AS n FROM documents
    ),
    idx AS (
      SELECT doc_id, tk, n,
             CAST(unnest(range(0, CAST(ceil(greatest(n - {CHUNK_SIZE - CHUNK_STRIDE}, 1)
                 / CAST({CHUNK_STRIDE} AS DOUBLE)) AS BIGINT))) AS BIGINT) AS chunk_index
      FROM toks
    )
    SELECT doc_id, chunk_index,
           array_to_string(tk[chunk_index * {CHUNK_STRIDE} + 1 :
                              chunk_index * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ') AS chunk_text,
           CAST(least(n - chunk_index * {CHUNK_STRIDE}, {CHUNK_SIZE}) AS BIGINT) AS n_chunk_tokens
    FROM idx
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: fixed-size token windows (64 tokens, stride
    48 ⇒ 16-token overlap) — the context-window prep every training
    pipeline runs. One row per (doc, chunk); the explode is the only
    row-expansion, the token array is materialized once per doc."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")
    n = F.size("__tk")
    n_chunks = F.ceil(
        F.greatest(n - (CHUNK_SIZE - CHUNK_STRIDE), F.lit(1)) / float(CHUNK_STRIDE)
    ).cast("long")
    out = (
        d.select("doc_id", toks.alias("__tk"))
        .withColumn("chunk_index", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
    )
    start = F.col("chunk_index") * CHUNK_STRIDE
    return out.select(
        "doc_id",
        "chunk_index",
        F.array_join(
            F.slice(F.col("__tk"), start + 1, F.lit(CHUNK_SIZE)), " "
        ).alias("chunk_text"),
        F.least(F.size("__tk") - start, F.lit(CHUNK_SIZE)).cast("long").alias("n_chunk_tokens"),
    )


@query(
    "sample_deterministic",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          % 100 < {SAMPLE_PCT}
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling: md5(doc_id) % 100 < rate — the
    reproducible corpus-sampling op (no rand(): re-runs, engines, and
    resumed jobs all pick the exact same rows; stable under
    repartitioning, unlike df.sample at scale)."""
    d = t(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10
    ).cast("long") % 100
    return d.filter(bucket < SAMPLE_PCT).select("doc_id", "lang")


MIX_RATES = {"en": 60, "de": 20, "es": 10, "fr": 10}  # percent per source
TOP_TERMS = 50


def _mix_rate_case() -> str:
    branches = " ".join(
        f"WHEN lang = '{lg}' THEN {r}" for lg, r in sorted(MIX_RATES.items())
    )
    return f"CASE {branches} ELSE 0 END"


@query(
    "sample_mixture",
    oracle=f"""
    SELECT doc_id, lang,
           CAST({_mix_rate_case()} AS BIGINT) AS mix_pct
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
          < {_mix_rate_case()}
    """,
)
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: per-source sampling rates (60% en, 20% de, 10%
    es/fr) applied with the deterministic hash — the corpus-weighting
    step of every pre-training data recipe, reproducible across runs
    and engines."""
    d = t(spark, sf_dir, "documents")
    rate = F.lit(0)
    for lg, r in sorted(MIX_RATES.items()):
        rate = F.when(F.col("lang") == lg, F.lit(r)).otherwise(rate)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10
    ).cast("long") % 100
    return d.filter(bucket < rate).select(
        "doc_id", "lang", rate.cast("long").alias("mix_pct")
    )


@query(
    "text_term_freq",
    oracle=f"""
    SELECT term, n_occurrences, n_docs FROM (
      SELECT u.x AS term,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             row_number() OVER (ORDER BY count(*) DESC, u.x) AS rn
      FROM documents, UNNEST({_TOKS}) AS u(x)
      GROUP BY u.x
    ) WHERE rn <= {TOP_TERMS}
    """,
)
def text_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies: explode tokens → count occurrences +
    document frequency → top-50 (tie-break lexicographic). The
    vocabulary-building scan; partial aggregation makes the shuffle
    |vocab|-sized, not |tokens|-sized, and the top-k is
    ``orderBy().limit()`` → TakeOrderedAndProject (per-partition heap
    top-k merged on the driver) — at web-corpus vocabulary sizes a
    global row_number sort would move the entire distinct-term table
    to one partition."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", r"\s+")).alias("term"))
    counts = toks.groupBy("term").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return (
        counts.orderBy(F.desc("n_occurrences"), "term")
        .limit(TOP_TERMS)
        .select("term", "n_occurrences", "n_docs")
    )


@query(
    "text_tfidf_top_term",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, u.x AS term, CAST(count(*) AS BIGINT) AS tf
      FROM documents, UNNEST({_TOKS}) AS u(x)
      GROUP BY doc_id, u.x
    ),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    ranked AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, df.df, tf.term) AS rn
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term AS top_term, tf,
           round(tf * ln(CAST(n.n_docs AS DOUBLE) / df) * 1000000) / 1000000 AS tfidf
    FROM ranked, n WHERE rn = 1
    """,
)
def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: most characteristic term per document. Ranking uses the
    pure-integer key (tf DESC, df ASC, term) rather than the float
    score — libm ln() can differ by an ulp across engines, which would
    flip near-ties; the reported score is rounded to 1e-6 so the value
    hash is stable. Plan: explode → two |vocab|-keyed aggregates →
    broadcast df join → per-doc window."""
    from pyspark.sql.window import Window as W

    d = t(spark, sf_dir, "documents")
    # tf feeds the document-frequency aggregate AND the ranked join —
    # without it the corpus explode ran twice
    tf = local_checkpoint(
        d.select("doc_id", F.explode(F.split("text", r"\s+")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    rn = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.desc("tf"), "df", "term")
    )
    return (
        tf.join(F.broadcast(df), "term")
        .withColumn("__rn", rn)
        .filter(F.col("__rn") == 1)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            F.col("term").alias("top_term"),
            "tf",
            (
                F.round(
                    F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")) * 1_000_000
                ) / 1_000_000
            ).alias("tfidf"),
        )
    )


def _sql_centroids() -> str:
    return """
    centroids AS (
      SELECT label, pos, avg(e[pos]) AS c
      FROM (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
           UNNEST(range(1, len(e) + 1)) AS t(pos)
      GROUP BY label, pos
    )
    """


@query(
    "embedding_centroids",
    oracle=f"""
    WITH {_sql_centroids()}
    SELECT label,
           CAST(count(*) AS BIGINT) AS dim,
           round(sum(c * c) * 1000000) / 1000000 AS sq_norm,
           round(sum(c)     * 1000000) / 1000000 AS sum_components
    FROM centroids
    GROUP BY label
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket centroid (elementwise mean vector) — the k-means
    update step / IVF codebook builder. posexplode → (label, pos)
    aggregate keeps the shuffle |labels|×dim-sized regardless of corpus
    size; reported as dim + norms so the hash is array-order-free."""
    e = t(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode(S.as_double(F.col("embedding"))).alias("pos", "val")
    )
    cent = comp.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    return cent.groupBy("label").agg(
        F.count("*").cast("long").alias("dim"),
        (F.round(F.sum(F.col("c") * F.col("c")) * 1_000_000) / 1_000_000).alias("sq_norm"),
        (F.round(F.sum("c") * 1_000_000) / 1_000_000).alias("sum_components"),
    )


@query(
    "ann_ivf_assign",
    oracle=f"""
    WITH {_sql_centroids()},
    cvec AS (
      SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM centroids GROUP BY label
    ),
    v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
          FROM embeddings),
    scored AS (
      SELECT vec_id, label, c_label,
             list_inner_product(ve, cv)
               / (sqrt(list_inner_product(ve, ve)) * sqrt(list_inner_product(cv, cv))) AS cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY list_inner_product(ve, cv)
               / (sqrt(list_inner_product(ve, ve)) * sqrt(list_inner_product(cv, cv))) DESC,
                                c_label) AS rn
      FROM v CROSS JOIN cvec
    )
    SELECT vec_id, label AS true_label, c_label AS assigned_label,
           CAST(label = c_label AS BOOLEAN) AS correct
    FROM scored WHERE rn = 1
    """,
)
def ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (the k-means assign step / real IVF
    bucketing): every vector scored against the |labels| computed
    centroids (broadcast — the codebook is tiny) and assigned argmax
    cosine. This replaces the fixture's given labels with COMPUTED
    coarse quantization — the building block the scale path needs."""
    from pyspark.sql.window import Window as W

    e = t(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode(S.as_double(F.col("embedding"))).alias("pos", "val")
    )
    cent = comp.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    cvec = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("__pc"))
        .select(
            F.col("label").alias("c_label"),
            F.transform(F.col("__pc"), lambda s: s.getField("c")).alias("cv"),
        )
    )
    v = e.select("vec_id", "label", S.as_double(F.col("embedding")).alias("ve"))
    cos = S.dot(F.col("ve"), F.col("cv")) / (
        F.sqrt(S.dot(F.col("ve"), F.col("ve"))) * F.sqrt(S.dot(F.col("cv"), F.col("cv")))
    )
    rn = F.row_number().over(W.partitionBy("vec_id").orderBy(F.desc("cos"), "c_label"))
    return (
        v.crossJoin(F.broadcast(cvec))
        .withColumn("cos", cos)
        .withColumn("__rn", rn)
        .filter(F.col("__rn") == 1)
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            F.col("c_label").alias("assigned_label"),
            (F.col("label") == F.col("c_label")).alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-level pipeline ops (operators/corpus.py): contamination,
# sequence packing, deterministic export shuffle
# ---------------------------------------------------------------------------

CONTAM_NGRAM = 8
EVAL_MOD = 7  # eval set: doc_id % 7 == 0 (deterministic holdout, dense
#   enough that the fixtures' near-dup clusters straddle the split)
PACK_BUDGET = 512  # tokens per packed training sequence
EXPORT_SHARDS = 16

_SQL_GRAMS = (
    f"list_distinct(list_transform("
    f"list_transform(range(1, greatest(len({_TOKS}) - {CONTAM_NGRAM - 1}, 0) + 1), "
    f"i -> array_to_string({_TOKS}[i:i+{CONTAM_NGRAM - 1}], ' ')), "
    f"g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)))"
)


@query(
    "corpus_contamination",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, UNNEST({_SQL_GRAMS}) AS g FROM documents
    ),
    eval_grams AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % {EVAL_MOD} = 0
    )
    SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_shared_grams
    FROM grams
    JOIN eval_grams USING (g)
    WHERE doc_id % {EVAL_MOD} <> 0
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination screen: train docs sharing a hashed token
    8-gram with the deterministic holdout (doc_id % 7 == 0). Explode →
    equi-join on the 8-byte gram hash → per-doc count; the eval gram
    set broadcasts, there is never a train×eval doc product. The op a
    pretraining pipeline runs before every export."""
    from storm_dynamic_spout_spark.operators import corpus as C

    d = t(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    return (
        C.contamination(d.filter(~is_eval), d.filter(is_eval), ngram=CONTAM_NGRAM)
        .orderBy("doc_id")
    )


EVAL_CONTAM_NGRAM = 3  # the fixtures' 31-token vocab makes 8-gram
#   overlap vanishingly rare; 3-grams exercise the full fraction range

#: Per-doc distinct hashed 3-grams.  ``list_distinct`` runs on the RAW
#: gram STRINGS and md5 AFTER it — textually mirroring the operator
#: (operators/corpus.py token_ngram_hashes hashes after the per-doc
#: distinct), so engine and oracle agree on ALL inputs including a
#: hypothetical 60-bit collision between two distinct grams of one doc
#: (r14 advice: distinct-after-hash would count such a pair once while
#: the operator counts it twice).
_SQL_GRAMS_3 = (
    f"list_transform(list_distinct("
    f"list_transform(range(1, greatest(len({_TOKS}) - {EVAL_CONTAM_NGRAM - 1}, 0) + 1), "
    f"i -> array_to_string({_TOKS}[i:i+{EVAL_CONTAM_NGRAM - 1}], ' '))), "
    f"g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT))"
)


@query(
    "corpus_eval_contamination",
    oracle=f"""
    WITH eval_grams AS (
        SELECT doc_id, UNNEST({_SQL_GRAMS_3}) AS g
        FROM documents WHERE doc_id % 2 = 1
    ),
    train_vocab AS (
        SELECT DISTINCT g FROM (
            SELECT UNNEST({_SQL_GRAMS_3}) AS g
            FROM documents WHERE doc_id % 2 = 0
        ) t
    ),
    per_doc AS (
        SELECT eg.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN tv.g IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_overlapping
        FROM eval_grams eg LEFT JOIN train_vocab tv ON eg.g = tv.g
        GROUP BY eg.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(p.n_overlapping, 0) AS BIGINT) AS n_overlapping,
           CASE WHEN p.n_grams > 0
                THEN round(p.n_overlapping / p.n_grams * 1000000.0) / 1000000
           END AS overlap_frac,
           CASE WHEN p.n_grams > 0
                THEN (round(p.n_overlapping / p.n_grams * 1000000.0)
                      / 1000000) >= 0.5
                ELSE FALSE END AS flagged
    FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
    LEFT JOIN per_doc p USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def corpus_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL-side contamination fractions (operators/corpus.py
    eval_contamination — the round-14 registration of the r13-staged
    operator): per eval document (odd doc_ids), the fraction of its
    distinct token 3-grams appearing ANYWHERE in the train half (even
    doc_ids), micro-rounded, with the >=0.5 drop flag — the decision
    statistic an eval-suite owner uses on leaked items, complementing
    the train-side `corpus_contamination` screen.

    Scale shape: the train gram VOCABULARY deduplicates first (one hash
    aggregate over the big side), then a membership join on the 8-byte
    gram hash feeds one per-eval-doc aggregate — no train×eval doc
    product anywhere, and eval is typically tiny next to train."""
    from storm_dynamic_spout_spark.operators import corpus as C

    d = t(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 2 == 1
    return (
        C.eval_contamination(
            d.filter(~is_eval),
            d.filter(is_eval),
            ngram=EVAL_CONTAM_NGRAM,
            threshold=0.5,
        ).orderBy("doc_id")
    )


@query(
    "corpus_decontamination_report",
    oracle=f"""
    WITH train_vocab AS (
        SELECT DISTINCT source, g FROM (
            SELECT source, UNNEST({_SQL_GRAMS_3}) AS g
            FROM documents WHERE doc_id % 2 = 0
        ) t
    ),
    eval_grams AS (
        SELECT doc_id, UNNEST({_SQL_GRAMS_3}) AS g
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT tv.source,
           CAST(count(DISTINCT tv.g) AS BIGINT) AS n_shared_grams,
           CAST(count(DISTINCT eg.doc_id) AS BIGINT) AS n_eval_docs_touched,
           CAST(count(*) AS BIGINT) AS n_leaked_gram_slots,
           CAST(count(*) * {EVAL_CONTAM_NGRAM} AS BIGINT) AS leaked_token_budget
    FROM eval_grams eg JOIN train_vocab tv USING (g)
    GROUP BY tv.source
    ORDER BY tv.source
    """,
)
def corpus_decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-TRAIN-SOURCE leakage budget (operators/corpus.py
    decontamination_report — the round-15 registration of the r14-staged
    operator, oracle validated end-to-end in
    tools/proto_decontam_oracle.py): where `corpus_eval_contamination`
    scores each EVAL document, this attributes the leak back to corpus
    COMPOSITION — per ingest source, the distinct shared grams, eval
    docs touched, (eval doc, gram) leak slots, and the standard
    ``slots × ngram`` leaked-token upper bound.  The readout a corpus
    owner acts on: "which source do I scrub, and how much eval text
    does it leak?".

    Scale shape: both sides dedup BEFORE the join — train to (source,
    gram) vocabulary rows, eval to per-doc distinct gram hashes — then
    one gram-hash equi-join and one per-source aggregate.  No
    train×eval doc product; the |sources| fan-out exists only on grams
    that actually leak."""
    from storm_dynamic_spout_spark.operators import corpus as C

    d = t(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 2 == 1
    return C.decontamination_report(
        d.filter(~is_eval), d.filter(is_eval), ngram=EVAL_CONTAM_NGRAM
    ).orderBy("source")


@query(
    "sequence_packing",
    oracle=f"""
    WITH counted AS (
        SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, lang, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS start_offset
        FROM counted
    )
    SELECT doc_id, lang, n_tokens, start_offset,
           start_offset // {PACK_BUDGET} AS seq_index,
           ((start_offset + greatest(n_tokens, 1) - 1) // {PACK_BUDGET})
               - (start_offset // {PACK_BUDGET}) + 1 AS n_seqs
    FROM cum
    ORDER BY lang, doc_id
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-based sequence packing per language stream: concatenate
    docs in id order, cut every 512 tokens; emits each doc's start
    offset, first sequence index, and sequences spanned. Windows run
    per-stream (no global sort) so packing parallelizes across the
    corpus."""
    from storm_dynamic_spout_spark.operators import corpus as C

    d = t(spark, sf_dir, "documents")
    return C.pack_sequences(d, PACK_BUDGET).orderBy("lang", "doc_id")


@query(
    "training_export_shuffle",
    oracle=f"""
    WITH hashed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM documents
    )
    SELECT doc_id,
           h % {EXPORT_SHARDS} AS shard,
           CAST(row_number() OVER (PARTITION BY h % {EXPORT_SHARDS} ORDER BY h, doc_id)
                AS BIGINT) AS shuffle_rank
    FROM hashed
    ORDER BY shard, shuffle_rank
    """,
)
def training_export_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic export shuffle: md5(doc_id) → shard + within-shard
    rank. A reproducible global permutation with no rand() and no
    global sort — every shard orders independently, and the write side
    (operators/layout.py) lands one directory per shard."""
    from storm_dynamic_spout_spark.operators import corpus as C

    d = t(spark, sf_dir, "documents")
    return C.export_shuffle(d, EXPORT_SHARDS).orderBy("shard", "shuffle_rank")


def _stream_dedup_sql() -> str:
    """The two-micro-batch dup-log, staged as CTEs: batch 1 = even
    doc_ids matching within-batch (any earlier even doc counts as
    seen); batch 2 = odd doc_ids matching earlier odds within-batch
    PLUS the index, which holds only the evens that were NOT flagged
    dup in batch 1. Best match = max agreement, ties to the earliest
    seen id — exactly StreamingDedupIndex._match/process_batch."""
    mh_cols = ", ".join(f"{_sql_minhash(s)} AS mh{s}" for s in D.MINHASH_SEEDS)
    band_cols = ", ".join(
        f"{_sql_band(rows)} AS band_{b}" for b, rows in enumerate(D.MINHASH_BANDS)
    )
    band_match = " OR ".join(
        f"n.band_{b} = s.band_{b}" for b in range(len(D.MINHASH_BANDS))
    )
    agree = " + ".join(
        f"(CASE WHEN n.mh{s} = s.mh{s} THEN 1 ELSE 0 END)" for s in D.MINHASH_SEEDS
    )
    pair_select = f"""
      SELECT n.doc_id AS new_id, s.doc_id AS seen_id,
             CAST({agree} AS DOUBLE) / {len(D.MINHASH_SEEDS)} AS agreement
      FROM keyed n JOIN keyed s
        ON ({band_match}) AND s.doc_id < n.doc_id"""
    best = (
        "SELECT new_id, seen_id, agreement, "
        "row_number() OVER (PARTITION BY new_id "
        "ORDER BY agreement DESC, seen_id ASC) AS rn "
    )
    return f"""
    WITH sig AS (SELECT doc_id, {mh_cols} FROM documents),
    keyed AS (SELECT *, {band_cols} FROM sig),
    p1 AS ({pair_select}
      WHERE n.doc_id % 2 = 0 AND s.doc_id % 2 = 0),
    d1 AS ({best} FROM p1 WHERE agreement >= 0.5),
    dups1 AS (SELECT new_id AS doc_id, seen_id AS matched_id, agreement
              FROM d1 WHERE rn = 1),
    p2 AS ({pair_select}
      WHERE n.doc_id % 2 = 1
        AND (s.doc_id % 2 = 1
             OR s.doc_id NOT IN (SELECT doc_id FROM dups1))),
    d2 AS ({best} FROM p2 WHERE agreement >= 0.5),
    dups2 AS (SELECT new_id AS doc_id, seen_id AS matched_id, agreement
              FROM d2 WHERE rn = 1)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(matched_id AS BIGINT) AS matched_id,
           agreement
    FROM (SELECT * FROM dups1 UNION ALL SELECT * FROM dups2)
    ORDER BY doc_id
    """


@query("stream_incremental_dedup", oracle=_stream_dedup_sql())
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection, driven in two micro-batches over
    the documents table (even ids arrive first, odd ids second): new
    docs match against the persistent minhash band-key index via
    equi-joins (streaming/dedup_stream.py). The final dup-log IS
    SQL-expressible (two staged half-corpus CTEs — see
    _stream_dedup_sql), so the driver hash-checks values; the
    multi-batch stateful mechanics get scenario coverage in
    tests/test_streaming_dedup.py."""
    import tempfile

    from storm_dynamic_spout_spark.streaming.dedup_stream import StreamingDedupIndex

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    idx = StreamingDedupIndex(tempfile.mkdtemp(prefix="sdss-dd-"))
    idx.process_batch(d.filter(F.col("doc_id") % 2 == 0), lambda df: df.count())
    idx.process_batch(d.filter(F.col("doc_id") % 2 == 1), lambda df: df.count())
    dups = idx.duplicates(spark)
    if dups is None:
        return spark.createDataFrame(
            [], "doc_id long, matched_id long, agreement double"
        )
    # explicit projection: the dup log is partitioned by the internal
    # __batch_key guard column (round 14)
    return dups.select("doc_id", "matched_id", "agreement").orderBy("doc_id")


# ---------------------------------------------------------------------------
# PII scrubbing + embedding preprocessing
# ---------------------------------------------------------------------------

# The synthetic corpus contains no organic PII, so the query plants a
# deterministic email + digit run per doc (same construction both
# engines) and scrubs it — the redaction mechanics, counts, and
# replacement output all get real row-level evidence.
_PII_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ref '"
    " || lpad(CAST(doc_id * 7919 AS VARCHAR), 10, '0')"
)


@query(
    "text_pii_scrub",
    oracle="""
    WITH aug AS (SELECT doc_id, {AUG} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{NUM}')) AS BIGINT) AS n_numbers,
           regexp_replace(regexp_replace(t, '{EMAIL}', '<EMAIL>', 'g'),
                          '{NUM}', '<NUM>', 'g') AS scrubbed
    FROM aug
    ORDER BY doc_id
    """.format(
        AUG=_PII_AUG_SQL,
        EMAIL="[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        NUM="[0-9]{6,}",
    ),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (operators/text.py pii_scrub): emails then
    long digit runs → placeholders, with per-doc match counts. Pure
    regexp built-ins — codegen'd, linear, no shuffle."""
    d = t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ref "),
        F.lpad((F.col("doc_id") * 7919).cast("string"), 10, "0"),
    )
    n_emails, n_numbers = X.pii_counts(aug)
    return d.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_numbers.alias("n_numbers"),
        X.pii_scrub(aug).alias("scrubbed"),
    ).orderBy("doc_id")


@query(
    "embedding_normalize",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
               FROM embeddings)
    SELECT vec_id,
           round(sqrt(list_inner_product(ve, ve)), 6) AS l2_norm,
           array_to_string(list_transform(ve, x ->
               CAST(CAST(round(x / sqrt(list_inner_product(ve, ve)) * 1000000) AS BIGINT) AS VARCHAR)
           ), ',') AS unit_ppm
    FROM v
    ORDER BY vec_id
    """,
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding column — the preprocessing
    every cosine index expects (operators/similarity.py
    l2_normalize_ppm).  The unit vector crosses the driver hash as one
    CSV of integer parts-per-million components (list cells aren't
    hashable in the driver's canonical sort).  Both engines round the
    raw quotient ``x/norm * 1e6`` exactly once, so the integers match
    bit-for-bit."""
    unit = S.l2_normalize_ppm(t(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    ppm = F.transform(F.col("unit_ppm"), lambda x: x.cast("string"))
    return unit.select(
        "vec_id", "l2_norm", F.array_join(ppm, ",").alias("unit_ppm")
    ).orderBy("vec_id")


@query(
    "embedding_quantize",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
               FROM embeddings),
    s AS (SELECT vec_id, ve,
                 CASE WHEN list_max(list_transform(ve, x -> abs(x))) > 0
                      THEN 127.0 / list_max(list_transform(ve, x -> abs(x)))
                      ELSE 0.0 END AS sc
          FROM v)
    SELECT vec_id,
           round(sc, 6) AS scale,
           array_to_string(list_transform(ve, x ->
               CAST(CAST(round(x * sc) AS INTEGER) AS VARCHAR)
           ), ',') AS q_csv
    FROM s
    ORDER BY vec_id
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (scale = 127/max|x|): 4x smaller
    vectors for the ANN index with exact integer outputs
    (operators/similarity.py int8_quantize).  Like embedding_normalize,
    the int8 vector crosses the driver hash as one CSV string — list
    cells aren't hashable in the driver's canonical pandas sort."""
    q = S.int8_quantize(t(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    q_str = F.transform(F.col("q"), lambda x: x.cast("string"))
    return q.select(
        "vec_id", "scale", F.array_join(q_str, ",").alias("q_csv")
    ).orderBy("vec_id")


def _sql_sd_guard(vec: str) -> str:
    """DuckDB twin of whiten_ppm's denormal-sd floor, interpolating the
    engine's OWN epsilon constants (operators/similarity.py
    WHITEN_SD_REL_EPS/ABS_EPS — r14 advice: a plain ``sd > 0`` guard
    was only fixture-equivalent): dimension ``i`` of ``vec`` whitens
    iff its corpus sd clears the relative floor."""
    from storm_dynamic_spout_spark.operators.similarity import (
        WHITEN_SD_ABS_EPS,
        WHITEN_SD_REL_EPS,
    )

    return (
        f"sds[i] > abs(mus[i]) * {WHITEN_SD_REL_EPS!r} + {WHITEN_SD_ABS_EPS!r}"
    )


@query(
    "embedding_whitening",
    oracle=f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
               FROM embeddings),
    comp AS (SELECT UNNEST(range(1, len(ve) + 1)) AS pos, ve FROM v),
    cell AS (SELECT pos, ve[pos] AS x FROM comp),
    stats AS (SELECT pos, avg(x) AS mu, stddev_pop(x) AS sd FROM cell GROUP BY pos),
    sarr AS (SELECT list(mu ORDER BY pos) AS mus, list(sd ORDER BY pos) AS sds
             FROM stats)
    SELECT vec_id,
           CAST(len(ve) AS INTEGER) AS n_dims,
           array_to_string(list_transform(range(1, len(ve) + 1), i ->
               CAST(CAST(CASE WHEN {_sql_sd_guard("ve")}
                              THEN round((ve[i] - mus[i]) / sds[i] * 1000000)
                              ELSE 0 END AS BIGINT) AS VARCHAR)), ',') AS white_ppm
    FROM v, sarr
    ORDER BY vec_id
    """,
)
def embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal corpus whitening (operators/similarity.py whiten_ppm):
    standardize every embedding dimension to zero mean / unit variance
    over the corpus — the retrieval post-processing step that repairs
    anisotropic embedding spaces before indexing.  Integer ppm
    components cross the driver hash as one CSV (list cells aren't
    hashable in the driver's canonical sort); both engines round the
    raw quotient ``(x - mu)/sd * 1e6`` exactly once.

    Plan shape: posexplode -> per-dimension agg (one exchange over d
    groups), mu/sd arrays broadcast back on a one-row cross join, then
    a map-only zip_with — at 100 TB the only shuffle is d rows wide."""
    w = S.whiten_ppm(t(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    ppm = F.transform(F.col("white_ppm"), lambda x: x.cast("string"))
    return w.select(
        "vec_id", "n_dims", F.array_join(ppm, ",").alias("white_ppm")
    ).orderBy("vec_id")


ANN_NPROBE = 2


@query(
    "ann_topk_ivf_nprobe",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
               FROM embeddings),
    comp AS (SELECT label, UNNEST(range(1, len(ve) + 1)) AS pos, ve FROM v),
    cvec AS (
        SELECT label AS cb, list(c ORDER BY pos) AS cv
        FROM (SELECT label, pos, avg(ve[pos]) AS c FROM comp GROUP BY label, pos)
        GROUP BY label
    ),
    q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < {ANN_QUERY_MAX_ID}),
    probes AS (
        SELECT query_id, qv, cb FROM (
            SELECT query_id, qv, cb,
                   row_number() OVER (PARTITION BY query_id ORDER BY
                       list_inner_product(qv, cv)
                         / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv)))
                       DESC, cb) AS pr
            FROM q CROSS JOIN cvec
        ) WHERE pr <= {ANN_NPROBE}
    ),
    scored AS (
        SELECT query_id, vec_id AS neighbor_id,
               round(list_inner_product(qv, ve)
                 / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(ve, ve)))
                 * 1000000) / 1000000 AS cos
        FROM probes JOIN v ON v.label = probes.cb AND v.vec_id <> probes.query_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= {ANN_K}
    """,
)
def ann_topk_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-k (nprobe=2): each query searches its two
    nearest coarse-centroid buckets — the recall knob of a real IVF
    index, still bucket-equi-join cost (operators/similarity.py
    cosine_topk_ivf_nprobe)."""
    df = S.cosine_topk_ivf_nprobe(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        "label",
        F.col("vec_id") < ANN_QUERY_MAX_ID,
        ANN_K,
        ANN_NPROBE,
    )
    return df.select(
        "query_id",
        "neighbor_id",
        (F.round(F.col("cos") * 1000000) / 1000000).alias("cos"),
        "rank",
    )


def _cluster_oracle_sql() -> str:
    psql = _minhash_pairs_sql()
    return f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({psql})),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
    SELECT d.doc_id, COALESCE(comp.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp USING (doc_id)
    ORDER BY d.doc_id
    """


@query("dedup_cluster_assignment", oracle=_cluster_oracle_sql())
def dedup_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical dedup cluster ids: connected components over the
    MinHash near-dup pairs via iterative min-label propagation
    (operators/dedup.py connected_components — the Pregel pattern,
    oracle-checked against a recursive-CTE transitive closure).
    Singletons keep their own id; corpus-level dedup then keeps
    doc_id == cluster_id."""
    d = t(spark, sf_dir, "documents")
    pairs = D.minhash_near_dups(d, "doc_id", "text", NEAR_DUP_JACCARD)
    return D.connected_components(pairs, d, "doc_id").orderBy("doc_id")


# quality gate thresholds (shared Spark/oracle)
QF_MIN_TOKENS = 20
QF_MIN_STOPWORD = 0.02
QF_MAX_STOPWORD = 0.15


def _quality_filter_sql() -> str:
    sw = X.sql_stopword_ratio("text", X.QUALITY_STOPWORDS)
    n = "len(regexp_split_to_array(text, '\\s+'))"
    return f"""
    SELECT doc_id,
           CASE WHEN {n} < {QF_MIN_TOKENS} THEN 'too_short'
                WHEN {sw} < {QF_MIN_STOPWORD} THEN 'low_stopword'
                WHEN {sw} > {QF_MAX_STOPWORD} THEN 'high_stopword'
                ELSE 'keep' END AS reason,
           CASE WHEN {n} >= {QF_MIN_TOKENS}
                 AND {sw} >= {QF_MIN_STOPWORD}
                 AND {sw} <= {QF_MAX_STOPWORD}
                THEN TRUE ELSE FALSE END AS keep
    FROM documents
    ORDER BY doc_id
    """


@query("text_quality_filter", oracle=_quality_filter_sql())
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality GATE (decision, not score): keep/drop per doc with
    the first failing rule as the reason — token-count floor, then
    stopword-ratio band (too low = no natural-language signal, too
    high = boilerplate). Pure per-row expressions, so the double
    comparisons are bit-identical across engines (no accumulation)."""
    d = t(spark, sf_dir, "documents")
    text = F.col("text")
    n = X.token_count(text)
    sw = X.stopword_ratio(text)
    reason = (
        F.when(n < QF_MIN_TOKENS, "too_short")
        .when(sw < QF_MIN_STOPWORD, "low_stopword")
        .when(sw > QF_MAX_STOPWORD, "high_stopword")
        .otherwise("keep")
    )
    keep = (n >= QF_MIN_TOKENS) & (sw >= QF_MIN_STOPWORD) & (sw <= QF_MAX_STOPWORD)
    return d.select(
        "doc_id", reason.alias("reason"), keep.alias("keep")
    ).orderBy("doc_id")


@query(
    "text_repetition",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_transform(range(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' '
                    || string_split(text, ' ')[i+1] || ' '
                    || string_split(text, ' ')[i+2]) AS grams
      FROM documents
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
             AS rep_ratio
    FROM g
    WHERE len(grams) > 0
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signal (Gopher-style quality heuristic): the fraction
    of word 3-gram *occurrences* that are repeats of an earlier 3-gram
    in the same document — near-0 for natural prose, high for looping
    boilerplate. Entirely array expressions inside one projection (no
    explode, no shuffle): at 100 TB this is a pure map-side scan whose
    cost is the tokenize, same as the other text signals."""
    d = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    # stage `words` as a column so the transform lambda indexes an
    # attribute, not three re-evaluated split() calls per element
    grams = F.expr(
        "transform(sequence(0, size(words) - 3),"
        " i -> concat_ws(' ', words[i], words[i+1], words[i+2]))"
    )
    return (
        d.filter(F.size(words) >= 3)
        .select("doc_id", words.alias("words"))
        .select("doc_id", grams.alias("grams"))
        .select(
            "doc_id",
            F.size("grams").cast("long").alias("n_grams"),
            F.size(F.array_distinct("grams")).cast("long").alias("n_distinct"),
            F.round(
                1.0 - F.size(F.array_distinct("grams")).cast("double")
                / F.size("grams"),
                6,
            ).alias("rep_ratio"),
        )
    )


@query(
    "corpus_composition",
    oracle=f"""
    SELECT lang,
           CAST(least(length(text) // 500, 4) AS BIGINT) AS len_band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens,
           round(sum(
             (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
              + (1.0 - least({{P}} * 5, 1.0))
              + (1.0 - abs({{S}} - 0.4))
             ) / 3.0
           ), 6) AS quality_sum
    FROM documents
    GROUP BY 1, 2
    ORDER BY 1, 2
    """.format(
        P=X.sql_punct_ratio("text"),
        S=X.sql_stopword_ratio("text", X.QUALITY_STOPWORDS),
    ),
)
def corpus_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus composition report every training-data pipeline
    publishes: per (language, length band) document counts, total
    whitespace tokens, and summed quality (operators/text.py scoring).
    Length bands are exact integer arithmetic (500-char buckets capped
    at 4) so both engines band identically; one map-side-combined
    aggregate — 100 TB collapses to ~25 rows before the shuffle."""
    d = t(spark, sf_dir, "documents")
    text = F.col("text")
    band = F.least(F.floor(F.length(text) / 500), F.lit(4)).cast("long")
    return (
        d.groupBy("lang", band.alias("len_band"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(X.token_count(text)).alias("total_tokens"),
            F.round(F.sum(X.quality_score(text)), 6).alias("quality_sum"),
        )
        .orderBy("lang", "len_band")
    )


@query(
    "corpus_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT doc_id, text || ' [rev2]' AS text, lang, source,
             CAST(length(text || ' [rev2]') AS BIGINT) AS n_chars
      FROM documents WHERE doc_id % 7 = 0
    ),
    inserts AS (
      SELECT doc_id + 1000000 AS doc_id, 'recrawl: ' || text AS text, lang,
             'recrawl' AS source,
             CAST(length('recrawl: ' || text) AS BIGINT) AS n_chars
      FROM documents WHERE doc_id % 50 = 0
    ),
    src AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts),
    merged AS (
      SELECT coalesce(s.doc_id, t.doc_id) AS doc_id,
             CASE WHEN s.doc_id IS NOT NULL THEN s.text ELSE t.text END AS text,
             CASE WHEN s.doc_id IS NOT NULL THEN s.lang ELSE t.lang END AS lang,
             CASE WHEN s.doc_id IS NOT NULL THEN s.source ELSE t.source END AS source,
             CASE WHEN s.doc_id IS NOT NULL THEN s.n_chars ELSE t.n_chars END AS n_chars
      FROM documents t FULL OUTER JOIN src s ON t.doc_id = s.doc_id
    )
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5 FROM merged
    """,
)
def corpus_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 corpus refresh (operators/merge.py): a re-crawl batch of
    revised docs (doc_id % 7) plus brand-new docs (doc_id % 50, keyed
    past the fixture id range) MERGEs into the documents table — matched
    rows replaced whole-row, new rows inserted, untouched rows kept.
    One full-outer shuffle on doc_id; Catalyst broadcasts the (small)
    update batch.  The oracle is the ANSI FULL OUTER JOIN + CASE
    equivalent of MERGE INTO."""
    from storm_dynamic_spout_spark.operators.merge import merge_upsert

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    updates = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" [rev2]")).alias("text"),
        "lang",
        "source",
        F.length(F.concat(F.col("text"), F.lit(" [rev2]"))).cast("long").alias("n_chars"),
    )
    inserts = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("recrawl: "), F.col("text")).alias("text"),
        "lang",
        F.lit("recrawl").alias("source"),
        F.length(F.concat(F.lit("recrawl: "), F.col("text"))).cast("long").alias("n_chars"),
    )
    merged = merge_upsert(docs, updates.unionByName(inserts), keys=["doc_id"])
    return merged.select(
        "doc_id", "lang", "source", "n_chars", F.md5(F.col("text")).alias("text_md5")
    )


def _sql_quality() -> str:
    """The quality_score composite as a DuckDB expression (same formula
    as operators/text.py quality_score, shared by three oracles)."""
    p = X.sql_punct_ratio("text")
    s = X.sql_stopword_ratio("text", X.QUALITY_STOPWORDS)
    return (
        "(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)"
        f" + (1.0 - least({p} * 5, 1.0))"
        f" + (1.0 - abs({s} - 0.4))"
        ") / 3.0"
    )


@query(
    "text_quality_gate_quantile",
    oracle=f"""
    WITH scored AS (SELECT doc_id, {_sql_quality()} AS quality FROM documents),
    thr AS (SELECT quantile_cont(quality, 0.75) AS q75 FROM scored)
    SELECT s.doc_id, round(s.quality, 6) AS quality
    FROM scored s, thr WHERE s.quality >= thr.q75
    """,
)
def text_quality_gate_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality gate: keep documents at or above the
    corpus P75 quality score.  The threshold is a one-row global
    aggregate broadcast back over the scan (scalar-subquery pattern —
    the crossJoin is a 1-row broadcast, not a cartesian).  Exact
    interpolated percentile here (matches DuckDB quantile_cont); at
    100 TB swap in approx_percentile — same plan shape, sketch-merge
    instead of sort.  Threshold comparison is ULP-safe: the
    interpolated value lies strictly between two adjacent sorted
    scores, so no document score can sit inside the engines'
    1-ulp interpolation disagreement."""
    d = t(spark, sf_dir, "documents")
    scored = d.select("doc_id", X.quality_score(F.col("text")).alias("quality"))
    thr = scored.agg(F.percentile(F.col("quality"), F.lit(0.75)).alias("__q75"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("__q75"))
        .select("doc_id", F.round(F.col("quality"), 6).alias("quality"))
    )


CONTAINMENT_T = 0.9


@query(
    "dedup_containment",
    oracle=f"""
    WITH grams AS (SELECT doc_id, {_SQL_GRAMS} AS g FROM documents),
    sized AS (SELECT doc_id, g, len(g) AS n FROM grams WHERE len(g) > 0),
    ex AS (SELECT doc_id, UNNEST(g) AS gk FROM sized),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.gk = b.gk AND a.doc_id < b.doc_id
    ),
    j AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(x.g, y.g)) AS DOUBLE) AS i,
             x.n AS na, y.n AS nb
      FROM cand c
      JOIN sized x ON x.doc_id = c.id_a
      JOIN sized y ON y.doc_id = c.id_b
    ),
    directed AS (
      SELECT id_a AS contained_id, id_b AS container_id, i / na AS containment FROM j
      UNION ALL
      SELECT id_b, id_a, i / nb FROM j
    )
    SELECT contained_id, container_id,
           round(containment * 1000000) / 1000000 AS containment
    FROM directed WHERE containment >= {CONTAINMENT_T}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric subset-duplication pairs (operators/dedup.py
    containment_pairs): containment = |G_a ∩ G_b| / |G_a| over hashed
    token 8-gram sets.  Catches the boilerplate-plus-article case
    Jaccard-tuned MinHash bands miss; candidates from a shared-8-gram
    equi-join (verbatim phrase reuse is the signal), exact verify per
    direction."""
    df = D.containment_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", CONTAINMENT_T, CONTAM_NGRAM
    )
    return df.select(
        "contained_id",
        "container_id",
        (F.round(F.col("containment") * 1000000) / 1000000).alias("containment"),
    )


@query(
    "ann_hard_negatives",
    oracle=f"""
    WITH {_VQ},
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
             round({_SQL_COS} * 1000000) / 1000000 AS cos
      FROM q JOIN v ON v.label <> q.qlabel
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= {ANN_K}
    """,
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    query, the top-k most-similar vectors with a DIFFERENT label — the
    negatives that sit closest to the decision boundary.  Same
    broadcast-queries × corpus-scan shape as ann_topk_bruteforce with
    the label-mismatch condition fused into the join, per-query top-k
    via WindowGroupLimit."""
    from pyspark.sql.window import Window as W

    corpus = t(spark, sf_dir, "embeddings")
    v = corpus.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("__v"),
    ).withColumn("__n", S.norm(F.col("__v")))
    queries = v.filter(F.col("vec_id") < ANN_QUERY_MAX_ID).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("__qlabel"),
        F.col("__v").alias("__q"),
        F.col("__n").alias("__qn"),
    )
    scored = v.join(F.broadcast(queries), F.col("label") != F.col("__qlabel"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn(
            "cos",
            F.round(
                S.dot(F.col("__q"), F.col("__v")) / (F.col("__qn") * F.col("__n")) * 1000000
            )
            / 1000000,
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= ANN_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos", "rank")
    )


@query(
    "corpus_stratified_split",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY md5(lang || ':' || source || ':' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn,
             count(*) OVER (PARTITION BY lang, source) AS n
      FROM documents
    )
    SELECT doc_id, lang, source,
           CASE WHEN rn * 10 <= n * 8 THEN 'train'
                WHEN rn * 10 <= n * 9 THEN 'val'
                ELSE 'test' END AS split
    FROM ranked
    """,
)
def corpus_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test split: within each
    (lang, source) stratum, rank documents by a salted md5 and cut at
    EXACT 80/10/10 proportions (integer arithmetic at the boundaries —
    no float fractions).  Reproducible across runs and engines (no
    rand()); one window over the stratum key.  At 100 TB the stratum
    count-window is a single shuffle on (lang, source); skewed strata
    are just big partitions — AQE handles them, and the hash ordering
    spreads writes."""
    from pyspark.sql.window import Window as W

    d = t(spark, sf_dir, "documents")
    salt = F.md5(
        F.concat(
            F.col("lang"), F.lit(":"), F.col("source"), F.lit(":"), F.col("doc_id").cast("string")
        ).cast("binary")
    )
    w = W.partitionBy("lang", "source").orderBy(salt, "doc_id")
    wn = W.partitionBy("lang", "source")
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.when(F.row_number().over(w) * 10 <= F.count(F.lit(1)).over(wn) * 8, "train")
        .when(F.row_number().over(w) * 10 <= F.count(F.lit(1)).over(wn) * 9, "val")
        .otherwise("test")
        .alias("split"),
    )


def _stream_ann_sql() -> str:
    """DuckDB mirror of the streaming ANN index's deterministic two-batch
    schedule (even vec_ids indexed first, odd arrive second): the final
    match log is exactly 'for each odd vector, top-k among same-bucket
    even vectors'.  Bucket ids use the SAME srp_planes hyperplanes as
    streaming/ann_stream.py, inlined as literals."""
    from storm_dynamic_spout_spark.streaming.ann_stream import (
        ANN_STREAM_DIM,
        ANN_STREAM_K,
        ANN_STREAM_PLANES,
    )

    planes = S.srp_planes(ANN_STREAM_DIM, ANN_STREAM_PLANES)
    bucket = " + ".join(
        f"(CASE WHEN list_inner_product(ve, ["
        + ", ".join(str(w) for w in row)
        + f"]) >= 0 THEN {2**p} ELSE 0 END)"
        for p, row in enumerate(planes)
    )
    return f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
               FROM embeddings),
    b AS (SELECT vec_id, ve, {bucket} AS bucket FROM v),
    idx AS (SELECT * FROM b WHERE vec_id % 2 = 0),
    q AS (SELECT * FROM b WHERE vec_id % 2 = 1),
    scored AS (
      SELECT q.vec_id AS query_id, idx.vec_id AS neighbor_id,
             round(list_inner_product(q.ve, idx.ve)
               / (sqrt(list_inner_product(q.ve, q.ve)) * sqrt(list_inner_product(idx.ve, idx.ve)))
               * 1000000) / 1000000 AS cos
      FROM q JOIN idx ON q.bucket = idx.bucket
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= {ANN_STREAM_K}
    """


@query("stream_ann_index", oracle=_stream_ann_sql())
def stream_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental ANN (streaming/ann_stream.py), driven in
    two micro-batches over the embeddings table (even vec_ids indexed
    first, odd arrive second): each new vector top-k-matches against
    the same-SRP-bucket slice of the index built so far.  The final
    match log is SQL-expressible (staged half-corpus CTEs), so the
    driver hash-checks values; multi-batch stateful mechanics get
    scenario coverage in tests/test_ann_stream.py."""
    import tempfile

    from storm_dynamic_spout_spark.streaming.ann_stream import StreamingAnnIndex

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = StreamingAnnIndex(tempfile.mkdtemp(prefix="sdss-ann-"))
    idx.process_batch(e.filter(F.col("vec_id") % 2 == 0))
    idx.process_batch(e.filter(F.col("vec_id") % 2 == 1))
    m = idx.matches(spark)
    if m is None:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos double, rank long"
        )
    return m.select("query_id", "neighbor_id", "cos", "rank")


def _stream_bm25_sql() -> str:
    """DuckDB mirror of the streaming BM25 index's deterministic
    two-batch schedule (even doc_ids indexed first, odd arrive
    second): the final match log is exactly 'for each odd document,
    top-k BM25 among even documents', with idf/avgdl statistics from
    the even half only (the pre-batch index).  Per-term contributions
    round to integer micro-units BEFORE the per-pair sum on BOTH
    engines, so the sum is exact and order-free."""
    from storm_dynamic_spout_spark.streaming.bm25_stream import (
        BM25_STREAM_B,
        BM25_STREAM_K,
        BM25_STREAM_K1,
    )

    return f"""
    WITH dd AS (
      SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS dl FROM documents
    ),
    pos AS (
      SELECT doc_id, dl, u.x AS tok, CAST(count(*) AS BIGINT) AS tf
      FROM dd, UNNEST(toks) AS u(x)
      WHERE doc_id % 2 = 0
      GROUP BY doc_id, dl, u.x
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl
      FROM dd WHERE doc_id % 2 = 0
    ),
    dfx AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM pos GROUP BY tok),
    q AS (
      SELECT DISTINCT doc_id AS query_id, u.x AS tok
      FROM dd, UNNEST(toks) AS u(x)
      WHERE doc_id % 2 = 1
    ),
    scored AS (
      SELECT q.query_id, pos.doc_id,
             CAST(sum(CAST(round(
               ln(1 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
               * pos.tf * ({BM25_STREAM_K1} + 1)
               / (pos.tf + {BM25_STREAM_K1} * (1 - {BM25_STREAM_B}
                  + {BM25_STREAM_B} * pos.dl
                    / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
               * 1000000) AS BIGINT)) AS BIGINT) AS ms,
             CAST(count(*) AS BIGINT) AS n_terms
      FROM q JOIN pos USING (tok) JOIN dfx USING (tok) CROSS JOIN stats s
      GROUP BY q.query_id, pos.doc_id
    )
    SELECT query_id, doc_id, n_terms, ms / 1000000.0 AS score, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY ms DESC, doc_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= {BM25_STREAM_K}
    """


@query("stream_bm25_index", oracle=_stream_bm25_sql())
def stream_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental BM25 retrieval (streaming/bm25_stream.py —
    the sparse twin of stream_ann_index), driven in two micro-batches
    over the documents table (even doc_ids indexed first, odd arrive
    second): each new document's distinct tokens probe the postings
    built so far and keep the top-k BM25-scored indexed documents,
    with idf/avgdl statistics as of the pre-batch index.  Per-term
    contributions are integer micro-units before the per-pair sum, so
    the driver hash-checks exact values; multi-batch stateful
    mechanics get scenario coverage in tests/test_bm25_stream.py."""
    import tempfile

    from storm_dynamic_spout_spark.streaming.bm25_stream import StreamingBm25Index

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    idx = StreamingBm25Index(tempfile.mkdtemp(prefix="sdss-bm25-"))
    idx.process_batch(d.filter(F.col("doc_id") % 2 == 0))
    idx.process_batch(d.filter(F.col("doc_id") % 2 == 1))
    m = idx.matches(spark)
    if m is None:
        return spark.createDataFrame(
            [], "query_id long, doc_id long, n_terms long, score double, rank long"
        )
    return m.select("query_id", "doc_id", "n_terms", "score", "rank")


@query(
    "stream_state_report",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({_TOKS}) AS tok
        FROM documents
    )
    SELECT * FROM (
        SELECT 'df' AS state_table, CAST(1 AS BIGINT) AS n_files,
               CAST((SELECT count(DISTINCT tok) FROM toks) AS BIGINT) AS n_rows,
               FALSE AS needs_compaction
        UNION ALL
        SELECT 'postings', 1,
               CAST((SELECT count(*) FROM (SELECT DISTINCT doc_id, tok FROM toks) t)
                    AS BIGINT), FALSE
        UNION ALL
        SELECT 'stats', 1, 1, FALSE
    ) ORDER BY state_table
    """,
)
def stream_state_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance readout over streaming-index state
    (streaming/state_report.py state_table_report — the round-15
    registration of the r14-staged operator, oracle validated
    end-to-end in tools/proto_state_report_oracle.py): drive the BM25
    index through the standard two-micro-batch schedule (evens then
    odds), compact every state table to one file, and report per table
    ``(state_table, n_files, n_rows, needs_compaction)`` — the policy
    signal an operator watches to schedule the maintenance window.

    Post-compaction every column is corpus-derived or a literal, so the
    oracle is plain SQL: postings rows = distinct (doc, token) pairs,
    df rows = the vocabulary size, stats collapses to its sentinel row,
    and one file per table sits under any threshold.  The
    config-dependent PRE-compaction file counts stay out of the
    compared output (they are exercised by the lifecycle unit test and
    the randomized-schedule property instead).

    Scale shape: the report itself is metadata-sized — file listings
    walk the driver's filesystem view (the same guard walk the writers
    use) and row counts are parquet-footer COUNT(*) scans; nothing
    rereads the corpus."""
    import tempfile

    from storm_dynamic_spout_spark.streaming.bm25_stream import StreamingBm25Index
    from storm_dynamic_spout_spark.streaming.state_report import state_table_report

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    idx = StreamingBm25Index(tempfile.mkdtemp(prefix="sdss-srep-"))
    idx.process_batch(d.filter(F.col("doc_id") % 2 == 0))
    idx.process_batch(d.filter(F.col("doc_id") % 2 == 1))
    idx.compact_index(spark, target_files=1)
    return (
        state_table_report(
            spark,
            {"postings": idx.postings_dir, "stats": idx.stats_dir, "df": idx.df_dir},
            compact_threshold=1,
        )
        .withColumnRenamed("table", "state_table")
        .orderBy("state_table")
    )


@query(
    "corpus_merge_changelog",
    oracle="""
    WITH updates AS (
      SELECT doc_id FROM documents WHERE doc_id % 7 = 0
    ),
    inserts AS (
      SELECT doc_id + 1000000 AS doc_id FROM documents WHERE doc_id % 50 = 0
    ),
    merged AS (
      SELECT coalesce(u.doc_id, t.doc_id) AS doc_id,
             CASE WHEN u.doc_id IS NOT NULL THEN 'update' ELSE 'keep' END AS action
      FROM documents t FULL OUTER JOIN updates u ON t.doc_id = u.doc_id
      UNION ALL
      SELECT doc_id, 'insert' AS action FROM inserts
    )
    SELECT action, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(doc_id) AS BIGINT) AS min_id, CAST(max(doc_id) AS BIGINT) AS max_id
    FROM merged GROUP BY action ORDER BY action
    """,
)
def corpus_merge_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed summary of the SCD-1 corpus refresh
    (corpus_merge_upsert's batch): per action — insert / update /
    keep — row counts and id ranges.  What a downstream consumer
    subscribes to instead of re-diffing the table; derived from the
    same full-outer join, aggregated map-side to three rows."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    updates = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("__u_id")
    )
    inserts = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id")
    )
    merged = docs.join(
        updates, F.col("doc_id") == F.col("__u_id"), "full_outer"
    ).select(
        F.coalesce(F.col("doc_id"), F.col("__u_id")).alias("doc_id"),
        F.when(F.col("__u_id").isNotNull(), "update").otherwise("keep").alias("action"),
    ).unionByName(inserts.select("doc_id", F.lit("insert").alias("action")))
    return (
        merged.groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("action")
    )


# ---------------------------------------------------------------------------
# Weighted sampling / dedup canonicalization / LM quality scoring
# ---------------------------------------------------------------------------

WEIGHTED_SAMPLE_K = 100
#: Deterministic uniform in (0, 1]: md5-derived 60-bit hash folded into
#: a prime field.  Shared by the Spark and DuckDB expressions below.
_U_MOD = 1_000_000_007


@query(
    "sample_weighted",
    oracle=f"""
    SELECT doc_id, lang, n_chars, round(samp_key, 6) AS samp_key FROM (
      SELECT doc_id, lang, n_chars,
             pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    % {_U_MOD} + 1) / {_U_MOD + 1}.0,
                 1.0 / greatest(n_chars, 1)) AS samp_key
      FROM documents
    ) ORDER BY samp_key DESC, doc_id LIMIT {WEIGHTED_SAMPLE_K}
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    key = u^(1/w) with deterministic u = md5(doc_id) folded into (0,1],
    weight w = n_chars; the global top-k by key is an exact weighted
    sample — reproducible across runs/engines (no rand()), and
    restartable mid-job.

    Why at 100 TB: the mixture-weighting step of a training-data recipe
    ("sample 10B tokens, long documents proportionally more often")
    without a global shuffle — ``orderBy().limit(k)`` plans as
    TakeOrderedAndProject: per-partition top-k then a driver merge of
    k×partitions rows, never a full sort of the corpus."""
    d = t(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15),
            16,
            10,
        ).cast("long")
        % _U_MOD
        + 1
    ) / float(_U_MOD + 1)
    key = F.pow(u, 1.0 / F.greatest(F.col("n_chars"), F.lit(1)))
    return (
        d.select("doc_id", "lang", "n_chars", key.alias("__k"))
        .orderBy(F.desc("__k"), "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
        # rounded AFTER the top-k cut so the selection order is exact
        .select("doc_id", "lang", "n_chars", F.round("__k", 6).alias("samp_key"))
    )


@query(
    "dedup_keep_best",
    oracle=f"""
    SELECT doc_id, fingerprint, n_dups FROM (
      SELECT doc_id, md5({_SQL_NORM_TEXT}) AS fingerprint,
             CAST(count(*) OVER (PARTITION BY md5({_SQL_NORM_TEXT})) AS BIGINT) AS n_dups,
             row_number() OVER (PARTITION BY md5({_SQL_NORM_TEXT})
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup canonicalization: group by content fingerprint and keep
    ONE representative per duplicate cluster — the longest document,
    ties to the smallest doc_id (deterministic).  The step after
    detection in every dedup pipeline: emit the survivor set, not the
    pair list.

    Why at 100 TB: implemented as ``groupBy(fingerprint).agg(max_by)``
    — a single shuffle with MAP-SIDE partial aggregation (each task
    pre-reduces its clusters to one candidate row), unlike the
    window-function formulation which must materialize every duplicate
    row on one reducer before ranking.  max_by's ordering struct
    (n_chars, -doc_id) reproduces the (DESC, ASC) tie-break."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "n_chars",
            X.content_fingerprint(F.col("text")).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(
            F.max_by(
                F.col("doc_id"), F.struct(F.col("n_chars"), (-F.col("doc_id")))
            ).alias("doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("doc_id", "fingerprint", "n_dups")
    )


@query(
    "text_bigram_logprob",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    big AS (
      SELECT doc_id, tk[i] AS w1, tk[i] || ' ' || tk[i + 1] AS bg
      FROM toks, UNNEST(range(1, len(tk))) AS u(i)
      WHERE len(tk) >= 2
    ),
    bgc AS (SELECT bg, count(*) AS c_bg FROM big GROUP BY bg),
    uni AS (SELECT u.w AS w1, count(*) AS c_w FROM toks, UNNEST(tk) AS u(w) GROUP BY u.w),
    v AS (SELECT count(*) AS n_vocab FROM uni)
    SELECT doc_id,
           round(avg(ln((c_bg + 1.0) / (c_w + n_vocab))), 4) AS avg_logprob,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM big JOIN bgc USING (bg) JOIN uni USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived bigram language-model score per document (add-one
    smoothing): avg over the doc's bigrams of
    ln((count(w1 w2) + 1) / (count(w1) + |V|)) — the classic
    perplexity-proxy quality filter (KenLM-style gating) computed
    entirely in-engine, no external model.

    Why at 100 TB: the bigram/unigram count tables are Zipf-shaped —
    orders of magnitude smaller than the corpus after aggregation (and
    truncatable to a top-V vocabulary), so the score joins are
    fact-to-dim joins AQE turns into broadcasts; the vocab size |V| is
    a one-row broadcast (scalar-subquery pattern).  The bigram and
    unigram streams are each evaluated ONCE (checkpointed) — their
    count tables, the score join and the vocab scalar all derive from
    those two materialized passes with map-side partial aggregation."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", r"\s+").alias("tk"))
    # big feeds the bigram counts AND the score join — without it the
    # bigram explode ran twice
    big = local_checkpoint(
        toks.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> struct(element_at(tk, i) AS w1,"
                    " concat(element_at(tk, i), ' ', element_at(tk, i + 1)) AS bg))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.bg")
    )
    bgc = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    # uni feeds the score join AND the vocab-size scalar
    uni = local_checkpoint(
        toks.select(F.explode("tk").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("n_vocab"))
    return (
        big.join(bgc, "bg")
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            # rounded in-query: avg-of-logs accumulation order differs
            # between engines by ~1e-14 ULPs; 4 dp is noise-proof
            F.round(
                F.avg(F.log((F.col("c_bg") + 1.0) / (F.col("c_w") + F.col("n_vocab")))), 4
            ).alias("avg_logprob"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )


#: Quality-ordered token-budget selection: buckets must partition the
#: rounded score's [0, 1] range so bucket order == global score order.
_BUDGET_BUCKETS = 20

_SQL_QUALITY = """
    (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
     + (1.0 - least({punct} * 5, 1.0))
     + (1.0 - abs({stop} - 0.4))
    ) / 3.0
"""


@query(
    "corpus_token_budget",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             round({_SQL_QUALITY.format(punct=X.sql_punct_ratio('text'), stop=X.sql_stopword_ratio('text', X.QUALITY_STOPWORDS))}, 6) AS quality,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, quality, n_tokens,
             sum(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS cum_tokens,
             sum(n_tokens) OVER () AS total_tokens
      FROM scored
    )
    SELECT doc_id, quality, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum WHERE 2 * cum_tokens <= total_tokens
    """,
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection: walk the corpus in descending quality
    order and keep documents until half the corpus's tokens are
    spent — the "take the best N billion tokens" step of a training
    recipe.

    The oracle states it as a GLOBAL running sum (one ORDER BY over
    everything); the Spark plan decomposes it into a distributed
    prefix sum, which is the formulation that survives 100 TB:
      1. bucket docs by quality band (a pure function of the score, so
         bucket order == global order);
      2. per-bucket running sum — windows partitioned by bucket, all
         parallel;
      3. per-bucket token totals (20 rows) prefix-summed and broadcast
         back as each bucket's starting offset.
    cum = bucket offset + within-bucket running sum, exactly equal to
    the single-ordered-window answer, with no single-reducer global
    sort.  The half-corpus budget is an integer comparison
    (2*cum <= total) off a one-row broadcast total — no float
    thresholds."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    # scored feeds three consumers (the running-sum leg, the bucket
    # totals and the grand total) — without it the regex quality score
    # ran over the corpus three times (r15 plan: 3 documents scans)
    scored = (
        d.select(
            "doc_id",
            F.round(X.quality_score(F.col("text")), 6).alias("quality"),
            F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens"),
        )
        .withColumn(
            "__b",
            F.least(
                F.floor(F.col("quality") * _BUDGET_BUCKETS).cast("int"),
                F.lit(_BUDGET_BUCKETS - 1),
            ),
        )
    )
    scored = local_checkpoint(scored)
    within = F.sum("n_tokens").over(
        Window.partitionBy("__b")
        .orderBy(F.desc("quality"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bucket_totals = scored.groupBy("__b").agg(F.sum("n_tokens").alias("__bt"))
    # the grand total is the sum of the ~20 bucket totals — no third
    # corpus pass
    total = bucket_totals.agg(F.sum("__bt").alias("__tot"))
    # 20-row prefix sum: offset = tokens in all strictly-better buckets
    offsets = bucket_totals.select(
        "__b",
        (
            F.sum("__bt").over(
                Window.orderBy(F.desc("__b")).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("__bt")
        ).alias("__off"),
    )
    return (
        scored.withColumn("__run", within)
        .join(F.broadcast(offsets), "__b")
        .crossJoin(F.broadcast(total))
        .filter(2 * (F.col("__off") + F.col("__run")) <= F.col("__tot"))
        .select(
            "doc_id",
            "quality",
            "n_tokens",
            (F.col("__off") + F.col("__run")).cast("long").alias("cum_tokens"),
        )
    )


@query(
    "dedup_cluster_histogram",
    oracle=f"""
    SELECT n_copies, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(n_copies * count(*) AS BIGINT) AS n_docs
    FROM (
      SELECT md5({_SQL_NORM_TEXT}) AS fp, CAST(count(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY 1
    ) GROUP BY n_copies ORDER BY n_copies
    """,
)
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many exact-dup clusters
    have 1, 2, ... N members — THE ops metric for a dedup pipeline (dup
    rate, skew of viral clusters, expected output shrink) without
    materializing any pair list.

    Why at 100 TB: two cascaded shuffles whose data SHRINKS at each
    step — docs → one row per cluster (32-byte fingerprint keys,
    map-side partial counts) → one row per distinct cluster size
    (~dozens).  The histogram is what sizing decisions (band counts,
    skew-split thresholds) should be read from before running the
    quadratic stages."""
    d = t(spark, sf_dir, "documents")
    clusters = (
        d.select(X.content_fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )
    return (
        clusters.groupBy("n_copies")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "n_copies",
            "n_clusters",
            (F.col("n_copies") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("n_copies")
    )


@query(
    "ann_recall_report",
    oracle=f"""
    WITH {_VQ},
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round({_SQL_COS} * 1000000) / 1000000 DESC, vec_id) AS rank
        FROM q CROSS JOIN v WHERE vec_id <> query_id
      ) WHERE rank <= {ANN_K}
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round({_SQL_COS} * 1000000) / 1000000 DESC, vec_id) AS rank
        FROM q JOIN v ON v.label = q.qlabel AND v.vec_id <> q.query_id
      ) WHERE rank <= {ANN_K}
    )
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / {ANN_K}, 6) AS recall_at_k
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id
    """,
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k instrumentation for the IVF index: per query vector, the
    fraction of the EXACT cosine top-k that the bucketed (IVF) search
    returned.  The acceptance metric every approximate index ships
    with — here computed in-engine by joining the two result sets.

    Why at 100 TB: ground truth is only ever computed for a SAMPLED
    query set (here: the ≤8-vector query panel, broadcast twice); the
    corpus-side work is one brute-force scan for the sample plus the
    IVF probe — never all-pairs.  Run on a sample per index rebuild,
    the report decides nprobe/centroid-count retuning."""
    e = t(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < ANN_QUERY_MAX_ID
    exact = S.cosine_topk(e, "vec_id", "embedding", pred, ANN_K).select(
        "query_id", "neighbor_id"
    )
    approx = S.cosine_topk_ivf(e, "vec_id", "embedding", "label", pred, ANN_K).select(
        F.col("query_id").alias("__aq"), F.col("neighbor_id").alias("__an")
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("__aq"))
            & (F.col("neighbor_id") == F.col("__an")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("__an").alias("n_hits"),
            F.round(F.count("__an") / ANN_K, 6).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


#: Matryoshka truncation width: recall is measured for the first
#: MRL_DIM of the 64 embedding dimensions.
MRL_DIM = 16


@query(
    "embedding_matryoshka_recall",
    oracle=f"""
    WITH {_VQ},
    vt AS (SELECT vec_id, v[1:{MRL_DIM}] AS v FROM v),
    qt AS (SELECT query_id, q[1:{MRL_DIM}] AS q FROM q),
    exact AS (
      SELECT query_id, vec_id AS neighbor_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round({_SQL_COS} * 1000000) / 1000000 DESC, vec_id)
                 AS rn
        FROM q CROSS JOIN v WHERE vec_id <> query_id
      ) WHERE rn <= {ANN_K}
    ),
    approx AS (
      SELECT query_id, vec_id AS neighbor_id FROM (
        SELECT qt.query_id, vt.vec_id,
               row_number() OVER (PARTITION BY qt.query_id
                 ORDER BY round({_SQL_COS} * 1000000) / 1000000 DESC, vt.vec_id)
                 AS rn
        FROM qt CROSS JOIN vt WHERE vt.vec_id <> qt.query_id
      ) WHERE rn <= {ANN_K}
    )
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(count(a.neighbor_id) / CAST({ANN_K} AS DOUBLE), 6)
             AS recall_at_k
    FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
    GROUP BY e.query_id ORDER BY e.query_id
    """,
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL, Kusupati et al. 2022) truncation recall: how
    much of the EXACT full-dimension cosine top-k survives when search
    runs on only the first MRL_DIM (16 of 64) dimensions — the
    acceptance metric for serving truncated embeddings (memory/compute
    drop 4x; MRL-trained models concentrate signal in the prefix, so
    the recall this reports is the deployment go/no-go).  Cosine is
    scale-invariant, so truncation needs no re-normalization — the
    truncated search is the SAME brute-force operator over sliced
    vectors, and recall is a pure id-set intersection (integer count),
    immune to float rank jitter.

    Why at 100 TB: ground truth only ever computes for the sampled
    query panel (broadcast twice — the ann_recall_report shape); the
    corpus side is two scans, one of them over vectors 4x narrower;
    the production variant swaps the truncated brute force for the
    IVF/PQ index built on the SAME sliced column."""
    e = t(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < ANN_QUERY_MAX_ID
    exact = S.cosine_topk(e, "vec_id", "embedding", pred, ANN_K).select(
        "query_id", "neighbor_id"
    )
    trunc = e.select(
        "vec_id", F.slice("embedding", 1, MRL_DIM).alias("embedding")
    )
    approx = S.cosine_topk(trunc, "vec_id", "embedding", pred, ANN_K).select(
        F.col("query_id").alias("__aq"), F.col("neighbor_id").alias("__an")
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("__aq"))
            & (F.col("neighbor_id") == F.col("__an")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("__an").cast("long").alias("n_hits"),
            F.round(F.count("__an") / ANN_K, 6).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


#: Epochs per language tier — "repeat high-quality sources more often"
#: (the Pile/LLaMA-style epoch weighting table).
EPOCHS = {"en": 1, "de": 2, "es": 3, "fr": 2}


def _epochs_case() -> str:
    branches = " ".join(
        f"WHEN lang = '{lg}' THEN {n}" for lg, n in sorted(EPOCHS.items())
    )
    return f"CASE {branches} ELSE 1 END"


@query(
    "corpus_epoch_upsampling",
    oracle=f"""
    SELECT doc_id, lang, CAST(u.epoch AS BIGINT) AS epoch
    FROM documents, UNNEST(range(1, {_epochs_case()} + 1)) AS u(epoch)
    """,
)
def corpus_epoch_upsampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch upsampling: materialize each document once per configured
    epoch for its language tier (en x1, de x2, es x3, fr x2) with an
    epoch index — the "repeat under-represented / high-quality sources
    N times" step of a training-data recipe, made explicit and
    deterministic instead of sampling with replacement.

    Why at 100 TB: ``explode(sequence(1, n))`` is a NARROW
    transformation — no shuffle, rows fan out in place on their source
    partitions; downstream, the epoch column feeds
    ``training_export_shuffle`` so repeats land in different shards.
    (In practice the explode is fused into the export scan; nothing is
    materialized twice on disk until shard write.)"""
    d = t(spark, sf_dir, "documents")
    n = F.lit(1)
    for lg, cnt in sorted(EPOCHS.items()):
        n = F.when(F.col("lang") == lg, F.lit(cnt)).otherwise(n)
    return d.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(1), n)).alias("__e"),
    ).select("doc_id", "lang", F.col("__e").cast("long").alias("epoch"))


@query(
    "corpus_merge_scd2",
    oracle="""
    WITH tgt AS (
      SELECT doc_id, lang, md5(text) AS text_md5,
             CAST(1 AS BIGINT) AS valid_from,
             CAST(NULL AS BIGINT) AS valid_to, true AS is_current
      FROM documents
    ),
    src AS (
      SELECT doc_id, lang, md5(text || ' [rev2]') AS text_md5
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, lang, md5('recrawl: ' || text) AS text_md5
      FROM documents WHERE doc_id % 50 = 0
    ),
    j AS (
      SELECT t.doc_id AS t_id, s.doc_id AS s_id,
             t.lang AS t_lang, s.lang AS s_lang,
             t.text_md5 AS t_md5, s.text_md5 AS s_md5,
             t.valid_from,
             (t.lang IS DISTINCT FROM s.lang
              OR t.text_md5 IS DISTINCT FROM s.text_md5) AS changed
      FROM tgt t FULL OUTER JOIN src s ON t.doc_id = s.doc_id
    )
    SELECT t_id AS doc_id, t_lang AS lang, t_md5 AS text_md5,
           valid_from, CAST(NULL AS BIGINT) AS valid_to, true AS is_current
    FROM j WHERE t_id IS NOT NULL AND (s_id IS NULL OR NOT changed)
    UNION ALL
    SELECT t_id, t_lang, t_md5, valid_from, CAST(2 AS BIGINT), false
    FROM j WHERE t_id IS NOT NULL AND s_id IS NOT NULL AND changed
    UNION ALL
    SELECT s_id, s_lang, s_md5, CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true
    FROM j WHERE s_id IS NOT NULL AND (t_id IS NULL OR changed)
    """,
)
def corpus_merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 corpus refresh (operators/merge.py merge_scd2): the same
    re-crawl batch as corpus_merge_upsert, but HISTORY-TRACKING —
    revised documents close their old version (valid_to = batch 2) and
    open a new one; new documents open at batch 2; untouched documents
    stay open from batch 1.  Point-in-time reads become a filter
    (valid_from <= b AND (valid_to IS NULL OR valid_to > b)).

    Why at 100 TB: only the CURRENT slice joins the batch (history
    rows pass through without shuffling), change detection is
    null-safe column comparison (idempotent under re-delivered
    snapshots), and the whole merge is one key shuffle — the plan
    Delta/Iceberg execute under SCD-2 MERGE before file rewrite."""
    from storm_dynamic_spout_spark.operators.merge import merge_scd2

    docs = t(spark, sf_dir, "documents")
    target = docs.select(
        "doc_id",
        "lang",
        F.md5(F.col("text")).alias("text_md5"),
        F.lit(1).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        "lang",
        F.md5(F.concat(F.col("text"), F.lit(" [rev2]"))).alias("text_md5"),
    )
    inserts = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "lang",
        F.md5(F.concat(F.lit("recrawl: "), F.col("text"))).alias("text_md5"),
    )
    return merge_scd2(target, updates.unionByName(inserts), ["doc_id"], batch_id=2)


@query(
    "corpus_time_travel",
    oracle=f"""
    WITH scd2 AS ({{scd2}}),
    batches AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))) AS b(batch))
    SELECT batch,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id,
           CAST(count(DISTINCT text_md5) AS BIGINT) AS n_versions
    FROM batches JOIN scd2
      ON valid_from <= batch AND (valid_to IS NULL OR valid_to > batch)
    GROUP BY batch ORDER BY batch
    """,
)
def corpus_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reads over the SCD-2 corpus: reconstruct the
    corpus AS OF batch 1 (pre-recrawl) and batch 2 (post) from one
    history table with a validity-interval predicate — time travel
    without table copies.

    Why at 100 TB: the AS-OF predicate is a pushable row filter
    (partition the history table by valid_from range and most batches
    prune entirely); no snapshot materialization, no join against a
    snapshot manifest — the SCD-2 intervals ARE the index."""
    scd2 = corpus_merge_scd2(spark, sf_dir)
    batches = spark.range(1, 3).select(F.col("id").alias("batch"))
    asof = scd2.join(
        F.broadcast(batches),
        (F.col("valid_from") <= F.col("batch"))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("batch"))),
    )
    return (
        asof.groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.countDistinct("text_md5").alias("n_versions"),
        )
        .orderBy("batch")
    )


# inject the SCD-2 oracle as a subquery (it is itself a WITH chain)

from storm_dynamic_spout_spark.catalog.registry import ORACLES as _OR  # noqa: E402

_OR["corpus_time_travel"] = _OR["corpus_time_travel"].replace(
    "{scd2}", _OR["corpus_merge_scd2"]
)


SAMPLE_PER_GROUP_K = 20


@query(
    "sample_per_group",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY CAST(('0x' || substr(md5('grp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                        doc_id) AS rn
      FROM documents
    ) WHERE rn <= {SAMPLE_PER_GROUP_K}
    """,
)
def sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quota sampling: exactly k documents per language,
    chosen by deterministic hash rank — the "inspect 20 random docs
    from every source" QA sample, reproducible across runs and
    engines (no rand(), no approximate sampleBy fractions).

    Why at 100 TB: partitions by group and ranks only within groups —
    Spark plans WindowGroupLimit, so rows past rank k are dropped at
    the sort, never materialized; one shuffle on the group key."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("grp:"), F.col("doc_id").cast("string")).cast("binary")),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        d.withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("lang").orderBy(h, "doc_id")),
        )
        .filter(F.col("__rn") <= SAMPLE_PER_GROUP_K)
        .select("doc_id", "lang")
    )


def _semantic_cluster_oracle_sql() -> str:
    psql = _srp_lsh_oracle()
    return f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({psql})),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    ),
    comp AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
    SELECT v.vec_id, COALESCE(comp.cluster_id, v.vec_id) AS cluster_id
    FROM embeddings v LEFT JOIN comp USING (vec_id)
    ORDER BY v.vec_id
    """


@query("dedup_semantic_clusters", oracle=_semantic_cluster_oracle_sql())
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup clusters: connected components over the
    label-free SRP-LSH embedding near-dup pairs — the closing step of
    embedding-space dedup, mirroring dedup_cluster_assignment's role
    for token-space MinHash.  Every vector gets the minimum vec_id
    reachable through cosine-similar pairs; singletons keep their own
    id; corpus-level semantic dedup keeps vec_id == cluster_id.

    Why at 100 TB: pair generation is the SRP band equi-join (never
    all-pairs); the component labeling is the same bounded-round
    min-label propagation / large-small-star machinery as the token
    pipeline (operators/dedup.py connected_components), oracle-checked
    against a recursive-CTE transitive closure."""
    v = t(spark, sf_dir, "embeddings")
    pairs = S.srp_band_pairs(
        v, "vec_id", "embedding", EMBED_COS_THRESHOLD,
        dim=SRP_DIM, n_planes=SRP_PLANES, band_bits=SRP_BAND_BITS,
    )
    return D.connected_components(pairs, v, "vec_id").orderBy("vec_id")


def _dedup_funnel_oracle_sql() -> str:
    psql = _minhash_pairs_sql()
    return f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({psql})),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
    assign AS (
      SELECT d.doc_id, COALESCE(comp.cluster_id, d.doc_id) AS cid
      FROM documents d LEFT JOIN comp USING (doc_id)
    ),
    stages AS (
      SELECT '1_raw' AS stage, count(*) AS n_docs FROM documents
      UNION ALL
      SELECT '2_exact', count(DISTINCT md5({_SQL_NORM_TEXT})) FROM documents
      UNION ALL
      SELECT '3_near', count(*) FROM assign WHERE doc_id = cid
    )
    SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
           round(CAST(n_docs AS DOUBLE)
                 / (SELECT n_docs FROM stages WHERE stage = '1_raw'), 4)
             AS frac_of_raw
    FROM stages ORDER BY stage
    """


@query("corpus_dedup_funnel", oracle=_dedup_funnel_oracle_sql())
def corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline funnel: surviving document counts after each
    stage — raw corpus, exact-dup collapse (distinct content
    fingerprints), near-dup collapse (MinHash-LSH connected-component
    representatives) — with each stage's fraction of raw.  The single
    number a data lead asks for ("how much does dedup shrink us?") and
    the regression canary for the whole pipeline's selectivity.

    Why at 100 TB: each stage is the already-scale-shaped operator
    (fingerprint groupBy; rep-collapsed LSH band join + bounded-round
    CC); the funnel adds only three one-row aggregates over their
    outputs."""
    d = t(spark, sf_dir, "documents")
    raw = d.agg(F.count(F.lit(1)).alias("n_docs")).select(
        F.lit("1_raw").alias("stage"), "n_docs"
    )
    exact = (
        d.select(X.content_fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.lit("2_exact").alias("stage"), "n_docs")
    )
    pairs = D.minhash_near_dups(d, "doc_id", "text", NEAR_DUP_JACCARD)
    cc = D.connected_components(pairs, d, "doc_id")
    near = (
        cc.filter(F.col("doc_id") == F.col("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.lit("3_near").alias("stage"), "n_docs")
    )
    stages = raw.unionByName(exact).unionByName(near)
    raw_n = raw.select(F.col("n_docs").alias("__raw"))
    return (
        stages.crossJoin(F.broadcast(raw_n))
        .select(
            "stage",
            "n_docs",
            F.round(F.col("n_docs") / F.col("__raw"), 4).alias("frac_of_raw"),
        )
        .orderBy("stage")
    )


@query(
    "text_lang_id_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS labeled_lang, {_sql_lang_case()} AS predicted_lang
      FROM documents
    ),
    cells AS (
      SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM pred GROUP BY 1, 2
    ),
    totals AS (
      SELECT labeled_lang, sum(n_docs) AS total FROM cells GROUP BY 1
    )
    SELECT c.labeled_lang, c.predicted_lang, c.n_docs,
           round(CAST(c.n_docs AS DOUBLE) / t.total, 4) AS frac_of_label
    FROM cells c JOIN totals t USING (labeled_lang)
    ORDER BY c.labeled_lang, c.predicted_lang
    """,
)
def text_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation for the language-ID heuristic: the
    (labeled, predicted) confusion matrix with per-label fractions —
    per-language recall sits on the diagonal, the off-diagonal cells
    say WHERE the stopword heuristic confuses languages (and 'und'
    rows say where it abstains).  The eval every in-pipeline
    classifier needs before its output gates data.

    Why at 100 TB: the per-doc prediction is pure row-local expression
    work fused into the scan; the matrix aggregate is |langs|² rows
    with map-side combine."""
    from pyspark.sql.window import Window as W

    d = t(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("labeled_lang"),
        X.lang_id(F.col("text")).alias("predicted_lang"),
    )
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # per-label totals as a window over the |langs|²-row aggregate: the
    # former totals-aggregate + join-back gave `cells` two consumers,
    # re-running the corpus-wide lang_id scoring pass per side (2
    # documents scans in the executed plan; guide §2.4)
    return (
        cells.withColumn(
            "__t", F.sum("n_docs").over(W.partitionBy("labeled_lang"))
        )
        .select(
            "labeled_lang",
            "predicted_lang",
            "n_docs",
            F.round(F.col("n_docs") / F.col("__t"), 4).alias("frac_of_label"),
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


@query(
    "corpus_quality_by_source",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             {_SQL_QUALITY.format(punct=X.sql_punct_ratio('text'), stop=X.sql_stopword_ratio('text', X.QUALITY_STOPWORDS))} AS q
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(q), 6) AS mean_quality,
           round(quantile_cont(q, 0.5), 6) AS p50_quality,
           round(quantile_cont(q, 0.1), 6) AS p10_quality
    FROM scored GROUP BY source ORDER BY source
    """,
)
def corpus_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality report: doc counts, mean, median, and P10 of
    the composite quality score per source — the "which sources should
    the mixture downweight" table that sits in front of every
    re-weighting decision (sample_mixture / EPOCHS / token budget).

    Why at 100 TB: the score is row-local expression work fused into
    the scan; the exact interpolated percentiles group per source
    (bounded sort per group) — swap `approx_percentile` in at scale
    for the same plan shape with sketch merges."""
    d = t(spark, sf_dir, "documents")
    q = X.quality_score(F.col("text"))
    return (
        d.select("source", q.alias("q"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("q"), 6).alias("mean_quality"),
            F.round(F.percentile("q", 0.5), 6).alias("p50_quality"),
            F.round(F.percentile("q", 0.1), 6).alias("p10_quality"),
        )
        .orderBy("source")
    )


@query(
    "embedding_drift",
    oracle="""
    WITH split AS (
      SELECT label, vec_id,
             CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS half,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT label, half, t.i AS dim, avg(v[t.i]) AS mu
      FROM split, UNNEST(range(1, 65)) AS t(i)
      GROUP BY label, half, t.i
    ),
    cents AS (
      SELECT a.label, a.dim, a.mu AS mu_a, b.mu AS mu_b
      FROM dims a JOIN dims b
        ON a.label = b.label AND a.dim = b.dim
       AND a.half = 'a' AND b.half = 'b'
    )
    SELECT label,
           round(sqrt(sum((mu_a - mu_b) * (mu_a - mu_b))), 6) AS drift_l2
    FROM cents GROUP BY label ORDER BY label
    """,
)
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution drift: per cluster label, the L2 distance
    between the centroid of one half of the corpus (even vec_ids — the
    "reference window") and the other half (odd — the "current
    window").  The ML-ops monitor that catches an embedding model or
    upstream-distribution change before it silently degrades every
    ANN/dedup threshold downstream.

    Why at 100 TB: per-dimension means are a map-side-combined
    aggregate over (label, half, dim) — the exploded rows never
    shuffle at full width (64 doubles collapse to one per group), and
    the final distance touches |labels| x 64 rows.  The reference
    window's centroids would be a persisted table in production, not
    recomputed."""
    e = t(spark, sf_dir, "embeddings")
    split = e.select(
        "label",
        F.when(F.col("vec_id") % 2 == 0, "a").otherwise("b").alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "x"),
    )
    # both halves' centroids in ONE conditional aggregate: the former
    # per-(label, half, dim) aggregate fed two filtered sides of a
    # self-join, re-running the corpus-wide posexplode+mean pass per
    # side (2 embeddings scans in the executed plan; guide §2.4).
    # avg(when(half=…)) skips the other half's NULLs, so each mu is the
    # identical mean over the identical value set.
    dims = split.groupBy("label", "dim0").agg(
        F.avg(F.when(F.col("half") == "a", F.col("x"))).alias("mu_a"),
        F.avg(F.when(F.col("half") == "b", F.col("x"))).alias("mu_b"),
    )
    # degenerate-split guard (r15 advice): a label whose vec_ids are
    # all one parity has NULL for the missing half's mu — the old
    # a⋈b inner self-join dropped such labels entirely, so drop them
    # here too instead of emitting a NULL-drift row the oracle's
    # inner join would never produce.  No effect when both halves
    # exist (the fixture), identical row set to the pre-r15 shape on
    # any input.
    return (
        dims.filter(F.col("mu_a").isNotNull() & F.col("mu_b").isNotNull())
        .groupBy("label")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("mu_a") - F.col("mu_b")) ** 2)), 6
            ).alias("drift_l2")
        )
        .orderBy("label")
    )


def _method_agreement_oracle_sql() -> str:
    mh = _minhash_pairs_sql()
    ng = _ngram_pairs_sql()
    return f"""
    WITH mh AS (SELECT id_a, id_b FROM ({mh})),
    ng AS (SELECT id_a, id_b FROM ({ng})),
    u AS (
      SELECT coalesce(mh.id_a, ng.id_a) AS id_a,
             coalesce(mh.id_b, ng.id_b) AS id_b,
             (mh.id_a IS NOT NULL) AS in_mh,
             (ng.id_a IS NOT NULL) AS in_ng
      FROM mh FULL OUTER JOIN ng
        ON mh.id_a = ng.id_a AND mh.id_b = ng.id_b
    )
    SELECT CAST(sum(CASE WHEN in_mh THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash,
           CAST(sum(CASE WHEN in_ng THEN 1 ELSE 0 END) AS BIGINT) AS n_ngram,
           CAST(sum(CASE WHEN in_mh AND in_ng THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           round(CAST(sum(CASE WHEN in_mh AND in_ng THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS pair_jaccard
    FROM u
    """


@query("dedup_method_agreement", oracle=_method_agreement_oracle_sql())
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method agreement between the two token-space near-dup detectors:
    the MinHash-LSH pair set vs the character-3-gram Jaccard pair set —
    overlap counts and pair-level Jaccard.  The meta-evaluation that
    justifies (or retires) a detector: high agreement means the
    cheaper method suffices; systematic one-sided pairs show what each
    signal uniquely catches (word-level vs sub-word edits).

    Why at 100 TB: both pair sets are the already-scale-shaped
    pipelines; the agreement is one full-outer join on the pair key
    plus a one-row aggregate — run on the same sampled shard used for
    threshold tuning, not the full corpus."""
    d = t(spark, sf_dir, "documents")
    mh = D.minhash_near_dups(d, "doc_id", "text", NEAR_DUP_JACCARD).select(
        "id_a", "id_b", F.lit(True).alias("__mh")
    )
    ng = D.ngram_jaccard_pairs(d, "doc_id", "text", 3, NGRAM_JACCARD).select(
        F.col("id_a").alias("__na"), F.col("id_b").alias("__nb"),
        F.lit(True).alias("__ng"),
    )
    u = mh.join(
        ng, (mh.id_a == ng.__na) & (mh.id_b == ng.__nb), "full_outer"
    )
    in_mh = F.col("__mh").isNotNull()
    in_ng = F.col("__ng").isNotNull()
    return u.agg(
        F.sum(in_mh.cast("long")).alias("n_minhash"),
        F.sum(in_ng.cast("long")).alias("n_ngram"),
        F.sum((in_mh & in_ng).cast("long")).alias("n_both"),
        F.round(
            F.sum((in_mh & in_ng).cast("long")) / F.count(F.lit(1)), 4
        ).alias("pair_jaccard"),
    )


def _training_manifest_oracle_sql() -> str:
    psql = _minhash_pairs_sql()
    sw = X.sql_stopword_ratio("text", X.QUALITY_STOPWORDS)
    ntok = f"len({_TOKS})"
    return f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({psql})),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
    survivors AS (
      SELECT d.* FROM documents d LEFT JOIN comp USING (doc_id)
      WHERE COALESCE(comp.cluster_id, d.doc_id) = d.doc_id
    ),
    grams AS (SELECT doc_id, UNNEST({_SQL_GRAMS}) AS g FROM documents),
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % {EVAL_MOD} = 0),
    contaminated AS (
      SELECT DISTINCT doc_id FROM grams JOIN eval_grams USING (g)
      WHERE doc_id % {EVAL_MOD} <> 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum({ntok}) AS BIGINT) AS n_tokens
    FROM survivors s
    WHERE s.doc_id % {EVAL_MOD} <> 0
      AND s.doc_id NOT IN (SELECT doc_id FROM contaminated)
      AND {ntok.replace('text', 's.text')} >= {QF_MIN_TOKENS}
      AND {sw.replace('text', 's.text')} BETWEEN {QF_MIN_STOPWORD} AND {QF_MAX_STOPWORD}
    GROUP BY lang ORDER BY lang
    """


@query("corpus_training_manifest", oracle=_training_manifest_oracle_sql())
def corpus_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPSTONE composition: the entire pre-training data recipe as
    ONE declarative query — per language, the doc and token counts of
    the final training manifest after (1) near-dup collapse to
    connected-component representatives, (2) holdout exclusion and
    8-gram decontamination against it, (3) the quality gate (token
    floor + stopword band).  What actually ships to tokenization.

    Why at 100 TB: every stage is the already-scale-shaped operator
    (rep-collapsed LSH + bounded CC; broadcast eval-gram join;
    row-local gates fused into the scan) composed by anti-join /
    filter — Catalyst plans the whole recipe as one DAG, so nothing is
    materialized between stages unless the optimizer chooses to."""
    from storm_dynamic_spout_spark.operators import corpus as C

    d = t(spark, sf_dir, "documents")
    pairs = D.minhash_near_dups(d, "doc_id", "text", NEAR_DUP_JACCARD)
    cc = D.connected_components(pairs, d, "doc_id")
    survivors = d.join(
        cc.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id"),
        "doc_id",
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    contaminated = C.contamination(
        d.filter(~is_eval), d.filter(is_eval), ngram=CONTAM_NGRAM
    ).select("doc_id")
    ntok = F.size(F.split("text", r"\s+"))
    sw = X.stopword_ratio(F.col("text"))
    return (
        survivors.filter(~is_eval)
        .join(contaminated, "doc_id", "left_anti")
        .filter(
            (ntok >= QF_MIN_TOKENS)
            & (sw >= QF_MIN_STOPWORD)
            & (sw <= QF_MAX_STOPWORD)
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ntok).cast("long").alias("n_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# URL canonicalization — the crawl-frontier normalization step.
# (PII redaction already lives above: text_pii_scrub.)
# ---------------------------------------------------------------------------

URL_PAGES = 40


@query(
    "corpus_url_dedup",
    oracle=f"""
    WITH urls AS (
      SELECT doc_id,
             'https://WWW.Example.com/' || source || '/page'
               || CAST(doc_id % {URL_PAGES} AS VARCHAR)
               || '/?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR) AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(lower(url), '\\?.*$', ''),
                 '^https://www\\.', 'https://'),
               '/$', '') AS canonical_url
      FROM urls
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           min(doc_id) AS first_doc
    FROM canon GROUP BY canonical_url ORDER BY canonical_url
    """,
)
def corpus_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-frontier normalization
    step: lowercase, strip the query string (tracking params), strip
    the ``www.`` host prefix and any trailing slash, then group by the
    canonical form keeping the first doc_id.  Fixture URLs are derived
    in-query from (source, doc_id) on both sides, so distinct raw URLs
    genuinely collapse (~{URL_PAGES} pages x 20 sources).  Pure
    string-expression map + one hash aggregate; the regex chain is
    JVM codegen, and at 100 TB the shuffle is |canonical urls|-sized
    thanks to map-side partial aggregation."""
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://WWW.Example.com/"),
        F.col("source"),
        F.lit("/page"),
        (F.col("doc_id") % URL_PAGES).cast("string"),
        F.lit("/?utm_source=feed&ref="),
        F.col("doc_id").cast("string"),
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), r"\?.*$", ""),
            r"^https://www\.",
            "https://",
        ),
        r"/$",
        "",
    )
    return (
        d.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("canonical_url")
    )


@query(
    "corpus_soft_dedup_weights",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5({_SQL_NORM_TEXT}) AS fingerprint,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_copies
      FROM fp GROUP BY 1
    )
    SELECT f.doc_id, f.fingerprint, c.n_copies,
           round(1.0 / c.n_copies, 6) AS weight,
           round(f.n_tokens * 1.0 / c.n_copies, 6) AS effective_tokens
    FROM fp f JOIN c USING (fingerprint)
    ORDER BY f.doc_id
    """,
)
def corpus_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication (operators/dedup.py soft_dedup_weights): every
    doc keeps a row, down-weighted by its exact-dup cluster size so a
    training epoch sees each distinct content an expected once —
    the reweighting alternative to hard-dropping duplicates, plus the
    per-doc effective token contribution the token-budget planner
    consumes.  One fingerprint-keyed exchange (window over the groupBy
    key, no join back); see the operator docstring for the 100 TB
    story."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.size(F.split("text", r"\s+")).cast("long").alias("__nt")
    )
    sw = D.soft_dedup_weights(d, "doc_id", "text")
    return sw.select(
        "doc_id",
        "fingerprint",
        "n_copies",
        F.round("weight", 6).alias("weight"),
        F.round(F.col("__nt") * 1.0 / F.col("n_copies"), 6).alias("effective_tokens"),
    ).orderBy("doc_id")


#: boilerplate n-gram detector: window size and the document-frequency
#: fraction above which a gram counts as boilerplate (shared with the
#: oracle SQL)
BOILER_GRAM = 4
BOILER_MIN_FRAC = 0.02


@query(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             regexp_split_to_array(
               text || ' please subscribe to ' || source || ' newsletter today',
               '\\s+') AS tk
      FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(tk[i:i+{BOILER_GRAM - 1}], ' ') AS gram
      FROM base, UNNEST(range(1, len(tk) - {BOILER_GRAM - 2})) AS u(i)
    ),
    gd AS (
      SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
      FROM grams GROUP BY 1
    ),
    pg AS (
      SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS n
      FROM grams GROUP BY 1, 2
    ),
    th AS (
      SELECT CAST(ceil(count(*) * {BOILER_MIN_FRAC}) AS BIGINT) AS min_docs
      FROM documents
    )
    SELECT p.doc_id,
           CAST(sum(p.n) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN g.nd >= th.min_docs THEN p.n ELSE 0 END) AS BIGINT)
             AS n_boiler,
           round(sum(CASE WHEN g.nd >= th.min_docs THEN p.n ELSE 0 END) * 1.0
                 / sum(p.n), 6) AS boiler_frac
    FROM pg p JOIN gd g USING (gram) CROSS JOIN th
    GROUP BY p.doc_id
    ORDER BY p.doc_id
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-phrase detection, the CCNet/RefinedWeb cleaning
    stage: token 4-grams that appear in ≥ 2% of documents are
    boilerplate (nav bars, footers, subscribe prompts), and each doc
    reports how much of it is boilerplate.  The fixture derives a
    per-source footer in-query (like corpus_url_dedup derives URLs) so
    the detector has real repeated phrases to find: pure per-source
    footer grams land in ~5% of docs and cross the gate; random-text
    grams and small exact-dup clusters stay under it.

    Why at 100 TB: the |tokens|-sized gram explosion is immediately
    reduced by per-(doc,gram) counts, and the gram document
    frequencies derive from that aggregate as a CASCADED count (its
    rows are distinct (doc, gram), so a COUNT window over the gram
    partition IS the document frequency — no countDistinct expansion,
    no self-join, and the gram explode is evaluated exactly once);
    the only wide exchange after the per-(doc,gram) aggregate is the
    one on the gram key, and the doc-count threshold is a one-row
    broadcast.  No Python
    anywhere — slice/transform/explode are all codegen'd array
    expressions."""
    # fan_out_narrow: gram explode per row (skew.py note)
    d = fan_out_narrow(t(spark, sf_dir, "documents"))
    footer = F.concat(
        F.col("text"),
        F.lit(" please subscribe to "),
        F.col("source"),
        F.lit(" newsletter today"),
    )
    tk = d.select("doc_id", F.split(footer, r"\s+").alias("__tk"))
    idx = F.sequence(F.lit(1), F.size("__tk") - (BOILER_GRAM - 1))
    grams = tk.select(
        "doc_id",
        F.explode(
            F.transform(
                idx, lambda i: F.array_join(F.slice("__tk", i, BOILER_GRAM), " ")
            )
        ).alias("gram"),
    )
    from pyspark.sql.window import Window as W

    per_doc = grams.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    # per_doc rows are distinct (doc, gram): a COUNT window over the
    # gram partition IS the document frequency — one exchange on the
    # gram key instead of a groupBy + self-join, and the expensive
    # gram explode is evaluated once instead of once per branch
    with_df = per_doc.withColumn(
        "__nd", F.count(F.lit(1)).over(W.partitionBy("gram"))
    )
    threshold = d.select(
        F.ceil(F.count(F.lit(1)) * BOILER_MIN_FRAC).cast("long").alias("__min_docs")
    )
    boiler_n = F.when(F.col("__nd") >= F.col("__min_docs"), F.col("__n")).otherwise(
        F.lit(0)
    )
    return (
        with_df.crossJoin(F.broadcast(threshold))
        .groupBy("doc_id")
        .agg(
            F.sum("__n").cast("long").alias("n_grams"),
            F.sum(boiler_n).cast("long").alias("n_boiler"),
        )
        .withColumn(
            "boiler_frac", F.round(F.col("n_boiler") * 1.0 / F.col("n_grams"), 6)
        )
        .orderBy("doc_id")
    )


def _pq_ctes() -> str:
    """Shared PQ oracle CTEs (v / cent / scored / best / codes):
    explicit LEFT-ASSOCIATIVE squared-L2 sums (matching Spark's
    sequential F.aggregate fold bit-for-bit), the same micro-unit
    rounding, and (distance, cid) argmin."""
    from storm_dynamic_spout_spark.operators.similarity import PQ_K, PQ_M

    sub = 64 // PQ_M
    dists = []
    for ms in range(PQ_M):
        terms = " + ".join(
            f"(ve[{ms * sub + i}] - ce[{ms * sub + i}])"
            f" * (ve[{ms * sub + i}] - ce[{ms * sub + i}])"
            for i in range(1, sub + 1)
        )
        dists.append(f"CAST(round(({terms}) * 1e6) AS BIGINT) AS d{ms}")
    ranks = ",\n             ".join(
        f"row_number() OVER (PARTITION BY vec_id ORDER BY d{ms}, cid) AS r{ms}"
        for ms in range(PQ_M)
    )
    codes = ",\n             ".join(
        f"CAST(max(CASE WHEN r{ms} = 1 THEN cid END) AS BIGINT) AS code_{ms}"
        for ms in range(PQ_M)
    )
    err = " + ".join(f"min(d{ms})" for ms in range(PQ_M))
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ),
    cent AS (
      -- dense 0..k-1 centroid index (row_number over the codebook),
      -- matching pq_assign's _dense_codebook: PQ codes are POSITIONAL
      -- table indexes, so raw ids only coincide when contiguous from 0
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, ve AS ce
      FROM v WHERE vec_id < {PQ_K}
    ),
    scored AS (
      SELECT v.vec_id, c.cid,
             {",".join(chr(10) + "             " + d for d in dists)}
      FROM v CROSS JOIN cent c
    ),
    best AS (
      SELECT vec_id, cid, {", ".join(f"d{ms}" for ms in range(PQ_M))},
             {ranks}
      FROM scored
    ),
    codes AS (
      SELECT vec_id,
             {codes},
             CAST({err} AS BIGINT) AS err_micro
      FROM best GROUP BY vec_id
    )"""


def _pq_oracle_sql() -> str:
    return _pq_ctes() + "\n    SELECT * FROM codes ORDER BY vec_id\n    "


@query("embedding_pq_codes", oracle=_pq_oracle_sql())
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (operators/similarity.py pq_assign):
    4 subspaces x 8 centroids over the 64-dim embeddings — each vector
    compresses to 4 small codes + an integer quantization error.  The
    deterministic fixture codebook is the first 8 vectors' subvectors;
    production swaps in trained centroids with the same plan.  The
    codebook broadcasts and map-side partial aggregation collapses the
    8-way candidate fan-out before the only exchange, so corpus
    vectors never shuffle — see the operator docstring."""
    return S.pq_assign(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", dim=64
    ).orderBy("vec_id")


def _pq_adc_ctes() -> str:
    """Shared PQ + ADC CTEs through `ranked` (approx distance + rank):
    per-query distance tables are the `scored` rows of the query
    vectors themselves, and the approximate distance is the m-way
    table lookup on each corpus vector's code."""
    from storm_dynamic_spout_spark.operators.similarity import PQ_K, PQ_M

    joins = "\n      ".join(
        f"JOIN dt t{ms} ON t{ms}.query_id = q.query_id"
        f" AND t{ms}.cid = k.code_{ms}"
        for ms in range(PQ_M)
    )
    approx = " + ".join(f"t{ms}.d{ms}" for ms in range(PQ_M))
    return (
        _pq_ctes()
        + f""",
    dt AS (
      SELECT vec_id AS query_id, cid,
             {", ".join(f"d{ms}" for ms in range(PQ_M))}
      FROM scored WHERE vec_id < {PQ_K}
    ),
    q AS (SELECT DISTINCT query_id FROM dt),
    adc AS (
      SELECT q.query_id, k.vec_id AS neighbor_id,
             CAST({approx} AS BIGINT) AS approx_d2_micro
      FROM codes k CROSS JOIN q
      {joins}
      WHERE k.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, approx_d2_micro,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_d2_micro, neighbor_id)
               AS rank
      FROM adc
    )"""
    )


def _pq_adc_oracle_sql() -> str:
    return (
        _pq_adc_ctes()
        + f"""
    SELECT query_id, neighbor_id, approx_d2_micro, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {ANN_K}
    ORDER BY query_id, rank
    """
    )


@query("ann_topk_pq", oracle=_pq_adc_oracle_sql())
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (operators/similarity.py
    pq_topk_adc) — the search half of the product-quantization path:
    queries (the codebook seed vectors, vec_id < 8) precompute integer
    distance tables to every subcentroid; each corpus vector's
    approximate distance is 4 table lookups on its compact code, never
    float math against raw vectors.  Tables broadcast; the per-query
    top-5 is WindowGroupLimit-pruned; ranking on (integer distance,
    neighbor id) is exact given the codes — see the operator docstring
    for the 100 TB story."""
    from storm_dynamic_spout_spark.operators.similarity import PQ_K

    return S.pq_topk_adc(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        dim=64,
        query_pred=F.col("vec_id") < PQ_K,
        k=ANN_K,
    ).orderBy("query_id", "rank")


VOCAB_K = 100


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH counts AS (
      SELECT u.x AS term, count(*) AS c
      FROM documents, UNNEST({_TOKS}) AS u(x)
      GROUP BY u.x
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY c DESC, term) AS rn
        FROM counts
      ) WHERE rn <= {VOCAB_K}
    ),
    toks AS (
      SELECT d.source, u.x AS term
      FROM documents d, UNNEST({_TOKS}) AS u(x)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS oov_rate
    FROM toks LEFT JOIN vocab v USING (term)
    GROUP BY source ORDER BY source
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build + out-of-vocabulary audit — the tokenizer-prep
    step of a training pipeline: take the top-``VOCAB_K`` corpus terms
    by occurrence count (tie-break lexicographic, same discipline as
    ``text_term_freq``), then report per source the token count, the
    OOV occurrence count, and the OOV rate.  A source whose OOV rate
    spikes is drifting away from the tokenizer's training distribution.

    Why at 100 TB: the vocabulary is a two-phase count aggregate
    (map-side partial → |vocab|-sized shuffle) closed by
    ``orderBy().limit()`` → TakeOrderedAndProject, so the top-K never
    sorts the full distinct-term table; the audit side then broadcasts
    the K-row vocab against the token stream — no second shuffle of
    the exploded tokens, the per-source rollup reduces map-side to
    |sources| rows.  Reference parity: the per-source quality gates in
    storm-dynamic-spout's filter chain (FilterChainStep docs) are this
    shape — a small reference set applied streaming-side."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", r"\s+")).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("__c"))
    vocab = (
        counts.orderBy(F.desc("__c"), "term")
        .limit(VOCAB_K)
        .select("term", F.lit(True).alias("__in_vocab"))
    )
    oov = F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov).cast("long").alias("n_oov"),
            F.round(F.sum(oov) / F.count(F.lit(1)), 6).alias("oov_rate"),
        )
        .orderBy("source")
    )


BM25_TERMS = ("spark", "merge", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 20


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{q}'" for q in BM25_TERMS)
    return f"""
    WITH dd AS (
      SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS dl FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl
      FROM dd
    ),
    tf AS (
      SELECT doc_id, dl, u.x AS term, CAST(count(*) AS BIGINT) AS tf
      FROM dd, UNNEST(toks) AS u(x)
      WHERE u.x IN ({terms})
      GROUP BY doc_id, dl, u.x
    ),
    dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(count(*) AS BIGINT) AS n_query_terms,
             sum(ln(1 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
                 * tf.tf * ({BM25_K1} + 1)
                 / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl
                    / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS score
      FROM tf JOIN dfx USING (term) CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, n_query_terms, round(score, 6) AS bm25 FROM (
      SELECT *, row_number() OVER (
        ORDER BY CAST(round(score * 1000000) AS BIGINT) DESC, doc_id) AS rn
      FROM scored
    ) WHERE rn <= {BM25_TOP}
    """


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_query_terms, __score) BM25 scores for the fixed
    BM25_TERMS query — shared by text_bm25_rank and the hybrid-RRF
    fusion so both legs rank from one scorer definition."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", r"\s+").alias("__toks")
    )
    dd = d.select("doc_id", "__toks", F.size("__toks").alias("__dl"))
    stats = dd.agg(
        F.count(F.lit(1)).alias("__n_docs"), F.sum("__dl").alias("__sum_dl")
    )
    # tf is the query-term posting table (|matching postings| rows,
    # tiny) with TWO consumers (the df aggregate + the scoring join) —
    # without the checkpoint each re-runs the corpus-wide
    # explode+filter, the expensive pass of the whole scorer (guide-§2
    # shared-subtree rule; r15 plan showed documents scanned twice for
    # it).
    tf = local_checkpoint(
        dd.select("doc_id", "__dl", F.explode("__toks").alias("term"))
        .filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "__dl", "term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    avgdl = F.col("__sum_dl").cast("double") / F.col("__n_docs")
    idf = F.log(
        1 + (F.col("__n_docs") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    part = (
        idf
        * F.col("__tf")
        * (BM25_K1 + 1)
        / (F.col("__tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("__dl") / avgdl))
    )
    return (
        tf.join(F.broadcast(dfx), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_query_terms"),
            F.sum(part).alias("__score"),
        )
    )


@query("text_bm25_rank", oracle=_bm25_oracle())
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Sparck Jones; the Lucene
    default scorer) for a fixed query-term set — the retrieval
    counterpart of ``text_tfidf_top_term``: idf·tf·(k1+1)/(tf +
    k1·(1−b+b·dl/avgdl)) summed over query terms, top-20 docs.

    Cross-engine float discipline: avgdl is the EXACT integer pair
    (Σdl, N) divided once in doubles (never a running float mean);
    ranking compares CAST(round(score·1e6) AS BIGINT) with a doc_id
    tiebreak, so libm ln() ulp differences can't flip the order; the
    reported score is rounded to the same 1e-6.

    Why at 100 TB: the token explode is filtered to the query terms
    BEFORE the (doc,term) aggregate — the shuffle carries only
    matching postings, not the corpus; df and the (N, Σdl) stats are
    broadcast one-row/|terms|-row aggregates; the top-k is
    TakeOrderedAndProject, never a global sort."""
    scored = _bm25_scored(spark, sf_dir)
    return (
        scored.orderBy(
            F.desc(F.round(F.col("__score") * 1_000_000).cast("long")), "doc_id"
        )
        .limit(BM25_TOP)
        .select("doc_id", "n_query_terms", F.round("__score", 6).alias("bm25"))
    )


SPAN_CHUNK = 10  # tokens per span


def _span_dedup_oracle() -> str:
    return f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    chunks AS (
      SELECT doc_id, t.p AS pos,
             array_to_string(toks[(t.p * {SPAN_CHUNK} + 1):
                                  (t.p * {SPAN_CHUNK} + {SPAN_CHUNK})], ' ')
               AS chunk
      FROM d, UNNEST(range(0, CAST(ceil(len(toks) / {SPAN_CHUNK}.0) AS BIGINT)))
             AS t(p)
    ),
    ranked AS (
      SELECT doc_id, pos, chunk,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, pos) AS rn
      FROM chunks
    ),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
      FROM chunks GROUP BY doc_id
    ),
    kept AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_kept,
             md5(string_agg(chunk, ' ' ORDER BY pos)) AS dedup_md5
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_chunks,
           coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept,
           coalesce(k.dedup_md5, md5('')) AS dedup_md5
    FROM per_doc p LEFT JOIN kept k USING (doc_id)
    ORDER BY p.doc_id
    """


@query("text_span_dedup", oracle=_span_dedup_oracle())
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (the C4/"Deduplicating Training Data"
    line-dedup, adapted to ``SPAN_CHUNK``-token spans since the
    fixture has no newlines): cut every document into non-overlapping
    token spans, keep corpus-wide only each span's FIRST occurrence
    (ordered by doc_id then position), and rebuild the surviving text
    per document — reported as kept-span count + md5 of the rebuilt
    string so the driver row stays narrow.

    Why at 100 TB: one span-keyed window (single shuffle — the
    equivalent min-struct groupBy+join shape costs two) ranks
    first-occurrences; at real scale the partition key would be
    ``xxhash64(span)`` with the text carried alongside, so the
    exchange moves 8-byte keys, not strings (same discipline as the
    MinHash pipeline's token hashing).  The rebuild is a per-doc
    aggregate over an array_sort — no second pass over the corpus."""
    from pyspark.sql.window import Window as W

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", r"\s+").alias("__toks")
    )
    n_spans = F.ceil(F.size("__toks") / F.lit(SPAN_CHUNK)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(
            " ", F.slice("__toks", i * SPAN_CHUNK + 1, SPAN_CHUNK)
        ),
    )
    chunks = d.select("doc_id", F.posexplode(spans).alias("pos", "chunk"))
    rn = F.row_number().over(W.partitionBy("chunk").orderBy("doc_id", "pos"))
    ranked = chunks.withColumn("__rn", rn)
    # one post-window aggregate computes BOTH the total chunk count and
    # the kept-span rebuild: the former separate per_doc aggregate gave
    # `chunks` two consumers, re-running the corpus-wide span explode
    # per side and paying a doc_id join-back (2 documents scans + an
    # SMJ in the executed plan; guide §2.4).  collect_list skips the
    # NULLs the when() leaves on non-first spans, so an all-duplicate
    # doc rebuilds as md5 of the empty concat — exactly the old
    # left-join coalesce.
    kept_chunk = F.when(F.col("__rn") == 1, F.struct("pos", "chunk"))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("__rn") == 1).cast("long"))
            .cast("long")
            .alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(kept_chunk)),
                        lambda s: s.chunk,
                    ),
                )
            ).alias("dedup_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "corpus_dsir_importance",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, source, UNNEST({_TOKS}) AS w FROM documents
    ),
    alla AS (SELECT w, CAST(count(*) AS BIGINT) AS c_a FROM tk GROUP BY w),
    na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM tk),
    v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM alla),
    tgt AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c_t FROM tk
      WHERE source = 'src0' GROUP BY w
    ),
    nt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_t FROM tk WHERE source = 'src0'
    ),
    d AS (
      SELECT tk.doc_id, tk.source,
             avg(ln((COALESCE(tgt.c_t, 0) + 1.0) / (nt.n_t + v.v))
               - ln((alla.c_a + 1.0) / (na.n_a + v.v))) AS lw
      FROM tk JOIN alla USING (w) LEFT JOIN tgt USING (w)
      CROSS JOIN na CROSS JOIN v CROSS JOIN nt
      WHERE tk.source <> 'src0'
      GROUP BY tk.doc_id, tk.source
    )
    SELECT doc_id, source, CAST(round(lw * 10000) AS BIGINT) AS lw_e4
    FROM d ORDER BY lw_e4 DESC, doc_id LIMIT 50
    """,
)
def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al., 2023 — Data Selection
    via Importance Resampling, public method): score each candidate
    document by the log importance ratio of a target-domain unigram LM
    (here: the src0 slice) over the whole-corpus LM, add-one smoothed,
    and keep the top-K — "find me more data that looks like my target
    domain" as one Catalyst DAG, no external model.

    Why at 100 TB: both LMs come out of ONE vocab-sized count table
    (per-word corpus count + per-word target count in a single
    map-side combined aggregate, lazily checkpointed — its five former
    consumers each re-ran the corpus tokenize), broadcast back over
    the exploded token stream in a single join; the three scalar
    normalizers (n_a, n_t, |V|) collapse to one broadcast row derived
    from the same table; the per-doc score is one more shuffle on
    doc_id; the selection is TakeOrderedAndProject on an integer key
    (score in 1e-4 units — summation-order ulp cannot flip a rank, and
    boundary ties break by doc_id deterministically)."""
    d = t(spark, sf_dir, "documents")
    tk = d.select("doc_id", "source", F.explode(X.tokens(F.col("text"))).alias("w"))
    wc = local_checkpoint(
        tk.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("c_a"),
            F.count(F.when(F.col("source") == "src0", F.lit(1))).alias("c_t"),
        )
    )
    stats = wc.agg(
        F.sum("c_a").alias("n_a"),
        F.sum("c_t").alias("n_t"),
        F.count(F.lit(1)).alias("v"),
    )
    # c_t is 0 (not NULL) for words absent from the target slice, so
    # coalesce reduces to the identical add-one numerator
    delta = F.log(
        (F.coalesce(F.col("c_t"), F.lit(0)) + 1.0) / (F.col("n_t") + F.col("v"))
    ) - F.log((F.col("c_a") + 1.0) / (F.col("n_a") + F.col("v")))
    return (
        tk.filter(F.col("source") != "src0")
        .join(F.broadcast(wc), "w")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id", "source")
        .agg(F.avg(delta).alias("lw"))
        .select(
            "doc_id",
            "source",
            F.round(F.col("lw") * 10000).cast("long").alias("lw_e4"),
        )
        .orderBy(F.desc("lw_e4"), "doc_id")
        .limit(50)
    )


#: Two-stage search shortlist: ADC keeps this many candidates per
#: query before the exact rerank cuts to ANN_K.
PQ_RERANK_SHORTLIST = 20


def _pq_rerank_oracle_sql() -> str:
    # explicit LEFT-ASSOCIATIVE 64-term sum, same discipline as
    # _pq_ctes: Spark's F.aggregate folds sequentially, and a DuckDB
    # list_sum is free to re-associate (vectorized/pairwise), which
    # could flip round(d2*1e6) by 1 at a .5 boundary
    d2_terms = " + ".join(
        f"(qv.ve[{i}] - nv.ve[{i}]) * (qv.ve[{i}] - nv.ve[{i}])"
        for i in range(1, 65)
    )
    return (
        _pq_adc_ctes()
        + f""",
    short AS (
      SELECT query_id, neighbor_id FROM ranked
      WHERE rank <= {PQ_RERANK_SHORTLIST}
    ),
    ex AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(round(({d2_terms}) * 1e6) AS BIGINT) AS exact_d2_micro
      FROM short s
      JOIN v qv ON qv.vec_id = s.query_id
      JOIN v nv ON nv.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, exact_d2_micro, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY exact_d2_micro, neighbor_id) AS rank
      FROM ex
    ) WHERE rank <= {ANN_K}
    ORDER BY query_id, rank
    """
    )


@query("ann_topk_pq_rerank", oracle=_pq_rerank_oracle_sql())
def ann_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN search — the production PQ pattern: the compact
    ADC scan shortlists {PQ_RERANK_SHORTLIST} candidates per query on
    integer table-lookup distances (never touching raw vectors), then
    ONLY the shortlist pays the exact 64-dim distance for the final
    top-{ANN_K}.  At 100 TB the raw-vector reads drop from |corpus| to
    queries×shortlist — the stage-2 join is a broadcast of the tiny
    shortlist against the id-keyed vector table.

    Ranking at both stages is (integer micro-distance, neighbor_id),
    so no float near-tie can flip the shortlist boundary or the final
    order."""
    from pyspark.sql.window import Window

    from storm_dynamic_spout_spark.operators.similarity import PQ_K

    emb = t(spark, sf_dir, "embeddings")
    short = S.pq_topk_adc(
        emb,
        "vec_id",
        "embedding",
        dim=64,
        query_pred=F.col("vec_id") < PQ_K,
        k=PQ_RERANK_SHORTLIST,
    ).select("query_id", "neighbor_id")
    v = emb.select(
        F.col("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("ve"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ne"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ex = (
        short.join(
            F.broadcast(
                v.select(F.col("vec_id").alias("query_id"), F.col("ve").alias("qe"))
            ),
            "query_id",
        )
        .join(
            v.select(F.col("vec_id").alias("neighbor_id"), F.col("ve").alias("ne")),
            "neighbor_id",
        )
        .withColumn("exact_d2_micro", F.round(d2 * 1e6).cast("long"))
    )
    w = Window.partitionBy("query_id").orderBy("exact_d2_micro", "neighbor_id")
    return (
        ex.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select(
            "query_id", "neighbor_id", "exact_d2_micro", F.col("rank").cast("long").alias("rank")
        )
        .orderBy("query_id", "rank")
    )


#: Misra-Gries counter budget for the exact two-pass heavy hitters
#: (threshold = n_tokens / (HH_K + 1)).
HH_K = 40


@query(
    "text_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT u.x AS term FROM documents, UNNEST({_TOKS}) AS u(x)
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
    SELECT term,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           (SELECT n FROM tot) AS n_total
    FROM toks
    GROUP BY term
    HAVING count(*) * {HH_K + 1} > (SELECT n FROM tot)
    ORDER BY n_occurrences DESC, term
    """,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (terms above a 1/(k+1) frequency
    share) via the two-pass Misra-Gries plan in
    ``operators/sketch.py``: per-partition k-counter summaries emit a
    provably complete candidate set (mergeable-summaries bound), then
    an exact count over ONLY candidate-matching rows filters on the
    true threshold.  The ORACLE is the brute-force exact GROUP BY
    HAVING over every token, so it independently checks both the
    completeness of the sketch pass and the exactness of the verify
    pass.

    Why at 100 TB: the raw token stream never shuffles — pass 1 is
    map-only (≤k rows out per partition), pass 2 semi-joins against a
    broadcast candidate set BEFORE the hash aggregate, so the shuffle
    carries only candidate terms (≤k distinct keys).  A plain
    GROUP BY over a web corpus's token stream would shuffle the full
    |tokens| rows to build a |vocab|-sized table just to keep the top
    handful."""
    from storm_dynamic_spout_spark.operators.sketch import heavy_hitters_exact

    toks = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", r"\s+")).alias("term"))
    )
    return heavy_hitters_exact(toks, "term", HH_K)


@query(
    "corpus_source_kl",
    oracle=f"""
    WITH toks AS (
      SELECT source, u.x AS term FROM documents, UNNEST({_TOKS}) AS u(x)
    ),
    st AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c_st
      FROM toks GROUP BY source, term
    ),
    ct AS (SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY term),
    s AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
    nv AS (
      SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(c_t) AS BIGINT) AS n FROM ct
    ),
    cell AS (
      SELECT g.source, g.n_s, g.c_t, coalesce(st.c_st, 0) AS c_st
      FROM (SELECT s.source, s.n_s, ct.term, ct.c_t FROM ct CROSS JOIN s) g
      LEFT JOIN st ON st.source = g.source AND st.term = g.term
    )
    SELECT cell.source,
           CAST(min(cell.n_s) AS BIGINT) AS n_tokens,
           CAST(round(sum(
             ((cell.c_st + 1.0) / (cell.n_s + nv.v))
             * ln(((cell.c_st + 1.0) / (cell.n_s + nv.v))
                  / ((cell.c_t + 1.0) / (nv.n + nv.v)))
           ) * 10000) AS BIGINT) AS kl_1e4
    FROM cell, nv
    GROUP BY cell.source
    ORDER BY cell.source
    """,
)
def corpus_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(source unigram LM ‖ corpus
    unigram LM), add-one smoothed over the joint vocabulary — the
    mixture-diagnostics twin of ``corpus_dsir_importance`` (same
    public method family, Xie et al. 2023): how far each source's
    token distribution sits from the corpus it feeds.  Scores are
    summed in double then rounded to 1e-4 integers, the catalog's
    cross-engine float discipline.

    Why at 100 TB: the token stream is aggregated ONCE into the
    (source, term) count table; corpus totals, per-source totals and
    the vocabulary size all derive from that table, so everything
    after the first shuffle runs over |sources|x|vocab| cells, not
    tokens.  The per-source totals broadcast onto the vocab table
    (tiny dim), and the absent-term smoothing mass comes from the
    grid's coalesce(0) rather than a second pass over the data."""
    d = t(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", r"\s+")).alias("term")
    )
    # st has three consumers (ct, s, the grid reattach) and ct two
    # (nv, grid) — without them the corpus tokenize ran three times
    # per evaluation
    st = local_checkpoint(
        d.groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    ct = local_checkpoint(
        st.groupBy("term")
        .agg(F.sum("c_st").alias("c_t"))
    )
    s = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    nv = ct.agg(F.count(F.lit(1)).alias("v"), F.sum("c_t").alias("n"))
    grid = ct.crossJoin(F.broadcast(s))
    cell = (
        grid.join(st, ["source", "term"], "left")
        .withColumn("c_st", F.coalesce("c_st", F.lit(0)))
        .crossJoin(F.broadcast(nv))
    )
    p = (F.col("c_st") + 1.0) / (F.col("n_s") + F.col("v"))
    q = (F.col("c_t") + 1.0) / (F.col("n") + F.col("v"))
    return (
        cell.groupBy("source")
        .agg(
            F.min("n_s").alias("n_tokens"),
            F.round(F.sum(p * F.log(p / q)) * 10000).cast("long").alias("kl_1e4"),
        )
        .orderBy("source")
    )


#: RAKE candidate-phrase delimiters (function words; the fixture vocab
#: contains 'a'/'the' — the rest future-proof real corpora) and the
#: number of keywords reported.
RAKE_STOP = ("a", "the", "is", "of", "and", "to", "in", "on")
RAKE_TOP = 15


def _rake_oracle() -> str:
    stop_list = ", ".join(f"'{w}'" for w in RAKE_STOP)
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents
    ),
    pos AS (
      SELECT doc_id, u.pos AS pos, tk[u.pos] AS tok,
             CASE WHEN tk[u.pos] IN ({stop_list}) THEN 1 ELSE 0 END AS is_stop
      FROM toks, UNNEST(range(1, len(tk) + 1)) AS u(pos)
    ),
    phrased AS (
      SELECT doc_id, pos, tok, is_stop,
             sum(is_stop) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING
             ) AS phrase_id
      FROM pos
    ),
    words AS (
      SELECT doc_id, phrase_id, tok,
             count(*) OVER (PARTITION BY doc_id, phrase_id) AS phrase_len
      FROM phrased WHERE is_stop = 0
    ),
    stats AS (
      SELECT tok AS term,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(phrase_len) AS BIGINT) AS degree
      FROM words GROUP BY tok
    )
    SELECT term, freq, degree,
           CAST(degree * 1000 // freq AS BIGINT) AS score_x1000
    FROM stats
    ORDER BY score_x1000 DESC, freq DESC, term
    LIMIT {RAKE_TOP}
    """


@query("text_keyword_rake", oracle=_rake_oracle())
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal runs of non-stopword tokens, each
    word scores degree/freq where degree counts co-occurring words per
    phrase occurrence (phrase length, self included) and freq counts
    occurrences; the top-{RAKE_TOP} keywords by score are reported.
    The score ships as exact integer thousandths (floor division on
    both engines), so the compare is exact.

    Why at 100 TB: phrase segmentation is a per-document prefix sum —
    a window PARTITIONED BY doc_id (documents are the natural unit of
    parallelism; no global window anywhere), phrase length is a second
    doc-partitioned window, and the word-stats rollup is an ordinary
    partial→final aggregate on the term key.  The final top-{RAKE_TOP}
    is orderBy().limit() → TakeOrderedAndProject (per-partition heap +
    driver merge), never a global sort of the vocabulary — the same
    replan that fixed text_term_freq in round 6."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id",
        F.posexplode(F.split("text", r"\s+")).alias("pos", "tok"),
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
        "phrase_len",
        F.count(F.lit(1)).over(W.partitionBy("doc_id", "phrase_id")),
    )
    stats = words.groupBy(F.col("tok").alias("term")).agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("phrase_len").alias("degree"),
    )
    return (
        stats.select(
            "term",
            "freq",
            "degree",
            F.expr("degree * 1000 DIV freq").alias("score_x1000"),
        )
        .orderBy(F.desc("score_x1000"), F.desc("freq"), "term")
        .limit(RAKE_TOP)
    )


@query(
    "ann_topk_mips",
    oracle=f"""
    WITH {_VQ},
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
             round(list_inner_product(q, v) * 1000000) / 1000000 AS ip
      FROM q JOIN v ON v.label = q.qlabel AND v.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, ip, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY ip DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= {ANN_K}
    """,
)
def ann_topk_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (MIPS) top-k within the query's
    coarse bucket — the scoring for un-normalized two-tower retrieval
    embeddings, where the answer genuinely differs from cosine (norm
    carries signal).  Rank is by inner product rounded to 1e-6 with
    id tie-break on BOTH engines.  Scale path documented on
    ``mips_topk_ivf``: the Shrivastava-Li asymmetric augmentation
    reduces MIPS to constant-norm cosine so the SRP-LSH bucketer
    applies unchanged."""
    return S.mips_topk_ivf(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        "label",
        F.col("vec_id") < ANN_QUERY_MAX_ID,
        ANN_K,
    )


#: Collocation mining thresholds (shared Spark/oracle).
PMI_MIN_PAIR = 5
PMI_TOP = 20


def _pmi_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents
    ),
    pos AS (
      SELECT doc_id, u.pos AS pos, tk[u.pos] AS w1, tk[u.pos + 1] AS w2,
             len(tk) AS n_tk
      FROM toks, UNNEST(range(1, len(tk) + 1)) AS u(pos)
    ),
    uni AS (
      SELECT w1 AS w, CAST(count(*) AS BIGINT) AS c_w FROM pos GROUP BY w1
    ),
    n AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_uni FROM uni),
    pairs AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
      FROM pos WHERE pos < n_tk GROUP BY w1, w2
    ),
    np AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_pairs FROM pairs)
    SELECT w1, w2, c_xy,
           CAST(round(ln(
             (CAST(c_xy AS DOUBLE) / n_pairs)
             / ((CAST(u1.c_w AS DOUBLE) / n_uni) * (CAST(u2.c_w AS DOUBLE) / n_uni))
           ) * 10000) AS BIGINT) AS pmi_1e4
    FROM pairs
    JOIN uni u1 ON u1.w = pairs.w1
    JOIN uni u2 ON u2.w = pairs.w2
    CROSS JOIN n CROSS JOIN np
    WHERE c_xy >= {PMI_MIN_PAIR}
    ORDER BY pmi_1e4 DESC, w1, w2
    LIMIT {PMI_TOP}
    """


@query("text_collocations_pmi", oracle=_pmi_oracle())
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information over adjacent
    token bigrams: PMI = ln(p(xy) / (p(x)·p(y))) with p(xy) over the
    bigram count table and p(x) over unigrams, reported as integer
    1e-4 units (the corpus_source_kl convention) for the top-{PMI_TOP}
    pairs above a minimum pair count — the classic phrase-mining
    signal (Church & Hanks 1990) used to build tokenizer merge lists
    and stop-phrase tables from a training corpus.

    Why at 100 TB: bigrams come from a doc-partitioned lead (window
    PARTITIONED BY doc_id — documents are the parallelism unit), both
    count tables are partial→final aggregates on the pair/word keys,
    the unigram side joins back by broadcast (vocab ≪ corpus after
    aggregation), and the final top-{PMI_TOP} is TakeOrdered.  The
    raw token stream shuffles once (the pair groupBy)."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id",
        F.posexplode(F.split("text", r"\s+")).alias("pos", "w1"),
    ).withColumn(
        "w2",
        F.lead("w1").over(W.partitionBy("doc_id").orderBy("pos")),
    )
    # the two count tables are vocab-sized; checkpointing them stops
    # Catalyst re-deriving the full token-stream explode+aggregate for
    # every consuming branch (u1/u2/n_uni would each rescan the corpus
    # — the exchange-reuse trap documented on heavy_hitters_exact)
    uni = local_checkpoint(
        pos.groupBy(F.col("w1").alias("w"))
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    n_uni = uni.agg(F.sum("c_w").alias("n_uni"))
    pairs_all = local_checkpoint(
        pos.filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    # n_pairs folds over the (tiny) aggregated pair table, not the raw
    # token stream — the stream is scanned twice total (uni + pairs)
    n_pairs = pairs_all.agg(F.sum("c_xy").alias("n_pairs"))
    pairs = pairs_all.filter(F.col("c_xy") >= PMI_MIN_PAIR)
    u1 = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_y"))
    return (
        pairs.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy").cast("double") / F.col("n_pairs"))
                    / (
                        (F.col("c_x").cast("double") / F.col("n_uni"))
                        * (F.col("c_y").cast("double") / F.col("n_uni"))
                    )
                )
                * 10000
            )
            .cast("long")
            .alias("pmi_1e4"),
        )
        .orderBy(F.desc("pmi_1e4"), "w1", "w2")
        .limit(PMI_TOP)
    )


#: Equal-frequency rank ties sub-bucket by pmod(xxhash64(term), this)
#: so no window partition scales with vocabulary size (the hapax tie
#: is ~half of all distinct terms in a Zipfian corpus).  Raise it with
#: cluster size — it changes only the arbitrary tie assignment, which
#: the OLS moments are invariant to.
_ZIPF_TIE_BUCKETS = 256


def zipf_ranked_logs(docs, text_col: str = "text"):
    """(lr, lf) pairs — rounded ln(global rank) / ln(frequency) per
    distinct term — via the skew-proof three-level banded-rank
    decomposition shared by text_zipf_fit and the scale smoke; see the
    query docstring for the invariance argument and partition bounds."""
    from pyspark.sql import Window as W

    toks = docs.select(F.explode(F.split(text_col, r"\s+")).alias("term"))
    # the vocab-sized frequency table feeds FOUR consumers (the three
    # offset levels + the ranked side); checkpoint it lazily or each
    # branch re-derives the corpus scan + token explode + aggregate
    # (was 4 file scans / 18 exchanges)
    freq = local_checkpoint(
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
        .withColumn("__b", F.floor(F.log2("f")).cast("int"))
        .withColumn(
            "__h",
            F.pmod(F.xxhash64("term"), F.lit(_ZIPF_TIE_BUCKETS)).cast("int"),
        )
    )
    run = W.unboundedPreceding, W.currentRow
    cells = freq.groupBy("__b", "f", "__h").agg(F.count(F.lit(1)).alias("__c"))
    fgrp = cells.groupBy("__b", "f").agg(F.sum("__c").alias("__fc"))
    boff = (
        fgrp.groupBy("__b")
        .agg(F.sum("__fc").alias("__bc"))
        .select(
            "__b",
            (
                F.sum("__bc").over(
                    W.orderBy(F.desc("__b")).rowsBetween(*run)
                )
                - F.col("__bc")
            ).alias("__boff"),
        )
    )
    foff = fgrp.select(
        "__b",
        "f",
        (
            F.sum("__fc").over(
                W.partitionBy("__b").orderBy(F.desc("f")).rowsBetween(*run)
            )
            - F.col("__fc")
        ).alias("__foff"),
    )
    off = (
        cells.withColumn(
            "__hoff",
            F.sum("__c").over(
                W.partitionBy("__b", "f").orderBy("__h").rowsBetween(*run)
            )
            - F.col("__c"),
        )
        .join(foff, ["__b", "f"])
        .join(F.broadcast(boff), "__b")
        .select(
            "__b",
            "f",
            "__h",
            (F.col("__boff") + F.col("__foff") + F.col("__hoff")).alias("__off"),
        )
    )
    within = F.row_number().over(
        W.partitionBy("__b", "f", "__h").orderBy("term")
    )
    ranked = (
        freq.withColumn("__r", within)
        .join(off, ["__b", "f", "__h"])
        .select(
            F.round(F.log(F.col("__off") + F.col("__r")) * 10000)
            .cast("long")
            .alias("lr"),
            F.round(F.log("f") * 10000).cast("long").alias("lf"),
        )
    )
    return ranked


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH toks AS (
      SELECT u.x AS term FROM documents, UNNEST({_TOKS}) AS u(x)
    ),
    freq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY term
    ),
    ranked AS (
      SELECT CAST(round(ln(row_number() OVER (ORDER BY f DESC, term))
                   * 10000) AS BIGINT) AS lr,
             CAST(round(ln(f) * 10000) AS BIGINT) AS lf
      FROM freq
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(lr) AS BIGINT) AS sx,
             CAST(sum(lf) AS BIGINT) AS sy,
             CAST(sum(lr * lf) AS BIGINT) AS sxy,
             CAST(sum(lr * lr) AS BIGINT) AS sxx
      FROM ranked
    )
    SELECT n AS n_terms, sx, sy, sxy, sxx,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(round(
                  (CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE)) * 1000000
                ) AS BIGINT) END AS zipf_slope_1e6
    FROM m
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the corpus rank-frequency curve: OLS
    slope of ln(frequency) on ln(rank) — a healthy natural-language
    corpus fits slope ≈ −1, and drift toward 0 (flat) or steep tails
    flags boilerplate floods / deduplication damage, so this is a
    one-row corpus-health gauge for a training-data pipeline.  Both
    logs are rounded to integer 1e-4 units FIRST (the corpus_source_kl
    convention), the five moment sums are exact int64 aggregates over
    those units, and the final division of exact integers is rounded
    to 1e-6 with a zero-variance NULL guard — engine-stable end to
    end.

    Why at 100 TB: the frequency table is one partial→final aggregate
    on the term key, and the GLOBAL rank is computed WITHOUT a global
    sort via a THREE-level band decomposition (the parts_abc_pareto
    pattern, hardened against Zipfian tie skew per the r7 verdict):
    in a Zipfian vocabulary the f=1 (hapax) tie holds ~half of all
    distinct terms, so a window keyed on the log2-frequency band alone
    sorts billions of rows in one partition at web scale.  The OLS
    moments are ORDER-INVARIANT within an f-tie — the rank set
    {off+1..off+count} is fixed and only the arbitrary assignment of
    equal-f terms to those ranks changes — so ties are sub-bucketed by
    a term hash and the term-level window is keyed (band, f, bucket):
    every partition is ≤ |tie| / _ZIPF_TIE_BUCKETS rows (scale the
    constant with the cluster; it only changes which tied term gets
    which rank, never a moment).  The three offset levels are prefix
    sums over aggregated COUNT tables, never over terms: ≤~40 band
    rows (broadcast), ≤2^b distinct-f rows per band partition,
    ≤_ZIPF_TIE_BUCKETS bucket rows per (band, f) partition.  The
    moments collapse to one row; the raw token stream shuffles
    once."""
    ranked = zipf_ranked_logs(t(spark, sf_dir, "documents"))
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lr").alias("sx"),
        F.sum("lf").alias("sy"),
        F.sum(F.col("lr") * F.col("lf")).alias("sxy"),
        F.sum(F.col("lr") * F.col("lr")).alias("sxx"),
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        F.col("n").alias("n_terms"),
        "sx",
        "sy",
        "sxy",
        "sxx",
        F.when(
            den != 0,
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                    "double"
                )
                / den
                * 1000000
            ).cast("long"),
        ).alias("zipf_slope_1e6"),
    )


#: GPT-2-style pre-tokenizer, simplified to the regex subset whose
#: semantics are identical between Java regex (Spark) and RE2 (DuckDB):
#: letter runs | single digits | single non-alnum non-space marks.
#: Real BPE merges within these pre-token boundaries, so this count is
#: the standard upper-bound token estimate a data pipeline budgets on.
_BPE_PRETOKEN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@query(
    "text_token_count_bpe",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{_BPE_PRETOKEN}')) AS BIGINT)
               AS n_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
               AS n_word,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT)
               AS n_mark,
             CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT)
               AS n_chars
      FROM documents
    )
    SELECT doc_id, n_tokens, n_word, n_digit, n_mark,
           CASE WHEN n_tokens = 0 THEN NULL
                ELSE CAST(round(CAST(n_chars AS DOUBLE) / n_tokens * 1000000)
                          AS BIGINT) END AS chars_per_token_1e6
    FROM tok
    ORDER BY doc_id
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (the training-pipeline budget pass): a
    GPT-2-style pre-tokenizer regex splits each document into letter
    runs / digits / punctuation marks, and chars-per-token is the
    compression proxy quality filters threshold on (prose sits near
    ~4-5, code and boilerplate drift).  Counting real merged-BPE
    tokens only changes counts WITHIN pre-token boundaries, so this is
    the standard engine-portable upper bound.

    Why at 100 TB: one map-only pass — regexp_extract_all + size are
    whole-stage-codegen'd JVM expressions, no Python, no explode (the
    match ARRAYS never materialize into rows, only their sizes
    aggregate), no shuffle until the output sort; at scale drop the
    ORDER BY (driver-compare determinism only) and it is shuffle-free."""
    d = t(spark, sf_dir, "documents")

    def n_matches(pat: str):
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))).cast(
            "long"
        )

    tok = d.select(
        "doc_id",
        n_matches(r"[A-Za-z]+").alias("n_word"),
        n_matches(r"[0-9]").alias("n_digit"),
        n_matches(r"[^A-Za-z0-9\s]").alias("n_mark"),
        F.length(F.regexp_replace(F.col("text"), r"\s+", "")).cast("long").alias(
            "n_chars"
        ),
    ).withColumn(
        # the three alternatives are disjoint character classes, so the
        # combined-pattern match count is EXACTLY their sum (pinned by
        # tests/test_round8_ops.py) — skip the 4th regex pass
        "n_tokens",
        F.col("n_word") + F.col("n_digit") + F.col("n_mark"),
    )
    return tok.select(
        "doc_id",
        "n_tokens",
        "n_word",
        "n_digit",
        "n_mark",
        F.when(
            F.col("n_tokens") != 0,
            F.round(
                F.col("n_chars").cast("double") / F.col("n_tokens") * 1000000
            ).cast("long"),
        ).alias("chars_per_token_1e6"),
    ).orderBy("doc_id")


#: Feature-hashing width: tokens hash into this many signed buckets.
HASHING_TRICK_B = 64


@query(
    "text_hashing_trick",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, u.x AS term FROM documents, UNNEST({_TOKS}) AS u(x)
    ),
    w AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT)
               % {HASHING_TRICK_B} AS bucket,
             CAST(sum(1 - 2 * (CAST(('0x' || substr(md5(term), 16, 1)) AS BIGINT)
                               % 2)) AS BIGINT) AS wgt,
             CAST(count(*) AS BIGINT) AS n
      FROM tok GROUP BY doc_id, bucket
    ),
    ranked AS (
      SELECT doc_id, bucket, wgt, n,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY abs(wgt) DESC, bucket) AS rn
      FROM w
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE wgt <> 0) AS BIGINT) AS n_active_buckets,
           CAST(sum(wgt * wgt) AS BIGINT) AS l2sq,
           CAST(max(CASE WHEN rn = 1 THEN bucket END) AS BIGINT) AS top_bucket,
           CAST(max(CASE WHEN rn = 1 THEN wgt END) AS BIGINT) AS top_weight
    FROM ranked GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. 2009
    ICML): every token hashes into one of HASHING_TRICK_B (64) signed
    buckets — bucket from the md5-60bit token hash, sign from the
    parity of md5 hex digit 16 — giving each document a fixed-width
    sparse feature vector with NO vocabulary pass (the property that
    makes it the standard text featurizer at corpus scale).  Reported
    per document as exact integer summaries (token count, active
    buckets, squared L2 of the signed vector, argmax-|weight| bucket
    with ties to the smallest bucket), so the whole query is
    engine-portable integer math.

    Why at 100 TB: two cascaded counting aggregates — (doc, bucket)
    then doc — both map-side combinable; the argmax is a min_by
    partial aggregate, not a window; no joins, no vocabulary
    broadcast, nothing wider than the bucket width per doc."""
    from storm_dynamic_spout_spark.operators.text import token_hash

    d = t(spark, sf_dir, "documents")
    term = F.col("term")
    sign = F.lit(1) - F.lit(2) * (
        F.conv(F.substring(F.md5(term.cast("binary")), 16, 1), 16, 10).cast("long")
        % 2
    )
    w = (
        d.select("doc_id", F.explode(F.split("text", r"\s+")).alias("term"))
        .select(
            "doc_id",
            (token_hash(term) % HASHING_TRICK_B).alias("bucket"),
            sign.alias("__s"),
        )
        .groupBy("doc_id", "bucket")
        .agg(
            F.sum("__s").cast("long").alias("wgt"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    pick = F.struct(-F.abs(F.col("wgt")), F.col("bucket"))
    return (
        w.groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("wgt") != 0, 1).otherwise(0))
            .cast("long")
            .alias("n_active_buckets"),
            F.sum(F.col("wgt") * F.col("wgt")).cast("long").alias("l2sq"),
            F.min_by("bucket", pick).cast("long").alias("top_bucket"),
            F.min_by("wgt", pick).cast("long").alias("top_weight"),
        )
        .orderBy("doc_id")
    )


def _pq_ivf_adc_oracle_sql(
    lbl_cte: str = "SELECT vec_id, label FROM embeddings",
) -> str:
    """IVF-PQ oracle: the shared PQ CTEs plus the coarse-bucket
    restriction on both the query tables and the scanned codes.
    ``lbl_cte`` supplies the (vec_id, label) bucket relation — the
    fixture labels by default, or a computed (trained) assignment for
    the end-to-end FAISS shape."""
    from storm_dynamic_spout_spark.operators.similarity import PQ_K, PQ_M

    joins = "\n      ".join(
        f"JOIN dt t{ms} ON t{ms}.query_id = q.query_id"
        f" AND t{ms}.cid = k.code_{ms}"
        for ms in range(PQ_M)
    )
    approx = " + ".join(f"t{ms}.d{ms}" for ms in range(PQ_M))
    return (
        _pq_ctes()
        + f""",
    lbl AS ({lbl_cte}),
    dt AS (
      SELECT s.vec_id AS query_id, l.label AS qb, s.cid,
             {", ".join(f"d{ms}" for ms in range(PQ_M))}
      FROM scored s JOIN lbl l ON l.vec_id = s.vec_id
      WHERE s.vec_id < {PQ_K}
    ),
    q AS (SELECT DISTINCT query_id, qb FROM dt),
    adc AS (
      SELECT q.query_id, k.vec_id AS neighbor_id,
             CAST({approx} AS BIGINT) AS approx_d2_micro
      FROM codes k
      JOIN lbl kl ON kl.vec_id = k.vec_id
      JOIN q ON kl.label = q.qb AND k.vec_id != q.query_id
      {joins}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, approx_d2_micro,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_d2_micro, neighbor_id)
               AS rank
      FROM adc
    )
    SELECT query_id, neighbor_id, approx_d2_micro,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {ANN_K}
    ORDER BY query_id, rank
    """
    )


@query("ann_topk_ivfpq", oracle=_pq_ivf_adc_oracle_sql())
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k (operators/similarity.py pq_topk_ivf_adc): the
    FAISS-IVFPQ composition — the coarse bucket (the fixture label;
    production uses argmin-centroid assignment) restricts WHICH compact
    codes a query scans, the PQ asymmetric-distance table bounds the
    cost of each scan to 4 integer lookups.  The scan is a bucket
    equi-join against broadcast per-query tables; ranking on (integer
    distance, neighbor id) is exact given the codes."""
    from storm_dynamic_spout_spark.operators.similarity import (
        PQ_K,
        pq_topk_ivf_adc,
    )

    return pq_topk_ivf_adc(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        "label",
        dim=64,
        query_pred=F.col("vec_id") < PQ_K,
        k=ANN_K,
    ).orderBy("query_id", "rank")


def _ivfpq_trained_lbl_cte() -> str:
    """(vec_id, label) via TRAINED coarse assignment: per-label mean
    centroids (the ann_ivf_assign convention — raw double cosine
    argmax, ties to the smallest label) instead of the fixture
    labels."""
    return f"""WITH {_sql_centroids()},
      cvec AS (
        SELECT label AS c_label, list(c ORDER BY pos) AS cv
        FROM centroids GROUP BY label
      ),
      av AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        FROM embeddings
      ),
      ascored AS (
        SELECT av.vec_id, c_label,
               row_number() OVER (PARTITION BY av.vec_id
                 ORDER BY list_inner_product(ve, cv)
                   / (sqrt(list_inner_product(ve, ve))
                      * sqrt(list_inner_product(cv, cv))) DESC,
                 c_label) AS rn
        FROM av CROSS JOIN cvec
      )
      SELECT vec_id, c_label AS label FROM ascored WHERE rn = 1"""


@query(
    "ann_topk_ivfpq_trained",
    oracle=_pq_ivf_adc_oracle_sql(lbl_cte=_ivfpq_trained_lbl_cte()),
)
def ann_topk_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL FAISS-IVFPQ shape, oracle-checked end-to-end (r8
    verdict item 3): TRAIN per-label mean centroids, ASSIGN every
    vector to its argmax-cosine centroid (operators/similarity.py
    ivf_assign_labels — the ann_ivf_assign convention), then run the
    bucket-restricted PQ asymmetric-distance scan over the ASSIGNED
    buckets (pq_topk_ivf_adc).  Differs from ann_topk_ivfpq only in
    WHERE the coarse buckets come from — computed quantization instead
    of the fixture labels — which is exactly the piece a production
    index trains.

    Why at 100 TB: the assign step broadcasts the |labels|×dim
    codebook and collapses its candidate fan-out map-side (corpus
    never shuffles there); the join of assignments back onto the
    corpus is id-keyed and feeds straight into the PQ encode's own
    id-keyed aggregate; the ADC scan stays a bucket equi-join against
    broadcast per-query tables.  Plan: no cartesian against the
    corpus, one broadcast per tiny side."""
    from storm_dynamic_spout_spark.operators.similarity import (
        PQ_K,
        ivf_assign_labels,
        pq_topk_ivf_adc,
    )

    e = t(spark, sf_dir, "embeddings")
    # materialize the tiny (vec_id, assigned) table once: the ADC scan
    # reads df on BOTH its query and code sides, and without the cut
    # each side re-runs the whole train+assign subtree (centroid
    # aggregate + corpus-wide argmax fan-out) — the executed plan
    # showed the full assign pipeline twice
    assigned = local_checkpoint(ivf_assign_labels(e, "vec_id", "embedding", "label"))
    df = e.select("vec_id", "embedding").join(assigned, "vec_id")
    return pq_topk_ivf_adc(
        df,
        "vec_id",
        "embedding",
        "assigned",
        dim=64,
        query_pred=F.col("vec_id") < PQ_K,
        k=ANN_K,
    ).orderBy("query_id", "rank")


@query(
    "text_ngram_entropy",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, u.x AS term FROM documents, UNNEST({_TOKS}) AS u(x)
    ),
    cnt AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, term
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(c * CAST(round(ln(c) * 10000) AS BIGINT)) AS BIGINT)
               AS sum_c_lnc_1e4
      FROM cnt GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct, sum_c_lnc_1e4,
           CAST(round((ln(n_tokens)
                 - CAST(sum_c_lnc_1e4 AS DOUBLE) / n_tokens / 10000)
                 * 1000000) AS BIGINT) AS entropy_1e6
    FROM agg
    ORDER BY doc_id
    """,
)
def text_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution,
    H = ln(n) − (1/n)·Σ c·ln(c) — the diversity/repetition quality
    signal (boilerplate and degenerate repetition crater it; natural
    prose sits near the Zipf-implied band).  Engine-stable by the
    zipf convention: each ln(c) rounds to integer 1e-4 units FIRST,
    the Σ c·ln(c) is an exact int64 sum, and the final combination is
    three IEEE correctly-rounded ops on exact inputs plus one ln(n)
    both engines agree on for integer n.

    Why at 100 TB: two cascaded counting aggregates — (doc, term)
    then doc — with map-side partial combine on both; no windows, no
    joins, nothing keyed wider than a document's vocabulary."""
    d = t(spark, sf_dir, "documents")
    cnt = (
        d.select("doc_id", F.explode(F.split("text", r"\s+")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(
            F.col("c") * F.round(F.log("c") * 10000).cast("long")
        )
        .cast("long")
        .alias("sum_c_lnc_1e4"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "sum_c_lnc_1e4",
        F.round(
            (
                F.log(F.col("n_tokens"))
                - F.col("sum_c_lnc_1e4").cast("double") / F.col("n_tokens") / 10000
            )
            * 1000000
        )
        .cast("long")
        .alias("entropy_1e6"),
    ).orderBy("doc_id")


def _ivf_train_assign_oracle(k: int, iters: int) -> str:
    """Label-free k-means coarse assignment, Lloyd iterations UNROLLED
    (recursive CTEs cannot aggregate in the recursive term, so a fixed
    iteration count unrolls to chained CTE pairs).  Distance sums are
    explicit left-associative 64-term chains (the _pq_ctes convention —
    bit-identical to Spark's sequential F.aggregate fold), argmin is
    (integer-micro distance, cid), and a cluster that loses all members
    keeps its previous centroid (COALESCE on a LEFT JOIN), mirroring
    operators/similarity.py pq_train_codebook exactly."""
    d2 = " + ".join(
        f"(v.ve[{i}] - c.ce[{i}]) * (v.ve[{i}] - c.ce[{i}])" for i in range(1, 65)
    )

    def assign(name: str, cent: str) -> str:
        return f""",
    {name}_sc AS (
      SELECT v.vec_id, v.ve, c.cid,
             CAST(round(({d2}) * 1e6) AS BIGINT) AS d
      FROM v CROSS JOIN {cent} c
    ),
    {name} AS (
      SELECT vec_id, ve, cid FROM (
        SELECT vec_id, ve, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
        FROM {name}_sc
      ) WHERE r = 1
    )"""

    def update(a: str, prev: str, new: str) -> str:
        return f""",
    {new}_m AS (
      SELECT a.cid, t.pos, avg(a.ve[t.pos]) AS c
      FROM {a} a, UNNEST(range(1, 65)) AS t(pos)
      GROUP BY a.cid, t.pos
    ),
    {new}_v AS (
      SELECT cid, list(c ORDER BY pos) AS ce FROM {new}_m GROUP BY cid
    ),
    {new} AS (
      SELECT p.cid, COALESCE(n.ce, p.ce) AS ce
      FROM {prev} p LEFT JOIN {new}_v n ON n.cid = p.cid
    )"""

    sql = f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, ve AS ce
      FROM v WHERE vec_id < {k}
    )"""
    cent = "c0"
    for it in range(1, iters + 1):
        sql += assign(f"a{it}", cent)
        sql += update(f"a{it}", cent, f"c{it}")
        cent = f"c{it}"
    sql += assign("afinal", cent)
    sql += """
    SELECT vec_id, CAST(cid AS BIGINT) AS assigned FROM afinal ORDER BY vec_id
    """
    return sql


IVF_TRAIN_K = 6
IVF_TRAIN_ITERS = 2


@query(
    "ann_ivf_train_assign",
    oracle=_ivf_train_assign_oracle(IVF_TRAIN_K, IVF_TRAIN_ITERS),
)
def ann_ivf_train_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-FREE coarse quantizer training (operators/similarity.py
    ivf_train_assign = pq_train_codebook with m=1 + the pq_assign
    argmin): full-vector k-means from the deterministic first-k init,
    two Lloyd iterations, then every vector assigned to its
    argmin-L2 centroid — the unsupervised half of the FAISS story
    (ann_ivf_assign / ann_topk_ivfpq_trained seed from the fixture
    label column; a real corpus has none).

    Why at 100 TB: per iteration the corpus is scanned once — k-row
    centroid table broadcast, map-side min_by argmin collapse, k×dim
    mean-cell update, k-row checkpoint; the corpus vectors never
    shuffle.  The oracle unrolls the same two iterations as chained
    SQL CTEs with the left-associative distance sums both engines
    fold identically."""
    from storm_dynamic_spout_spark.operators.similarity import ivf_train_assign

    return ivf_train_assign(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        64,
        k=IVF_TRAIN_K,
        iters=IVF_TRAIN_ITERS,
    ).orderBy("vec_id")


def _ivfpq_tuned_oracle(nprobe: int, rerank_mult: int) -> str:
    """Multi-probe + exact-rerank IVF-PQ oracle: the _pq_ivf_adc
    oracle's CTEs, except (a) each query probes its ``nprobe`` nearest
    coarse buckets by exact L2 to the per-label MEAN vectors (integer-
    micro distance, label tiebreak — the pq_topk_ivf_adc_tuned probe
    convention), and (b) the ADC ranking keeps a k*rerank_mult
    shortlist that a final exact-L2 pass re-scores against the
    original vectors.  All distance sums are explicit left-associative
    chains (bit-identical to Spark's sequential fold)."""
    from storm_dynamic_spout_spark.operators.similarity import PQ_K, PQ_M

    d2q = " + ".join(
        f"(qv.ve[{i}] - b.cv[{i}]) * (qv.ve[{i}] - b.cv[{i}])"
        for i in range(1, 65)
    )
    d2r = " + ".join(
        f"(qe.ve[{i}] - ne.ve[{i}]) * (qe.ve[{i}] - ne.ve[{i}])"
        for i in range(1, 65)
    )
    joins = "\n      ".join(
        f"JOIN dt t{ms} ON t{ms}.query_id = p.query_id"
        f" AND t{ms}.cid = k.code_{ms}"
        for ms in range(PQ_M)
    )
    approx = " + ".join(f"t{ms}.d{ms}" for ms in range(PQ_M))
    return (
        _pq_ctes()
        + f""",
    lbl AS (SELECT vec_id, label FROM embeddings),
    bcent AS (
      SELECT l.label, list(c ORDER BY pos) AS cv FROM (
        SELECT kl.label, t.pos, avg(v.ve[t.pos]) AS c
        FROM v JOIN lbl kl ON kl.vec_id = v.vec_id,
             UNNEST(range(1, 65)) AS t(pos)
        GROUP BY kl.label, t.pos
      ) l GROUP BY l.label
    ),
    probes AS (
      SELECT query_id, label AS qb FROM (
        SELECT qv.vec_id AS query_id, b.label,
               row_number() OVER (
                 PARTITION BY qv.vec_id
                 ORDER BY CAST(round(({d2q}) * 1e6) AS BIGINT), b.label
               ) AS pr
        FROM v qv CROSS JOIN bcent b
        WHERE qv.vec_id < {PQ_K}
      ) WHERE pr <= {nprobe}
    ),
    dt AS (
      SELECT s.vec_id AS query_id, s.cid,
             {", ".join(f"d{ms}" for ms in range(PQ_M))}
      FROM scored s WHERE s.vec_id < {PQ_K}
    ),
    adc AS (
      SELECT p.query_id, k.vec_id AS neighbor_id,
             CAST({approx} AS BIGINT) AS approx_d2
      FROM codes k
      JOIN lbl kl ON kl.vec_id = k.vec_id
      JOIN probes p ON kl.label = p.qb AND k.vec_id != p.query_id
      {joins}
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx_d2, neighbor_id) AS r
        FROM adc
      ) WHERE r <= {ANN_K * rerank_mult}
    ),
    rr AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(round(({d2r}) * 1e6) AS BIGINT) AS d2_micro
      FROM shortlist s
      JOIN v qe ON qe.vec_id = s.query_id
      JOIN v ne ON ne.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, d2_micro, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, d2_micro,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d2_micro, neighbor_id) AS rank
      FROM rr
    ) WHERE rank <= {ANN_K}
    ORDER BY query_id, rank
    """
    )


IVFPQ_TUNED_NPROBE = 2
IVFPQ_TUNED_RERANK = 4


@query(
    "ann_topk_ivfpq_tuned",
    oracle=_ivfpq_tuned_oracle(IVFPQ_TUNED_NPROBE, IVFPQ_TUNED_RERANK),
)
def ann_topk_ivfpq_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the production recall knobs engaged
    (operators/similarity.py pq_topk_ivf_adc_tuned): each query probes
    its 2 nearest coarse buckets (exact L2 to the bucket means — the
    metric the ADC scan optimizes, where cosine probing would
    mis-rank) and the ADC scan keeps a 4k shortlist that one broadcast
    id-join re-scores with exact L2.  Rehearsed at 100k vectors:
    recall@5 0.03 (ADC-only) -> 0.57 with these knobs (SCALE_SF1.md).

    Why at 100 TB: probes multiply only the BROADCAST side of the
    bucket equi-join (codes still scanned once); the rerank touches
    k*mult original vectors per query — the corpus vectors never
    shuffle; everything else is the ann_topk_ivfpq plan."""
    from storm_dynamic_spout_spark.operators.similarity import (
        PQ_K,
        pq_topk_ivf_adc_tuned,
    )

    return pq_topk_ivf_adc_tuned(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        "label",
        dim=64,
        query_pred=F.col("vec_id") < PQ_K,
        k=ANN_K,
        nprobe=IVFPQ_TUNED_NPROBE,
        rerank_mult=IVFPQ_TUNED_RERANK,
    ).orderBy("query_id", "rank")


@query(
    "corpus_curriculum_order",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             CAST(round(({_SQL_QUALITY.format(punct=X.sql_punct_ratio('text'), stop=X.sql_stopword_ratio('text', X.QUALITY_STOPWORDS))}) * 1000000) AS BIGINT)
               AS quality_1e6
      FROM documents
    ),
    cuts AS (
      SELECT quantile_cont(quality_1e6, 0.25) AS c1,
             quantile_cont(quality_1e6, 0.50) AS c2,
             quantile_cont(quality_1e6, 0.75) AS c3
      FROM q
    ),
    b AS (
      SELECT doc_id, quality_1e6,
             1 + CAST(quality_1e6 > c1 AS INT)
               + CAST(quality_1e6 > c2 AS INT)
               + CAST(quality_1e6 > c3 AS INT) AS bucket,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM q, cuts
    )
    SELECT doc_id, quality_1e6, CAST(bucket AS INT) AS bucket,
           CAST(row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id)
                AS BIGINT) AS rank_in_bucket
    FROM b ORDER BY doc_id
    """,
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning order (Bengio et al. 2009 applied to
    pre-training data): bucket documents into quality quartiles
    (integer 1e-6 quality keys against broadcast exact-percentile
    cuts — the orders_rfm convention, no global ntile sort), then
    shuffle deterministically WITHIN each bucket by md5(doc_id) — a
    training loader walks bucket 4 (best) to bucket 1, randomized
    inside each stage, reproducibly across runs and engines.

    Why at 100 TB: the cuts are a 1-row exact-percentile aggregate
    broadcast back over the scan (swap approx_percentile in at
    extreme scale, same plan); the within-bucket rank is a
    4-partition window — skewed by construction, so at real scale
    rank within (bucket, shard-of-hash) bands instead (the
    zipf_banded_rank pattern) and offset by band; the hash order
    makes either formulation deterministic."""
    from pyspark.sql.window import Window as W

    d = t(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        F.round(X.quality_score(F.col("text")) * 1_000_000)
        .cast("long")
        .alias("quality_1e6"),
    )
    cuts = q.agg(
        F.percentile("quality_1e6", 0.25).alias("__c1"),
        F.percentile("quality_1e6", 0.50).alias("__c2"),
        F.percentile("quality_1e6", 0.75).alias("__c3"),
    )
    qk = F.col("quality_1e6")
    bucket = (
        F.lit(1)
        + (qk > F.col("__c1")).cast("int")
        + (qk > F.col("__c2")).cast("int")
        + (qk > F.col("__c3")).cast("int")
    )
    b = q.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "quality_1e6",
        bucket.alias("bucket"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("__h"),
    )
    w = W.partitionBy("bucket").orderBy("__h", "doc_id")
    return (
        b.withColumn("rank_in_bucket", F.row_number().over(w).cast("long"))
        .select("doc_id", "quality_1e6", "bucket", "rank_in_bucket")
        .orderBy("doc_id")
    )


@query(
    "embedding_whitened_topk",
    oracle=f"""
    WITH ve AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                FROM embeddings),
    comp AS (SELECT UNNEST(range(1, len(e) + 1)) AS pos, e FROM ve),
    cell AS (SELECT pos, e[pos] AS x FROM comp),
    stats AS (SELECT pos, avg(x) AS mu, stddev_pop(x) AS sd FROM cell GROUP BY pos),
    sarr AS (SELECT list(mu ORDER BY pos) AS mus, list(sd ORDER BY pos) AS sds
             FROM stats),
    w AS (
      SELECT vec_id,
             list_transform(range(1, len(e) + 1), i ->
                 CAST(CAST(CASE WHEN {_sql_sd_guard("e")}
                                THEN round((e[i] - mus[i]) / sds[i] * 1000000)
                                ELSE 0 END AS BIGINT) AS DOUBLE)) AS v
      FROM ve, sarr
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM w
          WHERE vec_id < {ANN_QUERY_MAX_ID}),
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
             round(list_inner_product(qv, v)
                   / (sqrt(list_inner_product(qv, qv))
                      * sqrt(list_inner_product(v, v))) * 1000000) / 1000000
               AS cos
      FROM q CROSS JOIN w WHERE vec_id <> query_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= {ANN_K}
    ORDER BY query_id, rank
    """,
)
def embedding_whitened_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the WHITENED space — the
    composition diagonal whitening exists for (retrieval in the
    standardized space, where no high-variance dimension dominates the
    metric).  The whitened integer-ppm components make every dot
    product and norm an EXACT integer sum (64 products of ppm-scale
    values stay far under 2^53), so the cosine is bit-identical across
    engines regardless of summation order — stronger determinism than
    the raw-float baseline ann_topk_bruteforce.

    Why at 100 TB: the whitening adds one d-row stats aggregate +
    broadcast to the ann_topk_bruteforce plan (broadcast query panel x
    one corpus scan, WindowGroupLimit top-k) — the corpus still never
    self-joins."""
    # The whitened table feeds BOTH sides of the top-k (query panel +
    # corpus) — without it the stats aggregate and the whitening join
    # ran twice (4 embeddings scans)
    w = local_checkpoint(
        S.whiten_ppm(t(spark, sf_dir, "embeddings"), "vec_id", "embedding")
        .select("vec_id", "white_ppm")
    )
    res = S.cosine_topk(
        w, "vec_id", "white_ppm", F.col("vec_id") < ANN_QUERY_MAX_ID, ANN_K
    )
    return res.select(
        "query_id",
        "neighbor_id",
        (F.round(F.col("cos") * 1000000) / 1000000).alias("cos"),
        "rank",
    ).orderBy("query_id", "rank")


#: BPE merge-candidate table size.
_BPE_TOP_PAIRS = 20


@query(
    "text_bpe_merge_candidates",
    oracle=f"""
    WITH toks AS (
      SELECT u.x AS tok
      FROM documents, UNNEST({_TOKS}) AS u(x)
      WHERE length(u.x) >= 2
    ),
    pairs AS (
      SELECT substr(tok, i.i, 2) AS pair
      FROM toks, UNNEST(range(1, length(tok))) AS i(i)
    )
    SELECT pair, n_occurrences FROM (
      SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences,
             row_number() OVER (ORDER BY count(*) DESC, pair) AS rn
      FROM pairs GROUP BY pair
    ) WHERE rn <= {_BPE_TOP_PAIRS}
    """,
)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE tokenizer-training iteration (Sennrich et al.,
    ACL'16): count every adjacent character pair inside whitespace
    tokens and rank the top merge candidates — the step a
    tokenizer-training pipeline repeats merge-by-merge, shown here as
    the corpus-scale pass it is dominated by.

    Plan: explode tokens -> explode the per-token position sequence
    into 2-grams (all JVM-side ``transform(sequence(...))``, no
    Python) -> |pair-vocab|-keyed count with map-side partials ->
    ``orderBy().limit()`` TakeOrderedAndProject (per-partition heap
    top-k; the pair vocabulary is alphabet^2-bounded, so no global
    sort ever sees corpus-scale rows).  Real BPE training loops this
    with the merged symbol table broadcast back — each iteration is
    this same one-shuffle shape."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", r"\s+")).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, char_length(tok) - 1), i -> substr(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(_BPE_TOP_PAIRS)
    )


#: Reciprocal-rank-fusion parameters (Cormack/Clarke/Buettcher
#: SIGIR'09 — k=60 is the canonical constant).
RRF_K = 60
RRF_POOL = 50  # per-leg candidate pool depth
RRF_TOP = 20
RRF_QUERY_ID = 0  # dense-leg query vector (and its excluded id)


def _hybrid_rrf_oracle() -> str:
    terms = ", ".join(f"'{q}'" for q in BM25_TERMS)
    return f"""
    WITH dd AS (
      SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS dl FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl
      FROM dd
    ),
    tf AS (
      SELECT doc_id, dl, u.x AS term, CAST(count(*) AS BIGINT) AS tf
      FROM dd, UNNEST(toks) AS u(x)
      WHERE u.x IN ({terms})
      GROUP BY doc_id, dl, u.x
    ),
    dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    lex_scored AS (
      SELECT tf.doc_id AS id,
             sum(ln(1 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
                 * tf.tf * ({BM25_K1} + 1)
                 / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl
                    / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS score
      FROM tf JOIN dfx USING (term) CROSS JOIN stats s
      GROUP BY tf.doc_id
    ),
    lex AS (
      SELECT id, CAST(rn AS BIGINT) AS rank_lex FROM (
        SELECT id, row_number() OVER (
          ORDER BY CAST(round(score * 1000000) AS BIGINT) DESC, id) AS rn
        FROM lex_scored
      ) WHERE rn <= {RRF_POOL}
    ),
    ve AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
    qv AS (SELECT v AS q FROM ve WHERE vec_id = {RRF_QUERY_ID}),
    dense AS (
      SELECT id, CAST(rn AS BIGINT) AS rank_dense FROM (
        SELECT vec_id AS id, row_number() OVER (
          ORDER BY CAST(round({_SQL_COS} * 1000000) AS BIGINT) DESC, vec_id) AS rn
        FROM ve, qv WHERE vec_id <> {RRF_QUERY_ID}
      ) WHERE rn <= {RRF_POOL}
    ),
    fused AS (
      SELECT COALESCE(lex.id, dense.id) AS id, rank_lex, rank_dense,
             COALESCE(1.0 / ({RRF_K} + rank_lex), 0)
               + COALESCE(1.0 / ({RRF_K} + rank_dense), 0) AS rrf
      FROM lex FULL OUTER JOIN dense USING (id)
    )
    SELECT id, rank_lex, rank_dense,
           round(rrf * 1000000) / 1000000 AS rrf_score,
           CAST(rn AS BIGINT) AS hybrid_rank
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY CAST(round(rrf * 1000000000) AS BIGINT) DESC, id) AS rn
      FROM fused
    ) WHERE rn <= {RRF_TOP}
    ORDER BY hybrid_rank
    """


@query("search_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.,
    SIGIR'09 — the fusion powering most production RAG stacks): a
    lexical BM25 leg (fixed term query over documents) and a dense
    cosine leg (query vector {RRF_QUERY_ID} over embeddings) each
    produce a top-{RRF_POOL} ranking on integer-stable keys, then
    ``rrf = sum 1/(60 + rank)`` over whichever legs retrieved the id
    (rank-only fusion — no score calibration needed across scorers,
    which is exactly why RRF beat weighted-score fusion).

    Why at 100 TB: each leg is its existing scale shape (BM25 =
    query-term-filtered postings + broadcast stats; dense = 1-row
    broadcast query x corpus scan, TakeOrderedAndProject) and the
    fusion joins two {RRF_POOL}-row tables — the corpus is scanned
    once per leg, never joined against itself."""
    from pyspark.sql.window import Window as W

    lex = (
        _bm25_scored(spark, sf_dir)
        .select(
            F.col("doc_id").alias("id"),
            F.round(F.col("__score") * 1_000_000).cast("long").alias("__key"),
        )
        .orderBy(F.desc("__key"), "id")
        .limit(RRF_POOL)
        .select(
            "id",
            F.row_number()
            .over(W.orderBy(F.desc("__key"), "id"))
            .cast("bigint")
            .alias("rank_lex"),
        )
    )
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("__v"),
    )
    qv = emb.filter(F.col("vec_id") == RRF_QUERY_ID).select(
        F.col("__v").alias("__q")
    )
    cos = F.aggregate(
        F.zip_with("__q", "__v", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (
        F.sqrt(
            F.aggregate(
                F.zip_with("__q", "__q", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        * F.sqrt(
            F.aggregate(
                F.zip_with("__v", "__v", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    )
    dense = (
        emb.filter(F.col("vec_id") != RRF_QUERY_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("id"),
            F.round(cos * 1_000_000).cast("long").alias("__key"),
        )
        .orderBy(F.desc("__key"), "id")
        .limit(RRF_POOL)
        .select(
            "id",
            F.row_number()
            .over(W.orderBy(F.desc("__key"), "id"))
            .cast("bigint")
            .alias("rank_dense"),
        )
    )
    fused = lex.join(dense, "id", "full").select(
        "id",
        "rank_lex",
        "rank_dense",
        (
            F.coalesce(1.0 / (RRF_K + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("rank_dense")), F.lit(0.0))
        ).alias("__rrf"),
    )
    return (
        fused.withColumn(
            "hybrid_rank",
            F.row_number()
            .over(
                W.orderBy(
                    F.desc(F.round(F.col("__rrf") * 1_000_000_000).cast("long")),
                    "id",
                )
            )
            .cast("bigint"),
        )
        .filter(F.col("hybrid_rank") <= RRF_TOP)
        .select(
            "id",
            "rank_lex",
            "rank_dense",
            (F.round(F.col("__rrf") * 1000000) / 1000000).alias("rrf_score"),
            "hybrid_rank",
        )
        .orderBy("hybrid_rank")
    )


NDCG_AT = 10


def _ndcg_oracle() -> str:
    terms = ", ".join(f"'{q}'" for q in BM25_TERMS)
    return f"""
    WITH dd AS (
      SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS dl FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl
      FROM dd
    ),
    tf AS (
      SELECT doc_id, dl, u.x AS term, CAST(count(*) AS BIGINT) AS tf
      FROM dd, UNNEST(toks) AS u(x)
      WHERE u.x IN ({terms})
      GROUP BY doc_id, dl, u.x
    ),
    dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(count(*) AS BIGINT) AS grade,
             sum(ln(1 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
                 * tf.tf * ({BM25_K1} + 1)
                 / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl
                    / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS score
      FROM tf JOIN dfx USING (term) CROSS JOIN stats s
      GROUP BY tf.doc_id
    ),
    ranked AS (
      SELECT doc_id, grade, row_number() OVER (
        ORDER BY CAST(round(score * 1000000) AS BIGINT) DESC, doc_id) AS rank
      FROM scored
    ),
    pool AS (SELECT * FROM ranked WHERE rank <= {BM25_TOP}),
    ideal AS (
      SELECT grade, row_number() OVER (ORDER BY grade DESC, doc_id) AS irank
      FROM pool
    ),
    dcg AS (
      SELECT sum((power(2, grade) - 1) / (ln(rank + 1) / ln(2))) AS dcg_10
      FROM pool WHERE rank <= {NDCG_AT}
    ),
    idcg AS (
      SELECT sum((power(2, grade) - 1) / (ln(irank + 1) / ln(2))) AS idcg_10
      FROM ideal WHERE irank <= {NDCG_AT}
    )
    SELECT round(dcg_10 * 1000000) / 1000000 AS dcg_10,
           round(idcg_10 * 1000000) / 1000000 AS idcg_10,
           round(dcg_10 / idcg_10 * 1000000) / 1000000 AS ndcg_10
    FROM dcg, idcg
    """


@query("search_ndcg_eval", oracle=_ndcg_oracle())
def search_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation — nDCG@10 (Järvelin & Kekäläinen
    2002) of the BM25 ranking, the metric every retrieval pipeline
    reports: exponential gains ``2^grade - 1`` (grade = number of
    matched query terms, a deterministic integer relevance label)
    discounted by ``log2(rank + 1)``, normalized by the ideal ordering
    of the same top-{BM25_TOP} pool (documented pool-normalization:
    the ideal permutes retrieved grades, the standard offline-eval
    convention when the full judgment set IS the pool).

    Why at 100 TB: the ranking is the existing BM25 shape; the eval
    itself reduces two {BM25_TOP}-row frames — metric cost is
    independent of corpus size.  Gains are exact small integers; the
    log discounts are identical literals-and-libm expressions rounded
    at 1e-6."""
    from pyspark.sql.window import Window as W

    # the ≤BM25_TOP-row pool feeds BOTH the dcg and the ideal/idcg
    # legs — without a cut each re-runs the whole BM25 scorer below
    # (incl. the corpus-wide doc-count/avgdl stats scan: 2 documents
    # scans in the r15 executed plan)
    pool = local_checkpoint(
        _bm25_scored(spark, sf_dir)
        .select(
            "doc_id",
            F.col("n_query_terms").alias("grade"),
            F.round(F.col("__score") * 1_000_000).cast("long").alias("__key"),
        )
        .orderBy(F.desc("__key"), "doc_id")
        .limit(BM25_TOP)
        .select(
            "doc_id",
            "grade",
            F.row_number().over(W.orderBy(F.desc("__key"), "doc_id")).alias("rank"),
        )
    )
    gain = F.pow(F.lit(2.0), F.col("grade")) - 1
    dcg = pool.filter(F.col("rank") <= NDCG_AT).agg(
        F.sum(gain / (F.log(F.col("rank") + 1) / F.log(F.lit(2.0)))).alias("__dcg")
    )
    ideal = pool.select(
        "grade",
        F.row_number().over(W.orderBy(F.desc("grade"), "doc_id")).alias("irank"),
    )
    idcg = ideal.filter(F.col("irank") <= NDCG_AT).agg(
        F.sum(gain / (F.log(F.col("irank") + 1) / F.log(F.lit(2.0)))).alias("__idcg")
    )
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            (F.round(F.col("__dcg") * 1000000) / 1000000).alias("dcg_10"),
            (F.round(F.col("__idcg") * 1000000) / 1000000).alias("idcg_10"),
            (F.round(F.col("__dcg") / F.col("__idcg") * 1000000) / 1000000).alias(
                "ndcg_10"
            ),
        )
    )


#: Learned-merge iterations for the BPE training query.
_BPE_MERGE_ITERS = 3

#: Tokens reported by the tokenizer-APPLICATION query.
_BPE_APPLY_TOP = 15


def _bpe_block(i: int) -> str:
    """One training iteration as chained CTEs (pair counts → top pair →
    greedy merge fold with a LIST accumulator) — shared by the learn
    and apply oracles so both replay the identical schedule."""
    return f"""
    p{i} AS (
      SELECT syms[j.j] AS a, syms[j.j+1] AS b, CAST(sum(n) AS BIGINT) AS cnt
      FROM w{i-1}, UNNEST(range(1, len(syms))) AS j(j) GROUP BY a, b
    ),
    t{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
    w{i} AS (
      SELECT n, list_reduce(list_transform(syms, s -> [s]),
        (acc, x) -> CASE WHEN acc[-1] = t{i}.a AND x[1] = t{i}.b
                    THEN list_concat(acc[1:len(acc)-1], [t{i}.a || t{i}.b])
                    ELSE list_append(acc, x[1]) END) AS syms
      FROM w{i-1}, t{i}
    )"""


_BPE_ORACLE_PRELUDE = f"""
    WITH wc AS (
      SELECT u.x AS word, CAST(count(*) AS BIGINT) AS n
      FROM documents, UNNEST({_TOKS}) AS u(x)
      WHERE length(u.x) >= 1 GROUP BY u.x
    ),
    w0 AS (SELECT n, list_transform(range(1, length(word)+1), i -> word[i])
             AS syms FROM wc),
    {",".join(_bpe_block(i) for i in range(1, _BPE_MERGE_ITERS + 1))}"""


def _bpe_learn_oracle() -> str:
    selects = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_rank, a AS pair_a, b AS pair_b, cnt"
        f" FROM t{i}"
        for i in range(1, _BPE_MERGE_ITERS + 1)
    )
    return f"""
    {_BPE_ORACLE_PRELUDE}
    {selects}
    ORDER BY merge_rank
    """


def _bpe_train(spark: SparkSession, sf_dir: str, iters: int):
    """The shared BPE training loop over the distinct-word table:
    returns (final word symbol arrays after ``iters`` merges, the
    per-iteration winning-pair frames).  Each iteration counts
    adjacent symbol pairs weighted by word frequency, selects the top
    pair (count desc, lexicographic tiebreak), and applies it with
    ``operators/text.py apply_bpe_merge`` — the SAME greedy fold the
    standalone application operator runs, so train and apply share
    semantics symbol for symbol.  No driver-side collect: the winning
    pair flows through ``crossJoin(broadcast(top1))``.

    The word table is lazily checkpointed at the base and after
    every merge fold: level i's pair count and level i+1's fold both
    read level i's table, and each level's subtree CONTAINS every
    earlier level's, so without the cut Catalyst re-runs the
    corpus-scale word-count aggregate once per level (K+1 file scans
    for K merges) and the fold expression nests K deep in one codegen
    stage.  With it, the corpus is scanned once and each level is one
    small aggregate over the materialized distinct-word table."""
    wc = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = local_checkpoint(wc.select("n", X.chars(F.col("word")).alias("syms")))
    tops = []
    for i in range(1, iters + 1):
        # size>=2 guard: Spark's sequence(1, 0) DESCENDS ([1, 0]), so a
        # 1-symbol word would index past its array in the pair explode
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
            .select(
                F.col("a").alias("__pa"),
                F.col("b").alias("__pb"),
                F.col("cnt").alias("__cnt"),
            )
        )
        tops.append(
            top1.select(
                F.lit(i).cast("bigint").alias("merge_rank"),
                F.col("__pa").alias("pair_a"),
                F.col("__pb").alias("pair_b"),
                F.col("__cnt").alias("cnt"),
            )
        )
        w = (
            w.crossJoin(F.broadcast(top1))
            .select(
                "n",
                X.apply_bpe_merge(
                    F.col("syms"), F.col("__pa"), F.col("__pb")
                ).alias("syms"),
            )
        )
        w = local_checkpoint(w)
    return w, tops


@query("text_bpe_learn_merges", oracle=_bpe_learn_oracle())
def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, iterated (Sennrich et al., ACL'16): learn
    the first {_BPE_MERGE_ITERS} merges over the distinct-word table —
    each iteration counts adjacent symbol pairs weighted by word
    frequency, selects the top pair (count desc, lexicographic
    tiebreak), and applies the merge greedily left-to-right inside
    every word's symbol sequence via an ``F.aggregate`` fold
    (``last == a and next == b -> replace last with ab``, the exact
    greedy semantics a reference Python implementation produces —
    pinned in tests).

    Why at 100 TB: BPE training runs on the (word, count) TABLE, not
    the corpus — the corpus-scale pass is the one word-count
    aggregate; each merge iteration is then a |pair-vocab|-keyed
    map-side-partial count + a 1-row broadcast of the winning pair +
    a map-only fold over bounded word arrays.  No driver-side collect:
    the winning pair flows through ``crossJoin(broadcast(top1))``, so
    the whole k-merge loop is one lazy plan.  The oracle unrolls the
    identical iterations as chained CTEs with LIST-state folds (the
    [l,t] convention — duckdb struct_pack accumulators rebind, see
    events_forecast_holt)."""
    _w, tops = _bpe_train(spark, sf_dir, _BPE_MERGE_ITERS)
    out = tops[0]
    for frame in tops[1:]:
        out = out.unionByName(frame)
    return out.orderBy("merge_rank")


def _bpe_apply_oracle() -> str:
    return f"""
    {_BPE_ORACLE_PRELUDE},
    tok AS (
      SELECT u.x AS token, CAST(sum(n) AS BIGINT) AS n_occurrences
      FROM w{_BPE_MERGE_ITERS}, UNNEST(syms) AS u(x) GROUP BY u.x
    ),
    ranked AS (
      SELECT token, n_occurrences,
             CAST(row_number() OVER (ORDER BY n_occurrences DESC, token)
                  AS BIGINT) AS rank
      FROM tok
    )
    SELECT rank, token, n_occurrences FROM ranked
    WHERE rank <= {_BPE_APPLY_TOP} ORDER BY rank
    """


@query("text_bpe_apply", oracle=_bpe_apply_oracle())
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION, closing the train→apply loop of
    ``text_bpe_learn_merges``: run the learned merge table over the
    corpus (``operators/text.py apply_bpe_merge`` — the identical
    greedy left-to-right fold the trainer used, so application
    reproduces training segmentation symbol for symbol) and report the
    top-{_BPE_APPLY_TOP} resulting tokens by corpus frequency — the
    applied tokenizer's head vocabulary, where the learned merges
    surface as multi-character tokens.

    Why at 100 TB: application runs on the (word, count) TABLE and
    re-weights by frequency — word-level memoization, so the per-word
    fold cost is paid once per DISTINCT word, not once per corpus
    occurrence; the corpus-scale passes are the word-count aggregate
    and the final token-histogram aggregate (map-side combine on the
    token key).  The top-K is ``orderBy().limit()`` →
    TakeOrderedAndProject (per-partition heap), with rank assigned by
    a row_number over the ≤{_BPE_APPLY_TOP}-row pool — never a global
    sort of the vocabulary."""
    from pyspark.sql.window import Window as W

    w, _tops = _bpe_train(spark, sf_dir, _BPE_MERGE_ITERS)
    tok = (
        w.select("n", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(F.sum("n").cast("bigint").alias("n_occurrences"))
    )
    return (
        tok.orderBy(F.desc("n_occurrences"), "token")
        .limit(_BPE_APPLY_TOP)
        .select(
            F.row_number()
            .over(W.orderBy(F.desc("n_occurrences"), "token"))
            .cast("bigint")
            .alias("rank"),
            "token",
            "n_occurrences",
        )
    )


@query("text_bpe_encode_vocab", oracle=_bpe_apply_oracle())
def text_bpe_encode_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VOCAB-SCALE BPE encode path (operators/text.py
    bpe_encode_words — the round-15 registration of the r14-staged
    Arrow encoder, oracle validated end-to-end in
    tools/proto_bpe_vocab_oracle.py): identical output contract to
    ``text_bpe_apply`` (top-{_BPE_APPLY_TOP} applied-vocabulary tokens
    by corpus frequency — same oracle by design), but the merge table
    crosses to the executors as a rank dict and each word is encoded by
    the heap-scheduled Arrow ``mapInPandas`` encoder whose per-word
    cost tracks the word's symbol count, NOT the merge-table size —
    the path that stays viable at a 50k-entry production vocabulary
    where the expression-fold's per-merge plan node would not
    (semantics pinned equal in tests/test_round14_ops.py, incl. the
    rank-revisit ``'xab'`` case).

    Why at 100 TB: encode runs once per DISTINCT word with frequency
    re-weighting (word-level memoization), the merge table is
    model-sized (one 3-row collect here, a broadcast variable at 50k),
    and the corpus-scale passes are the word-count aggregate and the
    token-histogram aggregate — both map-side-partial.  The top-K is a
    per-partition heap, never a global vocabulary sort."""
    from pyspark.sql.window import Window as W

    from storm_dynamic_spout_spark.operators.text import (
        bpe_encode_words,
        collect_merge_table,
    )

    _w, tops = _bpe_train(spark, sf_dir, _BPE_MERGE_ITERS)
    # the model-sized merge-table materialization (bloom-gauge class):
    # training order is the merge rank — _BPE_MERGE_ITERS rows, never
    # data; the collect itself lives in operators/text.py
    merges = collect_merge_table(tops)
    # the trainer's checkpointed word table already holds every distinct
    # word with its corpus count — merges only regroup a word's chars,
    # so array_join(syms, '') is exactly the original word and the
    # (word, n) encode input derives with ZERO extra work (was: a second
    # documents scan + a corpus-wide groupBy(word) exchange rebuilding
    # the identical table the trainer had materialized)
    wc = _w.select(F.array_join("syms", "").alias("word"), "n")
    tok = (
        bpe_encode_words(wc, "word", merges)
        .select("n", F.explode("bpe_tokens").alias("token"))
        .groupBy("token")
        .agg(F.sum("n").cast("bigint").alias("n_occurrences"))
    )
    return (
        tok.orderBy(F.desc("n_occurrences"), "token")
        .limit(_BPE_APPLY_TOP)
        .select(
            F.row_number()
            .over(W.orderBy(F.desc("n_occurrences"), "token"))
            .cast("bigint")
            .alias("rank"),
            "token",
            "n_occurrences",
        )
    )


#: Per-query fused results kept by the streaming hybrid fusion.
HYBRID_STREAM_TOP = 5


def _stream_hybrid_sql() -> str:
    """DuckDB mirror of the streaming hybrid fusion: the two incremental
    match logs (same even/odd two-batch schedule, same id space) are
    replayed by their own staged-CTE oracles, then RRF-fused PER QUERY
    — rank-only fusion, so the BM25 micro-scores and the cosine never
    need calibrating against each other."""
    ann = _stream_ann_sql()
    lex = _stream_bm25_sql()
    return f"""
    WITH ann AS (SELECT query_id, neighbor_id AS id,
                        CAST(rank AS BIGINT) AS rank_dense
                 FROM ({ann})),
    lex AS (SELECT query_id, doc_id AS id, CAST(rank AS BIGINT) AS rank_lex
            FROM ({lex})),
    fused AS (
      SELECT COALESCE(lex.query_id, ann.query_id) AS query_id,
             COALESCE(lex.id, ann.id) AS id,
             rank_lex, rank_dense,
             COALESCE(1.0 / ({RRF_K} + rank_lex), 0)
               + COALESCE(1.0 / ({RRF_K} + rank_dense), 0) AS rrf
      FROM lex FULL OUTER JOIN ann USING (query_id, id)
    )
    SELECT query_id, id, rank_lex, rank_dense,
           round(rrf * 1000000) / 1000000 AS rrf_score,
           CAST(rn AS BIGINT) AS hybrid_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY CAST(round(rrf * 1000000000) AS BIGINT) DESC, id) AS rn
      FROM fused
    ) WHERE rn <= {HYBRID_STREAM_TOP}
    ORDER BY query_id, hybrid_rank
    """


@query("stream_hybrid_rrf", oracle=_stream_hybrid_sql())
def stream_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hybrid retrieval: the incremental ANN index (dense
    leg, embeddings) and the incremental BM25 postings index (lexical
    leg, documents) run the SAME even/odd two-batch schedule over the
    shared id space, and their match logs are reciprocal-rank-fused
    PER QUERY — ``rrf = sum 1/(60 + rank)`` over whichever legs
    retrieved the id, top-{HYBRID_STREAM_TOP} fused per query.  The
    streaming closure of ``search_hybrid_rrf``: what a live RAG
    ingestion pipeline reads after each micro-batch.

    Why at 100 TB: each leg is its existing incremental scale shape
    (bucket equi-join / token equi-join against pre-batch state); the
    fusion itself joins two rank-k-per-query logs on (query, id) —
    cost proportional to the match logs, never the corpora."""
    import tempfile

    from pyspark.sql.window import Window as W

    from storm_dynamic_spout_spark.streaming.ann_stream import StreamingAnnIndex
    from storm_dynamic_spout_spark.streaming.bm25_stream import StreamingBm25Index

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ann_idx = StreamingAnnIndex(tempfile.mkdtemp(prefix="sdss-hyb-ann-"))
    ann_idx.process_batch(e.filter(F.col("vec_id") % 2 == 0))
    ann_idx.process_batch(e.filter(F.col("vec_id") % 2 == 1))
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    lex_idx = StreamingBm25Index(tempfile.mkdtemp(prefix="sdss-hyb-lex-"))
    lex_idx.process_batch(d.filter(F.col("doc_id") % 2 == 0))
    lex_idx.process_batch(d.filter(F.col("doc_id") % 2 == 1))

    ann_m = ann_idx.matches(spark)
    lex_m = lex_idx.matches(spark)
    ann = (
        ann_m.select(
            "query_id",
            F.col("neighbor_id").alias("id"),
            F.col("rank").cast("bigint").alias("rank_dense"),
        )
        if ann_m is not None
        else spark.createDataFrame([], "query_id long, id long, rank_dense long")
    )
    lex = (
        lex_m.select(
            "query_id",
            F.col("doc_id").alias("id"),
            F.col("rank").cast("bigint").alias("rank_lex"),
        )
        if lex_m is not None
        else spark.createDataFrame([], "query_id long, id long, rank_lex long")
    )
    rrf = F.coalesce(1.0 / (F.lit(RRF_K) + F.col("rank_lex")), F.lit(0.0)) + F.coalesce(
        1.0 / (F.lit(RRF_K) + F.col("rank_dense")), F.lit(0.0)
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("__rrf") * 1_000_000_000).cast("long")), "id"
    )
    return (
        lex.join(ann, ["query_id", "id"], "full_outer")
        .withColumn("__rrf", rrf)
        .withColumn("hybrid_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("hybrid_rank") <= HYBRID_STREAM_TOP)
        .select(
            "query_id",
            "id",
            "rank_lex",
            "rank_dense",
            (F.round(F.col("__rrf") * 1_000_000) / 1_000_000).alias("rrf_score"),
            "hybrid_rank",
        )
        .orderBy("query_id", "hybrid_rank")
    )


