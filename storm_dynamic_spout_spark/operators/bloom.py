"""Bloom-filter runtime join pruning — build a compact bitmap from the
small (build) side of a join and pre-filter the big (probe) side with
it BEFORE the shuffle / exact join.

The 100 TB story: a selective dimension predicate (say 2% of
customers) normally still shuffles the full fact table into the join.
A bloom bitmap of the qualifying keys is a few KB–MB regardless of
fact size; broadcast it, drop ~98% of fact rows map-side, and only the
surviving candidates pay the shuffle.  The exact join afterwards
eliminates the bloom's false positives, so semantics are identical to
the plain join — the same idea as Spark's own
`spark.sql.optimizer.runtime.bloomFilter.enabled` runtime filter, but
expressed as an explicit, inspectable operator (and usable where the
optimizer's heuristics decline to inject one).

The bitmap is a SPLIT-BLOCK bloom filter (the design parquet-format
and Impala use for exactly this reason): one hash picks the key's
64-bit word, and all k bits land INSIDE that word, derived from
further hashes.  The probe-side membership test is therefore a single
``element_at(bloom, word) & mask = mask`` — the bloom map is
referenced exactly ONCE however large k is.  That matters because the
map rides a scalar subquery (`DataFrame.scalar()`, Spark 4): a
classic bloom needs k independent ``element_at`` lookups, each
embedding its own copy of the subquery, and Catalyst plans k
*distinct* subqueries that each re-run the whole bitmap build
(observed: subquery#29/#30/#31, zero ReusedSubquery; higher-order
functions can't host subqueries, so the k tests can't be folded into
one ``forall`` either).  Split-block trades ~1.5–2× the
false-positive rate at equal m — irrelevant here, the exact join
removes false positives anyway — for a one-reference probe and a
single build.

A scalar-subquery Filter (not a join) is also what pins the prune to
the probe-side scan: the crossJoin-broadcast form gets pulled above
the exact semi-join by the optimizer (observed), making the bloom
pure overhead.  No driver collect, no Python anywhere.

Reference parity: the reference has no join surface at all
(SURVEY §2.3); this extends the declared join family beyond it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint

#: Default bitmap geometry: 2^16 bits = 1024 words (8 KiB) with 3 bits
#: per key gives ~1% false-positive rate up to ~5k keys in the
#: split-block regime; size m at ~12–16 bits per expected key at scale
#: (a billion-bit bloom is still only ~120 MiB and beats shuffling a
#: 100 TB fact by orders of magnitude).
DEFAULT_M_BITS = 1 << 16
DEFAULT_K_HASHES = 3


def _word_col(key: Column, m_words: int) -> Column:
    """Word index (hash seed 0) — which 64-bit word of the bitmap the
    key's block is."""
    return F.pmod(F.xxhash64(key, F.lit(0)), F.lit(m_words).cast("bigint"))


def _mask_col(key: Column, k_hashes: int) -> Column:
    """The key's k-bit mask within its word (hash seeds 1..k) — pure
    function of the key, no bitmap reference."""
    mask: Column | None = None
    for seed in range(1, k_hashes + 1):
        bit = F.call_function(
            "shiftleft",
            F.lit(1).cast("bigint"),
            F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(64)).cast("int"),
        )
        mask = bit if mask is None else mask.bitwiseOR(bit)
    assert mask is not None
    return mask


def bloom_build(
    small: DataFrame,
    key_col: str,
    m_bits: int = DEFAULT_M_BITS,
    k_hashes: int = DEFAULT_K_HASHES,
) -> DataFrame:
    """One-row DataFrame ``(bloom: map<bigint,bigint>)`` — the sparse
    word→bits split-block bitmap of every key in ``small[key_col]``.

    Build cost: one narrow projection (word, mask per key), one
    ≤ m/64-group ``bit_or`` aggregate, one tiny collect_list into a
    map — every stage data-shrinking, all JVM-side."""
    m_words = max(1, m_bits >> 6)
    key = F.col(key_col)
    return (
        small.select(
            _word_col(key, m_words).alias("__word"),
            _mask_col(key, k_hashes).alias("__mask"),
        )
        .groupBy("__word")
        .agg(F.bit_or("__mask").alias("__mask"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__word", "__mask"))
            ).alias("bloom")
        )
    )


def bloom_might_contain(
    bloom: Column, key: Column, m_bits: int, k_hashes: int
) -> Column:
    """Membership-test Column: all k of the key's bits are set in its
    word of the ``bloom`` map (typically a scalar-subquery Column from
    ``bloom_build(...).scalar()``) — a single ``element_at``, so the
    subquery is planned (and the bitmap built) exactly once.  A word
    missing from the sparse map ⇒ NULL lookup ⇒ the equality is not
    TRUE ⇒ the row is (correctly) pruned."""
    m_words = max(1, m_bits >> 6)
    mask = _mask_col(key, k_hashes)
    word = _word_col(key, m_words)
    return F.element_at(bloom, word).bitwiseAND(mask) == mask


def bloom_prune_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    m_bits: int = DEFAULT_M_BITS,
    k_hashes: int = DEFAULT_K_HASHES,
) -> DataFrame:
    """``big`` semi-joined to ``small`` with a bloom pre-filter: rows
    of ``big`` whose key cannot be in ``small`` drop map-side against
    the broadcast one-row bitmap (zero shuffle), then an exact
    left-semi join removes the false positives.  Result rows ≡
    ``big LEFT SEMI JOIN small ON big_key = small_key``.

    The bloom test is a Filter with a scalar subquery (not a join), so
    it is pinned to the probe-side scan; the exact join is deliberately
    NOT broadcast-hinted — the operator's target regime is a build side
    too big to broadcast (then Catalyst picks sort-merge and the bloom
    prune sits map-side BELOW the probe-side exchange: only surviving
    candidates pay the shuffle, which is the whole point).  If the
    build side IS broadcast-able, Catalyst broadcasts the exact join —
    harmless, but then you didn't need a bloom.

    No pre-distinct on the build side: LEFT SEMI already dedups
    matches, and the bitmap build's own groupBy absorbs duplicate
    keys — a shared distinct aggregate would be planned TWICE (once
    inside the scalar subquery, once in the main join subtree),
    scanning and aggregating the dimension twice.  The key projection
    IS shared: it is lazily checkpointed so the bitmap build and the
    exact join read one materialized dimension scan instead of each
    re-running it."""
    keys = local_checkpoint(small.select(F.col(small_key).alias("__k")))
    bloom = bloom_build(keys, "__k", m_bits, k_hashes).scalar()
    cand = big.where(bloom_might_contain(bloom, F.col(big_key), m_bits, k_hashes))
    return cand.join(keys, cand[big_key] == keys["__k"], "left_semi")
