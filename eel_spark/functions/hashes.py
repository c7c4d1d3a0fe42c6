"""Hashing primitives for near-duplicate detection — all JVM expressions.

MinHash: k independent permutations approximated by ``xxhash64(shingle,
seed_i)`` minima — the standard trick (Broder '97); each signature row is
an array<long> of k minima. SimHash: per-token 64-bit hashes vote on each
bit, sign of the vote is the fingerprint bit (Charikar '02).

Everything here stays inside whole-stage codegen: shingling is
``transform`` over a split array, hashing is ``xxhash64``, banding is
``slice`` + ``hash`` — no Python in the path, so the same code runs on a
100 TB corpus with per-row cost independent of cluster size.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from eel_spark.functions.text import normalized_text, tokens


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct) from normalized text."""
    t = tokens(normalized_text(text))
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
    return F.array_distinct(
        F.when(
            F.size(t) >= n,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n))),
        ).otherwise(F.array(F.concat_ws(" ", t)))
    )


def shingle_hashes_from_tokens(token_hash_arr: Column, n: int = 3) -> Column:
    """array<long> of distinct n-shingle hashes from a PRE-PROJECTED
    token-hash array (``token_hashes`` across its own select boundary —
    inlining the token-hash transform here re-evaluates it per shingle,
    measured 4× slower than the two-projection layout at sf0.1).

    The 64-bit shingle proxy replaces the shingle STRING everywhere in
    the minhash hot path (guide §2.3 "shuffle keys and metadata instead
    of payloads"): building per-shingle strings (concat_ws over a token
    slice) cost 2.5× the whole hashed front at sf0.1, and the string
    arrays then rode the pin + both candidate rejoins. Set semantics are
    identical to string shingles modulo xxhash64 collisions between
    DISTINCT token n-grams (2⁻⁶⁴ per in-corpus pair — the same class the
    signature pre-hash already accepts); exact Jaccard over the hash
    sets equals Jaccard over the string sets under that assumption
    (verified string-exact vs the DuckDB brute-force oracle at 3 SFs).

    Docs with fewer than ``n`` tokens degrade to ONE whole-doc shingle,
    exactly like ``shingles``: an order-sensitive chained hash over all
    token hashes stands in for the joined-string shingle (two short docs
    compare equal iff their full token sequences match)."""
    whole_doc = F.aggregate(
        token_hash_arr,
        F.lit(2**61 - 1),  # fixed seed; empty docs all fold to it (≙ [""])
        lambda acc, h: F.xxhash64(acc, h),
    )
    idx = F.sequence(F.lit(0), F.size(token_hash_arr) - n)
    return F.array_distinct(
        F.when(
            F.size(token_hash_arr) >= n,
            F.transform(
                idx,
                lambda i: F.xxhash64(
                    *[F.element_at(token_hash_arr, i + k + 1) for k in range(n)]
                ),
            ),
        ).otherwise(F.array(whole_doc))
    )


def minhash_signature_from_hashes(hash_arr: Column, num_hashes: int = 64) -> Column:
    """array<long> of ``num_hashes`` minima over PRE-HASHED shingles
    (array<long> from ``shingle_hashes_from_tokens``): slot i is the min
    over shingles of ``xxhash64(h, i)``. Empty input → MAX_LONG
    sentinels.

    Single-pass fold: one traversal of the hash array updating a
    ``num_hashes``-wide accumulator (zip_with least). Equivalent to — and
    measured ~15% faster than — ``num_hashes`` separate
    ``array_min(transform(...))`` passes: higher-order functions evaluate
    interpreted (outside codegen), so traversal count is what matters."""
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    init = F.array_repeat(F.lit(2**63 - 1), num_hashes)
    return F.aggregate(
        hash_arr,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(seeds, lambda i: F.xxhash64(h, i)),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_bands(signature: Column, bands: int, rows_per_band: int) -> Column:
    """array<struct<band:int, key:long>> — LSH band keys: hash of each
    band's slice. Two docs sharing any band key are candidate pairs.

    The key hashes the band's signature slots DIRECTLY (static
    element_at indices — no lambda, no re-evaluation trap): the previous
    concat_ws(",") form stringified every slot of every band per row
    (64 long→string renders + 16 string builds) just to feed xxhash64.
    Key equality is still implied by slice equality, and hash collisions
    only add false candidates that the exact-Jaccard verify rejects."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.element_at(signature, b * rows_per_band + k + 1)
                        for k in range(rows_per_band)
                    ]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def row_digest(cols: list[str]) -> Column:
    """NULL-anchored 64-bit row digest over ``cols``.

    Plain ``xxhash64(c1, c2, …)`` SKIPS NULL inputs (a NULL child leaves
    the hash accumulator untouched), so ``('x', NULL)`` and
    ``(NULL, 'x')`` collide DETERMINISTICALLY — a value shifting between
    nullable columns would be invisible to any digest built that way.
    Interleaving each column with its ``isNull`` flag anchors every
    position: the flag is never NULL, so the hashed input sequence
    differs whenever any (nullness, value) pair differs. Remaining
    collision risk is the generic 2^-64, not a structural class."""
    parts: list[Column] = []
    for c in cols:
        parts.append(F.col(c).isNull().cast("tinyint"))
        parts.append(F.col(c))
    return F.xxhash64(*parts)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two shingle arrays (arrays pre-distinct).

    ONE array_intersect: interpreted expressions get no common-subtree
    elimination, so spelling the union as |a|+|b|-|a∩b| with a second
    intersect evaluated the set operation twice per pair."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a).cast("double") + F.size(b).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def estimated_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """MinHash-estimated Jaccard: fraction of equal signature slots."""
    eq = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")), lambda v: v == 1)
    )
    return eq.cast("double") / F.size(sig_a).cast("double")


def token_hashes(text: Column | str) -> Column:
    """array<long> of xxhash64 per token. Project this through its own
    select before feeding simhash64_from_hashes — inlined into the 64
    bit-vote aggregates it would be recomputed per bit."""
    return F.transform(tokens(normalized_text(text)), lambda t: F.xxhash64(t))


def simhash64_from_hashes(hs: Column) -> Column:
    """SimHash from a pre-computed token-hash array.

    Bit b of the fingerprint = 1 iff more token-hashes have bit b set than
    unset. Computed as 64 per-bit votes via aggregate over the token
    hashes — pure codegen, no UDF.
    """

    def bit_vote(b: int):
        # closure factory: the merge lambda must be exactly 2-ary
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bits = []
    for b in range(64):
        vote = F.aggregate(hs, F.lit(0).cast("long"), bit_vote(b))
        bits.append(F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0)))
    out = F.lit(0).cast("long")
    for b, bit in enumerate(bits):
        out = out.bitwiseOR(F.shiftleft(bit, b))
    return out


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of
    XOR — single JVM intrinsic)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_bands(fingerprint: Column, bands: int = 4) -> Column:
    """Split a 64-bit fingerprint into ``bands`` chunks (pigeonhole: two
    fingerprints within (bands-1) hamming distance share ≥1 exact chunk)."""
    width = 64 // bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(fingerprint, b * width).bitwiseAND(F.lit(mask)).alias("key"),
            )
            for b in range(bands)
        ]
    )
