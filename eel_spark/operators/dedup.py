"""Deduplication operators for document corpora at 100 TB scale.

Four families (SURVEY.md §2.4): exact (hash group-by), MinHash+LSH
(shingle → signature → band → bucket-join → verify), SimHash (bit-vote
fingerprint → hamming band join), and n-gram Jaccard verification.

The scale invariant across all of them: **all-pairs comparison only ever
happens inside an LSH/band bucket**, never globally — candidate-pair count
is bounded by bucket sizes, and every stage is a DataFrame op (shuffles on
band keys, no driver-side state, no Python in the hot path).

One LSH pair stage, band → bucket pairs → verify, written once as the
private helpers below and shared by the batch operators and the
full-history streaming sinks (``streaming/streams.py``):
``_minhash_table`` and ``_jaccard_verified`` (every MinHash path),
``_simhash_fingerprints`` and ``_simhash_banded`` (SimHash batch and
text sink), ``_bucket_pairs`` (every self-join over band buckets),
``_hamming_pairs`` (SimHash batch and both sinks) and
``_check_pigeonhole`` (every Hamming-verified path). Kept apart on
purpose: the cross-corpus MinHash join caps each side's bucket on its
own (``joins._capped_bucket_join`` caps the combined population), and
semdedup keeps its cell join.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eel_spark.functions import hashes
from eel_spark.scale import ensure_parallelism
from eel_spark.functions.text import normalized_text


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical (post-normalization) docs.

    Returns (content_hash, n_docs, doc_ids sorted) for groups with >1 doc.
    Hash group-by: one shuffle on the 128-bit content hash — the exact-dup
    strategy that works unchanged at any corpus size.
    """
    h = F.md5(normalized_text(text_col).cast("binary"))
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Survivor set: min-id doc per normalized content hash."""
    h = F.md5(normalized_text(text_col).cast("binary"))
    survivors = (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(survivors.select(id_col), on=id_col, how="left_semi")


def _minhash_table(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int, num_hashes: int
) -> DataFrame:
    """(id, __sh, sig): distinct n-shingle hashes and their MinHash
    signature per doc — the one table every minhash path bands and
    verifies. Shingles are 64-bit hashes, not strings
    (``hashes.shingle_hashes_from_tokens`` — the string front cost 2.5×
    as much and rode every downstream shuffle); each array is projected
    through its own select boundary FIRST: inlining a referenced-again
    HOF expression makes Catalyst re-evaluate it per consumer slot
    (measured 20× slower at sf0.01 for shingles-in-signature, 4× for
    token-hashes-in-shingles). Unpinned: a caller that feeds several
    plan branches from it pins it (``caching.pin``)."""
    shingled = _shingle_hash_table(df, text_col, id_col, shingle_n)
    return shingled.select(
        id_col,
        "__sh",
        hashes.minhash_signature_from_hashes(F.col("__sh"), num_hashes).alias("sig"),
    )


def _shingle_hash_table(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, __sh: array<long>) — distinct n-shingle hashes per doc, built
    through TWO projection boundaries (tokenize+hash, then shingle) so
    neither HOF re-evaluates inside its consumer."""
    token_tbl = ensure_parallelism(df).select(
        F.col(id_col), hashes.token_hashes(text_col).alias("__th")
    )
    return token_tbl.select(
        id_col,
        hashes.shingle_hashes_from_tokens(F.col("__th"), shingle_n).alias("__sh"),
    )


def _banded_table(
    sig_tbl: DataFrame,
    id_col: str,
    out_id: str,
    bands: int,
    num_hashes: int,
) -> DataFrame:
    """(out_id, band, key) rows from a signature table. Band rows stay
    narrow: carrying the 64-slot signature through the explode + join
    would multiply shuffle width ×bands. Bucket capping happens in the
    consumer's (band, key) aggregation (``_bucket_pairs``)."""
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes={num_hashes} must divide evenly into bands={bands}"
        )
    rows = num_hashes // bands
    return sig_tbl.select(
        F.col(id_col).alias(out_id),
        F.explode(hashes.minhash_bands(F.col("sig"), bands, rows)).alias("b"),
    ).select(out_id, F.col("b.band").alias("band"), F.col("b.key").alias("key"))


def _bucket_pairs(
    banded: DataFrame, member_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """(``__a``, ``__b``) member pairs within each (band, key) bucket of
    a banded table, via ONE aggregation — the shared candidate stage of
    every LSH self-join (minhash / simhash / embedding, and through
    ``_hamming_pairs`` the streaming sinks' within-wave pairs).

    groupBy(band, key) → collect_list shuffles the banded rows once; the
    bucket cap is a size() filter on the aggregated row (identical
    drop-over-cap semantics to the former _cap_buckets anti-join); the
    Σ|bucket|² pairs are generated in place by chained explodes over
    the sorted member array — no second shuffle of the banded table, no
    cache write, no broadcast anti-join. ``member_cols`` lists the
    columns each member carries; the FIRST must be the orderable id
    (array_sort orders struct members field-by-field, so id_a < id_b is
    structural). Bucket buffers are bounded by the cap; UNCAPPED callers
    (max_bucket_size=None) degrade to the pre-fusion band self-join
    (r15 ADVICE): without a cap there is no bound on a bucket's
    collect_list buffer, and one degenerate dup-heavy bucket would
    become a single-task OOM — the self-join streams the identical
    Σ|bucket|² pairs without per-row buffering (members are unique per
    bucket — one banded row per (band, doc) — so a<b yields the same
    pair set in the same orientation: struct comparison and array_sort
    both order field-by-field). An id repeated in one frame with two
    different payloads (a streaming wave can carry one) is two members,
    so struct members may also pair it with itself as (x, x); such a
    self-pair joins no two components and changes no survivor."""
    member = (
        F.struct(*[F.col(c) for c in member_cols])
        if len(member_cols) > 1
        else F.col(member_cols[0])
    )
    if max_bucket_size is None:
        left = banded.select("band", "key", member.alias("__a"))
        right = banded.select("band", "key", member.alias("__b"))
        return (
            left.join(right, ["band", "key"])
            .filter(F.col("__a") < F.col("__b"))
            .select("__a", "__b")
        )
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.collect_list(member).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    buckets = buckets.filter(F.size("__ids") <= max_bucket_size)
    # sorted members behind their own projection boundary: array_sort
    # inlined into the downstream explodes would re-sort per element (the
    # re-evaluation trap _minhash_table documents)
    buckets = buckets.select(F.array_sort("__ids").alias("__ids"))
    ids = F.col("__ids")
    n = F.size("__ids")
    # TWO chained generates, not flatten(nested transform): building the
    # full |bucket|² pair array per bucket row would hold it in memory at
    # once; explode(sequence) then explode(slice) streams the same pairs
    # with O(|bucket|) peak allocation per generated row
    anchored = buckets.select(
        ids, F.explode(F.sequence(F.lit(1), n - 1)).alias("__i")
    )
    return anchored.select(
        F.element_at(ids, F.col("__i")).alias("__a"),
        F.explode(
            F.slice(ids, F.col("__i") + 1, F.size(ids) - F.col("__i"))
        ).alias("__b"),
    )


def _band_pairs(
    tbl: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs from the capped band
    buckets of any table carrying (id, sig) — ``_bucket_pairs`` over the
    minhash banded table (see its docstring for the one-aggregation
    layout; the r14 first-wave pin, measured 2.44→1.97 s, papered over
    the duplicated self-join subtrees; the fusion removes them
    outright)."""
    banded = _banded_table(tbl, id_col, id_col, bands, num_hashes)
    return (
        _bucket_pairs(banded, [id_col], max_bucket_size)
        .select(F.col("__a").alias("id_a"), F.col("__b").alias("id_b"))
        .distinct()
    )


def _jaccard_verified(
    pairs: DataFrame,
    tbl_a: DataFrame,
    tbl_b: DataFrame,
    id_col: str,
    a: str,
    b: str,
    threshold: float,
) -> DataFrame:
    """(a, b, est_jaccard, jaccard) for the candidate ``pairs`` whose
    EXACT shingle Jaccard is ≥ ``threshold`` — the verify stage of every
    minhash path. Each side's (__sh, sig) rejoins once from its
    ``_minhash_table``, and only for the (bounded) candidate set: one
    combined rejoin per side, so two candidate joins, not four."""
    side_a = tbl_a.select(
        F.col(id_col).alias(a),
        F.col("__sh").alias("__sh_a"),
        F.col("sig").alias("__sig_a"),
    )
    side_b = tbl_b.select(
        F.col(id_col).alias(b),
        F.col("__sh").alias("__sh_b"),
        F.col("sig").alias("__sig_b"),
    )
    return (
        pairs.join(side_a, a)
        .join(side_b, b)
        .select(
            a,
            b,
            hashes.estimated_jaccard(F.col("__sig_a"), F.col("__sig_b")).alias(
                "est_jaccard"
            ),
            hashes.jaccard(F.col("__sh_a"), F.col("__sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash LSH.

    Pipeline: shingle → k-min signature → band keys → self-join on
    (band, key) → distinct (id_a < id_b) pairs with estimated Jaccard.
    The self-join shuffles on band keys, so work scales with bucket
    sizes, not n². ``bands``/``num_hashes`` set the similarity threshold
    s ≈ (1/bands)^(bands/num_hashes).

    ``max_bucket_size`` caps pathological buckets: band-join work is
    Σ|bucket|² — one bucket of verbatim duplicates can dominate the whole
    job (measured 15× on an 8×-replica corpus). Buckets above the cap are
    skipped; their members are near-certain *exact* duplicates, which
    dedup_exact handles at Σ|bucket| cost — run it first (the documented
    pipeline order in queries/pipeline.py).

    The signature table is every minhash path's (``_minhash_table``);
    only its (id, sig) columns are read here, so the shingle arrays are
    pruned from the plan.
    """
    tbl = _minhash_table(df, text_col, id_col, shingle_n, num_hashes)
    pairs = _band_pairs(tbl, id_col, num_hashes, bands, max_bucket_size)
    # signatures rejoin only for the (bounded) candidate set
    sig_a = tbl.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = tbl.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            hashes.estimated_jaccard(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"),
        )
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs verified by *exact* n-gram Jaccard ≥ threshold.

    Verification joins the shingle sets back only for LSH candidates —
    the expensive exact Jaccard runs on a bounded pair set
    (``_jaccard_verified``).

    ONE pinned (id, shingles, sig) table feeds every branch (band join
    + one combined rejoin per pair side); the r9 layout pinned shingles
    and signatures separately and rejoined each separately, and fusing
    them halved the AQE job count of the collect (measured 41 → 29
    stages, ~0.4 s of pure scheduling overhead on the sf0.1 bench slot
    — r11 verdict #5). The pin boundary guarantees shingling computes
    once (recomputing it per branch dominates runtime); the table is
    O(corpus) narrow rows — at 100 TB you'd stage it to a table;
    MEMORY_AND_DISK is the single-job equivalent. The cache is freed by
    ``caching.release_pins()`` — which the query registry invokes on the
    next query build — not by waiting on GC (cached plans are held by
    the CacheManager until an explicit unpersist).
    """
    from eel_spark.caching import pin

    tbl = pin(_minhash_table(df, text_col, id_col, shingle_n, num_hashes))
    pairs = _band_pairs(tbl, id_col, num_hashes, bands, max_bucket_size)
    return _jaccard_verified(pairs, tbl, tbl, id_col, "id_a", "id_b", threshold)


def minhash_near_duplicates_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs of NEW docs against a REFERENCE corpus — the batch
    twin of the incremental streaming sink (streams.py): dedup a fresh
    crawl against the training set you already have, without paying for
    ref×ref (already deduped) or new×new (run the self variant for
    that) comparisons.

    Returns (id_new, id_ref, est_jaccard, jaccard ≥ threshold). Both
    sides shingle+sign once; the band join is new-side × ref-side on
    (band, key) ONLY, so candidate work is the cross-bucket overlap —
    at 100 TB the reference's signature table is the thing you persist
    between crawls (it is O(|ref|) narrow rows; re-signing the history
    every batch is the real cost to avoid).

    Bucket caps apply per side before the join (a verbatim-dup flood in
    either corpus otherwise multiplies the other side's bucket).

    Each side pins ONE ``_minhash_table`` and rejoins once through
    ``_jaccard_verified`` — the same verify stage as the self variant.
    """
    from eel_spark.caching import pin

    new_tbl = pin(_minhash_table(df, text_col, id_col, shingle_n, num_hashes))
    ref_tbl = pin(
        _minhash_table(reference, text_col, id_col, shingle_n, num_hashes)
    )

    # each side's bucket cap fused into its (band, key) aggregation (the
    # _bucket_pairs layout, two-sided): the bucket-list join replaces the
    # raw band-row join, so the per-side cap needs no anti-join and the
    # banded rows shuffle once per side — the join of the two aggregated
    # tables reuses their groupBy partitioning
    def bucket_side(tbl: DataFrame, out_id: str) -> DataFrame:
        banded = _banded_table(tbl, id_col, out_id, bands, num_hashes)
        b = banded.groupBy("band", "key").agg(
            F.collect_list(out_id).alias(f"__{out_id}s")
        )
        if max_bucket_size is not None:
            b = b.filter(F.size(f"__{out_id}s") <= max_bucket_size)
        return b

    pairs = (
        bucket_side(new_tbl, "id_new")
        .join(bucket_side(ref_tbl, "id_ref"), on=["band", "key"])
        .select(F.explode("__id_news").alias("id_new"), "__id_refs")
        .select("id_new", F.explode("__id_refs").alias("id_ref"))
        .distinct()
    )
    return _jaccard_verified(
        pairs, new_tbl, ref_tbl, id_col, "id_new", "id_ref", threshold
    )


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    **kwargs,
) -> DataFrame:
    """NEW docs that survive near-dedup against the reference corpus:
    anti-join on the flagged id set from
    :func:`minhash_near_duplicates_against` (kwargs pass through)."""
    flagged = minhash_near_duplicates_against(
        df, reference, text_col, id_col, threshold=threshold, **kwargs
    ).select(F.col("id_new").alias(id_col)).distinct()
    return df.join(flagged, id_col, "left_anti")


def _check_pigeonhole(max_hamming: int, n_bands: int) -> None:
    """Reject a Hamming bound the banding cannot recall: two
    fingerprints within Hamming ``n_bands - 1`` MUST share at least one
    identical band chunk (pigeonhole); farther pairs collide only by
    luck, so ``max_hamming > n_bands - 1`` would silently miss pairs.
    Checked by every Hamming-verified LSH path before it builds a
    plan."""
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole recall bound "
            f"{n_bands - 1} (= {n_bands} bands - 1); use at least "
            f"{max_hamming + 1} bands or lower max_hamming"
        )


def _simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, fp): the 64-bit SimHash of each doc's tokens. Token hashes
    project through their own select first, then 64 bit-votes run over
    the stored array (the projection-boundary rule of
    ``_minhash_table``)."""
    return df.select(
        F.col(id_col), hashes.token_hashes(text_col).alias("__th")
    ).select(F.col(id_col), hashes.simhash64_from_hashes(F.col("__th")).alias("fp"))


def _simhash_banded(fp: DataFrame, id_col: str, bands: int) -> DataFrame:
    """(id, fp, band, key): one row per ``bands`` chunk of each 64-bit
    fingerprint — the banded frame ``_hamming_pairs`` self-joins, and
    the text sink's history side-table rows."""
    return fp.select(
        id_col, "fp", F.explode(hashes.simhash_bands(F.col("fp"), bands)).alias("b")
    ).select(id_col, "fp", F.col("b.band").alias("band"), F.col("b.key").alias("key"))


def _hamming_pairs(
    banded: DataFrame,
    id_col: str,
    ham_fn,
    max_hamming: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """(id_a, id_b, hamming ≤ ``max_hamming``) from a banded (id, fp,
    band, key) frame: ``_bucket_pairs`` over (id, fp) members, then the
    exact ``ham_fn(fp_a, fp_b)`` verify. Fingerprints ride the bucket
    members, so candidate pairs emerge with both fps attached — no
    rejoin; id first in the member struct keeps id_a < id_b structural.
    Within the pigeonhole bound the result is EXACTLY the brute-force
    pair set (modulo ``max_bucket_size`` capping)."""
    return (
        _bucket_pairs(banded, [id_col, "fp"], max_bucket_size)
        .select(
            F.col(f"__a.{id_col}").alias("id_a"),
            F.col(f"__b.{id_col}").alias("id_b"),
            F.col("__a.fp").alias("fp_a"),
            F.col("__b.fp").alias("fp_b"),
        )
        .distinct()
        .select("id_a", "id_b", ham_fn(F.col("fp_a"), F.col("fp_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dups: 64-bit fingerprint, band join, hamming verify.

    Recall guarantee is the pigeonhole bound: two fingerprints within
    hamming distance ``bands - 1`` MUST share at least one exact band
    chunk. ``max_hamming > bands - 1`` would silently miss pairs (they
    collide only by luck), so it is rejected here, before ``df`` is
    touched — pick bands ≥ max_hamming + 1 (64 must stay divisible by
    bands: 2/4/8/16/32).
    """
    _check_pigeonhole(max_hamming, bands)
    fp = _simhash_fingerprints(ensure_parallelism(df), text_col, id_col)
    return simhash_pairs_from_fingerprints(
        fp, id_col, max_hamming=max_hamming, bands=bands,
        max_bucket_size=max_bucket_size,
    )


def simhash_pairs_from_fingerprints(
    fp: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs from PRE-COMPUTED 64-bit fingerprints in column
    ``fp``: ``_simhash_banded`` → ``_hamming_pairs`` (band self-join →
    exact hamming verify) — the LSH core of
    :func:`simhash_near_duplicates`, exposed for callers that sketch
    outside this module (external fingerprint pipelines, the oracle-
    verified registry query). The streaming text sink runs the same two
    helpers, uncapped. Within the pigeonhole bound (``max_hamming ≤
    bands - 1``) the result is EXACTLY the hamming-≤-``max_hamming``
    pair set of the brute-force cross product (modulo
    ``max_bucket_size`` capping)."""
    _check_pigeonhole(max_hamming, bands)
    return _hamming_pairs(
        _simhash_banded(fp, id_col, bands), id_col, hashes.hamming64,
        max_hamming, max_bucket_size,
    )


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    bands: int = 8,
    bits_per_band: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-dups: *banded* random-hyperplane LSH, then exact
    cosine verify within buckets.

    Each band owns ``bits_per_band`` fixed pseudo-random hyperplanes; a
    pair is a candidate iff ALL sign bits of at least one band agree
    (OR-of-ANDs, exactly like MinHash banding). With p = 1 - θ/π the
    per-bit agreement probability, recall = 1 - (1 - p^r)^b: at cosine
    0.95 the default r=8, b=8 gives ≈0.99 recall (the single-bucket
    r=n_planes variant this replaces measured ≈0.43). Random pairs
    collide per band at ~2^-r, so candidate volume stays bounded.

    Deterministic planes derive from xxhash64 of (dimension, plane) — no
    RNG state to ship to executors.
    """
    from eel_spark.functions import vectors

    n_planes = bands * bits_per_band
    dim_idx = F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1)
    # pseudo-random plane component in [-1,1): hash(d, p) scaled
    def plane_component(p: int):
        # closure factory (1-ary lambda; 2-ary would receive the index)
        return lambda d: (
            F.xxhash64(d.cast("string"), F.lit(p)).cast("double") / F.lit(float(2**63))
        )

    def plane_dot(p: int):
        comps = F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            F.transform(dim_idx, plane_component(p)),
            lambda x, r: x * r,
        )
        return F.aggregate(comps, F.lit(0.0), lambda a, v: a + v)

    # sign bits projected ONCE through a select boundary (the minhash
    # projection-boundary lesson: inlining them into per-band keys would
    # re-evaluate every plane dot per band)
    bits = F.array(
        *[
            F.when(plane_dot(p) >= 0, F.lit(1)).otherwise(F.lit(0))
            for p in range(n_planes)
        ]
    )
    sig_tbl = ensure_parallelism(df).select(
        F.col(id_col), F.col(vec_col), bits.alias("__bits")
    )
    band_keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "",
                    *[
                        F.col("__bits")[i]
                        for i in range(b * bits_per_band, (b + 1) * bits_per_band)
                    ],
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    banded = sig_tbl.select(
        id_col, F.explode(band_keys).alias("b")
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    # _bucket_pairs fusion: one (band, key) aggregation replaces the cap
    # anti-join + band self-join (see its docstring)
    pairs = (
        _bucket_pairs(banded, [id_col], max_bucket_size)
        .select(F.col("__a").alias("id_a"), F.col("__b").alias("id_b"))
        .distinct()
    )
    # vectors rejoin only for the (bounded) candidate set
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b", vectors.cosine(F.col("v_a"), F.col("v_b")).alias("cos")
        )
        .filter(F.col("cos") >= threshold)
    )


def ngram_contamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    eval_id_col: str | None = None,
    n: int = 13,
    min_shared: int = 1,
) -> DataFrame:
    """Train/eval contamination check: which corpus docs share ≥
    ``min_shared`` word ``n``-grams with any eval doc (the standard
    n-gram decontamination pass run before training).

    Shape: both sides explode to (doc, xxhash64(shingle)) rows; the join
    is an equi-join on the 64-bit shingle hash with the EVAL side
    broadcast (eval sets are orders of magnitude smaller than a training
    corpus), so the corpus is touched in one pass with no corpus-side
    shuffle. Returns (corpus id, eval id, n_shared_ngrams), one row per
    contaminated pair.

    At 100 TB: work is O(corpus tokens) + broadcast of the eval shingle
    table; if the eval side ever outgrows broadcast, drop the hint and
    the same plan becomes a shuffle join on the hash — no code change.
    """
    eval_text_col = eval_text_col or text_col
    eval_id_col = eval_id_col or id_col

    def sh(df: DataFrame, t: str, i: str, out_id: str) -> DataFrame:
        return df.select(
            F.col(i).alias(out_id),
            F.explode(hashes.shingles(t, n)).alias("__sh"),
        ).select(out_id, F.xxhash64("__sh").alias("__h"))

    corpus_sh = sh(ensure_parallelism(corpus), text_col, id_col, "corpus_id")
    eval_sh = F.broadcast(
        sh(eval_df, eval_text_col, eval_id_col, "eval_id").distinct()
    )
    return (
        corpus_sh.join(eval_sh, "__h")
        .groupBy("corpus_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .filter(F.col("n_shared_ngrams") >= min_shared)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    checkpoint_interval: int = 5,
) -> DataFrame:
    """Near-dup pairs → duplicate GROUPS: assign every node the minimum
    id reachable through the pair graph (connected components by
    iterative min-label propagation).

    Each iteration is one join + one groupBy-min — fully distributed;
    labels converge in O(diameter) ≤ O(log n) iterations for the shallow
    star-shaped graphs near-dup pairs form. The driver loop only checks
    a one-row convergence count per iteration (no data on the driver).

    Lineage: per-round ``persist`` keeps COMPUTE shallow but does not
    truncate the plan — the driver-side plan grows every round and
    losing a cached partition in round R recomputes the chain back to
    the edges. Every ``checkpoint_interval`` rounds the label table is
    checkpointed to truncate lineage. When a checkpoint directory is
    configured (``sc.setCheckpointDir``) this is a RELIABLE
    ``checkpoint()`` — blocks live in the checkpoint dir, so executor
    loss recovers by re-reading them. Without one it falls back to
    ``localCheckpoint()``, which stores blocks only on executors:
    lineage is truncated, so losing an executor there makes the labels
    unrecoverable and fails the job (acceptable single-process/local;
    set a checkpoint dir on a real cluster). Checkpointed rounds are
    freed by GC of the checkpoint files / ContextCleaner, not by
    ``unpersist()`` (which is a no-op for checkpointed blocks).

    Returns (node id, component label = min id in the component). The
    final label table is left pinned (it fed the convergence probe);
    the pin is tracked for ``caching.release_pins()`` so registry
    queries free it on the next build.
    """
    from pyspark import StorageLevel

    from eel_spark.caching import track

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    converged = False
    for i in range(max_iterations):
        # candidate label per node: min over (own label, neighbors' labels)
        neighbor = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), "label")
        )
        new_labels = labels.union(neighbor).groupBy("node").agg(
            F.min("label").alias("label")
        )
        if checkpoint_interval > 0 and (i + 1) % checkpoint_interval == 0:
            # truncate lineage: the checkpointed blocks become the root.
            # Reliable checkpoint when a dir is configured (survives
            # executor loss); localCheckpoint otherwise (see docstring).
            sc = new_labels.sparkSession.sparkContext
            if sc.getCheckpointDir() is not None:
                new_labels = new_labels.checkpoint(eager=True)
            else:
                new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist(StorageLevel.MEMORY_AND_DISK)
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "node")
            .filter(F.col("label") != F.col("old"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        labels.unpersist()
        # an unconverged label table is WRONG (a component would surface
        # several survivors and near-dups leak through) — fail loudly.
        # Propagation needs O(diameter) rounds; a graph deeper than
        # max_iterations wants connected_components_star (O(log n)).
        raise ValueError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (pair-graph diameter exceeds it); raise "
            "max_iterations or use connected_components_star"
        )
    track(labels)
    return labels.select(F.col("node"), F.col("label").alias("component"))


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly-larger
    neighbors to the minimum of its neighborhood (including itself)."""
    nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn")).select(
        "u", F.least("mn", F.col("u")).alias("m")
    )
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient edges large→small, then connect each
    node's not-larger neighbors (and itself) to the minimum of them.
    Output edges are canonical (u > v), self-loop-free, distinct."""
    oriented = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    out = oriented.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    ).union(mins.select(F.col("u"), F.col("m").alias("v")))
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
    checkpoint_interval: int = 1,
) -> DataFrame:
    """Connected components by the alternating large-star / small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public algorithm, re-derived here on DataFrames).

    ``checkpoint_interval`` defaults to EVERY round here (vs 5 for
    propagation) because one star round references the edge set ~6
    times (two union fan-outs + a join per phase): the un-truncated
    LOGICAL plan grows ~6^rounds and the analyzer/plan-string cost
    explodes long before data does. Each round is already materialized
    by the convergence probe, so per-round truncation costs nothing
    extra.

    Contrast with :func:`connected_components` (min-label propagation):
    propagation moves the minimum id ONE hop per round, so a path-shaped
    component of diameter d costs d shuffle rounds — the driver barrier
    per round dominates long before data size does. The star alternation
    contracts the graph toward stars on both sides each round and
    converges in O(log n) rounds REGARDLESS of diameter; each round is
    the same distributed shape (groupBy-min + equi-join on the node
    key, map-side partial agg, no driver data). At 100 TB the round
    count IS the cost model — every round is a full shuffle barrier —
    so this is the default for unknown graph shapes (see
    ``survivors_from_pairs``).

    Convergence is detected by comparing consecutive canonical edge sets
    via (count, bit_xor(xxhash64(u, v))) — one 1-row aggregate per
    round, no exceptAll shuffle (xor is order-independent and cannot
    overflow under ANSI mode; the edge set is distinct, so no
    cancellation). A false-equal needs a colliding 64-bit hash
    XOR across the whole edge set — negligible, and bounded anyway by
    ``max_iterations``. Lineage is truncated every ``checkpoint_interval``
    rounds exactly like :func:`connected_components` (reliable
    ``checkpoint()`` when a checkpoint dir is set, else
    ``localCheckpoint()`` — same executor-loss tradeoff).

    Returns (node, component = min id in the component) for every node
    that appears in ``pairs``, identical to ``connected_components``.
    """
    from pyspark import StorageLevel

    from eel_spark.caching import track

    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # singletons (a = b pairs) still need a label row
    loops = (
        pairs.filter(F.col(id_a) == F.col(id_b))
        .select(F.col(id_a).alias("node"))
        .distinct()
    )
    prev_sig = None
    for i in range(max_iterations):
        new_edges = _small_star(_large_star(edges))
        if checkpoint_interval > 0 and (i + 1) % checkpoint_interval == 0:
            sc = new_edges.sparkSession.sparkContext
            if sc.getCheckpointDir() is not None:
                new_edges = new_edges.checkpoint(eager=True)
            else:
                new_edges = new_edges.localCheckpoint(eager=True)
        else:
            new_edges = new_edges.persist(StorageLevel.MEMORY_AND_DISK)
        sig = new_edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).first()
        edges.unpersist()
        edges = new_edges
        if prev_sig is not None and (sig["n"], sig["h"]) == prev_sig:
            break
        prev_sig = (sig["n"], sig["h"])
    # fixpoint: every edge is (node, component-min); roots appear only as v.
    # Self-loop-only nodes get a singleton label — but a node can carry a
    # self-loop AND sit in a real component, so anti-join loops against
    # the edge-labeled node set (one bounded join, after convergence).
    track(edges)  # persisted final round (no-op if it was checkpointed)
    edge_labels = edges.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    ).union(
        edges.select(F.col("v").alias("node"), F.col("v").alias("component"))
    )
    singleton = loops.join(
        edge_labels.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    labels = (
        edge_labels.union(singleton)
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    track(labels)
    return labels


def survivors_from_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str,
    id_a: str = "id_a", id_b: str = "id_b",
    algorithm: str = "star",
) -> DataFrame:
    """Keep one doc (min id) per near-dup component; docs in no pair
    survive untouched. The standard last step after LSH + verify.

    ``algorithm="star"`` (default) uses the O(log n)-round alternating
    algorithm — diameter-proof; ``"propagation"`` uses min-label
    propagation, which wins by a hair on already-star-shaped pair graphs
    (one phase per round instead of two) but degrades to O(diameter)
    rounds on chains. Measured at 8×sf0.1 in SURVEY §8."""
    if algorithm == "star":
        comp = connected_components_star(pairs, id_a, id_b)
    elif algorithm == "propagation":
        comp = connected_components(pairs, id_a, id_b)
    else:
        raise ValueError(
            f"unknown algorithm {algorithm!r}; pick 'star' or 'propagation'"
        )
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def _ws_trim(c):
    """Trim ALL leading/trailing whitespace (tabs, \\r) — ``F.trim``
    strips only spaces, which breaks line matching on \\r\\n corpora
    and tab-indented boilerplate."""
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def frequent_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_docs: int | None = None,
    min_doc_fraction: float | None = None,
    min_line_chars: int = 4,
) -> DataFrame:
    """Lines that repeat across many documents — navigation chrome,
    cookie banners, license headers, forum signatures. The standard
    boilerplate signal in web-corpus pipelines (public technique:
    CCNet / RefinedWeb-style line-frequency filtering).

    Returns (line, n_docs) for every normalized (trimmed) line of at
    least ``min_line_chars`` characters that appears in ≥ ``min_docs``
    distinct documents (or ``min_doc_fraction`` of the corpus — that
    variant costs one extra count() job to size the corpus).

    Scale shape: explode to (doc, line) — bounded by total text size —
    then ONE two-level aggregate: groupBy(line, doc) dedups per-doc
    repeats map-side, groupBy(line) counts docs. Grouping is on the
    line STRING itself (exact — no hash-collision false positives);
    the frequent set is tiny relative to the corpus, which is what the
    anti-join in :func:`remove_boilerplate_lines` relies on.
    """
    if (min_docs is None) == (min_doc_fraction is None):
        raise ValueError("pass exactly one of min_docs / min_doc_fraction")
    if min_doc_fraction is not None:
        min_docs = max(2, int(min_doc_fraction * df.count()))
    lines = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(F.split(F.col(text_col), "\r?\n")).alias("__raw"),
    ).select("__doc", _ws_trim(F.col("__raw")).alias("line"))
    return (
        lines.filter(F.length("line") >= min_line_chars)
        .distinct()  # per-doc repeats collapse map-side (partial agg)
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= F.lit(int(min_docs)))
    )


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_docs: int | None = None,
    min_doc_fraction: float | None = None,
    min_line_chars: int = 4,
) -> DataFrame:
    """Strip cross-document boilerplate lines from every document,
    preserving the order (and the untouched lines) of the rest.

    Pipeline: :func:`frequent_lines` builds the (small) frequent-line
    set; every document's lines are exploded with their position,
    anti-joined against that set (AQE broadcasts it — the corpus-sized
    side is never shuffled), and reassembled by a per-document
    ``collect_list(struct(pos, line)) → array_sort → array_join`` —
    group size is bounded by a single document's line count, so the
    rebuild is one shuffle on ``id_col`` with no skew beyond the
    longest document.

    Comparison is on the whitespace-TRIMMED line (a banner indented
    differently — spaces, tabs — still matches) but surviving lines
    keep their original bytes. Input ``\\r\\n`` newlines match their
    ``\\n`` twins; rebuilt documents are joined with ``\\n`` (newline
    style is normalized, the one byte-level change). Documents whose
    every line is boilerplate come back as empty strings — filter on
    length afterwards if they should drop.
    """
    freq = frequent_lines(
        df, text_col, id_col,
        min_docs=min_docs, min_doc_fraction=min_doc_fraction,
        min_line_chars=min_line_chars,
    ).select("line")
    pos_lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\r?\n")).alias("__pos", "__raw"),
    ).withColumn("line", _ws_trim(F.col("__raw")))
    kept = pos_lines.join(freq, on="line", how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__raw"))),
                lambda s: s["__raw"],
            ),
            "\n",
        ).alias(text_col)
    )
    return df.drop(text_col).join(rebuilt, on=id_col, how="left").na.fill(
        {text_col: ""}
    )


def _token_windows(df: DataFrame, text_col: str, id_col: str, min_tokens: int, stride: int) -> DataFrame:
    """(doc, pos, h): xxhash64 of every ``min_tokens``-token window at
    stride ``stride``. Window hashing is slice+concat_ws+xxhash64 — all
    codegen expressions; compute is O(tokens × min_tokens) chars per doc
    (the public suffix-array approach is single-machine; windowed
    hashing is the distributable equivalent, exact at stride=1)."""
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__t"),
    )
    n = F.size("__t")
    # guard short docs explicitly: sequence(0, -1) yields a DESCENDING
    # [0, -1], not an empty list
    starts = F.when(n >= min_tokens, F.filter(
        F.sequence(F.lit(0), n - min_tokens),
        lambda i: i % stride == 0,
    )).otherwise(F.array().cast("array<int>"))
    return toks.select(
        "__doc",
        F.explode(starts).alias("pos"),
        F.col("__t"),
    ).select(
        "__doc",
        "pos",
        F.xxhash64(
            F.concat_ws(" ", F.slice("__t", F.col("pos") + 1, min_tokens))
        ).alias("h"),
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 50,
    stride: int = 1,
) -> DataFrame:
    """Merged (doc, start_token, end_token) spans covered by token
    windows that occur more than once ANYWHERE in the corpus — the
    substring-level duplication signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — public paper; their
    single-machine suffix array becomes a distributed window-hash
    groupBy here).

    end_token is exclusive. Spans from overlapping windows are merged
    via the islands trick (token-index minus per-doc rank), one bounded
    per-doc window sort — never a global one.
    """
    from pyspark.sql import Window

    from eel_spark.caching import pin

    # the window-hash table feeds two plan branches (dup-hash election +
    # the rejoin); it is also the dominant O(tokens × min_tokens) cost —
    # pin it like the minhash shingle/sig tables (released by
    # caching.release_pins())
    wins = pin(_token_windows(df, text_col, id_col, min_tokens, stride))
    dup_h = wins.groupBy("h").agg(F.count(F.lit(1)).alias("__n")).filter(
        F.col("__n") > 1
    ).select("h")
    flagged = wins.join(dup_h, "h").select("__doc", "pos")
    covered = flagged.select(
        "__doc",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + min_tokens - 1)).alias("idx"),
    ).distinct()
    w = Window.partitionBy("__doc").orderBy("idx")
    return (
        covered.withColumn("__grp", F.col("idx") - F.row_number().over(w))
        .groupBy("__doc", "__grp")
        .agg(
            F.min("idx").alias("start_token"),
            (F.max("idx") + 1).alias("end_token"),
        )
        .select(F.col("__doc").alias(id_col), "start_token", "end_token")
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 50,
    stride: int = 1,
) -> DataFrame:
    """Cut duplicated substrings (≥ ``min_tokens`` tokens, corpus-wide)
    out of every document, KEEPING the first occurrence — first by
    (doc id, position) — so the corpus still contains each passage once
    (the Lee et al. ExactSubstr policy).

    Mechanics: every duplicated window hash elects one survivor
    occurrence (``min_by`` over (doc, pos) — map-side aggregate, no
    window); all other occurrences mark their ``min_tokens`` token
    positions covered; covered tokens are dropped and the text rebuilt
    in token order. Tokens ELECTED AS KEEPERS ARE PROTECTED: coverage
    from a different duplicated passage's loser region never cuts into
    a kept occurrence (otherwise two overlapping duplicated passages
    could each keep an occurrence the other one cut, and a passage
    would survive nowhere). The flip side: loser regions overlapping a
    keeper are preserved at that overlap, so a bounded fragment of a
    removed occurrence can remain. Tokens are whitespace-split and
    rejoined with single spaces — whitespace inside rebuilt docs is
    normalized (the one byte-level change, same contract as
    remove_boilerplate_lines).

    Scale shape: windows explode to ~tokens×(1/stride) narrow rows; the
    dup-hash set and survivor election are one groupBy each; coverage
    marking explodes only flagged windows (bounded by duplication
    volume); the rebuild shuffles once on ``id_col`` with per-doc
    bounded groups.
    """
    from eel_spark.caching import pin

    wins = pin(_token_windows(df, text_col, id_col, min_tokens, stride))
    agg = wins.groupBy("h").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(F.struct("__doc", "pos")).alias("__keep"),
    ).filter(F.col("__n") > 1)

    def coverage(occ: DataFrame) -> DataFrame:
        return occ.select(
            "__doc",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + min_tokens - 1)
            ).alias("idx"),
        ).distinct()

    losers = (
        wins.join(agg, "h")
        .filter(
            (F.col("__doc") != F.col("__keep.__doc"))
            | (F.col("pos") != F.col("__keep.pos"))
        )
        .select("__doc", "pos")
    )
    keepers = agg.select(
        F.col("__keep.__doc").alias("__doc"), F.col("__keep.pos").alias("pos")
    )
    # protect kept occurrences from other passages' loser coverage
    covered = coverage(losers).join(
        coverage(keepers), on=["__doc", "idx"], how="left_anti"
    )
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("idx", "tok"),
    )
    kept = toks.join(covered, on=["__doc", "idx"], how="left_anti")
    rebuilt = kept.groupBy("__doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias(text_col)
    ).select(F.col("__doc").alias(id_col), text_col)
    return df.drop(text_col).join(rebuilt, on=id_col, how="left").na.fill(
        {text_col: ""}
    )


def dedup_by_url(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """Survivor set keyed by CANONICAL URL — the first dedup stage of a
    crawl pipeline (cheaper than any content hash: runs before content
    is even compared, and catches the recrawl/tracking-decoration dups
    that dominate web corpora).

    Same shape as :func:`dedup_exact`: one shuffle on the canonical-URL
    key, min-``id_col`` survivor election (map-side combinable), LEFT
    SEMI back to the full rows — text never shuffles. Rows whose URL
    does not canonicalize (NULL/garbage) are ALL kept: an unparseable
    URL is no evidence two documents are the same page.
    """
    from eel_spark.functions.text import canonical_url

    keyed = df.select(
        F.col(id_col), canonical_url(F.col(url_col)).alias("__curl")
    )
    survivors = (
        keyed.filter(F.col("__curl").isNotNull())
        .groupBy("__curl")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    unparseable = keyed.filter(F.col("__curl").isNull()).select(id_col)
    return df.join(survivors.union(unparseable), on=id_col, how="left_semi")


def _paragraphs(text_col: str) -> Column:
    """Blank-line-separated paragraphs (rebuilds join with a normalized
    single blank line)."""
    return F.split(F.col(text_col), r"\n\s*\n")


def _paragraph_keys(
    df: DataFrame, text_col: str, id_col: str, min_chars: int
) -> DataFrame:
    """(id, pos, h) for every substantial paragraph occurrence — the
    SLIM table paragraph dedup shuffles; paragraph text never leaves
    the originating task."""
    exploded = df.select(
        F.col(id_col), F.posexplode(_paragraphs(text_col)).alias("pos", "__p")
    )
    if min_chars > 0:
        exploded = exploded.filter(F.length(F.trim("__p")) >= min_chars)
    return exploded.select(
        id_col,
        "pos",
        F.md5(normalized_text("__p").cast("binary")).alias("h"),
    )


def duplicate_paragraphs(
    df: DataFrame, text_col: str, id_col: str, min_chars: int = 50
) -> DataFrame:
    """Report: (paragraph hash, n occurrences, occurrences sorted) for
    paragraphs appearing more than once across the corpus."""
    keyed = _paragraph_keys(df, text_col, id_col, min_chars)
    return (
        keyed.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.sort_array(
                F.collect_list(F.struct(id_col, "pos"))
            ).alias("occurrences"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


def dedup_paragraphs(
    df: DataFrame, text_col: str, id_col: str, min_chars: int = 50
) -> DataFrame:
    """Remove every paragraph occurrence that duplicates an EARLIER one
    (global first occurrence by (id, pos) survives) — RefinedWeb-style
    exact paragraph dedup, the granularity between whole-document
    hashing and span removal. Paragraphs shorter than ``min_chars``
    are never touched (headers and one-liners legitimately repeat).

    Scale shape: the only corpus-wide shuffle carries (hash, id, pos)
    triples — paragraph TEXT never shuffles. Winners are elected with
    one min-struct aggregate (map-side combinable); only the REMOVED
    occurrences (usually a tiny fraction) aggregate into per-doc
    position lists, which join back to the corpus by id (AQE broadcasts
    the removal list when small) and the text is rebuilt in place with
    array ops. Documents losing every paragraph come back with empty
    text (callers filter); paragraph separators normalize to one blank
    line in rebuilt documents — untouched documents pass through
    byte-identical.
    """
    keyed = _paragraph_keys(df, text_col, id_col, min_chars)
    winners = keyed.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__w"),
        F.count(F.lit(1)).alias("__n"),
    )
    removed = (
        keyed.join(winners.filter(F.col("__n") > 1), on="h")
        .filter(
            ~(
                (F.col(id_col) == F.col(f"__w.{id_col}"))
                & (F.col("pos") == F.col("__w.pos"))
            )
        )
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__rm"))
    )
    out = df.join(removed, on=id_col, how="left")
    paras = _paragraphs(text_col)
    indexed = F.zip_with(
        paras,
        F.sequence(F.lit(0), F.size(paras) - 1),
        lambda p, i: F.struct(p.alias("p"), i.alias("i")),
    )
    rebuilt = F.array_join(
        F.transform(
            F.filter(indexed, lambda e: ~F.array_contains("__rm", e["i"])),
            lambda e: e["p"],
        ),
        "\n\n",
    )
    return out.withColumn(
        text_col,
        F.when(F.col("__rm").isNull(), F.col(text_col)).otherwise(rebuilt),
    ).drop("__rm")


def split_contamination_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    split_col: str = "split",
    eval_splits: Sequence[str] | None = None,
    n: int = 13,
    min_shared: int = 1,
) -> DataFrame:
    """Cross-split contamination detail: every (corpus doc, eval doc)
    pair in DIFFERENT splits sharing ≥ ``min_shared`` word ``n``-grams —
    the post-split audit that :func:`ngram_contamination` is pre-split.
    A non-empty result means eval scores are inflated: near-copies of
    eval material sit in train (fix the split with
    ``sampling.leakage_safe_split`` over these pairs, or drop the
    contaminated train docs).

    ``eval_splits`` names the held-out splits (e.g. ``["val","test"]``)
    — they are the BROADCAST side, small by construction (that is what
    makes this one corpus pass with no corpus-side shuffle, exactly the
    ngram_contamination shape). Same-split shared n-grams are benign
    and excluded. Returns (corpus id, corpus split, eval id, eval
    split, n_shared_ngrams).
    """
    if not eval_splits:
        raise ValueError("eval_splits must name at least one held-out split")
    ev = list(dict.fromkeys(eval_splits))

    def sh(d: DataFrame, id_out: str, split_out: str) -> DataFrame:
        return d.select(
            F.col(id_col).alias(id_out),
            F.col(split_col).alias(split_out),
            F.explode(hashes.shingles(text_col, n)).alias("__sh"),
        ).select(id_out, split_out, F.xxhash64("__sh").alias("__h"))

    corpus_sh = sh(ensure_parallelism(df), "corpus_id", "corpus_split")
    eval_sh = F.broadcast(
        sh(df.where(F.col(split_col).isin(ev)), "eval_id", "eval_split")
        .distinct()
    )
    return (
        corpus_sh.join(eval_sh, "__h")
        .filter(F.col("corpus_split") != F.col("eval_split"))
        .groupBy("corpus_id", "corpus_split", "eval_id", "eval_split")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .filter(F.col("n_shared_ngrams") >= min_shared)
    )


def split_contamination_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    split_col: str = "split",
    eval_splits: Sequence[str] | None = None,
    n: int = 13,
    min_shared: int = 1,
) -> DataFrame:
    """Aggregate of :func:`split_contamination_pairs` per split pair:
    (corpus_split, eval_split, n_pairs, n_corpus_docs, n_eval_docs).
    At most |splits|² rows — the dashboard number; an empty report is
    the green light."""
    return (
        split_contamination_pairs(
            df, text_col, id_col, split_col, eval_splits, n, min_shared
        )
        .groupBy("corpus_split", "eval_split")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("corpus_id").alias("n_corpus_docs"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )
