"""Text retrieval scoring — Okapi BM25 over a document corpus.

A training-data pipeline uses relevance scoring for query-anchored
quality filtering (keep documents relevant to a topic mix), retrieval-
eval set construction, and search-corpus dedup triage. The reference
has no retrieval operator (its text handling stops at schema-typed
rows); this is a Spark-first addition in the same family as the
quality-scoring kernels in ``functions/text.py``.

Robertson & Walker's BM25 (public; the TREC formulation):

    score(d, q) = Σ_{t ∈ q}  idf(t) · tf(t,d)·(k1+1) /
                              (tf(t,d) + k1·(1 − b + b·dl(d)/avgdl))
    idf(t) = ln( (N − df(t) + 0.5) / (df(t) + 0.5) + 1 )

Scale shape: the corpus is scanned ONCE; each document's token array is
intersected with the (tiny, broadcast-literal) query-term set BEFORE the
explode, so the exploded relation holds only matching (doc, term) rows —
never the full token stream. Document length comes from the same
projection; ``avgdl``/``N`` are one 1-row aggregate; ``df`` aggregates
over the slim matched rows. Everything is map-side-combinable groupBys
over narrow rows — no UDFs, no window over the corpus.

Determinism note (SURVEY §6): per-term score components involve ``ln``,
whose last ulp differs across libm implementations, so cross-engine
comparisons gate on the INTEGER sufficient statistics (tf, dl, df, N)
— from which any engine recomputes scores — while the float formula
itself is verified in pytest against an independent Python reference.
The per-document sum folds components in SORTED order
(``array_sort`` + ``aggregate``) so the score is deterministic across
partitionings and retries — float addition is not associative, and an
unordered SUM over a shuffled relation is not reproducible.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eel_spark.functions.text import normalized_text, tokens
from eel_spark.operators.maintenance import (
    _compact_to_sentinel,
    commit_batch,
    locked_store_write,
)


def _tokens_col(text_col: str):
    """Normalized token array; NULL text coalesces to an empty array so
    NULL-text documents count as dl=0 (same as empty strings)."""
    return F.coalesce(
        tokens(normalized_text(text_col)), F.array().cast("array<string>")
    )


def _matched_base(
    df: DataFrame, text_col: str, id_col: str, terms: Sequence[str]
) -> DataFrame:
    """(id, dl, matched-token array) — tokens intersect the broadcast-
    literal term set BEFORE any explode, so downstream relations are
    bounded by matches, never corpus token volume."""
    qarr = F.array(*[F.lit(t) for t in terms])
    return df.select(
        F.col(id_col),
        _tokens_col(text_col).alias("__toks"),
    ).select(
        id_col,
        F.size("__toks").alias("dl"),
        F.filter("__toks", lambda t: F.array_contains(qarr, t)).alias("__m"),
    )


def _matched_tf(
    df: DataFrame, text_col: str, id_col: str, terms: Sequence[str]
) -> DataFrame:
    """(id, dl, term, tf) for the query terms present in each document —
    the exploded, match-bounded term-frequency relation every scoring
    path shares."""
    return (
        _matched_base(df, text_col, id_col, terms)
        .where(F.size("__m") > 0)
        .select(id_col, "dl", F.explode("__m").alias("term"))
        .groupBy(id_col, "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _fold_scores(comp: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Per-group score = sorted-order fold of the ``__c`` components —
    the ONE definition of the deterministic sum (float addition is not
    associative; an unordered SUM is not reproducible across
    partitionings)."""
    return comp.groupBy(*group_cols).agg(
        F.aggregate(
            F.array_sort(F.collect_list("__c")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    )


def bm25_term_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: Sequence[str],
) -> DataFrame:
    """Integer sufficient statistics of BM25 for ``query_terms``:
    one row per (document, matched query term) with ``tf`` (term
    frequency in the doc), ``dl`` (doc token length), ``df`` (number of
    corpus docs containing the term), and ``n_docs`` (corpus size).
    Exact integers — the cross-engine-comparable form from which any
    engine recomputes scores bit-for-bit up to its own libm.

    Terms are matched on the same normalization the quality kernels use
    (lowercase, whitespace-collapsed); duplicate query terms collapse.
    NULL-text documents count toward ``n_docs`` with ``dl = 0`` — the
    same treatment as empty strings (tokens coalesce to an empty array),
    so ``avgdl`` is never silently deflated by NULL rows.
    """
    terms = sorted({t.strip().lower() for t in query_terms if t and t.strip()})
    if not terms:
        raise ValueError("query_terms must contain at least one term")
    from eel_spark.caching import pin

    base = pin(_matched_base(df, text_col, id_col, terms))
    # base is read by THREE branches (totals, tf rows, df counts);
    # pinning it scans + tokenizes the corpus text ONCE and leaves the
    # branches reading the slim (id, dl, matched-terms) cache — without
    # the pin each branch re-runs the regex tokenize over the full text
    totals = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    matched = pin(
        base.where(F.size("__m") > 0)
        .select(id_col, "dl", F.explode("__m").alias("term"))
        .groupBy(id_col, "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = matched.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    return (
        matched.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .select(id_col, "term", "tf", "dl", "df", "n_docs", "sum_dl")
    )


def _bm25_component(k1: float, b: float) -> Column:
    """Per-(doc, term) BM25 contribution from the stat columns."""
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    # try_divide: n_docs = 0 only on the degenerate empty-store path,
    # where callers coalesce the NULL component to 0.0 (ANSI mode would
    # otherwise throw on the 0/0)
    avgdl = F.try_divide(F.col("sum_dl").cast("double"), F.col("n_docs"))
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl
    )
    return idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 score per document matching ≥1 query term: (id, score,
    n_terms) — :func:`bm25_scores_multi` with one query."""
    return bm25_scores_multi(
        df, text_col, id_col, {"q": query_terms}, k1, b
    ).drop("query_id")


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25: (id, score, rank) —
    :func:`bm25_topk_multi` with one query."""
    return bm25_topk_multi(
        df, text_col, id_col, {"q": query_terms}, k, k1, b
    ).drop("query_id")


def _normalize_queries(queries: dict) -> dict:
    qmap = {}
    for qid, terms in queries.items():
        tset = sorted({t.strip().lower() for t in terms if t and t.strip()})
        if not tset:
            raise ValueError(f"query {qid!r} has no usable terms")
        qmap[str(qid)] = tset
    if not qmap:
        raise ValueError("queries must contain at least one entry")
    return qmap


def bm25_term_stats_multi(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: dict,
) -> DataFrame:
    """Multi-query BM25 sufficient statistics: ``queries`` maps
    query_id → term sequence; output is one row per (query_id, document,
    matched term) with the same exact integers as ``bm25_term_stats``.

    ONE corpus scan for ALL queries: the corpus's token arrays are
    intersected with the UNION of every query's terms before the
    explode, and the per-term corpus statistics (tf, df) — which do not
    depend on which query asked — are computed once, then fanned out to
    query grain by a broadcast join against the tiny (query_id, term)
    table. The retrieval-eval construction shape: scoring q queries
    costs one corpus pass + a |matches|×|queries-per-term| slim join,
    not q corpus passes."""
    qmap = _normalize_queries(queries)
    union_terms = sorted({t for ts in qmap.values() for t in ts})
    stats = bm25_term_stats(df, text_col, id_col, union_terms)
    pairs = [(qid, t) for qid, ts in sorted(qmap.items()) for t in ts]
    qdf = df.sparkSession.createDataFrame(pairs, "query_id string, term string")
    return stats.join(F.broadcast(qdf), "term").select(
        "query_id", id_col, "term", "tf", "dl", "df", "n_docs", "sum_dl"
    )


def bm25_scores_multi(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: dict,
    k1: float = 1.2,
    b: float = 0.75,
    stats: DataFrame | None = None,
) -> DataFrame:
    """BM25 score per (query_id, document) for every document matching
    ≥1 of that query's terms — same sorted-fold determinism as
    ``bm25_scores``, so a (query_id, doc) score here is bit-identical to
    the single-query score (identical component multiset). Pass a
    precomputed ``bm25_term_stats_multi`` result as ``stats`` to score
    off an audit trail you already materialized — a fresh call builds a
    NEW lineage whose pins can't be shared with the old one, so reusing
    the DataFrame is what actually avoids a second corpus scan."""
    if stats is None:
        stats = bm25_term_stats_multi(df, text_col, id_col, queries)
    comp = stats.select(
        "query_id", id_col, _bm25_component(k1, b).alias("__c")
    )
    return _fold_scores(comp, ["query_id", id_col])


def bm25_topk_multi(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: dict,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents per query by BM25 over one corpus scan:
    (query_id, id, score, rank), deterministic (score DESC, id ASC)
    tie-break, ranked by the shared two-phase salted top-k
    (``similarity._topk_per_query_multi``): phase 1 partitions by
    (query_id, salt), so per-query ranking never single-reduces the
    corpus. ``stats`` as in :func:`bm25_scores_multi`."""
    from eel_spark.operators.similarity import _topk_per_query

    scored = bm25_scores_multi(df, text_col, id_col, queries, k1, b,
                               stats=stats)
    return _topk_per_query(scored, "query_id", id_col, k, value_col="score")


# -- incrementally maintained corpus statistics (r10) -------------------------
#
# A streaming corpus can't rescan history to recompute df/N/avgdl for
# every new wave, so the BM25 sufficient statistics are an incremental
# store (operators/maintenance.py owns its commit and compaction). What
# is particular to this family: each batch's increment is its
# FULL-VOCABULARY per-term document frequencies plus one totals row,
# and the fold is SUMs — df and the totals are associative, so
# fold(waves) ≡ whole-corpus recompute (equivalence-tested). Per batch
# the shuffle is (term, count) pairs after an array_distinct —
# vocabulary-bounded, map-side combinable.


def bm25_batch_stats(df: DataFrame, text_col: str) -> DataFrame:
    """One batch's stats increment: per distinct term a (term, df) row
    (df = batch docs containing the term — array_distinct before the
    explode, so a doc counts once however often the term repeats), plus
    ONE totals row (term NULL) carrying n_docs and sum_dl."""
    from eel_spark.caching import pin

    # per_term and totals both read base: pin it so the batch text is
    # scanned + regex-tokenized once (the module convention; callers in
    # bounded scopes bracket with pins_mark/release_pins_since)
    base = pin(
        df.select(_tokens_col(text_col).alias("__toks")).select(
            F.size("__toks").alias("__dl"),
            F.array_distinct("__toks").alias("__d"),
        )
    )
    per_term = (
        base.select(F.explode("__d").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "term", "df",
            F.lit(None).cast("long").alias("n_docs"),
            F.lit(None).cast("long").alias("sum_dl"),
        )
    )
    totals = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("__dl"), F.lit(0)).cast("long").alias("sum_dl"),
    ).select(
        F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("long").alias("df"),
        "n_docs", "sum_dl",
    )
    return per_term.unionByName(totals)


# term-hash sub-partitioning of the increment store (r11): each batch's
# per-term df rows split across _TERM_KP = crc32(term) % 16 partitions
# (totals rows get the dedicated -1), so a query's per-term read prunes
# to |query-term kp set| / 16 of every batch's files instead of folding
# each batch's full vocabulary — the same file-pruning discipline the
# dedup history's (band, kp) layout carries. crc32 because BOTH engines
# of the contract can compute it (Spark F.crc32 ≡ Python zlib.crc32,
# parity-tested), so the reader derives the kp set driver-side with no
# Spark job. 16 buckets: enough to prune ~94% of per-term files for a
# few-term query while keeping file counts per batch small.
_TERM_KP = 16


def _term_kp_col() -> Column:
    return (
        F.when(F.col("term").isNull(), F.lit(-1))
        .otherwise(
            F.pmod(F.crc32(F.col("term").cast("binary")), F.lit(_TERM_KP))
        )
        .cast("int")
    )


def _term_kps(terms) -> list[int]:
    import zlib

    return sorted({zlib.crc32(t.encode("utf-8")) % _TERM_KP for t in terms})


@locked_store_write("path", "batch_df", token_arg="src_batch")
def append_bm25_stats_batch(
    path: str,
    batch_df: DataFrame,
    text_col: str,
    src_batch: int = 0,
) -> None:
    """Fold one batch's increment into the store, idempotently, through
    ``maintenance.commit_batch`` (dynamic overwrite of the batch's
    ``__src_batch`` partition, then a reap of the ``__term_kp`` dirs it
    no longer touches). The term-hash sub-partitioning lets per-term
    reads prune files (see ``_TERM_KP``). Do not mix with a pre-r11
    store written without ``__term_kp`` (partition discovery rejects
    mixed depths) — run ``compact_bm25_stats`` once to migrate.
    Releases exactly the pins this batch added (foreachBatch runs on a
    stream-execution thread; the thread-local mark/release pair is the
    established sink pattern)."""
    from eel_spark.caching import pin, pins_mark, release_pins_since

    mark = pins_mark()
    try:
        inc = pin(
            bm25_batch_stats(batch_df, text_col)
            .withColumn("__src_batch", F.lit(int(src_batch)))
            .withColumn("__term_kp", _term_kp_col())
        )
        # the kp set this increment actually carries (≤ _TERM_KP + 1
        # values over the pinned slim rows — a cheap distinct)
        new_kps = {
            r["__term_kp"] for r in inc.select("__term_kp").distinct().collect()
        }
        commit_batch(
            # term-sorted files: parquet row-group min/max on `term`
            # prunes within each kp file too (an in-task sort of
            # batch-vocab-sized rows — no extra exchange)
            inc.sortWithinPartitions("__term_kp", "term"),
            path, src_batch, ("__src_batch", "__term_kp"), new_kps,
        )
    finally:
        release_pins_since(mark)


def read_bm25_stats(
    spark, path: str, terms: Sequence[str] | None = None
) -> DataFrame:
    """Current corpus statistics from the increment store: per-term
    ``df`` summed across batches, corpus ``n_docs``/``sum_dl`` from the
    totals rows, broadcast onto every term row — the exact column shape
    ``_bm25_component`` consumes. ``terms`` restricts the (vocabulary-
    sized) per-term read to a query's term set — the filter reaches the
    parquet scan — and GUARANTEES one row per requested term, with
    ``df = 0`` for terms the corpus has never seen, so scoring a wave
    that introduces a new term degrades to stale-df-0 idf instead of
    silently dropping the term.

    On the r11 ``__term_kp`` layout the per-term read also PRUNES
    partitions to the query terms' crc32 buckets (≤ |terms|/16 of each
    batch's per-term files; the kp set is derived driver-side via zlib,
    no Spark job) and the totals read prunes to the dedicated -1 bucket.
    Pre-r11 stores without the kp column still read (no pruning);
    ``compact_bm25_stats`` migrates them to the kp layout."""
    raw = spark.read.parquet(path)
    has_kp = "__term_kp" in raw.columns
    dfreq = raw.where(F.col("term").isNotNull())
    if terms is not None:
        tset = sorted({t.strip().lower() for t in terms if t and t.strip()})
        if not tset:
            raise ValueError("terms must contain at least one usable term")
        if has_kp:
            dfreq = dfreq.where(F.col("__term_kp").isin(_term_kps(tset)))
        tdf = spark.createDataFrame([(t,) for t in tset], "term string")
        dfreq = (
            tdf.join(
                dfreq.where(F.col("term").isin(tset))
                .groupBy("term")
                .agg(F.sum("df").alias("df")),
                "term",
                "left",
            )
            .select("term", F.coalesce("df", F.lit(0)).cast("long").alias("df"))
        )
    else:
        dfreq = dfreq.groupBy("term").agg(F.sum("df").alias("df"))
    totals = raw.where(F.col("__term_kp") == -1) if has_kp else raw
    totals = totals.where(F.col("term").isNull()).agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs"),
        F.coalesce(F.sum("sum_dl"), F.lit(0)).alias("sum_dl"),
    )
    return dfreq.crossJoin(F.broadcast(totals))


@locked_store_write("path", "spark")
def compact_bm25_stats(spark, path: str) -> None:
    """Collapse the per-batch increments into one ``__src_batch = -1``
    partition through ``maintenance._compact_to_sentinel`` (run it
    offline, past the streaming checkpoint's replay horizon). The
    compacted store always has the r11 ``__term_kp`` layout, so
    compaction also migrates a pre-r11 store."""
    raw = spark.read.parquet(path)
    dfreq = (
        raw.where(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .select(
            "term", "df",
            F.lit(None).cast("long").alias("n_docs"),
            F.lit(None).cast("long").alias("sum_dl"),
        )
    )
    totals = raw.where(F.col("term").isNull()).agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("sum_dl"), F.lit(0)).cast("long").alias("sum_dl"),
    ).select(
        F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("long").alias("df"),
        "n_docs", "sum_dl",
    )
    _compact_to_sentinel(
        path.rstrip("/"),
        dfreq.unionByName(totals),
        "__src_batch",
        ("__src_batch", "__term_kp"),
        lambda df: df.withColumn("__term_kp", _term_kp_col())
        .sortWithinPartitions("__term_kp", "term"),
    )


def _against_stats_components(
    matched: DataFrame, stats: DataFrame, terms: Sequence[str],
    k1: float, b: float,
) -> DataFrame:
    """Join matched (id, dl, term, tf) rows to maintained stats and emit
    per-(row, term) components: LEFT join on term with df coalesced to 0
    (a store-unseen term keeps its match), totals carried as a separate
    1-row broadcast so they survive term misses.

    Defensive about the ``stats`` shape (it has the same column names as
    ``bm25_term_stats`` output, which is (doc, term) grain): the per-term
    projection collapses to ONE row per term via MAX(df) — on the
    canonical ``read_bm25_stats`` shape that is the identity, and a
    mistakenly-passed doc-grain frame no longer fans out the left join
    and silently inflates scores (doc-grain df is constant per term, so
    MAX recovers it). Totals likewise aggregate to exactly one row with
    NULL→0 coalescing, so an EMPTY stats frame (empty-vocabulary store
    read with ``terms=None``) degrades every match to df=0 / N=0 instead
    of dropping rows through an empty crossJoin — the documented
    'degrades, never disappears rows' contract. With N=0 the avgdl
    normalization is undefined (0/0 → NULL), so the component coalesces
    to 0.0: every match survives with a zero score rather than a NULL
    that would poison the fold."""
    dfreq = (
        stats.select("term", "df")
        .where(F.col("term").isin(list(terms)))
        .groupBy("term")
        .agg(F.max("df").alias("df"))
    )
    totals = stats.agg(
        F.coalesce(F.max("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.max("sum_dl"), F.lit(0)).cast("long").alias("sum_dl"),
    )
    return (
        matched.join(F.broadcast(dfreq), "term", "left")
        .withColumn("df", F.coalesce("df", F.lit(0)))
        .crossJoin(F.broadcast(totals))
        .withColumn("__c", F.coalesce(_bm25_component(k1, b), F.lit(0.0)))
    )


def bm25_score_against_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    stats: DataFrame,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score documents against MAINTAINED corpus statistics: tf and dl
    come from the scored rows, df/n_docs/sum_dl from ``stats``
    (``read_bm25_stats``) — so a new wave is scored without rescanning
    corpus history. The store reflects the corpus as of its last folded
    batch: a wave scored BEFORE being appended uses slightly stale
    idf/avgdl (the standard incremental-index trade-off — append first
    when the wave should count itself); a term the store has never seen
    scores with ``df = 0`` (well-defined idf) instead of silently
    dropping the match — the per-term join is a LEFT join with the
    totals carried separately, so even a ``stats`` loaded with the wrong
    term set degrades, never disappears rows. Same match-bounded
    projection and sorted-order component fold as ``bm25_scores``:
    identical integer inputs produce bit-identical scores
    (equivalence-tested against the one-shot path)."""
    terms = sorted({t.strip().lower() for t in query_terms if t and t.strip()})
    if not terms:
        raise ValueError("query_terms must contain at least one term")
    comp = _against_stats_components(
        _matched_tf(df, text_col, id_col, terms), stats, terms, k1, b
    ).select(id_col, "__c")
    return _fold_scores(comp, [id_col])


def bm25_topk_multi_against_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    stats: DataFrame,
    queries: dict,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-query top-k over MAINTAINED corpus statistics — the
    streaming-corpus twin of ``bm25_topk_multi``: tf/dl come from the
    scored wave, df/N/Σdl from ``read_bm25_stats`` (load it with the
    UNION of all query terms), so a query batch ranks a new wave with
    one wave scan and zero history rescans. Same (query_id, salt)
    two-phase rank; scores are bit-identical to the one-shot multi path
    when the store covers the same corpus (equivalence-tested), and a
    store-unseen term degrades to ``df = 0`` instead of dropping the
    match (see ``bm25_score_against_stats``)."""
    from eel_spark.operators.similarity import _topk_per_query

    qmap = _normalize_queries(queries)
    union_terms = sorted({t for ts in qmap.values() for t in ts})
    pairs = [(qid, t) for qid, ts in sorted(qmap.items()) for t in ts]
    qdf = df.sparkSession.createDataFrame(pairs, "query_id string, term string")
    comp = (
        _against_stats_components(
            _matched_tf(df, text_col, id_col, union_terms), stats,
            union_terms, k1, b,
        )
        .join(F.broadcast(qdf), "term")
        .select("query_id", id_col, "__c")
    )
    scored = _fold_scores(comp, ["query_id", id_col])
    return _topk_per_query(scored, "query_id", id_col, k, value_col="score")


# -- hybrid retrieval + evaluation (r10) --------------------------------------


def reciprocal_rank_fusion(
    rankings: Sequence[DataFrame],
    id_col: str,
    query_col: str = "query_id",
    k: int = 10,
    k_rrf: int = 60,
    weights: Sequence[float] | None = None,
) -> DataFrame:
    """Fuse per-query rankings (e.g. BM25 lexical top-k + ANN embedding
    top-k) by Reciprocal Rank Fusion — Cormack/Clarke/Buettcher's
    rank-only combiner (public):

        rrf(q, d) = Σ_systems  w_s / (k_rrf + rank_s(q, d))

    Rank-only fusion needs no score calibration between systems, which
    is why it is the standard hybrid-retrieval baseline. Each input is a (query_col, id_col, rank) table (the shape
    ``bm25_topk_multi`` / ``_topk_per_query`` emit); a document absent
    from a system's list contributes nothing for it. The tables are
    tagged and unioned, and one (query, doc) groupBy turns them into the
    wide one-rank-column-per-system table :func:`rrf_from_ranks` fuses —
    the one RRF implementation. A malformed input with duplicate
    (query, doc) rows inside one system counts once, at its best
    (smallest) rank: the groupBy keeps the MIN rank per system."""
    if not rankings:
        raise ValueError("rankings must contain at least one table")
    tagged = None
    for i, r in enumerate(rankings):
        part = r.select(query_col, id_col, F.lit(i).alias("__sys"), "rank")
        tagged = part if tagged is None else tagged.unionByName(part)
    rank_cols = [f"__rank_{i}" for i in range(len(rankings))]
    ranked = tagged.groupBy(query_col, id_col).agg(
        *[
            F.min(F.when(F.col("__sys") == i, F.col("rank"))).alias(rc)
            for i, rc in enumerate(rank_cols)
        ]
    )
    return rrf_from_ranks(
        ranked, rank_cols, id_col, query_col, k, k_rrf, weights
    )


def rrf_from_ranks(
    ranked: DataFrame,
    rank_cols: Sequence[str],
    id_col: str,
    query_col: str = "query_id",
    k: int = 10,
    k_rrf: int = 60,
    weights: Sequence[float] | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (see :func:`reciprocal_rank_fusion` for
    the formula) over a wide ranking table: one row per (query, doc)
    with a nullable rank column per system (the shape
    ``similarity._topk_per_query_multi`` emits; null ⇒ the doc is not in
    that system's top-k). Output (query_col, id_col, score, rank).

    Per row the non-null contributions w_s/(k_rrf + rank_s) are sorted
    ascending and folded from 0.0 — a deterministic sum, independent of
    partitioning (float addition is not associative). The fused score
    is a projection, so it needs no shuffle; only the final shared
    salted top-k (``similarity._topk_per_query``) ranks it."""
    if not rank_cols:
        raise ValueError("rank_cols must name at least one ranking")
    ws = list(weights) if weights is not None else [1.0] * len(rank_cols)
    if len(ws) != len(rank_cols):
        raise ValueError(f"{len(rank_cols)} rankings but {len(ws)} weights")
    bad = [w for w in ws if not (float(w) > 0.0)]
    if bad:
        raise ValueError(
            f"RRF weights must be positive (got {bad}): a zero weight "
            "silently erases a system and a negative one inverts it"
        )
    from eel_spark.operators.similarity import _topk_per_query

    comps = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.lit(float(w))
                    / (F.lit(float(k_rrf)) + F.col(rc).cast("double"))
                    for w, rc in zip(ws, rank_cols)
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    fused = ranked.select(
        query_col,
        id_col,
        F.aggregate(comps, F.lit(0.0), lambda acc, x: acc + x).alias("score"),
    )
    return _topk_per_query(fused, query_col, id_col, k, value_col="score")


def retrieval_metrics(
    ranked: DataFrame,
    qrels: DataFrame,
    id_col: str,
    query_col: str = "query_id",
    k: int = 10,
    rel_col: str | None = None,
) -> DataFrame:
    """Per-query retrieval-eval metrics of a (query, id, rank) table
    against a relevance set: ``recall_at_k`` (relevant docs found in the
    top k / total relevant), ``precision_at_k``, ``reciprocal_rank``
    (1/rank of the first relevant hit, 0 when none), ``ndcg_at_k``
    (Jarvelin & Kekalainen's normalized discounted cumulative gain with
    the exponential gain form, gain = (2^rel − 1)/log2(rank + 1)), and
    ``avg_precision_at_k`` (AP@k: Σ over relevant hits of
    precision@their-rank, normalized by min(n_rel, k) so a perfect
    top-k scores 1.0 even when n_rel > k — averaging it over queries
    yields MAP@k; binary relevance, grade > 0 = relevant. NOTE: this is
    the min(n_rel, k)-normalized variant; trec_eval's ``map_cut_k``
    divides by TOTAL relevant R instead, so its numbers are smaller for
    queries with n_rel > k — divide this column's numerator back out if
    you need trec_eval-comparable values).

    ``qrels`` is (query, id) for binary relevance; pass ``rel_col`` for
    graded judgments — grade ≤ 0 rows count as judged-irrelevant
    (excluded from recall/RR and contributing zero gain), and duplicate
    (query, id) judgments collapse to the max grade. Queries with qrels
    but no ranked rows still surface (zero metrics) — a system that
    returns nothing must not vanish from the mean. Slim aggregates + a
    broadcastable qrels join; the ideal-DCG window runs over the
    (eval-set-sized, not corpus-sized) qrels only; both DCG folds sum in
    sorted order for cross-partitioning float determinism. Averaging the
    output yields MRR / mean recall@k / mean nDCG@k."""
    grade = (
        F.col(rel_col).cast("double") if rel_col is not None else F.lit(1.0)
    )
    judged = (
        qrels.select(query_col, id_col, grade.alias("__g"))
        .groupBy(query_col, id_col)
        .agg(F.max("__g").alias("__g"))
    )
    rel = judged.where(F.col("__g") > 0)

    def _gain(pos):
        return (F.pow(F.lit(2.0), F.col("__g")) - F.lit(1.0)) / F.log2(
            pos + F.lit(1.0)
        )

    def _dcg_fold(comp: DataFrame) -> DataFrame:
        return comp.groupBy(query_col).agg(
            F.aggregate(
                F.array_sort(F.collect_list("__gain")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("__dcg")
        )

    # totals keep EVERY judged query — a graded query whose judgments
    # are all <= 0 (judged, nothing relevant) still surfaces with zero
    # metrics instead of silently shrinking a mean's denominator
    totals = judged.groupBy(query_col).agg(
        F.count(F.when(F.col("__g") > 0, F.lit(1))).alias("__n_rel")
    )
    w_ideal = Window.partitionBy(query_col).orderBy(
        F.desc("__g"), F.asc(id_col)
    )
    idcg = _dcg_fold(
        rel.withColumn("__pos", F.row_number().over(w_ideal))
        .where(F.col("__pos") <= k)
        .select(query_col, _gain(F.col("__pos")).alias("__gain"))
    ).withColumnRenamed("__dcg", "__idcg")
    hit_rows = ranked.where(F.col("rank") <= k).join(
        F.broadcast(rel), [query_col, id_col]
    )
    # precision@rank-of-each-hit: a window over the ≤k hit rows per
    # query (never the corpus); Σ of those is AP@k's numerator
    w_hits = (
        Window.partitionBy(query_col)
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hits = (
        hit_rows.withColumn(
            "__p_at", F.count(F.lit(1)).over(w_hits) / F.col("rank")
        )
        .groupBy(query_col)
        .agg(
            F.count(F.lit(1)).alias("__n_hit"),
            F.min("rank").alias("__first"),
            F.aggregate(
                F.array_sort(F.collect_list("__p_at")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("__ap_num"),
        )
    )
    dcg = _dcg_fold(
        hit_rows.select(query_col, _gain(F.col("rank")).alias("__gain"))
    )
    return (
        totals.join(hits, query_col, "left")
        .join(dcg, query_col, "left")
        .join(idcg, query_col, "left")
        .select(
            query_col,
            F.coalesce(
                F.try_divide(
                    F.coalesce("__n_hit", F.lit(0)), F.col("__n_rel")
                ),
                F.lit(0.0),
            ).alias("recall_at_k"),
            (F.coalesce("__n_hit", F.lit(0)) / F.lit(float(k)))
            .alias("precision_at_k"),
            F.coalesce(F.lit(1.0) / F.col("__first"), F.lit(0.0))
            .alias("reciprocal_rank"),
            F.coalesce(
                F.col("__dcg") / F.nullif(F.col("__idcg"), F.lit(0.0)),
                F.lit(0.0),
            ).alias("ndcg_at_k"),
            F.coalesce(
                F.try_divide(
                    F.col("__ap_num"),
                    F.least(F.col("__n_rel"), F.lit(float(k))),
                ),
                F.lit(0.0),
            ).alias("avg_precision_at_k"),
        )
    )


def hybrid_topk(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    queries: dict,
    vectors_df: DataFrame,
    query_vecs_df: DataFrame,
    k: int = 10,
    k_rrf: int = 60,
    weights: Sequence[float] = (1.0, 1.0),
    vec_col: str = "embedding",
    vec_id_col: str | None = None,
    query_id_col: str = "query_id",
    pool: int | None = None,
    dense: str = "bq",
    dense_kwargs: dict | None = None,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """One-call hybrid retrieval: BM25 lexical top-``pool`` per query +
    an ANN dense top-``pool`` over the embedding table, fused by
    weighted Reciprocal Rank Fusion — the library form of the pattern
    ``examples/retrieval_eval.py`` composes by hand, with the column
    alignment (``vec_id_col`` → ``id_col``) and pool sizing handled
    here so callers can't fuse misaligned ids.

    ``queries`` maps query id → term list (the lexical arm);
    ``query_vecs_df`` is (query_id, vec) for the SAME query ids (the
    dense arm) — a query present in only one arm fuses from that arm
    alone, the RRF absent-list semantics. ``pool`` (default ``4·k``) is
    each arm's candidate depth: RRF can promote a document ranked just
    outside one arm's top-k, so fusing from exactly-k lists clips the
    candidates RRF exists to recover. ``dense`` picks the ANN arm:
    ``"bq"`` (binary-quantization Hamming prefilter + exact rerank —
    the 100-TB default) or ``"brute"`` (the labeled exact baseline for
    small corpora / recall measurement). Scale shape: one match-bounded
    corpus scan (lexical), one signature-table scan + bounded rerank
    (dense), two salted top-(pool)s, one fusion groupBy + salted top-k
    — nothing corpus-sized crosses arms."""
    from eel_spark.operators import similarity as _sim

    if dense not in ("bq", "brute"):
        raise ValueError(f"dense must be 'bq' or 'brute', got {dense!r}")
    depth = int(pool) if pool is not None else 4 * k
    if depth < k:
        raise ValueError(f"pool ({depth}) must be >= k ({k})")
    vid = vec_id_col or id_col
    lex = bm25_topk_multi(
        docs, text_col, id_col, queries, k=depth, k1=k1, b=b
    ).select(
        # bm25_topk_multi emits the fixed name "query_id" — realias so a
        # non-default query_id_col works (r11 review)
        F.col("query_id").alias(query_id_col), id_col, "rank"
    )
    dense_fn = _sim.bq_topk if dense == "bq" else _sim.brute_force_topk
    sem = dense_fn(
        vectors_df,
        query_vecs_df.select(
            F.col(query_id_col), F.col(vec_col)
        ),
        id_col=vid,
        vec_col=vec_col,
        query_id_col=query_id_col,
        k=depth,
        **(dense_kwargs or {}),
    ).select(
        query_id_col, F.col(vid).alias(id_col), "rank"
    )
    return reciprocal_rank_fusion(
        [lex, sem], id_col, query_id_col,
        k=k, k_rrf=k_rrf, weights=list(weights),
    )


def hybrid_topk_against_stores(
    spark,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    stats_path: str,
    index_path: str,
    queries: dict,
    query_vecs_df: DataFrame,
    k: int = 10,
    k_rrf: int = 60,
    weights: Sequence[float] = (1.0, 1.0),
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    pool: int | None = None,
    n_probe: int = 4,
    refine: int = 8,
    dense: str = "bq",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """:func:`hybrid_topk` served from the MAINTAINED stores — the
    actual 100 TB serving shape: the lexical arm scores against the
    BM25 increment store at ``stats_path`` (``read_bm25_stats`` pruned
    to the union of query terms — df/N/Σdl come from the store, tf/dl
    from the scored ``docs`` wave; zero history rescans), the dense arm
    probes the incremental IVF index at ``index_path`` (partition-pruned
    postings, no corpus re-assignment), and the two per-query rankings
    fuse by weighted RRF exactly as the one-shot path does.

    ``docs`` is the wave the lexical arm ranks (tf comes from its text
    — BM25 needs term frequencies, which the slim stats store by design
    does not hold); the dense arm ranks the INDEX's stored vectors, so
    the index must have been appended from the same documents (its
    posting ids ARE the ``id_col`` values RRF fuses on — a mismatched
    id space fuses garbage, exactly as mismatched ids would in
    one-shot ``hybrid_topk``). ``dense`` picks the index query path:
    ``"bq"`` (stored-sketch Hamming prefilter + exact rerank — the
    default scale path), ``"pq"`` (ADC scan; requires a books-bearing
    index), or ``"plain"`` (exact cosine inside probed cells).

    Store-degraded inputs keep the documented degrade-never-drop
    contracts of the underlying arms: a store-unseen term scores with
    ``df = 0`` instead of dropping its matches, and (pre-compaction)
    legacy postings without sketches/codes rank last in the prefilter
    stage rather than displacing real candidates.

    Equivalence: with stores covering the corpus and covering
    ``n_probe``/``refine``, results are identical to one-shot
    ``hybrid_topk`` over the same corpus (tested). Scale shape: one
    match-bounded wave scan + one broadcast stats join (lexical), one
    partition-pruned postings read bounded by probed cells (dense), two
    salted top-(pool)s, one fusion groupBy + salted top-k."""
    from eel_spark.operators import similarity as _sim

    dense_fns = {
        "bq": _sim.ivf_bq_topk_against_index,
        "pq": _sim.ivf_pq_topk_against_index,
        "plain": _sim.ivf_topk_against_index,
    }
    if dense not in dense_fns:
        raise ValueError(
            f"dense must be one of {sorted(dense_fns)}, got {dense!r}"
        )
    depth = int(pool) if pool is not None else 4 * k
    if depth < k:
        raise ValueError(f"pool ({depth}) must be >= k ({k})")
    qmap = _normalize_queries(queries)
    union_terms = sorted({t for ts in qmap.values() for t in ts})
    stats = read_bm25_stats(spark, stats_path, terms=union_terms)
    lex = bm25_topk_multi_against_stats(
        docs, text_col, id_col, stats, qmap, k=depth, k1=k1, b=b
    ).select(F.col("query_id").alias(query_id_col), id_col, "rank")
    dense_kwargs = {} if dense == "plain" else {"refine": refine}
    sem = dense_fns[dense](
        spark,
        index_path,
        query_vecs_df,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        k=depth,
        n_probe=n_probe,
        **dense_kwargs,
    ).select(query_id_col, id_col, "rank")
    return reciprocal_rank_fusion(
        [lex, sem], id_col, query_id_col,
        k=k, k_rrf=k_rrf, weights=list(weights),
    )
