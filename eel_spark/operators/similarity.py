"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a crossJoin with the (broadcast)
query set, fully distributed, exact. Scale paths: IVF — a kmeans-lite
centroid assignment bucketizes vectors; queries probe only the nearest
``n_probe`` cells, bounding the candidate set by cell sizes (the standard
billion-scale ANN layout, expressed as two broadcast joins + a window
top-k) — and BQ (``bq_topk``) — a packed sign-sketch Hamming prefilter
that scans 8 bytes per 64 dims instead of the float corpus, then reranks
the bounded survivor set with exact cosine. IVF bounds *which* vectors a
query touches; BQ bounds *how much* each touch costs; at 100 TB they
compose (sketch column inside each IVF cell).
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eel_spark.operators.maintenance import (
    _compact_to_sentinel,
    _staged_swap,
    commit_batch,
    locked_store_write,
)
from eel_spark.functions import vectors
from eel_spark.scale import ensure_parallelism


# phase-1 fan-out of the two-phase top-k: each query's candidates are
# ranked in _N_SALT (query, salt) partitions before the per-query merge
_N_SALT = 32


def _topk_per_query(
    scored: DataFrame,
    query_id_col: str,
    id_col: str,
    k: int,
    value_col: str = "cos",
    ascending: bool = False,
    exclude_self: bool = False,
) -> DataFrame:
    """One exact per-query top-k of a (query, candidate, value) table:
    (query, id, value_col, rank) — :func:`_topk_per_query_multi` with one
    dimension. ``exclude_self`` drops candidates whose id equals the
    query id before ranking (corpus-internal queries)."""
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    return _topk_per_query_multi(
        scored, query_id_col, id_col, k, {"x": (value_col, ascending)}
    ).withColumnRenamed("rank_x", "rank")


def _topk_per_query_multi(
    scored: DataFrame,
    query_id_col: str,
    id_col: str,
    k: int,
    dims: dict[str, tuple[str, bool]],
) -> DataFrame:
    """N exact per-query top-k rankings of ONE table in ONE shuffle pair
    — the one two-phase salted top-k every ranking path uses.

    ``dims`` maps a dimension name to ``(value_col, ascending)``; ties
    break by id ascending. The output has one row per (query, id) that
    ranks in ANY dimension's top-k: the query and id, the distinct value
    columns, and a nullable ``rank_<name>`` per dimension (null ⇒ not in
    that dimension's top-k).

    Phase 1 ranks within (query, salt) where salt = hash(candidate id)
    mod ``_N_SALT``: ``_N_SALT``× the parallelism of a per-query window,
    |candidates| / ``_N_SALT`` rows per task. Phase 2 ranks the surviving
    ≤ ``_N_SALT``·k rows per query — a bounded input, so the
    single-reducer-per-query window is harmless. This replaces the
    per-query full-corpus sort that a lone Window.partitionBy(query_id)
    performs on the unsalted cross product (the reference's linear scan —
    eel-core DataStream.scala:267 cartesian — has the same O(corpus)
    per-query cost); it is REPOSE's local-prune/global-merge shape. All N
    dimensions share the (query, salt) phase-1 exchange and the (query)
    phase-2 exchange: every window partitions by the same key, so
    Catalyst plans one Exchange per phase and N sorts — the input is
    scanned and shuffled once instead of N times (§2.4).

    Exact per dimension: a global top-k row is in its salt partition's
    top-k, so phase 1 never drops a winner. Phase 2 ranks the pooled
    survivors of ALL dimensions, so each dimension's ordering puts its
    OWN phase-1 survivors first (survivor flag DESC before the value
    order): rows kept only for another dimension sort strictly after
    every survivor of this one and cannot displace or interleave them.
    Both filters are ORs of per-dimension ``rank <= k`` conjunctions; with
    one dimension each is a plain conjunction, from which Catalyst infers
    a WindowGroupLimit in both phases (plan-asserted in tests)."""
    salt_name = "__salt"
    while salt_name in scored.columns:
        salt_name = "_" + salt_name
    orders = {
        name: [F.asc(vc) if asc else F.desc(vc), F.asc(id_col)]
        for name, (vc, asc) in dims.items()
    }
    value_cols = list(dict.fromkeys(vc for vc, _ in dims.values()))
    salted = scored.withColumn(
        salt_name, F.pmod(F.xxhash64(F.col(id_col)), _N_SALT)
    )
    for name, order in orders.items():
        w_local = Window.partitionBy(query_id_col, salt_name).orderBy(*order)
        salted = salted.withColumn(
            f"__lr_{name}", F.row_number().over(w_local)
        )
    survivors = salted.filter(
        " OR ".join(f"__lr_{n} <= {int(k)}" for n in dims)
    ).select(
        query_id_col,
        id_col,
        *value_cols,
        *[(F.col(f"__lr_{n}") <= k).alias(f"__sv_{n}") for n in dims],
    )
    for name, order in orders.items():
        w_global = Window.partitionBy(query_id_col).orderBy(
            F.desc(f"__sv_{name}"), *order
        )
        survivors = survivors.withColumn(
            f"__gr_{name}", F.row_number().over(w_global)
        )
    kept = {n: f"(__sv_{n} AND __gr_{n} <= {int(k)})" for n in dims}
    return survivors.filter(" OR ".join(kept.values())).select(
        query_id_col,
        id_col,
        *value_cols,
        *[
            F.when(F.expr(cond), F.col(f"__gr_{n}")).alias(f"rank_{n}")
            for n, cond in kept.items()
        ],
    )


def _exact_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    cands: DataFrame,
    query_id_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Exact-cosine top-k of a bounded candidate set — the second stage
    of every prefiltered ANN path (BQ, PQ, IVF-PQ, one-shot or served
    from the incremental index). ``cands`` holds the (query_id_col, id_col)
    survivors of the approximate stage; ``corpus`` is (id, vector) and
    ``queries`` is (query id, vector), positionally, prepared by the
    caller so each path keeps its own casts. The survivors are few
    (|queries|·refine·k rows), so they are broadcast into the corpus join
    and the vectors are read only for them; then one more broadcast of
    the query vectors. Same result contract and tie-breaks as
    :func:`brute_force_topk`."""
    pairs = cands.select(
        F.col(query_id_col).alias("__qid"), F.col(id_col).alias("__id")
    )
    rerank = (
        corpus.toDF("__id", "__v")
        .join(F.broadcast(pairs), "__id")
        .join(F.broadcast(queries.toDF("__qid", "__qv")), "__qid")
        .select(
            F.col("__qid").alias(query_id_col),
            F.col("__id").alias(id_col),
            vectors.cosine(F.col("__v"), F.col("__qv")).alias("cos"),
        )
    )
    return _topk_per_query(rerank, query_id_col, id_col, k)


def brute_force_topk(
    vectors_df: DataFrame,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries_df is broadcast (query sets are small relative to the corpus);
    the per-pair kernel is a JVM fold; the top-k is the one two-phase
    salted kernel (``_topk_per_query_multi``, one dimension) — per-query
    work is spread over the salt partitions instead of funneling
    |corpus| rows through one reducer per query. No global sort, no
    driver collect.
    ``exclude_self`` drops corpus rows whose id equals the query id before
    ranking (for corpus-internal queries).
    """
    q = F.broadcast(
        queries_df.select(
            F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
        )
    )
    # fan a small file count out to all cores: the per-pair cosine fold is
    # the cost, not the scan
    scored = ensure_parallelism(vectors_df).crossJoin(q).select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        vectors.cosine(F.col(vec_col), F.col("__qvec")).alias("cos"),
    )
    return _topk_per_query(
        scored, query_id_col, id_col, k, exclude_self=exclude_self
    )


def _as_double(
    df: DataFrame, id_col: str, vec_col: str, id_as: str, vec_as: str
) -> DataFrame:
    """(id_as, vec_as): each row's id and its vector cast to double —
    the one cast k-means training, IVF corpora, appended postings and
    queries all go through, so one-shot and served vectors score
    bit-identically."""
    return df.select(
        F.col(id_col).alias(id_as),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(vec_as),
    )


def train_centroids(
    vectors_df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    iterations: int = 3,
    sample_mod: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """kmeans-lite: deterministic init (hash-mod of id picks seeds), then
    ``iterations`` rounds of assign + mean — each round is one broadcast
    join + one groupBy (no MLlib dependency, no driver loops over data).

    Returns (cell_id, centroid array<double>).
    """
    v = _as_double(vectors_df, id_col, vec_col, "__id", "__v")
    if sample_mod > 1:
        v = v.filter(F.pmod(F.xxhash64(F.col("__id")), sample_mod) == 0)
    # deterministic seeds: the min-id vector in each of n_cells hash
    # buckets — groupBy + min_by is a map-side-combinable aggregate, so
    # seed selection never funnels the (unsampled) corpus into n_cells
    # sorted partitions the way a partitionBy(cell_id) row_number window
    # would (each such task sorted |corpus|/n_cells rows: a scale-killer)
    seeded = v.withColumn("cell_id", F.pmod(F.xxhash64(F.col("__id")), n_cells))
    centroids = seeded.groupBy("cell_id").agg(
        F.min_by("__v", "__id").alias("centroid")
    )
    # mean update: posexplode + groupBy(cell, pos).avg looks like it blows
    # the corpus up dim×, but the exploded rows are NEVER shuffled — the
    # map-side partial aggregate collapses each task to n_cells×dim rows
    # before the exchange, so shuffle volume is O(n_cells·dim·tasks)
    # regardless of corpus size. The array-native alternative (one
    # groupBy(cell_id) with dim per-element avg accumulators) was measured
    # SLOWER at 8× and 64× sf0.1 (2.70 s vs 1.80 s; 4.72 s vs 3.71 s for 3
    # rounds — SURVEY §8): 2·dim aggregate buffers per group cost more than
    # generating the pipelined exploded rows. Kept the measured winner.
    #
    # The loop carries centroids as the PACKED one-row broadcast form
    # (r15): the old per-iteration groupBy(cell_id) that reassembled
    # (pos, mean) rows into arrays was a second shuffle + stage barrier
    # whose only consumer was _assign_cells' pack aggregate — folding the
    # array rebuild into the pack's own one-row projection removes one
    # serial barrier per iteration (the chain is latency-bound: n_cells×
    # dim rows). Means, per-array pos order and the cell set are
    # bit-identical (array_sort on struct(cell_id, pos, mean) orders by
    # pos within a cell; cells with no members vanish from __flat exactly
    # as they vanished from the old groupBy); the packed-struct ORDER
    # differs (sorted by cell_id vs collect_list arrival) but the
    # array_min argmin in _assign_cells_packed is order-independent.
    cents = "__cents"
    while cents in v.columns:
        cents = "_" + cents
    packed = centroids.agg(
        F.collect_list(F.struct("cell_id", "centroid")).alias(cents)
    )
    for _ in range(iterations):
        assigned = _assign_cells_packed(v, packed, cents, "__v")
        cellmeans = (
            assigned.select("cell_id", F.posexplode("__v").alias("pos", "val"))
            .groupBy("cell_id", "pos")
            .agg(F.avg("val").alias("mean"))
        )
        flat = F.col("__flat")
        cell_ids = F.array_sort(
            F.array_distinct(F.transform(flat, lambda e: e.cell_id))
        )
        packed = cellmeans.agg(
            F.collect_list(F.struct("cell_id", "pos", "mean")).alias("__flat")
        ).select(
            F.transform(
                cell_ids,
                lambda c: F.struct(
                    c.alias("cell_id"),
                    F.transform(
                        F.array_sort(F.filter(flat, lambda e: e.cell_id == c)),
                        lambda e: e.mean,
                    ).alias("centroid"),
                ),
            ).alias(cents)
        )
    return packed.select(F.explode(cents).alias("__c")).select(
        F.col("__c.cell_id").alias("cell_id"),
        F.col("__c.centroid").alias("centroid"),
    )


def _assign_cells(
    df: DataFrame, centroids: DataFrame, vec_expr: str,
    dist_col: str | None = None,
) -> DataFrame:
    """Assign each row to its nearest centroid — shuffle-free argmin.

    The centroid table (n_cells rows) is packed into ONE array-of-structs
    row and broadcast; each input row transforms it to (dist, cell_id)
    structs and takes ``array_min`` — the lexicographic struct minimum IS
    argmin by (dist, cell_id), the same tie-break the previous
    row_number-over-window produced, without an Exchange+sort per
    assignment (the window shuffled the full corpus once per k-means
    round and once per IVF corpus prep). ``dist_col`` additionally keeps
    the distance to the assigned centroid (the incremental index's drift
    signal)."""
    # fresh helper name: a user column literally named __cents would be
    # overwritten by the crossJoin and then dropped — the collision class
    # fixed everywhere else with _fresh/_salt_col
    cents = "__cents"
    while cents in df.columns:
        cents = "_" + cents
    packed = centroids.agg(
        F.collect_list(F.struct("cell_id", "centroid")).alias(cents)
    )
    return _assign_cells_packed(df, packed, cents, vec_expr, dist_col)


def _assign_cells_packed(
    df: DataFrame, packed: DataFrame, cents: str, vec_expr: str,
    dist_col: str | None = None,
) -> DataFrame:
    """:func:`_assign_cells` core over a PRE-PACKED one-row centroid
    table (column ``cents``: array<struct<cell_id, centroid>>) — the
    k-means loop calls this directly so the pack aggregate can carry the
    array rebuild of the mean update (one barrier fewer per iteration);
    ``cents`` must not collide with a ``df`` column (callers pick it
    against ``df.columns``): the crossJoin would shadow that column and
    the final drop would delete it, so a collision raises."""
    if cents in df.columns:
        raise ValueError(
            f"packed centroid column {cents!r} collides with an input column"
        )
    best = F.array_min(
        F.transform(
            cents,
            lambda c: F.struct(
                vectors.l2_distance(F.col(vec_expr), c["centroid"]).alias("dist"),
                c["cell_id"].alias("cell_id"),
            ),
        )
    )
    out = df.crossJoin(F.broadcast(packed)).withColumn("cell_id", best["cell_id"])
    if dist_col is not None:
        out = out.withColumn(dist_col, best["dist"])
    return out.drop(cents)


def _probe_cells(
    queries_df: DataFrame,
    centroids: DataFrame,
    query_id_col: str,
    vec_col: str,
    n_probe: int,
) -> DataFrame:
    """Per query, the ``n_probe`` nearest cells: (__qid, __qv, cell_id,
    __qdim, __cdim). One broadcast crossJoin against the n_cells-row
    centroid table plus a per-query window over n_cells rows — bounded
    by queries × n_cells. Every IVF scorer joins it to a postings frame
    on ``cell_id``, one-shot or served. The vector sizes feed the served
    paths' dimension check (:func:`_served_probes`); elsewhere Catalyst
    prunes them."""
    q = _as_double(queries_df, query_id_col, vec_col, "__qid", "__qv")
    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "__dist", vectors.l2_distance(F.col("__qv"), F.col("centroid"))
    )
    wq = Window.partitionBy("__qid").orderBy(F.asc("__dist"), F.asc("cell_id"))
    ranked = qc.withColumn("__rn", F.row_number().over(wq)).filter(
        F.col("__rn") <= n_probe
    )
    return ranked.select(
        "__qid", "__qv", "cell_id",
        F.size("__qv").alias("__qdim"),
        F.size("centroid").alias("__cdim"),
    )


def _ivf_corpus(
    vectors_df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """The one-shot postings frame (id, vec, cell_id), in the stored
    postings' columns: the corpus fanned out to every core, vectors cast
    to double, each row assigned to its nearest centroid."""
    return _assign_cells(
        _as_double(ensure_parallelism(vectors_df), id_col, vec_col, "id", "vec"),
        centroids,
        "vec",
    )


def _cosine_topk(
    probes: DataFrame, postings: DataFrame, query_id_col: str, id_col: str,
    k: int, exclude_self: bool,
) -> DataFrame:
    """Exact-cosine top-k of probes (__qid, __qv, cell_id) joined on
    ``cell_id`` to a postings frame (id, vec, cell_id). Probed-cell
    candidates still grow with the corpus (n_probe / n_cells of it per
    query), so the salted top-k ranks them, not one reducer per query."""
    scored = probes.join(postings, "cell_id").select(
        F.col("__qid").alias(query_id_col),
        F.col("id").alias(id_col),
        vectors.cosine(F.col("vec"), F.col("__qv")).alias("cos"),
    )
    return _topk_per_query(
        scored, query_id_col, id_col, k, exclude_self=exclude_self
    )


def ivf_scored_candidates(
    vectors_df: DataFrame,
    queries_df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe-all scored-candidate table: every (query, corpus vector)
    pair with the corpus row's IVF cell and cosine — columns
    (query_id, id, cell_id, cos).

    With every cell probed, :func:`ivf_topk`'s candidate set IS this
    table (each corpus row lives in exactly one cell and each query
    probes each cell once), and a probe-n run's candidate set is exactly
    the subset whose cell_id falls in the query's n nearest cells
    (:func:`probe_cells`). Pin one copy and an exact (probe-all) ranking
    plus any approximate (probe-n) ranking read the SAME scored rows:
    the corpus cell assignment and the per-pair cosine fold run once
    instead of once per probe configuration. Cosines are bit-identical
    to ivf_topk's (same postings frame, same argument order), so
    rankings derived from this table match it exactly."""
    corpus = _ivf_corpus(vectors_df, centroids, id_col, vec_col)
    q = F.broadcast(
        _as_double(queries_df, query_id_col, vec_col, "__qid", "__qv")
    )
    return corpus.crossJoin(q).select(
        F.col("__qid").alias(query_id_col),
        F.col("id").alias(id_col),
        "cell_id",
        vectors.cosine(F.col("vec"), F.col("__qv")).alias("cos"),
    )


def probe_cells(
    queries_df: DataFrame,
    centroids: DataFrame,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Public (query_id, cell_id) probe set — each query's ``n_probe``
    nearest cells, one row per (query, cell). Same ranking and tie-break
    as the probe step inside :func:`ivf_topk` (shared ``_probe_cells``),
    so filtering :func:`ivf_scored_candidates` rows by this set yields
    exactly ivf_topk's probe-n candidate set."""
    return _probe_cells(
        queries_df, centroids, query_id_col, vec_col, n_probe
    ).select(F.col("__qid").alias(query_id_col), "cell_id")


def ivf_topk(
    vectors_df: DataFrame,
    queries_df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_probe: int = 4,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF ANN: corpus pre-assigned to cells; each query probes its
    ``n_probe`` nearest cells only. Candidate count ∝ probed-cell sizes —
    the 100 TB path (brute force touches every vector per query; IVF
    touches ~n_probe/n_cells of them)."""
    return _cosine_topk(
        _probe_cells(queries_df, centroids, query_id_col, vec_col, n_probe),
        _ivf_corpus(vectors_df, centroids, id_col, vec_col),
        query_id_col, id_col, k, exclude_self,
    )


def pack_signatures(
    vectors_df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materializable (id, sig) sign-sketch table: ceil(dim/64) bigints
    per vector — 8 bytes per 64 dims vs 256/512 for float32/float64.

    At 100 TB this is the table you persist (and scan) for the Hamming
    prefilter stage of ``bq_topk``: a 100 TB float32 corpus shrinks to a
    ~3 TB signature table, so the per-query exhaustive sweep reads 32×
    less and compares words, not floats.
    """
    return vectors_df.select(
        F.col(id_col), vectors.pack_sign_bits(F.col(vec_col), dim).alias("sig")
    )


def bq_topk(
    vectors_df: DataFrame,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    dim: int | None = None,
    refine: int = 8,
    exclude_self: bool = False,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Binary-quantization ANN: Hamming prefilter over packed sign
    sketches, exact-cosine rerank of the survivors.

    Stage 1 scans ONLY the signature table (``pack_signatures`` output,
    or built inline from ``vectors_df``): per pair, one xor+bit_count
    per 64 dims instead of ``dim`` float multiplies, and 32× less data
    read than the float corpus. The one salted top-k kernel
    (``_topk_per_query_multi``, Hamming ascending) keeps ``refine*k``
    candidates per query. Stage 2 (``_exact_rerank``) joins the bounded,
    broadcast candidate set back to the float corpus and reranks it by
    exact cosine with the same kernel — so the result format and
    tie-breaks match ``brute_force_topk`` exactly; only stage-1 misses
    cost recall.

    Same family as the banded hyperplane LSH in operators/dedup.py, but
    for *ranking* (global top-k per query) rather than *pairing*: LSH
    buckets bound candidate pairs, the sign sketch bounds scan cost.
    """
    if dim is None:
        dim = vectors_df.select(
            F.size(F.col(vec_col)).alias("d")
        ).first()["d"]  # one-row driver probe, schema-level constant
    sigs = signatures or pack_signatures(vectors_df, dim, id_col, vec_col)
    q = F.broadcast(
        queries_df.select(
            F.col(query_id_col).alias("__qid"),
            vectors.pack_sign_bits(F.col(vec_col), dim).alias("__qsig"),
        )
    )
    ham = ensure_parallelism(sigs).crossJoin(q).select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        vectors.hamming(F.col("sig"), F.col("__qsig")).alias("hamming"),
    )
    cands = _topk_per_query(
        ham, query_id_col, id_col, refine * k,
        value_col="hamming", ascending=True, exclude_self=exclude_self,
    )
    return _exact_rerank(
        vectors_df.select(id_col, vec_col),
        queries_df.select(query_id_col, vec_col),
        cands, query_id_col, id_col, k,
    )


# --- product quantization (PQ / ADC) ---------------------------------------


def _subvecs(vec, dim: int, n_subs: int):
    """array of ``n_subs`` contiguous subvectors (each dim/n_subs doubles)."""
    sd = dim // n_subs
    return F.array(
        *[
            F.transform(
                F.slice(vec, s * sd + 1, sd), lambda x: x.cast("double")
            )
            for s in range(n_subs)
        ]
    )


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def train_pq(
    vectors_df: DataFrame,
    dim: int,
    n_subs: int = 8,
    n_codes: int = 16,
    iterations: int = 3,
    sample_mod: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: the vector splits into ``n_subs``
    contiguous subvectors; each subspace gets its own ``n_codes``-entry
    kmeans-lite codebook. ALL subspaces train in ONE job — the corpus
    explodes to (sub_id, subvec) rows and the same seed/assign/update
    aggregates as ``train_centroids`` run with ``sub_id`` in the key, so
    training cost is one pass per iteration regardless of n_subs.

    Returns (sub_id, cell_id, centroid array<double>). Constraints:
    dim % n_subs == 0 (contiguous split), n_codes <= 127 (codes store as
    tinyint — 1 byte per subspace).
    """
    if dim % n_subs != 0:
        raise ValueError(f"dim={dim} not divisible by n_subs={n_subs}")
    if n_codes > 127:
        raise ValueError(f"n_codes={n_codes} exceeds tinyint code storage (127)")
    v = vectors_df.select(
        F.col(id_col).alias("__id"), _subvecs(F.col(vec_col), dim, n_subs).alias("__sv")
    )
    if sample_mod > 1:
        v = v.filter(F.pmod(F.xxhash64(F.col("__id")), sample_mod) == 0)
    sub = v.select(
        "__id", F.posexplode("__sv").alias("sub_id", "__v")
    )
    # seeds: min-id subvector per (sub_id, hash bucket) — map-side
    # combinable, no window (the train_centroids rule)
    seeded = sub.withColumn(
        "cell_id", F.pmod(F.xxhash64(F.col("__id")), n_codes)
    )
    books = seeded.groupBy("sub_id", "cell_id").agg(
        F.min_by("__v", "__id").alias("centroid")
    )
    for _ in range(iterations):
        assigned = _assign_pq_cells(sub, books, "__v")
        books = (
            assigned.select(
                "sub_id", "cell_id", F.posexplode("__v").alias("pos", "val")
            )
            .groupBy("sub_id", "cell_id", "pos")
            .agg(F.avg("val").alias("mean"))
            .groupBy("sub_id", "cell_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("mean")))
                    ),
                    lambda s: s.mean,
                ).alias("centroid")
            )
        )
    return books


def _packed_books(books: DataFrame) -> DataFrame:
    """One broadcastable row: array[sub][code] = centroid, both levels
    ordered (array_sort on (cell_id,)/(sub_id,) structs)."""
    per_sub = books.groupBy("sub_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("cell_id", "centroid"))),
            lambda s: s.centroid,
        ).alias("cents")
    )
    return per_sub.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_id", "cents"))),
            lambda s: s.cents,
        ).alias("__books")
    )


def _assign_pq_cells(sub: DataFrame, books: DataFrame, vec_expr: str) -> DataFrame:
    """Nearest-code assignment for (sub_id, subvec) rows — broadcast
    packed codebooks + array_min argmin, shuffle-free (the PQ twin of
    ``_assign_cells``)."""
    packed = _packed_books(books)
    cents_for_sub = F.element_at(F.col("__books"), F.col("sub_id") + 1)
    best = F.array_min(
        F.zip_with(
            cents_for_sub,
            F.sequence(F.lit(0), F.size(cents_for_sub) - 1),
            lambda c, i: F.struct(
                _l2sq(F.col(vec_expr), c).alias("dist"), i.alias("cell_id")
            ),
        )
    )
    return (
        sub.crossJoin(F.broadcast(packed))
        .withColumn("cell_id", best["cell_id"].cast("long"))
        .drop("__books")
    )


def _with_pq_codes(
    df: DataFrame, books: DataFrame, vec_expr: str, dim: int, n_subs: int,
    out: str = "codes",
) -> DataFrame:
    """Append the ``n_subs``-byte PQ code array for ``vec_expr`` — one
    broadcast of the packed codebooks, per-sub argmin, no shuffle.
    Shared by ``encode_pq``, ``encode_ivf_pq`` and the incremental
    index's append so the encoders cannot drift."""
    packed = _packed_books(books)
    # per-sub argmin: zip subvectors with their codebooks positionally
    codes = F.zip_with(
        _subvecs(F.col(vec_expr), dim, n_subs),
        F.col("__books"),
        lambda v, cents: F.array_min(
            F.zip_with(
                cents,
                F.sequence(F.lit(0), F.size(cents) - 1),
                lambda c, i: F.struct(_l2sq(v, c).alias("dist"), i.alias("code")),
            )
        )["code"].cast("tinyint"),
    )
    return (
        df.crossJoin(F.broadcast(packed))
        .withColumn(out, codes)
        .drop("__books")
    )


def _pq_lut(qsv_col: str = "__qsv") -> "F.Column":
    """Per-(query, subspace) ADC lookup table: distances from the query's
    subvector to every codebook entry — evaluated over (__qsv, __books)."""
    return F.zip_with(
        F.col(qsv_col),
        F.col("__books"),
        lambda qs, cents: F.transform(cents, lambda c: _l2sq(qs, c)),
    )


def _pq_adc(codes_col: str = "codes", lut_col: str = "__lut") -> "F.Column":
    """ADC distance: sum the per-sub LUT entries the code array selects
    (n_subs element_at + adds per pair — the PQ scan kernel)."""
    return F.aggregate(
        F.zip_with(
            F.col(codes_col),
            F.col(lut_col),
            lambda code, row: F.element_at(row, code.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _adc_candidates(
    probes: DataFrame, postings: DataFrame, books: DataFrame, dim: int,
    n_subs: int, query_id_col: str, id_col: str, n: int, exclude_self: bool,
) -> DataFrame:
    """ADC scan: each probe row (__qid, __qv, cell_id) becomes its LUT,
    broadcast and joined on ``cell_id`` to a postings frame (id, codes,
    cell_id); the ``n`` nearest per query survive. NULL ``codes`` (a
    wave appended by a pre-PQ writer on a mixed store) rank LAST, not
    NULLS-FIRST into every candidate slot — the Hamming scan's rule."""
    lut_probes = F.broadcast(
        probes.withColumn("__qsv", _subvecs(F.col("__qv"), dim, n_subs))
        .crossJoin(F.broadcast(_packed_books(books)))
        .select("__qid", "cell_id", _pq_lut().alias("__lut"))
    )
    scored = lut_probes.join(postings, "cell_id").select(
        F.col("__qid").alias(query_id_col),
        F.col("id").alias(id_col),
        F.coalesce(_pq_adc(), F.lit(float("inf"))).alias("adc"),
    )
    return _topk_per_query(
        scored, query_id_col, id_col, n,
        value_col="adc", ascending=True, exclude_self=exclude_self,
    )


def encode_pq(
    vectors_df: DataFrame,
    books: DataFrame,
    dim: int,
    n_subs: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress each vector to ``n_subs`` bytes: (id, codes array<tinyint>)
    where codes[s] is the nearest codebook entry of subspace s. A 100 TB
    float32 corpus at dim=64/n_subs=8 becomes a ~3 TB code table — the
    table ``pq_topk`` scans. One broadcast join, no shuffle."""
    base = vectors_df.select(F.col(id_col), F.col(vec_col))
    return _with_pq_codes(base, books, vec_col, dim, n_subs).select(
        F.col(id_col), "codes"
    )


def ivf_pq_topk(
    vectors_df: DataFrame,
    queries_df: DataFrame,
    centroids: DataFrame,
    books: DataFrame,
    dim: int,
    n_subs: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_probe: int = 4,
    refine: int = 8,
    exclude_self: bool = False,
    coded: DataFrame | None = None,
) -> DataFrame:
    """IVF × PQ — the composed billion-scale ANN layout: IVF bounds WHICH
    vectors a query touches (only its ``n_probe`` nearest cells), PQ
    bounds WHAT each touch costs (n_subs byte-code lookups over a ~32×
    smaller table), and the exact-cosine rerank of the refine·k survivors
    restores the brute-force result contract.

    ``coded`` (from ``encode_ivf_pq``) is the persistable corpus: (id,
    cell_id, codes) — at 100 TB you materialize it partitioned by
    cell_id so a probe prunes partitions at the scan. Training inputs
    (``train_centroids``, ``train_pq``) are sampled upstream. Probe and
    ADC scan are :func:`ivf_pq_topk_against_index`'s, over ``coded``."""
    if coded is None:
        coded = encode_ivf_pq(
            vectors_df, centroids, books, dim, n_subs, id_col, vec_col
        )
    cands = _adc_candidates(
        _probe_cells(queries_df, centroids, query_id_col, vec_col, n_probe),
        ensure_parallelism(coded).select(
            F.col(id_col).alias("id"), "codes", "cell_id"
        ),
        books, dim, n_subs, query_id_col, id_col, refine * k, exclude_self,
    )
    return _exact_rerank(
        vectors_df.select(id_col, vec_col),
        queries_df.select(query_id_col, vec_col),
        cands, query_id_col, id_col, k,
    )


def encode_ivf_pq(
    vectors_df: DataFrame,
    centroids: DataFrame,
    books: DataFrame,
    dim: int,
    n_subs: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell_id, codes): the persistable IVF-PQ corpus — one pass,
    two broadcast joins (cell assignment + code assignment), no shuffle.
    Write it partitioned by cell_id (or bucketed) so probes prune at the
    scan."""
    coded = _with_pq_codes(
        _ivf_corpus(vectors_df, centroids, id_col, vec_col), books, "vec",
        dim, n_subs,
    )
    return coded.select(F.col("id").alias(id_col), "cell_id", "codes")


def pq_topk(
    vectors_df: DataFrame,
    queries_df: DataFrame,
    books: DataFrame,
    dim: int,
    n_subs: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    refine: int = 8,
    exclude_self: bool = False,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ ANN with asymmetric distance computation (ADC): rank the code
    table by Σ_s lut[s][codes[s]], then rerank the bounded survivors with
    exact cosine (same contract as ``bq_topk``/``brute_force_topk``).

    Each query precomputes a lookup table lut[s][c] = ‖q_s − books[s][c]‖²
    (n_subs·n_codes tiny distance computations, broadcast with the query)
    — the scan then costs ``n_subs`` array lookups + adds per pair instead
    of ``dim`` float multiplies, over a code table ~32× smaller than the
    float corpus. ADC approximates L2; for cosine fidelity pre-normalize
    corpus and queries (``vectors.normalize``), which makes L2 rank order
    ≡ cosine rank order. Finer than BQ's 1 bit/dim (here log2(n_codes)
    bits per dim/n_subs dims), same two-stage shape; at 100 TB compose
    with IVF cells for the candidate bound and PQ codes for the scan cost.
    """
    q = queries_df.select(
        F.col(query_id_col).alias("__qid"),
        _subvecs(F.col(vec_col), dim, n_subs).alias("__qsv"),
    )
    q_lut = F.broadcast(
        q.crossJoin(F.broadcast(_packed_books(books)))
        .select("__qid", _pq_lut().alias("__lut"))
    )
    code_table = codes or encode_pq(
        vectors_df, books, dim, n_subs, id_col, vec_col
    )
    scored = (
        ensure_parallelism(code_table)
        .crossJoin(q_lut)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col),
            _pq_adc().alias("adc"),
        )
    )
    cands = _topk_per_query(
        scored, query_id_col, id_col, refine * k,
        value_col="adc", ascending=True, exclude_self=exclude_self,
    )
    return _exact_rerank(
        vectors_df.select(id_col, vec_col),
        queries_df.select(query_id_col, vec_col),
        cands, query_id_col, id_col, k,
    )


# ---------------------------------------------------------------------------
# Incremental IVF index (r11): embeddings arrive in waves; re-assigning
# the whole corpus per wave (what ivf_topk does) is a full-corpus job at
# every arrival. The index persists assigned postings per batch and new
# waves append THEIR rows only, as an incremental store
# (operators/maintenance.py owns its commit, reap and compaction). A
# served query reads the probed cells' postings and scores them with the
# one-shot paths' scorers:
#
#   <path>/centroids/      frozen (cell_id, centroid) — written once at
#                          init; appends READ it, so an append can never
#                          assign against drifted centroids
#   <path>/postings/       (id, vec, cell_id) partitioned by
#                          (__src_batch, __cell_kp = cell_id % _IVF_KP);
#                          cell_id-sorted files so probe reads prune row
#                          groups inside each kp file too
#   <path>/assign_stats/   one row per batch (n_vectors, sum_dist) —
#                          distance of each appended vector to its
#                          assigned centroid; the retrain drift signal
#
# Query reads prune postings partitions to the probed cells' kp buckets
# driver-side (the probed-cell set is ≤ n_cells rows — a bounded
# collect).
# ---------------------------------------------------------------------------

_IVF_KP = 16


def _cell_kp_col() -> "F.Column":
    # cell_ids are non-negative by construction (pmod seeds in
    # train_centroids), so pmod here ≡ Python % in _ivf_kps
    return F.pmod(F.col("cell_id"), F.lit(_IVF_KP)).cast("int")


def _ivf_kps(cells) -> list[int]:
    return sorted({int(c) % _IVF_KP for c in cells})


def _index_dim(centroids: DataFrame) -> int:
    """The index's dimension: its centroids' length — a one-row driver
    probe (the bq_topk convention)."""
    return centroids.select(F.size("centroid").alias("d")).first()["d"]


def _pq_n_subs(books: DataFrame | None) -> int | None:
    """The PQ books' subspace count — a one-row driver probe; None for
    an index without books."""
    if books is None:
        return None
    return books.select(F.countDistinct("sub_id").alias("n")).first()["n"]


def init_ivf_index(
    path: str, centroids: DataFrame, pq_books: DataFrame | None = None
) -> None:
    """Create the index root and freeze its centroid table — plus,
    optionally, its PQ codebooks (``train_pq`` output): with books
    frozen at init, EVERY appended posting carries its n_subs-byte code
    and ``ivf_pq_topk_against_index`` serves the ADC-scan path. Fails if
    the index already exists — centroids/books define every stored
    assignment/code, so replacing them under live postings corrupts the
    index (train new ones → init a NEW path → re-append). Books cannot
    be added to a populated index for the same reason: existing postings
    would have no codes."""
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(centroids.sparkSession)
    root = path.rstrip("/")
    if ops.exists(f"{root}/centroids"):
        raise ValueError(
            f"IVF index already initialized at {path} — init a new path "
            "to change centroids"
        )
    bad = centroids.filter(F.col("cell_id") < 0).limit(1).count()
    if bad:
        raise ValueError("cell_id must be non-negative (kp layout invariant)")
    # a crashed earlier init can strand a books dir without the
    # centroids commit marker — reap it, or a books-less retry would
    # silently adopt books the caller never associated with THESE
    # centroids (read_ivf_pq_books refuses such orphans too)
    ops.delete(f"{root}/pq_books", recursive=True)
    if pq_books is not None:
        dim = _index_dim(centroids)
        shape = pq_books.agg(
            F.countDistinct("sub_id").alias("n_subs"),
            F.min(F.size("centroid")).alias("lo"),
            F.max(F.size("centroid")).alias("hi"),
        ).first()
        n_subs, sub_dim = shape["n_subs"], shape["lo"]
        if not n_subs or sub_dim is None:
            raise ValueError("pq_books is empty")
        if shape["lo"] != shape["hi"] or n_subs * sub_dim != dim:
            raise ValueError(
                f"pq_books shape ({n_subs} subspaces × {shape['lo']}.."
                f"{shape['hi']} dims) does not tile the index dim {dim}"
            )
        # codes store as tinyint (train_pq enforces n_codes <= 127; a
        # hand-built oversized book would wrap negative at append)
        biggest = (
            pq_books.groupBy("sub_id").agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("m")).first()["m"]
        )
        if biggest > 127:
            raise ValueError(
                f"pq_books has {biggest} codes in one subspace — codes "
                "are tinyint, max 127 per subspace"
            )
        pq_books.select("sub_id", "cell_id", "centroid").write.mode(
            "errorifexists"
        ).parquet(f"{root}/pq_books")
    # centroids LAST: their presence is the init commit marker — a crash
    # before this line leaves no index (the books dir is reaped above)
    centroids.select("cell_id", "centroid").write.mode("errorifexists").parquet(
        f"{root}/centroids"
    )


def _reindex_log_info(spark, path: str) -> tuple[int, int | None]:
    """(epoch, max boundary batch) from the KB-scale ``reindex_log`` —
    epoch is the retrain count (0 for a fresh index; appends stamp it
    on their drift rows), the boundary is the highest batch id present
    at any retrain (the staleness fallback for UN-stamped legacy
    rows)."""
    from eel_spark.sources.hdfs import HdfsOps

    root = path.rstrip("/")
    if not HdfsOps(spark).exists(f"{root}/reindex_log"):
        return 0, None
    row = spark.read.parquet(f"{root}/reindex_log").agg(
        F.count(F.lit(1)).alias("n"), F.max("boundary_batch").alias("b")
    ).first()
    return row["n"], row["b"]


def _current_epoch(spark, path: str) -> int:
    return _reindex_log_info(spark, path)[0]


def read_ivf_centroids(spark, path: str) -> DataFrame:
    from eel_spark.sources.hdfs import HdfsOps

    root = path.rstrip("/")
    ops = HdfsOps(spark)
    if not ops.exists(f"{root}/centroids"):
        # a reindex that crashed between _staged_swap's two root renames
        # leaves the REAL corpus staged at <root>__old; telling the
        # caller to init would create a fresh index beside it. Readers
        # take no lease, so route them to any writer (its lease
        # acquisition heals the swap) instead.
        if ops.exists(root + "__old"):
            raise ValueError(
                f"interrupted reindex/compact at {path}: the index is "
                f"staged aside at {root}__old — run any index writer "
                "(append_ivf_batch, compact_ivf_index, reindex_ivf_index "
                "— its store lease heals the swap) instead of "
                "init_ivf_index"
            )
        raise ValueError(f"no IVF index at {path} — call init_ivf_index first")
    return spark.read.parquet(f"{root}/centroids")


def read_ivf_pq_books(spark, path: str) -> DataFrame | None:
    """The index's frozen PQ codebooks, or None when it was initialized
    without them (vec+sig postings only). Books without the centroids
    commit marker are an interrupted init's orphan — refused, never
    silently served."""
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    root = path.rstrip("/")
    if not ops.exists(f"{root}/pq_books"):
        return None
    if not ops.exists(f"{root}/centroids"):
        raise ValueError(
            f"orphaned pq_books at {path} (interrupted init) — re-run "
            "init_ivf_index"
        )
    return spark.read.parquet(f"{root}/pq_books")


@locked_store_write("path", "batch_df", token_arg="src_batch")
def append_ivf_batch(
    path: str,
    batch_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src_batch: int = 0,
) -> None:
    """Assign one wave against the index's frozen centroids and fold its
    postings in, idempotently, through ``maintenance.commit_batch``
    (postings reaped per ``__cell_kp``). The assignment is the
    shuffle-free broadcast argmin — appending a wave never touches
    existing postings, so cost is O(|wave| · n_cells) compares + one
    partitioned write, regardless of index size. Also records the
    wave's (n_vectors, sum_dist) drift row.
    """
    from eel_spark.caching import pin, pins_mark, release_pins_since

    spark = batch_df.sparkSession
    root = path.rstrip("/")
    centroids = read_ivf_centroids(spark, path)
    # the index's dimension is the centroids' — a one-row driver probe
    # (the bq_topk convention); packed sign sketches ride along in the
    # postings (1/32 the vector bytes) so ivf_bq_topk_against_index can
    # Hamming-prefilter inside probed cells without a second store
    dim = _index_dim(centroids)
    mark = pins_mark()
    try:
        assigned = pin(
            _assign_cells(
                _as_double(batch_df, id_col, vec_col, "id", "vec"),
                centroids,
                "vec",
                dist_col="__cdist",
            ).withColumn("__cell_kp", _cell_kp_col())
        )
        # the ONE invariant the index knows is its dimension — a wave
        # from a different embedding model would otherwise be assigned
        # by prefix distance (zip_with truncates) and its sign sketch
        # would ANSI-error (too short) or truncate (too long), poisoning
        # the store. Checked BEFORE the sketch projection so the error
        # is this message, not an element_at index error.
        bad = assigned.where(
            F.coalesce(F.size("vec"), F.lit(-1)) != dim
        ).select("id", F.size("vec").alias("got")).limit(1).collect()
        if bad:
            raise ValueError(
                f"append_ivf_batch: vector dim {bad[0]['got']} (id "
                f"{bad[0]['id']}) != index dim {dim} — wrong embedding "
                "model for this index"
            )
        new_kps = {
            r["__cell_kp"]
            for r in assigned.select("__cell_kp").distinct().collect()
        }
        post = assigned.withColumn(
            "sig", vectors.pack_sign_bits(F.col("vec"), dim)
        )
        cols = ["id", "vec", "sig", "cell_id", "__cell_kp"]
        books = read_ivf_pq_books(spark, path)
        if books is not None:
            post = _with_pq_codes(post, books, "vec", dim, _pq_n_subs(books))
            cols.insert(3, "codes")
        commit_batch(
            post.select(*cols)
            .withColumn("__src_batch", F.lit(int(src_batch)))
            .sortWithinPartitions("__cell_kp", "cell_id"),
            f"{root}/postings", src_batch, ("__src_batch", "__cell_kp"),
            new_kps,
        )
        commit_batch(
            assigned.agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.coalesce(F.sum("__cdist"), F.lit(0.0)).alias("sum_dist"),
            )
            # stamp the centroid epoch the distances were measured
            # against: a batch replayed AFTER a reindex re-measures vs
            # the new centroids, and the stamp (not its batch id) is
            # what keeps its drift row counting as fresh (r12 review)
            .withColumn("__epoch", F.lit(_current_epoch(spark, path)))
            .withColumn("__src_batch", F.lit(int(src_batch))),
            f"{root}/assign_stats", src_batch, ("__src_batch",),
        )
    finally:
        release_pins_since(mark)


def _served_probes(
    spark, path: str, queries_df: DataFrame, query_id_col: str,
    vec_col: str, n_probe: int,
) -> tuple[DataFrame, DataFrame, list[int], int | None]:
    """The served preamble: (centroids, probes, probed cell ids, index
    dim). The queries probe the index's frozen centroids; the probed
    cells are collected driver-side for partition pruning (bounded
    ≤ n_cells), with query validation folded into the SAME job:
    wrong-dimension query vectors fail as loudly as wrong-dimension
    waves do at append (zip_with would otherwise score by prefix
    truncation), and a NULL vector (a query id whose embedding row went
    missing in the caller's join) gets its own diagnosis instead of a
    misleading model-mismatch error. The index dim rides back too, so
    the BQ/PQ paths need no centroids probe of their own. ``dim`` is
    None only for an EMPTY query batch (no probes to measure)."""
    centroids = read_ivf_centroids(spark, path)
    probes = _probe_cells(queries_df, centroids, query_id_col, vec_col, n_probe)
    row = probes.agg(
        F.collect_set("cell_id").alias("cells"),
        F.min("__qdim").alias("qlo"),
        F.max("__qdim").alias("qhi"),
        F.max("__cdim").alias("dim"),
        F.sum(F.when(F.col("__qdim").isNull(), 1).otherwise(0)).alias("nulls"),
    ).first()
    if row["nulls"]:
        raise ValueError(
            "query batch contains a NULL vector — a query id without an "
            "embedding (left-join artifact?); drop or backfill it before "
            "serving"
        )
    dim = row["dim"]
    if row["qlo"] is not None and (row["qlo"] != dim or row["qhi"] != dim):
        got = row["qlo"] if row["qlo"] != dim else row["qhi"]
        raise ValueError(
            f"query vector dim {got} != index dim {dim} — wrong "
            "embedding model for this index"
        )
    return centroids, probes, sorted(row["cells"]), dim


def read_ivf_postings(
    spark, path: str, cells: Sequence[int] | None = None,
    with_sig: bool = False, with_codes: bool = False,
) -> DataFrame:
    """Stored postings (id, vec, cell_id; + the packed sign sketch with
    ``with_sig``; + the PQ code array with ``with_codes``). ``cells``
    prunes the read to the probed cells: partition pruning on
    ``__cell_kp`` (kp set derived driver-side — no Spark job) plus a
    ``cell_id`` predicate the sorted files answer with row-group
    min/max."""
    # mergeSchema: on a MIXED store (pre-sketch batches + re-appended
    # sketch-bearing ones) plain schema inference picks one file's
    # schema nondeterministically — sig would vanish or appear by
    # coin-flip; merged, legacy rows read as sig=NULL deterministically
    # (the BQ path degrades them instead of mis-ranking, see
    # ivf_bq_topk_against_index)
    df = spark.read.option("mergeSchema", "true").parquet(
        f"{path.rstrip('/')}/postings"
    )
    if with_sig and "sig" not in df.columns:
        raise ValueError(
            f"index at {path} predates stored sign sketches — run "
            "compact_ivf_index (it backfills sketches from the stored "
            "vectors) to use the BQ-prefiltered path"
        )
    if with_codes and "codes" not in df.columns:
        raise ValueError(
            f"index at {path} was initialized without PQ codebooks — "
            "init a new index with pq_books= to use the ADC-scan path"
        )
    if cells is not None:
        cl = sorted({int(c) for c in cells})
        df = df.where(
            F.col("__cell_kp").isin(_ivf_kps(cl)) & F.col("cell_id").isin(cl)
        )
    return df.select(
        "id", "vec",
        *(["sig"] if with_sig else []),
        *(["codes"] if with_codes else []),
        "cell_id",
    )


def _serve_prefiltered(
    spark, path: str, queries_df: DataFrame, id_col: str, vec_col: str,
    query_id_col: str, k: int, n_probe: int,
    scan: Callable[[DataFrame, list[int], int], DataFrame],
) -> DataFrame:
    """The BQ and PQ served paths around their candidate scan:
    ``scan(probes, cells, dim)`` returns the prefilter's (query, id)
    candidates, reranked by exact cosine between the probed cells'
    stored vectors and the double-cast query vectors. The scans' sketch
    and subvector expressions need the index dim even for an empty query
    batch, which has no probe to measure it."""
    centroids, probes, cells, dim = _served_probes(
        spark, path, queries_df, query_id_col, vec_col, n_probe
    )
    if dim is None:
        dim = _index_dim(centroids)
    cands = scan(probes, cells, dim)
    return _exact_rerank(
        read_ivf_postings(spark, path, cells=cells).select("id", "vec"),
        _as_double(queries_df, query_id_col, vec_col, "__qid", "__qv"),
        cands, query_id_col, id_col, k,
    )


def ivf_topk_against_index(
    spark,
    path: str,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_probe: int = 4,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF top-k served FROM the incremental index: probe cells against
    the frozen centroids, read only the probed cells' postings
    (partition-pruned — plan-asserted in tests) and score them with
    :func:`ivf_topk`'s cosine top-k. The stored postings are the
    assignment ``ivf_topk`` computes in place, so the result is
    bit-identical to it over the union of appended waves with the same
    centroids, except no full-corpus re-assignment happens at query
    time."""
    _, probes, cells, _ = _served_probes(
        spark, path, queries_df, query_id_col, vec_col, n_probe
    )
    return _cosine_topk(
        probes, ensure_parallelism(read_ivf_postings(spark, path, cells=cells)),
        query_id_col, id_col, k, exclude_self,
    )


def _hamming_candidates(
    probes: DataFrame, postings: DataFrame, dim: int, query_id_col: str,
    id_col: str, n: int, exclude_self: bool,
) -> DataFrame:
    """Hamming scan: each probe row (__qid, __qv, cell_id) is
    sign-sketched and joined on ``cell_id`` to a postings frame (id, sig,
    cell_id); the ``n`` nearest per query survive. Legacy rows on a
    mixed store read as sig = NULL (mergeSchema): their Hamming
    coalesces to an impossible worst so they rank LAST — ascending order
    is NULLS FIRST, which would let un-sketched rows take every candidate
    slot. They degrade to prefilter-invisible (the plain path still
    finds them) rather than poisoning the ranking."""
    qsig = probes.withColumn("__qsig", vectors.pack_sign_bits(F.col("__qv"), dim))
    ham = qsig.join(postings, "cell_id").select(
        F.col("__qid").alias(query_id_col),
        F.col("id").alias(id_col),
        F.coalesce(
            vectors.hamming(F.col("sig"), F.col("__qsig")),
            F.lit(1 << 30),
        ).alias("hamming"),
    )
    return _topk_per_query(
        ham, query_id_col, id_col, n,
        value_col="hamming", ascending=True, exclude_self=exclude_self,
    )


def ivf_bq_topk_against_index(
    spark,
    path: str,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_probe: int = 4,
    refine: int = 8,
    exclude_self: bool = False,
) -> DataFrame:
    """The composed 100 TB query path over the incremental index: IVF
    bounds WHICH postings a query touches (probed cells only, partition-
    pruned), the stored sign sketch bounds WHAT each touch costs — stage
    1 compares 8 bytes per 64 dims (xor + bit_count on the ``sig``
    column), keeps ``refine·k`` Hamming survivors per query via the
    salted top-k, stage 2 reranks only the survivors by exact cosine.
    Result format and tie-breaks match :func:`ivf_topk_against_index`;
    only stage-1 misses cost recall (recall-floor tested; raise
    ``refine`` or ``n_probe`` to trade cost for recall)."""
    def scan(probes, cells, dim):
        postings = read_ivf_postings(spark, path, cells=cells, with_sig=True)
        return _hamming_candidates(
            probes, ensure_parallelism(postings), dim,
            query_id_col, id_col, refine * k, exclude_self,
        )

    return _serve_prefiltered(
        spark, path, queries_df, id_col, vec_col, query_id_col, k, n_probe,
        scan,
    )


def ivf_pq_topk_against_index(
    spark,
    path: str,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_probe: int = 4,
    refine: int = 8,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF×PQ served FROM the incremental index (requires an index
    initialized with ``pq_books``): probe cells, ADC-scan ONLY the
    probed cells' stored code arrays (n_subs byte lookups per pair over
    a partition-pruned read that never touches the float vectors),
    exact-cosine rerank of the refine·k survivors from the stored
    vectors. The probe and ADC scan are the one-shot ``ivf_pq_topk``'s,
    over the stored codes instead of freshly encoded ones, so results
    match it exactly for the same centroids/books/corpus (tested)."""
    def scan(probes, cells, dim):
        books = read_ivf_pq_books(spark, path)
        if books is None:
            raise ValueError(
                f"index at {path} was initialized without PQ codebooks — "
                "init a new index with pq_books= to use the ADC-scan path"
            )
        n_subs = _pq_n_subs(books)
        postings = read_ivf_postings(spark, path, cells=cells, with_codes=True)
        return _adc_candidates(
            probes, ensure_parallelism(postings), books, dim, n_subs,
            query_id_col, id_col, refine * k, exclude_self,
        )

    return _serve_prefiltered(
        spark, path, queries_df, id_col, vec_col, query_id_col, k, n_probe,
        scan,
    )


def ivf_drift_report(spark, path: str) -> DataFrame:
    """Per appended batch: how far its vectors sat from their assigned
    centroids — (src_batch, n_vectors, mean_dist, stale_epoch). A
    rising mean_dist across CURRENT-epoch batches means the data has
    drifted off the frozen centroids (cells unbalance, probes lose
    recall): run :func:`reindex_ivf_index`. Drift rows record the
    distance to the centroids in force AT APPEND TIME; after a reindex
    the pre-retrain rows keep their spike as history, so
    ``stale_epoch = true`` marks rows measured against since-replaced
    centroids — automation keyed on the spike must filter to
    ``stale_epoch = false`` or it re-fires on the very drift the
    retrain already absorbed (r12 review). Staleness compares each
    row's stamped ``__epoch`` (appends record the reindex count in
    force) to the current count — NOT batch ids, which collapse to the
    -1 sentinel under compaction and get re-stamped FRESH when a batch
    replays after a reindex (r12 review, second pass). Rows from
    pre-r12 appenders carry no stamp and fall back to the boundary
    rule — stale iff their batch id was present at a retrain — so an
    upgraded-in-place store never flips its post-retrain legacy rows
    to stale and silently suppresses the NEXT retrain signal (r12
    review, third pass). Known asymmetry of that fallback: a PRE-r12
    appender that replays a batch AFTER a reindex re-measures against
    the new centroids but its un-stamped row still falls under the
    boundary rule and reads stale — fresh drift slightly
    under-reported on mixed-version deployments. Upgrade appenders
    BEFORE replaying past a reindex to avoid the misclassification
    (r12 advice). One scan of the KB-scale stats table + one
    KB-scale log probe."""
    current, max_boundary = _reindex_log_info(spark, path)
    stats = spark.read.option("mergeSchema", "true").parquet(
        f"{path.rstrip('/')}/assign_stats"
    )
    legacy_stale = (
        F.col("__src_batch") <= F.lit(max_boundary)
        if max_boundary is not None
        else F.lit(False)
    )
    if "__epoch" in stats.columns:
        stale = F.when(
            F.col("__epoch").isNotNull(), F.col("__epoch") < F.lit(current)
        ).otherwise(legacy_stale)
    else:
        stale = legacy_stale
    return (
        stats.select(
            F.col("__src_batch").alias("src_batch"),
            "n_vectors",
            F.try_divide(F.col("sum_dist"), F.col("n_vectors")).alias("mean_dist"),
            stale.alias("stale_epoch"),
        )
        .orderBy("src_batch")
    )


def ivf_index_report(spark, path: str) -> DataFrame:
    """Per-cell balance: (cell_id, n_vectors, n_batches). A cell holding
    a disproportionate share of postings is the IVF skew signal (probes
    hitting it scan that share of the corpus) — the retrain/re-shard
    trigger alongside :func:`ivf_drift_report`. One map-side-combinable
    groupBy over the postings."""
    return (
        spark.read.parquet(f"{path.rstrip('/')}/postings")
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("__src_batch").alias("n_batches"),
        )
    )


@locked_store_write("path", "spark")
def compact_ivf_index(spark, path: str) -> None:
    """Collapse the per-batch postings into one ``__src_batch = -1``
    partition set through ``maintenance._compact_to_sentinel`` (file
    count drops to ≤1 per kp dir; query reads stop opening O(batches)
    files). Run it offline, past the replay horizon. Per-batch drift
    rows in assign_stats are kept (compaction does not rewrite
    history's drift signal).

    Compaction also BACKFILLS derived columns on legacy rows (r11
    verdict #4): postings appended by a pre-sketch writer (``sig`` NULL
    or absent) get their sign sketch computed from the stored vector in
    the same rewrite, and on a books-bearing index NULL ``codes`` get
    their PQ code array — one projection over rows already being
    rewritten, so after compaction the degraded-legacy class is GONE
    and the BQ/ADC paths rank every row at full fidelity."""
    store = f"{path.rstrip('/')}/postings"
    dim = _index_dim(read_ivf_centroids(spark, path))
    books = read_ivf_pq_books(spark, path)
    # mergeSchema: a mixed pre-/post-sketch store must not lose the sig
    # column to a schema-inference coin flip — merged, legacy rows read
    # sig = NULL deterministically and the backfill fills them from the
    # stored vectors
    raw = spark.read.option("mergeSchema", "true").parquet(store)
    keep = (
        ["id", "vec", "sig"]
        + (["codes"] if books is not None else [])
        + ["cell_id", "__cell_kp"]
    )
    _compact_to_sentinel(
        store,
        _backfill_postings(raw, dim, books, _pq_n_subs(books)).select(*keep),
        "__src_batch",
        ("__src_batch", "__cell_kp"),
        lambda df: df.repartition("__cell_kp")
        .sortWithinPartitions("__cell_kp", "cell_id"),
    )


def _backfill_postings(
    raw: DataFrame, dim: int, books: DataFrame | None, n_subs: int | None
) -> DataFrame:
    """Fill derived posting columns from the stored vectors: ``sig``
    where NULL or absent, and (on a books-bearing index) ``codes`` where
    NULL — shared by ``compact_ivf_index`` and ``reindex_ivf_index`` so
    every store rewrite leaves zero degraded-legacy rows. ``n_subs`` is
    the caller's ``_pq_n_subs(books)``."""
    sig = vectors.pack_sign_bits(F.col("vec"), dim)
    out = raw.withColumn(
        "sig", F.coalesce(F.col("sig"), sig) if "sig" in raw.columns else sig
    )
    if books is not None:
        out = _with_pq_codes(out, books, "vec", dim, n_subs, out="__bf_codes")
        out = out.withColumn(
            "codes",
            F.coalesce(F.col("codes"), F.col("__bf_codes"))
            if "codes" in raw.columns
            else F.col("__bf_codes"),
        ).drop("__bf_codes")
    return out


@locked_store_write("path", "spark")
def reindex_ivf_index(
    spark,
    path: str,
    centroids: DataFrame | None = None,
    n_cells: int | None = None,
    iterations: int = 3,
    sample_mod: int = 1,
) -> None:
    """Act on :func:`ivf_drift_report`'s retrain signal: retrain (or
    accept) fresh centroids and rewrite the index around them — the
    operator that closes the index lifecycle (init → append → drift →
    REINDEX → append …). Frozen centroids are otherwise forever: after
    enough distribution drift every new wave lands in a few hot cells
    and probe pruning decays toward scanning everything
    (``ivf_index_report``'s imbalance is the symptom).

    ``centroids=None`` (default) retrains over the stored postings via
    :func:`train_centroids`' sampled path (``sample_mod`` keeps the
    k-means scans bounded on a large index; ``n_cells`` defaults to the
    current cell count). An explicit ``centroids`` table is validated
    exactly like ``init_ivf_index`` (non-negative cell ids, matching
    dimension).

    What is rewritten, in one staged build of a replacement index root
    swapped in atomically (``maintenance._staged_swap``, the crash
    contract shared with the compactors — run OFFLINE, past the replay
    horizon):

    - ``centroids``: the new table (the new frozen epoch).
    - ``postings``: every stored vector re-assigned to its nearest new
      centroid (the shuffle-free broadcast argmin) with ``__cell_kp``
      recomputed; the per-``__src_batch`` partitioning is PRESERVED, so
      a checkpoint replaying an old batch after the reindex converges
      exactly as before (the replayed append assigns against the new
      centroids and overwrites only its own partition). Sketches and PQ
      codes depend only on the vector and the frozen books — NOT on the
      centroids — so they carry through unchanged (NULL legacy values
      are backfilled in the same rewrite, as in compaction).
    - ``pq_books``: copied verbatim — books stay frozen across a
      reindex, which is exactly why the stored codes remain valid.
    - ``assign_stats``: copied verbatim. Drift rows record each wave's
      distance to the centroids IN FORCE AT APPEND TIME — history, kept
      per batch (compacted stores keep their full per-batch history
      too). Waves appended after the reindex measure against the new
      centroids, so a fresh drift trend on the report is the signal for
      the NEXT retrain — and a boundary row appended to ``reindex_log``
      marks every batch present at this retrain ``stale_epoch`` in
      :func:`ivf_drift_report`, so automation keyed on the spike sees
      it as acted-on history, not fresh drift.

    Cost: one k-means over the (sampled) postings + one full postings
    rewrite — the same order as a compaction plus the training scans.
    Queries served from the reindexed store are bit-identical to
    one-shot ``ivf_topk`` with the new centroids over the union of
    appended waves (tested)."""
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    root = path.rstrip("/")
    old_cents = read_ivf_centroids(spark, path)
    dim = _index_dim(old_cents)
    books = read_ivf_pq_books(spark, path)
    if centroids is None:
        cells = int(n_cells) if n_cells is not None else old_cents.count()
        centroids = train_centroids(
            read_ivf_postings(spark, path),
            vec_col="vec",
            n_cells=cells,
            iterations=iterations,
            sample_mod=sample_mod,
            id_col="id",
        )
    else:
        if centroids.filter(F.col("cell_id") < 0).limit(1).count():
            raise ValueError(
                "cell_id must be non-negative (kp layout invariant)"
            )
        shape = centroids.agg(
            F.min(F.size("centroid")).alias("lo"),
            F.max(F.size("centroid")).alias("hi"),
        ).first()
        if shape["lo"] is None:
            raise ValueError("centroids is empty")
        if shape["lo"] != dim or shape["hi"] != dim:
            raise ValueError(
                f"centroid dim {shape['lo']}..{shape['hi']} != index dim "
                f"{dim} — a reindex cannot change the embedding model"
            )

    def rewrite(tmp: str) -> None:
        if books is not None:
            books.write.mode("overwrite").parquet(f"{tmp}/pq_books")
        centroids.select("cell_id", "centroid").write.mode(
            "overwrite"
        ).parquet(f"{tmp}/centroids")
        # read the WRITTEN centroids back for the re-assignment: breaks
        # the k-means lineage so training executes once, not once per
        # downstream use
        new_cents = spark.read.parquet(f"{tmp}/centroids")
        raw = spark.read.option("mergeSchema", "true").parquet(
            f"{root}/postings"
        )
        filled = _backfill_postings(raw, dim, books, _pq_n_subs(books))
        keep = (
            ["id", "vec", "sig"]
            + (["codes"] if books is not None else [])
            + ["__src_batch"]
        )
        assigned = _assign_cells(
            filled.select(*keep), new_cents, "vec"
        ).withColumn("__cell_kp", _cell_kp_col())
        (
            assigned.select(
                *[c for c in keep if c != "__src_batch"],
                "cell_id", "__src_batch", "__cell_kp",
            )
            .repartition("__src_batch", "__cell_kp")
            .sortWithinPartitions("__cell_kp", "cell_id")
            .write.mode("overwrite")
            .partitionBy("__src_batch", "__cell_kp")
            .parquet(f"{tmp}/postings")
        )
        # mergeSchema: preserve the __epoch stamps across a mix of pre-
        # and post-r12 appender rows
        stats = spark.read.option("mergeSchema", "true").parquet(
            f"{root}/assign_stats"
        )
        stats.write.mode("overwrite").partitionBy("__src_batch").parquet(
            f"{tmp}/assign_stats"
        )
        # epoch log: one row per retrain. Appends stamp the log's row
        # count (the epoch) on their drift rows; ivf_drift_report marks
        # rows stamped below the current count stale_epoch, so the
        # acted-on spike never re-fires retrain automation. The
        # boundary batch id is informational — from assign_stats, NOT
        # the postings (compaction collapses posting batch ids to the
        # -1 sentinel while stats keep per-batch history — r12 review,
        # second pass).
        boundary = stats.agg(F.max("__src_batch").alias("b")).first()["b"]
        log = (
            spark.read.parquet(f"{root}/reindex_log")
            if ops.exists(f"{root}/reindex_log")
            else None
        )
        row = spark.createDataFrame(
            [(int(boundary) if boundary is not None else -1,)],
            "boundary_batch long",
        )
        log = row if log is None else log.unionByName(row)
        log.write.mode("overwrite").parquet(f"{tmp}/reindex_log")

    _staged_swap(spark, root, rewrite)
