"""Deterministic stratified sampling for training-data pipelines.

A 100 TB corpus is never trained on whole: pipelines cap documents per
domain, mix languages by weight (often count^(1/T) "temperature"
mixing), and need the SAME sample back on every run and every task
retry. Spark's built-ins don't give that:

- ``df.sample`` / ``df.stat.sampleBy`` draw from ``rand(seed)``, which
  is seeded per PARTITION INDEX — repartitioning, AQE coalescing, or a
  task retry on different splits changes the sample. Content-hash
  sampling (``xxhash64`` of the row key) is a pure function of the
  data: retry-safe, repartition-safe, reproducible across clusters.
- there is no built-in "at most n rows per group" or "exact total
  budget across groups".

Everything here is pure Catalyst (no Python in the row path); the only
driver-side step is the per-GROUP allocation in
:func:`proportional_budget_sample`, which touches |groups| rows, never
|df|.

Reference parity note: the reference's only sampling surface is
``DataStream.sample`` (`eel-core/src/main/scala/io/eels/datastream/
DataStream.scala:665`, a racy shared counter) — these operators are the
brief-mandated LLM-pipeline extension beyond it.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eel_spark.operators.similarity import _N_SALT


def _hash_order(hash_cols: Sequence[str], seed: int) -> Column:
    """Deterministic pseudo-random order key: a pure function of the
    named columns (NOT of partitioning), so the induced order — and any
    sample cut from it — survives retries and repartitioning."""
    return F.xxhash64(F.lit(int(seed)), *[F.col(c) for c in hash_cols])


def quota_sample(
    df: DataFrame,
    group_cols: Sequence[str],
    n_per_group: int,
    hash_cols: Sequence[str],
    seed: int = 0,
) -> DataFrame:
    """Keep at most ``n_per_group`` rows per group, chosen by
    deterministic hash order over ``hash_cols`` (unique-key columns —
    ties beyond the hash break on the columns themselves, so the result
    is a total function of the data).

    Scale shape: ``row_number() <= literal`` over (partitionBy groups,
    orderBy hash) is rewritten by Spark into a WindowGroupLimit, which
    prunes each map-side partition to n rows per group BEFORE the
    exchange — shuffle volume is ≤ groups×n per input partition, not
    |df|. Plan-asserted in tests/test_sampling.py
    (test_quota_sample_plan_window_group_limit).
    """
    from pyspark.sql import Window

    order = _hash_order(hash_cols, seed)
    w = Window.partitionBy(*group_cols).orderBy(
        order, *[F.col(c) for c in hash_cols]
    )
    return (
        df.withColumn("__qs_rn", F.row_number().over(w))
        .filter(F.col("__qs_rn") <= F.lit(int(n_per_group)))
        .drop("__qs_rn")
    )


def weighted_sample_without_replacement(
    df: DataFrame,
    weight_col: str,
    k: int,
    hash_cols: Sequence[str],
    group_cols: Sequence[str] = (),
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement — Efraimidis & Spirakis'
    A-ES (public): keep the ``k`` rows with the largest
    ``u^(1/w)`` (ordered here by the monotone-equivalent
    ``ln(u)/w``), where ``u ∈ (0,1)`` is a deterministic content-hash
    uniform over ``hash_cols``. Inclusion probabilities follow the
    sequential weighted draw exactly; the sample is a pure function of
    (data, seed) — retry-safe, repartition-safe, cluster-size-free —
    unlike ``rand()``-based draws (module docstring). The pipeline use:
    quality-weighted corpus subsampling (w = a quality score) where
    high-weight documents must be overrepresented but never duplicated
    (``replicate_by_weight`` is the WITH-replacement epoch tool).

    With ``group_cols``: top-k per group via one windowed rank — Spark
    rewrites ``row_number <= literal`` into WindowGroupLimit, pruning
    map-side like :func:`quota_sample`. WITHOUT groups a naive global
    window would single-reduce |df|, so the global path runs the shared
    two-phase salted top-k shape instead: phase 1 ranks within
    ``pmod(hash, _N_SALT)`` (map-side-pruned; the similarity kernel's
    salt count), phase 2 ranks the ≤ ``_N_SALT·k`` survivors. NULL or
    non-positive weights raise in-plan (A-ES is undefined there;
    silently dropping rows would skew every downstream estimate).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    denom = float(1 << 52)
    u = (
        F.pmod(_hash_order(hash_cols, seed), F.lit(1 << 52)) + F.lit(1.0)
    ) / F.lit(denom + 1.0)
    w_ok = F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    key = F.when(
        w_ok, F.log(u) / F.col(weight_col).cast("double")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "weighted_sample_without_replacement: weight "
                    f"column {weight_col!r} must be > 0 and non-NULL "
                    "(got "
                ),
                F.coalesce(F.col(weight_col).cast("string"), F.lit("NULL")),
                F.lit(")"),
            )
        ).cast("double")
    )
    tie = [F.col(c) for c in hash_cols]
    rn_name = "__ws_rn"
    if group_cols:
        w_spec = Window.partitionBy(*group_cols).orderBy(F.desc(key), *tie)
        return (
            df.withColumn(rn_name, F.row_number().over(w_spec))
            .filter(F.col(rn_name) <= F.lit(int(k)))
            .drop(rn_name)
        )
    salt = F.pmod(_hash_order(hash_cols, seed + 1), F.lit(_N_SALT))
    w1 = Window.partitionBy(salt).orderBy(F.desc(key), *tie)
    survivors = (
        df.withColumn(rn_name, F.row_number().over(w1))
        .filter(F.col(rn_name) <= F.lit(int(k)))
        .drop(rn_name)
    )
    w2 = Window.partitionBy().orderBy(F.desc(key), *tie)
    return (
        survivors.withColumn(rn_name, F.row_number().over(w2))
        .filter(F.col(rn_name) <= F.lit(int(k)))
        .drop(rn_name)
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    fractions: Mapping[object, float] | float,
    hash_cols: Sequence[str],
    seed: int = 0,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum Bernoulli-by-content-hash: keep a row iff
    ``pmod(xxhash64(seed, hash_cols), 2^20) < fraction * 2^20`` for its
    stratum. A pure FILTER — no shuffle, no RNG — so it composes with
    scan pushdown and is exactly reproducible anywhere.

    ``fractions`` is a single float (uniform) or a mapping from
    ``group_col`` value to fraction; unlisted strata get
    ``default_fraction``. The realized rate converges on the fraction
    (binomial, not exact-count — use :func:`quota_sample` /
    :func:`proportional_budget_sample` for exact counts).
    """
    denom = 1 << 20
    bucket = F.pmod(_hash_order(hash_cols, seed), F.lit(denom))
    if isinstance(fractions, Mapping):
        thresh: Column = F.lit(int(default_fraction * denom))
        for val, frac in fractions.items():
            thresh = F.when(
                F.col(group_col) == F.lit(val), F.lit(int(frac * denom))
            ).otherwise(thresh)
    else:
        thresh = F.lit(int(float(fractions) * denom))
    return df.filter(bucket < thresh)


def _waterfill(counts: list[tuple[object, int]], weights: list[float], total: int) -> dict:
    """Allocate ``total`` across groups ∝ weights, capping each group at
    its count and redistributing the excess among uncapped groups
    (iterative water-filling; ≤ |groups| rounds, driver-side on the
    per-group summary only). Largest-remainder rounding keeps the sum
    exact. Deterministic: ties break on group key order.

    Zero-weight groups are hard exclusions: they never receive budget,
    so the sum allocated is min(total, Σ counts of POSITIVE-weight
    groups) — leftover budget is not forced into excluded groups."""
    alloc: dict = {}
    remaining = list(range(len(counts)))
    budget = total
    while remaining and budget > 0:
        wsum = sum(weights[i] for i in remaining)
        if wsum <= 0:
            break
        shares = [(i, budget * weights[i] / wsum) for i in remaining]
        # groups whose fair share exceeds their size are capped this round
        capped = [i for i, s in shares if s >= counts[i][1]]
        if capped:
            for i in capped:
                alloc[counts[i][0]] = counts[i][1]
                budget -= counts[i][1]
            remaining = [i for i in remaining if i not in set(capped)]
            continue
        # no caps bind: largest-remainder round the fractional shares
        floors = [(i, int(s)) for i, s in shares]
        leftover = budget - sum(fl for _, fl in floors)
        order = sorted(
            range(len(shares)),
            key=lambda j: (-(shares[j][1] - floors[j][1]), str(counts[shares[j][0]][0])),
        )
        bump = {shares[order[j]][0] for j in range(leftover)}
        for i, fl in floors:
            alloc[counts[i][0]] = fl + (1 if i in bump else 0)
        budget = 0
        remaining = []
    for key, _n in counts:
        alloc.setdefault(key, 0)
    return alloc


def proportional_budget_sample(
    df: DataFrame,
    group_col: str,
    total: int,
    hash_cols: Sequence[str],
    weights: Mapping[object, float] | None = None,
    temperature: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Sample to an EXACT total row budget with per-group allocation
    ∝ ``weight(g) * count(g)^(1/temperature)`` — the standard
    language/domain mixing rule (temperature→∞ flattens toward uniform
    per group; 1.0 is proportional). Groups smaller than their share are
    taken whole and the slack is re-spread (water-filling), so the
    output totals exactly ``min(total, |df|)`` rows — except that
    explicit zero-weight groups are hard exclusions: their rows never
    count toward the budget, so with exclusions the total is
    ``min(total, rows in positive-weight groups)``. A NULL ``group_col``
    value is a real stratum (counted, allocated, null-safe joined).

    Distributed shape: ONE groupBy-count aggregate (map-side partial),
    the allocation math on |groups| driver rows, then one
    WindowGroupLimit-pruned quota pass with the per-group quota
    broadcast back in. |df|-sized data is never collected, sorted
    globally, or shuffled more than twice.
    """
    counts_rows = (
        df.groupBy(group_col).count().orderBy(group_col).collect()
    )
    counts = [(r[group_col], int(r["count"])) for r in counts_rows]
    ws = []
    for key, n in counts:
        w = (weights or {}).get(key, 1.0) if weights is not None else 1.0
        ws.append(w * (n ** (1.0 / float(temperature))))
    alloc = _waterfill(counts, ws, int(total))
    spark = df.sparkSession
    quota_df = spark.createDataFrame(
        [(k, int(v)) for k, v in alloc.items()],
        schema=df.select(group_col).schema.add("__quota", "long"),
    )
    max_quota = max(alloc.values(), default=0)
    from pyspark.sql import Window

    order = _hash_order(hash_cols, seed)
    w = Window.partitionBy(group_col).orderBy(
        order, *[F.col(c) for c in hash_cols]
    )
    # literal bound first: eligible for the WindowGroupLimit map-side
    # prune; the per-group (non-literal) quota trims exactly after it.
    # The quota join is NULL-SAFE: a NULL group is a real stratum (it was
    # counted and allocated budget), and a plain equi-join would silently
    # drop its rows and leave that slice of the budget unfilled.
    quota_df = quota_df.withColumnRenamed(group_col, "__qs_grp")
    return (
        df.withColumn("__qs_rn", F.row_number().over(w))
        .filter(F.col("__qs_rn") <= F.lit(int(max_quota)))
        .join(
            F.broadcast(quota_df),
            F.col(group_col).eqNullSafe(F.col("__qs_grp")),
        )
        .filter(F.col("__qs_rn") <= F.col("__quota"))
        .drop("__qs_rn", "__quota", "__qs_grp")
    )


def shuffle_rows(
    df: DataFrame,
    hash_cols: Sequence[str],
    seed: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global shuffle: reorder the corpus by the content
    hash of ``hash_cols`` (unique-key columns; they also break hash
    ties, so the order is a total function of the data + seed).

    Training pipelines need source/time ordering broken BEFORE packing
    and sharding — consecutive crawl records correlate, and a model fed
    file-order batches sees non-stationary data. ``df.orderBy(rand())``
    is neither reproducible across retries nor stable under
    repartitioning; this is both, and a new ``seed`` is a fresh epoch
    permutation.

    Scale shape: ONE range-repartition on the hash key (samples the key
    range, then shuffles each row once) + an in-partition sort — no
    global single-node sort, no skew (xxhash64 keys are uniform by
    construction, so range bounds split evenly). Writing the result
    yields files that ARE the shuffled shards.
    """
    key = _hash_order(hash_cols, seed).alias("__shuffle_key")
    tie = [F.col(c) for c in hash_cols]
    out = df.withColumn("__shuffle_key", key)
    out = (
        out.repartitionByRange(num_partitions, "__shuffle_key")
        if num_partitions
        else out.repartitionByRange("__shuffle_key")
    )
    return out.sortWithinPartitions("__shuffle_key", *tie).drop("__shuffle_key")


def replicate_by_weight(
    df: DataFrame,
    weight: Column | Mapping[object, float] | float,
    hash_cols: Sequence[str],
    group_col: str | None = None,
    seed: int = 0,
    epoch_col: str | None = None,
) -> DataFrame:
    """Upsample by fractional epoch count: a row with weight 2.5 appears
    twice, plus a third time for the (content-hash-chosen) half of its
    stratum. The mixing-recipe counterpart to
    :func:`proportional_budget_sample` — published data recipes run
    high-quality sources for >1 epochs while crawl text gets <1; the
    integer part is exact replication, the fractional part is the same
    deterministic hash-Bernoulli as :func:`stratified_sample` (retry-
    and repartition-safe, no RNG).

    ``weight`` is a float (uniform), a mapping ``group_col`` value →
    epochs (requires ``group_col``; unlisted groups get 1.0), or any
    Column expression. Weights < 1 subsample (floor 0 + Bernoulli) —
    one operator expresses the whole mixture.

    ``epoch_col`` (optional) emits the 0-based copy index — feed it into
    :func:`shuffle_rows`'s ``hash_cols`` so different epochs of the same
    document land far apart in the shuffled order.

    Scale shape: one ``posexplode(sequence(...))`` — no shuffle, no
    Python; output volume is Σ weights, the exact cost the caller asked
    for. Copies are generated at scan time, so a downstream shuffle
    (e.g. the epoch shuffle) is the first time they move.
    """
    if isinstance(weight, Mapping):
        if group_col is None:
            raise ValueError("mapping weight requires group_col")
        w: Column = F.lit(1.0)
        for val, wt in weight.items():
            # eqNullSafe: a {None: w} entry must bind the NULL stratum
            # (plain == is never true for NULL — the entry would be
            # silently ignored; proportional_budget_sample treats NULL
            # as a real stratum, this must match)
            w = F.when(
                F.col(group_col).eqNullSafe(F.lit(val)), F.lit(float(wt))
            ).otherwise(w)
    elif isinstance(weight, Column):
        w = weight
    else:
        w = F.lit(float(weight))

    denom = 1 << 20
    # floor() the threshold so the kept bucket set is IDENTICAL to
    # stratified_sample's int(frac * denom) truncation — a bare double
    # compare admits one extra bucket whenever frac*denom is fractional
    frac_keep = (
        F.pmod(_hash_order(hash_cols, seed), F.lit(denom))
        < F.floor((w - F.floor(w)) * denom)
    )
    n_copies = (F.floor(w) + frac_keep.cast("long")).cast("long")
    out = (
        df.withColumn("__rep_n", n_copies)
        .filter(F.col("__rep_n") > 0)
        .select("*", F.posexplode(F.sequence(F.lit(1), F.col("__rep_n"))).alias(
            "__rep_i", "__rep_dummy"))
        .drop("__rep_n", "__rep_dummy")
    )
    if epoch_col is not None:
        return out.withColumnRenamed("__rep_i", epoch_col)
    return out.drop("__rep_i")


def hash_split(
    df: DataFrame,
    fractions: Mapping[str, float],
    hash_cols: Sequence[str],
    seed: int = 0,
    split_col: str = "split",
    hash: str = "xxhash64",
) -> DataFrame:
    """Deterministic train/validation/test assignment: append
    ``split_col`` with the split name, chosen by content hash so the
    same row lands in the same split on every run, every cluster, and
    every retry (``randomSplit`` guarantees none of those — it re-rolls
    per partition split). Fractions must sum to ≤ 1; a remainder, if
    any, gets the empty-string split (filter it or make fractions sum
    to 1).

    ``hash="xxhash64"`` (default) is the fast JVM path.
    ``hash="md5"`` buckets on the first 5 hex chars of
    ``md5(seed ␟ col ␟ …)`` — slower, but md5 hex is identical in every
    engine (DuckDB, Postgres, Python hashlib), so downstream systems can
    recompute the assignment bit-for-bit; the bucket/bound comparison
    happens in fixed-width hex-string space (string order ≡ numeric
    order there), never converting bases. md5 requires string-safe
    hash_cols (ints/strings — float formatting differs across engines).

    Pure projection — no shuffle; filters on ``split_col`` collapse to
    a scan-level predicate on the hash.
    """
    total = sum(float(v) for v in fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    denom = 1 << 20  # md5 path: exactly 5 hex digits
    if hash == "xxhash64":
        bucket: Column = F.pmod(_hash_order(hash_cols, seed), F.lit(denom))

        def bound(v: int):
            return F.lit(v)
    elif hash == "md5":
        key = F.concat_ws(
            "\x1f",
            F.lit(str(int(seed))),
            *[F.col(c).cast("string") for c in hash_cols],
        )
        bucket = F.substring(F.md5(key), 1, 5)

        def bound(v: int):
            # the snapped top bound (v == denom) must sort above every
            # 5-hex bucket; "100000" would NOT ('f...' > '1...'), so use
            # the first post-hex character
            return F.lit("g" if v >= denom else format(v, "05x"))
    else:
        raise ValueError(f"unknown hash {hash!r}: 'xxhash64' or 'md5'")
    expr: Column = F.lit("")
    hi = 0.0
    bounds = []
    for name, frac in fractions.items():
        lo, hi = hi, hi + float(frac)
        bounds.append((name, int(lo * denom), int(hi * denom)))
    if abs(total - 1.0) < 1e-9:
        # fractions sum to 1 up to float error (0.8+0.1+0.1 < 1.0 in
        # binary): snap the last bound to denom so no sliver of rows
        # silently lands in the remainder split
        name, lo, _ = bounds[-1]
        bounds[-1] = (name, lo, denom)
    for name, lo, hi_b in bounds:
        expr = F.when(
            (bucket >= bound(lo)) & (bucket < bound(hi_b)), F.lit(name)
        ).otherwise(expr)
    return df.withColumn(split_col, expr)


def leakage_safe_split(
    df: DataFrame,
    fractions: Mapping[str, float],
    id_col: str,
    clusters: DataFrame | None = None,
    pairs: DataFrame | None = None,
    seed: int = 0,
    split_col: str = "split",
    hash: str = "xxhash64",
    node_col: str = "node",
    component_col: str = "component",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """:func:`hash_split` that cannot leak duplicates across splits:
    every member of a duplicate CLUSTER hashes on the cluster's
    representative id, so near-identical documents land in the same
    split by construction. Splitting row-by-row (``randomSplit`` or
    plain ``hash_split``) puts one copy of a duplicated document in
    train and another in test — the classic split-leakage bug that
    inflates eval scores; splitting by cluster representative is the
    standard fix (discussed e.g. in Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL'22 — public).

    Provide exactly one of:

    - ``clusters``: a (``node_col``, ``component_col``) map — e.g. the
      output of :func:`eel_spark.operators.dedup.connected_components`
      over near-dup pairs, or any (id, representative) table (exact-dup
      groups, URL-canonical groups, ...).
    - ``pairs``: raw duplicate pairs (``id_a``, ``id_b``) — components
      are derived here via ``connected_components``.

    Rows absent from the cluster map (singletons — the common case by
    far) hash on their OWN id, so only actual duplicates constrain each
    other and the realized fractions track the requested ones as long
    as clusters are small relative to the corpus.

    Scale shape: one equi-join of the corpus against the slim (node,
    component) map on the id (AQE broadcasts it when the duplicate set
    is small — in a deduplicated-world corpus it is), then the same
    pure-projection split as ``hash_split``. The representative column
    is computed, split on, and dropped — output schema is input +
    ``split_col``, exactly like ``hash_split``.
    """
    if (clusters is None) == (pairs is None):
        raise ValueError("provide exactly one of clusters= or pairs=")
    caller_map = clusters is not None
    if clusters is None:
        from eel_spark.operators.dedup import connected_components

        clusters = connected_components(pairs, id_a=id_a, id_b=id_b)
        node_col, component_col = "node", "component"
    rep = "__lss_rep"
    while rep in df.columns:
        rep = "_" + rep
    cmap = clusters.select(
        F.col(node_col).alias(id_col), F.col(component_col).alias(rep)
    )
    if caller_map:
        # collapse to ONE representative per node before the join: a
        # clusters table with repeated node rows would otherwise fan the
        # left join out and silently duplicate corpus rows in the split
        # output (r11 advice). Exact-duplicate rows dedupe; rows that
        # DISAGREE on the component raise — (A,r1),(A,r2),(B,r2) means
        # r1 and r2 are transitively ONE cluster containing B, and
        # quietly picking min(r1,r2) for A while B stays on r2 would
        # split that cluster across splits: the precise leak this
        # operator exists to prevent (r12 review). Run such maps through
        # connected_components first. The conflict probe is its own
        # eager pass over the SLIM map (never the corpus); the join's
        # min-aggregate below is a second slim-map pass at action time.
        # Un-pinned on purpose: r12 pinned the aggregate so both shared
        # one execution, but the pin outlived the call — standalone
        # callers accumulated cached tables until a global
        # release_pins(), including on the raise path (r12 advice). Two
        # passes over the slim map is the leak-free price of the eager
        # ValueError contract.
        conflicted = (
            cmap.groupBy(id_col)
            .agg(F.countDistinct(rep).alias("__lss_nrep"))
            .where(F.col("__lss_nrep") > 1)
            .limit(1)
            .collect()
        )
        if conflicted:
            raise ValueError(
                f"clusters maps node {conflicted[0][id_col]!r} to "
                "multiple components — the map is not canonical (run "
                "connected_components over it, or fix the producer) and "
                "splitting on it would leak the merged cluster across "
                "splits"
            )
        cmap = cmap.groupBy(id_col).agg(F.min(rep).alias(rep))
    # the pairs-derived path skips the dedupe/conflict aggregation
    # entirely: connected_components emits exactly one row per node by
    # construction, so the groupBy would be a redundant exchange on the
    # map before the corpus join (r12 advice).
    joined = df.join(cmap, on=id_col, how="left").withColumn(
        rep, F.coalesce(F.col(rep), F.col(id_col))
    )
    return hash_split(
        joined, fractions, [rep], seed=seed, split_col=split_col, hash=hash
    ).drop(rep)


def split_leakage_report(
    split_df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    split_col: str = "split",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Audit any existing split against a duplicate-pair table: returns
    (split_a, split_b, n_pairs) for every ordered split combination a
    duplicate pair straddles, EXCLUDING same-split pairs — an empty
    result means the split is leakage-free w.r.t. these pairs. Run it
    over the minhash/simhash/embedding pair output before training; a
    non-empty report on a ``hash_split`` corpus is the signal to switch
    to :func:`leakage_safe_split`.

    Scale shape: the corpus projects to a slim (id, split) table, the
    pair table joins it twice on the id (each a hash join; AQE
    broadcasts the smaller side), and the report aggregates to at most
    |splits|² rows. Pairs missing from ``split_df`` are dropped — they
    carry no split to leak across.
    """
    slim = split_df.select(F.col(id_col), F.col(split_col))
    a = slim.select(
        F.col(id_col).alias(id_a), F.col(split_col).alias("split_a")
    )
    b = slim.select(
        F.col(id_col).alias(id_b), F.col(split_col).alias("split_b")
    )
    return (
        pairs.select(id_a, id_b)
        .join(a, on=id_a)
        .join(b, on=id_b)
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
