"""Time-series rollups: multi-granularity aggregation in ONE pass.

The hypertable/"continuous aggregate" shape: the same measures rolled up
at minute/hour/day/month granularities. The naive plan is one scan +
shuffle PER granularity; here every granularity is a grouping set over
pre-truncated time buckets, so Spark expands rows map-side (Expand) and
the whole rollup costs a single scan and a single shuffle regardless of
how many granularities are asked for — at 100 TB the one-shuffle
property is the entire game. Partial aggregation still applies before
the exchange.

Spark-first: native ``DataFrame.groupingSets`` + ``date_trunc``, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eel_spark.operators.maintenance import (
    _compact_to_sentinel,
    _overwrite_partitions,
    _read_store,
    commit_batch,
    locked_store_write,
)

#: a materialized rollup's partition columns (merge_time_rollup and the
#: batch-partial store)
_ROLLUP_PARTS = ("granularity", "bucket_date")

#: granularity name → date_trunc unit (coarse → fine)
GRANULARITIES = {
    "year": "year",
    "quarter": "quarter",
    "month": "month",
    "week": "week",
    "day": "day",
    "hour": "hour",
    "minute": "minute",
}


def time_rollup(
    df: DataFrame,
    ts_col: str,
    aggs: dict[str, Column],
    granularities: list[str] = ("hour", "day", "month"),
    extra_keys: list[str] = (),
) -> DataFrame:
    """Aggregate ``aggs`` at every granularity in one scan + one shuffle.

    Output (long format, the continuous-aggregate table a time-series
    store materializes): one row per (granularity, bucket_start
    [, extra_keys...]) with one column per named aggregate.
    """
    bad = [g for g in granularities if g not in GRANULARITIES]
    if bad:
        raise ValueError(f"unknown granularities {bad}; pick from {list(GRANULARITIES)}")

    buckets = {
        g: F.date_trunc(GRANULARITIES[g], F.col(ts_col)).alias(f"__b_{g}")
        for g in granularities
    }
    base = df.select(*df.columns, *buckets.values())
    sets = [[f"__b_{g}", *extra_keys] for g in granularities]
    grouped = base.groupingSets(sets, *[f"__b_{g}" for g in granularities], *extra_keys)
    # GROUPING() indicators label the set exactly, even for NULL-ts rows
    # (a null bucket value is still GROUPED in its own set)
    rolled = grouped.agg(
        *[F.grouping(f"__b_{g}").alias(f"__g_{g}") for g in granularities],
        *[c.alias(name) for name, c in aggs.items()],
    )
    gran = F.coalesce(
        *[
            F.when(F.col(f"__g_{g}") == 0, F.lit(g))
            for g in granularities
        ]
    )
    bucket = F.coalesce(*[F.col(f"__b_{g}") for g in granularities])
    return rolled.select(
        gran.alias("granularity"),
        bucket.alias("bucket_start"),
        *extra_keys,
        *aggs.keys(),
    )


def _touched_partition_pred(incoming: DataFrame):
    """Partition-pruning predicate for the (granularity, bucket_date)
    pairs ``incoming`` touches. The collected list is bounded by
    granularities × distinct dates in the batch, never by data size.

    NULL bucket_date pairs (time_rollup emits NULL-timestamp rows as a
    NULL bucket) can NOT ride the struct-isin list: ``F.lit(None)``
    inside a struct literal is typed VOID and the IN predicate fails
    analysis (DATATYPE_MISMATCH); and even with a typed NULL, NULL
    never equals NULL under isin — the NULL-bucket partition's history
    would be skipped on read and then destroyed by the dynamic
    overwrite. Mirror upsert's guard: isin over the non-null pairs,
    OR'd with an explicit isNull branch per granularity that has a
    NULL-date bucket in the batch."""
    touched = [
        (r["granularity"], r["bucket_date"])
        for r in incoming.select("granularity", "bucket_date").distinct().collect()
    ]
    non_null = [(g, d) for g, d in touched if d is not None]
    null_grans = sorted({g for g, d in touched if d is None})
    pred = (
        F.struct("granularity", "bucket_date").isin(
            [F.struct(F.lit(g), F.lit(d)) for g, d in non_null]
        )
        if non_null
        else F.lit(False)
    )
    for g in null_grans:
        pred = pred | (
            (F.col("granularity") == F.lit(g)) & F.col("bucket_date").isNull()
        )
    return pred


def merge_time_rollup(
    spark,
    path: str,
    new_df: DataFrame,
    ts_col: str,
    aggs: dict[str, Column],
    merges: dict[str, Column],
    granularities: list[str] = ("hour", "day", "month"),
    extra_keys: list[str] = (),
) -> None:
    """Incrementally maintain a materialized time_rollup table under
    ``path`` — the continuous-aggregate merge for late/new data.

    The 100 TB shape: the new batch is rolled up alone (one scan of the
    BATCH, not the history), only the (granularity, bucket_date)
    partitions it touches are read back (literal IN filter → partition
    pruning), partials merge by re-aggregation, and a dynamic-partition
    overwrite rewrites exactly the touched partitions. History outside
    the batch's buckets is never read or written.

    ``aggs`` aggregate raw rows; ``merges`` re-aggregate the partial
    columns (count → sum, sum → sum, min → min, max → max). Only
    algebraic aggregates can be maintained this way — keep avg as
    sum+count and divide at query time.

    The touched-partition list is collected to the driver: it is bounded
    by granularities × distinct dates in the batch, not by data size.
    """
    incoming = time_rollup(new_df, ts_col, aggs, granularities, extra_keys)
    incoming = incoming.withColumn("bucket_date", F.to_date("bucket_start"))
    keys = ["granularity", "bucket_start", "bucket_date", *extra_keys]

    existing = _read_store(spark, path)
    if existing is not None:
        incoming.persist()
        try:
            pred = _touched_partition_pred(incoming)
            merged = (
                existing.where(pred)
                .unionByName(incoming)
                .groupBy(*keys)
                .agg(*[c.alias(name) for name, c in merges.items()])
            )
            _overwrite_partitions(merged, path, _ROLLUP_PARTS)
        finally:
            incoming.unpersist()
    else:
        _overwrite_partitions(incoming, path, _ROLLUP_PARTS)


def distinct_rollup_aggs(
    distinct_cols: list[str] | tuple[str, ...],
    lg_k: int = 12,
) -> tuple[dict[str, Column], dict[str, Column]]:
    """(aggs, merges) entries that make :func:`time_rollup` /
    :func:`merge_time_rollup` maintain APPROXIMATE DISTINCT counts
    incrementally — the one aggregate family a continuous aggregate
    cannot keep exactly (countDistinct is not algebraic: partials
    cannot re-merge).

    The fix is mergeable sketches: ``hll_sketch_agg`` (DataSketches
    HLL, built into Spark — JVM-side, no UDF) materializes a
    ``<col>_sketch`` binary column per granularity bucket;
    ``hll_union_agg`` re-merges partials LOSSLESSLY (HLL union is a
    register-wise max, so union-of-sketches ≡ sketch-of-union — late
    data folds in with no drift). Read the estimate back with
    :func:`with_distinct_estimates`. ``lg_k=12`` ⇒ 2^12 registers,
    ~1.6% relative standard error, ≤ ~4 KiB per bucket regardless of
    cardinality.
    """
    aggs = {
        f"{c}_sketch": F.hll_sketch_agg(F.col(c), F.lit(int(lg_k)))
        for c in distinct_cols
    }
    merges = {
        f"{c}_sketch": F.hll_union_agg(F.col(f"{c}_sketch"))
        for c in distinct_cols
    }
    return aggs, merges


def _dd_gamma(alpha: float) -> float:
    return (1.0 + alpha) / (1.0 - alpha)


def ddsketch_bucket(
    col: Column | str,
    alpha: float = 0.05,
    min_value: float = 1e-3,
    n_buckets: int = 128,
) -> Column:
    """Log-bucket index of a non-negative value, DDSketch-style (Masson
    et al. 2019, public): bucket ``1 + ceil(log_gamma(v / min_value))``
    with ``gamma = (1+alpha)/(1-alpha)``, so every bucket spans a
    ``(1±alpha)`` relative range. Bucket 0 collects ``v < min_value``
    (including 0 and negatives — report as 0.0); the top bucket clamps
    overflow (values beyond ``min_value·gamma^(n_buckets-2)`` lose the
    relative guarantee but never the count). Pure Catalyst.
    """
    import math

    c = F.col(col) if isinstance(col, str) else col
    lg = math.log(_dd_gamma(alpha))
    raw = F.ceil(F.log(c.cast("double") / F.lit(float(min_value))) / F.lit(lg))
    idx = F.least(
        F.greatest(raw + 1, F.lit(1)), F.lit(int(n_buckets) - 1)
    ).cast("int")
    return F.when(
        c.isNull() | (c.cast("double") < F.lit(float(min_value))), F.lit(0)
    ).otherwise(idx)


def quantile_rollup_aggs(
    value_cols: list[str] | tuple[str, ...],
    alpha: float = 0.05,
    min_value: float = 1e-3,
    n_buckets: int = 128,
) -> tuple[dict[str, Column], dict[str, Column]]:
    """(aggs, merges) entries that make :func:`time_rollup` /
    :func:`merge_time_rollup` maintain APPROXIMATE QUANTILES
    incrementally — the other non-algebraic aggregate family
    (percentile partials cannot re-merge; ``approx_percentile`` is
    one-shot).

    The mergeable form is a fixed-size log-bucketed histogram
    (``<col>_qhist``, ``array<long>`` of ``n_buckets``): bucket counts
    add element-wise, so union-of-histograms ≡ histogram-of-union —
    late batches fold in losslessly, exactly like the HLL sketches
    above. Quantiles read back within ``alpha`` RELATIVE error (the
    DDSketch guarantee) via :func:`quantile_from_histogram`. Default
    sizing: 128 buckets at alpha=0.05 covers ``[1e-3, ~2e2·1e3]``…
    pick ``min_value``/``n_buckets`` for your value range; 8 bytes ×
    n_buckets per bucket row regardless of cardinality.

    Everything is Catalyst: the agg is an array of conditional sums
    (map-side partial agg applies), the merge is an array of
    element-wise sums — no UDF, no collect.
    """
    n = int(n_buckets)
    aggs: dict[str, Column] = {}
    merges: dict[str, Column] = {}
    for c in value_cols:
        b = ddsketch_bucket(c, alpha, min_value, n)
        aggs[f"{c}_qhist"] = F.array(
            *[
                F.sum(F.when(b == i, F.lit(1)).otherwise(F.lit(0))).cast("long")
                for i in range(n)
            ]
        )
        merges[f"{c}_qhist"] = F.array(
            *[
                F.sum(F.element_at(F.col(f"{c}_qhist"), i + 1)).cast("long")
                for i in range(n)
            ]
        )
    return aggs, merges


def quantile_from_histogram(
    hist: Column | str,
    q: float,
    alpha: float = 0.05,
    min_value: float = 1e-3,
) -> Column:
    """Read the q-quantile (0 < q ≤ 1) out of a ``quantile_rollup_aggs``
    histogram, as a Column (works in any projection over the
    materialized table — no driver round-trip).

    One fold finds the bucket holding rank ``ceil(q·total)``; the
    estimate is the bucket's geometric midpoint ``2·min·γ^(i-1)/(1+γ)``
    (relative error ≤ alpha). Bucket 0 reports 0.0 (below
    ``min_value``); empty histograms report NULL.
    """
    if not (0.0 < q <= 1.0):
        raise ValueError("need 0 < q <= 1")
    h = F.col(hist) if isinstance(hist, str) else hist
    # an agg over zero rows yields an array of NULL sums — normalize to
    # zero counts so the rank fold stays well-defined (and reports NULL
    # via the total==0 branch)
    h = F.transform(h, lambda x: F.coalesce(x, F.lit(0).cast("long")))
    gamma = _dd_gamma(alpha)
    total = F.aggregate(h, F.lit(0).cast("long"), lambda a, x: a + x)
    rank = F.greatest(F.ceil(F.lit(float(q)) * total), F.lit(1)).cast("long")
    entries = F.zip_with(
        h,
        F.sequence(F.lit(1), F.size(h)),
        lambda c, i: F.struct(c.alias("c"), i.alias("i")),
    )
    found = F.aggregate(
        entries,
        F.struct(
            F.lit(0).cast("long").alias("cum"), F.lit(-1).alias("idx")
        ),
        lambda acc, e: F.struct(
            (acc["cum"] + e["c"]).alias("cum"),
            F.when(
                (acc["idx"] < 0) & (acc["cum"] + e["c"] >= rank), e["i"] - 1
            )
            .otherwise(acc["idx"])
            .alias("idx"),
        ),
    )["idx"]
    est = (
        F.lit(2.0 * float(min_value))
        * F.pow(F.lit(gamma), (found - 1).cast("double"))
        / F.lit(1.0 + gamma)
    )
    return (
        F.when(total == 0, F.lit(None).cast("double"))
        .when(found == 0, F.lit(0.0))
        .otherwise(est)
    )


def quantile_bucket_from_histogram(hist: Column | str, q: float) -> Column:
    """The BUCKET INDEX holding the q-quantile's rank (NULL for empty
    histograms) instead of the midpoint value estimate. Bucket index is
    monotone in value, so this equals ``ddsketch_bucket`` of the exact
    nearest-rank quantile — an integer any exact engine can recompute
    bit-identically (the midpoint estimate involves ``pow``, whose last
    ulp differs across libm implementations; the index does not), which
    is what the DuckDB correctness gate compares."""
    if not (0.0 < q <= 1.0):
        raise ValueError("need 0 < q <= 1")
    h = F.col(hist) if isinstance(hist, str) else hist
    h = F.transform(h, lambda x: F.coalesce(x, F.lit(0).cast("long")))
    total = F.aggregate(h, F.lit(0).cast("long"), lambda a, x: a + x)
    rank = F.greatest(F.ceil(F.lit(float(q)) * total), F.lit(1)).cast("long")
    entries = F.zip_with(
        h,
        F.sequence(F.lit(1), F.size(h)),
        lambda c, i: F.struct(c.alias("c"), i.alias("i")),
    )
    found = F.aggregate(
        entries,
        F.struct(
            F.lit(0).cast("long").alias("cum"), F.lit(-1).alias("idx")
        ),
        lambda acc, e: F.struct(
            (acc["cum"] + e["c"]).alias("cum"),
            F.when(
                (acc["idx"] < 0) & (acc["cum"] + e["c"] >= rank), e["i"] - 1
            )
            .otherwise(acc["idx"])
            .alias("idx"),
        ),
    )["idx"]
    return F.when(total == 0, F.lit(None).cast("int")).otherwise(
        found.cast("int")
    )


def with_quantile_estimates(
    df: DataFrame,
    value_cols: list[str] | tuple[str, ...],
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    alpha: float = 0.05,
    min_value: float = 1e-3,
) -> DataFrame:
    """Replace each ``<col>_qhist`` with ``<col>_p<q>`` estimate columns
    (query-time; the materialized table keeps the mergeable histogram)."""
    out = df
    for c in value_cols:
        for q in qs:
            out = out.withColumn(
                f"{c}_p{int(round(q * 100))}",
                quantile_from_histogram(f"{c}_qhist", q, alpha, min_value),
            )
        out = out.drop(f"{c}_qhist")
    return out


def with_distinct_estimates(df: DataFrame, distinct_cols: list[str] | tuple[str, ...]) -> DataFrame:
    """Replace each ``<col>_sketch`` binary column with a
    ``<col>_distinct`` long estimate (query-time; the materialized
    table keeps the mergeable sketch)."""
    out = df
    for c in distinct_cols:
        out = out.withColumn(
            f"{c}_distinct", F.hll_sketch_estimate(F.col(f"{c}_sketch"))
        ).drop(f"{c}_sketch")
    return out


# ---------------------------------------------------------------------------
# Batch-partial rollup store: the EXACTLY-ONCE form of the continuous
# aggregate, one of the incremental stores (operators/maintenance.py owns
# its commit and compaction). merge_time_rollup re-aggregates history
# with each batch — correct, but NOT idempotent: a replayed batch
# double-counts. Here each batch appends its OWN partial rows tagged
# __src_batch. What differs from the other families: the batch id is a
# DATA column inside the (granularity, bucket_date) partitions, so an
# append rewrites the partitions it touches from their other batches'
# rows plus its own, and the compacted -1 generation is a column value
# in those same partitions. Query through read_rollup (re-merges
# partials).
# ---------------------------------------------------------------------------


@locked_store_write("path", "spark", token_arg="src_batch")
def append_rollup_batch(
    spark,
    path: str,
    batch_df: DataFrame,
    ts_col: str,
    aggs: dict[str, Column],
    granularities: list[str] = ("hour", "day", "month"),
    extra_keys: list[str] = (),
    src_batch: int = 0,
) -> None:
    """Fold one batch's rollup partials into the store, idempotently:
    running the same (batch, src_batch) twice leaves the store
    byte-identical, because the touched partitions are rewritten from
    (existing rows NOT from this batch) ∪ (this batch's partials).
    Partition pruning bounds the read to the batch's buckets."""
    incoming = (
        time_rollup(batch_df, ts_col, aggs, granularities, extra_keys)
        .withColumn("bucket_date", F.to_date("bucket_start"))
        .withColumn("__src_batch", F.lit(int(src_batch)))
    )

    existing = _read_store(spark, path)
    if existing is not None:
        # persist: the touched-partition collect AND the write both
        # evaluate incoming — without the pin the batch's grouping-sets
        # aggregation runs twice per micro-batch
        incoming.persist()
        try:
            pred = _touched_partition_pred(incoming)
            merged = (
                existing.where(pred)
                .filter(F.col("__src_batch") != int(src_batch))
                .unionByName(incoming)
            )
            commit_batch(merged, path, src_batch, _ROLLUP_PARTS)
        finally:
            incoming.unpersist()
    else:
        commit_batch(incoming, path, src_batch, _ROLLUP_PARTS)


def read_rollup(
    spark,
    path: str,
    merges: dict[str, Column],
    extra_keys: list[str] = (),
) -> DataFrame:
    """Query view over a batch-partial rollup store: re-merges the
    per-batch partials into final values (the same ``merges`` dict
    merge_time_rollup uses — count→sum, sum→sum, sketch→union...)."""
    keys = ["granularity", "bucket_start", *extra_keys]
    return (
        spark.read.parquet(path)
        .groupBy(*keys)
        .agg(*[c.alias(name) for name, c in merges.items()])
    )


@locked_store_write("path", "spark")
def compact_rollup(
    spark,
    path: str,
    merges: dict[str, Column],
    extra_keys: list[str] = (),
) -> None:
    """Collapse per-batch partials: each (bucket, keys) keeps ONE merged
    row tagged ``__src_batch = -1``, written through
    ``maintenance._compact_to_sentinel``. Read cost of read_rollup drops
    back to one row per bucket; exactly-once replay of PAST batches is
    spent (their rows are gone), so compact once their replay horizon
    has passed (e.g. after checkpoint retention)."""
    keys = ["granularity", "bucket_start", "bucket_date", *extra_keys]
    _compact_to_sentinel(
        path.rstrip("/"),
        spark.read.parquet(path)
        .groupBy(*keys)
        .agg(*[c.alias(name) for name, c in merges.items()]),
        "__src_batch",
        _ROLLUP_PARTS,
    )


def fill_time_gaps(
    df: DataFrame,
    bucket_col: str,
    step: str,
    keys: list[str] | tuple[str, ...] = (),
    fill: dict[str, str] | None = None,
    start=None,
    end=None,
) -> DataFrame:
    """Gap-fill a bucketed time series (the public
    ``time_bucket_gapfill`` shape): emit one row for EVERY ``step``
    bucket in the range, per key group, with missing buckets filled
    per ``fill``: ``"null"`` (default), ``"zero"``, or ``"locf"``
    (last observation carried forward).

    ``step`` is an INTERVAL literal ("1 hour", "15 minutes").
    ``start``/``end`` default to each key group's own min/max bucket
    (computed in one slim aggregate); pass literals to align all
    groups to one range. The spine is ALWAYS phase-anchored on each
    group's own first bucket: explicit bounds extend the grid backward/
    forward by whole steps and clip it — a bound off the group's grid
    can therefore never orphan observed rows into all-null spine
    buckets, and a group lying entirely outside [start, end] yields no
    rows (never an error).

    Scale shape: the bucket spine is generated with ``sequence`` +
    ``explode`` per key group — output volume is range/step rows per
    group, there is no cross join against a global calendar table. The
    spine left-joins the data on (keys, bucket): one shuffle. LOCF is
    one ``last(ignorenulls)`` running window per key group — a sort
    within the group's partition; groups are assumed individually
    window-sized (a single global series IS one partition: the
    inherent cost of a sequential fill).

    SPARSE-KEY warning (measured, SURVEY §8): output volume is
    Σ_groups range/step, so gap-filling HIGH-CARDINALITY sparse keys
    (per-user series with a handful of events each) multiplies rows
    enormously — the sf0.1 (event_type, user_id) hourly rollup
    expands 46×. Gap-fill aggregated keys (per type, per tenant), or
    constrain ``start``/``end``.
    """
    fill = fill or {}
    bad = [m for m in fill.values() if m not in ("null", "zero", "locf")]
    if bad:
        raise ValueError(f"unknown fill modes {bad}; use null/zero/locf")
    ks = list(keys)
    bad_cols = [c for c in fill if c not in df.columns or c in (*ks, bucket_col)]
    if bad_cols:
        raise ValueError(
            f"fill refers to {bad_cols}, which are missing from the frame "
            f"or are key/bucket columns; fillable: "
            f"{[c for c in df.columns if c not in (*ks, bucket_col)]}"
        )
    # 'zero' on a non-numeric column would silently coerce: '0' into a
    # string series, 1970-01-01 into a timestamp — reject at entry
    numeric = {
        "tinyint", "smallint", "int", "bigint", "float", "double",
    }
    dtypes = dict(df.dtypes)
    bad_zero = [
        c
        for c, m in fill.items()
        if m == "zero"
        and dtypes[c] not in numeric
        and not dtypes[c].startswith("decimal")
    ]
    if bad_zero:
        raise ValueError(
            f"fill mode 'zero' requires numeric columns; "
            f"{[(c, dtypes[c]) for c in bad_zero]} are not numeric — "
            f"use 'null' or 'locf' for non-numeric series"
        )
    step_i = F.expr(f"INTERVAL {step}")
    neg_step_i = F.expr(f"INTERVAL {step} * -1")

    bounds = df.groupBy(*ks).agg(
        F.min(bucket_col).alias("__lo"), F.max(bucket_col).alias("__hi")
    )
    glo, ghi = F.col("__lo"), F.col("__hi")
    # forward grid from the group's own first bucket (phase anchor);
    # extended past __hi when an explicit later end is given
    fwd_hi = F.greatest(ghi, F.lit(end).cast("timestamp")) if end is not None else ghi
    spine_arr = F.sequence(glo, fwd_hi, step_i)
    if start is not None:
        # backward extension on the same grid, then clip below start;
        # guarded so a start after the group's grid never produces an
        # lo > hi sequence (it just extends by nothing)
        s = F.lit(start).cast("timestamp")
        back = F.when(
            s < glo,
            F.filter(
                F.sequence(glo, s, neg_step_i),
                lambda x: (x >= s) & (x != glo),
            ),
        ).otherwise(F.array().cast("array<timestamp>"))
        spine_arr = F.concat(back, spine_arr)
        spine_arr = F.filter(spine_arr, lambda x: x >= s)
    if end is not None:
        spine_arr = F.filter(
            spine_arr, lambda x: x <= F.lit(end).cast("timestamp")
        )
    spine = bounds.select(*ks, F.explode(spine_arr).alias(bucket_col))
    out = spine.join(df, on=[*ks, bucket_col], how="left")

    locf_cols = [c for c, m in fill.items() if m == "locf"]
    if locf_cols:
        from pyspark.sql import Window

        w = (
            Window.partitionBy(*ks)
            .orderBy(bucket_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for c in locf_cols:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    for c, m in fill.items():
        if m == "zero":
            out = out.withColumn(
                c, F.coalesce(F.col(c), F.lit(0).cast(dict(out.dtypes)[c]))
            )
    return out
