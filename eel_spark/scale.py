"""Skew-handling utilities (SURVEY.md §4 rule 2).

AQE's skew-join splitting (on by default in session.py) handles most
runtime skew; these helpers cover the cases AQE can't re-plan:

- ``salted_join``: a shuffle join where one key dominates (AQE splits
  oversized *partitions*, but a single giant key inside one partition with
  a non-splittable strategy, or pre-AQE engines, still need salting).
- ``salted_aggregate``: two-phase aggregation for hot grouping keys whose
  per-key state is heavy (collect_list-style aggs where map-side combine
  doesn't shrink the hot key).

Everything is deterministic — no rand(): salts derive from
``monotonically_increasing_id``, stable within a job run.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def _salt_col(*dfs) -> str:
    """Salt-column name that cannot shadow a user column in any input
    (a collision would silently overwrite, then drop, user data)."""
    name = SALT_COL
    while any(name in df.columns for df in dfs):
        name = "_" + name
    return name


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Equi-join with the big (skewed) side salted into ``salt`` buckets.

    The big side gets a per-row salt; the small side is replicated ``salt``
    times (explode of a literal range — cheap for dimension-sized inputs),
    so each hot key's rows spread over ``salt`` reducers instead of one.
    Row-multiplication cost: |small| × salt, which is why the *small* side
    replicates. Supports inner/left joins (big side preserved).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how}")
    sc = _salt_col(big, small)
    big_s = big.withColumn(sc, F.pmod(F.monotonically_increasing_id(), salt))
    small_s = small.withColumn(
        sc, F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<long>"))
    )
    return big_s.join(small_s, on=keys + [sc], how=how).drop(sc)


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, Column]],
    salt: int = 8,
) -> DataFrame:
    """Two-phase aggregation: group on (keys + salt) first, then merge.

    ``aggs`` maps output name → (merge_fn_name, partial_agg_column), e.g.::

        salted_aggregate(df, ["user_id"], {
            "n":     ("sum", F.count(F.lit(1))),
            "total": ("sum", F.sum("value")),
            "mx":    ("max", F.max("value")),
        })

    merge_fn must be an algebraic combiner (sum/min/max): the partial
    result per (key, salt) merges associatively to the exact global value.
    """
    sc = _salt_col(df)
    salted = df.withColumn(sc, F.pmod(F.monotonically_increasing_id(), salt))
    partial = salted.groupBy(*keys, sc).agg(
        *[col.alias(name) for name, (_, col) in aggs.items()]
    )
    merge = {"sum": F.sum, "min": F.min, "max": F.max}
    final = partial.groupBy(*keys).agg(
        *[merge[fn](name).alias(name) for name, (fn, _) in aggs.items()]
    )
    return final


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str | Sequence[str],
    buckets: int = 32,
    sort_by: str | Sequence[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Persist as a bucketed (and optionally sorted) table.

    Bucketing is the *durable* form of co-partitioning: two tables
    bucketed on their join key with the same bucket count join with NO
    shuffle on either side (and no sort, if sorted) — the physical layout
    the reference's Hive component calls bucketed tables, and the main
    lever for repeated large-fact joins at 100 TB.
    """
    keys = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    writer = df.write.format(fmt).mode(mode).bucketBy(buckets, *keys)
    if sort_by:
        sorts = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sorts)
    writer.saveAsTable(table)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition UP only when the input has fewer partitions than the
    cluster has slots — the guard for CPU-heavy per-row stages (minhash,
    simhash, feature extraction) fed by a small file count.

    A 100 TB input arrives with thousands of partitions and passes through
    untouched; a single-file local table fans out so per-row compute uses
    every core. Round-robin repartition: these stages are embarrassingly
    parallel, keys don't matter.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def zorder_key(
    ranges: dict[str, tuple[float, float]], bits: int = 12
) -> Column:
    """Morton (Z-order) key over N numeric columns: each column is scaled
    to a ``bits``-bit integer over its [min, max] range, then the bit
    planes are interleaved (bit b of column i lands at position
    b·ncols + i).

    Sorting a write by this single key clusters rows that are close in
    EVERY keyed dimension into the same files, so the parquet min/max
    footer stats stay tight on ALL of them at once — a linear sort gives
    tight stats on its leading column only. At 100 TB this is the layout
    lever for multi-dimensional filters: predicate pushdown then skips
    row groups / files on whichever dimension the query constrains.
    Pure Catalyst (shift/and/or terms, ~bits·ncols ops), no UDF.
    """
    cols = list(ranges)
    n = len(cols)
    if n < 1:
        raise ValueError("zorder_key needs at least one column")
    max_scaled = (1 << bits) - 1
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo, hi = ranges[c]
        span = float(hi) - float(lo)
        if span <= 0:
            scaled = F.lit(0).cast("long")
        else:
            # clamp: values outside the provided range (late data beyond
            # the sampled min/max) saturate instead of corrupting the key
            frac = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(span)
            clamped = F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
            scaled = F.round(clamped * max_scaled).cast("long")
        for b in range(bits):
            bit = F.call_function(
                "shiftright", scaled, F.lit(b)
            ).bitwiseAND(F.lit(1).cast("long"))
            key = key.bitwiseOR(
                F.call_function("shiftleft", bit, F.lit(b * n + i))
            )
    return key


def column_ranges(df: DataFrame, cols: Sequence[str]) -> dict[str, tuple[float, float]]:
    """min/max per column in ONE aggregate job (a driver-side scalar row —
    bounded, and typically answered from parquet footer stats when
    ``spark.sql.parquet.aggregatePushdown`` is on and no filter blocks it)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    row = df.agg(*aggs).first()
    return {c: (row[f"__min_{c}"], row[f"__max_{c}"]) for c in cols}


def write_zordered(
    df: DataFrame,
    path: str,
    by: Sequence[str],
    n_files: int = 32,
    bits: int = 12,
    ranges: dict[str, tuple[float, float]] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` laid out in Z-order on ``by``: range-partition by the
    Morton key into ``n_files`` contiguous key ranges, sort within each,
    write one file per partition. Every output file then covers a small
    hyper-rectangle of the keyed space — reads filtering on ANY subset of
    ``by`` skip most files via footer stats (data-skipping without an
    index, the OPTIMIZE ZORDER layout pattern)."""
    zc = _salt_col(df)  # collision-proof helper-column name
    r = ranges or column_ranges(df, by)
    keyed = df.withColumn(zc, zorder_key(r, bits=bits))
    (
        keyed.repartitionByRange(n_files, F.col(zc))
        .sortWithinPartitions(zc)
        .drop(zc)
        .write.format(fmt)
        .mode(mode)
        .save(path)
    )


def key_skew_report(
    df: DataFrame, keys: str | Sequence[str], top: int = 20
) -> dict:
    """Diagnose key skew BEFORE committing to a join/agg strategy: the
    measured basis for choosing ``salted_join`` / ``salted_aggregate``
    / plain AQE.

    One groupBy(keys).count() — the exact shuffle the join or aggregate
    would do anyway — then driver-bounded summaries: total rows,
    distinct keys, count percentiles, and the ``top`` heaviest keys
    with their corpus fraction. ``skew_factor`` is
    ``max_key_count / mean_key_count`` (1.0 = perfectly uniform; at
    ≳one-salt-bucket's worth, salt or let AQE split). Everything
    collected is O(top), never O(keys).
    """
    ks = [keys] if isinstance(keys, str) else list(keys)
    counts = df.groupBy(*ks).agg(F.count(F.lit(1)).alias("__n"))
    # both driver reads come off ONE materialization of the groupBy —
    # without the persist the full scan + shuffle would run twice
    counts.persist()
    try:
        summary = counts.agg(
            F.count(F.lit(1)).alias("distinct_keys"),
            F.sum("__n").alias("rows"),
            F.max("__n").alias("max_count"),
            F.percentile_approx("__n", [0.5, 0.99], 10_000).alias("p"),
        ).first()
        top_rows = counts.orderBy(F.desc("__n"), *ks).limit(top).collect()
    finally:
        counts.unpersist()
    rows, distinct = summary["rows"], summary["distinct_keys"]
    mean = rows / distinct if distinct else 0.0
    return {
        "rows": rows,
        "distinct_keys": distinct,
        "mean_count": mean,
        "p50_count": summary["p"][0] if distinct else None,
        "p99_count": summary["p"][1] if distinct else None,
        "max_count": summary["max_count"],
        "skew_factor": (summary["max_count"] / mean) if mean else 0.0,
        "top_keys": [
            {
                "key": {k: r[k] for k in ks},
                "count": r["__n"],
                "fraction": r["__n"] / rows,
            }
            for r in top_rows
        ],
    }


def write_sized_files(
    df: DataFrame,
    path: str,
    target_mb: float = 128.0,
    compression_ratio: float = 3.0,
    max_partitions: int = 100_000,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> int:
    """Write ``df`` with the output file count chosen for ~``target_mb``
    files — the small-files lever: at 100 TB a 200-wide shuffle default
    writes 200 files per partition directory, and a 10k-task pipeline
    writes 10k shards of a few KB each; both poison the NEXT job's scan
    (file-open dominated) and the metastore.

    File count = optimizer size estimate ÷ (compression_ratio ×
    target_mb), clamped to [1, max_partitions]. The size estimate is
    Catalyst's own (the number AQE plans with); ``compression_ratio``
    converts its in-memory bytes to on-disk parquet bytes (~3× for
    text-heavy data — measure once per dataset and pass it in). When
    Catalyst has NO estimate (size pegged at the unknown sentinel),
    falls back to one output file per current partition. Returns the
    chosen file count.

    Round-robin repartition: write-size balancing only. If downstream
    reads filter on specific columns, prefer :func:`write_zordered`
    (layout for skipping) or :func:`write_bucketed` (layout for joins).
    """
    if target_mb <= 0 or compression_ratio <= 0:
        raise ValueError("target_mb and compression_ratio must be positive")
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if est <= 0 or est >= (1 << 60):  # unknown/sentinel estimate
        n = df.rdd.getNumPartitions()
    else:
        import math

        n = math.ceil(est / (compression_ratio * target_mb * 1024 * 1024))
    n = max(1, min(int(n), int(max_partitions)))
    writer = df.repartition(n).write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
    return n
