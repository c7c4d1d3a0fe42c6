"""MERGE-style key upsert for plain parquet directories — the
"update these keys, insert the rest" maintenance op (survivor tables,
dimension snapshots, incremental corpus metadata) without requiring a
transactional table format.

Scale shape mirrors ``rollups.merge_time_rollup``: with a partition
column, ONLY the partitions the batch touches are read back (literal
IN filter → partition pruning) and rewritten (dynamic partition
overwrite); history outside them is never read or written. The
touched-partition list collects to the driver bounded by the batch's
distinct partition values, not by data size.

Without a partition column the whole table must merge (there is
nothing to prune); the rewrite goes through ``maintenance._staged_swap``
— the one swap every store uses — so the readable table is never
half-written and a crash at any point leaves it whole, or staged aside
at ``<path>__old``, which the next upsert restores on entry. Readers
between the swap's two renames see no table (use a real table format
when concurrent readers matter).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str] | str,
    partition_col: str | None = None,
    assert_unique_keys: bool = True,
    prune: bool = True,
) -> dict:
    """Upsert ``updates`` into the parquet table at ``path`` by
    ``keys``: matched keys are REPLACED by the update row, unmatched
    keys are inserted. Returns ``{"inserted", "updated",
    "partitions_rewritten"}`` (counts cost one extra slim aggregate on
    the batch-side join, never a history scan;
    ``partitions_rewritten`` is -1 for a full rewrite).

    Preconditions: ``updates`` must be key-unique (checked by default —
    duplicate keys would make "replace" ambiguous; disable the check
    only when an upstream dedup already guarantees it) and
    schema-compatible with the existing table (``unionByName``
    rejects drift loudly rather than nulling columns silently).

    PARTITION-STABILITY precondition (``prune=True``, the default):
    the pruned merge only reads the partitions the batch touches, so a
    key whose partition value CHANGES between the table and the batch
    would leave the old row in its old partition — a duplicate key.
    This holds automatically when ``partition_col`` is functionally
    determined by the keys (or is itself a key); if your keys can move
    between partitions, pass ``prune=False`` to merge against the FULL
    table (every partition the table or batch touches is rewritten —
    correct under moves, at full-scan cost, the same trade a Delta
    MERGE makes when its ON clause can't prune).
    """
    ks = [keys] if isinstance(keys, str) else list(keys)
    # pin the batch: the checks, counts, touched-partition collect, and
    # final write each evaluate ``updates``. An unpersisted
    # NONDETERMINISTIC batch (a limit(), a sample) could produce
    # DIFFERENT rows per evaluation — the write landing rows in a
    # partition the touched-list never saw would then wipe that
    # partition's survivors. The pin makes every evaluation see one
    # materialized row set.
    updates.persist()
    try:
        any_null = functools.reduce(
            lambda a, b: a | b, [F.col(k).isNull() for k in ks]
        )
        null_key = updates.where(any_null).limit(1).collect()
        if null_key:
            raise ValueError(
                f"updates contain a NULL in key column(s) {ks}; equality "
                "joins never match NULL to NULL, so a NULL-keyed row "
                "can only duplicate, never replace — fill or drop it"
            )
        if assert_unique_keys:
            dup = (
                updates.groupBy(*ks)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                bad = {k: dup[0][k] for k in ks}
                raise ValueError(
                    f"updates contain duplicate key {bad}; MERGE semantics "
                    "need key-unique updates (pre-aggregate or dedup first)"
                )
        return _upsert_pinned(
            spark, path, updates, ks, partition_col, prune
        )
    finally:
        updates.unpersist()


def _upsert_pinned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    ks: list[str],
    partition_col: str | None,
    prune: bool,
) -> dict:
    from eel_spark.operators.maintenance import (
        _overwrite_partitions,
        _restore_interrupted_swap,
        _staged_swap,
    )
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    writer_cols = updates.columns

    # no lease here, so heal a crashed full rewrite's swap ourselves —
    # before the exists check, which would otherwise read the staged
    # table as "no table" and replace it with the batch alone
    _restore_interrupted_swap(ops, path.rstrip("/"))
    if not ops.exists(path):
        w = updates.write.mode("overwrite")
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(path)
        n = updates.count()
        return {"inserted": n, "updated": 0, "partitions_rewritten": 0}

    if partition_col and prune:
        touched = [
            r[partition_col]
            for r in updates.select(partition_col).distinct().collect()
        ]
        # NULL partition values need explicit handling: isin() compares
        # NULL as NULL (never true), which would EXCLUDE the NULL
        # partition's survivors and let the dynamic overwrite delete them
        non_null = [t for t in touched if t is not None]
        pred = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
        if any(t is None for t in touched):
            pred = pred | F.col(partition_col).isNull()
        existing = spark.read.parquet(path).where(pred)
    else:
        existing = spark.read.parquet(path)

    # column drift check BEFORE the merge: a select(updates.columns)
    # over survivors would silently DROP table columns the batch lacks
    # (table-wide data loss), and extra batch columns would fail the
    # union anyway — reject both loudly
    if set(existing.columns) != set(updates.columns):
        missing = set(existing.columns) - set(updates.columns)
        extra = set(updates.columns) - set(existing.columns)
        raise ValueError(
            f"updates schema drifts from table: missing={sorted(missing)} "
            f"extra={sorted(extra)}; align the batch with the table "
            "schema (or migrate the table) before upserting"
        )

    upd_keys = updates.select(*ks).distinct()
    survivors = existing.join(upd_keys, on=ks, how="left_anti")
    # count BEFORE the write: ``updates`` is commonly derived from the
    # target table itself, and any action after the overwrite would
    # lazily re-read files the write just replaced (FileNotFound)
    matched = existing.join(upd_keys, on=ks, how="left_semi").count()
    n_updates = updates.count()
    merged = survivors.select(*writer_cols).unionByName(updates)

    if partition_col and prune:
        _overwrite_partitions(merged, path, [partition_col])
        rewritten = len(touched)
    else:
        # full rewrite via the staged swap. NOT dynamic overwrite: a
        # dynamic write only replaces partitions PRESENT in the output,
        # so a partition whose every row moved away (prune=False exists
        # precisely to allow key moves) would keep its stale files
        def write(tmp: str) -> None:
            w = merged.write.mode("overwrite")
            if partition_col:
                w = w.partitionBy(partition_col)
            w.parquet(tmp)

        _staged_swap(spark, path.rstrip("/"), write)
        rewritten = -1  # full rewrite: every partition

    return {
        "inserted": n_updates - matched,
        "updated": matched,
        "partitions_rewritten": rewritten,
    }
