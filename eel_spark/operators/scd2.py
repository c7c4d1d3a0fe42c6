"""Slowly-changing-dimension type-2 (SCD2) versioning — the
history-preserving dimension maintenance a warehouse runs next to its
fact pipelines: every attribute change closes the key's current row
(``valid_to`` stamped) and opens a new one, so any past state is
reconstructable with an as-of predicate.

The reference materializes dimension snapshots through its Hive/JDBC
sinks (eel-hive HiveSink.scala:1, eel-jdbc JdbcSink.scala:1) but has no
temporal merge — this family adds it Spark-first, and it composes with
:mod:`eel_spark.operators.upsert` (which is type-1: replace in place).

Scale shape
-----------
``scd2_from_changes`` is pure Catalyst: ONE hash exchange on the key —
the change-detection lag and the validity lead ride the same
partitioning (plan-asserted single Exchange in tests), so rebuilding a
dimension from a 100 TB change log costs one shuffle of the log's key
projection.

``scd2_merge`` maintains the table incrementally with the same pruning
discipline as ``upsert_parquet``/``merge_time_rollup``: the table is
laid out as ``scd_current ∈ {0,1}`` × ``scd_bucket = hash(key) % n``
partitions, a batch reads ONLY the current-rows partitions of the key
buckets it touches, closed history is append-only and NEVER read or
rewritten. Per-batch cost is O(current rows in touched buckets), not
O(history) — after years of changes the closed partitions are cold
storage.

Crash contract: the merge appends newly-closed rows BEFORE dynamically
overwriting the current partitions, so history is never lost, and the
whole merge is IDEMPOTENT under re-run of the same batch. Each batch is
fingerprinted (content hash — NULL-anchored, see
:func:`eel_spark.functions.hashes.row_digest` — of its collapsed
version rows); an ``_scd_inflight/<fp>`` marker is written AFTER all
validation, immediately before the first data write, and promoted to
``_scd_applied/<fp>`` after the last — so a batch rejected by the
out-of-order check leaves no marker and its retry runs fresh rather
than through recovery. A re-run that finds the applied marker is a
redelivery and no-ops; one that finds the inflight marker is crash
recovery — it reconstructs each batch key's PRE-batch current row from
the touched buckets' history (the open copy survives until the
overwrite; once the append ran, the closed copy is the only row
starting before the batch whose validity reaches into it), re-runs the
merge classification against that reconstructed state so every
recomputed row matches the original attempt byte-for-byte, anti-joins
the closed appends on full version-row identity (keys + attrs +
valid_from + valid_to), and re-issues the idempotent current
overwrite — so nothing is duplicated or lost whichever write boundary
the crash fell on (each write is assumed atomic at job-commit
granularity, the usual file-committer contract; a crash INSIDE the
append is still safe via the anti-join, one inside the dynamic
overwrite is repaired by re-overwriting). Only this recovery path ever
reads closed partitions; the normal path stays O(current rows in
touched buckets). The first-ever write uses a separate ``<fp>__init``
marker: replaying a torn init redoes the (idempotent) init overwrite
instead of misreading the half-written table as an initialized one.
Single writer per table and in-order batch retry (a failed batch is
retried before the next is attempted, as a streaming checkpoint
guarantees) assumed, and ENFORCED by the one store lease every store
writer takes (``maintenance.acquire_store_lease``, the
``<path>__maint_lease`` sibling of the table root), acquired before any
marker check: two genuinely concurrent writers never race the
check-then-write window — the loser fails loudly at acquisition. The
merge presents its batch fingerprint as the lease's adoption token, so
a lease stranded by a hard-killed attempt at the SAME batch is adopted
by the retry (checkpoint-replayed streaming merges keep their automatic
crash recovery), while any other stranded lease needs
``maintenance.break_store_lease`` after confirming the holder is dead.
A stale in-root ``_scd_lease`` file left by older code is ignored. An
inflight marker for a DIFFERENT batch still fails loudly (a crashed
batch must be retried in order) — use a transactional table format when
concurrent writers or readers matter.

History rewrites (:func:`scd2_trim_history`, :func:`compact_scd2_history`)
hold the same lease and swap the closed ``scd_current=0`` subtree by
rename inside the root; every lease holder that touches closed history
(merge, trim, compaction) first restores a subtree a crash left staged
aside.
"""

from __future__ import annotations

import functools
from contextlib import contextmanager as _contextmanager
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eel_spark.functions.hashes import row_digest
from eel_spark.operators.maintenance import (
    _overwrite_partitions,
    _restore_interrupted_swap,
    store_write_lease,
)

CURRENT_COL = "scd_current"  # partition: 1 = open version, 0 = closed
BUCKET_COL = "scd_bucket"  # partition: hash(key) % n_buckets

# per-batch merge bookkeeping, both under the table root; the leading
# underscore keeps them invisible to Spark's file index, so plain reads
# of the table never see them
INFLIGHT_DIR = "_scd_inflight"  # batch fingerprint, written pre-merge
APPLIED_DIR = "_scd_applied"  # batch fingerprint, written post-merge


def _keylist(keys: str | Sequence[str]) -> list[str]:
    return [keys] if isinstance(keys, str) else list(keys)


def _any_attr_changed(attr_cols: list[str], w) -> Column:
    """NULL-safe 'any tracked attribute differs from the previous row'."""
    changed = [
        ~F.col(a).eqNullSafe(F.lag(F.col(a)).over(w)) for a in attr_cols
    ]
    return functools.reduce(lambda x, y: x | y, changed)


def scd2_from_changes(
    df: DataFrame,
    keys: str | Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    order_cols: Sequence[str] = (),
    extra_cols: Sequence[str] = (),
    validate: bool = True,
) -> DataFrame:
    """Collapse a change log into SCD2 version rows.

    ``df`` rows are observations ``(keys…, attrs…, ts)``; consecutive
    observations (per key, ordered by ``ts`` then ``order_cols``) with
    identical tracked attributes merge into one version. Output:
    ``keys… + attrs… + extra_cols… + valid_from + valid_to +
    is_current`` where ``valid_to`` is the next version's
    ``valid_from`` (NULL for the open version) — the standard
    half-open ``[valid_from, valid_to)`` convention.

    Determinism: ``(keys, ts_col, *order_cols)`` must totally order
    each key's observations — pass a tiebreaker (e.g. the source's
    sequence/primary key) whenever two changes can share a timestamp.
    ``extra_cols`` ride along from the version-opening observation
    (untracked payload: lineage ids, source offsets).

    Plan: ONE hash exchange on the key; the lag (change detection) and
    the lead (validity splice) share its sort order.

    NULL discipline: NULL keys and NULL ``ts_col`` are rejected up front
    (``validate=True``, one bounded lookup job) — a NULL timestamp has
    no position in a validity chain and would corrupt its neighbours'
    ``[valid_from, valid_to)`` splice. Callers that already validated
    (e.g. :func:`scd2_merge`) pass ``validate=False``.
    """
    ks = _keylist(keys)
    attrs = list(attr_cols)
    if validate:
        _validate_batch(df, ks, ts_col)
    order = [F.col(ts_col)] + [F.col(c) for c in order_cols]
    w = Window.partitionBy(*ks).orderBy(*order)

    # lag of a constant is a NULL-proof first-row marker (lag(ts) would
    # misfire on the row AFTER a NULL timestamp if validation is skipped)
    is_change = F.lag(F.lit(1)).over(w).isNull() | _any_attr_changed(
        attrs, w
    )
    changes = df.withColumn("__chg", is_change).where(F.col("__chg"))
    # same partition keys and a sort-prefix-compatible order: Catalyst
    # plans the lead on the exchange the lag already paid for
    w2 = Window.partitionBy(*ks).orderBy(*order)
    valid_to = F.lead(F.col(ts_col)).over(w2)
    return changes.select(
        *ks,
        *attrs,
        *extra_cols,
        F.col(ts_col).alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


def _bucket(ks: list[str], n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(*[F.col(k) for k in ks]), F.lit(int(n_buckets))).cast(
        "int"
    )


def _validate_batch(batch: DataFrame, ks: list[str], ts_col: str) -> None:
    any_null = functools.reduce(
        lambda a, b: a | b,
        [F.col(k).isNull() for k in ks] + [F.col(ts_col).isNull()],
    )
    if batch.where(any_null).limit(1).collect():
        raise ValueError(
            f"batch contains NULL in key column(s) {ks} or in '{ts_col}'; "
            "NULL keys can never match their history and a NULL "
            "timestamp has no position in a validity chain — fill or "
            "drop such rows first"
        )


def scd2_merge(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    keys: str | Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    order_cols: Sequence[str] = (),
    n_buckets: int = 64,
) -> dict:
    """Fold a batch of observations into the SCD2 table at ``path``.

    The batch may carry MANY observations per key (a day's change log):
    it is first collapsed with :func:`scd2_from_changes`, then spliced
    onto each key's current row — a leading batch version whose
    attributes equal the current row is a continuation (no new
    version; the current row closes at the batch's NEXT change, if
    any), a differing one closes the current row at its
    ``valid_from``. Unknown keys insert their whole mini-chain.

    Out-of-order input is rejected: an observation at or before an
    affected key's current ``valid_from`` would need history rewriting
    (rebuild with :func:`scd2_from_changes` instead).

    Returns ``{"new_keys", "changed", "unchanged", "closed",
    "buckets_rewritten", "replayed"}``. ``replayed`` is True when the
    batch's fingerprint was already applied (at-least-once redelivery —
    the call no-ops) or an inflight marker showed a prior crashed
    attempt (the call repairs; counts then describe the REMAINING work,
    not the original batch). See the module docstring for layout, cost,
    and the crash contract.
    """
    from eel_spark.sources.hdfs import HdfsOps

    ks = _keylist(keys)
    attrs = list(attr_cols)
    ops = HdfsOps(spark)
    out_cols = [*ks, *attrs, "valid_from", "valid_to", "is_current"]

    _validate_batch(batch, ks, ts_col)
    # valid_to breaks valid_from ties deterministically: when two batch
    # changes share a timestamp (tiebroken upstream by order_cols), the
    # earlier version is the zero-duration one (valid_to == valid_from),
    # so (valid_from, valid_to NULLS LAST) reproduces the chain order
    rn = F.row_number().over(
        Window.partitionBy(*ks).orderBy(
            F.col("valid_from"), F.col("valid_to").asc_nulls_last()
        )
    )
    chains = (
        scd2_from_changes(batch, ks, attrs, ts_col, order_cols, validate=False)
        .withColumn("__rn", rn)
        .persist()
    )
    try:
        fp = _batch_fingerprint(chains, out_cols)
        applied = f"{path}/{APPLIED_DIR}/{fp}"
        inflight = f"{path}/{INFLIGHT_DIR}/{fp}"
        # init gets its own marker: a torn init (dynamic overwrite crash
        # landing scd_current=1 partitions but not scd_current=0) leaves
        # a table that LOOKS initialized; replaying it through the merge
        # path would fail the out-of-order check forever, while redoing
        # the init overwrite is idempotent (same batch → same partitions)
        inflight_init = f"{inflight}__init"
        # the store's single-writer lease (maintenance.acquire_store_lease),
        # taken BEFORE any marker check: the foreign-marker rejection
        # below only catches a writer that already left an inflight
        # marker — two writers racing the check-then-write window would
        # both see a clean table. The batch fingerprint is the adoption
        # token: under the single-writer + in-order-retry contract a
        # same-fp lease can only be a hard-killed earlier attempt at this
        # very batch, so its retry adopts it (automatic crash recovery).
        # The flip side (accepted trade-off): a LIVE duplicate submission
        # of the SAME batch — two callers concurrently merging identical
        # data — also adopts and the two interleave. Preventing that is
        # the caller's responsibility (Structured Streaming's checkpoint
        # serializes same-query attempts, so the streaming sink satisfies
        # it by construction); the lease fences writers of DIFFERENT
        # batches unconditionally.
        with store_write_lease(spark, path, "scd2_merge", token=fp):
            # a crashed closed-history rewrite may have left the closed
            # subtree staged aside: restore it before appending closed
            # rows, or the append would start a new subtree beside it
            _restore_closed_history(ops, path)
            if ops.exists(applied):
                # a crash between promoting the marker and deleting the
                # inflight one leaves both: drop it, or it would read as
                # a torn batch and wedge every later merge and compaction
                ops.delete(inflight, recursive=True)
                ops.delete(inflight_init, recursive=True)
                return {
                    "new_keys": 0, "changed": 0, "unchanged": 0, "closed": 0,
                    "buckets_rewritten": 0, "replayed": True,
                }
            replay = ops.exists(inflight)
            replay_init = ops.exists(inflight_init)

            # single-writer guard: an inflight marker for a DIFFERENT batch
            # means either a crashed batch was never retried (the in-order
            # retry contract requires retrying it before attempting the next
            # batch) or a second writer is mid-merge right now. Interleaving
            # would corrupt both batches' recovery, so fail loudly — this
            # converts a silent-corruption risk into an explicit error.
            foreign = [
                st["name"]
                for st in ops.list_status(f"{path}/{INFLIGHT_DIR}/*")
                if st["name"] not in (fp, f"{fp}__init")
            ]
            if foreign:
                raise RuntimeError(
                    f"SCD2 table at {path} has inflight marker(s) for a "
                    f"different batch ({foreign}): either a crashed merge "
                    "was never retried (retry THAT batch first — in-order "
                    "retry is part of the crash contract) or a second "
                    "writer is running concurrently (this merge is "
                    "single-writer; use a transactional table format for "
                    "concurrent writers)"
                )

            # markers live under the table root, so "table initialized" is
            # the existence of the current-rows partition dir, not of path
            if replay_init or not ops.exists(f"{path}/{CURRENT_COL}=1"):
                n = chains.count()  # materializes the pin
                new_keys = chains.select(*ks).distinct().count()
                ops.mkdirs(inflight_init)
                # dynamic overwrite (not a root truncate): replaces only the
                # partitions in the data, never the marker dirs — so a crash
                # before the applied marker replays through this same branch
                _write_generation(
                    chains.select(*out_cols), ks, path, n_buckets, dynamic=True
                )
                ops.mkdirs(applied)
                ops.delete(inflight_init, recursive=True)
                return {
                    "new_keys": new_keys,
                    "changed": 0,
                    "unchanged": 0,
                    "closed": n - new_keys,
                    "buckets_rewritten": -1,
                    "replayed": replay_init,
                }

            touched = [
                int(r["__b"])
                for r in chains.select(
                    _bucket(ks, n_buckets).alias("__b")
                )
                .distinct()
                .collect()
            ]
            cur = (
                spark.read.parquet(path)
                .where(
                    (F.col(CURRENT_COL) == 1)
                    & F.col(BUCKET_COL).isin(touched)
                )
                .drop(CURRENT_COL, BUCKET_COL)
                .persist()
            )
            # crash recovery ONLY: the touched buckets' full history (open +
            # closed) — the normal path never lists a closed partition
            hist = None
            if replay:
                hist = (
                    spark.read.parquet(path)
                    .where(F.col(BUCKET_COL).isin(touched))
                    .drop(BUCKET_COL)
                )
            try:
                stats = _merge_pinned(
                    spark, path, chains, cur, ks, attrs, out_cols, touched,
                    n_buckets, hist=hist,
                    mark_inflight=lambda: ops.mkdirs(inflight),
                )
                ops.mkdirs(applied)
                ops.delete(inflight, recursive=True)
                stats["replayed"] = replay
                return stats
            finally:
                cur.unpersist()
    finally:
        chains.unpersist()


def _batch_fingerprint(chains: DataFrame, cols: list[str]) -> str:
    """Deterministic content hash of a collapsed batch: row count plus
    an order-independent XOR of per-row NULL-anchored digests
    (:func:`eel_spark.functions.hashes.row_digest` — plain xxhash64
    skips NULL children, so two different batches whose rows differ only
    by a value shifting between nullable attr columns would fingerprint
    identically and the second would silently no-op as a "redelivery"),
    and an order-independent SUM of the digests mod 2^32 (XOR alone
    cancels paired duplicate rows — see the inline note).
    Upgrade note: both the NULL-anchoring and the sum accumulator
    changed the fingerprint values, so applied markers written by older
    schemes do not match — drain at-least-once redeliveries before
    upgrading a live store."""
    row = (
        chains.select(row_digest(cols).alias("__h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(__h)").alias("x"),
            # second, bit-independent accumulator: XOR alone cancels
            # PAIRED duplicates ({A,A,B} and {C,C,B} both xor to
            # digest(B)), so a batch differing only in a repeated row
            # would read as a redelivery and silently no-op. A sum does
            # not cancel; summing __h mod 2^32 keeps every term under
            # 2^32 so the long accumulator cannot overflow below ~2^31
            # rows (far beyond any single collapsed batch).
            F.sum(F.pmod(F.col("__h"), F.lit(4294967296))).alias("s"),
        )
        .collect()[0]
    )
    x = row["x"] or 0
    s = row["s"] or 0
    return (
        f"{row['n']}_{x & 0xFFFFFFFFFFFFFFFF:016x}"
        f"_{s & 0xFFFFFFFFFFFFFFFF:016x}"
    )


def _merge_pinned(
    spark: SparkSession,
    path: str,
    chains: DataFrame,
    cur: DataFrame,
    ks: list[str],
    attrs: list[str],
    out_cols: list[str],
    touched: list,
    n_buckets: int,
    hist: DataFrame | None = None,
    mark_inflight=None,
) -> dict:
    # ---- crash recovery: reconstruct each batch key's PRE-BATCH current
    # row from history, then re-run the merge classification exactly as
    # the original attempt did (hist is None on the normal path). The
    # current partitions are untrustworthy mid-crash (the overwrite may
    # or may not have landed), but the pre-batch current row is always
    # recoverable: its open copy (valid_to NULL) survives until the
    # overwrite, and once the closed append ran, its closed copy is the
    # ONLY row with valid_from before the batch whose valid_to reaches
    # into it (legit older closed rows end at or before the pre-batch
    # current's valid_from; the out-of-order check guarantees every
    # batch observation is strictly later). Re-deriving __close_at from
    # the FULL chains against the true pre-batch current reproduces the
    # original attempt's valid_to, so the full-identity anti-join below
    # drops exactly the rows that already landed — recomputing it from a
    # filtered batch would shift the close point and append a second,
    # overlapping closed copy.
    if hist is not None:
        min_bf = chains.groupBy(*ks).agg(
            F.min("valid_from").alias("__min_bf")
        )
        pre = hist.join(min_bf, on=ks, how="inner").where(
            (F.col("valid_from") < F.col("__min_bf"))
            & (
                F.col("valid_to").isNull()
                | (F.col("valid_to") >= F.col("__min_bf"))
            )
        )
        # open and closed copies of the same pre-batch current row agree
        # on everything but valid_to — collapse them and reopen
        vt_type = dict(cur.dtypes)["valid_to"]
        pre_cur = (
            pre.select(*ks, *attrs, "valid_from")
            .distinct()
            .withColumn("valid_to", F.lit(None).cast(vt_type))
            .withColumn("is_current", F.lit(True))
        )
        cur = (
            cur.join(chains.select(*ks).distinct(), on=ks, how="left_anti")
            .unionByName(pre_cur.select(*cur.columns))
        )

    # ---- classify batch keys against their current row -------------------
    b = chains  # __rn precomputed on the UNFILTERED batch (scd2_merge)
    cur_k = cur.select(
        *ks,
        *[F.col(a).alias(f"__cur_{a}") for a in attrs],
        F.col("valid_from").alias("__cur_from"),
    )
    # every batch version row, annotated with the key's current state
    ann = b.join(cur_k, on=ks, how="left")

    late = ann.where(
        F.col("__cur_from").isNotNull()
        & (F.col("valid_from") <= F.col("__cur_from"))
    )
    bad = late.select(*ks, "valid_from", "__cur_from").limit(1).collect()
    if bad:
        raise ValueError(
            "out-of-order batch: observation at "
            f"{dict(bad[0].asDict())} is not after the key's current "
            "valid_from; SCD2 merge only extends history forward — "
            "rebuild the dimension from the full change log for "
            "retroactive corrections"
        )

    same_as_cur = functools.reduce(
        lambda x, y: x & y,
        [F.col(a).eqNullSafe(F.col(f"__cur_{a}")) for a in attrs],
    )
    is_known = F.col("__cur_from").isNotNull()
    # a leading batch version equal to the current row is a continuation,
    # not a change — drop it; later versions always materialize
    keep = ~(is_known & (F.col("__rn") == 1) & same_as_cur)
    kept = ann.where(keep)

    # per key: does any version materialize, and when does the first one
    # start (that's when the current row closes)?
    key_stats = (
        ann.groupBy(*ks)
        .agg(
            F.min(F.when(keep, F.col("valid_from"))).alias("__close_at"),
            F.max(F.when(is_known, 1).otherwise(0)).alias("__known"),
        )
        .persist()
    )
    try:
        n_new = key_stats.where(F.col("__known") == 0).count()
        n_changed = key_stats.where(
            (F.col("__known") == 1) & F.col("__close_at").isNotNull()
        ).count()
        n_unchanged = key_stats.where(
            (F.col("__known") == 1) & F.col("__close_at").isNull()
        ).count()

        # old current rows that now close (any materializing version)
        closing = key_stats.where(F.col("__close_at").isNotNull()).select(
            *ks, "__close_at"
        )
        closed_cur = (
            cur.join(closing, on=ks, how="inner")
            .withColumn("valid_to", F.col("__close_at"))
            .withColumn("is_current", F.lit(False))
            .select(*out_cols)
        )
        new_versions = kept.select(*out_cols)
        new_closed = new_versions.where(~F.col("is_current"))
        new_current = new_versions.where(F.col("is_current"))

        # surviving current rows in the touched buckets: keys the batch
        # didn't change (including unknown-to-batch keys sharing a bucket)
        survivors = cur.join(closing.select(*ks), on=ks, how="left_anti")

        # ---- write: append closed history FIRST (never lost), then
        # dynamically overwrite only the touched current buckets --------
        to_append = closed_cur.unionByName(new_closed)
        if hist is not None:
            # crash recovery: never re-append a closed row the crashed
            # attempt already landed. Identity is the FULL version row
            # (keys, valid_from, valid_to, attrs) — (key, valid_from)
            # alone is not unique when a batch holds two same-timestamp
            # changes (the earlier one is zero-duration, valid_to ==
            # valid_from) and matching on it could drop a version that
            # was never written. Match ONLY closed rows: an open row
            # shares its valid_from with the closing row we're about to
            # write. Degenerate corner: two FULLY identical version rows
            # (≥3 changes in one timestamp tick with recurring attrs)
            # collapse to one copy on replay — harmless, they are
            # indistinguishable and zero-duration rows never satisfy an
            # as-of predicate.
            already = hist.where(F.col(CURRENT_COL) == 0).select(
                *ks, *attrs, "valid_from", "valid_to"
            )
            t, a = to_append.alias("t"), already.alias("a")
            ident = functools.reduce(
                lambda x, y: x & y,
                [F.col(f"t.{k}") == F.col(f"a.{k}") for k in ks]
                + [
                    F.col(f"t.{c}").eqNullSafe(F.col(f"a.{c}"))
                    for c in attrs
                ]
                + [
                    F.col("t.valid_from") == F.col("a.valid_from"),
                    F.col("t.valid_to") == F.col("a.valid_to"),
                ],
            )
            to_append = t.join(a, ident, "left_anti")
        n_closed_total = to_append.count()
        # first write of the merge: everything above is read-only, so a
        # batch rejected by the out-of-order check leaves no marker and
        # its retry runs fresh instead of taking the recovery path
        if mark_inflight is not None:
            mark_inflight()
        _write_generation(to_append, ks, path, n_buckets, append=True)
        _write_generation(
            survivors.select(*out_cols).unionByName(new_current),
            ks, path, n_buckets, dynamic=True,
        )
        return {
            "new_keys": n_new,
            "changed": n_changed,
            "unchanged": n_unchanged,
            "closed": n_closed_total,
            "buckets_rewritten": len(touched),
        }
    finally:
        key_stats.unpersist()


def _write_generation(
    df: DataFrame,
    ks: list[str],
    path: str,
    n_buckets: int,
    append: bool = False,
    dynamic: bool = False,
) -> None:
    out = df.withColumn(
        CURRENT_COL, F.col("is_current").cast("int")
    ).withColumn(BUCKET_COL, _bucket(ks, n_buckets))
    if dynamic and not append:
        _overwrite_partitions(out, path, (CURRENT_COL, BUCKET_COL))
        return
    w = out.write.partitionBy(CURRENT_COL, BUCKET_COL)
    w.mode("append" if append else "errorifexists").parquet(path)


def read_scd2_current(spark: SparkSession, path: str) -> DataFrame:
    """Current dimension state — prunes to the ``scd_current=1``
    partitions; closed history files are never listed into the scan."""
    return (
        spark.read.parquet(path)
        .where(F.col(CURRENT_COL) == 1)
        .drop(CURRENT_COL, BUCKET_COL)
    )


def scd2_enrich(
    facts: DataFrame,
    spark: SparkSession,
    path: str,
    keys: str | Sequence[str],
    ts_col: str,
    attrs: Sequence[str] | None = None,
    how: str = "left",
    include_validity: bool = False,
    n_buckets: int | None = None,
    bin_days: int | None = None,
) -> DataFrame:
    """Point-in-time enrichment: attach to every fact row the dimension
    version that was valid at THAT ROW's ``ts_col`` — the feature-store
    "point-in-time join" that keeps training data leakage-free (a fact
    must never see attribute values from its future). Contrast
    :func:`read_scd2_asof`, which reconstructs the whole dimension at
    ONE fixed timestamp.

    Semantics: the matching version satisfies ``valid_from <= ts <
    valid_to`` (open version: ``valid_to IS NULL``); per key the
    intervals are disjoint, so at most one version matches and the
    output has exactly one row per fact row (``how='left'``, unknown
    keys and pre-history facts get NULL attrs) or only the matched
    facts (``how='inner'``).

    Scale shape: ONE equi-join on the dimension key with the interval
    predicate as a residual join condition — the equality component
    keeps it a hash/sort-merge join (never the BroadcastNestedLoopJoin
    a bare range predicate would plan), per-key version counts are
    small so the residual scan is bounded, and AQE broadcasts the
    version table when it is small. With ``n_buckets`` (the table's
    bucket modulus) the dimension read prunes to the ``scd_bucket``
    partitions the FACT keys hash into — worth it when facts touch a
    selective key slice; the bucket set costs one slim
    distinct-projection shuffle of the facts, bounded by n_buckets.

    DEEP version chains: the residual scan is O(versions-per-key) PER
    FACT ROW — measured 6.5 s at 10 000
    versions/key on a 1.6 M-fact join (local[32]) vs 1.4 s binned,
    linear in chain depth. ``bin_days`` switches to the interval-binned join
    (the same bin trick as ``operators/joins.range_join``): each
    closed version row is exploded to the ``bin_days``-wide time bins
    its validity overlaps, facts join on (key, bin) equality plus the
    same residual, so per-fact residual work drops to versions-per-bin
    — the same 10 000-version join runs 1.4 s (4.7×), flat in chain
    depth. Exact GIVEN the scd2_merge disjoint-intervals invariant:
    bins only ever ADD join-key constraints the residual re-checks, a
    closed version appears once per bin, and a fact has exactly one
    bin, so no match is lost or duplicated; on a malformed dimension
    with overlapping versions both the binned and the plain path fan
    out visibly rather than silently picking a winner. OPEN versions
    (typically one long-lived row per key — the common dimension
    shape) are NOT exploded over their unbounded tail: their candidate
    bins come from the facts' own distinct (key, bin) pairs, both arms
    union into one binned dimension, and the facts join ONCE on
    (key, bin) — full fact rows shuffle a single time. Cost: the
    closed side grows by ~(version duration / bin_days) rows per
    version plus one slim (key, bin)-pair distinct over the facts, so
    pick ``bin_days`` around the typical version lifetime; leave None
    for shallow dimensions.

    ``attrs`` defaults to every dimension column except keys/validity;
    collisions with fact column names are rejected (rename first).
    """
    ks = _keylist(keys)
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    dim = spark.read.parquet(path)
    if n_buckets is not None:
        fact_buckets = [
            int(r["__b"])
            for r in facts.select(
                _bucket(ks, n_buckets).alias("__b")
            ).distinct().collect()
        ]
        dim = dim.where(F.col(BUCKET_COL).isin(fact_buckets))
    dim = dim.drop(CURRENT_COL, BUCKET_COL)
    meta = {"valid_from", "valid_to", "is_current", *ks}
    if attrs is None:
        attrs = [c for c in dim.columns if c not in meta]
    attrs = list(attrs)
    carried = attrs + (["valid_from", "valid_to"] if include_validity else [])
    clash = [c for c in carried if c in facts.columns]
    if clash:
        raise ValueError(
            f"dimension column(s) {clash} collide with fact columns — "
            "rename on one side before enriching"
        )
    fact_cols = list(facts.columns)
    if bin_days is not None:
        if bin_days <= 0:
            raise ValueError(f"bin_days must be positive, got {bin_days}")
        binc = "__scd_bin"
        while binc in fact_cols or binc in dim.columns:
            binc = "_" + binc
        anchor = F.lit("1970-01-01")

        def to_bin(c):
            return F.floor(F.datediff(c, anchor) / bin_days)

        # Only CLOSED versions bin-explode over their own validity
        # (bounded: duration/bin_days rows each). OPEN versions —
        # typically one long-lived row per key, which exploded over
        # their unbounded tail would multiply by the fact time span —
        # get candidate bins from the facts' own DISTINCT (key, bin)
        # pairs instead (slim: pairs, not rows; to_bin is monotone, so
        # fact_ts >= valid_from implies fact_bin >= start_bin and no
        # match is lost). Both arms then union into ONE binned
        # dimension and the facts join ONCE on (key, bin) — the full
        # fact rows shuffle a single time (pre-r10: one join per arm,
        # two fact exchanges). datediff truncates to DATE, so bin
        # bounds only ever WIDEN the candidate set vs the exact
        # interval — the residual predicates re-check it. Assuming
        # disjoint validity intervals (the scd2_merge invariant), a
        # fact matches at most one version across both arms — and on a
        # MALFORMED dimension where a closed and the open version
        # overlap, this single join fans out visibly, exactly like the
        # plain path (pre-r10 the coalesce silently preferred the
        # closed match).
        lo = to_bin(F.col("valid_from"))
        closed = dim.where(F.col("valid_to").isNotNull()).withColumn(
            binc,
            F.explode(
                F.sequence(lo, F.greatest(to_bin(F.col("valid_to")), lo))
            ),
        )
        open_v = dim.where(F.col("valid_to").isNull())
        f = facts.withColumn(binc, to_bin(F.col(ts_col)))
        fkb = f.select(*ks, binc).distinct()
        cond_ob = functools.reduce(
            lambda x, y: x & y,
            [F.col(f"o.{k}") == F.col(f"b.{k}") for k in ks]
            + [F.col(f"b.{binc}") >= to_bin(F.col("o.valid_from"))],
        )
        open_binned = (
            open_v.alias("o")
            .join(fkb.alias("b"), cond_ob, "inner")
            .select(
                *[F.col(f"o.{c}") for c in open_v.columns],
                F.col(f"b.{binc}").alias(binc),
            )
        )
        fa, da = f.alias("f"), closed.unionByName(open_binned).alias("d")
        cond = functools.reduce(
            lambda x, y: x & y,
            [F.col(f"f.{k}") == F.col(f"d.{k}") for k in ks]
            + [
                F.col(f"f.{binc}") == F.col(f"d.{binc}"),
                F.col(f"f.{ts_col}") >= F.col("d.valid_from"),
                F.col("d.valid_to").isNull()
                | (F.col(f"f.{ts_col}") < F.col("d.valid_to")),
            ],
        )
        joined = fa.join(da, cond, how)
        return joined.select(
            *[F.col(f"f.{c}") for c in fact_cols],
            *[F.col(f"d.{c}") for c in carried],
        )
    f, d = facts.alias("f"), dim.alias("d")
    cond = functools.reduce(
        lambda x, y: x & y,
        [F.col(f"f.{k}") == F.col(f"d.{k}") for k in ks]
        + [
            F.col(f"f.{ts_col}") >= F.col("d.valid_from"),
            F.col("d.valid_to").isNull()
            | (F.col(f"f.{ts_col}") < F.col("d.valid_to")),
        ],
    )
    joined = f.join(d, cond, how)
    return joined.select(
        *[F.col(f"f.{c}") for c in fact_cols],
        *[F.col(f"d.{c}") for c in carried],
    )


def read_scd2_asof(spark: SparkSession, path: str, ts) -> DataFrame:
    """Dimension state as of ``ts``: the version row (per key) whose
    ``[valid_from, valid_to)`` interval contains it. Scans both open and
    closed partitions (validity is not a partition axis — as-of reads
    are the archaeology path, not the hot path)."""
    t = F.lit(ts)
    return (
        spark.read.parquet(path)
        .where(
            (F.col("valid_from") <= t)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
        )
        .drop(CURRENT_COL, BUCKET_COL)
    )


# trim and compaction share ONE pair of staged-swap names (kept from the
# r10 trim for on-disk compat), so whichever tool runs next after a crash
# recognizes and recovers the other's interrupted swap. They live INSIDE
# the root with a leading underscore: a ``scd_current=0__old`` sibling
# would be read by Spark's partition discovery as a partition value.
_CLOSED_TRASH = "_scd_trim_old"
_CLOSED_STAGING = "_scd_trim_staging"


def _restore_closed_history(ops, path: str) -> None:
    """Heal an interrupted :func:`_swap_closed_history` (crash between
    its two renames). Run by every holder of the store lease that
    touches the closed subtree (merge, trim, compaction)."""
    _restore_interrupted_swap(
        ops, f"{path}/{CURRENT_COL}=0", aside=f"{path}/{_CLOSED_TRASH}"
    )


def _swap_closed_history(ops, path: str, staging: str | None, tag: str):
    """Replace the closed subtree with ``staging`` (``None``: remove
    it): stage the old subtree aside, rename the new one in (rolled back
    if that rename fails), drop the old one. A crash between the renames
    is healed by :func:`_restore_closed_history`."""
    closed_root = f"{path}/{CURRENT_COL}=0"
    trash = f"{path}/{_CLOSED_TRASH}"
    if not ops.rename(closed_root, trash):
        raise IOError(f"scd2 history {tag}: could not stage {closed_root} aside")
    if staging is not None and not ops.rename(staging, closed_root):
        ops.rename(trash, closed_root)  # roll back
        raise IOError(f"scd2 history {tag}: could not swap in {staging}")
    ops.delete(trash, recursive=True)


@_contextmanager
def _closed_history_writer(spark: SparkSession, path: str, tag: str):
    """Shared prologue for closed-history rewriters (retention trim,
    small-files compaction): hold the store lease (these are writes —
    interleaving with a merge would corrupt both), refuse tables with
    inflight markers (a torn batch's in-order retry re-reads the touched
    buckets' FULL history — rewriting closed rows underneath it would
    break the repair), recover an interrupted swap, and reap stale
    leftovers UP FRONT (a crash after a successful swap but before the
    trash delete must not strand a full closed-history copy behind the
    early-return paths). Yields ``(ops, closed_root, staging)``; the
    lease releases on every Python-level exit."""
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    with store_write_lease(spark, path, f"scd2_history_{tag}"):
        inflight = [
            st["name"] for st in ops.list_status(f"{path}/{INFLIGHT_DIR}/*")
        ]
        if inflight:
            raise RuntimeError(
                f"SCD2 table at {path} has inflight marker(s) "
                f"({inflight}): a crashed merge must be retried (and "
                f"repaired) before a history {tag}"
            )
        _restore_closed_history(ops, path)
        staging = f"{path}/{_CLOSED_STAGING}"
        ops.delete(f"{path}/{_CLOSED_TRASH}", recursive=True)
        ops.delete(staging, recursive=True)
        yield ops, f"{path}/{CURRENT_COL}=0", staging


def scd2_trim_history(
    spark: SparkSession,
    path: str,
    older_than,
) -> dict:
    """Retention trim: drop CLOSED versions whose validity ENDED at or
    before ``older_than`` (a date/timestamp literal). Open versions and
    closed versions still valid after the cutoff are untouched, so
    ``read_scd2_current`` and any ``read_scd2_asof``/``scd2_enrich`` at
    or after the cutoff return exactly what they did before the trim
    (tested); as-of reads BEFORE the cutoff lose the purged versions —
    that is the point of retention, pick ``older_than`` behind every
    replay/audit horizon.

    Mechanics: takes the store lease (trim is a write — interleaving
    with a merge would corrupt both), rewrites the surviving closed rows
    into a staged ``scd_current=0`` subtree, and swaps it in by rename
    with the same crash contract as compaction (crash between the two
    renames → the next lease holder restores the staged-aside subtree). Buckets whose closed history
    expires ENTIRELY disappear with the swap — the reason this is a
    subtree swap and not a dynamic partition overwrite, which only
    rewrites partitions present in the new data and would strand
    all-expired buckets. Returns {"dropped", "kept"}."""
    with _closed_history_writer(spark, path, "trim") as (
        ops, closed_root, staging,
    ):
        has_files = bool(
            ops.list_status(f"{closed_root}/{BUCKET_COL}=*/*.parquet")
        )
        if not has_files:  # no closed history (or a prior trim took it all)
            return {"dropped": 0, "kept": 0}
        cutoff = F.lit(older_than)
        closed = spark.read.parquet(closed_root)  # scd_bucket partitions
        keep_cond = F.col("valid_to") > cutoff
        # ONE scan for both counts (the closed history is the table's
        # large part; don't read it three times)
        row = closed.agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(keep_cond, F.lit(1))).alias("kept"),
        ).first()
        total, kept = int(row["total"]), int(row["kept"])
        if kept == total:
            return {"dropped": 0, "kept": kept}
        if kept == 0:
            # nothing survives: remove the subtree (no empty staging dir
            # that a later read would choke on); same crash contract —
            # a kill after the rename restores from trash next call
            _swap_closed_history(ops, path, None, "trim")
            return {"dropped": total, "kept": 0}
        # stage the surviving subtree, then swap (bucket dirs that lost
        # ALL rows simply do not exist in the staged tree)
        keep = closed.where(keep_cond)
        keep.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging)
        _swap_closed_history(ops, path, staging, "trim")
        return {"dropped": total - kept, "kept": kept}


def compact_scd2_history(spark: SparkSession, path: str) -> dict:
    """Small-files compaction of the CLOSED history: ``scd2_merge``
    appends closed rows per batch (append-only by design — rewriting
    history on every merge would turn the closed subtree into a
    full-table rewrite), so a long-lived table accumulates one file set
    per batch per touched bucket and as-of/enrich scans pay the
    open-file overhead. This rewrites the whole closed subtree into ONE
    file per ``scd_bucket`` — row-identical, no retention cutoff (that
    is ``scd2_trim_history``'s job) — under the same single-writer lease
    + inflight-marker refusal + staged-rename crash contract as the trim
    (`_closed_history_writer`; the two share staged-swap names, so
    either tool recovers the other's interrupted swap). One hash
    exchange on the bucket column keys every bucket's rows to one task,
    and ``partitionBy`` re-splits by value, so each bucket dir lands
    exactly one file regardless of task co-location. Already-compact
    tables (≤1 file per bucket) return without reading a row. Run it
    OFFLINE like the other compactors: between merges, no concurrent
    readers that hold open file handles across the swap. Returns
    {"files_before", "files_after", "buckets", "rows"}."""
    with _closed_history_writer(spark, path, "compaction") as (
        ops, closed_root, staging,
    ):
        files = ops.list_status(
            f"{closed_root}/{BUCKET_COL}=*/*.parquet"
        )
        if not files:
            return {"files_before": 0, "files_after": 0, "buckets": 0,
                    "rows": 0}
        per_bucket: dict = {}
        for st in files:
            # .../scd_current=0/scd_bucket=N/part-*.parquet
            bucket = st["path"].rstrip("/").rsplit("/", 2)[-2]
            per_bucket[bucket] = per_bucket.get(bucket, 0) + 1
        n_before = len(files)
        if all(n <= 1 for n in per_bucket.values()):
            return {"files_before": n_before, "files_after": n_before,
                    "buckets": len(per_bucket), "rows": None}
        closed = spark.read.parquet(closed_root)
        rows = closed.count()
        (
            closed.repartition(F.col(BUCKET_COL))
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(staging)
        )
        _swap_closed_history(ops, path, staging, "compaction")
        n_after = len(
            ops.list_status(f"{closed_root}/{BUCKET_COL}=*/*.parquet")
        )
        return {"files_before": n_before, "files_after": n_after,
                "buckets": len(per_bucket), "rows": rows}
