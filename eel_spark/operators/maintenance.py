"""The incremental-store module: the one commit protocol the six store
families share, and the table that tells their layouts apart.

The families are the BM25 stats store (operators/retrieval.py), the IVF
index (operators/similarity.py), the incremental-dedup history
(streaming/streams.py), the SCD2 closed history (operators/scd2.py), the
rollup store (operators/rollups.py) and the crawl frontier
(operators/crawl.py). Each keeps its schema, its fold and compaction
aggregates and its sort/repartition; the protocol around them is here:

- **Lease.** Every appender, compactor and ``maintain`` holds the
  store's one single-writer lease (:func:`acquire_store_lease`,
  :func:`store_write_lease`, :func:`locked_store_write`). The outermost
  acquisition heals an interrupted swap first.
- **Commit with reap.** :func:`commit_batch` rejects a negative batch id
  (-1 is the compacted sentinel), writes the batch's partitions by
  per-writer dynamic overwrite (old data stays intact until the job
  commits, so an interrupted append loses nothing), then deletes this
  batch's key-hash sub-partitions the new increment no longer touches,
  so a replayed batch id converges to exactly its rows.
- **Sentinel compaction.** :func:`_compact_to_sentinel` folds the store
  into one ``<batch col> = -1`` generation through :func:`_staged_swap`,
  so a crash at any step leaves the store whole or staged aside for the
  next lease holder to restore. SCD2 instead swaps its closed subtree
  (operators/scd2.py).
- **Family table.** ``_FAMILIES`` holds each family's layout marker, its
  batch-dir glob (or the rollup's batch-id data column), its
  torn-attempt probe and its compactor. :func:`detect_store_type`,
  :func:`store_maintenance_report`, :func:`maintain` and the streaming
  cadence (streams._maybe_maintain) read it.
- **Missing store.** :func:`_read_store` reads a store that may not
  exist yet: None for a missing or empty one, an error for anything
  else.

The report and ``maintain`` close the "compact every O(100) batches"
loop by measuring depth: one report shape across the six families and a
threshold policy that runs the family's own compactor. ``maintain``
measures with the report as a Python dict (``_report``): driver-side
layout listing, O(store files), that launches no Spark job and never
touches row data, except on the rollup store, whose batch ids are data
(one slim aggregate). So a ``maintain`` that does not compact, the
common case of the streaming cadence, costs a few listings and no job.
:func:`store_maintenance_report` is that dict as a one-row DataFrame,
for dashboards that union reports across stores. Run either from the
ingest scheduler, not inside queries.
"""

from __future__ import annotations

import functools
import importlib
import inspect
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: the ONE single-writer lease every store writer takes (appenders,
#: compactors, ``maintain``, SCD2 merges and history rewrites, the funnel
#: report sink): a SIBLING of the store root (``<root>__maint_lease``) so
#: a staged-swap compaction that renames the root never moves the lock
#: out from under its holder. In-root ``_scd_lease`` / ``_report_lease``
#: files left by older code are ignored.
MAINT_LEASE_SUFFIX = "__maint_lease"


import threading as _threading

_LEASE_TL = _threading.local()


def _held_leases() -> set:
    held = getattr(_LEASE_TL, "held", None)
    if held is None:
        held = _LEASE_TL.held = set()
    return held


def acquire_store_lease(
    spark: SparkSession, path: str, op: str, token: str | None = None
) -> str | None:
    """Acquire the store's single-writer lease (atomic create-if-absent):
    every appender and compactor takes it, so concurrent
    maintain-vs-append (or append-vs-append) FAILS LOUDLY at
    acquisition instead of relying on the documented offline contract.
    Returns the lease path for :func:`release_store_lease` (or None
    when THIS THREAD already holds it — re-entrant for the sink →
    maintain → compactor call chain; the outermost acquisition owns
    the release).

    ``token`` is the SELF-ADOPTION identity (a streaming batch id, an
    SCD2 batch fingerprint): a lease stranded by a hard-killed holder
    whose recorded token EQUALS the token being acquired is adopted —
    the only caller that can retry a checkpointed batch is the one
    stream that owns the checkpoint, so a crash mid-batch self-heals on
    replay instead of wedging the sink until a human runs
    :func:`break_store_lease`. Tokenless acquisitions (ad-hoc
    compaction, offline maintain) never adopt; the loser raises
    RuntimeError naming the holder's recorded operation (the file's
    mtime is the acquisition time).

    The outermost acquisition also HEALS an interrupted
    :func:`_staged_swap` on every path a store
    swaps (``<root>``, ``<root>/postings``, ``<root>__bands``), so every
    holder — appender, compactor or maintain — finds the store whole
    before it reads or writes it."""
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    root = path.rstrip("/")
    lease = root + MAINT_LEASE_SUFFIX
    held = _held_leases()
    if lease in held:
        return None
    content = f"{op} [{token}]\n" if token is not None else op + "\n"
    if not ops.create_atomic(lease, content=content):
        try:
            holder = ops.read_text(lease).strip()
        except Exception:
            holder = "<unreadable>"
        adopt = (
            token is not None
            and holder.endswith(f"[{token}]")
        )
        if not adopt:
            raise RuntimeError(
                f"store at {path} has an active writer/maintainer (lease "
                f"{lease} held by {holder!r}) — appends, compaction and "
                f"maintain() are mutually exclusive per store; if the "
                f"holder is a dead process, break_store_lease() releases it"
            )
        # stale lease from a crashed attempt of the SAME work unit:
        # re-stamp it (delete+create is not atomic, but only the
        # checkpoint owner can present this token — single writer per
        # checkpoint is already the sinks' contract)
        ops.delete(lease)
        if not ops.create_atomic(lease, content=content):
            raise RuntimeError(
                f"store at {path}: lost the adoption race on {lease} — "
                "two writers presented the same token, which violates "
                "the single-writer-per-checkpoint contract"
            )
    held.add(lease)
    try:
        for swapped in (root, f"{root}/postings", root + "__bands"):
            _restore_interrupted_swap(ops, swapped)
    except BaseException:
        release_store_lease(spark, lease)
        raise
    return lease


def release_store_lease(spark: SparkSession, lease: str | None) -> None:
    """Release a lease returned by :func:`acquire_store_lease`; a None
    handle (re-entrant acquisition) is a no-op — the outermost holder
    releases."""
    if lease is None:
        return
    from eel_spark.sources.hdfs import HdfsOps

    _held_leases().discard(lease)
    HdfsOps(spark).delete(lease)


def break_store_lease(spark: SparkSession, path: str) -> bool:
    """Remove a stranded maintenance lease left by a hard-killed holder
    (every Python-level exit releases it automatically). Only break a
    lease after confirming the holder is dead."""
    from eel_spark.sources.hdfs import HdfsOps

    return HdfsOps(spark).delete(path.rstrip("/") + MAINT_LEASE_SUFFIX)


@contextmanager
def store_write_lease(
    spark: SparkSession, path: str, op: str, token: str | None = None
):
    lease = acquire_store_lease(spark, path, op, token=token)
    try:
        yield
    finally:
        release_store_lease(spark, lease)


def locked_store_write(
    path_arg: str, session_from: str, token_arg: str | None = None
):
    """Decorator for store write/compaction entry points: hold the
    store's maintenance lease for the duration of the call.
    ``path_arg`` names the store-path parameter; ``session_from`` names
    a parameter that is either a SparkSession or a DataFrame (the
    session is taken from it); ``token_arg`` optionally names the
    batch-id parameter, making a crashed attempt's stranded lease
    SELF-ADOPTABLE on checkpoint replay of the same batch (see
    :func:`acquire_store_lease`). Lives at the appender/compactor
    layer — a superset of "maintain() takes a lease": direct compactor
    calls racing an appender fail loudly too, and ``maintain`` itself
    needs no lock of its own (its measure is read-only; its compact
    step is the decorated compactor). Re-entrant per thread, so the
    sink → maintain → compactor chain under one held lease works."""

    def deco(fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            ba = sig.bind(*args, **kwargs)
            ba.apply_defaults()
            src = ba.arguments[session_from]
            spark = src.sparkSession if isinstance(src, DataFrame) else src
            token = (
                f"batch={ba.arguments[token_arg]}"
                if token_arg is not None
                else None
            )
            with store_write_lease(
                spark, ba.arguments[path_arg], fn.__name__, token=token
            ):
                return fn(*args, **kwargs)

        return wrapper

    return deco


# -- the swap, the commit and the missing-store read ------------------------


def _restore_interrupted_swap(
    ops, store: str, aside: str | None = None
) -> bool:
    """If a prior :func:`_staged_swap` of ``store`` was interrupted
    between its two renames (store missing, its staged-aside copy
    ``aside`` — default ``<store>__old`` — present), the staged-aside
    copy is authoritative — move it back. Returns True when a restore
    happened. Called by the outermost :func:`acquire_store_lease` on
    every path a store swaps, by ``upsert_parquet`` (which takes no
    lease) on its own path, and by the SCD2 writers for the closed
    subtree they swap inside the root, so whichever writer runs next
    after a crash finds the store whole."""
    aside = aside or store + "__old"
    if not ops.exists(store) and ops.exists(aside):
        if not ops.rename(aside, store):
            raise IOError(
                f"could not restore staged store {aside} after an "
                "interrupted swap"
            )
        return True
    return False


def _staged_swap(spark: SparkSession, store: str, write_fn) -> None:
    """Crash-safe whole-store replacement — the ONE swap every store
    rewrite uses (the sentinel compactions, the IVF reindex,
    ``upsert_parquet``'s full rewrite): a static overwrite of the store
    root would truncate before writing, so a crash mid-write loses the
    store. Instead:

    1. ``write_fn(tmp)`` builds the replacement at a fresh
       ``<store>__compacting`` (same filesystem → rename-able; a
       crashed attempt's half-built tree is deleted first); it may read
       the store freely.
    2. Swap: store → ``__old``, tmp → store (rolled back if the second
       rename fails), then drop ``__old``.

    At every crash point the store is either whole at ``store`` or
    whole at ``<store>__old`` with ``store`` missing. The caller must
    heal the second state before reading (:func:`_restore_interrupted_swap`
    — the store lease does it on acquisition). Run OFFLINE relative to
    appenders — data landing in the store between write_fn's read and
    the swap is destroyed by it (the lease enforces this)."""
    from eel_spark.sources.hdfs import HdfsOps

    tmp = store + "__compacting"
    ops = HdfsOps(spark)
    ops.delete(tmp, recursive=True)
    write_fn(tmp)
    ops.delete(store + "__old", recursive=True)
    if not ops.rename(store, store + "__old"):
        raise IOError(f"staged_swap: could not stage {store} aside")
    if not ops.rename(tmp, store):
        ops.rename(store + "__old", store)  # roll back
        raise IOError(f"staged_swap: could not swap in {tmp}")
    ops.delete(store + "__old", recursive=True)


def _overwrite_partitions(
    df: DataFrame, path: str, parts: Sequence[str], format: str = "parquet"
) -> None:
    """Dynamic partition overwrite via the PER-WRITER option — never the
    session conf, which would race with concurrent writers on the same
    SparkSession (parallel foreachBatch, a second operator). The one
    dynamic-overwrite writer: store commits, rollup merges, SCD2 bucket
    rewrites, pruned upserts and the ``batch_id`` sinks."""
    (
        df.write.format(format)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*parts)
        .save(path)
    )


def commit_batch(
    df: DataFrame,
    path: str,
    batch_id: int,
    parts: Sequence[str],
    live_kps: set[int] | None = None,
) -> None:
    """Commit one batch's increment to the table at ``path``: the frame
    (already tagged with its batch id) replaces exactly the partitions
    it carries, ``partitionBy(*parts)``, by dynamic overwrite. The
    caller holds the store lease.

    A negative ``batch_id`` is refused before anything is written: -1
    is the compacted sentinel, and an append under it would overwrite
    (and its reap would delete) the compacted generation.

    ``live_kps`` is the key-hash sub-partition set (``parts[1]``) the
    caller collected from this increment. After the commit, this
    batch's ``<parts[1]>=K`` dirs whose K is not in it are deleted, so
    replaying (or re-submitting corrected data under) a batch id
    converges to exactly its rows — a two-level dynamic overwrite alone
    would leave vacated kp dirs behind forever. A crash after the commit
    and before the reap leaves stale rows only until the batch's next
    replay, never data loss. Families without a kp level pass None."""
    if int(batch_id) < 0:
        raise ValueError(
            f"batch id must be non-negative (got {int(batch_id)}) — "
            "negative ids are reserved for compacted partitions"
        )
    _overwrite_partitions(df, path, parts)
    if live_kps is None:
        return
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(df.sparkSession)
    batch_root = f"{path.rstrip('/')}/{parts[0]}={int(batch_id)}"
    for st in ops.list_status(f"{batch_root}/{parts[1]}=*"):
        if int(st["name"].split("=", 1)[1]) not in live_kps:
            ops.delete(st["path"], recursive=True)


def _compact_to_sentinel(
    store: str,
    folded: DataFrame,
    batch_col: str,
    parts: Sequence[str],
    shape=None,
) -> None:
    """Replace the table at ``store`` with ``folded`` — the family's
    compaction aggregate, without a ``batch_col`` — tagged
    ``batch_col = -1``, laid out by ``shape`` (the family's
    sort/repartition) and partitioned by ``parts`` as its appends are,
    through :func:`_staged_swap`. Run OFFLINE under the store lease and
    past the replay horizon: a batch appended during compaction is
    destroyed by the swap, and one replayed after it re-adds its rows."""
    tagged = folded.withColumn(batch_col, F.lit(-1))
    if shape is not None:
        tagged = shape(tagged)

    def write(tmp: str) -> None:
        tagged.write.mode("overwrite").partitionBy(*parts).parquet(tmp)

    _staged_swap(folded.sparkSession, store, write)


#: AnalysisException tags that mean "nothing materialized yet": a
#: missing path, or a directory with no parquet footers to infer a
#: schema from (every batch so far wrote zero rows)
_NO_STORE_TAGS = (
    "PATH_NOT_FOUND", "Path does not exist", "UNABLE_TO_INFER_SCHEMA",
)


def _read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """The table at ``path``, or None when it is missing or empty. Any
    other failure (permissions, a corrupt footer, schema drift) raises:
    reading it as "no history" would let an appender skip its history
    match or overwrite touched partitions with batch-only rows."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if not any(tag in str(e) for tag in _NO_STORE_TAGS):
            raise
        return None


# -- the family table ---------------------------------------------------------


@dataclass(frozen=True)
class _Family:
    """One store family's layout, as the maintenance code sees it. Paths
    are templates over the store ``{root}``."""

    #: present only on this family's stores: a path that exists, or a
    #: glob that matches
    marker: str
    #: ``module:function`` of the family's compactor, imported on use
    compactor: str
    #: glob of the ``<col>=<id>`` batch partition dirs; None when the
    #: family keeps no batch dirs
    batches: str | None = None
    #: the batch-id DATA column of a family without batch dirs (rollup)
    batch_col: str | None = None
    #: glob whose match marks a torn prior attempt; None: a live batch
    #: id at or past the current batch marks it
    torn: str | None = None
    #: trees the report walks for its file counts
    trees: tuple[str, ...] = ("{root}",)
    #: tree whose files-per-leaf is the depth lever, when not the root
    leaf_tree: str | None = None
    #: the compactor needs the caller's ``merges`` (rollup: merge
    #: semantics are data, not layout)
    needs_merges: bool = False


#: detection order: each family's layout is disjoint by construction, and
#: the dedup history's ``__bands`` sibling is probed before the
#: frontier's ``batch_id=`` dirs, which the dedup survivors share
_FAMILIES = {
    "ivf_index": _Family(
        marker="{root}/centroids",
        batches="{root}/postings/__src_batch=*",
        compactor="eel_spark.operators.similarity:compact_ivf_index",
    ),
    "scd2": _Family(
        marker="{root}/scd_current=*",
        # scd2.INFLIGHT_DIR: a merge that crashed mid-batch; compacting
        # the closed history under its replay would break the repair
        torn="{root}/_scd_inflight/*",
        leaf_tree="{root}/scd_current=0",
        compactor="eel_spark.operators.scd2:compact_scd2_history",
    ),
    "dedup_history": _Family(
        marker="{root}__bands",
        batches="{root}/batch_id=*",
        trees=("{root}", "{root}__bands"),
        compactor="eel_spark.streaming.streams:compact_dedup_history",
    ),
    "bm25_stats": _Family(
        marker="{root}/__src_batch=*",
        batches="{root}/__src_batch=*",
        compactor="eel_spark.operators.retrieval:compact_bm25_stats",
    ),
    "frontier": _Family(
        marker="{root}/batch_id=*",
        batches="{root}/batch_id=*",
        compactor="eel_spark.operators.crawl:compact_frontier_store",
    ),
    "rollup": _Family(
        marker="{root}/granularity=*",
        batch_col="__src_batch",
        needs_merges=True,
        compactor="eel_spark.operators.rollups:compact_rollup",
    ),
}

STORE_TYPES = tuple(_FAMILIES)

_REPORT_SCHEMA = (
    "path string, store_type string, n_batches long, "
    "has_compacted_generation boolean, n_files long, n_bytes long, "
    "n_dirs long, max_files_per_leaf long, last_compaction_ms long"
)
_REPORT_COLS = tuple(f.split()[0] for f in _REPORT_SCHEMA.split(","))


def _family(store_type: str) -> _Family:
    try:
        return _FAMILIES[store_type]
    except KeyError:
        raise ValueError(
            f"unknown store_type {store_type!r} — one of {STORE_TYPES}"
        ) from None


def detect_store_type(spark: SparkSession, path: str) -> str:
    """Identify which store family lives at ``path`` from its on-disk
    layout markers, probed in ``_FAMILIES`` order: IVF keeps a
    ``centroids/`` table, SCD2 ``scd_current=`` partitions, the dedup
    history a ``<path>__bands`` sibling, the BM25 store ``__src_batch=``
    partition dirs at the root, the frontier store ``batch_id=``
    partition dirs (reached only without a ``__bands`` sibling), the
    rollup store ``granularity=`` partition dirs."""
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    root = path.rstrip("/")
    for name, fam in _FAMILIES.items():
        marker = fam.marker.format(root=root)
        glob = "*" in fam.marker
        if not (ops.list_status(marker) if glob else ops.exists(marker)):
            continue
        # merge_time_rollup-maintained tables share the rollup layout
        # but carry no batch column — already-merged final tables, not
        # incremental stores, with no compactor to run
        if fam.batch_col and fam.batch_col not in spark.read.parquet(root).columns:
            raise ValueError(
                f"table at {path} has a rollup layout but no "
                f"{fam.batch_col} column — a merge_time_rollup table, not "
                "an incremental store (only append_rollup_batch stores "
                "are maintainable)"
            )
        return name
    raise ValueError(
        f"no recognizable incremental store at {path} — expected one of "
        f"{STORE_TYPES} (IVF centroids/, scd_current=, a __bands sibling, "
        "__src_batch= or granularity= partitions)"
    )


def _walk(ops, root: str):
    """Driver-side recursive listing: (n_files, n_bytes, n_dirs,
    max_files_per_leaf). Bounded by the store's file count — the very
    thing compaction exists to keep small."""
    n_files = n_bytes = n_dirs = 0
    max_leaf = 0
    stack = [root.rstrip("/")]
    while stack:
        d = stack.pop()
        leaf = 0
        for st in ops.list_status(d + "/*"):
            if st["is_dir"]:
                n_dirs += 1
                stack.append(st["path"])
            else:
                n_files += 1
                n_bytes += st["length"]
                if not st["name"].startswith(("_", ".")):
                    leaf += 1
        max_leaf = max(max_leaf, leaf)
    return n_files, n_bytes, n_dirs, max_leaf


def _live_batches(spark, ops, fam: _Family, root: str):
    """(live batch count, max live batch id, sentinel mtime) — live
    means non-sentinel. The sentinel mtime is the compacted generation's
    dir mtime, -1 when the rollup's data shows one without a time, None
    when there is none. All None for a family without batch ids."""
    if fam.batches:
        ids, sentinel_ms = [], None
        for st in ops.list_status(fam.batches.format(root=root)):
            bid = int(st["name"].split("=", 1)[1])
            if bid == -1:
                sentinel_ms = st["modification_time"]
            else:
                ids.append(bid)
        return len(ids), max(ids, default=None), sentinel_ms
    if fam.batch_col:
        # batch ids are DATA here — one slim aggregate over the store
        # (partials are one row per bucket per batch)
        b = F.col(fam.batch_col)
        row = (
            spark.read.parquet(root)
            .agg(
                F.count_distinct(F.when(b >= 0, b)).alias("n"),
                F.max(F.when(b >= 0, b)).alias("m"),
                F.max((b == -1).cast("int")).alias("c"),
            )
            .first()
        )
        return int(row["n"]), row["m"], -1 if row["c"] else None
    return None, None, None


def _torn_attempt(
    spark: SparkSession, path: str, store_type: str, batch_id: int
) -> bool:
    """Whether a torn prior attempt of micro-batch ``batch_id`` left
    state that compaction must not fold — the streaming cadence's
    REPLAY-HORIZON check. At the start of micro-batch N every batch < N
    is committed (Structured Streaming commits N-1 before planning N),
    so a live batch id >= N can only be a torn attempt of THIS batch,
    whose rows the replay is about to re-append (compacting them would
    double count). SCD2 keeps no batch ids: its torn attempt is an
    inflight marker, which its history compactor refuses until the
    replayed merge repairs it."""
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    root = path.rstrip("/")
    fam = _family(store_type)
    if fam.torn:
        return bool(ops.list_status(fam.torn.format(root=root)))
    live = _live_batches(spark, ops, fam, root)[1]
    return live is not None and live >= batch_id


def _report(
    spark: SparkSession, path: str, store_type: str | None = None
) -> dict:
    """The report row as a dict keyed by ``_REPORT_COLS`` — what
    :func:`maintain` measures with. Driver-side listing only, so it
    launches no Spark job, except on the rollup store (one aggregate:
    its batch ids are data)."""
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    root = path.rstrip("/")
    st = store_type or detect_store_type(spark, path)
    fam = _family(st)
    n_batches, _, compacted_ms = _live_batches(spark, ops, fam, root)
    walks = [_walk(ops, t.format(root=root)) for t in fam.trees]
    n_files, n_bytes, n_dirs = (sum(w[i] for w in walks) for i in range(3))
    max_leaf = max(w[3] for w in walks)
    if fam.leaf_tree:
        max_leaf = _walk(ops, fam.leaf_tree.format(root=root))[3]
    return dict(zip(_REPORT_COLS, (
        root,
        st,
        n_batches,
        None if n_batches is None else compacted_ms is not None,
        n_files,
        n_bytes,
        n_dirs,
        max_leaf,
        compacted_ms if (compacted_ms or 0) > 0 else None,
    )))


def store_maintenance_report(
    spark: SparkSession, path: str, store_type: str | None = None
) -> DataFrame:
    """One-row report over any incremental store — the same shape for
    all six families so a fleet of stores unions into one dashboard
    table: ``(path, store_type, n_batches, has_compacted_generation,
    n_files, n_bytes, n_dirs, max_files_per_leaf,
    last_compaction_ms)``.

    ``n_batches`` counts live (non-sentinel) increment generations —
    the read-side file-listing cost driver; NULL for SCD2, whose depth
    lever is ``max_files_per_leaf`` over its closed subtree (files per
    closed bucket, what its compactor collapses to 1 — the open side is
    the merge's to manage). ``last_compaction_ms`` is the compacted
    generation's directory mtime where the layout records one (BM25 /
    IVF / dedup / frontier sentinels), NULL otherwise."""
    row = _report(spark, path, store_type)
    return spark.createDataFrame([tuple(row.values())], _REPORT_SCHEMA)


def maintain(
    spark: SparkSession,
    path: str,
    max_batches: int = 32,
    max_files_per_leaf: int = 64,
    merges=None,
    extra_keys: Sequence[str] = (),
    store_type: str | None = None,
) -> dict:
    """Threshold-triggered compaction: measure the store, run its own
    compactor iff the depth policy is exceeded, measure again.

    Policy: batch-partitioned stores compact when live ``n_batches >
    max_batches``; SCD2 compacts when any closed bucket holds more
    than ``max_files_per_leaf`` files. The rollup store's compactor
    needs the caller's ``merges`` dict (its merge semantics are data,
    not layout) — calling ``maintain`` on a too-deep rollup store
    without one raises rather than guessing.

    The no-active-appenders half of the compactors' offline contract is
    MECHANICAL: every appender and compactor of all six families holds
    the store's one single-writer lease (:func:`acquire_store_lease`),
    so a maintain racing an append fails loudly at the compact step
    instead of corrupting state, and whichever holder comes first after
    a crash mid-compaction finds the store healed (the lease restores
    an interrupted staged swap before its holder runs). The
    REPLAY-HORIZON half stays the caller's to honor — except inside the
    streaming sinks' ``maintain_every`` cadence, which proves it from
    the batch id (streams._maybe_maintain). Returns ``{"store_type",
    "action", "before", "after"}`` with the report rows as dicts;
    ``action`` is ``"compacted"`` or ``"none"``."""
    st = store_type or detect_store_type(spark, path)
    fam = _family(st)
    before = _report(spark, path, st)
    needs = (
        before["max_files_per_leaf"] > int(max_files_per_leaf)
        if before["n_batches"] is None
        else before["n_batches"] > int(max_batches)
    )
    if not needs:
        return {"store_type": st, "action": "none", "before": before,
                "after": before}
    kw = {}
    if fam.needs_merges:
        if not merges:
            raise ValueError(
                f"{st} store at depth needs its compactor's merges= dict "
                "(how each aggregate column re-merges) — pass it through "
                "maintain(merges=...)"
            )
        kw = {"merges": merges, "extra_keys": list(extra_keys)}
    module, name = fam.compactor.split(":")
    getattr(importlib.import_module(module), name)(spark, path, **kw)
    after = _report(spark, path, st)
    return {"store_type": st, "action": "compacted", "before": before,
            "after": after}
