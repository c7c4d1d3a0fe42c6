"""Unified maintenance for the incremental stores.

Six store families share the per-batch increment discipline
(``__src_batch``/``batch_id`` partitions, -1 reserved as the compacted
sentinel, dynamic overwrite + staged-swap compaction): the BM25 stats
store (operators/retrieval.py), the IVF ANN index
(operators/similarity.py), the incremental-dedup history
(streaming/streams.py), the SCD2 closed history (operators/scd2.py), the rollup store
(operators/rollups.py) and the crawl frontier store
(operators/crawl.py). Each documents "compact every
O(100) batches", but nothing measured it — this module closes the loop
the way ``ivf_drift_report`` → ``reindex_ivf_index`` does for centroid
drift, for file/batch depth instead (r12 verdict #4):

- :func:`store_maintenance_report` — ONE report shape across all six
  stores: store type, batch depth, file/byte/dir counts, the
  max-files-per-leaf listing lever, whether a compacted generation
  exists and when it was written.
- :func:`maintain` — threshold policy that triggers the store's OWN
  compactor when the measured depth exceeds it.

Scale shape: the report is driver-side file-listing over the store
tree — an ADMIN operation, O(store files), never touching row data
(except the rollup store, whose batch ids are data columns: one slim
aggregate). Run it from the ingest scheduler, not inside queries.
"""

from __future__ import annotations

import functools
import inspect
from contextlib import contextmanager
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

STORE_TYPES = (
    "bm25_stats", "ivf_index", "dedup_history", "scd2", "rollup",
    "frontier",
)

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
    :func:`~eel_spark.sources.hdfs.staged_swap` on every path a store
    swaps (``<root>``, ``<root>/postings``, ``<root>__bands``), so every
    holder — appender, compactor or maintain — finds the store whole
    before it reads or writes it."""
    from eel_spark.sources.hdfs import HdfsOps, restore_interrupted_swap

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
            restore_interrupted_swap(ops, swapped)
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

_REPORT_SCHEMA = (
    "path string, store_type string, n_batches long, "
    "has_compacted_generation boolean, n_files long, n_bytes long, "
    "n_dirs long, max_files_per_leaf long, last_compaction_ms long"
)


def detect_store_type(spark: SparkSession, path: str) -> str:
    """Identify which store family lives at ``path`` from its on-disk
    layout markers (each family's layout is disjoint by construction):
    IVF keeps a ``centroids/`` table, SCD2 ``scd_current=`` partitions,
    the dedup history a ``<path>__bands`` sibling, the BM25 store
    ``__src_batch=`` partition dirs at the root, the rollup store
    ``granularity=`` partition dirs, the frontier store ``batch_id=``
    partition dirs WITHOUT a ``__bands`` sibling (the sibling check
    runs first, so reaching the frontier branch implies its absence)."""
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    root = path.rstrip("/")
    if ops.exists(f"{root}/centroids"):
        return "ivf_index"
    if ops.list_status(f"{root}/scd_current=*"):
        return "scd2"
    if ops.exists(root + "__bands"):
        return "dedup_history"
    if ops.list_status(f"{root}/__src_batch=*"):
        return "bm25_stats"
    if ops.list_status(f"{root}/batch_id=*"):
        return "frontier"
    if ops.list_status(f"{root}/granularity=*"):
        # merge_time_rollup-maintained tables share this layout but
        # carry no __src_batch column — they are already-merged final
        # tables, not incremental stores, and have no compactor to run
        if "__src_batch" in spark.read.parquet(root).columns:
            return "rollup"
        raise ValueError(
            f"table at {path} has a rollup layout but no __src_batch "
            "column — a merge_time_rollup table, not an incremental "
            "store (only append_rollup_batch stores are maintainable)"
        )
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


def _batch_dirs(ops, pattern: str):
    """(non-negative batch count, sentinel mtime or None) from the
    ``<col>=<id>`` partition dirs matching ``pattern``."""
    n = 0
    sentinel_ms = None
    for st in ops.list_status(pattern):
        bid = st["name"].split("=", 1)[1]
        if bid == "-1":
            sentinel_ms = st["modification_time"]
        else:
            n += 1
    return n, sentinel_ms


def max_live_batch_id(
    spark: SparkSession, path: str, store_type: str | None = None
) -> int | None:
    """Largest non-sentinel batch id present in the store, or None when
    there are none (or the family has no batch ids — SCD2). The
    streaming sinks' REPLAY-HORIZON check: at the start of micro-batch
    N every batch < N is committed (Structured Streaming commits batch
    N-1 before planning N), so compaction is safe iff the store's max
    live id is < N — a max id == N means a torn prior attempt of THIS
    batch already wrote partitions, and compacting them would fold rows
    the replay is about to re-append (double count)."""
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    root = path.rstrip("/")
    st = store_type or detect_store_type(spark, path)
    if st == "scd2":
        return None
    if st == "rollup":
        from pyspark.sql import functions as F

        row = (
            spark.read.parquet(root)
            .agg(F.max(F.when(F.col("__src_batch") >= 0,
                              F.col("__src_batch"))).alias("m"))
            .first()
        )
        return None if row["m"] is None else int(row["m"])
    pattern = {
        "ivf_index": f"{root}/postings/__src_batch=*",
        "bm25_stats": f"{root}/__src_batch=*",
        "dedup_history": f"{root}/batch_id=*",
        "frontier": f"{root}/batch_id=*",
    }[st]
    ids = [
        int(st_["name"].split("=", 1)[1])
        for st_ in ops.list_status(pattern)
        if st_["name"].split("=", 1)[1] != "-1"
    ]
    return max(ids) if ids else None


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
    lever is ``max_files_per_leaf`` (files per closed bucket, what its
    compactor collapses to 1). ``last_compaction_ms`` is the compacted
    generation's directory mtime where the layout records one (BM25 /
    IVF / dedup sentinels), NULL otherwise."""
    from pyspark.sql import functions as F

    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    root = path.rstrip("/")
    st = store_type or detect_store_type(spark, path)
    n_batches: int | None
    compacted_ms = None
    if st == "ivf_index":
        n_batches, compacted_ms = _batch_dirs(
            ops, f"{root}/postings/__src_batch=*"
        )
        files = _walk(ops, root)
    elif st == "bm25_stats":
        n_batches, compacted_ms = _batch_dirs(ops, f"{root}/__src_batch=*")
        files = _walk(ops, root)
    elif st == "frontier":
        n_batches, compacted_ms = _batch_dirs(ops, f"{root}/batch_id=*")
        files = _walk(ops, root)
    elif st == "dedup_history":
        n_batches, compacted_ms = _batch_dirs(ops, f"{root}/batch_id=*")
        fa = _walk(ops, root)
        fb = _walk(ops, root + "__bands")
        files = tuple(
            max(a, b) if i == 3 else a + b for i, (a, b) in enumerate(zip(fa, fb))
        )
    elif st == "rollup":
        # batch ids are DATA columns here — one slim aggregate over the
        # store (partials are one row per bucket per batch)
        row = (
            spark.read.parquet(root)
            .agg(
                F.count_distinct(
                    F.when(F.col("__src_batch") >= 0, F.col("__src_batch"))
                ).alias("n"),
                F.max((F.col("__src_batch") == -1).cast("int")).alias("c"),
            )
            .first()
        )
        n_batches = int(row["n"])
        compacted_ms = None
        files = _walk(ops, root)
        if row["c"]:
            compacted_ms = -1  # present, mtime unknowable from data rows
    elif st == "scd2":
        n_batches = None
        files = _walk(ops, root)
        # the depth LEVER must be what the compactor actually moves:
        # compact_scd2_history rewrites only the CLOSED subtree (the
        # open scd_current=1 buckets are the merge's to manage), so a
        # whole-store max would trip the policy forever on a store
        # whose open side is fragmented (r13 review)
        closed_leaf = _walk(ops, f"{root}/scd_current=0")[3]
        files = (files[0], files[1], files[2], closed_leaf)
    else:
        raise ValueError(f"unknown store_type {st!r} — one of {STORE_TYPES}")
    n_files, n_bytes, n_dirs, max_leaf = files
    has_compacted = compacted_ms is not None
    return spark.createDataFrame(
        [
            (
                root,
                st,
                n_batches,
                has_compacted if st != "scd2" else None,
                n_files,
                n_bytes,
                n_dirs,
                max_leaf,
                compacted_ms if (compacted_ms or 0) > 0 else None,
            )
        ],
        _REPORT_SCHEMA,
    )


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
    before = store_maintenance_report(spark, path, store_type=st).first().asDict()
    needs = (
        before["max_files_per_leaf"] > int(max_files_per_leaf)
        if st == "scd2"
        else (before["n_batches"] or 0) > int(max_batches)
    )
    if not needs:
        return {"store_type": st, "action": "none", "before": before,
                "after": before}
    if st == "bm25_stats":
        from eel_spark.operators.retrieval import compact_bm25_stats

        compact_bm25_stats(spark, path)
    elif st == "ivf_index":
        from eel_spark.operators.similarity import compact_ivf_index

        compact_ivf_index(spark, path)
    elif st == "dedup_history":
        from eel_spark.streaming.streams import compact_dedup_history

        compact_dedup_history(spark, path)
    elif st == "frontier":
        from eel_spark.operators.crawl import compact_frontier_store

        compact_frontier_store(spark, path)
    elif st == "rollup":
        if not merges:
            raise ValueError(
                "rollup store at depth needs compact_rollup's merges= "
                "dict (how each aggregate column re-merges) — pass it "
                "through maintain(merges=...)"
            )
        from eel_spark.operators.rollups import compact_rollup

        compact_rollup(spark, path, merges, list(extra_keys))
    elif st == "scd2":
        from eel_spark.operators.scd2 import compact_scd2_history

        compact_scd2_history(spark, path)
    after = store_maintenance_report(spark, path, store_type=st).first().asDict()
    return {"store_type": st, "action": "compacted", "before": before,
            "after": after}
