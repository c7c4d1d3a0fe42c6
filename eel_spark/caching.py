"""Tracked persist + staged boundaries for multiply-read intermediates.

Operators and gated queries cache intermediates that several plan
branches read (LSH shingle/signature tables, recall-gate pair sets).
A bare ``df.persist()`` leaks: Spark's CacheManager holds the cached
plan JVM-side until an explicit ``unpersist()``, so repeated in-session
runs accumulate executor storage (the ContextCleaner only reclaims
RDD-level blocks whose references are dropped — cached *plans* are not).

``pin(df)`` persists and records the DataFrame; ``release_pins()``
unpersists everything recorded. The query registry calls
``release_pins()`` every time a new registry query is built, so N
in-session query runs hold O(1) executor storage. Releasing is always
safe: unpersist never invalidates a plan — downstream actions just
recompute — so callers that interleave builds and collects trade cache
hits, never correctness.

The pin stack is THREAD-LOCAL: each streaming query's ``foreachBatch``
callback runs on its own stream-execution thread, so a batch's
``pins_mark()``/``release_pins_since(mark)`` pair releases exactly the
pins that batch added — never a concurrently running query's caches,
and never (the depth-scheme failure) silently leaking its own pins when
another thread pops the shared stack first. The cost: ``release_pins()``
only frees the CALLING thread's pins — long-lived scopes on other
threads must release their own (the streaming sinks do, per batch, in a
``finally``).
"""

from __future__ import annotations

import logging
import threading

_LOG = logging.getLogger(__name__)
_TL = threading.local()


def _pins() -> list:
    pins = getattr(_TL, "pins", None)
    if pins is None:
        pins = _TL.pins = []
    return pins


def pin(df):
    """Persist (MEMORY_AND_DISK) a multiply-read intermediate and track
    it for ``release_pins``.

    Population is LAZY: whichever consumer scans the pin first builds
    it. An eager variant (materialize with one count() before any
    consumer) was measured in r14: on a COLD JVM, racing first readers
    (AQE broadcast subqueries + main query) serialize on per-block
    locks and eager wins; at STEADY state the extra count() pass costs
    more than the (now-fast) race, so lazy is the right default for
    the measured query set. Re-add the knob from history (r14/r15) if
    a cold-dominated multi-branch workload ever needs it — it shipped
    one round with no caller and was removed as dead API (r15)."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _pins().append(df)
    return df


def track(df):
    """Record an ALREADY-persisted DataFrame for ``release_pins`` without
    re-persisting it (e.g. the final label table an iterative operator
    hands back still cached from its convergence loop)."""
    _pins().append(df)
    return df


def release_pins() -> int:
    """Unpersist every intermediate this thread pinned; returns how many."""
    return release_pins_since(0)


def pins_mark() -> int:
    """Current depth of THIS thread's pin stack — pass to
    :func:`release_pins_since` to release only the pins a bounded piece
    of work (e.g. one streaming micro-batch) added."""
    return len(_pins())


def release_pins_since(mark: int) -> int:
    """Unpersist every pin THIS thread recorded after ``mark``; returns
    how many. Safe against concurrent queries by construction: no other
    thread shares this stack."""
    pins = _pins()
    n = 0
    while len(pins) > mark:
        df = pins.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


# ---------------------------------------------------------------------------
# Staged pipeline boundaries (write/re-read with lineage truncation)
# ---------------------------------------------------------------------------

STAGE_DIR_CONF = "spark.eel_spark.stage.dir"

_stage_counter = 0
_stage_lock = threading.Lock()
# roots mkdtemp'd by THIS process — the only roots release_stage_root
# will delete (a user-preset STAGE_DIR_CONF may be shared durable
# storage; deleting it would take other runs' stages with it)
_auto_roots: set = set()


def _stages() -> list:
    stages = getattr(_TL, "stages", None)
    if stages is None:
        stages = _TL.stages = []
    return stages


def _stage_root(spark) -> str:
    """The session's staging root: the ``spark.eel_spark.stage.dir``
    conf if set (at cluster scale point it at durable shared storage),
    else a per-session local temp dir, created once and written back to
    the conf so every stage of the session lands under one visible
    root."""
    root = spark.conf.get(STAGE_DIR_CONF, None)
    if root:
        return root
    import tempfile

    with _stage_lock:
        root = spark.conf.get(STAGE_DIR_CONF, None)
        if not root:
            root = tempfile.mkdtemp(prefix="eel_spark_stage_")
            _auto_roots.add(root)
            spark.conf.set(STAGE_DIR_CONF, root)
    return root


def release_stage_root(spark) -> bool:
    """Delete the session staging root — ONLY when this process
    auto-allocated it (mkdtemp). A pre-set ``spark.eel_spark.stage.dir``
    pointing at shared durable storage is left untouched (it may hold
    other runs' stages); returns whether a root was removed. Standalone
    scripts pair this with :func:`release_stages` at exit."""
    root = spark.conf.get(STAGE_DIR_CONF, None)
    if not root or root not in _auto_roots:
        return False
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    _auto_roots.discard(root)
    # unset the conf too: leaving it pointing at the deleted path would
    # make a LATER stage() in the same session silently recreate an
    # untracked (unreleasable) root — unsetting makes the allocate →
    # release cycle idempotent (the next stage() mkdtemps a fresh
    # tracked root)
    spark.conf.unset(STAGE_DIR_CONF)
    return True


def allocate_stage_path(spark, label: str = "stage") -> str:
    """A fresh unique directory path under the session staging root —
    for callers that memoize the path themselves (``track=False`` model
    memos): the boundary lands under the configured root (shared durable
    storage on a cluster), never a driver-local tempdir that would
    silently diverge from the default FS."""
    import uuid

    global _stage_counter
    with _stage_lock:
        _stage_counter += 1
        n = _stage_counter
    return f"{_stage_root(spark)}/{label}_{n:05d}_{uuid.uuid4().hex[:8]}"


def stage(df, path: str | None = None, *, track: bool = True):
    """Write/re-read pipeline boundary: materialize ``df`` as parquet
    and return a fresh scan of the files, truncating lineage.

    WHY a storage boundary and not ``pin``: persist/cache never
    truncates the LOGICAL plan — the analyzer still renders and
    optimizes the full upstream lineage, and a pipeline that stacks
    ~10 operator families grows its (AQE-exploded) plan strings past
    driver memory long before the data is the problem (the measured
    r12 corpus-prep failure: staging two boundaries took the example
    from 15.5 to 3.6 min and un-OOM'd the driver). Real multi-family
    pipelines should stage at their natural checkpoints — scored
    survivors, trained model tables, the post-split corpus — exactly
    what a 100 TB run does between jobs anyway.

    ``path=None`` allocates a unique directory under the session's
    staging root (``spark.eel_spark.stage.dir`` conf, else a
    per-session temp dir). Every boundary is TRACKED on a thread-local
    stack like pins: ``release_stages()`` / ``release_stages_since``
    delete the staged files (the reap policy for standalone scripts;
    ``track=False`` opts a boundary out, e.g. process-lifetime model
    memos). CAUTION — releasing a stage is NOT like releasing a pin:
    a pin release just recomputes; a stage release deletes files that
    the returned DataFrame (and everything built on it) READS. Release
    only after downstream plans are materialized or written out.

    Scale shape: one extra write+scan of the boundary data in exchange
    for O(1) plan size per stage and re-derivation-free fan-out (every
    consumer of the boundary reads files instead of re-running the
    upstream plan). Parquet keeps column pruning/pushdown across the
    boundary.
    """
    spark = df.sparkSession
    if path is None:
        path = allocate_stage_path(spark)
    df.write.parquet(path)
    if track:
        _stages().append((spark, path))
    return spark.read.parquet(path)


def stages_mark() -> int:
    """Current depth of THIS thread's stage stack — pass to
    :func:`release_stages_since` to reap only the boundaries a bounded
    piece of work added."""
    return len(_stages())


def release_stages_since(mark: int) -> int:
    """Delete every staged boundary THIS thread recorded after ``mark``;
    returns how many were deleted. A failed delete is logged as a warning
    naming the path, not swallowed — on shared storage a silently-leaked
    boundary is stranded bytes with no signal (the path is popped either
    way, so a retry storm never builds). Only call once downstream
    consumers of those boundaries have materialized (see :func:`stage`)."""
    stages = _stages()
    n = 0
    while len(stages) > mark:
        spark, path = stages.pop()
        try:
            from eel_spark.sources.hdfs import HdfsOps

            HdfsOps(spark).delete(path, recursive=True)
            n += 1
        except Exception as exc:  # noqa: BLE001 — reap must keep going
            _LOG.warning(
                "release_stages: failed to delete staged boundary %r: %r "
                "(files may be stranded)", path, exc,
            )
    return n


def release_stages() -> int:
    """Reap every boundary this thread staged; returns how many."""
    return release_stages_since(0)
