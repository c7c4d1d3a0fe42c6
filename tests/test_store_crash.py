"""Crash-injection sweep over the store commit protocol: every store
writer takes the one lease (``maintenance.acquire_store_lease``) and
every whole-store rewrite goes through the store module's staged swap,
so a crash
at ANY filesystem step the store code takes through ``HdfsOps`` must
leave a store that the next writer heals and a rerun brings to exactly
the clean result.

Fault model: ``HdfsOps.rename`` / ``delete`` / ``create_atomic`` /
``mkdirs`` are wrapped so that the Nth mutating call raises (the step
never happens). N sweeps every call a clean run makes. A raised crash
still runs Python ``finally`` blocks, so the sweep also covers the
hard-kill case explicitly: for token-bearing appends the crashed
holder's lease is re-created before the rerun, which must adopt it.

Each family's store is tiny and built with the batch functions (or as
hand-written parquet), once per test, then copied per crash point. The
checks: sorted rows equal a clean run's, and no lease, staged-aside or
staging path is left behind.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import date
from typing import Callable

import pytest

from eel_spark.operators.maintenance import (
    MAINT_LEASE_SUFFIX,
    STORE_TYPES,
    break_store_lease,
    commit_batch,
    store_write_lease,
)
from eel_spark.sources.hdfs import HdfsOps

_MUTATING = ("rename", "delete", "create_atomic", "mkdirs")
_LEFTOVERS = (
    MAINT_LEASE_SUFFIX, "__old", "__compacting", "__compact_tmp",
    "__upsert_tmp", "_scd_trim_old", "_scd_trim_staging",
)


class InjectedCrash(Exception):
    pass


class _Fault:
    """Counts mutating ``HdfsOps`` calls while armed and raises on the
    ``at``-th one. ``calls`` holds ``(method, path, content)`` of every
    call made in the last armed block."""

    def __init__(self):
        self.armed_at: int | None = None
        self.armed = False
        self.calls: list = []

    @contextmanager
    def arm(self, at: int | None = None):
        self.armed, self.armed_at, self.calls = True, at, []
        try:
            yield self.calls
        finally:
            self.armed = False

    def hit(self, name: str, path: str, content) -> None:
        if not self.armed:
            return
        self.calls.append((name, path, content))
        if len(self.calls) == self.armed_at:
            raise InjectedCrash(f"call {self.armed_at}: {name} {path}")


@pytest.fixture()
def fault(monkeypatch):
    f = _Fault()
    for name in _MUTATING:
        real = getattr(HdfsOps, name)

        def wrapped(self, path, *args, _real=real, _name=name, **kw):
            content = kw.get("content", args[0] if args else None)
            f.hit(_name, path, content)
            return _real(self, path, *args, **kw)

        monkeypatch.setattr(HdfsOps, name, wrapped)
    return f


@dataclass
class Family:
    build: Callable  # (spark, root) -> None: the pre-compaction store
    compact: Callable  # (spark, root) -> None
    append: Callable  # (spark, root) -> None: one token-bearing write
    rows: Callable  # (spark, root) -> sorted rows of every table


def _sorted_rows(df) -> list:
    cols = sorted(df.columns)
    return sorted(repr(tuple(r)) for r in df.select(*cols).collect())


def _copy(src_dir, dst_dir) -> str:
    shutil.copytree(src_dir, dst_dir)
    return str(dst_dir / "store")


def _leftovers(case_dir) -> list:
    found = []
    for dirpath, dirnames, filenames in os.walk(case_dir):
        for name in dirnames + filenames:
            if any(tag in name for tag in _LEFTOVERS):
                found.append(os.path.join(dirpath, name))
            if os.path.basename(dirpath) == "_scd_inflight":
                found.append(os.path.join(dirpath, name))
    return found


def _lease_of(calls, root: str):
    """Content the run wrote into ``root``'s lease (its holder record)."""
    lease = root + MAINT_LEASE_SUFFIX
    return next(
        c for n, p, c in calls if n == "create_atomic" and p == lease
    )


def _compaction_sweep(spark, tmp_path, fault, fam: Family) -> int:
    """Crash the compaction at every mutating call; follow each crash
    with the family's append (which must find the store healed) and a
    clean rerun of the compaction; compare with compact → append →
    compact run cleanly. Returns the sweep's call count."""
    fam.build(spark, str(tmp_path / "base" / "store"))
    ref = _copy(tmp_path / "base", tmp_path / "ref")
    with fault.arm() as calls:
        fam.compact(spark, ref)
    n_calls = len(calls)
    assert n_calls >= 4, calls  # at least lease, swap renames, release
    fam.append(spark, ref)
    fam.compact(spark, ref)
    want = fam.rows(spark, ref)
    assert not _leftovers(tmp_path / "ref")
    ops = HdfsOps(spark)
    for n in range(1, n_calls + 1):
        case = tmp_path / f"crash{n}"
        store = _copy(tmp_path / "base", case)
        with pytest.raises(InjectedCrash):
            with fault.arm(at=n) as calls:
                fam.compact(spark, store)
        name, path, _ = calls[n - 1]  # the step that crashed
        if ops.exists(store + MAINT_LEASE_SUFFIX):
            # only a crash of the release itself strands a tokenless
            # compaction lease; its documented recovery is breaking it
            assert (name, path) == ("delete", store + MAINT_LEASE_SUFFIX), n
            assert break_store_lease(spark, store)
        fam.append(spark, store)
        fam.compact(spark, store)
        assert fam.rows(spark, store) == want, f"crash at call {n}: {name} {path}"
        assert not _leftovers(case), n
    return n_calls


def _append_hard_kill_sweep(spark, tmp_path, fault, fam: Family) -> int:
    """Crash the family's append at every mutating call, re-create the
    crashed holder's lease as a hard kill leaves it, and rerun the same
    append: it must adopt the lease and land exactly the clean rows."""
    fam.build(spark, str(tmp_path / "abase" / "store"))
    ref = _copy(tmp_path / "abase", tmp_path / "aref")
    with fault.arm() as calls:
        fam.append(spark, ref)
    n_calls = len(calls)
    holder = _lease_of(calls, ref)
    want = fam.rows(spark, ref)
    ops = HdfsOps(spark)
    for n in range(1, n_calls + 1):
        case = tmp_path / f"akill{n}"
        store = _copy(tmp_path / "abase", case)
        with pytest.raises(InjectedCrash):
            with fault.arm(at=n):
                fam.append(spark, store)
        lease = store + MAINT_LEASE_SUFFIX
        if not ops.exists(lease):
            assert ops.create_atomic(lease, content=holder)
        assert ops.read_text(lease) == holder
        fam.append(spark, store)  # adopts the stranded lease
        assert fam.rows(spark, store) == want, n
        assert not _leftovers(case), n
    return n_calls


# -- families ----------------------------------------------------------------


def _bm25_family(spark) -> Family:
    from eel_spark.operators.retrieval import (
        append_bm25_stats_batch,
        compact_bm25_stats,
    )

    def wave(w):
        return spark.createDataFrame(
            [(w * 10 + j, f"tok{w} common word{j} tok{j}") for j in range(3)],
            "doc_id long, text string",
        )

    def build(spark, root):
        for w in range(2):
            append_bm25_stats_batch(root, wave(w), "text", src_batch=w)

    return Family(
        build=build,
        compact=compact_bm25_stats,
        append=lambda spark, root: append_bm25_stats_batch(
            root, wave(7), "text", src_batch=7
        ),
        rows=lambda spark, root: _sorted_rows(spark.read.parquet(root)),
    )


def _ivf_family(spark) -> Family:
    from eel_spark.operators.similarity import (
        append_ivf_batch,
        compact_ivf_index,
        init_ivf_index,
    )

    def wave(w):
        return spark.createDataFrame(
            [
                (w * 100 + j, [float((j + c) % 3 == 0), float(c), 1.0, -c])
                for j, c in enumerate([0.5, 1.5, 2.5, 0.25, 1.25, 2.25])
            ],
            "vec_id long, embedding array<double>",
        )

    def build(spark, root):
        init_ivf_index(root, spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
            "cell_id long, centroid array<double>",
        ))
        for w in range(2):
            append_ivf_batch(root, wave(w), src_batch=w)

    def rows(spark, root):
        return (
            _sorted_rows(spark.read.parquet(f"{root}/postings"))
            + _sorted_rows(spark.read.parquet(f"{root}/assign_stats"))
            + _sorted_rows(spark.read.parquet(f"{root}/centroids"))
        )

    return Family(
        build=build,
        compact=compact_ivf_index,
        append=lambda spark, root: append_ivf_batch(
            root, wave(7), src_batch=7
        ),
        rows=rows,
    )


def _frontier_family(spark) -> Family:
    from eel_spark.operators.crawl import (
        compact_frontier_store,
        frontier_admit_batch,
    )

    def wave(urls):
        return spark.createDataFrame([(u,) for u in urls], "url string")

    def build(spark, root):
        frontier_admit_batch(wave([f"http://a.example/{i}" for i in range(4)]),
                             root, 0)
        frontier_admit_batch(wave([f"http://b.example/{i}" for i in range(3)]
                                  + ["http://a.example/1"]), root, 1)

    return Family(
        build=build,
        compact=compact_frontier_store,
        # re-offers an admitted URL: suppression needs the healed history
        append=lambda spark, root: frontier_admit_batch(
            wave(["http://a.example/2", "http://c.example/0"]), root, 7
        ),
        rows=lambda spark, root: _sorted_rows(spark.read.parquet(root)),
    )


def _dedup_family(spark) -> Family:
    from eel_spark.streaming import compact_dedup_history

    def write_batch(root, batch_id, ids):
        survivors = spark.createDataFrame(
            [(i, batch_id) for i in ids], "doc_id long, batch_id int"
        )
        bands = spark.createDataFrame(
            [(i, i * 31, i * 7 + b, b, (i * 7 + b) % 4, batch_id)
             for i in ids for b in range(2)],
            "doc_id long, fp long, key long, band int, kp int, batch_id int",
        )
        commit_batch(survivors, root, batch_id, ["batch_id"])
        commit_batch(
            bands, root + "__bands", batch_id, ["batch_id", "band", "kp"]
        )

    def build(spark, root):
        write_batch(root, 0, [1, 2, 3])
        write_batch(root, 1, [4, 5])

    def append(spark, root):
        # the sink's per-batch commit: lease with the batch token, then
        # the batch's own partitions in both tables
        with store_write_lease(spark, root, "dedup_append", token="batch=7"):
            write_batch(root, 7, [8, 9])

    return Family(
        build=build,
        compact=compact_dedup_history,
        append=append,
        rows=lambda spark, root: (
            _sorted_rows(spark.read.parquet(root))
            + _sorted_rows(spark.read.parquet(root + "__bands"))
        ),
    )


def _scd2_family(spark) -> Family:
    from eel_spark.operators.scd2 import compact_scd2_history, scd2_merge

    def merge(root, rows):
        scd2_merge(
            spark, root,
            spark.createDataFrame(rows, "k long, seg string, d date, seq long"),
            "k", ["seg"], "d", ["seq"], n_buckets=2,
        )

    def build(spark, root):
        merge(root, [(1, "A", date(2024, 1, 1), 1),
                     (2, "A", date(2024, 1, 1), 2)])
        merge(root, [(1, "B", date(2024, 2, 1), 3),
                     (2, "B", date(2024, 2, 1), 4)])
        merge(root, [(1, "C", date(2024, 3, 1), 5),
                     (2, "C", date(2024, 3, 1), 6)])

    return Family(
        build=build,
        compact=compact_scd2_history,
        append=lambda spark, root: merge(
            root, [(1, "D", date(2024, 4, 1), 7)]
        ),
        rows=lambda spark, root: _sorted_rows(spark.read.parquet(root)),
    )


def _rollup_family(spark) -> Family:
    from datetime import datetime

    from pyspark.sql import functions as F

    from eel_spark.operators.rollups import (
        append_rollup_batch,
        compact_rollup,
        read_rollup,
    )

    aggs = {"n": F.count(F.lit(1)), "total": F.sum("value")}
    merges = {"n": F.sum("n"), "total": F.sum("total")}

    def append(root, w):
        events = spark.createDataFrame(
            [(datetime(2024, 1, 1 + (w + j) % 3, j), float(w * 10 + j))
             for j in range(4)],
            "ts timestamp, value double",
        )
        append_rollup_batch(spark, root, events, "ts", aggs, ["day"],
                            src_batch=w)

    def build(spark, root):
        for w in range(3):
            append(root, w)

    return Family(
        build=build,
        compact=lambda spark, root: compact_rollup(spark, root, merges),
        append=lambda spark, root: append(root, 7),
        rows=lambda spark, root: _sorted_rows(
            read_rollup(spark, root, merges)
        ),
    )


#: one sweep family per store family: a new family cannot skip the sweep
FAMILIES = {
    "bm25_stats": _bm25_family,
    "ivf_index": _ivf_family,
    "frontier": _frontier_family,
    "dedup_history": _dedup_family,
    "scd2": _scd2_family,
    "rollup": _rollup_family,
}


# -- sweeps --------------------------------------------------------------------


def test_sweep_covers_every_store_family():
    assert set(FAMILIES) == set(STORE_TYPES)


@pytest.mark.parametrize("family", list(FAMILIES))
def test_compaction_crash_sweep(spark, tmp_path, fault, family):
    assert _compaction_sweep(spark, tmp_path, fault, FAMILIES[family](spark))


@pytest.mark.parametrize("family", list(FAMILIES))
def test_append_hard_kill_adopts_lease(spark, tmp_path, fault, family):
    assert _append_hard_kill_sweep(
        spark, tmp_path, fault, FAMILIES[family](spark)
    )


def test_upsert_full_rewrite_crash_sweep(spark, tmp_path, fault):
    """``upsert_parquet`` takes no lease: a crash at any step of its
    full rewrite is healed by the next upsert's entry, and rerunning the
    same upsert gives the clean table."""
    from eel_spark.operators.upsert import upsert_parquet

    schema = "k long, v string"
    base = tmp_path / "base"
    upsert_parquet(
        spark, str(base / "store"),
        spark.createDataFrame([(i, f"v{i}") for i in range(6)], schema), "k",
    )

    def run(store):
        upsert_parquet(
            spark, store,
            spark.createDataFrame([(2, "new2"), (9, "v9")], schema), "k",
        )

    ref = _copy(base, tmp_path / "ref")
    with fault.arm() as calls:
        run(ref)
    want = _sorted_rows(spark.read.parquet(ref))
    assert len(calls) >= 3, calls
    for n in range(1, len(calls) + 1):
        case = tmp_path / f"crash{n}"
        store = _copy(base, case)
        with pytest.raises(InjectedCrash):
            with fault.arm(at=n):
                run(store)
        run(store)
        assert _sorted_rows(spark.read.parquet(store)) == want, n
        assert not _leftovers(case), n


def test_stranded_swap_heals_before_append_reads(spark, tmp_path):
    """The heal runs at lease acquisition, so even an appender that
    reads the store first (the frontier anti-join) sees the staged-aside
    history rather than an empty store: a URL admitted before a crashed
    compaction is not re-admitted by the next wave."""
    from eel_spark.operators.crawl import frontier_admit_batch

    store = str(tmp_path / "store")
    urls = spark.createDataFrame([("http://a.example/x",)], "url string")
    frontier_admit_batch(urls, store, 0)
    os.rename(store, store + "__old")  # crash between the swap's renames
    frontier_admit_batch(urls, store, 1)
    got = spark.read.parquet(store).select("url", "batch_id").collect()
    assert [(r["url"], r["batch_id"]) for r in got] == [
        ("http://a.example/x", 0)
    ]
    assert not os.path.exists(store + "__old")
