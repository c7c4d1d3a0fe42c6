"""SCD2 dimension versioning: rebuild-from-changes semantics, the
incremental merge's equivalence to a full rebuild, its partition
pruning, and its rejection paths."""

from __future__ import annotations

import glob
import os
from datetime import date, timedelta

import pytest
from pyspark.sql import functions as F

from eel_spark.operators.scd2 import (
    read_scd2_asof,
    read_scd2_current,
    scd2_from_changes,
    scd2_merge,
)

SCHEMA = "k long, seg string, score long, d date, seq long"


def _log(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _versions(df):
    return sorted(
        (
            (
                r["k"],
                r["seg"],
                r["score"],
                str(r["valid_from"]),
                str(r["valid_to"]),
                r["is_current"],
            )
            for r in df.collect()
        ),
        key=lambda t: tuple(map(str, t)),
    )


BASE_LOG = [
    # key 1: three observations, middle one a no-change duplicate
    (1, "A", 10, date(2024, 1, 1), 1),
    (1, "A", 10, date(2024, 1, 5), 2),
    (1, "B", 10, date(2024, 2, 1), 3),
    # key 2: one observation
    (2, "A", 7, date(2024, 1, 3), 4),
    # key 3: change on score only
    (3, "C", 1, date(2024, 1, 2), 5),
    (3, "C", 2, date(2024, 1, 9), 6),
]


def test_from_changes_collapses_and_splices(spark):
    out = scd2_from_changes(
        _log(spark, BASE_LOG), "k", ["seg", "score"], "d", ["seq"]
    )
    assert _versions(out) == [
        (1, "A", 10, "2024-01-01", "2024-02-01", False),
        (1, "B", 10, "2024-02-01", "None", True),
        (2, "A", 7, "2024-01-03", "None", True),
        (3, "C", 1, "2024-01-02", "2024-01-09", False),
        (3, "C", 2, "2024-01-09", "None", True),
    ]


def test_from_changes_single_exchange(spark):
    out = scd2_from_changes(
        _log(spark, BASE_LOG), "k", ["seg", "score"], "d", ["seq"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # lag (change detect) and lead (validity) share one hash exchange
    assert plan.count("Exchange") == 1, plan


def test_from_changes_null_attrs_null_safe(spark):
    rows = [
        (1, None, 5, date(2024, 1, 1), 1),
        (1, None, 5, date(2024, 1, 2), 2),  # no change: NULL == NULL
        (1, "A", None, date(2024, 1, 3), 3),  # both attrs change
    ]
    out = scd2_from_changes(_log(spark, rows), "k", ["seg", "score"], "d", ["seq"])
    assert _versions(out) == [
        (1, "A", None, "2024-01-03", "None", True),
        (1, None, 5, "2024-01-01", "2024-01-03", False),
    ]


def test_merge_equals_full_rebuild(spark, tmp_path):
    """Three sequential merges ≡ one rebuild of the concatenated log —
    including continuation squashing across the batch boundary."""
    path = str(tmp_path / "dim")
    batches = [
        BASE_LOG,
        [
            # key 1 continuation (B,10 again) then a real change
            (1, "B", 10, date(2024, 3, 1), 7),
            (1, "B", 99, date(2024, 3, 5), 8),
            # key 4 appears
            (4, "D", 0, date(2024, 3, 2), 9),
        ],
        [
            # key 2 pure continuation — must be a no-op
            (2, "A", 7, date(2024, 4, 1), 10),
            # key 3 changes twice within the batch
            (3, "D", 2, date(2024, 4, 2), 11),
            (3, "E", 2, date(2024, 4, 9), 12),
        ],
    ]
    stats = []
    for b in batches:
        stats.append(
            scd2_merge(
                spark, path, _log(spark, b), "k", ["seg", "score"], "d",
                ["seq"], n_buckets=4,
            )
        )
    rebuilt = scd2_from_changes(
        _log(spark, [r for b in batches for r in b]),
        "k", ["seg", "score"], "d", ["seq"],
    )
    merged = spark.read.parquet(path).drop("scd_current", "scd_bucket")
    assert _versions(merged) == _versions(rebuilt)
    assert stats[1] == {
        "new_keys": 1, "changed": 1, "unchanged": 0, "closed": 1,
        "buckets_rewritten": len(
            {r["b"] for r in _log(spark, batches[1]).select(
                F.pmod(F.xxhash64("k"), F.lit(4)).alias("b")).distinct().collect()}
        ),
        "replayed": False,
    }
    assert stats[2]["unchanged"] == 1 and stats[2]["changed"] == 1
    # reads
    cur = read_scd2_current(spark, path)
    assert {r["k"]: (r["seg"], r["score"]) for r in cur.collect()} == {
        1: ("B", 99), 2: ("A", 7), 3: ("E", 2), 4: ("D", 0),
    }
    asof = read_scd2_asof(spark, path, date(2024, 2, 15))
    assert {r["k"]: r["seg"] for r in asof.collect()} == {1: "B", 2: "A", 3: "C"}


def test_merge_prunes_untouched_buckets_and_history(spark, tmp_path):
    """A batch touching one key leaves every other bucket's current
    files AND all closed-history files byte-untouched."""
    path = str(tmp_path / "dim")
    scd2_merge(
        spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"], "d",
        ["seq"], n_buckets=8,
    )
    k1_bucket = spark.createDataFrame([(1,)], "k long").select(
        F.pmod(F.xxhash64("k"), F.lit(8)).alias("b")
    ).collect()[0]["b"]
    untouched = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/scd_current=*/scd_bucket=*/*.parquet")
        if f"scd_bucket={k1_bucket}/" not in f or "scd_current=0" in f
    }
    assert untouched
    scd2_merge(
        spark, path,
        _log(spark, [(1, "Z", 0, date(2024, 6, 1), 99)]),
        "k", ["seg", "score"], "d", ["seq"], n_buckets=8,
    )
    after = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/scd_current=*/scd_bucket=*/*.parquet")
        if f in untouched
    }
    # closed-history partitions gain files (append) but never lose or
    # rewrite existing ones; untouched current buckets are identical
    assert after == untouched
    assert read_scd2_current(spark, path).where("k = 1").collect()[0]["seg"] == "Z"


def test_merge_rejects_out_of_order(spark, tmp_path):
    path = str(tmp_path / "dim")
    scd2_merge(
        spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"], "d",
        ["seq"], n_buckets=4,
    )
    with pytest.raises(ValueError, match="out-of-order"):
        scd2_merge(
            spark, path,
            _log(spark, [(1, "Q", 1, date(2024, 1, 15), 50)]),
            "k", ["seg", "score"], "d", ["seq"], n_buckets=4,
        )


def test_merge_rejects_null_key_or_ts(spark, tmp_path):
    path = str(tmp_path / "dim")
    with pytest.raises(ValueError, match="NULL"):
        scd2_merge(
            spark, path,
            _log(spark, [(None, "A", 1, date(2024, 1, 1), 1)]),
            "k", ["seg", "score"], "d", ["seq"],
        )
    with pytest.raises(ValueError, match="NULL"):
        scd2_merge(
            spark, path,
            _log(spark, [(1, "A", 1, None, 1)]),
            "k", ["seg", "score"], "d", ["seq"],
        )


def test_from_changes_rejects_null_key_or_ts(spark):
    with pytest.raises(ValueError, match="NULL"):
        scd2_from_changes(
            _log(spark, [(1, "A", 1, None, 1)]), "k", ["seg", "score"], "d",
            ["seq"],
        )
    with pytest.raises(ValueError, match="NULL"):
        scd2_from_changes(
            _log(spark, [(None, "A", 1, date(2024, 1, 1), 1)]),
            "k", ["seg", "score"], "d", ["seq"],
        )


NEXT_BATCH = [
    (1, "B", 99, date(2024, 3, 1), 7),   # change after BASE_LOG's (1,B,10)
    (1, "B", 77, date(2024, 3, 5), 8),   # second change, same key
    (2, "A", 7, date(2024, 3, 2), 9),    # pure continuation
    (5, "E", 5, date(2024, 3, 3), 10),   # new key
]


def _table_versions(spark, path):
    return _versions(
        spark.read.parquet(path).drop("scd_current", "scd_bucket")
    )


def _clean_end_state(spark, tmp_path):
    """Reference end state: both batches merged with no crash."""
    ref = str(tmp_path / "ref")
    for b in (BASE_LOG, NEXT_BATCH):
        scd2_merge(spark, ref, _log(spark, b), "k", ["seg", "score"], "d",
                   ["seq"], n_buckets=4)
    return _table_versions(spark, ref)


def test_merge_redelivery_noops(spark, tmp_path):
    """Re-running an already-applied batch (at-least-once redelivery)
    returns replayed=True zeros and leaves the table byte-identical."""
    path = str(tmp_path / "dim")
    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)
    before = _table_versions(spark, path)
    files = sorted(glob.glob(f"{path}/scd_current=*/scd_bucket=*/*.parquet"))
    stats = scd2_merge(spark, path, _log(spark, BASE_LOG), "k",
                       ["seg", "score"], "d", ["seq"], n_buckets=4)
    assert stats == {
        "new_keys": 0, "changed": 0, "unchanged": 0, "closed": 0,
        "buckets_rewritten": 0, "replayed": True,
    }
    assert _table_versions(spark, path) == before
    assert sorted(
        glob.glob(f"{path}/scd_current=*/scd_bucket=*/*.parquet")
    ) == files


@pytest.mark.parametrize("crash_on_call", [1, 2])
def test_merge_repairs_crash_between_writes(spark, tmp_path, monkeypatch,
                                            crash_on_call):
    """Kill the merge at each of its two data writes (1 = before the
    closed append lands, 2 = after the append but before the current
    overwrite); a re-run of the same batch must converge to the clean
    two-merge end state with no duplicated closed rows."""
    import eel_spark.operators.scd2 as scd2mod

    expected = _clean_end_state(spark, tmp_path)
    path = str(tmp_path / "dim")
    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)

    real_write = scd2mod._write_generation
    calls = {"n": 0}

    def crashing(df, ks, p, nb, **kw):
        calls["n"] += 1
        if calls["n"] == crash_on_call:
            # die WITHOUT executing this write: call 1 crashed = nothing
            # landed; call 2 crashed = append landed (call 1 ran), the
            # current overwrite did NOT — the genuinely torn state that
            # the r8 recovery (close-point recomputed from the filtered
            # batch) turned into a duplicated, overlapping closed row
            raise RuntimeError("simulated crash")
        return real_write(df, ks, p, nb, **kw)

    monkeypatch.setattr(scd2mod, "_write_generation", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        scd2_merge(spark, path, _log(spark, NEXT_BATCH), "k",
                   ["seg", "score"], "d", ["seq"], n_buckets=4)
    monkeypatch.setattr(scd2mod, "_write_generation", real_write)

    stats = scd2_merge(spark, path, _log(spark, NEXT_BATCH), "k",
                       ["seg", "score"], "d", ["seq"], n_buckets=4)
    assert stats["replayed"] is True
    assert _table_versions(spark, path) == expected
    # and a FURTHER redelivery after the repair is a pure no-op
    again = scd2_merge(spark, path, _log(spark, NEXT_BATCH), "k",
                       ["seg", "score"], "d", ["seq"], n_buckets=4)
    assert again["replayed"] is True and again["closed"] == 0
    assert _table_versions(spark, path) == expected


def test_merge_repairs_crash_after_both_writes(spark, tmp_path, monkeypatch):
    """Crash after the current overwrite but before the applied marker:
    the re-run walks the repair path against fully-updated state and
    must change nothing."""
    import eel_spark.operators.scd2 as scd2mod
    from eel_spark.sources.hdfs import HdfsOps

    expected = _clean_end_state(spark, tmp_path)
    path = str(tmp_path / "dim")
    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)

    ops = HdfsOps(spark)
    real_mkdirs = ops.__class__.mkdirs

    def crashing_mkdirs(self, p):
        if scd2mod.APPLIED_DIR in p:
            raise RuntimeError("simulated crash")
        return real_mkdirs(self, p)

    monkeypatch.setattr(ops.__class__, "mkdirs", crashing_mkdirs)
    with pytest.raises(RuntimeError, match="simulated crash"):
        scd2_merge(spark, path, _log(spark, NEXT_BATCH), "k",
                   ["seg", "score"], "d", ["seq"], n_buckets=4)
    monkeypatch.setattr(ops.__class__, "mkdirs", real_mkdirs)

    assert _table_versions(spark, path) == expected  # data all landed
    stats = scd2_merge(spark, path, _log(spark, NEXT_BATCH), "k",
                       ["seg", "score"], "d", ["seq"], n_buckets=4)
    assert stats["replayed"] is True and stats["closed"] == 0
    assert _table_versions(spark, path) == expected


def test_merge_repairs_crash_on_first_generation(spark, tmp_path, monkeypatch):
    """Crash before the FIRST generation's applied marker: the re-run
    must not raise out-of-order against the fully-written state."""
    import eel_spark.operators.scd2 as scd2mod
    from eel_spark.sources.hdfs import HdfsOps

    path = str(tmp_path / "dim")
    ops = HdfsOps(spark)
    real_mkdirs = ops.__class__.mkdirs

    def crashing_mkdirs(self, p):
        if scd2mod.APPLIED_DIR in p:
            raise RuntimeError("simulated crash")
        return real_mkdirs(self, p)

    monkeypatch.setattr(ops.__class__, "mkdirs", crashing_mkdirs)
    with pytest.raises(RuntimeError, match="simulated crash"):
        scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
                   "d", ["seq"], n_buckets=4)
    monkeypatch.setattr(ops.__class__, "mkdirs", real_mkdirs)

    stats = scd2_merge(spark, path, _log(spark, BASE_LOG), "k",
                       ["seg", "score"], "d", ["seq"], n_buckets=4)
    assert stats["replayed"] is True
    rebuilt = scd2_from_changes(_log(spark, BASE_LOG), "k", ["seg", "score"],
                                "d", ["seq"])
    assert _table_versions(spark, path) == _versions(rebuilt)


def test_current_read_prunes_closed_partitions(spark, tmp_path):
    """read_scd2_current must push scd_current=1 into the partition
    filters — closed-history files never enter the scan at any history
    depth — while read_scd2_asof scans both (validity is not a
    partition axis)."""
    path = str(tmp_path / "dim")
    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)
    plan = (
        read_scd2_current(spark, path)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "scd_current" in plan, plan
    # the scan's partition filter pins the open partition
    assert "scd_current#" in plan.split("PartitionFilters")[1][:200], plan


def test_rejected_batch_leaves_no_marker(spark, tmp_path):
    """The inflight marker is written only after validation passes: an
    out-of-order batch that raises must leave NO marker, so its retry
    (or the next batch) runs the normal path, not crash recovery."""
    path = str(tmp_path / "dim")
    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)
    with pytest.raises(ValueError, match="out-of-order"):
        scd2_merge(
            spark, path,
            _log(spark, [(1, "Q", 1, date(2024, 1, 15), 50)]),
            "k", ["seg", "score"], "d", ["seq"], n_buckets=4,
        )
    assert glob.glob(f"{path}/_scd_inflight/*") == []
    stats = scd2_merge(spark, path, _log(spark, NEXT_BATCH), "k",
                       ["seg", "score"], "d", ["seq"], n_buckets=4)
    assert stats["replayed"] is False


def test_fingerprint_distinguishes_null_shift(spark):
    """Two batches whose rows differ only by a value moving between
    nullable attr columns must fingerprint differently — plain xxhash64
    skips NULL children, so an unanchored digest would classify the
    second batch as a redelivery and silently drop the change."""
    from eel_spark.operators.scd2 import _batch_fingerprint

    cols = ["k", "a", "b", "valid_from", "valid_to", "is_current"]
    sch = ("k long, a string, b string, valid_from date, "
           "valid_to date, is_current boolean")
    c1 = spark.createDataFrame(
        [(1, "x", None, date(2024, 1, 1), None, True)], sch)
    c2 = spark.createDataFrame(
        [(1, None, "x", date(2024, 1, 1), None, True)], sch)
    assert _batch_fingerprint(c1, cols) != _batch_fingerprint(c2, cols)


def test_merge_repairs_crash_with_same_ts_changes(spark, tmp_path,
                                                  monkeypatch):
    """Crash recovery with two same-timestamp changes on one key (the
    earlier version is zero-duration): the re-append anti-join keys on
    full version-row identity, so the second version must survive the
    replay instead of being dropped as 'already written'."""
    import eel_spark.operators.scd2 as scd2mod

    tie_batch = [
        (1, "P", 1, date(2024, 6, 1), 50),
        (1, "Q", 2, date(2024, 6, 1), 51),
    ]
    # clean end state on a scratch table
    ref = str(tmp_path / "ref")
    for b in (BASE_LOG, tie_batch):
        scd2_merge(spark, ref, _log(spark, b), "k", ["seg", "score"], "d",
                   ["seq"], n_buckets=4)
    expected = _table_versions(spark, ref)

    path = str(tmp_path / "dim")
    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)
    real_write = scd2mod._write_generation
    calls = {"n": 0}

    def crashing(df, ks, p, nb, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # append landed (call 1 ran); die before
            raise RuntimeError("simulated crash")  # the overwrite runs
        return real_write(df, ks, p, nb, **kw)

    monkeypatch.setattr(scd2mod, "_write_generation", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        scd2_merge(spark, path, _log(spark, tie_batch), "k",
                   ["seg", "score"], "d", ["seq"], n_buckets=4)
    monkeypatch.setattr(scd2mod, "_write_generation", real_write)

    stats = scd2_merge(spark, path, _log(spark, tie_batch), "k",
                       ["seg", "score"], "d", ["seq"], n_buckets=4)
    assert stats["replayed"] is True
    assert _table_versions(spark, path) == expected


def test_torn_init_replays_cleanly(spark, tmp_path, monkeypatch):
    """A torn init (scd_current=1 partitions committed, scd_current=0
    lost) must not strand the table: the __init marker routes the replay
    back through the idempotent init overwrite instead of the merge
    path's out-of-order rejection."""
    import shutil

    import eel_spark.operators.scd2 as scd2mod
    from eel_spark.sources.hdfs import HdfsOps

    path = str(tmp_path / "dim")
    ops = HdfsOps(spark)
    real_mkdirs = ops.__class__.mkdirs

    def crashing_mkdirs(self, p):
        if scd2mod.APPLIED_DIR in p:
            raise RuntimeError("simulated crash")
        return real_mkdirs(self, p)

    monkeypatch.setattr(ops.__class__, "mkdirs", crashing_mkdirs)
    with pytest.raises(RuntimeError, match="simulated crash"):
        scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
                   "d", ["seq"], n_buckets=4)
    monkeypatch.setattr(ops.__class__, "mkdirs", real_mkdirs)
    # simulate the torn overwrite: open partitions landed, closed lost
    shutil.rmtree(f"{path}/scd_current=0")
    assert glob.glob(f"{path}/_scd_inflight/*__init")

    stats = scd2_merge(spark, path, _log(spark, BASE_LOG), "k",
                       ["seg", "score"], "d", ["seq"], n_buckets=4)
    assert stats["replayed"] is True
    rebuilt = scd2_from_changes(_log(spark, BASE_LOG), "k", ["seg", "score"],
                                "d", ["seq"])
    assert _table_versions(spark, path) == _versions(rebuilt)


def _enrich_fixture(spark, tmp_path):
    path = str(tmp_path / "dim")
    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)
    facts = spark.createDataFrame(
        [
            (1, date(2023, 12, 1), "pre-history"),
            (1, date(2024, 1, 1), "at first valid_from (inclusive)"),
            (1, date(2024, 1, 31), "inside v1"),
            (1, date(2024, 2, 1), "at valid_to (exclusive -> v2)"),
            (1, date(2024, 6, 1), "open version"),
            (3, date(2024, 1, 5), "k3 v1"),
            (99, date(2024, 1, 5), "unknown key"),
        ],
        "k long, ts date, label string",
    )
    return path, facts


def test_enrich_point_in_time_semantics(spark, tmp_path):
    """Each fact row gets the version valid at ITS OWN timestamp:
    valid_from inclusive, valid_to exclusive, NULLs before history and
    for unknown keys, the open version after the last change."""
    from eel_spark.operators.scd2 import scd2_enrich

    path, facts = _enrich_fixture(spark, tmp_path)
    out = scd2_enrich(facts, spark, path, "k", "ts")
    got = {r["label"]: r["seg"] for r in out.collect()}
    assert got == {
        "pre-history": None,
        "at first valid_from (inclusive)": "A",
        "inside v1": "A",
        "at valid_to (exclusive -> v2)": "B",
        "open version": "B",
        "k3 v1": "C",
        "unknown key": None,
    }
    assert out.count() == facts.count()  # left: exactly one row per fact
    inner = scd2_enrich(facts, spark, path, "k", "ts", how="inner")
    assert inner.count() == 5  # pre-history + unknown key drop


def test_enrich_validity_columns_and_collisions(spark, tmp_path):
    from eel_spark.operators.scd2 import scd2_enrich

    path, facts = _enrich_fixture(spark, tmp_path)
    out = scd2_enrich(facts, spark, path, "k", "ts",
                      include_validity=True)
    row = {r["label"]: r for r in out.collect()}["at valid_to (exclusive -> v2)"]
    assert str(row["valid_from"]) == "2024-02-01" and row["valid_to"] is None
    with pytest.raises(ValueError, match="collide"):
        scd2_enrich(facts.withColumnRenamed("label", "seg"),
                    spark, path, "k", "ts")
    with pytest.raises(ValueError, match="how must be"):
        scd2_enrich(facts, spark, path, "k", "ts", how="full")


def test_enrich_binned_equals_plain(spark, tmp_path):
    """bin_days switches the enrich join to (key, time-bin) equality
    with the interval residual — same rows as the plain join on every
    edge the fixture plants (pre-history NULL, inclusive valid_from,
    exclusive valid_to, open version, unknown key), for bin widths
    finer and coarser than the version durations."""
    from eel_spark.operators.scd2 import scd2_enrich

    path, facts = _enrich_fixture(spark, tmp_path)
    plain = sorted(
        map(str, scd2_enrich(facts, spark, path, "k", "ts").collect())
    )
    for w in (7, 30, 365):
        binned = scd2_enrich(facts, spark, path, "k", "ts", bin_days=w)
        assert sorted(map(str, binned.collect())) == plain, f"bin_days={w}"
        assert "__scd_bin" not in binned.columns
    inner = scd2_enrich(facts, spark, path, "k", "ts", how="inner",
                        bin_days=30)
    assert inner.count() == 5
    with pytest.raises(ValueError, match="bin_days"):
        scd2_enrich(facts, spark, path, "k", "ts", bin_days=0)


def test_enrich_binned_equals_plain_timestamp_facts(spark, tmp_path):
    """TIMESTAMP facts with time-of-day components — where to_bin's
    datediff DATE-truncation subtlety lives (a 23:59 fact vs a next-
    midnight valid_to must land in compatible bins). The dimension is
    built from a timestamp change log so valid_from/valid_to carry
    intra-day times too."""
    from datetime import datetime

    from eel_spark.operators.scd2 import scd2_enrich

    path = str(tmp_path / "dim")
    log = spark.createDataFrame(
        [
            (1, "A", 1, datetime(2024, 1, 1, 12, 0), 1),
            (1, "B", 1, datetime(2024, 1, 8, 0, 0), 2),   # bin boundary
            (1, "C", 1, datetime(2024, 2, 1, 23, 59), 3),
        ],
        "k long, seg string, score int, d timestamp, seq int",
    )
    scd2_merge(spark, path, log, "k", ["seg", "score"], "d", ["seq"],
               n_buckets=4)
    facts = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 7, 23, 59), "last-min before boundary"),
            (1, datetime(2024, 1, 8, 0, 0), "exactly at valid_to"),
            (1, datetime(2024, 2, 1, 23, 58), "minute before change"),
            (1, datetime(2024, 2, 1, 23, 59), "at open valid_from"),
            (1, datetime(2023, 12, 31, 23, 59), "pre-history"),
        ],
        "k long, ts timestamp, label string",
    )
    plain = sorted(
        map(str, scd2_enrich(facts, spark, path, "k", "ts").collect())
    )
    for w in (1, 7, 30):
        binned = scd2_enrich(facts, spark, path, "k", "ts", bin_days=w)
        assert sorted(map(str, binned.collect())) == plain, f"bin_days={w}"
    got = {r["label"]: r["seg"]
           for r in scd2_enrich(facts, spark, path, "k", "ts",
                                bin_days=7).collect()}
    assert got == {
        "last-min before boundary": "A",
        "exactly at valid_to": "B",
        "minute before change": "B",
        "at open valid_from": "C",
        "pre-history": None,
    }


def test_enrich_binned_equals_plain_randomized(spark, tmp_path):
    """Seeded randomized chains: 40 keys x up to 8 versions at random
    day offsets (same-day collisions included via the seq tiebreaker),
    200 facts at random offsets around the history span plus NULL-ts
    and unknown-key rows — binned must equal plain for a width finer
    and coarser than typical version durations, in both join modes."""
    import random

    from eel_spark.operators.scd2 import scd2_enrich

    rng = random.Random(1009)
    log = []
    seq = 0
    for k in range(40):
        for _ in range(rng.randint(1, 8)):
            seq += 1
            log.append((
                k,
                rng.choice("ABCDE"),
                rng.randint(0, 3),
                date(2024, 1, 1) + timedelta(days=rng.randint(0, 120)),
                seq,
            ))
    path = str(tmp_path / "dim")
    scd2_merge(spark, path, _log(spark, log), "k", ["seg", "score"], "d",
               ["seq"], n_buckets=4)
    facts = [(rng.randint(-2, 45),
              date(2024, 1, 1) + timedelta(days=rng.randint(-10, 140)),
              f"f{i}") for i in range(200)]
    facts.append((1, None, "null-ts"))
    fdf = spark.createDataFrame(facts, "k long, ts date, label string")
    for how in ("left", "inner"):
        plain = sorted(map(str, scd2_enrich(
            fdf, spark, path, "k", "ts", how=how).collect()))
        for w in (3, 60):
            binned = scd2_enrich(fdf, spark, path, "k", "ts", how=how,
                                 bin_days=w)
            assert sorted(map(str, binned.collect())) == plain, (how, w)


def test_enrich_binned_zero_duration_and_empty_facts(spark, tmp_path):
    """Zero-duration versions (valid_from == valid_to, the ≥2-changes-
    per-tick corner) must never match in either mode, and an all-NULL
    ts fact set must not break the max-bin probe."""
    from eel_spark.operators.scd2 import scd2_enrich

    path = str(tmp_path / "dim")
    log = _log(spark, BASE_LOG + [(1, "Z", 10, date(2024, 2, 1), 9)])
    scd2_merge(spark, path, log, "k", ["seg", "score"], "d", ["seq"],
               n_buckets=4)
    facts = spark.createDataFrame(
        [(1, date(2024, 2, 1), "tick")], "k long, ts date, label string"
    )
    for kw in ({}, {"bin_days": 30}):
        got = scd2_enrich(facts, spark, path, "k", "ts", **kw).collect()
        assert len(got) == 1 and got[0]["seg"] == "Z", got
    null_facts = spark.createDataFrame(
        [(1, None, "null-ts")], "k long, ts date, label string"
    )
    got = scd2_enrich(null_facts, spark, path, "k", "ts", bin_days=30).collect()
    assert len(got) == 1 and got[0]["seg"] is None


def test_enrich_plan_no_bnlj_and_bucket_pruning(spark, tmp_path):
    """The interval predicate must ride the key equi-join as a residual
    (hash/SMJ, never BroadcastNestedLoopJoin), and n_buckets prunes the
    dimension read to the fact keys' scd_bucket partitions."""
    from eel_spark.operators.scd2 import scd2_enrich

    path, facts = _enrich_fixture(spark, tmp_path)
    k1_facts = facts.where("k = 1")
    out = scd2_enrich(k1_facts, spark, path, "k", "ts", n_buckets=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "scd_bucket" in plan.split("PartitionFilters")[1][:250], plan
    # pruned enrich returns the same rows as unpruned for this slice
    full = scd2_enrich(k1_facts, spark, path, "k", "ts")
    assert sorted(map(str, out.collect())) == sorted(map(str, full.collect()))


@pytest.mark.parametrize("land", ["closed_cur", "new_closed"])
def test_merge_repairs_partial_append(spark, tmp_path, monkeypatch, land):
    """Crash INSIDE the closed append with only part of it landed —
    either the old current row's closed copy or the batch's own closed
    version, but not both. Recovery must re-append exactly the missing
    row: the reconstruction reads the pre-batch current row back out of
    whichever copy survived, and the full-identity anti-join skips the
    landed one."""
    import eel_spark.operators.scd2 as scd2mod

    expected = _clean_end_state(spark, tmp_path)
    path = str(tmp_path / "dim")
    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)

    real_write = scd2mod._write_generation
    calls = {"n": 0}
    # NEXT_BATCH key 1: closed_cur = (B,10, Feb1->Mar1) [valid_from
    # 2024-02-01], new_closed = (B,99, Mar1->Mar5) [valid_from
    # 2024-03-01] — select which one the torn append lands
    keep_from = date(2024, 2, 1) if land == "closed_cur" else date(2024, 3, 1)

    def crashing(df, ks, p, nb, **kw):
        calls["n"] += 1
        if calls["n"] == 1:  # the closed append: land a subset, die
            real_write(df.where(F.col("valid_from") == F.lit(keep_from)),
                       ks, p, nb, **kw)
            raise RuntimeError("simulated crash")
        return real_write(df, ks, p, nb, **kw)

    monkeypatch.setattr(scd2mod, "_write_generation", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        scd2_merge(spark, path, _log(spark, NEXT_BATCH), "k",
                   ["seg", "score"], "d", ["seq"], n_buckets=4)
    monkeypatch.setattr(scd2mod, "_write_generation", real_write)

    stats = scd2_merge(spark, path, _log(spark, NEXT_BATCH), "k",
                       ["seg", "score"], "d", ["seq"], n_buckets=4)
    assert stats["replayed"] is True
    assert _table_versions(spark, path) == expected


def test_merge_rejects_foreign_inflight_marker(spark, tmp_path, monkeypatch):
    """Single-writer guard: after batch A crashes mid-merge, attempting
    a DIFFERENT batch B must fail loudly (interleaving would corrupt
    both recoveries) — and the in-order retry of A, then B, still
    converges to the clean end state."""
    import eel_spark.operators.scd2 as scd2mod

    path = str(tmp_path / "dim")
    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)

    real_write = scd2mod._write_generation
    calls = {"n": 0}

    def crashing(df, ks, p, nb, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash")
        return real_write(df, ks, p, nb, **kw)

    monkeypatch.setattr(scd2mod, "_write_generation", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        scd2_merge(spark, path, _log(spark, NEXT_BATCH), "k",
                   ["seg", "score"], "d", ["seq"], n_buckets=4)
    monkeypatch.setattr(scd2mod, "_write_generation", real_write)

    other = [(9, "Z", 1, date(2024, 7, 1), 60)]
    with pytest.raises(RuntimeError, match="different batch"):
        scd2_merge(spark, path, _log(spark, other), "k", ["seg", "score"],
                   "d", ["seq"], n_buckets=4)

    # in-order retry: A's recovery, then B, is accepted
    scd2_merge(spark, path, _log(spark, NEXT_BATCH), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)
    scd2_merge(spark, path, _log(spark, other), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)
    cur = read_scd2_current(spark, path)
    assert {r["k"] for r in cur.collect()} == {1, 2, 3, 5, 9}


def test_fingerprint_distinguishes_paired_duplicates(spark):
    """XOR alone cancels PAIRED duplicate rows: {A,A,B} and {C,C,B}
    share count=3 and xor=digest(B), so without the sum accumulator the
    second batch would silently no-op as a redelivery."""
    from eel_spark.operators.scd2 import _batch_fingerprint

    cols = ["k", "a", "valid_from", "valid_to", "is_current"]
    sch = ("k long, a string, valid_from date, valid_to date, "
           "is_current boolean")
    a = (1, "A", date(2024, 1, 1), date(2024, 1, 1), False)
    b = (2, "B", date(2024, 1, 1), None, True)
    c = (1, "C", date(2024, 1, 1), date(2024, 1, 1), False)
    f1 = _batch_fingerprint(spark.createDataFrame([a, a, b], sch), cols)
    f2 = _batch_fingerprint(spark.createDataFrame([c, c, b], sch), cols)
    assert f1 != f2


def test_enrich_binned_single_fact_exchange(spark, tmp_path):
    """r10: the bin_days arm joins the facts ONCE against the unioned
    (closed-binned ∪ fact-bin-probed open) dimension — with broadcast
    disabled, exactly one Exchange carries the full fact rows (the
    pre-r10 shape shuffled them twice, once per arm). The only other
    fact-derived exchange is the slim (key, bin) distinct."""
    from eel_spark.operators.scd2 import scd2_enrich

    path, facts = _enrich_fixture(spark, tmp_path)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = scd2_enrich(facts, spark, path, "k", "ts", bin_days=30)
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # formatted mode lists each operator's Input columns: count the
    # Exchange nodes whose input still carries the wide fact payload
    import re

    wide_fact_exchanges = 0
    details = re.split(r"\n(?=\(\d+\) )", plan)
    for d in details:
        if d.startswith("(") and ") Exchange" in d.split("\n")[0]:
            if "label" in d:  # the fact-only payload column
                wide_fact_exchanges += 1
    assert wide_fact_exchanges == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_concurrent_writer_lease(spark, tmp_path):
    """r10: the single-writer lease closes the check-then-write race the
    r8 foreign-marker rejection could not see. Atomic create-if-absent
    picks one winner; the loser fails loudly BEFORE touching any marker
    or data; every Python-level exit (success or rejection) releases the
    lease; break_store_lease clears a hard-kill stranding. The lease is
    the one store lease (``<path>__maint_lease``)."""
    from eel_spark.operators.maintenance import (
        MAINT_LEASE_SUFFIX,
        break_store_lease,
    )
    from eel_spark.sources.hdfs import HdfsOps

    path = str(tmp_path / "dim")
    lease = path + MAINT_LEASE_SUFFIX
    ops = HdfsOps(spark)

    # a successful merge acquires and releases
    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)
    assert not ops.exists(lease)

    # the atomic-create primitive: exactly one winner
    assert ops.create_atomic(lease, content="scd2_merge [holder-fp]\n")
    assert not ops.create_atomic(lease, content="second-writer\n")

    # a concurrent merge of a different batch loses loudly
    nxt = _log(spark, [(2, "B", 7, date(2024, 3, 1), 7)])
    with pytest.raises(RuntimeError, match="active writer"):
        scd2_merge(spark, path, nxt, "k", ["seg", "score"], "d", ["seq"],
                   n_buckets=4)
    # the loser must not have disturbed the holder's lease or the table:
    # it lost BEFORE writing any inflight marker
    assert ops.exists(lease)
    assert ops.list_status(f"{path}/_scd_inflight/*") == []

    # hard-kill recovery: break the stranded lease, then the retry wins
    assert break_store_lease(spark, path)
    stats = scd2_merge(spark, path, nxt, "k", ["seg", "score"], "d",
                       ["seq"], n_buckets=4)
    assert stats["changed"] == 1 and not ops.exists(lease)

    # a REJECTED batch (out-of-order) releases the lease too
    stale = _log(spark, [(2, "Z", 9, date(2024, 1, 1), 99)])
    with pytest.raises(ValueError, match="out-of-order"):
        scd2_merge(spark, path, stale, "k", ["seg", "score"], "d",
                   ["seq"], n_buckets=4)
    assert not ops.exists(lease)


def test_merge_self_adopts_same_batch_stale_lease(spark, tmp_path):
    """A hard-killed attempt strands a lease recording ITS batch
    fingerprint; the checkpoint-replayed retry of the SAME batch must
    self-adopt it (automatic crash recovery, no manual break), while a
    DIFFERENT batch still fails loudly with the holder's fp named."""
    from eel_spark.operators.maintenance import MAINT_LEASE_SUFFIX
    from eel_spark.sources.hdfs import HdfsOps

    path = str(tmp_path / "dim")
    lease = path + MAINT_LEASE_SUFFIX
    ops = HdfsOps(spark)

    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)
    nxt = _log(spark, [(2, "B", 7, date(2024, 3, 1), 7)])

    # simulate the hard kill: run the merge once to learn its fp from
    # the applied marker, then re-strand a lease with that fp and replay
    before = {s["name"] for s in ops.list_status(f"{path}/_scd_applied/*")}
    stats = scd2_merge(spark, path, nxt, "k", ["seg", "score"], "d",
                       ["seq"], n_buckets=4)
    assert stats["replayed"] is False
    after = {s["name"] for s in ops.list_status(f"{path}/_scd_applied/*")}
    (fp,) = after - before  # the nxt batch's fingerprint

    assert ops.create_atomic(lease, content=f"scd2_merge [{fp}]\n")
    replay = scd2_merge(spark, path, nxt, "k", ["seg", "score"], "d",
                        ["seq"], n_buckets=4)
    assert replay["replayed"] is True  # adopted the lease, saw applied
    assert not ops.exists(lease)  # and released it on the way out

    # a different-batch lease still rejects, naming the holder
    assert ops.create_atomic(lease, content="scd2_merge [deadbeef0000]\n")
    with pytest.raises(RuntimeError, match="deadbeef0000"):
        scd2_merge(spark, path,
                   _log(spark, [(3, "F", 5, date(2024, 5, 1), 20)]),
                   "k", ["seg", "score"], "d", ["seq"], n_buckets=4)
    assert ops.exists(lease)  # loser must not release the holder's lease
    assert ops.read_text(lease).strip() == "scd2_merge [deadbeef0000]"


def test_trim_history_retention(spark, tmp_path):
    """Retention trim drops closed versions ended at/before the cutoff:
    current reads and as-of reads AT/AFTER the cutoff are byte-identical
    to pre-trim; as-of before the cutoff loses the purged versions (the
    point); all-expired buckets disappear; idempotent re-trim no-ops;
    lease respected; interrupted swap self-heals."""
    from eel_spark.operators.maintenance import MAINT_LEASE_SUFFIX
    from eel_spark.operators.scd2 import (
        read_scd2_current,
        scd2_trim_history,
    )
    from eel_spark.sources.hdfs import HdfsOps

    path = str(tmp_path / "dim")
    lease = path + MAINT_LEASE_SUFFIX
    ops = HdfsOps(spark)
    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)
    cur_before = _versions(read_scd2_current(spark, path))
    asof_after = _versions(read_scd2_asof(spark, path, date(2024, 2, 15)))
    cutoff = date(2024, 1, 20)
    # closed versions: (1,A) ends 2024-02-01 (> cutoff, kept),
    # (3,C,1) ends 2024-01-09 (<= cutoff, dropped)
    stats = scd2_trim_history(spark, path, cutoff)
    assert stats == {"dropped": 1, "kept": 1}
    assert not ops.exists(lease)
    assert _versions(read_scd2_current(spark, path)) == cur_before
    assert _versions(read_scd2_asof(spark, path, date(2024, 2, 15))) == asof_after
    # pre-cutoff as-of lost the purged version (retention semantics)
    early = read_scd2_asof(spark, path, date(2024, 1, 5))
    assert {r["k"] for r in early.collect()} == {1, 2}  # k3's v1 purged
    # idempotent re-trim
    assert scd2_trim_history(spark, path, cutoff) == {"dropped": 0, "kept": 1}

    # trimming EVERYTHING closed removes the bucket dirs with the swap,
    # and the table still reads cleanly
    stats = scd2_trim_history(spark, path, date(2030, 1, 1))
    assert stats["kept"] == 0
    assert _versions(read_scd2_current(spark, path)) == cur_before

    # lease respected
    assert ops.create_atomic(lease, content="x\n")
    with pytest.raises(RuntimeError, match="active writer"):
        scd2_trim_history(spark, path, cutoff)
    ops.delete(lease)

    # interrupted-swap recovery: closed subtree staged aside, no new one
    scd2_merge(spark, path,
               _log(spark, [(1, "Q", 5, date(2024, 6, 1), 50)]),
               "k", ["seg", "score"], "d", ["seq"], n_buckets=4)
    import os
    os.rename(f"{path}/scd_current=0", f"{path}/_scd_trim_old")
    stats = scd2_trim_history(spark, path, date(2020, 1, 1))
    assert stats == {"dropped": 0, "kept": 1}  # restored, nothing old
    assert ops.exists(f"{path}/scd_current=0")


def test_trim_history_review_hardening(spark, tmp_path):
    """r10 review findings: re-trim after FULL expiry no-ops instead of
    choking on a parquet-less subtree; a stranded _scd_trim_old copy is
    reaped even on early-return paths; a table with inflight markers
    (torn merge awaiting retry) refuses to trim."""
    from eel_spark.operators.scd2 import scd2_trim_history
    from eel_spark.sources.hdfs import HdfsOps

    path = str(tmp_path / "dim")
    ops = HdfsOps(spark)
    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)

    # stranded trash (crash after swap, before delete) is reaped on the
    # next call even when nothing newly expires
    ops.mkdirs(f"{path}/_scd_trim_old/{'scd_bucket=0'}")
    out = scd2_trim_history(spark, path, date(2000, 1, 1))  # no-op cutoff
    assert out["dropped"] == 0
    assert not ops.exists(f"{path}/_scd_trim_old")

    # full expiry, then an immediate re-trim: both succeed
    assert scd2_trim_history(spark, path, date(2030, 1, 1))["kept"] == 0
    assert scd2_trim_history(spark, path, date(2030, 1, 1)) == {
        "dropped": 0, "kept": 0,
    }
    # the whole table still reads
    assert spark.read.parquet(path).count() == 3  # current rows only

    # inflight marker: trim refuses (the merge's crash contract owns it)
    ops.mkdirs(f"{path}/_scd_inflight/deadbeef")
    with pytest.raises(RuntimeError, match="inflight"):
        scd2_trim_history(spark, path, date(2030, 1, 1))
    ops.delete(f"{path}/_scd_inflight", recursive=True)


def test_compact_scd2_history_one_file_per_bucket(spark, tmp_path):
    """Closed-history compaction: after N merges each touched bucket
    holds one file set per batch; compaction collapses to exactly ONE
    file per bucket with row-identical content — current reads, as-of
    reads and a subsequent merge all byte-identical to pre-compaction;
    already-compact tables no-op without reading a row; lease respected;
    interrupted swap self-heals (shared with trim's recovery)."""
    import glob
    import os

    from eel_spark.operators.maintenance import MAINT_LEASE_SUFFIX
    from eel_spark.operators.scd2 import (
        compact_scd2_history,
        read_scd2_current,
        scd2_trim_history,
    )
    from eel_spark.sources.hdfs import HdfsOps

    path = str(tmp_path / "dim")
    lease = path + MAINT_LEASE_SUFFIX
    ops = HdfsOps(spark)
    # three merge batches: every batch closes versions of key 1/3 so the
    # same buckets accumulate multiple closed file sets
    scd2_merge(spark, path, _log(spark, BASE_LOG), "k", ["seg", "score"],
               "d", ["seq"], n_buckets=4)
    scd2_merge(spark, path,
               _log(spark, [(1, "C", 11, date(2024, 3, 1), 10),
                            (3, "D", 3, date(2024, 3, 2), 11)]),
               "k", ["seg", "score"], "d", ["seq"], n_buckets=4)
    scd2_merge(spark, path,
               _log(spark, [(1, "D", 12, date(2024, 4, 1), 20)]),
               "k", ["seg", "score"], "d", ["seq"], n_buckets=4)

    def closed_files():
        return sorted(
            glob.glob(f"{path}/scd_current=0/scd_bucket=*/*.parquet")
        )

    def per_bucket_counts():
        from collections import Counter

        return Counter(f.rsplit("/", 2)[-2] for f in closed_files())

    assert any(n > 1 for n in per_bucket_counts().values()), (
        "precondition: some bucket must hold multiple files"
    )
    cur_before = _versions(read_scd2_current(spark, path))
    hist_before = _versions(spark.read.parquet(path))
    asof_before = _versions(read_scd2_asof(spark, path, date(2024, 3, 15)))
    n_before = len(closed_files())

    stats = compact_scd2_history(spark, path)
    assert stats["files_before"] == n_before
    assert stats["files_after"] == stats["buckets"]
    assert all(n == 1 for n in per_bucket_counts().values())
    assert not ops.exists(lease)
    # row-identical across every read path
    assert _versions(read_scd2_current(spark, path)) == cur_before
    assert _versions(spark.read.parquet(path)) == hist_before
    assert _versions(
        read_scd2_asof(spark, path, date(2024, 3, 15))
    ) == asof_before

    # already-compact: no-op (rows=None marks the no-read path)
    again = compact_scd2_history(spark, path)
    assert again["files_before"] == again["files_after"] == stats["buckets"]
    assert again["rows"] is None

    # a merge after compaction behaves exactly as one before it
    scd2_merge(spark, path,
               _log(spark, [(2, "Z", 9, date(2024, 5, 1), 30)]),
               "k", ["seg", "score"], "d", ["seq"], n_buckets=4)
    assert {r["k"]: r["seg"] for r in
            read_scd2_current(spark, path).collect()}[2] == "Z"

    # lease respected
    assert ops.create_atomic(lease, content="x\n")
    with pytest.raises(RuntimeError, match="active writer"):
        compact_scd2_history(spark, path)
    ops.delete(lease)

    # inflight marker: compaction refuses like trim does
    ops.mkdirs(f"{path}/_scd_inflight/deadbeef")
    with pytest.raises(RuntimeError, match="inflight"):
        compact_scd2_history(spark, path)
    ops.delete(f"{path}/_scd_inflight", recursive=True)

    # interrupted-swap crash window: closed subtree staged aside, no new
    # one swapped in — the next compaction restores it first (and TRIM
    # recovers a compaction's swap too: shared staging names)
    hist = _versions(spark.read.parquet(path))
    os.rename(f"{path}/scd_current=0", f"{path}/_scd_trim_old")
    compact_scd2_history(spark, path)
    assert _versions(spark.read.parquet(path)) == hist
    os.rename(f"{path}/scd_current=0", f"{path}/_scd_trim_old")
    assert scd2_trim_history(spark, path, date(2000, 1, 1))["dropped"] == 0
    assert _versions(spark.read.parquet(path)) == hist
