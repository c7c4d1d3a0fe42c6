"""MERGE-style parquet upsert."""

from __future__ import annotations

import glob
import os

import pytest

from eel_spark.operators.upsert import upsert_parquet


def _rows(spark, path):
    return {
        r["k"]: (r["v"], r["p"])
        for r in spark.read.parquet(path).collect()
    }


def test_partitioned_upsert_prunes_untouched(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a1", "A"), (2, "b1", "B"), (3, "c1", "C")],
        "k LONG, v STRING, p STRING",
    )
    stats = upsert_parquet(spark, path, base, "k", partition_col="p")
    assert stats == {"inserted": 3, "updated": 0, "partitions_rewritten": 0}

    before_a = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/p=A/*.parquet")
    }
    assert before_a

    batch = spark.createDataFrame(
        [(2, "b2", "B"), (4, "d1", "D")], "k LONG, v STRING, p STRING"
    )
    stats = upsert_parquet(spark, path, batch, "k", partition_col="p")
    assert stats == {"inserted": 1, "updated": 1, "partitions_rewritten": 2}

    got = _rows(spark, path)
    assert got == {
        1: ("a1", "A"), 2: ("b2", "B"), 3: ("c1", "C"), 4: ("d1", "D")
    }
    # partition A was never read back or rewritten: same files, same mtimes
    after_a = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/p=A/*.parquet")
    }
    assert after_a == before_a


def test_unpartitioned_upsert_swaps_atomically(spark, tmp_path):
    path = str(tmp_path / "flat")
    base = spark.createDataFrame(
        [(1, "a1", "A"), (2, "b1", "B")], "k LONG, v STRING, p STRING"
    )
    upsert_parquet(spark, path, base, "k")
    batch = spark.createDataFrame(
        [(2, "b2", "B"), (3, "c1", "C")], "k LONG, v STRING, p STRING"
    )
    stats = upsert_parquet(spark, path, batch, "k")
    assert stats["inserted"] == 1 and stats["updated"] == 1
    assert _rows(spark, path) == {1: ("a1", "A"), 2: ("b2", "B"), 3: ("c1", "C")}
    # the staged swap leaves no staging or staged-aside copy behind
    assert not os.path.exists(path + "__compacting")
    assert not os.path.exists(path + "__old")


def test_multi_column_keys(spark, tmp_path):
    path = str(tmp_path / "mk")
    base = spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "y")], "a LONG, b LONG, v STRING"
    )
    upsert_parquet(spark, path, base, ["a", "b"])
    batch = spark.createDataFrame([(1, 2, "y2")], "a LONG, b LONG, v STRING")
    stats = upsert_parquet(spark, path, batch, ["a", "b"])
    assert stats["updated"] == 1 and stats["inserted"] == 0
    got = {(r["a"], r["b"]): r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {(1, 1): "x", (1, 2): "y2"}


def test_duplicate_update_keys_rejected(spark, tmp_path):
    path = str(tmp_path / "dup")
    df = spark.createDataFrame([(1, "a"), (1, "b")], "k LONG, v STRING")
    with pytest.raises(ValueError, match="duplicate key"):
        upsert_parquet(spark, path, df, "k")


def test_schema_drift_rejected(spark, tmp_path):
    path = str(tmp_path / "drift")
    base = spark.createDataFrame([(1, "a", 1.0)], "k LONG, v STRING, w DOUBLE")
    upsert_parquet(spark, path, base, "k")
    slim = spark.createDataFrame([(2, "b")], "k LONG, v STRING")
    with pytest.raises(Exception):
        upsert_parquet(spark, path, slim, "k")


def test_updates_derived_from_target(spark, tmp_path):
    # the common maintenance shape: the batch is a transformation OF the
    # target table itself; all counting must happen before the overwrite
    # or the lazy plan re-reads replaced files
    from pyspark.sql import functions as F

    path = str(tmp_path / "selfref")
    base = spark.createDataFrame(
        [(i, float(i), "P") for i in range(10)], "k LONG, v DOUBLE, p STRING"
    )
    upsert_parquet(spark, path, base, "k", partition_col="p")
    landed = spark.read.parquet(path)
    fixes = landed.filter(F.col("k") < 3).withColumn("v", F.lit(-1.0))
    stats = upsert_parquet(spark, path, fixes, "k", partition_col="p")
    assert stats["updated"] == 3 and stats["inserted"] == 0
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got[0] == -1.0 and got[9] == 9.0 and len(got) == 10


def test_null_partition_survivors_kept(spark, tmp_path):
    # NULL partition values must not be dropped by the pruned read:
    # isin([None]) never matches NULL, which would let the dynamic
    # overwrite delete the NULL partition's unmatched rows
    path = str(tmp_path / "nullp")
    base = spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (3, "c", "X")],
        "k LONG, v STRING, p STRING",
    )
    upsert_parquet(spark, path, base, "k", partition_col="p")
    batch = spark.createDataFrame([(1, "a2", None)], "k LONG, v STRING, p STRING")
    stats = upsert_parquet(spark, path, batch, "k", partition_col="p")
    assert stats["updated"] == 1
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a2", 2: "b", 3: "c"}  # k=2 survived the rewrite


def test_moved_key_requires_full_merge(spark, tmp_path):
    # a key whose partition value changes: pruned mode documents the
    # hazard (old row remains); prune=False merges the full table and
    # leaves exactly one row, even when the old partition empties out
    path = str(tmp_path / "moved")
    base = spark.createDataFrame(
        [(1, "a", "A"), (2, "b", "B")], "k LONG, v STRING, p STRING"
    )
    upsert_parquet(spark, path, base, "k", partition_col="p")
    moved = spark.createDataFrame([(1, "a2", "B")], "k LONG, v STRING, p STRING")

    stats = upsert_parquet(spark, path, moved, "k", partition_col="p", prune=False)
    assert stats["updated"] == 1 and stats["partitions_rewritten"] == -1
    rows = [(r["k"], r["v"], r["p"]) for r in spark.read.parquet(path).collect()]
    assert sorted(rows) == [(1, "a2", "B"), (2, "b", "B")]
    # the vacated p=A partition is fully gone (no stale files)
    import glob

    assert not glob.glob(f"{path}/p=A/*")


def test_null_merge_key_rejected(spark, tmp_path):
    path = str(tmp_path / "nullkey")
    base = spark.createDataFrame([(1, "a")], "k LONG, v STRING")
    upsert_parquet(spark, path, base, "k")
    bad = spark.createDataFrame([(None, "x")], "k LONG, v STRING")
    import pytest as _p

    with _p.raises(ValueError, match="NULL in key"):
        upsert_parquet(spark, path, bad, "k")
