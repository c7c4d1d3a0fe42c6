"""The inferred-schema memo behind ``queries.tables.table``: a repeated
read of an unchanged file launches no Spark job, and a changed file,
a changed inference setting or a directory path infers again."""

from __future__ import annotations

from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from eel_spark.queries import QUERIES, UNGATED_QUERIES
from eel_spark.queries import tables
from eel_spark.queries.tables import table
from tests.conftest import SF_DIR

# the slots of the perfbench ``headline`` workload
HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q18_large_volume_customers", "retrieval_rrf_fused",
]


def _jobs_in_group(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; returns (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, columns: dict) -> None:
    pq.write_table(pa.table(columns), str(path))


def test_rebuilding_headline_slots_launches_no_job(spark):
    slots = {**UNGATED_QUERIES, **QUERIES}
    for name in HEADLINE:
        slots[name](spark, SF_DIR)  # first build may infer schemas
        _, jobs = _jobs_in_group(spark, f"memo-rebuild/{name}",
                                 lambda: slots[name](spark, SF_DIR))
        assert jobs == 0, f"{name} launched {jobs} job(s) on its second build"


def test_rewritten_file_reads_new_schema_and_rows(spark, tmp_path):
    _write(tmp_path / "t.parquet", {"a": [1, 2], "b": ["x", "y"]})
    df, jobs = _jobs_in_group(spark, "memo-cold", lambda: table(spark, str(tmp_path), "t").df)
    assert jobs >= 1  # the first read infers, so the job count is live
    assert df.columns == ["a", "b"]
    df.schema.add("extra", "long")  # a caller extending its schema in place
    df, jobs = _jobs_in_group(spark, "memo-warm", lambda: table(spark, str(tmp_path), "t").df)
    assert jobs == 0
    assert df.columns == ["a", "b"]

    _write(tmp_path / "t.parquet", {"c": [0.5, 1.5, 2.5]})
    df = table(spark, str(tmp_path), "t").df
    assert df.columns == ["c"]
    assert sorted(r.c for r in df.collect()) == [0.5, 1.5, 2.5]


def test_inference_setting_change_reinfers(spark, tmp_path):
    _write(tmp_path / "b.parquet", {"v": pa.array([b"ab", b"cd"], pa.binary())})
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert table(spark, str(tmp_path), "b").df.schema["v"].dataType == T.BinaryType()
        spark.conf.set(conf, "true")
        df = table(spark, str(tmp_path), "b").df
        assert df.schema["v"].dataType == T.StringType()
        assert sorted(r.v for r in df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.set(conf, before)


def test_memo_is_capped_least_recently_used_first(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMA_MEMO", OrderedDict())
    monkeypatch.setattr(tables, "_SCHEMA_MEMO_CAP", 3)
    for i in range(5):
        _write(tmp_path / f"f{i}.parquet", {"i": [i]})
    for i in (0, 1, 2, 0, 3, 4):
        table(spark, str(tmp_path), f"f{i}")
        assert len(tables._SCHEMA_MEMO) <= 3
    held = sorted(k.rsplit("/", 1)[1] for k in tables._SCHEMA_MEMO)
    assert held == ["f0.parquet", "f3.parquet", "f4.parquet"]


def test_directories_are_not_stored(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMA_MEMO", OrderedDict())
    spark.range(3).write.parquet(str(tmp_path / "d.parquet"))
    assert table(spark, str(tmp_path), "d").df.count() == 3
    assert not tables._SCHEMA_MEMO
    with pytest.raises(AnalysisException):
        table(spark, str(tmp_path), "missing")


def test_concurrent_reads_keep_the_cap(spark, tmp_path, monkeypatch):
    """Threads reading through one memo never push it past its cap and
    every read returns its own file's schema."""
    import sys
    import threading

    monkeypatch.setattr(tables, "_SCHEMA_MEMO", OrderedDict())
    monkeypatch.setattr(tables, "_SCHEMA_MEMO_CAP", 2)
    for i in range(4):
        _write(tmp_path / f"c{i}.parquet", {f"col{i}": [i]})
    errors, sizes = [], []

    def reader(k: int) -> None:
        try:
            for j in range(4):
                i = (k + j) % 4
                df = table(spark, str(tmp_path), f"c{i}").df
                if df.columns != [f"col{i}"]:
                    errors.append((i, df.columns))
                sizes.append(len(tables._SCHEMA_MEMO))
        except Exception as e:  # noqa: BLE001 - reported by the assert
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(sizes) == 32 and max(sizes) <= 2
