"""Unified store maintenance (operators/maintenance.py): one report
shape across all five incremental store families, and threshold-
triggered compaction through each store's own compactor."""

from __future__ import annotations

from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from eel_spark.operators.maintenance import (
    detect_store_type,
    maintain,
    store_maintenance_report,
)

REPORT_COLS = [
    "path",
    "store_type",
    "n_batches",
    "has_compacted_generation",
    "n_files",
    "n_bytes",
    "n_dirs",
    "max_files_per_leaf",
    "last_compaction_ms",
]


def _report_row(spark, path, **kw):
    df = store_maintenance_report(spark, path, **kw)
    assert df.columns == REPORT_COLS  # the ONE shape, in order
    return df.first().asDict()


def _maintain_jobs(spark, path, **kw):
    """``maintain`` under its own job group: (result, the group's job
    ids)."""
    sc = spark.sparkContext
    group = f"maintain:{path}"
    sc.setJobGroup(group, group)
    try:
        res = maintain(spark, path, **kw)
    finally:
        sc._jsc.clearJobGroup()
    return res, list(sc.statusTracker().getJobIdsForGroup(group))


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"token{i} " * 12) for i in range(lo, hi)],
        "doc_id long, text string",
    )


def test_bm25_store_report_and_maintain(spark, tmp_path):
    from eel_spark.operators.retrieval import append_bm25_stats_batch

    path = str(tmp_path / "bm25")
    for b in range(3):
        append_bm25_stats_batch(path, _docs(spark, b * 5, b * 5 + 5), "text",
                                src_batch=b)
    assert detect_store_type(spark, path) == "bm25_stats"
    row = _report_row(spark, path)
    assert row["store_type"] == "bm25_stats"
    assert row["n_batches"] == 3
    assert row["has_compacted_generation"] is False
    assert row["n_files"] > 0 and row["n_bytes"] > 0
    # under threshold: no action, measured by listing alone (no job)
    res, jobs = _maintain_jobs(spark, path, max_batches=8)
    assert res["action"] == "none" and jobs == []
    assert res["before"] == row  # maintain measures the public report
    before = _report_row(spark, path)
    assert before["n_batches"] == 3
    # over threshold: the store's own compactor runs
    res = maintain(spark, path, max_batches=2)
    assert res["action"] == "compacted"
    assert res["before"] == before
    after = res["after"]
    assert after["n_batches"] == 0
    assert after["has_compacted_generation"] is True
    assert after["last_compaction_ms"] is not None
    assert after["n_files"] < row["n_files"]
    # idempotent policy: compacted store no longer trips the threshold
    assert maintain(spark, path, max_batches=2)["action"] == "none"


def test_ivf_store_report_and_maintain(spark, tmp_path):
    from eel_spark.operators.similarity import (
        append_ivf_batch,
        init_ivf_index,
        ivf_topk_against_index,
        train_centroids,
    )

    emb = spark.createDataFrame(
        [
            (i, [float(i % 3), float(i % 5), float(i % 7), 1.0])
            for i in range(30)
        ],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivf")
    init_ivf_index(path, train_centroids(emb, n_cells=2, iterations=1))
    for b in range(3):
        append_ivf_batch(
            path, emb.where(F.col("vec_id") % 3 == b), src_batch=b
        )
    assert detect_store_type(spark, path) == "ivf_index"
    row = _report_row(spark, path)
    assert row["store_type"] == "ivf_index" and row["n_batches"] == 3
    res, jobs = _maintain_jobs(spark, path, max_batches=8)
    assert res["action"] == "none" and jobs == []
    assert res["before"] == row
    res = maintain(spark, path, max_batches=2)
    assert res["action"] == "compacted"
    assert res["before"] == row
    assert res["after"]["n_batches"] == 0
    assert res["after"]["has_compacted_generation"] is True
    # the index still serves after maintenance
    q = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 1.0])], "query_id long, embedding array<double>"
    )
    assert ivf_topk_against_index(spark, path, q, k=3, n_probe=2).count() == 3


def test_rollup_store_report_and_maintain(spark, tmp_path):
    from eel_spark.operators.rollups import append_rollup_batch, read_rollup

    events = spark.createDataFrame(
        [
            (i, datetime(2024, 1, 1 + i % 3, i % 24), float(i))
            for i in range(60)
        ],
        "user_id long, ts timestamp, value double",
    )
    aggs = {"n": F.count(F.lit(1)), "total": F.sum("value")}
    merges = {"n": F.sum("n"), "total": F.sum("total")}
    path = str(tmp_path / "roll")
    for b in range(3):
        append_rollup_batch(
            spark, path, events.where(F.col("user_id") % 3 == b), "ts",
            aggs, ["day"], src_batch=b,
        )
    assert detect_store_type(spark, path) == "rollup"
    row = _report_row(spark, path)
    assert row["store_type"] == "rollup" and row["n_batches"] == 3
    before = sorted(
        (str(r["bucket_start"]), r["n"], r["total"])
        for r in read_rollup(spark, path, merges).collect()
    )
    # the compactor needs the caller's merge semantics — refuse loudly
    with pytest.raises(ValueError, match="merges"):
        maintain(spark, path, max_batches=2)
    res = maintain(spark, path, max_batches=2, merges=merges)
    assert res["action"] == "compacted"
    assert res["before"] == row
    assert res["after"]["n_batches"] == 0
    assert res["after"]["has_compacted_generation"] is True
    after = sorted(
        (str(r["bucket_start"]), r["n"], r["total"])
        for r in read_rollup(spark, path, merges).collect()
    )
    assert after == before  # content unchanged


def test_scd2_store_report_and_maintain(spark, tmp_path):
    from eel_spark.operators.scd2 import scd2_merge

    schema = "k long, seg string, d date, seq long"

    def log(rows):
        return spark.createDataFrame(rows, schema)

    path = str(tmp_path / "dim")
    # three merges closing versions of the same keys → several files
    # per closed bucket
    scd2_merge(spark, path, log([(1, "A", date(2024, 1, 1), 1),
                                 (3, "C", date(2024, 1, 2), 2)]),
               "k", ["seg"], "d", ["seq"], n_buckets=2)
    scd2_merge(spark, path, log([(1, "B", date(2024, 2, 1), 3),
                                 (3, "D", date(2024, 2, 2), 4)]),
               "k", ["seg"], "d", ["seq"], n_buckets=2)
    scd2_merge(spark, path, log([(1, "C", date(2024, 3, 1), 5)]),
               "k", ["seg"], "d", ["seq"], n_buckets=2)
    assert detect_store_type(spark, path) == "scd2"
    row = _report_row(spark, path)
    assert row["store_type"] == "scd2"
    assert row["n_batches"] is None  # no batch concept: files-per-bucket
    assert row["max_files_per_leaf"] >= 2
    res = maintain(spark, path, max_files_per_leaf=1)
    assert res["action"] == "compacted"
    assert res["before"] == row
    assert res["after"]["max_files_per_leaf"] == 1
    assert maintain(spark, path, max_files_per_leaf=1)["action"] == "none"


def test_dedup_history_report_and_maintain(spark, tmp_path):
    from eel_spark.streaming import incremental_near_dedup_sink

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(30))

    schema = "doc_id long, text string"
    in_dir = tmp_path / "m_in"
    in_dir.mkdir()
    surv_path = str(tmp_path / "m_surv")
    for w in range(4):
        rows = [(w * 10 + j, doc(w * 10 + j)) for j in range(3)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(in_dir / f"w{w}")
        )
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    q = incremental_near_dedup_sink(
        docs, surv_path, str(tmp_path / "m_ck"), max_hamming=7, bands=8
    )
    q.awaitTermination(180)

    assert detect_store_type(spark, surv_path) == "dedup_history"
    row = _report_row(spark, surv_path)
    assert row["store_type"] == "dedup_history"
    assert row["n_batches"] == 4
    res = maintain(spark, surv_path, max_batches=2)
    assert res["action"] == "compacted"
    assert res["before"] == row
    assert res["after"]["n_batches"] == 0
    assert res["after"]["has_compacted_generation"] is True
    survivors = spark.read.parquet(surv_path)
    assert survivors.count() == 12  # content preserved


def test_detect_store_type_rejects_unknown(spark, tmp_path):
    p = tmp_path / "junk"
    p.mkdir()
    (p / "whatever.txt").write_text("x")
    with pytest.raises(ValueError, match="no recognizable incremental"):
        detect_store_type(spark, str(p))


def test_reports_union_across_store_types(spark, tmp_path):
    """The point of ONE shape: a fleet of stores unions into a single
    dashboard table."""
    from eel_spark.operators.retrieval import append_bm25_stats_batch
    from eel_spark.operators.rollups import append_rollup_batch

    p1 = str(tmp_path / "u_bm25")
    append_bm25_stats_batch(p1, _docs(spark, 0, 5), "text", src_batch=0)
    p2 = str(tmp_path / "u_roll")
    events = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 3), 2.0)],
        "user_id long, ts timestamp, value double",
    )
    append_rollup_batch(spark, p2, events, "ts",
                        {"n": F.count(F.lit(1))}, ["day"], src_batch=0)
    fleet = store_maintenance_report(spark, p1).unionByName(
        store_maintenance_report(spark, p2)
    )
    rows = {r["store_type"]: r for r in fleet.collect()}
    assert set(rows) == {"bm25_stats", "rollup"}
    assert all(r["n_batches"] == 1 for r in rows.values())


def test_scd2_threshold_scopes_to_closed_subtree(spark, tmp_path):
    """r13 review: the depth lever must be what compact_scd2_history
    actually moves — the CLOSED subtree. A fragmented OPEN side
    (scd_current=1, the merge's to manage) must not trip the policy
    forever ('compacted' every run with nothing to compact)."""
    import shutil as _shutil

    from eel_spark.operators.scd2 import scd2_merge

    schema = "k long, seg string, d date, seq long"
    path = str(tmp_path / "dim2")
    scd2_merge(spark, path,
               spark.createDataFrame([(1, "A", date(2024, 1, 1), 1)], schema),
               "k", ["seg"], "d", ["seq"], n_buckets=2)
    scd2_merge(spark, path,
               spark.createDataFrame([(1, "B", date(2024, 2, 1), 2)], schema),
               "k", ["seg"], "d", ["seq"], n_buckets=2)
    # compact the closed side to 1 file per bucket, then fragment the
    # OPEN side by duplicating a current part file
    res = maintain(spark, path, max_files_per_leaf=1)
    assert res["after"]["max_files_per_leaf"] <= 1
    import glob as _glob

    cur = _glob.glob(f"{path}/scd_current=1/scd_bucket=*/part-*.parquet")
    assert cur
    _shutil.copy(cur[0], cur[0].replace("part-", "part-copy-"))
    row = _report_row(spark, path)
    assert row["max_files_per_leaf"] <= 1  # lever sees CLOSED buckets only
    assert maintain(spark, path, max_files_per_leaf=1)["action"] == "none"


def test_detect_rejects_merge_time_rollup_tables(spark, tmp_path):
    """r13 review: merge_time_rollup tables share the rollup LAYOUT but
    have no __src_batch column (already-merged finals, no compactor) —
    detection must refuse with the module's own error, not crash with
    an unresolved-column AnalysisException in the report."""
    from datetime import datetime as _dt

    from eel_spark.operators.rollups import merge_time_rollup

    events = spark.createDataFrame(
        [(1, _dt(2024, 1, 1, 3), 2.0)],
        "user_id long, ts timestamp, value double",
    )
    path = str(tmp_path / "final_rollup")
    merge_time_rollup(
        spark, path, events, "ts",
        {"n": F.count(F.lit(1))}, {"n": F.sum("n")}, ["day"],
    )
    with pytest.raises(ValueError, match="merge_time_rollup"):
        detect_store_type(spark, path)
    with pytest.raises(ValueError, match="merge_time_rollup"):
        store_maintenance_report(spark, path)


# -- single-writer maintenance lease (r13 verdict #6) ------------------------


def test_store_lease_loser_raises_bm25_and_break(spark, tmp_path):
    """maintain-vs-append mutual exclusion is mechanical: with the
    store lease held (an active writer), both the appender and the
    compactor FAIL LOUDLY naming the holder; after release (or a
    break of a stranded lease) the winner proceeds."""
    from eel_spark.operators.maintenance import break_store_lease
    from eel_spark.operators.retrieval import (
        append_bm25_stats_batch,
        compact_bm25_stats,
    )

    from eel_spark.operators.maintenance import MAINT_LEASE_SUFFIX
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    path = str(tmp_path / "bm25")
    append_bm25_stats_batch(path, _docs(spark, 0, 5), "text", src_batch=0)
    # a FOREIGN holder (another process): plant its lease file directly —
    # same-thread acquire would be re-entrant by design
    assert ops.create_atomic(path + MAINT_LEASE_SUFFIX, content="holder_op\n")
    with pytest.raises(RuntimeError, match="holder_op"):
        append_bm25_stats_batch(path, _docs(spark, 5, 10), "text", src_batch=1)
    with pytest.raises(RuntimeError, match="active writer"):
        compact_bm25_stats(spark, path)
    with pytest.raises(RuntimeError, match="active writer"):
        maintain(spark, path, max_batches=0)
    ops.delete(path + MAINT_LEASE_SUFFIX)
    append_bm25_stats_batch(path, _docs(spark, 5, 10), "text", src_batch=1)
    # stranded lease (hard-killed holder): break, then proceed
    assert ops.create_atomic(path + MAINT_LEASE_SUFFIX, content="dead_process\n")
    assert break_store_lease(spark, path) is True
    compact_bm25_stats(spark, path)
    assert _report_row(spark, path)["n_batches"] == 0


def test_store_lease_loser_raises_ivf(spark, tmp_path):
    from eel_spark.operators.similarity import (
        append_ivf_batch,
        compact_ivf_index,
        init_ivf_index,
        train_centroids,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    from eel_spark.operators.maintenance import MAINT_LEASE_SUFFIX
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    path = str(tmp_path / "ivf")
    init_ivf_index(path, train_centroids(emb, n_cells=2, iterations=1))
    append_ivf_batch(path, emb, src_batch=0)
    assert ops.create_atomic(path + MAINT_LEASE_SUFFIX,
                             content="appender_elsewhere\n")
    with pytest.raises(RuntimeError, match="appender_elsewhere"):
        append_ivf_batch(path, emb, src_batch=1)
    with pytest.raises(RuntimeError, match="active writer"):
        compact_ivf_index(spark, path)
    ops.delete(path + MAINT_LEASE_SUFFIX)
    compact_ivf_index(spark, path)


def test_store_lease_loser_raises_rollup(spark, tmp_path):
    from eel_spark.operators.rollups import append_rollup_batch, compact_rollup

    events = spark.createDataFrame(
        [(i, datetime(2024, 1, 1, i % 24), float(i)) for i in range(10)],
        "user_id long, ts timestamp, value double",
    )
    aggs = {"n": F.count(F.lit(1))}
    merges = {"n": F.sum("n")}
    from eel_spark.operators.maintenance import MAINT_LEASE_SUFFIX
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    path = str(tmp_path / "roll")
    append_rollup_batch(spark, path, events, "ts", aggs, ["day"], src_batch=0)
    assert ops.create_atomic(path + MAINT_LEASE_SUFFIX,
                             content="concurrent_sink\n")
    with pytest.raises(RuntimeError, match="concurrent_sink"):
        append_rollup_batch(spark, path, events, "ts", aggs, ["day"],
                            src_batch=1)
    with pytest.raises(RuntimeError, match="active writer"):
        compact_rollup(spark, path, merges)
    ops.delete(path + MAINT_LEASE_SUFFIX)
    compact_rollup(spark, path, merges)


def test_store_lease_loser_raises_dedup_and_scd2(spark, tmp_path):
    """Dedup pair: with the lease held, the streaming append FAILS its
    batch (query error carries the lease message) and the compactor
    raises. SCD2 pair: the same store lease gates the merge and the
    compactor, and a stale in-root ``_scd_lease`` left by older code is
    ignored."""
    from eel_spark.streaming import (
        compact_dedup_history,
        incremental_near_dedup_sink,
    )

    schema = "doc_id long, text string"
    in_dir = tmp_path / "l_in"
    in_dir.mkdir()
    surv = str(tmp_path / "l_surv")
    spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(20))) for i in range(3)],
        schema,
    ).coalesce(1).write.parquet(str(in_dir / "w0"))
    from eel_spark.operators.maintenance import MAINT_LEASE_SUFFIX
    from eel_spark.sources.hdfs import HdfsOps as _Ops

    docs = spark.readStream.schema(schema).parquet(str(in_dir / "*"))
    assert _Ops(spark).create_atomic(surv + MAINT_LEASE_SUFFIX,
                                     content="foreign_appender\n")
    q = incremental_near_dedup_sink(
        docs, surv, str(tmp_path / "l_ck"), max_hamming=7, bands=8
    )
    with pytest.raises(Exception, match="foreign_appender"):
        q.awaitTermination(120)  # the append loses the lease race loudly
    with pytest.raises(RuntimeError, match="foreign_appender"):
        compact_dedup_history(spark, surv)
    _Ops(spark).delete(surv + MAINT_LEASE_SUFFIX)

    # scd2: the same store lease gates the merge and the compactor
    from eel_spark.operators.scd2 import compact_scd2_history, scd2_merge
    from eel_spark.sources.hdfs import HdfsOps

    dim = str(tmp_path / "dim")
    log = spark.createDataFrame(
        [(1, "A", date(2024, 1, 1), 1), (1, "B", date(2024, 2, 1), 2)],
        "k long, seg string, d date, seq long",
    )
    scd2_merge(spark, dim, log, "k", ["seg"], "d", ["seq"], n_buckets=2)
    assert HdfsOps(spark).create_atomic(dim + MAINT_LEASE_SUFFIX,
                                        content="foreign_merge\n")
    with pytest.raises(RuntimeError, match="foreign_merge"):
        compact_scd2_history(spark, dim)
    with pytest.raises(RuntimeError, match="foreign_merge"):
        scd2_merge(spark, dim, log, "k", ["seg"], "d", ["seq"], n_buckets=2)
    HdfsOps(spark).delete(dim + MAINT_LEASE_SUFFIX)
    # a stale in-root lease file from older code is not a lease
    assert HdfsOps(spark).create_atomic(f"{dim}/_scd_lease", content="x\n")
    compact_scd2_history(spark, dim)


# -- streaming auto-maintenance cadence (r13 verdict #5) ---------------------


def _wave_files(spark, tmp_path, name, waves, schema):
    """One single-file parquet DIR per wave (Spark-written — pyarrow's
    ns-timestamps don't read back as Spark timestamps); the file source
    paces on files via the glob in :func:`_stream`."""
    src = tmp_path / name
    src.mkdir()
    for i, rows in enumerate(waves):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"wave{i}")
        )
    return src


def _stream(spark, src, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )


def test_maintain_every_torn_attempt_guard(spark, tmp_path):
    """The replay-horizon check: a store whose max live batch id equals
    the current batch id (a torn prior attempt of THIS batch) must NOT
    compact — folding those rows would double-count them when the
    replay re-appends; one batch later the cadence point fires."""
    from eel_spark.operators.retrieval import append_bm25_stats_batch
    from eel_spark.streaming.streams import _maybe_maintain

    path = str(tmp_path / "bm25")
    for b in range(4):  # batches 0..3 present — 3 is the "torn attempt"
        append_bm25_stats_batch(path, _docs(spark, b * 5, b * 5 + 5),
                                "text", src_batch=b)
    _maybe_maintain(spark, path, batch_id=3, maintain_every=3)
    assert _report_row(spark, path)["n_batches"] == 4  # skipped: not safe
    _maybe_maintain(spark, path, batch_id=4, maintain_every=2)
    assert _report_row(spark, path)["n_batches"] == 0  # safe now: compacted
    # unmaterialized store: cadence is a silent no-op, not a crash
    _maybe_maintain(spark, str(tmp_path / "nothing_here"), 2, 2)


def test_maintain_every_skips_scd2_torn_merge(spark, tmp_path, monkeypatch):
    """SCD2's torn attempt is an inflight marker: the cadence must skip
    it (the history compactor refuses it, and would on every restart),
    the replayed merge repairs the store, and the next cadence point
    compacts."""
    from eel_spark.operators.scd2 import scd2_merge
    from eel_spark.sources.hdfs import HdfsOps
    from eel_spark.streaming.streams import _maybe_maintain

    schema = "k long, seg string, d date, seq long"
    path = str(tmp_path / "dim")

    def merge(rows):
        scd2_merge(spark, path, spark.createDataFrame(rows, schema),
                   "k", ["seg"], "d", ["seq"], n_buckets=2)

    for i, seg in enumerate("ABC"):
        merge([(1, seg, date(2024, 1 + i, 1), 2 * i),
               (2, seg, date(2024, 1 + i, 2), 2 * i + 1)])
    torn = [(1, "D", date(2024, 4, 1), 7)]
    real_mkdirs = HdfsOps.mkdirs

    def crash_before_applied(self, p):
        if "/_scd_applied/" in p:
            raise IOError("killed before the applied marker")
        return real_mkdirs(self, p)

    monkeypatch.setattr(HdfsOps, "mkdirs", crash_before_applied)
    with pytest.raises(IOError, match="applied marker"):
        merge(torn)
    monkeypatch.setattr(HdfsOps, "mkdirs", real_mkdirs)
    kw = {"max_files_per_leaf": 0}
    before = _report_row(spark, path)
    _maybe_maintain(spark, path, 4, 2, kw)  # skipped, not raised
    assert _report_row(spark, path) == before
    merge(torn)  # the replay repairs through the inflight marker
    _maybe_maintain(spark, path, 6, 2, kw)
    assert _report_row(spark, path)["max_files_per_leaf"] == 1
    got = sorted(
        (r["k"], r["seg"], int(r["scd_current"]))
        for r in spark.read.parquet(path).collect()
    )
    assert got == [(1, "A", 0), (1, "B", 0), (1, "C", 0), (1, "D", 1),
                   (2, "A", 0), (2, "B", 0), (2, "C", 1)]


def test_maintain_every_bm25_sink(spark, tmp_path):
    """A 6-wave stream with maintain_every=2 folds to the same stats as
    the unmaintained sink, with the store compacted under the cadence
    (live batches < waves, sentinel generation present)."""
    from eel_spark.operators.retrieval import read_bm25_stats
    from eel_spark.streaming import streaming_bm25_stats_sink

    schema = "doc_id long, text string"
    waves = [
        [(w * 10 + j, f"alpha beta{w} gamma{j} delta")
         for j in range(4)]
        for w in range(6)
    ]
    src = _wave_files(spark, tmp_path, "b_in", waves, schema)
    plain, kept = str(tmp_path / "b_plain"), str(tmp_path / "b_kept")
    streaming_bm25_stats_sink(
        _stream(spark, src, schema), plain, str(tmp_path / "b_ck1"), "text"
    ).awaitTermination(120)
    streaming_bm25_stats_sink(
        _stream(spark, src, schema), kept, str(tmp_path / "b_ck2"), "text",
        maintain_every=2,
    ).awaitTermination(120)
    terms = ["alpha", "beta2", "gamma3"]

    def stats(path):
        return {
            r["term"]: (r["df"], r["n_docs"], r["sum_dl"])
            for r in read_bm25_stats(spark, path, terms).collect()
        }

    assert stats(kept) == stats(plain)
    rk, rp = _report_row(spark, kept), _report_row(spark, plain)
    assert rp["n_batches"] == 6 and rp["has_compacted_generation"] is False
    assert rk["n_batches"] < 6 and rk["has_compacted_generation"] is True


def test_maintain_every_rollup_sink_and_merges_contract(spark, tmp_path):
    """Rollup cadence needs the caller's merge semantics: without
    maintain_kwargs={'merges': ...} the triggered maintain fails the
    batch loudly; with it, the maintained store reads identically."""
    from eel_spark.operators.rollups import read_rollup
    from eel_spark.streaming import streaming_rollup_sink

    schema = "user_id long, ts timestamp, value double"
    waves = [
        [(w * 10 + j, datetime(2024, 1, 1 + w % 3, j % 24), float(j))
         for j in range(5)]
        for w in range(4)
    ]
    src = _wave_files(spark, tmp_path, "r_in", waves, schema)
    aggs = {"n": F.count(F.lit(1)), "total": F.sum("value")}
    merges = {"n": F.sum("n"), "total": F.sum("total")}
    plain, kept = str(tmp_path / "r_plain"), str(tmp_path / "r_kept")
    streaming_rollup_sink(
        _stream(spark, src, schema), plain, str(tmp_path / "r_ck1"),
        "ts", aggs, ["day"],
    ).awaitTermination(120)
    q = streaming_rollup_sink(
        _stream(spark, src, schema), kept, str(tmp_path / "r_ck2"),
        "ts", aggs, ["day"], maintain_every=2,
        maintain_kwargs={"merges": merges},
    )
    q.awaitTermination(120)

    def snap(path):
        return sorted(
            (str(r["bucket_start"]), r["n"], round(r["total"], 6))
            for r in read_rollup(spark, path, merges).collect()
        )

    assert snap(kept) == snap(plain)
    assert _report_row(spark, kept)["n_batches"] < 4
    # no merges → the cadence point raises rather than guessing
    bad = str(tmp_path / "r_bad")
    qb = streaming_rollup_sink(
        _stream(spark, src, schema), bad, str(tmp_path / "r_ck3"),
        "ts", aggs, ["day"], maintain_every=2,
    )
    with pytest.raises(Exception, match="merges"):
        qb.awaitTermination(120)


def test_maintain_every_dedup_sink_with_post_compaction_wave(spark, tmp_path):
    """Dedup cadence: 4 waves with maintain_every=2 admit the same
    survivors as the unmaintained sink; a FIFTH wave arriving after the
    in-stream compaction (same checkpoint restart) still dedups against
    the compacted history — replay-after-compaction stays green."""
    from eel_spark.streaming import incremental_near_dedup_sink

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(25))

    schema = "doc_id long, text string"
    # wave w admits 2 fresh docs + 1 near-dup of a wave-0 survivor
    waves = [
        [(w * 10, doc(w * 10)), (w * 10 + 1, doc(w * 10 + 1)),
         (w * 10 + 2, doc(0))]
        for w in range(4)
    ]
    src = _wave_files(spark, tmp_path, "d_in", waves, schema)
    plain, kept = str(tmp_path / "d_plain"), str(tmp_path / "d_kept")
    incremental_near_dedup_sink(
        _stream(spark, src, schema), plain, str(tmp_path / "d_ck1"),
        max_hamming=7, bands=8,
    ).awaitTermination(180)
    incremental_near_dedup_sink(
        _stream(spark, src, schema), kept, str(tmp_path / "d_ck2"),
        max_hamming=7, bands=8, maintain_every=2,
    ).awaitTermination(180)

    def ids(path):
        return sorted(
            r["doc_id"] for r in spark.read.parquet(path).collect()
        )

    assert ids(kept) == ids(plain)
    assert _report_row(spark, kept)["n_batches"] < 4
    # post-compaction wave via the SAME checkpoint: one fresh doc + one
    # near-dup of the (now compacted) wave-0 survivor
    spark.createDataFrame(
        [(100, doc(100)), (101, doc(0))], schema
    ).coalesce(1).write.parquet(str(src / "wave9"))
    incremental_near_dedup_sink(
        _stream(spark, src, schema), kept, str(tmp_path / "d_ck2"),
        max_hamming=7, bands=8, maintain_every=2,
    ).awaitTermination(180)
    assert ids(kept) == sorted(set(ids(plain)) | {100})


def test_maintain_every_scd2_and_ivf_sinks(spark, tmp_path):
    """SCD2 cadence compacts closed buckets mid-stream without changing
    the table a batch rebuild produces; IVF cadence leaves queries
    bit-identical to the unmaintained index."""
    from datetime import date as _date

    from eel_spark.operators.scd2 import scd2_from_changes
    from eel_spark.streaming import streaming_scd2_sink

    schema = "k long, seg string, d date, seq long"
    waves = [
        [(1, "A", _date(2024, 1, 1), 1), (2, "X", _date(2024, 1, 2), 2)],
        [(1, "B", _date(2024, 2, 1), 3)],
        [(1, "C", _date(2024, 3, 1), 4), (2, "Y", _date(2024, 3, 2), 5)],
        [(1, "D", _date(2024, 4, 1), 6)],
    ]
    src = _wave_files(spark, tmp_path, "s_in", waves, schema)
    dim = str(tmp_path / "s_dim")
    streaming_scd2_sink(
        _stream(spark, src, schema), dim, str(tmp_path / "s_ck"),
        "k", ["seg"], "d", ["seq"], n_buckets=2,
        maintain_every=2, maintain_kwargs={"max_files_per_leaf": 1},
    ).awaitTermination(180)
    got = sorted(
        (r["k"], r["seg"], str(r["valid_from"]), int(r["scd_current"]))
        for r in spark.read.parquet(dim).drop("scd_bucket").collect()
    )
    all_rows = [r for w in waves for r in w]
    rebuilt = scd2_from_changes(
        spark.createDataFrame(all_rows, schema), "k", ["seg"], "d", ["seq"]
    )
    want = sorted(
        (r["k"], r["seg"], str(r["valid_from"]), int(r["is_current"]))
        for r in rebuilt.collect()
    )
    assert got == want

    # IVF: maintained vs unmaintained index answer identically
    from eel_spark.operators.similarity import (
        init_ivf_index,
        ivf_topk_against_index,
        train_centroids,
    )
    from eel_spark.streaming import streaming_ivf_sink

    vschema = "vec_id long, embedding array<double>"
    vwaves = [
        [(w * 10 + j, [float((w + j) % 3), float(j % 5), 1.0])
         for j in range(6)]
        for w in range(4)
    ]
    vsrc = _wave_files(spark, tmp_path, "v_in", vwaves, vschema)
    emb_all = spark.createDataFrame(
        [r for w in vwaves for r in w], vschema
    )
    cents = train_centroids(emb_all, n_cells=2, iterations=1)
    plain, kept = str(tmp_path / "v_plain"), str(tmp_path / "v_kept")
    init_ivf_index(plain, cents)
    init_ivf_index(kept, cents)
    streaming_ivf_sink(
        _stream(spark, vsrc, vschema), plain, str(tmp_path / "v_ck1")
    ).awaitTermination(180)
    streaming_ivf_sink(
        _stream(spark, vsrc, vschema), kept, str(tmp_path / "v_ck2"),
        maintain_every=2,
    ).awaitTermination(180)
    q = spark.createDataFrame(
        [(0, [0.0, 1.0, 1.0])], "query_id long, embedding array<double>"
    )

    def topk(path):
        return sorted(
            (r["query_id"], r["vec_id"], r["rank"])
            for r in ivf_topk_against_index(spark, path, q, k=5,
                                            n_probe=2).collect()
        )

    assert topk(kept) == topk(plain)
    assert _report_row(spark, kept)["n_batches"] < 4


def test_store_lease_self_adoption_and_reentrancy(spark, tmp_path):
    """r14 review #1/#2: a lease stranded by a hard-killed holder is
    ADOPTED when the acquirer presents the same batch token (checkpoint
    replay of the same batch — the sinks' self-healing path), refused
    otherwise; re-entrant acquisition within one thread returns a
    no-op handle so sink → maintain → compactor chains never
    self-deadlock."""
    from eel_spark.operators.maintenance import (
        MAINT_LEASE_SUFFIX,
        acquire_store_lease,
        release_store_lease,
    )
    from eel_spark.sources.hdfs import HdfsOps

    ops = HdfsOps(spark)
    path = str(tmp_path / "store")
    lease_file = path + MAINT_LEASE_SUFFIX
    # simulate a hard-killed batch-2 append: lease file left behind
    assert ops.create_atomic(lease_file, content="some_append [batch=2]\n")
    # a different batch (or a tokenless compactor) must NOT adopt
    with pytest.raises(RuntimeError, match="active writer"):
        acquire_store_lease(spark, path, "op", token="batch=3")
    with pytest.raises(RuntimeError, match="active writer"):
        acquire_store_lease(spark, path, "op")
    # the replay of batch 2 adopts and proceeds
    lease = acquire_store_lease(spark, path, "op", token="batch=2")
    assert lease == lease_file
    # re-entrant acquisition on the same thread: no-op handle
    inner = acquire_store_lease(spark, path, "inner_op")
    assert inner is None
    release_store_lease(spark, inner)  # no-op
    assert ops.exists(lease_file)  # still held by the outer acquisition
    release_store_lease(spark, lease)
    assert not ops.exists(lease_file)


def test_stranded_lease_self_heals_on_checkpoint_restart(spark, tmp_path):
    """End-to-end self-healing: a bm25 sink whose process died holding
    the lease mid-batch restarts from the SAME checkpoint and the
    replayed batch adopts the stale lease instead of wedging."""
    from eel_spark.operators.maintenance import MAINT_LEASE_SUFFIX
    from eel_spark.operators.retrieval import read_bm25_stats
    from eel_spark.sources.hdfs import HdfsOps
    from eel_spark.streaming import streaming_bm25_stats_sink

    schema = "doc_id long, text string"
    waves = [[(w * 10 + j, f"tok{w} common word{j}") for j in range(3)]
             for w in range(3)]
    src = _wave_files(spark, tmp_path, "h_in", waves, schema)
    store, ck = str(tmp_path / "h_store"), str(tmp_path / "h_ck")
    streaming_bm25_stats_sink(
        _stream(spark, src, schema), store, ck, "text"
    ).awaitTermination(120)
    # "crash" holding the lease during batch 3, then a new wave arrives
    HdfsOps(spark).create_atomic(
        store + MAINT_LEASE_SUFFIX,
        content="append_bm25_stats_batch [batch=3]\n",
    )
    spark.createDataFrame(
        [(100, "tok9 common fresh")], schema
    ).coalesce(1).write.parquet(str(src / "wave9"))
    streaming_bm25_stats_sink(
        _stream(spark, src, schema), store, ck, "text"
    ).awaitTermination(120)
    assert not HdfsOps(spark).exists(store + MAINT_LEASE_SUFFIX)
    got = {
        r["term"]: r["df"]
        for r in read_bm25_stats(spark, store, ["common", "fresh"]).collect()
    }
    assert got["common"] == 10 and got["fresh"] == 1
