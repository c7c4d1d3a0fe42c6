"""Tracked-persist hygiene: gated queries pin multiply-read
intermediates; building the next registry query must release the
previous build's pins, so N in-session runs hold O(1) executor storage
and an explicit release returns the session to its pre-run cache size.
"""

from __future__ import annotations

from eel_spark.caching import release_pins
from eel_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _n_cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _cache_manager_empty(spark) -> bool:
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


def test_gated_lsh_query_runs_hold_o1_storage(spark):
    release_pins()
    spark.catalog.clearCache()
    base = _n_cached_rdds(spark)
    sizes = []
    # dedup_minhash_pairs pins its shingle/signature tables (band join +
    # rejoin branches inside minhash_near_duplicates); the simhash slot
    # no longer pins since it moved to deterministic oracle fingerprints
    for _ in range(2):
        QUERIES["dedup_minhash_pairs"](spark, SF).collect()
        sizes.append(_n_cached_rdds(spark))
    # run 2 must not stack its pins on top of run 1's
    assert sizes[1] <= sizes[0], sizes
    assert sizes[0] > base, "query was expected to pin at least one table"
    released = release_pins()
    assert released >= 1
    assert _n_cached_rdds(spark) == base, "pins survived release_pins()"
    assert _cache_manager_empty(spark)


def test_minhash_operator_pins_release(spark):
    """The operator-level shingle/signature pins (not just the query-level
    gate pin) are tracked too."""
    release_pins()
    spark.catalog.clearCache()
    base = _n_cached_rdds(spark)
    QUERIES["dedup_minhash_pairs"](spark, SF).collect()
    assert _n_cached_rdds(spark) > base
    release_pins()
    assert _n_cached_rdds(spark) == base
    assert _cache_manager_empty(spark)


def test_stage_truncates_lineage_and_bounds_plan_growth(spark, tmp_path):
    """stage() is the library form of the r12 corpus-prep lesson: a
    pipeline stacking many operator families grows its logical plan
    geometrically (self-referencing unions/joins render the upstream
    subtree once per reference) until plan STRINGS, not data, OOM the
    driver. A write/re-read boundary resets the plan to a flat scan —
    interleaving growth with stage() must keep plan size bounded."""
    from pyspark.sql import functions as F

    from eel_spark.caching import STAGE_DIR_CONF, release_stages, stage

    spark.conf.set(STAGE_DIR_CONF, str(tmp_path / "stages"))
    try:
        df = spark.range(200).withColumn("v", F.col("id") % 7)
        # plan-doubling growth with constant data: each round references
        # the current plan twice (the filtered branch matches no rows
        # but Catalyst cannot prove it empty)
        for _ in range(4):
            df = df.unionByName(df.filter(F.col("id") < 0))
        plan_len_grown = len(
            df._jdf.queryExecution().optimizedPlan().toString()
        )
        staged = stage(df)
        assert staged.count() == 200
        assert sorted(r["v"] for r in staged.where("id < 3").collect()) == [
            0, 1, 2,
        ]
        plan_len_staged = len(
            staged._jdf.queryExecution().optimizedPlan().toString()
        )
        assert plan_len_staged < plan_len_grown / 4, (
            plan_len_staged, plan_len_grown,
        )
        # bounded across N stacked families: grow, stage, repeat — the
        # post-boundary plan length must stay flat, not compound
        lengths = []
        cur = staged
        for _ in range(3):
            for _ in range(4):
                cur = cur.unionByName(cur.filter(F.col("id") < 0))
            cur = stage(cur)
            lengths.append(
                len(cur._jdf.queryExecution().optimizedPlan().toString())
            )
        assert cur.count() == 200
        assert max(lengths) <= min(lengths) + 200, lengths
    finally:
        release_stages()
        spark.conf.unset(STAGE_DIR_CONF)


def test_stage_reap_policy_and_tracking(spark, tmp_path):
    """Boundaries are tracked like pins: stages_mark/release_stages_since
    reap exactly the files a bounded piece of work staged; track=False
    opts out (process-lifetime memos); explicit paths are honored."""
    import os

    from eel_spark.caching import (
        STAGE_DIR_CONF,
        release_stages,
        release_stages_since,
        stage,
        stages_mark,
    )

    root = tmp_path / "stages2"
    spark.conf.set(STAGE_DIR_CONF, str(root))
    try:
        df = spark.range(10)
        before = stages_mark()
        a = stage(df)
        mark = stages_mark()
        assert mark == before + 1
        b = stage(df)
        untracked = stage(df, str(tmp_path / "keepme"), track=False)
        assert stages_mark() == mark + 1  # track=False not recorded
        dirs = sorted(os.listdir(root))
        assert len(dirs) == 2
        a.count(), b.count(), untracked.count()
        # reap only what came after the mark
        assert release_stages_since(mark) == 1
        assert len(os.listdir(root)) == 1
        assert a.count() == 10  # earlier boundary still readable
        assert release_stages() == 1
        assert os.listdir(root) == []
        assert untracked.count() == 10  # opted-out boundary survives
        assert os.path.isdir(tmp_path / "keepme")
    finally:
        release_stages()
        spark.conf.unset(STAGE_DIR_CONF)


def test_stage_root_release_and_allocate_path(spark, tmp_path):
    """r13 advice pair: (a) release_stage_root deletes ONLY a root this
    process auto-allocated — a user-preset stage.dir (shared durable
    storage) is never rmtree'd; (b) allocate_stage_path lands memoized
    boundaries under the session root, not a driver-local tempdir."""
    import os

    from eel_spark.caching import (
        STAGE_DIR_CONF,
        allocate_stage_path,
        release_stage_root,
        release_stages,
        stage,
    )

    # (b) explicit root: allocated paths live under it
    root = tmp_path / "preset_root"
    spark.conf.set(STAGE_DIR_CONF, str(root))
    try:
        p = allocate_stage_path(spark, "lm_vocab")
        assert p.startswith(str(root)) and "lm_vocab" in p
        memo = stage(spark.range(5), p, track=False)
        assert memo.count() == 5
        # (a) preset root: release refuses (not auto-allocated)
        assert release_stage_root(spark) is False
        assert os.path.isdir(root)
    finally:
        release_stages()
        spark.conf.unset(STAGE_DIR_CONF)

    # auto-allocated root: release removes it AND unsets the conf, so
    # the next stage() allocates a fresh TRACKED root (r14 review: a
    # dangling conf made later boundaries land under an unreleasable
    # recreated root)
    df = stage(spark.range(3))
    auto_root = spark.conf.get(STAGE_DIR_CONF)
    assert df.count() == 3 and os.path.isdir(auto_root)
    release_stages()
    assert release_stage_root(spark) is True
    assert not os.path.exists(auto_root)
    assert spark.conf.get(STAGE_DIR_CONF, None) is None
    df2 = stage(spark.range(2))
    root2 = spark.conf.get(STAGE_DIR_CONF)
    assert root2 != auto_root and df2.count() == 2
    release_stages()
    assert release_stage_root(spark) is True  # fresh root is tracked too
    assert spark.conf.get(STAGE_DIR_CONF, None) is None


def test_release_stages_warns_on_failed_delete(spark, tmp_path, monkeypatch, caplog):
    """A failed boundary delete is a logged warning naming the path
    (stranded bytes need a signal), and the reap goes on to the next
    boundary."""
    import logging
    import os

    from eel_spark.caching import (
        STAGE_DIR_CONF,
        release_stages,
        stage,
        stages_mark,
    )
    from eel_spark.sources.hdfs import HdfsOps

    root = tmp_path / "warn_root"
    spark.conf.set(STAGE_DIR_CONF, str(root))
    try:
        mark = stages_mark()
        stage(spark.range(4)).count()
        stage(spark.range(4)).count()
        # names carry a zero-padded stage counter, so name order is
        # staging order
        older, newer = sorted(e.path for e in os.scandir(root))
        real_delete = HdfsOps.delete

        def failing_delete(self, path, recursive=False):
            if path == newer:
                raise OSError("injected delete failure")
            return real_delete(self, path, recursive)

        monkeypatch.setattr(HdfsOps, "delete", failing_delete)
        with caplog.at_level(logging.WARNING, logger="eel_spark.caching"):
            n = release_stages()
        # the newer boundary is popped first; its failure does not stop
        # the reap of the older one
        assert n == 1
        assert not os.path.exists(older)
        assert os.path.exists(newer)
        assert [r.levelno for r in caplog.records] == [logging.WARNING]
        assert newer in caplog.records[0].getMessage()
        assert stages_mark() == mark  # popped either way: no retry storm
    finally:
        release_stages()
        spark.conf.unset(STAGE_DIR_CONF)
