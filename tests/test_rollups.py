"""time_rollup: multi-granularity continuous-aggregate shape — every
granularity must equal its standalone groupBy, from ONE scan + ONE
shuffle (Expand + single Aggregate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eel_spark.operators.rollups import time_rollup

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events(spark):
    from eel_spark.timeutils import normalize_ts

    return normalize_ts(spark.read.parquet(f"{SF}/events.parquet"))


def test_each_granularity_matches_standalone_groupby(events):
    out = time_rollup(
        events,
        "ts",
        {"n": F.count(F.lit(1)), "v": F.round(F.sum("value"), 2)},
        granularities=["hour", "day", "month"],
    )
    for g, unit in [("hour", "hour"), ("day", "day"), ("month", "month")]:
        want = sorted(
            (str(r["b"]), r["n"], r["v"])
            for r in events.groupBy(F.date_trunc(unit, "ts").alias("b"))
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
            .collect()
        )
        have = sorted(
            (str(r["bucket_start"]), r["n"], r["v"])
            for r in out.filter(F.col("granularity") == g).collect()
        )
        assert want == have, g


def test_extra_keys_dimension(events):
    out = time_rollup(
        events, "ts", {"n": F.count(F.lit(1))}, ["day"], extra_keys=["event_type"]
    )
    got = out.filter("event_type = 'click'").agg(F.sum("n")).first()[0]
    assert got == events.filter("event_type = 'click'").count()


def test_single_expand_single_aggregate(events):
    """The scale property: N granularities must NOT mean N shuffles —
    one Expand feeding one (partial+final) aggregate."""
    out = time_rollup(
        events, "ts", {"n": F.count(F.lit(1))}, ["minute", "hour", "day", "month"]
    )
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("Expand") == 1
    assert logical.count("Aggregate") == 1


def test_unknown_granularity_rejected(events):
    with pytest.raises(ValueError, match="unknown granularities"):
        time_rollup(events, "ts", {"n": F.count(F.lit(1))}, ["fortnight"])


def test_merge_time_rollup_incremental_equals_full(spark, events, tmp_path):
    """Two incremental merges (history, then a late batch) must equal the
    one-shot rollup of all data, and the merge must only rewrite the
    partitions the late batch touches."""
    import glob as _glob

    from eel_spark.operators.rollups import merge_time_rollup, time_rollup

    path = str(tmp_path / "rollup")
    aggs = {"n": F.count(F.lit(1)), "v_cents": F.sum(F.round(F.col("value") * 100).cast("long"))}
    merges = {"n": F.sum("n"), "v_cents": F.sum("v_cents")}

    split = F.col("user_id") % 5 == 0
    first, late = events.filter(~split), events.filter(split)

    merge_time_rollup(spark, path, first, "ts", aggs, merges, ["day", "month"])
    files_before = set(_glob.glob(f"{path}/granularity=*/bucket_date=*/*.parquet"))
    merge_time_rollup(spark, path, late, "ts", aggs, merges, ["day", "month"])

    got = sorted(
        (r["granularity"], str(r["bucket_start"]), r["n"], r["v_cents"])
        for r in spark.read.parquet(path).collect()
    )
    want = sorted(
        (r["granularity"], str(r["bucket_start"]), r["n"], r["v_cents"])
        for r in time_rollup(events, "ts", aggs, ["day", "month"]).collect()
    )
    assert got == want and len(got) > 0

    # untouched partitions keep their original files (dynamic overwrite
    # rewrote only what the late batch touched)
    late_dates = {
        (r["granularity"], str(r["bucket_date"]))
        for r in time_rollup(late, "ts", aggs, ["day", "month"])
        .withColumn("bucket_date", F.to_date("bucket_start"))
        .select("granularity", "bucket_date").distinct().collect()
    }
    untouched_survivors = [
        f for f in files_before
        if (f.split("granularity=")[1].split("/")[0],
            f.split("bucket_date=")[1].split("/")[0]) not in late_dates
    ]
    assert all(__import__("os").path.exists(f) for f in untouched_survivors)


def test_merge_time_rollup_null_timestamp_bucket(spark, events, tmp_path):
    """NULL-timestamp rows roll up into a NULL bucket; the incremental
    merge must (a) not crash building the touched-partition predicate
    (a naive struct(lit(None)) literal is VOID-typed and fails analysis)
    and (b) read the NULL-bucket partition's history back before the
    dynamic overwrite — otherwise the second batch's overwrite silently
    drops the first batch's NULL-bucket counts."""
    from eel_spark.operators.rollups import merge_time_rollup, time_rollup

    # every batch carries some NULL-ts rows (the poison-pill shape the
    # streaming sink replays)
    nulled = events.withColumn(
        "ts", F.when(F.col("user_id") % 7 == 0, F.lit(None)).otherwise(F.col("ts"))
    )
    path = str(tmp_path / "rollup_null")
    aggs = {"n": F.count(F.lit(1))}
    merges = {"n": F.sum("n")}

    split = F.col("user_id") % 2 == 0
    merge_time_rollup(spark, path, nulled.filter(~split), "ts", aggs, merges, ["day"])
    merge_time_rollup(spark, path, nulled.filter(split), "ts", aggs, merges, ["day"])

    got = sorted(
        (str(r["bucket_start"]), r["n"])
        for r in spark.read.parquet(path).collect()
    )
    want = sorted(
        (str(r["bucket_start"]), r["n"])
        for r in time_rollup(nulled, "ts", aggs, ["day"]).collect()
    )
    assert got == want
    # the NULL bucket is really present and merged across both batches
    null_n = (
        spark.read.parquet(path).filter(F.col("bucket_start").isNull()).first()["n"]
    )
    assert null_n == nulled.filter(F.col("ts").isNull()).count() > 0


def test_append_rollup_batch_null_timestamp_bucket(spark, events, tmp_path):
    """Same NULL-bucket hazard through the streaming-sink path:
    append_rollup_batch replays must stay idempotent with NULL-ts rows
    in every batch."""
    from eel_spark.operators.rollups import (
        append_rollup_batch,
        read_rollup,
        time_rollup,
    )

    nulled = events.withColumn(
        "ts", F.when(F.col("user_id") % 7 == 0, F.lit(None)).otherwise(F.col("ts"))
    )
    aggs = {"n": F.count(F.lit(1))}
    merges = {"n": F.sum("n")}
    path = str(tmp_path / "bp_null")
    b1 = nulled.filter(F.col("user_id") % 2 == 0)
    b2 = nulled.filter(F.col("user_id") % 2 == 1)

    append_rollup_batch(spark, path, b1, "ts", aggs, ["day"], src_batch=0)
    append_rollup_batch(spark, path, b2, "ts", aggs, ["day"], src_batch=1)
    # checkpoint replay of batch 1 — must not crash, must not double-count
    append_rollup_batch(spark, path, b2, "ts", aggs, ["day"], src_batch=1)

    got = sorted(
        (str(r["bucket_start"]), r["n"])
        for r in read_rollup(spark, path, merges).collect()
    )
    want = sorted(
        (str(r["bucket_start"]), r["n"])
        for r in time_rollup(nulled, "ts", aggs, ["day"]).collect()
    )
    assert got == want


def test_distinct_sketch_rollup_incremental(spark, events, tmp_path):
    """Mergeable HLL sketches let the continuous aggregate maintain
    distinct counts incrementally — countDistinct itself is not
    algebraic. Estimates must (a) be near-exact at these cardinalities
    vs a true countDistinct, and (b) be IDENTICAL between the
    incremental two-batch merge and the one-shot rollup (HLL union is a
    register-wise max: union-of-sketches ≡ sketch-of-union)."""
    from eel_spark.operators.rollups import (
        distinct_rollup_aggs,
        merge_time_rollup,
        time_rollup,
        with_distinct_estimates,
    )

    aggs, merges = distinct_rollup_aggs(["user_id"])
    aggs["n"] = F.count(F.lit(1))
    merges["n"] = F.sum("n")

    # one-shot: estimate vs exact per day bucket
    rolled = with_distinct_estimates(
        time_rollup(events, "ts", aggs, ["day"]), ["user_id"]
    )
    exact = events.groupBy(F.date_trunc("day", "ts").alias("b")).agg(
        F.countDistinct("user_id").alias("d")
    )
    joined = rolled.join(exact, rolled.bucket_start == exact.b).collect()
    assert joined
    for r in joined:
        assert abs(r["user_id_distinct"] - r["d"]) <= max(2, 0.05 * r["d"]), r

    # incremental: two merges == one-shot, estimate-for-estimate
    path = str(tmp_path / "sketch_rollup")
    split = F.col("user_id") % 3 == 0
    merge_time_rollup(spark, path, events.filter(~split), "ts", aggs, merges, ["day"])
    merge_time_rollup(spark, path, events.filter(split), "ts", aggs, merges, ["day"])
    got = sorted(
        (str(r["bucket_start"]), r["user_id_distinct"], r["n"])
        for r in with_distinct_estimates(
            spark.read.parquet(path), ["user_id"]
        ).collect()
    )
    want = sorted(
        (str(r["bucket_start"]), r["user_id_distinct"], r["n"])
        for r in with_distinct_estimates(
            time_rollup(events, "ts", aggs, ["day"]), ["user_id"]
        ).collect()
    )
    assert got == want and len(got) > 0


def test_quantile_histogram_rollup_incremental(spark, events, tmp_path):
    """DDSketch-style log-bucketed histograms let the continuous
    aggregate maintain quantiles incrementally — percentile partials
    are not re-mergeable. (a) estimates within the alpha relative
    guarantee vs exact per-bucket percentiles, (b) the incremental
    two-batch merge is bucket-count IDENTICAL to the one-shot rollup
    (element-wise add: union-of-histograms ≡ histogram-of-union)."""
    from eel_spark.operators.rollups import (
        merge_time_rollup,
        quantile_from_histogram,
        quantile_rollup_aggs,
        time_rollup,
        with_quantile_estimates,
    )

    ALPHA, MINV, NB = 0.05, 1e-3, 128
    aggs, merges = quantile_rollup_aggs(["value"], ALPHA, MINV, NB)
    aggs["n"] = F.count(F.lit(1))
    merges["n"] = F.sum("n")

    rolled = time_rollup(events, "ts", aggs, ["day"])
    est = with_quantile_estimates(rolled, ["value"], (0.5, 0.95), ALPHA, MINV)
    # the DDSketch guarantee is RELATIVE error alpha vs the discrete
    # rank-ceil(q*n) order statistic — compute that oracle exactly
    import math

    by_day = {}
    for r in events.select(
        F.date_trunc("day", "ts").alias("b"), "value"
    ).collect():
        by_day.setdefault(str(r["b"]), []).append(r["value"])
    rows = est.collect()
    assert rows
    for r in rows:
        vals = sorted(by_day[str(r["bucket_start"])])
        for q, got in ((0.5, r["value_p50"]), (0.95, r["value_p95"])):
            want = vals[max(1, math.ceil(q * len(vals))) - 1]
            if want < MINV:
                assert got == 0.0
            else:
                assert abs(got - want) <= ALPHA * want + 1e-9, (r, want)

    path = str(tmp_path / "qhist_rollup")
    split = F.col("user_id") % 3 == 0
    merge_time_rollup(spark, path, events.filter(~split), "ts", aggs, merges, ["day"])
    merge_time_rollup(spark, path, events.filter(split), "ts", aggs, merges, ["day"])
    got = sorted(
        (str(r["bucket_start"]), tuple(r["value_qhist"]), r["n"])
        for r in spark.read.parquet(path).collect()
    )
    want = sorted(
        (str(r["bucket_start"]), tuple(r["value_qhist"]), r["n"])
        for r in time_rollup(events, "ts", aggs, ["day"]).collect()
    )
    assert got == want and len(got) > 0


def test_quantile_histogram_edges(spark):
    """Zero/negative/NULL → bucket 0 (reported 0.0); empty histogram →
    NULL quantile; overflow clamps to the top bucket (count preserved)."""
    from eel_spark.operators.rollups import (
        ddsketch_bucket,
        quantile_from_histogram,
        quantile_rollup_aggs,
    )

    df = spark.createDataFrame(
        [(0.0,), (-5.0,), (None,), (1e30,), (1.0,)], "v DOUBLE"
    )
    # alpha=0.5 -> gamma=3: 16 buckets cover [1e-3, 1e-3*3^14 ~ 4.8e3]
    b = df.select(ddsketch_bucket("v", 0.5, 1e-3, 16).alias("b")).collect()
    bs = [r["b"] for r in b]
    assert bs[0] == 0 and bs[1] == 0 and bs[2] == 0   # zero/neg/NULL
    assert bs[3] == 15                                 # overflow clamps
    assert 0 < bs[4] < 15

    aggs, _ = quantile_rollup_aggs(["v"], 0.5, 1e-3, 16)
    hist = df.agg(aggs["v_qhist"].alias("h"))
    total = hist.select(
        F.aggregate("h", F.lit(0).cast("long"), lambda a, x: a + x).alias("t")
    ).collect()[0]["t"]
    assert total == 5  # every row lands in exactly one bucket

    empty = spark.createDataFrame([], "v DOUBLE").agg(aggs["v_qhist"].alias("h"))
    q = empty.select(
        quantile_from_histogram("h", 0.5, 0.05, 1e-3).alias("q")
    ).collect()
    # no rows -> agg over empty input yields one row of NULL-sum arrays;
    # accept either NULL quantile or no row at all
    assert not q or q[0]["q"] is None


def test_quantile_bucket_from_histogram_matches_exact(spark, events):
    """The bucket-index readback (the cross-engine comparable form) must
    equal ddsketch_bucket of the exact nearest-rank quantile — bucket
    index is monotone in value, so the sketch's cumulative fold lands in
    precisely the true order statistic's bucket. Verified per day bucket
    against a python-exact oracle."""
    import math

    from eel_spark.operators.rollups import (
        quantile_bucket_from_histogram,
        quantile_rollup_aggs,
        time_rollup,
    )

    alpha, minv, nb = 0.05, 0.01, 128
    aggs, _ = quantile_rollup_aggs(["value"], alpha, minv, nb)
    rolled = time_rollup(events, "ts", aggs, ["day"])
    got = {
        str(r["bucket_start"]): (r["p50"], r["p95"])
        for r in rolled.select(
            "bucket_start",
            quantile_bucket_from_histogram("value_qhist", 0.5).alias("p50"),
            quantile_bucket_from_histogram("value_qhist", 0.95).alias("p95"),
        ).collect()
    }

    gamma = (1 + alpha) / (1 - alpha)
    lg = math.log(gamma)

    def bucket(v):
        if v is None or v < minv:
            return 0
        return min(max(math.ceil(math.log(v / minv) / lg) + 1, 1), nb - 1)

    by_day = {}
    for r in events.select(
        F.date_trunc("day", "ts").alias("d"), "value"
    ).collect():
        by_day.setdefault(str(r["d"]), []).append(r["value"])
    for d, vals in by_day.items():
        vals.sort(key=lambda v: (v is not None, v))
        for q, slot in ((0.5, 0), (0.95, 1)):
            rank = max(math.ceil(q * len(vals)), 1)
            assert got[d][slot] == bucket(vals[rank - 1]), (d, q)


def test_batch_partial_rollup_idempotent(spark, events, tmp_path):
    """append_rollup_batch: exactly-once by construction — replaying a
    batch evicts its own previous partials; read_rollup re-merges to
    the one-shot answer; compact_rollup collapses without changing it."""
    from eel_spark.operators.rollups import (
        append_rollup_batch,
        compact_rollup,
        read_rollup,
        time_rollup,
    )

    aggs = {"n": F.count(F.lit(1)), "total": F.sum("value")}
    merges = {"n": F.sum("n"), "total": F.sum("total")}
    path = str(tmp_path / "bp")
    b1 = events.filter(F.col("user_id") % 2 == 0)
    b2 = events.filter(F.col("user_id") % 2 == 1)

    append_rollup_batch(spark, path, b1, "ts", aggs, ["day"], src_batch=0)
    append_rollup_batch(spark, path, b2, "ts", aggs, ["day"], src_batch=1)

    def snapshot():
        return sorted(
            (str(r["bucket_start"]), r["n"], round(r["total"], 6))
            for r in read_rollup(spark, path, merges).collect()
        )

    want = sorted(
        (str(r["bucket_start"]), r["n"], round(r["total"], 6))
        for r in time_rollup(events, "ts", aggs, ["day"]).collect()
    )
    assert snapshot() == want

    # replay batch 1 (same src_batch): store result identical
    append_rollup_batch(spark, path, b2, "ts", aggs, ["day"], src_batch=1)
    assert snapshot() == want

    # compaction: same answer, one row per bucket
    compact_rollup(spark, path, merges)
    assert snapshot() == want
    raw = spark.read.parquet(path)
    assert raw.count() == raw.select("bucket_start").distinct().count()
    assert set(r["__src_batch"] for r in raw.select("__src_batch").distinct().collect()) == {-1}


def test_rollup_append_rejects_reserved_negative_batch(spark, events, tmp_path):
    """src_batch = -1 is compact_rollup's sentinel: an append under it
    would evict the compacted rows of every partition it touches and
    put back only its own, so any negative id must fail loudly and
    leave the store as it was."""
    from eel_spark.operators.rollups import (
        append_rollup_batch,
        compact_rollup,
        read_rollup,
    )

    aggs = {"n": F.count(F.lit(1))}
    merges = {"n": F.sum("n")}
    path = str(tmp_path / "neg")
    append_rollup_batch(spark, path, events, "ts", aggs, ["day"], src_batch=0)
    compact_rollup(spark, path, merges)

    def snapshot():
        return sorted(
            (str(r["bucket_start"]), r["n"])
            for r in read_rollup(spark, path, merges).collect()
        )

    before = snapshot()
    for bad in (-1, -7):
        with pytest.raises(ValueError, match="non-negative"):
            append_rollup_batch(
                spark, path, events.limit(5), "ts", aggs, ["day"],
                src_batch=bad,
            )
    assert snapshot() == before


def test_rollup_store_survives_empty_first_batch(spark, events, tmp_path):
    """A 0-row first batch leaves a store dir with no parquet files;
    the next append must read it as "no history", not fail schema
    inference on every later batch."""
    from eel_spark.operators.rollups import append_rollup_batch, read_rollup

    aggs = {"n": F.count(F.lit(1)), "total": F.sum("value")}
    merges = {"n": F.sum("n"), "total": F.sum("total")}
    path = str(tmp_path / "empty_first")
    append_rollup_batch(
        spark, path, events.limit(0), "ts", aggs, ["day"], src_batch=0
    )
    append_rollup_batch(spark, path, events, "ts", aggs, ["day"], src_batch=1)
    got = sorted(
        (str(r["bucket_start"]), r["n"], round(r["total"], 6))
        for r in read_rollup(spark, path, merges).collect()
    )
    want = sorted(
        (str(r["bucket_start"]), r["n"], round(r["total"], 6))
        for r in time_rollup(events, "ts", aggs, ["day"]).collect()
    )
    assert got == want


def test_fill_time_gaps_modes(spark):
    from datetime import datetime

    from eel_spark.operators.rollups import fill_time_gaps

    t = lambda h: datetime(2024, 1, 1, h)
    rows = [
        ("a", t(0), 10.0, 1), ("a", t(2), 30.0, 3),   # gap at 01:00
        ("b", t(1), 5.0, 7),                            # single point
    ]
    df = spark.createDataFrame(rows, "k STRING, bucket TIMESTAMP, v DOUBLE, n LONG")
    out = fill_time_gaps(
        df, "bucket", "1 hour", keys=["k"],
        fill={"v": "locf", "n": "zero"},
    )
    got = {(r["k"], r["bucket"].hour): (r["v"], r["n"]) for r in out.collect()}
    assert got[("a", 0)] == (10.0, 1)
    assert got[("a", 1)] == (10.0, 0)   # v carried forward, n zeroed
    assert got[("a", 2)] == (30.0, 3)
    assert got[("b", 1)] == (5.0, 7)
    assert len(got) == 4                 # b gets no extra buckets


def test_fill_time_gaps_explicit_range_and_null_fill(spark):
    from datetime import datetime

    from eel_spark.operators.rollups import fill_time_gaps

    df = spark.createDataFrame(
        [("a", datetime(2024, 1, 1, 1), 1.0)], "k STRING, bucket TIMESTAMP, v DOUBLE"
    )
    out = fill_time_gaps(
        df, "bucket", "1 hour", keys=["k"],
        start=datetime(2024, 1, 1, 0), end=datetime(2024, 1, 1, 3),
    )
    got = {r["bucket"].hour: r["v"] for r in out.collect()}
    assert got == {0: None, 1: 1.0, 2: None, 3: None}

    import pytest as _p

    with _p.raises(ValueError, match="unknown fill modes"):
        fill_time_gaps(df, "bucket", "1 hour", fill={"v": "interpolate"})


def test_fill_time_gaps_misaligned_and_out_of_range_bounds(spark):
    """Explicit bounds off the group's bucket grid must never orphan
    observed rows (spine stays phase-anchored on the group's first
    bucket), and a group entirely outside [start, end] clips to zero
    rows instead of crashing."""
    from datetime import datetime

    from eel_spark.operators.rollups import fill_time_gaps

    t = lambda h, mi=0: datetime(2024, 1, 1, h, mi)
    df = spark.createDataFrame(
        [("a", t(0), 1.0), ("a", t(1), 2.0), ("a", t(5), 3.0), ("b", t(1), 9.0)],
        "k STRING, bucket TIMESTAMP, v DOUBLE",
    )
    # bounds at :30 — off the hourly grid; data must still be matched
    out = fill_time_gaps(
        df, "bucket", "1 hour", keys=["k"],
        start=t(0, 30), end=t(5, 30),
    ).filter("k = 'a'")
    got = {r["bucket"].strftime("%H:%M"): r["v"] for r in out.collect()}
    assert got == {"01:00": 2.0, "02:00": None, "03:00": None,
                   "04:00": None, "05:00": 3.0}

    # start after a group's entire series: that group clips, no crash
    late = fill_time_gaps(
        df, "bucket", "1 hour", keys=["k"], start=t(3),
    )
    assert late.filter("k = 'b'").count() == 0
    assert sorted(r["bucket"].hour for r in late.filter("k = 'a'").collect()) == [3, 4, 5]

    # backward extension reaches earlier grid points
    early = fill_time_gaps(df, "bucket", "1 hour", keys=["k"], start=t(0)) \
        .filter("k = 'b'")
    assert sorted(r["bucket"].hour for r in early.collect()) == [0, 1]


def test_fill_time_gaps_bad_fill_column(spark):
    from datetime import datetime

    from eel_spark.operators.rollups import fill_time_gaps

    df = spark.createDataFrame(
        [("a", datetime(2024, 1, 1), 1.0)], "k STRING, bucket TIMESTAMP, v DOUBLE"
    )
    import pytest as _p

    with _p.raises(ValueError, match="fill refers to"):
        fill_time_gaps(df, "bucket", "1 hour", keys=["k"], fill={"vv": "zero"})
    with _p.raises(ValueError, match="fill refers to"):
        fill_time_gaps(df, "bucket", "1 hour", keys=["k"], fill={"bucket": "zero"})


def test_fill_time_gaps_zero_requires_numeric(spark):
    """'zero' on a string/timestamp column would coerce to '0' /
    1970-01-01 — silent nonsense in gap rows; rejected at entry."""
    from datetime import datetime

    from eel_spark.operators.rollups import fill_time_gaps

    df = spark.createDataFrame(
        [("a", datetime(2024, 1, 1), 1.0, "lbl", datetime(2024, 1, 1))],
        "k STRING, bucket TIMESTAMP, v DOUBLE, s STRING, t TIMESTAMP",
    )
    for col in ("s", "t"):
        with pytest.raises(ValueError, match="requires numeric"):
            fill_time_gaps(df, "bucket", "1 hour", keys=["k"], fill={col: "zero"})
    # numeric 'zero' and non-numeric 'locf'/'null' still accepted
    out = fill_time_gaps(
        df, "bucket", "1 hour", keys=["k"], fill={"v": "zero", "s": "locf"}
    )
    assert out.count() == 1
