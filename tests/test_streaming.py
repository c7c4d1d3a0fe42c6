"""Structured Streaming: micro-batch window aggs, rolling sink, stateful
sessionization — driven end-to-end with availableNow triggers over the
static events table replayed as a file stream."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from eel_spark.timeutils import normalize_ts

from eel_spark.streaming import (
    EventStream,
    foreach_batch_sink,
    rolling_parquet_stream_sink,
    session_window_agg,
    sessionize_stateful,
    stream_stream_interval_join,
    streaming_dedup,
    tumbling_window_agg,
)

SF = "/root/testdata/sf0.001"


def _run_available_now(df, tmp_path, name, output_mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_window_stream(spark, tmp_path):
    events = EventStream(spark, SF + "/events.parquet").stream()
    agg = tumbling_window_agg(events, window="1 hour", watermark="0 seconds")
    # complete mode: in append mode the final window is (correctly) withheld
    # because the watermark never passes its end; complete emits everything,
    # so the batch cross-check below can demand exact equality.
    _run_available_now(agg, tmp_path, "tumbling", output_mode="complete")
    got = spark.sql("SELECT * FROM tumbling").collect()
    assert len(got) > 0
    # cross-check against the batch twin
    batch = (
        normalize_ts(spark.read.parquet(f"{SF}/events.parquet"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    batch_n = {(r["w"]["start"], r["event_type"]): r["n"] for r in batch.collect()}
    stream_n = {(r["window_start"], r["event_type"]): r["n"] for r in got}
    assert stream_n == batch_n


def test_session_window_stream(spark, tmp_path):
    events = EventStream(spark, SF + "/events.parquet").stream()
    agg = session_window_agg(events, gap="30 minutes", watermark="0 seconds")
    # complete mode: append would (correctly) withhold sessions the
    # watermark hasn't closed yet, so totals wouldn't match the batch twin.
    _run_available_now(agg, tmp_path, "sessions", output_mode="complete")
    got = spark.sql("SELECT * FROM sessions").collect()
    assert len(got) > 0
    assert all(r["session_end"] > r["session_start"] for r in got)
    # session counts per user must sum to the user's event count
    totals = {}
    for r in got:
        totals[r["user_id"]] = totals.get(r["user_id"], 0) + r["n_events"]
    batch = (
        spark.read.parquet(f"{SF}/events.parquet").groupBy("user_id").count().collect()
    )
    assert totals == {r["user_id"]: r["count"] for r in batch}


def test_rolling_parquet_sink(spark, tmp_path):
    events = EventStream(spark, SF + "/events.parquet").stream()
    out = str(tmp_path / "rolled")
    q = rolling_parquet_stream_sink(
        events, out, str(tmp_path / "ckpt_roll"), max_records_per_file=200
    )
    q.awaitTermination(120)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) >= 5  # 1000 events / 200 per file
    assert spark.read.parquet(out).count() == 1000


def test_streaming_dedup(spark, tmp_path):
    # plant duplicates: the same events file delivered twice (two batches)
    src = spark.read.parquet(f"{SF}/events.parquet")
    dup_dir = str(tmp_path / "dup_events")
    src.write.mode("overwrite").parquet(dup_dir)
    src.write.mode("append").parquet(dup_dir)
    events = EventStream(spark, dup_dir).stream()
    deduped = streaming_dedup(events, ["event_id"], watermark="10 days")
    _run_available_now(deduped, tmp_path, "dedup_stream")
    got = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM dedup_stream").first()
    assert got["n"] == got["d"] == src.count()


def test_stream_stream_interval_join(spark, tmp_path):
    signups = EventStream(spark, SF + "/events.parquet").stream().filter(
        "event_type = 'signup'"
    ).select("user_id", "ts")
    purchases = EventStream(spark, SF + "/events.parquet").stream().filter(
        "event_type = 'purchase'"
    ).select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), "value"
    )
    joined = stream_stream_interval_join(
        signups.withColumnRenamed("user_id", "user_id"),
        purchases.withColumnRenamed("p_user", "user_id"),
        key="user_id", left_ts="ts", right_ts="p_ts",
        within="2 days", watermark="0 seconds",
    ).select("user_id", "ts", "p_ts", "value")
    _run_available_now(joined, tmp_path, "ssjoin")
    got = spark.sql("SELECT * FROM ssjoin").collect()
    # batch twin
    ev = normalize_ts(spark.read.parquet(f"{SF}/events.parquet"))
    s = ev.filter("event_type = 'signup'").select("user_id", "ts")
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("p_ts"), "value"
    )
    batch = s.join(
        p,
        (s.user_id == p.pu)
        & (p.p_ts >= s.ts)
        & (p.p_ts <= s.ts + F.expr("INTERVAL 2 DAYS")),
    ).select("user_id", "ts", "p_ts", "value")
    key = lambda r: (r["user_id"], r["ts"], r["p_ts"], r["value"])
    assert sorted(map(key, got)) == sorted(map(key, batch.collect()))


def test_foreach_batch_sink(spark, tmp_path):
    events = EventStream(spark, SF + "/events.parquet").stream()
    out_dir = str(tmp_path / "fb_out")
    seen = []

    def handle(batch_df, batch_id):
        seen.append(batch_id)
        batch_df.write.mode("append").parquet(out_dir)

    q = foreach_batch_sink(events, handle, str(tmp_path / "ckpt_fb"))
    q.awaitTermination(120)
    assert seen, "foreachBatch never invoked"
    assert spark.read.parquet(out_dir).count() == 1000


def test_stateful_sessionize(spark, tmp_path):
    events = EventStream(spark, SF + "/events.parquet").stream()
    sess = sessionize_stateful(events)
    _run_available_now(sess, tmp_path, "stateful", output_mode="update")
    got = spark.sql("SELECT * FROM stateful").collect()
    assert len(got) > 0
    by_user = {r["user_id"]: r for r in got}
    batch = (
        spark.read.parquet(f"{SF}/events.parquet").groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    )
    for r in batch:
        assert by_user[r["user_id"]]["n_events"] == r["n"]


def test_sliding_window_stream(spark, tmp_path):
    from eel_spark.streaming import sliding_window_agg

    events = EventStream(spark, SF + "/events.parquet").stream()
    agg = sliding_window_agg(
        events, window="2 hours", slide="1 hour", watermark="0 seconds"
    )
    _run_available_now(agg, tmp_path, "sliding", output_mode="complete")
    got = spark.sql("SELECT * FROM sliding").collect()
    assert len(got) > 0
    # every event lands in exactly 2 overlapping windows → sliding total
    # is 2× the event count
    assert sum(r["n"] for r in got) == 2 * 1000


def test_rate_stream_shape(spark, tmp_path):
    from eel_spark.streaming import rate_stream

    df = rate_stream(spark, rows_per_second=500)
    assert set(df.columns) == {
        "event_id", "ts", "user_id", "event_type", "value", "props",
    }
    q = (
        df.writeStream.format("memory").queryName("rate_smoke")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT COUNT(*) AS n FROM rate_smoke").first()["n"]
            if n > 0:
                break
            time.sleep(1)
        assert n > 0
        types = {
            r["event_type"]
            for r in spark.sql("SELECT DISTINCT event_type FROM rate_smoke").collect()
        }
        assert types <= {"click", "view", "purchase", "signup", "error"}
    finally:
        q.stop()


def test_kafka_stream_gate(spark):
    from eel_spark.streaming import kafka_stream

    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        kafka_stream(spark, "localhost:9092", "t")


def test_stream_static_join(spark, tmp_path):
    """Stream-static enrichment: each micro-batch joins a broadcast dim
    with no streaming state; result cross-checked against the batch
    join on the same inputs."""
    from eel_spark.streaming import stream_static_join

    dim = spark.createDataFrame(
        [(t, f"type_{t}") for t in ["click", "view", "purchase", "signup", "error"]],
        "event_type: string, label: string",
    )
    events = EventStream(spark, SF + "/events.parquet").stream()
    joined = stream_static_join(events, dim, key="event_type").select(
        "event_id", "event_type", "label"
    )
    _run_available_now(joined, tmp_path, "ssj")
    got = spark.sql("SELECT COUNT(*) n, COUNT(label) labeled FROM ssj").first()

    batch = spark.read.parquet(SF + "/events.parquet").join(dim, "event_type", "left")
    want = batch.agg(
        F.count(F.lit(1)).alias("n"), F.count("label").alias("labeled")
    ).first()
    assert (got["n"], got["labeled"]) == (want["n"], want["labeled"])


def test_idempotent_batch_sink_replay(spark, tmp_path):
    """Replaying a micro-batch must NOT duplicate rows: each batch lands
    in its own batch_id partition with dynamic overwrite, so running the
    same stream twice from scratch (same batches, fresh checkpoint —
    simulating a replay after checkpoint loss) leaves row counts
    unchanged."""
    from eel_spark.streaming import idempotent_batch_sink

    out = str(tmp_path / "idem_out")
    events = EventStream(spark, SF + "/events.parquet").stream().select(
        "event_id", "event_type", "value"
    )
    q = idempotent_batch_sink(events, out, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 == spark.read.parquet(SF + "/events.parquet").count()

    # same data replayed with a FRESH checkpoint → same batch ids →
    # partitions overwritten in place, not appended
    q2 = idempotent_batch_sink(events, out, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    n2 = spark.read.parquet(out).count()
    assert n2 == n1


def test_streaming_corpus_prep_matches_batch(spark, tmp_path):
    """Streaming corpus prep (quality gate -> fingerprint dedup ->
    per-(lang,source) accounting) equals the batch formulation when the
    whole corpus arrives within one watermark window."""
    from eel_spark.functions import text as TX
    from eel_spark.streaming import streaming_corpus_prep

    docs = (
        spark.readStream.schema(
            spark.read.parquet(f"{SF}/documents.parquet").schema
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF)
    )
    agg = streaming_corpus_prep(docs, min_tokens=10, watermark="1 hour")
    _run_available_now(agg, tmp_path, "corpus_prep", output_mode="complete")
    got = {
        (r["lang"], r["source"]): (r["n_docs"], r["total_tokens"])
        for r in spark.sql("SELECT * FROM corpus_prep").collect()
    }

    batch = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .withColumn("n_tokens", TX.token_count("text"))
        .filter(F.col("n_tokens") >= 10)
        .withColumn("fp", TX.fingerprint(TX.normalized_text("text")))
        .dropDuplicates(["fp"])
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    want = {
        (r["lang"], r["source"]): (r["n_docs"], r["total_tokens"])
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_corpus_prep_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once ACROSS RESTART, not just within one run: the corpus-
    prep stream is stopped mid-input and a NEW query object resumes from
    the same checkpoint. The second wave contains verbatim duplicates of
    first-wave documents — they only dedup correctly if the state store
    (seen fingerprints + agg state) survived the restart. Final
    accounting must equal the batch run over ALL input."""
    from eel_spark.functions import text as TX
    from eel_spark.streaming import streaming_corpus_prep

    src = spark.read.parquet(SF + "/documents.parquet")
    schema = src.schema
    rows = src.limit(40).collect()
    in_dir = tmp_path / "stream_in"
    in_dir.mkdir()
    out = str(tmp_path / "resume_out")

    def add_wave(name, wave_rows):
        spark.createDataFrame(wave_rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(in_dir / name))

    def run_once():
        docs = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        agg = streaming_corpus_prep(docs, min_tokens=10, watermark="1 hour")
        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(
                lambda b, bid: b.write.mode("overwrite").parquet(out)
            )
            .option("checkpointLocation", str(tmp_path / "resume_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # wave 1: two files, then the query terminates (the "kill")
    add_wave("w0", rows[:10])
    add_wave("w1", rows[10:20])
    run_once()
    first = spark.read.parquet(out).collect()
    assert len(first) > 0

    # wave 2: fresh docs + VERBATIM duplicates of wave-1 texts under new
    # ids — only surviving dedup state can drop them after the restart
    dupes = [
        row.__class__(-row["doc_id"] - 1, row["text"], row["lang"],
                      row["source"], row["n_chars"])
        for row in rows[:10]
    ]
    add_wave("w2", rows[20:40])
    add_wave("w3", dupes)
    run_once()  # NEW query object, SAME checkpoint → resume, not replay

    got = {
        (r["lang"], r["source"]): (r["n_docs"], r["total_tokens"])
        for r in spark.read.parquet(out).collect()
    }
    batch = (
        spark.read.parquet(str(in_dir / "*"))
        .withColumn("n_tokens", TX.token_count("text"))
        .filter(F.col("n_tokens") >= 10)
        .withColumn("fp", TX.fingerprint(TX.normalized_text("text")))
        .dropDuplicates(["fp"])
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("total_tokens"))
    )
    want = {
        (r["lang"], r["source"]): (r["n_docs"], r["total_tokens"])
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def _planted_text_rows(seed: int = 11):
    """A seeded near-dup wave for the incremental text sink (ids ≥ 100,
    vocabulary disjoint from the tests' ``w{i}x{j}`` docs): three chains
    whose every link changes one more token of its base doc, and id 100
    twice — two different one-token edits of chain 0's base, so the
    repeated id sits inside a component with its own fingerprints."""
    import random

    rng = random.Random(seed)
    rows = []
    for c in range(3):
        toks = [f"p{c}x{j}" for j in range(30)]
        rows.append((110 + 10 * c, " ".join(toks)))
        for k in range(1, 3):
            toks = list(toks)
            toks[rng.randrange(30)] = f"q{c}y{k}"
            rows.append((110 + 10 * c + k, " ".join(toks)))
    for k in range(2):
        toks = [f"p0x{j}" for j in range(30)]
        toks[rng.randrange(30)] = f"r{k}"
        rows.append((100, " ".join(toks)))
    return rows


def _planted_vector_rows(seed: int = 11, dim: int = 64):
    """The embedding sink's twin of :func:`_planted_text_rows`: three
    chains of seeded Gaussian vectors whose every link flips the signs
    of two more dimensions (so chain ends sit beyond a Hamming bound of
    3), and id 100 twice — chain 0's base with one and with two flipped
    signs."""
    import random

    rng = random.Random(seed)
    rows = []
    for c in range(3):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        rows.append((110 + 10 * c, list(v)))
        for k in range(1, 3):
            for d in rng.sample(range(dim), 2):
                v[d] = -v[d]
            rows.append((110 + 10 * c + k, list(v)))
    for flips in (1, 2):
        v = list(rows[0][1])  # chain 0's base
        for d in range(flips):
            v[d] = -v[d]
        rows.append((100, v))
    return rows


def _assert_wave_survivors_match_union_find(
    spark, surv_path, rows, schema, id_col, fp_expr, max_hamming
):
    """Independent oracle for one wave written into an EMPTY store:
    fingerprint the wave's rows with Spark, take every pair of rows at
    Hamming ≤ ``max_hamming`` in Python, union-find their ids, and keep
    the rows whose id is its component's minimum. The survivor table
    must hold exactly those (id, fp) rows. Returns the oracle's
    component sizes."""

    def key(fp):
        return tuple(fp) if isinstance(fp, list) else fp

    def ham(a, b):
        words = zip(a, b) if isinstance(a, tuple) else [(a, b)]
        return sum(bin((x ^ y) & (2**64 - 1)).count("1") for x, y in words)

    fps = [
        (r[0], key(r[1]))
        for r in spark.createDataFrame(rows, schema)
        .select(id_col, fp_expr.alias("fp"))
        .collect()
    ]
    parent = {i: i for i, _ in fps}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for n, (a, fa) in enumerate(fps):
        for b, fb in fps[n + 1:]:
            if ham(fa, fb) <= max_hamming:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
    want = sorted((i, fp) for i, fp in fps if find(i) == i)
    got = sorted(
        (r[id_col], key(r["fp"])) for r in spark.read.parquet(surv_path).collect()
    )
    assert got == want
    sizes = {}
    for i in parent:
        sizes[find(i)] = sizes.get(find(i), 0) + 1
    return sorted(sizes.values(), reverse=True)


def test_incremental_near_dedup_across_waves_and_replay(spark, tmp_path):
    """Near-dup suppression with NO watermark horizon: wave 2 arrives in
    a separate micro-batch and must drop (a) a near-dup of a wave-1
    survivor (1 perturbed token), (b) a verbatim wave-1 copy, and (c) an
    intra-batch near-dup — while admitting the one fresh doc. Then a
    simulated failure replay (latest commit file deleted, query
    restarted) must leave the survivor table IDENTICAL — the replayed
    batch overwrites its own partition and must not match against its
    previous attempt's rows. Wave 1 also carries seeded near-dup chains
    and a repeated id: its survivors must equal a brute-force union-find
    over the wave's Hamming pairs."""
    import os

    from eel_spark.streaming import incremental_near_dedup_sink

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(30))

    def perturb(text):
        toks = text.split()
        toks[7] = "zzz"
        return " ".join(toks)

    wave1 = [(1, doc(1)), (2, doc(2)), (3, doc(3)), (4, doc(4))]
    wave1 += _planted_text_rows()
    wave2 = [
        (5, perturb(doc(1))),  # near-dup of wave-1 survivor 1
        (6, doc(6)),           # fresh — must be admitted
        (7, perturb(doc(6))),  # intra-batch near-dup of 6
        (8, doc(2)),           # verbatim copy of wave-1 survivor 2
    ]
    schema = "doc_id long, text string"
    in_dir = tmp_path / "nd_in"
    in_dir.mkdir()
    surv_path = str(tmp_path / "nd_survivors")
    ckpt = str(tmp_path / "nd_ckpt")

    def add_wave(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(in_dir / name)
        )

    def run_once():
        docs = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        q = incremental_near_dedup_sink(
            docs, surv_path, ckpt, max_hamming=7, bands=8
        )
        q.awaitTermination(120)

    add_wave("w1", wave1)
    run_once()
    # within-wave dedup of wave 1 (chains, the repeated id) against the
    # brute-force union-find oracle
    from eel_spark.functions import hashes

    sizes = _assert_wave_survivors_match_union_find(
        spark, surv_path, wave1, schema, "doc_id",
        hashes.simhash64_from_hashes(hashes.token_hashes("text")), 7,
    )
    assert sizes[0] >= 3  # a planted chain merged into one component
    wave1_rows = spark.read.parquet(surv_path).collect()
    n1 = len(wave1_rows)  # fixed exactly by the oracle above
    kept = {r["doc_id"] for r in wave1_rows}
    assert kept & {1, 2, 3, 4} == {1, 2, 3, 4} and 100 in kept
    planted_kept = kept - {1, 2, 3, 4}

    add_wave("w2", wave2)
    run_once()
    survivors = spark.read.parquet(surv_path).collect()
    assert {r["doc_id"] for r in survivors} == {1, 2, 3, 4, 6} | planted_kept
    assert len(survivors) == n1 + 1  # wave 2 admits id 6 as one row

    # simulated mid-commit failure: drop the LATEST commit marker → the
    # restarted query replays that batch from the checkpointed offsets
    commits = sorted(
        c for c in os.listdir(os.path.join(ckpt, "commits")) if not c.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):  # hadoop checksum twin blocks the re-commit rename
        os.remove(crc)
    run_once()
    replayed = spark.read.parquet(surv_path).collect()
    assert sorted(r["doc_id"] for r in replayed) == sorted(
        r["doc_id"] for r in survivors
    )
    assert {r["doc_id"] for r in replayed} == {1, 2, 3, 4, 6} | planted_kept
    assert len(replayed) == n1 + 1


def test_incremental_dedup_history_read_prunes(spark, tmp_path):
    """The scale property of the incremental sinks: after many batches
    accumulate, the per-batch history match must NOT scan the full
    survivor history — the banded side-table is partitioned by
    (batch_id, band, kp) and a probe for one key-space bucket must read
    only that bucket's files (partition pruning visible in
    inputFiles())."""
    from eel_spark.streaming import incremental_near_dedup_sink

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(30))

    schema = "doc_id long, text string"
    in_dir = tmp_path / "pr_in"
    in_dir.mkdir()
    surv_path = str(tmp_path / "pr_surv")
    ckpt = str(tmp_path / "pr_ckpt")

    # 12 waves × 3 unique docs — every wave lands as its own micro-batch
    for w in range(12):
        rows = [(w * 10 + j, doc(w * 10 + j)) for j in range(3)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(in_dir / f"w{w}")
        )
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    q = incremental_near_dedup_sink(docs, surv_path, ckpt, max_hamming=7, bands=8)
    q.awaitTermination(300)

    assert spark.read.parquet(surv_path).count() == 36  # all unique → all admitted

    bands_path = surv_path + "__bands"
    hist = spark.read.parquet(bands_path)
    all_files = hist.inputFiles()
    assert len(all_files) >= 12  # ≥1 file per accumulated batch

    # probe exactly the way the sink does: one (band, kp) bucket. The
    # predicate must classify as a PARTITION filter (pruned at listing
    # time, zero data filters) and the files actually read must all come
    # from that one bucket's directories — a strict subset of history.
    r = hist.select("band", "kp").first()
    probed = hist.filter(
        (F.col("band") == r["band"]) & (F.col("kp") == r["kp"])
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert f"(band#" in plan and f"(kp#" in plan  # both keys pushed
    read_files = {
        row["f"]
        for row in probed.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    }
    assert 0 < len(read_files) < len(all_files)
    assert all(f"band={r['band']}/kp={r['kp']}" in f for f in read_files)


def test_compact_dedup_history(spark, tmp_path):
    """Compaction collapses the per-batch history into one batch_id=-1
    generation with content unchanged and the (band, kp) layout
    preserved, and cross-wave suppression still works afterwards: a
    post-compaction wave containing a near-dup of an old survivor must
    still be dropped."""
    import glob as _glob

    from eel_spark.streaming import (
        compact_dedup_history,
        incremental_near_dedup_sink,
    )

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(30))

    def perturb(text):
        toks = text.split()
        toks[7] = "zzz"
        return " ".join(toks)

    schema = "doc_id long, text string"
    in_dir = tmp_path / "cp_in"
    in_dir.mkdir()
    surv_path = str(tmp_path / "cp_surv")

    for w in range(4):
        rows = [(w * 10 + j, doc(w * 10 + j)) for j in range(3)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(in_dir / f"w{w}")
        )

    def run(ck):
        docs = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        q = incremental_near_dedup_sink(
            docs, surv_path, str(tmp_path / ck), max_hamming=7, bands=8
        )
        q.awaitTermination(180)

    run("ck1")
    before = {r["doc_id"] for r in spark.read.parquet(surv_path).collect()}
    assert len(before) == 12

    compact_dedup_history(spark, surv_path)
    after = spark.read.parquet(surv_path)
    assert {r["doc_id"] for r in after.collect()} == before
    assert [r["batch_id"] for r in after.select("batch_id").distinct().collect()] == [-1]
    bands = spark.read.parquet(surv_path + "__bands")
    assert [r["batch_id"] for r in bands.select("batch_id").distinct().collect()] == [-1]
    # layout preserved: (band, kp) partition dirs under the single generation
    assert _glob.glob(f"{surv_path}__bands/batch_id=-1/band=*/kp=*/part-*")
    assert not _glob.glob(f"{surv_path}*__compacting")
    assert not _glob.glob(f"{surv_path}*__old")

    # wave 5 after compaction: near-dup of wave-1 survivor 1 dropped,
    # fresh doc admitted
    spark.createDataFrame(
        [(100, perturb(doc(1))), (101, doc(101))], schema
    ).coalesce(1).write.parquet(str(in_dir / "w5"))
    run("ck1")  # same checkpoint: only the new file processes
    final = {r["doc_id"] for r in spark.read.parquet(surv_path).collect()}
    assert final == before | {101}


def test_incremental_embedding_dedup_across_waves(spark, tmp_path):
    """Embedding twin of the incremental near-dedup sink: wave 2 drops a
    sign-identical variant of a wave-1 vector (tiny jitter that flips no
    sign) plus an intra-batch twin, admits the genuinely fresh vector.
    The existing text-sink test covers the replay branch (shared
    skeleton); this one covers the sketch/banding plumbing. Wave 1 also
    carries seeded sign-flip chains and a repeated id, checked against
    the same union-find oracle as the text sink."""
    import math

    from eel_spark.streaming import incremental_embedding_dedup_sink

    def vec(seed, jitter=0.0):
        return [
            math.sin(seed * 31 + j) + jitter * 0.001 for j in range(64)
        ]

    wave1 = [(1, vec(1)), (2, vec(2)), (3, vec(3))]
    wave1 += _planted_vector_rows()
    wave2 = [
        (4, vec(1, jitter=1.0)),  # same signs as 1 → near-dup, dropped
        (5, vec(9)),              # fresh
        (6, vec(9, jitter=1.0)),  # intra-batch twin of 5, dropped
    ]
    schema = "vec_id long, embedding array<double>"
    in_dir = tmp_path / "emb_in"
    in_dir.mkdir()
    surv_path = str(tmp_path / "emb_surv")
    ckpt = str(tmp_path / "emb_ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        q = incremental_embedding_dedup_sink(
            stream, surv_path, ckpt, dim=64, max_hamming=3
        )
        q.awaitTermination(120)

    spark.createDataFrame(wave1, schema).coalesce(1).write.parquet(str(in_dir / "w1"))
    run_once()
    from eel_spark.functions import vectors as V

    sizes = _assert_wave_survivors_match_union_find(
        spark, surv_path, wave1, schema, "vec_id",
        V.pack_sign_bits(F.col("embedding"), 64), 3,
    )
    assert sizes[0] >= 3  # a planted chain merged into one component
    wave1_rows = spark.read.parquet(surv_path).collect()
    n1 = len(wave1_rows)  # fixed exactly by the oracle above
    kept = {r["vec_id"] for r in wave1_rows}
    assert kept & {1, 2, 3} == {1, 2, 3} and 100 in kept
    planted_kept = kept - {1, 2, 3}

    spark.createDataFrame(wave2, schema).coalesce(1).write.parquet(str(in_dir / "w2"))
    run_once()
    survivors = spark.read.parquet(surv_path).collect()
    assert {r["vec_id"] for r in survivors} == {1, 2, 3, 5} | planted_kept
    assert len(survivors) == n1 + 1  # wave 2 admits id 5 as one row


def test_incremental_embedding_dedup_validation(spark, tmp_path):
    from eel_spark.streaming import incremental_embedding_dedup_sink

    stream = spark.readStream.schema("vec_id long, embedding array<double>").parquet(
        str(tmp_path / "nowhere*")
    )
    with pytest.raises(ValueError, match="divide 64"):
        incremental_embedding_dedup_sink(stream, "x", "y", dim=64, bands_per_word=5)
    with pytest.raises(ValueError, match="pigeonhole"):
        incremental_embedding_dedup_sink(
            stream, "x", "y", dim=64, bands_per_word=2, max_hamming=9
        )


def test_streaming_url_dedup(spark, tmp_path):
    from datetime import datetime

    from eel_spark.streaming import file_stream, streaming_url_dedup

    t = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t, "http://www.example.com/a?utm_source=x"),
        (2, t, "example.com/a/"),                  # same page decorated
        (3, t, "HTTP://EXAMPLE.COM:80/a"),          # same page again
        (4, t, "http://example.com/b"),             # distinct page
        (5, t, None),                               # null url: never deduped
        (6, t, None),
        (7, t, "::garbage::"),                      # equal garbage dedups
        (8, t, "::garbage::"),
        (9, t, ":other garbage:"),                  # distinct garbage survives
    ]
    src = str(tmp_path / "urls_in")
    spark.createDataFrame(rows, "id LONG, ts TIMESTAMP, url STRING").write.parquet(src)
    stream = file_stream(
        spark, src,
        schema="id LONG, ts TIMESTAMP, url STRING",
        max_files_per_trigger=100,
    )
    out = streaming_url_dedup(stream, "url", watermark="1 hour")
    _run_available_now(out, tmp_path, "urldedup")
    got = spark.sql("SELECT * FROM urldedup").collect()
    ids = sorted(r["id"] for r in got)
    # one of {1,2,3}, page b, both nulls, one of {7,8}, and 9
    assert len(ids) == 6
    assert len({1, 2, 3} & set(ids)) == 1
    assert 4 in ids and 5 in ids and 6 in ids and 9 in ids
    assert len({7, 8} & set(ids)) == 1
    assert "__urlkey" not in spark.sql("SELECT * FROM urldedup").columns


def test_validated_batch_sink_pass_and_quarantine(spark, tmp_path):
    from datetime import datetime

    from eel_spark.operators import expectations as E
    from eel_spark.streaming import file_stream, validated_batch_sink

    t = datetime(2024, 1, 1)
    good = [(1, t, 10.0), (2, t, 20.0)]
    bad = [(3, t, -5.0), (4, t, 30.0)]     # negative v fails in_range
    src = str(tmp_path / "vin")
    # one file per group: validation is PER BATCH, so each group must
    # arrive as exactly one micro-batch
    spark.createDataFrame(good, "id LONG, ts TIMESTAMP, v DOUBLE").coalesce(
        1
    ).write.mode("append").parquet(src)
    spark.createDataFrame(bad, "id LONG, ts TIMESTAMP, v DOUBLE").coalesce(
        1
    ).write.mode("append").parquet(src)

    stream = file_stream(spark, src, schema="id LONG, ts TIMESTAMP, v DOUBLE")
    main, quar = str(tmp_path / "vmain"), str(tmp_path / "vquar")
    q = validated_batch_sink(
        stream, main, str(tmp_path / "vckpt"),
        checks=[E.not_null("id"), E.in_range("v", 0, 100)],
        quarantine_path=quar,
    )
    q.awaitTermination(120)
    main_ids = sorted(r["id"] for r in spark.read.parquet(main).collect())
    quar_ids = sorted(r["id"] for r in spark.read.parquet(quar).collect())
    assert main_ids == [1, 2]
    assert quar_ids == [3, 4]


def test_validated_batch_sink_fail_fast(spark, tmp_path):
    from datetime import datetime

    from pyspark.errors import StreamingQueryException

    from eel_spark.operators import expectations as E
    from eel_spark.streaming import file_stream, validated_batch_sink

    t = datetime(2024, 1, 1)
    src = str(tmp_path / "fin")
    spark.createDataFrame(
        [(1, t, -1.0)], "id LONG, ts TIMESTAMP, v DOUBLE"
    ).write.parquet(src)
    stream = file_stream(spark, src, schema="id LONG, ts TIMESTAMP, v DOUBLE")
    q = validated_batch_sink(
        stream, str(tmp_path / "fmain"), str(tmp_path / "fckpt"),
        checks=[E.in_range("v", 0, 100)],
    )
    with pytest.raises(StreamingQueryException, match="failed validation"):
        q.awaitTermination(120)


def test_streaming_rollup_sink_null_timestamp_batches(spark, tmp_path):
    """The former poison pill: a micro-batch with NULL-timestamp rows
    (a NULL bucket in the rollup) used to crash the touched-partition
    predicate on every checkpoint replay, wedging the stream forever.
    Two batches each carrying NULL-ts rows must fold into a store that
    matches the batch rollup, NULL bucket included."""
    from datetime import datetime

    from eel_spark.operators.rollups import read_rollup, time_rollup
    from eel_spark.streaming import streaming_rollup_sink

    schema = "event_id long, ts timestamp, value double"
    rows = [
        (i, None if i % 3 == 0 else datetime(2024, 1, 1 + i % 2, 12), float(i))
        for i in range(40)
    ]
    in_dir = tmp_path / "nts_in"
    in_dir.mkdir()
    # two files → two micro-batches; both contain NULL-ts rows, so the
    # second batch must read the NULL-bucket partition's history back
    spark.createDataFrame(rows[:20], schema).coalesce(1).write.parquet(
        str(in_dir / "b0")
    )
    spark.createDataFrame(rows[20:], schema).coalesce(1).write.parquet(
        str(in_dir / "b1")
    )

    aggs = {"n": F.count(F.lit(1)), "total": F.sum("value")}
    merges = {"n": F.sum("n"), "total": F.sum("total")}
    path = str(tmp_path / "nts_roll")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    q = streaming_rollup_sink(
        stream, path, str(tmp_path / "nts_ck"), "ts", aggs, ["day"]
    )
    q.awaitTermination(120)

    got = sorted(
        (str(r["bucket_start"]), r["n"], round(r["total"], 6))
        for r in read_rollup(spark, path, merges).collect()
    )
    batch = spark.createDataFrame(rows, schema)
    want = sorted(
        (str(r["bucket_start"]), r["n"], round(r["total"], 6))
        for r in time_rollup(batch, "ts", aggs, ["day"]).collect()
    )
    assert got == want
    assert any(b == "None" for b, _, _ in got)  # the NULL bucket is real


def test_streaming_rollup_sink_exactly_once(spark, tmp_path):
    from eel_spark.operators.rollups import read_rollup, time_rollup
    from eel_spark.streaming import EventStream, streaming_rollup_sink
    from eel_spark.timeutils import normalize_ts

    SFD = "/root/testdata/sf0.001"
    aggs = {"n": F.count(F.lit(1)), "total": F.sum("value")}
    merges = {"n": F.sum("n"), "total": F.sum("total")}
    path = str(tmp_path / "roll")

    events = EventStream(spark, f"{SFD}/events.parquet").stream()
    q = streaming_rollup_sink(
        events, path, str(tmp_path / "ck1"), "ts", aggs, ["day"]
    )
    q.awaitTermination(120)

    def snapshot():
        return sorted(
            (str(r["bucket_start"]), r["n"], round(r["total"], 6))
            for r in read_rollup(spark, path, merges).collect()
        )

    batch = normalize_ts(spark.read.parquet(f"{SFD}/events.parquet"))
    want = sorted(
        (str(r["bucket_start"]), r["n"], round(r["total"], 6))
        for r in time_rollup(batch, "ts", aggs, ["day"]).collect()
    )
    assert snapshot() == want

    # full replay with a FRESH checkpoint: every batch re-processes and
    # must evict its own previous partials — store unchanged
    events2 = EventStream(spark, f"{SFD}/events.parquet").stream()
    q2 = streaming_rollup_sink(
        events2, path, str(tmp_path / "ck2"), "ts", aggs, ["day"]
    )
    q2.awaitTermination(120)
    assert snapshot() == want


def test_incremental_dedup_backfills_pre_banded_store(spark, tmp_path):
    """Upgrade path: a store written before the banded side-table
    existed (survivors present, __bands absent) must be backfilled on
    first use — near-dups of pre-upgrade survivors stay suppressed
    instead of being silently re-admitted."""
    import shutil

    from eel_spark.streaming import incremental_near_dedup_sink

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(30))

    def perturb(text):
        toks = text.split()
        toks[7] = "zzz"
        return " ".join(toks)

    schema = "doc_id long, text string"
    in_dir = tmp_path / "mig_in"
    in_dir.mkdir()
    surv_path = str(tmp_path / "mig_survivors")
    ckpt = str(tmp_path / "mig_ckpt")

    def add_wave(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(in_dir / name)
        )

    def run_once():
        docs = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        q = incremental_near_dedup_sink(
            docs, surv_path, ckpt, max_hamming=7, bands=8
        )
        q.awaitTermination(120)

    add_wave("w1", [(1, doc(1)), (2, doc(2)), (3, doc(3))])
    run_once()
    # simulate a pre-banded-layout store: survivors only, no side-table
    shutil.rmtree(surv_path + "__bands")

    add_wave("w2", [
        (5, perturb(doc(1))),  # near-dup of a PRE-UPGRADE survivor
        (6, doc(2)),           # verbatim copy of a pre-upgrade survivor
        (7, doc(7)),           # fresh — must be admitted
    ])
    run_once()
    assert {
        r["doc_id"] for r in spark.read.parquet(surv_path).collect()
    } == {1, 2, 3, 7}
    # the side-table was rebuilt: pre-upgrade ids banded under their
    # original batch partitions, plus the new wave's rows
    bands = spark.read.parquet(surv_path + "__bands")
    assert {r["doc_id"] for r in bands.select("doc_id").distinct().collect()} == {
        1, 2, 3, 7,
    }
    assert bands.where("batch_id = 0").count() > 0  # backfilled generation


def test_compact_dedup_history_at_depth_with_replay(spark, tmp_path, monkeypatch):
    """Compaction at realistic history depth (25 accumulated batches),
    interleaved with a checkpoint replay, plus a crash inside the
    staged swap:

    1. 25 micro-batches accumulate (each wave: one fresh doc + one
       near-dup of the PREVIOUS wave's survivor — so cross-batch
       history suppression is load-bearing in every batch).
    2. A pre-compaction batch is replayed (commit marker dropped) AFTER
       compaction: its rows already sit in the -1 generation, so the
       replay must not lose survivors or re-admit its near-dup.
    3. A crash between the swap's two renames leaves the survivor
       table staged aside at ``__old``; the next compaction's lease
       heals it and finishes, restoring the store row-for-row with no
       staging paths left.
    """
    import glob as _glob
    import os

    from eel_spark.sources.hdfs import HdfsOps
    from eel_spark.streaming import (
        compact_dedup_history,
        incremental_near_dedup_sink,
    )

    N = 25

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(30))

    def perturb(text):
        toks = text.split()
        toks[7] = "zzz"
        return " ".join(toks)

    schema = "doc_id long, text string"
    in_dir = tmp_path / "dp_in"
    in_dir.mkdir()
    surv_path = str(tmp_path / "dp_surv")
    ckpt = str(tmp_path / "dp_ck")

    # wave 0: one fresh doc; wave i>0: fresh doc i + near-dup of doc i-1
    for w in range(N):
        rows = [(w, doc(w))]
        if w:
            rows.append((1000 + w, perturb(doc(w - 1))))
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(in_dir / f"w{w:02d}")
        )

    def run():
        docs = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        q = incremental_near_dedup_sink(
            docs, surv_path, ckpt, max_hamming=7, bands=8
        )
        q.awaitTermination(600)

    run()
    expected = set(range(N))
    assert {
        r["doc_id"] for r in spark.read.parquet(surv_path).collect()
    } == expected
    # history really is 25 generations deep before compaction
    gens = _glob.glob(f"{surv_path}__bands/batch_id=*")
    assert len([g for g in gens if "batch_id=-" not in g]) == N

    compact_dedup_history(spark, surv_path)
    assert {
        r["doc_id"] for r in spark.read.parquet(surv_path).collect()
    } == expected
    # listing cost collapsed: ONE generation in both tables
    assert _glob.glob(f"{surv_path}/batch_id=*") == [f"{surv_path}/batch_id=-1"]
    assert _glob.glob(f"{surv_path}__bands/batch_id=*") == [
        f"{surv_path}__bands/batch_id=-1"
    ]

    # replay of the LAST pre-compaction batch against the compacted
    # store: the -1 generation already holds its rows; suppression of
    # its near-dup must come from history (batch_id=-1 != replayed id)
    commits = sorted(
        c for c in os.listdir(os.path.join(ckpt, "commits"))
        if not c.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert {
        r["doc_id"] for r in spark.read.parquet(surv_path).collect()
    } == expected

    # crash between the two renames of a SECOND compaction's swap
    before_rows = sorted(
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(surv_path).collect()
    )
    real_rename = HdfsOps.rename
    renames = []

    def crashing_rename(self, src, dst):
        renames.append(src)
        if len(renames) == 2:
            raise RuntimeError("simulated crash mid-swap")
        return real_rename(self, src, dst)

    monkeypatch.setattr(HdfsOps, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="mid-swap"):
        compact_dedup_history(spark, surv_path)
    monkeypatch.setattr(HdfsOps, "rename", real_rename)
    # the survivor table is staged aside, not lost
    assert not os.path.exists(surv_path)
    assert os.path.exists(surv_path + "__old")
    # the next call's lease heals the swap and the compaction completes
    compact_dedup_history(spark, surv_path)
    assert sorted(
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(surv_path).collect()
    ) == before_rows
    assert not _glob.glob(f"{surv_path}*__old")
    assert not _glob.glob(f"{surv_path}*__compacting")


def test_kafka_option_contract_without_broker(spark, monkeypatch):
    """Jar-free smoke of all four Kafka wrappers: capture the reader/
    writer builder calls and assert the EXACT option surface each
    wrapper assembles (the part of the integration that is ours), while
    the load/save/start still fails and surfaces the honest dependency
    gate with the real error chained. No broker execution is faked —
    this is the contract test the sandbox allows, per the design note
    in sources/kafka.py."""
    from pyspark.sql import SparkSession

    from eel_spark.datastream import DataStream
    from eel_spark.sources.kafka import KafkaSink, KafkaSource
    from eel_spark.streaming import kafka_stream, kafka_stream_sink

    class Rec:
        def __init__(self):
            self.fmt, self.opts, self.called = None, {}, None
        def format(self, f):
            self.fmt = f
            return self
        def option(self, k, v):
            self.opts[k] = str(v)
            return self
        def load(self):
            self.called = "load"
            raise OSError("no broker (smoke)")
        def save(self):
            self.called = "save"
            raise OSError("no broker (smoke)")
        def start(self):
            self.called = "start"
            raise OSError("no broker (smoke)")

    # streaming source
    rec = Rec()
    monkeypatch.setattr(SparkSession, "readStream", property(lambda s: rec))
    with pytest.raises(RuntimeError, match="spark-sql-kafka") as ei:
        kafka_stream(spark, "b1:9092,b2:9092", "events",
                     starting_offsets="earliest")
    assert isinstance(ei.value.__cause__, OSError)
    assert (rec.fmt, rec.called) == ("kafka", "load")
    assert rec.opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "events",
        "startingOffsets": "earliest",
    }

    # streaming sink (patch the CONCRETE class: pyspark 4's classic
    # DataFrame shadows the pyspark.sql.DataFrame base properties)
    rec = Rec()
    sdf = spark.createDataFrame([("k", "v")], "key string, value string")
    monkeypatch.setattr(type(sdf), "writeStream", property(lambda s: rec))
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        kafka_stream_sink(sdf, "b:9092", "out_topic", "/tmp/ck_smoke")
    assert (rec.fmt, rec.called) == ("kafka", "start")
    assert rec.opts == {
        "kafka.bootstrap.servers": "b:9092",
        "topic": "out_topic",
        "checkpointLocation": "/tmp/ck_smoke",
    }

    # batch source
    rec = Rec()
    monkeypatch.setattr(SparkSession, "read", property(lambda s: rec))
    with pytest.raises(RuntimeError, match="broker"):
        KafkaSource("b:9092", "t", starting_offsets="latest").to_datastream(
            spark
        )
    assert (rec.fmt, rec.called) == ("kafka", "load")
    assert rec.opts == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "t",
        "startingOffsets": "latest",
    }
    monkeypatch.undo()

    # batch sink: the serialized (key, value) frame reaches the writer
    # with the topic/bootstrap options (serialization itself is covered
    # in test_sources.test_kafka_frame_serialization)
    rec = Rec()
    ds = DataStream(spark.createDataFrame([(1, "a")], "id long, t string"))
    monkeypatch.setattr(type(ds.df), "write", property(lambda s: rec))
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        KafkaSink("b:9092", "sink_topic", key_col="id").write(ds)
    assert (rec.fmt, rec.called) == ("kafka", "save")
    assert rec.opts == {
        "kafka.bootstrap.servers": "b:9092",
        "topic": "sink_topic",
    }


def test_streaming_scd2_sink_matches_rebuild_and_replays(spark, tmp_path):
    """Change-log stream → SCD2 table: three micro-batches of
    observations must leave exactly the table a full offline rebuild of
    the concatenated log produces, and a checkpoint replay of the last
    batch (commit marker dropped) must change nothing — the merge's
    content fingerprint recognises the redelivery."""
    import os
    from datetime import date

    from eel_spark.operators.scd2 import scd2_from_changes
    from eel_spark.streaming import streaming_scd2_sink

    schema = "k long, seg string, d date, seq long"
    waves = [
        [(1, "A", date(2024, 1, 1), 1), (2, "X", date(2024, 1, 2), 2)],
        [(1, "B", date(2024, 2, 1), 3), (3, "Z", date(2024, 2, 2), 4)],
        [(1, "B", date(2024, 3, 1), 5),  # continuation
         (2, "Y", date(2024, 3, 2), 6)],
    ]
    in_dir = tmp_path / "scd_in"
    in_dir.mkdir()
    dim_path = str(tmp_path / "scd_dim")
    ckpt = str(tmp_path / "scd_ck")
    for i, rows in enumerate(waves):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(in_dir / f"w{i}")
        )

    def run():
        obs = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        q = streaming_scd2_sink(
            obs, dim_path, ckpt, "k", ["seg"], "d", ["seq"], n_buckets=4
        )
        q.awaitTermination(180)

    run()

    def table_state():
        return sorted(
            (r["k"], r["seg"], str(r["valid_from"]), str(r["valid_to"]),
             r["is_current"])
            for r in spark.read.parquet(dim_path)
            .drop("scd_current", "scd_bucket").collect()
        )

    rebuilt = scd2_from_changes(
        spark.createDataFrame([r for w in waves for r in w], schema),
        "k", ["seg"], "d", ["seq"],
    )
    expected = sorted(
        (r["k"], r["seg"], str(r["valid_from"]), str(r["valid_to"]),
         r["is_current"])
        for r in rebuilt.collect()
    )
    assert table_state() == expected

    commits = sorted(
        c for c in os.listdir(os.path.join(ckpt, "commits"))
        if not c.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert table_state() == expected


def test_backfill_guard_propagates_non_missing_errors(spark, tmp_path,
                                                      monkeypatch):
    """_backfill_bands_from_survivors may treat ONLY a missing/empty
    survivor table as 'fresh store': any other AnalysisException (schema
    drift, corruption, permissions) must propagate, or the caller would
    skip the history anti-join and permanently re-admit near-duplicates
    of every past survivor."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.readwriter import DataFrameReader

    from eel_spark.streaming.streams import _backfill_bands_from_survivors

    surv = str(tmp_path / "bf_surv")

    def raising(self, p, **kw):
        raise AnalysisException("[WEIRD_FAILURE] something else broke")

    monkeypatch.setattr(DataFrameReader, "parquet", raising)
    import pytest as _pytest
    with _pytest.raises(AnalysisException, match="WEIRD_FAILURE"):
        _backfill_bands_from_survivors(spark, surv, surv + "__bands",
                                       band_fn=None, id_col="doc_id")

    def missing(self, p, **kw):
        raise AnalysisException("[PATH_NOT_FOUND] no such path")

    monkeypatch.setattr(DataFrameReader, "parquet", missing)
    assert _backfill_bands_from_survivors(
        spark, surv, surv + "__bands", band_fn=None, id_col="doc_id"
    ) is None


# -- streaming funnel (event-time finalized first-touch anchors) -------------


def _write_wave(path: str, rows: list[tuple]) -> None:
    """One parquet FILE per wave (pyarrow, tz-aware µs timestamps) so
    maxFilesPerTrigger=1 gives one micro-batch per wave."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_type"])
    pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True).astype("datetime64[us, UTC]")
    pdf["user_id"] = pdf["user_id"].astype("int64")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def test_streaming_funnel_out_of_order_equals_batch(spark, tmp_path):
    """Waves arrive with cross-wave disorder (all within the 30-day
    watermark delay): the streaming anchors, once the watermark passes
    the real events (two flush waves advance it), must equal the batch
    funnel_times on the union — including the user whose late early
    'view' REWRITES the downstream anchor chain, the key case running
    anchors alone cannot handle."""
    from eel_spark.operators.funnel import funnel_times
    from eel_spark.streaming import streaming_funnel

    d = lambda day, h=0: f"2024-01-{day:02d} {h:02d}:00:00"
    waves = [
        # wave 1: user 1 clicks before its view arrives (view comes in
        # wave 2, EARLIER in event time); user 2 starts normally
        [(1, d(10), "click"), (1, d(12), "purchase"), (2, d(5), "view")],
        # wave 2: the late early view for user 1 (rewrites its chain),
        # user 2 progresses, user 3 completes in-order in one wave
        [(1, d(8), "view"), (2, d(6), "click"),
         (3, d(3), "view"), (3, d(4), "click"), (3, d(5), "purchase")],
        # wave 3: user 2 purchases OUTSIDE the 7-day horizon (no anchor);
        # user 4 never converts past view
        [(2, d(20), "purchase"), (4, d(9), "view")],
        # flush waves: advance the watermark past every real event
        [(-999, "2024-03-15", "view")],
        [(-999, "2024-05-15", "view")],
        # post-final traffic: user 3 finalized long ago — a fresh view
        # must NOT resurrect its funnel (done-tombstone contract)
        [(3, "2024-05-10", "view"), (-999, "2024-07-15", "view")],
        [(-999, "2024-09-15", "view")],
    ]
    src = tmp_path / "waves"
    src.mkdir()
    for i, rows in enumerate(waves):
        _write_wave(str(src / f"wave{i}.parquet"), rows)

    steps = {
        "view": F.col("event_type") == "view",
        "click": F.col("event_type") == "click",
        "purchase": F.col("event_type") == "purchase",
    }
    stream = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP, event_type STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_funnel(stream, steps, within="7 days", watermark="30 days")
    _run_available_now(out, tmp_path, "sfunnel", output_mode="update")
    rows = spark.sql(
        "SELECT * FROM sfunnel ORDER BY folded_until_us"
    ).collect()
    latest = {r["user_id"]: r for r in rows}  # last write wins per user

    batch_events = spark.createDataFrame(
        [r for w in waves[:3] for r in w],
        "user_id long, ts string, event_type string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    expected = {
        r["user_id"]: r
        for r in funnel_times(
            batch_events, "user_id", "ts", steps, within="7 days"
        ).collect()
    }
    for u, exp in expected.items():
        got = latest[u]
        for step in ("view", "click", "purchase"):
            assert got[step] == exp[step], (u, step, got[step], exp[step])
    # user 1: the late early view re-qualified the click after it
    assert latest[1]["view"] is not None and latest[1]["click"] is not None
    # finalization: completed funnels and expired horizons drop state
    assert latest[1]["final"] and latest[3]["final"]
    assert latest[2]["final"] and latest[2]["purchase"] is None  # horizon
    # user 4 never converted, but its 7-day horizon is behind the final
    # watermark, so the non-conversion is FINAL (state dropped) too
    assert latest[4]["final"] and latest[4]["click"] is None
    # post-final traffic (user 3's fresh 2024-05-10 view) must not
    # resurrect the funnel: the final row stays the user's LAST emission
    assert latest[3]["final"] and latest[3]["view"] == expected[3]["view"]
    # emit-on-change: the idle flush ticks must not spam unchanged rows —
    # each real user emits at most once per state change (≤ k+1 rows)
    from collections import Counter

    per_user = Counter(r["user_id"] for r in rows)
    for u in (1, 2, 3, 4):
        assert per_user[u] <= 4, (u, per_user[u])


def test_streaming_funnel_rejects_reserved_step_names(spark, tmp_path):
    from eel_spark.streaming import streaming_funnel

    stream = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP, event_type STRING")
        .parquet(str(tmp_path))
    )
    with pytest.raises(ValueError, match="collide"):
        streaming_funnel(
            stream, {"view": F.lit(True), "final": F.lit(True)}
        )
    with pytest.raises(ValueError, match="2 steps"):
        streaming_funnel(stream, {"view": F.lit(True)})


def test_streaming_funnel_final_ttl_bounds_state(spark, tmp_path):
    """Tombstone lifecycle at depth: 30 users finalize, then the
    watermark advances far past finality + final_ttl over several flush
    triggers. With final_ttl the done-tombstones self-evict via the
    re-armed event-time timeout, so terminal state holds only the
    trailing flush keys; without it the tombstones are immortal
    (O(total users ever) floor). Correctness is unchanged: every user's
    final anchors match the batch funnel_times twin in both runs."""
    from eel_spark.operators.funnel import funnel_times
    from eel_spark.streaming import streaming_funnel

    users = list(range(1, 31))
    wave1 = [
        (u, f"2024-01-0{d} 00:00:00", step)
        for u in users
        for d, step in ((1, "view"), (2, "click"), (3, "purchase"))
    ]
    # one UNIQUE flush user per wave: each anchors a view, never
    # converts, finalizes via the `within` horizon, then ttl-evicts
    waves = [
        wave1,
        [(-901, "2024-01-20", "view")],
        [(-902, "2024-02-20", "view")],
        [(-903, "2024-03-20", "view")],
        [(-904, "2024-04-20", "view")],
        [(-905, "2024-05-20", "view")],
    ]
    steps = {
        "view": F.col("event_type") == "view",
        "click": F.col("event_type") == "click",
        "purchase": F.col("event_type") == "purchase",
    }
    expected = {
        r["user_id"]: r
        for r in funnel_times(
            spark.createDataFrame(
                wave1, "user_id long, ts string, event_type string"
            ).select(
                "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
            ),
            "user_id", "ts", steps, within="7 days",
        ).collect()
    }

    def run(name: str, ttl: str | None) -> tuple[dict, int]:
        src = tmp_path / f"waves_{name}"
        src.mkdir()
        for i, rows in enumerate(waves):
            _write_wave(str(src / f"wave{i}.parquet"), rows)
        stream = (
            spark.readStream.schema("user_id BIGINT, ts TIMESTAMP, event_type STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = streaming_funnel(
            stream, steps, within="7 days", watermark="1 day", final_ttl=ttl
        )
        q = _run_available_now(out, tmp_path, name, output_mode="update")
        state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        latest = {}
        for r in spark.sql(f"SELECT * FROM {name} ORDER BY folded_until_us").collect():
            latest[r["user_id"]] = r
        return latest, state_rows

    latest_ttl, state_ttl = run("sfunnel_ttl", "5 days")
    latest_raw, state_raw = run("sfunnel_nottl", None)
    for got in (latest_ttl, latest_raw):
        for u in users:
            assert got[u]["final"], u
            for step in ("view", "click", "purchase"):
                assert got[u][step] == expected[u][step], (u, step)
    # immortal tombstones: every finalized key still holds state
    assert state_raw >= len(users), state_raw
    # ttl eviction: only the trailing flush keys (not yet past
    # finality + ttl at the last watermark) may remain
    assert state_ttl <= 3, state_ttl
    assert state_raw - state_ttl >= len(users) - 3


def test_streaming_bm25_stats_sink_matches_batch(spark, tmp_path):
    """BM25 corpus statistics maintained from a 3-wave document stream ≡
    a one-shot batch recompute over the union, and scoring a NEW wave
    against the maintained store needs no history rescan (bit-identical
    to scoring against batch-recomputed stats)."""
    from eel_spark.operators.retrieval import (
        bm25_score_against_stats,
        bm25_term_stats,
        read_bm25_stats,
    )
    from eel_spark.streaming import streaming_bm25_stats_sink

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    src = tmp_path / "doc_waves"
    src.mkdir()
    # one parquet FILE per wave (the file source does not recurse into
    # Spark's output directories)
    for i in range(3):
        pdf = docs.where(F.col("doc_id") % 3 == i).toPandas()
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            str(src / f"wave{i}.parquet"),
        )
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    store = str(tmp_path / "bm25_store")
    q = streaming_bm25_stats_sink(
        stream, store, str(tmp_path / "ckpt_bm25"), "text"
    )
    q.awaitTermination(120)

    terms = ["merge", "window", "scan"]
    got = {
        r["term"]: (r["df"], r["n_docs"], r["sum_dl"])
        for r in read_bm25_stats(spark, store, terms).collect()
    }
    expect = {
        r["term"]: (r["df"], r["n_docs"], r["sum_dl"])
        for r in bm25_term_stats(docs, "text", "doc_id", terms)
        .select("term", "df", "n_docs", "sum_dl").distinct().collect()
    }
    assert got == expect

    # restart against the same checkpoint: nothing new to process, and a
    # second identical run leaves the folded stats untouched
    q2 = streaming_bm25_stats_sink(
        (spark.readStream.schema("doc_id BIGINT, text STRING")
         .option("maxFilesPerTrigger", 1).parquet(str(src))),
        store, str(tmp_path / "ckpt_bm25"), "text",
    )
    q2.awaitTermination(120)
    got2 = {
        r["term"]: (r["df"], r["n_docs"], r["sum_dl"])
        for r in read_bm25_stats(spark, store, terms).collect()
    }
    assert got2 == expect

    # score an unseen wave against the maintained store
    new_wave = spark.createDataFrame(
        [(100001, "merge merge window"), (100002, "nothing relevant")],
        "doc_id long, text string",
    )
    scored = {
        r["doc_id"]: r["n_terms"]
        for r in bm25_score_against_stats(
            new_wave, "text", "doc_id",
            read_bm25_stats(spark, store, terms), terms,
        ).collect()
    }
    assert scored == {100001: 2}


def _write_wave_seg(path: str, rows: list[tuple]) -> None:
    """Segmented wave writer: (user_id, ts, event_type, device)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_type", "device"])
    pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True).astype("datetime64[us, UTC]")
    pdf["user_id"] = pdf["user_id"].astype("int64")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def test_streaming_segmented_funnel_equals_batch_report_by(spark, tmp_path):
    """First-touch segments ride the anchor state: a 3-wave out-of-order
    stream's latest per-user rows, shaped by funnel_state_report, must
    equal the batch funnel_report_by segment-for-segment — including a
    late early step-1 event that rewrites the attribution-bearing
    anchor, a same-timestamp segment tie (min segment wins), and a NULL
    segment (NULL-first, its own report group)."""
    from eel_spark.operators.funnel import (
        funnel_report_by,
        funnel_state_report,
    )
    from eel_spark.streaming import streaming_funnel

    d = lambda day, h=0: f"2024-01-{day:02d} {h:02d}:00:00"
    waves = [
        # user 1: click/purchase arrive BEFORE the attributing view
        [(1, d(10), "click", "web"), (1, d(12), "purchase", "web"),
         (2, d(5), "view", "ios")],
        # user 1's late early view carries the segment that must win
        # (android, not the web of the already-arrived click); user 3:
        # same-ts view tie 'z' vs 'a' → 'a' attributes; user 5: NULL
        [(1, d(8), "view", "android"), (2, d(6), "click", "android"),
         (3, d(3), "view", "z"), (3, d(3), "view", "a"),
         (3, d(4), "click", "a"), (3, d(5), "purchase", "a"),
         (5, d(2), "view", None), (5, d(3), "click", "ios")],
        # user 2 purchases outside the 7-day horizon; user 4 stalls
        [(2, d(20), "purchase", "ios"), (4, d(9), "view", "ios")],
        [(-999, "2024-03-15", "view", "flush")],
        [(-999, "2024-05-15", "view", "flush")],
    ]
    src = tmp_path / "segwaves"
    src.mkdir()
    for i, rows in enumerate(waves):
        _write_wave_seg(str(src / f"wave{i}.parquet"), rows)

    steps = {
        "view": F.col("event_type") == "view",
        "click": F.col("event_type") == "click",
        "purchase": F.col("event_type") == "purchase",
    }
    stream = (
        spark.readStream.schema(
            "user_id BIGINT, ts TIMESTAMP, event_type STRING, device STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_funnel(
        stream, steps, within="7 days", watermark="30 days",
        segment="device",
    )
    _run_available_now(out, tmp_path, "segfunnel", output_mode="update")
    rows = spark.sql("SELECT * FROM segfunnel ORDER BY folded_until_us").collect()
    latest = {r["user_id"]: r for r in rows}

    # per-user attribution: the late early view rewrote user 1 to android
    assert latest[1]["segment"] == "android"
    assert latest[2]["segment"] == "ios"
    assert latest[3]["segment"] == "a"     # same-ts tie: min segment
    assert latest[5]["segment"] is None    # NULL-first beats nothing else

    # segment-for-segment report equivalence vs the batch operator
    names = list(steps)
    state_df = spark.createDataFrame(
        [
            tuple(latest[u][c] for c in ["user_id", *names, "segment"])
            for u in latest
            if u != -999
        ],
        f"user_id long, {', '.join(n + ' timestamp' for n in names)}, segment string",
    )
    got = {
        (r["segment"], r["step"]): (r["users"], r["conversion"])
        for r in funnel_state_report(
            state_df, names, segment_name="segment"
        ).collect()
    }
    batch_events = spark.createDataFrame(
        [r for w in waves[:3] for r in w],
        "user_id long, ts string, event_type string, device string",
    ).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type", "device",
    )
    expected = {
        (r["segment"], r["step"]): (r["users"], r["conversion"])
        for r in funnel_report_by(
            batch_events, "user_id", "ts", steps, F.col("device"),
            within="7 days",
        ).collect()
    }
    assert got == expected
    # the unsegmented state-report path agrees with the overall totals
    overall = {
        r["step"]: r["users"]
        for r in funnel_state_report(state_df, names).collect()
    }
    per_seg_sums = {}
    for (seg, step), (users, _) in expected.items():
        per_seg_sums[step] = per_seg_sums.get(step, 0) + users
    assert overall == per_seg_sums


def test_streaming_funnel_report_sink_exactly_once(spark, tmp_path):
    """The report sink maintains a latest-per-user state store (keyed
    upsert, bucket-pruned) + a rewritten report; after a 3-wave
    out-of-order stream the report equals batch funnel_report_by
    segment-for-segment, a restart with the same checkpoint (no new
    data) is a no-op, and a new wave advances the report."""
    from eel_spark.operators.funnel import funnel_report_by
    from eel_spark.streaming import (
        streaming_funnel,
        streaming_funnel_report_sink,
    )

    d = lambda day, h=0: f"2024-01-{day:02d} {h:02d}:00:00"
    waves = [
        [(1, d(10), "click", "web"), (1, d(12), "purchase", "web"),
         (2, d(5), "view", "ios")],
        [(1, d(8), "view", "android"), (2, d(6), "click", "android"),
         (4, d(9), "view", "ios")],
        [(-999, "2024-03-15", "noop", "flush")],
        [(-999, "2024-05-15", "noop", "flush")],
    ]
    src = tmp_path / "rswaves"
    src.mkdir()
    for i, rows in enumerate(waves):
        _write_wave_seg(str(src / f"wave{i}.parquet"), rows)

    steps = {
        "view": F.col("event_type") == "view",
        "click": F.col("event_type") == "click",
        "purchase": F.col("event_type") == "purchase",
    }
    names = list(steps)
    sink_root = str(tmp_path / "funnel_report")
    ckpt = str(tmp_path / "ckpt_report")

    def run_once():
        stream = (
            spark.readStream.schema(
                "user_id BIGINT, ts TIMESTAMP, event_type STRING, "
                "device STRING"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = streaming_funnel(
            stream, steps, within="7 days", watermark="30 days",
            segment="device",
        )
        q = streaming_funnel_report_sink(
            out, sink_root, ckpt, names, segment_name="segment",
        )
        q.awaitTermination(180)

    run_once()

    def report():
        return {
            (r["segment"], r["step"]): (r["users"], r["conversion"])
            for r in spark.read.parquet(f"{sink_root}/report").collect()
        }

    def batch_expected(n_waves):
        ev = spark.createDataFrame(
            [r for w in waves[:n_waves] for r in w if r[0] != -999],
            "user_id long, ts string, event_type string, device string",
        ).select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"),
            "event_type", "device",
        )
        return {
            (r["segment"], r["step"]): (r["users"], r["conversion"])
            for r in funnel_report_by(
                ev, "user_id", "ts", steps, F.col("device"),
                within="7 days",
            ).collect()
        }

    first = report()
    assert first == batch_expected(2)
    # state store is bucket-partitioned and user-unique
    state = spark.read.parquet(f"{sink_root}/state")
    assert state.count() == state.select("user_id").distinct().count()
    assert "__ub" in state.columns

    # restart on the same checkpoint with no new data: a pure no-op
    run_once()
    assert report() == first

    # a new wave (fresh user 6 converts end-to-end) advances the report
    # through the same checkpoint: one upsert of user 6's state row.
    # (User 4 stays non-converted FOREVER: its horizon expired behind
    # the watermark and the done-tombstone ignores post-final traffic —
    # the designed divergence from a batch recompute over late events.)
    _write_wave_seg(
        str(src / "wave9.parquet"),
        [(6, "2024-06-01 00:00:00", "view", "web"),
         (6, "2024-06-02 00:00:00", "click", "web"),
         (6, "2024-06-03 00:00:00", "purchase", "web")],
    )
    _write_wave_seg(
        str(src / "wave10.parquet"),
        [(-999, "2024-08-15 00:00:00", "noop", "flush")],
    )
    run_once()
    second = report()
    waves.append([(6, "2024-06-01 00:00:00", "view", "web"),
                  (6, "2024-06-02 00:00:00", "click", "web"),
                  (6, "2024-06-03 00:00:00", "purchase", "web")])
    assert second == batch_expected(6)
    assert second[("web", 3)][0] == 1  # user 6 reached purchase


def test_streaming_funnel_segment_name_collision_rejected(spark, tmp_path):
    """r11 review: segment_name colliding with an output column (or a
    step) must raise instead of silently duplicating a schema field."""
    from eel_spark.streaming import streaming_funnel

    stream = (
        spark.readStream.schema(
            "user_id BIGINT, ts TIMESTAMP, event_type STRING, device STRING"
        ).parquet(str(tmp_path))
    )
    steps = {"view": F.lit(True), "click": F.lit(False)}
    for bad in ("final", "user_id", "folded_until_us", "view"):
        with pytest.raises(ValueError, match="collides"):
            streaming_funnel(stream, steps, segment="device",
                             segment_name=bad)


def test_streaming_funnel_report_sink_n_buckets_frozen(spark, tmp_path):
    """r11 review: restarting the report sink with a different n_buckets
    must fail loudly — re-hashed users would duplicate in the
    bucket-pruned state store."""
    from eel_spark.streaming import (
        streaming_funnel,
        streaming_funnel_report_sink,
    )

    src = tmp_path / "nbwaves"
    src.mkdir()
    _write_wave_seg(
        str(src / "w0.parquet"),
        [(1, "2024-01-01 00:00:00", "view", "web"),
         (-999, "2024-03-15 00:00:00", "noop", "flush")],
    )
    steps = {
        "view": F.col("event_type") == "view",
        "click": F.col("event_type") == "click",
    }

    def run(n_buckets):
        stream = (
            spark.readStream.schema(
                "user_id BIGINT, ts TIMESTAMP, event_type STRING, "
                "device STRING"
            ).parquet(str(src))
        )
        out = streaming_funnel(
            stream, steps, within="7 days", watermark="30 days",
            segment="device",
        )
        q = streaming_funnel_report_sink(
            out, str(tmp_path / "sink"), str(tmp_path / "ckpt_nb"),
            list(steps), segment_name="segment", n_buckets=n_buckets,
        )
        q.awaitTermination(120)
        return q

    run(8)
    _write_wave_seg(
        str(src / "w1.parquet"),
        [(2, "2024-01-02 00:00:00", "view", "ios")],
    )
    with pytest.raises(Exception, match="n_buckets"):
        q = run(4)


def test_streaming_funnel_report_sink_foreign_lease_rejected(spark, tmp_path):
    """A foreign store lease (another live writer) fails the batch
    loudly instead of silently interleaving the keyed merge; a
    same-batch stale lease self-adopts (checkpoint-replay recovery).
    The sink holds the one store lease (``<path>__maint_lease``)."""
    from eel_spark.operators.maintenance import MAINT_LEASE_SUFFIX
    from eel_spark.sources.hdfs import HdfsOps
    from eel_spark.streaming import (
        streaming_funnel,
        streaming_funnel_report_sink,
    )

    src = tmp_path / "lwaves"
    src.mkdir()
    _write_wave_seg(
        str(src / "w0.parquet"),
        [(1, "2024-01-01 00:00:00", "view", "web"),
         (-999, "2024-03-15 00:00:00", "noop", "flush")],
    )
    steps = {
        "view": F.col("event_type") == "view",
        "click": F.col("event_type") == "click",
    }
    sink_root = str(tmp_path / "sink")
    lease = sink_root + MAINT_LEASE_SUFFIX
    ops = HdfsOps(spark)
    ops.mkdirs(sink_root)
    assert ops.create_atomic(lease, content="funnel_report [batch=999]\n")

    def run():
        stream = (
            spark.readStream.schema(
                "user_id BIGINT, ts TIMESTAMP, event_type STRING, "
                "device STRING"
            ).parquet(str(src))
        )
        out = streaming_funnel(
            stream, steps, within="7 days", watermark="30 days",
            segment="device",
        )
        q = streaming_funnel_report_sink(
            out, sink_root, str(tmp_path / "ckpt_lease"), list(steps),
            segment_name="segment",
        )
        q.awaitTermination(120)

    with pytest.raises(Exception, match="active writer"):
        run()
    # stale lease for the batch the checkpoint now replays: self-adopts
    ops.delete(lease)
    assert ops.create_atomic(lease, content="funnel_report [batch=0]\n")
    run()
    assert not ops.exists(lease)  # released
    assert spark.read.parquet(f"{sink_root}/report").count() > 0


def test_segmented_funnel_adds_no_exchanges(spark, tmp_path):
    """Scale shape: the segment column rides the funnel's one user-key
    exchange — the segmented plan has exactly as many shuffles as the
    unsegmented one (attribution is in-kernel state, never a join)."""
    import re

    from eel_spark.streaming import streaming_funnel

    _write_wave_seg(
        str(tmp_path / "w0.parquet"),
        [(1, "2024-01-01 00:00:00", "view", "web")],
    )
    steps = {
        "view": F.col("event_type") == "view",
        "click": F.col("event_type") == "click",
    }

    def n_exchanges(segment):
        stream = (
            spark.readStream.schema(
                "user_id BIGINT, ts TIMESTAMP, event_type STRING, "
                "device STRING"
            ).parquet(str(tmp_path))
        )
        out = streaming_funnel(
            stream, steps, within="7 days", watermark="30 days",
            segment=segment,
        )
        # analyzed logical plan suffices: count repartition/exchange ops
        plan = out._jdf.queryExecution().analyzed().toString()
        # stateful op implies one hash partitioning on the grouping key;
        # compare the full operator inventory between the two plans
        ops = re.findall(r"FlatMapGroupsInPandasWithState|Repartition", plan)
        return ops

    assert n_exchanges(None) == n_exchanges("device")


def test_streaming_ivf_sink_matches_one_shot(spark, tmp_path):
    """An IVF index maintained from a 3-wave embedding stream serves
    bit-identical top-k to the one-shot ivf_topk over the union, and the
    drift report carries one row per streamed batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eel_spark.operators.similarity import (
        init_ivf_index,
        ivf_drift_report,
        ivf_topk,
        ivf_topk_against_index,
        train_centroids,
    )
    from eel_spark.streaming import streaming_ivf_sink

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    centroids = train_centroids(emb, n_cells=8, iterations=2)
    path = str(tmp_path / "ivf_stream_index")
    init_ivf_index(path, centroids)
    src = tmp_path / "vec_waves"
    src.mkdir()
    for i in range(3):
        pdf = emb.where(F.col("vec_id") % 3 == i).toPandas()
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            str(src / f"wave{i}.parquet"),
        )
    stream = (
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = streaming_ivf_sink(stream, path, str(tmp_path / "ckpt_ivf"))
    q.awaitTermination(120)

    queries = emb.where(F.col("vec_id") < 3).withColumnRenamed(
        "vec_id", "query_id"
    )
    got = ivf_topk_against_index(spark, path, queries, k=5, n_probe=3)
    want = ivf_topk(emb, queries, centroids, k=5, n_probe=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    drift = ivf_drift_report(spark, path).collect()
    assert len(drift) == 3 and sum(r["n_vectors"] for r in drift) == 500


def test_streaming_scd2_enrich_sink_matches_batch_enrich(spark, tmp_path):
    """A 3-wave fact stream enriched point-in-time against a static SCD2
    dimension ≡ one batch scd2_enrich over the union, and a replayed
    batch overwrites its own partition instead of duplicating."""
    import glob
    import os
    from datetime import date

    from eel_spark.operators.scd2 import scd2_merge, scd2_enrich
    from eel_spark.streaming import streaming_scd2_enrich_sink

    dim_path = str(tmp_path / "dim")
    changes = spark.createDataFrame(
        [(1, "A", date(2024, 1, 1), 1), (2, "X", date(2024, 1, 1), 2),
         (1, "B", date(2024, 2, 1), 3), (2, "Y", date(2024, 3, 1), 4)],
        "k long, seg string, d date, seq long",
    )
    scd2_merge(spark, dim_path, changes, "k", ["seg"], "d", ["seq"], n_buckets=4)

    fact_schema = "fact_id long, k long, d date, amount long"
    waves = [
        [(10, 1, date(2024, 1, 15), 5), (11, 2, date(2024, 1, 20), 7)],
        [(12, 1, date(2024, 2, 15), 9), (13, 9, date(2024, 2, 16), 1)],
        [(14, 2, date(2024, 3, 15), 3), (15, 1, date(2023, 12, 1), 2)],
    ]
    in_dir = tmp_path / "facts_in"
    in_dir.mkdir()
    for i, rows in enumerate(waves):
        spark.createDataFrame(rows, fact_schema).coalesce(1).write.parquet(
            str(in_dir / f"w{i}")
        )
    out_path = str(tmp_path / "enriched")
    facts = (
        spark.readStream.schema(fact_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    q = streaming_scd2_enrich_sink(
        facts, dim_path, out_path, str(tmp_path / "ck"), "k", "d", n_buckets=4
    )
    q.awaitTermination(180)

    def enriched_state():
        return sorted(
            (r["fact_id"], r["k"], str(r["d"]), r["amount"], r["seg"])
            for r in spark.read.parquet(out_path).collect()
        )

    got = enriched_state()
    want_df = scd2_enrich(
        spark.createDataFrame([r for w in waves for r in w], fact_schema),
        spark, dim_path, "k", "d",
    )
    want = sorted(
        (r["fact_id"], r["k"], str(r["d"]), r["amount"], r["seg"])
        for r in want_df.collect()
    )
    assert got == want and len(got) == 6
    # unknown key (9) and pre-history fact (2023-12) carry NULL seg
    segs = {r[0]: r[4] for r in got}
    assert segs[13] is None and segs[15] is None
    # point-in-time: fact 10 (Jan) sees A, fact 12 (Feb) sees B
    assert segs[10] == "A" and segs[12] == "B"
    # replay: re-run with a fresh checkpoint (same batch ids) — dynamic
    # overwrite per batch_id partition leaves the output identical
    q2 = streaming_scd2_enrich_sink(
        spark.readStream.schema(fact_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*")),
        dim_path, out_path, str(tmp_path / "ck2"), "k", "d", n_buckets=4,
    )
    q2.awaitTermination(180)
    assert enriched_state() == got
    assert len(glob.glob(f"{out_path}/batch_id=*")) == 3
