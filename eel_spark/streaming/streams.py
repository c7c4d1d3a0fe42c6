"""Structured Streaming — the distributed answer to the reference's
push-based pub/sub core.

The reference's DataStream *is* a stream (Publisher/Subscriber over row
chunks, DataStream.scala:33) but single-process and unmanaged: no
watermarks, no state store, no exactly-once sinks. This module maps that
model onto Structured Streaming: file/rate sources → windowed/stateful
transforms → parquet/memory sinks with checkpoints.

Everything is built for event-time correctness at scale: watermarks bound
state, window aggregations are partial+final, and the custom stateful
operator uses applyInPandasWithState (Arrow-batched per-key state).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from eel_spark.operators.maintenance import (
    _overwrite_partitions,
    locked_store_write,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

#: key-space sub-buckets per band in the incremental-dedup banded history
#: layout — partition dirs per batch are bounded by bands × _N_KP, and a
#: micro-batch's history read prunes to the (band, kp) buckets its own
#: fingerprints hash into
_N_KP = 16

def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENT_SCHEMA,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-arrival stream (the micro-batch twin of eel's source
    publisher): new files under ``path`` become micro-batches."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .format(fmt)
        .load(path)
    )


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic rate source shaped like the events table."""
    df = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return df.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 50).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ["click", "view", "purchase", "signup", "error"]]),
            (F.col("value") % 5 + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64("value"), 10000) / 100.0).alias("value"),
        F.lit("{}").alias("props"),
    )


def tumbling_window_agg(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling event-time aggregation with late-data watermark.

    The watermark bounds state: at 100 TB/day ingest, state is
    O(active windows × key cardinality), not O(stream length).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "total_value",
        )
    )


def sliding_window_agg(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n")
    )


def session_window_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Built-in session windows (gap-based), the declarative twin of the
    batch sessionization in queries/ops.py."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id", "n_events", "session_value",
        )
    )


_SESSION_STATE_SCHEMA = "n_events LONG, total DOUBLE, last_ts TIMESTAMP"
_SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("closed", T.BooleanType()),
    ]
)


def _session_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful kernel: per-user running session (count/sum) with a
    processing-time timeout closing the session."""
    if state.hasTimedOut:
        n, total, _ = state.get
        state.remove()
        yield pd.DataFrame(
            [{"user_id": key[0], "n_events": n, "total": total, "closed": True}]
        )
        return
    n, total = 0, 0.0
    if state.exists:
        n, total, _ = state.get
    last_ts = None
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
        last_ts = pdf["ts"].max()
    state.update((n, total, last_ts))
    state.setTimeoutDuration(30_000)
    yield pd.DataFrame(
        [{"user_id": key[0], "n_events": n, "total": total, "closed": False}]
    )


def sessionize_stateful(events: DataFrame) -> DataFrame:
    """applyInPandasWithState sessionization — the escape hatch for
    stateful logic session_window can't express (custom close conditions,
    per-key models). Arrow-batched; state is per-key, store-backed,
    timeout-bounded."""
    return events.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def _funnel_fold(anchors: list, within_us: int | None, ts: int, s: int) -> None:
    """Advance first-touch anchors with ONE event (epoch-µs, step index),
    applied in global event-time order. Mirrors the batch operator's
    cumulative-conditional-min semantics (operators/funnel.funnel_times):
    step 0 anchors at its earliest event; step s anchors at the earliest
    qualifying event STRICTLY after step s-1's anchor and (with a
    horizon) no later than step 0's anchor + within."""
    if s == 0:
        if anchors[0] is None:
            anchors[0] = ts
        return
    if anchors[s] is not None or anchors[s - 1] is None or ts <= anchors[s - 1]:
        return
    if within_us is not None and ts > anchors[0] + within_us:
        return
    anchors[s] = ts


def streaming_funnel(
    events: DataFrame,
    steps,
    user_col: str = "user_id",
    ts_col: str = "ts",
    within: str | None = None,
    watermark: str = "10 minutes",
    final_ttl: str | None = None,
    segment: Column | str | None = None,
    segment_name: str = "segment",
) -> DataFrame:
    """Streaming first-touch funnel — per-user step-anchor maintenance
    with event-time finalization (the streaming twin of
    ``operators/funnel.funnel_times``).

    Why stateful-custom and not a windowed agg: a late-but-in-watermark
    early event can REWRITE the whole downstream anchor chain (a late
    'view' at t-5 moves step 1 earlier, which may re-qualify a 'click'
    that previously failed the strictly-after condition), so running
    anchors alone are not a sufficient statistic. The kernel therefore
    BUFFERS events newer than the event-time watermark and folds them
    into the anchor state only once the watermark passes them — at that
    point their global order is final (nothing older can still arrive),
    so folding in sorted order reproduces the batch semantics exactly.
    Events at or before the already-folded frontier are ignored
    deterministically (the documented watermark-late contract, enforced
    in the kernel rather than left to the source's best-effort drop).

    State per user = k anchor epochs + the bounded not-yet-final event
    buffer (everything ≤ watermark folds away each trigger, so the
    buffer holds at most the watermark-delay window of that user's
    step events — the same bound every watermarked stateful op carries).
    An event-time timeout re-invokes idle keys when the watermark
    advances so anchors finalize without requiring new per-key traffic.
    Once the funnel completes or the ``within`` horizon expires behind
    the watermark, the key emits its ``final=true`` row ONCE and the
    state collapses to a small done-tombstone (anchors only, empty
    buffer, no timeout) — kept so post-final traffic for the user
    (ongoing events, beyond-watermark redeliveries) is ignored instead
    of resurrecting a fresh funnel that would supersede the completed
    one under the latest-row consumer contract; batch ``funnel_times``
    likewise computes ONE funnel per user over all history. Tombstone
    size is a fixed few dozen bytes per finalized user — O(total users
    ever) if kept forever, so ``final_ttl`` bounds the state lifecycle:
    the tombstone is evicted once the watermark passes
    finality + final_ttl (an event-time timeout re-arms on any
    post-final traffic, so eviction needs no per-key traffic). The
    trade-off is explicit: after eviction, post-final traffic or a
    beyond-watermark redelivery for that user starts a FRESH funnel
    whose rows supersede the completed one under the latest-row
    contract — set ``final_ttl`` only when consumers anchor on
    ``final=true`` rows or per-user traffic ends within the TTL; leave
    it None (default) for the keep-forever tombstone when the user
    universe is bounded. Without ``within``, an incomplete funnel stays
    live indefinitely — set a horizon in production.
    First-touch segmentation (r11, the streaming twin of
    ``funnel_report_by``): pass ``segment`` (a column name or expression
    over the event row, cast to string) and every output row carries
    ``segment_name`` = the segment of the user's attributed step-1 event
    — frozen into the anchor state the moment step 1 anchors, exactly
    like the anchor timestamp itself, so it survives finalization,
    tombstones, and checkpoint replay. Tie handling matches the batch
    operator's ``min_by(segment, struct(ts, segment))``: among step-1
    events at the SAME final timestamp the smallest segment (NULL first)
    wins, which the kernel gets for free by folding each watermark-final
    batch in (ts, step, segment) sorted order. One extra state column;
    segments never multiply the event shuffle. Feed the latest row per
    user to ``operators/funnel.funnel_state_report`` for the
    per-(segment, step) report shape.
    Output (update mode): a row is emitted only when the key is first
    seen, an anchor changes, or finality is reached — idle
    watermark-advance timeouts stay silent — with the current anchor
    timestamps, ``final``, and ``folded_until_us`` (take the
    max-``folded_until_us`` row per user for the latest state).
    """
    names = list(steps)
    if len(names) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    has_seg = segment is not None
    reserved = {user_col, "final", "folded_until_us"}
    if has_seg:
        if segment_name in reserved or segment_name in names:
            raise ValueError(
                f"segment_name {segment_name!r} collides with an output "
                f"column ({sorted(reserved)} or a step name) — rename it"
            )
        reserved.add(segment_name)
    clash = [n for n in names if n in reserved]
    if clash:
        raise ValueError(
            f"step name(s) {clash} collide with the output columns "
            f"({sorted(reserved)}) — rename the steps"
        )
    k = len(names)
    within_us = None
    if within is not None:
        within_us = int(pd.Timedelta(within).value // 1_000)
    ttl_us = None
    if final_ttl is not None:
        ttl_us = int(pd.Timedelta(final_ttl).value // 1_000)

    arr = F.array(
        *[F.when(c, F.lit(i)) for i, c in enumerate(steps.values())]
    )
    seg_cols = []
    if has_seg:
        seg_expr = F.col(segment) if isinstance(segment, str) else segment
        seg_cols = [seg_expr.cast("string").alias("__seg")]
    ev = (
        events.withWatermark(ts_col, watermark)
        .select(
            F.col(user_col),
            F.col(ts_col),
            *seg_cols,
            F.explode(F.filter(arr, lambda x: x.isNotNull())).alias("__step"),
        )
    )
    out_schema = T.StructType(
        [events.schema[user_col]]
        + [T.StructField(n, T.TimestampType()) for n in names]
        + ([T.StructField(segment_name, T.StringType())] if has_seg else [])
        + [
            T.StructField("final", T.BooleanType()),
            T.StructField("folded_until_us", T.LongType()),
        ]
    )
    # the segmented variant appends its two state columns LAST so the
    # unsegmented schema stays byte-compatible with pre-r11 checkpoints
    state_schema = (
        "anchors ARRAY<BIGINT>, buf_ts ARRAY<BIGINT>, "
        "buf_step ARRAY<INT>, folded BIGINT, done BOOLEAN"
    )
    if has_seg:
        state_schema += ", buf_seg ARRAY<STRING>, seg STRING"

    def _sort_key(entry):
        # (ts, step) primary — among equal (ts, step=1) events the
        # NULL-first smallest segment folds first, matching the batch
        # min_by(segment, struct(ts, segment)) tie-break
        t, s, g = entry
        return (t, s, g is not None, g or "")

    def fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
        anchors: list = [None] * k
        buf: list = []  # (ts_us, step, segment-or-None) triples
        seg_val = None
        folded = -(1 << 62)
        fresh = not state.exists
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1_000
        if state.exists:
            if has_seg:
                (st_anchors, st_ts, st_step, folded, done,
                 st_seg, seg_val) = state.get
            else:
                st_anchors, st_ts, st_step, folded, done = state.get
                st_seg = [None] * len(st_ts)
            if done:  # finalized: ignore post-final traffic, stay silent
                for _ in batches:
                    pass
                if ttl_us is not None:
                    # `folded` froze at the finality watermark, so the
                    # eviction point is derivable without a schema field
                    expiry_us = int(folded) + ttl_us
                    if wm_us >= expiry_us:
                        state.remove()  # tombstone TTL elapsed: evict
                    else:
                        # re-arm (traffic invocations clear the timeout)
                        state.setTimeoutTimestamp(expiry_us // 1_000 + 1)
                return
            anchors = [None if a is None else int(a) for a in st_anchors]
            buf = [
                (int(t), int(s), g)
                for t, s, g in zip(st_ts, st_step, st_seg)
            ]
            folded = int(folded)
        before = list(anchors)
        for pdf in batches:  # empty on a timeout invocation
            ts = pdf[ts_col]
            if getattr(ts.dtype, "tz", None) is not None:
                ts = ts.dt.tz_localize(None)
            ts_us = ts.astype("datetime64[us]").astype("int64")
            segs = (
                [None if pd.isna(g) else str(g) for g in pdf["__seg"]]
                if has_seg
                else [None] * len(pdf)
            )
            for t, s, g in zip(
                ts_us.tolist(), pdf["__step"].tolist(), segs
            ):
                if t > folded:  # deterministic too-late ignore
                    buf.append((int(t), int(s), g))
        buf.sort(key=_sort_key)
        keep = []
        for t, s, g in buf:
            if t <= wm_us:
                if s == 0 and anchors[0] is None:
                    # first-touch attribution freezes with the anchor
                    seg_val = g
                _funnel_fold(anchors, within_us, t, s)
            else:
                keep.append((t, s, g))
        buf = keep
        folded = max(folded, wm_us)
        complete = all(a is not None for a in anchors)
        expired = (
            within_us is not None
            and anchors[0] is not None
            and wm_us > anchors[0] + within_us
        )
        final = complete or expired

        def _update(done_flag, entries):
            base = (
                anchors,
                [t for t, _, _ in entries],
                [s for _, s, _ in entries],
                folded,
                done_flag,
            )
            if has_seg:
                # seg kept in the tombstone too: replays stay attributed
                base = base + ([g for _, _, g in entries], seg_val)
            state.update(base)

        if final:
            # done-tombstone: anchors kept, buffer dropped — the key
            # never emits or folds again; with final_ttl the timeout
            # stays armed so the tombstone self-evicts at expiry
            _update(True, [])
            if ttl_us is not None:
                state.setTimeoutTimestamp((folded + ttl_us) // 1_000 + 1)
        else:
            _update(False, buf)
            state.setTimeoutTimestamp(wm_ms + 1)
        if not (fresh or final or anchors != before):
            return  # idle watermark tick: nothing changed, stay silent
        row = {user_col: key[0], "final": final, "folded_until_us": folded}
        if has_seg:
            row[segment_name] = seg_val
        for i, n in enumerate(names):
            row[n] = (
                pd.Timestamp(anchors[i], unit="us")
                if anchors[i] is not None
                else pd.NaT
            )
        out = pd.DataFrame([row])
        for n in names:
            out[n] = pd.to_datetime(out[n])
        yield out

    return ev.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka readStream (gated: needs the spark-sql-kafka package and a
    broker — neither is in this container). Surfaces the standard
    (key, value, topic, partition, offset, timestamp) frame; parallelism
    = topic partition count, the Kafka-side scale knob."""
    try:
        df = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:  # pragma: no cover - no broker in container
        raise RuntimeError(
            "Kafka streams need org.apache.spark:spark-sql-kafka-0-10_2.13 "
            "and a reachable broker."
        ) from e
    return df.select(
        F.col("key").cast("string"),
        F.col("value").cast("string"),
        "topic", "partition", "offset", "timestamp",
    )


def kafka_stream_sink(
    df: DataFrame, bootstrap_servers: str, topic: str, checkpoint: str
):
    """writeStream → Kafka (gated); rows must carry string key/value
    columns (see sources/kafka.py:_to_kafka_frame for the serializer)."""
    try:
        return (
            df.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("checkpointLocation", checkpoint)
            .start()
        )
    except Exception as e:  # pragma: no cover
        raise RuntimeError(
            "Kafka streams need org.apache.spark:spark-sql-kafka-0-10_2.13 "
            "and a reachable broker."
        ) from e


def streaming_dedup(
    events: DataFrame, keys: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Once-per-key-within-watermark stream dedup with BOUNDED state.

    Plain ``dropDuplicates(keys)`` only evicts state when the event-time
    column is itself part of the keys — with keys like ``['event_id']``
    the state store grows O(distinct keys ever seen). We use
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+), which evicts each
    key's state once the watermark passes its event time, so state is
    O(keys per watermark window). Semantics change accordingly: a key
    recurring AFTER the watermark window is emitted again — that is the
    price of bounded state on an unbounded stream.
    The batch twin is ``dropDuplicates`` / dedup_exact (operators/dedup)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def streaming_corpus_prep(
    docs: DataFrame,
    min_tokens: int = 10,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of pipeline_prepare_corpus: quality gate → content
    fingerprint → watermark-bounded dedup → per-(lang, source) corpus
    accounting, all on an unbounded document stream.

    The quality gate and fingerprint are the same Catalyst expressions the
    batch path uses (functions/text.py) — operators compose identically in
    both modes. Dedup keys on the normalized-content fingerprint with
    ``dropDuplicatesWithinWatermark``: state is bounded to one fingerprint
    per watermark window (an exact unbounded dedup would merge into a
    survivor table via foreachBatch — idempotent_batch_sink's pattern).
    Documents carry no event time, so ingest time is stamped with
    ``current_timestamp()``. CAVEAT: the stamp is re-evaluated when a
    failed micro-batch replays from the checkpoint, so a document can
    land in a different watermark window after recovery and dedup once
    more. That is the bounded-state trade; when exactly-once dedup across
    failures is required, carry a REAL event-time column from the source
    (or merge into a survivor table via idempotent_batch_sink's
    foreachBatch pattern) instead of an ingest stamp."""
    from eel_spark.functions import text as TX

    scored = (
        docs.withColumn("__ingest", F.current_timestamp())
        .withColumn("n_tokens", TX.token_count("text"))
        .filter(F.col("n_tokens") >= min_tokens)
        .withColumn("fp", TX.fingerprint(TX.normalized_text("text")))
    )
    deduped = scored.withWatermark("__ingest", watermark).dropDuplicatesWithinWatermark(
        ["fp"]
    )
    return deduped.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def incremental_near_dedup_sink(
    docs: DataFrame,
    survivor_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    maintain_every: int | None = None,
    maintain_kwargs: dict | None = None,
):
    """Streaming NEAR-duplicate suppression against the full history —
    the incremental-crawl shape of a training-data pipeline: each new
    wave of documents is deduped within itself AND against every
    survivor ever admitted, with no watermark horizon.

    Per micro-batch (foreachBatch): simhash-fingerprint the batch →
    intra-batch near-dedup (band self-join + hamming verify + min-id
    component survivor — the batch ``simhash_near_duplicates`` +
    ``survivors_from_pairs`` pipeline, run through the same
    ``operators/dedup`` helpers: ``_simhash_fingerprints``,
    ``_simhash_banded`` and ``_hamming_pairs``, uncapped) → band-join
    the remainder against the accumulated survivor table and drop
    anything within ``max_hamming`` of an existing survivor → append
    the rest under a ``batch_id=N`` partition with dynamic overwrite.
    The history side-table holds the same ``_simhash_banded`` rows.

    Contrast with ``streaming_dedup``: that one bounds state via the
    watermark (a dup arriving after the horizon re-emits); here state is
    the survivor PARQUET TABLE — storage, not the state store — so it
    scales like any other table, and a near-dup of a document admitted
    weeks ago is still suppressed. The history match reads a banded
    side-table partitioned by key-space bucket, so each micro-batch
    scans only the buckets its own fingerprints hash into, not the full
    accumulated history (see ``_incremental_dedup_sink``).
    Exactly-once: a replayed batch overwrites its own partition, and the
    history match EXCLUDES the current batch_id's partition so a replay
    never matches the failed attempt's own rows (which would empty the
    partition and lose the batch).
    """
    from eel_spark.functions import hashes
    from eel_spark.operators.dedup import (
        _check_pigeonhole,
        _simhash_banded,
        _simhash_fingerprints,
    )

    _check_pigeonhole(max_hamming, bands)
    return _incremental_dedup_sink(
        docs, survivor_path, checkpoint, id_col,
        lambda batch_df: _simhash_fingerprints(batch_df, text_col, id_col),
        lambda fp_df, ident: _simhash_banded(fp_df, ident, bands),
        hashes.hamming64, max_hamming,
        maintain_every=maintain_every, maintain_kwargs=maintain_kwargs,
    )


def incremental_embedding_dedup_sink(
    vectors_stream: DataFrame,
    survivor_path: str,
    checkpoint: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_hamming: int = 7,
    bands_per_word: int = 8,
    maintain_every: int | None = None,
    maintain_kwargs: dict | None = None,
):
    """Embedding twin of ``incremental_near_dedup_sink``: each wave of
    vectors is sign-sketched (``vectors.pack_sign_bits`` — the bq_topk
    signature), deduped within the batch and against the full survivor
    history by sketch Hamming distance, with the same survivor-table /
    batch_id-partition exactly-once mechanics. Bands are ``bands_per_word``
    chunks of each 64-bit sketch word (pigeonhole: two sketches within
    Hamming n_words·bands_per_word − 1 share a band); candidates verify
    with the exact word-wise Hamming before dropping. The within-wave
    pairs come from the batch operators' ``_hamming_pairs`` (uncapped);
    only the fingerprint and the banding are this sink's own."""
    from eel_spark.functions import vectors as V
    from eel_spark.operators.dedup import _check_pigeonhole

    n_words = (dim + 63) // 64
    if 64 % bands_per_word != 0:
        raise ValueError(f"bands_per_word={bands_per_word} must divide 64")
    _check_pigeonhole(max_hamming, n_words * bands_per_word)
    band_bits = 64 // bands_per_word
    mask = (1 << band_bits) - 1 if band_bits < 64 else -1

    def fp_fn(batch_df: DataFrame) -> DataFrame:
        return batch_df.select(
            F.col(id_col), V.pack_sign_bits(F.col(vec_col), dim).alias("fp")
        )

    def band_fn(fp_df: DataFrame, ident: str) -> DataFrame:
        words = fp_df.select(
            F.col(ident), "fp", F.posexplode("fp").alias("__w", "__word")
        )
        return words.select(
            ident,
            "fp",
            F.explode(
                F.sequence(F.lit(0), F.lit(bands_per_word - 1))
            ).alias("__b"),
            "__w",
            "__word",
        ).select(
            ident,
            "fp",
            (F.col("__w") * bands_per_word + F.col("__b")).alias("band"),
            F.call_function(
                "shiftright", F.col("__word"), (F.col("__b") * band_bits).cast("int")
            ).bitwiseAND(F.lit(mask).cast("long")).alias("key"),
        )

    return _incremental_dedup_sink(
        vectors_stream, survivor_path, checkpoint, id_col,
        fp_fn, band_fn, V.hamming, max_hamming,
        maintain_every=maintain_every, maintain_kwargs=maintain_kwargs,
    )


def _backfill_bands_from_survivors(
    spark: SparkSession, survivor_path: str, bands_path: str, band_fn, id_col
):
    """Upgrade a pre-banded-layout dedup store: derive the ``__bands``
    side-table from the survivor table, preserving each survivor's
    original batch_id (the replay-safety filter keys on it). Returns the
    freshly-readable bands table, or None when there is genuinely no
    history. Crash-safe: the backfill lands in a ``__backfill_tmp``
    sibling and is renamed into place only once fully written, so a
    killed backfill re-runs from scratch instead of leaving a partial
    side-table that would silently admit near-duplicates."""
    from eel_spark.operators.maintenance import _read_store
    from eel_spark.sources.hdfs import HdfsOps

    # only a missing/empty survivor table means "genuinely fresh store"
    old = _read_store(spark, survivor_path)
    if old is None or not old.take(1):
        return None
    banded = (
        band_fn(old.drop("batch_id"), id_col)
        .withColumn("kp", F.pmod(F.col("key"), F.lit(_N_KP)).cast("int"))
        .join(old.select(id_col, "batch_id"), id_col)
        .repartition("band", "kp")
    )
    tmp = bands_path + "__backfill_tmp"
    (
        banded.write.mode("overwrite")
        .partitionBy("batch_id", "band", "kp")
        .parquet(tmp)
    )
    ops = HdfsOps(spark)
    if ops.exists(bands_path):
        ops.delete(bands_path, recursive=True)
    ops.rename(tmp, bands_path)
    return spark.read.parquet(bands_path)


def _incremental_dedup_sink(
    stream_df: DataFrame,
    survivor_path: str,
    checkpoint: str,
    id_col: str,
    fp_fn,
    band_fn,
    ham_fn,
    max_hamming: int,
    maintain_every: int | None = None,
    maintain_kwargs: dict | None = None,
):
    """Shared skeleton for the incremental (full-history) near-dedup
    sinks: fingerprint → intra-batch band-join/verify/component-survivor →
    anti-join vs accumulated survivors → idempotent batch_id-partition
    append. ``fp_fn(batch) → (id, fp)``, ``band_fn(fp_df, ident) →
    (ident, fp, band, key)``, ``ham_fn(a, b) → Column``. The intra-batch
    pairs are ``operators.dedup._hamming_pairs`` over ``band_fn``'s
    frame, uncapped: the batch operators' band self-join and Hamming
    verify, not a copy of them. A struct (id, fp) member orders on id
    first, so pairs keep id_a < id_b (for the one exception, an id
    repeated within a wave, see ``_bucket_pairs``).

    History layout (the per-batch scan-cost lever): alongside the
    user-facing survivor table (one row per admitted id, partitioned by
    ``batch_id``), the sink maintains a BANDED side-table at
    ``survivor_path + "__bands"`` — pre-exploded (id, fp, key) rows
    partitioned by ``(batch_id, band, kp)`` with ``kp = pmod(key,
    _N_KP)``. The per-batch history match collects the batch's distinct
    (band, kp) pairs (bounded by bands × _N_KP, never by data size) and
    pushes them as a partition predicate, so each micro-batch reads back
    only the key-space buckets its own fingerprints could possibly match
    (two fingerprints within the hamming bound share an identical band
    key → identical (band, kp)) instead of the full O(history) table.
    Pre-banding also kills the old per-batch re-explosion of the whole
    history. Both tables are written with dynamic partition overwrite on
    the batch's own partitions, so checkpoint replay stays exactly-once.

    Migration: a store created before the banded layout (survivor table
    populated, ``__bands`` side-table absent) is detected on first use
    and the side-table is backfilled from the survivor table in one
    pass — silently skipping the history anti-join would re-admit
    near-duplicates of every pre-upgrade survivor.
    """
    from eel_spark.operators.dedup import _hamming_pairs, survivors_from_pairs
    from eel_spark.operators.maintenance import (
        _read_store,
        commit_batch,
        store_write_lease,
    )

    spark = stream_df.sparkSession
    bands_path = survivor_path + "__bands"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the store's single-writer lease for the append (the same lock
        # the compactor takes — maintain-vs-append fails loudly). The
        # batch-id token makes a crashed attempt's stranded lease
        # self-adoptable on checkpoint replay; the with-statement
        # releases it whatever the admission raises (r14 review: fp_fn
        # once ran between a bare acquisition and its try — a
        # schema-drift AnalysisException stranded the lease with the
        # process alive)
        with store_write_lease(
            spark, survivor_path, "incremental_dedup_append",
            token=f"batch={batch_id}",
        ):
            admit(batch_df, batch_id)

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        from eel_spark.caching import pins_mark, release_pins_since

        # connected-components tracks its label table as a pin; scope the
        # release to THIS batch's pins so a long-running stream holds O(1)
        # executor storage without evicting concurrent queries' caches
        __mark = pins_mark()
        fp = surv_pinned = None
        try:
            fp = fp_fn(batch_df).persist()
            # the batch pair stage, uncapped: a wave's buckets are
            # bounded by the wave, and dropping an over-cap bucket would
            # admit its near-duplicates
            pairs = _hamming_pairs(
                band_fn(fp, id_col), id_col, ham_fn, max_hamming, None
            ).select("id_a", "id_b")
            # propagation, explicitly: intra-batch pair graphs are tiny
            # and star-shaped (the case propagation wins), and the star
            # variant's per-round checkpoint + pin tracking would
            # accumulate work/storage across a long-running stream.
            # A pathological batch (drift chain deeper than propagation's
            # max_iterations) now FAILS the batch loudly instead of
            # silently writing several survivors from one dup group into
            # the history table — restart with a higher max_iterations
            # (or switch this call to star) rather than absorbing
            # corrupted state forever
            surv = surv_pinned = survivors_from_pairs(
                fp, pairs, id_col, algorithm="propagation"
            ).persist()
            sb = band_fn(surv, id_col).withColumn(
                "kp", F.pmod(F.col("key"), F.lit(_N_KP)).cast("int")
            )
            # "no bands table" (missing, or every prior batch wrote zero
            # survivors) is only "no history" when there are no
            # survivors either — a populated survivor table with no
            # side-table is a pre-banded-layout store that must be
            # backfilled before the anti-join can be trusted
            hist = _read_store(spark, bands_path)
            if hist is None:
                hist = _backfill_bands_from_survivors(
                    spark, survivor_path, bands_path, band_fn, id_col
                )
            if hist is not None:
                # partition-pruning predicate over the banded layout:
                # the batch's distinct (band, kp) pairs, bounded by
                # bands × _N_KP — never by batch or history size
                probe = sb.select("band", "kp").distinct().collect()
                part_pred = F.lit(False)
                for r in probe:
                    part_pred = part_pred | (
                        (F.col("band") == r["band"]) & (F.col("kp") == r["kp"])
                    )
                hb = hist.filter(
                    # replay safety: never match against this batch's own
                    # (possibly partial) earlier write
                    (F.col("batch_id") != batch_id) & part_pred
                )
                hits = (
                    sb.join(
                        hb.select(
                            "band", "kp", "key", F.col("fp").alias("__hfp")
                        ),
                        ["band", "kp", "key"],
                    )
                    .filter(ham_fn(F.col("fp"), F.col("__hfp")) <= max_hamming)
                    .select(id_col)
                    .distinct()
                )
                surv = surv.join(hits, id_col, "left_anti")
            commit_batch(
                surv.withColumn("batch_id", F.lit(batch_id)),
                survivor_path, batch_id, ("batch_id",),
            )
            commit_batch(
                band_fn(surv, id_col)
                .withColumn("kp", F.pmod(F.col("key"), F.lit(_N_KP)).cast("int"))
                .withColumn("batch_id", F.lit(batch_id))
                # one task per (band, kp) → one file per partition dir
                .repartition("band", "kp"),
                bands_path, batch_id, ("batch_id", "band", "kp"),
            )
        finally:
            for df in (fp, surv_pinned):
                if df is not None:
                    df.unpersist()
            release_pins_since(__mark)

    return _store_sink(
        stream_df, survivor_path, checkpoint, write_batch,
        maintain_every, maintain_kwargs,
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval constraint:
    right rows join left rows of the same key with
    ``left_ts ≤ right_ts ≤ left_ts + within``.

    Both sides are watermarked and the time-range predicate is what lets
    Spark *evict* join state — an unconstrained stream-stream join would
    buffer both streams forever. State per key ≈ rows inside the interval.

    Right-side columns whose names collide with a left column (including
    ``right_ts`` when both default to "ts") come back suffixed
    ``_right`` — a duplicate-named output column is unwritable (parquet
    rejects it) and unselectable (ambiguous reference).
    """
    # rename right-side collisions BEFORE the join; the watermark column
    # must be renamed first so the watermark attaches to the final name.
    # The suffixed candidate can itself collide (right already holding
    # both v and v_right) — keep suffixing until it is free on BOTH sides
    taken = set(left.columns) | set(right.columns)
    renames: dict[str, str] = {}
    for c in right.columns:
        if c == key or c not in left.columns:
            continue
        new = f"{c}_right"
        while new in taken:
            new += "_right"
        renames[c] = new
        taken.add(new)
    r_renamed = right
    for old, new in renames.items():
        r_renamed = r_renamed.withColumnRenamed(old, new)
    r_ts = renames.get(right_ts, right_ts)
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = r_renamed.withWatermark(r_ts, watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{key} = r.{key} AND r.{r_ts} >= l.{left_ts} "
            f"AND r.{r_ts} <= l.{left_ts} + INTERVAL {within}"
        ),
        "inner",
    ).drop(F.col(f"r.{key}"))


def stream_static_join(
    stream: DataFrame,
    static_dim: DataFrame,
    key: str,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Enrich a stream with a static dimension table (stream-static join).

    Stateless in Spark: each micro-batch joins against the dim with NO
    streaming state, so it scales with batch size only. The dim defaults
    to broadcast (dimension tables are small by definition — a shuffled
    stream-static join would re-shuffle every micro-batch). Note Spark
    analyzes the static side once at query start; to pick up dim updates,
    restart the query or re-read inside foreachBatch.
    """
    dim = F.broadcast(static_dim) if broadcast_dim else static_dim
    return stream.join(dim, on=key, how=how)


def idempotent_batch_sink(
    df: DataFrame, path: str, checkpoint: str, format: str = "parquet"
):
    """Exactly-once-per-batch parquet sink WITHOUT a transactional table
    format: each micro-batch is written to a ``batch_id=N`` partition
    with dynamic partition overwrite, so a replayed batch (failure
    between write and checkpoint commit) OVERWRITES its own partition
    instead of duplicating rows — idempotent replay, the foreachBatch
    twin of the reference's at-least-once sinks.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _overwrite_partitions(
            batch_df.withColumn("batch_id", F.lit(batch_id)), path,
            ["batch_id"], format,
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_sink(df: DataFrame, batch_fn, checkpoint: str):
    """foreachBatch escape hatch (the streaming analogue of eel's custom
    Sink trait): each micro-batch arrives as a normal DataFrame, so any
    batch sink — jdbc, upsert-merge, multi-table fanout — slots in while
    keeping checkpoint-based recovery."""
    return (
        df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def rolling_parquet_stream_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    max_records_per_file: int = 100_000,
    trigger_seconds: int | None = None,
    partition_by: list[str] | None = None,
):
    """RollingParquetWriter.scala as a streaming sink: exactly-once parquet
    with bounded file sizes; returns the StreamingQuery handle."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


@dataclass
class EventStream:
    """Convenience facade: replay a static events table as a stream (for
    tests/demos) or attach to a live directory."""

    spark: SparkSession
    path: str

    def stream(self) -> DataFrame:
        from eel_spark.timeutils import normalize_ts

        try:
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        import os

        path, glob_filter = self.path, None
        if os.path.isfile(path):  # file streams want a directory + filter
            path, glob_filter = os.path.dirname(path), os.path.basename(path)
        # file streams need an explicit schema: peek at the static files so
        # the physical ts type (bigint nanos vs TIMESTAMP_NTZ vs TIMESTAMP
        # — testdata has shipped all three) is whatever is really on disk,
        # then normalize it exactly like the batch loader does
        from pyspark.errors import AnalysisException

        try:
            static_schema = self.spark.read.parquet(self.path).schema
        except AnalysisException:
            # "attach to a live directory" includes one with no files YET
            # (the normal starting state of an ingest dir) — fall back to
            # the canonical events schema and let normalize_ts no-op
            static_schema = EVENT_SCHEMA
        reader = self.spark.readStream
        if glob_filter:
            reader = reader.option("pathGlobFilter", glob_filter)
        df = reader.schema(static_schema).parquet(path)
        return normalize_ts(df)


def frontier_store_sink(
    urls: DataFrame,
    store_path: str,
    checkpoint: str,
    url_col: str = "url",
    ts_col: str | None = None,
    maintain_every: int | None = None,
    maintain_kwargs: dict | None = None,
):
    """Streaming admission into the persistent FRONTIER STORE — the
    crawl twin of the incremental dedup sinks, and the no-horizon
    complement of :func:`streaming_url_dedup`: each wave of discovered
    URLs is deduped within itself (canonical key, MIN-url
    representative) and against EVERY URL ever admitted — a page seen
    weeks ago is still suppressed, because the state is the store's
    parquet table (storage, not the state store).

    Per micro-batch: ``operators/crawl.frontier_admit_batch`` under the
    store's single-writer lease with the batch-id adoption token (a
    crash mid-batch self-heals on checkpoint replay). Membership is an
    exact-string anti-join against the (batch_id, kp)-partitioned
    history, pruned to the batch's own kp buckets; the wave appends
    under its ``batch_id=N`` partitions with dynamic overwrite —
    replays overwrite themselves and never match their own partial
    write (exactly-once). ``maintain_every`` wires the in-stream
    maintenance cadence (maintenance.maintain → the frontier
    compactor) exactly like the other five store-backed sinks.
    ``ts_col`` (optional) records MIN-per-key as ``first_seen``.
    """
    from eel_spark.operators.crawl import frontier_admit_batch

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            frontier_admit_batch(
                batch_df, store_path, batch_id, url_col=url_col, ts_col=ts_col
            )

    return _store_sink(
        urls, store_path, checkpoint, admit, maintain_every, maintain_kwargs
    )


def streaming_url_dedup(
    docs: DataFrame,
    url_col: str,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermark-bounded URL dedup on a crawl stream: one document per
    CANONICAL url (functions/text.canonical_url — tracking params and
    decoration folded) within the watermark window. The streaming twin
    of ``operators/dedup.dedup_by_url`` with the same bounded-state
    mechanics as :func:`streaming_dedup`.

    NULL-key hazard handled explicitly: ``dropDuplicatesWithinWatermark``
    would collapse ALL unparseable URLs (NULL canonical key) into one
    surviving row. Unparseable URLs instead key on their raw string
    (equal garbage dedups, distinct garbage survives) and NULL urls on
    a per-row uuid (never deduped) — matching the batch operator's
    "unparseable is no evidence of sameness" rule as closely as
    bounded streaming state allows.
    """
    from eel_spark.functions.text import canonical_url

    key = F.coalesce(
        canonical_url(F.col(url_col)),
        F.concat(F.lit("__raw::"), F.col(url_col)),
        F.concat(F.lit("__null::"), F.expr("uuid()")),
    )
    return (
        docs.withColumn("__urlkey", key)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__urlkey"])
        .drop("__urlkey")
    )


def validated_batch_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    checks: list,
    quarantine_path: str | None = None,
    format: str = "parquet",
):
    """Per-micro-batch data-quality gate: run a one-pass expectations
    suite (operators/expectations) on every batch; passing batches land
    in ``path``, failing batches in ``quarantine_path`` (or the query
    DIES on the first bad batch when no quarantine is given — the
    fail-fast CI shape).

    Exactly-once like :func:`idempotent_batch_sink`: both destinations
    write a ``batch_id=N`` partition with dynamic overwrite, so a
    replayed batch overwrites itself on either side and a batch that
    failed validation before the crash re-validates on replay.
    """
    from eel_spark.operators.expectations import validate

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        ok, report = validate(batch_df, checks)
        if not ok and quarantine_path is None:
            failed = "; ".join(
                f"{r['check']} ({r['observed']})" for r in report if not r["passed"]
            )
            raise ValueError(
                f"batch {batch_id} failed validation: {failed}"
            )
        dest = path if ok else quarantine_path
        _overwrite_partitions(
            batch_df.withColumn("batch_id", F.lit(batch_id)), dest,
            ["batch_id"], format,
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


@locked_store_write("survivor_path", "spark")
def compact_dedup_history(spark: SparkSession, survivor_path: str) -> None:
    """Collapse the incremental-dedup sinks' per-batch history into one
    ``batch_id=-1`` generation — the directory-listing lever: after a
    year of crawl waves the banded side-table holds one partition tree
    per batch, and although each micro-batch's READ prunes to its own
    (band, kp) buckets, the file LISTING still walks O(batches)
    directories. Compaction rewrites both tables (survivors + banded
    side-table) with their content unchanged, preserving the (band, kp)
    layout so per-batch pruning keeps working.

    Both tables go through ``maintenance._compact_to_sentinel``, one
    after the other (run it offline, past the replay horizon: a replay
    of a pre-compaction batch finds its own rows in the ``-1``
    generation, so the history match suppresses them and the store
    stays correct, but its exactly-once eviction is spent). A crash
    between the two swaps leaves a compacted survivor table beside a
    per-batch bands table — the same rows, so appends stay correct and
    the next compaction finishes the job.
    """
    from eel_spark.operators.maintenance import _compact_to_sentinel

    bands_path = survivor_path + "__bands"
    _compact_to_sentinel(
        survivor_path,
        spark.read.parquet(survivor_path).drop("batch_id"),
        "batch_id",
        ("batch_id",),
    )
    _compact_to_sentinel(
        bands_path,
        spark.read.parquet(bands_path).drop("batch_id"),
        "batch_id",
        ("batch_id", "band", "kp"),
        lambda df: df.repartition("band", "kp"),
    )


def _maybe_maintain(
    spark, path: str, batch_id: int, maintain_every, maintain_kwargs=None
) -> None:
    """In-stream store maintenance cadence (r13 verdict #5): at the
    start of every ``maintain_every``-th micro-batch, run
    ``operators/maintenance.maintain`` on the sink's store — the one
    moment a sink can PROVE the compactors' replay condition:
    Structured Streaming commits batch N-1 before planning batch N, so
    every batch in the store is past the replay horizon UNLESS a torn
    prior attempt of THIS batch left state behind (the family's torn
    probe: a live batch id >= N, or an SCD2 inflight marker) —
    compacting then would fold rows the replay is about to re-append
    or break the merge's repair, so that case is skipped (the next
    cadence point retries). Runs BEFORE the batch's own append on the
    sink's own thread, so it is never concurrent with its own
    appender; the store lease serializes it against everything else
    (loser raises)."""
    if not maintain_every or batch_id <= 0 or batch_id % int(maintain_every):
        return
    from eel_spark.operators.maintenance import (
        _torn_attempt,
        detect_store_type,
        maintain,
        store_write_lease,
    )

    # hold the lease with THIS batch's adoption token across the whole
    # maintain (the inner compactor's acquisition is re-entrant): a
    # hard kill mid-compaction strands a lease the REPLAY of this batch
    # adopts, so the unattended cadence self-heals instead of wedging
    # the sink until a human breaks the lock. Taken before detection so
    # the lease's heal has restored an interrupted swap first.
    with store_write_lease(
        spark, path, "maintain_every", token=f"batch={batch_id}"
    ):
        try:
            st = detect_store_type(spark, path)
        except ValueError:
            return  # store not materialized yet (prior batches wrote nothing)
        if _torn_attempt(spark, path, st, batch_id):
            return  # not provably safe until the replay repairs it
        kw = dict(maintain_kwargs or {})
        # "compact every N batches" intent: the store holds ~N live
        # increments at each cadence point, so the threshold must sit
        # just under it (callers can still override via maintain_kwargs;
        # scd2's policy reads max_files_per_leaf instead)
        kw.setdefault("max_batches", max(int(maintain_every) - 1, 1))
        maintain(spark, path, store_type=st, **kw)


def _store_sink(
    df: DataFrame, path: str, checkpoint: str, append, maintain_every,
    maintain_kwargs,
):
    """The store sinks' one shape: each micro-batch runs the maintenance
    cadence on the store at ``path`` (:func:`_maybe_maintain`), then
    ``append(batch_df, batch_id)``, on a checkpointed availableNow
    query."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        _maybe_maintain(
            batch_df.sparkSession, path, batch_id, maintain_every,
            maintain_kwargs,
        )
        append(batch_df, batch_id)

    return foreach_batch_sink(df, fold, checkpoint)


def streaming_scd2_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    keys,
    attr_cols,
    ts_col: str,
    order_cols=(),
    n_buckets: int = 64,
    maintain_every: int | None = None,
    maintain_kwargs: dict | None = None,
):
    """Maintain an SCD2 dimension table FROM a change-log stream: each
    micro-batch of observations folds into the table at ``path`` via
    ``operators/scd2.scd2_merge`` (collapse → splice onto current rows →
    bucket-pruned write).

    Exactly-once WITHOUT a ledger: the merge fingerprints the batch's
    collapsed version rows — a checkpoint replay re-derives the same
    fingerprint, so an already-applied batch no-ops on its marker and a
    crashed attempt repairs through the merge's recovery path (see the
    scd2 module's crash contract). Per-batch cost stays O(current rows
    in touched buckets); closed history is never read outside crash
    recovery.

    Ordering contract: scd2_merge only extends history FORWARD — an
    observation at or before a key's current ``valid_from`` fails the
    batch loudly. Feed this sink from an event-time-ordered source (or
    sort within the micro-batch via ``order_cols``); for late
    retroactive corrections rebuild offline with ``scd2_from_changes``.

    ``maintain_every=N`` compacts the closed history every N batches
    (see :func:`_maybe_maintain`; scd2's lever is files-per-closed-
    bucket — tune via ``maintain_kwargs={"max_files_per_leaf": ...}``);
    safe between merges because a replayed merge self-no-ops on its
    batch fingerprint regardless of the files' layout.
    """
    from eel_spark.operators.maintenance import store_write_lease
    from eel_spark.operators.scd2 import scd2_merge

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # hold the lease under the batch-id token (the merge's own
        # fingerprint-token acquisition is then re-entrant): a replay
        # after a hard kill mid-merge presents batch=N first — at the
        # cadence maintain or here — and adopts the stranded lease
        with store_write_lease(
            spark, path, "scd2_append", token=f"batch={batch_id}"
        ):
            scd2_merge(
                spark, path, batch_df, keys, attr_cols, ts_col,
                order_cols, n_buckets=n_buckets,
            )

    return _store_sink(
        df, path, checkpoint, merge, maintain_every, maintain_kwargs
    )


def streaming_rollup_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    ts_col: str,
    aggs: dict,
    granularities=("hour", "day", "month"),
    extra_keys=(),
    maintain_every: int | None = None,
    maintain_kwargs: dict | None = None,
):
    """Continuous aggregate maintained from a stream, EXACTLY-ONCE:
    each micro-batch appends its rollup partials tagged with its
    batch_id (operators/rollups.append_rollup_batch), so a replayed
    batch first evicts its own previous rows — re-processing after any
    crash/restart leaves the store identical, no ledger needed. Query
    with ``read_rollup(merges)``; collapse history with
    ``compact_rollup`` once the replay horizon has passed — or let the
    sink do it: ``maintain_every=N`` compacts every N batches at the
    provably-safe point (see :func:`_maybe_maintain`). The rollup
    compactor needs the merge semantics, which are data not layout:
    pass ``maintain_kwargs={"merges": ..., "extra_keys": ...}`` or the
    triggered maintain raises.
    """
    from eel_spark.operators.rollups import append_rollup_batch

    return _store_sink(
        df, path, checkpoint,
        lambda batch_df, batch_id: append_rollup_batch(
            batch_df.sparkSession, path, batch_df, ts_col, aggs,
            list(granularities), list(extra_keys), src_batch=batch_id,
        ),
        maintain_every, maintain_kwargs,
    )


def streaming_funnel_report_sink(
    funnel_out: DataFrame,
    path: str,
    checkpoint: str,
    step_names,
    user_col: str = "user_id",
    segment_name: str | None = None,
    n_buckets: int = 64,
):
    """Maintain a live funnel REPORT from a ``streaming_funnel`` output
    stream: each micro-batch of per-user anchor rows upserts a compact
    latest-per-user state table at ``<path>/state`` (keyed by the user,
    partitioned by ``hash(user) % n_buckets`` — key-determined, so the
    merge reads only touched buckets, ``operators/upsert``'s pruning
    discipline), then rewrites ``<path>/report`` with
    ``funnel_state_report`` — the exact ``funnel_report`` /
    ``funnel_report_by`` shape, per segment when the funnel was built
    with one.

    Exactly-once: the funnel kernel is deterministic, so a checkpoint
    replay re-emits the same per-user rows and the keyed upsert
    REPLACES them — idempotent, no ledger. The report itself is a
    derived artifact rebuilt from the full (compact, O(users)) state
    each trigger; a crash mid-rewrite leaves a torn report that the
    retry heals, and it is always re-derivable offline via
    ``funnel_state_report(spark.read.parquet(f"{path}/state"), ...)``.
    Rows with a NULL user key are dropped (a keyed store cannot upsert
    NULL; batch ``funnel_report_by`` does count a NULL user — run the
    batch operator if that population matters). ``n_buckets`` is frozen
    into a ``<path>/_n_buckets`` marker on first write and checked every
    batch: restarting with a different value would re-hash users into
    different buckets, and the bucket-pruned merge would silently leave
    each user's OLD row standing beside the new one — the mismatch
    raises instead. The store is SINGLE-WRITER: each batch holds the
    store lease on ``path`` (``maintenance.acquire_store_lease``, token
    ``batch=N``) — a second query (or offline upsert) racing the keyed
    merge would silently lose rows — and a stale lease recording THIS
    batch id self-adopts (a hard-killed attempt whose checkpoint
    replays the batch), while a foreign holder fails loudly. A stale
    in-root ``_report_lease`` file left by older code is ignored.
    Per-trigger cost: one bucket-pruned merge of the batch's users + one
    O(users) aggregate — events are never rescanned."""
    from eel_spark.operators.funnel import funnel_state_report
    from eel_spark.operators.upsert import upsert_parquet

    names = list(step_names)
    keep = [user_col, *names]
    if segment_name is not None:
        keep.append(segment_name)
    keep += ["final", "folded_until_us"]
    state_path = f"{path}/state"
    report_path = f"{path}/report"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from eel_spark.caching import pin, pins_mark, release_pins_since
        from eel_spark.operators.maintenance import (
            acquire_store_lease,
            release_store_lease,
        )
        from eel_spark.sources.hdfs import HdfsOps

        mark = pins_mark()
        spark = batch_df.sparkSession
        ops = HdfsOps(spark)
        # a same-batch stale lease is a hard-killed earlier attempt this
        # checkpoint replay is re-running — adopted, and the keyed
        # upsert makes the redo idempotent
        lease = acquire_store_lease(
            spark, path, "funnel_report", token=f"batch={batch_id}"
        )
        try:
            marker = f"{path}/_n_buckets"
            if not ops.create_atomic(marker, content=f"{n_buckets}\n"):
                stored = int(ops.read_text(marker).strip())
                if stored != n_buckets:
                    raise ValueError(
                        f"funnel report store at {path} was built with "
                        f"n_buckets={stored}, got {n_buckets}: the "
                        "bucket-pruned upsert would duplicate re-hashed "
                        "users — keep the original value"
                    )
            w = Window.partitionBy(user_col).orderBy(
                F.desc("folded_until_us")
            )
            latest = pin(  # one evaluation: isEmpty + the upsert's reads
                batch_df.select(*keep)
                .where(F.col(user_col).isNotNull())
                # one row per key per trigger by construction; the
                # row_number guard makes multi-row batches (e.g. a
                # coalesced replay) pick the newest state anyway
                .withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
                .withColumn(
                    "__ub",
                    F.pmod(
                        F.xxhash64(F.col(user_col)), F.lit(n_buckets)
                    ).cast("int"),
                )
            )
            if latest.isEmpty():
                return
            upsert_parquet(
                spark, state_path, latest, user_col,
                partition_col="__ub", assert_unique_keys=False,
            )
            report = funnel_state_report(
                spark.read.parquet(state_path), names,
                segment_name=segment_name,
            )
            report.write.mode("overwrite").parquet(report_path)
        finally:
            release_pins_since(mark)
            release_store_lease(spark, lease)

    return (
        funnel_out.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_bm25_stats_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    text_col: str,
    maintain_every: int | None = None,
    maintain_kwargs: dict | None = None,
):
    """BM25 corpus statistics maintained from a document stream,
    EXACTLY-ONCE: each micro-batch writes its full-vocabulary per-term
    document frequencies plus a totals row into its own __src_batch
    partition (operators/retrieval.append_bm25_stats_batch), so a
    checkpoint-replayed batch dynamic-overwrites exactly its own rows.
    Query with ``read_bm25_stats`` (fold ≡ whole-corpus recompute —
    df/N/Σdl are associative); score new waves against the maintained
    stats with ``bm25_score_against_stats`` — no history rescan; collapse
    increments with ``compact_bm25_stats`` once the replay horizon has
    passed — or let the sink do it: ``maintain_every=N`` compacts every
    N batches at the provably-safe point (see :func:`_maybe_maintain`).
    """
    from eel_spark.operators.retrieval import append_bm25_stats_batch

    return _store_sink(
        df, path, checkpoint,
        lambda batch_df, batch_id: append_bm25_stats_batch(
            path, batch_df, text_col, src_batch=batch_id
        ),
        maintain_every, maintain_kwargs,
    )


def streaming_ivf_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    maintain_every: int | None = None,
    maintain_kwargs: dict | None = None,
):
    """Incremental IVF ANN index maintained from an embedding stream,
    EXACTLY-ONCE: each micro-batch assigns its vectors against the
    index's FROZEN centroids (``init_ivf_index`` must have run) and
    folds the postings into the batch's own ``__src_batch`` partition
    (operators/similarity.append_ivf_batch), so a checkpoint-replayed
    batch dynamic-overwrites exactly its own rows. Serve queries with
    ``ivf_topk_against_index`` (bit-identical to the one-shot
    ``ivf_topk`` over the accumulated corpus); watch
    ``ivf_drift_report`` for the retrain signal; collapse increments
    with ``compact_ivf_index`` once the replay horizon has passed — or
    let the sink do it: ``maintain_every=N`` compacts every N batches
    at the provably-safe point (see :func:`_maybe_maintain`)."""
    from eel_spark.operators.similarity import append_ivf_batch

    return _store_sink(
        df, path, checkpoint,
        lambda batch_df, batch_id: append_ivf_batch(
            path, batch_df, id_col=id_col, vec_col=vec_col, src_batch=batch_id
        ),
        maintain_every, maintain_kwargs,
    )


def streaming_scd2_enrich_sink(
    facts: DataFrame,
    dim_path: str,
    out_path: str,
    checkpoint: str,
    keys,
    ts_col: str,
    attrs=None,
    how: str = "left",
    n_buckets: int | None = None,
    bin_days: int | None = None,
):
    """Point-in-time enrichment of a FACT STREAM against an SCD2
    dimension table: each micro-batch joins the version valid at each
    fact's own ``ts_col`` (operators/scd2.scd2_enrich — the
    feature-store join that keeps training data leakage-free) and lands
    in its own ``batch_id`` partition with dynamic overwrite, so a
    checkpoint replay overwrites exactly its own rows.

    Determinism contract: the dimension is read at PROCESSING time of
    each micro-batch. A fact arriving before the dimension version
    covering its timestamp exists is enriched against the best version
    then visible (NULL attrs under ``how='left'`` if none) — and a
    REPLAYED batch re-enriches against the CURRENT dimension, which may
    have since gained that version. Feed the dimension ahead of the
    facts (the standard stream-static ordering) or rebuild affected
    spans offline with ``scd2_enrich`` when late dimension data lands;
    the per-batch overwrite makes either repair idempotent.
    ``n_buckets``/``bin_days`` pass through to the enrich (bucket-pruned
    dimension read / binned interval join for deep version chains)."""
    from eel_spark.operators.scd2 import scd2_enrich

    def enrich_batch(batch_df: DataFrame, batch_id: int) -> None:
        enriched = scd2_enrich(
            batch_df, batch_df.sparkSession, dim_path, keys, ts_col,
            attrs=attrs, how=how, n_buckets=n_buckets, bin_days=bin_days,
        )
        _overwrite_partitions(
            enriched.withColumn("batch_id", F.lit(batch_id)), out_path,
            ["batch_id"],
        )

    return (
        facts.writeStream.foreachBatch(enrich_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
