"""Plan-quality audit (SURVEY.md §4): assert via .explain that the
flagship plans have the properties that matter at 100 TB — predicate
pushdown into the parquet scan, column pruning (ReadSchema), broadcast
joins for dimension tables, and no Python (BatchEvalPython) in the
measured query set."""

from __future__ import annotations

import json
import os

import pytest

from eel_spark.queries import QUERIES as _GATED
from eel_spark.queries import UNGATED_QUERIES as _UNGATED

# plan quality is graded on rotated-out queries too (they stay benched)
QUERIES = {**_UNGATED, **_GATED}

SF = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    jdf = getattr(df, "_jdf", None)
    if jdf is not None:
        return jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        )
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q6_filter_pushdown(spark):
    """q6 is a pure scan+filter+agg: every predicate must reach the scan."""
    plan = plan_str(QUERIES["q6_forecast_revenue"](spark, SF))
    assert "PushedFilters: [" in plan
    # at least the shipdate range must be pushed, not just IsNotNull
    assert "GreaterThanOrEqual(l_shipdate" in plan or "l_shipdate" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]


def test_q6_column_pruning(spark):
    """q6 touches 4 lineitem columns; the scan must not read all 16."""
    plan = plan_str(QUERIES["q6_forecast_revenue"](spark, SF))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    read_cols = [p.split(":")[0] for p in read_schema.split("struct<")[1].split(",")]
    assert len(read_cols) <= 5, f"scan reads too many columns: {read_cols}"


def test_q3_broadcast_dimension(spark):
    """customer (filtered) is small vs lineitem: the join must broadcast,
    not shuffle both sides."""
    plan = plan_str(QUERIES["q3_shipping_priority"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_q5_all_dims_broadcast(spark):
    """q5 joins 5 tables; every dimension join should be broadcast —
    only the big-side agg should shuffle."""
    plan = plan_str(QUERIES["q5_local_supplier_volume"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_no_python_in_measured_queries(spark):
    """SURVEY §4 rule 5: everything in the measured (oracle-gated) query
    set is JVM-only — no BatchEvalPython / ArrowEvalPython / mapInPandas
    stages."""
    from eel_spark.queries import ORACLE

    offenders = []
    for name in sorted(ORACLE):
        plan = plan_str(QUERIES[name](spark, SF), "extended")
        for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
            if marker in plan:
                offenders.append((name, marker))
    assert not offenders, f"python in hot path: {offenders}"


def test_q1_partial_aggregation(spark):
    """The groupBy must be partial+final hash aggregation (map-side
    combine), never a raw shuffle of all rows."""
    plan = plan_str(QUERIES["q1_pricing_summary"](spark, SF))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_aqe_broadcasts_self_aggregates(spark):
    """q17/q18 join the fact table against its own (tiny) aggregate; AQE
    must convert those runtime-small sides to broadcast joins — at 100 TB
    this is the difference between one broadcast and a full fact
    shuffle."""
    from eel_spark.queries import UNGATED_QUERIES

    # q17 rotated out of the driver gate in round 7 but keeps its plan
    # contract (tests/test_ungated.py keeps its oracle green)
    registry = {**QUERIES, **UNGATED_QUERIES}
    for name in ("q17_small_quantity_revenue", "q18_large_volume_customers"):
        df = registry[name](spark, SF)
        df.collect()  # AQE finalizes the plan during execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"
        assert "SortMergeJoin" not in plan, f"{name}: residual SMJ"


def test_q1_whole_stage_codegen(spark):
    # an un-executed AdaptiveSparkPlan reports 0 codegen subtrees, so
    # build this one plan with AQE off to see the real codegen layout.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_str(QUERIES["q1_pricing_summary"](spark, SF), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    found = int(plan.split("Found ")[1].split(" WholeStageCodegen")[0])
    assert found >= 2  # scan+partial-agg stage and final-agg stage


def test_prepare_corpus_semi_join_broadcasts(spark):
    """pipeline_prepare_corpus: the survivor-id semi-join must become a
    broadcast under AQE (survivor list ≪ corpus at every scale), and the
    whole pipeline stays Python-free."""
    df = QUERIES["pipeline_prepare_corpus"](spark, SF)
    df.collect()
    # AQE's toString appends the pre-runtime "Initial Plan" (where the
    # perplexity vocab join legitimately STARTS as a SortMergeJoin before
    # runtime stats demote it) — grade only the final executed plan
    plan = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_ordered_ops_have_no_global_window(spark):
    """take_while / zip_with_index (concat) must not funnel the dataset
    through an unpartitioned window: the prefix boundary is a global-min
    aggregate and the positional index comes from per-partition monotonic
    ids — a single-partition sort over the data would serialize at scale."""
    from pyspark.sql import functions as F

    from eel_spark.datastream import DataStream

    ev = DataStream(spark.read.parquet(SF + "/events.parquet"))
    tw = ev.take_while(F.col("value") < 495.0, order_by=["event_id"])
    plan = plan_str(tw.df)
    assert "Window" not in plan
    # boundary = partial+final min (SortAggregate: min over a struct key)
    assert "Aggregate" in plan and "partial_min" in plan

    zipped = ev.projection("event_id").zip_with_index("idx", ["event_id"])
    plan = plan_str(zipped.df)
    # the only window allowed is the metadata-sized offsets prefix-sum,
    # which runs AFTER an aggregation — never over the raw event rows
    assert "row_number" not in plan.lower()


def test_lsh_bucket_cap_is_aggregate_not_window(spark):
    """The minhash candidate stage must be ONE aggregation over
    (band, key) — collect_list buckets with the cap as a size filter —
    never a count-over-window that shuffles and sorts every band row,
    and never a second shuffle of the banded table (the pre-r14 band
    self-join + anti-join cap layout)."""
    from eel_spark.operators.dedup import minhash_candidates

    docs = spark.read.parquet(SF + "/documents.parquet")
    cands = minhash_candidates(docs, "text", "doc_id", max_bucket_size=100)
    plan = plan_str(cands)
    assert "Window" not in plan
    assert "collect_list" in plan  # bucket aggregation present
    assert "LeftAnti" not in plan  # cap is a size filter, not an anti-join


def test_quality_metrics_projection_boundary_holds(spark):
    """The token/line arrays must be built once per row: if CollapseProject
    ever re-inlines them into the fold lambdas, the tokenization shows up
    once per consuming metric (the round-2 44x regression). Three
    occurrences are legitimate: toks, lns, and the pushed-down
    n_tokens>0 scan filter."""
    df = QUERIES["text_quality_metrics"](spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(text") <= 3, opt


def test_train_centroids_has_no_window(spark):
    """The WHOLE training plan — seed selection AND every mean-update
    round — must be aggregate-shaped (map-side combinable), never a
    partitionBy(cell_id) window: a window shuffles the full (unsampled)
    corpus into n_cells partitions and sorts each, collapsing parallelism
    to n_cells at 100 TB. The posexplode in the mean update is fine ONLY
    because the partial aggregate collapses each task to n_cells×dim rows
    before the exchange — assert that partial agg is actually there."""
    from eel_spark.operators import similarity
    from eel_spark.queries.tables import table

    emb = table(spark, SF, "embeddings").df
    cents = similarity.train_centroids(emb, n_cells=4, iterations=2)
    plan = plan_str(cents)
    assert "Window" not in plan, plan
    assert "row_number" not in plan, plan
    assert "partial_avg" in plan, plan


def test_ivf_assignment_has_no_window(spark):
    """Centroid assignment is a broadcast fold + array_min, not a
    row_number window — no Exchange+sort of the corpus per assignment."""
    from pyspark.sql import functions as F

    from eel_spark.operators import similarity
    from eel_spark.queries.tables import table

    emb = table(spark, SF, "embeddings").df
    cents = similarity.train_centroids(emb, n_cells=4, iterations=1)
    # isolate the assignment step: materialize the (tiny) centroid table
    # so the training plan (which legitimately windows/aggregates) is not
    # part of the audited DAG
    static_cents = spark.createDataFrame(cents.collect(), cents.schema)
    assigned = similarity._assign_cells(
        emb.select(
            F.col("vec_id").alias("__id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("__v"),
        ),
        static_cents,
        "__v",
    )
    plan = plan_str(assigned)
    assert "Window" not in plan, plan
    assert "row_number" not in plan, plan


def test_brute_force_topk_rank_is_two_phase_salted(spark):
    """No rank window partitioned by query_id ALONE may see the unsalted
    (corpus x query) cross product: that funnels every query's |corpus|
    rows through one reducer (round-4 judge finding). The plan must show
    the deepest Window salted — partitioned by (query, salt) — with the
    query-only Window ranking only the bounded salted survivors, and
    Catalyst must infer a WindowGroupLimit (the map-side top-k prune) in
    BOTH phases from the kernel's per-dimension filters."""
    import re

    from eel_spark.operators import similarity
    from eel_spark.queries.tables import table

    emb = table(spark, SF, "embeddings").df
    queries = (
        emb.limit(4)
        .select(
            emb.vec_id.alias("query_id"),
            emb.embedding,
        )
    )
    out = similarity.brute_force_topk(emb, queries, k=5)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    # optimized logical plan prints each Window's partition spec as the
    # second bracketed list: Window [fns...], [part cols...], [order...]
    specs = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", opt)
    assert len(specs) == 2, f"expected exactly two Window nodes: {specs}"
    global_spec, salted_spec = specs[0], specs[1]  # toString is top-down
    assert "__salt" in salted_spec, f"deep window not salted: {salted_spec}"
    assert "__salt" not in global_spec and "query_id" in global_spec, specs
    # the query-only window must sit above the local-rank filter, i.e. the
    # __lr <= k survivor filter lies between the two Window nodes
    # (r"Window \[" excludes the WindowGroupLimit pushdown nodes)
    win_pos = [m.start() for m in re.finditer(r"Window \[", opt)]
    lr_filter = opt.index("Filter (__lr")
    assert win_pos[0] < lr_filter < win_pos[1], opt
    limits = re.findall(r"WindowGroupLimit \[([^\]]*)\]", opt)
    assert len(limits) == 2, f"expected a WindowGroupLimit per phase: {opt}"
    assert "__salt" not in limits[0] and "query_id" in limits[0], limits
    assert "__salt" in limits[1], limits


def test_bq_topk_plan_jvm_only_and_salted(spark):
    """The binary-quantization ANN path must stay JVM-side (packing,
    xor/bit_count Hamming, rerank cosine are all Catalyst expressions)
    and rank through the two-phase salted windows in BOTH stages — the
    Hamming prefilter and the exact rerank — so no per-query reducer ever
    sees an unbounded input. The bounded candidate set must re-enter the
    corpus via broadcast joins, not a shuffle."""
    import re

    from eel_spark.operators import similarity
    from eel_spark.queries.tables import table

    emb = table(spark, SF, "embeddings").df
    queries = emb.limit(4).select(
        emb.vec_id.alias("query_id"), emb.embedding
    )
    out = similarity.bq_topk(emb, queries, k=5, dim=64)
    plan = plan_str(out)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"python in BQ plan: {marker}"
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    specs = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", opt)
    assert len(specs) == 4, f"expected four Window nodes (2 stages x 2 phases): {specs}"
    salted = [s for s in specs if "__salt" in s]
    unsalted = [s for s in specs if "__salt" not in s]
    assert len(salted) == 2 and len(unsalted) == 2, specs
    assert all("query_id" in s for s in unsalted), specs
    # candidate ids rejoin the corpus via broadcast (bounded survivor set)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_pq_topk_plan_jvm_only_and_salted(spark):
    """The PQ/ADC path: codebook training, encoding, the lookup-table
    scan, and both rank stages must stay JVM-side with the two-phase
    salted windows — and the whole training plan must be window-free
    (the train_centroids seed rule applies to PQ codebooks too)."""
    import re

    from eel_spark.operators import similarity
    from eel_spark.queries.tables import table

    emb = table(spark, SF, "embeddings").df
    books = similarity.train_pq(emb, dim=64, n_subs=8, n_codes=8, iterations=1)
    tplan = plan_str(books)
    assert "Window" not in tplan and "row_number" not in tplan, tplan
    queries = emb.limit(4).select(emb.vec_id.alias("query_id"), emb.embedding)
    static_books = spark.createDataFrame(books.collect(), books.schema)
    out = similarity.pq_topk(emb, queries, static_books, dim=64, n_subs=8, k=5)
    plan = plan_str(out)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"python in PQ plan: {marker}"
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    specs = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", opt)
    assert len(specs) == 4, f"expected four Window nodes (2 stages x 2 phases): {specs}"
    assert len([s for s in specs if "__salt" in s]) == 2, specs


def test_ordered_take_drop_no_payload_offset_funnel(spark):
    """drop(n)/take(n, order) must use the key-threshold plan: the only
    limit/sort allowed is the keys-only threshold branch (bounded per
    task); the PAYLOAD rows must flow through a parallel Filter, never a
    global sort + Offset, for n far past Spark's top-k fallback."""
    from eel_spark.datastream import DataStream

    ev = DataStream(spark.read.parquet(SF + "/events.parquet"))
    for op in (lambda d: d.drop(50000, order_by=["event_id"]),
               lambda d: d.take(50000, order_by=["event_id"])):
        plan = plan_str(op(ev).df)
        assert "Offset" not in plan, plan
        # the payload side ends in a Filter over the broadcast threshold;
        # any GlobalLimit lives in the keys-only subtree whose scan reads
        # just the order column
        if "GlobalLimit" in plan:
            read_schemas = [
                seg.splitlines()[0]
                for seg in plan.split("ReadSchema:")[1:]
            ]
            assert any("struct<event_id" in rs and rs.count(",") == 0
                       for rs in read_schemas), read_schemas
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ops_project_derive_scans_orc_with_pushdown(spark):
    """This oracled query deliberately reads through the ORC layer (the
    format-coverage row of the oracle set — ungated since the r14
    rotation): the scan must be ORC and still carry pushed filters +
    pruned columns."""
    from eel_spark.queries import UNGATED_QUERIES

    plan = plan_str(UNGATED_QUERIES["ops_project_derive"](spark, SF))
    assert "orc" in plan.lower(), plan
    assert "PushedFilters: [" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "p_retailprice" in read_schema and "p_name" not in read_schema


def test_corpus_composition_ops_shuffle_budget(spark):
    """The corpus-composition operators' shuffle claims, plan-asserted:
    replicate_by_weight and hash_split add NO Exchange beyond the scan;
    shuffle_rows adds exactly ONE range Exchange (and no global Sort)."""
    from pyspark.sql import functions as F

    from eel_spark.operators.sampling import (
        hash_split,
        replicate_by_weight,
        shuffle_rows,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    rep = replicate_by_weight(docs, 2.5, ["doc_id"], epoch_col="epoch")
    p = plan_str(rep, "simple")
    assert "Exchange" not in p and "Generate" in p, p[:800]

    sp = hash_split(docs, {"train": 0.9, "valid": 0.1}, ["doc_id"])
    p = plan_str(sp, "simple")
    assert "Exchange" not in p, p[:800]
    # a filter on the split collapses to a scan-level hash predicate
    # (no extra exchange, no join)
    p = plan_str(sp.filter(F.col("split") == "train"), "simple")
    assert "Exchange" not in p and "Join" not in p.replace("join", "Join"), p[:800]

    sh = shuffle_rows(docs, ["doc_id"], seed=1, num_partitions=8)
    p = plan_str(sh, "simple")
    assert p.count("Exchange") == 1 and "rangepartitioning" in p, p[:800]
    # the sort is within partitions only: Sort [..] false (global=false)
    assert "Sort" in p and "], true, " not in p, p[:800]


def test_semantic_pairs_plan_bounded_join(spark):
    """semantic_duplicate_pairs: the quadratic kernel must be ONE
    equi-join on cell_id — no BroadcastNestedLoopJoin (an unbounded
    cross product), no Window, no Python in the pair path."""
    from eel_spark.operators.semdedup import semantic_duplicate_pairs
    from eel_spark.operators.similarity import train_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = train_centroids(emb, n_cells=4, iterations=1, sample_mod=2)
    pairs = semantic_duplicate_pairs(
        emb, centroids=cents, threshold=0.9, max_cell_size=10_000
    )
    p = plan_str(pairs, "simple")
    # the pair kernel is an equi-join keyed on cell_id
    assert "Join [cell_id" in p.replace("BroadcastHashJoin", "Join").replace(
        "SortMergeJoin", "Join"
    ).replace("ShuffledHashJoin", "Join"), p[:1200]
    assert "Window" not in p, p[:1200]
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p[:1200]
    # the only nested-loop joins are the broadcast 1-row packed-centroid
    # cross joins from _assign_cells (bounded by construction)
    for line in p.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight, Cross" in line, line


# --- round-6 continuation ops ------------------------------------------------


def test_fuzzy_join_no_nested_loop(spark):
    """The whole point of blocking: the plan must never contain the
    BroadcastNestedLoopJoin a bare levenshtein<=d join produces."""
    from eel_spark.operators.joins import fuzzy_join

    df = spark.read.parquet(f"{SF}/supplier.parquet").select("s_suppkey", "s_name")
    other = df.select(
        (df.s_suppkey + 10000).alias("t_key"), df.s_name.alias("t_name")
    )
    plan = plan_str(
        fuzzy_join(df, other, "s_name", "t_name", "s_suppkey", "t_key", 2)
    )
    assert "NestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_paragraph_dedup_slim_shuffle(spark):
    """The winner-election exchange must carry (hash, id, pos) triples
    only — paragraph TEXT never shuffles with them."""
    from eel_spark.operators.dedup import dedup_paragraphs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_str(dedup_paragraphs(docs, "text", "doc_id"))
    # every hashpartitioning exchange key set is h/doc_id/pos —
    # no exchange partitions on a text-bearing key
    import re

    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "text" not in keys, keys
    assert "BatchEvalPython" not in plan


def test_gopher_scan_no_exchange(spark):
    """The quality-rule bundle is a pure per-row projection: zero
    exchanges, zero Python."""
    from eel_spark.functions.text import gopher_quality_flags

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_str(docs.select(gopher_quality_flags("text").alias("f")))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_profile_single_aggregate(spark):
    """profile() metrics all ride one partial+final aggregate pair —
    N columns must not mean N aggregation subtrees. Asserted on the
    REAL metric list (build_profile_aggs is exactly what profile()
    collects)."""
    from eel_spark.operators.profile import build_profile_aggs

    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    fields = {f.name: f.dataType for f in df.schema.fields}
    aggs = build_profile_aggs(df.columns, fields)
    # simple mode: formatted repeats node names in the detail section,
    # which would double-count the one Exchange
    plan = plan_str(df.agg(*aggs), "simple")
    # one partial + one final aggregate pair — crucially a single Exchange
    assert plan.count("Exchange") == 1


def test_gapfill_query_scans_corpus_once(spark):
    """ops_gapfill_hourly: the rollup feeds both gapfill branches (the
    bounds aggregate and the spine join) — the pin must make both read
    the cached rollup, not re-derive the corpus lineage twice."""
    df = QUERIES["ops_gapfill_hourly"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") == 2, plan[:500]


def test_quantile_rollup_query_single_pass(spark):
    """rollup_quantile_daily: 128 conditional bucket sums + count ride
    ONE scan and ONE aggregate pair (map-side partials) — never a
    per-bucket subtree; the quantile readback is a projection fold."""
    df = QUERIES["rollup_quantile_daily"](spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Aggregate") == 1
    assert opt.count("Relation") == 1  # one corpus scan
    assert "Python" not in plan_str(df)


def test_fuzzy_join_query_bnlj_free(spark):
    """fuzzy_join_customer_names: the gated record-linkage query must
    never plan the O(n*m) BroadcastNestedLoopJoin a bare
    levenshtein-filter join would produce."""
    df = QUERIES["fuzzy_join_customer_names"](spark, SF)
    plan = plan_str(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_latency_exchange_budget(spark):
    """funnel_convert_latency composes funnel_times with the DDSketch
    group aggregate: the event log must shuffle ONCE on the user key
    (all step windows + the per-user reduce share it), and the only
    other exchange is the 2-group histogram aggregate over the tiny
    per-user-step rows — with map-side partial aggregation, so the
    exploded rows never travel unreduced."""
    df = QUERIES["funnel_convert_latency"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "partial_count" in plan  # map-side combine before the group exchange


def test_minhash_deterministic_corpus_plan_bounded(spark):
    """The oracled minhash slot keeps the LSH scale invariants: bucket
    cap enforced inside the single (band, key) aggregation (never a
    window over the band table, never a second shuffle of it) and a
    JVM-only plan."""
    plan = plan_str(QUERIES["dedup_minhash_pairs"](spark, SF), "extended")
    assert "collect_list" in plan  # bucket cap path present
    assert "Window" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_embedding_pairs_plan_bounded_and_jvm_only(spark):
    """The oracled embedding-LSH slot keeps the same scale invariants as
    minhash: bucket cap inside the single (band, key) aggregation,
    JVM-only plan."""
    plan = plan_str(QUERIES["dedup_embedding_pairs"](spark, SF), "extended")
    assert "collect_list" in plan  # bucket cap path present
    assert "Window" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_multimodal_features_plan_local_single_python_stage(spark):
    """The oracled multimodal slot is one local scan → ONE Arrow python
    stage: no exchange, no union of per-modality subplans (the kernel
    dispatches on media_type inside the batch)."""
    plan = plan_str(QUERIES["multimodal_features"](spark, SF), "simple")
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_no_python_in_new_ungated_oracled_queries(spark):
    """The born-ungated oracle slots added after round 10 keep the same
    JVM-only contract as the gated set (their DuckDB oracles run in
    tests/test_ungated.py; this pins the hot path).
    anomaly_hourly_events rotated INTO the driver gate in r12 — its
    plan pin rides along here unchanged."""
    from eel_spark.queries import UNGATED_QUERIES

    offenders = []
    for name in ("sampling_leakage_split", "anomaly_hourly_events"):
        reg = UNGATED_QUERIES if name in UNGATED_QUERIES else QUERIES
        plan = plan_str(reg[name](spark, SF), "extended")
        for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
            if marker in plan:
                offenders.append((name, marker))
    assert not offenders, f"python in hot path: {offenders}"


def test_hybrid_against_stores_plan_jvm_only_and_pruned(spark, tmp_path):
    """The store-served hybrid (r12) keeps the gated set's contracts:
    zero Python stages anywhere in the plan, and the dense arm's
    postings read is partition-pruned to the probed cells' kp dirs
    (PartitionFilters on __cell_kp)."""
    import math

    from eel_spark.operators.retrieval import (
        append_bm25_stats_batch,
        hybrid_topk_against_stores,
    )
    from eel_spark.operators.similarity import (
        append_ivf_batch,
        init_ivf_index,
        train_centroids,
    )

    docs = spark.createDataFrame(
        [(i, "merge scan window " * (i % 3 + 1)) for i in range(30)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [math.cos(i * 0.41), math.sin(i * 0.41), (i % 5) / 5.0])
         for i in range(30)],
        "doc_id long, embedding array<double>",
    )
    stats_path = str(tmp_path / "stats")
    index_path = str(tmp_path / "index")
    init_ivf_index(index_path, train_centroids(
        vecs, id_col="doc_id", n_cells=4, iterations=1
    ))
    append_bm25_stats_batch(stats_path, docs, "text", src_batch=0)
    append_ivf_batch(index_path, vecs, id_col="doc_id", src_batch=0)
    qvecs = spark.createDataFrame(
        [("qa", [1.0, 0.0, 0.5])], "query_id string, embedding array<double>"
    )
    out = hybrid_topk_against_stores(
        spark, docs, "text", "doc_id", stats_path, index_path,
        {"qa": ["merge", "scan"]}, qvecs, k=5, n_probe=1,
    )
    plan = plan_str(out, "extended")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan, marker
    # anchor INSIDE a PartitionFilters bracket: the plan has two pruned
    # scans (stats on __term_kp, postings on __cell_kp), and a naive
    # split on the first occurrence would accept __cell_kp appearing in
    # the postings scan's column list even with its pruning lost (r12
    # review, third pass)
    import re

    simple = plan_str(out, "simple")
    assert re.search(
        r"PartitionFilters: \[[^\]]*__cell_kp[^\]]*\]", simple
    ), simple


# -- committed plan-audit evidence is self-verifying (r15, VERDICT item 5) ---
# The r14 round shipped two "regenerated at round close" audit dumps that
# were in fact stale copies of the _before plans. The committed structural
# node counts of every slot (plans/audit_counts.json: per slot, per marker,
# the substring count of the slot's audited explain) are checked against
# a fresh explain so stale evidence fails CI instead of needing a judge to
# diff it.

AUDIT_SF = "/root/testdata/sf0.1"
with open(
    os.path.join(os.path.dirname(__file__), "..", "plans", "audit_counts.json")
) as _fh:
    AUDIT_COUNTS = json.load(_fh)
AUDIT_SLOTS = sorted(AUDIT_COUNTS)
AUDIT_MARKERS = (
    "Exchange",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "Union",
    "InMemoryRelation",
    "BatchEvalPython",
    "ArrowEvalPython",
    # window ranks and the top-k prune Catalyst infers from them: a
    # change to a ranking filter's shape can drop the prune without
    # moving any exchange
    "Window",
    "WindowGroupLimit",
)


@pytest.mark.parametrize("name", AUDIT_SLOTS)
def test_audit_dump_matches_fresh_explain(spark, name):
    """The committed structural node counts of each slot must equal
    those of a fresh explain of the current code at the audit SF — both
    sides pre-execution, cache-clean (the audit generator cleared the
    cache before each explain; reprint multiplicity of cached-relation
    build plans is then a pure function of the plan). A marker counts as
    a substring, so ``Window`` also counts inside ``WindowGroupLimit``."""
    committed = AUDIT_COUNTS[name]
    assert sorted(committed) == sorted(AUDIT_MARKERS), name
    spark.catalog.clearCache()
    fresh = plan_str(QUERIES[name](spark, AUDIT_SF))
    for marker in AUDIT_MARKERS:
        assert committed[marker] == fresh.count(marker), (
            f"{name}: {marker} committed={committed[marker]} "
            f"fresh={fresh.count(marker)} — the committed audit counts "
            f"are stale; a plan change must update plans/audit_counts.json"
        )
