"""Round-8 gated queries: CORRECTNESS coverage for the round-8 operator
families — funnel conversion and cohort retention (operators/funnel.py)
and snapshot CDC diff (operators/cdc.py). Oracle conventions per
SURVEY.md §6: integer-cents money, no raw TIMESTAMP output (DATE and
counts only), identical aliases both sides, round(x, 4) for ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eel_spark.queries.registry import query
from eel_spark.queries.tables import cents, sql_cents, table, table_via_avro

# -- funnel conversion (operators/funnel.funnel_report) ---------------------

_FUNNEL_WITHIN_DAYS = 7

# ONE SQL statement of the view→click→purchase first-touch anchors —
# shared by the conversion oracle (_FUNNEL_SQL) and the latency oracle
# (_lat_sql below) so the two gated slots can never encode diverging
# funnel semantics (the Spark side shares funnel_times the same way).
_FUNNEL_ANCHOR_CTES = f"""t1 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1
), t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t
    AND e.ts <= t1.t + INTERVAL {_FUNNEL_WITHIN_DAYS} DAY
  GROUP BY 1
), t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e
  JOIN t1 ON e.user_id = t1.user_id
  JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t
    AND e.ts <= t1.t + INTERVAL {_FUNNEL_WITHIN_DAYS} DAY
  GROUP BY 1
)"""

_FUNNEL_SQL = f"""
WITH {_FUNNEL_ANCHOR_CTES}, counts AS (
  SELECT (SELECT COUNT(*) FROM t1) AS c1,
         (SELECT COUNT(*) FROM t2) AS c2,
         (SELECT COUNT(*) FROM t3) AS c3
)
SELECT step, step_name, users,
       CASE WHEN first_users = 0 THEN 0.0
            ELSE ROUND(users / CAST(first_users AS DOUBLE), 4) END AS conversion
FROM (
  SELECT 1 AS step, 'view' AS step_name, c1 AS users, c1 AS first_users FROM counts
  UNION ALL
  SELECT 2, 'click', c2, c1 FROM counts
  UNION ALL
  SELECT 3, 'purchase', c3, c1 FROM counts
)
"""


@query("funnel_view_purchase", _FUNNEL_SQL)
def funnel_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel over the event log: view → click → purchase,
    each step strictly after the previous step's anchor and the whole
    chain within 7 days of the first view
    (operators/funnel.funnel_report). The Spark side computes every
    step as a cumulative conditional window min on ONE user-key
    exchange (plan-asserted: the event log shuffles once, however many
    steps); the oracle rebuilds each anchor with explicit
    min-after-previous joins. Outputs step counts + conversion from
    step 1."""
    from eel_spark.operators.funnel import funnel_report

    ev = table(spark, sf_dir, "events").df
    steps = {
        "view": F.col("event_type") == "view",
        "click": F.col("event_type") == "click",
        "purchase": F.col("event_type") == "purchase",
    }
    return funnel_report(
        ev, "user_id", "ts", steps, within=f"{_FUNNEL_WITHIN_DAYS} days"
    )


# -- funnel time-to-convert percentiles (funnel_times ∘ DDSketch) -----------
#
# The product-analytics follow-on to funnel_view_purchase: "how LONG do
# converters take?" — per-step conversion-latency p50/p95 in one pass
# over the per-user times table, using the mergeable DDSketch histogram
# (operators/rollups.quantile_rollup_aggs). Latency compares in INTEGER
# MICROSECONDS (epoch_us diffs are exact in both engines, and exact in
# a double far below 2^53), and the oracle compares the BUCKET INDEX of
# the exact nearest-rank order statistic — the same libm-drift-immune
# integer identity rollup_quantile_daily uses.

_LAT_MINV = 6e7  # 60 s in µs: sub-minute conversions collapse to bucket 0


def _lat_sql() -> str:
    from eel_spark.queries.ops3 import _Q_LG, _sql_dd_bucket

    bucket = _sql_dd_bucket("lat_us", minv=_LAT_MINV, lg=_Q_LG)
    return f"""
WITH {_FUNNEL_ANCHOR_CTES}, lat AS (
  SELECT 1 AS step, 'click' AS step_name,
         epoch_us(t2.t) - epoch_us(t1.t) AS lat_us
  FROM t2 JOIN t1 USING (user_id)
  UNION ALL
  SELECT 2, 'purchase', epoch_us(t3.t) - epoch_us(t1.t)
  FROM t3 JOIN t1 USING (user_id)
), r AS (
  SELECT step, step_name, lat_us,
         ROW_NUMBER() OVER (PARTITION BY step ORDER BY lat_us) AS rn,
         COUNT(*) OVER (PARTITION BY step) AS n
  FROM lat
)
SELECT step, step_name, MAX(n) AS n,
  MAX(CASE WHEN rn = GREATEST(CAST(CEIL(0.5 * n) AS BIGINT), 1)
           THEN {bucket} END) AS p50_bucket,
  MAX(CASE WHEN rn = GREATEST(CAST(CEIL(0.95 * n) AS BIGINT), 1)
           THEN {bucket} END) AS p95_bucket
FROM r GROUP BY 1, 2
"""


@query("funnel_convert_latency", _lat_sql())
def funnel_convert_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step time-to-convert percentiles for the view→click→purchase
    funnel: view→click and view→purchase latencies of every converting
    user, folded into the mergeable DDSketch log-bucket histogram, read
    back as p50/p95 BUCKET INDICES (operators/funnel.funnel_times +
    operators/rollups.quantile_rollup_aggs — two gated components
    composed, VERDICT r8 #4). One user-key exchange computes all step
    anchors (the funnel_times single-exchange plan), then a 2-group
    aggregate with map-side partials builds both histograms; the oracle
    recomputes each step's exact nearest-rank order statistic and maps
    it through the identical bucket formula — bucket index is monotone
    in value, so sketch bucket ≡ exact-quantile bucket, an integer
    identity immune to cross-libm pow/exp drift. Latencies are integer
    epoch-microsecond diffs (exact in both engines); sub-minute
    conversions land in bucket 0 by the ``_LAT_MINV`` floor, identically
    on both sides."""
    from eel_spark.operators.funnel import funnel_times
    from eel_spark.operators.rollups import (
        quantile_bucket_from_histogram,
        quantile_rollup_aggs,
    )
    from eel_spark.queries.ops3 import _Q_ALPHA

    ev = table(spark, sf_dir, "events").df
    steps = {
        "view": F.col("event_type") == "view",
        "click": F.col("event_type") == "click",
        "purchase": F.col("event_type") == "purchase",
    }
    times = funnel_times(
        ev, "user_id", "ts", steps, within=f"{_FUNNEL_WITHIN_DAYS} days"
    )
    lat = (
        times.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).alias("step"),
                        F.lit("click").alias("step_name"),
                        (F.unix_micros("click") - F.unix_micros("view"))
                        .alias("lat_us"),
                    ),
                    F.struct(
                        F.lit(2).alias("step"),
                        F.lit("purchase").alias("step_name"),
                        (F.unix_micros("purchase") - F.unix_micros("view"))
                        .alias("lat_us"),
                    ),
                )
            ).alias("s")
        )
        .select("s.*")
        .filter(F.col("lat_us").isNotNull())
    )
    aggs, _ = quantile_rollup_aggs(
        ["lat_us"], alpha=_Q_ALPHA, min_value=_LAT_MINV, n_buckets=128
    )
    rolled = lat.groupBy("step", "step_name").agg(
        F.count(F.lit(1)).alias("n"),
        aggs["lat_us_qhist"].alias("lat_us_qhist"),
    )
    return rolled.select(
        "step", "step_name", "n",
        quantile_bucket_from_histogram("lat_us_qhist", 0.5).alias("p50_bucket"),
        quantile_bucket_from_histogram("lat_us_qhist", 0.95).alias("p95_bucket"),
    )


# -- cohort retention (operators/funnel.retention_cohorts) ------------------

_RETENTION_SQL = """
WITH p AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS per, event_type
  FROM events
), c AS (
  SELECT user_id, MIN(per) AS cohort FROM p
  WHERE event_type = 'signup' GROUP BY 1
)
SELECT c.cohort,
       CAST(p.per - c.cohort AS BIGINT) AS period_offset,
       COUNT(DISTINCT p.user_id) AS users
FROM p JOIN c ON p.user_id = c.user_id AND p.per >= c.cohort
GROUP BY 1, 2
"""


@query("retention_signup_cohorts", _RETENTION_SQL)
def retention_signup_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort-retention triangle over the event log
    (operators/funnel.retention_cohorts): users bucketed by FIRST
    SIGNUP day (cohort_filter anchoring — the product convention),
    distinct-counted in every later day they were active on any event.
    One user-key exchange assigns cohorts (whole-partition window min,
    no sort), then the (cohort, offset, user) distinct aggregates with
    map-side partials. Output periods are DATEs (§6: no raw
    timestamps)."""
    from eel_spark.operators.funnel import retention_cohorts

    ev = table(spark, sf_dir, "events").df
    return retention_cohorts(
        ev, "user_id", "ts", "day",
        cohort_filter=F.col("event_type") == "signup",
    )


# -- snapshot CDC diff (operators/cdc.snapshot_diff) ------------------------

_CDC_SQL = f"""
WITH old_s AS (
  SELECT o_orderkey AS k, o_orderpriority AS pr,
         {sql_cents('o_totalprice')} AS v
  FROM orders WHERE o_orderkey % 5 <> 0
), new_s AS (
  SELECT o_orderkey AS k, o_orderpriority AS pr,
         {sql_cents('o_totalprice')}
           + CASE WHEN o_orderkey % 11 = 0 THEN 100 ELSE 0 END AS v
  FROM orders WHERE o_orderkey % 7 <> 0
)
SELECT COALESCE(o.k, n.k) AS o_orderkey,
       CASE WHEN o.k IS NULL THEN 'insert'
            WHEN n.k IS NULL THEN 'delete'
            WHEN o.pr IS DISTINCT FROM n.pr
              OR o.v IS DISTINCT FROM n.v THEN 'update'
            ELSE 'unchanged' END AS change_type
FROM old_s o FULL OUTER JOIN new_s n ON o.k = n.k
WHERE o.k IS NULL OR n.k IS NULL
   OR o.pr IS DISTINCT FROM n.pr OR o.v IS DISTINCT FROM n.v
"""


@query("cdc_order_snapshots", _CDC_SQL)
def cdc_order_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC diff (operators/cdc.snapshot_diff): two
    deterministic order-table snapshots — the "old" one missing every
    5th key, the "new" one missing every 7th and with every 11th key's
    price bumped — are diffed into insert/delete/update rows. The
    Spark side joins (key, xxhash64 digest) projections, never full
    rows; the oracle classifies via a FULL OUTER JOIN with NULL-safe
    value compares. Money compares in integer cents (§6)."""
    from eel_spark.operators.cdc import snapshot_diff

    orders = table(spark, sf_dir, "orders").df
    base = orders.select(
        "o_orderkey",
        "o_orderpriority",
        cents("o_totalprice").alias("v"),
    )
    old_s = base.where(F.col("o_orderkey") % 5 != 0)
    new_s = base.where(F.col("o_orderkey") % 7 != 0).withColumn(
        "v",
        F.col("v")
        + F.when(F.col("o_orderkey") % 11 == 0, F.lit(100)).otherwise(F.lit(0)),
    )
    return snapshot_diff(old_s, new_s, "o_orderkey")


# -- SCD2 point-in-time enrichment (operators/scd2.scd2_enrich) -------------

_ENRICH_LOOKBACK_DAYS = 45

_ENRICH_SQL = f"""
WITH obs AS (
  SELECT o_custkey, o_orderpriority,
         CAST(o_orderdate AS DATE) AS d, o_orderkey,
         LAG(o_orderpriority) OVER (
           PARTITION BY o_custkey
           ORDER BY CAST(o_orderdate AS DATE), o_orderkey
         ) AS prev
  FROM orders
), changes AS (
  SELECT o_custkey, o_orderpriority, d, o_orderkey
  FROM obs WHERE prev IS NULL OR prev <> o_orderpriority
), versions AS (
  SELECT o_custkey, o_orderpriority,
         d AS valid_from,
         LEAD(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
           AS valid_to
  FROM changes
), facts AS (
  SELECT o_orderkey, o_custkey,
         CAST(CAST(o_orderdate AS DATE)
              - INTERVAL {_ENRICH_LOOKBACK_DAYS} DAY AS DATE) AS lookback_date
  FROM orders
)
SELECT f.o_orderkey, f.o_custkey, f.lookback_date,
       v.o_orderpriority AS prio_45d_ago
FROM facts f
LEFT JOIN versions v
  ON v.o_custkey = f.o_custkey
 AND v.valid_from <= f.lookback_date
 AND (v.valid_to IS NULL OR v.valid_to > f.lookback_date)
"""


@query("scd2_enrich_orders", _ENRICH_SQL)
def scd2_enrich_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature join (``scd2_enrich``): every order is
    enriched with the priority version its customer held 45 days BEFORE
    the order date — the leakage-free feature-store lookup (a fact may
    only see dimension state from its own past). The dimension is the
    customers' order-priority SCD2 table built by ``scd2_merge`` (same
    change log as ``scd2_order_priority``); orders within 45 days of
    their customer's first observation have no history yet and must
    surface NULL — the oracle reproduces collapse + interval-join in
    DuckDB, so version splicing, the bucketed table write, AND the
    per-row as-of join are all hash-compared. Exactly one output row
    per order (disjoint validity intervals; row-count match asserts no
    fan-out)."""
    import os

    from eel_spark.operators.scd2 import scd2_enrich, scd2_merge
    from eel_spark.queries.tables import fresh_scoped_tmpdir

    orders = table(spark, sf_dir, "orders").df
    obs = orders.select(
        "o_custkey", "o_orderpriority", "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
    )
    # per-invocation dir (see ops4.scd2_order_priority): fixed paths
    # race concurrent gate/bench runs; eager same-scope reaping keeps
    # repeated in-session passes at O(1) dirs, atexit backstops the last
    tag = sf_dir.strip("/").replace("/", "_")
    root = fresh_scoped_tmpdir(f"eel_scd2_enrich_{tag}")
    path = os.path.join(root, "dim")
    scd2_merge(
        spark, path, obs, "o_custkey", ["o_orderpriority"], "d",
        ["o_orderkey"], n_buckets=16,
    )
    facts = orders.select(
        "o_orderkey", "o_custkey",
        F.date_sub(F.col("o_orderdate").cast("date"),
                   _ENRICH_LOOKBACK_DAYS).alias("lookback_date"),
    )
    return scd2_enrich(
        facts, spark, path, "o_custkey", "lookback_date",
        attrs=["o_orderpriority"],
    ).withColumnRenamed("o_orderpriority", "prio_45d_ago")


# -- BM25 retrieval scoring (operators/retrieval.py) — UNGATED tier ---------
#
# Registered with gated=False: the 50-slot driver registry is full, and
# the ungated tier's pytest harness oracles it at two SFs exactly like a
# driver row. Comparison is on the INTEGER sufficient statistics
# (tf, dl, df, N, Σdl) per SURVEY §6's no-cross-libm rule — idf's ln()
# is the one transcendental, so the float formula is verified separately
# in tests/test_retrieval.py against an independent Python reference.

_BM25_TERMS = ("merge", "scan", "window")

_BM25_SQL = f"""
WITH t AS (
  SELECT doc_id,
         coalesce(list_filter(
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
           tk -> tk <> ''), []) AS toks
  FROM documents
), base AS (
  SELECT doc_id, len(toks) AS dl, toks FROM t
), totals AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM base
), m AS (
  SELECT doc_id, dl, unnest(toks) AS term FROM base
), tfs AS (
  SELECT doc_id, term, dl, COUNT(*) AS tf FROM m
  WHERE term IN {_BM25_TERMS!r}
  GROUP BY 1, 2, 3
), dfs AS (SELECT term, COUNT(*) AS df FROM tfs GROUP BY 1)
SELECT tfs.doc_id, tfs.term, tfs.tf, CAST(tfs.dl AS BIGINT) AS dl,
       dfs.df, totals.n_docs, totals.sum_dl
FROM tfs JOIN dfs USING (term) CROSS JOIN totals
"""


@query("text_bm25_stats", _BM25_SQL, gated=False)
def text_bm25_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 integer sufficient statistics for a fixed query over the
    documents table (operators/retrieval.bm25_term_stats): one row per
    (matching document, query term) with exact tf/dl/df/N/Σdl — the
    engine-neutral form of the scoring inputs (§6: idf's ln() must not
    reach a cross-engine compare). One corpus scan; tokens intersect
    the broadcast-literal term set BEFORE exploding, so the exploded
    relation is bounded by matches, not token volume."""
    from eel_spark.operators.retrieval import bm25_term_stats

    docs = table(spark, sf_dir, "documents").df
    stats = bm25_term_stats(docs, "text", "doc_id", list(_BM25_TERMS))
    return stats.select(
        "doc_id", "term", "tf", F.col("dl").cast("long").alias("dl"),
        "df", "n_docs", "sum_dl",
    )


# -- multi-query BM25 (operators/retrieval.py) — GATED (r10 rotation) -------
#
# Took ops_explode_tokens' driver slot (its tokenize+explode shape stays
# gated via text_token_stats; its 2-SF oracle moved to the ungated tier)
# so the retrieval family flips a driver CORRECTNESS row. Reads the
# documents table through the Avro container layer, inheriting the
# rotated slot's third-format end-to-end duty (parquet everywhere, ORC
# via ops_project_derive, Avro here).

_BM25_QUERIES = {
    "q_merge_scan": ("merge", "scan"),
    "q_window_ops": ("scan", "window", "filter"),
}

_BM25_MULTI_SQL = """
WITH t AS (
  SELECT doc_id,
         coalesce(list_filter(
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
           tk -> tk <> ''), []) AS toks
  FROM documents
), base AS (
  SELECT doc_id, len(toks) AS dl, toks FROM t
), totals AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM base
), m AS (
  SELECT doc_id, dl, unnest(toks) AS term FROM base
), tfs AS (
  SELECT doc_id, term, dl, COUNT(*) AS tf FROM m
  WHERE term IN ('filter', 'merge', 'scan', 'window')
  GROUP BY 1, 2, 3
), dfs AS (SELECT term, COUNT(*) AS df FROM tfs GROUP BY 1),
qmap(query_id, term) AS (
  VALUES ('q_merge_scan', 'merge'), ('q_merge_scan', 'scan'),
         ('q_window_ops', 'filter'), ('q_window_ops', 'scan'),
         ('q_window_ops', 'window')
)
SELECT qmap.query_id, tfs.doc_id, tfs.term, tfs.tf,
       CAST(tfs.dl AS BIGINT) AS dl, dfs.df, totals.n_docs, totals.sum_dl
FROM tfs JOIN qmap USING (term) JOIN dfs USING (term) CROSS JOIN totals
"""


@query("text_bm25_multi_stats", _BM25_MULTI_SQL)
def text_bm25_multi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query BM25 integer sufficient statistics at (query_id, doc,
    term) grain (operators/retrieval.bm25_term_stats_multi): ONE corpus
    scan serves both queries — token arrays intersect the UNION of all
    query terms before the explode, per-term corpus stats (tf, df) are
    computed once, and a broadcast join against the tiny (query_id,
    term) table fans them to query grain. Exact integers per §6 (idf's
    ln() never reaches the cross-engine compare; the float formula is
    pytest-verified against an independent Python reference). The
    corpus flows through the Avro container layer (``table_via_avro``)
    so the gate keeps a third file format end-to-end."""
    from eel_spark.operators.retrieval import bm25_term_stats_multi

    docs = table_via_avro(spark, sf_dir, "documents").df
    stats = bm25_term_stats_multi(
        docs, "text", "doc_id", {k: list(v) for k, v in _BM25_QUERIES.items()}
    )
    return stats.select(
        "query_id", "doc_id", "term", "tf",
        F.col("dl").cast("long").alias("dl"), "df", "n_docs", "sum_dl",
    )


# -- hybrid-retrieval fusion (operators/retrieval.reciprocal_rank_fusion)
# — GATED (r11 rotation). Took ops_set_operations' driver slot (its
# union/intersect/except shape stays covered gated by the q2/q16/q21/q22
# anti/semi joins and pytest-oracled at 2 SFs in the ungated tier) so the
# hybrid-retrieval path flips a driver CORRECTNESS row.
#
# Oracle exactness (§6): RRF is pure integer-rank arithmetic — the fused
# score Σ w/(k_rrf + rank) with unit weights and k_rrf=60 is a rational
# whose denominator divides lcm(61..70), so multiplying by that constant
# yields an EXACT BIGINT both engines compute without libm: DuckDB sums
# L // (60 + rank) integer contributions directly; Spark recovers the
# same integer from the operator's float score as round(score · L) —
# the float error bound (≤ a few ulp of ~5e12, « 0.5) makes the
# roundtrip exact, so the hash compare genuinely gates the operator's
# arithmetic, not a rounded shadow of it. The two fused systems are
# integer-ordered rankings (term-frequency sum; term-coverage with a
# shorter-doc tiebreak), so the base ranks are engine-neutral too.

_RRF_QUERIES = {
    "q_merge_scan": ("merge", "scan"),
    "q_window_ops": ("scan", "window", "filter"),
}
_RRF_K = 10
_RRF_KRRF = 60
_RRF_L = 142813628717760  # lcm(61..70): every 1/(60+rank) scales exact

_RRF_QMAP_VALUES = ", ".join(
    f"('{q}', '{t}')" for q, ts in sorted(_RRF_QUERIES.items()) for t in ts
)
_RRF_TERMS = tuple(sorted({t for ts in _RRF_QUERIES.values() for t in ts}))

_RRF_SQL = f"""
WITH t AS (
  SELECT doc_id,
         coalesce(list_filter(
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
           tk -> tk <> ''), []) AS toks
  FROM documents
), m AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t
), tfs AS (
  SELECT doc_id, term, dl, COUNT(*) AS tf FROM m
  WHERE term IN {_RRF_TERMS!r}
  GROUP BY 1, 2, 3
), qmap(query_id, term) AS (
  VALUES {_RRF_QMAP_VALUES}
), agg AS (
  SELECT qmap.query_id, tfs.doc_id, SUM(tfs.tf) AS tfsum,
         COUNT(*) AS n_terms, MAX(tfs.dl) AS dl
  FROM tfs JOIN qmap USING (term) GROUP BY 1, 2
), lex AS (
  SELECT query_id, doc_id, row_number() OVER (
    PARTITION BY query_id ORDER BY tfsum DESC, doc_id) AS rank
  FROM agg
), cov AS (
  SELECT query_id, doc_id, row_number() OVER (
    PARTITION BY query_id
    ORDER BY n_terms * 1000000 - LEAST(dl, 999999) DESC, doc_id) AS rank
  FROM agg
), u AS (
  SELECT query_id, doc_id, {_RRF_L} // (60 + rank) AS c
  FROM lex WHERE rank <= {_RRF_K}
  UNION ALL
  SELECT query_id, doc_id, {_RRF_L} // (60 + rank) AS c
  FROM cov WHERE rank <= {_RRF_K}
), f AS (
  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_num FROM u
  GROUP BY 1, 2
)
SELECT query_id, doc_id, rank, score_num FROM (
  SELECT query_id, doc_id, score_num, row_number() OVER (
    PARTITION BY query_id ORDER BY score_num DESC, doc_id) AS rank
  FROM f
) WHERE rank <= {_RRF_K}
"""


@query("retrieval_rrf_fused", _RRF_SQL)
def retrieval_rrf_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse a term-frequency ranking and a
    term-coverage ranking of the documents corpus per query via
    Reciprocal Rank Fusion (operators/retrieval.rrf_from_ranks —
    Cormack et al.'s rank-only combiner, the standard hybrid-retrieval
    baseline). ONE match-bounded corpus scan feeds BOTH base rankings
    (tokens intersect the broadcast-literal union term set before the
    explode, so nothing token-volume-sized shuffles), and both rankings
    are computed by one fused salted top-k (_topk_per_query_multi: one
    shuffle pair for N ranking dimensions — r15, §2.4) into one wide
    (query, doc, rank_lex, rank_cov) table; the fusion is a projection
    over that table plus the same salted top-k — no pin, no union, no
    fusion groupBy.
    ``score_num`` is the fused score scaled by lcm(61..70) and rounded
    back to the exact integer numerator — the engine-neutral form (§6)
    that gates the operator's float arithmetic to within half an ulp."""
    from eel_spark.operators.retrieval import _matched_tf, rrf_from_ranks
    from eel_spark.operators.similarity import _topk_per_query_multi

    docs = table(spark, sf_dir, "documents").df
    pairs = [
        (qid, t) for qid, ts in sorted(_RRF_QUERIES.items()) for t in ts
    ]
    qdf = spark.createDataFrame(pairs, "query_id string, term string")
    agg = (
        _matched_tf(docs, "text", "doc_id", list(_RRF_TERMS))
        .join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("tf").cast("long").alias("tfsum"),
            F.count(F.lit(1)).alias("n_terms"),
            F.max("dl").alias("dl"),
        )
        .select(
            "query_id", "doc_id", "tfsum",
            (
                F.col("n_terms") * F.lit(1000000)
                - F.least(F.col("dl"), F.lit(999999))
            ).cast("long").alias("covscore"),
        )
    )
    # BOTH base rankings in one shuffle pair (r15, §2.4): the old shape
    # pinned agg and ran two independent salted top-ks over it — two
    # (query, salt) exchanges + two (query) exchanges + a persist —
    # then unioned the two rank tables back together for the fusion.
    # _topk_per_query_multi ranks both dimensions behind ONE exchange
    # per phase (same partition keys ⇒ one shuffle, two sorts), and
    # rrf_from_ranks turns the fusion into a projection (scores
    # bit-identical to reciprocal_rank_fusion's sorted fold — pinned by
    # tests/test_retrieval.py), so the whole query is one linear plan:
    # no pin, no union, the corpus scanned and ranked exactly once.
    ranked = _topk_per_query_multi(
        agg, "query_id", "doc_id", _RRF_K,
        {"lex": ("tfsum", False), "cov": ("covscore", False)},
    )
    fused = rrf_from_ranks(
        ranked, ["rank_lex", "rank_cov"], "doc_id", "query_id",
        k=_RRF_K, k_rrf=_RRF_KRRF,
    )
    return fused.select(
        "query_id", "doc_id", "rank",
        F.round(F.col("score") * F.lit(_RRF_L)).cast("long")
        .alias("score_num"),
    )


# -- HTML → text extraction (functions/text.html_to_text,
#    extract_main_content) ---------------------------------------------------
# Born ungated (the 50-slot driver registry is full; tests/test_ungated.py
# hash-compares at sf0.001 AND sf0.01). CONSTRUCTION-BASED oracle — rather
# than mirror the regexp chain in DuckDB, the query PLANTS a deterministic
# HTML wrapper (script with markup-in-string + legacy comment hiding,
# style, comments, block/inline tags, the named+numeric entity core set,
# padding whitespace, a link-dense nav and footer) around each document's
# text, runs the REAL extractors, and the oracle independently BUILDS the
# exact expected output from the original text: title line + decoded h1 +
# nav anchor text + normalized body + footer for html_to_text; the body
# alone (iff ≥ 5 words — the nav/footer/title fail the word-count and
# link-density rules by construction) for extract_main_content. Any
# deviation anywhere in the strip → decode → normalize → line-score chain
# flips a per-doc md5. Text is pre-sanitized of <>& on BOTH sides so
# arbitrary corpora can't inject markup into the plant — and of U+000B,
# the one char Java's \s matches but RE2's does not (r13 review).

_HTML_EXTRACT_SQL = r"""
WITH s AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(coalesce(text, ''),
                   '<', ''), '>', ''), '&', ''), chr(11), ''),
           '\s+', ' ', 'g')) AS nt
  FROM documents
), e AS (
  SELECT doc_id,
         'Extraction Test' || chr(10) ||
         'Doc ' || CAST(doc_id AS VARCHAR) || ' & it''s' || chr(10) ||
         'Home Next page' || chr(10) ||
         CASE WHEN nt = '' THEN '' ELSE nt || chr(10) END ||
         'About' AS full_t,
         CASE WHEN nt <> '' AND len(string_split(nt, ' ')) >= 5
              THEN nt ELSE '' END AS main_t
  FROM s
)
SELECT doc_id, md5(full_t) AS full_md5, md5(main_t) AS main_md5,
       CAST(length(full_t) AS BIGINT) AS full_chars
FROM e
"""


@query("text_html_extract", _HTML_EXTRACT_SQL)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl first stage: strip a full HTML wrapper down to visible
    text (html_to_text) and to main content (extract_main_content —
    per-line word-count + link-density heuristics drop the planted
    title, nav and footer). Scan-side Catalyst expressions only; the
    plan is one projection over the parquet scan.

    Gated in r14 (ninth rotation, directed by the r13 verdict): the
    crawl pipeline's first stage pins a driver slot; ops_project_derive
    (whose shape every gated query covers) moved to the ungated tier."""
    from eel_spark.functions import text as TX

    docs = table(spark, sf_dir, "documents").df
    # sanitize <>& (markup injection) AND U+000B: Java's \s includes
    # vertical tab, RE2's does not, so it is the one whitespace char
    # the dual-side normalizer would disagree on (r13 review)
    san = F.coalesce(F.col("text"), F.lit(""))
    for ch in ("<", ">", "&", "\x0b"):
        san = F.replace(san, F.lit(ch), F.lit(""))
    nt = F.trim(F.regexp_replace(san, r"\s+", " "))
    wrapped = F.concat(
        F.lit(
            "<html><head><title>Extraction Test</title>\n"
            '<script type="text/javascript">var s="</p>"; if (a<b) { b(); }'
            "<!-- hide --></script>\n"
            "<style>p { color: red; }</style></head>\n"
            "<body><!-- header comment with <p>markup</p> inside -->\n"
            "<h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit(
            " &amp; it&#39;s</h1>\n"
            '<div id="nav"><a href="/">Home</a>&nbsp;'
            '<a href="/next">Next page</a></div>\n'
            "<p>  "
        ),
        nt,
        F.lit(
            " \t </p>\n"
            '<div class="footer"><a href="/about">About</a></div>\n'
            "</body></html>"
        ),
    )
    full = TX.html_to_text(wrapped)
    main = TX.extract_main_content(wrapped)
    return docs.select(
        "doc_id",
        F.md5(full.cast("binary")).alias("full_md5"),
        F.md5(main.cast("binary")).alias("main_md5"),
        F.length(full).cast("long").alias("full_chars"),
    )


# -- WARC → extraction end-to-end (sources/warc.WarcSource +
#    functions/text.html_to_text) --------------------------------------------
# Born ungated (registry capped at 50; tests/test_ungated.py
# hash-compares at sf0.001 AND sf0.01). The ONLY ingestion edge with a
# Python kernel (binary WARC framing has no Catalyst expression) gets the
# same construction-based oracle as text_html_extract, extended one layer
# DOWN: each document is wrapped in the identical deterministic HTML
# plant, packed into spec-shaped .warc.gz archives (write_warc — its
# documented fixture purpose; at production scale the crawler writes the
# archives), and the query runs the REAL read path — binaryFile →
# mapInPandas record parse → HTTP payload split → decode → html_to_text —
# while DuckDB independently BUILDS the expected extraction from the
# original text. A per-doc md5 therefore gates the WARC record framing,
# gzip member handling, HTTP status/content-type split, payload byte
# fidelity, UTF-8 decode AND the extraction chain in one compare; the
# target_uri round-trips as a second gated column (header plumbing).
# Fixture construction collects `documents` once per (process, sf_dir) —
# bounded at oracle SFs and NOT the measured path; the read side stays
# fully distributed (one task per archive, plan-asserted 1 MapInPandas /
# 0 Exchange in test_warc.py).

_WARC_EXTRACT_SQL = r"""
WITH s AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(coalesce(text, ''),
                   '<', ''), '>', ''), '&', ''), chr(11), ''),
           '\s+', ' ', 'g')) AS nt
  FROM documents
), e AS (
  SELECT doc_id,
         'Extraction Test' || chr(10) ||
         'Doc ' || CAST(doc_id AS VARCHAR) || ' & it''s' || chr(10) ||
         'Home Next page' || chr(10) ||
         CASE WHEN nt = '' THEN '' ELSE nt || chr(10) END ||
         'About' AS full_t
  FROM s
)
SELECT doc_id,
       'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       md5(full_t) AS full_md5,
       CAST(length(full_t) AS BIGINT) AS full_chars
FROM e
"""

# the EXACT plant text_html_extract uses in Catalyst, as Python strings
# (the archives must carry byte-identical HTML so the two slots gate the
# same extraction chain)
_WARC_PLANT_HEAD = (
    "<html><head><title>Extraction Test</title>\n"
    '<script type="text/javascript">var s="</p>"; if (a<b) { b(); }'
    "<!-- hide --></script>\n"
    "<style>p { color: red; }</style></head>\n"
    "<body><!-- header comment with <p>markup</p> inside -->\n"
    "<h1>Doc "
)
_WARC_PLANT_MID = (
    " &amp; it&#39;s</h1>\n"
    '<div id="nav"><a href="/">Home</a>&nbsp;'
    '<a href="/next">Next page</a></div>\n'
    "<p>  "
)
_WARC_PLANT_TAIL = (
    " \t </p>\n"
    '<div class="footer"><a href="/about">About</a></div>\n'
    "</body></html>"
)

_WARC_MEMO: dict[str, str] = {}


def _warc_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Pack `documents` into 4 spec-shaped .warc.gz archives under a
    memoized temp dir (one build per process+SF). Sanitization mirrors
    the oracle's s CTE exactly: <>& and U+000B removed, whitespace
    collapsed with the ASCII class both Java and RE2 agree on."""
    root = _WARC_MEMO.get(sf_dir)
    if root is not None:
        return root
    import os
    import re
    import tempfile

    from eel_spark.sources.warc import write_warc

    rows = (
        table(spark, sf_dir, "documents")
        .df.select("doc_id", "text")
        .collect()
    )
    root = tempfile.mkdtemp(prefix="eel_warc_slot_")
    waves: dict[int, list[dict]] = {i: [] for i in range(4)}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        t = (r["text"] or "")
        for ch in "<>&\x0b":
            t = t.replace(ch, "")
        nt = re.sub("[ \t\n\f\r]+", " ", t).strip()
        html = (
            _WARC_PLANT_HEAD + str(r["doc_id"]) + _WARC_PLANT_MID
            + nt + _WARC_PLANT_TAIL
        )
        waves[r["doc_id"] % 4].append(
            {
                "warc_type": "response",
                "target_uri": f"http://corpus.example/doc/{r['doc_id']}",
                "content_type": "application/http;msgtype=response",
                "payload": (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                    + html.encode("utf-8")
                ),
            }
        )
    for i, recs in waves.items():
        write_warc(
            recs, os.path.join(root, f"wave{i}.warc.gz"), compress=True
        )
    _WARC_MEMO[sf_dir] = root
    return root


@query("warc_html_extract", _WARC_EXTRACT_SQL, gated=False)
def warc_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl ingestion end-to-end: .warc.gz archives → WarcSource
    (binary record framing + HTTP split in ONE mapInPandas) → UTF-8
    decode → html_to_text, hash-compared against a DuckDB oracle that
    builds the expected text from the original documents. Cites the
    parse-once-stage-to-parquet contract (sources/warc.py module doc);
    this slot IS the parse step, measured on its own."""
    from eel_spark.functions import text as TX
    from eel_spark.sources.warc import WarcSource

    root = _warc_fixture_dir(spark, sf_dir)
    records = WarcSource(f"{root}/*.warc.gz").to_datastream(spark).df
    pages = records.where(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & (F.col("content_type") == "text/html")
    ).select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.decode("payload", "UTF-8").alias("html"),
    )
    full = TX.html_to_text(F.col("html"))
    return pages.select(
        "doc_id",
        "url",
        F.md5(full.cast("binary")).alias("full_md5"),
        F.length(full).cast("long").alias("full_chars"),
    )


# -- crawl-frontier fold (html_links → resolve_url → canonical_url) ----------
# Born ungated. Construction-based like text_html_extract, one layer UP:
# each document becomes a synthetic page at http://crawl.example/p/{id}
# whose outlinks are RELATIVE in all three dialects a real page uses —
# dir-relative with ../ and a trailing slash, ./-relative with a tracking
# param, protocol-relative with a different tracking param — plus a bare
# relative "skip" link, an absolute cross-domain ad link, and a JS-string
# decoy that must never be harvested. The Spark side runs the REAL chain
# (quote-aware href harvest → RFC 3986 resolution in its own projection →
# canonicalization → reference counts); DuckDB constructs the expected
# canonical frontier ARITHMETICALLY from doc_id (no regex mirroring):
# the three decorated next-page variants and the skip link all fold to
# 'http://crawl.example/p/{k}', so any slip anywhere — a dropped href
# form, a wrong dot-segment fold, an unstripped tracking param, a
# trailing slash surviving — shifts a count and flips the hash.

_FRONTIER_SQL = """
WITH refs AS (
  SELECT 'http://crawl.example/p/' || CAST(doc_id + 1 AS VARCHAR) AS url
  FROM documents
  UNION ALL
  SELECT 'http://crawl.example/p/' || CAST(doc_id + 1 AS VARCHAR)
  FROM documents
  UNION ALL
  SELECT 'http://crawl.example/p/' || CAST(doc_id + 1 AS VARCHAR)
  FROM documents
  UNION ALL
  SELECT 'http://crawl.example/p/' || CAST(doc_id + 2 AS VARCHAR)
  FROM documents
  UNION ALL
  SELECT 'http://ads.example/click' FROM documents
)
SELECT url, COUNT(*) AS n_refs FROM refs GROUP BY url
"""


@query("crawl_frontier_fold", _FRONTIER_SQL, gated=False)
def crawl_frontier_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-frontier stage end-to-end: synthetic pages with
    RELATIVE outlinks → html_links → resolve_url (own projection, per
    its composition contract) → canonical_url → per-URL reference
    counts. All scan-side Catalyst; the only exchange is the final
    count aggregate."""
    from eel_spark.functions import text as TX

    docs = table(spark, sf_dir, "documents").df
    nxt = (F.col("doc_id") + 1).cast("string")
    skip = (F.col("doc_id") + 2).cast("string")
    html = F.concat(
        F.lit("<html><head><script>var x = '<a href=\"https://js.example/no\">';"
              "</script></head><body><nav><a href=\"../p/"),
        nxt,
        F.lit("/\">next</a> <a href='./"),
        nxt,
        F.lit("?utm_source=feed'>tracked</a> <a href=//crawl.example/p/"),
        nxt,
        F.lit("?utm_campaign=x>proto</a> <a href=\""),
        skip,
        F.lit("\">skip</a> <a href=\"http://ads.example/click\">ad</a>"
              "</nav></body></html>"),
    )
    pages = docs.select(
        F.concat(F.lit("http://crawl.example/p/"),
                 F.col("doc_id").cast("string")).alias("page_url"),
        html.alias("html"),
    )
    return (
        pages.select(
            "page_url", F.explode(TX.html_links("html")).alias("href")
        )
        .select(TX.resolve_url("page_url", F.col("href")).alias("abs"))
        .select(TX.canonical_url(F.col("abs")).alias("url"))
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )


# -- robots.txt politeness gate (RFC 9309 over the frontier) ----------------
# Born ungated. One layer up from crawl_frontier_fold: the frontier's
# last stage before the fetch scheduler. Every document becomes a
# frontier URL whose host and path shard derive from doc_id; a 3-host
# robots dimension plants the protocol's hard cases — prefix Disallow,
# wildcard+anchored Allow overriding a shorter Disallow (longest-octet
# precedence), an exact eelbot group suppressing a deny-all * group,
# a * -group fallback when only a foreign bot is named exactly, and a
# host with no robots row at all (allow by default). The Spark side
# runs the REAL chain (robots_rules fold → broadcast dimension join →
# per-URL longest-match verdict); DuckDB constructs the expected
# surviving set ARITHMETICALLY from doc_id's decimal digits — no
# pattern matching at all on the oracle side — so any slip in parsing,
# group selection, wildcard compilation or precedence shifts the
# surviving row set and flips the hash.

_ROBOTS_SQL = """
WITH f AS (
  SELECT doc_id,
         doc_id % 3 AS site,
         (doc_id // 10) % 10 AS shard
  FROM documents
)
SELECT doc_id,
       'http://site' || site || '.example/p' || shard || '/d' || doc_id
         AS url
FROM f
WHERE CASE site
  WHEN 0 THEN NOT (shard = 1 OR (shard = 2 AND doc_id % 10 <> 4))
  WHEN 1 THEN NOT (shard = 3 AND CAST(doc_id AS VARCHAR) NOT LIKE '1%')
  ELSE TRUE END
"""


@query("crawl_robots_filter", _ROBOTS_SQL, gated=False)
def crawl_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 politeness over a synthetic frontier: per-host robots
    bodies → robots_rules fold (once per host) → broadcast join →
    longest-match verdict per URL. site0 names eelbot exactly
    (wildcard+anchor Allow carves doc_ids ending in 4 out of the /p2
    Disallow; the deny-all * group must NOT apply); site1 names only
    otherbot, so eelbot falls back to its * group (/p3 blocked except
    d1… ids); site2 has no robots.txt (kept wholesale)."""
    from eel_spark.functions.robots import filter_by_robots

    docs = table(spark, sf_dir, "documents").df
    site = (F.col("doc_id") % 3).cast("string")
    shard = (F.floor(F.col("doc_id") / 10) % 10).cast("string")
    frontier = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://site"), site, F.lit(".example/p"), shard,
            F.lit("/d"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    robots_dim = spark.createDataFrame(
        [
            (
                "site0.example",
                "User-agent: eelbot\nDisallow: /p1/\nDisallow: /p2\n"
                "Allow: /p2/d*4$\nUser-agent: *\nDisallow: /\n",
            ),
            (
                "site1.example",
                "User-agent: otherbot\nDisallow: /\nUser-agent: *\n"
                "Disallow: /p3/\nAllow: /p3/d1*\n",
            ),
        ],
        "host: string, robots_body: string",
    )
    return filter_by_robots(frontier, "url", robots_dim, agent="eelbot")


# -- per-host polite fetch planning (window + broadcast delays) --------------
# Born ungated. The frontier's LAST stage: deterministic per-host fetch
# order + pacing offsets. DuckDB re-derives the whole plan with its own
# window function over the same synthetic frontier — host derivation,
# the broadcast delay join (one host paced at 2.0 s, one at 0.5 s, the
# rest defaulting), the running row_number, the offset arithmetic and
# the per-host wave budget (fetch_seq ≤ 100, exercised at every SF)
# are all gated by the full surviving row set.

_FETCH_PLAN_SQL = """
WITH f AS (
  SELECT doc_id,
         doc_id % 5 AS site,
         'http://site' || (doc_id % 5) || '.example/p/' || doc_id AS url
  FROM documents
), ranked AS (
  SELECT doc_id, url,
         'site' || site || '.example' AS host,
         ROW_NUMBER() OVER (PARTITION BY site ORDER BY url) AS fetch_seq,
         CASE site WHEN 0 THEN 2.0 WHEN 1 THEN 0.5 ELSE 1.0 END AS delay
  FROM f
)
SELECT doc_id, url, host,
       CAST(fetch_seq AS INTEGER) AS fetch_seq,
       CAST((fetch_seq - 1) * delay AS DOUBLE) AS fetch_offset_s
FROM ranked
WHERE fetch_seq <= 100
"""


@query("crawl_fetch_plan", _FETCH_PLAN_SQL, gated=False)
def crawl_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polite fetch scheduling end-to-end: synthetic frontier (5 hosts
    from doc_id) → fetch_plan with a 2-host delay dimension (broadcast)
    + default pacing + a 100-fetch per-host wave budget. One frontier
    shuffle (hash by host), running row_number, offsets JVM-side."""
    from eel_spark.operators.crawl import fetch_plan

    docs = table(spark, sf_dir, "documents").df
    frontier = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://site"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    delays = spark.createDataFrame(
        [("site0.example", 2.0), ("site1.example", 0.5)],
        "host: string, crawl_delay: double",
    )
    return fetch_plan(
        frontier, "url", delays=delays, default_delay=1.0, max_per_host=100
    )
