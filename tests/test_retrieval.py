"""BM25 retrieval scoring (operators/retrieval.py): the integer
sufficient statistics are DuckDB-oracled in tests/test_ungated.py
(text_bm25_stats); here the ln()-bearing score formula is verified
against an independent Python reference, plus determinism and the
top-k ranking contract."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from eel_spark.operators.retrieval import bm25_scores, bm25_term_stats, bm25_topk

DOCS = [
    (0, "spark merge sort merge join"),
    (1, "window scan window window table"),
    (2, "the quick brown fox"),
    (3, "merge"),
    (4, ""),
]
TERMS = ["merge", "window", "absent-term"]
K1, B = 1.2, 0.75


def _py_bm25(rows):
    """Independent reference implementation over raw (id, text) rows."""
    toks = {i: t.lower().split() for i, t in rows}
    n = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n
    terms = sorted({t.strip().lower() for t in TERMS if t.strip()})
    df = {
        t: sum(1 for v in toks.values() if t in v) for t in terms
    }
    out = {}
    for i, v in toks.items():
        comps = []
        for t in terms:
            tf = v.count(t)
            if tf == 0:
                continue
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            comps.append(
                idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * len(v) / avgdl))
            )
        if comps:
            out[i] = sum(sorted(comps))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_bm25_stats_integers(spark, docs):
    rows = bm25_term_stats(docs, "text", "doc_id", TERMS).collect()
    got = {(r["doc_id"], r["term"]): (r["tf"], r["dl"], r["df"]) for r in rows}
    # absent-term matches nothing; doc 2/4 match nothing
    assert got == {
        (0, "merge"): (2, 5, 2),
        (3, "merge"): (1, 1, 2),
        (1, "window"): (3, 5, 1),
    }
    n_docs = {r["n_docs"] for r in rows}
    sum_dl = {r["sum_dl"] for r in rows}
    assert n_docs == {5} and sum_dl == {15}


def test_bm25_scores_match_python_reference(spark, docs):
    got = {r["doc_id"]: r["score"] for r in bm25_scores(
        docs, "text", "doc_id", TERMS, k1=K1, b=B).collect()}
    exp = _py_bm25(DOCS)
    assert set(got) == set(exp)
    for i in exp:
        assert got[i] == pytest.approx(exp[i], rel=1e-12), i


def test_bm25_deterministic_across_partitionings(spark, docs):
    a = {r["doc_id"]: r["score"] for r in bm25_scores(
        docs.repartition(1), "text", "doc_id", TERMS).collect()}
    b = {r["doc_id"]: r["score"] for r in bm25_scores(
        docs.repartition(7, "doc_id"), "text", "doc_id", TERMS).collect()}
    assert a == b  # bit-identical: sorted-order component fold


def test_bm25_topk_rank_and_tiebreak(spark, docs):
    rows = bm25_topk(docs, "text", "doc_id", TERMS, k=2).collect()
    ranked = [(r["rank"], r["doc_id"]) for r in sorted(rows, key=lambda r: r["rank"])]
    exp = sorted(_py_bm25(DOCS).items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    assert ranked == [(i + 1, d) for i, (d, _) in enumerate(exp)]


def test_bm25_rejects_empty_terms(spark, docs):
    with pytest.raises(ValueError, match="at least one term"):
        bm25_term_stats(docs, "text", "doc_id", ["  ", ""])


def test_bm25_corpus_scan_is_bounded_and_jvm_only(spark):
    """Plan contract: the exploded relation is the FILTERED token
    array (match-bounded), and the whole plan is Python-free."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = bm25_term_stats(docs, "text", "doc_id", ["merge", "scan"])
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("extended")
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan
    # generate (explode) must consume the filtered-match column, never a
    # raw full-token split
    gen = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    assert gen and all("__m" in ln for ln in gen), gen


def test_bm25_oracle_handles_empty_docs(spark, oracle):
    """The DuckDB twin must tokenize empty/whitespace-only documents to
    dl=0 exactly like tokens() does (string_split('', ' ') returns ['']
    — the empty token has to be filtered or Σdl diverges on every row
    the first time a regeneration ships an empty document)."""
    import duckdb

    from eel_spark.queries import UNGATED_ORACLE

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(0, 'merge scan merge'), (1, ''), (2, '   '), (3, 'window')) "
        "AS t(doc_id, text)"
    )
    rows = con.sql(UNGATED_ORACLE["text_bm25_stats"]).fetchall()
    got = {(r[0], r[1]): (r[2], r[3], r[4], r[5], r[6]) for r in rows}
    # n_docs=4, sum_dl = 3 + 0 + 0 + 1 = 4
    assert got == {
        (0, "merge"): (2, 3, 1, 4, 4),
        (0, "scan"): (1, 3, 1, 4, 4),
        (3, "window"): (1, 1, 1, 4, 4),
    }
    con.close()

    sdf = bm25_term_stats(
        spark.createDataFrame(
            [(0, "merge scan merge"), (1, ""), (2, "   "), (3, "window")],
            "doc_id long, text string",
        ),
        "text", "doc_id", ["merge", "scan", "window"],
    )
    s_got = {(r["doc_id"], r["term"]):
             (r["tf"], r["dl"], r["df"], r["n_docs"], r["sum_dl"])
             for r in sdf.collect()}
    assert s_got == got


def test_bm25_stats_oracle_sf01_full(spark):
    """Third-SF oracle sweep (the ungated harness covers sf0.001 and
    sf0.01; this backs the 3-SF claim for the BM25 stats)."""
    import duckdb

    from eel_spark.queries import UNGATED_ORACLE, UNGATED_QUERIES
    from tests.conftest import TABLES, assert_df_matches_oracle

    sf = "/root/testdata/sf0.1"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    df = UNGATED_QUERIES["text_bm25_stats"](spark, sf)
    assert_df_matches_oracle(df, con, UNGATED_ORACLE["text_bm25_stats"])
    con.close()


def test_bm25_multi_stats_oracle_sf01_full(spark):
    """Third-SF oracle sweep for the GATED multi-query slot (the driver
    covers sf0.01, test_tpch covers sf0.001)."""
    import duckdb

    from eel_spark.queries import ORACLE, QUERIES
    from tests.conftest import TABLES, assert_df_matches_oracle

    sf = "/root/testdata/sf0.1"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    df = QUERIES["text_bm25_multi_stats"](spark, sf)
    assert_df_matches_oracle(df, con, ORACLE["text_bm25_multi_stats"])
    con.close()


# -- multi-query BM25 (r10) ---------------------------------------------------


MULTI_QUERIES = {
    "qa": ["merge", "window"],
    "qb": ["window", "scan", "absent-term"],
    "qc": ["merge"],
}


def test_bm25_multi_stats_equal_per_query_single(spark, docs):
    """(query_id, doc, term) stats from the one-scan multi path equal the
    single-query stats run separately per query — tf/df/dl/N/Σdl are all
    corpus-level facts, so the union-then-fan-out must not change them."""
    from eel_spark.operators.retrieval import bm25_term_stats_multi

    multi = bm25_term_stats_multi(docs, "text", "doc_id", MULTI_QUERIES)
    got = {
        (r["query_id"], r["doc_id"], r["term"]):
            (r["tf"], r["dl"], r["df"], r["n_docs"], r["sum_dl"])
        for r in multi.collect()
    }
    expect = {}
    for qid, terms in MULTI_QUERIES.items():
        for r in bm25_term_stats(docs, "text", "doc_id", terms).collect():
            expect[(qid, r["doc_id"], r["term"])] = (
                r["tf"], r["dl"], r["df"], r["n_docs"], r["sum_dl"]
            )
    assert got == expect


def test_bm25_topk_multi_equals_single_query_topk(spark, docs):
    """Brute-force equivalence: for every query, the multi top-k rows
    (score AND rank) are exactly the single-query bm25_topk rows —
    identical component multisets fold to bit-identical doubles."""
    from eel_spark.operators.retrieval import bm25_topk_multi

    multi = bm25_topk_multi(docs, "text", "doc_id", MULTI_QUERIES, k=3)
    got = {}
    for r in multi.collect():
        got.setdefault(r["query_id"], {})[r["rank"]] = (r["doc_id"], r["score"])
    assert set(got) == set(MULTI_QUERIES)
    # scoring off a precomputed stats DataFrame (the no-rescan path)
    # yields the identical ranking
    from eel_spark.operators.retrieval import bm25_term_stats_multi

    stats = bm25_term_stats_multi(docs, "text", "doc_id", MULTI_QUERIES)
    via_stats = bm25_topk_multi(
        docs, "text", "doc_id", MULTI_QUERIES, k=3, stats=stats
    )
    got2 = {}
    for r in via_stats.collect():
        got2.setdefault(r["query_id"], {})[r["rank"]] = (r["doc_id"], r["score"])
    assert got2 == got
    for qid, terms in MULTI_QUERIES.items():
        single = {
            r["rank"]: (r["doc_id"], r["score"])
            for r in bm25_topk(docs, "text", "doc_id", terms, k=3).collect()
        }
        assert got[qid] == single, qid


def test_bm25_multi_one_corpus_scan_jvm_only(spark):
    """Scale invariants of the multi path: the slim tokenized projection
    is pinned (tracked persist) so the corpus text is scanned+tokenized
    once and every branch reads the cache; the (query_id, term) fan-out
    is a broadcast join; no Python reaches the plan; and the plan shape
    is INDEPENDENT of the query count (q queries ≠ q corpus passes)."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    from eel_spark.caching import release_pins
    from eel_spark.operators.retrieval import bm25_term_stats_multi

    def plan_of(queries):
        release_pins()
        out = bm25_term_stats_multi(docs, "text", "doc_id", queries)
        return out._jdf.queryExecution().executedPlan().toString()

    plan = plan_of(MULTI_QUERIES)
    assert "InMemoryTableScan" in plan  # pinned tokenize, branches read cache
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan
    assert "BroadcastHashJoin" in plan
    # doubling the query count must not change the number of corpus
    # relations in the plan — only the broadcast-literal term set grows
    more = dict(MULTI_QUERIES, qd=["scan", "table"], qe=["fox", "merge"])
    assert plan_of(more).count("documents.parquet") == plan.count(
        "documents.parquet"
    )
    release_pins()


def test_bm25_null_text_counts_as_empty_doc(spark):
    """ADVICE r9: NULL-text rows count toward n_docs with dl = 0 (same
    as empty strings) instead of silently deflating sum_dl."""
    docs = spark.createDataFrame(
        [(0, "merge scan merge"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    rows = bm25_term_stats(docs, "text", "doc_id", ["merge"]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_docs"], r["sum_dl"], r["dl"], r["tf"]) == (3, 3, 3, 2)


def test_bm25_multi_rejects_empty(spark, docs):
    from eel_spark.operators.retrieval import bm25_term_stats_multi

    with pytest.raises(ValueError, match="at least one"):
        bm25_term_stats_multi(docs, "text", "doc_id", {})
    with pytest.raises(ValueError, match="no usable terms"):
        bm25_term_stats_multi(docs, "text", "doc_id", {"q": ["  ", ""]})


# -- incrementally maintained corpus stats (r10) ------------------------------


SF_DOCS = "/root/testdata/sf0.001/documents.parquet"
INC_TERMS = ["merge", "window", "scan"]


@pytest.fixture()
def stats_store(spark, tmp_path):
    """Three waves appended batch-by-batch, as a streaming sink would."""
    from eel_spark.operators.retrieval import append_bm25_stats_batch

    docs = spark.read.parquet(SF_DOCS)
    path = str(tmp_path / "bm25_stats")
    for i in range(3):
        append_bm25_stats_batch(
            path, docs.where(F.col("doc_id") % 3 == i), "text", src_batch=i,
        )
    return path, docs


def _stat_rows(spark, path, terms):
    from eel_spark.operators.retrieval import read_bm25_stats

    return {
        r["term"]: (r["df"], r["n_docs"], r["sum_dl"])
        for r in read_bm25_stats(spark, path, terms).collect()
    }


def test_incremental_stats_fold_equals_one_shot(spark, stats_store):
    """SUM over per-wave increments ≡ one-shot whole-corpus recompute —
    df, N, and Σdl are associative, so the maintained store never
    drifts from what a full rescan would say."""
    path, docs = stats_store
    got = _stat_rows(spark, path, INC_TERMS)
    expect = {
        r["term"]: (r["df"], r["n_docs"], r["sum_dl"])
        for r in bm25_term_stats(docs, "text", "doc_id", INC_TERMS)
        .select("term", "df", "n_docs", "sum_dl").distinct().collect()
    }
    assert got == expect


def test_incremental_stats_replay_idempotent(spark, stats_store):
    """Re-appending a wave with its original src_batch (checkpoint
    replay) dynamic-overwrites exactly its partition: stats unchanged."""
    from eel_spark.operators.retrieval import append_bm25_stats_batch

    path, docs = stats_store
    before = _stat_rows(spark, path, INC_TERMS)
    append_bm25_stats_batch(
        path, docs.where(F.col("doc_id") % 3 == 1), "text", src_batch=1,
    )
    assert _stat_rows(spark, path, INC_TERMS) == before


def test_incremental_stats_compact_preserves(spark, stats_store):
    """Compaction collapses the increments to one partition without
    changing any folded value."""
    import glob

    from eel_spark.operators.retrieval import compact_bm25_stats

    path, docs = stats_store
    before = _stat_rows(spark, path, INC_TERMS)
    compact_bm25_stats(spark, path)
    assert _stat_rows(spark, path, INC_TERMS) == before
    parts = {p.split("=")[-1] for p in glob.glob(f"{path}/__src_batch=*")}
    assert parts == {"-1"}


def test_score_against_stats_equals_one_shot(spark, stats_store):
    """Scoring the corpus against the MAINTAINED stats is bit-identical
    to the one-shot bm25_scores (same integer inputs, same sorted fold)."""
    from eel_spark.operators.retrieval import (
        bm25_score_against_stats,
        read_bm25_stats,
    )

    path, docs = stats_store
    stats = read_bm25_stats(spark, path, INC_TERMS)
    via_store = {
        r["doc_id"]: (r["score"], r["n_terms"])
        for r in bm25_score_against_stats(
            docs, "text", "doc_id", stats, INC_TERMS
        ).collect()
    }
    one_shot = {
        r["doc_id"]: (r["score"], r["n_terms"])
        for r in bm25_scores(docs, "text", "doc_id", INC_TERMS).collect()
    }
    assert via_store == one_shot


def test_score_against_stats_plan_jvm_only_broadcast(spark, stats_store):
    """Scale contract of the no-rescan path: Python-free plan, the
    maintained stats join the matched rows by BROADCAST (the store side
    is vocabulary-bounded and term-filtered at the scan), and the
    explode stays match-bounded."""
    from eel_spark.operators.retrieval import (
        bm25_score_against_stats,
        read_bm25_stats,
    )

    path, docs = stats_store
    out = bm25_score_against_stats(
        docs, "text", "doc_id", read_bm25_stats(spark, path, INC_TERMS),
        INC_TERMS,
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    gen = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    assert gen and all("__m" in ln for ln in gen), gen


def test_topk_multi_against_stats_equals_one_shot(spark, stats_store):
    """When the store covers the scored corpus, per-query top-k against
    the maintained stats is exactly the one-shot multi top-k (same
    integer inputs, same sorted fold, same salted rank)."""
    from eel_spark.operators.retrieval import (
        bm25_topk_multi,
        bm25_topk_multi_against_stats,
        read_bm25_stats,
    )

    path, docs = stats_store
    queries = {"qa": ["merge", "window"], "qb": ["scan", "merge"]}
    union = ["merge", "scan", "window"]
    via_store = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in bm25_topk_multi_against_stats(
            docs, "text", "doc_id", read_bm25_stats(spark, path, union),
            queries, k=4,
        ).collect()
    }
    one_shot = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in bm25_topk_multi(docs, "text", "doc_id", queries, k=4).collect()
    }
    assert via_store == one_shot


def test_score_against_stats_unseen_term_degrades_not_drops(spark, stats_store):
    """A wave that introduces a store-unseen term must keep the match
    with df = 0 (well-defined idf), never silently drop the term or the
    document — in both single and multi against-stats paths."""
    from eel_spark.operators.retrieval import (
        bm25_score_against_stats,
        bm25_topk_multi_against_stats,
        read_bm25_stats,
    )

    path, _ = stats_store
    wave = spark.createDataFrame(
        [(1, "novelterm only here"), (2, "merge and novelterm"), (3, "plain")],
        "doc_id long, text string",
    )
    terms = ["merge", "novelterm"]
    stats = read_bm25_stats(spark, path, terms)
    # the store guarantees a row per requested term, df=0 for unseen
    assert {r["term"]: r["df"] for r in stats.collect()}["novelterm"] == 0
    got = {
        r["doc_id"]: r["n_terms"]
        for r in bm25_score_against_stats(
            wave, "text", "doc_id", stats, terms
        ).collect()
    }
    assert got == {1: 1, 2: 2}  # doc 1 kept; doc 2 counts BOTH terms
    # even a stats frame loaded WITHOUT the novel term degrades: the
    # left join coalesces df to 0, totals ride separately
    narrow = read_bm25_stats(spark, path, ["merge"])
    got2 = {
        r["doc_id"]: r["n_terms"]
        for r in bm25_score_against_stats(
            wave, "text", "doc_id", narrow, terms
        ).collect()
    }
    assert got2 == {1: 1, 2: 2}
    multi = bm25_topk_multi_against_stats(
        wave, "text", "doc_id", stats, {"q": terms}, k=5
    )
    assert {r["doc_id"] for r in multi.collect()} == {1, 2}


def test_compact_bm25_stats_restores_after_interrupted_swap(spark, stats_store):
    """Crash between the two swap renames leaves the store staged at
    <path>__old; the next compaction call restores it and proceeds."""
    from eel_spark.operators.retrieval import compact_bm25_stats

    path, _ = stats_store
    before = _stat_rows(spark, path, INC_TERMS)
    # simulate the crash window: store renamed aside, new store not yet in
    import os
    os.rename(path, path + "__old")
    compact_bm25_stats(spark, path)
    assert _stat_rows(spark, path, INC_TERMS) == before


# -- hybrid fusion + eval metrics (r10) ---------------------------------------


def test_reciprocal_rank_fusion_matches_python(spark):
    """Fused scores and ranks equal a from-scratch Python RRF over the
    same ranking tables, including weights and a doc present in only
    one system."""
    from eel_spark.operators.retrieval import reciprocal_rank_fusion

    a = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q1", 12, 3),
         ("q2", 20, 1), ("q2", 21, 2)],
        "query_id string, doc_id long, rank int",
    )
    b = spark.createDataFrame(
        [("q1", 11, 1), ("q1", 13, 2),
         ("q2", 21, 1), ("q2", 20, 2)],
        "query_id string, doc_id long, rank int",
    )
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in reciprocal_rank_fusion(
            [a, b], "doc_id", k=4, k_rrf=60, weights=[1.0, 0.5]
        ).collect()
    }
    # python reference
    import collections

    scores: dict = collections.defaultdict(float)
    for w, rows in ((1.0, a.collect()), (0.5, b.collect())):
        for r in rows:
            scores[(r["query_id"], r["doc_id"])] += w / (60 + r["rank"])
    expect = {}
    for q in ("q1", "q2"):
        ranked = sorted(
            ((d, s) for (qq, d), s in scores.items() if qq == q),
            key=lambda t: (-t[1], t[0]),
        )
        for i, (d, s) in enumerate(ranked[:4]):
            expect[(q, i + 1)] = d
    assert {k: v[0] for k, v in got.items()} == expect
    for (q, rk), (d, s) in got.items():
        assert s == pytest.approx(scores[(q, d)], rel=1e-12)


def test_rrf_rejects_bad_inputs(spark):
    from eel_spark.operators.retrieval import reciprocal_rank_fusion

    with pytest.raises(ValueError, match="at least one"):
        reciprocal_rank_fusion([], "doc_id")
    a = spark.createDataFrame([("q", 1, 1)], "query_id string, doc_id long, rank int")
    with pytest.raises(ValueError, match="weights"):
        reciprocal_rank_fusion([a, a], "doc_id", weights=[1.0])


def test_rrf_from_ranks_bit_equals_list_form(spark):
    """The r15 fused-projection RRF must be BIT-identical (scores
    included — same sorted float fold) to the list-of-tables operator on
    the same rankings, including a doc present in only one system and
    non-unit weights."""
    from eel_spark.operators.retrieval import (
        reciprocal_rank_fusion,
        rrf_from_ranks,
    )

    a = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q1", 12, 3),
         ("q2", 20, 1), ("q2", 21, 2)],
        "query_id string, doc_id long, rank int",
    )
    b = spark.createDataFrame(
        [("q1", 11, 1), ("q1", 13, 2),
         ("q2", 21, 1), ("q2", 20, 2)],
        "query_id string, doc_id long, rank int",
    )
    want = sorted(
        map(tuple, reciprocal_rank_fusion(
            [a, b], "doc_id", k=4, k_rrf=60, weights=[1.0, 0.5]
        ).collect())
    )
    wide = a.select(
        "query_id", "doc_id", F.col("rank").alias("rank_a")
    ).join(
        b.select("query_id", "doc_id", F.col("rank").alias("rank_b")),
        ["query_id", "doc_id"],
        "full_outer",
    )
    got = sorted(
        map(tuple, rrf_from_ranks(
            wide, ["rank_a", "rank_b"], "doc_id",
            k=4, k_rrf=60, weights=[1.0, 0.5],
        ).collect())
    )
    assert got == want  # exact, floats included
    # and both equal a Python fold over the SORTED contributions from 0.0
    contribs: dict = {}
    for w, t in ((1.0, a), (0.5, b)):
        for r in t.collect():
            contribs.setdefault((r["query_id"], r["doc_id"]), []).append(
                w / (60.0 + r["rank"])
            )
    expect = {}
    for key, cs in contribs.items():
        acc = 0.0
        for c in sorted(cs):
            acc += c
        expect[key] = acc
    assert all(s == expect[(q, d)] for q, d, s, _ in got), got
    with pytest.raises(ValueError, match="at least one"):
        rrf_from_ranks(wide, [], "doc_id")
    with pytest.raises(ValueError, match="weights"):
        rrf_from_ranks(wide, ["rank_a", "rank_b"], "doc_id", weights=[1.0])
    with pytest.raises(ValueError, match="positive"):
        rrf_from_ranks(wide, ["rank_a"], "doc_id", weights=[0.0])


def _python_topk(rows, value_idx, k, ascending):
    """Per-query top-k of (query, id, values...) tuples by a pure-Python
    sort on (value, id): {(query, id): rank}."""
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r[0], []).append(r)
    out = {}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: (r[value_idx] if ascending else -r[value_idx], r[1]))
        out.update({(q, r[1]): i + 1 for i, r in enumerate(rs[:k])})
    return out


def test_topk_per_query_multi_equals_independent_topks(spark):
    """The one salted top-k kernel (_topk_per_query_multi, and its
    one-dimension adapter _topk_per_query) must reproduce a pure-Python
    per-query sort by (value, id) exactly — ties broken by id, both
    orders, one and two dimensions, rows surviving for only one
    dimension."""
    from eel_spark.operators.similarity import (
        _topk_per_query,
        _topk_per_query_multi,
    )

    rows = [
        ("q1", i, float(i % 7), float((13 * i) % 11)) for i in range(40)
    ] + [("q2", i, float(i % 3), float(i)) for i in range(25)] + [
        ("q3", i, float((i * 5) % 4), float(i % 2)) for i in range(300)
    ]
    scored = spark.createDataFrame(
        rows, "query_id string, doc_id long, va double, vb double"
    )
    multi = _topk_per_query_multi(
        scored, "query_id", "doc_id", 5,
        {"a": ("va", False), "b": ("vb", True)},
    ).collect()
    for name, idx, asc in (("a", 2, False), ("b", 3, True)):
        got = {
            (r["query_id"], r["doc_id"]): r[f"rank_{name}"]
            for r in multi if r[f"rank_{name}"] is not None
        }
        assert got == _python_topk(rows, idx, 5, asc), name
    # every emitted row ranks in at least one dimension and carries its
    # input values
    vals = {(r[0], r[1]): (r[2], r[3]) for r in rows}
    for r in multi:
        assert r["rank_a"] is not None or r["rank_b"] is not None
        assert (r["va"], r["vb"]) == vals[(r["query_id"], r["doc_id"])]
    for asc in (False, True):
        single = _topk_per_query(
            scored, "query_id", "doc_id", 5, value_col="va", ascending=asc
        )
        assert single.columns == ["query_id", "doc_id", "va", "rank"]
        got = {(r["query_id"], r["doc_id"]): r["rank"] for r in single.collect()}
        assert got == _python_topk(rows, 2, 5, asc), asc


def test_rrf_hybrid_bm25_plus_ann_jvm_only(spark, stats_store):
    """The intended composition: BM25 lexical top-k fused with an
    embedding top-k, all JVM-side, fused ranks deterministic."""
    from eel_spark.operators.retrieval import (
        bm25_topk_multi,
        reciprocal_rank_fusion,
    )

    _, docs = stats_store
    lex = bm25_topk_multi(
        docs, "text", "doc_id",
        {"qa": ["merge", "scan"], "qb": ["window"]}, k=8,
    ).select("query_id", "doc_id", "rank")
    # a second "system": rank by doc length (stands in for ANN cosine —
    # any (query, id, rank) table fuses)
    from pyspark.sql import Window as W

    sem = (
        docs.crossJoin(
            spark.createDataFrame([("qa",), ("qb",)], "query_id string")
        )
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.length("text"), "doc_id")
            ),
        )
        .where(F.col("rank") <= 8)
        .select("query_id", "doc_id", "rank")
    )
    fused = reciprocal_rank_fusion([lex, sem], "doc_id", k=5)
    rows = fused.collect()
    assert {r["query_id"] for r in rows} == {"qa", "qb"}
    assert all(1 <= r["rank"] <= 5 for r in rows)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan
    # determinism across partitionings
    again = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in reciprocal_rank_fusion(
            [lex.repartition(7), sem.repartition(3)], "doc_id", k=5
        ).collect()
    }
    assert again == {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in rows
    }


def test_retrieval_metrics_hand_computed(spark):
    from eel_spark.operators.retrieval import retrieval_metrics

    ranked = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q1", 12, 3),
         ("q2", 20, 1), ("q2", 21, 2),
         ("q3", 30, 1)],
        "query_id string, doc_id long, rank int",
    )
    qrels = spark.createDataFrame(
        # q1: 2 relevant, first hit at rank 2; q2: 1 relevant, not
        # retrieved; q4: relevant but system returned NOTHING
        [("q1", 11), ("q1", 12), ("q2", 99), ("q4", 40)],
        "query_id string, doc_id long",
    )
    got = {
        r["query_id"]: (
            r["recall_at_k"], r["precision_at_k"], r["reciprocal_rank"]
        )
        for r in retrieval_metrics(ranked, qrels, "doc_id", k=2).collect()
    }
    assert got == {
        "q1": (0.5, 0.5, 0.5),   # only doc 11 inside k=2, first at rank 2
        "q2": (0.0, 0.0, 0.0),
        "q4": (0.0, 0.0, 0.0),   # unserved query still surfaces
    }


def test_retrieval_metrics_ndcg_hand_computed(spark):
    """nDCG@k against a by-hand computation, binary and graded, including
    the zero-IDCG and unserved-query degenerate cases."""
    import math

    from eel_spark.operators.retrieval import retrieval_metrics

    ranked = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q1", 12, 3),
         ("q2", 20, 1),
         ("q3", 30, 1)],
        "query_id string, doc_id long, rank int",
    )
    # binary: q1 has 2 relevant (one at rank 2, one at rank 3 > k)
    qrels = spark.createDataFrame(
        [("q1", 11), ("q1", 12), ("q2", 99), ("q4", 40)],
        "query_id string, doc_id long",
    )
    got = {
        r["query_id"]: r["ndcg_at_k"]
        for r in retrieval_metrics(ranked, qrels, "doc_id", k=2).collect()
    }
    # q1: DCG = 1/log2(3) (hit at rank 2); IDCG = 1/log2(2) + 1/log2(3)
    ideal = 1 / math.log2(2) + 1 / math.log2(3)
    assert got["q1"] == pytest.approx((1 / math.log2(3)) / ideal, rel=1e-12)
    assert got["q2"] == 0.0 and got["q4"] == 0.0
    # graded: duplicate judgment collapses to max grade; grade-0 rows
    # are judged-irrelevant (excluded from recall and gain)
    graded = spark.createDataFrame(
        [("q1", 10, 3), ("q1", 10, 1), ("q1", 11, 1), ("q1", 12, 0)],
        "query_id string, doc_id long, rel int",
    )
    rows = {
        r["query_id"]: r
        for r in retrieval_metrics(
            ranked, graded, "doc_id", k=2, rel_col="rel"
        ).collect()
    }
    dcg = (2**3 - 1) / math.log2(2) + (2**1 - 1) / math.log2(3)
    assert rows["q1"]["ndcg_at_k"] == pytest.approx(1.0, rel=1e-12)
    assert rows["q1"]["recall_at_k"] == pytest.approx(1.0)  # 2 relevant, both hit
    assert rows["q1"]["reciprocal_rank"] == pytest.approx(1.0)
    # sanity: the perfect ranking's DCG is what we derived by hand
    assert dcg == pytest.approx(
        (2**3 - 1) / math.log2(2) + 1 / math.log2(3)
    )


def test_against_stats_degrades_on_empty_and_doc_grain_stats(spark, stats_store):
    """r10 ADVICE: an EMPTY stats frame (empty-vocabulary store) must
    degrade matches to score 0.0 — never drop rows through an empty
    crossJoin; a doc-grain stats frame (bm25_term_stats output, same
    column names) must not fan out the join and inflate scores."""
    from eel_spark.operators.retrieval import (
        bm25_score_against_stats,
        bm25_term_stats,
        read_bm25_stats,
    )

    path, docs = stats_store
    wave = spark.createDataFrame(
        [(1, "merge the window"), (2, "plain prose")],
        "doc_id long, text string",
    )
    terms = ["merge", "window"]
    empty = read_bm25_stats(spark, path, terms).where(F.lit(False))
    got = {
        r["doc_id"]: (r["score"], r["n_terms"])
        for r in bm25_score_against_stats(
            wave, "text", "doc_id", empty, terms
        ).collect()
    }
    assert got == {1: (0.0, 2)}  # matches survive, zero score
    # doc-grain frame: df repeats once per matching doc — the defensive
    # per-term collapse keeps scores identical to the canonical shape
    canonical = read_bm25_stats(spark, path, terms)
    doc_grain = bm25_term_stats(docs, "text", "doc_id", terms).select(
        "term", "df", "n_docs", "sum_dl"
    )
    a = {
        r["doc_id"]: r["score"]
        for r in bm25_score_against_stats(
            wave, "text", "doc_id", canonical, terms
        ).collect()
    }
    b = {
        r["doc_id"]: r["score"]
        for r in bm25_score_against_stats(
            wave, "text", "doc_id", doc_grain, terms
        ).collect()
    }
    assert a == b


def test_rrf_rejects_nonpositive_weights_and_dedupes(spark):
    """r10 ADVICE: zero/negative weights raise; duplicate (query, doc)
    rows within ONE ranking count once (best rank wins)."""
    from eel_spark.operators.retrieval import reciprocal_rank_fusion

    a = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2)], "query_id string, doc_id long, rank int"
    )
    for bad in ([0.0, 1.0], [-1.0, 1.0]):
        with pytest.raises(ValueError, match="positive"):
            reciprocal_rank_fusion([a, a], "doc_id", weights=bad)
    dup = spark.createDataFrame(
        [("q", 1, 1), ("q", 1, 5), ("q", 2, 2)],
        "query_id string, doc_id long, rank int",
    )
    got = {
        r["doc_id"]: r["score"]
        for r in reciprocal_rank_fusion([dup], "doc_id", k=5).collect()
    }
    assert got[1] == 0.0 + 1.0 / 61.0  # rank 5 dup ignored
    assert got[2] == 0.0 + 1.0 / 62.0
    # duplicates across systems: each system counts its best rank once,
    # and the fused score is the Python fold over the sorted per-system
    # contributions from 0.0
    other = spark.createDataFrame(
        [("q", 2, 3), ("q", 2, 1), ("q", 1, 4)],
        "query_id string, doc_id long, rank int",
    )
    got = {
        r["doc_id"]: r["score"]
        for r in reciprocal_rank_fusion(
            [dup, other], "doc_id", k=5, weights=[0.7, 0.3]
        ).collect()
    }
    for doc, cs in {
        1: [0.7 / 61.0, 0.3 / 64.0], 2: [0.7 / 62.0, 0.3 / 61.0]
    }.items():
        acc = 0.0
        for c in sorted(cs):
            acc += c
        assert got[doc] == acc, doc


# -- gated hybrid-fusion slot (r11) -------------------------------------------


def test_rrf_fused_oracle_sf01_full(spark):
    """Third-SF oracle sweep for the GATED retrieval_rrf_fused slot
    (the driver covers sf0.01, test_tpch covers sf0.001)."""
    import duckdb

    from eel_spark.queries import ORACLE, QUERIES
    from tests.conftest import TABLES, assert_df_matches_oracle

    sf = "/root/testdata/sf0.1"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    df = QUERIES["retrieval_rrf_fused"](spark, sf)
    assert_df_matches_oracle(df, con, ORACLE["retrieval_rrf_fused"])
    con.close()


def test_rrf_fused_plan_jvm_only(spark):
    """The gated fusion slot stays whole-stage-JVM: no Python eval
    stages anywhere in the plan (the base rankings, the fusion fold and
    the salted top-k are all Catalyst)."""
    from eel_spark.queries import QUERIES

    df = QUERIES["retrieval_rrf_fused"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_retrieval_metrics_against_gated_rrf(spark):
    """retrieval_metrics (incl. nDCG) asserted against the gated fusion
    slot's actual output: qrels = each query's term-coverage top docs,
    metrics recomputed from the collected frame by an independent Python
    reference."""
    import math

    from eel_spark.operators.retrieval import retrieval_metrics
    from eel_spark.queries import QUERIES

    fused = QUERIES["retrieval_rrf_fused"](spark, "/root/testdata/sf0.001")
    rows = fused.collect()
    assert {r["query_id"] for r in rows} == {"q_merge_scan", "q_window_ops"}
    # qrels: the top-3 fused docs of one query + a decoy unserved query
    qrels_rows = [
        (r["query_id"], r["doc_id"]) for r in rows if r["rank"] <= 3
    ] + [("q_unserved", 999999)]
    qrels = spark.createDataFrame(
        qrels_rows, "query_id string, doc_id long"
    )
    k = 5
    got = {
        r["query_id"]: r
        for r in retrieval_metrics(
            fused.select("query_id", "doc_id", "rank"), qrels, "doc_id", k=k
        ).collect()
    }
    # independent reference over the collected rows
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    for q, ranked in by_q.items():
        rel = {d for rk, d in ranked if rk <= 3}
        hits = sorted(rk for rk, d in ranked if rk <= k and d in rel)
        dcg = sum(1 / math.log2(rk + 1) for rk in hits)
        idcg = sum(1 / math.log2(i + 2) for i in range(min(len(rel), k)))
        m = got[q]
        assert m["recall_at_k"] == pytest.approx(len(hits) / len(rel))
        assert m["precision_at_k"] == pytest.approx(len(hits) / k)
        assert m["reciprocal_rank"] == pytest.approx(
            1 / hits[0] if hits else 0.0
        )
        assert m["ndcg_at_k"] == pytest.approx(dcg / idcg, rel=1e-12)
    assert got["q_unserved"]["ndcg_at_k"] == 0.0
    assert got["q_unserved"]["recall_at_k"] == 0.0


# -- r11 term-hash store layout -----------------------------------------------


def test_term_kp_crc32_parity_and_pruning_plan(spark, stats_store):
    """The kp set the driver derives via zlib must equal Spark's crc32
    (the layout contract), and a per-term read must push __term_kp
    partition filters into the scan — the file-pruning path that keeps
    the fold flat as batches accumulate."""
    import zlib

    from eel_spark.operators.retrieval import (
        _TERM_KP,
        read_bm25_stats,
    )

    path, _ = stats_store
    terms = ["merge", "window"]
    rows = spark.createDataFrame([(t,) for t in terms], "t string").select(
        "t", F.pmod(F.crc32(F.col("t").cast("binary")), F.lit(_TERM_KP))
        .alias("kp")
    ).collect()
    for r in rows:
        assert r["kp"] == zlib.crc32(r["t"].encode("utf-8")) % _TERM_KP
    stats = read_bm25_stats(spark, path, terms)
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "__term_kp" in plan  # partition filter reached the scan
    # and the layout is on disk: (__src_batch, __term_kp) dirs
    import glob

    assert glob.glob(f"{path}/__src_batch=0/__term_kp=-1"), (
        "totals rows must land in the dedicated -1 bucket"
    )


def test_legacy_store_reads_and_compact_migrates(spark, tmp_path):
    """A pre-r11 store (no __term_kp column) still reads — no pruning,
    same values — and one compact_bm25_stats migrates it to the kp
    layout, after which reads prune."""
    import glob

    from eel_spark.operators.retrieval import (
        bm25_batch_stats,
        compact_bm25_stats,
        read_bm25_stats,
    )

    docs = spark.createDataFrame(
        [(1, "merge scan merge"), (2, "window scan"), (3, "plain prose")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "legacy_store")
    (
        bm25_batch_stats(docs, "text")
        .withColumn("__src_batch", F.lit(0))
        .write.mode("overwrite").partitionBy("__src_batch").parquet(path)
    )
    terms = ["merge", "scan", "window"]
    before = {
        r["term"]: (r["df"], r["n_docs"], r["sum_dl"])
        for r in read_bm25_stats(spark, path, terms).collect()
    }
    assert before["merge"][0] == 1 and before["scan"][0] == 2
    assert before["merge"][1] == 3  # n_docs
    compact_bm25_stats(spark, path)
    assert glob.glob(f"{path}/__src_batch=-1/__term_kp=*"), (
        "compaction must emit the kp layout"
    )
    after = {
        r["term"]: (r["df"], r["n_docs"], r["sum_dl"])
        for r in read_bm25_stats(spark, path, terms).collect()
    }
    assert after == before


def test_append_resubmission_drops_stale_kp_rows(spark, tmp_path):
    """r11 review: re-submitting a corrected wave under the same
    src_batch must drop term rows the new increment no longer carries —
    a two-level dynamic overwrite alone would leave the stale __term_kp
    sub-partition standing and corrupt df forever."""
    from eel_spark.operators.retrieval import (
        append_bm25_stats_batch,
        read_bm25_stats,
    )

    path = str(tmp_path / "store")
    bad = spark.createDataFrame(
        [(1, "merge badterm")], "doc_id long, text string"
    )
    append_bm25_stats_batch(path, bad, "text", src_batch=7)
    assert {
        r["term"]: r["df"]
        for r in read_bm25_stats(spark, path, ["badterm"]).collect()
    } == {"badterm": 1}
    fixed = spark.createDataFrame(
        [(1, "merge goodterm")], "doc_id long, text string"
    )
    append_bm25_stats_batch(path, fixed, "text", src_batch=7)
    got = {
        r["term"]: r["df"]
        for r in read_bm25_stats(
            spark, path, ["badterm", "goodterm", "merge"]
        ).collect()
    }
    assert got == {"badterm": 0, "goodterm": 1, "merge": 1}


def test_retrieval_metrics_all_zero_graded_query_surfaces(spark):
    """r11 review: a judged query whose graded judgments are ALL <= 0
    must still emit a zero-metrics row (the mean's denominator must not
    silently shrink), and recall must not divide by zero under ANSI."""
    from eel_spark.operators.retrieval import retrieval_metrics

    ranked = spark.createDataFrame(
        [("q1", 10, 1), ("q9", 90, 1)],
        "query_id string, doc_id long, rank int",
    )
    qrels = spark.createDataFrame(
        [("q1", 10, 2), ("q9", 90, 0), ("q9", 91, 0)],
        "query_id string, doc_id long, rel int",
    )
    got = {
        r["query_id"]: (
            r["recall_at_k"], r["precision_at_k"],
            r["reciprocal_rank"], r["ndcg_at_k"],
        )
        for r in retrieval_metrics(
            ranked, qrels, "doc_id", k=2, rel_col="rel"
        ).collect()
    }
    assert got["q1"] == (1.0, 0.5, 1.0, 1.0)
    assert got["q9"] == (0.0, 0.0, 0.0, 0.0)


def test_retrieval_metrics_average_precision_hand_computed(spark):
    """AP@k against a by-hand TREC computation: hits at ranks 1 and 3
    with 3 relevant total, k=3 → AP = (1/1 + 2/3) / 3; unserved and
    zero-relevant queries stay 0."""
    from eel_spark.operators.retrieval import retrieval_metrics

    ranked = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q1", 12, 3),
         ("q2", 20, 1)],
        "query_id string, doc_id long, rank int",
    )
    qrels = spark.createDataFrame(
        [("q1", 10), ("q1", 12), ("q1", 99), ("q2", 77), ("q4", 40)],
        "query_id string, doc_id long",
    )
    got = {
        r["query_id"]: r["avg_precision_at_k"]
        for r in retrieval_metrics(ranked, qrels, "doc_id", k=3).collect()
    }
    assert got["q1"] == pytest.approx((1 / 1 + 2 / 3) / 3, rel=1e-12)
    assert got["q2"] == 0.0
    assert got["q4"] == 0.0
    # normalization floor: 5 relevant but k=2 → divide by min(5, 2)
    qrels5 = spark.createDataFrame(
        [("q1", d) for d in (10, 11, 12, 13, 14)],
        "query_id string, doc_id long",
    )
    got2 = {
        r["query_id"]: r["avg_precision_at_k"]
        for r in retrieval_metrics(ranked, qrels5, "doc_id", k=2).collect()
    }
    assert got2["q1"] == pytest.approx((1 / 1 + 2 / 2) / 2, rel=1e-12)


def test_hybrid_topk_equals_manual_composition(spark):
    """hybrid_topk ≡ the hand-built bm25_topk_multi + dense ANN +
    reciprocal_rank_fusion pipeline at the same pool depth, for both
    dense arms; misuse raises."""
    from eel_spark.operators.retrieval import (
        bm25_topk_multi,
        hybrid_topk,
        reciprocal_rank_fusion,
    )
    from eel_spark.operators.similarity import brute_force_topk

    docs = spark.createDataFrame(
        [(i, ("merge scan " * (i % 3 + 1)) + ("window " * (i % 2)))
         for i in range(40)],
        "doc_id long, text string",
    )
    import math

    vecs = spark.createDataFrame(
        [(i, [math.cos(i * 0.37), math.sin(i * 0.37), (i % 7) / 7.0])
         for i in range(40)],
        "doc_id long, embedding array<double>",
    )
    queries = {"qa": ["merge", "scan"], "qb": ["window"]}
    qvecs = spark.createDataFrame(
        [("qa", [1.0, 0.0, 0.5]), ("qb", [0.0, 1.0, 0.2])],
        "query_id string, embedding array<double>",
    )
    k, depth = 5, 20
    got = {
        (r["query_id"], r["rank"]): r["doc_id"]
        for r in hybrid_topk(
            docs, "text", "doc_id", queries, vecs, qvecs,
            k=k, pool=depth, dense="brute",
        ).collect()
    }
    lex = bm25_topk_multi(docs, "text", "doc_id", queries, k=depth).select(
        "query_id", "doc_id", "rank"
    )
    sem = brute_force_topk(vecs, qvecs, id_col="doc_id", k=depth).select(
        "query_id", "doc_id", "rank"
    )
    want = {
        (r["query_id"], r["rank"]): r["doc_id"]
        for r in reciprocal_rank_fusion(
            [lex, sem], "doc_id", k=k
        ).collect()
    }
    assert got == want
    # the bq arm returns the same shape (recall may differ by design)
    bq = hybrid_topk(
        docs, "text", "doc_id", queries, vecs, qvecs,
        k=k, pool=depth, dense="bq",
    )
    rows = bq.collect()
    assert {r["query_id"] for r in rows} == {"qa", "qb"}
    assert set(bq.columns) == {"query_id", "doc_id", "score", "rank"}
    with pytest.raises(ValueError, match="dense"):
        hybrid_topk(docs, "text", "doc_id", queries, vecs, qvecs,
                    dense="ivf")
    with pytest.raises(ValueError, match="pool"):
        hybrid_topk(docs, "text", "doc_id", queries, vecs, qvecs,
                    k=10, pool=5)


def test_hybrid_topk_nondefault_query_id_col(spark):
    """r11 review: a non-default query_id_col must work — the lexical
    arm's fixed 'query_id' output is realiased."""
    from eel_spark.operators.retrieval import hybrid_topk

    docs = spark.createDataFrame(
        [(1, "merge scan"), (2, "window"), (3, "merge")],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.5, 0.5])],
        "doc_id long, embedding array<double>",
    )
    qvecs = spark.createDataFrame(
        [("qa", [1.0, 0.1])], "qid string, embedding array<double>"
    )
    out = hybrid_topk(
        docs, "text", "doc_id", {"qa": ["merge"]}, vecs, qvecs,
        k=3, pool=3, dense="brute", query_id_col="qid",
    )
    rows = out.collect()
    assert set(out.columns) == {"qid", "doc_id", "score", "rank"}
    assert {r["qid"] for r in rows} == {"qa"}


def test_append_survives_stale_kp_dir_and_reaps_on_rewrite(spark, tmp_path):
    """r11 review #2 follow-through: the dynamic overwrite keeps old
    data intact until commit, and a stale kp dir left by a crash
    between commit and reap converges on the next (re)submission."""
    from eel_spark.operators.retrieval import (
        append_bm25_stats_batch,
        read_bm25_stats,
    )
    from eel_spark.sources.hdfs import HdfsOps

    path = str(tmp_path / "store")
    append_bm25_stats_batch(
        path,
        spark.createDataFrame([(1, "merge badterm")],
                              "doc_id long, text string"),
        "text", src_batch=3,
    )
    # simulate crash-after-commit-before-reap of a LATER corrected
    # submission: the badterm kp dir is stale on disk
    ops = HdfsOps(spark)
    import zlib

    from eel_spark.operators.retrieval import _TERM_KP

    kp_bad = zlib.crc32(b"badterm") % _TERM_KP
    assert ops.exists(f"{path}/__src_batch=3/__term_kp={kp_bad}")
    append_bm25_stats_batch(
        path,
        spark.createDataFrame([(1, "merge goodterm")],
                              "doc_id long, text string"),
        "text", src_batch=3,
    )
    assert not ops.exists(f"{path}/__src_batch=3/__term_kp={kp_bad}")
    got = {
        r["term"]: r["df"]
        for r in read_bm25_stats(
            spark, path, ["badterm", "goodterm"]
        ).collect()
    }
    assert got == {"badterm": 0, "goodterm": 1}


def test_bm25_append_rejects_reserved_negative_batch(spark, stats_store):
    """src_batch = -1 is compact_bm25_stats' sentinel partition — an
    append under any negative id must fail loudly instead of silently
    overwriting the compacted store (r11 advice)."""
    from eel_spark.operators.retrieval import append_bm25_stats_batch

    path, docs = stats_store
    with pytest.raises(ValueError, match="non-negative"):
        append_bm25_stats_batch(path, docs.limit(5), "text", src_batch=-1)


@pytest.fixture()
def hybrid_stores(spark, tmp_path):
    """A corpus with text + embeddings folded into BOTH maintained
    stores wave-by-wave (BM25 stats increments, IVF postings)."""
    import math

    from eel_spark.operators.retrieval import append_bm25_stats_batch
    from eel_spark.operators.similarity import (
        append_ivf_batch,
        init_ivf_index,
        train_centroids,
    )

    docs = spark.createDataFrame(
        [(i, ("merge scan " * (i % 3 + 1)) + ("window " * (i % 2)))
         for i in range(40)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [math.cos(i * 0.37), math.sin(i * 0.37), (i % 7) / 7.0])
         for i in range(40)],
        "doc_id long, embedding array<double>",
    )
    stats_path = str(tmp_path / "bm25_stats")
    index_path = str(tmp_path / "ivf_index")
    init_ivf_index(index_path, train_centroids(
        vecs, id_col="doc_id", n_cells=2, iterations=2
    ))
    for w in range(2):
        wave = F.col("doc_id") % 2 == w
        append_bm25_stats_batch(
            stats_path, docs.where(wave), "text", src_batch=w
        )
        append_ivf_batch(
            index_path, vecs.where(wave), id_col="doc_id", src_batch=w
        )
    return docs, vecs, stats_path, index_path


def test_hybrid_against_stores_equals_one_shot(spark, hybrid_stores):
    """With stores covering the corpus and covering probe/refine depth,
    serving from the maintained stores is identical to the one-shot
    hybrid_topk over the raw corpus: the lexical arm's store fold is
    bit-exact vs recompute, probing all cells makes the dense arm the
    exact ranking, and RRF fuses identical lists identically."""
    from eel_spark.operators.retrieval import (
        hybrid_topk,
        hybrid_topk_against_stores,
    )

    docs, vecs, stats_path, index_path = hybrid_stores
    queries = {"qa": ["merge", "scan"], "qb": ["window"]}
    qvecs = spark.createDataFrame(
        [("qa", [1.0, 0.0, 0.5]), ("qb", [0.0, 1.0, 0.2])],
        "query_id string, embedding array<double>",
    )
    want = sorted(map(tuple, hybrid_topk(
        docs, "text", "doc_id", queries, vecs, qvecs,
        k=5, pool=20, dense="brute",
    ).collect()))
    got = sorted(map(tuple, hybrid_topk_against_stores(
        spark, docs, "text", "doc_id", stats_path, index_path,
        queries, qvecs, k=5, pool=20, dense="plain", n_probe=2,
    ).collect()))
    assert got == want
    # the BQ arm over the fully-sketched store matches at covering
    # refine (stage-1 Hamming keeps everything the rerank needs)
    bq = sorted(map(tuple, hybrid_topk_against_stores(
        spark, docs, "text", "doc_id", stats_path, index_path,
        queries, qvecs, k=5, pool=20, dense="bq", n_probe=2, refine=8,
    ).collect()))
    assert bq == want


def test_hybrid_against_stores_degrades_and_validates(spark, hybrid_stores):
    """A store-unseen query term keeps its arm alive (df = 0 — the
    degrade-never-drop contract), a term-less dense-only query still
    fuses from the dense arm alone, and misuse raises."""
    from eel_spark.operators.retrieval import hybrid_topk_against_stores

    docs, vecs, stats_path, index_path = hybrid_stores
    qvecs = spark.createDataFrame(
        [("qx", [1.0, 0.0, 0.5])], "query_id string, embedding array<double>"
    )
    out = hybrid_topk_against_stores(
        spark, docs, "text", "doc_id", stats_path, index_path,
        {"qx": ["merge", "zzznovelterm"]}, qvecs, k=5, n_probe=2,
    )
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {"qx"}
    assert len(rows) == 5
    assert set(out.columns) == {"query_id", "doc_id", "score", "rank"}
    with pytest.raises(ValueError, match="dense"):
        hybrid_topk_against_stores(
            spark, docs, "text", "doc_id", stats_path, index_path,
            {"qx": ["merge"]}, qvecs, dense="ivf",
        )
    with pytest.raises(ValueError, match="pool"):
        hybrid_topk_against_stores(
            spark, docs, "text", "doc_id", stats_path, index_path,
            {"qx": ["merge"]}, qvecs, k=10, pool=5,
        )
    # a books-less index refuses the ADC arm loudly
    with pytest.raises(ValueError, match="pq_books"):
        hybrid_topk_against_stores(
            spark, docs, "text", "doc_id", stats_path, index_path,
            {"qx": ["merge"]}, qvecs, dense="pq",
        )


def test_hybrid_against_stores_pq_arm(spark, tmp_path):
    """The dense='pq' arm actually serves (not just the books-less
    refusal — r12 review): on a books-bearing index the ADC-served
    hybrid equals the plain-served hybrid at covering probe/refine."""
    import math

    from eel_spark.operators.retrieval import (
        append_bm25_stats_batch,
        hybrid_topk_against_stores,
    )
    from eel_spark.operators.similarity import (
        append_ivf_batch,
        init_ivf_index,
        train_centroids,
        train_pq,
    )

    docs = spark.createDataFrame(
        [(i, ("merge scan " * (i % 3 + 1)) + ("window " * (i % 2)))
         for i in range(40)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [math.cos(i * 0.37), math.sin(i * 0.37),
              (i % 7) / 7.0, ((i * 3) % 5) / 5.0])
         for i in range(40)],
        "doc_id long, embedding array<double>",
    )
    stats_path = str(tmp_path / "stats")
    index_path = str(tmp_path / "pq_index")
    cents = train_centroids(vecs, id_col="doc_id", n_cells=2, iterations=2)
    books = train_pq(
        vecs, id_col="doc_id", dim=4, n_subs=2, n_codes=8, iterations=2
    )
    init_ivf_index(index_path, cents, pq_books=books)
    append_bm25_stats_batch(stats_path, docs, "text", src_batch=0)
    append_ivf_batch(index_path, vecs, id_col="doc_id", src_batch=0)
    queries = {"qa": ["merge", "scan"], "qb": ["window"]}
    qvecs = spark.createDataFrame(
        [("qa", [1.0, 0.0, 0.5, 0.2]), ("qb", [0.0, 1.0, 0.2, 0.8])],
        "query_id string, embedding array<double>",
    )
    kwargs = dict(k=5, pool=20, n_probe=2)
    plain = sorted(map(tuple, hybrid_topk_against_stores(
        spark, docs, "text", "doc_id", stats_path, index_path,
        queries, qvecs, dense="plain", **kwargs,
    ).collect()))
    pq = sorted(map(tuple, hybrid_topk_against_stores(
        spark, docs, "text", "doc_id", stats_path, index_path,
        queries, qvecs, dense="pq", refine=50, **kwargs,
    ).collect()))
    assert pq == plain
