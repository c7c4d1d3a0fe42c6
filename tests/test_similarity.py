"""Similarity search: brute-force exactness and IVF recall on planted
cluster structure."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from eel_spark.operators import similarity


def _unit(seed: int, dim: int = 8, jitter: float = 0.0):
    vals = [math.sin(seed * 17 + j) + jitter * math.cos(j * seed) for j in range(dim)]
    n = math.sqrt(sum(v * v for v in vals))
    return [v / n for v in vals]


@pytest.fixture(scope="module")
def clustered(spark):
    # 3 clusters of 10 vectors each around distinct directions
    rows = []
    vid = 0
    for c in (1, 5, 11):
        for j in range(10):
            rows.append((vid, c, _unit(c, jitter=0.05 * j)))
            vid += 1
    return spark.createDataFrame(rows, "vec_id: long, cluster: int, embedding: array<double>")


def test_brute_force_topk_exact(clustered):
    queries = clustered.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.brute_force_topk(
        clustered, queries, k=5, exclude_self=True
    ).collect()
    assert len(got) == 5
    # top-5 neighbours of a cluster-1 member are all cluster-1 members (ids 1..9)
    assert all(1 <= r["vec_id"] <= 9 for r in got)
    assert [r["rank"] for r in sorted(got, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
    cos = [r["cos"] for r in sorted(got, key=lambda r: r["rank"])]
    assert cos == sorted(cos, reverse=True)


def test_ivf_matches_brute_force_on_clusters(clustered):
    queries = clustered.filter("vec_id IN (0, 10, 20)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.train_centroids(clustered, n_cells=3, iterations=3)
    assert cents.count() == 3
    bf = similarity.brute_force_topk(clustered, queries, k=3, exclude_self=True)
    ivf = similarity.ivf_topk(clustered, queries, cents, k=3, n_probe=2, exclude_self=True)
    bf_map = {(r["query_id"], r["rank"]): r["vec_id"] for r in bf.collect()}
    ivf_rows = ivf.collect()
    # IVF with enough probes recovers the brute-force top-1 per query
    top1 = {r["query_id"]: r["vec_id"] for r in ivf_rows if r["rank"] == 1}
    for q in (0, 10, 20):
        assert top1[q] == bf_map[(q, 1)]


def test_scored_candidates_reproduce_ivf_topk(clustered):
    # the r15 staged-scoring path: one scored-candidate table feeds both a
    # probe-all ranking and a probe-n ranking; each must equal the
    # corresponding end-to-end ivf_topk run row for row (same cosines,
    # same tie-breaks), or the staging is not a pure refactor
    queries = clustered.filter("vec_id IN (0, 10, 20)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.train_centroids(clustered, n_cells=3, iterations=3)
    scored = similarity.ivf_scored_candidates(clustered, queries, cents)
    exact = similarity._topk_per_query(scored, "query_id", "vec_id", 3)
    ref_all = similarity.ivf_topk(clustered, queries, cents, k=3, n_probe=3)
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, ref_all.collect())
    )
    probes = similarity.probe_cells(queries, cents, n_probe=2)
    approx = similarity._topk_per_query(
        scored.join(probes, ["query_id", "cell_id"], "left_semi"),
        "query_id", "vec_id", 3,
    )
    ref_2 = similarity.ivf_topk(clustered, queries, cents, k=3, n_probe=2)
    assert sorted(map(tuple, approx.collect())) == sorted(
        map(tuple, ref_2.collect())
    )


def test_assign_cells_packed_rejects_colliding_column(clustered):
    # the crossJoin would shadow the input column and the final drop
    # would delete it: a collision must raise, not lose the column
    packed = similarity.train_centroids(clustered, n_cells=3).agg(
        F.collect_list(F.struct("cell_id", "centroid")).alias("cluster")
    )
    with pytest.raises(ValueError, match="collides"):
        similarity._assign_cells_packed(clustered, packed, "cluster", "embedding")


def test_train_centroids_deterministic(clustered):
    a = similarity.train_centroids(clustered, n_cells=3, iterations=2).collect()
    b = similarity.train_centroids(clustered, n_cells=3, iterations=2).collect()
    am = {r["cell_id"]: r["centroid"] for r in a}
    bm = {r["cell_id"]: r["centroid"] for r in b}
    assert am == bm


def test_ivf_recall_on_real_embeddings(spark):
    """Recall@10 of IVF (3/8 cells probed) vs exact brute force on the
    driver-generated embeddings table — the weaker rows-only driver check
    gets a real quality bound here."""
    from eel_spark.operators import similarity
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(
        emb, queries, k=10, exclude_self=True
    ).collect()
    cents = similarity.train_centroids(emb, n_cells=8, iterations=2)
    approx = similarity.ivf_topk(
        emb, queries, cents, k=10, n_probe=3, exclude_self=True
    ).collect()

    def by_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    e, a = by_query(exact), by_query(approx)
    recalls = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.5, f"mean recall too low: {recalls}"


# --- binary quantization (sign sketch + Hamming prefilter) ----------------


def test_pack_sign_bits_matches_python_packing(spark):
    from eel_spark.functions import vectors as V

    # dim=70: two words, second word uses only 6 bits; values include 0.0
    # (packs as a set bit) and a full-ones first word (bit 63 exercised —
    # shiftleft is bitwise, must not trip ANSI overflow)
    v_ones = [1.0] * 70
    v_mixed = [(1.0 if (j % 3) else -1.0) for j in range(70)]
    v_mixed[5] = 0.0  # >= 0 → bit set
    df = spark.createDataFrame(
        [(1, v_ones), (2, v_mixed)], "id: long, v: array<double>"
    )
    got = {
        r["id"]: r["sig"]
        for r in df.select("id", V.pack_sign_bits("v", 70).alias("sig")).collect()
    }

    def py_pack(vals):
        words = []
        for w in range((len(vals) + 63) // 64):
            word = 0
            for i in range(w * 64, min(w * 64 + 64, len(vals))):
                if vals[i] >= 0:
                    word |= 1 << (i - w * 64)
            if word >= 2**63:
                word -= 2**64
            words.append(word)
        return words

    assert got[1] == py_pack(v_ones)
    assert got[1][0] == -1  # all 64 bits set in word 0
    assert got[2] == py_pack(v_mixed)


def test_hamming_matches_python_popcount(spark):
    from eel_spark.functions import vectors as V

    a = [-(2**63), 12345]
    b = [2**63 - 1, -1]
    df = spark.createDataFrame(
        [(a, b)], "x: array<long>, y: array<long>"
    )
    got = df.select(V.hamming("x", "y").alias("h")).collect()[0]["h"]
    exp = sum(
        bin((x ^ y) & (2**64 - 1)).count("1") for x, y in zip(a, b)
    )
    assert got == exp


def test_quantize_int8_round_trip_bound(spark):
    from eel_spark.functions import vectors as V

    vals = [3.7, -1.2, 0.0, 127.0, -0.004]
    df = spark.createDataFrame([(vals,), ([0.0, 0.0],)], "v: array<double>")
    rows = df.select(
        "v", V.dequantize_int8(V.quantize_int8("v")).alias("back")
    ).collect()
    for r in rows:
        scale = max(abs(x) for x in r["v"]) / 127.0
        for orig, back in zip(r["v"], r["back"]):
            assert abs(orig - back) <= scale / 2 + 1e-12
    # zero vector: scale 0, exact zeros back
    assert rows[1]["back"] == [0.0, 0.0]


def test_bq_topk_with_full_refine_equals_brute_force(clustered):
    """refine·k ≥ |corpus| ⇒ the Hamming prefilter keeps everything, so
    bq_topk must EQUAL brute_force_topk row-for-row (the rerank stage is
    exact cosine with identical tie-breaks)."""
    queries = clustered.filter("vec_id IN (0, 10, 20)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = similarity.brute_force_topk(clustered, queries, k=5, exclude_self=True)
    bq = similarity.bq_topk(
        clustered, queries, k=5, dim=8, refine=6, exclude_self=True
    )
    bf_rows = {(r["query_id"], r["rank"]): (r["vec_id"], round(r["cos"], 9)) for r in bf.collect()}
    bq_rows = {(r["query_id"], r["rank"]): (r["vec_id"], round(r["cos"], 9)) for r in bq.collect()}
    assert bf_rows == bq_rows


def test_bq_topk_recall_on_real_embeddings(spark):
    """Hamming-prefilter recall@10 vs exact brute force on the driver
    embeddings (64-dim → one packed word) with a 4× refine margin."""
    from eel_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=10, exclude_self=True).collect()
    sigs = S.pack_signatures(emb, dim=64)
    # measured on this table: refine 4 → 0.52, 8 → 0.79, 16 → 0.90 mean
    # recall (isotropic embeddings are the hard case for 1-bit sketches;
    # per-dim means are ~0, so mean-centered thresholds gain nothing) —
    # gate at 0.6 with the default refine=8 for seed-drift headroom
    approx = S.bq_topk(
        emb, queries, k=10, dim=64, refine=8, exclude_self=True, signatures=sigs
    ).collect()

    def by_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    e, a = by_query(exact), by_query(approx)
    recalls = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.6, f"mean recall too low: {recalls}"


# --- product quantization (ADC) -------------------------------------------


def test_train_pq_shapes_and_determinism(clustered):
    books = similarity.train_pq(clustered, dim=8, n_subs=4, n_codes=4, iterations=2)
    rows = books.collect()
    assert {r["sub_id"] for r in rows} == {0, 1, 2, 3}
    assert all(len(r["centroid"]) == 2 for r in rows)  # dim/n_subs
    again = {
        (r["sub_id"], r["cell_id"]): r["centroid"]
        for r in similarity.train_pq(
            clustered, dim=8, n_subs=4, n_codes=4, iterations=2
        ).collect()
    }
    assert {(r["sub_id"], r["cell_id"]): r["centroid"] for r in rows} == again


def test_encode_pq_code_range(clustered):
    books = similarity.train_pq(clustered, dim=8, n_subs=4, n_codes=4, iterations=1)
    codes = similarity.encode_pq(clustered, books, dim=8, n_subs=4).collect()
    assert len(codes) == 30
    for r in codes:
        assert len(r["codes"]) == 4
        assert all(0 <= c <= 3 for c in r["codes"])


def test_pq_topk_with_full_refine_equals_brute_force(clustered):
    """refine·k covering the corpus ⇒ ADC prefilter keeps everything and
    the exact-cosine rerank must reproduce brute force row-for-row."""
    queries = clustered.filter("vec_id IN (0, 10, 20)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = similarity.train_pq(clustered, dim=8, n_subs=4, n_codes=4, iterations=2)
    bf = similarity.brute_force_topk(clustered, queries, k=5, exclude_self=True)
    pq = similarity.pq_topk(
        clustered, queries, books, dim=8, n_subs=4, k=5, refine=6, exclude_self=True
    )
    bf_rows = {(r["query_id"], r["rank"]): (r["vec_id"], round(r["cos"], 9)) for r in bf.collect()}
    pq_rows = {(r["query_id"], r["rank"]): (r["vec_id"], round(r["cos"], 9)) for r in pq.collect()}
    assert bf_rows == pq_rows


def test_pq_validation_errors(clustered):
    with pytest.raises(ValueError, match="not divisible"):
        similarity.train_pq(clustered, dim=8, n_subs=3)
    with pytest.raises(ValueError, match="tinyint"):
        similarity.train_pq(clustered, dim=8, n_subs=4, n_codes=200)


def test_pq_topk_recall_on_real_embeddings(spark):
    """ADC recall@10 vs brute force on the (pre-normalized, so L2 rank ≡
    cosine rank) driver embeddings."""
    from eel_spark.functions import vectors as V
    from eel_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", V.normalize("embedding").alias("embedding")
    )
    queries = emb.filter("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=10, exclude_self=True).collect()
    books = S.train_pq(emb, dim=64, n_subs=8, n_codes=16, iterations=2)
    approx = S.pq_topk(
        emb, queries, books, dim=64, n_subs=8, k=10, refine=8, exclude_self=True
    ).collect()

    def by_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    e, a = by_query(exact), by_query(approx)
    recalls = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.6, f"mean recall too low: {recalls}"


def _planted_cluster_corpus(spark, n_clusters=20, per_cluster=100, dim=64):
    """Deterministic clustered embedding corpus — the REALISTIC shape for
    ANN recall measurement: real embedding spaces are clustered, and
    isotropic test vectors (the sf0.001 table) are the worst case for
    both IVF (cells are arbitrary) and PQ (subspaces carry no
    structure). Cluster centers are seeded unit-ish directions; members
    add small deterministic jitter (sin-hash), so within-cluster cosine
    ≫ across-cluster."""
    import math

    rows = []
    for c in range(n_clusters):
        center = [math.sin(c * 131 + d * 17) for d in range(dim)]
        norm = math.sqrt(sum(x * x for x in center))
        center = [x / norm for x in center]
        for j in range(per_cluster):
            jitter = [0.15 * math.sin(c * 7919 + j * 104729 + d * 31) for d in range(dim)]
            rows.append((c * per_cluster + j, [a + b for a, b in zip(center, jitter)]))
    from eel_spark.functions import vectors as V

    return spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).select("vec_id", V.normalize("embedding").alias("embedding"))


def test_ivf_pq_recall_on_clustered_embeddings_default_params(spark):
    """Recall floor for the DOCUMENTED DEFAULTS on clustered data: 2000
    vectors / 20 planted clusters in 64d, train_centroids + train_pq +
    ivf_pq_topk all at their default parameters (n_cells=16 via the ivf
    default path, n_subs=8, n_codes=16, n_probe=4, refine=8). The
    isotropic-table tests bound the worst case (0.66 at n_probe=3); this
    bounds the REPRESENTATIVE case, and the asserted floor is what the
    docstrings may advertise. Also records the recall/n_probe curve
    (SURVEY §8)."""
    from eel_spark.operators import similarity as S

    emb = _planted_cluster_corpus(spark)
    queries = emb.filter("vec_id % 100 = 7").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )  # one member of each cluster probes
    exact = S.brute_force_topk(emb, queries, k=10, exclude_self=True).collect()
    cents = S.train_centroids(emb, n_cells=16, iterations=3)
    books = S.train_pq(emb, dim=64)  # defaults: n_subs=8, n_codes=16
    coded = S.encode_ivf_pq(emb, cents, books, dim=64, n_subs=8)

    def by_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    e = by_query(exact)
    curve = {}
    for n_probe in (1, 2, 4, 8):
        approx = S.ivf_pq_topk(
            emb, queries, cents, books, dim=64, n_subs=8,
            k=10, n_probe=n_probe, refine=8, exclude_self=True, coded=coded,
        ).collect()
        a = by_query(approx)
        rec = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
        curve[n_probe] = sum(rec) / len(rec)
    print("ivf_pq recall/n_probe curve (clustered):", curve)
    # monotone non-decreasing in n_probe (more cells probed never hurts)
    probes = sorted(curve)
    assert all(
        curve[a] <= curve[b] + 1e-9 for a, b in zip(probes, probes[1:])
    ), curve
    # the floor the defaults may advertise: clustered data, default
    # n_probe=4 → ≥ 0.85 recall@10 (measured ~0.95; isotropic worst case
    # stays covered by the sibling test's 0.4 floor)
    assert curve[4] >= 0.85, curve


def test_pq_recall_on_clustered_embeddings_default_params(spark):
    """PQ-only (no IVF pruning) twin of the clustered-default floor:
    ADC over all codes + default refine on the planted-cluster corpus
    must reach ≥ 0.9 recall@10 at the documented defaults."""
    from eel_spark.operators import similarity as S

    emb = _planted_cluster_corpus(spark)
    queries = emb.filter("vec_id % 100 = 7").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=10, exclude_self=True).collect()
    books = S.train_pq(emb, dim=64)
    approx = S.pq_topk(
        emb, queries, books, dim=64, k=10, exclude_self=True
    ).collect()

    def by_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    e, a = by_query(exact), by_query(approx)
    rec = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
    mean = sum(rec) / len(rec)
    print("pq recall (clustered, defaults):", round(mean, 3))
    assert mean >= 0.9, rec


def test_ivf_pq_topk_full_probe_full_refine_equals_brute_force(clustered):
    """All cells probed + refine covering the corpus ⇒ IVF×PQ reduces to
    the exact rerank: must equal brute force row-for-row."""
    queries = clustered.filter("vec_id IN (0, 10, 20)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.train_centroids(clustered, n_cells=3, iterations=2)
    books = similarity.train_pq(clustered, dim=8, n_subs=4, n_codes=4, iterations=2)
    bf = similarity.brute_force_topk(clustered, queries, k=5, exclude_self=True)
    ivfpq = similarity.ivf_pq_topk(
        clustered, queries, cents, books, dim=8, n_subs=4,
        k=5, n_probe=3, refine=6, exclude_self=True,
    )
    bf_rows = {(r["query_id"], r["rank"]): (r["vec_id"], round(r["cos"], 9)) for r in bf.collect()}
    got = {(r["query_id"], r["rank"]): (r["vec_id"], round(r["cos"], 9)) for r in ivfpq.collect()}
    assert bf_rows == got


def test_ivf_pq_recall_on_real_embeddings(spark):
    """The composed layout on the (normalized) driver embeddings: probe
    3/8 cells, ADC-rank only their codes, exact rerank — recall@10 vs
    brute force bounded below; the persistable coded corpus is built once
    via encode_ivf_pq and reused."""
    from eel_spark.functions import vectors as V
    from eel_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", V.normalize("embedding").alias("embedding")
    )
    queries = emb.filter("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=10, exclude_self=True).collect()
    cents = S.train_centroids(emb, n_cells=8, iterations=2)
    books = S.train_pq(emb, dim=64, n_subs=8, n_codes=16, iterations=2)
    coded = S.encode_ivf_pq(emb, cents, books, dim=64, n_subs=8)
    assert set(coded.columns) == {"vec_id", "cell_id", "codes"}
    approx = S.ivf_pq_topk(
        emb, queries, cents, books, dim=64, n_subs=8,
        k=10, n_probe=3, refine=8, exclude_self=True, coded=coded,
    ).collect()

    def by_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    e, a = by_query(exact), by_query(approx)
    recalls = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
    # IVF cell misses compound ADC misses: measured 0.66/0.73/0.82 at
    # n_probe 3/4/6 on this table — gate at 0.4 for seed-drift headroom
    assert sum(recalls) / len(recalls) >= 0.4, f"mean recall too low: {recalls}"


# -- incremental IVF index (r11) ---------------------------------------------


def _wave_rows(ids, seeds, jitter_step=0.05):
    return [
        (vid, _unit(seeds[i % len(seeds)], jitter=jitter_step * (i + 1)))
        for i, vid in enumerate(ids)
    ]


@pytest.fixture()
def ivf_index(spark, tmp_path, clustered):
    """An index built from the clustered corpus's centroids with three
    appended waves drawn from the same cluster directions."""
    from eel_spark.operators.similarity import (
        append_ivf_batch,
        init_ivf_index,
        train_centroids,
    )

    centroids = train_centroids(clustered, n_cells=3, iterations=2)
    path = str(tmp_path / "ivf_index")
    init_ivf_index(path, centroids)
    waves = [
        spark.createDataFrame(
            _wave_rows(range(100 * w, 100 * w + 12), seeds=(1, 5, 11)),
            "vec_id: long, embedding: array<double>",
        )
        for w in range(3)
    ]
    for w, wave in enumerate(waves):
        append_ivf_batch(path, wave, src_batch=w)
    return path, waves, centroids


def _queries(spark):
    return spark.createDataFrame(
        [(0, _unit(1, jitter=0.01)), (1, _unit(5, jitter=0.02)),
         (2, _unit(11, jitter=0.03))],
        "query_id: long, embedding: array<double>",
    )


def test_ivf_index_equals_one_shot(spark, ivf_index):
    """Serving from the incremental index is bit-identical to ivf_topk
    over the union of the appended waves with the same centroids, and,
    with every cell probed, to the exact brute-force top-k — an oracle
    that shares no IVF code with the served path."""
    from eel_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivf_topk_against_index,
    )

    path, waves, centroids = ivf_index
    union = waves[0]
    for w in waves[1:]:
        union = union.unionByName(w)
    q = _queries(spark)
    one_shot = ivf_topk(union, q, centroids, k=5, n_probe=2)
    from_index = ivf_topk_against_index(spark, path, q, k=5, n_probe=2)
    assert sorted(map(tuple, from_index.collect())) == sorted(
        map(tuple, one_shot.collect())
    )
    all_cells = ivf_topk_against_index(spark, path, q, k=5, n_probe=3)
    assert sorted(map(tuple, all_cells.collect())) == sorted(
        map(tuple, brute_force_topk(union, q, k=5).collect())
    )


def test_ivf_index_replay_idempotent_and_reaps_stale_kp(spark, ivf_index):
    """Replaying a batch id converges to exactly its rows: identical
    store on exact replay, and a corrected resubmission that vacates a
    kp bucket reaps that bucket's stale dir."""
    from eel_spark.operators.similarity import append_ivf_batch, read_ivf_postings

    path, waves, _ = ivf_index
    before = sorted(map(tuple, read_ivf_postings(spark, path).collect()))
    append_ivf_batch(path, waves[1], src_batch=1)  # exact replay
    assert sorted(map(tuple, read_ivf_postings(spark, path).collect())) == before
    # corrected resubmission: batch 2 shrinks to vectors of ONE cluster
    # direction — cells (and kp dirs) the old batch 2 touched but the new
    # one does not must disappear from the store
    small = spark.createDataFrame(
        _wave_rows(range(200, 204), seeds=(1,)),
        "vec_id: long, embedding: array<double>",
    )
    append_ivf_batch(path, small, src_batch=2)
    rows = read_ivf_postings(spark, path).collect()
    b2_ids = {r["id"] for r in rows if r["id"] >= 200}
    assert b2_ids == {200, 201, 202, 203}
    assert len(rows) == 12 + 12 + 4


def test_ivf_index_probe_read_prunes_partitions(spark, ivf_index):
    """The probed-cell read reaches the scan as PartitionFilters on
    __cell_kp plus a cell_id data filter — the file-pruning contract."""
    from eel_spark.operators.similarity import read_ivf_postings

    path, _, centroids = ivf_index
    cells = [r["cell_id"] for r in centroids.collect()]
    pruned = read_ivf_postings(spark, path, cells=cells[:1])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "__cell_kp" in plan.split("PartitionFilters", 1)[1]
    full = read_ivf_postings(spark, path)
    assert pruned.count() == full.filter(F.col("cell_id") == cells[0]).count()


def test_ivf_index_compact_preserves_and_recovers(spark, ivf_index):
    """Compaction keeps query results identical, collapses to one file
    per kp dir, and an interrupted swap (postings staged aside) is
    restored by the next call."""
    import glob
    import os

    from eel_spark.operators.similarity import (
        compact_ivf_index,
        ivf_topk_against_index,
        read_ivf_postings,
    )

    path, _, _ = ivf_index
    q = _queries(spark)
    before = sorted(map(tuple, ivf_topk_against_index(spark, path, q, k=5).collect()))
    compact_ivf_index(spark, path)
    assert sorted(
        map(tuple, ivf_topk_against_index(spark, path, q, k=5).collect())
    ) == before
    batch_dirs = glob.glob(f"{path}/postings/__src_batch=*")
    assert [os.path.basename(d) for d in batch_dirs] == ["__src_batch=-1"]
    for kp_dir in glob.glob(f"{path}/postings/__src_batch=-1/__cell_kp=*"):
        assert len(glob.glob(f"{kp_dir}/*.parquet")) == 1
    # crash window: postings renamed aside, compacted tree never moved in
    os.rename(f"{path}/postings", f"{path}/postings__old")
    compact_ivf_index(spark, path)
    assert sorted(
        map(tuple, read_ivf_postings(spark, path).collect())
    ) and sorted(
        map(tuple, ivf_topk_against_index(spark, path, q, k=5).collect())
    ) == before


def test_ivf_drift_report_flags_offcluster_wave(spark, ivf_index):
    """A wave drawn from a direction the centroids never saw reports a
    clearly larger mean assigned-centroid distance — the retrain signal."""
    from eel_spark.operators.similarity import append_ivf_batch, ivf_drift_report

    path, _, _ = ivf_index
    off = spark.createDataFrame(
        _wave_rows(range(300, 312), seeds=(23, 29)),
        "vec_id: long, embedding: array<double>",
    )
    append_ivf_batch(path, off, src_batch=3)
    rep = {r["src_batch"]: r["mean_dist"] for r in ivf_drift_report(spark, path).collect()}
    assert set(rep) == {0, 1, 2, 3}
    in_cluster = max(rep[0], rep[1], rep[2])
    assert rep[3] > 2 * in_cluster


def test_ivf_index_report_and_validation(spark, ivf_index, tmp_path):
    import pytest as _pytest

    from eel_spark.operators.similarity import (
        append_ivf_batch,
        init_ivf_index,
        ivf_index_report,
        read_ivf_centroids,
    )

    path, waves, centroids = ivf_index
    rep = ivf_index_report(spark, path).collect()
    assert sum(r["n_vectors"] for r in rep) == 36
    assert all(1 <= r["n_batches"] <= 3 for r in rep)
    # init refuses to overwrite an existing index
    with _pytest.raises(ValueError, match="already initialized"):
        init_ivf_index(path, centroids)
    # append/read against a missing index fail loudly
    with _pytest.raises(ValueError, match="init_ivf_index"):
        append_ivf_batch(str(tmp_path / "nope"), waves[0])
    with _pytest.raises(ValueError, match="init_ivf_index"):
        read_ivf_centroids(spark, str(tmp_path / "nope"))
    # negative cell ids break the kp layout — rejected at init
    bad = centroids.withColumn("cell_id", F.lit(-1))
    with _pytest.raises(ValueError, match="non-negative"):
        init_ivf_index(str(tmp_path / "bad"), bad)


def test_ivf_bq_against_index_full_params_equals_plain_and_recall(spark, ivf_index):
    """With refine covering the probed candidate pool the BQ-prefiltered
    path equals the plain index path exactly; at default refine it keeps
    high recall on the planted clusters."""
    from eel_spark.operators.similarity import (
        ivf_bq_topk_against_index,
        ivf_topk_against_index,
    )

    path, _, _ = ivf_index
    q = _queries(spark)
    plain = ivf_topk_against_index(spark, path, q, k=5, n_probe=3)
    full = ivf_bq_topk_against_index(
        spark, path, q, k=5, n_probe=3, refine=50
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, plain.collect())
    )
    fast = ivf_bq_topk_against_index(spark, path, q, k=5, n_probe=3)
    want = {(r["query_id"], r["vec_id"]) for r in plain.collect()}
    got = {(r["query_id"], r["vec_id"]) for r in fast.collect()}
    assert len(got & want) / len(want) >= 0.8


def test_ivf_bq_against_index_survives_compaction_and_gates_legacy(spark, ivf_index, tmp_path):
    import pyspark.sql.utils  # noqa: F401
    import pytest as _pytest

    from eel_spark.operators.similarity import (
        compact_ivf_index,
        ivf_bq_topk_against_index,
        read_ivf_postings,
    )

    path, _, _ = ivf_index
    q = _queries(spark)
    before = sorted(
        map(tuple, ivf_bq_topk_against_index(spark, path, q, k=5, refine=50).collect())
    )
    compact_ivf_index(spark, path)
    assert sorted(
        map(tuple, ivf_bq_topk_against_index(spark, path, q, k=5, refine=50).collect())
    ) == before
    # a store without the sig column fails the BQ path loudly
    legacy = str(tmp_path / "legacy")
    read_ivf_postings(spark, path).withColumn(
        "__src_batch", F.lit(0)
    ).withColumn("__cell_kp", F.pmod(F.col("cell_id"), F.lit(16)).cast("int")).write.partitionBy(
        "__src_batch", "__cell_kp"
    ).parquet(f"{legacy}/postings")
    with _pytest.raises(ValueError, match="sign sketches"):
        read_ivf_postings(spark, legacy, with_sig=True)


def test_ivf_append_rejects_wrong_dimension_wave(spark, ivf_index):
    """A wave from a different embedding model (wrong dim) must fail
    loudly instead of silently poisoning the store with prefix-distance
    assignments and NULL-padded sketches."""
    import pytest as _pytest

    from eel_spark.operators.similarity import append_ivf_batch, read_ivf_postings

    path, _, _ = ivf_index
    wrong = spark.createDataFrame(
        [(900, [0.1, 0.2, 0.3])], "vec_id: long, embedding: array<double>"
    )
    with _pytest.raises(ValueError, match="dim"):
        append_ivf_batch(path, wrong, src_batch=9)
    assert not any(
        r["id"] == 900 for r in read_ivf_postings(spark, path).collect()
    )


def test_ivf_bq_mixed_store_degrades_legacy_rows_not_ranking(spark, ivf_index):
    """Legacy (pre-sketch) rows on a mixed store read as sig=NULL under
    mergeSchema and must rank LAST in the Hamming stage — never consume
    candidate slots ahead of sketch-bearing near neighbors — while the
    plain path still serves them; compaction keeps the sig column."""
    import glob

    from eel_spark.operators.similarity import (
        compact_ivf_index,
        ivf_bq_topk_against_index,
        ivf_topk_against_index,
        read_ivf_postings,
    )

    path, _, _ = ivf_index
    # plant a legacy batch by writing sig-less postings directly (the
    # pre-sketch layout) for vectors FAR from every centroid direction
    legacy_rows = _wave_rows(range(400, 404), seeds=(37,))
    legacy = spark.createDataFrame(
        legacy_rows, "id: long, vec: array<double>"
    ).withColumn("cell_id", F.lit(0).cast("long")).withColumn(
        "__src_batch", F.lit(90)
    ).withColumn("__cell_kp", F.lit(0))
    legacy.write.mode("append").partitionBy("__src_batch", "__cell_kp").parquet(
        f"{path}/postings"
    )
    q = _queries(spark)
    # BQ stage-1 ranks the legacy NULL-sig rows last: the top-k equals
    # the plain path's whenever refine covers the probed pool of
    # SKETCHED rows (legacy rows can only fill slots below them)
    plain = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk_against_index(spark, path, q, k=5, n_probe=3).collect()
        if r["vec_id"] < 400
    }
    bq = {
        (r["query_id"], r["vec_id"])
        for r in ivf_bq_topk_against_index(
            spark, path, q, k=5, n_probe=3, refine=50
        ).collect()
    }
    assert plain <= bq  # every sketched winner survives the prefilter
    # plain path still reads legacy rows (they are merely un-sketched)
    ids = {r["id"] for r in read_ivf_postings(spark, path).collect()}
    assert {400, 401, 402, 403} <= ids
    compact_ivf_index(spark, path)
    cols = spark.read.parquet(f"{path}/postings").columns
    assert "sig" in cols
    assert glob.glob(f"{path}/postings/__src_batch=-1/__cell_kp=*")


@pytest.fixture()
def pq_index(spark, tmp_path, clustered):
    """An index initialized WITH PQ codebooks, three appended waves."""
    from eel_spark.operators.similarity import (
        append_ivf_batch,
        init_ivf_index,
        train_centroids,
        train_pq,
    )

    centroids = train_centroids(clustered, n_cells=3, iterations=2)
    books = train_pq(clustered, dim=8, n_subs=4, n_codes=8, iterations=2)
    path = str(tmp_path / "pq_index")
    init_ivf_index(path, centroids, pq_books=books)
    waves = [
        spark.createDataFrame(
            _wave_rows(range(100 * w, 100 * w + 12), seeds=(1, 5, 11)),
            "vec_id: long, embedding: array<double>",
        )
        for w in range(3)
    ]
    for w, wave in enumerate(waves):
        append_ivf_batch(path, wave, src_batch=w)
    return path, waves, centroids, books


def test_ivf_pq_against_index_equals_one_shot(spark, pq_index):
    """ADC scan from the incremental index ≡ one-shot ivf_pq_topk over
    the union with the same centroids/books (shared LUT/ADC kernels);
    with every cell probed and refine·k covering the corpus, it is the
    exact brute-force top-k (an oracle sharing no IVF code)."""
    from eel_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        ivf_pq_topk_against_index,
    )

    path, waves, centroids, books = pq_index
    union = waves[0]
    for w in waves[1:]:
        union = union.unionByName(w)
    q = _queries(spark)
    want = ivf_pq_topk(
        union, q, centroids, books, dim=8, n_subs=4, k=5, n_probe=2, refine=4
    )
    got = ivf_pq_topk_against_index(
        spark, path, q, k=5, n_probe=2, refine=4
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # 3 cells, 36 postings: refine·k = 40 keeps every probed posting
    covering = ivf_pq_topk_against_index(
        spark, path, q, k=5, n_probe=3, refine=8
    )
    assert sorted(map(tuple, covering.collect())) == sorted(
        map(tuple, brute_force_topk(union, q, k=5).collect())
    )


def test_ivf_pq_index_lifecycle_and_validation(spark, pq_index, tmp_path, clustered):
    """Codes survive compaction; books-less indexes refuse the ADC path;
    malformed books are rejected at init."""
    import pytest as _pytest

    from eel_spark.operators.similarity import (
        compact_ivf_index,
        init_ivf_index,
        ivf_pq_topk_against_index,
        train_centroids,
    )

    path, _, centroids, books = pq_index
    q = _queries(spark)
    before = sorted(
        map(tuple, ivf_pq_topk_against_index(spark, path, q, k=5, refine=10).collect())
    )
    compact_ivf_index(spark, path)
    assert sorted(
        map(tuple, ivf_pq_topk_against_index(spark, path, q, k=5, refine=10).collect())
    ) == before
    assert "codes" in spark.read.parquet(f"{path}/postings").columns
    # an index initialized WITHOUT books refuses the ADC path loudly
    plain = str(tmp_path / "plain_idx")
    init_ivf_index(plain, centroids)
    from eel_spark.operators.similarity import append_ivf_batch
    append_ivf_batch(
        plain,
        spark.createDataFrame(
            _wave_rows(range(12), seeds=(1, 5, 11)),
            "vec_id: long, embedding: array<double>",
        ),
    )
    with _pytest.raises(ValueError, match="PQ codebooks"):
        ivf_pq_topk_against_index(spark, plain, q, k=5)
    # books whose subspaces do not tile the centroid dim are rejected
    bad_books = books.filter(F.col("sub_id") < 3)  # 3×2 dims != 8
    with _pytest.raises(ValueError, match="tile"):
        init_ivf_index(str(tmp_path / "bad_idx"), centroids, pq_books=bad_books)


def test_init_validation_orphan_books_and_bad_shapes(spark, tmp_path, clustered):
    """Interrupted-init orphan books are reaped by re-init and refused by
    reads; empty and oversized books fail with the designed messages."""
    import pytest as _pytest

    from eel_spark.operators.similarity import (
        init_ivf_index,
        read_ivf_pq_books,
        train_centroids,
        train_pq,
    )

    centroids = train_centroids(clustered, n_cells=3, iterations=1)
    books = train_pq(clustered, dim=8, n_subs=4, n_codes=8, iterations=1)
    # simulate a crash between the books write and the centroids commit
    # marker: books exist, centroids do not
    path = str(tmp_path / "orphan_idx")
    books.write.parquet(f"{path}/pq_books")
    with _pytest.raises(ValueError, match="orphaned pq_books"):
        read_ivf_pq_books(spark, path)
    # a books-LESS re-init reaps the orphan instead of adopting it
    init_ivf_index(path, centroids)
    assert read_ivf_pq_books(spark, path) is None
    # empty books
    with _pytest.raises(ValueError, match="empty"):
        init_ivf_index(
            str(tmp_path / "e_idx"), centroids, pq_books=books.limit(0)
        )
    # >127 codes per subspace would wrap the tinyint code at append
    fat = spark.range(200).select(
        F.lit(0).alias("sub_id"),
        F.col("id").alias("cell_id"),
        F.array(*[F.lit(0.0)] * 8).alias("centroid"),
    )
    with _pytest.raises(ValueError, match="tinyint"):
        init_ivf_index(str(tmp_path / "f_idx"), centroids, pq_books=fat)


def test_ivf_pq_mixed_store_null_codes_degrade(spark, pq_index):
    """A wave written without codes (pre-pq writer) reads codes=NULL on
    the mixed store; its rows must rank LAST in the ADC stage — the
    coded near neighbors keep their slots."""
    from eel_spark.operators.similarity import (
        ivf_pq_topk_against_index,
        read_ivf_postings,
    )

    path, _, _, _ = pq_index
    before = {
        (r["query_id"], r["vec_id"])
        for r in ivf_pq_topk_against_index(
            spark, path, _queries(spark), k=5, n_probe=3, refine=50
        ).collect()
    }
    legacy = spark.createDataFrame(
        _wave_rows(range(500, 504), seeds=(41,)),
        "id: long, vec: array<double>",
    ).withColumn("cell_id", F.lit(0).cast("long")).withColumn(
        "__src_batch", F.lit(91)
    ).withColumn("__cell_kp", F.lit(0))
    legacy.write.mode("append").partitionBy("__src_batch", "__cell_kp").parquet(
        f"{path}/postings"
    )
    after = {
        (r["query_id"], r["vec_id"])
        for r in ivf_pq_topk_against_index(
            spark, path, _queries(spark), k=5, n_probe=3, refine=50
        ).collect()
    }
    assert before <= after  # coded winners never displaced by NULL codes
    ids = {r["id"] for r in read_ivf_postings(spark, path).collect()}
    assert {500, 501, 502, 503} <= ids


def test_ivf_append_rejects_reserved_negative_batch(spark, ivf_index):
    """src_batch = -1 is compact_ivf_index's sentinel partition — an
    append under any negative id must fail loudly instead of silently
    overwriting (and reaping) the compacted corpus (r11 advice)."""
    from eel_spark.operators.similarity import append_ivf_batch

    path, waves, _ = ivf_index
    with pytest.raises(ValueError, match="non-negative"):
        append_ivf_batch(path, waves[0], src_batch=-1)
    with pytest.raises(ValueError, match="non-negative"):
        append_ivf_batch(path, waves[0], src_batch=-7)


def test_against_index_queries_reject_wrong_dimension(spark, ivf_index):
    """Every against-index query path fails loudly on a wrong-dimension
    query vector — the same guard the append path has; without it
    zip_with silently scores by prefix truncation (r11 advice)."""
    from eel_spark.operators.similarity import (
        ivf_bq_topk_against_index,
        ivf_topk_against_index,
    )

    path, _, _ = ivf_index
    short_q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "query_id: long, embedding: array<double>"
    )
    with pytest.raises(ValueError, match="query vector dim 3"):
        ivf_topk_against_index(spark, path, short_q, k=3)
    with pytest.raises(ValueError, match="query vector dim 3"):
        ivf_bq_topk_against_index(spark, path, short_q, k=3)


def test_pq_against_index_rejects_wrong_dimension(spark, pq_index):
    from eel_spark.operators.similarity import ivf_pq_topk_against_index

    path = pq_index[0]
    short_q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id: long, embedding: array<double>"
    )
    with pytest.raises(ValueError, match="query vector dim 2"):
        ivf_pq_topk_against_index(spark, path, short_q, k=3)


def test_compact_backfills_legacy_sigs_full_fidelity(spark, ivf_index):
    """Compaction eliminates the degraded-legacy class (r11 verdict #4):
    sig-less rows get their sketch computed from the stored vector in
    the rewrite — zero NULL sigs remain, and the BQ path then ranks
    legacy rows at FULL fidelity (covering-refine top-k equals the
    plain path exactly, legacy rows included)."""
    from eel_spark.operators.similarity import (
        compact_ivf_index,
        ivf_bq_topk_against_index,
        ivf_topk_against_index,
    )

    path, _, _ = ivf_index
    legacy = spark.createDataFrame(
        _wave_rows(range(400, 404), seeds=(1,)),
        "id: long, vec: array<double>",
    ).withColumn("cell_id", F.lit(0).cast("long")).withColumn(
        "__src_batch", F.lit(90)
    ).withColumn("__cell_kp", F.lit(0))
    legacy.write.mode("append").partitionBy("__src_batch", "__cell_kp").parquet(
        f"{path}/postings"
    )
    compact_ivf_index(spark, path)
    post = spark.read.parquet(f"{path}/postings")
    assert post.where(F.col("sig").isNull()).count() == 0
    q = _queries(spark)
    plain = sorted(
        map(tuple, ivf_topk_against_index(
            spark, path, q, k=5, n_probe=3
        ).collect())
    )
    bq = sorted(
        map(tuple, ivf_bq_topk_against_index(
            spark, path, q, k=5, n_probe=3, refine=50
        ).collect())
    )
    assert bq == plain  # no degraded rows left to miss


def test_compact_backfills_codes_on_books_index(spark, pq_index):
    """On a books-bearing index the compaction rewrite also backfills
    NULL PQ code arrays — the ADC path serves every row afterwards."""
    from eel_spark.operators.similarity import (
        compact_ivf_index,
        ivf_pq_topk_against_index,
        ivf_topk_against_index,
    )

    path = pq_index[0]
    legacy = spark.createDataFrame(
        _wave_rows(range(500, 504), seeds=(5,)),
        "id: long, vec: array<double>",
    ).withColumn("cell_id", F.lit(1).cast("long")).withColumn(
        "__src_batch", F.lit(91)
    ).withColumn("__cell_kp", F.lit(1))
    legacy.write.mode("append").partitionBy("__src_batch", "__cell_kp").parquet(
        f"{path}/postings"
    )
    compact_ivf_index(spark, path)
    post = spark.read.parquet(f"{path}/postings")
    assert post.where(F.col("codes").isNull()).count() == 0
    assert post.where(F.col("sig").isNull()).count() == 0
    q = _queries(spark)
    plain = sorted(
        map(tuple, ivf_topk_against_index(
            spark, path, q, k=5, n_probe=3
        ).collect())
    )
    adc = sorted(
        map(tuple, ivf_pq_topk_against_index(
            spark, path, q, k=5, n_probe=3, refine=50
        ).collect())
    )
    assert adc == plain  # covering refine: ADC prefilter misses nothing


# -- reindex (drift-triggered retrain, r12) ----------------------------------


def test_reindex_bit_exact_and_replay(spark, ivf_index):
    """Post-reindex serving is bit-identical to one-shot ivf_topk with
    the NEW centroids over the union of appended waves; drift history
    is preserved verbatim; replaying an old batch id after the reindex
    still converges to exactly its rows."""
    from eel_spark.operators.similarity import (
        append_ivf_batch,
        ivf_drift_report,
        ivf_topk,
        ivf_topk_against_index,
        read_ivf_centroids,
        read_ivf_postings,
        reindex_ivf_index,
    )

    path, waves, old_cents = ivf_index
    drift_before = sorted(
        (r["src_batch"], r["n_vectors"], r["mean_dist"])
        for r in ivf_drift_report(spark, path).collect()
    )
    reindex_ivf_index(spark, path, n_cells=3, iterations=2)
    new_cents = read_ivf_centroids(spark, path)
    # the retrain actually moved the centroids (trained on 36 appended
    # vectors, not the 30-vector fixture corpus)
    assert sorted(map(tuple, new_cents.collect())) != sorted(
        map(tuple, old_cents.collect())
    )
    union = waves[0]
    for w in waves[1:]:
        union = union.unionByName(w)
    q = _queries(spark)
    want = ivf_topk(union, q, new_cents, k=5, n_probe=2)
    got = ivf_topk_against_index(spark, path, q, k=5, n_probe=2)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # drift history untouched by the rewrite — but every batch present
    # at the retrain is now marked stale_epoch (its rows were measured
    # against the replaced centroids), so drift automation keyed on a
    # spike does not re-fire on acted-on history
    after = ivf_drift_report(spark, path).collect()
    assert sorted(
        (r["src_batch"], r["n_vectors"], r["mean_dist"]) for r in after
    ) == drift_before
    assert all(r["stale_epoch"] for r in after)
    # replay contract survives the new epoch
    before = sorted(map(tuple, read_ivf_postings(spark, path).collect()))
    append_ivf_batch(path, waves[1], src_batch=1)
    assert sorted(
        map(tuple, read_ivf_postings(spark, path).collect())
    ) == before


def test_reindex_recovers_drifted_recall(spark, ivf_index):
    """The lifecycle's point: a drifted wave degrades probe recall under
    the old frozen centroids; retraining recovers it (recall vs the
    brute-force ground truth is >= pre-reindex, and the reindexed
    store's drift report keeps the drifted batch's history row)."""
    from eel_spark.operators.similarity import (
        append_ivf_batch,
        brute_force_topk,
        ivf_drift_report,
        ivf_topk_against_index,
        read_ivf_postings,
        reindex_ivf_index,
    )

    path, _, _ = ivf_index
    drifted = spark.createDataFrame(
        _wave_rows(range(300, 324), seeds=(23, 31)),
        "vec_id: long, embedding: array<double>",
    )
    append_ivf_batch(path, drifted, src_batch=3)
    corpus = read_ivf_postings(spark, path).select(
        F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
    )
    q = spark.createDataFrame(
        [(0, _unit(23, jitter=0.01)), (1, _unit(31, jitter=0.02)),
         (2, _unit(1, jitter=0.01))],
        "query_id: long, embedding: array<double>",
    )
    truth = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(corpus, q, k=5).collect()
    }

    def recall():
        got = {
            (r["query_id"], r["vec_id"])
            for r in ivf_topk_against_index(
                spark, path, q, k=5, n_probe=1
            ).collect()
        }
        return len(got & truth) / len(truth)

    pre = recall()
    reindex_ivf_index(spark, path, n_cells=5, iterations=3)
    post = recall()
    assert post >= pre
    assert post >= 0.8, f"post-reindex recall {post}"
    # the drifted batch's history row survives the rewrite
    drift = {r["src_batch"] for r in ivf_drift_report(spark, path).collect()}
    assert drift == {0, 1, 2, 3}


def test_reindex_crash_windows_and_validation(spark, ivf_index, clustered):
    """Both staged-swap crash windows recover: a half-built replacement
    root is rebuilt from scratch, and an interrupt between the two
    renames restores the staged store before reading. Explicit
    centroids are validated like init."""
    from eel_spark.operators.similarity import (
        ivf_topk_against_index,
        read_ivf_postings,
        reindex_ivf_index,
        train_centroids,
    )
    from eel_spark.sources.hdfs import HdfsOps

    path, _, _ = ivf_index
    ops = HdfsOps(spark)
    n_before = read_ivf_postings(spark, path).count()
    # window 1: a crashed earlier attempt left garbage at the tmp root
    garbage = spark.createDataFrame([(1,)], "x: int")
    garbage.write.parquet(f"{path}__compacting/centroids")
    reindex_ivf_index(spark, path, n_cells=3, iterations=1)
    assert read_ivf_postings(spark, path).count() == n_before
    assert not ops.exists(f"{path}__compacting")
    # window 2: crash between the two renames — store staged aside.
    # Lease-less readers must route to a writer, NOT suggest init (a
    # fresh init beside __old would be destroyed with __old by the next
    # swap's cleanup); any writer's lease heals the swap — an appender
    # included, which then appends into the restored index.
    assert ops.rename(path, f"{path}__old")
    from eel_spark.operators.similarity import (
        append_ivf_batch,
        read_ivf_centroids,
    )

    with pytest.raises(ValueError, match="interrupted reindex/compact"):
        read_ivf_centroids(spark, path)
    append_ivf_batch(path, clustered, id_col="vec_id", src_batch=99)
    assert not ops.exists(f"{path}__old")
    assert read_ivf_postings(spark, path).count() == n_before + 30
    assert ops.rename(path, f"{path}__old")
    reindex_ivf_index(spark, path, n_cells=3, iterations=1)
    assert read_ivf_postings(spark, path).count() == n_before + 30
    assert ivf_topk_against_index(
        spark, path, _queries(spark), k=3, n_probe=2
    ).count() == 9
    # validation: wrong dim / negative cell ids / empty
    bad_dim = train_centroids(
        clustered.select(
            "vec_id", F.slice("embedding", 1, 4).alias("embedding")
        ),
        n_cells=2, iterations=1,
    )
    with pytest.raises(ValueError, match="cannot change the embedding"):
        reindex_ivf_index(spark, path, centroids=bad_dim)
    neg = spark.createDataFrame(
        [(-1, [0.0] * 8)], "cell_id: long, centroid: array<double>"
    )
    with pytest.raises(ValueError, match="non-negative"):
        reindex_ivf_index(spark, path, centroids=neg)
    empty = neg.where(F.lit(False))
    with pytest.raises(ValueError, match="empty"):
        reindex_ivf_index(spark, path, centroids=empty)


def test_reindex_pq_index_keeps_codes_valid(spark, pq_index):
    """Books stay frozen across a reindex, so stored PQ codes remain
    valid: the ADC path over the reindexed store equals the plain path
    at covering refine, and the books round-trip byte-identical."""
    from eel_spark.operators.similarity import (
        ivf_pq_topk_against_index,
        ivf_topk_against_index,
        read_ivf_pq_books,
        reindex_ivf_index,
    )

    path, _, _, books = pq_index
    before_books = sorted(map(tuple, read_ivf_pq_books(spark, path).collect()))
    reindex_ivf_index(spark, path, n_cells=4, iterations=2)
    assert sorted(
        map(tuple, read_ivf_pq_books(spark, path).collect())
    ) == before_books
    q = _queries(spark)
    plain = sorted(
        map(tuple, ivf_topk_against_index(
            spark, path, q, k=5, n_probe=4
        ).collect())
    )
    adc = sorted(
        map(tuple, ivf_pq_topk_against_index(
            spark, path, q, k=5, n_probe=4, refine=50
        ).collect())
    )
    assert adc == plain


def test_against_index_queries_reject_null_vector(spark, ivf_index):
    """A NULL query vector (a query id whose embedding went missing in
    the caller's join) gets its own diagnosis — not the misleading
    wrong-model error, and never silent NULL-cosine output (r12
    review). The check rides the probed-cells collect: zero extra
    jobs."""
    from eel_spark.operators.similarity import ivf_topk_against_index

    null_q = spark.createDataFrame(
        [(0, [float(x) for x in _unit(1)]), (1, None)],
        "query_id: long, embedding: array<double>",
    )
    with pytest.raises(ValueError, match="NULL vector"):
        ivf_topk_against_index(spark, path=ivf_index[0], queries_df=null_q, k=3)


def test_cross_operator_interrupted_swap_recovery(spark, ivf_index):
    """A compaction crash between its two renames (postings staged at
    postings__old) is healed by the NEXT store operation even when that
    operation is a reindex, and vice versa — the shared
    interrupted-swap restore contract (r12 review: reindex previously
    only healed its own root-level stage)."""
    from eel_spark.operators.similarity import (
        compact_ivf_index,
        ivf_topk_against_index,
        read_ivf_postings,
        reindex_ivf_index,
    )
    from eel_spark.sources.hdfs import HdfsOps

    path, _, _ = ivf_index
    ops = HdfsOps(spark)
    n = read_ivf_postings(spark, path).count()
    # crashed COMPACT: postings renamed aside, nothing swapped in
    assert ops.rename(f"{path}/postings", f"{path}/postings__old")
    reindex_ivf_index(spark, path, n_cells=3, iterations=1)
    assert read_ivf_postings(spark, path).count() == n
    # crashed REINDEX: the whole root renamed aside
    assert ops.rename(path, f"{path}__old")
    compact_ivf_index(spark, path)
    assert read_ivf_postings(spark, path).count() == n
    assert ivf_topk_against_index(
        spark, path, _queries(spark), k=3, n_probe=2
    ).count() == 9


def test_drift_epoch_semantics_across_compact_and_replay(spark, ivf_index):
    """stale_epoch is an EPOCH-STAMP comparison, not a batch-id one
    (r12 review, second pass): it survives compaction (posting batch
    ids collapse to -1 but stats keep history), a batch REPLAYED after
    a reindex re-stamps fresh (it re-measured against the new
    centroids), and new waves append fresh until the next retrain."""
    from eel_spark.operators.similarity import (
        append_ivf_batch,
        compact_ivf_index,
        ivf_drift_report,
        reindex_ivf_index,
    )

    path, waves, _ = ivf_index
    compact_ivf_index(spark, path)
    reindex_ivf_index(spark, path, n_cells=3, iterations=1)
    rep = {
        r["src_batch"]: r["stale_epoch"]
        for r in ivf_drift_report(spark, path).collect()
    }
    assert rep == {0: True, 1: True, 2: True}  # compaction didn't erase
    # a replayed batch re-measures against the NEW centroids: fresh
    append_ivf_batch(path, waves[1], src_batch=1)
    rep = {
        r["src_batch"]: r["stale_epoch"]
        for r in ivf_drift_report(spark, path).collect()
    }
    assert rep == {0: True, 1: False, 2: True}
    # a brand-new wave appends fresh; a second retrain stales everything
    new = spark.createDataFrame(
        _wave_rows(range(600, 606), seeds=(5,)),
        "vec_id: long, embedding: array<double>",
    )
    append_ivf_batch(path, new, src_batch=3)
    rep = {
        r["src_batch"]: r["stale_epoch"]
        for r in ivf_drift_report(spark, path).collect()
    }
    assert rep[3] is False
    reindex_ivf_index(spark, path, n_cells=3, iterations=1)
    rep = {
        r["src_batch"]: r["stale_epoch"]
        for r in ivf_drift_report(spark, path).collect()
    }
    assert all(rep.values())


def test_drift_legacy_unstamped_rows_use_boundary_fallback(spark, ivf_index):
    """Migration contract (r12 review, third pass): drift rows written
    by a pre-stamp appender AFTER the last retrain must read FRESH via
    the boundary fallback — coalescing their missing stamp to epoch 0
    would mark un-acted-on drift as history and silently suppress the
    next retrain signal on an upgraded-in-place store."""
    from eel_spark.operators.similarity import (
        ivf_drift_report,
        reindex_ivf_index,
    )

    path, _, _ = ivf_index
    reindex_ivf_index(spark, path, n_cells=3, iterations=1)  # boundary = 2
    # a legacy appender writes an UN-stamped stats row for batch 7,
    # after the retrain (pre-r12 schema: no __epoch column)
    spark.createDataFrame(
        [(6, 12.0)], "n_vectors long, sum_dist double"
    ).withColumn("__src_batch", F.lit(7)).write.mode("append").partitionBy(
        "__src_batch"
    ).parquet(f"{path}/assign_stats")
    rep = {
        r["src_batch"]: r["stale_epoch"]
        for r in ivf_drift_report(spark, path).collect()
    }
    # stamped pre-retrain rows stale; the legacy post-retrain row is
    # fresh (7 > boundary 2) despite carrying no stamp
    assert rep == {0: True, 1: True, 2: True, 7: False}
