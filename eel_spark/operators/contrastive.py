"""Contrastive training-pair mining: (anchor, positive, negative)
triplets from an embedding corpus — the data op behind embedding-model
finetuning (SimCLR/InfoNCE-style objectives, public technique).

Scale shape:

- ONE ANN pass (``similarity.brute_force_topk``'s two-phase salted
  rank; swap in ``bq_topk``/``ivf_topk`` upstream for huge corpora)
  yields each anchor's ``k_scan`` nearest neighbors. Positives and
  HARD negatives are both read off that bounded per-anchor candidate
  list — no second corpus pass.
- RANDOM negatives avoid the obvious O(n²) "pair every anchor with a
  random row" cross join via deterministic hash-bucket pairing: anchor
  a joins the negative pool bucket ``xxhash64(seed, a) % n_buckets``,
  so each anchor sees ~|corpus|/n_buckets candidates (an equi-join),
  cosine-checked against ``neg_max`` so a same-cluster row never
  becomes a negative. Deterministic across runs/retries — no rand().
- Triplets are the per-anchor positives × negatives product, bounded
  by k_pos · n_neg per anchor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eel_spark.operators.similarity import brute_force_topk


def _cos(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n1 = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    n2 = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((n1 > 0) & (n2 > 0), dot / (n1 * n2))


def mine_triplets(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_pos: int = 2,
    pos_min: float = 0.8,
    n_neg: int = 2,
    neg_max: float = 0.5,
    negatives: str = "hard",
    k_scan: int = 20,
    n_buckets: int | None = None,
    seed: int = 0,
    neighbors_df: DataFrame | None = None,
) -> DataFrame:
    """(anchor_id, positive_id, negative_id, pos_cos, neg_cos) triplets.

    Positives: the anchor's top-``k_pos`` neighbors with cosine ≥
    ``pos_min`` (from one ``k_scan``-deep ANN pass, self excluded).
    Negatives with ``negatives="hard"``: the most-similar scan
    candidates still at or below ``neg_max`` — the informative ones;
    with ``"random"``: hash-bucket-paired corpus rows cosine-checked
    against ``neg_max``. Anchors lacking positives (or negatives)
    yield no triplets — mine with a deeper ``k_scan`` or looser
    bounds rather than fabricating pairs.

    The default ANN pass is ``brute_force_topk``, which BROADCASTS the
    query side — here the whole corpus. Right at small/medium scale;
    for millions of vectors pass ``neighbors_df`` instead: any
    precomputed per-anchor candidate table with columns
    ``(anchor_id, candidate_id, cos, rank)`` (e.g. from
    ``similarity.bq_topk`` / ``ivf_pq_topk``, self excluded), and no
    corpus broadcast happens here at all.
    """
    if not (-1 <= neg_max < pos_min <= 1):
        raise ValueError("need -1 <= neg_max < pos_min <= 1")
    if negatives not in ("hard", "random"):
        raise ValueError("negatives must be 'hard' or 'random'")

    if neighbors_df is not None:
        need = {"anchor_id", "candidate_id", "cos", "rank"}
        if not need.issubset(set(neighbors_df.columns)):
            raise ValueError(
                f"neighbors_df needs columns {sorted(need)}, "
                f"got {neighbors_df.columns}"
            )
        neighbors = neighbors_df.select(
            F.col("anchor_id").alias("__anchor"),
            F.col("candidate_id").alias("__cand"),
            "cos",
            "rank",
        ).filter(F.col("__anchor") != F.col("__cand"))
    else:
        # self-query: alias the query-side id first — brute_force_topk's
        # exclude_self compares query id to corpus id by NAME, which is
        # ambiguous when both sides share the column name
        q = emb.select(F.col(id_col).alias("__anchor"), F.col(vec_col))
        neighbors = brute_force_topk(
            emb, q,
            id_col=id_col, vec_col=vec_col, query_id_col="__anchor",
            k=k_scan, exclude_self=True,
        ).select(
            "__anchor", F.col(id_col).alias("__cand"), "cos", "rank"
        )

    positives = neighbors.filter(
        (F.col("cos") >= pos_min) & (F.col("rank") <= k_pos)
    ).select(
        "__anchor",
        F.col("__cand").alias("positive_id"),
        F.col("cos").alias("pos_cos"),
    )

    if negatives == "hard":
        # most-similar candidates still below the bound; per-anchor
        # input is <= k_scan rows, so a plain window is bounded
        w = Window.partitionBy("__anchor").orderBy(F.asc("rank"))
        negs = (
            neighbors.filter(F.col("cos") <= neg_max)
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= n_neg)
            .select(
                "__anchor",
                F.col("__cand").alias("negative_id"),
                F.col("cos").alias("neg_cos"),
            )
        )
    else:
        if n_buckets is None:
            # ~4x over-draw per anchor before the cosine check
            n_total = emb.count()
            n_buckets = max(1, n_total // max(1, 4 * n_neg))
        pool = emb.select(
            F.col(id_col).alias("__nid"),
            F.col(vec_col).alias("__nvec"),
            F.pmod(F.xxhash64(F.lit(int(seed)), F.col(id_col)), n_buckets)
            .alias("__b"),
        )
        anchors = emb.select(
            F.col(id_col).alias("__anchor"),
            F.col(vec_col).alias("__avec"),
            F.pmod(F.xxhash64(F.lit(int(seed)), F.col(id_col)), n_buckets)
            .alias("__b"),
        )
        w = Window.partitionBy("__anchor").orderBy(
            F.xxhash64(F.lit(int(seed)), "__anchor", "__nid")
        )
        negs = (
            anchors.join(pool, "__b")
            .filter(F.col("__anchor") != F.col("__nid"))
            .withColumn("__cos", _cos(F.col("__avec"), F.col("__nvec")))
            .filter(F.col("__cos") <= neg_max)
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= n_neg)
            .select(
                "__anchor",
                F.col("__nid").alias("negative_id"),
                F.col("__cos").alias("neg_cos"),
            )
        )

    return positives.join(negs, "__anchor").select(
        F.col("__anchor").alias("anchor_id"),
        "positive_id",
        "negative_id",
        "pos_cos",
        "neg_cos",
    )
