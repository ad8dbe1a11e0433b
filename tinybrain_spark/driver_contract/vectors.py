"""Similarity search on `embeddings`.

Brute-force, blocked and IVF top-k, LSH buckets and recall, k-means,
kNN purity, mutual nearest neighbours, label propagation, semantic
dedup and product quantization.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, pin
from .sequences import _word_hash_expr


_ANN_PROBES = 8
_ANN_TOPK = 10


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (pipeline op: similarity search,
    exact baseline).  Output is rank + ids only — integers, so the
    oracle compare is float-noise-proof."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
        F.sqrt(
            F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x.cast("double") * x)
        ).alias("norm"),
    )
    probes = emb.where(F.col("vec_id") < _ANN_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("norm").alias("pnorm"),
    )
    joined = emb.crossJoin(F.broadcast(probes)).where(
        F.col("vec_id") != F.col("probe_id")
    )
    scored = joined.select(
        "probe_id",
        "vec_id",
        (
            F.aggregate(
                F.zip_with("v", "pv", lambda x, y: x * y),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / (F.col("norm") * F.col("pnorm"))
        ).alias("cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _ANN_TOPK)
        .select(
            "probe_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("vec_id").cast("long").alias("neighbor_id"),
        )
    )


_ANN_TOPK_SQL = f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x))) AS norm
  FROM embeddings
), probes AS (
  SELECT vec_id AS probe_id, v AS pv, norm AS pnorm
  FROM e WHERE vec_id < {_ANN_PROBES}
), scored AS (
  SELECT p.probe_id, e.vec_id,
         list_sum(list_transform(range(1, len(e.v) + 1),
                  i -> e.v[i] * p.pv[i])) / (e.norm * p.pnorm) AS cos
  FROM e CROSS JOIN probes p
  WHERE e.vec_id <> p.probe_id
), ranked AS (
  SELECT probe_id, vec_id,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT probe_id, CAST(rank AS BIGINT) AS rank,
       CAST(vec_id AS BIGINT) AS neighbor_id
FROM ranked WHERE rank <= {_ANN_TOPK}
"""


def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (the ANN 'scale path':
    bucket-local joins instead of a full cross join)."""
    from ..similarity import lsh_bucket_expr

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        lsh_bucket_expr("embedding", 64).alias("bucket"),
    )


def _lsh_buckets_sql() -> str:
    from ..similarity import lsh_bucket_sql

    return f"""
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST({lsh_bucket_sql("CAST(embedding AS DOUBLE[])", 64)} AS BIGINT)
         AS bucket
FROM embeddings
"""


def q_ann_nn_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: 1-NN within each LSH bucket."""
    from ..similarity import bucketed_nn, lsh_bucket_expr

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "embedding",
        lsh_bucket_expr("embedding", 64).alias("bucket"),
    )
    return bucketed_nn(emb)


def _ann_nn_bucketed_sql() -> str:
    from ..similarity import lsh_bucket_sql

    bucket = lsh_bucket_sql("CAST(embedding AS DOUBLE[])", 64)
    return f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS v,
         CAST({bucket} AS BIGINT) AS bucket
  FROM embeddings
), pairs AS (
  SELECT a.vec_id, b.vec_id AS cand_id,
         list_sum(list_transform(range(1, len(a.v) + 1),
                  i -> a.v[i] * b.v[i]))
         / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
            * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT vec_id, cand_id, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cand_id ASC) AS rn
  FROM pairs
)
SELECT vec_id, cand_id AS nn_id,
       CAST(floor(cos * 1000) AS BIGINT) AS cos_c
FROM ranked WHERE rn = 1
"""


def q_ann_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GEMM-blocked exact top-k (scale path) — must equal the
    zip_with formulation, so it shares q_ann_topk's oracle."""
    from ..similarity import brute_force_topk_blocked

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    probes = [
        (r["vec_id"], np.asarray(r["embedding"]))
        for r in emb.where(F.col("vec_id") < _ANN_PROBES).collect()
    ]
    return brute_force_topk_blocked(emb, probes, k=_ANN_TOPK)


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer path at full probe width: must equal the
    exact top-k oracle (cell assignment + per-probe masking + blocked
    GEMM verified end-to-end; partial-probe recall is pinned by
    tests/test_similarity.py)."""
    from ..similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    probes = [
        (r["vec_id"], np.asarray(r["embedding"]))
        for r in emb.where(F.col("vec_id") < _ANN_PROBES).collect()
    ]
    return ivf_topk(emb, probes, k=_ANN_TOPK, n_centroids=16, n_probe=16)


def q_embed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x.cast("double") * x)
    )
    return (
        emb.select(F.col("label").cast("long").alias("label"), norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.floor(F.sum("norm") * 100).cast("long").alias("norm_sum_c"),
        )
    )


_EMBED_STATS = """
WITH e AS (
  SELECT label,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x))) AS norm
  FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(floor(sum(norm) * 100) AS BIGINT) AS norm_sum_c
FROM e GROUP BY label
"""


def q_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal nearest neighbors in embedding space: pairs where
    each vector is the other's bucketed 1-NN — the high-precision
    semantic-dup candidate set (the margin/RNN criterion bitext mining
    and embedding dedup use before thresholding cosine alone: a
    one-directional NN can be a hub, a MUTUAL one is a genuine pair).

    Scale shape: composes q_ann_nn_bucketed (LSH-bucket-local 1-NN,
    never a corpus cross join); the NN table is pinned ONCE
    (|vectors| rows — linear) so the self-join's two sides read the
    materialized table instead of re-running the bucketed argmax
    twice; the join keys are 8-byte vec ids, labels broadcast on.
    Integer outputs only (cos_c is the floor-milli cosine already
    under the parent's oracle)."""
    nn = pin(
        q_ann_nn_bucketed(spark, sf_dir)
        .select("vec_id", "nn_id", "cos_c")
    )
    x = nn.select(
        F.col("vec_id").alias("vec_a"),
        F.col("nn_id").alias("na"),
        "cos_c",
    )
    y = nn.select(
        F.col("vec_id").alias("vec_b"), F.col("nn_id").alias("nb")
    )
    pairs = x.join(
        y,
        (F.col("na") == F.col("vec_b"))
        & (F.col("nb") == F.col("vec_a"))
        & (F.col("vec_a") < F.col("vec_b")),
    )
    lab = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vid"),
        F.col("label").cast("long").alias("lab"),
    )
    return (
        pairs.join(F.broadcast(lab), F.col("vec_a") == F.col("vid"))
        .select("vec_a", "vec_b", "cos_c", F.col("lab").alias("label_a"))
        .join(
            F.broadcast(lab.select(F.col("vid").alias("vid2"),
                                   F.col("lab").alias("label_b"))),
            F.col("vec_b") == F.col("vid2"),
        )
        .select(
            "vec_a",
            "vec_b",
            "cos_c",
            (F.col("label_a") == F.col("label_b"))
            .cast("long")
            .alias("same_label"),
        )
    )


def _mutual_nn_sql() -> str:
    return f"""
WITH nn AS (
  SELECT * FROM ({_ann_nn_bucketed_sql()})
), lab AS (
  SELECT CAST(vec_id AS BIGINT) AS vid, CAST(label AS BIGINT) AS lab
  FROM embeddings
)
SELECT x.vec_id AS vec_a, x.nn_id AS vec_b, x.cos_c,
       CAST(CASE WHEN la.lab = lb.lab THEN 1 ELSE 0 END AS BIGINT)
         AS same_label
FROM nn x JOIN nn y
  ON x.nn_id = y.vec_id AND y.nn_id = x.vec_id
  AND x.vec_id < y.vec_id
JOIN lab la ON x.vec_id = la.vid
JOIN lab lb ON x.nn_id = lb.vid
"""


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous label-propagation round over the bucketed-NN
    graph: every vector takes the MAJORITY label of its undirected NN
    neighbors (ties -> smallest label; isolated semantics impossible —
    every node has >= 1 edge by construction).  The semi-supervised
    label-cleaning step run after q_knn_purity flags an entangled
    label: one round of propagation shows which assignments the
    embedding space itself disputes.

    Scale shape: the NN table is pinned once (the q_mutual_nn
    discipline), edges are its two directions (map-side union +
    distinct on 8-byte pairs), neighbor labels broadcast on, and the
    majority vote is the q_m4_decimate argmax encoding cnt*2^20 +
    (2^20-1-label) — two map-side-combinable groupBys, never a
    window.  Labels are runtime-bounded < 2^20 by the encoding
    (fixture labels are single digits)."""
    nn = pin(
        q_ann_nn_bucketed(spark, sf_dir)
        .select("vec_id", "nn_id")
    )
    edges = (
        nn.select(F.col("vec_id").alias("a"), F.col("nn_id").alias("b"))
        .unionByName(
            nn.select(
                F.col("nn_id").alias("a"), F.col("vec_id").alias("b")
            )
        )
        .distinct()
    )
    lab = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vid"),
        F.col("label").cast("long").alias("lab"),
    )
    votes = (
        edges.join(
            F.broadcast(lab.select(F.col("vid").alias("b2"),
                                   F.col("lab").alias("nbr_label"))),
            F.col("b") == F.col("b2"),
        )
        .groupBy("a", "nbr_label")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    enc = votes.groupBy("a").agg(
        F.max(
            F.expr(f"cnt * {1 << 20} + ({(1 << 20) - 1} - nbr_label)")
        ).alias("e")
    )
    out = enc.select(
        F.col("a").alias("vec_id"),
        F.expr(f"{(1 << 20) - 1} - (e % {1 << 20})")
        .cast("long")
        .alias("new_label"),
    )
    return (
        out.join(F.broadcast(lab), F.col("vec_id") == F.col("vid"))
        .select(
            "vec_id",
            F.col("lab").alias("old_label"),
            "new_label",
            (F.col("new_label") != F.col("lab"))
            .cast("long")
            .alias("changed"),
        )
    )


def _label_prop_sql() -> str:
    return f"""
WITH nn AS (
  SELECT * FROM ({_ann_nn_bucketed_sql()})
), edges AS (
  SELECT DISTINCT a, b FROM (
    SELECT vec_id AS a, nn_id AS b FROM nn
    UNION ALL
    SELECT nn_id AS a, vec_id AS b FROM nn
  )
), lab AS (
  SELECT CAST(vec_id AS BIGINT) AS vid, CAST(label AS BIGINT) AS lab
  FROM embeddings
), votes AS (
  SELECT a, lab AS nbr_label, CAST(count(*) AS BIGINT) AS cnt
  FROM edges JOIN lab ON b = vid
  GROUP BY 1, 2
), enc AS (
  SELECT a, max(cnt * {1 << 20} + ({(1 << 20) - 1} - nbr_label)) AS e
  FROM votes GROUP BY 1
)
SELECT a AS vec_id,
       CAST(lab AS BIGINT) AS old_label,
       CAST({(1 << 20) - 1} - (e % {1 << 20}) AS BIGINT) AS new_label,
       CAST(CASE WHEN {(1 << 20) - 1} - (e % {1 << 20}) <> lab
                 THEN 1 ELSE 0 END AS BIGINT) AS changed
FROM enc JOIN lab ON a = vid
"""


PQ_SUBSPACES = 8  # 64 dims -> 8 subspaces x 8 dims
PQ_SUBDIM = 8
PQ_CENTROIDS = 16  # codes are 4-bit per subspace


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (the ANN memory-compression
    primitive: IVF-PQ's second stage): each 64-dim embedding splits
    into 8 subspaces of 8 dims; per subspace the code is the argmin
    squared distance over 16 FIXED centroids (deterministic dyadic
    rationals c(s,c,k) = ((s*131 + c*17 + k*7) % 19 - 9) / 8 — exact
    in both engines, no training step to disagree about), ties ->
    smallest centroid id.  Emits the 8 codes plus the total
    quantization error in 2^20 fixed point.

    Float parity is by CONSTRUCTION: both engines evaluate the same
    expression tree in the same left-to-right fold (F.aggregate here,
    list_sum(list_transform) in the oracle — the documented zip_with/
    aggregate parity rule), on exact f32->f64 casts and dyadic
    centroids, so every distance is the identical IEEE double and the
    floor is hash-stable.  The per-distance fold also keeps the
    Catalyst tree small (1024 flat Add terms would hit the documented
    512-term codegen cliff).  Entirely IN-ROW: zero shuffles
    (plan-pinned); a non-64-dim embedding raises."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.when(
            F.size("embedding") == PQ_SUBSPACES * PQ_SUBDIM,
            F.col("embedding"),
        )
        .otherwise(
            F.raise_error(
                F.lit("q_pq_encode: embedding is not 64-dim")
            ).cast("array<float>")
        )
        .alias("v"),
    )
    cols = [F.col("vec_id")]
    err_total = None
    # closure FACTORY, not a `s=s` default arg: a two-parameter lambda
    # makes F.transform pass the ARRAY INDEX as the second argument
    # (the q_loop_detect arity trap) — here that silently swapped the
    # subspace for the centroid index and read element_at(65)
    def _dist_for(s: int):
        def _dist(c):
            acc = F.lit(0.0)
            # fold dims left-to-right: ((0 + t0) + t1) + ... parity
            # with the oracle's list_sum order
            for k in range(PQ_SUBDIM):
                vk = F.element_at("v", s * PQ_SUBDIM + k + 1).cast(
                    "double"
                )
                ck = (
                    ((F.lit(s * 131) + c * 17 + F.lit(k * 7)) % 19)
                    - 9
                ).cast("double") / 8.0
                acc = acc + (vk - ck) * (vk - ck)
            return acc

        return _dist

    for s in range(PQ_SUBSPACES):
        dists = F.transform(
            F.sequence(F.lit(0), F.lit(15)), _dist_for(s)
        )
        cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("long")
            .alias(f"code_{s}")
        )
        e = F.array_min(dists)
        err_total = e if err_total is None else err_total + e
    cols.append(
        F.floor(err_total * (1 << 20)).cast("long").alias("err_u")
    )
    return emb.select(*cols)


def _pq_encode_sql() -> str:
    d_cols = ",\n       ".join(
        f"list_transform(range(0, {PQ_CENTROIDS}), c -> "
        + " + ".join(
            f"(v[{s * PQ_SUBDIM + k + 1}] - (({s * 131} + c * 17 + "
            f"{k * 7}) % 19 - 9) / 8.0)"
            f" * (v[{s * PQ_SUBDIM + k + 1}] - (({s * 131} + c * 17 + "
            f"{k * 7}) % 19 - 9) / 8.0)"
            for k in range(PQ_SUBDIM)
        )
        + f") AS d{s}"
        for s in range(PQ_SUBSPACES)
    )
    codes = ",\n       ".join(
        f"CAST(list_position(d{s}, list_min(d{s})) - 1 AS BIGINT)"
        f" AS code_{s}"
        for s in range(PQ_SUBSPACES)
    )
    err = " + ".join(f"list_min(d{s})" for s in range(PQ_SUBSPACES))
    return f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
), d AS (
  SELECT vec_id,
       {d_cols}
  FROM e
)
SELECT vec_id,
       {codes},
       CAST(floor(({err}) * {1 << 20}) AS BIGINT) AS err_u
FROM d
"""


PQ_TOPK = 20  # ADC search result size


def _pq_query_num(i: int) -> int:
    """Integer numerator of the fixed ADC query vector: q[i] =
    ((i*13 + 5) % 17 - 8) / 8 — dyadic like the centroids, so every
    query-to-centroid distance is an exact rational with denominator
    64 and the whole scoring path can stay in int64."""
    return (i * 13 + 5) % 17 - 8


def _pq_centroid_num(s: int, c: int, k: int) -> int:
    """Integer numerator of centroid c(s,c,k) (q_pq_encode's dyadic
    codebook): value is num/8."""
    return (s * 131 + c * 17 + k * 7) % 19 - 9


def _pq_ilut(s: int, c: int) -> int:
    """64 * ||q_s - centroid(s,c)||^2 — EXACT integer (both factors
    are eighths, so each squared term is 64ths)."""
    return sum(
        (
            _pq_query_num(s * PQ_SUBDIM + k)
            - _pq_centroid_num(s, c, k)
        )
        ** 2
        for k in range(PQ_SUBDIM)
    )


def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k search (IVF-PQ's third stage,
    completing encode -> search): a fixed 64-dim dyadic query vector
    scores every embedding through its PQ codes — score = sum over
    subspaces of the precomputed query-to-centroid distance for the
    vector's assigned centroid (the asymmetric-distance-computation
    lookup-table trick: 8 array lookups per vector instead of 64
    float multiplies) — then the 20 best (score ASC, vec_id ASC)
    emerge via TakeOrderedAndProject.

    Two-layer exactness: the CODE assignment reuses q_pq_encode's
    float-parity-by-construction argmin (identical expression tree,
    fold order, dyadic centroids in both engines); the SCORE never
    touches floats at all — query and centroids are both eighths, so
    64*distance is an exact int64 computed as an integer LUT (Spark
    embeds the 8x16 table as literals; the oracle re-derives every
    entry from the same integer formula — exactness makes the two
    routes identical).  score64 = 64 * the true ADC squared
    distance.  No exchange anywhere: per-partition top-k merges on
    the driver (plan-pinned: TakeOrderedAndProject, zero Exchange)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.when(
            F.size("embedding") == PQ_SUBSPACES * PQ_SUBDIM,
            F.col("embedding"),
        )
        .otherwise(
            F.raise_error(
                F.lit("q_pq_search: embedding is not 64-dim")
            ).cast("array<float>")
        )
        .alias("v"),
    )

    # the same closure factory as q_pq_encode (the documented
    # two-arg-lambda arity-trap cure)
    def _dist_for(s: int):
        def _dist(c):
            acc = F.lit(0.0)
            for k in range(PQ_SUBDIM):
                vk = F.element_at("v", s * PQ_SUBDIM + k + 1).cast(
                    "double"
                )
                ck = (
                    ((F.lit(s * 131) + c * 17 + F.lit(k * 7)) % 19)
                    - 9
                ).cast("double") / 8.0
                acc = acc + (vk - ck) * (vk - ck)
            return acc

        return _dist

    score = None
    for s in range(PQ_SUBSPACES):
        dists = F.transform(
            F.sequence(F.lit(0), F.lit(PQ_CENTROIDS - 1)), _dist_for(s)
        )
        code = F.array_position(dists, F.array_min(dists))  # 1-based
        ilut = F.array(
            *[
                F.lit(_pq_ilut(s, c)).cast("long")
                for c in range(PQ_CENTROIDS)
            ]
        )
        term = F.element_at(ilut, code.cast("int"))
        score = term if score is None else score + term
    return (
        emb.select("vec_id", score.alias("score64"))
        .orderBy("score64", "vec_id")
        .limit(PQ_TOPK)
    )


def _pq_search_sql() -> str:
    d_cols = ",\n       ".join(
        f"list_transform(range(0, {PQ_CENTROIDS}), c -> "
        + " + ".join(
            f"(v[{s * PQ_SUBDIM + k + 1}] - (({s * 131} + c * 17 + "
            f"{k * 7}) % 19 - 9) / 8.0)"
            f" * (v[{s * PQ_SUBDIM + k + 1}] - (({s * 131} + c * 17 + "
            f"{k * 7}) % 19 - 9) / 8.0)"
            for k in range(PQ_SUBDIM)
        )
        + f") AS d{s}"
        for s in range(PQ_SUBSPACES)
    )
    # integer LUT re-derived arithmetically (never literals): entry c
    # of subspace s is sum_k (qnum - cnum)^2, both numerators of
    # eighths -> 64 * distance, exact
    def _ilut_expr(s: int) -> str:
        return (
            f"list_transform(range(0, {PQ_CENTROIDS}), c -> "
            + " + ".join(
                f"({_pq_query_num(s * PQ_SUBDIM + k)} - "
                f"(({s * 131} + c * 17 + {k * 7}) % 19 - 9)) * "
                f"({_pq_query_num(s * PQ_SUBDIM + k)} - "
                f"(({s * 131} + c * 17 + {k * 7}) % 19 - 9))"
                for k in range(PQ_SUBDIM)
            )
            + ")"
        )

    score = " + ".join(
        f"{_ilut_expr(s)}[list_position(d{s}, list_min(d{s}))]"
        for s in range(PQ_SUBSPACES)
    )
    return f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
), d AS (
  SELECT vec_id,
       {d_cols}
  FROM e
)
SELECT vec_id,
       CAST({score} AS BIGINT) AS score64
FROM d
ORDER BY score64, vec_id
LIMIT {PQ_TOPK}
"""


SEMDEDUP_DIMS = 4   # quantized prefix dims — the coarse semantic key
SEMDEDUP_SCALE = 4  # power of two: f32 -> f64 widen + *4 are both exact


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quantization near-dup (the SemDeDup shape, Abbas et
    al. 2023, arXiv:2303.09540): vectors whose first SEMDEDUP_DIMS
    coordinates quantize identically (floor(v * 4), a power-of-two
    scale so the f32->f64 widen and the multiply are both EXACT on
    both engines) land in one semantic bucket; each bucket keeps its
    min vec_id — the deterministic keep policy q_dedup_exact uses for
    text.  sf0.01 probe: 500 vectors -> 62 buckets, avg 8 candidates
    per bucket.

    Scale shape: one map-side-combinable groupBy on an md5-derived
    8-byte bucket fingerprint — the embedding array itself NEVER
    reaches the exchange (quantize + hash happen in the scan-stage
    projection), so shuffle volume is (8B key + two longs) per vector
    regardless of embedding width.  This is the cheap first pass that
    IVF/LSH exact-cosine verification (q_ann_topk_ivf machinery) runs
    inside buckets afterward."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = [
        F.floor(
            F.element_at("embedding", i).cast("double")
            * F.lit(SEMDEDUP_SCALE)
        ).cast("long").cast("string")
        for i in range(1, SEMDEDUP_DIMS + 1)
    ]
    bucket8 = _word_hash_expr(F.concat_ws(",", *qs))
    return (
        emb.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            bucket8.alias("bucket8"),
        )
        .groupBy("bucket8")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.min("vec_id").cast("long").alias("keep_vec_id"),
        )
    )


_SEMANTIC_DEDUP = f"""
WITH q AS (
  SELECT vec_id,
         CAST(('0x' || substr(md5(
           {" || ',' || ".join(
             "CAST(CAST(floor(CAST(embedding[%d] AS DOUBLE) * %d) AS BIGINT)"
             " AS VARCHAR)" % (i, SEMDEDUP_SCALE)
             for i in range(1, SEMDEDUP_DIMS + 1)
           )}
         ), 1, 14)) AS BIGINT) AS bucket8
  FROM embeddings
)
SELECT bucket8,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(vec_id) AS BIGINT) AS keep_vec_id
FROM q GROUP BY bucket8
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN accountability: recall@k of the LSH-bucket search against
    the exact cosine top-k, per probe — the eval harness that tells
    you what the approximate path actually costs in quality before
    you ship it (the IVF path's partial-probe recall is pinned in
    tests/test_similarity.py; THIS query puts the LSH variant — whose
    bucket function both engines can compute — under the oracle).

    One scored table, ONE window sort: the exact rank and the
    bucket-restricted rank share the same (probe_id) partition and
    (cos DESC, vec_id) order — the bucket rank is a running
    conditional count over the identical frame, so Catalyst plans a
    single sort, and the per-probe aggregate is map-side combinable.
    recall@k uses the standard fixed-k denominator (an under-filled
    bucket scores what it scores).  This is a sampled-probes EVAL job
    (broadcast cross-score over _ANN_PROBES probes), not a serving
    path — the serving paths are q_ann_topk_ivf / q_ann_nn_bucketed."""
    from ..similarity import lsh_bucket_expr

    k = _ANN_TOPK
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
        F.sqrt(
            F.aggregate(
                "embedding", F.lit(0.0), lambda a, x: a + x.cast("double") * x
            )
        ).alias("norm"),
        lsh_bucket_expr("embedding", 64).alias("bucket"),
    )
    probes = emb.where(F.col("vec_id") < _ANN_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("norm").alias("pnorm"),
        F.col("bucket").alias("pbucket"),
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            (
                F.aggregate(
                    F.zip_with("v", "pv", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                / (F.col("norm") * F.col("pnorm"))
            ).alias("cos"),
            (F.col("bucket") == F.col("pbucket")).cast("long").alias("same"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    rk = scored.select(
        "probe_id",
        "same",
        F.row_number().over(w).alias("rnk"),
        F.sum("same")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("brun"),
    )
    agg = rk.groupBy("probe_id").agg(
        F.sum(
            (
                (F.col("rnk") <= k)
                & (F.col("same") == 1)
                & (F.col("brun") <= k)
            ).cast("long")
        )
        .cast("long")
        .alias("n_hits"),
        F.sum(((F.col("same") == 1) & (F.col("brun") <= k)).cast("long"))
        .cast("long")
        .alias("n_approx"),
    )
    return agg.select(
        F.col("probe_id").cast("long").alias("probe_id"),
        F.lit(k).cast("long").alias("k"),
        "n_approx",
        "n_hits",
        F.expr(f"(n_hits * 1000) DIV {k}")
        .cast("long")
        .alias("recall_permille"),
    )


def _ann_recall_sql() -> str:
    from ..similarity import lsh_bucket_sql

    bucket = lsh_bucket_sql("CAST(embedding AS DOUBLE[])", 64)
    k = _ANN_TOPK
    return f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x))) AS norm,
         CAST({bucket} AS BIGINT) AS bucket
  FROM embeddings
), probes AS (
  SELECT vec_id AS probe_id, v AS pv, norm AS pnorm, bucket AS pbucket
  FROM e WHERE vec_id < {_ANN_PROBES}
), scored AS (
  SELECT p.probe_id, e.vec_id,
         list_sum(list_transform(range(1, len(e.v) + 1),
                  i -> e.v[i] * p.pv[i])) / (e.norm * p.pnorm) AS cos,
         CASE WHEN e.bucket = p.pbucket THEN 1 ELSE 0 END AS same
  FROM e CROSS JOIN probes p
  WHERE e.vec_id <> p.probe_id
), rk AS (
  SELECT probe_id, same,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cos DESC, vec_id ASC) AS rnk,
         sum(same) OVER (PARTITION BY probe_id
                         ORDER BY cos DESC, vec_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS brun
  FROM scored
), agg AS (
  SELECT probe_id,
         CAST(sum(CASE WHEN rnk <= {k} AND same = 1 AND brun <= {k}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         CAST(sum(CASE WHEN same = 1 AND brun <= {k}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_approx
  FROM rk GROUP BY probe_id
)
SELECT CAST(probe_id AS BIGINT) AS probe_id,
       CAST({k} AS BIGINT) AS k,
       n_approx, n_hits,
       CAST((n_hits * 1000) // {k} AS BIGINT) AS recall_permille
FROM agg
"""


KMEANS_K = 8
KMEANS_Q = 1024  # quantization grid: floor(x * 1024), exact in f64


def _kmeans_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(seeds, assigned) shared by q_kmeans_assign / q_kmeans_update:
    seeds = (cid, seed_vec_id, cv), assigned = (vec_id, qv, cid, dist)
    with every vector's in-row argmin over the broadcast K-centroid
    array (see q_kmeans_assign's docstring for the encoding bounds)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * KMEANS_Q).cast("long"),
        ).alias("qv"),
    )
    sd = emb.select(
        "vec_id", "qv", F.md5(F.col("vec_id").cast("string")).alias("h")
    ).orderBy("h").limit(KMEANS_K)
    arr = sd.agg(
        F.array_sort(F.collect_list(F.struct("h", "vec_id", "qv"))).alias(
            "arr"
        )
    )
    seeds = arr.select(
        F.posexplode("arr").alias("cid", "s")
    ).select(
        F.col("cid").cast("long").alias("cid"),
        F.col("s.vec_id").alias("seed_vec_id"),
        F.col("s.qv").alias("cv"),
    )
    cents = seeds.agg(
        F.collect_list(F.struct("cid", "cv")).alias("cents")
    )
    enc = F.array_min(
        F.transform(
            "cents",
            lambda c: F.aggregate(
                F.zip_with("qv", c.cv, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda s, x: s + x,
            )
            * KMEANS_K
            + c.cid,
        )
    )
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "qv", enc.alias("enc"))
        .select(
            "vec_id",
            "qv",
            F.expr(f"enc % {KMEANS_K}").cast("long").alias("cid"),
            F.expr(f"enc DIV {KMEANS_K}").cast("long").alias("dist"),
        )
    )
    return seeds, assigned


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact k-means assignment step over integer-quantized
    embeddings: K deterministic seeds (lowest md5(vec_id) — the same
    order in both engines), every vector assigned to its nearest seed
    by EXACT integer squared-L2 on the floor(x*1024) grid, per-cluster
    census out.  This is the building block an embedding-curation
    pipeline iterates (cluster-balanced sampling, semantic dedup
    regions) — one step is SQL-expressible, so the oracle can pin it;
    the iteration is a driver loop over the same plan.

    Shape: seeds are a TakeOrderedAndProject(K) folded to ONE row
    (array_sort(collect_list) — no unpartitioned window), broadcast to
    every vector; the argmin runs IN-ROW over the K-element centroid
    array (min of dist*K+cid — dist < 64*(2*KMEANS_Q)^2 < 2^28 keeps
    the encoding far from overflow), so the only exchange is the final
    K-row groupBy.  Ties break toward the lower cid, identically in
    both engines."""
    seeds, assigned = _kmeans_parts(spark, sf_dir)
    g = assigned.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("dist").cast("long").alias("sum_dist"),
    )
    out = seeds.join(g, "cid", "left")
    return out.select(
        F.col("cid").alias("cluster_id"),
        "seed_vec_id",
        F.coalesce(F.col("n_members"), F.lit(0)).cast("long").alias(
            "n_members"
        ),
        F.coalesce(F.col("sum_dist"), F.lit(0)).cast("long").alias(
            "sum_dist"
        ),
        F.when(F.coalesce(F.col("n_members"), F.lit(0)) == 0, F.lit(0))
        .otherwise(
            F.expr("sum_dist DIV n_members") * 1000
            + F.expr("((sum_dist % n_members) * 1000) DIV n_members")
        )
        .cast("long")
        .alias("mean_dist_milli"),
    )


def q_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lloyd centroid-UPDATE step paired with q_kmeans_assign:
    per (cluster, dimension), the integer mean of the assigned
    vectors' quantized coordinates (sum DIV n — trunc-toward-zero in
    BOTH engines, CLAUDE.md's DIV note), the seed coordinate it
    replaces, and the squared per-dim shift.  Empty clusters keep
    their seed (the standard Lloyd convention).  One assign + one
    update = one full k-means iteration, each half oracle-pinned; the
    pipeline iterates them from a driver loop (one pin per
    round — the clusters.py lesson).

    Shape: the per-dim sums come from a posexplode of the ALREADY
    ASSIGNED vectors (K*dims cells per task after map-side combine —
    the groupBy ships ~K*64 rows per partition however large the
    corpus); seed dims explode from the K-row seed table, LEFT JOIN
    keeps empty clusters.  No new corpus-wide exchange beyond the
    cell groupBy."""
    seeds, assigned = _kmeans_parts(spark, sf_dir)
    av = assigned.select(
        "cid", F.posexplode("qv").alias("dim", "v")
    )
    sums = av.groupBy("cid", "dim").agg(
        F.sum("v").alias("s"), F.count("*").alias("n")
    )
    sdim = seeds.select(
        "cid", F.posexplode("cv").alias("dim", "seed_coord")
    )
    new_coord = F.when(
        F.col("n").isNull(), F.col("seed_coord")
    ).otherwise(F.expr("s DIV n"))
    return (
        sdim.join(sums, ["cid", "dim"], "left")
        .select(
            F.col("cid").cast("long").alias("cluster_id"),
            F.col("dim").cast("long").alias("dim"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias(
                "n_members"
            ),
            F.col("seed_coord").cast("long").alias("seed_coord"),
            new_coord.cast("long").alias("new_coord"),
            ((new_coord - F.col("seed_coord"))
             * (new_coord - F.col("seed_coord")))
            .cast("long")
            .alias("shift_sq"),
        )
    )


_KMEANS_ASSIGN = f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {KMEANS_Q}) AS BIGINT)) AS qv
  FROM embeddings
), sd AS (
  SELECT vec_id, qv, md5(CAST(vec_id AS VARCHAR)) AS h
  FROM e ORDER BY h LIMIT {KMEANS_K}
), seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS BIGINT) AS cid,
         vec_id AS seed_vec_id, qv AS cv
  FROM sd
), scored AS (
  SELECT e.vec_id,
         min(CAST(list_sum(list_transform(range(1, len(e.qv) + 1),
                  i -> (e.qv[i] - s.cv[i]) * (e.qv[i] - s.cv[i])))
                  AS BIGINT) * {KMEANS_K} + s.cid) AS enc
  FROM e CROSS JOIN seeds s GROUP BY e.vec_id
), a AS (
  SELECT vec_id, enc % {KMEANS_K} AS cid, enc // {KMEANS_K} AS dist
  FROM scored
), g AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(dist) AS BIGINT) AS sum_dist
  FROM a GROUP BY cid
)
SELECT s.cid AS cluster_id, s.seed_vec_id,
       CAST(coalesce(g.n_members, 0) AS BIGINT) AS n_members,
       CAST(coalesce(g.sum_dist, 0) AS BIGINT) AS sum_dist,
       CAST(CASE WHEN coalesce(g.n_members, 0) = 0 THEN 0
            ELSE (g.sum_dist // g.n_members) * 1000
                 + ((g.sum_dist % g.n_members) * 1000) // g.n_members
            END AS BIGINT) AS mean_dist_milli
FROM seeds s LEFT JOIN g ON g.cid = s.cid
"""


_KMEANS_UPDATE = f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {KMEANS_Q}) AS BIGINT)) AS qv
  FROM embeddings
), sd AS (
  SELECT vec_id, qv, md5(CAST(vec_id AS VARCHAR)) AS h
  FROM e ORDER BY h LIMIT {KMEANS_K}
), seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS BIGINT) AS cid,
         vec_id AS seed_vec_id, qv AS cv
  FROM sd
), scored AS (
  SELECT e.vec_id,
         min(CAST(list_sum(list_transform(range(1, len(e.qv) + 1),
                  i -> (e.qv[i] - s.cv[i]) * (e.qv[i] - s.cv[i])))
                  AS BIGINT) * {KMEANS_K} + s.cid) AS enc
  FROM e CROSS JOIN seeds s GROUP BY e.vec_id
), a AS (
  SELECT vec_id, enc % {KMEANS_K} AS cid FROM scored
), av AS (
  SELECT a.cid, i - 1 AS dim, e.qv[i] AS v
  FROM a JOIN e ON e.vec_id = a.vec_id
  CROSS JOIN (SELECT unnest(generate_series(1,
       (SELECT max(len(qv)) FROM e))) AS i) g
  WHERE i <= len(e.qv)
), sums AS (
  SELECT cid, dim, sum(v) AS s, count(*) AS n FROM av GROUP BY 1, 2
), sdim AS (
  SELECT s.cid, i - 1 AS dim, s.cv[i] AS seed_coord
  FROM seeds s CROSS JOIN (SELECT unnest(generate_series(1,
       (SELECT max(len(qv)) FROM e))) AS i) g
  WHERE i <= len(s.cv)
)
SELECT sd.cid AS cluster_id, CAST(sd.dim AS BIGINT) AS dim,
       CAST(coalesce(su.n, 0) AS BIGINT) AS n_members,
       CAST(sd.seed_coord AS BIGINT) AS seed_coord,
       CAST(CASE WHEN su.n IS NULL THEN sd.seed_coord
            ELSE su.s // su.n END AS BIGINT) AS new_coord,
       CAST((CASE WHEN su.n IS NULL THEN sd.seed_coord
             ELSE su.s // su.n END - sd.seed_coord)
            * (CASE WHEN su.n IS NULL THEN sd.seed_coord
               ELSE su.s // su.n END - sd.seed_coord) AS BIGINT)
         AS shift_sq
FROM sdim sd LEFT JOIN sums su ON su.cid = sd.cid AND su.dim = sd.dim
"""


def q_knn_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label consistency: per label, how often a
    vector's bucketed 1-NN shares its label (purity permille) — the
    label-noise / embedding-quality audit run before trusting semantic
    dedup or classifier-filter thresholds built on the same space
    (low purity for one label means its region is entangled and a
    cosine threshold there will misfire).

    Scale shape: composes q_ann_nn_bucketed — LSH-bucket-local 1-NN,
    never a corpus cross join — then joins labels twice on 8-byte
    vec ids (AQE broadcasts the dimension-sized label table) and
    collapses to one map-side-combinable census of <= |labels| rows.
    Output is pure integers, so the oracle hash is float-noise-proof
    (the cosine argmax itself is already under q_ann_nn_bucketed's
    oracle)."""
    nn = q_ann_nn_bucketed(spark, sf_dir).select("vec_id", "nn_id")
    lab = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("label"),
    )
    j = nn.join(lab, "vec_id").join(
        lab.select(
            F.col("vec_id").alias("nn_id"),
            F.col("label").alias("nn_label"),
        ),
        "nn_id",
    )
    g = j.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum((F.col("label") == F.col("nn_label")).cast("long"))
        .cast("long")
        .alias("n_pure"),
    )
    return g.select(
        "label",
        "n_vecs",
        "n_pure",
        F.expr("n_pure * 1000 DIV n_vecs")
        .cast("long")
        .alias("purity_permille"),
    )


def _knn_purity_sql() -> str:
    return f"""
WITH nn AS ({_ann_nn_bucketed_sql()}),
lab AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label
  FROM embeddings
)
SELECT a.label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN a.label = b.label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pure,
       CAST(sum(CASE WHEN a.label = b.label THEN 1 ELSE 0 END) * 1000
            // count(*) AS BIGINT) AS purity_permille
FROM nn
JOIN lab a ON a.vec_id = nn.vec_id
JOIN lab b ON b.vec_id = nn.nn_id
GROUP BY a.label
"""
