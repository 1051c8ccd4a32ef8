"""Similarity search over an embedding column (array<float>).

The reference's analogue is brute-force pairwise similarity ranking over
weighted doc vectors (ivory/lsh/eval/BruteForcePwsim.java:1-378) and
random-projection LSH signatures (ivory/lsh/projection/
ComputeSignaturesRandom.java). Here:

- brute_force_topk — exact cosine top-k per query vector: cross join of a
  (small, broadcast) query set against the corpus, JVM-side dot product
  (zip_with + aggregate, no Python), window top-k. The correctness
  baseline.
- lsh_bucketed_topk — the scale path: sign-random-projection buckets
  (deterministic md5-derived hyperplanes) so each query only joins its
  own bucket (+ optional multiprobe); recall<1.0 by design, verified
  against the brute-force baseline in tests.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F


def cosine_expr(va: Column, vb: Column) -> Column:
    """JVM-side cosine similarity between two array<numeric> columns."""
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(va, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(vb, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    return dot / (na * nb)


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Exact cosine top-k: (qid, rank, vec_id, cosine). Excludes self-match
    when qid == vec_id. Tie-break: cosine desc, vec_id asc."""
    from ivory_spark.functions.gmap import spread_partitions

    j = queries.crossJoin(spread_partitions(emb)).filter(F.col(qid_col) != F.col(id_col))
    j = j.withColumn("cosine", F.round(cosine_expr(F.col(qvec_col), F.col(vec_col)), 6))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, "cosine")
    )


def rademacher_planes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    """±1 (Rademacher) SRP hyperplanes derived from md5, so an
    independent SQL engine can rebuild the identical planes and bucket
    assignment for the correctness gate (same portability rationale as
    dedup.portable_hash). Rademacher projections preserve the SRP
    collision-probability guarantee (1 - angle/pi)."""
    import hashlib

    out = np.empty((n_planes, dim), dtype=np.float64)
    for b in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"plane:{seed}:{b}:{d}".encode()).hexdigest()
            out[b, d] = 1.0 if (int(h[0], 16) & 1) else -1.0
    return out


def srp_bucket_expr(vec: Column, planes: np.ndarray) -> Column:
    """Sign-random-projection bucket id: bit b = sign(vec · plane_b).
    The dot product is an ordered left fold over dimensions (F.aggregate)
    so DuckDB's list_reduce reproduces the same rounding, hence the same
    sign at the bucket boundary."""
    bits = []
    for bidx, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec, arr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot > 0, F.lit(2**bidx)).otherwise(F.lit(0)))
    return sum(bits[1:], bits[0]).cast("int")


def probe_buckets_expr(vec: Column, planes: np.ndarray, multiprobe: int = 1) -> Column:
    """Array of bucket ids to probe: the vector's own bucket plus every
    bucket within Hamming distance `multiprobe` of it (bit flips of the
    SRP signature). Multiprobe trades one extra candidate join fan-out
    for recall — the standard LSH recall lever that avoids building more
    tables."""
    from itertools import combinations

    base = srp_bucket_expr(vec, planes)
    n_planes = len(planes)
    masks = [0]
    for h in range(1, multiprobe + 1):
        for bits in combinations(range(n_planes), h):
            masks.append(sum(1 << b for b in bits))
    return F.array(*[base.bitwiseXOR(F.lit(m)) for m in masks])


def lsh_bucketed_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: candidates share an SRP bucket with the
    query (query side multiprobes its Hamming-<=multiprobe neighbor
    buckets for recall). At 100 TB the bucket equi-join replaces the
    cross product; recall is tuned via n_planes and multiprobe."""
    from ivory_spark.functions.gmap import spread_partitions

    planes = rademacher_planes(dim, n_planes)
    e = spread_partitions(emb).withColumn("bucket", srp_bucket_expr(F.col(vec_col), planes))
    q = queries.withColumn(
        "bucket", F.explode(probe_buckets_expr(F.col(qvec_col), planes, multiprobe))
    )
    j = q.join(e, "bucket").filter(F.col(qid_col) != F.col(id_col))
    j = j.dropDuplicates([qid_col, id_col])
    j = j.withColumn("cosine", F.round(cosine_expr(F.col(qvec_col), F.col(vec_col)), 6))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, "cosine")
    )


def query_vectors(spark: SparkSession, emb: DataFrame, n: int = 10) -> DataFrame:
    """First n vectors (by id) reused as the query set — deterministic."""
    return (
        emb.orderBy("vec_id")
        .limit(n)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )
