"""Similarity search over embedding columns (array<float>).

Two top-k strategies:
- **brute-force cosine top-k** — the correctness baseline: broadcast the
  (small) query set, JVM-side dot product via `zip_with` + `aggregate`,
  per-query top-k via a row_number window with a total order (score desc,
  id asc) so results are deterministic at any parallelism.
- **IVF** — the scale path: vectors are assigned to their max-cosine
  centroid and a query exact-verifies only its nprobe nearest lists.

Embedding near-duplicates (`embedding_dup_pairs`) block on a 16-bucket
sign-random-projection key from fixed dims, then verify exact cosine. The
self-join is quadratic within a bucket (~N^2/16 pairs at N vectors), so it
is a fixture-scale operator, not a 10^9-vector one.

No Python in the hot path: `zip_with`/`aggregate` are whole-stage-codegen
expressions. A vectorized pandas-UDF + numpy path would win for very wide
vectors (>4k dims); at 64-1024 dims the JVM expression wins by avoiding
Arrow transfer entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import _e6

# Vectors are (vec_id, embedding) rows; queries are (query_id, query_vec).
SRP_DIMS = (0, 1, 2, 3)  # embedding dims whose signs key the 16 SRP buckets
IVF_K = 5  # neighbours kept per query by ivf_topk


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _top_per_query(scored: DataFrame, k: int) -> DataFrame:
    """The k best (query_id, vec_id, cosine_sim_e6) rows per query, ranked
    under the total order (score desc, vec_id asc)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim_e6"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def _query_scores(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        "query_id",
        "vec_id",
        _e6(cosine(F.col("embedding"), F.col("query_vec"))).alias("cosine_sim_e6"),
    )


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    queries is broadcast (assumed small); vectors scanned once."""
    joined = vectors.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("query_id")
    )
    return _top_per_query(_query_scores(joined), k)


def srp_bucket():
    """Sign-random-projection bucket id from fixed dims (deterministic,
    engine-portable): bit i = sign(embedding[SRP_DIMS[i]])."""
    expr = F.lit(0)
    for i, d in enumerate(SRP_DIMS):
        expr = expr + F.when(
            F.element_at(F.col("embedding"), d + 1).cast("double") > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return expr.cast("int")


def embedding_dup_pairs(vectors: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucket-blocked self-join."""
    v = vectors.withColumn("bucket", srp_bucket())
    a = v.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"), "bucket")
    b = v.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .where(F.col("a") < F.col("b"))
        .select(
            "a", "b", _e6(cosine(F.col("va"), F.col("vb"))).alias("cosine_sim_e6")
        )
        .where(F.col("cosine_sim_e6") >= int(threshold * 1000000))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the partitioned-index scale path.
#
# Coarse quantization: K centroid vectors partition the corpus into K
# inverted lists (each vector assigned to its max-cosine centroid); a query
# probes only its nprobe nearest lists and exact-verifies inside them, so
# the scanned fraction is ~nprobe/K of the corpus instead of all of it. At
# 10^9 vectors with K=sqrt(N) the centroid set is still broadcast-sized,
# assignment is a map-only broadcast argmax, and centroid_id is the natural
# partition/bucket key for a materialized index table.
#
# Determinism: the caller passes the centroids (ann_ivf_topk seeds them
# with the 8 lowest-id vectors, which SQL can replicate), and assignment
# uses fixed-point e6 scores with a (score desc, centroid_id asc) total
# order, so the lists are the same at any parallelism. nprobe = K
# degenerates to exact brute force (test-pinned).
# ---------------------------------------------------------------------------


def ivf_assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, centroid_id): each vector to its max-cosine centroid.

    Map-only: centroids are broadcast; the argmax is a row_number window
    keyed by the vector id (perfectly spread — no skew possible). Fixed-
    point e6 scores + (score desc, centroid_id asc) total order make the
    assignment engine-portable and tie-free."""
    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "centroid_id",
        _e6(cosine(F.col("embedding"), F.col("centroid_vec"))).alias("c_sim_e6"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_sim_e6"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "centroid_id")
    )


def ivf_topk(vectors: DataFrame, queries: DataFrame, centroids: DataFrame,
             nprobe: int = 2) -> DataFrame:
    """IVF ANN top-IVF_K: probe the query's nprobe nearest inverted lists
    and exact-cosine verify inside them. Candidates per query ~ nprobe/K of
    the corpus; nprobe = n_centroids is exactly brute force."""
    assign = ivf_assign(vectors, centroids)
    q_scored = queries.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "centroid_id",
        _e6(cosine(F.col("query_vec"), F.col("centroid_vec"))).alias("c_sim_e6"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("c_sim_e6"), F.asc("centroid_id"))
    probes = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "centroid_id")
    )
    cand = (
        F.broadcast(probes)
        .join(assign, "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    scored = _query_scores(
        cand.join(vectors.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(queries), "query_id")
    )
    return _top_per_query(scored, IVF_K)

