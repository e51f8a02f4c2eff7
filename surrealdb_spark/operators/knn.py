"""KNN: the one pair scorer and top-k rule behind every vector search.

Reference: KnnScan over an HNSW index (core/src/exec/operators/scan/knn.rs:37)
and brute-force KnnTopK (core/src/exec/operators/knn_topk.rs:81); distance
kinds from core/src/fnc/vector.rs.  The HNSW *structure* is not ported —
on Spark the scale path is a candidate join that prunes pairs before
scoring; `ef` is accepted-but-advisory.

Every k-nearest search is a candidate join followed by ``top_k``:
  * ``knn_join`` — brute force: the broadcast query set cross-joined with
    the corpus (corpus rows never shuffle for the join);
  * ``pipeline.ivf.IvfIndex.search`` — the nprobe nearest cells' members;
  * ``pipeline.similarity.srp_lsh_topk`` — SRP-LSH band matches.
Each side of the join is projected by ``side`` to ``(q_id|c_id,
__qv|__cv, __qm|__cm)``; ``__qm``/``__cm`` is the vector's magnitude,
hoisted into ``MAG`` once per row by ``with_magnitude`` before any explode
or join (the IVF and SRP index artifacts store it).  ``top_k`` then scores
each pair with ``pair_distance`` and keeps each query's k nearest by one
``(dist, c_id)`` row_number window.  Spark's WindowGroupLimit rewrite
(rank-limit pushdown) inserts a PARTIAL group-limit before the exchange,
so each map partition forwards at most k rows per query.

The other scorer in the package is ``pipeline.similarity.cosine_pairs``,
an Arrow kernel for all-pairs cosine thresholds (not a top-k); it replays
the same fold bit for bit.

Ordering is deterministic: (distance, neighbor id) — distances are
bit-stable (sequential double folds, functions/vector.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from surrealdb_spark.functions import vector as V

MAG = "__mag"


def with_magnitude(df: DataFrame, vec_col: str) -> DataFrame:
    """``df`` plus ``MAG`` = |vec|, computed once per row.

    The cosine pair term is 1.0 − dot/(|q|·|c|): with both magnitudes
    hoisted, a pair evaluates ONE aggregate(zip_with(...)) fold instead of
    V.cosine_distance's three (dot plus both self-dots), and every rounding
    point stays the same (same fold, same sqrt, same multiply/divide/
    subtract order), so ``dist`` is bit-identical.  knn_cosine sf1 warm
    1.8 → 0.7 s.  Metrics other than cosine never read it, and the
    optimizer prunes it from their plans."""
    return df.withColumn(MAG, V.magnitude(vec_col))


def side(df: DataFrame, role: str, id_col: str, vec_col: str,
         *keep: str | Column) -> DataFrame:
    """One side of the pair scorer: ``(<role>_id, __<role>v, __<role>m,
    *keep)`` for role ``q`` or ``c``; ``df`` must carry ``MAG``."""
    return df.select(
        F.col(id_col).alias(f"{role}_id"), F.col(vec_col).alias(f"__{role}v"),
        F.col(MAG).alias(f"__{role}m"), *keep,
    )


def pair_distance(metric: str) -> Column:
    """Distance of a candidate pair ``(__qv, __cv)``: V.METRICS, with
    cosine written over the hoisted magnitudes ``__qm``/``__cm``."""
    if metric == "cosine":
        return F.lit(1.0) - V.dot("__qv", "__cv") / (
            F.col("__qm") * F.col("__cm")
        )
    return V.METRICS[metric]("__qv", "__cv")


def top_k(pairs: DataFrame, k: int, metric: str = "cosine",
          exclude_self: bool = False) -> DataFrame:
    """Each query's k nearest candidates → (q_id, c_id, dist, rank)."""
    if exclude_self:
        pairs = pairs.filter(F.col("q_id") != F.col("c_id"))
    scored = pairs.select("q_id", "c_id", pair_distance(metric).alias("dist"))
    top = W.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("c_id").asc())
    # Relies on Spark >= 3.5's WindowGroupLimit rank-limit pushdown (the
    # rank <= k filter becomes a partial per-map-partition top-k BEFORE the
    # exchange — plans/r12/knn_cosine_after.txt).  On an older Spark, or
    # with spark.sql.optimizer.windowGroupLimitThreshold set to -1, every
    # scored candidate would shuffle into per-query partitions.
    return (
        scored.withColumn("rank", F.row_number().over(top))
        .filter(F.col("rank") <= k)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    metric: str = "cosine",
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "c_id",
    c_vec: str = "c_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """For each query row, the k nearest corpus rows → (q_id, c_id, dist, rank)."""
    q = F.broadcast(side(with_magnitude(queries, q_vec), "q", q_id, q_vec))
    c = side(with_magnitude(corpus, c_vec), "c", c_id, c_vec)
    return top_k(c.crossJoin(q), k, metric, exclude_self)
