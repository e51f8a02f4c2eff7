"""IVF (inverted-file) approximate nearest neighbour: coarse k-means
quantizer + probe-limited exact re-score.

The third ANN tier next to brute-force (operators/knn.py) and banded
SRP-LSH (pipeline/similarity.py).  The reference's HNSW
(core/src/idx/trees/hnsw/) is a sequential in-memory graph; IVF is the
other classic distributed-friendly shape: partition the corpus by nearest
centroid (an index-build artifact), then search only ``nprobe`` cells.
This module only generates candidates: pairs are scored and ranked by the
one pair scorer, ``operators.knn.top_k``.

100 TB cost shape:
  * build — ``iters`` passes, each ONE narrow mapInPandas job that assigns
    cells (batch×dim @ dim×k matmul) and sums them per task; then one
    assignment pass materializes ``assigned`` (id, vec, magnitude, cell).
    Centroid count k is driver-sized (k·dim doubles broadcast per stage).
  * search — queries pick nprobe cells from the broadcast centroid matrix,
    then ONE join keyed on cell id against the cell-partitioned corpus:
    shuffle ∝ |queries|·nprobe + touched cells, never the full corpus.
  * recall/latency dial: nprobe/k (the standard IVF trade-off).

Determinism: centroids init from md5-ordered row sample, Lloyd updates are
mean-of-cell (decimal-free but order-stable enough for tests); every
nearest-cell choice (assignment and probes) ranks exact doubles in one
helper, ``_nearest_cells``, ties broken by lowest cell id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — pandas_udf string type hints resolve lazily
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from surrealdb_spark.operators.knn import side, top_k, with_magnitude


def _nearest_cells(centroids: np.ndarray):
    """→ ``nearest(M, n)``: the n nearest cells to each row of M
    (batch × dim), nearest first, ties to the lowest cell id.
    ‖v−c‖² = ‖v‖² − 2·v·c + ‖c‖², and ‖v‖² is constant per row, so rank
    ‖c‖² − 2·v·c as one batch matmul.  A closure, so the kernels that call
    it pickle by value and workers need not import this package."""
    C = centroids.astype(np.float64)            # k × dim
    Cn = (C * C).sum(axis=1)                    # ‖c‖² per cell

    def nearest(M: np.ndarray, n: int) -> np.ndarray:
        d = Cn[None, :] - 2.0 * (M @ C.T)       # batch × k
        return np.argsort(d, axis=1, kind="stable")[:, :n]

    return nearest


def _cells_udf(centroids: np.ndarray, n: int):
    """array<int> of the n nearest cells per vector; the closure captures
    the k×dim centroid matrix (broadcast once per stage)."""
    nearest = _nearest_cells(centroids)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        idx = nearest(np.vstack(v.to_numpy()), n)
        return pd.Series([row.astype("int32").tolist() for row in idx],
                         dtype="object")

    return cells


class IvfIndex:
    """Index artifact: centroid matrix + cell-assigned corpus (materialized)."""

    def __init__(self, assigned: DataFrame, centroids: np.ndarray,
                 id_col: str, vec_col: str):
        self.assigned = assigned        # (id, vec, MAG, __cell)
        self.centroids = centroids      # k × dim
        self.id_col = id_col
        self.vec_col = vec_col

    def search(self, queries: DataFrame | None, k: int, nprobe: int = 3,
               metric: str = "cosine", query_pred=None,
               exclude_self: bool = False) -> DataFrame:
        """Top-k per query over the nprobe nearest cells →
        (q_id, c_id, dist, rank)."""
        nprobe = min(nprobe, self.centroids.shape[0])
        if query_pred is not None:
            q = self.assigned.filter(query_pred)
        else:
            assert queries is not None, "pass queries or query_pred"
            q = with_magnitude(queries, self.vec_col)
        q = side(q, "q", self.id_col, self.vec_col).withColumn(
            "__cell", F.explode(_cells_udf(self.centroids, nprobe)("__qv")))
        corp = side(self.assigned, "c", self.id_col, self.vec_col, "__cell")
        # few queries × nprobe cells vs the big cell-partitioned corpus:
        # broadcast the query side, join keyed on cell id only
        return top_k(F.broadcast(q).join(corp, "__cell"), k, metric,
                     exclude_self)


def ivf_build(corpus: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", n_cells: int = 16,
              iters: int = 3) -> IvfIndex:
    """Lloyd's k-means, fully distributed, deterministic seeding.

    Init: the n_cells rows with the smallest md5(id) (a deterministic
    pseudo-random sample — one small sort-limit job).  Each iteration is
    ONE narrow job: a mapInPandas pass that assigns cells (batch matmul)
    and accumulates per-cell partial sums in the same sweep, emitting
    k rows of (cell, sum-vector, count) per task — k·n_tasks tiny rows to
    the driver, no shuffle, regardless of corpus size.
    """
    seed_rows = (
        corpus.select(F.col(vec_col).alias("v"),
                      F.md5(F.col(id_col).cast("string")).alias("__h"))
        .orderBy("__h").limit(n_cells).collect()
    )
    centroids = np.array([list(r["v"]) for r in seed_rows], dtype=np.float64)

    base = corpus.select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col))
    n_cells_eff = centroids.shape[0]
    for _ in range(iters):
        # One NARROW job per Lloyd iteration (r13, guide §2.3/§2.4): the
        # assignment matmul and the per-cell partial sums both happen inside
        # one mapInPandas pass, emitting k rows of (cell, sum-vector, count)
        # per task.  The r12 shape posexploded every vector into dim rows
        # and shuffled N·dim rows into a (cell, dim) aggregation — a full
        # Exchange per iteration whose only consumer was a k·dim collect.
        # Partial sums accumulate in row order within each partition (the
        # same order Spark's partial aggregation consumed them) and combine
        # on the driver in partition order — deterministic.
        def partials(batches, _near=_nearest_cells(centroids),
                     _shape=centroids.shape, _vc=vec_col):
            import pandas as pd

            S = np.zeros(_shape)
            n = np.zeros(_shape[0], dtype=np.int64)
            for b in batches:
                if not len(b):
                    continue
                M = np.vstack(b[_vc].to_numpy()).astype(np.float64)
                cell = _near(M, 1)[:, 0]
                np.add.at(S, cell, M)
                np.add.at(n, cell, 1)
            yield pd.DataFrame(
                {"cell": np.arange(_shape[0], dtype="int32"),
                 "s": list(S), "n": n}
            )

        parts = (
            base.select(vec_col)
            .mapInPandas(partials, "cell int, s array<double>, n bigint")
            .collect()
        )
        fresh = centroids.copy()
        acc = np.zeros_like(centroids)
        cnt = np.zeros(n_cells_eff, dtype=np.int64)
        for r in parts:
            acc[r["cell"]] += np.asarray(r["s"])
            cnt[r["cell"]] += r["n"]
        for cell in range(n_cells_eff):
            if cnt[cell]:
                fresh[cell] = acc[cell] / cnt[cell]
        centroids = fresh

    assigned = with_magnitude(base, vec_col).withColumn(
        "__cell", _cells_udf(centroids, 1)(vec_col)[0]
    ).localCheckpoint(eager=True)
    return IvfIndex(assigned, centroids, id_col, vec_col)
