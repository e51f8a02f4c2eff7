"""Similarity search over embedding columns.

Two operations (SURVEY.md §7 step 10):
  * ``cosine_pairs`` — every pair above a cosine threshold: an O(N²)
    verify primitive, scored by its own Arrow kernel (an all-pairs
    threshold, not a top-k), which replays the SQL fold bit for bit.
  * ``srp_lsh_topk`` — approximate top-k: sign-random-projection
    (SimHash-for-cosine) signatures and banded bucketing generate the
    candidate pairs; the one pair scorer, ``operators.knn.top_k``, scores
    and ranks them exactly.  At 100 TB the bucket join replaces the full
    cross product: shuffle is |rows|·bands keyed by (band, bits), and each
    bucket is tiny.  Exact brute force is ``operators.knn.knn_join``.

Plane matrix is derived from md5 — deterministic across runs/engines, no
RNG state.  The reference's HNSW (core/src/idx/trees/hnsw/) is an in-memory
graph index that doesn't map to Spark's execution model; banded LSH is the
idiomatic distributed equivalent (same role: prune before exact scoring).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd  # noqa: F401 — pandas_udf string type hints resolve lazily
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from surrealdb_spark.operators.knn import side, top_k, with_magnitude


def cosine_pairs(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float,
    allow_quadratic: bool = False
) -> DataFrame:
    """All embedding pairs with cosine similarity > threshold.

    O(N²) VERIFY PRIMITIVE — refuses to run unless ``allow_quadratic=True``:
    a full self-join over embeddings cannot survive a large corpus.  The
    scale path is ``srp_lsh_topk`` (banded SRP-LSH candidates, exact
    re-score on candidates only)."""
    if not allow_quadratic:
        raise ValueError(
            "cosine_pairs is an O(N²) all-pairs primitive; pass "
            "allow_quadratic=True for small verify scopes, or use "
            "srp_lsh_topk for the scale path"
        )
    id_type = emb.schema[id_col].dataType
    if not isinstance(id_type, (T.StringType, T.IntegralType)):
        # the kernel orders each pair (id1 < id2) by numpy comparison,
        # which matches Spark's order only for strings and integers
        raise TypeError(
            f"cosine_pairs needs a string or integral id column, "
            f"got {id_type.simpleString()} for {id_col!r}"
        )
    # r13: ONE Arrow pass instead of a broadcast nested-loop join of
    # element-at-a-time folds (guide §4.4 — vectorize heavy numeric work
    # in Arrow batches).  The corpus is collected once and broadcast as a
    # matrix — the same rows the old BroadcastNestedLoopJoin already
    # materialized on the driver and shipped to every task, bounded by the
    # allow_quadratic contract.  Every pair's arithmetic replays the SQL
    # fold EXACTLY: dot and |a|² accumulate dimension-by-dimension in
    # float64 (one rounded multiply + one rounded add per step, the same
    # left-to-right order as F.aggregate's fold from 0.0), then
    # sim = dot/(|a|·|b|) with the same rounding points — so sims are
    # bit-identical to the old expression (full-output-diff verified).
    # sf1 (20k × 20k × 64 dims): ~94 s → ~4 s.
    # The fold's sim is NULL for a null vector or a pair of different
    # lengths (zip_with pads with nulls), so no row: null vectors are
    # dropped and each length only meets its own length.
    def by_length(ids, vecs) -> dict:
        """{length: (ids, matrix, norms)}, norms folded like the SQL fold."""
        rows: dict[int, list[int]] = {}
        for r, v in enumerate(vecs):
            rows.setdefault(len(v), []).append(r)
        out = {}
        for dim, sel in rows.items():
            mat = np.asarray([vecs[r] for r in sel], dtype=np.float64)
            mat = mat.reshape(len(sel), dim)
            nrm = np.zeros(len(sel))
            for d in range(dim):
                nrm += mat[:, d] * mat[:, d]
            out[dim] = (np.asarray(ids)[sel], mat, np.sqrt(nrm))
        return out

    emb = emb.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    rows = emb.collect()
    bc = emb.sparkSession.sparkContext.broadcast(
        by_length([r[0] for r in rows], [r[1] for r in rows]))

    def score(batches):
        row_tile, col_tile = 512, 2048
        for b in batches:
            out1, out2, outs = [], [], []
            for dim, (aid_full, a_full, na_full) in by_length(
                    b[id_col].to_numpy(), list(b[vec_col])).items():
                if dim not in bc.value:
                    continue
                ids2, m2, n2 = bc.value[dim]
                for r0 in range(0, len(a_full), row_tile):
                    a = a_full[r0:r0 + row_tile]
                    aid = aid_full[r0:r0 + row_tile]
                    na = na_full[r0:r0 + row_tile]
                    for c0 in range(0, len(ids2), col_tile):
                        mb = m2[c0:c0 + col_tile]
                        acc = np.zeros((len(a), len(mb)))
                        for d in range(dim):
                            acc += a[:, d, None] * mb[None, :, d]
                        with np.errstate(divide="ignore", invalid="ignore"):
                            sim = acc / (na[:, None] * n2[c0:c0 + col_tile][None, :])
                        mask = (sim > threshold) & (
                            aid[:, None] < ids2[c0:c0 + col_tile][None, :]
                        )
                        i, j = np.nonzero(mask)
                        if len(i):
                            out1.append(aid[i])
                            out2.append(ids2[c0 + j])
                            outs.append(sim[i, j])
            if out1:
                yield pd.DataFrame(
                    {
                        "id1": np.concatenate(out1),
                        "id2": np.concatenate(out2),
                        "sim": np.concatenate(outs),
                    }
                )

    id_t = id_type.simpleString()
    return emb.mapInPandas(score, f"id1 {id_t}, id2 {id_t}, sim double")


def srp_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: sign of md5("p:d")'s top hex bit."""
    return [
        [
            1.0 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) >= 8 else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def srp_geometry(corpus_size: int, bands: int = 4,
                 target_bucket: int = 16) -> tuple[int, int]:
    """Band geometry from corpus size → (n_planes, bands).

    bits-per-band = max(4, ceil(log2(N / target_bucket))) keeps the expected
    bucket population ≈ ``target_bucket`` as N grows — a fixed 4-bit band
    (16 buckets) degenerates to N/16 collisions at scale (round-2/3 audit).
    At N = 1e10 (100 TB-class) this yields ~30-bit bands.  ``bands`` trades
    recall for candidate volume (recall ≈ 1-(1-p₁^bits)^bands, p₁ = bit
    agreement of a true neighbor); near-dup workloads (p₁ ≥ 0.9) hold
    recall with few bands even at 30 bits.
    """
    import math

    rows = max(4, math.ceil(math.log2(max(corpus_size / target_bucket, 2.0))))
    return bands * rows, bands


def srp_signature(vec_col: str, planes: list[list[float]]) -> F.Column:
    """Bit-string signature: one sign bit per hyperplane.

    Plan-size + runtime engineering (round-1 → round-2 audits): per-plane
    fold expressions made Catalyst analysis dominate (~8 s fixed); a
    string-literal re-encoding cut that but left an interpreted HOF fold
    per plane per row.  Final form: ONE Arrow-batched pandas UDF doing a
    vectorized  batch×dim @ dim×planes  matmul — the textbook "UDFs are
    the slow path EXCEPT against interpreted HOFs" case.  Measured at
    sf0.1: 3.1 s → 0.7 s warm, 17.6 s → 2.9 s cold, bit-identical signs.
    The plane matrix rides into the closure (broadcast once per stage);
    the plan carries zero plane literals.
    """
    P = np.asarray(planes, dtype=np.float64).T  # dim × n_planes

    @F.pandas_udf(T.StringType())
    def _sign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        M = np.vstack(v.to_numpy())            # batch × dim
        S = (M @ P) >= 0.0                     # batch × n_planes
        return pd.Series(
            ["".join("1" if b else "0" for b in row) for row in S],
            dtype="object",
        )

    return _sign(F.col(vec_col))


def srp_sign(corpus: DataFrame, planes: list[list[float]],
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Index-build step: (vec_id, embedding, __sig, knn.MAG), MATERIALIZED.

    Signing is the expensive pass (one fold per plane per row + a large
    literal in the plan); at 100 TB this is a written column — here an
    eager localCheckpoint so one signing feeds both join sides and repeated
    searches (mirrors FulltextIndex's build-once contract).  The stored
    magnitude lets every search score a candidate pair with one fold."""
    sig = srp_signature(vec_col, planes)
    spark = corpus.sparkSession
    # Signing is CPU-bound (interpreted fold per plane); a narrow parquet
    # scan often yields far fewer partitions than cores — spread it.
    par = spark.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < par:
        corpus = corpus.repartition(par)
    return with_magnitude(corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"),
        sig.alias("__sig"),
    ), "embedding").localCheckpoint(eager=True)


def _banded(df: DataFrame, sig: str, bands: int, rows: int) -> DataFrame:
    """``df`` with one row per band: (band, bits = the band's signature
    slice).  One selectExpr (a single py4j/parse round trip — query-build
    time was dominated by per-Column API chatter, r12)."""
    structs = ", ".join(
        f"struct({b} AS band, substring({sig}, {b * rows + 1}, {rows}) AS bits)"
        for b in range(bands)
    )
    return df.selectExpr("*", f"inline(array({structs}))")


def srp_lsh_topk(
    queries: DataFrame | None,
    corpus: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 16,
    bands: int = 4,
    exclude_self: bool = False,
    query_pred: F.Column | None = None,
    signed: DataFrame | None = None,
    broadcast_queries: bool = False,
) -> DataFrame:
    """Approximate cosine top-k: banded SRP-LSH candidates, scored and
    ranked exactly by ``operators.knn.top_k``.

    A pair is a candidate if ANY band (n_planes//bands consecutive signature
    bits) matches — the classic banding trade-off: more bands = higher
    recall, bigger buckets.  Returns (q_id, c_id, dist, rank); may return
    fewer than k per query (approximate).

    Cost shape (round-1 audit fixes): the corpus is signed ONCE and
    materialized (pass ``signed`` to amortize across calls); when queries
    are a subset of the corpus pass ``query_pred`` instead of ``queries``
    so the query side reuses the same signed frame; and pair dedup is a
    FILTER, not a shuffle — both sides carry their full signature, so a
    pair that matches in several bands is kept only at its first matching
    band (``band == array_position(matches, 1) - 1``).  Both sides carry
    the magnitude stored by ``srp_sign``, so the cosine re-score is one
    fold per pair.  Shuffles: the
    bucket join plus one (q_id)-partitioned window — nothing in between,
    and only (q_id, c_id, dist) crosses the window exchange.
    """
    planes = srp_planes(n_planes, dim)
    rows = n_planes // bands
    if signed is None:
        signed = srp_sign(corpus, planes)
    if query_pred is not None:
        q_signed = signed.filter(query_pred)
    else:
        assert queries is not None, "pass queries or query_pred"
        q_signed = srp_sign(queries, planes)
    q = _banded(side(q_signed, "q", "vec_id", "embedding",
                     F.col("__sig").alias("__qsig")), "__qsig", bands, rows)
    c = _banded(side(signed, "c", "vec_id", "embedding",
                     F.col("__sig").alias("__csig")), "__csig", bands, rows)
    if broadcast_queries:
        # point-lookup shape (few queries vs a huge corpus): ship the query
        # bands to every executor instead of shuffling the corpus
        q = F.broadcast(q)
    band_match = ", ".join(
        f"CAST(substring(__qsig, {b * rows + 1}, {rows}) = "
        f"substring(__csig, {b * rows + 1}, {rows}) AS INT)"
        for b in range(bands)
    )
    cand = q.join(c, ["band", "bits"]).filter(
        F.expr(f"band = array_position(array({band_match}), 1) - 1")
    )
    return top_k(cand, k, "cosine", exclude_self)
