"""Vector/KNN behavior tests beyond oracle parity: LSH recall quality."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from surrealdb_spark.catalog import Catalog
from surrealdb_spark.operators.knn import knn_join
from surrealdb_spark.pipeline.similarity import srp_lsh_topk


def _exact(q, emb, k):
    """Brute-force cosine top-k over the embeddings, self excluded."""
    return knn_join(q, emb, k, "cosine", "vec_id", "embedding", "vec_id",
                    "embedding", exclude_self=True)


def test_srp_lsh_recall(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    q = emb.filter(F.col("vec_id") % 50 == 0)
    exact = _exact(q, emb, 10)
    approx = srp_lsh_topk(q, emb, 10, dim=64, n_planes=16, bands=4, exclude_self=True)
    exact_pairs = {(r.q_id, r.c_id) for r in exact.collect()}
    approx_pairs = {(r.q_id, r.c_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # Random synthetic embeddings: banding recall is modest by design;
    # assert it's meaningfully above chance (candidate rate ~ a few %).
    assert recall >= 0.2, f"LSH recall {recall:.2f} below floor"


def test_lsh_is_subset_of_scored_universe(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    q = emb.filter(F.col("vec_id") == 0)
    out = srp_lsh_topk(q, emb, 5, dim=64, exclude_self=True).collect()
    assert all(r.q_id == 0 and r.c_id != 0 for r in out)
    dists = [r.dist for r in out]
    assert dists == sorted(dists)


def test_ivf_recall_and_shape(spark, sf_dir):
    from surrealdb_spark.pipeline.ivf import ivf_build

    emb = Catalog(spark, sf_dir).embeddings
    idx = ivf_build(emb, n_cells=8, iters=2)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    exact = _exact(q, emb, 10)
    approx = idx.search(None, k=10, nprobe=3,
                        query_pred=F.col("vec_id") % 50 == 0,
                        exclude_self=True)
    exact_pairs = {(r.q_id, r.c_id) for r in exact.collect()}
    rows = approx.collect()
    approx_pairs = {(r.q_id, r.c_id) for r in rows}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # nprobe=3 of 8 cells scans ~3/8 of the corpus; near-random synthetic
    # embeddings make cells weakly separated — assert clearly above the
    # floor and well-formed output.
    assert recall >= 0.3, f"IVF recall {recall:.2f} below floor"
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
    for q_id, rs in per_q.items():
        dists = [r.dist for r in sorted(rs, key=lambda r: r.rank)]
        assert dists == sorted(dists) and len(rs) <= 10


def test_ivf_nprobe_full_equals_exact(spark, sf_dir):
    from surrealdb_spark.pipeline.ivf import ivf_build

    emb = Catalog(spark, sf_dir).embeddings
    idx = ivf_build(emb, n_cells=4, iters=1)
    exact = _exact(emb.filter(F.col("vec_id") == 0), emb, 5)
    # probing every cell degenerates to brute force → identical top-k,
    # scored by the same pair scorer → identical dist bits
    full = idx.search(None, k=5, nprobe=4,
                      query_pred=F.col("vec_id") == 0, exclude_self=True)

    def bits(df):
        return [(r.q_id, r.c_id, struct.pack("<d", r.dist), r.rank)
                for r in df.orderBy("q_id", "rank").collect()]

    assert bits(exact) == bits(full) and len(bits(full)) == 5


def test_srp_dist_bitwise_matches_knn_join(spark, sf_dir):
    """SRP-LSH re-scores its candidates with the knn pair scorer: every
    returned pair's dist is bit-identical to knn_join's over that pair."""
    emb = Catalog(spark, sf_dir).embeddings
    q = emb.filter(F.col("vec_id") % 50 == 0)
    got = srp_lsh_topk(q, emb, 10, dim=64, n_planes=16, bands=4,
                       exclude_self=True).collect()
    # k = corpus size: knn_join scores every (query, corpus) pair
    ref = {(r.q_id, r.c_id): struct.pack("<d", r.dist)
           for r in _exact(q, emb, emb.count()).collect()}
    assert got and all(
        struct.pack("<d", r.dist) == ref[(r.q_id, r.c_id)] for r in got)


def test_srp_geometry_rule():
    """Band bits scale with corpus size (the round-2/3 gap: fixed 4-bit
    bands collapse to N/16 buckets at 100 TB)."""
    from surrealdb_spark.pipeline.similarity import srp_geometry

    n16, b = srp_geometry(500)        # test-scale corpus
    assert (n16, b) == (4 * 5, 4)     # ceil(log2(500/16)) = 5 bits
    n_big, _ = srp_geometry(10_000_000_000)   # 100 TB-class corpus
    assert n_big // 4 >= 29           # ~30-bit bands → bounded buckets
    assert srp_geometry(10)[0] == 16  # floor: never below 4 bits


def test_srp_bucket_sizes_bounded(spark, sf_dir):
    """With size-derived geometry the (band, bits) buckets stay near the
    target population — no degenerate N/16 collision groups."""
    from surrealdb_spark.pipeline.similarity import (
        srp_geometry,
        srp_planes,
        srp_sign,
        _banded,
    )

    emb = Catalog(spark, sf_dir).embeddings
    n = emb.count()
    n_planes, bands = srp_geometry(n)
    rows = n_planes // bands
    signed = srp_sign(emb, srp_planes(n_planes, 64))
    buckets = (
        _banded(signed, "__sig", bands, rows)
        .groupBy("band", "bits").count().collect()
    )
    biggest = max(r["count"] for r in buckets)
    # expected ≈ 16 per bucket; allow generous skew for random signatures
    assert biggest <= max(8 * 16, n // 4), f"degenerate bucket: {biggest}"


def test_cosine_pairs_bitwise_matches_sql_fold(spark, sf_dir):
    """The r13 Arrow-batched cosine_pairs must be BIT-identical to the SQL
    left-fold expression it replaced (same rounded multiply/add sequence,
    same division points) — pair set AND sim doubles.  A null vector and a
    pair of short vectors ride along: the fold's sim is NULL for a null
    vector or a pair of different lengths, so neither yields a row, and
    the two short vectors still pair with each other."""
    from surrealdb_spark.functions import vector as V
    from surrealdb_spark.pipeline.similarity import cosine_pairs

    odd = spark.createDataFrame(
        [(900001, None), (900002, [1.0, 2.0, 3.0]), (900003, [1.0, 2.0, 2.5])],
        "vec_id bigint, embedding array<float>")
    emb = (Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
           .limit(300).unionByName(odd))
    got = {
        (r.id1, r.id2): struct.pack("<d", r.sim)
        for r in cosine_pairs(
            emb, "vec_id", "embedding", 0.35, allow_quadratic=True
        ).collect()
    }
    e1 = emb.select(
        F.col("vec_id").alias("id1"), F.col("embedding").alias("v1"),
        V.magnitude("embedding").alias("m1"),
    )
    e2 = emb.select(
        F.col("vec_id").alias("id2"), F.col("embedding").alias("v2"),
        V.magnitude("embedding").alias("m2"),
    )
    ref = {
        (r.id1, r.id2): struct.pack("<d", r.sim)
        for r in e1.join(e2, F.col("id1") < F.col("id2"))
        .select(
            "id1", "id2",
            (V.dot("v1", "v2") / (F.col("m1") * F.col("m2"))).alias("sim"),
        )
        .filter(F.col("sim") > 0.35)
        .collect()
    }
    assert got == ref and len(got) > 0
    assert (900002, 900003) in got


def test_cosine_pairs_rejects_unordered_id_type(spark, sf_dir):
    """Ids must be strings or integers: the kernel orders id1 < id2 in
    numpy, which matches Spark's order only for those."""
    import pytest

    from surrealdb_spark.pipeline.similarity import cosine_pairs

    emb = Catalog(spark, sf_dir).embeddings.limit(10).select(
        F.col("vec_id").cast("double").alias("vec_id"), "embedding")
    with pytest.raises(TypeError, match="string or integral id"):
        cosine_pairs(emb, "vec_id", "embedding", 0.35, allow_quadratic=True)


def test_knn_operator_metric_names(spark, tmp_path):
    """`<|k, METRIC|>` ranks by the named vector::distance kind and names
    an unknown one, instead of ranking by euclidean."""
    import pytest

    from surrealdb_spark.dml import Database
    from surrealdb_spark.sql.statements import StatementRunner

    r = StatementRunner(spark, Database(spark, str(tmp_path)))
    r.run("CREATE v:2 SET emb = [1, 1, 1, 0]")
    r.run("CREATE v:3 SET emb = [1.1, 1.1, 1.1, 1.1]")

    def nearest(op):
        return [x[0] for x in r.run(
            f"SELECT VALUE id FROM v WHERE emb {op} [1, 1, 1, 1]").collect()]

    assert nearest("<|1|>") == ["v:3"]
    assert nearest("<|1, HAMMING|>") == ["v:2"]
    with pytest.raises(ValueError, match="unsupported KNN distance: BOGUS"):
        nearest("<|1, BOGUS|>")
