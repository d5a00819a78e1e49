"""Operator-level tests for the trained-IVF similarity path (the
oracle-gated registry queries cover end-to-end parity; these pin the
training/capping semantics on tiny controlled inputs)."""

import numpy as np
import pytest

from bamboo_spark.operators import similarity


def _vec_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_kmeans_centroids_converge_to_cluster_means(spark):
    # two tight clusters on orthogonal axes; init = 2 lowest-id vectors,
    # one from each cluster → Lloyd must land on the per-cluster means
    a = [[1.0, 0.0, 0.0, 0.0], [0.9, 0.1, 0.0, 0.0], [1.1, -0.1, 0.0, 0.0]]
    b = [[0.0, 1.0, 0.0, 0.0], [0.0, 0.9, 0.1, 0.0], [0.0, 1.1, -0.1, 0.0]]
    df = _vec_df(spark, [a[0], b[0], a[1], a[2], b[1], b[2]])
    cm = similarity.kmeans_train(df, n_centroids=2, iterations=2)
    assert cm.shape == (2, 4)
    np.testing.assert_allclose(cm[0], np.mean(a, axis=0), atol=1e-6)
    np.testing.assert_allclose(cm[1], np.mean(b, axis=0), atol=1e-6)


def test_kmeans_sqrt_n_default(spark):
    df = _vec_df(spark, [[1.0, float(i % 3)] for i in range(26)])
    cm = similarity.kmeans_train(df, iterations=1)
    assert cm.shape[0] == 6  # ceil(sqrt(26))


def test_kmeans_empty_cluster_carries_forward(spark):
    # 3 centroids over 2 real clusters: one centroid loses all members
    # after reassignment and must keep its previous position, not NaN out
    vecs = [[1.0, 0.0], [1.0, 0.01], [0.0, 1.0], [0.0, 1.01], [1.0, 0.02], [0.0, 0.99]]
    df = _vec_df(spark, vecs)
    cm = similarity.kmeans_train(df, n_centroids=3, iterations=2)
    assert cm.shape == (3, 2)
    assert not np.isnan(cm).any()


def test_bucket_cap_bounds_candidate_pairs(spark):
    # 6 identical vectors in one bucket; cap=3 keeps the 3 lowest ids →
    # exactly C(3,2)=3 pairs instead of C(6,2)=15
    df = _vec_df(spark, [[1.0, 0.0]] * 6)
    uncapped = similarity.ivf_pairs(df, threshold=0.9, n_centroids=1, iterations=1)
    capped = similarity.ivf_pairs(
        df, threshold=0.9, n_centroids=1, iterations=1, bucket_cap=3
    )
    assert uncapped.count() == 15
    rows = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert rows == {(0, 1), (0, 2), (1, 2)}


def test_cosine_pairs_gemm_rejects_unknown_strategy(spark):
    df = _vec_df(spark, [[1.0, 0.0]] * 2)
    with pytest.raises(ValueError):
        similarity.cosine_pairs_gemm(df, strategy="magic")


def test_blocked_gemm_matches_broadcast(spark):
    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(40, 8))
    df = _vec_df(spark, vecs.tolist())
    bcast = similarity.cosine_pairs_gemm(df, threshold=0.2).collect()
    blocked = similarity.cosine_pairs_gemm(
        df, threshold=0.2, strategy="blocked", n_blocks=4
    ).collect()
    key = lambda r: (r["id_a"], r["id_b"])
    assert sorted(map(key, bcast)) == sorted(map(key, blocked))
    assert {key(r): r["cosine"] for r in bcast} == {key(r): r["cosine"] for r in blocked}


def test_topk_ivf_empty_query_slice(spark):
    from bamboo_spark.operators.similarity import topk_neighbors_ivf

    df = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    out = topk_neighbors_ivf(df, query_ids_below=-1, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "neighbor_id", "cosine"]


def test_persisted_quantizer_identical_results(spark, tmp_path):
    # a trained quantizer stored as a plain numpy file and loaded back:
    # ivf_pairs with those centroids must equal a fresh retrain
    # bit-for-bit
    from bamboo_spark import queries as q
    from bamboo_spark.operators.similarity import ivf_pairs, kmeans_train

    e = q.load(spark, "/root/testdata/sf0.001", "embeddings")
    cm = kmeans_train(e)
    path = str(tmp_path / "quantizer.npy")
    np.save(path, cm)
    loaded = np.load(path)
    fresh = {tuple(r) for r in ivf_pairs(e, threshold=0.4).collect()}
    persisted = {tuple(r) for r in ivf_pairs(e, threshold=0.4, centroids=loaded).collect()}
    assert fresh == persisted and len(fresh) > 0


def test_semantic_dedup_consistent_with_pairs(spark):
    # is_kept == no lower-id >= t cluster-mate; dup_of == min such id
    from bamboo_spark import queries as q
    from bamboo_spark.operators.similarity import ivf_pairs, semantic_dedup

    e = q.load(spark, "/root/testdata/sf0.001", "embeddings")
    pairs = ivf_pairs(e, threshold=0.4).collect()
    expect = {}
    for r in pairs:
        cur = expect.get(r["id_b"])
        expect[r["id_b"]] = r["id_a"] if cur is None else min(cur, r["id_a"])
    got = semantic_dedup(e, threshold=0.4).collect()
    assert len(got) == e.count()
    for r in got:
        if r["vec_id"] in expect:
            assert not r["is_kept"] and r["dup_of"] == expect[r["vec_id"]]
        else:
            assert r["is_kept"] and r["dup_of"] is None
    assert any(not r["is_kept"] for r in got)  # fixture has semantic dups


def test_pq_train_fused_equals_per_slice_kmeans(spark):
    # the fused multi-subspace trainer must be bit-identical to running
    # kmeans_train on each slice independently (the form the DuckDB
    # oracle replays)
    import numpy as np
    from pyspark.sql import functions as F

    from bamboo_spark.operators.similarity import kmeans_train, pq_train

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    m, k, d_sub = 4, 8, 16
    fused = pq_train(e, m=m, n_codes=k, iterations=2)
    for s in range(m):
        sub = e.select(
            "vec_id", F.slice(F.col("embedding"), s * d_sub + 1, d_sub).alias("sub")
        )
        solo = kmeans_train(sub, n_centroids=k, iterations=2, vec="sub")
        assert np.array_equal(fused[s], solo), s


def test_embedding_norms_flags_outliers(spark, tmp_path):
    # non-degenerate corpus: one exploding norm among unit vectors must
    # be the only outlier; unit rows score negative sub-threshold z
    from bamboo_spark import queries as q

    dim = 64
    rows = [(int(i), [1.0] + [0.0] * (dim - 1), "a") for i in range(9)]
    rows.append((9, [100.0] + [0.0] * (dim - 1), "a"))
    d = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    ).write.parquet(d + "/embeddings.parquet")
    out = {r["vec_id"]: r for r in q.q_embedding_norms(spark, d).collect()}
    assert out[9]["is_outlier"] == 1 and out[9]["z"] > 2
    for i in range(9):
        assert out[i]["is_outlier"] == 0 and out[i]["z"] < 0


def test_pca_matches_numpy_reference(spark):
    import numpy as np

    from bamboo_spark.operators.similarity import pca_project, pca_train

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    comps = pca_train(e, n_components=4)

    # reference: numpy PCA on the collected matrix
    rows = e.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r.vec_id)
    x = np.array([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    # the engine's covariance is over round-6'd µ-unit moments; numpy
    # on the raw floats agrees to ~1e-6 on the covariance, so compare
    # eigen-structure with a tolerance
    c = np.cov(x, rowvar=False, bias=True)
    w, v = np.linalg.eigh(c)
    order = np.argsort(w)[::-1][:4]
    ref = v[:, order].T.copy()
    for k in range(4):
        j = np.argmax(np.abs(ref[k]))
        if ref[k, j] < 0:
            ref[k] = -ref[k]

    # orthonormal components
    assert np.allclose(comps @ comps.T, np.eye(4), atol=1e-9)
    # same principal directions (up to tiny covariance rounding)
    assert np.allclose(np.abs(np.sum(comps * ref, axis=1)), 1.0, atol=1e-4)

    # projection equals the literal dot products
    proj = {
        (r.vec_id, r.pc): r.val
        for r in pca_project(e, comps).collect()
    }
    expect = x @ comps.T
    for i, r in enumerate(rows):
        for k in range(4):
            assert abs(proj[(r.vec_id, k)] - round(expect[i, k], 6)) <= 2e-6

    # explained variance is in decreasing order
    var = ((x - x.mean(axis=0)) @ comps.T).var(axis=0)
    assert all(var[k] >= var[k + 1] - 1e-9 for k in range(3))


def test_embedding_covariance_half_boundary_rounding(spark, tmp_path):
    # embedding values landing EXACTLY on a 0.5 µ-unit boundary (x * 1e6
    # == k + 0.5 in float64) must quantize half-AWAY-from-zero, matching
    # DuckDB round() and the drift-baseline quantizer — np.rint's
    # half-to-even would diverge on 2.5 -> 2 vs 3
    import duckdb

    from bamboo_spark.operators.similarity import (
        embedding_covariance,
        embedding_covariance_duck,
    )

    rows = [
        (1, [2.5e-6, 0.5e-6]),
        (2, [-2.5e-6, 4.5e-6]),
        (3, [1.0e-3, -4.5e-6]),
    ]
    sdf = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    got = {
        (r.dim_i, r.dim_j): r.cov
        for r in embedding_covariance(sdf).collect()
    }

    pq = str(tmp_path / "emb.parquet")
    sdf.coalesce(1).write.parquet(pq)
    con = duckdb.connect()
    con.sql(
        "create view embeddings as select * from '%s/*.parquet'" % pq
    )
    want = {
        (r[0], r[1]): r[2]
        for r in con.sql(embedding_covariance_duck()).fetchall()
    }
    con.close()
    assert got == want


def test_streaming_ingest_probes_published_index(spark, tmp_path):
    # the ANN ingest loop: vectors stream in and each micro-batch
    # assigns buckets against a quantizer trained once (broadcast) —
    # assignments equal the batch twin's
    from bamboo_spark import queries as q

    e = q.load(spark, "/root/testdata/sf0.001", "embeddings")
    cm = similarity.kmeans_train(e, n_centroids=4, iterations=1)

    d = str(tmp_path / "vec_replay")
    e.select("vec_id", "embedding").coalesce(2).write.parquet(d)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).option("maxFilesPerTrigger", "1").parquet(d)
    out = similarity.ivf_assign(stream, cm)
    assert out.isStreaming
    qy = (
        out.writeStream.format("memory")
        .queryName("ann_ingest")
        .outputMode("append")
        .start()
    )
    try:
        qy.processAllAvailable()
    finally:
        qy.stop()
    got = {
        (r["vec_id"], r["centroid"])
        for r in spark.sql("select * from ann_ingest").collect()
    }
    want = {
        (r["vec_id"], r["centroid"])
        for r in similarity.ivf_assign(e, cm).collect()
    }
    assert got == want
