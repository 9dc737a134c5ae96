"""Distributed k-means + semantic dedup: structural invariants.

Lloyd's is iterative and seed-dependent, so these tests pin properties
rather than golden outputs: planted-blob recovery, convergence (an extra
manual Lloyd step no longer moves the centroids), exact agreement of the
within-cluster pair generator with a numpy reference, planted-duplicate
recovery with the min-id survivor policy, an MLlib cost cross-check, and
bit-identical results whatever the input partitioning, Arrow batch size
or fit path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mini_feature_store_spark.operators.clustering import (
    cluster_cosine_pairs,
    kmeans,
    kmeans_assign,
    kmeans_fit,
    semantic_dedup,
)


def _blob_rows(n_blobs=4, per=40, dim=16, noise=1.0, seed=0):
    """Directionally separated blobs (spherical k-means clusters on the
    sphere, so separation must be angular, not just positional)."""
    rng = np.random.default_rng(seed)
    centers, rows, vid = [], [], 0
    while len(centers) < n_blobs:
        c = rng.normal(size=dim)
        c /= np.linalg.norm(c)
        if all(abs(c @ p) < 0.3 for p in centers):
            centers.append(c)
    for ci, c in enumerate(centers):
        for _ in range(per):
            v = c * 10 + rng.normal(size=dim) * noise
            rows.append((vid, [float(x) for x in v], ci))
            vid += 1
    return rows


@pytest.fixture(scope="module")
def blobs(spark):
    rows = _blob_rows()
    return (
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).persist(),
        rows,
    )


def test_kmeans_recovers_planted_blobs(spark, blobs):
    df, rows = blobs
    _, assigns = kmeans(df, k=4, iters=6, seed=1)
    a = assigns.toPandas().merge(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])[
            ["vec_id", "label"]
        ],
        on="vec_id",
    )
    # each cluster is pure, and each blob landed in exactly one cluster
    purity = a.groupby("cluster")["label"].nunique()
    assert (purity == 1).all()
    assert a.groupby("label")["cluster"].nunique().eq(1).all()


def test_kmeans_converged_fixed_point(spark, blobs):
    """After convergence an extra manual Lloyd step must not move the
    centroids: every centroid is the (normalized) mean of its members."""
    df, _ = blobs
    cent = kmeans_fit(df, k=4, iters=8, seed=1)
    a = kmeans_assign(df, cent).toPandas()
    vecs = df.select("vec_id", "embedding").toPandas()
    m = a.merge(vecs, on="vec_id")
    for c in range(4):
        mat = np.array(m[m.cluster == c]["embedding"].tolist(), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        mean = mat.mean(0)
        mean /= np.linalg.norm(mean)
        assert np.allclose(mean, cent[c], atol=1e-9)


def test_kmeans_assignment_matches_numpy(spark, blobs):
    """The assignment step given fixed centroids is deterministic and must
    equal the literal numpy argmax (including the low-index tie-break)."""
    df, rows = blobs
    cent = kmeans_fit(df, k=4, iters=3, seed=1)
    got = (
        kmeans_assign(df, cent)
        .toPandas()
        .sort_values("vec_id")["cluster"]
        .to_numpy()
    )
    mat = np.array(
        [r[1] for r in sorted(rows)], dtype=np.float64
    )
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    want = np.argmax(mat @ cent.T, axis=1)
    assert (got == want).all()


def test_kmeans_cost_vs_mllib(spark, blobs):
    """Cross-engine check: our spherical k-means cost on unit vectors is
    within 1.5x of MLlib's Euclidean k-means trained on the same unit
    vectors (on the unit sphere, ||a-b||² = 2 - 2·cos, so the objectives
    are affinely equivalent)."""
    pytest.importorskip("pyspark.ml")
    from pyspark.ml.clustering import KMeans as MLKMeans
    from pyspark.ml.functions import array_to_vector

    df, _ = blobs
    cent = kmeans_fit(df, k=4, iters=8, seed=1)
    a = kmeans_assign(df, cent).toPandas()
    ours = float((2 - 2 * a["cos_to_centroid"]).sum())

    unit = df.select(
        array_to_vector(
            F.transform(
                "embedding",
                lambda x: x.cast("double")
                / F.sqrt(
                    F.aggregate(
                        F.transform("embedding", lambda y: y.cast("double")),
                        F.lit(0.0),
                        lambda acc, y: acc + y * y,
                    )
                ),
            )
        ).alias("features")
    )
    model = MLKMeans(k=4, seed=1, maxIter=8).fit(unit)
    theirs = model.summary.trainingCost
    assert ours <= 1.5 * theirs + 1e-6


def test_cluster_pairs_match_numpy_within_clusters(spark, blobs):
    df, rows = blobs
    cent = kmeans_fit(df, k=4, iters=6, seed=1)
    assigns = kmeans_assign(df, cent)
    got = {
        (r.id_a, r.id_b)
        for r in cluster_cosine_pairs(df, assigns, threshold=0.9).collect()
    }
    a = assigns.toPandas().sort_values("vec_id")
    mat = np.array([r[1] for r in sorted(rows)], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    # rounded half-up to 4 places, THEN thresholded, as the oracles do
    sims = np.floor((mat @ mat.T) * 1e4 + 0.5) / 1e4
    cl = a["cluster"].to_numpy()
    want = {
        (i, j)
        for i in range(len(rows))
        for j in range(i + 1, len(rows))
        if cl[i] == cl[j] and sims[i, j] >= 0.9
    }
    assert got == want
    assert len(want) > 0  # blobs at noise=1.0 do produce >=0.9 pairs


def test_semantic_dedup_recovers_planted_clones(spark):
    rows = _blob_rows(noise=2.0)
    clones = [(10_000 + i, rows[i][1], rows[i][2]) for i in range(10)]
    df = spark.createDataFrame(
        rows + clones, "vec_id long, embedding array<float>, label int"
    )
    out = semantic_dedup(df, k=4, threshold=0.9999, iters=6, seed=1).toPandas()
    assert len(out) == len(rows) + 10  # every row gets a decision
    dropped = set(out[~out.is_survivor]["vec_id"])
    assert dropped == {10_000 + i for i in range(10)}  # min-id survives
    # component id == min vec_id of the component
    grp = out.groupby("component")["vec_id"].min()
    assert (grp.index == grp.values).all()


def test_semantic_dedup_threshold_excludes_non_dups(spark):
    rows = _blob_rows(noise=2.0)
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = semantic_dedup(df, k=4, threshold=0.9999, iters=6, seed=1).toPandas()
    assert out.is_survivor.all()  # no exact dups planted -> nothing dropped


def test_kmeans_local_equals_distributed(spark, blobs, monkeypatch):
    """Under LOCAL_MAX_VECTORS the fit runs on the driver over one
    collected batch; LOCAL_MAX_VECTORS=0 forces the distributed combiner
    over the same data. Both share _batch_partials and _fold_partials,
    and the fixed-point partials are exact, so the centroids must be
    bit-equal, not approximately equal — also when a tiny Arrow batch
    size splits every partition into many batches."""
    from mini_feature_store_spark.operators import clustering

    df, _ = blobs

    def fit_dist(**kw):
        with monkeypatch.context() as m:
            m.setattr(clustering, "LOCAL_MAX_VECTORS", 0)
            return kmeans_fit(df, **kw)

    local = kmeans_fit(df, k=4, iters=5, seed=3)
    dist = fit_dist(k=4, iters=5, seed=3)
    assert local.shape == dist.shape == (4, len(df.first()["embedding"]))
    assert np.array_equal(local, dist)

    # and the tiny-batch regime: the distributed path sums many batches
    # per partition, the local path still one
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        local_b = kmeans_fit(df, k=4, iters=3, seed=11)
        dist_b = fit_dist(k=4, iters=3, seed=11)
        assert np.array_equal(local_b, dist_b)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_kmeans_byte_budget_takes_distributed_path(spark, blobs, monkeypatch):
    """The driver-local fast path is bounded by BYTES as well as rows: a
    corpus far under LOCAL_MAX_VECTORS whose collected vectors exceed
    DRIVER_LOCAL_MAX_BYTES (wide embeddings) must take the distributed
    combiner path. Its exact partials give the local path's centroids
    bit for bit."""
    from mini_feature_store_spark import functions
    from mini_feature_store_spark.operators import clustering

    df, rows = blobs
    assert len(rows) < clustering.LOCAL_MAX_VECTORS
    local = kmeans_fit(df, k=4, iters=4, seed=5)

    calls = []
    real_local = clustering._kmeans_fit_local
    monkeypatch.setattr(
        clustering,
        "_kmeans_fit_local",
        lambda *a, **kw: calls.append(1) or real_local(*a, **kw),
    )
    assert np.array_equal(kmeans_fit(df, k=4, iters=4, seed=5), local)
    assert calls == [1]  # under both bounds: the local replay ran

    monkeypatch.setattr(functions, "DRIVER_LOCAL_MAX_BYTES", 1024)
    dist = kmeans_fit(df, k=4, iters=4, seed=5)
    assert calls == [1]  # over the byte budget: distributed path
    assert np.array_equal(dist, local)


def _fit_and_assign(df, dist, monkeypatch):
    from mini_feature_store_spark.operators import clustering

    with monkeypatch.context() as m:
        if dist:
            m.setattr(clustering, "LOCAL_MAX_VECTORS", 0)
        cent, assigns = kmeans(df, k=4, iters=4, seed=2)
        return cent, sorted(map(tuple, assigns.collect()))


@pytest.mark.parametrize("dist", [False, True], ids=["local", "distributed"])
def test_kmeans_invariant_to_layout_and_batch_size(
    spark, blobs, monkeypatch, dist
):
    """Exact fixed-point partials: the same vectors as 1, 3 or 8 input
    partitions, in a shuffled row order, and with Arrow batches of 1, 7
    or the default rows give bit-identical centroids and identical
    assignment rows, on the driver-local and the distributed path alike
    (compared against the local fit of the cached fixture)."""
    df, rows = blobs
    schema = "vec_id long, embedding array<float>, label int"
    ref_cent, ref_rows = _fit_and_assign(df, False, monkeypatch)
    shuffled = list(rows)
    np.random.default_rng(7).shuffle(shuffled)
    layouts = {
        "1 partition": df.coalesce(1),
        "3 partitions": df.repartition(3),
        "8 partitions": df.repartition(8),
        "shuffled rows": spark.createDataFrame(shuffled, schema),
    }
    for name, layout in layouts.items():
        cent, got = _fit_and_assign(layout, dist, monkeypatch)
        assert np.array_equal(cent, ref_cent), name
        assert got == ref_rows, name

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    try:
        for batch in ("1", "7"):
            spark.conf.set(conf, batch)
            cent, got = _fit_and_assign(df.repartition(3), dist, monkeypatch)
            assert np.array_equal(cent, ref_cent), batch
            assert got == ref_rows, batch
    finally:
        spark.conf.set(conf, old)


def test_kmeans_local_assignment_equals_kmeans_assign(spark, blobs):
    """kmeans() under the local bound assigns on the driver from the
    vectors the fit collected, as a local relation that runs no Spark
    job to read; its rows equal kmeans_assign's over the same
    centroids."""
    df, _ = blobs
    cent, assigns = kmeans(df, k=4, iters=3, seed=1)
    plan = assigns._jdf.queryExecution().analyzed().toString()
    assert plan.startswith("LocalRelation")
    assert sorted(map(tuple, assigns.collect())) == sorted(
        map(tuple, kmeans_assign(df, cent).collect())
    )


@pytest.mark.parametrize("dist", [False, True], ids=["local", "distributed"])
@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_kmeans_fit_rejects_non_finite_vectors(spark, monkeypatch, dist, bad):
    """A NaN or infinite component fails the fit loudly on both paths,
    instead of yielding NaN centroids (or, cast to fixed point,
    INT64_MIN sums)."""
    from mini_feature_store_spark.operators import clustering

    rows = _blob_rows(per=10)
    rows[5] = (rows[5][0], [bad] + rows[5][1][1:], rows[5][2])
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    if dist:
        monkeypatch.setattr(clustering, "LOCAL_MAX_VECTORS", 0)
    with pytest.raises(ValueError, match="kmeans_fit"):
        kmeans_fit(df, k=4, iters=2, seed=1)


def test_kmeans_row_dots_do_not_depend_on_batch_shape():
    """A row's centroid dots come out the same in any batch. A BLAS GEMM
    picks its kernel by matrix shape: on 2,000 × 64 rows, batches of 7
    changed the last bit of about 1 dot in 10 against one 2,000-row
    GEMM, which can flip a near-tie assignment between layouts."""
    from mini_feature_store_spark.operators.clustering import _dots

    rng = np.random.default_rng(0)
    mat = rng.normal(size=(2000, 64))
    cent_t = rng.normal(size=(64, 16))
    whole = _dots(mat, cent_t)
    for rows in (1, 7, 333):
        parts = np.vstack(
            [_dots(mat[i : i + rows], cent_t) for i in range(0, len(mat), rows)]
        )
        assert np.array_equal(parts, whole), rows
