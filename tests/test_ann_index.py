"""Persistent IVF-PQ index: parity with the per-call operator and
partition pruning on the probed cells."""

from __future__ import annotations

from pyspark.sql import functions as F

from mini_feature_store_spark.functions import plan_text
from mini_feature_store_spark.io import load_testdata
from mini_feature_store_spark.operators.ann_index import (
    build_ivfpq_index,
    pq_topk_indexed,
)
from mini_feature_store_spark.operators.similarity import pq_topk


def _n_codes(spark, idx: str) -> int:
    return spark.read.parquet(f"{idx}/codes").count()


def test_indexed_matches_per_call_pq(spark, sf_dir, tmp_path):
    """Same corpus, same seed → identical codebooks → identical results
    (the index is a pure amortization of pq_topk's training/encoding)."""
    emb = load_testdata(spark, sf_dir, "embeddings")["embeddings"]
    idx = str(tmp_path / "ivfpq")
    summary = build_ivfpq_index(emb, idx, n_cells=8, seed=42)
    assert summary["n_cells"] == 8 and summary["dim"] == 64

    q = emb.where(F.col("vec_id") < 5)
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in pq_topk(q, emb, k=5, n_cells=8, n_probe=4, refine=4).collect()
    }
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in pq_topk_indexed(
            spark, idx, q, k=5, n_probe=4, refine=4
        ).collect()
    }
    assert got == want


def test_zero_vector_takes_no_shortlist_slot(spark, tmp_path):
    """A zero vector's 0.0 approximate score outranks every negative
    cosine; it must not take a refine·k shortlist slot that the exact
    stage then drops. Against a corpus whose every real neighbour has a
    negative cosine, pq_topk must still equal pq_topk_indexed and
    int8_topk must still equal brute force (all k rows)."""
    import numpy as np

    from mini_feature_store_spark.operators.similarity import (
        cosine_topk_bruteforce,
        int8_topk,
    )

    rng = np.random.default_rng(0)
    neg = -np.abs(rng.normal(size=(11, 4))) - 0.1
    rows = [(0, [1.0, 0.0, 0.0, 0.0])]
    rows += [(i + 1, v.tolist()) for i, v in enumerate(neg)]
    rows.append((12, [0.0, 0.0, 0.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") == 0)

    def ranked(df):
        return sorted((r.rank, r.neighbor_id, r.cosine) for r in df.collect())

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, idx, n_cells=2, m_sub=2)
    pq = ranked(pq_topk(q, emb, k=5, n_cells=2, n_probe=2, m_sub=2, refine=1))
    indexed = ranked(pq_topk_indexed(spark, idx, q, k=5, n_probe=2, refine=1))
    assert len(indexed) == 5
    assert pq == indexed

    exact = ranked(cosine_topk_bruteforce(q, emb, k=5))
    assert len(exact) == 5
    assert ranked(int8_topk(q, emb, k=5, refine=1)) == exact


def test_indexed_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The probed-cell IN filter must reach the codes scan as a partition
    filter — unprobed cells' files are never read."""
    emb = load_testdata(spark, sf_dir, "embeddings")["embeddings"]
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, idx, n_cells=8, seed=42)
    out = pq_topk_indexed(
        spark, idx, emb.where(F.col("vec_id") < 2), k=3, n_probe=2
    )
    plan = plan_text(out)
    assert "PartitionFilters" in plan and "cell" in plan
    # and the result is sane: 3 neighbors per query
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1}
    assert all(1 <= r.rank <= 3 for r in rows)


def test_ann_index_build_cli(spark, sf_dir, tmp_path):
    from mini_feature_store_spark import cli

    idx = str(tmp_path / "cli_idx")
    rc = cli.main(
        [
            "ann-index-build",
            "--embeddings-path", f"{sf_dir}/embeddings.parquet",
            "--index-dir", idx,
            "--n-cells", "8",
        ]
    )
    assert rc == 0
    import json
    from pathlib import Path

    meta = json.loads(Path(idx, "model.json").read_text())
    assert meta["n_cells"] == 8
    assert len(meta["centroids"]) == 8


def test_append_batch_visible_to_probes(spark, sf_dir, tmp_path):
    """Appending a batch encoded with the frozen model makes the new
    vectors immediately probe-visible; existing rows are untouched."""
    from pyspark.sql import functions as F

    from mini_feature_store_spark.operators.ann_index import (
        append_to_ivfpq_index,
    )

    emb = load_testdata(spark, sf_dir, "embeddings")["embeddings"]
    base = emb.where(F.col("vec_id") >= 10)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, idx, n_cells=8, seed=42)

    # append EXACT COPIES of vectors 10..14 under new ids 9000+: each
    # appended vector must show up as its twin's top-1 (cosine 1.0)
    twins = emb.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 15)).select(
        (F.col("vec_id") + 8990).alias("vec_id"), "embedding"
    )
    before = _n_codes(spark, idx)
    append_to_ivfpq_index(twins, idx)
    assert _n_codes(spark, idx) == before + 5

    q = emb.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    top = {
        r.query_id: (r.neighbor_id, r.cosine)
        for r in pq_topk_indexed(spark, idx, q, k=1, n_probe=8).collect()
    }
    for qid, (nid, cos) in top.items():
        assert nid == qid + 8990 and cos == 1.0


def test_drift_report_in_and_out_of_distribution(spark, sf_dir, tmp_path):
    """In-distribution batches sit near drift_ratio 1; a shifted batch
    (embeddings scaled + offset into a different region per-subspace)
    drives the ratio up and trips the rebuild flag."""
    import numpy as np

    from pyspark.sql import functions as F

    from mini_feature_store_spark.operators.ann_index import index_drift_report

    emb = load_testdata(spark, sf_dir, "embeddings")["embeddings"]
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, idx, n_cells=8, seed=42)

    ok = index_drift_report(emb.limit(100), idx)
    assert ok["n"] == 100
    assert ok["drift_ratio"] < 1.5
    assert not ok["rebuild_recommended"]

    rng = np.random.default_rng(9)
    shifted_rows = [
        (int(i), [float(x) for x in rng.normal(loc=5.0, scale=3.0, size=64)])
        for i in range(100)
    ]
    shifted = spark.createDataFrame(
        shifted_rows, "vec_id long, embedding array<float>"
    )
    bad = index_drift_report(shifted, idx)
    assert bad["drift_ratio"] > ok["drift_ratio"] * 2
    assert bad["rebuild_recommended"]


def test_append_skip_existing_ids_is_idempotent(spark, sf_dir, tmp_path):
    """Replaying the same batch appends nothing: the append skips ids
    already in the index, the guard streaming replays rely on."""
    from pyspark.sql import functions as F

    from mini_feature_store_spark.operators.ann_index import (
        append_to_ivfpq_index,
    )

    emb = load_testdata(spark, sf_dir, "embeddings")["embeddings"]
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb.where(F.col("vec_id") >= 10), idx, n_cells=8)
    batch = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
    )
    n0 = _n_codes(spark, idx)
    append_to_ivfpq_index(batch, idx)
    n1 = _n_codes(spark, idx)
    append_to_ivfpq_index(batch, idx)  # replay
    assert n1 - n0 == 5 and _n_codes(spark, idx) == n1
    codes = spark.read.parquet(f"{idx}/codes")
    dup = (
        codes.groupBy("vec_id").count().where(F.col("count") > 1).count()
    )
    assert dup == 0


def test_drift_report_zero_baseline_not_a_rebuild(spark, tmp_path):
    """A codebook that reproduces its training sample exactly
    (baseline_mse == 0) must not flag identical in-distribution batches;
    nonzero error against a zero baseline IS out-of-distribution."""
    from mini_feature_store_spark.operators.ann_index import index_drift_report

    # 16 distinct constant-ish vectors, d=16, m_sub=4 -> each subspace has
    # <= 16 distinct subvectors = 2^nbits codewords -> exact codebooks
    rows = [(i, [float((i * 7) % 5)] * 16) for i in range(16)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = str(tmp_path / "ivfpq0")
    build_ivfpq_index(df, idx, n_cells=2, m_sub=4, nbits=4, sample_size=16)

    same = index_drift_report(df, idx)
    assert same["baseline_mse"] == 0.0
    assert same["batch_mse"] == 0.0
    assert same["drift_ratio"] == 1.0
    assert not same["rebuild_recommended"]

    import numpy as np

    rng = np.random.default_rng(1)
    shifted = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=16)]) for i in range(16)],
        "vec_id long, embedding array<float>",
    )
    bad = index_drift_report(shifted, idx)
    assert bad["rebuild_recommended"]
