"""Distributed k-means and semantic (cluster-then-compare) dedup.

Prompt north star (no reference analog — the reference stops at exact and
hash-based dedup): SemDeDup-style semantic deduplication needs an embedding
clustering step so near-duplicate *meaning* is only compared within small
clusters, never across the whole corpus. That requires k-means at corpus
scale, which this module implements the way Spark MLlib does internally —
but deterministic, Arrow-vectorized, and on plain ``array<float>`` columns
(no VectorUDT conversion round-trip):

- **centroids live on the driver** (k·dim doubles — bounded and tiny next
  to the data) and are shipped to executors as a closure capture of each
  iteration's ``mapInPandas``;
- **assignment is one vectorized numpy pass per Arrow batch** (argmax
  of the centroid-dot for unit-normalized spherical k-means);
- **the update is a map-side combiner**: every input partition emits at
  most k partial rows ``(cluster, fixed-point sum, n)``, so the
  per-iteration shuffle is O(partitions · k · dim) regardless of corpus
  size — the exact shape of MLlib's ``treeAggregate`` step;
- iterations are plain Python ``for`` on the driver with one Spark job
  each; no RDD lineage growth (each iteration re-reads the cached input).
  Under ``LOCAL_MAX_VECTORS`` the whole fit and assignment run on the
  driver after one bounded collect.

Determinism: init is a hash-ordered sample (xxhash64 of the id — stable
across runs and partitionings; ids are keys, so the order has no ties
short of a 64-bit hash collision); ties in assignment break toward the
lower cluster id. Every row's centroid dots are summed over the
dimensions in one fixed order, whatever batch the row arrives in, and
the update sums each unit-normalized row rounded to fixed point
(``_FIXED_SCALE``) in ``int64`` — integer addition is exact and
associative, so no float summation order remains. Any grouping of the
rows into partitions or Arrow batches, on either path, gives
bit-identical centroids (pinned in ``tests/test_clustering.py``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mini_feature_store_spark.functions import collect_if_bounded, spread
from mini_feature_store_spark.operators.similarity import (
    _block_pair_join,
    _np_round_half_up,
    with_vec_norm,
)


def _unit(mat: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return mat / n


#: driver-local fast-path bound on the VECTOR COUNT (the ``bpe_train``
#: ``LOCAL_MAX_WORDS`` / ``graph.py LOCAL_MAX_EDGES`` dispatch pattern):
#: each distributed Lloyd iteration is one Spark job, a fixed driver toll,
#: and bench/test-scale embedding tables are a few thousand rows. Under
#: the bound ``collect_if_bounded`` brings the ``(id, _h, v, nrm)`` rows
#: to the driver in one job (~10 MB at dim 16; wide embeddings fall
#: through on its byte budget first); the fit runs there on the
#: combiner's own partial and fold math, and ``kmeans`` assigns from the
#: same rows.
LOCAL_MAX_VECTORS = 65_536

#: fixed-point scale of the Lloyd partial sums: a unit-normalized
#: component rounds to an integer of at most 2^32 in magnitude, so an
#: ``int64`` partition sum stays exact below 2^31 rows per partition,
#: and the driver folds partitions as Python ints (no bound). The
#: rounding moves a centroid component by at most 2^-33.
_FIXED_SCALE = 2.0**32

#: default size of the hash-ordered sample the farthest-point init sweeps
_INIT_SAMPLE = 2048


def _unit_rows(vs, nrms) -> np.ndarray:
    """``(n, dim)`` float64 matrix of the rows ``vs`` divided by their
    norms ``nrms`` (zero vectors stay zero)."""
    mat = np.array(vs, dtype=np.float64)
    mat /= np.maximum(nrms, 1e-30)[:, None]
    return mat


def _dots(mat: np.ndarray, cent_t: np.ndarray) -> np.ndarray:
    """``mat @ cent_t``, each dot summed over the dimensions in index
    order. A BLAS GEMM picks its kernel, and with it the rounding, by
    matrix shape, so the same row can score differently in a batch of 1
    and a batch of 10,000; this form computes every row the same way."""
    sims = mat[:, :1] * cent_t[0]
    for d in range(1, mat.shape[1]):
        sims += mat[:, d : d + 1] * cent_t[d]
    return sims


def _batch_partials(mat: np.ndarray, cent_t: np.ndarray, k: int):
    """ONE copy of the per-batch Lloyd partial math, used by the
    distributed combiner and the driver-local fit: assign each unit row
    to its nearest centroid (ties break toward the lower cluster id) and
    sum the rows per cluster in fixed point. Returns ``(sums, counts)``
    over ``k + 1`` bins; bin ``k`` counts the rows with a non-finite
    component, which ``_fold_partials`` rejects."""
    bad = ~np.isfinite(mat).all(axis=1)
    mat = np.where(bad[:, None], 0.0, mat)
    assign = np.where(bad, k, np.argmax(_dots(mat, cent_t), axis=1))
    sums = np.zeros((k + 1, mat.shape[1]), dtype=np.int64)
    np.add.at(sums, assign, np.rint(mat * _FIXED_SCALE).astype(np.int64))
    return sums, np.bincount(assign, minlength=k + 1)


def _fold_partials(cent: np.ndarray, parts, k: int) -> np.ndarray:
    """Fold ``(cluster, s, n)`` partials (``cluster`` ≤ k, see
    ``_batch_partials``) into the next centroids. The fixed-point sums
    add as Python ints, which are exact, so the fold needs no order;
    each mean is one correctly rounded int division. Empty clusters keep
    their previous centroid."""
    sums = [[0] * cent.shape[1] for _ in range(k + 1)]
    counts = [0] * (k + 1)
    for cl, s, n in parts:
        sums[cl] = [a + int(b) for a, b in zip(sums[cl], s)]
        counts[cl] += int(n)
    if counts[k]:
        raise ValueError("kmeans_fit: input vectors must be finite")
    new = cent.copy()
    for cl in range(k):
        if counts[cl]:
            scale = counts[cl] * int(_FIXED_SCALE)
            new[cl] = [s / scale for s in sums[cl]]
    return _unit(new)


def _maxmin_init(sample: np.ndarray, k: int) -> np.ndarray:
    """Deterministic farthest-point (maxmin) sweep over the unit-
    normalized, hash-ordered seed sample — shared by both fit paths."""
    chosen = [0]  # hash-first row seeds the sweep
    best = sample @ sample[0]  # max cosine to any chosen seed
    for _ in range(1, k):
        nxt = int(np.argmin(best))  # farthest = least-similar
        chosen.append(nxt)
        best = np.maximum(best, sample @ sample[nxt])
    return sample[chosen]


def kmeans_fit(
    df: DataFrame,
    k: int = 16,
    iters: int = 10,
    seed: int = 42,
    sample_size: int = _INIT_SAMPLE,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Spherical k-means (cosine assignment) → ``(k, dim)`` centroid matrix.

    Init is deterministic farthest-point (maxmin) over a hash-ordered
    sample of ``max(sample_size, k)`` rows, computed on the driver — the
    greedy k-center sweep that spreads seeds across all modes (a plain
    k-row hash sample regularly drops two seeds into one blob and Lloyd's
    cannot recover; the k-means++ D² goal, derandomized). Lloyd's
    iterations then run over the full corpus. Empty clusters keep their
    previous centroid. A vector with a NaN or infinite component raises
    ``ValueError``.

    Under ``LOCAL_MAX_VECTORS`` (and the driver byte budget) the rows are
    collected once and every iteration runs on the driver: one Spark job
    per fit. Above it the input is cached for the fit and each iteration
    is one ``mapInPandas`` combiner job whose output is at most
    partitions·k exact partial rows. Both paths share the partial and
    fold math, and the partials are exact integers, so the centroids do
    not depend on the path or on how the input is partitioned.
    """
    return _fit(df, k, iters, seed, sample_size, vec_col, id_col)[0]


def _fit(
    df: DataFrame, k: int, iters: int, seed: int, sample_size: int,
    vec_col: str, id_col: str,
) -> tuple[np.ndarray, tuple[pd.Series, np.ndarray] | None]:
    """``kmeans_fit`` → ``(centroids, local)``. ``local`` is the driver-
    local fit's ``(ids, unit rows)`` for ``kmeans`` to assign from, or
    ``None`` when the fit ran distributed."""
    hash_col = F.xxhash64(F.col("id").cast("string"), F.lit(seed))
    head = collect_if_bounded(
        with_vec_norm(df, vec_col, id_col).select(
            "id", hash_col.alias("_h"), "v", "nrm"
        ),
        LOCAL_MAX_VECTORS,
    )
    if head is not None:
        cent, mat = _kmeans_fit_local(head, k, iters, sample_size)
        return cent, (head.column("id").to_pandas(), mat)

    # spread(…, 8), not full defaultParallelism: a narrow (single-split)
    # input above the local bound still gains 8 Python workers per Lloyd
    # iteration without 32 tasks' overhead; wide production inputs skip
    # the exchange entirely. The partials are exact, so the partitioning
    # changes only the speed.
    c = with_vec_norm(spread(df, 8), vec_col, id_col).persist()
    try:
        init_rows = (
            c.orderBy(hash_col).limit(max(sample_size, k)).select("v").collect()
        )
        if len(init_rows) < k:
            raise ValueError(f"corpus has fewer than k={k} rows")
        sample = _unit(
            np.array([r["v"] for r in init_rows], dtype=np.float64)
        )
        cent = _maxmin_init(sample, k)
        dim = cent.shape[1]

        for _ in range(iters):
            cent_t = cent.T.copy()  # capture per iteration

            def partials(
                batches: Iterator[pd.DataFrame],
            ) -> Iterator[pd.DataFrame]:
                sums = np.zeros((k + 1, dim), dtype=np.int64)
                counts = np.zeros(k + 1, dtype=np.int64)
                for pdf in batches:
                    s, n = _batch_partials(
                        _unit_rows(
                            pdf["v"].tolist(),
                            pdf["nrm"].to_numpy(dtype=np.float64),
                        ),
                        cent_t,
                        k,
                    )
                    sums += s
                    counts += n
                nz = np.flatnonzero(counts)
                if len(nz):  # empty partition: an empty 's' column comes
                    # out float64-typed and Arrow refuses float64→list
                    yield pd.DataFrame(
                        {
                            "cluster": nz.astype(np.int32),
                            "s": list(sums[nz]),
                            "n": counts[nz],
                        }
                    )

            # the combiner output is ≤ partitions·k rows — a bounded
            # driver collect (the sanctioned iterative-trainer class),
            # folded here in place of a groupBy reduce stage
            rows = (
                c.select("v", "nrm")
                .mapInPandas(partials, "cluster int, s array<long>, n long")
                .collect()
            )
            cent = _fold_partials(
                cent, [(r["cluster"], r["s"], r["n"]) for r in rows], k
            )
        return cent, None
    finally:
        c.unpersist()


def _kmeans_fit_local(tbl, k: int, iters: int, sample_size: int):
    """Driver-local Lloyd over a collected ``(id, _h, v, nrm)`` Arrow
    table → ``(centroids, unit rows)``: the distributed path's
    hash-ordered init sample, then each iteration's partials over all
    rows at once (``_batch_partials``) folded by ``_fold_partials`` —
    exact sums, so one batch gives the distributed path's centroids."""
    if tbl.num_rows < k:
        raise ValueError(f"corpus has fewer than k={k} rows")
    raw = np.stack(tbl.column("v").to_numpy())  # one float64 row per vector
    mat = _unit_rows(raw, tbl.column("nrm").to_numpy())
    init = np.argsort(tbl.column("_h").to_numpy(), kind="stable")
    cent = _maxmin_init(_unit(raw[init[: max(sample_size, k)]]), k)
    for _ in range(iters):
        sums, counts = _batch_partials(mat, cent.T.copy(), k)
        cent = _fold_partials(cent, zip(range(k + 1), sums, counts), k)
    return cent, mat


def _assign_frame(ids: pd.Series, mat: np.ndarray, cent_t: np.ndarray):
    """``(vec_id, cluster, cos_to_centroid)`` rows of unit rows ``mat``
    against unit centroids ``cent_t`` — the one per-row assignment math
    of ``kmeans_assign`` and ``kmeans``'s driver-local assignment."""
    sims = _dots(mat, cent_t)
    best = np.argmax(sims, axis=1)
    return pd.DataFrame(
        {
            "vec_id": ids.astype("int64"),
            "cluster": best.astype(np.int32),
            "cos_to_centroid": _np_round_half_up(
                sims[np.arange(len(best)), best], 6
            ),
        }
    )


def kmeans_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment: ``(vec_id, cluster, cos_to_centroid)``.

    One vectorized pass per Arrow batch against the broadcast-by-closure
    centroid matrix — embarrassingly parallel, zero shuffles.
    """
    cent_t = _unit(np.asarray(centroids, dtype=np.float64)).T.copy()

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = _unit_rows(
                pdf["v"].tolist(), pdf["nrm"].to_numpy(dtype=np.float64)
            )
            yield _assign_frame(pdf["id"], mat, cent_t)

    return with_vec_norm(df, vec_col, id_col).mapInPandas(
        assign, "vec_id long, cluster int, cos_to_centroid double"
    )


def kmeans(
    df: DataFrame,
    k: int = 16,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[np.ndarray, DataFrame]:
    """Fit + assign. Returns ``(centroids, assignments DataFrame)``.

    When the fit ran on the driver, the rows ``kmeans_assign`` would
    compute are computed there from the already collected vectors and
    returned as a local relation, which runs no Spark job to read; above
    the bound ``kmeans_assign`` runs distributed."""
    cent, local = _fit(df, k, iters, seed, _INIT_SAMPLE, vec_col, id_col)
    if local is None:
        return cent, kmeans_assign(df, cent, vec_col, id_col)
    ids, mat = local
    rows = _assign_frame(ids, mat, _unit(cent).T.copy())
    return cent, df.sparkSession.createDataFrame(
        pa.Table.from_pandas(rows, preserve_index=False)
    )


def cluster_cosine_pairs(
    vectors: DataFrame,
    assignments: DataFrame,
    threshold: float = 0.9,
    sub_blocks: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All (a < b) pairs with cosine ≥ threshold WITHIN each cluster.

    The point of clustering first: the GEMM block join is keyed on
    ``(cluster, sub_block)``, so cross-cluster pairs never materialize —
    total work drops from O(n²·d) to O(Σ nᵢ²·d) over cluster sizes nᵢ.
    Within a cluster, blocks are verified by the pair-join kernel of
    ``similarity.cosine_pairs`` (``_block_pair_join``), so a same-cluster
    pair is emitted exactly when ``cosine_pairs`` emits it: the cosine
    rounded half-up to 4 places is ≥ threshold, and zero-norm vectors
    never pair. ``sub_blocks`` bounds a block to (cluster size /
    sub_blocks) vectors so a hot cluster cannot exceed executor memory.

    Output: (id_a, id_b, cosine).
    """
    rows = (
        with_vec_norm(vectors, vec_col, id_col)
        .join(assignments.select(F.col("vec_id").alias("id"), "cluster"), "id")
        .select(
            "cluster",
            F.pmod(F.xxhash64(F.col("id")), F.lit(sub_blocks)).alias("sb"),
            F.struct(F.col("id").cast("long").alias("id"), "v").alias("item"),
        )
    )
    return _block_pair_join(rows, threshold, "sb", within=("cluster",))


def semantic_dedup(
    df: DataFrame,
    k: int = 16,
    threshold: float = 0.92,
    iters: int = 8,
    seed: int = 42,
    sub_blocks: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication decision per vector.

    cluster (k-means) → within-cluster cosine pairs ≥ threshold →
    connected components → keep the minimum id of each duplicate group.

    Output: ``(vec_id, cluster, component, is_survivor)`` for EVERY input
    row — non-duplicated vectors form their own singleton component and
    survive. Downstream corpus assembly anti-joins the non-survivors, the
    same apply pattern as ``queries.corpus_dedup_apply``.
    """
    from mini_feature_store_spark.operators.graph import connected_components

    # assignment is recomputed by the two consumers below (pairs + final
    # join) — one map-only scan each, cheap next to caching the whole corpus
    assigns = kmeans_assign(
        df,
        kmeans_fit(df, k, iters, seed, vec_col=vec_col, id_col=id_col),
        vec_col,
        id_col,
    )
    pairs = cluster_cosine_pairs(
        df, assigns, threshold, sub_blocks, vec_col, id_col
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return (
        assigns.select("vec_id", "cluster")
        .join(
            comp.select(
                F.col("node").alias("vec_id"),
                F.col("component").cast("long").alias("component"),
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            "cluster",
            F.coalesce("component", F.col("vec_id").cast("long")).alias(
                "component"
            ),
        )
        .withColumn(
            "is_survivor", F.col("component") == F.col("vec_id").cast("long")
        )
    )
