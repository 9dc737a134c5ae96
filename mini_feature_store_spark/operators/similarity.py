"""Embedding similarity search (prompt north star; no reference analog).

Pair miners (all pairs with cosine ≥ threshold, output (id_a, id_b,
cosine) with id_a < id_b):

- ``cosine_pairs``            exact block-GEMM all-pairs over hash blocks
  (verification baseline for modest corpora).
- ``cosine_pairs_lsh``        LSH-bucketed GEMM: the scale path.
- ``clustering.cluster_cosine_pairs`` the same within k-means clusters.

They differ only in candidate blocking. Verification is one pair-join
kernel: ``_flat_block`` (a block as ids + one flattened vector array),
``_score_blocks`` (one thresholded GEMM per pair of blocks) and
``_block_pair_join`` (blocks of a group meet in pairs; one
``mapInPandas`` body verifies them).
Every miner therefore thresholds the cosine rounded half-up to 4 places,
as the DuckDB oracles do, and never pairs a zero-norm vector.

Top-k search, output (query_id, neighbor_id, cosine, rank) ordered by
(cosine desc, neighbor_id asc), self and degenerate pairs excluded:

- ``cosine_topk_bruteforce``  exact: queries × corpus with a JVM-expression
  dot product (``zip_with`` + ``aggregate`` — no UDF); broadcast queries,
  streamed corpus. The oracled reference for every approximate variant.
- ``lsh_topk``                random-hyperplane LSH: candidates are bucket
  collisions (multi-probe on 1-bit flips) — an equi-join on bucket id.
- ``ivf_topk``                IVF-Flat: hash-sampled centroids, queries probe
  their ``n_probe`` nearest cells.
- ``pq_topk``                 IVF-PQ: IVF probe + product-quantized codes for
  the approximate score, exact re-rank of a ``refine·k`` shortlist.
- ``int8_topk``               full scan over ``int8_quantize`` codes,
  exact re-rank of a ``refine·k`` shortlist.
- ``ann_index.pq_topk_indexed`` the same IVF-PQ search over a persisted
  index.

All of them share one search core: ``_side`` (the renamed carrier of one
search side), ``_pq_shortlist`` (the approximate stage of both IVF-PQ
searches), ``_exact_rerank`` (drop degenerate pairs, ``_pair_cos``, rank)
and ``_rank_tail`` (the one per-query window). The IVF kernels
(``_ivf_centroids``, ``_nearest_cell``, ``_probed_queries``) and the PQ
codec (``_train_ivfpq``, ``_pq_assign_codes``, ``_pq_reconstruct``) are
likewise shared with the persistent index. ``semantic_decontaminate`` is
the max-cosine-per-vector sibling used for eval decontamination.

Representation note: vectors are carried as ``(v: array<double>, nrm:
double)`` — the L2 norm is computed ONCE per row and materialized as a
scalar column, and cosine(a, b) = dot(a, b) / (nrm_a · nrm_b). Normalizing
the array instead (``transform(v, x -> x / norm(v))``) re-evaluates the
O(d) norm aggregate per element (O(d²) per row), and the unit-vector
expression gets re-inlined at every use site — measured 30× slower on the
all-pairs join. Compute-heavy projections are ``spread()`` first so a
small input (single parquet row group) doesn't pin the operator to 1 core.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mini_feature_store_spark.functions import round_half_up, spread


def _np_round_half_up(a, scale: int = 4):
    """Vectorized floor(x*10^scale + 0.5)/10^scale — the numpy mirror of
    functions.round_half_up, so Arrow-UDF (GEMM) paths round identically
    to the JVM expression paths and to the DuckDB oracle mirrors
    (np.round is half-to-even; engine round() isn't portable either —
    see functions.round_half_up)."""
    p = float(10 ** scale)
    return np.floor(a * p + 0.5) / p


def _np_safe_div(num, den):
    """Elementwise num/den with zero-norm guards: degenerate (zero)
    denominators yield 0.0 instead of a NaN that poisons threshold
    masks and orderings (np.divide would warn + emit nan; the JVM-side
    twin of this guard is the CaseWhen in ``cosine_topk_bruteforce``).
    The 0.0 is a crash guard, NOT a score: every ranking/emission site
    additionally EXCLUDES den <= 0 pairs (the repo-wide convention —
    cosine is undefined for zero vectors), so the filled value never
    reaches an output row."""
    num = np.asarray(num, dtype=np.float64)
    den = np.asarray(den, dtype=np.float64)
    return np.divide(num, den, out=np.zeros_like(num), where=den > 0)



def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_vec_norm(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Project to ``(id, v: array<double>, nrm: double)`` — the carrier
    representation for all cosine math (see module docstring)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)).alias(
            "nrm"
        ),
    )


# ── shared search core ──────────────────────────────────────────────────────
# Every top-k operator is candidate pairs → (approximate shortlist) → exact
# re-rank → per-query rank tail; each stage below is the one copy.


def _side(df: DataFrame, side: str, vec_col: str, id_col: str) -> DataFrame:
    """``with_vec_norm`` renamed for one side of a search: ``"q"`` →
    ``(query_id, q_v, q_nrm)``, ``"c"`` → ``(neighbor_id, c_v, c_nrm)``."""
    return with_vec_norm(df, vec_col, id_col).select(
        F.col("id").alias("query_id" if side == "q" else "neighbor_id"),
        F.col("v").alias(f"{side}_v"),
        F.col("nrm").alias(f"{side}_nrm"),
    )


def _rank_tail(df: DataFrame, score: str, n: int) -> DataFrame:
    """Best ``n`` rows per query by (``score`` desc, neighbor_id asc), with
    their 1-based ``rank`` — the one per-query window of every top-k
    operator, for shortlists and final rankings alike."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return df.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= n
    )


def _pair_cos(qv, cv, qn, cn):
    """Arrow-batched exact cosine for candidate PAIRS: one einsum per batch
    instead of an interpreted ``aggregate(zip_with(...))`` per row (the
    exact re-rank is the hot loop of every ANN path — CodegenFallback there
    costs 10-100×, same rationale as the block-GEMM in ``cosine_pairs``).

    Built lazily: ``pandas_udf`` return-type parsing needs an active
    session, so the decorator must not run at import time."""

    @F.pandas_udf("double")
    def cosf(
        qv: pd.Series, cv: pd.Series, qn: pd.Series, cn: pd.Series
    ) -> pd.Series:
        a = np.array(qv.tolist(), dtype=np.float64)
        b = np.array(cv.tolist(), dtype=np.float64)
        return pd.Series(
            _np_safe_div(
                np.einsum("ij,ij->i", a, b), qn.to_numpy() * cn.to_numpy()
            )
        )

    return cosf(qv, cv, qn, cn)


def _exact_rerank(pairs: DataFrame, k: int) -> DataFrame:
    """Exact top-``k`` of candidate ``pairs`` carrying both sides' vectors
    and norms. Degenerate (zero-norm) pairs are dropped — the
    ``cosine_topk_bruteforce`` convention, so recall never skews on zero
    vectors. Output: (query_id, neighbor_id, cosine, rank)."""
    scored = pairs.where(F.col("q_nrm") * F.col("c_nrm") > 0).select(
        "query_id",
        "neighbor_id",
        round_half_up(_pair_cos("q_v", "c_v", "q_nrm", "c_nrm")).alias(
            "cosine"
        ),
    )
    return _rank_tail(scored, "cosine", k).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector (self excluded).

    Output: (query_id, neighbor_id, cosine, rank) with deterministic
    (cosine desc, neighbor_id asc) ordering.
    """
    q = _side(queries, "q", vec_col, id_col)
    c = _side(spread(corpus), "c", vec_col, id_col)
    # ANSI mode (Spark 4's default) turns a zero-norm denominator into a
    # hard DIVIDE_BY_ZERO job failure; the CaseWhen only evaluates the
    # division when the norm product is positive. Degenerate (zero-norm)
    # pairs are EXCLUDED from the ranking entirely — the repo-wide
    # convention shared by the GEMM pair miners and every ANN rescorer,
    # so recall comparisons against this ground truth never skew on
    # zero vectors (cosine is simply undefined for them).
    den = F.col("q_nrm") * F.col("c_nrm")
    cos = F.when(den > 0, _dot(F.col("q_v"), F.col("c_v")) / den)
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where((F.col("query_id") != F.col("neighbor_id")) & (den > 0))
        .select(
            "query_id",
            "neighbor_id",
            round_half_up(cos).alias("cosine"),
        )
    )
    return _rank_tail(scored, "cosine", k).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


# ── cosine pair-join kernel ─────────────────────────────────────────────────
# The threshold pair miners (``cosine_pairs``, ``cosine_pairs_lsh`` and
# ``clustering.cluster_cosine_pairs``) differ only in how they block
# candidates: hash blocks, LSH buckets, k-means clusters. Verification is
# below, once: one flat-block layout and one thresholded GEMM per pair of
# blocks, under the oracle's rounding and zero-norm rules.

_PAIR_SCHEMA = "id_a long, id_b long, cosine double"


def _flat_block(items: str, prefix: str = "") -> list[Column]:
    """``{prefix}ids``, ``{prefix}flat`` and ``{prefix}dim`` of one block
    ``items: array<struct<id: long, v: array<double>>>``: the ids, every
    ``v`` in item order as ONE flattened array, and the vector width.

    Blocks travel as flat columns so the Arrow→numpy conversion in the
    worker is a contiguous buffer copy + reshape; an array<struct<id,v>>
    column forces a per-item dict conversion in Python (measured as the
    dominant cost of ``cosine_pairs``, ~2s of a 3s query). ``dim`` reads
    the first item, so it needs a non-empty block."""
    items = F.col(items)
    return [
        F.transform(items, lambda x: x["id"]).alias(f"{prefix}ids"),
        F.flatten(F.transform(items, lambda x: x["v"])).alias(f"{prefix}flat"),
        F.size(items[0]["v"]).alias(f"{prefix}dim"),
    ]


def _score_blocks(ids_a, flat_a, ids_b, flat_b, dim, threshold, diagonal):
    """Pairs of block a × block b with cosine ≥ ``threshold``, as
    ``(id_min, id_max, cosine)`` arrays — the one verification step of
    every pair miner.

    The cosine is rounded half-up to 4 places BEFORE the threshold, as
    the DuckDB oracles do (``FLOOR(cos·10⁴+0.5)/10⁴ >= t``), and a
    degenerate (zero-norm) pair never emits, whatever the threshold.
    ``diagonal`` marks a block meeting itself: it keeps one orientation
    (``id_a < id_b``); disjoint blocks meet once, and a pair's
    orientation is (min, max) whichever block holds which id."""
    ia = np.asarray(ids_a, dtype=np.int64)
    ib = np.asarray(ids_b, dtype=np.int64)
    ma = np.asarray(flat_a, dtype=np.float64).reshape(len(ia), dim)
    mb = np.asarray(flat_b, dtype=np.float64).reshape(len(ib), dim)
    den = np.outer(np.linalg.norm(ma, axis=1), np.linalg.norm(mb, axis=1))
    cos = _np_round_half_up(_np_safe_div(ma @ mb.T, den))
    mask = (cos >= threshold) & (den > 0)
    if diagonal:
        mask &= ia[:, None] < ib[None, :]
    ii, jj = np.nonzero(mask)
    x, y = ia[ii], ib[jj]
    return np.minimum(x, y), np.maximum(x, y), cos[ii, jj]


def _pair_frames(parts):
    """The ``_score_blocks`` results of one Arrow batch as at most one
    output frame."""
    if sum(len(p[0]) for p in parts):
        yield pd.DataFrame(
            {
                name: np.concatenate([p[i] for p in parts])
                for i, name in enumerate(("id_a", "id_b", "cosine"))
            }
        )


def _block_pair_join(
    rows: DataFrame, threshold: float, block: str, within: tuple[str, ...] = ()
) -> DataFrame:
    """Thresholded pairs of ``rows`` (``within`` + ``block`` + ``item``
    columns) as ``(id_a, id_b, cosine)``: one flat block per (``within``,
    ``block``) group; the blocks of one ``within`` group meet in pairs
    (a ≤ b on ``block``), and one ``mapInPandas`` body verifies every
    block pair with ``_score_blocks``. Each unordered pair of items is
    emitted once: an id lands in one block, block pairs meet once, and
    a block meeting itself keeps ``id_a < id_b``. ``sort_array`` gives
    the derived block columns one consistent item order (two independent
    collect_lists would not be aligned)."""
    keys = [*within, block]
    blocks = (
        rows.groupBy(*keys)
        .agg(F.sort_array(F.collect_list("item")).alias("items"))
        .select(*keys, *_flat_block("items"))
    )
    a, b = (
        blocks.select([F.col(c).alias(side + c) for c in blocks.columns])
        for side in ("a_", "b_")
    )
    on = F.col("a_" + block) <= F.col("b_" + block)
    for key in within:
        on = (F.col("a_" + key) == F.col("b_" + key)) & on

    def verify(batches):
        for pdf in batches:
            yield from _pair_frames(
                [
                    _score_blocks(*row, threshold, diagonal)
                    for *row, diagonal in zip(
                        pdf["a_ids"],
                        pdf["a_flat"],
                        pdf["b_ids"],
                        pdf["b_flat"],
                        pdf["a_dim"],
                        pdf["diagonal"],
                    )
                ]
            )

    return (
        a.join(b, on)
        .select(
            "a_ids",
            "a_flat",
            "b_ids",
            "b_flat",
            "a_dim",
            (F.col("a_" + block) == F.col("b_" + block)).alias("diagonal"),
        )
        .mapInPandas(verify, _PAIR_SCHEMA)
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_blocks: int = 32,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold (embedding near-dup).

    Block-GEMM plan — the only shape that survives scale for exact
    all-pairs: vectors are hashed into ``num_blocks`` blocks (collect_list
    per block), block pairs (bi ≤ bj) meet in an equi-free join of
    B(B+1)/2 rows, and each block pair is ONE vectorized numpy matmul
    inside Arrow-batched ``mapInPandas`` (``_block_pair_join``). Work is
    O(n²·d) either way, but GEMM runs at SIMD throughput while a per-pair
    ``aggregate(zip_with(...))`` expression is interpreted
    (CodegenFallback) — measured 10-100× slower and variance-prone. Tune
    ``num_blocks`` so a block (n/B vectors) fits executor memory; the B²
    join fan-out is inherent to exact all-pairs.
    """
    return _block_pair_join(
        spread(df).select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).alias("bid"),
            F.struct(
                F.col(id_col).cast("long").alias("id"),
                F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
            ).alias("item"),
        ),
        threshold,
        "bid",
    )


def cosine_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate all-pairs cosine ≥ threshold: LSH bucketing + exact
    intra-bucket GEMM scoring — the 100 TB default for embedding near-dup,
    where ``cosine_pairs``'s exact all-pairs block-GEMM is the
    verification baseline only.

    Collision semantics (what bounds recall): a pair is scored iff its
    sign-bit signatures collide — or, with ``multiprobe``, differ by ≤ 1
    bit — in ANY of the ``n_tables`` tables (recall per table for
    per-plane agreement p is P[≤ 1 of r bits differ]; pinned ≥ 0.95
    differentially vs the exact pair set in
    tests/test_dedup_text_similarity.py).

    Execution shape: instead of materializing the candidate PAIR set and
    joining vectors back per pair (two extra shuffles, one row per
    candidate — measured 5× the whole exact GEMM at thin-pruning
    operating points), each (table, bucket) group is scored in ONE numpy
    matmul: base members (signature == bucket) × (base ∪ 1-bit-flip probe
    members). Only pairs ≥ threshold are ever materialized as rows, so
    shuffle volume is n·L·(1+r) bucketed vector rows plus the (sparse)
    RESULT set — never a candidate product. Duplicates across
    tables/probes collapse in one final dropDuplicates over result rows.

    Tuning: bucket occupancy n·(1+r)/2^r drives per-task memory and GEMM
    size — grow ``n_planes`` with log(n) (and ``n_tables`` to hold
    recall). Caveat measured on THIS repo's synthetic embeddings: at the
    dedup operating point (threshold 0.4 over isotropic random vectors)
    the signal/background per-plane gap is 0.63 vs 0.50, so NO (r, L)
    prunes more than ~2× at recall ≥ 0.95 — near-quadratic scoring there
    is information-theoretically forced, not an implementation artifact;
    real near-dup corpora (threshold ≥ 0.8, p ≥ 0.79) prune by orders of
    magnitude under the same operator. See SCALING.md.
    """
    bucketer = _lsh_bucketer(n_planes, n_tables, seed)
    unit = with_vec_norm(spread(df), vec_col, id_col)

    sig = unit.select(
        "id", "v", F.posexplode(bucketer("v")).alias("tbl", "code")
    )
    # One row per (table, bucket) membership: base = own signature bucket;
    # probe = each 1-bit flip (probe-side only — the relation is symmetric,
    # so flipping one side reaches every ≤1-bit pair in some group).
    memberships = (
        F.array(
            F.struct(F.col("code").alias("bucket"), F.lit(True).alias("is_base")),
            *[
                F.struct(
                    F.col("code").bitwiseXOR(F.lit(1 << i)).alias("bucket"),
                    F.lit(False).alias("is_base"),
                )
                for i in range(n_planes)
            ],
        )
        if multiprobe
        else F.array(
            F.struct(F.col("code").alias("bucket"), F.lit(True).alias("is_base"))
        )
    )
    rows = sig.select(
        "tbl",
        F.explode(memberships).alias("m"),
        F.struct(F.col("id").cast("long").alias("id"), "v").alias("item"),
    ).select("tbl", F.col("m.bucket").alias("bucket"), F.col("m.is_base").alias("is_base"), "item")

    groups = (
        rows.groupBy("tbl", "bucket")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("is_base"), F.col("item")))
            ).alias("b_items"),
            F.sort_array(
                F.collect_list(F.when(~F.col("is_base"), F.col("item")))
            ).alias("p_items"),
        )
        .where(F.size("b_items") > 0)
        # a probe list can be empty: its vectors have the base's width
        .select(*_flat_block("b_items", "b_"), *_flat_block("p_items", "p_")[:2])
    )

    def verify(batches):
        for pdf in batches:
            parts = []
            for b_ids, b_flat, dim, p_ids, p_flat in zip(
                pdf["b_ids"], pdf["b_flat"], pdf["b_dim"], pdf["p_ids"], pdf["p_flat"]
            ):
                # base × base meets itself; a probe member never is a base
                # member of the same group (their signatures differ)
                parts.append(
                    _score_blocks(b_ids, b_flat, b_ids, b_flat, dim, threshold, True)
                )
                parts.append(
                    _score_blocks(b_ids, b_flat, p_ids, p_flat, dim, threshold, False)
                )
            yield from _pair_frames(parts)

    return (
        groups.mapInPandas(verify, schema=_PAIR_SCHEMA)
        # a pair can clear the threshold in several tables/probe groups
        .dropDuplicates(["id_a", "id_b"])
    )


def _lsh_bucketer(n_planes: int, n_tables: int, seed: int):
    """Arrow-batched bucket ids for ALL hash tables at once — the one
    hyperplane stack of both LSH operators (table ``t`` draws its
    ``n_planes`` Gaussian hyperplanes from seed ``seed + 1000·t``), drawn
    at the width of the batch it hashes.

    One numpy matmul per Arrow batch replaces L·r interpreted plane-dot
    expressions per row (CodegenFallback chains). Returns, per vector, an
    array of L bucket ids (sign bits of the projections, little-endian).
    Scale-invariant: operates on the raw (un-normalized) vector.
    """
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def buckets(vs: pd.Series) -> pd.Series:
        mat = np.array(vs.tolist(), dtype=np.float64)
        planes = np.concatenate(
            [
                np.random.default_rng(seed + 1000 * t).standard_normal(
                    (n_planes, mat.shape[1])
                )
                for t in range(n_tables)
            ]
        )
        proj = (mat @ planes.T) > 0
        bits = proj.reshape(len(mat), n_tables, n_planes).astype(np.int64)
        return pd.Series(list(bits @ weights))

    return buckets


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH + exact re-rank.

    Standard (r, L) LSH: ``n_tables`` independent tables of ``n_planes`` sign
    bits each; a pair is a candidate if it collides in ANY table (recall
    1 − (1 − p^r)^L for per-plane agreement p). ``multiprobe`` additionally
    probes every 1-bit flip per table, trading candidate volume for tables.

    Scale shape: corpus rows are exploded L times and shuffled once by
    (table, bucket); queries probe L·(1+r) buckets each. Candidate volume —
    not corpus size — drives the re-rank cost; tune (r, L) so bucket
    occupancy stays bounded. At 100 TB this is the difference between a
    crossJoin (impossible) and an equi-join (routine).
    """
    bucketer = _lsh_bucketer(n_planes, n_tables, seed)
    c_unit = _side(spread(corpus), "c", vec_col, id_col)
    q_unit = _side(queries, "q", vec_col, id_col)

    # Bucket keys only — the candidate-generation join and the
    # (query, neighbor) dedup shuffle carry 16-byte id rows, never the
    # 512-byte vectors (those are joined back onto the far smaller unique
    # candidate set for the re-rank).
    c = c_unit.select(
        "neighbor_id",
        F.posexplode(bucketer("c_v")).alias("tbl", "bucket"),
    )

    q_base = q_unit.select(
        "query_id",
        F.posexplode(bucketer("q_v")).alias("tbl", "base"),
    )
    probe = (
        F.array(
            F.col("base"),
            *[
                F.col("base").bitwiseXOR(F.lit(1 << i))
                for i in range(n_planes)
            ],
        )
        if multiprobe
        else F.array(F.col("base"))
    )
    q = q_base.select("query_id", "tbl", F.explode(probe).alias("bucket"))

    cand_ids = (
        q.join(c, ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _exact_rerank(
        cand_ids.join(c_unit, "neighbor_id").join(
            F.broadcast(q_unit), "query_id"
        ),
        k,
    )


# ── IVF kernels (shared with ann_index) ─────────────────────────────────────


def _hash_sample_matrix(c: DataFrame, n: int, seed: int) -> "np.ndarray":
    """Deterministic hash-ordered sample of a corpus side (``_side(..., "c")``)
    → float64 matrix: the one training sample of IVF cells and PQ
    codebooks."""
    rows = (
        c.orderBy(F.xxhash64(F.col("neighbor_id").cast("string"), F.lit(seed)))
        .limit(n)
        .select("c_v")
        .collect()
    )
    return np.array([r["c_v"] for r in rows], dtype=np.float64)


def _ivf_centroids(sample: "np.ndarray", n_cells: int) -> "np.ndarray":
    """Sampled-centroid IVF cells: the hash-ordered sample's first
    ``n_cells`` rows at unit length. Zero-safe: a zero sample row gives a
    zero centroid, not a NaN one that wins every argmax and loses every
    probe ordering."""
    cent = sample[:n_cells]
    return _np_safe_div(cent, np.linalg.norm(cent, axis=1)[:, None])


def _nearest_cell(mat: "np.ndarray", cent_unit: "np.ndarray") -> "np.ndarray":
    """Max-cosine cell id per row. A row's own norm is the same for every
    cell, so the argmax of the raw dot product is the max-cosine cell."""
    return np.argmax(mat @ cent_unit.T, axis=1).astype(np.int32)


def _probed_queries(
    queries: DataFrame,
    cent_unit: "np.ndarray",
    n_probe: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Query side of an IVF probe: ``(query_id, q_v, q_nrm, cell)``, one row
    per each of the query's ``n_probe`` nearest cells."""

    @F.pandas_udf("array<int>")
    def probe_cells(vs: pd.Series) -> pd.Series:
        mat = np.array(vs.tolist(), dtype=np.float64)
        order = np.argsort(-(mat @ cent_unit.T), axis=1)[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    return _side(queries, "q", vec_col, id_col).select(
        "*", F.explode(probe_cells("q_v")).alias("cell")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via IVF-Flat: inverted file over sampled centroids.

    1. Centroids: ``n_cells`` corpus vectors picked by deterministic hash
       order (sampled-centroid IVF; a k-means refinement would slot in here
       unchanged) — tiny, collected once, shipped in the UDF closure.
    2. Assign: every corpus vector goes to its max-cosine centroid — one
       numpy matmul per Arrow batch, one shuffle by cell id.
    3. Probe: each query searches its ``n_probe`` nearest cells only, so
       re-rank cost is ~``n_probe/n_cells`` of the corpus per query.
    4. Exact cosine re-rank of the probed candidates.

    Scale shape: candidate generation is an equi-join on cell id (like the
    LSH path); cell sizes are balanced in expectation by the hash-sampled
    centroids, and AQE's skew handling covers hot cells. Recall depends on
    ``n_probe/n_cells``; validated against brute force in tests.
    """
    c = _side(spread(corpus), "c", vec_col, id_col)
    cent_unit = _ivf_centroids(_hash_sample_matrix(c, n_cells, seed), n_cells)

    @F.pandas_udf("int")
    def nearest_cell(vs: pd.Series) -> pd.Series:
        mat = np.array(vs.tolist(), dtype=np.float64)
        return pd.Series(_nearest_cell(mat, cent_unit))

    cand = (
        _probed_queries(queries, cent_unit, n_probe, vec_col, id_col)
        .join(c.withColumn("cell", nearest_cell("c_v")), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    return _exact_rerank(cand, k)


# ── PQ codec (shared with ann_index) ────────────────────────────────────────


def _train_ivfpq(
    sample: "np.ndarray",
    n_cells: int,
    m_sub: int,
    nbits: int,
    kmeans_iters: int,
    seed: int,
) -> tuple["np.ndarray", "np.ndarray"]:
    """Driver-side IVF centroids + per-subspace PQ codebooks from a bounded
    sample. Returns (cent_unit (n_cells, dim), books (m_sub, 2^nbits, sub)).

    Codebooks are Euclidean k-means per sub-vector from a random start —
    deliberately not ``clustering.kmeans_fit`` (spherical, maxmin start),
    which would change every PQ code."""
    dim = sample.shape[1]
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    sub = dim // m_sub
    n_codes = 1 << nbits
    rng = np.random.default_rng(seed)
    subs = sample.reshape(len(sample), m_sub, sub)
    books = np.empty((m_sub, n_codes, sub))
    for j in range(m_sub):
        data = subs[:, j, :]
        cb = data[rng.choice(len(data), n_codes, replace=len(data) < n_codes)]
        for _ in range(kmeans_iters):
            assign = (
                ((data[:, None, :] - cb[None, :, :]) ** 2).sum(-1).argmin(1)
            )
            for q_ in range(n_codes):
                m = assign == q_
                if m.any():
                    cb[q_] = data[m].mean(0)
        books[j] = cb
    return _ivf_centroids(sample, n_cells), books


def _pq_assign_codes(
    mat: "np.ndarray", books: "np.ndarray"
) -> "np.ndarray":
    """Nearest-codeword id per subspace → (n, m_sub) int16 codes: the one
    PQ encoder (``pq_topk``, index build, append and drift report)."""
    m_sub, _, sub = books.shape
    s = mat.reshape(len(mat), m_sub, sub)
    codes = np.empty((len(mat), m_sub), dtype=np.int16)
    for j in range(m_sub):
        d2 = ((s[:, j, None, :] - books[j][None, :, :]) ** 2).sum(-1)
        codes[:, j] = d2.argmin(1).astype(np.int16)
    return codes


def _pq_reconstruct(codes: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """Decode (n, m_sub) codes back to (n, dim) via codebook gathers."""
    m_sub = books.shape[0]
    return np.concatenate(
        [books[j][codes[:, j].astype(np.int64)] for j in range(m_sub)], axis=1
    )


def _pq_shortlist(
    cand: DataFrame, books: "np.ndarray", n: int, carry: tuple[str, ...]
) -> DataFrame:
    """Approximate stage of both IVF-PQ searches: the best ``n`` candidates
    per query by cosine(query, DECODED candidate), one gather+einsum per
    Arrow batch. ``cand`` carries (query_id, neighbor_id, q_v, q_nrm,
    codes, c_nrm); the shortlist keeps the ids plus ``carry``.

    Degenerate pairs are dropped FIRST: a zero vector's 0.0 approximate
    score outranks every negative cosine, so it would take a shortlist
    slot that the exact stage then empties."""

    @F.pandas_udf("double")
    def approx_cos(
        qv: pd.Series, qn: pd.Series, codes: pd.Series, cn: pd.Series
    ) -> pd.Series:
        qm = np.array(qv.tolist(), dtype=np.float64)
        dec = _pq_reconstruct(np.array(codes.tolist(), dtype=np.int64), books)
        return pd.Series(
            _np_safe_div(
                np.einsum("ij,ij->i", qm, dec), qn.to_numpy() * cn.to_numpy()
            )
        )

    scored = cand.where(F.col("q_nrm") * F.col("c_nrm") > 0).select(
        "query_id",
        "neighbor_id",
        *carry,
        approx_cos("q_v", "q_nrm", "codes", "c_nrm").alias("approx"),
    )
    return _rank_tail(scored, "approx", n)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m_sub: int = 16,
    nbits: int = 4,
    refine: int = 4,
    seed: int = 42,
    sample_size: int = 2048,
    kmeans_iters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via IVF-PQ: inverted file for candidate pruning +
    product-quantized codes for cheap approximate scoring + exact re-rank.

    Why this exists next to ``ivf_topk``: at 100 TB the scoring hot loop
    must not touch raw vectors. PQ splits each vector into ``m_sub``
    subvectors and replaces each with the id of its nearest codeword
    (``2^nbits`` per subspace, k-means-trained on a bounded sample) —
    ``m_sub·nbits`` bits per vector instead of ``dim·32`` (64-d float32:
    256 B → 8 B at the defaults, 32×). Approximate score =
    cosine(query, DECODED candidate) computed as one numpy gather+einsum
    per Arrow batch; only the ``refine·k`` best per query are re-ranked
    with true vectors, so exactness touches O(k) rows per query.

    Stages (all equi-joins / windows, no all-pairs anywhere):
    1. train: hash-ordered ``sample_size`` rows → driver k-means per
       subspace (bounded, seeded — the standard offline codebook step);
       IVF centroids hash-sampled as in ``ivf_topk``.
    2. encode: corpus → (cell, codes) via one Arrow matmul batch; codes
       (array<smallint>) + norm are the ONLY per-row payload shuffled to
       the candidate join.
    3. probe + approx score (``_pq_shortlist``): queries join their
       ``n_probe`` cells, degenerate pairs drop, decode-gather-einsum per
       batch, window top ``refine·k``.
    4. exact re-rank: join true vectors for the survivors only; window
       top ``k``. Output: (query_id, neighbor_id, cosine, rank) — same
       contract as the other topk operators; ``cosine`` is EXACT.

    The vector dimension is read off the training sample; ``m_sub`` must
    divide it (``ValueError`` otherwise). Recall on isotropic vectors
    (PQ's adversarial case — no subspace structure to exploit) is pinned
    in tests; structured/real embeddings quantize far better. Precision
    of emitted cosines is 1.0 by construction (final scores are exact).
    """
    c = _side(spread(corpus), "c", vec_col, id_col)
    sample = _hash_sample_matrix(c, max(sample_size, n_cells), seed)
    cent_unit, books = _train_ivfpq(
        sample, n_cells, m_sub, nbits, kmeans_iters, seed
    )

    @F.pandas_udf("struct<cell:int, codes:array<smallint>>")
    def encode(vs: pd.Series) -> pd.DataFrame:
        mat = np.array(vs.tolist(), dtype=np.float64)
        return pd.DataFrame(
            {
                "cell": _nearest_cell(mat, cent_unit),
                "codes": list(_pq_assign_codes(mat, books)),
            }
        )

    enc = c.select("neighbor_id", "c_nrm", encode("c_v").alias("e")).select(
        "neighbor_id", "c_nrm", "e.cell", "e.codes"
    )
    cand = (
        _probed_queries(queries, cent_unit, n_probe, vec_col, id_col)
        .join(enc, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    shortlist = _pq_shortlist(cand, books, refine * k, ("q_v", "q_nrm"))
    # raw vectors never ride the probe join; they join back for the
    # shortlist only
    return _exact_rerank(shortlist.join(c, "neighbor_id"), k)


def int8_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization of an embedding column.

    The storage-tier companion to ``pq_topk``: scale = max|x|/127, code_i =
    round-half-up(x_i/scale). 4x memory cut (float32 -> int8) with exact
    dequantization ``code*scale`` — the standard first step before shipping
    an embedding corpus to an ANN index. Everything is built-in array HOFs
    (transform/aggregate) over one scan: zero shuffles, zero Python, and —
    unlike the k-means-trained PQ codebooks — fully SQL-expressible, so
    this one is oracle-checked end to end (codes are exact integers).

    Round-half-up is spelled ``floor(x/scale + 0.5)`` explicitly because
    engine-native ``round`` functions disagree on half-way ties; floor is
    identical everywhere. All-zero vectors quantize to all-zero codes.

    Layered as three stacked projections so ``scale`` and ``codes``
    materialize once per row: HOF lambdas are interpreted (CodegenFallback)
    and common-subexpression elimination does not reach inside them, so
    inlining the scale fold into every per-element lambda re-runs an O(d)
    fold per element — measured 7× slower (3.4 s → 0.47 s at sf0.1) for
    the exact same semantics.

    Output: (vec_id, qscale r6, codes array<int>, code_min, code_max,
    recon_mse r6).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = df.select(
        F.col(id_col),
        v.alias("_v"),
        (
            F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
            / F.lit(127.0)
        ).alias("_scale"),
    ).select(
        id_col,
        "_v",
        "_scale",
        F.when(
            F.col("_scale") > 0,
            F.transform(
                "_v",
                lambda x: F.floor(x / F.col("_scale") + F.lit(0.5)).cast("int"),
            ),
        )
        .otherwise(F.transform("_v", lambda x: F.lit(0)))
        .alias("codes"),
    )
    # explicit (e)*(e), not pow(e, 2): engine pow implementations are not
    # guaranteed bit-identical even for integer exponents
    err2 = F.zip_with(
        F.col("_v"),
        F.col("codes"),
        lambda x, c: (x - c.cast("double") * F.col("_scale"))
        * (x - c.cast("double") * F.col("_scale")),
    )
    mse = F.aggregate(err2, F.lit(0.0), lambda acc, e: acc + e) / F.size("_v")
    return staged.select(
        F.col(id_col),
        round_half_up(F.col("_scale"), 6).alias("qscale"),
        F.col("codes"),
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
        round_half_up(mse, 6).alias("recon_mse"),
    )


def int8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    refine: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k over the int8-quantized corpus + exact re-rank.

    The middle rung of the ANN ladder: a full corpus scan like
    ``cosine_topk_bruteforce``, but the scoring pass reads the 4×-smaller
    ``int8_quantize`` representation (codes + one scale per vector) and
    runs one numpy int8-decode GEMM per Arrow batch against the broadcast
    query block — at 100 TB, scan IO is the bound, so reading a quarter
    of the bytes is a 4× wall-clock lever before any pruning (IVF/PQ)
    applies. Only ``refine·k`` survivors per query touch full-precision
    vectors; emitted cosines are EXACT.

    Output: (query_id, neighbor_id, cosine, rank) — same contract as the
    other topk operators. Zero-norm queries and zero-norm decoded corpus
    rows score no pair (cosine is undefined for them), so neither takes a
    shortlist slot.
    """
    q = _side(queries, "q", vec_col, id_col)
    q_rows = q.collect()
    q_nrm = np.array([r["q_nrm"] for r in q_rows], dtype=np.float64)
    live = q_nrm > 0
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)[live]
    q_mat = np.array([r["q_v"] for r in q_rows], dtype=np.float64)[live]
    q_t = (q_mat / q_nrm[live, None]).T.copy()

    enc = int8_quantize(spread(corpus), vec_col, id_col).select(
        F.col(id_col).alias("neighbor_id"), "qscale", "codes"
    )

    def score(batches):
        for pdf in batches:
            codes = np.array(pdf["codes"].tolist(), dtype=np.int8)
            scales = pdf["qscale"].to_numpy(dtype=np.float64)
            dec = codes.astype(np.float64) * scales[:, None]
            nrm = np.linalg.norm(dec, axis=1)
            keep = nrm > 0
            sims = (dec[keep] / nrm[keep, None]) @ q_t  # (batch, n_queries)
            nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)[keep]
            n_q = len(q_ids)
            yield pd.DataFrame(
                {
                    "query_id": np.tile(q_ids, len(nid)),
                    "neighbor_id": np.repeat(nid, n_q),
                    "approx": sims.reshape(-1),
                }
            )

    cand = enc.mapInPandas(
        score, "query_id long, neighbor_id long, approx double"
    ).where(F.col("query_id") != F.col("neighbor_id"))
    shortlist = _rank_tail(cand, "approx", refine * k)
    full = _side(corpus, "c", vec_col, id_col)
    return _exact_rerank(
        shortlist.join(full, "neighbor_id").join(F.broadcast(q), "query_id"),
        k,
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space decontamination: flag corpus vectors whose max
    cosine against ANY benchmark vector reaches ``threshold`` — the
    semantic sibling of the n-gram ``decontaminate`` (catches
    paraphrased / rephrased eval leakage that token overlap misses;
    cf. Yang et al. 2023, arXiv:2311.04850).

    Output: ``(id_col, max_cosine, matched_id, contaminated)`` — one
    row per corpus vector. ``matched_id`` is the benchmark vector
    attaining the max (ties at the 4-decimal cosine break toward the
    SMALLEST benchmark id, deterministically on every engine).
    Zero-norm corpus vectors score no pair (cosine undefined — the
    repo-wide exclusion convention): NULL max_cosine, ``contaminated``
    false.

    Scale shape: eval suites are BOUNDED (thousands of items), so the
    benchmark side is broadcast and the corpus streams through a
    map-only nested-loop score + ONE hash aggregate — the corpus is
    never shuffled for the comparison itself (degenerate pairs score a
    NULL key rather than being filtered, so every corpus vector stays
    in the single aggregate with no id-keyed join-back). The argmax is
    carried through the aggregate as one integer key, (cos4+10000)·10¹⁰
    + (10¹⁰−1−bench_id): lexicographic max = (max cosine, min id) —
    portable where ``max_by`` tie behavior is not. Benchmark ids must
    sit in [0, 10¹⁰) for the packing (asserted here); an EMPTY
    benchmark yields an empty result (the cross join has no rows) —
    callers own that degenerate case.
    """
    b = with_vec_norm(benchmark, vec_col, id_col).select(
        # the id-range guard rides the key column itself so it cannot be
        # pruned: any out-of-range benchmark id fails the job loudly
        F.when(
            (F.col("id") >= 0) & (F.col("id") < 9999999999), F.col("id")
        )
        .otherwise(
            F.raise_error(
                "semantic_decontaminate: benchmark id out of [0, 1e10)"
            )
        )
        .alias("_bid"),
        F.col("v").alias("b_v"),
        F.col("nrm").alias("b_nrm"),
    )
    c = with_vec_norm(spread(corpus), vec_col, id_col)
    den = F.col("nrm") * F.col("b_nrm")
    cos4 = F.floor(
        (_dot(F.col("v"), F.col("b_v")) / den) * F.lit(10000.0) + F.lit(0.5)
    ).cast("long")
    # degenerate (zero-norm) pairs score a NULL key instead of being
    # FILTERED: every corpus vector keeps rows in the one aggregate, so
    # no second corpus scan / id-keyed join-back is needed (the dsir.py
    # sentinel argument — the filtered form cost a SortMergeJoin plus
    # two corpus-keyed exchanges). NULL keys lose every max() against a
    # real pair and aggregate to NULL when a vector has none.
    key = F.when(
        den > 0,
        (cos4 + F.lit(10000)) * F.lit(10000000000)
        + (F.lit(9999999999) - F.col("_bid")),
    )
    agg = (
        c.crossJoin(F.broadcast(b))
        .select("id", key.alias("_key"))
        .groupBy("id")
        .agg(F.max("_key").alias("_key"))
    )
    c4max = F.expr("_key DIV 10000000000") - F.lit(10000)
    return agg.select(
        F.col("id").alias(id_col),
        (c4max.cast("double") / F.lit(10000.0)).alias("max_cosine"),
        (F.lit(9999999999) - F.expr("_key % 10000000000")).alias(
            "matched_id"
        ),
        F.coalesce(
            c4max.cast("double") / F.lit(10000.0) >= F.lit(threshold),
            F.lit(False),
        ).alias("contaminated"),
    )
