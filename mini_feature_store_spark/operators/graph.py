"""Connected components over a pair list — near-dup pairs → dedup clusters.

The reference stops at exact dedup (latest-per-key, LatestPipeline.scala);
every real training-data dedup pipeline needs the NEXT step: the pair lists
produced by MinHash-LSH / SimHash / n-gram-Jaccard are edges of a similarity
graph, and the unit of deduplication is the *connected component* (A~B, B~C
⇒ {A,B,C} is one duplicate cluster even if A≁C directly). One canonical doc
per component survives.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014 — the same
algorithm GraphFrames and Dataproc use). Each round is two hash
shuffles (groupBy min + self-join); the edge set provably converges to a
star forest (every node points at its component's minimum id) in
O(log² n) rounds — in practice 2-4 rounds for dedup graphs, whose
components are small and dense. This beats naive label propagation, whose
round count is the graph *diameter* (a 1000-link near-dup chain = 1000
shuffles; large-star collapses it in ~10).

Scale notes:
- State per round is just the edge list, re-partitioned by node id; no
  driver-side structures, no collect of anything but two convergence
  scalars per round.
- ``localCheckpoint`` after each round truncates the lineage so the plan
  doesn't grow linearly with iterations (Catalyst re-analysis and failure
  re-computation would otherwise explode).
- Convergence is a single structural probe job per round: the edge set is
  a star forest iff every node is either a pure root (target only) or a
  pure leaf with exactly ONE parent edge. Both conditions come out of one
  role aggregate (sources and targets unioned, grouped by node) — an
  edge-signature-stability check would instead burn one full extra star
  round (≈5 chained shuffles) just to confirm the fixed point, which
  measures slower than the probe on sparse dedup graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mini_feature_store_spark.functions import (
    collect_if_bounded,
    round_half_up,
)

__all__ = ["connected_components", "dedup_clusters", "pagerank"]


def _uf_find(parent: dict, x):
    """Union-find root lookup with path compression over a plain dict
    (absent key ⇒ self-root). ONE copy of the invariant-bearing
    algorithm, shared by the per-partition contraction and the
    driver-local fast path (r16 ADVICE: two embedded copies can
    drift)."""
    root = x
    while parent.get(root, root) != root:
        root = parent[root]
    while parent.get(x, x) != x:  # path compression
        parent[x], x = root, parent[x]
    return root


def _uf_union_min(parent: dict, u, v) -> None:
    """Union by MINIMUM root — preserves the min-id component contract
    (the smaller root absorbs the larger)."""
    ru, rv = _uf_find(parent, u), _uf_find(parent, v)
    if ru != rv:
        if rv < ru:
            ru, rv = rv, ru
        parent[rv] = ru


def _canon(e: DataFrame) -> DataFrame:
    """Orient every edge large→small and drop self-loops/duplicates."""
    u, v = F.col("u"), F.col("v")
    return (
        e.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor to min(N(u) ∪ {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Edges are oriented u > v; connect all of N(u) ∪ {u} to its min."""
    m = e.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        e.join(m, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = m.select("u", F.col("m").alias("v"))
    return moved.union(self_edge)


def _local_contract(e: DataFrame) -> DataFrame:
    """Per-partition union-find contraction (the standard two-phase CC
    opening move): each task runs a sequential union-find over ITS edges and
    emits one ``node → local_root`` edge per node. Connectivity is preserved
    globally because a node appearing in several partitions appears in each
    partition's output and the star rounds merge across them.

    Why: each large-star/small-star round costs a fixed driver-side toll
    (plan analysis + codegen + 2 jobs) regardless of data size, and round
    count tracks component DIAMETER pre-contraction. One Arrow-batched pass
    collapses every within-partition chain to depth 1, so the distributed
    rounds only reconcile across partitions — measured 6 rounds → 2 on
    similarity graphs. At scale the per-task union-find is linear in the
    partition's edges (α(n) amortized), the classic local-aggregation
    trade.
    """
    import pandas as pd

    def uf(batches):
        parent: dict = {}
        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                _uf_union_min(parent, u, v)
        nodes = set(parent)
        yield pd.DataFrame(
            {"u": list(nodes), "v": [_uf_find(parent, x) for x in nodes]}
        ).astype("int64")

    return e.mapInPandas(uf, "u long, v long")


#: driver-local fast-path bound on the EDGE LIST (the ``bpe_train``
#: ``LOCAL_MAX_WORDS`` pattern): near-dup pair lists at bench/test scale
#: are a few hundred rows, yet every star round costs a fixed driver toll
#: (plan analysis + codegen + 2 jobs — measured ~1 s warm / ~3 s cold even
#: on 200 edges), paid PER INVOCATION because the loop localCheckpoints.
#: Under the bound the checkpointed edges are collected (≤ ~200k×2 ids, a
#: few MB) and a union-find labels components in-process — bit-identical
#: output (min-id component, integer/string ids) with zero star rounds.
#: Above the bound the distributed path is unchanged; the probe is one
#: ``collect_if_bounded`` read of the already-materialized checkpoint.
LOCAL_MAX_EDGES = 200_000


def _local_components(spark, rows, id_type) -> DataFrame:
    """Driver-side union-find over a bounded collected edge list —
    exactly the distributed contract: one row per DISTINCT endpoint,
    ``component`` = the component's minimum id; a NULL endpoint is an
    isolated NULL node (its edge never joins — the ``_canon`` null
    semantics); self-loops add the node, never an edge.

    The returned frame carries an explicit broadcast hint (r16 verdict
    #4): a driver-built ``createDataFrame`` relation has no statistics,
    so the planner defaulted its corpus join-backs to SortMergeJoin —
    a corpus-side sort + exchange to join a frame bounded at
    ≤ 2·LOCAL_MAX_EDGES rows by construction. The hint is safe exactly
    because the bound holds: above it the distributed star path (no
    hint) is taken instead."""
    from pyspark.sql import types as T

    parent: dict = {}
    nodes = set()
    saw_null = False
    for r in rows:
        u, v = r[0], r[1]
        for x in (u, v):
            if x is None:
                saw_null = True
            else:
                nodes.add(x)
        if u is None or v is None or u == v:
            continue
        _uf_union_min(parent, u, v)
    out = [(n, _uf_find(parent, n)) for n in nodes]
    if saw_null:
        out.append((None, None))
    schema = T.StructType(
        [
            T.StructField("node", id_type),
            T.StructField("component", id_type),
        ]
    )
    return F.broadcast(spark.createDataFrame(out, schema))


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_iter: int = 25,
) -> DataFrame:
    """Component id (= minimum node id in the component) for every node that
    appears in ``edges``. Returns columns ``node``, ``component``.

    Node ids must be an orderable type (long / string). Undirected; edge
    direction and duplicates are ignored. Edge lists within
    ``LOCAL_MAX_EDGES`` (and the driver byte budget) are labelled by a
    driver-side union-find; larger ones take the distributed star path."""
    # Materialize the raw edge list ONCE: both the canonical edge set and
    # the node set derive from this checkpoint, so the upstream
    # pair-generation plan (e.g. the n-gram Jaccard join — the expensive
    # part) executes exactly one time. Checkpointing only `e` and deriving
    # nodes lazily from `edges` would run pair generation twice.
    from pyspark.sql import types as T

    el = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint()
    id_type = el.schema["u"].dataType
    if id_type == el.schema["v"].dataType and isinstance(
        id_type, (T.LongType, T.IntegerType, T.StringType)
    ):
        head = collect_if_bounded(el, LOCAL_MAX_EDGES)
        if head is not None:
            rows = zip(
                head.column("u").to_pylist(), head.column("v").to_pylist()
            )
            return _local_components(el.sparkSession, rows, id_type)
    e = _canon(el)
    # Integer node ids take the two-phase path (per-partition union-find
    # contraction, then star rounds across partitions); other orderable id
    # types go straight to the star rounds. No checkpoint here — the
    # contract executes once inside round 1's checkpoint job.
    from pyspark.sql import types as T

    if all(
        isinstance(el.schema[c].dataType, (T.LongType, T.IntegerType))
        for c in ("u", "v")
    ):
        e = _canon(_local_contract(e))
    # Nodes derive from the el checkpoint (cheap re-read, no second
    # execution of the upstream pair plan) and are consumed exactly once in
    # the final mapping — no checkpoint needed.
    nodes = (
        el.select(F.col("u").alias("node"))
        .union(el.select(F.col("v").alias("node")))
        .distinct()
    )

    # Convergence = the edge set is a star FOREST: every node is either
    # a pure root (appears only as a target) or a leaf with exactly ONE
    # parent edge. Flatness alone is NOT sufficient — a node with two
    # distinct parents that are both sinks (edges {(j,a),(j,e),(t,b),
    # (t,e)}) passes a no-target-is-a-source probe yet still emits
    # nodes twice with different components. One role aggregate over
    # the (tiny, checkpointed, canonical) edges checks both conditions
    # in a single job: `out` counts a node's parent edges, `tot - out`
    # its appearances as a target. Soundness of exiting on the check
    # alone: edges are canonically oriented large→small, so in a depth-1
    # forest every root is smaller than all of its leaves — i.e. the
    # component MINIMUM — which is exactly the contract of the final
    # mapping, however the forest was reached.
    def _is_star_forest(edges: DataFrame) -> bool:
        bad = (
            edges.select(F.col("u").alias("node"), F.col("v").alias("nb"))
            .union(
                edges.select(F.col("v").alias("node"), F.lit(None).alias("nb"))
            )
            .groupBy("node")
            .agg(
                F.count("nb").alias("out"),
                F.count(F.lit(1)).alias("tot"),
            )
            .where(
                (F.col("out") > 1)
                | ((F.col("out") >= 1) & (F.col("tot") > F.col("out")))
            )
        )
        return bad.isEmpty()

    # The check runs BEFORE each star round (not after): the per-partition
    # contraction alone very often leaves a star forest already — edges
    # that fit few partitions contract to depth 1 locally — and a
    # large-star + small-star round is the expensive step (several wide
    # stages of fixed driver/scheduling toll even on tiny edge sets;
    # measured 3.2 s for a 256-edge graph at 32 threads). Shallow graphs
    # therefore pay one checkpoint + one aggregate and exit; deep graphs
    # pay one extra (cheap) aggregate up front.
    for _ in range(max_iter):
        e = e.localCheckpoint()
        if _is_star_forest(e):
            break
        e = _canon(_small_star(_large_star(e)))

    # Converged: e is a star forest (u → component root v). Roots and
    # isolated nodes map to themselves.
    return (
        nodes.join(e.withColumnRenamed("u", "node"), "node", "left")
        .select("node", F.coalesce("v", "node").alias("component"))
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    rank_by: DataFrame | None = None,
    rank_col: str = "score",
    rank_id: str = "doc_id",
) -> DataFrame:
    """Duplicate clusters from a near-dup pair list.

    Returns one row per clustered doc: ``doc_id``, ``cluster_id`` (the
    minimum doc id in the cluster — the canonical label), ``cluster_size``,
    and ``keep``. Anti-joining a corpus against the ``keep = false`` rows
    is the standard "drop near-duplicates" step.

    Survivor policy:

    - ``rank_by=None`` (default): keep the minimum-id member — the
      cluster label itself, zero extra work.
    - ``rank_by=<DataFrame with (rank_id, rank_col)>``: keep the
      BEST-RANKED member per cluster (highest ``rank_col``; ties and
      missing scores break to the minimum doc id — deterministic on
      both engines when the score is already quantized, e.g. the
      scale-4 ``quality_prob``). This is the RefinedWeb-class policy:
      production curation keeps the best-quality copy of a near-dup
      cluster, not an arbitrary one. The score join keys on doc_id and
      the survivor window shares the ``cluster_size`` window's
      Exchange(cluster_id) — one extra shuffle total vs the min-id
      path. A degenerate giant cluster serializes its ranking into one
      task exactly like its size count already does; near-dup clusters
      are bounded by construction (pair generators cap shingle/band
      frequency upstream). ``rank_id`` names ``rank_by``'s id column
      (default ``doc_id`` — the output's own id name; ``apply_dedup``
      forwards its ``id_col`` so a custom-keyed corpus needs no
      pre-aliasing).
    """
    comp = connected_components(pairs, src=id_a, dst=id_b)
    base = comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("int"),
    )
    if rank_by is None:
        return base.withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    # Collapse rank_by to ONE row per id before the join (max score —
    # the policy's "best member" reading): a duplicate-id rank frame
    # would otherwise multiply cluster rows, and since only ONE copy of
    # the survivor gets keep=true, apply_dedup's anti-join against the
    # keep=false rows would drop the survivor too — an entire cluster
    # vanishing silently. Internal callers pass one-row-per-doc scores,
    # for which the aggregate is identity and its exchange is reused by
    # the doc_id join.
    scored = base.join(
        rank_by.select(F.col(rank_id).alias("doc_id"), rank_col)
        .groupBy("doc_id")
        .agg(F.max(rank_col).alias(rank_col)),
        "doc_id",
        "left",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(rank_col).desc_nulls_last(), F.col("doc_id").asc()
    )
    return scored.withColumn("keep", F.row_number().over(w) == F.lit(1))


def apply_dedup(
    corpus: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    broadcast_drops: bool | None = None,
    rank_by: DataFrame | None = None,
    rank_col: str = "score",
) -> DataFrame:
    """The APPLY step of near-dup dedup: cluster the pair list, keep one
    canonical survivor per cluster, anti-join the corpus against the
    dropped ids — the step a training-data pipeline actually ships (pairs
    and clusters are diagnostics). ``rank_by`` switches the survivor from
    the min-id member to the best-ranked one; its id column is this
    function's ``id_col`` (forwarded as ``rank_id`` — see
    ``dedup_clusters``).

    Works with ANY pair generator (n-gram Jaccard, MinHash-LSH, SimHash,
    embedding cosine exact or LSH) — the 100 TB default for embeddings is
    ``cosine_pairs_lsh`` candidates, whose exact re-rank makes precision
    1.0 so only recall (pinned ≥ 0.95 differentially) is approximate.

    ``broadcast_drops`` controls the anti-join strategy:

    - ``None`` (default): NO hint — the planner/AQE picks, promoting to a
      runtime broadcast only when the dropped-id set is measured small.
      This is the 100 TB-safe default: real web-crawl dedup drops 30-50%
      of the corpus, so the dropped set grows LINEARLY with data and a
      hard broadcast hint (which, unlike an AQE choice, never degrades to
      sort-merge) OOMs the driver exactly when dedup matters most.
    - ``True``: force a broadcast — only for callers that KNOW drops are
      bounded (e.g. a capped blacklist).
    - ``False``: forbid it — pins the shuffle anti join for tests.
    """
    clusters = dedup_clusters(
        pairs,
        id_a=id_a,
        id_b=id_b,
        rank_by=rank_by,
        rank_col=rank_col,
        rank_id=id_col,
    )
    drops = clusters.where(~F.col("keep")).select(
        F.col("doc_id").alias(id_col)
    )
    if broadcast_drops is True:
        drops = F.broadcast(drops)
    elif broadcast_drops is False:
        drops = drops.hint("shuffle_hash")
    return corpus.join(drops, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Distributed PageRank over a directed edge list → ``(node, rank)``.

    The link-centrality signal corpus curation uses for source-quality
    weighting (crawl-graph authority). Pure DataFrame power iteration:

    - all static per-node state (out-degree, dangling flag) is folded
      ONCE into the checkpointed edge list and node carrier before the
      loop; the ranks relation carries the dangling flag with it, so
      per-iteration cost is ONE equi-join (ranks × weighted edges on
      src) + one hash aggregate on dst + one carrier re-join — the r4
      shape re-joined the static ``out_deg`` relation against ranks
      every round, a whole extra shuffle join per iteration;
    - dangling mass (rank sitting on nodes with no out-edges) is a
      broadcast 1-row aggregate cross-joined back into the update — the
      standard correction (without it rank leaks and the distribution no
      longer sums to 1), kept INSIDE the lazy plan: a per-iteration
      driver ``collect`` of the scalar would force one blocking job per
      iteration;
    - ``localCheckpoint`` every third iteration truncates the growing
      lineage (same discipline as ``connected_components``) — the only
      places the chain materializes.

    Ranks sum to 1 and match dense numpy power iteration to float
    precision (differential-tested). Duplicate edges are counted once.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Static per-edge out-degree (division stays rank/out_deg — bitwise
    # identical to the naive form the differential test mirrors) and a
    # static per-node dangling flag, each computed once and checkpointed.
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # (r17 negative result, kept for the record: swapping these two
    # localCheckpoints for lazy persist() — to save two eager driver
    # jobs — measured SLOWER on the bench graph (build 2.9 → 3.4 s,
    # exec 0.41 → 0.58 s warm): the InMemoryRelation columnar
    # serialization plus per-iteration cache reads cost more than the
    # two small checkpoint jobs. Reverted; do not re-try.)
    w_edges = e.join(out_deg, "src").localCheckpoint()
    carrier = (
        nodes.join(out_deg.withColumnRenamed("src", "node"), "node", "left")
        .select("node", F.col("out_deg").isNull().alias("dangling"))
        .localCheckpoint()
    )
    n = carrier.count()

    ranks = carrier.select("node", "dangling", F.lit(1.0 / n).alias("rank"))
    for i in range(iters):
        dang_mass = ranks.where("dangling").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
        )
        contrib = (
            ranks.join(w_edges, ranks["node"] == w_edges["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("c"))
        )
        ranks = (
            carrier.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang_mass))
            .select(
                "node",
                "dangling",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("_dm") / n
                    + F.lit(damping) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if i % 3 == 2:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", round_half_up(F.col("rank"), 8).alias("rank"))
