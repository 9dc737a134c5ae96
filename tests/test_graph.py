"""connected_components / dedup_clusters: correctness vs union-find, chains,
convergence behavior."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mini_feature_store_spark.operators import graph
from mini_feature_store_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


@pytest.fixture
def distributed_cc(monkeypatch):
    """Force connected_components onto the distributed star path (the
    driver-local union-find would otherwise absorb these small graphs)."""
    monkeypatch.setattr(graph, "LOCAL_MAX_EDGES", 0)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component
    return {x: find(x) for x in list(parent)}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    want = _uf_components(edges)
    # union-find parent-compression may not leave min at root; normalize
    groups = {}
    for node, root in want.items():
        groups.setdefault(root, []).append(node)
    want_min = {n: min(ms) for ms in groups.values() for n in ms}
    assert got == want_min
    return got


def test_chain_collapses_to_one_component(spark, distributed_cc):
    """A 60-node chain: naive label propagation would need 60 rounds; the
    star algorithm must converge well inside max_iter=25 (distributed
    path forced — the r16 driver-local fast path would absorb it)."""
    got = _check(spark, [(i, i + 1) for i in range(1, 60)])
    assert set(got.values()) == {1}


def test_two_components_and_duplicate_edges(spark):
    got = _check(
        spark,
        [(1, 2), (2, 3), (2, 1), (3, 1), (10, 11), (11, 12), (12, 10), (12, 10)],
    )
    assert set(got.values()) == {1, 10}


def test_self_loops_and_isolated_pairs(spark):
    got = _check(spark, [(5, 5), (7, 8)])
    assert got[5] == 5 and got[7] == 7 and got[8] == 7


def test_random_graph_matches_union_find(spark):
    rng = random.Random(42)
    edges = [(rng.randint(1, 200), rng.randint(1, 200)) for _ in range(300)]
    _check(spark, edges)


def test_string_node_ids(spark):
    df = spark.createDataFrame(
        [("docA", "docB"), ("docB", "docC"), ("docX", "docY")], "u string, v string"
    )
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {
        "docA": "docA", "docB": "docA", "docC": "docA",
        "docX": "docX", "docY": "docX",
    }


def test_two_sink_parents_keep_iterating(spark, distributed_cc):
    """Regression: edges {(j,a),(j,e),(t,b),(t,e)} pass the flatness probe
    (no target is a source) while j and t still have TWO parents each — the
    whole graph is one component through the shared parent e. Convergence
    must also require out-degree 1, else node e is emitted twice with two
    different components."""
    df = spark.createDataFrame(
        [("j", "a"), ("j", "e"), ("t", "b"), ("t", "e")], "u string, v string"
    )
    rows = connected_components(df).collect()
    # exactly one row per node, all in the single component rooted at "a"
    assert len(rows) == len({r.node for r in rows}) == 5
    assert {r.component for r in rows} == {"a"}


def test_dedup_clusters_canonical_and_sizes(spark):
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 9)], "id_a long, id_b long"
    )
    rows = {r.doc_id: r for r in dedup_clusters(pairs).collect()}
    assert len(rows) == 5
    assert rows[1].cluster_id == 1 and rows[1].keep
    assert rows[3].cluster_id == 1 and not rows[3].keep
    assert rows[1].cluster_size == 3 and rows[7].cluster_size == 2
    # exactly one keeper per cluster
    keepers = [r for r in rows.values() if r.keep]
    assert sorted(k.doc_id for k in keepers) == [1, 7]


def test_quality_ranked_survivor_beats_min_id(spark):
    """rank_by switches the survivor to the best-scored cluster member
    (RefinedWeb policy); missing scores rank last; ties break to min id;
    exactly one keeper per cluster either way; cluster_id/size unchanged."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 9), (11, 12)], "id_a long, id_b long"
    )
    # cluster {1,2,3}: best score on 3 (non-min). cluster {7,9}: tie →
    # min id 7. cluster {11,12}: 12 unscored → NULL ranks last, 11 wins.
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.5), (3, 0.9), (7, 0.4), (9, 0.4), (11, 0.1)],
        "doc_id long, score double",
    )
    rows = {
        r.doc_id: r
        for r in dedup_clusters(pairs, rank_by=scores).collect()
    }
    assert sorted(d for d, r in rows.items() if r.keep) == [3, 7, 11]
    assert rows[3].cluster_id == 1 and rows[3].cluster_size == 3
    assert rows[12].score is None and not rows[12].keep
    # apply step keeps the quality winners, drops the rest of each cluster
    corpus = spark.range(1, 14).withColumnRenamed("id", "doc_id")
    from mini_feature_store_spark.operators.graph import apply_dedup

    kept = apply_dedup(corpus, pairs, "doc_id", rank_by=scores)
    assert sorted(r.doc_id for r in kept.collect()) == [3, 4, 5, 6, 7, 8, 10, 11, 13]
    # custom id column: rank_by carries the CALLER's id name — no
    # pre-aliasing to 'doc_id' required (review r15)
    corpus2 = corpus.withColumnRenamed("doc_id", "page_id")
    scores2 = scores.withColumnRenamed("doc_id", "page_id")
    kept2 = apply_dedup(corpus2, pairs, "page_id", rank_by=scores2)
    assert sorted(r.page_id for r in kept2.collect()) == [3, 4, 5, 6, 7, 8, 10, 11, 13]


def test_quality_ranked_survivor_duplicate_score_rows(spark):
    """A rank_by frame with DUPLICATE ids must not multiply cluster rows
    (r15 ADVICE): pre-r16, the second copy of the survivor's row got
    keep=false, so apply_dedup's anti-join silently dropped the whole
    cluster's survivor. The operator now collapses rank_by to max-score
    per id before joining."""
    pairs = spark.createDataFrame([(2, 1), (2, 3)], "id_a long, id_b long")
    # doc 3 scored TWICE (e.g. a re-run appended scores); max wins
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.5), (3, 0.9), (3, 0.1)],
        "doc_id long, score double",
    )
    rows = dedup_clusters(pairs, rank_by=scores).collect()
    assert len(rows) == 3  # one row per clustered doc, not 4
    assert sorted(r.doc_id for r in rows if r.keep) == [3]
    from mini_feature_store_spark.operators.graph import apply_dedup

    corpus = spark.range(1, 5).withColumnRenamed("id", "doc_id")
    kept = apply_dedup(corpus, pairs, "doc_id", rank_by=scores)
    # survivor 3 retained; 1 and 2 dropped; 4 untouched
    assert sorted(r.doc_id for r in kept.collect()) == [3, 4]


def test_survivor_anti_join_drops_near_dups(spark):
    """The end-to-end dedup step: corpus minus non-canonical cluster members."""
    corpus = spark.range(1, 11).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([(2, 4), (4, 6), (9, 10)], "id_a long, id_b long")
    drop = dedup_clusters(pairs).where(~F.col("keep")).select("doc_id")
    survivors = corpus.join(drop, "doc_id", "left_anti")
    assert sorted(r.doc_id for r in survivors.collect()) == [1, 2, 3, 5, 7, 8, 9]


def test_local_contract_preserves_cross_partition_connectivity(
    spark, distributed_cc
):
    """A long chain deliberately split across partitions: per-partition
    union-find must collapse within-partition runs while the star rounds
    still merge across partition boundaries into ONE component."""
    from mini_feature_store_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(40)]  # 0-1-2-...-40, one component
    edges = spark.createDataFrame(chain, "u long, v long").repartition(8)
    comp = connected_components(edges).collect()
    assert {r.component for r in comp} == {0}
    assert {r.node for r in comp} == set(range(41))


def test_local_contract_string_ids_fall_back(spark, distributed_cc):
    from mini_feature_store_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "u string, v string"
    )
    comp = {
        r.node: r.component
        for r in connected_components(edges).collect()
    }
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_local_cc_fast_path_equals_distributed(spark, monkeypatch):
    """r16 driver-local union-find fast path (LOCAL_MAX_EDGES class):
    bit-identical (node, component) mapping to the distributed star
    rounds on a messy random multigraph — self-loops, duplicate and
    reversed edges, several components — for long AND string ids, and
    the dispatch boundary (bound exceeded → distributed) agrees too."""
    rng = random.Random(7)
    edges = [(rng.randint(1, 120), rng.randint(1, 120)) for _ in range(250)]
    edges += [(5, 5), (119, 118), (118, 119)]
    df = spark.createDataFrame(edges, "u long, v long")
    local = {
        r.node: r.component for r in connected_components(df).collect()
    }

    def components_at(bound):
        with monkeypatch.context() as m:
            m.setattr(graph, "LOCAL_MAX_EDGES", bound)
            return {
                r.node: r.component
                for r in connected_components(df).collect()
            }

    dist = components_at(0)
    assert local == dist
    # boundary: bound smaller than the edge count → distributed path,
    # same answer
    assert components_at(10) == dist
    sdf = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("z", "z"), ("q", "r")],
        "u string, v string",
    )
    slocal = {
        r.node: r.component for r in connected_components(sdf).collect()
    }
    assert slocal == {"a": "a", "b": "a", "c": "a", "z": "z", "q": "q", "r": "q"}


def test_pagerank_matches_dense_power_iteration(spark):
    """Differential: distributed PageRank vs literal numpy power iteration
    with the same dangling-mass redistribution — equal to float precision
    on a graph with hubs, chains, dangling nodes, and a disconnected
    pair."""
    import numpy as np

    from mini_feature_store_spark.operators.graph import pagerank

    edges = [
        (0, 1), (0, 2), (1, 2), (2, 0), (3, 2),  # core with a cycle
        (4, 3),                                  # chain into the core
        (5, 6),                                  # disconnected pair; 6 dangles
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iters=12).collect()}

    n, d = 7, 0.85
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        new = np.zeros(n)
        dangling = sum(r[v] for v in range(n) if v not in out)
        for s, ts in out.items():
            for t in ts:
                new[t] += r[s] / len(ts)
        r = (1 - d) / n + d * dangling / n + d * new
    for v in range(n):
        assert abs(got[v] - round(r[v], 8)) <= 1e-8, (v, got[v], r[v])
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved


def test_apply_dedup_drops_non_canonical(spark):
    """apply_dedup keeps exactly the per-cluster minimum ids plus every
    unpaired row."""
    from mini_feature_store_spark.operators.graph import apply_dedup

    corpus = spark.createDataFrame(
        [(i, f"d{i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], "id_a long, id_b long"
    )
    kept = {r.doc_id for r in apply_dedup(corpus, pairs, "doc_id").collect()}
    # clusters {1,3,5} -> keep 1, {2,6} -> keep 2; 0,4,7 unpaired
    assert kept == {0, 1, 2, 4, 7}


def test_embedding_curation_lsh_vs_exact(spark, sf_dir):
    """The LSH-default curation (embedding_corpus_curate) vs the exact
    pair generator: LSH's edge set is a subset of the exact one, so its
    survivor set must be a SUPERSET of the exact survivors (a missed edge
    can split a cluster, never merge one), and the extra survivors are
    bounded by the pinned >=0.95 pair recall."""
    from mini_feature_store_spark.io import load_testdata
    from mini_feature_store_spark.operators.graph import apply_dedup
    from mini_feature_store_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_lsh,
    )

    emb = load_testdata(spark, sf_dir, "embeddings")["embeddings"]
    n = emb.count()
    s_lsh = {
        r.vec_id
        for r in apply_dedup(
            emb, cosine_pairs_lsh(emb, threshold=0.4), "vec_id"
        ).collect()
    }
    s_exact = {
        r.vec_id
        for r in apply_dedup(
            emb, cosine_pairs(emb, threshold=0.4), "vec_id"
        ).collect()
    }
    assert len(s_exact) < n  # the threshold actually drops something
    assert s_exact <= s_lsh  # superset property
    extra = len(s_lsh - s_exact)
    dropped = n - len(s_exact)
    assert extra <= max(1, 0.05 * dropped), (extra, dropped)
