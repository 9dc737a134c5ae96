"""Property-based differential tests (hypothesis): the distributed
connected-components and n-gram Jaccard operators vs tiny pure-Python
ground-truth implementations on randomized inputs. These catch the failure
classes example tests can't enumerate — odd graph shapes (self-merges,
star-in-star, disconnected singletons) and pathological token streams."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mini_feature_store_spark.operators.dedup import ngram_jaccard_pairs
from mini_feature_store_spark.operators.graph import connected_components


def _uf_components(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    return {n: min(m for m in parent if find(m) == find(n)) for n in parent}


@pytest.mark.usefixtures("spark")
class TestProperties:
    @settings(max_examples=5, deadline=None)
    @given(
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=25),
                st.integers(min_value=0, max_value=25),
            ),
            min_size=1,
            max_size=40,
        )
    )
    def test_connected_components_matches_union_find(self, spark, edges):
        df = spark.createDataFrame(edges, "u long, v long").repartition(4)
        got = {
            r.node: r.component for r in connected_components(df).collect()
        }
        want = _uf_components(edges)
        # Ground truth keeps self-loop-only nodes; the operator drops
        # pure self-loops (canonical edges exclude u == v), so restrict
        # the comparison to nodes the operator reports — and check the
        # only missing ones are self-loop singletons.
        for node, comp in got.items():
            assert want[node] == comp, (node, comp, want)
        missing = set(want) - set(got)
        assert all(
            all(u == v for u, v in edges if u == node or v == node)
            for node in missing
        )

    @settings(max_examples=5, deadline=None)
    @given(
        texts=st.lists(
            st.lists(
                st.sampled_from("alpha beta gamma delta omega".split()),
                min_size=1,
                max_size=8,
            ).map(" ".join),
            min_size=2,
            max_size=6,
        )
    )
    def test_ngram_jaccard_matches_bruteforce(self, spark, texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(
                df, threshold=0.0, max_shingle_freq=len(rows)
            ).collect()
        }

        def sh(t):
            norm = re.sub(r"\s+", " ", t.strip().lower())
            toks = norm.split(" ")
            if len(toks) < 3:
                return {norm}
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

        want = {}
        for i, a in rows:
            for j, b in rows:
                if i < j:
                    inter = len(sh(a) & sh(b))
                    if inter:
                        want[(i, j)] = round(
                            inter / (len(sh(a)) + len(sh(b)) - inter), 4
                        )
        assert got == {k: pytest.approx(v, abs=1e-4) for k, v in want.items()}
