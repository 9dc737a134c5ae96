"""Validation for the training-data-pipeline operators.

The approximate operators (MinHash-LSH, SimHash, hyperplane-LSH ANN) cannot
be value-checked against DuckDB (engine-specific hash functions), so they are
validated statistically against their exact counterparts: recall on planted
near-duplicates / true top-k."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mini_feature_store_spark.io import load_testdata
from mini_feature_store_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from mini_feature_store_spark.operators.similarity import (
    cosine_topk_bruteforce,
    lsh_topk,
)
from mini_feature_store_spark.operators.text import lang_id, text_stats


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_testdata(spark, sf_dir, "documents")["documents"].cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_testdata(spark, sf_dir, "embeddings")["embeddings"].cache()


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text"), (4, "HELLO world ")],
        "doc_id long, text string",
    )
    out = {r.keep_id: r.n_dupes for r in exact_dedup(df).collect()}
    assert out == {1: 3, 3: 1}


def test_ngram_jaccard_finds_planted_near_dups(docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert len(pairs) > 0
    assert all(0.5 <= r.jaccard <= 1.0 for r in pairs)
    assert all(r.id_a < r.id_b for r in pairs)


def test_ngram_jaccard_skips_null_doc_ids(spark):
    """Docs with a NULL id pair with nothing, in both Jaccard operators:
    the pair aggregate groups by id, so NULL-id docs once pooled into one
    doc and scored Jaccard 5.0 and 2.5 against real ones."""
    from mini_feature_store_spark.operators.dedup import ngram_jaccard_against

    schema = "doc_id long, text string"
    texts = [
        (None, "a b c d e"),
        (1, "a b c d e"),
        (2, "a b c d e f"),
        (None, "a b c d x"),
    ]
    pairs = ngram_jaccard_pairs(spark.createDataFrame(texts, schema))
    assert [tuple(r) for r in pairs.collect()] == [(1, 2, 0.75)]
    new = spark.createDataFrame([texts[0], texts[3], (3, "a b c d e")], schema)
    against = ngram_jaccard_against(
        new, spark.createDataFrame(texts[1:], schema)
    )
    assert sorted(tuple(r) for r in against.collect()) == [
        (3, 1, 1.0),
        (3, 2, 0.75),
    ]


def test_minhash_lsh_recall_vs_exact(docs):
    """Banded MinHash must recover ≥90% of true Jaccard≥0.6 pairs and
    estimate Jaccard within 0.25 of exact on recovered pairs."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.4).collect()
    }
    assert exact, "test data must contain planted near-dups"
    recovered = set(exact) & set(approx)
    assert len(recovered) / len(exact) >= 0.9
    for k in recovered:
        assert abs(exact[k] - approx[k]) < 0.25


def test_simhash_finds_planted_near_dups(docs):
    """SimHash Hamming≤3 must recover near-identical docs (Jaccard ≥ 0.98).

    Hamming distance tracks similarity smoothly — measured on this corpus,
    pairs at Jaccard 0.89-0.97 span Hamming 0-9 — so the ≤3 cutoff is only a
    guarantee for the near-identical tier, which is what SimHash dedup is for.
    """
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.98).collect()
    }
    sim = {(r.id_a, r.id_b) for r in simhash_pairs(docs, max_hamming=3).collect()}
    assert exact
    assert len(exact & sim) / len(exact) >= 0.85


def test_lsh_topk_recall(emb):
    """Multi-probe hyperplane LSH recovers ≥60% of exact top-5 neighbors."""
    queries = emb.where(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(queries, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id) for r in lsh_topk(queries, emb, k=5).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.6


def test_cosine_pairs_lsh_recall_vs_exact(emb):
    """The 100 TB embedding-dedup path (LSH candidates + exact re-rank)
    must recover ≥95% of the exact threshold pairs, emit NO pair the exact
    operator doesn't (precision 1.0 — every candidate is scored with the
    exact cosine), and agree on the cosine value of every recovered pair."""
    from mini_feature_store_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_lsh,
    )

    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_pairs(emb, threshold=0.4).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_pairs_lsh(emb, threshold=0.4).collect()
    }
    assert exact, "test data must contain cosine>=0.4 pairs"
    assert set(approx) <= set(exact)  # precision 1.0
    assert len(set(exact) & set(approx)) / len(exact) >= 0.95
    for k in approx:
        assert approx[k] == exact[k]  # identical exact re-rank scores


def test_ivf_topk_recall(emb):
    from mini_feature_store_spark.operators.similarity import ivf_topk

    queries = emb.where(emb.vec_id < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(queries, emb, k=5).collect()
    }
    # The synthetic embeddings are near-uniform — the hardest case for ANN
    # (neighbors are barely closer than random points), so recall here is a
    # floor, not a typical figure. Probing half the cells recovers ~0.74.
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(queries, emb, k=5, n_cells=16, n_probe=8).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.6


def test_text_stats_values(spark):
    df = spark.createDataFrame(
        [(1, "The quick Fox!"), (2, "")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in text_stats(df).collect()}
    assert rows[1].n_tokens == 3
    assert rows[1].n_chars == 14
    assert rows[1].n_word_chunks == 4  # The / quick / Fox / !
    assert rows[1].punct_ratio == round(1 / 14, 4)
    assert rows[1].upper_ratio == round(2 / 14, 4)
    assert rows[1].stopword_ratio == round(1 / 3, 4)
    assert rows[2].n_tokens == 0
    assert rows[2].chars_per_token == 0.0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "der hund und die katze ist das"),
            (2, "the cat of a dog and to"),
            (3, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang_guess for r in lang_id(df).collect()}
    assert out == {1: "de", 2: "en", 3: "und"}


def test_winnow_fingerprints_overlap_for_shared_runs(spark):
    """Two docs sharing a long run of text must share selected fingerprints
    even when the run is at different positions (the winnowing guarantee);
    an unrelated doc shares none."""
    from mini_feature_store_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, f"intro words here {shared}"),
            (2, f"{shared} completely different tail content follows now"),
            (3, "unrelated text about database engines and parquet files"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=3, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared run must produce shared fingerprints"
    assert not (by_doc[1] & by_doc[3])


def test_ngram_cap_drops_hot_shingle_and_rescues_quadratic_pair(spark):
    """When a stop-shingle exceeds max_shingle_freq it must (a) stop
    generating candidate pairs through that shingle and (b) leave Jaccard
    computed over the RETAINED sets. Docs 1/2 share ONLY the hot boilerplate
    phrase; docs 3/4 are near-identical beyond it."""
    from mini_feature_store_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved worldwide"
    rows = [
        (1, f"alpha beta gamma {boiler}"),
        (2, f"delta epsilon zeta {boiler}"),
        (3, f"unique shared tail one two three {boiler}"),
        (4, f"unique shared tail one two three {boiler} extra"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # Cap at the doc count (drops nothing): the boilerplate connects
    # everything (1,2) share 2 shingles.
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, threshold=0.01, max_shingle_freq=len(rows)
        ).collect()
    }
    assert (1, 2) in uncapped

    # Cap at 3: every shingle of the boilerplate phrase appears in 4 docs →
    # dropped. Docs 1,2 share nothing else → pair gone. Docs 3,4 still pair
    # on their real shared content, with sizes counted post-filter.
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, threshold=0.01, max_shingle_freq=3
        ).collect()
    }
    assert (1, 2) not in capped
    # 3,4 keep 6/7 retained shingles → 6/(6+7-6); full-set Jaccard was 8/9.
    assert capped[(3, 4)] == pytest.approx(0.8571, abs=1e-4)
    assert uncapped[(3, 4)] == pytest.approx(0.8889, abs=1e-4)
    # Only the genuinely-shared-content pair survives the cap.
    assert set(capped) == {(3, 4)}


def test_ngram_against_only_crosses_batch_and_corpus(spark):
    """Incremental dedup must emit ONLY batch×corpus pairs — corpus-internal
    and batch-internal duplicates are out of scope (handled when those docs
    were themselves admitted)."""
    from mini_feature_store_spark.operators.dedup import (
        ngram_jaccard_against,
        ngram_jaccard_pairs,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the dog"),
            (2, "the quick brown fox jumps over the dog"),  # corpus dup
            (3, "entirely different content lives here now"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the dog"),  # dup of 1,2
            (11, "novel text appearing for the first time"),
            (12, "novel text appearing for the first time"),  # batch dup
        ],
        "doc_id long, text string",
    )
    got = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in ngram_jaccard_against(
            batch, corpus, threshold=0.5, max_shingle_freq=6
        ).collect()
    }
    assert set(got) == {(10, 1), (10, 2)}
    assert got[(10, 1)] == 1.0

    # and it agrees with the full self-join restricted to cross pairs
    union = corpus.unionByName(batch)
    full = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b)): r.jaccard
        for r in ngram_jaccard_pairs(
            union, threshold=0.5, max_shingle_freq=6
        ).collect()
        if (r.id_a >= 10) != (r.id_b >= 10)
    }
    assert full == got


def test_ngram_against_cap_counts_batch_and_corpus_together(spark):
    """The cap's document frequency counts batch and corpus together, as
    one combined corpus would: "all rights reserved" sits in two corpus
    docs and one batch doc, so at cap 2 it is dropped although neither
    side alone exceeds the cap, and the pair's Jaccard is over the
    retained sets — the same value the self-join over the union gives."""
    from mini_feature_store_spark.operators.dedup import (
        ngram_jaccard_against,
        ngram_jaccard_pairs,
    )

    colors = "red green blue cyan magenta yellow all rights reserved"
    corpus = spark.createDataFrame(
        [(1, colors), (2, "one two three four five six all rights reserved")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, f"{colors} extra")], "doc_id long, text string"
    )

    def against(cap):
        return {
            (r.new_id, r.corpus_id): r.jaccard
            for r in ngram_jaccard_against(
                batch, corpus, threshold=0.5, max_shingle_freq=cap
            ).collect()
        }

    # 7 shared of 7 and 8 shingles; capped, 6 shared of 6 and 7
    assert against(3) == {(10, 1): 0.875}
    assert against(2) == {(10, 1): 0.8571}
    full = {
        (r.id_b, r.id_a): r.jaccard
        for r in ngram_jaccard_pairs(
            corpus.unionByName(batch), threshold=0.5, max_shingle_freq=2
        ).collect()
        if r.id_b >= 10 > r.id_a
    }
    assert full == against(2)


def test_shingle_projection_runs_the_regex_once(spark):
    """An explode over a bare column makes Catalyst infer a
    ``size(col) > 0`` filter and push it below the projection, where it
    would run the shingle regex a second time per doc."""
    from mini_feature_store_spark.operators.dedup import _hashed_shingles

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    for labels in (("doc_id",), (F.col("doc_id").alias("id"),)):
        plan = (
            _hashed_shingles(df, "text", 3, *labels)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert plan.count("regexp_extract_all") == 1, plan


def _jaccard_steps(source: str) -> list[tuple[str, str, int]]:
    """(step, owning top-level name, line) for every n-gram Jaccard
    kernel step in ``source``: ``hash`` hashes a shingle (``xxhash64``
    over the ``shingle`` column, Column or SQL form) and ``posting``
    builds posting lists (``groupBy("shingle")``, whose ``agg`` collects
    each shingle's docs)."""

    def names_shingle(arg) -> bool:
        if isinstance(arg, ast.Constant):
            return arg.value == "shingle"
        return _called(arg, "F", "col") and names_shingle(arg.args[0])

    def step(node) -> str | None:
        if _called(node, "F", "xxhash64") and any(map(names_shingle, node.args)):
            return "hash"
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("expr", "selectExpr")
        ):
            sql = " ".join(
                a.value.replace(" ", "")
                for a in node.args
                if isinstance(a, ast.Constant) and isinstance(a.value, str)
            )
            if "xxhash64(shingle)" in sql:
                return "hash"
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "groupBy"
            and any(map(names_shingle, node.args))
        ):
            return "posting"
        return None

    found = []
    for top in ast.parse(source).body:
        for node in ast.walk(top):
            kind = step(node)
            if kind:
                found.append((kind, getattr(top, "name", "<module>"), node.lineno))
    return found


def test_shingle_hash_and_postings_only_in_the_jaccard_kernel():
    """One shingle projection (``_hashed_shingles``) and one posting/cap/
    Jaccard kernel (``_jaccard_join``) in the whole package: a third copy
    of either, in any module, fails here."""
    root = Path(__file__).resolve().parent.parent / "mini_feature_store_spark"
    owners = {}
    for path in sorted(root.rglob("*.py")):
        for kind, owner, line in _jaccard_steps(path.read_text()):
            where = f"{path.relative_to(root)}:{owner}"
            owners.setdefault(kind, {}).setdefault(where, []).append(line)
    assert {k: set(v) for k, v in owners.items()} == {
        "hash": {"operators/dedup.py:_hashed_shingles"},
        "posting": {"operators/dedup.py:_jaccard_join"},
    }, owners
    # the detector sees the forms the two former copies used
    old_copy = (
        "def index(df):\n"
        "    sh = df.select(F.xxhash64(F.col('shingle')).alias('s'))\n"
        "    q = df.selectExpr('xxhash64(shingle) AS s')\n"
        "    return sh.groupBy('shingle').agg(F.collect_list('doc'))\n"
    )
    assert sorted(k for k, _, _ in _jaccard_steps(old_copy)) == [
        "hash", "hash", "posting"
    ]


def test_simhash_packed_lanes_match_python_reference(spark):
    """The packed 16-bit-lane SimHash aggregate must be bit-for-bit equal to
    the naive definition. Token hashes come from Spark's own xxhash64 (not
    reproducible in pure Python), then the reference simhash is computed in
    Python: bit b set iff ones_b * 2 > n_tokens."""
    from mini_feature_store_spark.operators.dedup import simhash
    from mini_feature_store_spark.operators.text import _tokens, normalize

    docs = load_testdata(
        spark, "/root/testdata/sf0.001", "documents"
    )["documents"].where(F.col("doc_id") < 40)

    tok_hashes = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.explode(_tokens(normalize(F.col("text")))).alias("tok"),
        )
        .select("id", F.xxhash64("tok").alias("h"))
        .collect()
    )
    by_doc: dict[int, list[int]] = {}
    for r in tok_hashes:
        by_doc.setdefault(r.id, []).append(r.h & 0xFFFFFFFFFFFFFFFF)

    expected = {}
    for doc, hs in by_doc.items():
        sim = 0
        n = len(hs)
        for b in range(64):
            ones = sum((h >> b) & 1 for h in hs)
            if ones * 2 > n:
                sim |= 1 << b
        # python int → signed 64-bit long as Spark returns it
        expected[doc] = sim - (1 << 64) if sim >= (1 << 63) else sim

    got = {r.id: r.simhash for r in simhash(docs).collect()}
    assert got == expected


def test_minhash_signatures_match_python_reference(spark):
    """Each signature slot must equal the minimum of xxhash64(shingle, seed)
    over the doc's shingle set — per-seed hashes harvested from Spark (the
    hash isn't reproducible in pure Python), min taken in Python."""
    from mini_feature_store_spark.operators.dedup import (
        minhash_signatures,
        shingles,
    )

    docs = load_testdata(
        spark, "/root/testdata/sf0.001", "documents"
    )["documents"].where(F.col("doc_id") < 15)

    n_h = 16
    harvested = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.explode(shingles(F.col("text"), 3)).alias("shingle"),
        )
        .select(
            "id",
            *[F.expr(f"xxhash64(shingle, {i}) AS h{i}") for i in range(n_h)],
        )
        .collect()
    )
    expected: dict[int, list[int]] = {}
    for r in harvested:
        mins = expected.setdefault(r.id, [None] * n_h)
        for i in range(n_h):
            v = r[f"h{i}"]
            if mins[i] is None or v < mins[i]:
                mins[i] = v

    got = {
        r.id: list(r.sig)
        for r in minhash_signatures(docs, num_hashes=n_h).collect()
    }
    assert got == expected


def test_simhash_idf_weighted_matches_python_reference(spark):
    """idf-weighted packed-lane SimHash must be bit-for-bit equal to the
    naive weighted definition: bit b set iff 2·Σ_{tok: bit b set} w > Σ w,
    with w = min(15, max(0, floor(2·ln((N+1)/(df+1))))). Token hashes come
    from Spark's xxhash64 (not reproducible in pure Python); weights are
    recomputed independently in Python from the harvested token stream."""
    import math

    from mini_feature_store_spark.operators.dedup import simhash
    from mini_feature_store_spark.operators.text import _tokens, normalize

    docs = load_testdata(
        spark, "/root/testdata/sf0.001", "documents"
    )["documents"].where(F.col("doc_id") < 40)

    tok_rows = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.explode(_tokens(normalize(F.col("text")))).alias("tok"),
        )
        .select("id", "tok", F.xxhash64("tok").alias("h"))
        .collect()
    )
    n_docs = docs.count()
    doc_toks: dict[int, list[tuple[str, int]]] = {}
    for r in tok_rows:
        doc_toks.setdefault(r.id, []).append((r.tok, r.h & 0xFFFFFFFFFFFFFFFF))
    dfreq: dict[str, set] = {}
    for doc, toks in doc_toks.items():
        for t, _ in toks:
            dfreq.setdefault(t, set()).add(doc)

    def weight(tok: str) -> int:
        w = math.floor(2.0 * math.log((n_docs + 1) / (len(dfreq[tok]) + 1)))
        return min(15, max(0, w))

    expected = {}
    for doc, toks in doc_toks.items():
        total = sum(weight(t) for t, _ in toks)
        sim = 0
        for b in range(64):
            ones_w = sum(weight(t) for t, h in toks if (h >> b) & 1)
            if ones_w * 2 > total:
                sim |= 1 << b
        expected[doc] = sim - (1 << 64) if sim >= (1 << 63) else sim

    got = {
        r.id: r.simhash for r in simhash(docs, idf_weighted=True).collect()
    }
    assert got == expected


def test_simhash_idf_weighting_restores_discrimination_on_zipf(spark):
    """On a heavily Zipfian corpus, unit-weight simhash's hamming <= 3 ball
    is dominated by head-word agreement — measured ~43% of ALL doc pairs
    qualify on this fixture (the quadratic pair mass of SCALING.md);
    idf weighting must still recover every planted duplicate while pruning
    that background by orders of magnitude."""
    import random

    rng = random.Random(13)
    vocab = [f"w{i:04d}" for i in range(800)]
    weights = [1.0 / (r + 1) ** 1.5 for r in range(len(vocab))]
    n_base, n_dup = 270, 30
    docs_py = [rng.choices(vocab, weights=weights, k=50) for _ in range(n_base)]
    planted = set()
    for _ in range(n_dup):  # exact duplicates — the tier hamming<=3 is FOR
        j = rng.randrange(n_base)
        planted.add((j, len(docs_py)))
        docs_py.append(list(docs_py[j]))
    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs_py)],
        "doc_id long, text string",
    )

    plain = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    weighted = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, max_hamming=3, idf_weighted=True).collect()
    }
    # (a) weighted simhash recovers every planted duplicate
    assert planted <= weighted
    # (b) the head-word background collapses: measured 19 543 plain pairs
    # (43% of all 44 850 doc pairs) vs 31 weighted on this seed
    assert len(plain) > 5_000, len(plain)
    assert len(weighted) < len(plain) / 100, (len(weighted), len(plain))


def test_pq_topk_recall(emb):
    """IVF-PQ on isotropic vectors (PQ's adversarial case): with half the
    cells probed and an 8k shortlist, recall ≥ 0.6 vs brute force
    (measured 0.74); with every cell probed (pure PQ quantization loss
    only) recall ≥ 0.8 (measured 0.92). Emitted cosines must be EXACT —
    equal to the brute-force values on recovered pairs."""
    from mini_feature_store_spark.operators.similarity import pq_topk

    queries = emb.where(F.col("vec_id") < 30)
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk_bruteforce(queries, emb, k=5).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in pq_topk(queries, emb, k=5, n_probe=8, refine=8).collect()
    }
    hits = set(exact) & set(pq)
    assert len(hits) / len(exact) >= 0.6, len(hits) / len(exact)
    for key in hits:
        assert pq[key] == exact[key]

    pure = {
        (r.query_id, r.neighbor_id)
        for r in pq_topk(queries, emb, k=5, n_probe=16, refine=8).collect()
    }
    assert len(set(exact) & pure) / len(exact) >= 0.8


def test_ivfpq_zero_vector_centroid_still_probes(spark, tmp_path):
    """A zero vector drawn into the centroid sample must not poison the
    inverted file: its centroid is zero (not NaN), so corpus vectors still
    land in probe-able cells and every query gets its k neighbours; the
    persisted index gets the same finite centroids."""
    import json

    import numpy as np

    from mini_feature_store_spark.operators.ann_index import build_ivfpq_index
    from mini_feature_store_spark.operators.similarity import pq_topk

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(300, 16))
    ids = spark.range(300).withColumnRenamed("id", "vec_id")
    # the hash-first row is centroid 0 of the sampled IVF (seed 42)
    first = ids.orderBy(
        F.xxhash64(F.col("vec_id").cast("string"), F.lit(42))
    ).first().vec_id
    vecs[first] = 0.0
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.where(
        (F.col("vec_id") < 11) & (F.col("vec_id") != first)
    ).limit(10)
    out = pq_topk(queries, emb, k=5, n_cells=8, n_probe=2, m_sub=4).collect()
    assert len(out) == 50

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, idx, n_cells=8, m_sub=4)
    meta = json.loads((tmp_path / "ivfpq" / "model.json").read_text())
    assert np.isfinite(np.array(meta["centroids"])).all()


def test_pq_topk_validation(spark):
    from mini_feature_store_spark.operators.similarity import pq_topk

    df = spark.createDataFrame([(1, [0.0] * 64)], "vec_id long, embedding array<float>")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divisible"):
        pq_topk(df, df, m_sub=7)


def test_int8_quantize_roundtrip_bounds(spark):
    import numpy as np

    from mini_feature_store_spark.operators.similarity import int8_quantize

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(50)]
    rows.append((99, [0.0] * 16))  # all-zero vector edge
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in int8_quantize(df).collect()}
    orig = dict(rows)
    for vid, r in out.items():
        assert -127 <= r.code_min <= r.code_max <= 127
        v = np.array(orig[vid], dtype=np.float64)
        if vid == 99:
            assert r.qscale == 0.0 and r.recon_mse == 0.0
            assert all(c == 0 for c in r.codes)
            continue
        scale = np.abs(v).max() / 127.0
        # every element reconstructs within scale/2 (round-half-up bound)
        recon = np.array(r.codes, dtype=np.float64) * scale
        assert np.abs(recon - v).max() <= scale / 2 + 1e-12
        # the max-|x| element uses the full code range
        assert max(abs(r.code_min), abs(r.code_max)) == 127


def test_int8_topk_matches_bruteforce(spark, sf_dir):
    """Int8 scoring is accurate enough that after exact re-rank the top-k
    equals brute force exactly on the test corpus (recall 1.0; the re-rank
    emits exact cosines, so ties resolve identically)."""
    from mini_feature_store_spark.operators.similarity import (
        cosine_topk_bruteforce,
        int8_topk,
    )

    emb = load_testdata(spark, sf_dir, "embeddings")["embeddings"]
    q = emb.where(F.col("vec_id") < 5)
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk_bruteforce(q, emb, k=5).collect()
    }
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in int8_topk(q, emb, k=5, refine=8).collect()
    }
    hits = sum(1 for key, n in got.items() if want.get(key) == n)
    assert hits / len(want) >= 0.95, (hits, len(want))


def test_duplicate_spans_planted_substring(spark):
    """ExactSubstr-style spans: a verbatim 6-token license blurb shared by
    two docs is found in BOTH with correct 1-based token bounds; unique
    text produces no spans; overlapping windows merge into ONE span."""
    from mini_feature_store_spark.operators.dedup import duplicate_spans

    blurb = "licensed under the apache software foundation"  # 6 tokens
    df = spark.createDataFrame(
        [
            (1, f"alpha bravo {blurb} charlie delta"),
            (2, f"echo {blurb} foxtrot golf hotel india"),
            (3, "nothing shared here at all whatsoever kilo lima"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"], r["n_windows"])
        for r in duplicate_spans(df, k=4, min_docs=2).collect()
    }
    # doc 1: blurb tokens are positions 3-8 -> windows at 3,4,5 merge
    # doc 2: positions 2-7 -> windows at 2,3,4 merge
    assert got == {1: (3, 8, 6, 3), 2: (2, 7, 6, 3)}


def test_duplicate_spans_gap_splits_and_short_docs(spark):
    """Two separated shared regions yield two spans; docs shorter than k
    emit nothing (the sequence(1,0)-descends guard); k/min_docs validated."""
    import pytest

    from mini_feature_store_spark.operators.dedup import duplicate_spans

    a = "one two three four"      # shared region A (4 tokens = one window)
    b = "five six seven eight"    # shared region B
    df = spark.createDataFrame(
        [
            (1, f"{a} unique1 filler1 filler2 {b}"),
            (2, f"{a} unique2 other1 other2 {b}"),
            (3, "tiny doc"),  # < k tokens
        ],
        "doc_id long, text string",
    )
    rows = duplicate_spans(df, k=4, min_docs=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    assert sorted(by_doc[1]) == [(1, 4), (8, 11)]
    assert sorted(by_doc[2]) == [(1, 4), (8, 11)]
    assert 3 not in by_doc
    with pytest.raises(ValueError):
        duplicate_spans(df, k=1)
    with pytest.raises(ValueError):
        duplicate_spans(df, min_docs=1)


def test_duplicate_spans_abutting_windows_merge(spark):
    """Two duplicated windows that abut exactly (coverage [1,4] and [5,8],
    no overlap, no gap) merge into ONE contiguous span — the documented
    'maximal contiguous token regions' contract (span breaks only on a
    genuine gap: pos > prev_end + 1)."""
    from mini_feature_store_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(
        [
            # doc 1: window at pos 1 ("a b c d") shared with doc 2 only;
            # window at pos 5 ("e f g h") shared with doc 3 only; the
            # bridging windows (pos 2-4) are unique to doc 1.
            (1, "a b c d e f g h"),
            (2, "a b c d qq ww ee rr"),
            (3, "zz xx cc vv e f g h"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["span_id"]): (
            r["span_start"], r["span_end"], r["span_len"], r["n_windows"]
        )
        for r in duplicate_spans(df, k=4, min_docs=2).collect()
    }
    assert got[(1, 1)] == (1, 8, 8, 2)  # abutting coverage merges
    assert got[(2, 1)] == (1, 4, 4, 1)
    assert got[(3, 1)] == (5, 8, 4, 1)
    assert len(got) == 3


def test_cut_duplicate_spans_rebuild(spark):
    """The cut treatment removes exactly the covered tokens, keeps order,
    and keeps every input doc — including span-free and too-short ones."""
    from mini_feature_store_spark.operators.dedup import cut_duplicate_spans

    blurb = "licensed under the apache software foundation"
    df = spark.createDataFrame(
        [
            (1, f"alpha bravo {blurb} charlie delta"),
            (2, f"echo {blurb} foxtrot golf hotel india"),
            (3, "completely unique text with nothing shared kilo lima"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text_cut"], r["n_spans"], r["n_tokens_cut"])
        for r in cut_duplicate_spans(df, k=4, min_docs=2).collect()
    }
    assert got[1] == ("alpha bravo charlie delta", 1, 6)
    assert got[2] == ("echo foxtrot golf hotel india", 1, 6)
    assert got[3] == (
        "completely unique text with nothing shared kilo lima", 0, 0,
    )
    assert got[4] == ("tiny", 0, 0)


def test_contamination_spans_localizes_benchmark_overlap(spark):
    """Span-localized decontamination: the verbatim benchmark sentence is
    found at its exact token positions in the training doc; clean docs and
    within-TRAIN-only duplicates produce no spans."""
    import pytest

    from mini_feature_store_spark.operators.dedup import contamination_spans

    eval_q = "what is the capital of france paris"  # 7 tokens
    train = spark.createDataFrame(
        [
            (1, f"intro words {eval_q} trailing text here"),
            (2, "perfectly clean training document nothing shared at all"),
            # docs 3+4 duplicate EACH OTHER but not the benchmark —
            # must NOT be flagged (that's duplicate_spans' job)
            (3, "twin content alpha beta gamma delta epsilon zeta"),
            (4, "twin content alpha beta gamma delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"q {eval_q} a")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in contamination_spans(train, bench, k=4).collect()
    }
    # doc 1: eval_q occupies tokens 3-9; windows 3..6 merge to [3, 9]
    assert got == {1: (3, 9)}
    with pytest.raises(ValueError):
        contamination_spans(train, bench, k=1)


def test_duplicate_span_coverage_gate(spark):
    """Coverage gate: share = covered tokens / total tokens; mostly-
    verbatim docs flagged, span-free docs keep with share 0."""
    from mini_feature_store_spark.operators.dedup import (
        duplicate_span_coverage,
    )

    blurb = "licensed under the apache software foundation"  # 6 tokens
    df = spark.createDataFrame(
        [
            # 6 of 8 tokens covered -> share 0.75 -> dropped at 0.3
            (1, f"alpha {blurb} omega"),
            # 6 of 24 covered -> share 0.25 -> kept
            (2, f"{blurb} " + " ".join(f"u{i}" for i in range(18))),
            (3, "entirely unique text with nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_tokens, r.dup_share, r.keep)
        for r in duplicate_span_coverage(
            df, k=4, min_docs=2, max_share=0.3
        ).collect()
    }
    assert got[1] == (8, 6, 0.75, False)
    assert got[2] == (24, 6, 0.25, True)
    assert got[3] == (9, 0, 0.0, True)


def test_cosine_zero_norm_vectors_never_crash_or_match(spark, tmp_path):
    """A zero vector in the corpus must not kill the job (ANSI mode
    turns an unguarded 0/0 into a hard DIVIDE_BY_ZERO failure) and must
    never surface in ANY output: degenerate (zero-norm) pairs are
    EXCLUDED from rankings and pair emission everywhere — bruteforce,
    GEMM pair miners, and every ANN rescorer share the convention, so
    recall comparisons between paths can't skew on zero vectors."""
    from mini_feature_store_spark.operators.ann_index import (
        build_ivfpq_index,
        pq_topk_indexed,
    )
    from mini_feature_store_spark.operators.clustering import (
        cluster_cosine_pairs,
        semantic_dedup,
    )
    from mini_feature_store_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_lsh,
        cosine_topk_bruteforce,
        int8_topk,
        ivf_topk,
        lsh_topk,
        pq_topk,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # degenerate
        (3, [0.9, 0.2, 0.1, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = cosine_topk_bruteforce(
        emb.where(F.col("vec_id") == 0), emb, k=3
    ).collect()
    # completes (no divide-by-zero job failure) and the zero vector is
    # absent entirely — only the two real neighbors rank
    assert sorted(r.neighbor_id for r in got) == [1, 3]
    assert all(r.cosine is not None for r in got)
    # a degenerate QUERY emits no rows at all
    assert (
        cosine_topk_bruteforce(
            emb.where(F.col("vec_id") == 2), emb, k=3
        ).count()
        == 0
    )

    one_cluster = spark.createDataFrame(
        [(i, 0) for i, _ in rows], "vec_id long, cluster int"
    )
    miners = {
        "exact": lambda t: cosine_pairs(emb, threshold=t),
        "lsh": lambda t: cosine_pairs_lsh(emb, threshold=t),
        "cluster": lambda t: cluster_cosine_pairs(emb, one_cluster, threshold=t),
    }
    for name, mine in miners.items():
        # even a 0.0 threshold never admits a degenerate pair
        for t in (0.5, 0.0):
            pairs = {(r.id_a, r.id_b) for r in mine(t).collect()}
            assert pairs and all(2 not in p for p in pairs), (name, t)
    # semantic dedup never folds the zero vector into a duplicate group
    sem = {
        r.vec_id: (r.component, r.is_survivor)
        for r in semantic_dedup(emb, k=1, threshold=0.0, iters=1).collect()
    }
    assert sem[2] == (2, True)

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, idx, n_cells=2, m_sub=2)
    rescorers = {
        "lsh": lambda q: lsh_topk(q, emb, k=3),
        "ivf": lambda q: ivf_topk(q, emb, k=3, n_cells=2, n_probe=2),
        "pq": lambda q: pq_topk(q, emb, k=3, n_cells=2, n_probe=2, m_sub=2),
        "int8": lambda q: int8_topk(q, emb, k=3),
        "pq_indexed": lambda q: pq_topk_indexed(spark, idx, q, k=3, n_probe=2),
    }
    for name, topk in rescorers.items():
        ann = topk(emb.where(F.col("vec_id") == 0)).collect()
        assert all(r.neighbor_id != 2 for r in ann), name
        assert topk(emb.where(F.col("vec_id") == 2)).count() == 0, name


def test_pair_miners_share_rounding_and_zero_norm_rules(spark):
    """The three pair miners verify candidates alike: the cosine is
    rounded to 4 places before the threshold (0.89996 is a 0.9 pair, as
    in the DuckDB oracles) and zero vectors never pair, even at 0.0.
    ``cluster_cosine_pairs`` equals ``cosine_pairs`` restricted to
    same-cluster pairs (the boundary pair and both zero vectors share
    cluster 0); ``cosine_pairs_lsh`` finds a subset of ``cosine_pairs``.
    The corpus is 2-d: the LSH planes take the width of the vectors."""
    from mini_feature_store_spark.operators.clustering import (
        cluster_cosine_pairs,
    )
    from mini_feature_store_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_lsh,
    )

    c = 0.89996
    rows = [
        (0, [1.0, 0.0]),
        (1, [c, (1.0 - c * c) ** 0.5]),
        (2, [0.0, 0.0]),
        (3, [0.0, 0.0]),
        (4, [0.5, 0.5]),
        (5, [0.3, 1.0]),
        (6, [-1.0, 0.2]),
    ]
    cluster = {i: int(i == 5) for i, _ in rows}
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigns = spark.createDataFrame(
        list(cluster.items()), "vec_id long, cluster int"
    )
    for t in (0.9, 0.0):
        exact = {tuple(r) for r in cosine_pairs(emb, threshold=t).collect()}
        assert (0, 1, 0.9) in exact, t
        assert all(2 not in p and 3 not in p for p in exact), t
        clustered = {
            tuple(r)
            for r in cluster_cosine_pairs(emb, assigns, threshold=t).collect()
        }
        assert clustered == {
            p for p in exact if cluster[p[0]] == cluster[p[1]]
        }, t
        lsh = {tuple(r) for r in cosine_pairs_lsh(emb, threshold=t).collect()}
        assert lsh <= exact, t


#: The kernel functions: the only place in the pair-miner modules that
#: may flatten a block (``flatten(transform(...))``) or select pairs
#: from a score matrix (``np.nonzero``).
_PAIR_KERNEL = {"_flat_block", "_score_blocks"}


def _called(node, owner: str, attr: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Name)
        and (node.func.value.id, node.func.attr) == (owner, attr)
    )


def _is_kernel_step(node: ast.AST) -> bool:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return "flatten(transform(" in node.value.replace(" ", "")
    flattens = (
        _called(node, "F", "flatten")
        and bool(node.args)
        and _called(node.args[0], "F", "transform")
    )
    return flattens or _called(node, "np", "nonzero")


@pytest.mark.parametrize("module", ["similarity.py", "clustering.py"])
def test_flat_blocks_and_pair_masks_only_in_the_kernel(module):
    path = (
        Path(__file__).resolve().parent.parent
        / "mini_feature_store_spark/operators" / module
    )
    owners = {}
    for top in ast.parse(path.read_text()).body:
        for node in ast.walk(top):
            if _is_kernel_step(node):
                owner = getattr(top, "name", "<module>")
                owners.setdefault(owner, []).append(node.lineno)
    if module == "similarity.py":
        assert set(owners) == _PAIR_KERNEL, owners
    else:
        assert not owners, owners


def test_semantic_decontaminate_planted_and_tiebreak(spark):
    from mini_feature_store_spark.operators.similarity import (
        semantic_decontaminate,
    )

    # benchmark 0 and 1 are the SAME direction (cosine ties at 1.0 for
    # corpus 100) → min benchmark id must win the argmax; corpus 101 is
    # orthogonal to both; corpus 102 is zero-norm (excluded, flag false).
    bench = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [2.0, 0.0]), (2, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    corp = spark.createDataFrame(
        [(100, [3.0, 0.0]), (101, [0.0, -1.0]), (102, [0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    got = {
        r.vec_id: (r.max_cosine, r.matched_id, r.contaminated)
        for r in semantic_decontaminate(corp, bench, threshold=0.9).collect()
    }
    assert got[100] == (1.0, 0, True)  # tie 0 vs 1 → min id 0
    # vs bench2 ([0,1]): cos = -1; vs bench0/1: 0.0 → max 0.0 from min id 0
    assert got[101] == (0.0, 0, False)
    assert got[102] == (None, None, False)


def test_semantic_decontaminate_orthogonal_max_is_zero(spark):
    from mini_feature_store_spark.operators.similarity import (
        semantic_decontaminate,
    )

    bench = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    corp = spark.createDataFrame([(100, [0.0, -2.0])], ["vec_id", "embedding"])
    r = semantic_decontaminate(corp, bench, threshold=0.5).collect()[0]
    # vs bench0: 0.0, vs bench2: -1.0 → max 0.0 matched to id 0
    assert (r.max_cosine, r.matched_id, r.contaminated) == (0.0, 0, False)


def test_semantic_decontaminate_rejects_out_of_range_bench_id(spark):
    from mini_feature_store_spark.operators.similarity import (
        semantic_decontaminate,
    )

    bench = spark.createDataFrame([(-1, [1.0, 0.0])], ["vec_id", "embedding"])
    corp = spark.createDataFrame([(100, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(Exception, match="benchmark id out of"):
        semantic_decontaminate(corp, bench).collect()
