"""The text tier's token-window kernel (``operators/text.py``): one
tokenization, one window-start explode and one gram string for the LM
scorers, the DSIR/DoReMi buckets and the span operators.

``EDGE_DOCS`` is one corpus of the degenerate documents every n-gram
operator must agree on: NULL, empty, blank, tab-only, a single token,
``ORDER - 1`` tokens, repeated grams and mixed whitespace.
"""

from __future__ import annotations

import ast
import hashlib
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

ORDER = 3

EDGE_DOCS = [
    (0, None),
    (1, ""),
    (2, "   "),
    (3, "\t"),
    (4, "solo"),
    (5, "two words"),
    (6, "a b a b a b a"),
    (7, "The cat  sat\non the mat, the CAT sat\t"),
    (8, "\tthe cat sat on the mat the cat sat on\n"),
]

_OPERATORS = Path(__file__).resolve().parent.parent / (
    "mini_feature_store_spark/operators"
)


def _python_tokens(text: str | None) -> list[str]:
    return [] if text is None else text.lower().split()


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(
        [(i, t, "even" if i % 2 == 0 else "odd") for i, t in EDGE_DOCS],
        "doc_id long, text string, source string",
    )


def test_normalize_collapses_whitespace_before_trimming(spark):
    """Spark's trim strips only spaces, so a trailing newline or a
    leading tab must become a space before it runs: the three spellings
    of one text share a fingerprint, and the DuckDB mirror tokenizes
    tab-only and trailing-newline documents as Spark does."""
    import duckdb

    from mini_feature_store_spark.operators.text import _doc_tokens, fingerprint
    from mini_feature_store_spark.queries import _TOKS_SQL, _norm_sql

    texts = ["hello world", "hello world\n", "\tHello   World"]
    docs = ["\t", "hello world\n", "\n\t ", " a\tb \r\n"] + texts
    got = {
        r.text: (r.toks, r.fp)
        for r in spark.createDataFrame([(t,) for t in docs], "text string")
        .select(
            "text",
            _doc_tokens(F.col("text")).alias("toks"),
            fingerprint(F.col("text")).alias("fp"),
        )
        .collect()
    }
    con = duckdb.connect()
    for text in docs:
        mirror = con.execute(
            f"SELECT {_TOKS_SQL}, md5({_norm_sql()}) FROM (SELECT ? AS text)",
            [text],
        ).fetchone()
        assert got[text] == mirror, repr(text)
        assert mirror[0] == _python_tokens(text), repr(text)
    assert len({got[t][1] for t in texts}) == 1


def test_lm_and_dsir_buckets_see_the_same_grams(spark, edge_docs):
    """The LM's stacked counts and the DSIR/DoReMi buckets hash the same
    gram multiset; the DSIR sentinel adds exactly one NULL bucket per
    document, NULL text included."""
    from mini_feature_store_spark.operators.doremi import doremi_bucket_counts
    from mini_feature_store_spark.operators.dsir import _bucketed_grams
    from mini_feature_store_spark.operators.text import _stacked_gram_counts

    expected = Counter()
    for _, text in EDGE_DOCS:
        toks = _python_tokens(text)
        for i in range(len(toks)):
            for k in range(1, min(ORDER, len(toks) - i) + 1):
                expected[" ".join(toks[i:i + k])] += 1
    # the sentinel '' row counts the reference's tokens
    expected[""] = sum(len(_python_tokens(t)) for _, t in EDGE_DOCS)
    stacked = _stacked_gram_counts(edge_docs, ORDER, "text").collect()
    assert {r.g: r._c for r in stacked} == expected

    n_buckets = 1 << 20
    lm = Counter()
    for r in stacked:
        if r.g:
            lm[int(hashlib.md5(r.g.encode()).hexdigest()[:8], 16) % n_buckets] += r._c

    dsir = Counter(
        r.bucket
        for r in _bucketed_grams(edge_docs, "text", n_buckets, ORDER).collect()
    )
    assert dsir == lm
    doremi = Counter()
    for r in doremi_bucket_counts(
        edge_docs, n_buckets=n_buckets, max_order=ORDER
    ).collect():
        doremi[r.bucket] += r.cnt
    assert doremi == lm

    with_sentinel = _bucketed_grams(
        edge_docs, "text", n_buckets, ORDER, id_cols=("doc_id",),
        with_sentinel=True,
    ).collect()
    assert Counter(
        r.doc_id for r in with_sentinel if r.bucket is None
    ) == Counter(i for i, _ in EDGE_DOCS)
    assert Counter(r.bucket for r in with_sentinel if r.bucket is not None) == lm


def test_dsir_score_column_equals_batch_scorer(spark, edge_docs):
    from mini_feature_store_spark.operators.dsir import (
        dsir_bucket_weights,
        dsir_score_column,
        dsir_score_with_weights,
    )

    n_buckets = 64
    target = edge_docs.where(F.col("doc_id") >= 6)
    weights = dsir_bucket_weights(
        target, edge_docs, n_buckets=n_buckets, max_order=ORDER
    )
    w = [r.weight for r in weights.orderBy("bucket").collect()]
    column = {
        r.doc_id: r.s
        for r in edge_docs.select(
            "doc_id", dsir_score_column(F.col("text"), w, max_order=ORDER).alias("s")
        ).collect()
    }
    batch = {
        r.doc_id: r.log_weight
        for r in dsir_score_with_weights(
            weights, edge_docs, n_buckets=n_buckets, max_order=ORDER
        ).collect()
    }
    assert column == batch
    assert len(batch) == len(EDGE_DOCS)


@pytest.mark.parametrize("k", [1, 2, ORDER, 5])
def test_windows_number_tokens_minus_k_plus_one(spark, edge_docs, k):
    """Every document has ``max(0, tokens - k + 1)`` span windows and LM
    n-gram positions."""
    from mini_feature_store_spark.operators.dedup import _token_windows
    from mini_feature_store_spark.operators.text import _exploded_ngrams

    expected = {
        i: max(0, len(_python_tokens(t)) - k + 1)
        for i, t in EDGE_DOCS
        if len(_python_tokens(t)) >= k
    }
    spans = _token_windows(edge_docs, k, "text", "doc_id")
    lm = _exploded_ngrams(edge_docs, k, "text", "doc_id")
    for frame in (spans, lm):
        got = {r.id: r["count"] for r in frame.groupBy("id").count().collect()}
        assert got == expected
    positions = spans.groupBy("id").agg(
        F.min("pos").alias("lo"), F.max("pos").alias("hi")
    )
    assert {r.id: (r.lo, r.hi) for r in positions.collect()} == {
        i: (1, n) for i, n in expected.items()
    }


@pytest.mark.parametrize(
    "query",
    ["doc_text_stats", "doc_lang_id", "doc_chunk_windows", "doc_sequence_packing"],
)
def test_raw_text_tokens_match_the_duckdb_mirrors(spark, tmp_path, query):
    """The raw-text tokenizers (``token_count``, ``text_stats``,
    ``lang_id``, ``chunk_documents``) collapse whitespace before they
    trim, like ``normalize``: a trailing newline or a leading tab makes
    no empty token. Each query equals its DuckDB oracle on such
    documents, and the token counts are Python's ``str.split``."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    texts = [
        "hello world\n",
        "\tthe cat sat on the mat",
        " Der Hund\t und die  Katze\r\n",
        "\n\tle chat et la souris \t",
        "a\x0bb",
    ]
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": ["a", "b", "a", "b", "a"],
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    got = entry.queries()[query](spark, str(tmp_path))
    cols = sorted(got.columns)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    res = con.execute(entry.oracle_sql()[query])
    order = sorted(range(len(res.description)), key=lambda i: res.description[i][0])
    mirror = sorted(tuple(row[i] for i in order) for row in res.fetchall())
    assert sorted(tuple(r[c] for c in cols) for r in got.collect()) == mirror
    # every document is shorter than one chunk
    count = "chunk_len" if query == "doc_chunk_windows" else "n_tokens"
    key = "id" if query == "doc_chunk_windows" else "doc_id"
    if count in cols:
        n_tokens = {r[0]: r[1] for r in got.select(key, count).collect()}
        assert n_tokens == {i: len(t.split()) for i, t in enumerate(texts)}


#: The kernel functions: the only place in the token-window modules that
#: may build window starts (``F.sequence``) or gram strings
#: (``F.array_join(F.slice(...))``).
_KERNEL = {"_window_starts", "_gram", "_grams_from"}


def _call_name(node: ast.AST) -> str | None:
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    ):
        return node.func.attr
    return None


@pytest.mark.parametrize("module", ["text.py", "dsir.py", "dedup.py"])
def test_window_starts_and_gram_strings_only_in_the_kernel(module):
    tree = ast.parse((_OPERATORS / module).read_text())
    owners = {}
    for top in tree.body:
        for node in ast.walk(top):
            name = _call_name(node)
            is_gram = (
                name == "array_join"
                and node.args
                and _call_name(node.args[0]) == "slice"
            )
            if name == "sequence" or is_gram:
                owner = getattr(top, "name", "<module>")
                owners.setdefault(owner, []).append(node.lineno)
    assert set(owners) <= _KERNEL, owners
    if module == "text.py":
        assert set(owners) == {"_window_starts", "_gram", "_grams_from"}
