"""BPE vocabulary induction (operators/bpe.py) — the merge fold against a
Python reference, end-to-end training against an independent in-memory
implementation, tokenizer application, and plan/discipline shape."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F


def _ref_apply(syms: list[str], p1: str, p2: str) -> list[str]:
    """Reference greedy left-to-right non-overlapping merge."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == p1 and syms[i + 1] == p2:
            out.append(p1 + p2)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _ref_train(texts: list[str], n_merges: int):
    """Independent single-machine BPE trainer (the subword-nmt shape)."""
    import re

    words = Counter()
    for t in texts:
        for w in re.findall(
            r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+", t.lower()
        ):
            words[w] += 1
    splits = {w: [c for c in w] for w in words}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for w, freq in words.items():
            s = splits[w]
            for a, b in zip(s, s[1:]):
                pairs[(a, b)] += freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (p1, p2), cnt = best
        merges.append((rank, p1, p2, cnt))
        splits = {w: _ref_apply(s, p1, p2) for w, s in splits.items()}
    return merges, splits


def test_apply_merge_matches_reference(spark):
    """The F.aggregate fold == the reference single-pass merge, including
    the overlapping-run case (p1 == p2 takes every other match)."""
    import itertools

    from mini_feature_store_spark.operators.bpe import _apply_merge

    cases = [
        list(c)
        for n in range(0, 5)
        for c in itertools.product("ab", repeat=n)
    ] + [["aa", "a", "aa", "aa"], ["b", "ab", "a", "b"], ["ab", "b", "b"]]
    for p1, p2 in [("a", "a"), ("a", "b"), ("b", "a"), ("aa", "aa"), ("a", "ab")]:
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cases)], "i long, syms array<string>"
        )
        got = {
            r.i: list(r.m)
            for r in df.select(
                "i", _apply_merge(F.col("syms"), p1, p2).alias("m")
            ).collect()
        }
        for i, c in enumerate(cases):
            assert got[i] == _ref_apply(c, p1, p2), (c, p1, p2)


def test_bpe_train_matches_reference(spark):
    """Full distributed training == the independent Python trainer:
    identical merge table (order, pairs, counts) and identical final
    word splits."""
    from mini_feature_store_spark.operators.bpe import bpe_train

    texts = [
        "the cat sat on the mat",
        "the cats sat on the mats",
        "that hat is the cat hat",
        "matting and batting 123 123!",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, vocab = bpe_train(df, n_merges=8)
    ref_merges, ref_splits = _ref_train(texts, 8)
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.pair_count)
        for r in merges.orderBy("merge_rank").collect()
    ]
    assert got == ref_merges
    got_splits = {r.word: list(r.syms) for r in vocab.collect()}
    assert got_splits == ref_splits
    vocab.unpersist()


def test_bpe_train_runs_dry_on_tiny_vocab(spark):
    """When every word is fully merged the loop stops early and the merge
    table is shorter than n_merges (no crash, no phantom rows)."""
    from mini_feature_store_spark.operators.bpe import bpe_train

    df = spark.createDataFrame(
        [(0, "ab ab ab"), (1, "ab")], "doc_id long, text string"
    )
    merges, vocab = bpe_train(df, n_merges=10)
    rows = merges.orderBy("merge_rank").collect()
    # 'ab' has exactly one pair to learn; afterwards no pairs remain
    assert len(rows) == 1
    assert (rows[0].left_sym, rows[0].right_sym) == ("a", "b")
    assert {tuple(r.syms) for r in vocab.collect()} == {("ab",)}
    vocab.unpersist()

    with pytest.raises(ValueError, match="n_merges"):
        bpe_train(df, n_merges=0)


def test_bpe_tokenize_applies_vocab_and_falls_back(spark):
    """Tokenization joins the trained splits in document order; chunks
    unseen at training time fall back to their character split."""
    from mini_feature_store_spark.operators.bpe import bpe_tokenize, bpe_train

    train = spark.createDataFrame(
        [(0, "low lower lowest low low")], "doc_id long, text string"
    )
    _, vocab = bpe_train(train, n_merges=3)
    sample = spark.createDataFrame(
        [(7, "low lower"), (8, "unseen low")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in bpe_tokenize(sample, vocab).collect()}
    assert set(out) == {7, 8}
    # 'low' trained to a single symbol within 3 merges (freq 4 dominates)
    assert out[7].tokens.startswith("low ")
    toks8 = out[8].tokens.split(" ")
    # 'unseen' was never trained: char-split fallback, then trained 'low'
    assert toks8[: len("unseen")] == list("unseen")
    assert out[8].n_tokens == len(toks8)
    vocab.unpersist()


def test_bpe_encode_replays_training_splits_and_handles_oov(spark):
    """Merge-rank replay reproduces the training split for every trained
    word (the canonical BPE encode property), and an UNSEEN word gets
    the deepest merges its characters admit — strictly better than the
    vocab-lookup fallback's blind char split."""
    from mini_feature_store_spark.operators.bpe import (
        bpe_encode,
        bpe_tokenize,
        bpe_train,
    )

    train = spark.createDataFrame(
        [
            (0, "low low low low lower lower lowest"),
            (1, "newer newest new wider wide widest"),
        ],
        "doc_id long, text string",
    )
    merges, vocab = bpe_train(train, n_merges=6)

    # in-vocab: encode == vocab-table tokenize, doc for doc
    enc = {r.doc_id: r.tokens for r in bpe_encode(train, merges).collect()}
    tok = {
        r.doc_id: r.tokens for r in bpe_tokenize(train, vocab).collect()
    }
    assert enc == tok

    # OOV: 'lowerest' was never trained, but its prefix shares trained
    # merges — replay must apply them (no 'l o w e r e s t' char soup)
    oov = spark.createDataFrame(
        [(9, "lowerest")], "doc_id long, text string"
    )
    enc_oov = bpe_encode(oov, merges).collect()[0]
    fallback = bpe_tokenize(oov, vocab).collect()[0]
    assert enc_oov.n_tokens < fallback.n_tokens  # deeper than char split
    assert "".join(enc_oov.tokens.split(" ")) == "lowerest"  # lossless
    vocab.unpersist()


def test_replay_word_cursor_equals_fold_chain():
    """_replay_word == applying _ref_apply per rank 1..n, INCLUDING the
    re-created-pair corner: a rank-1 pair whose left symbol only comes
    into existence via a rank-2 merge must stay UNapplied (the fold
    chain never revisits a passed rank), where a plain min-rank-first
    replay would wrongly apply it."""
    from mini_feature_store_spark.operators.bpe import _replay_word

    # hand-built table: rank 1 references a symbol rank 2 creates
    rank_of = {("ab", "c"): 1, ("a", "b"): 2}
    assert _replay_word("abc", rank_of) == ["ab", "c"]  # NOT ["abc"]

    # random-ish exhaustive check against the sequential reference
    import itertools

    rules = [("a", "b"), ("b", "a"), ("ab", "a"), ("a", "a"), ("ba", "b")]
    rank_of = {p: i for i, p in enumerate(rules, start=1)}
    for n in range(1, 7):
        for chars in itertools.product("ab", repeat=n):
            word = "".join(chars)
            ref = [c for c in word]
            for p1, p2 in rules:
                ref = _ref_apply(ref, p1, p2)
            assert _replay_word(word, rank_of) == ref, word


def test_bpe_encode_fold_equals_replay(spark):
    """The column-fold form (the oracle form) and the Arrow merge-replay
    form (the real-vocabulary path) produce identical encodings, doc
    for doc — the directive's fold ≡ replay pin, on the gate's own
    training corpus shape."""
    from mini_feature_store_spark.operators.bpe import bpe_encode, bpe_train

    texts = [
        "the cat sat on the mat",
        "the cats sat on the mats",
        "that hat is the cat hat 123!",
        "lower lowest low low newer newest",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, vocab = bpe_train(df, n_merges=10)
    vocab.unpersist()
    fold = {
        r.doc_id: (r.n_tokens, r.tokens)
        for r in bpe_encode(df, merges, strategy="fold").collect()
    }
    replay = {
        r.doc_id: (r.n_tokens, r.tokens)
        for r in bpe_encode(df, merges, strategy="replay").collect()
    }
    assert fold == replay


def test_bpe_train_local_equals_distributed(spark, monkeypatch):
    """The driver-local heap trainer and the per-round Spark loop learn
    the IDENTICAL merge table and final vocab splits (the prune-then-
    local directive's exactness pin — no pruning configured)."""
    from mini_feature_store_spark.operators import bpe
    from mini_feature_store_spark.operators.bpe import bpe_train

    texts = [
        "the cat sat on the mat",
        "the cats sat on the mats",
        "that hat is the cat hat",
        "matting and batting 123 123!",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    m_loc, v_loc = bpe_train(df, n_merges=8)
    monkeypatch.setattr(bpe, "LOCAL_MAX_WORDS", 0)  # force distributed
    m_dist, v_dist = bpe_train(df, n_merges=8)
    rows = lambda m: [  # noqa: E731
        tuple(r)
        for r in m.orderBy("merge_rank")
        .select("merge_rank", "left_sym", "right_sym", "pair_count")
        .collect()
    ]
    assert rows(m_loc) == rows(m_dist)
    splits = lambda v: {  # noqa: E731
        r.word: (r.freq, tuple(r.syms)) for r in v.collect()
    }
    assert splits(v_loc) == splits(v_dist)
    v_loc.unpersist()
    v_dist.unpersist()


def test_bpe_train_local_bounds_and_prune(spark, monkeypatch):
    """A word table over LOCAL_MAX_WORDS falls back to the distributed
    loop instead of an unbounded collect; prune_min_freq trains on
    frequent chunks only while the vocab still covers EVERY word
    (pruned words get replayed splits)."""
    from mini_feature_store_spark.operators import bpe
    from mini_feature_store_spark.operators.bpe import bpe_train

    df = spark.createDataFrame(
        [(0, "aa bb cc dd ee ff aa bb aa")], "doc_id long, text string"
    )
    with monkeypatch.context() as m:
        m.setattr(bpe, "LOCAL_MAX_WORDS", 3)
        m_auto, v_auto = bpe_train(df, n_merges=2)
    assert m_auto.count() == 2  # distributed fallback still trains
    v_auto.unpersist()

    # prune: only 'aa' (freq 3) and 'bb' (freq 2) survive min_freq=2 —
    # the learned merges come from those, but every word keeps a vocab
    # row with the merges replayed over it
    m, v = bpe_train(df, n_merges=1, prune_min_freq=2)
    got = m.collect()[0]
    assert (got.left_sym, got.right_sym, got.pair_count) == ("a", "a", 3)
    vd = {r.word: tuple(r.syms) for r in v.collect()}
    assert set(vd) == {"aa", "bb", "cc", "dd", "ee", "ff"}
    assert vd["aa"] == ("aa",) and vd["bb"] == ("b", "b")
    v.unpersist()


def test_bpe_train_prune_honored_on_distributed_fallthrough(
    spark, monkeypatch
):
    """prune_min_freq whose pruned table STILL exceeds LOCAL_MAX_WORDS
    must run the pruned training distributed — same merges and same
    full-coverage vocab as the pruned local path (it used to silently
    train exact/unpruned)."""
    from mini_feature_store_spark.operators import bpe
    from mini_feature_store_spark.operators.bpe import bpe_train

    df = spark.createDataFrame(
        [(0, "aa bb cc dd ee ff aa bb aa cc")], "doc_id long, text string"
    )
    m_loc, v_loc = bpe_train(df, n_merges=2, prune_min_freq=2)
    # pruned table has 3 words (aa/bb/cc) > LOCAL_MAX_WORDS=2 → the
    # fallthrough runs the distributed loop, pruned
    monkeypatch.setattr(bpe, "LOCAL_MAX_WORDS", 2)
    m_dist, v_dist = bpe_train(df, n_merges=2, prune_min_freq=2)
    assert [tuple(r) for r in m_loc.collect()] == [
        tuple(r) for r in m_dist.collect()
    ]
    vl = {r.word: tuple(r.syms) for r in v_loc.collect()}
    vdst = {r.word: tuple(r.syms) for r in v_dist.collect()}
    assert vl == vdst
    assert set(vl) == {"aa", "bb", "cc", "dd", "ee", "ff"}  # full coverage
    v_loc.unpersist()
    v_dist.unpersist()


def test_bpe_train_vocab_is_trainer_owned(spark):
    """A caller-provided ``words`` frame with no adjacent pair (every
    word one character) ends the distributed loop in round 1. The
    returned ``vocab`` must still be a frame the trainer owns:
    releasing it must leave the caller's cached ``words`` intact."""
    from mini_feature_store_spark.operators.bpe import (
        LOCAL_MAX_WORDS,
        bpe_train,
    )

    # one row over the local bound, so the distributed loop runs
    words = spark.range(LOCAL_MAX_WORDS + 1).select(
        F.lit("a").alias("word"),
        F.lit(1).cast("long").alias("freq"),
        F.array(F.lit("a")).alias("syms"),
    ).persist()
    words.count()
    try:
        merges, vocab = bpe_train(words, n_merges=2, words=words)
        assert merges.count() == 0
        assert vocab is not words
        assert vocab.count() == LOCAL_MAX_WORDS + 1
        syms = vocab.select("syms").distinct().collect()
        assert [tuple(r.syms) for r in syms] == [("a",)]
        vocab.unpersist()
        assert words.is_cached
    finally:
        words.unpersist()


def test_bpe_train_cli(spark, tmp_path):
    """CLI wiring: bpe-train writes merges.parquet + vocab.parquet."""
    from mini_feature_store_spark import cli

    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "the cat sat on the mat the cat")], "doc_id long, text string"
    ).write.parquet(inp)
    out = str(tmp_path / "tok")
    rc = cli.main(
        [
            "bpe-train",
            "--input-path", inp,
            "--output-dir", out,
            "--n-merges", "4",
        ]
    )
    assert rc == 0
    merges = spark.read.parquet(out + "/merges.parquet")
    assert merges.count() == 4
    assert set(merges.columns) == {
        "merge_rank", "left_sym", "right_sym", "pair_count"
    }
    vocab = spark.read.parquet(out + "/vocab.parquet")
    assert {r.word for r in vocab.collect()} >= {"the", "cat", "sat"}


def test_counts_only_equals_full_path(spark):
    """counts_only=True must return exactly the (id, n_tokens) pairs of
    the full reassembly path for every tokenizer family — the r16
    shuffle-thinning contract: same numbers, no position/symbol arrays
    crossing the doc-keyed exchange. Covers the vocab-lookup fallback
    (OOV chunk) and a blank doc (no chunks -> absent from BOTH)."""
    from mini_feature_store_spark.operators.bpe import (
        bpe_encode,
        bpe_tokenize,
        bpe_train,
    )
    from mini_feature_store_spark.operators.unigram import (
        unigram_tokenize,
        unigram_train,
    )

    train = spark.createDataFrame(
        [
            (0, "low low low lower lowest wide wider"),
            (1, "new newer newest low wide"),
        ],
        "doc_id long, text string",
    )
    merges, vocab = bpe_train(train, n_merges=5)
    sample = spark.createDataFrame(
        [(7, "low lower unseen"), (8, "  "), (9, "widest newest")],
        "doc_id long, text string",
    )

    def pairs(df):
        return {(r.doc_id, r.n_tokens) for r in df.collect()}

    full_tok = bpe_tokenize(sample, vocab).select("doc_id", "n_tokens")
    fast_tok = bpe_tokenize(sample, vocab, counts_only=True)
    assert set(fast_tok.columns) == {"doc_id", "n_tokens"}
    assert pairs(fast_tok) == pairs(full_tok)
    assert 8 not in {d for d, _ in pairs(fast_tok)}  # blank doc absent

    for strategy in ("fold", "replay"):
        full_enc = bpe_encode(sample, merges, strategy=strategy).select(
            "doc_id", "n_tokens"
        )
        fast_enc = bpe_encode(
            sample, merges, strategy=strategy, counts_only=True
        )
        assert pairs(fast_enc) == pairs(full_enc), strategy

    pieces = unigram_train(train, vocab_size=8, max_piece_len=4)
    full_uni = unigram_tokenize(sample, pieces).select("doc_id", "n_tokens")
    fast_uni = unigram_tokenize(sample, pieces, counts_only=True)
    assert pairs(fast_uni) == pairs(full_uni)
    assert fast_uni.schema["n_tokens"].dataType.simpleString() == "bigint"
    vocab.unpersist()


def test_reassemble_narrowed_equals_flatten_form(spark):
    """r17 §2.3 payload narrowing: _reassemble collapses each chunk
    occurrence to (joined string, count) BEFORE the doc-keyed exchange.
    Pin it against the naive flatten-of-arrays form on a frame with
    out-of-order positions, multi-symbol chunks, and several docs —
    byte-identical tokens and exact n_tokens."""
    from pyspark.sql import functions as F

    from mini_feature_store_spark.operators.bpe import _reassemble

    per_chunk = spark.createDataFrame(
        [
            (1, 2, ["c"]),
            (1, 0, ["ab", "x"]),
            (1, 1, ["y"]),
            (2, 0, ["zz", "q", "r"]),
            (3, 5, ["single"]),
        ],
        "doc_id long, pos int, syms array<string>",
    )
    naive = (
        per_chunk.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s["syms"],
                )
            ).alias("_toks")
        )
        .select(
            "doc_id",
            F.size("_toks").cast("long").alias("n_tokens"),
            F.array_join("_toks", " ").alias("tokens"),
        )
    )
    got = {
        r.doc_id: (r.n_tokens, r.tokens)
        for r in _reassemble(per_chunk, "doc_id").collect()
    }
    want = {r.doc_id: (r.n_tokens, r.tokens) for r in naive.collect()}
    assert got == want
    assert got[1] == (4, "ab x y c")
