"""Unigram-LM tokenizer (operators/unigram.py) — Viterbi segmentation
against hand cases, full training against an independent in-memory
implementation (seed + usage refinement), tokenizer application."""

from __future__ import annotations

import re
from collections import Counter

import pytest


def _ref_segment(word, freq_of, max_piece_len):
    """Independent Viterbi under (count, -freq_sum, key) — a fresh
    implementation of the documented score, not a copy."""
    n = len(word)
    best_at = {0: (0, 0, "", [])}
    for i in range(1, n + 1):
        cands = []
        for j in range(max(0, i - max_piece_len), i):
            if j not in best_at:
                continue
            piece = word[j:i]
            if piece in freq_of:
                f = freq_of[piece]
            elif len(piece) == 1:
                f = 0
            else:
                continue
            c, nf, key, seq = best_at[j]
            cands.append(
                (c + 1, nf - f, (key + " " + piece).strip(), seq + [piece])
            )
        if cands:
            best_at[i] = min(cands, key=lambda t: t[:3])
    return best_at[n][3]


def _ref_train(texts, vocab_size, max_piece_len, refine_rounds):
    words = Counter()
    for t in texts:
        for w in re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+", t.lower()):
            words[w] += 1
    pieces = Counter()
    for w, f in words.items():
        for i in range(len(w)):
            for ln in range(1, min(max_piece_len, len(w) - i) + 1):
                pieces[w[i : i + ln]] += f
    chars = {p for p in pieces if len(p) == 1}

    def select(tbl):
        top = sorted(tbl.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
        vocab = dict(top)
        for c in chars:
            vocab.setdefault(c, tbl.get(c, 0))
        return vocab

    vocab = select(pieces)
    for _ in range(refine_rounds):
        usage = Counter()
        for w, f in words.items():
            for piece in _ref_segment(w, vocab, max_piece_len):
                usage[piece] += f
        vocab = select(usage)
    return vocab


def test_segment_word_hand_cases():
    from mini_feature_store_spark.operators.unigram import _segment_word

    vocab = {"ab": 10, "bc": 8, "a": 5, "b": 4, "c": 3}
    # [ab,c] and [a,bc] tie on (2 pieces, freq 13); the lexicographic
    # key breaks it: 'a bc' < 'ab c'
    assert _segment_word("abc", vocab, 4) == ["a", "bc"]
    # fewest pieces beats raw frequency: [ab] (1 piece) over [a, b] (2)
    assert _segment_word("ab", vocab, 4) == ["ab"]
    # unseen single chars fall back to freq-0 closure
    assert _segment_word("xq", vocab, 4) == ["x", "q"]
    # max_piece_len bounds the window: with window 1 only chars apply
    assert _segment_word("abc", vocab, 1) == ["a", "b", "c"]
    # within-budget frequency tiebreak: 'aab' -> [a, ab] (13) not [ab?]..
    assert _segment_word("aab", vocab, 4) == ["a", "ab"]


@pytest.mark.parametrize("refine_rounds", [0, 1, 2])
def test_unigram_train_matches_reference(spark, refine_rounds):
    """Distributed training == the independent Python trainer, for the
    frequency seed and every usage-refinement round."""
    from mini_feature_store_spark.operators.unigram import unigram_train

    texts = [
        "the cat sat on the mat",
        "the cats sat on the mats",
        "that hat is the cat hat 123!",
        "matting and batting",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    vocab = unigram_train(
        df, vocab_size=12, max_piece_len=4, refine_rounds=refine_rounds
    )
    got = {r.piece: r.freq for r in vocab.collect()}
    ref = _ref_train(texts, 12, 4, refine_rounds)
    assert got == ref


def test_unigram_tokenize_contract(spark):
    """Tokenize output matches the bpe_tokenize contract (n_tokens,
    space-joined tokens, lossless reassembly), and each chunk's pieces
    equal the reference Viterbi segmentation."""
    from mini_feature_store_spark.operators.unigram import (
        unigram_tokenize,
        unigram_train,
    )

    texts = ["the cat sat on the mat", "that cat is the best cat"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    vocab = unigram_train(df, vocab_size=10, max_piece_len=4)
    freq_of = {r.piece: r.freq for r in vocab.collect()}
    out = {r.doc_id: r for r in unigram_tokenize(df, vocab).collect()}
    for i, t in enumerate(texts):
        toks = out[i].tokens.split(" ")
        assert out[i].n_tokens == len(toks)
        # lossless: pieces re-concatenate to the chunk stream
        chunks = re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+", t.lower())
        assert "".join(toks) == "".join(chunks)
        # per-chunk: exactly the reference segmentation
        expect = [
            p for c in chunks for p in _ref_segment(c, freq_of, 4)
        ]
        assert toks == expect

    # unseen chunk at tokenize time: closure fallback, no crash
    oov = spark.createDataFrame([(9, "zzqq")], "doc_id long, text string")
    got = unigram_tokenize(oov, vocab).collect()[0]
    assert "".join(got.tokens.split(" ")) == "zzqq"


def test_unigram_train_cli(spark, tmp_path):
    """CLI wiring: unigram-train writes pieces.parquet."""
    from mini_feature_store_spark import cli

    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "the cat sat on the mat the cat")], "doc_id long, text string"
    ).write.parquet(inp)
    out = str(tmp_path / "tok")
    rc = cli.main(
        [
            "unigram-train",
            "--input-path", inp,
            "--output-dir", out,
            "--vocab-size", "8",
            "--max-piece-len", "3",
        ]
    )
    assert rc == 0
    pieces = spark.read.parquet(out + "/pieces.parquet")
    got = {r.piece for r in pieces.collect()}
    assert set(pieces.columns) == {"piece", "freq"}
    # closure: every training character present
    assert got >= set("thecasonm")


def test_unigram_train_validations(spark):
    from mini_feature_store_spark.operators.unigram import unigram_train

    df = spark.createDataFrame([(0, "ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="vocab_size"):
        unigram_train(df, vocab_size=0)
    with pytest.raises(ValueError, match="max_piece_len"):
        unigram_train(df, vocab_size=4, max_piece_len=0)
    with pytest.raises(ValueError, match="refine_rounds"):
        unigram_train(df, vocab_size=4, refine_rounds=-1)


def test_unigram_oracle_dp_unroll_guard_fires_loudly():
    """The DuckDB oracle's Viterbi unroll only covers words up to
    _UNI_MAX_WLEN chars; a longer word must make the oracle RAISE (via
    the row-lazy error() branch in the final union), never silently
    drop out of usage counts (ADVICE r11)."""
    import duckdb

    from mini_feature_store_spark.queries import (
        _UNI_MAX_WLEN,
        _unigram_dp_ctes,
    )

    con = duckdb.connect()
    sql_tpl = (
        "WITH dw AS (SELECT word, length(word) AS wlen FROM "
        "(SELECT unnest({words}) AS word)), "
        "v1 AS (SELECT piece, CAST(freq AS BIGINT) AS freq FROM "
        "(SELECT unnest(['a', 'b']) AS piece, unnest([3, 2]) AS freq)), "
        + _unigram_dp_ctes("u", "dw", "v1")
        + " SELECT word, key FROM uF"
    )

    ok = con.execute(sql_tpl.format(words="['ab', 'ba']")).fetchall()
    assert {w for w, _ in ok} == {"ab", "ba"}

    long_word = "a" * (_UNI_MAX_WLEN + 1)
    with pytest.raises(Exception, match="exceeds the unrolled DP depth"):
        con.execute(sql_tpl.format(words=f"['ab', '{long_word}']")).fetchall()


def test_unigram_train_em_properties(spark):
    """True-EM trainer (Kudo 2018, float probabilities): probabilities
    normalize, the character closure survives pruning, the vocabulary
    bound holds, and the result substantially overlaps the
    integer-scored variant's vocabulary on the same corpus (the two
    are the same algorithm family — EM posterior counts vs Viterbi
    usage counts)."""
    import math

    from mini_feature_store_spark.operators.unigram import (
        unigram_train,
        unigram_train_em,
    )

    df = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the cats sat on mats"),
            (2, "a mat on the cat"),
            (3, "that cat on that mat sat"),
        ],
        "doc_id long, text string",
    )
    em = unigram_train_em(df, vocab_size=16, max_piece_len=4)
    rows = em.collect()
    got = {r.piece: r.logprob for r in rows}

    chars = set("thecasonmat")
    assert chars <= set(got), "character closure lost in pruning"
    assert len(got) <= max(16, len(chars))
    # probabilities are a distribution over the final vocabulary
    assert abs(sum(math.exp(v) for v in got.values()) - 1.0) < 1e-6
    assert all(v < 0 for v in got.values())

    integer = {
        r.piece
        for r in unigram_train(
            df, vocab_size=16, max_piece_len=4, refine_rounds=1
        ).collect()
    }
    overlap = len(set(got) & integer) / len(integer)
    assert overlap >= 0.5, f"EM vocab diverged from integer variant: {overlap}"


def test_unigram_train_em_prefers_frequent_long_pieces(spark):
    """A dominant repeated word must survive likelihood-loss pruning as
    a whole piece and outweigh rare characters. (EM from substring-
    frequency seeds is a local-optimum search — the mass may settle on
    the word's sub-pieces like 'z'/'zz' rather than the full 'zzzz';
    what pruning guarantees is that the high-loss whole piece is KEPT,
    not that it wins the argmax.)"""
    from mini_feature_store_spark.operators.unigram import unigram_train_em

    df = spark.createDataFrame(
        [(0, "zzzz " * 30 + "q r s t u v w x y")],
        "doc_id long, text string",
    )
    got = {
        r.piece: r.logprob
        for r in unigram_train_em(df, vocab_size=12, max_piece_len=4).collect()
    }
    assert "zzzz" in got
    # the dominant word's pieces outweigh every rare letter
    assert got["zzzz"] > got["q"]
    assert max(got, key=got.get) in {"z", "zz", "zzz", "zzzz"}


def test_unigram_train_em_validations(spark):
    from mini_feature_store_spark.operators.unigram import unigram_train_em

    df = spark.createDataFrame([(0, "ab")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vocab_size"):
        unigram_train_em(df, vocab_size=0)
    with _pytest.raises(ValueError, match="max_piece_len"):
        unigram_train_em(df, vocab_size=4, max_piece_len=0)
    with _pytest.raises(ValueError, match="em_iters"):
        unigram_train_em(df, vocab_size=4, em_iters=0)
    with _pytest.raises(ValueError, match="shrink"):
        unigram_train_em(df, vocab_size=4, shrink=1.5)
    empty = spark.createDataFrame([(0, "   ")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="no chunks"):
        unigram_train_em(empty, vocab_size=4)


def test_unigram_tokenize_accepts_em_logprob_vocab(spark):
    """unigram_tokenize auto-detects the EM artifact (piece, logprob)
    and segments by max Σ logp — the true Kudo decoding rule — so the
    float-probability trainer's output is end-to-end usable (including
    via --pack-tokenizer-dir). Segmentations rebuild the exact words;
    a dominant whole-word piece with most of the mass is chosen over
    its character decomposition."""
    import math

    from mini_feature_store_spark.operators.unigram import (
        unigram_tokenize,
        unigram_train_em,
    )

    df = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "that cat on the mat sat")],
        "doc_id long, text string",
    )
    em = unigram_train_em(df, vocab_size=16, max_piece_len=4)
    out = {r.doc_id: r for r in unigram_tokenize(df, em).collect()}
    assert set(out) == {0, 1}
    for doc_id, text in [(0, "the cat sat on the mat"), (1, "that cat on the mat sat")]:
        toks = out[doc_id].tokens.split(" ")
        assert "".join(toks) == text.replace(" ", "")
        assert out[doc_id].n_tokens == len(toks)

    # hand-built vocab: 'ab' carries almost all mass -> must win over a+b
    vocab = spark.createDataFrame(
        [("ab", math.log(0.90)), ("a", math.log(0.05)), ("b", math.log(0.05))],
        "piece string, logprob double",
    )
    d2 = spark.createDataFrame([(0, "ab abq")], "doc_id long, text string")
    got = unigram_tokenize(d2, vocab).collect()[0]
    # 'ab' as one piece both times; 'q' falls back to the char floor
    assert got.tokens == "ab ab q"


def test_unigram_train_em_cli_and_packing_autodetect(spark, tmp_path):
    """unigram-train --em writes (piece, logprob) pieces.parquet, and
    the curation pipeline's --pack-tokenizer-dir auto-detect sizes
    packing bins through the EM artifact (the logprob tokenize path) —
    the float trainer is end-to-end usable."""
    from mini_feature_store_spark import cli
    from mini_feature_store_spark.pipelines.corpus_curate import (
        CorpusCurationConfig,
        run_corpus_curation,
    )

    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (0, "the cat sat on the mat and the cat sat again today"),
            (1, "that cat on the mat sat with the other cat there"),
        ],
        "doc_id long, text string",
    ).write.parquet(inp)
    tok = str(tmp_path / "tok")
    rc = cli.main(
        [
            "unigram-train",
            "--input-path", inp,
            "--output-dir", tok,
            "--vocab-size", "16",
            "--max-piece-len", "4",
            "--em",
        ]
    )
    assert rc == 0
    pieces = spark.read.parquet(tok + "/pieces.parquet")
    assert set(pieces.columns) == {"piece", "logprob"}

    out = str(tmp_path / "clean")
    funnel = run_corpus_curation(
        spark,
        CorpusCurationConfig(
            input_path=inp,
            output_path=out,
            jaccard_threshold=0.99,
            pack_max_tokens=16,
            pack_shards=2,
            pack_tokenizer_dir=tok,
        ),
    )
    assert funnel["packed_docs"] == funnel["written"] == 2
    manifest = spark.read.parquet(out + "_packing")
    assert {r.doc_id for r in manifest.collect()} == {0, 1}
    assert all(r.n_tokens > 0 for r in manifest.collect())


def test_unigram_train_local_equals_distributed(spark, monkeypatch):
    """The r16 driver-local trainer path (word table within
    LOCAL_MAX_WORDS) must reproduce the distributed form EXACTLY for
    the integer trainer — integer sums are associative, so this is a
    bit-equality contract, not a tolerance. The EM trainer's float
    path is rows-only by design; for it we pin the surviving piece SET
    and per-piece logprob agreement to 1e-9 (the only divergence
    permitted is float summation order)."""
    from mini_feature_store_spark.operators import bpe
    from mini_feature_store_spark.operators.unigram import (
        unigram_train,
        unigram_train_em,
    )

    def distributed(train, **kw):
        with monkeypatch.context() as m:
            m.setattr(bpe, "LOCAL_MAX_WORDS", 0)
            return {tuple(r) for r in train(df, **kw).collect()}

    df = spark.createDataFrame(
        [
            (0, "internationalization international nation"),
            (1, "nation nationality rational rationalize"),
            (2, "inter inter net network networking"),
        ],
        "doc_id long, text string",
    )
    for rounds in (0, 1, 2):
        loc = {
            (r.piece, r.freq)
            for r in unigram_train(
                df, vocab_size=12, max_piece_len=4, refine_rounds=rounds
            ).collect()
        }
        dist = distributed(
            unigram_train, vocab_size=12, max_piece_len=4,
            refine_rounds=rounds,
        )
        assert loc == dist, rounds

    em_loc = {
        r.piece: r.logprob
        for r in unigram_train_em(
            df, vocab_size=10, max_piece_len=4
        ).collect()
    }
    em_dist = dict(
        distributed(unigram_train_em, vocab_size=10, max_piece_len=4)
    )
    assert set(em_loc) == set(em_dist)
    for p, v in em_loc.items():
        assert abs(v - em_dist[p]) < 1e-9, p
