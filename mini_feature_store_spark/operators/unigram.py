"""Unigram-LM (SentencePiece-style) subword tokenizer — the alternative
induction algorithm to BPE (Kudo 2018, "Subword Regularization"; the
SentencePiece library's default). Where BPE GROWS a vocabulary by
merging pairs, unigram-LM SHRINKS one: seed a large candidate piece set
from corpus substrings, score pieces, keep the best V, and segment text
by the highest-scoring piece decomposition (Viterbi).

This implementation is the DETERMINISTIC INTEGER-SCORED variant:

- **Seed** — every substring of length ≤ ``max_piece_len`` of the
  distinct-chunk word table (the same one corpus pass / Heaps'-law
  separation as ``bpe.py``), frequency-weighted; keep the top
  ``vocab_size`` by (freq DESC, piece ASC) plus ALL single characters
  (segmentation closure — every word stays representable).
- **Refine** (``refine_rounds``, the EM-shaped step) — segment the
  word table with the current vocabulary, count each piece's actual
  USAGE (Σ word-freq × occurrences in the word's best segmentation),
  re-select top-V by usage. Kudo's M-step re-estimates float
  probabilities; usage counts are the integer sufficient statistic of
  that step, and staying in exact integers is what lets a DuckDB
  oracle replay training bit-identically (float EM would be
  engine-divergent at the argmax boundaries).
- **Segment** (Viterbi) — per word, the decomposition minimizing
  ``(piece_count, -Σ piece_freq, space-joined-pieces)``: fewest pieces
  first (what a converged unigram LM prefers — longer pieces carry
  more probability mass than their parts under any subadditive score),
  then highest total frequency, then a lexicographic key so the argmin
  is a TOTAL order — every comparison integer/string-exact, engine
  portable. Characters unseen at training segment as themselves with
  frequency 0 (the vocabulary-closure fallback).

Scale shape, mirroring ``bpe.py``: ONE corpus pass to the word table;
seeding and refinement run on the distinct-chunk table (vocabulary
scale), never the corpus. The Viterbi DP is O(len · max_piece_len) per
DISTINCT word, executed as an Arrow ``mapInPandas`` over the word set
with the vocabulary shipped by broadcast (``bpe.py:map_word_syms`` —
the packer pattern); tokenization joins segmentations back to chunk
positions, so the corpus is never shuffled by piece.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mini_feature_store_spark.functions import collect_if_bounded
from mini_feature_store_spark.operators import bpe
from mini_feature_store_spark.operators.bpe import (
    _chunk_positions,
    _chunk_stream,
    _count_tokens,
    _reassemble,
    map_word_syms,
    word_table,
)

#: piece-table schema of a trained vocabulary
PIECES_SCHEMA = "piece string, freq long"


def _word_freqs(tbl) -> dict[str, int]:
    """``{word: freq}`` of a collected ``(word, freq)`` Arrow table."""
    return dict(
        zip(tbl.column("word").to_pylist(), tbl.column("freq").to_pylist())
    )


def _pieces_from_words(words: DataFrame, max_piece_len: int) -> DataFrame:
    """Substring explode of a ``(word, freq)`` table → ``(piece, freq)``."""
    w = F.col("word")
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece_len), F.length(w) - i + 1),
                ),
                lambda ln: w.substr(i, ln),
            ),
        )
    )
    return (
        words.select("freq", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("freq"))
    )


def _segment_word(
    word: str, freq_of: dict[str, int], max_piece_len: int
) -> list[str]:
    """Viterbi segmentation under the integer score (see module
    docstring): dp over prefix lengths, each state carrying
    ``(piece_count, -freq_sum, key, pieces)`` with ``key`` the
    space-joined piece string — the deterministic total-order
    tie-break an oracle can replay (pieces never contain whitespace,
    so the key identifies the sequence)."""
    n = len(word)
    dp: list[tuple[int, int, str, tuple[str, ...]] | None] = [None] * (n + 1)
    dp[0] = (0, 0, "", ())
    for i in range(1, n + 1):
        best = None
        for j in range(max(0, i - max_piece_len), i):
            prev = dp[j]
            if prev is None:
                continue
            piece = word[j:i]
            f = freq_of.get(piece)
            if f is None:
                if i - j != 1:
                    continue
                f = 0  # unseen single char: closure fallback
            key = piece if not prev[2] else prev[2] + " " + piece
            cand = (prev[0] + 1, prev[1] - f, key, prev[3] + (piece,))
            if best is None or cand[:3] < best[:3]:
                best = cand
        dp[i] = best
    final = dp[n]
    assert final is not None  # single-char fallback keeps dp total
    return list(final[3])


def _with_segmented_syms(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """Attach each word's Viterbi segmentation as ``syms`` — vocabulary
    collected driver-side (bounded: vocab_size + alphabet rows, the
    IVF-centroid class) and shipped once per executor by broadcast.
    The DP window is DERIVED from the vocabulary (its longest piece),
    so a tokenize call can never silently under-window a vocabulary
    trained with a larger ``max_piece_len`` — candidates longer than
    any vocab piece are unmatchable anyway, so the derived window is
    exactly equivalent to the training one."""
    freq_of = {
        r["piece"]: int(r["freq"])
        for r in vocab.select("piece", "freq").collect()
    }
    window = max((len(p) for p in freq_of), default=1)
    bc = words.sparkSession.sparkContext.broadcast(freq_of)

    def factory():
        fo = bc.value
        return lambda w: _segment_word(w, fo, window)

    return map_word_syms(words, factory)


def unigram_train(
    df: DataFrame,
    vocab_size: int = 64,
    max_piece_len: int = 4,
    refine_rounds: int = 0,
    text_col: str = "text",
    words: DataFrame | None = None,
) -> DataFrame:
    """Train a unigram-LM piece vocabulary: seed + select, then
    ``refine_rounds`` usage-re-estimation rounds (the integer EM step).
    Returns ``(piece, freq)`` — ``freq`` is the substring frequency
    after seeding, the segmentation USAGE after refinement. Single
    characters are always retained (closure), with usage 0 when the
    refined segmentation never uses them standalone. The result is a
    small driver-built frame (bounded by construction: vocab_size +
    alphabet rows — the ``bpe_train`` merge-table contract, ``limit``
    so the plan walker sees it bounded); consumers re-evaluate it for
    free instead of re-running a corpus pass per use."""
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")
    if max_piece_len <= 0:
        raise ValueError(
            f"max_piece_len must be positive, got {max_piece_len}"
        )
    if refine_rounds < 0:
        raise ValueError(
            f"refine_rounds must be non-negative, got {refine_rounds}"
        )
    # the ONE corpus pass; persisted when refinement re-reads it (the
    # bpe_train cache contract — released before returning). A caller
    # that already holds a ``word_table`` frame passes it via ``words``
    # (r17, guide §2.4): the corpus pass is skipped, the caller owns
    # the frame's persist lifecycle, and this trainer never
    # persists/unpersists it — ``tokenizer_comparison`` shares ONE
    # word-count pass between both tokenizer families this way.
    owns_words = words is None
    words = (
        word_table(df, text_col) if owns_words else words
    ).select("word", "freq")
    # r16 driver-local fast path (the bpe_train LOCAL_MAX_WORDS
    # pattern, guide §1.2 applied to the driver side of an iterative
    # trainer): when the distinct-word table fits the same bound the
    # BPE trainer collects at, run seeding + every refinement round
    # in-process over the collected (word, freq) pairs — all sums are
    # INTEGER (associative), so the result is bit-identical to the
    # distributed form while paying one Spark job instead of
    # ~4 per refinement round.
    probe = collect_if_bounded(words, bpe.LOCAL_MAX_WORDS)
    if probe is not None:
        wf = _word_freqs(probe)
        pieces_l: dict[str, int] = {}
        for w, f in wf.items():
            n = len(w)
            for i in range(n):
                for ln in range(1, min(max_piece_len, n - i) + 1):
                    p = w[i : i + ln]
                    pieces_l[p] = pieces_l.get(p, 0) + f
        chars_l = {p: f for p, f in pieces_l.items() if len(p) == 1}
        top_l = dict(
            sorted(pieces_l.items(), key=lambda t: (-t[1], t[0]))[
                :vocab_size
            ]
        )
        vocab_l = {**top_l, **chars_l}
        for _ in range(refine_rounds):
            window = max((len(p) for p in vocab_l), default=1)
            usage: dict[str, int] = {}
            for w, f in wf.items():
                for piece in _segment_word(w, vocab_l, window):
                    usage[piece] = usage.get(piece, 0) + f
            top_l = dict(
                sorted(usage.items(), key=lambda t: (-t[1], t[0]))[
                    :vocab_size
                ]
            )
            vocab_l = {**top_l, **{c: usage.get(c, 0) for c in chars_l}}
        rows = sorted(vocab_l.items())
        spark = df.sparkSession
        return spark.createDataFrame(rows, PIECES_SCHEMA).limit(
            len(rows) or 1
        )
    if refine_rounds > 0 and owns_words:
        words = words.persist()
    try:
        pieces = _pieces_from_words(words, max_piece_len)
        chars = pieces.where(F.length("piece") == 1)
        top = pieces.orderBy(F.col("freq").desc(), "piece").limit(vocab_size)
        # a char inside the top-V appears in both branches with the same
        # (piece, freq) row — distinct() is exact dedup, never a choice
        vocab = top.unionByName(chars).distinct()

        for _ in range(refine_rounds):
            seg = _with_segmented_syms(words, vocab)
            usage = (
                seg.select("freq", F.explode("syms").alias("piece"))
                .groupBy("piece")
                .agg(F.sum("freq").alias("freq"))
            )
            top = usage.orderBy(
                F.col("freq").desc(), "piece"
            ).limit(vocab_size)
            chars_usage = chars.select("piece").join(
                usage, "piece", "left"
            ).select(
                "piece",
                F.coalesce(F.col("freq"), F.lit(0))
                .cast("long")
                .alias("freq"),
            )
            vocab = top.unionByName(chars_usage).distinct()
        rows = [
            (r["piece"], int(r["freq"]))
            for r in vocab.select("piece", "freq").collect()
        ]
    finally:
        if refine_rounds > 0 and owns_words:
            words.unpersist()
    spark = df.sparkSession
    return spark.createDataFrame(rows, PIECES_SCHEMA).limit(len(rows) or 1)


def _em_word_counts(
    word: str,
    freq,
    lp: dict[str, float],
    window: int,
    acc: dict[str, float],
) -> None:
    """Per-word E-step: forward-backward over the segmentation lattice
    (log domain — piece probabilities are small and chunk length is
    unbounded, so plain products would underflow), accumulating each
    piece's expected occurrence count weighted by word frequency into
    ``acc``. The ONE copy of the lattice math — shared verbatim by the
    distributed ``mapInPandas`` path and the r16 driver-local path, so
    the two can never drift."""
    import numpy as np

    n = len(word)
    if n == 0:
        return
    # forward
    la = [-np.inf] * (n + 1)
    la[0] = 0.0
    arcs: list[tuple[int, int, str, float]] = []
    for i in range(1, n + 1):
        for j in range(max(0, i - window), i):
            piece = word[j:i]
            w_lp = lp.get(piece)
            if w_lp is None:
                continue
            arcs.append((j, i, piece, w_lp))
            if la[j] > -np.inf:
                la[i] = np.logaddexp(la[i], la[j] + w_lp)
    total = la[n]
    if total == -np.inf:
        return  # unsegmentable (char missing) — skip
    # backward
    lb = [-np.inf] * (n + 1)
    lb[n] = 0.0
    for j in range(n - 1, -1, -1):
        for i in range(j + 1, min(n, j + window) + 1):
            piece = word[j:i]
            w_lp = lp.get(piece)
            if w_lp is not None and lb[i] > -np.inf:
                lb[j] = np.logaddexp(lb[j], w_lp + lb[i])
    f = float(freq)
    for j, i, piece, w_lp in arcs:
        post = la[j] + w_lp + lb[i] - total
        if post > -60.0:  # exp underflow guard
            acc[piece] = acc.get(piece, 0.0) + f * float(np.exp(post))


def _em_expected_counts(
    words: DataFrame, logp: dict[str, float]
) -> DataFrame:
    """E-step of Kudo's EM over a ``(word, freq)`` table (see
    ``_em_word_counts`` for the lattice math). Arrow ``mapInPandas``
    partials → one vocab-keyed hash aggregate; the vocabulary ships by
    broadcast (the ``map_word_syms`` contract). Output:
    ``(piece, c: double)`` — O(vocab) rows."""
    window = max((len(p) for p in logp), default=1)
    bc = words.sparkSession.sparkContext.broadcast(logp)

    def apply(batches):
        lp = bc.value
        for pdf in batches:
            acc: dict[str, float] = {}
            for word, freq in zip(pdf["word"], pdf["freq"]):
                _em_word_counts(word, freq, lp, window, acc)
            if acc:
                yield pd.DataFrame(
                    {"piece": list(acc), "c": list(acc.values())}
                )

    import pandas as pd  # noqa: F401 — closure import for executors

    return (
        words.mapInPandas(apply, "piece string, c double")
        .groupBy("piece")
        .agg(F.sum("c").alias("c"))
    )


def _viterbi_logp(s: str, logp: dict[str, float], skip: str) -> float:
    """Driver-side Viterbi log-probability of ``s`` under ``logp`` with
    piece ``skip`` excluded — the alternative-decomposition term of
    Kudo's prune loss. Unreachable prefixes propagate -inf (can only
    happen if a character is missing, which the closure prevents)."""
    import math

    n = len(s)
    window = max((len(p) for p in logp), default=1)
    dp = [-math.inf] * (n + 1)
    dp[0] = 0.0
    for i in range(1, n + 1):
        for j in range(max(0, i - window), i):
            piece = s[j:i]
            if piece == skip:
                continue
            w_lp = logp.get(piece)
            if w_lp is not None and dp[j] + w_lp > dp[i]:
                dp[i] = dp[j] + w_lp
    return dp[n]


def unigram_train_em(
    df: DataFrame,
    vocab_size: int = 64,
    max_piece_len: int = 4,
    seed_multiplier: int = 4,
    em_iters: int = 2,
    shrink: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """TRUE Kudo (2018) unigram-LM training with FLOAT probabilities —
    the algorithmically complete sibling of ``unigram_train`` (whose
    integer usage counts are the deterministic sufficient statistic;
    this variant runs the real E/M steps and likelihood-loss pruning,
    and is therefore rows-only: float EM is engine-divergent at argmax
    boundaries, so no DuckDB oracle can replay it bit-exactly).

    Algorithm (SentencePiece's unigram trainer):

    1. **Seed** — top ``seed_multiplier × vocab_size`` substrings of the
       distinct-chunk word table by weighted frequency, plus ALL single
       characters (closure); initial p ∝ frequency.
    2. **EM** (``em_iters`` per round) — E-step: forward-backward over
       every word's segmentation lattice accumulates each piece's
       expected count (frequency-weighted posterior over ALL
       segmentations, not just the best one — the difference from the
       integer variant's Viterbi usage counts); M-step: renormalize
       ``p = c / Σc`` (characters floored so closure survives).
    3. **Prune** — per multi-char piece, Kudo's loss approximation:
       ``loss(x) = c_x · (logp(x) − alt(x))`` where ``alt(x)`` is the
       Viterbi log-probability of x's own string with x excluded (how
       much corpus likelihood drops if x's occurrences re-segment).
       Keep characters + the highest-loss pieces, shrinking by
       ``shrink`` per round until ``vocab_size`` remains; then one
       final EM round re-estimates the surviving probabilities.

    Returns ``(piece, logprob double)`` — a bounded driver-built frame
    (vocab_size + alphabet rows; the ``unigram_train`` contract).
    Scale shape: identical to the integer variant — every EM round is
    one Arrow ``mapInPandas`` pass + one vocab-keyed aggregate over the
    DISTINCT word table with a vocab-bounded collect; pruning is
    driver-side over O(vocab) strings. Nothing ever touches corpus
    occurrences.
    """
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")
    if max_piece_len <= 0:
        raise ValueError(
            f"max_piece_len must be positive, got {max_piece_len}"
        )
    if em_iters <= 0:
        raise ValueError(f"em_iters must be positive, got {em_iters}")
    if not 0 < shrink < 1:
        raise ValueError(f"shrink must be in (0, 1), got {shrink}")
    import math

    words = word_table(df, text_col).select("word", "freq")
    # r16 driver-local fast path (same bound and rationale as
    # ``unigram_train``): every EM round is otherwise one Arrow
    # mapInPandas job + a vocab-keyed aggregate + a collect, and the
    # seed/prune loop runs ``em_iters`` rounds per shrink step — a
    # dozen Spark jobs over a vocab-bounded state. Below the bound the
    # identical lattice math (``_em_word_counts`` — ONE shared copy)
    # runs in-process over the collected word table, iterated in
    # sorted-word order (deterministic; the distributed form's
    # cross-partition float sum order is scheduler-dependent, which is
    # why this trainer is rows-only in the first place).
    probe = collect_if_bounded(words, bpe.LOCAL_MAX_WORDS)
    local = probe is not None
    if local:
        wf = _word_freqs(probe)
        words_sorted = sorted(wf)

        def _em_counts_local(cur: dict[str, float]) -> dict[str, float]:
            window = max((len(p) for p in cur), default=1)
            acc: dict[str, float] = {}
            for w in words_sorted:
                _em_word_counts(w, wf[w], cur, window, acc)
            return acc

    else:
        words = words.persist()
    try:
        if local:
            pieces_l: dict[str, int] = {}
            for w, f in wf.items():
                n = len(w)
                for i in range(n):
                    for ln in range(1, min(max_piece_len, n - i) + 1):
                        p = w[i : i + ln]
                        pieces_l[p] = pieces_l.get(p, 0) + f
            chars = {p: f for p, f in pieces_l.items() if len(p) == 1}
            seed_n = seed_multiplier * vocab_size
            top = dict(
                sorted(pieces_l.items(), key=lambda t: (-t[1], t[0]))[
                    :seed_n
                ]
            )
        else:
            pieces = _pieces_from_words(words, max_piece_len)
            chars = {
                r["piece"]: int(r["freq"])
                for r in pieces.where(F.length("piece") == 1).collect()
            }
            seed_n = seed_multiplier * vocab_size
            top = {
                r["piece"]: int(r["freq"])
                for r in pieces.orderBy(F.col("freq").desc(), "piece")
                .limit(seed_n)
                .collect()
            }
        if not chars:
            raise ValueError(
                "unigram_train_em: corpus has no chunks to train on"
            )
        freq0 = {**top, **chars}
        z0 = float(sum(freq0.values()))
        logp = {p: math.log(f / z0) for p, f in freq0.items() if f > 0}

        def run_em(rounds: int) -> dict[str, float]:
            cur = dict(logp)
            counts: dict[str, float] = {}
            for _ in range(rounds):
                counts = (
                    _em_counts_local(cur)
                    if local
                    else {
                        r["piece"]: float(r["c"])
                        for r in _em_expected_counts(words, cur).collect()
                    }
                )
                z = sum(counts.values())
                floor = z * 1e-12
                nxt = {}
                for p in cur:
                    c = counts.get(p, 0.0)
                    if c <= 0.0:
                        if len(p) > 1:
                            continue  # dead multi-char piece drops out
                        c = floor  # characters survive (closure)
                    nxt[p] = math.log(c / z)
                cur = nxt
            # stash the last expected counts for the prune step
            run_em.last_counts = counts  # type: ignore[attr-defined]
            return cur

        logp = run_em(em_iters)
        while sum(1 for p in logp if len(p) > 1) + len(chars) > max(
            vocab_size, len(chars)
        ) and sum(1 for p in logp if len(p) > 1) > 0:
            counts = run_em.last_counts  # type: ignore[attr-defined]
            multi = [p for p in logp if len(p) > 1]
            target = max(
                max(vocab_size - len(chars), 0),
                int(math.ceil(len(multi) * shrink)) - 1
                if len(multi) + len(chars) > vocab_size
                else len(multi),
            )
            if target >= len(multi):
                target = max(vocab_size - len(chars), 0)
            losses = []
            for x in multi:
                alt = _viterbi_logp(x, logp, skip=x)
                c_x = counts.get(x, 0.0)
                loss = c_x * (logp[x] - alt) if alt > -math.inf else math.inf
                losses.append((loss, x))
            # highest loss = most valuable; deterministic piece tie-break
            losses.sort(key=lambda t: (-t[0], t[1]))
            keep = {x for _, x in losses[:target]}
            logp = {
                p: v for p, v in logp.items() if len(p) == 1 or p in keep
            }
            logp = run_em(em_iters)
    finally:
        if not local:
            words.unpersist()

    rows = sorted((p, float(v)) for p, v in logp.items())
    spark = df.sparkSession
    return spark.createDataFrame(
        rows, "piece string, logprob double"
    ).limit(len(rows) or 1)


def _segment_word_logp(
    word: str, logp_of: dict[str, float], max_piece_len: int
) -> list[str]:
    """Viterbi segmentation under FLOAT log-probabilities (the true
    Kudo decoding rule — maximize Σ logp): dp over prefix lengths with
    the deterministic tie-break (fewest pieces, space-joined key) so
    equal-probability decompositions resolve stably. Characters unseen
    at training segment as themselves with a floor far below any real
    piece (the closure fallback, same convention as the integer
    scorer)."""
    import math

    n = len(word)
    floor_lp = min(logp_of.values(), default=0.0) - 100.0
    # dp state: (-total_logp, piece_count, key, pieces) — minimized
    dp: list[tuple[float, int, str, tuple[str, ...]] | None] = [None] * (
        n + 1
    )
    dp[0] = (0.0, 0, "", ())
    for i in range(1, n + 1):
        best = None
        for j in range(max(0, i - max_piece_len), i):
            prev = dp[j]
            if prev is None:
                continue
            piece = word[j:i]
            lp = logp_of.get(piece)
            if lp is None:
                if i - j != 1:
                    continue
                lp = floor_lp
            key = piece if not prev[2] else prev[2] + " " + piece
            cand = (
                prev[0] - lp,
                prev[1] + 1,
                key,
                prev[3] + (piece,),
            )
            if best is None or cand[:3] < best[:3]:
                best = cand
        dp[i] = best
    final = dp[n]
    assert final is not None  # single-char fallback keeps dp total
    return list(final[3])


def unigram_tokenize(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    counts_only: bool = False,
) -> DataFrame:
    """Tokenize documents with a trained piece vocabulary — identical
    output contract to ``bpe.py:bpe_tokenize``:
    ``(id_col, n_tokens, tokens)``. Chunk the text, Viterbi-segment the
    DISTINCT chunk set (cost per distinct word, never per occurrence;
    DP window derived from the vocabulary's longest piece), join back
    to chunk positions, reassemble in document order.

    Accepts EITHER trained artifact: the integer-scored vocabulary
    (``unigram_train`` — columns ``piece, freq``; deterministic
    oracle-able segmentation) or the true-EM one (``unigram_train_em``
    — columns ``piece, logprob``; maximize Σ logp, the real Kudo
    decoding rule, rows-only like its trainer). The pipeline's
    ``--pack-tokenizer-dir`` auto-detection therefore works with both
    families' ``pieces.parquet``.

    ``counts_only=True`` returns just ``(id_col, n_tokens)``: the
    Viterbi segmentation still runs once per DISTINCT word, but only
    its piece COUNT joins back to the occurrence stream, so the
    doc-keyed exchange moves one long per doc instead of every
    position's piece array (guide §2.3)."""
    chunks = (
        _chunk_stream(df, text_col, id_col)
        if counts_only
        else _chunk_positions(df, text_col, id_col)
    )
    distinct_words = chunks.select("word").distinct()
    if "logprob" in vocab.columns:
        logp_of = {
            r["piece"]: float(r["logprob"])
            for r in vocab.select("piece", "logprob").collect()
        }
        window = max((len(p) for p in logp_of), default=1)
        bc = df.sparkSession.sparkContext.broadcast(logp_of)

        def factory():
            lo = bc.value
            return lambda w: _segment_word_logp(w, lo, window)

        seg = map_word_syms(distinct_words, factory)
    else:
        seg = _with_segmented_syms(distinct_words, vocab)
    if counts_only:
        sizes = seg.select("word", F.size("syms").alias("_n"))
        return _count_tokens(
            chunks.join(sizes, "word").select(F.col(id_col), "_n"), id_col
        )
    joined = chunks.join(seg, "word").select(F.col(id_col), "pos", "syms")
    return _reassemble(joined, id_col)
