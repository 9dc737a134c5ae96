"""Deduplication operators for training-data pipelines (prompt north star).

Six tiers, all shuffle-architected for 100 TB:

- ``exact_dedup``          hash-groupBy on normalized-text fingerprint; one
                           shuffle keyed by a 128-bit digest — no skew beyond
                           true duplicate groups.
- ``ngram_jaccard_pairs``  exact near-dup pairs via a shingle inverted index:
                           one posting list per shingle → pairs within each
                           list → count common → Jaccard. Sparse — only docs
                           *sharing* a shingle ever meet, so cost tracks true
                           similarity mass, not |docs|². Hot shingles are
                           capped (``max_shingle_freq``) the way production
                           dedup pipelines drop stop-shingles.
- ``ngram_jaccard_against`` the incremental form: pairs between a new batch
                           and an existing corpus only. Both n-gram operators
                           share one shingle projection (``_hashed_shingles``)
                           and one posting/cap/Jaccard kernel
                           (``_jaccard_join``).
- ``minhash_lsh_pairs``    MinHash signatures + banded LSH: candidate pairs
                           only for band-bucket collisions; the 100 TB path
                           where even the sparse exact join is too big.
- ``simhash_pairs``        64-bit SimHash per doc + pigeonhole Hamming-block
                           candidate pairing (``hamming_blocked_pairs``).
- ``duplicate_spans``      ExactSubstr-style duplicated token spans over
                           hashed k-token windows, with the span policies
                           ``cut_duplicate_spans`` and
                           ``duplicate_span_coverage`` and the benchmark-side
                           ``contamination_spans``.

Near-dup by embedding cosine lives in similarity.py (``cosine_pairs``).

MinHash/SimHash use xxhash64 with per-permutation seeds — JVM built-ins,
codegen'd, deterministic across runs; validated in tests against the exact
Jaccard operator (statistical recall, not value equality).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mini_feature_store_spark.functions import (
    round_half_up,
    spread,
    track_cache,
)
from mini_feature_store_spark.operators.text import (
    _doc_tokens,
    _gram,
    _gram_re,
    _tokens,
    _window_starts,
    fingerprint,
    normalize,
)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group exact duplicates (normalized text) and keep the smallest id.

    Returns one row per distinct content: ``(keep_id, n_dupes, fingerprint)``.
    """
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
        .select("keep_id", "n_dupes", "fingerprint")
    )


def shingles(text, n: int = 3):
    """Word n-gram shingle array of a text column (distinct shingles).

    One codegen'd regex pass over the normalized (single-spaced) text: the
    lookahead captures the n-gram starting at a token boundary while the
    consumed part advances exactly one token, so ``find()`` visits each
    token start once. The earlier formulation — ``transform(sequence(...),
    i -> concat_ws(" ", slice(toks, i, n)))`` — is an interpreted
    higher-order-function chain (CodegenFallback) and measured ~100× slower
    per document; with 100 TB of documents the hot projection must stay
    inside whole-stage codegen.
    """
    norm = normalize(text)
    toks = _tokens(norm)
    return F.when(F.size(toks) < n, F.array(norm)).otherwise(
        F.array_distinct(F.regexp_extract_all(norm, F.lit(_gram_re(n)), 1))
    )


def _hashed_shingles(
    df: DataFrame, text_col: str, n: int, *labels: str | Column
) -> DataFrame:
    """(labels…, psize, shingle) rows: each doc's distinct word n-gram
    shingles as 8-byte xxhash64s, with ``psize`` the doc's distinct-shingle
    count; ``labels`` are column names or Columns carried along. The one
    shingle projection of the n-gram Jaccard kernel and of decontamination,
    which ignores ``psize`` (column pruning drops it). A false match needs
    an intra-corpus xxhash64 collision (~n_shingles²/2⁶⁵), and it would
    perturb one count by 1."""
    sh = df.select(*labels, shingles(F.col(text_col), n).alias("sh"))
    keys = sh.columns[:-1]
    # explode(concat(sh)), not explode(sh): over a bare column Catalyst
    # infers a size(sh) > 0 filter and pushes it below this projection,
    # which runs the shingle regex twice per doc (~2× the projection cost)
    return sh.select(
        *keys,
        F.size("sh").alias("psize"),
        F.explode(F.concat("sh")).alias("shingle"),
    ).select(*keys, "psize", F.xxhash64("shingle").alias("shingle"))


def _doc_shingles(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(shingle, doc) rows of the Jaccard index: ``doc`` is
    ``struct(id, psize)``, so every posting carries the doc's
    pre-cap set size. Docs with a NULL id are left out: the pair
    aggregate groups by id, so they would pool into one doc whose
    common-shingle count exceeds its size (Jaccard > 1)."""
    return _hashed_shingles(
        spread(df.where(F.col(id_col).isNotNull())),
        text_col,
        n,
        F.col(id_col).alias("id"),
    ).select("shingle", F.struct("id", "psize").alias("doc"))


def _jaccard_join(
    index: DataFrame,
    lists: dict[str, Column],
    pairs: Callable[[DataFrame], DataFrame],
    ids: tuple[str, str],
    threshold: float,
    max_shingle_freq: int,
) -> DataFrame:
    """The n-gram Jaccard kernel under ``ngram_jaccard_pairs`` and
    ``ngram_jaccard_against``.

    ``index`` holds one (shingle, doc) row per doc shingle. ``lists``
    maps each posting list, in pair-side order, to the doc column an
    index row adds to it (collect_list skips NULLs): the first list gives
    each pair's ``a`` doc and the last its ``b`` doc, so one list is a
    self-join. ``pairs`` turns the retained postings into ``(a, b)``
    doc-struct rows; ``ids`` names the output id columns.

    ONE wide shuffle: a single ``groupBy(shingle)`` builds every list.
    The combined list length IS the document frequency (per-doc shingles
    are distinct), so the stop-shingle cap is a free length filter.
    Shingles in more than ``max_shingle_freq`` docs (one shingle in k docs
    → k²/2 pair rows, no discriminative signal) are dropped and Jaccard
    is over the *retained* sets, which an oracle can mirror exactly; a cap
    at or above the document count drops nothing. Each pair carries both
    docs' pre-cap sizes (``psize`` depends on the id, so it widens the
    grouping key for free), and the retained size is ``psize − hot``,
    ``hot`` counted from the >cap postings alone (at most |index|/cap
    rows). The postings feed both, so they are persisted (``track_cache``)
    and the shingling pass and the shuffle run once.

    At 100 TB the aggregation buffer of one mega-hot shingle is O(its
    document frequency) before the length filter drops it (sort-based
    fallback: one group's list at a time) — a bounded transient buffer on
    the few stop-shingles, for one shuffle saved on every run.
    """
    posting = track_cache(
        index.groupBy("shingle")
        .agg(*[F.collect_list(doc).alias(name) for name, doc in lists.items()])
        .persist()
    )
    doc_freq = reduce(Column.__add__, map(F.size, lists))
    common = (
        pairs(posting.where(doc_freq <= max_shingle_freq))
        .groupBy(
            F.col("a.id").alias(ids[0]),
            F.col("a.psize").alias("psize_a"),
            F.col("b.id").alias(ids[1]),
            F.col("b.psize").alias("psize_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    hot = posting.where(doc_freq > max_shingle_freq)
    hot_cnt = {
        name: hot.select(F.explode(name).alias("d"))
        .groupBy(F.col("d.id").alias("id"))
        .agg(F.count(F.lit(1)).alias("hot"))
        for name in lists
    }
    sides = list(lists)
    for side, name, id_ in zip("ab", (sides[0], sides[-1]), ids):
        # Keyed by DOC id (docs holding a >cap shingle); under a Zipfian
        # shingle distribution most docs hit the hottest shingles, so it
        # is O(corpus) — no hard broadcast hint; AQE promotes it while
        # it fits (r6 VERDICT #1).
        common = common.join(
            hot_cnt[name].select(
                F.col("id").alias(id_), F.col("hot").alias(f"hot_{side}")
            ),
            id_,
            "left",
        )
    size_a, size_b = (
        F.col(f"psize_{side}") - F.coalesce(F.col(f"hot_{side}"), F.lit(0))
        for side in "ab"
    )
    jac = F.col("common") / (size_a + size_b - F.col("common"))
    return common.select(*ids, round_half_up(jac).alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """Exact Jaccard-similar pairs (a < b) over word n-gram shingle sets,
    capped at ``max_shingle_freq`` (default ON — the guard must not be
    opt-in at scale; see ``_jaccard_join``). Pairs come from a double
    Generate over each sorted posting list (posexplode × slice): no index
    self-join, no document-frequency pass, no per-doc sizes pass (that
    older 5-stage form measured 6.7× slower at sf0.1).
    """

    def triangle(posting: DataFrame) -> DataFrame:
        # array_sort on the structs orders by id (first field), so
        # a.id < b.id by construction; posexplode the anchor, explode the
        # tail slice. Both Generates stay in codegen; lists of length 1
        # (the vast majority of shingles) generate nothing.
        return (
            posting.where(F.size("docs") >= 2)
            .select(F.array_sort("docs").alias("docs"))
            .select(F.posexplode("docs").alias("pos", "a"), "docs")
            .select(
                "a", F.explode(F.expr("slice(docs, pos + 2, size(docs))")).alias("b")
            )
        )

    return _jaccard_join(
        _doc_shingles(df, n, text_col, id_col),
        {"docs": F.col("doc")},
        triangle,
        ("id_a", "id_b"),
        threshold,
        max_shingle_freq,
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per doc: for permutation i, min over shingles of
    xxhash64(shingle, seed=i). Pure JVM expressions → codegen, no UDF.

    Shape: explode shingles once, then ONE hash-aggregate with
    ``num_hashes`` min() columns — every hash+min stays in whole-stage
    codegen with map-side partial aggregation, and the only shuffle is the
    per-doc combine. (The per-row ``array_min(transform(...))`` form is an
    interpreted HOF chain — ~20× slower per doc.)"""
    sh = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), n)).alias("shingle"),
    )
    # SQL-string expressions: one JVM-side parse instead of ~190 py4j round
    # trips per plan build (see simhash note above).
    per_doc = sh.groupBy("id").agg(
        *[
            F.expr(f"min(xxhash64(shingle, {i})) AS h{i}")
            for i in range(num_hashes)
        ]
    )
    arr = ", ".join(f"h{i}" for i in range(num_hashes))
    return per_doc.selectExpr("id", f"array({arr}) AS sig")


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, scored by estimated
    Jaccard (signature agreement rate), filtered at ``threshold``.

    rows per band-bucket meet — candidate generation is a shuffle on
    (band, bucket-hash), never an all-pairs product. With r = hashes/bands
    rows per band, collision probability is the classic s-curve
    1 − (1 − s^r)^bands.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    # Read 3× (banding + two candidate-pair joins); signatures are ~512 B/doc
    # vs the raw text they derive from — persist the small thing.
    sigs = track_cache(
        minhash_signatures(df, num_hashes, n, text_col, id_col).persist()
    )

    # Band join carries only (id, band, bucket) — 24 bytes/row — through the
    # candidate shuffle; the 512-byte signatures are joined back onto the
    # (much smaller) deduplicated candidate-pair set afterwards.
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[bi * r + j] for j in range(r)]
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")

    a, b = banded.alias("a"), banded.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = (
        cand_ids.join(
            sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a",
        )
        .join(
            sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b",
        )
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(num_hashes)
    )
    return cand.select(
        "id_a", "id_b", round_half_up(est).alias("est_jaccard")
    ).where(F.col("est_jaccard") >= threshold)


def simhash(
    df: DataFrame,
    bits: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    idf_weighted: bool = False,
    max_weight: int = 15,
) -> DataFrame:
    """64-bit SimHash per document over whitespace tokens.

    Bit b of the hash is 1 iff Σ_tokens w(tok)·sign(bit b of
    xxhash64(token)) > 0 — classic (Charikar) simhash with per-feature
    weights. Default ``idf_weighted=False`` uses unit weights; the ±1 sum
    is algebraically 2·ones_b − n, so the aggregate only needs per-bit
    ones-counts plus one count. Those 64 counts are accumulated in
    **packed 16-bit lanes**: ``(h >> g) & 0x0001000100010001`` isolates bits
    g, g+16, g+32, g+48 into four independent 16-bit lanes of one long, so
    16 packed sums replace 64 scalar sums. Besides 4× less aggregate work,
    the smaller expression tree stays inside whole-stage codegen (65
    aggregate buffers overflows the JIT method budget and falls back to
    interpreted eval — measured ~4× slower). Single shuffle keyed by doc id.

    ``idf_weighted=True`` weights every token occurrence by a quantized
    idf, ``w = min(max_weight, max(0, ⌊2·ln((N+1)/(df+1))⌋))`` with N the
    corpus document count and df the token's document frequency — computed
    from the corpus itself (one distinct + one hash aggregate over the
    token stream; N rides along as a broadcast 1-row aggregate, so
    plan-build stays job-free). Why this matters: on Zipfian vocabularies
    the head words dominate every document's unweighted majority vote, so
    the hamming ≤ 3 ball around a signature genuinely contains a quadratic
    pair mass (measured 100× pairs at 10× data, SCALING.md); idf weighting
    zeroes the head (df ≈ N ⇒ w = 0) and restores discrimination. A doc
    whose every token has weight 0 (pure stop-word content) gets simhash 0
    — such docs carry no distinguishing signal by construction. The same
    packed lanes accumulate weighted counts (each token contributes
    w ≤ 15 per lane), and the bit rule becomes 2·Σ_{bit set} w > Σ w.

    Lane capacity bounds docs at 32767 tokens (Σw ≤ 32767 when weighted —
    signed-long headroom of the top lane under ANSI sum) — enforced with an
    explicit ``raise_error`` for the 32768..65535 band; fine for near-dup
    corpora, which shingle or truncate long docs anyway.
    """
    if bits != 64:
        raise ValueError("packed-lane simhash supports bits=64 only")
    base = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(_doc_tokens(F.col(text_col))).alias("tok"),
    )
    # Expressions are assembled as SQL strings parsed ONCE on the JVM:
    # building this ~380-node tree through the Column API costs hundreds of
    # py4j round trips per plan construction (measured ~1 s of driver time
    # per call — pure fixed overhead that would also dog every job
    # submission on a real cluster).
    lane_mask = 0x0001000100010001
    if idf_weighted:
        # the tokenize/normalize/explode pass feeds BOTH the df-frequency
        # aggregate and the weighting join — persist so the regex scan
        # over the corpus runs once (same rule as the posting-list index)
        base = track_cache(base.persist())
        dfreq = base.distinct().groupBy("tok").agg(F.expr("count(1) AS df_t"))
        n_docs = df.select(
            F.count(F.lit(1)).cast("long").alias("n_docs")
        )
        toks = (
            base.join(dfreq, "tok")
            .crossJoin(F.broadcast(n_docs))
            .selectExpr(
                "id",
                "xxhash64(tok) AS h",
                f"least({max_weight}L, greatest(0L, cast(floor("
                "2.0 * ln((n_docs + 1) / (df_t + 1))) AS BIGINT))) AS w",
            )
        )
        sums = [
            F.expr(f"sum((shiftright(h, {g}) & {lane_mask}L) * w) AS g{g}")
            for g in range(16)
        ]
        total = F.expr("sum(w) AS n")
    else:
        toks = base.select("id", F.xxhash64("tok").alias("h"))
        sums = [
            F.expr(f"sum(shiftright(h, {g}) & {lane_mask}L) AS g{g}")
            for g in range(16)
        ]
        total = F.expr("count(1) AS n")
    per_doc = toks.groupBy("id").agg(*sums, total)
    per_doc = per_doc.withColumn(
        "n",
        F.expr(
            "CASE WHEN n < 32768 THEN n ELSE CAST(raise_error('simhash: doc "
            "exceeds 32767 tokens; lane packing would overflow — truncate "
            "or shingle first') AS BIGINT) END"
        ),
    )
    terms = []
    for b in range(bits):
        # ones_b sits in lane b//16 of packed sum g{b%16};
        # sign(2·ones − n) > 0  ⟺  the original ±1-sum formulation.
        ones = f"(shiftrightunsigned(g{b % 16}, {16 * (b // 16)}) & 65535L)"
        terms.append(
            f"(CASE WHEN {ones} * 2 > n THEN shiftleft(1L, {b}) ELSE 0L END)"
        )
    return per_doc.selectExpr("id", "(" + " ^ ".join(terms) + ") AS simhash")


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    blocks: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    idf_weighted: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking: split the 64-bit hash into ``blocks`` chunks; any
    pair within distance ``max_hamming`` (< blocks) agrees on ≥1 full chunk,
    so candidates are equi-join matches on (block index, chunk value) — a
    shuffle join, never all-pairs. Exact Hamming check afterwards.

    ``idf_weighted=True`` is the recommended setting on Zipfian (i.e. any
    natural-language) corpora: unit-weight simhash lets head words dominate
    the majority vote and the hamming ball goes quadratic (SCALING.md); idf
    weights restore discrimination at the cost of one distinct + one
    aggregate over the token stream.
    """
    if max_hamming >= blocks:
        raise ValueError("need max_hamming < blocks for pigeonhole guarantee")
    # 8 bytes/doc, read by both self-join sides — persist, don't re-derive.
    sims = track_cache(
        simhash(df, bits, text_col, id_col, idf_weighted=idf_weighted).persist()
    )
    return hamming_blocked_pairs(sims, max_hamming, bits, blocks)


def hamming_blocked_pairs(
    hashes: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    blocks: int = 4,
    hash_col: str = "simhash",
    id_col: str = "id",
) -> DataFrame:
    """All pairs (id_a < id_b) within Hamming distance ``max_hamming`` of
    any 64-bit-hash relation — the reusable pigeonhole core of
    ``simhash_pairs``, also used for perceptual image hashes
    (operators/multimodal.py:image_phash_pairs).

    Split the hash into ``blocks`` chunks; a pair within distance
    ``max_hamming`` (< blocks) agrees on ≥ 1 full chunk, so candidates are
    equi-join matches on (block index, chunk value) — never all-pairs —
    with the exact Hamming check afterwards. Output: (id_a, id_b, hamming).
    """
    if max_hamming >= blocks:
        raise ValueError("need max_hamming < blocks for pigeonhole guarantee")
    sims = hashes.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("simhash")
    )
    width = bits // blocks
    mask = (1 << width) - 1
    chunked = sims.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright("simhash", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("bc"),
    ).select("id", "simhash", "bc.blk", "bc.chunk")

    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


def ngram_jaccard_against(
    new: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """INCREMENTAL near-dup: Jaccard pairs between a NEW batch and an
    EXISTING corpus only — never corpus×corpus. The steady-state ingest
    shape: each arriving batch checks against what's already admitted, so
    per-batch cost is |batch's inverted index| joined against the corpus
    index, not a quadratic re-self-join of everything. Output: one row per
    (new_id, corpus_id) pair with Jaccard ≥ threshold — anti-join the batch
    against ``select(new_id)`` to admit only novel docs.

    Same kernel as ``ngram_jaccard_pairs`` (``_jaccard_join``), with two
    lists per shingle (batch docs, corpus docs): the stop-shingle cap
    counts document frequency over corpus+batch together, matching what
    a combined corpus would compute, and candidate pairs are the
    per-shingle cross of the two lists. At 100 TB the corpus index is
    the natural candidate for the bucketed/persisted layout (write once,
    probe per batch).
    """
    index = _doc_shingles(new, n, text_col, id_col).select(
        F.lit("n").alias("side"), "shingle", "doc"
    ).unionByName(
        _doc_shingles(corpus, n, text_col, id_col).select(
            F.lit("c").alias("side"), "shingle", "doc"
        )
    )

    def cross(posting: DataFrame) -> DataFrame:
        return (
            posting.where((F.size("new_docs") > 0) & (F.size("corpus_docs") > 0))
            .select(F.explode("new_docs").alias("a"), "corpus_docs")
            .select("a", F.explode("corpus_docs").alias("b"))
        )

    return _jaccard_join(
        index,
        {
            "new_docs": F.when(F.col("side") == "n", F.col("doc")),
            "corpus_docs": F.when(F.col("side") == "c", F.col("doc")),
        },
        cross,
        ("new_id", "corpus_id"),
        threshold,
        max_shingle_freq,
    )


def duplicate_spans(
    df: DataFrame,
    k: int = 50,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr-style duplicate-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find, per
    document, the contiguous token regions covered by ``k``-token windows
    that also appear in at least ``min_docs`` distinct documents — the
    verbatim cross-document substrings (mirrored licenses, quoted passages,
    syndicated paragraphs) that n-gram/MinHash whole-doc scoring cannot
    localize. Overlapping duplicated windows merge; the output spans are
    exactly the token ranges Lee et al.'s pipeline cuts (coverage
    semantics — the union of duplicated windows, not a claim that every
    sub-window of a merged span is itself duplicated).

    The reference implementation builds a corpus suffix array — inherently
    sequential and memory-resident. The Spark-first equivalent keys on
    hashed k-token windows instead (every duplicated substring of length
    ≥ k contains only duplicated k-windows, so window-level detection finds
    the same spans with start/end resolution of one token):

    1. one tokenize + window projection per doc (``sequence`` + ``slice``
       — narrow Generate, whole-stage codegen, no UDF);
    2. cross-doc window frequency as a TWO-LEVEL hash aggregate
       ``(doc, hash) → (hash)`` so map-side combine collapses within-doc
       repeats — the shuffle carries 8-byte xxhash64 keys (the same
       collision trade-off ``paragraph_dedup(exact=False)`` documents);
    3. duplicated windows join back (unhinted — boilerplate vocabulary is
       O(corpus) on a real crawl, AQE decides);
    4. overlapping or abutting windows merge into maximal spans with one
       window pass per doc: a span breaks only where a window's start
       leaves a GAP after the running max end of everything before it
       (``pos > prev_end + 1`` — classic interval merge as
       ``max().over(rowsBetween(unboundedPreceding, -1))`` + running-sum
       span ids — one shuffle keyed by doc). Two windows covering
       [1, k] and [k+1, 2k] therefore report ONE contiguous span.

    Output: one row per maximal span — ``(id_col, span_id, span_start,
    span_end, span_len, n_windows)``; token positions are 1-based
    inclusive. Documents with no duplicated window emit no rows. Spans are
    evidence for the caller's cut/drop policy (Lee et al. cut the span;
    Gopher-style filters drop the doc above a coverage threshold).
    """
    if k < 2:
        raise ValueError(f"k must be at least 2, got {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be at least 2, got {min_docs}")
    wins = _token_windows(df, k, text_col, id_col)
    dup = (
        wins.groupBy("id", "h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("h")
    )
    marked = wins.join(dup, "h").select("id", "pos")
    return _merge_spans(marked, k, id_col)


def _token_windows(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, pos, h) — every k-token window of every doc (docs shorter
    than k emit none), 1-based start positions, 8-byte xxhash64 keys
    over the window's ``_gram`` string. The one projection every
    span-level operator shares (codegen sequence+slice Generate, no
    UDF)."""
    toks = _doc_tokens(F.col(text_col))
    return (
        spread(df)
        .select(
            F.col(id_col).alias("id"),
            toks.alias("_toks"),
            F.explode(_window_starts(toks, k)).alias("pos"),
        )
        .select(
            "id",
            "pos",
            F.xxhash64(_gram(F.col("_toks"), F.col("pos"), k)).alias("h"),
        )
    )


def _merge_spans(marked: DataFrame, k: int, id_col: str) -> DataFrame:
    """Interval-merge (id, pos) marked window starts into maximal covered
    spans: one window pass per doc (span breaks only where a start leaves
    a GAP after the running max end — ``pos > prev_end + 1`` — so abutting
    windows merge into one contiguous span), then one aggregate per
    (doc, span)."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        marked.withColumn(
            "_new",
            F.when(
                prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
            ).otherwise(0),
        )
        .withColumn(
            "span_id",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
    )
    return spans.select(
        F.col("id").alias(id_col),
        F.col("span_id").cast("long"),
        F.col("span_start").cast("long"),
        F.col("span_end").cast("long"),
        (F.col("span_end") - F.col("span_start") + 1).cast("long").alias(
            "span_len"
        ),
        F.col("n_windows").cast("long"),
    )


def contamination_spans(
    train: DataFrame,
    benchmark: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-LOCALIZED decontamination (the GPT-3 appendix C / PaLM
    treatment removes the overlapping WINDOW from the training doc, not
    the doc): per training document, the contiguous token regions covered
    by ``k``-token windows that appear verbatim anywhere in the benchmark
    corpus. ``decontaminate`` answers "how contaminated is this doc";
    this answers "which tokens", so the caller can cut spans (compose
    with ``cut_duplicate_spans``' rebuild) instead of dropping documents.
    Default ``k=13`` is GPT-3's collision window.

    Output: ``(id_col, span_id, span_start, span_end, span_len,
    n_windows)`` — same schema as ``duplicate_spans``.

    Scale shape: the benchmark side reduces to its DISTINCT window-hash
    set — ~10⁴-10⁶ rows against a 100 TB corpus — joined UNHINTED (AQE
    broadcasts when it fits, the decontaminate operator's contract);
    the corpus pass is the shared window projection + one semi join +
    the per-doc interval merge. The corpus is never shuffled by window
    hash.
    """
    if k < 2:
        raise ValueError(f"k must be at least 2, got {k}")
    wins = _token_windows(train, k, text_col, id_col)
    bench = (
        _token_windows(benchmark, k, text_col, id_col)
        .select("h")
        .distinct()
    )
    marked = wins.join(bench, "h", "left_semi").select("id", "pos")
    return _merge_spans(marked, k, id_col)


def cut_duplicate_spans(
    df: DataFrame,
    k: int = 50,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply ``duplicate_spans``: remove every covered token region and
    re-join the survivors — the actual Lee et al. 2022 treatment (cut the
    duplicated substring, keep the document).

    Returns one row per INPUT document, including null/empty-text and
    fully-cut ones: ``(id_col, text_cut, n_spans, n_tokens_cut)``.
    ``text_cut`` is normalized-token text (lowercased, single-spaced) —
    the same rebuilt-text contract as ``paragraph_dedup``.

    Plan shape (r16 rewrite — guide §8 "decide with small rows, move
    big rows once", §2.3 "shuffle keys and metadata instead of
    payloads"): the span-detection subtree is consumed exactly ONCE and
    aggregated to one NARROW row per spanned doc (its disjoint
    ``[start, end]`` interval list + the two counts — interval count is
    bounded by tokens/k, and real cut policies touch a small fraction
    of docs); that plan table LEFT-joins the corpus ON THE DOC ID
    (AQE-broadcastable) and the rebuilt text is a higher-order
    ``filter`` over the token array in place — position ∉ any covered
    interval, O(tokens × spans-per-doc) per doc with NO corpus-side
    exchange at all. The previous form exploded every corpus token,
    shuffled them by (doc, pos) into a tag join and again into a
    collect_list rebuild — two corpus-token-level exchanges carrying
    token text, just to delete a few covered positions.
    ``n_tokens_cut`` = Σ span_len (spans are disjoint after the
    interval merge); null/empty-text docs keep their row via the
    coalesce-to-empty token array (text_cut = '', zero counts).
    """
    spans = duplicate_spans(df, k, min_docs, text_col, id_col)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"),
        F.count(F.lit(1)).alias("_n_spans"),
        F.sum("span_len").alias("_n_cut"),
    )
    toks = spread(df).select(
        F.col(id_col),
        F.coalesce(
            _doc_tokens(F.col(text_col)),
            F.array().cast("array<string>"),
        ).alias("_toks"),
    )
    tagged = toks.join(per_doc, id_col, "left")
    cov = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )
    kept = F.filter(
        "_toks",
        lambda tok, i: ~F.exists(
            cov,
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    return tagged.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("text_cut"),
        F.coalesce(F.col("_n_spans"), F.lit(0)).cast("long").alias(
            "n_spans"
        ),
        F.coalesce(F.col("_n_cut"), F.lit(0)).cast("long").alias(
            "n_tokens_cut"
        ),
    )


def duplicate_span_coverage(
    df: DataFrame,
    k: int = 50,
    min_docs: int = 2,
    max_share: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Doc-level policy over ``duplicate_spans``: the fraction of each
    document's tokens covered by cross-document duplicated spans, plus a
    drop flag at ``max_share`` — the Gopher-style alternative to cutting
    (Lee et al. 2022 cut the span; Rae et al. 2021-style filters drop the
    whole doc when too much of it is duplicated, since a mostly-verbatim
    page is boilerplate even where it differs).

    Returns one row per input document:
    ``(id_col, n_tokens, n_dup_tokens, dup_share, keep)``; ``dup_share``
    uses the portable floor-rounding at scale 6 and is 0.0 for span-free
    and empty docs (``keep = true``).

    Plan shape: the span subtree once (its two corpus scans), one
    token-count projection, one LEFT join on doc id — spans are disjoint
    after the interval merge so ``Σ span_len`` IS the covered-token
    count, no explode needed.
    """
    spans = duplicate_spans(df, k, min_docs, text_col, id_col)
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_len").alias("n_dup_tokens")
    )
    base = spread(df).select(
        F.col(id_col),
        # greatest(…, 0): size(null) is -1 (or null under ansi), and a
        # NULL-text doc has zero tokens, not -1 — without the clamp it
        # would emit n_tokens=-1 (share still 0.0, but the count is a lie)
        F.greatest(
            F.size(_doc_tokens(F.col(text_col))).cast("long"),
            F.lit(0).cast("long"),
        ).alias("n_tokens"),
    )
    share = F.when(F.col("n_tokens") > 0, round_half_up(
        F.coalesce(F.col("n_dup_tokens"), F.lit(0)) / F.col("n_tokens"), 6
    )).otherwise(F.lit(0.0))
    return base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("long").alias(
            "n_dup_tokens"
        ),
        share.alias("dup_share"),
        (share < max_share).alias("keep"),
    )
