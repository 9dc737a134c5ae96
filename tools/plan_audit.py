"""Dump annotated physical plans for the flagship queries → PLANS.md.

The 100 TB contract is a property of the PLAN, not of test-scale timings:
this audit records, per flagship query, the formatted physical plan plus
the properties we depend on (pushdown, pruning, codegen spans, exchange
count, join strategies). Re-run after operator changes:

    python tools/plan_audit.py > PLANS.md
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.01"

#: query → the plan properties a reviewer should check (rendered as notes)
AUDITED: dict[str, str] = {
    "features_daily": (
        "ONE scan and ONE daily aggregate keyed by (user_id, day), where "
        "the day is NULL outside [start-30, end] so every event's user "
        "still reaches the grid; one user_id-keyed collect of each user's "
        "daily rows, then one Generate (inline) emits the user's day grid "
        "and daily rows together (no join, no union, no broadcast). The "
        "range-frame window reads that user_id partitioning: no Exchange "
        "sits above the Generate, so the grid is never shuffled. The "
        "daily aggregate carries each day's collect_set of types, and "
        "the distinct-types rolling count is the size of the flattened, "
        "de-duplicated sets in the frame (at most 31 daily sets per row)."
    ),
    "features_daily_typed": (
        "Map-valued feature view (r9): TWO-LEVEL daily pre-aggregate "
        "(user,day,type)->(user,day) builds one small per-day count map "
        "before the user_id collect; the rolling map is an "
        "aggregate/map_zip_with fold over the <=31 daily maps the "
        "range frame exposes — per-row cost bounded by window length x "
        "type cardinality, never raw event volume. Same single scan, "
        "NULL-day users and Generate densify as features_daily (no "
        "Exchange above the Generate); the gate row serializes the map "
        "as sorted type:count pairs (maps can't hash in the driver "
        "compare)."
    ),
    "pit_training_data": (
        "As-of join: equi-join on user_id with the day <= as-of "
        "residual, then one max_by aggregate per label row (partial "
        "before its exchange; no window). At sf0.01 the feature side "
        "broadcasts, so the collapse carries the one exchange; under a "
        "sort-merge join it reuses the join's user_id partitioning. No "
        "driver materialization anywhere."
    ),
    "user_sessions": (
        "Both window passes (lag, running sum) and the (user, session) "
        "aggregate reuse one hash exchange on user_id — HashPartitioning "
        "on a key subset satisfies the wider ClusteredDistribution."
    ),
    "revenue_by_nation": (
        "Dimension side broadcast (BroadcastHashJoin on nation); fact side "
        "never shuffles before the final aggregation."
    ),
    "dedup_ngram_jaccard": (
        "Single-shuffle posting lists (r4 rewrite) in the n-gram Jaccard "
        "kernel shared with ngram_jaccard_against: explode doc→shingle "
        "with the doc's pre-filter set size riding in a struct (the "
        "explode reads an expression, not a bare column, so no inferred "
        "size filter re-runs the shingle regex under the scan), ONE "
        "groupBy(xxhash64 shingle) builds sorted posting lists, the "
        "stop-shingle guard is a free length filter on the list, and "
        "candidate pairs come from a double Generate over each list — no "
        "index self-join, no separate document-frequency or sizes pass. "
        "Reversed the r3 6.7× regression (5 wide stages → 1)."
    ),
    "embedding_cosine_pairs": (
        "Block-GEMM: collect_list per hash block flattened to parallel "
        "primitive arrays (ids + one flat vector buffer + dim) so "
        "Arrow→numpy is a buffer reshape, not per-item dict conversion; "
        "B(B+1)/2 block-pair join, one numpy matmul per pair inside "
        "Arrow-batched mapInPandas."
    ),
    "doc_sequence_packing": (
        "Concat-then-chunk packing: ONE hash exchange on the shard key "
        "feeds the per-shard cumulative-sum window; pack ids/offsets are "
        "pure projections of the running sum. No global sort, no "
        "iteration — the sequential dependency never crosses shards."
    ),
    "doc_chunk_windows": (
        "Sliding-window chunking: tokenize → sequence/filter → "
        "posexplode → slice/array_join — one narrow Generate, ZERO "
        "exchanges; whole-stage codegen end-to-end. The 1→N fan-out "
        "composes with any downstream embedding UDF."
    ),
    "embedding_topk_pq": (
        "IVF-PQ: corpus carries (cell, 16 smallint codes, norm) — never "
        "raw vectors — through the probe join; approximate scoring is a "
        "decode-gather-einsum per Arrow batch; only the refine·k "
        "shortlist per query joins true vectors for the exact re-rank."
    ),
    "user_event_patterns": (
        "Sequence mining: ONE hash aggregate builds each user's ordered "
        "initial string (array_sort inside the agg — no window, no "
        "fact-table sort); regex pattern counts are a map-only "
        "projection after."
    ),
    "sole_blame_suppliers": (
        "Q21 shape without correlated EXISTS (r7 single-pass): stacked "
        "pre-collapsed aggregate — level 1 dedups (order, supplier) and "
        "folds lateness, level 2 plain-counts n_supp/n_late and "
        "MAX(late supplier) = the sole culprit at n_late=1. No Expand, "
        "no semi-join second pass over the lineitem-orders join (the "
        "old form planned that subtree twice, zero ReusedExchange). "
        "Supplier dim join UNHINTED (AQE)."
    ),
    "event_value_winsorized": (
        "Winsorization: per-group exact-percentile cuts are a tiny "
        "aggregate joined back onto the rows (never a whole-partition "
        "window; unhinted since r7 — per-type cardinality is data-"
        "dependent, AQE decides); clipping is codegen LEAST/GREATEST "
        "before the final moment aggregate."
    ),
    "doc_quality_tiers": (
        "NTILE deciles partitioned BY SOURCE: the window exchange is on "
        "source, never a single global partition; scoring is the same "
        "map-only projection as doc_quality_filter; one aggregate after."
    ),
    "pit_training_multi": (
        "Multi-view as-of fold: one shuffle per feature view on the key "
        "(inherent — each view's rows co-locate once); label rows stay "
        "unique through the fold, so no blow-up between views."
    ),
    "doc_content_centrality": (
        "PageRank power iteration: per round ONE equi-join + ONE hash "
        "aggregate; dangling mass rides as a broadcast 1-row aggregate "
        "inside the lazy plan (no per-iteration driver collect); "
        "localCheckpoint every 3rd round bounds the lineage. At toy "
        "scale the cost is stage-count overhead; the shuffles carry "
        "only (node, rank) pairs."
    ),
    "user_value_trend": (
        "Grouped trend fit: regr_slope/regr_intercept partial moments "
        "combine map-side — daily rollup + per-user fit are two hash "
        "aggregates sharing the user_id exchange; no window, no pandas."
    ),
    "min_cost_supplier": (
        "Q2 shape without a correlated subquery: the per-part MIN is a "
        "window over the already-aggregated (part, supplier) side — "
        "never the fact table; both dim joins UNHINTED since r7 (even "
        "p_size-filtered part is a fixed fraction of O(parts)), the "
        "p_size filter still prunes before the join."
    ),
    "important_part_share": (
        "Q11 shape: the scalar subquery (mean part revenue) is a "
        "broadcast 1-row aggregate cross join — no single-partition "
        "window over the fact table."
    ),
    "embedding_topk_int8": (
        "Int8-scan ANN: the scoring pass reads the 4×-smaller quantized "
        "representation (codes + scale), one decode-GEMM per Arrow batch "
        "against broadcast-by-closure queries; only refine·k survivors "
        "per query touch full vectors."
    ),
    "embedding_kmeans": (
        "Under the local bound (LOCAL_MAX_VECTORS rows and the driver "
        "byte budget) the fit AND the assignment run at plan build after "
        "ONE bounded collect, so the returned plan is a LocalRelation of "
        "(vec_id, cluster, cos_to_centroid): zero scans, zero exchanges, "
        "no job to read it; 1 Spark job per call. Above the bound the "
        "plan is ONE Arrow mapInPandas assignment pass over the corpus "
        "(zero exchanges), and each fit iteration's job shuffles only "
        "the map-side combiner rows (≤ partitions·k exact fixed-point "
        "sums), never vectors."
    ),
    "embedding_semantic_dedup": (
        "SemDeDup: within-cluster GEMM blocks keyed on (cluster, "
        "sub_block) — the block join's equi-key includes the cluster, so "
        "cross-cluster pairs never materialize; CC star rounds on the "
        "sparse ≥-threshold pairs; assignment recomputed (one map-only scan) "
        "rather than caching the corpus."
    ),
    "doc_training_shuffle": (
        "Epoch reshuffle: md5 rank + shard are a pure codegen projection; "
        "the ONLY exchange is the per-shard window partitioning — a "
        "global ORDER BY random() sort never appears."
    ),
    "doc_quality_classifier": (
        "Learned filter inference: the weight vector is a plan literal, "
        "so scoring is a map-only codegen projection over one scan — "
        "ZERO exchanges, zero Python (plan-pinned in tests)."
    ),
    "embedding_int8_quant": (
        "Scalar quantization: per-vector scale/codes/MSE all array HOFs "
        "in one projection — zero exchanges; codes stay exact integers "
        "end to end (oracle hash-matches the full code arrays)."
    ),
    "multimodal_video_neardup": (
        "Video near-dup pairs: keyframe sampling + per-frame pHash in "
        "ONE Arrow mapInPandas over the synthesized payloads (binary "
        "never crosses a shuffle), then the same pigeonhole Hamming "
        "equi-join as image/text SimHash over the DISTINCT hash "
        "vocabulary, aggregated to per-video-pair match counts — no "
        "all-pairs video product exists in the plan. In-suite wall "
        "time rides the Arrow-heavy oscillation family (see "
        "embedding_topk_ivf); scaling row video_phash_neardup is "
        "linear in frame count."
    ),
    "multimodal_phash_pairs": (
        "Perceptual-hash image near-dup: payloads decode+hash in one "
        "Arrow mapInPandas (per-shape batched integral-image resize + "
        "batched DCT), then 8-byte hashes take the same pigeonhole "
        "Hamming equi-join as text SimHash — binary payloads never "
        "reach a shuffle."
    ),
    "embedding_dedup_clusters": (
        "Exact embedding near-dup dedup (verification baseline of the "
        "LSH default): cosine_pairs' block-GEMM (hash blocks → "
        "B(B+1)/2 block-pair join → one numpy matmul per pair inside "
        "Arrow mapInPandas — work O(n²·d) by definition of EXACT "
        "all-pairs at threshold 0.4, where quadratic scoring is "
        "information-theoretically forced) feeding the star-rounds CC "
        "and one canonical survivor per cluster. In-suite wall time "
        "rides the documented Arrow-heavy oscillation family "
        "(embedding_topk_ivf note below); the 100 TB path is "
        "embedding_dedup_clusters_lsh (next entry)."
    ),
    "embedding_dedup_clusters_lsh": (
        "LSH bucket-GEMM (r4 rewrite): one Arrow matmul computes all "
        "tables' sign-bit codes per vector; memberships (base + 1-bit-flip "
        "probes) explode narrowly; ONE groupBy(table, bucket) collects "
        "flat base/probe arrays and each group is scored in one numpy "
        "matmul — only pairs ≥ threshold ever exist as rows (no candidate "
        "pair set, no per-pair vector joins), then the same star-rounds "
        "CC as the exact form. Shuffle volume is n·L·(1+r) bucketed "
        "vector rows plus the sparse result — never a pair product."
    ),
    "dedup_simhash": (
        "Per-bit ±1 sums accumulate in packed 16-bit lanes — 16 packed "
        "bit_and/sum aggregates instead of 64 scalar ones, assembled as "
        "SQL strings (one JVM parse, not hundreds of py4j calls per plan "
        "build); pigeonhole chunk equi-join for candidates, exact Hamming "
        "re-check, 8-byte signatures persisted."
    ),
    "doc_decontaminate": (
        "Benchmark shingles distinct→BROADCAST; the training corpus "
        "probes via a shuffle-free LeftSemi BroadcastHashJoin on the "
        "8-byte shingle hash — the corpus is NEVER hash-partitioned by "
        "shingle (the one shingle exchange in the plan is the tiny "
        "benchmark side's distinct)."
    ),
    "doc_repetition_scores": (
        "Two codegen explode→hash-aggregate chains, each map-side "
        "combined to one row per (doc, token|gram) then per doc; joined "
        "at one row per doc. No arrays carried across shuffles."
    ),
    "doc_pii_scrub": (
        "Map-only codegen regexp_replace/regexp_count chain: ZERO "
        "exchanges, zero UDFs (plan-pinned in tests)."
    ),
    "event_rollup_tiers": (
        "Hourly/daily/weekly aggregates from ONE fact scan and ONE "
        "exchange: GROUPING SETS → a single Expand fans each row into its "
        "three grouping sets map-side, every aggregate map-combined. The "
        "oracle's three-scan union is exactly the plan this avoids "
        "(plan-pinned: 1 scan / 1 Expand / 1 Exchange)."
    ),
    "dedup_incremental_batch": (
        "Batch-vs-corpus candidate join through the shared shingle key — "
        "corpus×corpus pairs never form; both indexes cached "
        "hash-partitioned on shingle; per-batch cost tracks the BATCH "
        "index size. Stop-shingle df counted over batch+corpus union."
    ),
    "corpus_dedup_apply": (
        "Dedup APPLY: clusters → non-survivor id list (tiny) → BROADCAST "
        "anti join against the corpus → per-source aggregate. The corpus "
        "is scanned once and never shuffled by doc id; only drop-ids "
        "cross the wire."
    ),
    "supplier_revenue_salted": (
        "Salted join: big side salted, small side exploded per salt, join "
        "key (suppkey, salt) — a hot supplier spreads over 8 partitions."
    ),
    "event_promo_attribution": (
        "Bucketized range join: containment rewritten as an equi-join on a "
        "time-bucket id (intervals exploded ≤2×) — must be a hash/SMJ "
        "exchange on _b, NEVER BroadcastNestedLoopJoin."
    ),
    "next_click_after_purchase": (
        "Forward as-of: equi-join on user_id with the direction+tolerance "
        "predicate residual, collapsed by ONE min_by hash aggregate — no "
        "window, no sort of candidate piles."
    ),
    "lineitem_profile": (
        "All 4 columns profiled in ONE aggregate over one scan (partial "
        "map-side, SinglePartition reduce of one row), then stack-unpivot. "
        "No per-column passes, no union."
    ),
    "doc_hash_split_counts": (
        "Hash split is a pure projection (md5 prefix + CASE) — zero "
        "exchanges before the final 3-group aggregate; the sample filter "
        "variant pushes down like any predicate."
    ),
    "embedding_topk_ivf": (
        "r7 flagged 1.23s->2.70s on untouched code; r8 adjudication with "
        "five quiet-host measurements (calib probe 0.40-0.44 == r6's "
        "0.404): fresh-session best-of-3 1.65s (0.42s eager centroid "
        "collect at plan build + 1.2s exec); bench-harness isolated "
        "2.14s; bench over its 7-query ANN NEIGHBORHOOD in suite order "
        "1.68s; yet FULL-suite (130+ queries) values oscillated 2.1s, "
        "9.0s, 15.9s across three otherwise-identical runs — and in the "
        "2.1s run a different query spiked instead (multimodal_phash "
        "10.6s, later timed 1.57s directly). The inflation needs "
        "hundreds of queries of accumulated session state (Python-worker "
        "pool RSS / JVM old-gen) and lands on whichever Arrow-heavy "
        "query meets it; it is NOT in the operator — the plan below is "
        "cell-join + window, no quadratic term, and survives best-of-2 "
        "only because the state persists for minutes. Watch cleared "
        "with artifacts; any future bench read of this family must "
        "compare against the isolated/neighborhood numbers."
    ),
    "doc_duplicate_spans": (
        "ExactSubstr spans: ONE tokenize+window Generate (no UDF), "
        "two-level (doc,hash)->(hash) frequency aggregate so map-side "
        "combine collapses within-doc repeats and the shuffle carries "
        "8-byte keys, unhinted dup-window join back (boilerplate "
        "vocabulary is O(corpus) — AQE decides), then interval merge in "
        "one window shuffle keyed by doc."
    ),
    "doc_cut_duplicate_spans": (
        "Cut treatment (r9 single-pass rewrite — r8 verdict #1 cleared, "
        "6 scans -> 3, 12 exchanges -> 10): the span subtree is consumed "
        "exactly ONCE — spans explode to covered (doc,span_id,pos) rows "
        "(bounded by corpus token count), a LEFT join tags one corpus "
        "posexplode (outer, so null-text docs keep a row — no third "
        "scan for the base id list), and a single groupBy(doc) produces "
        "the sorted-struct text rebuild, n_spans (count_distinct "
        "span_id — summed as a span-START flag carried by the explode, "
        "not a distinct aggregate) and n_tokens_cut (covered-row count) "
        "together. sf0.1 wall time is fixed-overhead-dominated and "
        "measures NEUTRAL (interleaved A/B vs r8 code: r8 best 2.95s / "
        "HEAD best 3.11s, both oscillating to 4.4s on the same host); "
        "the win is structural — the corpus is read 3x instead of 6x "
        "and the span-detection shuffles execute once instead of twice, "
        "which is what scales."
    ),
    "doc_contamination_spans": (
        "Span-localized decontamination: one corpus window Generate, the "
        "benchmark reduced to a DISTINCT hash set before an unhinted "
        "LEFT SEMI join (AQE broadcasts when it fits — the decontaminate "
        "contract), interval merge in one window shuffle keyed by doc. "
        "The corpus is never shuffled by window hash."
    ),
    "doc_greedy_packing": (
        "Doc-preserving NFD packing (r9): one projection (md5 shard + "
        "token count), one hash exchange on shard, one Arrow-batched "
        "applyInPandas pass per shard (the greedy fold is sequential "
        "state — the sanctioned Pandas escape hatch); shard count is "
        "the parallelism knob at 100 TB."
    ),
    "corpus_split_decontaminated": (
        "Train/val split hygiene (r12): the 80/10/10 split label is a "
        "pure md5-prefix projection (zero shuffles; same key → same "
        "split in every table); the val split's distinct shingle set "
        "joins the train side UNHINTED (broadcast_benchmark=False — "
        "the 'benchmark' here is 10% of the CORPUS, so a hard hint "
        "would force an unbounded build side at 100×; AQE promotes "
        "while it fits and degrades to a shingle-keyed SMJ instead of "
        "OOMing — the broadcast-discipline test caught and enforces "
        "exactly this), then one doc-keyed aggregate and a tiny "
        "per-split groupBy crossed with the 1-row contaminated count. "
        "The eval-suite-sized decontaminate gates keep their "
        "allowlisted hard broadcast."
    ),
    "corpus_mixture_manifest": (
        "Composed mixture-manifest funnel (r12): per-domain cap → "
        "token-budgeted temperature mixture → doc-preserving packing, "
        "as ONE oracled query. Stage 0/1 counts come from a single "
        "conditional aggregate over ONE flagged chain build "
        "(domain_cap(keep_col=...) — the quality_filter "
        "with-fingerprint pattern); stage 2/3 counts come from ONE "
        "aggregate over the packed frame (packing is 1:1 per doc, so "
        "mixture totals and bin counts share a pass). The full chain "
        "builds exactly twice and the Arrow packing fold runs once; "
        "per-stage shuffles are the component operators' own (domain "
        "window, stratum-mass aggregate + scan-side md5 admission, one "
        "shard exchange)."
    ),
    "corpus_curation_funnel_lm3": (
        "corpus_curation_funnel_lm with stage 1b at ORDER 3 (r12): "
        "identical tagged single-chain count shape — ONE quality+LM "
        "chain build for the first four counts, near-dup drops by "
        "arithmetic — with the stupid-backoff trigram scorer pinned "
        "to the position strategy (src0 is the broadcast regime; same "
        "measured rationale as doc_trigram_lm_score). Shares "
        "_lm_funnel_counts with the order-2 form; the oracle's LM "
        "stage is generated by _ngram_lm_fragment."
    ),
    "corpus_curation_funnel_lm": (
        "The modern funnel with the CCNet LM stage composed in (r9): "
        "quality gate -> bigram-LM filter (the model trains INSIDE the "
        "same lazy plan on the src0 slice) -> exact dedup -> near-dup. "
        "Same gate-replica-honesty cost model as corpus_curation_funnel "
        "(lazy, no persist in the returned plan; the production pipeline "
        "persists instead). r10 (verdict #2; was 17 scans / 31 "
        "exchanges): the flag frame carries the exact-dedup fingerprint "
        "corpus-wide (per-doc independent, the same argument as "
        "corpus-wide LM scoring), so FOUR counts (input/quality/LM/"
        "exact-dedup via count_distinct(fingerprint) FILTER lm_ok) come "
        "from ONE conditional aggregate over ONE quality+LM chain "
        "build; only the near-dup subtree builds the chain again (its "
        "admission decides which documents get shingled), and its count "
        "is |deduped| - |drops| by arithmetic. Tied to the pipeline "
        "by test_corpus_curate_lm_funnel_matches_oracled_query."
    ),
    "multimodal_alignment_retention": (
        "Per-source retention of the cross-modal gate (r16 audit — "
        "crossed the 2 s line only in a host-loaded bench window; "
        "~0.7 s in the r16 committed run): the multimodal_text_"
        "alignment chain (one Arrow mapInPandas image tower, 1-1 "
        "by-id pair join, zero-shuffle cosine gate) topped by ONE "
        "tiny hash aggregate keyed on source (per-source counts + "
        "floor-rounded ratio). Check: no all-pairs product, no "
        "TakeOrderedAndProject, no window; the only Python boundary "
        "is the sanctioned batched decode."
    ),
    "multimodal_text_alignment": (
        "LAION-style cross-modal pair gate (r10): the stub image tower "
        "is one Arrow mapInPandas over the synthesized media (the "
        "sanctioned decode escape hatch), the text projection is a "
        "slice, the pair join is 1-1 BY ID (no all-pairs product "
        "exists in the plan), and the cosine+threshold gate is a "
        "single zero-shuffle projection (zip_with/aggregate fold, "
        "floor-round 4)."
    ),
    "doc_bpe_vocab": (
        "Distributed BPE induction (r10): ONE corpus pass builds the "
        "distinct-chunk word table (hash aggregate, map-side combine); "
        "every merge round after is a pair-count aggregate + 1-row "
        "argmax collect + greedy rewrite over the WORD table only — "
        "the Heaps'-law separation (at 100 TB the corpus is PB-scan "
        "territory, the vocab is millions of rows). The per-round "
        "collect is the sanctioned bounded iteration pattern "
        "(k-means/PageRank); word table persisted per round, parent "
        "released eagerly. The audited plan is the returned merge "
        "table (driver-built, limit-bounded for the walker) — the "
        "iteration's own plans are per-round and identical in shape."
    ),
    "doc_bpe_tokenize": (
        "Trained-vocab tokenization (r10): one corpus posexplode keyed "
        "by (doc, chunk position), an UNHINTED equi-join against the "
        "small final word table (AQE broadcasts when it fits), one "
        "groupBy(doc) position-ordered reassembly. The corpus is never "
        "shuffled by symbol; unseen chunks fall back to char split "
        "in-plan (coalesce), no second pass."
    ),
    "doc_bpe_encode": (
        "Open-vocabulary merge-replay encoder (r10): the learned merge "
        "table (bounded driver collect, one row per rank) compiles into "
        "a chain of greedy-fold rewrites applied to the DISTINCT chunk "
        "set, which joins back to chunk positions — replay cost is per "
        "distinct word, never per occurrence; same reassembly aggregate "
        "as doc_bpe_tokenize."
    ),
    "doc_bpe_greedy_packing": (
        "Tokenizer-sized packing (r10): BPE token counts (chunk join "
        "against the trained splits — the vocab cache from training) "
        "feed pack_documents_greedy's tokens_col mode; one shard "
        "exchange + the per-shard Arrow fold, counts precomputed "
        "upstream so the packer never re-reads text."
    ),
    "doc_trigram_lm_score": (
        "Stupid-backoff trigram LM, POSITION strategy pinned (r12 "
        "dispatch): the src0 reference is the broadcast regime by "
        "construction, so the three count tables + 1-row total join "
        "the score-side explosion via AQE broadcast and the corpus is "
        "never shuffled except by doc — measured 2.2s vs 4.2s for the "
        "type path at sf0.1 (at order 3 the stacked pass saves only "
        "three reference aggregates while type pays distinct + "
        "join-back). The TYPE path — the r11 weak-flag fix that caps "
        "corpus shuffles at ANY reference size — is exhibited and "
        "plan-audited by doc_5gram_lm_score, pinned result-equal at "
        "orders 2/3/5 by test, and curve-measured in SCALING.md; "
        "production callers get strategy='auto' (collect_if_bounded "
        "probe picks)."
    ),
    "doc_5gram_lm_score": (
        "Arbitrary-order stupid backoff at CCNet's order, TYPE-level "
        "strategy pinned (r12): doc_trigram_lm_score's shape at order "
        "5 — the stacked count pass replaces SIX reference explosions "
        "and the type-level join-back replaces NINE unhinted joins "
        "onto the per-position explosion (11 scans → 3, 22 exchanges "
        "→ 9). SCALING.md carries both strategies' curves: position "
        "wins while count tables broadcast (the CCNet regime), type "
        "caps corpus shuffles when the reference itself is huge."
    ),
    "bpe_tokenizer_metrics": (
        "Tokenizer eval metrics (r11): the bpe_encode subtree for "
        "counts, the lang_id aggregate for the guess, a doc-keyed "
        "join, then ONE constant-size (≤ languages) hash aggregate of "
        "exact integer sums — fertility/compression are two IEEE "
        "divisions of those sums, guarded against empty groups."
    ),
    "doc_token_budget_mixture": (
        "Token-budgeted temperature mixture (r11): encode counts ride "
        "a doc join into ONE per-stratum mass aggregate (clamped ≥ 1), "
        "rate = sqrt of an exact integer ratio, admission a scan-side "
        "md5-threshold FILTER — temperature_sample's shape with a "
        "token SUM instead of a doc count; no window over the corpus."
    ),
    "doc_unigram_vocab": (
        "Unigram-LM induction (r11): one corpus pass to the word "
        "table, substring explode + top-V selection on the DISTINCT-"
        "chunk table only, then the usage-refinement round's Viterbi "
        "as Arrow mapInPandas over the word table (vocab by broadcast) "
        "feeding a usage aggregate + re-selection. The returned vocab "
        "is a bounded driver-built frame (the bpe merge-table class); "
        "training costs never scale with corpus occurrences."
    ),
    "doc_unigram_tokenize": (
        "Unigram Viterbi tokenization (r11): chunk posexplode keyed by "
        "(doc, position), segmentation over the DISTINCT chunk set "
        "(mapInPandas + broadcast vocab — cost per distinct word), "
        "position join-back, one groupBy(doc) reassembly. Same "
        "never-shuffled-by-piece discipline as doc_bpe_tokenize."
    ),
    "doc_lm_buckets": (
        "CCNet head/middle/tail terciles (r9): the LM-score subtree "
        "plus one lang-keyed NTILE window over the ROUNDED score with "
        "an id tie-break (deterministic total order — the "
        "doc_quality_tiers discipline); never a global single-partition "
        "window."
    ),
    "doc_dup_coverage": (
        "Gopher-style coverage gate (r9): the span subtree once, a "
        "per-doc SUM(span_len) (spans are disjoint after the interval "
        "merge, so no covered-position explode), one token-count "
        "projection, one LEFT join on doc id."
    ),
    "doc_line_quality_filter": (
        "C4 line rules (r9): one scan, zero exchanges — line split, "
        "per-line rule filter, and page gate are all higher-order "
        "array expressions in a single codegen projection; the "
        "deterministic line synthesis (the _doc_url pattern) is part "
        "of the same stage."
    ),
    "doc_lm_perplexity": (
        "CCNet-style bigram LM scoring (r9; strategy dispatch r12): "
        "the model is two hash aggregates over the reference slice's "
        "bigram explosion plus a 1-row vocabulary aggregate (bounded "
        "broadcast). The gate pins strategy='position' — the src0 "
        "reference is the broadcast regime by construction, so the "
        "count tables join the score-side explosion via AQE broadcast "
        "and the corpus is never shuffled except by doc (measured "
        "3.3s vs 8.0s for the type path at sf0.1). The TYPE path "
        "(distinct bigram types scored once, one corpus join-back — "
        "the shape that caps corpus shuffles when the reference "
        "outgrows broadcast) is pinned result-equal by test and "
        "curve-measured in SCALING.md; production callers get "
        "strategy='auto' (collect_if_bounded probe picks)."
    ),
    "doc_url_dedup": (
        "Canonicalization is a map-only codegen chain (regexp_extract/"
        "replace, split, array_sort, array_join — zero UDFs) feeding ONE "
        "hash aggregate on the canonical string; map-side combine "
        "collapses same-partition duplicate URLs before the exchange."
    ),
    "domain_contribution_caps": (
        "Three consumers of one url projection: per-domain count "
        "aggregate, bounded 1-row total (hard broadcast allowed — "
        "global aggregate), and the exact cap's single window exchange "
        "keyed by domain. Stats join back unhinted (AQE decides)."
    ),
    "doc_domain_hash_cap": (
        "The skew path: one per-domain count aggregate joined back "
        "(unhinted), admission as a scan-side md5-threshold FILTER — no "
        "window, no per-domain total order; a celebrity domain costs "
        "O(rows/partitions) per task, never one task."
    ),
    "funnel_conversion": (
        "Every per-step conditional-min window stacks on ONE hash exchange "
        "+ sort on user_id (dependent windows share the partitioning); the "
        "summary is a single-row aggregate exploded into step rows — no "
        "second shuffle."
    ),
    "user_value_gap_fill": (
        "Grid join (broadcast date side) and the forward-fill last() "
        "windows share the user_id exchange; the fill is a running state "
        "per key — no per-row lookback join."
    ),
    "bloom_filtered_order_revenue": (
        "Bloom bitset built in one aggregate to a single row, broadcast; "
        "the probe is a codegen'd array-index + bitwise filter on the scan "
        "output BEFORE the join's exchange — fact rows that can't match "
        "never pay the shuffle."
    ),
    "doc_tfidf_top_terms": (
        "tf and df aggregates both map-side-combine; N is a 1-row "
        "broadcast cross join (no driver collect); the top-k window ranks "
        "on the ROUNDED score so engine ulp differences can't flip ranks."
    ),
    "feature_snapshot_diff": (
        "ONE full-outer sort-merge join on user_id; 'updated' is decided "
        "by comparing 8-byte xxhash64 digests computed scan-side — no "
        "column-by-column struct comparison crosses the shuffle."
    ),
    "dq_orders_audit": (
        "All three row-local checks fold into ONE aggregate over one scan "
        "(SinglePartition reduce of one row, then stack); uniqueness adds "
        "one groupBy on the key; the FK check is a broadcast anti join."
    ),
    "event_value_scaled": (
        "Per-group moments are a tiny hash aggregate joined back onto "
        "the rows (unhinted since r7 — group cardinality is caller-"
        "controlled, AQE decides) — NOT a whole-partition window: no "
        "sort, no partition materialization, one scan."
    ),
    "nation_volume_shipping": (
        "Q7 shape (r5-new, de-hinted r7): one lineitem scan, orders/"
        "customer/supplier joins all UNHINTED (AQE chooses; supplier is "
        "O(SF)); only the two 25-row nation aliases carry hard broadcast "
        "hints. Revenue accumulates in integer cents — partial aggregate "
        "before the final 3-key group-by."
    ),
    "nation_trade_volume": (
        "Q7 twin (de-hinted r7): nation joined twice under different "
        "aliases, both hard-broadcast (bounded); supplier UNHINTED. "
        "Integer-cent revenue; the fact side is never shuffled before "
        "the final aggregation at test scale (AQE promotes the dims)."
    ),
    "large_volume_customers": (
        "Q18 shape (r5-new, de-hinted r6): the qualifying-orders "
        "aggregate (O(orders)) carries NO broadcast hint — AQE picks "
        "broadcast at test scale and degrades to shuffle beyond executor "
        "memory instead of OOMing. Aggregate-before-join keeps the "
        "orders/customer joins on pre-shrunk input."
    ),
    "parts_supplier_relationship": (
        "Q16 shape (r5-new; fully de-hinted r7): the s_acctbal<0 "
        "blacklist anti join AND the part dim join are both UNHINTED — "
        "each side is a fixed fraction of an O(SF) relation. One Expand "
        "for the single COUNT(DISTINCT) after the joins."
    ),
    "dormant_rich_customers": (
        "Q22 shape (r5-new, de-hinted r6): the avg-balance threshold is "
        "a broadcast 1-ROW aggregate (provably bounded — the hint "
        "stays); the recently-active-buyers anti join is O(customers) "
        "and UNHINTED. No correlated re-probe anywhere."
    ),
    "distinct_stats_exact": (
        "r7 rewrite (r5/r6 VERDICT #3): was ONE groupBy with two "
        "COUNT(DISTINCT) + exact MEDIAN — an Expand tripling every row "
        "through the shuffle plus an O(group-rows) median buffer. Now "
        "three branches: two stacked pre-collapsed distinct counts "
        "(groupBy(flag,key) → groupBy(flag), map-side combine collapses "
        "duplicates pre-shuffle) and a (flag, price)-histogram exact "
        "median whose window sorts a domain-bounded (~1e7 max) relation. "
        "3-row branch results join on the flag (AQE broadcast). "
        "4.60 s → 1.41 s at sf0.1."
    ),
    "embedding_corpus_curate": (
        "LSH-default end-to-end curation (r5-new): cosine_pairs_lsh "
        "candidates (equi-join on (table,bucket) — linear shuffle, no "
        "all-pairs), connected-components star rounds, then the shared "
        "apply_dedup anti join with NO forced broadcast (drops are "
        "O(corpus); planner/AQE decides)."
    ),
    "small_quantity_revenue": (
        "Q17 shape (r7-new): correlated 0.2*AVG(qty)-per-part subquery "
        "decorrelated into ONE per-part aggregate joined back; the brand "
        "semi-join runs FIRST so the aggregate covers only ~1/25 of "
        "parts. Join-back UNHINTED (O(parts-in-brand)). Integer-cents "
        "revenue."
    ),
    "brand_bracket_revenue": (
        "Q19 shape (r7-new): cross-relation OR-of-ANDs. Catalyst cannot "
        "factor the disjunction across tables, so necessary per-relation "
        "conditions are hand-factored — p_brand IN (...) AND p_size<=35 "
        "and l_quantity BETWEEN 1 AND 30 both reach PushedFilters on "
        "their scans (verified) — with the full OR kept as residual "
        "codegen join filter."
    ),
    "brand_supplier_stats": (
        "Q16-style multi-DISTINCT per brand (de-hinted r7): the "
        "p_type<>'ECONOMY' part dim is a fixed fraction of O(parts) — "
        "join UNHINTED, AQE promotes at test scale. The double "
        "COUNT(DISTINCT) Expand is bounded by the post-join projection "
        "(3 narrow columns)."
    ),
    "forecast_revenue_change": (
        "Q6 shape (r7-new): the pure filter-aggregate — date range, "
        "discount band, quantity cap all conjunctive, all in "
        "PushedFilters on the single lineitem scan; no join, one 1-row "
        "combine. The floor every aggregate-only query should hit."
    ),
    "nation_market_share": (
        "Q8 shape (r7-new): CASE-inside-SUM conditional share in ONE "
        "pass over the 6-way join — never two scans or a self-join. "
        "nation (twice) and the filtered region are hard-broadcast "
        "(constant-size); customer/supplier/orders UNHINTED. Share "
        "divides two exact integer sums — order-independent IEEE result."
    ),
    "product_type_profit": (
        "Q9 shape (r7-new): non-prefix LIKE '%widget%' stays a residual "
        "scan predicate (cannot become a range), part/orders/supplier "
        "joins UNHINTED, nation broadcast. Profit is SIGNED exact "
        "integer units of $1/10000 — summation-order-proof."
    ),
    "returned_item_customers": (
        "Q10 shape (r7-new): top-20 by revenue lost — ORDER BY the "
        "exact integer unit sum with c_custkey tiebreak → "
        "TakeOrderedAndProject (no global sort); returnflag + date "
        "filters pushed to both scans before the joins."
    ),
    "promo_revenue_share": (
        "Q14 shape (r7-new): promo/total percentage per month in one "
        "aggregate pass (CASE inside SUM); part join UNHINTED "
        "(O(parts)); exact-integer ratio → identical IEEE quotient."
    ),
    "top_supplier_revenue": (
        "Q15 shape (r7-new): per-supplier quarter aggregate crossed "
        "with a broadcast 1-ROW max (provably bounded hint) + equality "
        "filter — ties are bit-exact on the integer unit sum. The "
        "aggregate feeds BOTH the max subquery and the probe side, and "
        "Catalyst plans duplicated subtrees with zero ReusedExchange "
        "(verified at execution), so srev is persist()ed: CacheManager "
        "substitutes one InMemoryRelation at both sites (fact table "
        "scanned once) while KEEPING lineage — a lost block recomputes "
        "instead of hard-failing as localCheckpoint would. Footprint "
        "O(suppliers), dimension-cache-sized."
    ),
    "concentrated_part_suppliers": (
        "Q20 shape (r7-new): nested IN-membership + correlated "
        "per-supplier aggregate — the membership test is a LEFT join "
        "against the widget-key set (flag = key IS NOT NULL, no per-row "
        "re-probe), the HAVING ratio filters exact integer unit sums. "
        "Both non-nation joins UNHINTED (O(SF))."
    ),
    "doc_paragraph_dedup": (
        "Paragraph-level dedup (r7-new, Dolma/CCNet boilerplate scrub, "
        "single-pass r7-review form): ONE corpus explode feeds a "
        "two-level (doc,key)->(key) frequency aggregate (text-keyed "
        "exact mode; exact=False swaps to 8-byte xxhash64 for 100 TB "
        "with a documented collision trade-off), a LEFT marker join "
        "(UNHINTED, O(corpus) vocabulary), and one groupBy(doc) that "
        "computes counts AND the positional reassembly from "
        "(pos,para,boiler) structs — no second explode, no totals "
        "join. The oracle hash-matches the REBUILT text, pinning order. "
        "r8 flagged this query +44% in-suite alongside corpus_dedup_apply"
        "/dedup_clusters/doc_content_centrality (code untouched beyond "
        "the perf-neutral floor sweep); r9 adjudication with the quiet-"
        "host protocol (two isolated best-of-3 A/B replicate pairs, HEAD "
        "vs a 79703fc r7 worktree, calib flat 0.395-0.463, artifact "
        "committed as BENCH_WATCH_r09_dedup_apply.json): r7-vs-HEAD "
        "best-of-6 ratios 0.94/1.12/0.98/0.89 — no code effect; the "
        "WITHIN-code replicate spread on identical HEAD code was 1.90s "
        "vs 2.73s (44%) minutes apart at flat calib, i.e. the r8->r8 "
        "suite drift is the same shuffle/Python-heavy host oscillation "
        "documented for the ANN family. Watch cleared: doc_paragraph_"
        "dedup r7=2.011/HEAD=1.896, corpus_dedup_apply 1.909/2.129, "
        "dedup_clusters 1.623/1.589, doc_content_centrality 3.821/3.412."
    ),
    "late_shipment_priority_counts": (
        "Q12 shape (r7-new): two-way CASE-conditional counts in ONE "
        "aggregate pass; the cross-table lateness predicate is the hash "
        "join residual (no post-join filter stage) and the ship-year "
        "window reaches PushedFilters on the lineitem scan. Orders join "
        "UNHINTED."
    ),
    "local_supplier_volume": (
        "Q5 shape (r7-new): the defining dim-attribute equality "
        "(c_nationkey = s_nationkey) rides the supplier hash join as an "
        "extra key/residual, pruning ~1/nations of the join output "
        "before aggregation. nation/region hard-broadcast (bounded); "
        "customer/supplier/orders UNHINTED."
    ),
    "doc_temperature_mixture_sample": (
        "Temperature mixture at alpha=0.5 (r7-new, mT5/PaLM recipe): "
        "per-stratum rates (n_min/n)^0.5 from ONE aggregate joined back "
        "(unhinted), admission via the codegen md5 predicate — no RNG, "
        "no collect. sqrt is IEEE correctly-rounded, so the rate (and "
        "the oracle's replay) is bit-identical across engines; general "
        "pow exponents are documented as non-portable at the last ulp."
    ),
    "doc_upsample_to_parity": (
        "Fractional-epoch upsampling (r7-new): per-lang parity rates "
        "from one aggregate joined back (unhinted), then ONE map-only "
        "explode(sequence(1, n_copies)) behind the load-bearing "
        "n_copies>0 guard materializes the copies — "
        "no shuffle, no driver participation. The oracle computes the "
        "copy counts arithmetically; agreement (incl. max_epoch) "
        "proves materialization == arithmetic."
    ),
    "doc_multi_benchmark_contamination": (
        "Per-benchmark contamination report (r7-new): the distinct "
        "(benchmark, shingle) set broadcasts (eval-suite contract, "
        "allowlisted by site marker), the corpus probes it with ONE "
        "inner hash join covering all eval sets, then one aggregate "
        "keyed by (doc, benchmark) — sparse pairs only, the dense "
        "doc x benchmark product never materializes."
    ),
    "doc_unigram_vocab_em": (
        "True Kudo EM unigram trainer (r12, rows-only — float EM is "
        "engine-divergent at argmax boundaries): every E-step is one "
        "Arrow mapInPandas forward-backward pass over the persisted "
        "DISTINCT word table (vocab by broadcast) + one vocab-keyed "
        "aggregate + a vocab-bounded collect; M-step renormalize and "
        "the likelihood-loss prune are driver-side over O(vocab) "
        "strings. Spark jobs ∝ em_iters × prune rounds "
        "(log_{1/shrink}(seed/target)), independent of corpus size; "
        "the word-table cache is released before the bounded "
        "driver-built result returns. Gate wall is in-gate training "
        "by design (the tokenizer_comparison precedent)."
    ),
    "tokenizer_comparison": (
        "BPE vs unigram head-to-head (r11 — the heaviest composed gate "
        "by design: BOTH trainings + BOTH encodings run in-gate, the "
        "production path trains once via the CLIs and caches "
        "artifacts). Each tokenizer family contributes its own audited "
        "subtree — bpe_train's 3-job prune-then-local trainer + the "
        "per-distinct-chunk encode replay, unigram_train's word-table "
        "Viterbi (Arrow mapInPandas over DISTINCT words, vocab by "
        "broadcast) + tokenize join-back — and the comparison itself "
        "adds only doc-keyed LEFT joins of (doc, n_tokens) counts onto "
        "one base projection and TWO 1-row conditional aggregates "
        "unioned (constant-size output). No corpus shuffle beyond what "
        "the component operators already do; cost is per distinct "
        "chunk, never per occurrence."
    ),
    "pit_training_typed": (
        "Typed (map-valued) PIT training assembly (r9): the "
        "features_daily_typed subtree (two-level daily pre-aggregate, "
        "one user_id collect under the Generate densify, bounded map "
        "fold) feeds the as-of join — max_by per label row with the map "
        "riding as PAYLOAD only (the ordering key is day). The join + "
        "collapse add one exchange (as in pit_training_data), and the "
        "gate-row map serialization (sorted type:count pairs) is a "
        "post-join projection. In-suite ~2.6s is the typed per-row "
        "map-fold payload documented at features_daily_typed (1 scan / 3 "
        "exchanges — one more than the string form, for the map's "
        "second aggregate level; don't chase)."
    ),
    "corpus_curation_funnel": (
        "The composed curation funnel, tagged two-pass form (r10 — the "
        "r9 verdict #1 rewrite; was 24 scans / 19 exchanges as a "
        "five-branch UNION): the flag pass carries kept + the "
        "exact-dedup fingerprint (text_stats computes both in one "
        "scan), so input / after_quality / after_exact_dedup "
        "(count_distinct(fingerprint) FILTER kept) are ONE conditional "
        "aggregate over ONE gate build. Near-dup + decontamination "
        "genuinely need the deduped document set (shingling reads "
        "text), so that subtree builds once more; their counts are "
        "1-row aggregates of the DROP sets combined by arithmetic in "
        "a single stack (drops ⊆ deduped; contamination flags per-doc "
        "independently, so it's computed over deduped and masked by "
        "the drops). Still fully DECLARATIVE — no collect, no persist "
        "in the returned plan; the production pipeline persists around "
        "its eager counts instead. Every stage is an audited operator."
    ),
    "doc_dsir_scores": (
        "DSIR importance scorer (r12 extension): BOTH corpora stack "
        "into ONE gram explosion with a target flag, so a single "
        "map-side-combined aggregate yields both count columns (<=B "
        "rows, B=8192 buckets); corpus totals are window sums over "
        "that B-row dense table (bounded single partition — a 1-row "
        "crossJoin would duplicate the counts subtree and re-scan the "
        "corpus); the dense weight table reaches the scoring join as "
        "a BroadcastHashJoin by construction (pinned by test), and a "
        "per-doc NULL-bucket sentinel keeps gram-less docs in the one "
        "doc-keyed aggregate (no id-list join-back). 3 scans total "
        "(target branch, raw branch, doc grams), ONE corpus-side "
        "shuffle at any max_order. Check: one exchange keyed on "
        "doc_id; no SMJ anywhere."
    ),
    "doc_dsir_resample": (
        "DSIR Gumbel top-k via THRESHOLD selection (r13 — the r12 "
        "judge's corpus-fraction-k directive): doc_dsir_scores + a "
        "deterministic md5-Gumbel key; one approx_percentile aggregate "
        "brackets the k-th key, the core above the bracket is admitted "
        "by a plain Filter, and only the sketch-accuracy-bounded "
        "boundary band is rank-trimmed (Catalyst lowers that trim to a "
        "TakeOrderedAndProject whose limit is needed = k - |core|, "
        "bounded by the sketch margin — NEVER k). Scalar driver "
        "traffic only; the scored frame the probes materialize STAYS "
        "cached (r16) so the returned core/band branches read it — one "
        "scoring pass per invocation (was two: the old unpersist made "
        "execution re-derive the whole chain; 6 scans → 3, 10 "
        "exchanges → 5). Check: every TakeOrderedAndProject limit << "
        "k, no rangepartitioning exchange, no GlobalLimit over the "
        "corpus; core/band branches read InMemoryTableScan."
    ),
    "embedding_semantic_decontamination": (
        "Embedding-space decontamination (r12 extension): benchmark "
        "side (bounded eval suite) broadcast into a nested-loop score "
        "over the streaming corpus; degenerate (zero-norm) pairs score "
        "a NULL key instead of being FILTERED, so every corpus vector "
        "stays in the ONE vec_id-keyed hash aggregate — the review-"
        "pass rewrite removed the id-list join-back (which planned a "
        "SortMergeJoin + two corpus-keyed exchanges). Check: "
        "BroadcastNestedLoopJoin with the 25-row build side, ONE "
        "corpus-keyed exchange, no SMJ."
    ),
    "user_weekly_distinct_exact": (
        "Exact weekly COUNT(DISTINCT user_id): Spark plans the standard "
        "two-phase expand — partial distinct on (week, user_id), then "
        "the week-keyed count — both map-side combined, one exchange "
        "chain. The query exists as the hash-matchable exact companion "
        "of the rows-only HLL rollup (user_sketch_rollup); its wall "
        "time is scan + one distinct aggregate, which hovers at the "
        "2s audit threshold under host load (the r12-extension mid-"
        "session bench ran concurrent with pytest and pushed it over)."
    ),
    "doc_quality_signal_agreement": (
        "Quality-signal agreement corr (r12 extension): classifier "
        "probability is a map-only projection CARRYING source via "
        "extra_cols (r16 — the old docs ⋈ probs self-join re-attached "
        "a column the zero-shuffle scorer already had; 7 scans → 6); "
        "the bigram-NLL side is the position-strategy LM scorer (src0 "
        "reference tables broadcast at gate scale); the two per-doc "
        "score frames join on doc_id and collapse in ONE source-keyed "
        "hash aggregate with map-side partial corr moments (20 "
        "groups). Check: ONE corpus doc_id join + the tiny source "
        "aggregate; LM count tables broadcast."
    ),
    "corpus_selection_manifest": (
        "The r13 DSIR-composed funnel (selection FIRST, the real "
        "pretraining order): DSIR threshold selection runs its bounded "
        "probe jobs at plan build (dsir.py:_gumbel_topk; r16 — the "
        "scored frame they materialize stays cached, so the selected-id "
        "subtree reads InMemoryTableScan instead of re-scoring the "
        "pool); the returned plan is three stage aggregates — ONE over the raw pool, ONE "
        "conditional aggregate over ONE flagged domain_cap chain, ONE "
        "over the packed frame. The selected-id join is UNHINTED (k is "
        "a corpus fraction at scale; AQE decides — the apply_dedup "
        "drops-side discipline). Check: no forced broadcast on the "
        "selected-id join; every TakeOrderedAndProject limit << k; the "
        "weight-table joins broadcast by construction."
    ),
    "corpus_selection_manifest_ensemble": (
        "The r14 multi-signal manifest: three per-doc predicates (frozen "
        "classifier probability — a zero-shuffle projection; src0 bigram "
        "LM avg_nll; DSIR log_weight — both one doc-keyed aggregate "
        "each) joined back on doc_id, mean thresholds as 1-row "
        "broadcast crossJoins, the domain-cap rank folded into the ONE "
        "flagged chain (survivors-first window ordering), stages 0-4 "
        "from ONE conditional aggregate, then mixture + packing. No "
        "top-k anywhere — the DSIR gate is the probe-free threshold "
        "form. The cap window partitions the FULL pool by domain (the "
        "single-chain trade; celebrity-domain caveat documented in the "
        "query — domain_cap_approx is the crawl-shape alternative). "
        "Check: the signal joins key on doc_id (exchange-"
        "reusable, never broadcast — doc-cardinality sides); the only "
        "forced broadcasts are the dense weight table and the 1-row "
        "threshold rows; no TakeOrderedAndProject at all."
    ),
    "corpus_selection_manifest_ensemble_approx": (
        "The crawl-shaped ensemble variant (r15, judge directive #3): "
        "identical flagged chain and mixture/packing tail as "
        "corpus_selection_manifest_ensemble, stage 4 swapped from the "
        "domain_cap window to domain_cap_approx's hash-rate admission "
        "(count_if='_f3'): one conditional count aggregate keyed on "
        "domain + a scan-side md5 predicate — NO per-domain total "
        "order anywhere, so no Window is fed by the full pool "
        "partitioned by domain (skew-proof; pinned on a skewed fixture "
        "in test_urls.py). The price, stated plainly: the survivor-"
        "count branch is a SECOND logical evaluation of the flagged "
        "chain inside every consumer (~90 logical scans vs the exact "
        "variant's 45; runtime ReuseExchange recovers 19 subtrees; "
        "wall 11.2s vs 8.2s at sf0.1 in the same window). Check: zero "
        "TakeOrderedAndProject; every Window input is bounded "
        "(packing shards / dense weight-table totals), never the "
        "domain-partitioned pool; the only forced broadcasts are the "
        "dense weight table and 1-row thresholds."
    ),
    "dedup_clusters": (
        "Near-dup clusters (r16 audit — crossed the 2 s line only in a "
        "host-loaded bench window; ~1.8 s in the driver's r15 run): "
        "ngram_jaccard_pairs' single-shuffle posting lists (explode → "
        "ONE groupBy(shingle hash) → double Generate over each sorted "
        "posting list — no index self-join, no df/sizes passes) feeding "
        "connected components, then one cluster_size window on "
        "Exchange(cluster_id). r16: under LOCAL_MAX_EDGES (200k) and the "
        "driver byte budget (collect_if_bounded) the checkpointed pair "
        "list is collected and a driver union-find "
        "labels components in-process — bit-identical min-id mapping, "
        "zero star rounds (each round was ~1 s of fixed toll at any "
        "edge count); above the bound the large/small-star path is "
        "unchanged. Check: one corpus-side exchange for pair mining; "
        "CC work is on the PAIR set only; the lone Window partitions "
        "by cluster_id (never unpartitioned); no TakeOrderedAndProject."
    ),
    "dedup_best_of_cluster": (
        "Quality-ranked near-dup survivors (r15, judge directive #6): "
        "the dedup_clusters pair chain (single-shuffle posting lists; "
        "components via the r16 bounded driver union-find / star "
        "rounds above the bound) plus ONE doc-keyed join of the "
        "zero-shuffle classifier projection and a row_number over "
        "Exchange(cluster_id) — the same partitioning the "
        "cluster_size window already pays, so the policy upgrade "
        "costs one extra shuffle of the CLUSTERED rows only. Check: "
        "the score side is a projection (no aggregate, no shuffle "
        "before the join); both windows partition by cluster_id; no "
        "TakeOrderedAndProject."
    ),
    "doc_doremi_excess_round2": (
        "DoReMi round-2 (r14): the round-1 chain's bounded (domain, "
        "bucket) aggregate feeds an in-engine EG update over the D-row "
        "excess frame (scale-8 integer quantization), the alpha table "
        "broadcasts BY CONSTRUCTION (D rows — stratum cardinality) "
        "into the integer blend, and the round-2 NLLs are again "
        "arithmetic over the bounded table. r16: that <= D*B-row table "
        "(_freq_base) is persisted — its four join/aggregate consumers "
        "previously re-ran the corpus scan + gram explosion each "
        "(6 corpus scans → 1, 26 exchanges → 13). Check: ONE corpus-"
        "side exchange (the domain-bucket aggregate, then "
        "InMemoryTableScan everywhere); every Window input is the "
        "bounded table; both domain joins broadcast."
    ),
    "doc_doremi_domain_weights": (
        "DoReMi averaged EG weights, 8 rounds (r16 audit — crossed 2 s "
        "only in a host-loaded bench window; ~1.3 s in the driver's r15 "
        "run): bounded-collect trainer class — ONE corpus scan collapses "
        "to the map-side-combined (domain, bucket) count table (<= D*B "
        "rows by construction), the exp/renormalize loop runs driver-"
        "side on that bounded artifact, and the RETURNED plan is a "
        "D-row createDataFrame literal. Check: one corpus-side exchange "
        "(the domain-bucket aggregate); the returned plan is a local "
        "scan of D rows — zero corpus work at execution time."
    ),
    "embedding_topk_lsh": (
        "Hyperplane-LSH top-k with multi-probe + exact re-rank (r16 "
        "audit — crossed 2 s only in a host-loaded bench window; ~1.5 s "
        "in the driver's r15 run): one Arrow matmul signs all tables' "
        "codes per vector, memberships explode narrowly (base + 1-bit "
        "probes), candidates form ONLY inside matching (table, bucket) "
        "groups — never a query x corpus product — and the shortlist "
        "re-ranks exactly. Check: shuffle volume is n*L*(1+probes) "
        "bucket rows plus the sparse shortlist; the final top-k window "
        "partitions by query id; no crossJoin anywhere."
    ),
    "doc_classifier_eval": (
        "Exact tie-aware AUC + confusion/PR (r12; r13 enforces the "
        "bounded-score contract INSIDE the operator): scores round to "
        "scale-4 fixed point and NULL scores drop before the ONE "
        "map-side-combined aggregate keyed by the quantized score, so "
        "the grouped table is <= 10^4+1 rows BY CONSTRUCTION and the "
        "rank-sum window runs over that bounded table — never a "
        "corpus-wide sort, whatever a caller passes. Check: one "
        "corpus-side exchange (the score-group aggregate); the Window "
        "input is the bounded grouped table."
    ),
    "doc_doremi_excess_loss": (
        "DoReMi round-1 signal (r13): ONE corpus scan collapses in a "
        "map-side-combined (domain, bucket) aggregate (<= D*B rows by "
        "construction); frequencies, model blends, log probs, and "
        "per-domain NLLs are window/aggregate arithmetic over that "
        "bounded table — the single-partition window sums are the "
        "dsir_bucket_weights totals pattern, bounded by B, not data. "
        "r16: the bounded table is persisted (_freq_base) so its two "
        "consumers (model aggregate + per-domain join-back) share one "
        "corpus pass (2 scans → 1). Check: exactly one corpus-side "
        "exchange (the domain-bucket aggregate); every Window input is "
        "the bounded table."
    ),
    "embedding_corpus_curate_exact": (
        "Oracled exact-path twin of embedding_corpus_curate: "
        "cosine_pairs block-GEMM (quadratic by information-theoretic "
        "necessity at threshold 0.4 — the LSH variant is the 100 TB "
        "path), connected components (r16: driver union-find when "
        "collect_if_bounded admits the edges at LOCAL_MAX_EDGES, "
        "large/small-star above), UNHINTED anti-join "
        "(drops grow with the corpus), one label aggregate. Check: "
        "anti-join strategy left to AQE; no driver materialization "
        "beyond the CC edge checkpoint/bounded collect."
    ),
    "doc_quality_classifier_trained": (
        "Trained learned quality filter (r12 extension, rows-only "
        "gate): training runs at plan build (bounded-collect trainer "
        "class) — 1 moments aggregate + 15 gradient aggregates over a "
        "persisted 6-column feature frame, each shipping d+1=6 doubles "
        "per partition (map-side combined), unpersisted before return. "
        "The RETURNED plan is the literal-vector scorer: one scan, "
        "zero exchanges, zero Python. Check: returned plan is "
        "scan+project only."
    ),
    "cohort_retention_weekly": (
        "One user-keyed pass: ONE events scan, one groupBy(user_id) "
        "collecting each user's set of active weeks (partial collect_set "
        "map-side, so the user_id exchange carries one row per "
        "(user, week) per partition), the cohort as the set's minimum, "
        "then one Generate (explode) and ONE (cohort, offset) count whose "
        "partial aggregate sits under its exchange — each (user, week) "
        "appears once, so count(*) is the distinct-user count. The "
        "cohort size is max(n_active) over a window partitioned by "
        "cohort (every user is active at offset 0); that exchange moves "
        "the O(weeks^2) count rows only. 3 exchanges, no join, no "
        "broadcast."
    ),
}


#: wall-time threshold (seconds at sf0.1) above which a query MUST have
#: an AUDITED entry — the r11 judge's guard: tokenizer_comparison landed
#: after a regen and silently skipped the audit; this makes that loud.
AUDIT_WALL_THRESHOLD_SEC = 2.0


def check_coverage(
    bench_path: str | Path = Path(__file__).resolve().parent.parent
    / "bench_results.json",
    threshold: float = AUDIT_WALL_THRESHOLD_SEC,
) -> list[str]:
    """Every query whose last local bench wall time exceeds
    ``threshold`` must have an AUDITED note. Returns the offenders
    (empty = covered); ``main()`` and the registry-lint test both fail
    on a non-empty result, so a post-regen addition can't skip the
    audit again."""
    import json

    bench_path = Path(bench_path)
    if not bench_path.exists():
        return []
    per_query = json.loads(bench_path.read_text()).get("queries", {})
    return sorted(
        name
        for name, sec in per_query.items()
        if sec > threshold and name not in AUDITED
    )


def main() -> None:
    from mini_feature_store_spark.functions import plan_text
    from mini_feature_store_spark.session import get_spark

    import __spark_entry__ as entry

    missing = check_coverage()
    if missing:
        raise SystemExit(
            f"plan_audit: queries over {AUDIT_WALL_THRESHOLD_SEC}s in "
            f"bench_results.json lack an AUDITED entry: {missing}"
        )

    spark = get_spark(app_name="plan-audit", master="local[4]", shuffle_partitions=4)
    qs = entry.queries()
    print("# PLANS — physical-plan audit of flagship queries")
    print()
    print(
        "Generated by `python tools/plan_audit.py` at sf0.01. The notes are "
        "the properties that must hold at any scale; the plans are the "
        "evidence. AQE is enabled, so runtime re-planning (skew splits, "
        "partition coalescing, broadcast promotion) applies on top."
    )
    for name, note in AUDITED.items():
        df = qs[name](spark, SF_DIR)
        plan = plan_text(df)
        exchanges = len(set(re.findall(r"\((\d+)\) Exchange", plan)))
        scans = len(set(re.findall(r"\((\d+)\) Scan parquet", plan)))
        print(f"\n## {name}\n")
        print(f"**Audit note:** {note}")
        # (codegen spans are not visible in AQE initial plans — the `*`
        # markers appear only on executed plans, so we don't count them here)
        print(f"\n**Exchanges:** {exchanges} · **parquet scans:** {scans}")
        print("\n```")
        # tree section only (detail section repeats every node)
        tree = plan.split("\n\n")[0]
        print(tree.rstrip())
        print("```")
    spark.stop()


if __name__ == "__main__":
    main()
