"""CLI entry point: ``python -m mini_feature_store_spark.cli <pipeline> ...``.

Mirrors the reference's dispatch surface (``App.scala:40-115``: pipelines
``backfill``, ``point-in-time-join``, ``online-sync`` with ``--key value``
options) on argparse. Master resolution honors ``SPARK_MASTER`` like
``App.scala:55-57``.
"""

from __future__ import annotations

import argparse
import sys

from mini_feature_store_spark.session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mini-feature-store-spark")
    p.add_argument("--master", default=None, help="overrides $SPARK_MASTER")
    sub = p.add_subparsers(dest="pipeline", required=True)

    b = sub.add_parser("backfill", help="events parquet → features_daily table")
    b.add_argument("--events-path", required=True)
    b.add_argument("--output-table", required=True)
    b.add_argument("--start-date", required=True)
    b.add_argument("--end-date", required=True)
    b.add_argument("--user-col", default="user_id")
    b.add_argument("--ts-col", default="ts")
    b.add_argument("--type-col", default="event_type")
    b.add_argument(
        "--incremental",
        action="store_true",
        help="compute only days missing from the table (daily-cron mode)",
    )

    j = sub.add_parser(
        "point-in-time-join", help="labels + features → training data"
    )
    j.add_argument("--labels-path", required=True)
    j.add_argument("--features-table", required=True)
    j.add_argument("--output-path", required=True)
    j.add_argument("--features-version", type=int, default=None)
    j.add_argument("--lookback-days", type=int, default=None)

    s = sub.add_parser("online-sync", help="features → online KV store")
    s.add_argument("--features-table", required=True)
    s.add_argument("--kv-dir", default=None, help="FileKVStore directory")
    s.add_argument("--redis-url", default=None, help="redis:// URL (needs redis pkg)")
    s.add_argument("--as-of", default=None, help="cutoff date YYYY-MM-DD")
    s.add_argument("--lookback-days", type=int, default=7)

    c = sub.add_parser(
        "consistency-check", help="audit online KV store against offline table"
    )
    c.add_argument("--features-table", required=True)
    c.add_argument("--kv-dir", required=True, help="FileKVStore directory")
    c.add_argument("--key-col", default="user_id")
    c.add_argument("--order-col", default="day")

    q = sub.add_parser(
        "dq-audit", help="data-quality gate over a parquet path (exit 1 on failure)"
    )
    q.add_argument("--input-path", required=True, help="parquet path to audit")
    q.add_argument("--not-null", action="append", default=[], metavar="COL")
    q.add_argument("--unique", action="append", default=[], metavar="COL[,COL...]")
    q.add_argument(
        "--between", action="append", default=[], metavar="COL:LO:HI"
    )
    q.add_argument(
        "--fk",
        action="append",
        default=[],
        metavar="COL:REF_PATH:REF_COL",
        help="referential-integrity check against another parquet path",
    )

    d = sub.add_parser(
        "snapshot-diff", help="CDC between two versions of a versioned table"
    )
    d.add_argument("--table", required=True, help="VersionedTable path")
    d.add_argument("--keys", required=True, help="comma-separated key columns")
    d.add_argument("--old-version", type=int, required=True)
    d.add_argument("--new-version", type=int, default=None)

    m = sub.add_parser(
        "table-maintain",
        help="versioned-table maintenance: analyze stats / compact files / "
        "vacuum old versions",
    )
    m.add_argument("--table", required=True, help="VersionedTable path")
    m.add_argument("--analyze", action="store_true", help="collect+persist stats")
    m.add_argument(
        "--compact", type=int, default=None, metavar="N", help="rewrite to N files"
    )
    m.add_argument(
        "--vacuum", type=int, default=None, metavar="KEEP", help="keep last KEEP versions"
    )

    bi = sub.add_parser(
        "batch-inference",
        help="inference users + latest features <= as_of -> scoring input "
        "(reference README Example 2)",
    )
    bi.add_argument("--users-path", required=True)
    bi.add_argument("--features-table", required=True)
    bi.add_argument("--output-path", required=True)
    bi.add_argument("--as-of", required=True, help="cutoff date YYYY-MM-DD")
    bi.add_argument("--features-version", type=int, default=None)

    x = sub.add_parser(
        "delete-keys",
        help="targeted delete from a versioned table (rewrites only "
        "affected partitions; prior versions keep serving)",
    )
    x.add_argument("--table", required=True, help="VersionedTable path")
    x.add_argument("--keys", required=True, help="comma-separated key columns")
    x.add_argument(
        "--ids-path", required=True, help="parquet path with rows to delete (key columns)"
    )

    cs = sub.add_parser(
        "compact-store",
        help="rewrite a streaming-ingest admitted store as few "
        "range-clustered files (run while the stream is stopped)",
    )
    cs.add_argument("--store-path", required=True, help="admitted store dir")
    cs.add_argument(
        "--cluster-col", default="canonical_url",
        help="dedup key to range-cluster and sort by (default canonical_url)",
    )
    cs.add_argument(
        "--target-files", type=int, default=8, help="output file count"
    )

    cc = sub.add_parser(
        "corpus-curate",
        help="raw documents parquet → training-ready corpus: quality gate, "
        "exact + near-dup dedup, optional decontamination, sharded export",
        # an omitted flag falls through to the CorpusCurationConfig default
        argument_default=argparse.SUPPRESS,
    )
    cc.add_argument("--input-path", required=True, help="documents parquet")
    cc.add_argument("--output-path", required=True)
    cc.add_argument(
        "--benchmark-path", help="eval parquet to decontaminate against"
    )
    cc.add_argument(
        "--embeddings-path",
        help="doc-embedding parquet enabling the SemDeDup semantic stage",
    )
    cc.add_argument("--min-tokens", type=int)
    cc.add_argument("--min-quality", type=float)
    cc.add_argument("--jaccard-threshold", type=float)
    cc.add_argument("--semantic-threshold", type=float)
    cc.add_argument("--semantic-k", type=int)
    cc.add_argument("--contamination-threshold", type=float)
    cc.add_argument(
        "--url-col",
        help="URL column: enables stage-0 canonical-URL dedup",
    )
    cc.add_argument(
        "--max-per-domain", type=int,
        help="per-registrable-domain doc cap (needs --url-col)",
    )
    cc.add_argument(
        "--line-filter-min-lines", type=int,
        help="C4 line-cleaning stage: apply per-line terminal-punctuation/"
        "min-words/'javascript' rules before the quality gate and drop "
        "pages with fewer than this many surviving lines (or containing "
        "'{' / 'lorem ipsum'); kept pages keep their cleaned text",
    )
    cc.add_argument(
        "--quality-model-dir",
        help="learned quality stage: drop docs scoring below 0.5 under a "
        "clf-train artifact (directory holding coeffs.parquet); runs "
        "right after the heuristic quality gate",
    )
    cc.add_argument(
        "--dsir-target-path",
        help="DSIR data-selection stage (Xie et al. 2023): hashed-ngram "
        "importance against this curated target parquet, Gumbel top-k "
        "resample keeps --dsir-keep docs (runs after the quality gates)",
    )
    cc.add_argument(
        "--dsir-keep", type=int,
        help="number of docs the DSIR stage keeps (required with "
        "--dsir-target-path)",
    )
    cc.add_argument(
        "--dsir-seed", type=int,
        help="Gumbel seed for the DSIR resample (default 42)",
    )
    cc.add_argument(
        "--dsir-model-dir",
        help="score the DSIR stage under a frozen dsir-train artifact "
        "(weights.parquet) instead of refitting from --dsir-target-path "
        "(mutually exclusive with it; needs --dsir-keep or "
        "--dsir-min-log-weight)",
    )
    cc.add_argument(
        "--dsir-min-log-weight", type=float,
        help="DSIR threshold admission instead of the fixed-size "
        "resample (mutually exclusive with --dsir-keep): keep docs "
        "whose log importance is at/above this value — the batch twin "
        "of the streaming DSIR gate, scored by the stateless "
        "zero-shuffle column form",
    )
    cc.add_argument(
        "--dsir-suggested-threshold", action="store_true",
        dest="dsir_use_suggested",
        help="DSIR threshold admission under the --dsir-model-dir "
        "artifact's calibrated suggested_min_log_weight (written by "
        "`dsir-train --suggest-keep-rate`) — the probe-free steady "
        "state; mutually exclusive with --dsir-keep and "
        "--dsir-min-log-weight",
    )
    cc.add_argument(
        "--lm-reference-path",
        help="CCNet-style LM filter stage: train an add-1 bigram model on "
        "this parquet and drop docs whose average bigram NLL exceeds "
        "--lm-max-nll",
    )
    cc.add_argument(
        "--lm-max-nll", type=float,
        help="max average n-gram NLL (natural log) a doc may score under "
        "the --lm-reference-path model (default 7.0)",
    )
    cc.add_argument(
        "--lm-order", type=int, choices=(2, 3, 4, 5),
        help="n-gram order of the LM filter stage: 2 = add-1 bigram, "
        "3-5 = stupid-backoff n-gram (Brants 2007; 5 matches CCNet's "
        "KenLM order; default 2)",
    )
    cc.add_argument(
        "--dedup-keep-best-quality", action="store_true",
        help="near-dup clusters keep their BEST-classifier-scored "
        "member (RefinedWeb policy; artifact weights under "
        "--quality-model-dir, frozen defaults otherwise; ties break to "
        "min doc id) instead of the min-id one",
    )
    cc.add_argument(
        "--ensemble", action="store_true",
        help="multi-signal admission stage (the oracled "
        "corpus_selection_manifest_ensemble gate as a pipeline mode): "
        "classifier prob >= --ensemble-clf-min-prob AND LM avg_nll <= "
        "--ensemble-lm-max-nll AND DSIR log_weight >= the threshold, "
        "then a per-domain cap over the survivors; replaces the "
        "separate learned-gate/DSIR/LM stages. Needs "
        "--lm-reference-path and --dsir-model-dir (or "
        "--dsir-target-path); unset LM/DSIR thresholds degrade to the "
        "pool mean inside the plan (no probe jobs)",
    )
    cc.add_argument(
        "--ensemble-clf-min-prob", type=float,
        help="classifier admission probability for --ensemble "
        "(default 0.5; artifact weights under --quality-model-dir, "
        "the frozen default vector otherwise)",
    )
    cc.add_argument(
        "--ensemble-lm-max-nll", type=float,
        help="LM gate bound for --ensemble; omitted = the pool-mean "
        "relative gate of the oracled query (unscored docs drop)",
    )
    cc.add_argument(
        "--ensemble-cap", type=int, dest="ensemble_cap_per_domain",
        help="per-registrable-domain cap over the --ensemble survivors "
        "(needs --ensemble-cap-url-col)",
    )
    cc.add_argument(
        "--ensemble-cap-mode", choices=("exact", "approx"),
        help="'exact' = survivors-first window cap; 'approx' = "
        "scan-side hash-rate admission (crawl-shaped skew — no "
        "per-domain order anywhere)",
    )
    cc.add_argument(
        "--ensemble-cap-url-col",
        help="URL column the --ensemble-cap groups by (independent of "
        "--url-col, so the cap can run without stage-0 URL dedup)",
    )
    cc.add_argument(
        "--cut-spans-k", type=int,
        help="ExactSubstr stage: cut cross-doc duplicated spans of this "
        "window size from surviving docs (GPT-3 used 13); docs that lose "
        "a span are rewritten as normalized token text (lowercased, "
        "single-spaced), untouched docs keep their original bytes",
    )
    cc.add_argument(
        "--max-dup-share", type=float,
        help="Gopher-style coverage gate: drop docs whose cross-document "
        "duplicated-token share (windows of --dup-share-k) is at or above "
        "this fraction (runs after near-dup dedup and any span cut)",
    )
    cc.add_argument(
        "--dup-share-k", type=int,
        help="window size for --max-dup-share coverage (default 50)",
    )
    cc.add_argument(
        "--shards", type=int, dest="n_shards", help="write N training shards + manifest"
    )
    cc.add_argument(
        "--pack-max-tokens", type=int,
        help="terminal packing stage: assign every exported doc a "
        "training context (shard, bin_id) by doc-preserving "
        "next-fit-decreasing bin packing at this token capacity; the "
        "assignment manifest lands at <output-path>_packing",
    )
    cc.add_argument(
        "--pack-shards", type=int,
        help="parallel shards for the packing stage (the greedy fold is "
        "sequential per shard; default 8)",
    )
    cc.add_argument(
        "--pack-tokenizer-dir",
        help="size packing bins by a TRAINED tokenizer instead of "
        "whitespace counts: directory holding merges.parquet (bpe-train "
        "output) or pieces.parquet (unigram-train output); requires "
        "--pack-max-tokens",
    )
    cc.add_argument(
        "--mixture-strata-col",
        help="temperature-mixture stage before export: rebalance the "
        "surviving corpus across this stratum column (mT5/PaLM recipe, "
        "deterministic md5 admission)",
    )
    cc.add_argument(
        "--mixture-alpha", type=float,
        help="temperature exponent for --mixture-strata-col (default "
        "0.5 — the engine-portable sqrt case)",
    )
    cc.add_argument(
        "--mixture-by-tokens", action="store_true",
        help="weigh mixture strata by token mass (BPE-ish chunk counts) "
        "instead of document counts — the token-budgeted form",
    )
    cc.add_argument(
        "--mixture-weights-dir",
        help="realize the TARGET shares of a doremi-weights artifact "
        "(weights.parquet under this dir) instead of the temperature "
        "rule — pure down-sampling toward the learned mixture",
    )

    ct = sub.add_parser(
        "clf-train",
        help="train the logistic-regression quality classifier "
        "(GPT-3/PaLM curated-vs-crawl recipe) distributed and write "
        "coeffs.parquet under --output-dir for --quality-model-dir",
    )
    ct.add_argument(
        "--positives-path", required=True,
        help="curated (positive-class) documents parquet",
    )
    ct.add_argument(
        "--negatives-path", required=True,
        help="raw-crawl (negative-class) documents parquet",
    )
    ct.add_argument("--output-dir", required=True)
    ct.add_argument("--n-iter", type=int, default=30)
    ct.add_argument("--learn-rate", type=float, default=1.0)
    ct.add_argument("--l2", type=float, default=1e-4)
    ct.add_argument(
        "--balanced", action="store_true",
        help="class-balanced gradient (recommended when the curated "
        "slice is a small fraction of the crawl)",
    )
    ct.add_argument("--text-col", default="text")

    dt = sub.add_parser(
        "dsir-train",
        help="fit DSIR hashed-ngram importance weights (Xie et al. 2023) "
        "from a curated target parquet vs a raw-crawl parquet; writes "
        "the dense bounded weight table as weights.parquet under "
        "--output-dir for incremental batch scoring",
    )
    dt.add_argument("--target-path", required=True)
    dt.add_argument("--raw-path", required=True)
    dt.add_argument("--output-dir", required=True)
    dt.add_argument("--n-buckets", type=int, default=8192)
    dt.add_argument("--max-order", type=int, default=2)
    dt.add_argument("--text-col", default="text")
    dt.add_argument(
        "--id-col", default=None,
        help="document id column of --raw-path for the "
        "--suggest-keep-rate calibration grouping. Default: 'doc_id' "
        "when --raw-path has that column (the historical behavior — "
        "multi-row documents group correctly), else a synthesized "
        "per-row id (plain dsir-train is id-free; bag counts never "
        "need one). An EXPLICIT --id-col naming a missing column "
        "fails loudly rather than silently synthesizing",
    )
    dt.add_argument(
        "--suggest-keep-rate", type=float, default=None,
        help="also calibrate the log-weight threshold keeping this "
        "fraction of --raw-path (one extra scoring pass at train time) "
        "and write it into the artifact as suggested_min_log_weight — "
        "pipelines holding the artifact can then take the probe-free "
        "--dsir-suggested-threshold path instead of the resample's "
        "plan-build probe jobs",
    )

    dw = sub.add_parser(
        "doremi-weights",
        help="fit DoReMi mixture weights (Xie et al. 2023, Group DRO "
        "over hashed-ngram proxy models) from a documents parquet with "
        "a domain column; writes weights.parquet (domain, weight, "
        "excess_r1, n_grams) under --output-dir for mixture sampling",
    )
    dw.add_argument("--input-path", required=True, help="documents parquet")
    dw.add_argument("--output-dir", required=True)
    dw.add_argument("--domain-col", default="source")
    dw.add_argument("--text-col", default="text")
    dw.add_argument("--n-buckets", type=int, default=2048)
    dw.add_argument("--max-order", type=int, default=2)
    dw.add_argument("--rounds", type=int, default=10)
    dw.add_argument("--step", type=float, default=1.0)
    dw.add_argument("--smoothing", type=float, default=1e-3)

    bp = sub.add_parser(
        "bpe-train",
        help="induce a BPE tokenizer vocabulary from a documents parquet: "
        "writes merges.parquet (the learned merge table, rank order) and "
        "vocab.parquet (final symbol split per distinct chunk) under "
        "--output-dir",
    )
    bp.add_argument("--input-path", required=True, help="documents parquet")
    bp.add_argument("--output-dir", required=True)
    bp.add_argument("--n-merges", type=int, default=1000)
    bp.add_argument("--text-col", default="text")

    ut = sub.add_parser(
        "unigram-train",
        help="induce a unigram-LM (SentencePiece-style) piece vocabulary "
        "from a documents parquet: writes pieces.parquet (piece, freq) "
        "under --output-dir",
    )
    ut.add_argument("--input-path", required=True, help="documents parquet")
    ut.add_argument("--output-dir", required=True)
    ut.add_argument("--vocab-size", type=int, default=8000)
    ut.add_argument("--max-piece-len", type=int, default=8)
    ut.add_argument(
        "--refine-rounds", type=int, default=1,
        help="usage-re-estimation rounds (the integer EM step; default 1)",
    )
    ut.add_argument(
        "--em", action="store_true",
        help="train with TRUE Kudo EM (float probabilities, likelihood-"
        "loss pruning) instead of the integer-scored variant; writes "
        "pieces.parquet with (piece, logprob) — unigram_tokenize and "
        "--pack-tokenizer-dir auto-detect the column and segment by "
        "max sum-logprob",
    )
    ut.add_argument("--text-col", default="text")

    ai = sub.add_parser(
        "ann-index-build",
        help="build a persistent IVF-PQ ANN index (cell-partitioned codes "
        "parquet + model.json) from an embeddings parquet",
    )
    ai.add_argument("--embeddings-path", required=True)
    ai.add_argument("--index-dir", required=True)
    ai.add_argument("--n-cells", type=int, default=16)
    ai.add_argument("--m-sub", type=int, default=16)
    ai.add_argument("--nbits", type=int, default=4)
    ai.add_argument("--seed", type=int, default=42)

    v = sub.add_parser(
        "serve",
        help="feature-serving HTTP API (reference api/main.py): "
        "/features/online/{id}, /features/offline/{id}?as_of=, /health",
    )
    v.add_argument("--kv-dir", default=None, help="FileKVStore dir (online)")
    v.add_argument(
        "--features-table", default=None, help="VersionedTable dir (offline)"
    )
    v.add_argument("--host", default="0.0.0.0")
    v.add_argument("--port", type=int, default=8000)
    return p


def corpus_curation_config(args: argparse.Namespace):
    """The ``CorpusCurationConfig`` of a parsed ``corpus-curate`` command:
    each flag's ``dest`` is the field it sets, and an omitted flag is
    absent from ``args``, so the dataclass default applies."""
    from mini_feature_store_spark.pipelines.corpus_curate import (
        CorpusCurationConfig,
    )

    kw = vars(args).copy()
    del kw["pipeline"], kw["master"]
    return CorpusCurationConfig(**kw)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession

    # Only stop the session if this invocation created it (getOrCreate may
    # return a caller-owned session, e.g. under tests or a notebook).
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name=f"mfss-{args.pipeline}", master=args.master)
    try:
        if args.pipeline == "backfill":
            from mini_feature_store_spark.pipelines.backfill import (
                BackfillConfig,
                run_backfill,
                run_backfill_incremental,
            )

            cfg = BackfillConfig(
                events_path=args.events_path,
                output_table=args.output_table,
                start_date=args.start_date,
                end_date=args.end_date,
                user_col=args.user_col,
                ts_col=args.ts_col,
                type_col=args.type_col,
            )
            if args.incremental:
                done = run_backfill_incremental(spark, cfg)
                print(
                    f"backfill committed {len(done)} missing day(s) to "
                    f"{args.output_table}"
                    + (f": {done[0]}..{done[-1]}" if done else " (already current)")
                )
            else:
                run_backfill(spark, cfg)
                print(f"backfill committed to {args.output_table}")
        elif args.pipeline == "point-in-time-join":
            from mini_feature_store_spark.pipelines.pit_join import (
                PointInTimeJoinConfig,
                run_pit_join,
            )

            run_pit_join(
                spark,
                PointInTimeJoinConfig(
                    labels_path=args.labels_path,
                    features_table=args.features_table,
                    output_path=args.output_path,
                    features_version=args.features_version,
                    lookback_days=args.lookback_days,
                ),
            )
            print(f"training data written to {args.output_path}")
        elif args.pipeline == "online-sync":
            from mini_feature_store_spark.pipelines.online_sync import (
                FileKVStore,
                OnlineSyncConfig,
                redis_kv_factory,
                run_online_sync,
            )

            if bool(args.kv_dir) == bool(args.redis_url):
                print("exactly one of --kv-dir / --redis-url required", file=sys.stderr)
                return 2
            factory = (
                (lambda: FileKVStore(args.kv_dir))
                if args.kv_dir
                else redis_kv_factory(args.redis_url)
            )
            n = run_online_sync(
                spark,
                OnlineSyncConfig(
                    features_table=args.features_table,
                    as_of=args.as_of,
                    lookback_days=args.lookback_days,
                ),
                factory,
            )
            print(f"synced {n} keys")
        elif args.pipeline == "consistency-check":
            from mini_feature_store_spark.io.tables import VersionedTable
            from mini_feature_store_spark.operators.latest import latest_per_key
            from mini_feature_store_spark.pipelines.consistency import (
                online_offline_diff,
            )

            offline = latest_per_key(
                VersionedTable(args.features_table).read(spark),
                keys=[args.key_col],
                order_cols=[args.order_col],
            )
            anomalies = online_offline_diff(
                spark, args.kv_dir, offline, key_col=args.key_col
            ).cache()
            n = anomalies.count()
            if n:
                anomalies.show(50, truncate=False)
                print(f"INCONSISTENT: {n} anomaly row(s)")
                return 1
            print("consistent: online store matches offline latest snapshot")
        elif args.pipeline == "dq-audit":
            from mini_feature_store_spark.operators.quality import (
                expect_between,
                expect_foreign_key,
                expect_not_null,
                expect_unique,
                run_checks,
            )

            df = spark.read.parquet(args.input_path)
            checks: list = [expect_not_null(c) for c in args.not_null]
            checks += [expect_unique(*u.split(",")) for u in args.unique]
            for spec in args.between:
                col, lo, hi = spec.split(":")
                checks.append(expect_between(col, float(lo), float(hi)))
            for spec in args.fk:
                col, ref_path, ref_col = spec.split(":")
                checks.append(
                    expect_foreign_key(col, spark.read.parquet(ref_path), ref_col)
                )
            if not checks:
                print("no checks declared", file=sys.stderr)
                return 2
            report = run_checks(df, checks).orderBy("check_idx").collect()
            failed = 0
            for r in report:
                mark = "ok  " if r.passed else "FAIL"
                print(f"{mark} {r.check}: {r.n_violations} violation(s)")
                failed += 0 if r.passed else 1
            return 1 if failed else 0
        elif args.pipeline == "snapshot-diff":
            from mini_feature_store_spark.io.tables import VersionedTable
            from mini_feature_store_spark.operators.cdc import snapshot_diff
            from pyspark.sql import functions as F

            table = VersionedTable(args.table)
            old = table.read(spark, version=args.old_version)
            new = table.read(spark, version=args.new_version)
            diff = snapshot_diff(old, new, keys=args.keys.split(","))
            counts = {
                r.change: r.n
                for r in diff.groupBy("change")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            for kind in ("inserted", "updated", "deleted"):
                print(f"{kind}: {counts.get(kind, 0)}")
        elif args.pipeline == "table-maintain":
            import json as _json

            from mini_feature_store_spark.io.tables import VersionedTable

            table = VersionedTable(args.table)
            did = False
            if args.analyze:
                stats = table.analyze(spark)
                print(_json.dumps(stats, default=str))
                did = True
            if args.compact is not None:
                v = table.compact(args.compact)
                print(f"compacted into v{v}")
                did = True
            if args.vacuum is not None:
                removed = table.vacuum(keep_last=args.vacuum)
                print(f"vacuumed versions: {removed or 'none'}")
                did = True
            if not did:
                print(
                    "nothing to do: pass --analyze / --compact N / --vacuum K",
                    file=sys.stderr,
                )
                return 2
        elif args.pipeline == "batch-inference":
            from mini_feature_store_spark.pipelines import (
                BatchInferenceConfig,
                run_batch_inference,
            )

            run_batch_inference(
                spark,
                BatchInferenceConfig(
                    users_path=args.users_path,
                    features_table=args.features_table,
                    output_path=args.output_path,
                    as_of=args.as_of,
                    features_version=args.features_version,
                ),
            )
            print(f"scoring input written to {args.output_path}")
        elif args.pipeline == "delete-keys":
            from mini_feature_store_spark.io.tables import VersionedTable

            version, n = VersionedTable(args.table).delete_keys(
                spark.read.parquet(args.ids_path), args.keys.split(",")
            )
            print(f"committed v{version} ({n} partition(s) rewritten)")
        elif args.pipeline == "corpus-curate":
            from mini_feature_store_spark.pipelines.corpus_curate import (
                run_corpus_curation,
            )

            funnel = run_corpus_curation(
                spark, corpus_curation_config(args)
            )
            for stage, n in funnel.items():
                print(f"{stage}: {n}")
        elif args.pipeline == "compact-store":
            from mini_feature_store_spark.streaming.ingest import (
                compact_admitted_store,
            )

            report = compact_admitted_store(
                spark,
                args.store_path,
                args.cluster_col,
                target_files=args.target_files,
            )
            print(
                f"compacted {args.store_path}: "
                + ", ".join(f"{k}={v}" for k, v in report.items())
            )
        elif args.pipeline == "dsir-train":
            from mini_feature_store_spark.operators.dsir import (
                dsir_bucket_weights,
                save_dsir_weights,
                suggest_min_log_weight,
            )

            raw = spark.read.parquet(args.raw_path)
            w = dsir_bucket_weights(
                spark.read.parquet(args.target_path),
                raw,
                text_col=args.text_col,
                n_buckets=args.n_buckets,
                max_order=args.max_order,
            )
            suggested = None
            if args.suggest_keep_rate is not None:
                # bounded weight table feeds two consumers (the save and
                # the calibration scoring join) — cache it so the bag
                # models are fitted once
                w = w.persist()
                # default calibration grouping: the corpus's doc_id when
                # it has one (a per-row synthetic id would score each
                # ROW of a multi-row document separately, drifting the
                # calibrated threshold from the distribution the
                # pipeline later applies); synthesize only for id-free
                # corpora. An explicit --id-col passes through verbatim
                # so a typo fails loudly instead of silently regrouping.
                calib_id = args.id_col
                if calib_id is None and "doc_id" in raw.columns:
                    calib_id = "doc_id"
                suggested = suggest_min_log_weight(
                    w,
                    raw,
                    args.suggest_keep_rate,
                    id_col=calib_id,
                    text_col=args.text_col,
                    n_buckets=args.n_buckets,
                    max_order=args.max_order,
                )
            save_dsir_weights(
                w,
                args.output_dir,
                n_buckets=args.n_buckets,
                max_order=args.max_order,
                suggested_min_log_weight=suggested,
                suggested_keep_rate=args.suggest_keep_rate,
            )
            if args.suggest_keep_rate is not None:
                w.unpersist()
            msg = (
                f"fitted {args.n_buckets}-bucket DSIR weights -> "
                f"{args.output_dir.rstrip('/')}/weights.parquet"
            )
            if suggested is not None:
                msg += (
                    f" (suggested_min_log_weight={suggested} at "
                    f"keep_rate={args.suggest_keep_rate})"
                )
            print(msg)
        elif args.pipeline == "doremi-weights":
            from mini_feature_store_spark.operators.doremi import (
                doremi_domain_weights,
            )

            art = doremi_domain_weights(
                spark.read.parquet(args.input_path),
                domain_col=args.domain_col,
                text_col=args.text_col,
                n_buckets=args.n_buckets,
                max_order=args.max_order,
                rounds=args.rounds,
                step=args.step,
                smoothing=args.smoothing,
            )
            out = args.output_dir.rstrip("/") + "/weights.parquet"
            spark.createDataFrame(
                [
                    (
                        d,
                        float(art["weights"][d]),
                        float(art["excess_r1"][d]),
                        int(art["n_grams"][d]),
                    )
                    for d in art["domains"]
                ],
                "domain string, weight double, excess_r1 double, "
                "n_grams long",
            ).coalesce(1).write.mode("overwrite").parquet(out)
            print(
                f"fitted DoReMi weights over {len(art['domains'])} "
                f"domains ({args.rounds} rounds) -> {out}"
            )
        elif args.pipeline == "clf-train":
            from mini_feature_store_spark.operators.text import (
                quality_classifier_train,
                save_quality_classifier,
            )

            art = quality_classifier_train(
                spark.read.parquet(args.positives_path),
                spark.read.parquet(args.negatives_path),
                n_iter=args.n_iter,
                learn_rate=args.learn_rate,
                l2=args.l2,
                balanced=args.balanced,
                text_col=args.text_col,
            )
            save_quality_classifier(art, args.output_dir)
            # --n-iter 0 is legal (writes the zero-weight artifact);
            # losses is empty then — don't fail AFTER a successful write
            loss = f"{art['losses'][-1]:.4f}" if art["losses"] else "n/a"
            print(
                f"trained on {art['n_pos']}+{art['n_neg']} docs, final "
                f"loss {loss} -> "
                f"{args.output_dir.rstrip('/')}/coeffs.parquet"
            )
        elif args.pipeline == "bpe-train":
            from pyspark.sql import functions as F

            from mini_feature_store_spark.operators.bpe import bpe_train

            merges, vocab = bpe_train(
                spark.read.parquet(args.input_path),
                n_merges=args.n_merges,
                text_col=args.text_col,
            )
            # count first (driver-local frame, no data job) and release
            # the vocab cache even if a write fails — a pinned final
            # word table is the CacheManager leak bpe_train itself
            # guards against in its exception path
            n = merges.count()
            try:
                base = args.output_dir.rstrip("/")
                merges.write.mode("overwrite").parquet(
                    base + "/merges.parquet"
                )
                # serialize the symbol split as a space-joined string
                # column too, so non-Spark consumers (tokenizer
                # runtimes) don't need array-typed parquet support
                vocab.withColumn(
                    "syms_str", F.array_join("syms", " ")
                ).write.mode("overwrite").parquet(base + "/vocab.parquet")
            finally:
                vocab.unpersist()
            print(f"learned {n} merges -> {base}/merges.parquet")
        elif args.pipeline == "unigram-train":
            from mini_feature_store_spark.operators.unigram import (
                unigram_train,
                unigram_train_em,
            )

            if args.em:
                pieces = unigram_train_em(
                    spark.read.parquet(args.input_path),
                    vocab_size=args.vocab_size,
                    max_piece_len=args.max_piece_len,
                    text_col=args.text_col,
                )
            else:
                pieces = unigram_train(
                    spark.read.parquet(args.input_path),
                    vocab_size=args.vocab_size,
                    max_piece_len=args.max_piece_len,
                    refine_rounds=args.refine_rounds,
                    text_col=args.text_col,
                )
            n = pieces.count()  # driver-local frame, no data job
            base = args.output_dir.rstrip("/")
            pieces.write.mode("overwrite").parquet(base + "/pieces.parquet")
            print(f"selected {n} pieces -> {base}/pieces.parquet")
        elif args.pipeline == "ann-index-build":
            from mini_feature_store_spark.operators.ann_index import (
                build_ivfpq_index,
            )

            summary = build_ivfpq_index(
                spark.read.parquet(args.embeddings_path),
                args.index_dir,
                n_cells=args.n_cells,
                m_sub=args.m_sub,
                nbits=args.nbits,
                seed=args.seed,
            )
            print(
                f"index built at {args.index_dir}: "
                + ", ".join(f"{k}={v}" for k, v in summary.items())
            )
        elif args.pipeline == "serve":
            from mini_feature_store_spark.api.http_server import serve_forever
            from mini_feature_store_spark.api.service import (
                OfflineFeatureService,
                OnlineFeatureService,
            )
            from mini_feature_store_spark.io.tables import VersionedTable
            from mini_feature_store_spark.pipelines.online_sync import FileKVStore

            if not args.kv_dir and not args.features_table:
                print(
                    "at least one of --kv-dir / --features-table required",
                    file=sys.stderr,
                )
                return 2
            online = (
                OnlineFeatureService(FileKVStore(args.kv_dir))
                if args.kv_dir
                else None
            )
            offline = (
                OfflineFeatureService(
                    spark, VersionedTable(args.features_table).read
                )
                if args.features_table
                else None
            )
            serve_forever(online, offline, host=args.host, port=args.port)
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
