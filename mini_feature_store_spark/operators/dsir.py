"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

Selects raw-corpus documents whose hashed n-gram distribution looks like
a curated TARGET corpus (arXiv:2302.03169, NeurIPS 2023 — the standard
pretraining data-selection recipe): fit bag-of-hashed-ngram generative
models on the target and raw corpora, weight each raw document by its
log importance ratio log p_target(x) − log p_raw(x), and resample k
documents without replacement under Gumbel noise on the log weights.

The reference repo has no data-selection tier (it is a feature store;
see SURVEY.md §2.11) — this operator belongs to the beyond-reference
training-data tier alongside dedup/decontamination/sampling.

Spark-first shape (designed for 100 TB):

- the hashed feature space is BOUNDED (``n_buckets`` rows, default
  8192), so both corpus count tables collapse to ≤ n_buckets rows via
  one map-side-combined hash aggregate each, the totals are 1-row
  aggregates OVER those bounded tables (no extra corpus scan), and the
  dense weight table is broadcast BY CONSTRUCTION — the per-document
  scoring join never shuffles the corpus;
- per-document scoring is ONE corpus-side shuffle (the ``groupBy(id)``
  sum of broadcast-joined bucket weights), independent of ``max_order``;
- resampling is a deterministic md5-Gumbel key + THRESHOLD selection
  (``_gumbel_topk``): DSIR's ``k`` is a corpus FRACTION in real use
  (Xie 2023 selects ~10⁸ of 10⁹+ docs), so a global
  ``orderBy().limit(k)`` — TakeOrderedAndProject with a k-sized heap
  per task and a k·P-row driver merge — is the ``.collect()``-class
  hazard at that k. Instead: one ``approx_percentile`` aggregate finds
  the (1 − k/N) quantile band, rows strictly above the band are
  admitted wholesale by a filter, and only the sketch-accuracy-bounded
  boundary band (≲ 6·N/accuracy rows, independent of k) is exactly
  rank-trimmed. The corpus never leaves the executors and no task ever
  holds more than the boundary band.

Engine-parity conventions (the repo's standing oracle rules): md5 is the
portable hash (``sampling.py``), per-bucket weights are fixed-point
rounded at scale 8 BEFORE document summation so only the (sub-rounding)
float-sum order noise differs across engines, and all document-level
floats are ``round_half_up(·, 4)``.
"""

from __future__ import annotations

import warnings

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mini_feature_store_spark.functions import (
    round_half_up,
    spread,
    track_cache,
)
from mini_feature_store_spark.io.sources import read_parquet
from mini_feature_store_spark.operators.text import (
    _doc_tokens,
    _grams_from,
    _window_starts,
)

#: 2^32 — the md5-prefix digit space shared with the samplers.
_HASH_SPACE = 4294967296.0


def _bucket(col: Column, n_buckets: int) -> Column:
    """Hash bucket of a gram string: first 8 hex chars of md5 as an
    integer, mod ``n_buckets`` (md5 is identical in Spark / DuckDB /
    Python — the repo's portable-hash convention)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % F.lit(n_buckets)
    ).alias("bucket")


def _bucketed_grams(
    df: DataFrame,
    text_col: str,
    n_buckets: int,
    max_order: int,
    id_cols: tuple[str, ...] = (),
    with_sentinel: bool = False,
) -> DataFrame:
    """One row per n-gram OCCURRENCE (k = 1..``max_order``, the text
    tier's token-window kernel in ``operators/text.py``), carrying
    ``id_cols`` and the hashed ``bucket``. One scan, map-only.

    ``with_sentinel=True`` additionally emits exactly one NULL-bucket
    row per input row (even gram-less ones), so a downstream
    ``groupBy(id)`` covers EVERY document without a corpus-keyed join
    back onto the id list (which would cost a second scan and a second
    doc_id exchange at 100 TB).

    NULL text is treated as empty (the ``paragraph_dedup`` contract:
    degenerate docs keep their row, dropping them is a gate's decision).
    """
    t = F.coalesce(
        _doc_tokens(F.col(text_col)), F.array().cast("array<string>")
    )
    toks, i = F.col("_toks"), F.col("i")
    pos = (
        spread(df)
        .select(*id_cols, t.alias("_toks"))
        .select(
            *id_cols,
            "_toks",
            F.explode(
                _window_starts(toks, 1, sentinel=with_sentinel)
            ).alias("i"),
        )
    )
    gram_arr = _grams_from(toks, i, max_order, sentinel=with_sentinel)
    grams = pos.select(*id_cols, F.explode(gram_arr).alias("g"))
    return grams.select(*id_cols, _bucket(F.col("g"), n_buckets))


def dsir_bucket_weights(
    target: DataFrame,
    raw: DataFrame,
    *,
    text_col: str = "text",
    n_buckets: int = 8192,
    max_order: int = 2,
) -> DataFrame:
    """DENSE per-bucket importance weights ``(bucket, weight)`` — one row
    for EVERY bucket 0..n_buckets−1, so downstream scoring is a plain
    inner join with no unseen-bucket default path:

        weight[b] = log(c_t[b]+1) − log(c_r[b]+1)
                    + log(N_r + B) − log(N_t + B)

    (add-1 smoothed bag-of-hashed-ngrams log likelihood ratio; the two
    total terms fold the normalizers into the per-bucket weight so a
    document's log importance is exactly the sum of its grams' weights).
    Weights are fixed-point rounded at scale 8 — coarse enough to absorb
    cross-engine libm ``log`` ulp differences, fine enough that document
    sums stay exact at the scale-4 output rounding.

    Everything here is bounded AND single-pass: both corpora stack into
    ONE gram explosion with a target flag, so one map-side-combined
    aggregate produces both count columns (≤ B rows) — one corpus read
    instead of two; totals are 1-row aggregates over that bounded table
    (no second corpus scan), and the result is B rows — broadcast by
    construction at any corpus size.
    """
    both = target.select(
        F.lit(True).alias("_t"), F.col(text_col).alias(text_col)
    ).unionByName(
        raw.select(F.lit(False).alias("_t"), F.col(text_col).alias(text_col))
    )
    counts = (
        _bucketed_grams(both, text_col, n_buckets, max_order, id_cols=("_t",))
        .groupBy("bucket")
        .agg(
            F.count(F.when(F.col("_t"), 1)).alias("_ct"),
            F.count(F.when(~F.col("_t"), 1)).alias("_cr"),
        )
    )
    spark = target.sparkSession
    dense = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    b = F.lit(n_buckets)
    # corpus totals as window sums over the B-row dense table (bounded
    # single partition by construction) — a 1-row crossJoin aggregate
    # would duplicate the whole counts subtree in the plan, re-scanning
    # the corpus twice more (Catalyst gives no ReusedExchange for
    # duplicated aggregate subtrees; the repo's standing lesson)
    wall = Window.partitionBy()
    ct = F.coalesce(F.col("_ct"), F.lit(0))
    cr = F.coalesce(F.col("_cr"), F.lit(0))
    return (
        dense.join(counts, "bucket", "left")
        .select(
            "bucket",
            round_half_up(
                F.log(ct + F.lit(1))
                - F.log(cr + F.lit(1))
                + F.log(F.sum(cr).over(wall) + b)
                - F.log(F.sum(ct).over(wall) + b),
                8,
            ).alias("weight"),
        )
    )


def dsir_score_with_weights(
    weights: DataFrame,
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
    max_order: int = 2,
) -> DataFrame:
    """Score ``df`` under a PREBUILT weight table (the incremental /
    production shape: weights trained once via ``dsir_bucket_weights``
    or loaded from a ``dsir-train`` artifact, then applied to every new
    crawl batch without re-reading either training corpus).

    ``n_buckets`` / ``max_order`` must match the table's training
    configuration — the hash bucketing is part of the model."""
    grams = _bucketed_grams(
        df,
        text_col,
        n_buckets,
        max_order,
        id_cols=(id_col,),
        with_sentinel=True,
    )
    return (
        grams.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            # count(weight): the NULL-bucket sentinel contributes no
            # feature and no mass, only the group
            F.count("weight").alias("n_features"),
            round_half_up(
                F.coalesce(F.sum("weight"), F.lit(0.0)), 4
            ).alias("log_weight"),
        )
        .select(id_col, "n_features", "log_weight")
    )


def dsir_importance(
    target: DataFrame,
    raw: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
    max_order: int = 2,
) -> DataFrame:
    """Per-document log importance weights ``(id_col, n_features,
    log_weight)`` for every RAW document (gram-less documents — empty or
    whitespace-only text — keep a row with ``n_features = 0`` and the
    weight-neutral ``log_weight = 0.0``).

    log_weight = Σ over the document's hashed grams of weight[bucket]
    — exactly log p̂_target(doc) − log p̂_raw(doc) under the add-1
    bag-of-hashed-ngrams models. ONE corpus-side shuffle (the per-doc
    sum); the weight join is broadcast by construction (B rows), and a
    per-doc NULL-bucket sentinel row keeps gram-less docs in the single
    aggregate — no join back onto the id list (that shape costs a second
    corpus scan plus a second doc_id exchange).
    """
    w = dsir_bucket_weights(
        target,
        raw,
        text_col=text_col,
        n_buckets=n_buckets,
        max_order=max_order,
    )
    return dsir_score_with_weights(
        w,
        raw,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
        max_order=max_order,
    )


def save_dsir_weights(
    weights: DataFrame,
    out_dir: str,
    *,
    n_buckets: int,
    max_order: int,
    suggested_min_log_weight: float | None = None,
    suggested_keep_rate: float | None = None,
) -> None:
    """Persist a weight table as ``<out_dir>/weights.parquet`` (bucket,
    weight, n_buckets, max_order — the config columns ride every row so
    the artifact is self-describing without a sidecar file; B rows,
    bounded). When ``dsir-train`` calibrated a keep-rate threshold
    (``suggest_min_log_weight``), it rides along the same way so
    steady-state pipelines can take the probe-free threshold path
    without re-deriving it (r13 directive #5)."""
    base = out_dir.rstrip("/")
    (
        weights.select(
            "bucket",
            "weight",
            F.lit(n_buckets).alias("n_buckets"),
            F.lit(max_order).alias("max_order"),
            F.lit(suggested_min_log_weight)
            .cast("double")
            .alias("suggested_min_log_weight"),
            F.lit(suggested_keep_rate)
            .cast("double")
            .alias("suggested_keep_rate"),
        )
        .write.mode("overwrite")
        .parquet(base + "/weights.parquet")
    )


def suggest_min_log_weight(
    weights: DataFrame,
    raw: DataFrame,
    keep_rate: float,
    *,
    id_col: str | None = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
    max_order: int = 2,
) -> float:
    """Calibrate the log-weight threshold whose ``log_weight >= t``
    filter keeps ~``keep_rate`` of ``raw`` — the train-time twin of
    ``_gumbel_topk``'s percentile probe, paid ONCE at ``dsir-train``
    instead of at every pipeline plan-build. The scored calibration
    frame is persisted across the two scalar aggregates (percentile
    probe, then realized-rate tie check), so the scan + broadcast join
    + per-doc aggregate chain runs once, not twice. ``id_col=None``
    synthesizes a per-row id for the calibration grouping — plain
    ``dsir-train`` corpora are id-free (bag counts never need one) and
    only the per-doc grouping matters here. The sketch's rank error
    is ≤ N/accuracy rows, so ABSENT ties the realized keep-rate is
    within ~1/accuracy of the target; mass ties at the threshold value
    inflate it past that (the inclusive ``>=`` admits every tied doc) —
    a bounded follow-up count measures the realized rate and WARNS
    loudly when it exceeds 1.5× the target."""
    if not 0.0 < keep_rate < 1.0:
        raise ValueError(
            f"suggest_min_log_weight: keep_rate must be in (0, 1), "
            f"got {keep_rate}"
        )
    if id_col is None:
        id_col = "__dsir_calib_id"
        raw = raw.withColumn(id_col, F.monotonically_increasing_id())
    imp = dsir_score_with_weights(
        weights,
        raw,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
        max_order=max_order,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        stats = imp.agg(
            F.percentile_approx(
                F.col("log_weight"),
                F.lit(1.0 - keep_rate),
                F.lit(_PCT_ACCURACY),
            ).alias("t"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        t = stats["t"]
        if t is None:
            raise ValueError(
                "suggest_min_log_weight: calibration corpus is empty"
            )
        t = float(t)
        # mass ties at one rounded log_weight (e.g. a boilerplate-heavy
        # crawl where half the docs score the 0.0 gramless sentinel) can
        # make the inclusive `>= t` filter keep far more than the target —
        # the threshold twin of _gumbel_topk's band inflation. Degrade
        # LOUDLY: one more bounded scalar job at train time checks the
        # realized rate (the sketch alone bounds RANKS, not tie mass).
        kept = imp.agg(
            F.count(F.when(F.col("log_weight") >= F.lit(t), 1))
        ).first()[0]
    finally:
        imp.unpersist()
    realized = kept / stats["n"]
    if realized > 1.5 * keep_rate + 1.0 / _PCT_ACCURACY:
        warnings.warn(
            f"suggest_min_log_weight: threshold {t} keeps "
            f"{realized:.3f} of the calibration corpus vs the "
            f"{keep_rate} target — mass ties at the threshold value "
            "(the >= filter admits every tied doc). Use the resample "
            "path for an exact budget, or curate the calibration "
            "corpus.",
            stacklevel=2,
        )
    return t


def load_dsir_suggested_threshold(spark, model_dir: str) -> float | None:
    """The calibrated ``suggested_min_log_weight`` from a ``dsir-train``
    artifact, or ``None`` when the artifact predates / skipped
    calibration (head-row read — the value rides every row)."""
    base = model_dir.rstrip("/")
    df = read_parquet(spark, base + "/weights.parquet")
    return _suggested_from(df)


def _suggested_from(df: DataFrame) -> float | None:
    if "suggested_min_log_weight" not in df.columns:
        return None
    head = df.select("suggested_min_log_weight").limit(1).collect()
    if not head or head[0][0] is None:
        return None
    return float(head[0][0])


def load_dsir_artifact(
    spark, model_dir: str
) -> tuple[DataFrame, int, int, float | None]:
    """``(weights_df, n_buckets, max_order, suggested_min_log_weight)``
    in ONE artifact open — the pipeline's steady-state loader (review
    r14: ``load_dsir_suggested_threshold`` + ``load_dsir_weights``
    back-to-back re-read and re-validated the same parquet). Density
    validation as in ``load_dsir_weights`` — one aggregate job covers
    metadata, suggested threshold, and both density counts."""
    base = model_dir.rstrip("/")
    df = read_parquet(spark, base + "/weights.parquet")
    has_suggested = "suggested_min_log_weight" in df.columns
    _, _, n_buckets, max_order, suggested = _validate_dense(
        df, model_dir, with_suggested=has_suggested
    )
    return df.select("bucket", "weight"), n_buckets, max_order, suggested


def load_dsir_weight_list(
    spark, model_dir: str
) -> tuple[list[float], int, int]:
    """``(weights_by_bucket, n_buckets, max_order)`` — the artifact as a
    dense Python list indexed by bucket, for the stateless column
    scorer (``dsir_score_column``). Bounded collect by construction
    (exactly n_buckets rows; density validated by
    ``load_dsir_weights``)."""
    df, n_buckets, max_order = load_dsir_weights(spark, model_dir)
    out = [0.0] * n_buckets
    for r in df.collect():
        out[int(r["bucket"])] = float(r["weight"])
    return out, n_buckets, max_order


def _validate_dense(
    df: DataFrame, model_dir: str, *, with_suggested: bool = False
) -> tuple[int, int, int, int, float | None]:
    """One aggregate job over the weights artifact — row count, distinct
    buckets, metadata (and optionally the suggested threshold) in a
    single pass, with the collected values reused in the error message
    (review r14 ADVICE: the old shape launched 2-3 separate jobs, one of
    them re-run just to format the error). Distinct count, not just row
    count: a duplicated bucket would double-count every gram hashing to
    it in the scoring join (and a duplicate implies some other bucket is
    missing at the same total)."""
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("bucket")).alias("n_distinct"),
        F.first("n_buckets").alias("n_buckets"),
        F.first("max_order").alias("max_order"),
    ]
    if with_suggested:
        aggs.append(
            F.first("suggested_min_log_weight").alias("suggested")
        )
    row = df.agg(*aggs).first()
    if row["n_rows"] == 0:
        raise ValueError(f"empty DSIR weights artifact at {model_dir!r}")
    n_buckets = int(row["n_buckets"])
    max_order = int(row["max_order"])
    if row["n_distinct"] != n_buckets or row["n_rows"] != n_buckets:
        raise ValueError(
            f"DSIR weights artifact at {model_dir!r} is not dense: "
            f"{row['n_rows']} rows / {row['n_distinct']} distinct "
            f"buckets for n_buckets={n_buckets}"
        )
    suggested = (
        float(row["suggested"])
        if with_suggested and row["suggested"] is not None
        else None
    )
    return row["n_rows"], row["n_distinct"], n_buckets, max_order, suggested


def load_dsir_weights(spark, model_dir: str) -> tuple[DataFrame, int, int]:
    """Load ``(weights_df, n_buckets, max_order)`` written by
    ``save_dsir_weights``; validates the table is dense (exactly
    n_buckets rows) so a truncated artifact fails loudly — one
    aggregate job (``_validate_dense``)."""
    base = model_dir.rstrip("/")
    df = read_parquet(spark, base + "/weights.parquet")
    _, _, n_buckets, max_order, _ = _validate_dense(df, model_dir)
    return df.select("bucket", "weight"), n_buckets, max_order


def dsir_score_column(
    col: Column, weights: list[float], *, max_order: int = 2
) -> Column:
    """STATELESS per-row DSIR log importance — the scoring model as one
    column expression, for surfaces where the explode+aggregate shape of
    ``dsir_score_with_weights`` can't run (streaming micro-batches
    without state, inline gates inside another projection).

    Because the weight table is DENSE by construction (one weight per
    bucket 0..B−1), it embeds as a single ``array<double>`` LITERAL and
    per-gram lookup is ``element_at`` — higher-order functions do the
    gram fan-out inside the row, so the expression is pure codegen
    column arithmetic: no explode, no shuffle, no state store, no
    Python. ``weights`` must be the artifact's weight list indexed by
    bucket (``load_dsir_weights`` + an ORDER BY bucket collect — B
    values, bounded by construction).

    Pinned equal to the batch scorer at the shared scale-4 rounding by
    ``tests/test_dsir.py`` (the two sum the same scale-8 fixed-point
    weights, only in different orders — sub-rounding noise).
    NULL/empty text scores the weight-neutral 0.0, mirroring the batch
    scorer's sentinel contract.

    COST CAVEAT: Spark's higher-order functions are CodegenFallback —
    the per-gram fold runs interpreted, measured ~16× slower than the
    explode scorer on a batch corpus scan at sf0.1
    (BENCH_WATCH_r14_dsir_probe.json). Use this form where its
    statelessness is the point (streaming micro-batches, inline gates);
    batch pipelines should score with ``dsir_score_with_weights``."""
    n_buckets = len(weights)
    if n_buckets == 0:
        raise ValueError("dsir_score_column: weights must be non-empty")
    arr = F.lit([float(w) for w in weights])
    toks = F.coalesce(_doc_tokens(col), F.array().cast("array<string>"))
    grams = F.flatten(
        F.transform(
            _window_starts(toks, 1),
            lambda i: _grams_from(toks, i, max_order),
        )
    )
    bucket_ix = lambda g: (  # noqa: E731 — shared by both folds
        F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
        % F.lit(n_buckets)
        + F.lit(1)
    ).cast("int")
    return round_half_up(
        F.aggregate(
            grams,
            F.lit(0.0),
            lambda acc, g: acc + F.element_at(arr, bucket_ix(g)),
        ),
        4,
    )


def dsir_resample(
    target: DataFrame,
    raw: DataFrame,
    k: int,
    *,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
    max_order: int = 2,
) -> DataFrame:
    """Gumbel top-k importance resampling (the paper's without-
    replacement sampler, made deterministic): key = log_weight + g where
    g = −ln(−ln(u)) and u is the md5-uniform of ``(id, seed)`` — the
    samplers' portable digit space, so reruns and engines agree. The
    selected set is EXACTLY the global top-k by (key desc, id asc) —
    computed by ``_gumbel_topk``'s threshold selection, never a
    corpus-fraction TakeOrderedAndProject (module docstring).

    NOT a pure transformation: building the returned plan runs Spark
    JOBS (a count plus two bounded scalar aggregates over a persisted
    scored frame — ``_gumbel_topk``'s threshold probe). The scored frame
    STAYS cached so final execution reads it instead of re-deriving the
    chain (one scoring pass per invocation, r16); callers that finish
    with the result may drop the entry via ``spark.catalog.clearCache``.
    Steady-state pipelines holding a frozen ``dsir-train`` artifact
    should prefer the probe-free threshold path
    (``dsir_score_with_weights`` + a ``log_weight >= t`` filter; the
    pipeline's ``--dsir-min-log-weight`` mode) — see ``dsir-train``'s
    ``suggested_min_log_weight`` output."""
    imp = dsir_importance(
        target,
        raw,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
        max_order=max_order,
    )
    return _gumbel_topk(imp, k, seed=seed, id_col=id_col)


def dsir_resample_with_weights(
    weights: DataFrame,
    raw: DataFrame,
    k: int,
    *,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
    max_order: int = 2,
) -> DataFrame:
    """``dsir_resample`` under a PREBUILT weight table (a ``dsir-train``
    artifact): score the batch with ``dsir_score_with_weights``, then
    the same Gumbel top-k — identical output to training in-line when
    the weights came from the same corpora (pinned by test).

    Like ``dsir_resample``, plan construction runs bounded probe jobs
    (not a pure transformation) and leaves the scored frame cached for
    the final execution; with a frozen artifact the probe-free
    ``--dsir-min-log-weight`` threshold path is the steady-state
    alternative."""
    imp = dsir_score_with_weights(
        weights,
        raw,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
        max_order=max_order,
    )
    return _gumbel_topk(imp, k, seed=seed, id_col=id_col)


#: approx_percentile sketch accuracy for threshold selection — the rank
#: error is ≤ N/_PCT_ACCURACY rows, which bounds BOTH the boundary band
#: the exact trim touches (≲ 6·N/accuracy rows) and the per-task memory
#: of the trim, independently of k. At N = 10⁹ docs this is a ≤ 60k-row
#: band — a single small task — while k itself may be 2·10⁸.
_PCT_ACCURACY = 100_000


def _band_cap(margin: float, err: float) -> float:
    """Largest boundary band the sketch's rank guarantee can explain
    (with 4× slack and a small-N floor); a bigger band means mass ties
    at a single rounded sample_key — ``_gumbel_topk`` then degrades
    loudly into the two-phase value-cut trim instead of feeding the
    whole band to one row_number task. Module-level so tests can force
    the fallback on small frames."""
    return max(4.0 * (2.0 * margin + 2.0 * err), 4096.0)


def _gumbel_topk(
    imp: DataFrame, k: int, *, seed: int, id_col: str
) -> DataFrame:
    """Shared resampling tail: deterministic md5-Gumbel key over the
    importance frame + exact top-k by (key desc, id asc) via THRESHOLD
    selection (the r12 judge's corpus-fraction-k directive).

    Why not ``orderBy().limit(k)``: TakeOrderedAndProject holds a
    k-sized heap in EVERY task and merges k·P rows on the driver; DSIR's
    ``k`` is the selection budget — a corpus fraction in real use — so
    that shape is an executor-OOM + driver-bottleneck hazard at 100 TB
    (sanctioned ``orderBy().limit`` sites need a k bounded by contract;
    see tests/test_registry_lint.py's data-proportional-limit guard).

    Threshold shape (all driver traffic is SCALARS):

    1. key the frame, persist it (MEMORY_AND_DISK — it is re-read by the
       bounded scalar jobs below; ~4 narrow columns per doc), count N;
    2. one ``approx_percentile(key, [p_lo, p_hi], accuracy)`` aggregate
       brackets the k-th largest key: with margin m ≥ 2·N/accuracy,
       the sketch's rank guarantee gives count(key > t_hi) ≤ k and
       count(key ≥ t_lo) ≥ k;
    3. one conditional-count aggregate sizes the core (> t_hi, admitted
       wholesale by a plain filter) and the boundary band
       ([t_lo, t_hi], ≲ 6·N/accuracy rows regardless of k);
    4. the band alone is exactly trimmed by a row_number window over
       (key desc, id asc) — a deliberately single-partition window whose
       input is bounded by the SKETCH ACCURACY, not by k or N — taking
       the ``k − |core|`` next rows. (Catalyst lowers this to a
       TakeOrderedAndProject whose limit is that bounded ``needed``,
       avoiding even the band's single-partition exchange — the safe
       form of the operator this rewrite exists to avoid at limit = k;
       pinned by ``test_resample_plan_has_no_corpus_topk``.)

    The union is exactly the global top-k under the strict total order
    (ids are unique), so the output set is engine-deterministic and
    identical to the old sort-based form — ``doc_dsir_resample``'s
    oracle replays an ``ORDER BY … LIMIT k`` unchanged. Mass ties at a
    single rounded key can inflate the band past the rank bound (the
    sketch guarantee is on ranks, not values); the margin-doubling
    retry below keeps correctness in that degenerate case at the cost
    of a wider (still exact) trim.
    """
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.col(id_col).cast("string"), F.lit(str(seed))
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(_HASH_SPACE)
    gum = -F.log(-F.log(u))
    keyed = imp.select(
        id_col,
        "n_features",
        "log_weight",
        round_half_up(F.col("log_weight") + gum, 4).alias("sample_key"),
    )
    if k <= 0:
        return keyed.limit(0)

    key = F.col("sample_key")
    # lifecycle: see functions.track_cache — released by
    # release_operator_caches() / clearCache(), never by this operator
    keyed = track_cache(keyed.persist(StorageLevel.MEMORY_AND_DISK))
    try:
        n = keyed.count()
        if k >= n:
            return keyed
        # rank-error bound of the sketch, in rows; the margin must beat
        # it for the bracketing guarantees above (16-row floor keeps the
        # small-N quantile brackets off the exact k-th rank)
        err = n / _PCT_ACCURACY
        margin = max(2.0 * err, 16.0)
        while True:
            p_hi = min(max(1.0 - (k - margin) / n, 0.0), 1.0)
            p_lo = max(1.0 - (k + margin) / n, 0.0)
            t_lo, t_hi = keyed.agg(
                F.percentile_approx(
                    key, [p_lo, p_hi], F.lit(_PCT_ACCURACY)
                )
            ).first()[0]
            cnts = keyed.agg(
                F.count(F.when(key > t_hi, 1)).alias("core"),
                F.count(
                    F.when((key >= t_lo) & (key <= t_hi), 1)
                ).alias("band"),
            ).first()
            c_core, c_band = int(cnts["core"]), int(cnts["band"])
            needed = k - c_core
            # both loop exits are guaranteed: at p_hi = 1.0 the core is
            # empty (needed = k > 0) and at p_lo = 0.0 the band is
            # everything ≤ t_hi (≥ needed rows since k ≤ n)
            if 0 <= needed <= c_band:
                break
            margin *= 2.0
        # band-size guard (ADVICE r13): the sketch's RANK guarantee
        # bounds the band at ≲ 2·margin + 2·err rows unless mass ties
        # at a single rounded sample_key inflate it. An inflated band
        # would put a corpus-scale single task back on the trim path —
        # degrade LOUDLY and cut the trim input down to one tie group:
        # a cumulative count over the band's DISTINCT keys (small by
        # the same rank argument — oversize ⇒ ties ⇒ few keys) finds
        # the value t_cut straddling rank `needed`; everything above
        # t_cut is admitted wholesale and only the t_cut tie group is
        # exactly id-trimmed.
        t_cut = cut_above = None
        if needed > 0 and c_band > _band_cap(margin, err):
            warnings.warn(
                "dsir threshold selection: boundary band has "
                f"{c_band} rows (sketch bound ~{int(2 * margin + 2 * err)}"
                ") — mass ties at a rounded sample_key; falling back to "
                "a two-phase value-cut trim. If one tie group holds most "
                "of the band, its id-order trim is still a single "
                "(tie-group-sized) task.",
                stacklevel=2,
            )
            kc = (
                keyed.where((key >= F.lit(t_lo)) & (key <= F.lit(t_hi)))
                .groupBy("sample_key")
                .agg(F.count(F.lit(1)).alias("_c"))
            )
            wk = Window.orderBy(F.desc("sample_key")).rowsBetween(
                Window.unboundedPreceding, -1
            )
            cut = (
                kc.withColumn(
                    "_above", F.coalesce(F.sum("_c").over(wk), F.lit(0))
                )
                .where(
                    (F.col("_above") < needed)
                    & (F.col("_above") + F.col("_c") >= needed)
                )
                .select("sample_key", "_above")
                .first()
            )
            assert cut is not None  # 0 < needed <= c_band guarantees it
            t_cut, cut_above = cut["sample_key"], int(cut["_above"])
    except BaseException:
        keyed.unpersist()
        raise

    # r16: the cache STAYS — the returned plan's core/band branches read
    # the frame the probes already materialized, so the whole selection
    # is ONE scoring pass (previously the unpersist here made final
    # execution re-derive the chain: a second full corpus scan + score
    # per run). Same operator-internal multi-pass-state class as the
    # dedup posting-list persists: registry consumers are allowlisted in
    # test_registry_lint.PLAN_BUILD_CACHE_ALLOWLIST, the bench's
    # clearCache() bounds accumulation, and the frame is 4 narrow
    # columns per raw doc (ids/counts/keys — never text).
    core = keyed.where(key > F.lit(t_hi))
    if needed == 0:
        return core
    band = keyed.where((key >= F.lit(t_lo)) & (key <= F.lit(t_hi)))
    if t_cut is not None:
        # two-phase value-cut: the `cut_above` rows strictly above
        # t_cut rank before every t_cut row under (key desc, id asc),
        # so wholesale-admitting them and id-trimming the tie group to
        # the remainder selects EXACTLY the same set as the generic
        # band trim below (pinned by test_band_tie_fallback)
        whole = band.where(key > F.lit(t_cut))
        tie_w = Window.orderBy(F.col(id_col))
        ties = (
            band.where(key == F.lit(t_cut))
            .withColumn("_rn", F.row_number().over(tie_w))
            .where(F.col("_rn") <= F.lit(needed - cut_above))
            .drop("_rn")
        )
        return core.unionByName(whole).unionByName(ties)
    band_w = Window.orderBy(F.desc("sample_key"), F.col(id_col))
    trimmed = (
        band.withColumn("_rn", F.row_number().over(band_w))
        .where(F.col("_rn") <= F.lit(needed))
        .drop("_rn")
    )
    return core.unionByName(trimmed)
