"""Structured Streaming ingestion: continuous feature freshness.

The reference has NO streaming — "freshness" is a re-run batch sync
(``README.md:67``, ``OnlineSyncPipeline.scala:50-99``). This module is the
§2.11 capability add: a watermarked streaming pipeline whose windowed
aggregates feed the online store continuously via ``foreachBatch``.

Scale notes:
- Watermarks bound state: a ``withWatermark(ts, '1 day')`` tumbling count
  keeps ≤ (windows in flight × keys) state rows per executor; without it the
  state store grows unboundedly.
- ``foreachBatch`` reuses the batch ``latest_per_key`` + KV sink — one code
  path for batch and streaming sync (no logic fork to keep consistent).
- File-source streams checkpoint offsets; ``availableNow`` triggers give
  exactly-once batch-boundary semantics for backfill-style catch-up runs.
- The three admitted-store ingest streams (exact, URL and near-dup dedup)
  share one store protocol, ``_admitted_store_stream``: construction-time
  swap recovery, the per-batch store probe and read, and the append. Each
  stream supplies only its admission rule. ``compact_admitted_store``
  rewrites such a store through ``io.sinks.write_parquet_clustered``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import AbstractContextManager, contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Schema of the driver's events table (streams can't infer schemas).
EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def recover_admitted_store(spark: SparkSession, path: str) -> bool:
    """Repair a half-finished ``compact_admitted_store`` swap. The swap is
    two renames (store → ``__old``, ``__compacting`` → store); a process
    death between them leaves NO store at the admitted path, and a
    restarted ingest stream would then see an empty store and silently
    re-admit every key — the lossy-compactor failure the compaction
    contract forbids. Decision table, in order (``old``/``tmp`` are the
    ``__old`` / ``__compacting`` siblings):

    1. ``old`` present, store missing → restore ``old`` (the crash
       happened between the two renames; ``old`` IS the store), then
       drop ``tmp`` (an uncommitted rewrite).
    2. ``old`` AND store AND ``tmp`` all present → RAISE. On a
       rename-atomic filesystem this state is unreachable (``tmp`` only
       disappears by BECOMING the store); it arises only on copy+delete
       "rename" stores (s3a) after a mid-rename crash, where rows are
       split between store and ``old`` and any automatic delete loses
       data. Manual reconciliation is the only safe move.
    3. ``old`` and store present, no ``tmp`` → post-swap cleanup died
       before removing ``old``; it is a stale complete copy — drop it.
       (Safe on every filesystem: the second rename must have fully
       completed for ``tmp`` to be gone.)
    4. ``tmp`` present alone → a rewrite that never reached the swap —
       drop it.

    Concurrent recovery (two streams probing one store) is tolerated:
    a lost restore race re-checks that the store now exists instead of
    failing the healthy batch.

    Returns True iff the store itself was restored from ``old``."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compacting")
    restored = False
    if fs.exists(old):
        if not fs.exists(hpath):
            if not fs.rename(old, hpath):
                # a concurrent recoverer may have won the rename race —
                # the store being present is success, not failure
                if not fs.exists(hpath):
                    raise RuntimeError(
                        f"could not restore admitted store from {old}"
                    )
            else:
                restored = True
            if fs.exists(tmp):
                fs.delete(tmp, True)
        elif fs.exists(tmp):
            raise RuntimeError(
                f"admitted store {path} is in an ambiguous mid-swap state "
                f"(store, __old and __compacting all present) — this only "
                f"happens on non-atomic-rename filesystems (s3a) after a "
                f"mid-rename crash, where rows may be split between the "
                f"store and __old; reconcile manually (union the two "
                f"directories' rows, dedup on the cluster key) before "
                f"restarting ingest"
            )
        else:
            fs.delete(old, True)
    elif fs.exists(tmp):
        fs.delete(tmp, True)
    return restored


#: admitted-store paths whose ``__old`` sibling has been probed by THIS
#: process — the restart-path ambiguity check below runs once per path,
#: so steady-state batches pay zero extra FileSystem round-trips.
#: Tests that re-create a store at a reused path may clear this set.
_SWAP_PROBED: set[str] = set()


def _store_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-agnostic 'does the admitted store have data yet' probe via
    the Hadoop FileSystem API — a driver-local ``os.path.isdir`` silently
    returns False forever for s3://...hdfs:// stores, which would skip
    the against-corpus dedup probe (and its replay idempotency) on every
    batch. Swap recovery runs at stream construction
    (``_admitted_store_stream``) AND — conditionally — here: when the
    store looks MISSING (heals the between-renames crash), and ONCE per
    path when the store is present but a ``__old`` sibling survives — a
    writer restarted via ``.start()`` (no builder re-run) after a
    non-atomic-rename (s3a) compaction crash would otherwise silently
    resume against a possibly-split store instead of hitting the
    recovery RuntimeError.
    Steady state pays one extra ``exists()`` on the first batch only."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        _SWAP_PROBED.add(path)
        if not recover_admitted_store(spark, path):
            return False
        if not fs.exists(hpath):
            return False
    elif path not in _SWAP_PROBED:
        _SWAP_PROBED.add(path)
        old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
        if fs.exists(old):
            # store AND __old both present: either a stale complete copy
            # (cleaned) or the ambiguous s3a 3-way state (raises) —
            # recover_admitted_store's decision table adjudicates
            recover_admitted_store(spark, path)
    return next(_parquet_files(fs, hpath), None) is not None


def _parquet_files(fs, hpath) -> Iterator:
    """The parquet data files under ``hpath``, listed recursively through
    the Hadoop FileSystem API."""
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        status = it.next()
        if status.getPath().getName().endswith(".parquet"):
            yield status


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENT_STREAM_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source event stream (new parquet files under ``path``)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "1 day",
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Tumbling-window event counts with late-data handling.

    Events later than ``watermark`` behind the max seen ts are dropped and
    their windows finalized — the lateness policy the reference's daily
    batch contract implies (SURVEY.md §7.4: 1-day lateness, then backfill
    repair).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), *key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *key_cols,
            "n_events",
            "sum_value",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    window: str = "1 day",
    slide: str = "6 hours",
    watermark: str = "1 day",
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Sliding-window counts (each event lands in window/slide windows)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("win"), *key_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *key_cols,
            "n_events",
        )
    )


def sessionized_activity(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 day",
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Session windows: activity bursts separated by ≥ ``gap`` of silence."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("win"), *key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("first_event"),
            F.max(ts_col).alias("last_event"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            *key_cols,
            "n_events",
            "first_event",
            "last_event",
        )
    )


def deduplicated_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "1 day",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop repeats of ``keys`` arriving within the
    watermark horizon (at-least-once sources → effectively-once downstream).

    ``dropDuplicatesWithinWatermark`` keys the state store on ``keys`` and
    EVICTS entries once the watermark passes — bounded state, unlike plain
    ``dropDuplicates`` on a stream which retains every key forever. The
    batch analogs are `operators/dedup.py`; this is the streaming tier of
    the same dedup family.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_online_sync(
    windowed: DataFrame,
    kv_factory: Callable[[], object],
    checkpoint_dir: str,
    key_col: str = "user_id",
    key_prefix: str = "features:",
    order_col: str = "window_start",
    trigger_available_now: bool = True,
):
    """Continuously upsert the latest window per key into the online store.

    ``foreachBatch`` routes each micro-batch through the *batch* sync's
    ``latest_per_key`` and its partition-parallel KV writer
    (``pipelines.online_sync.write_latest``) — the streaming analog of
    ``run_online_sync``, with one write path for both.
    """
    from mini_feature_store_spark.operators.latest import latest_per_key
    from mini_feature_store_spark.pipelines.online_sync import write_latest

    def sync_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = latest_per_key(
            batch_df, keys=[key_col], order_cols=[order_col]
        )
        write_latest(latest, kv_factory, key_col, key_prefix)

    writer = (
        windowed.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sync_batch)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def purchase_click_attribution_stream(
    events: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream–stream join: attribute each purchase to same-user clicks in
    the preceding ``attribution_window`` (last-touch candidate set).

    The §2.11 streaming-join tier the reference can't express: BOTH sides
    are unbounded, so correctness requires (a) watermarks on both event-time
    columns and (b) a time-range join condition — together they let the
    state store evict a buffered click once no future purchase can still
    reach back to it (state is bounded by watermark + window, not stream
    length). Without the range condition Spark would buffer both streams
    forever. ``how='left_outer'`` additionally emits unattributed purchases
    after the watermark passes (null click columns).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be 'inner' or 'left_outer', got {how!r}")
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}")
        )
    )
    return purchases.join(clicks, cond, how).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def quality_gated_stream(
    stream: DataFrame,
    model_dir: str | None = None,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Learned-quality gate on a STREAMING source: score every incoming
    document under the trained classifier (a ``clf-train`` artifact dir,
    or the frozen demo weights when ``model_dir`` is None) and keep only
    docs at/above ``threshold``.

    The classifier is literal column arithmetic over the raw text
    column (``text.py:quality_prob_column`` — pinned equal to the batch
    scorer by test) — a STATELESS map-only ``withColumn`` + filter with
    zero aggregation, so it composes on an unbounded stream with no
    watermark, no state store, no projection that could collide with
    the caller's column names, and no micro-batch cost beyond the
    expression itself (train offline, apply in-stream: the production
    split). The returned frame keeps every input column plus
    ``quality_prob`` for observability (that one name must be free —
    asserted); chain it upstream of any ingest sink, e.g.
    ``incremental_dedup_stream(quality_gated_stream(s, dir), ...)``."""
    from mini_feature_store_spark.operators.text import (
        load_quality_classifier,
        quality_prob_column,
    )

    if "quality_prob" in stream.columns:
        raise ValueError(
            "quality_gated_stream adds a 'quality_prob' column; the "
            "input stream already has one — rename it upstream"
        )
    weights = bias = None
    if model_dir is not None:
        weights, bias = load_quality_classifier(
            stream.sparkSession, model_dir
        )
    prob = quality_prob_column(F.col(text_col), weights, bias)
    return stream.withColumn("quality_prob", prob).where(
        F.col("quality_prob") >= threshold
    )


def dsir_gated_stream(
    stream: DataFrame,
    model_dir: str,
    min_log_weight: float = 0.0,
    text_col: str = "text",
) -> DataFrame:
    """DSIR selection gate on a STREAMING source — the steady-state
    crawl-ingest shape of the DSIR tier (Xie et al. 2023): score every
    incoming document's log importance under a FROZEN ``dsir-train``
    artifact and keep docs at/above ``min_log_weight`` (train once
    offline on target-vs-crawl, apply per micro-batch forever — the
    production split, exactly like ``quality_gated_stream``'s
    classifier).

    Streaming-safe by construction: the dense weight table embeds as
    one array literal and the gram fan-out runs INSIDE each row
    (``dsir.py:dsir_score_column`` — higher-order functions, no
    explode, no aggregation), so the gate is a stateless map-only
    ``withColumn`` + filter: no watermark, no state store, composable
    upstream of any ingest sink, e.g.
    ``incremental_dedup_stream(dsir_gated_stream(s, dir), ...)``.

    Note the threshold semantics: batch DSIR resampling selects a
    FIXED-SIZE top-k (``dsir_resample``), which has no streaming
    analog — a stream admits by THRESHOLD on the same log-weight score
    (pick it offline, e.g. the batch run's admitted-set minimum or an
    ``approx_percentile`` of a calibration batch). The returned frame
    keeps every input column plus ``dsir_log_weight`` for
    observability (that name must be free — asserted)."""
    from mini_feature_store_spark.operators.dsir import (
        dsir_score_column,
        load_dsir_weight_list,
    )

    if "dsir_log_weight" in stream.columns:
        raise ValueError(
            "dsir_gated_stream adds a 'dsir_log_weight' column; the "
            "input stream already has one — rename it upstream"
        )
    weights, _nb, max_order = load_dsir_weight_list(
        stream.sparkSession, model_dir
    )
    score = dsir_score_column(
        F.col(text_col), weights, max_order=max_order
    )
    return stream.withColumn("dsir_log_weight", score).where(
        F.col("dsir_log_weight") >= F.lit(min_log_weight)
    )


def _admitted_store_stream(
    stream: DataFrame,
    admitted_path: str,
    checkpoint_dir: str,
    admit: Callable[[DataFrame, DataFrame | None], AbstractContextManager],
):
    """The admitted-store protocol of the ingest streams below; each
    supplies only its admission rule. ``admit(batch, store)`` is a context
    manager that yields the batch rows to append (``store`` is the
    admitted rows, None before the first append) and releases whatever it
    cached once the append is done or has raised.

    ``foreachBatch`` is at-least-once: a batch whose checkpoint commit
    never landed runs again on restart. Exactly-once therefore rests on
    this one step being idempotent: a replayed batch re-probes the store,
    finds its own rows there, and the rule admits none of them twice.

    Swap recovery runs once, at stream construction (NOT per batch — that
    would add FileSystem round-trips to every micro-batch), so the first
    probe cannot mistake a mid-swap store for an empty one and re-admit
    everything.

    Returns the ``DataStreamWriter`` (caller starts/stops it)."""
    recover_admitted_store(stream.sparkSession, admitted_path)

    def append_admitted(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        store = None
        if _store_exists(spark, admitted_path):
            store = spark.read.parquet(admitted_path)
        with admit(batch_df, store) as novel:
            novel.write.mode("append").parquet(admitted_path)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(append_admitted)
    )


def _first_new_key(key_col: str, key: Column, id_col: str):
    """Admission rule of the exact and URL streams: add ``key`` as
    ``key_col``, keep the smallest ``id_col`` per key within the batch
    (deterministic), and drop keys the store already holds."""

    @contextmanager
    def admit(batch_df: DataFrame, store: DataFrame | None):
        from pyspark.sql import Window

        first = Window.partitionBy(key_col).orderBy(F.col(id_col).asc())
        novel = (
            batch_df.withColumn(key_col, key)
            .withColumn("_rn", F.row_number().over(first))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        if store is not None:
            # Planner-chosen join: the admitted set grows without bound, so
            # never force a broadcast — small stores hash-join under AQE,
            # large ones SMJ on the key. Each batch appends its own file;
            # compact_admitted_store rewrites them as a few files clustered
            # by the key, so the probe reads few footers at scale. The
            # join puts the key first; the select keeps every file of the
            # store in the first batch's column order.
            novel = novel.join(
                store.select(key_col), key_col, "left_anti"
            ).select(novel.columns)
        yield novel

    return admit


def incremental_dedup_stream(
    stream: DataFrame,
    admitted_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming exact-dedup ingest against a GROWING admitted store:
    each micro-batch keeps only docs whose content fingerprint is (a) new
    within the batch — first id wins, deterministically — and (b) absent
    from everything admitted by earlier batches; novel rows append to the
    parquet store that future batches check against.

    The batch-mode analog is ``dedup.ngram_jaccard_against`` for near-dups;
    this is the exact-hash tier of the same steady-state ingest shape: cost
    per batch is one fingerprint aggregate over the batch plus an anti join
    against the (fingerprint-pruned) admitted store — never a re-scan of all
    admitted *content*. ``foreachBatch`` gives batch-boundary exactly-once:
    a replayed micro-batch re-anti-joins and admits nothing twice.

    Returns the ``DataStreamWriter`` (caller starts/stops it).
    """
    from mini_feature_store_spark.operators.text import fingerprint

    rule = _first_new_key("fingerprint", fingerprint(F.col(text_col)), id_col)
    return _admitted_store_stream(stream, admitted_path, checkpoint_dir, rule)


def incremental_neardedup_stream(
    stream: DataFrame,
    admitted_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int = 1000,
):
    """Streaming NEAR-dup ingest: the n-gram-Jaccard tier of
    ``incremental_dedup_stream`` — each micro-batch admits only docs that
    are not near-duplicates (Jaccard ≥ ``threshold`` over capped 3-gram
    shingle sets) of anything admitted earlier OR of an earlier-id doc in
    the same batch.

    Within-batch rule is the GREEDY chain cut (drop every doc that pairs
    with a smaller-id doc), not full connected components: in a chain
    a–b–c the survivor set is {a} either way, but greedy needs no
    iteration inside a micro-batch and is deterministic given ids.

    Cost shape per batch (the steady-state ingest contract): pair
    generation is batch×batch plus batch×corpus via capped posting lists
    (operators/dedup.py) — the admitted CORPUS is never self-joined, and
    corpus text is read only to build its posting side. ``foreachBatch``
    gives batch-boundary exactly-once: a replayed batch re-probes the
    store and admits nothing twice.

    Returns the ``DataStreamWriter`` (caller starts/stops it).
    """
    from mini_feature_store_spark.functions import release_operator_caches
    from mini_feature_store_spark.operators.dedup import (
        ngram_jaccard_against,
        ngram_jaccard_pairs,
    )

    @contextmanager
    def admit(batch_df: DataFrame, store: DataFrame | None):
        batch_df = batch_df.persist()
        try:
            intra = ngram_jaccard_pairs(
                batch_df,
                threshold=threshold,
                text_col=text_col,
                id_col=id_col,
                max_shingle_freq=max_shingle_freq,
            )
            novel = batch_df.join(
                intra.select(F.col("id_b").alias(id_col)).distinct(),
                id_col,
                "left_anti",
            )
            if store is not None:
                cross = ngram_jaccard_against(
                    novel,
                    store,
                    threshold=threshold,
                    text_col=text_col,
                    id_col=id_col,
                    max_shingle_freq=max_shingle_freq,
                )
                novel = novel.join(
                    cross.select(F.col("new_id").alias(id_col)).distinct(),
                    id_col,
                    "left_anti",
                )
            yield novel
        finally:
            # the batch and both operators' posting lists (track_cache)
            # are read only by this batch's write
            batch_df.unpersist()
            release_operator_caches()

    return _admitted_store_stream(stream, admitted_path, checkpoint_dir, admit)


def ann_index_ingest_stream(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Streaming ANN-index maintenance: each micro-batch of embeddings is
    encoded with the index's FROZEN model artifacts (codebooks/centroids
    from ``build_ivfpq_index``) and appended to the cell-partitioned codes
    store — probes see new vectors at the next batch boundary.

    The composition is deliberately thin: ``foreachBatch`` routes the
    micro-batch through the batch-mode ``append_to_ivfpq_index``, so
    streaming and batch ingest share one encode path (same rule as
    ``stream_online_sync``). ``foreachBatch`` is at-least-once — a crash
    between the parquet append and the checkpoint commit replays the
    batch — and the append is idempotent: replayed ids anti-join against
    the index's (column-pruned) id set and append nothing twice, the same
    re-probe-the-store idempotency as ``incremental_dedup_stream``. Model refresh (re-train on drift)
    stays an offline decision — rebuilding under a running stream is a
    swap of ``index_dir``, not a streaming concern.

    Returns the ``DataStreamWriter`` (caller starts/stops it).
    """
    from mini_feature_store_spark.operators.ann_index import (
        append_to_ivfpq_index,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            append_to_ivfpq_index(batch_df, index_dir, vec_col, id_col)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(ingest)
    )


def incremental_urldedup_stream(
    stream: DataFrame,
    admitted_path: str,
    checkpoint_dir: str,
    url_col: str = "url",
    id_col: str = "doc_id",
):
    """Streaming URL-level dedup ingest — the crawl-frontier shape: each
    micro-batch keeps only documents whose CANONICAL URL (operators/urls.py
    canonicalization: case, www, default ports, tracking params, fragments,
    trailing slashes) is new within the batch (first id wins) and absent
    from the admitted store; novel rows append for future batches to check.

    This is ``incremental_dedup_stream`` with the identity key moved from
    content fingerprint to canonical URL — the stage that runs BEFORE
    content even downloads in a real crawler, so the steady-state cost per
    batch is one canonicalize projection + aggregate over the batch plus
    an anti join against the url-pruned store. Same exactly-once contract
    via ``foreachBatch`` (a replayed batch re-anti-joins, admits nothing
    twice).

    Returns the ``DataStreamWriter`` (caller starts/stops it).
    """
    from mini_feature_store_spark.operators.urls import canonicalize_url

    rule = _first_new_key(
        "canonical_url", canonicalize_url(F.col(url_col)), id_col
    )
    return _admitted_store_stream(stream, admitted_path, checkpoint_dir, rule)


def compact_admitted_store(
    spark: SparkSession,
    admitted_path: str,
    cluster_col: str,
    target_files: int = 8,
) -> dict[str, int]:
    """Compact an incremental-dedup admitted store (the maintenance job
    every ``foreachBatch``-append store needs): each micro-batch appended
    its own small parquet file, so after N batches the anti-join probe
    reads N footers — the classic streaming small-files problem. This
    rewrites the store as ``target_files`` range-clustered,
    internally-sorted files keyed by the dedup column. Clustering bounds
    each file's key range in its parquet footer, so point/range lookups
    on ``cluster_col`` skip files outright — and an anti-join probe can
    too where runtime bloom/min-max join filtering is enabled (the
    join itself does not footer-prune under default confs; the
    guaranteed win at every conf is N-batches → ``target_files``
    footers/tasks per probe).

    MUST run while the ingest stream is stopped (the swap is
    directory-level: write to ``<path>__compacting``, stage the store
    aside as ``<path>__old``, rename the rewrite into place, then drop
    ``__old`` — all via the Hadoop FileSystem API, no driver-local os
    calls). The two-rename window is crash-covered: both this function
    and the ingest stream BUILDERS run ``recover_admitted_store`` first
    (once at construction, never per batch), so a death between the
    renames restores ``__old`` instead of leaving a missing store that
    would silently re-admit every key.
    Each rename is atomic only on rename-capable filesystems
    (HDFS/posix/abfs); on s3a a "rename" is a non-atomic O(data)
    copy+delete, so there the swap is neither atomic nor cheap — on
    object stores run compaction strictly offline (stream stopped, no
    concurrent readers) or target a table format with commit semantics.
    The rewrite is content-preserving: compaction never drops rows
    (the exactly-once ingest contract means the store has no duplicates
    to collapse; a lossy compactor would silently re-admit URLs after a
    crash-restore from an older store copy).

    Returns ``{"rows": n, "files_before": b, "files_after": a}``.
    """
    from mini_feature_store_spark.io.sinks import write_parquet_clustered

    recover_admitted_store(spark, admitted_path)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(admitted_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        raise ValueError(f"admitted store does not exist: {admitted_path}")
    files_before = sum(1 for _ in _parquet_files(fs, hpath))
    df = spark.read.parquet(admitted_path)
    rows = df.count()
    # recovery has just dropped any earlier __compacting rewrite
    tmp = admitted_path.rstrip("/") + "__compacting"
    write_parquet_clustered(df, tmp, [cluster_col], target_files=target_files)
    tpath = jvm.org.apache.hadoop.fs.Path(tmp)
    # swap: stage aside, rename into place (recover_admitted_store covers
    # a death between the two renames; readers started before the swap
    # keep their snapshot of the old file listing)
    old = jvm.org.apache.hadoop.fs.Path(admitted_path.rstrip("/") + "__old")
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(hpath, old):
        raise RuntimeError(f"could not stage old store aside: {admitted_path}")
    if not fs.rename(tpath, hpath):
        fs.rename(old, hpath)  # roll back
        raise RuntimeError(f"could not swap compacted store: {admitted_path}")
    fs.delete(old, True)
    return {
        "rows": rows,
        "files_before": files_before,
        "files_after": sum(1 for _ in _parquet_files(fs, hpath)),
    }
