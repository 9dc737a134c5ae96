"""Backfill pipeline: events parquet → versioned features_daily table.

Re-expresses the reference's ``pipelines/BackfillPipeline.scala:81-169``
(config ``types/BackfillPipelineConfig.scala:26-32``) with the window-frame
plan (SURVEY.md §4.4) instead of the 31×-fanout join, writing a versioned
table partitioned by ``day`` (the reference's Iceberg INSERT OVERWRITE,
``ProdWriter.scala:57-70``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_feature_store_spark.io.sources import read_parquet
from mini_feature_store_spark.io.tables import VersionedTable
from mini_feature_store_spark.operators.rolling import (
    backfill_features_window_form,
)


@dataclass
class BackfillConfig:
    events_path: str
    output_table: str  # directory of the VersionedTable
    start_date: str
    end_date: str
    user_col: str = "user_id"
    ts_col: str = "ts"
    type_col: str = "event_type"
    partition_by: tuple[str, ...] = ("day",)
    #: when set, the computed features are ALSO persisted as a bucketed
    #: managed table of this name (io/sinks.py:write_bucketed_table —
    #: bucketBy(buckets, user_col) + sortBy(user_col)): the feature-store
    #: shuffle is paid ONCE here, and every downstream user_id-keyed
    #: consumer (the PIT training build via
    #: ``PointInTimeJoinConfig.features_bucketed_table``, online-sync's
    #: latest-per-key collapse, batch inference) reads the buckets and
    #: skips its feature-side Exchange entirely. The VersionedTable stays
    #: the source of truth (versioning / time travel); this is the
    #: join-optimized materialization of the SAME rows.
    bucket_table: str | None = None
    #: bucket count — match the target join parallelism: with more
    #: shuffle partitions than buckets Spark prefers re-shuffling both
    #: sides over reading the buckets (test_io_plans.py)
    buckets: int = 8


def run_backfill_incremental(
    spark: SparkSession, cfg: BackfillConfig
) -> list[str]:
    """Backfill ONLY the days in [start_date, end_date] not yet in the table.

    Returns the list of day strings actually computed (empty == table
    already current, nothing written). The daily cron case — yesterday's
    run covered days 1..N, today extends to N+1 — recomputes one day, not
    the whole history; at 100 TB that is the difference between a 5-minute
    and a multi-hour job. Present days are the ``day=…`` directory names of
    the latest committed version (no Spark job), so crashed partial runs
    self-heal on the next invocation; a table not partitioned by ``day``
    raises ``ValueError`` before any job.

    The feature compute still sees the FULL events input (rolling windows
    need the 30-day lookback before the first missing day); only the
    *output* range shrinks. Correctness pinned equal to a from-scratch
    backfill in tests/test_pipelines.py.
    """
    import datetime as dt

    vt = VersionedTable(cfg.output_table)
    have = vt.partition_values("day") if vt.versions() else set()
    start = dt.date.fromisoformat(cfg.start_date)
    end = dt.date.fromisoformat(cfg.end_date)
    want = {start + dt.timedelta(days=i) for i in range((end - start).days + 1)}
    missing = sorted(d for d in want if d.isoformat() not in have)
    mode = "append" if vt.versions() else "overwrite"
    if missing:
        events = read_parquet(spark, cfg.events_path)
        features = backfill_features_window_form(
            events,
            missing[0].isoformat(),
            missing[-1].isoformat(),
            user_col=cfg.user_col,
            ts_col=cfg.ts_col,
            type_col=cfg.type_col,
        )
        if len(missing) != (missing[-1] - missing[0]).days + 1:
            # Holes (a crashed run): keep only genuinely missing days.
            features = features.where(
                F.col("day").isin([d.isoformat() for d in missing])
            )
        vt.write(features, partition_by=cfg.partition_by, mode=mode)
    # the bucketed materialization reconciles EVERY run — even a
    # no-missing-days one — so a crash between the versioned commit and
    # the bucket write (or enabling --bucket-table on an already-current
    # table) self-heals on the next invocation, the same promise the
    # versioned table makes above
    # (vt.versions() guard: an empty requested range against a
    # never-written table has nothing to reconcile FROM — vt.read would
    # raise on the version-less table)
    if cfg.bucket_table is not None and vt.versions():
        _sync_bucket_table(
            spark, vt, cfg, fresh_overwrite=bool(missing) and mode == "overwrite"
        )
    return [d.isoformat() for d in missing]


def _sync_bucket_table(
    spark: SparkSession,
    vt: VersionedTable,
    cfg: BackfillConfig,
    *,
    fresh_overwrite: bool,
) -> None:
    """Bring the bucketed materialization to parity with the COMMITTED
    versioned table. Reads back the parquet the versioned write just
    produced — never re-executes the window-form feature plan (the most
    expensive plan in the pipeline; review r15).

    Reconciliation by per-day ROW-COUNT diff (two day-keyed count
    aggregates — prunable and bounded by days elapsed, not data
    volume; day PRESENCE alone would mark a crashed PARTIAL bucket
    append as done and never repair it — the parquet fallback write is
    explicitly non-atomic, io/sinks.py):

    - ``fresh_overwrite`` (the versioned write just overwrote from
      scratch) or no bucket table yet → full bucketed rewrite;
    - column sets differ (a VersionedTable append may add a column that
      older rows read as null — after a version adds a feature column,
      appending new-day rows to the old-schema bucket table raises
      AnalysisException forever) → full rewrite;
    - bucket table carries days the versioned table lacks (the
      versioned table was reset under a lingering bucket table —
      appending would DUPLICATE history), or a shared day's row counts
      disagree (crashed partial bucket append) → full rewrite;
    - bucket table lacks committed days (steady-state append, a
      crashed prior bucket write, or --bucket-table enabled late) →
      append exactly the lacking days, under the existing table's
      bucket spec (Spark validates it matches — a drifted --buckets
      fails loudly).
    """
    committed = vt.read(spark)
    if fresh_overwrite or not spark.catalog.tableExists(cfg.bucket_table):
        _write_bucketed(committed, cfg, mode="overwrite")
        return
    bucket = spark.table(cfg.bucket_table)
    if set(bucket.columns) != set(committed.columns):
        _write_bucketed(committed, cfg, mode="overwrite")
        return

    def day_counts(df: DataFrame) -> dict:
        return {
            r["day"]: r["n"]
            for r in df.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    cnt_b = day_counts(bucket)
    cnt_v = day_counts(committed)
    if any(cnt_v.get(d) != n for d, n in cnt_b.items()):
        _write_bucketed(committed, cfg, mode="overwrite")
        return
    lacking = set(cnt_v) - set(cnt_b)
    if lacking:
        _write_bucketed(
            committed.where(F.col("day").isin(list(lacking))),
            cfg,
            mode="append",
        )


def _write_bucketed(
    features: DataFrame, cfg: BackfillConfig, mode: str
) -> None:
    """Materialize the features under the bucketed layout (same rows the
    versioned write committed).

    The repartition by the bucket key is load-bearing at scale (guide
    §6 file sizing; r15 VERDICT "What's wrong" #1): Spark's bucketed
    writer emits one file per (task × bucket touched), so writing
    straight from an N-partition upstream produces up to N × buckets
    files PER WRITE — a daily append at production task counts grows
    files-per-bucket without bound, and Spark only treats a bucket as
    SORTED (SMJ local-sort elision) while it holds exactly one file.
    ``repartition(buckets, key)`` uses the same Murmur3 hash the bucket
    assignment does, so each task holds exactly one bucket's rows →
    one file per bucket per write, and the overwrite path keeps the
    sorted-bucket property."""
    from mini_feature_store_spark.io.sinks import write_bucketed_table

    write_bucketed_table(
        features.repartition(cfg.buckets, F.col(cfg.user_col)),
        cfg.bucket_table,
        cfg.buckets,
        [cfg.user_col],
        sort_by=[cfg.user_col],
        mode=mode,
    )


def run_backfill(spark: SparkSession, cfg: BackfillConfig) -> DataFrame:
    """Compute features and commit them as a new table version.

    Returns the (lazy) feature DataFrame that was written — callers needing
    row counts read the committed version instead of re-running the plan
    (the reference recomputes, PointInTimeJoinPipeline.scala:68-77 — an
    anti-pattern we don't copy, SURVEY.md §4.3-2).
    """
    events = read_parquet(spark, cfg.events_path)
    features = backfill_features_window_form(
        events,
        cfg.start_date,
        cfg.end_date,
        user_col=cfg.user_col,
        ts_col=cfg.ts_col,
        type_col=cfg.type_col,
    )
    vt = VersionedTable(cfg.output_table)
    vt.write(features, partition_by=cfg.partition_by)
    if cfg.bucket_table is not None:
        # read back the committed parquet instead of re-executing the
        # window-form feature plan a second time (review r15)
        _write_bucketed(vt.read(spark), cfg, mode="overwrite")
    return features
