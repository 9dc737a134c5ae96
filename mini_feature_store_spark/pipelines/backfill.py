"""Backfill pipeline: events parquet → versioned features_daily table.

Re-expresses the reference's ``pipelines/BackfillPipeline.scala:81-169``
(config ``types/BackfillPipelineConfig.scala:26-32``) with the window-frame
plan (SURVEY.md §4.4) instead of the 31×-fanout join, writing a versioned
table partitioned by ``day`` (the reference's Iceberg INSERT OVERWRITE,
``ProdWriter.scala:57-70``). That versioned table is the only copy of
the features: the PIT join, online sync, batch inference and the
consistency audit all read it, so time travel and deletes reach every
reader.
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
        mode = "append" if vt.versions() else "overwrite"
        vt.write(features, partition_by=cfg.partition_by, mode=mode)
    return [d.isoformat() for d in missing]


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
    return features
