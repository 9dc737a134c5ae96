"""Point-in-time join pipeline: labels + features_daily → training data.

Re-expresses ``pipelines/PointInTimeJoinPipeline.scala:64-136`` (config
``types/PointInTimeJoinPipelineConfig.scala:23-28``) with two deliberate
scale fixes over the reference (SURVEY.md §4.3):

- no driver ``collect()`` for an emptiness check (the reference
  materializes the full result twice, :68 and :73) — we write once and
  run no emptiness check at all: an empty training set is written as an
  empty dataset, and the returned lazy frame lets a caller check it;
- output is partitioned by ``as_of_date`` (one directory per *day*), not by
  the raw ``as_of_ts`` (one directory per distinct timestamp — millions of
  dirs at 100 TB; the reference default, PointInTimeJoinPipelineConfig.scala:27).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_feature_store_spark.io.sinks import write_parquet
from mini_feature_store_spark.io.sources import read_parquet
from mini_feature_store_spark.io.tables import VersionedTable
from mini_feature_store_spark.operators.point_in_time import point_in_time_join


@dataclass
class PointInTimeJoinConfig:
    labels_path: str
    features_table: str  # VersionedTable directory
    output_path: str
    keys: tuple[str, ...] = ("user_id",)
    label_ts: str = "as_of_ts"
    feature_ts: str = "day"
    features_version: int | None = None  # time travel pin
    lookback_days: int | None = None
    partition_by: tuple[str, ...] = ("as_of_date",)


def run_pit_join(spark: SparkSession, cfg: PointInTimeJoinConfig) -> DataFrame:
    labels = read_parquet(spark, cfg.labels_path)
    features = VersionedTable(cfg.features_table).read(
        spark, version=cfg.features_version
    )
    training = point_in_time_join(
        labels,
        features,
        keys=cfg.keys,
        label_ts=cfg.label_ts,
        feature_ts=cfg.feature_ts,
        lookback_days=cfg.lookback_days,
    )
    if "as_of_date" in cfg.partition_by:
        training = training.withColumn(
            "as_of_date", F.to_date(F.col(cfg.label_ts))
        )
    write_parquet(
        training, cfg.output_path, mode="overwrite", partition_by=cfg.partition_by
    )
    return training
