"""Batch-inference pipeline: inference users ⟕ latest features ≤ as_of.

Re-expresses the reference's documented batch-inference journey
(``README.md:214-233``, Example 2): given a user list and a global cutoff
date, attach each user's latest feature snapshot at or before the cutoff and
write the scoring input. The reference shows a window/rank plan; we use the
same ``latest_per_key`` max_by aggregate as the online-sync path (one struct
per user crosses the shuffle — no sort), with the cutoff pushed into the
feature scan so a day-partitioned table prunes everything after ``as_of``.

Deviation from the reference (documented, SURVEY.md §4.3): the cutoff is an
explicit parameter, never wall-clock ``current_date()`` — reruns must be
reproducible.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_feature_store_spark.io.sources import read_parquet
from mini_feature_store_spark.io.tables import VersionedTable
from mini_feature_store_spark.operators.latest import latest_per_key


@dataclass
class BatchInferenceConfig:
    users_path: str  # parquet with at least `key_col`
    features_table: str  # VersionedTable directory
    output_path: str
    as_of: str  # inclusive cutoff date, YYYY-MM-DD
    key_col: str = "user_id"
    day_col: str = "day"
    features_version: int | None = None  # time travel for reproducible reruns


def run_batch_inference(
    spark: SparkSession, cfg: BatchInferenceConfig
) -> DataFrame:
    """Write the scoring input; returns the (lazy) joined DataFrame.

    A user with no feature row at or before ``as_of`` keeps its row with
    null features (left join — scoring handles cold-start), mirroring the
    reference example's ``"left"``.
    """
    users = read_parquet(spark, cfg.users_path)
    features = VersionedTable(cfg.features_table).read(
        spark, version=cfg.features_version
    )
    cutoff = F.lit(cfg.as_of).cast("date")
    latest = latest_per_key(
        features.where(F.col(cfg.day_col) <= cutoff),
        keys=[cfg.key_col],
        order_cols=[cfg.day_col],
    )
    out = users.join(latest, [cfg.key_col], "left")
    out.write.mode("overwrite").parquet(cfg.output_path)
    return out
