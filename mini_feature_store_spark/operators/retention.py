"""Cohort retention analysis over an event log.

Groups users into cohorts by their first-activity period (week/month/day)
and measures what fraction of each cohort is still active N periods later —
the standard engagement matrix a feature store feeds to growth dashboards.
Absent from the reference (its only per-user time derivation is the rolling
backfill, ``pipelines/BackfillPipeline.scala:132-160``).

Scale shape: one user-keyed pass. The events are scanned once and one
``groupBy(user)`` collects each user's set of active periods (partial
aggregate map-side); the cohort is the set's minimum. Exploding the set
gives each (user, period) exactly once, so one ``(cohort, offset)``
``count(*)`` — again partial-aggregated before its exchange — is the
distinct-user count. Every user is active at offset 0, so the cohort size
is the cohort's largest count: a window over the O(periods²) count rows,
whose exchange is tiny. No join, no broadcast, no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mini_feature_store_spark.functions import round_half_up

__all__ = ["cohort_retention"]

_PERIOD_DAYS = {"day": 1, "week": 7}


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Retention matrix: one row per (cohort_period, period_offset).

    Columns: ``cohort_{period}`` (date), ``{period}_offset`` (int),
    ``n_active`` (bigint), ``cohort_size`` (bigint), ``retention_rate``
    (double, 4 dp). Offset 0 rows have ``n_active = cohort_size`` by
    construction (a user is active in their own first period). Events
    with a NULL user or a NULL timestamp belong to no user-period and
    count nowhere.

    ``period`` is 'day' or 'week' ('month' offsets aren't a fixed day
    count; use months_between explicitly if needed).
    """
    if period not in _PERIOD_DAYS:
        raise ValueError(f"period must be one of {sorted(_PERIOD_DAYS)}")
    step = _PERIOD_DAYS[period]
    bucket = F.date_trunc(period, F.col(ts_col)).cast("date")
    cohort_col, offset_col = f"cohort_{period}", f"{period}_offset"

    # collect_set skips NULL periods, so a user without a timestamp has
    # an empty set and explodes to no rows.
    periods = (
        events.where(F.col(user_col).isNotNull())
        .groupBy(user_col)
        .agg(F.collect_set(bucket).alias("_ps"))
        .select(F.array_min("_ps").alias(cohort_col), F.explode("_ps").alias("_p"))
    )
    # Offsets are exact integers: both sides are period-truncated dates.
    counts = periods.groupBy(
        cohort_col,
        (F.datediff("_p", cohort_col) / step).cast("int").alias(offset_col),
    ).agg(F.count(F.lit(1)).alias("n_active"))
    return counts.withColumn(
        "cohort_size", F.max("n_active").over(Window.partitionBy(cohort_col))
    ).select(
        cohort_col,
        offset_col,
        "n_active",
        "cohort_size",
        round_half_up(F.col("n_active") / F.col("cohort_size")).alias(
            "retention_rate"
        ),
    )
