"""Latest-row-per-key dedup (the online-sync snapshot operator).

Reference: ``pipelines/OnlineSyncPipeline.scala:62-73`` — ``row_number() over
(partition by user_id order by day desc) = 1``; same pattern documented for
batch inference (``README.md:225-231``).

fsx runs it as one ``max_by`` hash aggregate with map-side partial collapse
instead of the reference's full per-key sort: at 100 TB a window shuffles
and sorts every historical row, while max_by ships one struct per key per
map task.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str] = ("user_id",),
    order_cols: Sequence[str] | str = "day",
) -> DataFrame:
    """One row per key: the row greatest under ``order_cols`` (lexicographic).

    Pass multiple ``order_cols`` (e.g. ``("ts", "event_id")``) to break ties
    deterministically — with a single non-unique order column the pick is
    an arbitrary winner among the tied rows.
    """
    keys = list(keys)
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    order_cols = list(order_cols)
    value_cols = [c for c in df.columns if c not in keys]
    # Struct comparison is lexicographic → multi-column ordering works in
    # the single-aggregate form.
    ord_expr = (
        F.col(order_cols[0])
        if len(order_cols) == 1
        else F.struct(*[F.col(c) for c in order_cols])
    )
    picked = df.groupBy(*keys).agg(
        F.max_by(F.struct(*value_cols), ord_expr).alias("_v")
    )
    return picked.select(*keys, *[F.col(f"_v.{c}").alias(c) for c in value_cols])
