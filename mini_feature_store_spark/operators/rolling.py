"""Rolling-window daily feature backfill (events → features_daily).

Semantics pinned by the reference (``pipelines/BackfillPipeline.scala:81-169``
and its golden tests ``TestBackfillPipeline.scala:34-39,214-235``): for every
user and every day D in [start, end] (dense — a row even on zero-event days):

- ``event_count_7d``   events with ``D-7  <= event_date <= D`` (8 calendar
  days inclusive — the reference's deliberate edge, BackfillPipeline.scala:137-139)
- ``event_count_30d``  events with ``D-30 <= event_date <= D``
- ``last_event_days_ago``  ``min(datediff(D, event_date))`` over the 30-day
  window, null when no event (intra-day time ignored, :151-157)
- ``event_type_counts``  distinct event types in the 30-day window, cast to
  string (:159,167)

Two physical formulations, asserted equal in tests:

1. ``backfill_features_join_form`` — the reference's own plan shape
   (crossJoin scaffold + 0..30-day range left join + conditional aggregation,
   BackfillPipeline.scala:110-160). Correctness oracle; up-to-31× row fanout
   makes it the wrong plan at 100 TB.

2. ``backfill_features_window_form`` — the scale plan (SURVEY.md §4.4):
   pre-aggregate one row per (user, day-with-events) — the map-side-combinable
   shuffle — densify against the scaffold with a cheap equi join, then compute
   every rolling stat with ``rangeBetween`` window frames over day numbers.
   ONE shuffle by user_id replaces the 31× fanout join, and the per-user
   partition is the only sort. Skew note: a celebrity user is one partition's
   worth of *daily* rows (≤ range length), not raw events — bounded by design.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mini_feature_store_spark.functions import date_range

#: Rolling windows in days, inclusive of both endpoints (8 / 31 calendar days).
SHORT_WINDOW_DAYS = 7
LONG_WINDOW_DAYS = 30

_FEATURE_COLS = [
    "event_count_7d",
    "event_count_30d",
    "last_event_days_ago",
    "event_type_counts",
]


def _scaffold(events: DataFrame, start, end, user_col: str, day_col: str) -> DataFrame:
    """Dense (user × day) grid: every user gets a row for every day even with
    zero events (rationale: BackfillPipeline.scala:30-32).

    The date side is ≤ a few thousand rows → broadcast, so the grid is built
    without shuffling the user list.
    """
    days = date_range(events.sparkSession, start, end, day_col)
    users = events.select(user_col).distinct()
    return users.crossJoin(F.broadcast(days))


def backfill_features_join_form(
    events: DataFrame,
    start: str | dt.date,
    end: str | dt.date,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Reference-shaped plan: scaffold ⟕ events on equi user + 0..30-day range
    residual, then conditional aggregation (BackfillPipeline.scala:117-160)."""
    day, event_date = F.col("day"), F.col("event_date")
    dist = F.datediff(day, event_date)

    ev = events.select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("event_type"),
        F.to_date(F.col(ts_col)).alias("event_date"),
    )
    # Alias both sides: the grid derives from `ev`, so unqualified user_id
    # columns would resolve to the same lineage attribute (self-join trap).
    grid = _scaffold(ev, start, end, "user_id", "day").alias("g")

    joined = grid.join(
        ev.alias("e"),
        (F.col("g.user_id") == F.col("e.user_id"))
        & (event_date <= day)
        & (event_date >= F.date_sub(day, LONG_WINDOW_DAYS)),
        "left",
    )

    in_short = (dist >= 0) & (dist <= SHORT_WINDOW_DAYS)
    in_long = (dist >= 0) & (dist <= LONG_WINDOW_DAYS)
    return joined.groupBy(F.col("g.user_id").alias("user_id"), F.col("g.day").alias("day")).agg(
        F.sum(F.when(in_short, 1).otherwise(0)).alias("event_count_7d"),
        F.sum(F.when(in_long, 1).otherwise(0)).alias("event_count_30d"),
        F.min(F.when(event_date.isNotNull() & (dist >= 0), dist))
        .cast("int")
        .alias("last_event_days_ago"),
        F.count_distinct(F.col("event_type"))
        .cast("string")
        .alias("event_type_counts"),
    )


def _events_in_lookback(
    events: DataFrame,
    start,
    end,
    user_col: str,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """(user_id, event_type, day) rows for [start - 30d, end]: events older
    than ``start`` by up to the long window still influence early rows, so
    the daily pre-agg keeps the lookback and the scaffold join trims to
    [start, end] afterwards. Shared by both window-form feature views."""
    return events.select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("event_type"),
        F.to_date(F.col(ts_col)).alias("day"),
    ).where(
        (F.col("day") >= F.date_sub(F.lit(start).cast("date"), LONG_WINDOW_DAYS))
        & (F.col("day") <= F.lit(end).cast("date"))
    )


def _densify_and_frames(events: DataFrame, daily: DataFrame, start, end, user_col: str):
    """Shared densify + rolling-frame scaffolding for the window-form
    feature views. ``daily`` is a (user_id, day)-keyed pre-aggregate
    carrying at least ``n_events``.

    Rows before ``start`` must still be visible to the range frames of
    early days. A FULL OUTER join expresses both needs with ONE daily
    aggregate: grid rows (day ∈ [start, end]) pick up their stats or stay
    null-padded, and pre-start daily rows (day < start, never in the grid)
    ride along as the daily-only side. (A left-join + union of two daily
    branches scans and aggregates the events twice — visible as duplicate
    subtrees in the physical plan.) The caller's final day >= start filter
    trims the pre rows.

    Returns ``(dense, w7, w30, last_event_day, start_lit)``.
    """
    grid = _scaffold(
        events.select(F.col(user_col).alias("user_id")), start, end, "user_id", "day"
    )
    dense = grid.join(daily, ["user_id", "day"], "full")
    day_no = F.unix_date(F.col("day"))
    w7 = (
        Window.partitionBy("user_id")
        .orderBy(day_no)
        .rangeBetween(-SHORT_WINDOW_DAYS, 0)
    )
    w30 = (
        Window.partitionBy("user_id")
        .orderBy(day_no)
        .rangeBetween(-LONG_WINDOW_DAYS, 0)
    )
    last_event_day = F.max(F.when(F.col("n_events") > 0, F.col("day"))).over(w30)
    return dense, w7, w30, last_event_day, F.lit(start).cast("date")


def _base_feature_cols(w7, w30, last_event_day) -> list:
    """The three features both window-form views share, over the frames
    ``_densify_and_frames`` built."""
    return [
        F.coalesce(F.sum("n_events").over(w7), F.lit(0)).alias("event_count_7d"),
        F.coalesce(F.sum("n_events").over(w30), F.lit(0)).alias("event_count_30d"),
        F.datediff(F.col("day"), last_event_day).cast("int").alias(
            "last_event_days_ago"
        ),
    ]


def backfill_features_window_form(
    events: DataFrame,
    start: str | dt.date,
    end: str | dt.date,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    distinct_types_strategy: str = "bitmask",
    known_types: list[str] | None = None,
) -> DataFrame:
    """Scale plan: daily pre-aggregation + range-frame windows (SURVEY.md §4.4).

    Events older than ``start`` by up to 30 days still influence early rows, so
    the daily pre-agg keeps [start-30, end] and the scaffold join trims to
    [start, end] afterwards.

    ``distinct_types_strategy`` picks the distinct-types-over-window
    representation; every choice builds the plan LAZILY (zero Spark jobs until
    an action — building a 100 TB plan must not trigger a corpus scan):

    - ``"bitmask"`` (default): each type gets a bit in a 64-bit mask — daily
      pre-agg is ``bit_or``, rolling window is ``bit_or``, count is
      ``bit_count``; all codegen'd, 8 bytes/row regardless of window length.
      Bit positions come from ``known_types`` when the caller has catalog
      stats (pure literal map, no extra scan), else from a lazy broadcast dim
      built by a tiny map-side-combined distinct on the type column.
      Fails fast via ``raise_error`` if >64 types show up at runtime.
    - ``"collect_set"``: exact for unbounded type cardinality, but carries the
      whole window's set per row — memory grows with window × cardinality,
      which does not survive 100 TB. Opt-in fallback, and the only path
      for more than 64 types.
    """
    if distinct_types_strategy not in ("bitmask", "collect_set"):
        raise ValueError(
            f"unknown distinct_types_strategy: {distinct_types_strategy!r}"
        )

    ev = _events_in_lookback(events, start, end, user_col, ts_col, type_col)

    use_bitmask = distinct_types_strategy == "bitmask"
    if use_bitmask:
        if known_types is not None:
            if len(known_types) > 64:
                raise ValueError(
                    "bitmask strategy supports at most 64 types; "
                    "use distinct_types_strategy='collect_set'"
                )
            # literal type → single-bit-mask map; lookup is one codegen'd
            # map access (bit positions assigned on the driver from stats)
            mask_map = F.create_map(
                *[
                    c
                    for i, t in enumerate(sorted(known_types))
                    for c in (F.lit(t), F.lit(1 << i).cast("long"))
                ]
            )
            # A type outside known_types must fail loudly, not vanish from
            # the distinct count (bit_or skips NULLs).
            type_bit = F.coalesce(
                mask_map[F.col("event_type")],
                F.expr(
                    "raise_error(concat('event type not in known_types: ',"
                    " event_type))"
                ).cast("long"),
            )
            ev_with_bit = ev.withColumn("type_bit", type_bit)
        else:
            # Lazy bit assignment: tiny distinct on the type column (map-side
            # combined — the shuffle is |types| rows, not |events|), bit
            # positions by alphabetical rank, broadcast back. No job runs
            # until the caller triggers an action. >64 types at runtime hits
            # raise_error instead of silently wrapping shiftleft mod 64.
            # limit(65) makes the ≤64-types contract PLAN-visible (the
            # broadcast side is GlobalLimit-capped, auditable by
            # plan_walk.broadcast_hint_sites) without changing semantics:
            # with >65 distinct types the 66th..nth rows drop from the
            # dim, their events left-join to NULL type_bit_pos, and the
            # CASE below falls through to raise_error exactly as the
            # bit_pos-64 row does.
            types_dim = (
                ev.select("event_type")
                .distinct()
                .withColumn(
                    "type_bit_pos",
                    F.row_number().over(Window.orderBy("event_type")) - 1,
                )
                .limit(65)
            )
            ev_with_bit = ev.join(
                F.broadcast(types_dim), "event_type", "left"
            ).withColumn(
                "type_bit",
                F.expr(
                    "CASE WHEN type_bit_pos < 64 THEN"
                    " shiftleft(1L, CAST(type_bit_pos AS INT))"
                    " ELSE raise_error('more than 64 distinct event types;"
                    " use distinct_types_strategy=collect_set') END"
                ),
            )
        daily = ev_with_bit.groupBy("user_id", "day").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.bit_or("type_bit").alias("type_mask"),
        )
    else:
        daily = ev.groupBy("user_id", "day").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.collect_set("event_type").alias("types"),
        )

    dense, w7, w30, last_event_day, start_lit = _densify_and_frames(
        events, daily, start, end, user_col
    )
    if use_bitmask:
        distinct_types = F.coalesce(
            F.bit_count(F.bit_or("type_mask").over(w30)), F.lit(0)
        )
    else:
        distinct_types = F.size(
            F.array_distinct(F.flatten(F.collect_list("types").over(w30)))
        )
    return (
        dense.select(
            "user_id",
            "day",
            *_base_feature_cols(w7, w30, last_event_day),
            distinct_types.cast("long").cast("string").alias("event_type_counts"),
        )
        .where(F.col("day") >= start_lit)
    )


def backfill_features_typed(
    events: DataFrame,
    start: str | dt.date,
    end: str | dt.date,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """The TYPED feature view the reference's schema promises (SURVEY §1.4):
    ``event_type_counts`` as a real ``map<string,long>`` — per event type,
    the event count in the rolling 30-day window — instead of the
    distinct-type COUNT the string contract carries. Same dense (user ×
    day) grid and 7d/30d/recency features as
    ``backfill_features_window_form``.

    Scale plan (window form only — the 31× fanout join form stays an
    oracle-side mirror): a TWO-LEVEL daily pre-aggregate,
    ``(user, day, type) → (user, day)``, builds one small per-day count
    map (map-side combine collapses raw events before either shuffle);
    the rolling map is then merged per output row from the ≤31 daily maps
    the ``rangeBetween`` frame exposes — ``aggregate`` over
    ``collect_list(type_map)`` with a ``map_zip_with`` additive merge.
    Per-row cost is O(window_days × |types in window|), bounded by the
    window length and type cardinality, never by raw event volume; a
    celebrity user still contributes at most one DAILY row per day to the
    user partition. The merge lambdas are interpreted (no codegen), which
    is the right trade against materializing per-type rolling state: the
    alternative long-form plan shuffles (user, type) and re-densifies per
    type — |types|× the rows of this plan.

    Output: ``(user_id, day, event_count_7d, event_count_30d,
    last_event_days_ago, event_type_counts map<string,long>)`` — the map
    is EMPTY (not null) on windowless days; invariants
    ``size(map) = distinct types in window`` and
    ``Σ map values = event_count_30d`` are pinned by tests against the
    string-contract form.
    """
    ev = _events_in_lookback(events, start, end, user_col, ts_col, type_col)
    daily = (
        ev.groupBy("user_id", "day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id", "day")
        .agg(
            F.sum("n").alias("n_events"),
            F.map_from_entries(
                F.collect_list(F.struct("event_type", "n"))
            ).alias("type_map"),
        )
    )
    dense, w7, w30, last_event_day, start_lit = _densify_and_frames(
        events, daily, start, end, user_col
    )
    # collect_list skips the nulls event-free grid days contribute, so the
    # fold sees exactly the window's daily maps; additive map_zip_with
    # union-merges them (either side null for a type the other day lacks).
    merged = F.aggregate(
        F.collect_list("type_map").over(w30),
        F.create_map().cast("map<string,bigint>"),
        lambda acc, m: F.map_zip_with(
            acc,
            m,
            lambda _k, a, b: F.coalesce(a, F.lit(0).cast("bigint"))
            + F.coalesce(b, F.lit(0).cast("bigint")),
        ),
    )
    return dense.select(
        "user_id",
        "day",
        *_base_feature_cols(w7, w30, last_event_day),
        merged.alias("event_type_counts"),
    ).where(F.col("day") >= start_lit)
