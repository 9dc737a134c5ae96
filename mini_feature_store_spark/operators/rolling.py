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
   ONE scan pre-aggregates one row per (user, day-with-events in the
   lookback) carrying the day's event count and type set — the
   map-side-combinable shuffle — plus one NULL-day row per user for
   everything else, so the grid's users come from the same aggregate. A
   per-user collect then emits each user's day grid and daily rows from
   one ``inline`` (no join, no union, no broadcast), and every rolling
   stat is a ``rangeBetween`` window frame over day numbers that reads
   that user-keyed partitioning: two exchanges, neither over the grid,
   replace the 31× fanout join, and the per-user partition is the only
   sort. Skew note: a celebrity user is one partition's worth of *daily*
   rows (≤ range length + 31), not raw events — bounded by design.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

#: Rolling windows in days, inclusive of both endpoints (8 / 31 calendar days).
SHORT_WINDOW_DAYS = 7
LONG_WINDOW_DAYS = 30

def _scaffold(events: DataFrame, start, end, user_col: str, day_col: str) -> DataFrame:
    """Dense (user × day) grid of the join form: every user gets a row for
    every day even with zero events (rationale: BackfillPipeline.scala:30-32).

    Each distinct user explodes its own ``sequence`` of days: a narrow
    step over the users distinct, with no cross join and no broadcast.
    The window forms build the same grid inside ``_densify_and_frames``.
    """
    days = F.sequence(F.lit(start).cast("date"), F.lit(end).cast("date"))
    return (
        events.select(user_col)
        .distinct()
        .select(user_col, F.explode(days).alias(day_col))
    )


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


def _events_by_lookback_day(
    events: DataFrame,
    start,
    end,
    user_col: str,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """(user_id, event_type, day) rows for EVERY event, ``day`` and
    ``event_type`` NULL outside [start - 30d, end]: events older than
    ``start`` by up to the long window still influence early rows, so the
    daily pre-agg keeps the lookback, and the densify trims to
    [start, end] afterwards. An event outside the lookback, or of a null
    user, keeps only its user, as one NULL-day group per user: the grid's
    users come from every event without a second scan. A null user's
    events all fall in that group, so its grid rows read zero, as in the
    join form, whose equi join never matches them. Shared by both
    window-form feature views."""
    day = F.to_date(F.col(ts_col))
    in_lookback = (
        F.col(user_col).isNotNull()
        & (day >= F.date_sub(F.lit(start).cast("date"), LONG_WINDOW_DAYS))
        & (day <= F.lit(end).cast("date"))
    )
    return events.select(
        F.col(user_col).alias("user_id"),
        F.when(in_lookback, F.col(type_col)).alias("event_type"),
        F.when(in_lookback, day).alias("day"),
    )


#: Tags the grid's rows among the rows ``_densify_and_frames`` emits.
_GRID = "_grid"


def _densify_and_frames(
    daily: DataFrame,
    start,
    end,
    type_counts: Callable[[WindowSpec], Column],
) -> DataFrame:
    """Shared densify + rolling frames of the window-form feature views.
    ``daily`` is a (user_id, day-or-NULL)-keyed pre-aggregate over
    ``_events_by_lookback_day`` carrying at least ``n_events``;
    ``type_counts`` builds the view's ``event_type_counts`` from the
    30-day frame.

    One ``groupBy(user_id)`` collects each user's daily rows (the NULL-day
    group only names the user), and one ``inline`` emits the user's grid
    rows, tagged, and its daily rows together: no join, no union, and
    the window reads the user-keyed partitioning of that aggregate, so
    no exchange sits between it and the frames. Per-user state is the
    ≤ (days in range + 31) daily structs the window partition holds
    anyway. A ``rangeBetween`` frame holds every row whose day number is
    in range, so a grid row and the daily row of its day are peers, and
    every frame aggregate equals the one over a joined row. Daily rows
    before ``start`` (never in the grid) stay visible to early days'
    frames. Keeping only grid rows at the end also trims that lookback.
    """
    carried = [f for f in daily.schema.fields if f.name not in ("user_id", "day")]
    days = F.sequence(F.lit(start).cast("date"), F.lit(end).cast("date"))
    grid = F.transform(
        days,
        lambda d: F.struct(
            d.alias("day"),
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in carried],
            F.lit(True).alias(_GRID),
        ),
    )
    in_lookback = F.when(
        F.col("day").isNotNull(),
        F.struct("day", *[f.name for f in carried], F.lit(False).alias(_GRID)),
    )
    dense = (
        daily.groupBy("user_id")
        .agg(F.collect_list(in_lookback).alias("daily"))
        .select("user_id", F.inline(F.concat(grid, F.col("daily"))))
    )
    by_day = Window.partitionBy("user_id").orderBy(F.unix_date(F.col("day")))
    w7 = by_day.rangeBetween(-SHORT_WINDOW_DAYS, 0)
    w30 = by_day.rangeBetween(-LONG_WINDOW_DAYS, 0)
    last_event_day = F.max(F.when(F.col("n_events") > 0, F.col("day"))).over(w30)
    return (
        dense.select(
            "user_id",
            "day",
            F.coalesce(F.sum("n_events").over(w7), F.lit(0)).alias("event_count_7d"),
            F.coalesce(F.sum("n_events").over(w30), F.lit(0)).alias("event_count_30d"),
            F.datediff("day", last_event_day).cast("int").alias("last_event_days_ago"),
            type_counts(w30).alias("event_type_counts"),
            _GRID,
        )
        .where(F.col(_GRID))
        .drop(_GRID)
    )


def backfill_features_window_form(
    events: DataFrame,
    start: str | dt.date,
    end: str | dt.date,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Scale plan: daily pre-aggregation + range-frame windows (SURVEY.md §4.4).

    Events older than ``start`` by up to 30 days still influence early rows, so
    the daily pre-agg keeps [start-30, end] and the densify keeps only the
    [start, end] grid rows afterwards.

    Distinct types (SURVEY §4.4, §7.4): the daily pre-agg carries each day's
    ``collect_set`` of types next to ``n_events``, and the 30-day frame
    flattens its ≤31 daily sets and counts the distinct entries. Exact for
    any type cardinality; a row holds at most 31 days × types strings, the
    bound ``backfill_features_typed`` accepts too. The plan is lazy: no
    Spark job runs until an action.
    """
    ev = _events_by_lookback_day(events, start, end, user_col, ts_col, type_col)
    daily = ev.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.collect_set("event_type").alias("types"),
    )
    # collect_list skips the grid rows' null sets, so an eventless window
    # flattens to an empty array and counts 0.
    return _densify_and_frames(
        daily,
        start,
        end,
        lambda w30: F.size(
            F.array_distinct(F.flatten(F.collect_list("types").over(w30)))
        ).cast("string"),
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
    ev = _events_by_lookback_day(events, start, end, user_col, ts_col, type_col)
    # The NULL-day group (events outside the lookback, type NULL) only
    # names its user: it gets no map, so its NULL type is never a key.
    daily = (
        ev.groupBy("user_id", "day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id", "day")
        .agg(
            F.sum("n").alias("n_events"),
            F.when(
                F.col("day").isNotNull(),
                F.map_from_entries(F.collect_list(F.struct("event_type", "n"))),
            ).alias("type_map"),
        )
    )
    # collect_list skips the nulls the grid rows contribute, so the fold
    # sees exactly the window's daily maps; additive map_zip_with
    # union-merges them (either side null for a type the other day lacks).
    def merged(w30: WindowSpec) -> Column:
        return F.aggregate(
            F.collect_list("type_map").over(w30),
            F.create_map().cast("map<string,bigint>"),
            lambda acc, m: F.map_zip_with(
                acc,
                m,
                lambda _k, a, b: F.coalesce(a, F.lit(0).cast("bigint"))
                + F.coalesce(b, F.lit(0).cast("bigint")),
            ),
        )

    return _densify_and_frames(daily, start, end, merged)
