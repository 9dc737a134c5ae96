"""Leakage-safe point-in-time (as-of) join — the reference's signature operator.

Semantics (``pipelines/PointInTimeJoinPipeline.scala:103-122``, doc :9-50):
for each label row (keys, as_of_ts), attach the single most recent feature row
with ``feature_ts <= date(as_of_ts)``. Strictly-future features must never
leak (golden contract: TestPointInTimeJoin.scala:48-99 — a label at
``2024-01-02 12:00`` picks day 2's features, never day 3's).

One physical form, in ``asof_join``: an equi-join on the keys with the
temporal predicate as residual, then one ``max_by(struct(features), ts)``
aggregate per label row, and no window. The aggregate groups by the label
row, whose columns include the join keys, so after a sort-merge join it
needs no shuffle of its own. ``point_in_time_join`` is its date-grain
front.

Scale controls:
- ``lookback_days`` is a per-label staleness TTL: a label only matches
  features with ``feature_ts >= as_of_date - lookback_days`` (a label
  whose latest feature is older than the TTL gets null). The same bound,
  anchored at the global [min, max] as-of range, is also applied as a
  pre-filter on the feature scan — at 100 TB this is the difference between
  scanning a month and scanning the whole history (partition-prunes on
  ``feature_ts`` when the store is partitioned by it, SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TOL_UNITS_US = {
    "second": 1_000_000, "seconds": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "day": 86_400_000_000, "days": 86_400_000_000,
}


def _tolerance_us(tolerance: str) -> int:
    qty, unit = tolerance.split()
    return int(qty) * _TOL_UNITS_US[unit.lower()]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str] | tuple[str, ...],
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    tolerance: str | None = None,
    how: str = "left",
    tie_breakers: list[str] | tuple[str, ...] = (),
    salt: int = 0,
) -> DataFrame:
    """Generalized as-of join at full timestamp precision (pandas
    ``merge_asof`` surface, distributed).

    ``salt > 0`` splits celebrity keys across ``salt`` shuffle partitions:
    right rows get a uniform salt, left rows are replicated per salt
    value, the join key gains the salt, and the per-left-row min_by/max_by
    collapse (which spans all of a row's salt copies) recovers the same
    single pick — needed under ``how='left'``, where AQE may not split the
    non-preserved side. A salted ``how='inner'`` joins left and filters
    after the collapse (a copy with no match may not be the copy that
    matches); unsalted, it joins inner, which keeps AQE's skew split.

    For each left row pick ONE right row per the direction:

    - ``backward`` — latest right with ``right_ts <= left_ts`` (the
      reference's only temporal semantics, PointInTimeJoinPipeline.scala:
      103-122, generalized from date- to timestamp-grain);
    - ``forward`` — earliest right with ``right_ts >= left_ts`` (absent in
      the reference; needed for next-touch attribution);
    - ``nearest`` — smallest ``|right_ts - left_ts|``; ties go to the
      backward (earlier) candidate.

    ``tolerance`` (e.g. ``'7 days'``) bounds the search radius — at scale
    this is what keeps the range join's per-key fan-out finite and lets the
    optimizer partition-prune the right side. ``tie_breakers`` are right-side
    columns appended to the pick ordering so equal-timestamp candidates
    resolve deterministically.

    Physical form: equi-join on ``keys`` (hash/SMJ — never a nested loop)
    with the direction+tolerance predicate as residual, collapsed by a single
    ``min_by/max_by`` aggregate keyed by the left row — the left row carries
    the keys, so after a sort-merge join the collapse reuses its
    partitioning; no window.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"bad direction: {direction!r}")
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    keys = list(keys)
    value_cols = [c for c in right.columns if c not in keys and c != right_ts]
    out_cols = left.columns + [right_ts] + value_cols

    if salt < 0:
        raise ValueError(f"salt must be >= 0, got {salt}")
    # Unique row id so exact-duplicate left rows each keep their own match
    # (grouping by the visible columns alone would collapse them and break
    # left-join row preservation).
    left = left.withColumn("_asof_row_id", F.monotonically_increasing_id())
    if salt > 0:
        left = left.withColumn(
            "_asof_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        right = right.withColumn(
            "_asof_salt", F.floor(F.rand(42) * salt).cast("int")
        )

    l_ts, r_ts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    diff_us = F.unix_micros(r_ts) - F.unix_micros(l_ts)
    if direction == "backward":
        pred: Column = r_ts <= l_ts
        if tolerance is not None:
            pred &= diff_us >= -_tolerance_us(tolerance)
    elif direction == "forward":
        pred = r_ts >= l_ts
        if tolerance is not None:
            pred &= diff_us <= _tolerance_us(tolerance)
    else:
        tol = _tolerance_us(tolerance) if tolerance is not None else None
        pred = F.lit(True) if tol is None else F.abs(diff_us) <= F.lit(tol)

    cond = pred
    for k in keys:
        cond &= F.col(f"l.{k}") == F.col(f"r.{k}")
    if salt > 0:
        cond &= F.col("l._asof_salt") == F.col("r._asof_salt")
    join_how = "left" if salt > 0 else how
    joined = left.alias("l").join(right.alias("r"), cond, join_how)

    # Ordering key for the pick: direction-appropriate distance, then
    # tie-breakers. min_by/max_by over a struct orders lexicographically.
    if direction == "nearest":
        # (|Δ|, sign) — backward candidate (Δ<0 → sign 0) wins exact ties.
        order = F.struct(
            F.abs(diff_us).alias("d"),
            F.when(diff_us <= 0, F.lit(0)).otherwise(F.lit(1)).alias("s"),
            *[F.col(f"r.{c}").alias(c) for c in tie_breakers],
        )
        picker = F.min_by
    else:
        # forward wants the min timestamp, backward the max (tie-breakers
        # need no negation: the order over the struct is already total).
        # Without tie-breakers the bare timestamp orders like its one-field
        # struct and keeps the aggregate's comparison on a primitive.
        order = (
            F.struct(
                r_ts.alias("t"),
                *[F.col(f"r.{c}").alias(c) for c in tie_breakers],
            )
            if tie_breakers
            else r_ts
        )
        picker = F.min_by if direction == "forward" else F.max_by
    # Null-candidate rows (left-join padding — including salt copies whose
    # slice held no match) must LOSE the pick: a struct with null FIELDS is
    # itself non-null and sorts nulls-first, so under min_by (forward /
    # nearest) it would beat every real candidate. Nulling the whole order
    # struct instead makes min_by/max_by skip the row (null orderings are
    # ignored; an all-null group yields null — exactly left-join padding).
    order = F.when(r_ts.isNotNull(), order)
    payload = F.when(
        r_ts.isNotNull(),
        F.struct(*[F.col(f"r.{c}").alias(c) for c in [right_ts] + value_cols]),
    )
    # Group keys must EXCLUDE the salt: a left row's salt copies share the
    # row id and collapse back into the one output row.
    group_cols = [c for c in left.columns if c != "_asof_salt"]
    out = (
        joined.groupBy(*[F.col(f"l.{c}").alias(c) for c in group_cols])
        .agg(picker(payload, order).alias("_r"))
        .select(
            *[c for c in group_cols if c != "_asof_row_id"],
            *[F.col(f"_r.{c}").alias(c) for c in [right_ts] + value_cols],
        )
    )
    if how != join_how:
        out = out.where(F.col(right_ts).isNotNull())
    return out.select(*out_cols)


def point_in_time_join(
    labels: DataFrame,
    features: DataFrame,
    keys: list[str] | tuple[str, ...] = ("user_id",),
    label_ts: str = "as_of_ts",
    feature_ts: str = "day",
    how: str = "left",
    lookback_days: int | None = None,
    salt: int = 0,
) -> DataFrame:
    """labels ⟕ latest feature row per (keys, as_of) with feature_ts <= date(as_of).

    Output columns: all label columns, then ``feature_ts``, then the remaining
    feature columns (reference projection, PointInTimeJoinPipeline.scala:125-135).
    ``how='inner'`` drops labels with no qualifying features instead of
    emitting nulls.

    The date-grain front of ``asof_join(direction='backward')``: the pick
    runs against ``to_date(label_ts)``, so a label at 12:00 sees that
    day's snapshot. ``lookback_days`` is applied to the PICKED row —
    nulled (``left``) or dropped (``inner``) when older than
    ``as_of_date - lookback_days`` — which equals a TTL in the join
    condition, since the latest candidate is stale exactly when no
    candidate lies inside the window. It stays a calendar-day comparison
    on dates, never ``asof_join``'s micro-second ``tolerance``: in a
    non-UTC session a day across a DST change is not 86,400 s.

    Celebrity-key skew (``salt``): the join shuffles both sides by ``keys``,
    so one hot key (a celebrity user holding 10% of feature rows) makes one
    partition the job's straggler. Under ``how='inner'`` AQE's skew-join
    split handles this (OptimizeSkewedJoin may split either side of an
    inner SMJ — pinned firing in tests/test_skew.py); under ``how='left'``
    AQE must NOT split the features (build) side — splitting the
    non-preserved side of an outer join would emit one null-padded row per
    split for unmatched labels — so the planner leaves the hot partition
    intact. ``salt > 0`` is the explicit fallback for that case (see
    ``asof_join``), result-identical to ``salt=0`` for both ``how``s
    (pinned in tests/test_skew.py). Cost: a ``salt``× narrow replication
    of the (small) label side.
    """
    lab = labels.withColumn("_as_of_date", F.to_date(F.col(label_ts)))
    feat = features
    if lookback_days is not None:
        # Scan pre-filter: anchored at the labels' global as-of range, a
        # superset of every per-label TTL window; two scalar aggregates
        # (cheap) and the filter partition-prunes the feature store.
        lo, hi = lab.select(
            F.min("_as_of_date"), F.max("_as_of_date")
        ).first()
        if lo is not None:
            feat = feat.where(
                (F.col(feature_ts) >= F.date_sub(F.lit(lo), lookback_days))
                & (F.col(feature_ts) <= F.lit(hi))
            )
    out = asof_join(
        lab, feat, keys, "_as_of_date", feature_ts,
        how=how, salt=salt,
    )
    if lookback_days is not None:
        fresh = F.col(feature_ts) >= F.date_sub(
            F.col("_as_of_date"), lookback_days
        )
        if how == "inner":
            out = out.where(fresh)
        else:
            picked = [c for c in features.columns if c not in keys]
            out = out.select(
                *[
                    F.when(fresh, F.col(c)).alias(c) if c in picked else c
                    for c in out.columns
                ]
            )
    return out.drop("_as_of_date")


def point_in_time_join_multi(
    labels: DataFrame,
    groups: list[dict],
    keys: list[str] | tuple[str, ...] = ("user_id",),
    label_ts: str = "as_of_ts",
    how: str = "left",
) -> DataFrame:
    """Labels as-of joined against MULTIPLE feature groups — the
    feature-store training-set assembly call (each group is a feature
    view at its own time grain; think Feast's get_historical_features).

    ``groups``: list of ``{"features": df, "feature_ts": str,
    "prefix": str | None, "lookback_days": int | None}``. Groups fold
    left-to-right: each as-of pick is per ORIGINAL label row (label rows
    stay unique through the fold), so the result is identical to N
    independent as-of joins stitched on the label key — but runs as one
    plan. ``prefix`` renames a group's non-key columns — INCLUDING its
    ``feature_ts`` — before the join, so two views sharing a ts name
    (or a view whose ts collides with an earlier group's output) fold
    cleanly as long as the colliding group carries a prefix.

    Cost model: one shuffle per group on ``keys`` (inherent — each group
    has its own rows to co-locate); the label side re-shuffles with its
    accumulated features. For many wide groups prefer ordering them
    smallest-first so the widest accumulated row shuffles fewest times.
    """
    out = labels
    for g in groups:
        feats = g["features"]
        ts_col = g["feature_ts"]
        prefix = g.get("prefix")
        if prefix:
            # rename BEFORE the join (ts included): renaming the ts only
            # afterwards leaves the join's output momentarily carrying
            # the unprefixed name, which is ambiguous as soon as an
            # earlier group (or the labels) already has it
            feats = feats.select(
                *[
                    F.col(c).alias(c if c in keys else f"{prefix}{c}")
                    for c in feats.columns
                ]
            )
            ts_col = f"{prefix}{ts_col}"
        out = point_in_time_join(
            out,
            feats,
            keys=keys,
            label_ts=label_ts,
            feature_ts=ts_col,
            how=how,
            lookback_days=g.get("lookback_days"),
        )
    return out
