"""Golden tests for the point-in-time join, ported from the reference's
TestPointInTimeJoin.scala via FIXTURES.md §5.

The goldens run against two implementations: the operator (``max_by``,
its single hash-aggregate plan) and ``_row_number_pit`` (``window``), an
inline transcription of the reference's own plan — range join plus
``row_number`` over the label row. The goldens pin the reference, so the
real-data property test can use it as the operator's oracle."""

from __future__ import annotations

import datetime as dt
from contextlib import contextmanager

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mini_feature_store_spark.operators.point_in_time import point_in_time_join


def _row_number_pit(labels, features, how="left", lookback_days=None):
    """PointInTimeJoinPipeline.scala:103-122 as written: left range join on
    (user_id, day <= date(as_of_ts)), keep row_number() == 1 per label row
    ordered by day desc. ``lookback_days`` is a TTL in the join condition."""
    lab = labels.withColumn(
        "_d", F.to_date("as_of_ts")
    ).withColumn("_id", F.monotonically_increasing_id())
    cond = (F.col("l.user_id") == F.col("f.user_id")) & (
        F.col("f.day") <= F.col("l._d")
    )
    if lookback_days is not None:
        cond &= F.col("f.day") >= F.date_sub(F.col("l._d"), lookback_days)
    w = Window.partitionBy(F.col("l._id")).orderBy(F.col("f.day").desc())
    value_cols = [c for c in features.columns if c != "user_id"]
    return (
        lab.alias("l")
        .join(features.alias("f"), cond, how)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            *[F.col(f"l.{c}") for c in labels.columns],
            *[F.col(f"f.{c}") for c in value_cols],
        )
    )


JOINS = {"max_by": point_in_time_join, "window": _row_number_pit}


def _features(spark, rows):
    return spark.createDataFrame(
        [
            (u, dt.date.fromisoformat(d), c7, c30, rec, tc)
            for u, d, c7, c30, rec, tc in rows
        ],
        "user_id string, day date, event_count_7d long, event_count_30d long,"
        " last_event_days_ago int, event_type_counts string",
    )


def _labels(spark, rows):
    return spark.createDataFrame(
        [(u, lb, dt.datetime.fromisoformat(ts)) for u, lb, ts in rows],
        "user_id string, label double, as_of_ts timestamp",
    )


@pytest.mark.parametrize("join", JOINS)
def test_no_leakage(spark, join):
    """FIXTURES.md §5.1 / TestPointInTimeJoin.scala:48-99: label at
    2024-01-02 12:00 with features for days 1..3 picks day 2 (7d=2) — NEVER
    day 3."""
    features = _features(
        spark,
        [
            ("user1", "2024-01-01", 1, 1, 0, "1"),
            ("user1", "2024-01-02", 2, 2, 0, "2"),
            ("user1", "2024-01-03", 3, 3, 0, "3"),
        ],
    )
    labels = _labels(spark, [("user1", 1.0, "2024-01-02 12:00:00")])
    out = JOINS[join](labels, features).collect()
    assert len(out) == 1
    row = out[0]
    assert row.day == dt.date(2024, 1, 2)
    assert row.event_count_7d == 2
    assert row.label == 1.0


@pytest.mark.parametrize("join", JOINS)
def test_per_user_independence(spark, join):
    """TestPointInTimeJoin.scala:107-193: each (user, as_of) picks its own
    latest snapshot; a user with no features ≤ as-of gets nulls (left)."""
    features = _features(
        spark,
        [
            ("u1", "2024-01-01", 1, 1, 0, "1"),
            ("u1", "2024-01-03", 3, 3, 0, "2"),
            ("u2", "2024-01-02", 5, 5, 0, "1"),
        ],
    )
    labels = _labels(
        spark,
        [
            ("u1", 1.0, "2024-01-02 12:00:00"),
            ("u1", 0.0, "2024-01-04 09:00:00"),
            ("u2", 1.0, "2024-01-01 08:00:00"),  # before any u2 feature
        ],
    )
    out = {
        (r.user_id, r.as_of_ts.isoformat()): r
        for r in JOINS[join](labels, features).collect()
    }
    assert len(out) == 3
    assert out[("u1", "2024-01-02T12:00:00")].day == dt.date(2024, 1, 1)
    assert out[("u1", "2024-01-04T09:00:00")].day == dt.date(2024, 1, 3)
    assert out[("u2", "2024-01-01T08:00:00")].day is None
    assert out[("u2", "2024-01-01T08:00:00")].event_count_7d is None


@pytest.mark.parametrize("join", JOINS)
def test_same_day_feature_is_eligible(spark, join):
    """as_of at 12:00 may use that day's snapshot (date-truncation semantics,
    PointInTimeJoinPipeline.scala:95: feature_date <= to_date(as_of_ts))."""
    features = _features(spark, [("u1", "2024-01-02", 2, 2, 0, "1")])
    labels = _labels(spark, [("u1", 1.0, "2024-01-02 00:00:01")])
    out = JOINS[join](labels, features).collect()
    assert out[0].day == dt.date(2024, 1, 2)


@pytest.mark.parametrize("join", JOINS)
def test_inner_drops_unmatched(spark, join):
    features = _features(spark, [("u1", "2024-01-02", 2, 2, 0, "1")])
    labels = _labels(
        spark,
        [("u1", 1.0, "2024-01-03 00:00:00"), ("u9", 0.0, "2024-01-03 00:00:00")],
    )
    out = JOINS[join](labels, features, how="inner")
    assert [r.user_id for r in out.collect()] == ["u1"]


def test_strategies_agree_and_leakage_property(spark, sf_dir):
    """Property on real data: the operator ≡ the row_number reference plan,
    and ∀ rows day <= date(as_of_ts) (the §5.4 property-based leakage
    check)."""
    from mini_feature_store_spark.io import load_testdata

    events = load_testdata(spark, sf_dir, "events")["events"]
    features = (
        events.groupBy(
            F.col("user_id").cast("string").alias("user_id"),
            F.to_date("ts").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    labels = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").cast("string").alias("user_id"),
            F.lit(1.0).alias("label"),
            F.col("ts").alias("as_of_ts"),
        )
        .limit(200)
    )
    a = point_in_time_join(labels, features)
    b = _row_number_pit(labels, features)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    leaked = a.where(F.col("day") > F.to_date("as_of_ts")).count()
    assert leaked == 0


@pytest.mark.parametrize("join", JOINS)
def test_duplicate_label_rows_each_preserved(spark, join):
    """ADVICE r1: left-join row preservation under duplicates. Two labels
    sharing (keys, as_of_ts) but differing in label value, plus an exact
    full-row duplicate pair, must yield 4 output rows — not collapse."""
    features = _features(spark, [("u1", "2024-01-01", 1, 1, 0, "1")])
    labels = _labels(
        spark,
        [
            ("u1", 1.0, "2024-01-02 12:00:00"),
            ("u1", 0.0, "2024-01-02 12:00:00"),  # same keys+ts, diff label
            ("u1", 1.0, "2024-01-03 12:00:00"),
            ("u1", 1.0, "2024-01-03 12:00:00"),  # exact full-row duplicate
        ],
    )
    out = JOINS[join](labels, features).collect()
    assert len(out) == 4
    assert sorted(r.label for r in out) == [0.0, 1.0, 1.0, 1.0]
    assert all(r.day == dt.date(2024, 1, 1) for r in out)


@pytest.mark.parametrize("join", JOINS)
def test_lookback_is_per_label_ttl(spark, join):
    """ADVICE r1: lookback_days is a per-label staleness TTL. A label whose
    only feature predates (as_of − lookback) gets null — including when the
    feature survives the global pre-filter because a LATER label anchors the
    global window."""
    features = _features(spark, [("u1", "2024-01-01", 1, 1, 0, "1")])
    labels = _labels(
        spark,
        [
            ("u1", 1.0, "2024-03-01 12:00:00"),  # feature 60d stale → null
            ("u1", 0.0, "2024-01-05 12:00:00"),  # feature 4d old → matches
        ],
    )
    out = {
        r.label: r
        for r in JOINS[join](labels, features, lookback_days=30).collect()
    }
    assert len(out) == 2
    assert out[1.0].day is None
    assert out[0.0].day == dt.date(2024, 1, 1)


@pytest.mark.parametrize("join", JOINS)
def test_lookback_prefilter_preserves_results(spark, join):
    features = _features(
        spark,
        [
            ("u1", "2023-11-01", 9, 9, 0, "9"),  # stale, superseded
            ("u1", "2024-01-01", 1, 1, 0, "1"),
        ],
    )
    labels = _labels(spark, [("u1", 1.0, "2024-01-02 12:00:00")])
    out = JOINS[join](labels, features, lookback_days=30).collect()
    assert out[0].day == dt.date(2024, 1, 1)


def test_multi_group_fold_equals_independent_joins(spark):
    """point_in_time_join_multi must equal N independent as-of joins
    stitched on the label key — the fold cannot let group 1's columns
    perturb group 2's pick (label rows stay unique through the fold)."""
    from pyspark.sql import functions as F

    from mini_feature_store_spark.operators.point_in_time import (
        point_in_time_join,
        point_in_time_join_multi,
    )

    labels = spark.createDataFrame(
        [
            (1, "2024-01-10 12:00:00"),
            (1, "2024-01-20 12:00:00"),
            (2, "2024-01-15 12:00:00"),
        ],
        "user_id long, as_of string",
    ).select("user_id", F.col("as_of").cast("timestamp").alias("as_of_ts"))
    g1 = spark.createDataFrame(
        [(1, "2024-01-05", 10.0), (1, "2024-01-15", 20.0), (2, "2024-01-01", 5.0)],
        "user_id long, day string, f1 double",
    ).select("user_id", F.col("day").cast("date").alias("day"), "f1")
    g2 = spark.createDataFrame(
        [(1, "2024-01-08", 7), (2, "2024-01-20", 9)],
        "user_id long, wk string, f2 long",
    ).select("user_id", F.col("wk").cast("date").alias("wk"), "f2")

    multi = point_in_time_join_multi(
        labels,
        [
            {"features": g1, "feature_ts": "day"},
            {"features": g2, "feature_ts": "wk"},
        ],
    ).collect()

    a = point_in_time_join(labels, g1, feature_ts="day")
    b = point_in_time_join(labels, g2, feature_ts="wk")
    stitched = {
        (r.user_id, r.as_of_ts): r.asDict() for r in a.join(
            b, ["user_id", "as_of_ts"]
        ).collect()
    }
    assert len(multi) == 3
    for r in multi:
        want = stitched[(r.user_id, r.as_of_ts)]
        assert r.asDict() == want
    # leakage: every picked ts <= as_of date
    for r in multi:
        if r.day is not None:
            assert r.day <= r.as_of_ts.date()
        if r.wk is not None:
            assert r.wk <= r.as_of_ts.date()


def test_multi_group_prefix_avoids_collisions(spark):
    from pyspark.sql import functions as F

    from mini_feature_store_spark.operators.point_in_time import (
        point_in_time_join_multi,
    )

    labels = spark.createDataFrame(
        [(1, "2024-01-10 12:00:00")], "user_id long, as_of string"
    ).select("user_id", F.col("as_of").cast("timestamp").alias("as_of_ts"))
    mk = lambda v: spark.createDataFrame(
        [(1, "2024-01-05", v)], "user_id long, day string, score double"
    ).select("user_id", F.col("day").cast("date").alias("day"), "score")

    out = point_in_time_join_multi(
        labels,
        [
            {"features": mk(1.0), "feature_ts": "day", "prefix": "a_"},
            {"features": mk(2.0), "feature_ts": "day", "prefix": "b_"},
        ],
    )
    row = out.collect()[0]
    assert row.a_score == 1.0 and row.b_score == 2.0
    assert "a_day" in out.columns and "b_day" in out.columns


def test_multi_group_mixed_prefix_shared_ts_name(spark):
    """One unprefixed view plus a prefixed view with the SAME ts name must
    fold without ambiguity (the prefix covers the ts column too)."""
    from pyspark.sql import functions as F

    from mini_feature_store_spark.operators.point_in_time import (
        point_in_time_join_multi,
    )

    labels = spark.createDataFrame(
        [(1, "2024-01-10 12:00:00")], "user_id long, as_of string"
    ).select("user_id", F.col("as_of").cast("timestamp").alias("as_of_ts"))
    g1 = spark.createDataFrame(
        [(1, "2024-01-05", 1.0)], "user_id long, day string, f1 double"
    ).select("user_id", F.col("day").cast("date").alias("day"), "f1")
    g2 = spark.createDataFrame(
        [(1, "2024-01-08", 2.0)], "user_id long, day string, f2 double"
    ).select("user_id", F.col("day").cast("date").alias("day"), "f2")

    out = point_in_time_join_multi(
        labels,
        [
            {"features": g1, "feature_ts": "day"},
            {"features": g2, "feature_ts": "day", "prefix": "b_"},
        ],
    )
    row = out.collect()[0]
    assert row.f1 == 1.0 and row.b_f2 == 2.0
    assert str(row.day) == "2024-01-05" and str(row.b_day) == "2024-01-08"


@contextmanager
def _session_tz(spark, tz):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_lookback_ttl_is_calendar_days_across_dst(spark):
    """lookback_days counts calendar days, whatever the session time zone.
    America/New_York leaves DST on 2024-11-03, so 2024-10-28 → 2024-11-04
    is 7 days but 608,400 s: a micro-second tolerance of 7 × 86,400 s
    would drop the 7-day-old feature."""
    with _session_tz(spark, "America/New_York"):
        features = _features(
            spark,
            [
                ("u7", "2024-10-28", 7, 7, 0, "7"),  # exactly 7 days old
                ("u8", "2024-10-27", 8, 8, 0, "8"),  # 8 days old
            ],
        )
        labels = spark.createDataFrame(
            [("u7", 1.0), ("u8", 0.0)], "user_id string, label double"
        ).withColumn("as_of_ts", F.lit("2024-11-04 12:00:00").cast("timestamp"))
        left = {
            r.user_id: r.day
            for r in point_in_time_join(
                labels, features, lookback_days=7
            ).collect()
        }
        inner = point_in_time_join(
            labels, features, how="inner", lookback_days=7
        ).collect()
    assert left == {"u7": dt.date(2024, 10, 28), "u8": None}
    assert [r.user_id for r in inner] == ["u7"]
