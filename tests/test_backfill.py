"""Golden tests for the rolling backfill, ported from the reference's suite
(TestBackfillPipeline.scala via FIXTURES.md §5), run against BOTH physical
forms — the join form is the correctness oracle, the window form the scale
path; they must agree exactly (SURVEY.md §4.4)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mini_feature_store_spark.operators.rolling import (
    backfill_features_join_form,
    backfill_features_window_form,
)

FORMS = [backfill_features_join_form, backfill_features_window_form]


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, t, dt.datetime.fromisoformat(ts)) for u, t, ts in rows],
        "user_id string, event_type string, ts timestamp",
    )


def _rows(df):
    return {
        (r.user_id, r.day.isoformat()): (
            r.event_count_7d,
            r.event_count_30d,
            r.last_event_days_ago,
            r.event_type_counts,
        )
        for r in df.collect()
    }


@pytest.mark.parametrize("form", FORMS, ids=["join", "window"])
def test_dense_backfill_golden(spark, form):
    """FIXTURES.md §5.2 / TestBackfillPipeline.scala:40-81: 3 events over 5
    days → exactly 5 rows, 7d counts 1,1,2,2,3, recency 0,1,0,1,0."""
    events = _events(
        spark,
        [
            ("user1", "click", "2024-01-01 10:00:00"),
            ("user1", "purchase", "2024-01-03 14:30:00"),
            ("user1", "click", "2024-01-05 16:45:00"),
        ],
    )
    out = _rows(form(events, "2024-01-01", "2024-01-05"))
    assert len(out) == 5
    assert [out[("user1", f"2024-01-0{d}")][0] for d in range(1, 6)] == [1, 1, 2, 2, 3]
    assert [out[("user1", f"2024-01-0{d}")][2] for d in range(1, 6)] == [0, 1, 0, 1, 0]
    # distinct types: click only on day1-2; click+purchase from day 3
    assert [out[("user1", f"2024-01-0{d}")][3] for d in range(1, 6)] == [
        "1",
        "1",
        "2",
        "2",
        "2",
    ]


@pytest.mark.parametrize("form", FORMS, ids=["join", "window"])
def test_window_edges_golden(spark, form):
    """FIXTURES.md §5.3 / TestBackfillPipeline.scala:186-235: events on days
    1, 5, 8 over days 1-10. Day 8 → 7d=3 (day-1 event exactly 7 days ago is
    still IN — the inclusive 8-calendar-day edge); day 9 → 7d=2, 30d=3,
    recency=1; day 10 → 7d=2, 30d=3, recency=2."""
    events = _events(
        spark,
        [
            ("user1", "click", "2024-01-01 10:00:00"),
            ("user1", "view", "2024-01-05 11:00:00"),
            ("user1", "click", "2024-01-08 12:00:00"),
        ],
    )
    out = _rows(form(events, "2024-01-01", "2024-01-10"))
    assert len(out) == 10
    assert out[("user1", "2024-01-08")][:3] == (3, 3, 0)
    assert out[("user1", "2024-01-09")][:3] == (2, 3, 1)
    assert out[("user1", "2024-01-10")][:3] == (2, 3, 2)


@pytest.mark.parametrize("form", FORMS, ids=["join", "window"])
def test_multi_user_isolation(spark, form):
    """TestBackfillPipeline.scala:125-179: users never see each other's events;
    a user with zero events in range still gets dense zero rows."""
    events = _events(
        spark,
        [
            ("u1", "click", "2024-01-01 10:00:00"),
            ("u2", "view", "2024-01-02 10:00:00"),
            ("u2", "view", "2024-01-02 11:00:00"),
        ],
    )
    out = _rows(form(events, "2024-01-01", "2024-01-03"))
    assert len(out) == 6
    assert out[("u1", "2024-01-01")] == (1, 1, 0, "1")
    assert out[("u2", "2024-01-01")] == (0, 0, None, "0")
    assert out[("u2", "2024-01-02")] == (2, 2, 0, "1")
    assert out[("u1", "2024-01-03")] == (1, 1, 2, "1")


@pytest.mark.parametrize("form", FORMS, ids=["join", "window"])
def test_events_before_start_are_visible(spark, form):
    """An event 3 days before the backfill start must count toward early days'
    rolling windows (the reference reads the whole event log and bounds only
    via the 30-day join residual, BackfillPipeline.scala:124-131)."""
    events = _events(
        spark,
        [
            ("u1", "click", "2024-01-02 10:00:00"),
            ("u1", "view", "2024-01-06 10:00:00"),
        ],
    )
    out = _rows(form(events, "2024-01-05", "2024-01-07"))
    assert len(out) == 3
    assert out[("u1", "2024-01-05")] == (1, 1, 3, "1")
    assert out[("u1", "2024-01-06")] == (2, 2, 0, "2")
    assert out[("u1", "2024-01-07")] == (2, 2, 1, "2")


@pytest.mark.parametrize("form", FORMS, ids=["join", "window"])
def test_null_user_gets_zero_rows(spark, form):
    """A null user_id is one grid user whose events match nothing (the
    join form's equi join never matches null): one zero row per day, no
    duplicate day, and the other users' rows are untouched."""
    events = _events(
        spark,
        [
            ("a", "click", "2024-01-02 10:00:00"),
            (None, "view", "2024-01-02 11:00:00"),
            (None, "click", "2023-12-30 12:00:00"),
        ],
    )
    df = form(events, "2024-01-01", "2024-01-03")
    assert df.count() == 6
    out = _rows(df)
    for d in ("2024-01-01", "2024-01-02", "2024-01-03"):
        assert out[(None, d)] == (0, 0, None, "0")
    assert out[("a", "2024-01-01")] == (0, 0, None, "0")
    assert out[("a", "2024-01-02")] == (1, 1, 0, "1")
    assert out[("a", "2024-01-03")] == (1, 1, 1, "1")


def test_forms_agree_on_testdata(spark, sf_dir):
    """Property: join form ≡ window form on the real events table."""
    from mini_feature_store_spark.io import load_testdata

    events = load_testdata(spark, sf_dir, "events")["events"].withColumn(
        "user_id", F.col("user_id").cast("string")
    )
    a = backfill_features_join_form(events, "2024-01-01", "2024-01-30")
    b = backfill_features_window_form(events, "2024-01-01", "2024-01-30")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.count() == b.count()


def test_window_form_plan_build_runs_zero_jobs(spark):
    """Building the window-form plan must not trigger any Spark job
    (VERDICT r2 item 4): at 100 TB an eager probe is an extra full pass
    over the corpus before the real job even starts."""
    events = _events(
        spark,
        [
            ("user1", "click", "2024-01-01 10:00:00"),
            ("user1", "purchase", "2024-01-03 14:30:00"),
        ],
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = backfill_features_window_form(events, "2024-01-01", "2024-01-05")
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before, f"plan build triggered Spark jobs: {after - before}"
    # and the lazy plan still computes the golden result
    assert _rows(df)[("user1", "2024-01-03")] == (2, 2, 0, "2")


@pytest.mark.parametrize("form", FORMS, ids=["join", "window"])
def test_more_than_64_types_in_one_window(spark, form):
    """70 distinct types for one user inside one 30-day window count 70:
    the distinct-types count has no type ceiling."""
    events = _events(
        spark,
        [
            ("u1", f"type{i:02d}", f"2024-01-{1 + i % 10:02d} 10:00:00")
            for i in range(70)
        ],
    )
    out = _rows(form(events, "2024-01-10", "2024-01-10"))
    assert out == {("u1", "2024-01-10"): (56, 70, 0, "70")}


def test_typed_form_golden(spark):
    """Map-valued variant: per-type rolling 30d counts with the exact same
    grid/7d/30d/recency semantics; empty map (not null) on windowless
    days; repeated same-type events accumulate."""
    from mini_feature_store_spark.operators.rolling import (
        backfill_features_typed,
    )

    events = _events(
        spark,
        [
            ("u1", "click", "2024-01-02 10:00:00"),
            ("u1", "click", "2024-01-02 11:00:00"),
            ("u1", "purchase", "2024-01-03 09:00:00"),
            ("u2", "view", "2024-01-05 08:00:00"),
        ],
    )
    out = {
        (r.user_id, r.day.isoformat()): (
            r.event_count_7d,
            r.event_count_30d,
            r.last_event_days_ago,
            dict(r.event_type_counts),
        )
        for r in backfill_features_typed(
            events, "2024-01-01", "2024-01-06"
        ).collect()
    }
    assert len(out) == 12  # dense: 2 users x 6 days
    assert out[("u1", "2024-01-01")] == (0, 0, None, {})
    assert out[("u1", "2024-01-02")] == (2, 2, 0, {"click": 2})
    assert out[("u1", "2024-01-03")] == (3, 3, 0, {"click": 2, "purchase": 1})
    assert out[("u1", "2024-01-06")] == (3, 3, 3, {"click": 2, "purchase": 1})
    assert out[("u2", "2024-01-04")] == (0, 0, None, {})
    assert out[("u2", "2024-01-05")] == (1, 1, 0, {"view": 1})


def test_typed_form_agrees_with_string_contract(spark, sf_dir):
    """Property on the real events table: the typed map REFINES the string
    contract — size(map) = distinct-type count, sum(map values) =
    event_count_30d, and the shared columns are identical row-for-row."""
    from mini_feature_store_spark.io import load_testdata
    from mini_feature_store_spark.operators.rolling import (
        backfill_features_typed,
        backfill_features_window_form,
    )

    events = load_testdata(spark, sf_dir, "events")["events"].withColumn(
        "user_id", F.col("user_id").cast("string")
    )
    typed = backfill_features_typed(events, "2024-01-01", "2024-01-30")
    flat = typed.select(
        "user_id",
        "day",
        "event_count_7d",
        "event_count_30d",
        "last_event_days_ago",
        F.size("event_type_counts").cast("long").cast("string").alias(
            "event_type_counts"
        ),
        F.aggregate(
            F.map_values("event_type_counts"),
            F.lit(0).cast("bigint"),
            lambda a, b: a + b,
        ).alias("_sum_counts"),
    )
    bad = flat.where(F.col("_sum_counts") != F.col("event_count_30d"))
    assert bad.isEmpty()
    base = backfill_features_window_form(events, "2024-01-01", "2024-01-30")
    a, b = flat.drop("_sum_counts"), base
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


#: Users at the edges of the densify's NULL-day group: a null user, a
#: user whose only events fall before the 30-day lookback of 2024-01-05,
#: and a user whose only events fall after 2024-01-07.
_EDGE_EVENTS = [
    ("a", "click", "2024-01-02 10:00:00"),
    ("a", "view", "2024-01-06 10:00:00"),
    (None, "view", "2024-01-05 11:00:00"),
    (None, "click", "2023-12-01 12:00:00"),
    ("early", "click", "2023-11-20 08:00:00"),
    ("early", "view", "2023-12-05 23:59:59"),
    ("late", "click", "2024-01-08 00:00:00"),
    ("late", "view", "2024-02-01 00:00:00"),
]


def _sorted_rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_densify_matches_join_form_on_edge_users(spark):
    """The NULL-day group gives every user its grid, including a null
    user and users with no event in [start - 30, end]; each reads zero
    rows, as in the join form."""
    events = _events(spark, _EDGE_EVENTS)
    got = _sorted_rows(
        backfill_features_window_form(events, "2024-01-05", "2024-01-07")
    )
    assert got == _sorted_rows(
        backfill_features_join_form(events, "2024-01-05", "2024-01-07")
    )
    out = {(r[0], r[1].isoformat()): r[2:] for r in got}
    assert len(out) == 4 * 3
    for user in (None, "early", "late"):
        for d in ("2024-01-05", "2024-01-06", "2024-01-07"):
            assert out[(user, d)] == (0, 0, None, "0")
    assert out[("a", "2024-01-06")] == (2, 2, 0, "2")


def test_refresh_refilling_a_hole_matches_join_form(spark, tmp_path):
    """A refresh over a table with a hole computes the hole and the new
    day from one densify, and the table equals the join form's rows."""
    from mini_feature_store_spark.io.tables import VersionedTable
    from mini_feature_store_spark.pipelines import (
        BackfillConfig,
        run_backfill_incremental,
    )

    path = str(tmp_path / "events")
    _events(spark, _EDGE_EVENTS).write.parquet(path)
    table = str(tmp_path / "features")
    for lo, hi in (("2024-01-05", "2024-01-05"), ("2024-01-07", "2024-01-07")):
        run_backfill_incremental(spark, BackfillConfig(path, table, lo, hi))
    cfg = BackfillConfig(path, table, "2024-01-05", "2024-01-08")
    assert run_backfill_incremental(spark, cfg) == ["2024-01-06", "2024-01-08"]
    expected = backfill_features_join_form(
        spark.read.parquet(path), "2024-01-05", "2024-01-08"
    )
    got = VersionedTable(table).read(spark).select(*expected.columns)
    assert _sorted_rows(got) == _sorted_rows(expected)


@pytest.mark.parametrize(
    "partitions, aqe", [("1", "true"), ("7", "true"), ("4", "false")]
)
def test_window_views_invariant_to_shuffle_width_and_aqe(
    spark, sf_dir, partitions, aqe
):
    """Both window-form views equal the join form (the typed view through
    its map invariants) whatever the shuffle width, with AQE on or off."""
    from mini_feature_store_spark.io import load_testdata
    from mini_feature_store_spark.operators.rolling import (
        backfill_features_typed,
    )

    events = (
        load_testdata(spark, sf_dir, "events")["events"]
        .select(F.col("user_id").cast("string").alias("user_id"), "event_type", "ts")
        .unionByName(_events(spark, _EDGE_EVENTS))
    )
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    prev = [spark.conf.get(k) for k in keys]
    try:
        for k, v in zip(keys, (partitions, aqe)):
            spark.conf.set(k, v)
        oracle = _sorted_rows(
            backfill_features_join_form(events, "2024-01-05", "2024-01-20")
        )
        window = backfill_features_window_form(events, "2024-01-05", "2024-01-20")
        assert _sorted_rows(window) == oracle
        typed = backfill_features_typed(events, "2024-01-05", "2024-01-20")
        counts = F.map_values("event_type_counts")
        flat = typed.select(
            "user_id",
            "day",
            "event_count_7d",
            "event_count_30d",
            "last_event_days_ago",
            F.size("event_type_counts").cast("string").alias("event_type_counts"),
            F.aggregate(counts, F.lit(0).cast("bigint"), lambda a, b: a + b).alias(
                "_sum"
            ),
        )
        assert flat.where(F.col("_sum") != F.col("event_count_30d")).isEmpty()
        assert _sorted_rows(flat.drop("_sum")) == oracle
    finally:
        for k, v in zip(keys, prev):
            spark.conf.set(k, v)
