"""Golden tests for the behavioral/feature-prep operator tier (round 2):
funnel, gap-fill/forward-fill, SCD2 intervals, cohort retention, blocked
fuzzy matching, feature scaling, TF-IDF."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mini_feature_store_spark.operators.funnel import (
    funnel_summary,
    funnel_user_steps,
)
from mini_feature_store_spark.operators.fuzzy import blocked_edit_distance_pairs
from mini_feature_store_spark.operators.retention import cohort_retention
from mini_feature_store_spark.operators.scaling import scale_features
from mini_feature_store_spark.operators.timeseries import (
    gap_fill_forward,
    scd_intervals,
)


def _ev(spark, rows):
    """rows: (user, type, seconds-offset)"""
    return spark.createDataFrame(
        [
            (u, t, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s))
            for u, t, s in rows
        ],
        "user_id string, event_type string, ts timestamp",
    )


# ── funnel ──────────────────────────────────────────────────────────────────


def test_funnel_strict_sequence(spark):
    # u1 completes in order; u2's click PRECEDES its first view → click
    # must not count (strict sequence), so u2 stalls at 'view'.
    df = _ev(
        spark,
        [
            ("u1", "view", 0),
            ("u1", "click", 10),
            ("u1", "purchase", 20),
            ("u2", "click", 0),
            ("u2", "view", 10),
            ("u2", "purchase", 5),  # also before the view → must not count
        ],
    )
    rows = {
        r.step: r
        for r in funnel_summary(df, ["view", "click", "purchase"]).collect()
    }
    assert rows["view"].n_users == 2
    assert rows["click"].n_users == 1
    assert rows["purchase"].n_users == 1
    assert rows["click"].pct_of_first == 0.5
    assert rows["purchase"].pct_of_prev == 1.0


def test_funnel_equal_timestamp_counts(spark):
    # Same-instant next step counts (>= semantics, like same-day PIT match).
    df = _ev(spark, [("u", "view", 0), ("u", "click", 0)])
    [row] = funnel_user_steps(df, ["view", "click"]).collect()
    assert row.step0_ts == row.step1_ts


def test_funnel_never_reached_propagates_null(spark):
    df = _ev(spark, [("u", "click", 0), ("u", "purchase", 10)])
    [row] = funnel_user_steps(df, ["view", "click", "purchase"]).collect()
    assert row.step0_ts is None and row.step1_ts is None and row.step2_ts is None


# ── gap fill / forward fill ─────────────────────────────────────────────────


def test_gap_fill_forward_carries_and_ages(spark):
    daily = spark.createDataFrame(
        [
            ("u", dt.date(2024, 1, 2), 10.0),
            ("u", dt.date(2024, 1, 4), 20.0),
        ],
        "user_id string, day date, v double",
    )
    out = {
        r.day.day: r
        for r in gap_fill_forward(
            daily, ["user_id"], "day", ["v"], "2024-01-01", "2024-01-05"
        ).collect()
    }
    assert len(out) == 5
    assert out[1].v is None and out[1].v_age_days is None  # before first obs
    assert out[2].v == 10.0 and out[2].v_age_days == 0
    assert out[3].v == 10.0 and out[3].v_age_days == 1  # carried forward
    assert out[4].v == 20.0 and out[4].v_age_days == 0  # new observation wins
    assert out[5].v == 20.0 and out[5].v_age_days == 1


def test_scd_intervals_lead_and_current(spark):
    df = _ev(spark, [("u", "x", 0), ("u", "x", 100), ("v", "x", 50)])
    out = scd_intervals(df, ["user_id"], "ts").orderBy("user_id", "ts").collect()
    u0, u1, v0 = out
    assert u0.valid_to == u1.valid_from and not u0.is_current
    assert u1.valid_to is None and u1.is_current
    assert v0.is_current


# ── cohort retention ────────────────────────────────────────────────────────


def test_cohort_retention_offsets(spark):
    # Mondays: 2024-01-01 and 2024-01-08. u1 active both weeks, u2 only
    # the first, u3 cohorts in week 2.
    day = 86400
    df = _ev(
        spark,
        [
            ("u1", "e", 0),
            ("u1", "e", 7 * day),
            ("u2", "e", day),
            ("u3", "e", 8 * day),
        ],
    )
    out = {
        (r.cohort_week.isoformat(), r.week_offset): r
        for r in cohort_retention(df, period="week").collect()
    }
    w1 = out[("2024-01-01", 0)]
    assert w1.n_active == 2 and w1.cohort_size == 2 and w1.retention_rate == 1.0
    w1o1 = out[("2024-01-01", 1)]
    assert w1o1.n_active == 1 and w1o1.retention_rate == 0.5
    w2 = out[("2024-01-08", 0)]
    assert w2.n_active == 1 and w2.cohort_size == 1
    assert len(out) == 3


def test_cohort_retention_excludes_null_users(spark):
    # A NULL-user event has no user to cohort: it counts in neither
    # n_active nor cohort_size, so offset 0 keeps n_active = cohort_size.
    df = _ev(spark, [("u1", "e", 0), ("u2", "e", 3600), (None, "e", 7200)])
    [row] = cohort_retention(df, period="week").collect()
    assert row.cohort_week == dt.date(2024, 1, 1) and row.week_offset == 0
    assert row.n_active == 2 and row.cohort_size == 2
    assert row.retention_rate == 1.0


#: (user_id, seconds after Monday 2024-01-01 or None) edge events: ``gap``
#: is active in weeks 0 and 3 only, ``nots`` has no timestamp at all,
#: ``part`` has one timestamp and one NULL, and one event has no user.
_EDGE_RETENTION = [
    (900, 0), (900, 22 * 86400),
    (901, None), (901, None),
    (902, 3 * 86400), (902, None),
    (None, 86400),
]


def _retention_events(tmp_path):
    """Writes ``events.parquet`` (the testdata schema) with 40 users over
    five weeks plus the edge events; returns its (user_id, ts) pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1)
    pairs = [
        (u, base + dt.timedelta(seconds=(u * 7919 + k * 86400 * (1 + u % 9)) % (35 * 86400)))
        for u in range(40)
        for k in range(1 + u % 5)
    ] + [
        (u, None if s is None else base + dt.timedelta(seconds=s))
        for u, s in _EDGE_RETENTION
    ]
    n = len(pairs)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([t for _, t in pairs], pa.timestamp("us")),
                "user_id": pa.array([u for u, _ in pairs], pa.int64()),
                "event_type": pa.array(["view"] * n),
                "value": pa.array([1.0] * n),
                "props": pa.array(["{}"] * n),
            }
        ),
        tmp_path / "events.parquet",
    )
    return pairs


def _retention_reference(pairs, period):
    """Python twin of ``cohort_retention``: {(cohort, offset): (n_active,
    cohort_size, retention_rate)}."""
    from collections import Counter

    from mini_feature_store_spark.functions import round_half_up_py

    step = {"day": 1, "week": 7}[period]
    active: dict = {}
    for u, t in pairs:
        if u is None or t is None:
            continue
        d = t.date()
        active.setdefault(u, set()).add(
            d - dt.timedelta(days=d.weekday()) if period == "week" else d
        )
    cells, sizes = Counter(), Counter()
    for ps in active.values():
        c = min(ps)
        sizes[c] += 1
        cells.update((c, (p - c).days // step) for p in ps)
    return {
        (c, o): (n, sizes[c], round_half_up_py(n / sizes[c]))
        for (c, o), n in cells.items()
    }


@pytest.mark.parametrize(
    "partitions, aqe, period",
    [("1", "true", "week"), ("7", "true", "week"), ("4", "false", "week"),
     ("4", "true", "day")],
)
def test_cohort_retention_invariant_to_layout_and_config(
    spark, tmp_path, partitions, aqe, period
):
    """Events split into 7 partitions give the Python reference's matrix
    whatever the shuffle width, with AQE on or off, by week or by day;
    the weekly matrix also equals the DuckDB oracle's."""
    import duckdb

    from mini_feature_store_spark.io import load_testdata
    from mini_feature_store_spark.queries import ORACLE

    pairs = _retention_events(tmp_path)
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    prev = [spark.conf.get(k) for k in keys]
    try:
        for k, v in zip(keys, (partitions, aqe)):
            spark.conf.set(k, v)
        events = load_testdata(spark, str(tmp_path), "events")["events"]
        rows = cohort_retention(events.repartition(7), period=period).collect()
    finally:
        for k, v in zip(keys, prev):
            spark.conf.set(k, v)
    got = {
        (r[0], r[1]): (r.n_active, r.cohort_size, r.retention_rate) for r in rows
    }
    assert len(got) == len(rows)
    want = _retention_reference(pairs, period)
    assert got == want
    # the gap user adds offset 3 to its cohort; the timestamp-less user
    # adds no row, and no row has a NULL offset
    assert all(o is not None for _, o in got)
    if period == "week":
        assert (dt.date(2024, 1, 1), 3) in got
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path}/events.parquet')"
        )
        oracle = {
            (c, o): (n, s, r)
            for c, o, n, s, r in con.execute(
                ORACLE["cohort_retention_weekly"]
            ).fetchall()
        }
        assert oracle == want


# ── blocked fuzzy matching ──────────────────────────────────────────────────


def test_fuzzy_pairs_match_naive_within_block(spark):
    df = spark.createDataFrame(
        [("red ring",), ("rad ring",), ("red sing",), ("blue bolt",), ("red ring",)],
        "name string",
    )
    blk = F.regexp_extract("name", r"(\S+)$", 1)
    out = blocked_edit_distance_pairs(df, "name", blk, max_distance=2)
    pairs = {(r.name_a, r.name_b): r.distance for r in out.collect()}
    # 'red ring'~'rad ring' (1) share block 'ring'; 'red sing' is in block
    # 'sing' so its distance-1 pair with 'red ring' is NOT found (blocking
    # trades recall for scale); duplicates collapse via distinct.
    assert pairs == {("rad ring", "red ring"): 1}


def test_fuzzy_distance_zero_only_for_distinct_texts(spark):
    # distinct=True collapses duplicates, so distance-0 pairs can't appear.
    df = spark.createDataFrame([("a b",), ("a b",)], "name string")
    blk = F.regexp_extract("name", r"(\S+)$", 1)
    assert blocked_edit_distance_pairs(df, "name", blk, 2).count() == 0


# ── feature scaling ─────────────────────────────────────────────────────────


def test_scale_features_known_values(spark):
    df = spark.createDataFrame(
        [("a", 0.0), ("a", 10.0), ("b", 5.0)], "g string, v double"
    )
    out = {
        (r.g, r.v): r for r in scale_features(df, "v", by=["g"]).collect()
    }
    # group a: mean 5, sample sd ≈ 7.0711, range [0, 10]
    assert out[("a", 0.0)].v_minmax == 0.0 and out[("a", 10.0)].v_minmax == 1.0
    assert out[("a", 10.0)].v_z == round((10 - 5) / 7.0710678118654755, 4)
    # singleton group: sd undefined, range 0 → both null (no crash)
    assert out[("b", 5.0)].v_z is None and out[("b", 5.0)].v_minmax is None


def test_scale_features_z_clip(spark):
    rows = [("a", float(i)) for i in range(10)] + [("a", 1000.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = scale_features(df, "v", by=["g"], z_clip=2.0)
    zs = [r.v_z for r in out.collect()]
    assert max(zs) == 2.0 and min(zs) >= -2.0


# ── TF-IDF ──────────────────────────────────────────────────────────────────


def test_tfidf_ranks_rare_terms_first(spark):
    from mini_feature_store_spark.operators.text import tf_idf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common zebra common common"),
            (2, "common common"),
            (3, "common yak"),
        ],
        "doc_id long, text string",
    )
    out = tf_idf_top_terms(docs, k=2)
    d1 = [r.term for r in out.where(F.col("doc_id") == 1).orderBy("rk").collect()]
    # 'zebra' (df=1) must outrank 'common' (df=3) despite tf 1 vs 3.
    assert d1[0] == "zebra"
    top = {r.doc_id: r.term for r in out.where(F.col("rk") == 1).collect()}
    assert top[3] == "yak"


# ── plan shapes (the 100 TB contract is a property of the plan) ─────────────


def _n_exchanges(df) -> int:
    from mini_feature_store_spark.functions import plan_text

    plan = plan_text(df)
    import re

    # Count unique exchange nodes from the tree section (formatted plans
    # list each node twice: tree + detail).
    return len(set(re.findall(r"Exchange[^(]*\((\d+)\)", plan)))


def test_funnel_single_exchange_any_step_count(spark):
    df = _ev(spark, [("u", "view", 0), ("u", "click", 1), ("u", "purchase", 2)])
    # 3 dependent step windows + per-user aggregate: still ONE shuffle of
    # the events (plus the single-row summary reduce, which AQE handles).
    steps3 = _n_exchanges(
        df.groupBy("user_id").count()
    )  # baseline: one aggregate = 1-2 exchanges depending on partial agg
    from mini_feature_store_spark.operators.funnel import funnel_user_steps

    got = _n_exchanges(funnel_user_steps(df, ["view", "click", "purchase"]))
    # windows reuse the exchange; total must not exceed the plain
    # aggregate's exchange count (the windows add zero).
    assert got <= max(steps3, 1)


def test_gap_fill_windows_share_grid_exchange(spark):
    import datetime as ddt

    daily = spark.createDataFrame(
        [("u", ddt.date(2024, 1, 2), 1.0)], "user_id string, day date, v double"
    )
    from mini_feature_store_spark.operators.timeseries import gap_fill_forward

    out = gap_fill_forward(
        daily, ["user_id"], "day", ["v"], "2024-01-01", "2024-01-05"
    )
    from mini_feature_store_spark.functions import plan_text

    plan = plan_text(out)
    # the date side must ride a broadcast, not a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_gap_fill_matches_pandas_ffill(spark):
    """Differential vs pandas: the distributed dense-grid forward fill must
    equal reindex(full_range).ffill() per key, including observation age."""
    import datetime as dt

    import pandas as pd

    from mini_feature_store_spark.operators.timeseries import gap_fill_forward

    rows = [
        ("a", dt.date(2024, 1, 1), 10.0),
        ("a", dt.date(2024, 1, 4), 40.0),
        ("b", dt.date(2024, 1, 2), 99.0),
    ]
    df = spark.createDataFrame(rows, "k string, day date, v double")
    out = gap_fill_forward(
        df,
        keys=["k"],
        day_col="day",
        value_cols=["v"],
        start="2024-01-01",
        end="2024-01-06",
    )
    got = {
        (r.k, r.day.isoformat()): (r.v, r.v_age_days)
        for r in out.collect()
    }

    dates = pd.date_range("2024-01-01", "2024-01-06")
    pdf = pd.DataFrame(rows, columns=["k", "day", "v"])
    pdf["day"] = pd.to_datetime(pdf["day"])
    for k, grp in pdf.groupby("k"):
        s = grp.set_index("day")["v"].reindex(dates)
        filled = s.ffill()
        last_obs = s.dropna().index.to_series().reindex(dates).ffill()
        for d in dates:
            key = (k, d.date().isoformat())
            want_v = None if pd.isna(filled[d]) else filled[d]
            want_age = (
                None if pd.isna(last_obs[d]) else int((d - last_obs[d]).days)
            )
            assert got[key] == (want_v, want_age), key
