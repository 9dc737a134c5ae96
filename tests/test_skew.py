"""salted_join must be result-identical to the plain join, per join type."""

from __future__ import annotations

from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from mini_feature_store_spark.operators.skew import salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # one celebrity key (u0: 5000 rows), a long tail, and an unmatched key
    big = spark.range(6000).select(
        F.when(F.col("id") < 5000, F.lit("u0"))
        .otherwise(F.concat(F.lit("u"), (F.col("id") % 37 + 1).cast("string")))
        .alias("user_id"),
        F.col("id").alias("event_id"),
    )
    small = spark.createDataFrame(
        [("u0", "gold"), ("u1", "silver"), ("u2", "bronze"), ("zzz", "ghost")],
        "user_id string, tier string",
    )
    return big.cache(), small


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_salted_equals_plain(skewed, how):
    big, small = skewed
    plain = big.join(small, ["user_id"], how)
    salted = salted_join(big, small, ["user_id"], how=how, salt=8)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salt_actually_splits_hot_key(skewed):
    big, small = skewed
    out = salted_join(big, small, ["user_id"], how="inner", salt=8)
    # the celebrity key's rows must carry >1 distinct salt pre-drop; proxy:
    # result correctness plus replication factor of the small side
    assert out.where(F.col("user_id") == "u0").count() == 5000


def test_right_outer_rejected(skewed):
    big, small = skewed
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(big, small, ["user_id"], how="full")


# ---------------------------------------------------------------------------
# Celebrity-key drill on the point-in-time join (the flagship operator):
# ~10%+ of feature rows on ONE user. Pins that the plan stays bounded —
# AQE's skew split fires where the planner is allowed to split (inner), and
# the salt knob gives identical results where it is not (left outer).
# ---------------------------------------------------------------------------

from mini_feature_store_spark.operators.point_in_time import point_in_time_join


@pytest.fixture(scope="module")
def celebrity_pit(spark):
    # user 0 holds half the feature rows; users 1..997 share the rest.
    # 998 is a label-only user (exercises left-join null preservation).
    feats = spark.range(200_000).select(
        F.when(F.col("id") < 100_000, F.lit(0))
        .otherwise((F.col("id") % 997) + 1)
        .alias("user_id"),
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("id") % 365).cast("int")
        ).alias("day"),
    ).withColumn(
        # payload is a FUNCTION of (user_id, day): the celebrity user has
        # ~274 rows per day value, and max_by breaks exact-day ties
        # arbitrarily — value-identical ties keep every pick comparable.
        "f1",
        F.pmod(F.xxhash64("user_id", "day"), F.lit(100)).cast("double"),
    )
    labels = spark.range(2_000).select(
        (F.col("id") % 999).alias("user_id"),
        F.date_add(
            F.lit("2024-06-01").cast("date"), (F.col("id") % 30).cast("int")
        )
        .cast("timestamp")
        .alias("as_of_ts"),
        (F.col("id") % 2).cast("double").alias("label"),
    )
    return feats.cache(), labels.cache()


@contextmanager
def _aqe_skew_confs(spark):
    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
        # test runs 4 shuffle partitions; the hot partition is ~4-5× the
        # median, borderline at the default factor 5 — pin it below
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        # the join feeds a re-partitioning aggregate, so the split adds a
        # shuffle; without force, OptimizeSkewedJoin declines on that basis
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    old = {}
    for k, v in keys.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _executed_plan(df) -> str:
    df.collect()  # materialize THIS plan so AQE finalizes it
    return df._jdf.queryExecution().executedPlan().toString()


def test_pit_inner_join_aqe_skew_split_fires(spark, celebrity_pit):
    """Inner PIT join under a celebrity key: AQE must detect the hot
    partition and split it (SortMergeJoin(skew=true) in the final plan)."""
    feats, labels = celebrity_pit
    with _aqe_skew_confs(spark):
        out = point_in_time_join(labels, feats, how="inner")
        plan = _executed_plan(out)
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan


def test_pit_left_outer_aqe_cannot_split_build_side(spark, celebrity_pit):
    """Left-outer PIT join: the skewed side is the non-preserved (features)
    side, which AQE is NOT allowed to split — the motivation for the salt
    knob below."""
    feats, labels = celebrity_pit
    with _aqe_skew_confs(spark):
        out = point_in_time_join(labels, feats, how="left")
        plan = _executed_plan(out)
    assert "isFinalPlan=true" in plan
    assert "skew=true" not in plan


@pytest.mark.parametrize("how", ["left", "inner"])
def test_pit_salted_matches_unsalted(spark, celebrity_pit, how):
    """salt > 0 must be result-identical to salt=0 for both hows,
    including null rows for the label-only user."""
    feats, labels = celebrity_pit
    plain = point_in_time_join(labels, feats, how=how)
    salted = point_in_time_join(labels, feats, how=how, salt=8)
    assert Counter(map(tuple, plain.collect())) == Counter(
        map(tuple, salted.collect())
    )


def test_pit_salted_join_key_includes_salt(spark, celebrity_pit):
    """The salted plan must actually join on (user_id, _asof_salt) — i.e.
    the hot key's rows are spread across `salt` shuffle partitions."""
    feats, labels = celebrity_pit
    out = point_in_time_join(labels, feats, how="left", salt=8)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "_asof_salt" in plan
    # and the salt never leaks into the output schema
    assert "_asof_salt" not in out.columns


def test_asof_inner_join_aqe_skew_split_fires(spark, celebrity_pit):
    """Unsalted asof_join(how='inner') joins inner, so AQE may split the
    celebrity partition on either side — the same pin as the PIT join."""
    from mini_feature_store_spark.operators.point_in_time import asof_join

    feats, labels = celebrity_pit
    right = feats.select(
        "user_id", F.col("day").cast("timestamp").alias("fts"), "f1"
    )
    with _aqe_skew_confs(spark):
        out = asof_join(
            labels, right, ["user_id"], "as_of_ts", "fts", how="inner"
        )
        plan = _executed_plan(out)
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_join_salted_matches_unsalted(spark, celebrity_pit, direction):
    """asof_join(salt=N) must be result-identical to salt=0 in every
    direction on the celebrity fixture (same collapse-spans-salt-copies
    argument as the PIT join)."""
    from mini_feature_store_spark.operators.point_in_time import asof_join

    feats, labels = celebrity_pit
    right = feats.select(
        "user_id", F.col("day").cast("timestamp").alias("fts"), "f1"
    )
    kwargs = dict(
        keys=["user_id"],
        left_ts="as_of_ts",
        right_ts="fts",
        direction=direction,
        tolerance="90 days",
    )
    plain = asof_join(labels, right, **kwargs)
    salted = asof_join(labels, right, salt=8, **kwargs)
    assert Counter(map(tuple, plain.collect())) == Counter(
        map(tuple, salted.collect())
    )
