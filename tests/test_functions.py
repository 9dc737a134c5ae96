"""Unit tests of the small shared helpers in ``functions.py``: the
bounded driver-local collect and the explain-text Initial Plan
stripper."""

from __future__ import annotations

from mini_feature_store_spark import functions
from mini_feature_store_spark.functions import (
    collect_if_bounded,
    strip_initial_plans,
)


def test_collect_if_bounded_rows_and_bytes(spark, monkeypatch):
    """Within both bounds the frame comes back as an Arrow table with
    every row; one row over ``max_rows`` or one byte-budget overrun
    returns None (the caller's distributed path)."""
    df = spark.range(100).selectExpr("id", "id * 2 AS twice")
    tbl = collect_if_bounded(df, 100)
    assert tbl is not None and tbl.num_rows == 100
    assert sorted(tbl.column("twice").to_pylist()) == list(range(0, 200, 2))
    assert collect_if_bounded(df, 99) is None
    assert collect_if_bounded(df.where("id < 0"), 0).num_rows == 0

    monkeypatch.setattr(functions, "DRIVER_LOCAL_MAX_BYTES", tbl.nbytes - 1)
    assert collect_if_bounded(df, 100) is None
    monkeypatch.setattr(functions, "DRIVER_LOCAL_MAX_BYTES", tbl.nbytes)
    assert collect_if_bounded(df, 100) is not None


def test_collect_if_bounded_keeps_partition_row_order(spark):
    """Each partition's rows arrive contiguous and in order — the
    k-means replay groups the table by partition id and relies on it."""
    from pyspark.sql import functions as F

    df = spark.range(0, 400, 1, 4).select(
        F.spark_partition_id().alias("pid"), "id"
    )
    tbl = collect_if_bounded(df, 400)
    by_pid: dict[int, list[int]] = {}
    pids, ids = tbl.column("pid").to_pylist(), tbl.column("id").to_pylist()
    for pid, i in zip(pids, ids):
        by_pid.setdefault(pid, []).append(i)
    assert len(by_pid) == 4
    for part in by_pid.values():
        assert part == list(range(part[0], part[0] + 100))


_PLAN = """\
== Physical Plan ==
SortMergeJoin (20)
:- InMemoryTableScan (5)
:     +- InMemoryRelation (6)
:           +- AdaptiveSparkPlan (7)
:              +- == Final Plan ==
:                 Exchange (8)
:                 +- Scan parquet (9)
:              +- == Initial Plan ==
:                 Exchange (10)
:
:                 +- Scan parquet (11)
+- Sort (12)
   +- Exchange (13)
      +- Scan parquet (14)

(8) Exchange
Input: [id#1]
"""


def test_strip_initial_plans_under_colon_margin():
    """An Initial Plan printed under a ``:`` margin is dropped with its
    whole body — blank and margin-only lines inside it included — and
    the sibling that resumes at a shallower column is kept, as is the
    detail section after the tree."""
    out = strip_initial_plans(_PLAN)
    kept = _PLAN.splitlines(keepends=True)
    dropped = kept[8:12]  # the marker line through "Scan parquet (11)"
    assert dropped[0].strip().endswith("== Initial Plan ==")
    assert dropped[-1].strip().endswith("Scan parquet (11)")
    assert out == "".join(kept[:8] + kept[12:])
    assert out.count("Exchange (") == 2  # (8) and (13), not (10)
    assert "Sort (12)" in out and "(8) Exchange" in out


def test_strip_initial_plans_column_zero_marker():
    """A top-level (column 0) Initial Plan runs to the end of the dump:
    no later line sits at a shallower column, blank lines included."""
    plan = (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (4)\n"
        "+- == Final Plan ==\n"
        "   Exchange (1)\n"
        "== Initial Plan ==\n"
        "Exchange (2)\n"
        "\n"
        "+- Scan parquet (3)\n"
    )
    assert strip_initial_plans(plan) == (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (4)\n"
        "+- == Final Plan ==\n"
        "   Exchange (1)\n"
    )
    assert strip_initial_plans("Project (1)\n+- Scan (2)\n") == (
        "Project (1)\n+- Scan (2)\n"
    )
