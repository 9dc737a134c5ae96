"""``read_parquet``'s schema from the file footer: the read costs no Spark
job, and the schema equals the one Spark's inference gives, under the
session's parquet type rules; paths the footer read does not mirror fall
back to inference, with its errors. Plus the lint that keeps every
schema-less parquet read of the pipelines and the IO layer in
``read_parquet``."""

from __future__ import annotations

import ast
import contextlib
import datetime as dt
import itertools
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from mini_feature_store_spark.io.sources import read_parquet
from mini_feature_store_spark.schemas import TESTDATA_TABLES

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(Spark jobs ``fn`` ran, its result), counted by job group."""
    sc = spark.sparkContext
    group = f"sources-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@contextlib.contextmanager
def _conf(spark, key: str, value: str):
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _same_as_inference(spark, path: str) -> None:
    jobs, df = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0, path
    assert df.schema == spark.read.parquet(path).schema, path


def test_testdata_tables_read_without_a_job(spark, sf_dir):
    with _conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
        for name in TESTDATA_TABLES:
            _same_as_inference(spark, f"{sf_dir}/{name}.parquet")


@pytest.mark.parametrize("ntz", ["false", "true"])
def test_naive_timestamp_follows_infer_timestamp_ntz(spark, tmp_path, ntz):
    """A pyarrow naive ``timestamp[us]`` reads as ``timestamp_ntz`` or
    ``timestamp``, as the session's ``inferTimestampNTZ`` says."""
    path = str(tmp_path / "naive.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([dt.datetime(2024, 1, 1, 10)], pa.timestamp("us"))}),
        path,
    )
    with _conf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", ntz):
        _same_as_inference(spark, path)
        want = "timestamp_ntz" if ntz == "true" else "timestamp"
        assert read_parquet(spark, path).schema["ts"].dataType.simpleString() == want


def test_nanos_follow_nanos_as_long(spark, tmp_path):
    """``TIMESTAMP(NANOS)`` reads as ``bigint`` with ``nanosAsLong`` on;
    with it off the footer read declines and inference raises its own
    error."""
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_704_103_200_123_456_789], pa.timestamp("ns"))}),
        path,
        version="2.6",
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    with _conf(spark, key, "true"):
        _same_as_inference(spark, path)
        assert read_parquet(spark, path).schema["ts"].dataType.simpleString() == "bigint"
    with _conf(spark, key, "false"):
        with pytest.raises(AnalysisException) as ours:
            read_parquet(spark, path)
        with pytest.raises(AnalysisException) as spark_own:
            spark.read.parquet(path)
        assert ours.value.getCondition() == spark_own.value.getCondition()


def test_spark_written_directory(spark, tmp_path):
    """A Spark-written directory (``_SUCCESS``, ``.crc`` files) holding
    ``timestamp_ntz``, decimal, map and array columns."""
    path = str(tmp_path / "spark")
    spark.sql(
        "SELECT id, CAST(id AS DECIMAL(10, 2)) AS d, map('k', id) AS m, "
        "array(id, id) AS a, TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ntz "
        "FROM range(6)"
    ).repartition(3).write.parquet(path)
    assert (tmp_path / "spark" / "_SUCCESS").exists()
    _same_as_inference(spark, path)
    assert read_parquet(spark, path).count() == 6


def test_partitioned_directory_appends_partition_columns(spark, tmp_path):
    """``day=`` directories: the partition column is appended, typed as
    Spark infers it from the directory names (``"007"`` reads as 7)."""
    for name, values in (("dates", ["2024-01-01", "2024-01-02"]), ("ints", ["007", "8"])):
        path = str(tmp_path / name)
        spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], "id long, day string"
        ).write.partitionBy("day").parquet(path)
        _same_as_inference(spark, path)
    days = sorted(r.day for r in read_parquet(spark, str(tmp_path / "ints")).collect())
    assert days == [7, 8]


def test_partition_column_inside_the_data_file_falls_back(spark, tmp_path):
    """A data file that also holds the partition column: a declared
    schema would type it from the file (string), inference from the
    directory name (date), so the footer read declines."""
    part = tmp_path / "dup" / "day=2024-01-01"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"a": [1], "day": ["x"]}), str(part / "p.parquet"))
    path = str(tmp_path / "dup")
    jobs, df = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 1 and df.schema == spark.read.parquet(path).schema
    assert df.schema["day"].dataType.simpleString() == "date"


def test_common_metadata_is_read_first(spark, tmp_path):
    """A ``_common_metadata`` summary wins over the data files, as in
    Spark's inference."""
    root = tmp_path / "summary"
    root.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(root / "part-0.parquet"))
    pq.write_metadata(
        pa.schema([("a", pa.int64()), ("b", pa.string())]),
        str(root / "_common_metadata"),
    )
    _same_as_inference(spark, str(root))
    assert read_parquet(spark, str(root)).columns == ["a", "b"]


def test_glob_missing_and_empty_paths_fall_back_to_inference(spark, tmp_path):
    """A glob is left to Spark's inference (one job); a glob that matches
    nothing, a missing path and an empty directory raise what
    ``spark.read.parquet`` raises."""
    spark.range(3).write.parquet(str(tmp_path / "data"))
    glob = str(tmp_path / "data" / "part-*")
    jobs, df = _jobs(spark, lambda: read_parquet(spark, glob))
    assert jobs == 1 and df.schema == spark.read.parquet(glob).schema
    (tmp_path / "empty").mkdir()
    for path in (
        str(tmp_path / "data" / "nothing-*"),
        str(tmp_path / "missing"),
        str(tmp_path / "empty"),
    ):
        with pytest.raises(AnalysisException) as ours:
            read_parquet(spark, path)
        with pytest.raises(AnalysisException) as spark_own:
            spark.read.parquet(path)
        assert ours.value.getCondition() == spark_own.value.getCondition(), path


_PACKAGE = Path(__file__).resolve().parent.parent / "mini_feature_store_spark"


def _chain(node: ast.AST) -> tuple[set[str], ast.AST]:
    """The attribute names along a call chain, and the node it starts at."""
    names = set()
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            node = node.func
        else:
            names.add(node.attr)
            node = node.value
    return names, node


def _schemaless_parquet_reads(source: str) -> list[tuple[str, int]]:
    """(enclosing top-level name, line) of every ``<reader>.parquet(...)``
    call whose call chain has no ``.schema(...)``. A chain through
    ``.write``, or from a name assigned one, is a write and is skipped."""
    found = []
    for top in ast.parse(source).body:
        writers = {
            node.targets[0].id
            for node in ast.walk(top)
            if isinstance(node, ast.Assign)
            and isinstance(node.targets[0], ast.Name)
            and "write" in _chain(node.value)[0]
        }
        for node in ast.walk(top):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
            ):
                continue
            names, start = _chain(node.func.value)
            if isinstance(start, ast.Name) and start.id in writers:
                continue
            if not names & {"write", "schema"}:
                found.append((getattr(top, "name", "<module>"), node.lineno))
    return found


def test_schemaless_parquet_lint_sees_reads_not_writes():
    src = (
        "def f(spark, df, s):\n"
        "    spark.read.parquet('a')\n"
        "    spark.read.option('k', 1).parquet('b')\n"
        "    spark.read.schema(s).parquet('c')\n"
        "    df.write.mode('overwrite').parquet('d')\n"
        "    w = df.write.mode('append')\n"
        "    w.parquet('e')\n"
        "    r = spark.read\n"
        "    r.parquet('f')\n"
    )
    assert _schemaless_parquet_reads(src) == [("f", 2), ("f", 3), ("f", 9)]


@pytest.mark.parametrize("package", ["pipelines", "io"])
def test_schemaless_parquet_reads_only_in_read_parquet(package):
    """Every parquet read of the pipelines and the IO layer that has no
    schema of its own goes through ``read_parquet``, so none pays an
    inference job."""
    offenders = {
        f"{path.name}:{owner}:{line}"
        for path in sorted((_PACKAGE / package).glob("*.py"))
        for owner, line in _schemaless_parquet_reads(path.read_text())
    }
    allowed = {"sources.py:read_parquet"}
    assert {o.rsplit(":", 1)[0] for o in offenders} <= allowed, offenders
