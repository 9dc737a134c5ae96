from __future__ import annotations

import os
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    """Shared local session; few shuffle partitions for test speed (the
    reference test base pins shuffle.partitions=1, SparkTestBase.scala:18-21)."""
    from mini_feature_store_spark.session import get_spark

    spark = get_spark(
        app_name="mfss-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/mfss-test-warehouse"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ["SPARK_GRAFT_SF_DIR"]


class _RegistryBuilds(dict):
    """Query name -> its build; a query whose build raised re-raises here,
    so only the checks that read it fail."""

    def __getitem__(self, name: str) -> SimpleNamespace:
        build = super().__getitem__(name)
        if isinstance(build, Exception):
            raise build
        return build


@pytest.fixture(scope="session")
def registry_builds(spark, sf_dir) -> _RegistryBuilds:
    """Every registered query's plan, built once per session on a clean
    cache manager: its broadcast hint sites, its output schema, and
    whether the build left a cache entry behind (cleared after each
    build). Building every plan takes over a minute, so the registry-wide
    lints share this one pass instead of each building them all."""
    from mini_feature_store_spark.plan_walk import broadcast_hint_sites
    from mini_feature_store_spark.queries import QUERIES

    jcm = spark._jsparkSession.sharedState().cacheManager()
    jcm.clearCache()
    builds = _RegistryBuilds()
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            builds[name] = SimpleNamespace(
                sites=broadcast_hint_sites(df),
                schema=df.schema,
                left_cache=not jcm.isEmpty(),
            )
        except Exception as e:
            builds[name] = e
        jcm.clearCache()
    return builds
