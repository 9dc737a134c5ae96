"""SparkSession factory.

Replaces the reference's session assembly
(``spark/src/main/scala/com/example/featurestore/App.scala:128-148`` +
``platform/PlatformProvider.scala:68-87``) with a single tuned builder.

Scale rationale for the defaults:
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast-join demotion/promotion are exactly the knobs a 100 TB run needs.
- ``spark.sql.shuffle.partitions`` sized from cores locally; on a real cluster
  AQE coalesces down from a deliberately-high initial number.
- UTC session timezone: deterministic date truncation regardless of host tz
  (the reference's ``current_date()`` wall-clock dependence is an anti-pattern
  we do not copy — see SURVEY.md §4.3).
- Arrow enabled: every pandas_udf / mapInPandas extension operator transfers
  columnar batches, not pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

try:  # Delta Lake gives ACID overwrite + time travel; optional at runtime.
    # delta-spark is ABSENT in this container and cannot be installed, so
    # the HAVE_DELTA branches never run live here. Their Python-side wiring
    # (builder configs, writer format/options, _delta_log dispatch) is
    # pinned by tests/test_delta_wiring.py via a fake ``delta`` module; the
    # JVM side (jar loading, Delta commit protocol) is necessarily
    # untested in this environment. io/tables.py:VersionedTable is the
    # tested stand-in for the same capability surface.
    from delta import configure_spark_with_delta_pip  # type: ignore

    HAVE_DELTA = True
except Exception:  # pragma: no cover - container has no delta-spark
    configure_spark_with_delta_pip = None
    HAVE_DELTA = False


def get_spark(
    app_name: str = "mini-feature-store-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    ``master`` resolution order mirrors the reference's ``SPARK_MASTER`` env
    contract (``App.scala:55-57``): explicit arg > env > local[all cores].
    """
    master = master or os.environ.get("SPARK_MASTER") or f"local[{os.cpu_count() or 4}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = f"{min(ram // 2, 16 << 30) >> 20}m"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local mode runs every executor thread in the driver JVM; with 32
        # task slots 8g thrashes GC on the wide aggregates. Half the host's
        # RAM, at most 16g, leaves room for a second JVM. Env-overridable.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or heap)
        # ns-precision parquet timestamps (testdata events.ts) truncate to µs.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        # Every action renders its plan into a string for the SQL
        # execution event. With many curation stages stacked that string
        # outgrew a 2 GB driver heap (OutOfMemoryError in
        # StringBuilder.toString at a localCheckpoint); 1 MiB bounds it.
        .config("spark.sql.maxPlanStringLength", str(1 << 20))
    )
    if HAVE_DELTA:
        builder = builder.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
        builder = configure_spark_with_delta_pip(builder)
    # Deployment-specific overrides without code changes (r16): semicolon-
    # separated k=v pairs, e.g. SPARK_GRAFT_EXTRA_CONF="spark.sql.join.
    # preferSortMergeJoin=false;spark.io.compression.codec=zstd". Applied
    # before ``extra_conf`` so an explicit caller still wins.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in env_conf.split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
