"""Online-sync pipeline: features_daily → key-value online store.

Re-expresses ``pipelines/OnlineSyncPipeline.scala:41-100`` with every scale
anti-pattern fixed (SURVEY.md §4.3):

- the reference collects ALL rows to the driver and issues one sequential
  Redis SET per user over a single connection (:76-99); we push writes into
  a per-partition map — each executor partition opens one client, writes
  its share in bulk and reports its count, so throughput scales with
  executors;
- JSON payloads via ``to_json(struct(...))`` (typed values) instead of the
  hand-interpolated strings of :81-93 (deliberate, documented deviation:
  numbers serialize as numbers);
- the freshness cutoff is an explicit ``as_of`` parameter instead of
  wall-clock ``current_date()`` (:54) — reruns are reproducible.

The KV client is injectable: ``FileKVStore`` (portable, used in tests and
local runs) or a Redis factory (gated import — redis isn't in this
container).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_feature_store_spark.io.tables import VersionedTable
from mini_feature_store_spark.operators.latest import latest_per_key


class FileKVStore:
    """Filesystem KV store: one file per key, atomic tmp+rename writes.

    Safe under concurrent partition writers (last writer wins per key —
    same contract as Redis SET). Stands in for Redis in environments
    without one; also a legitimate "online store on shared storage" for
    batch-serving tiers.
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key.replace(":", "__") + ".json")

    def mset(self, pairs: Iterable[tuple[str, str]]) -> int:
        n = 0
        for key, value in pairs:
            tmp = self._path(key) + f".tmp{os.getpid()}"
            with open(tmp, "w") as f:
                f.write(value)
            os.replace(tmp, self._path(key))
            n += 1
        return n

    def get(self, key: str) -> dict | None:
        try:
            with open(self._path(key)) as f:
                return json.loads(f.read())
        except FileNotFoundError:
            return None

    def keys(self) -> list[str]:
        return sorted(
            f[: -len(".json")].replace("__", ":")
            for f in os.listdir(self.root)
            if f.endswith(".json")
        )


def redis_kv_factory(url: str) -> Callable[[], object]:
    """Redis-backed client factory (requires the ``redis`` package)."""

    def factory():
        try:
            import redis  # type: ignore
        except ImportError as e:
            raise NotImplementedError(
                "redis package not installed; use FileKVStore or install redis"
            ) from e

        client = redis.Redis.from_url(url)

        class _RedisKV:
            def mset(self, pairs):
                pipe = client.pipeline()
                n = 0
                for k, v in pairs:
                    pipe.set(k, v)
                    n += 1
                pipe.execute()
                return n

        return _RedisKV()

    return factory


@dataclass
class OnlineSyncConfig:
    features_table: str  # VersionedTable directory
    key_col: str = "user_id"
    order_col: str = "day"
    key_prefix: str = "features:"
    as_of: str | None = None  # cutoff date (inclusive); None = no cutoff
    lookback_days: int = 7  # sync users active within this window of as_of


def run_online_sync(
    spark: SparkSession,
    cfg: OnlineSyncConfig,
    kv_factory: Callable[[], object],
) -> int:
    """Sync the latest feature snapshot per key into the online store.

    Returns the number of keys written; ``write_latest`` runs the
    latest-per-key plan once, in one Spark action.
    """
    features = VersionedTable(cfg.features_table).read(spark)
    if cfg.as_of is not None:
        cutoff = F.lit(cfg.as_of).cast("date")
        features = features.where(
            (F.col(cfg.order_col) <= cutoff)
            & (F.col(cfg.order_col) >= F.date_sub(cutoff, cfg.lookback_days))
        )
    latest = latest_per_key(
        features, keys=[cfg.key_col], order_cols=[cfg.order_col]
    )
    return write_latest(latest, kv_factory, cfg.key_col, cfg.key_prefix)


def write_latest(
    latest: DataFrame,
    kv_factory: Callable[[], object],
    key_col: str,
    key_prefix: str,
) -> int:
    """Write one JSON payload per row of ``latest`` (one row per key)
    under ``key_prefix + key``; returns the number of keys written.

    The write path of every online sync, batch and streaming: ONE Spark
    action writes every partition and sums the counts the clients'
    ``mset`` return — each partition opens one client, and no payload
    is collected.
    """
    value_cols = [c for c in latest.columns if c != key_col]
    payloads = latest.select(
        F.concat(F.lit(key_prefix), F.col(key_col).cast("string")).alias("key"),
        F.to_json(F.struct(key_col, *value_cols)).alias("payload"),
    )

    def write_partition(rows):
        client = kv_factory()
        yield client.mset((r["key"], r["payload"]) for r in rows)

    return payloads.rdd.mapPartitions(write_partition).sum()
