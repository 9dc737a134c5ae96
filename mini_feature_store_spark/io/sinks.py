"""Sinks: parquet / JSON / CSV writes + atomic partitioned table overwrite.

Re-expresses ``platform/Writers.scala`` + ``platform/ProdWriter.scala``:
writeParquet (ProdWriter.scala:23-35), writeJson (:37-42), writeCsv (:44-55),
insertOverwriteIcebergTable (:57-70). The table sink targets Delta when the
package is present (ACID overwrite + time travel per BASELINE.json), else a
plain partitioned-parquet ``saveAsTable`` — same logical semantics, weaker
atomicity, clearly flagged.

Scale notes:
- ``partition_overwrite='dynamic'`` (or Delta ``replaceWhere``) makes an
  incremental backfill rewrite only the touched ``day`` partitions instead of
  the whole 100 TB table.
- Writers never repartition behind the caller's back; callers own layout
  (e.g. pipelines coalesce tiny dimension outputs, leave fact outputs as AQE
  sized them).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mini_feature_store_spark.session import HAVE_DELTA


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> None:
    """Partitioned parquet write (ProdWriter.scala:23-35)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines write (ProdWriter.scala:37-42)."""
    df.write.mode(mode).json(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    delimiter: str = ",",
) -> None:
    """CSV write (ProdWriter.scala:44-55)."""
    (
        df.write.mode(mode)
        .option("header", header)
        .option("delimiter", delimiter)
        .csv(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> None:
    """ORC write — the parquet contract on the other columnar format
    (no reference analog; completes the read_orc round trip)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def insert_overwrite_table(
    df: DataFrame,
    table: str,
    partition_by: Sequence[str] = (),
    replace_where: str | None = None,
) -> None:
    """Atomic full- or partition-scoped table overwrite.

    Maps the reference's ``insertOverwriteIcebergTable``
    (ProdWriter.scala:57-70) onto Delta when available. ``replace_where``
    (Delta only) scopes the overwrite to matching partitions — the 100 TB
    path for incremental backfills.

    The Delta branch is wiring-tested only (tests/test_delta_wiring.py,
    fake writer — delta-spark is absent in this container); the parquet
    fallback is the branch exercised live.
    """
    fmt = "delta" if HAVE_DELTA else "parquet"
    writer = df.write.format(fmt).mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if replace_where is not None:
        if not HAVE_DELTA:
            raise NotImplementedError(
                "partition-scoped overwrite (replaceWhere) requires delta-spark; "
                "install it or overwrite the full table"
            )
        writer = writer.option("replaceWhere", replace_where)
    writer.saveAsTable(table)


def write_parquet_clustered(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
    target_files: int | None = None,
) -> None:
    """Layout-aware parquet write: range-partition rows across files by
    ``cluster_by`` and sort within each file on the same key.

    Why this matters at 100 TB: parquet stores per-row-group min/max
    statistics; a reader filtering on ``cluster_by`` columns skips whole
    row groups/files when values are clustered, and skips nothing when
    they're scattered. Range partitioning gives disjoint key ranges per
    file (file-level skipping via footer stats), the within-file sort
    tightens row-group stats — the open-format analog of Delta
    ``OPTIMIZE ZORDER BY`` for the single-key case, built from
    ``repartitionByRange`` + ``sortWithinPartitions`` (both pure Spark).

    ``target_files`` overrides the output file count (defaults to the
    session's shuffle parallelism via repartitionByRange's default).
    """
    cluster_cols = list(cluster_by)
    if not cluster_cols:
        raise ValueError("cluster_by must name at least one column")
    if target_files is not None:
        clustered = df.repartitionByRange(target_files, *cluster_cols)
    else:
        clustered = df.repartitionByRange(*cluster_cols)
    clustered = clustered.sortWithinPartitions(*cluster_cols)
    write_parquet(clustered, path, mode=mode, partition_by=partition_by)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_by: Sequence[str],
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Persist as a BUCKETED managed table — Spark's co-located-join
    layout (``bucketBy`` + ``sortBy`` + ``saveAsTable``; bucketed
    layout is a catalog-table feature, so this is the one sink that
    must target a table name, not a path).

    Why this matters at 100 TB (SURVEY.md's PIT-join bucketing lever):
    a feature table bucketed on ``user_id`` is ALREADY hash-partitioned
    on disk, so a join keyed on it — the point-in-time training-set
    build given ``spark.table(name)`` as its features — reads the
    buckets and skips the feature-side EXCHANGE (pinned by
    ``test_bucketed_tables_join_without_exchange`` and
    ``test_bucketed_features_make_pit_training_build_shuffle_free``).
    No pipeline writes or reads such a table: the name lives in the
    writing session's catalog, and the copy does not follow the
    versioned table's deletes, upserts or time travel, so a caller
    whose catalog persists owns its freshness.

    ``sort_by`` additionally pre-sorts within buckets, letting
    sort-merge joins skip their local sort when the join key prefixes
    the sort key. Both sides of a join must use the same bucket count
    (or a multiple, with
    ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``) for the
    shuffle-free plan.
    """
    if buckets <= 0:
        raise ValueError(f"buckets must be positive, got {buckets}")
    cols = list(bucket_by)
    if not cols:
        raise ValueError("bucket_by must name at least one column")
    writer = df.write.mode(mode).format("parquet").bucketBy(buckets, *cols)
    if sort_by:
        writer = writer.sortBy(*list(sort_by))
    writer.saveAsTable(table)


def write_parquet_zordered(
    df: DataFrame,
    path: str,
    zorder_by: Sequence[str],
    bits: int = 16,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
    target_files: int | None = None,
) -> None:
    """Multi-key layout-aware write: cluster files by the Morton (Z-order)
    interleaving of the keys' bucket ids, so footer min/max stats stay
    narrow on EVERY key simultaneously.

    ``write_parquet_clustered`` gives perfect skipping on its first key
    and none on the others (file ranges on key 2 span the whole domain
    inside each key-1 range). Z-ordering trades a little of key 1's
    locality for locality on all keys: each key is linearly bucketed into
    ``2^bits`` cells between its observed min/max (one tiny aggregate,
    carried as a broadcast 1-row join so plan-build stays job-free), the
    per-key bucket bits are interleaved into one code, and files are
    range-partitioned + sorted on that code — the open-format analog of
    Delta ``OPTIMIZE ZORDER BY``, in pure Spark expressions.

    With k keys a filter selecting fraction f of one key touches ~f^(1/k)
    of the files instead of all of them (measured in
    tests/test_io_plans.py from the actual parquet footers). Keys must be
    numeric/date-like (bucketing is linear); nulls sort to cell 0.
    ``bits·k`` must fit a signed long (≤ 62).
    """
    keys = list(zorder_by)
    if len(keys) < 2:
        raise ValueError("zorder_by needs >= 2 columns (use cluster_by for 1)")
    if bits * len(keys) > 62:
        raise ValueError(f"bits*keys = {bits * len(keys)} exceeds long range")
    cells = 1 << bits
    bounds = df.select(
        *[
            agg(F.col(c).cast("double")).alias(f"_{kind}_{c}")
            for c in keys
            for kind, agg in (("min", F.min), ("max", F.max))
        ]
    )
    coded = df.crossJoin(F.broadcast(bounds))
    code = F.lit(0).cast("long")
    for i, c in enumerate(keys):
        lo, hi = F.col(f"_min_{c}"), F.col(f"_max_{c}")
        cell = F.when(
            hi > lo,
            F.least(
                F.lit(cells - 1),
                F.floor(
                    (F.col(c).cast("double") - lo) / (hi - lo) * cells
                ).cast("long"),
            ),
        ).otherwise(F.lit(0))
        cell = F.coalesce(cell, F.lit(0))
        for b in range(bits):
            code = code.bitwiseOR(
                F.shiftleft(
                    F.shiftrightunsigned(cell, b).bitwiseAND(F.lit(1)),
                    b * len(keys) + i,
                )
            )
    coded = coded.withColumn("_zcode", code).drop(
        *[f"_{kind}_{c}" for c in keys for kind in ("min", "max")]
    )
    if target_files is not None:
        clustered = coded.repartitionByRange(target_files, "_zcode")
    else:
        clustered = coded.repartitionByRange("_zcode")
    clustered = clustered.sortWithinPartitions("_zcode").drop("_zcode")
    write_parquet(clustered, path, mode=mode, partition_by=partition_by)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str,
    mode: str = "overwrite",
) -> list[dict]:
    """Deterministic sharded export for training dataloaders: rows land in
    ``n_shards`` files by ``xxhash64(key) % n_shards`` (same key → same shard
    across runs and engines), one file per shard, plus a ``_shards.json``
    manifest recording per-shard row counts and bytes read back from the
    parquet footers (O(n_shards) driver metadata reads — never a data scan).

    Dataloaders consume the manifest to size epochs and stripe workers; the
    hash assignment means adding data re-shuffles nothing retroactively.
    """
    import glob
    import json as _json
    import os as _os

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    sharded = df.withColumn(
        "_shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
    )
    (
        sharded.repartition(n_shards, "_shard")
        .sortWithinPartitions(key_col)
        .write.mode(mode)
        .partitionBy("_shard")
        .parquet(path)
    )
    manifest = []
    for d in sorted(glob.glob(_os.path.join(path, "_shard=*"))):
        shard = int(d.rsplit("=", 1)[1])
        rows = nbytes = 0
        for f in glob.glob(_os.path.join(d, "*.parquet")):
            md = _pq.read_metadata(f)
            rows += md.num_rows
            nbytes += _os.path.getsize(f)
        manifest.append({"shard": shard, "rows": rows, "bytes": nbytes})
    with open(_os.path.join(path, "_shards.json"), "w") as f:
        _json.dump(manifest, f)
    return manifest
