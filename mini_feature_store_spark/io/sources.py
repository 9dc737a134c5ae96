"""Sources: parquet / JSON / CSV / managed-table scans.

Re-expresses the reference's ``platform/Fetchers.scala`` trait surface
(readParquet :79-90, readJson :92-103, readCsv :105-120, readIcebergTable
:122-128) as plain functions. An explicit schema is always accepted
(schema-on-write regime, SURVEY.md §1.3). Without one, ``read_parquet``
reads the schema on the driver from the one footer Spark's own inference
would read, converts it with Spark's own converter and passes it in, so a
read costs no Spark job (Spark's inference runs one footer-reading job per
read); ``load_testdata`` and ``read_table`` read parquet through it.

Scale notes:
- The driver reads one footer, never a sampling pass over the files: on a
  100 TB path the inference job alone schedules a task per file batch.
- These return *lazy* DataFrames; filters/projections applied by callers reach
  the parquet scan via Catalyst pushdown (verify with
  ``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


#: Characters that make a Hadoop path a glob (``SparkHadoopUtil.isGlobPath``).
_GLOB_CHARS = frozenset("{}[]*?\\")
#: Parquet summary files, read before any data file when present.
_SUMMARIES = ("_common_metadata", "_metadata")


def _listed(name: str) -> bool:
    """Spark's file-index name filter (``HadoopFSUtils.shouldFilterOutPathName``):
    ``_``/``.`` names and in-flight copies are skipped, except ``k=v``
    names and the summary files."""
    if name.startswith(_SUMMARIES):
        return True
    return not (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _schema_file(root: str) -> tuple[str, set[str]] | None:
    """The file Spark's inference reads under a local ``root`` with
    ``mergeSchema`` off (``ParquetUtils.inferSchema``): the first
    ``_common_metadata``, else ``_metadata``, else data file by path, with
    the partition keys of the ``k=v`` directories on the way. ``None`` for
    a missing path, a directory with no data file, or a subdirectory that
    is not ``k=v`` (layouts whose inference this does not mirror)."""
    if os.path.isfile(root):
        return root, set()
    files, keys = [], set()
    for top, dirs, names in os.walk(root):
        dirs[:] = [d for d in dirs if _listed(d)]
        if any("=" not in d for d in dirs):
            return None
        keys.update(d.split("=", 1)[0].lower() for d in dirs)
        files += [os.path.join(top, n) for n in names if _listed(n)]
    files.sort()
    for summary in _SUMMARIES:
        hit = next((f for f in files if os.path.basename(f) == summary), None)
        if hit is not None:
            return hit, keys
    data = [f for f in files if os.path.basename(f) not in _SUMMARIES]
    return (data[0], keys) if data else None


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's inference gives ``path``, read on the driver from
    one footer through py4j with no Spark job. Spark's own
    ``readSchemaFromFooter`` and a converter built from the session conf
    keep its type rules (``inferTimestampNTZ``, ``nanosAsLong``, the
    Spark-written row metadata). ``None`` where inference must run
    instead: a session with no driver JVM (Spark Connect), a glob,
    ``mergeSchema`` on, a non-local file system, a layout
    ``_schema_file`` refuses, a footer that does not read or convert (a
    corrupt file, an unsupported type), or a data file that holds a
    partition column."""
    jsession = getattr(spark, "_jsparkSession", None)
    if jsession is None or _GLOB_CHARS.intersection(path):
        return None
    jvm = spark._jvm
    state = jsession.sessionState()
    if state.conf().isParquetSchemaMergingEnabled():
        return None
    conf = state.newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    if fs.getScheme() != "file":
        return None
    found = _schema_file(fs.makeQualified(hpath).toUri().getPath())
    if found is None:
        return None
    chosen, part_keys = found
    parquet = jvm.org.apache.parquet.hadoop
    fmt = jvm.org.apache.spark.sql.execution.datasources.parquet
    fpath = jvm.org.apache.hadoop.fs.Path(chosen)
    try:
        reader = parquet.ParquetFileReader.open(
            parquet.util.HadoopInputFile.fromPath(fpath, conf)
        )
        try:
            meta = reader.getFooter()
        finally:
            reader.close()
        jschema = fmt.ParquetFileFormat.readSchemaFromFooter(
            parquet.Footer(fpath, meta),
            fmt.ParquetToSparkSchemaConverter(state.conf()),
        )
    except (Py4JJavaError, CapturedException):
        return None
    schema = T._parse_datatype_json_string(jschema.json())
    if any(f.name.lower() in part_keys for f in schema.fields):
        return None
    return schema


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet scan (Fetchers.scala:79-90). Without ``schema``, the schema
    comes from ``_footer_schema`` (no Spark job); where that declines,
    Spark infers it, with today's errors for a missing or empty path.
    Partition columns are appended from the directory names either way."""
    if schema is None:
        schema = _footer_schema(spark, path)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """JSON-lines scan (Fetchers.scala:92-103)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV scan (Fetchers.scala:105-120)."""
    reader = spark.read.option("header", header).option("delimiter", delimiter)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC scan — no reference analog (Fetchers.scala stops at CSV), but
    ORC is the other columnar format a Spark-native engine must read;
    same pushdown/pruning contract as parquet (Spark's native vectorized
    ORC reader), same explicit-schema discipline."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_text(
    spark: SparkSession,
    path: str,
    whole_file: bool = False,
    line_col: str = "value",
) -> DataFrame:
    """Raw text scan — the corpus front door for crawl-shaped inputs
    (one row per line, or one row per FILE with ``whole_file=True``).
    Spark handles .gz/.zst-suffixed files transparently; a 100 TB text
    drop arrives as many files, so parallelism comes from the file
    listing, not from splitting (gzip is unsplittable — the per-file
    row carries its path for provenance)."""
    from pyspark.sql import functions as F

    df = spark.read.text(path, wholetext=whole_file)
    out = df.select(
        F.input_file_name().alias("path"),
        F.col("value").alias(line_col),
    )
    return out


def read_table(spark: SparkSession, name_or_path: str) -> DataFrame:
    """Managed-table scan (Fetchers.scala:122-128 reads Iceberg tables).

    Resolution: session-catalog table name first (covers Delta/parquet
    ``saveAsTable`` output), else treated as a parquet/Delta directory path.
    The ``_delta_log`` dispatch is wiring-tested only
    (tests/test_delta_wiring.py — delta-spark absent in this container).
    """
    looks_like_path = os.sep in name_or_path or name_or_path.startswith(".")
    if not looks_like_path and spark.catalog.tableExists(name_or_path):
        return spark.table(name_or_path)
    from mini_feature_store_spark.session import HAVE_DELTA

    if HAVE_DELTA and os.path.isdir(os.path.join(name_or_path, "_delta_log")):
        return spark.read.format("delta").load(name_or_path)
    return read_parquet(spark, name_or_path)


def load_testdata(
    spark: SparkSession, sf_dir: str, *names: str
) -> dict[str, DataFrame]:
    """Load driver testdata tables (TESTDATA.md) from a scale-factor dir.

    Each table goes through ``read_parquet``, so its schema comes from
    the file footer under the session's parquet type rules, and loading
    runs no Spark job.

    ``events.ts`` handling is *schema-adaptive*: depending on the parquet
    writer and Spark version, the physical column arrives either as a plain
    TIMESTAMP (timestamp[us] parquet, read natively) or as BIGINT nanoseconds
    (TIMESTAMP(NANOS) parquet surfaced via
    ``spark.sql.legacy.parquet.nanosAsLong``). We inspect the *read* schema and
    only apply the ns→µs floor-conversion when the column is integral —
    bit-identical to DuckDB's own ns→µs truncation, so oracle comparisons stay
    exact either way. Never assume one physical layout: that assumption broke
    every events query in round 2.
    """
    from pyspark.sql import functions as F

    from mini_feature_store_spark.schemas import TESTDATA_TABLES

    names = names or TESTDATA_TABLES
    out: dict[str, DataFrame] = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if n == "events":
            # Harmless when ts is already timestamp[us]; lets nanos parquet
            # load as BIGINT instead of erroring on Spark versions where the
            # legacy conf still applies.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = read_parquet(spark, path)
            ts_type = df.schema["ts"].dataType
            if isinstance(ts_type, (T.LongType, T.IntegerType)):
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif isinstance(ts_type, T.TimestampNTZType):
                # Oracle (DuckDB) reads this as naive timestamp too; keep a
                # session-TZ-stable TIMESTAMP for window/date functions.
                df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        else:
            df = read_parquet(spark, path)
        out[n] = df
    return out


def read_json_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> tuple[DataFrame, DataFrame]:
    """JSON scan with an error channel: returns ``(clean, quarantine)``.

    PERMISSIVE mode parks every malformed line's raw text in a corrupt-record
    column instead of failing the job (a poisoned record must never kill a
    100 TB ingest — same rule as the multimodal decode error column). The
    clean side drops the marker column; the quarantine side carries the raw
    line for replay/inspection. Both are lazy views over ONE scan definition;
    a malformed-input metric is ``quarantine.count()``.

    The reference's readJson (Fetchers.scala:92-103) is FAILFAST-by-default
    Spark behavior with a schema; this wraps the same scan with the
    production error channel.
    """
    from pyspark.sql import functions as F

    corrupt = "_corrupt_record"
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt, T.StringType(), True)]
    )
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .json(path)
    )
    clean = df.where(F.col(corrupt).isNull()).drop(corrupt)
    # Spark refuses plans that read ONLY the corrupt-record column from a
    # raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the quarantine side
    # therefore keeps the (partially parsed, mostly null) data columns next
    # to the raw line, which is also the more useful replay artifact.
    quarantine = df.where(F.col(corrupt).isNotNull()).select(
        *[f.name for f in schema.fields], F.col(corrupt).alias("raw_line")
    )
    return clean, quarantine
