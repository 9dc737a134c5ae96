"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` on DuckDB over the same testdata dir, then compares
row count + column names + an order-insensitive value multiset. Each
line ends with ``spark_s`` (plan build + collect) and, for oracled
queries, ``duck_s`` (oracle execute + fetch), in seconds.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from collections import Counter
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from mini_feature_store_spark.schemas import TESTDATA_TABLES  # noqa: E402
from mini_feature_store_spark.session import get_spark  # noqa: E402


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def complex_cols(sdf) -> list[str]:
    """Columns the DRIVER's pandas canonicalizer cannot hash.

    The driver sorts result rows with pandas ``sort_values``, which raises
    ``TypeError: unhashable type`` on list/dict cells (r4:
    ``embedding_int8_quant``). Oracled query outputs must therefore be
    scalar-only — this replica REJECTS them instead of tuple-izing lists,
    so local green always implies driver green.
    """
    from pyspark.sql import types as T

    return [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        sdf = fn(spark, sf_dir)
        if name in oracles:
            bad = complex_cols(sdf)
            if bad:
                print(
                    f"  {name:28s} FAIL oracled output has non-scalar "
                    f"column(s) {bad} — driver's pandas canonicalizer "
                    f"cannot hash these; serialize (array_join/md5) instead "
                    f"spark_s={time.perf_counter() - t0:.2f}"
                )
                failures += 1
                continue
        srows = sdf.collect()
        spark_s = time.perf_counter() - t0
        if name not in oracles:
            # Rows-only queries may legitimately return array/map columns
            # (the registry lint permits it); building the normalized
            # multiset here would raise on unhashable list cells, so only
            # the row count is taken for them.
            print(
                f"  {name:28s} rows={len(srows):7d}  (no oracle — rows-only) "
                f"spark_s={spark_s:.2f}"
            )
            continue
        scols = sorted(sdf.columns)
        spark_set = Counter(
            tuple(norm(r[c]) for c in scols) for r in srows
        )
        t0 = time.perf_counter()
        res = con.execute(oracles[name])
        dcols_raw = [d[0] for d in res.description]
        drows = res.fetchall()
        duck_s = time.perf_counter() - t0
        order = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
        dcols = sorted(dcols_raw)
        duck_set = Counter(
            tuple(norm(row[i]) for i in order) for row in drows
        )
        ok_cols = scols == dcols
        ok_rows = len(srows) == len(drows)
        ok_vals = spark_set == duck_set
        status = "OK " if (ok_cols and ok_rows and ok_vals) else "FAIL"
        print(
            f"  {name:28s} {status} rows={len(srows):7d}/{len(drows):7d} "
            f"cols={'=' if ok_cols else f'{scols} vs {dcols}'} vals={'=' if ok_vals else 'DIFF'} "
            f"spark_s={spark_s:.2f} duck_s={duck_s:.2f}"
        )
        if not (ok_cols and ok_rows and ok_vals):
            failures += 1
            if not ok_vals:
                only_s = list((spark_set - duck_set).items())[:3]
                only_d = list((duck_set - spark_set).items())[:3]
                print(f"    spark-only: {only_s}")
                print(f"    duck-only : {only_d}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
