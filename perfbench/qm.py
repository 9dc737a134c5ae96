"""The query_mix workload: registered queries, each cold then warm.

Cold means after ``spark.catalog.clearCache()`` and
``release_operator_caches()``; warm is the same query again right after.
The list is fixed; it takes about 20 s on a 4-core host.
Each run times the build (the query function returning its DataFrame)
and the execution (collecting its rows) separately.

Results are checked after the timed phase: against the DuckDB ``ORACLE``
SQL where the query has one, otherwise cold and warm must agree.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb

from probe import cpu_s

#: (query, class). The classes say which layer dominates the query.
QUERIES = (
    ("embedding_kmeans", "driver"),
    ("dedup_ngram_jaccard", "shuffle"),
    ("pricing_summary", "relational"),
    ("latest_event_per_user", "relational"),
    ("cohort_retention_weekly", "relational"),
)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def multiset(columns: list[str], rows) -> Counter:
    """Order-insensitive value multiset, columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def run(ctx, data_dir: str) -> tuple[dict, dict]:
    """Each query cold, then warm. Returns the runs and the CPU seconds the
    Spark JVM and its Python workers spent on the cold and the warm runs."""
    from mini_feature_store_spark.functions import release_operator_caches
    from mini_feature_store_spark.queries import QUERIES as REGISTRY

    spark, probe = ctx.spark, ctx.probe

    def once(name: str, phase: str) -> dict:
        fn = REGISTRY[name]
        c0 = cpu_s(ctx.jvm_pid)
        with probe.call(f"queries.{name}.{phase}") as total:
            with probe.call(f"queries.{name}.build") as build:
                df = ctx.attempt(name, lambda: fn(spark, data_dir))
            with probe.call(f"queries.{name}.exec") as exe:
                rows = None if df is None else ctx.attempt(name, df.collect)
        cpu[phase] += cpu_s(ctx.jvm_pid) - c0
        return {"total": total, "build": build, "exec": exe,
                "columns": None if df is None else df.columns, "rows": rows}

    out, cpu = {}, {"cold": 0.0, "warm": 0.0}
    for name, _ in QUERIES:
        spark.catalog.clearCache()
        release_operator_caches()
        out[name] = {"cold": once(name, "cold"), "warm": once(name, "warm")}
    spark.catalog.clearCache()
    release_operator_caches()
    return out, cpu


def verify(data_dir: str, results: dict) -> dict[str, int]:
    """1 for each query whose rows do not match, else 0. Cold and warm
    must agree; the cold rows must also match the query's ``ORACLE`` SQL
    where it has one."""
    from mini_feature_store_spark.queries import ORACLE

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    bad = {}
    for name, res in results.items():
        cold, warm = res["cold"], res["warm"]
        if cold["rows"] is None or warm["rows"] is None:
            bad[name] = 1
            continue
        got = multiset(cold["columns"], cold["rows"])
        ok = got == multiset(warm["columns"], warm["rows"])
        if name in ORACLE:
            cur = con.execute(ORACLE[name])
            cols = [d[0] for d in cur.description]
            ok = ok and sorted(cols) == sorted(cold["columns"]) and (
                got == multiset(cols, cur.fetchall()))
        bad[name] = 0 if ok else 1
    return bad
