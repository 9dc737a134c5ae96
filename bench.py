"""Benchmark harness (driver contract, see repo prompt).

Runs every registered query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints exactly ONE
JSON line: ``{"metric", "value", "unit", "queries", "sf"}``. Timing is
end-to-end per query (plan + execute + a count-style materialization that
touches every row without collecting them to the driver).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _calibrate(iters: int = 10_000_000, digits: int = 3) -> float:
    """Fixed single-core interpreter workload (~0.5-1.5 s at the default):
    measures the MACHINE, not the engine. This box is a VM whose effective
    CPU speed swings ~2× between runs with near-zero guest load and <5%
    steal (host/SMT contention is invisible to guest metrics); identical
    code measured 54.7 s and 123 s totals hours apart. Recording the
    calibration constant alongside the timings lets cross-round
    comparison normalize: query_seconds / calib_sec is stable when the
    code is unchanged. The per-query probes reuse this same loop at
    iters=1_000_000 — ONE copy of the workload, so the two scales can
    never drift apart."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i
    return round(time.perf_counter() - t0, digits)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or 0.1)
    calib = _calibrate()

    from mini_feature_store_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(
        app_name="mfss-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    # Warm the JVM (codegen compiler, shuffle machinery, parquet reader)
    # once so one-time session costs aren't attributed to the first query.
    from pyspark.sql import functions as F

    spark.range(1_000_000).groupBy((F.col("id") % 7).alias("k")).count().write.format(
        "noop"
    ).mode("overwrite").save()
    # ... and the Arrow/pandas-UDF worker pool (several operators use it).
    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(10_000).select(_warm("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    # ... and the parquet reader path (footer parsing, ns-timestamp conf).
    from mini_feature_store_spark.io import load_testdata

    load_testdata(spark, sf_dir, "events")["events"].write.format("noop").mode(
        "overwrite"
    ).save()

    qs = entrymod.queries()
    # Optional subset for local iteration: SPARK_GRAFT_BENCH_QUERIES=a,b,c
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset:
        names = [s.strip() for s in subset.split(",") if s.strip()]
        qs = {n: qs[n] for n in names}
    iterations = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "2"))
    timings: dict[str, float] = {}
    query_calib: dict[str, float] = {}
    for name, fn in qs.items():
        # Several operators persist() intermediates; dropping them between
        # QUERIES keeps ~70 queries' worth of cached partitions from
        # accumulating into storage-memory pressure that taxes later
        # queries' GC. Within a query the iterations share the cache
        # (CacheManager plan-matching), so best-of-N stays warm.
        spark.catalog.clearCache()
        best = float("inf")
        for _ in range(iterations):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            # Materialize every row executor-side; no driver collect.
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        # best-of-N: standard noise discipline — this box runs concurrent
        # jobs, and a single sample conflates scheduler contention with
        # query cost. N=2 keeps total wall ~2x.
        timings[name] = round(best, 3)
        # ~10%-scale machine-speed probe PER QUERY (host speed oscillates
        # on sub-minute timescales here — see _calibrate); lets any
        # consumer normalize each timing individually.
        query_calib[name] = _calibrate(iters=1_000_000, digits=4)
    total = round(sum(timings.values()), 3)
    spark.stop()
    # Key order matters: the driver archives only the TAIL of stdout, so
    # the per-query `queries` dict must serialize LAST (r4's archive caught
    # `query_calib` instead of the timings). json.dumps preserves insertion
    # order.
    payload = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        # local[cpus] core count: runs at different core counts overwrite
        # the same bench_results.json, so the artifact names its own
        "cpus": cpus,
        # machine-speed constant measured immediately before the run (and
        # again after — host contention can shift mid-run); see _calibrate.
        "calib_sec": calib,
        "calib_sec_end": _calibrate(),
        "query_calib": query_calib,
        "queries": timings,
    }
    # The driver archives only the tail of stdout, which truncates the first
    # ~15 queries' timings out of BENCH_r0N.json — persist the complete
    # per-query artifact in-repo so round-over-round comparison never needs
    # stdout archaeology. Skipped for subset runs to keep the artifact a
    # full picture.
    if not subset:
        out = Path(__file__).resolve().parent / "bench_results.json"
        out.write_text(json.dumps(payload, indent=1) + "\n")
    print(json.dumps(payload))
    # The driver archives only the LAST 2000 chars of stdout (measured:
    # BENCH_r08.json "tail" is exactly 2000 chars and "parsed" has been
    # null every round because the verbose line's opening brace is cut
    # off). Print a final COMPACT line sized to survive that window: the
    # headline numbers plus per-query milliseconds as a list — ~6
    # bytes/query instead of ~31, so 174 queries fit with room to spare.
    #
    # r17 measurement-contract fix (r16 verdict directive #1): the list
    # used to follow registry (VERIFY_ORDER) insertion order, which is
    # re-cut every round, so cross-round positional pairing broke
    # (PERF_r16 `n_common: 0`). The list is now SORTED BY QUERY NAME —
    # a round-stable order as long as the name set is unchanged — with
    # an explicit `order` marker and a names-set fingerprint
    # (sha256 of '\n'.join(sorted names), first 8 hex chars) so a
    # consumer can verify two rounds' lists pair before zipping them.
    # The full name → ms map still lives in bench_results.json
    # (committed) and in the verbose line above; timing methodology is
    # untouched.
    names_sorted = sorted(timings)
    compact = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "calib_sec": calib,
        "calib_sec_end": payload["calib_sec_end"],
        "n_queries": len(timings),
        "order": "sorted-names",
        "names_sha256": hashlib.sha256(
            "\n".join(names_sorted).encode()
        ).hexdigest()[:8],
        "queries_ms": [
            int(round(timings[n] * 1000)) for n in names_sorted
        ],
        # full runs point at the committed artifact for the name → ms
        # map; subset runs (which skip writing bench_results.json) carry
        # their few names inline so the ms list is never paired with a
        # stale map
        **(
            {"names": names_sorted}
            if subset
            else {"names_in": "bench_results.json"}
        ),
    }
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
