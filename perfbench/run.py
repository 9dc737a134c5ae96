#!/usr/bin/env python3
"""Benchmark of the feature store, end to end and per module.

    python3 perfbench/run.py --workload feature_store --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``,
sets up Spark, measures the workload, checks every output and prints one
JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; ``--trace 1`` turns on spans and the Spark
stage collector and reports the per-layer metrics instead. The line before
it (``perfbench detail: {...}``) carries the workload's own figures, the
Spark settings, ``cpus`` and a machine-speed calibration. Results and traces
are also written to ``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from probe import Probe, RssPoller, setup_session, spark_conf  # noqa: E402

WORKLOADS = ("feature_store", "query_mix")
SETUP_REPEATS = 3

#: Wall times are not among them: on a shared VM they follow the
#: hypervisor's steal time (10-20% steal stretched a batch cycle by 40-80%).
END_TO_END = {
    "setup_s": "s",
    "batch_cpu_s": "s",
    "spark_jobs": "count",
}

#: The workload figures under their own names; untraced they go to the
#: detail line, traced they are per-layer metrics with a ``traced.`` prefix.
WORKLOAD_FIGURES = {
    "batch_s": "s",
    "backfill_s": "s",
    "daily_refresh_s": "s",
    "training_build_s": "s",
    "batch_warmup_s": "s",
    "online_closed_p50_ms": "ms",
    "online_p50_ms": "ms",
    "online_p99_ms": "ms",
    "online_max_rps": "1/s",
    "offline_p50_s": "s",
    "query_cold_s": "s",
    "query_warm_s": "s",
    "error_rate": "ratio",
    "batch_cpu_s": "s",
    "server_cpu_us": "us",
    "query_cold_cpu_s": "s",
    "query_warm_cpu_s": "s",
}

PIPELINES = ("backfill", "backfill_incr", "pit_join", "online_sync")
PIPELINE_KEYS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "exec_run_s": "s", "exec_cpu_s": "s", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB", "driver_gap_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from qm import QUERIES

    units = {"session.get_spark_s": "s", "session.warmup_s": "s",
             "jvm.peak_rss_mb": "MB"}
    for p in PIPELINES:
        for k, u in PIPELINE_KEYS.items():
            units[f"pipelines.{p}.{k}"] = u
    units.update({
        "io.tables.full_write_mb": "MB", "io.tables.append_write_mb": "MB",
        "io.tables.new_day_mb": "MB", "io.tables.write_amp": "ratio",
        "kv.get_p50_us": "us", "kv.get_p99_us": "us",
        "api.service.online_get_p50_us": "us",
        "api.service.online_get_p99_us": "us",
        "api.http.connect_p50_ms": "ms", "api.http.ttfb_p50_ms": "ms",
        "api.http.gen_late_ms": "ms", "api.http.sent": "count",
        "api.http.ok": "count", "api.http.not_found": "count",
        "api.http.failed": "count",
        "api.service.offline_jobs": "count",
        "api.service.offline_exec_run_s": "s",
    })
    for q, _ in QUERIES:
        units.update({f"queries.{q}.build_s": "s", f"queries.{q}.exec_cold_s": "s",
                      f"queries.{q}.build_jobs": "count",
                      f"queries.{q}.exec_jobs": "count"})
    units.update({"queries.driver_gap_s": "s", "queries.exec_run_s": "s",
                  "queries.shuffle_write_mb": "MB", "queries.spill_mb": "MB"})
    units.update({f"traced.{k}": u for k, u in WORKLOAD_FIGURES.items()})
    units.update({"collector.jobs_total": "count", "collector.extra_jobs": "count"})
    return units


def calibrate(iters: int = 2_000_000) -> float:
    """Seconds for a fixed single-core interpreter loop: the machine's
    speed, independent of the program."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i
    return time.perf_counter() - t0


def host_cpu_ticks() -> list[int]:
    """The host's CPU time counters from ``/proc/stat`` (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Context:
    """What a workload needs: the session, the probe, the time budget, and
    a record of the calls that raised. The workload marks where its
    measured phase starts and ends; the JVM's memory is polled in between."""

    def __init__(self, spark, probe, seconds: float):
        self.spark, self.probe, self.seconds = spark, probe, seconds
        self.root = ROOT
        self.jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
        self.errors: dict[str, str] = {}
        self.rss = RssPoller(self.jvm_pid)
        self.t0 = self.t1 = self.steal_share = 0.0

    def start_measuring(self) -> None:
        self.t0 = time.perf_counter()
        self.host0 = host_cpu_ticks()
        self.rss.start()

    def stop_measuring(self) -> None:
        self.t1 = time.perf_counter()
        d = [b - a for a, b in zip(self.host0, host_cpu_ticks())]
        self.steal_share = d[7] / max(1, sum(d))

    def attempt(self, label: str, fn):
        try:
            return fn()
        except Exception as e:  # counted as a failed operation
            self.errors.setdefault(label, f"{type(e).__name__}: {e}"[:500])
            return None


def run_feature_store(ctx, work: str, seed: int, scale: str, tamper) -> dict:
    import fs

    inp = gen.fs_inputs(os.path.join(work, "in"), seed, scale)
    streams = gen.serving_streams(seed, inp["users"], 20_000, fs.UNKNOWN_SHARE,
                                  fs.OFFLINE_CALLS, inp["start"], inp["full_end"])
    tags = ["warmup"] + [str(i) for i in range(fs.TIMED_CYCLES)]
    ctx.start_measuring()
    warmup = fs.batch_phase(ctx, inp, os.path.join(work, "warmup"), tags[0])
    # serving reads the warm-up cycle's stores; meanwhile the JIT compiler
    # works off what the warm-up queued, before the measured cycles
    serving = fs.serving_phase(ctx, inp, warmup, streams)
    cycles = [fs.batch_phase(ctx, inp, os.path.join(work, f"cycle{t}"), t)
              for t in tags[1:]]
    ctx.stop_measuring()
    layer = {}
    if ctx.probe.traced:
        layer.update(fs.in_process_gets(warmup, streams["online_keys"][:2000]))
    if tamper:
        tamper(cycles[-1])
    bad = fs.verify(inp, [warmup] + cycles, serving)
    failed = sum(1 for tag, b in zip(tags, bad["cycles"]) for p in PIPELINES
                 if f"{p}@{tag}" in ctx.errors or b[p])
    failed += bad["http"] + bad["offline"]
    failed += bad["unknown_sent"] != bad["not_found"]
    attempted = (len(PIPELINES) * len(tags) + len(serving["requests"])
                 + len(serving["offline"]))

    def wall(call: str, c: dict) -> float:
        return c["calls"][call]["wall_s"]

    def batch_wall(c: dict) -> float:
        return (wall("backfill", c) + wall("daily_refresh", c)
                + wall("pit_join", c))

    def med(f) -> float:
        return statistics.median(f(c) for c in cycles)

    figures = {
        "batch_s": med(batch_wall),
        "backfill_s": med(lambda c: wall("backfill", c)),
        "daily_refresh_s": med(lambda c: wall("daily_refresh", c)),
        "training_build_s": med(lambda c: wall("pit_join", c)),
        "batch_warmup_s": batch_wall(warmup),
        "online_closed_p50_ms": serving["online_closed_p50_ms"],
        "online_p50_ms": serving["online_p50_ms"],
        "online_p99_ms": serving["online_p99_ms"],
        "online_max_rps": serving["online_max_rps"],
        "offline_p50_s": serving["offline_p50_s"],
        "batch_cpu_s": med(lambda c: c["cpu_s"]),
        "server_cpu_us": serving["server_cpu_us"],
    }
    e2e = {"batch_cpu_s": figures["batch_cpu_s"]}
    if ctx.probe.traced:
        for p in PIPELINES:
            for k in PIPELINE_KEYS:
                layer[f"pipelines.{p}.{k}"] = med(lambda c: c["calls"][p][k])
        layer.update({f"io.tables.{k}": v for k, v in cycles[-1]["io"].items()})
        fixed = serving["fixed"]
        statuses = [r["status"] for _, r in serving["requests"]]
        offline = [rec for *_, rec in serving["offline"]]
        layer.update({
            "api.http.connect_p50_ms": statistics.median(
                r["connect_s"] for r in fixed) * 1e3,
            "api.http.ttfb_p50_ms": statistics.median(
                r["ttfb_s"] for r in fixed) * 1e3,
            "api.http.gen_late_ms": serving["gen_late_ms"],
            "api.http.sent": len(statuses),
            "api.http.ok": statuses.count(200),
            "api.http.not_found": statuses.count(404),
            "api.http.failed": sum(s not in (200, 404) for s in statuses),
            "api.service.offline_jobs": statistics.mean(r["jobs"] for r in offline),
            "api.service.offline_exec_run_s": statistics.mean(
                r["exec_run_s"] for r in offline),
        })
    return {"attempted": attempted, "failed": failed, "figures": figures,
            "e2e": e2e, "layer": layer, "checks": bad,
            "batch_cycles_s": [batch_wall(c) for c in [warmup] + cycles],
            "batch_cycles_cpu_s": [c["cpu_s"] for c in [warmup] + cycles]}


def run_query_mix(ctx, work: str, seed: int, scale: str, tamper) -> dict:
    import qm

    data = gen.query_inputs(os.path.join(work, "in"), seed, scale)
    ctx.start_measuring()
    res, cpu = qm.run(ctx, data)
    ctx.stop_measuring()
    if tamper:
        tamper(res)
    bad = qm.verify(data, res)
    cold = sum(r["cold"]["total"]["wall_s"] for r in res.values())
    warm = sum(r["warm"]["total"]["wall_s"] for r in res.values())
    figures = {"query_cold_s": cold, "query_warm_s": warm,
               "query_cold_cpu_s": cpu["cold"], "query_warm_cpu_s": cpu["warm"]}
    per_query = {q: {p: r[p]["total"]["wall_s"] for p in ("cold", "warm")}
                 for q, r in res.items()}
    e2e = {"batch_cpu_s": cpu["cold"]}
    layer = {}
    if ctx.probe.traced:
        for name, r in res.items():
            c = r["cold"]
            layer.update({
                f"queries.{name}.build_s": c["build"]["wall_s"],
                f"queries.{name}.exec_cold_s": c["exec"]["wall_s"],
                f"queries.{name}.build_jobs": c["build"]["jobs"],
                f"queries.{name}.exec_jobs": c["exec"]["jobs"],
            })
        tops = [r[p]["total"] for r in res.values() for p in ("cold", "warm")]
        for k in ("driver_gap_s", "exec_run_s", "shuffle_write_mb", "spill_mb"):
            layer[f"queries.{k}"] = sum(t[k] for t in tops)
    failed = sum(1 for q in res if q in ctx.errors or bad[q])
    return {"attempted": len(res), "failed": failed, "figures": figures,
            "e2e": e2e, "layer": layer, "checks": bad, "query_times": per_query}


def run_workload(args, tamper=None) -> dict:
    """One measured run; returns the result (the printed JSON plus the
    detail). The Spark session is stopped at the end, the JVM is not."""
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    conf = spark_conf(work, cpus)
    calib = calibrate()

    spark, setups = setup_session(conf, SETUP_REPEATS)
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    probe = Probe(spark, bool(args.trace), run_id)
    ctx = Context(spark, probe, float(args.seconds))
    runner = run_feature_store if args.workload == "feature_store" else run_query_mix
    try:
        out = runner(ctx, work, args.seed, args.scale, tamper)
    finally:
        peak_mb = ctx.rss.stop()
        jobs_total = probe.jobs_total() - probe.jobs_start
        spark.stop()
    shutil.rmtree(work, ignore_errors=True)

    setup_times = [a + b for a, b in setups]
    e2e = {"setup_s": statistics.median(setup_times), **out["e2e"],
           "spark_jobs": jobs_total}
    figures = {**out["figures"],
               "error_rate": out["failed"] / max(1, out["attempted"])}
    if args.trace:
        grouped = sum(s["jobs"] for s in probe.spans if s["parent"] is None)
        units = per_layer_units()
        layer = dict.fromkeys(units, 0.0)
        layer.update(out["layer"])
        layer.update({"session.get_spark_s": setups[0][0],
                      "session.warmup_s": setups[0][1],
                      "jvm.peak_rss_mb": peak_mb,
                      "collector.jobs_total": jobs_total,
                      "collector.extra_jobs": jobs_total - grouped})
        layer.update({f"traced.{k}": v for k, v in figures.items()})
        metrics = {k: {"value": float(v), "unit": units[k]}
                   for k, v in layer.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "cpus": cpus,
        "calibration_s": calib, "spark_conf": conf,
        "measured_s": ctx.t1 - ctx.t0,
        "steal_share": ctx.steal_share,
        "checked_s": time.perf_counter() - ctx.t1,
        "setup_runs_s": setup_times, "jobs_total": jobs_total,
        "call_jobs": [(r["name"], r["jobs_seen"]) for r in probe.records],
        "call_jobs_grouped": [(r["name"], r.get("jobs", r["jobs_seen"]))
                              for r in probe.records],
        "peak_rss_mb": peak_mb,
        "figures": {k: {"value": v, "unit": WORKLOAD_FIGURES[k]}
                    for k, v in figures.items()},
        "end_to_end": e2e, "checks": out["checks"], "errors": ctx.errors,
        "query_times": out.get("query_times"),
        "batch_cycles_s": out.get("batch_cycles_s"),
        "batch_cycles_cpu_s": out.get("batch_cycles_cpu_s"),
    }
    result = {"correct": out["failed"] == 0, "attempted": out["attempted"],
              "failed": out["failed"], "metrics": metrics}
    outdir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(outdir, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}"
    with open(os.path.join(outdir, f"{stem}-t{args.trace}.json"), "w") as f:
        json.dump({"result": result, "detail": detail}, f, indent=1)
    if args.trace:
        detail["tracing_overhead"] = tracing_overhead(outdir, stem, detail)
        probe.write_trace(os.path.join(outdir, f"{stem}-trace.json"),
                          {"detail": detail})
    return {"result": result, "detail": detail}


def tracing_overhead(outdir: str, stem: str, traced: dict) -> dict:
    """Traced minus untraced figures, when an untraced run of the same
    workload and seed left its result in ``outdir``."""
    try:
        with open(os.path.join(outdir, f"{stem}-t0.json")) as f:
            plain = json.load(f)["detail"]
    except (OSError, ValueError, KeyError):
        return {}
    out = {k: traced["end_to_end"][k] - v
           for k, v in plain["end_to_end"].items() if k in traced["end_to_end"]}
    out.update({k: traced["figures"][k]["value"] - v["value"]
                for k, v in plain["figures"].items() if k in traced["figures"]})
    return out


def shutdown_jvm() -> None:
    """Stop the JVM that PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the program."""
    tmp = os.path.join(ROOT, ".perfbench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the self-test")
    return p.parse_args(argv)


def main() -> int:
    args = parse_args()
    prepare_env()
    try:
        import mini_feature_store_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    try:
        out = run_workload(args)
    finally:
        shutdown_jvm()
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work"), ignore_errors=True)
    print("perfbench detail: " + json.dumps(out["detail"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
