#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py      # about 5 minutes on 4 cores

For each workload it runs the benchmark untraced and traced on tiny
generated inputs and checks that

- every end-to-end and per-layer metric prints, with the unit
  ``BENCHMARK.json`` declares, and the run is correct;
- the stage collector adds no Spark jobs (see ``check_jobs``);
- the verifier catches deliberately corrupted outputs.

Exits 0 when every check passes.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

SEED = 7
SECONDS = 1


def corrupt_feature_store(batch: dict) -> None:
    """Change one KV payload and drop one file of the training data."""
    kv = sorted(glob.glob(os.path.join(batch["kv_root"], "*.json")))[0]
    with open(kv) as f:
        payload = json.load(f)
    payload["event_count_30d"] = payload.get("event_count_30d", 0) + 1
    with open(kv, "w") as f:
        json.dump(payload, f)
    os.remove(sorted(glob.glob(os.path.join(batch["train"], "*", "*.parquet")))[0])


def corrupt_query_mix(results: dict) -> None:
    """Drop one row from one query's cold result."""
    cold = results["pricing_summary"]["cold"]
    cold["rows"] = cold["rows"][1:]


def check_jobs(w: str, off1: dict, off2: dict, on: dict, check) -> None:
    """The collector adds no Spark jobs.

    - Every job of the traced run falls inside a traced call. The collector
      runs only between calls, so a job it submitted would fall outside.
    - Within each traced call, the jobs its groups hold equal the jobs the
      DAG scheduler submitted during the call.
    - The traced run submits as many jobs as the untraced runs, up to the
      program's own run-to-run variation: calls whose job count differs
      between the two untraced runs are listed, and each may move the
      total by one job.
    """
    layer = on["result"]["metrics"]
    check(layer["collector.extra_jobs"]["value"] == 0,
          f"{w}: every job of the traced run falls inside a traced call")
    spans = on["detail"]["call_jobs"]
    grouped = on["detail"]["call_jobs_grouped"]
    check(spans == grouped,
          f"{w}: each traced call's job groups hold all of its jobs")
    a, b = off1["detail"]["jobs_total"], off2["detail"]["jobs_total"]
    varying = sorted({x[0] for x, y in zip(off1["detail"]["call_jobs"],
                                          off2["detail"]["call_jobs"]) if x != y})
    if varying:
        print(f"     {w}: job count varies between untraced runs in {varying}")
    c = on["detail"]["jobs_total"]
    slack = len(varying)
    check(min(a, b) - slack <= c <= max(a, b) + slack,
          f"{w}: jobs with the collector on {c}, off {a} and {b}")


def main() -> int:
    run.prepare_env()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    failures: list[str] = []

    def check(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    check(declared_e2e == run.END_TO_END, "BENCHMARK.json end_to_end matches run.py")
    check(declared_layer == run.per_layer_units(),
          "BENCHMARK.json per_layer matches run.py")
    check(sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS),
          "BENCHMARK.json workloads match run.py")
    tampers = {"feature_store": corrupt_feature_store,
               "query_mix": corrupt_query_mix}
    try:
        for w in run.WORKLOADS:
            base = ["--workload", w, "--seed", str(SEED), "--seconds",
                    str(SECONDS), "--scale", "tiny"]
            plain = run.run_workload(run.parse_args(base + ["--trace", "0"]))
            again = run.run_workload(run.parse_args(base + ["--trace", "0"]))
            traced = run.run_workload(run.parse_args(base + ["--trace", "1"]))
            for name, out, declared in (("untraced", plain, declared_e2e),
                                        ("traced", traced, declared_layer)):
                res = out["result"]
                units = {k: v["unit"] for k, v in res["metrics"].items()}
                check(units == declared,
                      f"{w} {name}: every metric prints with its unit")
                check(res["correct"] and res["failed"] == 0
                      and res["attempted"] >= 1,
                      f"{w} {name}: correct, {res['attempted']} attempted, "
                      f"{res['failed']} failed {out['detail']['errors']}")
            check_jobs(w, plain, again, traced, check)
            bad = run.run_workload(run.parse_args(base + ["--trace", "0"]),
                                   tamper=tampers[w])
            check(not bad["result"]["correct"] and bad["result"]["failed"] > 0,
                  f"{w}: corrupted output caught "
                  f"({bad['result']['failed']} failed)")
    finally:
        run.shutdown_jvm()
        shutil.rmtree(os.path.join(run.ROOT, ".perfbench_work"), ignore_errors=True)
    print(f"selftest: {len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
