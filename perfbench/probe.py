"""Session set-up, call timing, spans and the Spark stage collector.

Every call into a program module goes through ``Probe.call``. Untraced, it
reads ``perf_counter`` around the call and the DAG scheduler's job counter
just outside it. Traced, it also

- records a span (name, start, end, parent, run id) in memory, and
- runs the call under its own Spark job group, then reads the jobs of that
  group and their stages from the JVM status store (``statusTracker`` and
  ``statusStore``; both work with ``spark.ui.enabled=false``).

The collector only reads driver-side bookkeeping, so it adds no Spark jobs;
the job counter lets a run prove that.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import threading
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0

#: What the collector reports for each traced call.
STAGE_KEYS = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "output_mb",
              "driver_gap_s")


def spark_conf(work: str, cpus: int) -> dict[str, str]:
    """The Spark settings the benchmark passes, recorded in every result.

    Driver memory stays far below host RAM (the program's default of 16g
    exceeds small hosts); scratch and warehouse directories stay inside the
    run's work directory.
    """
    return {
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp "
        f"-Dderby.system.home={work}/derby",
        "spark.ui.showConsoleProgress": "false",
    }


def warmup(spark) -> None:
    """The first job of a session: one aggregation with a shuffle."""
    from pyspark.sql import functions as F

    spark.range(20_000).groupBy((F.col("id") % 97).alias("k")).count().collect()


def setup_session(conf: dict[str, str], repeats: int):
    """``get_spark`` plus the warm-up job, ``repeats`` times.

    The first set-up launches the JVM; the later ones stop the session and
    build it again in the same JVM. Returns the last session and the list
    of ``(get_spark_s, warmup_s)`` pairs.
    """
    from mini_feature_store_spark.session import get_spark

    extra = {k: v for k, v in conf.items() if k != "spark.master"}
    times = []
    spark = None
    for _ in range(repeats):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            master=conf["spark.master"],
            shuffle_partitions=int(conf["spark.sql.shuffle.partitions"]),
            extra_conf=extra,
        )
        t1 = time.perf_counter()
        warmup(spark)
        times.append((t1 - t0, time.perf_counter() - t1))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, times


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def cpu_s(pid: int) -> float:
    """CPU seconds (user plus system) used so far by a process, its live
    descendants, and the children they have reaped: the Spark JVM together
    with its Python workers."""
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            f = _stat(p)
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as c:
                    todo += [int(x) for x in c.read().split()]
        except OSError:  # exited meanwhile
            continue
    return total / os.sysconf("SC_CLK_TCK")


class RssPoller:
    """Peak resident memory of the Spark JVM, polled from ``/proc``."""

    def __init__(self, pid: int, period: float = 0.05):
        self.pid, self.period, self.peak_kb = pid, period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _read(self) -> int:
        try:
            with open(f"/proc/{self.pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._read())
            self._stop.wait(self.period)

    def start(self) -> "RssPoller":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
        self.peak_kb = max(self.peak_kb, self._read())
        return self.peak_kb / 1024.0


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Probe:
    """Times calls into the program; traced, also records spans and the
    Spark jobs and stages each call ran."""

    def __init__(self, spark, traced: bool, run_id: str):
        self.spark, self.traced, self.run_id = spark, traced, run_id
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self.records: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.jobs_start = self.jobs_total()

    def jobs_total(self) -> int:
        """Jobs this SparkContext has submitted so far."""
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def call(self, name: str, **attrs):
        """Time one call; yields the record that receives its figures.

        Both modes read the job counter just outside the timed region
        (``jobs_seen``), so job counts can be compared with the collector
        on and off."""
        rec = {"name": name, "wall_s": 0.0, **attrs}
        self.records.append(rec)
        span = self._open(name, attrs) if self.traced else None
        j0 = self.jobs_total()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["jobs_seen"] = self.jobs_total() - j0
            if span is not None:
                self._close(span, rec)

    def _open(self, name: str, attrs: dict) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {"id": next(self._ids), "parent": parent["id"] if parent else None,
                "run": self.run_id, "name": name, **attrs}
        span["groups"] = [f"pb-{self.run_id}-{span['id']}"]
        self.sc.setJobGroup(span["groups"][0], name)
        self._stack.append(span)
        span["start"] = time.time()
        return span

    def _close(self, span: dict, rec: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()
        if self._stack:
            parent = self._stack[-1]
            self.sc.setJobGroup(parent["groups"][0], parent["name"])
            parent["groups"] += span["groups"]
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        span.update(self._collect(span.pop("groups"), span["start"], span["end"]))
        span["wall_s"] = rec["wall_s"]
        rec.update({k: span[k] for k in STAGE_KEYS})
        self.spans.append(span)

    def _collect(self, groups: list[str], start: float, end: float) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        busy = []
        tracker = self.sc.statusTracker()
        for jid in (j for g in groups for j in tracker.getJobIdsForGroup(g)):
            job = store.job(jid)
            out["jobs"] += 1
            a, b = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if a is not None:
                busy.append((max(a, start), min(b or end, end)))
            for sid in str(job.stageIds().mkString(",")).split(","):
                if not sid:
                    continue
                try:
                    st = store.lastStageAttempt(int(sid))
                except Exception:  # skipped stage: never attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["exec_run_s"] += st.executorRunTime() / 1e3
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled()
                                    + st.diskBytesSpilled()) / MB
                out["output_mb"] += st.outputBytes() / MB
        out["driver_gap_s"] = max(0.0, (end - start) - _union_len(busy))
        return out

    def self_times(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the time children cover."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return [
            {**s, "self_s": (s["end"] - s["start"])
             - _union_len(kids.get(s["id"], []))}
            for s in self.spans
        ]

    def write_trace(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.self_times(), **extra}, f, indent=1)



def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` in (0, 100]."""
    v = sorted(values)
    return v[max(0, math.ceil(q / 100.0 * len(v)) - 1)]
