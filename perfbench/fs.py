"""The feature_store workload: batch pipelines, then the serving API.

Batch cycle, on fresh table directories: a full backfill up to the last
full day, a one-day ``run_backfill_incremental`` append, the point-in-time
join and the online sync into a ``FileKVStore``. The first cycle of a JVM
pays for class loading, code generation and JIT compilation, so one
warm-up cycle runs first, then the serving phase, then ``TIMED_CYCLES``
measured cycles.

Serving phase, against the stores the warm-up cycle wrote:

- online: ``GET /features/online/{id}`` against
  ``api.http_server.make_server`` in a child process, first in a closed
  loop of one client, then in an open loop at a fixed offered rate, then
  up a fixed ladder of rates;
- offline: a closed loop of one client calling
  ``OfflineFeatureService.get(user, as_of)`` (one Spark query each).

Every output is checked against DuckDB after the timed phases.
"""

from __future__ import annotations

import json
import os
import queue
import socket
import subprocess
import sys
import threading
import time
from statistics import median

import duckdb

from probe import cpu_s, pct

#: measured batch cycles after the warm-up; the run reports their median.
#: One keeps a run near a minute on a 4-core VM; each more adds about 10 s.
TIMED_CYCLES = 1
#: closed-loop requests per second of ``--seconds``
CLOSED_PER_S = 20
#: the fixed offered rate, run for this share of ``--seconds``
FIXED_RPS = 250
FIXED_SHARE = 0.1
#: the rate ladder; each rung runs for this share of ``--seconds``
LADDER_RPS = (200, 400, 600, 800, 1000)
RUNG_SHARE = 0.015
P99_LIMIT_MS = 50.0
CONNECTIONS = 4
UNKNOWN_SHARE = 0.1
OFFLINE_CALLS = 3
LOOKBACK_DAYS = 7


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if f.endswith(".parquet"))
    return total / (1024.0 * 1024.0)


def batch_phase(ctx, inp: dict, work: str, cycle: str) -> dict:
    """One batch cycle into ``work``; a call that raises is recorded under
    ``<pipeline>@<cycle>``."""
    from mini_feature_store_spark.pipelines.backfill import (
        BackfillConfig, run_backfill, run_backfill_incremental)
    from mini_feature_store_spark.pipelines.online_sync import (
        FileKVStore, OnlineSyncConfig, run_online_sync)
    from mini_feature_store_spark.pipelines.pit_join import (
        PointInTimeJoinConfig, run_pit_join)

    spark, probe = ctx.spark, ctx.probe
    table, kv_root = os.path.join(work, "features"), os.path.join(work, "kv")
    train = os.path.join(work, "training")
    calls = {}
    cpu0 = cpu_s(ctx.jvm_pid)
    with probe.call("pipelines.backfill") as calls["backfill"]:
        ctx.attempt(f"backfill@{cycle}", lambda: run_backfill(spark, BackfillConfig(
            inp["events"], table, inp["start"], inp["full_end"])))
    with probe.call("daily_refresh") as calls["daily_refresh"]:
        with probe.call("pipelines.backfill_incr") as calls["backfill_incr"]:
            ctx.attempt(f"backfill_incr@{cycle}", lambda: run_backfill_incremental(spark, BackfillConfig(
                inp["events"], table, inp["start"], inp["incr_end"])))
        with probe.call("pipelines.online_sync") as calls["online_sync"]:
            ctx.attempt(f"online_sync@{cycle}", lambda: run_online_sync(
                spark,
                OnlineSyncConfig(table, as_of=inp["incr_end"],
                                 lookback_days=LOOKBACK_DAYS),
                lambda: FileKVStore(kv_root)))
    with probe.call("pipelines.pit_join") as calls["pit_join"]:
        ctx.attempt(f"pit_join@{cycle}", lambda: run_pit_join(spark, PointInTimeJoinConfig(
            inp["labels"], table, train)))
    batch_cpu = cpu_s(ctx.jvm_pid) - cpu0
    full_mb = dir_mb(os.path.join(table, "v=0"))
    append_mb = dir_mb(os.path.join(table, "v=1"))
    new_day_mb = dir_mb(os.path.join(table, "v=1", f"day={inp['incr_end']}"))
    return {
        "calls": calls, "table": table, "kv_root": kv_root, "train": train,
        "cpu_s": batch_cpu,
        "io": {"full_write_mb": full_mb, "append_write_mb": append_mb,
               "new_day_mb": new_day_mb,
               "write_amp": append_mb / new_day_mb if new_day_mb else 0.0},
    }


# --------------------------------------------------------------- online load

class Server:
    """``make_server`` over the synced KV store, in a child process."""

    def __init__(self, root: str, kv_root: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__),
                                          "serve_child.py"), root, kv_root],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline()
        if not line.strip().isdigit():
            self.close()
            raise RuntimeError(f"server child did not start: {line!r}")
        self.port = int(line)
        self.cpu_ready_s = cpu_s(self.proc.pid)

    def close(self) -> None:
        self.cpu_s = cpu_s(self.proc.pid)
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=10)
        except Exception:
            self.proc.kill()
            self.proc.wait()


def http_get(port: int, path: str, timeout: float = 2.0) -> dict:
    """One HTTP/1.0 GET on a fresh connection, with its phase times."""
    t0 = time.perf_counter()
    s = socket.create_connection(("127.0.0.1", port), timeout=timeout)
    try:
        t_conn = time.perf_counter()
        s.sendall(f"GET {path} HTTP/1.0\r\nHost: bench\r\n\r\n".encode())
        chunks = [s.recv(65536)]
        t_first = time.perf_counter()
        while chunks[-1]:
            chunks.append(s.recv(65536))
    finally:
        s.close()
    raw = b"".join(chunks)
    head, _, body = raw.partition(b"\r\n\r\n")
    status = int(head.split(b" ", 2)[1]) if head else 0
    return {"status": status, "body": body, "connect_s": t_conn - t0,
            "ttfb_s": t_first - t0}


def get_online(port: int, key: str) -> dict:
    """``GET /features/online/{key}``; a refused or timed-out request has
    status 0."""
    try:
        return http_get(port, f"/features/online/{key}")
    except OSError as e:
        return {"status": 0, "body": str(e).encode(), "connect_s": 0.0,
                "ttfb_s": 0.0}


def closed_loop(port: int, keys: list[str]) -> dict:
    """One client: each request is sent when the previous one returned."""
    results = []
    for k in keys:
        t0 = time.perf_counter()
        r = get_online(port, k)
        r["latency_s"] = time.perf_counter() - t0
        results.append(r)
    return {"results": results,
            "p50_ms": median([r["latency_s"] for r in results]) * 1e3}


def open_loop(port: int, keys: list[str], rate: float) -> dict:
    """Send ``keys`` at ``rate`` per second from a dispatcher thread, on at
    most ``CONNECTIONS`` concurrent connections. Latency is timed from each
    request's due time, so queueing behind a stall counts."""
    todo: queue.Queue = queue.Queue()
    results: list = [None] * len(keys)
    late: list[float] = []

    def worker():
        while True:
            item = todo.get()
            if item is None:
                return
            i, due = item
            start = time.perf_counter()
            r = get_online(port, keys[i])
            r["latency_s"] = time.perf_counter() - due
            r["wait_s"] = start - due
            results[i] = r

    threads = [threading.Thread(target=worker) for _ in range(CONNECTIONS)]
    for t in threads:
        t.start()
    t0 = time.perf_counter() + 0.01
    for i in range(len(keys)):
        due = t0 + i / rate
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        late.append(max(0.0, time.perf_counter() - due))
        todo.put((i, due))
    for _ in threads:
        todo.put(None)
    for t in threads:
        t.join()
    lat = [r["latency_s"] * 1e3 for r in results]
    q = max(1, len(results) // 4)
    first = median([r["wait_s"] for r in results[:q]])
    last = median([r["wait_s"] for r in results[-q:]])
    return {
        "results": results,
        "p50_ms": median(lat),
        "p99_ms": pct(lat, 99),
        "gen_late_ms": pct(late, 99) * 1e3,
        "backlog_grew": (last - first) > 0.005,
    }


def serving_phase(ctx, inp: dict, batch: dict, streams: dict) -> dict:
    from mini_feature_store_spark.api.service import OfflineFeatureService
    from mini_feature_store_spark.io.tables import VersionedTable

    probe, seconds = ctx.probe, ctx.seconds
    keys = streams["online_keys"]
    n_closed = int(CLOSED_PER_S * seconds)
    n_fixed = int(FIXED_RPS * seconds * FIXED_SHARE)
    out: dict = {"requests": [], "online_max_rps": 0.0}
    server = Server(ctx.root, batch["kv_root"])
    try:
        with probe.call("api.http.closed_loop"):
            closed = closed_loop(server.port, keys[:n_closed])
        out["online_closed_p50_ms"] = closed["p50_ms"]
        out["requests"] += zip(keys[:n_closed], closed["results"])
        ks = keys[n_closed:n_closed + n_fixed]
        with probe.call("api.http.fixed_rate", rps=FIXED_RPS):
            fixed = open_loop(server.port, ks, FIXED_RPS)
        out.update(online_p50_ms=fixed["p50_ms"], online_p99_ms=fixed["p99_ms"],
                   gen_late_ms=fixed["gen_late_ms"], fixed=fixed["results"])
        out["requests"] += zip(ks, fixed["results"])
        pos = n_closed + n_fixed
        for rate in LADDER_RPS:
            ks = [keys[(pos + j) % len(keys)]
                  for j in range(int(rate * seconds * RUNG_SHARE))]
            pos += len(ks)
            with probe.call("api.http.ladder", rps=rate):
                rung = open_loop(server.port, ks, rate)
            out["requests"] += zip(ks, rung["results"])
            if rung["p99_ms"] > P99_LIMIT_MS or rung["backlog_grew"]:
                break
            out["online_max_rps"] = float(rate)
    finally:
        server.close()
    out["server_cpu_us"] = ((server.cpu_s - server.cpu_ready_s)
                            / max(1, len(out["requests"])) * 1e6)
    svc = OfflineFeatureService(
        ctx.spark, lambda s: VersionedTable(batch["table"]).read(s))
    out["offline"] = []
    for user, as_of in streams["offline"][:OFFLINE_CALLS]:
        with probe.call("api.service.offline_get") as rec:
            resp = ctx.attempt("offline", lambda: svc.get(user, as_of))
        out["offline"].append((user, as_of, resp, rec))
    out["offline_p50_s"] = median([r["wall_s"] for *_, r in out["offline"]])
    return out


def in_process_gets(batch: dict, keys: list[str]) -> dict:
    """Direct calls into the KV store and the online service, without the
    transport (traced runs only)."""
    from mini_feature_store_spark.api.service import (
        ApiError, OnlineFeatureService)
    from mini_feature_store_spark.pipelines.online_sync import FileKVStore

    kv = FileKVStore(batch["kv_root"])
    svc = OnlineFeatureService(kv)
    kv_t, svc_t = [], []
    for k in keys:
        t0 = time.perf_counter_ns()
        kv.get(f"features:{k}")
        t1 = time.perf_counter_ns()
        try:
            svc.get(k)
        except ApiError:
            pass
        svc_t.append((time.perf_counter_ns() - t1) / 1e3)
        kv_t.append((t1 - t0) / 1e3)
    return {"kv.get_p50_us": median(kv_t), "kv.get_p99_us": pct(kv_t, 99),
            "api.service.online_get_p50_us": median(svc_t),
            "api.service.online_get_p99_us": pct(svc_t, 99)}


# ------------------------------------------------------------ verification

FEATURES_SQL = """
WITH ev AS (
  SELECT user_id, event_type, CAST(ts AS DATE) AS day
  FROM read_parquet('{events}/*.parquet')),
users AS (SELECT DISTINCT user_id FROM ev),
days AS (
  SELECT CAST(d AS DATE) AS day
  FROM range(DATE '{start}', DATE '{end}' + INTERVAL 1 DAY, INTERVAL 1 DAY) t(d)),
daily AS (
  SELECT user_id, day, event_type, count(*) AS n FROM ev
  WHERE day BETWEEN DATE '{start}' - 30 AND DATE '{end}' GROUP BY ALL)
SELECT u.user_id, g.day,
  CAST(coalesce(sum(d.n) FILTER (WHERE d.day >= g.day - 7), 0) AS BIGINT)
    AS event_count_7d,
  CAST(coalesce(sum(d.n), 0) AS BIGINT) AS event_count_30d,
  CAST(g.day - max(d.day) AS INTEGER) AS last_event_days_ago,
  CAST(count(DISTINCT d.event_type) AS VARCHAR) AS event_type_counts
FROM users u CROSS JOIN days g
LEFT JOIN daily d ON d.user_id = u.user_id AND d.day BETWEEN g.day - 30 AND g.day
GROUP BY u.user_id, g.day
"""

FEATURES = ("user_id", "day", "event_count_7d", "event_count_30d",
            "last_event_days_ago", "event_type_counts")
FEATURE_COLS = ", ".join(FEATURES)


def _table_sql(path: str) -> str:
    return (f"SELECT user_id, CAST(day AS DATE) AS day, event_count_7d, "
            f"event_count_30d, last_event_days_ago, event_type_counts FROM "
            f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)")


def _mismatch(con, a: str, b: str) -> int:
    """Rows in either multiset but not the other."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))) + "
        f"(SELECT count(*) FROM (({b}) EXCEPT ALL ({a})))").fetchone()[0]


def verify(inp: dict, batches: list[dict], serving: dict) -> dict:
    """Check every output of every batch cycle, and the serving phase's
    responses. Returns mismatch counts per check;
    ``bad["cycles"]`` holds the per-pipeline counts of each cycle, where
    -1 means the outputs could not be read."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE TABLE want AS " + FEATURES_SQL.format(
        events=inp["events"], start=inp["start"], end=inp["incr_end"]))
    con.execute(f"""CREATE TABLE pit_want AS
      WITH lab AS (SELECT *, row_number() OVER () AS rid
                   FROM read_parquet('{inp['labels']}/*.parquet')),
      j AS (SELECT lab.*, w.day AS fday, w.event_count_7d, w.event_count_30d,
                   w.last_event_days_ago, w.event_type_counts,
                   row_number() OVER (PARTITION BY rid ORDER BY w.day DESC
                                      NULLS LAST) AS rn
            FROM lab LEFT JOIN want w ON w.user_id = lab.user_id
             AND w.day <= CAST(lab.as_of_ts AS DATE))
      SELECT user_id, label, epoch_us(as_of_ts) AS as_of_us, fday AS day,
             event_count_7d, event_count_30d, last_event_days_ago,
             event_type_counts FROM j WHERE rn = 1""")
    payload = _latest_payloads(con, inp)
    bad: dict = {"cycles": []}
    for batch in batches:
        try:
            bad["cycles"].append(_verify_batch(con, inp, batch, payload))
        except (duckdb.Error, OSError, ValueError):
            bad["cycles"].append(dict.fromkeys(
                ("backfill", "backfill_incr", "pit_join", "online_sync"), -1))
    bad["http"] = 0
    for key, r in serving["requests"]:
        if key in payload:
            ok = r["status"] == 200 and json.loads(r["body"])["features"] == payload[key]
        else:
            ok = r["status"] == 404
        bad["http"] += not ok
    # the 404 share equals the planned share of unknown ids
    bad["unknown_sent"] = sum(k not in payload for k, _ in serving["requests"])
    bad["not_found"] = sum(r["status"] == 404 for _, r in serving["requests"])
    bad["offline"] = 0
    for user, as_of, resp, _ in serving["offline"]:
        row = con.execute(
            f"SELECT {FEATURE_COLS} FROM want WHERE user_id = ? AND day <= "
            f"CAST(? AS DATE) ORDER BY day DESC LIMIT 1",
            [user, as_of[:10]]).fetchone()
        want = None if row is None else dict(
            zip(FEATURES[1:], [str(row[1]), *row[2:]]))
        got = None if resp is None else resp.features
        bad["offline"] += got != want
    return bad


def _latest_payloads(con, inp: dict) -> dict:
    """The KV payload each user should have after the online sync."""
    latest = con.execute(f"""
      SELECT {FEATURE_COLS} FROM want
      WHERE day BETWEEN DATE '{inp['incr_end']}' - {LOOKBACK_DAYS}
            AND DATE '{inp['incr_end']}'
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY day DESC) = 1
    """).fetchall()
    return {r[0]: _payload(r) for r in latest}


def _verify_batch(con, inp: dict, batch: dict, payload: dict) -> dict[str, int]:
    """Mismatch counts of one batch cycle's four outputs against ``want``,
    ``pit_want`` and the expected KV payloads."""
    bad: dict[str, int] = {}
    table = batch["table"]
    # the full backfill, then the appended table against a from-scratch
    # recompute of the whole range
    bad["backfill"] = _mismatch(
        con, _table_sql(f"{table}/v=0"),
        f"SELECT * FROM want WHERE day <= DATE '{inp['full_end']}'")
    bad["backfill_incr"] = _mismatch(con, _table_sql(f"{table}/v=1"),
                                     "SELECT * FROM want")
    bad["pit_join"] = _mismatch(
        con,
        f"SELECT user_id, label, epoch_us(as_of_ts), CAST(day AS DATE), "
        f"event_count_7d, event_count_30d, last_event_days_ago, "
        f"event_type_counts FROM read_parquet('{batch['train']}/**/*.parquet',"
        f" hive_partitioning=true)",
        "SELECT * FROM pit_want")
    kv_users = {f[len("features__"):-len(".json")]
                for f in os.listdir(batch["kv_root"]) if f.endswith(".json")}
    bad["online_sync"] = len(kv_users ^ set(payload))
    for u in kv_users & set(payload):
        with open(os.path.join(batch["kv_root"], f"features__{u}.json")) as f:
            bad["online_sync"] += json.load(f) != payload[u]
    return bad


def _payload(row) -> dict:
    """The JSON ``run_online_sync`` writes for a feature row (``to_json``
    drops null fields)."""
    d = dict(zip(FEATURES, row))
    d["day"] = str(d["day"])
    return {k: v for k, v in d.items() if v is not None}
