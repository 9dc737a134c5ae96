"""Seeded input generation for every workload.

All inputs are a pure function of ``(seed, scale)``: the same seed writes
byte-identical parquet files. Generation runs before any timed region and
the program under test receives only the resulting file paths.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "purchase", "view", "signup", "error"]
START = dt.date(2024, 1, 1)

#: fs_batch / fs_serving event-log sizes. ``days`` includes the day the
#: incremental backfill adds on top of the full one.
FS_SCALES = {
    "full": {"users": 1000, "events": 60_000, "days": 32, "labels": 2000},
    "tiny": {"users": 60, "events": 2_000, "days": 40, "labels": 120},
}

#: query_mix table sizes (rows), shaped like the TPC-H-style tables of TESTDATA.md.
QM_SCALES = {
    "full": {"customer": 1500, "orders": 15_000, "lineitem": 60_000,
             "part": 2000, "supplier": 100, "events": 10_000, "users": 150,
             "documents": 500, "embeddings": 500},
    "tiny": {"customer": 150, "orders": 1500, "lineitem": 6000,
             "part": 200, "supplier": 10, "events": 1000, "users": 15,
             "documents": 120, "embeddings": 200},
}

WORDS = ("a the join hash row batch scan column customer filter query key "
         "value table part order line group sort merge window stream spark "
         "data vector agg small big fast slow").split()
LANGS = ["en", "fr", "es", "zh", "de"]


def _ts_us(days: np.ndarray) -> pa.Array:
    """Fractional days since START → timestamp[us]."""
    base = np.datetime64(START.isoformat(), "us")
    us = (days * 86_400e6).astype("int64")
    return pa.array(base + us.astype("timedelta64[us]"), pa.timestamp("us"))


def user_name(i) -> str:
    return f"u{int(i):06d}"


def fs_inputs(out: str, seed: int, scale: str = "full") -> dict:
    """Event log and labels for the feature-store pipelines.

    Users have lognormal activity (a few heavy users, a long tail) and a
    seeded first-active day, so the dense (user × day) grid holds empty
    windows too. Labels carry intraday ``as_of_ts`` values inside the
    backfilled range, plus some before any feature row exists.
    """
    p = FS_SCALES[scale]
    rng = np.random.default_rng([seed, 1])
    n_users, n_ev, days = p["users"], p["events"], p["days"]
    weight = rng.lognormal(0.0, 1.0, n_users)
    first_day = rng.integers(0, days // 2, n_users)
    uid = rng.choice(n_users, n_ev, p=weight / weight.sum())
    span = days - first_day[uid]
    day_f = first_day[uid] + rng.random(n_ev) * span
    etype = rng.choice(len(EVENT_TYPES), n_ev, p=[0.4, 0.1, 0.35, 0.05, 0.1])
    order = np.lexsort((day_f, uid))
    names = np.array([user_name(i) for i in range(n_users)])
    events = pa.table({
        "user_id": pa.array(names[uid[order]]),
        "event_type": pa.array(np.array(EVENT_TYPES)[etype[order]]),
        "ts": _ts_us(day_f[order]),
    })
    n_lab = p["labels"]
    lab_uid = rng.integers(0, n_users, n_lab)
    lab_day = rng.integers(1, days - 1, n_lab) + rng.random(n_lab)
    labels = pa.table({
        "user_id": pa.array(names[lab_uid]),
        "label": pa.array(rng.integers(0, 2, n_lab).astype("float64")),
        "as_of_ts": _ts_us(lab_day),
    })
    os.makedirs(out, exist_ok=True)
    paths = {"events": os.path.join(out, "events"),
             "labels": os.path.join(out, "labels")}
    for name, tbl in (("events", events), ("labels", labels)):
        os.makedirs(paths[name], exist_ok=True)
        pq.write_table(tbl, os.path.join(paths[name], "part-0.parquet"))
    paths.update(
        users=[user_name(i) for i in np.unique(uid)],
        start=START.isoformat(),
        full_end=(START + dt.timedelta(days=days - 2)).isoformat(),
        incr_end=(START + dt.timedelta(days=days - 1)).isoformat(),
        events_rows=n_ev,
    )
    return paths


def serving_streams(seed: int, users: list[str], n_online: int,
                    unknown_share: float, n_offline: int, start: str,
                    end: str) -> dict:
    """Online key stream (Zipf-skewed over the synced users, with a planned
    share of unknown ids) and the offline (user, as_of) stream."""
    rng = np.random.default_rng([seed, 2])
    ranks = rng.permutation(len(users))
    w = 1.0 / np.arange(1, len(users) + 1) ** 1.1
    picks = rng.choice(len(users), n_online, p=w / w.sum())
    keys = [users[ranks[i]] for i in picks]
    n_unknown = int(round(unknown_share * n_online))
    for j, pos in enumerate(rng.choice(n_online, n_unknown, replace=False)):
        keys[pos] = f"nobody{seed % 1000:03d}_{j:05d}"
    d0 = dt.date.fromisoformat(start)
    span = (dt.date.fromisoformat(end) - d0).days
    offline = [
        (users[int(rng.integers(0, len(users)))],
         f"{d0 + dt.timedelta(days=int(rng.integers(0, span + 1)))}T12:00:00")
        for _ in range(n_offline)
    ]
    return {"online_keys": keys, "offline": offline}


def _documents(rng, n: int) -> pa.Table:
    """Random-vocabulary documents; a fifth are near-duplicates (a few words
    changed) of earlier ones so the dedup miners have pairs to find."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS),
                                                    int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.choice(5, n, p=[.4, .15, .15, .15, .15])]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(0, 0.15, (k, dim))
    label = rng.integers(0, k, n)
    vec = (centers[label] + rng.normal(0, 0.05, (n, dim))).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    })


def query_inputs(out: str, seed: int, scale: str = "full") -> str:
    """The ten TESTDATA.md tables (same names, columns and types), one
    parquet file each, in ``out``; returns the directory."""
    p = QM_SCALES[scale]
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    n_c, n_o, n_l = p["customer"], p["orders"], p["lineitem"]
    n_p, n_s = p["part"], p["supplier"]
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    seg = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    d95 = np.datetime64("1995-01-01", "D")
    ev_n = p["events"]
    ev_day = np.sort(rng.random(ev_n) * 30)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c, dtype="int64")),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype("int32")),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_c), 2)),
            "c_mktsegment": [seg[k] for k in rng.integers(0, 5, n_c)]}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s, dtype="int64")),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype("int32")),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_s), 2))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p, dtype="int64")),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["small", "red", "blue", "green", "large", "shiny",
                            "matte", "old"], n_p),
                rng.choice(["ring", "widget", "bolt", "nut", "gear", "pipe",
                            "valve", "spring"], n_p))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_p)],
            "p_type": list(rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                                       "MEDIUM", "PROMO"], n_p)),
            "p_size": pa.array(rng.integers(1, 51, n_p).astype("int32")),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_p) * 0.1, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o)),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], n_o)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_o), 2)),
            "o_orderdate": pa.array(
                (d95 + rng.integers(0, 2404, n_o)).astype("datetime64[us]"),
                pa.timestamp("us")),
            "o_orderpriority": [prio[k] for k in rng.integers(0, 5, n_o)]}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l)),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l)),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype("float64")),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_l), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": list(rng.choice(["A", "N", "R"], n_l)),
            "l_linestatus": list(rng.choice(["F", "O"], n_l)),
            "l_shipdate": pa.array(
                (d95 + 1 + rng.integers(0, 2498, n_l)).astype("datetime64[us]"),
                pa.timestamp("us"))}),
        "events": pa.table({
            "event_id": pa.array(np.arange(ev_n, dtype="int64")),
            "ts": _ts_us(ev_day),
            "user_id": pa.array(rng.integers(0, p["users"], ev_n)),
            "event_type": list(rng.choice(EVENT_TYPES, ev_n)),
            "value": pa.array(np.round(rng.exponential(60, ev_n), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev_n)]}),
        "documents": _documents(rng, p["documents"]),
        "embeddings": _embeddings(rng, p["embeddings"]),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    return out
