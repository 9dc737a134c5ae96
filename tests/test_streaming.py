"""Structured Streaming tests: file-source micro-batches, watermarked
tumbling/sliding/session windows, late-data drops, and the foreachBatch
online-sync path. All runs use availableNow triggers so they terminate."""

from __future__ import annotations

import ast
import datetime as dt
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mini_feature_store_spark.pipelines import FileKVStore
from mini_feature_store_spark.streaming import (
    read_event_stream,
    sessionized_activity,
    sliding_event_counts,
    stream_online_sync,
    windowed_event_counts,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _write_batch(spark, path, rows, name):
    """Land one bare parquet FILE in the stream dir (the file source does not
    recurse into the directory `df.write.parquet` would create)."""
    import glob
    import shutil
    import tempfile

    with tempfile.TemporaryDirectory() as staging:
        out = os.path.join(staging, "out")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(out)
        (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
        shutil.copy(part, os.path.join(path, f"{name}.parquet"))


def _run_to_memory(stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


@pytest.fixture()
def stream_dir(spark, tmp_path):
    path = str(tmp_path / "stream")
    os.makedirs(path, exist_ok=True)
    rows = [
        (1, dt.datetime(2024, 1, 1, 1), 1, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 2), 1, "view", 2.0, "{}"),
        (3, dt.datetime(2024, 1, 2, 1), 1, "click", 3.0, "{}"),
        (4, dt.datetime(2024, 1, 2, 2), 2, "click", 4.0, "{}"),
    ]
    _write_batch(spark, path, rows, "part1")
    return path


def test_tumbling_window_counts(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir)
    assert stream.isStreaming
    # complete mode: append only emits watermark-closed windows, and an
    # availableNow run ends before the watermark passes the last window
    _run_to_memory(
        windowed_event_counts(stream, window="1 day"), "tumbling", mode="complete"
    )
    got = {
        (r.window_start.date().isoformat(), r.user_id): (r.n_events, r.sum_value)
        for r in spark.table("tumbling").collect()
    }
    assert got == {
        ("2024-01-01", 1): (2, 3.0),
        ("2024-01-02", 1): (1, 3.0),
        ("2024-01-02", 2): (1, 4.0),
    }


def test_sliding_windows_multiply_membership(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir)
    _run_to_memory(
        sliding_event_counts(stream, window="1 day", slide="12 hours"),
        "sliding",
        mode="complete",
    )
    rows = spark.table("sliding").collect()
    # every event belongs to window/slide = 2 windows
    assert sum(r.n_events for r in rows) == 8


def test_session_windows(spark, tmp_path):
    path = str(tmp_path / "sess")
    os.makedirs(path, exist_ok=True)
    _write_batch(
        spark,
        path,
        [
            (1, dt.datetime(2024, 1, 1, 1, 0), 1, "click", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 1, 1, 10), 1, "view", 1.0, "{}"),
            (3, dt.datetime(2024, 1, 1, 3, 0), 1, "click", 1.0, "{}"),
        ],
        "part1",
    )
    stream = read_event_stream(spark, path)
    _run_to_memory(
        sessionized_activity(stream, gap="30 minutes"), "sessions", mode="complete"
    )
    rows = sorted(spark.table("sessions").collect(), key=lambda r: r.session_start)
    assert len(rows) == 2
    assert rows[0].n_events == 2 and rows[1].n_events == 1


def test_watermark_drops_late_events(spark, tmp_path):
    """An event > watermark behind the stream's max ts must be excluded from
    its (already finalized) window. Two runs sharing one checkpoint: run 1
    advances the watermark to Jan 4 (max ts Jan 5 − 1 day) and finalizes the
    Jan-1 window; run 2 delivers a Jan-1 straggler, which is dropped."""
    path = str(tmp_path / "late")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(path, exist_ok=True)

    emitted: list = []

    def run_once():
        # foreachBatch sink: the memory sink cannot recover from a checkpoint
        agg = windowed_event_counts(
            read_event_stream(spark, path), window="1 day", watermark="1 day"
        )
        q = (
            agg.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda df, _id: emitted.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_batch(
        spark,
        path,
        [
            (1, dt.datetime(2024, 1, 1, 1), 1, "click", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 5, 1), 1, "click", 1.0, "{}"),
        ],
        "part1",
    )
    run_once()
    _write_batch(
        spark,
        path,
        [(3, dt.datetime(2024, 1, 1, 2), 1, "click", 9.0, "{}")],
        "part2",
    )
    run_once()
    jan1 = [r for r in emitted if r.window_start == dt.datetime(2024, 1, 1)]
    # finalized with only the on-time event; the straggler was dropped
    assert len(jan1) == 1 and jan1[0].n_events == 1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from mini_feature_store_spark.streaming import (
        deduplicated_stream,
        read_event_stream,
    )

    path = str(tmp_path / "dup")
    os.makedirs(path, exist_ok=True)
    rows = [
        (1, dt.datetime(2024, 1, 1, 1), 1, "click", 1.0, "{}"),
        (1, dt.datetime(2024, 1, 1, 1), 1, "click", 1.0, "{}"),  # same-file dup
        (2, dt.datetime(2024, 1, 1, 2), 1, "view", 2.0, "{}"),
    ]
    _write_batch(spark, path, rows, "part1")
    # redelivery of event 2 in a later file (at-least-once source)
    _write_batch(
        spark, path,
        [(2, dt.datetime(2024, 1, 1, 2), 1, "view", 2.0, "{}"),
         (3, dt.datetime(2024, 1, 1, 3), 2, "click", 3.0, "{}")],
        "part2",
    )
    dedup = deduplicated_stream(read_event_stream(spark, path), keys=("event_id",))
    _run_to_memory(dedup, "dedup_stream")
    got = spark.sql("SELECT event_id FROM dedup_stream").collect()
    assert sorted(r.event_id for r in got) == [1, 2, 3]


def test_stream_online_sync_foreachbatch(spark, stream_dir, tmp_path):
    kv_dir = str(tmp_path / "kv")
    ckpt = str(tmp_path / "ckpt")
    stream = read_event_stream(spark, stream_dir)
    q = stream_online_sync(
        windowed_event_counts(stream, window="1 day"),
        lambda: FileKVStore(kv_dir),
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)
    store = FileKVStore(kv_dir)
    assert store.keys() == ["features:1", "features:2"]
    # user 1's latest window is Jan 2
    payload = store.get("features:1")
    assert payload["window_start"].startswith("2024-01-02")
    assert payload["n_events"] == 1


def test_stateful_running_features_accumulate(spark, tmp_path):
    """applyInPandasWithState keeps per-user running state across
    micro-batches: two single-file batches, the second updates counts."""
    from mini_feature_store_spark.streaming.stateful import (
        running_user_features,
    )

    path = str(tmp_path / "stateful_stream")
    os.makedirs(path, exist_ok=True)
    _write_batch(
        spark,
        path,
        [
            (1, dt.datetime(2024, 1, 1, 1), 1, "click", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 1, 2), 1, "view", 2.5, "{}"),
        ],
        "b1",
    )
    _write_batch(
        spark,
        path,
        [
            (3, dt.datetime(2024, 1, 1, 3), 1, "click", 4.0, "{}"),
            (4, dt.datetime(2024, 1, 1, 3), 2, "click", 10.0, "{}"),
        ],
        "b2",
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .select(F.col("user_id").cast("string").alias("user_id"), "ts", "value")
    )
    _run_to_memory(running_user_features(stream), "stateful_feats")
    rows = spark.sql("select * from stateful_feats").collect()
    # one emitted snapshot per (user, active batch); the latest per user
    # carries the accumulated totals
    latest = {}
    for r in rows:
        if r.user_id not in latest or r.event_count > latest[r.user_id].event_count:
            latest[r.user_id] = r
    assert latest["1"].event_count == 3
    assert abs(latest["1"].value_sum - 7.5) < 1e-9
    assert latest["2"].event_count == 1
    # u1 was emitted once per batch it appeared in
    assert sum(1 for r in rows if r.user_id == "1") == 2


def test_stream_stream_attribution_join(spark, tmp_path):
    from mini_feature_store_spark.streaming import (
        purchase_click_attribution_stream,
    )

    path = str(tmp_path / "ss")
    os.makedirs(path, exist_ok=True)
    t0 = dt.datetime(2024, 1, 1, 12)
    rows = [
        # user 1: click 30 min before purchase → attributed
        (1, t0, 1, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=30), 1, "purchase", 9.0, "{}"),
        # user 2: click 3 h before purchase → OUTSIDE the 1 h window
        (3, t0, 2, "click", 1.0, "{}"),
        (4, t0 + dt.timedelta(hours=3), 2, "purchase", 5.0, "{}"),
        # user 1 again: click AFTER the purchase → never attributed
        (5, t0 + dt.timedelta(hours=1), 1, "click", 1.0, "{}"),
    ]
    _write_batch(spark, path, rows, "b0")
    stream = read_event_stream(spark, path)
    joined = purchase_click_attribution_stream(
        stream, attribution_window="1 hour", watermark="2 hours"
    )
    _run_to_memory(joined, "ss_attr")
    out = spark.sql("SELECT * FROM ss_attr").collect()
    assert [(r.purchase_id, r.click_id) for r in out] == [(2, 1)]


def test_incremental_dedup_stream_admits_only_novel(spark, tmp_path):
    """Two micro-batches through the streaming exact-dedup ingest: batch 2's
    repeats of batch-1 content (and its own internal dupes) are rejected;
    only genuinely novel content lands in the admitted store."""
    import time

    from mini_feature_store_spark.streaming.ingest import (
        incremental_dedup_stream,
    )

    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    admitted = str(tmp_path / "admitted")
    schema = "doc_id long, text string"

    spark.createDataFrame(
        [(1, "first document"), (2, "second document"), (3, "first document")],
        schema,
    ).coalesce(1).write.mode("append").json(str(src_dir))

    stream = (
        spark.readStream.schema(
            "doc_id long, text string"
        ).json(str(src_dir))
    )
    q = incremental_dedup_stream(
        stream, admitted, str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    out1 = {r.doc_id for r in spark.read.parquet(admitted).collect()}
    assert out1 == {1, 2}  # 3 deduped within batch (same content as 1)

    spark.createDataFrame(
        [(10, "first document"), (11, "brand new content"), (12, "second document")],
        schema,
    ).coalesce(1).write.mode("append").json(str(src_dir))
    q = incremental_dedup_stream(
        stream, admitted, str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    out2 = {r.doc_id for r in spark.read.parquet(admitted).collect()}
    assert out2 == {1, 2, 11}  # 10 and 12 rejected against the store


def test_incremental_neardedup_stream_rejects_near_dups(spark, tmp_path):
    """Streaming near-dup ingest: batch 2's lightly-edited variants of
    admitted docs (and its own internal near-dups) are rejected at the
    Jaccard threshold; genuinely novel content is admitted."""
    from mini_feature_store_spark.streaming.ingest import (
        incremental_neardedup_stream,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    near = base.replace("theta", "CHANGED")  # 1/20 words -> J ~ 0.8
    other = (
        "one two three four five six seven eight nine ten eleven twelve "
        "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    )
    src_dir = tmp_path / "nd-incoming"
    src_dir.mkdir()
    admitted = str(tmp_path / "nd-admitted")
    schema = "doc_id long, text string"

    spark.createDataFrame(
        [(1, base), (2, other), (3, near)], schema
    ).coalesce(1).write.mode("append").json(str(src_dir))
    stream = spark.readStream.schema(schema).json(str(src_dir))
    q = (
        incremental_neardedup_stream(
            stream, admitted, str(tmp_path / "nd-ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out1 = {r.doc_id for r in spark.read.parquet(admitted).collect()}
    assert out1 == {1, 2}  # 3 is a within-batch near-dup of 1

    near2 = base.replace("kappa", "EDITED")
    fresh = (
        "completely different subject matter about spark shuffles and "
        "catalyst plans pruning columns pushing filters into scans today"
    )
    spark.createDataFrame(
        [(10, near2), (11, fresh)], schema
    ).coalesce(1).write.mode("append").json(str(src_dir))
    q = (
        incremental_neardedup_stream(
            stream, admitted, str(tmp_path / "nd-ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out2 = {r.doc_id for r in spark.read.parquet(admitted).collect()}
    assert out2 == {1, 2, 11}  # 10 near-dups admitted doc 1 -> rejected


def test_incremental_neardedup_stream_leaves_no_cache(spark, tmp_path):
    """Each micro-batch releases what it persisted — the batch and both
    Jaccard operators' posting lists — after three batches and after a
    batch that raises."""
    from pyspark.errors import StreamingQueryException

    from mini_feature_store_spark import functions as fx
    from mini_feature_store_spark.streaming.ingest import (
        incremental_neardedup_stream,
    )

    jcm = spark._jsparkSession.sharedState().cacheManager()
    fx.release_operator_caches()
    jcm.clearCache()
    schema = "doc_id long, text string"
    src_dir = tmp_path / "incoming"
    for i in range(3):
        spark.createDataFrame(
            [(i, f"doc {i} says alpha beta gamma delta epsilon zeta")], schema
        ).coalesce(1).write.mode("append").json(str(src_dir))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src_dir))
    )

    def run(admitted: str, ckpt: str):
        q = (
            incremental_neardedup_stream(stream, admitted, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        return q

    q = run(str(tmp_path / "admitted"), str(tmp_path / "ckpt"))
    assert len(q.recentProgress) == 3
    assert not fx._OPERATOR_CACHES and jcm.isEmpty()

    # a store without the text column fails the batch-vs-corpus probe
    # after the batch and its self-join postings are persisted
    broken = str(tmp_path / "broken")
    spark.createDataFrame([(99, "x")], "doc_id long, body string").write.parquet(
        broken
    )
    with pytest.raises(StreamingQueryException):
        run(broken, str(tmp_path / "ckpt-broken"))
    assert not fx._OPERATOR_CACHES and jcm.isEmpty()


def test_ann_index_ingest_stream_appends_probe_visible(spark, tmp_path, sf_dir):
    """Streaming embeddings flow through the frozen-model encode path into
    the cell-partitioned index; after the batch boundary, probes find the
    streamed vectors (planted exact twins rank top-1 at cosine 1.0)."""
    from pyspark.sql import functions as F

    from mini_feature_store_spark.io import load_testdata
    from mini_feature_store_spark.operators.ann_index import (
        build_ivfpq_index,
        pq_topk_indexed,
    )
    from mini_feature_store_spark.streaming.ingest import (
        ann_index_ingest_stream,
    )

    emb = load_testdata(spark, sf_dir, "embeddings")["embeddings"]
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb.where(F.col("vec_id") >= 5), idx, n_cells=8)

    # stream exact twins of vectors 5..7 as JSON micro-batches
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    twins = emb.where((F.col("vec_id") >= 5) & (F.col("vec_id") < 8)).select(
        (F.col("vec_id") + 7000).alias("vec_id"), "embedding"
    )
    twins.coalesce(1).write.mode("append").json(str(src_dir))

    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).json(str(src_dir))
    q = (
        ann_index_ingest_stream(stream, idx, str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    queries = emb.where((F.col("vec_id") >= 5) & (F.col("vec_id") < 8))
    top = {
        r.query_id: (r.neighbor_id, r.cosine)
        for r in pq_topk_indexed(spark, idx, queries, k=1, n_probe=8).collect()
    }
    for qid, (nid, cos) in top.items():
        assert nid == qid + 7000 and cos == 1.0


def test_incremental_urldedup_stream_admits_only_novel_urls(spark, tmp_path):
    """Streaming URL-dedup ingest: batch 2's respellings of admitted URLs
    (tracking params, case, default ports) and its own internal respellings
    are rejected; a genuinely new canonical URL is admitted."""
    from mini_feature_store_spark.streaming.ingest import (
        incremental_urldedup_stream,
    )

    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    admitted = str(tmp_path / "admitted")
    schema = "doc_id long, url string"

    spark.createDataFrame(
        [
            (1, "https://example.com/a"),
            (2, "https://example.com/b"),
            (3, "HTTPS://WWW.EXAMPLE.COM/a"),  # respelling of 1
        ],
        schema,
    ).coalesce(1).write.mode("append").json(str(src_dir))

    stream = spark.readStream.schema(schema).json(str(src_dir))
    q = incremental_urldedup_stream(
        stream, admitted, str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    out1 = {r.doc_id for r in spark.read.parquet(admitted).collect()}
    assert out1 == {1, 2}

    spark.createDataFrame(
        [
            (10, "https://example.com/a?utm_source=feed"),  # respelling of 1
            (11, "https://example.com/c"),                  # novel
            (12, "https://example.com:443/b/"),             # respelling of 2
        ],
        schema,
    ).coalesce(1).write.mode("append").json(str(src_dir))
    q = incremental_urldedup_stream(
        stream, admitted, str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    out2 = {r.doc_id for r in spark.read.parquet(admitted).collect()}
    assert out2 == {1, 2, 11}
    # the admitted store carries the canonical key for future pruning
    cols = set(spark.read.parquet(admitted).columns)
    assert "canonical_url" in cols


def test_compact_admitted_store(spark, tmp_path):
    """Store compaction: N per-batch parquet appends collapse to
    target_files range-clustered files; content byte-identical; the
    ingest stream still dedups correctly against the compacted store."""
    from mini_feature_store_spark.streaming.ingest import (
        compact_admitted_store,
        incremental_urldedup_stream,
    )

    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    admitted = str(tmp_path / "admitted")
    schema = "doc_id long, url string"

    # 4 micro-batches -> 4+ small files in the store
    for b in range(4):
        spark.createDataFrame(
            [(b * 10 + i, f"https://example.com/{b}-{i}") for i in range(5)],
            schema,
        ).coalesce(1).write.mode("append").json(str(src_dir))
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(src_dir))
    q = incremental_urldedup_stream(
        stream, admitted, str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    before = {
        tuple(r) for r in spark.read.parquet(admitted).collect()
    }
    report = compact_admitted_store(
        spark, admitted, "canonical_url", target_files=2
    )
    assert report["rows"] == 20
    assert report["files_before"] >= 4
    assert report["files_after"] <= 2
    after = {tuple(r) for r in spark.read.parquet(admitted).collect()}
    assert after == before

    # range-clustered: the files' canonical_url ranges, read from the
    # parquet footers, are disjoint
    import glob

    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(glob.glob(f"{admitted}/*.parquet")):
        md = pq.read_metadata(f)
        col = md.schema.names.index("canonical_url")
        stats = [
            md.row_group(i).column(col).statistics
            for i in range(md.num_row_groups)
        ]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    assert len(ranges) == report["files_after"] == 2
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev < lo_next, ranges

    # stream continues correctly against the compacted store: one
    # respelling (rejected) + one novel URL (admitted)
    spark.createDataFrame(
        [(100, "HTTPS://WWW.EXAMPLE.COM/0-0"), (101, "https://example.com/new")],
        schema,
    ).coalesce(1).write.mode("append").json(str(src_dir))
    q = incremental_urldedup_stream(
        stream, admitted, str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    ids = {r.doc_id for r in spark.read.parquet(admitted).collect()}
    assert 101 in ids and 100 not in ids


#: (builder, key source column, micro-batches, admitted ids) for each
#: admitted-store stream; each batch holds a within-batch duplicate or a
#: duplicate of an earlier batch, so the replayed batch has rows to reject.
_REPLAY_CASES = {
    "exact": (
        "incremental_dedup_stream",
        "text",
        [
            [(1, "first document"), (2, "second document"), (3, "first document")],
            [(10, "first document"), (11, "brand new content")],
        ],
        {1, 2, 11},
    ),
    "url": (
        "incremental_urldedup_stream",
        "url",
        [
            [(1, "https://example.com/a"), (2, "HTTPS://WWW.EXAMPLE.COM/a")],
            [(10, "https://example.com/a?utm_source=feed"),
             (11, "https://example.com/c")],
        ],
        {1, 11},
    ),
    "near": (
        "incremental_neardedup_stream",
        "text",
        [
            [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
             (2, "alpha beta gamma delta epsilon zeta eta theta iota KAPPA")],
            [(10, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
             (11, "one two three four five six seven eight nine ten")],
        ],
        {1, 11},
    ),
}


@pytest.mark.parametrize("kind", sorted(_REPLAY_CASES))
def test_admitted_store_stream_replay_admits_nothing_twice(
    spark, tmp_path, kind
):
    """Exactly-once under replay: losing the last batch's checkpoint
    commit makes the restarted stream run that batch again, against a
    store that already holds its admitted rows; the store must not
    change."""
    from mini_feature_store_spark.streaming import ingest

    builder, col, batches, admitted_ids = _REPLAY_CASES[kind]
    schema = f"doc_id long, {col} string"
    src_dir = tmp_path / "incoming"
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).json(str(src_dir))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src_dir))
    )
    admitted, ckpt = str(tmp_path / "admitted"), tmp_path / "ckpt"

    def run():
        writer = getattr(ingest, builder)(stream, admitted, str(ckpt))
        q = writer.trigger(availableNow=True).start()
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        return q

    run()
    before = sorted(tuple(r) for r in spark.read.parquet(admitted).collect())
    assert {r[0] for r in before} == admitted_ids

    last = max(int(p.name) for p in (ckpt / "commits").iterdir()
               if p.name.isdigit())
    assert last == len(batches) - 1
    (ckpt / "commits" / str(last)).unlink()
    crc = ckpt / "commits" / f".{last}.crc"
    if crc.exists():
        crc.unlink()

    q = run()
    # the lost batch really ran again, on its original input
    assert [(p.batchId, p.numInputRows) for p in q.recentProgress] == [
        (last, len(batches[-1]))
    ]
    after = sorted(tuple(r) for r in spark.read.parquet(admitted).collect())
    assert after == before


def test_compact_swap_crash_recovery(spark, tmp_path):
    """A process death between the swap's two renames leaves NO store at
    the admitted path; recovery must restore __old (NOT treat the store
    as empty and re-admit everything), finish half-done cleanups, refuse
    the ambiguous three-way state (s3a partial rename — any automatic
    delete there loses rows), and run automatically when an ingest
    stream is CONSTRUCTED."""
    import shutil

    import pytest

    from mini_feature_store_spark.streaming.ingest import (
        incremental_urldedup_stream,
        recover_admitted_store,
    )

    store = str(tmp_path / "store")
    spark.createDataFrame(
        [(i, f"https://example.com/{i}") for i in range(6)],
        "doc_id long, canonical_url string",
    ).coalesce(1).write.parquet(store)
    rows = {tuple(r) for r in spark.read.parquet(store).collect()}

    def _mk_tmpdir():
        (tmp_path / "store__compacting").mkdir()
        (
            tmp_path / "store__compacting" / "part-partial.parquet"
        ).write_bytes(b"partial")

    # crash window 1: after rename(store -> __old), before the second
    # rename — the store is GONE and __compacting holds the uncommitted
    # rewrite
    shutil.move(store, store + "__old")
    _mk_tmpdir()
    assert recover_admitted_store(spark, store) is True
    assert {tuple(r) for r in spark.read.parquet(store).collect()} == rows
    assert not (tmp_path / "store__old").exists()
    assert not (tmp_path / "store__compacting").exists()

    # crash window 2: after the second rename, before __old cleanup —
    # the store is live, __compacting is gone (it BECAME the store),
    # __old is a stale complete copy that must be dropped
    shutil.copytree(store, store + "__old")
    assert recover_admitted_store(spark, store) is False
    assert not (tmp_path / "store__old").exists()
    assert {tuple(r) for r in spark.read.parquet(store).collect()} == rows

    # ambiguous three-way state (only reachable via non-atomic s3a-style
    # renames): store + __old + __compacting all present -> recovery
    # must RAISE, never silently delete either side
    shutil.copytree(store, store + "__old")
    _mk_tmpdir()
    with pytest.raises(RuntimeError, match="ambiguous"):
        recover_admitted_store(spark, store)
    assert (tmp_path / "store__old").exists()
    shutil.rmtree(store + "__old")
    shutil.rmtree(store + "__compacting")

    # builder-construction recovery: constructing an ingest stream over a
    # mid-swap store heals it BEFORE any batch can observe it as empty
    shutil.move(store, store + "__old")
    (tmp_path / "never-started").mkdir()
    stream = spark.readStream.schema("doc_id long, url string").json(
        str(tmp_path / "never-started")
    )
    incremental_urldedup_stream(stream, store, str(tmp_path / "ckpt2"))
    assert {tuple(r) for r in spark.read.parquet(store).collect()} == rows

    # per-batch probe recovery (restarted-writer path: .start() without
    # re-running the builder): a MISSING store triggers recovery inside
    # _store_exists and must read as existing — steady-state probes on a
    # present store pay no recovery round-trips
    from mini_feature_store_spark.streaming.ingest import _store_exists

    shutil.move(store, store + "__old")
    assert _store_exists(spark, store) is True
    assert {tuple(r) for r in spark.read.parquet(store).collect()} == rows

    # restart-path ambiguity detection: a PRESENT store with a surviving
    # __old sibling is probed once per path — the stale-complete-copy
    # state heals, the ambiguous 3-way state raises instead of letting a
    # restarted writer silently resume against a possibly-split store
    from mini_feature_store_spark.streaming.ingest import _SWAP_PROBED

    shutil.copytree(store, store + "__old")
    _SWAP_PROBED.discard(store)
    assert _store_exists(spark, store) is True
    assert not (tmp_path / "store__old").exists()

    shutil.copytree(store, store + "__old")
    _mk_tmpdir()
    _SWAP_PROBED.discard(store)
    with pytest.raises(RuntimeError, match="ambiguous"):
        _store_exists(spark, store)
    # once probed, steady-state batches skip the sibling check entirely
    assert _store_exists(spark, store) is True
    shutil.rmtree(store + "__old")
    shutil.rmtree(store + "__compacting")
    _SWAP_PROBED.discard(store)


def test_compact_store_cli(spark, tmp_path):
    """CLI wiring for the compaction maintenance job."""
    from mini_feature_store_spark import cli

    store = str(tmp_path / "store")
    for i in range(3):
        spark.createDataFrame(
            [(i, f"https://example.com/{i}")],
            "doc_id long, canonical_url string",
        ).coalesce(1).write.mode("append").parquet(store)
    rc = cli.main(
        ["compact-store", "--store-path", store, "--target-files", "1"]
    )
    assert rc == 0
    assert spark.read.parquet(store).count() == 3


def test_quality_gated_stream_trained_model(spark, tmp_path):
    """Stateless learned-quality gate on a stream: train offline
    (clf-train artifact), apply in-stream — prose passes, junk drops,
    payload columns survive, and the plan needs no state store."""
    import glob
    import shutil
    import tempfile

    from mini_feature_store_spark.operators.text import (
        quality_classifier_train,
        save_quality_classifier,
    )
    from mini_feature_store_spark.streaming.ingest import (
        quality_gated_stream,
    )

    prose = (
        "the quick brown fox and the lazy dog of the farm went to the "
        "market and bought a basket of apples for the winter"
    )
    noisy = "x1 9z $$ qq ## zz 77 !! kk 00 vv 33 ww 55 yy 88 hh 22"
    pos = spark.createDataFrame(
        [(i, prose + f" batch {i}") for i in range(20)],
        "doc_id long, text string",
    )
    neg = spark.createDataFrame(
        [(100 + i, noisy + f" {i}") for i in range(20)],
        "doc_id long, text string",
    )
    art = quality_classifier_train(pos, neg, n_iter=25, balanced=True)
    model_dir = str(tmp_path / "clf")
    save_quality_classifier(art, model_dir)

    doc_schema = "doc_id long, text string, source string"
    stream_path = str(tmp_path / "docs_stream")
    os.makedirs(stream_path, exist_ok=True)
    with tempfile.TemporaryDirectory() as staging:
        out = os.path.join(staging, "out")
        spark.createDataFrame(
            [
                (1, prose, "a"),
                (2, noisy, "b"),
                (3, prose + " more prose text here", "a"),
            ],
            doc_schema,
        ).coalesce(1).write.parquet(out)
        (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
        shutil.copy(part, os.path.join(stream_path, "d1.parquet"))

    stream = spark.readStream.schema(doc_schema).parquet(stream_path)
    gated = quality_gated_stream(stream, model_dir=model_dir)
    assert gated.isStreaming
    _run_to_memory(gated, "quality_gated")
    rows = spark.sql(
        "SELECT doc_id, source, quality_prob FROM quality_gated"
    ).collect()
    assert sorted(r.doc_id for r in rows) == [1, 3]
    assert all(r.source == "a" and r.quality_prob >= 0.5 for r in rows)


def test_quality_gated_stream_survives_column_collisions(spark, tmp_path):
    """Payload columns named like scorer internals (keep, fingerprint,
    n_tokens) must pass through untouched — the gate is an inline
    expression, not a projection (r12 extension review finding)."""
    import glob
    import shutil
    import tempfile

    from mini_feature_store_spark.streaming.ingest import (
        quality_gated_stream,
    )

    schema = (
        "doc_id long, text string, keep boolean, fingerprint string, "
        "n_tokens long"
    )
    path = str(tmp_path / "collide")
    os.makedirs(path, exist_ok=True)
    with tempfile.TemporaryDirectory() as staging:
        out = os.path.join(staging, "out")
        spark.createDataFrame(
            [(1, "the a of and to the a of and to the quick brown fox",
              False, "fp-1", 99)],
            schema,
        ).coalesce(1).write.parquet(out)
        (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
        shutil.copy(part, os.path.join(path, "d1.parquet"))

    stream = spark.readStream.schema(schema).parquet(path)
    gated = quality_gated_stream(stream)  # frozen demo weights
    _run_to_memory(gated, "quality_gated_collide")
    rows = spark.sql("SELECT * FROM quality_gated_collide").collect()
    assert len(rows) == 1
    r = rows[0]
    # payload columns intact, score appended
    assert (r.keep, r.fingerprint, r.n_tokens) == (False, "fp-1", 99)
    assert r.quality_prob >= 0.5

    import pytest

    bad = stream.withColumn("quality_prob", stream["n_tokens"] * 1.0)
    with pytest.raises(ValueError, match="quality_prob"):
        quality_gated_stream(bad)


def test_quality_prob_column_equals_batch_scorer(spark):
    from pyspark.sql import functions as F

    from mini_feature_store_spark.operators.text import (
        quality_classifier_score,
        quality_prob_column,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog of the farm"),
            (2, "!!! ??? ### $$$"),
            (3, ""),
            (4, "a of to and the " * 10),
        ],
        "doc_id long, text string",
    )
    batch = {
        r.doc_id: r.quality_prob
        for r in quality_classifier_score(docs).collect()
    }
    inline = {
        r.doc_id: r.p
        for r in docs.select(
            "doc_id", quality_prob_column(F.col("text")).alias("p")
        ).collect()
    }
    assert batch == inline


def test_dsir_gated_stream(spark, tmp_path):
    """Stateless DSIR gate on a stream: train the weight table offline
    (dsir-train artifact), admit by log-weight threshold per
    micro-batch — target-like docs pass, junk drops, payload columns
    survive, and the plan needs no state store (the score is an
    array-literal lookup inside the row)."""
    import glob
    import shutil
    import tempfile

    from mini_feature_store_spark.operators.dsir import (
        dsir_bucket_weights,
        dsir_score_with_weights,
        save_dsir_weights,
    )
    from mini_feature_store_spark.streaming.ingest import dsir_gated_stream

    prose = "the curated target corpus speaks plainly and in prose"
    junk = "zz xq jkl noise tokens qqq blob"
    tgt = spark.createDataFrame(
        [(i, prose + f" page {i}") for i in range(6)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(10 + i, prose + f" copy {i}") for i in range(6)]
        + [(50 + i, junk + f" {i}") for i in range(6)],
        "doc_id long, text string",
    )
    w = dsir_bucket_weights(tgt, raw, n_buckets=256)
    model_dir = str(tmp_path / "dsir")
    save_dsir_weights(w, model_dir, n_buckets=256, max_order=2)

    # threshold between the two score populations, picked from the
    # batch scorer (the documented offline-calibration step)
    scores = {
        r.doc_id: r.log_weight
        for r in dsir_score_with_weights(w, raw, n_buckets=256).collect()
    }
    thr = (
        max(v for d, v in scores.items() if d >= 50)
        + min(v for d, v in scores.items() if d < 50)
    ) / 2.0

    doc_schema = "doc_id long, text string, source string"
    stream_path = str(tmp_path / "docs_stream")
    os.makedirs(stream_path, exist_ok=True)
    with tempfile.TemporaryDirectory() as staging:
        out = os.path.join(staging, "out")
        spark.createDataFrame(
            [
                (1, prose + " fresh batch", "a"),
                (2, junk + " fresh", "b"),
                (3, "", "c"),  # gram-less: scores 0.0
            ],
            doc_schema,
        ).coalesce(1).write.parquet(out)
        (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
        shutil.copy(part, os.path.join(stream_path, "d1.parquet"))

    stream = spark.readStream.schema(doc_schema).parquet(stream_path)
    gated = dsir_gated_stream(stream, model_dir, min_log_weight=thr)
    assert gated.isStreaming
    _run_to_memory(gated, "dsir_gated")
    rows = spark.sql(
        "SELECT doc_id, source, dsir_log_weight FROM dsir_gated"
    ).collect()
    kept = sorted(r.doc_id for r in rows)
    assert 1 in kept and 2 not in kept
    assert all(r.dsir_log_weight >= thr for r in rows)
    # collision guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dsir_log_weight"):
        dsir_gated_stream(
            stream.withColumn("dsir_log_weight", F.lit(0.0)), model_dir
        )


_PACKAGE = Path(__file__).resolve().parent.parent / "mini_feature_store_spark"


def _store_protocol_steps(source: str) -> dict[str, set[str]]:
    """For each step of the admitted-store protocol, the top-level
    functions that take it: a call to ``recover_admitted_store`` or
    ``_store_exists``, an append write (``.mode("append")`` or a
    ``mode="append"`` keyword), and a ``repartitionByRange`` call."""
    steps: dict[str, set[str]] = {}
    for top in ast.parse(source).body:
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = getattr(func, "attr", getattr(func, "id", None))
            appends = (
                name == "mode"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "append"
            ) or any(
                kw.arg == "mode"
                and isinstance(kw.value, ast.Constant)
                and kw.value.value == "append"
                for kw in node.keywords
            )
            if appends:
                step = "append"
            elif name in (
                "recover_admitted_store", "_store_exists", "repartitionByRange"
            ):
                step = name
            else:
                continue
            steps.setdefault(step, set()).add(getattr(top, "name", "<module>"))
    return steps


def test_store_protocol_lint_sees_each_step():
    src = (
        "def a(spark, df, p):\n"
        "    recover_admitted_store(spark, p)\n"
        "    if ingest._store_exists(spark, p):\n"
        "        df.write.mode('append').parquet(p)\n"
        "def b(df, p):\n"
        "    w = df.write.mode('overwrite')\n"
        "    w.parquet(p)\n"
        "    write_parquet(df, p, mode='append')\n"
        "    df.writeStream.outputMode('append')\n"
        "    df.repartitionByRange(2, 'k')\n"
    )
    assert _store_protocol_steps(src) == {
        "recover_admitted_store": {"a"},
        "_store_exists": {"a"},
        "append": {"a", "b"},
        "repartitionByRange": {"b"},
    }


def test_admitted_store_protocol_lives_in_one_helper():
    """Store recovery and the store probe are called only by the shared
    stream helper, by recovery itself and by compaction, anywhere in the
    package; under ``streaming/`` only that helper appends, and nothing
    range-partitions (compaction clusters through ``io.sinks``)."""
    found: dict[str, set[str]] = {}
    for path in sorted(_PACKAGE.rglob("*.py")):
        streaming = path.parent.name == "streaming"
        for step, owners in _store_protocol_steps(path.read_text()).items():
            if streaming or step in ("recover_admitted_store", "_store_exists"):
                found.setdefault(step, set()).update(
                    f"{path.name}:{owner}" for owner in owners
                )
    assert found == {
        "recover_admitted_store": {
            "ingest.py:_admitted_store_stream",
            "ingest.py:_store_exists",
            "ingest.py:compact_admitted_store",
        },
        "_store_exists": {"ingest.py:_admitted_store_stream"},
        "append": {"ingest.py:_admitted_store_stream"},
    }
