"""Structured Streaming tests: windowed aggs with watermark, late-data
drops, sessionization.

Design note: comparing append-mode output across arbitrary file batchings is
NOT a valid invariant — events that arrive after the watermark passed their
window are dropped by design.  So the tests pin the semantics directly:
(1) single-batch ingest ≡ batch query for finalized windows, (2) a
controlled out-of-order feed demonstrates the late-data drop, (3) stateful
sessionization produces well-formed closed sessions.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from vector_db_at_home_spark.streaming.events import (
    events_stream_windowed_counts,
    read_events_stream,
    run_stream_to_memory,
    sessionize,
)

SRC = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    df = spark.read.parquet(SRC)
    df.repartition(4).write.mode("overwrite").parquet(str(d / "files"))
    return str(d / "files")


def test_windowed_counts_match_batch_single_ingest(spark, events_dir):
    # all files in one trigger → no event is ever late → every window
    # finalized by the closing watermark must equal the batch answer
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=100)
    agg = events_stream_windowed_counts(stream, window="1 day", watermark="1 day")
    run_stream_to_memory(agg, "win_counts", output_mode="append")
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.table("win_counts").collect()
    }
    batch = {
        (r.day, r.event_type): r.n_events
        for r in spark.read.parquet(events_dir)
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got  # windows older than (max_ts - 1 day) were finalized
    for key, n in got.items():
        assert batch[key] == n
    # only the last open day per event_type may be withheld
    assert len(got) >= len(batch) - 2 * 5


def test_late_data_dropped_after_eviction(spark, tmp_path):
    """Pin the watermark lifecycle (verified against Spark 4.1.2 behavior):

    - batch 0 (day-1 + day-10 events) runs at watermark 1970 - nothing late;
    - batch 1 advances the watermark past the day-1 window end, so its end
      EVICTS and emits the day-1 window (append-mode finalization);
    - batch 2 carries more day-1 events - state is gone, rows are dropped
      (numRowsDroppedByWatermark), and the day-1 window must NOT be
      re-emitted or updated: append output is final.
    """
    d = str(tmp_path / "late_feed")
    schema = ("event_id long, ts string, user_id long, event_type string, "
              "value double, props string")

    def write_batch(rows, mtime):
        df = spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        )
        before = set(os.listdir(d)) if os.path.exists(d) else set()
        df.coalesce(1).write.parquet(d, mode="append")
        for f in set(os.listdir(d)) - before:
            if f.startswith("part-"):
                os.utime(os.path.join(d, f), (mtime, mtime))

    now = time.time()
    write_batch(
        [(i, f"2024-01-10 12:00:{i:02d}", 1, "view", 1.0, "{}") for i in range(10)]
        + [(50 + i, f"2024-01-01 12:00:{i:02d}", 1, "view", 1.0, "{}")
           for i in range(5)],
        now - 7200,
    )
    write_batch(
        [(200 + i, f"2024-01-10 14:00:{i:02d}", 1, "view", 1.0, "{}")
         for i in range(4)],
        now - 3600,
    )
    write_batch(
        [(300 + i, f"2024-01-01 13:00:{i:02d}", 1, "view", 1.0, "{}")
         for i in range(3)],
        now,
    )
    stream = read_events_stream(spark, d, max_files_per_trigger=1)
    agg = events_stream_windowed_counts(stream, window="1 day", watermark="1 hour")
    run_stream_to_memory(agg, "late_counts", output_mode="append")
    day1 = [r for r in spark.table("late_counts").collect()
            if r.window_start.day == 1]
    assert len(day1) == 1          # emitted exactly once - append is final
    assert day1[0].n_events == 5   # late batch-2 events were dropped


def test_sessionize_stream(spark, events_dir):
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=4)
    sessions = sessionize(stream, gap_minutes=60)
    run_stream_to_memory(sessions, "sessions", output_mode="update")
    out = spark.table("sessions").collect()
    assert len(out) > 0
    for r in out:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1
    ev_counts = {
        r.user_id: r.cnt
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    from collections import defaultdict

    closed = defaultdict(int)
    for r in out:
        closed[r.user_id] += r.n_events
    for uid, n in closed.items():
        assert n <= ev_counts[uid]


def test_stream_ingest_into_store(spark, tmp_path):
    """Streaming feed -> foreachBatch -> store append -> kNN search works
    on the ingested vectors (streaming/ingest.py)."""
    import numpy as np

    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.ingest import stream_into_store

    # landing zone with two files of (vec, doc) rows
    feed = str(tmp_path / "feed")
    rows1 = [([float(i), 0.0, 0.0], '{"n": %d}' % i) for i in range(3)]
    rows2 = [([0.0, float(i), 0.0], '{"n": %d}' % (10 + i)) for i in range(2)]
    spark.createDataFrame(rows1, "vec array<float>, doc string") \
        .coalesce(1).write.parquet(feed, mode="append")
    spark.createDataFrame(rows2, "vec array<float>, doc string") \
        .coalesce(1).write.parquet(feed, mode="append")

    store = VectorStore(spark, tmp_path / "store", dim=3)
    stream = (spark.readStream.schema("vec array<float>, doc string")
              .option("maxFilesPerTrigger", 1).parquet(feed))
    q = stream_into_store(stream, store,
                          checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination()

    assert store.count() == 5
    ids = [r["id"] for r in store.head(10)]
    assert ids == [0, 1, 2, 3, 4]  # contiguous max+1 across batches
    hits = store.search(np.array([2.0, 0.0, 0.0], dtype=np.float32), k=1)
    assert hits[0][0].distance == 0.0
    assert hits[0][0].doc in ({"n": 2},)  # the ingested doc payload


def test_stream_stream_interval_join(spark, tmp_path):
    """Two streams (views, clicks) joined per user where the click lands
    within 30 min after the view; result checked against the equivalent
    batch join (closed input => identical answers)."""
    from vector_db_at_home_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    schema = "event_id long, ts string, user_id long"
    views_rows = [
        (1, "2024-01-01 10:00:00", 1),
        (2, "2024-01-01 11:00:00", 1),
        (3, "2024-01-01 10:00:00", 2),
    ]
    clicks_rows = [
        (101, "2024-01-01 10:10:00", 1),  # matches view 1
        (102, "2024-01-01 11:25:00", 1),  # matches view 2
        (103, "2024-01-01 12:00:00", 2),  # too late for view 3
    ]
    vd, cd = str(tmp_path / "views"), str(tmp_path / "clicks")
    spark.createDataFrame(views_rows, schema) \
        .withColumn("ts", F.to_timestamp("ts")).write.parquet(vd)
    spark.createDataFrame(clicks_rows, schema) \
        .withColumn("ts", F.to_timestamp("ts")) \
        .withColumnRenamed("event_id", "click_id") \
        .withColumnRenamed("ts", "click_ts").write.parquet(cd)

    views = (spark.readStream.schema("event_id long, ts timestamp, user_id long")
             .parquet(vd))
    clicks = (spark.readStream
              .schema("click_id long, click_ts timestamp, user_id long")
              .parquet(cd))
    joined = stream_stream_interval_join(
        views, clicks, key="user_id", left_time="ts",
        right_time="click_ts", max_lag="30 minutes",
    )
    from vector_db_at_home_spark.streaming.events import run_stream_to_memory

    run_stream_to_memory(joined, "ss_join", output_mode="append")
    got = sorted(
        (r.event_id, r.click_id) for r in spark.table("ss_join").collect()
    )
    assert got == [(1, 101), (2, 102)]


def test_stream_static_enrich(spark, tmp_path):
    from vector_db_at_home_spark.streaming.events import run_stream_to_memory
    from vector_db_at_home_spark.streaming.joins import stream_static_enrich

    d = str(tmp_path / "ev")
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 10)], "event_id long, user_id long"
    ).write.parquet(d)
    dim = spark.createDataFrame(
        [(10, "gold"), (20, "silver")], "user_id long, tier string"
    )
    stream = spark.readStream.schema("event_id long, user_id long").parquet(d)
    run_stream_to_memory(
        stream_static_enrich(stream, dim, "user_id"), "enriched",
        output_mode="append",
    )
    got = {r.event_id: r.tier for r in spark.table("enriched").collect()}
    assert got == {1: "gold", 2: "silver", 3: "gold"}


def test_dedup_stream_by_content_digest(spark, tmp_path):
    """Content-digest streaming dedup: re-delivered document text is
    dropped even when ids/timestamps differ (streaming/dedup.py)."""
    from vector_db_at_home_spark.streaming.dedup import dedup_stream
    from vector_db_at_home_spark.streaming.events import run_stream_to_memory

    d = str(tmp_path / "docs")
    rows1 = [(1, "2024-01-01 00:00:00", "alpha beta"),
             (2, "2024-01-01 00:01:00", "gamma delta")]
    rows2 = [(3, "2024-01-01 00:02:00", "alpha beta"),     # re-delivery
             (4, "2024-01-01 00:03:00", "epsilon zeta")]
    schema = "doc_id long, ts_s string, text string"
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, schema) \
            .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s") \
            .coalesce(1).write.parquet(d, mode="append")

    stream = (spark.readStream
              .schema("doc_id long, text string, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(d))
    out = dedup_stream(stream, "text", ts_col="ts",
                       watermark_delay="10 minutes")
    run_stream_to_memory(out, "dedup_content")
    got = spark.sql("SELECT text FROM dedup_content").collect()
    texts = sorted(r.text for r in got)
    assert texts == ["alpha beta", "epsilon zeta", "gamma delta"]


def test_dedup_stream_counts_duplicate_rate(spark, tmp_path):
    from vector_db_at_home_spark.streaming.dedup import dedup_stream_counts
    from vector_db_at_home_spark.streaming.events import run_stream_to_memory

    d = str(tmp_path / "docs2")
    rows = [(i, "2024-01-01 00:%02d:00" % (i % 50), "doc %d" % (i % 10))
            for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, ts_s string, text string") \
        .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s") \
        .coalesce(1).write.parquet(d, mode="append")
    stream = (spark.readStream
              .schema("doc_id long, text string, ts timestamp").parquet(d))
    out = dedup_stream_counts(stream, "text", "ts", window="1 hour")
    run_stream_to_memory(out, "dup_rate", output_mode="update")
    res = spark.sql("SELECT * FROM dup_rate").collect()
    assert len(res) == 1
    assert res[0].n_rows == 40
    # HLL estimate of 10 distinct digests within standard error
    assert abs(res[0].n_distinct_approx - 10) <= 2


def test_dedup_stream_requires_ts_with_watermark(spark, tmp_path):
    from vector_db_at_home_spark.streaming.dedup import dedup_stream

    d = str(tmp_path / "docs3")
    spark.createDataFrame([(1, "x")], "doc_id long, text string") \
        .write.parquet(d)
    stream = spark.readStream.schema("doc_id long, text string").parquet(d)
    with pytest.raises(ValueError, match="requires ts_col"):
        dedup_stream(stream, "text", watermark_delay="5 minutes")


def test_stream_ingest_neardup_rejection(spark, tmp_path):
    """Streaming ingest that screens each batch against the live store:
    exact dups (in-batch and vs store) and near-dups vs store are
    rejected; novel docs append (streaming/neardup.py)."""
    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_neardup,
    )

    store = VectorStore(spark, tmp_path / "store", dim=2)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    wrap = lambda t: '{"t": "%s"}' % t
    store.insert([[1.0, 0.0]], [{"t": base}])

    feed = str(tmp_path / "feed")
    novel = "one two three four five six seven eight nine ten"
    rows = [
        ([0.0, 1.0], wrap(base)),                             # exact dup vs store
        ([0.0, 2.0], wrap(base.replace("gamma", "rho"))),     # near dup vs store
        ([0.0, 3.0], wrap(novel)),
        ([0.0, 4.0], wrap(novel)),                            # in-batch exact dup
        ([0.0, 5.0], wrap("completely different words entirely unrelated now")),
    ]
    spark.createDataFrame(rows, "vec array<float>, doc string") \
        .coalesce(1).write.parquet(feed)

    stream = (spark.readStream.schema("vec array<float>, doc string")
              .parquet(feed))
    q = stream_into_store_neardup(
        stream, store, jaccard_threshold=0.4,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    docs = sorted(r["doc"]["t"] for r in store.head(10))
    # survivors: the original + ONE copy of the novel-dup pair + the
    # unrelated doc; exact and near dups vs the store rejected
    assert store.count() == 3
    assert base in docs
    assert "completely different words entirely unrelated now" in docs
    assert sum(1 for d in docs if d.startswith("one two three")) == 1


def test_stream_ingest_neardup_with_persisted_state(spark, tmp_path):
    """Same acceptance behavior through the persisted-state screen
    (state_dir given): exact/near dups rejected, novel docs append, and
    the state sees admitted docs — a re-delivered copy of a doc admitted
    in batch 1 is rejected in batch 2 via the STATE, not a store rescan."""
    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_neardup,
    )

    store = VectorStore(spark, tmp_path / "store2", dim=2)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    wrap = lambda t: '{"t": "%s"}' % t
    store.insert([[1.0, 0.0]], [{"t": base}])

    feed = str(tmp_path / "feed2")
    novel = "one two three four five six seven eight nine ten"
    spark.createDataFrame(
        [([0.0, 1.0], wrap(base)),                          # exact dup
         ([0.0, 2.0], wrap(base.replace("gamma", "rho"))),  # near dup
         ([0.0, 3.0], wrap(novel))],
        "vec array<float>, doc string",
    ).coalesce(1).write.parquet(feed)

    state_dir = str(tmp_path / "mh_state")
    stream = (spark.readStream.schema("vec array<float>, doc string")
              .parquet(feed))
    q = stream_into_store_neardup(
        stream, store, jaccard_threshold=0.4,
        checkpoint_dir=str(tmp_path / "ckpt2"), state_dir=state_dir,
    )
    q.awaitTermination()
    assert store.count() == 2  # base + novel

    # batch 2: near-dup of the doc ADMITTED in batch 1 must be rejected
    # (proves the state append made it visible), plus one new novel doc
    spark.createDataFrame(
        [([0.0, 6.0], wrap(novel.replace("three", "xyz"))),
         ([0.0, 7.0], wrap("fresh unrelated content nothing matches"))],
        "vec array<float>, doc string",
    ).coalesce(1).write.mode("append").parquet(feed)
    q2 = stream_into_store_neardup(
        (spark.readStream.schema("vec array<float>, doc string")
         .parquet(feed)),
        store, jaccard_threshold=0.4,
        checkpoint_dir=str(tmp_path / "ckpt2"), state_dir=state_dir,
    )
    q2.awaitTermination()
    docs = sorted(r["doc"]["t"] for r in store.head(10))
    assert store.count() == 3
    assert "fresh unrelated content nothing matches" in docs
    assert not any("xyz" in d for d in docs)


def test_neardup_screen_heals_compact_crash_instead_of_rebuilding(
        spark, tmp_path, monkeypatch):
    """A crash between ``minhash_corpus_state_compact``'s two renames
    leaves ``bands`` parked at ``_old_bands``.  The next screened batch
    renames it back (``maintenance.recover_compact_crash``) and keeps the
    state's rows — it must not rebuild the whole state from the store."""
    import vector_db_at_home_spark.operators.dedup as dedup
    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_neardup,
    )

    store = VectorStore(spark, tmp_path / "hstore", dim=2)
    wrap = lambda t: '{"t": "%s"}' % t
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    store.insert([[1.0, 0.0]], [{"t": base}])
    feed, state_dir = str(tmp_path / "hfeed"), str(tmp_path / "hstate")

    def run_batch(rows, mode):
        spark.createDataFrame(rows, "vec array<float>, doc string") \
            .coalesce(1).write.mode(mode).parquet(feed)
        stream_into_store_neardup(
            (spark.readStream.schema("vec array<float>, doc string")
             .parquet(feed)),
            store, jaccard_threshold=0.4,
            checkpoint_dir=str(tmp_path / "hckpt"), state_dir=state_dir,
        ).awaitTermination()

    novel = "one two three four five six seven eight nine ten"
    run_batch([([0.0, 1.0], wrap(novel))], "overwrite")
    assert store.count() == 2
    os.rename(f"{state_dir}/bands", f"{state_dir}/_old_bands")

    def no_rebuild(*a, **kw):
        raise AssertionError("MinHash state rebuilt instead of healed")

    monkeypatch.setattr(dedup, "minhash_corpus_state_build", no_rebuild)
    # a near-dup of the doc admitted in batch 1 is rejected through the
    # healed state; a fresh doc is admitted
    run_batch([([0.0, 2.0], wrap(novel.replace("three", "xyz"))),
               ([0.0, 3.0], wrap("fresh unrelated content nothing matches"))],
              "append")
    assert os.path.isdir(f"{state_dir}/bands")
    assert not os.path.exists(f"{state_dir}/_old_bands")
    docs = sorted(r["doc"]["t"] for r in store.head(10))
    assert store.count() == 3
    assert not any("xyz" in d for d in docs)


def test_neardup_replay_self_match_does_not_drop_batch(spark, tmp_path):
    """ADVICE r4 (medium): foreachBatch is at-least-once — if a crash lands
    AFTER the state append but BEFORE the store append, the replayed batch
    finds its own signatures in the persisted state under its own
    digest-derived id.  Self-pairs are filtered, so the batch must still be
    admitted instead of silently rejecting itself (permanent data loss).
    Simulated by pre-appending the batch's docs to the state under the
    exact __bid the screen will derive for them."""
    from vector_db_at_home_spark.operators.dedup import (
        minhash_corpus_state_append,
        minhash_corpus_state_build,
    )
    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_neardup,
    )
    from pyspark.sql import functions as F

    store = VectorStore(spark, tmp_path / "store_rp", dim=2)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    wrap = lambda t: '{"t": "%s"}' % t
    store.insert([[1.0, 0.0]], [{"t": base}])

    state_dir = str(tmp_path / "mh_state_rp")
    corpus_docs = store.df().select(
        F.col("id").alias("doc_id"),
        F.coalesce(F.col("doc"), F.lit("{}")).alias("text"),
    )
    minhash_corpus_state_build(corpus_docs, state_dir, "text", "doc_id")

    # the "crashed first attempt": batch doc already in the state under
    # the digest-derived id the screen will assign on replay
    novel = "one two three four five six seven eight nine ten"
    crashed = spark.createDataFrame([(wrap(novel),)], "doc string").select(
        F.conv(F.substring(F.md5("doc"), 1, 15), 16, 10)
        .cast("long").alias("doc_id"),
        F.col("doc").alias("text"),
    )
    minhash_corpus_state_append(spark, state_dir, crashed, "text", "doc_id")

    feed = str(tmp_path / "feed_rp")
    spark.createDataFrame(
        [([0.0, 3.0], wrap(novel))], "vec array<float>, doc string"
    ).coalesce(1).write.parquet(feed)
    q = stream_into_store_neardup(
        (spark.readStream.schema("vec array<float>, doc string")
         .parquet(feed)),
        store, jaccard_threshold=0.4,
        checkpoint_dir=str(tmp_path / "ckpt_rp"), state_dir=state_dir,
    )
    q.awaitTermination()
    docs = sorted(r["doc"]["t"] for r in store.head(10))
    assert store.count() == 2          # base + the replayed novel doc
    assert novel in docs               # NOT silently dropped


def test_neardup_state_append_writes_batch_marker(spark, tmp_path):
    """The per-(checkpoint, batch) marker under state_dir makes the state
    append replay-idempotent; it must exist after the batch commits."""
    import glob

    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_neardup,
    )

    store = VectorStore(spark, tmp_path / "store_mk", dim=2)
    feed = str(tmp_path / "feed_mk")
    spark.createDataFrame(
        [([0.0, 1.0], '{"t": "totally novel words here"}')],
        "vec array<float>, doc string",
    ).coalesce(1).write.parquet(feed)
    state_dir = str(tmp_path / "mh_state_mk")
    q = stream_into_store_neardup(
        (spark.readStream.schema("vec array<float>, doc string")
         .parquet(feed)),
        store, checkpoint_dir=str(tmp_path / "ckpt_mk"),
        state_dir=state_dir,
    )
    q.awaitTermination()
    assert store.count() == 1
    markers = glob.glob(f"{state_dir}/_appended_batches/*/0")
    assert len(markers) == 1


def test_neardup_screen_batch_ceiling(spark, tmp_path, monkeypatch):
    """Batches beyond _MAX_SCREEN_BATCH_ROWS fail loudly with guidance to
    shrink the trigger (same contract as knn._MAX_QUERY_ROWS)."""
    import pyspark.errors

    import vector_db_at_home_spark.streaming.neardup as nd
    from vector_db_at_home_spark.store import VectorStore

    monkeypatch.setattr(nd, "_MAX_SCREEN_BATCH_ROWS", 2)
    store = VectorStore(spark, tmp_path / "store_cl", dim=2)
    feed = str(tmp_path / "feed_cl")
    rows = [([0.0, float(i)], '{"t": "doc number %d words"}' % i)
            for i in range(5)]
    spark.createDataFrame(rows, "vec array<float>, doc string") \
        .coalesce(1).write.parquet(feed)
    q = nd.stream_into_store_neardup(
        (spark.readStream.schema("vec array<float>, doc string")
         .parquet(feed)),
        store, checkpoint_dir=str(tmp_path / "ckpt_cl"),
    )
    with pytest.raises(pyspark.errors.StreamingQueryException,
                       match="near-dup screen"):
        q.awaitTermination()


def test_stream_ingest_prepare_receives_batch_id(spark, tmp_path):
    """The two-arg prepare form receives the stable foreachBatch batch id
    (what lets a stateful prepare make side effects replay-idempotent)."""
    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.ingest import stream_into_store

    store = VectorStore(spark, tmp_path / "store_bid", dim=2)
    feed = str(tmp_path / "feed_bid")
    spark.createDataFrame(
        [([0.0, 1.0], "{}")], "vec array<float>, doc string"
    ).coalesce(1).write.parquet(feed)
    seen: list[int] = []

    def prep(df, batch_id):
        seen.append(batch_id)
        return df

    q = stream_into_store(
        (spark.readStream.schema("vec array<float>, doc string")
         .parquet(feed)),
        store, checkpoint_dir=str(tmp_path / "ckpt_bid"), prepare=prep,
    )
    q.awaitTermination()
    assert seen == [0]
    assert store.count() == 1


def test_full_ingest_pipeline_stream_neardup_ivf_sync(spark, tmp_path):
    """Whole-engine composition: a vector+doc stream flows through the
    near-dup screen (persisted MinHash state) into the store, then the
    saved IVF index is incrementally synced and the new vectors are
    immediately searchable — the complete production ingest loop, every
    stage O(batch)."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_db_at_home_spark.operators.ann import (
        ivf_build,
        ivf_load,
        ivf_save,
        ivf_search,
        ivf_sync_with_store,
    )
    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_neardup,
    )

    rng = np.random.default_rng(3)
    store = VectorStore(spark, tmp_path / "st_full", dim=4)
    base_doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    store.insert(rng.normal(size=(6, 4)).astype("float32"),
                 [{"t": f"{base_doc} {i}"} for i in range(6)])

    path = str(tmp_path / "ivf_full")
    ivf_save(ivf_build(store.df(), id_col="id", vec_col="vec", n_cells=2),
             path)

    # stream: 1 near-dup of a stored doc (rejected), 2 novel docs (kept)
    wrap = lambda t: '{"t": "%s"}' % t
    novel_a = "one two three four five six seven eight nine ten"
    novel_b = "completely different words entirely unrelated now indeed"
    feed = str(tmp_path / "feed_full")
    spark.createDataFrame(
        [([9.0, 9.0, 9.0, 9.0], wrap(base_doc + " 0 x")),
         ([5.0, 5.0, 5.0, 5.0], wrap(novel_a)),
         ([7.0, 7.0, 7.0, 7.0], wrap(novel_b))],
        "vec array<float>, doc string",
    ).coalesce(1).write.parquet(feed)
    q = stream_into_store_neardup(
        (spark.readStream.schema("vec array<float>, doc string")
         .parquet(feed)),
        store, jaccard_threshold=0.4,
        checkpoint_dir=str(tmp_path / "ckpt_full"),
        state_dir=str(tmp_path / "mh_full"),
    )
    q.awaitTermination()
    assert store.count() == 8          # 6 + 2 survivors

    # sync the saved index with what the stream admitted, then search
    assert ivf_sync_with_store(spark, store, path) == 2
    synced = ivf_load(spark, path)
    hit_id = (
        store.df().filter(F.col("doc").contains("five six seven"))
        .select("id").first().id
    )
    q1 = spark.createDataFrame(
        [(0, [5.0, 5.0, 5.0, 5.0])], "query_id long, qvec array<float>"
    )
    got = ivf_search(synced, q1, k=1, n_probes=2).collect()
    assert [r.id for r in got] == [hit_id]
    assert abs(got[0].distance) < 1e-6


def test_jsonl_stream_into_store_neardup(spark, tmp_path):
    """The production LLM-corpus ingest shape end-to-end: a JSONL landing
    zone streams through load_jsonl_corpus_stream into
    stream_into_store_neardup — exact and near dups rejected against the
    live store, novel docs landed."""
    import json as _json

    from pyspark.sql import functions as F

    from vector_db_at_home_spark.sources.records import (
        load_jsonl_corpus_stream,
    )
    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_neardup,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    novel = "one two three four five six seven eight nine ten"
    store = VectorStore(spark, tmp_path / "store", dim=2)
    store.insert([[1.0, 0.0]], [{"t": base}])

    d = tmp_path / "jsonl_feed"
    d.mkdir()
    recs = [
        {"rid": 1, "text": base},                          # exact dup vs store
        {"rid": 2, "text": base.replace("gamma", "rho")},  # near dup vs store
        {"rid": 3, "text": novel},
    ]
    (d / "p0.jsonl").write_text("\n".join(_json.dumps(r) for r in recs))

    stream = load_jsonl_corpus_stream(
        spark, str(d), "rid long, text string", id_field="rid")
    # stateless per-row featurization (stream-safe pre-foreachBatch):
    # a placeholder 2-dim hash vec; the screen under test is the doc one
    feed = stream.select(
        F.array(
            (F.xxhash64("text") % 1000).cast("float") / 1000.0,
            F.lit(1.0).cast("float"),
        ).alias("vec"),
        F.to_json(F.struct(F.col("text").alias("t"))).alias("doc"),
    )
    q = stream_into_store_neardup(
        feed, store, jaccard_threshold=0.4,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    docs = sorted(r["doc"]["t"] for r in store.head(10))
    assert store.count() == 2
    assert base in docs and novel in docs


def test_stream_ingest_vector_neardup_exact(spark, tmp_path):
    """Embedding-space streaming screen (exact form): cosine near-dups
    vs the store rejected, orthogonal vectors admitted, exact replays
    self-reject."""
    from pyspark.sql import functions as F

    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_vector_neardup,
    )

    store = VectorStore(spark, tmp_path / "vstore", dim=4)
    store.insert([[1.0, 0.0, 0.0, 0.0]], [{"t": "base"}])

    feed = str(tmp_path / "vfeed")
    rows = [
        ([0.999, 0.02, 0.0, 0.0], '{"t": "neardup of base"}'),   # cos≈0.9998
        ([0.0, 1.0, 0.0, 0.0], '{"t": "orthogonal"}'),
        ([2.0, 0.0, 0.0, 0.0], '{"t": "scaled base"}'),           # cos=1
        ([0.7, 0.7, 0.0, 0.0], '{"t": "diagonal"}'),              # cos≈0.707
    ]
    spark.createDataFrame(rows, "vec array<float>, doc string") \
        .coalesce(1).write.parquet(feed)
    stream = (spark.readStream.schema("vec array<float>, doc string")
              .parquet(feed))
    q = stream_into_store_vector_neardup(
        stream, store, min_cosine=0.95,
        checkpoint_dir=str(tmp_path / "vckpt"),
    )
    q.awaitTermination()

    docs = sorted(r["doc"]["t"] for r in store.head(10))
    assert store.count() == 3
    assert docs == ["base", "diagonal", "orthogonal"]


def test_stream_ingest_vector_neardup_ivf_indexed(spark, tmp_path):
    """Indexed form: the saved IVF index over the normalized store is
    built on first batch, synced incrementally, and a second batch's
    near-dup OF A FIRST-BATCH SURVIVOR is rejected through the index."""
    from pyspark.sql import functions as F

    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_vector_neardup,
    )

    store = VectorStore(spark, tmp_path / "vstore2", dim=4)
    # 4 seeds >= 2*n_cells so the index builds on the first batch
    store.insert(
        [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0],
         [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, -1.0, 0.0]],
        [{"t": f"seed{i}"} for i in range(4)],
    )

    feed = tmp_path / "vfeed2"
    feed.mkdir()
    idx = str(tmp_path / "vidx")

    def write_batch(name, rows):
        spark.createDataFrame(rows, "vec array<float>, doc string") \
            .coalesce(1).write.parquet(str(feed / name))

    write_batch("b0", [([0.0, 1.0, 0.0, 0.0], '{"t": "novel1"}')])
    stream = (spark.readStream.schema("vec array<float>, doc string")
              .option("maxFilesPerTrigger", 1).parquet(str(feed) + "/*"))
    q = stream_into_store_vector_neardup(
        stream, store, min_cosine=0.95, index_dir=idx,
        n_cells=2, n_probes=2,
        checkpoint_dir=str(tmp_path / "vckpt2"),
    )
    q.awaitTermination()
    assert store.count() == 5
    # r12 direct append: the batch's survivor (novel1) lands in the
    # index at batch COMMIT (finish hook), not at the next batch's sync
    assert spark.read.parquet(f"{idx}/assigned").count() == 5

    # second run: near-dup of novel1 (rejected via the synced index) +
    # one genuinely new direction (admitted)
    write_batch("b1", [
        ([0.0, 0.999, 0.02, 0.0], '{"t": "neardup of novel1"}'),
        ([0.0, 0.0, 0.0, 1.0], '{"t": "novel2"}'),
    ])
    stream2 = (spark.readStream.schema("vec array<float>, doc string")
               .option("maxFilesPerTrigger", 1).parquet(str(feed) + "/*"))
    q2 = stream_into_store_vector_neardup(
        stream2, store, min_cosine=0.95, index_dir=idx,
        n_cells=2, n_probes=2,
        checkpoint_dir=str(tmp_path / "vckpt2"),
    )
    q2.awaitTermination()
    docs = sorted(r["doc"]["t"] for r in store.head(10))
    assert store.count() == 6
    assert "novel1" in docs and "novel2" in docs
    assert not any(d.startswith("neardup") for d in docs)
    # novel1 rejected the near-dup THROUGH the index (it was appended
    # directly at run 1's commit); novel2 lands at run 2's commit
    n_indexed = spark.read.parquet(f"{idx}/assigned").count()
    assert n_indexed == 6


def test_neardup_compaction_hook_bounds_state(spark, tmp_path):
    """r9 (VERDICT r8 task 7): compact_every_batches=1 compacts the
    persisted MinHash state in-line after every committed micro-batch —
    acceptance behavior unchanged, state file count bounded instead of
    one appended file set per batch, committed batch markers pruned."""
    import os

    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_neardup,
    )

    store = VectorStore(spark, tmp_path / "cstore", dim=2)
    wrap = lambda t: '{"t": "%s"}' % t
    store.insert([[1.0, 0.0]], [{"t": "alpha beta gamma delta epsilon"}])

    feed = str(tmp_path / "cfeed")
    state_dir = str(tmp_path / "cstate")

    def run_batch(rows, mode):
        spark.createDataFrame(rows, "vec array<float>, doc string") \
            .coalesce(1).write.mode(mode).parquet(feed)
        q = stream_into_store_neardup(
            (spark.readStream.schema("vec array<float>, doc string")
             .parquet(feed)),
            store, jaccard_threshold=0.4,
            checkpoint_dir=str(tmp_path / "cckpt"),
            state_dir=state_dir, compact_every_batches=1,
        )
        q.awaitTermination()

    texts = ["one two three four five six seven eight nine ten",
             "ua ub uc ud ue uf ug uh ui uj",
             "red blue green yellow pink white black grey cyan plum"]
    run_batch([([0.0, 1.0], wrap(texts[0]))], "overwrite")
    run_batch([([0.0, 2.0], wrap(texts[1])),
               ([0.0, 3.0], wrap(texts[0].replace("three", "xx")))],
              "append")  # near-dup of a batch-0 survivor -> rejected
    run_batch([([0.0, 4.0], wrap(texts[2]))], "append")

    docs = sorted(r["doc"]["t"] for r in store.head(10))
    assert store.count() == 4  # seed + three novels, near-dup rejected
    assert not any("xx" in d for d in docs)
    # bounded state: each table compacted to its target partition count,
    # NOT one file set per batch (3 appends would leave >=3 sets)
    for name in ("shingles", "sizes", "bands"):
        files = [f for f in os.listdir(f"{state_dir}/{name}")
                 if f.endswith(".parquet")]
        assert len(files) <= 32, (name, len(files))
    # committed markers pruned: at most the latest batch's marker left
    mroot = f"{state_dir}/_appended_batches"
    scopes = [s for s in os.listdir(mroot) if not s.startswith(".")]
    markers = [m for s in scopes for m in os.listdir(f"{mroot}/{s}")
               if not m.startswith(".")]  # skip Hadoop .crc sidecars
    assert len(markers) <= 1, markers


def test_neardup_replay_at_compaction_boundary(spark, tmp_path):
    """Replay idempotence AT a compaction boundary: the crashed attempt
    appended the batch's signatures AND compacted the state before the
    store append committed.  The replay must still admit the batch
    (self-pair filter works on the compacted state) and end with the
    store and state consistent."""
    from vector_db_at_home_spark.operators.dedup import (
        minhash_corpus_state_append,
        minhash_corpus_state_build,
        minhash_corpus_state_compact,
    )
    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_neardup,
    )

    store = VectorStore(spark, tmp_path / "rstore", dim=2)
    wrap = lambda t: '{"t": "%s"}' % t
    base = "alpha beta gamma delta epsilon"
    store.insert([[1.0, 0.0]], [{"t": base}])

    novel = "one two three four five six"
    doc = wrap(novel)
    state_dir = str(tmp_path / "rstate")
    # crashed attempt: state built from the corpus, batch appended under
    # the digest-derived id the screen will assign on replay, then the
    # compaction hook fired — all BEFORE the store append committed
    corpus = store.df().select(
        F.col("id").alias("doc_id"),
        F.coalesce(F.col("doc"), F.lit("{}")).alias("text"))
    minhash_corpus_state_build(corpus, state_dir, "text", "doc_id", n=3)
    bid_df = spark.createDataFrame([(doc,)], "d string").select(
        F.conv(F.substring(F.md5("d"), 1, 15), 16, 10).cast("long")
        .alias("doc_id"),
        F.col("d").alias("text"))
    minhash_corpus_state_append(spark, state_dir, bid_df,
                                "text", "doc_id")
    minhash_corpus_state_compact(spark, state_dir)

    feed = str(tmp_path / "rfeed")
    spark.createDataFrame([([0.0, 1.0], doc)],
                          "vec array<float>, doc string") \
        .coalesce(1).write.parquet(feed)
    q = stream_into_store_neardup(
        (spark.readStream.schema("vec array<float>, doc string")
         .parquet(feed)),
        store, jaccard_threshold=0.4,
        checkpoint_dir=str(tmp_path / "rckpt"),
        state_dir=state_dir, compact_every_batches=1,
    )
    q.awaitTermination()
    # the replayed batch was ADMITTED (self-pairs filtered on the
    # compacted state), not silently dropped
    assert store.count() == 2
    # and a LATER delivery of the same doc is rejected (exact digest)
    spark.createDataFrame([([0.0, 9.0], doc)],
                          "vec array<float>, doc string") \
        .coalesce(1).write.mode("append").parquet(feed)
    q2 = stream_into_store_neardup(
        (spark.readStream.schema("vec array<float>, doc string")
         .parquet(feed)),
        store, jaccard_threshold=0.4,
        checkpoint_dir=str(tmp_path / "rckpt"),
        state_dir=state_dir, compact_every_batches=1,
    )
    q2.awaitTermination()
    assert store.count() == 2


def test_vector_neardup_direct_append_equals_watermark(spark, tmp_path):
    """r12 (VERDICT r11 task 6): the direct-append path — batch rows
    handed straight to ivf_append_saved by the post-commit finish hook —
    must leave a BYTE-IDENTICAL index to the watermark-sync-only path
    across a 3-batch stream, and must advance the sync watermark so the
    recovery sync's slice stays empty."""
    import json

    from vector_db_at_home_spark.operators.ann import (
        ivf_sync_with_store_watermark,
    )
    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_vector_neardup,
    )

    import shutil

    from pyspark.sql import functions as F
    from vector_db_at_home_spark.operators.ann import ivf_build, ivf_save

    batches = [
        [([0.0, 1.0, 0.0, 0.0], '{"t": "n1"}')],
        [([0.0, 0.999, 0.02, 0.0], '{"t": "dup of n1"}'),
         ([0.0, 0.0, 0.0, 1.0], '{"t": "n2"}')],
        [([0.5, 0.5, 0.5, 0.5], '{"t": "n3"}'),
         ([0.0, 0.0, 0.02, 0.999], '{"t": "dup of n2"}')],
    ]

    def _norm(col):
        v = F.transform(col, lambda x: x.cast("double"))
        nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
        return F.when(nrm == 0.0, v).otherwise(
            F.transform(v, lambda x: x / nrm))

    # ONE index build, copied per run: the comparison certifies the two
    # APPEND paths, so both must start from identical centroids (the
    # orthogonal seed fixture has exact assignment ties a separately
    # refit KMeans may break differently)
    built = False

    def run_stream(tag: str, direct: bool) -> str:
        nonlocal built
        store = VectorStore(spark, tmp_path / f"st_{tag}", dim=4)
        store.insert(
            [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0],
             [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, -1.0, 0.0]],
            [{"t": f"seed{i}"} for i in range(4)],
        )
        feed = tmp_path / f"feed_{tag}"
        feed.mkdir()
        idx = str(tmp_path / f"idx_{tag}")
        if not built:
            ivf_save(ivf_build(
                store.df().select("id", _norm(F.col("vec")).alias("vec")),
                n_cells=2, seed=7), idx)
            shutil.copytree(idx, str(tmp_path / "idx_template"))
            built = True
        else:
            shutil.copytree(str(tmp_path / "idx_template"), idx)
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, "vec array<float>, doc string") \
                .coalesce(1).write.parquet(str(feed / f"b{i}"))
            q = stream_into_store_vector_neardup(
                (spark.readStream
                 .schema("vec array<float>, doc string")
                 .option("maxFilesPerTrigger", 1)
                 .parquet(str(feed) + "/*")),
                store, min_cosine=0.95, index_dir=idx,
                n_cells=2, n_probes=2,
                checkpoint_dir=str(tmp_path / f"ck_{tag}"),
                direct_index_append=direct,
            )
            q.awaitTermination()
        if not direct:
            # the watermark-only path indexes the LAST batch's rows at
            # the NEXT sync — run it once so both paths are caught up

            class _View:
                def df(self_inner):
                    from pyspark.sql import functions as F

                    def norm(col):
                        v = F.transform(col, lambda x: x.cast("double"))
                        nrm = F.sqrt(F.aggregate(
                            v, F.lit(0.0), lambda a, x: a + x * x))
                        return F.when(nrm == 0.0, v).otherwise(
                            F.transform(v, lambda x: x / nrm))

                    return store.df().select(
                        "id", norm(F.col("vec")).alias("vec"))

            ivf_sync_with_store_watermark(spark, _View(), idx)
        return idx

    idx_d = run_stream("direct", True)
    idx_w = run_stream("wm", False)

    def dump(idx):
        return sorted(
            (r.id, r.cell, tuple(r.vec))
            for r in spark.read.parquet(f"{idx}/assigned").collect())

    assert dump(idx_d) == dump(idx_w)          # byte-identical index
    # direct path advanced the watermark to the last inserted id
    with open(f"{idx_d}/sync_watermark") as f:
        wm = json.loads(f.read())["max_id"]
    assert wm == max(r[0] for r in dump(idx_d))


def test_vector_neardup_compaction_hook(spark, tmp_path):
    """IVF-indexed vector screen with compact_every_batches=1: the
    synced index's appended assignment sets fold back per batch;
    rejection behavior unchanged across three micro-batch runs."""
    import os

    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_vector_neardup,
    )

    store = VectorStore(spark, tmp_path / "vcstore", dim=4)
    store.insert(
        [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0],
         [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, -1.0, 0.0]],
        [{"t": f"seed{i}"} for i in range(4)],
    )
    feed = tmp_path / "vcfeed"
    feed.mkdir()
    idx = str(tmp_path / "vcidx")

    def run(name, rows):
        spark.createDataFrame(rows, "vec array<float>, doc string") \
            .coalesce(1).write.parquet(str(feed / name))
        q = stream_into_store_vector_neardup(
            (spark.readStream.schema("vec array<float>, doc string")
             .option("maxFilesPerTrigger", 1).parquet(str(feed) + "/*")),
            store, min_cosine=0.95, index_dir=idx,
            n_cells=2, n_probes=2,
            checkpoint_dir=str(tmp_path / "vcckpt"),
            compact_every_batches=1,
        )
        q.awaitTermination()

    run("b0", [([0.0, 1.0, 0.0, 0.0], '{"t": "novel1"}')])
    run("b1", [([0.0, 0.999, 0.02, 0.0], '{"t": "neardup1"}'),
               ([0.0, 0.0, 0.0, 1.0], '{"t": "novel2"}')])
    run("b2", [([0.0, 0.0, 0.02, 0.999], '{"t": "neardup2"}')])

    docs = sorted(r["doc"]["t"] for r in store.head(10))
    assert store.count() == 6
    assert "novel1" in docs and "novel2" in docs
    assert not any(d.startswith("neardup") for d in docs)
    # compacted assignment store: cell dirs exist, no unbounded pile of
    # per-batch appended files
    cells = [d for d in os.listdir(f"{idx}/assigned")
             if d.startswith("cell=")]
    assert cells
    for c in cells:
        files = [f for f in os.listdir(f"{idx}/assigned/{c}")
                 if f.endswith(".parquet")]
        assert len(files) <= 32, (c, len(files))


def test_stream_into_invindex(spark, tmp_path):
    """r9: streaming ingest into the persisted inverted index — the
    streamed store equals a batch-built index over the same docs
    (phrase AND BM25 search legs), a re-run of the same feed is a
    no-op (invindex_append's docids guard — no marker machinery), and
    the compaction cadence bounds the postings file count."""
    import os

    from pyspark.sql import functions as F
    from vector_db_at_home_spark.operators.invindex import (
        bm25_search_indexed,
        invindex_load,
        invindex_save,
        phrase_search_indexed,
    )
    from vector_db_at_home_spark.streaming.ingest import (
        stream_into_invindex,
    )

    docs = [
        (1, "the cat sat on the cat mat"),
        (2, "the cat the cat the cat"),
        (3, "cat the"),
        (4, "dog park visit"),
        (5, "the cat returns"),
        (6, "completely unrelated text"),
    ]
    feed = str(tmp_path / "feed")
    for i in range(3):  # three 2-doc files → three micro-batches
        spark.createDataFrame(docs[2 * i:2 * i + 2],
                              "doc_id long, text string") \
            .coalesce(1).write.parquet(feed, mode="append")

    # index starts empty (meta pins buckets/mode); stream fills it
    path = str(tmp_path / "inv_stream")
    empty = spark.createDataFrame([], "doc_id long, text string")
    invindex_save(empty, "text", "doc_id", path, n_buckets=8)

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(feed))
    q = stream_into_invindex(stream, path,
                             checkpoint_dir=str(tmp_path / "ck1"),
                             compact_every_batches=2)
    q.awaitTermination()

    all_docs = spark.createDataFrame(docs, "doc_id long, text string")
    ref_path = str(tmp_path / "inv_batch")
    invindex_save(all_docs, "text", "doc_id", ref_path, n_buckets=8)

    def results(p):
        idx = invindex_load(spark, p)
        ph = [(r.id, r.n_matches)
              for r in phrase_search_indexed(idx, "the cat").collect()]
        bm = [(r.id, r.score_e4)
              for r in bm25_search_indexed(idx, ["cat", "dog"],
                                           k=10).collect()]
        return ph, bm

    assert results(path) == results(ref_path)

    # replay the whole feed through a FRESH checkpoint: docids guard
    # makes every batch a no-op — identical results, no growth
    n_docids = spark.read.parquet(f"{path}/docids").count()
    q2 = stream_into_invindex(
        (spark.readStream.schema("doc_id long, text string")
         .option("maxFilesPerTrigger", 1).parquet(feed)),
        path, checkpoint_dir=str(tmp_path / "ck2"))
    q2.awaitTermination()
    assert spark.read.parquet(f"{path}/docids").count() == n_docids
    assert results(path) == results(ref_path)

    # the in-line compact bounded the per-table file count (vs one
    # appended file set per batch forever)
    n_files = sum(len(fs) for _r, _d, fs in os.walk(f"{path}/postings"))
    assert n_files <= 8 * 3 + 2  # ≤ ~compact target, not O(batches)
    assert F is not None


def test_stream_into_maxsim_index(spark, tmp_path):
    """r10: streaming ingest into the persisted MaxSim token-vector
    index — the streamed store ranks identically to a batch-built index
    over the same docs, a full-feed replay through a fresh checkpoint
    is a no-op (docids guard), and the in-line compact bounds file
    counts."""
    from vector_db_at_home_spark.operators.featurize import (
        maxsim_index_load,
        maxsim_index_save,
        maxsim_search_indexed,
    )
    from vector_db_at_home_spark.streaming.ingest import (
        stream_into_maxsim_index,
    )

    docs = [
        (1, "merge vectors into the batch store"),
        (2, "the quick brown fox jumps fences"),
        (3, "vector merges and batches of vectors"),
        (4, "dog park visit today"),
        (5, "merged batch vector pipelines"),
        (6, "completely unrelated text"),
    ]
    feed = str(tmp_path / "feed")
    for i in range(3):
        spark.createDataFrame(docs[2 * i:2 * i + 2],
                              "doc_id long, text string") \
            .coalesce(1).write.parquet(feed, mode="append")

    path = str(tmp_path / "ms_stream")
    empty = spark.createDataFrame([], "doc_id long, text string")
    maxsim_index_save(empty, "text", "doc_id", path, dim=16, n_buckets=8)

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(feed))
    q = stream_into_maxsim_index(stream, path,
                                 checkpoint_dir=str(tmp_path / "ck1"),
                                 compact_every_batches=2)
    q.awaitTermination()

    all_docs = spark.createDataFrame(docs, "doc_id long, text string")
    ref_path = str(tmp_path / "ms_batch")
    maxsim_index_save(all_docs, "text", "doc_id", ref_path,
                      dim=16, n_buckets=8)

    terms = ["vector", "merge", "batch"]

    def results(p):
        return [tuple(r) for r in maxsim_search_indexed(
            maxsim_index_load(spark, p), terms, k=10).collect()]

    assert results(path) == results(ref_path)

    n_docids = spark.read.parquet(f"{path}/docids").count()
    q2 = stream_into_maxsim_index(
        (spark.readStream.schema("doc_id long, text string")
         .option("maxFilesPerTrigger", 1).parquet(feed)),
        path, checkpoint_dir=str(tmp_path / "ck2"))
    q2.awaitTermination()
    assert spark.read.parquet(f"{path}/docids").count() == n_docids
    assert results(path) == results(ref_path)


def test_neardup_state_append_exactly_once_across_marker_crash(
        spark, tmp_path, monkeypatch):
    """r11: the streaming text hook's state append goes through the
    staged exactly-once protocol — a crash BETWEEN the state append's
    job commit and the batch marker touch must replay to a state
    byte-equal to a never-crashed run, with zero duplicate rows and no
    compaction (the pre-r11 hook re-appended the batch for the
    delta-aggregating readers to absorb)."""
    import pytest

    import vector_db_at_home_spark.streaming.neardup as nd
    from vector_db_at_home_spark.store import VectorStore
    from vector_db_at_home_spark.streaming.neardup import (
        stream_into_store_neardup,
    )

    novel = '{"t": "totally novel words here nothing matches"}'

    def run(tag, state_dir):
        # the feed is written ONCE per tag: a restart must replay the
        # SAME batch 0, not discover a rewritten file as a new batch
        store = VectorStore(spark, tmp_path / f"store_{tag}", dim=2)
        feed = str(tmp_path / f"feed_{tag}")
        import os
        if not os.path.isdir(feed):
            spark.createDataFrame(
                [([0.0, 1.0], novel)], "vec array<float>, doc string",
            ).coalesce(1).write.parquet(feed)
        q = stream_into_store_neardup(
            (spark.readStream.schema("vec array<float>, doc string")
             .parquet(feed)),
            store, jaccard_threshold=0.4,
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            state_dir=state_dir,
        )
        q.awaitTermination()
        return store

    def fingerprint(state_dir):
        out = {}
        for tbl in ("shingles", "sizes", "bands"):
            df = spark.read.parquet(f"{state_dir}/{tbl}")
            out[tbl] = sorted(tuple(r) for r in df.collect())
        return out

    control_state = str(tmp_path / "state_ctl")
    run("ctl", control_state)
    want = fingerprint(control_state)

    crash_state = str(tmp_path / "state_crash")
    orig = nd._fs_touch

    def boom(spark_, path):
        if "_appended_batches" in path:
            raise RuntimeError("crash at marker touch")
        return orig(spark_, path)

    monkeypatch.setattr(nd, "_fs_touch", boom)
    with pytest.raises(Exception, match="crash at marker touch"):
        run("crash", crash_state)
    # the state delta landed (staged moves completed), marker absent
    assert fingerprint(crash_state) == want
    monkeypatch.setattr(nd, "_fs_touch", orig)

    # replay through the SAME checkpoint: exactly-once, store lands once
    store = run("crash", crash_state)
    assert store.count() == 1
    assert fingerprint(crash_state) == want  # zero duplicates, no compact
