"""Streaming tests (SURVEY.md §5): deterministic replay of the events table
through the custom Python DataSource, offset/backfill/start_id arithmetic
(S2-S4), per-trigger capping of ``read(start)`` (S6), restart from a
checkpoint, the SSE broadcaster (S7/S8, A1/A2 counters, M2 sort), and a
watermarked windowed aggregation."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from reddit_sse_stream_spark.spec import QuerySpec
from reddit_sse_stream_spark.streaming.sink import SSEBroadcaster, format_frame
from reddit_sse_stream_spark.streaming.source import (
    DEFAULT_MAX_IDS,
    FeedStreamReader,
    _max_event_id,
    read_feed_stream,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"
MAX_ID = 999  # sf0.001 events are ids 0..999
CAP = 25  # explicit per-trigger cap, far below MAX_ID, so the cap shows


# ------------------------------------------------------------ offsets S2-S6


def test_s2_offset_discovery_from_parquet_stats():
    assert _max_event_id(EVENTS) == MAX_ID


def test_s2_initial_offset_defaults_to_latest():
    r = FeedStreamReader({"path": EVENTS})
    assert r.initialOffset() == {"id": MAX_ID}


def test_s3_backfill_rewinds_and_clamps():
    r = FeedStreamReader({"path": EVENTS, "backfill": "100"})
    assert r.initialOffset() == {"id": MAX_ID - 100}
    r2 = FeedStreamReader({"path": EVENTS, "backfill": "200000"})
    # clamp to 100_000, then floor at -1 (beginning of stream)
    assert r2.initialOffset() == {"id": -1}


def test_s4_start_id_overrides_cursor():
    r = FeedStreamReader({"path": EVENTS, "start_id": "137"})
    assert r.initialOffset() == {"id": 136}


def test_v1_backfill_start_id_exclusive():
    with pytest.raises(ValueError):
        FeedStreamReader({"path": EVENTS, "backfill": "5", "start_id": "9"})


def test_non_positive_cap_is_rejected():
    """A cap <= 0 would pin every read() at its start: the stream would
    never advance and report no error."""
    for cap in ("0", "-5"):
        with pytest.raises(ValueError, match="max_ids_per_batch"):
            FeedStreamReader({"path": EVENTS, "max_ids_per_batch": cap})


def _ids(batches) -> list[int]:
    import pyarrow as pa

    batches = list(batches)
    return pa.Table.from_batches(batches)["id"].to_pylist() if batches else []


def test_s6_latest_offset_capped_per_trigger():
    r = FeedStreamReader({"path": EVENTS, "backfill": "100000", "max_ids_per_batch": str(CAP)})
    start = r.initialOffset()
    assert start == {"id": -1}
    # each trigger advances at most max_ids_per_batch ids from its start
    rows, end = r.read(start)
    assert end == {"id": -1 + CAP}
    assert _ids(rows)
    rows, end = r.read(end)
    assert end == {"id": -1 + 2 * CAP}
    assert all(CAP - 1 < i <= 2 * CAP - 1 for i in _ids(rows))


def test_s6_live_trigger_reads_to_the_head(tmp_path):
    """A live reader whose file head moved 120 ids (one second of the
    reference's traffic) reads all of them in one trigger."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    full = pq.read_table(EVENTS)
    path = str(tmp_path / "events.parquet")
    pq.write_table(full.filter(pc.field("event_id") <= MAX_ID - 120), path)
    r = FeedStreamReader({"path": path})
    start = r.initialOffset()
    assert start == {"id": MAX_ID - 120}
    assert r.read(start)[1] == start  # nothing new: the offset holds
    pq.write_table(full, path)
    rows, end = r.read(start)
    assert end == {"id": MAX_ID}
    ids = _ids(rows)
    assert ids and min(ids) > MAX_ID - 120


def test_collect_bound_covers_both_streams_default_caps():
    """The serving collect bound is the rc + rs union's default caps."""
    caps = [FeedStreamReader({"path": EVENTS, "stream": s}).batch_size for s in ("rc", "rs")]
    assert caps == [DEFAULT_MAX_IDS, DEFAULT_MAX_IDS]
    assert SSEBroadcaster.DEFAULT_MAX_COLLECT_ROWS >= sum(caps)


def test_read_partition_filters_stream_and_range():
    import pyarrow as pa

    r = FeedStreamReader({"path": EVENTS, "stream": "rc"})
    tbl = pa.Table.from_batches(list(r.readBetweenOffsets({"id": -1}, {"id": 99})))
    ids = tbl["id"].to_pylist()
    assert ids == sorted(ids)
    assert min(ids) >= 0 and max(ids) <= 99
    assert set(tbl["event"].to_pylist()) == {"rc"}
    assert set(tbl["subreddit"].to_pylist()) <= {"view", "click", "error"}


# -------------------------------------------------- end-to-end micro-batches


def test_stream_replay_matches_batch_feed(spark, sf_dir):
    """Replaying rc+rs through the source must reproduce feed_df exactly."""
    from reddit_sse_stream_spark.sources.feed import feed_df

    rc = read_feed_stream(spark, EVENTS, "rc", backfill=100000, max_ids_per_batch=400)
    rs = read_feed_stream(spark, EVENTS, "rs", backfill=100000, max_ids_per_batch=400)
    union = rc.unionByName(rs)
    # default trigger + processAllAvailable: drives MULTIPLE micro-batches
    # (the per-trigger cap means ~3 polls to cover 1000 ids), verifying the
    # capped-cursor path end to end.
    q = (
        union.writeStream.format("memory")
        .queryName("replay")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {tuple(r) for r in spark.sql("SELECT * FROM replay").collect()}
    expected = {tuple(r) for r in feed_df(spark, sf_dir).collect()}
    assert got == expected


def test_streaming_windowed_agg_with_watermark(spark):
    """Tumbling-window count over the streamed feed (the reference's S5
    late-data drop replaced by an explicit watermark)."""
    rc = read_feed_stream(spark, EVENTS, "rc", backfill=100000, max_ids_per_batch=100000)
    agg = (
        rc.withColumn("ts", F.timestamp_seconds("created_utc"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits closed windows; just require the query ran and
    # produced deterministic non-negative counts
    rows = spark.sql("SELECT * FROM winagg").collect()
    assert all(r["n"] > 0 for r in rows)


# ------------------------------------------------------- sink / broadcaster


def _fake_rows(rows):
    return [dict(zip(("id", "event", "author", "subreddit", "domain", "over_18", "is_self", "created_utc", "json"), r)) for r in rows]


ROWS = _fake_rows(
    [
        (1, "rc", "alice", "politics", None, None, None, 300, '{"a":"1","b":"2"}'),
        (2, "rc", "bob", "news", None, None, None, 100, '{"a":"2"}'),
        (3, "rs", "alice", "news", "example.com", True, False, 200, '{"a":"3"}'),
    ]
)


def test_sink_m2_sort_and_framing():
    clock = lambda: 1000.0  # noqa: E731
    bc = SSEBroadcaster(clock=clock)
    st = bc.register("c1", QuerySpec())
    # rc 5 and rs 4 tie with rc 2 on created_utc: ties break on id, not on
    # stream or arrival order
    bc.publish(ROWS + _fake_rows([
        (5, "rc", "carol", "news", None, None, None, 100, '{"a":"5"}'),
        (4, "rs", "dave", "news", "example.com", False, True, 100, '{"a":"4"}'),
    ]))
    assert st.frames == [
        format_frame(2, "rc", '{"a":"2"}'),
        format_frame(4, "rs", '{"a":"4"}'),
        format_frame(5, "rc", '{"a":"5"}'),
        format_frame(3, "rs", '{"a":"3"}'),
        format_frame(1, "rc", '{"a":"1","b":"2"}'),
    ]
    assert st.tcs == 3 and st.tss == 2
    assert st.tbs == sum(len(f) for f in st.frames)


def test_sink_a1_counters_increment_before_type_filter():
    bc = SSEBroadcaster(clock=lambda: 0.0)
    st = bc.register("c1", QuerySpec(type="submissions"))
    bc.publish(ROWS)
    # only the rs frame emitted, but BOTH rc rows still counted (sse.py:179)
    assert len(st.frames) == 1 and "event: rs" in st.frames[0]
    assert st.tcs == 2 and st.tss == 1


def test_sink_p2_projection_at_emit():
    bc = SSEBroadcaster(clock=lambda: 0.0)
    st = bc.register("c1", QuerySpec(filter_keys=("b",)))
    bc.publish(ROWS)
    datas = [f.split("data: ")[1].strip() for f in st.frames]
    assert datas == ["{}", "{}", '{"b": "2"}']


def test_sink_multi_client_fanout_independent_specs():
    bc = SSEBroadcaster(clock=lambda: 0.0)
    s1 = bc.register("alice_only", QuerySpec(authors=("alice",)))
    s2 = bc.register("everything", QuerySpec())
    bc.publish(ROWS)
    assert len(s1.frames) == 2  # alice's rc + rs
    assert len(s2.frames) == 3


def test_sink_poison_payload_skips_only_the_filter_frame():
    """A row whose json is not a JSON object must not fail the shared
    batch: a plain client still gets every frame, a ``filter=`` client
    gets every other frame, and the skipped frame adds no bytes."""
    poison = ["{not json", "[1, 2]", '"text"', "null", None]
    rows = ROWS + _fake_rows(
        [(10 + i, "rc", "carol", "news", None, None, None, 400 + i, p)
         for i, p in enumerate(poison)]
    )
    bc = SSEBroadcaster(clock=lambda: 0.0)
    plain = bc.register("plain", QuerySpec())
    keyed = bc.register("keyed", QuerySpec(filter_keys=("a",)))
    bc.publish(rows)
    assert [f.split("\n")[0] for f in plain.frames] == [
        "id: 2", "id: 3", "id: 1", "id: 10", "id: 11", "id: 12", "id: 13", "id: 14"
    ]
    assert keyed.frames == [
        format_frame(2, "rc", '{"a": "2"}'),
        format_frame(3, "rs", '{"a": "3"}'),
        format_frame(1, "rc", '{"a": "1"}'),
    ]
    # counters still count the poison rows (A1 counts before emit) ...
    assert (keyed.tcs, keyed.tss) == (plain.tcs, plain.tss) == (7, 1)
    # ... but no frame means no bytes
    assert keyed.tbs == sum(len(f) for f in keyed.frames)


def test_publisher_thread_and_waiting_readers_deliver_every_frame_once():
    """The push path under concurrency: one thread publishes batches while
    more readers than cores block in ``wait`` and drain with
    ``frames_since``, under a tiny switch interval; every reader gets
    every frame exactly once, in publish order, and every counter."""
    import sys
    import threading
    import time

    n_batches, per_batch, n_readers = 100, 7, 8
    total = n_batches * per_batch
    bc = SSEBroadcaster(clock=lambda: 0.0)
    states = [bc.register(f"c{r}", QuerySpec()) for r in range(n_readers)]
    stopped = threading.Event()
    got: list[list[str]] = [[] for _ in range(n_readers)]

    def read(r):
        cursor = 0
        while len(got[r]) < total and bc.wait(f"c{r}", cursor, stopped.is_set):
            cursor, frames = bc.frames_since(f"c{r}", cursor)
            got[r].extend(frames)

    def publish():
        for b in range(n_batches):
            ids = range(b * per_batch, (b + 1) * per_batch)
            bc.publish(_fake_rows(
                [(i, "rc", "a", "s", None, None, None, i, "{}") for i in ids]
            ))

    readers = [threading.Thread(target=read, args=(r,)) for r in range(n_readers)]
    publisher = threading.Thread(target=publish)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in readers + [publisher]:
            t.start()
        deadline = time.monotonic() + 60
        for t in [publisher] + readers:
            t.join(max(deadline - time.monotonic(), 0))
    finally:
        sys.setswitchinterval(interval)
        stopped.set()  # only matters if a reader hung: release it
        bc.wake()
    for t in readers:
        t.join(5)
        assert not t.is_alive()
    want = [format_frame(i, "rc", "{}") for i in range(total)]
    assert all(g == want for g in got)
    assert all(st.tcs == total and st.tbs == len("".join(want)) for st in states)


def test_sink_keepalive_timer_and_counter_payload():
    now = [0.0]
    bc = SSEBroadcaster(clock=lambda: now[0])
    st = bc.register("c1", QuerySpec())
    bc.tick()
    assert st.frames == []  # not idle yet
    now[0] = 31.0
    bc.tick()
    assert len(st.frames) == 1
    assert "event: keepalive" in st.frames[0]
    payload = json.loads(st.frames[0].split("data: ")[1].strip())
    assert payload == {"tcs": 0, "tss": 0, "tbs": 0}
    # keepalive ids are their own sequence starting at 1 (sse.py:116,139)
    assert st.frames[0].startswith("id: 1\n")
    now[0] = 62.0
    bc.tick()
    assert st.frames[1].startswith("id: 2\n")
    # tbs now counts the first keepalive frame's bytes (sse.py:141)
    payload2 = json.loads(st.frames[1].split("data: ")[1].strip())
    assert payload2["tbs"] == len(st.frames[0])


def test_sink_foreach_batch_end_to_end(spark):
    """foreachBatch wiring: one shared streaming query, two clients."""
    bc = SSEBroadcaster(clock=lambda: 0.0)
    bc.register("rc_only", QuerySpec(type="rc"))
    bc.register("all", QuerySpec())
    stream = read_feed_stream(spark, EVENTS, "rc", backfill=100000, max_ids_per_batch=100000)
    q = (
        stream.writeStream.foreachBatch(bc.foreach_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    _, rc_frames = bc.frames_since("rc_only", 0)
    _, all_frames = bc.frames_since("all", 0)
    assert len(rc_frames) == len(all_frames) > 0
    assert all(f.split("\n")[1] == "event: rc" for f in rc_frames)


# ------------------------------------------- engine-managed state, restarts


def test_streaming_dedup_within_watermark(spark):
    """dropDuplicatesWithinWatermark over the streamed feed: a re-delivered
    id inside the watermark horizon is emitted once."""
    rc = read_feed_stream(spark, EVENTS, "rc", backfill=100000, max_ids_per_batch=100000)
    deduped = (
        rc.withColumn("ts", F.timestamp_seconds("created_utc"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["id"])
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT id FROM dedup_stream").collect()
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids))
    assert len(ids) > 0


def test_checkpoint_restart_no_dupes_no_gaps(spark, tmp_path):
    """Stop a capped stream mid-replay, restart from the checkpoint: the
    file sink must contain exactly the feed — no duplicates, no gaps
    (exactly-once with the per-trigger cap resuming from the committed
    offset, not from initialOffset). Memory sink can't recover, so this
    uses the fault-tolerant parquet sink."""
    import time as _t

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start_query():
        stream = read_feed_stream(
            spark, EVENTS, "rc", backfill=100000, max_ids_per_batch=300
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="50 milliseconds")
            .start()
        )

    def sink_count():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    q = start_query()
    deadline = _t.time() + 60
    while _t.time() < deadline and sink_count() < 300:
        _t.sleep(0.1)
    q.stop()
    n_first = sink_count()
    assert n_first > 0

    expected_ids = {
        r["event_id"]
        for r in spark.sql(
            "SELECT event_id FROM parquet.`" + EVENTS + "` "
            "WHERE event_type IN ('view','click','error')"
        ).collect()
    }
    q2 = start_query()
    deadline = _t.time() + 90
    while _t.time() < deadline and sink_count() < len(expected_ids):
        _t.sleep(0.2)
    q2.stop()

    from collections import Counter

    ids = [r["id"] for r in spark.read.parquet(out).collect()]
    counts = Counter(ids)
    dupes = {i: c for i, c in counts.items() if c > 1}
    assert not dupes, f"duplicate ids after restart: {dict(list(dupes.items())[:5])}"
    missing = expected_ids - set(counts)
    assert not missing, f"gaps after restart: {sorted(missing)[:10]}"


def test_stream_stream_join_with_watermarks(spark):
    """Stream-stream inner join: rc events joined to rs events by author
    within a +/-1h event-time band, both sides watermarked — results equal
    the equivalent batch join."""
    from reddit_sse_stream_spark.sources.feed import feed_df

    def ts(df):
        return df.withColumn("ets", F.timestamp_seconds("created_utc"))

    rc = ts(read_feed_stream(spark, EVENTS, "rc", backfill=100000, max_ids_per_batch=100000))
    rs = ts(read_feed_stream(spark, EVENTS, "rs", backfill=100000, max_ids_per_batch=100000))
    joined = (
        rc.withWatermark("ets", "2 hours")
        .alias("c")
        .join(
            rs.withWatermark("ets", "2 hours").alias("s"),
            F.expr(
                "c.author = s.author AND "
                "s.ets BETWEEN c.ets - INTERVAL 1 HOUR AND c.ets + INTERVAL 1 HOUR"
            ),
        )
        .select(F.col("c.id").alias("c_id"), F.col("s.id").alias("s_id"))
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {tuple(r) for r in spark.sql("SELECT * FROM ss_join").collect()}

    fd = feed_df(spark, "/root/testdata/sf0.001")
    c = fd.filter(F.col("event") == "rc").alias("c")
    s = fd.filter(F.col("event") == "rs").alias("s")
    expected = {
        tuple(r)
        for r in c.join(
            s,
            F.expr(
                "c.author = s.author AND s.created_utc "
                "BETWEEN c.created_utc - 3600 AND c.created_utc + 3600"
            ),
        )
        .select(F.col("c.id").alias("c_id"), F.col("s.id").alias("s_id"))
        .collect()
    }
    assert got == expected


def test_streaming_replay_scales_to_sf01(spark):
    """100k events through the source in one uncapped read — count must
    match the batch feed."""
    path = "/root/testdata/sf0.1/events.parquet"
    rc = read_feed_stream(spark, path, "rc", backfill=100000, max_ids_per_batch=100000)
    q = rc.writeStream.format("memory").queryName("big_replay").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT id) AS d FROM big_replay").first()
    expected = (
        spark.read.parquet(path)
        .filter(F.col("event_type").isin("view", "click", "error"))
        .count()
    )
    assert got["n"] == got["d"] == expected


def test_restart_after_committed_batch_never_reemits(spark, tmp_path):
    """Restart where the last batch was fully committed: the engine
    re-plans that batch from the offset log before it calls read(), so the
    stateless reader resumes at the committed offset instead of re-seeding
    from initialOffset() (the backfill base, far behind it). The parquet
    sink must hold every rc id exactly once."""
    from collections import Counter

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_to_head():
        stream = read_feed_stream(
            spark, EVENTS, "rc", backfill=100000, max_ids_per_batch=300
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        assert q.exception() is None

    run_to_head()
    n_first = spark.read.parquet(out).count()
    run_to_head()  # nothing new in the file: the restart must add no row

    expected = {
        r["event_id"]
        for r in spark.sql(
            "SELECT event_id FROM parquet.`" + EVENTS + "` "
            "WHERE event_type IN ('view','click','error')"
        ).collect()
    }
    counts = Counter(r["id"] for r in spark.read.parquet(out).collect())
    assert n_first == len(expected)
    dupes = {i: c for i, c in counts.items() if c > 1}
    assert not dupes, f"duplicate ids after restart: {dict(list(dupes.items())[:5])}"
    missing = expected - set(counts)
    assert not missing, f"gaps after restart: {sorted(missing)[:10]}"


def test_fresh_start_still_caps_first_batch():
    """A fresh query's first read is capped like every other."""
    r = FeedStreamReader({"path": EVENTS, "backfill": "100000", "max_ids_per_batch": str(CAP)})
    base = r.initialOffset()["id"]
    rows, end = r.read({"id": base})
    assert end == {"id": base + CAP}
    ids = _ids(rows)
    assert ids  # the capped first window actually reads rows
    assert all(base < i <= base + CAP for i in ids)


def test_frames_since_cursor_drains_acknowledged_frames():
    """Long-lived connections must hold O(undelivered) frames: the consumer
    cursor acknowledges delivery and the broadcaster drops the prefix."""
    clock = lambda: 1000.0  # noqa: E731
    bc = SSEBroadcaster(clock=clock)
    st = bc.register("c1", QuerySpec())
    bc.publish(ROWS)
    cur, frames = bc.frames_since("c1", 0)
    assert len(frames) == 3 and cur == 3
    # frames stay re-readable until the advanced cursor acks them
    assert bc.frames_since("c1", 0) == (3, frames)
    cur2, frames2 = bc.frames_since("c1", cur)
    assert frames2 == [] and cur2 == 3
    assert st.frames == []  # acknowledged prefix dropped
    assert st.base_seq == 3
    # new frames continue the sequence after a drain
    bc.publish(ROWS)
    cur3, frames3 = bc.frames_since("c1", cur2)
    assert len(frames3) == 3 and cur3 == 6


def test_foreach_batch_collect_bound(spark):
    """The serving fan-out collect is a circuit breaker, not a data path:
    a batch above max_collect_rows (misconfigured/uncapped source) raises
    instead of silently materializing on the driver."""
    bc = SSEBroadcaster()
    bc.register("c1", QuerySpec())
    big = spark.range(SSEBroadcaster.DEFAULT_MAX_COLLECT_ROWS + 1).selectExpr(
        "id", "'rc' AS event", "'a' AS author", "'s' AS subreddit",
        "CAST(NULL AS STRING) AS domain", "CAST(NULL AS BOOLEAN) AS over_18",
        "CAST(NULL AS BOOLEAN) AS is_self", "id AS created_utc",
        "'{}' AS json",
    )
    with pytest.raises(RuntimeError, match="max_collect_rows"):
        bc.foreach_batch(big, 0)
    small = big.limit(5)
    bc.foreach_batch(small, 1)  # within bound: serves normally
    assert len(bc.frames_since("c1", 0)[1]) == 5


def test_default_caps_deliver_a_full_backfill_in_one_batch(spark):
    """serve's shape with default options: a 100k backfill over rc + rs
    reaches every client in ONE non-empty micro-batch, inside the default
    collect bound."""
    bc = SSEBroadcaster()
    st = bc.register("c1", QuerySpec())
    sizes = []

    def sink(batch_df, epoch_id):
        before = st.base_seq + len(st.frames)
        bc.foreach_batch(batch_df, epoch_id)
        sizes.append(st.base_seq + len(st.frames) - before)

    rc = read_feed_stream(spark, EVENTS, "rc", backfill=100000)
    rs = read_feed_stream(spark, EVENTS, "rs", backfill=100000)
    q = rc.unionByName(rs).writeStream.foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()
    assert q.exception() is None
    assert [n for n in sizes if n] == [MAX_ID + 1]
    ids = sorted(int(f.split("\n", 1)[0][len("id: "):]) for f in st.frames)
    assert ids == list(range(MAX_ID + 1))


def test_streaming_dedup_under_rocksdb_state_store(spark, tmp_path):
    """The same streaming dedup runs on the RocksDB state store provider —
    the production backend for state that exceeds executor heap (billions
    of fingerprints at 100 TB; the default HDFS-backed in-memory map would
    OOM). Results must be identical to the default provider."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rc = read_feed_stream(
            spark, EVENTS, "rc", backfill=100000, max_ids_per_batch=400
        )
        deduped = rc.withColumn(
            "fp", F.substring(F.md5("json"), 1, 16)
        ).dropDuplicates(["fp"])
        q = (
            deduped.writeStream.format("memory")
            .queryName("rocksdb_dedup")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    got = {r["fp"] for r in spark.sql("SELECT fp FROM rocksdb_dedup").collect()}
    n = spark.sql("SELECT count(*) FROM rocksdb_dedup").collect()[0][0]
    from reddit_sse_stream_spark.sources.feed import feed_df

    want = {
        r["fp"]
        for r in feed_df(spark, "/root/testdata/sf0.001")
        .filter(F.col("event") == "rc")
        .select(F.substring(F.md5("json"), 1, 16).alias("fp"))
        .distinct()
        .collect()
    }
    assert got == want and n == len(want)


def test_observe_metrics_match_reference_counters(spark, sf_dir):
    """A1-style running counters via the Observation API: Spark accumulates
    the metrics inside the existing job (zero extra pass), where the
    reference ticks Python locals per event (sse.py:113-129)."""
    from pyspark.sql import Observation

    from reddit_sse_stream_spark.sources.feed import feed_df

    obs = Observation("feed_counters")
    fd = feed_df(spark, sf_dir).observe(
        obs,
        F.count(F.lit(1)).alias("events_total"),
        F.sum((F.col("event") == "rc").cast("long")).alias("rc_total"),
        F.sum(F.length("json")).alias("bytes_total"),
    )
    kept = fd.filter(F.col("event") == "rc").count()
    m = obs.get
    assert m["rc_total"] == kept
    assert m["events_total"] == feed_df(spark, sf_dir).count()
    assert m["bytes_total"] > 0


def test_streaming_session_window_closed_sessions_match_batch(spark, sf_dir, tmp_path):
    """Streaming session windows (gap-based session_window + watermark,
    append mode) must emit exactly the batch sessions that the watermark
    has CLOSED — the batch sessionize twin restricted to sessions ending
    before max_ts - delay.  Open sessions staying unemitted is the
    documented append-mode contract, not data loss."""
    from reddit_sse_stream_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    src = tmp_path / "sess_stream"
    for i in range(2):
        ev.filter(F.col("user_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_stream_q")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_window"]["start"], r["session_window"]["end"]): r["n"]
        for r in spark.sql("SELECT * FROM sess_stream_q").collect()
    }
    batch_all = {
        (r["user_id"], r["session_window"]["start"], r["session_window"]["end"]): r["n"]
        for r in ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    import datetime

    max_ts = ev.agg(F.max("ts")).first()[0]
    horizon = max_ts - datetime.timedelta(minutes=10)
    closed_batch = {k: v for k, v in batch_all.items() if k[2] <= horizon}
    # every emitted session is a real batch session...
    assert set(got) <= set(batch_all)
    for k in got:
        assert got[k] == batch_all[k]
    # ...and every watermark-closed batch session was emitted
    assert set(closed_batch) <= set(got)


def test_stream_static_broadcast_join_filters_feed(spark, tmp_path):
    """Stream-static join: the streaming feed joined against a static
    whitelist dimension — the standard enrich/filter shape where the
    static side broadcasts and never blocks a micro-batch."""
    from reddit_sse_stream_spark.streaming.source import read_feed_stream

    rc = read_feed_stream(
        spark, EVENTS, "rc", backfill=100000, max_ids_per_batch=100000
    )
    # feed subreddit = event_type (sources/feed.py); whitelist two of them
    allowed = spark.createDataFrame(
        [("click", 1), ("view", 2)], "subreddit string, tier int"
    )
    joined = rc.join(F.broadcast(allowed), "subreddit").select(
        "id", "subreddit", "tier"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("stream_static_q")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM stream_static_q").collect()
    assert rows, "whitelisted subreddits must pass through"
    assert {r["subreddit"] for r in rows} <= {"click", "view"}
    assert all(r["tier"] in (1, 2) for r in rows)


def test_broadcaster_same_spec_clients_share_render():
    """Same-spec clients must receive byte-identical frames and counter
    deltas from the shared per-spec render (the r07 fan-out
    optimization), and a client joining mid-stream accumulates only the
    batches it was registered for."""
    bc = SSEBroadcaster(clock=lambda: 0.0)
    s1 = bc.register("c1", QuerySpec())
    s2 = bc.register("c2", QuerySpec())

    class FakeDF:
        def __init__(self, rows):
            self._rows = rows
        def limit(self, k):
            return self
        def collect(self):
            return self._rows

    bc.foreach_batch(FakeDF(ROWS), 0)
    assert s1.frames == s2.frames and s1.frames
    assert (s1.tcs, s1.tss, s1.tbs) == (s2.tcs, s2.tss, s2.tbs)
    late = bc.register("late", QuerySpec())
    bc.foreach_batch(FakeDF(ROWS), 1)
    assert late.frames == s1.frames[len(s1.frames) // 2 :]  # second batch only
    assert s1.tcs == 2 * late.tcs and s1.frames == s2.frames


def test_streaming_drop_duplicates_within_watermark(spark):
    """Spark's BUILT-IN streaming dedup (dropDuplicatesWithinWatermark)
    over the feed stream — keyed state the engine manages: dedup on the
    author key within the watermark horizon must emit exactly one row
    per distinct author when every event fits one horizon, matching the
    batch DISTINCT."""
    from reddit_sse_stream_spark.sources.feed import feed_df

    rc = read_feed_stream(
        spark, EVENTS, "rc", backfill=100000, max_ids_per_batch=100000
    ).withColumn("ets", F.timestamp_seconds("created_utc"))
    deduped = rc.withWatermark("ets", "10 days").dropDuplicatesWithinWatermark(
        ["author"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("ddww")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT author FROM ddww").collect()
    authors = [r["author"] for r in got]
    assert len(authors) == len(set(authors))  # exactly-once per key
    expected = {
        r["author"]
        for r in feed_df(spark, "/root/testdata/sf0.001")
        .filter(F.col("event") == "rc")
        .select("author")
        .distinct()
        .collect()
    }
    assert set(authors) == expected


def test_streaming_alignment_gate_matches_batch(spark, sf_dir, tmp_path):
    """The image-text alignment gate on a STREAM equals the batch
    catalog row exactly — same chain, not a twin implementation: the
    stream runs multimodal.alignment_media_frame + the same scoring
    SQL (catalog._align_score_gate), so batch and streaming curation
    CANNOT drift.  Stateless map-only
    chain -> append mode needs no watermark, and per-row results are
    invariant to micro-batch boundaries by construction (pinned here by
    a 3-batch split)."""
    from reddit_sse_stream_spark.operators.multimodal import (
        alignment_media_frame,
    )
    from reddit_sse_stream_spark.plans.catalog import (
        QUERIES,
        _align_score_gate,
    )
    from reddit_sse_stream_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    src = tmp_path / "align_stream"
    n = docs.count()
    for lo, hi in ((0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)):
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        _align_score_gate(alignment_media_frame(stream))
        .writeStream.format("memory")
        .queryName("align_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["media_id"]: (r["source"], r["align_x1e4"], r["keep"])
        for r in spark.sql("SELECT * FROM align_stream").collect()
    }
    batch = {
        r["media_id"]: (r["source"], r["align_x1e4"], r["keep"])
        for r in QUERIES["media_text_alignment_gate"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert got == batch
    assert got, "stream delivered no image rows"
