"""Streaming extension + task-map tests."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

from data_pipelines_spark.operators.taskmap import task_map
from data_pipelines_spark.streaming.events import (
    stream_events_from_dir,
    windowed_event_aggregation,
)


def _events(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=17 * i), "click" if i % 2 else "view", float(i))
        for i in range(20)
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )


def test_streaming_window_agg_equals_batch(spark):
    ev = _events(spark)
    batch = windowed_event_aggregation(ev).collect()

    tmp = tempfile.mkdtemp(prefix="dps_stream_")
    try:
        ev.write.mode("overwrite").parquet(f"{tmp}/in")
        stream = stream_events_from_dir(spark, f"{tmp}/in", ev.schema)
        agg = windowed_event_aggregation(stream)
        q = (
            agg.writeStream.format("memory")
            .queryName("win_test")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        streamed = spark.sql("SELECT * FROM win_test").collect()
        q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    key = lambda r: (r["window_start"], r["event_type"])
    b = {key(r): (r["event_cnt"], r["min_value"], r["max_value"]) for r in batch}
    s = {key(r): (r["event_cnt"], r["min_value"], r["max_value"]) for r in streamed}
    assert b == s and len(b) > 0


def test_task_map_success_and_retry_capture(spark):
    def handler(task):
        if task == "boom":
            raise ValueError("exploding task")
        return task.upper()

    out = task_map(spark, ["a", "boom", "c"], handler, max_retries=1)
    rows = {r["task_id"]: r for r in out.collect()}
    assert rows[0]["ok"] and rows[0]["result"] == "A"
    assert not rows[1]["ok"] and "exploding task" in rows[1]["error"]
    assert rows[1]["attempts"] == 2  # 1 try + 1 retry
    assert rows[2]["ok"] and rows[2]["result"] == "C"


def test_stateful_sessionizer_matches_batch_oracle(spark):
    """applyInPandasWithState sessionizer over a stream (fed in two
    files to exercise cross-batch state) must agree with the batch
    lag-window formulation."""
    import datetime as dt
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_pipelines_spark.streaming.stateful import sessionize_stream

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in (1, 2, 3):
        t = base + dt.timedelta(minutes=user)
        for burst in range(user):          # user N has N sessions
            for i in range(3):
                rows.append((eid, t, user)); eid += 1
                t += dt.timedelta(minutes=5)
            t += dt.timedelta(minutes=45)  # gap > 30 min → new session
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")

    # batch oracle: lag-window session starts
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.select(
            "user_id",
            F.when(
                F.lag("ts").over(w).isNull()
                | (F.col("ts").cast("double") - F.lag("ts").over(w).cast("double") > 1800),
                1,
            ).otherwise(0).alias("s"),
        )
        .groupBy("user_id").agg(F.sum("s").alias("session_cnt"))
    )
    expected = {r["user_id"]: r["session_cnt"] for r in batch.collect()}

    tmp = tempfile.mkdtemp(prefix="dps_state_")
    try:
        # two chronological chunks → two micro-batches → state must carry
        ordered = ev.orderBy("ts").collect()
        half = len(ordered) // 2
        spark.createDataFrame(ordered[:half], ev.schema).coalesce(1).write.parquet(f"{tmp}/in/a")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/*")
        )
        q = (
            sessionize_stream(stream)
            .writeStream.format("memory")
            .queryName("sess_test")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        spark.createDataFrame(ordered[half:], ev.schema).coalesce(1).write.parquet(f"{tmp}/in/b")
        q.processAllAvailable()
        # counts only grow, so the max update per user is the final state
        final = spark.sql(
            "SELECT user_id, max(session_cnt) AS session_cnt "
            "FROM sess_test GROUP BY user_id"
        )
        got = {r["user_id"]: r["session_cnt"] for r in final.collect()}
        q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    assert got == expected == {1: 1, 2: 2, 3: 3}


def test_streaming_deduplication(spark):
    """Duplicate event_ids replayed across two micro-batches must be
    emitted exactly once (watermarked dropDuplicates state)."""
    import datetime as dt
    import shutil
    import tempfile

    from data_pipelines_spark.streaming.events import (
        deduplicate_stream,
        stream_events_from_dir,
    )

    base = dt.datetime(2024, 1, 1)
    mk = lambda ids: [(i, base + dt.timedelta(minutes=i), float(i)) for i in ids]
    schema = "event_id long, ts timestamp, value double"

    tmp = tempfile.mkdtemp(prefix="dps_dedup_")
    try:
        spark.createDataFrame(mk([1, 2, 3, 2]), schema).coalesce(1).write.parquet(f"{tmp}/in/a")
        stream = stream_events_from_dir(
            spark, f"{tmp}/in/*",
            spark.createDataFrame([], schema).schema, max_files_per_trigger=1,
        )
        q = (
            deduplicate_stream(stream, ["event_id"])
            .writeStream.format("memory").queryName("dedup_test")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        # second batch replays ids 2 and 3, adds 4
        spark.createDataFrame(mk([2, 3, 4]), schema).coalesce(1).write.parquet(f"{tmp}/in/b")
        q.processAllAvailable()
        got = sorted(r["event_id"] for r in spark.sql("SELECT event_id FROM dedup_test").collect())
        q.stop()
        assert got == [1, 2, 3, 4]  # each id exactly once despite replays
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_watermark_drops_late_rows(spark):
    """Append-mode window agg with a 10-minute watermark: an event
    arriving after its window's watermark has passed must not appear."""
    import datetime as dt
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "event_id long, ts timestamp, event_type string, value double"
    tmp = tempfile.mkdtemp(prefix="dps_late_")
    try:
        # batch 1: events up to 02:00 → watermark advances to ~01:50
        b1 = [(i, base + dt.timedelta(minutes=m), "x", 1.0)
              for i, m in enumerate([5, 65, 120])]
        spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{tmp}/in/a")
        stream = (
            spark.readStream.schema(spark.createDataFrame([], schema).schema)
            .option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/*")
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("window.start").alias("ws"), "cnt")
        )
        q = (
            agg.writeStream.format("memory").queryName("late_test")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt").start()
        )
        q.processAllAvailable()
        # batch 2: one LATE event for hour-0 (already past watermark) and
        # one fresh event at 03:00 that closes hour-2's window
        b2 = [(10, base + dt.timedelta(minutes=7), "x", 1.0),
              (11, base + dt.timedelta(minutes=185), "x", 1.0)]
        spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{tmp}/in/b")
        q.processAllAvailable()
        got = {r["ws"]: r["cnt"] for r in spark.sql("SELECT * FROM late_test").collect()}
        q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # hour-0 window was finalized with ONLY the on-time event — the late
    # arrival (id 10) was dropped, not double-counted
    assert got.get(base) == 1
    assert got.get(base + dt.timedelta(hours=1)) == 1


def test_stateful_sessionizer_under_rocksdb_provider(spark):
    """The cross-batch state test again, but with the RocksDB state
    store provider — the off-heap backend a large keyspace needs."""
    import datetime as dt
    import shutil
    import tempfile

    from data_pipelines_spark.streaming.stateful import sessionize_stream

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for user in (1, 2):
        t = base + dt.timedelta(minutes=user)
        for _burst in range(user):
            for _ in range(2):
                rows.append((eid, t, user)); eid += 1
                t += dt.timedelta(minutes=5)
            t += dt.timedelta(minutes=45)
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")

    tmp = tempfile.mkdtemp(prefix="dps_rocks_")
    try:
        ordered = ev.orderBy("ts").collect()
        half = len(ordered) // 2
        spark.createDataFrame(ordered[:half], ev.schema).coalesce(1).write.parquet(f"{tmp}/in/a")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/*")
        )
        q = (
            sessionize_stream(stream)
            .writeStream.format("memory")
            .queryName("rocks_test")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        spark.createDataFrame(ordered[half:], ev.schema).coalesce(1).write.parquet(f"{tmp}/in/b")
        q.processAllAvailable()
        final = spark.sql(
            "SELECT user_id, max(session_cnt) AS session_cnt "
            "FROM rocks_test GROUP BY user_id"
        )
        got = {r["user_id"]: r["session_cnt"] for r in final.collect()}
        q.stop()
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        shutil.rmtree(tmp, ignore_errors=True)

    assert got == {1: 1, 2: 2}


def test_event_time_timeout_expires_idle_state(spark):
    """EventTimeTimeout: a key idle past the session gap (relative to
    the watermark) emits its tally and frees its state — a returning
    key then restarts from a fresh count instead of continuing."""
    import datetime as dt
    import shutil
    import tempfile

    from data_pipelines_spark.streaming.stateful import sessionize_stream

    base = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, user_id long"
    tmp = tempfile.mkdtemp(prefix="dps_timeout_")
    try:
        # batch 1: user 1 has a 2-event session at t0
        b1 = [(0, base, 1), (1, base + dt.timedelta(minutes=5), 1)]
        spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{tmp}/in/a")
        stream = (
            spark.readStream.schema(
                spark.createDataFrame([], schema).schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/*")
        )
        q = (
            sessionize_stream(stream, expire_idle=True, watermark_delay="1 minute")
            .writeStream.format("memory")
            .queryName("timeout_test")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        # batch 2: only user 2, three hours later → watermark sails past
        # user 1's expiry point; user 1's state times out and drops
        b2 = [(2, base + dt.timedelta(hours=3), 2)]
        spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{tmp}/in/b")
        q.processAllAvailable()
        # batch 3: user 1 returns — with state expired, the count
        # restarts at 1 (NoTimeout behavior would report 2 sessions)
        b3 = [(3, base + dt.timedelta(hours=3, minutes=5), 1)]
        spark.createDataFrame(b3, schema).coalesce(1).write.parquet(f"{tmp}/in/c")
        q.processAllAvailable()
        hist = spark.sql(
            "SELECT user_id, session_cnt, last_ts FROM timeout_test"
        ).collect()
        q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # Key emissions by their event-time payload (last_ts), not by row
    # order — collect() order from the memory sink is not guaranteed
    # across micro-batches.
    u1 = [(r["session_cnt"], r["last_ts"]) for r in hist if r["user_id"] == 1]
    u2 = [r["session_cnt"] for r in hist if r["user_id"] == 2]
    latest_cnt, latest_ts = max(u1, key=lambda p: p[1])
    earlier = [c for c, t in u1 if t < latest_ts]
    # the post-return emission carries a LATER last_ts and a fresh count
    # of 1 (surviving state would have reported 2 sessions)...
    assert latest_cnt == 1
    # ...and the first session's pre-expiry emission(s) are present with
    # their own count of 1
    assert earlier and all(c == 1 for c in earlier)
    assert u2 == [1]


def test_stream_stream_join_equals_batch(spark):
    """Watermarked stream-stream range join (impressions x clicks)
    must produce exactly the batch join's matches on bounded input."""
    import datetime as dt

    from data_pipelines_spark.streaming.events import join_streams

    base = dt.datetime(2024, 1, 1)
    imps = [
        (i, base + dt.timedelta(minutes=10 * i), i % 3)
        for i in range(12)
    ]
    # clicks: in-window matches, plus one click before any impression
    clicks = [
        (100, base + dt.timedelta(minutes=5), 0),    # matches imp 0 (min 0)
        (101, base + dt.timedelta(minutes=34), 0),   # matches imp 3 (min 30)
        (102, base + dt.timedelta(minutes=52), 2),   # matches imp 5 (min 50)
        (103, base - dt.timedelta(minutes=3), 1),    # before any impression
    ]
    imp_df = spark.createDataFrame(
        imps, "imp_id long, ts timestamp, key int"
    )
    clk_df = spark.createDataFrame(
        clicks, "click_id long, ts timestamp, key int"
    )
    batch = join_streams(
        imp_df, clk_df, "key", max_delay="15 minutes"
    ).select("imp_id", "click_id").collect()
    want = sorted((r["imp_id"], r["click_id"]) for r in batch)
    assert want == [(0, 100), (3, 101), (5, 102)]

    tmp = tempfile.mkdtemp(prefix="dps_ssj_")
    try:
        imp_df.write.mode("overwrite").parquet(f"{tmp}/imps")
        clk_df.write.mode("overwrite").parquet(f"{tmp}/clicks")
        s_imp = stream_events_from_dir(spark, f"{tmp}/imps", imp_df.schema)
        s_clk = stream_events_from_dir(spark, f"{tmp}/clicks", clk_df.schema)
        joined = join_streams(s_imp, s_clk, "key", max_delay="15 minutes")
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj_test")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        got = sorted(
            (r["imp_id"], r["click_id"])
            for r in spark.sql("SELECT * FROM ssj_test").collect()
        )
        q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got == want


def test_enrich_stream_joins_static_dimension(spark):
    from data_pipelines_spark.streaming.events import enrich_stream

    dim = spark.createDataFrame(
        [("purchase", 2.0), ("view", 1.0)], "event_type string, weight double"
    )
    ev = _events(spark)
    tmp = tempfile.mkdtemp(prefix="dps_enrich_")
    try:
        ev.write.mode("overwrite").parquet(f"{tmp}/in")
        stream = stream_events_from_dir(spark, f"{tmp}/in", ev.schema)
        q = (
            enrich_stream(stream, dim, ["event_type"])
            .writeStream.format("memory")
            .queryName("enrich_test")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM enrich_test").collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    batch = {r["event_id"]: r["weight"] for r in enrich_stream(ev, dim, ["event_type"]).collect()}
    streamed = {r["event_id"]: r["weight"] for r in got}
    assert streamed == batch and len(streamed) == ev.count()


def test_enrich_stream_broadcast_size_guard(spark):
    """The default (broadcast_dim=None) sizes the dimension from
    Catalyst plan statistics: a small scan-backed dimension broadcasts;
    one exceeding the caps falls back to a shuffle join instead of
    shipping a fact-sized table to every executor each micro-batch."""
    from data_pipelines_spark.streaming.events import enrich_stream

    local_dim = spark.createDataFrame(
        [("purchase", 2.0), ("view", 1.0)], "event_type string, weight double"
    )
    ev = _events(spark)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    tmp = tempfile.mkdtemp(prefix="dps_enrich_guard_")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        local_dim.write.mode("overwrite").parquet(f"{tmp}/dim")
        dim = spark.read.parquet(f"{tmp}/dim")  # scan-backed: exact stats
        # disable Catalyst auto-broadcast so the plan shows exactly what
        # the guard decided (the hint), not the optimizer's own choice
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert "BroadcastHashJoin" in plan(enrich_stream(ev, dim, ["event_type"]))
        # caps of zero simulate a fact-sized dimension: no forced hint
        guarded = enrich_stream(
            ev, dim, ["event_type"],
            max_broadcast_rows=0, max_broadcast_bytes=0,
        )
        assert "BroadcastHashJoin" not in plan(guarded)
        # a stats-less derived frame (ExistingRDD: Catalyst over-
        # estimates) conservatively falls back to the shuffle join...
        assert "BroadcastHashJoin" not in plan(
            enrich_stream(ev, local_dim, ["event_type"])
        )
        # ...and forced modes win over the probe either way
        assert "BroadcastHashJoin" in plan(
            enrich_stream(ev, local_dim, ["event_type"], broadcast_dim=True)
        )
        # results identical on every path
        a = {r["event_id"]: r["weight"]
             for r in enrich_stream(ev, dim, ["event_type"]).collect()}
        b = {r["event_id"]: r["weight"] for r in guarded.collect()}
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_sessionizer_sorts_across_arrow_chunks(spark):
    """A key whose micro-batch spans multiple Arrow chunks must still
    see its timestamps in global order: with maxRecordsPerBatch=2 and
    the file written in DESCENDING ts order, a per-chunk sort would
    undercount sessions (later chunks carry only older timestamps, so
    no gap ever fires); the global sort counts them all."""
    import datetime as dt
    import shutil
    import tempfile

    from data_pipelines_spark.streaming.stateful import sessionize_stream

    base = dt.datetime(2024, 3, 1)
    rows = []
    t = base
    for session in range(5):           # 5 sessions x 2 events, 45-min gaps
        for _ in range(2):
            rows.append((len(rows), t, 1))
            t += dt.timedelta(minutes=5)
        t += dt.timedelta(minutes=45)
    rows.reverse()                     # descending ts in the file

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    tmp = tempfile.mkdtemp(prefix="dps_state_chunks_")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
        ev.coalesce(1).write.parquet(f"{tmp}/in/a")
        stream = spark.readStream.schema(ev.schema).parquet(f"{tmp}/in/*")
        q = (
            sessionize_stream(stream)
            .writeStream.format("memory")
            .queryName("sess_chunks")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        got = {
            r["user_id"]: r["session_cnt"]
            for r in spark.sql(
                "SELECT user_id, max(session_cnt) AS session_cnt "
                "FROM sess_chunks GROUP BY user_id"
            ).collect()
        }
        q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        shutil.rmtree(tmp, ignore_errors=True)

    assert got == {1: 5}


def test_streaming_dedup_state_is_watermark_bounded(spark):
    """The streaming plan must use dropDuplicatesWithinWatermark (state
    evicted at the horizon) when deduping on business keys — plain
    dropDuplicates ignores the watermark for non-event-time keys and
    grows state forever. A replay AFTER the watermark horizon re-emits:
    that is the bounded-state contract, asserted end-to-end."""
    import datetime as dt
    import shutil
    import tempfile

    from data_pipelines_spark.streaming.events import (
        deduplicate_stream,
        stream_events_from_dir,
    )

    base = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, value double"
    tmp = tempfile.mkdtemp(prefix="dps_dedup_wm_")
    try:
        spark.createDataFrame(
            [(1, base, 1.0)], schema
        ).coalesce(1).write.parquet(f"{tmp}/in/a")
        stream = stream_events_from_dir(
            spark, f"{tmp}/in/*",
            spark.createDataFrame([], schema).schema, max_files_per_trigger=1,
        )
        dedup = deduplicate_stream(stream, ["event_id"], watermark="10 minutes")
        q = (
            dedup.writeStream.format("memory").queryName("dedup_wm")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        # advance the watermark far past id 1's state, then replay id 1
        spark.createDataFrame(
            [(2, base + dt.timedelta(hours=2), 2.0)], schema
        ).coalesce(1).write.parquet(f"{tmp}/in/b")
        q.processAllAvailable()
        spark.createDataFrame(
            [(1, base + dt.timedelta(hours=2, minutes=1), 1.0)], schema
        ).coalesce(1).write.parquet(f"{tmp}/in/c")
        q.processAllAvailable()
        got = sorted(
            r["event_id"] for r in spark.sql("SELECT event_id FROM dedup_wm").collect()
        )
        q.stop()
        # id 1 emitted twice: its dedup state was freed at the horizon
        assert got == [1, 1, 2]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_near_dup_dedup_sink(spark, persisted_rdd_ids):
    """Two micro-batches through the signature-store dedup sink: a doc
    near-duplicating batch-1 content is dropped in batch 2 (cross-batch
    store match), an intra-batch near-dup keeps only the lower id, and
    the store ends with exactly the survivors' signatures, and no
    micro-batch leaves a cached block behind."""
    import shutil
    import tempfile

    from data_pipelines_spark.operators.dedup import minhash_signatures
    from data_pipelines_spark.streaming.dedup import stream_near_dup_dedup_sink

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the rain taps on the glass"
    )
    far = (
        "completely different content about distributed query engines "
        "and columnar shuffle services running on large compute clusters"
    )
    novel = (
        "a third unrelated passage describing alpine meadows, glacial "
        "streams and the slow migration of shepherds between valleys"
    )
    schema = "doc_id long, text string"
    b1 = [(1, base), (2, far)]
    b2 = [
        (10, base.replace("taps", "drums")),   # near-dup of stored 1 → drop
        (11, novel),                            # unique → keep
        (12, novel.replace("slow", "long")),    # near-dup of 11 (intra) → drop
    ]

    tmp = tempfile.mkdtemp(prefix="dps_stream_neardup_")
    try:
        spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{tmp}/in/a")
        stream = (
            spark.readStream.schema(spark.createDataFrame([], schema).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/*")
        )
        cached_before = persisted_rdd_ids()
        writer = stream_near_dup_dedup_sink(
            stream,
            f"{tmp}/out",
            f"{tmp}/store",
            jaccard_threshold=0.5,
            checkpoint=f"{tmp}/ckpt",
            available_now=False,
        )
        q = writer.start()
        q.processAllAvailable()
        spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{tmp}/in/b")
        q.processAllAvailable()
        q.stop()
        assert persisted_rdd_ids() <= cached_before

        kept = sorted(
            r["doc_id"] for r in spark.read.parquet(f"{tmp}/out").collect()
        )
        assert kept == [1, 2, 11]
        store = {
            r["doc_id"]: r["minhash"]
            for r in spark.read.parquet(f"{tmp}/store").collect()
        }
        assert sorted(store) == [1, 2, 11]
        # store holds the real signatures (spot-check one)
        direct = {
            r["doc_id"]: r["minhash"]
            for r in minhash_signatures(
                spark.createDataFrame(b1, schema)
            ).collect()
        }
        assert store[1] == direct[1]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_histogram_sketch_sink(spark):
    """Per-batch sketch rows land under batch_id partitions; merging
    across batches equals a direct histogram of ALL the data, and a
    replayed batch overwrites its own partition (idempotent at rest)."""
    import shutil
    import tempfile

    from data_pipelines_spark.operators.sketches import (
        histogram_sketch,
        merge_histogram_sketches,
    )
    from data_pipelines_spark.streaming.sketches import (
        _partitioned_batch_write,
        stream_histogram_sketch_sink,
    )
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="dps_sketch_sink_")
    try:
        rows = [(f"d{i % 3}", float(i % 50)) for i in range(600)]
        all_df = spark.createDataFrame(rows, "day string, v double")
        # two input files -> availableNow processes them (possibly in
        # one or two batches; either is fine for the merged contract)
        all_df.where(F.col("v") < 25).write.parquet(f"{tmp}/in/a")
        all_df.where(F.col("v") >= 25).write.parquet(f"{tmp}/in/b")
        stream = spark.readStream.schema(all_df.schema).parquet(f"{tmp}/in/*")
        q = stream_histogram_sketch_sink(
            stream, f"{tmp}/store", ["day"], "v", 0.0, 50.0, 25,
            checkpoint=f"{tmp}/ckpt",
        ).start()
        q.awaitTermination(120)

        store = spark.read.parquet(f"{tmp}/store")
        merged = {
            r["day"]: (r["hist"], r["n"])
            for r in merge_histogram_sketches(store, ["day"], 25).collect()
        }
        direct = {
            r["day"]: (r["hist"], r["n"])
            for r in histogram_sketch(all_df, ["day"], "v", 0.0, 50.0, 25).collect()
        }
        assert merged == direct

        # replay: rewrite one batch's rows under its own batch_id — the
        # merged store answer must not change
        replay_id = store.select("batch_id").distinct().collect()[0][0]
        n_store = (
            store.where(F.col("batch_id") == replay_id)
            .agg(F.sum("n")).collect()[0][0]
        )
        # replay the batch with ITS OWN content (availableNow may have
        # taken both files in one batch or split them)
        for cand in (
            all_df.where(F.col("v") < 25),
            all_df.where(F.col("v") >= 25),
            all_df,
        ):
            sk = histogram_sketch(cand, ["day"], "v", 0.0, 50.0, 25)
            if sk.agg(F.sum("n")).collect()[0][0] == n_store:
                break
        _partitioned_batch_write(sk, f"{tmp}/store", replay_id)
        merged2 = {
            r["day"]: (r["hist"], r["n"])
            for r in merge_histogram_sketches(
                spark.read.parquet(f"{tmp}/store"), ["day"], 25
            ).collect()
        }
        assert merged2 == direct
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_distinct_sketch_sink(spark):
    import shutil
    import tempfile

    from data_pipelines_spark.operators.sketches import merge_distinct_counts
    from data_pipelines_spark.streaming.sketches import (
        stream_distinct_sketch_sink,
    )

    tmp = tempfile.mkdtemp(prefix="dps_hll_sink_")
    try:
        rows = [(f"d{i % 2}", f"user{i % 97}") for i in range(500)]
        all_df = spark.createDataFrame(rows, "day string, uid string")
        all_df.write.parquet(f"{tmp}/in/a")
        stream = spark.readStream.schema(all_df.schema).parquet(f"{tmp}/in/*")
        q = stream_distinct_sketch_sink(
            stream, f"{tmp}/store", ["day"], "uid", checkpoint=f"{tmp}/ckpt"
        ).start()
        q.awaitTermination(120)
        est = {
            r["day"]: r["n_distinct_approx"]
            for r in merge_distinct_counts(
                spark.read.parquet(f"{tmp}/store"), ["day"]
            ).collect()
        }
        assert set(est) == {"d0", "d1"}
        for v in est.values():
            assert abs(v - 97) / 97 < 0.05  # both days see all 97 uids
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_partitioned_batch_write_does_not_touch_session_conf(spark):
    """Regression: the sink's dynamic-overwrite must be a per-write
    option, not a session-conf set/restore — two sinks sharing the
    session interleave foreachBatch calls and a global set/finally-
    restore races. With the session pinned to `static`, the write must
    still overwrite ONLY its own batch partition and leave the session
    conf byte-identical."""
    import shutil
    import tempfile

    from data_pipelines_spark.streaming.sketches import _partitioned_batch_write

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    tmp = tempfile.mkdtemp(prefix="dps_powmode_")
    try:
        spark.conf.set(key, "static")
        a = spark.createDataFrame([("x", 1)], "g string, n long")
        b = spark.createDataFrame([("y", 2)], "g string, n long")
        _partitioned_batch_write(a, f"{tmp}/store", 0)
        _partitioned_batch_write(b, f"{tmp}/store", 1)
        assert spark.conf.get(key) == "static"  # untouched mid-sequence
        # replay of batch 1 must not clobber batch 0 (dynamic overwrite
        # despite the static session conf)
        _partitioned_batch_write(b, f"{tmp}/store", 1)
        got = sorted(
            (r["batch_id"], r["g"], r["n"])
            for r in spark.read.parquet(f"{tmp}/store").collect()
        )
        assert got == [(0, "x", 1), (1, "y", 2)]
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prev)
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_frequency_sketch_sink(spark):
    """Per-batch count-min counter rows land under batch_id partitions;
    merging across batches equals a direct sketch of ALL the data, and
    probe estimates from the merged store are exact at collision-free
    width."""
    import shutil
    import tempfile

    from data_pipelines_spark.operators.sketches import (
        frequency_estimate,
        frequency_sketch,
        merge_frequency_sketches,
    )
    from data_pipelines_spark.streaming.sketches import (
        stream_frequency_sketch_sink,
    )
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="dps_cms_sink_")
    try:
        rows = [(i, f"v{i % 11}") for i in range(440)]
        full = spark.createDataFrame(rows, "i long, v string")
        all_df = full.select("v")
        full.where("i < 200").select("v").write.parquet(f"{tmp}/in/a")
        full.where("i >= 200").select("v").write.parquet(f"{tmp}/in/b")
        stream = spark.readStream.schema(all_df.schema).parquet(f"{tmp}/in/*")
        q = stream_frequency_sketch_sink(
            stream, f"{tmp}/store", [], "v", width=2048, depth=4,
            checkpoint=f"{tmp}/ckpt",
        ).start()
        assert q.awaitTermination(120)

        merged = merge_frequency_sketches(
            spark.read.parquet(f"{tmp}/store"), []
        )
        direct = frequency_sketch(all_df, [], "v", width=2048, depth=4)
        m = {(r["depth_row"], r["bucket"]): r["cnt"] for r in merged.collect()}
        dd = {(r["depth_row"], r["bucket"]): r["cnt"] for r in direct.collect()}
        assert m == dd

        est = {
            r["value"]: r["est_cnt"]
            for r in frequency_estimate(
                merged, [], ["v0", "v10", "nope"], width=2048, depth=4
            ).collect()
        }
        assert est == {"v0": 40, "v10": 40, "nope": 0}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_sessionize_late_event_no_phantom_session():
    """Cross-batch late data: applyInPandasWithState does NOT drop late
    rows, so a late timestamp must not drag the session frontier
    backwards — before the monotone-frontier fix, state last_ts=1000
    with batch [100, 2000] (gap 1800) regressed the frontier to 100 and
    counted 2000 as a NEW session (2000-100 > 1800), where the true
    order [100, 1000, 2000] has gaps of at most 1000. Pure-function
    test over the state-evolution kernel."""
    from data_pipelines_spark.streaming.stateful import _advance

    # in-order baseline: one session
    cnt, last = _advance(0, None, [100.0, 1000.0, 2000.0])
    assert (cnt, last) == (1, 2000.0)

    # same events, the 100 arriving late in batch 2: still one session
    cnt, last = _advance(0, None, [1000.0])
    cnt, last = _advance(cnt, last, [100.0, 2000.0])
    assert (cnt, last) == (1, 2000.0)

    # genuinely-gapped events still split regardless of arrival order
    cnt, last = _advance(0, None, [0.0])
    cnt, last = _advance(cnt, last, [5000.0])
    assert cnt == 2


def test_stream_quantile_sketch_sink(spark):
    """DDSketch streaming sink: per-batch store rows land under
    batch_id partitions; rolling all batches up equals a direct sketch
    of ALL the data bit for bit, and the merged quantiles respect the
    relative-error bound."""
    import shutil
    import tempfile

    import numpy as np

    from data_pipelines_spark.operators.sketches import (
        merge_quantile_sketches,
        quantile_sketch,
        quantile_sketch_values,
    )
    from data_pipelines_spark.streaming.sketches import (
        stream_quantile_sketch_sink,
    )
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="dps_dds_sink_")
    try:
        rng = np.random.default_rng(11)
        vals = np.exp(rng.normal(2, 1.5, 800))
        rows = [(f"d{i % 2}", float(v)) for i, v in enumerate(vals)]
        all_df = spark.createDataFrame(rows, "day string, v double")
        all_df.where(F.col("v") < 5).write.parquet(f"{tmp}/in/a")
        all_df.where(F.col("v") >= 5).write.parquet(f"{tmp}/in/b")
        stream = spark.readStream.schema(all_df.schema).parquet(f"{tmp}/in/*")
        q = stream_quantile_sketch_sink(
            stream, f"{tmp}/store", ["day"], "v", alpha=0.02,
            checkpoint=f"{tmp}/ckpt",
        ).start()
        q.awaitTermination(120)

        store = spark.read.parquet(f"{tmp}/store")
        merged = merge_quantile_sketches(store, ["day"])
        direct = quantile_sketch(all_df, ["day"], "v", alpha=0.02)
        assert merged.exceptAll(direct).count() == 0
        assert direct.exceptAll(merged).count() == 0

        est = {
            (r["day"], r["q"]): r["value"]
            for r in quantile_sketch_values(
                merged, ["day"], [0.5, 0.95], 0.02
            ).collect()
        }
        for day in ("d0", "d1"):
            gv = np.sort(
                np.array([v for d, v in rows if d == day])
            )
            for qq in (0.5, 0.95):
                k = max(1, int(np.ceil(qq * len(gv))))
                true = gv[k - 1]
                assert abs(est[(day, qq)] - true) / true <= 0.02 * 1.001
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
