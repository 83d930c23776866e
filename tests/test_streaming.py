"""Streaming behavioral tests (SURVEY.md §5.4) — not DuckDB-checkable.

Replays the events fixture through a file-source stream (one micro-batch
per parquet drop) and asserts:
(a) windowed aggregates converge to the batch answers (Q36/Q37/Q38 plans);
(b) rows older than the watermark are dropped;
(c) session windows emit on watermark passage in append mode.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from swivel_spark_prep_spark.catalog import load_table
from swivel_spark_prep_spark.streaming import (
    events_file_stream,
    run_stream,
    session_agg,
    sliding_agg,
    tumbling_agg,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@pytest.fixture(scope="module")
def replay_dir(tmp_path_factory, events):
    """The events fixture split into 4 time-ordered parquet drops —
    4 micro-batches with monotonically advancing event time."""
    import glob
    import shutil

    from pyspark.sql import Window

    d = tmp_path_factory.mktemp("events_stream")
    ordered = events.withColumn("_bucket", F.ntile(4).over(Window.orderBy("ts")))
    for b in range(1, 5):
        (
            ordered.filter(F.col("_bucket") == b)
            .drop("_bucket")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(d / f"drop{b}"))
        )
    # flatten into one dir with time-ordered file names (latestFirst=false
    # replays them oldest-first, one micro-batch each)
    out = tmp_path_factory.mktemp("events_replay")
    for b in range(1, 5):
        part = glob.glob(str(d / f"drop{b}" / "part-*.parquet"))[0]
        shutil.copy(part, str(out / f"{b:02d}.parquet"))
    _stamp_mtimes(str(out))
    return str(out)


def _stream(spark, events, replay_dir, watermark="1 hour"):
    return events_file_stream(spark, replay_dir, events.schema, watermark)


def _stamp_mtimes(dir_path):
    """Give the replay files strictly increasing mtimes in filename order.
    Spark's FileStreamSource orders micro-batches by millisecond-granularity
    modification time; files copied in a tight loop tie, and a tie can
    replay the far-future sentinel BEFORE the real drops, advancing the
    watermark 30 days and silently dropping every real event."""
    import glob
    import os
    import time

    base = time.time() - 3600
    for i, f in enumerate(sorted(glob.glob(f"{dir_path}/*.parquet"))):
        os.utime(f, (base + i * 10, base + i * 10))


def test_tumbling_stream_converges_to_batch(spark, events, replay_dir):
    stream = _stream(spark, events, replay_dir)
    result, query = run_stream(tumbling_agg(stream), "complete")
    try:
        got = {tuple(r) for r in result.collect()}
        want = {tuple(r) for r in tumbling_agg(events).collect()}
        assert got == want
        assert len(query.recentProgress) >= 4  # one per micro-batch (+idle)
    finally:
        query.stop()


def test_sliding_stream_converges_to_batch(spark, events, replay_dir):
    stream = _stream(spark, events, replay_dir)
    result, query = run_stream(sliding_agg(stream), "complete")
    try:
        got = {tuple(r) for r in result.collect()}
        want = {tuple(r) for r in sliding_agg(events).collect()}
        assert got == want
    finally:
        query.stop()


def test_late_rows_dropped_by_watermark(spark, events, replay_dir, tmp_path):
    """Append a drop whose rows are far older than the advanced watermark:
    they must be counted in numRowsDroppedByWatermark and excluded from
    new state."""
    import glob
    import shutil

    late_dir = tmp_path / "with_late"
    late_dir.mkdir()
    for f in sorted(glob.glob(f"{replay_dir}/*.parquet")):
        shutil.copy(f, str(late_dir / f.split("/")[-1]))

    # build the late drop: clone the earliest 10 events, shifted 10 days back
    late = (
        events.orderBy("ts")
        .limit(10)
        .withColumn("ts", F.col("ts") - F.expr("INTERVAL 10 DAYS"))
    )
    late.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "late_raw"))
    part = glob.glob(str(tmp_path / "late_raw" / "part-*.parquet"))[0]
    shutil.copy(part, str(late_dir / "99.parquet"))  # sorts last → last batch
    _stamp_mtimes(str(late_dir))

    stream = events_file_stream(spark, str(late_dir), events.schema, "1 hour")
    # append mode makes the watermark actually filter state-input rows
    result, query = run_stream(tumbling_agg(stream), "append")
    try:
        # numRowsDroppedByWatermark counts post-partial-agg GROUPS entering
        # the state store, not raw rows — assert drops happened AND none of
        # the late (10-days-back) windows leaked into the output.
        dropped = sum(
            s["numRowsDroppedByWatermark"]
            for p in query.recentProgress
            for s in p["stateOperators"]
        )
        assert dropped > 0, "late rows were not dropped by the watermark"
        # the earliest LEGITIMATE window starts at min(ts) truncated to the
        # hour; anything before that can only come from the late drop
        min_real_win = (
            events.agg(F.date_trunc("hour", F.min("ts"))).collect()[0][0]
        )
        leaked = result.filter(F.col("win") < min_real_win).count()
        assert leaked == 0, f"{leaked} late windows leaked into append output"
    finally:
        query.stop()


def test_stream_exact_dedup_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState dedup: replaying documents in doc_id order,
    the emitted set must equal the batch exact-dedup survivors (keep min
    doc_id per content hash), across micro-batch boundaries."""
    import glob
    import shutil

    from swivel_spark_prep_spark.catalog import load_table
    from swivel_spark_prep_spark.operators.dedup import exact_dedup
    from swivel_spark_prep_spark.streaming import run_stream, stream_exact_dedup

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = base.count()
    # clone the first quarter with shifted ids — guaranteed cross-batch
    # exact duplicates (the sf0.001 fixture plants none of its own)
    clones = base.filter(F.col("doc_id") < n // 4).select(
        (F.col("doc_id") + n).alias("doc_id"), "text"
    )
    docs = base.unionByName(clones)
    replay = tmp_path / "docs_replay"
    replay.mkdir()
    bounds = [(0, n // 4), (n // 4, n // 2), (n // 2, n), (n, 2 * n)]
    for b, (lo, hi) in enumerate(bounds):
        part_dir = tmp_path / f"raw{b}"
        (
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(part_dir))
        )
        part = glob.glob(str(part_dir / "part-*.parquet"))[0]
        shutil.copy(part, str(replay / f"{b:02d}.parquet"))
    _stamp_mtimes(str(replay))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    result, query = run_stream(stream_exact_dedup(stream), "append")
    try:
        got = {r.doc_id for r in result.collect()}
        want = {r.doc_id for r in exact_dedup(docs).select("doc_id").collect()}
        assert got == want
        assert len(got) < docs.count()  # the clones were deduped away
    finally:
        query.stop()


def test_stream_stream_join_converges_to_batch(spark, events, replay_dir):
    """Stream-stream inner join (purchases ⋈ signups per user within 7
    days, signup at or before purchase): the streamed result must equal
    the identical batch-join expression once every drop is processed."""
    from swivel_spark_prep_spark.streaming import stream_stream_join

    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"), "user_id", "ts"
        )
        s = df.filter(F.col("event_type") == "signup").select(
            F.col("event_id").alias("s_id"), "user_id", "ts"
        )
        return p, s

    stream = _stream(spark, events, replay_dir, watermark="1 hour")
    sp, ss = split(stream)
    joined = stream_stream_join(sp, ss, "user_id").select(
        "_l.p_id", "_r.s_id"
    )
    result, query = run_stream(joined, "append")
    try:
        got = {(r.p_id, r.s_id) for r in result.collect()}
        bp, bs = split(events)
        want = {
            (r.p_id, r.s_id)
            for r in stream_stream_join(bp, bs, "user_id")
            .select("_l.p_id", "_r.s_id")
            .collect()
        }
        assert got == want and got
    finally:
        query.stop()


def test_checkpoint_restart_is_exactly_once(spark, sf_dir, tmp_path):
    """Kill a streaming dedup mid-stream and restart it from the same
    checkpoint onto the same file sink: the union of outputs must equal
    the batch answer with no duplicates — Spark's checkpoint + file-sink
    transaction log give end-to-end exactly-once across restarts."""
    import glob
    import shutil

    from swivel_spark_prep_spark.catalog import load_table
    from swivel_spark_prep_spark.operators.dedup import exact_dedup
    from swivel_spark_prep_spark.streaming import stream_exact_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    replay = tmp_path / "replay"
    replay.mkdir()
    bounds = [(0, n // 4), (n // 4, n // 2), (n // 2, 3 * n // 4), (3 * n // 4, n)]
    staged = []
    for b, (lo, hi) in enumerate(bounds):
        raw = tmp_path / f"raw{b}"
        (
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(raw))
        )
        staged.append(glob.glob(str(raw / "part-*.parquet"))[0])

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(replay))
        )
        q = (
            stream_exact_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

    # phase 1: first two drops, then a hard stop
    for b in (0, 1):
        shutil.copy(staged[b], str(replay / f"{b:02d}.parquet"))
    _stamp_mtimes(str(replay))
    run_once()
    # phase 2: remaining drops, restart from the same checkpoint
    for b in (2, 3):
        shutil.copy(staged[b], str(replay / f"{b:02d}.parquet"))
    _stamp_mtimes(str(replay))
    run_once()

    got_rows = spark.read.parquet(out).select("doc_id").collect()
    got = [r.doc_id for r in got_rows]
    want = {r.doc_id for r in exact_dedup(docs).select("doc_id").collect()}
    assert len(got) == len(set(got)), "restart produced duplicate outputs"
    assert set(got) == want


def test_session_stream_emits_closed_sessions(spark, events, replay_dir, tmp_path):
    """Session windows in append mode emit once the watermark passes the
    session end; a far-future sentinel flushes every real session. The
    emitted sessions must equal the batch gaps-and-islands answer."""
    import glob
    import shutil

    flush_dir = tmp_path / "with_flush"
    flush_dir.mkdir()
    for f in sorted(glob.glob(f"{replay_dir}/*.parquet")):
        shutil.copy(f, str(flush_dir / f.split("/")[-1]))

    max_ts = events.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(999_999, max_ts, -1, "sentinel", 0.0)], schema=events.schema
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
    sentinel.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "s_raw"))
    part = glob.glob(str(tmp_path / "s_raw" / "part-*.parquet"))[0]
    shutil.copy(part, str(flush_dir / "99.parquet"))
    _stamp_mtimes(str(flush_dir))

    stream = events_file_stream(spark, str(flush_dir), events.schema, "0 seconds")
    result, query = run_stream(session_agg(stream), "append")
    try:
        got = {
            (r.user_id, r.cnt)
            for r in result.filter(F.col("user_id") >= 0).collect()
        }
        want = {(r.user_id, r.cnt) for r in session_agg(events).collect()}
        assert got == want
    finally:
        query.stop()


def test_rate_micro_batch_source_delivers_exactly_once(spark, tmp_path):
    """A non-file source exercise: the rate-micro-batch source emits
    `rowsPerBatch` deterministic (timestamp, value) rows per micro-batch.
    Poll the memory sink (never processAllAvailable — a rate source
    always has more data available, so that call would block forever)
    and assert every value 0..N-1 arrived exactly once — no gaps, no
    duplicates across micro-batch boundaries."""
    import time

    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 50)
        .option("numPartitions", 2)
        .load()
    )
    q = (
        stream.select("value")
        .writeStream.format("memory")
        .queryName("rate_rows")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 90
        stats = None
        while time.time() < deadline:
            stats = spark.sql(
                "SELECT COUNT(*) AS n, COUNT(DISTINCT value) AS nd, "
                "MIN(value) AS lo, MAX(value) AS hi FROM rate_rows"
            ).collect()[0]
            if stats.n >= 150:
                break
            time.sleep(1)
        assert stats is not None and stats.n >= 150, (
            f"rate source produced only {stats and stats.n} rows in 90s"
        )
        assert stats.nd == stats.n, "duplicate values delivered"
        assert stats.lo == 0 and stats.hi == stats.n - 1, "gap in values"
    finally:
        q.stop()


def test_stream_static_enrichment_join(spark, events, replay_dir, sf_dir):
    """Stream-static join: enrich the replayed event stream with a static
    dimension (user → nation via customer). The static side re-resolves
    per micro-batch and broadcasts (it is a batch DataFrame under the
    broadcast threshold) — the canonical scale pattern for dimension
    enrichment with NO stream-state: unlike a stream-stream join there is
    no watermark bookkeeping and no state store. Converges to the batch
    join answer."""
    from swivel_spark_prep_spark.catalog import load_table
    from swivel_spark_prep_spark.streaming import run_stream

    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    )
    stream = _stream(spark, events, replay_dir)
    enriched = (
        stream.join(dim, "user_id")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
    )
    result, query = run_stream(enriched, "complete")
    try:
        got = {(r.c_nationkey, r.n) for r in result.collect()}
        want = {
            (r.c_nationkey, r.n)
            for r in events.join(dim, "user_id")
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == want and got
    finally:
        query.stop()


def test_stream_upsert_snapshot_converges_to_batch_merge(spark, tmp_path):
    """foreachBatch MERGE sink: replaying three change batches (insert,
    update, delete) must leave the snapshot equal to applying the same
    batches sequentially with the batch upsert operator."""
    import glob
    import shutil

    from swivel_spark_prep_spark.operators.upsert import upsert
    from swivel_spark_prep_spark.streaming import stream_upsert_snapshot

    batches = [
        [(1, "a", 1.0, False), (2, "b", 2.0, False), (3, "c", 3.0, False)],
        [(2, "b2", 20.0, False), (4, "d", 4.0, False)],
        [(1, None, None, True), (4, "d2", 44.0, False)],
    ]
    schema = "k long, s string, v double, is_delete boolean"
    replay = tmp_path / "changes"
    replay.mkdir()
    for i, rows in enumerate(batches):
        raw = tmp_path / f"raw{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(raw))
        part = glob.glob(str(raw / "part-*.parquet"))[0]
        shutil.copy(part, str(replay / f"{i:02d}.parquet"))
    _stamp_mtimes(str(replay))

    snap_dir = tmp_path / "snapshot"
    snap_dir.mkdir()
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    q = stream_upsert_snapshot(
        stream, str(snap_dir), ["k"], delete_col="is_delete"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.k: (r.s, r.v)
        for r in spark.read.parquet(str(snap_dir / "current")).collect()
    }
    base = spark.createDataFrame([], "k long, s string, v double")
    for rows in batches:
        base = upsert(
            base,
            spark.createDataFrame(rows, schema),
            ["k"],
            delete_col="is_delete",
        )
    want = {r.k: (r.s, r.v) for r in base.collect()}
    assert got == want == {
        2: ("b2", 20.0),
        3: ("c", 3.0),
        4: ("d2", 44.0),
    }


def test_stream_upsert_snapshot_first_batch_crash_repair(spark, tmp_path):
    """A crash DURING the very first batch's parquet write leaves a
    partial ``_next_0`` (no _SUCCESS) and no ``current``. The repair
    pass must NOT promote the partial directory — the replayed batch
    overwrites it and the snapshot converges to the correct rows."""
    import glob
    import shutil

    from swivel_spark_prep_spark.streaming import stream_upsert_snapshot

    schema = "k long, s string, v double, is_delete boolean"
    replay = tmp_path / "changes"
    replay.mkdir()
    raw = tmp_path / "raw"
    spark.createDataFrame(
        [(1, "a", 1.0, False), (2, "b", 2.0, False)], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(raw))
    part = glob.glob(str(raw / "part-*.parquet"))[0]
    shutil.copy(part, str(replay / "00.parquet"))
    _stamp_mtimes(str(replay))

    # simulate the mid-write crash: a partial _next_0 with data files
    # but NO _SUCCESS marker (only row k=1 made it), and no `current`.
    snap_dir = tmp_path / "snapshot"
    snap_dir.mkdir()
    partial = tmp_path / "partial"
    spark.createDataFrame([(1, "STALE", -1.0)], "k long, s string, v double") \
        .coalesce(1).write.mode("overwrite").parquet(str(partial))
    (partial / "_SUCCESS").unlink()
    shutil.move(str(partial), str(snap_dir / "_next_0"))

    stream = spark.readStream.schema(schema).parquet(str(replay))
    q = stream_upsert_snapshot(
        stream, str(snap_dir), ["k"], delete_col="is_delete"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.k: (r.s, r.v)
        for r in spark.read.parquet(str(snap_dir / "current")).collect()
    }
    assert got == {1: ("a", 1.0), 2: ("b", 2.0)}  # no STALE promotion


def test_drop_duplicates_within_watermark(spark, events, replay_dir, tmp_path):
    """Spark's built-in streaming dedup (dropDuplicatesWithinWatermark) —
    the zero-custom-code twin of stream_exact_dedup for when the dedup
    key fits in state and duplicates arrive within the watermark horizon:
    each event_id must be emitted exactly once even though the duplicated
    drop replays every event twice."""
    import glob
    import shutil

    dup_dir = tmp_path / "dup_replay"
    dup_dir.mkdir()
    files = sorted(glob.glob(f"{replay_dir}/*.parquet"))
    for f in files:
        shutil.copy(f, str(dup_dir / f.split("/")[-1]))
    # replay the first drop AGAIN as a later micro-batch — every event in
    # it becomes a cross-batch duplicate
    shutil.copy(files[0], str(dup_dir / "90.parquet"))
    _stamp_mtimes(str(dup_dir))

    stream = events_file_stream(
        spark, str(dup_dir), events.schema, watermark="30 days"
    )
    deduped = stream.dropDuplicatesWithinWatermark(["event_id"])
    result, query = run_stream(deduped, "append")
    try:
        got = [r.event_id for r in result.collect()]
        assert len(got) == len(set(got)), "duplicate event emitted"
        # every original event arrived exactly once
        assert sorted(got) == sorted(r.event_id for r in events.collect())
    finally:
        query.stop()


def test_stream_upsert_versioned_commits_per_batch(spark, tmp_path):
    """Streaming into the versioned table: each micro-batch lands as one
    committed version; final state equals the sequential batch merge and
    history records the create + N upserts. Retention then drops old
    versions but keeps the latest readable."""
    import glob
    import shutil

    from swivel_spark_prep_spark.operators.versioned import (
        VersionedTable,
        stream_upsert_versioned,
    )

    batches = [
        [(1, "a", 1.0, False), (2, "b", 2.0, False)],
        [(2, "b2", 20.0, False), (3, "c", 3.0, False)],
        [(1, None, None, True)],
    ]
    schema = "k long, s string, v double, is_delete boolean"
    replay = tmp_path / "changes"
    replay.mkdir()
    for i, rows in enumerate(batches):
        raw = tmp_path / f"raw{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(raw))
        shutil.copy(
            glob.glob(str(raw / "part-*.parquet"))[0],
            str(replay / f"{i:02d}.parquet"),
        )
    _stamp_mtimes(str(replay))

    tbl_path = str(tmp_path / "vtbl")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    q = stream_upsert_versioned(stream, tbl_path, ["k"], delete_col="is_delete")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    t = VersionedTable(tbl_path)
    assert [h["op"] for h in t.history()] == [
        "create", "upsert", "upsert", "upsert",
    ]
    got = {r.k: (r.s, r.v) for r in t.read(spark).collect()}
    assert got == {2: ("b2", 20.0), 3: ("c", 3.0)}
    # retention: keep the last 2 versions; latest still reads fine
    expired = t.expire_versions(keep_last=2)
    assert expired == [1, 2]
    assert {r.k for r in t.read(spark).collect()} == {2, 3}
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.read(spark, version=1)


def test_stream_static_broadcast_enrichment(spark, events, replay_dir, sf_dir):
    """Stream-static join: enrich a change stream with a static
    dimension (the broadcast-enrichment class — per micro-batch the
    static side joins with no stream-side state). Result must equal the
    batch join, and every user must resolve to exactly one nation."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    stream = _stream(spark, events, replay_dir)
    enriched = (
        stream.join(F.broadcast(cust), "user_id")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tot"))
    )
    result, query = run_stream(enriched, "complete")
    try:
        got = {
            r.c_nationkey: (r.n, round(r.tot, 6)) for r in result.collect()
        }
        want = {
            r.c_nationkey: (r.n, round(r.tot, 6))
            for r in events.join(cust, "user_id")
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("n"), F.sum("value").alias("tot"))
            .collect()
        }
        assert got == want and got
    finally:
        query.stop()


def test_stream_sessionize_matches_batch_session_window(
    spark, events, replay_dir, tmp_path
):
    """Custom stateful sessionization (applyInPandasWithState +
    EventTimeTimeout): replaying the time-ordered drops and then two
    far-future sentinel files (watermark flush), the closed sessions
    must equal the batch session_window result — same 30-min gap, same
    s_end = last event + gap close rule."""
    import glob
    import shutil

    from swivel_spark_prep_spark.streaming import (
        events_file_stream,
        run_stream,
        session_agg,
        stream_sessionize,
    )

    replay = tmp_path / "sess_replay"
    replay.mkdir()
    for f in sorted(glob.glob(f"{replay_dir}/*.parquet")):
        shutil.copy(f, str(replay / os.path.basename(f)))
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    for i, days in enumerate((10, 11)):
        sentinel = spark.createDataFrame(
            [(10**9 + i, max_ts + datetime.timedelta(days=days), 999999,
              "view", 0.0)],
            schema=events.schema,
        )
        sentinel.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"sent{i}")
        )
        part = glob.glob(str(tmp_path / f"sent{i}" / "part-*.parquet"))[0]
        shutil.copy(part, str(replay / f"9{i}.parquet"))
    _stamp_mtimes(str(replay))

    stream = events_file_stream(
        spark, str(replay), events.schema, watermark="1 second"
    )
    result, query = run_stream(
        stream_sessionize(stream, gap_seconds=1800), "append"
    )
    try:
        got = sorted(
            (r.user_id, r.s_start, r.s_end, r.cnt)
            for r in result.filter(F.col("user_id") != 999999).collect()
        )
        want = sorted(
            (r.user_id, r.s_start, r.s_end, r.cnt)
            for r in session_agg(events, "30 minutes").collect()
        )
        assert len(got) == len(want), (len(got), len(want))
        assert got == want
    finally:
        query.stop()


def test_stream_sessionize_merges_late_cross_batch_event(spark, tmp_path):
    """A late (but within-watermark) event arriving one micro-batch
    after a later event of the same session must MERGE into the open
    session interval — not move its end backwards or split it — so the
    closed session still equals batch session_window."""
    import glob
    import shutil

    from swivel_spark_prep_spark.streaming import (
        events_file_stream,
        run_stream,
        session_agg,
        stream_sessionize,
    )

    base = datetime.datetime(2024, 3, 1, 10, 0, 0)

    def ev(eid, minutes, uid=7):
        return (eid, base + datetime.timedelta(minutes=minutes), uid, "view", 1.0)

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    batches = [
        [ev(1, 0)],            # 10:00
        [ev(2, -20)],          # 09:40 — LATE, within gap of the open session
        [ev(3, 10)],           # 10:10 — same session
        [(99, base + datetime.timedelta(days=30), 999999, "view", 0.0)],
        [(98, base + datetime.timedelta(days=31), 999999, "view", 0.0)],
    ]
    replay = tmp_path / "late_replay"
    replay.mkdir()
    for i, rows in enumerate(batches):
        d = tmp_path / f"lb{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d))
        shutil.copy(
            glob.glob(str(d / "part-*.parquet"))[0], str(replay / f"{i:02d}.parquet")
        )
    _stamp_mtimes(str(replay))

    all_events = spark.createDataFrame(
        [r for b in batches[:3] for r in b], schema
    )
    stream = events_file_stream(
        spark, str(replay), all_events.schema, watermark="2 hours"
    )
    result, query = run_stream(
        stream_sessionize(stream, gap_seconds=1800), "append"
    )
    try:
        got = sorted(
            (r.user_id, r.s_start, r.s_end, r.cnt)
            for r in result.filter(F.col("user_id") != 999999).collect()
        )
        want = sorted(
            (r.user_id, r.s_start, r.s_end, r.cnt)
            for r in session_agg(all_events, "30 minutes").collect()
        )
        assert got == want, (got, want)
        assert len(got) == 1 and got[0][3] == 3  # one merged 3-event session
    finally:
        query.stop()


def test_stream_near_dedup_service(spark, tmp_path):
    """stream_near_dedup: the always-on dedup service. Near-dups of docs
    accepted in EARLIER micro-batches must be dropped via the persistent
    index (never by re-signing the corpus); novel docs pass; the index
    grows by exactly the survivors."""
    import glob
    import shutil

    from swivel_spark_prep_spark.streaming import stream_near_dedup

    def doc(i, mutate=None):
        toks = [f"w{i}_{j}" for j in range(60)]
        if mutate is not None:
            toks = [f"w{mutate}_{j}" for j in range(60)]
            toks[30] = f"mut{i}"
        return (i, " ".join(toks))

    batches = [
        [doc(0), doc(1), doc(2)],
        [doc(10, mutate=0), doc(11)],          # 10 near-dups accepted 0
        [doc(20, mutate=11), doc(21)],         # 20 near-dups accepted 11
    ]
    replay = tmp_path / "replay"
    replay.mkdir()
    schema = "doc_id long, text string"
    for b, rows in enumerate(batches):
        raw = tmp_path / f"raw{b}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(raw))
        part = glob.glob(str(raw / "part-*.parquet"))[0]
        shutil.copy(part, str(replay / f"{b:02d}.parquet"))
    _stamp_mtimes(str(replay))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    q = stream_near_dedup(
        stream,
        str(tmp_path / "index"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out_dirs = sorted(glob.glob(str(tmp_path / "out" / "b*")))
    assert len(out_dirs) == 3
    got = {r.doc_id for r in spark.read.parquet(*out_dirs).collect()}
    assert got == {0, 1, 2, 11, 21}
    # the index holds exactly the survivors' shingle sets
    idx_ids = {
        r.doc_id
        for r in spark.read.parquet(
            *sorted(glob.glob(str(tmp_path / "index" / "shingles" / "b*")))
        ).collect()
    }
    assert idx_ids == got


def test_near_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """Crash contract: replaying a batch whose index writes already
    landed (crash before checkpoint commit) must reproduce the SAME
    survivors — the index load excludes the batch's own shard dirs, so
    survivors cannot self-match and vanish on replay."""
    import glob

    from swivel_spark_prep_spark.streaming import _near_dedup_apply

    def doc(i, mutate=None):
        toks = [f"w{i}_{j}" for j in range(60)]
        if mutate is not None:
            toks = [f"w{mutate}_{j}" for j in range(60)]
            toks[30] = f"mut{i}"
        return (i, " ".join(toks))

    schema = "doc_id long, text string"
    idx, out = str(tmp_path / "index"), str(tmp_path / "out")
    b0 = spark.createDataFrame([doc(0), doc(1)], schema)
    b1 = spark.createDataFrame([doc(10, mutate=0), doc(11)], schema)
    _near_dedup_apply(b0, 0, idx, out, 3, 64, 16, 0.8)
    _near_dedup_apply(b1, 1, idx, out, 3, 64, 16, 0.8)
    first = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out" / "b000001")).collect()}
    assert first == {11}
    # replay batch 1: its own index shards exist — survivors must not change
    _near_dedup_apply(b1, 1, idx, out, 3, 64, 16, 0.8)
    again = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out" / "b000001")).collect()}
    assert again == first
    assert len(glob.glob(str(tmp_path / "index" / "shingles" / "b*"))) == 2


def test_stream_sprt_matches_batch_and_is_sticky(spark, tmp_path):
    """stream_sprt: the final snapshot must equal the batch sprt_test on
    the concatenated stream (same decision, cross_n, cum_llr), the
    decision must be STICKY once crossed, and state is one row/batch."""
    import glob
    import shutil

    from swivel_spark_prep_spark.operators.timeseries import sprt_test
    from swivel_spark_prep_spark.streaming import stream_sprt

    # batch 0 undecided, batch 1 crosses A (all successes), batch 2
    # all failures afterwards must NOT flip the decision
    batches = [
        [(i, 1 if i % 2 else 0) for i in range(6)],
        [(10 + i, 1) for i in range(12)],
        [(30 + i, 0) for i in range(10)],
    ]
    schema = "t long, x int"
    replay = tmp_path / "replay"
    replay.mkdir()
    for b, rows in enumerate(batches):
        raw = tmp_path / f"raw{b}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(raw))
        part = glob.glob(str(raw / "part-*.parquet"))[0]
        shutil.copy(part, str(replay / f"{b:02d}.parquet"))
    _stamp_mtimes(str(replay))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    from swivel_spark_prep_spark import cache

    persisted_before = len(cache._PERSISTED)
    q = stream_sprt(
        stream,
        ["t"],
        "x",
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        p0=0.15,
        p1=0.25,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # each batch releases what its prefix-kernel call persisted
    assert len(cache._PERSISTED) == persisted_before
    out_dirs = sorted(glob.glob(str(tmp_path / "out" / "batch_id=*")))
    assert len(out_dirs) == 3
    snaps = [spark.read.parquet(d).collect()[0] for d in out_dirs]
    assert all(len(spark.read.parquet(d).collect()) == 1 for d in out_dirs)

    # batch twin over the full concatenation (order = t, so the stream
    # order and the batch order coincide)
    all_rows = [r for b in batches for r in b]
    batch_row = sprt_test(
        spark.createDataFrame(all_rows, schema), ["t"], "x", p0=0.15, p1=0.25
    ).collect()[0]
    final = snaps[-1]
    assert final.n_obs == batch_row.n_obs == len(all_rows)
    assert final.decision == batch_row.decision == "accept_h1"
    assert final.cross_n == batch_row.cross_n
    assert final.cum_llr == pytest.approx(batch_row.llr_final, abs=1e-6)
    # sticky: batch-2 snapshot keeps the batch-1 decision and cross_n
    assert snaps[0].decision == "continue" and snaps[0].cross_n is None
    assert snaps[1].decision == "accept_h1"
    assert snaps[2].decision == "accept_h1"
    assert snaps[2].cross_n == snaps[1].cross_n


def test_stream_page_hinkley_matches_batch_and_carries_groups(spark, tmp_path):
    """stream_page_hinkley: the final snapshot must equal the batch
    page_hinkley on the concatenated stream per group (n, max_ph,
    n_alarms, first_alarm_ts); a group absent from a later batch is
    carried forward unchanged; state is one row per group."""
    import datetime
    import glob
    import shutil

    from swivel_spark_prep_spark.operators.timeseries import page_hinkley
    from swivel_spark_prep_spark.streaming import stream_page_hinkley

    base = datetime.datetime(2024, 3, 1)

    def ts(i):
        return base + datetime.timedelta(minutes=i)

    # 'shift' ramps up mid-stream (alarms in batch 1); 'flat' is
    # stationary and absent from batch 2 entirely (carry-forward)
    batches = [
        [("shift", ts(i), i, 10.0) for i in range(60)]
        + [("flat", ts(i), 1000 + i, 5.0) for i in range(60)],
        [("shift", ts(60 + i), 60 + i, 40.0) for i in range(60)]
        + [("flat", ts(60 + i), 1060 + i, 5.0) for i in range(20)],
        [("shift", ts(120 + i), 120 + i, 40.0) for i in range(30)],
    ]
    schema = "g string, t timestamp, id long, x double"
    replay = tmp_path / "replay"
    replay.mkdir()
    for b, rows in enumerate(batches):
        raw = tmp_path / f"raw{b}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(raw))
        part = glob.glob(str(raw / "part-*.parquet"))[0]
        shutil.copy(part, str(replay / f"{b:02d}.parquet"))
    _stamp_mtimes(str(replay))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    q = stream_page_hinkley(
        stream,
        "g",
        "t",
        "x",
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        tiebreak_col="id",
        lam=50.0,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out_dirs = sorted(glob.glob(str(tmp_path / "out" / "batch_id=*")))
    assert len(out_dirs) == 3
    final = {r["g"]: r for r in spark.read.parquet(out_dirs[-1]).collect()}

    all_rows = [r for b in batches for r in b]
    batch = {
        r["g"]: r
        for r in page_hinkley(
            spark.createDataFrame(all_rows, schema),
            "t",
            "x",
            "g",
            order_tiebreak="id",
            lam=50.0,
        ).collect()
    }
    for g in ("shift", "flat"):
        assert final[g]["n"] == batch[g]["n"]
        assert final[g]["max_ph"] == pytest.approx(batch[g]["max_ph"], abs=1e-6)
        assert final[g]["n_alarms"] == batch[g]["n_alarms"]
        assert final[g]["first_alarm_ts"] == batch[g]["first_alarm_ts"]
    assert batch["shift"]["n_alarms"] > 0
    assert batch["flat"]["n_alarms"] == 0
    # carry-forward: 'flat' appears in the batch-2 snapshot although the
    # batch contained no 'flat' rows, with batch-1-end statistics
    snap1 = {r["g"]: r for r in spark.read.parquet(out_dirs[1]).collect()}
    snap2 = {r["g"]: r for r in spark.read.parquet(out_dirs[2]).collect()}
    assert snap2["flat"]["n"] == snap1["flat"]["n"] == 80
    # state: one row per group per batch
    st = spark.read.parquet(
        sorted(glob.glob(str(tmp_path / "state" / "ph" / "batch_id=*")))[-1]
    )
    assert st.count() == 2
