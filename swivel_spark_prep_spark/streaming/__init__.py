"""Structured Streaming wrappers — the same logical plans as Q36–Q38,
run incrementally with watermarks and state stores.

Batch/stream parity is by construction: `tumbling_agg` / `sliding_agg` /
`session_agg` build one DataFrame expression used by BOTH the batch
queries (queries/declared.py) and the streaming wrappers here — Spark's
unbounded-table model makes the same plan incremental under readStream.

Behavioral contract (tests/test_streaming.py):
- complete/append-mode results converge to the batch answer once all
  input is processed;
- rows older than the watermark are dropped
  (StreamingQueryProgress.stateOperators.numRowsDroppedByWatermark);
- state store size stays bounded by the open-window count.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from swivel_spark_prep_spark.session import configure_runtime


def tumbling_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width).alias("win_s"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .select(
            F.col("win_s.start").cast("timestamp_ntz").alias("win"),
            "event_type",
            "n",
            "v",
        )
    )


def sliding_agg(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    return (
        events.groupBy(F.window("ts", width, slide).alias("win_s"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win_s.start").cast("timestamp_ntz").alias("win_start"), "n")
    )


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("win_s"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.col("win_s.start").cast("timestamp_ntz").alias("s_start"),
            F.col("win_s.end").cast("timestamp_ntz").alias("s_end"),
            "cnt",
        )
    )


def events_file_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    watermark: str = "1 hour",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over parquet drops (one micro-batch per file with
    maxFilesPerTrigger=1 — the replay harness for behavioral tests).
    Timestamps must already be µs (write the drops from a catalog-loaded
    DataFrame)."""
    configure_runtime(spark)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
        .parquet(input_dir)
        # watermarks require TIMESTAMP (LTZ); with a UTC session the cast
        # from TIMESTAMP_NTZ is value-identical
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )


def stream_exact_dedup(
    docs_stream: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming exact dedup — a CUSTOM stateful operator via
    applyInPandasWithState (no built-in Spark operator expresses "emit
    only first occurrence per key, forever"). Groups by content hash
    (md5); per-key state is the number of occurrences seen so far; a row
    is emitted iff its key was never seen in any earlier micro-batch (or
    earlier in this batch). With an arrival order of ascending `id_col`,
    the emitted set equals the batch `operators.dedup.exact_dedup`
    survivors (property-tested in tests/test_streaming.py).

    State is one long per distinct content hash — bounded by unique-doc
    count; at 100 TB shard it with `spark.sql.shuffle.partitions` like any
    keyed state (RocksDB state store in production)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def _dedup(key, pdfs, state):
        seen = state.get[0] if state.exists else 0
        out_ids = []
        for pdf in pdfs:
            for doc_id in pdf[id_col]:
                if seen == 0:
                    out_ids.append(int(doc_id))
                seen += 1
        state.update((seen,))
        yield pd.DataFrame({id_col: out_ids, "content_hash": [key[0]] * len(out_ids)})

    hashed = docs_stream.withColumn("content_hash", F.md5(F.col(content_col)))
    return hashed.groupBy("content_hash").applyInPandasWithState(
        _dedup,
        outputStructType=f"{id_col} long, content_hash string",
        stateStructType="seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on_col: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "INTERVAL 7 DAYS",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with a time-range conjunct: match right rows
    at or before the left row's time, no older than `within`. Both inputs
    must carry watermarks — the range conjunct plus the watermarks is what
    lets Spark expire join state (without it, state grows forever). The
    same expression joins two batch DataFrames identically, which is the
    parity property tests/test_streaming.py asserts."""
    lt, rt = F.col(f"_l.{left_ts}"), F.col(f"_r.{right_ts}")
    cond = (
        (F.col(f"_l.{on_col}") == F.col(f"_r.{on_col}"))
        & (rt <= lt)
        & (rt >= lt - F.expr(within))
    )
    return left.alias("_l").join(right.alias("_r"), cond, how)


def run_stream(
    agg: DataFrame,
    output_mode: str = "complete",
    timeout_sec: int = 120,
):
    """Run a streaming aggregate to a memory sink until all available input
    is processed; returns (result_df, query) — `query` exposes
    recentProgress for watermark/state assertions. Caller stops the query.
    """
    name = f"sink_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix="sspp_ckpt_"),
        )
        .start()
    )
    query.processAllAvailable()
    return agg.sparkSession.sql(f"SELECT * FROM {name}"), query


def stream_upsert_snapshot(
    stream_df: DataFrame,
    snapshot_dir: str,
    key_cols: list[str],
    delete_col: str | None = None,
):
    """Maintain a parquet snapshot from a change stream: every
    micro-batch MERGEs (operators/upsert.upsert — update matched, insert
    new, drop delete-flagged) into the current snapshot, written to a
    fresh directory and atomically swapped in. foreachBatch is the
    escape hatch Structured Streaming provides exactly for sinks with
    batch-only semantics; the swap keeps readers consistent (they see
    the old or the new snapshot, never a half-written one). On a real
    deployment the swap step is the lakehouse table format's commit;
    the MERGE plan is identical.

    The checkpoint lives INSIDE snapshot_dir (``_checkpoint``) so a
    restarted query resumes from the last committed micro-batch instead
    of replaying the whole source onto the existing snapshot (a fresh
    tmpdir checkpoint would double-apply every insert). The two-rename
    swap is not crash-atomic — a crash between rename(cur→old) and
    rename(nxt→cur) leaves no ``current`` — so each batch starts with a
    repair pass: a missing ``current`` is restored from the newest
    ``_next_*`` that carries the committer's ``_SUCCESS`` marker (a
    marker-less ``_next_`` is a partial write from a crash mid-batch —
    possible only before the first swap — and is left for the replaying
    batch to overwrite), then stale ``_old_*``/``_next_*`` are swept
    once ``current`` exists. Replaying the
    in-flight batch onto the repaired snapshot is safe because MERGE is
    idempotent per key (re-update = same row, re-insert = matched
    update, re-delete = no-op); committed batches are never replayed
    thanks to the checkpoint's batch-id tracking.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    import os
    import shutil

    from swivel_spark_prep_spark.operators.upsert import upsert

    cur = os.path.join(snapshot_dir, "current")

    def _repair() -> None:
        if not os.path.isdir(snapshot_dir):
            return
        scratch = [
            d for d in os.listdir(snapshot_dir)
            if d.startswith(("_next_", "_old_"))
        ]
        if not os.path.exists(cur):
            # `current` is missing either (a) after a crash BETWEEN the
            # two renames — _next_<id> is complete, finish the swap — or
            # (b) after a crash DURING the very first batch's parquet
            # write, when no `current` ever existed and _next_0 is a
            # partial directory. The committer's _SUCCESS marker
            # distinguishes them: promote only a fully-committed _next
            # (a partial one is left for the replaying batch's
            # mode=overwrite to rewrite).
            nexts = sorted(
                (
                    d
                    for d in scratch
                    if d.startswith("_next_")
                    and os.path.exists(
                        os.path.join(snapshot_dir, d, "_SUCCESS")
                    )
                ),
                key=lambda d: int(d.rsplit("_", 1)[1]),
            )
            if nexts:
                os.rename(os.path.join(snapshot_dir, nexts[-1]), cur)
                scratch.remove(nexts[-1])
        if os.path.exists(cur):
            for d in scratch:  # superseded _old_ / partial _next_
                shutil.rmtree(os.path.join(snapshot_dir, d))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _repair()
        if os.path.exists(cur):
            base = spark.read.parquet(cur)
        else:
            drop = [delete_col] if delete_col else []
            base = batch_df.drop(*drop).limit(0)
        merged = upsert(base, batch_df, key_cols, delete_col=delete_col)
        nxt = os.path.join(snapshot_dir, f"_next_{batch_id}")
        merged.write.mode("overwrite").parquet(nxt)  # materialized BEFORE swap
        old = os.path.join(snapshot_dir, f"_old_{batch_id}")
        if os.path.exists(cur):
            os.rename(cur, old)
        os.rename(nxt, cur)
        if os.path.exists(old):
            shutil.rmtree(old)

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option(
            "checkpointLocation", os.path.join(snapshot_dir, "_checkpoint")
        )
        .start()
    )


def stream_sessionize(
    events_stream: DataFrame,
    gap_seconds: int = 1800,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming sessionization as a CUSTOM stateful operator —
    applyInPandasWithState with an EVENT-TIME TIMEOUT. The built-in
    ``session_window`` aggregate (Q38 / `session_agg`) can only emit
    count-style aggregates when the watermark closes the window; a
    custom operator owns the session record (here start/end/count, in
    production e.g. first/last event ids, funnels, device merges) and
    decides emission itself.

    Per key the state is the one OPEN session ``(start_us, end_us, n)``
    treated as an INTERVAL: each batch's events (sorted) merge into it —
    an event within ``[start − gap, end + gap]`` extends the interval on
    either side (so a late-but-within-watermark event from an earlier
    micro-batch merges instead of corrupting the running session), an
    event past ``end + gap`` closes the session and opens a new one, and
    an event before ``start − gap`` (deeper-late than the open session
    reaches) emits as its own immediate session — the one divergence
    from batch session_window, which could still have merged it with an
    even-earlier neighbor; within the watermark contract such events
    do not occur. The surviving open session registers an event-time
    timeout at ``end + gap``; when the watermark passes it, the session
    closes with no further input — exactly session_window's close rule,
    so emitted rows match `session_agg` (s_end = last event + gap;
    equality is test-pinned, including a late-cross-batch replay).
    A timeout already behind the watermark (possible when a batch's own
    max ts advanced the watermark past a stale key) emits immediately.

    State per key is 3 longs — bounded by live (not total) key count;
    the session-close output is append-only, safe for any sink. The
    input stream must carry a watermark on ``ts_col``
    (`events_file_stream` sets one).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def _sess(key, pdfs, state):
        out: list[tuple] = []
        if state.hasTimedOut:
            s, e, n = state.get
            out.append((key[0], s, e, n))
            state.remove()
        else:
            # state in µs epoch — ms would truncate sub-ms event times
            # (the timeout API itself is ms; round UP so the timeout
            # never fires a hair before end+gap)
            ts_us: list[int] = []
            for pdf in pdfs:
                ts_us.extend(
                    pd.to_datetime(pdf[ts_col]).astype("int64") // 10**3
                )
            ts_us.sort()
            s, e, n = state.get if state.exists else (None, None, 0)
            for t in ts_us:
                if s is None:
                    s, e, n = t, t, 1
                elif t - e > gap_us:
                    out.append((key[0], s, e, n))
                    s, e, n = t, t, 1
                elif t < s - gap_us:
                    # deeper-late than the open interval reaches:
                    # emit as its own session (see docstring)
                    out.append((key[0], t, t, 1))
                else:
                    # interval merge — handles late events: extend start
                    # downward, end upward, never move end backwards
                    s, e, n = min(s, t), max(e, t), n + 1
            wm_us = state.getCurrentWatermarkMs() * 1000
            if e + gap_us <= wm_us:
                # already closeable — the watermark outran this key
                out.append((key[0], s, e, n))
                state.remove()
            else:
                state.update((s, e, n))
                state.setTimeoutTimestamp(-(-(e + gap_us) // 1000))
        yield pd.DataFrame(
            {
                key_col: [r[0] for r in out],
                "s_start": pd.to_datetime([r[1] for r in out], unit="us"),
                "s_end": pd.to_datetime([r[2] + gap_us for r in out], unit="us"),
                "cnt": [r[3] for r in out],
            }
        )

    return events_stream.groupBy(key_col).applyInPandasWithState(
        _sess,
        outputStructType=(
            f"{key_col} long, s_start timestamp, s_end timestamp, cnt long"
        ),
        stateStructType="s long, e long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_near_dedup(
    docs_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    jaccard_threshold: float = 0.8,
):
    """The always-on near-dup dedup service, end to end: each micro-batch
    of documents is checked against the PERSISTENT MinHash index
    (operators.dedup.minhash_index relations on disk), near-dups of
    already-accepted documents are dropped, survivors are appended to
    ``out_dir`` and their bands/shingles appended to the index — so the
    next batch dedups against everything accepted so far without ever
    re-signing the corpus (cost per batch is O(batch), the
    minhash_near_dups_incremental contract).

    Survivor rule: a batch doc is dropped when it near-dups ANY indexed
    doc (first-accepted wins) or a smaller-id doc of its own batch.
    Batch writes go to per-batch subdirectories keyed by the foreachBatch
    ``batch_id`` with mode=overwrite, so a replayed batch (restart after
    crash) rewrites the same dirs instead of double-ingesting —
    idempotent exactly-once output on top of the checkpoint's
    at-least-once replay. Returns the started StreamingQuery.
    """
    def _apply(batch: DataFrame, batch_id: int):
        _near_dedup_apply(
            batch,
            batch_id,
            index_dir,
            out_dir,
            n,
            num_hashes,
            num_bands,
            jaccard_threshold,
        )

    return (
        docs_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def _near_dedup_apply(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    n: int,
    num_hashes: int,
    num_bands: int,
    jaccard_threshold: float,
) -> None:
    """One micro-batch of the near-dup service — module-level so replay
    idempotence is directly testable. CRITICAL for crash replay: the
    index load EXCLUDES this batch_id's own shard dirs (a crash between
    the index writes and the checkpoint commit replays the batch with
    its own survivors already indexed; without the exclusion every
    survivor self-matches at Jaccard 1.0 and the replay would rewrite
    the batch EMPTY). The index build re-reads the just-written
    survivors parquet, so the LSH candidate+verify pipeline runs once
    per batch, not three times."""
    from swivel_spark_prep_spark.operators.dedup import (
        minhash_index,
        minhash_near_dups_incremental,
    )

    spark = batch.sparkSession
    if batch.isEmpty():
        return
    # Round 17 (guide §5 — multi-consumer persist): this micro-batch
    # relation feeds FOUR independent pipelines below (the LSH
    # candidate/verify probe, the batch-id relation, the survivor
    # anti-join, and the survivor write); un-persisted, each action
    # re-reads the micro-batch's source files. Released by the
    # release_persisted() at the end of this batch application.
    from swivel_spark_prep_spark.cache import track_persist

    batch = track_persist(batch)
    own = f"b{batch_id:06d}"

    def _load(sub, schema):
        import glob as _g

        dirs = [
            d
            for d in sorted(_g.glob(os.path.join(index_dir, sub, "b*")))
            if os.path.basename(d) != own
        ]
        if not dirs:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*dirs)

    bands = _load("bands", "doc_id long, band_idx int, band_hash bigint")
    shingles = _load("shingles", "doc_id long, shingles array<bigint>")
    pairs = minhash_near_dups_incremental(
        batch, bands, shingles, n, num_hashes, num_bands, jaccard_threshold
    ).filter(F.col("d1") != F.col("d2"))
    ids = batch.select("doc_id").distinct()
    b1 = ids.select(F.col("doc_id").alias("d1")).withColumn("_b1", F.lit(True))
    b2 = ids.select(F.col("doc_id").alias("d2")).withColumn("_b2", F.lit(True))
    tagged = pairs.join(F.broadcast(b1), "d1", "left").join(
        F.broadcast(b2), "d2", "left"
    )
    dropped = (
        tagged.filter(F.col("_b2").isNotNull())
        .select(F.col("d2").alias("doc_id"))
        .unionByName(
            tagged.filter(
                F.col("_b1").isNotNull() & F.col("_b2").isNull()
            ).select(F.col("d1").alias("doc_id"))
        )
        .distinct()
    )
    survivors = batch.join(dropped, "doc_id", "left_anti")
    out_path = os.path.join(out_dir, own)
    survivors.write.mode("overwrite").parquet(out_path)
    # re-read what was written: the index derives from the exact bytes
    # on disk, and the expensive LSH pipeline above is not re-executed
    # for the two index writes
    written = spark.read.schema(batch.schema).parquet(out_path)
    new_bands, new_sh = minhash_index(written, n, num_hashes, num_bands)
    new_bands.write.mode("overwrite").parquet(
        os.path.join(index_dir, "bands", own)
    )
    new_sh.write.mode("overwrite").parquet(
        os.path.join(index_dir, "shingles", own)
    )
    from swivel_spark_prep_spark.cache import release_persisted

    release_persisted()


def stream_drift_monitor(
    stream_df: DataFrame,
    baseline_df: DataFrame,
    num_cols: list[str],
    out_dir: str,
    checkpoint_dir: str,
    bins: int = 10,
):
    """Streaming data-drift monitor: every micro-batch is scored against
    a FIXED baseline with the PSI report (operators/quality.drift_report
    — equal-width baseline bins, ε-floored log ratios,
    stable/moderate/drifted verdicts), and the per-batch report rows
    (batch_id, col, psi, verdict) are appended to ``out_dir`` as
    parquet, partitioned per batch for idempotent replay (a restarted
    batch overwrites its own subdirectory, the stream_near_dedup
    convention).

    This is the "alert before the corpus shifts under the model" loop
    of a continuously-ingesting pipeline: the baseline is the last
    blessed corpus version; a ``drifted`` verdict on an incoming batch
    is the retrain/quarantine trigger. foreachBatch is the right seam
    because drift_report is a batch aggregate (two scans) with no
    streaming state — each batch is scored independently.

    Returns the started StreamingQuery; stop it via ``query.stop()``.
    """
    from swivel_spark_prep_spark.operators.quality import drift_report

    # the baseline never changes but drift_report scans it twice per
    # call — persist it for the monitor's lifetime so each micro-batch
    # pays only the batch scan (caller unpersists via cache.release or
    # query.stop + clearCache)
    baseline_df = baseline_df.persist()

    def _apply(batch: DataFrame, batch_id: int):
        if not batch.take(1):
            return  # nothing to score; PSI of an empty batch is noise
        # batch_id comes from the Hive partition directory alone — also
        # writing it as a data column duplicates the partition column on
        # a root-directory read (tolerated by schema merging today,
        # fragile across versions)
        report = drift_report(baseline_df, batch, num_cols, bins=bins)
        report.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def stream_running_topk_terms(
    docs_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    text_col: str = "text",
):
    """Running top-k term tracker over a document stream — the
    "what is this corpus filling up with" monitor of a continuously-
    ingesting pipeline (paired with stream_drift_monitor's PSI view).

    Each micro-batch appends ITS OWN token-count relation under
    ``state_dir/batch_id=N`` (overwrite per batch — a replayed batch
    rewrites the same partition, the idempotence convention of
    stream_near_dedup), then re-aggregates the state directory and
    snapshots the cumulative top-k to ``out_dir/batch_id=N``. State
    grows by one bounded count relation per batch (vocabulary-sized,
    not corpus-sized: per-batch counts are already aggregated); the
    re-aggregate is a groupBy over |vocab|·batches rows — compact it by
    periodically rewriting state_dir with one merged relation if batch
    count grows large. For unbounded vocabularies use
    :func:`stream_running_topk_terms_cms` — the same contract with
    O(depth·width) sketch state instead of exact counts.

    Returns the started StreamingQuery.
    """

    def _apply(batch: DataFrame, batch_id: int):
        if not batch.take(1):
            return
        counts = (
            batch.select(
                F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token")
            )
            .filter(F.col("token") != "")
            .groupBy("token")
            .agg(F.count("*").alias("cnt"))
        )
        counts.write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={batch_id}"
        )
        spark = batch.sparkSession
        total = (
            spark.read.parquet(state_dir)
            .groupBy("token")
            .agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("token"))
            .limit(k)
        )
        total.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return (
        docs_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def _prune_batches(spark: SparkSession, path: str, keep_from: int) -> None:
    """Delete ``batch_id=M`` state partitions with M < keep_from — the
    state-GC shared by the three bounded-state sketch streams (CMS /
    DDSketch / HLL). Each service reads only batch N−1, so retention
    bounds the state DIRECTORY COUNT (per-batch state was already
    bounded; the dir count was not — round-9 verdict #7). Uses the
    Hadoop FS API so it works on any supported filesystem; delete of a
    committed state partition is safe because no future batch reads it."""
    if keep_from <= 0:
        return
    jp = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jp):
        return
    for st in fs.listStatus(jp):
        name = st.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        try:
            m = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if m < keep_from:
            fs.delete(st.getPath(), True)


def stream_running_topk_terms_cms(
    docs_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    text_col: str = "text",
    width: int = 4096,
    depth: int = 4,
    pool: int = 4,
    retain_batches: int | None = 8,
):
    """Bounded-state variant of :func:`stream_running_topk_terms` — the
    swap-in that function's docstring promises for unbounded
    vocabularies: cumulative term counts live in a count-min sketch
    (operators/heavyhitters.cms_build cells, Cormode & Muthukrishnan
    2005), so per-batch state is O(depth·width) CELLS regardless of how
    many distinct terms the stream has seen, instead of a
    vocabulary-sized count relation.

    Per micro-batch N (all writes land under ``batch_id=N`` partitions,
    overwritten on replay — the stream_near_dedup idempotence
    convention):

    1. the batch's token stream folds into a CMS cell grid and merges
       cell-wise into batch N-1's cumulative sketch → ``state_dir/cms/
       batch_id=N`` (exactly depth·width rows at most);
    2. the candidate set = previous candidates ∪ EVERY distinct term of
       this batch, all scored against the CUMULATIVE sketch
       (cms_estimate: broadcast of ≤ depth·width cells, never a
       corpus-side shuffle) and the top-``k·pool`` by cumulative
       estimate survive → ``state_dir/cand/batch_id=N``. Admission by
       cumulative estimate is sound where batch-local rank is not
       (ADVICE r9): a term's cumulative count only grows in batches
       where it appears, so in the batch where it crosses the k-th
       threshold it IS among that batch's distinct terms and is scored
       at full cumulative weight — a term uniformly just below every
       batch-local top can no longer be starved. Scoring cost is
       per-batch-distinct-term map-side work, not state;
    3. the top-``k`` snapshot (token, est) → ``out_dir/batch_id=N``.

    ``retain_batches`` prunes state partitions older than the last N
    batches after each commit (only batch N−1 is ever read; the cushion
    covers checkpoint replays, which Structured Streaming bounds to the
    last uncommitted batch). Without it the per-batch state is bounded
    but the DIRECTORY COUNT grows forever (round-9 verdict #7). Output
    snapshots under ``out_dir`` are never pruned — they are the sink.

    Estimates are CMS one-sided: est ≥ true count, overcount ≤ εN
    w.h.p. for width = e/ε — at the default 4096×4 a fixture-scale
    stream reads back exact counts (the behavioral test pins top-k
    equality with the exact stream). Ties break on token ASC, so
    snapshots are deterministic. Returns the started StreamingQuery.
    """
    from swivel_spark_prep_spark.operators.heavyhitters import (
        cms_build,
        cms_estimate,
    )

    def _exists(spark: SparkSession, path: str) -> bool:
        jp = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jp))

    def _apply(batch: DataFrame, batch_id: int):
        spark = batch.sparkSession
        toks = batch.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token")
        ).filter(F.col("token") != "")
        cells = cms_build(toks, "token", width=width, depth=depth, salt="topk")
        prev_cms = f"{state_dir}/cms/batch_id={batch_id - 1}"
        if batch_id > 0 and _exists(spark, prev_cms):
            cells = (
                spark.read.parquet(prev_cms)
                .unionByName(cells)
                .groupBy("d", "col")
                .agg(F.sum("cnt").alias("cnt"))
            )
        # empty first batch still writes state so the chain never breaks
        cells.write.mode("overwrite").parquet(
            f"{state_dir}/cms/batch_id={batch_id}"
        )
        cum = spark.read.parquet(f"{state_dir}/cms/batch_id={batch_id}")

        local_terms = toks.select("token").distinct()
        prev_cand = f"{state_dir}/cand/batch_id={batch_id - 1}"
        if batch_id > 0 and _exists(spark, prev_cand):
            cand = (
                spark.read.parquet(prev_cand)
                .select("token")
                .unionByName(local_terms)
                .distinct()
            )
        else:
            cand = local_terms
        scored = cms_estimate(
            cum, cand, "token", width=width, depth=depth, salt="topk"
        ).orderBy(F.desc("est"), F.asc("token"))
        scored.limit(k * pool).write.mode("overwrite").parquet(
            f"{state_dir}/cand/batch_id={batch_id}"
        )
        scored.limit(k).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )
        if retain_batches:
            _prune_batches(spark, f"{state_dir}/cms", batch_id - retain_batches + 1)
            _prune_batches(spark, f"{state_dir}/cand", batch_id - retain_batches + 1)

    return (
        docs_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def stream_running_quantiles(
    values_stream: DataFrame,
    value_col: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    qs: tuple = (0.5, 0.9, 0.99),
    alpha: float = 0.05,
    retain_batches: int | None = 8,
):
    """Running quantile monitor over a value stream with BOUNDED state —
    the DDSketch twin of :func:`stream_running_topk_terms_cms`: each
    micro-batch's values fold into the relational bucket-count sketch
    (operators/profile.ddsketch_build), merge cell-wise into the
    previous cumulative sketch (state = O(log_gamma(value range)) rows
    per batch, never value-count-sized), and the cumulative
    p50/p90/p99 snapshot lands under ``out_dir/batch_id=N``.

    Because DDSketch merge is lossless over the sketch algebra, the
    batch-N snapshot is IDENTICAL to sketching all N batches' rows at
    once (the behavioral test pins this), with every read-back value
    within alpha relative error of the true running quantile. All
    writes are per-batch-partitioned and overwritten on replay (the
    stream_near_dedup idempotence convention); empty batches still
    commit state so the chain never breaks. ``retain_batches`` prunes
    state partitions older than the last N batches (only N−1 is read;
    see :func:`_prune_batches`).

    Returns the started StreamingQuery.
    """
    from swivel_spark_prep_spark.operators.profile import (
        ddsketch_build,
        ddsketch_quantiles,
    )

    def _exists(spark: SparkSession, path: str) -> bool:
        jp = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jp))

    def _apply(batch: DataFrame, batch_id: int):
        spark = batch.sparkSession
        cells = ddsketch_build(batch, value_col, alpha=alpha)
        prev = f"{state_dir}/sketch/batch_id={batch_id - 1}"
        if batch_id > 0 and _exists(spark, prev):
            cells = (
                spark.read.parquet(prev)
                .unionByName(cells)
                .groupBy("g", "sign", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        cells.write.mode("overwrite").parquet(
            f"{state_dir}/sketch/batch_id={batch_id}"
        )
        cum = spark.read.parquet(f"{state_dir}/sketch/batch_id={batch_id}")
        ddsketch_quantiles(cum, list(qs), alpha=alpha).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch_id={batch_id}")
        if retain_batches:
            _prune_batches(
                spark, f"{state_dir}/sketch", batch_id - retain_batches + 1
            )

    return (
        values_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def stream_running_distinct(
    values_stream: DataFrame,
    value_col: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    group_col: str | None = None,
    lg_k: int = 12,
    retain_batches: int | None = 8,
):
    """Running distinct-count monitor with BOUNDED state — the third
    of the streaming sketch services (CMS top-k terms, DDSketch
    quantiles, HLL distinct): each micro-batch aggregates to one
    Datasketches HLL sketch per group (``hll_sketch_agg``), UNIONS it
    with batch N-1's cumulative sketch (``hll_union_agg`` — the sketch
    algebra Spark exposes natively), and snapshots per-group
    ``n_approx`` (±1.04/sqrt(2^lg_k)) under ``out_dir/batch_id=N``.
    State per batch = one 2^lg_k-register binary per group — the
    vocabulary/value cardinality never materializes.

    Same conventions as the sibling services: per-batch-partitioned
    overwrites (idempotent replay), empty batches still commit state,
    ``retain_batches`` state-GC (only batch N−1 is ever read).
    Returns the started StreamingQuery.
    """

    def _exists(spark: SparkSession, path: str) -> bool:
        jp = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jp))

    def _apply(batch: DataFrame, batch_id: int):
        spark = batch.sparkSession
        g = (
            F.col(group_col) if group_col else F.lit("__all__")
        ).alias("g")
        sk = (
            batch.select(g, F.col(value_col).alias("_v"))
            .groupBy("g")
            .agg(F.hll_sketch_agg("_v", F.lit(lg_k)).alias("_sk"))
        )
        prev = f"{state_dir}/hll/batch_id={batch_id - 1}"
        if batch_id > 0 and _exists(spark, prev):
            sk = (
                spark.read.parquet(prev)
                .unionByName(sk)
                .groupBy("g")
                # allowDifferentLgConfigK=false: every sketch in this
                # state chain is built with the same lg_k
                .agg(F.hll_union_agg("_sk", F.lit(False)).alias("_sk"))
            )
        sk.write.mode("overwrite").parquet(
            f"{state_dir}/hll/batch_id={batch_id}"
        )
        cum = spark.read.parquet(f"{state_dir}/hll/batch_id={batch_id}")
        cum.select(
            "g", F.hll_sketch_estimate("_sk").cast("long").alias("n_approx")
        ).write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        if retain_batches:
            _prune_batches(
                spark, f"{state_dir}/hll", batch_id - retain_batches + 1
            )

    return (
        values_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def stream_cusum(
    events_stream: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    mu: float,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    slack: float = 0.0,
    threshold: float | None = None,
    retain_batches: int | None = 8,
):
    """Streaming two-sided CUSUM drift localizer — the "WHEN did the
    mean shift" companion to :func:`stream_drift_monitor`'s per-batch
    PSI "did it drift". The SPC form with a KNOWN in-control mean
    ``mu`` (a stream cannot see its future mean; calibrate mu on a
    baseline window, as every control chart does).

    State is ONE ROW of two doubles per group — (s_pos, s_neg) carried
    across batches — the tightest state of all the bounded services
    (CMS keeps a grid, DDSketch a bucket relation, HLL a register
    array; CUSUM is O(1) per series by construction). The carry uses
    the virtual-element identity: folding Page's recursion from initial
    state S0 equals folding [S0, d_1..d_n] from 0, so within a batch

        S_t = S0 + P_t − min(0, S0 + min_{j≤t} P_j)

    needs only the per-group running sum and running min the batch
    operator already uses (timeseries.cusum closed form) — exact, no
    per-row Python state.

    Per batch: rows (group, ts, value, cusum_pos, cusum_neg[, alarm])
    land under ``out_dir/batch_id=N`` (idempotent overwrite, the
    service convention); end-of-batch statistics per group land under
    ``state_dir/cusum/batch_id=N`` with groups absent from the batch
    carried forward, so the chain never loses a series. ``threshold``
    (absolute units) adds the boolean ``alarm`` column. Rows must be
    unique per (group, ts) for a deterministic fold; ties are broken on
    the value.

    Returns the started StreamingQuery.
    """

    def _exists(spark: SparkSession, path: str) -> bool:
        jp = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jp))

    def _apply(batch: DataFrame, batch_id: int):
        spark = batch.sparkSession
        rows = batch.select(
            F.col(group_col).alias("g"),
            F.col(ts_col).alias("t"),
            F.col(value_col).cast("double").alias("x"),
        ).filter(F.col("x").isNotNull() & F.col("t").isNotNull())

        prev_path = f"{state_dir}/cusum/batch_id={batch_id - 1}"
        if batch_id > 0 and _exists(spark, prev_path):
            prev = spark.read.parquet(prev_path)
        else:
            prev = spark.createDataFrame(
                [], "g string, s_pos double, s_neg double"
            )

        w = (
            Window.partitionBy("g")
            .orderBy("t", "x")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        d = F.col("x") - F.lit(mu) - F.lit(slack)
        e = F.lit(mu) - F.col("x") - F.lit(slack)
        path = (
            rows.join(prev, "g", "left")
            .withColumn("s0p", F.coalesce("s_pos", F.lit(0.0)))
            .withColumn("s0n", F.coalesce("s_neg", F.lit(0.0)))
            .drop("s_pos", "s_neg")
            .select(
                "*",
                F.sum(d).over(w).alias("__p"),
                F.min(F.sum(d).over(w)).over(w).alias("__minp"),
                F.sum(e).over(w).alias("__q"),
                F.min(F.sum(e).over(w)).over(w).alias("__minq"),
            )
            .select(
                F.col("g").alias(group_col),
                F.col("t").alias(ts_col),
                F.col("x").alias(value_col),
                (
                    F.col("s0p")
                    + F.col("__p")
                    - F.least(F.lit(0.0), F.col("s0p") + F.col("__minp"))
                ).alias("cusum_pos"),
                (
                    F.col("s0n")
                    + F.col("__q")
                    - F.least(F.lit(0.0), F.col("s0n") + F.col("__minq"))
                ).alias("cusum_neg"),
            )
        )
        if threshold is not None:
            path = path.withColumn(
                "alarm",
                (F.col("cusum_pos") >= threshold)
                | (F.col("cusum_neg") >= threshold),
            )
        path.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

        # end-of-batch state per group; carry forward groups silent
        # this batch (anti-join keeps their previous statistics)
        out = spark.read.parquet(f"{out_dir}/batch_id={batch_id}")
        ends = out.groupBy(F.col(group_col).alias("g")).agg(
            F.expr(f"max_by(cusum_pos, struct({ts_col}, {value_col}))").alias(
                "s_pos"
            ),
            F.expr(f"max_by(cusum_neg, struct({ts_col}, {value_col}))").alias(
                "s_neg"
            ),
        )
        carried = prev.join(ends.select("g"), "g", "left_anti")
        ends.unionByName(carried).write.mode("overwrite").parquet(
            f"{state_dir}/cusum/batch_id={batch_id}"
        )
        if retain_batches:
            _prune_batches(
                spark, f"{state_dir}/cusum", batch_id - retain_batches + 1
            )

    return (
        events_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def stream_sprt(
    obs_stream: DataFrame,
    order_cols: list,
    success_col: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    p0: float = 0.15,
    p1: float = 0.25,
    alpha: float = 0.05,
    beta: float = 0.05,
    retain_batches: int | None = 8,
):
    """Streaming Wald SPRT — the sequential test run the way it was
    designed to run: observations arrive, the log-likelihood-ratio walk
    extends, and the decision fires THE BATCH the boundary is crossed
    (timeseries.sprt_test is the batch twin; parity is pinned in
    tests). State is one row — (n_obs, cum_llr, decision, cross_n) —
    O(1) regardless of stream length, the smallest state of any service
    here.

    Per micro-batch: order the batch by ``order_cols``, one inclusive
    prefix-sum pass carrying [llr, 1] OFFSET by the carried cumulative,
    earliest in-batch crossing (if still undecided), then append-style
    snapshot under ``out_dir/batch_id=N``. A decision is STICKY: once
    crossed, later batches only extend n_obs/cum_llr for monitoring.
    Same conventions as the sibling services: per-batch-partitioned
    overwrites (idempotent replay), empty batches still commit state,
    ``retain_batches`` state-GC.
    """
    import math

    for nm, v in (("p0", p0), ("p1", p1)):
        if not 0.0 < v < 1.0:
            raise ValueError(f"{nm} must be in (0, 1), got {v}")
    if p0 == p1:
        raise ValueError("p0 and p1 must differ")
    lp = math.log(p1 / p0)
    ln_ = math.log((1.0 - p1) / (1.0 - p0))
    a_bound = math.log((1.0 - beta) / alpha)
    b_bound = math.log(beta / (1.0 - alpha))

    def _exists(spark: SparkSession, path: str) -> bool:
        jp = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jp))

    def _apply(batch: DataFrame, batch_id: int):
        from swivel_spark_prep_spark.cache import persisted_scope
        from swivel_spark_prep_spark.operators.ranks import partitioned_prefix_sum

        spark = batch.sparkSession
        prev = f"{state_dir}/sprt/batch_id={batch_id - 1}"
        if batch_id > 0 and _exists(spark, prev):
            st = spark.read.parquet(prev).collect()[0]  # 1 row by contract
            n0, cum0 = int(st["n_obs"]), float(st["cum_llr"])
            decision, cross_n = st["decision"], st["cross_n"]
        else:
            n0, cum0, decision, cross_n = 0, 0.0, "continue", None

        x = F.col(success_col).cast("double")
        base = batch.select(
            *order_cols,
            (x * F.lit(lp) + (F.lit(1.0) - x) * F.lit(ln_)).alias("_llr"),
            F.lit(1.0).alias("_one"),
        ).filter(F.col("_llr").isNotNull())
        # the kernel persists once per call: release it with the batch
        with persisted_scope():
            cum = partitioned_prefix_sum(
                base, list(order_cols), ["_llr", "_one"], ["_c", "_n"], inclusive=True
            ).select(
                (F.col("_c") + F.lit(cum0)).alias("_cum"),
                (F.col("_n") + F.lit(float(n0))).alias("_gn"),
                "_llr",
            )
            agg = cum.agg(
                F.count("*").alias("_bn"),
                F.coalesce(F.sum("_llr"), F.lit(0.0)).alias("_bs"),
                F.min(F.when(F.col("_cum") >= a_bound, F.col("_gn"))).alias("_n1"),
                F.min(F.when(F.col("_cum") <= b_bound, F.col("_gn"))).alias("_n0"),
            ).collect()[0]
        n_total = n0 + int(agg["_bn"])
        cum_total = cum0 + float(agg["_bs"])
        if decision == "continue":
            n1, nn0 = agg["_n1"], agg["_n0"]
            if n1 is not None and (nn0 is None or n1 <= nn0):
                decision, cross_n = "accept_h1", int(n1)
            elif nn0 is not None:
                decision, cross_n = "accept_h0", int(nn0)
        row = [(n_total, cum_total, decision,
                int(cross_n) if cross_n is not None else None,
                float(a_bound), float(b_bound))]
        out = spark.createDataFrame(
            row,
            "n_obs long, cum_llr double, decision string, cross_n long,"
            " a_bound double, b_bound double",
        )
        out.write.mode("overwrite").parquet(
            f"{state_dir}/sprt/batch_id={batch_id}"
        )
        out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        if retain_batches:
            _prune_batches(
                spark, f"{state_dir}/sprt", batch_id - retain_batches + 1
            )

    return (
        obs_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def stream_rolling_actives(
    events_stream: DataFrame,
    key_col: str,
    ts_col: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window_days: int = 7,
    retain_batches: int | None = 8,
):
    """Streaming exact trailing-window distinct actives (rolling
    WAU/MAU) — the live twin of the batch coverage-island operator
    (timeseries.rolling_active_counts). Per micro-batch:

    1. the batch collapses to its distinct (key, activity-day) pairs;
    2. union with batch N−1's pair state, distinct again (re-seen
       pairs are free), then EVICT days older than 2·window_days
       behind the newest day — a pair with day d influences only
       window-ends e ∈ [d, d+W−1], so nothing the live tail can still
       need is dropped;
    3. the audited batch operator itself runs ON THE STATE RELATION
       (composition, not reimplementation) and the rows for the live
       tail e ∈ (max_day − W, max_day] are snapshotted under
       ``out_dir/batch_id=N``.

    State per batch = the distinct active pairs of the last 2W days —
    bounded by 2W × daily-actives, never corpus history. Output rows
    are EXACT for every emitted window-end (parity with the batch
    operator is test-pinned); window-ends older than the live tail are
    the batch operator's job over the archive. Same conventions as the
    sibling services: per-batch-partitioned overwrites (idempotent
    replay), empty batches still commit state, ``retain_batches``
    state-GC. Returns the started StreamingQuery.
    """
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    from swivel_spark_prep_spark.operators.timeseries import (
        rolling_active_counts,
    )

    w = int(window_days)

    def _exists(spark: SparkSession, path: str) -> bool:
        jp = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jp))

    def _apply(batch: DataFrame, batch_id: int):
        spark = batch.sparkSession
        pairs = (
            batch.select(
                F.col(key_col).alias("k"),
                F.to_date(F.col(ts_col)).alias("d"),
            )
            .filter(F.col("k").isNotNull() & F.col("d").isNotNull())
            .distinct()
        )
        prev = f"{state_dir}/pairs/batch_id={batch_id - 1}"
        if batch_id > 0 and _exists(spark, prev):
            pairs = spark.read.parquet(prev).unionByName(pairs).distinct()
        horizon = pairs.agg(F.max("d").alias("_m"))
        pairs = pairs.crossJoin(F.broadcast(horizon)).filter(
            F.col("d") > F.date_sub(F.col("_m"), 2 * w)
        ).select("k", "d")
        pairs.write.mode("overwrite").parquet(
            f"{state_dir}/pairs/batch_id={batch_id}"
        )
        state = spark.read.parquet(f"{state_dir}/pairs/batch_id={batch_id}")
        m = state.agg(F.max("d").alias("_m"))
        out = (
            rolling_active_counts(state, "k", "d", window_days=w)
            .crossJoin(F.broadcast(m))
            .filter(F.col("window_end") > F.date_sub(F.col("_m"), w))
            .select("window_end", "n_active")
        )
        out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        if retain_batches:
            _prune_batches(
                spark, f"{state_dir}/pairs", batch_id - retain_batches + 1
            )

    return (
        events_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def stream_page_hinkley(
    events_stream: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    tiebreak_col: str | None = None,
    delta: float = 0.0,
    lam: float = 100.0,
    retain_batches: int | None = 8,
):
    """Streaming Page–Hinkley upward mean-shift detector — the live
    twin of :func:`timeseries.page_hinkley` and the self-calibrating
    companion to :func:`stream_cusum`: CUSUM needs an a-priori
    in-control mean; PH references the EXPANDING mean of everything
    seen so far, so a fresh series needs zero calibration input.

    State is one row of five doubles + three counters per group —
    (n, sum_x, u, u_min, max_ph, n_alarms, first_alarm_ts) — O(1) per
    series like CUSUM. The carry is exact: within a batch the running
    mean at global position n0+i is (s0 + prefixsum_i(x))/(n0+i), the
    walk is Uₜ = u0 + prefixsum(term), and the reference minimum is
    least(u_min0, runningmin(U)); all three are the per-group windows
    the batch operator already uses, offset by the carried scalars, so
    the final snapshot is arithmetic-identical to the batch operator
    on the concatenated stream (parity pinned in tests).

    Per batch: one snapshot row per group lands under
    ``out_dir/batch_id=N`` (idempotent overwrite), end-of-batch state
    under ``state_dir/ph/batch_id=N`` with absent groups carried
    forward. Rows are ordered by (ts, tiebreak) within each group.
    """

    def _exists(spark: SparkSession, path: str) -> bool:
        jp = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jp))

    state_schema = (
        "g string, n long, s double, u double, umin double,"
        " max_ph double, n_alarms long, first_alarm_ts timestamp"
    )

    def _apply(batch: DataFrame, batch_id: int):
        from pyspark.sql.window import Window

        spark = batch.sparkSession
        rows = batch.select(
            F.col(group_col).cast("string").alias("g"),
            F.col(ts_col).alias("t"),
            *([F.col(tiebreak_col).alias("tb")] if tiebreak_col else []),
            F.col(value_col).cast("double").alias("x"),
        ).filter(F.col("x").isNotNull() & F.col("t").isNotNull())

        prev_path = f"{state_dir}/ph/batch_id={batch_id - 1}"
        if batch_id > 0 and _exists(spark, prev_path):
            prev = spark.read.parquet(prev_path)
        else:
            prev = spark.createDataFrame([], state_schema)

        ocols = [F.col("t")] + ([F.col("tb")] if tiebreak_col else [])
        w = (
            Window.partitionBy("g")
            .orderBy(*ocols)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        j = rows.join(
            F.broadcast(prev.select("g", "n", "s", "u", "umin")), "g", "left"
        ).select(
            "g",
            "t",
            *(["tb"] if tiebreak_col else []),
            "x",
            F.coalesce("n", F.lit(0)).alias("n0"),
            F.coalesce("s", F.lit(0.0)).alias("s0"),
            F.coalesce("u", F.lit(0.0)).alias("u0"),
            "umin",
        )
        stepped = (
            j.withColumn("_cn", F.count("*").over(w))
            .withColumn("_cs", F.sum("x").over(w))
            .withColumn(
                "_term",
                F.col("x")
                - (F.col("s0") + F.col("_cs")) / (F.col("n0") + F.col("_cn"))
                - F.lit(delta),
            )
        )
        walk = stepped.withColumn(
            "_u", F.col("u0") + F.sum("_term").over(w)
        ).withColumn(
            "_rmin",
            F.least(
                F.coalesce(F.col("umin"), F.min("_u").over(w)),
                F.min("_u").over(w),
            ),
        ).withColumn("_ph", F.col("_u") - F.col("_rmin"))
        upd = walk.groupBy("g").agg(
            (F.max("n0") + F.count("*")).alias("n"),
            (F.max("s0") + F.sum("x")).alias("s"),
            (F.max("u0") + F.sum("_term")).alias("u"),
            F.min("_rmin").alias("umin"),
            F.max("_ph").alias("batch_max_ph"),
            F.sum((F.col("_ph") > lam).cast("long")).alias("batch_alarms"),
            F.min(F.when(F.col("_ph") > lam, F.col("t"))).alias(
                "batch_first_alarm"
            ),
        )
        merged = (
            prev.alias("p")
            .join(upd.alias("u"), "g", "full_outer")
            .select(
                "g",
                F.coalesce("u.n", "p.n").alias("n"),
                F.coalesce("u.s", "p.s").alias("s"),
                F.coalesce("u.u", "p.u").alias("u"),
                F.coalesce("u.umin", "p.umin").alias("umin"),
                F.greatest(
                    F.coalesce("p.max_ph", F.lit(0.0)),
                    F.coalesce("u.batch_max_ph", F.lit(0.0)),
                ).alias("max_ph"),
                (
                    F.coalesce("p.n_alarms", F.lit(0))
                    + F.coalesce("u.batch_alarms", F.lit(0))
                ).alias("n_alarms"),
                F.coalesce("p.first_alarm_ts", "u.batch_first_alarm").alias(
                    "first_alarm_ts"
                ),
            )
        )
        out = merged.select(
            F.col("g").alias(group_col),
            "n",
            F.round("max_ph", 6).alias("max_ph"),
            "n_alarms",
            "first_alarm_ts",
        )
        merged.write.mode("overwrite").parquet(
            f"{state_dir}/ph/batch_id={batch_id}"
        )
        out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        if retain_batches:
            _prune_batches(
                spark, f"{state_dir}/ph", batch_id - retain_batches + 1
            )

    return (
        events_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def stream_msprt(
    obs_stream: DataFrame,
    order_cols: list,
    value_col: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    mu0: float,
    sigma2: float,
    alpha: float = 0.05,
    retain_batches: int | None = 8,
):
    """Streaming mixture-SPRT always-valid mean monitor (Johari–Koomen–
    Pekelis–Walsh; timeseries.msprt_monitor is the batch twin) — the
    peeking-safe p-value maintained the way it is meant to be read:
    after EVERY observation, no look schedule. Against H₀: μ = ``mu0``
    with known variance ``sigma2`` and the standard τ² = σ² mixture
    prior the log likelihood ratio at n observations with running sum s
    collapses to

        log Λ(n, s) = −½·ln(1+n) + n²(s/n − μ₀)²/(2σ²(1+n))

    and p_n = min(1, exp(−max_{m≤n} log Λ_m)). Unlike the batch twin
    (which self-calibrates μ₀/σ² from the data and evaluates at bucket
    ends), the service takes the baseline EXPLICITLY — the deployment
    shape: monitor production against a frozen calibration — and
    evaluates the max at every observation, so its p is ≤ the batch
    twin's bucket-end p by construction.

    State is one row — (n_obs, sum_x, max_log_lambda, rejected,
    cross_n) — O(1) regardless of stream length, the stream_sprt
    class. Rejection at ``alpha`` is STICKY (always-valid p is a
    running min; once ≤ α it stays ≤ α). Per micro-batch: one
    inclusive prefix-sum pass OFFSET by the carried (n, s), per-row
    log Λ, one aggregate for the batch max + earliest crossing;
    per-batch-partitioned overwrites (idempotent replay), empty
    batches still commit state, ``retain_batches`` state-GC.
    """
    import math

    if sigma2 <= 0:
        raise ValueError(f"sigma2 must be > 0, got {sigma2}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    thresh = -math.log(alpha)  # reject when max log-lambda >= -ln(alpha)

    def _exists(spark: SparkSession, path: str) -> bool:
        jp = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jp))

    def _apply(batch: DataFrame, batch_id: int):
        from swivel_spark_prep_spark.cache import persisted_scope
        from swivel_spark_prep_spark.operators.ranks import (
            partitioned_prefix_sum,
        )

        spark = batch.sparkSession
        prev = f"{state_dir}/msprt/batch_id={batch_id - 1}"
        if batch_id > 0 and _exists(spark, prev):
            st = spark.read.parquet(prev).collect()[0]  # 1 row by contract
            n0, s0 = int(st["n_obs"]), float(st["sum_x"])
            mx0 = (
                float(st["max_log_lambda"])
                if st["max_log_lambda"] is not None
                else float("-inf")
            )  # None = no observations yet (empty leading batches)
            rejected, cross_n = bool(st["rejected"]), st["cross_n"]
        else:
            n0, s0, mx0 = 0, 0.0, float("-inf")
            rejected, cross_n = False, None

        x = F.col(value_col).cast("double")
        base = batch.select(
            *order_cols, x.alias("_x"), F.lit(1.0).alias("_one")
        ).filter(F.col("_x").isNotNull())
        # the kernel persists once per call: release it with the batch
        with persisted_scope():
            cum = partitioned_prefix_sum(
                base, list(order_cols), ["_x", "_one"], ["_cs", "_cn"],
                inclusive=True,
            ).select(
                (F.col("_cs") + F.lit(s0)).alias("_s"),
                (F.col("_cn") + F.lit(float(n0))).alias("_n"),
                "_x",
            )
            n, s = F.col("_n"), F.col("_s")
            dev = s / n - F.lit(float(mu0))
            ll = (
                -0.5 * F.log(1.0 + n)
                + n * n * dev * dev / (2.0 * F.lit(float(sigma2)) * (1.0 + n))
            )
            agg = cum.select(ll.alias("_ll"), "_n", "_x").agg(
                F.count("*").alias("_bn"),
                F.coalesce(F.sum("_x"), F.lit(0.0)).alias("_bs"),
                F.max("_ll").alias("_bmax"),
                F.min(
                    F.when(F.col("_ll") >= F.lit(thresh), F.col("_n"))
                ).alias("_cross"),
            ).collect()[0]
        n_total = n0 + int(agg["_bn"])
        s_total = s0 + float(agg["_bs"])
        mx = mx0
        if agg["_bmax"] is not None:
            mx = max(mx, float(agg["_bmax"]))
        if not rejected and agg["_cross"] is not None:
            rejected, cross_n = True, int(agg["_cross"])
        p = min(1.0, math.exp(-mx)) if mx > float("-inf") else 1.0
        row = [(
            n_total,
            s_total,
            mx if mx > float("-inf") else None,
            round(p, 6),
            rejected,
            int(cross_n) if cross_n is not None else None,
        )]
        out = spark.createDataFrame(
            row,
            "n_obs long, sum_x double, max_log_lambda double,"
            " p_always_valid double, rejected boolean, cross_n long",
        )
        out.write.mode("overwrite").parquet(
            f"{state_dir}/msprt/batch_id={batch_id}"
        )
        out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        if retain_batches:
            _prune_batches(
                spark, f"{state_dir}/msprt", batch_id - retain_batches + 1
            )

    return (
        obs_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
