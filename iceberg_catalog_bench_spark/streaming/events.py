"""Structured Streaming operators over the events table.

The reference has no streaming surface (SURVEY.md §2.9); these are
the additive stream-processing operators a training-data pipeline
needs, built on ``readStream`` → watermark → windowed aggregation →
``writeStream`` with ``availableNow`` (process-all-then-stop), which
makes every streaming query batch-replayable — and therefore
oracle-checkable against plain SQL over the same rows.

Scale notes: file-source streaming at 100 TB shards by file
(maxFilesPerTrigger); watermarks bound state; session windows use
Spark's native session_window (state store, not a Python UDF).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.registry import register

# Number of state-store partitions for streaming queries. Spark fixes
# state partitioning at first checkpoint, and every micro-batch pays a
# per-partition state-store commit (delta file + CRC + rename), so this
# should track stream volume, not session shuffle width: measured at
# sf0.1, 32 partitions cost ~3.1s/query vs ~1.7s at 8 for identical
# results. On a real cluster set it once to ~2× executor cores via the
# env var; it cannot be changed after the checkpoint exists.
_STATE_PARTITIONS = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")

def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet, normalizing ``ts`` to
    TimestampType whatever physical type the file stores (int64 nanos
    via the nanosAsLong legacy read, or native timestamp micros — same
    adaptive logic as sources.tables). A streaming source needs an
    explicit schema, so we probe the file with a one-off batch read."""
    from ..sources.tables import _events_normalize_ts, _load_events_raw

    raw_batch = _load_events_raw(spark, os.path.join(sf_dir, "events.parquet"))
    raw = (
        spark.readStream.schema(raw_batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _events_normalize_ts(raw)


def _run_to_file_sink(df: DataFrame) -> DataFrame:
    """Execute a streaming query with availableNow against a PARQUET
    file sink (append mode) and read the sink back as a DataFrame.

    This is the production shape: results land distributed in files —
    state never accumulates on the driver the way a memory/complete
    sink's does. Append mode means stateful operators emit only
    FINALIZED results (windows the watermark has passed, sessions a
    timeout closed); registered queries either mirror that cutoff in
    their oracle SQL or are row-passthrough ops (dedup) where append
    emits everything."""
    d = tempfile.mkdtemp(prefix="stream-sink-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    spark = df.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
    try:
        q = (
            df.writeStream.format("parquet")
            .option("path", d + "/out")
            .option("checkpointLocation", d + "/ck")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    try:
        return spark.read.schema(df.schema).parquet(d + "/out")
    except Exception:  # no files written (empty result stream)
        from ..catalog.table import local_frame

        return local_frame(spark, [], df.schema)


@register(
    "streaming_ingest_laketable",
    oracle=(
        "SELECT event_type, COUNT(*) AS cnt, "
        "ROUND(SUM(value), 2) AS sum_value, "
        "CAST(COUNT(DISTINCT event_id) AS BIGINT) AS distinct_ids "
        "FROM events GROUP BY event_type"
    ),
)
def streaming_ingest_laketable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion INTO the catalog table — Iceberg's
    streaming-write path (``writeStream.format('iceberg')``), expressed
    as ``foreachBatch`` → ``LakeTable.append`` per micro-batch: each
    batch is one atomic snapshot commit, so readers see
    exactly-per-batch atomicity and time travel records the ingest
    history. availableNow replays the whole source, then the query
    verifies the TABLE (not the stream) against batch SQL over the
    same rows.

    Scale notes: appends go through the table's commit-lock/retry
    path, so a streaming writer coexists with batch writers;
    maxFilesPerTrigger shards a 100 TB backfill into bounded commits;
    the partition spec (bucket(8, user_id)) applies per batch, giving
    the same pruned layout a batch write would."""
    from ..catalog import LakeTable

    d = tempfile.mkdtemp(prefix="stream-ingest-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    t = LakeTable.create(
        spark, d + "/t",
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
        partition_by=["bucket(8, user_id)"],
    )
    ev = _events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        # replay-idempotent: the snapshot summary records the batch id
        # atomically with the commit, so a micro-batch replayed after a
        # sink-commit/checkpoint-commit crash is skipped, not
        # double-appended (Iceberg streaming-sink semantics, spec :70)
        t.streaming_append(batch_df, batch_id, query_id="ingest")

    q = (
        ev.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", d + "/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("event_id").alias("distinct_ids"),
        )
    )


@register(
    "streamed_calendar_fanout_pruning",
    oracle=(
        # the three pruning pins are deterministic by construction
        # (UTC session → calendar fanout admits days(ts); every
        # streamed file carries both keys; the window/point predicates
        # each drop files); the data columns re-check the pruned read
        # against batch SQL over the same rows
        "SELECT CAST(1 AS BIGINT) AS all_files_keyed, "
        "CAST(1 AS BIGINT) AS fresh_window_pruned, "
        "CAST(1 AS BIGINT) AS tenant_point_pruned, "
        "COUNT(*) AS fresh_rows, "
        "ROUND(SUM(value), 2) AS fresh_value "
        "FROM events WHERE user_id = 42 "
        "AND ts >= TIMESTAMP '2024-01-24 00:00:00'"
    ),
)
def streamed_calendar_fanout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r10 headline: streamed ingest into the reference's
    flagship partitioning — ``days(event_ts)`` + ``bucket(tenant,16)``
    (ICEBERG-Interoperability-Test-Spec.md:50,
    blob_dfs/blob-dfs_bench.py:72) — now PRUNES from the first
    micro-batch. The Python streaming sink fans rows out by the
    exactly-computed partition values (UTC-gated calendar transforms +
    murmur3 ibucket, ``_python_partition_fn``), so the fresh window a
    continuous-ingest reader cares about never waits for compaction.
    The row pins: every streamed file keyed (no silent unkeyed
    degradation), a fresh-window read pruning on the day key, the
    day+tenant point read pruning further, and the pruned read's
    answer matching batch SQL. At 100 TB continuous ingest this is
    the difference between scanning the whole unkeyed ingest tail and
    reading one day × one bucket."""
    from ..catalog import LakeTable
    from .table_source import register_source

    register_source(spark)
    d = tempfile.mkdtemp(prefix="stream-calfan-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    ddl = ("event_id bigint, ts timestamp, user_id bigint, "
           "event_type string, value double")
    # source table day-partitioned → one streamed task per day-file,
    # so each task's fanout stays far under the 64-writer cap
    src_t = LakeTable.create(spark, d + "/src", ddl,
                             partition_by=["days(ts)"])
    from ..sources import load_table as _lt

    src_t.append(_lt(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"))
    dst = LakeTable.create(
        spark, d + "/dst", ddl,
        partition_by=["days(ts)", "ibucket(16, user_id)"])
    q = (
        spark.readStream.format("laketable").option("path", src_t.path)
        .load()
        .writeStream.format("laketable").option("path", dst.path)
        .option("checkpointLocation", d + "/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    t = LakeTable.load(spark, dst.path)
    snap = t._snapshot(t._meta["current_snapshot_id"])
    all_keyed = all(
        "_p_days_ts" in f.partition and "_p_ibucket_user_id" in f.partition
        for f in snap.files)
    pred_w = "ts >= '2024-01-24 00:00:00'"
    pred_wt = f"user_id = 42 AND {pred_w}"
    kept_w = t._prune_files(snap.files, pred_w)
    kept_wt = t._prune_files(snap.files, pred_wt)
    return t.read().where(pred_wt).agg(
        F.lit(int(all_keyed)).cast("bigint").alias("all_files_keyed"),
        F.lit(int(0 < len(kept_w) < len(snap.files)))
         .cast("bigint").alias("fresh_window_pruned"),
        F.lit(int(0 < len(kept_wt) < len(kept_w)))
         .cast("bigint").alias("tenant_point_pruned"),
        F.count(F.lit(1)).alias("fresh_rows"),
        F.round(F.sum("value"), 2).alias("fresh_value"),
    )


@register(
    "streaming_enrich_join",
    oracle=(
        "SELECT c.c_mktsegment AS mktsegment, COUNT(*) AS cnt, "
        "ROUND(SUM(e.value), 2) AS sum_value "
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey "
        "GROUP BY c.c_mktsegment"
    ),
)
def streaming_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the
    customer dimension (broadcast, stateless — no watermark or state
    store needed), enriched rows land in the file sink, and the check
    aggregates the sink against the equivalent batch join. This is the
    standard streaming-ETL lookup shape; at 100 TB the dimension is
    broadcast once per micro-batch and the stream side never
    shuffles."""
    from ..sources import load_table as _lt

    dim = _lt(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    ev = _events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    enriched = ev.join(F.broadcast(dim), "user_id")
    sink = _run_to_file_sink(enriched)
    return sink.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "streaming_windowed_agg",
    oracle=(
        "SELECT date_trunc('hour', ts) AS window_start, event_type, "
        "COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value "
        "FROM events "
        "WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR "
        "<= (SELECT MAX(ts) FROM events) - INTERVAL 2 HOUR "
        "GROUP BY date_trunc('hour', ts), event_type"
    ),
)
def streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → watermark(2h) → 1-hour tumbling window agg →
    availableNow append to a parquet file sink, read back.

    Append mode emits a window only once the watermark (max event time
    − 2h) passes its end — live-stream finalization semantics, with
    results landing in files instead of accumulating driver-side. The
    oracle mirrors the cutoff exactly: batch GROUP BY restricted to
    windows with end ≤ max(ts) − 2h (the trailing still-open windows
    are the withheld ones)."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value")
    )
    return _run_to_file_sink(agg)


@register(
    "streaming_dedup_count",
    oracle=(
        "SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS distinct_events FROM events"
    ),
)
def streaming_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion-dedup: dropDuplicates on event_id under a
    watermark (bounded state), deduped ROWS appended to a parquet file
    sink — the production pipeline shape (a dedup stage persists the
    cleaned stream; nothing aggregates on the driver). The count runs
    batch-side over the sink and must equal batch COUNT(DISTINCT)."""
    ev = _events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 day").dropDuplicates(["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    sink = _run_to_file_sink(deduped)
    return sink.agg(F.count(F.lit(1)).alias("distinct_events"))


@register(
    "sessionize_batch",
    oracle=(
        "WITH gaps AS (SELECT user_id, ts, "
        "CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
        "> INTERVAL 30 MINUTE OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
        "IS NULL THEN 1 ELSE 0 END AS new_session "
        "FROM events WHERE user_id < 40) "
        "SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, "
        "COUNT(*) AS n_events FROM gaps GROUP BY user_id"
    ),
)
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap via Spark's
    native session_window (the same state-store operator streaming
    uses; in batch it runs as a sort-based session aggregation). The
    oracle reproduces session boundaries with LAG + cumulative gap
    counting. user_id < 40 keeps the check focused and fast."""
    from ..sources import load_table

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 40)
    sessions = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )


@register(
    "streaming_sessionize_stateful",
    oracle=(
        # Same gap logic as the operator (strict > 1800s on floored
        # epoch seconds), restricted to definitely-closed sessions:
        # last event + gap strictly before the final watermark
        # (max ts − 2h) with a 1s guard band — the deterministic
        # emission contract the operator enforces by post-filter.
        "WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s "
        "FROM events WHERE user_id < 40), "
        "mx AS (SELECT MAX(s) AS max_s FROM ev), "
        "g AS (SELECT user_id, s, CASE WHEN LAG(s) OVER w IS NULL "
        "OR s - LAG(s) OVER w > 1800 THEN 1 ELSE 0 END AS brk FROM ev "
        "WINDOW w AS (PARTITION BY user_id ORDER BY s)), "
        "c AS (SELECT user_id, s, SUM(brk) OVER "
        "(PARTITION BY user_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS sess FROM g), "
        "sess AS (SELECT user_id, sess, MIN(s) AS session_start_s, "
        "MAX(s) AS session_end_s, CAST(COUNT(*) AS INT) AS n_events "
        "FROM c GROUP BY user_id, sess) "
        "SELECT user_id, session_start_s, session_end_s, n_events "
        "FROM sess, mx WHERE session_end_s + 1800 < max_s - 7200 - 1"
    ),
)
def streaming_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user sessionization with a 30-minute inactivity gap.

    State = the user's open session (start, last_ts, count). Each
    micro-batch merges new events into state, emits every session
    CLOSED by a gap inside the batch, keeps the trailing open session
    in state, and arms an event-time timeout at last_ts + gap; when
    the watermark passes it, the timeout branch emits the session.
    availableNow runs a final timer batch after the data, so emitted
    sessions = all sessions except those ending inside the trailing
    watermark window (max_ts - 2h) — exactly live-stream semantics,
    which the test pins against batch session_window output. Only
    users < 40 to bound state, mirroring sessionize_batch."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    GAP_S = 30 * 60
    ev = _events_stream(spark, sf_dir).filter(F.col("user_id") < 40).withWatermark(
        "ts", "2 hours"
    )

    def sessionize(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, last, cnt = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "session_start_s": [start],
                 "session_end_s": [last], "n_events": [cnt]}
            )
            return
        ts_list = []
        for pdf in pdf_iter:
            ts_list.extend((pdf["ts"].astype("int64") // 10**9).tolist())
        ts_list.sort()
        if state.exists:
            start, last, cnt = state.get
        else:
            start = last = cnt = None
        out = []
        for t in ts_list:
            if start is None:
                start, last, cnt = t, t, 1
            elif t - last > GAP_S:
                out.append((user_id, start, last, cnt))
                start, last, cnt = t, t, 1
            else:
                last, cnt = t, cnt + 1
        if start is not None:
            state.update((int(start), int(last), int(cnt)))
            state.setTimeoutTimestamp((int(last) + GAP_S) * 1000)
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "session_start_s", "session_end_s", "n_events"]
            )

    sessions = ev.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType="user_id bigint, session_start_s bigint, session_end_s bigint, n_events int",
        stateStructType="start bigint, last bigint, cnt int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    sink = _run_to_file_sink(sessions)
    # Deterministic emission contract: keep only sessions whose
    # event-time timeout (last + gap) fired STRICTLY before the final
    # watermark (max ts − 2h), with a 1s guard band — at the exact
    # boundary second, firing depends on sub-second watermark
    # arithmetic (see test_stateful_sessionize_matches_batch_closed
    # _sessions). Boundary sessions are withheld until the next poll,
    # the normal contract of an incremental session feed; the withheld
    # set is exactly the still-open trailing window.
    from ..sources import load_table as _lt

    wm = (
        _lt(spark, "events", sf_dir)
        .filter(F.col("user_id") < 40)
        .agg((F.max(F.unix_timestamp("ts")) - 2 * 3600).alias("wm_s"))
    )
    return (
        sink.crossJoin(F.broadcast(wm))
        .filter(F.col("session_end_s") + GAP_S < F.col("wm_s") - 1)
        .drop("wm_s")
    )


@register(
    "streaming_cdc_upsert_laketable",
    oracle=(
        # Keyed upsert replay: after streaming every event through
        # upsert_by_keys on user_id, the table holds exactly ONE row
        # per user — the LATEST event by (ts, event_id) — i.e. classic
        # CDC compaction semantics, recomputed here with a window.
        "SELECT user_id, event_id AS last_event_id, "
        "ROUND(value, 4) AS last_value FROM ("
        "SELECT user_id, event_id, value, "
        "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn "
        "FROM events WHERE user_id < 200) WHERE rn = 1"
    ),
)
def streaming_cdc_upsert_laketable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert INTO the catalog table: each micro-batch is
    reduced to its latest image per key (max_by over the batch) and
    committed via ``upsert_by_keys`` — one snapshot per batch holding
    the new images plus an equality-delete of their keys (Iceberg v2
    content=2, the Flink upsert-sink shape). No batch ever reads the
    table: upsert cost tracks the batch, not the table, which is what
    makes a 100 TB keyed sink sustainable. availableNow replays the
    whole source; the oracle recomputes last-writer-wins per key with
    a window over the same rows.

    Batches arrive in source order (a single file source here), so
    cross-batch recency is the batch order itself — exactly a CDC
    stream's arrival-order contract."""
    from ..catalog import LakeTable

    d = tempfile.mkdtemp(prefix="stream-cdc-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    t = LakeTable.create(
        spark, d + "/t",
        "user_id bigint, last_event_id bigint, last_value double, last_ts timestamp",
        partition_by=["bucket(8, user_id)"],
    )
    ev = _events_stream(spark, sf_dir).filter(F.col("user_id") < 200)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = (
            batch_df.groupBy("user_id").agg(
                F.max(F.struct("ts", "event_id", "value")).alias("m")
            )
            .select(
                "user_id",
                F.col("m.event_id").alias("last_event_id"),
                F.col("m.value").alias("last_value"),
                F.col("m.ts").alias("last_ts"),
            )
        )
        t.upsert_by_keys(latest, on=["user_id"])

    q = (
        ev.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", d + "/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return t.read().select(
        "user_id", "last_event_id", F.round("last_value", 4).alias("last_value")
    )


@register(
    "streaming_stream_stream_join",
    oracle=(
        # Batch replay of the interval-joined click→purchase pairs:
        # same user, purchase within 30 minutes AFTER the click.
        "WITH c AS (SELECT event_id, user_id, ts FROM events "
        "WHERE event_type = 'click' AND user_id < 30), "
        "p AS (SELECT event_id, user_id, ts FROM events "
        "WHERE event_type = 'purchase' AND user_id < 30) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, "
        "CAST(COUNT(DISTINCT c.event_id) AS BIGINT) AS matched_clicks, "
        "CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS matched_users "
        "FROM c JOIN p ON c.user_id = p.user_id "
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE"
    ),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join — the missing stateful shape after
    windowed agg / dedup / session windows: clicks join purchases of
    the same user within 30 minutes after the click, BOTH sides
    watermarked so the state store evicts rows the time bound can no
    longer match (Spark buffers each side keyed by user until the
    other side's watermark passes the interval). Joined pairs land in
    a parquet file sink; the batch check aggregates the sink against
    the equivalent batch interval join.

    At 100 TB the watermark bound is what makes this run at all:
    unwatermarked stream-stream joins grow state without limit, while
    this plan's state is (events in the last 30 minutes) per side."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "click") & (F.col("user_id") < 30))
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 30))
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    sink = _run_to_file_sink(pairs)
    return sink.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("c_event_id").alias("matched_clicks"),
        F.countDistinct("c_user_id").alias("matched_users"),
    )


@register(
    "streaming_ohlc_rollup",
    oracle=(
        # Batch OHLC restricted to watermark-finalized windows (end ≤
        # max ts − 2h), ties pre-reduced per exact ts like the batch
        # events_resample_ohlc oracle. The max ts is truncated to
        # MILLISECONDS to mirror Spark's watermark, which is computed
        # from ms-truncated event time — a window end falling inside
        # the truncated sub-millisecond must finalize on neither side.
        "WITH r AS (SELECT event_type, "
        "date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bh, "
        "CAST(ts AS TIMESTAMP) AS ts, "
        "arg_min(value, event_id) AS o_val, arg_max(value, event_id) AS c_val, "
        "SUM(value) AS sv, COUNT(*) AS cnt, MAX(value) AS hi, MIN(value) AS lo "
        "FROM events GROUP BY event_type, bh, ts) "
        "SELECT event_type, bh AS bucket_hour, "
        "ROUND(arg_min(o_val, ts), 4) AS open, ROUND(MAX(hi), 4) AS high, "
        "ROUND(MIN(lo), 4) AS low, ROUND(arg_max(c_val, ts), 4) AS close, "
        "CAST(SUM(cnt) AS BIGINT) AS volume, ROUND(SUM(sv), 2) AS total "
        "FROM r WHERE bh + INTERVAL 1 HOUR <= "
        "(SELECT date_trunc('milliseconds', MAX(CAST(ts AS TIMESTAMP))) "
        "FROM events) - INTERVAL 2 HOUR "
        "GROUP BY event_type, bucket_hour"
    ),
)
def streaming_ohlc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate version of ``events_resample_ohlc``:
    readStream → watermark(2h) → 1-hour tumbling windows with
    min_by/max_by open/close (struct tie-break, same as batch) →
    availableNow append into a parquet file sink. Append mode emits a
    bar only when the watermark passes its window end, so the sink IS
    the finalized OHLC table a live metrics store would serve; the
    oracle is the batch rollup restricted to finalized windows.

    Scale shape: state per (type, open-window) only — the stream's raw
    volume is absorbed by the same partial aggregation as batch, and
    each micro-batch writes finalized bars incrementally (this rollup
    + mv_incremental_maintenance are the two halves of a continuous
    aggregate: event-time finalization here, changelog-delta upkeep
    there)."""
    ev = _events_stream(spark, sf_dir)
    tie = F.struct("ts", "event_id")
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.round(F.min_by("value", tie), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", tie), 4).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("volume"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            "event_type", F.col("w.start").alias("bucket_hour"),
            "open", "high", "low", "close", "volume", "total",
        )
    )
    return _run_to_file_sink(agg)


@register(
    "streaming_multibatch_windowed",
    oracle=(
        # No late data (files are ts-ordered slices), so the finalized
        # windows must equal the batch aggregate up to the final
        # watermark cutoff — REGARDLESS of micro-batch boundaries.
        # multibatch_ok pins that the run really was 8 micro-batches.
        "SELECT date_trunc('hour', ts) AS window_start, event_type, "
        "COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value, "
        "TRUE AS multibatch_ok "
        "FROM events WHERE user_id < 120 "
        "AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= "
        "(SELECT date_trunc('milliseconds', MAX(ts)) FROM events "
        "WHERE user_id < 120) - INTERVAL 2 HOUR "
        "GROUP BY date_trunc('hour', ts), event_type"
    ),
)
def streaming_multibatch_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed aggregation across MANY micro-batches: the input is
    split into 8 ts-ordered files and streamed with
    ``maxFilesPerTrigger=1``, so the 1-hour window state must carry
    across 8 separate micro-batches, with the watermark advancing and
    append-mode flushing finalized windows incrementally as each
    batch lands. Every other streaming query here consumes one file =
    one batch; this one proves the INCREMENTAL half of the streaming
    contract — per-batch state commits, progressive watermark
    finalization, exactly-once accumulation — by requiring the
    multi-batch run to reproduce the single-shot batch aggregate
    exactly.

    Fixture prep (driver-side, not the operator): the slice is split
    by an ntile(8) over ts order — ts-ordered files mean no event is
    ever late for the watermark, which is what makes the oracle a
    pure batch GROUP BY. File arrival order is pinned via mtimes
    (Spark's file source processes oldest-first by default).

    At 100 TB this is exactly how a file-fed production stream runs:
    maxFilesPerTrigger bounds per-batch volume, state lives in the
    state store between batches, and the sink accumulates finalized
    windows append-only."""
    import glob

    from pyspark.sql.window import Window

    from ..sources import load_table

    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("user_id") < 120)
        .select("ts", "event_type", "value")
    )
    d = tempfile.mkdtemp(prefix="stream-multibatch-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    in_dir = d + "/in"
    os.makedirs(in_dir)
    # one write job for all 8 slices (partitionBy on the ntile key);
    # the post-window plan is single-partition, so each slice dir
    # holds exactly one part file
    sliced = ev.withColumn(
        "slice", F.ntile(8).over(Window.orderBy("ts", "event_type", "value"))
    )
    sliced.write.partitionBy("slice").parquet(d + "/slices")
    for i in range(1, 9):
        (src,) = glob.glob(f"{d}/slices/slice={i}/part-*.parquet")
        dst = f"{in_dir}/{i:02d}.parquet"
        shutil.move(src, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    raw = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    agg = (
        raw.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value")
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
    try:
        q = (
            agg.writeStream.format("parquet")
            .option("path", d + "/out")
            .option("checkpointLocation", d + "/ck")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        data_batches = sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    out = spark.read.schema(agg.schema).parquet(d + "/out")
    return out.withColumn("multibatch_ok", F.lit(data_batches == 8))


@register(
    "streaming_quarantine_gate",
    oracle=(
        # The gate is row-deterministic, so the split is pure SQL over
        # EVERY row — no WHERE pre-filter (ADVICE r4: the old oracle
        # silently excluded out-of-domain types, making the domain rule
        # vacuous). pass = in-domain AND non-NULL AND in-range;
        # everything else (unknown/NULL type, NULL value, out-of-range)
        # is quarantined — the two buckets partition the input exactly.
        "SELECT event_type, "
        "COUNT(CASE WHEN event_type IN "
        "('click','view','purchase','signup','error') "
        "AND value IS NOT NULL AND value >= 0 AND value <= 950 THEN 1 END) "
        "AS n_passed, "
        "COUNT(CASE WHEN event_type IS NULL OR event_type NOT IN "
        "('click','view','purchase','signup','error') "
        "OR value IS NULL OR value < 0 OR value > 950 THEN 1 END) "
        "AS n_quarantined "
        "FROM events GROUP BY event_type"
    ),
)
def streaming_quarantine_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch data-quality gate with a quarantine sink — the
    foreachBatch multi-sink split a production ingest runs: each
    micro-batch is validated row-by-row (domain, null, and range rules;
    `dq_expectation_suite` is the batch-level cousin), valid rows
    append to the publish sink, violations append to a quarantine
    sink WITH the rule name that caught them — nothing is dropped
    silently, and the quarantine is replayable after a rule fix.

    foreachBatch is the only way to fan one stream into two sinks
    with a shared scan; both writes happen inside the same batch
    epoch, so a crash replays the whole batch into both sinks
    (append-mode idempotence at the file level via the checkpoint).
    The returned summary re-reads BOTH sinks and re-joins them per
    event_type — a row lost by the gate would break the oracle's
    totals."""
    ev = _events_stream(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    d = tempfile.mkdtemp(prefix="stream-gate-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    good_dir, quar_dir = d + "/good", d + "/quarantine"

    # First-match rule chain; NULLs are handled EXPLICITLY (a bare
    # when(~between) lets a NULL value slide through as no-violation —
    # ADVICE r4): unknown/NULL type → domain violation, NULL value →
    # its own rule, then the range check on known-good input.
    _DOMAIN = ["click", "view", "purchase", "signup", "error"]
    rule = (
        F.when(
            F.col("event_type").isNull() | ~F.col("event_type").isin(_DOMAIN),
            F.lit("event_type_out_of_domain"),
        )
        .when(F.col("value").isNull(), F.lit("value_null"))
        .when(~F.col("value").between(0, 950), F.lit("value_out_of_range"))
    )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        checked = batch_df.withColumn("violation", rule)
        checked.filter(F.col("violation").isNull()).drop("violation") \
            .write.mode("append").parquet(good_dir)
        checked.filter(F.col("violation").isNotNull()) \
            .write.mode("append").parquet(quar_dir)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
    try:
        q = (
            ev.writeStream.foreachBatch(gate)
            .option("checkpointLocation", d + "/ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    good = spark.read.parquet(good_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_passed")
    )
    try:
        quar = spark.read.parquet(quar_dir).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_quarantined")
        )
    except Exception:  # no violations at this SF → empty quarantine
        quar = None
    out = (
        good.join(quar, "event_type", "full_outer") if quar is not None else
        good.withColumn("n_quarantined", F.lit(None).cast("bigint"))
    )
    return out.select(
        "event_type",
        F.coalesce("n_passed", F.lit(0)).alias("n_passed"),
        F.coalesce("n_quarantined", F.lit(0)).alias("n_quarantined"),
    )


@register(
    "streaming_struct_map_pipe",
    oracle=(
        # The piped curation table, flattened back to cells: every
        # aggregate reaches through a NESTED column (struct leaf, two
        # map lookups, an array element), so a value mismatch anywhere
        # in the python reader/writer's nested plumbing moves the hash.
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(n_chars) AS BIGINT) AS sum_chars, "
        "CAST(SUM(CAST(length(text) - length(replace(text, ' ', '')) + 1 "
        "  AS BIGINT)) AS BIGINT) AS sum_words, "
        "CAST(SUM(doc_id % 7) AS BIGINT) AS sum_sig "
        "FROM documents GROUP BY lang ORDER BY lang"
    ),
)
def streaming_struct_map_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """laketable→laketable STREAMING PIPE of the curation shape this
    repo itself builds — ``meta struct<lang,n>`` + ``tags
    map<string,bigint>`` + ``sig array<bigint>`` (VERDICT r12 item 3):
    documents reshape into a nested source table, an availableNow pipe
    streams it through the PYTHON source (Arrow batch read, id-based
    projection) and the PYTHON sink (executor-side parquet write,
    driver commit), and the report aggregates the DESTINATION table
    back to flat cells — every output column reaching through a nested
    value (struct leaf, map lookups, array element), read back through
    the python BATCH reader so both python legs sit on the verified
    path. The oracle recomputes the same cells straight from the
    source parquet.

    Scale: the pipe is embarrassingly parallel (one task per data
    file, no shuffle); exactly-once delivery and nested round-trip
    fidelity are pinned bit-exact in
    tests/test_table_source_struct_map.py."""
    from ..catalog import LakeTable
    from ..sources import load_table as _lt
    from .table_source import register_source

    register_source(spark)
    d = tempfile.mkdtemp(prefix="stream-structmap-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    ddl = ("doc_id bigint, meta struct<lang:string,n:bigint>, "
           "tags map<string,bigint>, sig array<bigint>")
    src = LakeTable.create(spark, d + "/src", ddl)
    dst = LakeTable.create(spark, d + "/dst", ddl)
    docs = _lt(spark, "documents", sf_dir)
    words = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    ).cast("bigint")
    nested = docs.select(
        "doc_id",
        F.struct(F.col("lang"), F.col("n_chars").alias("n")).alias("meta"),
        F.create_map(
            F.lit("chars"), F.col("n_chars"),
            F.lit("words"), words,
        ).alias("tags"),
        F.array(F.col("doc_id") % 7, F.col("n_chars") % 13).alias("sig"),
    )
    # two commits so the drain covers a multi-snapshot ancestry
    src.append(nested.filter(F.col("doc_id") % 2 == 0))
    src.append(nested.filter(F.col("doc_id") % 2 == 1))
    q = (
        spark.readStream.format("laketable").option("path", src.path)
        .load()
        .writeStream.format("laketable").option("path", dst.path)
        .trigger(availableNow=True)
        .option("checkpointLocation", d + "/ck").start()
    )
    q.awaitTermination()
    piped = spark.read.format("laketable").option("path", dst.path).load()
    return (
        piped.groupBy(F.col("meta.lang").alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.element_at("tags", "chars")).alias("sum_chars"),
            F.sum(F.element_at("tags", "words")).alias("sum_words"),
            F.sum(F.element_at("sig", 1)).alias("sum_sig"),
        )
        .orderBy("lang")
    )


@register(
    "streaming_cdc_nested_netting",
    oracle=(
        # The netted CoW feed is fully determined by the source slice:
        # the base commit inserts every document; the CoW update
        # rewrites files but only doc_id % 10 = 3 rows change (their
        # map value bumps by 1000), so the feed nets to exactly one
        # -D (old map) and one +I (new map) per changed row —
        # carried-over rows (struct/map/array-valued alike) cancel.
        # Every checksum reaches through a nested value (map lookups,
        # an array element), so a mis-netted or mis-rebuilt container
        # anywhere moves the hash. CASTs: DuckDB SUM(BIGINT)→HUGEINT.
        "SELECT CAST((SELECT COUNT(*) FROM documents) "
        "  + (SELECT COUNT(*) FROM documents WHERE doc_id % 10 = 3) "
        "  AS BIGINT) AS insert_rows, "
        "CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 10 = 3) "
        "  AS BIGINT) AS delete_rows, "
        "CAST((SELECT SUM(n_chars) FROM documents) "
        "  + (SELECT SUM(n_chars + 1000) FROM documents "
        "     WHERE doc_id % 10 = 3) AS BIGINT) AS sum_chars_inserts, "
        "CAST((SELECT SUM(doc_id % 7) FROM documents "
        "  WHERE doc_id % 10 = 3) AS BIGINT) AS sum_sig_deletes"
    ),
)
def streaming_cdc_nested_netting(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """CoW-CHANGELOG NETTING OVER NESTED COLUMNS through the driver
    gate (r14): a curation-shaped table (``tags map<string,bigint>``
    + ``sig array<bigint>``) takes a copy-on-write UPDATE that bumps
    one map value on a 10% slice; the ``laketable`` source's
    cdc/cow-changelog mode nets the rewrite across 4 hash buckets —
    map rows keyed by the canonical sorted-entry rendering, array
    rows by the in-order rendering, output containers rebuilt via the
    representative-row take — and the report checksums the feed
    THROUGH the nested values (map lookups on the insert side, an
    array element on the delete side). Carried-over rows must cancel
    exactly or the counts move; a mis-rebuilt container moves the
    sums.

    Scale: netting reads only the REWRITTEN file set (never the
    table), buckets bound worker memory, and the canonicalization is
    vectorized Arrow/numpy (one lexsort per file's map column) —
    probe: struct netting reads +2.1% over flat columns at 1M rows
    (BASELINE.md r13); the map/array rendering shares that spine."""
    from ..catalog import LakeTable
    from ..sources import load_table as _lt
    from .table_source import register_source

    register_source(spark)
    d = tempfile.mkdtemp(prefix="stream-nestnet-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    ddl = ("doc_id bigint, tags map<string,bigint>, sig array<bigint>")
    t = LakeTable.create(spark, d + "/t", ddl)
    docs = _lt(spark, "documents", sf_dir)
    words = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    ).cast("bigint")
    t.append(docs.select(
        "doc_id",
        F.create_map(
            F.lit("chars"), F.col("n_chars"),
            F.lit("words"), words,
        ).alias("tags"),
        F.array(F.col("doc_id") % 7, F.col("n_chars") % 13).alias("sig"),
    ))
    t.update(
        {"tags": "map('chars', element_at(tags, 'chars') + 1000, "
                 "'words', element_at(tags, 'words'))"},
        "doc_id % 10 = 3",
    )
    sink, ck = d + "/sink", d + "/ck"
    q = (
        spark.readStream.format("laketable").option("path", t.path)
        .option("mode", "cdc").option("cow-changelog", "true")
        .option("cdc-cow-buckets", "4").load()
        .writeStream.format("parquet").option("path", sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ck).start()
    )
    q.awaitTermination(300)
    feed = spark.read.parquet(sink)
    ins = F.col("_change_type") == "insert"
    return feed.agg(
        F.sum(ins.cast("long")).alias("insert_rows"),
        F.sum((~ins).cast("long")).alias("delete_rows"),
        F.sum(F.when(ins, F.element_at("tags", "chars")))
        .alias("sum_chars_inserts"),
        F.sum(F.when(~ins, F.element_at("sig", 1)))
        .alias("sum_sig_deletes"),
    )


@register(
    "streaming_cdc_binary_netting",
    oracle=(
        # The netted CoW feed is fully determined by the source slice:
        # the base commit inserts every document; the CoW update
        # rewrites files but only doc_id % 10 = 7 rows WITH a non-null
        # blob array change (a NUL byte is prepended to blob 1; rows
        # whose array is NULL — n_chars % 97 = 0 — rewrite unchanged
        # and must cancel). The match counts compare netted BYTES
        # against a recomputation from the source text, so a blob that
        # nets on a lossy rendering or rebuilds wrong moves them.
        # CASTs: DuckDB SUM/COUNT widen to HUGEINT.
        "WITH base AS (SELECT doc_id, text, lang, n_chars, "
        "  n_chars % 97 <> 0 AS has_blob, "
        "  doc_id % 10 = 7 AND n_chars % 97 <> 0 AS changed "
        "  FROM documents) "
        "SELECT "
        "CAST((SELECT COUNT(*) FROM base) "
        "  + (SELECT COUNT(*) FROM base WHERE changed) "
        "  AS BIGINT) AS insert_rows, "
        "CAST((SELECT COUNT(*) FROM base WHERE changed) "
        "  AS BIGINT) AS delete_rows, "
        # old first-blob bytes appear once per base insert of an
        # UNCHANGED row and once per -D of a changed row... plus the
        # base insert of the changed row itself: count(*ha blob) +
        # count(changed)
        "CAST((SELECT COUNT(*) FROM base WHERE has_blob) "
        "  + (SELECT COUNT(*) FROM base WHERE changed) "
        "  AS BIGINT) AS match_old_first, "
        "CAST((SELECT COUNT(*) FROM base WHERE changed) "
        "  AS BIGINT) AS match_new_first, "
        "CAST((SELECT SUM(octet_length(encode(substr(text, 1, 8)))) "
        "  FROM base WHERE has_blob) "
        "  + (SELECT SUM(octet_length(encode(substr(text, 1, 8))) + 1) "
        "  FROM base WHERE changed) AS BIGINT) AS sum_len_inserts"
    ),
)
def streaming_cdc_binary_netting(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """CoW-CHANGELOG NETTING OVER BINARY-IN-CONTAINER COLUMNS through
    the driver gate (r15): a multimodal-shaped table (``blobs
    array<binary>`` — opaque bytes + a text-derived prefix) takes a
    copy-on-write UPDATE that prepends a NUL byte to the first blob
    on a 10% slice; the ``laketable`` source's cdc/cow-changelog mode
    nets the rewrite across 4 hash buckets, keying binary elements by
    the length-prefixed raw-bytes rendering (no utf8 cast — NUL and
    invalid-utf8 bytes are first-class). NULL blob arrays on the
    slice rewrite unchanged and must cancel. The report joins the
    feed back to the source and counts BYTE-EXACT matches of the
    netted blobs against a recomputation from the text, so a lossy
    rendering or a wrong representative-row rebuild moves the counts,
    not just the row totals.

    Scale: identical spine to the nested-netting shape — only the
    rewritten file set is read, buckets bound worker memory, the
    rendering is one vectorized Arrow pass over the blob column; the
    join back to the source is for the CHECKSUM only (the feed is
    O(changed rows))."""
    from ..catalog import LakeTable
    from ..sources import load_table as _lt
    from .table_source import register_source

    register_source(spark)
    d = tempfile.mkdtemp(prefix="stream-binnet-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    ddl = "doc_id bigint, blobs array<binary>"
    t = LakeTable.create(spark, d + "/t", ddl)
    docs = _lt(spark, "documents", sf_dir)
    first = F.encode(F.substring("text", 1, 8), "UTF-8")
    t.append(docs.select(
        "doc_id",
        F.when(F.col("n_chars") % 97 != 0,
               F.array(first, F.encode("lang", "UTF-8"))).alias("blobs"),
    ))
    t.update(
        {"blobs": "CASE WHEN blobs IS NULL THEN NULL ELSE "
                  "array(concat(X'00', element_at(blobs, 1)), "
                  "element_at(blobs, 2)) END"},
        "doc_id % 10 = 7",
    )
    sink, ck = d + "/sink", d + "/ck"
    q = (
        spark.readStream.format("laketable").option("path", t.path)
        .option("mode", "cdc").option("cow-changelog", "true")
        .option("cdc-cow-buckets", "4").load()
        .writeStream.format("parquet").option("path", sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ck).start()
    )
    q.awaitTermination(300)
    feed = spark.read.parquet(sink).join(
        F.broadcast(docs.select("doc_id", "text")), "doc_id"
    )
    ins = F.col("_change_type") == "insert"
    b1 = F.element_at("blobs", 1)
    expect = F.encode(F.substring("text", 1, 8), "UTF-8")
    return feed.agg(
        F.sum(ins.cast("long")).alias("insert_rows"),
        F.sum((~ins).cast("long")).alias("delete_rows"),
        F.sum(F.when(b1 == expect, 1).cast("long"))
        .alias("match_old_first"),
        F.sum(F.when(b1 == F.concat(F.lit(b"\x00"), expect), 1)
              .cast("long")).alias("match_new_first"),
        F.sum(F.when(ins, F.octet_length(b1))).alias("sum_len_inserts"),
    )


@register(
    "streaming_cdc_mapkey_netting",
    oracle=(
        # Fully determined by the source slice: the base commit
        # inserts every document with a float-keyed feature map
        # (NULL where n_chars % 97 = 0; a NaN-keyed entry where
        # doc_id % 3 = 0); the CoW update increments every map VALUE
        # on the doc_id % 10 = 7 slice — rows rewritten unchanged
        # (incl. NaN-keyed maps and NULL maps) must cancel. Lookup
        # matches compare element_at by the float key, so a lossy key
        # rendering or wrong representative-row rebuild moves them.
        "WITH base AS (SELECT doc_id, n_chars, "
        "  n_chars % 97 <> 0 AS has_map, "
        "  doc_id % 10 = 7 AND n_chars % 97 <> 0 AS changed, "
        "  doc_id % 3 = 0 AS has_nan "
        "  FROM documents) "
        "SELECT "
        "CAST((SELECT COUNT(*) FROM base) "
        "  + (SELECT COUNT(*) FROM base WHERE changed) "
        "  AS BIGINT) AS insert_rows, "
        "CAST((SELECT COUNT(*) FROM base WHERE changed) "
        "  AS BIGINT) AS delete_rows, "
        "CAST((SELECT COUNT(*) FROM base WHERE has_map) "
        "  + (SELECT COUNT(*) FROM base WHERE changed) "
        "  AS BIGINT) AS match_old, "
        "CAST((SELECT COUNT(*) FROM base WHERE changed) "
        "  AS BIGINT) AS match_new, "
        "CAST((SELECT SUM(n_chars + doc_id "
        "    + CASE WHEN has_nan THEN 42 ELSE 0 END) "
        "  FROM base WHERE has_map) "
        "  + (SELECT SUM(n_chars + doc_id + 2 "
        "    + CASE WHEN has_nan THEN 43 ELSE 0 END) "
        "  FROM base WHERE changed) AS BIGINT) AS sum_vals_inserts"
    ),
)
def streaming_cdc_mapkey_netting(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """CoW-CHANGELOG NETTING OVER FLOAT-KEYED MAP COLUMNS through the
    driver gate (r15): a feature-map table (``feats
    map<double,bigint>`` — keys are a positive measurement, a
    negative bucket, and for a third of rows a NaN sentinel) takes a
    copy-on-write UPDATE that increments every map VALUE on a 10%
    slice; the ``laketable`` source's cdc/cow-changelog mode nets the
    rewrite across 4 hash buckets, sorting map entries by the
    recursively-RENDERED key bytes (r15 — the raw float key has no
    total sort order under NaN, and r14 refused it at planning time).
    NULL maps and NaN-keyed maps rewritten unchanged must cancel.
    The report joins the feed back to the source and counts
    element_at lookups BY THE FLOAT KEY against a recomputation from
    the source, so a lossy key rendering, a NaN/-0.0 mis-fold, or a
    wrong representative-row rebuild moves the counts.

    Scale: identical spine to the nested/binary netting shapes —
    only the rewritten file set is read, buckets bound worker
    memory, the rendering is one vectorized Arrow pass; the join
    back to the source is for the CHECKSUM only (the feed is
    O(changed rows))."""
    from ..catalog import LakeTable
    from ..sources import load_table as _lt
    from .table_source import register_source

    register_source(spark)
    d = tempfile.mkdtemp(prefix="stream-mapkeynet-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    ddl = "doc_id bigint, feats map<double,bigint>"
    t = LakeTable.create(spark, d + "/t", ddl)
    docs = _lt(spark, "documents", sf_dir)
    t.append(docs.select(
        "doc_id",
        F.expr(
            "CASE WHEN n_chars % 97 <> 0 THEN map_from_entries(filter("
            "array("
            "named_struct('key', CAST(n_chars AS DOUBLE), "
            "             'value', n_chars), "
            "named_struct('key', -1.0D * CAST(doc_id % 7 AS DOUBLE)"
            "                    - 1.0D, "
            "             'value', doc_id), "
            "CASE WHEN doc_id % 3 = 0 THEN "
            "named_struct('key', CAST('NaN' AS DOUBLE), "
            "             'value', CAST(42 AS BIGINT)) END"
            "), x -> x IS NOT NULL)) END"
        ).alias("feats"),
    ))
    t.update(
        {"feats": "CASE WHEN feats IS NULL THEN NULL ELSE "
                  "map_from_entries(transform(map_entries(feats), "
                  "e -> named_struct('key', e.key, "
                  "'value', e.value + CAST(1 AS BIGINT)))) END"},
        "doc_id % 10 = 7",
    )
    sink, ck = d + "/sink", d + "/ck"
    q = (
        spark.readStream.format("laketable").option("path", t.path)
        .option("mode", "cdc").option("cow-changelog", "true")
        .option("cdc-cow-buckets", "4").load()
        .writeStream.format("parquet").option("path", sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ck).start()
    )
    q.awaitTermination(300)
    feed = spark.read.parquet(sink).join(
        F.broadcast(docs.select("doc_id", "n_chars")), "doc_id"
    )
    ins = F.col("_change_type") == "insert"
    by_key = F.element_at("feats", F.col("n_chars").cast("double"))
    return feed.agg(
        F.sum(ins.cast("long")).alias("insert_rows"),
        F.sum((~ins).cast("long")).alias("delete_rows"),
        F.sum(F.when(by_key == F.col("n_chars"), 1).cast("long"))
        .alias("match_old"),
        F.sum(F.when(by_key == F.col("n_chars") + 1, 1).cast("long"))
        .alias("match_new"),
        F.sum(F.when(ins, F.aggregate(
            F.map_values("feats"), F.lit(0).cast("long"),
            lambda a, x: a + x,
        ))).alias("sum_vals_inserts"),
    )


@register(
    "streaming_interval_laketable",
    oracle=(
        # The piped interval table is fully determined by orders: per
        # order, iv = (days since 1995-01-01) days + (orderkey % 24)
        # hours, NULL where orderkey % 53 = 0. The report extracts
        # integer day/hour fields after BOTH python legs (source read
        # of JVM-written files; sink write; JVM-side aggregate of the
        # re-read), so a micros-vs-seconds reinterpretation anywhere
        # moves the sums by 1e6-scale amounts, not rounding noise.
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(iv_days) AS BIGINT) AS n_iv, "
        "CAST(SUM(iv_days) AS BIGINT) AS sum_days, "
        "CAST(SUM(iv_hours) AS BIGINT) AS sum_hours FROM ("
        "  SELECT o_orderkey, "
        "  CASE WHEN o_orderkey % 53 = 0 THEN NULL ELSE "
        "    date_diff('day', TIMESTAMP '1995-01-01 00:00:00', "
        "              o_orderdate) END AS iv_days, "
        "  CASE WHEN o_orderkey % 53 = 0 THEN NULL ELSE "
        "    o_orderkey % 24 END AS iv_hours "
        "  FROM orders) t"
    ),
)
def streaming_interval_laketable(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """ANSI DAY-TO-SECOND INTERVALS through the driver gate (r15): an
    interval column built from orders (whole days since the epoch of
    the fixture plus an orderkey-derived hour part, NULL on a slice)
    is appended to a laketable (JVM parquet write), piped
    laketable→laketable through the PYTHON source and sink
    (Arrow duration[us] both ways), and re-read via the python source
    for the report. The report extracts the integer DAY and HOUR
    fields — a micros-vs-seconds reinterpretation on any leg (the
    corruption class the r15 read-alignment fix pins) moves the sums
    by six orders of magnitude.

    Scale: the pipe is the standard streaming laketable spine
    (exactly-once offsets, executor-side parquet); intervals add one
    int64 column — no extra shuffle, no python-side per-row work."""
    from ..catalog import LakeTable
    from ..sources import load_table as _lt
    from .table_source import register_source

    register_source(spark)
    d = tempfile.mkdtemp(prefix="stream-interval-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    ddl = "o_orderkey bigint, iv interval day to second"
    src_t = LakeTable.create(spark, d + "/src", ddl)
    dst_t = LakeTable.create(spark, d + "/dst", ddl)
    orders = _lt(spark, "orders", sf_dir)
    src_t.append(orders.select(
        "o_orderkey",
        F.expr(
            "CASE WHEN o_orderkey % 53 = 0 THEN NULL ELSE "
            "make_dt_interval(CAST(datediff(o_orderdate, "
            "DATE '1995-01-01') AS INT), "
            "CAST(o_orderkey % 24 AS INT), 0, 0) END"
        ).alias("iv"),
    ))
    q = (
        spark.readStream.format("laketable").option("path", src_t.path)
        .load()
        .writeStream.format("laketable").option("path", dst_t.path)
        .trigger(availableNow=True)
        .option("checkpointLocation", d + "/ck").start()
    )
    q.awaitTermination(300)
    back = (
        spark.read.format("laketable").option("path", dst_t.path).load()
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("iv").alias("n_iv"),
        F.sum(F.expr("extract(DAY FROM iv)")).cast("bigint")
        .alias("sum_days"),
        F.sum(F.expr("extract(HOUR FROM iv)")).cast("bigint")
        .alias("sum_hours"),
    )
