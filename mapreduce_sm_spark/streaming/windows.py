"""Structured Streaming operators (extension — the reference is batch-only,
"sm" = shared memory, SURVEY §2.B).

The batch queries in operators/events.py define the window semantics; this
module runs the same logical plan under `readStream` with a watermark, so
batch and streaming answers coincide on a closed input (verified in
tests/test_streaming.py via the availableNow trigger).

Scale posture: stateful windowed aggregation keyed by (window, event_type);
watermark bounds state (late events beyond 1 hour are dropped); state store
is RocksDB-compatible on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_sm_spark.streaming.runner import (
    fixture_stream,
    memory_writer,
    run_closed,
    run_memory,
)


def events_stream(
    spark: SparkSession,
    events_parquet_dir: str,
    glob: str = "*.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming source over the events fixture that mirrors the batch
    path's timestamp handling (session.table(), session.py).

    readStream needs an explicit schema, and hard-coding one is how r03
    silently broke: the fixture moved from TIMESTAMP(NANOS) to
    timestamp[us], and a frozen LongType-ts schema plus a `ts DIV 1000`
    conversion collapsed every streamed timestamp to January 1970
    (VERDICT r3 item 4). Instead, take the schema from the footers
    (runner.fixture_stream) and apply the nanos->micros conversion only
    when the scanned dtype really is nanos-as-long — the exact guard the
    batch path uses."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = fixture_stream(
        spark,
        events_parquet_dir,
        glob,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
        max_files_per_trigger,
    )
    ts_dtype = dict(stream.dtypes)["ts"]
    if ts_dtype == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_dtype == "timestamp_ntz":
        # withWatermark requires TIMESTAMP (LTZ); session TZ is pinned UTC
        # (session.py) so the cast preserves the wall-clock instant
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def streaming_tumbling_counts(stream: DataFrame) -> DataFrame:
    """1-hour tumbling counts per event_type with a 1-hour watermark —
    the streaming twin of operators/events.py::tumbling_window."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n",
        )
    )


def streaming_sliding_counts(stream: DataFrame) -> DataFrame:
    """1-hour windows sliding by 30 min — streaming twin of
    operators/events.py::sliding_window."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n",
        )
    )


def streaming_session_counts(stream: DataFrame) -> DataFrame:
    """30-minute-gap session windows per user — streaming twin of
    operators/events.py::session_window. session_window is the stateful
    merge-on-overlap operator; the watermark closes sessions once no
    event can extend them."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
    )


def streaming_session_micros(stream: DataFrame) -> DataFrame:
    """30-minute-gap session windows per user, emitted as int64
    epoch-micros — the tie-free integer domain the r05 boundary sweep
    mandates for anything the exact driver hash sees (PLANS.md r05).

    Boundary semantics (verified empirically, Spark 4.1): an event at
    exactly prev_ts + gap MERGES into the running session (windows merge
    when they touch), and the emitted session end is last_ts + gap. The
    batch oracle must therefore break sessions on tsu > prev_tsu + gap
    (strict) and emit max(tsu) + gap as the end."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


def run_streaming_query(
    spark: SparkSession,
    events_parquet_dir: str,
    plan_fn,
    query_name: str,
    glob: str = "*.parquet",
) -> DataFrame:
    """Run any closed-input streaming plan with availableNow + complete
    mode into a memory sink and return the result table."""
    stream = events_stream(
        spark, events_parquet_dir, glob=glob, max_files_per_trigger=1
    )
    return run_memory(plan_fn(stream), query_name, "complete")


def streaming_click_purchase_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream inner join: each click joined to purchases by the
    same user within (0, 30min] AFTER the click. Both sides carry
    watermarks so the join state is bounded: a click older than
    watermark+30min can never match a future purchase and is evicted.
    This is the interval-join shape (the streaming twin of an as-of/range
    join) — state per key is O(events in the interval), not O(stream)."""
    c = clicks.withWatermark("ts", "1 hour").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.withWatermark("ts", "1 hour").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("amount"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "amount",
    )


def run_streaming_click_purchase_join(
    spark: SparkSession,
    events_parquet_dir: str,
    query_name: str = "ss_join",
    glob: str = "*.parquet",
) -> DataFrame:
    """Drive the stream-stream join over a closed input (append mode —
    stream-stream inner joins emit once per match). `glob` restricts the
    directory listing (pass "events.parquet" when the dir holds other
    tables)."""
    clicks = events_stream(spark, events_parquet_dir, glob=glob).filter(
        F.col("event_type") == "click"
    )
    purchases = events_stream(spark, events_parquet_dir, glob=glob).filter(
        F.col("event_type") == "purchase"
    )
    return run_memory(
        streaming_click_purchase_join(clicks, purchases), query_name, "append"
    )


def run_foreach_batch_parquet(
    spark: SparkSession,
    events_parquet_dir: str,
    out_dir: str,
    query_name: str = "febatch",
) -> None:
    """foreachBatch sink: per-micro-batch custom write with exactly-once
    semantics — each batch lands in a batchId-named subdirectory, so a
    replayed batch overwrites its own output instead of duplicating
    (idempotent-by-path, the standard foreachBatch pattern when the
    target isn't transactional)."""
    stream = events_stream(spark, events_parquet_dir, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    run_closed(
        agg.writeStream.foreachBatch(_write)
        .outputMode("complete")
        .queryName(query_name),
        query_name,
    )


def run_streaming_dedup_counts(
    spark: SparkSession,
    events_parquet_dir: str,
    query_name: str = "stream_dedup",
    glob: str = "*.parquet",
) -> DataFrame:
    """Streaming exact dedup: the input is deliberately DOUBLED (the same
    file read by two stream sources, unioned) and
    dropDuplicatesWithinWatermark(event_id) must remove the copies. State
    is bounded by the watermark — a dedup key older than 1 hour of event
    time is evicted, which is the only way streaming dedup survives an
    unbounded stream (plain dropDuplicates would accumulate forever).
    Returns the deduped rows from the memory sink (append mode).

    CORRECTNESS PRECONDITION: both copies of an event_id must reach state
    before watermark eviction, which holds when the whole input lands in
    one micro-batch (the fixture: one file per source, availableNow, no
    maxFilesPerTrigger). If the source ever split files across batches AND
    event times spanned more than the watermark, a late second copy could
    leak past its evicted key; the post-run assertion below makes that
    failure loud instead of a nondeterministic hash mismatch."""
    doubled = events_stream(spark, events_parquet_dir, glob=glob).unionAll(
        events_stream(spark, events_parquet_dir, glob=glob)
    )
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = run_closed(
        memory_writer(
            deduped.select("event_id", "user_id", "event_type", "value"),
            query_name,
            "append",
        ),
        query_name,
    )
    data_batches = [
        p for p in q.recentProgress if p.get("numInputRows", 0) > 0
    ]
    if len(data_batches) > 1:
        raise RuntimeError(
            "stream_dedup precondition violated: input spanned "
            f"{len(data_batches)} micro-batches; dedup keys may have been "
            "evicted before their duplicate arrived (widen the watermark "
            "past the event-time span or feed a single batch)"
        )
    return spark.table(query_name)
