"""Registry entries that drive the REAL Structured Streaming engine
(readStream -> stateful op -> availableNow -> sink, streaming/runner.py)
and surface the final answer as a DataFrame, so the DuckDB oracle gate
covers the streaming path end-to-end — not just a batch twin of its logic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_sm_spark.registry import REGISTRY
from mapreduce_sm_spark.streaming.runner import sink_name

_STATEFUL_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       (CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR))::DOUBLE AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@REGISTRY.register(
    "stream_stateful_user_totals",
    oracle=_STATEFUL_ORACLE,
    description="applyInPandasWithState per-user running totals (real streaming run)",
    tags=("streaming", "stateful", "pandas-udf"),
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.streaming.stateful import run_stateful_user_totals

    # unique sink name per sf_dir: repeated runs must not collide
    qname = sink_name("stateful_totals_", sf_dir)
    return run_stateful_user_totals(
        spark, os.path.join(sf_dir, "events.parquet"), query_name=qname
    ).orderBy("user_id")


_SS_JOIN_ORACLE = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id AS user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       p.value AS amount
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
ORDER BY click_id, purchase_id
"""


@REGISTRY.register(
    "stream_interval_join",
    oracle=_SS_JOIN_ORACLE,
    description="stream-stream interval join (clicks->purchases within 30min), real streaming run",
    tags=("streaming", "join", "interval"),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.streaming.windows import (
        run_streaming_click_purchase_join,
    )

    qname = sink_name("ss_join_", sf_dir)
    return run_streaming_click_purchase_join(
        spark, sf_dir, qname, glob="events.parquet"
    ).orderBy("click_id", "purchase_id")


# Session boundary test in int64 epoch-MICROS on both engines (the r05
# boundary discipline — behavioral.py's dedup_events_time_window comment
# explains the dtype-drift rationale). Spark's session_window MERGES an
# event landing exactly at prev + gap (verified empirically — see
# streaming/windows.py::streaming_session_micros), so the oracle breaks
# sessions strictly: tsu > prev_tsu + 1800000000.
_SESSION_WINDOW_ORACLE = """
WITH seq AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                   > lag(epoch_us(CAST(ts AS TIMESTAMP)))
                       OVER (PARTITION BY user_id
                             ORDER BY epoch_us(CAST(ts AS TIMESTAMP)))
                     + 1800000000
                   OR lag(epoch_us(CAST(ts AS TIMESTAMP)))
                       OVER (PARTITION BY user_id
                             ORDER BY epoch_us(CAST(ts AS TIMESTAMP)))
                      IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM events
),
sess AS (
  SELECT user_id, tsu,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY tsu
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM seq
)
SELECT user_id,
       min(tsu) AS session_start_us,
       max(tsu) + 1800000000 AS session_end_us,
       count(*) AS n_events
FROM sess
GROUP BY user_id, session_no
ORDER BY user_id, session_start_us
"""


@REGISTRY.register(
    "stream_session_windows",
    oracle=_SESSION_WINDOW_ORACLE,
    description="session_window(30 min gap) per user, real streaming run, epoch-micros output",
    tags=("streaming", "session", "window"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.streaming.windows import (
        run_streaming_query,
        streaming_session_micros,
    )

    qname = sink_name("ss_session_", sf_dir)
    return run_streaming_query(
        spark,
        sf_dir,
        streaming_session_micros,
        qname,
        glob="events.parquet",
    ).orderBy("user_id", "session_start_us")


_STREAM_DEDUP_ORACLE = """
SELECT event_type,
       count(*) AS n_deduped,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@REGISTRY.register(
    "stream_dedup_events",
    oracle=_STREAM_DEDUP_ORACLE,
    description="dropDuplicatesWithinWatermark over a doubled stream (real streaming run)",
    tags=("streaming", "dedup"),
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup twin of dedup_exact: the stream is the events file
    unioned with itself (every row duplicated); watermark-bounded dedup on
    event_id must reduce it back to the original — the oracle is the plain
    batch aggregate of the ORIGINAL events table, so any surviving
    duplicate (or dropped original) fails the hash."""
    from pyspark.sql import functions as F

    from mapreduce_sm_spark.streaming.windows import run_streaming_dedup_counts

    qname = sink_name("stream_dedup_", sf_dir)
    deduped = run_streaming_dedup_counts(
        spark, sf_dir, qname, glob="events.parquet"
    )
    # integer-cents emission (drift discipline, PLANS.md r05): value is a
    # 2-decimal fixture quantity, so scale-0 round(x*100) is tie-free and
    # the summed int64 is bit-identical in both engines — unlike a
    # double->DECIMAL(18,2) cast, whose exact-expansion HALF_UP rounding
    # is an engine-specific channel (ADVICE r05).
    return (
        deduped.groupBy("event_type")
        .agg(
            F.count("*").alias("n_deduped"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "value_cents"
            ),
        )
        .orderBy("event_type")
    )


_STREAM_STATIC_ORACLE = """
SELECT c.c_mktsegment,
       count(*) AS n_events,
       CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@REGISTRY.register(
    "stream_static_enrich",
    oracle=_STREAM_STATIC_ORACLE,
    description="stream-static broadcast join: events stream enriched by the customer dim (real streaming run)",
    tags=("streaming", "join", "broadcast"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enrichment shape every event pipeline runs: an unbounded fact
    stream joined to a bounded dimension. The dimension is broadcast, so
    each micro-batch joins map-side with NO shuffle of the stream — the
    only plan that holds up when the stream side is the 100 TB one. The
    aggregate after the join keeps streaming state bounded at one row per
    segment. Emission: tie-free integer cents (drift discipline,
    PLANS.md r05 — the former decimal(18,2) cast was an engine-specific
    HALF_UP channel, ADVICE r05)."""
    from pyspark.sql import functions as F

    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.streaming.windows import run_streaming_query

    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )

    def plan(stream: DataFrame) -> DataFrame:
        return (
            stream.join(
                F.broadcast(cust),
                stream["user_id"] == cust["c_custkey"],
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                    "value_cents"
                ),
            )
        )

    qname = sink_name("stream_static_", sf_dir)
    return run_streaming_query(
        spark, sf_dir, plan, qname, glob="events.parquet"
    ).orderBy("c_mktsegment")


_SINK_ROUNDTRIP_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@REGISTRY.register(
    "stream_sink_roundtrip",
    oracle=_SINK_ROUNDTRIP_ORACLE,
    description="custom Python streaming SINK: exactly-once jsonlog commit protocol round trip",
    tags=("streaming", "datasource", "sink", "roundtrip"),
)
def stream_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth custom-connector quadrant (stream WRITE — refmr covers
    batch read/write, eventgen covers stream read): the events stream
    exits through the jsonlog DataSourceStreamWriter's temp-file ->
    rename -> marker-last commit protocol, and the aggregate is computed
    from the MARKER-GATED read-back — so a lost batch, an uncommitted
    temp leaking into the read side, or a double-published replay all
    change the counts and fail the exact hash."""
    from pyspark.sql import functions as F

    from mapreduce_sm_spark.session import register_data_source, session_tmpdir
    from mapreduce_sm_spark.sources.jsonlog_sink import (
        JsonLogDataSource,
        committed_files,
    )
    from mapreduce_sm_spark.streaming.runner import run_closed
    from mapreduce_sm_spark.streaming.windows import events_stream

    register_data_source(spark, JsonLogDataSource)
    # a fresh dir per run: collision-free under concurrent runs (a fixed
    # per-sf_dir path + rmtree-on-entry would let one run destroy
    # another's in-flight sink/checkpoint), reclaimed at process exit
    base = session_tmpdir("jsonlog_" + sink_name("rt_", sf_dir))
    out_dir, ckpt = os.path.join(base, "log"), os.path.join(base, "ckpt")
    stream = events_stream(
        spark, sf_dir, glob="events.parquet", max_files_per_trigger=1
    ).select("event_id", "event_type", "value")
    run_closed(
        stream.writeStream.format("jsonlog")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append"),
        "stream_sink_roundtrip",
    )
    schema = "event_id long, event_type string, value double"
    files = committed_files(out_dir)
    # an empty source commits no batch: read an empty frame of the same
    # schema instead of handing json() an empty path list
    back = (
        spark.read.schema(schema).json(files)
        if files
        else spark.createDataFrame([], schema)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.round(F.col("value") * 100, 0).cast("long")
            ).alias("value_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# STREAMING ingest scrub — the Bloom filter family's production shape,
# actually streaming: yesterday's key filter (here: BUILDING-segment
# customers) broadcast into TODAY'S event stream; every micro-batch row
# pays one codegen'd map probe, only probe SURVIVORS reach the exact
# broadcast re-check join, and the per-type rollup is exact because the
# re-check is (Bloom's no-false-negative theorem makes the prune
# lossless; its false positives are killed by the join). The full-hash
# oracle is the plain batch semi-join — equality proves the streamed
# prune+verify pipeline dropped and double-counted nothing under
# whatever micro-batch split availableNow chose.
#
# 100 TB posture: the stream side never shuffles on the join key (both
# the 1-row filter attach and the re-check are broadcast joins); state
# is the complete-mode rollup's <=|event_type| rows.
# ---------------------------------------------------------------------------

_STREAM_BLOOM_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS member_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS member_value_cents
FROM events
WHERE user_id IN (SELECT c_custkey FROM customer
                  WHERE c_mktsegment = 'BUILDING')
GROUP BY event_type
ORDER BY event_type
"""


@REGISTRY.register(
    "stream_bloom_scrub_events",
    oracle=_STREAM_BLOOM_ORACLE,
    description="streaming ingest scrub: broadcast Bloom probe + exact re-check inside the stream equals the batch semi-join",
    tags=("streaming", "sketch", "bloom", "join", "scale"),
)
def stream_bloom_scrub_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, (member_events, member_value_cents) of the
    scrubbed stream — exact, hash-checked against the batch semi-join
    (distinct aggregates are unsupported in streaming, so the second
    exact column is the integer-cents value total)."""
    from mapreduce_sm_spark.functions.bloom import bloom_build, bloom_might_contain
    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.streaming.windows import run_streaming_query

    dim = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    # "yesterday's" filter: built once, batch-side, 1 row + geometry
    bloom = bloom_build(dim, "c_custkey").withColumn("one", F.lit(1))
    dim_b = F.broadcast(dim.withColumnRenamed("c_custkey", "k"))

    def plan(stream: DataFrame) -> DataFrame:
        probed = (
            stream.withColumn("one", F.lit(1))
            # stream-static broadcast equi-join on a constant key: the
            # supported way to attach the 1-row filter to every stream row
            .join(F.broadcast(bloom), "one")
            .filter(
                bloom_might_contain(
                    F.col("user_id"),
                    F.col("bloom"),
                    stored_geometry=(F.col("m_bits"), F.col("seeds")),
                )
            )
        )
        verified = probed.join(dim_b, probed.user_id == F.col("k"), "inner")
        return verified.groupBy("event_type").agg(
            F.count("*").alias("member_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "member_value_cents"
            ),
        )

    qname = sink_name("bloom_scrub_", sf_dir)
    return run_streaming_query(
        spark, sf_dir, plan, qname, glob="events.parquet"
    ).orderBy("event_type")
