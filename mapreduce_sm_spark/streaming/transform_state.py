"""Arbitrary stateful streaming via transformWithStateInPandas — the
Spark 4 successor to applyInPandasWithState (extension; the reference has
no streaming of any kind — SURVEY §2.B).

Where applyInPandasWithState exposes one opaque state tuple per key,
transformWithState gives the processor a HANDLE with typed, named state
variables (value/list/map state), timers, and TTL — the API surface for
non-trivial streaming operators (sessionization, CDC folds, per-key
models). Here the operator keeps a per-user profile (count, integer-cent
total, integer-cent max) — deterministic under any batch split, so the
final emitted row per key equals the batch aggregate the oracle computes.

Scale posture: state lives in the RocksDB state store (required by
transformWithState and the right choice past ~10M keys/executor anyway);
per-key state is three int64s. Output mode "Update" emits one row per key
per touching batch; with availableNow + a closed input, that is exactly
one final row per key.

GATED: transformWithState's Python worker protocol needs the `protobuf`
package, which this container does not ship (pip installs are off-limits),
so the operator is not in the driver registry; tests/test_streaming.py
runs it skipif-guarded, the same pattern as the Pillow image codec. The
registered applyInPandasWithState query (stream_stateful_user_totals)
covers the arbitrary-stateful contract in-container.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from mapreduce_sm_spark.streaming.runner import run_memory
from mapreduce_sm_spark.streaming.windows import events_stream

PROFILE_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)


class UserProfileProcessor(StatefulProcessor):
    """Per-user (count, cent-total, cent-max) fold with named value state."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._agg = handle.getValueState(
            "agg", "n BIGINT, cents BIGINT, max_cents BIGINT"
        )

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        n, cents, max_cents = (
            self._agg.get() if self._agg.exists() else (0, 0, None)
        )
        for pdf in rows:
            if len(pdf) == 0:
                continue
            c = pd.Series(pdf["value"] * 100).round().astype("int64")
            n += len(pdf)
            cents += int(c.sum())
            batch_max = int(c.max())
            max_cents = (
                batch_max if max_cents is None else max(max_cents, batch_max)
            )
        self._agg.update((n, cents, max_cents))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_events": [n],
                "total_value": [cents / 100.0],
                "max_value": [max_cents / 100.0],
            }
        )

    def close(self) -> None:
        pass


def run_user_profile(
    spark: SparkSession,
    events_parquet_path: str,
    query_name: str = "tws_user_profile",
) -> DataFrame:
    """Drive the transformWithState operator over a closed parquet input
    (availableNow); returns the final emitted row per user."""
    # transformWithState requires the RocksDB state store provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    base = os.path.dirname(events_parquet_path.rstrip("/"))
    leaf = os.path.basename(events_parquet_path.rstrip("/"))
    stream = events_stream(spark, base, glob=leaf)
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserProfileProcessor(),
        outputStructType=PROFILE_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    sink = run_memory(out, query_name, "update")
    # update mode: one row per key per touching batch; the final state has
    # the maximal n_events (monotone fold)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value", "max_value")
    )


def have_protobuf() -> bool:
    """True when the transformWithState Python worker can run (its state
    protocol serializes via google.protobuf)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False
