"""Custom stateful streaming operator via applyInPandasWithState
(extension — SURVEY §2.B: the reference has no streaming of any kind).

Per-user running totals: state = (n_events, cents_total); each micro-batch
folds its rows into the state and emits the updated totals. This is the
operator shape Spark's built-in windowed aggregates can't express — an
arbitrary user-defined state transition — and the API the task spec names
for it (applyInPandasWithState).

Determinism note: money is folded as integer cents inside pandas, so the
emitted totals are independent of row order within a batch AND of how the
input is split into batches; the final row per user equals the batch
aggregate, which is what the DuckDB oracle checks.

Scale posture: state is keyed by user_id — Spark hash-partitions state
across executors; per-key state is two int64s, so 10^9 users ≈ 16 GB
cluster-wide, well inside RocksDB state-store territory. The watermark on
`ts` lets the engine age out idle keys via state timeout if desired.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from mapreduce_sm_spark.streaming.runner import run_memory
from mapreduce_sm_spark.streaming.windows import events_stream

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("cents_total", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _fold_user_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """State transition: fold this batch's rows into (n, cents) and emit
    the updated running totals for the key."""
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # integer cents: batch-order- and split-independent (see module doc)
        cents += int(pd.Series(pdf["value"] * 100).round().astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [cents / 100.0],
        }
    )


def stateful_user_totals(stream: DataFrame) -> DataFrame:
    """Per-user running (count, total) via arbitrary stateful processing."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _fold_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_user_totals(
    spark: SparkSession,
    events_parquet_path: str,
    query_name: str = "stateful_user_totals",
) -> DataFrame:
    """Drive the stateful operator over a closed parquet input with the
    availableNow trigger; returns the LAST update per user (= final state)."""
    # the file-stream source requires a directory: stream the parent with a
    # glob filter selecting just the events file
    base = os.path.dirname(events_parquet_path.rstrip("/"))
    leaf = os.path.basename(events_parquet_path.rstrip("/"))
    stream = events_stream(spark, base, glob=leaf)
    out = stateful_user_totals(stream)
    sink = run_memory(out, query_name, "update")
    # update mode emits one row per key per batch that touched it; the final
    # state per user is the row with the highest n_events (monotone fold).
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )
