"""Streaming Count-Min sketch build via applyInPandasWithState over the
RocksDB state store — the sketch family's mergeability claim proven WHERE
it matters, across micro-batches of a stateful stream (extension; the
reference, /root/reference/src/mapreduce.c, has no streaming of any kind
— SURVEY §2.B).

The batch Count-Min (operators/sketches.py) argues its cells are
mergeable partials: cell(j, b) is a plain count, and counts add. This
module makes the argument a measured equality instead of a comment: the
stream keys every token occurrence to its d hash-row cells (a STATELESS
fan-out, so it composes in front of the stateful operator), folds a
per-cell running count in keyed state, and the registered contract query
(operators/sketches.py::stream_countmin_equality) asserts the final
streamed state is CELL-FOR-CELL IDENTICAL to the batch-built sketch on
the same documents — under whatever batch split the availableNow trigger
chose. Addition is associative-commutative over any partition of the
input, so equality is a theorem; the stream run checks the machinery
(state round-trips through RocksDB, update-mode emission, final-state
extraction), not luck.

Scale posture: state cardinality is bounded by the sketch GEOMETRY —
at most d*w cells no matter how many tokens stream through — so this is
the rare stateful operator whose state cannot grow with the data. The
RocksDB provider (set in run_stream_countmin) is the store a real
cluster would run; per-cell state is one int64.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from mapreduce_sm_spark.streaming.runner import fixture_stream, run_memory

CELL_STATE_SCHEMA = StructType([StructField("cnt", LongType())])

CELL_OUTPUT_SCHEMA = StructType(
    [
        StructField("j", IntegerType()),
        StructField("b", LongType()),
        StructField("cnt", LongType()),
    ]
)


def _fold_cell_count(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """State transition for one (j, b) cell: add this batch's occurrence
    count. Integer addition — batch-split- and order-independent."""
    (cnt,) = state.get if state.exists else (0,)
    for pdf in pdfs:
        cnt += len(pdf)
    state.update((cnt,))
    yield pd.DataFrame(
        {"j": [int(key[0])], "b": [int(key[1])], "cnt": [cnt]}
    )


def run_stream_countmin(
    spark: SparkSession,
    sf_dir: str,
    w: int,
    d: int,
    query_name: str,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Build the d*w Count-Min sketch by STREAMING the documents fixture;
    returns the final (j, b, cnt) cell table.

    The token->cell fan-out mirrors operators/sketches.py::_cm_cells
    bit-for-bit (same xxhash64(token, w, j) bucketing), so the streamed
    state and the batch sketch count the same thing.
    """
    from mapreduce_sm_spark.functions.text import tokenize_words

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = fixture_stream(
        spark, sf_dir, glob, "text string", max_files_per_trigger
    )
    toks = stream.select(F.explode(tokenize_words("text")).alias("token"))
    j = F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("j")
    cells = toks.select("token", j).select(
        "j",
        F.pmod(F.xxhash64("token", F.lit(w), F.col("j")), F.lit(w)).alias("b"),
    )
    out = cells.groupBy("j", "b").applyInPandasWithState(
        _fold_cell_count,
        outputStructType=CELL_OUTPUT_SCHEMA,
        stateStructType=CELL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_memory(out, query_name, "update")
    # update mode: one row per cell per touching batch; the fold is
    # monotone non-decreasing, so the final state is the max per cell.
    return sink.groupBy("j", "b").agg(F.max("cnt").alias("cnt"))


__all__ = [
    "CELL_OUTPUT_SCHEMA",
    "CELL_STATE_SCHEMA",
    "run_stream_countmin",
]
