"""Streaming exact-distinct bitmap build via applyInPandasWithState over
the RocksDB state store — the second member of the streaming-mergeability
trilogy (extension; the reference, /root/reference/src/mapreduce.c, has
no streaming of any kind — SURVEY §2.B).

Count-Min's streamed-equals-batch contract (sketch_stream.py) proved the
"counts add" half of the sketch family's merge laws. This module proves
the "bitmaps OR" half: the state for one (event_type, bucket) cell is a
fixed 4096-byte bitmap; each micro-batch ORs its positions in; and the
registered contract (operators/sketches.py::stream_bitmap_equality)
asserts the final streamed cells are bit-for-bit identical to the cells
a batch pass builds over the same events — under whatever batch split
the availableNow trigger chose. Bitwise OR is associative, commutative,
and idempotent over any partition of the input, so equality is a
theorem; the stream run checks the machinery (binary state round-trips
through RocksDB, update-mode emission, final-state extraction), not
luck.

The third family member is documented, not proven, because it is
honestly impossible: Misra-Gries partials are mergeable as SUMMARIES
(pairwise merge + decrement keeps the frequency-error bound) but the
retained CANDIDATE SET depends on the partition/batch order, so a
streamed MG will not, in general, equal the batch MG cell-for-cell —
see the asymmetry note at the Misra-Gries section of
operators/sketches.py.

Scale posture: state per key is EXACTLY 4096 bytes regardless of how
many events stream through it (the position domain is the geometry, as
with Count-Min's d*w cells); key cardinality is #event_types x occupied
buckets, i.e. proportional to distinct users / 32768, not to events.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mapreduce_sm_spark.streaming.runner import fixture_stream, run_stateful_sink

BITMAP_BYTES = 4096
BITMAP_BITS = BITMAP_BYTES * 8  # 32768 positions per bucket

BITMAP_STATE_SCHEMA = StructType([StructField("bm", BinaryType())])


def bucket_and_pos(col: str):
    """(bucket, pos) columns with FLOOR-division semantics so that
    bucket * BITMAP_BITS + pos == id for NEGATIVE ids too. A truncating
    `div` paired with the always-non-negative pmod is inconsistent below
    zero — id -5 would land in (bucket 0, pos 32763) and collide with
    id 32763 — and diverges from the DuckDB oracle's floor `//`.
    (id - pmod(id, B)) is an exact multiple of B, so the div is exact."""
    pos = F.pmod(col, F.lit(BITMAP_BITS)).cast("long")
    bucket = F.expr(
        f"({col} - pmod({col}, {BITMAP_BITS})) div {BITMAP_BITS}"
    ).cast("long")
    return bucket.alias("bucket"), pos.alias("pos")

BITMAP_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("bucket", LongType()),
        StructField("n_bits", LongType()),
        StructField("bits_md5", StringType()),
    ]
)


def bits_md5_py(positions) -> str:
    """Canonical content hash of a set of bit positions: md5 over the
    comma-joined ascending decimal list — chosen because the BATCH side
    can compute the identical value in pure Spark SQL
    (md5(concat_ws(',', array_sort(collect_set(pos))))), making
    streamed-vs-batch cell equality checkable on (count, content-hash)
    without replicating any engine-internal bitmap byte layout."""
    return hashlib.md5(
        ",".join(str(int(p)) for p in positions).encode()
    ).hexdigest()


def _fold_bucket_bitmap(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """State transition for one (event_type, bucket) cell: OR this
    batch's position bits into the fixed-size bitmap. LSB-first packing
    (bit p lives at byte p//8, bit p%8) so np.unpackbits(bitorder=
    'little') enumerates set positions in ascending order."""
    if state.exists:
        bm = np.frombuffer(state.get[0], dtype=np.uint8).copy()
    else:
        bm = np.zeros(BITMAP_BYTES, dtype=np.uint8)
    for pdf in pdfs:
        pos = pdf["pos"].to_numpy(dtype=np.int64)
        # bitwise_or.at, NOT bm[idx] |= mask: fancy-assignment collapses
        # duplicate byte indices within one batch and would drop bits
        np.bitwise_or.at(bm, pos // 8, (1 << (pos % 8)).astype(np.uint8))
    state.update((bm.tobytes(),))
    set_bits = np.nonzero(np.unpackbits(bm, bitorder="little"))[0]
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "bucket": [int(key[1])],
            "n_bits": [int(set_bits.size)],
            "bits_md5": [bits_md5_py(set_bits)],
        }
    )


def run_stream_bitmap(
    spark: SparkSession,
    sf_dir: str,
    query_name: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    checkpoint_location: str | None = None,
) -> DataFrame:
    """Build per-(event_type, bucket) user bitmaps by STREAMING the events
    fixture; returns the final (event_type, bucket, n_bits, bits_md5)
    cell table.

    Bucketing is floor-div/mod 32768 (bucket_and_pos — floor semantics
    match the DuckDB oracle's // and stay collision-free for negative
    ids), the same split the contract's batch side uses; Spark's own
    1-based bitmap_bucket_number is checked separately via bitmap_count
    on the batch side."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = fixture_stream(
        spark,
        sf_dir,
        glob,
        "event_type string, user_id long",
        max_files_per_trigger,
    )
    cells = stream.select("event_type", *bucket_and_pos("user_id"))
    out = cells.groupBy("event_type", "bucket").applyInPandasWithState(
        _fold_bucket_bitmap,
        outputStructType=BITMAP_OUTPUT_SCHEMA,
        stateStructType=BITMAP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_stateful_sink(out, query_name, checkpoint_location)
    # update mode: one row per cell per touching batch. A bitmap only
    # gains bits, so the final state is the row with max n_bits — and on
    # an n_bits tie the SETS are equal (monotone growth: superset with
    # equal count is equality), so bits_md5 is unambiguous.
    return sink.groupBy("event_type", "bucket").agg(
        F.max("n_bits").alias("n_bits"),
        F.expr("max_by(bits_md5, n_bits)").alias("bits_md5"),
    )


__all__ = [
    "BITMAP_BITS",
    "BITMAP_BYTES",
    "BITMAP_OUTPUT_SCHEMA",
    "BITMAP_STATE_SCHEMA",
    "bits_md5_py",
    "run_stream_bitmap",
    "bucket_and_pos",
]
