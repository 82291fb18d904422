"""Streaming bottom-k rank sketch via applyInPandasWithState over the
RocksDB state store — the THIRD proven member of the streaming-
mergeability trilogy (extension; the reference has no streaming —
SURVEY §2.B).

Count-Min proved "counts add" (sketch_stream.py); the bitmap proved
"bitmaps OR" (bitmap_stream.py); this proves "bottom-k is a
min-structure": keeping the k smallest (h, key) rows is associative,
commutative, and idempotent over any partition of the input — merging
per-batch bottom-k's and truncating to k reaches the same synopsis as
one batch pass, so streamed == batch is a theorem and the contract
query (operators/sketches.py::stream_quantile_equality) measures the
machinery: array-valued state round-trips through RocksDB, update-mode
emission, final-state extraction, shard merge. This closes the loop on
the batch quantile synopsis (quantile_sketch_order_price): the sketch a
stream maintains incrementally is BIT-IDENTICAL to the one a batch job
builds, which is what lets a 100 TB pipeline serve quantiles from a
continuously-maintained k-row table.

SHARDED fold (the merge law put to work, not just asserted): a single
global state group would funnel every row through one stateful
partition — measured 3.0x wall for 10x rows in the first cut. Instead
the stream keys state by h % BOTTOMK_SHARDS; each shard keeps its own
bottom-k, and the k smallest over the union of the final shard
synopses IS the global bottom-k (any row in the global bottom-k is in
the bottom-k of its own shard — the identical argument that makes the
sketch per-node mergeable in batch). State is <= SHARDS * k rows of
three int64s regardless of volume; the fold parallelizes across the
state-store partitions.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from mapreduce_sm_spark.streaming.runner import fixture_stream, run_stateful_sink

BOTTOMK_SHARDS = 32

BOTTOMK_STATE_SCHEMA = StructType(
    [
        StructField("hs", ArrayType(LongType())),
        StructField("ks", ArrayType(LongType())),
        StructField("cs", ArrayType(LongType())),
        StructField("batch_seq", LongType()),
    ]
)

# per-shard emission: the shard's current synopsis ROWS (not a digest —
# the global merge needs the rows; digests are computed after the merge,
# identically on the streamed and batch sides, in pure Spark SQL)
BOTTOMK_OUTPUT_SCHEMA = StructType(
    [
        StructField("grp", LongType()),
        StructField("batch_seq", LongType()),
        StructField("hs", ArrayType(LongType())),
        StructField("ks", ArrayType(LongType())),
        StructField("cs", ArrayType(LongType())),
    ]
)


def sketch_md5_py(rows) -> str:
    """Canonical content hash of a bottom-k synopsis: md5 over the
    comma-joined 'h:key:cents' triples in (h, key) ascending order —
    computable identically in Python and in pure Spark SQL (sort_array
    over structs, array_join, md5)."""
    return hashlib.md5(
        ",".join(f"{int(h)}:{int(k)}:{int(c)}" for h, k, c in rows).encode()
    ).hexdigest()


def make_bottomk_fold(k: int):
    """State transition for ONE SHARD: merge this batch's (h, key, cents)
    rows into the shard's kept set, truncate to the k smallest by
    (h, key). Dedup by full triple first — min-structures are
    idempotent, so a replayed row cannot perturb the synopsis."""

    def _fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            hs, ks, cs, seq = state.get
            rows = set(zip(hs, ks, cs))
        else:
            rows, seq = set(), 0
        for pdf in pdfs:
            rows.update(
                zip(
                    (int(x) for x in pdf["h"]),
                    (int(x) for x in pdf["key"]),
                    (int(x) for x in pdf["cents"]),
                )
            )
        kept = sorted(rows)[:k]
        seq += 1
        state.update(
            (
                [r[0] for r in kept],
                [r[1] for r in kept],
                [r[2] for r in kept],
                seq,
            )
        )
        yield pd.DataFrame(
            {
                "grp": [int(key[0])],
                "batch_seq": [seq],
                "hs": [[r[0] for r in kept]],
                "ks": [[r[1] for r in kept]],
                "cs": [[r[2] for r in kept]],
            }
        )

    return _fold


def run_stream_bottomk(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    salt: str,
    query_name: str,
    glob: str = "orders.parquet",
    max_files_per_trigger: int | None = None,
    checkpoint_location: str | None = None,
) -> DataFrame:
    """Maintain the sharded bottom-k rank sketch by STREAMING the orders
    fixture; returns the merged GLOBAL synopsis as k rows of
    (h, key, cents). The stream-side derivation mirrors
    operators/sketches.py::_qsk_bottom_k expression-for-expression."""
    from mapreduce_sm_spark.functions.hashing import hash60

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = fixture_stream(
        spark,
        sf_dir,
        glob,
        "o_orderkey long, o_totalprice double",
        max_files_per_trigger,
    )
    hkey = F.concat(F.lit(salt + "|"), F.col("o_orderkey").cast("string"))
    rows = stream.select(
        hash60(hkey).alias("h"),
        F.col("o_orderkey").cast("long").alias("key"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).select(
        F.pmod("h", F.lit(BOTTOMK_SHARDS)).cast("long").alias("grp"),
        "h",
        "key",
        "cents",
    )
    out = rows.groupBy("grp").applyInPandasWithState(
        make_bottomk_fold(k),
        outputStructType=BOTTOMK_OUTPUT_SCHEMA,
        stateStructType=BOTTOMK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_stateful_sink(out, query_name, checkpoint_location)
    # update mode: one synopsis row per (shard, touching batch); per
    # shard the final state is unambiguously the max-seq row. Selected
    # with a window rather than a sink-vs-aggregate self-join: joining a
    # memory-sink view to an aggregate of itself trips Catalyst's
    # conflicting-reference check (both sides carry the same attribute
    # ids). The window is over <= SHARDS * n_batches digest rows.
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy(F.col("batch_seq").desc())
    final = (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # global merge: k smallest over the union of shard synopses — exact
    # by the bottom-k merge law (module docstring)
    exploded = final.select(
        F.explode(F.arrays_zip("hs", "ks", "cs")).alias("e")
    ).select(
        F.col("e.hs").alias("h"),
        F.col("e.ks").alias("key"),
        F.col("e.cs").alias("cents"),
    )
    return exploded.orderBy("h", "key").limit(k)


__all__ = [
    "BOTTOMK_OUTPUT_SCHEMA",
    "BOTTOMK_SHARDS",
    "BOTTOMK_STATE_SCHEMA",
    "make_bottomk_fold",
    "run_stream_bottomk",
    "sketch_md5_py",
]
