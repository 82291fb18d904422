"""Source connectors (SURVEY §2.B row 1: the reference supports exactly one
source — a single mmap'd local text file, /root/reference/src/mapreduce.c:167-222).

Spark generalizes that to splittable, schema-aware, predicate-pushdown
sources. `read_text` is the faithful equivalent (one string column per
line, with an optional line_no — the reference keys string_match output by
line number); the others are the formats any real pipeline needs.

Scale notes: all readers return lazy DataFrames; file listing/splitting is
Spark's (maxPartitionBytes governs split size). Line numbers are computed
in the JVM from the text scan itself: a per-split line-count table (one
row per file split: ~800k rows for 100 TB of 128 MB splits), prefix-summed
and broadcast back. That costs a second scan of the input but no shuffle
of lines and no Python worker; still, only request them when the query
needs reference-style keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_text(
    spark: SparkSession, path: str, with_line_numbers: bool = False
) -> DataFrame:
    """Lines of text ≡ the reference's splitter output (task chunks of
    lines, wordcount.c:24-54) — Spark assigns splits natively.

    with_line_numbers=True adds a global 0-based line_no column (true line
    numbers — the reference's per-character counter bug, SURVEY App. A.3,
    is deliberately not reproduced). Lines are numbered in file-path order,
    then byte-offset order within each file, so a directory of files is
    numbered as if its files were concatenated in sorted-path order.

    How: every scanned row is tagged with its split (file path, split
    start byte) and monotonically_increasing_id(), which counts rows
    consecutively within a task; a split's rows are contiguous in its
    task, so `id - min(id)` over the split is the line's index inside it.
    The split table (one row per split, not per line) gets a running line
    offset from a window ordered by (path, start) and is broadcast back:
    line_no = offset + id - min(id). Both scans of the one file listing
    pack the same splits into the same tasks, so they give every line the
    same id."""
    lines = spark.read.text(path)
    if not with_line_numbers:
        return lines
    split = ["_file", "_start"]
    tagged = lines.select(
        "value",
        F.col("_metadata.file_path").alias("_file"),
        F.col("_metadata.file_block_start").alias("_start"),
        F.monotonically_increasing_id().alias("_id"),
    )
    upto = Window.orderBy(*split).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    splits = (
        tagged.groupBy(*split)
        .agg(F.min("_id").alias("_first"), F.count("*").alias("_n"))
        .select(
            *split,
            (F.sum("_n").over(upto) - F.col("_n") - F.col("_first")).alias("_base"),
        )
    )
    return tagged.join(F.broadcast(splits), split).select(
        "value", (F.col("_id") + F.col("_base")).alias("line_no")
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    reader = spark.read.option("header", header).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC: the other columnar warehouse format Spark reads natively, with
    the same vectorized scan + predicate pushdown + column pruning as
    parquet (PushedFilters show in .explain identically)."""
    return spark.read.orc(path)
