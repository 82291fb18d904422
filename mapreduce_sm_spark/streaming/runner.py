"""The closed-input stream protocol every streaming operator runs through.

A registered `stream_*` query drives the real Structured Streaming engine
over an input that is already complete: an availableNow trigger consumes
everything present at start (honoring maxFilesPerTrigger, so a run still
spans several micro-batches), the query terminates by itself, and the
operator reads back what the sink committed. That is Structured
Streaming's incremental execution plus its exactly-once file sink
(Armbrust et al., SIGMOD'18), and this module is its one implementation:

- sources: `fixture_stream` streams a fixture table under a schema read
  from the parquet footers (never a frozen schema: r03 broke on a
  fixture dtype change); `replay_stream` writes a frame as N part files
  under a process-lifetime tempdir and streams them back M per trigger
  under the frame's own schema — the arrival simulation of the
  maintenance laws;
- sinks: `run_memory` (complete/update/append tables, written by
  `memory_writer`), `run_file_sink`
  (the exactly-once parquet sink plus its committed read-back) and
  `run_stateful_sink` (memory, or the restartable foreachBatch->parquet
  sink when the caller owns a checkpoint location);
- one wait: `run_closed` starts any writer with the availableNow trigger
  and `_await_or_raise` bounds it by STREAM_TIMEOUT_S. awaitTermination
  returns False on timeout without raising, so an unchecked wait hands
  back a prefix of the batches; here a timeout stops the query and
  raises.

Only two conditions mean "nothing there yet" — PATH_NOT_FOUND and
UNABLE_TO_INFER_SCHEMA, an empty source or a sink that committed no
batch — and both sides fall back to a typed empty schema on exactly
those. Anything else (corrupt footers, permission errors) surfaces
instead of masquerading as a zero-row stream (ADVICE r04, r12).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

# one bound for every closed-input run; the largest any operator needed
# (the RocksDB stateful folds and the interval join)
STREAM_TIMEOUT_S = 180

_EMPTY_CONDITIONS = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")

# Subdirectories of a replay base: the fed part files, the file sink and
# its checkpoint. Tests read <base>/sink/_spark_metadata to count commits.
FEED, SINK, CKPT = "feed", "sink", "ckpt"


def _is_empty_source(e: AnalysisException) -> bool:
    return (e.getCondition() or "") in _EMPTY_CONDITIONS


def sink_name(prefix: str, sf_dir: str) -> str:
    """Unique memory-sink table name per (query, sf_dir): repeated runs
    against different scale dirs must not collide on one sink."""
    return prefix + os.path.basename(sf_dir.rstrip("/")).replace(".", "_")


def resolve_stream_path(sf_dir: str, glob: str) -> tuple[str, str | None]:
    """(load_path, path_glob_filter_or_None) for a fixture table.

    The fixtures store each table as a single FILE named
    `<table>.parquet` inside sf_dir, streamed as sf_dir filtered to that
    name. But pathGlobFilter matches LEAF file names only: when the table
    is a Spark-written DIRECTORY named `<table>.parquet` (scale_proof
    replicas, any warehouse layout) the filter matches none of its
    part-*.parquet files and the stream silently reads zero rows (r10).
    So a directory-valued table streams the directory itself; anything
    else streams sf_dir filtered to the glob (single-file fixtures, and
    test dirs of part files matched by wildcards)."""
    cand = os.path.join(sf_dir, glob)
    if "*" not in glob and os.path.isdir(cand):
        return cand, None
    return sf_dir, glob


def fixture_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str,
    schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream the columns named in the DDL `schema` of a fixture table.

    Their types come from a batch footer read of the same files (no
    data scan); `schema` itself is used only when the source is empty —
    an existing directory that will be fed later."""
    fallback = StructType.fromDDL(schema)
    path, g = resolve_stream_path(sf_dir, glob)
    rd = spark.read
    if g is not None:
        rd = rd.option("pathGlobFilter", g)
    try:
        read_schema = rd.parquet(path).select(*fallback.names).schema
    except AnalysisException as e:
        if not _is_empty_source(e):
            raise
        read_schema = fallback
    reader = spark.readStream.schema(read_schema)
    if g is not None:
        reader = reader.option("pathGlobFilter", g)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def replay_stream(
    frame: DataFrame, prefix: str, n_files: int, per_trigger: int
) -> tuple[DataFrame, str]:
    """Arrival simulation: write `frame` as `n_files` parquet part files
    under a fresh process-lifetime tempdir and stream them back
    `per_trigger` files per micro-batch. Returns (stream, base); the
    feed is <base>/feed and run_file_sink commits to <base>/sink.

    A fresh mkdtemp per call, never a fixed per-sf path with
    rmtree-on-entry, which would let one run destroy another's in-flight
    sink and checkpoint. Files per trigger is the micro-batch
    parallelism: a file-source micro-batch runs one task per file."""
    from mapreduce_sm_spark.session import session_tmpdir

    base = session_tmpdir(prefix)
    feed = os.path.join(base, FEED)
    frame.repartition(n_files).write.mode("overwrite").parquet(feed)
    stream = (
        frame.sparkSession.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", per_trigger)
        .parquet(feed)
    )
    return stream, base


def _await_or_raise(q: StreamingQuery, query_name: str) -> None:
    """Wait for an availableNow query; on timeout stop it and raise,
    surfacing the query's own exception when one exists (which a bare
    .stop() would swallow)."""
    if q.awaitTermination(STREAM_TIMEOUT_S):
        return
    exc = q.exception()
    q.stop()
    raise TimeoutError(
        f"streaming query {query_name!r} did not finish in {STREAM_TIMEOUT_S}s"
        + (f": {exc}" if exc else "")
    )


def run_closed(writer: DataStreamWriter, query_name: str) -> StreamingQuery:
    """Start `writer` with the availableNow trigger and wait until the
    input present at start is consumed."""
    q = writer.trigger(availableNow=True).start()
    _await_or_raise(q, query_name)
    return q


def memory_writer(
    out: DataFrame, query_name: str, output_mode: str
) -> DataStreamWriter:
    """`out` written to the memory table `query_name`."""
    return (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
    )


def run_memory(out: DataFrame, query_name: str, output_mode: str) -> DataFrame:
    """Run `out` into the memory table `query_name` and return the table."""
    run_closed(memory_writer(out, query_name, output_mode), query_name)
    return out.sparkSession.table(query_name)


def read_committed(
    spark: SparkSession, sink: str, schema: StructType
) -> DataFrame:
    """Read back what a parquet file sink committed. spark.read honors the
    sink's _spark_metadata manifest, so only committed files are read. A
    sink that committed no batch (an empty feed) reads as an empty frame
    of `schema`; any other failure, a corrupt committed file included,
    raises here instead of resurfacing later as a confusing audit
    mismatch."""
    try:
        return spark.read.parquet(sink)
    except AnalysisException as e:
        if not _is_empty_source(e):
            raise
        return spark.createDataFrame([], schema)


def run_file_sink(out: DataFrame, base: str, query_name: str) -> DataFrame:
    """Append `out` through the exactly-once parquet file sink at
    <base>/sink (checkpoint <base>/ckpt) and return the committed rows."""
    sink = os.path.join(base, SINK)
    run_closed(
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(base, CKPT))
        .outputMode("append"),
        query_name,
    )
    return read_committed(out.sparkSession, sink, out.schema)


def run_stateful_sink(
    out: DataFrame, query_name: str, checkpoint_location: str | None
) -> DataFrame:
    """Every update-mode emission of a stateful query. Without a
    checkpoint location: the memory table. With one: the memory sink
    does not support checkpoint recovery ("This query does not support
    recovering from checkpoint location"), so each micro-batch's
    emissions are appended to <checkpoint_location>/sink by foreachBatch
    instead. RocksDB state and source offsets resume from the checkpoint,
    and the parquet sink ACCUMULATES across runs, so the caller's
    final-state pick still sees shards a later run never touches."""
    if checkpoint_location is None:
        return run_memory(out, query_name, "update")
    sink = os.path.join(checkpoint_location, SINK)

    def _write_batch(df: DataFrame, _epoch: int) -> None:
        df.write.mode("append").parquet(sink)

    run_closed(
        out.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("update"),
        query_name,
    )
    return out.sparkSession.read.parquet(sink)
