"""Structured Streaming extension (the reference is batch-only, SURVEY §2.B).

Every registered `stream_*` operator runs the same closed-input protocol,
implemented once in `streaming/runner.py`: a fixture source with a
footer-read schema (or a frame replayed as part files, M per trigger),
an availableNow trigger, one bounded wait that stops the query and
raises TimeoutError on expiry, and a read-back of what the sink
committed (memory table, exactly-once parquet file sink, or the
restartable foreachBatch sink). The other modules hold operator logic:
event-time windows and joins (windows.py), applyInPandasWithState folds
(stateful.py, sketch_stream.py, bitmap_stream.py, bottomk_stream.py) and
transformWithState (transform_state.py).
"""

from mapreduce_sm_spark.streaming.windows import (
    run_streaming_query,
    streaming_tumbling_counts,
)

__all__ = ["streaming_tumbling_counts", "run_streaming_query"]
