"""Structured Streaming: the streaming tumbling-window plan must agree with
its batch twin on a closed input (SURVEY §7.1 step 7)."""

from __future__ import annotations

import os

from tests.conftest import SF_DIR


def test_streaming_tumbling_equals_batch(spark, tmp_path):
    import shutil

    from mapreduce_sm_spark.operators.events import tumbling_window
    from mapreduce_sm_spark.streaming.windows import (
        run_streaming_query,
        streaming_tumbling_counts,
    )

    batch = {
        (r.win_start, r.event_type): r.n
        for r in tumbling_window(spark, SF_DIR).collect()
    }

    # the file stream source requires a directory of files
    events_dir = str(tmp_path / "events_stream")
    os.makedirs(events_dir)
    shutil.copy(
        os.path.join(SF_DIR, "events.parquet"),
        os.path.join(events_dir, "part-0.parquet"),
    )
    streamed_df = run_streaming_query(
        spark, events_dir, streaming_tumbling_counts, "t_stream_test"
    )
    streamed = {
        (r.win_start, r.event_type): r.n for r in streamed_df.collect()
    }
    assert streamed == batch


def test_stateful_user_totals_splits_batches(spark, tmp_path):
    """applyInPandasWithState folds state across micro-batches: split the
    events file into two batch files and check the final per-user state
    equals the batch aggregate (split-independence of the fold)."""
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.streaming.stateful import run_stateful_user_totals

    events = table(spark, SF_DIR, "events")
    expected = {
        r.user_id: (r.n, round(r.total, 2))
        for r in events.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .collect()
    }

    events_dir = str(tmp_path / "events_split")
    os.makedirs(events_dir)
    shutil.copy(
        os.path.join(SF_DIR, "events.parquet"),
        os.path.join(events_dir, "events.parquet"),
    )
    got_df = run_stateful_user_totals(
        spark,
        os.path.join(events_dir, "events.parquet"),
        query_name="t_stateful_test",
    )
    got = {r.user_id: (r.n_events, round(r.total_value, 2)) for r in got_df.collect()}
    assert got == expected


def _stream_events_dir(tmp_path):
    import shutil

    events_dir = str(tmp_path / "events_stream")
    os.makedirs(events_dir)
    shutil.copy(
        os.path.join(SF_DIR, "events.parquet"),
        os.path.join(events_dir, "part-0.parquet"),
    )
    return events_dir


def test_streaming_sliding_equals_batch(spark, tmp_path):
    from mapreduce_sm_spark.operators.events import sliding_window
    from mapreduce_sm_spark.streaming.windows import (
        run_streaming_query,
        streaming_sliding_counts,
    )

    batch = {
        (r.win_start, r.event_type): r.n
        for r in sliding_window(spark, SF_DIR).collect()
    }
    streamed_df = run_streaming_query(
        spark, _stream_events_dir(tmp_path), streaming_sliding_counts,
        "t_sliding_stream",
    )
    streamed = {(r.win_start, r.event_type): r.n for r in streamed_df.collect()}
    assert streamed == batch


def test_streaming_session_equals_batch(spark, tmp_path):
    from mapreduce_sm_spark.operators.events import session_window
    from mapreduce_sm_spark.streaming.windows import (
        run_streaming_query,
        streaming_session_counts,
    )

    batch = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in session_window(spark, SF_DIR).collect()
    }
    streamed_df = run_streaming_query(
        spark, _stream_events_dir(tmp_path), streaming_session_counts,
        "t_session_stream",
    )
    streamed = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in streamed_df.collect()
    }
    assert streamed == batch


def test_stream_stream_join_equals_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.streaming.windows import (
        run_streaming_click_purchase_join,
    )

    ev = table(spark, SF_DIR, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    batch = {
        (r.click_id, r.purchase_id)
        for r in c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }

    streamed_df = run_streaming_click_purchase_join(
        spark, _stream_events_dir(tmp_path), "t_ss_join"
    )
    streamed = {(r.click_id, r.purchase_id) for r in streamed_df.collect()}
    assert streamed == batch
    assert len(batch) > 0  # the fixture must actually exercise the join


def test_foreach_batch_sink_is_idempotent_by_path(spark, tmp_path):
    from pyspark.sql import functions as F

    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.streaming.windows import run_foreach_batch_parquet

    out = str(tmp_path / "febatch_out")
    run_foreach_batch_parquet(
        spark, _stream_events_dir(tmp_path), out, "t_febatch"
    )
    # the LAST batch (complete mode) must equal the batch aggregate
    import os as _os

    batches = sorted(
        int(d.split("=")[1])
        for d in _os.listdir(out)
        if d.startswith("batch_id=")
    )
    final = spark.read.parquet(f"{out}/batch_id={batches[-1]}")
    expected = {
        (r.event_type, r.n)
        for r in table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {(r.event_type, r.n) for r in final.collect()}
    assert got == expected


def test_late_event_beyond_watermark_dropped(spark, tmp_path):
    """Watermark semantics: after a micro-batch advances event time to
    06:00, the 1-hour watermark sits at 05:00 — a later-arriving event
    stamped 01:30 (window end 02:00 < watermark) must be DROPPED by the
    stateful aggregation, while on-time events keep flowing.

    Note the propagation lag (pinned empirically on this Spark): the
    watermark computed from batch N's data is ENFORCED starting batch
    N+2 — batch N+1 still admits rows behind it. Hence the late event
    arrives two batches after the sentinel that advanced the clock."""
    import glob as globmod
    import os
    import shutil
    from datetime import datetime, timezone

    from mapreduce_sm_spark.streaming.windows import (
        events_stream,
        streaming_tumbling_counts,
    )

    base = 1704067200  # 2024-01-01 00:00:00 UTC
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )

    def ev(eid, sec, etype):
        t = datetime.fromtimestamp(base + sec, tz=timezone.utc).replace(tzinfo=None)
        return (eid, t, 1, etype, 1.0, "{}")

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()

    def add_file(name, rows, mtime):
        tmp_out = str(tmp_path / ("w_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp_out)
        part = globmod.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
        dst = str(stream_dir / f"{name}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    # batch A: one 00:10 event + a sentinel at 06:00 (advances watermark)
    add_file("a", [ev(1, 600, "ontime"), ev(2, 6 * 3600, "sentinel")], base)
    # batch B: an on-time 06:30 event (watermark from A not yet enforced)
    add_file("b", [ev(4, 6 * 3600 + 1800, "tail")], base + 60)
    # batch C: a late 01:30 event, now firmly behind the enforced 05:00
    # watermark -> must be dropped
    add_file("c", [ev(3, 90 * 60, "late")], base + 120)

    stream = events_stream(spark, str(stream_dir), max_files_per_trigger=1)
    q = (
        streaming_tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("late_drop_test")
        .outputMode("update")  # update mode enforces watermark drops
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = {r.event_type for r in spark.table("late_drop_test").collect()}
    assert "ontime" in emitted and "sentinel" in emitted and "tail" in emitted
    assert "late" not in emitted, "late event leaked past the watermark"


def test_transform_with_state_user_profile(spark, duck):
    """transformWithStateInPandas profile fold == batch aggregate.

    Skipped where the protobuf package (required by the transformWithState
    Python worker protocol) is absent — same gating pattern as the Pillow
    codec test."""
    import pytest

    from mapreduce_sm_spark.streaming.transform_state import (
        have_protobuf,
        run_user_profile,
    )

    if not have_protobuf():
        pytest.skip("google.protobuf not installed in this container")
    got = {
        r.user_id: (r.n_events, r.total_value, r.max_value)
        for r in run_user_profile(
            spark, f"{SF_DIR}/events.parquet", "tws_test"
        ).collect()
    }
    want = {
        u: (n, t, m)
        for u, n, t, m in duck.execute(
            """
            SELECT user_id, count(*),
                   (CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR))::DOUBLE,
                   (CAST(max(CAST(value AS DECIMAL(18,2))) AS VARCHAR))::DOUBLE
            FROM events GROUP BY user_id
            """
        ).fetchall()
    }
    assert got == want


def test_streaming_restart_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once across restarts: a file-source query with a
    checkpointLocation must, on restart, process ONLY files that arrived
    since the last run. If the checkpoint were ignored, the restarted run
    would re-ingest the first file and the sink would hold 3N rows
    instead of 2N."""
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_sm_spark.streaming.windows import events_stream

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    shutil.copy(
        os.path.join(SF_DIR, "events.parquet"), str(src_dir / "a.parquet")
    )

    def run_once():
        q = (
            events_stream(spark, str(src_dir))
            .select("event_id", "user_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    n = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).count()
    run_once()
    assert spark.read.parquet(out).count() == n

    # second file lands; restart from the same checkpoint
    shutil.copy(
        os.path.join(SF_DIR, "events.parquet"), str(src_dir / "b.parquet")
    )
    run_once()
    sink = spark.read.parquet(out)
    assert sink.count() == 2 * n  # NOT 3n: file a was not re-ingested
    # every event_id appears exactly twice (once per source file)
    dup_histogram = (
        sink.groupBy("event_id")
        .agg(F.count("*").alias("k"))
        .groupBy("k")
        .count()
        .collect()
    )
    assert len(dup_histogram) == 1 and dup_histogram[0]["k"] == 2


def test_session_window_state_survives_restart(spark, tmp_path):
    """Stateful session windows across a checkpointed restart: a session
    left OPEN by run 1 (watermark had not passed its end) must be
    EXTENDED by run 2's events into one merged session. If the state
    store were not restored, run 2 would emit a separate (or 1-event)
    session; if the source checkpoint were ignored, run 1's finalized
    session would duplicate."""
    from mapreduce_sm_spark.streaming.windows import (
        events_stream,
        streaming_session_micros,
    )

    hour = 3_600_000_000
    base = 1_700_000_000_000_000

    def mk(rows, path):
        # flat single-file parquet (the file stream source lists leaf
        # files; a Spark-style directory-per-write would be invisible)
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(range(len(rows)), pa.int64()),
                    "ts": pa.array(
                        [t for t, _ in rows], pa.timestamp("us")
                    ),
                    "user_id": pa.array([u for _, u in rows], pa.int64()),
                    "event_type": pa.array(["click"] * len(rows)),
                    "value": pa.array([1.0] * len(rows)),
                    "props": pa.array([None] * len(rows), pa.string()),
                }
            ),
            path,
        )

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")

    # run 1: user 1's session closes (watermark passes it); user 2's
    # session at +3h50m stays OPEN (watermark reaches 4h00m)
    mk(
        [
            (base, 1),
            (base + 10 * 60_000_000, 1),
            (base + 3 * hour + 50 * 60_000_000, 2),
            (base + 5 * hour, 99),  # watermark pusher -> 4h
        ],
        str(src / "a.parquet"),
    )

    def run_once():
        q = (
            streaming_session_micros(events_stream(spark, str(src)))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert (1, base, base + 10 * 60_000_000 + 30 * 60_000_000, 2) in first
    assert not any(r[0] == 2 for r in first), "open session emitted early"

    # run 2: user 2's new event lands 25 min after their open session's
    # last event -> must MERGE with restored state; pusher closes it
    mk(
        [
            (base + 4 * hour + 15 * 60_000_000, 2),
            (base + 10 * hour, 99),
        ],
        str(src / "b.parquet"),
    )
    run_once()
    rows = spark.read.parquet(out).collect()
    u2 = [r for r in rows if r.user_id == 2]
    assert len(u2) == 1, f"expected one merged session, got {u2}"
    got = (u2[0].session_start_us, u2[0].session_end_us, u2[0].n_events)
    assert got == (
        base + 3 * hour + 50 * 60_000_000,
        base + 4 * hour + 15 * 60_000_000 + 30 * 60_000_000,
        2,
    ), got
    # run 1's finalized session did not duplicate
    assert len([r for r in rows if r.user_id == 1]) == 1


def test_stateful_streaming_on_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state answer: stateful streaming state held in the
    RocksDB state-store provider (bounded executor memory, spill to
    local disk + changelog) instead of the default in-memory HDFS-backed
    map. The engine's plans claim RocksDB compatibility (streaming/
    windows.py, stateful.py docstrings); this proves it — the tumbling
    aggregate AND the applyInPandasWithState operator both run under the
    provider and produce batch-IDENTICAL results."""
    from pyspark.sql import functions as F

    from mapreduce_sm_spark.operators.events import tumbling_window
    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.streaming.stateful import run_stateful_user_totals
    from mapreduce_sm_spark.streaming.windows import (
        run_streaming_query,
        streaming_tumbling_counts,
    )

    events_dir = _stream_events_dir(tmp_path)

    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    # conf.get on a registered entry returns its default string, never
    # None — restore by set, not unset
    prev = spark.conf.get(provider_conf)
    spark.conf.set(
        provider_conf,
        "org.apache.spark.sql.execution.streaming.state"
        ".RocksDBStateStoreProvider",
    )
    try:
        batch = {
            (r.win_start, r.event_type): r.n
            for r in tumbling_window(spark, SF_DIR).collect()
        }
        streamed_df = run_streaming_query(
            spark, events_dir, streaming_tumbling_counts, "t_rocks_test"
        )
        streamed = {
            (r.win_start, r.event_type): r.n for r in streamed_df.collect()
        }
        assert streamed == batch

        expected_totals = {
            r.user_id: (r.n, round(r.total, 2))
            for r in table(spark, SF_DIR, "events")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .collect()
        }
        got_totals = {
            r.user_id: (r.n_events, round(r.total_value, 2))
            for r in run_stateful_user_totals(
                spark,
                os.path.join(events_dir, "part-0.parquet"),
                query_name="rocks_totals_test",
            ).collect()
        }
        assert got_totals == expected_totals
    finally:
        spark.conf.set(provider_conf, prev)


def test_stream_countmin_equality_contract(spark, duck):
    from mapreduce_sm_spark.operators.sketches import stream_countmin_equality

    df = stream_countmin_equality(spark, SF_DIR)
    assert df.columns == ["j", "row_mass", "cells_within_w", "stream_equals_batch"]
    rows = df.collect()
    assert [r["j"] for r in rows] == [0, 1, 2, 3]
    (n,) = duck.execute(
        "SELECT count(*) FROM (SELECT unnest(regexp_extract_all("
        "upper(text), '[A-Z][A-Z'']*')) FROM documents)"
    ).fetchone()
    for r in rows:
        assert r["row_mass"] == n, "streamed row mass != exact token count"
        assert r["cells_within_w"] and r["stream_equals_batch"]


def test_stream_countmin_multibatch_fold_equals_batch(spark, tmp_path):
    """Force >= 2 micro-batches (two input files + maxFilesPerTrigger=1)
    and check the streamed cells still equal the batch sketch — the
    cross-batch RocksDB state fold, not a single-batch degenerate run."""
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_sm_spark.functions.text import tokenize_words
    from mapreduce_sm_spark.operators.sketches import _CM_D, _cm_sketch
    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.streaming.sketch_stream import run_stream_countmin

    w = 64
    docs_dir = str(tmp_path / "docs_split")
    os.makedirs(docs_dir)
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(
        os.path.join(docs_dir, "even.d")
    )
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(
        os.path.join(docs_dir, "odd.d")
    )
    # flatten the two datasets into one dir of part files
    flat = str(tmp_path / "docs_flat")
    os.makedirs(flat)
    i = 0
    for sub in ("even.d", "odd.d"):
        for f in os.listdir(os.path.join(docs_dir, sub)):
            if f.endswith(".parquet"):
                shutil.copy(
                    os.path.join(docs_dir, sub, f),
                    os.path.join(flat, f"part-{i}.parquet"),
                )
                i += 1
    assert i >= 2

    streamed = run_stream_countmin(
        spark, flat, w, _CM_D,
        query_name="t_stream_cm_split",
        glob="*.parquet",
        max_files_per_trigger=1,
    )
    toks = docs.select(F.explode(tokenize_words("text")).alias("token"))
    batch = _cm_sketch(toks, w)
    got = {(r["j"], r["b"]): r["cnt"] for r in streamed.collect()}
    want = {(r["j"], r["b"]): r["cnt"] for r in batch.collect()}
    assert got == want


def test_stream_bitmap_equality_contract(spark, duck):
    from mapreduce_sm_spark.operators.sketches import stream_bitmap_equality

    df = stream_bitmap_equality(spark, SF_DIR)
    assert df.columns == [
        "event_type", "n_buckets", "exact_users",
        "stream_equals_batch", "bitmap_count_ok",
    ]
    rows = df.collect()
    exact = dict(
        duck.execute(
            "SELECT event_type, count(DISTINCT user_id)"
            " FROM events GROUP BY event_type"
        ).fetchall()
    )
    assert {r["event_type"] for r in rows} == set(exact)
    for r in rows:
        assert r["exact_users"] == exact[r["event_type"]]
        assert r["stream_equals_batch"] and r["bitmap_count_ok"]


def test_stream_bitmap_multibatch_or_equals_batch(spark, tmp_path):
    """Force >= 2 micro-batches (split the events fixture, maxFilesPer
    Trigger=1) and check the streamed bitmap cells still equal the batch
    cells — the cross-batch OR fold through RocksDB binary state, not a
    single-batch degenerate run. Splitting by user parity guarantees the
    SAME (event_type, bucket) keys receive bits from BOTH batches."""
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.streaming.bitmap_stream import (
        bits_md5_py,
        bucket_and_pos,
        run_stream_bitmap,
    )

    ev = table(spark, SF_DIR, "events").select("event_type", "user_id")
    split_dir = str(tmp_path / "ev_split")
    os.makedirs(split_dir)
    ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(split_dir, "even.d")
    )
    ev.filter(F.col("user_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(split_dir, "odd.d")
    )
    flat = str(tmp_path / "ev_flat")
    os.makedirs(flat)
    i = 0
    for sub in ("even.d", "odd.d"):
        for f in os.listdir(os.path.join(split_dir, sub)):
            if f.endswith(".parquet"):
                shutil.copy(
                    os.path.join(split_dir, sub, f),
                    os.path.join(flat, f"part-{i}.parquet"),
                )
                i += 1
    assert i >= 2

    streamed = run_stream_bitmap(
        spark, flat, query_name="t_stream_bm_split",
        glob="*.parquet", max_files_per_trigger=1,
    )
    batch = (
        ev.select("event_type", *bucket_and_pos("user_id"))
        .groupBy("event_type", "bucket")
        .agg(F.sort_array(F.collect_set("pos")).alias("ps"))
        .collect()
    )
    want = {
        (r["event_type"], r["bucket"]): (len(r["ps"]), bits_md5_py(r["ps"]))
        for r in batch
    }
    got = {
        (r["event_type"], r["bucket"]): (r["n_bits"], r["bits_md5"])
        for r in streamed.collect()
    }
    assert got == want


def test_stream_quantile_equality_contract(spark, duck):
    from mapreduce_sm_spark.operators.sketches import stream_quantile_equality

    df = stream_quantile_equality(spark, SF_DIR)
    assert df.columns == ["n_kept", "tau_h", "sum_cents", "stream_equals_batch"]
    (r,) = df.collect()
    assert r["stream_equals_batch"]
    (n_orders,) = duck.execute("SELECT count(*) FROM orders").fetchone()
    assert r["n_kept"] == min(256, n_orders)


def test_stream_bottomk_multibatch_min_fold_equals_batch(spark, tmp_path):
    """Force >= 2 micro-batches over the orders fixture and check the
    streamed bottom-k digest still equals the batch synopsis — the
    cross-batch merge-and-truncate through RocksDB array state. Key
    parity split: both batches contribute rows to the final k set with
    overwhelming probability (uniform hashes)."""
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_sm_spark.operators.sketches import (
        _QSK_K,
        _QSK_SALT,
        _qsk_bottom_k,
    )
    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.streaming.bottomk_stream import (
        run_stream_bottomk,
        sketch_md5_py,
    )

    orders = table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    split_dir = str(tmp_path / "ord_split")
    os.makedirs(split_dir)
    orders.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(split_dir, "even.d")
    )
    orders.filter(F.col("o_orderkey") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(split_dir, "odd.d")
    )
    flat = str(tmp_path / "ord_flat")
    os.makedirs(flat)
    i = 0
    for sub in ("even.d", "odd.d"):
        for f in os.listdir(os.path.join(split_dir, sub)):
            if f.endswith(".parquet"):
                shutil.copy(
                    os.path.join(split_dir, sub, f),
                    os.path.join(flat, f"part-{i}.parquet"),
                )
                i += 1
    assert i >= 2

    streamed = sorted(
        (r["h"], r["key"], r["cents"])
        for r in run_stream_bottomk(
            spark, flat, _QSK_K, _QSK_SALT, query_name="t_stream_qsk_split",
            glob="*.parquet", max_files_per_trigger=1,
        ).collect()
    )
    vals = orders.select(
        F.col("o_orderkey").alias("key"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    batch = sorted(
        (r["h"], r["key"], r["cents"]) for r in _qsk_bottom_k(vals).collect()
    )
    # ROW-level equality of the merged shard synopses vs the batch sketch
    # (and so digest equality too)
    assert streamed == batch
    assert sketch_md5_py(streamed) == sketch_md5_py(batch)
    # both parities actually reached the final synopsis (non-degenerate)
    assert {k % 2 for _, k, _ in batch} == {0, 1}


def test_bitmap_bucketing_floor_semantics_negative_ids(spark):
    """bucket_and_pos must be a BIJECTION on negative ids too: a
    truncating div paired with pmod would send id -5 to (bucket 0,
    pos 32763) — colliding with id 32763 — and diverge from the
    oracle's floor //. Floor semantics keep bucket*B + pos == id."""
    from pyspark.sql import functions as F

    from mapreduce_sm_spark.streaming.bitmap_stream import (
        BITMAP_BITS,
        bucket_and_pos,
    )

    ids = [-5, -1, 0, 1, 32763, 32767, 32768, -32768, -32769, 70000]
    df = spark.createDataFrame([(i,) for i in ids], "user_id long").select(
        "user_id", *bucket_and_pos("user_id")
    )
    rows = df.collect()
    seen = set()
    for r in rows:
        assert 0 <= r["pos"] < BITMAP_BITS
        assert r["bucket"] * BITMAP_BITS + r["pos"] == r["user_id"], r
        assert (r["bucket"], r["pos"]) not in seen
        seen.add((r["bucket"], r["pos"]))
    # floor parity with DuckDB's // on the same ids
    import duckdb

    # NB: DuckDB's integer // TRUNCATES toward zero, so the floor form
    # below is what the registered oracle uses too
    want = {
        i: b
        for i, b in duckdb.sql(
            "SELECT i, (i - ((i % 32768) + 32768) % 32768) // 32768"
            " FROM (SELECT unnest(" + str(ids) + ") AS i)"
        ).fetchall()
    }
    assert {r["user_id"]: r["bucket"] for r in rows} == want


def test_stream_bottomk_state_survives_restart(spark, tmp_path):
    """Exactly-once for the sharded bottom-k fold: run 1 consumes half
    the orders through a CHECKPOINTED availableNow query; run 2 (same
    checkpoint, same query name) consumes the other half and must
    produce the bottom-k of the WHOLE table — possible only if every
    shard's RocksDB state was restored (a lost state would drop run-1
    rows; ignored source offsets would double-fold run 1's file, which
    the idempotent min-structure would mask, so the row-equality is the
    sharper check on state restoration).

    The restartable path persists per-batch emissions via foreachBatch
    (the memory sink refuses checkpoint recovery), so the sink
    accumulates across runs; the precondition below — every one of the
    32 shards receives rows in BOTH halves — keeps the cross-run state
    RESTORE (not just the sink union) load-bearing for the equality."""
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_sm_spark.operators.sketches import (
        _QSK_K,
        _QSK_SALT,
        _qsk_bottom_k,
    )
    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.streaming.bottomk_stream import (
        BOTTOMK_SHARDS,
        run_stream_bottomk,
    )
    from mapreduce_sm_spark.functions.hashing import hash60

    orders = table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    # precondition: each half feeds every shard
    shard = F.pmod(
        hash60(F.concat(F.lit(_QSK_SALT + "|"), F.col("o_orderkey").cast("string"))),
        F.lit(BOTTOMK_SHARDS),
    )
    for half in (0, 1):
        n = (
            orders.filter(F.col("o_orderkey") % 2 == half)
            .select(shard.alias("g")).distinct().count()
        )
        assert n == BOTTOMK_SHARDS, f"half {half} misses shards ({n})"

    src = str(tmp_path / "ord_restart")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")

    def add(half, name):
        d = str(tmp_path / f"w{half}")
        orders.filter(F.col("o_orderkey") % 2 == half).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(d, f), os.path.join(src, name))

    add(0, "a.parquet")
    run_stream_bottomk(
        spark, src, _QSK_K, _QSK_SALT, query_name="t_qsk_restart",
        glob="*.parquet", checkpoint_location=ckpt,
    ).collect()

    add(1, "b.parquet")
    got = sorted(
        tuple(r)
        for r in run_stream_bottomk(
            spark, src, _QSK_K, _QSK_SALT, query_name="t_qsk_restart",
            glob="*.parquet", checkpoint_location=ckpt,
        ).collect()
    )
    vals = orders.select(
        F.col("o_orderkey").alias("key"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    want = sorted(
        (r["h"], r["key"], r["cents"]) for r in _qsk_bottom_k(vals).collect()
    )
    assert got == want
    # both halves genuinely contribute to the final synopsis
    assert {k % 2 for _, k, _ in want} == {0, 1}


def test_stream_bitmap_state_survives_restart(spark, tmp_path):
    """Exactly-once for the bitmap OR fold: run 1 consumes the even-user
    half of events through a checkpointed availableNow query; run 2
    (same checkpoint) consumes the odd half and the per-cell max-popcount
    rows across the accumulated sink must equal the batch cells over ALL
    events — requiring the 4096-byte binary state to round-trip through
    the RocksDB checkpoint between runs."""
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.streaming.bitmap_stream import (
        bits_md5_py,
        bucket_and_pos,
        run_stream_bitmap,
    )

    ev = table(spark, SF_DIR, "events").select("event_type", "user_id")
    src = str(tmp_path / "ev_restart")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")

    def add(parity, name):
        d = str(tmp_path / f"w{parity}")
        ev.filter(F.col("user_id") % 2 == parity).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(d, f), os.path.join(src, name))

    add(0, "a.parquet")
    run_stream_bitmap(
        spark, src, query_name="t_bm_restart",
        glob="*.parquet", checkpoint_location=ckpt,
    ).collect()

    add(1, "b.parquet")
    got = {
        (r["event_type"], r["bucket"]): (r["n_bits"], r["bits_md5"])
        for r in run_stream_bitmap(
            spark, src, query_name="t_bm_restart",
            glob="*.parquet", checkpoint_location=ckpt,
        ).collect()
    }
    batch = (
        ev.select("event_type", *bucket_and_pos("user_id"))
        .groupBy("event_type", "bucket")
        .agg(F.sort_array(F.collect_set("pos")).alias("ps"))
        .collect()
    )
    want = {
        (r["event_type"], r["bucket"]): (len(r["ps"]), bits_md5_py(r["ps"]))
        for r in batch
    }
    assert got == want
    # the merge was cross-run: every cell holds bits from both parities
    # (positions of even and odd users differ mod 2 within a bucket)
    any_cell = batch[0]["ps"]
    assert {p % 2 for p in any_cell} == {0, 1}


def test_stream_index_maintenance_commits_multiple_appends(spark):
    """r12 streamed band-index maintenance: the feed is split into part
    files and throttled to one per trigger, so the exactly-once file
    sink must commit SEVERAL appends (not one big batch) — and the
    committed store must equal the batch rebuild row-for-row (the audit
    flag, n_mismatch 0)."""
    import os

    from mapreduce_sm_spark.operators.dedup import (
        _index_digest_audit,
        _index_rebuild,
        _stream_maintained_index,
    )
    from tests.conftest import SF_DIR

    maintained, base = _stream_maintained_index(spark, SF_DIR)
    commits = [
        f
        for f in os.listdir(os.path.join(base, "sink", "_spark_metadata"))
        if f.isdigit() or f.split(".")[0].isdigit()
    ]
    assert len(commits) >= 2, commits
    row = _index_digest_audit(
        maintained, _index_rebuild(spark, SF_DIR), "stream_equals_batch"
    ).collect()[0]
    assert row["n_mismatch"] == 0 and row["stream_equals_batch"]
    assert row["n_index_rows"] > 0


def test_timed_out_stream_is_stopped_and_raises():
    """awaitTermination returns False on timeout without raising; the
    runner must stop the query and raise TimeoutError naming it, never
    hand back the prefix of batches the sink holds so far."""
    import pytest

    from mapreduce_sm_spark.streaming.runner import STREAM_TIMEOUT_S, run_closed

    class HungQuery:
        stopped = False
        waited = None

        def awaitTermination(self, timeout):
            self.waited = timeout
            return False

        def exception(self):
            return None

        def stop(self):
            self.stopped = True

    q = HungQuery()

    class Writer:
        def trigger(self, availableNow):
            assert availableNow is True
            return self

        def start(self):
            return q

    with pytest.raises(TimeoutError, match="'hung_sink_test'"):
        run_closed(Writer(), "hung_sink_test")
    assert q.stopped and q.waited == STREAM_TIMEOUT_S


def test_corrupt_committed_sink_file_raises(spark):
    """Only PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA may read back as an
    empty frame. A sink whose one committed file is corrupt must raise,
    not pass for an empty stream (whose audit would then read clean)."""
    import glob

    import pytest

    from mapreduce_sm_spark.streaming.runner import (
        SINK,
        read_committed,
        replay_stream,
        run_file_sink,
    )

    stream, base = replay_stream(spark.range(10), "corrupt_sink_test_", 1, 1)
    out = run_file_sink(stream, base, "corrupt_sink_test")
    assert out.count() == 10
    sink = os.path.join(base, SINK)
    (part,) = glob.glob(os.path.join(sink, "*.parquet"))
    with open(part, "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet") as err:
        read_committed(spark, sink, out.schema)
    assert "PATH_NOT_FOUND" not in str(err.value)
