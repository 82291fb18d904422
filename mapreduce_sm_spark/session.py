"""SparkSession bootstrap tuned for both local testing and cluster scale.

The reference hand-rolls its runtime (threads, MPMC queue, per-partition
mutex hash store — /root/reference/src/mapreduce.c:376-512). Here the
equivalent is one function that returns a properly configured SparkSession;
Spark's scheduler/shuffle/AQE replace all of it.

Scale posture (100 TB readiness):
- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  broadcast decisions survive a 1000x scale-up where static plans don't.
- shuffle.partitions is a *starting* number; AQE coalesces down locally and
  fans out on a real cluster (set higher via SPARKSM_SHUFFLE_PARTITIONS).
- Arrow enabled so any pandas_udf path is vectorized batch transfer.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-node independent.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mapreduce-sm-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    Local default: local[$SPARK_GRAFT_CPUS] (falls back to all cores).
    On a real cluster, pass master=None with spark-submit providing it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    shuffle_partitions = int(os.environ.get("SPARKSM_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: the 100 TB safety net ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- scan split sizing ---
        # Spark floors split size at openCostInBytes; the 4 MB default
        # leaves a 10 MB parquet file at ~3 tasks on a 32-core local run.
        # 512 KB is a truer open-cost for parquet and lets small inputs
        # split to cluster width; at 100 TB split size is governed by
        # maxPartitionBytes (128 MB default), so this is scale-neutral.
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # --- python <-> JVM transfer is always Arrow-batched ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (sources/refmr_source.py
        # implements pushFilters; Spark refuses such readers unless this
        # opt-in is set)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # --- deterministic timestamp semantics (matches DuckDB oracle) ---
        .config("spark.sql.session.timeZone", "UTC")
        # the events fixture stores TIMESTAMP(NANOS); read as long up front
        # so streaming readers don't have to mutate session conf mid-query
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # quieter local runs; harmless on cluster
        .config("spark.ui.showConsoleProgress", "false")
    )
    # local[N] runs executors inside the driver JVM: Spark's 1g default
    # heap serves 32 concurrent tasks, which GC-thrashes on wide
    # aggregation buffers. Applies only when THIS process launches the
    # JVM; spark-submit / cluster managers override it.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARKSM_DRIVER_MEMORY", "8g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


# One generation of cached frames per operator tag. A query that returns
# a LAZY DataFrame built on cached inputs cannot unpersist them on exit —
# the caller's collect() still needs the blocks — but never unpersisting
# accumulates block-store entries for the session's lifetime (ADVICE r05,
# graph.py caches). Releasing the previous generation at operator
# RE-ENTRY bounds the leak to one generation per operator.
#
# ORDER MATTERS: release must run BEFORE the new invocation creates its
# caches. Spark's CacheManager dedupes entries by logical-plan EQUALITY,
# and a repeated invocation on the same inputs builds plan-identical
# frames — so unpersisting the old generation after the new cache()
# calls would drop the new generation's data too (it shares the entry).
_LIVE_CACHES: dict[str, list] = {}


def release_caches(tag: str) -> None:
    """Unpersist the frames the previous invocation under `tag` cached.
    Call at operator ENTRY, before any .cache()/.persist() of this
    invocation. The previous invocation's returned lazy frame stays
    CORRECT (unpersist only drops blocks; lineage recomputes)."""
    for old in _LIVE_CACHES.pop(tag, []):
        try:
            old.unpersist()
        except Exception:
            pass  # session restarted under the frame; nothing to free


def track_caches(tag: str, *dfs) -> None:
    """Record already-cached frames as `tag`'s live generation, to be
    freed by the next invocation's release_caches(tag)."""
    _LIVE_CACHES.setdefault(tag, []).extend(
        d for d in dfs if d is not None
    )


def _register_on_manager(jsession, sc, cls) -> None:
    """Register `cls` directly on a JVM session's DataSourceManager —
    the exact call DataSourceRegistration.register performs, minus its
    broken context-global ALREADY_EXISTS pre-check.

    Leans on pyspark-private internals (_wrap_function, the JVM
    sessionState().dataSourceManager() path) that a patch release can
    shift (ADVICE r07): the surfaces were probed against pyspark 4.1.x,
    so any other minor line fails loudly here rather than mysteriously
    at stream start."""
    import pyspark

    if not pyspark.__version__.startswith("4.1."):
        raise RuntimeError(
            "register_data_source's private-API fallback was validated "
            f"against pyspark 4.1.x only (running {pyspark.__version__}); "
            "re-probe DataSourceManager/_wrap_function before trusting it"
        )
    manager = jsession.sessionState().dataSourceManager()
    if manager.dataSourceExists(cls.name()):
        return
    from pyspark.sql.udf import _wrap_function

    wrapped = _wrap_function(sc, cls)
    uds = getattr(
        sc._jvm,
        "org.apache.spark.sql.execution.datasources"
        ".v2.python.UserDefinedPythonDataSource",
    )(wrapped)
    manager.registerDataSource(cls.name(), uds)


def register_data_source(spark: SparkSession, cls) -> None:
    """Idempotent, cross-session-safe Python DataSource registration.

    Spark 4.1's Python data-source plumbing is session-inconsistent
    (probed empirically, tests/test_session_conf_independence.py):
      - BATCH read/write looks the name up in the QUERYING session's
        DataSourceManager;
      - STREAMING write resolves it through the DEFAULT session's
        manager — a stream started from a child session fails with
        DATA_SOURCE_NOT_FOUND even when the child registered the source;
      - the DATA_SOURCE_ALREADY_EXISTS pre-check is CONTEXT-global, so a
        name registered in any other session blocks the public register
        call here while lookup still fails.
    Registering on both this session's and the default session's managers
    (bypassing the global pre-check) makes the source usable from any
    session for both batch and streaming."""
    from pyspark.errors import AnalysisException

    try:
        spark.dataSource.register(cls)
    except AnalysisException as e:
        if (e.getCondition() or "") != "DATA_SOURCE_ALREADY_EXISTS":
            raise
        try:
            _register_on_manager(spark._jsparkSession, spark.sparkContext, cls)
        except Exception as fallback_err:  # pragma: no cover
            raise RuntimeError(
                f"Python data source {cls.name()!r} is registered in "
                "another session of this context and the per-session "
                "fallback registration failed"
            ) from fallback_err
    # mirror into the default session so STREAMING lookups resolve too.
    # Best-effort, but never silent (ADVICE r07): a failed mirror makes a
    # LATER streaming write fail with DATA_SOURCE_NOT_FOUND far from this
    # cause, so leave a pointer at the scene.
    try:
        sc = spark.sparkContext
        jopt = sc._jvm.org.apache.spark.sql.SparkSession.getDefaultSession()
        if jopt.isDefined() and not jopt.get().equals(spark._jsparkSession):
            _register_on_manager(jopt.get(), sc, cls)
    except Exception as mirror_err:  # pragma: no cover - best-effort mirror
        import warnings

        warnings.warn(
            f"default-session mirror registration of data source "
            f"{cls.name()!r} failed ({mirror_err!r}); batch use works, but "
            "a streaming read/write of this source from a non-default "
            "session will fail with DATA_SOURCE_NOT_FOUND",
            RuntimeWarning,
            stacklevel=2,
        )


def session_tmpdir(prefix: str) -> str:
    """mkdtemp that is reclaimed at interpreter exit.

    Queries that detour through an on-disk format (custom_source_roundtrip,
    schema_evolution_stats) need a tmpdir that outlives their LAZY return
    DataFrame — a context-managed dir would vanish before the driver
    collects — but a bare mkdtemp leaks one directory per invocation for
    the machine's lifetime (ADVICE r05). Process-exit cleanup is the
    correct scope: nothing outlives the SparkSession that can read it."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def shared_tmpdir(prefix: str, scope: str = "") -> str:
    """One session_tmpdir per (process, prefix, scope).

    For queries that rewrite the same detour data with mode("overwrite")
    on every invocation: bench's cold+3-trial protocol would otherwise
    accumulate four full copies on disk for the process lifetime
    (ADVICE r08). Safe exactly because every write through it overwrites.

    scope: callers that persist per-scale-factor data (the ORC roundtrip,
    the Bloom store, the MinHash band index) MUST pass the FULL sf_dir
    path — a prefix-only key would hand two scale factors the same
    on-disk store, and because the returned DataFrames read it LAZILY,
    invoking the operator for sf B before collecting sf A's result would
    silently swap A's persisted data for B's (ADVICE r09: wrong customer
    set pruned before the exact re-check). The dir name carries the
    basename for readability plus a hash of the WHOLE path: keying on
    the basename alone would still collide /a/sf0.01 with /b/sf0.01
    (ADVICE r10). Spelling variants of one directory ('/a//sf0.01',
    'sf0.01' relative vs absolute, a symlinked parent) must key the SAME
    store — otherwise mixed spellings silently duplicate persisted data
    and defeat reuse — so the scope is canonicalized with realpath
    before hashing (ADVICE r11; realpath also absolutizes, so scope='/'
    keys as '/' instead of degrading to the unscoped branch)."""
    return _shared_tmpdir_cached(
        prefix, os.path.realpath(scope) if scope else ""
    )


@functools.lru_cache(maxsize=None)
def _shared_tmpdir_cached(prefix: str, scope: str) -> str:
    import hashlib

    if not scope:
        return session_tmpdir(prefix)
    base = os.path.basename(scope) or "root"
    safe = "".join(c if c.isalnum() or c in "._-" else "_" for c in base)
    digest = hashlib.md5(scope.encode("utf-8")).hexdigest()[:8]
    return session_tmpdir(f"{prefix}{safe}_{digest}_")


# Fixture tables materialized by the test-data driver (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _size_bytes(v: str) -> int:
    """Parse a Spark size conf value ('134217728b', '128m', '512k', ...)."""
    v = v.strip().lower()
    for suf, mult in (
        ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
        ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("b", 1),
    ):
        if v.endswith(suf):
            return int(float(v[: -len(suf)]) * mult)
    return int(float(v))


# fan_out width decisions, keyed by (input file set, parallelism). The scan
# width of a fixed file set under fixed confs never changes within a session,
# so the estimate runs once per table, not once per query.
_FAN_OUT_WIDE: dict[tuple, bool] = {}


def _scan_is_wide(df, n: int) -> bool:
    """Estimate whether df's file scan already splits to >= n partitions,
    WITHOUT converting to an RDD (df.rdd forces full physical planning plus
    plan-to-RDD conversion per call — a measurable driver tax on ~1 s
    queries; BENCH_r02 regression, VERDICT r2 item 3).

    Replays Spark's FilePartition arithmetic from the file sizes:
      maxSplitBytes = min(maxPartitionBytes, max(openCost, totalBytes/n))
      splits ~= totalBytes / maxSplitBytes
    Files we cannot stat (non-local URIs) fall back to len(files) as a
    lower bound on split count — on a remote 100 TB layout there are far
    more files than cores, so the repartition is correctly skipped."""
    spark = df.sparkSession
    files = tuple(sorted(df.inputFiles()))
    if not files:
        # not a file scan (in-memory / already-shuffled frame): the size
        # heuristic has nothing to read, so pay the RDD probe — this path
        # never occurs for the registered queries, which fan_out right
        # after a table() scan
        return df.rdd.getNumPartitions() >= n
    key = (files, n)
    wide = _FAN_OUT_WIDE.get(key)
    if wide is not None:
        return wide
    sizes = []
    statable = True
    for f in files:
        # file:///p and file:/p both leave a stat-able POSIX path after the
        # scheme; extra leading slashes are harmless. Other schemes
        # (hdfs:, s3a:) fail the stat and take the file-count fallback.
        path = f[5:] if f.startswith("file:") else f
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            statable = False
            break
    if not statable:
        wide = len(files) >= n
    else:
        max_part = _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        open_cost = _size_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
        )
        total = sum(sizes) + open_cost * len(sizes)
        max_split = min(max_part, max(open_cost, total // max(n, 1)))
        est_splits = -(-total // max(max_split, 1))  # ceil div
        wide = est_splits >= n
    _FAN_OUT_WIDE[key] = wide
    return wide


def fan_out(df, *keys: str):
    """Repartition a frame to cluster width before a compute-expanding stage.

    Small parquet scans (documents at test SF is one input split) would
    otherwise run per-row-heavy stages (shingling, md5, tokenize+explode)
    single-threaded. The shuffle moves the raw rows once — cheap relative to
    the ~10x expansion the next stage produces.

    Width-aware: when the scan already yields >= cluster-width partitions
    (the 100 TB case — thousands of parquet splits), the repartition is
    skipped entirely. AQE does NOT remove a user-requested repartition, so
    an unconditional one would re-shuffle the full corpus for nothing.
    The width check is a memoized file-size estimate, never an RDD probe."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    if _scan_is_wide(df, n):
        return df
    return df.repartition(n, *keys) if keys else df.repartition(n)


# set-once guard: setCheckpointDir is global to the SparkContext
_CHECKPOINT_DIR_SET = False


def checkpoint_df(df):
    """Lineage-truncating checkpoint for iterative algorithms, with a
    cluster-real switch.

    Default: localCheckpoint — blocks live on executors, fastest, fine for
    single-JVM local runs. localCheckpoint is NOT durable: losing one
    executor invalidates the frame, so a long-running job on a real
    cluster must checkpoint to reliable storage instead. Setting
    SPARKSM_CHECKPOINT_DIR (an HDFS/S3/posix path visible to all
    executors) switches every iterative operator to reliable
    df.checkpoint() into that directory — no code change."""
    ckpt_dir = os.environ.get("SPARKSM_CHECKPOINT_DIR")
    if not ckpt_dir:
        return df.localCheckpoint(eager=True)
    global _CHECKPOINT_DIR_SET
    if not _CHECKPOINT_DIR_SET:
        df.sparkSession.sparkContext.setCheckpointDir(ckpt_dir)
        _CHECKPOINT_DIR_SET = True
    return df.checkpoint(eager=True)


def table(spark: SparkSession, sf_dir: str, name: str):
    """Read one fixture table. Column pruning/predicate pushdown happen at
    the parquet scan because callers select/filter on the returned frame.

    The events fixture stores TIMESTAMP(NANOS) which Spark's vectorized
    parquet reader rejects; we read nanos as long (legacy flag) and convert
    to a micros timestamp (floor division — matching DuckDB's nanos->micros
    truncation)."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df
    return spark.read.parquet(path)
