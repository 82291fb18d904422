"""Workload definitions: input sizes, generator parameters, job mixes, and
the layer -> end-to-end metric -> workload predictions.

BENCHMARK.json has a fixed set of keys, so the sizes and predictions live
here; run records copy them verbatim.
"""

from __future__ import annotations

# Work directory inside the checkout (gitignored): seeded input cache,
# per-run records, span files and sink output.
WORK_DIR = ".perfbench_work"
# Datasets kept per input kind; older seeds are evicted.
CACHE_KEEP = 3

# Driver JVM heap for the benchmark session (session.get_spark reads it).
DRIVER_MEMORY = "4g"

INPUTS = {
    # ~24 MB, 300k lines of 4-16 words, 50k-word vocabulary; "data" at
    # Zipf rank 100 so string_match keeps ~1% of lines
    "text": {
        "full": dict(vocab=50_000, lines=300_000, min_words=4, max_words=16,
                     zipf_s=1.0, search_word="data", search_rank=100),
        "tiny": dict(vocab=2_000, lines=4_000, min_words=4, max_words=16,
                     zipf_s=1.0, search_word="data", search_rank=20),
    },
    # TPC-H ratios at sf 0.3: lineitem ~1.8M rows, orders 450k
    "star": {
        "full": dict(sf=0.3),
        "tiny": dict(sf=0.002),
    },
    # 600 documents of 20-60 Zipf words; 15% near-duplicates (2 word
    # edits of an earlier document, chains at most 2 copies deep)
    "documents": {
        "full": dict(docs=600, vocab=5_000, min_words=20, max_words=60,
                     zipf_s=1.0, dup_share=0.15, edits=2, max_depth=2),
        "tiny": dict(docs=120, vocab=500, min_words=20, max_words=60,
                     zipf_s=1.0, dup_share=0.15, edits=2, max_depth=2),
    },
}

WORKLOADS = {
    "mr_text": {
        "input": "text",
        "jobs": ["wordcount", "string_match"],
        "sink": "write_formatted_text (one file, the CLI's contract)",
    },
    "relational": {
        "input": "star",
        "jobs": ["q1_pricing_summary", "q3_shipping_priority",
                 "q5_local_supplier_volume", "q9_product_profit"],
        "sink": "toPandas (at most a few hundred rows)",
    },
    "llm_dedup": {
        "input": "documents",
        "jobs": ["dedup_minhash", "corpus_near_dedup"],
        "sink": "toPandas (at most a few hundred rows)",
    },
}

ALL_JOBS = [j for w in WORKLOADS.values() for j in w["jobs"]]

# Warm-up: after the first cycle, run at least WARM_MIN cycles, and keep
# warming while each cycle is more than 3% faster than the one before, up
# to WARM_MAX cycles. (llm_dedup's JIT warm-up outlasts two cycles.)
WARM_MIN = 2
WARM_MAX = 3
# Traced runs alternate this many untraced and traced cycles.
TRACE_PAIRS = 2

# layer metric -> end-to-end metric it should move -> where it moves
# (and where it should not). Copied into every traced run's record.
PREDICTIONS = [
    ("session.get_spark_s", "setup_s", "every workload"),
    ("registry.load_s", "setup_s", "every workload"),
    ("sources.read_text_s", "cycle_s", "mr_text; no change on relational, llm_dedup"),
    ("sources.read_text_numbered_s", "cycle_s", "mr_text"),
    ("sources.parquet_scan_s", "cycle_s", "relational"),
    ("sources.sink_s", "cycle_s", "mr_text only"),
    ("functions.tokenize_words_s", "cycle_s", "mr_text; no change on relational"),
    ("functions.shingle_hash_s", "cycle_s", "llm_dedup"),
    ("plans.pipeline_build_s", "first_cycle_s", "mr_text"),
    ("operators.<job>.plan_s", "cycle_s, first_cycle_s", "the job's workload"),
    ("operators.<job>.exec_s", "cycle_s", "the job's workload"),
    ("operators.<job>.task_skew", "cycle_s", "llm_dedup"),
    ("trace.overhead_s", "none (traced minus untraced cycle_s)", "the traced workload"),
]

OPERATOR_METRICS = [
    ("plan_s", "s"), ("exec_s", "s"), ("executor_run_s", "s"),
    ("core_util", "ratio"), ("shuffle_write_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_records", "count"),
    ("spill_bytes", "bytes"), ("gc_s", "s"), ("tasks", "count"),
    ("task_skew", "ratio"), ("output_rows", "count"), ("yield", "ratio"),
]

LAYER_METRICS = [
    ("session.get_spark_s", "s"), ("registry.load_s", "s"),
    ("sources.read_text_s", "s"), ("sources.read_text_numbered_s", "s"),
    ("sources.parquet_scan_s", "s"), ("sources.input_bytes", "bytes"),
    ("sources.input_records", "count"), ("sources.sink_s", "s"),
    ("sources.output_bytes", "bytes"), ("functions.tokenize_words_s", "s"),
    ("functions.shingle_hash_s", "s"), ("plans.pipeline_build_s", "s"),
    ("trace.overhead_s", "s"),
]


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric a traced run prints."""
    ops = [
        (f"operators.{job}.{m}", unit)
        for job in ALL_JOBS
        for m, unit in OPERATOR_METRICS
    ]
    return LAYER_METRICS + ops


END_TO_END = [
    ("setup_s", "s"), ("first_cycle_s", "s"), ("cycle_s", "s"),
    ("live_mem_mb", "MB"),
]
