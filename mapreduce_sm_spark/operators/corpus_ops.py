"""Corpus curation operators a training-data pipeline runs after dedup:
quality pruning, exact-quota stratified sampling, inverted-index build,
and duplicate-cluster structure metrics (§2.C north star).

Reference parity: the reference engine (mapreduce.c:167-512) has none of
these; they are §2.C extensions composed from the same registered
primitives (window functions, top-k, hash-bucketed sampling, CC labels).

100 TB posture, per query:
- quality prune: score is per-row column math; the keep decision is a
  percent_rank window partitioned by source — one shuffle on source, and
  each source's rows sort within its partition (sources are the natural
  pruning unit; a pathologically hot source is split by AQE skew
  handling since the window partitions by the groupBy key).
- stratified sample: per-stratum quotas via row_number over a
  deterministic md5 order — one shuffle on lang; no global sort, no
  driver-side sampling state (the classic exact-quota alternative to
  df.sampleBy, which is only approximate).
- inverted index: token postings then document frequency; the top-N
  token cut uses orderBy+limit (TakeOrderedAndProject — never a global
  window), and the surviving N tokens broadcast back against postings.
- cluster histogram: reuses the CC labels (see dedup.py) and folds them
  twice — both aggregates are partial-aggregable counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_sm_spark.functions.hashing import hash60, hash60_sql
from mapreduce_sm_spark.registry import REGISTRY
from mapreduce_sm_spark.session import table

# ---------------------------------------------------------------------------
# Quality pruning: keep the top half of each source by type-token ratio
# (distinct whitespace tokens / total whitespace tokens — the cheap
# repetition-penalizing score). Emits the per-source yield report a
# pruning run produces, not the kept rows (those are a filter away).
#
# Engine-portable by construction (r04 post-mortem: the percent_rank <=
# 0.5 cut over round-6 double ttr failed the driver's exact hash while
# passing the identical local gate): the score is an exact integer —
# ttr in floored parts-per-million, ttr_ppm = (distinct*1e6) div total —
# and the keep-half cut is a row_number <= ceil(n/2) rank count. No
# double appears anywhere in the ordering, the predicate, or the output.
# ---------------------------------------------------------------------------

_QUALITY_PRUNE_ORACLE = """
WITH scored AS (
  SELECT source, doc_id,
         (len(list_distinct(string_split(text, ' '))) * 1000000)
             // len(string_split(text, ' ')) AS ttr_ppm
  FROM documents
),
ranked AS (
  SELECT source, doc_id, ttr_ppm,
         row_number() OVER (PARTITION BY source
                            ORDER BY ttr_ppm DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM scored
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN rn <= (n + 1) // 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       min(CASE WHEN rn <= (n + 1) // 2 THEN ttr_ppm END) AS min_kept_ttr_ppm,
       max(ttr_ppm) AS max_ttr_ppm
FROM ranked
GROUP BY source
ORDER BY source
"""


@REGISTRY.register(
    "quality_prune_per_source",
    oracle=_QUALITY_PRUNE_ORACLE,
    headline=True,
    description="keep top-half docs per source by type-token ratio: per-source yield report",
    tags=("text", "quality", "window"),
)
def quality_prune_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("source", "doc_id", "text")
    ttr_ppm = F.expr(
        "CAST(size(array_distinct(split(text, ' ', -1))) AS BIGINT) * 1000000"
        " DIV size(split(text, ' ', -1))"
    )
    w = Window.partitionBy("source").orderBy(
        F.col("ttr_ppm").desc(), F.col("doc_id")
    )
    ranked = (
        docs.select("source", "doc_id", ttr_ppm.alias("ttr_ppm"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("source")))
    )
    keep = F.col("rn") <= F.expr("(n + 1) DIV 2")
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
            F.min(F.when(keep, F.col("ttr_ppm"))).alias("min_kept_ttr_ppm"),
            F.max("ttr_ppm").alias("max_ttr_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Exact-quota stratified sampling: ceil(20%) of each lang stratum, chosen
# by deterministic md5 order — reproducible across engines and runs,
# unlike df.sample/sampleBy (Bernoulli, approximate counts). The md5 sort
# key also makes the sample independent of input order: re-partitioned or
# re-ingested data yields the identical sample.
# ---------------------------------------------------------------------------

_STRATIFIED_ORACLE = f"""
WITH keyed AS (
  SELECT lang, doc_id,
         {hash60_sql("CAST(doc_id AS VARCHAR)", salt="strat")} AS h,
         count(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents
),
ranked AS (
  SELECT lang, doc_id, n_lang,
         row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
  FROM keyed
)
SELECT lang, doc_id, rk
FROM ranked
WHERE rk <= (n_lang + 4) // 5
ORDER BY lang, rk
"""


@REGISTRY.register(
    "stratified_sample_quota",
    oracle=_STRATIFIED_ORACLE,
    description="exact ceil(20%) per-lang sample by deterministic md5 order",
    tags=("sampling", "window"),
)
def stratified_sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("lang", "doc_id")
    keyed = docs.select(
        "lang",
        "doc_id",
        hash60(F.col("doc_id").cast("string"), salt="strat").alias("h"),
        F.count("*").over(Window.partitionBy("lang")).alias("n_lang"),
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.expr("(n_lang + 4) DIV 5"))
        .select("lang", "doc_id", "rk")
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# Inverted-index build for the highest-document-frequency tokens: the
# token -> (doc, tf) posting shape a retrieval or contamination system
# consumes. Top-token selection is orderBy+limit (TakeOrderedAndProject);
# the tiny winner set broadcasts back against the postings, so no global
# window ever sees the full vocabulary.
# ---------------------------------------------------------------------------

_N_TOP_TOKENS = 10
_N_TOP_DOCS = 3

_INVERTED_INDEX_ORACLE = f"""
WITH postings AS (
  SELECT tok AS token, doc_id, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY tok, doc_id
),
df AS (
  SELECT token, count(*) AS doc_freq FROM postings GROUP BY token
),
top_tokens AS (
  SELECT token, doc_freq FROM df
  ORDER BY doc_freq DESC, token
  LIMIT {_N_TOP_TOKENS}
),
ranked AS (
  SELECT p.token, t.doc_freq, p.doc_id, p.tf,
         row_number() OVER (PARTITION BY p.token
                            ORDER BY p.tf DESC, p.doc_id) AS rk
  FROM postings p JOIN top_tokens t ON p.token = t.token
)
SELECT token, doc_freq, doc_id, tf, rk
FROM ranked WHERE rk <= {_N_TOP_DOCS}
ORDER BY token, rk
"""


@REGISTRY.register(
    "inverted_index_topdocs",
    oracle=_INVERTED_INDEX_ORACLE,
    description="posting lists (top-3 docs by tf) for the 10 highest-df tokens",
    tags=("text", "index", "topk"),
)
def inverted_index_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    postings = (
        docs.select("doc_id", F.explode(F.split("text", " ", -1)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    top_tokens = (
        postings.groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("token"))
        .limit(_N_TOP_TOKENS)
    )
    w = Window.partitionBy("token").orderBy(F.col("tf").desc(), F.col("doc_id"))
    return (
        postings.join(F.broadcast(top_tokens), "token")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _N_TOP_DOCS)
        .select("token", "doc_freq", "doc_id", "tf", "rk")
        .orderBy("token", "rk")
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster structure: the size histogram of the near-dup
# components — the corpus-health metric that tells a pipeline whether
# duplication is long-tail (many pairs) or pathological (few giant
# clusters), and how many docs dedup will actually drop.
# ---------------------------------------------------------------------------


def _cluster_hist_oracle() -> str:
    # the 32-bit SimHash CC oracle from dedup.py, folded to sizes
    from mapreduce_sm_spark.operators.dedup import (
        _SIMHASH32,
        _cc_sql,
        _simhash_pairs_sql,
    )

    return f"""
WITH RECURSIVE {_simhash_pairs_sql(_SIMHASH32)},
{_cc_sql("documents")},
sizes AS (
  SELECT component, count(*) AS cluster_size FROM labels GROUP BY component
)
SELECT cluster_size,
       count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_dropped_by_dedup
FROM sizes
GROUP BY cluster_size
ORDER BY cluster_size
"""


# ---------------------------------------------------------------------------
# End-to-end curation report: the full pre-training data path in one plan —
# quality gate (type-token ratio) -> normalized exact dedup (keep min
# doc_id per normalized text) -> exact-quota 50% per-lang sample by
# deterministic md5 order -> per-lang yield + mixture weights. This is the
# report a data team reads before kicking off a training run.
#
# 100 TB shape: ONE shuffle carries document-scale bytes (the normalized-
# text groupBy for dedup — and only because the normalized text is the
# grouping key; hashing it first, as dedup_exact does, would shrink that
# to 16 B/row). Every other exchange in the plan moves id-width rows
# (the per-lang sample window over unique doc_ids) or per-lang aggregate
# rows; the global sampled total is a 1-row broadcast (the
# BroadcastNestedLoopJoin in the plan is that 1-row cross join). No stage
# materializes pairs or collects rows.
# ---------------------------------------------------------------------------

# Gate and mixture weights in exact integer units (floored ppm, integer
# division in both engines): the old round-6 double ttr >= 0.5 gate and
# the round-6 mixture ratio tie exactly on 2^k-heavy token counts /
# sample totals — the r04 hash-red class (quality_prune_per_source).
_TTR_GATE_PPM = 500_000

_CURATION_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         (len(list_distinct(string_split(text, ' '))) * 1000000)
             // len(string_split(text, ' ')) AS ttr_ppm
  FROM documents
),
gated AS (
  SELECT * FROM scored WHERE ttr_ppm >= {_TTR_GATE_PPM}
),
uniq AS (
  SELECT min(doc_id) AS doc_id, min(lang) AS lang
  FROM (
    SELECT doc_id, lang,
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
    FROM gated
  )
  GROUP BY norm
),
ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {hash60_sql("CAST(doc_id AS VARCHAR)", salt="cur")}, doc_id
         ) AS rk,
         count(*) OVER (PARTITION BY lang) AS n_uniq
  FROM uniq
),
sampled AS (
  SELECT lang, n_uniq, count(*) AS n_sampled
  FROM ranked WHERE rk <= (n_uniq + 1) // 2
  GROUP BY lang, n_uniq
),
raw AS (SELECT lang, count(*) AS n_raw FROM documents GROUP BY lang),
gate AS (SELECT lang, count(*) AS n_gated FROM gated GROUP BY lang),
tot AS (SELECT sum(n_sampled) AS total_sampled FROM sampled)
SELECT r.lang, r.n_raw, g.n_gated, s.n_uniq, s.n_sampled,
       CAST((s.n_sampled * 1000000) // t.total_sampled AS BIGINT)
           AS mixture_weight_ppm
FROM raw r
JOIN gate g ON r.lang = g.lang
JOIN sampled s ON r.lang = s.lang
CROSS JOIN tot t
ORDER BY r.lang
"""


@REGISTRY.register(
    "corpus_curation_report",
    oracle=_CURATION_ORACLE,
    description="end-to-end curation: quality gate -> normalized dedup -> 50% quota sample -> per-lang mixture weights",
    headline=True,
    tags=("text", "dedup", "sampling", "pipeline"),
)
def corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ttr_ppm = F.expr(
        "CAST(size(array_distinct(split(text, ' ', -1))) AS BIGINT) * 1000000"
        " DIV size(split(text, ' ', -1))"
    )
    scored = docs.select("doc_id", "lang", "text", ttr_ppm.alias("ttr_ppm"))
    gated = scored.filter(F.col("ttr_ppm") >= _TTR_GATE_PPM)

    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    uniq = (
        gated.groupBy(norm.alias("norm"))
        # min(lang), not any_value: copies of the same normalized text can
        # in principle carry different langs, and the keeper's lang must be
        # deterministic for the oracle hash
        .agg(F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang"))
        .select("doc_id", "lang")
    )

    w_rank = Window.partitionBy("lang").orderBy(
        hash60(F.col("doc_id").cast("string"), salt="cur"), F.col("doc_id")
    )
    ranked = uniq.select(
        "lang",
        "doc_id",
        F.row_number().over(w_rank).alias("rk"),
        F.count("*").over(Window.partitionBy("lang")).alias("n_uniq"),
    )
    sampled = (
        ranked.filter(F.col("rk") <= F.expr("(n_uniq + 1) DIV 2"))
        .groupBy("lang", "n_uniq")
        .agg(F.count("*").alias("n_sampled"))
    )

    raw = docs.groupBy("lang").agg(F.count("*").alias("n_raw"))
    gate = gated.groupBy("lang").agg(F.count("*").alias("n_gated"))
    tot = sampled.agg(F.sum("n_sampled").alias("total_sampled"))

    return (
        raw.join(gate, "lang")
        .join(sampled, "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_raw",
            "n_gated",
            "n_uniq",
            "n_sampled",
            F.expr("n_sampled * 1000000 DIV total_sampled").alias(
                "mixture_weight_ppm"
            ),
        )
        .orderBy("lang")
    )


@REGISTRY.register(
    "dedup_cluster_size_histogram",
    oracle=_cluster_hist_oracle(),
    description="near-dup component size distribution + docs dedup would drop",
    tags=("dedup", "graph", "iterative"),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.operators.dedup import dedup_connected_components

    labels = dedup_connected_components(spark, sf_dir)
    sizes = labels.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("n_dropped_by_dedup"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# Column profiling: the null/distinct/count census a pipeline takes of a
# new table before trusting it. One aggregation pass computes every
# column's stats (no per-column scans); the output unpivots to one row
# per column so downstream checks can diff profiles across snapshots.
# ---------------------------------------------------------------------------

_PROFILE_ORACLE = """
SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
       count(*) - count(o_custkey) AS n_null,
       count(DISTINCT o_custkey) AS n_distinct
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
       count(DISTINCT o_orderpriority) FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
       count(DISTINCT o_orderstatus) FROM orders
UNION ALL
SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
       count(DISTINCT o_totalprice) FROM orders
ORDER BY column_name
"""

_PROFILE_COLS = ("o_custkey", "o_orderpriority", "o_orderstatus", "o_totalprice")


@REGISTRY.register(
    "profile_orders_columns",
    oracle=_PROFILE_ORACLE,
    description="per-column null/distinct census of orders in one aggregation pass",
    tags=("profiling", "aggregate"),
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(*_PROFILE_COLS)
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append((F.count("*") - F.count(c)).alias(f"null_{c}"))
        aggs.append(F.count_distinct(c).alias(f"dist_{c}"))
    wide = o.agg(*aggs)
    # unpivot the single wide row into (column_name, n_rows, n_null,
    # n_distinct) via a stack expression — still one job, one scan
    stack_expr = ", ".join(
        f"'{c}', null_{c}, dist_{c}" for c in _PROFILE_COLS
    )
    return (
        wide.select(
            "n_rows",
            F.expr(
                f"stack({len(_PROFILE_COLS)}, {stack_expr}) "
                "AS (column_name, n_null, n_distinct)"
            ),
        )
        .select("column_name", "n_rows", "n_null", "n_distinct")
        .orderBy("column_name")
    )


# ---------------------------------------------------------------------------
# LM-based curation pipeline (r13) — the v2 of corpus_curation_report,
# composing the round's new capabilities into the end-to-end run a
# training-data pipeline actually executes:
#
#   1. QUALITY GATE: drop documents whose average bigram-LM surprisal
#      exceeds 1.05x the corpus mean (the perplexity-prune step, using
#      doc_lm_surprisal's exact whole-bit scoring). The cut is the
#      cross-multiplied integer inequality
#          20 * total_bits * G_n <= 21 * n_bigrams * G_total
#      (DECIMAL(38,0)/HUGEINT products — exact at any corpus size), so
#      no double ever decides membership. Documents with < 2 tokens have
#      no bigrams and fail the gate by definition (nothing to score).
#   2. EXACT DEDUP on the survivors (the dedup_exact_normalized rule:
#      lowercase/punct-collapse, keeper = min doc_id per group).
#   3. BALANCED MIXTURE: the source_mixture_sample rule on the deduped
#      survivors — every source hash-downsampled to the smallest
#      surviving source's token budget, rate test cross-multiplied into
#      exact integers.
#
# Emits the per-source funnel (raw -> quality -> dedup -> sampled with
# token yields and the exact ppm rate); every stage is replayed by the
# DuckDB oracle, sharing language_model._SURPRISAL_CTES verbatim.
#
# 100 TB shape: the expensive relation (per-doc surprisal) is the cached
# doc-bigram cascade from _doc_surprisal_frame; the quality/dedup/sample
# stages add one doc-sized join against that frame, one groupBy on the
# normalized text (the dedup shuffle), and a broadcast-filtered pass —
# report aggregates are all source-sized.
# ---------------------------------------------------------------------------


def _curation_oracle() -> str:
    from mapreduce_sm_spark.functions.text import WORD_TOKEN_RE_SQL
    from mapreduce_sm_spark.operators.language_model import _SURPRISAL_CTES

    h = hash60_sql("'mix|' || kt.doc_id::VARCHAR")
    return f"""
WITH {_SURPRISAL_CTES},
g AS (SELECT sum(total_bits)::BIGINT AS gt, sum(n_bigrams)::BIGINT AS gn FROM per_doc),
q AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id CROSS JOIN g
  WHERE 20 * p.total_bits::HUGEINT * g.gn <= 21 * p.n_bigrams::HUGEINT * g.gt
),
dd AS (
  SELECT min(doc_id) AS keep_doc_id
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nrm FROM q)
  GROUP BY nrm
),
kt AS (
  SELECT q.doc_id, q.source,
         len(regexp_extract_all(upper(q.text), '{WORD_TOKEN_RE_SQL}'))::BIGINT AS tk
  FROM q JOIN dd ON q.doc_id = dd.keep_doc_id
),
ps AS (SELECT source, sum(tk)::BIGINT AS tokens_s FROM kt GROUP BY source),
bud AS (SELECT min(tokens_s)::BIGINT AS b FROM ps),
samp AS (
  SELECT kt.doc_id, kt.source, kt.tk
  FROM kt JOIN ps USING (source) CROSS JOIN bud
  WHERE ({h} % 1000000) * ps.tokens_s < bud.b * 1000000
),
raw AS (SELECT source, count(*)::BIGINT AS n_raw FROM documents GROUP BY source),
qs AS (SELECT source, count(*)::BIGINT AS n_quality FROM q GROUP BY source),
ks AS (SELECT source, count(*)::BIGINT AS n_kept_dedup FROM kt GROUP BY source),
ss AS (SELECT source, count(*)::BIGINT AS n_sampled, sum(tk)::BIGINT AS tokens_sampled FROM samp GROUP BY source)
SELECT r.source, r.n_raw,
       coalesce(qs.n_quality, 0)::BIGINT AS n_quality,
       coalesce(ks.n_kept_dedup, 0)::BIGINT AS n_kept_dedup,
       coalesce(ss.n_sampled, 0)::BIGINT AS n_sampled,
       coalesce(ss.tokens_sampled, 0)::BIGINT AS tokens_sampled,
       coalesce((bud.b * 1000000) // ps.tokens_s, 0)::BIGINT AS rate_ppm
FROM raw r
LEFT JOIN qs USING (source)
LEFT JOIN ks USING (source)
LEFT JOIN ps USING (source)
LEFT JOIN ss USING (source)
CROSS JOIN bud
ORDER BY r.source
"""


@REGISTRY.register(
    "lm_curation_report",
    oracle=_curation_oracle(),
    description="end-to-end LM curation funnel: surprisal quality gate "
    "(<= 1.05x corpus mean, exact integers) -> normalized exact dedup -> "
    "balanced source-mixture sample, per-source yields",
    tags=("text", "quality", "dedup", "sampling", "mixing", "scale"),
    headline=True,  # r14: the most expensive registered query joins the
    # headline set so the 2x gate grades exactly where a plan regression
    # would cost the most (VERDICT r13 item 3)
)
def lm_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from mapreduce_sm_spark.functions.text import tokenize_words
    from mapreduce_sm_spark.operators.language_model import (
        _doc_surprisal_frame,
    )
    from mapreduce_sm_spark.session import release_caches, track_caches

    from mapreduce_sm_spark.functions.hashing import hash60

    docs = table(spark, sf_dir, "documents")
    # per_doc is doc-count-sized and 3 narrow columns, but consumed by
    # the corpus-mean scalar AND the gate join — uncached, each consumer
    # replays the LM-cascade joins over the (cached) bigram multiset.
    # Cache it alongside q/kt under the same tag.
    release_caches("corpus.lm_curation")
    per_doc = (
        _doc_surprisal_frame(spark, sf_dir)
        .select("doc_id", "n_bigrams", "total_bits")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    track_caches("corpus.lm_curation", per_doc)
    # r17 (VERDICT r16 item 6): barrier + corpus-mean scalars in ONE
    # job — the agg materializes the per_doc cache exactly like the old
    # count() barrier did, and returns the two exact long sums the gate
    # needs, so the old 1-row `g` frame's separately-serialized
    # broadcast-build job disappears (A/B at sf0.1: ~5.1 s vs ~5.9 s
    # warm, winner at every alternating pair). Driver state is two
    # longs — never corpus-sized.
    grow = per_doc.agg(
        F.sum("total_bits").alias("gt"), F.sum("n_bigrams").alias("gn")
    ).collect()[0]
    gt, gn = int(grow["gt"] or 0), int(grow["gn"] or 0)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    # quality gate — exact integer cross-multiply (DECIMAL(38,0)
    # products). The surviving frame is projected NARROW in the same
    # pass: the dedup key travels as a hash and the token count as a
    # long, so the tail's three consumers (dedup groupBy, keeper
    # join-back, per-source census) share ONE parquet text decode +
    # gate join instead of re-scanning text per consumer (r16 opt
    # round: tail 2.8 s -> 1.2 s at sf0.1). r17 (VERDICT r16 item 2):
    # the key is BOTH md5 halves (2 x 60 bits from one md5 call —
    # subexpression elimination computes the digest once), not the
    # single 60-bit prefix: this operator's dedup stage is EXACT by
    # contract, and at 10^9 docs the birthday bound on 60 bits gives a
    # ~35-40% chance of silently merging two distinct normalized texts;
    # at 120 bits it is ~4e-19. Same plan shape (16-byte key vs 8).
    # same exact-integer cross-multiply as before, with the corpus
    # totals as long literals (identical values, identical
    # DECIMAL(38,0)*LONG typing) instead of columns from a broadcast
    # 1-row frame
    q = (
        docs.join(per_doc.select("doc_id", "n_bigrams", "total_bits"), "doc_id")
        .filter(
            F.expr(
                f"20 * CAST(total_bits AS DECIMAL(38,0)) * {gn}L"
                f" <= 21 * CAST(n_bigrams AS DECIMAL(38,0)) * {gt}L"
            )
        )
        .select(
            "doc_id",
            "source",
            F.conv(F.substring(F.md5(norm), 1, 15), 16, 10)
            .cast("long")
            .alias("nh"),
            F.conv(F.substring(F.md5(norm), 16, 15), 16, 10)
            .cast("long")
            .alias("nh2"),
            F.size(tokenize_words("text")).cast("long").alias("tk"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    track_caches("corpus.lm_curation", q)
    # materialization barrier (the dedup_ngram_jaccard lesson): AQE
    # launches the report's broadcast-build jobs concurrently, and
    # concurrent FIRST readers of a lazy cache each recompute it
    q.count()
    dd = q.groupBy("nh", "nh2").agg(F.min("doc_id").alias("keep_doc_id"))
    # kt (doc-count-sized, 3 narrow columns) feeds the budgets AND the
    # sample AND two report aggregates — cache it (the mixture-sampler
    # rationale); its build is a narrow join of the cached q frame
    kt = (
        q.join(dd, q.doc_id == dd.keep_doc_id)
        .select("doc_id", "source", "tk")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    track_caches("corpus.lm_curation", kt)
    # (no count() barrier on kt: its build is a narrow join of the
    # already-materialized q cache, so a concurrent double-build costs
    # ~nothing — A/B with the barrier measured a wash, r17)
    ps = kt.groupBy("source").agg(F.sum("tk").alias("tokens_s"))
    bud = ps.agg(F.min("tokens_s").alias("b"))
    key = F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))
    samp = (
        kt.join(F.broadcast(ps), "source")
        .crossJoin(F.broadcast(bud))
        .filter((hash60(key) % 1000000) * F.col("tokens_s") < F.col("b") * 1000000)
    )
    raw = docs.groupBy("source").agg(F.count("*").alias("n_raw"))
    qs = q.groupBy("source").agg(F.count("*").alias("n_quality"))
    ks = kt.groupBy("source").agg(F.count("*").alias("n_kept_dedup"))
    ss = samp.groupBy("source").agg(
        F.count("*").alias("n_sampled"), F.sum("tk").alias("tokens_sampled")
    )
    return (
        raw.join(qs, "source", "left")
        .join(ks, "source", "left")
        .join(ps, "source", "left")
        .join(ss, "source", "left")
        .crossJoin(F.broadcast(bud))
        .select(
            "source",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).cast("long").alias("n_quality"),
            F.coalesce("n_kept_dedup", F.lit(0)).cast("long").alias("n_kept_dedup"),
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
            F.coalesce("tokens_sampled", F.lit(0))
            .cast("long")
            .alias("tokens_sampled"),
            F.coalesce(F.expr("(b * 1000000) div tokens_s"), F.lit(0))
            .cast("long")
            .alias("rate_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# N-gram novelty curve (r16, late). The data-curation question behind
# "should we crawl more of this source" is SATURATION: as the corpus
# grows in ingestion order, what fraction of incoming n-grams has never
# been seen before? A flattening novelty curve means additional data is
# re-treading existing content (diminishing diversity returns —
# the corpus-level counterpart of the per-doc repetition gates, and the
# measurement behind epoch/dedup trade-off decisions in the
# data-constrained scaling literature, e.g. Muennighoff et al. 2023).
#
# Semantics (exact, both engines): docs are bucketed into NB = 10 equal
# doc_id ranges ("ingestion deciles"); a word 3-gram is NEW in the
# bucket where its global min(doc_id) falls. Per bucket: docs, total
# gram occurrences, distinct first-seen grams, and novelty per-mille
# (new distinct / total occurrences).
#
# 100 TB posture: total gram counts are ROW-LOCAL (len(w) - 2 per doc —
# the corpus is never exploded for the denominator); the only corpus
# exchange is the first-seen aggregate, a partial-aggregable min over
# hash60 gram keys (grams travel as longs, never strings). The bucket
# rollups are <= NB rows; the max-doc_id scalar and the bucket join are
# broadcast one-row / NB-row frames.
# ---------------------------------------------------------------------------

_NOV_NB = 10  # ingestion-order buckets
_NOV_NG = 3  # word-gram length

_NOV_G = (
    "list_transform(generate_series(1, greatest(len(w) - "
    f"{_NOV_NG - 1}, 0)), i -> "
    + hash60_sql(f"array_to_string(w[i:i+{_NOV_NG - 1}], ' ')")
    + ")"
)

_NOVELTY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(upper(text), '[A-Z][A-Z'']*') AS w
  FROM documents
),
mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
occ AS (
  SELECT (doc_id * {_NOV_NB}) // m AS bucket,
         count(*)::BIGINT AS n_docs,
         sum(greatest(len(w) - {_NOV_NG - 1}, 0))::BIGINT AS n_grams_total
  FROM t CROSS JOIN mx GROUP BY 1
),
firsts AS (
  SELECT gh, min(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest({_NOV_G}) AS gh FROM t)
  GROUP BY gh
),
nb AS (
  SELECT (first_doc * {_NOV_NB}) // m AS bucket,
         count(*)::BIGINT AS n_new_distinct
  FROM firsts CROSS JOIN mx GROUP BY 1
)
SELECT occ.bucket::BIGINT AS bucket, occ.n_docs, occ.n_grams_total,
       coalesce(nb.n_new_distinct, 0)::BIGINT AS n_new_distinct,
       (coalesce(nb.n_new_distinct, 0) * 1000
           // greatest(occ.n_grams_total, 1))::BIGINT AS novelty_pm
FROM occ LEFT JOIN nb USING (bucket)
ORDER BY bucket
"""


@REGISTRY.register(
    "ngram_novelty_curve",
    oracle=_NOVELTY_ORACLE,
    description="corpus saturation diagnostic: per ingestion-order "
    "decile, the share of word-3-gram occurrences that are first-ever "
    "appearances (exact per-mille) — the diversity curve behind "
    "crawl-more vs dedup-harder decisions",
    tags=("text", "corpus", "diagnostics"),
)
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.functions.text import tokenize_words
    from mapreduce_sm_spark.session import fan_out

    n_g, nb = _NOV_NG, _NOV_NB
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", tokenize_words("text").alias("w")
    )
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))
    bucket_of = lambda c: F.expr(f"({c} * {nb}) DIV m")  # noqa: E731
    occ = (
        docs.crossJoin(F.broadcast(mx))
        .select(
            bucket_of("doc_id").alias("bucket"),
            F.greatest(F.size("w") - (n_g - 1), F.lit(0)).alias("gc"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("gc").cast("long").alias("n_grams_total"),
        )
    )
    # pre-filter short docs: Spark's sequence(1, 0) would be a DESCENDING
    # [1, 0], not the empty list DuckDB's generate_series yields — the
    # filter makes the gramless-doc case identical on both engines
    grams = (
        fan_out(docs.filter(F.size("w") >= n_g), "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - (n_g - 1)),
                    lambda i: hash60(F.array_join(F.slice("w", i, n_g), " ")),
                )
            ).alias("gh"),
        )
    )
    firsts = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    new_b = (
        firsts.crossJoin(F.broadcast(mx))
        .select(bucket_of("first_doc").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_new_distinct"))
    )
    zero = F.lit(0).cast("long")
    return (
        occ.join(F.broadcast(new_b), "bucket", "left")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_docs",
            "n_grams_total",
            F.coalesce("n_new_distinct", zero).alias("n_new_distinct"),
            F.expr(
                "coalesce(n_new_distinct, 0) * 1000"
                " DIV greatest(n_grams_total, 1)"
            )
            .cast("long")
            .alias("novelty_pm"),
        )
        .orderBy("bucket")
    )
