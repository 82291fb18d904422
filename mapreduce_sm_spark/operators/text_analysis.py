"""Text-analysis operators for training-data pipelines (§2.C):
quality stats, language-ID heuristic, BPE-ish token counting, and
rolling-hash document fingerprints. All pure column expressions —
JVM-side, codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_sm_spark.functions.hashing import hash60_sql
from mapreduce_sm_spark.functions.text import char_shingles
from mapreduce_sm_spark.registry import REGISTRY
from mapreduce_sm_spark.session import table

# ---------------------------------------------------------------------------
# quality stats
# ---------------------------------------------------------------------------

# Ratios are emitted as exact PPM integers (floored parts-per-million,
# integer division in both engines): round(small_int / small_int, 6)
# ties exactly whenever the denominator carries enough powers of two
# (e.g. n_chars = 128·odd), where engine round conventions can split —
# the r04 hash-red class. Integer floor has no tie.

_STATS_ORACLE = """
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+')) AS n_tokens,
       length(text) AS n_chars,
       (len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 1000000)
           // length(text) AS punct_ppm,
       (length(text) * 1000000)
           // nullif(len(regexp_extract_all(text, '[A-Za-z]+')), 0)
           AS chars_per_token_ppm
FROM documents
ORDER BY doc_id
"""


@REGISTRY.register(
    "text_quality_stats",
    oracle=_STATS_ORACLE,
    description="per-doc quality stats: token count, punct ppm, chars/token ppm",
    tags=("text",),
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.expr(
                "CAST(size(regexp_extract_all(text, '[A-Za-z]+', 0)) AS BIGINT)"
            ).alias("n_tokens"),
            F.length("text").cast("long").alias("n_chars"),
            F.expr(
                "CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '')) AS BIGINT)"
                " * 1000000 DIV length(text)"
            ).alias("punct_ppm"),
            F.expr(
                "CAST(length(text) AS BIGINT) * 1000000"
                " DIV nullif(size(regexp_extract_all(text, '[A-Za-z]+', 0)), 0)"
            ).alias("chars_per_token_ppm"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# language-ID heuristic: stopword-hit scoring with a fixed priority order.
# (The fixture corpus is synthetic word soup, so the interesting property is
# determinism + plumbing, not linguistic accuracy.)
# ---------------------------------------------------------------------------

_STOPWORDS = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "que"),
    "de": ("der", "die", "das", "und", "zu"),
    "zh": ("de", "le", "shi", "wo", "ni"),
}
_LANG_ORDER = ("en", "es", "fr", "de", "zh")


def _score_sql(lang: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return (
        f"len(list_filter(regexp_extract_all(lower(text), '[a-z]+'), "
        f"t -> t IN ({inlist})))"
    )


_LANG_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN s_{lang} > 0 AND s_{lang} >= greatest("
        + ", ".join(f"s_{o}" for o in _LANG_ORDER if o != lang)
        + f") THEN '{lang}'"
        for lang in _LANG_ORDER
    )
    + " ELSE 'unknown' END"
)

_LANGID_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang AS declared_lang,
         {', '.join(f'{_score_sql(lang)} AS s_{lang}' for lang in _LANG_ORDER)}
  FROM documents
)
SELECT doc_id, declared_lang, {_LANG_CASE_SQL} AS predicted_lang,
       ({_LANG_CASE_SQL} = declared_lang) AS agree
FROM scored
ORDER BY doc_id
"""


@REGISTRY.register(
    "lang_id_heuristic",
    oracle=_LANGID_ORACLE,
    description="n-gram/stopword language-ID heuristic with deterministic argmax",
    tags=("text",),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))

    def score(lang: str):
        words = _STOPWORDS[lang]
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scored = docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        *[score(lang).alias(f"s_{lang}") for lang in _LANG_ORDER],
    )
    pred = F.lit("unknown")
    # build CASE from last to first so earlier langs win ties (same priority
    # order as the SQL CASE above)
    for lang in reversed(_LANG_ORDER):
        others = [F.col(f"s_{o}") for o in _LANG_ORDER if o != lang]
        pred = F.when(
            (F.col(f"s_{lang}") > 0)
            & (F.col(f"s_{lang}") >= F.greatest(*others)),
            F.lit(lang),
        ).otherwise(pred)
    # Note: building from reversed order with nested otherwise gives the
    # FIRST matching lang priority, matching SQL CASE evaluation order.
    pred_expr = pred
    return (
        scored.select(
            "doc_id",
            "declared_lang",
            pred_expr.alias("predicted_lang"),
            (pred_expr == F.col("declared_lang")).alias("agree"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BPE-ish token counting per language group
# ---------------------------------------------------------------------------

_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

_TOKCOUNT_ORACLE = f"""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT)
         AS total_tokens,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens
FROM documents
GROUP BY lang
ORDER BY lang
"""


@REGISTRY.register(
    "token_count",
    oracle=_TOKCOUNT_ORACLE,
    description="BPE-ish + whitespace token counts per language",
    tags=("text",),
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0)))
    ws = F.size(F.split("text", " ", -1))
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(bpe.cast("long")).alias("total_tokens"),
            F.sum(ws.cast("long")).alias("total_ws_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# document fingerprint: polynomial rolling hash over characters,
# acc = (acc*131 + code(ch)) mod 1e9+7 — identical fold in both engines.
# ---------------------------------------------------------------------------

_FP_MOD = 1_000_000_007

_FP_ORACLE = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(list_transform(generate_series(1, length(text)), i -> substr(text, i, 1)),
                          c -> ascii(c)::BIGINT)),
         (acc, c) -> (acc * 131 + c) % {_FP_MOD}
       ) AS fingerprint
FROM documents
ORDER BY doc_id
"""


@REGISTRY.register(
    "doc_fingerprint",
    oracle=_FP_ORACLE,
    description="polynomial rolling-hash fingerprint per document",
    tags=("text", "hash"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    chars = char_shingles(F.col("text"), 1)
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 131 + F.ascii(ch).cast("long")) % _FP_MOD,
    )
    return docs.select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# TF-IDF top terms per document. The idf is the LOG-FREE rational variant
# idf = (N + 1) / (df + 1): natural log is libm-dependent (JVM vs DuckDB
# need not round identically), while integer-ratio division is a single
# correctly-rounded double op in both engines — so scores and therefore
# rankings match bit-for-bit.
# 100 TB: two shuffles (term df aggregate, per-doc window) — the df side
# is vocabulary-sized and broadcast back.
# ---------------------------------------------------------------------------

_TFIDF_TOPN = 3

_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, score_micro, rn AS rank
FROM (
  SELECT tf.doc_id, tf.term,
         (tf.tf * (n.n_docs + 1) * 1000000) // (df.df + 1) AS score_micro,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY (tf.tf * (n.n_docs + 1) * 1000000) // (df.df + 1) DESC,
                                     tf.term ASC) AS rn
  FROM tf JOIN df USING (term) CROSS JOIN n
)
WHERE rn <= {_TFIDF_TOPN}
ORDER BY doc_id, rank
"""


@REGISTRY.register(
    "tfidf_top_terms",
    oracle=_TFIDF_ORACLE,
    description="TF-IDF (rational idf, exact micro-integer score) top-3 terms per document",
    tags=("text", "aggregate", "window"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from mapreduce_sm_spark.session import fan_out

    docs = fan_out(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.count()  # scalar job; at scale a cheap metadata count
    # exact floored micro-score: round(tf*(N+1)/(df+1), 6) ties exactly
    # when (df+1) is 2^k-heavy (the r04 hash-red class); integer floor
    # division has no tie and both engines agree bit-for-bit. Headroom:
    # tf<=doc len, (N+1)*1e6 <= 1e13 at sf10 -> product < 2^63.
    score = F.expr(
        f"tf * {n_docs + 1}L * 1000000L DIV (df + 1)"
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        tf.join(df, "term")
        .select("doc_id", "term", score.alias("score_micro"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_TOPN)
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# corpus composition: per (source, lang) rollup with subtotals — the
# "where did my training data come from" report. Integer sums -> exact avg.
# ---------------------------------------------------------------------------

_SOURCE_ORACLE = """
SELECT source, lang, count(*) AS n_docs,
       (sum(n_chars)::DOUBLE / count(*)::DOUBLE) AS avg_chars,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY ROLLUP (source, lang)
ORDER BY source NULLS FIRST, lang NULLS FIRST
"""


@REGISTRY.register(
    "corpus_source_rollup",
    oracle=_SOURCE_ORACLE,
    description="per-source/lang corpus composition rollup with subtotals",
    tags=("text", "aggregate", "grouping-sets"),
)
def corpus_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            (
                F.sum("n_chars").cast("double")
                / F.count("*").cast("double")
            ).alias("avg_chars"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy(
            F.col("source").asc_nulls_first(), F.col("lang").asc_nulls_first()
        )
    )


# ---------------------------------------------------------------------------
# Sequence-packing plan: assign documents to fixed-size context windows.
# Sequential packing by running token count: docs stream in a pinned order
# (lang, doc_id); pack_id = floor(preceding_cumulative_tokens / WINDOW).
# One window shuffle per lang partition — deterministic, and the oracle
# replays the identical cumsum. (Greedy best-fit packs tighter but is
# inherently sequential; streaming pipelines use exactly this
# order-preserving variant so shard boundaries stay reproducible.)
# ---------------------------------------------------------------------------

_PACK_WINDOW = 2048  # tokens per training sequence

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(text, '{_BPE_RE}'))::BIGINT AS n_tokens
  FROM documents
),
runs AS (
  SELECT doc_id, lang, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
  FROM toks
)
SELECT doc_id, lang, n_tokens,
       (tokens_before // {_PACK_WINDOW})::BIGINT AS pack_id,
       (tokens_before % {_PACK_WINDOW})::BIGINT AS pack_offset
FROM runs
ORDER BY lang, doc_id
"""


@REGISTRY.register(
    "sequence_packing_plan",
    oracle=_PACK_ORACLE,
    description="assign docs to fixed-token context windows via running counts",
    tags=("text", "window", "packing"),
)
def sequence_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(
        F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0))
    ).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    runs = toks.withColumn(
        "tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return runs.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(F.col("tokens_before") / _PACK_WINDOW).cast("long").alias("pack_id"),
        (F.col("tokens_before") % _PACK_WINDOW).cast("long").alias("pack_offset"),
    ).orderBy("lang", "doc_id")


# ---------------------------------------------------------------------------
# posexplode / LATERAL generator: first 3 tokens of each document with
# their positions — the 1:N row-generator correlated with its input row
# (the reference's map-UDF emit-many shape, typed).
# ---------------------------------------------------------------------------

_POSEXPLODE_ORACLE = """
SELECT doc_id, u.pos - 1 AS pos, u.tok
FROM (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z]+')[1:3] AS toks
  FROM documents
), LATERAL (
  SELECT generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
) u
ORDER BY doc_id, pos
"""


@REGISTRY.register(
    "posexplode_first_tokens",
    oracle=_POSEXPLODE_ORACLE,
    description="correlated 1:N generator (posexplode) with positions",
    tags=("text", "generator"),
)
def posexplode_first_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.slice(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0)),
        1,
        3,
    )
    return (
        docs.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
        .orderBy("doc_id", "pos")
    )


# ---------------------------------------------------------------------------
# End-to-end corpus cleaning pipeline — the composition a training-data
# build actually runs, as ONE declarative plan: quality gate -> normalized
# exact-dedup keep-list -> per-(source, lang) yield report. Catalyst fuses
# the stages (the quality filter pushes into the scan; dedup is one shuffle
# on the normalized text; the report is a partial-agg rollup) — at 100 TB
# this is a 2-shuffle pipeline end to end.
# ---------------------------------------------------------------------------

_CLEAN_MIN_TOKENS = 25
_CLEAN_MAX_PUNCT = 0.05

_CLEAN_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, lang, text,
         len(regexp_extract_all(text, '[A-Za-z]+')) AS n_tokens,
         len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))::DOUBLE
           / length(text)::DOUBLE AS punct_ratio
  FROM documents
),
kept AS (
  SELECT * FROM scored
  WHERE n_tokens >= {_CLEAN_MIN_TOKENS} AND punct_ratio <= {_CLEAN_MAX_PUNCT}
),
deduped AS (
  SELECT min(doc_id) AS doc_id, any_value(source) AS source,
         any_value(lang) AS lang, any_value(n_tokens) AS n_tokens
  FROM (
    SELECT doc_id, source, lang, n_tokens,
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
    FROM kept
  )
  GROUP BY norm
)
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM deduped
GROUP BY source, lang
ORDER BY source, lang
"""


@REGISTRY.register(
    "corpus_clean_pipeline",
    oracle=_CLEAN_ORACLE,
    description="composite clean: quality gate -> normalized dedup -> yield report",
    tags=("text", "dedup", "pipeline"),
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(F.regexp_extract_all("text", F.lit("[A-Za-z]+"), F.lit(0)))
    punct = (
        F.length(F.regexp_replace(F.col("text"), "[A-Za-z0-9 ]", "")).cast("double")
        / F.length("text").cast("double")
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    kept = docs.select(
        "doc_id", "source", "lang", norm.alias("norm"), n_tokens.alias("n_tokens")
    ).filter(
        (F.col("n_tokens") >= _CLEAN_MIN_TOKENS)
        & (punct <= _CLEAN_MAX_PUNCT)
    )
    # dedup on normalized text: group keeps the lowest doc_id's row; the
    # group's (source, lang, n_tokens) are single-valued per kept doc, and
    # min_by pins them to the keeper deterministically
    deduped = kept.groupBy("norm").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("source", "doc_id").alias("source"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
    )
    return (
        deduped.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("source", "lang")
    )


# ---------------------------------------------------------------------------
# Denylist scrub: remove denylisted terms, report per-source scrub counts
# (the redaction/PII-scrub shape: regexp_replace + audit counts in one
# pass; at 100 TB this is map-side column work, one rollup shuffle).
# ---------------------------------------------------------------------------

_DENYLIST = ("key", "hash", "secret")
_DENY_RE = r"\b(" + "|".join(_DENYLIST) + r")\b"

_SCRUB_ORACLE = f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '{_DENY_RE}'))) AS BIGINT)
         AS n_scrubbed,
       CAST(sum(length(text)
                - length(regexp_replace(text, '{_DENY_RE}', '[SCRUBBED]', 'g')))
            AS BIGINT) AS chars_delta
FROM documents
GROUP BY source
ORDER BY source
"""


@REGISTRY.register(
    "denylist_scrub_stats",
    oracle=_SCRUB_ORACLE,
    description="denylist scrub (redaction shape): per-source term & char deltas",
    tags=("text", "governance"),
)
def denylist_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_hits = F.size(F.regexp_extract_all("text", F.lit(_DENY_RE), F.lit(0)))
    scrubbed = F.regexp_replace(F.col("text"), _DENY_RE, "[SCRUBBED]")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(n_hits.cast("long")).cast("long").alias("n_scrubbed"),
            F.sum(
                (F.length("text") - F.length(scrubbed)).cast("long")
            ).cast("long").alias("chars_delta"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Benchmark contamination: flag training docs sharing any 8-char shingle
# with a held-out "benchmark" subset (doc_id % 97 == 0 stands in for the
# eval set). Scale shape: the benchmark shingle set is SMALL -> broadcast
# LEFT SEMI join against exploded training shingles; no pair set is ever
# materialized and the corpus shuffles zero bytes.
# ---------------------------------------------------------------------------

_CONTAM_K = 8
_CONTAM_MOD = 97

_CONTAM_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           generate_series(1, greatest(length(text) - {_CONTAM_K} + 1, 1)),
           i -> substr(text, i, {_CONTAM_K}))) AS s
  FROM documents
),
bench AS (
  SELECT DISTINCT unnest(s) AS tok FROM sh WHERE doc_id % {_CONTAM_MOD} = 0
),
train AS (SELECT doc_id, lang, s FROM sh WHERE doc_id % {_CONTAM_MOD} <> 0),
flagged AS (
  SELECT DISTINCT t.doc_id, t.lang
  FROM (SELECT doc_id, lang, unnest(s) AS tok FROM train) t
  JOIN bench b ON t.tok = b.tok
)
SELECT tr.lang,
       count(*) AS n_train_docs,
       CAST(count(f.doc_id) AS BIGINT) AS n_contaminated
FROM train tr LEFT JOIN flagged f ON tr.doc_id = f.doc_id
GROUP BY tr.lang
ORDER BY tr.lang
"""


@REGISTRY.register(
    "benchmark_contamination",
    oracle=_CONTAM_ORACLE,
    description="train/eval contamination: broadcast semi-join on 8-gram shingles",
    headline=True,
    tags=("text", "dedup", "governance"),
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.session import fan_out

    sh = fan_out(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        "doc_id",
    ).select(
        "doc_id",
        "lang",
        F.array_distinct(char_shingles("text", _CONTAM_K)).alias("s"),
    )
    is_bench = F.col("doc_id") % _CONTAM_MOD == 0
    bench_toks = (
        sh.filter(is_bench)
        .select(F.explode("s").alias("tok"))
        .distinct()
    )
    train = sh.filter(~is_bench)
    flagged = (
        train.select("doc_id", F.explode("s").alias("tok"))
        .join(F.broadcast(bench_toks), "tok", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        train.select("doc_id", "lang")
        .join(flagged, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_train_docs"),
            F.count("hit").cast("long").alias("n_contaminated"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Within-document repetition stats (the Gopher/MassiveText repetition
# filters, Rae et al. 2021 §A1.1): highly repetitive documents are a
# training-quality hazard that cross-document dedup never sees. Emits the
# duplicate-word fraction and the share of the most frequent word bigram,
# plus the filter verdict.
#
# Scale shape: the distinct-word fraction is a pure array expression
# (map-side); the top-bigram share explodes bigrams and runs two
# partial-aggregable groupBys keyed by doc — no joins between documents.
# ---------------------------------------------------------------------------

# Verdict thresholds (Gopher-style knobs) in exact pm4 units: fractions
# are emitted as floor(frac * 1e4) longs and gated with integer
# comparisons. The old round(frac, 4) form ties exactly when the word /
# gram count is 2^k-heavy (the r04 hash-red class); integer floor
# division has no tie and both engines compute it identically.
_REP_TOP_BIGRAM_MAX_PM4 = 2000  # gate: pm4 > 2000 (~ frac > 0.20)
_REP_DUP_WORD_MAX_PM4 = 8000  # gate: pm4 > 8000 (~ frac > 0.80)


_REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(upper(text), '[A-Z][A-Z'']*') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS g
  FROM t, LATERAL unnest(generate_series(1, len(w) - 1)) AS s(i)
  WHERE len(w) >= 2
),
per_gram AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
),
per_doc AS (
  SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_grams
  FROM per_gram GROUP BY doc_id
)
SELECT t.doc_id,
       len(w) AS n_words,
       CASE WHEN len(w) = 0 THEN 0
            ELSE ((len(w) - len(list_distinct(w))) * 10000) // len(w)
            END AS dup_word_pm4,
       CAST(coalesce((top_cnt * 10000) // n_grams, 0) AS BIGINT)
           AS top_bigram_pm4,
       (coalesce((top_cnt * 10000) // n_grams, 0)
            > {_REP_TOP_BIGRAM_MAX_PM4}
        OR CASE WHEN len(w) = 0 THEN 0
                ELSE ((len(w) - len(list_distinct(w))) * 10000) // len(w)
                END > {_REP_DUP_WORD_MAX_PM4}) AS repetitive
FROM t LEFT JOIN per_doc ON t.doc_id = per_doc.doc_id
ORDER BY t.doc_id
"""


@REGISTRY.register(
    "doc_repetition_stats",
    oracle=_REPETITION_ORACLE,
    description="Gopher-style within-doc repetition filter: dup-word + top-bigram share",
    tags=("text", "quality"),
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.functions.text import tokenize_words

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", tokenize_words("text").alias("w")
    )
    n = F.size("w")
    dup_word_pm4 = F.when(n == 0, F.lit(0).cast("long")).otherwise(
        F.expr(
            "CAST(size(w) - size(array_distinct(w)) AS BIGINT) * 10000"
            " DIV size(w)"
        )
    )
    base = docs.select("doc_id", n.alias("n_words"), dup_word_pm4.alias("dwf"))
    bigram_starts = F.when(n >= 2, F.sequence(F.lit(0), n - F.lit(2))).otherwise(
        F.array().cast("array<int>")
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                bigram_starts,
                lambda i: F.concat_ws(
                    " ", F.col("w").getItem(i), F.col("w").getItem(i + 1)
                ),
            )
        ).alias("g"),
    )
    per_doc = (
        grams.groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"), F.sum("c").alias("n_grams"))
    )
    top_pm4 = F.coalesce(
        F.expr("top_cnt * 10000 DIV n_grams"), F.lit(0).cast("long")
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.col("dwf").alias("dup_word_pm4"),
            top_pm4.alias("top_bigram_pm4"),
            (
                (top_pm4 > _REP_TOP_BIGRAM_MAX_PM4)
                | (F.col("dwf") > _REP_DUP_WORD_MAX_PM4)
            ).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Sparse TF-cosine similarity join via an inverted index — the sparse
# twin of the dense embedding cosine family (similarity.py). The dot
# product of two term-count vectors is computed WITHOUT materializing
# vectors: join the (doc, term, count) index with itself on the term and
# sum count products per pair — the classic sparse all-pairs shape
# (Bayardo/Ma/Srikant, WWW'07, before their prefix optimization).
#
# Exactness (PLANS.md r05/r07 rules): counts are integers, so dot and
# the squared norms are exact int64; cosine is emitted and thresholded
# as floor(1e6 * dot^2 / (n2a * n2b)) — an exact rational in both
# engines. cos >= 0.9 <=> cos2_ppm >= 810000 with no tie (floor of an
# exact integer ratio). The intermediates dot^2*1e6 and n2a*n2b exceed
# int64 for large documents (a 1M-token doc reaches n2 ~ 1e12, dot^2*1e6
# ~ 1e30), so BOTH engines compute them in wide integers — DuckDB's
# native HUGEINT (int128), Spark DECIMAL(38,0) (~1e38) with the exact
# floor-division identity floor(x/y) = (x - x % y) / y (decimal `%` is
# exact, and dividing an exact multiple is rounding-free at any result
# scale; a bare decimal division HALF_UP-rounds the quotient and can
# cross an integer boundary). Output is CAST to BIGINT at the boundary
# (<= 1e6 by construction).
#
# 100 TB posture: the index join is O(sum over terms of df^2) — the
# hot-term quadratic blowup is the known cost of the EXACT sparse join.
# df >= 2 pruning removes hapax terms (no pair contribution) for free;
# past moderate vocabularies the sub-quadratic path is the banded /
# prefix-filtered machinery this engine already registers
# (dedup_ngram_jaccard's PPJoin prefix index, dedup_minhash's LSH bands)
# — this query registers the exact-join baseline those approximate.
# ---------------------------------------------------------------------------

_COS2_THRESH_PPM = 810_000  # cos >= 0.9, exactly, as an integer gate

_TF_COSINE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
),
cnt AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY doc_id, term),
n2 AS (SELECT doc_id, sum(c * c) AS n2 FROM cnt GROUP BY doc_id),
idx AS (
  SELECT * FROM cnt WHERE term IN (
    SELECT term FROM cnt GROUP BY term HAVING count(*) >= 2)
),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.c * b.c) AS dot
  FROM idx a JOIN idx b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d.doc_a, d.doc_b,
       CAST((d.dot * d.dot * 1000000) // (x.n2 * y.n2) AS BIGINT)
           AS cos2_ppm
FROM dots d
JOIN n2 x ON d.doc_a = x.doc_id
JOIN n2 y ON d.doc_b = y.doc_id
WHERE (d.dot * d.dot * 1000000) // (x.n2 * y.n2) >= {_COS2_THRESH_PPM}
ORDER BY d.doc_a, d.doc_b
"""


@REGISTRY.register(
    "tf_cosine_pairs",
    oracle=_TF_COSINE_ORACLE,
    description="sparse TF-cosine near-dup pairs via inverted-index self-join, exact integer gate",
    tags=("similarity", "text", "dedup", "sparse"),
)
def tf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
            ).alias("term"),
        )
    )
    from mapreduce_sm_spark.session import release_caches, track_caches

    release_caches("text.tf_cosine")  # one-generation discipline
    cnt = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    # cached: cnt feeds FOUR plan branches (both self-join sides, the
    # norms, and the df filter) — without the barrier the tokenize +
    # explode + groupBy subplan executes 4x per run (the self-join-alias
    # recompute class PLANS.md documents for dedup_ngram_jaccard)
    cnt = cnt.cache()
    cnt.count()
    track_caches("text.tf_cosine", cnt)
    # norms over ALL terms (hapax included — they contribute to the norm
    # even though they can never contribute to a dot product)
    n2 = cnt.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("n2")
    )
    shared = (
        cnt.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("term")
    )
    idx = cnt.join(shared, "term")
    a = idx.select(
        F.col("term").alias("t"),
        F.col("doc_id").alias("doc_a"),
        F.col("c").alias("ca"),
    )
    b = idx.select(
        F.col("term").alias("t"),
        F.col("doc_id").alias("doc_b"),
        F.col("c").alias("cb"),
    )
    dots = (
        a.join(b, "t")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = n2.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2a"))
    nb = n2.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2b"))
    # wide-integer exact floor division (see module comment): DECIMAL(38,0)
    # intermediates + the (x - x % y) / y identity
    cos2 = F.expr(
        "CAST(((CAST(dot AS DECIMAL(38,0)) * dot * 1000000"
        "  - (CAST(dot AS DECIMAL(38,0)) * dot * 1000000)"
        "    % (CAST(n2a AS DECIMAL(38,0)) * n2b))"
        " / (CAST(n2a AS DECIMAL(38,0)) * n2b)) AS BIGINT)"
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos2.alias("cos2_ppm"))
        .filter(F.col("cos2_ppm") >= _COS2_THRESH_PPM)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# tf_cosine_pairs_prefix — the SUB-QUADRATIC rung of the sparse-cosine
# family (VERDICT r07 item 6): same result set and oracle as
# tf_cosine_pairs, but candidates come from an L2AP-style prefix filter
# (Anastasiu & Karypis, ICDE'14 "L2AP"; Bayardo et al., WWW'07
# "All-Pairs") instead of the full inverted-index self-join.
#
# Losslessness (why the prefix join misses no qualifying pair): order
# terms by global (df, term) — rarest first, string tiebreak, the same
# total order in every document. For doc x with that ordered term-count
# list, let ss_p(x) = sum of c_j^2 over positions j >= p (suffix squared
# norm, exact int64). If x and y share NO term among x's positions
# 1..p-1, every common term lies in x's suffix from p, so by
# Cauchy-Schwarz dot(x,y)^2 <= ss_p(x) * n2(y). The gate
# cos^2 >= 81/100 means dot^2 * 100 >= 81 * n2(x) * n2(y), which forces
# ss_p(x) * 100 >= 81 * n2(x). Contrapositive: position p belongs to
# x's prefix iff ss_p(x) * 100 >= 81 * n2(x) — beyond that point no
# qualifying partner can have its EARLIEST common term, and the earliest
# common term of a qualifying pair always sits inside BOTH prefixes
# (it is <= any common term, hence inside any prefix that contains one;
# each prefix contains at least one by the bound above). All arithmetic
# is integer-exact, so the filter is lossless at exactly cos^2 >= 0.81 —
# the same gate tf_cosine_pairs floors into cos2_ppm >= 810000.
#
# Candidate pruning on the matched row (also lossless): when the matched
# token IS the pair's earliest common term at positions pa, pb, all
# common terms sit in both suffixes, so dot^2 <= ss_pa(x) * ss_pb(y);
# rows failing ss_pa * ss_pb * 100 >= 81 * n2a * n2b are pruned, and the
# earliest-common-term row always survives. Products reach ~1e24 at
# large-doc scale, so the check runs in DECIMAL(38,0).
#
# Hapax terms (df = 1) can never be a COMMON term, so the prefix list
# skips them — but their weight still counts in n2 (norms are over the
# full vector), which only shortens prefixes further.
#
# Verification is exact and per-candidate: each doc's df>=2 terms as a
# map<term, count>, dot = sum over the key-union of count products
# (map_zip_with + aggregate, JVM-side), then the identical DECIMAL(38,0)
# floor-division gate as tf_cosine_pairs.
#
# 100 TB posture: candidate generation is an equality join on RARE
# prefix tokens — near-linear in practice vs the exact join's
# O(sum df^2) hot-term blowup; verification touches only candidate
# pairs and ships two bounded maps per pair. This is the registered
# scale path the exact tf_cosine_pairs baseline documents.
# ---------------------------------------------------------------------------


@REGISTRY.register(
    "tf_cosine_pairs_prefix",
    oracle=_TF_COSINE_ORACLE,  # identical semantics, identical oracle
    description="sparse TF-cosine pairs via lossless L2AP prefix filter + exact verify",
    tags=("similarity", "text", "dedup", "sparse", "scale"),
)
def tf_cosine_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.session import release_caches, track_caches

    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
            ).alias("term"),
        )
    )
    release_caches("text.tf_cosine_prefix")  # one-generation discipline
    cnt = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    # cached: cnt feeds n2, the df counts, the prefix lists and the
    # verification maps — four plan branches over the tokenize subplan
    cnt = cnt.cache()
    cnt.count()
    # norms over ALL terms (hapax weight counts toward the norm)
    n2 = cnt.groupBy("doc_id").agg(F.sum(F.col("c") * F.col("c")).alias("n2"))
    df_counts = cnt.groupBy("term").agg(F.count("*").alias("df"))
    shared = cnt.join(df_counts.filter(F.col("df") >= 2), "term")
    # per-doc global-order term list; suffix squared norms via a
    # descending-position running sum (one window per doc partition)
    from pyspark.sql import Window

    ordered = (
        shared.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "term", "c"))).alias("st"))
        .select("doc_id", F.posexplode("st").alias("p0", "e"))
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("p"),
            F.col("e.term").alias("tok"),
            F.col("e.c").alias("c"),
        )
    )
    w_suffix = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("p").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_ss = ordered.withColumn(
        "ss", F.sum((F.col("c") * F.col("c")).cast("long")).over(w_suffix)
    )
    # prefix membership: ss_p * 100 >= 81 * n2 (exact int64 comparison)
    idx = (
        with_ss.join(n2, "doc_id")
        .filter(F.col("ss") * 100 >= F.col("n2") * 81)
        .select("doc_id", "tok", "ss", "n2")
        # cached + materialized: the self-join below reads idx twice and
        # exchange reuse does not dedupe alias branches (the
        # dedup_ngram_jaccard recompute class, PLANS.md)
        .cache()
    )
    idx.count()
    track_caches("text.tf_cosine_prefix", cnt, idx)
    a, b = idx.alias("a"), idx.alias("b")
    pos_filter = F.expr(
        "CAST(a.ss AS DECIMAL(38,0)) * b.ss * 100"
        " >= CAST(a.n2 AS DECIMAL(38,0)) * b.n2 * 81"
    )
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & pos_filter,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # exact verification: map<term,c> per doc (df>=2 terms only — hapax
    # cannot be common), dot over the key union, identical gate
    vecs = shared.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "c"))).alias("m")
    )
    va = vecs.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("ma"))
    vb = vecs.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("mb"))
    dot = F.expr(
        "aggregate(map_values(map_zip_with(ma, mb,"
        " (k, x, y) -> coalesce(x, 0L) * coalesce(y, 0L))),"
        " 0L, (acc, v) -> acc + v)"
    )
    na = n2.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2a"))
    nb = n2.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2b"))
    cos2 = F.expr(
        "CAST(((CAST(dot AS DECIMAL(38,0)) * dot * 1000000"
        "  - (CAST(dot AS DECIMAL(38,0)) * dot * 1000000)"
        "    % (CAST(n2a AS DECIMAL(38,0)) * n2b))"
        " / (CAST(n2a AS DECIMAL(38,0)) * n2b)) AS BIGINT)"
    )
    # The term-map joins are PINNED to sort-merge; everything else stays
    # adaptive. Reason for the targeted pin: a map<term,count> frame is
    # COMPACT in shuffle-byte estimates but expands ~10x as JVM objects,
    # so AQE's size-based broadcast decision undercounts it — measured at
    # 10x docs (tools/scale_proof.py) the auto-broadcast of `vecs` ran
    # the 8 GB local heap out of memory, while pinned SMJ completes. The
    # narrow joins (norms, index) AQE sizes correctly and switches off
    # broadcast by itself as the corpus grows.
    return (
        cand.join(va.hint("merge"), "doc_a")
        .join(vb.hint("merge"), "doc_b")
        .withColumn("dot", dot)
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos2.alias("cos2_ppm"))
        .filter(F.col("cos2_ppm") >= _COS2_THRESH_PPM)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# The full Gopher char-mass repetition gate (Rae et al. 2021, Table A1)
# — the character-fraction family doc_repetition_stats' count-share pair
# approximates: for each document, the fraction of CHARACTERS in the
# most frequent {2,3,4}-gram and the fraction of characters in
# duplicated {1,2}-grams, each gated by a threshold, rolled up to a
# per-source quality report.
#
# Scale shape — deliberately different from doc_repetition_stats (which
# explodes grams and groupBys corpus-sized rows): every metric here is
# ROW-LOCAL — build the doc's sorted n-gram array once per n, then fold
# it (total char mass = one sum; duplicated mass = neighbor-equality
# flags on the sorted array; top-gram mass = a single run-length fold
# carrying struct(prev, run_chars, best)). The only exchange in the
# whole plan is the final source-sized groupBy — at 100 TB this is one
# embarrassingly-parallel corpus scan, plan-asserted shuffle-free in
# tests/test_plans.py. Per-doc cost is O(L log L) for the sorts with L
# bounded by document length, never corpus-coupled.
#
# Exactness: char masses are exact int64 (gram length includes the n-1
# joining spaces — same convention both engines); gates are integer
# cross-multiplications (mass * 100 > pct * total), no division at all.
#
# Thresholds: Gopher production values (top-2/3/4-gram char fraction
# > 0.20/0.18/0.16, dup-n-gram families ~0.10-0.15) never trip on the
# synthetic fixture corpus (its ~45-token vocabulary random texts top
# out near 0.16), which would leave the oracle an all-zeros hash — so
# the registered gate uses fixture-discriminating percentages (each
# trips on ~5-10% of docs, measured) and documents the production knob.
# ---------------------------------------------------------------------------

_GQ_PCT = {"top2": 8, "top3": 7, "top4": 7, "dup1": 80, "dup2": 12}


def _gq_sorted_grams_sql(n: int) -> str:
    """SQL: the doc's sorted n-gram array from token array w (empty when
    the doc has fewer than n tokens)."""
    if n == 1:
        return "array_sort(w)"
    return (
        f"IF(size(w) >= {n}, "
        f"array_sort(transform(sequence(1, size(w) - {n} + 1), "
        f"i -> array_join(slice(w, i, {n}), ' '))), "
        "CAST(array() AS ARRAY<STRING>))"
    )


_GQ_TOTAL_SQL = "aggregate({s}, CAST(0 AS BIGINT), (a, x) -> a + length(x))"

# an occurrence is duplicated iff it equals a neighbor in the sorted
# array; greatest/least keep the probe indices in-bounds so the guard
# conjuncts stay safe under eager evaluation. The outer IF skips the
# fold entirely for an empty array: sequence(1, 0) is Spark's
# DESCENDING [1, 0], and relying on the conjuncts to short-circuit
# before element_at({s}, 0) is fragile against codegen/ANSI changes
# (ADVICE r14) — never build the index sequence for empty input.
_GQ_DUP_SQL = (
    "IF(size({s}) = 0, CAST(0 AS BIGINT), "
    "aggregate(sequence(1, size({s})), CAST(0 AS BIGINT), (a, i) -> a + "
    "IF((i > 1 AND element_at({s}, greatest(i - 1, 1)) = element_at({s}, i))"
    " OR (i < size({s}) AND element_at({s}, least(i + 1, size({s})))"
    " = element_at({s}, i)), "
    "CAST(length(element_at({s}, i)) AS BIGINT), CAST(0 AS BIGINT))))"
)

# run-length fold over the sorted array: rc = char mass of the current
# run, best = max completed run mass; finish folds the last run in
_GQ_TOP_SQL = (
    "aggregate({s}, "
    "named_struct('prev', CAST(NULL AS STRING), 'rc', CAST(0 AS BIGINT), "
    "'best', CAST(0 AS BIGINT)), "
    "(st, x) -> IF(st.prev IS NOT NULL AND x = st.prev, "
    "named_struct('prev', x, 'rc', st.rc + CAST(length(x) AS BIGINT), "
    "'best', st.best), "
    "named_struct('prev', x, 'rc', CAST(length(x) AS BIGINT), "
    "'best', greatest(st.best, st.rc))), "
    "st -> greatest(st.best, st.rc))"
)


def _gq_oracle() -> str:
    def gram_cte(n: int) -> str:
        if n == 1:
            grams = f"SELECT doc_id, u.g AS g FROM toks, UNNEST(t) AS u(g)"
        else:
            grams = (
                f"SELECT doc_id, array_to_string(t[u.r : u.r + {n - 1}], ' ') AS g "
                f"FROM toks, UNNEST(range(1, len(t) - {n} + 2)) AS u(r) "
                f"WHERE len(t) >= {n}"
            )
        return f"""
g{n} AS ({grams}),
gc{n} AS (
  SELECT doc_id, g, count(*)::BIGINT AS cnt, length(g)::BIGINT AS glen
  FROM g{n} GROUP BY doc_id, g
),
m{n} AS (
  SELECT doc_id,
         sum(cnt * glen)::BIGINT AS total,
         max(cnt * glen)::BIGINT AS top,
         coalesce(sum(CASE WHEN cnt >= 2 THEN cnt * glen END), 0)::BIGINT AS dup
  FROM gc{n} GROUP BY doc_id
)"""

    p = _GQ_PCT
    return f"""
WITH toks AS (
  SELECT doc_id, source,
         regexp_extract_all(upper(text), '[A-Z][A-Z'']*') AS t
  FROM documents
),
{gram_cte(1)},
{gram_cte(2)},
{gram_cte(3)},
{gram_cte(4)},
per_doc AS (
  SELECT toks.doc_id, toks.source,
    coalesce(m2.top * 100 > {p['top2']} * m2.total, false) AS f_top2,
    coalesce(m3.top * 100 > {p['top3']} * m3.total, false) AS f_top3,
    coalesce(m4.top * 100 > {p['top4']} * m4.total, false) AS f_top4,
    coalesce(m1.dup * 100 > {p['dup1']} * m1.total, false) AS f_dup1,
    coalesce(m2.dup * 100 > {p['dup2']} * m2.total, false) AS f_dup2
  FROM toks
  LEFT JOIN m1 USING (doc_id) LEFT JOIN m2 USING (doc_id)
  LEFT JOIN m3 USING (doc_id) LEFT JOIN m4 USING (doc_id)
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(f_top2::INT)::BIGINT AS n_fail_top2,
       sum(f_top3::INT)::BIGINT AS n_fail_top3,
       sum(f_top4::INT)::BIGINT AS n_fail_top4,
       sum(f_dup1::INT)::BIGINT AS n_fail_dup1,
       sum(f_dup2::INT)::BIGINT AS n_fail_dup2,
       sum(CASE WHEN NOT (f_top2 OR f_top3 OR f_top4 OR f_dup1 OR f_dup2)
                THEN 1 ELSE 0 END)::BIGINT AS n_clean
FROM per_doc
GROUP BY source
ORDER BY source
"""


@REGISTRY.register(
    "gopher_quality_gate",
    oracle=_gq_oracle(),
    description="Gopher char-mass repetition gate (top-2/3/4-gram and "
    "dup-1/2-gram character fractions), row-local folds, per-source "
    "quality report",
    tags=("text", "quality", "scale"),
)
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("source", "text")
    return _gq_report(_gq_flags(docs))


def _gq_flags(docs: DataFrame) -> DataFrame:
    """(source, f_top2..f_dup2) per-doc gate flags from a (source, text)
    frame — pure row-local column expressions, shared VERBATIM by the
    batch report and the streamed twin (the folds stay JVM-side in
    both, so the stream audit never rests on a Python re-implementation
    of the gate semantics). Works on batch and streaming frames alike:
    nothing here shuffles or holds state."""
    from mapreduce_sm_spark.functions.text import tokenize_words

    # stage the sorted gram arrays as real columns so each is computed
    # once per row (CollapseProject keeps multi-use non-cheap aliases
    # staged); metrics then fold the staged arrays
    staged = docs.select("source", tokenize_words("text").alias("w"))
    for n in (1, 2, 3, 4):
        staged = staged.withColumn(f"s{n}", F.expr(_gq_sorted_grams_sql(n)))
    metrics = staged
    for n, want_top, want_dup in (
        (1, False, True),
        (2, True, True),
        (3, True, False),
        (4, True, False),
    ):
        metrics = metrics.withColumn(
            f"total{n}", F.expr(_GQ_TOTAL_SQL.format(s=f"s{n}"))
        )
        if want_top:
            metrics = metrics.withColumn(
                f"top{n}", F.expr(_GQ_TOP_SQL.format(s=f"s{n}"))
            )
        if want_dup:
            metrics = metrics.withColumn(
                f"dup{n}", F.expr(_GQ_DUP_SQL.format(s=f"s{n}"))
            )
    p = _GQ_PCT

    def gate(mass: str, n: int, pct: int) -> F.Column:
        return (F.col(f"total{n}") > 0) & (
            F.col(mass) * 100 > F.lit(pct) * F.col(f"total{n}")
        )

    return metrics.select(
        "source",
        gate("top2", 2, p["top2"]).alias("f_top2"),
        gate("top3", 3, p["top3"]).alias("f_top3"),
        gate("top4", 4, p["top4"]).alias("f_top4"),
        gate("dup1", 1, p["dup1"]).alias("f_dup1"),
        gate("dup2", 2, p["dup2"]).alias("f_dup2"),
    )


def _gq_report(flags: DataFrame) -> DataFrame:
    """Per-source rollup of the gate flags (the registered report shape)."""
    cnt = lambda c: F.sum(F.col(c).cast("int")).cast("long")  # noqa: E731
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            cnt("f_top2").alias("n_fail_top2"),
            cnt("f_top3").alias("n_fail_top3"),
            cnt("f_top4").alias("n_fail_top4"),
            cnt("f_dup1").alias("n_fail_dup1"),
            cnt("f_dup2").alias("n_fail_dup2"),
            F.sum(
                F.when(
                    ~(
                        F.col("f_top2")
                        | F.col("f_top3")
                        | F.col("f_top4")
                        | F.col("f_dup1")
                        | F.col("f_dup2")
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clean"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# STREAMED Gopher gate (r15 — VERDICT r14 item 6): the quality-filter
# leg of the maintenance story. A crawl pipeline re-runs its quality
# gates on every arriving batch; the Gopher gate is entirely row-local,
# so its streamed twin is stateless: arriving documents flow through
# the IDENTICAL JVM column expressions as the batch report (_gq_flags —
# shared code, not a re-implementation), a tiny Arrow-batched rollup
# (mapInPandas over the five boolean flags — counting, no gate
# semantics) sinks per-source PARTIAL counts through the append-mode
# exactly-once file sink, and compaction is the partial-aggregate merge
# groupBy(source).sum(...). Partial boundaries follow micro-batch /
# Arrow batch boundaries — explicitly NOT deterministic — but the
# compacted totals are boundary-invariant (count sums are a commutative
# monoid), which is the law under audit: compact(stream partials) ==
# batch report, exact per-source full-outer comparison on all seven
# counters, plus the one-row corpus digest.
#
# 100 TB posture: per-micro-batch work is the row-local folds plus a
# per-Arrow-batch pandas rollup bounded by sources-per-batch; no
# stream-side shuffle, no state store; the sink grows by n_sources x
# n_commits, not docs. Micro-batch parallelism = files-per-trigger
# (the stream_semantic_index_equality lesson). The cross-doc
# repeated-passage signal is the one quality gate that does NOT get a
# streamed twin — it needs cross-batch gram state; SCALING.md r15
# records that decision.
# ---------------------------------------------------------------------------

_STREAM_GQ_ORACLE = f"""
WITH report AS ({_gq_oracle()})
SELECT count(*)::BIGINT AS n_sources,
       coalesce(sum(n_docs), 0)::BIGINT AS n_docs,
       coalesce(sum(n_fail_top2 + n_fail_top3 + n_fail_top4
                    + n_fail_dup1 + n_fail_dup2), 0)::BIGINT AS n_fails,
       coalesce(sum(n_clean), 0)::BIGINT AS n_clean,
       CAST(0 AS BIGINT) AS n_mismatch,
       true AS stream_equals_batch
FROM report
"""

_GQ_FLAG_COLS = ("f_top2", "f_top3", "f_top4", "f_dup1", "f_dup2")

_GQ_PARTIAL_SCHEMA = (
    "source string, n_docs long, n_fail_top2 long, n_fail_top3 long, "
    "n_fail_top4 long, n_fail_dup1 long, n_fail_dup2 long, n_clean long"
)


def _gq_partial_counts_arrow(batches):
    """mapInPandas kernel: per-source PARTIAL gate counters within each
    Arrow batch. Pure counting over the JVM-computed boolean flags —
    the gate semantics never leave the JVM."""
    for pdf in batches:
        if pdf.empty:
            continue
        pdf = pdf.copy()
        pdf["clean"] = ~pdf[list(_GQ_FLAG_COLS)].any(axis=1)
        agg = pdf.groupby("source", sort=False).agg(
            n_docs=("clean", "size"),
            n_fail_top2=("f_top2", "sum"),
            n_fail_top3=("f_top3", "sum"),
            n_fail_top4=("f_top4", "sum"),
            n_fail_dup1=("f_dup1", "sum"),
            n_fail_dup2=("f_dup2", "sum"),
            n_clean=("clean", "sum"),
        )
        yield agg.astype("int64").reset_index()


@REGISTRY.register(
    "stream_gopher_gate_equality",
    oracle=_STREAM_GQ_ORACLE,
    description="streamed Gopher quality gate: row-local JVM gate flags "
    "on arriving batches, per-source partial counters through the "
    "exactly-once sink, compacted == batch report (exact per-source "
    "audit + corpus digest)",
    tags=("streaming", "text", "quality", "incremental"),
)
def stream_gopher_gate_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.streaming.runner import replay_stream, run_file_sink

    docs = table(spark, sf_dir, "documents").select("source", "text")
    # 8 part files consumed 2 per trigger => 4 separate sink commits
    stream, base = replay_stream(docs, "gopher_gate_stream_", 8, 2)
    partials = run_file_sink(
        _gq_flags(stream).mapInPandas(
            _gq_partial_counts_arrow, _GQ_PARTIAL_SCHEMA
        ),
        base,
        "stream_gopher_gate_equality",
    )
    counters = (
        "n_docs",
        "n_fail_top2",
        "n_fail_top3",
        "n_fail_top4",
        "n_fail_dup1",
        "n_fail_dup2",
        "n_clean",
    )
    compacted = partials.groupBy("source").agg(
        *[F.sum(c).alias(c) for c in counters]
    )
    batch = gopher_quality_gate(spark, sf_dir)
    zero = F.lit(0).cast("long")
    neg = F.lit(-1).cast("long")  # absent-side sentinel (counters are >= 0)
    mism = (
        compacted.select(
            "source", *[F.col(c).alias(f"a_{c}") for c in counters]
        )
        .join(
            batch.select(
                "source", *[F.col(c).alias(f"b_{c}") for c in counters]
            ),
            "source",
            "full_outer",
        )
        .select(
            F.when(
                sum(
                    (
                        F.coalesce(f"a_{c}", neg) != F.coalesce(f"b_{c}", neg)
                    ).cast("int")
                    for c in counters
                )
                > 0,
                1,
            )
            .otherwise(0)
            .alias("bad")
        )
        .agg(F.coalesce(F.sum("bad"), zero).cast("long").alias("n_mismatch"))
    )
    fails = sum(F.col(c) for c in counters[1:6])
    dig = compacted.agg(
        F.count("*").cast("long").alias("n_sources"),
        F.coalesce(F.sum("n_docs"), zero).cast("long").alias("n_docs"),
        F.coalesce(F.sum(fails), zero).cast("long").alias("n_fails"),
        F.coalesce(F.sum("n_clean"), zero).cast("long").alias("n_clean"),
    )
    return dig.crossJoin(F.broadcast(mism)).select(
        "n_sources",
        "n_docs",
        "n_fails",
        "n_clean",
        "n_mismatch",
        (F.col("n_mismatch") == 0).alias("stream_equals_batch"),
    )


# ---------------------------------------------------------------------------
# Cross-document repeated-passage coverage (the C4 / MassiveText
# "repeated passages" signal, Raffel et al. 2020 / Rae et al. 2021):
# for every document, the fraction of its tokens covered by 4-grams
# that also occur in at least one OTHER document — the cross-document
# complement of gopher_quality_gate's within-document repetition.
# Emits the top-40 most-covered documents (exact ppm, deterministic
# ties on doc_id).
#
# Plan shape — two shuffles, zero joins: the exploded (doc, pos, gram)
# rows are shuffled ONCE on the gram (a window partitioned by gram
# computes min/max doc_id over the partition; min != max IS "appears in
# >= 2 distinct docs" — no countDistinct expansion, no df-frame
# join-back), then ONCE on doc_id where the per-doc covered-token count
# folds the sorted position list row-locally: union of [pos, pos+3]
# intervals = sum(min(next_pos - pos, 4)) + 4 for the last. Coverage is
# floor(1e6 * covered / n_tokens), exact integers end to end.
#
# 100 TB posture: the gram shuffle is the canonical inverted-index
# exchange (same class as dedup_ngram_jaccard's miner); per-doc state
# is one position list bounded by document length. The window is
# PARTITIONED by gram — bounded partitions, inside the plan tripwire.
# ---------------------------------------------------------------------------

_RPC_N = 4  # gram width

_REPEATED_PASSAGE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(upper(text), '[A-Z][A-Z'']*') AS t
  FROM documents
),
g AS (
  SELECT doc_id, len(t)::BIGINT AS n_tokens, u.r AS pos,
         array_to_string(t[u.r : u.r + {_RPC_N - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - {_RPC_N} + 2)) AS u(r)
  WHERE len(t) >= {_RPC_N}
),
rep AS (
  SELECT doc_id, n_tokens, pos
  FROM (SELECT doc_id, n_tokens, pos,
               min(doc_id) OVER (PARTITION BY g) AS dmin,
               max(doc_id) OVER (PARTITION BY g) AS dmax
        FROM g)
  WHERE dmin <> dmax
),
iv AS (
  SELECT doc_id, n_tokens, pos,
         lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS np
  FROM rep
),
cov AS (
  SELECT doc_id, any_value(n_tokens) AS n_tokens,
         sum(CASE WHEN np IS NULL THEN {_RPC_N}
                  ELSE least(np - pos, {_RPC_N}) END)::BIGINT AS covered
  FROM iv GROUP BY doc_id
)
SELECT doc_id, n_tokens, covered,
       CAST((covered * 1000000) // n_tokens AS BIGINT) AS coverage_ppm
FROM cov
ORDER BY coverage_ppm DESC, doc_id
LIMIT 40
"""


@REGISTRY.register(
    "repeated_passage_coverage",
    oracle=_REPEATED_PASSAGE_ORACLE,
    description="cross-document repeated-passage coverage: fraction of "
    "each doc's tokens covered by 4-grams occurring in >= 2 distinct "
    "docs (interval-union fold), top-40 by exact ppm",
    tags=("text", "quality", "dedup", "scale"),
)
def repeated_passage_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from mapreduce_sm_spark.functions.text import tokenize_words

    n = _RPC_N
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", tokenize_words("text").alias("w")
    )
    ex = (
        docs.filter(F.size("w") >= n)
        .select(
            "doc_id",
            F.size("w").cast("long").alias("n_tokens"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - n + 1),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.array_join(
                            F.slice("w", i, F.lit(n)), " "
                        ).alias("g"),
                    ),
                )
            ).alias("pg"),
        )
        .select("doc_id", "n_tokens", F.col("pg.pos"), F.col("pg.g"))
    )
    wg = Window.partitionBy("g")
    rep = (
        ex.withColumn("dmin", F.min("doc_id").over(wg))
        .withColumn("dmax", F.max("doc_id").over(wg))
        .filter(F.col("dmin") != F.col("dmax"))
        .select("doc_id", "n_tokens", "pos")
    )
    # per-doc interval union over the sorted positions: each [pos, pos+3]
    # contributes min(gap to the next start, 4); the last contributes 4
    covered = F.expr(
        f"aggregate(sequence(1, size(ps)), CAST(0 AS BIGINT), (a, i) -> "
        f"a + IF(i < size(ps), "
        f"least(element_at(ps, least(i + 1, size(ps))) - element_at(ps, i), "
        f"CAST({n} AS BIGINT)), CAST({n} AS BIGINT)))"
    )
    return (
        rep.groupBy("doc_id")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.sort_array(F.collect_list("pos")).alias("ps"),
        )
        .select("doc_id", "n_tokens", covered.alias("covered"))
        .withColumn(
            "coverage_ppm", F.expr("covered * 1000000 DIV n_tokens")
        )
        .orderBy(F.desc("coverage_ppm"), "doc_id")
        .limit(40)
    )


# ---------------------------------------------------------------------------
# Repeated-passage prune yield (r14) — the TRANSFORM accounting for the
# C4-style cross-document passage removal: if every token covered by a
# cross-document repeated 4-gram were dropped (the coverage relation of
# repeated_passage_coverage), what survives per source? Reports exact
# token yields and the docs the prune would empty or halve — the
# numbers a pipeline operator looks at before enabling the transform.
# Same two-shuffle / zero-join plan as the coverage query, with the
# source carried through the gram window so the rollup needs no
# attribute join-back.
# ---------------------------------------------------------------------------

_RPP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(upper(text), '[A-Z][A-Z'']*') AS t
  FROM documents
),
g AS (
  SELECT doc_id, source, len(t)::BIGINT AS n_tokens, u.r AS pos,
         array_to_string(t[u.r : u.r + {_RPC_N - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - {_RPC_N} + 2)) AS u(r)
  WHERE len(t) >= {_RPC_N}
),
rep AS (
  SELECT doc_id, source, n_tokens, pos
  FROM (SELECT doc_id, source, n_tokens, pos,
               min(doc_id) OVER (PARTITION BY g) AS dmin,
               max(doc_id) OVER (PARTITION BY g) AS dmax
        FROM g)
  WHERE dmin <> dmax
),
iv AS (
  SELECT doc_id, source, n_tokens, pos,
         lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS np
  FROM rep
),
cov AS (
  SELECT doc_id, any_value(source) AS source,
         any_value(n_tokens) AS n_tokens,
         sum(CASE WHEN np IS NULL THEN {_RPC_N}
                  ELSE least(np - pos, {_RPC_N}) END)::BIGINT AS covered
  FROM iv GROUP BY doc_id
),
per_doc AS (
  SELECT d.source,
         len(regexp_extract_all(upper(d.text), '[A-Z][A-Z'']*'))::BIGINT
             AS n_tokens,
         coalesce(c.covered, 0)::BIGINT AS covered
  FROM documents d LEFT JOIN cov c ON d.doc_id = c.doc_id
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS tokens_in,
       sum(n_tokens - covered)::BIGINT AS tokens_out,
       sum(CASE WHEN covered = n_tokens AND n_tokens > 0 THEN 1 ELSE 0 END)
           ::BIGINT AS docs_emptied,
       sum(CASE WHEN 2 * covered > n_tokens THEN 1 ELSE 0 END)::BIGINT
           AS docs_halved
FROM per_doc
GROUP BY source
ORDER BY source
"""


@REGISTRY.register(
    "repeated_passage_prune",
    oracle=_RPP_ORACLE,
    description="C4-style passage-removal yield: exact per-source token "
    "counts before/after dropping tokens covered by cross-doc repeated "
    "4-grams, plus docs the prune empties or halves",
    tags=("text", "quality", "dedup", "scale"),
)
def repeated_passage_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from mapreduce_sm_spark.functions.text import tokenize_words

    n = _RPC_N
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", tokenize_words("text").alias("w")
    )
    base = docs.select(
        "doc_id", "source", F.size("w").cast("long").alias("n_tokens")
    )
    ex = (
        docs.filter(F.size("w") >= n)
        .select(
            "doc_id",
            "source",
            F.size("w").cast("long").alias("n_tokens"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - n + 1),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.array_join(F.slice("w", i, F.lit(n)), " ").alias("g"),
                    ),
                )
            ).alias("pg"),
        )
        .select("doc_id", "source", "n_tokens", F.col("pg.pos"), F.col("pg.g"))
    )
    wg = Window.partitionBy("g")
    rep = (
        ex.withColumn("dmin", F.min("doc_id").over(wg))
        .withColumn("dmax", F.max("doc_id").over(wg))
        .filter(F.col("dmin") != F.col("dmax"))
        .select("doc_id", "pos")
    )
    covered = F.expr(
        f"aggregate(sequence(1, size(ps)), CAST(0 AS BIGINT), (a, i) -> "
        f"a + IF(i < size(ps), "
        f"least(element_at(ps, least(i + 1, size(ps))) - element_at(ps, i), "
        f"CAST({n} AS BIGINT)), CAST({n} AS BIGINT)))"
    )
    cov = (
        rep.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("ps"))
        .select("doc_id", covered.alias("covered"))
    )
    per_doc = base.join(cov, "doc_id", "left").select(
        "source",
        "n_tokens",
        F.coalesce("covered", F.lit(0).cast("long")).alias("covered"),
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens_in"),
            F.sum(F.col("n_tokens") - F.col("covered"))
            .cast("long")
            .alias("tokens_out"),
            one(
                (F.col("covered") == F.col("n_tokens")) & (F.col("n_tokens") > 0)
            ).alias("docs_emptied"),
            one(2 * F.col("covered") > F.col("n_tokens")).alias("docs_halved"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Boilerplate / template-prefix detection (r16). Web-scraped corpora are
# full of template documents — the same navigation header, cookie
# banner, or license preamble prepended to thousands of pages of one
# domain. The standard diagnostic before writing a removal rule is:
# per source, how concentrated are document PREFIXES? A source whose
# top 3-token prefix covers a large share of its documents is template-
# generated; an organic source's prefixes are near-unique. (C4 and
# Gopher both describe line/prefix-level boilerplate rules; this is the
# measurement that justifies them.)
#
# 100 TB posture: one corpus scan, row-local tokenize + slice to a
# 3-token prefix (short string — grouped directly; a longer prefix key
# would go through hash60 like the gram families). Two exchanges: the
# (source, prefix) count and the source-partitioned top-1 window over
# the already-collapsed prefix frame (<= distinct-prefix rows, far
# below corpus size). No join; exact integer shares.
# ---------------------------------------------------------------------------

_BP_K = 3  # prefix length in tokens

_BP_ORACLE = f"""
WITH p AS (
  SELECT source,
         array_to_string(
           list_slice(regexp_extract_all(upper(text), '[A-Z][A-Z'']*'),
                      1, {_BP_K}), ' ') AS prefix
  FROM documents
),
c AS (
  SELECT source, prefix, count(*)::BIGINT AS n
  FROM p GROUP BY source, prefix
),
r AS (
  SELECT source, prefix, n,
         row_number() OVER (PARTITION BY source
                            ORDER BY n DESC, prefix ASC) AS rn,
         sum(n) OVER (PARTITION BY source) AS n_docs,
         count(*) OVER (PARTITION BY source) AS n_prefixes
  FROM c
)
SELECT source,
       n_docs::BIGINT AS n_docs,
       n_prefixes::BIGINT AS n_prefixes,
       prefix AS top_prefix,
       n AS top_prefix_docs,
       (n * 1000 // n_docs)::BIGINT AS top_share_pm
FROM r
WHERE rn = 1
ORDER BY source
"""


@REGISTRY.register(
    "boilerplate_prefix_stats",
    oracle=_BP_ORACLE,
    description="template/boilerplate diagnostic: per source, distinct "
    "3-token document prefixes and the share of docs behind the most "
    "common one (exact per-mille) — the measurement behind C4/Gopher-"
    "style boilerplate removal rules",
    tags=("text", "quality"),
)
def boilerplate_prefix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from mapreduce_sm_spark.functions.text import tokenize_words

    docs = table(spark, sf_dir, "documents").select("source", "text")
    prefix = F.array_join(
        F.slice(tokenize_words("text"), 1, _BP_K), " "
    ).alias("prefix")
    counts = (
        docs.select("source", prefix)
        .groupBy("source", "prefix")
        .agg(F.count("*").cast("long").alias("n"))
    )
    wsrc = Window.partitionBy("source")
    wtop = wsrc.orderBy(F.col("n").desc(), F.col("prefix").asc())
    return (
        counts.select(
            "source",
            "prefix",
            "n",
            F.row_number().over(wtop).alias("rn"),
            F.sum("n").over(wsrc).alias("n_docs"),
            F.count("*").over(wsrc).alias("n_prefixes"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_prefixes").cast("long").alias("n_prefixes"),
            F.col("prefix").alias("top_prefix"),
            F.col("n").alias("top_prefix_docs"),
            F.expr("n * 1000 DIV n_docs").cast("long").alias("top_share_pm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Language-label audit (r16). Crawled corpora carry declared language
# labels of wildly uneven quality; the standard pre-training audit is
# the confusion matrix between the declared label and a cheap
# content-based language ID — a source whose declared labels disagree
# with content needs relabeling before per-language mixture weighting
# trusts it. Composes the registered lang_id_heuristic (same argmax,
# same deterministic tie order) into the (declared x predicted) matrix
# with exact per-mille row shares.
#
# 100 TB posture: the heuristic is row-local scoring; the matrix is one
# partial-aggregable groupBy on a <= |langs|^2+|langs| key (map-side
# combine collapses each partition to <= 30 rows) plus a window over
# the collapsed matrix frame. No join.
# ---------------------------------------------------------------------------

_LANGID_CONF_ORACLE = f"""
WITH report AS ({_LANGID_ORACLE})
SELECT declared_lang, predicted_lang,
       count(*)::BIGINT AS n_docs,
       (count(*) * 1000
           // sum(count(*)) OVER (PARTITION BY declared_lang))::BIGINT
           AS share_pm
FROM report
GROUP BY declared_lang, predicted_lang
ORDER BY declared_lang, predicted_lang
"""


@REGISTRY.register(
    "langid_confusion_matrix",
    oracle=_LANGID_CONF_ORACLE,
    description="declared-vs-predicted language confusion matrix with "
    "exact per-mille row shares — the label-quality audit run before "
    "per-language mixture weighting trusts declared labels",
    tags=("text", "quality"),
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    report = lang_id_heuristic(spark, sf_dir)
    counts = report.groupBy("declared_lang", "predicted_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    w = Window.partitionBy("declared_lang")
    return (
        counts.select(
            "declared_lang",
            "predicted_lang",
            "n_docs",
            F.expr("n_docs * 1000")
            .alias("_num"),
            F.sum("n_docs").over(w).alias("_den"),
        )
        .select(
            "declared_lang",
            "predicted_lang",
            "n_docs",
            F.expr("_num DIV _den").cast("long").alias("share_pm"),
        )
        .orderBy("declared_lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier gate (r16, late). The production
# quality filters that Gopher-style RULE gates feed into are MODEL
# gates: a linear classifier over hashed bag-of-words features
# (fastText's architecture — Joulin et al. 2016, "Bag of Tricks for
# Efficient Text Classification" — the filter family used by CCNet,
# GPT-3's WebText classifier, and DCLM's fastText gate). This operator
# implements that inference shape exactly: tokens hash into B buckets,
# each bucket carries a weight, the document score is the weight sum,
# and the gate keeps score > 0.
#
# The weight VECTOR here is a deterministic integer grid derived from
# the bucket id (w(b) = (b * 2654435761) % 21 - 10, a Knuth
# multiplicative spread over [-10, 10]) rather than trained floats: the
# container has no training library, and what the engine owns is the
# INFERENCE plumbing — feature hashing, the per-document fold, the gate,
# the per-source yield report — which is identical whichever 21-level
# quantized weight table is plugged in. Integer weights also make every
# emitted value exact on both engines (no float dot products).
#
# 100 TB posture: the score is a row-local F.aggregate fold over the
# token array — the corpus is never exploded and never shuffled; the
# only exchange is the final per-source yield aggregate (partial-
# aggregable, <= |sources| rows). The sum stays in int64: |score| <=
# 10 * n_tokens, so a document would need ~9e17 tokens to wrap.
# No negative value ever reaches a floor division (kept_pm divides
# non-negative counts; the score itself is emitted as a raw sum).
# ---------------------------------------------------------------------------

_QCG_BUCKETS = 1024
_QCG_SPREAD = 2654435761  # Knuth's 2^32 / phi multiplier
_QCG_LEVELS = 21  # weights span [-10, 10]


def _qcg_weight_sql(tok_expr: str) -> str:
    h = hash60_sql(tok_expr)
    return f"(({h} % {_QCG_BUCKETS}) * {_QCG_SPREAD}) % {_QCG_LEVELS} - 10"


_QCG_ORACLE = f"""
WITH scored AS (
  SELECT source,
         list_sum(list_prepend(0::BIGINT,
           list_transform(regexp_extract_all(upper(text), '[A-Z][A-Z'']*'),
                          t -> ({_qcg_weight_sql('t')})::BIGINT))) AS score
  FROM documents
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       count(*) FILTER (WHERE score > 0)::BIGINT AS n_kept,
       (count(*) FILTER (WHERE score > 0) * 1000 // count(*))::BIGINT
           AS kept_pm,
       sum(score)::BIGINT AS sum_score
FROM scored GROUP BY source ORDER BY source
"""


@REGISTRY.register(
    "quality_classifier_gate",
    oracle=_QCG_ORACLE,
    description="fastText-architecture model quality gate: hashed "
    "bag-of-words linear scorer (deterministic 21-level integer weight "
    "grid), row-local score fold, per-source keep-rate yield report — "
    "the model-based filter family (CCNet/GPT-3/DCLM) beside the "
    "rule-based gopher_quality_gate",
    tags=("text", "quality"),
)
def quality_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("source", "text")
    return _qcg_report(_qcg_scored(docs))


def _qcg_scored(docs: DataFrame) -> DataFrame:
    """(source, score) via the row-local hashed-linear fold — the SHARED
    JVM expressions: the streamed twin routes arriving batches through
    this exact builder, never a re-implementation."""
    from mapreduce_sm_spark.functions.hashing import hash60
    from mapreduce_sm_spark.functions.text import tokenize_words

    weight = lambda t: (  # noqa: E731 — mirrors _qcg_weight_sql exactly
        (hash60(t) % _QCG_BUCKETS) * _QCG_SPREAD % _QCG_LEVELS - 10
    ).cast("long")
    score = F.aggregate(
        tokenize_words("text"),
        F.lit(0).cast("long"),
        lambda acc, t: acc + weight(t),
    )
    return docs.select("source", score.alias("score"))


def _qcg_report(scored: DataFrame) -> DataFrame:
    kept = (F.col("score") > 0).cast("long")
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.sum("score").cast("long").alias("sum_score"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.expr("n_kept * 1000 DIV n_docs").cast("long").alias("kept_pm"),
            "sum_score",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# STREAMED classifier gate (r16, late) — the model-gate leg of the
# maintenance story, completing the symmetry the rule gate already has
# (gopher_quality_gate / stream_gopher_gate_equality): a crawl pipeline
# re-scores every arriving batch with its quality classifier, and the
# hashed-linear score is entirely row-local, so the streamed twin is
# stateless. Arriving documents flow through the IDENTICAL JVM score
# fold as the batch report (_qcg_scored — shared code, never a Python
# re-implementation), a counting-only Arrow kernel sinks per-source
# PARTIAL counters (n_docs, n_kept, sum_score) through the append-mode
# exactly-once file sink, and compaction is groupBy(source).sum —
# partial boundaries follow micro-batch / Arrow batch boundaries
# (explicitly not deterministic) but the compacted totals are
# boundary-invariant (count/sum form a commutative monoid), which is
# the law under audit: compact(stream partials) == batch report, exact
# per-source full-outer comparison. The comparison uses NULL-SAFE
# equality, not the gopher twin's -1 sentinel: sum_score is a SIGNED
# counter and a sentinel could collide with a legitimate value.
#
# 100 TB posture: per-micro-batch work is the row-local fold plus a
# per-Arrow-batch pandas rollup bounded by sources-per-batch; no
# stream-side shuffle, no state store, no broadcast probe (unlike the
# streamed decontamination leg there is no reference DATA at all — the
# weight table is folded into the expression); the sink grows by
# n_sources x n_commits, not docs.
# ---------------------------------------------------------------------------

_STREAM_QCG_ORACLE = f"""
WITH report AS ({_QCG_ORACLE})
SELECT count(*)::BIGINT AS n_sources,
       coalesce(sum(n_docs), 0)::BIGINT AS n_docs,
       coalesce(sum(n_kept), 0)::BIGINT AS n_kept,
       coalesce(sum(sum_score), 0)::BIGINT AS sum_score,
       CAST(0 AS BIGINT) AS n_mismatch,
       true AS stream_equals_batch
FROM report
"""

_QCG_PARTIAL_SCHEMA = "source string, n_docs long, n_kept long, sum_score long"


def _qcg_partial_counts_arrow(batches):
    """mapInPandas kernel: per-source PARTIAL classifier counters within
    each Arrow batch. Pure counting over the JVM-computed score — the
    model semantics never leave the JVM."""
    for pdf in batches:
        if pdf.empty:
            continue
        pdf = pdf.copy()
        pdf["kept"] = pdf["score"] > 0
        agg = pdf.groupby("source", sort=False).agg(
            n_docs=("score", "size"),
            n_kept=("kept", "sum"),
            sum_score=("score", "sum"),
        )
        yield agg.astype("int64").reset_index()


@REGISTRY.register(
    "stream_quality_classifier_equality",
    oracle=_STREAM_QCG_ORACLE,
    description="streamed model quality gate: arriving batches scored by "
    "the batch gate's shared JVM hashed-linear fold, per-source partial "
    "counters through the exactly-once sink, compacted == batch report "
    "(null-safe exact per-source audit)",
    tags=("streaming", "text", "quality", "incremental"),
)
def stream_quality_classifier_equality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mapreduce_sm_spark.streaming.runner import replay_stream, run_file_sink

    docs = table(spark, sf_dir, "documents").select("source", "text")
    # 8 part files consumed 2 per trigger => 4 separate sink commits
    stream, base = replay_stream(docs, "qcg_stream_", 8, 2)
    partials = run_file_sink(
        _qcg_scored(stream).mapInPandas(
            _qcg_partial_counts_arrow, _QCG_PARTIAL_SCHEMA
        ),
        base,
        "stream_quality_classifier_equality",
    )
    counters = ("n_docs", "n_kept", "sum_score")
    compacted = partials.groupBy("source").agg(
        *[F.sum(c).cast("long").alias(c) for c in counters]
    )
    batch = quality_classifier_gate(spark, sf_dir).select("source", *counters)
    zero = F.lit(0).cast("long")
    # NULL-SAFE per-counter comparison: sum_score is signed, so the
    # gopher twin's -1 absent-side sentinel could collide with a real
    # value; eqNullSafe flags absent-vs-present directly.
    mism = (
        compacted.select(
            "source", *[F.col(c).alias(f"a_{c}") for c in counters]
        )
        .join(
            batch.select(
                "source", *[F.col(c).alias(f"b_{c}") for c in counters]
            ),
            "source",
            "full_outer",
        )
        .select(
            F.when(
                sum(
                    (~F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))).cast("int")
                    for c in counters
                )
                > 0,
                1,
            )
            .otherwise(0)
            .alias("bad")
        )
        .agg(F.coalesce(F.sum("bad"), zero).cast("long").alias("n_mismatch"))
    )
    dig = compacted.agg(
        F.count("*").cast("long").alias("n_sources"),
        *[
            F.coalesce(F.sum(c), zero).cast("long").alias(c)
            for c in counters
        ],
    )
    return dig.crossJoin(F.broadcast(mism)).select(
        "n_sources",
        *counters,
        "n_mismatch",
        (F.col("n_mismatch") == 0).alias("stream_equals_batch"),
    )


# ---------------------------------------------------------------------------
# Readability scores (r16, late). Readability is a standard curation
# axis (FineWeb-Edu-style educational-quality filtering correlates with
# it; classic layout: Flesch 1948 reading ease). The score needs a
# syllable count, which at corpus scale is always a deterministic
# proxy — here the standard cheap one: the number of vowel-group runs
# ([AEIOUY]+), identical regexps on both engines.
#
# Exactness: Flesch reading ease 206.835 - 1.015*(W/S) - 84.6*(Y/W)
# lands on an integer MILLI-grid with each rational term floored
# independently: fre_milli = 206835 - (1015*W) div S - (84600*Y) div
# max(W,1) — both divisions non-negative, so plain DIV / // agree.
# Sentences floor at 1 (a fragment is one sentence). The per-source
# MEAN of fre_milli IS signed (low-vowel word soup scores negative), so
# it uses the portable signed floor division (a - pmod(a,b)) div b —
# the label_centroid_drift discipline.
#
# 100 TB posture: three regexp counts per row, all row-local; the only
# exchange is the source-sized rollup (map-side combined). No join, no
# explode.
# ---------------------------------------------------------------------------

_FRE_EASY_MILLI = 60_000  # the conventional "plain English" floor

_READABILITY_ORACLE = f"""
WITH d AS (
  SELECT source,
         len(regexp_extract_all(upper(text), '[A-Z][A-Z'']*'))::BIGINT AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS s,
         len(regexp_extract_all(upper(text), '[AEIOUY]+'))::BIGINT AS y
  FROM documents
),
f AS (
  SELECT source,
         206835 - (1015 * w) // s - (84600 * y) // greatest(w, 1) AS fre
  FROM d
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       ((sum(fre) - ((sum(fre) % count(*)) + count(*)) % count(*))
           // count(*))::BIGINT AS mean_fre_milli,
       count(*) FILTER (WHERE fre >= {_FRE_EASY_MILLI})::BIGINT AS n_easy,
       (count(*) FILTER (WHERE fre >= {_FRE_EASY_MILLI}) * 1000
           // count(*))::BIGINT AS easy_pm
FROM f GROUP BY source ORDER BY source
"""


@REGISTRY.register(
    "readability_scores",
    oracle=_READABILITY_ORACLE,
    description="Flesch reading ease on an exact milli-grid (vowel-run "
    "syllable proxy, per-term floors, signed-floor mean) rolled up per "
    "source — the readability axis of curation quality filtering",
    tags=("text", "quality"),
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("source", "text")
    d = docs.select(
        "source",
        F.expr(
            "CAST(size(regexp_extract_all(upper(text), \"[A-Z][A-Z']*\", 0))"
            " AS BIGINT)"
        ).alias("w"),
        F.greatest(
            F.expr(
                "CAST(size(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT)"
            ),
            F.lit(1).cast("long"),
        ).alias("s"),
        F.expr(
            "CAST(size(regexp_extract_all(upper(text), '[AEIOUY]+', 0))"
            " AS BIGINT)"
        ).alias("y"),
    )
    fre = (
        F.lit(206835).cast("long")
        - F.expr("(1015 * w) DIV s")
        - F.expr("(84600 * y) DIV greatest(w, 1)")
    )
    easy = (F.col("fre") >= _FRE_EASY_MILLI).cast("long")
    return (
        d.select("source", fre.alias("fre"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("fre").cast("long").alias("sum_fre"),
            F.sum(easy).cast("long").alias("n_easy"),
        )
        .select(
            "source",
            "n_docs",
            # portable signed floor division (sum_fre can be negative)
            F.expr("(sum_fre - pmod(sum_fre, n_docs)) DIV n_docs")
            .cast("long")
            .alias("mean_fre_milli"),
            "n_easy",
            F.expr("n_easy * 1000 DIV n_docs").cast("long").alias("easy_pm"),
        )
        .orderBy("source")
    )
