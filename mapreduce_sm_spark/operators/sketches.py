"""Mergeable cardinality sketches (§2.C scale extension — the reference
engine, /root/reference/src/mapreduce.c, has no aggregation beyond the
user reduce UDF; exact distinct counts are already covered by
agg_distinct_segments and approx_count_distinct by approx_distinct_users).

What this adds over approx_count_distinct: a FIRST-CLASS sketch value.
hll_sketch_agg emits the Apache DataSketches HLL sketch as a binary
column that can be stored, re-aggregated, and merged with hll_union_agg
— the building block a 100 TB pipeline actually needs, because per-day /
per-source partial sketches are computed once (map-side partial
aggregation, a few KB per group) and then unioned across any dimension
without rescanning the corpus. The final estimate is read out with
hll_sketch_estimate.

Oracle strategy (the ann_ivf_recall_check contract pattern,
similarity.py): the raw estimate is defined by the DataSketches HLL_4
implementation, which no other engine reproduces value-for-value, so the
registered query emits the CONTRACT instead of the raw estimate — per
group `(event_type, exact_users, hll_within_bound)` where exact_users is
the exact distinct count (DuckDB: count(DISTINCT ...)) and
hll_within_bound asserts |estimate - exact| <= 5% * exact, computed
engine-side from the sketch readout vs the exact count and stated by the
oracle as a literal TRUE (the documented HLL_4 lgK=12 relative standard
error is ~1.6%; HLL is deterministic for fixed data, so the boolean is
stable). tests/test_sketches.py additionally bounds the raw estimates
and checks the union sketch against the exactly-computed global count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_sm_spark.registry import REGISTRY
from mapreduce_sm_spark.session import release_caches, table, track_caches

# DataSketches lgConfigK: 2^12 registers per sketch (~2 KB) — the Spark
# default, plenty below 1% error at fixture scale and still only KBs per
# group at corpus scale.
HLL_LGK = 12


# Engine-asserted relative-error ceiling for the contract boolean: HLL_4
# at lgK=12 has ~1.6% RSE; 5% gives deterministic headroom at every
# fixture SF (the estimate is a pure function of the data).
_HLL_BOUND_PCT = 5

_HLL_ORACLE = """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       true AS hll_within_bound
FROM events
GROUP BY event_type
UNION ALL
SELECT 'ALL' AS event_type, count(DISTINCT user_id) AS exact_users,
       true AS hll_within_bound
FROM events
ORDER BY event_type
"""


@REGISTRY.register(
    "hll_user_reach",
    oracle=_HLL_ORACLE,
    description="HLL sketch vs exact distinct contract: per-type reach + union total",
    tags=("sketch", "approximate", "scale", "contract"),
)
def hll_user_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HLL user-reach contract (sketch vs exact, in-bound).

    The 'ALL' sketch row is NOT re-scanned from events: it is the union of
    the per-type sketches — the merge path that makes sketches useful. The
    exact side is a plain distinct-count aggregation; the emitted
    hll_within_bound boolean asserts the sketch estimate landed within
    5% of it, which the oracle states as a literal (contract pattern,
    see module docstring).
    """
    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    # Two consumers (per-type readout + union) of one aggregate: cache
    # with a count() barrier per the repo's materialization discipline.
    release_caches("sketches.hll")  # one-generation discipline
    per = per.cache()
    per.count()
    track_caches("sketches.hll", per)
    within = (
        F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users")) * 100
        <= F.col("exact_users") * _HLL_BOUND_PCT
    )
    per_est = per.select(
        "event_type", "exact_users", within.alias("hll_within_bound")
    )
    # The union row merges per-type sketches (no rescan for the estimate);
    # its exact side is the one global distinct-count the sketches cannot
    # provide (users overlap across types, so per-type exacts don't sum).
    total = (
        per.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(
            F.broadcast(ev.agg(F.count_distinct("user_id").alias("exact_users")))
        )
        .select(
            F.lit("ALL").alias("event_type"),
            "exact_users",
            within.alias("hll_within_bound"),
        )
    )
    return per_est.unionAll(total).orderBy("event_type")


def hll_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw sketch readout (event_type, approx_users, exact_users).

    Library/pytest surface, NOT registered: the raw estimate has no SQL
    oracle. tests/test_sketches.py bounds it against the exact counts;
    the registered hll_user_reach emits the bound as a contract boolean.
    """
    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    total = (
        per.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(
            F.broadcast(ev.agg(F.count_distinct("user_id").alias("exact_users")))
        )
        .select(F.lit("ALL").alias("event_type"), "sk", "exact_users")
    )
    return (
        per.select("event_type", "sk", "exact_users")
        .unionAll(total)
        .select(
            "event_type",
            F.hll_sketch_estimate("sk").alias("approx_users"),
            "exact_users",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# EXACT distinct counting via mergeable bitmaps (the deterministic
# complement to the HLL estimate above): user ids hash into 32768-bit
# bucket bitmaps (bitmap_bucket_number / bitmap_bit_position), each
# (key, bucket) group ORs its bits map-side (bitmap_construct_agg), and
# the per-key exact distinct count is the sum of bucket popcounts. The
# 'ALL' row merges the per-type bucket bitmaps with bitmap_or_agg — the
# same rescan-free union as the HLL sketch, but exact, so this query
# carries a full value-hash oracle. At corpus scale the state per key is
# one bitmap per occupied bucket (dense id spaces compress to
# n_ids/8 bytes total), and every stage is a partial-aggregable groupBy.
# ---------------------------------------------------------------------------

_BITMAP_ORACLE = """
SELECT event_type, count(DISTINCT user_id) AS exact_users
FROM events
GROUP BY event_type
UNION ALL
SELECT 'ALL' AS event_type, count(DISTINCT user_id) AS exact_users
FROM events
ORDER BY event_type
"""


@REGISTRY.register(
    "bitmap_distinct_users",
    oracle=_BITMAP_ORACLE,
    description="exact distinct users via mergeable bucket bitmaps + OR-merged total",
    tags=("sketch", "bitmap", "exact", "scale"),
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    b = ev.select(
        "event_type",
        F.bitmap_bucket_number("user_id").alias("bucket"),
        F.bitmap_bit_position("user_id").alias("pos"),
    )
    per_bucket = b.groupBy("event_type", "bucket").agg(
        F.bitmap_construct_agg("pos").alias("bm")
    )
    # two consumers (per-type counts + OR-merged ALL row): materialize once
    release_caches("sketches.bitmap")  # one-generation discipline
    per_bucket = per_bucket.cache()
    per_bucket.count()
    track_caches("sketches.bitmap", per_bucket)
    per_type = per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("exact_users")
    )
    merged = (
        per_bucket.groupBy("bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).alias("exact_users"))
        .select(F.lit("ALL").alias("event_type"), "exact_users")
    )
    return per_type.unionAll(merged).orderBy("event_type")


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters — the FREQUENCY member of the sketch family
# (HLL = cardinality, bitmap = exact cardinality, approx_percentile =
# quantiles; this adds frequent items). Public literature: Misra & Gries
# 1982 ("Finding repeated elements"); the mergeability argument is
# Agarwal, Cormode, Huang, Phillips, Wei, Yi, "Mergeable Summaries"
# (PODS 2012). The reference engine has no sketches at all — this is a
# §2.C scale extension.
#
# Shape: per-partition bounded-state partials (a dict of at most K
# counters, maintained with the batched MG decrement: fold a batch's
# value_counts into the carry, then subtract the (K+1)-th largest
# counter from every entry and drop the non-positive ones), merged by a
# tiny groupBy-sum over <= K * num_partitions rows. This is the one
# operator lane the rest of the repo doesn't exercise: carry-state
# mapInPandas, where Python holds per-PARTITION state across Arrow
# batches but never more than K counters of it.
#
# Guarantee (what the contract boolean asserts): each per-partition
# truncation that subtracts t removes >= (K+1)*t total counter mass, so
# a partition that processed n_p tokens subtracts at most n_p/(K+1)
# from any single token's counter; summing the per-partition lower
# bounds, the merged candidate weight of token x is
# >= c(x) - N/(K+1). Hence every token with c(x) > N/(K+1) ("heavy")
# MUST appear among the merged candidates — no false negatives, under
# ANY partitioning and ANY batch boundaries. The candidate set beyond
# the heavy tokens IS partitioning-dependent, so the query emits only
# deterministic columns: the exact count, the oracle-recomputable
# heavy flag, and the theorem-backed implication boolean.
#
# Streaming-equality asymmetry (why MG has no stream_*_equality
# contract, while Count-Min and the bitmap do): CM cells and bitmap
# cells are FUNCTIONS of the input multiset — addition and OR are
# associative/commutative, so any batch split reaches the same state
# and streamed==batch is a theorem. An MG summary is NOT a function of
# the input multiset: which <= K candidates survive depends on the
# ORDER the decrements fire, i.e. on partition/batch boundaries. Merged
# MG summaries keep the ERROR BOUND (Agarwal et al. 2012) — the heavy
# set is guaranteed either way — but cell-for-cell streamed==batch
# equality is unprovable and generally FALSE. Asserting it would pin an
# execution accident, so the streaming trilogy is: CM (proven), bitmap
# (proven), MG (bound-only, by mathematical necessity).
#
# Fixture honesty: the documents vocabulary is 31 near-uniform tokens,
# so K=64 never truncates locally (the implication binds: ~30 of 31
# tokens are heavy) while K=16 truncates on every partition (the
# decrement path runs) but leaves no token heavy (the implication is
# vacuously true). Registering BOTH k-rungs keeps the decrement
# machinery driver-executed AND the guarantee driver-checked;
# tests/test_sketches.py additionally asserts the bounded-state
# invariant (<= K counters per partial) and the superset property.
# ---------------------------------------------------------------------------

_MG_K_SMALL = 16
_MG_K_LARGE = 64

# Count-Min geometry (shared by the sketch builder, the estimator, and the
# tests): d independent hash rows, two width rungs. The width is part of
# the hash input so the rungs use independent bucketings (w=16 divides
# w=1024, so mod-only bucketing would make the small sketch a fold of the
# large one).
_CM_D = 4
_CM_W_SMALL = 16
_CM_W_LARGE = 1024


def _mg_partials(toks: DataFrame, k: int) -> DataFrame:
    """(token, chat) bounded-state Misra-Gries partials, <= k rows per
    partition; chat is the partition-local lower-bound counter."""

    def kernel(batches):
        import pandas as pd

        carry: dict[str, int] = {}
        for pdf in batches:
            for t, c in pdf["token"].value_counts().items():
                carry[t] = carry.get(t, 0) + int(c)
            if len(carry) > k:
                thr = sorted(carry.values(), reverse=True)[k]
                carry = {t: c - thr for t, c in carry.items() if c > thr}
        if carry:
            yield pd.DataFrame(
                {"token": list(carry.keys()), "chat": list(carry.values())}
            )

    return toks.mapInPandas(kernel, "token string, chat long")


_MG_ORACLE = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(upper(text), '[A-Z][A-Z'']*')) AS token
  FROM documents
), cnt AS (
  SELECT token, count(*) AS exact_count FROM toks GROUP BY token
), n AS (
  SELECT CAST(sum(exact_count) AS BIGINT) AS n FROM cnt
)
SELECT token, exact_count,
       exact_count * {_MG_K_LARGE + 1} > n.n AS heavy_k{_MG_K_LARGE},
       true AS mg{_MG_K_SMALL}_ok, true AS mg{_MG_K_LARGE}_ok
FROM cnt, n
ORDER BY token
"""


@REGISTRY.register(
    "mg_heavy_hitters",
    oracle=_MG_ORACLE,
    description="Misra-Gries frequent-token sketch vs exact counts contract",
    tags=("sketch", "approximate", "scale", "contract"),
)
def mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token (exact_count, heavy_k64, mg16_ok, mg64_ok).

    heavy_kK is a hash-checked VALUE (the oracle recomputes
    exact_count * (K+1) > N itself); mgK_ok asserts the MG no-false-
    negative theorem — heavy implies present among the merged
    candidates — which the oracle states as a literal TRUE (module
    comment has the bound). Tokenizer is the wordcount grammar
    (functions/text.py), so the oracle tokenizes identically.
    """
    from mapreduce_sm_spark.functions.text import tokenize_words
    from mapreduce_sm_spark.session import fan_out

    docs = table(spark, sf_dir, "documents").select("text")
    toks = fan_out(docs).select(F.explode(tokenize_words("text")).alias("token"))
    # three consumers (exact counts + two k-rung partial passes):
    # materialize the exploded frame once per the repo's discipline.
    release_caches("sketches.mg")  # one-generation discipline
    toks = toks.persist()
    toks.count()
    track_caches("sketches.mg", toks)

    exact = toks.groupBy("token").agg(F.count("*").alias("exact_count"))
    # N via a 1-row broadcast of the exact-count sum (no token rescan)
    n_total = F.broadcast(exact.agg(F.sum("exact_count").alias("n")))

    out = exact.crossJoin(n_total)
    for k in (_MG_K_SMALL, _MG_K_LARGE):
        cand = (
            _mg_partials(toks, k)
            .groupBy("token")
            .agg(F.sum("chat").alias(f"chat{k}"))
            .filter(F.col(f"chat{k}") > 0)
        )
        heavy = F.col("exact_count") * (k + 1) > F.col("n")
        found = F.col(f"chat{k}").isNotNull()
        out = out.join(cand, "token", "left").withColumn(
            f"mg{k}_ok", ~heavy | found
        )
    return out.select(
        "token",
        "exact_count",
        (F.col("exact_count") * (_MG_K_LARGE + 1) > F.col("n")).alias(
            f"heavy_k{_MG_K_LARGE}"
        ),
        f"mg{_MG_K_SMALL}_ok",
        f"mg{_MG_K_LARGE}_ok",
    ).orderBy("token")


# ---------------------------------------------------------------------------
# Count-Min — the POINT-FREQUENCY member of the sketch family (HLL =
# cardinality estimate, bitmap = exact cardinality, Misra-Gries = heavy
# hitters, approx_percentile = quantiles; this adds "how often did x
# occur" in fixed space). Public literature: Cormode & Muthukrishnan,
# "An improved data stream summary: the count-min sketch and its
# applications" (J. Algorithms 55, 2005); mergeability per Agarwal et al.
# "Mergeable Summaries" (PODS 2012) — CM sketches merge by cell-wise
# addition, which is exactly what the partial-aggregable groupBy below
# computes.
#
# Shape: the sketch IS a groupBy over the fixed d x w cell space —
# bucket(j, token) = pmod(xxhash64(token, w, j), w) — so map-side combine
# collapses every partition to <= d*w rows before the shuffle. Shuffle
# bytes are bounded by partitions * d * w * ~24 B REGARDLESS of corpus
# size or token skew: the hot-key problem other frequency pipelines have
# cannot occur because the key space is the d*w cells, not the tokens.
# The point estimate reads back min_j cell(j, h_j(x)) through a broadcast
# of the <= d*w-row sketch — no second shuffle of the token stream.
#
# Guarantees (what the contract booleans assert):
#   cm{w}_ge_exact — est(x) >= c(x) ALWAYS (every occurrence of x lands
#     in x's own cell in every row; collisions only add). A theorem, true
#     under any data, partitioning, or hash.
#   cm{w}_within_bound — est(x) <= c(x) + 3N/w. Per row the expected
#     collision mass in x's cell is (N - c(x))/w, so Markov gives
#     P(row overshoot > 3N/w) < 1/3 and the min over d=4 independent
#     rows exceeds the bound with probability < 3^-4 per token. That is
#     NOT a union-bound theorem over the whole vocabulary (31 tokens *
#     3^-4 > 1/3), so like the HLL 5% bound above this boolean is
#     MEASURED on the fixtures, not theorem-backed: for FIXED data and
#     the fixed xxhash64 seeds the estimate is a pure function of the
#     fixtures, so the boolean is deterministic — but it MUST be
#     re-measured (run the query at the new SF and confirm all-true)
#     whenever fixture SFs or the seed layout change. ge_exact is the
#     only unconditional theorem here. Fixture honesty: the 31-token
#     near-uniform vocabulary means w=16 forces real collisions (the
#     overshoot path is exercised and stays within 2N/16) while w=1024
#     makes all-4-row collisions vanishingly rare (est == exact, bound
#     trivially met) — registering both rungs keeps the collision
#     machinery driver-executed AND the clean-sketch readout checked.
# ---------------------------------------------------------------------------


def _cm_cells(frame: DataFrame, w: int) -> DataFrame:
    """Attach (j, b) cell coordinates for every row's token, one row per
    hash row j — the shared fan-out for both build and readout."""
    j = F.explode(F.array(*[F.lit(i) for i in range(_CM_D)])).alias("j")
    out = frame.select("*", j)
    return out.withColumn(
        "b", F.pmod(F.xxhash64("token", F.lit(w), F.col("j")), F.lit(w))
    )


def _cm_sketch(toks: DataFrame, w: int) -> DataFrame:
    """(j, b, cnt) Count-Min cell counts: d*w rows max, built in ONE
    partial-aggregable groupBy (map-side combine bounds shuffle bytes by
    partitions * d * w regardless of data volume)."""
    return _cm_cells(toks, w).groupBy("j", "b").agg(F.count("*").alias("cnt"))


def _cm_point_estimates(tokens: DataFrame, sketch: DataFrame, w: int, out: str) -> DataFrame:
    """min_j cell(j, h_j(token)) per distinct token via a broadcast join
    against the <= d*w-row sketch."""
    cells = _cm_cells(tokens, w)
    return (
        cells.join(F.broadcast(sketch), ["j", "b"], "left")
        .groupBy("token")
        .agg(F.min("cnt").alias(out))
    )


_CM_ORACLE = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(upper(text), '[A-Z][A-Z'']*')) AS token
  FROM documents
), cnt AS (
  SELECT token, count(*) AS exact_count FROM toks GROUP BY token
)
SELECT token, exact_count,
       true AS cm{_CM_W_SMALL}_ge_exact, true AS cm{_CM_W_SMALL}_within_bound,
       true AS cm{_CM_W_LARGE}_ge_exact, true AS cm{_CM_W_LARGE}_within_bound
FROM cnt
ORDER BY token
"""


@REGISTRY.register(
    "countmin_token_freq",
    oracle=_CM_ORACLE,
    description="Count-Min point-frequency sketch vs exact counts contract (two width rungs)",
    tags=("sketch", "approximate", "scale", "contract"),
)
def countmin_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token (exact_count, cm{16,1024}_ge_exact, cm{16,1024}_within_bound).

    exact_count is the hash-checked value (oracle recomputes it with the
    wordcount token grammar); the four booleans assert the CM one-sided
    error theorem and the 3N/w Markov bound per width rung, stated by the
    oracle as literal TRUE (deterministic for fixed data + fixed seeds —
    module comment has the argument).
    """
    from mapreduce_sm_spark.functions.text import tokenize_words
    from mapreduce_sm_spark.session import fan_out

    docs = table(spark, sf_dir, "documents").select("text")
    toks = fan_out(docs).select(F.explode(tokenize_words("text")).alias("token"))
    # three consumers (exact counts + two sketch builds): materialize the
    # exploded frame once per the repo's cache discipline.
    release_caches("sketches.cm")  # one-generation discipline
    toks = toks.persist()
    toks.count()
    track_caches("sketches.cm", toks)

    exact = toks.groupBy("token").agg(F.count("*").alias("exact_count"))
    # N for the bound: 1-row broadcast of the exact-count sum (no rescan)
    n_total = F.broadcast(exact.agg(F.sum("exact_count").alias("n")))
    out = exact.crossJoin(n_total)

    for w in (_CM_W_SMALL, _CM_W_LARGE):
        est = _cm_point_estimates(exact.select("token"), _cm_sketch(toks, w), w, f"est{w}")
        out = (
            out.join(est, "token")
            .withColumn(f"cm{w}_ge_exact", F.col(f"est{w}") >= F.col("exact_count"))
            .withColumn(
                f"cm{w}_within_bound",
                # integer-exact: est*w <= exact*w + 3N  <=>  est <= exact + 3N/w
                # (measured bound — see the module comment; re-measure on
                # any fixture-SF or seed change, as for the HLL 5% bound)
                F.col(f"est{w}") * w <= F.col("exact_count") * w + 3 * F.col("n"),
            )
        )
    return out.select(
        "token",
        "exact_count",
        f"cm{_CM_W_SMALL}_ge_exact",
        f"cm{_CM_W_SMALL}_within_bound",
        f"cm{_CM_W_LARGE}_ge_exact",
        f"cm{_CM_W_LARGE}_within_bound",
    ).orderBy("token")


def cm_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw readout (token, exact_count, est16, est1024) — library/pytest
    surface, NOT registered (the raw estimates depend on xxhash64, which
    no oracle reproduces). tests/test_sketches.py bounds them."""
    from mapreduce_sm_spark.functions.text import tokenize_words
    from mapreduce_sm_spark.session import fan_out

    docs = table(spark, sf_dir, "documents").select("text")
    toks = fan_out(docs).select(F.explode(tokenize_words("text")).alias("token"))
    release_caches("sketches.cm")  # one-generation discipline
    toks = toks.persist()
    toks.count()
    track_caches("sketches.cm", toks)
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_count"))
    out = exact
    for w in (_CM_W_SMALL, _CM_W_LARGE):
        est = _cm_point_estimates(exact.select("token"), _cm_sketch(toks, w), w, f"est{w}")
        out = out.join(est, "token")
    return out.orderBy("token")


# ---------------------------------------------------------------------------
# Bloom-filter semi-join prune — the MEMBERSHIP member of the sketch
# family, registered as the ingest-scrub contract it exists for. Catalyst
# already injects its own runtime bloom filter inside eligible shuffle
# joins (plan-asserted in tests/test_runtime_filter.py); what that cannot
# do is persist the filter ACROSS jobs. This operator builds the explicit
# filter (functions/bloom.py: one groupBy over <= m/64 words), broadcasts
# it as one map row, and prunes the fact side with a per-row expression —
# the shape a 100 TB pipeline uses to scrub today's corpus against
# yesterday's 10^10 ingested keys without joining them.
#
# Contract (ann_ivf_recall_check pattern): per order-status the EXACT
# semi-join count and integer-cents total (oracle recomputes both via
# IN-subquery), plus two engine-asserted booleans the oracle states as
# literals: bloom_no_false_negatives (a theorem — every built-in key
# probes true, under any data) and bloom_fp_under_1pct (geometry math:
# at the largest fixture SF the load gives ~2.9e-4 per-probe FP, 34x
# under the bound; deterministic for fixed data + fixed xxhash64 seeds,
# same argument as the HLL/CM bounds above).
# ---------------------------------------------------------------------------

_BLOOM_SEGMENT = "BUILDING"

_BLOOM_ORACLE = f"""
WITH probe AS (
  SELECT o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_custkey IN (SELECT c_custkey FROM customer
                       WHERE c_mktsegment = '{_BLOOM_SEGMENT}') AS m
  FROM orders
)
SELECT o_orderstatus,
       CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(sum(CASE WHEN m THEN cents ELSE 0 END) AS BIGINT) AS member_cents,
       true AS bloom_no_false_negatives,
       true AS bloom_fp_under_1pct
FROM probe
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@REGISTRY.register(
    "bloom_semi_prune_orders",
    oracle=_BLOOM_ORACLE,
    description="explicit reusable Bloom filter prunes orders to a customer segment; exact-vs-filter contract",
    tags=("sketch", "bloom", "join", "scale", "contract"),
)
def bloom_semi_prune_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status (n_members, member_cents, bloom_no_false_negatives,
    bloom_fp_under_1pct).

    The exact flag comes from a broadcast join against the dim keys (the
    re-check every Bloom candidate set feeds anyway); the filter flag
    from the broadcast map probe. The fact table is never shuffled on the
    join key — the only exchange is the final tiny status rollup.
    """
    from mapreduce_sm_spark.functions.bloom import bloom_build, bloom_might_contain

    dim = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == _BLOOM_SEGMENT)
        .select("c_custkey")
    )
    bloom = bloom_build(dim, "c_custkey")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_custkey", "o_totalprice"
    )
    probed = (
        orders.crossJoin(F.broadcast(bloom))
        .join(
            F.broadcast(dim.withColumn("_m", F.lit(True))),
            orders.o_custkey == dim.c_custkey,
            "left",
        )
        .select(
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
            F.coalesce(F.col("_m"), F.lit(False)).alias("m"),
            bloom_might_contain(
                F.col("o_custkey"),
                F.col("bloom"),
                stored_geometry=(F.col("m_bits"), F.col("seeds")),
            ).alias("hit"),
        )
    )
    return (
        probed.groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(F.col("m"), 1).otherwise(0)).alias("n_members"),
            F.sum(F.when(F.col("m"), F.col("cents")).otherwise(0)).alias(
                "member_cents"
            ),
            (F.sum(F.when(F.col("m") & ~F.col("hit"), 1).otherwise(0)) == 0).alias(
                "bloom_no_false_negatives"
            ),
            (
                F.sum(F.when(~F.col("m") & F.col("hit"), 1).otherwise(0)) * 100
                <= F.sum(F.when(~F.col("m"), 1).otherwise(0))
            ).alias("bloom_fp_under_1pct"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Bloom filter CROSS-JOB reuse — the persist half of the ingest-scrub
# story. bloom_semi_prune_orders proves build+probe inside one job;
# production builds the filter ONCE (over yesterday's 10^10 ingested
# keys), stores it (m/8 bytes at most — here a 1-row parquet), and every
# later job re-loads and re-broadcasts it. This query drives that full
# cycle: build -> write parquet -> read parquet -> broadcast -> prune ->
# exact re-check of the survivors only.
#
# Contract: per order-status the member count and integer-cents total,
# computed ON THE PRUNED SIDE (probe first, exact broadcast re-check only
# on probe survivors). The oracle recomputes both from the FULL orders
# table via an IN-subquery — equality IS the no-false-negative proof for
# the store/load/probe path: if the round trip lost a single set bit, a
# member order would be pruned before the re-check could save it and the
# count would drop. geometry_roundtrip_ok asserts the loaded filter's
# stored (m_bits, seeds) equal the build constants (the probe itself
# would raise on mismatch — functions/bloom.py guard); the oracle states
# it as literal TRUE.
#
# 100 TB posture: the persisted filter is ONE row independent of key
# count; the fact side is never shuffled on the join key — the probe is
# a codegen'd map lookup under the scan, the re-check a broadcast hash
# join, and the only exchange is the final tiny status rollup
# (plan-asserted in tests/test_bloom.py).
# ---------------------------------------------------------------------------

_BLOOM_REUSE_ORACLE = f"""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS member_cents,
       true AS geometry_roundtrip_ok
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = '{_BLOOM_SEGMENT}')
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@REGISTRY.register(
    "bloom_reuse_prune_orders",
    oracle=_BLOOM_REUSE_ORACLE,
    description="Bloom filter persisted to parquet, re-loaded, re-broadcast; prune-then-verify equals the exact semi-join",
    tags=("sketch", "bloom", "join", "scale", "contract", "roundtrip"),
)
def bloom_reuse_prune_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status (n_members, member_cents, geometry_roundtrip_ok) via the
    stored-filter path: probe survivors only are exactly re-checked."""
    import os

    from mapreduce_sm_spark.functions.bloom import (
        BLOOM_M_BITS,
        BLOOM_SEEDS,
        bloom_build,
        bloom_might_contain,
    )
    from mapreduce_sm_spark.session import shared_tmpdir

    dim = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == _BLOOM_SEGMENT)
        .select("c_custkey")
    )
    # phase 1 (the "yesterday" job): build and PERSIST the 1-row filter.
    # shared per-(process, sf) dir + overwrite: bench's 4 trials reuse one
    # copy, and two scale factors can never swap each other's persisted
    # filter under a lazy reader (ADVICE r09).
    store = os.path.join(
        shared_tmpdir("bloom_store_", sf_dir),
        "ingest_filter",
    )
    bloom_build(dim, "c_custkey").write.mode("overwrite").parquet(store)

    # phase 2 (the "today" job): reload, re-broadcast, prune, re-check.
    loaded = spark.read.parquet(store)
    orders = table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_custkey", "o_totalprice"
    )
    candidates = orders.crossJoin(F.broadcast(loaded)).filter(
        bloom_might_contain(
            F.col("o_custkey"),
            F.col("bloom"),
            stored_geometry=(F.col("m_bits"), F.col("seeds")),
        )
    )
    # exact re-check runs ONLY on probe survivors (inner broadcast join);
    # geometry_roundtrip_ok re-states the loaded-vs-built equality the
    # guarded probe already enforced (it raises, so reaching here with a
    # FALSE is impossible — the boolean makes the oracle say so).
    built_m, built_s = F.lit(BLOOM_M_BITS).cast("long"), F.array(
        *[F.lit(int(s)).cast("long") for s in BLOOM_SEEDS]
    )
    return (
        candidates.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "member_cents"
            ),
            ((F.first("m_bits") == built_m) & (F.first("seeds") == built_s)).alias(
                "geometry_roundtrip_ok"
            ),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# STREAMING Count-Min equality — the sketch family's mergeability claim,
# proven across micro-batches instead of argued. The batch sketches above
# are "mergeable partials" by construction (counts add; bitmaps OR; HLL
# registers max); this contract runs the SAME Count-Min build as a
# RocksDB-backed stateful stream (streaming/sketch_stream.py) and asserts
# the final streamed state is cell-for-cell identical to the batch-built
# sketch on the same documents — under whatever batch split the
# availableNow trigger chose. Addition over any partition of the input is
# associative-commutative, so equality is a theorem; the run checks the
# operational machinery (keyed state round-trips through RocksDB,
# update-mode emission, final-state extraction).
#
# Contract columns (per hash row j):
#   row_mass — the streamed row's total mass. Every token occurrence
#     lands in exactly ONE cell per row, so row_mass == N, the exact
#     corpus token count — which the oracle recomputes and hash-checks.
#     A stream that dropped or double-counted a batch fails here.
#   cells_within_w — occupied cells <= w (state is bounded by GEOMETRY,
#     not data — the scale story). Theorem; oracle literal TRUE.
#   stream_equals_batch — full-outer cell-for-cell equality vs the batch
#     sketch. Theorem (see above); oracle literal TRUE.
# ---------------------------------------------------------------------------

# The hash-row VALUES list is GENERATED from the same _CM_D constant the
# engine plan uses (VERDICT r09): a hand-written (0),(1),(2),(3) would let a
# geometry change drift the oracle and the engine apart in a way the
# fixed-shape allowlist could mask. tests/test_sketches.py pins d alignment.
_STREAM_CM_ORACLE = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(upper(text), '[A-Z][A-Z'']*')) AS token
  FROM documents
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM toks
)
SELECT CAST(t.j AS BIGINT) AS j, n.n AS row_mass,
       true AS cells_within_w, true AS stream_equals_batch
FROM (VALUES {", ".join(f"({j})" for j in range(_CM_D))}) AS t(j), n
ORDER BY j
"""


@REGISTRY.register(
    "stream_countmin_equality",
    oracle=_STREAM_CM_ORACLE,
    description="Count-Min built as a RocksDB stateful stream equals the batch sketch cell-for-cell",
    tags=("streaming", "sketch", "stateful", "contract", "scale"),
)
def stream_countmin_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per hash row j: (row_mass, cells_within_w, stream_equals_batch)."""
    from mapreduce_sm_spark.functions.text import tokenize_words
    from mapreduce_sm_spark.session import fan_out
    from mapreduce_sm_spark.streaming.runner import sink_name
    from mapreduce_sm_spark.streaming.sketch_stream import run_stream_countmin

    docs = table(spark, sf_dir, "documents").select("text")
    toks = fan_out(docs).select(F.explode(tokenize_words("text")).alias("token"))
    batch = _cm_sketch(toks, _CM_W_LARGE).alias("ba")

    qname = sink_name("stream_cm_", sf_dir)
    streamed = run_stream_countmin(
        spark, sf_dir, _CM_W_LARGE, _CM_D, query_name=qname
    ).alias("st")

    cmp = batch.join(streamed, ["j", "b"], "full")
    return (
        cmp.groupBy("j")
        .agg(
            F.sum(F.col("st.cnt")).alias("row_mass"),
            (F.count("*") <= _CM_W_LARGE).alias("cells_within_w"),
            (
                F.sum(
                    F.when(~F.col("ba.cnt").eqNullSafe(F.col("st.cnt")), 1).otherwise(0)
                )
                == 0
            ).alias("stream_equals_batch"),
        )
        .select(
            F.col("j").cast("long").alias("j"),
            "row_mass",
            "cells_within_w",
            "stream_equals_batch",
        )
        .orderBy("j")
    )


# ---------------------------------------------------------------------------
# Streaming BITMAP equality — completes the streaming-mergeability
# trilogy's provable half (VERDICT r09 item 6). Count-Min proved "counts
# add"; this proves "bitmaps OR": per-(event_type, bucket) user bitmaps
# built as a RocksDB stateful stream (streaming/bitmap_stream.py, fixed
# 4096-byte state per cell) must equal the batch-built cells bit for bit
# — OR is associative/commutative/idempotent over any batch split, so
# equality is a theorem and the run checks the machinery. Cells compare
# on (popcount, content-hash): the content hash is md5 over the
# ascending comma-joined positions, computable identically by the
# Python state fold, the Spark batch side, and nothing engine-internal.
#
# Contract columns (per event_type):
#   n_buckets     — occupied buckets (state cardinality ~ users/32768,
#                   not events: the scale story). Oracle: exact.
#   exact_users   — sum of cell popcounts == count(DISTINCT user_id),
#                   because (bucket, pos) encodes user_id uniquely.
#                   Oracle: exact.
#   stream_equals_batch — full-outer cell-for-cell (n_bits, bits_md5)
#                   equality vs the batch cells. Theorem; oracle TRUE.
#   bitmap_count_ok — per cell, Spark's builtin bitmap_construct_agg/
#                   bitmap_count over the same positions agrees with the
#                   set size — ties this contract to the builtin bitmap
#                   family bitmap_distinct_users uses. Oracle TRUE.
# ---------------------------------------------------------------------------

_STREAM_BITMAP_ORACLE = """
SELECT event_type,
       -- floor-division bucket (DuckDB's integer // TRUNCATES toward
       -- zero, unlike its float //): pmod-normalize, subtract, divide —
       -- matches the engine's bucket_and_pos exactly, negative ids too
       CAST(count(DISTINCT (user_id - ((user_id % 32768) + 32768) % 32768)
                           // 32768) AS BIGINT) AS n_buckets,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS stream_equals_batch,
       true AS bitmap_count_ok
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@REGISTRY.register(
    "stream_bitmap_equality",
    oracle=_STREAM_BITMAP_ORACLE,
    description="exact-distinct bitmap built as a RocksDB stateful stream equals the batch cells bit-for-bit",
    tags=("streaming", "sketch", "bitmap", "stateful", "contract", "scale"),
)
def stream_bitmap_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: (n_buckets, exact_users, stream_equals_batch,
    bitmap_count_ok)."""
    from mapreduce_sm_spark.streaming.bitmap_stream import (
        bucket_and_pos,
        run_stream_bitmap,
    )
    from mapreduce_sm_spark.streaming.runner import sink_name

    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    # floor-div bucketing (bucket_and_pos): consistent with pmod for
    # negative ids and with the oracle's floor `//` — a truncating div
    # here would collide id -5 with id 32763
    pos_rows = ev.select("event_type", *bucket_and_pos("user_id"))
    batch = pos_rows.groupBy("event_type", "bucket").agg(
        F.size(F.collect_set("pos")).cast("long").alias("n_bits"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_set("pos")),
                    lambda p: p.cast("string"),
                ),
            )
        ).alias("bits_md5"),
        # builtin-family tie: popcount of Spark's own bitmap over the
        # same positions must equal the exact set size
        F.bitmap_count(F.bitmap_construct_agg("pos")).alias("builtin_count"),
    )

    qname = sink_name("stream_bitmap_", sf_dir)
    streamed = run_stream_bitmap(spark, sf_dir, query_name=qname)

    cmp = batch.alias("ba").join(
        streamed.alias("st"), ["event_type", "bucket"], "full"
    )
    return (
        cmp.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum(F.col("ba.n_bits")).cast("long").alias("exact_users"),
            (
                F.sum(
                    F.when(
                        ~F.col("ba.n_bits").eqNullSafe(F.col("st.n_bits"))
                        | ~F.col("ba.bits_md5").eqNullSafe(F.col("st.bits_md5")),
                        1,
                    ).otherwise(0)
                )
                == 0
            ).alias("stream_equals_batch"),
            (
                F.sum(
                    F.when(
                        ~F.col("builtin_count")
                        .cast("long")
                        .eqNullSafe(F.col("ba.n_bits")),
                        1,
                    ).otherwise(0)
                )
                == 0
            ).alias("bitmap_count_ok"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketch — the SET-OPERATION member of the sketch
# family. HLL unions but cannot intersect; KMV supports union AND
# intersection estimation from the same mergeable synopsis, which is the
# audience-overlap question (how many of the clickstream users are also
# paying customers?) a pipeline cannot answer from per-set cardinalities.
# Public literature: Beyer, Haas, Reinwald, Sismanis, Gemulla, "On
# synopses for distinct-value estimation under multiset operations"
# (SIGMOD 2007); the same construction underlies Apache DataSketches'
# theta sketch.
#
# Construction: KMV(S) = the k smallest DISTINCT values of h(x), x in S,
# with h = the repo's shared 60-bit md5-derived hash (functions/
# hashing.py) — which DuckDB computes bit-for-bit, so unlike the HLL/CM
# contracts the ORACLE REPLAYS THE ENTIRE SKETCH and every emitted value
# is hash-checked (no literal-TRUE booleans needed):
#   union:      merge = k smallest of KMV(A) u KMV(B); tau = the k-th
#               smallest; est_union = floor((k-1) * M / tau), M = 2^60
#               (Beyer et al. eq. for the k-th order statistic of
#               uniforms); EXACT-mode when the merged synopsis holds
#               fewer than k values (then it holds the whole union).
#   intersect:  kappa = |{v in merge : v in KMV(A) and v in KMV(B)}|;
#               est = floor(kappa * est_union / k) (the Jaccard
#               estimator kappa/k scaled by the union estimate).
# All order statistics and floor divisions over integers — both engines
# agree to the last bit (the pmi_ratio_ppm discipline).
#
# Set pairs measured (the fixture's only genuinely PARTIAL overlaps —
# within events every type/week shares all users, a density quirk worth
# stating): the events audience vs ALL ordering customers (user ids are
# a 1/10th prefix of the custkey space: Jaccard ~0.1) and vs the
# BUILDING-segment customers (~1/50).
#
# 100 TB posture: each input side is one distinct + one TakeOrdered(k)
# — no all-pairs anything; the sketches themselves are k-row frames
# joined broadcast. Sketch maintenance at scale is the same top-k merge
# per shard (mergeable by the same argument as min: the k smallest of a
# union is computable from the per-shard k smallest).
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_M = 1 << 60


def _kmv_sketch(keys: DataFrame, col: str, k: int = _KMV_K) -> DataFrame:
    """k smallest distinct 60-bit hashes of the key column: [h: long]."""
    from mapreduce_sm_spark.functions.hashing import hash60

    return (
        keys.select(hash60(F.col(col).cast("string")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def _kmv_overlap(a: DataFrame, b: DataFrame, k: int = _KMV_K) -> DataFrame:
    """1-row [n_merged, tau, kappa, est_union, est_inter] from two
    KMV sketches (see module comment for the estimator)."""
    merged = a.unionAll(b).distinct().orderBy("h").limit(k)
    both = a.intersect(b)  # sketch rows present in BOTH inputs (k-bounded)
    stats = merged.join(F.broadcast(both.withColumnRenamed("h", "hb")),
                        F.col("h") == F.col("hb"), "left").agg(
        F.count("*").alias("n_merged"),
        F.max("h").alias("tau"),
        F.count("hb").alias("kappa"),
    )
    # exact integer estimates via DECIMAL(38,0) `div` (truncating, the
    # pmi_ratio_ppm discipline — plain decimal `/` ROUNDS at scale 6, so
    # a quotient epsilon under an integer would round up and break the
    # floor semantics the oracle's HUGEINT `//` implements)
    est_union = F.when(
        F.col("n_merged") < k, F.col("n_merged").cast("long")
    ).otherwise(
        F.expr(
            f"CAST((CAST({k - 1} AS DECIMAL(38,0)) * CAST({_KMV_M} AS DECIMAL(38,0)))"
            " div CAST(tau AS DECIMAL(38,0)) AS BIGINT)"
        )
    )
    out = stats.select("n_merged", "tau", "kappa", est_union.alias("est_union"))
    return out.select(
        "n_merged",
        "tau",
        "kappa",
        "est_union",
        F.when(F.col("n_merged") < k, F.col("kappa").cast("long"))
        .otherwise(
            F.expr(
                "CAST((CAST(kappa AS DECIMAL(38,0)) * CAST(est_union AS DECIMAL(38,0)))"
                f" div CAST({k} AS DECIMAL(38,0)) AS BIGINT)"
            )
        )
        .alias("est_inter"),
    )


def _kmv_oracle() -> str:
    from mapreduce_sm_spark.functions.hashing import hash60_sql

    h = hash60_sql("CAST(k AS VARCHAR)")
    k, m = _KMV_K, _KMV_M

    def pair(tag: str, aset: str, bset: str) -> str:
        return f"""
m_{tag} AS (
  SELECT h FROM (SELECT h FROM sk_{aset} UNION SELECT h FROM sk_{bset})
  ORDER BY h LIMIT {k}
),
s_{tag} AS (
  -- COALESCE: on an empty merge, sum() is NULL but the engine side emits
  -- count('hb') = 0 — count semantics, matched here so the contract holds
  -- on empty fixtures too (ADVICE r09)
  SELECT count(*) AS n_merged, max(h) AS tau,
         CAST(COALESCE(sum(CASE WHEN h IN (SELECT h FROM sk_{aset})
                        AND h IN (SELECT h FROM sk_{bset})
                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS kappa
  FROM m_{tag}
),
e_{tag} AS (
  SELECT (SELECT count(*) FROM
            (SELECT k FROM {aset} UNION SELECT k FROM {bset})) AS exact_union,
         (SELECT count(*) FROM
            (SELECT k FROM {aset} INTERSECT SELECT k FROM {bset})) AS exact_inter
),
u_{tag} AS (
  SELECT e.exact_union, e.exact_inter, s.n_merged, s.tau, s.kappa,
         CASE WHEN s.n_merged < {k} THEN s.n_merged
              ELSE CAST(({k - 1}::HUGEINT * {m}::HUGEINT) // s.tau::HUGEINT
                        AS BIGINT) END AS est_union
  FROM e_{tag} e, s_{tag} s
),
r_{tag} AS (
  SELECT '{tag}' AS set_pair, exact_union, exact_inter, n_merged, tau, kappa,
         est_union,
         CASE WHEN n_merged < {k} THEN kappa
              ELSE CAST((kappa::HUGEINT * est_union::HUGEINT) // {k}::HUGEINT
                        AS BIGINT) END AS est_inter
  FROM u_{tag}
)"""

    return f"""
WITH
events_users AS (SELECT DISTINCT user_id AS k FROM events),
order_customers AS (SELECT DISTINCT o_custkey AS k FROM orders),
building_customers AS (
  SELECT DISTINCT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
),
sk_events_users AS (
  SELECT h FROM (SELECT {h} AS h FROM events_users) ORDER BY h LIMIT {k}
),
sk_order_customers AS (
  SELECT h FROM (SELECT {h} AS h FROM order_customers) ORDER BY h LIMIT {k}
),
sk_building_customers AS (
  SELECT h FROM (SELECT {h} AS h FROM building_customers) ORDER BY h LIMIT {k}
),{pair("order_customers_x", "events_users", "order_customers")},{pair("building_customers_x", "events_users", "building_customers")}
SELECT * FROM r_order_customers_x
UNION ALL
SELECT * FROM r_building_customers_x
ORDER BY set_pair
"""


@REGISTRY.register(
    "kmv_audience_overlap",
    oracle=_kmv_oracle(),
    description="KMV (k-minimum-values) sketch: union AND intersection estimates for audience overlap, oracle replays the sketch bit-for-bit",
    tags=("sketch", "kmv", "setops", "scale", "contract"),
)
def kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per set pair: exact union/intersection plus the full KMV readout
    (n_merged, tau, kappa, est_union, est_inter) — every column
    hash-checked against the oracle's replay of the same sketch."""
    ev = table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    orders = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    bldg = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    sk_ev = _kmv_sketch(ev, "k")

    def pair_row(tag: str, bkeys: DataFrame) -> DataFrame:
        ov = _kmv_overlap(sk_ev, _kmv_sketch(bkeys, "k"))
        exact = (
            ev.distinct()
            .withColumn("ina", F.lit(1))
            .join(bkeys.distinct().withColumn("inb", F.lit(1)), "k", "full")
            .agg(
                F.count("*").alias("exact_union"),
                # coalesce: sum over ZERO rows is NULL, but the oracle's
                # scalar-subquery count over an empty set is 0
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("ina").isNotNull() & F.col("inb").isNotNull(), 1
                        ).otherwise(0)
                    ),
                    F.lit(0).cast("long"),
                ).alias("exact_inter"),
            )
        )
        return exact.crossJoin(ov).select(
            F.lit(tag).alias("set_pair"),
            "exact_union",
            "exact_inter",
            "n_merged",
            "tau",
            "kappa",
            "est_union",
            "est_inter",
        )

    return (
        pair_row("order_customers_x", orders)
        .unionAll(pair_row("building_customers_x", bldg))
        .orderBy("set_pair")
    )


# ---------------------------------------------------------------------------
# Bottom-k RANK sketch — the QUANTILE member of the sketch family
# (VERDICT r09 item 7). Catalyst's approx_percentile is a quantile
# sketch, but an engine-internal one: not persistable, not inspectable,
# not oracle-replayable. This synopsis is all three, on the same terms
# as KMV/CM/Bloom: keep the k rows whose hash60(key) is smallest — a
# uniform-without-replacement row sample that is MERGEABLE exactly like
# KMV (the bottom-k of a union is computable from per-shard bottom-k
# synopses: any row in bottom-k(A u B) is in bottom-k of its own shard),
# persistable as a k-row parquet table, and — because DuckDB computes
# hash60 bit-for-bit — replayed WHOLE by the oracle, every emitted value
# hash-checked. Public literature: Cohen & Kaplan, "Summarizing data
# using bottom-k sketches" (PODC 2007); the quantile read-out is the
# classical sample-quantile estimator (rank ceil(q*k) of the sorted
# sample estimates the rank-ceil(q*n) order statistic with rank error
# O(n/sqrt(k)) w.h.p.).
#
# Contract columns (one row per quantile level, all exact integers):
#   level_ppm   — the quantile level in parts-per-million
#   est_cents   — sketch estimate: sample value at rank ceil(q*k_used)
#   exact_cents — true order statistic at rank ceil(q*n) (rank-based,
#                 no interpolation, so it is an exact integer)
#   est_rank    — |{x : x <= est_cents}| in the FULL data: the reader
#                 can see the rank error est_rank/n - q directly
#   n_rows, k_used — the sizes that parameterize both estimators
#
# Scale posture: the SKETCH path is a TakeOrdered(k) (per-partition
# bottom-k + one tiny reduce — the KMV plan) plus O(k)-row windows; the
# est_rank column is one partial-aggregable conditional count per scan.
# The exact_cents column is computed DISTRIBUTIVELY (VERDICT r10 item 1
# retired the old single-partition row_number over the corpus):
# range-partition on (cents, key), count rows per range partition (a
# <=parts-row frame, parts derived from defaultParallelism — see
# _qsk_exact_parts), cumulative offsets via a window over
# that tiny frame only, then global rank = offset + row_number
# partitioned BY partition id — the sort work stays spread across all
# range partitions and no stage ever holds the whole corpus. Same
# cumsum-over-a-bounded-frame idiom as doc_length_deciles
# (sharding.py). Every window in this query is either partitioned or
# over a bounded (<=k rows / <=parts rows) frame.
#
# Empty-input contract (ADVICE r10): the 6 level rows are emitted
# unconditionally — est_cents/exact_cents NULL, est_rank 0, n_rows 0,
# k_used 0 on an empty corpus, matching the oracle's scalar-subquery
# semantics (tests/test_empty_inputs.py pins this at value level).
# ---------------------------------------------------------------------------

from mapreduce_sm_spark.functions.hashing import hash60, hash60_sql  # noqa: E402

_QSK_K = 256
_QSK_SALT = "qsketch"
_QSK_LEVELS_PPM = (100000, 250000, 500000, 750000, 900000, 990000)
# floor for the exact-order-statistic fan-out; the actual parts count is
# derived per session from defaultParallelism (VERDICT r11 item 4: a
# fixed 32 kept each range partition at n/32 rows, so a 100x corpus made
# every local sort 100x bigger; scaling parts with the cluster keeps
# rows-per-partition roughly constant as executors are added). The
# offset-cumsum frame stays <=parts rows — tiny on any real cluster
# (1000 executors x 8 cores -> 16k rows), far below the corpus.
_QSK_EXACT_PARTS_MIN = 32


def _qsk_exact_parts(spark: SparkSession) -> int:
    """Range-partition fan-out for the exact order statistic: 2x the
    session's defaultParallelism (the standard oversubscription that
    keeps all cores busy despite uneven range-bucket sizes), floored at
    _QSK_EXACT_PARTS_MIN so local[k<16] tests still exercise a
    multi-partition plan."""
    return max(_QSK_EXACT_PARTS_MIN, 2 * spark.sparkContext.defaultParallelism)


def _qsk_bottom_k(vals: DataFrame, k: int = _QSK_K) -> DataFrame:
    """The persistable synopsis: k rows of (key, cents, h) with smallest
    h = hash60('qsketch|' || key), total-ordered by (h, key). Merge law:
    bottom-k(A u B) == bottom-k(bottom-k(A) u bottom-k(B)) on distinct
    keys — pinned in tests/test_sketches.py."""
    key = F.concat(F.lit(_QSK_SALT + "|"), F.col("key").cast("string"))
    return (
        vals.select("key", "cents", hash60(key).alias("h"))
        .orderBy("h", "key")
        .limit(k)
    )


_QSK_ORACLE = f"""
WITH v AS (
  SELECT o_orderkey AS key, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM v),
sk AS (
  SELECT key, cents,
         {hash60_sql("key::VARCHAR", salt=_QSK_SALT)} AS h
  FROM v
  ORDER BY h, key
  LIMIT {_QSK_K}
),
ks AS (SELECT CAST(count(*) AS BIGINT) AS k_used FROM sk),
sv AS (
  SELECT cents, row_number() OVER (ORDER BY cents, key) AS rs FROM sk
),
fv AS (
  SELECT cents, row_number() OVER (ORDER BY cents, key) AS rn FROM v
),
lv AS (
  SELECT unnest([{", ".join(str(p) for p in _QSK_LEVELS_PPM)}]) AS level_ppm
),
est AS (
  SELECT l.level_ppm,
         (SELECT sv.cents FROM sv, ks
          WHERE sv.rs = (l.level_ppm * ks.k_used + 999999) // 1000000) AS est_cents,
         (SELECT fv.cents FROM fv, n
          WHERE fv.rn = (l.level_ppm * n.n_rows + 999999) // 1000000) AS exact_cents
  FROM lv l
)
SELECT CAST(e.level_ppm AS BIGINT) AS level_ppm, e.est_cents, e.exact_cents,
       (SELECT CAST(count(*) AS BIGINT) FROM v WHERE v.cents <= e.est_cents)
           AS est_rank,
       n.n_rows, ks.k_used
FROM est e, n, ks
ORDER BY level_ppm
"""


@REGISTRY.register(
    "quantile_sketch_order_price",
    oracle=_QSK_ORACLE,
    description="bottom-k rank sketch: mergeable quantile synopsis with exact-rank contract, oracle replays the sketch",
    tags=("sketch", "quantile", "contract", "scale"),
)
def quantile_sketch_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per level: (level_ppm, est_cents, exact_cents, est_rank, n_rows,
    k_used) over orders' total price in cents."""
    from pyspark.sql import Window

    vals = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    sk = _qsk_bottom_k(vals)  # TakeOrdered(k): the sketch path
    ks = sk.agg(F.count("*").cast("long").alias("k_used"))
    n = vals.agg(F.count("*").cast("long").alias("n_rows"))

    levels = F.array(*[F.lit(int(p)) for p in _QSK_LEVELS_PPM])
    lv = (
        spark.range(1)
        .select(F.explode(levels).alias("p"))
        .select(F.col("p").cast("long").alias("level_ppm"))
    )

    # the 6 level rows exist unconditionally (empty-input contract): each
    # carries the corpus sizes so the target ranks are computable even
    # when they are 0
    base = lv.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(ks))

    # sample read-out: rank within the <= k-row synopsis (safe window)
    sw = Window.orderBy("cents", "key")
    sv = sk.select("cents", F.row_number().over(sw).cast("long").alias("rs"))
    est = (
        base.withColumn(
            "target_rs",
            F.expr("(level_ppm * k_used + 999999) div 1000000").cast("long"),
        )
        .join(F.broadcast(sv), F.col("rs") == F.col("target_rs"), "left")
        .select("level_ppm", F.col("cents").alias("est_cents"))
    )

    # exact order statistic — DISTRIBUTED (see section comment): range-
    # partition the corpus on the sort key, derive each partition's row
    # count from its max local row_number (one shared range exchange),
    # turn the <=parts-row count frame into cumulative offsets, and read
    # global rank = offset + local rank. No stage ever sorts more than
    # one range partition's slice, and parts scales with the cluster
    # (_qsk_exact_parts) so the slice size stays bounded at 100x.
    rv = vals.repartitionByRange(
        _qsk_exact_parts(spark), "cents", "key"
    ).withColumn("pid", F.spark_partition_id())
    wloc = Window.partitionBy("pid").orderBy("cents", "key")
    loc = rv.withColumn("lrn", F.row_number().over(wloc).cast("long"))
    # per-partition counts: a <=parts-row frame; the offset
    # cumsum window below runs over THAT frame only (bounded, like the
    # doc_length_deciles histogram window), never over the corpus
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        loc.groupBy("pid")
        .agg(F.max("lrn").alias("pcnt"))
        .withColumn(
            "off", F.coalesce(F.sum("pcnt").over(woff), F.lit(0)).cast("long")
        )
        .select("pid", "off")
    )
    fv = loc.join(F.broadcast(offs), "pid").select(
        "cents", (F.col("off") + F.col("lrn")).cast("long").alias("rn")
    )
    # inner join fv against the BROADCAST 6-row target frame (<=6 hits);
    # the final assembly's left join by level_ppm supplies the NULL rows
    # on an empty corpus — a left join here would force shuffling fv
    targets = base.select(
        "level_ppm",
        F.expr("(level_ppm * n_rows + 999999) div 1000000")
        .cast("long")
        .alias("target_rn"),
    )
    exact = (
        fv.join(F.broadcast(targets), F.col("rn") == F.col("target_rn"))
        .select("level_ppm", F.col("cents").alias("exact_cents"))
    )

    # est_rank: one partial-aggregable conditional count per scan — the
    # 6-row est frame broadcasts onto the fact scan, no shuffle of vals
    ranks = (
        vals.crossJoin(F.broadcast(est))
        .groupBy("level_ppm")
        .agg(
            F.sum(F.when(F.col("cents") <= F.col("est_cents"), 1).otherwise(0))
            .cast("long")
            .alias("est_rank")
        )
    )

    return (
        base.join(F.broadcast(est), "level_ppm", "left")
        .join(F.broadcast(exact), "level_ppm", "left")
        .join(F.broadcast(ranks), "level_ppm", "left")
        .select(
            "level_ppm",
            "est_cents",
            "exact_cents",
            F.coalesce("est_rank", F.lit(0).cast("long")).alias("est_rank"),
            "n_rows",
            "k_used",
        )
        .orderBy("level_ppm")
    )


# ---------------------------------------------------------------------------
# Streaming bottom-k equality — the trilogy's third PROVEN member.
# Count-Min proved "counts add"; the bitmap proved "bitmaps OR"; this
# proves "bottom-k is a min-structure": merging per-batch bottom-k's and
# truncating to k is associative/commutative/idempotent, so the synopsis
# a RocksDB stateful stream maintains (streaming/bottomk_stream.py) must
# be BIT-IDENTICAL to the batch sketch quantile_sketch_order_price reads
# quantiles from — under whatever batch split availableNow chose. That
# is the operational claim behind serving quantiles from a continuously
# maintained k-row table at 100 TB. (Misra-Gries remains the documented
# bound-only exception — see the asymmetry note at the MG section.)
#
# Contract columns (one row): n_kept, tau_h (the k-th smallest hash —
# the synopsis' threshold, exactly KMV's tau), sum_cents (content
# checksum the oracle recomputes), stream_equals_batch (full digest
# equality vs the batch sketch — theorem; oracle literal TRUE).
# ---------------------------------------------------------------------------

_STREAM_QSK_ORACLE = f"""
WITH v AS (
  SELECT o_orderkey AS key, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
sk AS (
  SELECT key, cents,
         {hash60_sql("key::VARCHAR", salt=_QSK_SALT)} AS h
  FROM v
  ORDER BY h, key
  LIMIT {_QSK_K}
)
SELECT CAST(count(*) AS BIGINT) AS n_kept,
       max(h) AS tau_h,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       true AS stream_equals_batch
FROM sk
"""


@REGISTRY.register(
    "stream_quantile_equality",
    oracle=_STREAM_QSK_ORACLE,
    description="bottom-k rank sketch maintained as a RocksDB stateful stream equals the batch synopsis bit-for-bit",
    tags=("streaming", "sketch", "quantile", "stateful", "contract", "scale"),
)
def stream_quantile_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_kept, tau_h, sum_cents, stream_equals_batch)."""
    from mapreduce_sm_spark.streaming.bottomk_stream import run_stream_bottomk
    from mapreduce_sm_spark.streaming.runner import sink_name

    vals = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    batch = _qsk_bottom_k(vals).select(
        "h", "key", "cents", F.lit(1).alias("in_ba")
    )

    qname = sink_name("stream_qsk_", sf_dir)
    streamed = run_stream_bottomk(
        spark, sf_dir, _QSK_K, _QSK_SALT, query_name=qname
    ).withColumn("in_st", F.lit(1))

    # row-for-row equality of the two k-row synopses (stronger than a
    # digest compare: every (h, key, cents) triple must appear on BOTH
    # sides of a full outer join), plus the replayable readout columns
    # the oracle recomputes from its own copy of the sketch
    cmp = streamed.join(batch, ["h", "key", "cents"], "full")
    return cmp.agg(
        F.count("*").cast("long").alias("n_kept"),
        F.max("h").alias("tau_h"),
        F.sum("cents").cast("long").alias("sum_cents"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("in_st").isNull() | F.col("in_ba").isNull(), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            == 0
        ).alias("stream_equals_batch"),
    )


# ---------------------------------------------------------------------------
# KMV A-NOT-B difference (r16, late) — the third set operation. The
# union/intersection estimators above answer overlap; retention and
# churn questions need the DIFFERENCE (|A \ B|: which clickstream users
# are NOT customers?), and the theta-sketch family has a dedicated
# construction for it (Apache DataSketches' AnotB; Beyer et al. SIGMOD
# 2007 foundations): with theta = min over the two sketches of (tau if
# saturated else M), the sample {h in KMV(A) : h < theta} is a uniform
# theta-fraction sample of A's distinct hashes, and removing the
# members also present in KMV(B) leaves a theta-fraction sample of
# A \ B — so est_diff = floor(delta * M / theta). When neither sketch
# is saturated, theta = M and the formula degenerates to the EXACT
# difference with no special case (the sketches then hold every
# distinct hash).
#
# The oracle replays the entire construction bit-for-bit (shared
# 60-bit md5 hash, exact order statistics, HUGEINT/DECIMAL(38,0) floor
# division) and also carries the exact |A \ B| alongside — every column
# hash-checked, no literal-TRUE booleans.
#
# 100 TB posture: identical to the overlap op — each side is one
# distinct + TakeOrdered(k); the A-sample filter and the anti join run
# on k-row broadcast frames.
# ---------------------------------------------------------------------------


def _kmv_theta(sk: DataFrame, k: int = _KMV_K):
    """1-row [n, theta]: tau when saturated, else M (exact mode)."""
    return sk.agg(
        F.count("*").cast("long").alias("n"),
        F.when(F.count("*") < k, F.lit(_KMV_M).cast("long"))
        .otherwise(F.max("h"))
        .alias("theta"),
    )


def _kmv_anotb(a: DataFrame, b: DataFrame, k: int = _KMV_K) -> DataFrame:
    """1-row [n_a, theta, delta, est_diff] (see module comment)."""
    ta = _kmv_theta(a, k).select(
        F.col("n").alias("n_a"), F.col("theta").alias("theta_a")
    )
    tb = _kmv_theta(b, k).select(F.col("theta").alias("theta_b"))
    th = ta.crossJoin(F.broadcast(tb)).select(
        "n_a", F.least("theta_a", "theta_b").alias("theta")
    )
    sample = a.crossJoin(F.broadcast(th.select("theta"))).filter(
        F.col("h") < F.col("theta")
    )
    delta = sample.join(b, "h", "left_anti").agg(
        F.count("*").cast("long").alias("delta")
    )
    return (
        th.crossJoin(F.broadcast(delta))
        .select(
            "n_a",
            "theta",
            "delta",
            F.expr(
                f"CAST((CAST(delta AS DECIMAL(38,0)) * CAST({_KMV_M} AS"
                " DECIMAL(38,0))) div CAST(theta AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("est_diff"),
        )
    )


def _kmv_anotb_oracle() -> str:
    from mapreduce_sm_spark.functions.hashing import hash60_sql

    h = hash60_sql("CAST(k AS VARCHAR)")
    k, m = _KMV_K, _KMV_M

    def pair(tag: str, aset: str, bset: str) -> str:
        return f"""
t_{tag} AS (
  SELECT (SELECT count(*) FROM sk_{aset}) AS n_a,
         least(
           (SELECT CASE WHEN count(*) < {k} THEN {m} ELSE max(h) END
            FROM sk_{aset}),
           (SELECT CASE WHEN count(*) < {k} THEN {m} ELSE max(h) END
            FROM sk_{bset})) AS theta
),
d_{tag} AS (
  SELECT t.n_a, t.theta,
         (SELECT count(*) FROM sk_{aset} s
          WHERE s.h < t.theta
            AND s.h NOT IN (SELECT h FROM sk_{bset})) AS delta
  FROM t_{tag} t
),
r_{tag} AS (
  SELECT '{tag}' AS set_pair,
         (SELECT count(*) FROM
            (SELECT k FROM {aset} EXCEPT SELECT k FROM {bset}))
             AS exact_diff,
         n_a, theta, delta,
         CAST((delta::HUGEINT * {m}::HUGEINT) // theta::HUGEINT AS BIGINT)
             AS est_diff
  FROM d_{tag}
)"""

    return f"""
WITH
events_users AS (SELECT DISTINCT user_id AS k FROM events),
order_customers AS (SELECT DISTINCT o_custkey AS k FROM orders),
building_customers AS (
  SELECT DISTINCT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
),
sk_events_users AS (
  SELECT h FROM (SELECT {h} AS h FROM events_users) ORDER BY h LIMIT {k}
),
sk_order_customers AS (
  SELECT h FROM (SELECT {h} AS h FROM order_customers) ORDER BY h LIMIT {k}
),
sk_building_customers AS (
  SELECT h FROM (SELECT {h} AS h FROM building_customers) ORDER BY h LIMIT {k}
),{pair("not_building", "events_users", "building_customers")},{pair("not_order", "events_users", "order_customers")}
SELECT * FROM r_not_building
UNION ALL
SELECT * FROM r_not_order
ORDER BY set_pair
"""


@REGISTRY.register(
    "kmv_anotb_difference",
    oracle=_kmv_anotb_oracle(),
    description="theta-style A-not-B set difference from mergeable KMV "
    "synopses (DataSketches AnotB): theta-fraction sample of A minus "
    "B's sketch members, exact-mode degeneration when unsaturated — "
    "the churn/retention question union+intersection cannot answer; "
    "oracle replays the whole sketch bit-for-bit",
    tags=("sketch", "scale"),
)
def kmv_anotb_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    bld = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    sk_ev = _kmv_sketch(ev, "k")
    pairs = []
    for tag, aset, bset, sk_b in (
        ("not_building", ev, bld, _kmv_sketch(bld, "k")),
        ("not_order", ev, orders, _kmv_sketch(orders, "k")),
    ):
        exact = (
            aset.distinct()
            .join(bset.distinct(), "k", "left_anti")
            .agg(F.count("*").cast("long").alias("exact_diff"))
        )
        row = (
            exact.crossJoin(F.broadcast(_kmv_anotb(sk_ev, sk_b)))
            .select(
                F.lit(tag).alias("set_pair"),
                "exact_diff",
                "n_a",
                "theta",
                "delta",
                "est_diff",
            )
        )
        pairs.append(row)
    return pairs[0].unionAll(pairs[1]).orderBy("set_pair")
