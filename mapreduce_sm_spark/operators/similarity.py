"""Similarity search over embedding columns (north-star extension §2.C).

  ann_bruteforce_topk    — exact cosine top-k: the correctness baseline
  ann_lsh_topk           — random-hyperplane LSH bucketing: the scale path
  embedding_similar_pairs— threshold pair mining inside label blocks
  ann_ivf_recall_check   — IVF (k-means cells + nprobe) vs exact, as a
                           driver-checkable contract (the raw ranking
                           ann_ivf_topk is a library helper, not registered)
  dedup_semantic_embedding — SemDeDup-style semantic dedup contract (r13):
                           cell-blocked cosine pairs vs the exact audit

Scale posture (100 TB):
- brute force: the query set is broadcast; each executor scans its shard of
  the corpus computing codegen'd zip_with/aggregate dot products, keeping a
  per-partition top-k (TakeOrderedAndProject after the window) — no shuffle
  of the corpus itself.
- LSH: corpus is bucketed by 8 deterministic sign-hyperplanes; a query only
  probes its own bucket -> candidate set shrinks ~2^8 before any distance
  math. Hyperplane signs come from a seeded LCG so the DuckDB oracle
  reproduces buckets exactly.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from mapreduce_sm_spark.functions.vectors import (
    cosine_similarity,
    cosine_sql,
    norm_sql,
)
from mapreduce_sm_spark.functions.hashing import hash60_sql
from mapreduce_sm_spark.operators.dedup import _cc_labels, _cc_sql
from mapreduce_sm_spark.registry import REGISTRY
from mapreduce_sm_spark.session import fan_out, table

_DIM = 64
_N_QUERIES = 20  # vec_id < 20 are the query vectors
_TOP_K = 5

# --- scale ceilings (VERDICT r04 item 4) -----------------------------------
# Two patterns in this module are only valid while one side stays SMALL,
# and both would fail silently (executor OOM / driver stall) if a 100x
# user scaled the wrong knob:
#   * brute-force / IVF probe queries BROADCAST the query set — fine for
#     top-k serving (20 vectors here), corpus-sized query sides must use
#     the LSH/IVF bucket-join path instead;
#   * k-means keeps K centroid vectors (K*dim doubles) as driver state —
#     the collect is K rows by construction, never corpus rows.
# The ceilings are explicit and env-tunable so exceeding them is a loud,
# documented decision (see SCALING.md "ANN ceilings").
_MAX_BROADCAST_QUERIES = int(
    os.environ.get("SPARKSM_MAX_BROADCAST_QUERIES", "100000")
)
_MAX_KMEANS_K = int(os.environ.get("SPARKSM_MAX_KMEANS_K", "4096"))


def _assert_broadcastable_query_side(n_queries: int) -> None:
    if n_queries > _MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"query side has {n_queries} vectors > "
            f"SPARKSM_MAX_BROADCAST_QUERIES={_MAX_BROADCAST_QUERIES}; "
            "a corpus-sized query side must use the bucketed LSH/IVF "
            "join path, not a broadcast (see SCALING.md)"
        )


_BF_ORACLE = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < {_N_QUERIES}),
     c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings)
SELECT q_id, c_id, cos, rn AS rank
FROM (
  SELECT q_id, c_id,
         {cosine_sql('qv', 'cv')} AS cos,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY {cosine_sql('qv', 'cv')} DESC, c_id ASC) AS rn
  FROM q JOIN c ON q_id <> c_id
)
WHERE rn <= {_TOP_K}
ORDER BY q_id, rank
"""


@REGISTRY.register(
    "ann_bruteforce_topk",
    oracle=_BF_ORACLE,
    description="exact cosine top-5 neighbors for 20 query vectors",
    headline=True,
    tags=("similarity",),
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the corpus scan is one input split at fixture sizes; the
    # per-row cosine work (|Q| dot products of 64 dims) is the cost, so
    # widen before it
    from mapreduce_sm_spark.functions.vectors import dot, l2_norm

    emb = fan_out(table(spark, sf_dir, "embeddings"), "vec_id")
    _assert_broadcastable_query_side(_N_QUERIES)
    # norms once per side before the pair fan-out (one dot fold per
    # pair instead of three — bit-identical; see dedup_semantic_embedding)
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        l2_norm("embedding").alias("nq"),
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("cv"),
        l2_norm("embedding").alias("nc"),
    )
    # RAW cosine: the fold is bit-identical in both engines (functions/
    # vectors.py), so ranking and emitting the unrounded double is exactly
    # portable; a round(x, 6) would add the scaled-round tie channel.
    sim = dot(F.col("qv"), F.col("cv")) / F.nullif(
        F.col("nq") * F.col("nc"), F.lit(0.0)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        c.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", sim.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .orderBy("q_id", "rank")
    )


# --- LSH: 8 deterministic sign hyperplanes over the 64 dims ---------------

def _hyperplanes(n_planes: int = 8, dim: int = _DIM, seed: int = 7) -> list[list[int]]:
    """±1 hyperplane components from a fixed LCG (language-portable)."""
    planes = []
    state = seed & 0x7FFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 1103515245 + 12345) & 0x7FFFFFFF
            row.append(1 if (state >> 16) & 1 else -1)
        planes.append(row)
    return planes


_PLANES = _hyperplanes()


def _bucket_spark(vec_col) -> F.Column:
    bits = []
    for j, plane in enumerate(_PLANES):
        signs = F.array(*[F.lit(float(s)) for s in plane])
        proj = F.aggregate(
            F.zip_with(vec_col, signs, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _bucket_sql(vec: str) -> str:
    terms = []
    for j, plane in enumerate(_PLANES):
        arr = "[" + ", ".join(f"{float(s)}" for s in plane) + "]"
        proj = (
            f"list_reduce(list_transform(list_zip({vec}, {arr}), "
            f"p -> (p[1]::DOUBLE) * p[2]), (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


_LSH_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
q AS (SELECT vec_id AS q_id, embedding AS qv, bucket FROM b WHERE vec_id < {_N_QUERIES}),
c AS (SELECT vec_id AS c_id, embedding AS cv, bucket FROM b)
SELECT q_id, c_id, cos, rn AS rank
FROM (
  SELECT q_id, c_id,
         {cosine_sql('qv', 'cv')} AS cos,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY {cosine_sql('qv', 'cv')} DESC, c_id ASC) AS rn
  FROM q JOIN c ON q.bucket = c.bucket AND q_id <> c_id
)
WHERE rn <= {_TOP_K}
ORDER BY q_id, rank
"""


@REGISTRY.register(
    "ann_lsh_topk",
    oracle=_LSH_ORACLE,
    description="LSH (sign-hyperplane) bucketed approximate top-k",
    headline=True,
    tags=("similarity", "lsh"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "embedding", _bucket_spark(F.col("embedding")).alias("bucket")
    )
    # rename bucket on each side: both frames derive from the same parent,
    # so `q.bucket == c.bucket` builds a self-referential (trivially-true)
    # predicate that only works through positional disambiguation and
    # warns on every run — distinct names make the join key structural
    from mapreduce_sm_spark.functions.vectors import dot, l2_norm

    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("q_bucket"),
        l2_norm("embedding").alias("nq"),
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("cv"),
        F.col("bucket").alias("c_bucket"),
        l2_norm("embedding").alias("nc"),
    )
    # RAW cosine: the fold is bit-identical in both engines (functions/
    # vectors.py), so ranking and emitting the unrounded double is exactly
    # portable; a round(x, 6) would add the scaled-round tie channel.
    # Norms precomputed per side — one dot fold per candidate pair
    # (bit-identical; see dedup_semantic_embedding).
    sim = dot(F.col("qv"), F.col("cv")) / F.nullif(
        F.col("nq") * F.col("nc"), F.lit(0.0)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        c.join(
            F.broadcast(q),
            (F.col("q_bucket") == F.col("c_bucket"))
            & (F.col("q_id") != F.col("c_id")),
        )
        .select("q_id", "c_id", sim.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .orderBy("q_id", "rank")
    )


_PAIRS_THRESHOLD = 0.40

# Candidate generation is banded LSH (OR-amplification): the 8 sign-plane
# bits split into 4 bands of 2 bits; a pair is a candidate iff it agrees on
# at least one full band (within its label block), then candidates are
# verified with the exact cosine. This is the scale path — equality joins
# on (label, band_id, band_val) instead of an all-pairs join per label —
# at the price of recall < 1 for weakly-similar pairs (a cos ~= 0.4 pair
# agrees per-plane w.p. ~0.63, so P(>=1 band of 2) ~= 86%). Both engines
# replay the identical seeded hyperplanes, so the result set is still
# deterministic and the oracle matches exactly.
_N_BANDS = 4
_BAND_BITS = 2  # 8 planes / 4 bands


def _band_val_sql(bucket: str, k: int) -> str:
    return f"(({bucket} // {1 << (k * _BAND_BITS)}) % {1 << _BAND_BITS})"


_PAIRS_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding, {_bucket_sql('embedding')} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       {cosine_sql('a.embedding', 'b.embedding')} AS cos
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ({" OR ".join(
    f"{_band_val_sql('a.bucket', k)} = {_band_val_sql('b.bucket', k)}"
    for k in range(_N_BANDS)
)})
  AND {cosine_sql('a.embedding', 'b.embedding')} >= {_PAIRS_THRESHOLD}
ORDER BY vec_a, vec_b
"""


@REGISTRY.register(
    "embedding_similar_pairs",
    oracle=_PAIRS_ORACLE,
    description=(
        "embedding near-pair mining: banded-LSH candidates + exact cosine "
        "verify — APPROXIMATE: band recall < 1 (~86% for cos~0.40 pairs, "
        "higher for closer pairs); the oracle replays the same bands, and "
        "tests/test_properties.py bounds the missed-pair rate vs all-pairs"
    ),
    tags=("similarity", "dedup", "lsh"),
)
def embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.functions.vectors import dot, l2_norm

    # norm once per vector BEFORE the band explode — each verified pair
    # then pays one dot fold (bit-identical; see dedup_semantic_embedding)
    emb = fan_out(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "label", "embedding",
        _bucket_spark(F.col("embedding")).alias("bucket"),
        l2_norm("embedding").alias("nv"),
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(k).alias("band_id"),
                F.shiftright(F.col("bucket"), k * _BAND_BITS)
                .bitwiseAND(F.lit((1 << _BAND_BITS) - 1))
                .cast("int")
                .alias("band_val"),
            )
            for k in range(_N_BANDS)
        ]
    )
    keyed = emb.select(
        "vec_id", "label", "embedding", "nv", F.explode(bands).alias("bd")
    ).select(
        "vec_id", "label", "embedding", "nv", "bd.band_id", "bd.band_val"
    )
    a = keyed.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("label"),
        F.col("embedding").alias("va"),
        F.col("nv").alias("na"),
        F.col("band_id").alias("bid_a"),
        F.col("band_val").alias("bv_a"),
    )
    b = keyed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("vb"),
        F.col("nv").alias("nb"),
        F.col("band_id").alias("bid_b"),
        F.col("band_val").alias("bv_b"),
    )
    # RAW cosine: bit-identical fold in both engines, so the >= threshold
    # decision and the emitted double agree exactly without rounding
    sim = dot(F.col("va"), F.col("vb")) / F.nullif(
        F.col("na") * F.col("nb"), F.lit(0.0)
    )
    return (
        a.join(
            b,
            (F.col("label") == F.col("label_b"))
            & (F.col("bid_a") == F.col("bid_b"))
            & (F.col("bv_a") == F.col("bv_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        # a pair agreeing on k bands collides k times; keep one
        .dropDuplicates(["vec_a", "vec_b"])
        .select("vec_a", "vec_b", "label", sim.alias("cos"))
        .filter(F.col("cos") >= _PAIRS_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: distributed k-means partitions the corpus into
# K cells; a query probes only the nprobe nearest cells. This is the
# classic billion-vector scale path (FAISS IVF shape): index build is
# O(iters * N * K) distributed work, query cost drops by ~K/nprobe.
#
# The Lloyd loop is genuinely iterative — the driver holds only the K
# centroid vectors between iterations (K*dim doubles, never corpus data),
# every distance/mean is a distributed DataFrame op. Iterative algorithms
# have no single-statement SQL oracle (per the driver contract such ops
# get a rows-only check); the pytest suite instead proves nprobe=K
# degenerates IVF to EXACTLY the brute-force result, which validates all
# the index machinery except cell pruning, and cell pruning is checked
# structurally (results come only from probed cells).
# ---------------------------------------------------------------------------

_IVF_K = 16
_IVF_ITERS = 3
_IVF_NPROBE = 4


def _l2(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# literal-relation size ceiling (scalar elements): past this the SQL
# parse costs more than createDataFrame's conversion (measured crossover
# between 4k and 33k elements; 8k keeps every bench-scale k-means call
# on the fast path with ~2x margin)
_LIT_RELATION_MAX_ELEMS = int(os.environ.get("SPARKSM_LIT_RELATION_MAX_ELEMS", "8192"))


def _lit_relation(spark: SparkSession, rows, cols) -> DataFrame:
    """LocalRelation of small (int | array<double>) rows parsed from ONE
    SQL literal instead of spark.createDataFrame.

    Bit-exact: repr() emits the shortest string that round-trips the
    Python double, and Spark's `<digits>D` literal parse is correctly
    rounded, so every element comes back bit-identical (pinned in
    tests/test_similarity_contracts.py down to denormals and -0.0).
    Why: createDataFrame's driver->JVM conversion costs ~0.2-0.3 s per
    call even for k<=64 rows; inside the per-iteration Lloyd loops that
    fixed cost is paid `iters` times per training run (guide 5: keep
    driver work out of iterative loops). The relation stays a
    LocalRelation feeding the same BroadcastExchange, so the plan below
    it is unchanged.

    The parse wins ONLY for small relations: measured crossover sits
    between 4k and 33k scalar elements (k=64 x d=64: 0.47 vs 0.48 s;
    k=512 x d=64: 2.6 vs 0.41 s — the ANTLR parse is super-linear in
    expression count). Above _LIT_RELATION_MAX_ELEMS this falls back to
    createDataFrame, so a large-K hierarchical build never pays a parse
    penalty. Empty rows (no literal to parse) and non-finite doubles (no
    SQL literal spells NaN or infinity) take the same fallback.

    Both paths return one schema: non-nullable int / array<double>
    columns, the types the literal path infers, with ints pinned by
    CAST(... AS INT).

    cols: (name, kind) pairs, kind in {"int", "vec"}."""
    n_elems = 0
    finite = True
    for row in rows:
        for v, (_, kind) in zip(row, cols):
            if kind == "vec":
                n_elems += len(v)
                finite = finite and all(map(math.isfinite, v))
            else:
                n_elems += 1
    if not rows or not finite or n_elems > _LIT_RELATION_MAX_ELEMS:
        schema = StructType([
            StructField(
                name,
                IntegerType() if kind == "int" else ArrayType(DoubleType(), False),
                False,
            )
            for name, kind in cols
        ])
        return spark.createDataFrame(rows, schema=schema)

    def fmt(v, kind: str) -> str:
        if kind == "int":
            return "CAST(%d AS INT)" % int(v)
        return "array(%s)" % ", ".join(repr(float(x)) + "D" for x in v)

    body = ", ".join(
        "struct(%s)" % ", ".join(fmt(v, kind) for v, (_, kind) in zip(row, cols))
        for row in rows
    )
    names = ", ".join(f"col{i + 1} AS {name}" for i, (name, _) in enumerate(cols))
    return spark.sql(f"SELECT {names} FROM (SELECT inline(array({body})))")


def _kmeans_centroids(
    spark: SparkSession, vecs: DataFrame, k: int, iters: int
) -> list[tuple[int, list[float]]]:
    """Deterministic distributed Lloyd iterations over (vec_id, v) rows.
    Init = the k lowest vec_ids. Returns [(cid, centroid_vector)].

    Driver state is exactly k centroid vectors (k*dim doubles) — bounded
    by _MAX_KMEANS_K, never corpus-sized."""
    if k > _MAX_KMEANS_K:
        raise ValueError(
            f"k={k} > SPARKSM_MAX_KMEANS_K={_MAX_KMEANS_K}: centroids are "
            "driver-resident state; raise the env ceiling deliberately or "
            "use a hierarchical/minibatch scheme (see SCALING.md)"
        )
    # r12: hash-partition the point set on vec_id ONCE and cache it —
    # the per-iteration argmin groupBy(vec_id) then finds its required
    # distribution already satisfied (crossJoin against the broadcast
    # centroid frame preserves the left side's partitioning), so Lloyd
    # iterations move only the k*dim partial means, never the N points;
    # the cache also stops each iteration re-reading the parquet scan.
    from pyspark import StorageLevel

    from mapreduce_sm_spark.session import release_caches, track_caches

    release_caches("similarity.kmeans")
    vecs = vecs.repartition("vec_id").persist(StorageLevel.MEMORY_AND_DISK)
    track_caches("similarity.kmeans", vecs)
    init = vecs.orderBy("vec_id").limit(k).select("v").collect()
    cents = [(i, list(r.v)) for i, r in enumerate(init)]
    if not cents:  # empty corpus: nothing to iterate (d is undefined)
        return cents
    for _ in range(iters):
        # literal relation, not createDataFrame: the conversion path costs
        # ~0.2-0.3 s/call and runs once per iteration (see _lit_relation)
        cdf = _lit_relation(spark, cents, (("cid", "int"), ("cvec", "vec")))
        # argmin as min(struct(d2, cid)) — struct ordering is lexicographic,
        # so this is the (d2, cid)-minimum with map-side partial aggregation
        # and NO per-key sort (a row_number window would sort N*K rows).
        assigned = (
            vecs.crossJoin(F.broadcast(cdf))
            .select("vec_id", "v", "cid", _l2(F.col("v"), F.col("cvec")).alias("d2"))
            .groupBy("vec_id")
            .agg(
                F.min(F.struct("d2", "cid")).alias("s"),
                F.first("v").alias("v"),
            )
            .select("vec_id", F.col("s.cid").alias("cid"), "v")
        )
        # per-dimension means as d wide avg aggregates: ONE shuffle of
        # k x (d+1) partials instead of the old posexplode (N*d rows)
        # -> groupBy(cid,pos) -> collect_list double-shuffle (r16 opt
        # round; d is bounded by the fixture embedding width)
        d = len(cents[0][1])
        means = (
            assigned.groupBy("cid")
            .agg(*[F.avg(F.col("v")[i]).alias(f"m{i}") for i in range(d)])
            .collect()
        )
        new = {r["cid"]: [r[f"m{i}"] for i in range(d)] for r in means}
        cents = [(i, new.get(i, c)) for i, c in cents]  # empty cell keeps old
    return cents


def _ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        "embedding",
    )
    cents = _kmeans_centroids(spark, emb.select("vec_id", "v"), _IVF_K, _IVF_ITERS)

    from mapreduce_sm_spark.functions.vectors import dot, l2_norm

    if not cents:  # empty corpus: no cells, no probes (typed empty)
        return emb.select(
            F.col("vec_id").alias("q_id"),
            F.col("vec_id").alias("c_id"),
            F.lit(0.0).alias("cos"),
            F.lit(0).cast("int").alias("rank"),
        ).where(F.lit(False))

    # row-local scoring against centroid LITERALS (the flat
    # _semantic_cells shape — K = _IVF_K bounds the literal tree):
    # lexicographic array_sort == ORDER BY d2, cid, so element 1 is the
    # old min-struct argmin and the first nprobe are the old probe
    # window's rows. Removes the K-row broadcast cross joins, the
    # corpus-sized argmin aggregate and the probe window exchange.
    lit_vec = lambda c: F.array(*[F.lit(float(x)) for x in c])  # noqa: E731
    cent_arr = F.array(
        *[
            F.struct(lit_vec(c).alias("cvec"), F.lit(int(cid)).alias("cid"))
            for cid, c in cents
        ]
    )

    def scored(vcol):
        return F.array_sort(
            F.transform(
                cent_arr,
                lambda c: F.struct(
                    _l2(vcol, c["cvec"]).alias("d2"), c["cid"].alias("cid")
                ),
            )
        )

    corpus = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("cv"),
        F.element_at(scored(F.col("v")), 1)["cid"].alias("cid"),
        l2_norm("embedding").alias("nc"),
    )

    # query-side probe list: the nprobe nearest cells per query vector;
    # probes (|Q|*nprobe rows) get broadcast into the cell join below
    _assert_broadcastable_query_side(_N_QUERIES * nprobe)
    probes = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qv"),
            l2_norm("embedding").alias("nq"),
            F.explode(F.slice(scored(F.col("v")), 1, nprobe)).alias("p"),
        )
        .select("q_id", "qv", "nq", F.col("p.cid").alias("cid"))
    )

    # search only inside probed cells; RAW cosine to stay comparable with
    # ann_bruteforce_topk's raw emission in the recall contract (norms
    # precomputed per side — bit-identical, one dot fold per pair)
    sim = dot(F.col("qv"), F.col("cv")) / F.nullif(
        F.col("nq") * F.col("nc"), F.lit(0.0)
    )
    w_rank = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        corpus.join(F.broadcast(probes), "cid")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", sim.alias("cos"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _TOP_K)
        .orderBy("q_id", "rank")
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: distributed k-means cells + nprobe-pruned cosine top-k.

    Library API + pytest surface, NOT a registered driver query: the
    iterative k-means has no single-statement SQL oracle, and a rows-only
    driver row is weaker evidence than the registered ann_ivf_recall_check
    below, which runs this exact ranking against the exact scan inside one
    driver-hashable contract (VERDICT r3 item 7). tests/test_ivf.py
    additionally proves nprobe=K degenerates to the brute-force result."""
    return _ivf_topk(spark, sf_dir, _IVF_NPROBE)


# Driver-checkable IVF contract (the percentile-sketch pattern): the raw
# IVF ranking has no SQL oracle (iterative k-means), but its CORRECTNESS
# CONTRACT does — compute IVF top-k and exact top-k in one plan and emit
# per-query booleans the oracle asserts all-true:
#   k_ivf       — IVF returned exactly TOP_K rows for the query
#   recall_ok   — recall@5 vs exact >= _IVF_RECALL_FLOOR (deterministic:
#                 fixed data, seeded init; floor set far below measured)
#   bounded_ok  — at every rank, IVF's cosine <= exact's cosine (an
#                 approximate index can never beat the exact scan)
_IVF_RECALL_FLOOR = 0.2


_IVF_RECALL_ORACLE = f"""
SELECT vec_id AS q_id, {_TOP_K}::BIGINT AS k_ivf,
       true AS recall_ok, true AS bounded_ok
FROM embeddings WHERE vec_id < {_N_QUERIES}
ORDER BY q_id
"""


@REGISTRY.register(
    "ann_ivf_recall_check",
    oracle=_IVF_RECALL_ORACLE,
    description="IVF vs exact top-k in one plan: per-query recall + bound contract",
    tags=("similarity", "ivf", "iterative"),
)
def ann_ivf_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivf = _ivf_topk(spark, sf_dir, _IVF_NPROBE).select(
        "q_id",
        F.col("c_id").alias("ivf_id"),
        F.col("cos").alias("ivf_cos"),
        "rank",
    )
    bf = ann_bruteforce_topk(spark, sf_dir).select(
        "q_id",
        F.col("c_id").alias("bf_id"),
        F.col("cos").alias("bf_cos"),
        "rank",
    )
    # rank-aligned join: both sides emit exactly TOP_K ranks per query
    by_rank = ivf.join(bf, ["q_id", "rank"]).groupBy("q_id").agg(
        F.count("*").alias("k_ivf"),
        F.min(F.col("ivf_cos") <= F.col("bf_cos")).alias("bounded_ok"),
    )
    # membership join: how many IVF answers appear anywhere in exact top-k
    hits = (
        ivf.join(
            bf.select("q_id", F.col("bf_id").alias("ivf_id")),
            ["q_id", "ivf_id"],
            "left_semi",
        )
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        by_rank.join(hits, "q_id", "left")
        .select(
            "q_id",
            "k_ivf",
            (
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(_TOP_K))
                >= F.lit(_IVF_RECALL_FLOOR)
            ).alias("recall_ok"),
            "bounded_ok",
        )
        .orderBy("q_id")
    )


# ---------------------------------------------------------------------------
# Embedding norm distribution per label: the vector-health diagnostic a
# pipeline runs before indexing (un-normalized or degenerate shards show
# up as displaced norm quantiles). Per-row norm is a codegen'd fold in
# index order (bit-identical in both engines: functions/vectors.py).
#
# Engine-portable by construction (r05 hardening): instead of the
# engine-library quantile (Spark `percentile` vs DuckDB `quantile_cont`,
# whose interpolation formulas are only *empirically* bit-identical and
# can drift across engine versions), both sides run the SAME explicit
# construction: lo/hi order statistics at 0-based position (n-1)*q from a
# row_number window, then interp = lo + (hi-lo)*frac with frac in
# {0, 0.25, 0.5, 0.75} (exact binary fractions; identical IEEE ops on
# identical doubles give identical bits). Emissions are floor-ppm longs —
# floor on bit-identical doubles cannot tie-split the way round() does
# (Spark HALF_UP vs DuckDB nearbyint).
#
# 100 TB shape: one map-side fold per row + one shuffle on label; the
# window sort per label is the same sort an exact quantile needs.
# ---------------------------------------------------------------------------

_NORM_ORACLE = f"""
WITH nrms AS (
  SELECT label, {norm_sql('embedding')} AS nrm FROM embeddings
),
ranked AS (
  SELECT label, nrm,
         row_number() OVER (PARTITION BY label ORDER BY nrm) AS rn,
         count(*) OVER (PARTITION BY label) AS n
  FROM nrms
),
picks AS (
  SELECT label, n,
         min(CASE WHEN rn = ((n-1)*25) // 100 + 1 THEN nrm END) AS lo25,
         min(CASE WHEN rn = least(((n-1)*25) // 100 + 2, n) THEN nrm END) AS hi25,
         min(CASE WHEN rn = ((n-1)*50) // 100 + 1 THEN nrm END) AS lo50,
         min(CASE WHEN rn = least(((n-1)*50) // 100 + 2, n) THEN nrm END) AS hi50,
         min(CASE WHEN rn = ((n-1)*75) // 100 + 1 THEN nrm END) AS lo75,
         min(CASE WHEN rn = least(((n-1)*75) // 100 + 2, n) THEN nrm END) AS hi75,
         min(nrm) AS mn, max(nrm) AS mx
  FROM ranked
  GROUP BY label, n
)
SELECT label,
       n AS n_vecs,
       CAST(floor((lo25 + (hi25 - lo25) * ((((n-1)*25) % 100) / 100.0)) * 1000000) AS BIGINT) AS p25_ppm,
       CAST(floor((lo50 + (hi50 - lo50) * ((((n-1)*50) % 100) / 100.0)) * 1000000) AS BIGINT) AS p50_ppm,
       CAST(floor((lo75 + (hi75 - lo75) * ((((n-1)*75) % 100) / 100.0)) * 1000000) AS BIGINT) AS p75_ppm,
       CAST(floor(mn * 1000000) AS BIGINT) AS min_norm_ppm,
       CAST(floor(mx * 1000000) AS BIGINT) AS max_norm_ppm
FROM picks
ORDER BY label
"""


@REGISTRY.register(
    "embedding_norm_quantiles",
    oracle=_NORM_ORACLE,
    description="per-label L2-norm quartiles of the embedding corpus, floor-ppm integers",
    tags=("similarity", "statistics"),
)
def embedding_norm_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.functions.vectors import l2_norm

    emb = table(spark, sf_dir, "embeddings").select(
        "label", l2_norm("embedding").alias("nrm")
    )
    wrank = Window.partitionBy("label").orderBy("nrm")
    wall = Window.partitionBy("label")
    ranked = emb.withColumn("rn", F.row_number().over(wrank)).withColumn(
        "n", F.count("*").over(wall)
    )

    def pick(q: int):
        lo_rn = F.expr(f"((n-1)*{q}) div 100 + 1")
        hi_rn = F.least(F.expr(f"((n-1)*{q}) div 100 + 2"), F.col("n"))
        lo = F.min(F.when(F.col("rn") == lo_rn, F.col("nrm")))
        hi = F.min(F.when(F.col("rn") == hi_rn, F.col("nrm")))
        return lo.alias(f"lo{q}"), hi.alias(f"hi{q}")

    picks = ranked.groupBy("label", "n").agg(
        *pick(25),
        *pick(50),
        *pick(75),
        F.min("nrm").alias("mn"),
        F.max("nrm").alias("mx"),
    )

    def ppm(q: int):
        # frac = ((n-1)*q mod 100)/100.0 in {0,.25,.5,.75} — exact binary,
        # so lo + (hi-lo)*frac is the identical IEEE expression run by the
        # oracle; floor(x*1e6) then agrees bit-for-bit.
        frac = F.expr(f"(((n-1)*{q}) % 100)").cast("double") / F.lit(100.0)
        interp = F.col(f"lo{q}") + (F.col(f"hi{q}") - F.col(f"lo{q}")) * frac
        return F.floor(interp * F.lit(1000000.0)).cast("long").alias(f"p{q}_ppm")

    return picks.select(
        "label",
        F.col("n").alias("n_vecs"),
        ppm(25),
        ppm(50),
        ppm(75),
        F.floor(F.col("mn") * F.lit(1000000.0)).cast("long").alias("min_norm_ppm"),
        F.floor(F.col("mx") * F.lit(1000000.0)).cast("long").alias("max_norm_ppm"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# Embedding-space SEMANTIC dedup (VERDICT r12 item 2) — the LLM-pipeline
# rung the lexical ladder cannot reach: paraphrase duplicates share meaning
# but (possibly) zero n-grams, so MinHash/SimHash over tokens miss them by
# construction (operators/dedup.py is all token-level). The published
# recipe is SemDeDup (Abbas et al., 2023, arXiv:2303.09540): k-means the
# embedding space, then look for near-identical COSINE pairs only inside a
# cluster — never all-pairs.
#
# Composition here (all existing machinery):
#   * cells   — the IVF k-means above (_kmeans_centroids: seeded init =
#               k lowest vec_ids, 3 Lloyd iterations, argmin-L2 assign);
#   * probe-adjacent assignment — each vector belongs to its _SEM_NPROBE
#               nearest cells (OR-amplification across cell boundaries,
#               the same trick banded LSH uses across bands), so a pair
#               straddling one k-means boundary is still a candidate;
#   * pairs   — candidates = vectors sharing >= 1 cell, an EQUALITY join
#               on cid (plan-asserted: no cartesian), verified with the
#               exact double-precision cosine >= _SEM_TAU;
#   * report  — SemDeDup keep/drop: a doc is dropped iff it has a
#               semantic duplicate with a smaller vec_id (the smallest
#               doc in every duplicate cluster survives).
#
# Oracle strategy (the ann_ivf_recall_check contract pattern — iterative
# k-means has no single-statement SQL): the registered query emits, per
# audit doc (vec_id < _SEM_N_AUDIT), columns the oracle replays EXACTLY —
# n_exact_dup (the doc's true semantic-dup count over the full corpus,
# recomputed by DuckDB with the bit-identical cosine fold) and kept_exact
# (the keep/drop decision on that exact relation) — plus two contract
# booleans the oracle asserts all-true: sound_ok (the cell-blocked dup
# set is a subset of the exact one; cells can only LOSE pairs, never
# invent them) and recall_ok (aggregate catch-rate over the audit set
# >= _SEM_RECALL_FLOOR; measured 0.47/0.67/0.81 at sf0.001/0.01/0.1 —
# the floor sits >= 2.3x below). Recall is asserted at the AGGREGATE
# level deliberately: per-doc recall is 0/1 noise for docs with a single
# borderline dup (8 such docs at sf0.001), while the aggregate is stable
# across fixtures.
#
# 100 TB shape: the exact audit side is a bounded broadcast (the
# bruteforce pattern, _assert_broadcastable_query_side); the SCALE path
# is semantic_dedup_pairs/report below — one k-means index build, one
# explode to nprobe cells, one equality self-join on cid whose per-cell
# cost is sum(|cell|^2), the quantity SemDeDup's K knob controls. No
# stage touches the all-pairs space.
# ---------------------------------------------------------------------------

_SEM_TAU = 0.40          # same threshold family as embedding_similar_pairs
_SEM_NPROBE = 2          # probe-adjacent: 2 nearest cells per vector
_SEM_N_AUDIT = 64        # audit docs: vec_id < 64 (broadcast-bounded)
_SEM_RECALL_FLOOR = 0.2  # aggregate; measured 0.47-0.81 across fixtures


_SEM_CELL_TARGET = 125  # aimed-for vectors per cell: K grows with N


def _sem_k(n_vectors: int) -> int:
    """SemDeDup's K knob, corpus-size-aware: hold the EXPECTED cell size
    near _SEM_CELL_TARGET so the cid self-join's per-cell quadratic cost
    (sum |cell|^2 ~ N * cell_size) stays LINEAR in the corpus — a fixed K
    would grow cells with N and the pair stage quadratically. All sf
    fixtures land exactly at the 16-cell floor (500/125 -> 4, 2000/125 ->
    16), so fixture behavior, the measured recall floors, and the oracle
    contract are untouched; the knob engages on the x10/x100 scale rungs.
    Past _SEM_FLAT_MAX_K cells the build switches to the hierarchical
    coarse->fine scheme (_hier_cells below), which is what makes large K
    affordable; _MAX_KMEANS_K stays the driver-state guard on total
    centroid vectors."""
    return min(_MAX_KMEANS_K, max(_IVF_K, n_vectors // _SEM_CELL_TARGET))


# Past this many cells the FLAT Lloyd build (every point against every
# centroid: O(iters * N * K) distance evaluations) stops being affordable
# — the x100 rung's K=1600 flat build was measured-killed at the
# 25-minute mark (SCALING.md r13) — and _semantic_cells switches to the
# HIERARCHICAL build below. All sf fixtures sit at K=16, far under the
# threshold, so the driver-checked contract always runs the flat path.
_SEM_FLAT_MAX_K = int(os.environ.get("SPARKSM_SEM_FLAT_MAX_K", "64"))


def _hier_train(
    spark: SparkSession,
    emb: DataFrame,
    k: int,
    extra_cols: tuple[str, ...] = (),
) -> tuple[int, int, list[tuple[int, list[float]]], dict, DataFrame]:
    """Train the two-level (coarse -> fine) k-means scheme; returns
    (k1, k2, coarse, fine, a1) where coarse = [(c1, cvec)], fine =
    {(c1, c2): fvec}, and a1 is the PERSISTED coarse-probe frame
    (vec_id, *extra_cols, v, c1, rn) under the 'similarity.semantic.hier'
    cache tag — the caller assigns from it (batch, windowed) or ignores
    it and projects against the centroid literals (streamed, row-local).

      * coarse: flat Lloyd with K1 = ceil(sqrt(K)) centroids (cheap:
        O(iters * N * sqrt(K)));
      * fine: K2 = ceil(K / K1) centroids PER coarse cell, trained with
        Lloyd iterations whose point-to-centroid join is an EQUALITY
        join on the home coarse cell (each point sees only its own
        cell's K2 fine centroids) — O(iters * N * K/sqrt(K)) total.

    Per-iteration cost drops from N*K to N*(sqrt(K) + K/sqrt(K)) — ~20x
    at K=1600 — while driver state stays K1 + K1*K2 centroid vectors,
    within the same _MAX_KMEANS_K bound the flat path enforces."""
    import math

    from mapreduce_sm_spark.session import release_caches, track_caches

    k1 = max(2, math.isqrt(max(k - 1, 1)) + 1)  # ceil(sqrt(k))
    k2 = (k + k1 - 1) // k1
    if k1 * k2 > _MAX_KMEANS_K:
        raise ValueError(
            f"hierarchical build needs {k1 * k2} driver-resident centroids "
            f"> SPARKSM_MAX_KMEANS_K={_MAX_KMEANS_K}"
        )
    coarse = _kmeans_centroids(spark, emb.select("vec_id", "v"), k1, _IVF_ITERS)
    cdf1 = _lit_relation(spark, coarse, (("c1", "int"), ("cvec1", "vec")))
    w1 = Window.partitionBy("vec_id").orderBy(F.col("d1").asc(), F.col("c1").asc())
    from pyspark import StorageLevel

    release_caches("similarity.semantic.hier")
    a1 = (
        emb.crossJoin(F.broadcast(cdf1))
        .select(
            "vec_id", *extra_cols, "v", "c1",
            _l2(F.col("v"), F.col("cvec1")).alias("d1"),
        )
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= _SEM_NPROBE)
        .select("vec_id", *extra_cols, "v", "c1", "rn")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    track_caches("similarity.semantic.hier", a1)
    a1.count()  # barrier: fine training + final assignment share this

    # fine training inside each HOME cell (rn == 1); init = the k2
    # lowest vec_ids per cell (same seeded-determinism as the flat init)
    pts = a1.filter(F.col("rn") == 1).select("vec_id", "v", "c1")
    w_init = Window.partitionBy("c1").orderBy("vec_id")
    finit = (
        pts.withColumn("rn2", F.row_number().over(w_init))
        .filter(F.col("rn2") <= k2)
        .select("c1", (F.col("rn2") - 1).alias("c2"), F.col("v").alias("fvec"))
        .collect()  # <= k1*k2 <= _MAX_KMEANS_K rows by the guard above
    )
    fine = {(r.c1, r.c2): list(r.fvec) for r in finit}
    for _ in range(_IVF_ITERS):
        fdf = _lit_relation(
            spark,
            [(c1, c2, v) for (c1, c2), v in sorted(fine.items())],
            (("c1", "int"), ("c2", "int"), ("fvec", "vec")),
        )
        assigned = (
            pts.join(F.broadcast(fdf), "c1")  # equality join: own cell only
            .select(
                "vec_id", "v", "c1", "c2",
                _l2(F.col("v"), F.col("fvec")).alias("d2"),
            )
            .groupBy("vec_id")
            .agg(
                F.min(F.struct("d2", "c2")).alias("s"),
                F.first("c1").alias("c1"),
                F.first("v").alias("v"),
            )
            .select("vec_id", "c1", F.col("s.c2").alias("c2"), "v")
        )
        means = (
            assigned.select("c1", "c2", F.posexplode("v").alias("pos", "x"))
            .groupBy("c1", "c2", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("c1", "c2")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("c1", "c2", F.col("pm.m").alias("fvec"))
            .collect()
        )
        new = {(r.c1, r.c2): list(r.fvec) for r in means}
        fine = {key: new.get(key, v) for key, v in fine.items()}  # empty keeps old

    return k1, k2, coarse, fine, a1


def _hier_assign_windowed(
    spark: SparkSession,
    a1: DataFrame,
    fine: dict,
    k2: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Batch (windowed) assignment over the trained scheme: join the
    persisted coarse-probe frame with the fine centroids of each probed
    cell (EQUALITY join on c1) and keep the nearest per (vec_id, c1)."""
    fdf = _lit_relation(
        spark,
        [(c1, c2, v) for (c1, c2), v in sorted(fine.items())],
        (("c1", "int"), ("c2", "int"), ("fvec", "vec")),
    )
    w2 = Window.partitionBy("vec_id", "c1").orderBy(
        F.col("d2").asc(), F.col("c2").asc()
    )
    return (
        a1.join(F.broadcast(fdf), "c1")
        .select(
            "vec_id", *extra_cols, "c1", "c2",
            _l2(F.col("v"), F.col("fvec")).alias("d2"),
        )
        .withColumn("rn2", F.row_number().over(w2))
        .filter(F.col("rn2") == 1)  # nearest fine centroid per probed cell
        .select(
            "vec_id",
            *extra_cols,
            (F.col("c1") * F.lit(k2) + F.col("c2")).cast("int").alias("cid"),
        )
    )


def _hier_cells(spark: SparkSession, emb: DataFrame, k: int) -> DataFrame:
    """Two-level cells (vec_id, embedding, cid): each vector probes its
    _SEM_NPROBE nearest coarse cells and takes the single nearest fine
    centroid inside each — composite cid = c1 * K2 + c2, still
    _SEM_NPROBE cells/vector, and the cross-coarse-boundary probe is
    what preserves recall. Training in _hier_train; assignment in
    _hier_assign_windowed over the shared persisted probe frame."""
    _, k2, _, fine, a1 = _hier_train(spark, emb, k, extra_cols=("embedding",))
    return _hier_assign_windowed(spark, a1, fine, k2, extra_cols=("embedding",))


def _semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, cid): each vector in its _SEM_NPROBE nearest
    k-means cells. The row_number window is partitioned by vec_id over
    exactly K (flat) / K2-per-probe (hierarchical) rows per key — bounded
    by construction. K <= _SEM_FLAT_MAX_K runs the flat Lloyd build (all
    sf fixtures: K=16); larger corpora take the hierarchical build."""
    emb = fan_out(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        "embedding",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    k = _sem_k(emb.count())
    if k > _SEM_FLAT_MAX_K:
        return _hier_cells(spark, emb, k)
    cents = _kmeans_centroids(spark, emb.select("vec_id", "v"), k, _IVF_ITERS)
    if not cents:  # empty corpus: no centroids, no cells (typed empty)
        return emb.select(
            "vec_id", "embedding", F.lit(0).cast("int").alias("cid")
        ).where(F.lit(False))
    # row-local probe against centroid LITERALS — the streaming path's
    # shared _sem_probe_cells_expr (lexicographic array_sort == the old
    # window's ORDER BY d2, cid; verified identical cells). Removes the
    # K-row broadcast cross join AND the vec_id window exchange; safe
    # at flat scale because K <= _SEM_FLAT_MAX_K bounds the literal
    # tree (the hier path ships large centroid sets as broadcast DATA
    # instead — its documented plan-compilation lesson).
    return emb.select(
        "vec_id",
        "embedding",
        F.explode(_sem_probe_cells_expr(cents, F.col("v"))).alias("p"),
    ).select("vec_id", "embedding", F.col("p.cid").alias("cid"))


def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path: (vec_a, vec_b, cos) for all semantic-duplicate
    pairs the cell blocking surfaces — cid-equality candidates verified
    with the exact cosine. A pair sharing both probe cells collides
    twice; the cosine filter runs before the per-pair dedupe so the
    (cheap) duplicate candidate never reaches the shuffle wide."""
    from pyspark import StorageLevel

    from mapreduce_sm_spark.session import release_caches, track_caches

    release_caches("similarity.semantic")
    # the vector norm is cached alongside each cell row: every pair the
    # cid join surfaces then pays ONE dot fold instead of the full
    # 3-fold cosine (dot + both norms) — bit-identical, since the norm
    # is the same expression on the same input and the final divide is
    # unchanged (r16 opt round, guide 2.3 narrow-the-pair-work)
    from mapreduce_sm_spark.functions.vectors import dot, l2_norm

    cells = (
        _semantic_cells(spark, sf_dir)
        .withColumn("nv", l2_norm("embedding"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    track_caches("similarity.semantic", cells)
    cells.count()  # barrier: both join sides read the SAME materialization
    a = cells.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("va"),
        F.col("nv").alias("na"),
        F.col("cid").alias("cid_a"),
    )
    b = cells.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("vb"),
        F.col("nv").alias("nb"),
        F.col("cid").alias("cid_b"),
    )
    sim = dot(F.col("va"), F.col("vb")) / F.nullif(
        F.col("na") * F.col("nb"), F.lit(0.0)
    )
    return (
        a.join(
            b,
            (F.col("cid_a") == F.col("cid_b")) & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b", sim.alias("cos"))
        .filter(F.col("cos") >= _SEM_TAU)
        .dropDuplicates(["vec_a", "vec_b"])
    )


def semantic_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop over the full corpus: (vec_id, label, kept).
    Drop rule: a doc is dropped iff the cell blocking found it a semantic
    duplicate with a smaller vec_id — the smallest doc in each duplicate
    cluster survives. Library/pytest surface; the registered driver query
    is the audit contract below (k-means is iterative => no SQL oracle
    for the full report, same status as ann_ivf_topk)."""
    pairs = semantic_dedup_pairs(spark, sf_dir)
    dropped = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
    docs = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return docs.join(dropped.withColumn("kept", F.lit(False)), "vec_id", "left").select(
        "vec_id", "label", F.coalesce("kept", F.lit(True)).alias("kept")
    )


_SEM_ORACLE = f"""
WITH a AS (
  SELECT vec_id AS doc_id, embedding AS av
  FROM embeddings WHERE vec_id < {_SEM_N_AUDIT}
),
p AS (
  SELECT a.doc_id, b.vec_id AS partner
  FROM a JOIN embeddings b ON b.vec_id <> a.doc_id
  WHERE {cosine_sql('av', 'b.embedding')} >= {_SEM_TAU}
),
s AS (
  SELECT doc_id, count(*) AS cnt,
         max(partner < doc_id) AS has_smaller
  FROM p GROUP BY doc_id
)
SELECT a.doc_id,
       CAST(coalesce(s.cnt, 0) AS BIGINT) AS n_exact_dup,
       NOT coalesce(s.has_smaller, false) AS kept_exact,
       true AS sound_ok,
       true AS recall_ok
FROM a LEFT JOIN s USING (doc_id)
ORDER BY doc_id
"""


@REGISTRY.register(
    "dedup_semantic_embedding",
    oracle=_SEM_ORACLE,
    description=(
        "SemDeDup-style semantic dedup contract: k-means cell-blocked "
        "cosine pairs vs the exact audit relation — exact per-doc dup "
        "count + keep/drop, subset soundness, aggregate recall floor"
    ),
    headline=True,
    tags=("dedup", "similarity", "semantic", "ivf", "iterative"),
)
def dedup_semantic_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    _assert_broadcastable_query_side(_SEM_N_AUDIT)
    from mapreduce_sm_spark.functions.vectors import dot, l2_norm

    emb = table(spark, sf_dir, "embeddings")
    # norms precomputed ONCE per side before the pair join: each of the
    # |audit| x N pairs then evaluates one dot fold instead of three
    # (measured 4.2 s -> 1.0 s on the audit relation at sf0.1).
    # Bit-identical to cosine_similarity: same norm expression on the
    # same input rows, same final divide.
    audit = emb.filter(F.col("vec_id") < _SEM_N_AUDIT).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("av"),
        l2_norm("embedding").alias("na"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("partner"),
        F.col("embedding").alias("pv"),
        l2_norm("embedding").alias("nb"),
    )
    # exact relation: audit x corpus via broadcast (bruteforce pattern) —
    # the ground truth the cell-blocked set is audited against
    exact = (
        corpus.join(F.broadcast(audit), F.col("partner") != F.col("doc_id"))
        .select(
            "doc_id", "partner",
            (
                dot(F.col("av"), F.col("pv"))
                / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(_SEM_TAU))
    )
    per_exact = exact.groupBy("doc_id").agg(
        F.count("*").alias("n_exact_dup"),
        F.max(F.col("partner") < F.col("doc_id")).alias("has_smaller"),
    )
    # approximate relation: the registered scale path's pairs, folded to
    # per-audit-doc catch counts (both endpoints of a pair observe it)
    pairs = semantic_dedup_pairs(spark, sf_dir)
    touch = (
        pairs.select(F.col("vec_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("vec_b").alias("doc_id")))
        .filter(F.col("doc_id") < _SEM_N_AUDIT)
    )
    per_caught = touch.groupBy("doc_id").agg(F.count("*").alias("n_caught"))
    rep = (
        audit.select("doc_id")
        .join(per_exact, "doc_id", "left")
        .join(per_caught, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_exact_dup", F.lit(0)).cast("long").alias("n_exact_dup"),
            (~F.coalesce(F.col("has_smaller"), F.lit(False))).alias("kept_exact"),
            F.coalesce("n_caught", F.lit(0)).cast("long").alias("n_caught"),
        )
    )
    totals = rep.agg(
        F.sum("n_exact_dup").alias("te"), F.sum("n_caught").alias("tc")
    )
    return (
        rep.crossJoin(F.broadcast(totals))  # 1-row aggregate
        .select(
            "doc_id",
            "n_exact_dup",
            "kept_exact",
            (F.col("n_caught") <= F.col("n_exact_dup")).alias("sound_ok"),
            (
                (F.col("te") == 0)
                | (
                    F.col("tc").cast("double")
                    >= F.col("te").cast("double") * F.lit(_SEM_RECALL_FLOOR)
                )
            ).alias("recall_ok"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# End-to-end embedding-space dedup with a FULL value oracle (r13): cluster
# resolution over the banded-LSH pair miner above. dedup_semantic_embedding
# is the SemDeDup contract (k-means cells — iterative, so its oracle is the
# audit-contract form); THIS operator is the companion whose every stage
# DuckDB replays exactly: seeded sign-hyperplane bands -> exact-cosine
# verified pairs (embedding_similar_pairs' machinery, oracle-identical
# since r02) -> connected components by min-label propagation (the same
# _cc_labels kernel and recursive-CTE oracle the lexical
# dedup_connected_components* rungs use) -> one keeper per cluster.
#
# It is the embedding-space analogue of corpus_near_dedup: the composition
# a pipeline runs when it wants cluster-level semantic dedup with an
# auditable, engine-exact result rather than an index-dependent one.
# 100 TB shape: banded equality joins for candidates (never all-pairs),
# label propagation over a checkpointed arc frame (one arc shuffle per
# round of four hops; one vertex-sized label exchange per hop).
#
# RUNG DIVISION (measured, SCALING.md r13): this is the AUDIT rung — its
# 8-plane/4x2-bit band geometry is frozen into the oracle string, and
# 2-bit bands birthday-saturate (measured 20x wall at x10 docs, the same
# curve as 32-bit simhash). The SCALE rung of the semantic family is
# dedup_semantic_embedding / semantic_dedup_pairs above, whose K ~ N/125
# k-means cells hold per-cell cost constant (measured 1.6-1.8x at x10).
# At 100 TB you widen the planes with log N; the audit rung deliberately
# keeps them frozen so DuckDB replays the exact result.
# ---------------------------------------------------------------------------

_EMB_CC_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, label, embedding, {_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ({" OR ".join(
    f"{_band_val_sql('a.bucket', k)} = {_band_val_sql('b.bucket', k)}"
    for k in range(_N_BANDS)
  )})
    AND {cosine_sql('a.embedding', 'b.embedding')} >= {_PAIRS_THRESHOLD}
),
{_cc_sql("(SELECT vec_id AS doc_id FROM embeddings)")}
SELECT doc_id AS vec_id, component,
       (CASE WHEN doc_id = component THEN 1 ELSE 0 END) AS is_keeper
FROM labels
ORDER BY vec_id
"""


@REGISTRY.register(
    "semantic_dedup_clusters",
    oracle=_EMB_CC_ORACLE,
    description=(
        "end-to-end embedding dedup: banded-LSH cosine pairs -> connected "
        "components -> one keeper per semantic cluster (fully oracled)"
    ),
    tags=("similarity", "dedup", "graph", "lsh", "iterative"),
)
def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = embedding_similar_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    vecs = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    return (
        _cc_labels(pairs, vecs)
        .select(
            F.col("doc_id").alias("vec_id"),
            "component",
            F.when(F.col("doc_id") == F.col("component"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_keeper"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# STREAMED semantic-index maintenance (r13) — the embedding-space leg of
# the index-maintenance story. dedup_minhash_compaction and
# stream_minhash_index_equality prove the LEXICAL store can absorb
# deltas without a re-index; this proves the SEMANTIC store can too: the
# k-means cells are trained once (batch), and arriving vectors are
# assigned to their _SEM_NPROBE nearest cells by a STATELESS row-local
# projection against centroid literals — no streaming state, no stream-
# side shuffle — appended through the exactly-once parquet file sink,
# then audited against the batch twin with an exact multiset comparison.
#
# The row-local projection replaces _semantic_cells' window with
# slice(array_sort(transform(centroids, c -> (d2, cid))), 1, nprobe):
# array_sort on struct<d2,cid> is lexicographic, i.e. exactly the
# window's ORDER BY d2 ASC, cid ASC — the equivalence is pinned in
# tests/test_similarity_contracts.py. Past _SEM_FLAT_MAX_K cells (r14,
# closing VERDICT r13 item 2) the build goes hierarchical exactly like
# the batch dedup rung, and the streamed assignment becomes the
# TWO-LEVEL row-local projection _hier_probe_cells_expr — nprobe
# nearest coarse cells, then the nearest fine centroid inside each —
# still stateless, against K1 + K1*K2 centroid literals; the windowed==
# row-local equivalence is pinned for both regimes. Both audit sides
# evaluate the SAME expression on the SAME rows from ONE trained
# centroid set, so equality is a theorem about the exactly-once sink
# plumbing (the same contract shape as stream_minhash_index_equality;
# _kmeans_centroids' means are double averages, so centroids are
# collected once and shared rather than recomputed per side).
#
# 100 TB posture: per-micro-batch cost is |batch| x (K1 + nprobe*K2)
# distance kernels past the flat cap (|batch| x K under it), all
# codegen'd array math against literal centroids (total bounded by
# _MAX_KMEANS_K driver-state guard); the sink append is manifest-
# committed, so a crashed batch never half-appears; the audit is
# index-sized. The oracle emits the theorem values (every vector indexed,
# zero mismatches) computable from the embeddings table alone —
# k-means itself is iterative and has no SQL oracle (the
# ann_ivf_recall_check precedent).
# ---------------------------------------------------------------------------

_STREAM_SEM_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(*) AS BIGINT) AS n_docs_indexed,
       CAST(0 AS BIGINT) AS n_mismatch,
       true AS stream_equals_batch
FROM embeddings
"""


def _sem_probe_cells_expr(
    cents: list[tuple[int, list[float]]], vcol: F.Column
) -> F.Column:
    """array<struct<d2,cid>> of the _SEM_NPROBE nearest cells of vcol,
    computed row-locally against centroid LITERALS (streaming-safe: no
    window, no join). Lexicographic array_sort == ORDER BY d2, cid."""
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("cvec"),
            )
            for cid, vec in cents
        ]
    )
    scored = F.transform(
        cent_arr,
        lambda c: F.struct(
            _l2(vcol, c["cvec"]).alias("d2"), c["cid"].alias("cid")
        ),
    )
    return F.slice(F.array_sort(scored), 1, _SEM_NPROBE)


def _hier_probe_cells_expr(
    k1: int,
    k2: int,
    coarse: list[tuple[int, list[float]]],
    fine: dict,
    vcol: F.Column,
) -> F.Column:
    """array<struct<d2,cid>> of the two-level probe of vcol — the
    hierarchical twin of _sem_probe_cells_expr, still computed
    row-locally against centroid LITERALS (streaming-safe: no window,
    no join, no state). Mirrors _hier_cells' windowed assignment
    exactly: _SEM_NPROBE nearest coarse cells by lexicographic
    array_sort on struct<d1,c1> (== ORDER BY d1, c1), then the single
    nearest fine centroid inside each probed cell by array_sort on
    struct<d2,c2>, composite cid = c1 * K2 + c2. A probed coarse cell
    with NO fine centroids (possible only when the cell owns no home
    vectors) is dropped, matching the batch path's inner join on c1.

    Centroid transport: small K builds them as literals (this wrapper —
    used by the pinned equivalence test); the streamed operator carries
    them as broadcast DATA via _hier_probe_static instead, because a
    K=1600 literal tree (~100k literal doubles) pushed plan compilation
    past the stream's own timeout at the x100 rung — the expression
    logic (_hier_probe_cells_col) is shared verbatim by both."""
    lit_vec = lambda v: F.array(*[F.lit(float(x)) for x in v])  # noqa: E731
    coarse_arr = F.array(
        *[
            F.struct(F.lit(int(c1)).alias("c1"), lit_vec(v).alias("cvec"))
            for c1, v in coarse
        ]
    )
    by_c1 = _fine_by_c1(k1, fine)
    # element_at(fine_arr, c1 + 1) = coarse cell c1's fine centroids;
    # cast() types the empty arrays a home-vector-less cell leaves behind
    fine_arr = F.array(
        *[
            F.array(
                *[
                    F.struct(
                        F.lit(int(c2)).alias("c2"), lit_vec(fv).alias("fvec")
                    )
                    for c2, fv in by_c1[c1]
                ]
            ).cast("array<struct<c2:int,fvec:array<double>>>")
            for c1 in range(k1)
        ]
    )
    return _hier_probe_cells_col(k2, coarse_arr, fine_arr, vcol)


def _fine_by_c1(k1: int, fine: dict) -> dict[int, list]:
    by_c1: dict[int, list] = {c1: [] for c1 in range(k1)}
    for (c1, c2), fv in sorted(fine.items()):
        by_c1[c1].append((c2, fv))
    return by_c1


def _hier_probe_cells_col(
    k2: int, coarse_arr: F.Column, fine_arr: F.Column, vcol: F.Column
) -> F.Column:
    """The two-level probe over centroid ARRAYS given as columns —
    literal-built (small K) or broadcast data (_hier_probe_static)."""
    probes = F.slice(
        F.array_sort(
            F.transform(
                coarse_arr,
                lambda c: F.struct(
                    _l2(vcol, c["cvec"]).alias("d1"), c["c1"].alias("c1")
                ),
            )
        ),
        1,
        _SEM_NPROBE,
    )
    cells = F.transform(
        probes,
        lambda p: F.element_at(
            F.array_sort(
                F.transform(
                    F.element_at(fine_arr, p["c1"] + F.lit(1)),
                    lambda fc: F.struct(
                        _l2(vcol, fc["fvec"]).alias("d2"),
                        fc["c2"].alias("c2"),
                    ),
                )
            ),
            1,
        ),
    )
    composed = F.zip_with(
        probes,
        cells,
        lambda p, b: F.struct(
            b["d2"].alias("d2"),
            (p["c1"] * F.lit(k2) + b["c2"]).cast("int").alias("cid"),
        ),
    )
    return F.filter(composed, lambda s: s["cid"].isNotNull())


def _hier_probe_static(
    spark: SparkSession, k1: int, coarse: list, fine: dict
) -> DataFrame:
    """ONE-ROW static frame (coarse_arr, fine_arr) carrying the trained
    centroids as broadcast DATA: the stream cross-joins it (stream-
    static broadcast joins are stateless and supported) and the probe
    expression operates on column references, keeping the plan O(1)
    regardless of K — at K=1600 x 64 dims this is ~820 KB of row data
    per executor vs a literal tree whose codegen took minutes."""
    by_c1 = _fine_by_c1(k1, fine)
    row = (
        [(int(c1), [float(x) for x in v]) for c1, v in coarse],
        [
            [(int(c2), [float(x) for x in fv]) for c2, fv in by_c1[c1]]
            for c1 in range(k1)
        ],
    )
    return spark.createDataFrame(
        [row],
        schema="coarse_arr array<struct<c1:int,cvec:array<double>>>, "
        "fine_arr array<array<struct<c2:int,fvec:array<double>>>>",
    )


def _stream_maintained_semantic_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, str]:
    """Runs the maintenance stream; returns (committed store frame,
    batch-twin frame, base dir). Base exposed so tests can assert the
    sink really committed multiple appends."""
    import os

    from mapreduce_sm_spark.session import release_caches, session_tmpdir
    from mapreduce_sm_spark.streaming.runner import (
        FEED,
        replay_stream,
        run_file_sink,
    )

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # train once, batch-side; shared verbatim by both audit sides.
    # K <= _SEM_FLAT_MAX_K projects against the flat centroid list
    # (every sf fixture: K=16); past it the build goes hierarchical
    # (_hier_train, the same coarse->fine scheme the batch dedup rung
    # uses) and the streamed assignment probes coarse-then-fine via
    # _hier_probe_cells_expr — STILL a stateless row-local projection
    # against centroid literals (K1 + K1*K2 <= _MAX_KMEANS_K vectors,
    # plan-sized), so the exactly-once sink and multiset audit carry
    # over unchanged.
    k = _sem_k(emb.count())
    if k > _SEM_FLAT_MAX_K:
        k1, k2, coarse, fine, a1 = _hier_train(spark, emb, k)
        a1.unpersist()  # streamed assignment is row-local: probe frame unused
        release_caches("similarity.semantic.hier")
        cents = coarse  # non-empty iff the corpus is (guard below)
        cent_static = _hier_probe_static(spark, k1, coarse, fine)

        def _cells(df: DataFrame) -> DataFrame:
            # centroids as broadcast DATA (stream-static cross join is
            # stateless): the probe expression stays O(1)-sized at any K
            return (
                df.crossJoin(F.broadcast(cent_static))
                .select(
                    "vec_id",
                    F.explode(
                        _hier_probe_cells_col(
                            k2,
                            F.col("coarse_arr"),
                            F.col("fine_arr"),
                            F.col("v"),
                        )
                    ).alias("p"),
                )
                .select("vec_id", F.col("p.cid").alias("cid"))
            )

    else:
        cents = _kmeans_centroids(spark, emb, k, _IVF_ITERS)

        def _cells(df: DataFrame) -> DataFrame:
            return df.select(
                "vec_id",
                F.explode(_sem_probe_cells_expr(cents, F.col("v"))).alias("p"),
            ).select("vec_id", F.col("p.cid").alias("cid"))

    if not cents:
        # empty corpus -> no centroids -> the literal-array projection
        # has no elements to type; there is nothing to stream or audit,
        # so both sides are the empty index (contract row still emits:
        # 0 vectors, 0 indexed, 0 mismatches, flag true)
        empty = spark.createDataFrame([], "vec_id bigint, cid int")
        return empty, empty, session_tmpdir("sem_stream_idx_")

    # arrival simulation: the vectors land as 32 part files consumed 8
    # per trigger => the sink commits (up to) 4 separate appends, and
    # each micro-batch runs 8 tasks. Files-per-trigger is the micro-
    # batch PARALLELISM axis (a file-source micro-batch gets one task
    # per file): the 1-file-per-trigger variant ran each x100 append on
    # a single core at the same per-core rate the 32-core batch twin
    # sustains — measured 73 s/append vs ~9 s here, SCALING.md r14.
    stream, base = replay_stream(emb, "sem_stream_idx_", 32, 8)
    maintained = run_file_sink(
        _cells(stream), base, "stream_semantic_index_equality"
    )
    batch_twin = _cells(spark.read.parquet(os.path.join(base, FEED)))
    return maintained, batch_twin, base


@REGISTRY.register(
    "stream_semantic_index_equality",
    oracle=_STREAM_SEM_ORACLE,
    description="streamed semantic-cell index maintenance: stateless "
    "micro-batch assignment through the exactly-once file sink == batch "
    "assignment (exact multiset audit)",
    tags=("streaming", "similarity", "semantic", "ivf", "persist"),
)
def stream_semantic_index_equality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    maintained, batch_twin, _ = _stream_maintained_semantic_index(
        spark, sf_dir
    )
    sc = maintained.groupBy("vec_id", "cid").agg(F.count("*").alias("n_s"))
    bc = batch_twin.groupBy("vec_id", "cid").agg(F.count("*").alias("n_b"))
    mism = (
        sc.join(bc, ["vec_id", "cid"], "full_outer")
        .filter(
            F.coalesce("n_s", F.lit(0)) != F.coalesce("n_b", F.lit(0))
        )
        .agg(F.count("*").cast("long").alias("n_mismatch"))
    )
    n_vec = table(spark, sf_dir, "embeddings").agg(
        F.count("*").cast("long").alias("n_vectors")
    )
    n_idx = maintained.agg(
        F.countDistinct("vec_id").cast("long").alias("n_docs_indexed")
    )
    return (
        n_vec.crossJoin(F.broadcast(n_idx))  # 1-row aggregates
        .crossJoin(F.broadcast(mism))
        .select(
            "n_vectors",
            "n_docs_indexed",
            "n_mismatch",
            (F.col("n_mismatch") == 0).alias("stream_equals_batch"),
        )
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization with a recall contract (r14) — the
# standard serving-compression step for vector stores (symmetric
# per-vector scalar quantization, the scheme FAISS calls SQ8): each
# vector is stored as 64 int8 codes + one scale, 4x smaller than
# float32, and candidate scoring becomes an INTEGER dot product
# (exact int64 — dim * 127^2 < 2^21) rescaled by the two scales.
#
# Exactness discipline: the quantizer is floor(x * 127 / s) on doubles
# (floor has no tie channel — the r05 round() lesson); scales are
# max(|x_i|), a comparison-only reduction; the rescaled score
# ((dot::DOUBLE * s_a) * s_b, parenthesized identically in both
# engines) is bit-identical IEEE, so both rankings — exact cosine and
# quantized — agree row-for-row with the oracle and recall@k is an
# exact integer.
#
# 100 TB posture: same broadcast-query-side shape as ann_bruteforce
# (the guard applies); ONE corpus pass computes both rankings (two
# windows share the q_id partitioning — one shuffle, two sorts), and
# the contract emits index-sized aggregates. The quantized path's win
# at scale is bandwidth (4x fewer bytes scanned per candidate) and
# integer SIMD; the measured contract here is that the compression
# does not cost ranking quality on real data.
# ---------------------------------------------------------------------------

_QUANT_RECALL_FLOOR_PPM = 900_000  # int8 keeps top-5: measured 0.99


def _quant_scale(vcol: F.Column) -> F.Column:
    """max(|x_i|) scale of an embedding column (comparison-only)."""
    return F.array_max(
        F.transform(vcol, lambda x: F.abs(x.cast("double")))
    )


def _quant_codes(vcol: F.Column, scol: F.Column) -> F.Column:
    """int8 code array from an embedding column and its MATERIALIZED
    scale column — doubles in, exact integers out; zero vectors
    quantize to all-zero codes. The scale must be a plain column
    reference: inlining the array_max expression here would re-run it
    inside every element of the transform lambda (O(d^2) per row — no
    CSE across lambda boundaries, the _adjacent_pairs_col lesson)."""
    return F.when(
        scol == 0.0,
        F.transform(vcol, lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            vcol, lambda x: F.floor(x.cast("double") * F.lit(127.0) / scol)
        )
    )


def _quant_cols(vcol: F.Column) -> tuple[F.Column, F.Column]:
    """(scale, int8 code array) — single-projection form kept for the
    contract tests; operator code should layer _quant_scale into its
    own select first and call _quant_codes on the materialized column."""
    s = _quant_scale(vcol)
    return s, _quant_codes(vcol, s)


_QUANT_ORACLE = f"""
WITH base AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS s
  FROM embeddings
),
quant AS (
  SELECT vec_id, embedding, s,
         CASE WHEN s = 0 THEN list_transform(embedding, x -> 0::BIGINT)
              ELSE list_transform(embedding,
                     x -> floor(x::DOUBLE * 127.0 / s)::BIGINT)
         END AS q
  FROM base
),
qs AS (SELECT vec_id AS q_id, embedding AS qv, q AS qq, s AS s_a
       FROM quant WHERE vec_id < {_N_QUERIES}),
cs AS (SELECT vec_id AS c_id, embedding AS cv, q AS cq, s AS s_b FROM quant),
pairs AS (
  SELECT q_id, c_id,
         {cosine_sql('qv', 'cv')} AS cos,
         (list_reduce(list_transform(list_zip(qq, cq), p -> p[1] * p[2]),
                      (x, y) -> x + y)::DOUBLE * s_a) * s_b AS score
  FROM qs JOIN cs ON q_id <> c_id
),
ranked AS (
  SELECT q_id, c_id,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS re,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rq
  FROM pairs
)
SELECT CAST({_N_QUERIES} AS BIGINT) AS n_queries,
       CAST({_TOP_K} AS BIGINT) AS k,
       sum(CASE WHEN re <= {_TOP_K} AND rq <= {_TOP_K} THEN 1 ELSE 0 END)
           ::BIGINT AS n_hits,
       CAST((sum(CASE WHEN re <= {_TOP_K} AND rq <= {_TOP_K} THEN 1 ELSE 0 END)
           * 1000000) // ({_N_QUERIES} * {_TOP_K}) AS BIGINT) AS recall_ppm,
       (sum(CASE WHEN re <= {_TOP_K} AND rq <= {_TOP_K} THEN 1 ELSE 0 END)
           * 1000000) // ({_N_QUERIES} * {_TOP_K})
           >= {_QUANT_RECALL_FLOOR_PPM} AS recall_ok
FROM ranked
"""


@REGISTRY.register(
    "ann_quantized_recall",
    oracle=_QUANT_ORACLE,
    description="int8 scalar-quantized ANN recall contract: integer-dot "
    "ranking over per-vector int8 codes vs exact cosine top-5, exact "
    "recall ppm with floor",
    tags=("similarity", "quantization", "scale"),
)
def ann_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.functions.vectors import cosine_similarity

    from mapreduce_sm_spark.functions.vectors import dot, l2_norm

    emb = fan_out(table(spark, sf_dir, "embeddings"), "vec_id")
    _assert_broadcastable_query_side(_N_QUERIES)
    # layered selects: scale materialized first, codes computed from the
    # plain column (see _quant_codes), norms once per side for the
    # exact-cosine branch (one dot fold per pair; bit-identical)
    base = emb.select(
        "vec_id",
        "embedding",
        _quant_scale(F.col("embedding")).alias("s"),
        l2_norm("embedding").alias("nv"),
    )
    quant = base.select(
        "vec_id", "embedding", "s", "nv",
        _quant_codes(F.col("embedding"), F.col("s")).alias("q"),
    )
    qs = quant.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("q").alias("qq"),
        F.col("s").alias("s_a"),
        F.col("nv").alias("n_a"),
    )
    cs = quant.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("cv"),
        F.col("q").alias("cq"),
        F.col("s").alias("s_b"),
        F.col("nv").alias("n_b"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = cs.join(F.broadcast(qs), F.col("q_id") != F.col("c_id")).select(
        "q_id",
        "c_id",
        (
            dot(F.col("qv"), F.col("cv"))
            / F.nullif(F.col("n_a") * F.col("n_b"), F.lit(0.0))
        ).alias("cos"),
        ((idot.cast("double") * F.col("s_a")) * F.col("s_b")).alias("score"),
    )
    we = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    wq = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id"))
    hits = (
        pairs.withColumn("re", F.row_number().over(we))
        .withColumn("rq", F.row_number().over(wq))
        .agg(
            F.sum(
                F.when((F.col("re") <= _TOP_K) & (F.col("rq") <= _TOP_K), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_hits")
        )
    )
    denom = _N_QUERIES * _TOP_K
    return hits.select(
        F.lit(_N_QUERIES).cast("long").alias("n_queries"),
        F.lit(_TOP_K).cast("long").alias("k"),
        "n_hits",
        F.expr(f"n_hits * 1000000 DIV {denom}").alias("recall_ppm"),
        (
            F.expr(f"n_hits * 1000000 DIV {denom}")
            >= _QUANT_RECALL_FLOOR_PPM
        ).alias("recall_ok"),
    )


# ---------------------------------------------------------------------------
# Semantic eval decontamination (r15) — the embedding-space member of
# the decontamination triple (lexical-exact: exact_ngram_decontamination;
# lexical-fuzzy: fuzzy_decontamination_split; semantic: this). A train
# document whose embedding is cosine-similar to ANY eval embedding is a
# paraphrase-grade leak the lexical guards cannot see (no shared n-gram,
# no shared shingle band — just meaning). Same split convention
# (vec_id % 10 = 0 is eval), same yield-report shape, per label block.
#
# Shape: the production eval suite is FIXED and small, so the eval
# embeddings ship as broadcast DATA in a one-row static frame (the
# house pattern) and every train vector is probed entirely ROW-LOCALLY:
# F.exists over the eval array with the repo's bit-exact cosine fold —
# no join node, no pair materialization, no shuffle beyond the
# label-sized rollup. EXACT by construction (every train x eval cosine
# is evaluated, short-circuiting on the first hit), unlike the banded
# candidates of embedding_similar_pairs — exactness is affordable
# precisely because one side is the corpus-size-CONSTANT eval suite.
#
# 100 TB posture: per-train-row cost is O(|eval| * dim) codegen'd
# flops against a broadcast array; the corpus is scanned once. If the
# eval suite ever outgrew a broadcast row, the fallback is the
# cell-blocked index (semantic_dedup machinery) — documented, not
# needed for benchmark-suite-sized eval sets.
# ---------------------------------------------------------------------------

_SDECON_TAU = 0.40  # same threshold family as _SEM_TAU / _PAIRS_THRESHOLD

# Eval-suite broadcast-row capacity contract (VERDICT r15 item 2): the
# one-row collect_list holds dim-64 float vectors (256 B payload each),
# so 2^18 vectors is ~64 MiB of array payload — comfortably under
# Spark's 2 GB single-array ceiling and the executor broadcast budget,
# and well above any published eval benchmark's example count. An eval
# set past this bound is corpus-sized, i.e. the wrong operator: the
# guard raises a NAMED error pointing at the cell-blocked fallback
# instead of letting the oversized row die as an opaque executor OOM
# (functions/guards.py, the bloom-geometry house pattern).
_EVAL_VEC_BROADCAST_BOUND = 1 << 18


def _eval_vec_static(emb: DataFrame) -> DataFrame:
    """The FIXED eval suite as one broadcastable row (scalar aggregate —
    bounded by node type for the plan tripwires; empty corpus yields an
    empty array and every probe is cleanly false), capacity-guarded per
    the _EVAL_VEC_BROADCAST_BOUND contract. Each element carries its
    precomputed norm so the probe lambda pays one dot fold per
    (train, eval) pair instead of the full 3-fold cosine (r16 opt
    round; bit-identical — same norm expression, same final divide)."""
    from mapreduce_sm_spark.functions.guards import bounded_broadcast_array
    from mapreduce_sm_spark.functions.vectors import l2_norm

    return (
        emb.filter(F.col("vec_id") % 10 == 0)
        .select("embedding", l2_norm("embedding").alias("nv"))
        .agg(F.collect_list(F.struct("embedding", "nv")).alias("evs"))
        .select(
            bounded_broadcast_array(
                F.col("evs"),
                _EVAL_VEC_BROADCAST_BOUND,
                op="semantic_decontamination_split",
                fallback="cell-blocked semantic index "
                "(the semantic_dedup machinery)",
                typ="array<struct<embedding:array<float>,nv:double>>",
            ).alias("evs")
        )
    )

_SDECON_ORACLE = f"""
WITH ev AS (
  SELECT embedding FROM embeddings WHERE vec_id % 10 = 0
),
tr AS (
  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 10 <> 0
),
leaky AS (
  SELECT DISTINCT tr.vec_id
  FROM tr JOIN ev ON {cosine_sql('tr.embedding', 'ev.embedding')}
      >= {_SDECON_TAU}
),
flagged AS (
  SELECT tr.label, (l.vec_id IS NOT NULL) AS lk
  FROM tr LEFT JOIN leaky l USING (vec_id)
)
SELECT label,
       count(*)::BIGINT AS n_train,
       sum(CASE WHEN lk THEN 1 ELSE 0 END)::BIGINT AS n_train_excluded,
       sum(CASE WHEN NOT lk THEN 1 ELSE 0 END)::BIGINT AS n_train_kept
FROM flagged
GROUP BY label
ORDER BY label
"""


@REGISTRY.register(
    "semantic_decontamination_split",
    oracle=_SDECON_ORACLE,
    description="embedding-space eval decontamination: train vectors "
    "cosine-similar to any eval vector are excluded (exact row-local "
    "probe against the broadcast eval suite), per-label yield report — "
    "the semantic member of the decontamination triple",
    tags=("similarity", "semantic", "sampling", "quality", "scale"),
)
def semantic_decontamination_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mapreduce_sm_spark.functions.vectors import dot, l2_norm

    emb = table(spark, sf_dir, "embeddings")
    ev_static = _eval_vec_static(emb)
    # train-side norm computed once per row, eval-side norms riding the
    # broadcast structs: the exists-probe pays one dot per pair
    train = fan_out(
        emb.filter(F.col("vec_id") % 10 != 0), "vec_id"
    ).select(
        "vec_id", "label", "embedding", l2_norm("embedding").alias("ne")
    )
    probed = train.crossJoin(F.broadcast(ev_static)).select(
        "label",
        F.exists(
            "evs",
            lambda s: F.coalesce(
                dot(F.col("embedding"), s["embedding"])
                / F.nullif(F.col("ne") * s["nv"], F.lit(0.0))
                >= _SDECON_TAU,
                F.lit(False),
            ),
        ).alias("lk"),
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        probed.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_train"),
            one(F.col("lk")).alias("n_train_excluded"),
            one(~F.col("lk")).alias("n_train_kept"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# FILTERED vector search (r16) — the production retrieval shape the ann_*
# family was missing: real RAG / vector-store queries almost never scan
# the whole corpus, they carry a metadata predicate (tenant, language,
# collection, ACL). Here each query retrieves its exact cosine top-k
# among candidates sharing its label — the predicate becomes the JOIN
# KEY, so the candidate set shrinks by the label cardinality BEFORE any
# distance math runs, and with a label-partitioned corpus layout the
# probe is partition-pruned too (zorder_bucket_stats documents the
# layout side). Contrast ann_bruteforce_topk, where the broadcast query
# row fans out against every corpus row.
#
# 100 TB posture: the query side is the broadcast dim (guarded by
# _assert_broadcastable_query_side); the corpus is scanned once and each
# row joins at most the queries of ITS label. Per-query cost is
# O(corpus/|labels| * dim) instead of O(corpus * dim). The window top-k
# is partitioned by q_id (bounded candidate streams), never a global
# sort. RAW cosine doubles are emitted — the fold is bit-identical in
# both engines (functions/vectors.py), so no rounding tie channel.
# ---------------------------------------------------------------------------

_FILT_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS q_id, label, embedding AS qv
  FROM embeddings WHERE vec_id < {_N_QUERIES}
),
c AS (SELECT vec_id AS c_id, label, embedding AS cv FROM embeddings)
SELECT q_id, c_id, cos, rn AS rank
FROM (
  SELECT q_id, c_id,
         {cosine_sql('qv', 'cv')} AS cos,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY {cosine_sql('qv', 'cv')} DESC, c_id ASC) AS rn
  FROM q JOIN c ON q.label = c.label AND q_id <> c_id
)
WHERE rn <= {_TOP_K}
ORDER BY q_id, rank
"""


@REGISTRY.register(
    "ann_filtered_topk",
    oracle=_FILT_ORACLE,
    description="metadata-filtered exact cosine top-k: each query "
    "retrieves only within its label partition (the RAG / vector-store "
    "predicate-search shape) — the filter is the join key, pruning "
    "candidates before any distance math",
    tags=("similarity", "scale"),
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(table(spark, sf_dir, "embeddings"), "vec_id")
    _assert_broadcastable_query_side(_N_QUERIES)
    from mapreduce_sm_spark.functions.vectors import dot, l2_norm

    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qv"),
        l2_norm("embedding").alias("nq"),
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"), "label",
        F.col("embedding").alias("cv"),
        l2_norm("embedding").alias("nc"),
    )
    # norms precomputed per side — one dot fold per candidate pair
    # (bit-identical; see dedup_semantic_embedding)
    sim = dot(F.col("qv"), F.col("cv")) / F.nullif(
        F.col("nq") * F.col("nc"), F.lit(0.0)
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("c_id").asc()
    )
    return (
        c.join(
            F.broadcast(q),
            (F.col("label") == F.col("q_label"))
            & (F.col("q_id") != F.col("c_id")),
        )
        .select("q_id", "c_id", sim.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# Embedding dimension QC (r16). Before any ANN/dedup machinery trusts an
# embedding column at corpus scale, the per-DIMENSION distribution is
# the cheap health check: dead dimensions (constant output — wasted
# index capacity), scale drift between ingestion batches, and saturated
# dimensions all show up here long before recall numbers degrade. Raw
# exact integers on the house per-mille grid (floor(x*1000) — the
# float->double promotion and the *1000 are the same IEEE ops in both
# engines, so the grid is bit-portable); the reader derives moments.
#
# 100 TB posture: one corpus pass, posexplode to (dim, g) and a single
# partial-aggregable groupBy on a dim-sized key (64 values) — map-side
# combine collapses every partition to <= dim rows before the shuffle.
# No join, no window.
# ---------------------------------------------------------------------------

_DIMSTATS_ORACLE = """
WITH g AS (
  SELECT generate_subscripts(embedding, 1) AS dim,
         floor(unnest(embedding)::DOUBLE * 1000)::BIGINT AS g
  FROM embeddings
)
SELECT dim::INT AS dim,
       count(*)::BIGINT AS n,
       sum(g)::BIGINT AS sum_g,
       sum(g * g)::BIGINT AS sumsq_g,
       min(g)::BIGINT AS min_g,
       max(g)::BIGINT AS max_g,
       (min(g) = max(g)) AS dead
FROM g
GROUP BY dim
ORDER BY dim
"""


@REGISTRY.register(
    "embedding_dimension_stats",
    oracle=_DIMSTATS_ORACLE,
    description="per-dimension embedding QC: exact integer-grid count/"
    "sum/sumsq/min/max + dead-dimension flag over one corpus pass — the "
    "health check run before ANN machinery trusts a vector column",
    tags=("similarity", "quality", "scale"),
)
def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(table(spark, sf_dir, "embeddings"), "vec_id")
    g = emb.select(
        F.posexplode("embedding").alias("pos", "x")
    ).select(
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.floor(F.col("x").cast("double") * 1000).cast("long").alias("g"),
    )
    return (
        g.groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("g").cast("long").alias("sum_g"),
            F.sum(F.col("g") * F.col("g")).cast("long").alias("sumsq_g"),
            F.min("g").cast("long").alias("min_g"),
            F.max("g").cast("long").alias("max_g"),
        )
        .withColumn("dead", F.col("min_g") == F.col("max_g"))
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# kNN label-noise audit (r16, late). Before a labeled corpus trains or
# filters anything, the standard label-quality screen (the confident-
# learning / Cleanlab family, Northcutt et al. 2021) asks: do labels
# agree with the embedding geometry? A label whose members' nearest
# neighbors are mostly OTHER labels is noisy or ill-defined. This
# operator measures exact kNN label agreement for a FIXED-SIZE audit
# panel: the _KNN_AUDIT_PANEL vectors with the smallest
# hash60('knnaudit|'||vec_id) (deterministic, corpus-size-independent),
# each retrieving its exact cosine top-_TOP_K over the full corpus
# (self excluded, the bruteforce tie order), rolled up per declared
# label into exact per-mille agreement.
#
# 100 TB posture: the panel is a bounded TakeOrdered (per-partition
# top-P on the hash, single tiny reduce) and broadcasts under the
# module's query-side ceiling; the corpus is scanned once computing
# codegen'd cosine folds against P queries — the ann_bruteforce_topk
# serving shape with the panel as the query set. The audit is
# per-label sampling-based BY DESIGN: an all-vectors kNN graph is the
# O(n^2) shape this module's LSH/IVF paths exist to avoid.
# ---------------------------------------------------------------------------

_KNN_AUDIT_PANEL = 50
_KNN_AUDIT_SALT = "knnaudit"

_KNN_AUDIT_ORACLE = f"""
WITH panel AS (
  SELECT vec_id AS q_id, embedding AS qv, label AS q_label
  FROM embeddings
  QUALIFY row_number() OVER (
    ORDER BY {hash60_sql("vec_id::VARCHAR", _KNN_AUDIT_SALT)}, vec_id)
    <= {_KNN_AUDIT_PANEL}
),
nn AS (
  SELECT q_id, q_label, c_label, rn
  FROM (
    SELECT p.q_id, p.q_label, c.label AS c_label,
           row_number() OVER (PARTITION BY p.q_id
                              ORDER BY {cosine_sql('p.qv', 'c.embedding')}
                                       DESC, c.vec_id ASC) AS rn
    FROM panel p JOIN embeddings c ON c.vec_id <> p.q_id
  ) WHERE rn <= {_TOP_K}
)
SELECT q_label AS label,
       count(DISTINCT q_id)::BIGINT AS n_panel,
       count(*) FILTER (WHERE c_label = q_label)::BIGINT AS n_same,
       (count(*) FILTER (WHERE c_label = q_label) * 1000
           // (count(DISTINCT q_id) * {_TOP_K}))::BIGINT AS agree_pm
FROM nn GROUP BY q_label ORDER BY q_label
"""


@REGISTRY.register(
    "knn_label_noise_audit",
    oracle=_KNN_AUDIT_ORACLE,
    description="confident-learning label screen: exact cosine kNN "
    "label agreement per declared label over a fixed-size deterministic "
    "audit panel (exact per-mille) — the geometry-vs-label check run "
    "before a labeled corpus is trusted",
    tags=("similarity", "quality"),
)
def knn_label_noise_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.functions.hashing import hash60

    emb = fan_out(table(spark, sf_dir, "embeddings"), "vec_id")
    _assert_broadcastable_query_side(_KNN_AUDIT_PANEL)
    from mapreduce_sm_spark.functions.vectors import dot, l2_norm

    panel = (
        emb.select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("q_label"),
            l2_norm("embedding").alias("nq"),
            hash60(F.col("vec_id").cast("string"), _KNN_AUDIT_SALT).alias("h"),
        )
        .orderBy("h", "q_id")
        .limit(_KNN_AUDIT_PANEL)
        .drop("h")
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("cv"),
        F.col("label").alias("c_label"),
        l2_norm("embedding").alias("nc"),
    )
    # norms precomputed per side — one dot fold per candidate pair
    # (bit-identical; see dedup_semantic_embedding)
    sim = dot(F.col("qv"), F.col("cv")) / F.nullif(
        F.col("nq") * F.col("nc"), F.lit(0.0)
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("c_id").asc()
    )
    nn = (
        c.join(F.broadcast(panel), F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_label", "c_label", sim.alias("cos"), "c_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
    )
    same = (F.col("c_label") == F.col("q_label")).cast("long")
    return (
        nn.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.countDistinct("q_id").cast("long").alias("n_panel"),
            F.sum(same).cast("long").alias("n_same"),
        )
        .select(
            "label",
            "n_panel",
            "n_same",
            F.expr(f"n_same * 1000 DIV (n_panel * {_TOP_K})")
            .cast("long")
            .alias("agree_pm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Per-label centroid drift (r16, late). The embedding-space cousin of
# source_unigram_divergence: which label populations actually sit
# somewhere ELSE in embedding space? Each label's centroid is compared
# to the global centroid on an exact integer grid — the screen run
# before per-label mixture weighting or per-label ANN partitioning
# assumes labels are geometrically meaningful.
#
# Exactness discipline: components quantize to the house milli-grid
# (floor(x*1000), embedding_dimension_stats' grid); per-(label,dim)
# integer sums reduce exactly; the MEAN lands on a micro-grid via
# floor(1000 * s / n) computed with the portable SIGNED floor division
# (a - pmod(a, b)) div b — pmod makes the subtraction land on an exact
# multiple of n, so the division is exact and identical in both engines
# (the bitmap_stream idiom; a bare `/` or `%`-less DIV would split on
# negative sums, and embedding sums ARE negative). int64-safe while
# 1000 * |sum of milli-components| fits — |x| <= 1 corpora are safe to
# ~9.2e12 vectors per (label, dim).
#
# 100 TB posture: ONE posexplode pass into a (label x dim)-keyed
# partial-aggregable groupBy (map-side combine collapses every
# partition to |labels| * dim rows); everything downstream — global
# rollup, diff, drift aggregate, top-dim window — runs on that
# |labels| * dim frame. No join touches corpus-sized data.
# ---------------------------------------------------------------------------

_DRIFT_FD = (
    lambda a, b: f"((({a}) - ((({a}) % ({b})) + ({b})) % ({b})) // ({b}))"
)

_CENTROID_DRIFT_ORACLE = f"""
WITH g AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim,
         floor(unnest(embedding)::DOUBLE * 1000)::BIGINT AS g
  FROM embeddings
),
per_label AS (
  SELECT label, dim, sum(g)::BIGINT AS s, count(*)::BIGINT AS n
  FROM g GROUP BY label, dim
),
gl AS (
  SELECT dim, sum(s)::BIGINT AS sg, sum(n)::BIGINT AS ng
  FROM per_label GROUP BY dim
),
d AS (
  SELECT l.label, l.dim,
         {_DRIFT_FD('l.s * 1000', 'l.n')}
             - {_DRIFT_FD('g.sg * 1000', 'g.ng')} AS diff
  FROM per_label l JOIN gl g USING (dim)
),
agg AS (
  SELECT label, sum(diff * diff)::BIGINT AS drift_sq
  FROM d GROUP BY label
),
top AS (
  SELECT label, dim AS top_dim, diff AS top_diff
  FROM (SELECT *, row_number() OVER (PARTITION BY label
          ORDER BY abs(diff) DESC, dim ASC) AS rn FROM d)
  WHERE rn = 1
),
nl AS (SELECT label, max(n)::BIGINT AS n_vecs FROM per_label GROUP BY label)
SELECT label, nl.n_vecs, agg.drift_sq,
       top.top_dim::BIGINT AS top_dim, top.top_diff::BIGINT AS top_diff
FROM agg JOIN nl USING (label) JOIN top USING (label) ORDER BY label
"""


@REGISTRY.register(
    "label_centroid_drift",
    oracle=_CENTROID_DRIFT_ORACLE,
    description="embedding-space population screen: exact micro-grid "
    "squared distance between each label's centroid and the global "
    "centroid, with the most-drifting dimension — the geometric "
    "counterpart of source_unigram_divergence",
    tags=("similarity", "quality", "diagnostics"),
)
def label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(table(spark, sf_dir, "embeddings"), "vec_id")
    g = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * 1000).cast("long").alias("g"),
    )
    from mapreduce_sm_spark.session import release_caches, track_caches

    # cache the |labels| x dim rollup: the global rollup, the diff join,
    # and the n_vecs read-out are separate consumers — uncached, each
    # re-ran the corpus posexplode (FIVE passes in the executed plan;
    # plan-pinned to exactly one Generate posexplode in tests/test_plans.py)
    release_caches("similarity.drift")  # one-generation discipline
    per_label = g.groupBy("label", "dim").agg(
        F.sum("g").cast("long").alias("s"),
        F.count("*").cast("long").alias("n"),
    ).cache()
    per_label.count()  # materialization barrier
    track_caches("similarity.drift", per_label)
    gl = per_label.groupBy("dim").agg(
        F.sum("s").cast("long").alias("sg"),
        F.sum("n").cast("long").alias("ng"),
    )

    mu_l = F.expr("(s * 1000 - pmod(s * 1000, n)) DIV n")
    mu_g = F.expr("(sg * 1000 - pmod(sg * 1000, ng)) DIV ng")
    d = per_label.join(F.broadcast(gl), "dim").select(
        "label", "dim", (mu_l - mu_g).cast("long").alias("diff")
    )
    agg = d.groupBy("label").agg(
        F.sum(F.col("diff") * F.col("diff")).cast("long").alias("drift_sq")
    )
    wtop = Window.partitionBy("label").orderBy(
        F.abs(F.col("diff")).desc(), F.col("dim").asc()
    )
    top = (
        d.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select(
            "label",
            F.col("dim").cast("long").alias("top_dim"),
            F.col("diff").cast("long").alias("top_diff"),
        )
    )
    nl = per_label.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs")
    )
    return (
        agg.join(nl, "label")
        .join(top, "label")
        .select("label", "n_vecs", "drift_sq", "top_dim", "top_diff")
        .orderBy("label")
    )
