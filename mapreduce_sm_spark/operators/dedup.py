"""Deduplication operators (north-star extension, SURVEY §2.C).

Ladder of techniques, each registered as its own query:
  dedup_exact            — hash-groupBy on raw content
  dedup_exact_normalized — same after text normalization
  dedup_ngram_jaccard    — exact Jaccard pairs via prefix-filtered
                           inverted-index join (AllPairs/PPJoin-style)
  dedup_minhash          — MinHash band-bucket candidates -> exact verify

Scale posture (100 TB):
- exact dedup is one shuffle on the content hash (not the content itself).
- exact Jaccard NEVER does an all-pairs product: each doc indexes only its
  prefix shingles (any pair with J >= t must share one of the first
  n - ceil(t*n) + 1 shingles under a global shingle order), so the join is
  linear in corpus size + true candidate count.
- MinHash banding is the probabilistic blocking alternative: candidates
  come from band-bucket equality joins; signatures are computed with ONE
  md5 pass per shingle (permutations are cheap int arithmetic on top).
- every hash is the portable md5-based hash60 so the DuckDB oracle
  reproduces results bit-for-bit (functions/hashing.py).

Shared kernels — each near-dup stage has exactly one implementation here,
and every operator (including similarity.semantic_dedup_clusters and
corpus_ops.dedup_cluster_size_histogram) composes them:
  _shingled_h60          distinct char 5-gram shingles -> 60-bit hash array
  _exact_verify          candidate pairs -> exact integer-pm4 Jaccard gate
  _new_batch_split       old/new halves at the broadcast 4*max(doc_id) div 5
  _simhash_spark         SimHash signature at 32 or 60 bits (oracle:
                         _simhash_sql_cte)
  _banded_hamming_pairs  pigeonhole-banded Hamming pair search (oracle:
                         _simhash_pairs_sql)
  _cc_labels             connected components by min-label propagation,
                         resolved onto a vertex frame (oracle: _cc_sql)

Algorithms (public literature):
- MinHash: Broder, "On the resemblance and containment of documents" (1997).
- LSH banding: Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" ch.3.
- Prefix filtering: Bayardo/Ma/Srikant, "Scaling Up All Pairs Similarity
  Search" (WWW'07); positional/length filters: Xiao et al., PPJoin (WWW'08).
- SimHash: Charikar, "Similarity estimation techniques from rounding
  algorithms" (STOC'02); Manku et al. (WWW'07) for the hamming-k search.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_sm_spark.functions.hashing import (
    hash60,
    hash60_sql,
    minhash_permutation_params,
)
from mapreduce_sm_spark.functions.text import (
    char_shingles_sql,
    distinct_shingles,
)
from mapreduce_sm_spark.registry import REGISTRY
from mapreduce_sm_spark.session import (
    checkpoint_df,
    fan_out,
    release_caches,
    table,
    track_caches,
)

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents
GROUP BY text
ORDER BY keep_doc_id
"""


@REGISTRY.register(
    "dedup_exact",
    oracle=_EXACT_ORACLE,
    description="exact dedup: group by content, keep lowest doc_id",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies")
        .orderBy("keep_doc_id")
    )


_EXACT_NORM_ORACLE = """
SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
)
GROUP BY norm
ORDER BY keep_doc_id
"""


@REGISTRY.register(
    "dedup_exact_normalized",
    oracle=_EXACT_NORM_ORACLE,
    description="exact dedup after lowercase/punct-collapse normalization",
    tags=("dedup",),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    return (
        table(spark, sf_dir, "documents")
        .groupBy(norm.alias("norm"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies")
        .orderBy("keep_doc_id")
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard via prefix filtering.
#
# Any pair with J(A,B) >= t shares its smallest common shingle (under the
# lexicographic global order) inside BOTH docs' prefixes of length
# n - ceil(t*n) + 1: elements before the smallest common shingle are by
# definition unshared, and there are at most n - |A∩B| <= n - ceil(t*n) of
# them. We index prefixes for a slightly lower bound (0.78 vs the 0.8
# output threshold) so boundary cases can never drop a true pair.
#
# Jaccard is emitted and gated as an exact INTEGER — floor(j * 1e4),
# "pm4" (per-myriad) units — computed with integer division in both
# engines. The old round(j, 4) form ties exactly whenever the union size
# carries enough powers of two (e.g. |A∪B| = 32 with odd intersection
# makes j*1e4 exactly k+0.5), and engines/versions disagree on half-tie
# direction — the same failure class that broke the five r04 hash-red
# queries. floor(j*1e4) >= 8000 is exactly j >= 0.8 as a rational
# comparison: no tie exists.
# ---------------------------------------------------------------------------

_JACCARD_K = 5
_JACCARD_PM4 = 8000  # gate: floor(j * 1e4) >= 8000  <=>  j >= 0.8 exactly
# bucket-histogram candidate-pruning geometry (r17): hash60 values are
# uniform in [0, 2^60), so shiftright by 55 yields 32 uniform buckets.
# For near-disjoint candidate sets of ~200 shingles (lambda ~6.4/bucket)
# the min-sum bound lands ~0.64 — comfortably below the 0.8 gate — while
# a true J>=0.8 pair always passes (the bound is exact-conservative).
_JHIST_B = 32
_JHIST_SHIFT = 55
# The prefix filter threshold needs only to be < the smallest true
# Jaccard the output gate can admit (now exactly 0.8), so 0.78 is
# recall-safe while keeping prefixes (and the candidate join's fan-out,
# which scales ~quadratically with prefix length on low-cardinality
# shingle corpora) ~12% shorter than the old extra-conservative 0.75.
_PREFIX_THRESHOLD = 0.78  # safety margin for the prefix filter

_SH = char_shingles_sql("text", _JACCARD_K)

_JACCARD_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, lang, list_distinct({_SH}) AS s
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       (len(list_intersect(a.s, b.s)) * 10000)
           // len(list_distinct(list_concat(a.s, b.s))) AS jaccard_pm4
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE (len(list_intersect(a.s, b.s)) * 10000)
          // len(list_distinct(list_concat(a.s, b.s))) >= {_JACCARD_PM4}
ORDER BY doc_a, doc_b
"""


def _shingled_h60(df: DataFrame) -> DataFrame:
    """`df` without `text`, plus h60: array<long> — the distinct 5-gram
    shingles of `text` hashed to 60-bit longs, the set every MinHash and
    exact-Jaccard stage consumes.

    Hashing happens here, once, so downstream branches (signatures,
    prefix index, verification join-backs) never touch shingle strings;
    Jaccard over 60-bit hashes equals Jaccard over shingles (collision
    odds ~n^2/2^61). array_distinct runs on the STRINGS, before hashing —
    md5 then runs once per distinct shingle (~2.4x fewer calls on real
    text), and the string-side dedup matches the oracle's
    list_distinct(shingles) exactly (hash-side dedup would silently merge
    md5 collisions). Shingling sits AFTER whatever filter `df` carries,
    so slicing the corpus first means only the slice is ever shingled
    (the compaction merge relies on this to leave the old corpus
    untouched); callers fan_out first, since shingling expands each row
    ~60x."""
    return df.select(
        *[c for c in df.columns if c != "text"],
        F.transform(
            distinct_shingles("text", _JACCARD_K), lambda s: hash60(s)
        ).alias("h60"),
    )


def _idiv(num, den):
    """Exact integer floor-division of two non-negative long Columns.

    (num - num % den) is an exact multiple of den, and both operands stay
    far below 2^53, so the double division below is EXACT — never the
    off-by-one a plain floor(num/den) double division can produce. The
    Column API has no `div` operator; this is its exact equivalent."""
    return ((num - num % den) / den).cast("long")


def _jaccard_sized_pm4(sa, sb, na, nb):
    """floor-pm4 Jaccard when both arrays are already distinct:
    |A∪B| = na+nb-|A∩B|. Avoids materializing array_distinct(concat(...))
    per pair — at verify time that union array dominates the shuffle
    bytes."""
    inter = F.size(F.array_intersect(sa, sb)).cast("long")
    union = na.cast("long") + nb.cast("long") - inter
    return _idiv(inter * F.lit(10000), union)


@REGISTRY.register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_ORACLE,
    description="exact 5-gram Jaccard pairs via prefix-filtered index join",
    headline=True,
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cached: the shingle frame feeds the prefix index and both
    # verification join-backs (3 plan branches)
    release_caches("dedup.ngram_jaccard")  # one-generation discipline
    sh = (
        _shingled_h60(
            fan_out(
                table(spark, sf_dir, "documents").select(
                    "doc_id", "lang", "text"
                ),
                "doc_id",
            )
        )
        .withColumn("n", F.size("h60"))
        .cache()
    )
    # materialization barrier: AQE launches the broadcast-build jobs of the
    # downstream joins CONCURRENTLY, and concurrent first readers of a lazy
    # cache each recompute it (in-flight partitions aren't deduped across
    # jobs) — measured 2-5x wall-time swings at sf0.1. One count() pays the
    # shingle+md5 pipeline exactly once; every branch then reads blocks.
    sh.count()
    # AllPairs/PPJoin prefix filter: under ANY global total order on
    # shingles, two sets with J >= t must share a token inside both of
    # their prefixes of length n - ceil(t*n) + 1. Ordering by GLOBAL
    # DOCUMENT FREQUENCY (rarest first, shingle value as tiebreak) makes
    # prefixes consist of rare shingles, so the equality join below stays
    # near-linear instead of degenerating to all-pairs on common shingles.
    toks = sh.select("doc_id", "lang", "n", F.explode("h60").alias("tok"))
    df_counts = toks.groupBy("tok").agg(F.count("*").alias("df"))
    # prefix length n - ceil(t*n) + 1, computed as floor((1-t)*n) + 2 with a
    # +1 safety margin (a longer prefix only adds candidates, never loses)
    pref_len = (
        F.floor(F.col("n") * F.lit(1.0 - _PREFIX_THRESHOLD)) + F.lit(2)
    ).cast("int")
    # Prefix extraction WITHOUT sorting the exploded stream: a row_number
    # window here sorts every (doc, shingle) pair just to keep the first
    # ~quarter (the BENCH_r02 hot spot — 11 s warm). Instead re-aggregate
    # per doc, array_sort the ~n (df, tok) structs in memory, slice the
    # prefix, and posexplode it — one partial-aggregable shuffle, and the
    # per-doc sort touches n elements instead of a partition-wide sort.
    # p = 1-based position of tok in the doc's full df-ordered shingle
    # list (slice takes a prefix, so prefix position == global position),
    # feeding the PPJoin positional filter below.
    idx = (
        toks.join(df_counts, "tok")
        .groupBy("doc_id", "lang", "n")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("st"))
        .select(
            "doc_id",
            "lang",
            "n",
            F.posexplode(F.slice("st", 1, pref_len)).alias("p0", "e"),
        )
        .select(
            "doc_id",
            "lang",
            "n",
            F.col("e.tok").alias("tok"),
            (F.col("p0") + 1).alias("p"),
        )
        # cached + materialized: the self-join below references idx twice,
        # and exchange reuse does NOT dedupe the two alias branches — the
        # whole explode+df-join+collect_list subplan ran 2x (measured via
        # stage metrics: duplicated 1M-row shuffle writes). The count() is
        # the same materialization barrier as on sh.
        .cache()
    )
    idx.count()
    track_caches("dedup.ngram_jaccard", sh, idx)
    a, b = idx.alias("a"), idx.alias("b")
    # PPJoin positional filter (Xiao et al., WWW'08): J >= t requires
    # overlap >= ceil(t/(1+t) * (na+nb)). For the smallest common shingle
    # (which the prefix theorem puts inside BOTH prefixes) every earlier
    # shingle on either side is unshared, so overlap <= 1 + min(na-pa,
    # nb-pb). A qualifying pair therefore always has at least one matched
    # prefix row passing this bound; rows failing it are pruned before the
    # dropDuplicates, cutting verify candidates.
    min_overlap = F.ceil(
        F.lit(_PREFIX_THRESHOLD / (1.0 + _PREFIX_THRESHOLD))
        * (F.col("a.n") + F.col("b.n"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J >= t forces t*|A| <= |B| <= |A|/t
            & (
                F.col("b.n").cast("double")
                >= F.col("a.n") * F.lit(_PREFIX_THRESHOLD)
            )
            & (
                F.col("b.n").cast("double")
                <= F.col("a.n") / F.lit(_PREFIX_THRESHOLD)
            )
            # positional filter
            & (
                F.lit(1)
                + F.least(
                    F.col("a.n") - F.col("a.p"), F.col("b.n") - F.col("b.p")
                )
                >= min_overlap
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
        # cached + materialized (r16 opt round): the candidate set is 2
        # longs/row — cheap to hold — and caching it removes the reason
        # the verify joins were previously PINNED to sort-merge (AQE's
        # broadcast builds re-executed the uncached self-join + dedup
        # upstream, measured 2-5x swings). With the pairs cached, AQE
        # picks the strategy by size: at fixture scale it broadcasts the
        # narrow candidate side and the small sets side, so the heavy
        # (pair x shingle-array) intermediate never enters a sort; at
        # corpus scale both sides outgrow the threshold and AQE falls
        # back to the same sort-merge the hints forced.
        .cache()
    )
    cand.count()  # materialization barrier (see sh above)
    track_caches("dedup.ngram_jaccard", cand)
    # r17 (VERDICT r16 item 3): PPJoin+-grade candidate pruning. The
    # positional prefix bound admits ~465k candidates for 79 final
    # pairs at sf0.1 (a single early shared rare token leaves the bound
    # ~na), and the exact verify then ships two ~200-long shingle
    # arrays per pair — the dominant shuffle at the x10 decade. Instead
    # of PPJoin+'s per-candidate binary suffix probe (row-local array
    # access doesn't fit a relational join), each doc carries a
    # _JHIST_B-bucket histogram of its shingle hashes (top-5 hash bits
    # => uniform buckets): |A∩B| <= sum_b min(ha[b], hb[b]) bucket-wise,
    # so floor(ub*1e4/(na+nb-ub)) is a GUARANTEED upper bound on
    # jaccard_pm4 (f(i)=floor(i*1e4/(na+nb-i)) is nondecreasing in i).
    # Pairs whose bound is below the gate can never pass the exact
    # filter — pruning them is equivalence-by-construction. The prune
    # join moves _JHIST_B ints per doc instead of ~n longs; only
    # survivors (two orders of magnitude fewer) reach the array join,
    # which AQE then broadcasts at every scale instead of falling back
    # to a corpus-wide sort-merge of array payloads.
    hist = F.transform(
        F.sequence(F.lit(0), F.lit(_JHIST_B - 1)),
        lambda bkt: F.size(
            F.filter("h60", lambda x: F.shiftright(x, _JHIST_SHIFT) == bkt)
        ),
    )
    sig = sh.select(
        "doc_id", F.col("n").cast("long").alias("hn"), hist.alias("hg")
    )
    ub = F.aggregate(
        F.zip_with("ha", "hb", lambda x, y: F.least(x, y)),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    kept = (
        cand.join(
            sig.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hn").alias("hna"),
                F.col("hg").alias("ha"),
            ),
            "doc_a",
        )
        .join(
            sig.select(
                F.col("doc_id").alias("doc_b"),
                F.col("hn").alias("hnb"),
                F.col("hg").alias("hb"),
            ),
            "doc_b",
        )
        .filter(
            _idiv(ub * F.lit(10000), F.col("hna") + F.col("hnb") - ub)
            >= _JACCARD_PM4
        )
        .select("doc_a", "doc_b")
    )
    # verification reuses the cached long arrays directly
    return _exact_verify(kept, sh).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# MinHash + LSH banding — the 100 TB near-dup path.
#
# shingle --(one md5 pass)--> 31-bit int -> k permutations (a*x+b) mod p ->
# minhash signature -> band hashes -> candidates join on (band, hash) ->
# exact-Jaccard verification. All arithmetic stays in int64 in both engines.
# ---------------------------------------------------------------------------

_MH_NUM_PERM = 16
_MH_BANDS = 4
_MH_ROWS = _MH_NUM_PERM // _MH_BANDS
_MH_PRIME = 2147483647  # 2^31 - 1: keeps a*x + b < 2^62
_MH_PARAMS = minhash_permutation_params(_MH_NUM_PERM, seed=42)


def _minhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh15) from a (doc_id, h60) frame — md5 ran once per
    shingle upstream; everything here is integer ops over the array.

    Note the %prime mapping may merge a colliding pair of 60-bit hashes;
    that cannot change any signature because MinHash takes array_min, and
    min over a multiset ignores duplicates — so this matches an oracle
    that maps from distinct shingle STRINGS exactly."""
    hashed = docs.withColumn(
        "h", F.transform(F.col("h60"), lambda x: x % _MH_PRIME)
    )
    sig_cols = [
        F.array_min(
            F.transform(
                F.col("h"), lambda x: (F.lit(a) * x + F.lit(b)) % _MH_PRIME
            )
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(_MH_PARAMS)
    ]
    return hashed.select("doc_id", *sig_cols)


def _band_cols_spark():
    cols = []
    for band in range(_MH_BANDS):
        members = [F.col(f"mh{band * _MH_ROWS + r}") for r in range(_MH_ROWS)]
        sig = F.concat_ws("_", *[m.cast("string") for m in members])
        cols.append(hash60(sig, salt=f"band{band}").alias(f"b{band}"))
    return cols


def _minhash_cols_sql() -> list[str]:
    return [
        f"list_min(list_transform(h, x -> ({a} * x + {b}) % {_MH_PRIME})) AS mh{i}"
        for i, (a, b) in enumerate(_MH_PARAMS)
    ]


def _band_cols_sql() -> list[str]:
    cols = []
    for band in range(_MH_BANDS):
        members = " || '_' || ".join(
            f"mh{band * _MH_ROWS + r}::VARCHAR" for r in range(_MH_ROWS)
        )
        cols.append(f"{hash60_sql(members, salt=f'band{band}')} AS b{band}")
    return cols


# CTE chain + final pair select, shared between the dedup_minhash oracle
# and the recursive corpus_near_dedup oracle below.
_MINHASH_CTES = f"""sh AS (
  SELECT doc_id, list_distinct({_SH}) AS sh
  FROM documents
), hashed AS (
  SELECT doc_id, sh,
         list_transform(sh, s -> {hash60_sql('s')} % {_MH_PRIME}) AS h
  FROM sh
), sig AS (
  SELECT doc_id, {', '.join(_minhash_cols_sql())} FROM hashed
), banded AS (
  SELECT doc_id, {', '.join(_band_cols_sql())} FROM sig
), bands AS (
  SELECT doc_id, band_idx, CASE band_idx
      {' '.join(f'WHEN {i} THEN b{i}' for i in range(_MH_BANDS))} END AS bh
  FROM banded, (SELECT unnest(generate_series(0, {_MH_BANDS - 1})) AS band_idx)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
)"""

_MINHASH_PAIRS_SELECT = f"""SELECT doc_a, doc_b,
       (len(list_intersect(sa.sh, sb.sh)) * 10000)
           // len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard_pm4
FROM cand
JOIN sh sa ON sa.doc_id = doc_a
JOIN sh sb ON sb.doc_id = doc_b
WHERE (len(list_intersect(sa.sh, sb.sh)) * 10000)
          // len(list_distinct(list_concat(sa.sh, sb.sh))) >= {_JACCARD_PM4}"""

_MINHASH_ORACLE = f"""
WITH {_MINHASH_CTES}
{_MINHASH_PAIRS_SELECT}
ORDER BY doc_a, doc_b
"""


def _minhash_verified_pairs(
    spark: SparkSession,
    sf_dir: str,
    tag: str = "dedup.minhash_docs",
    new_only: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, jaccard_pm4) — banded MinHash candidates verified
    with exact integer-pm4 Jaccard; the shared core of dedup_minhash,
    the end-to-end corpus_near_dedup pipeline, and (with `new_only`) the
    incremental dedup_minhash_incremental variant.

    `new_only`: the PROBE side of the band join is restricted to the new
    batch (_new_batch_split). Only pairs whose LARGER id is NEW are
    generated — OLD-OLD pairs are never formed. Because ids are assigned
    monotonically, the larger id of any OLD/NEW or NEW/NEW pair is
    always the NEW one, so this is exactly "pairs touching the new
    batch", while the build side stays the full band index."""
    # hashed BEFORE the cache: md5 runs once per shingle total, and the
    # cached long-array frame is ~3x smaller than string shingles
    docs = _shingled_h60(
        fan_out(
            table(spark, sf_dir, "documents").select("doc_id", "text"),
            "doc_id",
        )
    )
    # the shingle frame feeds three plan branches (signatures + both
    # verification join-backs); persist so shingling runs once, not 3x.
    # MEMORY_AND_DISK (spill, don't recompute) is the cluster-safe level —
    # and is what DataFrame.cache() resolves to, stated explicitly here.
    # (No count() barrier here, unlike dedup_ngram_jaccard: this plan's
    # broadcast builds are cheap and overlap productively — adding the
    # barrier measured ~2x slower by serializing them.)
    release_caches(tag)  # one-generation discipline
    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    track_caches(tag, docs)
    bands = _band_rows(_minhash_sigs(docs))
    probe = bands
    if new_only:
        # threshold from the corpus table (a doc_id-only scan), not from
        # the band rows, whose max would first compute every signature
        probe = _new_batch_split(bands, table(spark, sf_dir, "documents"))[1]
    return _exact_verify(_band_candidates(bands, probe), docs)


def _band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, bh) — the LSH band index rows of a signature
    frame, one row per (doc, band). This IS the storable index: persisting
    this frame to parquet and probing it later is the cross-job reuse path
    (dedup_minhash_persisted)."""
    banded = sig.select("doc_id", *_band_cols_spark())
    band_structs = F.array(
        *[
            F.struct(F.lit(i).alias("band_idx"), F.col(f"b{i}").alias("bh"))
            for i in range(_MH_BANDS)
        ]
    )
    return banded.select("doc_id", F.explode(band_structs).alias("e")).select(
        "doc_id", "e.band_idx", "e.bh"
    )


def _band_candidates(build: DataFrame, probe: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from a band-bucket equality join of
    two (doc_id, band_idx, bh) frames, doc_a < doc_b, deduped across
    bands. Asymmetric by design: the probe side can be a small NEW batch
    against a big stored build index."""
    a, b = build.alias("a"), probe.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _exact_verify(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard_pm4): candidate pairs joined back to their
    shingle-hash sets (a _shingled_h60 frame: doc_id, h60), kept where the
    exact integer-pm4 Jaccard passes the gate."""

    def side(s: str) -> DataFrame:
        return sets.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("h60").alias(f"s{s}"),
            F.size("h60").alias(f"n{s}"),
        )

    pairs = cand.join(side("a"), "doc_a").join(side("b"), "doc_b")
    return pairs.select(
        "doc_a",
        "doc_b",
        _jaccard_sized_pm4(
            F.col("sa"), F.col("sb"), F.col("na"), F.col("nb")
        ).alias("jaccard_pm4"),
    ).filter(F.col("jaccard_pm4") >= _JACCARD_PM4)


@REGISTRY.register(
    "dedup_minhash",
    oracle=_MINHASH_ORACLE,
    description="MinHash-LSH banding candidates + exact-Jaccard verify",
    headline=True,
    tags=("dedup", "lsh"),
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_verified_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Incremental near-dedup — the shape corpus growth actually takes in
# production: a NEW batch (a day of crawl) arrives and must be checked
# against the EXISTING corpus and against itself, but the existing
# corpus must never be re-paired with itself (its internal dups were
# handled when it was the new batch). Splitting "new" as the top fifth
# of the id space (ids are assigned monotonically, so the newest docs
# are the highest ids; the threshold is a 1-row broadcast aggregate,
# never collected) makes the contract purely relational:
# pairs(J >= 0.8) whose LARGER id is NEW — exactly dedup_minhash's
# result minus the OLD-OLD pairs, which the oracle states as the same
# pair query with `doc_b >= T`.
#
# 100 TB posture: the band join becomes an asymmetric index probe —
# build side is the full band index (in production, a stored table
# maintained across batches; recomputed here only because fixtures are
# stateless), probe side is the NEW batch's bands. Per-increment work
# is |new| x bucket-collision rate, NOT |corpus|^2, and is the reason
# incremental dedup stays runnable daily at corpus scale.
# ---------------------------------------------------------------------------

_MINHASH_INCR_ORACLE = f"""
WITH {_MINHASH_CTES}
{_MINHASH_PAIRS_SELECT}
  AND doc_b >= (SELECT 4 * max(doc_id) // 5 FROM documents)
ORDER BY doc_a, doc_b
"""


@REGISTRY.register(
    "dedup_minhash_incremental",
    oracle=_MINHASH_INCR_ORACLE,
    description="incremental MinHash near-dedup: new batch probed against the full band index",
    tags=("dedup", "lsh", "incremental", "scale"),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_verified_pairs(
        spark, sf_dir, tag="dedup.minhash_incr", new_only=True
    ).orderBy("doc_a", "doc_b")


def _new_batch_split(
    df: DataFrame, ids: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(old, new): the rows of `df` with doc_id below / at-or-above
    T = 4 * max(doc_id) div 5 over `ids` — the newest fifth of a
    monotonically assigned id space. T is a 1-row aggregate broadcast
    into a cross join, never collected to the driver."""
    thr = ids.agg(
        F.expr("4 * max(doc_id) div 5").cast("long").alias("new_min")
    )
    tagged = df.crossJoin(F.broadcast(thr))
    return (
        tagged.filter(F.col("doc_id") < F.col("new_min")).drop("new_min"),
        tagged.filter(F.col("doc_id") >= F.col("new_min")).drop("new_min"),
    )


# ---------------------------------------------------------------------------
# Persisted-index incremental near-dedup (VERDICT r09 item 4) — the shape
# daily ingest ACTUALLY takes at 100 TB: yesterday's job left the band
# index (and the shingle-hash sets the exact verify needs) as parquet
# tables; today's job loads them, computes bands for the NEW batch only,
# and probes loaded-index + new-bands with the new batch. The OLD corpus
# is never re-shingled, never re-signed, and OLD-OLD pairs are
# structurally impossible: the probe side contains only NEW doc_ids, so
# every emitted pair has its larger id in the new batch.
#
# dedup_minhash_incremental (above) proves the asymmetric-probe SEMANTICS
# but rebuilds its index in-job; this operator proves the CYCLE —
# build -> parquet -> reload -> probe — the same way bloom_reuse_
# prune_orders does for the Bloom filter. The oracle is the full
# recompute (pairs whose larger id is NEW), so oracle equality IS the
# proof that the round-tripped index lost nothing: a dropped index row
# could only ever LOSE a candidate pair (one-sided), and any lost pair
# with J >= t would show as a missing oracle row.
#
# Fixture caveat (same as bloom_reuse): phase 1 is rebuilt here because
# fixtures are stateless; in production it is yesterday's phase-2 output.
# ---------------------------------------------------------------------------


@REGISTRY.register(
    "dedup_minhash_persisted",
    oracle=_MINHASH_INCR_ORACLE,
    description="persisted MinHash band index: build->parquet->reload->probe with the new batch",
    tags=("dedup", "lsh", "incremental", "persist", "scale"),
)
def dedup_minhash_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from mapreduce_sm_spark.session import shared_tmpdir

    docs = _shingled_h60(
        fan_out(
            table(spark, sf_dir, "documents").select("doc_id", "text"),
            "doc_id",
        )
    )
    release_caches("dedup.minhash_persist")
    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    track_caches("dedup.minhash_persist", docs)
    old, new = _new_batch_split(docs, docs)

    # phase 1 (the "yesterday" job): shingle, sign, and band the OLD
    # corpus; persist its band index and shingle-hash sets. Both writes
    # are mode("overwrite") into a per-(process, sf) store, so bench's
    # trials reuse one copy and scale factors never collide.
    store = shared_tmpdir("mh_index_", sf_dir)
    idx_path = os.path.join(store, "band_index")
    sets_path = os.path.join(store, "shingle_sets")
    _band_rows(_minhash_sigs(old)).write.mode("overwrite").parquet(idx_path)
    old.write.mode("overwrite").parquet(sets_path)

    # phase 2 (the "today" job): reload the index, band ONLY the new
    # batch, probe. Build side = loaded index UNION new bands (so
    # NEW-NEW pairs form too); probe side = new bands only (so OLD-OLD
    # pairs cannot).
    loaded_idx = spark.read.parquet(idx_path)
    new_bands = _band_rows(_minhash_sigs(new))
    cand = _band_candidates(loaded_idx.unionByName(new_bands), new_bands)
    # exact verify: OLD sets come from the store (the old corpus is not
    # re-shingled), NEW sets from the in-job frame
    sets = spark.read.parquet(sets_path).unionByName(new)
    return _exact_verify(cand, sets).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Band-index COMPACTION law (VERDICT r10 item 3 / r11 item 3) — the
# missing third of the persisted-index story. dedup_minhash_persisted
# proves the PROBE side of the daily cycle; this operator proves the
# WRITE side: appending today's delta index to the stored index and
# rewriting ("compacting") the result is EXACTLY the index a from-scratch
# rebuild over the union corpus would produce. That is the IVM theorem
# (cdc.py::incremental_agg_maintenance — state + delta merge == full
# recompute) applied to the LSH band index, and it holds because band
# rows are PER-DOCUMENT (signature -> band hashes is row-local): the
# index of a corpus union is the row union of the indexes, so merge is
# plain UNION ALL, no per-key reconciliation at all.
#
# The audit is a full multiset comparison, not a sample: both sides are
# grouped by the entire row (doc_id, band_idx, bh) and full-outer
# joined; n_mismatch counts every row whose multiplicity differs. The
# oracle recomputes the digest from a from-scratch rebuild in DuckDB, so
# hash equality proves merged-store == rebuild independently of Spark.
#
# 100 TB posture: the merge itself never touches the old corpus — the
# plan reads the STORED index as parquet and shingles only the delta
# batch (plan-asserted in tests/test_dedup_incremental.py). The audit
# join shuffles index rows (bands-per-doc x docs — ~100x smaller than
# the corpus text it summarizes) co-partitioned on the group key; in
# production it is a spot-check you run on samples, but the operator
# keeps it exact so the law is proven, not estimated. Digest sums are
# taken mod 1e9+7 so they stay far inside int64 at any corpus size.
# ---------------------------------------------------------------------------

_COMPACT_MOD = 1_000_000_007

def _compaction_merged_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, str]:
    """Phases 1+2 of the compaction cycle. Writes the OLD corpus' band
    index to the per-(process, sf) store, then returns (merged, path):
    the stored index reloaded from parquet UNION ALL the delta batch's
    freshly computed band rows, and the path the compacted result is
    rewritten to. Split out so the plan test can pin that `merged` scans
    the store and shingles ONLY the delta."""
    import os

    from mapreduce_sm_spark.session import shared_tmpdir

    raw = fan_out(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    old, new = _new_batch_split(raw, raw)
    store = shared_tmpdir("mh_compact_", sf_dir)
    idx_path = os.path.join(store, "band_index")
    compact_path = os.path.join(store, "band_index_compacted")

    # phase 1 ("yesterday"): index the OLD corpus only, persist
    _band_rows(_minhash_sigs(_shingled_h60(old))).write.mode(
        "overwrite"
    ).parquet(idx_path)

    # phase 2 (the merge): stored index (parquet scan, no re-shingle)
    # UNION ALL the delta batch's index (shingled after the id filter)
    merged = spark.read.parquet(idx_path).unionByName(
        _band_rows(_minhash_sigs(_shingled_h60(new)))
    )
    return merged, compact_path


def _index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch band index over the whole corpus — the reference side
    of both maintenance laws (batch compaction + streamed appends)."""
    return _band_rows(
        _minhash_sigs(
            _shingled_h60(
                fan_out(
                    table(spark, sf_dir, "documents").select(
                        "doc_id", "text"
                    ),
                    "doc_id",
                )
            )
        )
    )


def _index_digest_oracle(flag_name: str) -> str:
    """DuckDB twin of _index_digest_audit: the digest of a from-scratch
    rebuild, whose audit is clean by definition (n_mismatch 0, flag
    true)."""
    return f"""
WITH {_MINHASH_CTES}
SELECT CAST(count(*) AS BIGINT) AS n_index_rows,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(bh % {_COMPACT_MOD}) AS BIGINT) AS sum_bh_mod,
       CAST(sum((doc_id * 31 + band_idx) % {_COMPACT_MOD}) AS BIGINT)
           AS sum_key_band_mod,
       CAST(0 AS BIGINT) AS n_mismatch,
       true AS {flag_name}
FROM bands
"""


def _index_digest_audit(
    maintained: DataFrame, rebuild: DataFrame, flag_name: str
) -> DataFrame:
    """One row: the maintained index's digest (row count, distinct docs,
    mod-sums over band hashes and keys) plus n_mismatch from an exact
    full-outer multiset comparison against the rebuild — 0 iff
    maintained == rebuild row-for-row. The flag column carries the
    calling law's name so each query's contract is self-describing."""
    key = ["doc_id", "band_idx", "bh"]
    ca = maintained.groupBy(*key).agg(F.count("*").alias("ca"))
    cb = rebuild.groupBy(*key).agg(F.count("*").alias("cb"))
    zero = F.lit(0).cast("long")
    mism = (
        ca.join(cb, key, "full_outer")
        .select(
            F.when(
                F.coalesce("ca", zero) != F.coalesce("cb", zero), 1
            )
            .otherwise(0)
            .alias("bad")
        )
        .agg(F.coalesce(F.sum("bad"), zero).cast("long").alias("n_mismatch"))
    )
    dig = maintained.agg(
        F.count("*").cast("long").alias("n_index_rows"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum(F.col("bh") % _COMPACT_MOD).cast("long").alias("sum_bh_mod"),
        F.sum((F.col("doc_id") * 31 + F.col("band_idx")) % _COMPACT_MOD)
        .cast("long")
        .alias("sum_key_band_mod"),
    )
    return dig.crossJoin(F.broadcast(mism)).select(
        "n_index_rows",
        "n_docs",
        "sum_bh_mod",
        "sum_key_band_mod",
        "n_mismatch",
        (F.col("n_mismatch") == 0).alias(flag_name),
    )


@REGISTRY.register(
    "dedup_minhash_compaction",
    oracle=_index_digest_oracle("compact_equals_rebuild"),
    description="band-index compaction law: merge(stored index, delta index) rewritten to parquet == from-scratch rebuild",
    tags=("dedup", "lsh", "incremental", "persist", "scale"),
)
def dedup_minhash_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: the compacted store's digest plus n_mismatch from an
    exact multiset comparison against a from-scratch rebuild — 0 iff the
    law merge(stored, delta) == rebuild(union corpus) holds row-for-row."""
    merged, compact_path = _compaction_merged_index(spark, sf_dir)
    merged.write.mode("overwrite").parquet(compact_path)
    return _index_digest_audit(
        spark.read.parquet(compact_path),
        _index_rebuild(spark, sf_dir),
        "compact_equals_rebuild",
    )


# ---------------------------------------------------------------------------
# STREAMED band-index maintenance (r12) — the continuous leg of the
# persisted-index story. dedup_minhash_persisted proves the probe,
# dedup_minhash_compaction proves the batch merge; this proves the index
# can be MAINTAINED by a running stream: the corpus arrives as micro-
# batches (the feed is written as multiple part files and the stream is
# throttled to one file per trigger, so the file sink genuinely commits
# several appends), each batch's band rows — a stateless row-local
# projection, so no streaming state at all — are appended through the
# exactly-once parquet file sink (manifest-committed; a crashed batch
# never half-appears), and the committed store is then audited against
# the batch rebuild with the same exact multiset digest the compaction
# law uses. Because band rows are per-document, streamed-append ==
# batch-union is a theorem; the query proves the PLUMBING delivers it
# bit-for-bit (oracle recomputes the digest from its own rebuild).
#
# 100 TB posture: the maintenance cost per micro-batch is |batch| only
# (shingle -> sign -> band, row-local, no shuffle before the sink);
# the audit is the same index-sized spot check as the compaction law.
# ---------------------------------------------------------------------------

@REGISTRY.register(
    "stream_minhash_index_equality",
    oracle=_index_digest_oracle("stream_equals_batch"),
    description="streamed band-index maintenance: micro-batch appends through the exactly-once file sink == batch rebuild",
    tags=("streaming", "dedup", "lsh", "persist", "scale"),
)
def stream_minhash_index_equality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One row: digest of the stream-maintained band-index store plus the
    exact multiset audit vs the batch rebuild (same contract columns as
    dedup_minhash_compaction, flag stream_equals_batch)."""
    maintained, _ = _stream_maintained_index(spark, sf_dir)
    return _index_digest_audit(
        maintained, _index_rebuild(spark, sf_dir), "stream_equals_batch"
    )


def _stream_maintained_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, str]:
    """Runs the maintenance stream; returns (committed store frame, base
    dir) — the base is exposed so tests can assert the file sink really
    committed MULTIPLE appends (one per feed part file)."""
    from mapreduce_sm_spark.streaming.runner import replay_stream, run_file_sink

    # arrival simulation: the corpus lands as 4 part files; one file per
    # trigger => the sink commits (up to) 4 separate appends
    stream, base = replay_stream(
        table(spark, sf_dir, "documents").select("doc_id", "text"),
        "mh_stream_idx_",
        4,
        1,
    )
    bands = _band_rows(_minhash_sigs(_shingled_h60(stream)))
    return run_file_sink(bands, base, "stream_minhash_index_equality"), base


# ---------------------------------------------------------------------------
# SimHash — near-dup detection for token-level similarity, at two widths.
#
# >>> DEFAULT FOR CONSUMERS: the 60-bit rung (dedup_simhash60_pairs). <<<
# The 32-bit rung stays registered as the MEASURED counter-example: its
# 4-5-bit pigeonhole chunks birthday-collide once n per (lang, chunk)
# block passes ~2^5, so banded candidates grow quadratically — 12.9x wall
# for 10x docs in the r08 scale proof vs the 60-bit rung's 1.7x
# (SCALING.md). Same deference pattern as tf_cosine_pairs ->
# tf_cosine_pairs_prefix: the simple rung defines the semantics, the
# successor is the plan you'd run at scale.
#
# b-bit simhash: token -> hash60 % 2^b; bit j of the signature is the
# sign (>= 0) of sum over tokens of (2*bit_j(h) - 1). All-integer, so the
# oracle replays it exactly. At b = 60 the modulo is the identity
# (hash60 < 2^60), so both widths share one expression. Pair search
# blocks on lang; the 100 TB blocking is chunked-signature banding
# (split the signature into K+1 chunks; pigeonhole guarantees pairs
# within hamming distance K share a chunk), which turns the search into
# an equality join exactly like MinHash banding.
#
# Why the 60-bit rung scales: it is the Manku et al. (WWW'07) shape — a
# 60-bit fingerprint (every bit of the portable hash60), Hamming
# tolerance K=3, and K+1 = 4 chunks of 15 bits — 32768 buckets per
# (lang, chunk), so expected collisions per bucket stay ~n^2/2^16 per
# block: ~40 candidate checks per 1k docs, ~4M at 1M docs/lang —
# distributed-friendly far past where the 32-bit rung saturates
# (measured in the r08 scale proof, tools/scale_proof.py: 2.5 s -> 75 s
# for 10x docs on the 32-bit rung). Pigeonhole banding only works when
# chunk width beats log2(n per block).
# ---------------------------------------------------------------------------


class _Rung(NamedTuple):
    """One SimHash width: signature bits, the K+1 pigeonhole chunks
    (shift, width) low-to-high, and the Hamming bound K."""

    bits: int
    chunks: tuple[tuple[int, int], ...]
    hamming_max: int


_SIMHASH32 = _Rung(
    32, ((0, 5), (5, 5), (10, 5), (15, 5), (20, 4), (24, 4), (28, 4)), 6
)
_SIMHASH60 = _Rung(60, ((0, 15), (15, 15), (30, 15), (45, 15)), 3)


def _simhash_spark(docs: DataFrame, bits: int) -> DataFrame:
    """(doc_id, lang, simhash) from a (doc_id, lang, text) frame. A doc
    with no [a-z] token emits no row (explode drops it)."""
    toks = fan_out(docs, "doc_id").select(
        "doc_id",
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
        ).alias("tok"),
    )
    h = (hash60(F.col("tok")) % (1 << bits)).alias("h")
    bit_sums = [
        F.sum(
            F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    sums = toks.select("doc_id", "lang", h).groupBy("doc_id", "lang").agg(*bit_sums)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sums.select("doc_id", "lang", sig.cast("long").alias("simhash"))


def _simhash_sql_cte(bits: int) -> str:
    """DuckDB rendering of _simhash_spark: CTEs toks{bits}, sums{bits} and
    sig{bits}(doc_id, lang, simhash)."""
    h = f"({hash60_sql('t')} % {1 << bits})"
    bit_sums = ", ".join(
        f"list_reduce(list_prepend(0::BIGINT, list_transform(h, x -> "
        f"((x // {1 << j}) % 2) * 2 - 1)), (a, b) -> a + b) AS s{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
toks{bits} AS (
  SELECT doc_id, lang,
         list_transform(regexp_extract_all(lower(text), '[a-z]+'), t -> {h}) AS h
  FROM documents
), sums{bits} AS (
  -- len(h) > 0 mirrors the Spark side, where explode() emits no rows for a
  -- letter-free or NULL text, so the doc never reaches the signature table.
  -- Without it an empty token list reduces every s_j to 0 and the CASE sets
  -- all bits, silently pairing any two empty docs in the same lang.
  SELECT doc_id, lang, {bit_sums} FROM toks{bits} WHERE len(h) > 0
), sig{bits} AS (
  SELECT doc_id, lang, ({sig})::BIGINT AS simhash FROM sums{bits}
)"""


_SIMHASH_ORACLE = f"""
WITH {_simhash_sql_cte(_SIMHASH32.bits)}
SELECT doc_id, simhash FROM sig32 ORDER BY doc_id
"""


@REGISTRY.register(
    "dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    description="32-bit SimHash signature per document (all-integer, portable)",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return (
        _simhash_spark(docs, _SIMHASH32.bits)
        .select("doc_id", "simhash")
        .orderBy("doc_id")
    )


# Pigeonhole banding: split the signature into K+1 chunks (K = the Hamming
# bound). Any pair within hamming distance K differs in at most K chunks,
# so at least one chunk is bit-identical — an equality join on (lang,
# chunk_id, chunk_value) yields a candidate set that provably contains
# every qualifying pair (recall = 1.0, unlike MinHash bands). The oracle
# keeps the straightforward all-pairs formulation: banding is a
# physical-plan optimization with identical results.
def _banded_hamming_pairs(
    sig: DataFrame,
    chunk_spec: tuple[tuple[int, int], ...],
    hamming_max: int,
) -> DataFrame:
    """Candidate-verified near-dup pairs (doc_a, doc_b, hamming) with
    hamming <= hamming_max from a (doc_id, lang, simhash) frame, via
    pigeonhole chunk banding.

    Scale shape: explode each signature into len(chunk_spec)
    (chunk_id, chunk_val) keys (a constant fan-out of a 3-column frame,
    NOT of the corpus text), equality-join on (lang, chunk_id,
    chunk_val), dedup candidates, verify hamming exactly. Work is
    proportional to true collisions per chunk bucket instead of
    |lang block|^2 — PROVIDED the chunks are wide enough that buckets
    don't saturate (see the 60-bit rung's arithmetic above).
    """
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_id"),
                F.shiftright(F.col("simhash"), sh)
                .bitwiseAND(F.lit((1 << w) - 1))
                .cast("int")
                .alias("chunk_val"),
            )
            for i, (sh, w) in enumerate(chunk_spec)
        ]
    )
    keyed = sig.select(
        "doc_id", "lang", "simhash", F.explode(chunks).alias("c")
    ).select("doc_id", "lang", "simhash", "c.chunk_id", "c.chunk_val")
    a = keyed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("simhash").alias("ha"),
        F.col("chunk_id").alias("cid_a"),
        F.col("chunk_val").alias("cv_a"),
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("simhash").alias("hb"),
        F.col("chunk_id").alias("cid_b"),
        F.col("chunk_val").alias("cv_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("cid_a") == F.col("cid_b"))
            & (F.col("cv_a") == F.col("cv_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        # a pair colliding in k chunks appears k times; keep one
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long")
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= hamming_max)
    )


def _simhash_pairs_sql(rung: _Rung) -> str:
    """CTE chain ending in pairs(doc_a, doc_b, hamming): the all-pairs
    oracle of _simhash_pairs at one width."""
    sig = f"sig{rung.bits}"
    return f"""{_simhash_sql_cte(rung.bits)},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
  FROM {sig} a JOIN {sig} b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {rung.hamming_max}
)"""


def _simhash_pairs(
    spark: SparkSession, sf_dir: str, rung: _Rung, tag: str
) -> DataFrame:
    """(doc_a, doc_b, hamming) near-dup pairs of the corpus at one SimHash
    width. The signature frame is cached and materialized under `tag`:
    both sides of the banded self-join (and the verify) read it."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    release_caches(tag)  # one-generation discipline
    sig = _simhash_spark(docs, rung.bits).cache()
    sig.count()  # materialization barrier (see dedup_ngram_jaccard)
    track_caches(tag, sig)
    return _banded_hamming_pairs(sig, rung.chunks, rung.hamming_max)


@REGISTRY.register(
    "dedup_simhash_pairs",
    oracle=f"WITH {_simhash_pairs_sql(_SIMHASH32)}\n"
    "SELECT * FROM pairs ORDER BY doc_a, doc_b",
    description="SimHash near-dup pairs (hamming <= 6) within lang blocks — semantics rung; see dedup_simhash60_pairs for the scale/default rung",
    # retired from the headline bench in r09 (VERDICT r08 item 7): the r08
    # scale proof measured this configuration anti-scaling (12.9x wall at
    # 10x docs); dedup_simhash60_pairs carries the family's headline slot.
    tags=("dedup", "simhash"),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_pairs(spark, sf_dir, _SIMHASH32, "dedup.simhash").orderBy(
        "doc_a", "doc_b"
    )


@REGISTRY.register(
    "dedup_simhash60_pairs",
    oracle=f"WITH {_simhash_pairs_sql(_SIMHASH60)}\n"
    "SELECT * FROM pairs ORDER BY doc_a, doc_b",
    description="60-bit SimHash near-dup pairs (hamming <= 3), 15-bit pigeonhole bands — the scale rung",
    headline=True,  # carries the simhash family's headline slot since r09
    tags=("dedup", "simhash", "scale"),
)
def dedup_simhash60_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_pairs(
        spark, sf_dir, _SIMHASH60, "dedup.simhash60"
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Dedup resolution: connected components over the near-dup pair graph.
# After pair mining, a training pipeline must pick ONE canonical doc per
# duplicate CLUSTER (pairs alone over-delete: a~b, b~c must collapse to a
# single keeper even if a!~c). Components via iterative min-label
# propagation over a checkpointed ARC frame: both orientations of every
# pair plus a self-loop (v, v) on every vertex that is in a pair. The
# self-loops make a vertex's own label one of its incoming arcs, so a hop
# reads the label frame exactly once: one join (arcs x labels on src) +
# one aggregate (min per dst), which also emits `old` — the label the
# self-loop carried — so convergence is `component < old` with no join
# back onto the previous labels. Round plans therefore grow linearly in
# hops: four hops plan 9 exchanges, where reading the labels twice per
# hop would nest 2^4 copies of them. Each round costs one checkpoint and
# one changed-count, and the driver holds only that count. This is the
# per-round MapReduce CC shape (Kiveris et al., "Connected Components in
# MapReduce and Beyond", SoCC'14); the DuckDB oracle replays the closure
# with a recursive CTE.
# ---------------------------------------------------------------------------


def _cc_sql(vertices: str) -> str:
    """The recursive-CTE oracle of _cc_labels: CTEs edges, cc and
    labels(doc_id, component) over a preceding CTE pairs(doc_a, doc_b).
    Every doc_id of the relation `vertices` gets a label — its own id
    when it has no pair. Goes inside a WITH RECURSIVE."""
    return f"""edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
cc AS (
  SELECT doc_id AS v, doc_id AS r FROM {vertices}
  UNION
  SELECT e.b, cc.r FROM cc JOIN edges e ON cc.v = e.a
),
labels AS (
  SELECT v AS doc_id, min(r) AS component FROM cc GROUP BY v
)"""


def _cc_arcs(pairs: DataFrame) -> DataFrame:
    """The checkpointed arc frame (src, dst) of _cc_labels, built in one
    pass over `pairs`: (a, b), (b, a), (a, a) and (b, b) per pair,
    deduplicated — 2*|pairs| + |vertices in a pair| rows at most. The
    self-loops make every vertex's own label one of its incoming arcs.

    The non-null filter shapes the plan; it drops no vertex (a NULL id
    never matches a join key). The checkpoint carries its constraint, so
    no hop infers a Filter of its own above the arc scan: every hop of a
    round scans the arcs identically, and AQE shuffles them once per
    round and reuses that exchange in the other hops. No repartition on
    src: a frame checkpointed from an adaptive plan reports
    UnknownPartitioning, so no hop could use it."""

    def arc(src: str, dst: str):
        return F.struct(F.col(src).alias("src"), F.col(dst).alias("dst"))

    return checkpoint_df(
        pairs.select(
            F.inline(
                F.array(
                    arc("doc_a", "doc_b"),
                    arc("doc_b", "doc_a"),
                    arc("doc_a", "doc_a"),
                    arc("doc_b", "doc_b"),
                )
            )
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )  # mine pairs once; every hop re-reads the checkpointed blocks


def _min_label_hop(arcs: DataFrame, labels: DataFrame | None) -> DataFrame:
    """One min-label hop: (doc_id, component, old) for every dst of the
    self-looped arc frame `arcs(src, dst)`. `component` is the minimum
    label over the vertex's incoming arcs; `old` is the label its self-
    loop carried, i.e. its label before the hop. `labels(doc_id,
    component)` is read once, in the join on src. With labels None every
    vertex starts as its own label, so the hop is min(src) per dst and
    joins nothing."""
    if labels is None:
        carried = arcs.withColumn("c", F.col("src"))
    else:
        carried = arcs.join(
            labels.select(
                F.col("doc_id").alias("src"), F.col("component").alias("c")
            ),
            "src",
        )
    return carried.groupBy(F.col("dst").alias("doc_id")).agg(
        F.min("c").alias("component"),
        F.min(F.when(F.col("src") == F.col("dst"), F.col("c"))).alias("old"),
    )


def _cc_labels(pairs: DataFrame, vertices: DataFrame) -> DataFrame:
    """`vertices` (any frame with a doc_id column) plus `component`: the
    minimum doc_id of the vertex's connected component in the (doc_a,
    doc_b) pair graph, via iterative min-label propagation; a vertex in
    no pair is its own component (coalesce(component, doc_id)).

    Labels live only on vertices that are in a pair, over the self-looped
    arc frame of _cc_arcs. Every hop is one join and one aggregate
    (_min_label_hop); the first needs no label frame.

    Not lazy: the call itself runs Spark jobs — one checkpoint of the arc
    frame, then one checkpoint of the labels and one changed-count per
    round of four hops, until a round's last hop changes no label (its
    `old` column equals `component` on every vertex)."""
    arcs = _cc_arcs(pairs)

    # Each round runs FOUR hops before materializing: the dominant cost
    # of a round locally is its fixed barrier overhead — the checkpoint
    # and the changed-count, about ten small jobs with their AQE stage
    # jobs — not the per-hop shuffle of the small label frame. Near-dup
    # clusters have small diameter, so one round usually converges: when
    # its fourth hop changes no label, that hop is itself the proof. No
    # round cap: labels only ever decrease, so a hop that changes nothing
    # is reached within ceil((diameter + 1) / 4) rounds, and stopping
    # earlier would return wrong (unconverged) components.
    labels = None
    while True:
        for _hop in range(3):
            labels = _min_label_hop(arcs, labels).drop("old")
        # the checkpoint truncates the lineage, so each round plans only
        # its own four hops. checkpoint_df is executor-local by default;
        # SPARKSM_CHECKPOINT_DIR switches it to reliable checkpoint()
        # storage for cluster runs
        labels = checkpoint_df(_min_label_hop(arcs, labels))
        changed = labels.filter(F.col("component") < F.col("old")).count()
        labels = labels.drop("old")
        if changed == 0:
            break
    return vertices.join(labels, "doc_id", "left").select(
        *vertices.columns,
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )


def _simhash_components(
    spark: SparkSession, sf_dir: str, rung: _Rung, tag: str
) -> DataFrame:
    """(doc_id, component, is_keeper) for every document: connected
    components of one SimHash rung's pair graph, the lowest doc_id of
    each component kept."""
    pairs = _simhash_pairs(spark, sf_dir, rung, tag).select("doc_a", "doc_b")
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return (
        _cc_labels(pairs, docs)
        .withColumn(
            "is_keeper",
            F.when(F.col("doc_id") == F.col("component"), 1)
            .otherwise(0)
            .cast("long"),
        )
        .orderBy("doc_id")
    )


def _simhash_cc_oracle(rung: _Rung) -> str:
    return f"""
WITH RECURSIVE {_simhash_pairs_sql(rung)},
{_cc_sql("documents")}
SELECT doc_id, component,
       (CASE WHEN doc_id = component THEN 1 ELSE 0 END) AS is_keeper
FROM labels
ORDER BY doc_id
"""


@REGISTRY.register(
    "dedup_connected_components",
    oracle=_simhash_cc_oracle(_SIMHASH32),
    description="duplicate-cluster resolution: connected components by min-label propagation (32-bit semantics rung; see dedup_connected_components60 for the scale/headline rung)",
    # r13: headline slot ceded to dedup_connected_components60. The x100
    # sitting for THIS rung died on shuffle-spill disk exhaustion (>78 GB)
    # in the banded candidate join — the same 4-5-bit chunk birthday
    # saturation its pairs rung measured at 12.9x for 10x docs
    # (SCALING.md r08/r13). Registered as the counter-example, exactly
    # like dedup_simhash_pairs.
    tags=("dedup", "graph", "iterative"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_components(spark, sf_dir, _SIMHASH32, "dedup.cc")


@REGISTRY.register(
    "dedup_connected_components60",
    oracle=_simhash_cc_oracle(_SIMHASH60),
    description="duplicate-cluster resolution on the 60-bit SimHash scale rung: connected components by min-label propagation",
    headline=True,  # carries the CC headline slot since r13 (rung swap)
    tags=("dedup", "graph", "iterative", "scale"),
)
def dedup_connected_components60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC resolution over the DEFAULT simhash rung (60-bit signatures,
    15-bit pigeonhole bands, hamming <= 3) — the composition you would
    actually run at corpus scale. Same body as the 32-bit rung; only the
    candidate generator's geometry differs, and that difference is the
    whole scale story: the 32-bit rung's 4-5-bit chunks birthday-saturate
    (its x100 sitting died spilling >78 GB in the candidate join,
    SCALING.md r13) while the 15-bit bands stay selective two decades out
    (dedup_simhash60_pairs measured 3.0x at x100)."""
    return _simhash_components(spark, sf_dir, _SIMHASH60, "dedup.cc60")


# ---------------------------------------------------------------------------
# Exact substring dedup (Lee et al., "Deduplicating Training Data Makes
# Language Models Better", ACL'22): find runs of _SUBSTR_W word tokens that
# recur across documents — the memorization-prone spans a training pipeline
# wants to drop even when whole-document dedup misses them.
#
# Spark shape: slide a window over each doc's token array (array exprs, no
# Python), hash the window text once (hash60 — the shuffle carries one
# int64 per window, never the window text), then one partial-aggregable
# groupBy. Work is linear in total tokens; there is no pair join at all.
# ---------------------------------------------------------------------------

_SUBSTR_W = 8  # window length in word tokens


_SUBSTR_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(upper(text), '[A-Z][A-Z'']*') AS w
  FROM documents
),
wins AS (
  SELECT doc_id,
         array_to_string(w[i:i+{_SUBSTR_W - 1}], ' ') AS win
  FROM t, LATERAL unnest(generate_series(1, len(w) - {_SUBSTR_W} + 1)) AS g(i)
  WHERE len(w) >= {_SUBSTR_W}
)
SELECT {hash60_sql('win')} AS win_hash,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences,
       min(doc_id) AS first_doc
FROM wins
GROUP BY win_hash
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, win_hash ASC
"""


@REGISTRY.register(
    "dedup_exact_substring",
    oracle=_SUBSTR_ORACLE,
    description=f"exact substring dedup: {_SUBSTR_W}-token windows recurring across docs",
    headline=True,
    tags=("dedup", "text"),
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.functions.text import tokenize_words

    docs = fan_out(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    ).select("doc_id", tokenize_words("text").alias("w"))
    n = F.size("w")
    starts = F.when(
        n >= _SUBSTR_W, F.sequence(F.lit(1), n - F.lit(_SUBSTR_W - 1))
    ).otherwise(F.array().cast("array<int>"))
    wins = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.concat_ws(" ", F.slice("w", i, F.lit(_SUBSTR_W))),
            )
        ).alias("win"),
    )
    return (
        wins.select("doc_id", hash60(F.col("win")).alias("win_hash"))
        .groupBy("win_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("win_hash").asc())
    )


# ---------------------------------------------------------------------------
# End-to-end near-dedup pipeline: MinHash-LSH pair mining -> exact-Jaccard
# verification -> connected-component cluster resolution -> per-source
# keep/drop yield. This is the full production shape (candidate blocking,
# exact verify, transitive closure, reporting) in ONE query; the DuckDB
# oracle replays it with the shared MinHash CTE chain plus a recursive CTE.
# ---------------------------------------------------------------------------

_NEAR_DEDUP_ORACLE = f"""
WITH RECURSIVE {_MINHASH_CTES},
pairs AS (
{_MINHASH_PAIRS_SELECT}
),
{_cc_sql("documents")}
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN l.component = d.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_keep,
       CAST(sum(CASE WHEN l.component <> d.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_drop
FROM documents d JOIN labels l ON d.doc_id = l.doc_id
GROUP BY d.source
ORDER BY d.source
"""


@REGISTRY.register(
    "corpus_near_dedup",
    oracle=_NEAR_DEDUP_ORACLE,
    description=(
        "end-to-end near-dedup: MinHash-LSH mine -> exact verify -> "
        "connected components -> per-source keep/drop yield"
    ),
    headline=True,
    tags=("dedup", "lsh", "graph", "iterative", "pipeline"),
)
def corpus_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _minhash_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    resolved = _cc_labels(
        pairs, table(spark, sf_dir, "documents").select("doc_id", "source")
    )
    keep = F.when(F.col("component") == F.col("doc_id"), 1).otherwise(0)
    return (
        resolved.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(keep).cast("long").alias("n_keep"),
            F.sum(F.lit(1) - keep).cast("long").alias("n_drop"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Edit-distance (Levenshtein) near-dup pairs with LENGTH-BAND blocking —
# the character-level rung of the dedup ladder (the n-gram Jaccard and
# MinHash rungs are token/set-level; edit distance catches single-char
# typo families those miss at low k).
#
# Cross-engine exactness: Spark's levenshtein counts CODEPOINT edits
# while DuckDB's counts BYTE edits (measured: lev('héllo','hello') is 1
# in Spark, 2 in DuckDB), so the compared prefixes are ASCII-PROJECTED
# first — every character outside the printable-ASCII range [ -~]
# becomes '?' in BOTH engines, where byte and codepoint distances
# coincide. The emitted semantics is "edit distance of the
# ASCII-projected 80-char prefix": deterministic, engine-portable, and
# still a faithful typo detector (a multi-byte char family differing
# only in accents projects to equal strings, distance 0 — conservative
# for dedup).
#
# Blocking invariant: levenshtein(a, b) >= |len(a) - len(b)|, so any
# pair within distance K has prefix lengths within K of each other. With
# band = len div (K+1) (band width K+1 > K), such a pair sits in the
# SAME or ADJACENT bands — so joining each doc's band against the other
# side's {band-1, band, band+1} is LOSSLESS, and the oracle can state
# the plain quadratic semantics while the engine runs the banded
# equi-join. Candidates are compared on an 80-char prefix: identical
# substr semantics in both engines, and it bounds the O(n*m) DP cost per
# candidate at scale (Spark's threshold form levenshtein(a, b, K) also
# abandons any DP row that exceeds K early).
#
# 100 TB posture: the join is an equi-join on (lang, band) — never a
# per-lang cartesian; fan-out is 3 bands per doc; per-candidate cost is
# a K-bounded 80x80 DP. All emitted values are exact integers.
# ---------------------------------------------------------------------------

_LEV_K = 5
_LEV_PREFIX = 80

_EDIT_DIST_ORACLE = f"""
WITH p AS (
  SELECT doc_id, lang,
         regexp_replace(substr(text, 1, {_LEV_PREFIX}),
                        '[^ -~]', '?', 'g') AS pfx
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
FROM p a JOIN p b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE levenshtein(a.pfx, b.pfx) <= {_LEV_K}
ORDER BY doc_a, doc_b
"""


@REGISTRY.register(
    "dedup_edit_distance",
    oracle=_EDIT_DIST_ORACLE,
    description=f"prefix Levenshtein <= {_LEV_K} near-dup pairs via lossless length-band blocking",
    tags=("dedup", "fuzzy"),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    release_caches("dedup.edit_distance")  # one-generation discipline
    p = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.regexp_replace(
            F.substring("text", 1, _LEV_PREFIX), "[^ -~]", "?"
        ).alias("pfx"),
    )
    # cached: p feeds BOTH self-join sides (the b side additionally pays
    # the 3x band explode) — the self-join-alias recompute class PLANS.md
    # documents; one scan instead of two
    p = p.cache()
    p.count()
    track_caches("dedup.edit_distance", p)
    band = F.expr(f"length(pfx) div {_LEV_K + 1}")
    a = p.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("pfx").alias("pfx_a"),
        band.alias("band_a"),
    )
    b = p.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("pfx").alias("pfx_b"),
        F.explode(
            F.array(band - 1, band, band + 1)
        ).alias("band_b"),
    )
    # each qualifying pair matches exactly once: band_a is a single value
    # and the three exploded band_b values are distinct
    lev = F.levenshtein("pfx_a", "pfx_b", _LEV_K)
    return (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("band_a") == F.col("band_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        # threshold form returns -1 when the distance exceeds K
        .select("doc_a", "doc_b", lev.alias("dist"))
        .filter(F.col("dist") >= 0)
        .select("doc_a", "doc_b", F.col("dist").cast("long").alias("dist"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Fuzzy decontamination split (r14) — the eval-leakage guard every
# pretraining pipeline runs before training: pick the held-out eval set
# (deterministically: doc_id % 10 == 0), then EXCLUDE from the training
# split every document that is a near-duplicate CANDIDATE of any eval
# document — sharing at least one MinHash LSH band bucket, the same
# banding the dedup family uses (exact-dup decontamination misses
# paraphrased leaks; benchmark_contamination covers the n-gram overlap
# angle; this is the similarity angle). Conservative by design: band
# candidacy (not verified Jaccard) decides exclusion, because a false
# exclusion costs one training doc while a false keep leaks eval data.
#
# Plan shape: signatures and band rows are ROW-LOCAL (the stored-index
# affordance of _band_rows); the only corpus-scale exchanges are the
# band-bucket semi join (train bands probed against the distinct eval
# band keys — the asymmetric index-probe shape of the incremental
# dedup) and the final source rollup. At 100 TB the eval side is ~10%
# of the corpus reduced to DISTINCT band keys, and the semi join never
# materializes pairs.
# ---------------------------------------------------------------------------

_DECON_CTES = _MINHASH_CTES[: _MINHASH_CTES.rindex(", cand AS (")]

_DECON_ORACLE = f"""
WITH {_DECON_CTES},
test AS (
  SELECT DISTINCT band_idx, bh FROM bands WHERE doc_id % 10 = 0
),
leaky AS (
  SELECT DISTINCT b.doc_id
  FROM bands b JOIN test USING (band_idx, bh)
  WHERE b.doc_id % 10 <> 0
),
flagged AS (
  SELECT d.source, d.doc_id, d.n_chars,
         (d.doc_id % 10 = 0) AS ev,
         (l.doc_id IS NOT NULL) AS lk
  FROM documents d LEFT JOIN leaky l USING (doc_id)
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN ev THEN 1 ELSE 0 END)::BIGINT AS n_eval,
       sum(CASE WHEN NOT ev THEN 1 ELSE 0 END)::BIGINT AS n_train,
       sum(CASE WHEN NOT ev AND lk THEN 1 ELSE 0 END)::BIGINT
           AS n_train_excluded,
       sum(CASE WHEN NOT ev AND NOT lk THEN 1 ELSE 0 END)::BIGINT
           AS n_train_kept,
       sum(CASE WHEN NOT ev AND NOT lk THEN n_chars ELSE 0 END)::BIGINT
           AS chars_train_kept
FROM flagged
GROUP BY source
ORDER BY source
"""


@REGISTRY.register(
    "fuzzy_decontamination_split",
    oracle=_DECON_ORACLE,
    description="eval-leakage guard: train/eval split where any train "
    "doc sharing a MinHash LSH band bucket with an eval doc is "
    "excluded, per-source yield report",
    tags=("dedup", "lsh", "sampling", "quality", "scale"),
)
def fuzzy_decontamination_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _shingled_h60(
        fan_out(
            table(spark, sf_dir, "documents").select("doc_id", "text"),
            "doc_id",
        )
    )
    bands = _band_rows(_minhash_sigs(docs))
    eval_keys = (
        bands.filter(F.col("doc_id") % 10 == 0)
        .select("band_idx", "bh")
        .distinct()
    )
    leaky = (
        bands.filter(F.col("doc_id") % 10 != 0)
        .join(eval_keys, ["band_idx", "bh"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("lk", F.lit(True))
    )
    attrs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    flagged = attrs.join(leaky, "doc_id", "left").select(
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.col("doc_id") % 10 == 0).alias("ev"),
        F.coalesce("lk", F.lit(False)).alias("lk"),
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            one(F.col("ev")).alias("n_eval"),
            one(~F.col("ev")).alias("n_train"),
            one(~F.col("ev") & F.col("lk")).alias("n_train_excluded"),
            one(~F.col("ev") & ~F.col("lk")).alias("n_train_kept"),
            F.sum(
                F.when(~F.col("ev") & ~F.col("lk"), F.col("n_chars")).otherwise(0)
            )
            .cast("long")
            .alias("chars_train_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cross-source duplication matrix (r14) — crawl-overlap diagnostics:
# which SOURCES near-duplicate each other. Two crawls of the same site,
# a mirror, or a dataset vendored into another show up as hot
# (source_a, source_b) cells long before per-document inspection would
# find them; the per-source mixture weights (sampling.py) are only
# meaningful if sources are actually distinct populations. Rolls the
# verified near-dup pairs (banded MinHash candidates, exact-Jaccard
# gate — the dedup_minhash relation) up to canonically-ordered source
# pairs with exact pair counts and the max observed Jaccard.
#
# 100 TB posture: everything corpus-scale is inherited from
# _minhash_verified_pairs (measured at the x100 decade, SCALING.md
# r10); this adds two doc-keyed broadcast-able attribute joins and a
# source-pair-sized rollup.
# ---------------------------------------------------------------------------

_SOURCE_OVERLAP_ORACLE = f"""
WITH {_MINHASH_CTES},
pairs AS (
{_MINHASH_PAIRS_SELECT}
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*)::BIGINT AS n_pairs,
       max(jaccard_pm4)::BIGINT AS max_jaccard_pm4
FROM pairs
JOIN documents da ON pairs.doc_a = da.doc_id
JOIN documents db ON pairs.doc_b = db.doc_id
GROUP BY 1, 2
ORDER BY source_a, source_b
"""


@REGISTRY.register(
    "source_overlap_matrix",
    oracle=_SOURCE_OVERLAP_ORACLE,
    description="cross-source duplication matrix: verified near-dup "
    "pairs rolled up to canonical source pairs (crawl-overlap "
    "diagnostics), exact counts + max Jaccard pm4",
    tags=("dedup", "lsh", "quality", "scale"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _minhash_verified_pairs(
        spark, sf_dir, tag="dedup.source_overlap_docs"
    )
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard_pm4",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.max("jaccard_pm4").cast("long").alias("max_jaccard_pm4"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# EXACT n-gram eval decontamination (r15) — the verbatim-overlap guard
# of the published decontamination recipes (GPT-3 appendix C / PaLM /
# Llama: drop a training document if any of its N-grams appears
# verbatim in an evaluation document). The lexical complement of
# fuzzy_decontamination_split: LSH banding catches whole-document
# near-duplicates, but a short eval passage QUOTED inside a long,
# otherwise-novel train document moves the doc-level Jaccard almost
# nothing — only the exact n-gram probe sees it. Same train/eval split
# convention (doc_id % 10 = 0 is eval) and the same per-source yield
# report shape, so the two guards read side by side.
#
# N = 8 word tokens here (the published 13 assumes web-scale docs; the
# fixture corpus discriminates at 8 — measured ~1.5% of train docs
# flagged — while 13 behaves identically on planted duplicates).
# Grams travel as hash60 values, not strings: 8 bytes per gram on the
# shuffle instead of ~50, with the oracle hashing identically so the
# 60-bit collision posture is shared and bit-exact (the house
# convention, functions/hashing.py).
#
# 100 TB posture: in production the eval suite is FIXED and tiny
# (benchmarks, not a corpus slice), so the distinct eval-gram set
# broadcasts and the train side never shuffles — a scan + broadcast
# semi probe. The fixture's 10% eval slice deliberately exercises the
# general path instead: one exchange of distinct eval gram keys + the
# gram-partitioned left_semi probe (never pair materialization — the
# same asymmetry the fuzzy guard uses), then a doc-keyed attribute
# join and a source-sized rollup.
# ---------------------------------------------------------------------------

_XNGRAM_N = 8

_XNGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         regexp_extract_all(upper(text), '[A-Z][A-Z'']*') AS t
  FROM documents
),
g AS (
  SELECT doc_id,
         {hash60_sql(f"array_to_string(t[u.r : u.r + {_XNGRAM_N - 1}], ' ')")}
             AS gh
  FROM toks, UNNEST(range(1, len(t) - {_XNGRAM_N} + 2)) AS u(r)
  WHERE len(t) >= {_XNGRAM_N}
),
ev AS (
  SELECT DISTINCT gh FROM g WHERE doc_id % 10 = 0
),
leaky AS (
  SELECT DISTINCT g.doc_id
  FROM g JOIN ev USING (gh)
  WHERE g.doc_id % 10 <> 0
),
flagged AS (
  SELECT d.source, d.doc_id, d.n_chars,
         (d.doc_id % 10 = 0) AS ev,
         (l.doc_id IS NOT NULL) AS lk
  FROM documents d LEFT JOIN leaky l USING (doc_id)
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN ev THEN 1 ELSE 0 END)::BIGINT AS n_eval,
       sum(CASE WHEN NOT ev THEN 1 ELSE 0 END)::BIGINT AS n_train,
       sum(CASE WHEN NOT ev AND lk THEN 1 ELSE 0 END)::BIGINT
           AS n_train_excluded,
       sum(CASE WHEN NOT ev AND NOT lk THEN 1 ELSE 0 END)::BIGINT
           AS n_train_kept,
       sum(CASE WHEN NOT ev AND NOT lk THEN n_chars ELSE 0 END)::BIGINT
           AS chars_train_kept
FROM flagged
GROUP BY source
ORDER BY source
"""


@REGISTRY.register(
    "exact_ngram_decontamination",
    oracle=_XNGRAM_ORACLE,
    description="verbatim-overlap eval decontamination: train docs "
    "sharing any exact 8-gram with an eval doc are excluded (GPT-3/"
    "PaLM recipe), per-source yield report — the lexical complement "
    "of the fuzzy LSH guard",
    tags=("dedup", "text", "sampling", "quality", "scale"),
)
def exact_ngram_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mapreduce_sm_spark.functions.text import tokenize_words

    n = _XNGRAM_N
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    # The eval/train split is applied to `docs` BEFORE the tokenize
    # project (ADVICE r15): the two gram consumers are a self-join
    # topology, so the subtree replays once per side no matter what —
    # each scan tokenizes only its DISJOINT modulo slice. r17
    # tokenize-once fix (VERDICT r16 item 1, guide §4/§2.3): the old
    # `.filter(F.size("t") >= n)` was pushed below the tokenize
    # projection as a scan conjunct `size(regexp_extract_all(...)) >= n`,
    # so every doc paid the regexp TWICE per side — once in the pushed
    # Filter, once again in the Project (no CSE across the
    # Filter/Project operator boundary; plan showed 4 regexp_extract_all
    # nodes). Folding the length guard into the gram expression instead
    # (short arrays yield an EMPTY gram array, which explode drops —
    # identical row set by construction) leaves nothing to push down, so
    # the tokenize runs exactly once per doc per side (2 nodes).
    # The residual duplicated work is the second scan's parquet text-
    # column decode; persisting the gram frame to avoid it would pin an
    # O(corpus-grams) cache — the wrong trade at 100 TB, where the eval
    # suite is a separate small benchmark table and the eval branch
    # never scans the corpus at all (the fixture's modulo carve-out is
    # the only reason it does).
    def grams_of(frame: DataFrame) -> DataFrame:
        toks = fan_out(frame, "doc_id").select(
            "doc_id", tokenize_words("text").alias("t")
        )
        # `t` is referenced three times below, so CollapseProject keeps
        # the tokenize materialized in its own Project (the
        # _adjacent_pairs_col lesson)
        grams = F.when(
            F.size("t") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("t") - n + 1),
                lambda i: hash60(F.array_join(F.slice("t", i, n), " ")),
            ),
        ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
        return toks.select("doc_id", F.explode(grams).alias("gh"))

    eval_keys = (
        grams_of(docs.filter(F.col("doc_id") % 10 == 0))
        .select("gh")
        .distinct()
    )
    leaky = (
        grams_of(docs.filter(F.col("doc_id") % 10 != 0))
        .join(eval_keys, "gh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("lk", F.lit(True))
    )
    attrs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    flagged = attrs.join(leaky, "doc_id", "left").select(
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.col("doc_id") % 10 == 0).alias("ev"),
        F.coalesce("lk", F.lit(False)).alias("lk"),
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            one(F.col("ev")).alias("n_eval"),
            one(~F.col("ev")).alias("n_train"),
            one(~F.col("ev") & F.col("lk")).alias("n_train_excluded"),
            one(~F.col("ev") & ~F.col("lk")).alias("n_train_kept"),
            F.sum(
                F.when(~F.col("ev") & ~F.col("lk"), F.col("n_chars")).otherwise(0)
            )
            .cast("long")
            .alias("chars_train_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# STREAMED decontamination (r15) — the decontamination leg of the
# maintenance story, and the operator whose streamed shape IS the
# production shape: the eval suite is FIXED (benchmarks, not a corpus
# slice), so its distinct gram-hash set ships as broadcast DATA in a
# one-row static frame (the stream_semantic_index_equality house
# pattern — never a plan literal) and arriving TRAIN documents are
# probed entirely row-locally: doc gram hashes as a column array,
# leaky iff arrays_overlap with the eval set. No stream-side shuffle,
# no state store, stateless stream-static cross join against one row;
# per-source PARTIAL counters flow through the exactly-once append
# sink (counting-only Arrow kernel) and compaction is groupBy(source)
# .sum. Law under audit: compact(stream partials) == the TRAIN columns
# of exact_ngram_decontamination's batch report, exact per-source
# full-outer comparison plus the one-row corpus digest.
#
# 100 TB posture: per-micro-batch work is tokenize + hash + one
# O(grams + |eval|) overlap probe per doc against an eval array that
# is CONSTANT in corpus size; the sink grows by n_sources x n_commits.
# The only corpus-scale exchange anywhere is on the batch AUDIT side.
# ---------------------------------------------------------------------------

_STREAM_DECON_ORACLE = f"""
WITH report AS ({_XNGRAM_ORACLE})
SELECT count(*) FILTER (WHERE n_train > 0)::BIGINT AS n_sources,
       coalesce(sum(n_train), 0)::BIGINT AS n_train,
       coalesce(sum(n_train_excluded), 0)::BIGINT AS n_train_excluded,
       coalesce(sum(n_train_kept), 0)::BIGINT AS n_train_kept,
       coalesce(sum(chars_train_kept), 0)::BIGINT AS chars_train_kept,
       CAST(0 AS BIGINT) AS n_mismatch,
       true AS stream_equals_batch
FROM report
"""

_DECON_PARTIAL_SCHEMA = (
    "source string, n_train long, n_train_excluded long, "
    "n_train_kept long, chars_train_kept long"
)

# Eval-suite broadcast-row capacity contract (VERDICT r15 item 2): the
# one-row collect_set holds 8-byte gram hashes, so 2^24 elements is
# 128 MiB of array payload — comfortably under Spark's 2 GB
# single-array ceiling and the executor broadcast budget, and roughly
# an order of magnitude above the distinct-8-gram count of the largest
# published benchmark suites. An eval set past this bound is
# corpus-sized, i.e. the wrong operator: the guard raises a NAMED
# error pointing at the gram-exchange fallback instead of letting the
# oversized row die as an opaque executor OOM (functions/guards.py,
# the bloom-geometry house pattern).
_EVAL_GRAM_BROADCAST_BOUND = 1 << 24


def _eval_gram_static(docs: DataFrame, gram_hashes) -> DataFrame:
    """The FIXED eval suite, reduced to one broadcastable row of
    distinct gram hashes (array may be empty; never a plan literal),
    capacity-guarded per the _EVAL_GRAM_BROADCAST_BOUND contract.

    gram_hashes takes an ALREADY-MATERIALIZED token-array column name —
    the tokenize runs once per doc in its own projection (inlining it
    would re-run the regexp inside every slice call of the gram lambda;
    the language_model _adjacent_pairs_col lesson)."""
    from mapreduce_sm_spark.functions.guards import bounded_broadcast_array
    from mapreduce_sm_spark.functions.text import tokenize_words

    return (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(tokenize_words("text").alias("t"))
        .select(F.explode(gram_hashes("t")).alias("gh"))
        .agg(F.array_sort(F.collect_set("gh")).alias("ev_grams"))
        .select(
            bounded_broadcast_array(
                F.col("ev_grams"),
                _EVAL_GRAM_BROADCAST_BOUND,
                op="stream_decontamination_equality",
                fallback="gram-exchange semi-join path "
                "(exact_ngram_decontamination's batch probe)",
                typ="array<bigint>",
            ).alias("ev_grams")
        )
    )


def _decon_partial_counts_arrow(batches):
    """mapInPandas kernel: per-source PARTIAL decontamination counters
    within each Arrow batch. Pure counting over the JVM-computed leaky
    flag — the probe semantics never leave the JVM."""
    for pdf in batches:
        if pdf.empty:
            continue
        pdf = pdf.copy()
        pdf["kept"] = ~pdf["lk"]
        pdf["kept_chars"] = pdf["n_chars"].where(pdf["kept"], 0)
        agg = pdf.groupby("source", sort=False).agg(
            n_train=("lk", "size"),
            n_train_excluded=("lk", "sum"),
            n_train_kept=("kept", "sum"),
            chars_train_kept=("kept_chars", "sum"),
        )
        yield agg.astype("int64").reset_index()


@REGISTRY.register(
    "stream_decontamination_equality",
    oracle=_STREAM_DECON_ORACLE,
    description="streamed eval decontamination: fixed eval gram set as "
    "broadcast data, arriving train docs probed row-locally "
    "(arrays_overlap), per-source partials through the exactly-once "
    "sink, compacted == batch guard's train report",
    tags=("streaming", "dedup", "text", "quality", "incremental"),
)
def stream_decontamination_equality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os as _os

    from mapreduce_sm_spark.functions.text import tokenize_words
    from mapreduce_sm_spark.streaming.runner import replay_stream, run_file_sink

    n = _XNGRAM_N
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )

    def gram_hashes(tok_col: str) -> F.Column:
        # takes the materialized token-array column (see _eval_gram_static)
        t = F.col(tok_col)
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - n + 1),
                lambda i: hash60(F.array_join(F.slice(t, i, n), " ")),
            ),
        ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))

    eval_grams_guarded = _eval_gram_static(docs, gram_hashes)

    # 8 part files consumed 2 per trigger => 4 separate sink commits
    stream, base = replay_stream(docs, "decon_stream_", 8, 2)
    # The eval gram set is a PRECOMPUTED ARTIFACT, not a per-trigger
    # subquery: a stream-static join re-evaluates the static subplan on
    # EVERY micro-batch, so leaving the collect_set aggregate inline
    # re-tokenized the whole eval corpus once per trigger — measured at
    # the sf0.1 x10 decade, that recompute dominated an 86 s wall
    # (SCALING.md r16). Materializing the guarded one-row frame once
    # (the capacity guard fires here, at artifact build time) and
    # re-reading the tiny parquet per trigger is also the production
    # shape: a fixed benchmark suite's gram set is built once and
    # shipped to the stream as data.
    ev_path = _os.path.join(base, "eval_grams.parquet")
    eval_grams_guarded.write.mode("overwrite").parquet(ev_path)
    eval_static = spark.read.parquet(ev_path)
    flagged = (
        stream.filter(F.col("doc_id") % 10 != 0)
        .select(
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            tokenize_words("text").alias("t"),
        )
        .crossJoin(F.broadcast(eval_static))
        .select(
            "source",
            "n_chars",
            F.arrays_overlap(gram_hashes("t"), F.col("ev_grams")).alias(
                "lk"
            ),
        )
    )
    partials = run_file_sink(
        flagged.mapInPandas(_decon_partial_counts_arrow, _DECON_PARTIAL_SCHEMA),
        base,
        "stream_decontamination_equality",
    )
    counters = (
        "n_train",
        "n_train_excluded",
        "n_train_kept",
        "chars_train_kept",
    )
    compacted = partials.groupBy("source").agg(
        *[F.sum(c).alias(c) for c in counters]
    )
    batch = exact_ngram_decontamination(spark, sf_dir).select(
        "source", *counters
    )
    # Absent-side coalesce to 0 (vs the -1 sentinel the gopher twin
    # uses) is equivalence-preserving HERE because of two invariants:
    # a compacted stream row exists only if the kernel saw >= 1 train
    # doc for that source (so its n_train >= 1, never all-zero), and
    # the batch report legitimately emits all-zero train counters for
    # eval-only sources (so batch-only rows must compare equal to an
    # absent stream row). A -1 sentinel would falsely flag exactly
    # that legitimate eval-only case (ADVICE r15).
    zero = F.lit(0).cast("long")
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
                        F.coalesce(f"a_{c}", zero) != F.coalesce(f"b_{c}", zero)
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
# Asymmetric CONTAINMENT pairs (r16). Symmetric Jaccard misses the
# quote/excerpt case by construction: a short doc fully embedded in a
# long one has tiny J(A,B) = |A∩B|/|A∪B| but containment
# C(A→B) = |A∩B|/|A| = 1.0. That directed signal is what a curation
# pipeline needs to drop excerpts while keeping their sources (and the
# doc-level cousin of exact_ngram_decontamination's verbatim guard).
#
# The set element is the WORD 4-GRAM (the published granularity for
# verbatim-overlap guards — GPT-3/PaLM use word n-grams, not char
# shingles), hashed through hash60. That choice is also what keeps the
# blocking selective: char-5-shingles on this fixture's bounded
# synthetic vocabulary gave every same-lang pair ~10% shingle overlap,
# and the prefix filter's candidate set degenerated toward all-pairs
# (measured: 28.4M of ~50M possible pairs at the x10 decade, 280-316 s
# wall — SCALING.md r16). Word 4-grams draw from a combinatorially
# large space, so gram dfs are genuinely small and prefixes prune.
#
# Blocking is the containment variant of the AllPairs prefix theorem
# (Chaudhuri/Ganti/Kaushik ssjoin, ICDE'06; Bayardo et al. WWW'07):
# C(A→B) >= t forces |A∩B| >= ceil(t·|A|), so under ANY global gram
# order A's prefix of length |A| - ceil(t·|A|) + 1 contains a shared
# gram — but the CONTAINER side is NOT prefixed (the shared gram can
# sit anywhere in B), so the candidate join is A-prefix x B-full. That
# asymmetry is the honest cost model: containment joins carry the full
# index side where similarity joins carry a prefix, which is why the
# threshold stays high (0.8) — the same trade the literature makes.
#
# 100 TB posture: one corpus gram pass (the cached frames), a
# rarest-first prefix on the contained side, lossless length
# (|B| >= t·|A|) and two-sided PPJoin positional bounds (all integer
# cross-multiplied) before the exact verify join-back. Never an
# all-pairs product; the DuckDB oracle IS the all-pairs semantic
# definition within lang blocks. Docs with < 4 word tokens have no
# grams and are excluded on both engines (a containment denominator
# needs a non-empty gram set).
# ---------------------------------------------------------------------------

_CONTAIN_PM4 = 8000  # C(A->B) >= 0.80
_CONTAIN_N = 4  # word-gram length

_CONTAIN_G = (
    "list_transform(generate_series(1, greatest(len(w) - "
    f"{_CONTAIN_N - 1}, 0)), i -> array_to_string(w[i:i+{_CONTAIN_N - 1}], ' '))"
)

_CONTAIN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         regexp_extract_all(upper(text), '[A-Z][A-Z'']*') AS w
  FROM documents
),
sh AS (
  SELECT doc_id, lang, list_distinct({_CONTAIN_G}) AS s
  FROM t WHERE len(w) >= {_CONTAIN_N}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       (len(list_intersect(a.s, b.s)) * 10000) // len(a.s)
           AS containment_pm4
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id <> b.doc_id
WHERE (len(list_intersect(a.s, b.s)) * 10000) // len(a.s)
          >= {_CONTAIN_PM4}
ORDER BY doc_a, doc_b
"""


@REGISTRY.register(
    "dedup_containment_pairs",
    oracle=_CONTAIN_ORACLE,
    description="directed word-4-gram containment pairs C(A->B) >= 0.80 "
    "via a prefix-x-full-index join (ssjoin blocking) — the "
    "quote/excerpt guard symmetric Jaccard structurally misses",
    tags=("dedup", "text", "scale"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.functions.text import tokenize_words

    t = _CONTAIN_PM4 / 10000.0
    n_g = _CONTAIN_N
    release_caches("dedup.containment")  # one-generation discipline
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    sh = (
        fan_out(docs, "doc_id")
        .select("doc_id", "lang", tokenize_words("text").alias("w"))
        .filter(F.size("w") >= n_g)
        .select(
            "doc_id",
            "lang",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - n_g + 1),
                    lambda i: hash60(F.array_join(F.slice("w", i, n_g), " ")),
                )
            ).alias("s"),
        )
        .withColumn("n", F.size("s"))
        .cache()
    )
    sh.count()  # materialization barrier (see dedup_ngram_jaccard)
    toks = sh.select("doc_id", "lang", "n", F.explode("s").alias("tok"))
    df_counts = toks.groupBy("tok").agg(F.count("*").alias("df"))
    # BOTH sides get global-order positions (one cached frame, two
    # consumers): the contained side reads its prefix off it, and the
    # container side's position feeds the two-sided PPJoin suffix bound
    # below. This matters on this fixture specifically: the synthetic
    # word soup has a BOUNDED shingle vocabulary, so even the rarest
    # prefix shingle of a doc carries a large global df and the
    # prefix-x-full join emits candidate rows in bulk — the b-side
    # positional bound kills the common-token matches INSIDE the join
    # condition, before the candidate dedup shuffle ever sees them
    # (measured: one-sided filtering ran 15.6 s sf0.1 / 280 s x10).
    pos_toks = (
        toks.join(df_counts, "tok")
        .groupBy("doc_id", "lang", "n")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("st"))
        .select(
            "doc_id",
            "lang",
            "n",
            F.posexplode("st").alias("p0", "e"),
        )
        .select(
            "doc_id",
            "lang",
            "n",
            F.col("e.tok").alias("tok"),
            (F.col("p0") + 1).alias("p"),
        )
        .cache()
    )
    pos_toks.count()  # materialization barrier (see dedup_ngram_jaccard)
    # contained-side prefix |A| - ceil(t|A|) + 1, as floor((1-t)|A|) + 2
    # with the +1 safety margin (longer prefix adds candidates, never
    # loses); rarest-first under the global (df, tok) order
    a_pref = pos_toks.filter(
        F.col("p") <= (F.floor(F.col("n") * F.lit(1.0 - t)) + F.lit(2))
    )
    a, b = a_pref.alias("a"), pos_toks.alias("b")
    # two-sided positional filter (PPJoin, Xiao et al. WWW'08, adapted
    # to containment): for the SMALLEST common shingle under the global
    # order, every earlier element on EITHER side is unshared, so
    # overlap <= 1 + min(na - pa, nb - pb); a qualifying pair needs
    # overlap >= ceil(t*na) and its smallest-common-shingle row always
    # passes — lossless (integer-safe via cross-multiplication)
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            # length filter: C(A->B) >= t forces |B| >= t*|A|
            & (F.col("b.n") * 10000 >= F.col("a.n") * _CONTAIN_PM4)
            # suffix bound, both sides
            & (
                (
                    F.lit(1)
                    + F.least(
                        F.col("a.n") - F.col("a.p"),
                        F.col("b.n") - F.col("b.p"),
                    )
                )
                * 10000
                >= F.col("a.n") * _CONTAIN_PM4
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    track_caches("dedup.containment", sh, pos_toks)
    # exact verify on the cached long arrays; joins pinned to sort-merge
    # for the same AQE broadcast-rebuild reason dedup_ngram_jaccard
    # documents (and SMJ is the 100 TB strategy anyway)
    sets = sh.select("doc_id", "n", F.col("s").alias("hs"))
    pairs = (
        cand.hint("merge")
        .join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hs").alias("sa"),
                F.col("n").alias("na"),
            ).hint("merge"),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"), F.col("hs").alias("sb")
            ).hint("merge"),
            "doc_b",
        )
    )
    contain = _idiv(
        F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("long")
        * F.lit(10000),
        F.col("na").cast("long"),
    )
    return (
        pairs.select("doc_a", "doc_b", contain.alias("containment_pm4"))
        .filter(F.col("containment_pm4") >= _CONTAIN_PM4)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# WINNOWING fingerprint pairs (r16, late). MinHash answers "are these two
# documents similar as whole sets"; winnowing (Schleimer, Wilkerson,
# Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
# SIGMOD 2003 — the MOSS algorithm) answers the LOCAL question: "do these
# documents share any contiguous passage", with a guarantee MinHash
# cannot give. Selecting the minimum gram hash from every window of W
# consecutive grams ensures any shared run of >= W + N - 1 tokens
# contributes at least one IDENTICAL selected fingerprint to both
# documents — detection is deterministic, not probabilistic, at an
# expected density of 2/(W+1) fingerprints per position.
#
# The selected-fingerprint SET is exactly the set of window minima
# (the SIGMOD paper's rightmost-tie rule only disambiguates which
# POSITION is recorded; the selected hash value per window is its
# minimum either way), so selection is a pure row-local array fold:
# sequence -> slice -> array_min -> array_distinct, entirely inside
# whole-stage codegen. No shuffle happens until the postings join.
#
# Grams are WORD 4-grams through hash60 — the same granularity
# dedup_containment_pairs settled on after the measured char-5-shingle
# prefix-filter degeneracy on this fixture's bounded vocabulary
# (SCALING.md r16); at sf0.01 the fingerprint df distribution confirms
# the choice (max df = 3, so postings stay near-unique).
#
# Hub protection is part of the SEMANTICS, as in MOSS itself: a
# fingerprint appearing in more than _WINNOW_DF_CAP documents is
# boilerplate by definition and is dropped from postings BEFORE the
# pair join on both engines (the oracle applies the identical cap), so
# a template shared by 10k documents can never produce a 10k^2 row
# blow-up. Docs with fewer than N + W - 1 word tokens have no full
# window and are excluded on both engines.
#
# 100 TB posture: one corpus pass for row-local selection; one
# partial-aggregable df count; the pair join runs posting-list x
# posting-list with every list bounded by the cap, then one
# (doc_a, doc_b) aggregate. Never an all-pairs product; memory per
# fingerprint group is O(cap^2) pair rows at worst.
# ---------------------------------------------------------------------------

_WINNOW_N = 4  # word-gram length (tokens per gram)
_WINNOW_W = 4  # winnow window (grams per window)
_WINNOW_DF_CAP = 20  # MOSS-style common-fingerprint drop
_WINNOW_MIN_SHARED = 2  # pairs must share >= this many fingerprints

_WINNOW_G = (
    "list_transform(generate_series(1, len(w) - "
    f"{_WINNOW_N - 1}), i -> "
    + hash60_sql(f"array_to_string(w[i:i+{_WINNOW_N - 1}], ' ')")
    + ")"
)

_WINNOW_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(upper(text), '[A-Z][A-Z'']*') AS w
  FROM documents
),
g AS (
  SELECT doc_id, {_WINNOW_G} AS h
  FROM t WHERE len(w) >= {_WINNOW_N + _WINNOW_W - 1}
),
s AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(h) - {_WINNOW_W - 1}),
           j -> list_min(h[j:j+{_WINNOW_W - 1}]))) AS fps
  FROM g
),
e AS (SELECT doc_id, unnest(fps) AS fp FROM s),
kept AS (
  SELECT fp, doc_id FROM e
  QUALIFY count(*) OVER (PARTITION BY fp) <= {_WINNOW_DF_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*)::BIGINT AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {_WINNOW_MIN_SHARED}
ORDER BY doc_a, doc_b
"""


@REGISTRY.register(
    "winnowing_fingerprint_pairs",
    oracle=_WINNOW_ORACLE,
    description="MOSS winnowing (SIGMOD'03): row-local window-minimum "
    "fingerprint selection over word-4-gram hashes, capped postings, "
    "pairs sharing >= 2 fingerprints — deterministic shared-passage "
    "detection MinHash's probabilistic whole-set estimate cannot give",
    tags=("dedup", "text", "scale"),
)
def winnowing_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_sm_spark.functions.text import tokenize_words

    n_g, w_w = _WINNOW_N, _WINNOW_W
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = (
        fan_out(docs, "doc_id")
        .select("doc_id", tokenize_words("text").alias("w"))
        .filter(F.size("w") >= n_g + w_w - 1)
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (n_g - 1)),
                lambda i: hash60(F.array_join(F.slice("w", i, n_g), " ")),
            ).alias("h"),
        )
    )
    # cache the exploded postings: the df count and the cap join-back are
    # two consumers, and the pair join consumes `kept` twice (a/b
    # aliases) — uncached, Catalyst re-ran the tokenize+md5+winnow
    # selection subtree once per consumer (FOUR corpus passes in the
    # executed plan; the doc_lm_surprisal lesson, plan-pinned to exactly
    # one Generate explode in tests/test_plans.py)
    release_caches("dedup.winnow")  # one-generation discipline
    fps = grams.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("h") - (w_w - 1)),
                    lambda j: F.array_min(F.slice("h", j, w_w)),
                )
            )
        ).alias("fp"),
    ).cache()
    fps.count()  # materialization barrier (see dedup_ngram_jaccard)
    # MOSS common-fingerprint drop: partial-aggregable df count, then a
    # co-partitioned join-back BEFORE any pairing (the oracle applies the
    # same cap). Counting first means a hub fingerprint costs one counter
    # per partition — its posting list is never materialized anywhere.
    low_df = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _WINNOW_DF_CAP)
        .select("fp")
    )
    kept = fps.join(low_df, "fp").cache()
    kept.count()  # both pair-join sides read this frame
    track_caches("dedup.winnow", fps, kept)
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Cluster-aware split audit (r16, late). Hash-mod train/test splitting
# (train_val_test_split) is leakage-blind: a near-duplicate pair split
# across train and test inflates every evaluation run on that test set
# (the documented failure the decontamination triple guards against —
# but INTERNAL to the corpus rather than against an external benchmark,
# cf. Lee et al. 2022 "Deduplicating Training Data Makes Language
# Models Better", which measures exactly this eval inflation). The
# leakage-free recipe is to split by NEAR-DUP CLUSTER: hash the
# connected-component label instead of the doc_id, so every cluster
# member lands in the same split by construction.
#
# This operator runs BOTH policies over the default 60-bit simhash
# rung's pair relation and MEASURES the leakage instead of asserting
# it: naive_cross_pairs counts near-dup pairs split across the naive
# 10% test carve-out; cluster_cross_pairs is computed the same way from
# the cluster-hashed assignment (provably 0 — both endpoints of a pair
# share a component — but the audit recomputes it as a machine check,
# not a comment). Also reports the test-set size drift the cluster
# policy introduces (clusters move atomically, so the carve-out is no
# longer an exact per-doc 10%).
#
# 100 TB posture: inherits the measured 60-bit banded candidate join
# (dedup_simhash60_pairs: 3.0x at x100) and _cc_labels' vertex-sized
# label exchanges (one arc shuffle per round); both split assignments
# are row-local hash60 expressions; the leak counts are two aggregates
# over the pair frame joined to the vertex-sized component frame. The
# audit digest is one row.
# ---------------------------------------------------------------------------

_CLSPLIT_SALT = "clsplit"
_CLSPLIT_MOD = 10  # 1-in-10 test carve-out


def _clsplit_is_test_sql(expr: str) -> str:
    return f"({hash60_sql(f'({expr})::VARCHAR', _CLSPLIT_SALT)} % {_CLSPLIT_MOD} < 1)"


_CLSPLIT_ORACLE = f"""
WITH RECURSIVE {_simhash_pairs_sql(_SIMHASH60)},
{_cc_sql("documents")},
t AS (
  SELECT doc_id, component,
         {_clsplit_is_test_sql('doc_id')} AS nt,
         {_clsplit_is_test_sql('component')} AS ct
  FROM labels
),
pl AS (
  SELECT a.nt AS ant, b.nt AS bnt, a.ct AS act, b.ct AS bct
  FROM pairs p JOIN t a ON p.doc_a = a.doc_id
               JOIN t b ON p.doc_b = b.doc_id
)
SELECT (SELECT count(*) FROM t)::BIGINT AS n_docs,
       (SELECT count(*) FILTER (WHERE nt) FROM t)::BIGINT AS n_test_naive,
       (SELECT count(*) FILTER (WHERE ct) FROM t)::BIGINT AS n_test_cluster,
       count(*)::BIGINT AS n_pairs,
       count(*) FILTER (WHERE ant <> bnt)::BIGINT AS naive_cross_pairs,
       count(*) FILTER (WHERE act <> bct)::BIGINT AS cluster_cross_pairs
FROM pl
"""


@REGISTRY.register(
    "cluster_aware_split_audit",
    oracle=_CLSPLIT_ORACLE,
    description="leakage-free splitting audit: near-dup pairs split "
    "across the naive hash test carve-out (measured) vs the "
    "cluster-hashed assignment (recomputed 0) over the 60-bit simhash "
    "pair relation — the internal-leakage counterpart of the "
    "decontamination triple",
    tags=("dedup", "sampling", "scale"),
)
def cluster_aware_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        _simhash_pairs(spark, sf_dir, _SIMHASH60, "dedup.clsplit")
        .select("doc_a", "doc_b")
        .cache()
    )
    pairs.count()  # two consumers: the CC miner and the leak counts
    track_caches("dedup.clsplit", pairs)
    comp = _cc_labels(
        pairs, table(spark, sf_dir, "documents").select("doc_id")
    )

    def is_test(col):
        return (
            hash60(F.col(col).cast("string"), _CLSPLIT_SALT) % _CLSPLIT_MOD
            < 1
        )

    t = comp.select(
        "doc_id",
        is_test("doc_id").alias("nt"),
        is_test("component").alias("ct"),
    )
    zero = F.lit(0).cast("long")
    docs_dig = t.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.col("nt").cast("long")), zero)
        .cast("long")
        .alias("n_test_naive"),
        F.coalesce(F.sum(F.col("ct").cast("long")), zero)
        .cast("long")
        .alias("n_test_cluster"),
    )
    pl = pairs.join(
        t.select(
            F.col("doc_id").alias("doc_a"),
            F.col("nt").alias("ant"),
            F.col("ct").alias("act"),
        ),
        "doc_a",
    ).join(
        t.select(
            F.col("doc_id").alias("doc_b"),
            F.col("nt").alias("bnt"),
            F.col("ct").alias("bct"),
        ),
        "doc_b",
    )
    pair_dig = pl.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum((F.col("ant") != F.col("bnt")).cast("long")), zero
        )
        .cast("long")
        .alias("naive_cross_pairs"),
        F.coalesce(
            F.sum((F.col("act") != F.col("bct")).cast("long")), zero
        )
        .cast("long")
        .alias("cluster_cross_pairs"),
    )
    return docs_dig.crossJoin(F.broadcast(pair_dig)).select(
        "n_docs",
        "n_test_naive",
        "n_test_cluster",
        "n_pairs",
        "naive_cross_pairs",
        "cluster_cross_pairs",
    )
