"""Contracts around the approximate similarity operators.

- embedding_similar_pairs is banded LSH with documented recall < 1: bound
  its missed-pair rate against the unbanded all-pairs ground truth
  (ADVICE r2: the oracle mirrors the bands, so parity alone no longer
  proves recall — this test is the independent check).
- ann_ivf_recall_check emits the driver-checkable IVF contract; every
  boolean must be true on the fixture.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_banded_pairs_recall_bound(spark, duck):
    from mapreduce_sm_spark.functions.vectors import cosine_sql
    from mapreduce_sm_spark.operators.similarity import (
        _PAIRS_THRESHOLD,
        embedding_similar_pairs,
    )

    banded = {
        (r.vec_a, r.vec_b)
        for r in embedding_similar_pairs(spark, SF_DIR).collect()
    }
    truth = {
        (a, b)
        for a, b in duck.execute(
            f"""
            SELECT a.vec_id, b.vec_id
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round({cosine_sql('a.embedding', 'b.embedding')}, 6)
                  >= {_PAIRS_THRESHOLD}
            """
        ).fetchall()
    }
    # no false positives: every banded pair is a true pair (exact verify)
    assert banded <= truth
    # bounded misses: banding may drop weakly-similar pairs, but the
    # documented ~86% per-pair recall must hold in aggregate
    if truth:
        missed = 1.0 - len(banded) / len(truth)
        assert missed <= 0.30, f"missed-pair rate {missed:.2f} over bound"


def test_ivf_recall_contract_all_true(spark):
    from mapreduce_sm_spark.operators.similarity import (
        _N_QUERIES,
        ann_ivf_recall_check,
    )

    rows = ann_ivf_recall_check(spark, SF_DIR).collect()
    assert len(rows) == _N_QUERIES
    for r in rows:
        assert r.k_ivf == 5
        assert r.recall_ok, f"q{r.q_id} recall below floor"
        assert r.bounded_ok, f"q{r.q_id} IVF cosine beat exact at some rank"


def test_set_front_rejects_unknown_and_duplicate_names():
    import pytest

    from mapreduce_sm_spark.registry import Registry

    reg = Registry()

    @reg.register("a", oracle=None)
    def qa(spark, sf_dir):  # pragma: no cover - never executed
        raise NotImplementedError

    with pytest.raises(ValueError, match="unknown"):
        reg.set_front(("a", "typo_name"))
    reg.set_front(("a", "typo_name"), allow_missing=True)  # explicit opt-out
    with pytest.raises(ValueError, match="duplicate"):
        reg.set_front(("a", "a"))


def test_ann_scale_ceilings_raise():
    """The small-side assumptions are enforced, not implicit (SCALING.md
    'ANN ceilings'): an over-ceiling broadcast query side or k-means K
    must fail loudly with the redirect message."""
    import pytest

    from mapreduce_sm_spark.operators import similarity as sim

    with pytest.raises(ValueError, match="bucketed LSH/IVF"):
        sim._assert_broadcastable_query_side(sim._MAX_BROADCAST_QUERIES + 1)
    sim._assert_broadcastable_query_side(sim._MAX_BROADCAST_QUERIES)  # at cap: ok

    with pytest.raises(ValueError, match="SPARKSM_MAX_KMEANS_K"):
        sim._kmeans_centroids(None, None, sim._MAX_KMEANS_K + 1, 1)


def test_semantic_dedup_pairs_sound_and_recall(spark, duck):
    """SemDeDup soundness: every cell-blocked semantic pair is a true
    cosine >= tau pair (cells can only LOSE pairs); aggregate recall vs
    the unblocked all-pairs ground truth clears the contract floor with
    margin (measured 0.47 at sf0.001 vs floor 0.2)."""
    from mapreduce_sm_spark.functions.vectors import cosine_sql
    from mapreduce_sm_spark.operators.similarity import (
        _SEM_RECALL_FLOOR,
        _SEM_TAU,
        semantic_dedup_pairs,
    )

    got = {
        (r.vec_a, r.vec_b) for r in semantic_dedup_pairs(spark, SF_DIR).collect()
    }
    truth = {
        (a, b)
        for a, b in duck.execute(
            f"""
            SELECT a.vec_id, b.vec_id
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {cosine_sql('a.embedding', 'b.embedding')} >= {_SEM_TAU}
            """
        ).fetchall()
    }
    assert got <= truth  # soundness: zero false positives
    assert truth, "fixture lost all semantic pairs — threshold drifted?"
    assert len(got) / len(truth) >= _SEM_RECALL_FLOOR


def test_semantic_dedup_report_drop_rule(spark):
    """The keep/drop report partitions the corpus, and dropping is exactly
    'has a smaller-id semantic duplicate among the blocked pairs'."""
    from mapreduce_sm_spark.operators.similarity import (
        semantic_dedup_pairs,
        semantic_dedup_report,
    )

    pairs = semantic_dedup_pairs(spark, SF_DIR).collect()
    rep = semantic_dedup_report(spark, SF_DIR).collect()
    n_corpus = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert len(rep) == n_corpus
    should_drop = {r.vec_b for r in pairs}
    dropped = {r.vec_id for r in rep if not r.kept}
    assert dropped == should_drop
    # every duplicate cluster keeps its smallest member
    smallest = {min(r.vec_a for r in pairs if r.vec_b == d or r.vec_a == d)
                for d in should_drop}
    assert all(s not in should_drop or any(
        p.vec_b == s for p in pairs) for s in smallest)


def test_semantic_dedup_contract_all_true(spark):
    from mapreduce_sm_spark.operators.similarity import (
        _SEM_N_AUDIT,
        dedup_semantic_embedding,
    )

    rows = dedup_semantic_embedding(spark, SF_DIR).collect()
    assert len(rows) == _SEM_N_AUDIT
    assert any(r.n_exact_dup > 0 for r in rows)   # the audit is non-vacuous
    assert any(not r.kept_exact for r in rows)    # some doc IS dropped
    for r in rows:
        assert r.sound_ok and r.recall_ok


def test_sem_k_is_corpus_size_aware():
    """Pins the SemDeDup K knob: all sf fixtures sit at the 16-cell floor
    (so the measured recall floors stay valid), the scale rungs grow K to
    hold ~125 vectors/cell, and the flat-Lloyd ceiling clamps."""
    from mapreduce_sm_spark.operators.similarity import (
        _MAX_KMEANS_K,
        _sem_k,
    )

    assert _sem_k(500) == 16      # sf0.001 / sf0.01
    assert _sem_k(2000) == 16     # sf0.1
    assert _sem_k(20_000) == 160  # x10 rung
    assert _sem_k(200_000) == 1600
    assert _sem_k(10**9) == _MAX_KMEANS_K


def test_semantic_clusters_consistent_with_pairs(spark):
    """Cluster resolution invariants over the banded pair graph: both
    endpoints of every mined pair share a component; every component is
    labeled by its own minimum member; keepers are exactly the labels."""
    from mapreduce_sm_spark.operators.similarity import (
        embedding_similar_pairs,
        semantic_dedup_clusters,
    )

    comp = {r.vec_id: r.component
            for r in semantic_dedup_clusters(spark, SF_DIR).collect()}
    pairs = embedding_similar_pairs(spark, SF_DIR).collect()
    assert pairs, "fixture lost all banded pairs — threshold drifted?"
    for p in pairs:
        assert comp[p.vec_a] == comp[p.vec_b], (p.vec_a, p.vec_b)
    from collections import defaultdict
    members = defaultdict(list)
    for v, c in comp.items():
        members[c].append(v)
    assert all(min(vs) == c for c, vs in members.items())


def test_hierarchical_cells_sound_and_recall(spark, duck, monkeypatch):
    """Force the hierarchical (coarse->fine) k-means build at fixture
    scale and assert the same contract the flat path carries: the
    cell-blocked pair set stays a SUBSET of the exact cos >= tau pairs
    (cells can only lose pairs) and aggregate recall clears the floor
    (measured 0.53 forced-hier at sf0.001 vs floor 0.2) — so the scale
    path that engages past _SEM_FLAT_MAX_K is not untested code."""
    import mapreduce_sm_spark.operators.similarity as sim
    from mapreduce_sm_spark.functions.vectors import cosine_sql

    monkeypatch.setattr(sim, "_SEM_FLAT_MAX_K", 8)  # k=16 > 8 -> hier
    got = {(r.vec_a, r.vec_b)
           for r in sim.semantic_dedup_pairs(spark, SF_DIR).collect()}
    truth = {
        (a, b)
        for a, b in duck.execute(
            f"""
            SELECT a.vec_id, b.vec_id
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {cosine_sql('a.embedding', 'b.embedding')} >= {sim._SEM_TAU}
            """
        ).fetchall()
    }
    assert got <= truth
    assert len(got) / len(truth) >= sim._SEM_RECALL_FLOOR
    # the registered contract holds under the forced hierarchical build
    rows = sim.dedup_semantic_embedding(spark, SF_DIR).collect()
    assert len(rows) == sim._SEM_N_AUDIT
    assert all(r.sound_ok and r.recall_ok for r in rows)


def test_hierarchical_cells_catch_planted_near_duplicates(spark, tmp_path, monkeypatch):
    """The recall figure that matters for a DEDUP operator: plant real
    near-duplicates (v + noise, cos ~0.96 — the SemDeDup operating
    point) into a corpus big enough to engage the hierarchical build and
    assert the cell blocking catches essentially all of them. This
    complements the boundary-recall measurement in SCALING.md r13: pairs
    at cos ~0.40 (66 degrees apart, near-random vectors) co-locate
    rarely as K grows, but TIGHT duplicates co-locate always — the
    operator's purpose survives the K ~ N/125 growth."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import mapreduce_sm_spark.operators.similarity as sim

    rng = np.random.default_rng(11)
    n_base, n_dup = 2700, 300
    base = rng.normal(0, 1, (n_base, 64))
    dup_src = rng.choice(n_base, n_dup, replace=False)
    dups = base[dup_src] + rng.normal(0, 0.12, (n_dup, 64))
    corpus = np.vstack([base, dups]).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(len(corpus)), pa.int64()),
            "embedding": pa.array(
                [list(map(float, r)) for r in corpus], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(corpus), pa.int32()),
        }),
        str(tmp_path / "embeddings.parquet"),
    )
    monkeypatch.setattr(sim, "_SEM_FLAT_MAX_K", 8)  # k=24 > 8 -> hier
    assert sim._sem_k(len(corpus)) == 24
    got = {(r.vec_a, r.vec_b)
           for r in sim.semantic_dedup_pairs(spark, str(tmp_path)).collect()}
    planted = [(min(int(s), n_base + i), max(int(s), n_base + i))
               for i, s in enumerate(dup_src)]
    hit = sum(1 for p in planted if p in got)
    assert hit / n_dup >= 0.95, f"planted-dup recall {hit}/{n_dup}"


def test_stream_semantic_index_commits_multiple_appends(spark):
    """r13 streamed semantic-index maintenance: the vector feed is split
    into part files and throttled to one per trigger, so the exactly-once
    file sink must commit SEVERAL appends — and the committed store must
    equal the batch assignment as an exact multiset (audit flag true,
    every vector indexed in exactly _SEM_NPROBE probe rows when K >= 2
    distinct cells exist)."""
    import os

    from mapreduce_sm_spark.operators.similarity import (
        _SEM_NPROBE,
        _stream_maintained_semantic_index,
    )
    from tests.conftest import SF_DIR

    maintained, batch_twin, base = _stream_maintained_semantic_index(
        spark, SF_DIR
    )
    commits = [
        f
        for f in os.listdir(os.path.join(base, "sink", "_spark_metadata"))
        if f.isdigit() or f.split(".")[0].isdigit()
    ]
    assert len(commits) >= 2, commits
    got = {
        (r["vec_id"], r["cid"]): r["n"]
        for r in maintained.groupBy("vec_id", "cid")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    want = {
        (r["vec_id"], r["cid"]): r["n"]
        for r in batch_twin.groupBy("vec_id", "cid")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want
    per_vec = {}
    for (vid, _), n in got.items():
        per_vec[vid] = per_vec.get(vid, 0) + n
    # per the docstring's contract, exactly nprobe rows per vector only
    # holds when the build produced >= nprobe distinct cells (a k-means
    # collapse on a degenerate fixture yields fewer)
    n_cells = len({cid for (_, cid) in got})
    if n_cells >= _SEM_NPROBE:
        assert all(n == _SEM_NPROBE for n in per_vec.values())
    else:
        assert all(n == n_cells for n in per_vec.values())


def test_sem_probe_cells_expr_equals_window_assignment(spark):
    """The streaming path's row-local slice(array_sort(...)) projection
    must pick exactly the cells _semantic_cells' window (ORDER BY d2 ASC,
    cid ASC, row_number <= nprobe) picks — pinned over one SHARED
    centroid list so k-means' order-dependent double averages cannot
    confound the comparison."""
    from pyspark.sql.window import Window as W

    from mapreduce_sm_spark.operators.similarity import (
        _IVF_ITERS,
        _SEM_NPROBE,
        _kmeans_centroids,
        _l2,
        _sem_probe_cells_expr,
    )
    from tests.conftest import SF_DIR

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .limit(120)
    )
    cents = _kmeans_centroids(spark, emb, 8, _IVF_ITERS)
    row_local = (
        emb.select(
            "vec_id",
            F.explode(_sem_probe_cells_expr(cents, F.col("v"))).alias("p"),
        )
        .select("vec_id", F.col("p.cid").alias("cid"))
        .collect()
    )
    cdf = spark.createDataFrame(cents, schema="cid int, cvec array<double>")
    w = W.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cid").asc())
    windowed = (
        emb.crossJoin(F.broadcast(cdf))
        .select("vec_id", "cid", _l2(F.col("v"), F.col("cvec")).alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SEM_NPROBE)
        .select("vec_id", "cid")
        .collect()
    )
    assert sorted((r["vec_id"], r["cid"]) for r in row_local) == sorted(
        (r["vec_id"], r["cid"]) for r in windowed
    )


def test_hier_probe_cells_expr_equals_windowed_assignment(spark):
    """r14 (VERDICT r13 item 2): the hierarchical streamed probe — the
    TWO-LEVEL row-local projection _hier_probe_cells_expr — must pick
    exactly the composite cells _hier_assign_windowed picks (nprobe
    nearest coarse by (d1, c1), nearest fine per probed cell by
    (d2, c2), cid = c1*K2 + c2), pinned over ONE shared _hier_train so
    k-means' order-dependent double averages cannot confound the
    comparison."""
    from mapreduce_sm_spark.operators.similarity import (
        _hier_assign_windowed,
        _hier_probe_cells_expr,
        _hier_train,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    k1, k2, coarse, fine, a1 = _hier_train(spark, emb, 16)
    try:
        windowed = _hier_assign_windowed(spark, a1, fine, k2).collect()
        row_local = (
            emb.select(
                "vec_id",
                F.explode(
                    _hier_probe_cells_expr(k1, k2, coarse, fine, F.col("v"))
                ).alias("p"),
            )
            .select("vec_id", F.col("p.cid").alias("cid"))
            .collect()
        )
    finally:
        a1.unpersist()
    assert sorted((r["vec_id"], r["cid"]) for r in row_local) == sorted(
        (r["vec_id"], r["cid"]) for r in windowed
    )
    # every vector present, nprobe cells each (16 cells >> nprobe, and
    # every coarse cell owns home vectors at this k on this fixture)
    per_vec = {}
    for r in row_local:
        per_vec[r["vec_id"]] = per_vec.get(r["vec_id"], 0) + 1
    assert len(per_vec) == emb.count()


def test_stream_semantic_index_hier_engaged_equals_batch(spark, monkeypatch):
    """Force the hierarchical build to engage inside the STREAMED
    maintenance operator (the r13 gap: past _SEM_FLAT_MAX_K the batch
    side went coarse->fine but the stream projected flat) and pin the
    full contract: the two-level stateless assignment through the
    exactly-once sink equals the batch twin, every vector indexed."""
    import mapreduce_sm_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "_SEM_FLAT_MAX_K", 8)  # k=16 > 8 -> hier
    calls = []
    real = sim._hier_train

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(sim, "_hier_train", spy)
    row = sim.stream_semantic_index_equality(spark, SF_DIR).collect()[0]
    assert calls, "hierarchical path did not engage"
    assert row["n_mismatch"] == 0 and row["stream_equals_batch"]
    assert row["n_docs_indexed"] == row["n_vectors"] > 0


def test_int8_quantization_codes_hand_computed(spark):
    """floor(x * 127 / max|x|) codes, scale = max|x|, zero-vector guard."""
    from mapreduce_sm_spark.operators.similarity import _quant_cols

    df = spark.createDataFrame(
        [(0, [2.0, -1.0, 0.5]), (1, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    s, q = _quant_cols(F.col("embedding"))
    rows = {r["vec_id"]: r for r in df.select(s.alias("s"), q.alias("q"), "vec_id").collect()}
    assert rows[0]["s"] == 2.0
    # floor(2*127/2)=127, floor(-1*127/2)=floor(-63.5)=-64, floor(0.5*127/2)=31
    assert rows[0]["q"] == [127, -64, 31]
    assert rows[1]["s"] == 0.0 and rows[1]["q"] == [0, 0, 0]


def test_quantized_recall_single_exchange_and_contract(spark):
    """Both rankings share the q_id partitioning (one shuffle, two
    window sorts) and the registered contract holds on the fixture."""
    from mapreduce_sm_spark.operators.similarity import ann_quantized_recall
    from tests.test_plans import _plan

    df = ann_quantized_recall(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning(q_id") == 1
    row = df.collect()[0]
    assert row["recall_ok"] and row["n_hits"] <= row["n_queries"] * row["k"]


def test_semantic_decontamination_planted_and_degenerate(spark, tmp_path):
    """Planted hand test: a train vector pointing the same way as an
    eval vector is excluded; an orthogonal one survives; a ZERO vector
    can never leak (its cosine is NULL in both engines and the probe
    coalesces to false); and the empty corpus yields an empty report.
    Counts cross-checked against the oracle."""
    import duckdb

    from mapreduce_sm_spark.operators.similarity import (
        _SDECON_ORACLE,
        semantic_decontamination_split,
    )

    dim = 64
    e1 = [1.0] + [0.0] * (dim - 1)          # eval direction
    near = [10.0, 0.1] + [0.0] * (dim - 2)  # same direction, scaled: cos~1
    orth = [0.0, 1.0] + [0.0] * (dim - 2)   # orthogonal: cos 0
    zero = [0.0] * dim                       # NULL cosine -> never leaks
    rows = [
        (10, 0, e1),    # eval (10 % 10 == 0)
        (11, 0, near),  # train, leaky
        (12, 1, orth),  # train, kept
        (13, 1, zero),  # train, kept (degenerate vector)
    ]
    d = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    ).coalesce(1).write.parquet(d)
    got = {
        r["label"]: r.asDict()
        for r in semantic_decontamination_split(spark, str(tmp_path)).collect()
    }
    assert got[0] == {"label": 0, "n_train": 1, "n_train_excluded": 1,
                      "n_train_kept": 0}
    assert got[1] == {"label": 1, "n_train": 2, "n_train_excluded": 0,
                      "n_train_kept": 2}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{d}/*.parquet'")
    oracle = {r[0]: r for r in con.sql(_SDECON_ORACLE).fetchall()}
    for lbl, r in got.items():
        assert oracle[lbl] == tuple(r.values())

    d2 = str(tmp_path / "empty" / "embeddings.parquet")
    spark.createDataFrame(
        [], "vec_id long, label int, embedding array<float>"
    ).coalesce(1).write.parquet(d2)
    assert (
        semantic_decontamination_split(spark, str(tmp_path / "empty")).collect()
        == []
    )
    con2 = duckdb.connect()
    con2.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{d2}/*.parquet'")
    assert con2.sql(_SDECON_ORACLE).fetchall() == []


def test_semantic_decontamination_complements_lexical(spark, tmp_path):
    """The triple's division of labor, pinned: an eval/train pair that
    shares NO 8-gram (so the exact lexical guard keeps it) can still be
    a semantic leak when its embeddings align. Both guards run on the
    same planted corpus and must disagree in exactly the designed way."""
    from mapreduce_sm_spark.operators.dedup import (
        exact_ngram_decontamination,
    )
    from mapreduce_sm_spark.operators.similarity import (
        semantic_decontamination_split,
    )

    dim = 64
    e1 = [1.0] + [0.0] * (dim - 1)
    near = [5.0, 0.01] + [0.0] * (dim - 2)
    # embeddings: vec 10 eval, vec 11 train — semantically aligned
    de = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        [(10, 0, e1), (11, 0, near)],
        "vec_id long, label int, embedding array<float>",
    ).coalesce(1).write.parquet(de)
    # documents: same ids, ZERO lexical overlap (disjoint vocabularies)
    dd = str(tmp_path / "documents.parquet")
    t_eval = " ".join(f"alpha{i}" for i in range(20))
    t_train = " ".join(f"beta{i}" for i in range(20))
    spark.createDataFrame(
        [(10, "s", t_eval, len(t_eval)), (11, "s", t_train, len(t_train))],
        "doc_id long, source string, text string, n_chars long",
    ).coalesce(1).write.parquet(dd)

    lex = exact_ngram_decontamination(spark, str(tmp_path)).collect()
    assert sum(r["n_train_excluded"] for r in lex) == 0  # lexically clean
    sem = semantic_decontamination_split(spark, str(tmp_path)).collect()
    assert sum(r["n_train_excluded"] for r in sem) == 1  # semantically caught


def test_lit_relation_bit_exact(spark):
    """_lit_relation must reproduce createDataFrame's doubles BIT-exactly
    (the Lloyd loops feed its output into distance arithmetic whose
    results are pinned by the oracle): repr() round-trips every double
    and Spark's `D` literal parse is correctly rounded — checked here on
    denormals, extremes, -0.0 and a 1/3-style repeating fraction."""
    import struct as st

    from mapreduce_sm_spark.operators.similarity import _lit_relation

    rows = [
        (0, [1e-308, -1e308, 0.0, -0.0, 1 / 3, 2**-1074,
             1.7976931348623157e308, 0.1, -2.5e-15]),
        (1, [float(i) / 7 for i in range(9)]),
    ]
    ref = spark.createDataFrame(
        rows, schema="cid int, cvec array<double>"
    ).collect()
    got = _lit_relation(spark, rows, (("cid", "int"), ("cvec", "vec"))).collect()
    assert got[0].__fields__ == ["cid", "cvec"]
    bits = lambda xs: [st.pack("<d", x) for x in xs]  # noqa: E731
    assert {r.cid: bits(r.cvec) for r in ref} == {
        r.cid: bits(r.cvec) for r in got
    }
    # past the size ceiling the helper must fall back to createDataFrame
    # (the SQL parse is super-linear; crossover measured ~4k-33k elems)
    big = [(i, [float(i) + j / 3 for j in range(64)]) for i in range(200)]
    ref2 = spark.createDataFrame(
        big, schema="cid int, cvec array<double>"
    ).collect()
    got2 = _lit_relation(spark, big, (("cid", "int"), ("cvec", "vec"))).collect()
    assert {r.cid: bits(r.cvec) for r in ref2} == {
        r.cid: bits(r.cvec) for r in got2
    }


def test_lit_relation_non_finite_values_take_the_fallback(spark):
    """NaN and +/-inf have no SQL double literal; a centroid holding one
    must still come back (through createDataFrame), not fail the parse."""
    import math

    from mapreduce_sm_spark.operators.similarity import _lit_relation

    rows = [(0, [float("nan"), 1.5]), (1, [float("inf"), -float("inf")])]
    got = {r.cid: r.cvec for r in _lit_relation(
        spark, rows, (("cid", "int"), ("cvec", "vec"))).collect()}
    assert math.isnan(got[0][0]) and got[0][1] == 1.5
    assert got[1] == [math.inf, -math.inf]


def test_lit_relation_paths_share_one_schema(spark):
    """The SQL-literal path and the createDataFrame fallback (taken for
    empty rows and non-finite values) must return identical schemas, so a
    caller never sees the column types flip with its data."""
    from mapreduce_sm_spark.operators.similarity import _lit_relation

    cols = (("cid", "int"), ("cvec", "vec"))
    plan = lambda df: df._jdf.queryExecution().analyzed().toString()  # noqa: E731
    literal = _lit_relation(spark, [(3, [0.5, 2.0])], cols)
    empty = _lit_relation(spark, [], cols)
    non_finite = _lit_relation(spark, [(3, [float("nan"), 2.0])], cols)
    assert "inline" in plan(literal)
    assert "inline" not in plan(empty) and "inline" not in plan(non_finite)
    assert literal.schema == empty.schema == non_finite.schema
    assert literal.schema.simpleString() == "struct<cid:int,cvec:array<double>>"
    assert empty.count() == 0
