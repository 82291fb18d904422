"""dedup_minhash_incremental must equal dedup_minhash minus OLD-OLD pairs.

The incremental variant restricts the band join's PROBE side to the NEW
fifth of the id space (larger id of any qualifying pair is always the
NEW one, ids being monotone), so its result is definitionally the full
pair set filtered to doc_b >= T. The shared-machinery implementation
makes that non-trivial to get wrong in only one direction — this test
pins BOTH directions: no OLD-OLD pair leaks in, and no NEW-touching
pair is lost by the asymmetric probe."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_incremental_equals_full_minus_old_old(spark):
    from mapreduce_sm_spark.operators.dedup import (
        dedup_minhash,
        dedup_minhash_incremental,
    )
    from mapreduce_sm_spark.session import table

    t = (
        table(spark, SF_DIR, "documents")
        .selectExpr("4 * max(doc_id) div 5 AS t")
        .first()["t"]
    )
    full = {tuple(r) for r in dedup_minhash(spark, SF_DIR).collect()}
    incr = {tuple(r) for r in dedup_minhash_incremental(spark, SF_DIR).collect()}
    expected = {p for p in full if p[1] >= t}
    assert incr == expected
    # the split is non-degenerate on the fixtures: some pairs touch the
    # new batch and some are OLD-OLD (otherwise the test proves nothing)
    assert 0 < len(incr) < len(full)


def test_persisted_index_equals_incremental_and_reloads(spark):
    """dedup_minhash_persisted must produce EXACTLY the in-job incremental
    result — the build->parquet->reload->probe cycle may lose nothing
    (a dropped index row can only LOSE a pair, so set equality is the
    no-loss proof) and invent nothing (probe side is new-batch only, so
    OLD-OLD pairs are structurally impossible)."""
    import os

    from mapreduce_sm_spark.operators.dedup import (
        dedup_minhash_incremental,
        dedup_minhash_persisted,
    )
    from mapreduce_sm_spark.session import shared_tmpdir

    got = {tuple(r) for r in dedup_minhash_persisted(spark, SF_DIR).collect()}
    want = {
        tuple(r) for r in dedup_minhash_incremental(spark, SF_DIR).collect()
    }
    assert got == want and got

    # the store exists, is per-sf, and holds both halves of the state a
    # production daily job would reload (band index + shingle sets)
    store = shared_tmpdir("mh_index_", SF_DIR)
    assert os.path.isdir(os.path.join(store, "band_index"))
    assert os.path.isdir(os.path.join(store, "shingle_sets"))

    # second invocation overwrites in place (no copy accumulation) and
    # still matches
    again = {tuple(r) for r in dedup_minhash_persisted(spark, SF_DIR).collect()}
    assert again == want


def test_persisted_index_plan_probes_reloaded_parquet(spark):
    """Plan shape: the probe plan must SCAN the reloaded band-index
    parquet (the old corpus is not re-shingled — no second shingling
    subtree for old docs), and the probe side must carry the new-batch
    id filter so OLD-OLD pairs can never form after reload."""
    from mapreduce_sm_spark.operators.dedup import dedup_minhash_persisted

    df = dedup_minhash_persisted(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "band_index" in plan, "probe does not scan the persisted index"
    assert "shingle_sets" in plan, "verify does not read the persisted sets"
    # the new-batch restriction survives into the physical plan
    assert "new_min" in plan or ">= " in plan


def test_compaction_law_holds_and_store_roundtrips(spark):
    """VERDICT r11 item 3 (band-index compaction law): appending the
    delta index to the stored index and rewriting must equal a
    from-scratch rebuild over the union corpus, row-for-row. n_mismatch
    comes from an exact full-outer multiset comparison, so 0 IS the
    law; the digest columns are hash-checked against a DuckDB rebuild
    by the oracle gate."""
    import os

    from mapreduce_sm_spark.operators.dedup import dedup_minhash_compaction
    from mapreduce_sm_spark.session import shared_tmpdir

    row = dedup_minhash_compaction(spark, SF_DIR).collect()[0]
    assert row["n_mismatch"] == 0 and row["compact_equals_rebuild"]
    assert row["n_index_rows"] > 0 and row["n_docs"] > 0
    store = shared_tmpdir("mh_compact_", SF_DIR)
    assert os.path.isdir(os.path.join(store, "band_index_compacted"))
    # second invocation overwrites the same store and the law still holds
    again = dedup_minhash_compaction(spark, SF_DIR).collect()[0]
    assert tuple(again) == tuple(row)


def test_compaction_merge_never_reshingles_old_corpus(spark):
    """Plan shape for the compaction MERGE (VERDICT r11 item 3 'done'
    criterion): the merged frame scans the STORED band index as parquet
    and shingles ONLY the delta batch — exactly one documents scan reads
    the text column, and it sits under the new-batch id restriction. The
    only other documents scan is the doc_id-only max() that computes the
    batch threshold."""
    from mapreduce_sm_spark.operators.dedup import _compaction_merged_index

    merged, _ = _compaction_merged_index(spark, SF_DIR)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "band_index" in plan, "merge does not scan the stored index"
    text_scans = [
        l
        for l in plan.splitlines()
        if "FileScan" in l and "documents.parquet" in l and "text#" in l
    ]
    assert len(text_scans) == 1, plan
    # the delta restriction survives into the physical plan
    assert "new_min" in plan


def test_decontamination_excludes_planted_near_duplicate(spark, tmp_path):
    """Plant a near-verbatim copy of an EVAL doc (doc_id % 10 == 0) into
    the train split; the band probe must exclude it while an unrelated
    train doc survives. Counts cross-checked against the oracle."""
    import duckdb

    from mapreduce_sm_spark.operators.dedup import (
        _DECON_ORACLE,
        fuzzy_decontamination_split,
    )

    eval_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (10, "sA", eval_text, len(eval_text)),                 # eval (10%10==0)
        (11, "sA", eval_text + " extra", len(eval_text) + 6),  # leaky train
        (12, "sB", "completely different content about spark engines and parquet files", 68),
    ]
    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars long"
    ).coalesce(1).write.parquet(d)
    got = {
        r["source"]: r.asDict()
        for r in fuzzy_decontamination_split(spark, str(tmp_path)).collect()
    }
    assert got["sA"]["n_eval"] == 1
    assert got["sA"]["n_train_excluded"] == 1  # the planted near-dup
    assert got["sA"]["n_train_kept"] == 0
    assert got["sB"]["n_train_kept"] == 1 and got["sB"]["n_train_excluded"] == 0
    assert got["sB"]["chars_train_kept"] == 68
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'")
    oracle = {r[0]: r for r in con.sql(_DECON_ORACLE).fetchall()}
    for src, r in got.items():
        assert oracle[src] == tuple(r.values())


def test_source_overlap_matrix_conserves_pairs(spark):
    """Every verified near-dup pair lands in exactly one canonical
    source cell: the matrix's pair total equals dedup_minhash's row
    count, cells are canonically ordered, and max_jaccard is within
    the gate's range."""
    from tests.conftest import SF_DIR

    from mapreduce_sm_spark.operators.dedup import (
        _JACCARD_PM4,
        dedup_minhash,
        source_overlap_matrix,
    )

    cells = source_overlap_matrix(spark, SF_DIR).collect()
    n_pairs = dedup_minhash(spark, SF_DIR).count()
    assert sum(r["n_pairs"] for r in cells) == n_pairs
    for r in cells:
        assert r["source_a"] <= r["source_b"]
        assert _JACCARD_PM4 <= r["max_jaccard_pm4"] <= 10_000


def test_exact_ngram_decontamination_catches_quoted_passage(spark, tmp_path):
    """The guard's reason to exist: a short eval passage QUOTED inside a
    long, otherwise-novel train doc. Doc-level fuzzy similarity barely
    moves (the quote is a small fraction of the train doc's shingles)
    but the verbatim 8-gram probe must flag it; a train doc with no
    8-gram overlap survives, and a train doc SHORTER than 8 tokens can
    never be flagged. Counts cross-checked against the oracle."""
    import duckdb

    from mapreduce_sm_spark.operators.dedup import (
        _XNGRAM_ORACLE,
        exact_ngram_decontamination,
    )

    quote = "the quick brown fox jumps over the lazy dog"  # 9 tokens
    filler = " ".join(f"novel{i} content{i}" for i in range(40))
    rows = [
        (10, "sA", quote, len(quote)),                    # eval (10%10==0)
        (11, "sA", f"{filler} {quote} {filler}", 100),    # leaky: quotes it
        (12, "sB", filler + " something else entirely", 80),  # clean train
        (13, "sB", "too short for any gram", 22),         # <8 tokens: safe
    ]
    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars long"
    ).coalesce(1).write.parquet(d)
    got = {
        r["source"]: r.asDict()
        for r in exact_ngram_decontamination(spark, str(tmp_path)).collect()
    }
    assert got["sA"]["n_eval"] == 1
    assert got["sA"]["n_train_excluded"] == 1  # the quoting doc
    assert got["sA"]["n_train_kept"] == 0
    assert got["sB"]["n_train_excluded"] == 0
    assert got["sB"]["n_train_kept"] == 2  # clean + too-short both survive
    assert got["sB"]["chars_train_kept"] == 102
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'")
    oracle = {r[0]: r for r in con.sql(_XNGRAM_ORACLE).fetchall()}
    for src, r in got.items():
        assert oracle[src] == tuple(r.values())


def test_exact_ngram_decontamination_empty_corpus(spark, tmp_path):
    """Degenerate-corpus hand test (the repo convention): zero docs ->
    zero report rows in both engines."""
    import duckdb

    from mapreduce_sm_spark.operators.dedup import (
        _XNGRAM_ORACLE,
        exact_ngram_decontamination,
    )

    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [], "doc_id long, source string, text string, n_chars long"
    ).coalesce(1).write.parquet(d)
    assert exact_ngram_decontamination(spark, str(tmp_path)).collect() == []
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'")
    assert con.sql(_XNGRAM_ORACLE).fetchall() == []


def test_stream_decontamination_equality_law(spark, monkeypatch):
    """The streamed guard's compacted per-source counters must equal the
    batch guard's train report exactly (n_mismatch 0), the digest must
    match a direct recount of the batch report, and the sink must hold
    MULTIPLE commits (partial boundaries genuinely exercised)."""
    import os
    import tempfile

    from tests.conftest import SF_DIR

    from mapreduce_sm_spark.operators.dedup import (
        exact_ngram_decontamination,
        stream_decontamination_equality,
    )

    made: list[str] = []
    real_mkdtemp = tempfile.mkdtemp

    def spy(*a, **kw):
        d = real_mkdtemp(*a, **kw)
        if kw.get("prefix", "").startswith("decon_stream_"):
            made.append(d)
        return d

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    row = stream_decontamination_equality(spark, SF_DIR).collect()[0]
    assert row["n_mismatch"] == 0 and row["stream_equals_batch"]
    (base,) = made
    commits = [
        f
        for f in os.listdir(os.path.join(base, "sink", "_spark_metadata"))
        if f.isdigit() or f.split(".")[0].isdigit()
    ]
    assert len(commits) >= 2, commits
    batch = exact_ngram_decontamination(spark, SF_DIR).collect()
    assert row["n_sources"] == sum(1 for r in batch if r["n_train"] > 0)
    for c in ("n_train", "n_train_excluded", "n_train_kept",
              "chars_train_kept"):
        assert row[c] == sum(r[c] for r in batch)


def test_stream_decontamination_quoted_passage_and_empty(spark, tmp_path):
    """Planted + degenerate hand tests: on the quoted-passage corpus the
    streamed probe must flag exactly the quoting doc (train columns
    match the batch guard row-for-row via n_mismatch==0, and the digest
    is hand-checkable); on an empty corpus both engines emit all-zeros."""
    import duckdb

    from mapreduce_sm_spark.operators.dedup import (
        _STREAM_DECON_ORACLE,
        stream_decontamination_equality,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"novel{i} content{i}" for i in range(40))
    rows = [
        (10, "sA", quote, len(quote)),
        (11, "sA", f"{filler} {quote} {filler}", 100),
        (12, "sB", filler + " something else entirely", 80),
        (13, "sB", "too short for any gram", 22),
    ]
    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars long"
    ).coalesce(1).write.parquet(d)
    row = stream_decontamination_equality(spark, str(tmp_path)).collect()[0]
    # hand-computed: 3 train docs, 1 excluded (the quoting doc),
    # 2 kept with 80 + 22 chars
    assert tuple(row) == (2, 3, 1, 2, 102, 0, True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'")
    assert con.sql(_STREAM_DECON_ORACLE).fetchall()[0] == tuple(row)

    d2 = str(tmp_path / "empty" / "documents.parquet")
    spark.createDataFrame(
        [], "doc_id long, source string, text string, n_chars long"
    ).coalesce(1).write.parquet(d2)
    row2 = stream_decontamination_equality(
        spark, str(tmp_path / "empty")
    ).collect()[0]
    assert tuple(row2) == (0, 0, 0, 0, 0, 0, True)
    con2 = duckdb.connect()
    con2.execute(f"CREATE VIEW documents AS SELECT * FROM '{d2}/*.parquet'")
    assert con2.sql(_STREAM_DECON_ORACLE).fetchall()[0] == tuple(row2)
