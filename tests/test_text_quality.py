"""gopher_quality_gate semantics the sf0.001 oracle-parity test cannot
pin on its own: the char-mass definitions (top-run fold, duplicated-
neighbor mass, space-inclusive gram length) on crafted documents with
hand-computed values, and the short-doc / empty-doc guards."""

from __future__ import annotations

from pyspark.sql import functions as F


def _metrics(spark, text: str) -> dict:
    """Run the operator's staged metric expressions on one document."""
    from mapreduce_sm_spark.operators.text_analysis import (
        _GQ_DUP_SQL,
        _GQ_TOP_SQL,
        _GQ_TOTAL_SQL,
        _gq_sorted_grams_sql,
    )
    from mapreduce_sm_spark.functions.text import tokenize_words

    df = spark.createDataFrame([(text,)], "text string").select(
        tokenize_words("text").alias("w")
    )
    for n in (1, 2, 3, 4):
        df = df.withColumn(f"s{n}", F.expr(_gq_sorted_grams_sql(n)))
    cols = []
    for n in (1, 2, 3, 4):
        cols += [
            F.expr(_GQ_TOTAL_SQL.format(s=f"s{n}")).alias(f"total{n}"),
            F.expr(_GQ_TOP_SQL.format(s=f"s{n}")).alias(f"top{n}"),
            F.expr(_GQ_DUP_SQL.format(s=f"s{n}")).alias(f"dup{n}"),
        ]
    return df.select(*cols).collect()[0].asDict()


def test_gopher_char_masses_hand_computed(spark):
    # tokens: AB AB CD  (upper-cased by the tokenizer)
    m = _metrics(spark, "ab ab cd")
    # 1-grams: AB AB CD -> total 6 chars; AB run = 4 (top); dup = 4
    assert (m["total1"], m["top1"], m["dup1"]) == (6, 4, 4)
    # 2-grams: "AB AB", "AB CD" -> total 10 (space counted), top 5, dup 0
    assert (m["total2"], m["top2"], m["dup2"]) == (10, 5, 0)
    # 3-grams: one gram "AB AB CD" (8 chars)
    assert (m["total3"], m["top3"], m["dup3"]) == (8, 8, 8 * 0)
    # 4-grams: none (doc has 3 tokens)
    assert (m["total4"], m["top4"], m["dup4"]) == (0, 0, 0)


def test_gopher_duplicated_runs_and_top_run(spark):
    # tokens: X X X Y Y Z -> sorted 1-grams: X X X Y Y Z
    m = _metrics(spark, "x x x y y z")
    assert m["total1"] == 6
    assert m["top1"] == 3  # the X run: 3 single-char occurrences
    assert m["dup1"] == 5  # X X X + Y Y duplicated; Z unique
    # 2-grams: "X X","X X","X Y","Y Y","Y Z" -> dup mass = the two "X X"
    assert m["dup2"] == 6
    assert m["top2"] == 6


def test_gopher_empty_and_single_token_docs(spark):
    m = _metrics(spark, "")
    assert all(m[k] == 0 for k in m)
    m = _metrics(spark, "hello")
    assert (m["total1"], m["top1"], m["dup1"]) == (5, 5, 0)
    assert m["total2"] == 0 and m["total3"] == 0 and m["total4"] == 0


def test_gopher_gate_rollup_counts(spark):
    """The per-source rollup counts each doc once and n_clean is the
    complement of the flag union (checked against a brute recount)."""
    from tests.conftest import SF_DIR

    from mapreduce_sm_spark.operators.text_analysis import gopher_quality_gate

    rows = gopher_quality_gate(spark, SF_DIR).collect()
    assert rows == sorted(rows, key=lambda r: r["source"])
    for r in rows:
        fails = [
            r["n_fail_top2"],
            r["n_fail_top3"],
            r["n_fail_top4"],
            r["n_fail_dup1"],
            r["n_fail_dup2"],
        ]
        assert all(0 <= f <= r["n_docs"] for f in fails)
        # clean docs fail nothing: n_clean >= n_docs - sum(fails)
        assert r["n_clean"] >= r["n_docs"] - sum(fails)
        assert r["n_clean"] <= r["n_docs"] - max(fails)
    total = sum(r["n_docs"] for r in rows)
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM '{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    assert total == n


def test_repeated_passage_interval_union(spark, tmp_path):
    """Two docs share the passage 'A B C D E' (overlapping repeated
    4-grams -> interval union, not double counting); a third is unique.
    Hand-computed coverage on both sides of the overlap fold."""
    import duckdb

    from mapreduce_sm_spark.operators.text_analysis import (
        _REPEATED_PASSAGE_ORACLE,
        repeated_passage_coverage,
    )

    rows = [
        (0, "src0", "a b c d e x y z"),      # 8 tokens, covered 1..5 -> 5
        (1, "src0", "q a b c d e"),          # 6 tokens, covered 2..6 -> 5
        (2, "src1", "u v w t u v w t u v"),  # self-repeats only: no other doc
    ]
    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(d)
    got = {
        r["doc_id"]: (r["n_tokens"], r["covered"], r["coverage_ppm"])
        for r in repeated_passage_coverage(spark, str(tmp_path)).collect()
    }
    # doc0: 4-grams ABCD (pos1), BCDE (pos2) repeated in doc1 -> union
    # [1,4] U [2,5] = 5 tokens; ppm = floor(5e6/8)
    assert got[0] == (8, 5, 625000)
    # doc1: same grams at pos2,3 -> 5 of 6 tokens
    assert got[1] == (6, 5, 833333)
    # doc2 never appears: its repeated 4-grams live only in itself
    assert 2 not in got
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'")
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.sql(_REPEATED_PASSAGE_ORACLE).fetchall()
    }
    assert oracle == got


def test_prune_yield_consistent_with_coverage(spark):
    """repeated_passage_prune's per-source token arithmetic must agree
    with repeated_passage_coverage's per-doc relation: total pruned
    tokens == total covered tokens over ALL docs (coverage's top-40 cut
    is a subset, so compare via the oracle-side full relation), and
    yields are bounded sanely."""
    import duckdb

    from tests.conftest import SF_DIR

    from mapreduce_sm_spark.operators.text_analysis import (
        repeated_passage_prune,
    )

    rows = repeated_passage_prune(spark, SF_DIR).collect()
    pruned = sum(r["tokens_in"] - r["tokens_out"] for r in rows)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    # independent full-relation covered-token total (no LIMIT 40)
    want = con.sql(f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(upper(text), '[A-Z][A-Z'']*') AS t
  FROM documents
),
g AS (
  SELECT doc_id, u.r AS pos, array_to_string(t[u.r : u.r + 3], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - 2)) AS u(r) WHERE len(t) >= 4
),
rep AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, min(doc_id) OVER (PARTITION BY g) dmin,
           max(doc_id) OVER (PARTITION BY g) dmax FROM g)
  WHERE dmin <> dmax
),
iv AS (SELECT doc_id, pos,
              lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) np FROM rep)
SELECT coalesce(sum(CASE WHEN np IS NULL THEN 4 ELSE least(np - pos, 4) END), 0)
FROM iv
""").fetchone()[0]
    assert pruned == want
    for r in rows:
        assert 0 <= r["tokens_out"] <= r["tokens_in"]
        assert 0 <= r["docs_emptied"] <= r["n_docs"]
        # covered == n_tokens > 0 implies 2*covered > n_tokens
        assert r["docs_emptied"] <= r["docs_halved"] <= r["n_docs"]


def test_stream_gopher_gate_equality_law(spark, monkeypatch):
    """The streamed gate's compacted per-source counters must equal the
    batch report exactly (n_mismatch 0), the corpus digest must match a
    direct recount, and the sink must hold MULTIPLE commits (partial
    boundaries genuinely exercised, not one giant batch)."""
    import os
    import tempfile

    from tests.conftest import SF_DIR

    from mapreduce_sm_spark.operators.text_analysis import (
        gopher_quality_gate,
        stream_gopher_gate_equality,
    )

    made: list[str] = []
    real_mkdtemp = tempfile.mkdtemp

    def spy(*a, **kw):
        d = real_mkdtemp(*a, **kw)
        if kw.get("prefix", "").startswith("gopher_gate_stream_"):
            made.append(d)
        return d

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    row = stream_gopher_gate_equality(spark, SF_DIR).collect()[0]
    assert row["n_mismatch"] == 0 and row["stream_equals_batch"]
    (base,) = made
    commits = [
        f
        for f in os.listdir(os.path.join(base, "sink", "_spark_metadata"))
        if f.isdigit() or f.split(".")[0].isdigit()
    ]
    assert len(commits) >= 2, commits
    batch = gopher_quality_gate(spark, SF_DIR).collect()
    assert row["n_sources"] == len(batch)
    assert row["n_docs"] == sum(r["n_docs"] for r in batch)
    assert row["n_clean"] == sum(r["n_clean"] for r in batch)
    assert row["n_fails"] == sum(
        r["n_fail_top2"]
        + r["n_fail_top3"]
        + r["n_fail_top4"]
        + r["n_fail_dup1"]
        + r["n_fail_dup2"]
        for r in batch
    )


def test_stream_gopher_gate_empty_corpus_matches_oracle(spark, tmp_path):
    """Degenerate-corpus hand test (the repo convention): both engines
    on an EMPTY documents table — the Spark side's coalesces and the
    oracle's coalesced one-row rollup must agree on all-zeros."""
    import duckdb

    from mapreduce_sm_spark.operators.text_analysis import (
        _STREAM_GQ_ORACLE,
        stream_gopher_gate_equality,
    )

    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [], "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(d)
    row = stream_gopher_gate_equality(spark, str(tmp_path)).collect()[0]
    assert tuple(row) == (0, 0, 0, 0, 0, True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'")
    assert con.sql(_STREAM_GQ_ORACLE).fetchall()[0] == tuple(row)


def test_stream_quality_classifier_equality_law(spark, monkeypatch):
    """The streamed model gate's compacted per-source counters must
    equal the batch report exactly (n_mismatch 0 through the NULL-SAFE
    audit), the digest must match a direct batch recount (including the
    SIGNED sum_score), and the sink must hold multiple commits."""
    import os
    import tempfile

    from tests.conftest import SF_DIR

    from mapreduce_sm_spark.operators.text_analysis import (
        quality_classifier_gate,
        stream_quality_classifier_equality,
    )

    made: list[str] = []
    real_mkdtemp = tempfile.mkdtemp

    def spy(*a, **kw):
        d = real_mkdtemp(*a, **kw)
        if kw.get("prefix", "").startswith("qcg_stream_"):
            made.append(d)
        return d

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    row = stream_quality_classifier_equality(spark, SF_DIR).collect()[0]
    assert row["n_mismatch"] == 0 and row["stream_equals_batch"]
    (base,) = made
    commits = [
        f
        for f in os.listdir(os.path.join(base, "sink", "_spark_metadata"))
        if f.isdigit() or f.split(".")[0].isdigit()
    ]
    assert len(commits) >= 2, commits
    batch = quality_classifier_gate(spark, SF_DIR).collect()
    assert row["n_sources"] == len(batch)
    assert row["n_docs"] == sum(r["n_docs"] for r in batch)
    assert row["n_kept"] == sum(r["n_kept"] for r in batch)
    assert row["sum_score"] == sum(r["sum_score"] for r in batch)


def test_stream_quality_classifier_empty_corpus_matches_oracle(
    spark, tmp_path
):
    import duckdb

    from mapreduce_sm_spark.operators.text_analysis import (
        _STREAM_QCG_ORACLE,
        stream_quality_classifier_equality,
    )

    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [], "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(d)
    row = stream_quality_classifier_equality(spark, str(tmp_path)).collect()[0]
    assert tuple(row) == (0, 0, 0, 0, 0, True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'")
    assert con.sql(_STREAM_QCG_ORACLE).fetchall()[0] == tuple(row)


def test_stream_quality_classifier_negative_sum_source(spark, tmp_path):
    """A source whose total score is NEGATIVE still audits equal (the
    null-safe comparison has no sentinel collision to fall into): build
    a corpus from tokens with known negative weights via hash60_py."""
    import duckdb

    from mapreduce_sm_spark.functions.hashing import hash60_py
    from mapreduce_sm_spark.operators.text_analysis import (
        _STREAM_QCG_ORACLE,
        stream_quality_classifier_equality,
    )

    def w(tok):
        return ((hash60_py(tok) % 1024) * 2654435761) % 21 - 10

    # scan candidate tokens (letters only — digits are outside the
    # token grammar) for a strictly negative-weight one
    import itertools

    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    neg = next(
        "".join(p)
        for p in itertools.product(letters, repeat=3)
        if w("".join(p)) < 0
    )
    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(1, "sNeg", f"{neg.lower()} {neg.lower()}"), (2, "sNeg", neg.lower())],
        "doc_id long, source string, text string",
    ).coalesce(1).write.parquet(d)
    row = stream_quality_classifier_equality(spark, str(tmp_path)).collect()[0]
    assert row["sum_score"] == 3 * w(neg) < 0
    assert row["n_kept"] == 0
    assert row["n_mismatch"] == 0 and row["stream_equals_batch"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'")
    assert con.sql(_STREAM_QCG_ORACLE).fetchall()[0] == tuple(row)


def test_readability_hand_traced_signed_floor_mean(spark, tmp_path):
    """Hand-traced Flesch milli-grid values, including two NEGATIVE
    scores whose mean exercises the signed floor division (floor of
    -81272.5 is -81273, not -81272 — a truncating division would split
    the engines). sA doc: 'Go. On we go.' -> w=4, s=2, y=4 ->
    206835 - 2030 - 84600 = 120205 (easy). sB: 200/201 one-sentence
    vowel runs -> -80765 and -81780, mean floor(-162545/2) = -81273."""
    import duckdb

    from mapreduce_sm_spark.operators.text_analysis import (
        _READABILITY_ORACLE,
        readability_scores,
    )

    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [
            (1, "sA", "Go. On we go."),
            (2, "sB", " ".join(["a"] * 200)),
            (3, "sB", " ".join(["a"] * 201)),
        ],
        "doc_id long, source string, text string",
    ).coalesce(1).write.parquet(d)
    rows = [tuple(r) for r in readability_scores(spark, str(tmp_path)).collect()]
    assert rows == [
        ("sA", 1, 120205, 1, 1000),
        ("sB", 2, -81273, 0, 0),
    ]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'")
    assert con.sql(_READABILITY_ORACLE).fetchall() == rows


def test_readability_empty_corpus(spark, tmp_path):
    import duckdb

    from mapreduce_sm_spark.operators.text_analysis import (
        _READABILITY_ORACLE,
        readability_scores,
    )

    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [], "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(d)
    assert readability_scores(spark, str(tmp_path)).collect() == []
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'")
    assert con.sql(_READABILITY_ORACLE).fetchall() == []
