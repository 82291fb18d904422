"""Shared near-dup kernels of operators/dedup.py checked against
independent references: _cc_labels against a Python union-find, and the
Spark SimHash signature against its DuckDB rendering at both widths."""

from __future__ import annotations

import pytest


def _union_find_components(ids, pairs):
    """{vertex: min vertex of its component} — always links the larger
    root under the smaller, so each root is its component's minimum."""
    parent = {v: v for v in ids}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in ids}


def test_cc_labels_converge_on_a_long_path(spark):
    """A 45-vertex path has diameter 44: the minimum label needs 44 hops
    to reach its far end, more than ten rounds of four hops. Labels must
    still be exact — the loop runs until a round changes nothing. Also
    covers a second component and a vertex that is in no pair (its own
    component)."""
    from mapreduce_sm_spark.operators.dedup import _cc_labels

    pairs = [(i, i + 1) for i in range(1, 45)] + [(101, 100), (102, 101)]
    ids = list(range(1, 46)) + [100, 101, 102, 200]
    got = _cc_labels(
        spark.createDataFrame(pairs, "doc_a long, doc_b long"),
        spark.createDataFrame([(v,) for v in ids], "doc_id long"),
    ).collect()
    assert {r.doc_id: r.component for r in got} == _union_find_components(
        ids, pairs
    )


@pytest.mark.parametrize("bits", [32, 60])
def test_simhash_engines_agree_and_skip_letter_free_docs(spark, bits):
    """_simhash_spark and _simhash_sql_cte give equal (doc_id, simhash)
    sets; an empty, a digits-only and a NULL text have no [a-z] token and
    get no signature on either side."""
    import duckdb

    from mapreduce_sm_spark.operators.dedup import (
        _simhash_spark,
        _simhash_sql_cte,
    )

    rows = [
        (1, "en", "the quick brown fox jumps over the lazy dog"),
        (2, "en", ""),
        (3, "en", "12345 678 90"),
        (4, "en", None),
        (5, "de", "Der schnelle braune Fuchs springt"),
        (6, "en", "the quick brown fox jumped over a lazy dog"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        (r.doc_id, r.simhash)
        for r in _simhash_spark(docs, bits).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, lang VARCHAR, text VARCHAR)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    want = set(
        con.sql(
            f"WITH {_simhash_sql_cte(bits)} SELECT doc_id, simhash FROM sig{bits}"
        ).fetchall()
    )
    assert got == want
    assert {d for d, _ in got} == {1, 5, 6}
    assert all(0 <= h < 1 << bits for _, h in got)
