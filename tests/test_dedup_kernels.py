"""Shared near-dup kernels of operators/dedup.py checked against
independent references: _cc_labels against a Python union-find (a long
path and Hypothesis-drawn pair sets), the plan shape of one connected-
components round, and the Spark SimHash signature against its DuckDB
rendering at both widths."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st


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


def _cc_of(spark, pairs, ids):
    from mapreduce_sm_spark.operators.dedup import _cc_labels

    got = _cc_labels(
        spark.createDataFrame(pairs, "doc_a long, doc_b long"),
        spark.createDataFrame([(v,) for v in ids], "doc_id long"),
    ).collect()
    return {r.doc_id: r.component for r in got}


def test_cc_labels_converge_on_a_long_path(spark):
    """A 45-vertex path has diameter 44: the minimum label needs 44 hops
    to reach its far end, more than ten rounds of four hops. Labels must
    still be exact — the loop runs until a round changes nothing. Also
    covers a second component and a vertex that is in no pair (its own
    component)."""
    pairs = [(i, i + 1) for i in range(1, 45)] + [(101, 100), (102, 101)]
    ids = list(range(1, 46)) + [100, 101, 102, 200]
    assert _cc_of(spark, pairs, ids) == _union_find_components(ids, pairs)


_vertex = st.integers(0, 7)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(st.tuples(_vertex, _vertex), max_size=10),
    isolated=st.sets(_vertex, max_size=3),
)
@example(pairs=[], isolated={0, 5})
@example(pairs=[(1, 2), (1, 2), (2, 1), (4, 5), (5, 6)], isolated={7})
def test_cc_labels_match_union_find(spark, pairs, isolated):
    """Pair sets over at most 8 vertices, with duplicate pairs, both
    orientations of a pair, self-pairs, vertices in no pair and the empty
    pair frame (every vertex is then its own component)."""
    ids = sorted({v for p in pairs for v in p} | isolated)
    assert _cc_of(spark, pairs, ids) == _union_find_components(ids, pairs)


def _plan_nodes(plan):
    """(depth, node) per line of a physical plan string: depth is the
    width of the tree-drawing prefix, node drops the codegen stage tag."""
    nodes = []
    for line in plan.splitlines():
        m = re.match(r"([ :+-]*)(?:\*\(\d+\) )?(.*)", line)
        nodes.append((len(m.group(1)), m.group(2)))
    return nodes


def _arc_shuffles(nodes):
    """The Exchange nodes that shuffle the arc frame itself: an Exchange
    whose subtree is only Filter/Scan nodes over the (src, dst) scan."""
    found = []
    for i, (depth, node) in enumerate(nodes):
        if not node.startswith("Exchange "):
            continue
        below = []
        for d, n in nodes[i + 1 :]:
            if d <= depth:
                break
            below.append(n)
        if any(n.startswith("Scan ExistingRDD[src") for n in below) and all(
            n.startswith(("Filter", "Scan")) for n in below
        ):
            found.append(node)
    return found


def test_cc_round_plan_reads_labels_once_per_hop(spark):
    """Plan-shape guard of one connected-components round: four
    _min_label_hop calls over the checkpointed arc frame, starting from a
    checkpointed label frame (the shape of every round after the first).
    The planned round holds at most 9 Exchange nodes — one per hop's
    aggregate, one per hop's arc side, one for the checkpointed labels;
    a hop that reads the labels twice nests 2^4 copies of them and
    planned 46. The executed round shuffles the arc frame once, every
    other hop reusing that exchange."""
    from mapreduce_sm_spark.operators.dedup import _cc_arcs, _min_label_hop
    from mapreduce_sm_spark.session import checkpoint_df

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], "doc_a long, doc_b long"
    )
    arcs = _cc_arcs(pairs)
    labels = checkpoint_df(
        spark.createDataFrame(
            [(v, v) for v in range(1, 21)], "doc_id long, component long"
        )
    )
    for _hop in range(4):
        labels = _min_label_hop(arcs, labels)
    labels.collect()
    final, initial = (
        labels._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")
    )
    planned = [n for _, n in _plan_nodes(initial) if n.startswith("Exchange ")]
    assert len(planned) <= 9, initial
    assert len(_arc_shuffles(_plan_nodes(final))) == 1, final


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
