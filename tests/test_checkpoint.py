"""checkpoint_df's cluster-real switch: SPARKSM_CHECKPOINT_DIR must route
iterative lineage truncation through reliable df.checkpoint() into the
given directory (VERDICT r3 item 10 — localCheckpoint blocks are
executor-local and don't survive executor loss on a real cluster)."""

from __future__ import annotations

import os


def _tiny_pairs(spark):
    # two chains and an isolated-from-pairs vertex: {1,2,3}, {10,11}
    return spark.createDataFrame(
        [(2, 1), (3, 2), (11, 10)], "doc_a long, doc_b long"
    )


def _tiny_vertices(spark):
    return spark.createDataFrame(
        [(v,) for v in (1, 2, 3, 10, 11)], "doc_id long"
    )


def _expected_labels():
    return {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_local_checkpoint_default(spark, monkeypatch):
    from mapreduce_sm_spark.operators.dedup import _cc_labels

    monkeypatch.delenv("SPARKSM_CHECKPOINT_DIR", raising=False)
    labels = _cc_labels(_tiny_pairs(spark), _tiny_vertices(spark))
    got = {r.doc_id: r.component for r in labels.collect()}
    assert got == _expected_labels()


def test_reliable_checkpoint_dir(spark, monkeypatch, tmp_path):
    import mapreduce_sm_spark.session as sess
    from mapreduce_sm_spark.operators.dedup import _cc_labels

    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setenv("SPARKSM_CHECKPOINT_DIR", ckpt)
    monkeypatch.setattr(sess, "_CHECKPOINT_DIR_SET", False)

    labels = _cc_labels(_tiny_pairs(spark), _tiny_vertices(spark))
    got = {r.doc_id: r.component for r in labels.collect()}
    assert got == _expected_labels()

    # reliable checkpoints must have landed under the configured directory
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt)
        for f in fs
    ]
    assert files, "no reliable checkpoint files written under SPARKSM_CHECKPOINT_DIR"


def test_checkpoint_preserves_hash_partitioning(spark):
    """Pins the arc side of a connected-components hop (_min_label_hop
    over the checkpointed arc frame of _cc_labels; the pagerank edge
    frame takes the same join): a small label frame joined to a
    checkpointed (src, dst) frame on src and aggregated on dst adds no
    exchange on the checkpointed side, so the only hash exchange left is
    the dst aggregate's. What keeps the arc side in place is the
    broadcast of the small label side, not the repartition on src: Spark
    reports UnknownPartitioning for a frame checkpointed from an adaptive
    plan, so a sort-merge join against it does shuffle it on src (once
    per round in _cc_labels, as tests/test_dedup_kernels.py guards). The
    test keeps its historical name."""
    from pyspark.sql import functions as F

    from mapreduce_sm_spark.session import checkpoint_df

    e = spark.range(10000).select(
        (F.col("id") % 100).alias("src"), (F.col("id") % 77).alias("dst")
    )
    ck = checkpoint_df(e.repartition("src"))
    lbl = spark.range(100).select(
        F.col("id").alias("src"), F.col("id").alias("comp")
    )
    j = ck.join(lbl, "src").groupBy("dst").agg(F.min("comp").alias("m"))
    j.collect()
    plan = (
        j._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    # the checkpointed side must NOT be re-exchanged on the join key;
    # the only hash exchange left is the dst aggregate's
    assert "Exchange hashpartitioning(src" not in plan, plan
    assert "Exchange hashpartitioning(dst" in plan
