"""pipetree_spark.jvm: the reach-in canary and the pin lifecycle.

The canary calls every function of the module against the installed
PySpark and asserts a real answer, so an upgrade that moves a private
API fails here instead of silently dropping a broadcast hint or a scan
floor. Pins are compared as sets of ``getPersistentRDDs`` ids, not
counts: the ContextCleaner unpersists unreachable RDDs on JVM GC.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pipetree_spark import jvm


def _pinned(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _hinted(df) -> bool:
    return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()


def test_reach_in_canary(spark, tmp_path):
    before = _pinned(spark)
    eager = jvm.pin(spark.range(1000))
    lazy = jvm.pin(spark.range(10).selectExpr("id * 2 AS x"), eager=False)
    made = _pinned(spark) - before
    assert len(made) == 2
    size = jvm.stored_bytes(eager)
    assert isinstance(size, int) and size > 0
    assert jvm.stored_bytes(spark.range(3)) is None
    assert _hinted(jvm.broadcast_if_small(spark.range(5), stored=eager))
    assert not _hinted(jvm.broadcast_if_small(spark.range(5), stored=eager, max_bytes=0))

    joined = eager.join(lazy, eager.id == lazy.x)
    assert joined.count() == 10
    assert jvm.release(joined) == made
    assert not _pinned(spark) & made
    # a caller's cached RDD turned into a frame is not a pin
    rdd = spark.sparkContext.parallelize([(1,)]).cache()
    assert jvm.release(spark.createDataFrame(rdd, "a int")) == set()
    rdd.unpersist()

    (tmp_path / "probe.txt").write_text("abc")
    fs, jpath = jvm.hadoop_fs(spark, str(tmp_path / "probe.txt"))
    assert fs.getUri().getScheme() == "file"
    assert fs.getFileStatus(jpath).getLen() == 3


def test_pin_replaces_releases_superseded_state(spark):
    before = _pinned(spark)
    old = jvm.pin(spark.range(50))
    new = jvm.pin(old.select((F.col("id") + 1).alias("id")), replaces=(old, None))
    assert len(_pinned(spark) - before) == 1
    assert new.agg(F.sum("id")).first()[0] == sum(range(1, 51))
    with pytest.raises(ValueError, match="eager"):
        jvm.pin(new, eager=False, replaces=(new,))
    jvm.release(new)
    assert not _pinned(spark) - before


@pytest.mark.parametrize("op, arg", [("cc", 5), ("cc", 40), ("pagerank", 3), ("pagerank", 6)])
def test_iterative_op_leaves_only_the_pin_its_result_reads(spark, op, arg):
    from pipetree_spark.ops.graph import connected_components, pagerank_exact

    before = _pinned(spark)
    if op == "cc":
        out = connected_components(
            spark.createDataFrame([(i, i + 1) for i in range(arg)], "src long, dst long")
        )
    else:
        edges = [(1, 2), (2, 3), (3, 1), (3, 4), (5, 4)]
        out = pagerank_exact(spark.createDataFrame(edges, "src long, dst long"), iters=arg)
    out.collect()
    left = _pinned(spark) - before
    assert len(left) == 1
    assert jvm.release(out) == left


@pytest.mark.parametrize(
    "name",
    [
        "q_dedup_near_lsh", "q_dedup_cluster_lsh", "q_dedup_cc",
        "q_dedup_semantic_ann", "q_vec_ann_pq_ivf", "q_text_decontam_bloom",
        "q_graph_pagerank", "q_text_cjk_segment_dict",
    ],
)
def test_llm_ops_query_releases_every_pin(spark, sf_small, name):
    """Run, collect, release the result: no RDD pinned during the query
    remains, so a long-lived session's executor storage stays bounded."""
    from pipetree_spark.queries import load_registry

    before = _pinned(spark)
    out = load_registry()[name].fn(spark, sf_small)
    out.collect()
    jvm.release(out)
    assert not _pinned(spark) - before
