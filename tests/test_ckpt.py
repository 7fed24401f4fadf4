"""engine.ckpt.Generations, the one checkpoint primitive of the fixpoint
loops: it frees exactly the checkpoints it made, never a caller's cached
input, and leaves nothing behind when the loop raises."""

from __future__ import annotations

import pathlib
import random

import pytest
from pyspark.sql import functions as F

from jane_spark.engine import onetask
from jane_spark.engine.ckpt import Generations, persistent_rdd_ids


def _rid(df) -> int:
    return df._jdf.queryExecution().logical().rdd().id()


def _assert_cache_alive(df) -> None:
    """``df.cache()``'s blocks were built and are still registered and
    persisted."""
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    relation = cm.lookupCachedData(df._jdf).get().cachedRepresentation()
    buffers = relation.cacheBuilder()
    assert buffers.isCachedColumnBuffersLoaded()
    rdd = buffers.cachedColumnBuffers()
    assert rdd.id() in persistent_rdd_ids(df.sparkSession)
    assert rdd.getStorageLevel().useMemory()


def test_frees_only_what_it_cut(spark):
    other = spark.range(40).withColumn("x", F.col("id") * 2).cache()
    with Generations(spark) as g:
        first = g.cut(spark.range(10))
        other.count()  # an unrelated cache materializes between cuts
        second = g.cut(first.select((F.col("id") + 1).alias("id")))
        assert _rid(first) not in persistent_rdd_ids(spark)
        assert _rid(second) in persistent_rdd_ids(spark)
    assert _rid(second) not in persistent_rdd_ids(spark)
    _assert_cache_alive(other)
    other.unpersist()


def test_lazy_cut_frees_previous_after_its_probe(spark):
    seen = []

    def probe(mark):
        seen.append(_rid(prev) in persistent_rdd_ids(spark))
        return mark.agg(F.sum("id")).first()[0]

    with Generations(spark) as g:
        prev = g.cut(spark.range(5))
        nxt, total = g.cut(prev.select((F.col("id") * 2).alias("id")), probe)
        assert total == 20 and seen == [True]
        assert _rid(prev) not in persistent_rdd_ids(spark)
        assert _rid(nxt) in persistent_rdd_ids(spark)


def test_raise_frees_everything_it_owns(spark):
    base = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with Generations(spark) as g:
            held = g.hold(spark.range(8))
            lazy = g.hold(held.select("id"), eager=False)
            gen = g.cut(held.filter("id > 2"))
            g.keep(gen.join(lazy, "id"))
            assert len(persistent_rdd_ids(spark) - base) == 3
            raise RuntimeError("boom")
    assert persistent_rdd_ids(spark) == base


def test_result_readable_after_exit(spark):
    base = persistent_rdd_ids(spark)
    with Generations(spark) as g:
        e = g.hold(spark.range(20).withColumn("k", F.col("id") % 4))
        state = g.cut(e.groupBy("k").agg(F.count("*").alias("n")))
        for _ in range(2):
            state = g.cut(state.select("k", (F.col("n") + 1).alias("n")))
        out = g.keep(state.filter("k < 2"))
    assert persistent_rdd_ids(spark) - base == {_rid(state)}
    assert sorted(tuple(r) for r in out.collect()) == [(0, 7), (1, 7)]


def _chain(spark, n=6):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )


def _cc(spark, max_iter):
    from jane_spark.operators.components import connected_components

    edges = _chain(spark).cache()
    got = connected_components(edges, max_iter=max_iter).collect()
    assert {r["comp"] for r in got} == {0}
    return edges


def _pagerank(spark):
    from jane_spark.operators.pagerank import pagerank

    edges = _chain(spark).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).cache()
    assert pagerank(edges, iters=2).count() == 7
    return edges


def _train_bpe(spark):
    from jane_spark.operators.bpe import train_bpe

    docs = spark.createDataFrame(
        [(1, "low lower lowest low"), (2, "new newer newest")],
        ["doc_id", "text"],
    ).cache()
    assert len(train_bpe(docs, n_merges=4)) == 4
    return docs


def _nn_descent(spark):
    from jane_spark.operators.vector import nn_descent_graph

    rng = random.Random(5)
    vectors = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    ).cache()
    graph = nn_descent_graph(vectors, "vec_id", "embedding", degree=3, iters=1)
    assert graph.count() > 0
    return vectors


@pytest.mark.parametrize(
    "run, distributed",
    [
        (lambda s: _cc(s, 25), False),
        (lambda s: _cc(s, 1), False),
        (_pagerank, False),
        (_pagerank, True),
        (_train_bpe, False),
        (_train_bpe, True),
        (_nn_descent, False),
    ],
    ids=[
        "components", "components_star", "pagerank_one_task",
        "pagerank_distributed", "train_bpe_one_task",
        "train_bpe_distributed", "nn_descent",
    ],
)
def test_callers_cache_survives(spark, monkeypatch, run, distributed):
    """A not-yet-materialized ``.cache()`` input is filled by the loop's
    first checkpoint; the loop must not free it afterwards."""
    if distributed:
        monkeypatch.setattr(onetask, "MAX_ROWS", 0)
    cached = run(spark)
    _assert_cache_alive(cached)
    cached.unpersist()


@pytest.mark.parametrize("name", ["q_k27_pagerank", "q_k34_textrank"])
def test_one_task_pagerank_contracts_leave_no_checkpoint(spark, sf_dir, name):
    """On the one-task path PageRank's ranks come back as a local
    relation: building and collecting the contract leaves the registry
    as it was, where a checkpoint of the ranks stayed registered for as
    long as the session lived."""
    from jane_spark.contracts import REGISTRY

    base = persistent_rdd_ids(spark)
    assert REGISTRY[name].spark_fn(spark, sf_dir).collect()
    # earlier tests' leftovers may be freed meanwhile, never added to
    assert persistent_rdd_ids(spark) <= base


def test_only_ckpt_names_the_registry():
    """Checkpoint ids are tracked in one place: no other module under
    jane_spark/ reads or frees the persistent-RDD registry itself."""
    root = pathlib.Path(__file__).resolve().parent.parent / "jane_spark"
    names = ("persistent_rdd_ids", "unpersist_ids", "getPersistentRDDs")
    offenders = [
        f"{path.relative_to(root)}: {name}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "engine" / "ckpt.py"
        for name in names
        if name in path.read_text()
    ]
    assert offenders == []
