"""PageRank and BPE training each have two paths: a table that fits one
task (engine.onetask) runs the whole loop in one Arrow task, a larger
one keeps the distributed loop. Each test forces both paths through
``onetask.MAX_ROWS`` (its value vs 0), checks which one ran, and
requires identical results."""

from __future__ import annotations

import random

import pytest

from jane_spark.engine import onetask
from jane_spark.engine.ckpt import persistent_rdd_ids
from jane_spark.operators import bpe
from jane_spark.operators import pagerank as pr
from tests.test_bpe import py_train_bpe


def _distributed(monkeypatch):
    """Every non-empty table counts as too large for one task."""
    monkeypatch.setattr(onetask, "MAX_ROWS", 0)


def _both_paths(monkeypatch, module, one_task_fn: str, run):
    """``run()`` on the one-task path, then on the distributed path;
    a spy on ``module.one_task_fn`` proves which path each call took."""
    calls = []
    real = getattr(module, one_task_fn)

    def spy(*args, **kwargs):
        calls.append(one_task_fn)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, one_task_fn, spy)
    one = run()
    assert calls == [one_task_fn], "small table: one-task path expected"
    _distributed(monkeypatch)
    dist = run()
    assert calls == [one_task_fn], "MAX_ROWS 0: distributed path expected"
    return one, dist


def _ranks(spark, monkeypatch, rows, schema, **kw):
    edges = spark.createDataFrame(rows, schema)

    def run():
        got = pr.pagerank(edges, weight="w", **kw).collect()
        return sorted(
            (tuple(r) for r in got), key=lambda t: (t[0] is None, str(t[0]))
        )

    return _both_paths(monkeypatch, pr, "_ranks_in_one_task", run)


def _random_graph(seed: int, node_id) -> list[tuple]:
    rng = random.Random(seed)
    n = 14
    # the last three nodes have no out-edges (dangling)
    rows = [
        (
            node_id(rng.randrange(n - 3)),
            node_id(rng.randrange(n)),
            rng.randint(1, 9),
        )
        for _ in range(40)
    ]
    # repeated (src, dst) rows exercise the weight aggregation
    return rows + rows[:5]


@pytest.mark.parametrize(
    "ids, iters, damping",
    [
        ("string", 1, (85, 100)),
        ("bigint", 5, (99, 100)),
        ("string", 12, (1, 2)),
    ],
)
def test_pagerank_paths_identical_on_random_graphs(
    spark, monkeypatch, ids, iters, damping
):
    def node_id(i):
        return f"n{i}" if ids == "string" else i * 1_000_003

    rows = _random_graph(iters, node_id)
    one, dist = _ranks(
        spark, monkeypatch, rows, f"src {ids}, dst {ids}, w bigint",
        iters=iters, damping=damping,
    )
    assert one == dist
    assert len(one) == len({r[0] for r in rows} | {r[1] for r in rows})


def test_pagerank_paths_identical_on_negative_and_null_weights(
    spark, monkeypatch
):
    """Negative contributions (``div`` truncates toward zero), NULL
    weights (``sum`` skips them; "c" has only NULL weights, so it is not
    dangling and its mass is lost) and a NULL node id (ranked, but no
    equi-join matches it)."""
    rows = [
        ("a", "b", 3), ("a", "c", -1), ("a", "d", 7),
        ("b", "c", None), ("b", "a", 2),
        ("c", "a", None), ("c", "b", None),
        ("d", "a", -50), ("d", "e", 51),
        (None, "a", 4), ("e", None, 6),
    ]
    one, dist = _ranks(
        spark, monkeypatch, rows, "src string, dst string, w bigint", iters=4
    )
    assert one == dist
    assert [r[0] for r in one] == ["a", "b", "c", "d", "e", None]
    assert any(r[1] < 0 for r in one)  # negative ranks reached


@pytest.mark.parametrize(
    "rows, error",
    [
        # out-weight of "a" is 3 + (-3) = 0: x div 0
        ([("a", "b", 3), ("a", "c", -3), ("b", "a", 1)], "DIVIDE_BY_ZERO"),
        # rank * 2^62 leaves int64
        ([("a", "b", 2**62), ("b", "a", 1)], "ARITHMETIC_OVERFLOW"),
    ],
    ids=["zero_out_weight", "int64_overflow"],
)
def test_pagerank_paths_raise_alike(spark, monkeypatch, rows, error):
    """Both paths raise the same error and leave no checkpoint behind."""
    edges = spark.createDataFrame(rows, "src string, dst string, w bigint")
    calls = []
    real = pr._ranks_in_one_task
    monkeypatch.setattr(
        pr, "_ranks_in_one_task", lambda *a: calls.append(1) or real(*a)
    )
    base = persistent_rdd_ids(spark)
    with pytest.raises(Exception, match=error):
        pr.pagerank(edges, weight="w")
    assert calls == [1]
    assert persistent_rdd_ids(spark) == base
    _distributed(monkeypatch)
    with pytest.raises(Exception, match=error):
        pr.pagerank(edges, weight="w")
    assert calls == [1]
    assert persistent_rdd_ids(spark) == base


def test_pagerank_paths_identical_without_ansi(spark, monkeypatch):
    """With ANSI off the SQL loop wraps on int64 overflow and gives NULL
    for x div 0 (that contribution is skipped); the one-task path
    follows the session's mode."""
    rows = [
        ("a", "b", 3), ("a", "c", -3), ("b", "a", 1),
        ("c", "d", 2**62), ("d", "c", 1),
    ]
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        one, dist = _ranks(
            spark, monkeypatch, rows, "src string, dst string, w bigint"
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert one == dist


def test_pagerank_float_ids_keep_distributed_loop(spark, monkeypatch):
    """Spark groups -0.0 with 0.0 and NaN with NaN, Python's dict does
    not: double node ids stay on the distributed loop at any size."""
    calls = []
    monkeypatch.setattr(pr, "_ranks_in_one_task", lambda *a: calls.append(1))
    edges = spark.createDataFrame(
        [(0.0, 1.5, 1), (-0.0, 2.5, 1), (1.5, 0.0, 2)],
        "src double, dst double, w bigint",
    )
    got = pr.pagerank(edges, weight="w", iters=1).collect()
    assert calls == [] and {r.node for r in got} == {0.0, 1.5, 2.5}


def test_pagerank_empty_edges_raise_before_python(spark, monkeypatch):
    calls = []
    monkeypatch.setattr(pr, "_ranks_in_one_task", lambda *a: calls.append(1))
    edges = spark.createDataFrame([], "src string, dst string, w bigint")
    with pytest.raises(ValueError, match="empty"):
        pr.pagerank(edges, weight="w")
    _distributed(monkeypatch)
    with pytest.raises(ValueError, match="empty"):
        pr.pagerank(edges, weight="w")
    assert calls == []


def test_gate_counts_up_to_the_bound_and_ignores_join_settings(
    spark, monkeypatch
):
    """The bound is a row count, not a broadcast-join setting: turning
    broadcast joins off leaves a small table on the one-task path."""
    df = spark.range(7)
    monkeypatch.setattr(onetask, "MAX_ROWS", 7)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert onetask.one_task_rows(df) == 7
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert onetask.one_task_rows(spark.range(0)) == 0
    monkeypatch.setattr(onetask, "MAX_ROWS", 6)
    assert onetask.one_task_rows(df) is None


# ------------------------------------------------------------------ BPE

_ALPHABET = ["a", "b", "c", "é", "😀", "𝔸", "x"]


def _random_corpus(seed: int) -> list[str]:
    rng = random.Random(seed)
    words = [
        "".join(rng.choice(_ALPHABET) for _ in range(rng.randint(1, 5)))
        for _ in range(12)
    ]
    return [" ".join(rng.choice(words) for _ in range(8)) for _ in range(6)]


@pytest.mark.parametrize("n_merges", [1, 5, 30])
def test_train_bpe_paths_identical_and_match_twin(
    spark, monkeypatch, n_merges
):
    texts = _random_corpus(n_merges)
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    one, dist = _both_paths(
        monkeypatch, bpe, "_merges_in_one_task",
        lambda: bpe.train_bpe(docs, n_merges),
    )
    want = py_train_bpe(texts, n_merges)
    assert one == dist == want
    if n_merges == 30:
        # the corpus runs dry first: the cnt < 2 stop ends both loops
        assert 0 < len(want) < 30
    # non-BMP characters stay whole symbols
    assert any(ch in m[0] + m[1] for m in want for ch in ("😀", "𝔸", "é"))
