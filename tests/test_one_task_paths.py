"""PageRank, BPE training and the k-means Lloyd loop (which also fits
product quantization's m codebooks) each have two paths: a table that
fits one task (engine.onetask.in_one_task) runs the whole loop in one
Arrow task, a larger one keeps the distributed loop. Each test forces
both paths through ``onetask.MAX_ROWS`` (its value vs 0), checks which
one produced the result, and requires identical results."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pytest

from jane_spark.engine import onetask
from jane_spark.engine.ckpt import persistent_rdd_ids
from jane_spark.operators import bpe
from jane_spark.operators import pagerank as pr
from jane_spark.operators import semdedup as sd
from jane_spark.operators import vector as vec
from tests.test_bpe import py_train_bpe


def _distributed(monkeypatch):
    """Every non-empty table counts as too large for one task."""
    monkeypatch.setattr(onetask, "MAX_ROWS", 0)


def _spy_one_task(monkeypatch, module, one_task_fn: str) -> list:
    """Records each call of ``module.one_task_fn``: True when the one
    task produced the result, False when the table did not fit it (the
    function returned None), "raised" when it raised."""
    calls = []
    real = getattr(module, one_task_fn)

    def spy(*args, **kwargs):
        try:
            got = real(*args, **kwargs)
        except Exception:
            calls.append("raised")
            raise
        calls.append(got is not None)
        return got

    monkeypatch.setattr(module, one_task_fn, spy)
    return calls


def _both_paths(monkeypatch, module, one_task_fn: str, run):
    """``run()`` on the one-task path, then on the distributed path;
    a spy on ``module.one_task_fn`` proves which path each result came
    from."""
    calls = _spy_one_task(monkeypatch, module, one_task_fn)
    one = run()
    assert calls == [True], "small table: one-task path expected"
    _distributed(monkeypatch)
    dist = run()
    assert calls == [True, False], "MAX_ROWS 0: distributed path expected"
    return one, dist


def _assert_nothing_added(spark, base: set) -> None:
    """No checkpoint beyond ``base`` is registered. Spark's context
    cleaner may free an earlier test's leftover meanwhile, so the
    registry may shrink."""
    assert persistent_rdd_ids(spark) <= base


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
    calls = _spy_one_task(monkeypatch, pr, "_ranks_in_one_task")
    base = persistent_rdd_ids(spark)
    with pytest.raises(Exception, match=error):
        pr.pagerank(edges, weight="w")
    assert calls == ["raised"]
    _assert_nothing_added(spark, base)
    _distributed(monkeypatch)
    with pytest.raises(Exception, match=error):
        pr.pagerank(edges, weight="w")
    assert calls == ["raised", False]
    _assert_nothing_added(spark, base)


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


def test_pagerank_empty_edges_raise_alike_and_leave_no_checkpoint(
    spark, monkeypatch
):
    """An empty edge table fits one task at any ``MAX_ROWS``, and the
    task finds no node; double node ids take the distributed loop,
    whose node count is 0. Each raises the same ValueError and frees
    the edge table's checkpoint."""
    calls = _spy_one_task(monkeypatch, pr, "_ranks_in_one_task")
    base = persistent_rdd_ids(spark)

    def raises(ids):
        edges = spark.createDataFrame([], f"src {ids}, dst {ids}, w bigint")
        with pytest.raises(ValueError, match="edge table is empty"):
            pr.pagerank(edges, weight="w")
        _assert_nothing_added(spark, base)

    raises("string")
    raises("double")
    _distributed(monkeypatch)
    raises("string")
    assert calls == ["raised", "raised"]


def test_runner_fits_up_to_each_bound_and_ignores_join_settings(
    spark, monkeypatch
):
    """``in_one_task`` runs ``fn`` on a table of exactly ``MAX_ROWS``
    rows, or ``MAX_CELLS`` elements of the ``cells`` array column (a
    NULL array counts 0); one more row or element returns None and
    ``fn`` never runs. The bound is a row count, not a broadcast-join
    setting, and an empty table fits."""

    def rows(t):
        return pa.table({"rows": pa.array([t.num_rows], pa.int64())})

    def never(t):
        raise AssertionError("fn ran on a table over the bound")

    def fitted(df, fn, cells=None):
        got = onetask.in_one_task(df, fn, cells)
        return None if got is None else got.column("rows")[0].as_py()

    df = spark.range(7)
    monkeypatch.setattr(onetask, "MAX_ROWS", 7)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert fitted(df, rows) == 7
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert fitted(spark.range(0), rows) == 0
    monkeypatch.setattr(onetask, "MAX_ROWS", 6)
    assert fitted(df, never) is None

    vecs = spark.createDataFrame(
        [(i, [0.5] * 4) for i in range(5)] + [(5, None)],
        "id long, v array<double>",
    )
    monkeypatch.setattr(onetask, "MAX_CELLS", 20)
    assert fitted(vecs, rows, "v") == 6
    monkeypatch.setattr(onetask, "MAX_CELLS", 19)
    assert fitted(vecs, never, "v") is None
    assert fitted(vecs, rows) == 6  # no cells column, no cell bound


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


# -------------------------------------------------------------- k-means


def _fit_both_paths(spark, monkeypatch, rows, schema, k, iters):
    """``kmeans_fit`` on each path: (centroids as exact bit patterns,
    sorted assignment) per path."""
    df = spark.createDataFrame(rows, schema)

    def run():
        assign, cents = sd.kmeans_fit(df, "id", "v", k=k, iters=iters)
        bits = [[float(x).hex() for x in cv] for cv in cents]
        return bits, sorted(tuple(r) for r in assign.collect())

    return _both_paths(monkeypatch, sd, "_centroids_in_one_task", run)


@pytest.mark.parametrize(
    "n, dim, k, iters",
    [(60, 5, 4, 0), (60, 5, 4, 1), (90, 16, 7, 5), (25, 3, 3, 5)],
)
def test_kmeans_paths_identical_on_random_float32(
    spark, monkeypatch, n, dim, k, iters
):
    rng = np.random.RandomState(n + dim + iters)
    vecs = rng.randn(n, dim).astype(np.float32)
    ids = rng.permutation(10 * n)[:n]  # unordered, gapped ids
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    one, dist = _fit_both_paths(
        spark, monkeypatch, rows, "id bigint, v array<float>", k, iters
    )
    assert one == dist
    assert len(one[0]) == k and len(one[1]) == n
    if iters == 0:  # the seeds: the k smallest ids' vectors, in id order
        seeds = [r[1] for r in sorted(rows)[:k]]
        assert one[0] == [[x.hex() for x in cv] for cv in seeds]


def test_kmeans_paths_break_distance_ties_alike(spark, monkeypatch):
    """[1, 0] is equidistant from the seeds [0, 0] and [2, 0]: both
    paths give it to the smaller centroid id."""
    rows = [(0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])]
    one, dist = _fit_both_paths(
        spark, monkeypatch, rows, "id int, v array<double>", 2, 1
    )
    assert one == dist
    assert one[0] == [
        [x.hex() for x in cv] for cv in ([0.666666667, 0.0], [2.0, 0.0])
    ]


def test_kmeans_paths_fold_distances_in_dimension_order(spark, monkeypatch):
    """The two seeds hold the same coordinates in a different order, so
    their distances to the zero vector differ only in summation order:
    the left fold puts it nearer seed 1, a pairwise sum nearer seed 0."""
    a = [0.549, 0.715, 0.603, 0.545, 0.424, 0.646, 0.438, 0.892,
         0.964, 0.383, 0.792, 0.529, 0.568, 0.926, 0.071, 0.087]
    b = [0.529, 0.892, 0.792, 0.424, 0.438, 0.568, 0.383, 0.715,
         0.964, 0.926, 0.603, 0.071, 0.646, 0.087, 0.549, 0.545]
    rows = [(0, a), (1, b), (2, [0.0] * 16)]
    one, dist = _fit_both_paths(
        spark, monkeypatch, rows, "id long, v array<double>", 2, 1
    )
    assert one == dist
    assert one[0][0] == [x.hex() for x in a]  # seed 0 kept no member
    assert one[1] == [(0, 0), (1, 1), (2, 1)]


def test_kmeans_paths_round_half_up_on_the_decimal_string(
    spark, monkeypatch
):
    """Means at an exact 9 dp tie round away from zero (2**-10 is
    0.0009765625), and a mean that rounds to zero is +0.0."""
    t = 2.0**-10
    rows = [
        (0, [t, -t, 0.0]), (1, [5.0, 5.0, 5.0]),
        (2, [t, -t, -3e-12]), (3, [5.0, 5.0, 5.0]),
    ]
    one, dist = _fit_both_paths(
        spark, monkeypatch, rows, "id long, v array<double>", 2, 2
    )
    assert one == dist
    assert one[0][0] == [x.hex() for x in (0.000976563, -0.000976563, 0.0)]


@pytest.mark.parametrize("k", [4, 9])
def test_kmeans_paths_keep_empty_clusters_and_extra_k(spark, monkeypatch, k):
    """Three seeds share [1, 1]: the first takes their points, the last
    never gets a member and keeps its coordinates; k beyond the row
    count fits one centroid per row."""
    rows = [
        (0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [4.0, 0.5]),
        (3, [1.0, 1.0]), (4, [4.0, 0.5]), (5, [0.0, 3.0]),
    ]
    one, dist = _fit_both_paths(
        spark, monkeypatch, rows, "id long, v array<double>", k, 5
    )
    assert one == dist
    assert len(one[0]) == min(k, len(rows))
    assert one[0][3] == [x.hex() for x in (1.0, 1.0)]
    assert 3 not in {c for _, c in one[1]}


def test_kmeans_string_ids_seed_in_code_point_order(spark, monkeypatch):
    rows = [("é", [0.0]), ("z", [1.0]), ("😀", [2.0]), ("a", [3.0])]
    one, dist = _fit_both_paths(
        spark, monkeypatch, rows, "id string, v array<float>", 2, 0
    )
    assert one == dist
    assert one[0] == [[(3.0).hex()], [(1.0).hex()]]


def _spy_on_both_loops(monkeypatch) -> list:
    """Records ``(loop, per-slice fitted?)`` for every call of the
    one-task and the distributed Lloyd loop that returns; ``(loop,
    None)`` when the vectors did not fit one task."""
    calls = []
    for fn in ("_centroids_in_one_task", "_centroids_distributed"):
        real = getattr(sd, fn)

        def spy(*a, _fn=fn, _real=real):
            got = _real(*a)
            fitted = None if got is None else [book is not None for book in got]
            calls.append((_fn, fitted))
            return got

        monkeypatch.setattr(sd, fn, spy)
    return calls


@pytest.mark.parametrize(
    "rows",
    [
        [(0, [1.0, 2.0]), (1, [0.5, 0.5]), (2, [float("nan"), 1.0])],
        [(0, [1.0, 2.0]), (1, [0.5, 0.5]), (2, [float("-inf"), 1.0])],
        [(0, [1.0, 2.0]), (0, [3.0, 1.0]), (2, [0.5, 0.5])],
        [(None, [1.0, 2.0]), (1, [3.0, 1.0]), (2, [0.5, 0.5])],
    ],
    ids=["nan", "inf", "tied_seed_ids", "null_id"],
)
def test_kmeans_inputs_the_twin_cannot_reproduce_run_distributed(
    spark, monkeypatch, rows
):
    """The one task gives up (no rows back) and the distributed loop
    fits the centroids, as it does with ``MAX_ROWS = 0``; both runs
    return the same centroids in the same order (tied seed ids take
    their vectors in vector order)."""
    calls = _spy_on_both_loops(monkeypatch)
    df = spark.createDataFrame(rows, "id long, v array<double>")

    def fit():
        cents = sd.kmeans_fit(df, "id", "v", k=2, iters=2)[1]
        return [[float(x).hex() for x in cv] for cv in cents]

    got = fit()
    assert calls == [
        ("_centroids_in_one_task", [False]), ("_centroids_distributed", [True])
    ]
    _distributed(monkeypatch)
    assert fit() == got
    assert calls[2:] == [
        ("_centroids_in_one_task", None), ("_centroids_distributed", [True])
    ]


@pytest.mark.parametrize(
    "rows",
    [
        [(0, [1.0, 2.0]), (1, [0.5, 0.5]), (2, None)],
        [(0, [1.0, 2.0]), (1, [0.5, 0.5]), (2, [None, 1.0])],
        [(0, [1.0, 2.0]), (1, [0.5, 0.5]), (2, [3.0])],
        [(0, [1.0, 2.0]), (1, [0.5, 0.5]), (2, [3.0, 1.0, 2.0])],
        # without the raise, [9.0] went to cluster 0 and dragged
        # centroid 0 to [4.5, 0.0]
        [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [9.0])],
    ],
    ids=["null_vector", "null_element", "ragged", "long", "short_far"],
)
def test_kmeans_vectors_without_a_distance_raise_naming_the_column(
    spark, monkeypatch, rows
):
    """A vector that is NULL, holds a NULL element or differs in length
    from the centroids has no distance to them: the distributed loop
    (where the one task sends it) raises a ValueError naming the vector
    column instead of putting it in cluster 0."""
    calls = _spy_on_both_loops(monkeypatch)
    df = spark.createDataFrame(rows, "id long, v array<double>")
    with pytest.raises(ValueError, match="'v'"):
        sd.kmeans_fit(df, "id", "v", k=2, iters=2)
    assert calls == [("_centroids_in_one_task", [False])]
    _distributed(monkeypatch)
    with pytest.raises(ValueError, match="'v'"):
        sd.kmeans_fit(df, "id", "v", k=2, iters=2)
    assert calls[1:] == [("_centroids_in_one_task", None)]


@pytest.mark.parametrize(
    "seed", [None, [None, 1.0]], ids=["null_vector", "null_element"]
)
def test_kmeans_null_seed_raises_naming_the_column(spark, monkeypatch, seed):
    """A NULL vector or element among the k smallest ids cannot seed the
    loop: both paths raise a ValueError that names the vector column."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, seed), (2, [0.5, 0.5])], "id long, v array<double>"
    )
    with pytest.raises(ValueError, match="'v'"):
        sd.kmeans_fit(df, "id", "v", k=2, iters=2)
    _distributed(monkeypatch)
    with pytest.raises(ValueError, match="'v'"):
        sd.kmeans_fit(df, "id", "v", k=2, iters=2)


def test_kmeans_wide_tables_and_empty_tables_skip_the_task(
    spark, monkeypatch
):
    """More than ``MAX_CELLS`` vector elements keeps the distributed
    loop at any row count (the task does not fit them); an empty table
    fits one task on either path and raises without running the
    distributed loop's seed job."""
    calls = _spy_on_both_loops(monkeypatch)
    df = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(5)], "id long, v array<double>"
    )
    monkeypatch.setattr(onetask, "MAX_CELLS", 19)
    wide = sd.kmeans_fit(df, "id", "v", k=2, iters=2)[1]
    assert calls == [
        ("_centroids_in_one_task", None), ("_centroids_distributed", [True])
    ]
    monkeypatch.setattr(onetask, "MAX_CELLS", 20)
    assert sd.kmeans_fit(df, "id", "v", k=2, iters=2)[1] == wide
    assert calls[2:] == [("_centroids_in_one_task", [True])]
    empty = spark.createDataFrame([], "id long, v array<double>")
    with pytest.raises(ValueError, match="empty"):
        sd.kmeans_fit(empty, "id", "v", k=2, iters=2)
    _distributed(monkeypatch)
    with pytest.raises(ValueError, match="empty"):
        sd.kmeans_fit(empty, "id", "v", k=2, iters=2)
    assert calls[3:] == [("_centroids_in_one_task", [True])] * 2


# ------------------------------------------------ product quantization


def _pq_fit_both_paths(spark, monkeypatch, rows, dim, m, iters=3):
    """``pq_fit`` on each path: (codebooks as exact bit patterns,
    sorted codes) per path."""
    df = spark.createDataFrame(rows, "id bigint, v array<float>")

    def run():
        codes, books = vec.pq_fit(df, "id", "v", dim=dim, m=m, k=3, iters=iters)
        bits = [[[float(x).hex() for x in cv] for cv in book] for book in books]
        return bits, sorted(tuple(r) for r in codes.collect())

    return _both_paths(monkeypatch, sd, "_centroids_in_one_task", run)


def _random_rows(seed: int, n: int, dim: int) -> list[tuple]:
    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, dim).astype(np.float32)
    ids = rng.permutation(10 * n)[:n]
    return [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]


@pytest.mark.parametrize("m", [1, 2, 4])
def test_pq_fit_paths_identical_on_random_float32(spark, monkeypatch, m):
    """All m codebooks fit in one call: the one task and the merged
    distributed rounds give bit-identical codebooks and codes."""
    rows = _random_rows(m, 48, 8)
    one, dist = _pq_fit_both_paths(spark, monkeypatch, rows, 8, m)
    assert one == dist
    assert len(one[0]) == m and all(len(book) == 3 for book in one[0])
    assert len(one[1]) == len(rows) and len(one[1][0]) == m + 1


def test_pq_fit_sends_only_a_nan_subspace_to_the_distributed_loop(
    spark, monkeypatch
):
    """A NaN the twin cannot reproduce lies in subspace 2 only: the one
    task fits the other three, the distributed loop fits subspace 2
    alone, and the codebooks equal an all-distributed run's."""
    rows = _random_rows(7, 40, 8)
    rows[5][1][4] = float("nan")
    calls = _spy_on_both_loops(monkeypatch)
    df = spark.createDataFrame(rows, "id bigint, v array<float>")

    def books():
        got = vec.pq_fit(df, "id", "v", dim=8, m=4, k=3, iters=2)[1]
        return [[[float(x).hex() for x in cv] for cv in b] for b in got]

    mixed = books()
    assert calls == [
        ("_centroids_in_one_task", [True, True, False, True]),
        ("_centroids_distributed", [True]),
    ]
    _distributed(monkeypatch)
    assert books() == mixed
    assert calls[2:] == [
        ("_centroids_in_one_task", None), ("_centroids_distributed", [True] * 4)
    ]


def _jobs_in_group(spark, group: str, run) -> int:
    """Jobs that ``run()`` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_task_kmeans_fit_builds_in_two_jobs(spark, monkeypatch):
    """A one-task fit is one action: the runner's limit exchange (a
    map-stage job under AQE, which get_spark pins) and its task; a
    size check of its own would add jobs."""
    calls = _spy_on_both_loops(monkeypatch)
    df = spark.createDataFrame(_random_rows(3, 40, 8), "id bigint, v array<float>")
    df.count()
    jobs = _jobs_in_group(
        spark, "kmeans-one-task-jobs",
        lambda: sd.kmeans_fit(df, "id", "v", k=3, iters=4),
    )
    assert calls == [("_centroids_in_one_task", [True])]
    assert jobs == 2, jobs


def test_distributed_pq_fit_jobs_do_not_grow_with_m(spark, monkeypatch):
    """The distributed loop fits every subspace in the same rounds: the
    one-task runner's action (which finds the table too large), one
    seed collect and one collect per round, whatever m is. With AQE on
    (get_spark pins it), the runner's and each round's shuffle add a
    map-stage job: 2 * iters + 3 jobs, where m separate fits would run
    m times that."""
    _distributed(monkeypatch)
    df = spark.createDataFrame(_random_rows(11, 40, 8), "id bigint, v array<float>")
    df.count()
    iters = 2
    jobs = {
        m: _jobs_in_group(
            spark, f"pq-fit-jobs-{m}",
            lambda m=m: vec.pq_fit(df, "id", "v", dim=8, m=m, k=3, iters=iters),
        )
        for m in (1, 4)
    }
    assert jobs[4] == jobs[1] <= 2 * iters + 3, jobs
