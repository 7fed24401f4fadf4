"""SemDeDup-style semantic deduplication over embedding columns
(SURVEY.md §2 K north-star, round 6).

Public recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication"): k-means-cluster the corpus
embeddings, then look for near-duplicate pairs ONLY within a cluster —
the cluster bound turns the quadratic pair search into a sum of small
quadratics, which is what makes semantic dedup feasible at 100 TB.

Two pieces, composable:

- ``kmeans_assign`` / ``kmeans_fit`` — a deterministic Lloyd's
  iteration (no MLlib dependency, no RNG: centroids initialize from
  the k smallest-id vectors, ties break toward the smaller centroid
  id, and each update rounds the mean to 9 dp, so the assignment is
  reproducible across runs and cluster sizes).
- ``semantic_dedup`` — within given clusters, a document is a
  duplicate iff some SMALLER-id member of its cluster has cosine
  similarity >= threshold (greedy keep-first in id order — the
  deterministic analogue of SemDeDup's keep-one-per-ball). Returns
  every id with its verdict, so callers can filter or audit.

Cluster assignment can come from ``kmeans_assign`` or from any
existing label column — the dedup stage is agnostic.

One Lloyd loop, two places to run it. :func:`_kmeans_loop` fits k
centroids to each of ``m`` equal-width slices of the vector at once:
``kmeans_fit`` is the ``m = 1`` whole-vector case, and product
quantization (``vector.pq_fit``) fits its m codebooks in the same
call. Run as Spark jobs the loop is one seed collect plus one collect
per round whatever the corpus size. So when the vectors fit one task
(``engine.onetask.in_one_task``: at most ``MAX_ROWS`` rows and
``MAX_CELLS`` elements of one slice, bounds set from measured timings
of both paths), one Python task runs the seeding and every round of
every slice (:func:`_lloyd`) with the SQL loop's arithmetic: the
left-folded squared-L2, the smaller-id tie-break, and Spark's HALF_UP
``round(avg, 9)``. Only the k×d centroids come back; the assignment
either path returns is the same lazy SQL projection against them.
Larger tables, ids whose Python order is not Spark's, and slices the
twin cannot reproduce exactly (NULL vectors or elements, NaN,
infinities, ragged lengths, tied seed ids) go to the distributed
loop, which fits every such slice in the same rounds and is also the
reference for the parity tests. A vector
that is NULL, holds a NULL element or differs in length from the
centroids has no distance to them: fitting raises ``ValueError``
rather than put it in some cluster.
"""

from __future__ import annotations

import decimal
import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType

from jane_spark.engine.onetask import in_one_task
from jane_spark.functions.arrays import cosine_from_norms, norm


def _sql_darr(vals) -> str:
    """SQL double-array literal ``array(CAST('…' AS DOUBLE), …)``:
    ``repr(x)`` is the shortest decimal that round-trips to the same
    IEEE-754 double in Python, and SQL's string→double cast (Java
    ``Double.parseDouble``) is correctly rounded, so the parsed array
    is bit-identical to ``F.array(*[F.lit(x) …])``. String form
    because building k×d literal arrays element by element through
    py4j costs ~1.4 s per 8×64 centroid table (measured, r15
    optimization round) vs ~3 ms for one ``F.expr`` string, driver
    time a training loop would pay every Lloyd round."""
    return "array(%s)" % ",".join(
        f"CAST('{float(x)!r}' AS DOUBLE)" for x in vals
    )


def _argmin_sql(vec_sql: str, centroids) -> str:
    """The id of the centroid nearest to the array ``vec_sql`` as ONE
    SQL expression: squared L2 as the left fold ``acc + (a - b)²``
    from 0.0 in dimension order, ties toward the smaller centroid id
    (array_min over (dist, cid) structs compares lexicographically).
    NULL when some distance is NULL (a NULL vector or element, or a
    length that differs from the centroids', which ``zip_with`` pads
    with NULL): array_min sorts that struct first, and its cid is
    NULL. The Lloyd rounds, ``kmeans_fit``'s assignment and the PQ
    codes all use this one expression."""
    carr = ",".join(
        "named_struct('cid', %d, 'cv', %s)" % (cid, _sql_darr(cv))
        for cid, cv in enumerate(centroids)
    )
    return (
        f"array_min(transform(array({carr}), c -> aggregate(zip_with("
        f"{vec_sql}, c.cv, (a, b) -> (a - b) * (a - b)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x, acc -> named_struct("
        "'dist', acc, 'cid', IF(acc IS NULL, NULL, c.cid))))).cid"
    )


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 5,
) -> tuple[DataFrame, list[list[float]]]:
    """``kmeans_assign`` plus the FITTED centroid matrix (rank-ordered
    by cluster id, each coordinate already rounded 9 dp by the update
    step) — the coarse-quantizer training surface IVF builds on
    (r7: the centroids are the same ones the final assignment used,
    so downstream list assignment is self-consistent). Raises
    ``ValueError`` naming ``vec_col`` for a vector that is NULL, holds
    a NULL element or differs in length from the centroids."""
    vecs, (cents,) = _kmeans_loop(df, id_col, vec_col, k, iters)
    assigned = vecs.select(
        F.col("__id").alias(id_col),
        F.expr(_argmin_sql("__v", cents)).alias("cluster"),
    )
    return assigned, cents


def _kmeans_loop(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
    slices: "tuple[str, ...]" = ("__v",),
) -> "tuple[DataFrame, list[list[list[float]]]]":
    """Deterministic Lloyd's k-means over an ``array<float>`` column,
    run on each slice at once: ``slices`` are SQL array expressions
    over ``__v`` (the vector cast to double), the whole ``__v`` by
    default. Returns the ``(__id, __v)`` frame the assignment projects
    from and, per slice, its fitted centroids.

    The centroids come from one of two places with one result (module
    docstring): :func:`_centroids_in_one_task` when the vectors fit one
    task, then :func:`_centroids_distributed` for every slice the task
    could not fit.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    vecs = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    id_t = vecs.schema["__id"].dataType
    # seeding orders by id: only ids whose Python order is Spark's
    books = (
        _centroids_in_one_task(vecs, slices, k, iters)
        if isinstance(id_t, IntegralType) or id_t == StringType()
        else None
    ) or [None] * len(slices)
    pending = [s for s, book in enumerate(books) if book is None]
    if pending:
        fitted = _centroids_distributed(
            vecs, [slices[s] for s in pending], k, iters, vec_col
        )
        for s, book in zip(pending, fitted):
            books[s] = book
    if not all(books):
        raise ValueError("vector table is empty: nothing to cluster")
    return vecs, books


def _centroids_distributed(
    vecs: DataFrame, slices: "list[str]", k: int, iters: int, vec_col: str
) -> "list[list[list[float]]]":
    """The Lloyd loop as Spark jobs, every slice in the same jobs: one
    seed collect, then per round ONE projection assigning each slice
    (a narrow map against the centroid literals) and ONE shuffle keyed
    by (slice, cluster, dim), k×d cells per slice whatever the corpus
    size. A NULL seed vector or element, and in any round a vector
    without a distance to the centroids (:func:`_argmin_sql`), raise
    ``ValueError`` naming ``vec_col``."""
    # deterministic seeding: the k smallest ids' vectors, tied ids in
    # whole-vector order
    seeds = (
        vecs.orderBy("__id", "__v").limit(k)
        .select(*[F.expr(sl) for sl in slices]).collect()
    )
    if any(v is None or None in v for r in seeds for v in r):
        raise ValueError(
            f"k-means seed vector in column {vec_col!r} is NULL or holds "
            "a NULL element"
        )
    books = [[list(r[s]) for r in seeds] for s in range(len(slices))]
    for _ in range(iters):
        # round the mean to 9 dp: double addition is order-dependent
        # under shuffle, and an unrounded ulp wobble in a centroid could
        # flip a near-tie assignment between runs/partitionings.
        # Collect the (slice, cluster, dim, m) cells directly, k x d
        # rows per slice, driver-sized, and assemble the arrays here
        # instead of paying a SECOND shuffle per round to collect_list
        # them engine-side (guide §2.4). The outer explode keeps a
        # NULL or empty slice as one row, so its NULL cluster reaches
        # the collect.
        parts = F.array(*[
            F.struct(
                F.lit(s).alias("slice"),
                F.expr(_argmin_sql(sl, books[s])).alias("cluster"),
                F.expr(sl).alias("sv"),
            )
            for s, sl in enumerate(slices)
        ])
        means = (
            vecs.select(F.inline(parts))
            .select("slice", "cluster", F.posexplode_outer("sv").alias("dim", "val"))
            .groupBy("slice", "cluster", "dim")
            .agg(F.round(F.avg("val"), 9).alias("m"))
            .collect()
        )
        cells: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            if r["cluster"] is None:
                raise ValueError(
                    f"k-means vector in column {vec_col!r} is NULL, holds a "
                    "NULL element or differs in length from the centroids"
                )
            cells.setdefault((r["slice"], r["cluster"]), {})[r["dim"]] = r["m"]
        # empty clusters keep their previous centroid (deterministic);
        # a member of a non-empty cluster has every dim of its centroid
        books = [
            [
                [cells[s, cid][d] for d in range(len(cv))]
                if (s, cid) in cells else cv
                for cid, cv in enumerate(book)
            ]
            for s, book in enumerate(books)
        ]
    return books


def _centroids_in_one_task(
    vecs: DataFrame, slices: "tuple[str, ...]", k: int, iters: int
) -> "list[list[list[float]] | None] | None":
    """:func:`_lloyd` on each slice of the ``(__id, __v)`` table in one
    Arrow task; per slice its centroids (none for an empty table), or
    None when the slice holds an input the twin cannot reproduce. None
    instead of the list when the table does not fit one task: the
    task counts one slice's cells, the size of one fit."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def fit(t: pa.Table) -> pa.Table:
        ids = t.column("__id").to_pylist()
        got, cvs = [], []
        for s in range(len(slices) if ids else 0):
            v = t.column(f"__s{s}").combine_chunks()
            lens = pc.list_value_length(v).to_numpy(zero_copy_only=False)
            flat = v.flatten()
            cents = [None]  # a slice without a fit is one NULL row
            # null vectors, null elements or ragged lengths: no fit
            if not (v.null_count or flat.null_count or (lens != lens[0]).any()):
                x = flat.to_numpy(zero_copy_only=False).reshape(len(v), lens[0])
                cents = _lloyd(ids, x, k, iters) or cents
            got += [s] * len(cents)
            cvs += cents
        return pa.table(
            [pa.array(got, pa.int32()), pa.array(cvs, pa.list_(pa.float64()))],
            names=["slice", "cv"],
        )

    cols = [F.expr(sl).alias(f"__s{s}") for s, sl in enumerate(slices)]
    got = in_one_task(vecs.select("__id", *cols), fit, cells="__s0")
    if got is None:
        return None
    books: "list[list[list[float]] | None]" = [[] for _ in slices]
    for s, cv in zip(*got.to_pydict().values()):
        if cv is None:
            books[s] = None
        else:
            books[s].append(cv)
    return books


_ROUND_CTX = decimal.Context(prec=400, rounding=decimal.ROUND_HALF_UP)
_NINE_DP = decimal.Decimal("1e-9")


def _round9(x: float) -> float:
    """Spark's ``round(x, 9)`` on a double: HALF_UP on the decimal
    string of ``x`` (``BigDecimal.valueOf``), back to the nearest
    double; ``+ 0.0`` because a BigDecimal has no negative zero.
    ``repr`` is the shortest round-tripping string, which is what
    ``Double.toString`` prints from JDK 19 on; older JDKs occasionally
    print a longer string for the same double."""
    if not math.isfinite(x):
        return x
    d = decimal.Decimal(repr(x)).quantize(_NINE_DP, context=_ROUND_CTX)
    return float(d) + 0.0


def _lloyd(
    ids: list, x: np.ndarray, k: int, iters: int
) -> "list[list[float]] | None":
    """:func:`_centroids_distributed` on an ``n × d`` double matrix
    (row ``i`` is the vector of ``ids[i]``), or None when it cannot be
    reproduced exactly: a NULL id (Spark sorts it first), a tie among
    the k + 1 smallest ids (Spark then orders the seeds by vector), or a
    non-finite element (NaN and ±inf compare differently in SQL and
    NumPy).

    Every step is the SQL loop's arithmetic: squared L2 as the left
    fold ``acc + (a - b) * (a - b)`` from 0.0 in dimension order
    (vectorized over rows, one dimension at a time — never a pairwise
    ``np.sum``), the first minimum (the smaller centroid id) on ties,
    and per-(cluster, dim) ``sum / count`` rounded by :func:`_round9`.
    The sums run in id order; the shuffle's order may differ, which
    the 9 dp rounding absorbs unless a mean lies within a few ulps of
    a rounding boundary (the reason the SQL loop rounds)."""
    if any(i is None for i in ids) or not np.isfinite(x).all():
        return None
    order = sorted(range(len(ids)), key=ids.__getitem__)
    head = [ids[i] for i in order[: k + 1]]
    if any(a == b for a, b in zip(head, head[1:])):
        return None
    x = x[order]
    n, d = x.shape
    cents = x[:k].copy()
    # row blocks bound the n × k distance matrix
    block = max(1, (1 << 20) // len(cents))
    for _ in range(iters):
        labels = np.concatenate(
            [
                _nearest(x[lo : lo + block], cents)
                for lo in range(0, n, block)
            ]
        )
        counts = np.bincount(labels, minlength=len(cents))
        for j in range(d):
            # bincount adds each bin's weights in row order
            sums = np.bincount(labels, weights=x[:, j], minlength=len(cents))
            for c in np.flatnonzero(counts):
                cents[c, j] = _round9(float(sums[c] / counts[c]))
    return cents.tolist()


def _nearest(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Index of each row's nearest centroid (the first on ties)."""
    dist = np.zeros((len(x), len(cents)))
    for j in range(x.shape[1]):
        diff = x[:, j, None] - cents[None, :, j]
        dist = dist + diff * diff
    return dist.argmin(axis=1)


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 5,
) -> DataFrame:
    """Backwards-compatible assignment-only view of ``kmeans_fit``
    (docstring above on the loop)."""
    return kmeans_fit(df, id_col, vec_col, k, iters)[0]


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Within-cluster near-duplicate verdicts: ``(id, cluster,
    is_dup)`` where ``is_dup`` means some smaller-id same-cluster
    member has ``round(cosine, 6) >= threshold`` (rounding BEFORE the
    compare keeps boundary pairs engine-stable).

    The pair join is an equi-join on the cluster id with an id-order
    band — never a corpus cross product; per-cluster work is bounded
    by the cluster size SemDeDup's k controls. Skewed giant clusters
    are the known failure mode; mitigate upstream with larger k (the
    paper uses k ~ sqrt(n)) before reaching for pair-level salting.
    """
    # norms once per row, not per within-cluster pair (cosine_from_norms)
    a = df.select(
        F.col(cluster_col).alias("__c"),
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("a_vec"),
        norm(F.col(vec_col)).alias("a_nrm"),
    )
    b = df.select(
        F.col(cluster_col).alias("__c"),
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        norm(F.col(vec_col)).alias("b_nrm"),
    )
    dup_ids = (
        a.join(b, "__c")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            F.round(
                cosine_from_norms(
                    F.col("a_vec"), F.col("b_vec"), F.col("a_nrm"), F.col("b_nrm")
                ),
                6,
            )
            >= F.lit(threshold)
        )
        .select(F.col("b_id").alias("__dup_id"))
        .distinct()
    )
    return (
        df.join(dup_ids, F.col(id_col) == F.col("__dup_id"), "left")
        .select(
            F.col(id_col),
            F.col(cluster_col).cast("int").alias("cluster"),
            F.col("__dup_id").isNotNull().alias("is_dup"),
        )
    )


def capped_survivors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    threshold: float = 0.95,
    cap: int = 3,
) -> DataFrame:
    """Cluster-size-CAPPED SemDeDup — the output-mix guard on top of
    ``semantic_dedup``: after within-cluster near-dup removal, keep at
    most ``cap`` survivors per cluster (deterministic id-asc rank), so
    one over-represented semantic region cannot dominate the deduped
    corpus (SemDeDup removes REDUNDANCY but not IMBALANCE — a cluster
    with 10k distinct-but-same-topic docs still emits 10k survivors;
    the cap is the standard mix-control knob layered on it, the
    per-domain-cap q_t23 idea in embedding space).

    Emits ``(id, cluster, rk, n_survivors)`` for kept rows —
    ``n_survivors`` (pre-cap survivor count) stays in the surface so
    the cap's effect is auditable per cluster. One window over the
    survivor table (partitioned by cluster — per-task work is bounded
    by the largest cluster's survivor count, which ``cap``'s upstream
    k-means k already bounds); no new pair work beyond semantic_dedup.
    """
    if cap < 1:
        raise ValueError("cap must be >= 1")
    from pyspark.sql import Window

    verdicts = semantic_dedup(df, id_col, vec_col, cluster_col, threshold)
    surv = verdicts.filter(~F.col("is_dup")).select(id_col, "cluster")
    w = Window.partitionBy("cluster").orderBy(F.col(id_col).asc())
    return (
        surv.withColumn("rk", F.row_number().over(w).cast("int"))
        .withColumn(
            "n_survivors",
            F.count(F.lit(1)).over(Window.partitionBy("cluster")).cast(
                "bigint"
            ),
        )
        .filter(F.col("rk") <= int(cap))
    )
