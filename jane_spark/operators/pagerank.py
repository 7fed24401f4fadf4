"""Weighted PageRank in exact integer arithmetic (round 9).

Web-corpus curation ranks DOMAINS by link authority before sampling
(the CommonCrawl/Gopher lineage weights hosts by graph centrality);
clickstream analytics ranks event states by stationary visit mass.
Both are PageRank over an edge table — and both belong in the engine,
not a sidecar graph system, when the edges already live in a
DataFrame.

Determinism design: the classic float iteration is NOT cross-engine
reproducible (group-by float sums are order-dependent). Here every
rank is a BIGINT scaled by 1e9 and every step is integer arithmetic —
``contrib = (rank * w) div out_w``, damping applied as ``(num * x)
div den`` — so addition is associative, iteration order is
irrelevant, and a SQL engine reproduces the ranks BIT-FOR-BIT
(the q_k16_kmeans "unrolled deterministic iteration" precedent,
applied to graphs). Integer-division dust (< 1 unit per edge per
round, i.e. < 1e-9 of mass) leaks out of the total instead of
accumulating into any rank.

Scale shape per iteration: one equi-join of edges against the rank
table on ``src`` (broadcast when the node set is dimension-sized —
domains, event types; shuffle-on-src otherwise, and the edge table's
partitioning is REUSED across iterations since it never changes) plus
one groupBy ``dst`` (map-side combined). The dangling-mass term is a
scalar aggregate per round, same as the components fixpoint's
convergence probe. 5 fixed iterations — rank ordering stabilizes in
3-4 rounds on power-law graphs; fixed count keeps the plan static and
the oracle unrollable.

Two paths, one result. The distributed loop above costs ~8 driver-
scheduled jobs per round whatever the graph size — 46 jobs and most of
the build time on a graph of a few hundred edges. So when the
aggregated edge table fits one task (``engine.onetask.in_one_task``:
at most ``MAX_ROWS`` rows, a bound set from measured timings of both
paths), one Python task runs all ``iters`` rounds of the same integer
updates: Spark's bigint semantics (``div`` truncates toward zero;
overflow and division by zero raise under ANSI, wrap or give NULL
without it; ``sum`` skips NULLs; a NULL node id is ranked but joins
nothing) reproduce the distributed ranks exactly. Larger tables and
node ids whose Python equality is not Spark's (floats, collated
strings, nested types) keep the distributed loop.
The one task's ranks come back as a local relation and the
distributed loop's as a checkpoint of the ranks, so the returned plan
holds no Python stage either way.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType

from jane_spark.engine.ckpt import Generations
from jane_spark.engine.onetask import ansi_enabled, in_one_task

SCALE = 10**9
_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1
_EMPTY = "edge table is empty: no nodes to rank"


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: tuple[int, int] = (85, 100),
    iters: int = 5,
) -> DataFrame:
    """Integer-scaled weighted PageRank: ``(node, rank_scaled)`` with
    ``rank_scaled`` summing to ~1e9 (minus deterministic integer-
    division dust). ``damping`` is an exact rational (num, den) —
    (85, 100) is the classic 0.85."""
    num, den = damping
    if not (0 < num < den):
        raise ValueError("damping must be a proper fraction (num, den)")
    if iters < 1:
        raise ValueError("iters must be >= 1")

    w = (F.lit(1) if weight is None else F.col(weight)).cast("bigint")
    with Generations(edges.sparkSession) as g:
        # checkpoint the aggregated edge table FIRST: everything below
        # (nodes, outw, the per-iteration dangling probe) derives from
        # it, and an unchecked lineage re-runs the upstream corpus-
        # sized edge build once per materialization — measured 7x the
        # whole-graph cost on the TextRank word graph (r10)
        e = g.hold(
            edges.select(
                F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
        endpoints = e.select(F.col("src").alias("node")).unionByName(
            e.select(F.col("dst").alias("node"))
        )
        node_t = endpoints.schema["node"].dataType
        # only ids whose Python equality is Spark's grouping equality
        if isinstance(node_t, IntegralType) or node_t == StringType():
            ranks = _ranks_in_one_task(e, node_t, num, den, iters)
            if ranks is not None:
                return ranks
        # lazy hold filled by the node count; every later consumer
        # (ranks init, dangling, per-round joins) reads its blocks
        nodes = g.hold(endpoints.distinct(), eager=False)
        n = nodes.count()
        if n == 0:
            raise ValueError(_EMPTY)
        # outw is consumed exactly twice below (ew build, dangling set)
        # and derives from the CHECKPOINTED e — recomputing that one
        # groupBy inside each consumer is cheaper than an extra eager
        # checkpoint action (r15 optimization round: every eager
        # materialization is a blocking driver round-trip)
        outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
        # lazy holds: the first round's cut reads each exactly once (in
        # disjoint subtrees) and fills both, saving two blocking actions
        ew = g.hold(e.join(outw, "src"), eager=False)
        # the dangling-node set (no out-edges) is FIXED across
        # iterations: derive it once instead of re-running the anti-join
        # per round
        dangling = g.hold(
            nodes.join(outw, nodes.node == outw.src, "left_anti").select("node"),
            eager=False,
        )

        base = ((den - num) * SCALE) // (den * n)
        ranks = g.cut(
            nodes.select("node", F.lit(SCALE // n).cast("bigint").alias("r"))
        )
        for _ in range(iters):
            inflow = (
                ew.join(ranks, ew.src == ranks.node)
                .select(
                    F.col("dst").alias("node"),
                    F.expr("(r * w) div ow").alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("inflow"))
            )
            # dangling mass IN-PLAN (one-row broadcast) instead of a
            # blocking driver first() per round: the update expression
            # is the same BIGINT arithmetic — sum(r) over the fixed
            # dangling set, div n — evaluated by the engine instead of
            # the driver, so each iteration costs ONE action (the cut)
            # and the driver never stalls on a scalar round-trip
            # (guide §5: the driver should do almost no data work)
            dang_row = (
                ranks.join(dangling, "node", "left_semi")
                .agg(
                    F.expr(
                        f"coalesce(sum(r), CAST(0 AS BIGINT)) div {n}"
                    ).alias("__dshare")
                )
            )
            ranks = g.cut(
                nodes.join(inflow, "node", "left")
                .crossJoin(F.broadcast(dang_row))
                .select(
                    "node",
                    (
                        F.lit(base)
                        + F.expr(
                            f"({num} * (coalesce(inflow, CAST(0 AS BIGINT))"
                            f" + __dshare)) div {den}"
                        )
                    )
                    .cast("bigint")
                    .alias("r"),
                )
            )
        return g.keep(ranks.select("node", F.col("r").alias("rank_scaled")))


def _ranks_in_one_task(
    e: DataFrame, node_t, num: int, den: int, iters: int
) -> DataFrame | None:
    """``(node, rank_scaled)`` from every round of :func:`_integer_ranks`
    run by one Python task over the whole aggregated edge table ``e``,
    as a local relation; None when ``e`` does not fit one task."""
    import pyarrow as pa

    ansi = ansi_enabled(e)

    def rank(t: pa.Table) -> pa.Table:
        src, dst, w = (t.column(c).to_pylist() for c in ("src", "dst", "w"))
        ranks = _integer_ranks(src, dst, w, num, den, iters, ansi) if src else {}
        return pa.table(
            [
                pa.array(list(ranks), t.schema.field("src").type),
                pa.array(list(ranks.values()), pa.int64()),
            ],
            names=["node", "rank_scaled"],
        )

    got = in_one_task(
        e.select(
            F.col("src").cast(node_t).alias("src"),
            F.col("dst").cast(node_t).alias("dst"),
            "w",
        ),
        rank,
    )
    if got is None:
        return None
    if not got.num_rows:
        raise ValueError(_EMPTY)
    return e.sparkSession.createDataFrame(
        got, f"node {node_t.simpleString()}, rank_scaled bigint"
    )


def _integer_ranks(
    src: list,
    dst: list,
    w: list,
    num: int,
    den: int,
    iters: int,
    ansi: bool = True,
) -> dict:
    """The distributed loop's rounds on Python ints: node -> rank after
    ``iters`` rounds over the aggregated edges ``(src[i], dst[i], w[i])``
    (one row per (src, dst), weights may be NULL). Every operation is
    the bigint operation the SQL loop evaluates, so the ranks are
    identical to it; ``ansi`` selects Spark's ANSI or legacy overflow
    and division-by-zero behaviour."""

    def fit(x):
        if _LONG_MIN <= x <= _LONG_MAX:
            return x
        if ansi:
            raise ArithmeticError("[ARITHMETIC_OVERFLOW] long overflow")
        return (x - _LONG_MIN) % 2**64 + _LONG_MIN

    def div(a, b):
        # Spark `div`: truncates toward zero
        if b == 0:
            if ansi:
                raise ArithmeticError("[DIVIDE_BY_ZERO] Division by zero")
            return None
        q = abs(a) // abs(b)
        return fit(q if (a < 0) == (b < 0) else -q)

    def add(acc: dict, key, x) -> None:
        # sum(): NULLs skipped, a group of only NULLs sums to NULL
        prev = acc.setdefault(key, None)
        if x is not None:
            acc[key] = x if prev is None else fit(prev + x)

    nodes = dict.fromkeys(itertools.chain(src, dst))
    n = len(nodes)
    outw: dict = {}
    for s, x in zip(src, w):
        add(outw, s, x)
    # the SQL loop's equi-joins never match a NULL id: its out-edges
    # carry nothing, its inflow and dangling mass are never read
    flows = [
        (s, d, x, outw[s])
        for s, d, x in zip(src, dst, w)
        if s is not None and x is not None and outw[s] is not None
    ]
    dangling = [v for v in nodes if v is not None and v not in outw]
    base = ((den - num) * SCALE) // (den * n)
    ranks = dict.fromkeys(nodes, SCALE // n)
    for _ in range(iters):
        inflow: dict = {}
        for s, d, x, ow in flows:
            add(inflow, d, div(fit(ranks[s] * x), ow))
        mass: dict = {}
        for v in dangling:
            add(mass, None, ranks[v])
        share = div(mass.get(None) or 0, n)
        for v in nodes:
            into = (inflow.get(v) if v is not None else None) or 0
            ranks[v] = fit(base + div(fit(num * fit(into + share)), den))
    return ranks


def event_transition_edges(events: DataFrame) -> DataFrame:
    """Per-user event-type transition graph from an event log: edge
    (prev_type -> type) with weight = transition count, ordered by
    (ts, event_id) within user. The clickstream Markov chain whose
    PageRank is the stationary visit mass."""
    from pyspark.sql import Window

    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = events.select(
        F.lag("event_type").over(win).alias("src"),
        F.col("event_type").alias("dst"),
    ).where(F.col("src").isNotNull())
    return tr.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )


def word_adjacency_edges(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Symmetric word co-occurrence graph from adjacent-token pairs
    (TextRank's window-2 graph, Mihalcea & Tarau 2004): edge weight =
    corpus-wide adjacency count, emitted in BOTH directions so the
    directed PageRank walks an undirected graph; self-loops (repeated
    words) dropped. One explode + one groupBy — corpus-sized shuffle
    only on the bigram table, which the vocabulary bounds."""
    toks = F.split(F.col(text_col), " ")
    pairs = docs.select(
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size(toks) - 1, F.lit(1)),
                    ),
                    # try_element_at: a 1-token doc generates i=1 with
                    # no i+1 — NULL (filtered below), not an ANSI
                    # out-of-bounds error
                    lambda i: F.struct(
                        F.try_element_at(toks, i).alias("a"),
                        F.try_element_at(toks, i + 1).alias("b"),
                    ),
                ),
                lambda s: (s["a"] != "")
                & (s["b"] != "")
                & s["b"].isNotNull()
                & (s["a"] != s["b"]),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    cnt = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    sym = cnt.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionByName(
        cnt.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
    )
    return sym.groupBy("src", "dst").agg(F.sum("w").alias("w"))
