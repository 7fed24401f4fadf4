"""Connected components over near-duplicate pair graphs (SURVEY.md §2.11
K2/K10): resolve pair lists (MinHash/SimHash/Jaccard output) into
duplicate CLUSTERS so one canonical document per cluster survives —
the step between "candidate pairs" and "deduped corpus".

Algorithm: iterative min-label propagation. Every node starts labeled
with itself; each round, labels flow across edges and every node keeps
the minimum seen; fixed point = components (the label is the smallest
doc id in the cluster — a natural canonical-representative choice).

Scale shape: each round is one join + one min-aggregate — two shuffles
on uniformly-hashed ids — and the round count is the largest cluster
DIAMETER, not the corpus size. Near-dup clusters are dense and shallow
(diameter ≲ 3 in practice), so this converges in a handful of rounds.
A ``localCheckpoint`` per round truncates lineage, keeping plans O(1)
instead of O(rounds). For adversarial chain-shaped graphs
(diameter > ``max_iter``) the solver falls back to the two-phase
large-star/small-star alternation (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — public algorithm),
which contracts the graph toward star forests in O(log²) rounds
independent of diameter; label propagation stays the default because
near-dup clusters are dense and shallow (diameter ≲ 3) and one
propagation round is cheaper than a star round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jane_spark.engine.ckpt import Generations


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Return (id, comp) with ``comp`` = min node id reachable from
    ``id``. ``nodes`` (single-column) adds isolated vertices — pass the
    full doc-id set so singletons keep their own component.

    Convergence check: labels only ever decrease, so an unchanged
    ``sum(comp)`` means a fixed point; each round costs one extra
    scalar aggregate, which is noise next to the join.

    If propagation has not converged after ``max_iter`` rounds (long
    chains: diameter > max_iter), the large-star/small-star fallback
    finishes the job in O(log² n) rounds regardless of diameter.
    """
    e = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    with Generations(edges.sparkSession) as g:
        e = g.hold(e.distinct())
        if nodes is None:
            labels = e.select(F.col("src").alias("id")).distinct()
        else:
            labels = nodes.select(F.col(nodes.columns[0]).alias("id")).distinct()
        # lazy cuts probed by the convergence sum: one driver action per
        # round instead of checkpoint + probe (guide §5 localCheckpoint,
        # §1.2 driver round-trips; r15)
        labels, total = g.cut(
            labels.select("id", F.col("id").alias("comp")), probe=_comp_sum
        )
        for _ in range(max_iter):
            msgs = e.join(labels, e.src == labels.id).select(
                F.col("dst").alias("id"), "comp"
            )
            labels, new_total = g.cut(
                labels.unionByName(msgs)
                .groupBy("id")
                .agg(F.min("comp").alias("comp")),
                probe=_comp_sum,
            )
            if new_total == total:
                return g.keep(labels)
            total = new_total
        return g.keep(_star_components(e, labels.select("id")))


def _comp_sum(labels: DataFrame):
    return labels.agg(F.sum("comp")).first()[0]


def _symmetrize(pairs: DataFrame) -> DataFrame:
    """Undirected edge set as both directions, self-loops removed."""
    fwd = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    return (
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_components(e: DataFrame, node_ids: DataFrame) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., SoCC'14).

    large-star: every node's strictly-larger neighbors re-attach to the
    minimum of its closed neighborhood; small-star: every node and its
    smaller neighbors attach to that minimum. Alternating the two
    preserves connectivity and reaches a fixed point where every edge
    is (member, component-min) — a star forest — in O(log²) rounds.
    Each half-round is one groupBy + one equi-join on node id: the same
    two-shuffle shape as a propagation round, but diameter-independent.
    """
    def checksum(df: DataFrame) -> tuple:
        canon = df.filter(F.col("src") < F.col("dst"))
        row = canon.agg(
            F.count(F.lit(1)).alias("n"),
            # xor-fold (not sum): order-free and cannot overflow ANSI longs
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    s = e  # symmetric, distinct, no self-loops (built by caller)
    prev = checksum(s)
    with Generations(e.sparkSession) as g:
        for _ in range(100):  # safety cap >> the proven O(log^2) bound
            # large-star
            mins = s.groupBy("src").agg(F.min("dst").alias("mn"))
            mm = mins.select("src", F.least(F.col("src"), F.col("mn")).alias("m"))
            large = (
                s.join(mm, "src")
                .filter(F.col("dst") > F.col("src"))
                .select(F.col("dst").alias("a"), F.col("m").alias("b"))
            )
            s = g.cut(_symmetrize(large))
            # small-star (directed larger -> smaller)
            d = s.filter(F.col("dst") < F.col("src"))
            dmins = d.groupBy("src").agg(F.min("dst").alias("m"))
            small = (
                d.join(dmins, "src")
                .select(F.col("dst").alias("a"), F.col("m").alias("b"))
                .unionByName(
                    dmins.select(F.col("src").alias("a"), F.col("m").alias("b"))
                )
            )
            s = g.cut(_symmetrize(small))
            cur = checksum(s)
            if cur == prev:
                break
            prev = cur
        else:
            raise RuntimeError("star alternation failed to converge in 100 rounds")
        # fixed point: edges are (member, root) stars — comp = min over the
        # closed neighborhood; isolated nodes keep their own id
        lbl = s.groupBy("src").agg(F.min("dst").alias("mn"))
        lbl = lbl.select(
            F.col("src").alias("id"), F.least(F.col("src"), F.col("mn")).alias("comp")
        )
        return g.keep(
            node_ids.join(lbl, "id", "left").select(
                "id", F.coalesce(F.col("comp"), F.col("id")).alias("comp")
            )
        )


def cluster_canonical(labels: DataFrame) -> DataFrame:
    """Collapse a component labeling to one row per cluster:
    (comp, n_members) — the keep-list is ``id == comp`` rows."""
    return labels.groupBy("comp").agg(F.count(F.lit(1)).alias("n_members"))


def label_propagation(
    edges: DataFrame, lo: str = "lo", hi: str = "hi", iters: int = 4
) -> DataFrame:
    """Deterministic SYNCHRONOUS label propagation (Raghavan, Albert &
    Kumara 2007 — the near-linear community detector): every node
    starts labeled with its own id; each round, every node adopts the
    most frequent label among its NEIGHBORS PLUS ITSELF (the
    self-vote damps the period-2 oscillation synchronous updates
    suffer on symmetric structures — without it an isolated pair
    swaps labels forever and the smallest dup-cluster never forms;
    ties to the smallest label — the determinism the original's
    random tie-break lacks; synchronous update so the result is
    independent of visit order), for a FIXED ``iters`` rounds. Communities refine connected
    components: K10's components merge everything reachable — one
    boilerplate bridge chains two unrelated dup-clusters into one
    canonical group — while LPA keeps densely-linked cores apart
    (the barbell pytest pins exactly that), which is the right grain
    for choose-one-canonical-doc dedup.

    Plan shape: per round ONE join of the symmetric edge list against
    the |V|-row label table + ONE (node, label) count + ONE argmax
    window — shuffles scale with |E|, never |V|². The loop builds a
    LAZY plan (fixed rounds, no driver data, no action at build), so
    the whole detector is one job; the oracle unrolls the same
    rounds as CTEs.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    both = edges.select(
        F.col(lo).alias("v"), F.col(hi).alias("u")
    ).unionByName(
        edges.select(F.col(hi).alias("v"), F.col(lo).alias("u"))
    )
    nodes = both.select(F.col("v")).distinct()
    # self-vote = a self-loop per node (see docstring)
    sym = both.unionByName(nodes.withColumn("u", F.col("v")))
    labels = nodes.select(F.col("v").alias("node")).withColumn(
        "label", F.col("node")
    )
    for _ in range(iters):
        counts = (
            sym.join(
                labels.select(
                    F.col("node").alias("u"), F.col("label")
                ),
                "u",
            )
            .groupBy("v", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("v").orderBy(
            F.col("c").desc(), F.col("label").asc()
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("v").alias("node"), "label")
        )
    return labels.select("node", F.col("label").alias("community"))


def label_propagation_incr(
    old_edges: DataFrame,
    new_edges: DataFrame,
    labels: DataFrame,
    lo: str = "lo",
    hi: str = "hi",
) -> DataFrame:
    """INCREMENTAL label propagation — the K48_incr/K50 operational
    move applied to K52 (VERDICT r14 next-step #7): near-dup edges
    arrive with every crawl, and re-running :func:`label_propagation`
    from scratch re-scans the WHOLE graph for a batch that touches a
    few neighborhoods. Two relational steps instead:

    1. FROZEN-LABEL ADMISSION: every node incident to a new edge
       that has no stored label starts at its own id, then adopts
       the most frequent label among its new-edge neighbors PLUS
       ITSELF, with neighbor labels FROZEN (stored for old nodes,
       own-id for fellow admits; ties to the smallest label — the
       synchronous-round arithmetic verbatim, restricted to admits);
    2. ONE refinement round CLOSED OVER THE NEW INFORMATION: every
       TOUCHED node (incident to a new edge) revotes over its FULL
       neighborhood (old ∪ new edges, self-vote included) against
       the stored ∪ admitted labels. Untouched nodes keep their
       stored labels verbatim (the frozen-label law, pytest-pinned
       exactly) — pure old-neighborhood votes are already converged,
       which is the whole cost story.

    Emits ``(node, community)`` over every node of the grown graph.
    An empty batch returns the stored labels unchanged (pinned).
    Fail-loud: an old-graph node MISSING from ``labels`` means the
    stored label table is stale — poison rows raise at execution
    rather than silently admitting history as new.

    Scale shape: admission and refinement join EDGES RESTRICTED TO
    TOUCHED NODES against the label table — cost ∝ the batch's
    neighborhood sizes, never |V| or |E| of the accumulated graph
    (the stored labels are read, not recomputed). Agreement with a
    full 4-round rebuild on the fixture is pytest-pinned.
    """
    osym = old_edges.select(
        F.col(lo).alias("v"), F.col(hi).alias("u")
    ).unionByName(
        old_edges.select(F.col(hi).alias("v"), F.col(lo).alias("u"))
    )
    nsym = new_edges.select(
        F.col(lo).alias("v"), F.col(hi).alias("u")
    ).unionByName(
        new_edges.select(F.col(hi).alias("v"), F.col(lo).alias("u"))
    )
    stored = labels.select("node", F.col("community").alias("label"))
    # fail-loud staleness guard: old-graph nodes absent from labels.
    # The raise_error must sit in the NON-KEY column: a poisoned JOIN
    # KEY gets an isnotnull(key) pushdown that Catalyst re-inlines all
    # the way into the edge-scan join condition, firing on every edge
    # row unconditionally (the r8 url_host pushdown lesson, observed
    # here). With node = NULL the pushed isnotnull folds to FALSE and
    # prunes the branch out of every equi-join path, while the NULL
    # key survives the untouched anti-join into the OUTPUT projection,
    # whose label evaluation raises on exactly the real poison rows.
    poison = (
        osym.select(F.col("v").alias("node"))
        .distinct()
        .join(stored.select("node"), "node", "left_anti")
        .select(
            F.lit(None).cast(stored.schema["node"].dataType).alias(
                "__missing"
            ),
            F.expr(
                "raise_error(concat('label_propagation_incr: old-graph "
                "node ', cast(node as string), ' has no stored label — "
                "the label table is stale; rebuild or pass the matching "
                "snapshot'))"
            ).cast(stored.schema["label"].dataType).alias("label"),
        )
        .withColumnRenamed("__missing", "node")
        .select("node", "label")
    )
    stored = stored.unionByName(poison)
    touched = nsym.select("v").distinct()
    admits = touched.join(
        stored.select(F.col("node").alias("v")), "v", "left_anti"
    )
    # frozen label base: stored ∪ (admit -> own id)
    base = stored.unionByName(
        admits.select(F.col("v").alias("node"), F.col("v").alias("label"))
    )
    # admission round: admits vote over their new-edge neighbors + self
    adm_sym = nsym.join(admits, "v", "left_semi").unionByName(
        admits.select("v", F.col("v").alias("u"))
    )
    adm_counts = (
        adm_sym.join(
            base.select(F.col("node").alias("u"), "label"), "u"
        )
        .groupBy("v", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("v").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    adm = (
        adm_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("v").alias("node"), "label")
    )
    l1 = stored.unionByName(adm)
    # one refinement round over the touched nodes' FULL neighborhoods
    fsym = (
        osym.unionByName(nsym)
        .join(touched, "v", "left_semi")
        .unionByName(touched.select("v", F.col("v").alias("u")))
    )
    ref_counts = (
        fsym.join(l1.select(F.col("node").alias("u"), "label"), "u")
        .groupBy("v", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ref = (
        ref_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("v").alias("node"), "label")
    )
    untouched = l1.join(
        touched.select(F.col("v").alias("node")), "node", "left_anti"
    )
    return untouched.unionByName(ref).select(
        "node", F.col("label").alias("community")
    )
