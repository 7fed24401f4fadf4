"""Physical-plan regression guards (docs/SCALE.md §2–§4).

The scale posture is enforced, not aspirational: filters must reach the
parquet scan, dimensions must broadcast, pinned clustered tables must
feed windows without an exchange. A refactor that silently loses one of
these properties fails here long before it shows up at cluster scale.
"""

from __future__ import annotations

import pytest


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted_plan(df) -> str:
    # toString truncates long expression lists; the formatted explain
    # prints PushedFilters in full
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filters_reach_parquet_scan(spark, sf_dir):
    from jane_spark.contracts import REGISTRY

    plan = _formatted_plan(REGISTRY["q_b3_range_filter"].spark_fn(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan  # range reached the scan
    # column pruning: the 16-col table must not be read wholesale
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read and "l_partkey" not in read


def test_dimensions_broadcast(spark, sf_dir):
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_c3_join4"].spark_fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan


def test_semi_join_stays_semi(spark, sf_dir):
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_c5_semi"].spark_fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_acl_gate_broadcasts_grants(spark):
    """SCALE.md §7c: the restricted-data gate must be ONE broadcast
    left-outer join of the per-user grant set — no shuffle of the index
    side, no second scan branch (union) in the plan."""
    from pyspark.sql import functions as F

    from jane_spark.services.fdsnws import _apply_acl
    from jane_spark.testing.fixtures import trace_index

    acl = spark.createDataFrame(
        [("BW", "MANZ", "", "BHZ")],
        "network string, station string, location string, channel string",
    )
    gated = _apply_acl(trace_index(spark).filter(F.col("network") == "BW"), acl)
    plan = _executed_plan(gated)
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan and "Union" not in plan


def test_no_nested_loop_in_range_join(spark, sf_dir):
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_c4_range_join"].spark_fn(spark, sf_dir))
    assert "BroadcastNestedLoop" not in plan  # equi key + residual, never BNL


def test_pinned_cluster_elides_exchange(spark, sf_dir):
    """A window keyed on the pinned clustering must run exchange-free."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from jane_spark.engine.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    cat.pin("events", cluster_by="user_id", partitions=4)
    ev = cat.clustered("events", "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    df = ev.withColumn("rn", F.row_number().over(w)).filter("rn <= 2")
    plan = _executed_plan(df)
    assert "InMemoryTableScan" in plan
    # the only acceptable exchange is inside the cached relation itself
    after_cache = plan.split("InMemoryRelation")[0]
    assert "Exchange" not in after_cache, after_cache

    # a DIFFERENT key must fall back to the plain table + shuffle
    other = cat.clustered("events", "event_type")
    assert other is not ev


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_d1_count_group"].spark_fn(spark, sf_dir))
    assert "partial_count" in plan  # map-side combine present


def test_decontam_broadcasts_benchmark(spark, sf_dir):
    """The eval-set shingle join must broadcast (the benchmark corpus is
    tiny at any scale) — a sort-merge here would shuffle the full
    training corpus's exploded shingles."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_t5_decontam"].spark_fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hash_sample_filter_pushes_down(spark, sf_dir):
    """Stratified sampling is a pure projection-derived predicate: the
    plan must be scan->filter->agg with no exchange before the partial
    aggregate and no Python worker."""
    from jane_spark.contracts import REGISTRY

    df = REGISTRY["q_p2_stratified_sample"].spark_fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exactly the one hash-agg exchange, nothing upstream of it
    scan_to_first_exchange = plan.split("Exchange")[-1]
    assert "Filter" in scan_to_first_exchange, plan


def test_split_assign_is_exchange_free(spark, sf_dir):
    """split_assign is a projection: counting per split needs exactly
    one shuffle (the final 3-group agg), nothing else."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_p1_hash_split"].spark_fn(spark, sf_dir))
    assert plan.count("Exchange") == 1, plan


def test_pipeline_e2e_two_shuffles_pruned_scan(spark, sf_dir):
    """The composed pipeline (filter -> dedup -> split -> stats) must
    land at exactly two exchanges (fingerprint agg + split agg), with
    the quality filter evaluated before the first one and the scan
    pruned to (doc_id, text)."""
    from jane_spark.contracts import REGISTRY

    df = REGISTRY["q_p5_pipeline"].spark_fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert plan.count("Exchange") == 2, plan
    scan_side = plan.split("Exchange")[-1]
    assert "Filter" in scan_side, plan
    read = [l for l in _formatted_plan(df).splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read and "text" in read and "lang" not in read


def test_repetition_partial_agg_no_python(spark, sf_dir):
    """Repetition filters: shingling stays a JVM higher-order expression
    (no Python worker) and every exchange is fed by a partial
    aggregate (map-side combine on (doc, gram))."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_t7_repetition"].spark_fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan, plan


def test_bucketed_join_elides_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the same (key, n): their equi-join must
    run with ZERO exchanges — the write-time shuffle is the only one
    that ever happens for this key. Broadcast is disabled so the plan
    can't hide the co-location behind a broadcast join."""
    from jane_spark.sources.bucketed import drop_table, write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    write_bucketed(orders, "b_orders", "o_orderkey", 8,
                   str(tmp_path / "b_orders"))
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", "o_orderkey", 8, str(tmp_path / "b_lineitem"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = _executed_plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        drop_table(spark, "b_orders")
        drop_table(spark, "b_lineitem")


def test_fuzzy_pairs_is_equi_join(spark, sf_dir):
    """The pigeonhole-blocked fuzzy join must plan as an equi-join on
    the (length, chunk) block keys — never nested-loop/cartesian (the
    brute-force O(n^2) shape its oracle uses)."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_k14_fuzzy"].spark_fn(spark, sf_dir))
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_rolling_and_scd2_single_shuffle(spark, sf_dir):
    """Window-based rolling/scd2 contracts shuffle once on their key;
    no joins, no extra exchanges beyond the window partitioning."""
    from jane_spark.contracts import REGISTRY

    for name in ("q_e5_rolling", "q_d15_scd2"):
        plan = _executed_plan(REGISTRY[name].spark_fn(spark, sf_dir))
        # a pinned source's one-time repartition lives inside the
        # materialized InMemoryRelation — not a per-query shuffle
        live = plan.split("InMemoryRelation")[0]
        n_exchanges = live.count("Exchange hashpartitioning")
        assert n_exchanges <= 1, (name, n_exchanges, plan[:500])


def test_availability_spans_single_hash_shuffle(spark, sf_dir):
    """availability_spans shuffles ONCE on the channel key: the span
    aggregation's (SEED, __span) clustering is satisfied by the
    window's hashpartitioning(SEED) — partial+final HashAggregate with
    no intermediate exchange. Only the presentation orderBy adds a
    range exchange."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(
        REGISTRY["q_d6_availability"].spark_fn(spark, sf_dir)
    )
    # a pinned source's one-time repartition lives inside the
    # materialized InMemoryRelation — not a per-query shuffle
    live = plan.split("InMemoryRelation")[0]
    assert live.count("Exchange hashpartitioning") == 1, live[:800]
    assert live.count("Exchange rangepartitioning") == 1, live[:800]


def test_bulk_selects_plan_as_bin_equi_joins(spark, sf_dir):
    """Both POST-bulk resolves (dataselect + station) must join on the
    time bin as a hash join with the small request side broadcast —
    never BroadcastNestedLoop or CartesianProduct."""
    from jane_spark.contracts import REGISTRY

    for name in ("q_a7_bulk_select", "q_a8_station_bulk"):
        plan = _executed_plan(REGISTRY[name].spark_fn(spark, sf_dir))
        assert "BroadcastNestedLoop" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, name


def test_curation_operators_no_cartesian(spark, sf_dir):
    """The round-6 curation stages must keep their scale shapes: line
    dedup and dup-span are hash-keyed groupBys + (anti/semi) equi-joins;
    semantic dedup is an equi-join on the cluster id. None may plan a
    nested-loop/cartesian pair stage (the shape their oracles use)."""
    from jane_spark.contracts import REGISTRY

    for name in ("q_t11_linededup", "q_t12_dupspan", "q_k16_semdedup"):
        plan = _executed_plan(REGISTRY[name].spark_fn(spark, sf_dir))
        assert "BroadcastNestedLoop" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_lm_score_broadcasts_model(spark, sf_dir):
    """The LM scoring join must broadcast the charset-bounded model
    table — the corpus side never shuffles for the join; the one
    corpus-keyed exchange is the per-document average."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_t13_lm_score"].spark_fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:600]
    live = plan.split("InMemoryRelation")[0]
    assert "SortMergeJoin" not in live, live[:600]


def test_corpus_shuffle_no_global_sort(spark, sf_dir):
    """The epoch permutation must never plan a global (range) sort —
    one hash exchange on the shard key feeds per-shard window sorts."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_p6_shuffle"].spark_fn(spark, sf_dir))
    live = plan.split("InMemoryRelation")[0]
    assert "Exchange rangepartitioning" not in live, live[:600]
    assert live.count("Exchange hashpartitioning") == 1, live[:600]


def test_embed_decontam_no_cross_join(spark, sf_dir):
    """The train-vs-eval max-sim must stay the grid applyInPandas shape
    — never BroadcastNestedLoop/CartesianProduct (the oracle's plan)."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_t14_embed_decontam"].spark_fn(spark, sf_dir))
    assert "BroadcastNestedLoop" not in plan, plan[:600]
    assert "CartesianProduct" not in plan, plan[:600]
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan, plan[:600]


def test_c4_filter_and_htmlstrip_are_pure_projections(spark, sf_dir):
    """SCALE.md: every C4 line rule and the HTML strip are line-local, so
    neither stage may introduce an exchange — they must scale with the
    scan, shuffling nothing."""
    from jane_spark.contracts import REGISTRY

    for name in ("q_t16_c4filter", "q_t17_htmlstrip"):
        plan = _executed_plan(REGISTRY[name].spark_fn(spark, sf_dir))
        assert "Exchange" not in plan, f"{name} shuffles: {plan}"


def test_mixture_sample_single_tiny_shuffle(spark, sf_dir):
    """Mixture sampling may shuffle ONLY the per-source token totals
    (rows = #sources); the corpus side must come back via broadcast."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_p7_mixture"].spark_fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_phash_near_pairs_no_cartesian(spark):
    """The image near-dup join must be 8 block equi-joins, never a
    cartesian/BNL product."""
    from pyspark.sql import functions as F  # noqa: F401

    from jane_spark.operators.imagehash import phash_near_pairs

    sig = spark.range(64).select(
        F.col("id").alias("item_id"), (F.col("id") * 1234567).alias("phash")
    )
    plan = _executed_plan(phash_near_pairs(sig, "item_id", max_hamming=6))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rest_serializer_preaggregates_attachments(spark, sf_dir):
    """The REST serializer must aggregate attachment counts BELOW the
    join (index rows never join raw attachment rows) and must not plan
    a nested-loop join anywhere."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_r3_rest_serialize"].spark_fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # partial+final hash agg of the lineitem counts feeds the join
    assert "HashAggregate" in plan


def test_domain_cap_single_domain_shuffle(spark, sf_dir):
    """T23: the per-domain cap is ONE shuffle keyed on the registrable
    domain (the window's hashpartitioning) — no joins, no extra
    exchanges beyond the window + the scan-side AQE reads."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_t23_domaincap"].spark_fn(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "domain" in plan


def test_bpe_pair_count_partial_aggregates(spark, sf_dir):
    """K22: the pair-count shuffle must carry combined counts (partial
    + final HashAggregate), and the top-1/top-50 must plan as
    TakeOrdered, never a global sort of all pairs."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_k22_bpe_pairs"].spark_fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "TakeOrderedAndProject" in plan
    assert "GlobalSort" not in plan


def test_stream_join_batch_plan_shape(spark, sf_dir):
    """I9 batch path: equi-join on the user key with the time bound as
    a join-level residual — SortMergeJoin or ShuffledHashJoin on the
    key, never a nested loop over the range condition."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_i9_stream_join"].spark_fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# Contracts whose PHYSICAL plan is allowed to contain a Python/Arrow
# evaluation node: multimodal codecs, GEMM/sketch kernels, packers,
# UDTF/grouped-map/UDAF rows — each an intentional, Arrow-batched
# design (SURVEY §2 marks them). Everything else must stay JVM-side.
_PANDAS_ALLOWED = {
    # the Spark 4 Python Data Source scan (A1's waveform format) IS a
    # Python-implemented source — that row exists to exercise it
    "q_a1_waveform_source",
    "q_a6_beachball", "q_a7_cut_bytes", "q_j1_parse_files",
    "q_j2_grouped_map", "q_j3_udaf", "q_j4_udtf", "q_k17_heavyhitters",
    "q_k24_two_stage", "q_k3_ivf", "q_k3_vector_topk", "q_k7_audio",
    "q_k7_audiofp", "q_k7_frames", "q_k7_multimodal", "q_k7_phash",
    "q_k7_resize", "q_k7_spectral", "q_p10_wds_shards", "q_p12_ffd_pack",
    "q_t14_embed_decontam", "q_t2_langid",
    # WARC ingest round-trips real archive bytes through the encode/
    # parse twins — that Python path IS the row's subject (r7)
    "q_a10_warc",
    # tar pack + tar re-parse ARE the row's subject (the P10 oracle
    # round trip, r14) — both sides are tarfile pandas stages
    "q_p10_roundtrip",
    # zlib has no JVM expression — the pandas UDF is the operator (r7)
    "q_t31_compress",
    # mmr's greedy is inherently sequential: ONE applyInPandas task is
    # the reranker shape (r11 — replaced k TakeOrdered(1) driver
    # rounds whose scheduler/planning floor dominated)
    "q_k33_mmr",
    # the WARC end-to-end pipeline's one Python stage is its subject
    "q_p14_warc_pipeline",
    # portable IVF quantizes via the same Arrow GEMM stage as q_k3_ivf
    "q_k3_ivf_portable",
    # incremental-IVF's frozen-centroid batch assignment runs the same
    # Arrow GEMM stage (r13); the drift trigger is pure JVM — its
    # contract proves that and is NOT allowlisted
    "q_k50_ivf_incr",
    # NOT allowlisted (r15): q_k23_ivf_pq / q_k23_ivf_pq_residual —
    # their coarse _assign_lists Arrow GEMM stage is now checkpointed
    # once at plan build (shared with the probe set), so the FINAL
    # plan is pure JVM — the dbscan precedent below.
    # JL coarse-to-fine: stage-1 candidate ranking in the projected
    # space is the same Arrow block-GEMM; the full-dim re-score and
    # the projection itself are pure JVM (r9)
    "q_k24_jl",
    # hard-negative mining scores candidates through the same Arrow
    # grid-GEMM stage as block_topk (r10; q_k16_dbscan uses the same
    # stage but checkpoints the pair table, so its final plan no
    # longer shows the Python marker — the stage is the same one this
    # row keeps visible)
    "q_k36_hardneg",
    # the ANN recall audit's exact leg IS the q_k3_vector_topk Arrow
    # block-GEMM (r10) — the audit adds only JVM joins on top
    "q_k39_ann_audit",
    # XML validation has no JVM expression — the ElementTree pandas
    # UDF IS the operator under test (r8 ingest gate)
    "q_a3_validation_gate",
    # real XML->rows ingest parsers: the ElementTree mapInPandas stage
    # IS the operator (r8)
    "q_a3_quakeml_parse",
    "q_a2_stationxml_parse",
    # packed-example materialization runs on pack_ffd's grouped-map
    # assignment (same justification as q_p12)
    "q_p15_pack_boundaries",
    # graph-expansion ANN builds its neighbor-graph index through the
    # same Arrow block-GEMM stage as q_k3_vector_topk (r12); seeds,
    # expansion and rerank are pure JVM joins on top
    "q_k48_graph",
}
# "Python" catches every Arrow*/Batch* Python node (EvalPython,
# ArrowAggregatePython, PythonUDF…); "InPandas" the map/grouped forms
_PY_MARKERS = ("Python", "InPandas")


def test_no_python_eval_outside_allowlist(spark, sf_dir):
    """Repo-wide invariant: no contract silently grows a row-at-a-time
    Python UDF or an unplanned pandas fallback. Streaming contracts
    (q_i*, q_j5) execute at build time and are separately exercised —
    skipped here to keep the sweep cheap."""
    from jane_spark.contracts import REGISTRY

    offenders, missing = [], []
    for name, cq in REGISTRY.items():
        if name.startswith("q_i") or name == "q_j5_stateful_segments":
            continue
        plan = _executed_plan(cq.spark_fn(spark, sf_dir))
        has_py = any(m in plan for m in _PY_MARKERS)
        if has_py and name not in _PANDAS_ALLOWED:
            offenders.append(name)
        if not has_py and name in _PANDAS_ALLOWED:
            missing.append(name)
    assert not offenders, f"unexpected Python eval in: {offenders}"
    # the allowlist must not rot into a stale superset
    assert not missing, f"allowlisted but JVM-only now: {missing}"


def test_one_task_loop_builds_stay_within_job_budget(spark, sf_dir):
    """PageRank, BPE training and the k-means Lloyd loop run their whole
    loop in one Arrow task when the table fits one (engine.onetask):
    building these rows at the test SF launches a handful of jobs, not
    one chain per round (46, 46, 20 and 11 with the distributed loops).
    The one loop also fits PQ's m codebooks in one call (q_k23_pq_codes
    and q_k23_ivf_pq ran 12 and 15 jobs with one fit per subspace) and
    IVF's coarse quantizer (q_k3_ivf ran 6 with its own Lloyd loop).
    Jobs are counted per job group, as perfbench/curate.py counts them.
    Each one-task loop is one action (engine.onetask.in_one_task),
    whose task checks the bound itself.
    The PageRank rows return the ranks as a local relation and k-means
    and PQ a SQL projection against the fitted centroids, so their
    plans hold no Python stage; BPE and the two IVF rows keep their
    allowlisted Python stages."""
    from jane_spark.contracts import REGISTRY

    sc = spark.sparkContext
    budget = {
        "q_k27_pagerank": 7,
        "q_k34_textrank": 7,
        "q_k22_bpe_train": 5,
        "q_k16_kmeans": 3,
        "q_k23_pq_codes": 3,
        "q_k23_ivf_pq": 6,
        "q_k3_ivf": 3,
    }
    jobs = {}
    for name in budget:
        group = f"job-budget-{name}"
        sc.setJobGroup(group, group)
        try:
            df = REGISTRY[name].spark_fn(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        if name not in ("q_k22_bpe_train", "q_k23_ivf_pq", "q_k3_ivf"):
            plan = _executed_plan(df)
            assert not any(m in plan for m in _PY_MARKERS), (name, plan)
    assert all(jobs[n] <= cap for n, cap in budget.items()), jobs


def test_pq_fit_jobs_inherit_the_callers_job_group(spark, sf_dir):
    """Every job that building a PQ row starts (the Lloyd loop's
    one-task fit) carries the caller's job group, so a per-group count
    (bench.py's rebuild rule, the budget above) sees them and none runs
    ungrouped."""
    import bench

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    assert bench.build(spark, sf_dir, "q_k23_pq_codes").jobs > 0
    bus.waitUntilEmpty()
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped


def test_lm_scoring_joins_broadcast(spark, sf_dir):
    """T28/T33: every count-table scoring join must broadcast (the
    tables are vocabulary-bounded) — a sort-merge here would shuffle
    the exploded corpus positions per table. T32 must stay a pure
    zero-exchange projection."""
    from jane_spark.contracts import REGISTRY

    for name, min_bhj in [("q_t33_kneser_ney", 3), ("q_t28_trigram_backoff", 5)]:
        plan = _executed_plan(
            REGISTRY[name].spark_fn(spark, sf_dir)
        ).split("== Initial Plan ==")[0]
        assert plan.count("BroadcastHashJoin") >= min_bhj, (name, plan)
        assert "SortMergeJoin" not in plan, name
    gopher = _executed_plan(
        REGISTRY["q_t32_gopher"].spark_fn(spark, sf_dir)
    ).split("== Initial Plan ==")[0]
    assert "Exchange" not in gopher and "Join" not in gopher


def test_station_params_and_unigram_joins_broadcast(spark, sf_dir):
    """r8 additions: the availability-extent join (bounded per-channel
    aggregate) and the word-TYPE encode joins (vocabulary-bounded) must
    broadcast — a sort-merge would shuffle the big side per join — and
    nothing may go cartesian."""
    from jane_spark.contracts import REGISTRY

    # one join each in the final plan: the extent/encode join (seed-id
    # equality on constant network/location/channel folds away, leaving
    # the station/word key)
    for name, min_bhj in [
        ("q_a8_station_params", 1),
        ("q_k26_unigram", 1),
    ]:
        df = REGISTRY[name].spark_fn(spark, sf_dir)
        df.collect()  # let AQE finalize the join strategies
        plan = _executed_plan(df).split("== Initial Plan ==")[0]
        assert plan.count("BroadcastHashJoin") >= min_bhj, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_tokenizer_plan_size_guards(spark):
    """SCALE.md's production-tokenizer claims, enforced (VERDICT r8
    stretch): (1) encode_words_udf's plan is O(1) in the merge count —
    a 32k-merge table (a normal tokenizer) must produce the same plan
    shape as 8 merges, one Arrow stage, and still execute; (2)
    wordpiece_encode and unigram_encode are zero-exchange projections
    whose plan NODE count is independent of vocabulary size (the
    vocabulary rides inside one projection as an InSet array / literal
    map — growing it must not grow the operator tree)."""
    from jane_spark.operators.bpe import (
        encode_words_udf,
        unigram_encode,
        wordpiece_encode,
    )

    words = spark.createDataFrame(
        [("lowest",), ("newer",), ("wider",)], ["word"]
    )

    def plan_lines(df):
        return len(_executed_plan(df).splitlines())

    merges8 = [(f"x{i}", f"y{i}", 1) for i in range(8)]
    merges32k = [(f"x{i}", f"y{i}", 1) for i in range(32_000)]
    p8 = _executed_plan(encode_words_udf(words, merges8))
    p32k = _executed_plan(encode_words_udf(words, merges32k))
    assert len(p8.splitlines()) == len(p32k.splitlines())
    assert p32k.count("ArrowEvalPython") == 1
    # and the 32k-merge plan actually runs (one Arrow stage, no
    # codegen blowup): 3 words × 32k ranked merges
    assert encode_words_udf(words, merges32k).count() == 3

    for enc, mk_vocab in [
        (wordpiece_encode, lambda n: [f"p{i:03d}" for i in range(n)]),
        (
            unigram_encode,
            lambda n: {f"p{i:03d}": -100 - i for i in range(n)},
        ),
    ]:
        small = enc(words, mk_vocab(20))
        big = enc(words, mk_vocab(200))
        assert plan_lines(small) == plan_lines(big), enc.__name__
        assert "Exchange" not in _executed_plan(big), enc.__name__


def test_ivf_pq_and_portable_hash_plans(spark, sf_dir):
    """r9 additions: composed IVF-PQ's candidate generation must be an
    equi-join on the list id (never a cartesian/nested loop over the
    corpus — only the bounded per-query lookup-table join may
    broadcast), and the portable hash chains must broadcast their
    constant coefficient tables (DCT 8×32, Fourier 33×64) rather than
    shuffle the per-item side against them."""
    from jane_spark.contracts import REGISTRY

    df = REGISTRY["q_k23_ivf_pq"].spark_fn(spark, sf_dir)
    df.collect()
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin [list_id" not in plan  # candidates hash/bcast
    for name in ("q_k7_phash_portable", "q_k7_audio_portable"):
        p = _executed_plan(REGISTRY[name].spark_fn(spark, sf_dir))
        p = p.split("== Initial Plan ==")[0]
        assert p.count("BroadcastHashJoin") >= 2, name
        assert "CartesianProduct" not in p, name


def test_unigram_seed_truncates_cluster_side(spark, sf_dir):
    """r9 fix for the r8 weak mark: seed_unigram_vocab must never
    collect the full distinct-substring table — the multi-char branch
    has to end in a TakeOrdered/limit so the driver sees at most
    seed_size + |alphabet| rows regardless of corpus size."""
    from jane_spark.operators.bpe import seed_vocab_frames

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    _singles, multis = seed_vocab_frames(docs, seed_size=64)
    plan = _executed_plan(multis)
    assert "TakeOrderedAndProject" in plan, plan


def test_binary_topk_corpus_never_shuffles(spark, sf_dir):
    """K43 posture: the corpus feeds a TakeOrdered coarse stage — the
    only hash exchanges belong to the dimension-bounded per-dim sums
    aggregate; the bounds row arrives via a 1-row broadcast cross (the
    sq_topk shape), and nothing evaluates in Python."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_k43_binary"].spark_fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert not any(m in plan for m in _PY_MARKERS)
    # per-dim sums agg: one partial->final exchange pair keyed on pos
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]


def test_hrw_assignment_is_pure_projection(spark, sf_dir):
    """P25 posture: shard assignment is a column-expression fold — no
    explode (Generate), no window, no Python; the only shuffles belong
    to the |S x S'|-row transition aggregate and the id join."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_p25_hrw"].spark_fn(spark, sf_dir))
    assert "Generate" not in plan
    assert "Window" not in plan
    assert not any(m in plan for m in _PY_MARKERS)


def test_ks_and_auc_no_python_no_data_cartesian(spark, sf_dir):
    """T43/K45 posture: both reduce the corpus to a (key, value) count
    sketch in one combinable aggregate; the only cross joins in KS are
    the S x V / S^2 grids of SKETCH rows (counts table is checkpointed
    first, so no cross touches a corpus-lineage side); AUC has no
    cross at all."""
    from jane_spark.contracts import REGISTRY

    ks = _executed_plan(REGISTRY["q_t43_ks_drift"].spark_fn(spark, sf_dir))
    assert not any(m in ks for m in _PY_MARKERS)
    # the sketch grid reads the checkpointed counts (ExistingRDD), not
    # a re-derived corpus lineage
    assert "Scan ExistingRDD" in ks
    auc = _executed_plan(REGISTRY["q_k45_auc"].spark_fn(spark, sf_dir))
    assert not any(m in auc for m in _PY_MARKERS)
    assert "CartesianProduct" not in auc
    assert "BroadcastNestedLoopJoin" not in auc


def test_capped_semdedup_is_cluster_equi_join(spark, sf_dir):
    """K44 posture: the pair search stays a cluster-keyed equi-join
    (never a corpus cross product); the cap adds one window over the
    survivor table only."""
    from jane_spark.contracts import REGISTRY

    plan = _executed_plan(REGISTRY["q_k16_capped"].spark_fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not any(m in plan for m in _PY_MARKERS)
