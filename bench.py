#!/usr/bin/env python
"""Bench harness: headline contract queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

    python bench.py                  # every row; writes docs/bench_last_full*.json
    python bench.py pq_codes mmr     # those rows only; writes no file

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "n_rows": ..., "sf": ...,
   "cpus": ..., "defaultParallelism": ...}
and the full artifact (per-row build seconds and build jobs, warm-up
seconds, spreads, ambient load) on stderr.

Methodology (BASELINE.md): warm-session engine time. The session is
started and warmed, and every table read once, before timing. Each
query's DataFrame is built once under a job group of its own (the
analyzed-plan equivalent of a prepared statement — client-side py4j
plan construction is a fixed cost that does not scale with data, and
DuckDB's SQL parse is likewise sub-ms); the timed action is
``toPandas()`` — full execution + Arrow result materialization, the
same semantics as DuckDB's ``fetchdf``. A row whose build launched a
Spark job did data work at build (training collects, checkpoints,
files written), so its timed runs rebuild it (``Build.rebuild``).
Min of N runs (the timeit convention — robust to ambient load on a
shared box). Baseline numbers to beat are the DuckDB 1.0.0 medians in
BASELINE.md; driver rule is ≤ 2× per BASELINE.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid
from typing import TYPE_CHECKING, NamedTuple

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

# bench-name -> contract-query name (BASELINE.md rows, same order)
BENCH_QUERIES = {
    "filter_project": "q_b3_range_filter",
    "agg_q1": "q_d2_extent",
    "join3_agg": "q_c3_join4",
    "range_join": "q_c4_range_join",
    "topk_per_group": "q_f3_topk_group",
    "gap_lag": "q_d6_gaps",
    "sessionize": "q_i4_sessionize",
    "json_extract_agg": "q_b1_json_extract",
    "time_bucket": "q_d7_bucket",
    "token_count": "q_k4_tokens",
    "vector_topk": "q_k3_vector_topk",
    "hash_split": "q_p1_hash_split",
    "decontam": "q_t5_decontam",
    "redact": "q_t6_redact",
    "repetition": "q_t7_repetition",
    "pipeline_e2e": "q_p5_pipeline",
    "scorecard": "q_t9_scorecard",
    "rolling_1h": "q_e5_rolling",
    "scd2": "q_d15_scd2",
    # serving layer (round 6): availability span assembly + the
    # dataselect resolve paths (single-window cut + POST-bulk through
    # the band-bucketed interval join)
    "availability_spans": "q_d6_availability",
    "dataselect_cut": "q_a7_dataselect_cut",
    "bulk_select": "q_a7_bulk_select",
    "bm25_topk": "q_k5_bm25",
    "ssjoin_exact": "q_k14_ssjoin",
    # curation stages (round 6): line boilerplate dedup, duplicated-
    # substring coverage, trigram-LM scoring, semantic dedup
    "line_dedup": "q_t11_linededup",
    "dup_span": "q_t12_dupspan",
    "lm_score": "q_t13_lm_score",
    "semdedup": "q_k16_semdedup",
    "heavyhitters": "q_k17_heavyhitters",
    # round-6 second/third wave: C4 rules, WET extraction, mixture
    # sampling, CCNet buckets, normalization, hybrid retrieval
    "c4_filter": "q_t16_c4filter",
    "html_strip": "q_t17_htmlstrip",
    "mixture": "q_p7_mixture",
    "ccnet_buckets": "q_t18_ccnet_buckets",
    "normalize": "q_t19_normalize",
    "hybrid_rrf": "q_k19_hybrid",
    "clf_score": "q_t20_clf_score",
    "dup_remove": "q_t21_dupremove",
    # rows-only multimodal hash paths (no DuckDB twin — timed for
    # round-over-round visibility like the serving layer)
    "image_phash": "q_k7_phash",
    "audio_fp": "q_k7_audiofp",
    # REST front door + URL curation (round 6, late wave)
    "rest_search": "q_r1_rest_search",
    "rest_serialize": "q_r3_rest_serialize",
    "urlnorm": "q_t22_urlnorm",
    "domain_cap": "q_t23_domaincap",
    # BPE tokenizer training (round 6): iteration-1 statistics vs the
    # measured DuckDB twin; the full 8-merge loop timed rows-only.
    # NOTE bpe_train's ~3 s is 8 iterations of Catalyst analysis +
    # codegen over a THIRTY-ONE-word vocabulary (the fixture corpus) —
    # pure per-iteration planning floor, not data work; at a real
    # vocabulary (millions of word types) the same loop is
    # shuffle-bound on the vocab table, which is the designed shape
    "bpe_pairs": "q_k22_bpe_pairs",
    "bpe_train": "q_k22_bpe_train",
    "stupid_backoff": "q_t24_stupid_backoff",
    "web_pipeline": "q_p11_webpipeline",
    # round 7: PSL registrable domains (InSet projection) + trigram LM
    # + the WARC ingest round-trip (encode/parse/payload-split per doc;
    # timed rows-only-style — its oracle constructs md5s and does no
    # archive work, so a baseline compare would be apples-to-oranges)
    "psl_domain": "q_t27_psl_domain",
    "trigram_backoff": "q_t28_trigram_backoff",
    "warc_roundtrip": "q_a10_warc",
    "gopher_rules": "q_t32_gopher",
    "kneser_ney": "q_t33_kneser_ney",
    # main-content extraction: its oracle CONSTRUCTS the expected text
    # (never parses), so like warc_roundtrip it's timed without a
    # baseline compare — a construct-only baseline would be
    # apples-to-oranges (the urlnorm precedent, docs/SCALE.md §9)
    "content_extract": "q_t29_extract",
    # round 8: fdsnws request-parameter surface (multi-solution QuakeML
    # serialization; station harvesting/visibility/availability params)
    # + the XML upload-validation gate (ElementTree pandas UDF — its
    # oracle derives outcomes from the generative rule and parses no
    # XML, so it's timed without a baseline compare)
    "event_includeall": "q_a8_event_includeall",
    "station_params": "q_a8_station_params",
    "validation_gate": "q_a3_validation_gate",
    # Unigram-LM tokenizer: the oracle runs the SAME Viterbi DP as a
    # recursive CTE — a genuine perf twin
    "unigram": "q_k26_unigram",
    # round 9: the remaining r8 newcomers + the r9 additions. The two
    # XML-parse rows are timed WITHOUT a baseline compare — their
    # correctness oracles construct the expected rows arithmetically
    # and parse no XML (the content_extract precedent); the rest have
    # genuine twins (the keep_best oracle runs the same components
    # fixpoint as a recursive CTE, pq/adc/phash replay the identical
    # arithmetic).
    "keep_best": "q_k10_keep_best",
    "pq_codes": "q_k23_pq_codes",
    "pq_adc": "q_k23_pq_adc",
    "ivf_pq": "q_k23_ivf_pq",
    "audio_portable": "q_k7_audio_portable",
    "pack_boundaries": "q_p15_pack_boundaries",
    "availability_params": "q_a8_availability_params",
    "quakeml_parse": "q_a3_quakeml_parse",
    "stationxml_parse": "q_a2_stationxml_parse",
    "phash_portable": "q_k7_phash_portable",
    "bloom_dedup": "q_k15_bloom_dedup",
    # round-9 continuation: portable sketches + their set algebra,
    # graph diagnostics (DBSCAN/PageRank/triangles run on constructed
    # fixtures whose oracles unroll the same iterations as recursive
    # CTEs — genuine twins), the rollup cascade, M4 downsampling,
    # systematic sampling, PMI collocations, one-pass profiling
    "kmv": "q_d3_kmv",
    "kmv_ops": "q_d3_kmv_ops",
    "hll": "q_d3_hll",
    "hll_groups": "q_d3_hll_groups",
    "cms": "q_k17_cms",
    "dbscan": "q_k16_dbscan",
    "pagerank": "q_k27_pagerank",
    "rollup_cascade": "q_d16_rollup_cascade",
    "containment": "q_k2_containment",
    "jl_topk": "q_k24_jl",
    "m4_downsample": "q_e8_m4",
    "sys_sample": "q_p16_sys_sample",
    "triangles": "q_k28_triangles",
    "pmi": "q_k29_pmi",
    "profile": "q_d17_profile",
    "lttb": "q_e9_lttb",
    "mad": "q_d18_mad",
    "quantiles": "q_d19_quantiles",
    "decay": "q_d20_decay",
    "phrase": "q_k30_phrase",
    "cohort": "q_d21_cohort",
    "gridjoin": "q_b13_gridjoin",
    "asof_nearest": "q_c9_asof_nearest",
    "embstats": "q_k31_embstats",
    "stalta": "q_e10_stalta",
    "temporal_dedup": "q_k15_temporal",
    "vocab_growth": "q_k32_vocab",
    "score_calib": "q_t34_score_calib",
    "splits": "q_p17_splits",
    # round 10
    "mmr": "q_k33_mmr",
    "zorder": "q_p18_zorder",
    "textrank": "q_k34_textrank",
    "zipf": "q_k35_zipf",
    "bottomk": "q_d22_bottomk",
    "jsonl_quarantine": "q_a11_jsonl",
    "simhash_pairs": "q_k2_simhash",
    "lsh_6x3": "q_k3_lsh",
    "langid_udf": "q_t2_langid",
    "fingerprint64": "q_t3_fingerprint",
    "unigram_train": "q_k26_unigram_train",
    "gridjoin_salted": "q_b13_gridjoin_salted",
    "cusum": "q_e12_cusum",
    "novelty": "q_t36_novelty",
    "hardneg": "q_k36_hardneg",
    "overlap_matrix": "q_k37_overlap_matrix",
    "manifest": "q_p19_manifest",
    "ann_audit": "q_k39_ann_audit",
    "curriculum": "q_p20_curriculum",
    "increment_dedup": "q_k40_increment_dedup",
    # round-11 rows
    "outliers": "q_d24_outliers",
    "fertility": "q_t37_fertility",
    "dsir": "q_p21_dsir",
    "sq_topk": "q_k42_sq",
    "cascade": "q_p22_cascade",
    "hdr_quantiles": "q_d25_hdr_quantiles",
    "seasonal_residual": "q_e13_seasonal_residual",
    "csv_quarantine": "q_a14_csv",
    "hll_timeline": "q_d27_hll_timeline",
    "leakage": "q_t40_leakage",
    "drift": "q_t41_drift",
    "lang_confusion": "q_t42_lang_confusion",
    "waterfill": "q_p24_waterfill",
    # round-12 ops: the binary rung of the quantization ladder, the
    # third+fourth ingest containers, and the capped SemDeDup mix guard
    "binary_topk": "q_k43_binary",
    "xml_quarantine": "q_a15_xml",
    "orc_roundtrip": "q_a16_orc",
    "capped_semdedup": "q_k16_capped",
    "clf_auc": "q_k45_auc",
    "ks_drift": "q_t43_ks_drift",
    "hrw_reshard": "q_p25_hrw",
    # round-12 second batch: zone-map skipping, Gram/covariance, F-S
    # record linkage, Cohen's kappa, the partial-aggregate merge law
    "zonemaps": "q_p26_zonemaps",
    "gram": "q_k47_gram",
    "linkage": "q_k46_linkage",
    "kappa": "q_t44_kappa",
    "merge_rollup": "q_d28_merge_rollup",
    # round-12 third batch: graph-expansion ANN, shard-balance Gini,
    # per-series OLS trend
    "graph_ann": "q_k48_graph",
    "shard_balance": "q_p27_shard_balance",
    "trend": "q_e14_trend",
    # round 13: weighted reservoir sampling (A-Res), D22's weighted twin
    "wrs": "q_d29_weighted_reservoir",
    # hive-partitioned corpus-export roundtrip (P7 -> registry contract);
    # its oracle aggregates the source table and does NO file work --
    # the orc_roundtrip adjudication
    "export_roundtrip": "q_p7_export",
    # OPQ family: the dimperm twin's oracle replays the same variance
    # ranking + Lloyd chains (genuine twin); the learned-rotation OPQ
    # is rows-only (driver eigendecomposition has no DuckDB twin)
    "dimperm_pq": "q_k49_dimperm",
    "opq_codes": "q_k49_opq",
    # IVF incremental maintenance: frozen-quantizer batch assignment
    # (genuine twin: the oracle trains the same corpus-only Lloyd
    # chain) + the integer moment-drift retrain trigger (lazy plan)
    "ivf_incr": "q_k50_ivf_incr",
    "drift_trigger": "q_k50_drift_trigger",
    # Hilbert layout keys: genuine twin (the oracle replays the same
    # 16-CTE reflect+rotate chain)
    "hilbert": "q_p28_hilbert",
    # Poisson-bootstrap replicate sums (fully lazy plan; genuine twin)
    "bootstrap": "q_d30_bootstrap",
    # Mann-Kendall + Theil-Sen robust trend (lazy plan; genuine twin:
    # the oracle runs the same bounded pair join + rank)
    "robust_trend": "q_e15_robust_trend",
    # two-layout bloom file-skipping audit (lazy plan; genuine twin)
    "bloom_skip": "q_p29_bloom_skip",
    # b-bit minhash packed-signature retrieval (lazy plan; twin replays
    # the portable minhash chain + slot compares)
    "bbit_minhash": "q_k51_bbit_minhash",
    # synchronous LPA communities (lazy 4-round plan; unrolled-CTE twin)
    "lpa": "q_k52_lpa",
    # round 14: NN-descent kNN-graph build (localCheckpoint per round
    # at plan build); the oracle replays seed + both refinement rounds,
    # so it is a genuine twin
    "nn_descent": "q_k48_nn_descent",
    # closed-form 2x2-block OPQ rotation (one lazy plan: aggregate +
    # broadcast cross join + codegen projection; genuine twin)
    "opq2_rotate": "q_k49_opq2",
    # ICWS weighted-minhash near-dup (lazy plan; twin replays draws,
    # argmin, collision join and the exact-Jaccard verify)
    "icws": "q_k53_icws",
    # exact maximal duplicated-substring spans (lazy plan; twin replays
    # anchors + diagonal sessionization)
    "exact_spans": "q_t45_exact_spans",
    # WebDataset tar round trip (tar pack + re-parse in-plan; the
    # oracle CONSTRUCTS the member table — construct-only class, like
    # export_roundtrip/orc_roundtrip)
    "wds_roundtrip": "q_p10_roundtrip",
    # priority sampling (lazy plan; genuine twin — same md5 ratio rank)
    "priority": "q_d31_priority",
    # round 15: exact-span duplicate REMOVAL (lazy plan; genuine twin —
    # the oracle replays anchors, diagonal runs, interval merge and
    # the string_agg reassembly byte-for-byte)
    "span_removal": "q_t45_span_removal",
    # residual IVF-PQ / true IVFADC (coarse kmeans_fit + residual
    # pq_fit collect at plan build; genuine twin — residual-sourced
    # unrolled-Lloyd chains)
    "ivf_pq_residual": "q_k23_ivf_pq_residual",
    # incremental LPA (lazy plan end to end — the stored 4-round
    # fixpoint, admission and refinement are one plan; genuine twin)
    "lpa_incr": "q_k52_lpa_incr",
    # Avro container quarantine (container files written at plan
    # build; arithmetic good/corrupt twin)
    "avro_quarantine": "q_a17_avro",
    # content-defined chunking (lazy plan; genuine twin — the oracle
    # replays fingerprint cuts, lead segmentation and chunk md5s)
    "cdc_chunks": "q_t46_cdc_chunks",
    # (q_i5_late_drop stays un-benched like every streaming execution:
    # the stream runs at plan-build into a memory sink and its oracle
    # is the batch twin — a construct-only compare)
}

RUNS = 5

# Ambient-drift calibration (VERDICT r4 "bench hygiene"): re-measure a
# few DuckDB baseline rows in the SAME session, interleaved with the
# Spark timings, so a uniform slowdown can be attributed — if the
# baseline re-measure moves with the suite it's ambient box load, if
# the baseline holds flat while Spark regresses it's a real plan
# regression. Rows chosen = the three biggest r4 median drifts.
# baseline_ref = the BASELINE.md medians the driver's 2× rule uses.
CALIBRATION = {
    "sessionize": 0.253,
    "topk_per_group": 0.056,
    "gap_lag": 0.015,
    "availability_spans": 0.048,
    "bm25_topk": 0.053,
    "ssjoin_exact": 1.125,
    # round-6 curation rows: DuckDB 1.x medians measured on this box at
    # sf0.1 (same session methodology as BASELINE.md)
    "line_dedup": 0.178,
    "dup_span": 1.561,
    "lm_score": 0.437,
    "semdedup": 0.102,
    "heavyhitters": 0.050,
    # second/third-wave rows: DuckDB 1.x medians measured on this box
    # at sf0.1 (same session methodology as BASELINE.md)
    "c4_filter": 0.195,
    "html_strip": 0.168,
    "mixture": 0.028,
    "ccnet_buckets": 0.531,
    "normalize": 0.145,
    "hybrid_rrf": 0.096,
    "clf_score": 0.279,
    "dup_remove": 3.109,
    # REST/URL rows: DuckDB 1.x medians measured on this box at sf0.1
    # (same session methodology as BASELINE.md)
    "rest_search": 0.0245,
    "rest_serialize": 0.134,
    # urlnorm's CORRECTNESS oracle constructs the canonical form
    # arithmetically (never parses) — as a perf baseline that would be
    # apples-to-oranges. This number is a DuckDB twin doing the SAME
    # parse work (regexp extracts + host/port split + param
    # filter/sort), measured 5-run median on this box at sf0.1.
    "urlnorm": 0.0315,
    "domain_cap": 0.0113,
    "bpe_pairs": 0.0468,
    "stupid_backoff": 0.2239,
    "web_pipeline": 0.0304,
    # round-7 rows: DuckDB 1.x medians measured on this box at sf0.1
    # (same session methodology as BASELINE.md)
    "psl_domain": 0.0084,
    "trigram_backoff": 0.3073,
    "gopher_rules": 0.4287,
    "kneser_ney": 0.3389,
    # round-8 rows: DuckDB 1.x medians measured on this box at sf0.1
    # (same session methodology as BASELINE.md); the oracles do the
    # same serialization/join work as the Spark side
    "event_includeall": 0.3528,
    "station_params": 0.0854,
    "unigram": 0.2783,
    # round-9 rows: DuckDB 1.x medians measured on this box at sf0.1
    # (same session methodology as BASELINE.md)
    "keep_best": 14.9348,
    "pq_codes": 0.1736,
    "pq_adc": 0.3444,
    "ivf_pq": 3.8763,  # r11 idle 5-run re-median (r9 number was a single lucky run; REBUILD-shaped oracle, spread 3.4-5.8)
    "audio_portable": 0.0497,
    "pack_boundaries": 1.3249,
    "availability_params": 0.0501,
    "phash_portable": 0.0418,
    "bloom_dedup": 0.0198,
    # round-9 continuation rows: DuckDB 1.x medians measured on this
    # box at sf0.1, idle (load < 1), 5-run median per the CALIBRATION
    # protocol. dbscan/pagerank oracles unroll the Spark side's exact
    # fixture iterations as recursive/chained CTEs — the fair twin of
    # the iterative operator (the keep_best precedent)
    "kmv": 0.0378,
    "kmv_ops": 0.0377,
    "hll": 0.0538,
    "hll_groups": 0.0622,
    "cms": 0.4174,
    "dbscan": 6.6979,
    "pagerank": 12.1364,
    "rollup_cascade": 0.0215,
    "containment": 4.0471,
    "jl_topk": 0.8199,
    "m4_downsample": 0.0635,
    "sys_sample": 0.0064,
    "triangles": 0.3365,
    "pmi": 0.0676,  # r11: oracle re-shaped to the BIGINT count tuple (no log2)
    "profile": 0.0138,
    "lttb": 0.0880,
    "mad": 0.0754,
    "quantiles": 0.0638,
    "decay": 0.0231,
    "phrase": 0.0664,
    "cohort": 0.0327,
    "gridjoin": 2.0628,
    "asof_nearest": 0.0510,
    "embstats": 0.0122,
    "stalta": 0.0470,
    "temporal_dedup": 0.0973,
    "vocab_growth": 0.0611,
    "score_calib": 0.0092,
    "splits": 0.0448,
    # round 10: the previously-unbaselined rows with DuckDB-expressible
    # oracles (audio_fp / image_phash stay no-twin: codec-dependent
    # xxhash fingerprints; their *_portable twins are baselined above)
    "bpe_train": 0.0718,
    "bulk_select": 0.0478,
    "content_extract": 0.0634,
    "dataselect_cut": 0.0931,
    "quakeml_parse": 0.1382,
    "stationxml_parse": 0.0021,
    "mmr": 1.6164,  # r11 idle 5-run re-median per CALIBRATION (r10 was measured once)
    "zorder": 0.1994,
    "textrank": 6.6037,  # r11 idle 5-run re-median per CALIBRATION
    "zipf": 0.0426,
    "bottomk": 0.0070,
    "jsonl_quarantine": 0.0026,
    "simhash_pairs": 0.6832,
    "lsh_6x3": 0.3574,
    "langid_udf": 0.5714,
    "fingerprint64": 0.0214,
    "unigram_train": 3.0350,
    "gridjoin_salted": 2.0814,
    "validation_gate": 0.0067,
    "warc_roundtrip": 0.0111,
    "cusum": 0.1290,  # r11: oracle gained the p_0=0 baseline (least(0, min))
    "novelty": 1.2245,
    "hardneg": 0.4106,  # r11: oracle reformulated to the rounded band (rounds all pairs)
    "overlap_matrix": 1.7200,
    "manifest": 0.0235,
    "ann_audit": 2.5559,
    "curriculum": 0.0209,
    # round-11 rows: DuckDB 1.x idle 5-run medians at sf0.1
    "outliers": 0.1621,
    "fertility": 0.6594,
    "dsir": 0.3698,
    "sq_topk": 0.0272,
    "cascade": 23.3565,
    "hdr_quantiles": 0.0208,
    "seasonal_residual": 0.0349,
    # csv_quarantine: construct-only oracle (no file/CSV-parse work —
    # the jsonl_quarantine adjudication shape)
    "csv_quarantine": 0.0025,
    "hll_timeline": 0.0892,
    "leakage": 3.5269,
    "drift": 0.2656,
    "lang_confusion": 0.8057,
    "waterfill": 0.1911,
    "increment_dedup": 0.1083,
    # round-12 rows: DuckDB 1.x medians measured on this box at sf0.1,
    # idle 5-run (xml/orc oracles are construct-only / no-container-work
    # — the jsonl_quarantine adjudication applies)
    "ks_drift": 0.0391,
    "hrw_reshard": 0.0365,
    "clf_auc": 0.2225,
    "binary_topk": 0.0355,
    "xml_quarantine": 0.0039,
    "orc_roundtrip": 0.0062,
    "capped_semdedup": 0.1763,
    # round-12 second batch, same idle 5-run methodology
    "zonemaps": 0.1775,
    "gram": 0.0229,
    "linkage": 0.1836,
    "kappa": 0.4777,
    "merge_rollup": 0.046,
    "shard_balance": 0.0491,
    "trend": 0.014,
    # graph_ann: idle 3-run median (its quadratic oracle runs ~1.1 s;
    # 3 runs keep the interleaved recheck affordable — BASELINE.md)
    "graph_ann": 1.1041,
    # round-13 rows: DuckDB 1.x medians measured on this box at sf0.1,
    # idle 5-run (load1m < 1.6 at measure time). export_roundtrip's
    # oracle is construct-only (no file work) — the orc_roundtrip
    # adjudication applies
    "wrs": 0.0137,
    "export_roundtrip": 0.0089,
    # dimperm oracle = a genuine twin (same variance ranking + Lloyd
    # chains); two idle sessions measured 0.546/0.634 medians — the
    # stricter one recorded
    "dimperm_pq": 0.5464,
    "ivf_incr": 0.8191,
    "drift_trigger": 0.0150,
    "hilbert": 0.4391,
    "bootstrap": 0.0380,
    # two sessions measured 0.251/0.389 medians — stricter recorded
    "robust_trend": 0.2508,
    "bloom_skip": 0.0611,
    "bbit_minhash": 1.6926,
    # three sessions measured 2.52 (load 6)/2.15 (load 2.1)/2.09
    # (TRUE idle r14: busy 0.02, steal 0.00) — idle one recorded
    "lpa": 2.0900,
    # round-14 rows: two readings each — a fresh-process idle 5-run
    # median (nn_descent 24.23 / opq2 0.98 / icws 5.25 / exact_spans
    # 5.05 / wds 0.0202; steal 0.00, busy 0.01 probed before) and the
    # gate-clean artifact's same-session interleaved recheck, which
    # came in FASTER (DuckDB warm-session effects); the STRICTER one
    # is recorded (the dimperm/robust_trend convention).
    # wds_roundtrip stays the construct-only class
    "nn_descent": 11.9147,
    "opq2_rotate": 0.3697,
    "icws": 2.9366,
    "exact_spans": 2.4835,
    "wds_roundtrip": 0.0147,
    # priority sampling (idle 5-run median, busy ~0 probed before)
    "priority": 0.0206,
    # round-15 rows: fresh-process idle 5-run medians (steal 0.00
    # probed before; interleaved rechecks follow the same
    # stricter-recorded convention once the artifact lands).
    # span_removal is a genuine whole-edit twin; ivf_pq_residual's
    # and lpa_incr's oracles are fully MATERIALIZED CTE chains
    # (DuckDB inlining re-expands the shared subtrees exponentially
    # otherwise — the residual chain exhausted file descriptors, the
    # incr chain spilled temp storage to disk-full at sf0.1);
    # avro_quarantine is the arithmetic good/corrupt class like
    # jsonl/csv/xml_quarantine
    # stricter of (fresh-process median / r15 gate-clean artifact's
    # interleaved recheck): span_removal 4.64/6.59, ivf_pq_residual
    # 2.00/1.89, lpa_incr 0.31/0.37, avro 0.0055/0.0040,
    # cdc_chunks 0.80/1.14 — lower recorded per the r14 convention
    "span_removal": 4.6429,
    "ivf_pq_residual": 1.8859,
    "lpa_incr": 0.3068,
    "avro_quarantine": 0.0040,
    "cdc_chunks": 0.8025,
}


# ---------------------------------------------------------------------
# Ambient-load gate (VERDICT r12 next-steps #2). loadavg1m is the WRONG
# gate signal here: the suite's own local[32] execution keeps load1m at
# 9-17 during heavy stretches even on a truly idle box (every one of
# the 145 rows in the r12 idle artifact sat above 1.5), so a loadavg
# threshold cannot separate "the box was busy with someone else's work"
# (what corrupted event_includeall r12 / jl_topk r11) from "the bench
# was running". Instead each row's sample window measures OTHER-process
# CPU directly from /proc deltas: ambient_cores = jiffies burned by
# processes OUTSIDE this bench's process tree (python driver + the
# JVM child and descendants), normalized to cores. A row whose window
# saw ambient_cores > GATE is re-measured after the interloper clears;
# if it never clears, the row is tagged in queries_ambient so a later
# reader can discount it — ambient contamination can no longer
# masquerade as a plan regression.
_NCPU = os.cpu_count() or 1
AMBIENT_GATE_CORES = 1.5
# HOST STEAL gets its OWN, stricter gate (VERDICT r13 "what's wrong
# #1"): steal of 0.6-1.1 cores slid under the 1.5 combined gate and
# still inflated pagerank/cascade/keep_best/sq_topk by 0.3-5 s — steal
# removes cores from the measured workload DIRECTLY (ambient user load
# merely competes through the scheduler), so even sub-core steal is a
# contaminated reading. A row whose window saw steal above this gate
# re-measures like an ambient hit and, if it never clears, is tagged
# in queries_steal.
STEAL_GATE_CORES = 0.5


def _proc_stat() -> tuple[int, int, int]:
    """(total, idle, steal) jiffies across all cpus from /proc/stat.
    STEAL matters on this box: it runs inside a VM, and host-side
    contention shows as steal time — CPU that belongs to NO visible
    process, so a process-tree residual alone would miss exactly the
    contention class that corrupted event_includeall in r12."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), idle, steal


def _tree_jiffies() -> int:
    """utime+stime+cutime+cstime summed over this process and every
    live descendant (the py4j-launched JVM is a child; its executors
    are threads). cutime/cstime matter: pyspark python WORKERS spawn
    and exit inside a measurement window, and an exited worker's CPU
    vanishes from its own (gone) /proc entry — but lands in its
    reaper's cutime, so including the reaped-children fields keeps
    the tree sum monotone and the ambient residual honest (without
    them, worker churn inflated ambient to 2-5 "cores" on an idle box
    and burned gate retries on every REBUILD row)."""
    procs: dict[int, tuple[int, int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
        except OSError:
            continue  # raced a process exit
        rest = s[s.rindex(")") + 2:].split()  # comm may contain spaces
        procs[int(pid)] = (
            int(rest[1]),
            int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
        )
    # kernel threads (children of kthreadd, pid 2) do I/O and flush
    # work ON BEHALF of the measured workload (kworkers during heavy
    # shuffle writes) — counting them as "ambient" made pq_codes burn
    # 4 gate retries on a genuinely idle box (r13). Treat the kernel
    # as part of the tree: ambient = other USER processes only.
    procs[2] = (0, procs.get(2, (0, 0))[1])
    tree = {os.getpid(), 2}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(j for pid, (_, j) in procs.items() if pid in tree)


def _ambient_start() -> tuple[float, int, int, int, int]:
    total, idle, steal = _proc_stat()
    return (time.monotonic(), total, idle, steal, _tree_jiffies())


def _ambient_cores(start: tuple[float, int, int, int, int],
                   min_window: float = 0.3) -> tuple[float, float]:
    """(other_process_cores, steal_cores) of NON-bench CPU burned
    since ``start``. Windows shorter than ``min_window`` are padded
    with a sleep (jiffy resolution is 10 ms; a 25 ms window would
    alias one stray tick into a core)."""
    t0, total0, idle0, steal0, tree0 = start
    dt = time.monotonic() - t0
    if dt < min_window:
        time.sleep(min_window - dt)
    total1, idle1, steal1 = _proc_stat()
    d_total = total1 - total0
    if d_total <= 0:
        return 0.0, 0.0
    d_steal = max(0, steal1 - steal0)
    busy = d_total - (idle1 - idle0) - d_steal
    other = max(0, busy - (_tree_jiffies() - tree0))
    # clamp to the physical core count: when one of OUR processes
    # exits mid-window (pyspark python workers do), its jiffies vanish
    # from the end-of-window tree sum and the residual overcounts —
    # observed as a 104-core reading on a 32-core box. The overcount
    # can only cause a spurious retry (never a missed one), and the
    # clamp keeps the recorded per-row number physically meaningful.
    return (
        min(other * _NCPU / d_total, float(_NCPU)),
        min(d_steal * _NCPU / d_total, float(_NCPU)),
    )


def _wait_for_ambient_clear(max_wait: float = 20.0) -> None:
    waited = 0.0
    while waited < max_wait:
        probe = _ambient_start()
        time.sleep(0.5)
        waited += 0.5
        user, steal = _ambient_cores(probe, min_window=0.5)
        if user <= AMBIENT_GATE_CORES and steal <= STEAL_GATE_CORES:
            return


def _duckdb_connect(sf_dir: str):
    import duckdb

    from jane_spark.engine.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _time_duckdb(con, sql: str, runs: int = 3) -> float:
    import statistics

    con.execute(sql).fetchdf()  # warm (page cache, plan)
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        con.execute(sql).fetchdf()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 4)


def start_session(sf_dir: str, app: str = "jane_spark_bench") -> SparkSession:
    """The bench session: executors warmed, the hot tables pinned and
    every contract table read once, all before any row is built."""
    from jane_spark.engine.catalog import Catalog
    from jane_spark.engine.session import get_spark

    # shuffle partitions sized to the benchmark data volume (sf0.1 is
    # ~60 MB — 8 partitions; a cluster run sizes this to data/128MB).
    # AQE stays ON (the at-scale posture), it would coalesce these
    # anyway; this just skips scheduling empty tasks.
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    spark = get_spark(app)
    # warm the executors outside the timed region
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Pin hot tables in the columnar cache, clustered on their primary
    # access key (Catalog.pin docstring has the at-scale policy). The
    # testdata parquet is single-row-group, so unpinned scans are
    # single-task; pinning lets the window/grouped-map family (events
    # by user_id, orders by o_custkey) run with no exchange via
    # Catalog.clustered. Scan-bound queries keep the vectorized parquet
    # path — it beats cached-batch decode. DuckDB's baseline likewise
    # re-reads OS-page-cached parquet with a warm buffer pool.
    cat = Catalog(spark, sf_dir)
    cat.pin("events", cluster_by="user_id", partitions=8)
    cat.pin("orders", cluster_by="o_custkey", partitions=8)
    # documents: per-row-compute queries (regex redaction) parallelize
    # from the cached 8-partition layout instead of the single-row-group
    # parquet file's one scan task
    cat.pin("documents", cluster_by="doc_id", partitions=8)
    touch_tables(spark, sf_dir)
    return spark


def touch_tables(spark: SparkSession, sf_dir: str) -> None:
    """Read every contract table once. The first read of a parquet
    table runs a schema job; the Catalog keeps the resolved table for
    the session, so after this no row's build is charged with it."""
    from jane_spark.engine.catalog import TABLES, Catalog

    cat = Catalog(spark, sf_dir)
    for t in TABLES:
        cat.table(t)


class Build(NamedTuple):
    """A row's prepared plan, its build seconds and the number of Spark
    jobs the build launched."""

    df: DataFrame
    seconds: float
    jobs: int

    @property
    def rebuild(self) -> bool:
        """The row's timing class. A build that launched a Spark job
        did data work (a driver loop's collects, a checkpoint, files
        written), so each timed run rebuilds the row; timing only the
        prepared plan would time its final read. A build that launched
        none is a lazy plan, prepared once like a prepared statement."""
        return self.jobs > 0


def build(spark: SparkSession, sf_dir: str, qname: str) -> Build:
    """Build contract ``qname`` under a job group of its own and count
    the jobs in that group. Jobs from an operator's own threads count
    only if those threads inherit the caller's local properties
    (``pyspark.inheritable_thread_target``)."""
    from jane_spark.contracts import REGISTRY

    sc = spark.sparkContext
    group = f"bench-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"build {qname}")
    t0 = time.perf_counter()
    try:
        df = REGISTRY[qname].spark_fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    seconds = time.perf_counter() - t0
    # the status tracker is fed by the listener bus: drain it so the
    # count holds every job the build started
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return Build(df, seconds, len(sc.statusTracker().getJobIdsForGroup(group)))


def main(rows: list[str]) -> None:
    """Time ``rows`` (bench names; every row when empty). Only a full
    run writes ``docs/bench_last_full*.json``."""
    unknown = [r for r in rows if r not in BENCH_QUERIES]
    if unknown:
        raise SystemExit(f"unknown bench rows: {' '.join(unknown)}")
    full_suite = not rows
    rows = rows or list(BENCH_QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from jane_spark.contracts import REGISTRY
    from jane_spark.engine.ckpt import persistent_rdd_ids, unpersist_ids

    spark = start_session(sf_dir)
    con = _duckdb_connect(sf_dir)
    load_start = os.getloadavg()

    # Between-row hygiene baseline: everything persisted from here on
    # is a row's own scaffolding (localCheckpoint generations of
    # rebuilt rows, materialize-before-rmtree sources). Dropping a
    # finished row's leftovers keeps the block manager at its
    # start-of-suite footprint, so row N's measurement doesn't pay
    # row N-1's storage pressure (measured 3x warm-exec inflation on
    # late-suite rows before this; the pinned catalog caches are
    # materialized above and survive in the baseline set). This is
    # hygiene between rows, not a timing-methodology change: every
    # timed run still computes from the parquet inputs.
    baseline_rdds = persistent_rdd_ids(spark)

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    spreads: dict[str, float] = {}
    build_s: dict[str, float] = {}
    build_jobs: dict[str, int] = {}
    first_exec_s: dict[str, float] = {}
    rebuilt: list[str] = []
    loadavgs: dict[str, float] = {}
    ambients: dict[str, float] = {}
    steals: dict[str, float] = {}
    ambient_flagged: list[str] = []
    steal_flagged: list[str] = []
    baseline_recheck: dict[str, float] = {}
    # suite-wide retry budget: a persistently-contended box (e.g. the
    # driver's own run, loadavg >5) should degrade to one flagged pass,
    # not loop forever waiting for quiet that never comes. The PER-ROW
    # cap exists because chronic host STEAL (~1 core for hours, r13)
    # would otherwise burn the whole budget on one short row.
    retry_budget = 30
    row_retry_cap = 3
    for bench_name in rows:
        qname = BENCH_QUERIES[bench_name]
        prep = build(spark, sf_dir, qname)
        t0 = time.perf_counter()
        prep.df.toPandas()  # untimed warm-up: codegen compile, broadcasts
        first_exec_s[bench_name] = round(time.perf_counter() - t0, 4)
        build_s[bench_name] = round(prep.seconds, 4)
        build_jobs[bench_name] = prep.jobs
        if prep.rebuild:
            rebuilt.append(bench_name)
        all_samples: list[float] = []
        row_tries = 0
        while True:
            amb_t0 = _ambient_start()
            samples = []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                if prep.rebuild:
                    REGISTRY[qname].spark_fn(spark, sf_dir).toPandas()
                else:
                    prep.df.toPandas()
                samples.append(time.perf_counter() - t0)
            amb_user, amb_steal = _ambient_cores(amb_t0)
            amb = amb_user + amb_steal
            all_samples.extend(samples)
            row_tries += 1
            clean = (
                amb <= AMBIENT_GATE_CORES
                and amb_steal <= STEAL_GATE_CORES
            )
            if clean or retry_budget <= 0 or row_tries > row_retry_cap:
                break
            # someone else was eating the box during this row's window
            # — another process (ambient gate) or the HOST stealing our
            # vCPUs (steal gate, stricter: steal removes cores from the
            # measurement directly): wait for them to clear, then
            # re-measure the whole row
            retry_budget -= 1
            print(
                f"[bench] {bench_name}: ambient {amb_user:.2f} cores / "
                f"steal {amb_steal:.2f} cores over gate "
                f"({AMBIENT_GATE_CORES} combined / {STEAL_GATE_CORES} "
                f"steal) — re-measuring",
                file=sys.stderr,
            )
            _wait_for_ambient_clear()
        ambients[bench_name] = round(amb_user, 2)
        steals[bench_name] = round(amb_steal, 2)
        if amb > AMBIENT_GATE_CORES:
            ambient_flagged.append(bench_name)
        if amb_steal > STEAL_GATE_CORES:
            steal_flagged.append(bench_name)
        loadavgs[bench_name] = round(os.getloadavg()[0], 2)
        # min over ALL attempts (contaminated windows only ever inflate
        # a sample); median/spread from the LAST attempt — the one the
        # gate accepted (or the final flagged one)
        all_samples.sort()
        samples.sort()
        timings[bench_name] = round(all_samples[0], 4)
        medians[bench_name] = round(samples[len(samples) // 2], 4)
        # min→max spread: how much ambient noise this row carries —
        # a delta between rounds smaller than the spread is unreadable
        spreads[bench_name] = round(samples[-1] - samples[0], 4)
        print(
            f"[bench] {bench_name}: {timings[bench_name]:.4f} s; build "
            f"{prep.seconds:.3f} s, {prep.jobs} jobs -> "
            f"{'rebuild' if prep.rebuild else 'lazy'}",
            file=sys.stderr,
        )
        # interleaved A/B: time the DuckDB oracle for this row NOW, on
        # this box, so drift vs BASELINE.md is attributable
        if bench_name in CALIBRATION and REGISTRY[qname].oracle:
            baseline_recheck[bench_name] = _time_duckdb(con, REGISTRY[qname].oracle)
        # drop this row's leaked checkpoints/caches (see baseline note)
        unpersist_ids(spark, persistent_rdd_ids(spark) - baseline_rdds)

    total = round(sum(timings.values()), 4)
    # the box (usable cores) and the session's task slots
    box = {
        "cpus": len(os.sched_getaffinity(0)),
        "defaultParallelism": spark.sparkContext.defaultParallelism,
    }
    full = {
        "metric": "headline_suite_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_spread": spreads,
        # build = the first spark_fn call; first_exec = the untimed
        # warm-up; rebuild = the rows each timed run rebuilt
        "queries_build_s": build_s,
        "queries_build_jobs": build_jobs,
        "queries_first_exec_s": first_exec_s,
        "queries_rebuild": rebuilt,
        "queries_loadavg1m": loadavgs,
        "queries_ambient_cores": ambients,
        "queries_steal_cores": steals,
        "ambient_gate_cores": AMBIENT_GATE_CORES,
        "steal_gate_cores": STEAL_GATE_CORES,
        "queries_ambient": ambient_flagged,
        "queries_steal": steal_flagged,
        "baseline_recheck_duckdb_sec": baseline_recheck,
        "baseline_ref_sec": {
            k: v for k, v in CALIBRATION.items() if k in baseline_recheck
        },
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "runs": RUNS,
        "sf": sf,
        **box,
    }
    # Every BENCH_r0N.json since r6 came back `parsed: null`: the
    # driver tail-captures stdout and the full artifact is one long
    # line, so its FRONT (the part with "metric") gets cut. Ship the
    # diagnostics to stderr + a file, and make the FINAL stdout line
    # the compact spec shape — small enough to survive any tail
    # window.
    print(json.dumps(full), file=sys.stderr)
    if full_suite:
        docs_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "docs"
        )
        with open(os.path.join(docs_dir, "bench_last_full.json"), "w") as f:
            json.dump(full, f)
        # ALSO write a per-core-count dump: the driver runs the bench at
        # two core counts and the second run used to clobber the first's
        # full evidence (VERDICT r15 "what's wrong" #2)
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "all")
        with open(
            os.path.join(docs_dir, f"bench_last_full_c{cpus}.json"), "w"
        ) as f:
            json.dump(full, f)
    # The driver tail-captures stdout; the FULL 168-row artifact (~6 KB
    # with diagnostics) overruns its window and every BENCH_r0N.json
    # since r6 came back `parsed: null`. Keep the spec shape but cap
    # `queries`: the TOP 40 rows by seconds (ms precision) plus the 5
    # worst by ratio-vs-DuckDB-baseline — ~1.3 KB, inside the driver's
    # tail window, and wide enough that round-over-round stats stop
    # being computed from 3 sub-second noise rows (VERDICT r15 #2).
    # Names only ever ADD relative to the r15 compact line (the
    # ratio-worst set is a superset of its selection rule).
    def _ratio(name: str) -> float:
        base = CALIBRATION.get(name)
        return timings[name] / base if base else 0.0

    worst = set(sorted(timings, key=_ratio, reverse=True)[:5])
    worst |= set(sorted(timings, key=timings.get, reverse=True)[:40])
    compact = {
        "metric": "headline_suite_total_sec",
        "value": total,
        "unit": "sec",
        "queries": {
            n: round(timings[n], 3)
            for n in sorted(worst, key=timings.get, reverse=True)
        },
        "n_rows": len(timings),
        "sf": sf,
        **box,
    }
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
