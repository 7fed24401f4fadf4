"""Vector similarity search (SURVEY.md §2 K3 + north-star).

Embedding top-k over an ``array<float>`` column. Three strategies:

- ``brute_force_topk``     — exact, pure built-ins (zip_with/aggregate),
  sequential double accumulation ⇒ bit-reproducible vs the DuckDB
  oracle. O(n²·d) — the correctness baseline.
- ``block_topk``           — exact, numpy-blocked: rows hash into a
  (query block × corpus block) grid; one applyInPandas GEMM per grid
  cell, cell-local top-k, then a per-query merge. Same answers, ~100×
  faster, and nothing touches the driver — block counts bound task
  memory, so the same plan runs at any corpus size (bench uses this).
- ``lsh_bucketed_topk``    — approximate, the 100 TB shape: random-
  hyperplane LSH buckets → equi-join per bucket → exact re-rank within
  candidates. Shuffle is keyed by bucket; no cross product anywhere.
- ``ivf_topk``             — approximate, the other 100 TB shape: a
  k-means coarse quantizer (IVF) assigns every vector to one of
  ``n_lists`` inverted lists; queries probe their ``n_probe`` nearest
  lists only. Centroids are tiny (n_lists × d) and live on the driver /
  broadcast; assignment is a GEMM per Arrow batch; the candidate join
  is an equi-join on list id. Higher recall per candidate than LSH on
  clustered data.
- ``embedding_near_pairs`` — near-duplicate detection by embedding
  cosine: all pairs above a threshold. Exact path for the oracle;
  ``method="lsh"`` routes through hyperplane buckets at scale.

At cluster scale, brute force is a broadcast of the query side against a
partitioned corpus (still linear per query); LSH/IVF trades recall for a
bucket-pruned candidate set. See docs/SCALE.md §6 for the ladder.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jane_spark.engine.ckpt import Generations
from jane_spark.functions.arrays import cosine_from_norms, norm
from jane_spark.operators.semdedup import (
    _argmin_sql,
    _kmeans_loop,
    _sql_darr,
    kmeans_fit,
)
from jane_spark.operators.topk import top_k_per_group


def _sql_adc_entries(res_col: str, books, m: int, k: int, sub_d: int) -> str:
    """The m×k ADC lookup-table entries as ONE SQL array expression:
    entry [s*k + c] = round(||res_s − books[s][c]||², 9), the same
    slice/zip_with/aggregate/round chain the F-API built — one
    ``F.expr`` instead of ~500 py4j calls."""
    ent = []
    for s in range(m):
        sub = f"slice({res_col}, {s * sub_d + 1}, {sub_d})"
        for c in range(k):
            ent.append(
                f"round(aggregate(zip_with({sub}, {_sql_darr(books[s][c])}, "
                "(a, b) -> (a - b) * (a - b)), CAST(0.0 AS DOUBLE), "
                "(acc, x) -> acc + x), 9)"
            )
    return "array(%s)" % ",".join(ent)


def brute_force_topk(
    vectors: DataFrame, id_col: str, vec_col: str, k: int, round_dp: int | None = 6
) -> DataFrame:
    """Exact all-pairs cosine top-k per vector, built-ins only.

    Result: (a_id, b_id, sim) — k nearest neighbors of each vector,
    ranked by similarity desc then neighbor id (deterministic).
    """
    # norms once per vector row, not per pair (cosine_from_norms doc)
    a = vectors.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("a_vec"),
        norm(F.col(vec_col)).alias("a_nrm"),
    )
    b = vectors.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        norm(F.col(vec_col)).alias("b_nrm"),
    )
    pairs = a.crossJoin(b).filter(F.col("a_id") != F.col("b_id"))
    scored = pairs.select(
        "a_id",
        "b_id",
        cosine_from_norms(
            F.col("a_vec"), F.col("b_vec"), F.col("a_nrm"), F.col("b_nrm")
        ).alias("sim"),
    )
    top = top_k_per_group(
        scored, ["a_id"], [F.col("sim").desc(), F.col("b_id").asc()], k
    ).drop("rn")
    if round_dp is not None:
        top = top.withColumn("sim", F.round(F.col("sim"), round_dp))
    return top


def block_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    round_dp: int | None = 6,
    n_query_blocks: int = 4,
    n_corpus_blocks: int = 4,
    rank_round_dp: int | None = None,
) -> DataFrame:
    """Exact cosine top-k via distributed grid GEMM — no driver-side
    materialization, no corpus broadcast.

    Rows hash deterministically into ``n_query_blocks`` query blocks
    and ``n_corpus_blocks`` corpus blocks; every (query block, corpus
    block) grid cell is one ``applyInPandas`` group doing a float64
    GEMM of that cell's query batch against that cell's corpus batch,
    emitting the cell-local top-k per query under the total order
    (sim desc, b_id asc). A final ``top_k_per_group`` on ``a_id``
    merges cells. Because (sim desc, b_id asc) is a TOTAL order
    (b_id unique), any global top-k row is in the top-k of its own
    cell, so the merge is exact — same ranking as brute_force_topk.

    Scale shape: query rows are replicated across corpus blocks and
    corpus rows across query blocks (one shuffle each, keyed by grid
    cell); peak task memory is one query block + one corpus block, so
    block counts — not driver or broadcast limits — bound the corpus
    size. Total FLOPs equal the single-GEMM path (each (a, b) dot
    product is computed in exactly one cell).

    ``rank_round_dp`` rounds sims (half away from zero — the
    Spark/DuckDB round() convention) BEFORE selection and ordering, so
    the RANKING itself is platform-independent: raw BLAS cosines can
    differ in the last ulp from another engine's sequential sum, and an
    ulp at the rank-k boundary silently changes the selected set
    (ADVICE r6). With rounding first, boundary candidates become exact
    ties broken by b_id — the same set on every platform. ``round_dp``
    only formats the emitted sim after ranking, as before.
    """
    n_q, n_c = int(n_query_blocks), int(n_corpus_blocks)
    if n_q < 1 or n_c < 1:
        raise ValueError("block counts must be >= 1")
    base = vectors.select(
        F.col(id_col).cast("long").alias("__id"), F.col(vec_col).alias("__vec")
    )
    qb = F.pmod(F.xxhash64(F.col("__id")), F.lit(n_q)).cast("int")
    cb = F.pmod(F.xxhash64(F.col("__id")), F.lit(n_c)).cast("int")
    queries = base.select(
        "__id",
        "__vec",
        qb.alias("__qb"),
        F.explode(F.sequence(F.lit(0), F.lit(n_c - 1))).alias("__cb"),
        F.lit(True).alias("__is_q"),
    )
    corpus = base.select(
        "__id",
        "__vec",
        F.explode(F.sequence(F.lit(0), F.lit(n_q - 1))).alias("__qb"),
        cb.alias("__cb"),
        F.lit(False).alias("__is_q"),
    )
    out_schema = "a_id long, b_id long, sim double"
    empty = pd.DataFrame(
        {
            "a_id": pd.Series(dtype="int64"),
            "b_id": pd.Series(dtype="int64"),
            "sim": pd.Series(dtype="float64"),
        }
    )

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf[pdf["__is_q"]]
        c = pdf[~pdf["__is_q"]]
        if q.empty or c.empty:
            return empty
        q_ids = q["__id"].to_numpy(dtype=np.int64)
        qm = np.array(q["__vec"].tolist(), dtype=np.float64)
        b_ids = c["__id"].to_numpy(dtype=np.int64)
        bm = np.array(c["__vec"].tolist(), dtype=np.float64)
        sims = (qm @ bm.T) / (
            np.sqrt((qm * qm).sum(axis=1))[:, None]
            * np.sqrt((bm * bm).sum(axis=1))[None, :]
        )
        if rank_round_dp is not None:
            # half away from zero, matching Spark/DuckDB round() —
            # np.round's half-even would disagree on exact halves
            p = 10.0 ** rank_round_dp
            sims = np.sign(sims) * np.floor(np.abs(sims) * p + 0.5) / p
        # argpartition to a k+buffer candidate set, then exact
        # (-sim, b_id) ordering within it — ties beyond the buffer
        # would need >buffer bit-identical cosines (rounding makes
        # ties likelier, hence the wider buffer when it's on)
        buf = 8 if rank_round_dp is None else 32
        k2 = min(k + buf, sims.shape[1])
        if k2 < sims.shape[1]:
            cand = np.argpartition(-sims, k2 - 1, axis=1)[:, :k2]
        else:
            cand = np.broadcast_to(
                np.arange(sims.shape[1]), sims.shape
            )
        out_a, out_b, out_s = [], [], []
        for qi in range(sims.shape[0]):
            c_idx = cand[qi]
            order = c_idx[np.lexsort((b_ids[c_idx], -sims[qi, c_idx]))]
            sel = order[b_ids[order] != q_ids[qi]][:k]
            out_a.append(np.full(len(sel), q_ids[qi], dtype=np.int64))
            out_b.append(b_ids[sel])
            out_s.append(sims[qi, sel])
        return pd.DataFrame(
            {
                "a_id": np.concatenate(out_a),
                "b_id": np.concatenate(out_b),
                "sim": np.concatenate(out_s),
            }
        )

    partials = (
        queries.unionByName(corpus)
        .groupBy("__qb", "__cb")
        .applyInPandas(cell, schema=out_schema)
    )
    result = top_k_per_group(
        partials, ["a_id"], [F.col("sim").desc(), F.col("b_id").asc()], k
    ).drop("rn")
    if round_dp is not None:
        result = result.withColumn("sim", F.round(F.col("sim"), round_dp))
    return result


def lsh_bucketed_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
    planes: str = "rng",
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH.

    Defaults (4 planes x 8 tables) measured on the 64-dim test vectors:
    ~0.7 recall of exact top-3 — more planes shrink buckets and recall
    fast (8x8 ≈ 0.13); more tables buy recall linearly in cost.

    Each table hashes a vector to an ``n_planes``-bit bucket (sign of
    dot with a random plane, deterministic seed). Candidates = pairs
    sharing a bucket in ANY table; exact cosine re-rank on candidates.
    All joins are equi-joins on (table, bucket) — the scale path.

    ``planes="portable"`` derives every plane weight from an md5 of
    its (table, plane, dim) coordinates instead of the numpy RNG —
    bit-reproducible outside Spark, which makes the whole LSH path
    oracle-checkable (the minhash/simhash *_portable precedent); sign
    decisions round the dot to 9 dp first so a cross-engine ulp at
    the hyperplane cannot flip a bucket bit.
    """
    melted = _melted_buckets(
        vectors, id_col, vec_col, n_planes, n_tables, seed, dim, planes
    )
    a = melted.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("a_vec"),
        norm(F.col(vec_col)).alias("a_nrm"),
        "t",
        "bkt",
    )
    b = melted.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        norm(F.col(vec_col)).alias("b_nrm"),
        "t",
        "bkt",
    )
    cands = (
        a.join(b, on=["t", "bkt"])
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", "a_vec", "b_vec", "a_nrm", "b_nrm")
        .dropDuplicates(["a_id", "b_id"])
    )
    scored = cands.select(
        "a_id",
        "b_id",
        F.round(
            cosine_from_norms(
                F.col("a_vec"), F.col("b_vec"), F.col("a_nrm"), F.col("b_nrm")
            ),
            6,
        ).alias("sim"),
    )
    return top_k_per_group(
        scored, ["a_id"], [F.col("sim").desc(), F.col("b_id").asc()], k
    ).drop("rn")


def portable_plane_weight(t: int, p: int, d: int) -> float:
    """Deterministic LSH plane weight in [-1, 1]: md5 of the
    coordinates, first 8 hex chars, % 2001 → the same value any
    engine derives (DuckDB twin: the _DUCK_BUCKET md5-parse idiom)."""
    import hashlib

    h = int(
        hashlib.md5(f"lshplane:{t}:{p}:{d}".encode()).hexdigest()[:8], 16
    )
    return (h % 2001 - 1000) / 1000.0


def _melted_buckets(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    seed: int,
    dim: int | None,
    planes_source: str = "rng",
) -> DataFrame:
    """(id, vec, t, bkt): one row per (vector, hash table) with the
    vector's n_planes-bit hyperplane bucket in that table."""
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    if planes_source == "portable":
        planes = np.array(
            [
                [
                    [portable_plane_weight(t, p, d) for d in range(dim)]
                    for p in range(n_planes)
                ]
                for t in range(n_tables)
            ]
        )
    elif planes_source == "rng":
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_tables, n_planes, dim))
    else:
        raise ValueError(f"planes must be 'rng' or 'portable': {planes_source}")

    def bucket_col(t: int):
        bits = []
        for p in range(n_planes):
            plane = planes[t, p]
            # one SQL string per plane (see _sql_darr) — same dot
            # product, none of the per-element py4j literal calls
            d = F.expr(
                f"aggregate(zip_with(`{vec_col}`, {_sql_darr(plane)}, "
                "(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), "
                "(acc, x) -> acc + x)"
            )
            if planes_source == "portable":
                d = F.round(d, 9)
            bits.append(F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
        return sum(bits[1:], bits[0]).alias(f"bucket_{t}")

    with_buckets = vectors.select(
        F.col(id_col), F.col(vec_col), *[bucket_col(t) for t in range(n_tables)]
    )
    return with_buckets.select(
        id_col,
        vec_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), F.col(f"bucket_{t}").alias("bkt"))
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select(id_col, vec_col, "tb.t", "tb.bkt")


def _assign_lists(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    n_probe: int,
    probe_round_dp: int | None = None,
    with_rank: bool = False,
) -> DataFrame:
    """(id, vec, list_id) — each vector's n_probe nearest centroids by
    cosine (n_probe=1 for corpus assignment). GEMM per Arrow batch
    against the broadcast centroid matrix. ``probe_round_dp`` rounds
    sims (half away from zero) BEFORE the probe rank — the
    rank_round_dp treatment, so list choice is platform-independent.
    ``with_rank`` appends ``probe_rank`` (0 = nearest list), so ONE
    n_probe pass serves both the corpus assignment (rank 0 — the
    n_probe=1 result by construction: the lexsort prefix) and the
    probe set, instead of two GEMM passes over the corpus (guide
    §1.2: one pass where one pass suffices; r15)."""
    spark = vectors.sparkSession
    norms = np.sqrt((centroids * centroids).sum(axis=1))
    norms[norms == 0.0] = 1.0
    bc = spark.sparkContext.broadcast((centroids, norms))
    # the vector passes through with its input type: pinning array<float>
    # would cut array<double> vectors to float32 before the residuals
    vec_type = vectors.schema[vec_col].dataType.simpleString()
    out_schema = f"{id_col} long, {vec_col} {vec_type}, list_id int"
    if with_rank:
        out_schema += ", probe_rank int"

    def part(batches):
        cents, cnorms = bc.value
        for pdf in batches:
            q = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            qn = np.sqrt((q * q).sum(axis=1))
            qn[qn == 0.0] = 1.0
            sims = (q @ cents.T) / (qn[:, None] * cnorms[None, :])
            if probe_round_dp is not None:
                pw = 10.0 ** probe_round_dp
                sims = np.sign(sims) * np.floor(np.abs(sims) * pw + 0.5) / pw
            # stable: descending sim, centroid index ascending on ties
            order = np.lexsort(
                (np.broadcast_to(np.arange(sims.shape[1]), sims.shape), -sims), axis=1
            )[:, :n_probe]
            n = len(pdf)
            cols = {
                id_col: np.repeat(pdf[id_col].to_numpy(), n_probe),
                vec_col: [v for v in pdf[vec_col] for _ in range(n_probe)],
                "list_id": order.astype(np.int32).ravel(),
            }
            if with_rank:
                cols["probe_rank"] = np.tile(
                    np.arange(n_probe, dtype=np.int32), n
                )
            yield pd.DataFrame(cols)

    return vectors.select(id_col, vec_col).mapInPandas(part, schema=out_schema)


def ivf_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_lists: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 2,
    round_dp: int | None = 6,
    centroids: np.ndarray | None = None,
    probe_round_dp: int | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer.

    Corpus vectors live in exactly one inverted list; each query probes
    its ``n_probe`` nearest lists and exact-re-ranks the candidates.
    Everything after training is an equi-join on ``list_id`` — the same
    scale shape as LSH, but data-adaptive: on clustered embeddings the
    probed lists hold most true neighbors (recall rises with n_probe;
    n_probe = n_lists degrades gracefully to exact search). Without
    ``centroids`` the quantizer trains through ``kmeans_fit``:
    ``lloyd_iters`` deterministic Lloyd rounds over ``n_lists``
    centroids; lists are then assigned and probed by cosine.
    """
    if centroids is None:
        centroids = np.array(
            kmeans_fit(vectors, id_col, vec_col, k=n_lists, iters=lloyd_iters)[1],
            dtype=np.float64,
        )
    corpus = _assign_lists(
        vectors, id_col, vec_col, centroids, n_probe=1,
        probe_round_dp=probe_round_dp,
    ).select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        norm(F.col(vec_col)).alias("b_nrm"),
        "list_id",
    )
    queries = _assign_lists(
        vectors, id_col, vec_col, centroids, n_probe=n_probe,
        probe_round_dp=probe_round_dp,
    ).select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("a_vec"),
        norm(F.col(vec_col)).alias("a_nrm"),
        "list_id",
    )
    cands = (
        queries.join(corpus, on="list_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", "a_vec", "b_vec", "a_nrm", "b_nrm")
    )
    scored = cands.select(
        "a_id",
        "b_id",
        cosine_from_norms(
            F.col("a_vec"), F.col("b_vec"), F.col("a_nrm"), F.col("b_nrm")
        ).alias("sim"),
    )
    # round BEFORE ranking (lsh_bucketed_topk / block_topk rank_round_dp
    # treatment): raw sims that tie at round_dp could otherwise pick
    # different top-k rows than an oracle that ranks rounded values —
    # the ulp-at-the-rank-boundary class
    if round_dp is not None:
        scored = scored.withColumn("sim", F.round(F.col("sim"), round_dp))
    return top_k_per_group(
        scored, ["a_id"], [F.col("sim").desc(), F.col("b_id").asc()], k
    ).drop("rn")


def embedding_near_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    method: str = "exact",
    round_dp: int | None = 6,
    n_planes: int = 2,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: (a_id < b_id, sim ≥
    threshold). ``method="exact"`` enumerates all pairs (the oracle
    path — fine up to ~1e5 vectors); ``method="lsh"`` prefilters
    candidates through hyperplane buckets so only same-bucket pairs are
    scored — the 100 TB path (few planes: near-dup pairs have cosine
    near 1 and almost never split across a hyperplane)."""
    a = vectors.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("a_vec"),
        norm(F.col(vec_col)).alias("a_nrm"),
    )
    b = vectors.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        norm(F.col(vec_col)).alias("b_nrm"),
    )
    if method == "exact":
        pairs = a.crossJoin(b).filter(F.col("a_id") < F.col("b_id"))
    elif method == "lsh":
        melted = _melted_buckets(
            vectors, id_col, vec_col, n_planes, n_tables, seed, dim
        )
        am = melted.select(
            F.col(id_col).alias("a_id"),
            F.col(vec_col).alias("a_vec"),
            norm(F.col(vec_col)).alias("a_nrm"),
            "t",
            "bkt",
        )
        bm = melted.select(
            F.col(id_col).alias("b_id"),
            F.col(vec_col).alias("b_vec"),
            norm(F.col(vec_col)).alias("b_nrm"),
            "t",
            "bkt",
        )
        pairs = (
            am.join(bm, on=["t", "bkt"])
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id", "a_vec", "b_vec", "a_nrm", "b_nrm")
            .dropDuplicates(["a_id", "b_id"])
        )
    else:
        raise ValueError(f"unknown method: {method!r}")
    scored = pairs.select(
        "a_id",
        "b_id",
        cosine_from_norms(
            F.col("a_vec"), F.col("b_vec"), F.col("a_nrm"), F.col("b_nrm")
        ).alias("sim"),
    )
    out = scored.filter(F.col("sim") >= threshold)
    if round_dp is not None:
        out = out.withColumn("sim", F.round(F.col("sim"), round_dp))
    return out


def embed_decontam(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_dp: int = 6,
    n_train_blocks: int = 4,
    n_eval_blocks: int = 1,
) -> DataFrame:
    """Semantic benchmark decontamination: for every training vector,
    the maximum cosine similarity against the ENTIRE eval set, and a
    contamination verdict — the embedding analogue of the T5 n-gram
    decontaminator (catches paraphrased eval leakage that shingle
    overlap misses; cf. the GPT-3/PaLM appendix dedup methodology).

    Returns ``(id, max_eval_sim, contaminated)`` — one row per train
    vector, ``contaminated = round(max_sim, dp) >= threshold`` (rounded
    BEFORE the compare, engine-stable).

    Exact, via the block_topk grid shape: train rows hash into
    ``n_train_blocks``, eval rows into ``n_eval_blocks``; each grid
    cell is one applyInPandas float64 GEMM emitting the cell-local max
    per train row; a final groupBy(id).max merges cells (max is
    order-insensitive, so the merge is exact and deterministic). Eval
    sets are typically thousands of rows — ``n_eval_blocks=1`` keeps
    one GEMM per train block; raise it if the eval side ever outgrows
    task memory. No broadcast limit, no driver materialization, no
    cross join in the plan.
    """
    n_t, n_e = int(n_train_blocks), int(n_eval_blocks)
    if n_t < 1 or n_e < 1:
        raise ValueError("block counts must be >= 1")
    t = train.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_t)).cast("int").alias("__tb"),
        F.explode(F.sequence(F.lit(0), F.lit(n_e - 1))).alias("__eb"),
        F.lit(True).alias("__is_t"),
    )
    e = evalset.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.explode(F.sequence(F.lit(0), F.lit(n_t - 1))).alias("__tb"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_e)).cast("int").alias("__eb"),
        F.lit(False).alias("__is_t"),
    )
    empty = pd.DataFrame(
        {"id": pd.Series(dtype="int64"), "mx": pd.Series(dtype="float64")}
    )

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        tr = pdf[pdf["__is_t"]]
        ev = pdf[~pdf["__is_t"]]
        if tr.empty or ev.empty:
            return empty
        tm = np.array(tr["__vec"].tolist(), dtype=np.float64)
        em = np.array(ev["__vec"].tolist(), dtype=np.float64)
        sims = (tm @ em.T) / (
            np.sqrt((tm * tm).sum(axis=1))[:, None]
            * np.sqrt((em * em).sum(axis=1))[None, :]
        )
        return pd.DataFrame(
            {
                "id": tr["__id"].to_numpy(dtype=np.int64),
                "mx": sims.max(axis=1),
            }
        )

    partials = (
        t.unionByName(e)
        .groupBy("__tb", "__eb")
        .applyInPandas(cell, schema="id long, mx double")
    )
    merged = partials.groupBy("id").agg(
        F.round(F.max("mx"), round_dp).alias("max_eval_sim")
    )
    return merged.select(
        F.col("id").alias(id_col),
        "max_eval_sim",
        (F.col("max_eval_sim") >= F.lit(threshold)).alias("contaminated"),
    )


# -------------------------------------------- embedding storage codecs


def quantize_int8(emb: "F.Column") -> "F.Column":
    """Symmetric per-vector int8 quantization — the standard 4× storage
    cut for embedding tables before ANN indexing (scale = max|v|/127;
    q_i = floor(v_i/scale + 0.5), round-half-up so the arithmetic has
    an exact SQL twin — Spark's round() and DuckDB's differ on .5).

    Returns struct(scale double, q array<int>). All-zero vectors get
    scale 0.0 and an all-zero q (no division). Pure row-local
    higher-order expressions — a projection over the corpus scan."""
    v = F.transform(emb, lambda x: x.cast("double"))
    maxabs = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = maxabs / F.lit(127.0)
    q = F.when(
        maxabs > 0.0,
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize(quant: "F.Column") -> "F.Column":
    """Inverse of quantize_int8: q_i * scale as array<double>."""
    return F.transform(
        quant["q"], lambda x: x.cast("double") * quant["scale"]
    )


def truncate_renorm(emb: "F.Column", d: int) -> "F.Column":
    """Matryoshka truncation: keep the first ``d`` dimensions and
    renormalize to unit L2 — MRL-trained embeddings stay usable at the
    shorter length, cutting ANN cost d/D. Zero-norm prefixes return
    the zero vector (no division). Row-local, exact-SQL-twinned
    (index-order sequential sums in both engines)."""
    head = F.slice(F.transform(emb, lambda x: x.cast("double")), 1, d)
    norm = F.sqrt(F.aggregate(head, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when(
        norm > 0.0, F.transform(head, lambda x: x / norm)
    ).otherwise(head)


def two_stage_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    candidates: int = 50,
    prefix_d: int = 16,
    round_dp: int | None = 6,
    n_query_blocks: int = 4,
    n_corpus_blocks: int = 4,
    stage1_round_dp: int | None = 6,
) -> DataFrame:
    """Coarse-to-fine retrieval — the standard production ANN shape:
    stage 1 ranks on Matryoshka-truncated prefixes (prefix_d/D of the
    FLOPs and bytes) keeping ``candidates`` per query via the exact
    grid-GEMM path; stage 2 re-scores ONLY those candidate pairs with
    full-dimension cosine (an equi-join on ids — never a second
    all-pairs pass) and keeps the exact top-k of the candidate set.

    Semantics are pinned as written (top-k OF the stage-1 candidates,
    both stages totally ordered by (sim desc, id asc)) — recall vs
    exhaustive search is a quality property of prefix_d/candidates,
    measured in tests, not part of the contract.

    ``stage1_round_dp`` rounds the prefix cosines before the candidate
    rank (block_topk's rank_round_dp): the rank-``candidates`` cut is
    then made on values every engine agrees on, instead of depending
    on the last ulp of a BLAS-vs-sequential float64 sum at the
    boundary (ADVICE r6 — an ulp there changes the candidate set and
    can change the final top-k). Boundary ties resolve by b_id on both
    sides."""
    from jane_spark.functions.arrays import dot, norm

    trunc = vectors.select(
        F.col(id_col).alias("__tid"),
        truncate_renorm(F.col(vec_col), prefix_d).alias("__t"),
    )
    cand = block_topk(
        trunc,
        "__tid",
        "__t",
        k=candidates,
        round_dp=None,
        n_query_blocks=n_query_blocks,
        n_corpus_blocks=n_corpus_blocks,
        rank_round_dp=stage1_round_dp,
    ).select("a_id", "b_id")

    # norms hoisted to the join inputs (once per vector, not per pair
    # — the jl_topk lesson: the per-pair cosine re-derived both norms
    # for every candidate, 3x the stage cost); same expression per
    # vector, so sims are bit-identical and the oracle is unchanged
    def to_d(c):
        return F.transform(c, lambda x: x.cast("double"))

    full_a = vectors.select(
        F.col(id_col).cast("long").alias("a_id"),
        to_d(F.col(vec_col)).alias("__va"),
        norm(to_d(F.col(vec_col))).alias("__na"),
    )
    full_b = vectors.select(
        F.col(id_col).cast("long").alias("b_id"),
        to_d(F.col(vec_col)).alias("__vb"),
        norm(to_d(F.col(vec_col))).alias("__nb"),
    )
    exact = (
        cand.join(full_a, "a_id")
        .join(full_b, "b_id")
        .select(
            "a_id",
            "b_id",
            (
                dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb"))
            ).alias("sim"),
        )
    )
    out = top_k_per_group(
        exact, ["a_id"], [F.col("sim").desc(), F.col("b_id").asc()], k
    ).drop("rn")
    if round_dp is not None:
        out = out.withColumn("sim", F.round(F.col("sim"), round_dp))
    return out


def pq_encode(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Product-quantization codes (Jégou, Douze & Schmid 2011 — the
    IVF-PQ memory path): split each vector into ``m`` subvectors,
    train an independent k-means codebook per subvector (the
    deterministic Lloyd loop SemDeDup/IVF already use: k-smallest-id
    seeding, fixed iterations, ties to the smaller centroid), and
    emit each vector's code tuple — ``m`` small integers replacing
    ``dim`` floats (here 64 floats → 4 codes; a production 16×256
    config stores 16 bytes per vector, a 32× memory cut for the
    re-rank working set).

    Contract shape: ONE Lloyd loop fits all m codebooks (one Arrow
    task when a subvector slice fits one task; otherwise per round one
    projection assigning every slice against its k×(d/m) centroid
    literals and one keyed shuffle), then ONE projection computes
    every code against the codebook literals: no id-equi joins to
    assemble the tuple. Codes are integers end to end — no float
    boundary can flip a hash comparison."""
    return pq_fit(vectors, id_col, vec_col, dim, m, k, iters)[0]


def pq_fit(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
) -> "tuple[DataFrame, list[list[list[float]]]]":
    """``pq_encode`` plus the fitted codebooks: returns
    ``(codes_df, books)`` where ``books[s][c]`` is subvector ``s``'s
    centroid ``c`` (each coordinate already 9 dp-rounded by the Lloyd
    update). The codebooks are m×k×(dim/m) doubles — driver-sized at
    any corpus scale — and are what ADC search looks distances up
    against."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_d = dim // m
    # the m subspace fits are independent k-means problems over
    # disjoint slices of the same vector: one Lloyd loop fits them all
    slices = tuple(f"slice(__v, {s * sub_d + 1}, {sub_d})" for s in range(m))
    vecs, books = _kmeans_loop(vectors, id_col, vec_col, k, iters, slices)
    # codes: ONE projection of every slice's argmin against its
    # codebook literals, the expression the Lloyd rounds assign with
    out = vecs.select(
        F.col("__id").alias(id_col),
        *[
            F.expr(_argmin_sql(sl, book)).alias(f"code_{s}")
            for s, (sl, book) in enumerate(zip(slices, books))
        ],
    )
    return out, books


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    k_top: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes (Jégou,
    Douze & Schmid 2011 §4 — the search path completing IVF-PQ): the
    corpus exists only as its m-code tuples; each QUERY keeps its full
    vector and precomputes an m×k table of squared-L2 distances to
    every codebook centroid; a corpus item's approximate distance is
    then m table lookups summed — never a d-dim float op per corpus
    row.

    Determinism discipline: each table entry is 9 dp-pre-rounded, the
    m lookups are summed in FIXED subvector order (left-associated, so
    any engine folding the same doubles lands on the same sum), and
    the final distance is rounded ``round_dp`` BEFORE ranking (the
    rank_round_dp / ulp-at-the-rank-boundary playbook).

    Scale shape: codebooks are m×k×(d/m) doubles (driver/broadcast-
    sized); the per-query table is m×k doubles, carried with the
    broadcast query row; the corpus side is ONE projection over the
    codes (a broadcast nested-loop against the bounded query set —
    exactly the IVF-PQ posture, where the candidate set per query is
    already list-pruned before ADC) + one q_id-keyed top-k shuffle.
    The full-dim corpus vectors are never touched after encoding —
    that is the 32× working-set cut PQ exists for."""
    codes, books = pq_fit(vectors, id_col, vec_col, dim, m, k, iters)
    qt = _adc_tables(queries, id_col, vec_col, books, dim, m, k)
    scored = codes.crossJoin(F.broadcast(qt))
    scored = scored.select(
        "q_id",
        F.col(id_col).alias("b_id"),
        F.round(_adc_fold(m, k), round_dp).alias("adc"),
    )
    return top_k_per_group(
        scored, ["q_id"], [F.col("adc").asc(), F.col("b_id").asc()], k_top
    ).drop("rn")


def _adc_tables(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    books: "list[list[list[float]]]",
    dim: int,
    m: int,
    k: int,
) -> DataFrame:
    """Per-query ADC lookup table ``(q_id, __dt)``: entry
    ``[s*k + c]`` = round(||q_s - books[s][c]||², 9) — the 9 dp
    pre-round makes every entry engine-identical before any sum or
    rank touches it."""
    sub_d = dim // m
    qv = queries.select(
        F.col(id_col).alias("q_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "__qv"
        ),
    )
    return qv.select(
        "q_id",
        F.expr(_sql_adc_entries("__qv", books, m, k, sub_d)).alias("__dt"),
    )


def _adc_fold(m: int, k: int):
    """Fixed-order ADC sum ((d₀+d₁)+d₂)+d₃ over ``__dt`` lookups at
    ``[s*k + code_s]`` — left-associated so any engine folding the
    same doubles lands on the same sum."""
    adc = None
    for s in range(m):
        term = F.col("__dt")[F.lit(s * k) + F.col(f"code_{s}")]
        adc = term if adc is None else adc + term
    return adc


def pq_adc_rerank_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    candidates: int = 20,
    k_top: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """ADC search with EXACT re-rank (Jégou et al. 2011 §5.2 — the
    standard IVFADC+R recall recovery): ADC over the PQ codes shortlists
    ``candidates`` items per query (cheap — m lookups per item), then
    only the shortlist's full-dim vectors are fetched and re-ranked by
    exact squared-L2. The expensive d-dim arithmetic runs on
    ``candidates`` rows per query instead of the corpus — the
    two_stage_topk shape with PQ as stage 1.

    Determinism: stage 1 is pq_adc_topk's rounded-lookup rank; stage 2
    rounds the exact distance ``round_dp`` BEFORE the (dist, b_id)
    rank. Scale: the shortlist join on ``b_id`` touches ``Q ×
    candidates`` rows — broadcast-sized for any bounded query set."""
    shortlist = pq_adc_topk(
        vectors, queries, id_col, vec_col, dim, m, k, iters,
        k_top=candidates, round_dp=round_dp,
    ).select("q_id", "b_id")
    full_b = vectors.select(
        F.col(id_col).alias("b_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "__vb"
        ),
    )
    full_q = queries.select(
        F.col(id_col).alias("q_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "__vq"
        ),
    )
    exact = (
        shortlist.join(full_b, "b_id")
        .join(F.broadcast(full_q), "q_id")
        .select(
            "q_id",
            "b_id",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("__vq"),
                        F.col("__vb"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                round_dp,
            ).alias("dist"),
        )
    )
    return top_k_per_group(
        exact, ["q_id"], [F.col("dist").asc(), F.col("b_id").asc()], k_top
    ).drop("rn")


def ivf_pq_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_lists: int = 8,
    n_probe: int = 3,
    lloyd_iters: int = 5,
    m: int = 4,
    k: int = 4,
    pq_iters: int = 2,
    k_top: int = 5,
    probe_round_dp: int = 9,
    round_dp: int = 6,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """The COMPOSED IVF-PQ search (Jégou et al. 2011 — the billion-
    vector architecture): the coarse quantizer prunes each query's
    candidate set to its ``n_probe`` nearest inverted lists, and the
    pruned candidates are ranked by ADC over their PQ codes — the
    full-dim corpus vectors are touched by NEITHER stage after
    training. This is the memory story end to end: corpus state =
    one small int (list id) + m code bytes per vector.

    Deterministic/portable variant (the q_k3_ivf_portable discipline):
    coarse centroids from the SQL-derivable Lloyd loop, list
    assignment and probing rank 9 dp-pre-rounded cosines with ties to
    the smaller list id, ADC entries 9 dp-pre-rounded, distances
    summed in fixed subvector order and rounded before the final
    (adc, b_id) rank.

    Scale shape: candidate generation is an equi-join on ``list_id``
    (the IVF posture — no broadcast nested loop over the corpus);
    each query row carries its m×k lookup table; one a_id-keyed
    top-k shuffle finishes. Self-query here (every vector searches);
    an external query set just swaps the probe side."""
    # one checkpoint feeds EVERY consumer (the coarse and PQ Lloyd
    # loops, the GEMM probe pass, the per-query ADC tables): without it
    # each of those jobs re-runs the scan+cast lineage (guide §5; the
    # 6c40351 A/B class: 12+ amortizing consumers). Lazy: the first
    # Lloyd loop's one-task gate count materializes it. Retention: the
    # returned plan references the ``assigned`` checkpoint derived
    # from this one; both persist for the session unless the caller
    # unpersists after materializing (bench.py's between-row hygiene
    # does).
    vectors = vectors.localCheckpoint(eager=False)
    if centroids is None:
        _assign, cents = kmeans_fit(
            vectors, id_col, vec_col, k=n_lists, iters=lloyd_iters
        )
        centroids = np.array(cents, dtype=np.float64)
    # ONE ranked GEMM pass serves corpus (rank 0 ≡ the n_probe=1
    # assignment) and probes; localCheckpoint so its four consumers
    # (corpus/probes in cand + the residual-free chains) execute the
    # mapInPandas once instead of re-running it per subtree (guide
    # §5 localCheckpoint / §1.2 one-pass; r15).
    assigned = _assign_lists(
        vectors, id_col, vec_col, centroids, n_probe=n_probe,
        probe_round_dp=probe_round_dp, with_rank=True,
    ).localCheckpoint(eager=False)
    corpus = assigned.filter(F.col("probe_rank") == 0).select(
        F.col(id_col).alias("b_id"), "list_id"
    )
    # EXPLOSIVE-join width (guide §2.5 input-vs-output skew; the q_k2j
    # treatment, r16): the probe side reads the checkpointed GEMM pass
    # — at fixture scale 1-2 scan partitions — and the list join fans
    # out to n_probe × avg-list-size rows per probe row (~37M at
    # sf0.1), so the ADC scoring stage above a broadcast join ran on
    # those 1-2 tasks, serial (measured: 3.9 s of the row's first
    # exec). An explicit numbered round-robin repartition of the
    # NARROW probe rows (two ints each) widens the fan-out to the
    # session's parallelism; when the corpus side outgrows broadcast
    # the join becomes a keyed shuffle anyway and this pass is one
    # cheap extra exchange of the small side.
    par = max(
        vectors.sparkSession.sparkContext.defaultParallelism,
        int(vectors.sparkSession.conf.get("spark.sql.shuffle.partitions")),
    )
    probes = assigned.select(
        F.col(id_col).alias("a_id"), "list_id"
    ).repartition(par)
    codes, books = pq_fit(vectors, id_col, vec_col, dim, m, k, pq_iters)
    qt = _adc_tables(vectors, id_col, vec_col, books, dim, m, k)
    cand = (
        probes.join(corpus, on="list_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
    )
    scored = (
        cand.join(codes.withColumnRenamed(id_col, "b_id"), "b_id")
        .join(qt.withColumnRenamed("q_id", "a_id"), "a_id")
        .select(
            "a_id",
            "b_id",
            F.round(_adc_fold(m, k), round_dp).alias("adc"),
        )
    )
    return top_k_per_group(
        scored, ["a_id"], [F.col("adc").asc(), F.col("b_id").asc()], k_top
    ).drop("rn")


def ivf_pq_residual_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_lists: int = 8,
    n_probe: int = 3,
    lloyd_iters: int = 5,
    m: int = 4,
    k: int = 4,
    pq_iters: int = 2,
    k_top: int = 5,
    probe_round_dp: int = 9,
    round_dp: int = 6,
) -> DataFrame:
    """TRUE IVFADC — residual product quantization (Jégou, Douze &
    Schmid, TPAMI 2011, §IV: "the residual vector ... is encoded
    instead of the vector itself"): :func:`ivf_pq_topk` quantizes the
    RAW vectors per list, wasting code entropy re-describing which
    region of space a vector sits in — information the coarse
    quantizer already paid for. Here PQ encodes the RESIDUAL
    ``r(x) = x − c(list(x))``: coarse and fine quantization become
    MULTIPLICATIVE in accuracy at the same code size (the paper's
    central claim; the recall ladder residual ≥ raw at equal m is
    pytest-pinned on the fixture).

    Pipeline, all relational:

    1. coarse quantizer: the deterministic Lloyd loop (k-smallest-id
       seeding, fixed iterations, 9 dp centroid rounding) + the
       9 dp-pre-rounded cosine list assignment — unchanged from
       ivf_pq_topk, so both share one oracle CTE chain;
    2. residuals: ONE zip_with projection against the broadcast
       centroid literals (exact IEEE double subtraction — no new
       float boundary);
    3. PQ codebooks trained on the residuals (same per-subvector
       Lloyd), each corpus vector stored as (list_id, m codes);
    4. search: a query probing list l builds its ADC table from its
       OWN residual against l — ``(q − c_l)`` — so the table is
       per (query, probed list), not per query: entries
       round(||(q − c_l)_s − books[s][c]||², 9), the lookup sum
       left-associated and rounded ``round_dp`` before the
       (adc, b_id) rank. A candidate's code is a residual against
       ITS list = the probed list, so query and corpus residuals
       are taken against the same centroid — the algebra the paper's
       multiplicativity rests on.

    Scale shape: identical to ivf_pq_topk — candidates via ONE
    equi-join on list_id, corpus state = 1 small int + m codes per
    vector, full-dim vectors touched only at training — plus one
    residual projection. The ADC table cost grows n_probe-fold
    (per (query, list) instead of per query) but stays m·k doubles
    per probe row, carried with the broadcast-sized probe set.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_d = dim // m
    _assign, cents = kmeans_fit(
        vectors, id_col, vec_col, k=n_lists, iters=lloyd_iters
    )
    centroids = np.array(cents, dtype=np.float64)
    cent_lit = F.expr(
        "array(%s)" % ",".join(_sql_darr(row) for row in centroids.tolist())
    )
    # ONE ranked GEMM pass (rank 0 ≡ the n_probe=1 corpus assignment),
    # checkpointed: corpus/probes feed residual training, the query
    # residuals AND the candidate join — without the checkpoint each
    # consumer re-runs the mapInPandas pass (guide §5/§1.2; r15).
    assigned = _assign_lists(
        vectors, id_col, vec_col, centroids, n_probe=n_probe,
        probe_round_dp=probe_round_dp, with_rank=True,
    ).localCheckpoint(eager=False)
    corpus = assigned.filter(F.col("probe_rank") == 0).select(
        F.col(id_col), "list_id"
    )
    # the residual is a pure projection of the ranked GEMM pass — the
    # assigned row already carries the vector AND its list id, so the
    # old vd ⋈ corpus id-equi join inside the residuals-checkpoint
    # materialization is gone (r16, guide §2.4); same IEEE
    # subtractions, same rows.
    residuals = assigned.filter(F.col("probe_rank") == 0).select(
        F.col(id_col),
        F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            F.element_at(cent_lit, F.col("list_id") + 1),
            lambda a, b: a - b,
        ).alias("__res"),
    )
    # checkpoint the residuals: the PQ Lloyd loop's jobs (its gate
    # count and fit) re-execute their input lineage per job — scan →
    # GEMM assign → project — without the cut (guide §5,
    # localCheckpoint to truncate lineage; r15). Values unchanged.
    residuals = residuals.localCheckpoint(eager=False)
    codes, books = pq_fit(
        residuals, id_col, "__res", dim, m, k, pq_iters
    )
    # per-(query, probed list) ADC tables over the QUERY residual —
    # computed INLINE from the assigned row (it carries the vector),
    # so the old probes ⋈ vd join inside the qt broadcast build is
    # gone too (r16). qt stays a SEPARATE table attached to the
    # candidate fan-out by a broadcast-hash join on (a_id, list_id):
    # attaching the m×k table BEFORE the list join was A/B'd and
    # REVERTED — it copies 16 doubles into every one of the ~37M
    # fan-out rows instead of a per-row hash lookup against 30k
    # broadcast entries (first exec 1.9 → 2.5 s).
    qt = assigned.select(
        F.col(id_col).alias("a_id"),
        "list_id",
        F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            F.element_at(cent_lit, F.col("list_id") + 1),
            lambda a, b: a - b,
        ).alias("__rq"),
    ).select(
        "a_id",
        "list_id",
        F.expr(_sql_adc_entries("__rq", books, m, k, sub_d)).alias("__dt"),
    )
    # widen the explosive list-join fan-out (see ivf_pq_topk: the
    # probe side reads the checkpoint's 1-2 scan partitions and the
    # ADC scoring stage above the broadcast join would run serial)
    par = max(
        vectors.sparkSession.sparkContext.defaultParallelism,
        int(vectors.sparkSession.conf.get("spark.sql.shuffle.partitions")),
    )
    probes = assigned.select(
        F.col(id_col).alias("a_id"), "list_id"
    ).repartition(par)
    cand = (
        probes.join(
            corpus.select(F.col(id_col).alias("b_id"), "list_id"),
            on="list_id",
        )
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "list_id", "b_id")
    )
    scored = (
        cand.join(codes.withColumnRenamed(id_col, "b_id"), "b_id")
        .join(qt, ["a_id", "list_id"])
        .select(
            "a_id",
            "b_id",
            F.round(_adc_fold(m, k), round_dp).alias("adc"),
        )
    )
    return top_k_per_group(
        scored, ["a_id"], [F.col("adc").asc(), F.col("b_id").asc()], k_top
    ).drop("rn")


def jl_project(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    out_dim: int,
    dim: int,
    round_dp: int = 9,
    salt: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a PORTABLE
    sign matrix (Achlioptas 2003's database-friendly ±1 variant): every
    entry s(j,d) is +1/-1 by md5 parity of its coordinates, so any
    engine regenerates the same matrix from the salt alone — no stored
    model, no RNG (the portable-planes discipline from LSH applied to
    projection). Returns (id, proj) with ``proj`` = array<double> of
    ``out_dim`` 9dp-rounded entries, j-ordered.

    The unscaled ±1 sum preserves cosine up to the JL distortion
    (cosine is scale-invariant — the 1/sqrt(out_dim) factor cancels).
    Distributed shape: melt rows -> broadcast the (out_dim x dim) sign
    table -> one (id, j) partial-sum shuffle -> per-id array fold.
    Rounding the sums to 9dp BEFORE any consumer makes downstream
    ranking engine-agnostic (the lsh_portable precedent)."""
    from jane_spark.operators.dedup import portable_hash32

    if out_dim < 1 or dim < 1:
        raise ValueError("out_dim and dim must be >= 1")
    spark = vectors.sparkSession
    planes = (
        spark.range(out_dim)
        .select(F.col("id").cast("int").alias("j"))
        .crossJoin(
            spark.range(dim).select(F.col("id").cast("int").alias("d"))
        )
        .select(
            "j",
            "d",
            F.when(
                F.pmod(
                    portable_hash32(
                        F.concat(
                            F.lit(f"{salt}:"),
                            F.col("j").cast("string"),
                            F.lit(":"),
                            F.col("d").cast("string"),
                        )
                    ),
                    F.lit(2),
                )
                == 0,
                F.lit(1.0),
            )
            .otherwise(F.lit(-1.0))
            .alias("s"),
        )
    )
    melted = vectors.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(F.col(vec_col)).alias("d", "val"),
    ).select("id", "d", F.col("val").cast("double").alias("val"))
    proj = (
        melted.join(F.broadcast(planes), "d")
        .groupBy("id", "j")
        .agg(F.round(F.sum(F.col("val") * F.col("s")), round_dp).alias("pv"))
    )
    return proj.groupBy("id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("j", "pv"))),
            lambda s: s.pv,
        ).alias("proj")
    )


def jl_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    candidates: int = 50,
    out_dim: int = 16,
    dim: int = 64,
    round_dp: int | None = 6,
    stage1_round_dp: int | None = 6,
) -> DataFrame:
    """Coarse-to-fine ANN over a JL sign projection: stage 1 ranks
    cosine in the ``out_dim``-d projected space (out_dim/dim of the
    FLOPs; grid-GEMM, sims rounded before the candidate rank — the
    two_stage_topk discipline), stage 2 re-scores only the candidate
    pairs at full dimension and keeps the exact top-k of that set.
    two_stage_topk needs Matryoshka-TRAINED prefixes to rank well;
    the JL projection is the model-free alternative with a provable
    distortion bound — this is the pair every production stack picks
    between.

    Stage-2 norms are computed ONCE per vector in the join inputs (n
    sqrt-aggregates) instead of per candidate pair (the naive cosine
    call re-derives both norms for each of the n*candidates pairs —
    measured 3x the stage cost); per-pair work is one zip_with dot.
    Values are bit-identical (same per-vector expression), so the
    oracle is unchanged."""
    from jane_spark.functions.arrays import dot, norm

    proj = jl_project(vectors, id_col, vec_col, out_dim, dim).select(
        F.col("id").alias("__tid"), F.col("proj").alias("__t")
    )
    cand = block_topk(
        proj,
        "__tid",
        "__t",
        k=candidates,
        round_dp=None,
        rank_round_dp=stage1_round_dp,
    ).select("a_id", "b_id")

    def to_d(c):
        return F.transform(c, lambda x: x.cast("double"))

    full_a = vectors.select(
        F.col(id_col).cast("long").alias("a_id"),
        to_d(F.col(vec_col)).alias("__va"),
        norm(to_d(F.col(vec_col))).alias("__na"),
    )
    full_b = vectors.select(
        F.col(id_col).cast("long").alias("b_id"),
        to_d(F.col(vec_col)).alias("__vb"),
        norm(to_d(F.col(vec_col))).alias("__nb"),
    )
    exact = (
        cand.join(full_a, "a_id")
        .join(full_b, "b_id")
        .select(
            "a_id",
            "b_id",
            (
                dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb"))
            ).alias("sim"),
        )
    )
    out = top_k_per_group(
        exact, ["a_id"], [F.col("sim").desc(), F.col("b_id").asc()], k
    ).drop("rn")
    if round_dp is not None:
        out = out.withColumn("sim", F.round(F.col("sim"), round_dp))
    return out


def mmr_query_weight(d: int) -> float:
    """Deterministic md5-derived query-vector weight in [-1, 1]
    (the portable_plane_weight idiom, salt 'mmrq') — both engines
    derive the SAME query vector, so MMR is fully cross-checkable."""
    import hashlib

    h = int(hashlib.md5(f"mmrq:{d}".encode()).hexdigest()[:8], 16)
    return (h % 2001 - 1000) / 1000.0


def mmr_select(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    lambda_e4: int = 7000,
    dim: int = 64,
) -> DataFrame:
    """Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein
    1998): greedily pick the candidate maximizing
    ``λ·relevance − (1−λ)·max_sim_to_already_selected`` — the standard
    diversity-aware selection for dedup-adjacent training-data
    curation (pick informative AND non-redundant examples) and for
    retrieval result diversification.

    Integer-exact objective: relevance and similarities are cosine
    rounded to 6 dp then scaled to 1e6 ints; the MMR score is pure
    int64 arithmetic (``lambda_e4`` in 1e4 fixed point), ties break on
    id asc. ``max_sim`` starts at −1e6 (cos ≥ −1), so the first pick
    is the pure-relevance argmax with the standard constant offset.

    Scale shape — the reranker pattern: relevance is a distributed
    column expression, then the inherently-SEQUENTIAL greedy runs in
    ONE Arrow-batched executor task (``applyInPandas`` over a single
    group, numpy GEMM per round) — one Spark job total, instead of k
    scheduler round-trips of TakeOrdered(1) (measured: the per-round
    job+planning floor alone was ~2 s for k=8 at local[32]; this shape
    is ~0.3 s). The single task holds the candidate set, which is why
    MMR must run over a relevance top-N SHORTLIST (N ~ 100k, from the
    ANN paths above), never the full corpus — exactly how production
    rerankers execute. k is a selection size (8–100), not data-sized.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not 0 <= lambda_e4 <= 10000:
        raise ValueError("lambda_e4 must be in [0, 10000]")
    from jane_spark.functions.arrays import dot, norm

    q = F.expr(_sql_darr(mmr_query_weight(d) for d in range(dim)))
    v = F.col(vec_col).cast("array<double>")
    # try_divide, not /: under ANSI (Spark 4 default) a zero-norm
    # vector's cosine would THROW DIVIDE_BY_ZERO; try_divide yields
    # null, and the isNotNull filter excludes the row up front rather
    # than letting the null reach the executor-side int64 cast
    # (ADVICE r11)
    rel = F.try_divide(dot(v, q), norm(v) * norm(q))
    cand = vectors.select(
        F.col(id_col).cast("long").alias("id"),
        v.alias("v"),
        F.round(rel * 1e6, 0).cast("bigint").alias("rel"),
    ).where(F.col("rel").isNotNull())
    lam = int(lambda_e4)
    kk = int(k)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(
                columns=["rank", "vec_id", "rel_e6", "maxsim_e6", "mmr"]
            )
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        rel = pdf["rel"].to_numpy()[order].astype(np.int64)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])[
            order
        ]
        nv = np.sqrt(np.einsum("ij,ij->i", V, V))
        # rel-null rows were filtered in the plan, but guard anyway:
        # a zero norm would make sims NaN and the int64 cast below
        # undefined — pin the divisor to 1 (sims become 0, harmless)
        nv = np.where(nv == 0.0, 1.0, nv)
        ms = np.full(n, -1000000, dtype=np.int64)
        alive = np.ones(n, dtype=bool)
        out = []
        for rank in range(1, kk + 1):
            if not alive.any():
                break
            score = lam * rel - (10000 - lam) * ms
            # argmax over alive, ties -> smallest id (ids sorted asc,
            # argmax returns the FIRST max)
            masked = np.where(alive, score, np.iinfo(np.int64).min)
            j = int(np.argmax(masked))
            out.append(
                (rank, int(ids[j]), int(rel[j]), int(ms[j]), int(masked[j]))
            )
            alive[j] = False
            sims = (V @ V[j]) / (nv * nv[j]) * 1e6
            # NaN (null vector elements) -> sentinel below any real
            # cosine, so such rows never win a maxsim update
            sims = np.nan_to_num(sims, nan=-1e6)
            # Spark round() semantics: HALF_UP away from zero (numpy
            # rounds half-to-even)
            sims_i = np.where(
                sims >= 0, np.floor(sims + 0.5), np.ceil(sims - 0.5)
            ).astype(np.int64)
            ms = np.maximum(ms, sims_i)
        return pd.DataFrame(
            out, columns=["rank", "vec_id", "rel_e6", "maxsim_e6", "mmr"]
        )

    return (
        cand.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(
            greedy,
            "rank int, vec_id long, rel_e6 long, maxsim_e6 long, mmr long",
        )
    )


def gemm_near_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_dp: int | None = 6,
    n_query_blocks: int = 4,
    n_corpus_blocks: int = 4,
) -> DataFrame:
    """Exact threshold pairs (a_id < b_id, cosine >= threshold) via the
    block_topk grid-GEMM machinery — the vectorized twin of
    ``embedding_near_pairs(method='exact')``, whose per-pair
    higher-order-function cosine is interpreted row-at-a-time and
    ~10-40x slower (the dbscan lesson, r10). Each (a, b) pair lands in
    exactly ONE grid cell, so the union of cell outputs is the exact
    pair set — no dedup stage. Same scale posture as block_topk: one
    shuffle per side keyed by grid cell, peak task memory one query
    block + one corpus block, no driver materialization, no broadcast.
    """
    n_q, n_c = int(n_query_blocks), int(n_corpus_blocks)
    if n_q < 1 or n_c < 1:
        raise ValueError("block counts must be >= 1")
    thr = float(threshold)
    base = vectors.select(
        F.col(id_col).cast("long").alias("__id"), F.col(vec_col).alias("__vec")
    )
    qb = F.pmod(F.xxhash64(F.col("__id")), F.lit(n_q)).cast("int")
    cb = F.pmod(F.xxhash64(F.col("__id")), F.lit(n_c)).cast("int")
    queries = base.select(
        "__id",
        "__vec",
        qb.alias("__qb"),
        F.explode(F.sequence(F.lit(0), F.lit(n_c - 1))).alias("__cb"),
        F.lit(True).alias("__is_q"),
    )
    corpus = base.select(
        "__id",
        "__vec",
        F.explode(F.sequence(F.lit(0), F.lit(n_q - 1))).alias("__qb"),
        cb.alias("__cb"),
        F.lit(False).alias("__is_q"),
    )
    out_schema = "a_id long, b_id long, sim double"
    empty = pd.DataFrame(
        {
            "a_id": pd.Series(dtype="int64"),
            "b_id": pd.Series(dtype="int64"),
            "sim": pd.Series(dtype="float64"),
        }
    )

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf[pdf["__is_q"]]
        c = pdf[~pdf["__is_q"]]
        if q.empty or c.empty:
            return empty
        q_ids = q["__id"].to_numpy(dtype=np.int64)
        qm = np.array(q["__vec"].tolist(), dtype=np.float64)
        b_ids = c["__id"].to_numpy(dtype=np.int64)
        bm = np.array(c["__vec"].tolist(), dtype=np.float64)
        sims = (qm @ bm.T) / (
            np.sqrt((qm * qm).sum(axis=1))[:, None]
            * np.sqrt((bm * bm).sum(axis=1))[None, :]
        )
        ai, bi = np.nonzero(
            (sims >= thr) & (q_ids[:, None] < b_ids[None, :])
        )
        return pd.DataFrame(
            {
                "a_id": q_ids[ai],
                "b_id": b_ids[bi],
                "sim": sims[ai, bi],
            }
        )

    out = (
        queries.unionByName(corpus)
        .groupBy("__qb", "__cb")
        .applyInPandas(cell, schema=out_schema)
    )
    if round_dp is not None:
        out = out.withColumn("sim", F.round(F.col("sim"), round_dp))
    return out


def hard_negative_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    low: float = 0.3,
    dup_threshold: float = 0.85,
    round_dp: int = 6,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: for each
    vector, the top-k neighbors whose cosine lies in the HARD BAND
    [low, dup_threshold) — similar enough to teach the margin,
    below the near-duplicate cut (a near-dup used as a negative is a
    FALSE negative and poisons the contrastive loss; cf. the dense
    retrieval literature on BM25/ANN-mined negatives).

    BOTH band edges test the sim ROUNDED to ``round_dp`` (the
    embed_decontam discipline): the exact-mode candidate search runs
    with a raw threshold one ulp-of-rounding lower (``low −
    10^-round_dp``) so a raw 0.2999996 — whose rounded value 0.3 is
    in-band — is admitted, then the rounded band filter decides.
    Ranking on rounded sims, ties on neighbor id: engine-stable.
    Emits ``(a_id, b_id, sim, rank)`` — one row per kept negative.

    ``candidates``: pre-computed candidate pairs ``(a_id, b_id, sim)``
    — one row per unordered pair, ``a_id < b_id``, raw (unrounded)
    cosine. Default is the exact grid-GEMM pair search, which is
    O(n²) COMPUTE — fine for shortlist-sized inputs, not a corpus. The
    production path at 100 TB composes the proven ANN chains: feed
    LSH/IVF bucket candidates (e.g. ``embedding_near_pairs(...,
    method="lsh")``) and this function becomes the exact band rerank
    over that pruned set, the same posture note as mmr_select.
    """
    if not 0.0 <= low < dup_threshold:
        raise ValueError("need 0 <= low < dup_threshold")
    if candidates is None:
        candidates = gemm_near_pairs(
            vectors,
            id_col,
            vec_col,
            threshold=low - 10.0 ** (-round_dp),
            round_dp=None,
        )
    pairs = candidates.withColumn("sim", F.round(F.col("sim"), round_dp))
    both = pairs.unionByName(
        pairs.select(
            F.col("b_id").alias("a_id"),
            F.col("a_id").alias("b_id"),
            "sim",
        )
    )
    band = both.filter(
        (F.col("sim") >= low) & (F.col("sim") < dup_threshold)
    )
    w = Window.partitionBy("a_id").orderBy(
        F.col("sim").desc(), F.col("b_id").asc()
    )
    return (
        band.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def ann_recall_audit(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 2,
    dim: int = 64,
) -> DataFrame:
    """ANN quality audit AS A QUERY: per-query recall@k of the
    portable-plane LSH index against the exact GEMM top-k — the
    evaluation every production ANN deployment re-runs after each
    index rebuild, expressed inside the engine instead of a sidecar
    script (so it scales with the corpus, joins against metadata, and
    hash-checks like any other operator).

    Emits one row per query vector: ``(a_id, n_exact, n_hits,
    recall_e4)``. Both ranking chains are the proven q_k3 operators;
    the audit itself is one equi-join + one groupBy over two
    k-row-per-query tables. Exact side is the block-GEMM (never the
    crossJoin); at 100 TB the exact side runs on a deterministic
    bottom-k SAMPLE of queries (D22) — recall estimates don't need
    every query, and the sample is reproducible.
    """
    exact = block_topk(vectors, id_col, vec_col, k=k, round_dp=6)
    approx = lsh_bucketed_topk(
        vectors, id_col, vec_col, k=k, n_planes=n_planes,
        n_tables=n_tables, dim=dim, planes="portable",
    )
    hits = (
        exact.select("a_id", "b_id")
        .join(approx.select("a_id", "b_id"), ["a_id", "b_id"], "left_semi")
        .groupBy("a_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_q = exact.groupBy("a_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    return per_q.join(hits, "a_id", "left").select(
        "a_id",
        "n_exact",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        F.expr(
            "(coalesce(n_hits, 0) * 10000) div greatest(n_exact, 1)"
        ).cast("bigint").alias("recall_e4"),
    )


def sq_query_weight_e6(d: int, salt: str = "sqq") -> int:
    """Deterministic md5-derived query weight as an EXACT 1e6-scaled
    integer (the mmr_query_weight idiom, integer edition): the weight
    (h % 2001 - 1000)/1000 scaled by 1e6 is (h % 2001 - 1000) * 1000
    — no float anywhere, replayable in any engine."""
    import hashlib

    h = int(hashlib.md5(f"{salt}:{d}".encode()).hexdigest()[:8], 16)
    return (h % 2001 - 1000) * 1000


def sq_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 20,
    dim: int = 64,
    levels: int = 255,
) -> DataFrame:
    """Scalar-quantization (SQ-int8) nearest neighbors — the OTHER
    standard vector-compression ladder rung beside product
    quantization (FAISS SQ8 / Lucene scalar quantizer): per-DIMENSION
    min-max buckets compress each float to one byte (64 B/vector at
    dim 64 vs 256 B raw), and search ranks by integer L2 distance in
    code space against the portable md5-derived query.

    Integer-exact end to end: vectors land in 1e6 fixed point first
    (``round(v*1e6)`` — ONE IEEE multiply + round, bit-identical in
    any engine; no transcendental, so no cross-libm tie class), then

        code[d] = ((v_e6[d] - mn[d]) * levels) div max(mx[d] - mn[d], 1)

    is pure BIGINT against the per-dimension corpus bounds (truncating
    div on BOTH engines — Spark `div` and DuckDB `//` truncate toward
    zero, which matters for the query's possibly-negative numerators).
    The query quantizes through the SAME bounds (unclamped — a query
    outside the corpus envelope gets out-of-range codes, which
    preserves ordering and exactness). ``dist2 = sum (code-qcode)^2``
    ranks top-k (asc, id ties). Emits ``(vec_id, dist2, rank)``.
    Empty input yields an empty frame.

    Scale shape — ONE lazy plan, zero driver collects: per-dimension
    bounds come from a posexplode + (pos)-keyed min/max agg (map-side
    combinable, 2*dim longs) folded into ONE broadcast row of
    mn/rng/qcode ARRAYS that crossJoins the scan; because the arrays
    arrive through a JOIN, CollapseProject cannot re-inline their
    derivation into the per-element accesses (the re-inlining that
    made the first cut 64x slower). One projection + one TakeOrdered;
    the corpus never shuffles. At 100 TB the codes are what you STORE
    (4x smaller scans); rerank composes like ivf_pq's ADC->exact.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    base = vectors.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).select(
        "id",
        # Fail LOUDLY on a dim mismatch (ADVICE r11): a short vector
        # would otherwise null out element_at -> dist2 and silently
        # vanish from the top-k; a long one would pollute the bounds
        # aggregate while its tail dims are ignored in search.
        F.expr(
            f"CASE WHEN size(v) = {int(dim)} THEN v ELSE raise_error("
            f"concat('sq_topk: vector has ', cast(size(v) as string), "
            f"' dims, expected {int(dim)}')) END"
        ).alias("v"),
    )
    ve = F.transform(F.col("v"), lambda x: F.round(x * 1e6, 0).cast("bigint"))
    bounds = (
        base.select(F.posexplode(ve).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    q_sql = ",".join(str(sq_query_weight_e6(d)) for d in range(dim))
    # ONE broadcast row holding the three aligned arrays; the query
    # codes compute Spark-side with the same truncating div
    barr = (
        bounds.agg(
            F.sort_array(
                F.collect_list(F.struct("pos", "mn", "mx"))
            ).alias("s")
        )
        .select(
            F.expr("transform(s, e -> e.mn)").alias("mn_arr"),
            F.expr(
                "transform(s, e -> greatest(e.mx - e.mn, CAST(1 AS BIGINT)))"
            ).alias("rng_arr"),
        )
        .select(
            "mn_arr",
            "rng_arr",
            F.expr(
                f"zip_with(zip_with(array({q_sql}), mn_arr, "
                f"(q, m) -> (q - m) * {int(levels)}), rng_arr, "
                "(num, r) -> num div r)"
            ).alias("qc_arr"),
        )
    )
    scored = (
        base.crossJoin(F.broadcast(barr))
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"aggregate(zip_with("
                f"transform(sequence(1, {dim}), i -> "
                f"((cast(round(element_at(v, i) * 1000000.0, 0) as bigint)"
                f" - element_at(mn_arr, i)) * {int(levels)})"
                f" div element_at(rng_arr, i)), "
                f"qc_arr, "
                "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
            ).cast("bigint").alias("dist2"),
        )
    )
    sel = scored.orderBy(F.col("dist2").asc(), F.col("vec_id").asc()).limit(k)
    w = Window.orderBy(F.col("dist2").asc(), F.col("vec_id").asc())
    return sel.withColumn("rank", F.row_number().over(w).cast("int"))



# the e6-quantized component j+lo+1 of the row vector, as SQL text —
# the ONE place the binary-code bit rule's left operand is written
_BINARY_VE_AT = (
    "cast(round(element_at(v, j + {lo} + 1) * 1000000.0, 0) as bigint)"
)


def _binary_guarded_base(
    vectors: DataFrame, id_col: str, vec_col: str, dim: int, opname: str
) -> DataFrame:
    """(id, v) projection with the loud dim guard — shared by
    binary_topk and binary_codes so the stored-code layout cannot
    drift from the search path (r12 review dedup)."""
    return vectors.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).select(
        "id",
        F.expr(
            f"CASE WHEN size(v) = {int(dim)} THEN v ELSE raise_error("
            f"concat('{opname}: vector has ', cast(size(v) as string),"
            f" ' dims, expected {int(dim)}')) END"
        ).alias("v"),
    )


def _binary_sums_row(base: DataFrame) -> DataFrame:
    """ONE broadcastable row (s_arr, n_corpus): per-dimension e6
    component sums + corpus count — the above-mean bit rule's right
    operand. Arrives via a join so CollapseProject cannot re-inline
    the derivation per element access (the q_k42 lesson)."""
    ve = F.transform(
        F.col("v"), lambda x: F.round(x * 1e6, 0).cast("bigint")
    )
    sums = (
        base.select(F.posexplode(ve).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.sum("x").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    return (
        sums.agg(
            F.sort_array(F.collect_list(F.struct("pos", "s", "n"))).alias(
                "t"
            )
        )
        .select(
            F.expr("transform(t, e -> e.s)").alias("s_arr"),
            # get(), not t[0]: ANSI throws on indexing the empty
            # collect_list of an EMPTY corpus; null n_corpus is fine
            # (there are no candidate rows to score anyway)
            F.expr("get(t, 0).n").alias("n_corpus"),
        )
    )


def _binary_pack(bit_at: str, lo: int, dim: int) -> str:
    """SQL folding bits lo..min(lo+32, dim) of the sign-bit rule
    ``bit_at`` into one 32-bit word (sum of bit<<j); an empty word
    (dim <= lo) is the 0 literal."""
    n_bits = min(32, int(dim) - lo)
    if n_bits <= 0:
        return "cast(0 as bigint)"
    return (
        f"aggregate(sequence(0, {n_bits - 1}), cast(0 as bigint), "
        f"(acc, j) -> acc + IF({bit_at}, "
        f"shiftleft(cast(1 as bigint), j), cast(0 as bigint)))"
    )


def binary_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 20,
    shortlist: int = 100,
    dim: int = 64,
) -> DataFrame:
    """Binary (1-bit) quantization nearest neighbors — the last rung of
    the vector-compression ladder below PQ (q_k23) and SQ-int8
    (q_k42): each dimension compresses to ONE sign bit relative to the
    per-dimension corpus mean (the RaBitQ / binary-sketch family;
    8 B/vector at dim 64 vs 256 B raw — a 32x scan cut), candidates
    rank by Hamming distance in code space, and the top-``shortlist``
    rerank EXACTLY in 1e6 fixed point (the standard coarse-to-fine
    contract: binary codes give recall, the rerank gives precision).

    Integer-exact end to end: vectors land in 1e6 fixed point
    (``round(v*1e6)`` — one IEEE multiply + round, bit-identical in
    any engine), then

        bit[d] = 1  iff  v_e6[d] * n > sum_e6[d]

    compares BIGINTs (strictly-above-mean without a division — no
    rounding, no tie class). Bits pack into TWO 32-bit words stored as
    BIGINT (bits 0-31 / 32-63; two words, not one, so bit 63 never
    touches the BIGINT sign position in either engine), the portable
    md5-derived query (``sq_query_weight_e6`` salt 'binq') quantizes
    through the SAME mean, and

        hamming = bit_count(w0 XOR qw0) + bit_count(w1 XOR qw1)

    ranks the coarse stage (ties id asc). The ``shortlist`` survivors
    rerank by exact integer L2 ``sum (v_e6-q_e6)^2``; top-k by
    (dist2, id). Emits ``(vec_id, w0, w1, hamming, dist2, rank)`` —
    the packed words are in the hashed surface so the code layout
    itself is cross-checked, not just the ranking.

    Scale shape — ONE lazy plan, zero driver collects (the q_k42
    posture): per-dimension sums come from a posexplode + pos-keyed
    combinable agg folded into ONE broadcast row of (s_arr, n); codes
    and Hamming compute in the scan projection; the coarse stage is a
    TakeOrdered(shortlist) so the corpus never shuffles; the exact
    rerank touches only ``shortlist`` rows that carry their vector
    through the TakeOrdered. At 100 TB the 8-byte codes are the
    stored/scanned representation and the rerank fetches ``shortlist``
    raw vectors — exactly the production binary-ANN read path.
    """
    if k < 1 or shortlist < k:
        raise ValueError("need k >= 1 and shortlist >= k")
    from pyspark.sql import Window

    base = _binary_guarded_base(vectors, id_col, vec_col, dim, "binary_topk")
    q_sql = ",".join(
        str(sq_query_weight_e6(d, "binq")) for d in range(dim)
    )
    # ONE broadcast row: per-dim sums, corpus count, and the query's
    # packed words derived through the SAME above-mean rule
    barr = _binary_sums_row(base).select(
        "s_arr",
        "n_corpus",
        F.expr(
            _binary_pack(
                f"element_at(array({q_sql}), j + {0} + 1) * n_corpus "
                f"> element_at(s_arr, j + {0} + 1)",
                0,
                dim,
            )
        ).alias("qw0"),
        F.expr(
            _binary_pack(
                f"element_at(array({q_sql}), j + {32} + 1) * n_corpus"
                f" > element_at(s_arr, j + {32} + 1)",
                32,
                dim,
            )
        ).alias("qw1"),
    )
    scored = base.crossJoin(F.broadcast(barr)).select(
        F.col("id").alias("vec_id"),
        "v",
        F.expr(
            _binary_pack(
                _BINARY_VE_AT.format(lo=0)
                + " * n_corpus > element_at(s_arr, j + 0 + 1)",
                0,
                dim,
            )
        ).alias("w0"),
        F.expr(
            _binary_pack(
                _BINARY_VE_AT.format(lo=32)
                + " * n_corpus > element_at(s_arr, j + 32 + 1)",
                32,
                dim,
            )
        ).alias("w1"),
        F.col("qw0"),
        F.col("qw1"),
    )
    coarse = (
        scored.withColumn(
            "hamming",
            (
                F.bit_count(F.expr("w0 ^ qw0"))
                + F.bit_count(F.expr("w1 ^ qw1"))
            ).cast("int"),
        )
        .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
        .limit(int(shortlist))
    )
    rerank = coarse.select(
        "vec_id",
        "w0",
        "w1",
        "hamming",
        F.expr(
            f"aggregate(zip_with("
            f"transform(sequence(1, {dim}), i -> "
            f"cast(round(element_at(v, i) * 1000000.0, 0) as bigint)), "
            f"array({q_sql}), (a, b) -> (a - b) * (a - b)), "
            "cast(0 as bigint), (acc, x) -> acc + x)"
        )
        .cast("bigint")
        .alias("dist2"),
    )
    sel = rerank.orderBy(F.col("dist2").asc(), F.col("vec_id").asc()).limit(
        int(k)
    )
    w = Window.orderBy(F.col("dist2").asc(), F.col("vec_id").asc())
    return sel.withColumn("rank", F.row_number().over(w).cast("int"))


def binary_codes(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
) -> DataFrame:
    """The STORED-representation half of :func:`binary_topk`: compute
    each vector's packed sign-bit words ``(id, w0, w1)`` with the same
    division-free above-mean rule and word layout — this is what a
    production deployment writes once and scans on every query (two
    BIGINTs = 16 B/row raw, ~8 B compressed, vs 64 float64s ≈ 512 B:
    the 32x coarse-scan cut binary_topk's docstring claims, pinned by
    tests/test_operators.py::test_binary_codes_storage_cut). A search
    over stored codes recomputes NOTHING per query except the query's
    own words; the exact rerank point-fetches raw vectors for the
    shortlist only.

    Built on the SAME helpers as binary_topk (_binary_guarded_base /
    _binary_sums_row / _binary_pack + _BINARY_VE_AT), so the bit rule
    and word layout literally cannot drift between the stored and
    search paths (r12 review; equality also pinned by
    test_binary_codes_storage_cut)."""
    base = _binary_guarded_base(
        vectors, id_col, vec_col, dim, "binary_codes"
    )
    barr = _binary_sums_row(base)

    def bit(lo: int) -> str:
        return (
            _BINARY_VE_AT.format(lo=lo)
            + f" * n_corpus > element_at(s_arr, j + {lo} + 1)"
        )

    return base.crossJoin(F.broadcast(barr)).select(
        F.col("id").alias("vec_id"),
        F.expr(_binary_pack(bit(0), 0, dim)).alias("w0"),
        F.expr(_binary_pack(bit(32), 32, dim)).alias("w1"),
    )


def binary_codes_frozen(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    ref: DataFrame,
    dim: int = 64,
) -> DataFrame:
    """:func:`binary_codes` with the above-mean bit thresholds FROZEN
    from ``ref``'s per-dimension sums — the K50 frozen-quantizer move
    applied to the binary-code family: a new ingest batch codes
    against the STORED corpus's thresholds, so its codes and buckets
    stay bit-consistent with the stored code table WITHOUT re-scanning
    or re-coding history (``ref`` contributes one bounded broadcast
    row: d sums + a count). Same helpers as binary_codes, so the bit
    rule cannot drift between the stored and incremental paths."""
    base = _binary_guarded_base(
        vectors, id_col, vec_col, dim, "binary_codes_frozen"
    )
    barr = _binary_sums_row(
        _binary_guarded_base(
            ref, id_col, vec_col, dim, "binary_codes_frozen(ref)"
        )
    )

    def bit(lo: int) -> str:
        return (
            _BINARY_VE_AT.format(lo=lo)
            + f" * n_corpus > element_at(s_arr, j + {lo} + 1)"
        )

    return base.crossJoin(F.broadcast(barr)).select(
        F.col("id").alias("vec_id"),
        F.expr(_binary_pack(bit(0), 0, dim)).alias("w0"),
        F.expr(_binary_pack(bit(32), 32, dim)).alias("w1"),
    )


def graph_expand_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_seeds: int = 8,
    degree: int = 8,
    query_mod: int = 10,
    dim: int = 64,
    hops: int = 1,
    build: str = "exact",
) -> DataFrame:
    """Graph-expansion ANN — the batch-relational member of the
    graph-index family (HNSW / NSG / DiskANN), completing the ANN
    ladder next to brute GEMM (K3), LSH (K3), IVF (K3), PQ (K23),
    SQ-int8 (K42) and binary codes (K43): a precomputed k-NN neighbor
    graph turns a cheap coarse candidate into its whole semantic
    neighborhood before the exact rerank. Where HNSW walks the graph
    sequentially per query (greedy best-first — inherently a
    pointer-chase), the engine answer is the DiskANN-style BATCH
    shape: every query expands its seed set by ONE graph hop as an
    equi-join, then reranks exactly — joins instead of walks, no
    per-query state, no driver loop.

    Stages (each a plain relational op):

    1. split: ids with ``id % query_mod == 0`` are the query set, the
       rest the corpus (the held-out audit framing of q_k39);
    2. seeds: K43 binary codes over the full table (one shared
       above-mean bit rule), per-query top-``n_seeds`` corpus ids by
       Hamming distance (integer, ties id asc) — the 8-byte coarse
       scan of the production read path;
    3. graph: per-corpus-node exact top-``degree`` neighbors via the
       grid-GEMM block_topk with rank-rounding (sims rounded to 6 dp
       BEFORE ranking, ties id asc — the platform-stable edge set);
       built ONCE, reused by every query (the index);
    4. expand: candidates = seeds UNION the frontier advanced
       ``hops`` times through the edge table (each hop one equi-join
       + distinct — the flattened relational beam), bounded by
       n_seeds * (degree + 1)^hops per query; recall is MONOTONE in
       hops (a superset of candidates reranked by the same exact
       score can only move the top-k closer to the true top-k);
    5. rerank: exact cosine on candidates only, rounded to 6 dp
       before ranking, top-``k`` per query by (sim desc, id asc).

    Emits ``(qid, vec_id, sim, rank)``. Recall beats the seeds-only
    coarse stage because near neighbors cluster in the graph (pinned
    in tests). Scale shape: the graph build is the block_topk grid
    (bounded cells, one shuffle per side); the Hamming stage scans
    stored 16 B codes against a broadcast query-code table and
    windows per query; expansion + rerank touch only candidate rows.
    At 100 TB the graph is the stored index (|corpus| * degree edge
    rows), seeds come off the binary-code scan, and the only
    data-scale work is the one coarse scan — exactly the DiskANN
    read path with the beam replaced by a fixed one-hop frontier.

    ``build`` selects the edge-table construction: ``"exact"`` (the
    grid-GEMM block_topk — exact edges, O(n²·d) FLOPs, fixture/audit
    use) or ``"nn_descent"`` (:func:`nn_descent_graph` — the
    sub-quadratic production build, VERDICT r13 #3; end-to-end query
    recall over the approximate graph is pytest-pinned within a few
    points of the exact-graph path).
    """
    if k < 1 or n_seeds < 1 or degree < 1 or query_mod < 2 or hops < 1:
        raise ValueError(
            "need k, n_seeds, degree, hops >= 1 and query_mod >= 2"
        )
    if build not in ("exact", "nn_descent"):
        raise ValueError(f"unknown build mode {build!r}")
    base = vectors.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    )
    queries = base.filter(F.col("id") % query_mod == 0)
    corpus = base.filter(F.col("id") % query_mod != 0)

    codes = binary_codes(vectors, id_col, vec_col, dim=dim)
    qc = codes.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    cc = codes.filter(F.col("vec_id") % query_mod != 0)
    ham = cc.crossJoin(F.broadcast(qc)).select(
        "qid",
        "vec_id",
        (
            F.bit_count(F.expr("w0 ^ qw0")) + F.bit_count(F.expr("w1 ^ qw1"))
        ).cast("int").alias("hamming"),
    )
    seeds = top_k_per_group(
        ham,
        ["qid"],
        [F.col("hamming").asc(), F.col("vec_id").asc()],
        n_seeds,
    ).select("qid", F.col("vec_id").alias("cid"))

    if build == "nn_descent":
        edges = nn_descent_graph(
            vectors, id_col, vec_col, degree=degree, iters=2,
            dim=dim, exclude_mod=query_mod,
        ).select("a_id", "b_id")
    else:
        edges = block_topk(
            corpus, "id", "v", k=degree, rank_round_dp=6
        ).select("a_id", "b_id")

    cand = seeds
    frontier = seeds
    for _ in range(int(hops)):
        frontier = (
            frontier.join(edges, frontier["cid"] == edges["a_id"])
            .select("qid", F.col("b_id").alias("cid"))
            .distinct()
        )
        cand = cand.unionByName(frontier)
    cand = cand.distinct()
    rer = (
        cand.join(
            corpus.select(
                F.col("id").alias("cid"),
                F.col("v").alias("cv"),
                norm(F.col("v")).alias("cnrm"),
            ),
            "cid",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col("id").alias("qid"),
                    F.col("v").alias("qv"),
                    norm(F.col("v")).alias("qnrm"),
                )
            ),
            "qid",
        )
        .select(
            "qid",
            "cid",
            F.round(
                cosine_from_norms(
                    F.col("qv"), F.col("cv"), F.col("qnrm"), F.col("cnrm")
                ),
                6,
            ).alias("sim"),
        )
    )
    top = top_k_per_group(
        rer, ["qid"], [F.col("sim").desc(), F.col("cid").asc()], k
    )
    return top.select(
        "qid",
        F.col("cid").alias("vec_id"),
        "sim",
        F.col("rn").cast("int").alias("rank"),
    )


def _validate_slice_layout(n_slices: int, bucket_bits: int) -> None:
    """Seed-bucket slice layout guard shared by nn_descent_graph /
    nn_descent_insert (ADVICE r14): slice s keys code bits
    [s·b, s·b+b), read with ONE shiftright on the 32-bit word holding
    bit s·b — so a slice that straddles the w0/w1 boundary would
    zero-fill its high bits (shiftright past the word end), silently
    merging buckets and diverging from the documented "slice s keys
    dims s·b+1..s·b+b". Require every slice to sit inside one packed
    word, on top of the [1,16]-bit and 64-bit-total range checks."""
    if not (1 <= int(bucket_bits) <= 16):
        raise ValueError("bucket_bits must be in [1, 16]")
    if not (1 <= int(n_slices) * int(bucket_bits) <= 64):
        raise ValueError("n_slices * bucket_bits must fit the 64 code bits")
    b = int(bucket_bits)
    for s in range(int(n_slices)):
        if (s * b) // 32 != (s * b + b - 1) // 32:
            raise ValueError(
                f"slice {s} (bits [{s * b}, {s * b + b})) straddles the "
                "w0/w1 32-bit word boundary — shiftright would zero-fill "
                "its high bits and merge buckets; pick bucket_bits with "
                "32 % bucket_bits == 0, or fewer slices"
            )


def nn_descent_graph(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    degree: int = 8,
    iters: int = 2,
    bucket_bits: int = 4,
    n_slices: int = 4,
    build_degree: int | None = None,
    dim: int = 64,
    exclude_mod: int | None = None,
    rank_round_dp: int = 6,
) -> DataFrame:
    """SUB-QUADRATIC k-NN graph construction — NN-descent (Dong,
    Moses & Li, WWW 2011: "Efficient k-nearest neighbor graph
    construction for generic similarity measures"), replacing the one
    remaining quadratic-compute build in the ANN family (VERDICT r13
    #3): :func:`graph_expand_topk`'s edge table came from the
    grid-GEMM :func:`block_topk`, whose cells bound task MEMORY but
    still cost O(n²·d) FLOPs at corpus scale.

    The paper's observation: *a neighbor of a neighbor is likely a
    neighbor*. Start from a cheap approximate neighbor list and
    repeatedly compare each node against its neighbors' neighbors —
    the graph self-improves toward the exact k-NN graph in a handful
    of rounds (the paper measures ~90%+ recall in 4-5 iterations on
    a million points; our fixture pin is ≥0.9 edge recall at 2).

    Engine formulation — every stage a relational op, no per-node
    state, no driver loop beyond ``iters`` fixed rounds (the LPA /
    PageRank plan discipline: localCheckpoint per round keeps the
    lineage flat):

    1. seed: ``n_slices`` LSH "tables" — table s buckets nodes on
       bit-slice s (``bucket_bits`` wide) of their K43 binary code
       (the stored sign-bit representation — the same one-scan
       artifact the coarse search path reads); candidate pairs =
       the UNION of within-bucket self-joins across tables. ONE
       table would partition the corpus, making the seed graph
       bucket-closed — neighbors-of-neighbors could never leave a
       bucket and the descent would be a fixed point (measured:
       recall froze at the seed's 0.12 on the fixture). Distinct
       slices give each node candidates from ``n_slices`` DIFFERENT
       partitions, which is what the iteration propagates across.
    2. iterate ``iters`` times: undirect the current edge list
       (forward ∪ reverse — the paper's B[v] ∪ R[v]), generate
       candidate pairs (u, w) sharing a neighbor v as ONE self
       equi-join on v, drop pairs already in the graph (left_anti),
       score the fresh pairs exactly (round-then-rank), and keep
       per-node top-``build_degree`` of old ∪ fresh — monotone: a
       kept edge is only ever displaced by a strictly better one,
       so per-round recall is non-decreasing. ``build_degree``
       defaults to 2·``degree``: descending with the WIDER internal
       list and truncating at the end is the paper's K′>k discipline
       — the extra slots carry "almost right" neighbors between
       rounds that the final cut discards (measured on the fixture:
       0.77 recall@3 iters building at k, 0.96 recall@2 iters
       building at 2k).
    3. emit per-node top-``degree``: ``(a_id, b_id, sim, rank)``.

    Every ranking is round-before-rank with id tie-breaks, so the
    built graph is deterministic and ENGINE-PORTABLE — the contract
    oracle replays seed + both rounds as SQL and the driver hashes
    the whole edge table (q_k48_nn_descent).

    Scale shape: per-round candidate count is bounded by
    Σ_v deg_und(v)² ≤ n·(2·build_degree)² — LINEAR in n for fixed
    degree — and each round is two equi-joins + one window; total
    build compute is O(n·degree²·d·iters) FLOPs vs the grid's
    O(n²·d). ``bucket_bits`` scales as log2(n/target_bucket_size) so
    the seed join stays near-linear too; at 100 TB the buckets come
    off the stored binary codes (one scan), and degree/iters — not
    corpus size — set the round cost. ``exclude_mod`` carves out the
    held-out query ids (the q_k48 audit framing) so the graph is
    built over the corpus only.

    Single caller at a time per session: the build sets the session's
    ``spark.sql.adaptive.coalescePartitions.minPartitionSize`` to 64k
    and restores the previous value when it returns, so
    queries run concurrently on the same session see the raised floor,
    and a concurrent change to that conf is overwritten.
    """
    if degree < 1 or iters < 0:
        raise ValueError("need degree >= 1 and iters >= 0")
    if build_degree is None:
        build_degree = 2 * degree
    if build_degree < degree:
        raise ValueError("build_degree must be >= degree")
    _validate_slice_layout(n_slices, bucket_bits)
    # Stage-width guard, scoped to THIS operator's build actions
    # (guide §2.5 input-vs-output skew): every NN-descent stage's
    # shuffle INPUT (packed codes, id-pair edges) compresses far
    # below AQE's 1 MB coalesce floor, but the downstream work per
    # round — within-bucket pair fan-out and ~deg² shared-neighbor
    # candidates, each paying an interpreted cosine fold — is 10-40x
    # the input, so collapsed one-task stages serialize the whole
    # round. A GLOBAL 64k floor was A/B'd and reverted (it widened
    # every cheap stage in the suite too; icws/cascade/keep_best all
    # regressed — see engine/session.py). Scoping it here hits only
    # the three eager checkpoint actions this builder runs; the conf
    # is restored before the (lazy) final plan is returned. Idle
    # single-row A/B: 8.1 s (default floor) -> 6.0 s (scoped). The
    # set/restore is session-global: see the single-caller contract in
    # the docstring (ADVICE r15).
    spark = vectors.sparkSession
    _MPS = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    _mps_prev = spark.conf.get(_MPS)
    spark.conf.set(_MPS, "64k")
    try:
        with Generations(spark) as g:
            return g.keep(_nn_descent_graph_build(
                g, vectors, id_col, vec_col, degree, iters, bucket_bits,
                n_slices, build_degree, dim, exclude_mod, rank_round_dp,
            ))
    finally:
        spark.conf.set(_MPS, _mps_prev)


def _nn_descent_graph_build(
    g: Generations,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    degree: int,
    iters: int,
    bucket_bits: int,
    n_slices: int,
    build_degree: int,
    dim: int,
    exclude_mod: int | None,
    rank_round_dp: int,
) -> DataFrame:
    """Body of :func:`nn_descent_graph` (docstring above); runs under
    the scoped coalesce-floor conf set by the wrapper and cuts each
    round's edge table through its ``g``."""
    base = vectors.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    )
    if exclude_mod is not None:
        base = base.filter(F.col("id") % int(exclude_mod) != 0)

    # norms once per vector row, not per candidate pair — the round's
    # dominant per-pair compute is the interpreted HOF cosine fold
    # (cosine_from_norms doc); values bit-identical
    va = base.select(
        F.col("id").alias("a_id"),
        F.col("v").alias("av"),
        norm(F.col("v")).alias("an"),
    )
    vb = base.select(
        F.col("id").alias("b_id"),
        F.col("v").alias("bv"),
        norm(F.col("v")).alias("bn"),
    )

    # seed tables from the stored binary codes: word w0 packs dims
    # 1..32 (bit j-1 = above-mean sign of dim j), w1 packs 33..64 —
    # slice s keys bits [s*b, s*b+b), i.e. dims s*b+1 .. s*b+b
    b = int(bucket_bits)
    mask = (1 << b) - 1
    codes = binary_codes(base, "id", "v", dim=dim).select(
        F.col("vec_id").alias("id"), "w0", "w1"
    )
    # all n_slices bucket tables in ONE self-join keyed on (slice,
    # bucket) instead of a UNION of per-slice self-joins: identical
    # pair multiset (pairs within bucket v of slice s either way), but
    # one join + one exchange pair where there were n_slices of each —
    # guide §2.4 "remove shuffles outright" applied to the seed
    # (r15 optimization round; the union form also quadrupled the
    # plan's scan subtree under AQE).
    slice_cols = []
    for s in range(int(n_slices)):
        word, off = ("w0", s * b) if s * b < 32 else ("w1", s * b - 32)
        slice_cols.append(
            (F.shiftright(F.col(word), off).bitwiseAND(F.lit(mask)))
            .cast("int")
        )
    sliced = codes.select(
        "id", F.posexplode(F.array(*slice_cols)).alias("s", "bkt")
    )
    seed_pairs = (
        sliced.select("s", "bkt", F.col("id").alias("a_id"))
        .join(
            sliced.select("s", "bkt", F.col("id").alias("b_id")),
            ["s", "bkt"],
        )
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
    )
    seed = (
        seed_pairs.distinct()
        .join(va, "a_id")
        .join(vb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                cosine_from_norms(
                    F.col("av"), F.col("bv"), F.col("an"), F.col("bn")
                ),
                rank_round_dp,
            ).alias("sim"),
        )
    )
    edges = g.cut(
        top_k_per_group(
            seed,
            ["a_id"],
            [F.col("sim").desc(), F.col("b_id").asc()],
            build_degree,
        ).drop("rn")
    )

    for _ in range(int(iters)):
        und = edges.select("a_id", "b_id").unionByName(
            edges.select(
                F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id")
            )
        ).distinct()
        cand = (
            und.select(F.col("a_id").alias("via"), F.col("b_id").alias("u"))
            .join(
                und.select(
                    F.col("a_id").alias("via"), F.col("b_id").alias("w")
                ),
                "via",
            )
            .filter(F.col("u") != F.col("w"))
            .select(F.col("u").alias("a_id"), F.col("w").alias("b_id"))
            .distinct()
            .join(edges.select("a_id", "b_id"), ["a_id", "b_id"], "left_anti")
        )
        fresh = (
            cand.join(va, "a_id")
            .join(vb, "b_id")
            .select(
                "a_id",
                "b_id",
                F.round(
                    cosine_from_norms(
                        F.col("av"), F.col("bv"), F.col("an"), F.col("bn")
                    ),
                    rank_round_dp,
                ).alias("sim"),
            )
        )
        edges = g.cut(
            top_k_per_group(
                edges.unionByName(fresh),
                ["a_id"],
                [F.col("sim").desc(), F.col("b_id").asc()],
                build_degree,
            ).drop("rn")
        )

    # final cut: wide internal lists truncate to the requested degree
    return top_k_per_group(
        edges,
        ["a_id"],
        [F.col("sim").desc(), F.col("b_id").asc()],
        degree,
        rank_col="rank",
    ).withColumn("rank", F.col("rank").cast("int"))


def nn_descent_insert(
    corpus: DataFrame,
    batch: DataFrame,
    edges: DataFrame,
    id_col: str,
    vec_col: str,
    degree: int = 8,
    bucket_bits: int = 4,
    n_slices: int = 4,
    build_degree: int | None = None,
    dim: int = 64,
    rank_round_dp: int = 6,
) -> DataFrame:
    """INCREMENTAL kNN-graph maintenance — the operational half of
    K48, exactly what :func:`ivf_assign_batch` +
    :func:`moment_drift_trigger` are to IVF (K50): a new ingest
    batch joins the STORED NN-descent graph without a full rebuild
    and without re-scanning history beyond the touched
    neighborhoods.

    Inputs: ``corpus`` (the stored vectors), ``batch`` (new rows —
    ids MUST be disjoint from the corpus; pytest-pinned
    precondition), ``edges`` = the stored graph over the corpus
    (``(a_id, b_id, sim)`` — :func:`nn_descent_graph` output).

    Steps, all relational:

    1. code the batch with :func:`binary_codes_frozen` against the
       CORPUS thresholds — buckets stay bit-consistent with the
       stored code table, no history re-coding (the K50 frozen-
       quantizer discipline);
    2. seed: per bit-slice table, bucket-join the batch against
       corpus ∪ batch; score; BOTH orientations enter (a new node
       gets a list; its bucket partners get it as a CANDIDATE — the
       reverse-edge half NN-descent needs);
    3. merge: per-node top-``build_degree`` of stored ∪ seed edges;
    4. ONE refinement round CLOSED OVER THE NEW INFORMATION:
       candidate pairs (u, w) sharing a neighbor v where u, w or v
       is new — old-old pairs first connected THROUGH a new via are
       exactly the improvements a full rebuild would find this
       round; pure old-via-old triples are already converged and
       skipped (that is the whole cost story);
    5. emit per-node top-``degree`` — ``(a_id, b_id, sim, rank)``
       over corpus ∪ batch.

    Monotone law (pytest-pinned): candidates only ADD, so every
    node's sorted similarity list weakly dominates its stored list —
    an insert can only improve the graph. Update-vs-rebuild edge
    agreement on the fixture is pinned too.

    Scale shape: batch-side bucket joins (|B|·bucket-size·slices
    pairs), one window over touched nodes, one refinement round
    bounded by the touched neighborhoods' deg² — cost scales with
    |batch|·degree², NOT |corpus|: daily ingest never rebuilds.
    """
    if degree < 1:
        raise ValueError("degree must be >= 1")
    if build_degree is None:
        build_degree = 2 * degree
    if build_degree < degree:
        raise ValueError("build_degree must be >= degree")
    _validate_slice_layout(n_slices, bucket_bits)
    b = int(bucket_bits)
    mask = (1 << b) - 1

    c_base = corpus.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    )
    b_base = batch.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    )
    # fail-loud disjointness guard: a batch id already in the corpus
    # would silently produce two competing lists for one node (the
    # zonemaps shard-id discipline — poison rows evaluate only when
    # an overlap exists, so the plan stays lazy and overlap-free runs
    # pay one cheap semi-join)
    poison = (
        b_base.join(c_base.select("id"), "id", "left_semi")
        .select(
            F.expr(
                "raise_error(concat('nn_descent_insert: batch id ', "
                "cast(id as string), ' already exists in the corpus — "
                "inserts must be disjoint (dedup or re-key upstream)'))"
            ).cast("long").alias("id"),
            F.col("v"),
        )
    )
    all_base = c_base.unionByName(b_base).unionByName(poison)
    # per-row norms, not per-pair (cosine_from_norms doc)
    va = all_base.select(
        F.col("id").alias("a_id"),
        F.col("v").alias("av"),
        norm(F.col("v")).alias("an"),
    )
    vb = all_base.select(
        F.col("id").alias("b_id"),
        F.col("v").alias("bv"),
        norm(F.col("v")).alias("bn"),
    )

    c_codes = binary_codes(c_base, "id", "v", dim=dim)
    b_codes = binary_codes_frozen(b_base, "id", "v", c_base, dim=dim)
    all_codes = c_codes.unionByName(b_codes).select(
        F.col("vec_id").alias("id"), "w0", "w1"
    )
    new_codes = b_codes.select(F.col("vec_id").alias("id"), "w0", "w1")

    # one batch-vs-all join keyed on (slice, bucket) instead of a
    # per-slice union — the nn_descent_graph seed treatment (identical
    # pair multiset, one exchange pair instead of n_slices)
    slice_cols = []
    for s in range(int(n_slices)):
        word, off = ("w0", s * b) if s * b < 32 else ("w1", s * b - 32)
        slice_cols.append(
            (F.shiftright(F.col(word), off).bitwiseAND(F.lit(mask)))
            .cast("int")
        )
    sl = F.posexplode(F.array(*slice_cols)).alias("s", "bkt")
    nb = new_codes.select(F.col("id").alias("a_id"), sl)
    ab = all_codes.select(F.col("id").alias("b_id"), sl)
    seed_pairs = (
        nb.join(ab, ["s", "bkt"])
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
    )
    # both orientations: the new node's list AND its partners' lists
    seed_pairs = seed_pairs.unionByName(
        seed_pairs.select(
            F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id")
        )
    ).distinct()
    seeds = (
        seed_pairs.join(va, "a_id")
        .join(vb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                cosine_from_norms(
                    F.col("av"), F.col("bv"), F.col("an"), F.col("bn")
                ),
                rank_round_dp,
            ).alias("sim"),
        )
    )
    g1 = top_k_per_group(
        edges.select("a_id", "b_id", "sim").unionByName(seeds),
        ["a_id"],
        [F.col("sim").desc(), F.col("b_id").asc()],
        build_degree,
    ).drop("rn").localCheckpoint(eager=True)

    new_ids = b_base.select(F.col("id"))
    und = g1.select("a_id", "b_id").unionByName(
        g1.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    ).distinct()
    # tag newness once on the undirected list: a candidate pair needs
    # u, w or the shared via to be new
    und_t = (
        und.join(
            new_ids.select(F.col("id").alias("a_id")).withColumn(
                "__via_new", F.lit(True)
            ),
            "a_id",
            "left",
        )
        .join(
            new_ids.select(F.col("id").alias("b_id")).withColumn(
                "__end_new", F.lit(True)
            ),
            "b_id",
            "left",
        )
        .select(
            F.col("a_id").alias("via"),
            F.col("b_id").alias("u"),
            F.coalesce(F.col("__via_new"), F.lit(False)).alias("via_new"),
            F.coalesce(F.col("__end_new"), F.lit(False)).alias("u_new"),
        )
    )
    cand = (
        und_t.join(
            und_t.select(
                F.col("via"),
                F.col("u").alias("w"),
                F.col("u_new").alias("w_new"),
            ),
            "via",
        )
        .filter(
            (F.col("u") != F.col("w"))
            & (F.col("u_new") | F.col("w_new") | F.col("via_new"))
        )
        .select(F.col("u").alias("a_id"), F.col("w").alias("b_id"))
        .distinct()
        .join(g1.select("a_id", "b_id"), ["a_id", "b_id"], "left_anti")
    )
    fresh = (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                cosine_from_norms(
                    F.col("av"), F.col("bv"), F.col("an"), F.col("bn")
                ),
                rank_round_dp,
            ).alias("sim"),
        )
    )
    g2 = top_k_per_group(
        g1.unionByName(fresh),
        ["a_id"],
        [F.col("sim").desc(), F.col("b_id").asc()],
        build_degree,
    ).drop("rn")
    return top_k_per_group(
        g2,
        ["a_id"],
        [F.col("sim").desc(), F.col("b_id").asc()],
        degree,
        rank_col="rank",
    ).withColumn("rank", F.col("rank").cast("int"))


# ----------------------------------------------------- OPQ (round 13)


def opq_fit(
    df: DataFrame,
    vec_col: str,
    dim: int,
    m: int,
    max_component: float = 2.0,
):
    """Parametric OPQ rotation (Ge, He, Ke & Sun, CVPR 2013 —
    "Optimized Product Quantization", the non-iterative OPQ_P
    solution): PCA-rotate the space, then allocate the principal axes
    to the ``m`` PQ subspaces balancing the PRODUCT of eigenvalues
    per subspace (§4 of the paper: PQ's quantization error is
    minimized when subspace variances are balanced, and the product
    is the right balance target because each subspace's optimal
    rate-distortion cost goes with the geometric mean of its
    variances). Completes the K47→K23 chain exactly as designed: the
    cluster aggregates integer Gram statistics (gram_matrix), the
    driver eigendecomposes d×d (pca_fit — the IVF-centroid
    bounded-collect contract), and the allocation is a greedy fold
    over d eigenvalues — largest first, into the subspace with the
    smallest log-product AMONG THE LEAST-FILLED open subspaces (ties
    to the lower subspace id — deterministic). The count-first
    refinement matters: the paper's bare min-product greedy is
    scale-sensitive — with eigenvalues < 1 every assignment LOWERS
    the receiving bucket's product, so the greedy piles all strong
    axes into one subspace (concentration, the opposite of the
    balance it exists for; measured 1.8× WORSE distortion than plain
    PQ on a redundant-dims fixture, vs 1.8× better once counts fill
    evenly). Filling counts evenly first makes the comparison
    scale-invariant between buckets of equal size, which is the only
    comparison the balance objective defines.

    Returns ``(means, rotation, allocation)``: per-dim means, the
    (dim × dim) row-orthonormal rotation whose rows are the PCA axes
    in subspace-gather order (rows s·d/m … (s+1)·d/m −1 belong to
    subspace s), and the axis-index allocation per subspace.
    Feed to :func:`opq_rotate` / :func:`opq_encode`: the rotation
    inlines as codegen literals (pca_project), so rotating the corpus
    is a pure scan-side map — zero shuffle, zero Python — and the PQ
    codes are trained/assigned in the rotated space where the
    subspace variances are balanced.
    """
    import numpy as np

    from jane_spark.operators.profile import pca_fit

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_d = dim // m
    means, comps, evals = pca_fit(
        df, vec_col, dim=dim, k=dim, max_component=max_component,
        scale_log10=None,  # auto-select for the corpus size (r13)
    )
    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = [0.0] * m
    for i in range(dim):  # evals are descending from pca_fit
        open_b = [b for b in range(m) if len(buckets[b]) < sub_d]
        least = min(len(buckets[b]) for b in open_b)
        open_b = [b for b in open_b if len(buckets[b]) == least]
        b = min(open_b, key=lambda x: (logs[x], x))
        buckets[b].append(i)
        logs[b] += float(np.log(max(float(evals[i]), 1e-30)))
    perm = [i for bucket in buckets for i in bucket]
    rotation = np.asarray(comps)[perm]
    return means, rotation, buckets


def opq2_block_rotate(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    max_component: float = 2.0,
    round_dp: int = 6,
) -> DataFrame:
    """OPQ with 2-DIMENSIONAL subspace blocks — the member of the
    K49 family whose EIGENDECOMPOSITION is closed-form and therefore
    hash-checkable end to end (VERDICT r13 #5): general-d OPQ
    (q_k49_opq) needs a driver-side numpy eigh with no SQL twin, but
    a 2×2 symmetric covariance [[a, b], [b, d]] diagonalizes by
    trace/determinant arithmetic alone::

        λmax = (a + d)/2 + sqrt(((a − d)/2)² + b²)
        vmax ∝ (b, λmax − a)            (b ≠ 0)

    so the ROTATION ITSELF — not just the dimension permutation —
    carries a driver hash.

    Per consecutive dim pair (2j+1, 2j+2): covariance numerators are
    EXACT integers from e6-quantized components (a = n·Σx² − (Σx)²,
    b = n·Σxy − Σx·Σy — the gram_matrix/K31 discipline, accumulated
    in DECIMAL(38,0)); each block's principal axis comes from the
    closed form, sign-canonicalized (first component |b| ≥ 0; for
    b = 0 the axes are already uncorrelated and the rotation is the
    identity or the swap by variance order); centered coordinates
    rotate into (r1, r2) with r1 the max-variance axis — the energy
    compaction PQ wants, per block.

    DETERMINISM ARGUMENT (why the hashed surface is safe where
    general transcendentals are not): every input to the float stage
    is an exact integer cast ONCE to double (round-to-nearest, both
    engines identical), and every subsequent op — +, −, ×, /, sqrt —
    is IEEE-754 EXACT-ROUNDED (sqrt is, unlike exp/log/trig which
    are libm-approximated). With the same parenthesization on both
    sides, the doubles are BIT-IDENTICAL across engines, so the
    6-dp rounding cannot land on a cross-engine tie by construction.

    Emits ``(id, block, r1, r2)``. Plan: ONE map-side-combinable
    aggregate (5·dim/2 + 1 cells — never data-sized); the closed
    form itself evaluates on the ONE-row stats frame (its expression
    tree is deep — lam/nrm re-expand ~8× per output — and inlining
    it into the per-row projection pushed the scan off whole-stage
    codegen into interpreted eval, measured 3.2 s → 0.1 s on the
    sf0.1 fixture), then broadcasts the resulting (c, s, mx, my)
    scalars into a small-expression codegen projection — no shuffle
    of data rows, no Python, no driver collect.
    """
    if dim < 2 or dim % 2 != 0:
        raise ValueError("opq2_block_rotate needs an even dim >= 2")
    m = dim // 2
    mc = float(max_component)

    def q(i: int) -> str:
        # guarded e6 quantization (the gram_matrix discipline):
        # NULL / out-of-range components fail loudly, not skew
        return (
            f"CASE WHEN element_at({vec_col}, {i}) IS NULL "
            f"OR abs(cast(element_at({vec_col}, {i}) as double)) > {mc} "
            f"THEN raise_error(concat('opq2_block_rotate: component "
            f"{i} NULL or outside [-{mc}, {mc}] for id ', "
            f"cast({id_col} as string))) "
            f"ELSE cast(round(cast(element_at({vec_col}, {i}) "
            f"as double) * 1000000, 0) as decimal(38,0)) END"
        )

    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for j in range(m):
        x, y = 2 * j + 1, 2 * j + 2
        aggs += [
            F.sum(F.expr(q(x))).alias(f"sx_{j}"),
            F.sum(F.expr(q(y))).alias(f"sy_{j}"),
            F.sum(F.expr(f"({q(x)}) * ({q(x)})")).alias(f"sxx_{j}"),
            F.sum(F.expr(f"({q(y)}) * ({q(y)})")).alias(f"syy_{j}"),
            F.sum(F.expr(f"({q(x)}) * ({q(y)})")).alias(f"sxy_{j}"),
        ]
    stats = df.agg(*aggs)

    # evaluate the closed form ONCE on the 1-row stats frame — the
    # expression tree is deep (lam/nrm re-expand); keeping it off the
    # data-sized projection keeps the scan inside whole-stage codegen
    rot_cols = []
    for j in range(m):
        # exact-integer covariance numerators, then ONE cast to double
        a = f"cast(n * sxx_{j} - sx_{j} * sx_{j} as double)"
        d0 = f"cast(n * syy_{j} - sy_{j} * sy_{j} as double)"
        b = f"cast(n * sxy_{j} - sx_{j} * sy_{j} as double)"
        lam = f"(({a}) + ({d0})) / 2 + sqrt(((({a}) - ({d0})) / 2) * ((({a}) - ({d0})) / 2) + ({b}) * ({b}))"
        nrm = f"sqrt(({b}) * ({b}) + (({lam}) - ({a})) * (({lam}) - ({a})))"
        c_e = (
            f"CASE WHEN ({b}) = 0 THEN "
            f"(CASE WHEN ({a}) >= ({d0}) THEN 1.0D ELSE 0.0D END) "
            f"ELSE abs({b}) / ({nrm}) END"
        )
        s_e = (
            f"CASE WHEN ({b}) = 0 THEN "
            f"(CASE WHEN ({a}) >= ({d0}) THEN 0.0D ELSE 1.0D END) "
            f"ELSE (CASE WHEN ({b}) > 0 THEN 1.0D ELSE -1.0D END) "
            f"* (({lam}) - ({a})) / ({nrm}) END"
        )
        mx = f"(cast(sx_{j} as double) / cast(n as double)) / 1000000"
        my = f"(cast(sy_{j} as double) / cast(n as double)) / 1000000"
        rot_cols += [
            F.expr(c_e).alias(f"c_{j}"),
            F.expr(s_e).alias(f"s_{j}"),
            F.expr(mx).alias(f"mx_{j}"),
            F.expr(my).alias(f"my_{j}"),
        ]
    # NO checkpoint: the broadcast exchange materializes this 1-row
    # build side once per execution — the plan stays fully lazy (the
    # deep exprs never reach the probe-side codegen; projections do
    # not collapse across a join)
    rot = stats.select(*rot_cols)

    rows = []
    for j in range(m):
        x, y = 2 * j + 1, 2 * j + 2
        xc = f"(cast(element_at({vec_col}, {x}) as double) - mx_{j})"
        yc = f"(cast(element_at({vec_col}, {y}) as double) - my_{j})"
        rows.append(
            f"{j}, round(c_{j} * ({xc}) + s_{j} * ({yc}), "
            f"{round_dp}), round(-s_{j} * ({xc}) + c_{j} * ({yc}), "
            f"{round_dp})"
        )
    return (
        df.select(F.col(id_col).alias("id"), F.col(vec_col))
        .crossJoin(F.broadcast(rot))
        .select(
            F.col("id"),
            F.expr(
                f"stack({m}, " + ", ".join(rows) + ") AS (block, r1, r2)"
            ),
        )
        .select(
            F.col("id"),
            F.col("block").cast("int").alias("block"),
            F.col("r1").cast("double").alias("r1"),
            F.col("r2").cast("double").alias("r2"),
        )
    )


def opq_rotate(
    df: DataFrame,
    vec_col: str,
    means,
    rotation,
    out_col: str = "__rot",
) -> DataFrame:
    """Apply an :func:`opq_fit` rotation: appends ``out_col`` =
    (v − means) · Rᵀ as inlined literal expressions (pca_project —
    whole-stage codegen, zero shuffle; the rotation is d×d driver
    floats at any corpus size)."""
    from jane_spark.operators.profile import pca_project

    return pca_project(df, vec_col, means, rotation, out_col)


def opq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    max_component: float = 2.0,
) -> DataFrame:
    """Rotated product quantization codes: OPQ_P rotation
    (:func:`opq_fit`) then the proven deterministic PQ trainer
    (:func:`pq_encode`) over the rotated vectors. Same output shape
    as pq_encode — (id, code_0..code_{m−1}) small integers; the
    rotation costs ONE extra projection on the scan, nothing at
    search time (ADC tables are built in rotated space too)."""
    means, rotation, _ = opq_fit(df, vec_col, dim, m, max_component)
    rot = opq_rotate(
        df.select(F.col(id_col), F.col(vec_col)), vec_col, means, rotation
    )
    # checkpoint the rotated vectors: the d×d literal rotation (d²
    # multiply-adds per row AND a d²-term expression Catalyst
    # re-analyzes per job) would otherwise re-run under every PQ
    # training job (guide §5; r15).
    return pq_encode(
        rot.localCheckpoint(eager=False), id_col, "__rot", dim, m, k, iters
    )


def opq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    k_top: int = 5,
    round_dp: int = 6,
    max_component: float = 2.0,
) -> DataFrame:
    """ADC top-k in the OPQ-rotated space: rotation is orthonormal,
    so rotated squared-L2 equals original squared-L2 exactly — the
    ADC approximation just gets a better codebook fit (balanced
    subspace variances). Corpus and queries rotate with the SAME
    (means, R); everything downstream is the proven pq_adc_topk
    lookup-sum-rank chain."""
    means, rotation, _ = opq_fit(vectors, vec_col, dim, m, max_component)
    rv = opq_rotate(
        vectors.select(F.col(id_col), F.col(vec_col)),
        vec_col, means, rotation,
    )
    rq = opq_rotate(
        queries.select(F.col(id_col), F.col(vec_col)),
        vec_col, means, rotation,
    )
    return pq_adc_topk(
        rv, rq, id_col, "__rot", dim, m, k, iters, k_top, round_dp
    )


def dim_variance_permutation(
    df: DataFrame, vec_col: str, dim: int, m: int
) -> list[int]:
    """The ORACLE-EXPRESSIBLE half of OPQ's allocation idea: balance
    subspace variances by PERMUTING the ORIGINAL dimensions (no
    rotation mixing — the "free" structured reordering PQ papers use
    as the baseline between natural order and learned rotation).
    Per-dim variances come from the gram_matrix integer discipline
    (e6-quantized components, exact integer var_num = n·Σq² − (Σq)²
    computed in arbitrary-precision Python after one map-side-
    combinable aggregate), dims rank by (var_num DESC, dim ASC), and
    a SERPENTINE deal (0,1,…,m−1,m−1,…,1,0,…) hands them to
    subspaces — the closed-form greedy that pairs high-variance dims
    with low-variance dims, expressible as pure arithmetic on the
    rank in ANY engine (the DuckDB twin replays it in HUGEINT).

    Returns the gather order as 1-based source-dim indices: entry
    ``s·(dim/m) + j`` is the j-th dim of subspace s (within-subspace
    order = rank order). One aggregate row (2·dim+1 BIGINT cells)
    crosses the driver — the bounded-collect contract.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    qs = [
        F.round(
            F.element_at(F.col(vec_col), i).cast("double") * 1_000_000, 0
        ).cast("bigint").alias(f"__q_{i}")
        for i in range(1, dim + 1)
    ]
    base = df.select(*qs)
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(1, dim + 1):
        aggs.append(
            F.sum(F.col(f"__q_{i}").cast("decimal(38,0)")).alias(f"sx_{i}")
        )
        aggs.append(
            F.sum(
                F.col(f"__q_{i}").cast("decimal(38,0)")
                * F.col(f"__q_{i}").cast("decimal(38,0)")
            ).alias(f"sxx_{i}")
        )
    row = base.agg(*aggs).collect()[0]
    n = int(row["n"])
    if n == 0:
        raise ValueError("dim_variance_permutation: empty input")
    ranked = sorted(
        range(1, dim + 1),
        key=lambda i: (
            -(n * int(row[f"sxx_{i}"]) - int(row[f"sx_{i}"]) ** 2),
            i,
        ),
    )
    sub_d = dim // m
    buckets: list[list[int]] = [[] for _ in range(m)]
    for r, d in enumerate(ranked):
        blk, pos = divmod(r, m)
        s = pos if blk % 2 == 0 else m - 1 - pos
        buckets[s].append(d)
    assert all(len(b) == sub_d for b in buckets)
    return [d for b in buckets for d in b]


def dimperm_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
) -> DataFrame:
    """PQ codes over the variance-balanced dimension permutation
    (:func:`dim_variance_permutation`) — OPQ's allocation step
    without the eigen-rotation, fully oracle-expressible: the gather
    is a pure projection (element_at literals), then the proven
    deterministic PQ trainer runs on the permuted layout. Output
    (id, code_0..code_{m−1})."""
    perm = dim_variance_permutation(df, vec_col, dim, m)
    gathered = df.select(
        F.col(id_col),
        F.array(
            *[F.element_at(F.col(vec_col), d) for d in perm]
        ).alias("__g"),
    )
    # checkpoint the gathered layout so the PQ training collects read
    # it instead of re-projecting the scan per job (guide §5; r15)
    return pq_encode(
        gathered.localCheckpoint(eager=False), id_col, "__g", dim, m, k,
        iters,
    )


# ---------------------------------- IVF incremental maintenance (r13)


def ivf_assign_batch(
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    probe_round_dp: int | None = None,
) -> DataFrame:
    """Assign a NEW ingest batch to EXISTING IVF centroids WITHOUT
    retraining — the operational half of IVF at 100 TB: the coarse
    quantizer trains once (``kmeans_fit``, as ``ivf_topk`` does), new
    data streams in daily, and re-running Lloyd over the full corpus
    per batch would re-scan history for nothing. Assignment is the
    same broadcast-centroid argmax the trained path uses (ONE
    projection per batch row against n_lists × d literal floats, no
    shuffle, no driver state), so incremental lists stay EXACTLY
    consistent with the stored corpus lists — a batch row lands where
    a full re-assignment would put it. Whether the frozen quantizer
    is still FIT for the incoming distribution is a separate,
    measured question: :func:`moment_drift_trigger`."""
    return _assign_lists(
        batch, id_col, vec_col, centroids, n_probe=1,
        probe_round_dp=probe_round_dp,
    ).select(F.col(id_col), F.col("list_id").cast("int").alias("list_id"))


def moment_drift_trigger(
    old_df: DataFrame,
    new_df: DataFrame,
    vec_col: str,
    dim: int,
    tau_num: int = 1,
    tau_den: int = 2,
) -> DataFrame:
    """Per-dimension MEAN-SHIFT drift test deciding when the frozen
    IVF/PQ quantizer needs retraining — the K31 embedding-moments
    idea turned into a decision rule, exact-integer end to end: a
    dimension has drifted when |mean_new − mean_old| > τ·σ_old with
    τ = tau_num/tau_den. Components are e6-quantized BEFORE any sum
    (the gram_matrix/K31 discipline) and each side's per-dim
    (Σq, Σq²) ACCUMULATE IN DECIMAL(38,0) from ONE
    map-side-combinable aggregate per frame (2·dim+1 cells — never
    data-sized): a plain BIGINT sum would silently wrap past ~2.3e6
    rows per side at e6 quantization and flip the retrain verdict
    without an error (ADVICE r13 — the same fix
    dim_variance_permutation already carries). The test
    cross-multiplies to clear every division::

        tau_den² · (Σq_new·n_old − Σq_old·n_new)²
            > tau_num² · n_new² · (n_old·Σq²_old − (Σq_old)²)

    evaluated in DECIMAL(38,0) (the squared term reaches ~1e26 at
    fixture scale; int64 would wrap) — bit-identical in any engine,
    so the retrain decision itself is hash-checkable. Emits one row
    per dimension: ``(dim, n_old, n_new, drifted)``; the caller's
    retrain signal is ``any(drifted)``.

    Plan: two scans (old, new), two 1-row aggregates, one stack to
    |dim| rows, one broadcast-sized join — the decision costs less
    than one list assignment pass.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if tau_num < 0 or tau_den <= 0:
        raise ValueError("tau must be a non-negative rational")

    def side(df: DataFrame, tag: str) -> DataFrame:
        qs = [
            F.round(
                F.element_at(F.col(vec_col), i).cast("double") * 1_000_000,
                0,
            ).cast("bigint").alias(f"__q_{i}")
            for i in range(1, dim + 1)
        ]
        aggs = [F.count(F.lit(1)).alias("n")]
        dec_in = "decimal(38,0)"
        for i in range(1, dim + 1):
            # accumulate in DECIMAL(38,0): BIGINT sums wrap silently
            # (non-ANSI Spark) past ~2.3e6 rows/side at e6 scale
            aggs.append(
                F.sum(F.col(f"__q_{i}").cast(dec_in)).alias(f"sx_{i}")
            )
            aggs.append(
                F.sum(
                    F.col(f"__q_{i}").cast(dec_in)
                    * F.col(f"__q_{i}").cast(dec_in)
                ).alias(f"sxx_{i}")
            )
        wide = df.select(*qs).agg(*aggs)
        branches = ", ".join(
            f"{i}, sx_{i}, sxx_{i}" for i in range(1, dim + 1)
        )
        return wide.select(
            F.col("n").alias(f"n_{tag}"),
            F.expr(
                f"stack({dim}, {branches}) AS "
                f"(dim, sx_{tag}, sxx_{tag})"
            ),
        )

    o = side(old_df, "old")
    nw = side(new_df, "new")
    j = o.join(nw, "dim")
    dec = "decimal(38,0)"
    diff = (
        F.col("sx_new").cast(dec) * F.col("n_old").cast(dec)
        - F.col("sx_old").cast(dec) * F.col("n_new").cast(dec)
    )
    var_num = (
        F.col("n_old").cast(dec) * F.col("sxx_old").cast(dec)
        - F.col("sx_old").cast(dec) * F.col("sx_old").cast(dec)
    )
    drifted = (
        F.lit(tau_den * tau_den).cast(dec) * diff * diff
        > F.lit(tau_num * tau_num).cast(dec)
        * F.col("n_new").cast(dec) * F.col("n_new").cast(dec) * var_num
    )
    return j.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n_old").cast("bigint").alias("n_old"),
        F.col("n_new").cast("bigint").alias("n_new"),
        drifted.alias("drifted"),
    )
