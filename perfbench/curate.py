"""``curate`` workload: one pass of build-bound curation and vector-index
operators, each run through its registered contract on a seeded input
with the sf-testdata schemas, timed from building the DataFrame to the
materialized result.

The stages cover the four loop shapes the operators use: a checkpointed
fixpoint (PageRank), a Lloyd training loop (k-means), a BPE merge loop,
and an execution-bound lazy plan (SemDeDup's within-cluster pair
search). Each result is hash-compared with the contract's DuckDB oracle
on the same input.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

from perfbench import gen

STAGES = (
    ("pagerank", "q_k27_pagerank"),
    ("kmeans", "q_k16_kmeans"),
    ("bpe_train", "q_k22_bpe_train"),
    ("semdedup", "q_k16_semdedup"),
)
TABLES = ("documents", "embeddings", "events")
# how long a cold pass takes on a 4-core box; a run makes
# round(--seconds / PASS_S) passes, at least one
PASS_S = 20.0


def passes_for(seconds: float) -> int:
    return max(1, round(seconds / PASS_S))


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def digest(rows) -> str:
    """Order-insensitive hash of result rows (floats to 9 places)."""
    canon = sorted(repr(tuple(_norm(v) for v in r)) for r in rows)
    return hashlib.sha1("\n".join(canon).encode()).hexdigest()


def oracle_digests(sf: str) -> dict:
    """Each stage contract's DuckDB oracle on the tables under ``sf``, as
    result digests."""
    import duckdb

    from jane_spark.contracts import REGISTRY

    con = duckdb.connect(config={"threads": 2})
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        return {name: digest(con.execute(REGISTRY[name].oracle).fetchall()) for _, name in STAGES}
    finally:
        con.close()


class Curate:
    # the stage run with and without the span recorders for
    # trace.overhead_frac
    PROBE_STAGE = "kmeans"

    def __init__(self, work: str, seed: int, size: dict, cache: str) -> None:
        from jane_spark.contracts import REGISTRY

        self.sf = os.path.join(work, "sf")
        self.rows = gen.curate_tables(self.sf, seed, size)
        os.makedirs(cache, exist_ok=True)
        # keyed by everything the digests depend on: seed, sizes, stages,
        # the oracle queries and the code that makes the input and digests
        key = hashlib.sha1(repr((seed, sorted(size.items()), STAGES,
                                 [REGISTRY[name].oracle for _, name in STAGES])).encode())
        for mod in (gen.__file__, __file__):
            with open(mod, "rb") as fh:
                key.update(fh.read())
        path = os.path.join(cache, f"curate-oracle-{key.hexdigest()[:16]}.json")
        if not os.path.exists(path):
            # in a process of its own, so DuckDB's threads and memory are
            # gone before the session starts
            subprocess.run([sys.executable, __file__, self.sf, path], check=True)
        with open(path) as fh:
            self.expected = json.load(fh)
        self.baseline_rdds: set[int] = set()

    def describe(self) -> dict:
        return {"rows": self.rows, "stages": [s for s, _ in STAGES]}

    def prepare(self, spark) -> None:
        """The cold start resolves the tables once, so the JVM's
        first-use class loading is counted in ``setup.first_s`` and each
        timed set-up runs in a warm JVM, as on serve."""
        self.setup(spark, -1)

    def setup(self, spark, rep: int) -> None:
        """Session set-up: the three tables are resolved in the engine's
        session catalog. Nothing is pinned: no stage reads a clustered
        copy."""
        from jane_spark.engine.catalog import Catalog
        from jane_spark.engine.ckpt import persistent_rdd_ids

        cat = Catalog(spark, self.sf)
        for t in TABLES:
            cat.table(t)
        self.spark = spark
        self.baseline_rdds = persistent_rdd_ids(spark)

    def run_pass(self, k: int) -> dict:
        """One pass over every stage. Returns per-stage timings, job
        counts and oracle agreement, and the checkpoint generations the
        pass left behind (which are then dropped)."""
        from jane_spark.contracts import REGISTRY
        from jane_spark.engine.ckpt import persistent_rdd_ids, unpersist_ids

        sc = self.spark.sparkContext
        out = {"stages": {}}
        for stage, name in STAGES:
            group = f"build-{stage}-{k}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            ok = True
            try:
                df = REGISTRY[name].spark_fn(self.spark, self.sf)
                t1 = time.perf_counter()
                sc.setJobGroup(f"exec-{stage}-{k}", stage)
                rows = df.collect()
                t2 = time.perf_counter()
                got = digest(rows)
            except Exception:  # a failing stage counts as failed
                t1 = t2 = time.perf_counter()
                got = None
            out["stages"][stage] = {
                "ok": got is not None and got == self.expected.get(name),
                "build_s": t1 - t0, "exec_s": t2 - t1, "total_s": t2 - t0,
                "build_jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            }
        sc.setJobGroup("perfbench", "perfbench")
        leaked = persistent_rdd_ids(self.spark) - self.baseline_rdds
        unpersist_ids(self.spark, leaked)
        out["leaked_rdds"] = len(leaked)
        return out

    def probe(self) -> None:
        """PROBE_STAGE once, its checkpoints dropped afterwards."""
        from jane_spark.contracts import REGISTRY
        from jane_spark.engine.ckpt import persistent_rdd_ids, unpersist_ids

        REGISTRY[dict(STAGES)[self.PROBE_STAGE]].spark_fn(self.spark, self.sf).collect()
        unpersist_ids(self.spark, persistent_rdd_ids(self.spark) - self.baseline_rdds)


if __name__ == "__main__":
    # python3 perfbench/curate.py SF_DIR OUT_JSON writes the oracle
    # digests (the checkout root must be on PYTHONPATH, as run.py sets it)
    digests = oracle_digests(sys.argv[1])
    with open(sys.argv[2] + ".tmp", "w") as fh:
        json.dump(digests, fh)
    os.replace(sys.argv[2] + ".tmp", sys.argv[2])
