"""Measurement phase of each workload: correctness checks, the timed
window, and the metrics computed from it."""

from __future__ import annotations

import os
import time
from collections import defaultdict
from statistics import median

import numpy as np

from perfbench.common import StageCounters

SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_failures", "executor_run_s",
                  "executor_cpu_s", "shuffle_read_mb", "shuffle_write_mb")


def hd_quantile(xs, q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a mean of all order
    statistics weighted by the Beta((n+1)q, (n+1)(1-q)) mass of their
    rank interval (the Beta CDF integrated on a fine grid). On a few
    samples of a mix with gaps between endpoints or stages it moves
    smoothly, where a plain order statistic jumps from one cluster to
    the next."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    grid = np.linspace(0.0, 1.0, 20001)
    mid = (grid[1:] + grid[:-1]) / 2
    cdf = np.concatenate([[0.0], np.cumsum(np.exp((a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)))])
    edges = np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1])
    return float(np.diff(edges) @ x)


def _spark_layers(c: dict, n_ops: int) -> dict:
    out = {f"spark.{k}": c[k] / n_ops for k in SPARK_COUNTERS}
    out["driver.gap_s"] = c["gap_s"] / n_ops
    return out


def paired_overhead(tracer, ops) -> float:
    """Tracing overhead as (traced - untraced) / untraced time over
    ``ops``, zero-argument callables each run once with the span
    recorders removed and once with them installed, the order
    alternating. Runs after the measured window, so both runs of an op
    are warm; noise can make it slightly negative."""
    t = {False: 0.0, True: 0.0}
    for j, op in enumerate(ops):
        for traced in (False, True) if j % 2 == 0 else (True, False):
            if traced:
                tracer.install()
            else:
                tracer.uninstall()
            t0 = time.perf_counter()
            op()
            t[traced] += time.perf_counter() - t0
    tracer.uninstall()
    return t[True] / t[False] - 1


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def measure_serve(wl, spark, seconds: float, tracer) -> dict:
    from perfbench.gen import ENDPOINT_CYCLE
    from perfbench.serve import SERIALIZERS, cycles_for, run_clients

    t0 = time.perf_counter()
    wl.ingest_delta()
    t1 = time.perf_counter()
    attempted, failed = wl.check_index()
    bad: list = [] if failed == 0 else [f"index: {failed} of {attempted} channels"]

    # one untimed cycle, with parameter sets the window does not send
    t2 = time.perf_counter()
    warm = run_clients(wl, wl.warmup_logs, 1)
    t3 = time.perf_counter()
    counters = StageCounters(spark) if tracer is not None else None
    if counters is not None:
        counters.mark()
        since = len(tracer.spans)
    t0w = time.time()
    res = run_clients(wl, wl.logs, cycles_for(seconds), on_request=tracer.request if tracer is not None else None)
    t1w = time.time()
    recs = res["records"]
    attempted += len(warm["records"]) + len(recs)
    failed += warm["failed"] + res["failed"]
    lat = sorted(r[2] for r in recs)
    e2e = {
        "ok_frac": (attempted - failed) / attempted,
        "op_p50_ms": hd_quantile(lat, 0.5) * 1e3,
        "op_p95_ms": hd_quantile(lat, 0.95) * 1e3,
        # closed-loop throughput, clients / mean latency: the window's
        # wall time would add the last client's idle tail
        "ops_per_s": wl.clients * len(recs) / sum(lat),
    }
    samples = {"requests": len(recs), "beyond_p95": sum(x * 1e3 > e2e["op_p95_ms"] for x in lat),
               "clients": wl.clients, "window_s": round(res["wall"], 3),
               "repeat_share": round(res["repeat_share"], 4),
               "query_repeat_share": round(res["query_repeat_share"], 4),
               "warmup_requests": len(warm["records"]),
               "reindexed_files": wl.facts["reindexed_files"],
               "delta_s": round(t1 - t0, 3), "check_index_s": round(t2 - t1, 3),
               "warmup_s": round(t3 - t2, 3),
               "endpoint_ms": {ep: sorted(round(r[2] * 1e3) for r in recs if r[5] == ep)
                               for ep in ENDPOINT_CYCLE},
               "failed_templates": bad + sorted(set(warm["failed_templates"] + res["failed_templates"]))}
    layers: dict = {}
    if tracer is not None:
        n = len(recs)
        c = counters.read(t0w, t1w)
        layers.update(_spark_layers(c, n))
        results = sum(len(wl.expected[r[1]]) for r in recs)
        layers["services.scan_rows_per_result"] = c["input_records"] / max(results, 1)
        layers["spark.input_mb"] = c["input_mb"] / n

        def bucket(name: str, layer: str):
            if layer == "services":
                return "serialize" if name.rsplit(".", 1)[-1] in SERIALIZERS else "build"
            return {"plans": "compile", "spark": "exec"}.get(layer)

        per = tracer.self_times(since, bucket)
        tot = defaultdict(float)
        for rid, b in per.items():
            if rid is not None:
                for k, v in b.items():
                    tot[k] += v
        layers["plans.compile_ms"] = tot["compile"] / n * 1e3
        layers["services.build_ms"] = tot["build"] / n * 1e3
        layers["services.exec_ms"] = tot["exec"] / n * 1e3
        layers["services.serialize_ms"] = tot["serialize"] / n * 1e3
        ph = defaultdict(float)
        for rid, d in tracer.phase_ms.items():
            if rid is not None:
                for k, v in d.items():
                    ph[k] += v
        for k in ("analysis", "optimization", "planning"):
            layers[f"spark.{k}_ms"] = ph[k] / n
        by_ep = defaultdict(list)
        for r in recs:
            by_ep[r[5]].append(r[2])
        for ep, xs in by_ep.items():
            layers[f"services.{ep}.ms"] = median(xs) * 1e3
        layers["services.response_kb"] = sum(r[4] for r in recs) / n / 1024
        f = wl.facts
        files, nbytes = _dir_files(f["store"])
        _, trace_bytes = _dir_files(os.path.join(f["store"], "index", "trace"))
        layers.update({
            # the data load's slice for throughput, the delta for freshness
            "sources.parse_exec_s": f["ingest_exec_s"][0],
            "sources.index_store.write_s": f["write_s"][0],
            "sources.index_store.files_written": files,
            "sources.index_store.bytes_written": nbytes,
            "streaming.batches": len(wl.progress),
            "streaming.batch_s": median([p["durationMs"].get("triggerExecution", 0) / 1e3
                                         for p in wl.progress]),
            "ingest.mb_per_s": f["ingest_mb"][0] / f["fresh_s"][0],
            "ingest.fresh_s": f["fresh_s"][-1],
            "ingest.index_bytes_per_trace": trace_bytes / len(wl.manifest),
        })
        # client 0's first pass: one request per endpoint
        probe = [wl.templates[i] for i in wl.logs[0][:len(ENDPOINT_CYCLE)]]
        layers["trace.overhead_frac"] = paired_overhead(
            tracer, [lambda ep=ep, p=p: wl.execute(ep, p) for ep, p in probe])
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed,
            "samples": samples}


def measure_curate(wl, spark, seconds: float, tracer) -> dict:
    from perfbench.curate import STAGES, passes_for

    counters = StageCounters(spark) if tracer is not None else None
    if counters is not None:
        counters.mark()
    t0w, t0 = time.time(), time.perf_counter()
    passes = []
    for k in range(passes_for(seconds)):
        passes.append(wl.run_pass(k))
    wall = time.perf_counter() - t0
    t1w = time.time()
    lat = sorted(s["total_s"] for p in passes for s in p["stages"].values())
    attempted = len(lat)
    failed = sum(not s["ok"] for p in passes for s in p["stages"].values())
    e2e = {
        "ok_frac": (attempted - failed) / attempted,
        "op_p50_ms": hd_quantile(lat, 0.5) * 1e3,
        "op_p95_ms": hd_quantile(lat, 0.95) * 1e3,
        "ops_per_s": len(lat) / wall,
    }
    samples = {"passes": len(passes), "stage_runs": len(lat),
               "pass_s": [round(sum(s["total_s"] for s in p["stages"].values()), 3)
                          for p in passes],
               "stage_s": [{st: round(s["total_s"], 3) for st, s in p["stages"].items()}
                           for p in passes]}
    layers: dict = {}
    if tracer is not None:
        n = len(passes)
        layers.update(_spark_layers(counters.read(t0w, t1w), n))
        for m in ("build_s", "build_jobs", "exec_s"):
            tot = 0.0
            for stage, _ in STAGES:
                v = sum(p["stages"][stage][m] for p in passes) / n
                layers[f"operators.{stage}.{m}"] = v
                tot += v
            layers[f"operators.{m}"] = tot
        layers["engine.ckpt.leaked_rdds"] = sum(p["leaked_rdds"] for p in passes) / n
        layers["trace.overhead_frac"] = paired_overhead(tracer, [wl.probe, wl.probe])
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed,
            "samples": samples}
