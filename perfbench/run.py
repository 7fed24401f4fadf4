"""jane_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics with no instrumentation; ``--trace 1`` installs span recorders
around the program's layer functions and prints the per-layer metrics.
The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it describes
the box, the session and the inputs. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3


def metric_units(key: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics in
    BENCHMARK.json, the one list of the metrics the benchmark prints."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input scale; tiny is for the self-check")
    return ap.parse_args(argv)


def _isolate(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = (os.environ.get("SPARK_SUBMIT_OPTS", "") + " " + jvm).strip()
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " " + jvm).strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "jane_spark", "engine", "session.py")):
        print("perfbench: no jane_spark package here; run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(HERE))
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    cache = os.path.join(root, ".perfbench", "cache")
    os.makedirs(work, exist_ok=True)
    _isolate(root, work)

    from perfbench import gen
    from perfbench.common import Box, RssSampler, session_facts, shutdown, start_session

    box = Box()
    size = gen.SIZES[args.workload][args.size]
    spark = None
    try:
        # inputs and oracle results, before any memory or time is measured
        t = time.perf_counter()
        if args.workload == "serve":
            from perfbench.serve import Serve

            wl = Serve(work, args.seed, size, box.nproc)
        else:
            from perfbench.curate import Curate

            wl = Curate(work, args.seed, size, cache)
        gen_s = time.perf_counter() - t
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer()
            tracer.install()
            wl.tracer = tracer
        with RssSampler() as rss:
            # the cold start: JVM launch, first session, one-time data load
            t = time.perf_counter()
            spark = start_session(box.nproc)
            wl.prepare(spark)
            first_s = time.perf_counter() - t
            setup_s = []
            for rep in range(SETUP_REPS):
                spark.stop()
                t = time.perf_counter()
                spark = start_session(box.nproc)
                wl.setup(spark, rep)
                setup_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            if args.workload == "serve":
                from perfbench.measure import measure_serve

                res = measure_serve(wl, spark, args.seconds, tracer)
            else:
                from perfbench.measure import measure_curate

                res = measure_curate(wl, spark, args.seconds, tracer)
            facts = session_facts(spark)
            measure_s = time.perf_counter() - t
        if tracer is not None:
            tracer.uninstall()
    finally:
        t = time.perf_counter()
        shutdown(spark)
        shutdown_s = time.perf_counter() - t
        shutil.rmtree(work, ignore_errors=True)

    from statistics import median

    if tracer is not None:
        units = metric_units("per_layer")
        # a layer the workload does not use did no work: its metrics are 0
        values = {**{k: 0.0 for k in units}, **res["layers"], "setup.first_s": first_s}
    else:
        units = metric_units("end_to_end")
        values = {"setup_s": median(setup_s), "peak_rss_mb": rss.peak_mb, **res["e2e"]}
    unknown = sorted(set(values) - set(units))
    if unknown or set(units) - set(values):
        print(f"perfbench: metrics out of step with BENCHMARK.json: {unknown}", file=sys.stderr)
        return 3
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    info = {"box": box.describe(), "session": facts, "seed": args.seed, "size": args.size,
            "workload": args.workload, "inputs": wl.describe(), "input_gen_s": round(gen_s, 3),
            "first_s": round(first_s, 3), "setup_reps_s": [round(x, 3) for x in setup_s],
            "measure_s": round(measure_s, 3), "shutdown_s": round(shutdown_s, 3),
            "samples": res["samples"]}
    print(json.dumps(info))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
