#!/usr/bin/env python
"""Dump .explain("formatted") for bench rows to plans/<tag>/<row>_<suffix>.txt.

Usage: python tools/dump_plans.py <tag> <suffix> row1 row2 ...
(bench names or contract names; the session is bench.py's)."""
from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    tag = sys.argv[1]          # e.g. r15
    suffix = sys.argv[2]       # before | after
    rows = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import BENCH_QUERIES, start_session
    from jane_spark.contracts import REGISTRY

    spark = start_session(sf_dir, "jane_spark_plans")
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in rows:
        qname = BENCH_QUERIES.get(name, name)
        df = REGISTRY[qname].spark_fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(f"{name}: {len(txt.splitlines())} plan lines", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
