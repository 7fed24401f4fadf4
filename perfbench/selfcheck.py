"""Fast self-check of the benchmark at tiny input sizes.

    python3 perfbench/selfcheck.py

Runs every workload untraced and traced from the current checkout root
and asserts that each run prints every metric named in BENCHMARK.json
with its unit, that every output check passed (``fail_frac`` 0, i.e.
``ok_frac`` 1), and that the benchmark refuses to run, without printing
a result, from a directory that holds only the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(w["name"], trace)
            tag = f"{w['name']} --trace {trace}"
            before = len(problems)
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}")
                print(f"FAIL {tag}", flush=True)
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{tag}: outputs failed the checks: {p.stdout.splitlines()[-2]}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics/units differ: {sorted(set(got.items()) ^ set(want.items()))}")
            if trace == 0 and res["metrics"]["ok_frac"]["value"] != 1.0:
                problems.append(f"{tag}: ok_frac {res['metrics']['ok_frac']['value']}")
            print(f"{'ok' if len(problems) == before else 'FAIL':4} {tag}", flush=True)
    # a directory holding only the benchmark must be refused
    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = run("serve", 0, cwd=bare)
        if p.returncode == 0 or p.stdout.strip():
            problems.append("bare directory: expected a non-zero exit and no result")
        else:
            print("ok   bare directory refused", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    for msg in problems:
        print("FAIL", msg)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
