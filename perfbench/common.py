"""Shared pieces of the benchmark: the Spark session lifecycle, box
description, memory sampling and Spark status-store counters."""

from __future__ import annotations

import os
import threading
import time


# ----------------------------------------------------------------- box

def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), (fields[7] if len(fields) > 7 else 0)


class Box:
    """nproc, load average and host steal over the run."""

    def __init__(self) -> None:
        self.nproc = os.cpu_count() or 1
        try:
            self.nproc = len(os.sched_getaffinity(0))
        except AttributeError:
            pass
        self.load_start = os.getloadavg()
        self.ticks_start = _cpu_ticks()

    def describe(self) -> dict:
        total, steal = _cpu_ticks()
        dt_total = total - self.ticks_start[0]
        return {
            "nproc": self.nproc,
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_frac": round((steal - self.ticks_start[1]) / dt_total, 4) if dt_total else 0.0,
        }


# -------------------------------------------------------------- memory

def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled every ``period`` s."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        kb = sum(_rss_kb(p) for p in process_tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --------------------------------------------------------------- spark

def start_session(nproc: int):
    """The engine's own session factory at this box's width."""
    from jane_spark.engine.session import get_spark

    return get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=2 * nproc)


def session_facts(spark) -> dict:
    sc = spark.sparkContext
    return {
        "defaultParallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "master": sc.master,
    }


def shutdown(spark) -> None:
    """Stop Spark, then the JVM and its workers, and wait until every
    process this run started has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    tree = process_tree(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be closed
            pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            if _is_zombie(pid):
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and not _is_zombie(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


class StageCounters:
    """Sums over the Spark stages submitted after ``mark()``, read from
    the status store (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.base_stage = -1
        self.base_job = -1

    def _stages(self):
        # PySpark 4.1: stageList(statuses, details, withSummaries,
        # quantiles, taskStatus) — pass the Scala defaults for the rest
        st = self.store
        jlist = self.spark.sparkContext._jvm.java.util.ArrayList()
        seq = st.stageList(jlist, *[getattr(st, f"stageList$default${i}")() for i in range(2, 6)])
        return [seq.apply(i) for i in range(seq.size())]

    def _job_ids(self) -> list[int]:
        seq = self.store.jobsList(self.spark.sparkContext._jvm.java.util.ArrayList())
        return [seq.apply(i).jobId() for i in range(seq.size())]

    def mark(self) -> None:
        self.base_stage = max((s.stageId() for s in self._stages()), default=-1)
        self.base_job = max(self._job_ids(), default=-1)

    def read(self, t0_wall: float, t1_wall: float) -> dict:
        """Counters since ``mark()``; ``t0_wall``/``t1_wall`` (epoch s)
        bound the window used for the no-stage-running gap."""
        stages = [s for s in self._stages() if s.stageId() > self.base_stage]
        jobs = [j for j in self._job_ids() if j > self.base_job]
        c = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_failures": 0,
             "executor_run_s": 0.0, "executor_cpu_s": 0.0, "input_mb": 0.0,
             "input_records": 0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0}
        spans = []
        for s in stages:
            if str(s.status()) == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            c["task_failures"] += s.numFailedTasks()
            c["executor_run_s"] += s.executorRunTime() / 1e3
            c["executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["input_mb"] += s.inputBytes() / 2**20
            c["input_records"] += s.inputRecords()
            c["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            c["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            sub, comp = s.submissionTime(), s.completionTime()
            if sub.isDefined() and comp.isDefined():
                spans.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted((max(a, t0_wall), min(b, t1_wall)) for a, b in spans):
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        c["gap_s"] = max(0.0, (t1_wall - t0_wall) - covered)
        return c
