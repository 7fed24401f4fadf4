"""SparkSession factory with the engine's pinned configuration.

SURVEY.md §4.3: the configs below are correctness-critical, not tuning:

- ``spark.sql.session.timeZone=UTC`` — the DuckDB oracle runs naive/UTC
  timestamps; jane's reference types (ObsPy UTCDateTime) are UTC.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — ``events.ts`` is INT64
  TIMESTAMP(NANOS); PySpark 4.x otherwise raises PARQUET_TYPE_ILLEGAL.
  The catalog converts nanos -> microsecond TIMESTAMP_NTZ on load.
- Arrow on for every pandas-UDF path.
- AQE on: runtime coalescing + skew-join handling is part of the
  100 TB design (SURVEY.md §4.1).

``configure(spark)`` applies the runtime-settable subset to an existing
session — the driver owns its own SparkSession, so every contract query
must be robust to a session we did not build.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the jane_spark package
_PACKAGE_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# Runtime-settable SQL confs (safe to apply to a live session).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # parquet scan parallelism at local scale; on a real cluster this is
    # left at default (128 MB) — see bench notes.
    "spark.sql.parquet.filterPushdown": "true",
    # wide GENERATED aggregates are a first-class pattern here (one-pass
    # column profiling D17, the d(d+1)/2-expression Gram fold K47): the
    # 100-field default silently drops whole-stage codegen exactly on
    # those plans (measured 1.8x on q_k47_gram at sf0.1). 256 keeps the
    # generated method well under JIT limits.
    "spark.sql.codegen.maxFields": "256",
    # the JVM never JIT-compiles a method over ~8000 bytecode bytes
    # (HugeMethodLimit), so a whole-stage-fused method between 8 KB and
    # Spark's 64 KB default fallback threshold runs in the BYTECODE
    # INTERPRETER — measured 4.9 s vs 0.85 s on the 16-level Hilbert
    # projection chain at sf0.1 (r15 optimization round). 8000 makes
    # Spark fall back to per-operator codegen exactly where the JVM
    # would refuse to JIT anyway; plans whose methods stay under 8 KB
    # are untouched.
    "spark.sql.codegen.hugeMethodLimit": "8000",
    # NOT pinned: spark.sql.adaptive.coalescePartitions.minPartitionSize.
    # A global 64k floor was tried (r15 optimization round) to keep
    # tiny-input compute-heavy stages wide, but idle single-row A/B
    # showed it a net LOSS: it un-coalesces every cheap stage too
    # (icws 3.2→4.9 s, cascade 4.8→5.6 s, keep_best 3.6→4.1 s,
    # textrank 4.4→4.6 s) and only the NN-descent explosive joins
    # genuinely needed width (6.4 s with the floor vs 8.1 s without).
    # The guide-§2.5 fix is surgical: the operators whose join
    # OUTPUT is 10-40x their shuffle input (nn_descent seed/candidate
    # self-joins, the q_k2j token self-join) carry an explicit keyed
    # repartition sized to the session, and the default 1 MB floor
    # stays for everything else.
    # NOT pinned: spark.sql.parquet.aggregatePushdown — inert on the
    # default V1 parquet path (verified: no PushedAggregation in plans);
    # runtime bloom-filter join pruning + DPP are default-on in Spark 4.
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's pinned runtime confs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-settable on this build — the builder path pins it instead
            pass
    return spark


def get_spark(
    app_name: str = "jane_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine configuration.

    Local test posture: ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``),
    shuffle partitions sized to cores — at cluster scale the shuffle
    partition count is instead sized to data volume (AQE coalesces down).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # the console progress bar redraws on stderr with carriage
        # returns and splices itself into other stderr lines
        .config("spark.ui.showConsoleProgress", "false")
        # Static, so pinned here rather than in RUNTIME_CONFS. Every
        # Python task calls importlib.invalidate_caches(), which on
        # CPython < 3.12 re-reads pyspark.zip's directory once per
        # pyspark package imported from it: 120-210 ms per task on a
        # 4-core box (a trivial mapInPandas collect: 300 ms vs 55 ms
        # JVM-only). engine/pydaemon skips the re-read while the
        # archive is unchanged; CPython 3.12 fixed it upstream
        # (gh-103200), so delete the module and this conf once the
        # runtime Python is 3.12 or newer. The daemon is imported
        # before any task ships files, so the worker path gets this
        # package's root whatever the working directory is.
        .config("spark.python.daemon.module", "jane_spark.engine.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
