"""jane_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of krischer/jane (see SURVEY.md).

Not a port: jane is Django + PostgreSQL/PostGIS; this engine is idiomatic
Spark (DataFrame / SQL / Catalyst / Structured Streaming) over Parquet,
designed for 100 TB scale, tested locally against a DuckDB oracle.

Layout:
  engine/     SparkSession factory (pinned confs) + table catalog +
              pydaemon (the Python worker daemon the factory pins)
  plans/      query-compilation layer (param dict -> Column predicates,
              interval-overlap join rewrite, as-of resolution)
  operators/  relational / analytical operators built on DataFrame ops
  functions/  scalar/array/geo/text function surface (built-ins only in
              hot paths; pandas UDFs where Python is genuinely needed)
  sources/    ingest (binaryFile + parsers, delta sync)
  streaming/  Structured Streaming surface (availableNow batch-equivalent)
  contracts/  the driver-facing correctness contract (SURVEY.md §2):
              each query registered with its DuckDB oracle SQL twin
"""

__version__ = "0.1.0"
