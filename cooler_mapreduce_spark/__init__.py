"""cooler_mapreduce_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference MapReduce framework (the-snesler/cooler-MapReduce), re-expressed
Spark-first: the DataFrame/SQL API declares logical plans and Catalyst +
Tungsten pick the physical strategy. The reference's coordinator/worker
runtime (scheduling, shuffle, retries, speculation, heartbeats — SURVEY.md
§2.2) is replaced wholesale by Spark's driver/executor model; what this
package re-creates is the *semantics*:

- ``mr``           — the reference's user-function surface (map_fn /
                     combine_fn / reduce_fn job files) on RDDs.
- ``operators``    — the query inventory (SURVEY.md §2): parity queries
                     (word count, grep, weather-stats, inverted index),
                     joins, windows, cube/rollup, set ops, scalar function
                     suites, dedup / similarity / text-analysis operators.
- ``sources``      — readers for text/csv/json/parquet plus the test
                     catalog (TESTDATA.md tables).
- ``functions``    — reusable Column-level building blocks (tokenization,
                     vector math, hashing) kept JVM-side where possible.
- ``streaming``    — Structured Streaming pipelines over the events table.

Every operator is designed for a 1000-executor / 100 TB deployment and
merely *tested* on local[32]; see module docstrings for the partitioning
and shuffle rationale.
"""

__version__ = "0.1.0"
