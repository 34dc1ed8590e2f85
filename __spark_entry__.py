"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` exposes
the full registered inventory (SURVEY.md §2 coverage); ``oracle_sql()``
returns the DuckDB-equivalent SQL per query. Implementations live in
``cooler_mapreduce_spark/`` — this module is a thin adapter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cooler_mapreduce_spark.registry import load_all
from cooler_mapreduce_spark.session import apply_session_defaults

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    apply_session_defaults(spark, SMOKE_SF_DIR)
    specs = load_all()
    return specs["pricing_summary"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    specs = load_all()

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_session_defaults(spark, sf_dir)
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        return run

    return {name: wrap(spec.fn) for name, spec in specs.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent per query (None-oracle queries
    omitted → driver records the weaker rows-only check)."""
    return {name: spec.oracle for name, spec in load_all().items() if spec.oracle}
