"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's closest analogue is its user reduce_fn — but that only
runs once per batch job. This operator maintains *persistent per-key
state across micro-batches*: running per-user totals (event count, value
sum, last-seen timestamp), emitted as an update stream. The state schema
is explicit and bounded (one row per user), the update mode emits only
touched keys per batch — the shape that scales to 10^9 keys with RocksDB
state stores.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..registry import query
from .io import event_stream, start

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double, last_ts timestamp"
STATE_SCHEMA = "n bigint, total double, last_us bigint"


def _update_user_totals(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Merge this micro-batch's rows for one user into persisted state."""
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        batch_max_us = int(pdf["ts"].astype("int64").max()) // 1000  # ns → µs
        last_us = max(last_us, batch_max_us)
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
        }
    )


def run_user_totals_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "user_totals_out"
):
    """Start the stateful per-user totals stream (update mode, memory
    sink). Each micro-batch emits the refreshed totals of the users it
    touched; the last emitted row per user equals the batch groupBy."""
    ev = event_stream(spark, sf_dir).select("user_id", "ts", "value")
    out = ev.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return start(out, query_name, mode="update")


@query(
    "stream_user_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST((value) AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful", "batch-twin"),
)
def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of :func:`run_user_totals_stream` (the
    ``applyInPandasWithState`` operator): per-user lifetime totals.  The
    chain of evidence for the custom stateful op is two links — the
    streaming run equals this batch query on bounded input
    (tests/test_streaming.py::test_stateful_user_totals_equals_batch),
    and this batch query equals the SQL oracle (driver gate) — so the
    state-store accumulation is transitively oracle-checked.
    """
    from ..functions.numeric import dsum
    from ..sources.catalog import table

    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        dsum("value", 6).alias("total_value"),
        F.max("ts").alias("last_ts"),
    )
