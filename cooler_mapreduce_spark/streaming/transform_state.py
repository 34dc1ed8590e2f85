"""Custom stateful streaming via ``transformWithStateInPandas`` (Spark 4).

Second stateful tier beside :mod:`.stateful`'s ``applyInPandasWithState``:
the newer ``StatefulProcessor`` API with *typed, named state variables*.
Where ``applyInPandasWithState`` gives one opaque tuple per key, this
operator keeps a ``MapState`` keyed by event_type under each user key —
composite state the old API can only fake by encoding maps into arrays.
At 100 TB scale that matters twice over: the map entries are individually
readable/updatable (point lookups against the RocksDB state store, no
read-modify-write of a whole blob), and state for untouched event types
is never deserialized.

The reference has no incremental execution at all (its reduce_fn runs
once per batch job); both stateful tiers here are brief-scope streaming
surface, oracle-checked through their batch twins.

Environment note: transformWithState's Python↔JVM state protocol rides
on protobuf (``pyspark.sql.streaming.proto.StateMessage_pb2``), which is
an *optional* pyspark dependency this container lacks — the stream run
raises a clear error here and the streaming==batch test auto-skips
(tests/test_streaming.py gates on ``HAVE_PROTOBUF``). The processor and
plan code take no environment shortcuts: on any standard cluster with
``protobuf`` installed the stream runs as written. The batch twin below
is environment-independent and driver-oracle-checked regardless.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.streaming.stateful_processor import TimerValues

from ..registry import query
from .io import event_stream, start

OUTPUT_SCHEMA = "user_id bigint, event_type string, n_events bigint"

#: transformWithState requires the RocksDB state store provider (the HDFS
#: provider does not implement the multi-column-family layout its named
#: state variables map onto).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


class UserTypeCountsProcessor(StatefulProcessor):
    """Running per-(user, event_type) event counts.

    One ``MapState`` per user key: event_type → count. Each micro-batch
    bumps only the entries the batch touched and emits those entries'
    refreshed totals (update-mode semantics at the entry level).
    """

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._counts = handle.getMapState(
            "type_counts", "event_type string", "n bigint"
        )

    def handleInputRows(
        self,
        key: tuple,
        rows: Iterator[pd.DataFrame],
        timerValues: TimerValues,
    ) -> Iterator[pd.DataFrame]:
        batch: dict[str, int] = {}
        for pdf in rows:
            for et, n in pdf["event_type"].value_counts().items():
                batch[et] = batch.get(et, 0) + int(n)
        out_types: list[str] = []
        out_counts: list[int] = []
        for et, n in sorted(batch.items()):
            k = (et,)
            total = (self._counts.getValue(k)[0] if self._counts.containsKey(k) else 0) + n
            self._counts.updateValue(k, (total,))
            out_types.append(et)
            out_counts.append(total)
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_types),
                "event_type": out_types,
                "n_events": out_counts,
            }
        )

    def close(self) -> None:
        pass


def have_protobuf() -> bool:
    """True when the optional protobuf dependency transformWithState's
    state protocol requires is importable (see module docstring)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def run_user_type_counts_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "user_type_counts_out"
):
    """Start the per-(user, event_type) running-count stream (update mode,
    memory sink). The last emitted row per (user_id, event_type) equals
    the batch groupBy count."""
    if not have_protobuf():
        raise ImportError(
            "transformWithStateInPandas needs the optional 'protobuf' "
            "dependency for its state-server protocol "
            "(pyspark.sql.streaming.proto); install protobuf to run "
            "this stream. The batch twin (stream_user_type_counts) "
            "works without it."
        )

    # transformWithState requires the RocksDB provider, but the session
    # conf must not be permanently mutated for every LATER stream in the
    # same session — save and restore around start(). Restoring
    # immediately after start() is safe: StreamExecution clones the
    # session (and with it this conf) synchronously when the query is
    # created, so the running stream keeps RocksDB while the caller's
    # session returns to its previous provider.
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        ev = event_stream(spark, sf_dir).select("user_id", "event_type")
        out = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=UserTypeCountsProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        return start(out, query_name, mode="update")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@query(
    "stream_user_type_counts",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n_events
    FROM events GROUP BY user_id, event_type
    """,
    tags=("streaming", "stateful", "transformWithState", "batch-twin"),
)
def stream_user_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of :func:`run_user_type_counts_stream` (the
    ``transformWithStateInPandas`` operator): per-(user, event_type)
    lifetime counts. Chain of evidence as for ``stream_user_totals``:
    streaming == batch on bounded input (tests/test_streaming.py::
    test_transform_with_state_equals_batch), batch == SQL oracle (driver
    gate) — so the MapState accumulation is transitively oracle-checked.
    """
    from ..sources.catalog import table

    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n_events"))
