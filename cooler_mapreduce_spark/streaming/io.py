"""The streaming runners' plumbing: one file source, one start, one drain.

Every runner reads through :func:`source` (the events table through
:func:`event_stream`), starts through :func:`start` and, when it drives
itself to completion, finishes through :func:`drain`. Batch size
(``maxFilesPerTrigger``), output mode, sink, checkpoint and trigger are
therefore set in one place each.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp_ntz,"
    " o_orderpriority string"
)
DOCUMENTS_SCHEMA = "doc_id bigint, source string, lang string, text string, n_chars bigint"


def source(
    spark: SparkSession,
    path: str,
    schema: str | StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the parquet files at ``path`` with a fixed
    ``schema``; ``max_files_per_trigger`` splits a bounded replay into
    that many files per micro-batch."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def event_stream(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The events table as a stream (one file ⇒ one micro-batch; real
    deployments point ``path`` at Kafka/files with the same schema).

    The stream schema is taken from a batch read of the same file, so the
    stream twin always sees exactly what the batch side sees regardless
    of how the writer annotated ``ts`` (TIMESTAMP_NTZ/µs today; the
    legacy NANOS encoding surfaces as bigint under ``nanosAsLong`` and is
    rebuilt at µs precision, same as sources/catalog.py)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file-stream sources demand a directory basePath; the glob pins the
    # match to the events table while keeping basePath = sf_dir
    raw = source(spark, path or f"{sf_dir}/events.parque*", schema, max_files_per_trigger)
    dt = dict(raw.dtypes).get("ts")
    if dt == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dt == "timestamp_ntz":
        # watermarks only accept TIMESTAMP ([EVENT_TIME_IS_NOT_ON_
        # TIMESTAMP_TYPE]); the session timezone is pinned to UTC
        # (session.py), so this cast preserves wall-clock values and the
        # stream stays comparable to its NTZ batch twin
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def start(
    df: DataFrame,
    sink: str | Callable[[DataFrame, int], None] | None,
    *,
    mode: str = "append",
    checkpoint: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Start ``df`` in output ``mode`` and return the StreamingQuery.

    ``sink`` is a memory-sink query name, a ``foreachBatch`` function,
    or None for the noop sink (a query run for its progress feed).
    ``available_now`` uses Trigger.AvailableNow: process everything
    present at start, then terminate."""
    w = df.writeStream.outputMode(mode)
    if callable(sink):
        w = w.foreachBatch(sink)
    elif sink:
        w = w.format("memory").queryName(sink)
    else:
        w = w.format("noop")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def drain(q: StreamingQuery) -> None:
    """Run ``q`` until its source is exhausted, then stop it. A query
    failure re-raises here."""
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` through the session's Hadoop
    configuration (local, HDFS or object-store URIs alike)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p
