"""Streaming sketch-tile maintenance: histogram tiles as idempotent
per-batch delta partitions.

The batch tier (``quantile_bin_rollup_regions``) showed the mergeable-
histogram algebra; this is its STREAMING face, and the interesting part
is exactly-once arithmetic. Count/sum merges are NOT idempotent — a
replayed micro-batch that re-adds its counts double-counts (unlike the
SCD1 upsert's argmax, which is a lattice join and replay-safe). The
lakehouse answer: each micro-batch writes its tile DELTA to its own
``batch_id=N`` partition via dynamic partition overwrite, so a replay
of batch N REPLACES partition N instead of adding to it — the write is
idempotent even though the algebra isn't. Readers aggregate across
batch partitions; compaction (folding old batch partitions into one)
is the same sum and can run any time.

At 100 TB this is how per-partition/day sketch tiles are maintained
continuously: O(batch × bins) delta rows per trigger, reader cost
O(batches × bins) — never a fact re-scan — and checkpointed batch ids
make the pipeline restart- and replay-safe end to end (pinned in
tests/test_streaming.py by a multi-batch drive whose final quantiles
hash-match the batch rollup's oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.aggregates import (
    _QBIN_CAP,
    _QBIN_ROLLUP_ORACLE,
    _QBIN_W,
    qbin_quantiles_by_region,
)
from ..registry import query
from ..sources.catalog import table
from ..sources.sinks import remove_scratch, scratch_dir
from .io import ORDERS_SCHEMA, drain, hadoop_path, source, start


def run_quantile_tiles_stream(
    spark: SparkSession,
    orders_path: str,
    sf_dir: str,
    tiles_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Start the tile-maintenance stream over an orders file source.
    Each micro-batch: enrich with the static customer→nation dimensions
    (stream-static joins — dimensions batch-read per trigger), bin
    ``o_totalprice`` with the batch tier's literal bins, aggregate the
    batch's (region, bin) counts, and write them under ``batch_id=N``
    with dynamic partition overwrite (replay-idempotent — see module
    docstring). Returns the StreamingQuery."""
    raw = source(spark, orders_path, ORDERS_SCHEMA, max_files_per_trigger)

    def write_tiles(batch_df, batch_id: int) -> None:
        sp = batch_df.sparkSession
        # fan_out=False: the dimension is the broadcast BUILD side of the
        # stream-static join every batch, so the single-split fan-out
        # exchange shuffled customer for zero downstream parallelism
        # (the Q3/Q8/Q9/Q18 pattern). Interleaved A/B at sf0.1,
        # identical rows: 1.43 -> 1.29 s steady per drain.
        cust = table(sp, sf_dir, "customer", fan_out=False).select(
            "c_custkey", "c_nationkey"
        )
        nat = table(sp, sf_dir, "nation").select("n_nationkey", "n_regionkey")
        tiles = (
            batch_df.join(cust, batch_df.o_custkey == cust.c_custkey)
            .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy(
                "n_regionkey",
                F.least(
                    F.floor(F.col("o_totalprice") / F.lit(_QBIN_W)).cast("bigint"),
                    F.lit(_QBIN_CAP),
                ).alias("bin"),
            )
            .agg(F.count("*").alias("cnt"))
            .withColumn("batch_id", F.lit(int(batch_id)))
        )
        (
            tiles.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(tiles_dir)
        )

    return start(raw, write_tiles, checkpoint=checkpoint_dir)


def committed_batch_ids(spark: SparkSession, checkpoint_dir: str) -> set[int]:
    """Batch ids recorded in a Structured Streaming checkpoint's commits
    log — the set the engine guarantees will never re-fire on restart.
    Anything NOT in this set (a partition written by a batch that died
    before its commit record) WILL replay and must not be compacted."""
    fs, p = hadoop_path(spark, f"{checkpoint_dir.rstrip('/')}/commits")
    if not fs.exists(p):
        return set()
    out: set[int] = set()
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.isdigit():  # skip .tmp staging files and metadata
            out.add(int(name))
    return out


def compact_tiles(
    spark: SparkSession, tiles_dir: str, checkpoint_dir: str | None = None
) -> int:
    """Fold COMMITTED batch-delta partitions into ONE compacted
    partition (``batch_id = -1``) — the maintenance job that keeps
    reader cost O(bins) instead of O(batches × bins) on a long-running
    stream. The fold is the same mergeable sum readers apply, so the
    answer is unchanged by construction. Returns the number of batch
    partitions folded. Single-writer job (run it between triggers or
    from a maintenance schedule — the same contract as
    ``sinks.compact_parquet_dir``).

    Two replay/crash hazards are designed out:

    - **Uncommitted trailing batch.** A partition whose batch id is not
      in the checkpoint's commits log was written by a batch that died
      before committing — on restart the engine re-fires that id and
      dynamic-partition-overwrites the partition, so folding it first
      would count it twice. With ``checkpoint_dir`` the commits log is
      consulted directly (prefer this form); without it, the highest
      batch id is excluded as the conservative stand-in — sound ONLY
      under strictly in-order micro-batch execution, so that fallback
      first ASSERTS the observed ids are contiguous and refuses to
      compact otherwise (a gap means some partition was produced out of
      band, e.g. a manual backfill write, and the trailing-id heuristic
      would silently double-count).
    - **Crash mid-compaction.** The fold rewrites the WHOLE tile tree
      (folded partition + excluded partitions verbatim) into a staged
      directory and promotes it with the two-rename swap shared with
      ``sinks.compact_parquet_dir`` (``sinks.staged_swap``): readers see
      either the old tree or the new tree, never a state where a delta
      exists both in ``batch_id=-1`` and its source partition. A crash
      between the renames parks the old tree aside; ``recover_swap``
      (called here first) restores it on the next run.
    """
    from ..sources.sinks import recover_swap, staged_swap

    recover_swap(spark, tiles_dir)
    tiles = spark.read.parquet(tiles_dir)
    ids = sorted(
        r.batch_id for r in tiles.select("batch_id").distinct().collect()
        if r.batch_id != -1
    )
    if checkpoint_dir is not None:
        committed = committed_batch_ids(spark, checkpoint_dir)
        fold_ids = [i for i in ids if i in committed]
    else:
        # trailing-id heuristic: sound only for in-order micro-batch ids
        if ids and ids != list(range(ids[0], ids[0] + len(ids))):
            raise ValueError(
                f"compact_tiles(checkpoint_dir=None): batch ids {ids} are not "
                f"contiguous — some partition was written out of band (manual "
                f"backfill?); pass checkpoint_dir so the commits log decides "
                f"what is safe to fold"
            )
        fold_ids = ids[:-1]  # trailing batch may be uncommitted
    if not fold_ids:
        return 0
    fold_set = set(fold_ids)
    in_fold = F.col("batch_id").isin([-1, *fold_ids])
    folded = (
        tiles.filter(in_fold)
        .groupBy("n_regionkey", "bin")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("batch_id", F.lit(-1))
    )
    kept = tiles.filter(~in_fold).select("n_regionkey", "bin", "cnt", "batch_id")
    new_tree = folded.select("n_regionkey", "bin", "cnt", "batch_id").unionAll(kept)
    # materialize BEFORE the swap unlinks the directory being read
    new_tree = new_tree.localCheckpoint(eager=True)

    def write_tmp(tmp: str) -> None:
        new_tree.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)

    staged_swap(spark, tiles_dir, write_tmp)
    return len(fold_set)


def read_tile_quantiles(
    spark: SparkSession, sf_dir: str, tiles_dir: str
) -> DataFrame:
    """Region quantiles from materialized tile partitions: sum the
    per-batch deltas (the mergeable-sketch combine) and reuse the batch
    tier's quantile tail — bit-identical output by construction."""
    tiles = spark.read.parquet(tiles_dir)
    merged = tiles.groupBy("n_regionkey", "bin").agg(F.sum("cnt").alias("cnt"))
    return qbin_quantiles_by_region(spark, sf_dir, merged)


@query(
    "stream_quantile_tiles",
    oracle=_QBIN_ROLLUP_ORACLE,
    tags=("streaming", "sketch", "mergeable", "quantile", "aggregation"),
)
def stream_quantile_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming tile maintenance, driver-checkable: run the
    tile stream over the orders source to completion (a real
    StreamingQuery with checkpointing and per-batch delta partitions),
    then answer the region-quantile question FROM THE TILES. The oracle
    is the BATCH rollup's oracle, verbatim — materializing tiles through
    a checkpointed stream must not change a single bit of the answer,
    which is the whole mergeable-sketch contract.

    The scratch tile/checkpoint dirs follow the sink-roundtrip
    convention (shared-URI conf on a real cluster, sinks.py:30-44); the
    read-back is localCheckpoint-materialized so scratch can be removed
    before the frame is consumed.
    """
    tiles_dir = scratch_dir(spark, "qtiles_")
    ckpt_dir = scratch_dir(spark, "qtiles_ckpt_")
    try:
        orders = f"{sf_dir}/orders.parque*"
        drain(run_quantile_tiles_stream(spark, orders, sf_dir, tiles_dir, ckpt_dir))
        tiles = (
            spark.read.parquet(tiles_dir)
            .select("n_regionkey", "bin", "cnt")
            .localCheckpoint(eager=True)
        )
    finally:
        remove_scratch(spark, ckpt_dir)
        remove_scratch(spark, tiles_dir)
    merged = tiles.groupBy("n_regionkey", "bin").agg(F.sum("cnt").alias("cnt"))
    return qbin_quantiles_by_region(spark, sf_dir, merged)
