"""Streaming deduplication — the ingest-time twin of ``operators.dedup``.

A training-data pipeline dedups at ingest (stream) and at rest (batch).
Spark's ``dropDuplicates`` on a streaming DataFrame keeps per-key state of
seen keys; with a watermark the state is bounded to the lateness horizon
— the 100 TB/day shape: exact-dup keys are dropped within the watermark
window, and the at-rest batch pass (``dedup_exact``) catches cross-window
stragglers.

Also here: the foreachBatch sinks — the hourly-counts parquet sink and
the table-format-free SCD1/SCD2 upserts (plain and erasure-gated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.governance import _TAKEDOWN_MOD
from ..registry import query
from ..sources.catalog import table
from .io import DOCUMENTS_SCHEMA, ORDERS_SCHEMA, event_stream, hadoop_path, source, start
from .windows import _watermarked, _window_counts

#: hash buckets of the upsert stores (a micro-batch rewrites only the
#: buckets it touches)
_N_BUCKETS = 8
#: the debounce's suppression horizon (its watermark delay)
_DEBOUNCE_HORIZON = "30 minutes"
#: the order columns the keep-latest argmax carries
_ORDER_ROW = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")


def _keep_latest(orders: DataFrame, *keys: str) -> DataFrame:
    """One row per ``keys`` group: the order row with the greatest
    (o_orderdate, o_orderkey) — a map-side combinable ``max_by`` argmax
    (dedup_keep_latest's CDC contract)."""
    return (
        orders.groupBy(*keys)
        .agg(
            F.max_by(F.struct(*_ORDER_ROW), F.struct("o_orderdate", "o_orderkey")).alias("r")
        )
        .select(*keys, "r.*")
    )


def _takedown_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with an erasure request: every `_TAKEDOWN_MOD`th key."""
    return (
        table(spark, sf_dir, "customer", fan_out=False)
        .filter(F.col("c_custkey") % _TAKEDOWN_MOD == 0)
        .select("c_custkey")
    )


def _erasure_gate(orders: DataFrame, erased: DataFrame) -> DataFrame:
    """Orders whose customer is not on the ``erased`` list (anti join)."""
    return orders.join(erased, orders.o_custkey == F.col("c_custkey"), "left_anti")


def run_streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "dedup_out",
    watermark: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Start exact-dedup-on-ingest over the documents stream: first
    occurrence of each content hash passes, later copies are dropped by
    the state store.

    Without a watermark the seen-hash state grows with distinct keys
    (the bounded-input test case); production sets ``watermark`` so keys
    expire after the lateness horizon — state is then O(keys per
    horizon), not O(keys ever). The horizon-bounded branch uses
    ``dropDuplicatesWithinWatermark(["content_hash"])``: duplicates
    arriving in *different* micro-batches within the horizon are still
    dropped (state keys on the hash alone, expiring at the watermark) —
    putting the ingest timestamp *in the dedup key* would silently pass
    any cross-batch duplicate, since processing time differs per batch.

    ``max_files_per_trigger`` forces multi-micro-batch ingestion for
    tests that assert cross-batch behavior.
    """
    raw = source(spark, f"{sf_dir}/documents.parque*", DOCUMENTS_SCHEMA, max_files_per_trigger)
    hashed = raw.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("content_hash")
    )
    if watermark:
        # State expiry needs an event-time watermark; the dedup key stays
        # (content_hash) alone so cross-batch duplicates within the
        # horizon are caught.
        deduped = (
            hashed.withColumn("ingest_ts", F.current_timestamp())
            .withWatermark("ingest_ts", watermark)
            .dropDuplicatesWithinWatermark(["content_hash"])
            .drop("ingest_ts")
        )
    else:
        deduped = hashed.dropDuplicates(["content_hash"])
    return start(deduped, query_name)


def run_stream_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming ETL to a partitioned parquet sink via ``foreachBatch``:
    the watermarked hourly counts of ``run_tumbling_stream`` (the same
    body) as (window_start, event_type, n_events) rows, partitioned by
    event_type. foreachBatch is the production sink shape — it gets a
    *batch* DataFrame per trigger, so the full writer API (partitionBy,
    overwrite-by-partition, merges into Iceberg/Delta) applies.

    The aggregation runs in complete mode, so every trigger hands over
    the WHOLE result table; each trigger therefore OVERWRITES the sink
    (appending would re-add every window once per later trigger). The
    checkpoint restores the aggregation state on restart and never
    re-fires a committed batch, and a replayed batch rewrites the same
    table, so the sink ends equal to the batch twin. The overwrite is
    not atomic: a reader during a trigger can see a partial table."""
    agg = _window_counts(_watermarked(spark, sf_dir)).select(
        "window_start", "event_type", "n_events"
    )

    def write_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").partitionBy("event_type").parquet(out_dir)

    return start(agg, write_batch, mode="complete", checkpoint=checkpoint_dir)


def run_debounce_stream(spark: SparkSession, sf_dir: str, query_name: str = "debounce_out"):
    """Streaming debounce: ``dropDuplicatesWithinWatermark`` on
    (user_id, event_type) — the first event per key passes, repeats are
    suppressed until the key's state expires at the watermark horizon.
    This is the streaming twin of the batch ``debounce_events`` operator
    and the production form of rate-limit suppression: unlike plain
    ``dropDuplicates`` (state = every key ever seen), state here is
    bounded to keys active within the horizon — O(active keys), the
    only shape that survives an unbounded 100 TB/day stream.
    """
    ev = event_stream(spark, sf_dir).withWatermark("ts", _DEBOUNCE_HORIZON)
    deduped = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type", "ts"
    )
    return start(deduped, query_name)


def run_streaming_upsert(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    erased_custkeys: DataFrame | None = None,
):
    """Streaming SCD1 upsert WITHOUT a table format: per micro-batch,
    keep-latest-per-key compaction merged into a bucketed parquet table
    via DYNAMIC partition overwrite.

    The pattern (foreachBatch gives the full batch writer API):

    1. reduce the micro-batch to one candidate row per order key
       (``max_by`` argmax — map-side combinable);
    2. read back ONLY the hash buckets this batch touches (partition
       pruning on ``bucket=`` directories);
    3. merge old+new with the same argmax;
    4. write with ``partitionOverwriteMode=dynamic`` — only the touched
       bucket directories are replaced, untouched buckets are never
       read or rewritten.

    This is the upsert shape for stores without ACID-merge: cost per
    batch is O(touched buckets), not O(table), and checkpoint batch-id
    dedup makes replays idempotent (re-merging the same rows is a
    no-op: argmax is idempotent). At 100 TB, buckets become date/hash
    partitions sized so a batch touches a small fraction.

    Event-time "latest" is (o_orderdate, o_orderkey) — deterministic
    total order, same as dedup_keep_latest's CDC contract.
    """
    raw = source(spark, f"{sf_dir}/orders.parque*", ORDERS_SCHEMA, max_files_per_trigger)
    if erased_custkeys is not None:
        # ERASURE GATE (staged r12 composition — see
        # run_erasure_gated_upsert): a stream-static LEFT ANTI join
        # against the takedown list drops erased subjects' rows from
        # every micro-batch BEFORE the merge, so a replayed or late
        # batch can never re-admit an erased key into the store. No
        # state is kept for the static side; NOTE the honest re-plan
        # bound — rows inside the ALREADY-LISTED files are re-read per
        # micro-batch, but a plain parquet DataFrame's file listing is
        # resolved once at creation, so NEW takedown files appended to
        # the directory need a catalog-backed static side (Delta/
        # Iceberg) or a query restart to take effect.
        raw = _erasure_gate(raw, erased_custkeys)

    def merge_batch(batch_df, batch_id: int) -> None:
        sp = batch_df.sparkSession
        # localCheckpoint: `fresh` has TWO actions against it — the
        # touched-bucket collect and the merge union — and foreachBatch
        # re-computes the batch scan + argmax for each without it
        # (optimization round 11, guide §5 reuse note; interleaved A/B at
        # sf0.1 on the bench drain's full-orders batch: 2.25/2.13/1.19 →
        # 1.83/1.35/1.08 s across three quiet alternations). The
        # materialized set is O(batch keys), the pattern's cost bound.
        fresh = _keep_latest(
            batch_df.withColumn("bucket", F.pmod(F.col("o_orderkey"), _N_BUCKETS)),
            "o_orderkey",
            "bucket",
        ).localCheckpoint(eager=True)
        touched = [r["bucket"] for r in fresh.select("bucket").distinct().collect()]
        # Gate the read-back on EXISTENCE, not on "any read failure": a
        # corrupt footer / transient FS error / permission problem must
        # fail the micro-batch (checkpoint replays it) rather than be
        # mistaken for "first batch" — treating it as empty would
        # dynamic-overwrite the touched buckets with only the fresh rows
        # and silently discard previously merged history.
        fs, path = hadoop_path(sp, out_dir)
        if fs.exists(path):
            old = sp.read.parquet(out_dir).where(F.col("bucket").isin(touched))
            merged_src = old.unionByName(fresh)
        else:  # genuinely the first batch: nothing on disk yet
            merged_src = fresh
        merged = _keep_latest(merged_src, "o_orderkey", "bucket")
        # The merged frame READS out_dir and the write OVERWRITES it —
        # localCheckpoint materializes the merge and truncates lineage,
        # so the write plan no longer references the path it replaces
        # (Spark refuses self-overwrites otherwise). The materialized
        # set is O(touched buckets), already the pattern's cost bound.
        (
            merged.localCheckpoint(eager=True)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(out_dir)
        )

    return start(raw, merge_batch, checkpoint=checkpoint_dir)


def _scd2_rebuild_frame(sp: SparkSession, raw_dir: str, touched) -> DataFrame:
    """History of the touched buckets, rebuilt from the raw change store,
    with replay dedup FOLDED into the versioning window (optimization
    round 11, guide §2.4 "remove shuffles outright").

    A replayed micro-batch appends byte-identical rows, so duplicates are
    FULL-ROW duplicates — but ``change_id`` alone is NOT a dedup key: a
    legitimate update feed re-uses the same change_id with a later
    valid_from (the convergence test's update wave does exactly that), so
    the drop condition must compare the whole change row. Ordering the
    dedup window by (valid_from, change_id, attr) makes identical rows
    adjacent (custkey is the partition key and bucket is a function of
    it, so those three columns determine the row), and a ``lag`` of their
    struct marks every copy but the first — all inside the SAME custkey
    partitioning the versioning window needs anyway. The separate
    DISTINCT this replaces paid a full extra exchange (hash on all five
    columns) plus a two-phase aggregate per rebuild. Interleaved A/B at
    sf0.1 on the bench drain's store (full orders as one batch): rebuild
    0.72 → 0.55 s steady; plan 2 exchanges → 1. Equality with the
    DISTINCT spelling on a store WITH replayed appends, and convergence
    with the batch twin under same-change_id update waves, are pinned in
    tests/test_streaming.py.
    """
    from pyspark.sql import Window

    seen = sp.read.parquet(raw_dir).where(F.col("bucket").isin(list(touched)))
    dw = Window.partitionBy("custkey").orderBy("valid_from", "change_id", "attr")
    row_key = F.struct("valid_from", "change_id", "attr")
    deduped = (
        seen.withColumn("_prev", F.lag(row_key).over(dw))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != row_key))
        .drop("_prev")
    )
    w = Window.partitionBy("custkey").orderBy("valid_from", "change_id")
    return deduped.select(
        "custkey",
        "bucket",
        "valid_from",
        "attr",
        F.row_number().over(w).alias("version"),
        F.lead("valid_from").over(w).alias("next_from"),
    ).select(
        "custkey",
        "bucket",
        "version",
        "valid_from",
        F.coalesce(
            F.col("next_from"), F.lit("2200-01-01").cast("timestamp_ntz")
        ).alias("valid_to"),
        F.col("next_from").isNull().alias("is_current"),
        "attr",
    )


def run_streaming_scd2(
    spark: SparkSession,
    sf_dir: str,
    raw_dir: str,
    history_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Streaming SCD2 — dimension HISTORY maintenance without a table
    format, the versioned sibling of :func:`run_streaming_upsert`'s
    keep-latest SCD1.

    SCD2 is order-sensitive (each version's valid_to is the NEXT
    version's valid_from), so a naive close-and-append breaks on
    out-of-order or replayed micro-batches. Instead each batch:

    1. appends its raw change rows to a bucketed RAW store (cheap,
       append-only, no read);
    2. REBUILDS the history of only the touched ``bucket=`` partitions
       from the raw rows seen so far, with replay dedup FOLDED into the
       batch twin's window pass (``_scd2_rebuild_frame`` — replayed
       appends dedup away inside the same custkey exchange, so the
       rebuild stays idempotent at one shuffle instead of the two a
       separate DISTINCT paid);
    3. dynamic-partition-overwrites those history partitions.

    Convergence is therefore ARRIVAL-ORDER-FREE: any interleaving of
    batches yields the batch twin's exact history once drained —
    asserted in tests. Cost per batch is O(raw rows in touched
    buckets), the same bucket-locality bound as SCD1; at 100 TB the
    bucket column becomes (date, key-hash) partitions so a day's feed
    rebuilds a bounded slice. The 2200-01-01 open-version sentinel
    matches the batch twin (Arrow ns timestamps top out in 2262).
    """
    raw = source(spark, f"{sf_dir}/orders.parque*", ORDERS_SCHEMA, max_files_per_trigger)

    def merge_batch(batch_df, batch_id: int) -> None:
        sp = batch_df.sparkSession
        changes = batch_df.select(
            F.col("o_custkey").alias("custkey"),
            F.pmod(F.col("o_custkey"), _N_BUCKETS).alias("bucket"),
            F.col("o_orderdate").alias("valid_from"),
            F.col("o_orderkey").alias("change_id"),
            F.col("o_totalprice").alias("attr"),
        ).localCheckpoint(eager=True)
        touched = [r["bucket"] for r in changes.select("bucket").distinct().collect()]
        changes.write.mode("append").partitionBy("bucket").parquet(raw_dir)
        # rebuild touched buckets from ALL raw rows seen so far; replay
        # dedup is folded into the versioning window (_scd2_rebuild_frame)
        hist = _scd2_rebuild_frame(sp, raw_dir, touched)
        (
            hist.localCheckpoint(eager=True)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(history_dir)
        )

    return start(raw, merge_batch, checkpoint=checkpoint_dir)


def run_erasure_gated_upsert(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """ERASURE-GATED streaming upsert (registered batch twin:
    :func:`stream_erasure_gated_upsert` — pinned to it across a
    multi-batch replay in tests/test_streaming.py): the SCD1
    keep-latest upsert composed with the governance tier's takedown
    list (every `_TAKEDOWN_MOD`th customer) as a stream-static LEFT
    ANTI gate on every micro-batch — the streaming half of the
    right-to-erasure story. Deleting from the store
    (takedown_cascade_manifest's audit) is not enough when the ingest
    path REPLAYS: a checkpoint recovery or late batch would re-admit
    the erased subject's rows; gating the stream itself makes erasure
    a standing invariant of the store, not a one-time cleanup.

    100 TB shape: the gate is one stream-static anti join per
    micro-batch (size-based planning broadcasts the takedown list
    while small); rows inside the already-listed request files are
    re-read each batch, but a plain parquet static side resolves its
    FILE LISTING once — a takedown list that grows by new files needs
    a catalog-backed table (Delta/Iceberg) or a query restart, which
    is the honest bound of the format-free composition. Everything
    downstream is the upsert's documented O(touched buckets) merge.
    No extra state.
    """
    return run_streaming_upsert(
        spark,
        sf_dir,
        out_dir,
        checkpoint_dir,
        max_files_per_trigger=max_files_per_trigger,
        erased_custkeys=_takedown_list(spark, sf_dir),
    )


@query(
    "stream_erasure_gated_upsert",
    oracle=f"""
    WITH req AS (
        SELECT c_custkey FROM customer WHERE c_custkey % {_TAKEDOWN_MOD} = 0
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority,
               ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM req)
    ) WHERE rn = 1
    """,
    tags=("streaming", "erasure", "upsert", "cdc", "governance"),
)
def stream_erasure_gated_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the ERASURE-GATED streaming upsert
    (:func:`run_erasure_gated_upsert` — pinned equal to this
    expression's anti-join across a multi-batch replay in
    tests/test_streaming.py): the store's standing invariant, gate
    first, merge second — every order row of a takedown-listed
    customer (every {mod}th key) dies at the stream-static anti join
    BEFORE the keep-latest merge, so a checkpoint replay or late batch
    can never re-admit an erased subject. The face is the store's
    exact end state: the gate composed with the runner's argmax
    compaction (``max_by`` over (o_orderdate, o_orderkey) — the same
    total order the oracle's ROW_NUMBER spells), which at this
    source's unique-o_orderkey feed reduces to per-key identity; the
    multi-batch replay in the runner's test is where the argmax
    genuinely merges.

    100 TB shape: one keyed anti join (size-based planning broadcasts
    the takedown list while small, degrades to a shuffle join when
    not — no hints) + one partial-aggregable argmax: each map task
    pre-reduces to one candidate row per key before the exchange, the
    store merge cost the streaming runner bounds at O(touched
    buckets) per batch. No collects; output is O(retained orders).

    Reference parity: beyond the reference — no streaming or
    governance surface exists there (SURVEY.md §2.4); the streaming
    half of the right-to-erasure tier (the takedown audit is the
    at-rest half).
    """
    o = table(spark, sf_dir, "orders", fan_out=False)
    return _keep_latest(_erasure_gate(o, _takedown_list(spark, sf_dir)), "o_orderkey")
