"""Streaming observability: per-micro-batch ``observe`` metrics.

Production streaming jobs need COUNTERS — rows ingested, rows failing a
quality gate, value mass processed — surfaced per micro-batch without a
second pass over the data. Spark's ``Dataset.observe`` attaches
aggregate expressions that ride the existing plan (computed by an
accumulator during the pass the query already makes — zero extra scans,
zero shuffles) and reports them on each ``StreamingQueryProgress``.
This module is the streaming face of the batch ``Observation`` tier
(observability.py): same expressions, delivered per-batch.

Scale note: observed metrics cost O(metrics) per task — they piggyback
on whatever the query already computes; the progress feed is O(batches)
driver-side rows. The registered query folds per-batch counters into
run totals, which is exactly how a 100 TB deployment wires them into a
metrics store (one row per (query, batch) — bounded by trigger rate,
not data size).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..registry import query
from ..sources.catalog import table
from ..sources.sinks import remove_scratch, scratch_dir
from .io import drain, hadoop_path, source, start

#: micro-batch replay width: the scratch copy is written as this many
#: files and streamed with maxFilesPerTrigger=1, so the run is a genuine
#: multi-batch stream (the stream_scd2 replay convention).
_OBS_FILES = 4


def _observed_batches(spark: SparkSession, sf_dir: str, *metrics: Column) -> list[dict]:
    """Stage the events table as `_OBS_FILES` files, stream them one file
    per micro-batch under AvailableNow with ``metrics`` observed, and
    return the observed metrics of every non-empty batch."""
    ev = table(spark, sf_dir, "events", fan_out=False)
    src_dir = scratch_dir(spark, "obs_src_")
    try:
        ev.repartition(_OBS_FILES).write.mode("overwrite").parquet(src_dir)
        stream = source(spark, src_dir, spark.read.parquet(src_dir).schema, 1)
        q = start(stream.observe("metrics", *metrics), None, available_now=True)
        drain(q)
    finally:
        remove_scratch(spark, src_dir)
    return [
        p["observedMetrics"]["metrics"]
        for p in q.recentProgress
        if p.get("numInputRows", 0) and "metrics" in (p.get("observedMetrics") or {})
    ]


@query(
    "stream_observed_metrics",
    oracle=f"""
    SELECT CAST({_OBS_FILES} AS BIGINT) AS n_batches,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchases,
           CAST(SUM(CASE WHEN value <= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality_fail,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
    FROM events
    """,
    tags=("streaming", "observability", "metrics"),
)
def stream_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run a REAL multi-batch stream over the events table with
    ``observe`` counters attached (rows ingested, purchases seen,
    quality-gate failures, decimal-staged value mass), harvest each
    micro-batch's ``observedMetrics`` from the progress feed, and fold
    them into run totals. The oracle computes the same totals in one
    SQL pass — counters that are SUMS are micro-batch-partition
    invariant, which is precisely why production metrics pipelines
    emit sums/counts and never batch-local extrema.

    The value mass is summed as DECIMAL(30,6) inside each batch,
    shipped through the progress feed as a STRING (the feed is JSON —
    a bare decimal would round through a double above 2^53), and the
    per-batch decimals are added EXACTLY driver-side (Python Decimal),
    so the fold is order-independent and the final double equals the
    oracle's one-pass decimal sum bit-for-bit at ANY scale (the dsum
    convention, extended across the batch dimension).

    n_batches pins the replay width itself: the scratch copy is
    round-robin repartitioned into ``_OBS_FILES`` files and streamed
    with maxFilesPerTrigger=1 under AvailableNow, so exactly that many
    non-empty batches must report metrics.

    Reference parity: beyond the reference — its only observability is
    the coordinator's job-status poll (benchmark.py:246-284, SURVEY.md
    §3.2); per-batch data-quality counters have no counterpart.
    """
    batches = _observed_batches(
        spark,
        sf_dir,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchases"),
        F.sum(F.when(F.col("value") <= 0.0, 1).otherwise(0)).alias("n_quality_fail"),
        # cast the decimal sum to STRING: the progress feed is JSON, and
        # a bare decimal would be rounded through a double there — exact
        # only below 2^53 (≈ sf30 for this column). The string survives
        # the feed bit-exact at any SF and Decimal() parses it back.
        F.sum(F.col("value").cast("decimal(30,6)")).cast("string").alias("sum_value"),
    )
    n_rows = sum(int(b["n_rows"]) for b in batches)
    n_purchases = sum(int(b["n_purchases"]) for b in batches)
    n_quality_fail = sum(int(b["n_quality_fail"]) for b in batches)
    sum_value = float(
        sum((Decimal(str(b["sum_value"])) for b in batches), Decimal(0))
    )
    return spark.createDataFrame(
        [(len(batches), n_rows, n_purchases, n_quality_fail, sum_value)],
        schema="n_batches bigint, n_rows bigint, n_purchases bigint, "
        "n_quality_fail bigint, sum_value double",
    )


#: the events table's five-value event_type enum (a fixed dimension of
#: the data model — the `_BOUNDED_KEYS` convention), spelled as literals
#: because observe() expressions must be closed-form: the per-type
#: breakdown is a fixed family of conditional sums riding ONE pass, not
#: a groupBy (observe cannot aggregate by key).
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "stream_observed_metrics_by_type",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "observability", "metrics"),
)
def stream_observed_metrics_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE observe counters — the breakdown a production ingest
    job actually publishes (rows and value mass per event type per
    micro-batch), delivered as a fixed family of conditional sums on
    ONE ``observe`` pass: ``observe`` cannot run a keyed groupBy, so
    the enum's five members each get a (count, decimal-sum-as-string)
    expression pair — O(|enum|·batches) counter cells, zero extra scans
    or shuffles, the shape a per-language or per-tenant counter board
    uses at 100 TB (the enum must be bounded, which is exactly the
    ``_BOUNDED_KEYS`` discipline).

    Per-batch decimal sums ship through the JSON progress feed as
    strings and fold EXACTLY driver-side (the ``stream_observed_metrics``
    convention), then the run totals pivot to long form — one row per
    event type — matching the oracle's one-pass GROUP BY bit-for-bit.

    Reference parity: beyond the reference — its only observability is
    the coordinator's job-status poll (benchmark.py:246-284, SURVEY.md
    §3.2).
    """
    exprs = []
    for t in _EVENT_TYPES:
        is_t = F.col("event_type") == t
        exprs.append(F.sum(F.when(is_t, 1).otherwise(0)).alias(f"n_{t}"))
        exprs.append(
            F.sum(F.when(is_t, F.col("value")).otherwise(0.0).cast("decimal(30,6)"))
            .cast("string")
            .alias(f"v_{t}")
        )
    batches = _observed_batches(spark, sf_dir, *exprs)
    rows = []
    for t in _EVENT_TYPES:
        n = sum(int(b[f"n_{t}"]) for b in batches)
        v = float(sum((Decimal(str(b[f"v_{t}"])) for b in batches), Decimal(0)))
        rows.append((t, n, v))
    return spark.createDataFrame(
        rows, schema="event_type string, n_rows bigint, sum_value double"
    )


# ------------------------------------------- data-quality GATING ----

#: gate parameters (literals — one spelling, both engines, and the
#: streaming runner): the synthetic dirty feed corrupts every
#: (batch_id + 2)th WITHIN-BATCH row (index = event_id div _DQ_BATCHES
#: — the within-batch coordinate, deliberately independent of the
#: event_id % _DQ_BATCHES shard residue: a predicate on event_id itself
#: would interfere with the sharding modulus through gcd(8, b+2) and
#: give rates 1.0 / 0 / 1/3 instead of 1/(b+2)), so batch b's violation
#: rate is 1/(b+2) ± 1/|batch|: 0.50, 0.33, 0.25, 0.20, ... — batches
#: 0..2 land above the 0.22 threshold and QUARANTINE, batches 3..7
#: PROMOTE, at any SF (margins ≥ 0.02 against the deterministic rates;
#: base value<=0 rate in events is ~0).
_DQ_BATCHES = 8
_DQ_THRESHOLD = 0.22


def _dq_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic dirty feed (the merge_cdc synthesis
    convention): events sharded into `_DQ_BATCHES` data-derived batches
    by ``event_id``, with a batch-CORRELATED corruption (value negated
    for every (batch_id + 2)th event_id) so the per-batch violation
    rates differ and the gate's two decisions both occur."""
    ev = table(spark, sf_dir, "events", fan_out=False)
    batch = (F.col("event_id") % _DQ_BATCHES).alias("batch_id")
    corrupt = F.expr(
        f"(event_id div {_DQ_BATCHES}) % ((event_id % {_DQ_BATCHES}) + 2) = 0"
    )
    return ev.select(
        batch,
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(corrupt, -F.col("value")).otherwise(F.col("value")).alias("value"),
    )


def _stage_once(spark: SparkSession, df: DataFrame, src_dir: str) -> None:
    """Stage ``df`` as the parquet stream source at ``src_dir``, at most
    once per checkpoint lifetime: the skip guard keys on the writer's
    ``_SUCCESS`` marker, NOT bare directory existence — a crash
    mid-staging leaves a partial dir without the marker (and without a
    stream checkpoint, since the stream only starts after staging
    returns), and the re-invocation must re-stage with OVERWRITE rather
    than silently stream an incomplete feed. Once the marker exists,
    re-staging is what would corrupt the run (fresh UUID part names
    would replay every row through the checkpoint), so it is skipped."""
    fs, marker = hadoop_path(spark, f"{src_dir}/_SUCCESS")
    if not fs.exists(marker):
        df.write.mode("overwrite").parquet(src_dir)


def dq_gate_manifest_frame(feed: DataFrame) -> DataFrame:
    """Per-batch data-quality GATE manifest over a feed carrying
    ``batch_id`` and ``value``: one partial-aggregable groupBy computes
    each batch's row count and violation count (value <= 0 — the same
    predicate the observe counters ride), the violation fraction is one
    double division, and the decision is the threshold rule
    (quarantine / promote). Used identically by the registered batch
    twin and the streaming runner's foreachBatch body, so the stream's
    manifest is definitionally the same expression over each
    micro-batch's rows."""
    frac = F.col("n_violations").cast("double") / F.col("n_rows").cast("double")
    return (
        feed.groupBy("batch_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("value") <= 0.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
        )
        .select(
            "batch_id",
            "n_rows",
            "n_violations",
            frac.alias("violation_frac"),
            F.when(frac > _DQ_THRESHOLD, F.lit("quarantine"))
            .otherwise(F.lit("promote"))
            .alias("decision"),
        )
    )


@query(
    "dq_gate_event_batches",
    oracle=f"""
    WITH feed AS (
        SELECT event_id % {_DQ_BATCHES} AS batch_id,
               CASE WHEN (event_id // {_DQ_BATCHES})
                         % ((event_id % {_DQ_BATCHES}) + 2) = 0
                    THEN -value ELSE value END AS value
        FROM events
    ),
    m AS (
        SELECT batch_id, COUNT(*) AS n_rows,
               SUM(CASE WHEN value <= 0.0 THEN 1 ELSE 0 END) AS n_violations
        FROM feed GROUP BY 1
    )
    SELECT batch_id, n_rows,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE) AS violation_frac,
           CASE WHEN CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE)
                     > {_DQ_THRESHOLD}
                THEN 'quarantine' ELSE 'promote' END AS decision
    FROM m ORDER BY batch_id
    """,
    tags=("streaming", "data-quality", "aggregation", "observability"),
)
def dq_gate_event_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH-gating data quality: a deterministic dirty feed (events
    sharded into {n} data-derived batches, violation rate ~1/(b+2) per
    batch) is scored per batch — rows, violations (value <= 0),
    violation fraction — and the threshold gate decides
    quarantine / promote PER BATCH: the admission-control manifest a
    lakehouse ingestion run signs off on before promoting files into
    the clean zone (dq_constraint_violations is the whole-snapshot
    audit; this is its per-batch admission sibling, and the batch twin
    of :func:`run_dq_gated_stream`, which applies the identical
    expression to every micro-batch and physically routes rows).

    Both decisions occur at any SF by construction (rates 1/2..1/9
    against the 0.22 threshold), so the oracle pins the gate's flip
    point, not just counters — and the streaming test injects a
    fully-clean feed to prove the gate can promote everything (the
    falsifiability discipline: the decision must be able to go both
    ways).

    100 TB shape: ONE partial-aggregable groupBy onto O(batches) rows,
    one double division and a CASE per batch row. Nothing collected,
    nothing broadcast.

    Reference parity: beyond the reference — no data-quality or
    admission surface exists there (SURVEY.md §2).
    """
    return dq_gate_manifest_frame(_dq_feed(spark, sf_dir)).orderBy("batch_id")


def run_dq_gated_stream(
    spark: SparkSession,
    sf_dir: str,
    clean_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
):
    """STREAM-side data-quality gating: the dirty feed staged as
    `_DQ_BATCHES` parquet files hash-laid-out by ``batch_id`` and
    replayed with maxFilesPerTrigger=1 — most micro-batches carry one
    data-derived batch, but the gate never assumes it (hash layout can
    co-locate two ids or leave a file empty): decisions are keyed by
    the DATA's ``batch_id``, not the trigger. ``foreachBatch`` scores
    each micro-batch with the SAME
    :func:`dq_gate_manifest_frame` expression the batch twin registers,
    then physically routes every row — promoted batches append to the
    clean zone, failing batches to quarantine (never dropped: the
    quarantine zone is what a human re-drives after the upstream fix).
    The manifest parquet accrues one row per (batch, decision) — the
    admission audit log.

    100 TB shape: per micro-batch one partial-aggregable O(rows) ->
    O(batch_ids) aggregate (a 2-row collect of batch-level decisions —
    O(batches-per-trigger), never data), then one append write per
    zone. State store: none (the gate is stateless per batch; dedup or
    watermarking compose upstream). Crash safety, both directions: the
    staging write is skipped only once its ``_SUCCESS`` marker exists
    (:func:`_stage_once` — re-staging a COMPLETED source would mint new
    UUID part names and replay every row through the checkpoint, while
    a PARTIAL crash-interrupted staging is overwritten), and every zone
    write targets a per-micro-batch ``mb=<id>`` subdirectory with
    overwrite — foreachBatch is at-least-once, so a crash between a
    zone write and the checkpoint commit replays the micro-batch, and
    the replay rewrites its own directory instead of appending
    duplicates; the manifest is the idempotence audit trail.
    """
    # stage inside the caller's checkpoint tree so the whole run is one
    # deletable directory family (no orphaned scratch); stage ONCE per
    # checkpoint lifetime (see crash-safety note above)
    src_dir = f"{checkpoint_dir}_src"
    _stage_once(
        spark, _dq_feed(spark, sf_dir).repartition(_DQ_BATCHES, "batch_id"), src_dir
    )

    def gate(batch_df, batch_id: int) -> None:
        # one pass builds the manifest; the collected O(batch-ids) rows
        # drive the routing AND re-materialize the manifest locally, so
        # the aggregation runs once; persist the batch across the two
        # routed writes (3 source scans otherwise)
        batch_df.persist()
        try:
            mrows = dq_gate_manifest_frame(batch_df).collect()
            quarantined = [r["batch_id"] for r in mrows if r["decision"] == "quarantine"]
            promoted = [r["batch_id"] for r in mrows if r["decision"] == "promote"]
            # foreachBatch is AT-LEAST-ONCE: a crash between a zone
            # write and the checkpoint commit replays this micro-batch,
            # so each zone write targets a per-micro-batch subdirectory
            # (`mb=<id>` — a deterministic function of the replayed
            # batch) with OVERWRITE: the replay rewrites its own
            # directory instead of appending duplicates, making the
            # routing effectively exactly-once (readers of the parent
            # dir see `mb` as one more discovered partition column)
            if promoted:
                batch_df.filter(F.col("batch_id").isin(promoted)).write.mode(
                    "overwrite"
                ).parquet(f"{clean_dir}/mb={batch_id}")
            if quarantined:
                batch_df.filter(F.col("batch_id").isin(quarantined)).write.mode(
                    "overwrite"
                ).parquet(f"{quarantine_dir}/mb={batch_id}")
            if mrows:
                batch_df.sparkSession.createDataFrame(mrows).write.mode(
                    "overwrite"
                ).parquet(f"{checkpoint_dir}_manifest/mb={batch_id}")
        finally:
            batch_df.unpersist()

    stream = source(spark, src_dir, spark.read.parquet(src_dir).schema, 1)
    return start(stream, gate, checkpoint=checkpoint_dir, available_now=True)


def dq_replay_convergence_frame(
    store: DataFrame, v1_zone: DataFrame, reference: DataFrame
) -> DataFrame:
    """Quarantine-REPLAY convergence audit: after an upstream fix, the
    quarantined batches are re-driven and the whole fixed feed
    supersedes the first-pass clean zone through the keep-latest
    upsert — this kernel audits what that replay actually left behind.
    ``store`` is the FINAL clean zone an independent replay job
    produced (the falsifiability discipline: the audited artifact is
    an INPUT, never a re-derivation of the expected answer),
    ``v1_zone`` is the first-pass clean zone, and ``reference`` is the
    all-clean feed the zone must converge to. Per batch it reports:

    - ``n_rows`` — reference rows;
    - ``n_readmitted`` — winning rows whose key the first-pass zone
      never held (a quarantined batch's rows coming back);
    - ``n_superseded`` — winning rows that REPLACED a differing
      first-pass row: the gate's residual blind spot (corrupted rows
      that rode a below-threshold batch into the clean zone) healed by
      the replay — a positive count on promoted batches is the point
      of re-driving the full fixed feed, not just the quarantine;
    - ``n_stale`` — winning rows whose value still differs from the
      reference (a replay that kept first-pass rows shows here);
    - ``n_missing`` — reference keys absent from the store (a batch
      never re-admitted shows here).

    Convergence == every batch reads n_stale = n_missing = 0; the
    injection tests drive both counters positive (a skipped-batch
    replay and a keep-first merge) and pin them to independently
    computed misses (tests/test_streaming.py).

    100 TB shape: three keyed equi/anti joins on the store key + one
    partial-aggregable per-batch rollup folded onto the O(batches)
    spine with left joins; no collects, no broadcast hints, output is
    O(batches) rows.

    Reference parity: beyond the reference — no data-quality or
    admission surface exists there (SURVEY.md §2); composes the DQ
    admission tier with the keep-latest upsert tier (the round-11
    handoff's gap-check candidate).
    """
    ref = reference.select("batch_id", "event_id", F.col("value").alias("ref_value"))
    old = v1_zone.select("event_id", F.col("value").alias("v1_value"))
    win = store.select("batch_id", "event_id", "value", "version")

    spine = ref.groupBy("batch_id").agg(F.count("*").alias("n_rows"))
    replayed = win.filter(F.col("version") == 2).join(old, "event_id", "left")
    readmit = (
        replayed.filter(F.col("v1_value").isNull())
        .groupBy("batch_id")
        .agg(F.count("*").alias("n_readmitted"))
    )
    superseded = (
        replayed.filter(
            F.col("v1_value").isNotNull() & (F.col("value") != F.col("v1_value"))
        )
        .groupBy("batch_id")
        .agg(F.count("*").alias("n_superseded"))
    )
    stale = (
        win.join(ref.select("event_id", "ref_value"), "event_id")
        .filter(F.col("value") != F.col("ref_value"))
        .groupBy("batch_id")
        .agg(F.count("*").alias("n_stale"))
    )
    missing = (
        ref.join(win.select("event_id"), "event_id", "left_anti")
        .groupBy("batch_id")
        .agg(F.count("*").alias("n_missing"))
    )
    out = (
        spine.join(readmit, "batch_id", "left")
        .join(superseded, "batch_id", "left")
        .join(stale, "batch_id", "left")
        .join(missing, "batch_id", "left")
    )
    return out.select(
        "batch_id",
        "n_rows",
        F.coalesce("n_readmitted", F.lit(0)).alias("n_readmitted"),
        F.coalesce("n_superseded", F.lit(0)).alias("n_superseded"),
        F.coalesce("n_stale", F.lit(0)).alias("n_stale"),
        F.coalesce("n_missing", F.lit(0)).alias("n_missing"),
    )


#: DuckDB oracle for the replay face: the dirty feed, the fixed feed
#: (the upstream fix restores the source of truth, so it IS the
#: events table resharded), both gate manifests, the two promoted
#: zones, the version-2-wins keep-latest store, and the per-batch
#: audit counters — every relation an explicit CTE, every counter
#: computed FROM the store CTE (the takedown discipline).
_DQ_REPLAY_ORACLE = f"""
    WITH feed AS (
        SELECT event_id % {_DQ_BATCHES} AS batch_id, event_id,
               CASE WHEN (event_id // {_DQ_BATCHES})
                         % ((event_id % {_DQ_BATCHES}) + 2) = 0
                    THEN -value ELSE value END AS value
        FROM events
    ),
    ref AS (
        SELECT event_id % {_DQ_BATCHES} AS batch_id, event_id, value
        FROM events
    ),
    m1 AS (
        SELECT batch_id,
               CASE WHEN CAST(SUM(CASE WHEN value <= 0.0 THEN 1 ELSE 0 END) AS DOUBLE)
                         / COUNT(*) > {_DQ_THRESHOLD}
                    THEN 'quarantine' ELSE 'promote' END AS decision
        FROM feed GROUP BY batch_id
    ),
    m2 AS (
        SELECT batch_id,
               CASE WHEN CAST(SUM(CASE WHEN value <= 0.0 THEN 1 ELSE 0 END) AS DOUBLE)
                         / COUNT(*) > {_DQ_THRESHOLD}
                    THEN 'quarantine' ELSE 'promote' END AS decision
        FROM ref GROUP BY batch_id
    ),
    v1 AS (
        SELECT f.* FROM feed f JOIN m1 USING (batch_id)
        WHERE m1.decision = 'promote'
    ),
    v2 AS (
        SELECT r.* FROM ref r JOIN m2 USING (batch_id)
        WHERE m2.decision = 'promote'
    ),
    store AS (
        SELECT batch_id, event_id, value, version FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                         ORDER BY version DESC) AS rn
            FROM (SELECT *, 1 AS version FROM v1
                  UNION ALL
                  SELECT *, 2 AS version FROM v2)
        ) WHERE rn = 1
    ),
    replayed AS (
        SELECT s.batch_id, s.event_id, s.value, o.value AS v1_value
        FROM store s LEFT JOIN v1 o ON s.event_id = o.event_id
        WHERE s.version = 2
    ),
    readmit AS (
        SELECT batch_id, COUNT(*) AS n_readmitted FROM replayed
        WHERE v1_value IS NULL GROUP BY batch_id
    ),
    sup AS (
        SELECT batch_id, COUNT(*) AS n_superseded FROM replayed
        WHERE v1_value IS NOT NULL AND value <> v1_value GROUP BY batch_id
    ),
    stale AS (
        SELECT s.batch_id, COUNT(*) AS n_stale
        FROM store s JOIN ref r ON s.event_id = r.event_id
        WHERE s.value <> r.value GROUP BY s.batch_id
    ),
    miss AS (
        SELECT r.batch_id, COUNT(*) AS n_missing
        FROM ref r WHERE r.event_id NOT IN (SELECT event_id FROM store)
        GROUP BY r.batch_id
    ),
    spine AS (
        SELECT batch_id, COUNT(*) AS n_rows FROM ref GROUP BY batch_id
    )
    SELECT sp.batch_id,
           m1.decision AS first_decision,
           m2.decision AS replay_decision,
           sp.n_rows,
           COALESCE(readmit.n_readmitted, 0) AS n_readmitted,
           COALESCE(sup.n_superseded, 0) AS n_superseded,
           COALESCE(stale.n_stale, 0) AS n_stale,
           COALESCE(miss.n_missing, 0) AS n_missing
    FROM spine sp
    JOIN m1 USING (batch_id) JOIN m2 USING (batch_id)
    LEFT JOIN readmit USING (batch_id)
    LEFT JOIN sup USING (batch_id)
    LEFT JOIN stale USING (batch_id)
    LEFT JOIN miss USING (batch_id)
    ORDER BY sp.batch_id
"""


@query(
    "dq_quarantine_replay",
    oracle=_DQ_REPLAY_ORACLE,
    tags=("streaming", "data-quality", "join", "aggregation", "upsert"),
)
def dq_quarantine_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine REPLAY after an upstream fix — the admission story's
    second act, composing the DQ gate with the keep-latest upsert:
    pass 1 gates the DIRTY feed (:func:`_dq_feed` — batches 0..2
    quarantine, 3..7 promote WITH their residual below-threshold
    corrupted rows), the upstream fix restores the source of truth
    (the fixed feed is the events table itself, resharded), pass 2
    re-drives the WHOLE fixed feed through the SAME gate (everything
    promotes), and the clean zone is the version-2-wins keep-latest
    merge of both passes — so a re-driven feed supersedes stale rows
    instead of duplicating them, the reason admission gating composes
    with the upsert tier rather than plain appends.
    :func:`dq_replay_convergence_frame` audits the merged store: the
    quarantined batches read their full count as ``n_readmitted``, the
    promoted batches read their silent corrupted-row count as
    ``n_superseded`` (the gate's per-batch threshold is not row-exact
    — the replay is what heals the rows the gate let through), and
    convergence is ``n_stale = n_missing = 0`` everywhere, falsifiable
    by the skipped-batch and keep-first injections
    (tests/test_streaming.py).

    100 TB shape: two partial-aggregable gate rollups onto O(batches)
    rows, two broadcast semi joins of the feed against the 8-row
    decision manifests, one partial-aggregable per-key argmax (map
    tasks pre-reduce to one candidate per key per version set), and
    the kernel's keyed audit joins. No collects; output is O(batches)
    rows at any SF.
    """
    feed = _dq_feed(spark, sf_dir)
    ref = table(spark, sf_dir, "events", fan_out=False).select(
        (F.col("event_id") % _DQ_BATCHES).alias("batch_id"), "event_id", "value"
    )
    m1 = dq_gate_manifest_frame(feed).select("batch_id", "decision")
    m2 = dq_gate_manifest_frame(ref).select("batch_id", "decision")
    v1 = feed.select("batch_id", "event_id", "value").join(
        m1.filter(F.col("decision") == "promote").select("batch_id"),
        "batch_id",
        "left_semi",
    )
    v2 = ref.join(
        m2.filter(F.col("decision") == "promote").select("batch_id"),
        "batch_id",
        "left_semi",
    )
    both = v1.withColumn("version", F.lit(1)).unionByName(
        v2.withColumn("version", F.lit(2))
    )
    store = (
        both.groupBy("event_id")
        .agg(F.max(F.struct("version", "batch_id", "value")).alias("m"))
        .select(
            F.col("m.batch_id").alias("batch_id"),
            "event_id",
            F.col("m.value").alias("value"),
            F.col("m.version").alias("version"),
        )
    )
    audit = dq_replay_convergence_frame(store, v1, ref)
    return (
        audit.join(m1.withColumnRenamed("decision", "first_decision"), "batch_id")
        .join(m2.withColumnRenamed("decision", "replay_decision"), "batch_id")
        .select(
            "batch_id",
            "first_decision",
            "replay_decision",
            "n_rows",
            "n_readmitted",
            "n_superseded",
            "n_stale",
            "n_missing",
        )
        .orderBy("batch_id")
    )


def _replay_merge_batch(store_dir: str):
    """foreachBatch body shared by both phases of the replay runner:
    version-argmax merge of the micro-batch's gate-promoted rows into
    the bucketed store (bucket == the data-derived ``batch_id``, so a
    micro-batch touches only its own batch partitions — the
    run_streaming_upsert locality bound). Idempotent under checkpoint
    replays: re-merging the same (event_id, version) rows is a no-op
    because the argmax is."""

    def merge(batch_df, batch_id: int) -> None:
        sp = batch_df.sparkSession
        mrows = dq_gate_manifest_frame(batch_df.drop("version")).collect()
        promoted = [r["batch_id"] for r in mrows if r["decision"] == "promote"]
        if not promoted:
            return
        # prune to the store schema BEFORE the merge: the staged feed
        # carries the full event payload, the store only the audit
        # columns, and unionByName is schema-exact
        fresh = batch_df.filter(F.col("batch_id").isin(promoted)).select(
            "event_id", "batch_id", "value", "version"
        )
        fs, path = hadoop_path(sp, store_dir)
        if fs.exists(path):
            old = sp.read.parquet(store_dir).where(F.col("batch_id").isin(promoted))
            src = old.unionByName(fresh)
        else:
            src = fresh
        merged = (
            src.groupBy("event_id")
            .agg(F.max(F.struct("version", "batch_id", "value")).alias("m"))
            .select(
                "event_id",
                F.col("m.batch_id").alias("batch_id"),
                F.col("m.value").alias("value"),
                F.col("m.version").alias("version"),
            )
        )
        (
            merged.localCheckpoint(eager=True)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store_dir)
        )

    return merge


def run_dq_replay_stream(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> None:
    """END-TO-END quarantine-replay runner — STAGED round-12 kernel
    (tested library code, pinned to the registered
    :func:`dq_quarantine_replay` batch face in tests/test_streaming.py;
    the r12 face would register a drained-store audit with the same
    oracle, per the staged→register template): the admission story
    driven as TWO real streams against ONE versioned upsert store.

    Phase 1 streams the DIRTY feed (maxFilesPerTrigger=1, the
    run_dq_gated_stream staging convention) and merges each
    micro-batch's gate-PROMOTED rows into the store at version 1 —
    quarantined batches never reach the store, exactly the routing the
    gated runner performs. Phase 2 streams the FIXED feed (the
    upstream fix restores the source of truth) through the SAME gate
    expression and merges at version 2 — the version-argmax supersedes
    phase-1 rows instead of duplicating them, so the drained store IS
    the registered face's in-plan merge, row for row (the stream==twin
    pin), and re-running phase 2 over its checkpoint is a no-op (the
    idempotence pin).

    Checkpoint interplay this runner exists to pin: the two phases
    share the store but NOT a checkpoint (each phase is its own
    bounded AvailableNow query over its own staged source), and a
    crash between the phases leaves a store that is exactly the
    phase-1 gated zone — re-invoking resumes phase 2 from its own
    checkpoint without re-admitting anything phase 1 quarantined.

    100 TB shape: per micro-batch one O(rows)->O(batch-ids) manifest
    aggregate (2-row collect of decisions, never data), then the
    touched-bucket argmax merge (bucket == batch_id, so cost per
    micro-batch is O(its own batches' store slice), not O(store)).
    """
    for version, feed in ((1, _dq_feed(spark, sf_dir)), (2, None)):
        if feed is None:
            feed = table(spark, sf_dir, "events", fan_out=False).select(
                (F.col("event_id") % _DQ_BATCHES).alias("batch_id"),
                "event_id",
                "user_id",
                "ts",
                "event_type",
                "value",
            )
        src_dir = f"{checkpoint_dir}_src_v{version}"
        _stage_once(
            spark,
            feed.withColumn("version", F.lit(version)).repartition(
                _DQ_BATCHES, "batch_id"
            ),
            src_dir,
        )
        stream = source(spark, src_dir, spark.read.parquet(src_dir).schema, 1)
        merge = _replay_merge_batch(store_dir)
        drain(start(stream, merge, checkpoint=f"{checkpoint_dir}_v{version}", available_now=True))
