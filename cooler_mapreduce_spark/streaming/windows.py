"""Windowed event aggregations — batch twins (oracle-checked) + streaming
runners.

Scale notes: streaming state for tumbling/sliding windows is bounded by
(watermark horizon / slide) × key cardinality; the watermark bounds both
lateness tolerance and state size — at 100 TB/day the 10-minute watermark
here is the knob that keeps the state store finite. Session windows merge
in the state store; ``session_window`` + watermark is the streaming twin
of the lag/cumsum batch sessionization in ``operators.windows``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.numeric import davg, dsum, sql_davg, sql_dsum
from ..operators.aggregates import ohlc_aggs
from ..operators.joins import _BLOOM_HOT_BAL, bloom_build, bloom_might_contain
from ..registry import query
from ..sources.catalog import table
from .io import DOCUMENTS_SCHEMA, event_stream, source, start

#: event-time watermark of the windowed runners, and of the stream-stream
#: joins (whose horizon must also cover the 30-minute attribution range)
_WATERMARK = "10 minutes"
_JOIN_WATERMARK = "1 hour"
#: bounded replays are one micro-batch, and append mode only emits a
#: window once a LATER batch advances the watermark past its end, so the
#: aggregating runners emit in complete mode (see run_tumbling_stream)
_AGG_MODE = "complete"
_SESSION_GAP = "30 minutes"


def _watermarked(spark: SparkSession, sf_dir: str, delay: str = _WATERMARK) -> DataFrame:
    return event_stream(spark, sf_dir).withWatermark("ts", delay)


# ---------------------------------------------- shared twin bodies ----


def _window_counts(ev: DataFrame, *slide: str) -> DataFrame:
    """Per event type: count and avg value over 1-hour windows (tumbling,
    or sliding every ``slide``)."""
    return (
        ev.groupBy(F.window("ts", "1 hour", *slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), davg("value", 6).alias("avg_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def _sessions(ev: DataFrame) -> DataFrame:
    return (
        ev.groupBy(F.session_window("ts", _SESSION_GAP).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def _segment_counts(ev: DataFrame, sf_dir: str) -> DataFrame:
    # fan_out=False: customer is the broadcast BUILD side here (events
    # streams; the stream re-plans it per micro-batch), so its
    # single-split fan-out exchange bought nothing — the tiles-stream
    # A/B (tiles.py) measured the identical pattern.
    cust = table(ev.sparkSession, sf_dir, "customer", fan_out=False)
    return (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_events"), davg("value", 6).alias("avg_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "segment",
            "n_events",
            "avg_value",
        )
    )


def _attribution(clicks: DataFrame, purchases: DataFrame, how: str) -> DataFrame:
    """Clicks joined to the same user's purchases in the following 30
    minutes: an equi-join on user_id with a time-range residual."""
    c = clicks.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    p = purchases.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (c.user_id == p.p_user_id)
        & (p.purchase_ts >= c.click_ts)
        & (p.purchase_ts < c.click_ts + F.expr("INTERVAL 30 MINUTES")),
        how,
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")


def _hot_segment_sums(ev: DataFrame, sf_dir: str, attach) -> DataFrame:
    """Events of hot customers (c_acctbal > _BLOOM_HOT_BAL) gated by their
    16 KB bloom, then joined exactly: hourly count and value sum per
    segment. ``attach(ev, bf)`` puts the one-row bloom next to every
    event — the step the batch and stream twins spell differently."""
    hot = (
        table(ev.sparkSession, sf_dir, "customer", fan_out=False)
        .filter(F.col("c_acctbal") > _BLOOM_HOT_BAL)
        .select("c_custkey", "c_mktsegment")
    )
    bf = bloom_build(hot.select("c_custkey"), "c_custkey")
    gated = attach(ev, bf).filter(bloom_might_contain("bf", "user_id")).drop("bf")
    return (
        gated.join(hot, gated.user_id == hot.c_custkey)
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count("*").alias("n_events"), dsum("value", 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "segment",
            "n_events",
            "sum_value",
        )
    )


# ------------------------------------------------------- batch twins ----


@query(
    "stream_tumbling_counts",
    oracle=f"""
    SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS window_start,
           CAST(time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
           event_type,
           COUNT(*) AS n_events,
           {sql_davg('value', 6)} AS avg_value
    FROM events GROUP BY 1, 2, 3
    """,
    tags=("streaming", "window", "tumbling"),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type (batch twin of the
    streaming query in :func:`run_tumbling_stream` — same ``window``
    expression, same results on bounded input)."""
    return _window_counts(table(spark, sf_dir, "events", fan_out=False))


@query(
    "stream_sliding_value_sum",
    oracle=f"""
    WITH k AS (SELECT unnest(generate_series(0, 3)) AS k),
    windows AS (
        SELECT CAST(time_bucket(INTERVAL 15 MINUTE, ts) - to_minutes(k.k * 15) AS TIMESTAMP) AS window_start,
               event_type, value
        FROM events, k
    )
    SELECT window_start,
           CAST(window_start + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
           event_type,
           COUNT(*) AS n_events,
           {sql_davg('value', 6)} AS avg_value
    FROM windows GROUP BY 1, 2, 3
    """,
    tags=("streaming", "window", "sliding"),
)
def stream_sliding_value_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes (each event lands in 4
    windows — Spark's ``window(ts, '1 hour', '15 minutes')`` and the
    oracle's explicit 4-way window expansion are the same algebra)."""
    return _window_counts(table(spark, sf_dir, "events"), "15 minutes")


@query(
    "stream_session_windows",
    oracle="""
    WITH gapped AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts,
               CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_seq
        FROM gapped
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_seq
    """,
    tags=("streaming", "window", "session"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``session_window(ts, '30 minutes')`` per user — Spark merges events
    whose windows overlap (gap *strictly* less than 30 min ⇒ same
    session; the oracle's is_start uses ``>=`` accordingly). Session end
    is last-event + gap, per session-window semantics."""
    return _sessions(table(spark, sf_dir, "events"))


@query(
    "stream_enriched_segment_counts",
    oracle=f"""
    SELECT CAST(time_bucket(INTERVAL 1 HOUR, e.ts) AS TIMESTAMP) AS window_start,
           c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           {sql_davg('e.value', 6)} AS avg_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    tags=("streaming", "join", "enrichment"),
)
def stream_enriched_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join: events decorated
    with the customer's market segment, then hourly counts per segment.
    customer is SF-scaled so it carries no broadcast hint — the size
    threshold broadcasts it at test SF (only shuffle is the windowed
    agg) and degrades to a shuffle join at 100 TB."""
    return _segment_counts(table(spark, sf_dir, "events"), sf_dir)


@query(
    "stream_stream_click_purchase",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "join", "stream-stream"),
)
def stream_stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream join: purchases attributed to a
    click by the same user within the preceding 30 minutes. Equi-join on
    user_id with a time-range residual — a hash join, never a cross
    product."""
    # fan_out=False: both filtered legs re-partition on user_id at the
    # join (one is a broadcast build at test SF) — the fan-out shuffle
    # was redundant (r11 window-family A/B)
    ev = table(spark, sf_dir, "events", fan_out=False)
    return _attribution(ev, ev, "inner")


@query(
    "stream_stream_left_outer_clicks",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c LEFT JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click'
    """,
    tags=("streaming", "join", "stream-stream", "outer"),
)
def stream_stream_left_outer_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of :func:`run_stream_stream_left_join` — every click,
    matched to purchases by the same user in the following 30 minutes,
    null-extended when unconverted. The conversion-funnel denominator:
    the inner twin above loses the unconverted clicks that this one
    keeps, and those null rows are precisely what the streaming side
    may only emit after the watermark proves no match can still arrive
    (state eviction as emission — see the streaming runner's
    docstring). The filters sit UNDER the join (pushed to both scan
    sides); the join itself is an equi-join on user_id with a
    time-range residual — hash-partitioned, never a cross product, and
    the null-extension adds no extra exchange.
    """
    # fan_out=False: as in the inner twin above
    ev = table(spark, sf_dir, "events", fan_out=False)
    return _attribution(ev, ev, "leftOuter")


@query(
    "stream_bloom_gated_segments",
    oracle=f"""
    SELECT CAST(time_bucket(INTERVAL 1 HOUR, e.ts) AS TIMESTAMP) AS window_start,
           c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           {sql_dsum('e.value', 6)} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE c.c_acctbal > {_BLOOM_HOT_BAL}
    GROUP BY 1, 2
    """,
    tags=("streaming", "join", "bloom", "filter", "enrichment"),
)
def stream_bloom_gated_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the bloom-pruned stream-static enrichment
    (:func:`run_bloom_gated_stream`): the hot-customer dimension
    (c_acctbal > 9900, ~1%) folds its keys into ONE 16 KB packed bloom,
    every event probes the bitmap BEFORE the enrichment join (gate
    first, join second), and the exact inner join kills the bloom's
    false positives — so the gate changes the per-batch plan, never
    the answer, and the oracle is the PLAIN hot join. Output: hourly
    event count + exact decimal value sum per hot segment.

    100 TB shape: the cold ~99% of the event volume dies at the probe
    (4 hash+bit ops per row against a 1-row 16 KB broadcast) and never
    reaches the join exchange; the bloom build is O(hot × k) exploded
    positions folding into 2048 word masks. This is the composed
    production shape for high-selectivity streaming enrichment — the
    streaming runner re-plans the static side per micro-batch, but its
    payload on the stream path stays the fixed 16 KB row regardless of
    dimension size.

    Reference parity: beyond the reference — no streaming or join
    surface exists there (SURVEY.md §2.4); the semi-join-reduction
    pattern's streaming member (round-10 staged kernel, registered
    round-11).
    """
    return _hot_segment_sums(
        table(spark, sf_dir, "events", fan_out=False),
        sf_dir,
        lambda ev, bf: ev.crossJoin(F.broadcast(bf)),
    )


# --------------------------------------------------- streaming runners ----


def run_tumbling_stream(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "tumbling_out",
    available_now: bool = False,
):
    """Start the streaming twin of ``stream_tumbling_counts``: watermarked
    tumbling-window counts into a memory sink. Returns the StreamingQuery
    (caller drives it, e.g. :func:`~.io.drain`).

    The output mode is ``complete`` because a bounded file source is
    one micro-batch — append mode only emits a window once a *later*
    batch advances the watermark past its end, so a single-batch drive
    would emit nothing. Long-running deployments use ``append`` +
    watermark so state is evicted and each window emits exactly once.

    ``available_now=True`` starts the query with Trigger.AvailableNow —
    the production catch-up mode: process everything present at start
    (respecting per-batch source limits), then TERMINATE, persisting
    offsets so the next start resumes incrementally. This is how a
    cron-scheduled job drains a backlog with streaming semantics
    (exactly-once, bounded state) but batch lifecycle (no always-on
    cluster); the caller awaits termination instead of draining.
    """
    return start(
        _window_counts(_watermarked(spark, sf_dir)),
        query_name,
        mode=_AGG_MODE,
        available_now=available_now,
    )


def run_sliding_stream(spark: SparkSession, sf_dir: str, query_name: str = "sliding_out"):
    """Streaming twin of ``stream_sliding_value_sum`` (see
    :func:`run_tumbling_stream` for the output-mode rationale)."""
    return start(
        _window_counts(_watermarked(spark, sf_dir), "15 minutes"), query_name, mode=_AGG_MODE
    )


def run_session_stream(spark: SparkSession, sf_dir: str, query_name: str = "session_out"):
    """Streaming twin of ``stream_session_windows``: gap-merged per-user
    sessions maintained in the state store. Complete mode for the
    bounded single-batch drive (see ``run_tumbling_stream`` rationale);
    production uses append + watermark so closed sessions emit once and
    their state is evicted."""
    return start(_sessions(_watermarked(spark, sf_dir)), query_name, mode=_AGG_MODE)


def run_enriched_stream(spark: SparkSession, sf_dir: str, query_name: str = "enriched_out"):
    """Stream-static join: the event stream enriched against the STATIC
    customer dimension — no watermark needed on the static side, no
    state kept for it; Spark re-plans the dimension side per micro-batch
    (so slowly-changing dims pick up updates between batches) and, with
    no hint on the SF-scaled customer table, picks broadcast by size at
    test SF and a shuffle join at scale. This is
    the canonical streaming-ETL enrichment; stream-stream joins (both
    sides unbounded + dual watermarks) are the state-heavy cousin the
    pipeline avoids when one side is a dimension.
    """
    return start(
        _segment_counts(_watermarked(spark, sf_dir), sf_dir), query_name, mode=_AGG_MODE
    )


def run_stream_stream_join(spark: SparkSession, sf_dir: str, query_name: str = "ss_join_out"):
    """Stream-stream inner join, BOTH sides unbounded: clicks wait in the
    state store for purchases and vice versa. The dual watermarks plus
    the time-range join condition are what make state finite — Spark
    derives a state-eviction horizon from them (a click older than
    watermark + 30 min can never match a future purchase and is
    dropped), so state is bounded by the event rate × horizon, not the
    stream's lifetime. Inner-join matches emit immediately in append
    mode; this is the attribution-pipeline pattern where BOTH sides are
    live feeds (contrast run_enriched_stream's static dimension).
    """
    legs = [_watermarked(spark, sf_dir, _JOIN_WATERMARK) for _ in range(2)]
    return start(_attribution(*legs, "inner"), query_name)


def run_stream_stream_left_join(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "ss_left_join_out",
    source_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Stream-stream LEFT OUTER join — the attribution pattern where
    unconverted clicks must ALSO be emitted (with null purchase).

    Outer semantics force a second timing contract on top of the inner
    join's: a matched row emits immediately, but an UNMATCHED click can
    only emit once the watermark proves no future purchase can still
    match it (click_ts + 30 min join horizon + watermark delay). Until
    then the click sits in the state store as a candidate; when the
    watermark passes its horizon, Spark evicts it and emits the
    null-extended row in the same (or a no-data) micro-batch. State
    stays bounded exactly as in the inner join — eviction is the
    emission mechanism, not just cleanup.

    Consequence on a bounded replay: clicks whose horizon the FINAL
    watermark never passes (the tail of the stream) are still
    state-resident at shutdown — correct behavior, asserted in the
    test; a live deployment keeps draining them as event time advances.

    ``source_dir``/``max_files_per_trigger`` let tests feed the same
    schema through multiple micro-batches (one file per trigger) so the
    watermark actually advances between batches; production points this
    at the live feed directory.
    """
    legs = [
        event_stream(spark, sf_dir, source_dir, max_files_per_trigger).withWatermark(
            "ts", _WATERMARK
        )
        for _ in range(2)
    ]
    return start(_attribution(*legs, "leftOuter"), query_name)


def run_ohlc_stream(spark: SparkSession, sf_dir: str, query_name: str = "ohlc_out"):
    """Streaming twin of ``operators.aggregates.ohlc_hourly_by_type``:
    continuously-maintained OHLC candles — the hypertable continuous
    aggregate, as a watermarked streaming query. The candle aggregates
    are the batch query's (:func:`~..operators.aggregates.ohlc_aggs`);
    only the bucket differs, ``window`` here (watermarks need a window)
    against the batch query's wall-clock truncation.

    The batch tier's insight carries over unchanged: open/close are
    struct extrema over (ts, event_id, value), which are ASSOCIATIVE,
    so the streaming state per (window × type) group is just the two
    candidate structs plus the decimal volume sum and the count — O(1)
    per group, merged incrementally as micro-batches arrive, never a
    per-event buffer. The watermark bounds how many window groups stay
    live; everything older is emittable/evictable. An order-dependent
    "first value" formulation (ROW_NUMBER) would need per-window event
    retention — unbounded state; the associative form is what makes
    the candle streamable at all.
    """
    agg = (
        _watermarked(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(*ohlc_aggs())
        .select(F.col("w.start").alias("bucket"), "event_type", "open", "high", "low",
                "close", "volume", "n_events")
    )
    return start(agg, query_name, mode=_AGG_MODE)


def run_cms_stream(spark: SparkSession, sf_dir: str, query_name: str = "cms_out"):
    """Continuously-maintained count-min sketch over the documents
    stream: the same 4×1024 cell construction as the batch
    ``cms_heavy_hitters`` build (operators/textstats.py), kept live by a
    streaming aggregation.

    This works because CMS cells are COUNTS — the canonical mergeable
    streaming state. The per-micro-batch partials fold into at most
    d×w = 4096 state rows, so sketch state is size-independent of the
    stream: the property that lets a 100 TB/day ingest keep live
    heavy-hitter estimates without ever storing tokens. Complete-mode
    memory sink; convergence to the batch cells is pinned by test.
    """
    from ..operators.textstats import _CMS_D, _cms_bucket_sql
    from ..functions.hashing import md5int_spark

    raw = source(spark, f"{sf_dir}/documents.parque*", DOCUMENTS_SCHEMA)
    toks = raw.select(F.explode(F.split(F.lower("text"), " ")).alias("term"))
    h = md5int_spark("term")
    buckets = F.array(*[F.expr(_cms_bucket_sql(j, h)) for j in range(_CMS_D)])
    cells = (
        toks.select(F.posexplode(buckets).alias("j", "bucket"))
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("c"))
    )
    return start(cells, query_name, mode=_AGG_MODE)


def run_bloom_gated_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "bloom_gated_out"
):
    """BLOOM-PRUNED stream-static enrichment (registered batch twin:
    :func:`stream_bloom_gated_segments`, the same body).

    The hot-customer dimension folds its join keys into ONE 16 KB bloom
    (:func:`~cooler_mapreduce_spark.operators.joins.bloom_build` — the
    public-op composition) on the STATIC side; the bloom attaches to
    the stream through a literal-key equi-join (stream-static CROSS
    joins are unsupported — an inner equi-join on a lit(1) key is the
    supported 1-row-broadcast spelling) and every micro-batch probes
    the packed bitmap BEFORE the enrichment join, so the cold ~99% of
    events never reaches the join at all. False positives die in the
    exact stream-static inner join downstream — the bloom changes the
    per-batch plan, never the answer.

    100 TB shape: the static side re-plans per micro-batch (picking up
    slowly-changing dims), but its payload on the stream path is the
    FIXED 16 KB row regardless of dimension size; per-batch stream work
    is 4 hash+bit ops per event plus the join on survivors only. This
    is the streaming twin of ``bloom_prefilter_hot_orders`` and the
    composed production shape for high-selectivity streaming
    enrichment (gate first, join second).
    """

    def attach(ev: DataFrame, bf: DataFrame) -> DataFrame:
        return ev.withColumn("k", F.lit(1)).join(bf.withColumn("k", F.lit(1)), "k").drop("k")

    return start(
        _hot_segment_sums(_watermarked(spark, sf_dir), sf_dir, attach),
        query_name,
        mode=_AGG_MODE,
    )
