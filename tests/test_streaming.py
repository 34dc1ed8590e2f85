"""Streaming tests: incremental execution must reproduce the batch twins.

Strategy from SURVEY.md §5 carry-over: the batch twin is oracle-checked
(test_oracle_parity), so streaming == batch ⇒ streaming == oracle.
Memory sink + ``drain`` (processAllAvailable, then stop) drives the
bounded parquet source to completion synchronously.
"""

from __future__ import annotations

import pytest

from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from cooler_mapreduce_spark.registry import load_all
from cooler_mapreduce_spark.sources.catalog import table
from cooler_mapreduce_spark.streaming import windows as W
from cooler_mapreduce_spark.streaming.io import drain, source, start
from cooler_mapreduce_spark.streaming.stateful import run_user_totals_stream

SPECS = load_all()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _twin_parity(runner, batch, sink, sf="sf_dir", **kw):
    """The streaming==batch check of one twin pair: drain ``runner`` into
    the memory sink ``sink`` and compare its sorted rows with the
    registered ``batch`` query's (projected to the sink's columns); the
    pair's rows must not be empty. One body, instantiated per pair below
    so each pair keeps its own test id."""

    def test(spark, request):
        d = request.getfixturevalue(sf)
        q = runner(spark, d, query_name=sink, **kw)
        if kw.get("available_now"):
            assert q.awaitTermination(120), "availableNow query did not self-terminate"
        drain(q)
        got = spark.table(sink)
        rows = _rows(got)
        assert rows
        assert rows == _rows(SPECS[batch].fn(spark, d).select(*got.columns))

    return test


test_tumbling_stream_equals_batch = _twin_parity(
    W.run_tumbling_stream, "stream_tumbling_counts", "t_tumbling"
)
test_available_now_trigger_terminates_and_matches_batch = _twin_parity(
    W.run_tumbling_stream, "stream_tumbling_counts", "t_avail_now", available_now=True
)
test_sliding_stream_equals_batch = _twin_parity(
    W.run_sliding_stream, "stream_sliding_value_sum", "t_sliding"
)
test_session_stream_equals_batch_twin = _twin_parity(
    W.run_session_stream, "stream_session_windows", "t_sessions"
)
test_enriched_stream_equals_batch = _twin_parity(
    W.run_enriched_stream, "stream_enriched_segment_counts", "t_enriched"
)
test_stream_stream_join_equals_batch = _twin_parity(
    W.run_stream_stream_join, "stream_stream_click_purchase", "t_ss_join"
)
# the streaming candles (``window`` bucket) against the batch downsample
# (wall-clock bucket): struct-extremum open/close merge associatively
# across micro-batches, so the drain reproduces the batch rollup exactly
test_ohlc_stream_equals_batch = _twin_parity(
    W.run_ohlc_stream, "ohlc_hourly_by_type", "t_ohlc"
)
# at the oracle SF: sf0.001 has ZERO hot-customer events, the positive
# path needs this density; the bloom admits false positives by design
# and the exact join must kill every one, so the gate never changes rows
test_bloom_gated_stream_equals_batch = _twin_parity(
    W.run_bloom_gated_stream, "stream_bloom_gated_segments", "t_bloom_gated", sf="oracle_sf_dir"
)


def test_stateful_user_totals_equals_batch(spark, sf_dir):
    drain(run_user_totals_stream(spark, sf_dir, query_name="t_totals"))
    # update mode: last emitted row per user is the final state
    got = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
            FROM t_totals
        ) WHERE rn = 1
        """
    )
    ev = table(spark, sf_dir, "events")
    want = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
    g = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in got.collect()}
    w = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in want.collect()}
    assert g == w


def test_transform_with_state_equals_batch(spark, sf_dir):
    """transformWithStateInPandas (MapState per user: event_type → count)
    must reproduce the batch groupBy on bounded input. Update mode: the
    last emitted row per (user, event_type) is the final count.

    Auto-skips where pyspark's optional protobuf dependency (the
    transformWithState state-server protocol) is absent — see
    transform_state.py's module docstring."""
    from cooler_mapreduce_spark.streaming.transform_state import (
        have_protobuf,
        run_user_type_counts_stream,
    )

    if not have_protobuf():
        pytest.skip("optional protobuf dependency absent (state protocol)")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    q = run_user_type_counts_stream(spark, sf_dir, query_name="t_type_counts")
    # the library function must restore the session's provider itself —
    # only the stream's cloned session keeps RocksDB
    after = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    assert after == prev, "run_user_type_counts_stream leaked the provider conf"
    drain(q)
    got = spark.sql(
        """
        SELECT user_id, event_type, n_events FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id, event_type ORDER BY n_events DESC) rn
            FROM t_type_counts
        ) WHERE rn = 1
        """
    )
    want = SPECS["stream_user_type_counts"].fn(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_transform_with_state_guard_is_explicit(spark, sf_dir):
    """Where protobuf is absent the stream constructor must fail with the
    actionable ImportError, not the opaque 'driver worker crashed' the
    raw API produces (observed: the pre-init state server dies on
    `from google.protobuf import descriptor` inside the worker)."""
    from cooler_mapreduce_spark.streaming.transform_state import (
        have_protobuf,
        run_user_type_counts_stream,
    )

    if have_protobuf():
        pytest.skip("protobuf present; covered by the equals-batch test")
    with pytest.raises(ImportError, match="protobuf"):
        run_user_type_counts_stream(spark, sf_dir, query_name="t_guard")


def test_session_window_batch_twin_matches_manual_sessionization(spark, sf_dir):
    """session_window must agree with the lag/cumsum formulation on
    session boundaries (n_events per user)."""
    sw = SPECS["stream_session_windows"].fn(spark, sf_dir)
    manual = SPECS["sessionize_events"].fn(spark, sf_dir)
    a = sorted((r["user_id"], r["n_events"]) for r in sw.collect())
    b = sorted((r["user_id"], r["n_events"]) for r in manual.collect())
    assert a == b


def test_streaming_dedup_equals_batch_distinct(spark, sf_dir):
    """Streaming dropDuplicates must pass exactly one row per distinct
    content hash — the streaming twin of dedup_exact's universe."""
    from cooler_mapreduce_spark.sources.catalog import table
    from cooler_mapreduce_spark.streaming.dedup import run_streaming_dedup

    drain(run_streaming_dedup(spark, sf_dir, query_name="t_dedup"))
    got = spark.sql("SELECT content_hash FROM t_dedup")
    assert got.count() == got.distinct().count()
    want = (
        table(spark, sf_dir, "documents")
        .select(F.md5(F.col("text").cast("binary")).alias("h"))
        .distinct()
        .count()
    )
    assert got.count() == want


def test_streaming_dedup_watermarked_across_batches(spark, tmp_path):
    """The horizon-bounded dedup branch must drop duplicates that arrive
    in DIFFERENT micro-batches while inside the lateness horizon — the
    semantics its docstring claims. Two parquet files share one text;
    maxFilesPerTrigger=1 forces them into separate batches, so a dedup
    key that included per-batch processing time would leak the duplicate
    through."""
    from cooler_mapreduce_spark.streaming.dedup import run_streaming_dedup

    import glob as _glob
    import shutil

    src = tmp_path / "stream_src"
    files = src / "documents.parquet"
    files.mkdir(parents=True)
    cols = ["doc_id", "source", "lang", "text", "n_chars"]
    batches = [
        [(1, "s", "en", "shared text", 11), (2, "s", "en", "only in batch one", 17)],
        [(3, "s", "en", "shared text", 11), (4, "s", "en", "only in batch two", 17)],
    ]
    for i, rows_ in enumerate(batches):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(rows_, cols).coalesce(1).write.parquet(str(stage))
        (part,) = _glob.glob(str(stage / "part-*.parquet"))
        shutil.copy(part, files / f"{i}.parquet")

    drain(run_streaming_dedup(
        spark, str(src), query_name="t_dedup_wm", watermark="1 hour", max_files_per_trigger=1
    ))
    out = spark.sql("SELECT content_hash FROM t_dedup_wm")
    # 3 distinct texts -> 3 rows; the cross-batch duplicate is dropped
    assert out.count() == 3
    assert out.distinct().count() == 3


def test_stream_to_parquet_sink(spark, sf_dir, tmp_path):
    """foreachBatch parquet sink: partitioned layout appears and totals
    match the batch twin's event counts."""
    from cooler_mapreduce_spark.streaming.dedup import run_stream_to_parquet

    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    drain(run_stream_to_parquet(spark, sf_dir, out, ckpt))
    import os

    assert any(d.startswith("event_type=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    got = back.groupBy().sum("n_events").collect()[0][0]
    want = SPECS["stream_tumbling_counts"].fn(spark, sf_dir).groupBy().sum("n_events").collect()[0][0]
    assert got == want


def test_stream_to_parquet_counts_each_event_once_across_restarts(spark, sf_dir, tmp_path):
    """Two source generations through one checkpoint: after each drain
    the sink holds every window once, equal to the batch twin over the
    events seen so far. Each complete-mode trigger carries the whole
    result table, so a sink that appended it would re-add every earlier
    window on the second generation."""
    from cooler_mapreduce_spark.streaming.dedup import run_stream_to_parquet

    src, out, ckpt = (str(tmp_path / n) for n in ("src", "out", "ckpt"))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cols = ["window_start", "event_type", "n_events"]
    for gen in (0, 1):
        ev.filter(F.col("event_id") % 2 == gen).coalesce(1).write.mode("append").parquet(
            f"{src}/events.parquet"
        )
        drain(run_stream_to_parquet(spark, src, out, ckpt))
        got = _rows(spark.read.parquet(out).select(*cols))
        assert got == _rows(SPECS["stream_tumbling_counts"].fn(spark, src).select(*cols))
        assert sum(r[2] for r in got) == ev.filter(F.col("event_id") % 2 <= gen).count()


def test_watermark_evicts_state_and_drops_late_events(spark, tmp_path):
    """The late-data contract that bounds state at scale: once the
    watermark passes a window's end, the window emits (append mode),
    its state is EVICTED, and rows arriving for it afterwards are
    dropped — no duplicate emission, no state resurrection. (Spark's
    watermark is a state-retention bound, not a strict admission filter:
    a late row whose window never had state may still aggregate
    best-effort, which is why this test drives eviction first.)"""
    import time as _time

    src = tmp_path / "stream_src"
    src.mkdir()
    ts = lambda h, m: f"TIMESTAMP'2026-01-01 {h:02d}:{m:02d}:00'"

    def write_file(name, stamps):
        spark.sql(
            "SELECT * FROM VALUES "
            + ", ".join(f"(CAST(1 AS BIGINT), {ts(h, m)})" for h, m in stamps)
            + " AS t(user_id, ts)"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))
        _time.sleep(1.1)  # distinct mtimes -> deterministic trigger order

    # batch 1: the 12:00 window gets state
    write_file("b1", [(12, 0)])
    # batch 2: 14:00 raises the max event time; the watermark the NEXT
    # batch runs with becomes 13:50 > window end 13:00
    write_file("b2", [(14, 0)])
    # batch 3: runs with watermark 13:50 -> the 12:00 window emits {n=1}
    # and its state is evicted (a row for it would still merge in this
    # batch — eviction happens at batch end)
    write_file("b3", [(15, 0)])
    # batch 4: a late 12:15 event for the already-evicted window -> must
    # be dropped, not re-open the window or re-emit
    write_file("b4", [(12, 15)])

    stream = source(spark, str(src / "*"), "user_id bigint, ts timestamp", 1)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = start(agg, "t_late")
    drain(q)
    rows = spark.sql("SELECT * FROM t_late").collect()
    got = {r["ws"].hour: r["n"] for r in rows}
    assert got == {12: 1}  # emitted exactly once, count WITHOUT the late row
    assert len(rows) == 1  # no duplicate emission after the late arrival
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped == 1  # the 12:15 row was dropped by the watermark


def test_stream_checkpoint_prevents_duplicate_writes(spark, sf_dir, tmp_path):
    """Exactly-once via checkpoint: restarting the foreachBatch sink from
    the same checkpoint with no new source data must not re-append
    already-committed batches."""
    from cooler_mapreduce_spark.streaming.dedup import run_stream_to_parquet

    out = str(tmp_path / "ckpt_out")
    ckpt = str(tmp_path / "ckpt_dir")
    drain(run_stream_to_parquet(spark, sf_dir, out, ckpt))
    first = spark.read.parquet(out).groupBy().sum("n_events").collect()[0][0]
    # restart from the same checkpoint — batch ids already committed
    drain(run_stream_to_parquet(spark, sf_dir, out, ckpt))
    second = spark.read.parquet(out).groupBy().sum("n_events").collect()[0][0]
    assert second == first


def test_stream_checkpoint_recovers_state_and_catches_up(spark, sf_dir, tmp_path):
    """Restart-with-new-data: a stopped query restarted from its
    checkpoint must (a) restore the aggregation state it had committed,
    (b) process ONLY the source files that arrived while it was down,
    and (c) converge to exactly the batch answer over all files — the
    end-to-end recovery contract a production deployment relies on.

    Drives a file source through two generations: half the events before
    the stop, the other half while the query is down. foreachBatch
    overwrites the complete-mode result each trigger, so the final
    parquet is the last trigger's full table."""
    from cooler_mapreduce_spark.sources.catalog import table

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    a = ev.filter(F.crc32(F.col("event_type").cast("binary")) % 2 == 0)
    b = ev.filter(F.crc32(F.col("event_type").cast("binary")) % 2 == 1)
    a.coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        agg = source(spark, in_dir, ev.schema).groupBy("event_type").agg(F.count("*").alias("n"))

        def write_batch(batch_df, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(out)

        return start(agg, write_batch, mode="complete", checkpoint=ckpt)

    drain(run())
    got_a = {(r.event_type, r.n) for r in spark.read.parquet(out).collect()}
    want_a = {(r.event_type, r.n) for r in a.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert got_a == want_a
    # new data lands while the query is DOWN
    b.coalesce(1).write.mode("append").parquet(in_dir)
    q2 = run()
    drain(q2)
    # catch-up correctness: state restored + only the new file replayed
    got_all = {(r.event_type, r.n) for r in spark.read.parquet(out).collect()}
    want_all = {(r.event_type, r.n) for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert got_all == want_all
    # offset log proves generation 2 saw only the data added after the
    # stop, not a full re-read: rows ingested across ALL of q2's triggers
    # equal file B's rows exactly (A's were committed in q1's offsets).
    replayed = sum(p["numInputRows"] for p in q2.recentProgress)
    assert replayed == b.count()


def test_stream_stream_left_outer_join_emits_unmatched_after_horizon(
    spark, sf_dir, tmp_path
):
    """Stream-stream LEFT OUTER join timing contract: matched pairs
    emit immediately (exactly the batch inner join); an unmatched click
    emits its null-extended row only once the query watermark — the MIN
    of both sides' (max event time − delay) — strictly passes its join
    horizon (click_ts + 30 min). Feeding the events as two time-ordered
    files (one per trigger) advances the watermark between batches;
    clicks whose horizon the final watermark never clears (e.g. the
    globally-last click, whose own side pins the min) legitimately stay
    state-resident — so got-nulls must sit between the guaranteed set
    and the full batch-unmatched set."""
    ev = table(spark, sf_dir, "events", fan_out=False)
    mx = ev.agg(F.max("ts")).collect()[0][0]
    cut = (mx - __import__("datetime").timedelta(hours=2)).strftime("%Y-%m-%d %H:%M:%S")
    src = str(tmp_path / "feed")
    ev.filter(F.col("ts") < cut).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)

    drain(W.run_stream_stream_left_join(
        spark, sf_dir, query_name="t_ss_left", source_dir=src, max_files_per_trigger=1
    ))

    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (clicks.user_id == purch.p_user_id)
        & (purch.purchase_ts >= clicks.click_ts)
        & (purch.purchase_ts < clicks.click_ts + F.expr("INTERVAL 30 MINUTES"))
    )
    inner_ids = {
        (r.click_id, r.purchase_id)
        for r in clicks.join(purch, cond).select("click_id", "purchase_id").collect()
    }
    unmatched = {
        r.click_id for r in clicks.join(purch, cond, "left_anti").collect()
    }
    # emission guarantee: the query watermark is the MIN of both sides'
    # (max event time - delay); an unmatched click is guaranteed out
    # once that watermark strictly passes click_ts + 30 min join horizon
    dt = __import__("datetime")
    final_wm = min(
        clicks.agg(F.max("click_ts")).collect()[0][0],
        purch.agg(F.max("purchase_ts")).collect()[0][0],
    ) - dt.timedelta(minutes=10)
    guaranteed = {
        r.click_id
        for r in clicks.join(purch, cond, "left_anti").collect()
        if r.click_ts + dt.timedelta(minutes=30, seconds=1) < final_wm
    }

    out = spark.sql("SELECT * FROM t_ss_left").collect()
    got_inner = {(r.click_id, r.purchase_id) for r in out if r.purchase_id is not None}
    got_null = {r.click_id for r in out if r.purchase_id is None}
    assert got_inner == inner_ids
    assert guaranteed <= got_null <= unmatched
    assert guaranteed  # the positive path is actually exercised


def test_debounce_stream_suppresses_repeats(spark, sf_dir):
    """Within-watermark dedup on bounded input: one micro-batch means no
    state ever expires, so exactly one event per (user, type) key
    survives — the batch-distinct key count, never more."""
    from cooler_mapreduce_spark.streaming.dedup import run_debounce_stream
    from cooler_mapreduce_spark.sources.catalog import table

    drain(run_debounce_stream(spark, sf_dir, query_name="t_debounce"))
    got = spark.sql("SELECT user_id, event_type FROM t_debounce")
    keys = table(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    assert got.count() == keys.count()
    assert got.distinct().count() == keys.count()


def test_streaming_upsert_scd1_equals_batch_keep_latest(spark, sf_dir, tmp_path):
    """Streaming SCD1 upsert (foreachBatch + dynamic partition
    overwrite): micro-batches of inserts and later updates must converge
    to exactly the batch keep-latest-per-key compaction — no lost
    inserts, no resurrected old versions, across multiple merge rounds.
    """
    from cooler_mapreduce_spark.sources.catalog import table
    from cooler_mapreduce_spark.streaming.dedup import run_streaming_upsert

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "upsert_out")
    ckpt = str(tmp_path / "upsert_ckpt")
    base = table(spark, sf_dir, "orders", fan_out=False)
    updates = (
        base.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 10000 DAYS"))
        .withColumn("o_orderstatus", F.lit("U"))
    )
    # 2 base files + 1 update file; maxFilesPerTrigger=1 -> 3 merge rounds
    base.repartition(2).write.mode("append").parquet(f"{in_dir}/orders.parquet")
    updates.coalesce(1).write.mode("append").parquet(f"{in_dir}/orders.parquet")
    drain(run_streaming_upsert(spark, in_dir, out, ckpt, max_files_per_trigger=1))
    got = spark.read.parquet(out).drop("bucket")
    want = (
        base.unionByName(updates)
        .groupBy("o_orderkey")
        .agg(
            F.max_by(
                F.struct(
                    "o_custkey", "o_orderstatus", "o_totalprice",
                    "o_orderdate", "o_orderpriority",
                ),
                F.struct("o_orderdate", "o_orderkey"),
            ).alias("r")
        )
        .select("o_orderkey", "r.*")
    )
    g = sorted(tuple(r) for r in got.select(*want.columns).collect())
    w = sorted(tuple(r) for r in want.collect())
    assert len(g) == base.count()  # one row per key: updates replace, never add
    assert g == w
    # every updated key carries the new version
    n_updated = got.filter(F.col("o_orderstatus") == "U").count()
    assert n_updated == updates.count()


def test_streaming_upsert_read_failure_fails_batch_not_wipes_state(
    spark, sf_dir, tmp_path
):
    """A transient/corrupt read of the merged table must FAIL the
    micro-batch (checkpoint will replay it) — never be mistaken for
    'first batch, nothing on disk' and dynamic-overwrite the touched
    buckets with only the fresh rows, silently discarding history."""
    import os

    from cooler_mapreduce_spark.sources.catalog import table
    from cooler_mapreduce_spark.streaming.dedup import run_streaming_upsert

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "upsert_out")
    ckpt = str(tmp_path / "upsert_ckpt")
    base = table(spark, sf_dir, "orders", fan_out=False)
    base.coalesce(1).write.mode("append").parquet(f"{in_dir}/orders.parquet")
    # out_dir EXISTS but contains garbage where parquet footers should be
    os.makedirs(f"{out}/bucket=0", exist_ok=True)
    with open(f"{out}/bucket=0/part-corrupt.parquet", "wb") as f:
        f.write(b"not a parquet file")
    q = run_streaming_upsert(spark, in_dir, out, ckpt)
    with pytest.raises(StreamingQueryException):
        drain(q)
    assert not q.isActive
    # the corrupt (pre-existing) state was never overwritten
    assert os.path.exists(f"{out}/bucket=0/part-corrupt.parquet")


def test_cms_stream_equals_batch_cells(spark, sf_dir):
    """The streaming count-min sketch converges to the batch build:
    cells are counts (mergeable state), so a bounded drain must produce
    the identical d x w cell table the batch construction yields."""
    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.functions.hashing import md5int_spark
    from cooler_mapreduce_spark.operators.textstats import _CMS_D, _cms_bucket_sql
    from cooler_mapreduce_spark.sources.catalog import table
    from cooler_mapreduce_spark.streaming.windows import run_cms_stream

    drain(run_cms_stream(spark, sf_dir, query_name="t_cms"))
    got = _rows(spark.sql("SELECT j, bucket, c FROM t_cms"))

    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.lower("text"), " ")).alias("term"))
    buckets = F.array(
        *[F.expr(_cms_bucket_sql(j, md5int_spark("term"))) for j in range(_CMS_D)]
    )
    want = _rows(
        toks.select(F.posexplode(buckets).alias("j", "bucket"))
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("c"))
    )
    assert len(got) > 0
    assert got == want


def test_streaming_scd2_equals_batch_history(spark, sf_dir, tmp_path):
    """Streaming SCD2 (raw-append + touched-bucket history rebuild +
    dynamic partition overwrite) must converge to the batch window twin
    exactly, regardless of micro-batch slicing — inserts arriving across
    three rounds produce the same versioned history as one batch pass."""
    from pyspark.sql import Window

    from cooler_mapreduce_spark.sources.catalog import table
    from cooler_mapreduce_spark.streaming.dedup import run_streaming_scd2

    in_dir = str(tmp_path / "in")
    raw = str(tmp_path / "scd2_raw")
    hist = str(tmp_path / "scd2_hist")
    ckpt = str(tmp_path / "scd2_ckpt")
    base = table(spark, sf_dir, "orders", fan_out=False)
    updates = (
        base.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 9000 DAYS"))
    )
    base.repartition(2).write.mode("append").parquet(f"{in_dir}/orders.parquet")
    updates.coalesce(1).write.mode("append").parquet(f"{in_dir}/orders.parquet")
    drain(run_streaming_scd2(spark, in_dir, raw, hist, ckpt, max_files_per_trigger=1))
    got = {
        tuple(r)
        for r in spark.read.parquet(hist)
        .select("custkey", "version", "valid_from", "valid_to", "is_current", "attr")
        .collect()
    }
    allrows = base.unionByName(updates)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    want_df = allrows.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("valid_from"),
        F.col("o_totalprice").alias("attr"),
        F.row_number().over(w).alias("version"),
        F.lead("o_orderdate").over(w).alias("next_from"),
    ).select(
        "custkey",
        "version",
        "valid_from",
        F.coalesce(
            F.col("next_from"), F.lit("2200-01-01").cast("timestamp_ntz")
        ).alias("valid_to"),
        F.col("next_from").isNull().alias("is_current"),
        "attr",
    )
    want = {tuple(r) for r in want_df.collect()}
    assert got == want
    # exactly one open version per key
    n_keys = allrows.select("o_custkey").distinct().count()
    assert sum(1 for r in got if r[4]) == n_keys


def test_scd2_rebuild_dedups_replayed_appends(spark, sf_dir, tmp_path):
    """The rebuild's window-folded replay dedup (r11 optimization: the
    separate DISTINCT folded into the versioning window as an
    adjacent-duplicate drop) must be exactly as idempotent as the
    DISTINCT it replaced: a raw store holding a REPLAYED append (the
    same change rows written twice — what a crash between the raw append
    and the checkpoint commit produces) rebuilds the identical history,
    byte for byte, as the deduplicated store."""
    from pyspark.sql import Window

    from cooler_mapreduce_spark.streaming.dedup import _scd2_rebuild_frame

    n_buckets = 8
    changes = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("custkey"),
        F.pmod(F.col("o_custkey"), n_buckets).alias("bucket"),
        F.col("o_orderdate").alias("valid_from"),
        F.col("o_orderkey").alias("change_id"),
        F.col("o_totalprice").alias("attr"),
    )
    raw = str(tmp_path / "scd2_raw_replayed")
    changes.write.mode("append").partitionBy("bucket").parquet(raw)
    # the replay: a PARTIAL second append (a crash can replay any prefix)
    changes.filter(F.col("change_id") % 3 == 0).write.mode("append").partitionBy(
        "bucket"
    ).parquet(raw)

    got = {
        tuple(r)
        for r in _scd2_rebuild_frame(spark, raw, range(n_buckets)).collect()
    }
    # expectation spelled with the independent DISTINCT formulation the
    # fold replaced
    seen = spark.read.parquet(raw).distinct()
    w = Window.partitionBy("custkey").orderBy("valid_from", "change_id")
    want_df = seen.select(
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
    want = {tuple(r) for r in want_df.collect()}
    assert got == want
    # duplicates really were dropped: row count equals the deduped store's
    assert len(got) == seen.count()


def test_quantile_tiles_multibatch_equals_batch_rollup(spark, sf_dir, tmp_path):
    """Tile maintenance across REAL micro-batch boundaries: split orders
    into 4 files, drive the stream one file per trigger (≥4 batches,
    each writing its own batch_id=N delta partition), and the quantiles
    computed FROM THE TILES must equal the batch rollup row-for-row —
    the mergeable-histogram contract under incremental arrival. Also
    asserts the tile store really is per-batch partitioned (the
    replay-idempotence mechanism: a replayed batch overwrites its own
    partition instead of double-adding)."""
    from cooler_mapreduce_spark.streaming.tiles import (
        read_tile_quantiles,
        run_quantile_tiles_stream,
    )

    src = str(tmp_path / "orders_split")
    spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(4).write.parquet(src)
    tiles_dir = str(tmp_path / "tiles")
    ckpt = str(tmp_path / "ckpt")
    drain(run_quantile_tiles_stream(spark, src, sf_dir, tiles_dir, ckpt, max_files_per_trigger=1))
    batch_ids = {
        r.batch_id
        for r in spark.read.parquet(tiles_dir).select("batch_id").distinct().collect()
    }
    assert len(batch_ids) >= 4
    got = read_tile_quantiles(spark, sf_dir, tiles_dir).collect()
    want = SPECS["quantile_bin_rollup_regions"].fn(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_tile_compaction_preserves_quantiles(spark, sf_dir, tmp_path):
    """Compacting the batch-delta partitions into batch_id=-1 must not
    move the answer by a bit (the fold IS the readers' merge), must
    actually shrink the store to one partition, and must be idempotent
    (a second compaction folds nothing)."""
    from cooler_mapreduce_spark.streaming.tiles import (
        compact_tiles,
        read_tile_quantiles,
        run_quantile_tiles_stream,
    )

    src = str(tmp_path / "orders_split")
    spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(3).write.parquet(src)
    tiles_dir = str(tmp_path / "tiles")
    ckpt = str(tmp_path / "ckpt")
    drain(run_quantile_tiles_stream(spark, src, sf_dir, tiles_dir, ckpt, max_files_per_trigger=1))
    before = [tuple(r) for r in read_tile_quantiles(spark, sf_dir, tiles_dir).collect()]
    folded = compact_tiles(spark, tiles_dir, ckpt)
    assert folded >= 3
    ids = {r.batch_id for r in spark.read.parquet(tiles_dir)
           .select("batch_id").distinct().collect()}
    assert ids == {-1}  # every batch committed → everything folds
    after = [tuple(r) for r in read_tile_quantiles(spark, sf_dir, tiles_dir).collect()]
    assert before == after
    assert compact_tiles(spark, tiles_dir, ckpt) == 0  # idempotent


def test_tile_compaction_skips_uncommitted_trailing_batch(spark, sf_dir, tmp_path):
    """The two replay hazards from the round-6 advice, designed out:
    a partition written by a batch that died BEFORE its checkpoint
    commit must survive compaction untouched (it will re-fire on
    restart and dynamic-overwrite its partition — folding it first
    would double-count), and without checkpoint knowledge the trailing
    id is excluded conservatively. The replay is then simulated and the
    answer must come out unchanged."""
    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.streaming.tiles import (
        compact_tiles,
        read_tile_quantiles,
        run_quantile_tiles_stream,
    )

    src = str(tmp_path / "orders_split")
    spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(3).write.parquet(src)
    tiles_dir = str(tmp_path / "tiles")
    ckpt = str(tmp_path / "ckpt")
    drain(run_quantile_tiles_stream(spark, src, sf_dir, tiles_dir, ckpt, max_files_per_trigger=1))
    committed = sorted(
        r.batch_id for r in spark.read.parquet(tiles_dir)
        .select("batch_id").distinct().collect()
    )
    # simulate a batch that wrote its partition but died pre-commit:
    # its delta is PRESENT in the store but absent from ckpt/commits
    dead_id = committed[-1] + 1
    phantom = (
        spark.read.parquet(tiles_dir)
        .filter(F.col("batch_id") == committed[0])
        .select("n_regionkey", "bin", "cnt")
        .withColumn("batch_id", F.lit(dead_id))
        # pin the rows: the replay re-write below happens after
        # compaction has deleted the source partition this derives from
        .localCheckpoint(eager=True)
    )
    phantom.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id").parquet(tiles_dir)
    before = [tuple(r) for r in read_tile_quantiles(spark, sf_dir, tiles_dir).collect()]

    folded = compact_tiles(spark, tiles_dir, ckpt)
    assert folded == len(committed)
    ids = {r.batch_id for r in spark.read.parquet(tiles_dir)
           .select("batch_id").distinct().collect()}
    assert ids == {-1, dead_id}  # uncommitted delta NOT folded
    # the engine restarts and re-fires the dead batch: dynamic overwrite
    # REPLACES the phantom partition — answer must not double-count
    phantom.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id").parquet(tiles_dir)
    after = [tuple(r) for r in read_tile_quantiles(spark, sf_dir, tiles_dir).collect()]
    assert before == after

    # no checkpoint knowledge → the trailing id is excluded conservatively
    folded2 = compact_tiles(spark, tiles_dir)
    assert folded2 == 0  # only {-1, dead_id} remain; dead_id IS the trailing id
    assert {r.batch_id for r in spark.read.parquet(tiles_dir)
            .select("batch_id").distinct().collect()} == {-1, dead_id}


def test_tile_compaction_refuses_noncontiguous_ids_without_checkpoint(
    spark, sf_dir, tmp_path
):
    """The checkpoint-free trailing-id heuristic is sound only under
    strictly in-order micro-batch ids; an out-of-band partition (manual
    backfill) breaks that premise, so compact_tiles must REFUSE rather
    than silently double-count (round-7 advice). With the commits log
    the same store compacts fine — only the committed ids fold."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.streaming.tiles import (
        compact_tiles,
        run_quantile_tiles_stream,
    )

    src = str(tmp_path / "orders_split")
    spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(2).write.parquet(src)
    tiles_dir = str(tmp_path / "tiles")
    ckpt = str(tmp_path / "ckpt")
    drain(run_quantile_tiles_stream(spark, src, sf_dir, tiles_dir, ckpt, max_files_per_trigger=1))
    top = max(
        r.batch_id for r in spark.read.parquet(tiles_dir)
        .select("batch_id").distinct().collect()
    )
    # out-of-band backfill: a partition whose id leaves a gap
    (
        spark.read.parquet(tiles_dir)
        .filter(F.col("batch_id") == top)
        .select("n_regionkey", "bin", "cnt")
        .withColumn("batch_id", F.lit(top + 5))
        .write.mode("append").partitionBy("batch_id").parquet(tiles_dir)
    )
    with _pytest.raises(ValueError, match="not .*contiguous"):
        compact_tiles(spark, tiles_dir)
    # the commits log sees through it: only committed ids fold
    assert compact_tiles(spark, tiles_dir, ckpt) >= 2
    ids = {r.batch_id for r in spark.read.parquet(tiles_dir)
           .select("batch_id").distinct().collect()}
    assert ids == {-1, top + 5}  # backfill partition untouched


def test_tile_compaction_crash_recovery(spark, sf_dir, tmp_path):
    """A crash between the swap's two renames parks the tree aside with
    tiles_dir absent; the next compact_tiles run must restore it before
    doing anything, and the answer must be intact."""
    from cooler_mapreduce_spark.streaming.tiles import (
        compact_tiles,
        read_tile_quantiles,
        run_quantile_tiles_stream,
    )

    src = str(tmp_path / "orders_split")
    spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(2).write.parquet(src)
    tiles_dir = str(tmp_path / "tiles")
    ckpt = str(tmp_path / "ckpt")
    drain(run_quantile_tiles_stream(spark, src, sf_dir, tiles_dir, ckpt, max_files_per_trigger=1))
    before = [tuple(r) for r in read_tile_quantiles(spark, sf_dir, tiles_dir).collect()]
    # simulate the mid-swap crash state: data parked aside, path absent
    import os

    os.rename(tiles_dir, f"{tiles_dir}.__compact_old")
    folded = compact_tiles(spark, tiles_dir, ckpt)
    assert folded >= 2
    after = [tuple(r) for r in read_tile_quantiles(spark, sf_dir, tiles_dir).collect()]
    assert before == after


def test_dq_gated_stream_routes_and_matches_batch_twin(spark, oracle_sf_dir, tmp_path):
    """The streaming DQ gate must (a) route EVERY feed row to exactly
    one zone (clean + quarantine == feed, no drops, no dupes), (b)
    quarantine exactly the batches the registered batch twin decides
    to quarantine, and (c) accrue a manifest whose per-batch counters
    equal the twin's — the stream applies the identical expression per
    micro-batch, and batch-correlated corruption makes both decisions
    occur."""
    from cooler_mapreduce_spark.streaming.observe import (
        _dq_feed,
        dq_gate_event_batches,
        run_dq_gated_stream,
    )

    clean = str(tmp_path / "clean")
    quar = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    drain(run_dq_gated_stream(spark, oracle_sf_dir, clean, quar, ckpt))
    twin = {r["batch_id"]: r for r in dq_gate_event_batches(spark, oracle_sf_dir).collect()}
    assert {b for b, r in twin.items() if r["decision"] == "quarantine"} == {0, 1, 2}
    feed_n = _dq_feed(spark, oracle_sf_dir).count()
    clean_df = spark.read.parquet(clean)
    quar_df = spark.read.parquet(quar)
    assert clean_df.count() + quar_df.count() == feed_n
    got_quar_batches = {
        r["batch_id"] for r in quar_df.select("batch_id").distinct().collect()
    }
    assert got_quar_batches == {0, 1, 2}
    assert not (
        {r["batch_id"] for r in clean_df.select("batch_id").distinct().collect()}
        & got_quar_batches
    )
    # manifest: one row per (data batch) since the hash layout gives one
    # id per file here, but fold by batch_id to stay layout-agnostic
    mf = spark.read.parquet(f"{ckpt}_manifest")
    folded = {
        r["batch_id"]: (r["n"], r["v"])
        for r in mf.groupBy("batch_id")
        .agg(F.sum("n_rows").alias("n"), F.sum("n_violations").alias("v"))
        .collect()
    }
    for b, r in twin.items():
        assert folded[b] == (r["n_rows"], r["n_violations"]), b


def test_dq_gate_promotes_a_clean_feed(spark, oracle_sf_dir):
    """The gate must be able to go BOTH ways (the falsifiability
    discipline): on an uncorrupted feed whose violation rates sit under
    the threshold, every batch promotes — a gate hard-wired to
    quarantine (or to pass) fails one of the two directions."""
    from cooler_mapreduce_spark.sources.catalog import table
    from cooler_mapreduce_spark.streaming.observe import (
        _DQ_BATCHES,
        dq_gate_manifest_frame,
    )

    ev = table(spark, oracle_sf_dir, "events", fan_out=False)
    clean_feed = ev.select(
        (F.col("event_id") % _DQ_BATCHES).alias("batch_id"),
        F.abs(F.col("value")).alias("value"),
    ).filter(F.col("value") > 0.0)
    rows = dq_gate_manifest_frame(clean_feed).collect()
    assert len(rows) == _DQ_BATCHES
    assert all(r["decision"] == "promote" for r in rows)
    assert all(r["n_violations"] == 0 for r in rows)


def test_erasure_gated_upsert_never_admits_erased_keys(spark, oracle_sf_dir, tmp_path):
    """STAGED r12 kernel: the erasure-gated SCD1 upsert must (a) end
    with a store containing ZERO rows for any requested customer — the
    standing-invariant half of right-to-erasure (the takedown audit is
    the at-rest half) — and (b) equal the plain batch anti-join twin
    exactly, across a MULTI-batch replay (maxFilesPerTrigger=1), where
    an ungated replay would re-admit erased subjects."""
    from cooler_mapreduce_spark.operators.governance import _TAKEDOWN_MOD
    from cooler_mapreduce_spark.sources.catalog import table
    from cooler_mapreduce_spark.streaming.dedup import run_erasure_gated_upsert

    # multi-file staging so the drain is a genuine multi-batch replay;
    # the runner also reads the customer table from sf_dir, so link it
    import os

    src = tmp_path / "orders_src"
    o = table(spark, oracle_sf_dir, "orders", fan_out=False)
    o.repartition(4).write.parquet(str(src / "orders.parquet"))
    os.symlink(f"{oracle_sf_dir}/customer.parquet", src / "customer.parquet")

    out = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    drain(run_erasure_gated_upsert(spark, str(src), out, ckpt, max_files_per_trigger=1))
    store = spark.read.parquet(out)
    req = (
        table(spark, oracle_sf_dir, "customer", fan_out=False)
        .filter(F.col("c_custkey") % _TAKEDOWN_MOD == 0)
        .select("c_custkey")
    )
    n_req_rows = o.join(req, o.o_custkey == req.c_custkey, "left_semi").count()
    assert n_req_rows > 0  # positive path at oracle SF
    assert store.join(req, store.o_custkey == req.c_custkey, "left_semi").count() == 0
    want = o.join(req, o.o_custkey == req.c_custkey, "left_anti")
    assert store.count() == want.count()
    got = sorted(
        (r["o_orderkey"], r["o_totalprice"])
        for r in store.select("o_orderkey", "o_totalprice").collect()
    )
    exp = sorted(
        (r["o_orderkey"], r["o_totalprice"])
        for r in want.select("o_orderkey", "o_totalprice").collect()
    )
    assert got == exp


def test_dq_gated_stream_restart_is_idempotent(spark, oracle_sf_dir, tmp_path):
    """Re-invoking the DQ-gated runner with the SAME sink/checkpoint
    dirs must not duplicate routed rows: the staging write is skipped
    when the source dir exists (re-staging would mint new part-file
    names and the checkpoint would replay the whole feed into the
    append sinks). Second drain == no new rows."""
    from cooler_mapreduce_spark.streaming.observe import _dq_feed, run_dq_gated_stream

    clean = str(tmp_path / "clean")
    quar = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):
        drain(run_dq_gated_stream(spark, oracle_sf_dir, clean, quar, ckpt))
    feed_n = _dq_feed(spark, oracle_sf_dir).count()
    assert spark.read.parquet(clean).count() + spark.read.parquet(quar).count() == feed_n


def test_dq_replay_audit_detects_faulty_replay_jobs(spark, oracle_sf_dir):
    """Falsifiability pins for the quarantine-replay audit kernel: the
    counters must go POSITIVE for the two classic faulty replay jobs —
    (a) a replay that skips one quarantined batch (its reference keys
    read as n_missing) and (b) a keep-FIRST merge that lets first-pass
    rows beat the fixed rows (the promoted batches' silent corrupted
    rows read as n_stale) — each pinned to an independently computed
    miss count, so a hard-coded zero in any leg would fail here."""
    from cooler_mapreduce_spark.streaming.observe import (
        _DQ_BATCHES,
        _dq_feed,
        dq_gate_manifest_frame,
        dq_replay_convergence_frame,
    )
    from cooler_mapreduce_spark.sources.catalog import table

    feed = _dq_feed(spark, oracle_sf_dir)
    ref = table(spark, oracle_sf_dir, "events", fan_out=False).select(
        (F.col("event_id") % _DQ_BATCHES).alias("batch_id"), "event_id", "value"
    )
    m1 = dq_gate_manifest_frame(feed).select("batch_id", "decision")
    v1 = feed.select("batch_id", "event_id", "value").join(
        m1.filter(F.col("decision") == "promote").select("batch_id"),
        "batch_id",
        "left_semi",
    )
    quarantined = sorted(
        r["batch_id"] for r in m1.filter(F.col("decision") == "quarantine").collect()
    )
    assert quarantined  # positive path at oracle SF

    # (a) the skipped-batch replay: v2 lacks one quarantined batch
    skipped = quarantined[0]
    v2_partial = ref.filter(F.col("batch_id") != skipped)
    both = v1.withColumn("version", F.lit(1)).unionByName(
        v2_partial.withColumn("version", F.lit(2))
    )
    store = (
        both.groupBy("event_id")
        .agg(F.max(F.struct("version", "batch_id", "value")).alias("m"))
        .select("m.batch_id", "event_id", "m.value", F.col("m.version").alias("version"))
    )
    rows = {r["batch_id"]: r for r in dq_replay_convergence_frame(store, v1, ref).collect()}
    want_missing = ref.filter(F.col("batch_id") == skipped).count()
    assert want_missing > 0
    assert rows[skipped]["n_missing"] == want_missing
    assert rows[skipped]["n_readmitted"] == 0
    assert all(r["n_missing"] == 0 for b, r in rows.items() if b != skipped)

    # (b) the keep-FIRST merge: version 1 wins conflicts, so promoted
    # batches keep their silently-corrupted first-pass rows
    both = v1.withColumn("version", F.lit(1)).unionByName(
        ref.withColumn("version", F.lit(2))
    )
    keep_first = (
        both.groupBy("event_id")
        .agg(F.min(F.struct("version", "batch_id", "value")).alias("m"))
        .select("m.batch_id", "event_id", "m.value", F.col("m.version").alias("version"))
    )
    rows = {
        r["batch_id"]: r
        for r in dq_replay_convergence_frame(keep_first, v1, ref).collect()
    }
    stale_want = {
        r["batch_id"]: r["n"]
        for r in v1.join(
            ref.select("event_id", F.col("value").alias("ref_value")), "event_id"
        )
        .filter(F.col("value") != F.col("ref_value"))
        .groupBy("batch_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert any(n > 0 for n in stale_want.values())
    for b, r in rows.items():
        assert r["n_stale"] == stale_want.get(b, 0)
        assert r["n_missing"] == 0


def test_dq_replay_stream_converges_to_batch_face(spark, oracle_sf_dir, tmp_path):
    """STAGED r12 kernel: the two-phase replay runner's drained store
    must equal the registered dq_quarantine_replay face's in-plan
    version-argmax store row for row (stream == twin), a crash between
    the phases must leave exactly the phase-1 gated zone (no erased or
    quarantined rows re-admitted), and re-running phase 2 over its own
    checkpoint must be a no-op (idempotence)."""
    from cooler_mapreduce_spark.sources.catalog import table
    from cooler_mapreduce_spark.streaming.observe import (
        _DQ_BATCHES,
        _dq_feed,
        dq_gate_manifest_frame,
        run_dq_replay_stream,
    )

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    run_dq_replay_stream(spark, oracle_sf_dir, store, ckpt)

    # the batch twin's store: promoted zones of both passes, v2 wins
    feed = _dq_feed(spark, oracle_sf_dir)
    ref = table(spark, oracle_sf_dir, "events", fan_out=False).select(
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
    twin = (
        v1.withColumn("version", F.lit(1))
        .unionByName(v2.withColumn("version", F.lit(2)))
        .groupBy("event_id")
        .agg(F.max(F.struct("version", "batch_id", "value")).alias("m"))
        .select("event_id", "m.batch_id", "m.value", F.col("m.version").alias("version"))
    )

    def rows(df):
        return sorted(
            (r["event_id"], r["batch_id"], r["value"], r["version"])
            for r in df.select("event_id", "batch_id", "value", "version").collect()
        )

    got = rows(spark.read.parquet(store))
    assert got == rows(twin)
    assert all(r[3] == 2 for r in got)  # the fixed feed superseded everything

    # idempotence: re-running the whole runner (both checkpoints
    # resume, staged sources already exist) changes nothing
    run_dq_replay_stream(spark, oracle_sf_dir, store, ckpt)
    assert rows(spark.read.parquet(store)) == got

    # crash-between-phases: a fresh store drained through phase 1 only
    # is exactly the gated zone — no quarantined batch reaches it
    store1 = str(tmp_path / "store_p1")
    ckpt1 = str(tmp_path / "ckpt_p1")
    src = f"{ckpt1}_src_v1"
    _dq_feed(spark, oracle_sf_dir).withColumn("version", F.lit(1)).repartition(
        _DQ_BATCHES, "batch_id"
    ).write.parquet(src)
    from cooler_mapreduce_spark.streaming.observe import _replay_merge_batch

    stream = source(spark, src, spark.read.parquet(src).schema, 1)
    drain(start(stream, _replay_merge_batch(store1), checkpoint=f"{ckpt1}_v1", available_now=True))
    p1 = spark.read.parquet(store1)
    quarantined = [
        r["batch_id"] for r in m1.filter(F.col("decision") == "quarantine").collect()
    ]
    assert quarantined
    assert p1.filter(F.col("batch_id").isin(quarantined)).count() == 0
    assert (
        sorted((r["event_id"], r["value"]) for r in p1.collect())
        == sorted((r["event_id"], r["value"]) for r in v1.collect())
    )
