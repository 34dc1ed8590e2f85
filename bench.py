#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Each query executes end-to-end into the ``noop`` sink — the full plan runs
(scans, shuffles, UDFs) with no collect/driver materialization, which is the
cluster-faithful way to time a distributed plan. The reference times its one
workload client-side with 2 s polling granularity (reference
benchmark.py:246-284); here timing wraps the Spark action directly.

Headline set: one query per major subsystem — TPC-H-style shuffle agg and
joins, windows, MR-compat word count, dedup tiers, similarity search, text
analysis, streaming batch-twin — so a regression anywhere in the engine moves
the headline number.
"""

from __future__ import annotations

import json
import os
import sys
import time

HEADLINE = [
    "pricing_summary",          # flagship: full lineitem scan + hash agg
    "word_count",               # explode + shuffle agg (reference flagship)
    "revenue_by_nation",        # multi-join star query (broadcast dims)
    "shipping_priority_topk",   # 3-way join + agg + TakeOrdered (TPC-H Q3)
    "forecast_revenue_change",  # pure pushdown scan-agg probe (TPC-H Q6)
    "join_orders_customers",    # broadcast hash join
    "window_top_orders_per_customer",  # ranking window + filter
    "mr_word_count",            # RDD MapReduce-compat tier
    "dedup_exact",              # hash-dedup over documents
    "dedup_keep_latest",        # argmax compaction (partial-agg shuffle)
    "dedup_minhash_lsh",        # shingle→minhash→band→bucket-join
    "ann_topk_bruteforce",      # embedding cosine top-k
    "ann_topk_ivf",             # IVF cell-probe ANN (scale path)
    "text_quality_score",       # text-analysis scalar pipeline
    "tfidf_top_terms",          # two-stage agg + scalar broadcast (TF-IDF)
    "stream_tumbling_counts",   # windowed event agg (batch twin)
    "stat_corr_qty_price",      # co-moment statistics (decimal staging)
    "join_interval_overlap",    # temporal band self-join
    "large_orders_q18",         # HAVING-collapsed broadcast chain (TPC-H Q18)
    "pipeline_training_corpus", # composed scrub->gate->dedup->split pipeline
    # round-3/4 additions, so regressions in the newest operators surface
    # here and not only in CORRECTNESS:
    "importance_sample_by_length",  # weighted sampling (deterministic hash gate)
    "multimodal_resize_stats",      # Arrow-batched mapInPandas path
    "sink_orc_roundtrip",           # columnar sink + read-back (real file I/O)
    "market_share_q8",              # heaviest join query: 8-relation broadcast chain
    "doc_unigram_nll",              # unigram-LM scoring: tokenize diamond + vocab broadcast-back
    # round-5 addition:
    "pagerank_supplier_customer",   # iterative tier: 5 chained join+agg rounds over ~1M edges
    # late round-5 additions:
    "product_type_profit_q9",       # heaviest new TPC-H shape: 5-relation profit join + rollup
    "triangle_count_copurchase",    # graph census: degree-oriented adjacency intersection
    # round-6 additions:
    "autocorr_daily_revenue",       # series analytics: day-rollup + 7-tap lag + co-moment sums
    "skyline_pareto_orders",        # distributed skyline: bucketed local prune + level window
    # round-6 second half:
    "holt_linear_smoothing",        # sequential HOF fold over the calendar-bounded series
    "weighted_median_price_by_flag",  # RANGE-frame cumulative crossing over the fact table
    "multiple_ols_price_by_flag",   # 10 sufficient-statistic sums + scalar Cramer solve
    # round-6 third wave:
    "semdedup_prune_cells",         # per-cell quadratic cosine verify (SemDeDup prune)
    # round-6 fourth wave:
    "embedding_pq_fidelity",        # map-side PQ encode: heavy literal-codebook projection, zero shuffles
    "stream_quantile_tiles",        # real stream: foreachBatch tile deltas + dynamic overwrite + tile read-back
    # round-8 growth additions:
    "entity_resolution_customers",  # record linkage: block equi-join + levenshtein scoring + keyed best-match window
    "tdigest_quantiles_price",      # sketch tier's Arrow profile: per-partition numpy compression + single-group centroid funnel
]
# Excluded by design: each family re-runs a shape an entry above already
# times (benching it would double-count that cost) or is mostly one-time
# fixture work. One line per family: excluded queries -> what covers them.
#   ANN audits: ann_recall_{lsh,ivf,pq,jl}, embedding_jl_projection_fidelity -> ann_topk_*
#   sink roundtrips: sink_tsv_roundtrip, pysink_tsv_roundtrip, sink_cow_upsert_partitioned -> sink_orc_roundtrip
#   fixture-bound layouts: catalog_partitioned_scan, zorder_scan, dpp_partitioned_join, sql_tablesample_bucket_twin -> asserted structurally in tests
#   tokenize spine: vocab_coverage_topk, docs_repetition_filter, ccnet_perplexity_buckets, rrf_hybrid_search -> tfidf_top_terms, doc_unigram_nll
#   Arrow mapInPandas: multimodal_frame_sample_stats -> multimodal_resize_stats
#   events single-exchange aggs: stream_user_type_counts, ohlc_hourly_by_type, time_weighted_avg_value, stream_observed_metrics(_by_type), dq_gate_event_batches, stream_bloom_gated_segments -> stream_tumbling_counts
#   TPC-H threshold/scalar shapes: min_cost_supplier_q2, potential_promotion_q20, important_part_value_q11, parts_supplier_relationship_q16 -> window_top_orders_per_customer, large_orders_q18, dedup_exact
#   temporal joins: attribution_linear_touch, join_asof_forward_tolerance, join_asof_nearest -> join_interval_overlap, join_asof_last_click
#   iterative driver loops: bpe_train_merges, kcore_copurchase, bfs_hops_from_hub, sssp_weighted_from_hub, label_propagation_communities, weighted_pagerank_trade, rwr_weekly_event_types, rwr_weekly_deltas, harmonic_centrality_hubs, entity_clusters_customers, fellegi_sunter_em_customers -> pagerank_supplier_customer
#   graph census: clustering_coefficient_topk -> triangle_count_copurchase
#   day/week series rollups: ewma_daily_revenue, max_drawdown_revenue, seasonal_decompose_weekly, downsample_lttb_daily, kalman_smooth_weekly_revenue -> autocorr_daily_revenue, holt_linear_smoothing
#   single-groupBy rollups: sql_group_by_all, incremental_agg_merge, mixing_weights_temperature, the k-anonymity and DP governance tier (kanonymity_*, dp_noisy_*) -> pricing_summary
#   shingle/semantic dedup: dedup_prefix_filter_jaccard (SCALING.md), semdedup_apply, semdedup_incremental_new_batch -> dedup_minhash_lsh, semdedup_prune_cells
#   joins and SQL faces: quantile_bin_rollup_regions, sql_identifier_clause, sql_create_function_udfs, sql_tablesample_faces, bloom_prefilter_hot_orders, stream_stream_left_outer_clicks -> revenue_by_nation, the TPC-H entries, join_orders_customers
#   record linkage: fellegi_sunter_weights -> entity_resolution_customers
#   Python hot path: udtf_table_arg_sessionize (API certification) -> window_top_orders_per_customer
#   erasure and quarantine tier: takedown_cascade_manifest, takedown_scd2_versions, erasure_propagation_docs, retention_expiry_orders, stream_erasure_gated_upsert, dq_quarantine_replay -> join_orders_customers, dedup_keep_latest

#: REAL-STREAM surfaces (not batch twins): each starts an actual
#: StreamingQuery over the sf dir and times a full bounded-replay drain —
#: wall-clock including micro-batch scheduling, state store, and commit
#: log, the costs batch twins cannot see. Keys land in "queries"/"runs"
#: next to the batch entries.
def _stream_cases(spark, sf_dir):
    import shutil
    import tempfile

    from cooler_mapreduce_spark.streaming.dedup import run_streaming_upsert
    from cooler_mapreduce_spark.streaming.windows import run_tumbling_stream

    def scd1_upsert(i: int) -> None:
        # foreachBatch argmax-merge + dynamic partition overwrite over
        # the full orders table — the table-format-free SCD1 path
        work = tempfile.mkdtemp(prefix=f"bench_scd1_{i}_")
        try:
            q = run_streaming_upsert(
                spark, sf_dir, f"{work}/out", f"{work}/ckpt"
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def scd2_history(i: int) -> None:
        # raw-append + touched-bucket history rebuild + dynamic overwrite
        # — the versioned (SCD2) sibling of the SCD1 upsert above
        from cooler_mapreduce_spark.streaming.dedup import run_streaming_scd2

        work = tempfile.mkdtemp(prefix=f"bench_scd2_{i}_")
        try:
            q = run_streaming_scd2(
                spark, sf_dir, f"{work}/raw", f"{work}/hist", f"{work}/ckpt"
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def tumbling_available_now(i: int) -> None:
        # Trigger.AvailableNow catch-up: drain everything present, then
        # self-terminate (cron-shaped streaming lifecycle)
        q = run_tumbling_stream(
            spark, sf_dir, query_name=f"bench_an_{i}", available_now=True
        )
        q.awaitTermination()

    return {
        "stream_scd1_upsert_replay": scd1_upsert,
        "stream_scd2_history_replay": scd2_history,
        "stream_tumbling_available_now": tumbling_available_now,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    from cooler_mapreduce_spark.session import get_session
    from cooler_mapreduce_spark.registry import load_all

    # Record host load alongside the run: the r7->r8 bench delta was
    # attributed to host contention, but the official artifact carried no
    # evidence either way — loadavg at start and end makes a contended
    # record diagnosable (goes to the sidecar + stderr, never the
    # contract line). os.getloadavg is POSIX-portable here.
    def _loadavg() -> list[float]:
        try:
            return [round(x, 2) for x in os.getloadavg()]
        except OSError:
            return []

    load_start = _loadavg()
    print(f"# loadavg at start: {load_start}", file=sys.stderr)

    # PER-QUERY contention self-classification (round-9 verdict
    # What's-wrong #1): loadavg alone can't separate "the bench is busy"
    # from "someone else is busy" — our own local[32] run IS load. The
    # separable signal is FOREIGN CPU: host busy jiffies (/proc/stat)
    # minus the jiffies consumed by this process tree (python + the
    # spark-submit JVM + pyspark workers), per query. foreign_frac is
    # that remainder over total host capacity for the query's window;
    # a query is flagged CONTENDED above 5% (≈1.6 of 32 cores taken by
    # other tenants while it timed). The flags live in bench_runs.json
    # so BENCH_r{N} reads as evidence, not dispute.
    def _cpu_snapshot():
        try:
            with open("/proc/stat") as fh:
                parts = fh.readline().split()[1:]
            vals = [int(x) for x in parts]
            total = sum(vals)
            busy = total - vals[3] - (vals[4] if len(vals) > 4 else 0)
            # steal (field 8) is time the HYPERVISOR ran another tenant
            # on this vCPU — contention loadavg cannot see. Split it out
            # so the artifact distinguishes same-host tenants (other
            # processes) from co-tenant VMs (steal).
            steal = vals[7] if len(vals) > 7 else 0
            procs: dict[int, tuple[int, int]] = {}
            for d in os.listdir("/proc"):
                if not d.isdigit():
                    continue
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        st = fh.read()
                    rest = st[st.rindex(")") + 2:].split()
                    procs[int(d)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
                except (OSError, ValueError, IndexError):
                    continue
            kids: dict[int, list[int]] = {}
            for pid, (ppid, _) in procs.items():
                kids.setdefault(ppid, []).append(pid)
            tree, stack, seen = 0, [os.getpid()], set()
            while stack:
                p = stack.pop()
                if p in seen:
                    continue
                seen.add(p)
                tree += procs.get(p, (0, 0))[1]
                stack.extend(kids.get(p, []))
            return busy, tree, total, steal
        except OSError:
            return None

    def _foreign_frac(before, after):
        """(same-host foreign frac, hypervisor steal frac) for the window."""
        if before is None or after is None:
            return None, None
        d_busy = after[0] - before[0]
        d_tree = after[1] - before[1]
        d_total = after[2] - before[2]
        d_steal = after[3] - before[3]
        if d_total <= 0:
            return None, None
        # exited-and-reaped pyspark workers can make d_tree slightly
        # undercount; clamp at 0 rather than report negative contention
        return (
            round(max(0.0, (d_busy - d_steal - d_tree)) / d_total, 4),
            round(d_steal / d_total, 4),
        )

    spark = get_session("bench", cpus=cpus)
    specs = load_all()

    # Warm the session the way a long-lived cluster is warm: JVM JIT +
    # parquet footer cache (count), the Python-worker pool (every core
    # forks a reusable pyspark worker on first RDD use — mr-compat
    # queries would otherwise pay all 32 forks inside their timing), and
    # the Arrow serialization path (pandas-UDF queries).
    from cooler_mapreduce_spark.sources.catalog import TABLES, table
    for t in TABLES:
        table(spark, sf_dir, t).count()
    spark.sparkContext.parallelize(range(cpus * 2), cpus).map(lambda x: x).count()
    import pandas as pd  # noqa: F401
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: it, schema="x int"
    ).count()
    # ... and the interpreted higher-order-function evaluator: HOFs have
    # no whole-stage codegen and their shared evaluator classes
    # (ArrayAggregate/ArrayTransform) only get C2-compiled after real
    # use — drive them hot with a cheap lambda fold so the HOF-heavy
    # queries (minhash tier) start nearer steady state (see SCALING.md).
    hof = spark.range(0, 20000, 1, cpus).selectExpr(
        "aggregate(transform(sequence(0, 63), i -> id * i % 2147483647),"
        " CAST(0 AS BIGINT), (a, x) -> a + x) AS s"
    )
    for _ in range(6):
        hof.groupBy().sum("s").count()

    # Run each query to STEADY STATE: at least 3 runs, up to 8, stopping
    # early once the two fastest runs agree within 12% AND the latest
    # run is no longer improving the min (>5 % drops keep the loop
    # alive — the graph tier descends ~10 %/run for 5+ runs). The min then
    # reflects the plan's steady-state cost — what a warm cluster pays
    # per query — rather than one-time compile overhead or transient
    # host load. The variable run count exists because warm-up length is
    # query-dependent: higher-order-function-heavy plans (the minhash
    # tier: 32 aggregate folds over shingle-hash arrays) are evaluated
    # interpreted (HOFs have no whole-stage codegen), and the JVM needs
    # ~3 *executions* — not wall time; a 30 s idle between runs doesn't
    # help — before C2 tiered compilation reaches those evaluator paths.
    # Measured on this host at sf0.1: dedup_minhash_lsh
    # [5.8, 5.0, 2.0, 1.5, 1.3, 1.4] across 6 consecutive runs, so a
    # fixed 3-run budget lands its min anywhere in 1.3–5.0 s depending
    # on how much JIT competition the preceding queries generated —
    # the "unexplained level shift" of BENCH_r2/r3 was exactly this.
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    foreign: dict[str, float | None] = {}
    steal: dict[str, float | None] = {}
    load1: dict[str, float] = {}
    # PER-RUN contention windows (round-10 verdict What's-wrong #3): the
    # per-query fractions above cover the whole steady-state loop, so one
    # contended run poisons the query's flag even when another run of the
    # same plan was clean. Snapshotting per RUN lets the artifact derive a
    # DE-CONTENDED FLOOR: per query, the min over runs whose own window
    # was quiet (foreign and steal <= 5%); queries with no quiet run fall
    # back to min(raw) and stay flagged. The floor total is published
    # next to the raw total so future rounds compare floors, not weather.
    run_foreign: dict[str, list[float | None]] = {}
    run_steal: dict[str, list[float | None]] = {}
    floors: dict[str, float] = {}

    def _floor(raw: list[float], fs: list[float | None], ss: list[float | None]) -> float:
        quiet = [
            t for t, f, s in zip(raw, fs, ss)
            if f is not None and s is not None and f <= 0.05 and s <= 0.05
        ]
        return min(quiet) if quiet else min(raw)

    for name in HEADLINE:
        spec = specs[name]
        raw: list[float] = []
        rfs: list[float | None] = []
        rss: list[float | None] = []
        snap0 = _cpu_snapshot()
        for i in range(8):
            rsnap0 = _cpu_snapshot()
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            raw.append(round(time.perf_counter() - t0, 3))
            rf, rs = _foreign_frac(rsnap0, _cpu_snapshot())
            rfs.append(rf)
            rss.append(rs)
            # Drop the frame and force a driver GC so the ContextCleaner
            # can release the run's localCheckpoint blocks before the
            # next run: queries that checkpoint multi-consumer statics
            # (the graph family) otherwise accumulate executor blocks
            # across runs and their arrays degrade 2-3x (measured:
            # triangle [12.1, 12.2, 14.6] without this, [7.3, 5.7, 5.6,
            # 5.3] with — the run-array degradation SCALING.md's
            # triangle note first attributed to the wedge join).
            del df
            import gc

            gc.collect()
            if i >= 2:
                lo, lo2 = sorted(raw)[:2]
                # converged = the two fastest agree AND the latest run is
                # itself near the min: two consecutive pre-JIT runs can
                # agree with each other (observed: [2.34, 2.09, ...] for
                # minhash before its ~1.0 s steady state), so agreement
                # alone must not stop the loop while runs are still
                # improving or swinging. A monotonic descent passes both
                # checks trivially (the latest run IS the min and the
                # previous run is within 12 % of it — observed: pagerank
                # [7.8, 5.3, 4.85] broke here while still dropping ~10 %
                # per run toward its ~3.1 s steady state), so a third
                # condition rejects the break while the latest run is
                # still lowering the min by more than 5 %.
                still_improving = raw[-1] < 0.95 * min(raw[:-1])
                if lo2 <= lo * 1.12 and raw[-1] <= lo * 1.12 and not still_improving:
                    break
        runs[name] = raw
        timings[name] = min(raw)
        run_foreign[name], run_steal[name] = rfs, rss
        floors[name] = _floor(raw, rfs, rss)
        foreign[name], steal[name] = _foreign_frac(snap0, _cpu_snapshot())
        la = _loadavg()
        load1[name] = la[0] if la else -1.0
        print(
            f"# {name}: {timings[name]:.3f}s  runs={raw}"
            f"  foreign_cpu={foreign[name]}  steal={steal[name]}  load1={load1[name]}",
            file=sys.stderr,
        )

    # real-stream bounded-replay entries (see _stream_cases): 3-5 runs
    # each — streaming drains are dominated by micro-batch scheduling,
    # not JIT, so they need less of the batch loop's 8-run budget, but
    # their scheduling floor is run-order-dependent (observed arrays
    # still descending ~7 % at a fixed 3-run cut), so the same
    # still-improving rule extends the loop while the min keeps
    # dropping by more than 5 %.
    for name, drive in _stream_cases(spark, sf_dir).items():
        raw = []
        rfs, rss = [], []
        snap0 = _cpu_snapshot()
        for i in range(5):
            rsnap0 = _cpu_snapshot()
            t0 = time.perf_counter()
            drive(i)
            raw.append(round(time.perf_counter() - t0, 3))
            rf, rs = _foreign_frac(rsnap0, _cpu_snapshot())
            rfs.append(rf)
            rss.append(rs)
            if i >= 2:
                lo, lo2 = sorted(raw)[:2]
                # same two-fastest-agreement guard as the batch loop:
                # one noisy non-improving run 3 must not freeze a
                # pre-steady-state min (streaming drains swing too).
                if lo2 <= lo * 1.12 and raw[-1] >= 0.95 * min(raw[:-1]):
                    break
        runs[name] = raw
        timings[name] = min(raw)
        run_foreign[name], run_steal[name] = rfs, rss
        floors[name] = _floor(raw, rfs, rss)
        foreign[name], steal[name] = _foreign_frac(snap0, _cpu_snapshot())
        la = _loadavg()
        load1[name] = la[0] if la else -1.0
        print(
            f"# {name}: {timings[name]:.3f}s  runs={raw}"
            f"  foreign_cpu={foreign[name]}  steal={steal[name]}  load1={load1[name]}",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    floor_total = round(sum(floors.values()), 3)
    # The raw per-run spread makes a regression in the min diagnosable
    # (host variance vs real slowdown — this shared host has shown 7x
    # swings between identical runs). It goes to stderr + a sidecar file,
    # NOT the contract line: the driver captures a bounded tail of stdout
    # and a runs-inflated line overflows it unparsed (BENCH_r4/r5 both
    # recorded "parsed": null for exactly this reason).
    load_end = _loadavg()
    contended = sorted(
        n
        for n in foreign
        if (foreign[n] is not None and foreign[n] > 0.05)
        or (steal[n] is not None and steal[n] > 0.05)
    )
    print(f"# runs: {json.dumps(runs)}", file=sys.stderr)
    print(f"# loadavg at end: {load_end}", file=sys.stderr)
    print(f"# contended (foreign or steal > 5%): {contended}", file=sys.stderr)
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_runs.json"), "w") as fh:
            json.dump({"sf": sf, "loadavg_start": load_start,
                       "loadavg_end": load_end, "runs": runs,
                       "foreign_cpu_frac": foreign,
                       "steal_frac": steal,
                       "run_foreign_cpu_frac": run_foreign,
                       "run_steal_frac": run_steal,
                       "floor": floors,
                       "floor_total_sec": floor_total,
                       "loadavg_per_query": load1,
                       "contended": contended}, fh, indent=1)
    except OSError:
        pass  # read-only checkout: the stderr line still has the spread
    print(f"# de-contended floor total: {floor_total}s (raw {total}s)", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                # sum of per-query minima over runs whose own contention
                # window was quiet (foreign+steal <= 5%) — compare floors
                # across rounds, not weather (see bench_runs.json)
                "floor_total_sec": floor_total,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
