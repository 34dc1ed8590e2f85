"""Query registry — the engine's public query inventory.

Each operator/query from SURVEY.md §2 registers here with:

- ``fn(spark, sf_dir) -> DataFrame`` — the Spark-native implementation;
- ``oracle`` — an equivalent ANSI-SQL string DuckDB can run over the same
  parquet tables (None only for genuinely non-SQL-expressible operators,
  e.g. custom stateful streaming);
- ``tags`` — coverage-category labels matching SURVEY.md §2.4.

The driver's correctness gate runs every entry side-by-side with its oracle
and hash-compares values, so implementations alias every computed column to
the oracle's column names and keep float outputs *bit-deterministic* (see
``functions.numeric``).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}

#: Modules that self-register queries on import, in registration order.
_QUERY_MODULES = (
    "cooler_mapreduce_spark.operators.parity",
    "cooler_mapreduce_spark.operators.tpch",
    "cooler_mapreduce_spark.operators.joins",
    "cooler_mapreduce_spark.operators.windows",
    "cooler_mapreduce_spark.operators.timeseries",
    "cooler_mapreduce_spark.operators.aggregates",
    "cooler_mapreduce_spark.operators.setops",
    "cooler_mapreduce_spark.operators.scalars",
    "cooler_mapreduce_spark.operators.dedup",
    "cooler_mapreduce_spark.operators.entity",
    "cooler_mapreduce_spark.operators.graph",
    "cooler_mapreduce_spark.operators.similarity",
    "cooler_mapreduce_spark.operators.textstats",
    "cooler_mapreduce_spark.operators.sampling",
    "cooler_mapreduce_spark.operators.corpus",
    "cooler_mapreduce_spark.operators.merge",
    "cooler_mapreduce_spark.operators.behavioral",
    "cooler_mapreduce_spark.operators.multimodal",
    "cooler_mapreduce_spark.operators.skew",
    "cooler_mapreduce_spark.operators.governance",
    "cooler_mapreduce_spark.operators.udtf_ops",
    "cooler_mapreduce_spark.operators.mapreduce",
    "cooler_mapreduce_spark.operators.sqlapi",
    "cooler_mapreduce_spark.operators.pipeline",
    "cooler_mapreduce_spark.streaming.windows",
    "cooler_mapreduce_spark.streaming.dedup",
    "cooler_mapreduce_spark.streaming.tiles",
    "cooler_mapreduce_spark.streaming.stateful",
    "cooler_mapreduce_spark.streaming.transform_state",
    "cooler_mapreduce_spark.streaming.observe",
    "cooler_mapreduce_spark.sources.sinks",
    "cooler_mapreduce_spark.sources.bucketing",
)


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as a named engine query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "")
        return fn

    return deco


#: Front-of-registry order. The driver checks the first 50 entries, so
#: this window holds one oracled representative per operator category
#: (SURVEY.md §2.4) and per LLM-pipeline family; :func:`load_all` yields
#: it first, then every other query in module registration order, so
#: rows-only tiers (no DuckDB oracle) sort after the window.
PRIORITY_QUERIES: tuple[str, ...] = (
    # --- governance, linkage, graph and streaming tiers ---
    "takedown_cascade_manifest",      # erasure cascade audit (falsifiable leaks)
    "fellegi_sunter_em_customers",    # unsupervised EM linkage (Winkler 1988)
    "rwr_weekly_deltas",              # week-over-week RWR drift (lag window)
    "stream_bloom_gated_segments",    # bloom-gated enrichment batch twin
    "erasure_propagation_docs",       # erasure propagated to derived artifacts
    "stream_erasure_gated_upsert",    # erasure as a standing stream invariant
    "bloom_prefilter_hot_orders",     # semi-join reduction
    "harmonic_centrality_hubs",       # multi-source bounded-hop BFS
    # --- anchors: the 9 §2.1-critical category representatives ---
    "word_count",                     # parity / scan / flatMap
    "pricing_summary",                # hash + partial agg (TPC-H Q1)
    "join_asof_last_click",           # join family
    "window_top_orders_per_customer", # window functions
    "dedup_minhash_lsh",              # LLM dedup
    "ann_topk_bruteforce",            # LLM similarity
    "multimodal_catalog",             # multimodal
    "mr_word_count",                  # MR-compat / UDF surface
    "stream_tumbling_counts",         # streaming batch-twin
    # --- windows, scalars, text, LLM pipeline, sinks and streaming ---
    "longest_daily_streak",
    "map_functions",
    "mixing_rates_by_lang",
    "pii_redaction",
    "pipeline_behavioral_sessions",
    "quality_top_decile",
    "repetition_filter",
    "scd2_customer_history",
    "seqlen_bucket_packing",
    "sink_tsv_roundtrip",
    "split_leakage_audit",
    "stratified_sample_by_lang",
    "stream_session_windows",
    "stream_sliding_value_sum",
    "stream_stream_click_purchase",
    "text_language_id",
    "token_count",
    "train_test_split",
    "url_functions",
    # --- similarity, dedup, embeddings, aggregates and JSON ---
    "ann_recall_ivf",
    "ann_recall_lsh",
    "conditional_bitwise_functions",
    "dedup_simhash_pairs",
    "embedding_centroids_by_label",
    "embedding_cluster_compactness",
    "event_type_gini",
    "gapfill_hourly_events",
    "json_parse_quality",
    "mad_order_price",
    # --- erasure and data-quality gates ---
    "takedown_scd2_versions",         # erasure over the VERSIONED history
    "dq_gate_event_batches",          # per-batch admission gating (DQ)
    "dq_quarantine_replay",           # quarantine replay + upsert convergence
    "retention_expiry_orders",        # age-based expiry with legal holds
)


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (idempotent) and return the registry,
    ordered with :data:`PRIORITY_QUERIES` first (see its comment), then
    every remaining query in module registration order."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    missing = [n for n in PRIORITY_QUERIES if n not in QUERIES]
    if missing:
        raise RuntimeError(f"PRIORITY_QUERIES lists unregistered queries: {missing}")
    ordered = {n: QUERIES[n] for n in PRIORITY_QUERIES}
    ordered.update((n, s) for n, s in QUERIES.items() if n not in ordered)
    return ordered
