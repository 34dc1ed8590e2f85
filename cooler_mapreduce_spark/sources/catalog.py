"""Test-table catalog: the TPC-H-ish star schema + events/documents/embeddings.

One parquet file per table per scale factor (TESTDATA.md). At 100 TB each
"file" becomes a partitioned parquet/iceberg dataset; nothing here changes —
``spark.read.parquet`` plans column-pruned, predicate-pushed, split-parallel
scans either way, which is the Spark replacement for the reference's manual
byte-range input splitting (reference coordinator/server.py:209-243).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Fan out single-split scans above this size. The test parquet files are
#: written as ONE row group each, and parquet can't split below row-group
#: granularity — so without intervention every scan (and everything fused
#: into it: tokenize, hash, aggregate partials) runs in ONE task no matter
#: how many cores exist. Real deployments never hit this branch: a 100 TB
#: table arrives as thousands of files/row groups and splits natively, and
#: an extra shuffle there would be pure waste — hence the partition-count
#: guard, not an unconditional repartition. The threshold is deliberately
#: low: compressed size is a poor proxy for downstream compute (600 KB of
#: parquet text fans out into millions of md5 calls in the dedup
#: pipelines), and redistributing a sub-MB table costs ~nothing; only
#: the KB-scale dimension tables (region/nation), which broadcast
#: anyway, stay single-partition.
_FANOUT_MIN_BYTES = 256 * 1024


def table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fan_out: bool | None = None,
    partitioned_by: tuple[str, ...] | list[str] | None = None,
) -> DataFrame:
    """Load one catalog table from a scale-factor directory.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright ([PARQUET_TYPE_ILLEGAL]); the
    ``nanosAsLong`` legacy conf reads it as an int64 of nanoseconds and we
    rebuild a proper timestamp at microsecond precision — the same ns→µs
    truncation DuckDB applies, so both engines see identical instants.

    ``fan_out``: ``None`` (default) applies the single-split guard below;
    ``False`` skips the fan-out shuffle for this scan. Callers pass
    ``False`` when the scan's OWN compute is trivial (a pruned
    filter/projection feeding a join or a selective aggregate): there the
    redistribution shuffle costs more than the extra parallelism buys,
    measured 1.3–1.5× per query at sf0.1. Scans that fan tokens/hashes
    out of each row (tokenize, minhash, decimal-heavy full-row aggs)
    keep the default — their per-row compute dwarfs the shuffle. At
    production scale the flag is inert either way: multi-split tables
    never trigger the guard.

    ``partitioned_by``: opt this scan into a hive-partitioned layout —
    the catalog materializes (once per process per (sf_dir, table,
    cols)) a ``col=value/`` directory copy of the table and serves the
    scan from it, so any filter on a partition column is resolved by the
    FILE LISTING (PartitionFilters) before a byte of data I/O. This is
    the default-capable version of what sink_partitioned_pruning
    demonstrates on a scratch copy: at 100 TB a fact table partitioned
    by its hot filter key (event date, type, tenant bucket) turns every
    bucket-keyed consumer's full-corpus scan into a directory lookup.
    Partition columns move to the tail of the schema (hive layout);
    value NULLs land in the ``__HIVE_DEFAULT_PARTITION__`` directory.
    The fixture copy lives under the scratch conf
    (``spark.cooler_mapreduce.scratchDir``) or a local tempdir; a real
    deployment points the catalog at an already-partitioned dataset and
    skips the copy entirely.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    if partitioned_by:
        return _partitioned_layout(spark, sf_dir, name, tuple(partitioned_by))
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if fan_out is False:
        return df
    return _fan_out(spark, df, f"{sf_dir}/{name}.parquet", name)


#: materialized partitioned-layout path per (sf_dir, table, cols) — the
#: copy is immutable for the life of the process, so each layout is
#: written exactly once no matter how many queries opt in.
_LAYOUT_CACHE: dict[tuple[str, str, tuple[str, ...]], str] = {}


def _partitioned_layout(
    spark: SparkSession, sf_dir: str, name: str, cols: tuple[str, ...]
) -> DataFrame:
    """Materialize + serve the hive-partitioned copy behind
    ``table(..., partitioned_by=...)`` (see its docstring)."""
    key = (sf_dir, name, cols)
    path = _LAYOUT_CACHE.get(key)
    if path is None:
        from .sinks import scratch_dir

        base = table(spark, sf_dir, name, fan_out=False)
        missing = [c for c in cols if c not in base.columns]
        if missing:
            raise KeyError(f"{name} has no column(s) {missing}; cannot partition")
        path = scratch_dir(spark, f"catalog_{name}_by_{'_'.join(cols)}_")
        base.write.mode("overwrite").partitionBy(*cols).parquet(path)
        _LAYOUT_CACHE[key] = path
    return spark.read.parquet(path)


def morton_code(a, b) -> "F.Column":
    """Z-order (Morton) interleave of two integer columns' low 16 bits —
    the space-filling-curve sort key behind multi-column data skipping.

    Sorting a table by this key makes every contiguous slice of rows a
    compact box in (a, b) space, so per-file/row-group min/max
    statistics become selective for predicates on EITHER column — the
    property neither a single-column sort (only helps its own column)
    nor hive partitioning (explodes directories beyond ~1 low-card
    column) provides. Classic bit-spread sequence, expressed entirely in
    JVM-side bitwise ops (shiftleft/AND/OR — whole-stage codegen'd, no
    UDF). Test-SF key ranges fit 16 bits raw; a production deployment
    first quantile-buckets each column to 16-bit ranks, which preserves
    the locality property for any distribution.
    """
    def spread(x):
        x = x.bitwiseAND(F.lit(0xFFFF))
        x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
        x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
        x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
        x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
        return x

    a = (F.col(a) if isinstance(a, str) else a).cast("bigint")
    b = (F.col(b) if isinstance(b, str) else b).cast("bigint")
    return spread(a).bitwiseOR(F.shiftleft(spread(b), 1))


def rank16(col) -> "F.Column":
    """16-bit quantile rank of a column — the production preprocessor
    for :func:`morton_code` on arbitrary-range, skewed, or non-integer
    keys. ``ntile(65536)`` over the global ordering maps any orderable
    column (bigint beyond 16 bits, double, string) onto dense uniform
    bucket ids 0..65535, so the Morton interleave keeps its locality
    property regardless of the key's distribution — raw values would
    alias past 16 bits and cluster badly under skew.

    The unpartitioned window is a deliberate cost: a z-order re-layout
    is an offline maintenance job (lakehouse OPTIMIZE), run at write
    amortization frequency, not query time; at 100 TB the rank pass is
    one range-partitioned sort of two narrow columns. (An approximate
    alternative — percentile_approx boundaries broadcast as a literal
    bucketizer — trades exact uniformity for a fully parallel pass; the
    EXACT parallel form is
    :func:`~cooler_mapreduce_spark.operators.windows.exact_global_rank`
    + bucket = floor(rank·65536/N), a DataFrame-level rewrite this
    Column-level helper keeps out of the demo's way.)
    """
    from pyspark.sql import Window

    c = F.col(col) if isinstance(col, str) else col
    return F.ntile(65536).over(Window.orderBy(c)) - 1


#: materialized z-ordered layout path per (sf_dir, table, key expr, files).
_ZORDER_CACHE: dict[tuple[str, str, str, int], str] = {}


def zordered_layout(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    zcol,
    n_files: int = 16,
    cache_key: str = "",
) -> DataFrame:
    """Materialize (once per process) a copy of a catalog table sorted
    and range-split by a z-order key, and serve the scan from it.

    ``zcol`` is the Morton key Column (build it with :func:`morton_code`);
    ``cache_key`` names it for the per-process cache.
    ``repartitionByRange`` on the key gives each output file a
    contiguous, compact z-range — a box in the interleaved columns'
    space — so a parquet reader's footer min/max check skips most files
    for a predicate on either constituent column. At 100 TB this is the
    OPTIMIZE ZORDER maintenance job of lakehouse tables, expressed as a
    plain sort-write; the catalog would point at the maintained dataset.
    """
    key = (sf_dir, name, cache_key or str(zcol), n_files)
    path = _ZORDER_CACHE.get(key)
    if path is None:
        from .sinks import scratch_dir

        base = table(spark, sf_dir, name, fan_out=False)
        path = scratch_dir(spark, f"catalog_{name}_zorder_")
        (
            base.withColumn("_z", zcol)
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(path)
        )
        _ZORDER_CACHE[key] = path
    return spark.read.parquet(path)


#: (fan-out decision, file size) per (path, parallelism) — the split count
#: and size of a static file never change within a run, and the .rdd
#: partition probe costs a plan construction per call.
_FANOUT_CACHE: dict[tuple[str, int], tuple[bool, int]] = {}

#: Primary-key columns per table — the deterministic hash key for the
#: fan-out exchange. A keyless ``repartition(n)`` is round-robin, and
#: since SPARK-23207 every round-robin exchange first pays a LOCAL SORT
#: of its entire input so retried map tasks reproduce the same
#: row-to-partition assignment. Hash-partitioning on the table's unique
#: key needs no such sort (the assignment is deterministic by value) and
#: spreads as evenly (unique keys, murmur3). Interleaved A/B at sf0.1,
#: identical results: pricing_summary 2.18 s round-robin vs 0.80 s hash
#: fan-out steady — the sort was most of the fan-out's cost. This is the
#: guide's "derive the synthetic key deterministically" rule applied to
#: every catalog scan.
_TABLE_KEYS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


#: Compressed bytes per fan-out partition, and per-table COMPUTE-DENSITY
#: weights (how much downstream work a compressed byte usually buys:
#: documents explode to tokens/shingles, embeddings decode to dense float
#: arrays, events feed sessionization windows; the TPC-H tables are
#: near-flat scans+aggs). r12 A/B (OPTIMIZATION_r12.md, 26 queries × 3
#: policies × 3 interleaved rounds at sf0.1/32c): sizing the fan-out by
#: bytes×weight instead of defaultParallelism won or tied 22/27 probes
#: (word_count 0.524→0.293, tfidf 0.470→0.347, ann_topk 0.469→0.384,
#: dedup_exact 0.213→0.171, pagerank 3.022→2.817, triangle 4.188→4.009,
#: stat_corr 0.763→0.667) and cost ≤0.12 s on the five losers
#: (pricing_summary 0.771→0.889 the worst). This is the r11 verdict's
#: "size partitions to data, not cores": at 100 TB the single-split guard
#: below never fires (multi-split scans), so the weights only shape
#: LOCAL/small-file behavior; the clamp to defaultParallelism is what a
#: cluster sees.
#: The two TPC-H fact tables carry weight 2: their scans feed the
#: decimal-heavy aggregate/join tier (8 decimal aggregates per
#: pricing_summary row, the OLS ten-sum fan-in), which is CPU-bound per
#: compressed byte well past weight 1. Follow-up interleaved A/B
#: (weight 1 vs 2, 9 queries × 4 rounds): pricing_summary 0.932→0.828,
#: large_orders_q18 1.056→0.933, shipping_priority_topk 0.621→0.568,
#: market_share_q8 1.239→1.159, multiple_ols 0.751→0.705, rest flat.
_FANOUT_TARGET_BYTES = 512 * 1024
_FANOUT_WEIGHTS = {"documents": 16, "embeddings": 8, "events": 4, "lineitem": 2, "orders": 2}


def _fan_out(spark: SparkSession, df: DataFrame, path: str, name: str) -> DataFrame:
    import os

    cores = spark.sparkContext.defaultParallelism
    key = (path, cores)
    cached = _FANOUT_CACHE.get(key)
    if cached is None:
        try:
            size = os.path.getsize(path)
        except OSError:
            size = 0
        fan = (
            size >= _FANOUT_MIN_BYTES
            and cores >= 4
            and df.rdd.getNumPartitions() < max(2, cores // 2)
        )
        cached = _FANOUT_CACHE[key] = (fan, size)
    fan, size = cached
    if not fan:
        return df
    weight = _FANOUT_WEIGHTS.get(name, 1)
    target = max(2, min(cores, -(-size * weight // _FANOUT_TARGET_BYTES)))
    keys = _TABLE_KEYS.get(name)
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every catalog table as a temp view so ``spark.sql`` text
    queries run against the same (ts-fixed, fan-out-guarded) DataFrames
    the programmatic API uses."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
