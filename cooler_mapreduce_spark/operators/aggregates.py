"""Multi-dimensional and advanced aggregation operators.

Absent from the reference (SURVEY.md §2.4: no grouping sets, no distinct,
no pivot) — each would need a separate MapReduce job per grouping set.
Catalyst expands CUBE/ROLLUP/GROUPING SETS into a single Expand + one
aggregate: the input is scanned once regardless of how many groupings are
requested, and partial aggregation still applies before the one shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.numeric import dsum, sql_dsum
from ..functions.timeutil import wall_trunc
from ..registry import query
from ..sources.catalog import table
from .tpch import revenue_by_nation


@query(
    "cube_sales",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("aggregation", "cube"),
)
def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping combinations in
    one scan + one shuffle (Expand multiplies rows 4×, partial agg
    collapses them before shuffling — still O(groups) network)."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"), dsum("l_quantity").alias("sum_qty")
    )


@query(
    "rollup_region_nation_customers",
    oracle=f"""
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_customers, {sql_dsum('c.c_acctbal')} AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    tags=("aggregation", "rollup", "join"),
)
def rollup_region_nation_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP along the region → nation hierarchy after two broadcast
    dimension joins (the fact side never shuffles for the joins; only the
    final grouped aggregate moves data)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.withColumn("region", F.col("r_name"))
        .withColumn("nation", F.col("n_name"))
        .rollup("region", "nation")
        .agg(F.count("*").alias("n_customers"), dsum("c_acctbal").alias("total_balance"))
    )


@query(
    "grouping_sets_orders",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("aggregation", "grouping-sets"),
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (two independent dimensions + grand total) —
    expressed in Spark SQL over a temp view; same single-scan Expand plan
    as cube/rollup."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("gs_orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS total_price
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "count_distinct_customers",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("aggregation", "distinct"),
)
def count_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group — Catalyst plans the two-phase
    Expand + partial-dedup aggregation automatically; at extreme
    cardinality switch to ``approx_distinct_users`` (HLL, one pass)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@query(
    "approx_distinct_users",
    oracle=None,  # HLL sketches differ across engines by design; the exact
    # counterpart is count_distinct_customers. Tests bound the error at 5%.
    tags=("aggregation", "approx", "sketch"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++, rsd 1%) per event type — the
    100 TB-scale path for distinct counting: single pass, fixed-size
    sketch, mergeable across partitions (no Expand, no dedup shuffle)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )


@query(
    "hll_sketch_rollup_users",
    oracle=None,  # HLL sketch binaries are engine-specific by design; tests
    # bound every estimate within 5% of the exact distinct count and assert
    # the merge identity (union-of-daily == sketch-of-all).
    tags=("aggregation", "approx", "sketch", "mergeable"),
)
def hll_sketch_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches: per-day HLL sketches of active
    users, re-aggregated into the corpus-wide distinct estimate by
    merging the sketches — never re-touching the raw events.

    This is the tier ``approx_count_distinct`` cannot express: that
    returns a number, consuming its sketch; ``hll_sketch_agg`` returns
    the sketch itself as a value, so a 100 TB deployment materializes
    tiny per-partition/per-day sketch tiles ONCE and answers any
    distinct-users-over-[t0,t1] question by unioning tiles —
    O(days x sketch_size) per query instead of a corpus re-scan.
    HLL union is commutative/associative/idempotent, so the rollup is
    order-independent and overlap-safe (the same user on two days
    counts once).

    Output: one row per day (day, estimate from that day's sketch) plus
    the day=NULL total row whose estimate comes from hll_union_agg over
    the daily sketches — a rollup computed entirely in sketch space.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count("*").alias("n_events"),
    )
    per_day = daily.select(
        "day",
        F.hll_sketch_estimate("sk").alias("est_users"),
        "n_events",
    )
    total = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.sum("n_events").alias("n_events"),
    ).select(F.lit(None).cast("date").alias("day"), "est_users", "n_events")
    return per_day.unionByName(total).orderBy(F.asc_nulls_last("day"))


#: quantile-histogram shape: fixed equi-width bins over o_totalprice.
#: Width/cap are MODEL CONSTANTS (like LSH planes or IVF centroids): 10 k
#: wide, ids 0..63 — prices ≥ 640 k clamp into the top bin.
_QBIN_W = 10_000.0
_QBIN_CAP = 63


def _qbin_est(q: str) -> str:
    """Linear-interpolation estimate at quantile ``q`` from the crossing
    bin — the SAME textual op sequence in Spark and DuckDB (bin edge +
    fractional offset inside the bin), so the emitted double is
    bit-identical given identical integer (bin, cnt, cum) inputs."""
    return (
        f"min(CASE WHEN cum >= {q} * total AND cum - cnt < {q} * total"
        f" THEN bin * {_QBIN_W} + ({q} * total - (cum - cnt)) / cnt * {_QBIN_W}"
        f" END)"
    )


#: the batch rollup's oracle — shared verbatim by the streaming-tile
#: face (stream_quantile_tiles), whose materialized tiles must produce
#: the identical quantiles.
_QBIN_ROLLUP_ORACLE = f"""
    WITH tiles AS (
        SELECT n.n_regionkey, c.c_nationkey,
               least(CAST(floor(o.o_totalprice / {_QBIN_W}) AS BIGINT),
                     {_QBIN_CAP}) AS bin,
               COUNT(*) AS cnt
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_regionkey, c.c_nationkey, bin
    ),
    merged AS (
        SELECT n_regionkey, bin, SUM(cnt) AS cnt
        FROM tiles GROUP BY n_regionkey, bin
    ),
    cums AS (
        SELECT n_regionkey, bin, cnt,
               SUM(cnt) OVER (PARTITION BY n_regionkey ORDER BY bin) AS cum,
               SUM(cnt) OVER (PARTITION BY n_regionkey) AS total
        FROM merged
    ),
    casted AS (
        SELECT n_regionkey, bin,
               CAST(cnt AS DOUBLE) AS cnt, CAST(cum AS DOUBLE) AS cum,
               CAST(total AS DOUBLE) AS total
        FROM cums
    ),
    est AS (
        SELECT n_regionkey,
               MAX(total) AS total,
               {_qbin_est('CAST(0.5 AS DOUBLE)')} AS e50,
               {_qbin_est('CAST(0.9 AS DOUBLE)')} AS e90
        FROM casted GROUP BY n_regionkey
    )
    SELECT r.r_name AS region,
           CAST(est.total AS BIGINT) AS n_orders,
           round(e50, 6) AS est_p50,
           round(e90, 6) AS est_p90
    FROM est JOIN region r ON est.n_regionkey = r.r_regionkey
    ORDER BY region
    """


@query(
    "quantile_bin_rollup_regions",
    oracle=_QBIN_ROLLUP_ORACLE,
    tags=("aggregation", "approx", "sketch", "mergeable", "quantile"),
)
def quantile_bin_rollup_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketches — the quantile companion of
    :func:`hll_sketch_rollup_users`: per-(region, nation) equi-width
    histogram tiles over ``o_totalprice`` (the "sketch build": bounded
    O(nations × 64 bins) rows), MERGED up to region level by summing bin
    counts — an associative/commutative combine that never re-touches
    the raw orders — then p50/p90 estimated from each region's merged
    histogram by linear interpolation inside the crossing bin.

    This is the two-level pattern a 100 TB lakehouse uses for
    percentile dashboards: materialize tiny histogram tiles per
    partition/day ONCE, answer any rollup (region, month, total) in
    sketch space at O(tiles × bins) — no corpus re-scan, no
    order-statistics shuffle. Contrast ``approx_quantiles_price``
    (Spark's GK sketch — better error bounds, opaque binary) and
    ``exact_median_quantity`` (exact, but a full sort-shuffle): fixed
    bins trade resolution (≤ bin-width error, here 10 k) for a sketch
    that is trivially mergeable, SQL-expressible, and auditable — which
    is also why the whole pipeline has an exact DuckDB oracle rather
    than a rows-only row.

    Determinism: tiles/merge/cumsum are exact integers; the
    interpolation is the same textual op sequence in both engines
    (:func:`_qbin_est`) over those integers cast to double, so the
    emitted estimates are bit-identical. The bin cumsum window is
    partitioned by region (25 nations × ≤64 bins — never single-task).
    """
    o = table(spark, sf_dir, "orders")
    # fan_out=False: customer is the broadcast BUILD side (orders
    # streams into the tile aggregate) — the Q3/Q8/Q9/Q18 pattern
    c = table(spark, sf_dir, "customer", fan_out=False)
    n = table(spark, sf_dir, "nation")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        n, F.col("c_nationkey") == F.col("n_nationkey")
    )
    tiles = joined.groupBy(
        "n_regionkey",
        "c_nationkey",
        F.least(
            F.floor(F.col("o_totalprice") / F.lit(_QBIN_W)).cast("bigint"),
            F.lit(_QBIN_CAP),
        ).alias("bin"),
    ).agg(F.count("*").alias("cnt"))
    merged = tiles.groupBy("n_regionkey", "bin").agg(F.sum("cnt").alias("cnt"))
    return qbin_quantiles_by_region(spark, sf_dir, merged)


def qbin_quantiles_by_region(
    spark: SparkSession, sf_dir: str, merged: DataFrame
) -> DataFrame:
    """p50/p90 tail over MERGED histogram tiles (n_regionkey, bin, cnt)
    — shared by the batch rollup and the streaming-tile face, so both
    produce bit-identical quantiles from the same tile algebra."""
    r = table(spark, sf_dir, "region")
    wcum = Window.partitionBy("n_regionkey").orderBy("bin")
    wtot = Window.partitionBy("n_regionkey")
    casted = merged.select(
        "n_regionkey",
        "bin",
        F.col("cnt").cast("double").alias("cnt"),
        F.sum("cnt").over(wcum).cast("double").alias("cum"),
        F.sum("cnt").over(wtot).cast("double").alias("total"),
    )
    est = casted.groupBy("n_regionkey").agg(
        F.max("total").alias("total"),
        F.expr(_qbin_est("CAST(0.5 AS DOUBLE)")).alias("e50"),
        F.expr(_qbin_est("CAST(0.9 AS DOUBLE)")).alias("e90"),
    )
    return (
        est.join(F.broadcast(r), est.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            F.col("total").cast("bigint").alias("n_orders"),
            F.round("e50", 6).alias("est_p50"),
            F.round("e90", 6).alias("est_p90"),
        )
        .orderBy("region")
    )


@query(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY user_id
    """,
    tags=("aggregation", "pivot"),
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into per-user count columns. Explicit value list —
    at scale an unlisted pivot triggers an extra distinct pass *and* makes
    the output schema data-dependent; always enumerate."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "unpivot_lineitem_amounts",
    oracle=f"""
    WITH long AS (
        SELECT l_returnflag, 'discount' AS metric,
               CAST(l_discount AS DOUBLE) AS amount FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'extendedprice', CAST(l_extendedprice AS DOUBLE)
        FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'quantity', CAST(l_quantity AS DOUBLE)
        FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'tax', CAST(l_tax AS DOUBLE) FROM lineitem
    )
    SELECT l_returnflag, metric, COUNT(*) AS n,
           {sql_dsum('amount', 4)} AS total
    FROM long GROUP BY l_returnflag, metric
    """,
    tags=("aggregation", "reshape", "unpivot"),
)
def unpivot_lineitem_amounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the inverse reshape of :func:`pivot_event_counts`:
    four lineitem amount columns become (metric, amount) long-form rows,
    then a per-(flag, metric) rollup. ``DataFrame.unpivot`` is a pure
    projection (Expand node — each input row fans out to 4 output rows
    in place, no shuffle, no join), so the only wide operation is the
    final partial-aggregable groupBy. The oracle spells the same reshape
    as UNION ALL, proving Expand ≡ the relational formulation. Long-form
    amounts are decimal-staged so the totals hash-match bit-for-bit.
    """
    li = table(spark, sf_dir, "lineitem")
    long = li.select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    ).unpivot(
        ids=["l_returnflag"],
        values=["l_discount", "l_extendedprice", "l_quantity", "l_tax"],
        variableColumnName="metric",
        valueColumnName="amount",
    ).withColumn("metric", F.expr("substring(metric, 3)"))
    return long.groupBy("l_returnflag", "metric").agg(
        F.count("*").alias("n"), dsum("amount", 4).alias("total")
    )


@query(
    "value_histogram",
    oracle="""
    SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
           COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v
    FROM events WHERE value IS NOT NULL GROUP BY 1
    """,
    tags=("aggregation", "histogram"),
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values — bucketing via integer floor
    keeps the oracle exact (value/10 in double is deterministic; FLOOR of
    it is exact)."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.groupBy(
        F.floor(F.col("value") / 10.0).cast("long").alias("bucket")
    ).agg(F.count("*").alias("n"), F.min("value").alias("min_v"), F.max("value").alias("max_v"))


@query(
    "exact_median_quantity",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.75) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("aggregation", "percentile"),
)
def exact_median_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per group. l_quantity is
    whole-valued so the interpolation arithmetic is exact in both engines.
    The IQR bounds are emitted as scalar p25/p75 columns (not a 2-element
    array) so hash-comparing harnesses can canonicalize each cell.
    At 100 TB the one-pass sketch (``percentile_approx``) replaces this;
    exact percentile requires a per-group sort."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
        F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
    )


@query(
    "approx_quantiles_price",
    oracle=None,  # sketch output is algorithm-specific; accuracy is
    # test-pinned against exact quantiles (tests/test_operators.py)
    tags=("aggregation", "approx", "sketch", "percentile"),
)
def approx_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate order-price quantiles via percentile_approx
    (Greenwald-Khanna sketch, relative error 1e-3).

    The sketch is mergeable: partials combine associatively across
    partitions, so at 100 TB this is one narrow pass + a tiny merge —
    versus exact percentiles, which need a full sort or two-pass
    count-then-seek (see exact_median_quantity). accuracy=10000 bounds
    rank error at n/10000 with O(accuracy) state per partition.

    Determinism contract (measured, r7 split-axis sweep): the returned
    DOUBLES depend on the SCAN partitioning — GK merge is associative
    in its error bound, not in its chosen cut points, so changing
    spark.sql.files.maxPartitionBytes 128 MB → 64 KB moves the values
    (max rank drift measured 1.3e-4, well inside the bound). This is
    the only registry query whose values move under the input-split
    axis; HLL and CMS passed it exactly (register-max / counter-add
    merges ARE order-independent). Hence rows-only at the driver, with
    the 1 %-rank-error pin (tests/test_operators.py) as the contract.
    """
    o = table(spark, sf_dir, "orders")
    return o.select(
        F.percentile_approx(
            "o_totalprice", [0.25, 0.5, 0.75, 0.95, 0.99], 10000
        ).alias("quantiles")
    )


@query(
    "global_sort_orders",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O'
    ORDER BY o_orderdate, o_orderkey
    """,
    tags=("sort", "range-partitioning"),
)
def global_sort_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Totally-ordered export (time-ordered output files): a true global
    ORDER BY, planned as a RangePartitioning exchange — Spark samples the
    sort key, computes balanced range bounds, shuffles each row to its
    range, sorts within partitions; partition i's rows all precede
    partition i+1's. That sampling step is what makes a 100 TB sort
    feasible without a single-reducer bottleneck — contrast top-k
    (TakeOrdered, no full shuffle), the right tool when only the head is
    needed. The (o_orderdate, o_orderkey) key is a total order, so output
    is deterministic row-for-row.
    """
    # fan_out=False: the RangePartitioning exchange immediately
    # re-shuffles this scan; the fan-out pass was redundant (r11 A/B on
    # the same shape: window_running_total 0.881 -> 0.427 s)
    o = table(spark, sf_dir, "orders", fan_out=False)
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
    )


@query(
    "gapfill_hourly_events",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (
        SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT s.hour, t.event_type, COALESCE(c.n, 0) AS n_events
    FROM spine s CROSS JOIN types t
    LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = t.event_type
    """,
    tags=("timeseries", "gapfill", "densify"),
)
def gapfill_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: every (hour, event_type) cell over the
    observed range, zero-filled where no events landed — the gap-filling
    step dashboards and downstream ML featurization require (a plain
    GROUP BY silently omits empty buckets).

    The spine is generated, not scanned: sequence() over the min/max
    bound aggregate, exploded, crossed with the distinct type list —
    both sides are bounded by (hours × types), never by row count, so
    the cross join is safe at any scale. The counts side is itself an
    aggregate output of the same bounded size; the fact table is
    touched exactly twice (bounds+counts), both as partial-agg scans.
    """
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        wall_trunc(F.min("ts"), "hour").alias("lo"),
        wall_trunc(F.max("ts"), "hour").alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    counts = ev.groupBy(
        wall_trunc(F.col("ts"), "hour").alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"))
    return (
        spine.crossJoin(types)
        .join(counts, ["hour", "event_type"], "left")
        .select("hour", "event_type", F.coalesce(F.col("n"), F.lit(0)).alias("n_events"))
    )


@query(
    "profile_orders",
    oracle="""
    WITH stats AS (
        SELECT COUNT(*) AS n_rows,
               COUNT(o_orderkey) AS nn_key, COUNT(DISTINCT o_orderkey) AS nd_key,
               CAST(MIN(o_orderkey) AS VARCHAR) AS min_key, CAST(MAX(o_orderkey) AS VARCHAR) AS max_key,
               COUNT(o_orderstatus) AS nn_status, COUNT(DISTINCT o_orderstatus) AS nd_status,
               CAST(MIN(o_orderstatus) AS VARCHAR) AS min_status, CAST(MAX(o_orderstatus) AS VARCHAR) AS max_status,
               COUNT(o_orderpriority) AS nn_prio, COUNT(DISTINCT o_orderpriority) AS nd_prio,
               CAST(MIN(o_orderpriority) AS VARCHAR) AS min_prio, CAST(MAX(o_orderpriority) AS VARCHAR) AS max_prio,
               COUNT(o_orderdate) AS nn_date, COUNT(DISTINCT o_orderdate) AS nd_date,
               CAST(MIN(o_orderdate) AS VARCHAR) AS min_date, CAST(MAX(o_orderdate) AS VARCHAR) AS max_date
        FROM orders
    )
    SELECT 'o_orderkey' AS column_name, n_rows - nn_key AS n_nulls, nd_key AS n_distinct,
           min_key AS min_value, max_key AS max_value FROM stats
    UNION ALL
    SELECT 'o_orderstatus', n_rows - nn_status, nd_status, min_status, max_status FROM stats
    UNION ALL
    SELECT 'o_orderpriority', n_rows - nn_prio, nd_prio, min_prio, max_prio FROM stats
    UNION ALL
    SELECT 'o_orderdate', n_rows - nn_date, nd_date, min_date, max_date FROM stats
    """,
    tags=("profiling", "data-quality"),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (null count / exact distinct / min / max per
    column) — the data-quality summary every ingest gate runs first.

    All statistics for all columns come from ONE scan and one aggregate
    row (count-distinct for multiple columns expands to Catalyst's
    expand-node plan, still a single pass over the table); the per-column
    long format is a projection-only unpivot of that row. Timestamp
    min/max are CAST to VARCHAR identically in both engines
    ('YYYY-MM-DD HH:MM:SS' for midnight-free values).
    """
    o = table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"min_{c}"),
            F.max(c).cast("string").alias(f"max_{c}"),
        ]
    stats = o.agg(*aggs)
    # unpivot via explode-of-structs, NOT a union of selects over `stats`
    # — union branches re-evaluate the aggregate subtree (Catalyst does
    # no CSE across union children: 4 branches = 4 table scans); the
    # explode keeps one aggregate, one scan, and unpivots projection-only
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"min_{c}").alias("min_value"),
                F.col(f"max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return stats.select(F.explode(rows).alias("p")).select("p.*")


@query(
    "revenue_share_by_nation",
    oracle=f"""
    WITH per_nation AS (
        SELECT n.n_name AS nation,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
    )
    SELECT nation, revenue,
           round(revenue / (SELECT CAST(SUM(CAST(revenue AS DECIMAL(30,4))) AS DOUBLE)
                            FROM per_nation), 9) AS share
    FROM per_nation
    """,
    tags=("aggregation", "ratio-to-total"),
)
def revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio-to-report): each nation's revenue share.

    Two-level aggregation: the 25-row per-nation aggregate re-aggregates
    to one grand total, which joins back as a broadcast scalar — the
    second pass costs nothing because its input is already tiny (a
    window-over-everything SUM would force a single partition). The
    grand total re-sums the per-nation DOUBLES through decimal so the
    total is bit-stable; share is one double division, rounded at 9 dp.
    """
    per_nation = revenue_by_nation(spark, sf_dir).select("nation", "revenue")
    total = per_nation.agg(
        F.sum(F.col("revenue").cast("decimal(30,4)")).cast("double").alias("total")
    )
    return (
        per_nation.crossJoin(F.broadcast(total))
        .select(
            "nation",
            "revenue",
            F.round(F.col("revenue") / F.col("total"), 9).alias("share"),
        )
    )


@query(
    "stat_corr_qty_price",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_items,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS corr_qty_price,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 9) AS intercept
    FROM s
    """,
    tags=("aggregation", "statistics"),
)
def stat_corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + least-squares slope/intercept of
    (quantity, extendedprice) per returnflag — the co-moment algebra the
    reference's weather sample carries by hand in its combiner
    (shared/samples/weather_stats.py:56-75: {sum,count,min,max} merged
    associatively) generalized to second moments.

    Spark has ``corr``/``regr_slope`` built in, but their float partials
    combine in shuffle-arrival order — not bit-deterministic. Staged
    instead: the five co-moment sums are exact decimals (associative,
    order-independent, single map-side-combined shuffle — same cost as
    the built-in), and the correlation formula is one deterministic
    double expression on 4 rows.  100 TB: identical plan shape — O(groups)
    state, no extra pass versus ``corr``.
    """
    li = table(spark, sf_dir, "lineitem")
    xd = F.col("l_quantity").cast("decimal(9,2)")
    yd = F.col("l_extendedprice").cast("decimal(12,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "syy", "sxy"))
    num = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n_items"),
        F.round(num / (F.sqrt(var_x) * F.sqrt(n * syy - sy * sy)), 9).alias("corr_qty_price"),
        F.round(num / var_x, 9).alias("slope"),
        F.round((sy - (num / var_x) * sx) / n, 9).alias("intercept"),
    )


@query(
    "argmax_customer_by_nation",
    oracle="""
    SELECT n_name AS nation,
           max_by(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000000 + c_custkey)
               AS richest_customer,
           min_by(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000000 + c_custkey)
               AS poorest_customer,
           max(c_acctbal) AS top_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("aggregation", "argmax"),
)
def argmax_customer_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARGMAX/ARGMIN as single-pass aggregates: the customer holding each
    nation's highest/lowest balance via ``max_by``/``min_by`` — no
    self-join, no window, one map-side-combined shuffle carrying one
    candidate row per (group, aggregate).  The reference can only express
    this as reduce_fn scanning its whole value list (task_executor.py:
    230-241).

    Ties on c_acctbal are broken deterministically by folding the unique
    c_custkey into a composite ordering key (balance-cents * 1e10 +
    custkey — exact bigint arithmetic, no float compare; custkeys stay
    below 1e10 even at 100 TB).  The nation dim is broadcast.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    key = (
        F.round(F.col("c_acctbal") * 100).cast("bigint") * F.lit(10_000_000_000).cast("bigint")
        + F.col("c_custkey")
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.max_by("c_name", key).alias("richest_customer"),
            F.min_by("c_name", key).alias("poorest_customer"),
            F.max("c_acctbal").alias("top_bal"),
        )
    )


@query(
    "zscore_outlier_orders",
    oracle="""
    WITH s AS (
        SELECT o_orderpriority AS p,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))
                        * CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sxx
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority, CAST(s.n AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN abs((o.o_totalprice - s.sx / s.n)
                                  / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1))) > 2.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           max(CASE WHEN abs((o.o_totalprice - s.sx / s.n)
                             / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1))) > 2.0
                    THEN o.o_totalprice END) AS max_outlier_price
    FROM orders o JOIN s ON o.o_orderpriority = s.p
    GROUP BY o.o_orderpriority, s.n
    """,
    tags=("aggregation", "statistics", "outlier"),
)
def zscore_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass z-score outlier gate: per-priority mean/stddev from exact
    decimal moments (pass 1, tiny result), broadcast back onto the fact
    table (pass 2) to flag orders more than 2σ from their group mean —
    the distribution-shift tripwire a data-quality monitor runs per
    batch.

    The group stats are O(groups) rows, so the join back is a broadcast
    — the fact table is scanned twice but never shuffled.  Stddev is
    derived from the same bit-deterministic (n, Σx, Σx²) staging as
    :func:`stat_corr_qty_price`; the 2σ comparison is then exact on
    both engines because every input bit matches.  100 TB: pass 1 is a
    map-side-combined aggregate; pass 2 is map-only — no wide exchange
    anywhere.
    """
    o = table(spark, sf_dir, "orders")
    xd = F.col("o_totalprice").cast("decimal(12,2)")
    s = o.groupBy(F.col("o_orderpriority").alias("p")).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(xd * xd).cast("double").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    z = F.abs((F.col("o_totalprice") - sx / n) / F.sqrt((sxx - sx * sx / n) / (n - 1)))
    return (
        o.join(F.broadcast(s), o.o_orderpriority == F.col("p"))
        .groupBy("o_orderpriority", "n")
        .agg(
            F.sum(F.when(z > 2.0, 1).otherwise(0)).alias("n_outliers"),
            F.max(F.when(z > 2.0, F.col("o_totalprice"))).alias("max_outlier_price"),
        )
        .select(
            "o_orderpriority",
            n.cast("bigint").alias("n_orders"),
            "n_outliers",
            "max_outlier_price",
        )
    )


@query(
    "weighted_avg_discount",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(6,2))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS wavg_discount,
           (CAST(SUM(CAST(l_discount AS DECIMAL(6,2))) AS DOUBLE) / COUNT(l_discount))
               AS avg_discount,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("aggregation", "weighted"),
)
def weighted_avg_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted average discount per returnflag, next to the
    unweighted mean — the weighted-aggregate algebra (Σwx / Σw) that a
    plain AVG cannot express and that mis-states the effective discount
    whenever weights correlate with values.

    Both numerator and denominator are exact decimal sums (the same
    order-independent staging as :func:`~cooler_mapreduce_spark.functions.
    numeric.dsum`), so the single double division is bit-deterministic.
    One scan, one map-side-combined shuffle — identical cost to the
    unweighted aggregate.
    """
    li = table(spark, sf_dir, "lineitem")
    w = F.col("l_extendedprice").cast("decimal(12,2)")
    x = F.col("l_discount").cast("decimal(6,2)")
    return li.groupBy("l_returnflag").agg(
        (F.sum(w * x).cast("double") / F.sum(w).cast("double")).alias("wavg_discount"),
        (F.sum(x).cast("double") / F.count("l_discount")).alias("avg_discount"),
        F.count("*").alias("n_items"),
    )


@query(
    "mad_order_price",
    oracle="""
    WITH med AS (
        SELECT o_orderpriority AS p, quantile_cont(o_totalprice, 0.5) AS med
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority, med AS median_price,
           quantile_cont(abs(o.o_totalprice - med), 0.5) AS mad
    FROM orders o JOIN med m ON o.o_orderpriority = m.p
    GROUP BY o.o_orderpriority, med
    """,
    tags=("aggregation", "statistics", "robust"),
)
def mad_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per priority — the robust dispersion
    measure (stddev is dragged by the very outliers you're hunting; MAD
    is not, which is why monitoring gates prefer it).  Two exact-
    percentile passes: group medians (O(groups) rows) broadcast back,
    absolute deviations re-aggregate.  Both engines interpolate the
    median identically on identical doubles, so the deviations — and
    their median — match bit-for-bit.  100 TB: swap ``percentile`` for
    ``percentile_approx`` (mergeable sketch) in both passes; the plan
    shape (agg → broadcast → agg) is unchanged.
    """
    o = table(spark, sf_dir, "orders")
    med = o.groupBy(F.col("o_orderpriority").alias("p")).agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("med")
    )
    dev = o.join(F.broadcast(med), o.o_orderpriority == F.col("p")).select(
        "o_orderpriority",
        "med",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("adev"),
    )
    return (
        dev.groupBy("o_orderpriority", "med")
        .agg(F.percentile("adev", F.lit(0.5)).alias("mad"))
        .select("o_orderpriority", F.col("med").alias("median_price"), "mad")
    )


@query(
    "mode_quantity_by_flag",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag, l_quantity, COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag, l_quantity
    )
    SELECT l_returnflag,
           max_by(l_quantity,
                  n * 100000 + CAST(round(l_quantity * 100) AS BIGINT)) AS mode_qty,
           max(n) AS mode_n
    FROM counts GROUP BY l_returnflag
    """,
    tags=("aggregation", "statistics", "mode"),
)
def mode_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode with a DETERMINISTIC tie rule: the most frequent
    quantity per returnflag, ties resolved toward the larger value via a
    composite argmax key (count * 1e5 + quantity-cents, exact bigint).
    Spark's built-in ``mode()`` is explicitly non-deterministic on ties
    — unusable under a value-hash gate; this two-level formulation
    (count per (group, value), then argmax) is the portable form, and
    both levels partial-aggregate before their shuffles.
    """
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("n"))
    key = F.col("n") * 100000 + F.round(F.col("l_quantity") * 100).cast("bigint")
    return counts.groupBy("l_returnflag").agg(
        F.max_by("l_quantity", key).alias("mode_qty"),
        F.max("n").alias("mode_n"),
    )


@query(
    "event_type_gini",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY user_id, event_type
    ),
    tot AS (
        SELECT user_id, CAST(SUM(n) AS BIGINT) AS total,
               CAST(SUM(n * n) AS BIGINT) AS sum_sq
        FROM c GROUP BY user_id
    )
    SELECT CAST(total AS BIGINT) AS n_events,
           COUNT(*) AS n_users,
           CAST(SUM(CAST(round(1.0 - CAST(sum_sq AS DOUBLE)
                               / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 9)
                         AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*) AS avg_gini
    FROM tot GROUP BY total
    """,
    tags=("aggregation", "statistics", "diversity"),
)
def event_type_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity via Gini impurity (= 1 − HHI): how mixed each
    user's event types are, rolled up by activity level — computed as
    1 − Σnᵢ²/n², pure integer counts and one rational double expression,
    so unlike Shannon entropy it needs no transcendental function and
    stays bit-deterministic across engines (libm ``log`` is not
    correctly-rounded everywhere; division and multiplication are).

    Two partial-aggregable count passes (user×type, then user), zero
    joins.  100 TB: shuffle volume is O(users × types) then O(users) —
    both narrow integer rows.
    """
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    tot = c.groupBy("user_id").agg(
        F.sum("n").alias("total"), F.sum(F.col("n") * F.col("n")).alias("sum_sq")
    )
    gini = F.round(
        1.0 - F.col("sum_sq").cast("double")
        / (F.col("total").cast("double") * F.col("total").cast("double")),
        9,
    )
    return tot.groupBy(F.col("total").alias("n_events")).agg(
        F.count("*").alias("n_users"),
        (F.sum(gini.cast("decimal(20,9)")).cast("double") / F.count("*")).alias("avg_gini"),
    )


@query(
    "chisq_segment_priority",
    oracle="""
    WITH obs AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri, COUNT(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_orderpriority
    ),
    m AS (
        SELECT seg, pri, CAST(n AS DOUBLE) AS n,
               CAST(SUM(n) OVER (PARTITION BY seg) AS DOUBLE) AS row_n,
               CAST(SUM(n) OVER (PARTITION BY pri) AS DOUBLE) AS col_n,
               CAST(SUM(n) OVER () AS DOUBLE) AS grand_n
        FROM obs
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CAST(round((n - row_n * col_n / grand_n)
                               * (n - row_n * col_n / grand_n)
                               / (row_n * col_n / grand_n), 9)
                         AS DECIMAL(20,9))) AS DOUBLE) AS chi_square
    FROM m
    """,
    tags=("aggregation", "statistics", "independence"),
)
def chisq_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for independence of market segment ×
    order priority — the drift detector that flags when a categorical
    mix shifts between batches.  Everything derives from one exact
    contingency table (|segments × priorities| cells): marginals via
    windows over the tiny aggregate, expected counts and the statistic
    as rational double arithmetic (no transcendentals → cross-engine
    bit-determinism); per-cell terms round at 9 dp and the final
    25-term sum runs in exact decimal, so no reduction is
    order-sensitive.

    100 TB: the fact join shuffles once into the contingency aggregate;
    everything after operates on 25 rows.
    """
    o = table(spark, sf_dir, "orders")
    # fan_out=False: customer is the broadcast BUILD side — Q3/Q8 pattern
    c = table(spark, sf_dir, "customer", fan_out=False)
    obs = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri"))
        .agg(F.count("*").alias("n"))
    )
    m = obs.select(
        F.col("n").cast("double").alias("n"),
        F.sum("n").over(Window.partitionBy("seg")).cast("double").alias("row_n"),
        F.sum("n").over(Window.partitionBy("pri")).cast("double").alias("col_n"),
        F.sum("n").over(Window.partitionBy()).cast("double").alias("grand_n"),
    )
    exp = F.col("row_n") * F.col("col_n") / F.col("grand_n")
    term = F.round((F.col("n") - exp) * (F.col("n") - exp) / exp, 9)
    return m.agg(
        F.count("*").alias("n_cells"),
        F.sum(term.cast("decimal(20,9)")).cast("double").alias("chi_square"),
    )


@query(
    "winsorized_mean_price",
    oracle="""
    WITH p AS (
        SELECT o_orderpriority AS pr,
               quantile_cont(o_totalprice, 0.05) AS p05,
               quantile_cont(o_totalprice, 0.95) AS p95
        FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(least(greatest(o.o_totalprice, p05), p95) AS DECIMAL(20,6)))
                AS DOUBLE) / COUNT(*) AS winsorized_mean,
           (CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
               AS raw_mean
    FROM orders o JOIN p ON o.o_orderpriority = p.pr
    GROUP BY 1
    """,
    tags=("aggregation", "statistics", "robust"),
)
def winsorized_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (clip at p5/p95, then average) next to the raw
    mean — the robust central tendency that tames heavy tails without
    discarding rows (trimming drops them; winsorizing clamps them).
    Same two-pass shape as :func:`mad_order_price`: O(groups) exact
    percentiles broadcast back, then one clipped decimal-staged
    aggregate.  Both engines clip identical doubles against identical
    interpolated bounds, and the clipped sum runs in exact decimal —
    bit-deterministic end to end.
    """
    o = table(spark, sf_dir, "orders")
    p = o.groupBy(F.col("o_orderpriority").alias("pr")).agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("p05"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("p05")), F.col("p95"))
    return (
        o.join(F.broadcast(p), o.o_orderpriority == F.col("pr"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(clipped.cast("decimal(20,6)")).cast("double") / F.count("*"))
            .alias("winsorized_mean"),
            (F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double") / F.count("*"))
            .alias("raw_mean"),
        )
    )


@query(
    "pareto_revenue_share",
    oracle="""
    WITH p AS (
        SELECT quantile_cont(o_totalprice, 0.99) AS p99 FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_totalprice >= p99 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_top_orders,
           round(CAST(SUM(CASE WHEN o_totalprice >= p99
                               THEN CAST(o_totalprice AS DECIMAL(12,2))
                               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 9)
               AS top1pct_revenue_share
    FROM orders CROSS JOIN p
    """,
    tags=("aggregation", "statistics", "concentration"),
)
def pareto_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto check): what fraction of total
    revenue the top 1% of orders carries — the whale-dependence metric
    behind capacity planning and fraud thresholds.  The p99 threshold
    is one exact percentile (single-row broadcast); membership and both
    sums resolve in one scan with decimal staging, so the share is a
    single deterministic division.  100 TB: percentile_approx for pass
    1; pass 2 unchanged — map-only plus a single-row aggregate.
    """
    o = table(spark, sf_dir, "orders")
    p = o.agg(F.percentile("o_totalprice", F.lit(0.99)).alias("p99"))
    top = F.col("o_totalprice") >= F.col("p99")
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    zero = F.lit(0).cast("decimal(12,2)")
    return (
        o.crossJoin(F.broadcast(p))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(top, 1).otherwise(0)).alias("n_top_orders"),
            F.round(
                F.sum(F.when(top, dec).otherwise(zero)).cast("double")
                / F.sum(dec).cast("double"),
                9,
            ).alias("top1pct_revenue_share"),
        )
    )


@query(
    "ohlc_hourly_by_type",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket, value,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_first,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_last
        FROM events
    )
    SELECT event_type, bucket,
           MAX(CASE WHEN rn_first = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_last = 1 THEN value END) AS close,
           {sql_dsum('value')} AS volume,
           COUNT(*) AS n_events
    FROM ranked GROUP BY event_type, bucket
    """,
    tags=("timeseries", "aggregation", "downsample"),
)
def ohlc_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style downsampling: OHLC candles (open / high / low /
    close + volume + count) per event type per hour — the rollup a
    time-series store materializes continuously, here as one
    partial-aggregable pass.

    Open and close are ORDER-dependent aggregates, which is where naive
    implementations reach for a full-table window pass. Instead each is
    a struct-extremum: MIN/MAX over (ts, event_id, value) compares
    lexicographically, (ts, event_id) is unique, so the struct min IS
    the first event and its third field the opening value. Struct
    extrema combine associatively — the candle partial-aggregates
    map-side and the shuffle carries O(types × hours) rows, one scan,
    one exchange (struct-typed buffers do force SortAggregate physical
    partials — a per-partition sort on the grouping key, but no extra
    exchange and no per-group window materialization; the oracle's
    ROW_NUMBER formulation is the same semantics spelled that slower
    way). Volume is decimal-staged;
    open/close/high/low are picked values, not sums — every output is
    bit-deterministic at any partition count. The bucket is wall-clock
    truncation (functions/timeutil.py), immune to session-timezone
    drift.
    """
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type", wall_trunc(F.col("ts"), "hour").alias("bucket")).agg(
        *ohlc_aggs()
    )


def ohlc_aggs() -> list[Column]:
    """The candle aggregates (open, high, low, close, volume, n_events) of
    :func:`ohlc_hourly_by_type` and its streaming twin."""
    first = F.min(F.struct("ts", "event_id", "value"))
    last = F.max(F.struct("ts", "event_id", "value"))
    return [
        first.getField("value").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        last.getField("value").alias("close"),
        dsum("value").alias("volume"),
        F.count("*").alias("n_events"),
    ]


@query(
    "dq_constraint_violations",
    oracle="""
    SELECT 'lineitem.null_orderkey' AS constraint_name,
           COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.nonpositive_quantity',
           COUNT(*) FILTER (WHERE l_quantity <= 0) FROM lineitem
    UNION ALL
    SELECT 'lineitem.discount_out_of_range',
           COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.5) FROM lineitem
    UNION ALL
    SELECT 'orders.nonpositive_totalprice',
           COUNT(*) FILTER (WHERE o_totalprice <= 0) FROM orders
    UNION ALL
    SELECT 'orders.null_custkey',
           COUNT(*) FILTER (WHERE o_custkey IS NULL) FROM orders
    UNION ALL
    SELECT 'supplier.negative_acctbal',
           COUNT(*) FILTER (WHERE s_acctbal < 0) FROM supplier
    UNION ALL
    SELECT 'lineitem.orphan_orderkey', COUNT(*)
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'orders.orphan_custkey', COUNT(*)
    FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    """,
    tags=("aggregation", "data-quality", "anti-join"),
)
def dq_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: violation counts for row-level constraints
    (nulls, ranges, signs) and referential integrity (orphan foreign
    keys), in long form (constraint_name, n_violations) — the
    expectation-check pass a pipeline runs before promoting a snapshot;
    zero counts are the assertion, not a gap.

    Scale design: row-level constraints over the same table FUSE into
    ONE conditional-aggregation scan (sum-of-whens — the oracle's
    per-constraint UNION ALL is the same semantics spelled one scan per
    constraint), so auditing k constraints on a 100 TB table costs one
    pass, not k. The per-table one-row aggregates then unpivot to long
    form driver-free. Referential checks can't fuse into a scan — each
    is a LEFT ANTI join count (key sides are non-null by schema, so
    NOT IN and anti-join agree), partial-aggregated after the join.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    li_counts = li.agg(
        cnt(F.col("l_orderkey").isNull()).alias("lineitem.null_orderkey"),
        cnt(F.col("l_quantity") <= 0).alias("lineitem.nonpositive_quantity"),
        cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)).alias(
            "lineitem.discount_out_of_range"
        ),
    )
    o_counts = o.agg(
        cnt(F.col("o_totalprice") <= 0).alias("orders.nonpositive_totalprice"),
        cnt(F.col("o_custkey").isNull()).alias("orders.null_custkey"),
    )
    s_counts = s.agg(cnt(F.col("s_acctbal") < 0).alias("supplier.negative_acctbal"))
    # un-fanned scans for the broadcast PROBE sides of the referential
    # checks: the keys-only frames are broadcast builds at test SF, so
    # the fan-out exchange bought nothing (the Q3/Q8/Q9/Q18 pattern).
    # The fanned `o`/`c` frames above keep their parallel scans for the
    # conditional-aggregation passes and the streamed anti-join side.
    o_keys = table(spark, sf_dir, "orders", fan_out=False).select("o_orderkey")
    c_keys = table(spark, sf_dir, "customer", fan_out=False).select("c_custkey")
    orphan_li = (
        li.join(o_keys, li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count("*").alias("lineitem.orphan_orderkey"))
    )
    orphan_o = (
        o.join(c_keys, o.o_custkey == F.col("c_custkey"), "left_anti")
        .agg(F.count("*").alias("orders.orphan_custkey"))
    )

    def melt(df):
        # backquote: the dotted display names would otherwise parse as
        # qualified column references inside unpivot
        cols = [F.col(f"`{c}`") for c in df.columns]
        return df.unpivot([], cols, "constraint_name", "n_violations")

    out = melt(li_counts)
    for frame in (o_counts, s_counts, orphan_li, orphan_o):
        out = out.unionAll(melt(frame))
    return out




@query(
    "incremental_agg_merge",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           {sql_dsum('o_totalprice')} / COUNT(*) AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("aggregation", "incremental", "mergeable-state"),
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view-maintenance demo: per-priority order stats
    computed as TWO independent partial aggregates (the "yesterday"
    base, orders before 1998-01-01, and the "today" delta) whose
    mergeable states — (count, exact decimal sum, min, max) — are then
    combined by a second aggregate. The oracle computes the same stats
    in one pass over everything; matching hashes prove the merge is
    lossless, which is the property that lets a 100 TB rollup refresh
    from a day's delta instead of rescanning the lake.

    Counts add, decimal sums add exactly (order-independent — the whole
    reason the engine stages float sums through decimals), min/max
    re-min/re-max; the final double cast and the avg division happen
    once, after the merge. Both phases partial-aggregate map-side; the
    merge input is O(groups × partials), negligible at any SF.
    """
    o = table(spark, sf_dir, "orders", fan_out=False)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("s"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )

    base = partial(o.filter(F.col("o_orderdate") < "1998-01-01"))
    delta = partial(o.filter(F.col("o_orderdate") >= "1998-01-01"))
    merged = base.unionAll(delta).groupBy("o_orderpriority").agg(
        F.sum("n").alias("n_orders"),
        F.sum("s").alias("s"),
        F.min("mn").alias("min_price"),
        F.max("mx").alias("max_price"),
    )
    total = F.col("s").cast("double")
    return merged.select(
        "o_orderpriority",
        "n_orders",
        total.alias("total_price"),
        "min_price",
        "max_price",
        (total / F.col("n_orders")).alias("avg_price"),
    )


@query(
    "weighted_median_price_by_flag",
    oracle="""
    WITH w AS (
        SELECT l_returnflag AS flag, l_extendedprice AS price,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
    ),
    c AS (
        SELECT flag, price, qty,
               SUM(qty) OVER (PARTITION BY flag ORDER BY price
                              RANGE BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cumw,
               SUM(qty) OVER (PARTITION BY flag) AS tot
        FROM w
    )
    SELECT flag AS l_returnflag, CAST(MIN(tot) AS BIGINT) AS total_qty,
           MIN(price) AS weighted_median_price
    FROM c WHERE 2 * cumw >= tot GROUP BY flag
    """,
    tags=("aggregation", "window", "percentiles", "weighted"),
)
def weighted_median_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median of extended price per return flag, weighted
    by quantity — the unit-economics median ("the price of the median
    unit sold", not the median line item), which no built-in percentile
    covers (percentile/median weigh every row equally).

    Definition: the lower weighted median — the smallest price whose
    cumulative weight reaches half the group total. The cumulative sum
    uses a RANGE frame (peers included), so rows tied on price all see
    the same cumw — the selected price is invariant to tie order and to
    partitioning, with no row-id tiebreak needed. Weights are exact
    BIGINTs (TPC-H quantities are integral), so the 2·cumw ≥ tot
    crossing is integer arithmetic — no FP threshold to drift between
    engines.

    Scale — the two-phase binned algorithm (the naive form windows the
    whole fact per flag: 3 sort partitions swallowing the table, and a
    measured 5.7× runtime at a 10× scale-up while every
    partial-aggregable query stayed flat, SCALING.md):

    1. histogram pass — one partial-aggregable aggregate collapses the
       fact to (flag, price-bin, Σqty): O(bins) rows; a window over
       THAT finds each flag's crossing bin b* plus the cumulative
       weight of all earlier bins;
    2. surgical pass — only rows in b* (a pushed-down filter against a
       3-row broadcast) are sorted; the global crossing is the
       in-bin crossing offset by the earlier bins' weight.

    Correct because bins partition the price axis: every row in an
    earlier bin precedes every b*-row in the RANGE order, and exact
    ties (peers) can never straddle a bin boundary. Runtime becomes
    two scans + an O(|b*|) sort — flat at the same 10× scale-up.
    """
    li = table(spark, sf_dir, "lineitem", fan_out=False)
    w = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    binned = w.withColumn("bin", F.floor(F.col("price") / F.lit(1000.0)))
    hist = binned.groupBy("flag", "bin").agg(F.sum("qty").alias("bw"))
    wb = Window.partitionBy("flag").orderBy("bin")
    cumb = hist.select(
        "flag",
        "bin",
        F.sum("bw").over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum_incl"),
        F.sum("bw").over(Window.partitionBy("flag")).alias("tot"),
    )
    # crossing bin: first bin whose inclusive cumulative reaches half
    star = (
        cumb.filter(2 * F.col("cum_incl") >= F.col("tot"))
        .groupBy("flag")
        .agg(
            F.min_by(F.struct("bin", "cum_incl"), "bin").alias("b"),
            F.min("tot").alias("tot"),
        )
        .select(
            "flag",
            F.col("b.bin").alias("bin"),
            (F.col("b.cum_incl")).alias("cum_incl_star"),
            "tot",
        )
    )
    # weight strictly before b* = inclusive-at-b* minus b*'s own weight
    star = (
        star.join(hist, ["flag", "bin"])
        .select("flag", "bin", (F.col("cum_incl_star") - F.col("bw")).alias("cum_prev"), "tot")
    )
    # star is provably ≤|flags| rows (3): hint it so the build side is
    # never the fact projection (size-only estimation put the 12 MB
    # column-pruned fact slice under the threshold at sf0.1 and then
    # broadcast 120 MB of it at the 10× check — the one case where a
    # hint is CORRECT: the bound comes from the schema, not the SF)
    slice_rows = binned.join(F.broadcast(star), ["flag", "bin"])
    cum = Window.partitionBy("flag").orderBy("price").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = slice_rows.select(
        "flag",
        "price",
        "tot",
        (F.col("cum_prev") + F.sum("qty").over(cum)).alias("cumw"),
    )
    return (
        c.filter(2 * F.col("cumw") >= F.col("tot"))
        .groupBy("flag")
        .agg(
            F.min("tot").alias("total_qty"),
            F.min("price").alias("weighted_median_price"),
        )
        .select(
            F.col("flag").alias("l_returnflag"), "total_qty", "weighted_median_price"
        )
    )


# ---------------------------------------- multiple OLS (2 features) ----

#: Cramer's-rule solution of the 3×3 normal equations — one spelling of
#: each determinant, both engines, identical IEEE evaluation order over
#: exactly-summed components.
_MLR_DET = (
    "(nd * (s11 * s22 - s12 * s12) - sx1 * (sx1 * s22 - s12 * sx2)"
    " + sx2 * (sx1 * s12 - s11 * sx2))"
)
_MLR_DET0 = (
    "(sy * (s11 * s22 - s12 * s12) - sx1 * (s1y * s22 - s2y * s12)"
    " + sx2 * (s1y * s12 - s2y * s11))"
)
_MLR_DET1 = (
    "(nd * (s1y * s22 - s12 * s2y) - sy * (sx1 * s22 - s12 * sx2)"
    " + sx2 * (sx1 * s2y - s1y * sx2))"
)
_MLR_DET2 = (
    "(nd * (s11 * s2y - s1y * s12) - sx1 * (sx1 * s2y - s1y * sx2)"
    " + sy * (sx1 * s12 - s11 * sx2))"
)
#: No round(): the quotient of two identically-built doubles is already
#: bit-identical, while round(x, 12) at |x| ~ 5e4 asks for more digits
#: than a double holds and the two engines' scaling tricks differ in the
#: last ULP (observed on beta_discount at sf0.001).
_MLR_EXPRS = (
    f"{_MLR_DET0} / nullif({_MLR_DET}, 0.0) AS intercept",
    f"{_MLR_DET1} / nullif({_MLR_DET}, 0.0) AS beta_quantity",
    f"{_MLR_DET2} / nullif({_MLR_DET}, 0.0) AS beta_discount",
)


@query(
    "multiple_ols_price_by_flag",
    oracle=f"""
    WITH comp AS (
        SELECT l_returnflag, COUNT(*) AS n_rows,
               CAST(COUNT(*) AS DOUBLE) AS nd,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx1,
               {sql_dsum('l_discount')} AS sx2,
               {sql_dsum('l_extendedprice')} AS sy,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                    AS DOUBLE) AS s11,
               {sql_dsum('l_quantity * l_discount')} AS s12,
               {sql_dsum('l_discount * l_discount', 4)} AS s22,
               {sql_dsum('l_quantity * l_extendedprice')} AS s1y,
               {sql_dsum('l_discount * l_extendedprice', 4)} AS s2y
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_rows,
           {', '.join(_MLR_EXPRS)}
    FROM comp
    """,
    tags=("aggregation", "statistics", "regression", "ml-features"),
)
def multiple_ols_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag MULTIPLE regression — extended price on (quantity,
    discount), intercept included: the grouped "fit a small linear
    model per segment" primitive behind feature attribution and
    what-if pricing, done the distributed-ML way: the fit reduces to
    TEN exact component sums per group (the sufficient statistics of
    the normal equations), one partial-aggregable pass over the fact
    table, then a driver-free Cramer's-rule solve of the 3×3 system as
    a scalar expression — no iteration, no collect, no per-group data
    movement beyond the sums.

    Determinism: quantities are exact integers; discounts/prices carry
    ≤2 decimals, so every cross-product (x₁x₂, x₂², x₁y, x₂y) is an
    exactly-representable ≤4-decimal double summed through exact
    decimals; the determinant expressions are shared SQL strings, so
    both engines evaluate the identical double tree; singular groups
    NULL out under ``nullif`` instead of tripping ANSI division.

    Fan-out: this is the widest per-row aggregate payload in the engine
    (ten decimal-staged sums per row), so the scan keeps the DEFAULT
    fan-out — on the single-row-group test files ``fan_out=False`` ran
    the whole partial agg in one task. Interleaved A/B at sf0.1,
    identical results: 2.27 s single-task vs 1.24 s fanned out.
    """
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    comp = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.count("*").cast("double").alias("nd"),
        F.sum(q).cast("double").alias("sx1"),
        dsum("l_discount").alias("sx2"),
        dsum("l_extendedprice").alias("sy"),
        F.sum(q * q).cast("double").alias("s11"),
        dsum(F.col("l_quantity") * F.col("l_discount")).alias("s12"),
        dsum(F.col("l_discount") * F.col("l_discount"), 4).alias("s22"),
        dsum(F.col("l_quantity") * F.col("l_extendedprice")).alias("s1y"),
        dsum(F.col("l_discount") * F.col("l_extendedprice"), 4).alias("s2y"),
    )
    return comp.select("l_returnflag", "n_rows", *[F.expr(e) for e in _MLR_EXPRS])


# ------------------------------------------- one-pass correlation matrix ----

_CORRM_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

#: Pearson r from exact component sums — same closed form as
#: stat_corr_qty_price / autocorr, one spelling per pair, both engines.
_CORRM_R = (
    "round((nd * s_{a}_{b} - s_{a} * s_{b}) / "
    "sqrt((nd * s_{a}_{a} - s_{a} * s_{a}) * (nd * s_{b}_{b} - s_{b} * s_{b})), 12)"
)


def _corrm_pairs() -> list[tuple[str, str]]:
    cs = _CORRM_COLS
    return [(cs[i], cs[j]) for i in range(len(cs)) for j in range(i + 1, len(cs))]


def _corrm_oracle() -> str:
    sums = [f"CAST(COUNT(*) AS DOUBLE) AS nd"]
    for c in _CORRM_COLS:
        sums.append(f"{sql_dsum(c)} AS s_{c}")
    done = set()
    for a in _CORRM_COLS:
        for b in _CORRM_COLS:
            key = tuple(sorted((a, b)))
            if key in done:
                continue
            done.add(key)
            x, y = key
            sums.append(f"{sql_dsum(f'{x} * {y}', 4)} AS s_{x}_{y}")
    rows = "\n        UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        + _CORRM_R.format(a=min(a, b), b=max(a, b))
        + " AS pearson_r FROM comp"
        for a, b in _corrm_pairs()
    )
    return f"""
    WITH comp AS (
        SELECT {', '.join(sums)}
        FROM lineitem
    )
    {rows}
    """


@query(
    "correlation_matrix_lineitem",
    oracle=_corrm_oracle(),
    tags=("aggregation", "statistics", "ml-features"),
)
def correlation_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pairwise Pearson correlation matrix of four lineitem
    measures (quantity, price, discount, tax) — the feature-screening
    matrix at the head of every modeling pipeline — computed in ONE
    pass: a single partial-aggregable aggregate produces the 15
    sufficient statistics (n, four Σx, four Σx², six Σxy), and all six
    coefficients are scalar expressions over that one row. Contrast a
    naive per-pair ``corr()`` loop: 6 scans, 6 shuffles, and Spark's
    built-in corr merges partial co-moments in arrival order (not
    bit-stable); this shape is one scan, one exchange, exact decimal
    sums, and one shared closed-form string per pair.

    The long (col_a, col_b, r) output keeps cells scalar for the oracle
    hash; the pairs explode from the single comp row via a local
    literal frame — no data motion.
    """
    li = table(spark, sf_dir, "lineitem", fan_out=False)
    aggs = [F.count("*").cast("double").alias("nd")]
    for c in _CORRM_COLS:
        aggs.append(dsum(c).alias(f"s_{c}"))
    done = set()
    for a in _CORRM_COLS:
        for b in _CORRM_COLS:
            key = tuple(sorted((a, b)))
            if key in done:
                continue
            done.add(key)
            x, y = key
            aggs.append(dsum(F.col(x) * F.col(y), 4).alias(f"s_{x}_{y}"))
    comp = li.agg(*aggs)
    pair_cols = []
    for a, b in _corrm_pairs():
        pair_cols.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.expr(_CORRM_R.format(a=min(a, b), b=max(a, b))).alias("pearson_r"),
            )
        )
    return comp.select(
        F.explode(F.array(*pair_cols)).alias("p")
    ).select("p.*")


@query(
    "incremental_join_view_delta",
    oracle=f"""
    SELECT c_mktsegment AS segment, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS revenue,
           MAX(o_totalprice) AS max_order
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("aggregation", "incremental", "join", "mergeable-state"),
)
def incremental_join_view_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the delta rule
    Δ(R ⋈ S) = ΔR ⋈ S for a static dimension: the per-segment revenue
    view over orders ⋈ customer is maintained by joining ONLY the delta
    batch (orders on/after 1998-01-01) against customer and merging its
    mergeable state (count, exact decimal sum, max) into the base
    view's state — the fact table's history is never rescanned and
    never re-joined. The oracle computes the view directly over
    everything in one pass; matching hashes prove the delta-join +
    state merge is lossless.

    This extends ``incremental_agg_merge`` (same merge algebra) with
    the property that makes IVM matter at 100 TB: the expensive
    operator INSIDE the view (the join) also distributes over the
    delta, so refresh cost is O(Δ ⋈ dim), independent of the view's
    history. Distinct-style aggregates deliberately stay OUT of the
    view schema — their state is not mergeable from partials (that is
    the HLL tier's job, `hll_sketch_rollup_users`).
    """
    o = table(spark, sf_dir, "orders", fan_out=False)
    c = table(spark, sf_dir, "customer", fan_out=False).select(
        "c_custkey", "c_mktsegment"
    )

    def view_state(orders_slice: DataFrame) -> DataFrame:
        return (
            orders_slice.join(c, orders_slice.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("s"),
                F.max("o_totalprice").alias("mx"),
            )
        )

    base = view_state(o.filter(F.col("o_orderdate") < "1998-01-01"))
    delta = view_state(o.filter(F.col("o_orderdate") >= "1998-01-01"))
    return (
        base.unionAll(delta)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("s").cast("double").alias("revenue"),
            F.max("mx").alias("max_order"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"), "n_orders", "revenue", "max_order"
        )
    )


# ------------------------------------------------- t-digest quantiles ----

#: compression parameter δ: the digest holds O(δ) centroids; rank error
#: at quantile q is bounded by ~4·q(1−q)/δ — tightest at the TAILS,
#: which is exactly where the GK sketch (approx_quantiles_price) is
#: weakest. Tests pin the contract (tests/test_llm_ops.py).
_TD_DELTA = 100
_TD_PS = (0.25, 0.5, 0.75, 0.95, 0.99)


def _td_compress(means, weights, delta=_TD_DELTA):
    """Merge sorted (mean, weight) centroid streams into <=O(delta)
    centroids under the k1-scale weight bound 4·n·q(1−q)/δ (Dunning &
    Ertl 2019, the 'merging digest' variant). Pure numpy; runs inside
    Arrow workers. Sorting is lexicographic on (mean, weight) so the
    result is a pure function of the centroid MULTISET — arrival order
    (e.g. shuffle layout feeding the merge group) can never leak."""
    import numpy as np

    order = np.lexsort((weights, means))
    means, weights = means[order], weights[order]
    total = float(weights.sum())
    out_m: list[float] = []
    out_w: list[float] = []
    cum = 0.0
    cur_m, cur_w = float(means[0]), float(weights[0])
    for m, w in zip(means[1:], weights[1:]):
        m, w = float(m), float(w)
        q = (cum + cur_w + w / 2.0) / total
        if cur_w + w <= 4.0 * total * q * (1.0 - q) / delta:
            cur_w += w
            cur_m += (m - cur_m) * (w / cur_w)
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            cum += cur_w
            cur_m, cur_w = m, w
    out_m.append(cur_m)
    out_w.append(cur_w)
    import numpy as _np

    return _np.asarray(out_m), _np.asarray(out_w)


def _td_quantile(means, weights, p):
    """Standard t-digest quantile read: linear interpolation between
    centroid means at the cumulative mid-weights."""
    total = float(weights.sum())
    target = p * total
    cum = 0.0
    prev_mid, prev_mean = None, None
    for m, w in zip(means, weights):
        mid = cum + float(w) / 2.0
        if mid >= target:
            if prev_mid is None:
                return float(m)
            frac = (target - prev_mid) / (mid - prev_mid)
            return float(prev_mean + (m - prev_mean) * frac)
        prev_mid, prev_mean = mid, float(m)
        cum += float(w)
    return float(means[-1])


@query(
    "tdigest_quantiles_price",
    oracle=None,  # sketch centroids are partition-layout-dependent by
    # design (same taxonomy as the GK sketch: mergeable within an error
    # BOUND, not to identical cut points); tests pin rank error <= 1%
    # at every probed quantile and the merge identity's error bound.
    tags=("aggregation", "approx", "sketch", "mergeable", "percentile"),
)
def tdigest_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-price quantiles from a T-DIGEST (Dunning & Ertl 2019) built
    distributively: each partition folds its values into O(δ) centroids
    inside an Arrow ``mapInPandas`` worker, and the per-partition
    centroid sets — O(partitions × δ) tiny rows — merge in one final
    compression pass. The digest complements the registered GK tier
    (``approx_quantiles_price``): GK bounds RANK error uniformly;
    t-digest's k1 scale spends its centroid budget on the TAILS
    (error ∝ q(1−q)/δ), making it the sketch of choice for p99-style
    questions, and its centroids are mergeable state a 100 TB deployment
    materializes per day/partition and rolls up without re-scans (the
    HLL-tile pattern, hll_sketch_rollup_users).

    Output: one row per probed quantile (p, est, n_centroids) — the
    post-merge centroid count rides along to expose the O(δ) bound.

    100 TB shape: one narrow Arrow pass over the data (no shuffle), then
    a single-task merge of O(partitions × δ) centroid rows (the
    mergeable-sketch funnel every sketch tier uses). Like the GK sketch,
    the returned doubles depend on the scan partitioning (centroid
    choice is order-sensitive; the ERROR BOUND is not) — hence rows-only
    at the driver, with the accuracy pin as the contract.

    Reference parity: beyond the reference — its reduce phase holds one
    group's values in a per-key dict (task_executor.py:207-241), so no
    mergeable-sketch tier is expressible there (SURVEY.md §2.4).
    """
    import pandas as pd

    o = table(spark, sf_dir, "orders", fan_out=False).select(
        F.col("o_totalprice").alias("v")
    )

    def partial(batches):
        import numpy as np

        vals: list = []
        for b in batches:
            vals.append(b["v"].to_numpy(dtype="float64"))
        if vals:
            v = np.concatenate(vals)
            if v.size:
                m, w = _td_compress(v, np.ones_like(v))
                yield pd.DataFrame({"mean": m, "weight": w})

    centroids = o.mapInPandas(partial, schema="mean double, weight double")

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        m, w = _td_compress(
            pdf["mean"].to_numpy(dtype="float64"),
            pdf["weight"].to_numpy(dtype="float64"),
        )
        return pd.DataFrame(
            {
                "p": list(_TD_PS),
                "est": [_td_quantile(m, w, p) for p in _TD_PS],
                "n_centroids": [int(m.size)] * len(_TD_PS),
            }
        )

    return (
        centroids.groupBy(F.lit(1).alias("g"))
        .applyInPandas(merge, schema="p double, est double, n_centroids int")
    )


# ---------------------------------------- KMV / theta sketch set ops ----
#
# STAGED round-10 kernels (tested library code, not yet registered — the
# r9 window is full per the registry discipline; the r10 registration is
# a thin oracled face over these, the kernel → property-pin → face →
# window-slot template the r8→r9 staged kernels followed).
#
# WHY: the HLL tier answers per-group distinct counts and UNIONS
# (mergeable registers) but structurally cannot INTERSECT — HLL carries
# no sample of the underlying set. The K-Minimum-Values / theta sketch
# (Bar-Yossef et al., RANDOM'02; Dasgupta et al., "Theta sketches") keeps
# the k smallest uniformized hash values, which IS a bounded uniform
# sample of the distinct set, so unions, intersections, and A-not-B all
# follow from set algebra on the retained values at bounded memory.

from ..functions.hashing import md5int_duckdb, md5int_spark  # noqa: E402  (section-local, like sqlapi's)

#: retained minima per sketch — rel. error ≈ 1/sqrt(k-2) ≈ 6.3 % at 256.
_KMV_K = 256
_KMV_SEED = "kmv-r9"
#: 60-bit md5int → uniform in (0, 1): bucket-center offset keeps u
#: strictly positive so 1/u and /theta never divide by zero.
_KMV_SCALE = float(1 << 60)


def kmv_sketch(df: DataFrame, keys: list[str], value: str, k: int = _KMV_K) -> DataFrame:
    """Per-``keys`` KMV sketch of ``COUNT(DISTINCT value)``: uniformize
    the value through the seeded md5int hash, dedup (keys, u) — exact
    distinct hashes — then keep each group's k smallest via a rank
    window partitioned on the keys and pack them into an ascending
    array. Output: ``keys..., ks array<double>, n_retained int``.

    Scale shape: TWO keyed exchanges, both O(distinct) payload — the
    dedup hashes on (keys, u) with map-side partial dedup (one double
    per row — this is the sketch BUILD, analogous to the HLL tier's
    register build), then the window re-hashes the survivors on keys
    alone with O(k) state per group; the packed sketch rows are
    O(groups × k) doubles. No collects, no broadcasts, no UDFs — pure
    built-in hash/window/array ops inside codegen.
    """
    u = (
        (F.expr(md5int_spark(f"'{_KMV_SEED}:' || CAST({value} AS STRING)")).cast("double")
         + F.lit(0.5))
        / F.lit(_KMV_SCALE)
    )
    distinct = df.select(*keys, u.alias("u")).distinct()
    # Two keyed exchanges by design: the distinct() exchange hashes on
    # (keys, u) — its map-side partial dedup means it carries only
    # O(distinct) one-double payloads — then the rank window re-hashes
    # the O(distinct) survivors on keys alone. Pre-partitioning the RAW
    # rows by keys would collapse it to one exchange but shuffle
    # O(raw) >> O(distinct) bytes; two cheap exchanges win at scale.
    w = Window.partitionBy(*keys).orderBy("u")
    kept = distinct.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    return kept.groupBy(*keys).agg(
        F.array_sort(F.collect_list("u")).alias("ks"),
        F.count("*").cast("int").alias("n_retained"),
    )


def kmv_estimate(ks: str, k: int = _KMV_K) -> F.Column:
    """Distinct-count estimator over the packed sketch column named
    ``ks``: (k-1)/theta for full sketches (the classic KMV unbiased
    form), exact retained size otherwise."""
    return F.when(
        F.size(ks) >= k,
        (F.lit(float(k - 1)) / F.element_at(F.col(ks), k)),
    ).otherwise(F.size(ks).cast("double"))


def kmv_union(a: DataFrame, b: DataFrame, keys: list[str], k: int = _KMV_K) -> DataFrame:
    """Union sketch per matched key tuple: merge the retained minima and
    keep the k smallest — EXACTLY the sketch of the unioned set (the k
    smallest of A∪B are a subset of A's k smallest ∪ B's k smallest),
    so union composes losslessly; groups present on one side pass
    through. O(groups) join, O(k log k) per-row array work."""
    an = a.select(*keys, F.col("ks").alias("ks_a"))
    bn = b.select(*keys, F.col("ks").alias("ks_b"))
    merged = an.join(bn, keys, "full_outer").select(
        *keys,
        F.slice(
            F.array_sort(
                F.array_distinct(
                    F.concat(
                        F.coalesce("ks_a", F.array().cast("array<double>")),
                        F.coalesce("ks_b", F.array().cast("array<double>")),
                    )
                )
            ),
            1,
            k,
        ).alias("ks"),
    )
    return merged.withColumn("n_retained", F.size("ks"))


def kmv_set_estimates(
    a: DataFrame, b: DataFrame, keys: list[str], k: int = _KMV_K
) -> DataFrame:
    """Per matched key tuple: distinct estimates for A, B, A∪B, A∩B and
    the Jaccard — the theta-sketch intersection the HLL tier cannot
    express. theta = min(theta_A, theta_B); both retained sets filtered
    below theta are uniform samples of their sets at rate theta, so
    |matches| / theta estimates the intersection. All array ops are
    O(k) per group row; the only join is O(groups) on the key tuple."""
    an = a.select(*keys, F.col("ks").alias("ks_a"))
    bn = b.select(*keys, F.col("ks").alias("ks_b"))
    j = an.join(bn, keys)
    theta = F.least(
        F.when(F.size("ks_a") >= k, F.element_at("ks_a", k)).otherwise(F.lit(1.0)),
        F.when(F.size("ks_b") >= k, F.element_at("ks_b", k)).otherwise(F.lit(1.0)),
    )
    j = j.withColumn("theta", theta)
    below_a = F.filter("ks_a", lambda x: x < F.col("theta"))
    below_b = F.filter("ks_b", lambda x: x < F.col("theta"))
    inter_n = F.size(F.array_intersect(below_a, below_b))
    union_n = F.size(F.array_distinct(F.concat(below_a, below_b)))
    return j.select(
        *keys,
        kmv_estimate("ks_a", k).alias("est_a"),
        kmv_estimate("ks_b", k).alias("est_b"),
        (inter_n.cast("double") / F.col("theta")).alias("est_intersect"),
        (union_n.cast("double") / F.col("theta")).alias("est_union"),
        F.when(union_n > 0, inter_n.cast("double") / union_n.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
    )


_KMV_CUT = "1998-05-01"


@query(
    "kmv_repeat_buyers_by_nation",
    oracle=f"""
    WITH halves AS (
        SELECT c_nationkey AS nation,
               CASE WHEN o_orderdate < TIMESTAMP '{_KMV_CUT} 00:00:00'
                    THEN 'h1' ELSE 'h2' END AS half,
               (CAST({md5int_duckdb(f"'{_KMV_SEED}:' || CAST(o_custkey AS VARCHAR)")} AS DOUBLE) + 0.5)
                   / {float(1 << 60)!r} AS u
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    du AS (SELECT DISTINCT nation, half, u FROM halves),
    ranked AS (
        SELECT nation, half, u,
               ROW_NUMBER() OVER (PARTITION BY nation, half ORDER BY u) AS rk
        FROM du
    ),
    ks AS (
        SELECT nation, half, list_sort(list(u)) AS ks
        FROM ranked WHERE rk <= {_KMV_K} GROUP BY 1, 2
    ),
    ab AS (
        SELECT a.nation, a.ks AS ks_a, b.ks AS ks_b
        FROM ks a JOIN ks b ON a.nation = b.nation
        WHERE a.half = 'h1' AND b.half = 'h2'
    ),
    th AS (
        SELECT nation, ks_a, ks_b,
               least(CASE WHEN len(ks_a) >= {_KMV_K} THEN ks_a[{_KMV_K}]
                          ELSE CAST(1.0 AS DOUBLE) END,
                     CASE WHEN len(ks_b) >= {_KMV_K} THEN ks_b[{_KMV_K}]
                          ELSE CAST(1.0 AS DOUBLE) END) AS theta,
               list_filter(ks_a, x -> x < least(
                   CASE WHEN len(ks_a) >= {_KMV_K} THEN ks_a[{_KMV_K}] ELSE CAST(1.0 AS DOUBLE) END,
                   CASE WHEN len(ks_b) >= {_KMV_K} THEN ks_b[{_KMV_K}] ELSE CAST(1.0 AS DOUBLE) END)) AS ba,
               list_filter(ks_b, x -> x < least(
                   CASE WHEN len(ks_a) >= {_KMV_K} THEN ks_a[{_KMV_K}] ELSE CAST(1.0 AS DOUBLE) END,
                   CASE WHEN len(ks_b) >= {_KMV_K} THEN ks_b[{_KMV_K}] ELSE CAST(1.0 AS DOUBLE) END)) AS bb
        FROM ab
    )
    SELECT nation,
           CASE WHEN len(ks_a) >= {_KMV_K}
                THEN CAST({float(_KMV_K - 1)!r} AS DOUBLE) / ks_a[{_KMV_K}]
                ELSE CAST(len(ks_a) AS DOUBLE) END AS est_h1,
           CASE WHEN len(ks_b) >= {_KMV_K}
                THEN CAST({float(_KMV_K - 1)!r} AS DOUBLE) / ks_b[{_KMV_K}]
                ELSE CAST(len(ks_b) AS DOUBLE) END AS est_h2,
           CAST(len(list_intersect(ba, bb)) AS DOUBLE) / theta AS est_repeat,
           CAST(len(list_distinct(ba || bb)) AS DOUBLE) / theta AS est_any,
           CASE WHEN len(list_distinct(ba || bb)) > 0
                THEN CAST(len(list_intersect(ba, bb)) AS DOUBLE)
                     / CAST(len(list_distinct(ba || bb)) AS DOUBLE)
                ELSE CAST(0.0 AS DOUBLE) END AS jaccard
    FROM th
    ORDER BY nation
    """,
    tags=("aggregation", "sketch", "kmv", "distinct", "set-operation", "llm-pipeline"),
)
def kmv_repeat_buyers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET ALGEBRA over distinct-customer sketches: per
    nation, sketch the distinct buyers of each calendar half of the
    order history (cut at {_KMV_CUT}) with k=256 K-minimum-values
    sketches, then estimate H1∩H2 (repeat buyers), H1∪H2 (any buyer)
    and the Jaccard between the halves FROM THE SKETCHES ALONE — the
    intersection the HLL tier structurally cannot express (registers
    carry no sample; the k minima ARE a uniform sample at rate theta).

    Determinism/oracle: the seeded md5 uniformization, the k-minima
    selection, and every estimator op ((k-1)/theta, |matches|/theta)
    are identical IEEE sequences in both engines, so the whole release
    hash-matches DuckDB, whose oracle replays the same sketch algebra
    with list functions. At sf0.01 every (nation, half) set is un-full
    (theta = 1) and the estimates are EXACT counts; at sf0.1 the
    sampler engages and both engines agree on the sampled estimates
    bit-for-bit — the same two-regime coverage the property suite pins
    on arbitrary sets (tests/test_property_blocks.py).

    100 TB shape: one orders⋈customer keyed join, one (nation, half,
    hash)-dedup exchange, one rank window on the SAME keys (exchange
    reused), then all set algebra runs on O(nations × k) array rows.
    Sketch state is O(k) per group by construction — the reason to use
    a sketch instead of exact COUNT(DISTINCT ...) at corpus scale; no
    hints, no collects, no UDFs.

    Reference parity: beyond the reference — no sketch surface exists
    there (SURVEY.md §2); completes the mergeable-sketch family (HLL
    distinct / CMS heavy hitters / GK + t-digest quantiles) with the
    set-operation member.
    """
    o = table(spark, sf_dir, "orders", fan_out=False).select("o_custkey", "o_orderdate")
    c = table(spark, sf_dir, "customer", fan_out=False).select("c_custkey", "c_nationkey")
    halves = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nation"),
        F.when(F.col("o_orderdate") < _KMV_CUT, F.lit("h1"))
        .otherwise(F.lit("h2"))
        .alias("half"),
        "o_custkey",
    )
    sa = kmv_sketch(halves.filter(F.col("half") == "h1"), ["nation"], "o_custkey")
    sb = kmv_sketch(halves.filter(F.col("half") == "h2"), ["nation"], "o_custkey")
    est = kmv_set_estimates(sa, sb, ["nation"])
    return est.select(
        "nation",
        F.col("est_a").alias("est_h1"),
        F.col("est_b").alias("est_h2"),
        F.col("est_intersect").alias("est_repeat"),
        F.col("est_union").alias("est_any"),
        "jaccard",
    ).orderBy("nation")
