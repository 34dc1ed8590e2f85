"""Operator-specific behavior tests beyond the oracle gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from cooler_mapreduce_spark.registry import load_all
from cooler_mapreduce_spark.sources.catalog import table

SPECS = load_all()


def test_approx_distinct_within_error(spark, oracle_sf_dir):
    """HLL++ at rsd=1% must land within 5% of the exact distinct count."""
    approx = {
        r["event_type"]: r["approx_users"]
        for r in SPECS["approx_distinct_users"].fn(spark, oracle_sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["exact_users"]
        for r in table(spark, oracle_sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .collect()
    }
    assert set(approx) == set(exact)
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(1, 0.05 * n), (et, approx[et], n)


def test_hll_sketch_rollup_accuracy_and_merge_identity(spark, oracle_sf_dir):
    """The mergeable-sketch rollup must (a) estimate every day within 5%
    of the exact distinct count, (b) estimate the total within 5% of the
    exact corpus-wide distinct count, and (c) satisfy the HLL merge
    identity EXACTLY: union of per-day sketches == one sketch over all
    rows (register-wise, an item's contribution is independent of which
    sketch absorbed it, and union takes register maxima)."""
    ev = table(spark, oracle_sf_dir, "events")
    rows = SPECS["hll_sketch_rollup_users"].fn(spark, oracle_sf_dir).collect()
    per_day = {r["day"]: r["est_users"] for r in rows if r["day"] is not None}
    total_est = [r["est_users"] for r in rows if r["day"] is None]
    assert len(total_est) == 1
    exact_day = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(per_day) == set(exact_day)
    for d, n in exact_day.items():
        assert abs(per_day[d] - n) <= max(1, 0.05 * n), (d, per_day[d], n)
    exact_total = ev.select(F.countDistinct("user_id")).collect()[0][0]
    assert abs(total_est[0] - exact_total) <= max(1, 0.05 * exact_total)
    # (c) merge identity: same registers either way
    one_shot = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")
    ).collect()[0]["e"]
    assert total_est[0] == one_shot
    # total row covers overlap correctly: never the sum of daily counts
    # (users active on several days), never less than the biggest day
    assert total_est[0] <= sum(per_day.values())
    assert total_est[0] >= max(per_day.values())


def test_asof_join_clicks_precede_purchases(spark, sf_dir):
    """Every matched click timestamp is <= its purchase timestamp."""
    df = SPECS["join_asof_last_click"].fn(spark, sf_dir)
    bad = df.filter(F.col("last_click_ts") > F.col("ts")).count()
    assert bad == 0


def test_topk_is_prefix_of_full_sort(spark, sf_dir):
    """TakeOrdered(10) equals the first 10 rows of the full sort."""
    top = [r["o_orderkey"] for r in SPECS["top_k_orders"].fn(spark, sf_dir).collect()]
    full = [
        r["o_orderkey"]
        for r in table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .collect()
    ]
    assert top == full


def test_read_lines_keyed(spark, tmp_path):
    """Text source reproduces the reference record model: one row per
    line; with_keys adds (fname, ordinal line_id) — the reference's
    'filename:line_num' key split into typed columns."""
    from cooler_mapreduce_spark.sources.text import read_lines

    p = tmp_path / "in.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    plain = read_lines(spark, str(p))
    assert [r["value"] for r in plain.collect()] == ["alpha", "beta", "gamma"]

    keyed = read_lines(spark, str(p), with_keys=True)
    rows = sorted((r["line_id"], r["value"]) for r in keyed.collect())
    assert rows == [(0, "alpha"), (1, "beta"), (2, "gamma")]
    assert all(r["fname"].endswith("in.txt") for r in keyed.collect())


def test_approx_quantiles_close_to_exact(spark, oracle_sf_dir):
    """GK sketch quantiles must land within 1% rank error of exact."""
    import duckdb

    got = SPECS["approx_quantiles_price"].fn(spark, oracle_sf_dir).collect()[0]["quantiles"]
    con = duckdb.connect()
    exact = con.execute(
        f"SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75, 0.95, 0.99]) "
        f"FROM '{oracle_sf_dir}/orders.parquet'"
    ).fetchone()[0]
    n = con.execute(f"SELECT COUNT(*) FROM '{oracle_sf_dir}/orders.parquet'").fetchone()[0]
    vals = con.execute(
        f"SELECT o_totalprice FROM '{oracle_sf_dir}/orders.parquet' ORDER BY o_totalprice"
    ).df()["o_totalprice"].tolist()
    import bisect
    for q, g, e in zip([0.25, 0.5, 0.75, 0.95, 0.99], got, exact):
        rank_g = bisect.bisect_left(vals, g) / n
        assert abs(rank_g - q) < 0.01, (q, g, e, rank_g)


def test_tdigest_quantiles_close_to_exact(spark, oracle_sf_dir):
    """t-digest quantiles must land within 1% rank error of exact at
    every probed p (tail error bound ~4·q(1−q)/δ is far tighter than
    the pin at p95/p99 — the sketch's selling point), the centroid
    count must respect the O(δ) budget, and the pure-Python kernel must
    satisfy the merge-identity error bound (digest of halves, merged,
    answers within the same rank tolerance as one-shot)."""
    import bisect

    import duckdb
    import numpy as np

    from cooler_mapreduce_spark.operators.aggregates import (
        _TD_DELTA,
        _td_compress,
        _td_quantile,
    )

    rows = SPECS["tdigest_quantiles_price"].fn(spark, oracle_sf_dir).collect()
    con = duckdb.connect()
    vals = con.execute(
        f"SELECT o_totalprice FROM '{oracle_sf_dir}/orders.parquet' ORDER BY o_totalprice"
    ).df()["o_totalprice"].tolist()
    n = len(vals)
    for r in rows:
        rank = bisect.bisect_left(vals, r["est"]) / n
        assert abs(rank - r["p"]) < 0.01, (r["p"], r["est"], rank)
        # the 4q(1−q) merge criterion admits ~4δ centroids in a single
        # pass (Dunning & Ertl §2.2 bound is O(δ) with a small constant)
        assert r["n_centroids"] <= 5 * _TD_DELTA, r["n_centroids"]

    # merge identity on the kernel: two half-digests merged ≈ one-shot
    rng = np.array(vals)
    a, b = rng[: n // 2], rng[n // 2 :]
    ma, wa = _td_compress(a, np.ones_like(a))
    mb, wb = _td_compress(b, np.ones_like(b))
    mm, wm = _td_compress(np.concatenate([ma, mb]), np.concatenate([wa, wb]))
    for p in (0.25, 0.5, 0.75, 0.95, 0.99):
        est = _td_quantile(mm, wm, p)
        rank = bisect.bisect_left(vals, est) / n
        assert abs(rank - p) < 0.01, (p, est, rank)


def test_pagerank_mass_conservation_and_concentration(spark, sf_dir):
    """PageRank invariants on the mirrored (dangling-free) trade graph:
    total rank mass stays 1 after every iteration (teleport + damped
    redistribution conserve mass; floor-quantization loses < |edges| *
    1e-15), iteration 0 is the uniform vector, and iterating
    concentrates mass (max rank rises above uniform)."""
    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.operators.graph import _uniform_trade_graph, rank_walk

    def pagerank_frame(spark, sf_dir, iterations):
        # the uniform tier's ranks before its top-20
        edges, deg, n = _uniform_trade_graph(spark, sf_dir)
        return rank_walk(
            edges,
            deg,
            init=F.lit(1.0) / F.lit(n),
            teleport=F.lit(0.15) / F.lit(n),
            iterations=iterations,
        )

    r0 = pagerank_frame(spark, sf_dir, iterations=0)
    n = r0.count()
    uniform = 1.0 / n
    ranks0 = [r.rank for r in r0.select("rank").collect()]
    assert all(abs(v - uniform) < 1e-15 for v in ranks0)

    for k in (1, 5):
        rk = pagerank_frame(spark, sf_dir, iterations=k)
        assert rk.count() == n  # node set preserved (no dangling loss)
        total = rk.agg(F.sum("rank")).collect()[0][0]
        assert abs(total - 1.0) < 1e-6, total
    top = pagerank_frame(spark, sf_dir, iterations=5).agg(F.max("rank")).collect()[0][0]
    assert top > uniform * 1.5  # hubs emerged; not still uniform


def test_cms_overestimate_and_merge(spark, oracle_sf_dir):
    """CMS invariants on real data: (1) est >= true for every probed
    term (structural guarantee, not probabilistic); (2) overestimate is
    bounded by the sketch's epsilon*N for this corpus; (3) sketches are
    MERGEABLE: cell-wise sum of two disjoint sub-corpus sketches equals
    the full-corpus sketch exactly."""
    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.operators.textstats import (
        _CMS_D,
        _CMS_W,
        _cms_bucket_sql,
    )
    from cooler_mapreduce_spark.functions.hashing import md5int_spark
    from cooler_mapreduce_spark.sources.catalog import table

    rows = SPECS["cms_heavy_hitters"].fn(spark, oracle_sf_dir).collect()
    assert len(rows) == 20
    n_tokens = (
        table(spark, oracle_sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .count()
    )
    eps_bound = 4 * n_tokens / _CMS_W  # loose multiple of e/w * N
    for r in rows:
        assert r.cms_est >= r.true_cnt, r
        assert r.cms_est - r.true_cnt <= eps_bound, (r, eps_bound)

    def sketch(df):
        toks = df.select(F.explode(F.split(F.lower("text"), " ")).alias("term"))
        h = md5int_spark("term")
        buckets = F.array(*[F.expr(_cms_bucket_sql(j, h)) for j in range(_CMS_D)])
        return (
            toks.select(F.posexplode(buckets).alias("j", "bucket"))
            .groupBy("j", "bucket")
            .agg(F.count("*").alias("c"))
        )

    d = table(spark, oracle_sf_dir, "documents")
    full = {(r.j, r.bucket): r.c for r in sketch(d).collect()}
    en = {(r.j, r.bucket): r.c for r in sketch(d.filter(F.col("lang") == "en")).collect()}
    rest = {(r.j, r.bucket): r.c for r in sketch(d.filter(F.col("lang") != "en")).collect()}
    merged = {k: en.get(k, 0) + rest.get(k, 0) for k in set(en) | set(rest)}
    assert merged == full


def test_attribution_conserves_revenue(spark, oracle_sf_dir):
    """Linear attribution is conservative: every purchase's value is
    split (or credited to 'direct'), so channel totals must re-sum to
    the exact total purchase revenue up to the per-credit quantization
    (1e-6 per touch row)."""
    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.functions.numeric import dsum
    from cooler_mapreduce_spark.sources.catalog import table

    rows = SPECS["attribution_linear_touch"].fn(spark, oracle_sf_dir).collect()
    attributed = sum(r.attributed_revenue for r in rows if r.attributed_revenue)
    n_rows = sum(r.n_rows for r in rows)
    total = (
        table(spark, oracle_sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(dsum("value", 6).alias("t"))
        .collect()[0].t
    )
    assert abs(attributed - total) <= n_rows * 1e-6 + 1e-6, (attributed, total)


def test_point_in_time_join_fanout_is_exactly_one(spark, oracle_sf_dir):
    """The half-open SCD2 ranges partition time per key, so every
    purchase whose user has any history on/before its timestamp matches
    EXACTLY one version — no duplicates, no silent drops (here every
    user's history starts before the event range, so counts are equal)."""
    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.sources.catalog import table

    out = SPECS["scd2_point_in_time_join"].fn(spark, oracle_sf_dir)
    n_out = out.count()
    assert out.select("event_id").distinct().count() == n_out  # fan-out ≤ 1
    n_purchases = (
        table(spark, oracle_sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert n_out == n_purchases  # and none dropped on this fixture


# --- round-6 independent-replica pins (beyond the DuckDB oracles) --------


def test_skyline_matches_bruteforce(spark, sf_dir):
    """The bucketed-prune + level-window skyline == the O(n²) dominance
    definition evaluated directly in NumPy — independent of both the
    window formulation AND the DuckDB NOT EXISTS spelling."""
    import numpy as np

    from cooler_mapreduce_spark.operators.windows import skyline_pareto_orders

    got = {
        (r.o_orderkey, r.o_totalprice, r.o_orderdate)
        for r in skyline_pareto_orders(spark, sf_dir).collect()
    }
    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .collect()
    )
    price = np.array([r.o_totalprice for r in rows])
    date = np.array([r.o_orderdate.timestamp() for r in rows])
    keep = set()
    for i in range(len(rows)):
        dominated = (
            (price >= price[i])
            & (date <= date[i])
            & ((price > price[i]) | (date < date[i]))
        ).any()
        if not dominated:
            keep.add((rows[i].o_orderkey, rows[i].o_totalprice, rows[i].o_orderdate))
    assert got == keep


def test_bfs_matches_pure_python(spark, sf_dir):
    """Frontier BFS == a sequential deque BFS over the same edge set —
    validates the anti-join loop independent of the recursive-CTE oracle."""
    from collections import deque

    from cooler_mapreduce_spark.operators.graph import (
        _BFS_MAX_HOPS,
        bfs_hops_from_hub,
    )

    got = {(r.node, r.hops) for r in bfs_hops_from_hub(spark, sf_dir).collect()}

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_suppkey")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_custkey")
    fwd = {
        (r.l_suppkey * 2, r.o_custkey * 2 + 1)
        for r in li.join(o, li.l_orderkey == o.o_orderkey).collect()
    }
    adj: dict[int, set[int]] = {}
    for s, d in fwd:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    deg = {n: len(vs) for n, vs in adj.items()}
    hub = max(deg, key=lambda n: (deg[n], -n))
    dist = {hub: 0}
    dq = deque([hub])
    while dq:
        n = dq.popleft()
        if dist[n] >= _BFS_MAX_HOPS:
            continue
        for m in adj[n]:
            if m not in dist:
                dist[m] = dist[n] + 1
                dq.append(m)
    assert got == set(dist.items())


def test_incremental_merge_is_cutoff_invariant(spark, sf_dir):
    """The mergeable-state property: ANY base/delta split merges to the
    same result (the registered query pins one cutoff against the
    one-pass oracle; this pins three more against each other)."""
    from cooler_mapreduce_spark.operators.aggregates import incremental_agg_merge

    def run(cutoff: str):
        import cooler_mapreduce_spark.operators.aggregates as agg

        # re-run the query body with a different split point by
        # monkey-free parameterization: rebuild inline
        from pyspark.sql import functions as F

        from cooler_mapreduce_spark.sources.catalog import table

        o = table(spark, sf_dir, "orders", fan_out=False)

        def partial(df):
            return df.groupBy("o_orderpriority").agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("s"),
                F.min("o_totalprice").alias("mn"),
                F.max("o_totalprice").alias("mx"),
            )

        base = partial(o.filter(F.col("o_orderdate") < cutoff))
        delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
        merged = base.unionAll(delta).groupBy("o_orderpriority").agg(
            F.sum("n").alias("n_orders"),
            F.sum("s").cast("double").alias("total_price"),
            F.min("mn").alias("min_price"),
            F.max("mx").alias("max_price"),
        )
        return {tuple(r) for r in merged.collect()}

    a = run("1996-01-01")
    b = run("1999-06-15")
    c = run("1995-01-01")  # degenerate: everything in delta
    assert a == b == c
    reg = {
        (r.o_orderpriority, r.n_orders, r.total_price, r.min_price, r.max_price)
        for r in incremental_agg_merge(spark, sf_dir).collect()
    }
    assert reg == a


def test_quantile_bin_rollup_accuracy_and_merge_identity(spark, oracle_sf_dir):
    """The binned-quantile rollup must (a) bracket the exact per-region
    quantile within one bin width (the sketch's resolution bound — the
    crossing bin CONTAINS the exact order statistic, and interpolation
    never leaves the bin), and (b) satisfy the merge identity EXACTLY:
    histograms built per nation then summed to region equal a histogram
    built directly at region grain (integer bin counts, associative sum)."""
    from cooler_mapreduce_spark.operators.aggregates import _QBIN_CAP, _QBIN_W

    rows = SPECS["quantile_bin_rollup_regions"].fn(spark, oracle_sf_dir).collect()
    assert len(rows) == 5 and all(r.n_orders > 0 for r in rows)
    o = table(spark, oracle_sf_dir, "orders")
    c = table(spark, oracle_sf_dir, "customer")
    n = table(spark, oracle_sf_dir, "nation")
    r = table(spark, oracle_sf_dir, "region")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
    )
    exact = {
        row["r_name"]: (row["p50"], row["p90"], row["cnt"])
        for row in joined.groupBy("r_name")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
            F.count("*").alias("cnt"),
        )
        .collect()
    }
    for row in rows:
        p50, p90, cnt = exact[row.region]
        assert row.n_orders == cnt
        assert abs(row.est_p50 - p50) <= _QBIN_W, (row.region, row.est_p50, p50)
        assert abs(row.est_p90 - p90) <= _QBIN_W, (row.region, row.est_p90, p90)
    # (b) merge identity: nation tiles summed == region-grain histogram
    bin_col = F.least(
        F.floor(F.col("o_totalprice") / F.lit(_QBIN_W)).cast("bigint"),
        F.lit(_QBIN_CAP),
    ).alias("bin")
    via_tiles = (
        joined.groupBy("n_regionkey", "c_nationkey", bin_col)
        .agg(F.count("*").alias("cnt"))
        .groupBy("n_regionkey", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = joined.groupBy("n_regionkey", bin_col).agg(F.count("*").alias("cnt"))
    assert sorted(map(tuple, via_tiles.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_positional_index_posting_encoding_bound(spark, sf_dir, oracle_sf_dir):
    """r11 ADVICE: positional_index_top_terms derives n_docs from the
    posting encoding (posting div 100000), which is exact only while every
    document stays under 100000 tokens. Pin that corpus invariant so a
    future data change fails loudly here instead of silently inflating
    n_docs."""
    for d in (sf_dir, oracle_sf_dir):
        docs = table(spark, d, "documents", fan_out=False)
        mx = docs.select(
            F.max(F.size(F.split("text", " "))).alias("m")
        ).collect()[0]["m"]
        assert mx is not None and mx < 100000, (d, mx)
