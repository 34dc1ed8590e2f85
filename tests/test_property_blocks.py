"""Property-based checks of core building blocks against independent
reference implementations — the randomized extension of the reference's
example-based test strategy (SURVEY.md §5): for ANY input, the
distributed formulation must agree with a direct sequential one.
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from cooler_mapreduce_spark.functions.timeutil import us_between, wall_trunc
from cooler_mapreduce_spark.operators.dedup import band_bucket_pairs, connected_components

from pyspark.sql import functions as F

# ---------------------------------------------------------------- graphs ----

_edges = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


def _union_find_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(edges=_edges)
def test_connected_components_equals_union_find(spark, edges):
    """Min-label propagation (distributed joins) must converge to the
    same components a sequential union-find computes."""
    pairs = spark.createDataFrame(edges, "doc_a INT, doc_b INT")
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == _union_find_components(edges)


# ------------------------------------------------------------ LSH buckets ----

_bands = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 1), st.integers(0, 3)),
    min_size=1,
    max_size=30,
).map(lambda rows: list({(d, b, k) for d, b, k in rows}))


def _brute_pairs(rows):
    out = set()
    by_bucket: dict[tuple[int, int], list[int]] = {}
    for d, b, k in rows:
        by_bucket.setdefault((b, k), []).append(d)
    for ds in by_bucket.values():
        for i, a in enumerate(ds):
            for c in ds:
                if c > a:
                    out.add((a, c))
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=_bands)
def test_band_bucket_pairs_equals_bruteforce(spark, rows):
    """Uncapped bucket-local pair generation is exactly the brute-force
    per-bucket pair set; the capped variant is always a subset."""
    bands = spark.createDataFrame(
        [(d, b, str(k)) for d, b, k in rows], "doc_id INT, band INT, band_key STRING"
    )
    exact = {(r.doc_a, r.doc_b) for r in band_bucket_pairs(bands, max_bucket=None).collect()}
    assert exact == _brute_pairs(rows)
    capped = {(r.doc_a, r.doc_b) for r in band_bucket_pairs(bands, max_bucket=3).collect()}
    assert capped <= exact


# ------------------------------------------------------------- time utils ----

_ts = st.datetimes(
    min_value=datetime.datetime(1971, 1, 1),
    max_value=datetime.datetime(2199, 12, 31),
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(a=_ts, b=_ts)
def test_us_between_equals_python_timedelta(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a timestamp_ntz, b timestamp_ntz")
    got = df.select(us_between("a", "b").alias("us")).collect()[0].us
    # exact integer micros — total_seconds() is a float and loses ulps on
    # century-scale spans (observed: off by 1 µs at ~137 years)
    d = b - a
    want = (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(t=_ts)
def test_wall_trunc_equals_python_truncation(spark, t):
    df = spark.createDataFrame([(t,)], "t timestamp_ntz")
    row = df.select(
        wall_trunc("t", "hour").alias("h"),
        wall_trunc("t", "day").alias("d"),
        wall_trunc("t", "month").alias("m"),
    ).collect()[0]
    assert row.h == t.replace(minute=0, second=0, microsecond=0)
    assert row.d == t.replace(hour=0, minute=0, second=0, microsecond=0)
    assert row.m == t.replace(day=1, hour=0, minute=0, second=0, microsecond=0)


_vals = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(vals=_vals, parts=st.integers(1, 7))
def test_dsum_is_partition_invariant_and_decimal_exact(spark, vals, parts):
    """The engine's determinism foundation, property-tested: dsum over
    ANY doubles at ANY partitioning equals the sequential decimal
    reference (per-value HALF_UP quantization, exact sum, nearest
    double) — the claim every oracle-checked float aggregate rests on."""
    import decimal

    from cooler_mapreduce_spark.functions.numeric import dsum

    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(parts)
    got = df.agg(dsum("v", 4).alias("s")).collect()[0].s
    q = decimal.Decimal("1e-4")
    want = float(
        sum(decimal.Decimal(v).quantize(q, rounding=decimal.ROUND_HALF_UP) for v in vals)
    )
    assert got == want


# ------------------------------------------------------ portable hashing ----
#
# The md5int / shingle kernels are the foundation every dedup/similarity
# oracle stands on; the 253 hash-green queries exercise them only on
# corpus-shaped text, so property-test them on ADVERSARIAL strings
# (unicode, empties, quotes) against BOTH the DuckDB spelling and an
# independent pure-Python reference.

_texts = st.lists(st.text(min_size=0, max_size=24), min_size=1, max_size=12)


def _md5int_py(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=_texts)
def test_md5int_tri_engine_identical(spark, texts):
    """md5int(s) must be the SAME int64 in Spark SQL, DuckDB SQL, and
    pure Python for any unicode string — collisions between the dedup
    engine and its oracle would otherwise be silent."""
    import duckdb
    import pandas as pd

    from cooler_mapreduce_spark.functions.hashing import md5int_duckdb, md5int_spark

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got_spark = [r.h for r in df.select(F.expr(md5int_spark("s")).alias("h")).collect()]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"s": texts}))
    got_duck = [r[0] for r in con.execute(
        f"SELECT {md5int_duckdb('s')} FROM t"
    ).fetchall()]
    want = [_md5int_py(t) for t in texts]
    assert got_spark == want
    assert got_duck == want


_token_lists = st.lists(
    st.lists(st.text(min_size=0, max_size=6), min_size=1, max_size=10),
    min_size=1,
    max_size=6,
)


def _shingles_py(tokens: list[str], n: int = 3) -> list[str]:
    upper = max(len(tokens) - n + 1, 1)
    seen, out = set(), []
    for i in range(upper):
        s = " ".join(tokens[i : i + n])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(token_lists=_token_lists)
def test_shingles_tri_engine_same_set(spark, token_lists):
    """Word-n-gram shingling must produce the identical DISTINCT SET of
    shingles in Spark, DuckDB, and Python — including the short-document
    edge (fewer tokens than n collapses to one whole-document shingle).

    SET, not list: this property's first run found that DuckDB's
    ``list_distinct`` does NOT preserve element order (falsifying input
    ``['', '', '', '0']`` → Spark/Python ``['  ', '  0']``, DuckDB
    ``['  0', '  ']``) while Spark's ``array_distinct`` keeps first
    occurrence. Every registered consumer treats shingles as a set
    (explode→distinct joins, minhash minima), so the engine is
    unaffected — but any FUTURE oracle that relied on shingle ORDER
    would silently diverge, which is why the exact contract is pinned
    here: Spark == Python order-preserving reference; DuckDB == same
    set, order unspecified; no duplicates anywhere."""
    import duckdb
    import pandas as pd

    from cooler_mapreduce_spark.functions.hashing import shingles_duckdb, shingles_spark

    df = spark.createDataFrame([(t,) for t in token_lists], "toks array<string>")
    got_spark = [
        list(r.sh) for r in df.select(F.expr(shingles_spark("toks")).alias("sh")).collect()
    ]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"toks": token_lists}))
    got_duck = [list(r[0]) for r in con.execute(
        f"SELECT {shingles_duckdb('toks')} FROM t"
    ).fetchall()]
    want = [_shingles_py(t) for t in token_lists]
    assert got_spark == want  # order-preserving, matches Python exactly
    for duck, py in zip(got_duck, want):
        assert sorted(duck) == sorted(py)  # same set...
        assert len(duck) == len(set(duck))  # ...and genuinely distinct


_hash_arrays = st.lists(
    st.lists(st.integers(0, (1 << 60) - 1), min_size=1, max_size=12),
    min_size=1,
    max_size=6,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(hash_arrays=_hash_arrays)
def test_minhash_signature_tri_engine_identical(spark, hash_arrays):
    """The minhash signature — Spark's scalar-accumulator HOF fold over
    PRE-REDUCED hashes vs DuckDB's list_min-over-transform on RAW
    hashes vs a direct Python evaluation — must agree elementwise for
    any 60-bit hash multiset (the fold-at-P initialization and the
    (a·(h mod P)+b) mod P == (a·h+b) mod P identity, both pinned)."""
    import duckdb
    import pandas as pd

    from cooler_mapreduce_spark.functions.hashing import (
        MERSENNE_P,
        MINHASH_A,
        MINHASH_B,
        NUM_MINHASHES,
        minhash_sig_duckdb,
        minhash_sig_spark,
    )

    reduced = [[h % MERSENNE_P for h in arr] for arr in hash_arrays]
    df = spark.createDataFrame([(a,) for a in reduced], "hs array<bigint>")
    got_spark = [
        list(r.sig)
        for r in df.select(F.expr(minhash_sig_spark("hs")).alias("sig")).collect()
    ]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"hs": hash_arrays}))
    # the kernel's input contract is BIGINT hashes (md5int_duckdb
    # guarantees that in every registered oracle); feeding DuckDB INT32
    # values keeps the a·h+b arithmetic in INT32 and overflows — found
    # by this property's first run, hence the explicit cast here
    bigint_hs = "list_transform(hs, x -> CAST(x AS BIGINT))"
    got_duck = [list(r[0]) for r in con.execute(
        f"SELECT {minhash_sig_duckdb(bigint_hs)} FROM t"
    ).fetchall()]
    want = [
        [
            min((MINHASH_A[j] * (h % MERSENNE_P) + MINHASH_B[j]) % MERSENNE_P
                for h in arr)
            for j in range(NUM_MINHASHES)
        ]
        for arr in hash_arrays
    ]
    assert got_spark == want
    assert got_duck == want


def _morton_py(a: int, b: int) -> int:
    out = 0
    for i in range(16):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(pairs=st.lists(st.tuples(st.integers(0, 0xFFFF), st.integers(0, 0xFFFF)),
                      min_size=1, max_size=16))
def test_morton_code_equals_bit_interleave(spark, pairs):
    """The z-order key (bit-spread shiftleft/AND/OR chain) must equal a
    direct per-bit interleave for every 16-bit pair — the data-skipping
    layout's correctness rests on this being a true Morton curve."""
    from cooler_mapreduce_spark.sources.catalog import morton_code

    df = spark.createDataFrame(pairs, "a bigint, b bigint")
    got = [r.z for r in df.select(morton_code("a", "b").alias("z")).collect()]
    assert got == [_morton_py(a, b) for a, b in pairs]


# --------------------------------------------- ExactSubstr span merge ----

_span_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=30),
    min_size=2,
    max_size=8,
)


def _substring_spans_py(docs: list[list[str]], k: int):
    """Sequential reference of the whole ExactSubstr pipeline: k-gram
    windows (exact tuples stand in for the collision-free hash), ≥2-doc
    survivors, per-doc gaps-and-islands merge with the pos > prev + k
    split rule, maximal-span length sum."""
    win_docs: dict[tuple, set[int]] = {}
    positions: dict[int, list[int]] = {}
    for did, toks in enumerate(docs):
        for i in range(len(toks) - k + 1):
            win_docs.setdefault(tuple(toks[i : i + k]), set()).add(did)
    for did, toks in enumerate(docs):
        pos = [
            i + 1  # 1-based like the SQL sequence
            for i in range(len(toks) - k + 1)
            if len(win_docs[tuple(toks[i : i + k])]) >= 2
        ]
        if pos:
            positions[did] = pos
    out = {}
    for did, pos in positions.items():
        spans = []
        start = prev = pos[0]
        for p in pos[1:]:
            if p > prev + k:
                spans.append((start, prev + k - 1))
                start = p
            prev = p
        spans.append((start, prev + k - 1))
        dup = sum(e - s + 1 for s, e in spans)
        n = len(docs[did])
        out[did] = (n, len(spans), dup, dup / n)
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(docs=_span_docs)
def test_substring_spans_equals_sequential_reference(spark, docs, tmp_path_factory):
    """The distributed ExactSubstr re-expression (rolling fingerprints →
    ≥2-doc survivor shuffle → gaps-and-islands window merge) must equal
    a direct sequential computation for ANY token corpus — including
    overlap/adjacency edges the fixture corpus never hits (islands
    merging across gaps of exactly k, whole-doc spans, docs below k)."""
    from cooler_mapreduce_spark.operators.dedup import _SPAN_K, dedup_substring_spans

    sf_dir = str(tmp_path_factory.mktemp("span_corpus"))
    spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)], "doc_id bigint, text string"
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_tokens, r.dup_fraction)
        for r in dedup_substring_spans(spark, sf_dir).collect()
    }
    assert got == _substring_spans_py(docs, _SPAN_K)


# ----------------------------------------------------- skyline / medians ----

_sky_rows = st.lists(
    st.tuples(st.sampled_from([1.0, 2.0, 3.0]), st.integers(0, 2)),
    min_size=1,
    max_size=20,
)


def _skyline_py(rows):
    """Quadratic NOT-EXISTS dominance reference: maximize price,
    minimize date; ties on both dims are mutually non-dominating."""
    out = set()
    for k, (p, d) in enumerate(rows):
        dominated = any(
            (p2 >= p and d2 <= d and (p2 > p or d2 < d))
            for k2, (p2, d2) in enumerate(rows)
            if k2 != k
        )
        if not dominated:
            out.add(k)
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=_sky_rows)
def test_skyline_equals_quadratic_dominance(spark, rows, tmp_path_factory):
    """The two-stage distributed skyline (64-bucket local prune + exact
    level window) must equal the quadratic dominance definition on ANY
    point set — tie-heavy distributions (duplicate price levels,
    duplicate full points) are exactly where a prune bug would silently
    drop frontier rows."""
    import datetime as _dt

    from cooler_mapreduce_spark.operators.windows import skyline_pareto_orders

    sf_dir = str(tmp_path_factory.mktemp("sky"))
    base = _dt.date(1995, 1, 1)
    spark.createDataFrame(
        [(k, p, base + _dt.timedelta(days=d)) for k, (p, d) in enumerate(rows)],
        "o_orderkey bigint, o_totalprice double, o_orderdate date",
    ).write.mode("overwrite").parquet(f"{sf_dir}/orders.parquet")
    got = {r.o_orderkey for r in skyline_pareto_orders(spark, sf_dir).collect()}
    assert got == _skyline_py(rows)


_wm_rows = st.lists(
    st.tuples(
        st.sampled_from(["A", "N"]),
        st.sampled_from([100.0, 500.0, 999.0, 1000.0, 1500.0, 2500.0]),
        st.integers(1, 5),
    ),
    min_size=1,
    max_size=20,
)


def _weighted_median_py(rows):
    out = {}
    for flag in {r[0] for r in rows}:
        grp = sorted((p, q) for f, p, q in rows if f == flag)
        tot = sum(q for _, q in grp)
        cum = 0
        for p, q in grp:
            cum += q
            if 2 * cum >= tot:
                out[flag] = (tot, p)
                break
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=_wm_rows)
def test_weighted_median_equals_sequential_reference(spark, rows, tmp_path_factory):
    """The two-phase binned weighted median (histogram crossing-bin +
    surgical in-bin RANGE window) must equal the direct sorted-cumsum
    definition for ANY weights — prices straddling the 1000-unit bin
    boundary and exact price ties (RANGE peers) are the hazard cases."""
    from cooler_mapreduce_spark.operators.aggregates import weighted_median_price_by_flag

    sf_dir = str(tmp_path_factory.mktemp("wm"))
    spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double, l_quantity bigint"
    ).write.mode("overwrite").parquet(f"{sf_dir}/lineitem.parquet")
    got = {
        r.l_returnflag: (r.total_qty, r.weighted_median_price)
        for r in weighted_median_price_by_flag(spark, sf_dir).collect()
    }
    assert got == _weighted_median_py(rows)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    vals=st.lists(st.integers(-50, 50), min_size=1, max_size=40, unique=True),
    parts=st.integers(1, 7),
)
def test_exact_global_rank_equals_sorted_position(spark, vals, parts):
    """The range-partitioned parallel rank (the engine's scalable
    replacement for a single-task ORDER BY window) must equal the
    sorted position for ANY unique key set at ANY partition count —
    including partitions the range sampler leaves empty, whose offsets
    must still chain correctly."""
    from cooler_mapreduce_spark.operators.windows import exact_global_rank

    df = spark.createDataFrame([(v,) for v in vals], "v int")
    ranked, total = exact_global_rank(df, [F.asc("v")], num_partitions=parts)
    got = {r.v: r._rank0 for r in ranked.collect()}
    assert total == len(vals)
    assert got == {v: i for i, v in enumerate(sorted(vals))}


# -------------------------------------------------- sessions / robust fit ----

_session_events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 200)),  # (user, minutes offset)
    min_size=1,
    max_size=25,
)


def _sessions_py(events):
    """Sequential 30-minute-gap sessionization over (user, ts, event_id)."""
    out = {}
    by_user: dict[int, list[tuple]] = {}
    for eid, (u, m) in enumerate(events):
        by_user.setdefault(u, []).append((m, eid))
    for u, rows in by_user.items():
        rows.sort()
        seq = 0
        prev = None
        for m, eid in rows:
            if prev is None or (m - prev) * 60_000_000 > 30 * 60 * 1_000_000:
                seq += 1
                out[(u, seq)] = [0, m, m]
            grp = out[(u, seq)]
            grp[0] += 1
            grp[2] = m
            prev = m
    return {k: tuple(v) for k, v in out.items()}


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(events=_session_events)
def test_sessionize_equals_sequential_gap_walk(spark, events, tmp_path_factory):
    """The lag + cumulative-start-marker sessionization must equal a
    sequential gap walk for ANY event layout — gaps of exactly 30
    minutes (boundary: NOT a new session under the strict > rule) and
    duplicate timestamps within a user are the hazard cases."""
    import datetime as _dt

    from cooler_mapreduce_spark.operators.windows import sessionize_events

    sf_dir = str(tmp_path_factory.mktemp("sess"))
    base = _dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(eid, u, base + _dt.timedelta(minutes=m))
         for eid, (u, m) in enumerate(events)],
        "event_id bigint, user_id bigint, ts timestamp_ntz",
    ).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")
    got = {
        (r.user_id, r.session_seq): (
            r.n_events,
            int((r.session_start - base).total_seconds() // 60),
            int((r.session_end - base).total_seconds() // 60),
        )
        for r in sessionize_events(spark, sf_dir).collect()
    }
    assert got == _sessions_py(events)


_ts_days = st.lists(
    st.tuples(st.integers(0, 12), st.integers(1, 500)),  # (day offset, price)
    min_size=2,
    max_size=15,
).filter(lambda rows: len({d for d, _ in rows}) >= 2)


def _theilsen_py(rows):
    daily: dict[int, int] = {}
    for d, p in rows:
        daily[d] = daily.get(d, 0) + p
    pts = sorted(daily.items())
    slopes = sorted(
        (y2 - y1) / (x2 - x1)
        for i, (x1, y1) in enumerate(pts)
        for x2, y2 in pts[i + 1 :]
    )
    n = len(slopes)
    lo, hi = slopes[(n + 1) // 2 - 1], slopes[n // 2]
    return n, (lo + hi) / 2.0


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=_ts_days)
def test_theilsen_equals_pairwise_median_reference(spark, rows, tmp_path_factory):
    """The distributed Theil–Sen (calendar-bounded pairwise theta join +
    lower/upper median midpoint) must equal the direct all-pairs slope
    median for ANY daily series — even/odd pair counts and duplicate
    slope values both exercise the two-rank midpoint rule."""
    import datetime as _dt

    from cooler_mapreduce_spark.operators.timeseries import theilsen_trend_revenue

    sf_dir = str(tmp_path_factory.mktemp("ts"))
    base = _dt.date(1995, 1, 1)
    spark.createDataFrame(
        [(k, base + _dt.timedelta(days=d), float(p))
         for k, (d, p) in enumerate(rows)],
        "o_orderkey bigint, o_orderdate date, o_totalprice double",
    ).write.mode("overwrite").parquet(f"{sf_dir}/orders.parquet")
    r = theilsen_trend_revenue(spark, sf_dir).collect()[0]
    n, slope = _theilsen_py(rows)
    assert r.n_pairs == n
    assert abs(r.theil_sen_slope - slope) < 1e-9


# ---------------------------------------------- round-8 growth kernels ----

_wedges = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15), st.integers(1, 3)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=40,
)


def _dijkstra_bounded(edges, source, max_cost):
    import heapq

    adj: dict[int, list[tuple[int, int]]] = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    dist = {source: 0}
    heap = [(0, source)]
    while heap:
        c, n = heapq.heappop(heap)
        if c > dist.get(n, max_cost + 1):
            continue
        for d, w in adj.get(n, ()):
            nc = c + w
            if nc <= max_cost and nc < dist.get(d, max_cost + 1):
                dist[d] = nc
                heapq.heappush(heap, (nc, d))
    return dist


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(edges=_wedges, cap=st.integers(1, 6))
def test_sssp_frame_equals_bounded_dijkstra(spark, edges, cap):
    """The frontier Bellman-Ford relaxation must equal a sequential
    bounded Dijkstra for ANY weighted digraph, horizon, multi-edge set —
    including graphs where a cheaper many-hop path must beat an
    expensive few-hop one (the case a hop-capped BFS would get wrong)."""
    from cooler_mapreduce_spark.operators.graph import sssp_frame

    e = spark.createDataFrame(edges, "src int, dst int, w int")
    src = spark.createDataFrame([(0,)], "node int")
    got = {r.node: r.cost for r in sssp_frame(e, src, cap).collect()}
    assert got == _dijkstra_bounded(edges, 0, cap)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(edges=_wedges, seeds=st.sets(st.integers(0, 15), max_size=3), hops=st.integers(1, 6))
@example(edges=[(0, 1, 1)], seeds=set(), hops=3)
def test_bfs_levels_equals_unit_weight_dijkstra_per_seed(spark, edges, seeds, hops):
    """The multi-source level kernel must equal a sequential bounded
    Dijkstra with unit weights, run once per seed, on ANY digraph: each
    (seed, node) pair once, at its first level. Node 99 is an isolated
    seed whose frontier is empty at hop 1; with no other seed (the
    explicit example) the whole level is empty and the loop breaks
    there."""
    from cooler_mapreduce_spark.operators.graph import bfs_levels

    e = spark.createDataFrame([(s, d) for s, d, _w in edges], "src int, dst int")
    cohort = sorted(seeds | {99})
    src = spark.createDataFrame([(s, s) for s in cohort], "seed int, node int")
    got = {
        (r.seed, r.node): r.hops
        for r in bfs_levels(e, src, hops, group=("seed",)).collect()
    }
    unit = [(s, d, 1) for s, d, _w in edges]
    want = {
        (s, node): d for s in cohort for node, d in _dijkstra_bounded(unit, s, hops).items()
    }
    assert got == want


_series = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=60,
)


def _kalman_py(ys):
    # the SAME op order the shared SQL spelling pins: pp = p + Q;
    # k = pp / (pp + R); x' = x + k*(y - x); p' = (1 - k) * pp
    out = [(ys[0], ys[0], 1.0, None)]
    x, p = ys[0], 1.0
    for y in ys[1:]:
        k = (p + 0.01) / ((p + 0.01) + 1.0)
        nx = x + k * (y - x)
        np_ = (1.0 - k) * (p + 0.01)
        out.append((y, nx, np_, k))
        x, p = nx, np_
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(ys=_series)
def test_kalman_fold_equals_sequential_recurrence(spark, ys):
    """The HOF Kalman fold must be BIT-IDENTICAL to the sequential
    pure-Python recurrence written in the same op order, for ANY series
    — the shared-spelling discipline means there is no tolerance here."""
    import datetime as _dt

    from cooler_mapreduce_spark.operators.timeseries import kalman_fold

    base = _dt.datetime(2020, 1, 6)
    series = spark.createDataFrame(
        [(base + _dt.timedelta(weeks=i), float(y)) for i, y in enumerate(ys)],
        "bucket_week timestamp_ntz, y double",
    )
    rows = sorted(kalman_fold(series).collect(), key=lambda r: r.bucket_week)
    ref = _kalman_py([float(y) for y in ys])
    assert len(rows) == len(ref)
    for r, (y, x, p, k) in zip(rows, ref):
        assert (r.y, r.level, r.variance, r.gain) == (y, x, p, k)


def _lev_py(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _resolve_py(dirty, master, block_cap=64):
    # mirrors resolve_records including the _ER_BLOCK_CAP rule: master
    # blocks above the cap are dropped from candidate generation
    from collections import Counter

    blk_n = Counter(cn[9:17] for _ck, cn, _cnat, _cbal in master)
    out = []
    for rec_id, name, nation, bal in dirty:
        cands = []
        for ck, cn, cnat, cbal in master:
            if name[9:17] != cn[9:17] or nation != cnat:
                continue
            if blk_n[cn[9:17]] > block_cap:
                continue
            lev = _lev_py(name, cn)
            diff = abs(bal - cbal)
            if lev <= 1 and diff <= 1.0:
                cands.append((lev, diff, ck, cbal))
        if not cands:
            out.append((rec_id, None, None, "new", bal))
        else:
            lev, _diff, ck, cbal = min(cands)
            kind = "exact" if lev == 0 else "fuzzy"
            out.append((rec_id, ck, lev, kind, max(cbal, bal)))
    return sorted(out, key=lambda t: t[0])


_er_case = st.lists(
    st.tuples(
        st.integers(0, 29),              # master key the record derives from
        st.sampled_from(["exact", "typo", "alien"]),
        st.sampled_from([0.0, 0.5, 2.0]),  # balance drift (2.0 breaks tolerance)
        st.booleans(),                   # nation agreement
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(case=_er_case)
def test_resolve_records_equals_bruteforce(spark, case):
    """The blocked+windowed linkage must equal a brute-force sequential
    matcher for ANY dirty batch — exact dupes, tail typos, out-of-range
    aliens, tolerance-breaking drifts, nation disagreements, and records
    tying on edit distance (the total-order tiebreak)."""
    from cooler_mapreduce_spark.operators.entity import resolve_records

    master = [
        (k, f"Customer#{k:09d}", k % 3, float(k) + 0.25) for k in range(30)
    ]
    dirty = []
    for i, (k, mode, drift, same_nation) in enumerate(case):
        name = f"Customer#{k:09d}"
        if mode == "typo":
            name = name[:-1] + "X"
        elif mode == "alien":
            name = f"Customer#{k + 500000:09d}"
        nation = (k % 3) if same_nation else ((k + 1) % 3)
        dirty.append((10_000 + i, name, nation, float(k) + 0.25 + drift))
    got = sorted(
        (
            (r.rec_id, r.matched_custkey, r.name_lev, r.match_kind, r.survivor_bal)
            for r in resolve_records(
                spark.createDataFrame(dirty, "rec_id bigint, name string, nation int, bal double"),
                spark.createDataFrame(master, "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double"),
            ).collect()
        ),
        key=lambda t: t[0],
    )
    assert got == _resolve_py(dirty, master)


def test_resolve_records_drops_oversized_blocks(spark):
    """Adversarial blocking-key skew (round-8 verdict What's-wrong #2):
    a master block above _ER_BLOCK_CAP — here 70 records sharing one
    non-conforming name, the identical-legal-name / placeholder-value
    failure mode — is dropped from candidate generation entirely, so a
    record that would have matched inside it resolves 'new' instead of
    fanning out 70 candidate pairs; matching in conforming blocks is
    unaffected."""
    from cooler_mapreduce_spark.operators.entity import (
        _ER_BLOCK_CAP,
        resolve_records,
    )

    skewed = [(k, "Customer#999999999", k % 3, float(k)) for k in range(70)]
    normal = [(1000, "Customer#000001000", 1, 50.0)]
    assert len(skewed) > _ER_BLOCK_CAP
    master = spark.createDataFrame(
        skewed + normal,
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double",
    )
    dirty = spark.createDataFrame(
        [
            (20_001, "Customer#999999999", 0, 0.0),   # exact dup, but in the oversized block
            (20_002, "Customer#000001000", 1, 50.0),  # exact dup in a conforming block
        ],
        "rec_id bigint, name string, nation int, bal double",
    )
    got = {r.rec_id: (r.match_kind, r.matched_custkey)
           for r in resolve_records(dirty, master).collect()}
    assert got == {20_001: ("new", None), 20_002: ("exact", 1000)}
    # and the python replica agrees on the same scenario
    assert _resolve_py(
        [(20_001, "Customer#999999999", 0, 0.0), (20_002, "Customer#000001000", 1, 50.0)],
        skewed + normal,
        block_cap=_ER_BLOCK_CAP,
    ) == [(20_001, None, None, "new", 0.0), (20_002, 1000, 0, "exact", 50.0)]


_td_vals = st.lists(
    st.floats(min_value=0.0, max_value=1e6, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=400,
)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(vals=_td_vals)
def test_tdigest_kernel_rank_bound_and_multiset_purity(vals):
    """For ANY value multiset: (1) the compression is a pure function of
    the multiset — feeding the centroids in a different order changes
    nothing (the lexsort guarantee the shuffle-invariance sweep relies
    on); (2) every probed quantile's estimate has interval rank error
    within the k1 bound plus discretization (duplicates handled by
    measuring distance to the [bisect_left, bisect_right] rank band)."""
    import bisect

    import numpy as np

    from cooler_mapreduce_spark.operators.aggregates import (
        _td_compress,
        _td_quantile,
    )

    v = np.asarray(vals, dtype="float64")
    m1, w1 = _td_compress(v, np.ones_like(v))
    m2, w2 = _td_compress(v[::-1].copy(), np.ones_like(v))
    assert m1.tolist() == m2.tolist() and w1.tolist() == w2.tolist()

    svals = sorted(vals)
    n = len(svals)
    for p in (0.25, 0.5, 0.75, 0.95, 0.99):
        est = _td_quantile(m1, w1, p)
        lo = bisect.bisect_left(svals, est) / n
        hi = bisect.bisect_right(svals, est) / n
        err = 0.0 if lo <= p <= hi else min(abs(p - lo), abs(p - hi))
        assert err <= 0.02 + 1.0 / n, (p, est, lo, hi, n)


_wgraph = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12), st.integers(1, 5)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=30,
)


def _wpr_py(rows, iters, damping=0.85):
    # mirrors rank_walk's exact op order on the weighted path, including
    # the floor quantization and the inner sums⋈outw join per iteration
    import math

    q = 1_000_000_000_000_000.0
    outw: dict[int, int] = {}
    for s, _d, w in rows:
        outw[s] = outw.get(s, 0) + w
    n = len(outw)
    rank = {v: 1.0 / n for v in outw}
    for _ in range(iters):
        sums: dict[int, int] = {}
        for s, d, w in rows:
            if s in rank:
                sums[d] = sums.get(d, 0) + math.floor(rank[s] * w / outw[s] * q)
        rank = {
            d: (1.0 - damping) / n + damping * (float(c) / q)
            for d, c in sums.items()
            if d in outw
        }
    return rank


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(base=_wgraph, iters=st.integers(0, 6))
def test_weighted_pagerank_equals_sequential_replica(spark, base, iters):
    """The rank kernel must be BIT-IDENTICAL to a sequential replica
    written in the same op order (floor-quantized bigint contribution
    sums make the distributed adds order-free) for ANY mirrored weighted
    multigraph, damping=0.85 and 0-6 rounds — so the mid-loop
    truncation both fires and does not. The unweighted path is the same
    replica with w ≡ 1 and degree = count (rank*1.0 == rank exactly)."""
    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.operators.graph import _DAMPING, rank_sides, rank_walk

    def walk(df, weight):
        edges, deg, n = rank_sides(df, weight=weight)
        assert n == deg.count()  # observed by the degree checkpoint job
        ranks = rank_walk(
            edges,
            deg,
            weight=weight,
            iterations=iters,
            init=F.lit(1.0) / F.lit(n),
            teleport=F.lit(1.0 - _DAMPING) / F.lit(n),
        )
        return {r.node: r.rank for r in ranks.collect()}

    rows = base + [(d, s, w) for s, d, w in base]  # mirror: no dangling mass
    e = spark.createDataFrame(rows, "src int, dst int, w int")
    assert walk(e, "w") == _wpr_py(rows, iters)
    assert walk(e.select("src", "dst"), None) == _wpr_py(
        [(s, d, 1) for s, d, _w in rows], iters
    )


def test_cluster_matches_composes_resolution_into_entities(spark):
    """Staged ER clustering: records matched to one master collapse into
    a min-id cluster with it; records bridging two masters (a rec_id
    edge to each) pull both into ONE cluster; 'new' records stay
    singletons."""
    from cooler_mapreduce_spark.operators.entity import cluster_matches

    resolved = spark.createDataFrame(
        [
            (10_000_001, 5, 1, "fuzzy", 1.0),
            (10_000_002, 5, 0, "exact", 2.0),
            (10_000_003, 7, 1, "fuzzy", 3.0),
            (10_000_004, None, None, "new", 4.0),
        ],
        "rec_id bigint, matched_custkey bigint, name_lev int, match_kind string, survivor_bal double",
    )
    got = {(r.entity_id, r.cluster_id) for r in cluster_matches(resolved).collect()}
    assert got == {
        (10_000_001, 5), (10_000_002, 5), (5, 5),
        (10_000_003, 7), (7, 7),
        (10_000_004, 10_000_004),
    }


_grid_rows = st.lists(
    st.tuples(st.integers(0, 4), st.sampled_from(["A", "B", "C"])),
    min_size=1,
    max_size=60,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=_grid_rows, eps=st.sampled_from([0.25, 0.5, 1.0]))
def test_dp_noisy_grid_equals_python_mirror(spark, rows, eps):
    """The staged generic DP grid release must equal a Python mirror of
    the identical seeded-Laplace op sequence for ANY 2-D cell population
    and ε — compared after the registered faces' round-to-6 HALF_UP
    absorber (libm ln() may differ in the last bit across runtimes)."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from cooler_mapreduce_spark.operators.governance import dp_noisy_grid

    def r6(x):
        return Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)

    df = spark.createDataFrame(rows, "nation int, seg string")
    got = {
        (r.nation, r.seg): (r.n, r6(r.noisy_count))
        for r in dp_noisy_grid(df, ["nation", "seg"], eps, "t-seed").collect()
    }
    want = {}
    for (nation, seg), n in Counter(rows).items():
        h = _md5int_py(f"t-seed:{nation}:{seg}")
        u = ((h % 1_000_000) + 0.5) / 1_000_000.0 - 0.5
        noise = -(1.0 / eps) * (1.0 if u >= 0.0 else -1.0) * math.log(1.0 - 2.0 * abs(u))
        want[(nation, seg)] = (n, r6(float(n) + noise))
    assert got == want


def _kmv_u_py(seed, v):
    h = _md5int_py(f"{seed}:{v}")
    return (float(h) + 0.5) / float(1 << 60)


_kmv_sets = st.tuples(
    st.sets(st.integers(0, 5000), min_size=1, max_size=600),
    st.sets(st.integers(0, 5000), min_size=1, max_size=600),
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(ab=_kmv_sets)
def test_kmv_sketch_build_union_and_set_estimates(spark, ab):
    """Staged KMV/theta kernels, pinned on ANY pair of integer sets:
    (1) the packed sketch is EXACTLY the k smallest seeded hash values
    (bit-equal to a Python mirror); (2) union composes losslessly —
    kmv_union(sketch(A), sketch(B)) equals sketch(A∪B) bit-for-bit
    (the k-smallest-of-union identity); (3) the distinct/intersection/
    union estimators are exact whenever both sketches are un-full, and
    within the 4-sigma KMV band (4/sqrt(k-2)) when sampling engages."""
    import math

    from cooler_mapreduce_spark.operators.aggregates import (
        _KMV_K,
        _KMV_SEED,
        kmv_set_estimates,
        kmv_sketch,
        kmv_union,
    )

    a_vals, b_vals = ab
    k = _KMV_K

    def mirror(vals):
        return sorted(_kmv_u_py(_KMV_SEED, v) for v in set(vals))[:k]

    fa = spark.createDataFrame([("g", v) for v in a_vals], "grp string, v long")
    fb = spark.createDataFrame([("g", v) for v in b_vals], "grp string, v long")
    sa = kmv_sketch(fa, ["grp"], "v")
    sb = kmv_sketch(fb, ["grp"], "v")
    got_a = sa.collect()[0].ks
    assert got_a == mirror(a_vals)                       # (1) bit-equal build

    un = kmv_union(sa, sb, ["grp"]).collect()[0].ks
    assert un == mirror(a_vals | b_vals)                 # (2) lossless union

    est = kmv_set_estimates(sa, sb, ["grp"]).collect()[0]
    exact_i = len(a_vals & b_vals)
    exact_u = len(a_vals | b_vals)
    if len(a_vals) < k and len(b_vals) < k:
        # theta = 1.0 on both sides: the sketch IS the set — exact
        assert est.est_a == float(len(a_vals))
        assert est.est_b == float(len(b_vals))
        assert est.est_intersect == float(exact_i)
        assert est.est_union == float(exact_u)
    else:
        band = 4.0 / math.sqrt(k - 2)
        assert abs(est.est_a - len(a_vals)) <= band * len(a_vals) + 1
        assert abs(est.est_b - len(b_vals)) <= band * len(b_vals) + 1
        assert abs(est.est_union - exact_u) <= band * exact_u + 1
        assert abs(est.est_intersect - exact_i) <= band * exact_u + 1


_lattice_rows = st.lists(
    st.tuples(st.integers(0, 3), st.sampled_from(["A", "B"]), st.integers(0, 2)),
    min_size=1,
    max_size=50,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=_lattice_rows, k_min=st.sampled_from([2, 5]))
def test_kanonymity_lattice_census_equals_itertools_mirror(spark, rows, k_min):
    """Staged Incognito lattice census: for ANY row multiset and k, the
    one-pass GROUPING SETS evaluation must equal a direct Python
    enumeration of every attribute subset (class counts, min class
    size, row coverage, anonymity verdict at every lattice node)."""
    from collections import Counter
    from itertools import combinations

    from cooler_mapreduce_spark.operators.governance import (
        kanonymity_lattice_census,
    )

    attrs = ["nation", "seg", "band"]
    df = spark.createDataFrame(rows, "nation int, seg string, band int")
    got = {
        r.node: (r.n_attrs_kept, r.n_classes, r.min_k, r.n_rows, r.anonymous)
        for r in kanonymity_lattice_census(df, attrs, k_min).collect()
    }
    want = {}
    for n_keep in range(len(attrs) + 1):
        for kept in combinations(range(len(attrs)), n_keep):
            sizes = Counter(tuple(row[i] for i in kept) for row in rows)
            node = ",".join(attrs[i] for i in kept) or "*"
            mk = min(sizes.values())
            want[node] = (n_keep, len(sizes), mk, len(rows), mk >= k_min)
    assert got == want


# ------------------------------------------- containment posting cap ----

#: tiny vocabulary + short docs force shared shingles (and shared
#: whole-doc shingles below the 3-gram width) so posting lists overlap
#: and the cap has something real to drop.
_cont_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=8),
    min_size=2,
    max_size=8,
)


def _containment_py(docs: list[list[str]], t: float, max_posting: int | None):
    """Sequential posting-list mirror of ``dedup_containment_pairs``
    INCLUDING the stop-shingle cap: distinct 3-gram shingles per doc
    (whole-doc shingle below the gram width, like the SQL greatest()
    guard), posting lists of ≥2 docs, lists larger than the cap dropped
    entirely, intersections counted only through surviving lists."""
    def shingles(toks: list[str]) -> set[str]:
        m = max(len(toks) - 2, 1)
        return {" ".join(toks[i : i + 3]) for i in range(m)}

    sh = {i: shingles(d) for i, d in enumerate(docs)}
    posting: dict[str, set[int]] = {}
    for did, ss in sh.items():
        for s in ss:
            posting.setdefault(s, set()).add(did)
    inter: dict[tuple[int, int], int] = {}
    for dids in posting.values():
        if len(dids) < 2 or (max_posting is not None and len(dids) > max_posting):
            continue
        for a in dids:
            for b in dids:
                if a < b:
                    inter[(a, b)] = inter.get((a, b), 0) + 1
    out = {}
    for (a, b), i in inter.items():
        c = i / min(len(sh[a]), len(sh[b]))
        if c >= t:
            out[(a, b)] = (c, i / (len(sh[a]) + len(sh[b]) - i))
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(docs=_cont_docs, cap=st.integers(2, 5))
def test_containment_cap_equals_posting_mirror_and_is_one_sided(
    spark, docs, cap, tmp_path_factory
):
    """The ``max_posting`` stop-shingle cap — the knob the 100 TB
    docstring leans on (round-9 verdict What's-wrong #3) — must (a)
    equal the sequential posting-list mirror EXACTLY, capped and
    uncapped, for ANY corpus, and (b) obey the one-sided law the
    docstring claims: dropping a posting list only lowers measured
    intersections, so the capped pair set is a SUBSET of the exact one
    with per-pair containment never above the exact value (no false
    pair can ever be introduced by the cap)."""
    from cooler_mapreduce_spark.operators.dedup import (
        _CONTAINMENT_T,
        dedup_containment_pairs,
    )

    sf_dir = str(tmp_path_factory.mktemp("cont_corpus"))
    spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)], "doc_id bigint, text string"
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    def engine(max_posting):
        return {
            (r.doc_a, r.doc_b): (r.containment, r.jaccard)
            for r in dedup_containment_pairs(
                spark, sf_dir, max_posting=max_posting
            ).collect()
        }

    exact, capped = engine(None), engine(cap)
    assert exact == _containment_py(docs, _CONTAINMENT_T, None)
    assert capped == _containment_py(docs, _CONTAINMENT_T, cap)
    assert set(capped) <= set(exact)
    for pair, (c_capped, _) in capped.items():
        assert c_capped <= exact[pair][0]


# --------------------------------------------- Fellegi–Sunter EM ----

_fsem_vectors = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 1), st.integers(0, 1)),
    min_size=1,
    max_size=40,
)


def _fsem_py(vectors, iterations):
    """Sequential mirror of ``fellegi_sunter_em`` with the IDENTICAL
    quantized arithmetic: posterior under conditional independence,
    floor(w * 1e15) exact-integer sums, and the M-step's exact double
    op sequence — bit-equality is the assertion, not closeness."""
    import math

    p, m0, u0 = 0.1, 0.9, 0.1
    K = 3
    m, u = [m0] * K, [u0] * K
    Q = 1_000_000_000_000_000
    n = len(vectors)
    for _ in range(iterations):
        sw, swa, na = 0, [0] * K, [0] * K
        for g in vectors:
            lm, lu = p, 1.0 - p
            for k in range(K):
                lm = lm * (m[k] if g[k] == 1 else 1.0 - m[k])
                lu = lu * (u[k] if g[k] == 1 else 1.0 - u[k])
            w = lm / (lm + lu)
            wq = math.floor(w * float(Q))
            sw += wq
            for k in range(K):
                if g[k] == 1:
                    swa[k] += wq
                    na[k] += 1
        swd = float(sw) / float(Q)
        p = swd / float(n)
        m = [(float(swa[k]) / float(Q)) / swd for k in range(K)]
        u = [
            (float(na[k]) - float(swa[k]) / float(Q)) / (float(n) - swd)
            for k in range(K)
        ]
    out = {"p": p, "n_pairs": n}
    for k, c in enumerate(("a", "b", "c")):
        out[f"m_{c}"] = m[k]
        out[f"u_{c}"] = u[k]
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(vectors=_fsem_vectors)
def test_fellegi_sunter_em_equals_sequential_mirror(spark, vectors):
    """The staged EM kernel (unsupervised m/u estimation) must equal a
    direct sequential EM BIT-FOR-BIT on arbitrary agreement-vector
    multisets: the floor-quantized posterior sums make each M-step a
    pure function of the multiset (never of row order or partition
    layout), so the distributed loop and the sequential loop walk the
    identical parameter trajectory."""
    from cooler_mapreduce_spark.operators.entity import (
        _FSEM_ITERATIONS,
        fellegi_sunter_em,
    )

    df = spark.createDataFrame(list(vectors), "a int, b int, c int")
    row = fellegi_sunter_em(df, ["a", "b", "c"]).collect()[0]
    exp = _fsem_py([list(v) for v in vectors], _FSEM_ITERATIONS)
    assert row.n_pairs == exp["n_pairs"]
    for key in ("p", "m_a", "m_b", "m_c", "u_a", "u_b", "u_c"):
        assert getattr(row, key) == exp[key], (
            key,
            getattr(row, key),
            exp[key],
        )


def test_rwr_weekly_deltas_equals_pandas_lag(spark, oracle_sf_dir):
    """STAGED r11 kernel: the node-keyed lag window over the windowed
    RWR output must equal a direct pandas groupby-shift of the SAME
    rank rows — first week per node carries NULL prev/delta, and the
    delta is the plain IEEE subtraction of the two round-12 ranks."""
    from cooler_mapreduce_spark.operators.graph import (
        rwr_weekly_deltas_frame,
        rwr_weekly_event_types,
    )

    ranks = rwr_weekly_event_types(spark, oracle_sf_dir)
    got = {
        (str(r.week), r.node): (r.rank, r.prev_rank, r.delta)
        for r in rwr_weekly_deltas_frame(ranks).collect()
    }
    pdf = ranks.toPandas().sort_values(["node", "week"])
    pdf["prev_rank"] = pdf.groupby("node")["rank"].shift(1)
    want = {}
    for t in pdf.itertuples(index=False):
        prev = None if t.prev_rank != t.prev_rank else t.prev_rank  # NaN -> None
        want[(str(t.week), t.node)] = (
            t.rank,
            prev,
            None if prev is None else t.rank - prev,
        )
    assert got == want and len(got) > 0


# ------------------------------------------------ composed bloom ----

_bloom_keys = st.lists(
    st.integers(0, 10_000_000), min_size=1, max_size=200, unique=True
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(keys=_bloom_keys)
def test_bloom_build_has_no_false_negatives(spark, keys):
    """THE bloom invariant for the composed kernel: every inserted key
    passes the probe, for ANY key set — a missed member would silently
    drop matching fact rows before the verify join, corrupting results
    (false positives only cost work; false negatives cost answers)."""
    from cooler_mapreduce_spark.operators.joins import (
        bloom_build,
        bloom_might_contain,
    )

    df = spark.createDataFrame([(k,) for k in keys], "c_custkey bigint")
    bf = bloom_build(df, "c_custkey")
    probe = (
        df.withColumnRenamed("c_custkey", "o_custkey")
        .crossJoin(F.broadcast(bf))
        .filter(bloom_might_contain("bf", "o_custkey"))
    )
    assert probe.count() == len(keys)


def test_bloom_false_positive_dies_in_verify_join(spark):
    """The prefilter's one-sided error is harmless BY CONSTRUCTION:
    hunt a deterministic false positive (a non-member key the packed
    bitmap admits — the fixed-seed hashes make the hunt reproducible),
    then run the full gate->verify pipeline and assert the FP survives
    the bloom but NOT the exact join, so the composed answer equals the
    plain join exactly."""
    from cooler_mapreduce_spark.operators.joins import (
        bloom_build,
        bloom_might_contain,
    )

    members = spark.range(1, 101).select(F.col("id").alias("c_custkey"))
    bf = bloom_build(members, "c_custkey")
    candidates = spark.range(101, 400_000).select(F.col("id").alias("o_custkey"))
    admitted = (
        candidates.crossJoin(F.broadcast(bf))
        .filter(bloom_might_contain("bf", "o_custkey"))
        .drop("bf")
    )
    fps = admitted.collect()
    # 400k non-members x 4 hashes into 2^17 bits holding 100 keys:
    # expected FPs ~ 400k * (400/131072)^4 ~ 0.003 — usually zero, so
    # only assert the kill path when the hunt finds one; the join
    # equality assertion below is unconditional either way.
    joined = admitted.join(members, admitted.o_custkey == members.c_custkey)
    assert joined.count() == 0  # every admitted non-member dies in the join
    if fps:
        assert all(r.o_custkey > 100 for r in fps)


# ------------------------------------------------ grouped RWR ----

_grwr_edges = st.lists(
    st.tuples(
        st.integers(0, 2),  # group (week)
        st.integers(0, 4),  # src
        st.integers(0, 4),  # dst
        st.integers(1, 5),  # weight
    ),
    min_size=1,
    max_size=30,
)


def _grouped_rwr_py(edges, seed, iterations, damping):
    """Same-op-order sequential replica of the grouped ``rank_walk``: per
    (group, src) out-weights, per-EDGE floor-quantized contributions
    summed as exact ints, teleport only at the seed — the weighted
    kernel's mirror with the group key widening every dict key."""
    import collections
    import math

    Q = 1_000_000_000_000_000
    outw: dict = collections.defaultdict(int)
    for g, s, d, w in edges:
        outw[(g, s)] += w
    rank = {k: (1.0 if k[1] == seed else 0.0) for k in outw}
    for _ in range(iterations):
        sums: dict = collections.defaultdict(int)
        for g, s, d, w in edges:
            if (g, s) in rank:
                c = math.floor(rank[(g, s)] * w / outw[(g, s)] * float(Q))
                sums[(g, d)] += c
        rank = {
            (g, d): ((1.0 - damping) if d == seed else 0.0)
            + damping * (float(sm) / float(Q))
            for (g, d), sm in sums.items()
            if (g, d) in outw
        }
    return rank


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(edges=_grwr_edges)
def test_grouped_rwr_equals_sequential_replica(spark, edges):
    """The grouped RWR kernel must walk the IDENTICAL per-group rank
    trajectory as a sequential replica on ANY (group, src, dst, w)
    multiset — including groups without the seed (all-zero ranks),
    dst-only nodes (dropped by the out-weight join in both), self-loops
    and duplicate edge rows. Bit-for-bit: the floor-quantized bigint
    sums make each iteration a pure function of the edge multiset."""
    from cooler_mapreduce_spark.operators.graph import (
        _DAMPING,
        _PR_ITERATIONS,
        rank_sides,
        rank_walk,
    )
    from pyspark.sql import functions as F2

    df = spark.createDataFrame(
        list(edges), "week int, src int, dst int, w int"
    )
    e, deg, _ = rank_sides(df, group=("week",), weight="w")
    seed = F2.col("node") == F2.lit(1)
    ranks = rank_walk(
        e,
        deg,
        group=("week",),
        weight="w",
        init=F2.when(seed, F2.lit(1.0)).otherwise(F2.lit(0.0)),
        teleport=F2.when(seed, F2.lit(1.0 - _DAMPING)).otherwise(F2.lit(0.0)),
    )
    got = {(r.week, r.node): r.rank for r in ranks.collect()}
    want = _grouped_rwr_py(edges, 1, _PR_ITERATIONS, _DAMPING)
    assert got == want


# ------------------------------------------------- retention audit ----------

#: rows of (orderkey, year, condemned?, retained-in-post?) — the two
#: booleans make every leg combination reachable: leaks (condemned ∧
#: retained), over-deletes (not condemned ∧ not retained), compliant
#: deletes and keeps.
_ret_rows = st.lists(
    st.tuples(
        st.integers(0, 40),
        st.integers(1995, 2000),
        st.booleans(),
        st.booleans(),
    ),
    min_size=1,
    max_size=30,
).map(lambda rows: list({r[0]: r for r in rows}.values()))


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=_ret_rows)
def test_retention_audit_matches_brute_force(spark, rows):
    """retention_audit_frame over ARBITRARY pre/post/condemned
    combinations must equal the set-algebra brute force per year — the
    property form of the hold-ignoring / lazy-slice injections (which
    pin two specific faulty jobs; this pins all of them)."""
    import datetime as dt

    from cooler_mapreduce_spark.operators.governance import retention_audit_frame

    def frame(keys):
        data = [
            (k, dt.datetime(y, 1, 15))
            for k, y, _c, _p in rows
            if k in keys
        ]
        return spark.createDataFrame(
            data, "o_orderkey long, o_orderdate timestamp_ntz"
        )

    all_keys = {k for k, _y, _c, _p in rows}
    condemned_keys = {k for k, _y, c, _p in rows if c}
    post_keys = {k for k, _y, _c, p in rows if p}
    got = {
        r["order_year"]: r
        for r in retention_audit_frame(
            frame(all_keys), frame(post_keys), frame(condemned_keys)
        ).collect()
    }
    years = {y for _k, y, _c, _p in rows}
    assert set(got) == years
    for y in years:
        keys_y = {k for k, yy, _c, _p in rows if yy == y}
        deleted = keys_y - post_keys
        assert got[y]["n_rows"] == len(keys_y)
        assert got[y]["n_condemned"] == len(keys_y & condemned_keys)
        assert got[y]["n_deleted"] == len(deleted)
        assert got[y]["n_leaked"] == len(keys_y & post_keys & condemned_keys)
        assert got[y]["n_overdeleted"] == len(deleted - condemned_keys)


# ------------------------------------------- replay convergence audit -------

#: per event: (event_id, batch_id, in-v1?, v1-value-differs?, store
#: version or absent, store-value-differs?) — covers readmits,
#: supersedes, stale keeps, and missing keys in one generator.
_replay_rows = st.lists(
    st.tuples(
        st.integers(0, 30),
        st.integers(0, 3),
        st.booleans(),
        st.booleans(),
        st.sampled_from([None, 1, 2]),
        st.booleans(),
    ),
    min_size=1,
    max_size=25,
).map(lambda rows: list({r[0]: r for r in rows}.values()))


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=_replay_rows)
def test_dq_replay_convergence_matches_brute_force(spark, rows):
    """dq_replay_convergence_frame over ARBITRARY store/v1/reference
    states must equal the brute-force per-batch counters — the
    property form of the skipped-batch / keep-first injections."""
    from cooler_mapreduce_spark.streaming.observe import dq_replay_convergence_frame

    ref = [(b, e, float(e)) for e, b, _v1, _vd, _sv, _sd in rows]
    v1 = [
        (b, e, float(e) + (10000.0 if vd else 0.0))
        for e, b, in_v1, vd, _sv, _sd in rows
        if in_v1
    ]
    store = [
        (b, e, float(e) + (20000.0 if sd else 0.0), sv)
        for e, b, _v1, _vd, sv, sd in rows
        if sv is not None
    ]
    ref_df = spark.createDataFrame(ref, "batch_id long, event_id long, value double")
    v1_df = spark.createDataFrame(v1, "batch_id long, event_id long, value double")
    store_df = spark.createDataFrame(
        store, "batch_id long, event_id long, value double, version int"
    )
    got = {
        r["batch_id"]: r
        for r in dq_replay_convergence_frame(store_df, v1_df, ref_df).collect()
    }
    v1_by_key = {e: v for _b, e, v in v1}
    ref_by_key = {e: v for _b, e, v in ref}
    batches = {b for _e, b, *_ in rows}
    assert set(got) == batches
    for bb in batches:
        keys_b = {e for e, b, *_ in rows if b == bb}
        store_b = [(e, v, sv) for b, e, v, sv in store if b == bb]
        assert got[bb]["n_rows"] == len(keys_b)
        readmit = sum(1 for e, _v, sv in store_b if sv == 2 and e not in v1_by_key)
        sup = sum(
            1
            for e, v, sv in store_b
            if sv == 2 and e in v1_by_key and v != v1_by_key[e]
        )
        stale = sum(1 for e, v, _sv in store_b if v != ref_by_key[e])
        missing = sum(1 for e in keys_b if e not in {s[0] for s in store_b})
        assert got[bb]["n_readmitted"] == readmit
        assert got[bb]["n_superseded"] == sup
        assert got[bb]["n_stale"] == stale
        assert got[bb]["n_missing"] == missing
