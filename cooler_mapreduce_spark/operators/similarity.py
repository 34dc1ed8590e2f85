"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

Every top-k query is filter/refine: a candidate generator proposes
(query, neighbor) pairs and one shared refine step ranks them. The
generators are separate functions:

- **brute force** — every corpus vector against a bounded, broadcast
  query set (the exact tier and the recall audits' reference);
- **random-hyperplane LSH** — pairs sharing a (table, bucket) sign
  pattern;
- **IVF cells** — corpus vectors in the query's ``nprobe`` nearest
  coarse-quantizer cells (k-means or label-mean centroids);
- **PQ reconstruction** and **JL projection** — all pairs, scored in the
  compressed space.

Shared steps, one function each:

- :func:`topk_refine` — the neighbor re-rank: ``row_number()`` over
  (query ORDER BY cosine DESC, neighbor ASC), keep ``rn <= k``;
- :func:`_rank_cells` — per-row cell ranking: the centroid scores sorted
  best-first in one array (argmax = element 1, probes = the first
  ``nprobe``), no shuffle; it feeds the IVF tiers, SemDeDup and the
  incremental IVF manifest;
- :func:`_salted_cell_pairs` — the salted, partition-pinned within-cell
  pair join behind SemDeDup and its incremental funnel.

Embedding arithmetic: float32 inputs are widened to float64; dot/norm
folds run left-to-right identically in Spark and the DuckDB oracle, and
the emitted cosine is rounded to 9 decimals — far above fold
reassociation noise (~1e-14), far below any meaningful similarity gap.
Ties break the same way everywhere: higher score first, then the lower
id (neighbor or cell).

Also here: near-duplicate detection by embedding cosine, label
centroids, Lloyd's k-means, PCA, and the quantization/projection
fidelity audits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..registry import query
from ..sources.catalog import table

_DIM = 64

# --- shared SQL fragments -------------------------------------------------

_SPARK_DOT = (
    "aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), CAST({b} AS ARRAY<DOUBLE>),"
    " (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_SPARK_NORM = (
    "sqrt(aggregate(CAST({a} AS ARRAY<DOUBLE>), CAST(0.0 AS DOUBLE),"
    " (acc, v) -> acc + v * v))"
)
_DUCK_DOT = (
    "list_aggregate(list_transform(generate_series(1, {dim}),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
)
_DUCK_NORM = (
    "sqrt(list_aggregate(list_transform(generate_series(1, {dim}),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), 'sum'))"
)


def spark_cosine(a: str, b: str) -> str:
    dot = _SPARK_DOT.format(a=a, b=b)
    na = _SPARK_NORM.format(a=a)
    nb = _SPARK_NORM.format(a=b)
    return f"round({dot} / ({na} * {nb}), 9)"


#: dot over pre-cast double arrays (no per-pair CAST) and cosine from
#: per-row precomputed norms — bit-identical to :func:`spark_cosine`
#: (the fold order is unchanged and IEEE multiply is commutative), but
#: each vector's norm is computed once per ROW instead of once per PAIR.
_SPARK_DOT_RAW = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def spark_cosine_prenorm(a: str, b: str, na: str, nb: str) -> str:
    return f"round({_SPARK_DOT_RAW.format(a=a, b=b)} / ({na} * {nb}), 9)"


# Measured negative result (don't re-try): unrolling the dot product to
# 64 explicit `a[i] * b[i]` terms — hoping to swap the HOF fold's
# interpreted evaluation for whole-stage codegen — was SLOWER than the
# fold on the semdedup pair kernel (1.4 s vs 0.6 s for the salted pair
# stage at sf0.1): 128 per-term getItem null checks in one giant
# expression beat the fold's single pass over both arrays. The fold is
# the right spelling for array kernels; the HOF cost that mattered in
# SCALING.md's minhash episode was JIT warm-up, not steady-state.


def _embeddings_normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings with the vector pre-cast to double and its norm."""
    return table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("emb_d"),
    ).withColumn("nrm", F.expr(_SPARK_NORM.format(a="emb_d")))


def duckdb_cosine(a: str, b: str, dim: int = _DIM) -> str:
    dot = _DUCK_DOT.format(a=a, b=b, dim=dim)
    na = _DUCK_NORM.format(a=a, dim=dim)
    nb = _DUCK_NORM.format(a=b, dim=dim)
    return f"round({dot} / ({na} * {nb}), 9)"


_N_QUERIES = 8
_TOP_K = 10


#: exact cosine of a candidate pair: query side against corpus side, both
#: pre-cast with per-row norms
_PAIR_COSINE = spark_cosine_prenorm("q_emb", "emb_d", "q_nrm", "nrm")


def _query_side(e: DataFrame, *extra: Column) -> DataFrame:
    """The bounded query set (the first ``_N_QUERIES`` vectors of ``e``)
    renamed for the candidate join: query_id, q_emb, q_nrm, ``extra``."""
    return e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb_d").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        *extra,
    )


def topk_refine(pairs: DataFrame, cosine: str = _PAIR_COSINE) -> DataFrame:
    """The family's one re-rank step: score candidate (query_id, vec_id)
    pairs by the exact ``cosine`` and keep every query's top ``_TOP_K``
    by (cosine DESC, neighbor_id ASC) — ``row_number()`` over that
    order, then ``rn <= k``; a query with fewer candidates keeps them
    all. Output (query_id, neighbor_id, cosine). Spark plans the pair as
    a ``WindowGroupLimit`` under the window, so each partition ranks a
    bounded heap per query."""
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), F.expr(cosine).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= _TOP_K).drop("rn")


def _duck_topk(scored: str, cols: str = "query_id, neighbor_id") -> str:
    """DuckDB twin of :func:`topk_refine`'s rank: ``scored``'s top ``_TOP_K``
    rows per query_id by (cosine DESC, neighbor_id)."""
    return f"""SELECT {cols} FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, neighbor_id) AS rn
            FROM {scored}
        ) WHERE rn <= {_TOP_K}"""


@query(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               {duckdb_cosine('q.embedding', 'e.embedding')} AS cosine
        FROM q JOIN embeddings e ON e.vec_id != q.vec_id
    )
    {_duck_topk('scored', 'query_id, neighbor_id, cosine')}
    """,
    tags=("similarity", "ann", "llm-pipeline"),
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for 8 query vectors.

    The query set is broadcast (tiny); the corpus side computes one fused
    scan → cosine → per-query top-k (window + filter ⇒ rank pruned while
    streaming). Corpus never shuffles; the only wide op is the final
    per-query ranking over |queries| × |corpus| scored rows, bounded by
    the broadcast factor.
    """
    e = _embeddings_normed(spark, sf_dir)
    return topk_refine(e.join(F.broadcast(_query_side(e)), F.col("vec_id") != F.col("query_id")))


# --- LSH tier -------------------------------------------------------------

import random as _random

_rng = _random.Random(7)
#: Multi-table LSH: L tables of P planes each. For random-hyperplane LSH
#: the per-table collision probability of a pair at angle θ is
#: (1 − θ/π)^P; with the modest neighbor cosines of un-clustered data
#: (~0.35 ⇒ θ≈70°) that is ~0.23 per 3-plane table, and 8 tables lift
#: recall to ~0.88. More planes/table shrinks buckets (less work, lower
#: recall); more tables buys recall linearly in shuffle volume.
_N_TABLES = 8
_N_PLANES = 3
_PLANES = [
    [[_rng.uniform(-1.0, 1.0) for _ in range(_DIM)] for _ in range(_N_PLANES)]
    for _ in range(_N_TABLES)
]


def _buckets_expr(emb: str) -> str:
    """Array of per-table struct(table_id, bucket) — sign patterns of the
    embedding against each table's hyperplanes (pure Catalyst, no Python
    per row)."""
    entries = []
    for t, planes in enumerate(_PLANES):
        bits = []
        for j, plane in enumerate(planes):
            arr = f"array({', '.join(f'CAST({v!r} AS DOUBLE)' for v in plane)})"
            dot = _SPARK_DOT.format(a=emb, b=arr)
            bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
        entries.append(f"struct({t} AS table_id, {' + '.join(bits)} AS bucket)")
    return f"array({', '.join(entries)})"


@query(
    "ann_topk_lsh",
    oracle=None,  # LSH recall is probabilistic by design; the exact
    # counterpart is ann_topk_bruteforce and tests pin recall@10 ≥ 0.6.
    tags=("similarity", "ann", "lsh", "llm-pipeline"),
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 neighbors via multi-table random-hyperplane LSH.

    Each vector lands in one bucket per table; candidates share a
    (table, bucket) cell with the query — an equi-join on an int pair,
    shuffle O(corpus × tables), never O(corpus²) — then distinct pairs
    are re-ranked by exact cosine.
    """
    e = _embeddings_normed(spark, sf_dir).select(
        "vec_id",
        "emb_d",
        "nrm",
        F.explode(F.expr(_buckets_expr("emb_d"))).alias("tb"),
    ).select("vec_id", "emb_d", "nrm", "tb.table_id", "tb.bucket")
    q = _query_side(e, F.col("table_id").alias("q_table_id"), F.col("bucket").alias("q_bucket"))
    # Dedup candidate pairs on the ID pair, not on the full row
    # (optimization round 11, guide §2.3 "shuffle keys and metadata
    # instead of payloads"): (query_id, vec_id) determines every payload
    # column (each id has one embedding/norm), so dropDuplicates on the
    # two bigints is the same row set as the old full-row DISTINCT — but
    # the dedup exchange now hashes/compares 16 bytes of keys per row
    # instead of grouping on four array/double payload columns.
    cand = (
        e.join(
            F.broadcast(q),
            (F.col("table_id") == F.col("q_table_id"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", "q_emb", "q_nrm", "emb_d", "nrm")
        .dropDuplicates(["query_id", "vec_id"])
    )
    return topk_refine(cand)


# --- IVF tier -------------------------------------------------------------

_IVF_CELLS = 16
_IVF_NPROBE = 6

#: fitted coarse-quantizer centroids per dataset dir (k × dim floats).
_CENTROID_CACHE: dict[str, list] = {}


def _fit_centroids(spark: SparkSession, sf_dir: str) -> list:
    """Coarse quantizer fit: distributed k-means (seeded — the fit is an
    offline model-training step; at 100 TB it runs on a sample)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        array_to_vector(F.expr("CAST(embedding AS ARRAY<DOUBLE>)")).alias("features"),
    )
    model = KMeans(k=_IVF_CELLS, seed=42, maxIter=20).fit(feats)
    return [list(c) for c in model.clusterCenters()]


def _dots_expr(emb: str, centroids: list[list[float]]) -> str:
    """array<struct(cell, score)>: the dot of ``emb`` with each unit
    centroid, cell = the centroid's index (centroid norms folded into the
    literals — centroids are model constants)."""
    scored = []
    for cell, c in enumerate(centroids):
        nrm = sum(v * v for v in c) ** 0.5 or 1.0
        unit = [v / nrm for v in c]
        arr = f"array({', '.join(f'CAST({v!r} AS DOUBLE)' for v in unit)})"
        scored.append(f"struct({cell} AS cell, {_SPARK_DOT.format(a=emb, b=arr)} AS score)")
    return f"array({', '.join(scored)})"


def _rank_cells(structs: str) -> Column:
    """Per-row cell ranking: ``structs`` (array<struct(cell, score)>)
    sorted best-first as struct(ns = -score, cell, score) — score DESC,
    then the lower cell id, the ``ORDER BY score DESC, cell`` the DuckDB
    oracles spell. Element 1 is the argmax cell and the first ``nprobe``
    elements are the probes. The sort runs inside the scan stage; a
    window over exploded (vector, cell) rows would instead shuffle every
    vector once per cell, embedding and all."""
    return F.expr(
        f"array_sort(transform({structs}, s -> struct(-s.score AS ns, s.cell AS cell, s.score AS score)))"
    )


def _ivf_candidates(e: DataFrame, structs: str, nprobe: int) -> DataFrame:
    """IVF candidate generator: every corpus vector of ``e`` (vec_id,
    emb_d, nrm) sits in its argmax cell, each query probes its ``nprobe``
    best cells, and a candidate is a (query, vector) pair sharing a
    probed cell. A vector has one cell and a query's probes are distinct
    cells, so each pair appears once."""
    ranked = e.withColumn("cells", _rank_cells(structs))
    # the argmax is never null (every row ranks every cell); a nullable
    # cell makes the join infer isnotnull(cell), and that filter is
    # pushed below the scan's fan-out exchange, re-ranking the whole
    # corpus in a single task
    argmax = F.coalesce(F.element_at("cells", 1)["cell"], F.lit(-1))
    corpus = ranked.select("vec_id", "emb_d", "nrm", argmax.alias("cell"))
    q = _query_side(ranked, F.explode(F.slice("cells", 1, nprobe)["cell"]).alias("cell"))
    return corpus.join(F.broadcast(q), "cell").filter(F.col("vec_id") != F.col("query_id"))


@query(
    "ann_topk_ivf",
    oracle=None,  # probabilistic recall by design, like ann_topk_lsh;
    # tests pin recall@10 against ann_topk_bruteforce.
    tags=("similarity", "ann", "ivf", "llm-pipeline"),
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 neighbors via IVF (inverted-file) cells.

    A coarse quantizer assigns every vector to its nearest centroid cell
    (one scan, no shuffle — centroids are broadcast literals); each query
    probes its ``nprobe`` nearest cells and re-ranks candidates by exact
    cosine. Shuffle volume is O(corpus) for cell assignment + the probed
    fraction for scoring — never O(corpus²).

    Centroids come from a seeded distributed k-means fit
    (:func:`_fit_centroids` — ``pyspark.ml`` KMeans, k=16, cached per
    dataset like any model artifact), collected to the driver as k × dim
    literals. At 100 TB the fit runs offline on a sample; this plan is
    unchanged, only the literals differ.
    """
    cents = _CENTROID_CACHE.get(sf_dir)
    if cents is None:
        # cache like any fitted-model artifact (seeded fit, static table)
        cents = _fit_centroids(spark, sf_dir)
        _CENTROID_CACHE[sf_dir] = cents
    e = _embeddings_normed(spark, sf_dir)
    return topk_refine(_ivf_candidates(e, _dots_expr("emb_d", cents), _IVF_NPROBE))


_DUP_COS = duckdb_cosine("a.embedding", "b.embedding")
_DUP_THR = 0.45


# --- in-engine recall audits ---------------------------------------------
#
# The approximate tiers (LSH / IVF) are probabilistic, so their top-k
# output has no SQL oracle — but their *recall against the exact tier* is
# a deterministic number once the planes/centroids are pinned. These
# audits compute recall@10 end-to-end inside the engine and oracle the
# whole computation in DuckDB (which re-derives the same buckets / cells
# from the same literals), giving the ANN family a hash-checked driver row.


def _duck_planes_values() -> str:
    """The seeded hyperplane literals as DuckDB VALUES rows
    (table_id, plane_idx, plane) — same floats as :data:`_PLANES`."""
    rows = []
    for t, planes in enumerate(_PLANES):
        for j, plane in enumerate(planes):
            lst = ", ".join(repr(v) for v in plane)
            rows.append(f"({t}, {j}, CAST([{lst}] AS DOUBLE[]))")
    return ",\n        ".join(rows)


_DUCK_BF_TOPK = f"""
    bf_scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               {duckdb_cosine('q.embedding', 'e.embedding')} AS cosine
        FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ),
    bf_topk AS ({_duck_topk('bf_scored')})"""

#: exact cosine of every pair in a ``cand(query_id, neighbor_id)`` CTE
_DUCK_CAND_SCORED = f"""scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               {duckdb_cosine('qe.embedding', 'ce.embedding')} AS cosine
        FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
                  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
    )"""


def _duck_recall(ctes: str) -> str:
    """Recall-audit oracle: ``ctes`` define ``scored`` (query_id,
    neighbor_id, cosine) for the approximate tier, whose top-k is matched
    against the exact tier's — one (query_id, hits, recall) row per query."""
    return f"""
    WITH {ctes},
    approx_topk AS ({_duck_topk('scored')}),{_DUCK_BF_TOPK}
    SELECT b.query_id, COUNT(l.neighbor_id) AS hits,
           CAST(COUNT(l.neighbor_id) AS DOUBLE) / {_TOP_K}.0 AS recall
    FROM bf_topk b LEFT JOIN approx_topk l
      ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
    GROUP BY b.query_id
    """


def _recall_df(bf: DataFrame, approx: DataFrame) -> DataFrame:
    """recall@k join: fraction of the exact top-k found by the
    approximate tier, one row per query."""
    ap = approx.select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    return (
        bf.select("query_id", "neighbor_id")
        # both sides are O(queries × k) rows; broadcast the probe side so
        # the audit join never plans a sort-merge over two tiny frames
        .join(F.broadcast(ap), (F.col("query_id") == F.col("aq")) & (F.col("neighbor_id") == F.col("an")), "left")
        .groupBy("query_id")
        .agg(
            F.count("an").alias("hits"),
            (F.count("an").cast("double") / F.lit(float(_TOP_K))).alias("recall"),
        )
    )


@query(
    "ann_recall_lsh",
    oracle=_duck_recall(f"""planes(table_id, j, p) AS (VALUES
        {_duck_planes_values()}),
    bits AS (
        SELECT e.vec_id, pl.table_id,
               CASE WHEN list_aggregate(list_transform(generate_series(1, {_DIM}),
                        i -> CAST(e.embedding[i] AS DOUBLE) * pl.p[i]), 'sum') > 0
                    THEN (1 << pl.j) ELSE 0 END AS bit
        FROM embeddings e, planes pl
    ),
    buckets AS (
        SELECT vec_id, table_id, SUM(bit) AS bucket
        FROM bits GROUP BY vec_id, table_id
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM buckets q JOIN buckets c
          ON q.table_id = c.table_id AND q.bucket = c.bucket
        WHERE q.vec_id < {_N_QUERIES} AND c.vec_id != q.vec_id
    ),
    {_DUCK_CAND_SCORED}"""),
    tags=("similarity", "ann", "lsh", "audit", "llm-pipeline"),
)
def ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the LSH tier against the exact tier, computed
    in-engine — (query_id, hits, recall), one row per query vector.

    Both tiers run as registered (same seeded planes, same tie-breaks);
    the DuckDB oracle re-derives the sign-pattern buckets from the same
    plane literals, so the audit is hash-checkable end-to-end even though
    the LSH top-k itself is probabilistic. This is the production
    recall-regression gate: run it after any plane/table retune and
    compare the recall column, no offline harness needed.
    """
    return _recall_df(
        ann_topk_bruteforce(spark, sf_dir), ann_topk_lsh(spark, sf_dir)
    )


_IVF_LM_NPROBE = 4

#: label-mean centroids per dataset dir (offline quantizer fit, cached
#: like any model artifact — same pattern as :data:`_CENTROID_CACHE`).
_LM_CENT_CACHE: dict[str, list] = {}


def _labelmean_centroids(spark: SparkSession, sf_dir: str) -> list:
    """Per-label mean vectors in the bit-stable fixed-point arithmetic of
    :func:`embedding_centroids_by_label` (floor(val·2³⁰) summed as
    integers) — the SQL-expressible coarse-quantizer fit, so a DuckDB
    oracle can re-derive the exact same centroid doubles from the data.
    The collect is the offline model-fit step (O(labels × dim) rows)."""
    cents = _LM_CENT_CACHE.get(sf_dir)
    if cents is not None:
        return cents
    cents = _labelmean_centroids_frame(table(spark, sf_dir, "embeddings"))
    _LM_CENT_CACHE[sf_dir] = cents
    return cents


def _cell_score_structs(cents: list) -> str:
    """array<struct(cell, score)> — round(cos(emb_d, centroid), 9) per
    cell, centroids as literal arrays (their norms constant-fold)."""
    entries = []
    for cell, c in cents:
        arr = f"array({', '.join(f'CAST({v!r} AS DOUBLE)' for v in c)})"
        dot = _SPARK_DOT_RAW.format(a="emb_d", b=arr)
        nc = _SPARK_NORM.format(a=arr)
        entries.append(
            f"struct({cell} AS cell, round({dot} / (nrm * {nc}), 9) AS score)"
        )
    return f"array({', '.join(entries)})"


def _duck_lm_fit(where: str = "") -> str:
    """DuckDB CTEs el → means → cents(cell, c): the fixed-point label-mean
    fit (:func:`_labelmean_centroids_frame`) over the embeddings rows
    that pass ``where``."""
    return f"""el AS (
        SELECT label, u.idx, CAST(u.val AS DOUBLE) AS val
        FROM embeddings,
             LATERAL (SELECT unnest(embedding) AS val,
                             generate_subscripts(embedding, 1) AS idx) u
        {where}
    ),
    means AS (
        SELECT label, idx,
               CAST(SUM(CAST(floor(val * 1073741824.0) AS BIGINT)) AS DOUBLE)
                   / 1073741824.0 / COUNT(*) AS m
        FROM el GROUP BY label, idx
    ),
    cents AS (
        SELECT label AS cell, list(m ORDER BY idx) AS c FROM means GROUP BY label
    )"""


def _duck_lm_ranked(where: str = "") -> str:
    """:func:`_duck_lm_fit` plus every vector's cells ranked as
    :func:`_rank_cells` ranks them — lm_ranked(vec_id, label, cell,
    score, rn), rn = 1 the argmax cell."""
    return f"""{_duck_lm_fit(where)},
    cnorm AS (
        SELECT cell, c,
               sqrt(list_aggregate(list_transform(generate_series(1, {_DIM}),
                    i -> c[i] * c[i]), 'sum')) AS nc
        FROM cents
    ),
    cell_scores AS (
        SELECT e.vec_id, e.label, k.cell,
               round(list_aggregate(list_transform(generate_series(1, {_DIM}),
                         i -> CAST(e.embedding[i] AS DOUBLE) * k.c[i]), 'sum')
                     / ({_DUCK_NORM.format(a='e.embedding', dim=_DIM)} * k.nc), 9) AS score
        FROM embeddings e, cnorm k
    ),
    lm_ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY score DESC, cell) AS rn
        FROM cell_scores
    )"""


#: the label-mean chain ending with each vector's cell assignment, which
#: RETAINS the centroid-similarity score — SemDeDup's keep-priority key.
_DUCK_LM_ASSIGNED = f"""{_duck_lm_ranked()},
    lm_assigned AS (SELECT vec_id, cell, score FROM lm_ranked WHERE rn = 1)"""


@query(
    "ann_recall_ivf",
    oracle=_duck_recall(f"""{_DUCK_LM_ASSIGNED},
    probed AS (
        SELECT vec_id AS query_id, cell FROM lm_ranked
        WHERE rn <= {_IVF_LM_NPROBE} AND vec_id < {_N_QUERIES}
    ),
    cand AS (
        SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        FROM probed p JOIN lm_assigned a ON p.cell = a.cell
        WHERE a.vec_id != p.query_id
    ),
    {_DUCK_CAND_SCORED}"""),
    tags=("similarity", "ann", "ivf", "audit", "llm-pipeline"),
)
def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of an IVF tier against the exact tier, in-engine.

    The coarse quantizer here is the *label-mean* fit (fixed-point
    per-label centroids — :func:`_labelmean_centroids`) rather than the
    k-means fit of :func:`ann_topk_ivf`: k-means iterations aren't
    SQL-expressible, label means are, so this variant's entire
    cell-assign → nprobe-probe → re-rank → recall computation has a
    DuckDB oracle. The IVF plumbing audited (:func:`_ivf_candidates`:
    cell argmax, nprobe expansion, candidate join; then the exact
    re-rank) is the same code the k-means tier runs, whose recall
    stays pinned in pytest.
    """
    e = _embeddings_normed(spark, sf_dir)
    structs = _cell_score_structs(_labelmean_centroids(spark, sf_dir))
    approx = topk_refine(_ivf_candidates(e, structs, _IVF_LM_NPROBE))
    return _recall_df(ann_topk_bruteforce(spark, sf_dir), approx)


@query(
    "embedding_cosine_dups",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_DUP_COS} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_DUP_COS} >= {_DUP_THR}
    """,
    tags=("dedup", "similarity", "embedding", "llm-pipeline"),
)
def embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-duplicates: embedding pairs with cosine ≥ 0.45.

    The threshold is a literal in the plan; 0.45 sits where this
    fixture's similarity mass lives (its max pairwise cosine is ~0.5 —
    weak clusters by construction), so the operator's positive path is
    exercised and oracle-checked; a production corpus with true
    near-dups runs the same plan at ≥0.9. All-pairs at test scale (the
    oracle must be exact); the plan still avoids a shuffle by
    broadcasting one side. At 100 TB swap the broadcast cross for the
    LSH bucket join below — same verification predicate, candidate
    generation changes.
    """
    e = _embeddings_normed(spark, sf_dir)
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("emb_d").alias("emb_a"), F.col("nrm").alias("nrm_a")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("emb_d").alias("emb_b"), F.col("nrm").alias("nrm_b")
    )
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.expr(spark_cosine_prenorm("emb_a", "emb_b", "nrm_a", "nrm_b")).alias("cosine"),
        )
        .filter(F.col("cosine") >= _DUP_THR)
    )


@query(
    "embedding_cosine_dups_lsh",
    oracle=None,  # candidate recall is probabilistic; tests pin coverage
    # of the exact all-pairs result (near-identical vectors share sign
    # patterns with probability ~(1 - theta/pi)^P per table, theta -> 0)
    tags=("dedup", "similarity", "embedding", "lsh", "llm-pipeline"),
)
def embedding_cosine_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of :func:`embedding_cosine_dups`: candidate pairs
    from the multi-table hyperplane buckets (bucket-local pair
    generation — one scan, shuffle O(corpus × tables)), verified by the
    SAME exact-cosine threshold predicate. At production near-dup
    thresholds (≥0.9, θ→0) pairs collide in ~every table and recall ≈ 1;
    at this fixture's 0.45 threshold (θ≈63°, per-table collision
    (1−θ/π)³ ≈ 0.27, 8 tables → ~0.92) the test pins coverage of the
    exact result accordingly. The all-pairs product never exists."""
    e = _embeddings_normed(spark, sf_dir)
    bucketed = e.select(
        "vec_id",
        "emb_d",
        "nrm",
        F.explode(F.expr(_buckets_expr("emb_d"))).alias("tb"),
    ).select("vec_id", "emb_d", "nrm", F.col("tb.table_id").alias("t"), F.col("tb.bucket").alias("b"))
    cand = (
        bucketed.groupBy("t", "b")
        .agg(F.collect_list(F.struct("vec_id", "emb_d", "nrm")).alias("vs"))
        .filter(F.size("vs") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(vs, (x, i) ->"
                    " transform(filter(vs, y -> y.vec_id > x.vec_id),"
                    " y -> struct(x.vec_id AS vec_a, y.vec_id AS vec_b,"
                    " x.emb_d AS emb_a, y.emb_d AS emb_b,"
                    " x.nrm AS nrm_a, y.nrm AS nrm_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return cand.select(
        "vec_a",
        "vec_b",
        F.expr(spark_cosine_prenorm("emb_a", "emb_b", "nrm_a", "nrm_b")).alias("cosine"),
    ).filter(F.col("cosine") >= _DUP_THR)


@query(
    "embedding_centroids_by_label",
    oracle=f"""
    WITH el AS (
        SELECT label, u.idx, u.val
        FROM embeddings,
             LATERAL (SELECT unnest(embedding) AS val,
                             generate_subscripts(embedding, 1) AS idx) u
    )
    SELECT label, idx,
           CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 1073741824.0) AS BIGINT)) AS DOUBLE)
               / 1073741824.0 / COUNT(*) AS mean_val
    FROM el GROUP BY label, idx
    """,
    tags=("embedding", "centroid", "llm-pipeline"),
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class mean vector (label centroids) — the reduction behind
    nearest-class-mean classifiers, cluster summaries, and IVF coarse
    quantizers.

    posexplode flattens (vector, dim) → one row per element, so the mean
    is an ordinary partial-aggregable groupBy on (label, dim): the
    shuffle carries 64 running sums per label per task, never raw
    vectors. Element sums use BINARY fixed-point — floor(val * 2^30)
    summed as integers, divided back after — because decimal
    fixed-point is a trap here: float32 values are dyadic rationals
    that frequently land EXACTLY on decimal rounding boundaries
    (e.g. -0.27392578125 at scale 1e-10), where DuckDB rounds
    half-even and Spark half-up. Multiplying by a power of two is
    exact in IEEE double and floor is tie-free, so the integer sum is
    order-independent and bit-identical in both engines at any
    partition count (quantization error ≤ 2^-30 per element is part
    of the operator's definition). The centroid is emitted in long
    form — one (label, idx, mean_val) row per dimension, every cell a
    hashable scalar — rather than re-packed into an array column; a
    downstream consumer that wants vectors rebuilds them with one
    collect_list over idx order.
    """
    emb = table(spark, sf_dir, "embeddings")
    el = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select("label", (F.col("pos0") + 1).alias("idx"), "val")  # 1-based like SQL subscripts
    q = F.floor(F.col("val").cast("double") * F.lit(1073741824.0))
    return el.groupBy("label", "idx").agg(
        (F.sum(q).cast("double") / F.lit(1073741824.0) / F.count("*")).alias("mean_val")
    )


@query(
    "embedding_cluster_compactness",
    oracle="""
    WITH el AS (
        SELECT label, vec_id, u.idx, CAST(u.val AS DOUBLE) AS val
        FROM embeddings,
             LATERAL (SELECT unnest(embedding) AS val,
                             generate_subscripts(embedding, 1) AS idx) u
    ),
    means AS (
        SELECT label, idx,
               CAST(SUM(CAST(floor(val * 1073741824.0) AS BIGINT)) AS DOUBLE)
                   / 1073741824.0 / COUNT(*) AS mean_val
        FROM el GROUP BY label, idx
    )
    SELECT el.label,
           COUNT(DISTINCT el.vec_id) AS n_vectors,
           CAST(SUM(CAST(floor((el.val - m.mean_val) * (el.val - m.mean_val)
                               * 1099511627776.0) AS BIGINT)) AS DOUBLE)
               / 1099511627776.0 / COUNT(DISTINCT el.vec_id) AS mean_sq_dist
    FROM el JOIN means m ON el.label = m.label AND el.idx = m.idx
    GROUP BY el.label
    """,
    tags=("embedding", "clustering", "llm-pipeline"),
)
def embedding_cluster_compactness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cluster compactness: mean squared distance of each label's
    vectors to their own centroid — the embedding-quality/drift metric
    (a label whose compactness degrades between snapshots signals noisy
    data or a collapsing class).  Pass 1 is the centroid aggregate of
    :func:`embedding_centroids_by_label`; pass 2 broadcasts the
    O(labels × dims) means back and accumulates squared deviations in
    the same BINARY fixed-point (floor(diff² · 2⁴⁰) summed through
    decimal — ×2^k is exact in IEEE, floor is tie-free, so the sum is
    order-independent at any partition count; see the centroid
    docstring for why decimal staging would NOT be safe on dyadic
    float32 values).  The fact side never re-shuffles: explode, join
    broadcast, one partial-aggregated rollup per label.
    """
    emb = table(spark, sf_dir, "embeddings")
    el = emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("idx", "val")
    ).withColumn("val", F.col("val").cast("double"))
    q = F.floor(F.col("val") * F.lit(1073741824.0))
    means = el.groupBy("label", "idx").agg(
        (F.sum(q).cast("double") / F.lit(1073741824.0) / F.count("*")).alias("mean_val")
    )
    diff = F.col("val") - F.col("mean_val")
    e = F.floor(diff * diff * F.lit(1099511627776.0)).cast("decimal(24,0)")
    return (
        el.join(F.broadcast(means), ["label", "idx"])
        .groupBy("label")
        .agg(
            F.countDistinct("vec_id").alias("n_vectors"),
            (
                F.sum(e).cast("double") / F.lit(1099511627776.0)
                / F.countDistinct("vec_id")
            ).alias("mean_sq_dist"),
        )
    )


_KM_K = 8
_KM_ROUNDS = 5


def _km_sqdist(emb: str, c: list[float]) -> str:
    """Squared L2 distance of ``emb`` (cast to double) against a literal
    centroid — a sequential left fold, so the summation order is fixed
    and the value is bit-identical in any engine that folds in order."""
    arr = f"array({', '.join(f'CAST({v!r} AS DOUBLE)' for v in c)})"
    return (
        f"aggregate(zip_with(CAST({emb} AS ARRAY<DOUBLE>), {arr},"
        " (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def kmeans_lloyd_frame(
    spark: SparkSession, sf_dir: str, k: int = _KM_K, rounds: int = _KM_ROUNDS
) -> tuple[DataFrame, list[list[float]]]:
    """In-engine Lloyd's k-means over the embeddings table — iterative
    ML training expressed as dataflow (assign = broadcast-literal
    argmin scan, update = partial-aggregable per-dimension mean), the
    third iterative tier beside PageRank and BPE. Unlike the IVF coarse
    quantizer (a pyspark.ml model FIT, an offline library call cached
    as literals), this one is the engine's own DataFrame loop, fully
    deterministic and pinned against a pure-Python reference.

    Per round: centroids ride the plan as literals (O(k·dim) driver
    traffic per round — the bounded model-state budget, same as the IVF
    fit); every vector computes k sequential-fold squared distances and
    takes the FIRST argmin (tie-break: lowest centroid index); the
    update posexplodes assigned vectors and re-averages per (cluster,
    dimension) with decimal-staged sums (scale 12), so the new
    centroids are bit-identical at any partition count. Initialization
    is the k lowest-vec_id vectors — deterministic, no RNG.

    Scale: the corpus is scanned once per round with NO shuffle on the
    assign side (centroid literals broadcast in the plan); the update
    shuffle carries O(k × dim) partial sums regardless of corpus size.

    Returns (assignment frame [vec_id, cluster], final centroids).
    """
    from ..functions.numeric import davg

    emb = table(spark, sf_dir, "embeddings")
    seeds = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("c"))
        .collect()
    )
    centroids = [list(r.c) for r in seeds]
    assigned = None
    for _ in range(rounds):
        dists = f"array({', '.join(_km_sqdist('embedding', c) for c in centroids)})"
        assigned = emb.select(
            "vec_id",
            "embedding",
            (F.expr(f"array_position(({dists}), array_min({dists}))") - 1)
            .cast("int")
            .alias("cluster"),
        )
        new = (
            assigned.select(
                "cluster",
                F.posexplode(F.expr("CAST(embedding AS ARRAY<DOUBLE>)")).alias(
                    "pos", "v"
                ),
            )
            .groupBy("cluster", "pos")
            .agg(davg("v", 12).alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cluster", F.expr("transform(pm, s -> s.m)").alias("c"))
            .orderBy("cluster")
            .collect()
        )
        # empty clusters keep their previous centroid (deterministic)
        for r in new:
            centroids[r.cluster] = list(r.c)
    return assigned.select("vec_id", "cluster"), centroids


@query(
    "kmeans_embedding_clusters",
    oracle=None,  # iterative argmin/re-mean loop — not one SQL expression;
    # the test pins assignments AND final centroids against a pure-Python
    # reference running the identical quantized algorithm.
    tags=("similarity", "iterative", "ml", "llm-pipeline"),
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of :func:`kmeans_lloyd_frame`: cluster sizes and
    the final centroid norms (rounded to 9 decimals), one row per
    non-empty cluster."""
    assigned, centroids = kmeans_lloyd_frame(spark, sf_dir)
    sizes = assigned.groupBy("cluster").agg(F.count("*").alias("n_members"))
    norms = [
        (j, round(sum(v * v for v in c) ** 0.5, 9)) for j, c in enumerate(centroids)
    ]
    norm_df = spark.createDataFrame(norms, schema="cluster INT, centroid_norm DOUBLE")
    return sizes.join(norm_df, "cluster").select("cluster", "n_members", "centroid_norm")


_PCA_ROUNDS = 8


def _arr_lit(vals: list[float]) -> str:
    """SQL literal array<double> — repr() round-trips exact bits."""
    return "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")"


def pca_power_frame(
    spark: SparkSession, sf_dir: str, rounds: int = _PCA_ROUNDS
) -> tuple[list[float], list[float], float, float]:
    """Top principal component of the embeddings by distributed power
    iteration — the fourth iterative tier (PageRank / BPE / k-means /
    PCA), again as the engine's own DataFrame loop, not a library fit.

    Per round the unit vector v rides the plan as a literal (O(dim)
    driver traffic — the bounded model-state budget): each row folds
    s = (x−μ)·v with a sequential-order HOF aggregate (no codegen but
    fixed evaluation order), then the matrix-vector product
    w = Σᵢ sᵢ(xᵢ−μ) posexplodes into (dim, term) rows and re-sums
    per dimension with decimal-staged sums (scale 12) — one keyed
    shuffle of O(dim) groups per round regardless of corpus size, the
    k-means update shape exactly. Normalization (and the deterministic
    sign fix: the largest-|loading| dimension is made positive) happens
    on the collected O(dim) vector in the driver. μ itself is one
    posexplode + decimal-mean pass.

    Returns (mu, loadings, eigenvalue_of_scatter, total_scatter) —
    eigenvalue is the Rayleigh estimate ‖Cv‖ of the scatter matrix
    C = Σ(x−μ)(x−μ)ᵀ; divide both by (n−1) for covariance units.

    Test pin: a NumPy replica of the IDENTICAL algorithm (same start,
    same round count, float64) must agree to ≤1e-6 — the k-means
    convention; the data's eigengap is far too small for an
    exact-eigenvector comparison to be meaningful at 8 rounds.
    """
    from ..functions.numeric import davg, dsum

    emb = table(spark, sf_dir, "embeddings").select(
        F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("x")
    )
    mu_rows = (
        emb.select(F.posexplode("x").alias("pos", "v"))
        .groupBy("pos")
        .agg(davg("v", 12).alias("m"))
        .orderBy("pos")
        .collect()
    )
    mu = [float(r.m) for r in mu_rows]
    dim = len(mu)
    v = [1.0] + [0.0] * (dim - 1)
    w = v
    for _ in range(rounds):
        centered = f"zip_with(x, {_arr_lit(mu)}, (a, b) -> a - b)"
        s = (
            f"aggregate(zip_with({centered}, {_arr_lit(v)}, (a, b) -> a * b),"
            f" CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
        )
        w_rows = (
            emb.select(
                F.expr(s).alias("s"), F.posexplode(F.expr(centered)).alias("pos", "cv")
            )
            .groupBy("pos")
            .agg(dsum(F.col("s") * F.col("cv"), 12).alias("w"))
            .orderBy("pos")
            .collect()
        )
        w = [float(r.w) for r in w_rows]
        norm = sum(c * c for c in w) ** 0.5
        v = [c / norm for c in w]
    # deterministic sign: largest-|loading| dimension positive (lowest
    # dim wins ties)
    pivot = max(range(dim), key=lambda i: (abs(v[i]), -i))
    if v[pivot] < 0:
        v = [-c for c in v]
    eigenvalue = sum(c * c for c in w) ** 0.5
    centered = f"zip_with(x, {_arr_lit(mu)}, (a, b) -> a - b)"
    sq = f"aggregate({centered}, CAST(0.0 AS DOUBLE), (acc, t) -> acc + t * t)"
    total = float(
        emb.select(F.expr(sq).alias("q")).agg(dsum("q", 9).alias("t")).collect()[0].t
    )
    return mu, v, eigenvalue, total


@query(
    "pca_power_embeddings",
    oracle=None,  # iterative matrix-vector loop — not one SQL expression;
    # pinned against a NumPy replica of the identical algorithm (same
    # start vector, same round count) in tests/test_llm_ops.py.
    tags=("similarity", "iterative", "ml", "llm-pipeline"),
)
def pca_power_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of :func:`pca_power_frame`: one row per dimension
    with the column mean and PC-1 loading (rounded to 9 decimals), plus
    the scatter-matrix Rayleigh eigenvalue and the explained-variance
    share as constant columns."""
    mu, v, eig, total = pca_power_frame(spark, sf_dir)
    rows = [
        (i, round(m, 9), round(c, 9), round(eig, 6), round(eig / total, 9))
        for i, (m, c) in enumerate(zip(mu, v))
    ]
    return spark.createDataFrame(
        rows,
        schema="dim INT, mu DOUBLE, loading DOUBLE, eigenvalue DOUBLE, explained_share DOUBLE",
    )


#: shared quantized-sum fragment: floor at 2^-20 before the exact decimal
#: sum (the engine's double→decimal convention), one string, both engines.
_QS = ("CAST(SUM(CAST(FLOOR(({t}) * 1048576.0) AS DECIMAL(38,0))) AS DOUBLE)"
       " / 1048576.0")

_QUANT_COS = (
    "round(sxd / nullif(sqrt(sxx * sdd), 0.0), 12)"
)


@query(
    "embedding_quantize_fidelity",
    oracle=f"""
    WITH pos AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               unnest(generate_series(1, len(embedding))) AS p
        FROM embeddings
    ),
    stats AS (SELECT p, MIN(x) AS mn, MAX(x) AS mx FROM pos GROUP BY p),
    dq AS (
        SELECT vec_id, x,
               CASE WHEN mx > mn
                    THEN mn + (least(floor((x - mn) / (mx - mn) * 256.0), 255.0)
                               + 0.5) * ((mx - mn) / 256.0)
                    ELSE mn END AS d
        FROM pos JOIN stats USING (p)
    ),
    comp AS (
        SELECT vec_id,
               {_QS.format(t='x * x')} AS sxx,
               {_QS.format(t='d * d')} AS sdd,
               {_QS.format(t='x * d')} AS sxd,
               MAX(ABS(x - d)) AS max_abs_err
        FROM dq GROUP BY vec_id
    )
    SELECT vec_id, {_QUANT_COS} AS cos_fidelity, max_abs_err
    FROM comp
    """,
    tags=("similarity", "quantization", "llm-pipeline", "audit"),
)
def embedding_quantize_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style embedding quantization with a per-vector fidelity
    audit: each dimension affinely maps onto 256 levels between its
    corpus-wide min and max (floor-bucketed, dequantized at bucket
    midpoints), and every vector reports the cosine between itself and
    its dequantized form plus the max absolute element error — the
    storage-shrink step (4 bytes → 1 per component) a 100 TB embedding
    corpus runs before ANN indexing, WITH the evidence it didn't bend
    the geometry.

    Per-dimension min/max is one posexplode + partial-aggregated pass
    (O(dim) groups); the stats frame joins back by position — a
    post-aggregate, data-dependent-small frame the planner broadcasts
    BY SIZE, never by hint; the three self/cross products re-aggregate
    per vec_id with floor-quantized decimal sums (the engine
    convention), so the emitted doubles are bit-identical at any
    partition count and in both engines. Constant dimensions (mx == mn)
    dequantize to the constant — zero error, cosine preserved.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.posexplode(F.expr("CAST(embedding AS ARRAY<DOUBLE>)")).alias("p", "x"),
    )
    stats = emb.groupBy("p").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    dq = emb.join(stats, "p").select(
        "vec_id",
        "x",
        F.expr(
            "CASE WHEN mx > mn"
            " THEN mn + (least(floor((x - mn) / (mx - mn) * 256.0), 255.0)"
            "            + 0.5) * ((mx - mn) / 256.0)"
            " ELSE mn END"
        ).alias("d"),
    )
    comp = dq.groupBy("vec_id").agg(
        F.expr(_QS.format(t="x * x")).alias("sxx"),
        F.expr(_QS.format(t="d * d")).alias("sdd"),
        F.expr(_QS.format(t="x * d")).alias("sxd"),
        F.max(F.abs(F.col("x") - F.col("d"))).alias("max_abs_err"),
    )
    return comp.select(
        "vec_id", F.expr(_QUANT_COS).alias("cos_fidelity"), "max_abs_err"
    )


# --- SemDeDup: cluster-bucketed semantic pruning ---------------------------

#: within-cell prune threshold. SemDeDup's τ is the prune-rate knob (the
#: paper sweeps it per target keep-ratio); 0.30 sits at this fixture's
#: within-cluster p90 so the prune path is exercised on real mass
#: (~100 within-label pairs at sf0.01) rather than the 1-pair tail that
#: the corpus-wide 0.45 near-dup threshold would leave.
_SEMDEDUP_THR = 0.30

#: salt count of the within-cell pair join (:func:`_salted_cell_pairs`)
_NSALT = 32


def _duck_pruned(side: str) -> str:
    """DuckDB twin of :func:`_sd_pruned`: the (cell, vec_id) of every
    ``side`` member with an earlier near-duplicate cellmate."""
    return f"""SELECT DISTINCT b.cell, b.vec_id
        FROM {side} a JOIN {side} b
          ON a.cell = b.cell
         AND (a.score > b.score OR (a.score = b.score AND a.vec_id < b.vec_id))
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE {duckdb_cosine('ea.embedding', 'eb.embedding')} >= {_SEMDEDUP_THR}"""


@query(
    "semdedup_prune_cells",
    oracle=f"""
    WITH {_DUCK_LM_ASSIGNED},
    pruned AS ({_duck_pruned('lm_assigned')})
    SELECT s.cell,
           COUNT(*) AS n_total,
           COALESCE(p.n_pruned, 0) AS n_pruned,
           COUNT(*) - COALESCE(p.n_pruned, 0) AS n_kept
    FROM lm_assigned s
    LEFT JOIN (SELECT cell, COUNT(*) AS n_pruned FROM pruned GROUP BY cell) p
      ON s.cell = p.cell
    GROUP BY s.cell, p.n_pruned
    ORDER BY s.cell
    """,
    tags=("dedup", "similarity", "embedding", "semdedup", "llm-pipeline"),
)
def semdedup_prune_cells(
    spark: SparkSession, sf_dir: str, thr: float = _SEMDEDUP_THR
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): cluster-bucketed
    semantic pruning — assign every embedding to its nearest
    coarse-quantizer cell, then WITHIN each cell prune any item whose
    cosine to a higher-priority cellmate is ≥ τ (0.30 — see
    :data:`_SEMDEDUP_THR`). Priority is the paper's upper-triangular-max rule:
    order cell members by (similarity-to-centroid DESC, vec_id), prune
    an item iff ANY earlier member is a near-duplicate of it —
    regardless of whether that member was itself pruned, so the
    survivor set needs no sequential sweep and no connected components.

    The quantizer is the label-mean fixed-point fit
    (:func:`_labelmean_centroids`) — SQL-re-derivable, so the ENTIRE
    pipeline (fit → assign → within-cell prune → per-cell census) has a
    DuckDB oracle; the k-means variant of the same plumbing stays
    recall-pinned in pytest via the IVF tiers.

    Scale design (100 TB): this is the whole point of SemDeDup — the
    O(n²) corpus-wide pairwise product becomes per-cell products, and
    production fits grow k with the corpus (the paper uses 50 k
    clusters) so cell size stays bounded. Here the pair join is an
    equi-join on cell with the priority predicate as a post-filter;
    the cosine runs on pre-cast arrays with per-ROW norms. Cells never
    leave the executors; the output is a ≤|cells|-row census.

    Reference parity: the reference engine has no embedding tier at all
    (SURVEY.md §2) — this extends the dedup family
    (dedup.py:163 minhash-LSH) to the semantic axis.
    """
    assigned = _lm_assigned(spark, sf_dir).localCheckpoint(eager=True)
    pruned = _sd_pruned(assigned, thr).groupBy("cell").agg(F.count("*").alias("n_pruned"))
    census = assigned.groupBy("cell").agg(F.count("*").alias("n_total"))
    # SHUFFLE_HASH on the pruned side of the census join (optimization
    # round 11): both sides are O(|cells|)-row aggregates, but the
    # checkpointed assignment scans back as an ExistingRDD with no size
    # statistics, so the planner fell back to sort-merge and sorted both
    # for zero information. The hash build is O(|cells|/partitions) per
    # task at any scale. Interleaved A/B at sf0.1, identical rows:
    # 2.19/1.78 → 1.87/1.71 s across two alternations
    # (plan: SortMergeJoin LeftOuter → ShuffledHashJoin BuildRight).
    return (
        census.join(pruned.hint("shuffle_hash"), "cell", "left")
        .select(
            "cell",
            "n_total",
            F.coalesce("n_pruned", F.lit(0)).alias("n_pruned"),
            (F.col("n_total") - F.coalesce("n_pruned", F.lit(0))).alias("n_kept"),
        )
        .orderBy("cell")
    )


def _lm_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector in its label-mean cell — (vec_id, emb_d, nrm, cell,
    score), the argmax of :func:`_rank_cells`; the score is SemDeDup's
    keep priority. Callers materialize it once (``localCheckpoint``): it
    feeds both pair sides plus the census, and its cell scoring is ten
    cosine folds per vector, which the self-join would otherwise run
    twice. At cluster scale this is a ``.checkpoint()``/cache of an
    O(corpus)-row frame."""
    structs = _cell_score_structs(_labelmean_centroids(spark, sf_dir))
    return _embeddings_normed(spark, sf_dir).select(
        "vec_id", "emb_d", "nrm", F.element_at(_rank_cells(structs), 1).alias("best")
    ).select("vec_id", "emb_d", "nrm", "best.cell", "best.score")


def _salted_cell_pairs(a_side: DataFrame, b_side: DataFrame) -> DataFrame:
    """Every within-cell (a, b) pair of two (cell, vec_id, score, emb_d,
    nrm) frames, as (cell, salt, a_id, a_score, a_emb, a_nrm, b_id,
    b_score, b_emb, b_nrm).

    A SALTED, EXPLICITLY-PARTITIONED join, because two scale hazards meet
    here: (1) |cells| is small (10 here; 50 k in a paper-scale fit)
    while the per-pair work is quadratic in cell size, so a plain
    cell-keyed join concentrates each cell's whole verify kernel on one
    shuffle key — salting the b-side by vec_id and replicating the
    a-side over the ``_NSALT`` salts splits every cell's pair work that
    many ways (skew.py's hot-key treatment; the replicated side is
    O(_NSALT·corpus) rows, paid once). (2) The join's INPUT is tiny while its
    OUTPUT fans out ~|cell|×, so AQE's input-size coalescing folds the
    tiny shuffle into ONE task and the fan-out work serializes — the
    explicit repartition pins the (cell, salt) partitioning, which AQE
    honors (user-specified repartitions are exempt from coalescing).
    Measured at sf0.1: the pair stage went 2.2 s single-task → 0.6-0.8 s
    salted+pinned; the join runs exchange-free on the pinned
    partitioning."""
    a = a_side.select(
        "cell",
        F.col("vec_id").alias("a_id"),
        F.col("score").alias("a_score"),
        F.col("emb_d").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
        F.explode(F.array(*[F.lit(i) for i in range(_NSALT)])).alias("salt"),
    ).repartition(_NSALT * 2, "cell", "salt")
    b = b_side.select(
        "cell",
        F.col("vec_id").alias("b_id"),
        F.col("score").alias("b_score"),
        F.col("emb_d").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
        F.pmod(F.col("vec_id"), F.lit(_NSALT)).cast("int").alias("salt"),
    ).repartition(_NSALT * 2, "cell", "salt")
    return a.join(b, ["cell", "salt"])


def _near_dup_ids(pairs: DataFrame, thr: float) -> DataFrame:
    """(cell, vec_id) of every b-side vector of :func:`_salted_cell_pairs`
    rows whose pair cosine is ≥ ``thr``."""
    cos = F.expr(spark_cosine_prenorm("a_emb", "b_emb", "a_nrm", "b_nrm"))
    return pairs.filter(cos >= F.lit(thr)).select("cell", F.col("b_id").alias("vec_id")).distinct()


def _sd_pruned(cellmates: DataFrame, thr: float) -> DataFrame:
    """SemDeDup's keep rule: the (cell, vec_id) of every member with a
    near-duplicate cellmate strictly before it in the keep order (score
    DESC, vec_id ASC). The order predicate is the cheap conjunct, so it
    filters the pairs before any cosine runs."""
    earlier = (F.col("a_score") > F.col("b_score")) | (
        (F.col("a_score") == F.col("b_score")) & (F.col("a_id") < F.col("b_id"))
    )
    return _near_dup_ids(_salted_cell_pairs(cellmates, cellmates).filter(earlier), thr)


@query(
    "semdedup_apply",
    oracle=f"""
    WITH {_DUCK_LM_ASSIGNED},
    pruned AS ({_duck_pruned('lm_assigned')})
    SELECT s.vec_id, e.label, s.cell
    FROM lm_assigned s
    JOIN embeddings e ON e.vec_id = s.vec_id
    LEFT JOIN pruned p ON p.vec_id = s.vec_id
    WHERE p.vec_id IS NULL
    """,
    tags=("dedup", "similarity", "embedding", "semdedup", "llm-pipeline"),
)
def semdedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup verdict APPLIED — the companion of
    :func:`semdedup_prune_cells` the way ``corpus_dedup_apply`` is the
    companion of the pairwise dedup tiers: materialize the semantically
    deduplicated corpus, i.e. every vector the within-cell prune kept,
    with its label and cell. The prune set is O(pruned) rows and
    deliberately UNHINTED: at test SF it sits far under the 64 MB
    ``autoBroadcastJoinThreshold`` (session.py) so the planner picks the
    same broadcast anti join a hint would force, while at real-corpus
    prune rates (SemDeDup's own paper prunes 50 %+) the verdict set
    scales with the corpus and the size-based planner correctly falls
    back to a shuffle join of a one-column table — a forced hint there
    would be a forced driver/executor OOM.
    """
    assigned = _lm_assigned(spark, sf_dir).localCheckpoint(eager=True)
    pruned_ids = _sd_pruned(assigned, _SEMDEDUP_THR)
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    kept = assigned.join(pruned_ids.select("vec_id"), "vec_id", "left_anti")
    return kept.join(emb, "vec_id").select("vec_id", "label", "cell")


# --- Johnson-Lindenstrauss random-projection fidelity ----------------------

#: JL target dimensionality and the seeded projection matrix (16 x 64
#: uniform(-1,1) literals — model constants like the LSH planes above;
#: distinct seed so the audits are independent). Cosine is
#: scale-invariant, so the usual 1/sqrt(k) JL scaling cancels and the
#: raw dot products serve directly.
_JL_K = 16
_jl_rng = _random.Random(13)
_JL_PLANES = [[_jl_rng.uniform(-1.0, 1.0) for _ in range(_DIM)] for _ in range(_JL_K)]
_JL_N = 50  # audit population: all C(50,2)=1225 pairs of the first 50 vectors


def _jl_proj_expr(emb: str) -> str:
    """array<double> of the 16 plane dot products (pure Catalyst)."""
    dots = []
    for plane in _JL_PLANES:
        arr = f"array({', '.join(f'CAST({v!r} AS DOUBLE)' for v in plane)})"
        dots.append(_SPARK_DOT.format(a=emb, b=arr))
    return f"array({', '.join(dots)})"


def _jl_duck_planes() -> str:
    rows = []
    for k, plane in enumerate(_JL_PLANES):
        lst = ", ".join(repr(v) for v in plane)
        rows.append(f"({k}, CAST([{lst}] AS DOUBLE[]))")
    return ",\n        ".join(rows)


@query(
    "embedding_jl_projection_fidelity",
    oracle=f"""
    WITH planes(k, p) AS (VALUES
        {{PLANES}}
    ),
    sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_JL_N}),
    proj AS (
        SELECT s.vec_id,
               list(list_aggregate(list_transform(generate_series(1, {_DIM}),
                        i -> CAST(s.embedding[i] AS DOUBLE) * pl.p[i]), 'sum')
                    ORDER BY pl.k) AS pr
        FROM sub s CROSS JOIN planes pl
        GROUP BY s.vec_id
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {duckdb_cosine('ea.embedding', 'eb.embedding')} AS cos_full,
           round(list_aggregate(list_transform(generate_series(1, {_JL_K}),
                     i -> a.pr[i] * b.pr[i]), 'sum')
                 / (sqrt(list_aggregate(list_transform(generate_series(1, {_JL_K}),
                        i -> a.pr[i] * a.pr[i]), 'sum'))
                    * sqrt(list_aggregate(list_transform(generate_series(1, {_JL_K}),
                        i -> b.pr[i] * b.pr[i]), 'sum'))), 9) AS cos_proj
    FROM proj a
    JOIN proj b ON a.vec_id < b.vec_id
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id
    """.replace("{PLANES}", _jl_duck_planes()),
    tags=("embedding", "projection", "audit", "llm-pipeline"),
)
def embedding_jl_projection_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection fidelity audit: project
    the 64-dim embeddings onto ``_JL_K`` (= 16 as shipped; literals
    below mirror the constants) seeded random directions — a literal
    _JL_K×64 matrix, the model constant a production pipeline ships
    next to its LSH planes — and report, for every pair of a bounded
    audit population, the original cosine next to the projected cosine
    — the measurement behind "can we run ANN / dedup in k≪d dims".
    Complements ``embedding_quantize_fidelity`` (precision axis) with
    the dimensionality axis; together they bound the two standard
    embedding-compression losses.

    The projection is _JL_K Catalyst fold expressions per row (one
    scan, no shuffle, no Python); the pair join is literal-bounded
    (vec_id < _JL_N → C(_JL_N, 2) pairs: 50 → 1225 as shipped) and
    broadcast-sized. Both engines evaluate the identical left-to-right
    fold and the cosines round to 9 dp, so the audit is hash-checkable
    end to end. At 100 TB the audit population stays a bounded sample
    by construction — the operator's cost does not scale with the
    corpus.

    Fidelity at k=_JL_K=16 (measured, pinned in tests): mean
    |cos_full − cos_proj| of the C(_JL_N,2)=1225 audit pairs is ≈0.20 —
    right at the 1/√k ≈ 0.25 noise level JL predicts for 16 dims — with
    max ≈0.69. That is the audit's POINT: it quantifies that k=16 is
    too lossy for this corpus's weak cluster structure (max pairwise
    cosine ~0.5), exactly the go/no-go number a pipeline needs before
    running dedup in projected space.
    """
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _JL_N).select(
        "vec_id",
        F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("emb_d"),
    )
    proj = e.select(
        "vec_id",
        "emb_d",
        F.expr(_jl_proj_expr("emb_d")).alias("pr"),
    )
    a = proj.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb_d").alias("a_emb"),
        F.col("pr").alias("a_pr"),
    )
    b = proj.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb_d").alias("b_emb"),
        F.col("pr").alias("b_pr"),
    )
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.expr(spark_cosine("a_emb", "b_emb")).alias("cos_full"),
            F.expr(spark_cosine("a_pr", "b_pr")).alias("cos_proj"),
        )
    )


# --- Product-quantization (PQ) fidelity -------------------------------------

#: PQ shape: 4 subspaces x 16 dims, one codebook per subspace. The
#: codebooks are the label-mean centroids' dim slices — SQL-re-derivable
#: like the IVF/semdedup quantizer, so the whole encode→reconstruct→audit
#: pipeline has a DuckDB oracle (a k-means codebook fit would not).
_PQ_S = 4
_PQ_SUB = 16


def _pq_codes_and_recon(cents: list) -> tuple[list[str], str]:
    """(per-subspace argmin-code expressions, reconstruction expression).

    Code s = the label whose sub-centroid minimizes the L2² distance of
    the embedding's dims [16s+1 .. 16s+16] (fold in dim order, rounded
    to 9 dp for cross-engine ties, label id as tiebreak via struct
    ordering). Reconstruction concatenates the chosen sub-centroids via
    literal maps keyed by code.
    """
    code_exprs = []
    recon_parts = []
    for s in range(_PQ_S):
        lo = s * _PQ_SUB
        entries = []
        map_entries = []
        for label, c in cents:
            sub = c[lo : lo + _PQ_SUB]
            arr = f"array({', '.join(f'CAST({v!r} AS DOUBLE)' for v in sub)})"
            dist = (
                f"round(aggregate(zip_with(slice(emb_d, {lo + 1}, {_PQ_SUB}), {arr},"
                f" (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE),"
                f" (acc, v) -> acc + v), 9)"
            )
            entries.append(f"struct({dist} AS d, {label} AS l)")
            map_entries.append(f"{label}, {arr}")
        code_exprs.append(f"array_min(array({', '.join(entries)})).l")
        recon_parts.append(f"element_at(map({', '.join(map_entries)}), code{s + 1})")
    return code_exprs, f"concat({', '.join(recon_parts)})"


def _pq_recon_ctes() -> str:
    """The PQ encode+reconstruct CTE chain (ends with ``codes_p`` and
    ``recon``) — shared by the fidelity and recall oracles."""
    subs = ", ".join(str(s + 1) for s in range(_PQ_S))
    code_cols = ", ".join(
        f"MAX(CASE WHEN sub = {s + 1} THEN label END) AS code{s + 1}"
        for s in range(_PQ_S)
    )
    return f"""{_duck_lm_fit()},
    subdist AS (
        SELECT e.vec_id, k.cell AS label, s.sub,
               round(list_aggregate(list_transform(generate_series(1, {_PQ_SUB}),
                   i -> (CAST(e.embedding[(s.sub - 1) * {_PQ_SUB} + i] AS DOUBLE)
                         - k.c[(s.sub - 1) * {_PQ_SUB} + i])
                      * (CAST(e.embedding[(s.sub - 1) * {_PQ_SUB} + i] AS DOUBLE)
                         - k.c[(s.sub - 1) * {_PQ_SUB} + i])), 'sum'), 9) AS d
        FROM embeddings e
        CROSS JOIN cents k
        CROSS JOIN (SELECT unnest([{subs}]) AS sub) s
    ),
    codes AS (
        SELECT vec_id, sub, label FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                         ORDER BY d, label) AS rn
            FROM subdist
        ) WHERE rn = 1
    ),
    codes_p AS (SELECT vec_id, {code_cols} FROM codes GROUP BY vec_id),
    recon AS (
        SELECT codes.vec_id,
               flatten(list(list_slice(k.c, (sub - 1) * {_PQ_SUB} + 1,
                                       sub * {_PQ_SUB}) ORDER BY sub)) AS r
        FROM codes JOIN cents k ON codes.label = k.cell
        GROUP BY codes.vec_id
    )"""


def _pq_oracle() -> str:
    return f"""
    WITH {_pq_recon_ctes()}
    SELECT e.vec_id, p.code1, p.code2, p.code3, p.code4,
           {duckdb_cosine('e.embedding', 'r.r')} AS cos_fidelity
    FROM embeddings e
    JOIN codes_p p ON p.vec_id = e.vec_id
    JOIN recon r ON r.vec_id = e.vec_id
    """


@query(
    "embedding_pq_fidelity",
    oracle=_pq_oracle(),
    tags=("embedding", "quantization", "pq", "audit", "llm-pipeline"),
)
def embedding_pq_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI'11 — the workhorse of
    billion-scale ANN indexes): split each 64-dim embedding into 4
    subspaces of 16 dims, encode every subspace as the id of its nearest
    sub-codebook centroid (argmin L2², dim-ordered fold, label tiebreak),
    reconstruct from the 4 chosen sub-centroids, and emit each vector's
    PQ code alongside the reconstruction's cosine fidelity — the audit
    that decides how many subspaces/bits an index needs.

    Completes the embedding-compression triptych: scalar quantization
    (``embedding_quantize_fidelity``, precision axis), random projection
    (``embedding_jl_projection_fidelity``, dimensionality axis), and PQ
    (codebook axis — 64 doubles become 4 small ints, a 128× compression
    here). The codebooks are the label-mean centroids' dim slices
    (:func:`_labelmean_centroids`), so unlike a k-means fit the whole
    encode→reconstruct→audit pipeline is SQL-re-derivable and
    hash-checked against DuckDB.

    Plan shape: codes and reconstruction are pure Catalyst expressions
    over literal codebooks — ONE scan, zero shuffles, zero Python; the
    output is O(corpus) rows of (vec_id, 4 codes, fidelity). At 100 TB
    this is exactly how PQ encoding runs in production: broadcast-free
    map-side encode against constant codebooks.
    """
    cents = _labelmean_centroids(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("emb_d"),
    )
    code_exprs, recon_expr = _pq_codes_and_recon(cents)
    coded = e.select(
        "vec_id",
        "emb_d",
        *[F.expr(ex).alias(f"code{s + 1}") for s, ex in enumerate(code_exprs)],
    )
    return coded.select(
        "vec_id",
        "code1",
        "code2",
        "code3",
        "code4",
        F.expr(
            spark_cosine("emb_d", recon_expr)
        ).alias("cos_fidelity"),
    )


@query(
    "ann_recall_pq",
    oracle=_duck_recall(f"""{_pq_recon_ctes()},
    q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
               {duckdb_cosine('q.embedding', 'r.r')} AS cosine
        FROM q JOIN recon r ON r.vec_id != q.vec_id
    )"""),
    tags=("similarity", "ann", "pq", "audit", "llm-pipeline"),
)
def ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of PQ asymmetric-distance search against the exact
    tier, in-engine: queries stay full-precision, the corpus is scored
    through its PQ RECONSTRUCTION (Jégou et al.'s ADC — the memory side
    of a billion-vector index, where only 4 small codes per vector are
    resident and distances are computed query-vs-codebook). Joins the
    recall-audit family (``ann_recall_lsh`` — hash buckets,
    ``ann_recall_ivf`` — coarse cells): each audit pins one
    approximation axis against ``ann_topk_bruteforce``, and PQ's axis is
    code-compressed storage. Fully DuckDB-oracled because the sub-
    codebooks are the label-mean slices (:func:`_pq_recon_ctes`).

    Plan shape: the corpus reconstructs map-side against literal
    codebooks (one scan, no shuffle — same encode stage as
    ``embedding_pq_fidelity``); the bounded query set broadcasts; top-k
    is a per-query window over the scored candidates.

    Measured verdict (pinned in tests): recall@10 ≈ 0.06 — 3× the
    random-rank baseline (10/499 ≈ 0.02) but far below the LSH/IVF
    tiers, the quantitative face of the fidelity query's ≈0.39 mean
    reconstruction cosine: a 10-code-per-subspace codebook on this
    weak-cluster corpus is too coarse for ranking, and a deployment
    would grow the codebooks (256 codes/subspace is the standard)
    before trusting ADC order. The audit exists to produce exactly
    this go/no-go number.
    """
    code_exprs, recon_expr = _pq_codes_and_recon(_labelmean_centroids(spark, sf_dir))
    e = _embeddings_normed(spark, sf_dir)
    coded = e.select(
        "vec_id",
        *[F.expr(ex).alias(f"code{s + 1}") for s, ex in enumerate(code_exprs)],
    )
    corpus = coded.select("vec_id", F.expr(recon_expr).alias("rec"))
    pairs = corpus.crossJoin(F.broadcast(_query_side(e))).filter(
        F.col("vec_id") != F.col("query_id")
    )
    approx = topk_refine(pairs, spark_cosine("q_emb", "rec"))
    return _recall_df(ann_topk_bruteforce(spark, sf_dir), approx)


# --- incremental SemDeDup: new-batch admission vs the kept history ----------

#: deterministic 20% "new batch" split (the dedup_incremental convention)
_SD_NEW_PRED_SPARK = "pmod({h}, 5) = 0"
_SD_NEW_SEED = "sd-new:"


def _sd_incr_oracle() -> str:
    from ..functions.hashing import md5int_duckdb

    h = md5int_duckdb(f"'{_SD_NEW_SEED}' || CAST(s.vec_id AS VARCHAR)")
    return f"""
    WITH {_DUCK_LM_ASSIGNED},
    tagged AS (
        SELECT s.vec_id, s.cell, s.score, ({h}) % 5 = 0 AS is_new
        FROM lm_assigned s
    ),
    hist AS (SELECT * FROM tagged WHERE NOT is_new),
    newb AS (SELECT * FROM tagged WHERE is_new),
    hist_pruned AS ({_duck_pruned('hist')}),
    hist_kept AS (
        SELECT h.* FROM hist h LEFT JOIN hist_pruned p ON p.vec_id = h.vec_id
        WHERE p.vec_id IS NULL
    ),
    rejected AS (
        SELECT DISTINCT n.vec_id
        FROM hist_kept k JOIN newb n ON k.cell = n.cell
        JOIN embeddings ea ON ea.vec_id = k.vec_id
        JOIN embeddings eb ON eb.vec_id = n.vec_id
        WHERE {duckdb_cosine('ea.embedding', 'eb.embedding')} >= {_SEMDEDUP_THR}
    ),
    surv AS (
        SELECT n.* FROM newb n LEFT JOIN rejected r ON r.vec_id = n.vec_id
        WHERE r.vec_id IS NULL
    ),
    batch_pruned AS ({_duck_pruned('surv')})
    SELECT (SELECT COUNT(*) FROM hist) AS n_history,
           (SELECT COUNT(*) FROM hist_kept) AS n_kept_history,
           (SELECT COUNT(*) FROM newb) AS n_new,
           (SELECT COUNT(*) FROM rejected) AS n_rejected_vs_history,
           (SELECT COUNT(*) FROM batch_pruned) AS n_pruned_within_batch,
           (SELECT COUNT(*) FROM surv)
               - (SELECT COUNT(*) FROM batch_pruned) AS n_admitted
    """


@query(
    "semdedup_incremental_new_batch",
    oracle=_sd_incr_oracle(),
    tags=("dedup", "similarity", "semdedup", "incremental", "llm-pipeline"),
)
def semdedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup — the admission funnel a GROWING corpus
    runs per ingest batch, the semantic sibling of
    ``dedup_incremental_new_batch``'s exact-hash funnel: a deterministic
    20 % split plays the incoming batch, the rest is history. Stages:
    (1) history is semantically deduplicated once (the standing kept
    set); (2) a new vector is REJECTED if it is a near-duplicate
    (cos ≥ τ) of any KEPT history vector in its cell — only the kept
    minority is compared against, never raw history; (3) survivors are
    deduplicated among THEMSELVES by the same upper-triangular keep
    rule. Output: the one-row funnel
    (history, kept, new, rejected, within-batch pruned, admitted).

    The quantizer is the frozen offline model artifact
    (:func:`_labelmean_centroids`) shared by history and batch — how a
    production incremental pipeline works (the codebook is NOT refit
    per batch). All three pair stages run the salted, partition-pinned
    cell join (:func:`_salted_cell_pairs`); per-batch cost is
    O(batch × kept-per-cell + batch²-per-cell), independent of raw
    history size — the property that makes continuous ingestion
    affordable at 100 TB.
    """
    from ..functions.hashing import md5int_spark

    h = md5int_spark(f"'{_SD_NEW_SEED}' || CAST(vec_id AS STRING)")
    assigned = (
        _lm_assigned(spark, sf_dir)
        .withColumn("is_new", F.expr(_SD_NEW_PRED_SPARK.format(h=h)))
        .localCheckpoint(eager=True)
    )
    hist = assigned.filter(~F.col("is_new"))
    newb = assigned.filter(F.col("is_new"))
    # hist_pruned / rejected scale with the corpus dup-rate, so no
    # broadcast hints: the 64 MB auto-threshold keeps the broadcast plan
    # at test SF and degrades to a shuffle anti join at scale.
    hist_kept = hist.join(_sd_pruned(hist, _SEMDEDUP_THR), ["cell", "vec_id"], "left_anti")
    # admission screen: no keep-order predicate — every kept history
    # vector outranks every new one in the funnel, so any kept near-dup
    # rejects a new vector
    rejected = _near_dup_ids(_salted_cell_pairs(hist_kept, newb), _SEMDEDUP_THR)
    surv = newb.join(rejected, ["cell", "vec_id"], "left_anti")
    batch_pruned = _sd_pruned(surv, _SEMDEDUP_THR)
    n_hist = hist.agg(F.count("*").alias("n_history"))
    n_kept = hist_kept.agg(F.count("*").alias("n_kept_history"))
    n_new = newb.agg(F.count("*").alias("n_new"))
    n_rej = rejected.agg(F.count("*").alias("n_rejected_vs_history"))
    n_bp = batch_pruned.agg(F.count("*").alias("n_pruned_within_batch"))
    n_surv = surv.agg(F.count("*").alias("_ns"))
    return (
        n_hist.crossJoin(F.broadcast(n_kept))
        .crossJoin(F.broadcast(n_new))
        .crossJoin(F.broadcast(n_rej))
        .crossJoin(F.broadcast(n_bp))
        .crossJoin(F.broadcast(n_surv))
        .select(
            "n_history",
            "n_kept_history",
            "n_new",
            "n_rejected_vs_history",
            "n_pruned_within_batch",
            (F.col("_ns") - F.col("n_pruned_within_batch")).alias("n_admitted"),
        )
    )


@query(
    "ann_recall_jl",
    oracle=_duck_recall(f"""planes(k, p) AS (VALUES
        {_jl_duck_planes()}
    ),
    proj AS (
        SELECT e.vec_id,
               list(list_aggregate(list_transform(generate_series(1, {_DIM}),
                        i -> CAST(e.embedding[i] AS DOUBLE) * pl.p[i]), 'sum')
                    ORDER BY pl.k) AS pr
        FROM embeddings e CROSS JOIN planes pl
        GROUP BY e.vec_id
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_aggregate(list_transform(generate_series(1, {_JL_K}),
                         i -> q.pr[i] * c.pr[i]), 'sum')
                     / (sqrt(list_aggregate(list_transform(generate_series(1, {_JL_K}),
                            i -> q.pr[i] * q.pr[i]), 'sum'))
                        * sqrt(list_aggregate(list_transform(generate_series(1, {_JL_K}),
                            i -> c.pr[i] * c.pr[i]), 'sum'))), 9) AS cosine
        FROM proj q JOIN proj c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    )"""),
    tags=("similarity", "ann", "projection", "audit", "llm-pipeline"),
)
def ann_recall_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of ranking in the 16-dim JL-projected space against the
    exact 64-dim tier — the retrieval-grade number for the projection
    the fidelity audit (:func:`embedding_jl_projection_fidelity`) scores
    pairwise. Completes the compression→recall matrix: LSH (hashing),
    IVF (cells), PQ (codes), JL (dimensions) — each axis now has both a
    geometry audit and a search audit, each DuckDB-oracled from the same
    literal model constants. Plan shape: the projection is 16 fold
    expressions map-side (one scan, no shuffle); queries project the
    same way and broadcast; ranking is cosine over the 16-dim arrays —
    4× less per-pair arithmetic than the full space, which is the
    operational case FOR the projection wherever its recall suffices.
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("emb_d"),
    )
    proj = e.select("vec_id", F.expr(_jl_proj_expr("emb_d")).alias("pr"))
    q = proj.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("pr").alias("q_pr")
    )
    pairs = proj.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    approx = topk_refine(pairs, spark_cosine("q_pr", "pr"))
    return _recall_df(ann_topk_bruteforce(spark, sf_dir), approx)


# --- incremental IVF index maintenance (STAGED round-12 kernel) ----------

#: every `_IVF_DELTA_MOD`th vec_id arrives as the incremental batch;
#: the quantizer is fit on the base only (the offline-fit story).
_IVF_DELTA_MOD = 5
#: per-cell drifted fraction (delta rows whose own label disagrees with
#: their assigned cell) above which the cell flags a quantizer refit.
_IVF_REFIT_DRIFT = 0.2


def _labelmean_centroids_frame(emb) -> list:
    """Per-label fixed-point mean centroids over an ARBITRARY embedding
    frame (``label``, ``embedding``) — the body of
    :func:`_labelmean_centroids`, parameterized so the incremental tier
    can fit on the base corpus only. Same bit-stable arithmetic
    (floor(val·2³⁰) summed as integers), same O(labels × dim) offline
    collect."""
    el = emb.select("label", F.posexplode("embedding").alias("pos0", "val")).select(
        "label", (F.col("pos0") + 1).alias("idx"), "val"
    )
    q = F.floor(F.col("val").cast("double") * F.lit(1073741824.0))
    rows = (
        el.groupBy("label", "idx")
        .agg((F.sum(q).cast("double") / F.lit(1073741824.0) / F.count("*")).alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "m"))).alias("pm"))
        .select("label", F.expr("transform(pm, s -> s.m)").alias("c"))
        .orderBy("label")
        .collect()
    )
    return [(int(r["label"]), list(r["c"])) for r in rows]


def ivf_delta_assign_frame(base: DataFrame, delta: DataFrame, cents: list) -> DataFrame:
    """Incremental IVF index MAINTENANCE — STAGED round-12 kernel
    (tested library code, pinned to a sequential Python mirror and a
    label-permutation drift injection in tests/test_llm_ops.py; the r12
    face splits the embeddings table into base/delta on
    ``_IVF_DELTA_MOD``, fits the quantizer on the base only, and
    registers a full oracle via the label-mean CTE chain, per the
    staged→register template).

    At 100 TB the IVF index is NOT refit per ingest batch — new vectors
    are assigned to the EXISTING centroids (one scan against k literal
    cells, the ann_topk_ivf plan shape) and appended to their posting
    cells, and the index owner watches a maintenance manifest to decide
    when a real refit is due. This kernel produces that manifest, per
    cell: ``n_base`` (existing postings), ``n_added`` (delta vectors
    assigned here), ``n_drifted`` (added vectors whose OWN label
    disagrees with the cell — the quantizer-staleness signal: new data
    the old partitioning no longer describes), ``added_share``
    (post-merge fraction the delta contributes — the cell-skew signal),
    and ``refit`` (drifted fraction above ``_IVF_REFIT_DRIFT``). Ties
    in the argmax assignment break to the LOWEST cell id over the
    round-9 scores — the deterministic total order both engines spell.

    100 TB shape: assignment is ONE scan per side against k×dim literal
    centroids (scores constant-fold their norms; no join, no shuffle
    before the O(cells) rollup); the manifest is O(cells) rows; the
    only collect anywhere is the offline centroid fit the caller did.
    Composes the similarity tier with the incremental-batch discipline
    (dedup_incremental_new_batch / semdedup_incremental are the
    dedup-side members).

    Reference parity: beyond the reference — no similarity surface
    exists there (SURVEY.md §2).
    """
    best = F.element_at(_rank_cells(_cell_score_structs(cents)), 1)["cell"]

    def assign(df: DataFrame) -> DataFrame:
        e = df.select(
            "vec_id",
            "label",
            F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("emb_d"),
        ).withColumn("nrm", F.expr(_SPARK_NORM.format(a="emb_d")))
        return e.select("vec_id", "label", best.alias("cell"))

    nb = assign(base).groupBy("cell").agg(F.count("*").alias("n_base"))
    da = (
        assign(delta)
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_added"),
            F.sum(F.when(F.col("label") != F.col("cell"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_drifted"),
        )
    )
    out = nb.join(da, "cell", "full_outer").select(
        "cell",
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
        F.coalesce("n_added", F.lit(0)).alias("n_added"),
        F.coalesce("n_drifted", F.lit(0)).alias("n_drifted"),
    )
    share = F.round(
        F.col("n_added").cast("double")
        / (F.col("n_base") + F.col("n_added")).cast("double"),
        9,
    )
    drift_frac = F.when(F.col("n_added") > 0,
                        F.col("n_drifted").cast("double") / F.col("n_added").cast("double")
                        ).otherwise(F.lit(0.0))
    return out.select(
        "cell",
        "n_base",
        "n_added",
        "n_drifted",
        share.alias("added_share"),
        (drift_frac > _IVF_REFIT_DRIFT).alias("refit"),
    ).orderBy("cell")


#: DuckDB oracle for the (r12-staged) IVF maintenance face — the
#: label-mean CTE chain ann_recall_ivf already spells, with the fit
#: restricted to the BASE corpus and the manifest rolled up per cell
#: from the same round-9 scores and lowest-cell tie-break. Kept beside
#: the kernel and hash-matched in tests (the takedown template), so
#: the r12 registration is the one-line @query move.
IVF_DELTA_ORACLE = f"""
    WITH {_duck_lm_ranked(f"WHERE vec_id % {_IVF_DELTA_MOD} != 0")},
    assigned AS (
        SELECT vec_id, label, vec_id % {_IVF_DELTA_MOD} = 0 AS is_delta, cell
        FROM lm_ranked WHERE rn = 1
    ),
    b AS (
        SELECT cell, COUNT(*) AS n_base FROM assigned
        WHERE NOT is_delta GROUP BY cell
    ),
    d AS (
        SELECT cell, COUNT(*) AS n_added,
               CAST(SUM(CASE WHEN label <> cell THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_drifted
        FROM assigned WHERE is_delta GROUP BY cell
    )
    SELECT COALESCE(b.cell, d.cell) AS cell,
           COALESCE(b.n_base, 0) AS n_base,
           COALESCE(d.n_added, 0) AS n_added,
           COALESCE(d.n_drifted, 0) AS n_drifted,
           round(CAST(COALESCE(d.n_added, 0) AS DOUBLE)
                 / (COALESCE(b.n_base, 0) + COALESCE(d.n_added, 0)), 9)
               AS added_share,
           (CASE WHEN COALESCE(d.n_added, 0) > 0
                 THEN CAST(d.n_drifted AS DOUBLE) / d.n_added
                 ELSE 0.0 END) > {_IVF_REFIT_DRIFT} AS refit
    FROM b FULL OUTER JOIN d ON b.cell = d.cell
    ORDER BY cell
"""


def ivf_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged IVF maintenance kernel's face (UNREGISTERED — r12
    registers it with :data:`IVF_DELTA_ORACLE`, already hash-matched
    in tests/test_llm_ops.py): embeddings split base/delta on
    ``_IVF_DELTA_MOD``, the quantizer fit on the base only
    (:func:`_labelmean_centroids_frame` — the offline-fit collect),
    and :func:`ivf_delta_assign_frame` audits the incremental
    assignment. See the kernel's docstring for the 100 TB shape."""
    emb = table(spark, sf_dir, "embeddings", fan_out=False)
    base = emb.filter(F.col("vec_id") % _IVF_DELTA_MOD != 0)
    delta = emb.filter(F.col("vec_id") % _IVF_DELTA_MOD == 0)
    return ivf_delta_assign_frame(base, delta, _labelmean_centroids_frame(base))
