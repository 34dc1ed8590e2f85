"""Deduplication operators for training-data pipelines.

Exact and near-duplicate detection over the ``documents`` table — the
core data-curation workload a 100 TB corpus needs. Four tiers, cheapest
first:

1. **exact** — content-hash groupBy; one shuffle of (hash, id).
2. **MinHash + LSH** — shingle → 32 minhashes → 8×4 banding →
   bucket-join candidates → exact-Jaccard verification of candidates
   only. Near-linear: no all-pairs stage ever materializes.
3. **SimHash** — 48-bit fingerprint; hamming-ball pairs found via the
   pigeonhole chunk trick (4 chunks, distance ≤3 ⇒ one chunk equal), so
   candidate generation is an equi-join, not a cross join.
4. **n-gram Jaccard** — exact all-pairs similarity *generated through the
   inverted shingle index* (pairs only arise from a shared shingle).
   Quadratic in the worst case (every doc sharing one shingle) — the
   docstring of each caller should prefer tier 2 at scale; kept exact
   here as the ground-truth operator.

Embedding-cosine near-dup lives in ``similarity`` (same candidate
machinery as ANN search).

Every operator is oracle-checked bit-for-bit: hashing is the portable
md5int scheme (``functions.hashing``), so DuckDB reproduces signatures,
buckets, and verdicts exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, SparkSession, functions as F

from ..functions.hashing import (
    LSH_BANDS,
    LSH_ROWS,
    MERSENNE_P,
    SIMHASH_BITS,
    md5int_duckdb,
    md5int_spark,
    minhash_sig_duckdb,
    minhash_sig_spark,
    shingles_duckdb,
    shingles_spark,
)
from ..observability import checkpoint
from ..registry import query
from ..sources.catalog import table

# ---------------------------------------------------------------- exact ----


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
    """,
    tags=("dedup", "exact", "llm-pipeline"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by full-content hash.

    Shuffles only (hash, doc_id) pairs — 48 bytes/row regardless of
    document size — and keeps the smallest doc_id as canonical keeper.
    At 100 TB this is the first pass of any dedup pipeline; hash in the
    scan stage, never shuffle text.
    """
    d = table(spark, sf_dir, "documents", fan_out=False)
    return (
        d.select(F.md5(F.col("text").cast("binary")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


# ------------------------------------------------------------- minhash ----

#: Per-bucket cap for LSH candidate generation. A band bucket of size n
#: emits n·(n-1)/2 candidate pairs; boilerplate text (license headers,
#: templated pages) concentrates into a handful of band keys, and at
#: 100 TB one such key would otherwise produce a quadratic bucket on a
#: single reducer. Capping at 500 bounds any bucket to ≤124,750 pairs
#: (~milliseconds of array work). Docs dropped from an oversized bucket
#: are the deterministic tail (largest doc_ids after array_sort) and
#: only lose *near*-dup edges from that one band — identical text is
#: caught upstream by exact dedup, and every doc still participates in
#: its other LSH_BANDS-1 buckets. Small-SF oracle runs never hit the
#: cap, so parity checks stay exact.
LSH_BUCKET_CAP = 500

_SPARK_TOKS = "split(text, ' ')"
#: minhash input: hashes reduced mod P once at materialization —
#: :func:`minhash_sig_spark` needs only ``h mod P`` and would otherwise
#: recompute the mod in all 32 permutations.
_SPARK_SHINGLE_HASHES_MODP = (
    f"transform({shingles_spark(_SPARK_TOKS)},"
    f" s -> {md5int_spark('s')} % {MERSENNE_P})"
)
_DUCK_TOKS = "string_split(text, ' ')"
_DUCK_SHINGLE_HASHES = (
    f"list_transform({shingles_duckdb(_DUCK_TOKS)}, s -> {md5int_duckdb('s')})"
)

_MINHASH_ORACLE = f"""
    WITH sigs AS (
        SELECT doc_id,
               {shingles_duckdb("string_split(text, ' ')")} AS shingles,
               {minhash_sig_duckdb(_DUCK_SHINGLE_HASHES)} AS sig
        FROM documents
    ),
    bands AS (
        SELECT doc_id, shingles, b.band,
               array_to_string(sig[b.band * {LSH_ROWS} + 1 : b.band * {LSH_ROWS} + {LSH_ROWS}], ',') AS band_key
        FROM sigs, (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS band) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.shingles AS sh_a, b.shingles AS sh_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jaccard
    FROM cand
    WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= 0.5
"""


def band_bucket_pairs(bands: DataFrame, max_bucket: int | None = LSH_BUCKET_CAP) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from LSH band buckets, skew-capped.

    ``bands`` has columns (doc_id, band, band_key). Each (band, band_key)
    bucket emits its doc-id pairs bucket-locally (JVM array lambdas — no
    self-join, no second scan). ``max_bucket`` bounds the quadratic
    blow-up of a hot bucket: the doc list is ``array_sort``-ed (so the
    cap is deterministic — collect_list order is not) and sliced to the
    first ``max_bucket`` ids before pair expansion. ``None`` disables
    the cap (exact mode — what the DuckDB oracle computes).
    """
    buckets = (
        bands.groupBy("band", "band_key")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.withColumn(
            "ds", F.slice(F.array_sort("ds"), 1, max_bucket)
        )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) ->"
                    " transform(filter(ds, y -> y > x),"
                    " y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE, tags=("dedup", "minhash", "lsh", "llm-pipeline"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via MinHash signatures + LSH banding.

    Pipeline (all Catalyst expressions, no Python):
      shingle (word 3-grams) → md5int → 32-permutation minhash signature
      → 8 bands of 4 → explode bands → self-equi-join on (band, key)
      → exact Jaccard on the shingle sets of *candidates only* → ≥ 0.5.

    Scale: the band join carries only (doc_id, band, band_key) — the
    shingle arrays are NOT shuffled through the 8-way band explode.
    Candidate (doc_a, doc_b) pairs are deduped while still 16 bytes wide,
    then the shingle sets are joined back for candidate pairs only
    (LSH's S-curve keeps that set near-linear), so each shingle array is
    shuffled at most once per side instead of 8× per band. Identical-text
    clusters all land in the same buckets, so exact dups are a subset of
    the output. At 100 TB, band keys are skew-prone for boilerplate
    text — bounded by the deterministic :data:`LSH_BUCKET_CAP` slice in
    :func:`band_bucket_pairs` (no single band key can go quadratic).
    """
    d = table(spark, sf_dir, "documents")
    # two-step projection: hash each shingle ONCE (pre-reduced mod P),
    # then take the 32 permutation minima over the hash array. Inlining
    # the hash expression into minhash_sig_spark would re-evaluate md5
    # per permutation (32×); CollapseProject keeps the split because
    # `hv` is non-cheap and referenced 32 times.
    hv = d.select("doc_id", F.expr(_SPARK_SHINGLE_HASHES_MODP).alias("hv"))
    sigs = hv.select("doc_id", F.expr(minhash_sig_spark("hv")).alias("sig"))
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {LSH_BANDS - 1}),"
                f" b -> struct(b AS band, concat_ws(',', slice(sig, b * {LSH_ROWS} + 1, {LSH_ROWS})) AS band_key))"
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))

    # bucket-local pair generation (one scan + one shuffle of
    # (band, band_key, doc_id)) — a band self-join would scan documents
    # and recompute signatures twice; buckets are LSH-small by design,
    # and the skew cap bounds the ones that aren't
    cand = band_bucket_pairs(bands, max_bucket=LSH_BUCKET_CAP)
    # verification: join raw TEXT to the (few) candidate pairs first and
    # shingle only the survivors — shingling all docs on both join sides
    # would triple the scan+hash cost for a candidate set that LSH keeps
    # near-linear (and tiny relative to the corpus)
    txt = d.select("doc_id", "text")
    ta, tb = txt.alias("ta"), txt.alias("tb")
    pairs = (
        cand.join(ta, F.col("doc_a") == F.col("ta.doc_id"))
        .join(tb, F.col("doc_b") == F.col("tb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(shingles_spark("split(ta.text, ' ')")).alias("sh_a"),
            F.expr(shingles_spark("split(tb.text, ' ')")).alias("sh_b"),
        )
    )
    sized = pairs.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
        (F.size("sh_a") + F.size("sh_b")).alias("u2"),
    )
    jac = F.col("i").cast("double") / (F.col("u2") - F.col("i"))
    return sized.select("doc_a", "doc_b", jac.alias("jaccard")).filter(F.col("jaccard") >= 0.5)


# ------------------------------------------------------------- simhash ----

_SPARK_TOKEN_HASHES = f"transform(split(text, ' '), t -> {md5int_spark('t')})"
_DUCK_TOKEN_HASHES = f"list_transform(string_split(text, ' '), t -> {md5int_duckdb('t')})"


def _simhash_spark(hashes: str) -> str:
    return (
        f"aggregate(sequence(0, {SIMHASH_BITS - 1}), CAST(0 AS BIGINT), (acc, b) -> acc + "
        f"CASE WHEN aggregate({hashes}, 0, (s, h) -> s + CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST(pow(2, b) AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    )


def _simhash_duckdb(hashes: str) -> str:
    return (
        "CAST("
        f"list_aggregate(list_transform(generate_series(0, {SIMHASH_BITS - 1}), b -> "
        f"CASE WHEN list_aggregate(list_transform({hashes}, h -> "
        f"CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END), 'sum') > 0 "
        f"THEN CAST(pow(2, b) AS BIGINT) ELSE CAST(0 AS BIGINT) END), 'sum')"
        " AS BIGINT)"
    )


@query(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_id, {_simhash_duckdb(_DUCK_TOKEN_HASHES)} AS simhash
    FROM documents
    """,
    tags=("dedup", "simhash", "llm-pipeline"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash fingerprint per document (token-hash majority vote
    per bit). One scan, no shuffle; the pair query below consumes it."""
    d = table(spark, sf_dir, "documents")
    # hash each token ONCE; the 48-bit majority vote re-traverses the
    # precomputed hash array, not the md5 expression (which an inlined
    # form would re-evaluate per bit — 48×)
    hv = d.select("doc_id", F.expr(_SPARK_TOKEN_HASHES).alias("hv"))
    return hv.select("doc_id", F.expr(_simhash_spark("hv")).alias("simhash"))


_SIMHASH_CHUNKS = 4
_CHUNK_BITS = SIMHASH_BITS // _SIMHASH_CHUNKS
_HAMMING_MAX = _SIMHASH_CHUNKS - 1  # pigeonhole: ≤3 differing bits ⇒ a chunk matches


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, {_simhash_duckdb(_DUCK_TOKEN_HASHES)} AS simhash FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    """,
    tags=("dedup", "simhash", "lsh", "llm-pipeline"),
)
def dedup_simhash_pairs(
    spark: SparkSession, sf_dir: str, max_bucket: int | None = None
) -> DataFrame:
    """Near-duplicate pairs with SimHash hamming distance ≤ 3.

    Candidate generation is the pigeonhole chunk join: split 48 bits into
    4 chunks of 12; any pair within distance 3 must agree on ≥1 whole
    chunk, so candidates come from 4 equi-joins on (chunk_id, chunk
    value) — never a cross join. The DuckDB oracle *is* the quadratic
    formulation, proving the optimized plan exact.

    ``max_bucket`` mirrors :func:`band_bucket_pairs` / ``max_posting``
    in :func:`dedup_ngram_jaccard`: the REGISTERED query runs uncapped
    (``None``) so it computes exactly what its oracle computes — a
    future corpus with a boilerplate-hot chunk value surfaces as an
    oversized bucket in the capped scale path, never as a silent hash
    mismatch. Scale deployments pass ``LSH_BUCKET_CAP``; the slice is
    the deterministic array_sort prefix, dropping only candidate pairs
    (hamming verification stays exact for every survivor).
    """
    d = table(spark, sf_dir, "documents")
    hv = d.select("doc_id", F.expr(_SPARK_TOKEN_HASHES).alias("hv"))
    s = hv.select("doc_id", F.expr(_simhash_spark("hv")).alias("simhash"))
    chunks = s.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_SIMHASH_CHUNKS - 1}),"
                f" c -> struct(c AS chunk_id, shiftright(simhash, c * {_CHUNK_BITS}) % {1 << _CHUNK_BITS} AS chunk_val))"
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk_id", "ck.chunk_val")
    # bucket-local pair generation instead of a self-join: one scan + one
    # shuffle of (chunk, doc_id, simhash); a self-join would scan and
    # recompute the simhash twice (no exchange reuse across aliases).
    # Pairs are emitted JVM-side from each bucket's collected doc list —
    # bucket sizes are LSH-small; a hot bucket at 100 TB means identical
    # chunk values from boilerplate, capped upstream by exact dedup.
    buckets = (
        chunks.groupBy("chunk_id", "chunk_val")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_bucket is not None:
        # same skew bound as the minhash bands: a boilerplate-hot chunk
        # value can't go quadratic. array_sort on the structs orders by
        # doc_id (first field), so the kept prefix is deterministic.
        buckets = buckets.withColumn(
            "ds", F.slice(F.array_sort("ds"), 1, max_bucket)
        )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) ->"
                " transform(filter(ds, y -> y.doc_id > x.doc_id),"
                " y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b,"
                " x.simhash AS sh_a, y.simhash AS sh_b))))"
            )
        ).alias("p")
    ).select("p.*").distinct()
    hamming = F.bit_count(F.expr("sh_a ^ sh_b"))
    return (
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _HAMMING_MAX)
    )


# ------------------------------------------------------ n-gram jaccard ----


#: Exact 3-gram Jaccard pair set at threshold 0.35 — the shared oracle of
#: the posting-list formulation (dedup_ngram_jaccard) and the
#: prefix-filter formulation (dedup_prefix_filter_jaccard): two physical
#: strategies, one answer.
_NGRAM_JACCARD_ORACLE = f"""
    WITH sh AS (
        SELECT doc_id, unnest({shingles_duckdb("string_split(text, ' ')")}) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.35
    """


@query(
    "dedup_ngram_jaccard",
    oracle=_NGRAM_JACCARD_ORACLE,
    tags=("dedup", "jaccard", "llm-pipeline"),
)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, max_posting: int | None = None
) -> DataFrame:
    """Exact 3-gram Jaccard similarity ≥ 0.35 via the inverted shingle
    index: pairs are generated only where a shingle is shared
    (posting-list self-join), intersection counts fall out of the same
    join, and union sizes come from a broadcast of per-doc shingle
    counts. Exact but worst-case quadratic — prefer ``dedup_minhash_lsh``
    above ~10^8 docs, or set ``max_posting`` to drop shingles shared by
    more than that many documents (stop-shingle removal: a shingle in
    half the corpus is boilerplate, not a similarity signal, and its
    posting list alone would emit a quadratic pair set). Dropping a
    posting list only LOWERS measured intersections while union sizes
    stay exact, so the capped output is always a SUBSET of the exact
    output — a one-sided approximation, never a false pair. The
    registered oracle-checked query runs uncapped (``None``)."""
    d = table(spark, sf_dir, "documents")
    # single scan: shingle once, carry the per-doc shingle count through
    # the posting-list explode so union sizes ride along with the pairs —
    # the self-join formulation scans and re-shingles the corpus 4 times
    # (two join sides + two size lookups)
    sh_arr = d.select("doc_id", F.expr(shingles_spark("split(text, ' ')")).alias("shingles"))
    sh = sh_arr.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("shingle")
    )
    buckets = (
        sh.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "n")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_posting is not None:
        buckets = buckets.filter(F.size("ds") <= max_posting)
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) ->"
                " transform(filter(ds, y -> y.doc_id > x.doc_id),"
                " y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b,"
                " x.n AS n_a, y.n AS n_b))))"
            )
        ).alias("p")
    ).select("p.*")
    inter = pairs.groupBy("doc_a", "doc_b", "n_a", "n_b").agg(F.count("*").alias("i"))
    jac = F.col("i").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    return (
        inter.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.35)
    )


#: containment threshold: the smaller document must share >= this
#: fraction of its shingles with the larger (Broder 1997's containment
#: coefficient c(A,B) = |A∩B| / |A| — the ASYMMETRIC near-dup measure).
_CONTAINMENT_T = 0.6


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({shingles_duckdb("string_split(text, ' ')")}) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / least(sa.n, sb.n) AS containment,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / least(sa.n, sb.n) >= {_CONTAINMENT_T}
    """,
    tags=("dedup", "containment", "decontamination", "llm-pipeline"),
)
def dedup_containment_pairs(
    spark: SparkSession, sf_dir: str, max_posting: int | None = None
) -> DataFrame:
    """Shingle CONTAINMENT pairs (Broder, SEQUENCES'97): the asymmetric
    near-duplicate measure c = |A∩B| / min(|A|,|B|) — 1.0 whenever the
    smaller document's shingles are a subset of the larger's, no matter
    how much larger the larger is. This is the QUOTE/SUBSET detector
    Jaccard structurally cannot be: a 100-word document wholly embedded
    in a 10 000-word page has Jaccard ≈ 0.01 but containment 1.0 — the
    shape that matters for benchmark decontamination (a test item quoted
    inside a crawl page) and boilerplate-envelope detection. Reported
    next to the pair's Jaccard so consumers see the asymmetry directly.

    Physical plan: the ``dedup_ngram_jaccard`` single-scan posting-list
    spine verbatim (shingle once, carry per-doc sizes through the
    explode, count intersections out of the bucket pair emission) with
    the containment ratio replacing the union ratio — one corpus scan,
    pairs only where a shingle is shared, never all-pairs. Both ratios
    are a single integer-division-to-double op, so DuckDB matches
    bit-for-bit.

    100 TB shape: same as the Jaccard tier — worst-case quadratic in
    per-shingle duplicate density; production sets ``max_posting``
    (stop-shingle removal, one-sided: capping only LOWERS measured
    intersections, so capped output ⊆ exact output — property-pinned
    against a Python posting-list mirror on arbitrary corpora AND as a
    subset/monotonicity law in tests/test_property_blocks.py) or moves
    to the prefix-filter/minhash tiers for candidate generation and
    keeps this as the verify stage. The registered oracle-checked face
    runs uncapped (``None``).

    Reference parity: beyond the reference — no text-similarity surface
    exists there (SURVEY.md §2); extends the exact-pair family
    (jaccard/simhash/prefix-filter) with the asymmetric member.
    """
    d = table(spark, sf_dir, "documents")
    sh_arr = d.select(
        "doc_id", F.expr(shingles_spark("split(text, ' ')")).alias("shingles")
    )
    sh = sh_arr.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("shingle")
    )
    buckets = (
        sh.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "n")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_posting is not None:
        buckets = buckets.filter(F.size("ds") <= max_posting)
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) ->"
                " transform(filter(ds, y -> y.doc_id > x.doc_id),"
                " y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b,"
                " x.n AS n_a, y.n AS n_b))))"
            )
        ).alias("p")
    ).select("p.*")
    inter = pairs.groupBy("doc_a", "doc_b", "n_a", "n_b").agg(F.count("*").alias("i"))
    cont = F.col("i").cast("double") / F.least("n_a", "n_b")
    jac = F.col("i").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    return (
        inter.select(
            "doc_a", "doc_b", cont.alias("containment"), jac.alias("jaccard")
        )
        .filter(F.col("containment") >= _CONTAINMENT_T)
    )


@query(
    "dedup_prefix_filter_jaccard",
    oracle=_NGRAM_JACCARD_ORACLE,
    tags=("dedup", "jaccard", "prefix-filter", "llm-pipeline"),
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.35 via PREFIX FILTERING (Bayardo et al.,
    "Scaling Up All Pairs Similarity Search", WWW'07) — the scale path
    that replaces ``dedup_ngram_jaccard``'s full posting-list self-join.

    Every doc's shingle set is ordered by one corpus-global key
    (document frequency ascending, shingle ascending — rarest first);
    a pair with Jaccard ≥ t MUST share a token inside each side's first
    |x| − ⌈t·|x|⌉ + 1 tokens, so candidates are generated only from
    PREFIX-token buckets and then verified exactly against the full
    shingle sets. Same oracle as the posting-list formulation: two
    physical strategies, provably one answer.

    Why this is the 100 TB shape: the posting-list join explodes on
    boilerplate — one shingle shared by k docs emits k² pairs, so the
    exact form needs a stop-shingle cap that silently weakens it. Under
    the df-ascending order those heavy shingles sort to the END of
    every doc and almost never enter a prefix; bucket fan-out
    concentrates where df is small (k² of a small k), with NO
    approximation. Stages: one shuffle to count df, one keyed shuffle
    to re-sort each doc's tokens, candidate generation over prefix
    buckets, a distinct, and two doc-keyed joins carrying the full
    arrays only for surviving candidates. Verification cost is
    O(candidates), and candidates ⊇ answers shrinks toward the answer
    set as t rises.
    """
    t = 0.35
    d = table(spark, sf_dir, "documents")
    sh_arr = d.select(
        "doc_id", F.expr(shingles_spark("split(text, ' ')")).alias("shingles")
    )
    tok = sh_arr.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("shingle")
    )
    df_counts = tok.groupBy("shingle").agg(F.count("*").alias("df"))
    # corpus-global token order: (df asc, shingle asc) — struct sort
    ordered = (
        tok.join(df_counts, "shingle")
        .groupBy("doc_id", "n")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("toks"))
    )
    plen = F.greatest(
        F.col("n") - F.ceil(F.lit(t) * F.col("n")).cast("int") + F.lit(1), F.lit(1)
    )
    prefix = ordered.select(
        "doc_id", "n", F.explode(F.slice(F.col("toks.shingle"), F.lit(1), plen)).alias("shingle")
    )
    buckets = (
        prefix.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "n")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    cand = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) ->"
                    " transform(filter(ds, y -> y.doc_id > x.doc_id),"
                    " y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b,"
                    " x.n AS n_a, y.n AS n_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )
    sets = sh_arr.select("doc_id", "shingles")
    verified = (
        cand.join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
        .select(
            "doc_a", "doc_b", "n_a", "n_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
        )
    )
    jac = F.col("i").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    return verified.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= t
    )


@query(
    "dedup_keep_latest",
    oracle="""
    SELECT user_id, ts AS last_ts, event_id AS last_event_id, value AS last_value
    FROM (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("dedup", "argmax", "cdc"),
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-newest-version-per-key — the CDC/upsert compaction at the
    head of every incremental ingest.

    Implemented as an ARGMAX AGGREGATE, ``max(struct(ts, event_id,
    payload))``: struct comparison orders by (ts, event_id) — event_id
    unique, so the winner is total-order deterministic — and the payload
    rides along with the winner. Unlike the row_number() formulation
    (which the oracle uses, proving equivalence), the aggregate form is
    partial-aggregable: each map task pre-reduces to one candidate row
    per key before the shuffle, so at 100 TB the exchange carries one
    row per (partition × key), not the full history.
    """
    ev = table(spark, sf_dir, "events", fan_out=False)
    latest = (
        ev.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
    )
    return latest.select(
        "user_id",
        F.col("m.ts").alias("last_ts"),
        F.col("m.event_id").alias("last_event_id"),
        F.col("m.value").alias("last_value"),
    )


# ------------------------------------------------- duplicate clusters ----


#: Recursive-CTE duplicate clusters over the simhash pair set — shared
#: by the dedup_clusters and corpus_dedup_apply oracles.
_CLUSTERS_CTE = f"""
    WITH RECURSIVE s AS (
        SELECT doc_id, {_simhash_duckdb(_DUCK_TOKEN_HASHES)} AS simhash FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT src AS doc_id, src AS node FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON r.node = e.src
    ),
    clusters AS (
        SELECT doc_id, MIN(node) AS cluster_id FROM reach GROUP BY doc_id
    )"""


@query(
    "dedup_clusters",
    oracle=f"""{_CLUSTERS_CTE}
    SELECT doc_id, cluster_id FROM clusters
    """,
    tags=("dedup", "clustering", "iterative", "llm-pipeline"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from pairwise near-dup edges — the transitive
    closure a real dedup pipeline needs between "A~B, B~C" pairs and
    "keep one of {A,B,C}": connected components, labeling every member
    with the smallest doc_id in its component (that minimum is the
    keeper).

    Alternating large-star/small-star edge contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): each round rewrites
    every edge toward the minimum of a local neighborhood, collapsing
    any component to a star centered at its minimum id in O(log n)
    rounds REGARDLESS of diameter — plain min-label propagation would
    need diameter rounds, and while dup cliques are shallow (diameter
    1-2), a chained near-dup corpus (v1~v2~...~vk of an edited document)
    builds exactly the path graphs that make propagation unbounded.
    Every round is two keyed groupBy+join shuffles over the edge list;
    ``localCheckpoint`` truncates lineage so the plan doesn't grow with
    iterations, and convergence is ASSERTED (checksum fixpoint), never
    silently truncated. The DuckDB oracle computes full reachability
    with a recursive CTE and takes per-node minima — same fixpoint,
    proving the contraction exact.
    """
    pairs = dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs)


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected canonical form: distinct (least, greatest) pairs,
    self-loops dropped."""
    u, v = edges.columns
    return (
        edges.select(
            F.least(F.col(u), F.col(v)).alias("u"),
            F.greatest(F.col(u), F.col(v)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _symmetric(canon: DataFrame) -> DataFrame:
    return canon.union(canon.select(F.col("v"), F.col("u"))).toDF("src", "dst")


def _large_star(sym: DataFrame) -> DataFrame:
    """large-star(u): connect every neighbor v > u to min(Γ(u) ∪ {u})."""
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("md"))
        .select("src", F.least(F.col("md"), F.col("src")).alias("m"))
    )
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("u"), F.col("m").alias("v"))
    )


def _small_star(sym: DataFrame) -> DataFrame:
    """small-star(u): connect u and its neighbors v < u to their min."""
    le = sym.filter(F.col("dst") < F.col("src"))
    mins = le.groupBy("src").agg(F.min("dst").alias("m"))
    rewired = (
        le.join(mins, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("u"), F.col("m").alias("v"))
    )
    centers = mins.select(F.col("src").alias("u"), F.col("m").alias("v"))
    return rewired.union(centers)


def connected_components(pairs: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction — O(log n) rounds independent of graph diameter.

    ``pairs`` has two integer id columns (one row per undirected edge);
    returns (doc_id, cluster_id) for every node that appears in an edge,
    cluster_id = the component's minimum id. Neither star operation ever
    drops a node from the edge set, so the label pass at the end covers
    exactly the input's nodes. Fixpoint is detected by an edge-set
    checksum (count + xxhash sum, observed by each round's checkpoint
    job instead of a full except/anti-join) and ASSERTED: if
    ``max_rounds`` rounds don't converge (astronomically beyond
    O(log n) for any real input), this raises rather than returning
    partial labels. See
    :func:`dedup_clusters` for the scale rationale.
    """
    checksum = (
        F.count(F.lit(1)).alias("n"),
        # decimal staging: ANSI sum of raw int64 hashes would overflow
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    )
    edges, prev = checkpoint(_canonical_edges(pairs), *checksum)
    converged = False
    for _ in range(max_rounds):
        edges = _canonical_edges(_large_star(_symmetric(edges))).localCheckpoint()
        edges, cur = checkpoint(_canonical_edges(_small_star(_symmetric(edges))), *checksum)
        if cur == prev:  # star rounds are deterministic functions of the
            converged = True  # edge set — an unchanged set is a fixpoint
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    sym = _symmetric(edges)
    return (
        sym.groupBy("src")
        .agg(F.min("dst").alias("nb"))
        .select(
            F.col("src").alias("doc_id"),
            F.least(F.col("src"), F.col("nb")).alias("cluster_id"),
        )
    )


@query(
    "corpus_dedup_apply",
    oracle=f"""{_CLUSTERS_CTE}
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    """,
    tags=("dedup", "clustering", "llm-pipeline"),
)
def corpus_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup a corpus consumer actually runs: materialize
    the DEDUPLICATED corpus — every singleton document plus exactly one
    keeper (the minimum doc_id) per near-duplicate cluster.

    Composes the pairwise tier (:func:`dedup_simhash_pairs`) with the
    transitive closure (:func:`connected_components`) and applies the
    verdict back to the corpus with one left join. The label table is
    O(docs-in-clusters) — deliberately UNHINTED: on a real web corpus
    (near-dup fractions of 30–60 %) the verdict set is billions of
    narrow rows and a forced broadcast hint would be a forced OOM.
    Because the labels arrive as a checkpointed RDD (no size stats),
    the planner keeps a sort-merge join of the two-column label table
    against the projected corpus scan — one exchange each side, no
    driver materialization, the exact plan that holds at 100 TB (AQE's
    empty-partition demotion heuristic declines the broadcast at test
    SF; a hint would override it, which is precisely what the engine's
    hint rule forbids for corpus-scaled frames).
    """
    pairs = dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    clusters = connected_components(pairs).withColumnRenamed("doc_id", "c_doc_id")
    d = table(spark, sf_dir, "documents")
    return (
        d.join(clusters, d.doc_id == clusters.c_doc_id, "left")
        .filter(F.col("c_doc_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
        .select("doc_id", "lang", "source", "n_chars")
    )


@query(
    "dedup_incremental_new_batch",
    oracle=f"""
    WITH tagged AS (
        SELECT doc_id, md5(text) AS h,
               ({md5int_duckdb('CAST(doc_id AS VARCHAR)')}) % 5 = 0 AS is_new
        FROM documents
    ),
    hist AS (SELECT DISTINCT h FROM tagged WHERE NOT is_new),
    new_batch AS (SELECT doc_id, h FROM tagged WHERE is_new),
    survivors AS (
        SELECT n.doc_id, n.h FROM new_batch n
        WHERE NOT EXISTS (SELECT 1 FROM hist x WHERE x.h = n.h)
    ),
    kept AS (
        SELECT h, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_in_batch
        FROM survivors GROUP BY h
    )
    SELECT
        (SELECT COUNT(*) FROM new_batch) AS n_new_docs,
        (SELECT COUNT(*) FROM new_batch) -
            (SELECT COUNT(*) FROM survivors) AS n_dropped_vs_history,
        (SELECT COUNT(*) FROM survivors) -
            (SELECT COUNT(*) FROM kept) AS n_dropped_within_batch,
        (SELECT COUNT(*) FROM kept) AS n_admitted
    """,
    tags=("dedup", "incremental", "llm-pipeline"),
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact dedup — the shape a daily ingest actually runs:
    today's batch (a deterministic 20 % hash-slice standing in for the
    new arrivals) dedups against the HISTORICAL corpus's content-hash
    set via anti-join, then within itself by min-doc_id argmax — and
    reports the funnel (arrived → dropped-vs-history →
    dropped-within-batch → admitted).

    Nothing rescans history's text: the historical side reduces to its
    DISTINCT 16-byte hashes once (in production, a maintained hash
    table; at 100 TB the anti-join shuffles only (hash, id) pairs and
    AQE picks broadcast when the day's batch is small). Complements
    ``dedup_exact`` (full-corpus grouping) and ``corpus_dedup_apply``
    (verdict join-back) with the day-over-day admission path.
    """
    d = table(spark, sf_dir, "documents", fan_out=False)
    tagged = d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("h"),
        (F.expr(md5int_spark("CAST(doc_id AS STRING)")) % 5 == 0).alias("is_new"),
    )
    hist = tagged.filter(~F.col("is_new")).select("h").distinct()
    new_batch = tagged.filter(F.col("is_new")).select("doc_id", "h")
    survivors = new_batch.join(hist, "h", "left_anti")
    kept = survivors.groupBy("h").agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_in_batch")
    )
    n_new = new_batch.agg(F.count("*").alias("n_new_docs"))
    n_surv = survivors.agg(F.count("*").alias("_ns"))
    n_kept = kept.agg(F.count("*").alias("_nk"))
    return (
        n_new.crossJoin(n_surv)
        .crossJoin(n_kept)
        .select(
            "n_new_docs",
            (F.col("n_new_docs") - F.col("_ns")).alias("n_dropped_vs_history"),
            (F.col("_ns") - F.col("_nk")).alias("n_dropped_within_batch"),
            F.col("_nk").alias("n_admitted"),
        )
    )


# --------------------------------------- duplicated substring spans ----

#: ExactSubstr window length: 8 tokens. Lee et al. use 50 UTF-8 bytes;
#: 8 whitespace tokens is the same order of magnitude on this corpus.
_SPAN_K = 8


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ),
    gr AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(arr) - {_SPAN_K} + 1),
                      i -> {{'pos': i,
                             'h': {md5int_duckdb(f"array_to_string(arr[i:i+{_SPAN_K - 1}], ' ')")}}})) AS g
        FROM toks
    ),
    grams AS (SELECT doc_id, g.pos AS pos, g.h AS h FROM gr),
    dup_h AS (
        SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dup_pos AS (
        SELECT g.doc_id, g.pos,
               CASE WHEN LAG(g.pos) OVER w IS NULL
                         OR g.pos > LAG(g.pos) OVER w + {_SPAN_K}
                    THEN 1 ELSE 0 END AS is_new
        FROM grams g JOIN dup_h USING (h)
        WINDOW w AS (PARTITION BY g.doc_id ORDER BY g.pos)
    ),
    islands AS (
        SELECT doc_id, pos,
               SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS island
        FROM dup_pos
    ),
    spans AS (
        SELECT doc_id, island,
               MIN(pos) AS span_start,
               MAX(pos) + {_SPAN_K} - 1 AS span_end
        FROM islands GROUP BY doc_id, island
    )
    SELECT s.doc_id,
           CAST(len(t.arr) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_dup_spans,
           CAST(SUM(span_end - span_start + 1) AS BIGINT) AS dup_tokens,
           CAST(SUM(span_end - span_start + 1) AS DOUBLE)
             / len(t.arr) AS dup_fraction
    FROM spans s JOIN toks t ON s.doc_id = t.doc_id
    GROUP BY s.doc_id, len(t.arr)
    """,
    tags=("dedup", "substring", "llm-pipeline"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicated-substring detection, ExactSubstr-style (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): find every maximal token span (≥ 8 tokens) that occurs
    verbatim in MORE THAN ONE document, and score each affected doc by
    its duplicated-token fraction — the scrubbing signal that catches
    verbatim boilerplate/quotation reuse that whole-doc and near-dup
    tiers miss (a doc 5 % similar overall can still contain a 200-token
    verbatim lift).

    Lee et al. build a corpus-wide suffix array — inherently
    sequential. The distributed re-expression: fingerprint every
    k-token window (rolling 60-bit hash), keep hashes seen in ≥2
    DISTINCT docs (one partial-aggregable count — the corpus-wide
    'suffix table' becomes a shuffle, not a sort), then merge each
    doc's surviving window positions into maximal islands with the
    gaps-and-islands window (new island when the next start clears the
    previous window's end). Each stage is a keyed shuffle or a per-doc
    window on positions — no global structure; collisions of the
    60-bit hash are ~n²/2⁶¹ (≈10⁻⁴ at a billion windows) and only
    create false POSITIVE spans, the right direction for a scrub gate.

    Output: per affected doc, its token count, the number of maximal
    duplicated spans, duplicated-token total, and fraction (single
    int÷int division — deterministic).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("arr"))
    # docs shorter than K tokens host no window: filter them BEFORE the
    # sequence (Spark's sequence(1, 0) counts DOWN — [1, 0] — rather
    # than returning empty as DuckDB's generate_series does)
    grams = toks.filter(F.size("arr") >= _SPAN_K).select(
        "doc_id",
        F.size("arr").alias("n_tokens"),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(arr) - {_SPAN_K} + 1),"
                f" i -> struct(i AS pos,"
                f" {md5int_spark(f'''concat_ws(' ', slice(arr, i, {_SPAN_K}))''')} AS h))"
            )
        ).alias("g"),
    ).select("doc_id", "n_tokens", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    dup_h = (
        grams.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup_pos = grams.join(dup_h, "h", "left_semi")
    wo = Window.partitionBy("doc_id").orderBy("pos")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = dup_pos.select(
        "doc_id",
        "n_tokens",
        "pos",
        F.when(
            F.lag("pos").over(wo).isNull()
            | (F.col("pos") > F.lag("pos").over(wo) + _SPAN_K),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_new"),
    ).withColumn("island", F.sum("is_new").over(wrun))
    spans = marked.groupBy("doc_id", "n_tokens", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + _SPAN_K - 1).alias("span_end"),
    )
    span_len = F.col("span_end") - F.col("span_start") + 1
    return spans.groupBy("doc_id", "n_tokens").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(span_len).alias("dup_tokens"),
        (F.sum(span_len).cast("double") / F.col("n_tokens").cast("double")).alias("dup_fraction"),
    ).select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "n_dup_spans",
        F.col("dup_tokens").cast("bigint").alias("dup_tokens"),
        "dup_fraction",
    )
