"""Seeded inputs for the benchmark.

``write_catalog`` writes the ten catalog tables (TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``) as one single-row-group parquet
file each, with the row counts, types and value domains of the project's
sf0.1 test data (TESTDATA.md). ``write_corpus`` writes the Zipf text corpus
the MapReduce job files read. Both depend only on their arguments, so the
same seed always yields the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

#: Seed of the catalog tables. The tables are fixed so the stored result
#: digests (digests.json) stay valid; the run seed varies op order and the
#: text corpus.
CATALOG_SEED = 42

#: Row counts per unit scale factor (sf0.1 = 1/10 of these).
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "old", "red", "large", "hot", "cold", "small", "new"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_DAY = np.timedelta64(1, "D")


def _n(table: str, sf: float) -> int:
    return max(1, int(round(_ROWS[table] * sf)))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo) / _DAY)
    return (lo + rng.integers(0, span + 1, n) * _DAY).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(_DOC_WORDS, dtype=object)
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # near duplicates (an earlier document plus one token) and a few exact
    # copies, so the dedup tiers have something to find
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        text[i] = text[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        text[i] = text[int(rng.integers(0, i))]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": _pick(rng, _LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.asarray([len(t) for t in text], dtype=np.int64),
        }
    )


def catalog_frames(sf: float, seed: int = CATALOG_SEED) -> dict[str, pd.DataFrame]:
    """The ten catalog tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    nc, ns, npart = _n("customer", sf), _n("supplier", sf), _n("part", sf)
    no, nl, ne = _n("orders", sf), _n("lineitem", sf), _n("events", sf)
    nemb = _n("embeddings", sf)
    i32 = np.int32
    out: dict[str, pd.DataFrame] = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": np.arange(25, dtype=i32) % 5,
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(nc, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": rng.integers(0, 25, nc).astype(i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": _pick(rng, _SEGMENTS, nc),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(ns, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": rng.integers(0, 25, ns).astype(i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(npart, dtype=np.int64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(_pick(rng, _PART_ADJ, npart), _pick(rng, _PART_NOUN, npart))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
                "p_type": _pick(rng, _PART_TYPES, npart),
                "p_size": rng.integers(1, 51, npart).astype(i32),
                "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(no, dtype=np.int64),
                "o_custkey": rng.integers(0, nc, no).astype(np.int64),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
                "o_orderpriority": _pick(rng, _PRIORITIES, no),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
                "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
                "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, nl).astype(i32),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
                "l_discount": np.round(rng.integers(0, 21, nl) // 2 / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 17, nl) // 2 / 100.0, 2),
                "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
                "l_linestatus": _pick(rng, ["F", "O"], nl),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
            }
        ),
    }
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, ne // 67), ne).astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, _n("documents", sf))
    vecs = rng.standard_normal((nemb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(nemb, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, nemb).astype(i32),
        }
    )
    return out


def write_catalog(sf_dir: str, sf: float) -> None:
    """Write the catalog at ``sf`` into ``sf_dir`` (atomically: a crashed
    write never leaves a half-built directory behind)."""
    tmp = sf_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, frame in catalog_frames(sf).items():
        frame.to_parquet(f"{tmp}/{name}.parquet", index=False, row_group_size=len(frame) + 1)
    os.replace(tmp, sf_dir)


# ------------------------------------------------------------ corpus ----

_PUNCT = list(".,!?;:\"'-")


def corpus_vocab(size: int) -> list[str]:
    """Deterministic pseudo-words: ``w0``, ``w1`` ... spelled with letters."""
    letters = "etaoinshrdlucmfwypvbgkjqxz"
    out = []
    for i in range(size):
        s, k = "", i
        while True:
            s += letters[k % 26]
            k //= 26
            if k == 0:
                break
        out.append(s)
    return out


def corpus_lines(seed: int, n_lines: int, vocab_size: int = 20_000, zipf_a: float = 1.2) -> list[str]:
    """Zipf-distributed text lines with mixed case and stray punctuation,
    so the word-count normalisation path (lower + strip) does real work."""
    rng = np.random.default_rng(seed)
    vocab = np.asarray(corpus_vocab(vocab_size), dtype=object)
    lengths = rng.integers(0, 17, n_lines)
    ranks = rng.zipf(zipf_a, int(lengths.sum()))
    ranks = np.where(ranks > vocab_size, rng.integers(1, vocab_size + 1, ranks.size), ranks) - 1
    words = vocab[ranks]
    upper = rng.random(words.size) < 0.1
    words[upper] = [w.capitalize() for w in words[upper]]
    punct = rng.random(words.size) < 0.08
    words[punct] = [w + _PUNCT[j] for w, j in zip(words[punct], rng.integers(0, len(_PUNCT), int(punct.sum())))]
    lines, pos = [], 0
    for k in lengths:
        lines.append(" ".join(words[pos : pos + k]))
        pos += k
    return lines


def write_corpus(path: str, seed: int, n_lines: int) -> int:
    """Write the corpus to ``path``; returns its size in bytes."""
    with open(path, "w") as fh:
        fh.write("\n".join(corpus_lines(seed, n_lines)))
        fh.write("\n")
    return os.path.getsize(path)
