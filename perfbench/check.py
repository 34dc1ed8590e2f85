"""Output checks.

Result frames are reduced to a digest of their canonical rows: columns
sorted by name, every cell mapped to an engine-independent form (floats by
their exact ``repr``, timestamps in ISO form, NULL and NaN as markers), rows
sorted. This is the canonicalisation of the project's DuckDB oracle harness,
so a digest taken from the oracle's output and one taken from Spark's agree
exactly when the two results are equal.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import os
from collections import Counter

import numpy as np
import pandas as pd

DIGEST_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def _cell(v):
    if v is None:
        return "∅"
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (pd.Timestamp, _dt.datetime, _dt.date)):
        return v.isoformat()
    return str(v)


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if not isinstance(v, (np.ndarray, list, tuple, dict)):
        try:
            if pd.isna(v):
                return "∅"
        except (TypeError, ValueError):
            pass
    return _cell(v)


def frame_digest(df: pd.DataFrame) -> dict:
    """Row count plus a sha256 over the sorted canonical rows."""
    cols = sorted(df.columns)
    rows = sorted(tuple(_canon(v) for v in row) for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def load_digests(path: str = DIGEST_FILE) -> dict:
    with open(path) as fh:
        return json.load(fh)


def compare(name: str, got: dict, want: dict | None) -> str | None:
    """None when ``got`` matches ``want``, else a one-line reason."""
    if want is None:
        return f"{name}: no stored digest"
    if got != want:
        return f"{name}: output differs (got {got}, want {want})"
    return None


# ----------------------------------------------- MapReduce references ----

_STRIP = ".,!?;:\"'-"


def _tokens(line: str):
    for word in line.strip().lower().split():
        word = word.strip(_STRIP)
        if word:
            yield word


def word_counts(lines: list[str]) -> Counter:
    """What the word-count job file must produce, counted in plain Python."""
    c: Counter = Counter()
    for line in lines:
        c.update(_tokens(line))
    return c


def read_tsv_parts(out_dir: str) -> dict[str, str]:
    """key -> value from the ``part-*`` files of a saveAsTextFile output."""
    got: dict[str, str] = {}
    for fn in sorted(os.listdir(out_dir)):
        if fn.startswith("part-"):
            with open(os.path.join(out_dir, fn)) as fh:
                for line in fh:
                    k, v = line.rstrip("\n").split("\t", 1)
                    if k in got:
                        raise ValueError(f"key {k!r} written twice")
                    got[k] = v
    return got
