"""Regenerate ``digests.json`` from the DuckDB oracle.

For every registered query a workload runs, the query's oracle SQL is run
by DuckDB over the generated catalog at each scale the benchmark uses, and
the canonical digest of the result is stored. Run it only when the
catalog generator or the set of queries changes:

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import check  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def oracle_digests(sf_dir: str, names: list[str]) -> dict[str, dict]:
    import duckdb

    from cooler_mapreduce_spark.registry import load_all
    from cooler_mapreduce_spark.sources.catalog import TABLES

    specs = load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return {n: check.frame_digest(con.execute(specs[n].oracle).df()) for n in names}


def main() -> int:
    os.makedirs(run.WORK, exist_ok=True)
    wanted: dict[str, set[str]] = {}
    for w in workloads.workloads(0).values():
        wanted.setdefault(w.sf, set()).update(w.queries)
        wanted.setdefault(run.SMOKE_SF, set()).update(w.queries)
    out = {}
    for sf, names in sorted(wanted.items()):
        sf_dir, _ = run._catalog(sf)
        out[f"sf{sf}"] = oracle_digests(sf_dir, sorted(names))
        print(f"sf{sf}: {len(names)} digests", file=sys.stderr)
    with open(check.DIGEST_FILE, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
