#!/usr/bin/env python
"""Check registered queries against their DuckDB oracles the way the
driver does: from an externally built ``local[8]`` / 8-shuffle-partition
session, through the ``__spark_entry__`` contract (``entry``,
``queries``, ``oracle_sql``).

Usage: python scripts/verify.py [--sf DIR] [name ...]
(default sf0.01 and every registered query). Oracled queries are
hash-compared (``tests/oracle.py:assert_matches_oracle``); the rest get
the rows-only check. Prints HASH-GREEN, rows-only or FAIL per query, then
a SUMMARY line; exits non-zero on any failure.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="scale-factor directory")
    ap.add_argument("names", nargs="*", help="queries to check (default: all)")
    args = ap.parse_args()
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        # the default 1g driver heap survives sf0.01 but kills the JVM at
        # sf0.1's graph tier (checkpoint blocks live in the single local
        # JVM); match the engine session's allocation
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as e
    from tests.oracle import assert_matches_oracle

    qs, osql = e.queries(), e.oracle_sql()
    names = args.names or list(qs)
    failed = [] if e.entry(spark).collect() else ["entry"]
    n_hash = n_rows = 0
    for name in names:
        try:
            df = qs[name](spark, args.sf)
            if name in osql:
                assert_matches_oracle(df, osql[name], args.sf, name)
                n_hash += 1
                print(f"{name} HASH-GREEN", flush=True)
            else:
                n = df.count()
                n_rows += 1
                print(f"{name} rows-only n={n}", flush=True)
        except Exception as ex:  # noqa: BLE001 — report every query, then fail
            failed.append(name)
            print(f"{name} FAIL {str(ex)[:200]}", flush=True)
    print(
        f"SUMMARY total={len(names)} hash_green={n_hash} rows_only={n_rows} "
        f"failed={len(failed)} {failed}"
    )
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
