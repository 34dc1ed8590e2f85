#!/usr/bin/env python
"""Dump .explain("formatted") for named queries to <out_dir>/<q>_<tag>.txt.

Usage: python scripts/dump_plans.py <out_dir> <tag> [query ...]
With no query names, dumps the bench.py batch headline set.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir, tag = sys.argv[1], sys.argv[2]
    from bench import HEADLINE
    from cooler_mapreduce_spark.registry import load_all
    from cooler_mapreduce_spark.session import get_session

    names = sys.argv[3:] or list(HEADLINE)
    spark = get_session("plan-dump", cpus=8)
    specs = load_all()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = specs[name].fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {name}_{tag}.txt", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
