#!/usr/bin/env python
"""Reproduce the reference's own benchmark shape and compare throughput.

The reference's only published workload (BASELINE.md): word count over
replicated story text, best configuration 9.6 MB in 4.42 s ≈ 2.17 MB/s on
4 workers (reference benchmark.py, results_table.md:15). This script runs
the SAME shape — word count over a ~9.6 MB newline-delimited text file —
through both engine tiers and prints MB/s side by side:

- DataFrame tier (`explode`/`groupBy`, whole-stage codegen), and
- MR-compat tier (the reference's own word_count.py job file run
  unmodified on RDDs — same per-record Python cost profile as the
  reference's executor).

Run from repo root: ``python scripts/bench_reference_shape.py``
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from cooler_mapreduce_spark.functions.text import word_tokens  # noqa: E402
from cooler_mapreduce_spark.mr import run_job, text_records, to_tsv_lines  # noqa: E402
from cooler_mapreduce_spark.session import get_session  # noqa: E402

TARGET_MB = 9.6
REFERENCE_BEST_S = 4.42  # results_table.md:15 (9.6 MB, 4 maps / 8 reduces)
REFERENCE_BEST_MBPS = 2.170


def _wc_map(key, text):
    for word in text.strip().lower().split():
        word = word.strip(".,!?;:\"'-")
        if word:
            yield (word, 1)


def _sum_reduce(key, values):
    return sum(values)


def main() -> None:
    spark = get_session("ref-shape-bench")
    # build a ~9.6 MB input the way the reference does: replicate story
    # text (reference scripts/generate_benchmark_inputs.py) — here the
    # documents fixture's text, which has the same prose shape
    docs = [r["text"] for r in spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet").select("text").collect()]
    target = int(TARGET_MB * 1024 * 1024)
    with tempfile.NamedTemporaryFile("w", suffix=".txt", delete=False) as f:
        n = 0
        while n < target:
            for line in docs:
                f.write(line + "\n")
                n += len(line) + 1
                if n >= target:
                    break
        path = f.name
    mb = os.path.getsize(path) / 1e6

    # warm JVM + python workers so both tiers measure steady-state
    spark.read.text(path).count()
    spark.sparkContext.parallelize(range(64), 32).map(lambda x: x).count()

    # split the single text file across all cores — the analogue of the
    # reference's num_map_tasks knob (its best config used 4 maps; a real
    # deployment reads many files and splits natively)
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(64 * 1024, target // cores)))
    # min of two runs per tier (like bench.py): the reference's numbers
    # also come from pre-started long-lived workers, so steady-state vs
    # steady-state is the fair comparison — run 1 here pays whole-stage
    # codegen compilation, a per-plan one-time cost
    t_df = float("inf")
    for _ in range(2):
        df = spark.read.text(path)
        t0 = time.perf_counter()
        df.select(F.explode(word_tokens("value")).alias("w")).groupBy("w").count().write \
            .format("noop").mode("overwrite").save()
        t_df = min(t_df, time.perf_counter() - t0)

    t_mr = float("inf")
    for _ in range(2):
        kv = text_records(spark.sparkContext, path, cores)
        t0 = time.perf_counter()
        out = run_job(spark, kv, _wc_map, _sum_reduce, combine_fn=_sum_reduce)
        to_tsv_lines(out).count()  # materialize incl. the reference's TSV render
        t_mr = min(t_mr, time.perf_counter() - t0)

    os.unlink(path)
    print(f"input: {mb:.1f} MB (reference benchmark shape)")
    print(f"reference best     : {REFERENCE_BEST_S:6.2f} s  {REFERENCE_BEST_MBPS:8.2f} MB/s")
    print(f"DataFrame tier     : {t_df:6.2f} s  {mb / t_df:8.2f} MB/s  ({mb / t_df / REFERENCE_BEST_MBPS:.0f}x)")
    print(f"MR-compat tier     : {t_mr:6.2f} s  {mb / t_mr:8.2f} MB/s  ({mb / t_mr / REFERENCE_BEST_MBPS:.0f}x)")
    spark.stop()


if __name__ == "__main__":
    main()
