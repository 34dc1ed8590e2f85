"""MapReduce-compatibility layer — the reference's user-function surface on RDDs.

The reference's *entire* query API is a Python job file exposing
``map_fn(key, value)`` (generator of pairs), ``reduce_fn(key, values)``
(scalar **or** iterator of pairs — duck-typed, reference
task_executor.py:230-241), and an optional ``combine_fn(key, values)``
(designed in reference design.md:197-245, never wired into its executor —
SURVEY.md §2.1 #5). This module runs those job files unmodified on Spark:

    scan → flatMap(map_fn) → [per-partition combine] → groupByKey
         → reduce adapter → sortByKey (canonical order, task_executor.py:226)

Deliberate differences from the reference (SURVEY.md §7 "define away"):

- **Deterministic partitioning.** The reference routes keys with salted
  ``hash(str(key)) % R`` and never pins PYTHONHASHSEED, so the same key can
  land in two partitions across worker processes (duplicate output keys —
  a latent correctness bug, SURVEY.md §1.3). Spark's ``portable_hash`` is
  process-independent; we inherit correctness by construction.
- **Spill-safe.** The reference buffers each map task's entire output in
  memory; Spark's shuffle spills. ``groupByKey`` value lists are the one
  remaining per-key memory hazard — exactly why ``combine_fn`` (or the
  DataFrame tier) is the recommended path for hot keys at 100 TB.

Scale notes: map-side combining bounds shuffle volume by (distinct keys ×
partitions); the explicit ``num_reduce`` knob maps to shuffle partitions
(the reference's R); job-file functions ship as *source text* and are
exec'd once per executor process (no module-import coupling). Per record
the only cost is the user's own Python, as in the reference. Per task
PySpark adds a fixed worker set-up cost; ``session.get_session`` keeps it
small through :mod:`.worker_daemon` (about 20 ms of worker CPU per task
instead of about 230 ms on a 4-vCPU host), so a job's fixed cost scales
with its task count, not its data.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Iterator
from typing import Any

from pyspark import SparkContext
from pyspark.rdd import RDD, portable_hash
from pyspark.sql import DataFrame, SparkSession


def _adapt_map(map_fn: Callable) -> Callable[[tuple[Any, Any]], Iterator[tuple[Any, Any]]]:
    """Normalize both reference map APIs to key-value → pair-iterator.

    Current API: ``map_fn(key, value) -> Iterator[(k, v)]`` (reference
    design.md:71-82). Older API (weather_stats.py:10-41 — predates the
    current executor, kept runnable here): ``map_fn(text) -> [partition]``
    where the return is a *list of lists* of pairs.
    """
    try:
        nargs = len(inspect.signature(map_fn).parameters)
    except (TypeError, ValueError):
        nargs = 2

    def run(kv: tuple[Any, Any]) -> Iterator[tuple[Any, Any]]:
        out = map_fn(kv[0], kv[1]) if nargs >= 2 else map_fn(kv[1])
        if out is None:
            return
        for item in out:
            # old API: item is a whole partition (list of pairs)
            if isinstance(item, list):
                yield from item
            else:
                yield item

    return run


def _adapt_reduce(reduce_fn: Callable) -> Callable[[tuple[Any, list]], Iterator[tuple[Any, Any]]]:
    """Reference duck-typing: reduce may return a scalar (→ keep input key)
    or yield ``(k, v)`` pairs (reference task_executor.py:230-241)."""

    def run(kv: tuple[Any, list]) -> Iterator[tuple[Any, Any]]:
        key, values = kv
        # The reference executor passes iter(values) (task_executor.py:238)
        # but its own shipped samples subscript values[0]
        # (weather_stats.py:56) — drift that makes them mutually
        # incompatible. A list satisfies both contracts; we pass the list.
        result = reduce_fn(key, values)
        if isinstance(result, (str, bytes, dict)) or result is None:
            yield (key, result)
            return
        try:
            it = iter(result)
        except TypeError:
            yield (key, result)
            return
        for out in it:
            if isinstance(out, tuple) and len(out) == 2:
                yield out
            else:  # iterable of non-pairs — treat original result as scalar
                yield (key, result)
                return

    return run


def _partition_combine(combine_fn: Callable):
    """Per-partition combiner, faithful to the reference's *design*: group
    this partition's map output by key, call ``combine_fn(key, values)``
    once per key (reference design.md:216-242). One partition ≙ one
    reference map task."""

    def run(part: Iterator[tuple[Any, Any]]) -> Iterator[tuple[Any, Any]]:
        groups: dict[Any, list] = {}
        for k, v in part:
            groups.setdefault(k, []).append(v)
        for k, vals in groups.items():
            yield (k, combine_fn(k, vals))

    return run


def text_records(sc: SparkContext, path: str, min_partitions: int | None = None) -> RDD:
    """A text file's lines as ``("{path}:{line_num}", line)`` records, keyed
    like reference task_executor.py:145 (line numbers are global, 0-based)."""
    lines = sc.textFile(path, minPartitions=min_partitions)
    return lines.zipWithIndex().map(lambda t: (f"{path}:{t[1]}", t[0]))


def run_job(
    spark: SparkSession,
    records: RDD | DataFrame | str | list,
    map_fn: Callable,
    reduce_fn: Callable,
    combine_fn: Callable | None = None,
    num_reduce: int | None = None,
    sort_output: bool = True,
) -> RDD:
    """Run a reference-style MapReduce job; returns an RDD of (key, value).

    ``records``: an RDD of ``(key, value)``; a DataFrame (first column =
    value, key = None unless two columns are given); a text-file path
    (keys become ``"{path}:{line_num}"`` like reference
    task_executor.py:145); or a plain list of ``(key, value)`` pairs.
    """
    sc = spark.sparkContext
    if isinstance(records, str):
        kv = text_records(sc, records)
    elif isinstance(records, DataFrame):
        cols = records.columns
        if len(cols) == 1:
            kv = records.rdd.map(lambda r: (None, r[0]))
        else:
            kv = records.rdd.map(lambda r: (r[0], r[1]))
    elif isinstance(records, list):
        kv = sc.parallelize(records)
    else:
        kv = records

    pairs = kv.flatMap(_adapt_map(map_fn))
    r = num_reduce or spark.sparkContext.defaultParallelism

    if combine_fn is not None:
        pairs = pairs.mapPartitions(_partition_combine(combine_fn))

    grouped = pairs.groupByKey(numPartitions=r, partitionFunc=portable_hash).mapValues(list)
    reduced = grouped.flatMap(_adapt_reduce(reduce_fn))
    if sort_output:
        # Canonical reference order: keys sorted within each reduce
        # partition (task_executor.py:226). sortByKey gives a total order —
        # strictly stronger, same contract for consumers.
        reduced = reduced.sortByKey(numPartitions=r)
    return reduced


def run_job_file(
    spark: SparkSession,
    records: RDD | DataFrame | str | list,
    job_file_path: str,
    **kwargs,
) -> RDD:
    """Run an unmodified reference job file (module with map_fn/reduce_fn
    and optional combine_fn, loaded like reference task_executor.py:80-97).

    The file's *source* is shipped to executors and exec'd once per worker
    process — no requirement that the job file be importable remotely.
    """
    with open(job_file_path) as f:
        src = f.read()
    fns = load_job_source(src)
    return run_job(
        spark,
        records,
        map_fn=fns["map_fn"],
        reduce_fn=fns["reduce_fn"],
        combine_fn=fns.get("combine_fn"),
        **kwargs,
    )


_SOURCE_CACHE: dict[int, dict[str, Any]] = {}


def _exec_cached(src: str) -> dict[str, Any]:
    key = hash(src)
    ns = _SOURCE_CACHE.get(key)
    if ns is None:
        ns = {}
        exec(compile(src, "<mr-job-file>", "exec"), ns)
        _SOURCE_CACHE[key] = ns
    return ns


class _SourceFn:
    """Picklable wrapper: carries (source, fn name), resolves + caches the
    exec'd namespace on first call in each process."""

    def __init__(self, src: str, name: str):
        self.src = src
        self.name = name

    def __call__(self, *args):
        return _exec_cached(self.src)[self.name](*args)

    @property
    def __signature__(self):
        return inspect.signature(_exec_cached(self.src)[self.name])


def load_job_source(src: str) -> dict[str, Callable]:
    """Extract map_fn/reduce_fn/combine_fn from job-file source text."""
    ns = _exec_cached(src)
    if "map_fn" not in ns or "reduce_fn" not in ns:
        raise ValueError("job file must define map_fn and reduce_fn")
    out: dict[str, Callable] = {}
    for name in ("map_fn", "reduce_fn", "combine_fn"):
        if name in ns and callable(ns[name]):
            out[name] = _SourceFn(src, name)
    return out


def to_tsv_lines(result: RDD) -> RDD:
    """The reference's sink format: ``str(key)\\tstr(value)`` lines
    (task_executor.py:249-250). ``rdd.saveAsTextFile(dir)`` then yields the
    part-file layout the reference designed (design.md:187-191)."""
    return result.map(lambda kv: f"{kv[0]}\t{kv[1]}")
