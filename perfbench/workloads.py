"""The benchmark's workloads: named lists of ops, each op one call path
into the package's public functions, plus the check of its output.

An op's ``run`` executes it once, keeps its output in ``ctx.outputs`` under
the op's name (replacing the output of its previous execution) and returns
whatever the caller must drop to release the op's frames. Its ``verify``
checks the output the last execution kept and returns None when it is
right, else a one-line reason.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import check
import gen
from probes import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
JOBS_DIR = os.path.join(HERE, "jobs")


@dataclass
class Ctx:
    """Everything an op needs; one per run."""

    spark: Any
    specs: dict
    sf_dir: str
    work: str
    cores: int
    seed: int
    tracer: Tracer
    digests: dict
    state: dict = field(default_factory=dict)
    #: op name -> output of its latest execution
    outputs: dict = field(default_factory=dict)
    #: output directories replaced by a later execution, to delete
    stale: list = field(default_factory=list)

    def out_dir(self, op_id: str) -> str:
        return os.path.join(self.work, op_id.replace("/", "_"))

    def keep(self, name: str, output: Any) -> None:
        old = self.outputs.get(name)
        if isinstance(old, str) and old != output:
            self.stale.append(old)
        self.outputs[name] = output

    def drop_stale(self) -> None:
        for path in self.stale:
            shutil.rmtree(path, ignore_errors=True)
        self.stale.clear()


@dataclass
class Op:
    name: str
    run: Callable[[Ctx, str], Any]
    verify: Callable[[Ctx], str | None]


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring markers and checksums."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


# -------------------------------------------------------------- queries ----


def query_op(name: str) -> Op:
    """A registered query: build the frame (``spec.fn``), then collect it
    (``toPandas``) as an analyst reading the result would."""

    def run(ctx: Ctx, op_id: str):
        with ctx.tracer.span("op.build", op_id, group=f"{op_id}/build"):
            df = ctx.specs[name].fn(ctx.spark, ctx.sf_dir)
        with ctx.tracer.span("op.action", op_id, group=f"{op_id}/action"):
            ctx.keep(name, df.toPandas())
        return df

    def verify(ctx: Ctx) -> str | None:
        return check.compare(name, check.frame_digest(ctx.outputs[name]), ctx.digests.get(name))

    return Op(name, run, verify)


# ----------------------------------------------------------- MapReduce ----


def corpus_setup(ctx: Ctx, n_lines: int) -> None:
    path = os.path.join(ctx.work, "corpus.txt")
    ctx.state["corpus_bytes"] = gen.write_corpus(path, ctx.seed, n_lines)
    ctx.state["corpus"] = path


def mr_op(name: str, job_file: str, expected: Callable[[list[str]], dict[str, str]]) -> Op:
    """A job file submitted through the package's own command line
    (``cli submit``: ``mr.run_job_file`` over the corpus, then TSV part
    files via ``to_tsv_lines(...).saveAsTextFile``). The op's job group is
    the submit's job id, so its jobs can be read back from the status store."""
    job_path = os.path.join(JOBS_DIR, job_file)

    def run(ctx: Ctx, op_id: str) -> None:
        from cooler_mapreduce_spark import cli

        out = ctx.out_dir(op_id)
        argv = ["submit", ctx.state["corpus"], out, job_path, "--num-map", str(ctx.cores),
                "--num-reduce", str(ctx.cores), "--job-id", f"{op_id}/mr"]
        with ctx.tracer.span("mr", op_id) as sp, contextlib.redirect_stdout(io.StringIO()):
            if cli.main(argv) != 0:
                raise RuntimeError(f"cli submit exited non-zero for {op_id}")
        ctx.keep(name, out)
        if ctx.tracer.enabled:
            files, size = _dir_stats(out)
            sp.attrs.update(files=files, bytes=size, source_bytes=ctx.state["corpus_bytes"])

    def verify(ctx: Ctx) -> str | None:
        got = check.read_tsv_parts(ctx.outputs[name])
        with open(ctx.state["corpus"]) as fh:
            want = expected(fh.read().splitlines())
        if got != want:
            bad = sorted(set(got.items()) ^ set(want.items()))[:3]
            return f"{name}: {len(got)} keys written, {len(want)} expected; first differences {bad}"
        return None

    return Op(name, run, verify)


def _word_count_expected(lines: list[str]) -> dict[str, str]:
    return {w: str(n) for w, n in check.word_counts(lines).items()}


# ---------------------------------------------------------------- sinks ----

#: Columns of ``orders`` the parquet sink op writes, partitioned by the last.
SINK_COLUMNS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"]


def parquet_sink_op() -> Op:
    """``sources.sinks.write_parquet`` of an ``orders`` projection,
    partitioned by order priority. Checked by reading the files back and
    comparing them with the same projection read from the catalog."""
    name = "sink_parquet_orders"

    def source(ctx: Ctx):
        return ctx.spark.read.parquet(os.path.join(ctx.sf_dir, "orders.parquet")).select(*SINK_COLUMNS)

    def run(ctx: Ctx, op_id: str) -> None:
        from cooler_mapreduce_spark.sources.sinks import write_parquet

        out = ctx.out_dir(op_id)
        with ctx.tracer.span("sink", op_id, group=f"{op_id}/sink") as sp:
            write_parquet(source(ctx), out, partition_by=[SINK_COLUMNS[-1]])
        ctx.keep(name, out)
        if ctx.tracer.enabled:
            files, size = _dir_stats(out)
            sp.attrs.update(files=files, bytes=size,
                            source_bytes=os.path.getsize(os.path.join(ctx.sf_dir, "orders.parquet")))

    def verify(ctx: Ctx) -> str | None:
        got = check.frame_digest(ctx.spark.read.parquet(ctx.outputs[name]).select(*SINK_COLUMNS).toPandas())
        want = check.frame_digest(source(ctx).toPandas())
        return check.compare(name, got, want)

    return Op(name, run, verify)


# ------------------------------------------------------------ streaming ----


def _record_stream(ctx: Ctx, sp, q) -> None:
    if ctx.tracer.enabled:
        sp.attrs["run_id"] = str(q.runId)
        sp.attrs["progress"] = [json.loads(p.json) for p in q.recentProgress]


def tumbling_stream_op() -> Op:
    """``streaming.windows.run_tumbling_stream`` with Trigger.AvailableNow
    into a memory sink: a bounded drain through the state store and the
    commit log. Its batch twin is the registered query
    ``stream_tumbling_counts``."""
    name = "stream_tumbling"

    def run(ctx: Ctx, op_id: str) -> None:
        from cooler_mapreduce_spark.streaming.windows import run_tumbling_stream

        with ctx.tracer.span("stream", op_id, group=f"{op_id}/stream") as sp:
            q = run_tumbling_stream(ctx.spark, ctx.sf_dir, query_name="perfbench_tumbling",
                                    available_now=True)
            q.awaitTermination()
        ctx.keep(name, "perfbench_tumbling")
        _record_stream(ctx, sp, q)

    def verify(ctx: Ctx) -> str | None:
        got = check.frame_digest(ctx.spark.table(ctx.outputs[name]).toPandas())
        return check.compare(name, got, ctx.digests.get("stream_tumbling_counts"))

    return Op(name, run, verify)


# ------------------------------------------------------------ workloads ----

#: Registered analyst queries of ``query_mix``: TPC-H joins, a ranking
#: window, text statistics.
QUERY_MIX = (
    "shipping_priority_topk",
    "window_top_orders_per_customer",
    "tfidf_top_terms",
)

#: ``graph_loop``: one rank loop, the triangle census, one frontier loop.
GRAPH_LOOP = (
    "pagerank_supplier_customer",
    "triangle_count_copurchase",
    "bfs_hops_from_hub",
)


@dataclass
class Workload:
    name: str
    #: catalog scale factor the workload reads
    sf: str
    ops: list[Op]
    #: registered queries whose oracle digests the ops check against
    queries: tuple[str, ...]
    setup: Callable[[Ctx], None] = lambda ctx: None


def workloads(corpus_lines: int) -> dict[str, Workload]:
    return {
        "query_mix": Workload(
            "query_mix",
            "0.01",
            [query_op(n) for n in QUERY_MIX]
            + [
                mr_op("mr_word_count_job", "word_count.py", _word_count_expected),
                parquet_sink_op(),
                tumbling_stream_op(),
            ],
            queries=QUERY_MIX + ("stream_tumbling_counts",),
            setup=lambda ctx: corpus_setup(ctx, corpus_lines),
        ),
        "graph_loop": Workload("graph_loop", "0.001", [query_op(n) for n in GRAPH_LOOP],
                               queries=GRAPH_LOOP),
    }
