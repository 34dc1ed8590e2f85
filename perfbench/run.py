"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

One client drives the workload's ops in a closed loop. Set-up (session,
registry, workload inputs, two warm-up rounds of every op) is timed as
``setup_s``; then whole rounds, each running every op once in a seeded
order, run until ``--seconds`` have passed (and at least three rounds);
then the output of each op's last execution is checked. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
ones). ``--smoke`` runs every op of every workload once at sf0.001 and
checks it. See README.md in this directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: Catalog scale of the smoke mode, which runs every op path once on a
#: catalog small enough to finish in seconds.
SMOKE_SF = "0.001"
#: Text corpus lines per mode.
CORPUS_LINES = {"bench": 20_000, "smoke": 2_000}
#: Spark cores: the benchmark's fixed ``local[n]`` width, capped by the host.
MAX_CORES = 4
#: Warm-up rounds before the window. An op's first execution in a process
#: runs 2-4x its warm time (JIT, class loading, first Python workers) and
#: its second up to 1.5x; a third round would not fit a run's time.
WARMUP_ROUNDS = 2
#: Fewest timed rounds: the metrics are medians over rounds, and three
#: rounds give each op three timed executions even when the host is slow.
MIN_ROUNDS = 3


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _environment(cores: int, sf_dir: str) -> None:
    """Point the session, its JVM and its workers at this checkout only."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_DRIVER_MEM="4g",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        # every JVM, the launcher's too: temp files here, and no hsperfdata
        # file in the system temp directory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
                "--conf spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        ),
    )
    import tempfile

    tempfile.tempdir = tmp


def _catalog(sf: str) -> tuple[str, float]:
    """The generated catalog for ``sf`` (built once per checkout); returns
    its directory and the seconds spent building it in this process."""
    import gen

    sf_dir = os.path.join(WORK, f"sf{sf}")
    if os.path.isdir(sf_dir):
        return sf_dir, 0.0
    t0 = time.perf_counter()
    gen.write_catalog(sf_dir, float(sf))
    return sf_dir, time.perf_counter() - t0


def _stop(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its driver's pipe closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Runner:
    """One process, one session, one workload (or, in smoke mode, all)."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.mode = "smoke" if args.smoke else "bench"
        self.cores = min(MAX_CORES, os.cpu_count() or 1)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _op(self, ctx, op, op_id: str) -> float | None:
        """Run one op; returns its latency, or None when it raised. The
        op's frames are released (and storage held before release is
        recorded) outside the latency."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("op", op_id):
                held = op.run(ctx, op_id)
        except Exception as e:  # a failing op is counted, not fatal
            self.failed += 1
            self.errors.append(f"{op_id}: {type(e).__name__}: {str(e).splitlines()[0][:300]}")
            return None
        latency = time.perf_counter() - t0
        if ctx.tracer.enabled:
            ctx.tracer.ops.append({"op_id": op_id, "name": op.name, "latency_s": latency,
                                   "retained_bytes": ctx.tracer.storage_bytes()})
        del held
        gc.collect()
        ctx.drop_stale()
        return latency

    def _verify(self, ctx, ops) -> None:
        """Check the output each op's latest execution kept; a wrong output
        counts as a failed op."""
        for op in ops:
            try:
                with ctx.tracer.span("verify", f"verify-{op.name}", group="perfbench/verify"):
                    problem = op.verify(ctx)
            except Exception as e:
                problem = f"{op.name}: verification raised {type(e).__name__}: {str(e).splitlines()[0][:300]}"
            gc.collect()
            if problem:
                self.failed += 1
                self.errors.append(problem)

    def main(self) -> int:
        args = self.args
        if not os.path.isdir(os.path.join(ROOT, "cooler_mapreduce_spark")):
            _fail(f"package cooler_mapreduce_spark not found next to {HERE}")
        sys.path[:0] = [ROOT, HERE]
        import check
        import probes
        import workloads as wl

        all_workloads = wl.workloads(CORPUS_LINES[self.mode])
        if self.mode == "bench" and args.workload not in all_workloads:
            _fail(f"unknown workload {args.workload!r}; choose from {sorted(all_workloads)}")
        sf = SMOKE_SF if self.mode == "smoke" else all_workloads[args.workload].sf
        os.makedirs(WORK, exist_ok=True)
        sf_dir, build_s = _catalog(sf)
        _environment(self.cores, sf_dir)
        digests = check.load_digests()[f"sf{sf}"]

        tracer = probes.Tracer(enabled=bool(args.trace))
        with tracer.span("session"):
            t0 = time.perf_counter()
            from cooler_mapreduce_spark.session import get_session

            spark = get_session("perfbench", cpus=self.cores)
            session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark)
        with tracer.span("registry"):
            t0 = time.perf_counter()
            from cooler_mapreduce_spark.registry import load_all

            specs = load_all()
            registry_s = time.perf_counter() - t0

        run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        ctx = wl.Ctx(spark=spark, specs=specs, sf_dir=sf_dir, work=run_dir,
                     cores=self.cores, seed=args.seed, tracer=tracer, digests=digests)
        os.makedirs(run_dir, exist_ok=True)
        try:
            if self.mode == "smoke":
                result = self._smoke(ctx, all_workloads)
            else:
                result = self._bench(ctx, all_workloads[args.workload], build_s,
                                     {"session.get_session_s": session_s,
                                      "registry.load_all_s": registry_s})
        finally:
            _stop(spark)
            shutil.rmtree(run_dir, ignore_errors=True)
        for e in self.errors:
            print(f"perfbench: FAILED {e}", file=sys.stderr)
        print(json.dumps(result))
        return 0

    def _smoke(self, ctx, all_workloads) -> dict:
        t0 = time.perf_counter()
        for w in all_workloads.values():
            w.setup(ctx)
            for op in w.ops:
                self._op(ctx, op, f"{w.name}/{op.name}")
            self._verify(ctx, w.ops)
        return {"correct": self.failed == 0, "attempted": self.attempted, "failed": self.failed,
                "metrics": {"smoke_s": {"value": time.perf_counter() - t0, "unit": "s"}}}

    def _bench(self, ctx, workload, build_s: float, setup_layers: dict[str, float]) -> dict:
        import probes
        import summarize

        args = self.args
        tracer = ctx.tracer
        rng = random.Random(args.seed)
        with tracer.span("setup.workload"):
            workload.setup(ctx)
        for r in range(WARMUP_ROUNDS):
            for op in rng.sample(workload.ops, len(workload.ops)):
                self._op(ctx, op, f"warmup{r}/{op.name}")
        # set-up ends at the first timed op; a catalog built by this process
        # is a one-time build of the benchmark's inputs, not set-up
        setup_s = time.perf_counter() - T_START - build_s

        gc_before = tracer.jvm_gc_seconds()
        speed_before = probes.cpu_probe_seconds()
        cpu_before = probes.cpu_snapshot()
        first_timed = len(tracer.ops)
        t0 = time.perf_counter()
        rounds: list[dict[str, float]] = []
        while len(rounds) < MIN_ROUNDS or time.perf_counter() - t0 < args.seconds:
            r0, lats = time.perf_counter(), {}
            for op in rng.sample(workload.ops, len(workload.ops)):
                lat = self._op(ctx, op, f"r{len(rounds)}/{op.name}")
                if lat is not None:
                    lats[op.name] = lat
            lats["_round_s"] = time.perf_counter() - r0
            rounds.append(lats)
        window = time.perf_counter() - t0
        host = probes.contention(cpu_before, probes.cpu_snapshot())
        host["host.cpu_probe_s"] = (speed_before + probes.cpu_probe_seconds()) / 2
        jvm_gc = tracer.jvm_gc_seconds() - gc_before
        timed_ops = tracer.ops[first_timed:]

        self._verify(ctx, workload.ops)

        # throughput of the median round, so one round slowed by the host
        # does not move it. Latency: each op's median over the rounds, then
        # the geometric mean over the ops, so a change to any one op moves
        # it (a p50 over the mixed executions sits between two ops' values).
        ops_per_s = statistics.median((len(r) - 1) / r["_round_s"] for r in rounds)
        per_op = {op.name: [r[op.name] for r in rounds if op.name in r] for op in workload.ops}
        latencies = [v for vs in per_op.values() for v in vs]
        p50 = statistics.geometric_mean(statistics.median(vs) for vs in per_op.values() if vs) if latencies else 0.0
        print(
            f"perfbench: {workload.name} seed={args.seed} setup={setup_s:.2f}s "
            f"window={window:.2f}s rounds={[round(r['_round_s'], 2) for r in rounds]} "
            f"ops/s={ops_per_s:.4f} op_p50={p50:.3f}s (n={len(latencies)}: {len(rounds)} per op)"
            f" steal={host['host.steal_frac']:.3f} foreign={host['host.foreign_cpu_frac']:.3f}"
            f" load1={host['host.loadavg_1m']:.2f} cpu_probe={host['host.cpu_probe_s'] * 1e3:.1f}ms"
            f" catalog_build={build_s:.1f}s",
            file=sys.stderr,
        )
        result = {"correct": self.failed == 0, "attempted": self.attempted, "failed": self.failed}
        if not args.trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "ops_per_s": (ops_per_s, "ops/s"),
                "op_latency_p50_s": (p50, "s"),
            }
        else:
            timed_ids = {o["op_id"] for o in timed_ops}
            layers = summarize.layer_metrics(tracer, timed_ids, window=window, cores=self.cores)
            layers.update(setup_layers)
            layers["setup.warmup_s"] = sum(
                s.seconds for s in tracer.spans if s.name == "op" and s.op_id.startswith("warmup")
            )
            layers.update(host)
            layers["jvm.gc_s"] = jvm_gc
            layers["proc.peak_rss_mb"] = probes.tree_peak_rss_mb()
            layers["trace.ops_per_s"] = ops_per_s
            layers["trace.op_latency_p50_s"] = p50
            layers["trace.ops"] = len(latencies)
            metrics = {k: (v, summarize.UNITS[k]) for k, v in layers.items()}
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(WORK, "traces", f"{workload.name}-seed{args.seed}.json"),
                {"workload": workload.name, "seed": args.seed, "window_s": window,
                 "timed_ops": sorted(timed_ids), "metrics": layers},
            )
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        with open(os.path.join(WORK, "results.jsonl"), "a") as fh:
            fh.write(json.dumps({"workload": workload.name, "seed": args.seed, "trace": int(args.trace),
                                 "setup_s": setup_s, "rounds": rounds, **result}) + "\n")
        return result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", default="query_mix")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return Runner(p.parse_args(argv)).main()


if __name__ == "__main__":
    sys.exit(main())
