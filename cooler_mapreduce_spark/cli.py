"""Client CLI — the reference's ``client.py`` surface on a SparkSession.

Reference commands (reference client/client.py:142-216, monitoring.py):
``submit`` (input, output, job file, M, R), ``status [--watch]``,
``list``, ``results``, ``cancel``. Here the coordinator/worker cluster is
a SparkSession, so:

- **submit** runs the job file synchronously through the MR-compat layer
  (``mr.run_job_file``) and writes the reference's TSV part-file layout.
  There is no job queue to poll — Spark schedules stages itself; the
  ``status`` phase loop of the reference collapses into blocking
  execution with live stage progress from ``statusTracker()``.
- **status** reports active stages/tasks from the StatusTracker — the
  analogue of the reference's per-phase task counts
  (reference coordinator/server.py:497-518). ``--watch`` loops with a
  progress bar until no work remains (reference
  client/monitoring.py:34-85's monitor loop, phase = Spark stage).
- **list** shows the StatusTracker's job inventory (active + known job
  ids, per-group), the analogue of the reference's ListJobs
  (reference client/client.py:169-176).
- **cancel** cancels a job group via ``sc.cancelJobGroup`` — the
  reference's CancelJob (client/monitoring.py:87-97); ``submit`` tags
  its run with a job-group id so a concurrent thread/process sharing
  the session can target it.
- **results** lists output part files (the reference's stubbed
  ``GetResults`` — reference coordinator/server.py:533-552 — done for
  real).
- **resources** / **tasks** — the reference's monitoring views
  (reference client/monitoring.py:87-146); there they call RPCs the
  reference coordinator never implemented (absent from its
  coordinator.proto:6-13 — dead surface), here they read the live
  SparkStatusTracker executor table and the app status store's stage
  history.
- ``--num-map`` maps to input-split parallelism (minPartitions), R to
  shuffle/output partitions — the two knobs of the reference's
  JobRequest (reference coordinator.proto:16-22).

Usage::

    python -m cooler_mapreduce_spark.cli submit INPUT OUTPUT JOB_FILE \
        [--num-map M] [--num-reduce R]
    python -m cooler_mapreduce_spark.cli results OUTPUT
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import time


def _submit(args: argparse.Namespace) -> int:
    from .mr import run_job_file, text_records, to_tsv_lines
    from .session import get_session

    spark = get_session("mr-submit")
    sc = spark.sparkContext
    job_id = args.job_id or f"mr-{int(time.time())}"
    # Tag everything this submit schedules with a job group so `cancel
    # <job_id>` (from another thread sharing the session) can target it —
    # the Spark analogue of the reference's job_id (client.py:154-157).
    # interruptOnCancel stays False: cancellation reaches Python workers
    # via Spark's task-kill polling; interrupting JVM task threads can
    # take down the whole context in local mode.
    sc.setJobGroup(job_id, f"submit {args.job_file}")
    t0 = time.perf_counter()

    try:
        kv = text_records(sc, args.input, args.num_map)
        result = run_job_file(spark, kv, args.job_file, num_reduce=args.num_reduce)
        to_tsv_lines(result).saveAsTextFile(args.output)
    finally:
        sc.setJobGroup("", "")

    elapsed = time.perf_counter() - t0
    parts = sorted(glob.glob(os.path.join(args.output, "part-*")))
    print(f"job {job_id} COMPLETED in {elapsed:.2f}s; "
          f"{len(parts)} output partitions -> {args.output}")
    return 0


def _progress_bar(completed: int, total: int, width: int = 30) -> str:
    pct = (completed / total) if total > 0 else 0.0
    filled = int(width * pct)
    return f"[{'#' * filled}{'.' * (width - filled)}] {pct:.0%}"


def _print_active_stages(st) -> int:
    """Print one line per active stage; return the number printed."""
    sids = st.getActiveStageIds()
    for sid in sids:
        info = st.getStageInfo(sid)
        if info:
            print(
                f"stage {sid}: {_progress_bar(info.numCompletedTasks, info.numTasks)} "
                f"{info.numCompletedTasks}/{info.numTasks} tasks "
                f"({info.numActiveTasks} running, {info.numFailedTasks} failed)"
            )
    return len(sids)


def _status(args: argparse.Namespace) -> int:
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        print("no active SparkSession in this process (jobs run synchronously; "
              "a finished submit has no residual state)")
        return 0
    st = spark.sparkContext.statusTracker()
    if not getattr(args, "watch", False):
        if not _print_active_stages(st):
            print("no active stages")
        # reference `status --tasks/--resources` (client/monitoring.py:15-85)
        # append the corresponding views to the status report. Same
        # active-only default as the standalone `tasks` subcommand — the
        # one flag name must show the one view from either entry point
        # (`tasks --all` remains the full-history form).
        if getattr(args, "tasks", False):
            _tasks(argparse.Namespace(all=False))
        if getattr(args, "resources", False):
            _resources(args)
        return 0

    # --watch: the reference's monitor loop (client/monitoring.py:34-85) —
    # redraw progress every interval until no work remains. Spark stages
    # play the reference's MAP/REDUCE phases; the loop keeps watching
    # through brief inter-stage gaps and exits after the grace period.
    interval = getattr(args, "interval", 1.0) or 1.0
    t0 = time.time()
    idle = 0
    saw_work = False
    while True:
        n = _print_active_stages(st)
        # A poll only counts as idle when no stages AND no active jobs: an
        # inter-stage scheduling gap (e.g. between an MR job's map and
        # reduce Spark jobs) keeps the job active with zero active stages,
        # and must not end the watch while work remains.
        if n or st.getActiveJobsIds():
            saw_work, idle = (saw_work or bool(n)), 0
        else:
            idle += 1
            if idle >= 2:  # two consecutive idle polls = done (or nothing ran)
                break
        time.sleep(interval)
    status = "COMPLETED" if saw_work else "idle (no stages observed)"
    print(f"{status}; watched {time.time() - t0:.1f}s")
    return 0


def _all_job_ids(sc) -> list[int]:
    """Every job id the app status store knows — grouped AND ungrouped.

    ``statusTracker().getJobIdsForGroup(None)`` returns only jobs with NO
    job group, and ``submit`` always sets one, so the public API alone
    would hide every submitted job from the inventory. The JVM
    AppStatusStore's jobsList is the complete record (it backs the Spark
    UI's Jobs page); fall back to the public API if the internal surface
    moves.
    """
    try:
        jobs = sc._jsc.sc().statusStore().jobsList(None)
        return sorted(jobs.apply(i).jobId() for i in range(jobs.size()))
    except Exception:
        st = sc.statusTracker()
        return sorted(set(st.getJobIdsForGroup(None)) | set(st.getActiveJobsIds()))


def _list(args: argparse.Namespace) -> int:
    """Job inventory from the StatusTracker — the reference's ListJobs."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        print("no active SparkSession in this process")
        return 0
    sc = spark.sparkContext
    st = sc.statusTracker()
    job_ids = _all_job_ids(sc) if args.all else sorted(st.getActiveJobsIds())
    if not job_ids:
        print("no jobs" if args.all else "no active jobs")
        return 0
    for jid in job_ids:
        info = st.getJobInfo(jid)
        status = info.status if info else "UNKNOWN"
        stages = list(info.stageIds) if info else []
        print(f"job {jid}: {status} stages={stages}")
    return 0


def _resources(args: argparse.Namespace) -> int:
    """Executor inventory — the reference's `resources` view
    (reference client/monitoring.py:87-116), done against a live API:
    the reference CLI calls a ListResources RPC its own coordinator
    never implemented (dead surface, SURVEY §2.2); here the
    SparkStatusTracker's executor infos are the real worker table."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        print("no active SparkSession in this process")
        return 0
    sc = spark.sparkContext
    infos = sc._jsc.sc().statusTracker().getExecutorInfos()
    print(f"{len(infos)} executor(s); defaultParallelism={sc.defaultParallelism}")
    for i, info in enumerate(infos):
        used = info.usedOnHeapStorageMemory() + info.usedOffHeapStorageMemory()
        total = info.totalOnHeapStorageMemory() + info.totalOffHeapStorageMemory()
        print(
            f"executor {i}: {info.host()}:{info.port()} "
            f"running_tasks={info.numRunningTasks()} "
            f"cached_bytes={info.cacheSize()} "
            f"storage_mem={used}/{total}"
        )
    return 0


def _tasks(args: argparse.Namespace) -> int:
    """Per-stage task breakdown — the reference's `tasks` view
    (reference client/monitoring.py:118-146, also a dead RPC there).
    Active stages by default; --all walks the status store's full stage
    history (completed/failed stages included)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        print("no active SparkSession in this process")
        return 0
    sc = spark.sparkContext
    st = sc.statusTracker()
    if not args.all:
        if not _print_active_stages(st):
            print("no active stages")
        return 0
    try:
        # stageList(statuses, details, withSummaries, quantiles, taskStatus)
        # — no Scala default args over py4j, so pass the full signature
        gw = sc._gateway
        stages = sc._jsc.sc().statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None
        )
        rows = [stages.apply(i) for i in range(stages.size())]
    except Exception:
        rows = []
    if not rows:
        print("no stages recorded")
        return 0
    for s in sorted(rows, key=lambda x: x.stageId()):
        print(
            f"stage {s.stageId()}.{s.attemptId()}: {str(s.status())} "
            f"{s.numCompleteTasks()}/{s.numTasks()} tasks "
            f"({s.numActiveTasks()} running, {s.numFailedTasks()} failed) "
            f"name={s.name().split(' at ')[0]}"
        )
    return 0


def _cancel(args: argparse.Namespace) -> int:
    """Cancel every job in a job group (the reference's CancelJob)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        print("no active SparkSession in this process; nothing to cancel",
              file=sys.stderr)
        return 1
    spark.sparkContext.cancelJobGroup(args.job_id)
    print(f"cancel requested for job group {args.job_id}")
    return 0


def _results(args: argparse.Namespace) -> int:
    parts = sorted(glob.glob(os.path.join(args.output, "part-*")))
    if not parts:
        print(f"no part files under {args.output}", file=sys.stderr)
        return 1
    for p in parts:
        print(p)
    if args.show:
        for p in parts:
            with open(p) as f:
                sys.stdout.write(f.read())
    return 0


def _compact(args: argparse.Namespace) -> int:
    """Beyond-reference maintenance surface: small-files compaction
    (sources.sinks.compact_parquet_dir) from the client, the operational
    companion to the streaming sinks that produce those files."""
    from .session import get_session
    from .sources.sinks import compact_parquet_dir

    spark = get_session("cli-compact")
    n = compact_parquet_dir(
        spark, args.path, target_mb=args.target_mb, sort_by=args.sort_by
    )
    print(f"compacted {args.path} -> {n} file(s)")
    return 0


def _sql(args: argparse.Namespace) -> int:
    """Declarative client surface: run ANSI SQL text (inline or from a
    file) over the registered table views — the SQL twin of `submit`'s
    imperative job files. Prints the rows tab-separated, or writes TSV
    part files with --out (the reference's output contract)."""
    from .session import get_session
    from .sources.catalog import register_views

    if (args.query is None) == (args.file is None):
        args.parser.error("provide exactly one of: a SQL file argument, or -e/--query")
    spark = get_session("cli-sql")
    register_views(spark, args.sf_dir)
    if args.query:
        text = args.query
    else:
        with open(args.file) as f:
            text = f.read()
    df = spark.sql(text)
    if args.out:
        from .sources.sinks import write_tsv

        write_tsv(df, args.out)
        print(f"wrote {args.out}")
        return 0
    for row in df.collect():
        print("\t".join("" if v is None else str(v) for v in row))
    return 0


def _dq(args: argparse.Namespace) -> int:
    """Beyond-reference operational surface: run the data-quality
    constraint audit (operators.aggregates.dq_constraint_violations)
    against an sf dir and print the long-form violation table; exit
    non-zero when any constraint is violated, so the command slots into
    a promote-gate script as-is."""
    from .registry import load_all
    from .session import get_session

    spark = get_session("cli-dq")
    rows = load_all()["dq_constraint_violations"].fn(spark, args.sf_dir).collect()
    width = max(len(r.constraint_name) for r in rows)
    bad = 0
    for r in sorted(rows, key=lambda r: r.constraint_name):
        print(f"{r.constraint_name:<{width}}  {r.n_violations}")
        bad += r.n_violations
    return 1 if bad else 0


def _explain(args: argparse.Namespace) -> int:
    """Plan inspection surface: print a registered query's physical plan
    (the `.explain` every operator was tuned against) without running
    it — the first thing to look at when a query slows down at scale.
    With --list, enumerate the registry instead (name + tags + whether
    an oracle exists)."""
    from .registry import load_all
    from .session import get_session

    specs = load_all()
    if args.list:
        width = max(len(n) for n in specs)
        for name in sorted(specs):
            spec = specs[name]
            oracle = "oracled" if spec.oracle else "rows-only"
            print(f"{name:<{width}}  {oracle:<9}  {','.join(spec.tags)}")
        return 0
    if args.query_name is None or args.query_name not in specs:
        known = ", ".join(sorted(specs)[:8])
        args.parser.error(
            f"unknown query {args.query_name!r}; try --list (e.g. {known}, ...)"
        )
    spark = get_session("cli-explain")
    df = specs[args.query_name].fn(spark, args.sf_dir)
    print(df._jdf.queryExecution().explainString(_explain_mode(spark, args.mode)))
    return 0


def _explain_mode(spark, mode: str):
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="cooler-mapreduce-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("submit", help="run a MapReduce job file")
    s.add_argument("input"), s.add_argument("output"), s.add_argument("job_file")
    s.add_argument("--num-map", type=int, default=None,
                   help="input split parallelism (reference M)")
    s.add_argument("--num-reduce", type=int, default=None,
                   help="reduce/output partitions (reference R)")
    s.add_argument("--job-id", default=None,
                   help="job-group id for cancel/list targeting")
    s.set_defaults(fn=_submit)

    st = sub.add_parser("status", help="active stage/task progress")
    st.add_argument("--watch", "-w", action="store_true",
                    help="watch progress until no work remains")
    st.add_argument("--interval", type=float, default=1.0,
                    help="update interval for watch mode (seconds)")
    st.add_argument("--tasks", action="store_true",
                    help="append the per-stage task breakdown")
    st.add_argument("--resources", action="store_true",
                    help="append the executor inventory")
    st.set_defaults(fn=_status)

    ls = sub.add_parser("list", help="list jobs known to the StatusTracker")
    ls.add_argument("--all", action="store_true",
                    help="include completed jobs, not just active")
    ls.set_defaults(fn=_list)

    rs = sub.add_parser("resources", help="executor/worker inventory")
    rs.set_defaults(fn=_resources)

    tk = sub.add_parser("tasks", help="per-stage task breakdown")
    tk.add_argument("--all", action="store_true",
                    help="include completed/failed stages from history")
    tk.set_defaults(fn=_tasks)

    c = sub.add_parser("cancel", help="cancel a submitted job group")
    c.add_argument("job_id")
    c.set_defaults(fn=_cancel)

    r = sub.add_parser("results", help="list (and print) job output files")
    r.add_argument("output")
    r.add_argument("--show", action="store_true")
    r.set_defaults(fn=_results)

    cp = sub.add_parser("compact", help="merge a parquet dir's small files "
                        "(atomic directory swap; optional re-sort)")
    cp.add_argument("path")
    cp.add_argument("--target-mb", type=int, default=128,
                    help="target output file size (default 128 MB)")
    cp.add_argument("--sort-by", default=None,
                    help="re-sort on this column during the rewrite "
                    "(clustering maintenance)")
    cp.set_defaults(fn=_compact)

    dq = sub.add_parser("dq", help="data-quality audit: constraint violation "
                        "counts; non-zero exit when any constraint fails")
    dq.add_argument("sf_dir")
    dq.set_defaults(fn=_dq)

    sq = sub.add_parser("sql", help="run ANSI SQL over the registered tables "
                        "(inline with -e, or from a file)")
    sq.add_argument("sf_dir")
    sq.add_argument("file", nargs="?", default=None)
    sq.add_argument("-e", "--query", default=None,
                    help="inline SQL text (instead of a file)")
    sq.add_argument("--out", default=None,
                    help="write TSV part files here instead of printing")
    sq.set_defaults(fn=_sql, parser=sq)

    ex = sub.add_parser("explain", help="print a registered query's physical "
                        "plan without running it (or --list the registry)")
    ex.add_argument("query_name", nargs="?", help="registered query name")
    ex.add_argument("--list", action="store_true", help="list registered queries")
    ex.add_argument("--mode", default="formatted",
                    choices=["simple", "extended", "formatted", "cost", "codegen"])
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.set_defaults(fn=_explain, parser=ex)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
