"""Sinks (TSV part-file contract, parquet/json roundtrips), CLI surface,
and the IVF ANN tier."""

from __future__ import annotations

import glob
import os
import re
import subprocess
import sys

from pyspark.sql import functions as F

from cooler_mapreduce_spark.registry import load_all
from cooler_mapreduce_spark.sources.sinks import (
    read_tsv,
    write_json_lines,
    write_parquet,
    write_tsv,
)

SPECS = load_all()


def test_tsv_sink_partfile_contract(spark, sf_dir, tmp_path):
    """Reference sink contract: part-* files, tab-separated str() rows,
    partition count = the R knob (reference design.md:187-191)."""
    df = SPECS["word_count"].fn(spark, sf_dir).orderBy(F.desc("cnt")).limit(100)
    n = df.count()
    out = str(tmp_path / "wc_tsv")
    write_tsv(df, out, num_partitions=4)
    parts = sorted(glob.glob(os.path.join(out, "part-*")))
    assert len(parts) == 4
    rows = []
    for p in parts:
        with open(p) as f:
            rows += [line.rstrip("\n").split("\t") for line in f if line]
    assert len(rows) == n > 0
    assert all(len(r) == 2 and r[1].isdigit() for r in rows)


def test_tsv_roundtrip(spark, sf_dir, tmp_path):
    df = SPECS["top_k_orders"].fn(spark, sf_dir)
    out = str(tmp_path / "tsv_rt")
    write_tsv(df, out)
    back = read_tsv(spark, out)
    assert back.count() == df.count()
    assert len(back.columns) == len(df.columns)


def test_sink_scratch_dir_conf(spark, sf_dir, tmp_path):
    """Multi-node contract: with spark.cooler_mapreduce.scratchDir set,
    the roundtrip queries stage under that (shared-FS) base — and clean
    their job dir up afterwards — instead of a driver-local tempdir."""
    import os

    from cooler_mapreduce_spark.sources.sinks import SCRATCH_DIR_CONF

    base = str(tmp_path / "shared_scratch")
    os.makedirs(base)
    spark.conf.set(SCRATCH_DIR_CONF, base)
    try:
        rows = SPECS["sink_tsv_roundtrip"].fn(spark, sf_dir).collect()
        assert len(rows) == 3
        # job dir created under the configured base and removed after
        assert os.listdir(base) == []
    finally:
        spark.conf.unset(SCRATCH_DIR_CONF)


def test_parquet_sink_partition_pruning(spark, sf_dir, tmp_path):
    """partition_by must produce a layout whose scan prunes directories."""
    ev = SPECS["stream_tumbling_counts"].fn(spark, sf_dir)
    out = str(tmp_path / "ev_parquet")
    write_parquet(ev, out, partition_by=["event_type"])
    types = [d for d in os.listdir(out) if d.startswith("event_type=")]
    assert len(types) >= 2
    one = spark.read.parquet(out).filter(F.col("event_type") == types[0].split("=")[1])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]


def test_json_lines_roundtrip(spark, sf_dir, tmp_path):
    df = SPECS["text_quality_score"].fn(spark, sf_dir).limit(50)
    out = str(tmp_path / "json_rt")
    write_json_lines(df, out)
    back = spark.read.json(out)
    assert back.count() == 50


def test_cli_submit_and_results(tmp_path, spark):
    """End-to-end reference workflow: submit a job file over a text input,
    TSV part files appear, results lists them. Runs in-process via main()
    (a subprocess would build a second JVM for nothing)."""
    from cooler_mapreduce_spark.cli import main

    inp = tmp_path / "input.txt"
    inp.write_text("hello world\nhello spark\nworld of spark\n")
    job = tmp_path / "job.py"
    job.write_text(
        "def map_fn(key, value):\n"
        "    for w in value.split():\n"
        "        yield (w, 1)\n"
        "def reduce_fn(key, values):\n"
        "    return sum(values)\n"
    )
    out = str(tmp_path / "out")
    rc = main(["submit", str(inp), out, str(job), "--num-reduce", "2"])
    assert rc == 0
    rc = main(["results", out])
    assert rc == 0
    rows = {}
    for p in glob.glob(os.path.join(out, "part-*")):
        with open(p) as f:
            for line in f:
                if line.strip():
                    k, v = line.rstrip("\n").split("\t")
                    rows[k] = int(v)
    assert rows == {"hello": 2, "world": 2, "spark": 2, "of": 1}


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF must find ≥55% of the true top-10 (measured 0.67-0.71 across
    SFs with the seeded k-means fit; the fixture's clusters are weak for
    cosine — max neighbor cosine ~0.4 — so cell-probing recall is capped
    by data construction, and nprobe is the recall/cost dial)."""
    bf = {(r["query_id"], r["neighbor_id"]) for r in SPECS["ann_topk_bruteforce"].fn(spark, sf_dir).collect()}
    ivf = {(r["query_id"], r["neighbor_id"]) for r in SPECS["ann_topk_ivf"].fn(spark, sf_dir).collect()}
    assert len(bf & ivf) / len(bf) >= 0.55


def test_ann_ivf_probes_subset(spark, sf_dir):
    """IVF output must be a subset of brute-force scoring universe and
    carry exactly top-k per query."""
    ivf = SPECS["ann_topk_ivf"].fn(spark, sf_dir)
    counts = ivf.groupBy("query_id").count().collect()
    assert all(r["count"] <= 10 for r in counts)
    assert ivf.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Same-bucketed tables must join with zero shuffle on either side —
    the write-once/join-free forever contract of bucketBy."""
    from cooler_mapreduce_spark.sources.bucketing import bucketed_join, write_bucketed
    from cooler_mapreduce_spark.sources.catalog import table

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "t_orders_b", "o_orderkey", num_buckets=8)
    write_bucketed(li, "t_lineitem_b", "o_orderkey", num_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        joined = bucketed_join(spark, "t_orders_b", "t_lineitem_b", "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        want = orders.join(li, "o_orderkey").count()
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cli_status_reports(spark, capsys):
    """status must report cleanly both with an active session (no active
    stages between jobs) and report stage progress format correctly."""
    from cooler_mapreduce_spark.cli import main

    rc = main(["status"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "no active stages" in out or "stage" in out


def test_cli_list_jobs(spark, capsys):
    """list shows the StatusTracker job inventory: empty when idle, and a
    completed job's id/status with --all after running one (reference
    client.py ListJobs parity)."""
    from cooler_mapreduce_spark.cli import main

    rc = main(["list"])
    assert rc == 0
    assert "no active jobs" in capsys.readouterr().out

    spark.sparkContext.parallelize(range(10), 2).count()  # leave a job behind
    rc = main(["list", "--all"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "job " in out and "SUCCEEDED" in out


def test_cli_list_all_includes_grouped_jobs(spark, capsys):
    """A job run under a job group (as every submit is) must appear in
    `list --all` — getJobIdsForGroup(None) alone only returns UNgrouped
    jobs, hiding every submitted job from the inventory."""
    from cooler_mapreduce_spark.cli import main

    sc = spark.sparkContext
    sc.setJobGroup("listable-group", "grouped job")
    try:
        sc.parallelize(range(10), 2).count()
    finally:
        sc.setJobGroup("", "")
    grouped = set(sc.statusTracker().getJobIdsForGroup("listable-group"))
    assert grouped, "grouped job id not tracked"
    rc = main(["list", "--all"])
    assert rc == 0
    out = capsys.readouterr().out
    listed = {int(line.split()[1].rstrip(":")) for line in out.splitlines()
              if line.startswith("job ")}
    assert grouped <= listed


def test_cli_resources_reports_executors(spark, capsys):
    """resources shows the executor inventory (reference monitoring.py's
    ListResources view, minus its dead-RPC bug)."""
    from cooler_mapreduce_spark.cli import main

    rc = main(["resources"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "executor(s)" in out and "defaultParallelism" in out
    assert "running_tasks=" in out


def test_cli_tasks_reports_stage_history(spark, capsys):
    """tasks --all walks the status store's stage history; a finished
    job's stage shows up as COMPLETE with its task counts."""
    from cooler_mapreduce_spark.cli import main

    spark.sparkContext.parallelize(range(12), 3).count()  # leave a stage behind
    rc = main(["tasks"])
    assert rc == 0
    assert "no active stages" in capsys.readouterr().out
    rc = main(["tasks", "--all"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "stage " in out and "/3 tasks" in out and "COMPLETE" in out


def test_cli_status_with_tasks_and_resources_flags(spark, capsys):
    """status --tasks --resources appends both monitoring views to the
    status report (reference client's status flags). --tasks shows the
    ACTIVE-only view — the same default as the standalone `tasks`
    subcommand (one flag name, one view, either entry point), so with no
    running job it reports idle rather than dumping stage history."""
    from cooler_mapreduce_spark.cli import main

    spark.sparkContext.parallelize(range(6), 2).count()
    rc = main(["status", "--tasks", "--resources"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "no active stages" in out and "executor(s)" in out


def test_cli_cancel_running_job_group(spark, capsys):
    """cancel <job_id> must abort a running job tagged with that group —
    the reference's CancelJob (client/monitoring.py:87-97) on Spark's
    cancelJobGroup. The job runs in a worker thread (the reference's jobs
    are async server-side; here the session is shared across threads)."""
    import threading
    import time as _time

    import pytest
    from py4j.protocol import Py4JJavaError

    from cooler_mapreduce_spark.cli import main

    sc = spark.sparkContext
    errors: list[Exception] = []

    def _slow(x):
        _time.sleep(30)
        return x

    def slow_job():
        # interruptOnCancel=False (default): thread interrupts can kill the
        # shared local-mode context; task-kill polling stops Python workers.
        sc.setJobGroup("cancel-me", "slow job")
        try:
            sc.parallelize(range(8), 8).map(_slow).count()
        except Py4JJavaError as e:
            errors.append(e)
        finally:
            sc.setJobGroup("", "")

    t = threading.Thread(target=slow_job)
    t.start()
    st = sc.statusTracker()
    deadline = _time.time() + 60
    while not st.getActiveJobsIds() and _time.time() < deadline:
        _time.sleep(0.1)
    assert st.getActiveJobsIds(), "job never started"
    rc = main(["cancel", "cancel-me"])
    assert rc == 0
    assert "cancel requested" in capsys.readouterr().out
    t.join(timeout=60)
    assert not t.is_alive(), "cancelled job still running after 60s"
    assert errors, "job completed instead of being cancelled"
    assert "cancelled" in str(errors[0]).lower()


def test_cli_status_watch_tracks_job_to_completion(spark, capsys):
    """status --watch loops until no work remains and prints progress for
    a concurrently running job (reference monitoring.py watch loop)."""
    import threading
    import time as _time

    from cooler_mapreduce_spark.cli import main

    sc = spark.sparkContext

    def _tick(x):
        _time.sleep(1.5)
        return x

    def short_job():
        sc.parallelize(range(4), 4).map(_tick).count()

    t = threading.Thread(target=short_job)
    t.start()
    st = sc.statusTracker()
    deadline = _time.time() + 60
    while not st.getActiveStageIds() and _time.time() < deadline:
        _time.sleep(0.05)
    assert st.getActiveStageIds(), "job never started"
    rc = main(["status", "--watch", "--interval", "0.2"])
    t.join(timeout=60)
    assert rc == 0
    out = capsys.readouterr().out
    assert "COMPLETED" in out
    assert "stage" in out and "tasks" in out


def test_observe_scan_quality(spark, sf_dir):
    """Observation metrics fill during the consuming action — no second
    scan — and match directly computed values."""
    from cooler_mapreduce_spark.observability import observe_scan_quality
    from cooler_mapreduce_spark.sources.catalog import table

    o = table(spark, sf_dir, "orders")
    gated, obs = observe_scan_quality(
        o, null_cols=["o_custkey"], nonneg_cols=["o_totalprice"], name="t_obs"
    )
    n = gated.count()
    m = obs.get
    assert m["n_rows"] == n
    assert m["null_o_custkey"] == o.filter("o_custkey IS NULL").count()
    assert m["neg_o_totalprice"] == o.filter("o_totalprice < 0").count()


def test_checkpoint_observes_its_own_job(spark):
    """``observability.checkpoint`` reads its metrics from the checkpoint
    job itself: a shuffle-free frame runs exactly one job and reads its
    row count; an empty frame that AQE coalesced to 0 partitions reads
    0 instead of waiting on an observation no task filled."""
    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.observability import checkpoint

    sc = spark.sparkContext
    sc.setJobGroup("checkpoint-observed", "observed checkpoint")
    try:
        out, m = checkpoint(spark.range(1000).filter(F.col("id") % 3 == 0))
    finally:
        sc.setJobGroup("", "")
    assert m == {"n": 334}
    assert len(sc.statusTracker().getJobIdsForGroup("checkpoint-observed")) == 1
    assert out.count() == 334

    empty = spark.range(100).filter(F.col("id") < 0).repartition(5, "id").distinct()
    out, m = checkpoint(empty, F.count(F.lit(1)).alias("rows"), F.max("id").alias("top"))
    assert out.rdd.getNumPartitions() == 0  # AQE coalesced the empty shuffle
    assert m == {"rows": 0, "top": None}


def test_python_datasource_synthetic_events(spark):
    """Custom Python DataSource: planned partitions honored, rows
    deterministic across reads."""
    from cooler_mapreduce_spark.sources.pysource import register

    register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("partitions", "5")
        .option("rowsPerPartition", "200")
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    rows = df.collect()
    assert len(rows) == 5 * 200
    again = sorted(
        spark.read.format("synthetic_events")
        .option("partitions", "5")
        .option("rowsPerPartition", "200")
        .load()
        .collect()
    )
    assert sorted(rows) == again
    one = [r for r in rows if r.event_id == 0][0]
    assert one.user_id == 0 and one.event_type == "view" and one.value == 0.0


def test_python_datasource_filter_pushdown_prunes_splits(spark):
    """pushFilters (Spark 4.1 Python-DataSource pushdown): an event_id
    range confines planning to the one overlapping split (3 of 4 input
    partitions never scheduled), the consumed predicates vanish from the
    post-scan Filter, unsupported predicates stay as residuals, and the
    result matches Spark-side filtering of the full read exactly. Each
    query builds its own load() — Spark caches the planned read state on
    the shared relation otherwise (see the reader docstring)."""
    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.sources.pysource import register

    register(spark)

    def load():
        return spark.read.format("synthetic_events").load()

    full = sorted(map(tuple, load().collect()))
    assert len(full) == 4000
    flt = load().filter(
        (F.col("event_id") >= 1000)
        & (F.col("event_id") < 1500)
        & (F.col("event_type") == "click")
    )
    got = sorted(map(tuple, flt.collect()))
    want = sorted(r for r in full if 1000 <= r[0] < 1500 and r[2] == "click")
    assert got == want and got  # correct AND non-trivial
    # split pruning: the id window overlaps exactly one of 4 partitions
    assert flt.rdd.getNumPartitions() == 1
    # consumed predicates leave no residual; isnotnull guards remain
    plan = flt._jdf.queryExecution().executedPlan().toString()
    filter_lines = [l for l in plan.splitlines() if "Filter" in l]
    assert filter_lines and all(
        "click" not in l and "1000" not in l and "1500" not in l
        for l in filter_lines
    ), plan
    # an unsupported predicate (value) survives as a residual filter and
    # results stay correct
    flt2 = load().filter((F.col("event_id") < 800) & (F.col("value") > 50.0))
    got2 = sorted(map(tuple, flt2.collect()))
    want2 = sorted(r for r in full if r[0] < 800 and r[3] > 50.0)
    assert got2 == want2 and got2
    plan2 = flt2._jdf.queryExecution().executedPlan().toString()
    assert any("value" in l and "50" in l for l in plan2.splitlines() if "Filter" in l)
    # per-load isolation: a fresh unfiltered load is never narrowed by
    # the sibling queries above
    assert len(load().collect()) == 4000


def test_python_datasource_stream_reader_equals_batch(spark):
    """The Python streaming connector (SimpleDataSourceStreamReader) must
    emit exactly the rows the batch reader plans for the same row range
    — same LCG, micro-batched through the offset log instead of planned
    InputPartitions. Bounded maxRows makes processAllAvailable drain."""
    from cooler_mapreduce_spark.sources.pysource import register

    register(spark)
    q = (
        spark.readStream.format("synthetic_events")
        .option("rowsPerBatch", "300")
        .option("maxRows", "1000")
        .load()
        .writeStream.format("memory")
        .queryName("t_pystream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM t_pystream").collect())
    want = sorted(
        tuple(r)
        for r in spark.read.format("synthetic_events")
        .option("partitions", "2")
        .option("rowsPerPartition", "500")
        .load()
        .collect()
    )
    assert len(got) == 1000
    assert got == want


def test_python_stream_source_to_python_stream_sink(spark, tmp_path):
    """Full Python-connector streaming pipeline: the offset-logged
    synthetic source feeds the epoch-committing tsv_dir stream sink
    through a checkpoint. Every committed part file is epoch-stamped
    (part-<batchId>-NNNNN.tsv), no staging temps survive the drain, and
    the union of all epochs' rows equals a batch read of the same row
    range — stream write loses and duplicates nothing."""
    import os

    from cooler_mapreduce_spark.sources.pysource import register

    register(spark)
    out = str(tmp_path / "stream_tsv_out")
    ckpt = str(tmp_path / "stream_tsv_ckpt")
    q = (
        spark.readStream.format("synthetic_events")
        .option("rowsPerBatch", "400")
        .option("maxRows", "1000")
        .load()
        .writeStream.format("tsv_dir")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    names = sorted(os.listdir(out))
    parts = [n for n in names if n.startswith("part-")]
    assert parts and all(n.endswith(".tsv") for n in parts)
    assert not [n for n in os.listdir(os.path.join(out, "_temporary"))]
    back = (
        spark.read.option("sep", "\t")
        .schema("event_id bigint, user_id bigint, event_type string, value double")
        .csv(f"{out}/part-*.tsv")
    )
    got = sorted(tuple(r) for r in back.collect())
    want = sorted(
        tuple(r)
        for r in spark.read.format("synthetic_events")
        .option("partitions", "4")
        .option("rowsPerPartition", "250")
        .load()
        .collect()
    )
    assert len(got) == 1000
    assert got == want


def test_python_datasource_writer_commit_layout(spark, tmp_path):
    """tsv_dir connector: a successful job leaves only committed
    part-NNNNN.tsv files + _SUCCESS — no hidden temps — and the data
    round-trips; a second overwrite write replaces the first cleanly."""
    import os

    from cooler_mapreduce_spark.sources.pysource import register

    register(spark)
    out = str(tmp_path / "tsv_sink")
    df = spark.range(0, 100, 1, 4).selectExpr("id", "id * 2 AS dbl")
    df.write.format("tsv_dir").mode("overwrite").save(out)
    names = sorted(os.listdir(out))
    parts = [n for n in names if n.startswith("part-")]
    assert "_SUCCESS" in names
    assert parts == [f"part-{i:05d}.tsv" for i in range(len(parts))]
    # staging dir promoted + removed on successful commit
    assert "_temporary" not in names
    back = spark.read.option("sep", "\t").schema("id bigint, dbl bigint").csv(out)
    assert sorted(tuple(r) for r in back.collect()) == [(i, 2 * i) for i in range(100)]
    # overwrite: fewer partitions second time must not leave stale parts
    spark.range(0, 10, 1, 1).selectExpr("id", "id AS dbl").write.format(
        "tsv_dir"
    ).mode("overwrite").save(out)
    parts2 = [n for n in os.listdir(out) if n.startswith("part-")]
    assert parts2 == ["part-00000.tsv"]


def test_python_datasource_writer_abort_removes_temps(spark, tmp_path):
    """tsv_dir connector two-phase commit: when a task fails, no partial
    output is ever VISIBLE — zero part files, no _SUCCESS — the
    crash-atomicity the reference's in-place sink lacks (reference
    task_executor.py:244-250). Uncommitted attempts only ever live under
    the reader-invisible _temporary/ staging dir (which racing
    killed-mid-write stragglers may touch after the driver's abort
    sweep, so the test doesn't assert its absence — Hadoop's
    FileOutputCommitter has the same property)."""
    import os

    import pytest as _pytest

    from cooler_mapreduce_spark.sources.pysource import register

    register(spark)
    out = str(tmp_path / "tsv_sink_abort")
    from pyspark.sql import functions as F

    @F.udf("bigint")
    def boom(x):
        if x == 37:
            raise ValueError("synthetic task failure")
        return x

    df = spark.range(0, 100, 1, 4).select(boom("id").alias("id"))
    with _pytest.raises(Exception, match="synthetic task failure"):
        df.write.format("tsv_dir").mode("overwrite").save(out)
    visible = [n for n in os.listdir(out) if not n.startswith("_temporary")]
    assert visible == []
    # a later overwrite job on the same directory starts clean and wins
    spark.range(0, 5, 1, 1).selectExpr("id").write.format("tsv_dir").mode(
        "overwrite"
    ).save(out)
    back = spark.read.option("sep", "\t").schema("id bigint").csv(out)
    assert sorted(r.id for r in back.collect()) == [0, 1, 2, 3, 4]


def test_catalog_partitioned_layout_prunes_at_runtime(spark, sf_dir):
    """table(..., partitioned_by=...): a filter on the partition column
    must be satisfied by the file listing — every file an executed row
    came from lives under the one selected partition directory. Uses
    input_file_name() on executed rows because df.inputFiles() lists
    files PRE-pruning."""
    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.sources.catalog import table

    ev = table(spark, sf_dir, "events", partitioned_by=("event_type",))
    files = {
        r.f
        for r in ev.filter(F.col("event_type") == "purchase")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert files and all("event_type=purchase" in f for f in files)
    # PartitionFilters carried in the physical scan, not a data Filter
    plan = ev.filter(F.col("event_type") == "purchase")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]
    # the layout is served from a per-process cache: same DataFrame
    # lineage path on a second call, no second materialization
    again = table(spark, sf_dir, "events", partitioned_by=("event_type",))
    assert set(again.inputFiles()) == set(ev.inputFiles())


def test_dpp_join_prunes_partitions_at_runtime(spark, oracle_sf_dir):
    """dpp_partitioned_join: the fact scan must carry a dynamicpruning
    subquery in its PartitionFilters (no static predicate on the
    partition column exists), and the EXECUTED scan's metrics must show
    fewer files/partitions read than the table holds — runtime pruning
    that actually happened, not just a planned filter (without the dim
    broadcast the subquery plans but degenerates to 5/5 files)."""
    from cooler_mapreduce_spark.registry import load_all

    df = load_all()["dpp_partitioned_join"].fn(spark, oracle_sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    assert "dynamicpruning" in plan.toString().lower()

    scans = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if "QueryStage" in name:
            walk(node.plan())
            return
        if name == "FileSourceScanExec":
            vals, it = {}, node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                vals[kv._1()] = kv._2().value()
            scans.append(vals)
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(plan)
    assert len(scans) == 1, scans
    m = scans[0]
    # 5 event types → 5 partition dirs statically; the dim selects 2
    assert m["staticFilesNum"] == 5, m
    assert m["numFiles"] == 2, m
    assert m["numPartitions"] == 2, m


def test_zorder_layout_skips_files_on_both_dimensions(spark, oracle_sf_dir, tmp_path):
    """Z-order data skipping, measured: under the morton layout the
    per-file (min,max) stat boxes of BOTH key columns are compact, so a
    2-D box predicate intersects only a minority of files — while under
    the natural layout (sorted by neither key, or by one only) nearly
    every file's stat box intersects. This is the footer-stats check a
    parquet reader performs; measuring it from the written files proves
    the skipping without depending on reader internals."""
    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.sources.catalog import (
        morton_code,
        table,
        zordered_layout,
    )

    n_files = 16
    z = morton_code(
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-01")), F.col("l_partkey")
    )
    zordered = zordered_layout(
        spark, oracle_sf_dir, "lineitem", z, n_files=n_files, cache_key="day_partkey"
    )
    # natural-order control: same file count, no clustering
    nat_dir = str(tmp_path / "nat")
    table(spark, oracle_sf_dir, "lineitem", fan_out=False).repartition(
        n_files
    ).write.parquet(nat_dir)
    natural = spark.read.parquet(nat_dir)

    def intersecting_files(df):
        stats = (
            df.groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min("l_shipdate").alias("dlo"), F.max("l_shipdate").alias("dhi"),
                F.min("l_partkey").alias("plo"), F.max("l_partkey").alias("phi"),
            )
            .collect()
        )
        hit = [
            s for s in stats
            if str(s.dhi) >= "1997-03-01" and str(s.dlo) < "1997-07-01"
            and s.phi >= 100 and s.plo <= 500
        ]
        return len(hit), len(stats)

    z_hit, z_total = intersecting_files(zordered)
    n_hit, n_total = intersecting_files(natural)
    # natural order: every file spans the whole key space — no skipping
    assert n_hit == n_total
    # z-order: the box predicate prunes most files by stats alone
    assert z_hit <= z_total // 2, (z_hit, z_total)
    # and the layout loses no rows
    assert zordered.count() == natural.count()


def test_cli_compact_subcommand(spark, sf_dir, tmp_path, capsys):
    """`compact <path>` drives compact_parquet_dir end to end from the
    client surface (the session is reused via getOrCreate)."""
    import os

    from cooler_mapreduce_spark.cli import main
    from cooler_mapreduce_spark.sources.catalog import table

    out = str(tmp_path / "cli_ingest")
    ev = table(spark, sf_dir, "events")
    n = ev.count()
    ev.repartition(12).write.parquet(out)
    rc = main(["compact", out, "--sort-by", "event_id"])
    assert rc == 0
    assert "compacted" in capsys.readouterr().out
    assert len([f for f in os.listdir(out) if f.endswith(".parquet")]) == 1
    assert spark.read.parquet(out).count() == n


def test_compact_parquet_dir_merges_small_files_losslessly(spark, sf_dir, tmp_path):
    """compact_parquet_dir: 40 tiny ingest files collapse to the
    computed target count, every row survives bit-identically, the
    optional sort_by leaves each output file covering a disjoint key
    range (clustering maintenance), and no temp/old dirs are left."""
    import os

    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.sources.catalog import table
    from cooler_mapreduce_spark.sources.sinks import compact_parquet_dir

    out = str(tmp_path / "ingest")
    ev = table(spark, sf_dir, "events")
    ev.repartition(40).write.parquet(out)
    n_small = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_small == 40
    before = sorted(tuple(r) for r in spark.read.parquet(out).collect())

    n_new = compact_parquet_dir(spark, out, target_mb=128, sort_by="event_id")
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == n_new < n_small
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == before
    # sort_by clustering: per-file event_id ranges are disjoint
    stats = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi"))
        .collect()
    )
    spans = sorted((s.lo, s.hi) for s in stats)
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))
    # staging hygiene: no temp/old siblings survive
    assert not [d for d in os.listdir(tmp_path) if "__compact" in d]


def test_rank16_zorder_handles_wide_and_double_keys(spark, oracle_sf_dir):
    """rank16 + morton: keys that raw 16-bit interleave cannot handle —
    l_orderkey exceeds 65535 at sf0.01 (would alias) and
    l_extendedprice is a double (no raw bit pattern at all) — still
    produce compact per-file stat boxes, so a 2-D box predicate prunes
    most files by footer stats."""
    from pyspark.sql import functions as F

    from cooler_mapreduce_spark.sources.catalog import (
        morton_code,
        rank16,
        table,
        zordered_layout,
    )

    wide_key = F.col("l_orderkey") * 7919  # spread far past 16 bits
    assert (
        table(spark, oracle_sf_dir, "lineitem", fan_out=False)
        .agg(F.max(wide_key))
        .collect()[0][0]
        > 0xFFFF
    )  # the premise: raw morton would alias this key
    # rank16 of the wide key preserves l_orderkey's order (monotone), so
    # stat boxes can still be measured in the original key's domain
    z = morton_code(rank16(wide_key), rank16("l_extendedprice"))
    li = zordered_layout(
        spark, oracle_sf_dir, "lineitem", z, n_files=16, cache_key="rank16_ok_price"
    )
    stats = (
        li.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("l_orderkey").alias("klo"), F.max("l_orderkey").alias("khi"),
            F.min("l_extendedprice").alias("plo"), F.max("l_extendedprice").alias("phi"),
        )
        .collect()
    )
    # box: the middle decile of each key in QUANTILE space (what a
    # selective 2-D lookup is at this file granularity — 16 files carry
    # only 4 bits of z resolution, so a third-of-the-space box would
    # legitimately touch most z-ranges)
    klo, khi = li.approxQuantile("l_orderkey", [0.45, 0.55], 0.001)
    plo, phi = li.approxQuantile("l_extendedprice", [0.45, 0.55], 0.001)
    hit = [s for s in stats if s.khi >= klo and s.klo <= khi and s.phi >= plo and s.plo <= phi]
    # File boundaries come from repartitionByRange's reservoir SAMPLING,
    # so the hit count swings ±1-2 files between runs (observed 6-9 of
    # 16 across repeats; a strict <= 8 flaked once under concurrent
    # load). The property under test is "footer stats skip a large
    # fraction of files", not an exact count — require at least 6 of 16
    # skipped.
    assert len(hit) <= len(stats) - 6, (len(hit), len(stats))


def test_python_datasource_overwrite_abort_preserves_old_output(spark, tmp_path):
    """Overwrite atomicity: old-part deletion is deferred to commit(),
    so a FAILED overwrite job leaves the previous committed output
    byte-for-byte intact and readable — not an emptied directory."""
    import os

    import pytest as _pytest

    from cooler_mapreduce_spark.sources.pysource import register

    register(spark)
    out = str(tmp_path / "tsv_keep_old")
    spark.range(0, 20, 1, 2).selectExpr("id").write.format("tsv_dir").mode(
        "overwrite"
    ).save(out)
    before = sorted(n for n in os.listdir(out) if not n.startswith("_temporary"))

    from pyspark.sql import functions as F

    @F.udf("bigint")
    def boom(x):
        raise ValueError("synthetic task failure")

    with _pytest.raises(Exception, match="synthetic task failure"):
        spark.range(0, 5, 1, 1).select(boom("id").alias("id")).write.format(
            "tsv_dir"
        ).mode("overwrite").save(out)
    after = sorted(n for n in os.listdir(out) if not n.startswith("_temporary"))
    assert after == before  # parts + _SUCCESS exactly as the job found them
    back = spark.read.option("sep", "\t").schema("id bigint").csv(out)
    assert sorted(r.id for r in back.collect()) == list(range(20))


def test_python_datasource_append_never_clobbers(spark, tmp_path):
    """Append mode numbers new parts after the largest existing index, so
    consecutive append jobs accumulate rows instead of silently
    overwriting part-00000.tsv."""
    from cooler_mapreduce_spark.sources.pysource import register

    register(spark)
    out = str(tmp_path / "tsv_append")
    spark.range(0, 10, 1, 2).selectExpr("id").write.format("tsv_dir").mode(
        "append"
    ).save(out)
    spark.range(10, 15, 1, 1).selectExpr("id").write.format("tsv_dir").mode(
        "append"
    ).save(out)
    back = spark.read.option("sep", "\t").schema("id bigint").csv(out)
    assert sorted(r.id for r in back.collect()) == list(range(15))


def test_python_stream_writer_replay_clears_stale_parts(tmp_path):
    """Epoch replay with FEWER partitions: commit(batchId) must first
    remove every existing part of that batchId — a stale higher-indexed
    part from a wider earlier attempt would otherwise survive promotion
    and duplicate rows — and sweep leftover staging temps on success."""
    import os

    from cooler_mapreduce_spark.sources.pysource import TsvDirStreamWriter, TsvPartCommit

    out = str(tmp_path / "stream_sink")
    os.makedirs(out)
    w = TsvDirStreamWriter({"path": out})
    # partially-committed wider earlier attempt of epoch 3: 3 parts + a
    # temp it never promoted
    for i in range(3):
        with open(os.path.join(out, f"part-{3:05d}-{i:05d}.tsv"), "w") as f:
            f.write(f"stale-{i}\n")
    stale_tmp = os.path.join(w.staging, "attempt-stale.tsv")
    with open(stale_tmp, "w") as f:
        f.write("orphan\n")
    # the replay attempt plans only 1 partition
    tmp = os.path.join(w.staging, "attempt-replay.tsv")
    with open(tmp, "w") as f:
        f.write("fresh\n")
    w.commit([TsvPartCommit(tmp_path=tmp, rows=1)], batchId=3)
    parts = sorted(n for n in os.listdir(out) if n.startswith("part-"))
    assert parts == ["part-00003-00000.tsv"]  # no stale survivors
    with open(os.path.join(out, parts[0])) as f:
        assert f.read() == "fresh\n"
    assert os.listdir(w.staging) == []  # orphaned temps swept on success


def test_partitioned_layout_prunes_file_listing(spark, sf_dir, tmp_path):
    """partition_by layout: a filter on the partition column must reach
    the file listing — the scan's inputFiles are exactly the one
    bucket's directory, and the plan carries a PartitionFilter. This is
    the scan-side proof behind sink_partitioned_pruning's docstring."""
    from cooler_mapreduce_spark.sources.catalog import table
    from cooler_mapreduce_spark.sources.sinks import write_parquet

    out = str(tmp_path / "bucketed_events")
    ev = table(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 16).cast("bigint")
    )
    write_parquet(ev, out, partition_by=["user_bucket"])
    n_buckets = ev.select("user_bucket").distinct().count()
    full = spark.read.parquet(out)
    assert len(full.inputFiles()) >= n_buckets > 1
    pruned = full.filter(F.col("user_bucket") == 3)
    # runtime proof: the only files the filtered scan actually opens are
    # the one bucket directory's (inputFiles() lists pre-pruning, so ask
    # the executed rows which file they came from)
    files = [
        r.f for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    ]
    assert files and all("user_bucket=3" in f for f in files)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "user_bucket" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]


def test_parquet_schema_evolution(spark, sf_dir, tmp_path):
    """Schema evolution on the parquet sink: a column added by a later
    writer is visible under mergeSchema, null-filled for old files —
    the append-only table lifecycle every long-lived corpus follows."""
    from cooler_mapreduce_spark.sources.catalog import table

    out = str(tmp_path / "evolving")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    o.limit(10).write.mode("append").parquet(out)
    o2 = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    o2.limit(5).write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"o_orderkey", "o_orderstatus", "o_totalprice"}
    assert merged.count() == 15
    assert merged.filter("o_totalprice IS NULL").count() == 10


def test_cli_dq_audit(spark, oracle_sf_dir, capsys):
    """`client dq <sf_dir>`: prints the long-form violation table and
    exits non-zero because the fixture supplier table carries negative
    balances (a real violation the audit must surface)."""
    from cooler_mapreduce_spark.cli import main

    rc = main(["dq", oracle_sf_dir])
    out = capsys.readouterr().out
    assert "supplier.negative_acctbal" in out
    assert "lineitem.orphan_orderkey" in out
    assert rc == 1  # fixture has 6 negative-balance suppliers


def test_cli_sql_inline_and_tsv_out(spark, oracle_sf_dir, tmp_path, capsys):
    """`client sql` runs ANSI text over the registered views: inline -e
    prints tab-separated rows; --out writes the reference's TSV part
    files."""
    import glob as _glob

    from cooler_mapreduce_spark.cli import main

    rc = main(["sql", oracle_sf_dir, "-e",
               "SELECT r_name FROM region ORDER BY r_name LIMIT 2"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == ["AFRICA", "AMERICA"]

    dest = str(tmp_path / "sql_out")
    rc = main(["sql", oracle_sf_dir, "-e",
               "SELECT n_name, n_nationkey FROM nation", "--out", dest])
    assert rc == 0
    rows = []
    for p in _glob.glob(f"{dest}/part-*"):
        with open(p) as f:
            rows += [ln.rstrip("\n").split("\t") for ln in f if ln.strip()]
    assert len(rows) == 25 and all(len(r) == 2 for r in rows)


def test_cli_explain_prints_plan(spark, capsys):
    from cooler_mapreduce_spark.cli import main

    rc = main(["explain", "pricing_summary", "--sf-dir", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "HashAggregate" in out or "Aggregate" in out
    assert "Scan" in out


def test_cli_explain_list_and_unknown(spark, capsys):
    import pytest as _pytest

    from cooler_mapreduce_spark.cli import main

    rc = main(["explain", "--list"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "pricing_summary" in out and "rows-only" in out
    with _pytest.raises(SystemExit):
        main(["explain", "no_such_query"])


def test_bucketed_join_query_plans_zero_pre_agg_exchanges(spark, oracle_sf_dir):
    """The co-located join never SHUFFLES either bucketed side: at test
    size the planner (correctly) broadcasts the small side instead; with
    broadcast impossible — the 100 TB fact-fact situation the layout
    exists for — the join must run bucket-zipped with ZERO exchanges."""
    from cooler_mapreduce_spark.sources.bucketing import (
        _bucketed_fixture,
        bucketed_join,
    )

    t_o, t_l = _bucketed_fixture(spark, oracle_sf_dir)

    def plan():
        j = bucketed_join(spark, t_l, t_o, "o_orderkey")
        return j._jdf.queryExecution().executedPlan().toString()

    assert "Exchange hashpartitioning" not in plan()  # size-based broadcast

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = plan()
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, p  # the write paid the only shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_tablesample_bucket_twin_prunes_buckets(spark, oracle_sf_dir):
    """The bucket-pruned leg must read ONLY the buckets the literal
    probe keys hash into: the bucketed scan reports SelectedBucketsCount
    strictly below the table's 16 buckets (the layout's point-lookup
    payoff), and the hash-gate leg plans as a plain filter scan with no
    shuffle before its single-group aggregate."""
    from cooler_mapreduce_spark.sources.bucketing import (
        _TSB_KEYS,
        _bucketed_fixture,
    )

    t_o, _ = _bucketed_fixture(spark, oracle_sf_dir)
    per_key = (
        spark.table(t_o)
        .filter(F.col("o_orderkey").isin(*_TSB_KEYS))
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("cnt"))
    )
    p = per_key._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", p)
    assert m, f"bucketed scan did not report bucket pruning:\n{p}"
    assert int(m.group(1)) < int(m.group(2)), m.group(0)
    # the per-key rollup rides the bucket layout: no exchange anywhere
    assert "Exchange hashpartitioning" not in p, p


def test_cow_rewrite_leaves_untouched_partitions_byte_identical(spark, tmp_path):
    """cow_rewrite_partitions must never read or rewrite partitions the
    CDC batch doesn't touch — pinned by hashing the untouched partition
    directories' data files before and after the rewrite."""
    import hashlib

    from cooler_mapreduce_spark.sources.sinks import cow_rewrite_partitions

    path = str(tmp_path / "cow_ds")
    base = spark.range(1, 201).select(
        F.col("id").alias("o_orderkey"),
        (F.lit(1994) + (F.col("id") % 4)).cast("int").alias("o_year"),
        (F.col("id") * 1.5).alias("o_totalprice"),
    )
    base.write.partitionBy("o_year").parquet(path)

    def dir_state(year):
        files = sorted(glob.glob(f"{path}/o_year={year}/*.parquet"))
        return [
            (os.path.basename(f), hashlib.md5(open(f, "rb").read()).hexdigest())
            for f in files
        ]

    before = {y: dir_state(y) for y in (1994, 1995)}
    # touch only 1996/1997: delete keys %10==6 (year 1996 keys are id%4==2),
    # update keys %10==7, insert two fresh keys into 1997
    change_keys = spark.createDataFrame(
        [(6,), (7,), (46,), (47,)], "o_orderkey bigint"
    )
    upserts = spark.createDataFrame(
        [(7, 1997, 99.0), (47, 1997, 99.0), (1007, 1997, 42.0)],
        "o_orderkey bigint, o_year int, o_totalprice double",
    )
    cow_rewrite_partitions(spark, path, [1996, 1997], change_keys, upserts)

    assert {y: dir_state(y) for y in (1994, 1995)} == before
    back = spark.read.parquet(path)
    # untouched years keep all rows; touched years reflect the merge
    assert back.filter(F.col("o_year").isin(1994, 1995)).count() == 100
    keys_96_97 = {
        r.o_orderkey
        for r in back.filter(F.col("o_year").isin(1996, 1997)).collect()
    }
    assert 6 not in keys_96_97 and 46 not in keys_96_97  # deleted
    assert 1007 in keys_96_97  # inserted
    upd = back.filter(F.col("o_orderkey") == 7).collect()
    assert len(upd) == 1 and upd[0].o_totalprice == 99.0 and upd[0].o_year == 1997
