"""Tests of the benchmark itself: its inputs, checks, probes, contract and
end-to-end smoke mode.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import check  # noqa: E402
import gen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import summarize  # noqa: E402
import workloads  # noqa: E402


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.fixture
def work_dir(request):
    """A scratch directory inside the benchmark's ignored work area."""
    path = os.path.join(run.WORK, f"test-{request.node.name}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


# ----------------------------------------------------------- inputs ----


def test_catalog_is_deterministic_and_shaped():
    a = gen.catalog_frames(0.001)
    b = gen.catalog_frames(0.001)
    assert sorted(a) == sorted(
        ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
         "events", "documents", "embeddings"]
    )
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert len(a["lineitem"]) == 6000 and len(a["orders"]) == 1500
    assert a["lineitem"]["l_orderkey"].max() < len(a["orders"])
    assert a["events"]["ts"].is_monotonic_increasing


def test_corpus_depends_only_on_seed():
    assert gen.corpus_lines(7, 500) == gen.corpus_lines(7, 500)
    assert gen.corpus_lines(7, 500) != gen.corpus_lines(8, 500)


# ----------------------------------------------------------- checks ----


def test_digest_ignores_row_and_column_order_but_not_values():
    df = pd.DataFrame({"k": ["a", "b", None], "v": [1.5, float("nan"), 3.0]})
    shuffled = df.iloc[[2, 0, 1]][["v", "k"]]
    assert check.frame_digest(df) == check.frame_digest(shuffled)
    changed = df.copy()
    changed.loc[0, "v"] = 1.5000000000000002
    assert check.frame_digest(df) != check.frame_digest(changed)


def test_corrupted_digest_is_reported():
    got = check.frame_digest(pd.DataFrame({"x": [1, 2, 3]}))
    assert check.compare("q", got, dict(got)) is None
    bad = dict(got, sha256="0" * 64)
    assert "output differs" in check.compare("q", got, bad)
    assert "no stored digest" in check.compare("q", got, None)


@pytest.fixture(scope="module")
def smoke_ctx():
    """A session on the smoke catalog, set up the way run.py sets it up."""
    sf_dir, _ = run._catalog(run.SMOKE_SF)
    run._environment(2, sf_dir)
    from cooler_mapreduce_spark.registry import load_all
    from cooler_mapreduce_spark.session import get_session

    spark = get_session("perfbench-tests", cpus=2)
    work = os.path.join(run.WORK, f"test-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    ctx = workloads.Ctx(spark=spark, specs=load_all(), sf_dir=sf_dir, work=work, cores=2,
                        seed=1, tracer=probes.Tracer(enabled=False),
                        digests=check.load_digests()[f"sf{run.SMOKE_SF}"])
    yield ctx
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


def test_query_check_catches_a_corrupted_digest(smoke_ctx):
    op = workloads.query_op("shipping_priority_topk")
    op.run(smoke_ctx, "t/shipping_priority_topk")
    assert op.verify(smoke_ctx) is None
    stored = smoke_ctx.digests["shipping_priority_topk"]
    smoke_ctx.digests["shipping_priority_topk"] = dict(stored, sha256=stored["sha256"][::-1])
    try:
        assert "output differs" in op.verify(smoke_ctx)
    finally:
        smoke_ctx.digests["shipping_priority_topk"] = stored


def test_job_check_catches_a_wrong_count(smoke_ctx):
    workloads.corpus_setup(smoke_ctx, 200)
    op = workloads.mr_op("mr_word_count_job", "word_count.py", workloads._word_count_expected)
    op.run(smoke_ctx, "t/mr_word_count_job")
    assert op.verify(smoke_ctx) is None
    out = smoke_ctx.outputs["mr_word_count_job"]
    part = os.path.join(out, next(f for f in sorted(os.listdir(out)) if f.startswith("part-")))
    with open(part) as fh:
        lines = fh.read().splitlines()
    word, count = lines[0].split("\t")
    lines[0] = f"{word}\t{int(count) + 1}"
    with open(part, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    assert "first differences" in op.verify(smoke_ctx)


def test_sink_check_catches_a_lost_partition(smoke_ctx):
    op = workloads.parquet_sink_op()
    op.run(smoke_ctx, "t/sink_parquet_orders")
    assert op.verify(smoke_ctx) is None
    out = smoke_ctx.outputs["sink_parquet_orders"]
    shutil.rmtree(os.path.join(out, sorted(d for d in os.listdir(out) if "=" in d)[0]))
    assert "output differs" in op.verify(smoke_ctx)


def test_stored_digests_cover_every_query_op():
    digests = check.load_digests()
    for w in workloads.workloads(0).values():
        for sf in (w.sf, "0.001"):
            assert set(w.queries) <= set(digests[f"sf{sf}"]), (w.name, sf)


def test_word_count_reference_normalises_like_the_job_file():
    assert check.word_counts(["Hello, world!", "hello 'world' ..."]) == {"hello": 2, "world": 2}


def test_tsv_parts_reader(work_dir):
    for name, text in (("part-00000", "a\t1\nb\t2\n"), ("part-00001", "c\t3\n"), ("_SUCCESS", "")):
        with open(os.path.join(work_dir, name), "w") as fh:
            fh.write(text)
    assert check.read_tsv_parts(work_dir) == {"a": "1", "b": "2", "c": "3"}


# ----------------------------------------------------------- probes ----


def test_busy_seconds_is_the_clipped_union_of_job_intervals():
    jobs = [
        {"submissionTime": 1000, "completionTime": 3000},
        {"submissionTime": 2000, "completionTime": 4000},
        {"submissionTime": 6000, "completionTime": 7000},
        {"submissionTime": 8000},  # never completed: ignored
    ]
    assert probes.busy_seconds(jobs, 0.0, 10.0) == pytest.approx(4.0)
    assert probes.busy_seconds(jobs, 2.5, 6.5) == pytest.approx(2.0)


def test_contention_separates_steal_and_foreign_cpu():
    before = probes.CpuSnapshot(busy=0, steal=0, total=0, tree=0)
    after = probes.CpuSnapshot(busy=600, steal=100, total=1000, tree=300)
    c = probes.contention(before, after)
    assert c["host.steal_frac"] == pytest.approx(0.1)
    assert c["host.foreign_cpu_frac"] == pytest.approx(0.2)
    assert c["host.loadavg_1m"] >= 0


def test_mr_stage_figures_pick_the_combine_and_write_stages():
    stage = dict.fromkeys(probes._STAGE_KEYS, 0)
    jobs = [
        {"jobId": 0, "completionTime": 2000, "stages": [dict(stage, stageId=0)]},
        {"jobId": 1, "completionTime": 5000,  # sortByKey's sample job
         "stages": [dict(stage, stageId=1, shuffleWriteBytes=3 << 20), dict(stage, stageId=2)]},
        {"jobId": 2, "completionTime": 9000,  # saveAsTextFile
         "stages": [dict(stage, stageId=4, submissionTime=7500),
                    dict(stage, stageId=3, shuffleWriteBytes=5 << 20, submissionTime=6000)]},
    ]
    assert probes.first_shuffle_write_mb(jobs) == pytest.approx(3.0)
    assert probes.result_stage_seconds(jobs) == pytest.approx(1.5)
    assert probes.result_stage_seconds([]) == 0.0


def test_tree_peak_rss_includes_this_process():
    assert probes.tree_peak_rss_mb() > 1.0


def test_self_time_subtracts_child_spans():
    spans = [
        {"id": 0, "name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "op.build", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "op.action", "start": 4.0, "end": 9.0, "parent": 0},
    ]
    st = summarize.self_times(spans)
    assert st == pytest.approx({"op": 2.0, "op.build": 3.0, "op.action": 5.0})


def test_disabled_tracer_records_nothing():
    t = probes.Tracer(enabled=False)
    with t.span("op", "x", group="g"):
        pass
    assert t.spans == [] and t.jobs(["g"]) == [] and t.storage_bytes() == 0


# --------------------------------------------------------- contract ----


def test_benchmark_json_matches_the_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} == set(workloads.workloads(0))
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert {m["name"] for m in spec["per_layer"]} <= set(summarize.UNITS)


def test_run_without_the_package_fails_without_a_result(work_dir):
    shutil.copytree(BENCH, os.path.join(work_dir, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), work_dir)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=work_dir, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_smoke_mode_runs_and_checks_every_op():
    """Every op path of every workload once at sf0.001, outputs checked."""
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = _last_json(p.stdout)
    n_ops = sum(len(w.ops) for w in workloads.workloads(0).values())
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] == n_ops
