"""Per-layer numbers from a traced run, and the trace summariser.

``layer_metrics`` turns the spans and status-store counts of one traced
run into the per-layer metrics the run prints. Run as a script, it reads
the trace files a traced run leaves in ``perfbench/.work/traces`` and
prints, per workload, each layer's self time (span time minus the part
covered by its child spans), the layer counts, and the tracing overhead
(traced against untraced ``ops_per_s`` from ``.work/results.jsonl``):

    python3 perfbench/summarize.py [trace.json ...]
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

from probes import busy_seconds, first_shuffle_write_mb, job_totals, result_stage_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")

#: Additive per-layer quantities; each is printed summed over the timed
#: window and, with a ``.per_op`` suffix, divided by the ops in it.
ADDITIVE_UNITS = {
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "action.run_s": "s",
    "action.jobs": "count",
    "driver.gap_s": "s",
    "driver.jobs": "count",
    "driver.stages": "count",
    "driver.tasks": "count",
    "scan.input_mb": "MB",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.records": "count",
    "spill.mb": "MB",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "mr.job_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written_mb": "MB",
    "sinks.files_written": "count",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "storage.retained_mb": "MB",
}

UNITS = {
    **ADDITIVE_UNITS,
    **{f"{k}.per_op": u for k, u in ADDITIVE_UNITS.items()},
    "executor.slot_busy_frac": "fraction",
    "mr.combine_ratio": "fraction",
    "sinks.write_amp": "ratio",
    "graph.triangle_shuffle_mb.per_op": "MB",
    "session.get_session_s": "s",
    "registry.load_all_s": "s",
    "setup.warmup_s": "s",
    "jvm.gc_s": "s",
    "proc.peak_rss_mb": "MB",
    "host.steal_frac": "fraction",
    "host.foreign_cpu_frac": "fraction",
    "host.loadavg_1m": "load",
    "host.cpu_probe_s": "s",
    "trace.ops_per_s": "ops/s",
    "trace.op_latency_p50_s": "s",
    "trace.ops": "count",
}

_MB = 1 / (1 << 20)


def _spans_by_op(spans) -> dict[str, list]:
    out: dict[str, list] = {}
    for s in spans:
        if s.op_id is not None:
            out.setdefault(s.op_id, []).append(s)
    return out


def layer_metrics(tracer, timed_ids: set[str], *, window: float, cores: int) -> dict[str, float]:
    """Per-layer metrics over the timed ops of a traced run.

    Reads the status store once per op (after the window, so the reads
    cost the window nothing); the raw per-op records are kept on
    ``tracer.ops`` for the trace file."""
    acc = {k: 0.0 for k in ADDITIVE_UNITS}
    mr_shuffled = mr_input = 0.0
    sink_bytes = sink_source = 0
    triangle_mb: list[float] = []
    by_op = _spans_by_op(tracer.spans)
    records = {o["op_id"]: o for o in tracer.ops}
    for op_id in sorted(timed_ids):
        spans = by_op.get(op_id, [])
        top = next(s for s in spans if s.name == "op")
        run_ids = [s.attrs["run_id"] for s in spans if "run_id" in s.attrs]
        groups = {"build": [f"{op_id}/build"], "action": [f"{op_id}/action"], "mr": [f"{op_id}/mr"],
                  "sink": [f"{op_id}/sink"], "stream": [f"{op_id}/stream", *run_ids]}
        all_jobs = tracer.jobs([g for gs in groups.values() for g in gs])
        jobs_by = {k: [j for j in all_jobs if j["group"] in gs] for k, gs in groups.items()}
        tot = job_totals(all_jobs)
        rec = records[op_id]
        rec["layers"] = {k: job_totals(v) for k, v in jobs_by.items() if v}
        rec["busy_s"] = busy_seconds(all_jobs, top.start, top.end)
        acc["driver.gap_s"] += top.seconds - rec["busy_s"]
        acc["driver.jobs"] += tot["jobs"]
        acc["driver.stages"] += tot["stages"]
        acc["driver.tasks"] += tot["tasks"]
        acc["scan.input_mb"] += tot["input_mb"]
        acc["shuffle.write_mb"] += tot["shuffle_write_mb"]
        acc["shuffle.read_mb"] += tot["shuffle_read_mb"]
        acc["shuffle.records"] += tot["shuffle_records"]
        acc["spill.mb"] += tot["spill_mb"]
        acc["executor.run_s"] += tot["executor_run_s"]
        acc["executor.cpu_s"] += tot["executor_cpu_s"]
        acc["executor.gc_s"] += tot["executor_gc_s"]
        acc["storage.retained_mb"] += rec["retained_bytes"] * _MB
        acc["operators.build_jobs"] += len(jobs_by["build"])
        acc["action.jobs"] += len(jobs_by["action"])
        if rec["name"] == "triangle_count_copurchase":
            triangle_mb.append(tot["shuffle_write_mb"])
        for s in spans:
            if s.name == "op.build":
                acc["operators.build_s"] += s.seconds
            elif s.name == "op.action":
                acc["action.run_s"] += s.seconds
            elif s.name in ("mr", "sink"):
                if s.name == "mr":
                    # the submit's saveAsTextFile stage is the sink; the job
                    # file's combiner shows in the groupByKey shuffle alone
                    acc["mr.job_s"] += s.seconds
                    acc["sinks.write_s"] += result_stage_seconds(jobs_by["mr"])
                    mr_input += s.attrs["source_bytes"]
                    mr_shuffled += first_shuffle_write_mb(jobs_by["mr"]) / _MB
                else:
                    acc["sinks.write_s"] += s.seconds
                acc["sinks.bytes_written_mb"] += s.attrs["bytes"] * _MB
                acc["sinks.files_written"] += s.attrs["files"]
                sink_bytes += s.attrs["bytes"]
                sink_source += s.attrs["source_bytes"]
            elif s.name == "stream":
                for p in s.attrs.get("progress", []):
                    d = p.get("durationMs", {})
                    acc["streaming.batches"] += 1
                    acc["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
                    acc["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                    acc["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
                progress = s.attrs.get("progress", [])
                if progress:
                    acc["streaming.state_rows"] += sum(
                        o.get("numRowsTotal", 0) for o in progress[-1].get("stateOperators", [])
                    )
    n = max(1, len(timed_ids))
    out: dict[str, float] = {}
    for k, v in acc.items():
        out[k] = v
        out[f"{k}.per_op"] = v / n
    out["executor.slot_busy_frac"] = acc["executor.run_s"] / (window * cores)
    out["mr.combine_ratio"] = mr_shuffled / mr_input if mr_input else 0.0
    out["sinks.write_amp"] = sink_bytes / sink_source if sink_source else 0.0
    out["graph.triangle_shuffle_mb.per_op"] = statistics.mean(triangle_mb) if triangle_mb else 0.0
    return out


# ---------------------------------------------------------- summariser ----


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total span time minus the time its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cur = 0.0, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if cur is not None and lo < cur:
                lo = cur
            if hi > lo:
                covered += hi - lo
                cur = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def _untraced_ops_per_s(workload: str) -> list[float]:
    path = os.path.join(WORK, "results.jsonl")
    if not os.path.exists(path):
        return []
    vals = []
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            if r.get("workload") == workload and not r.get("trace") and "ops_per_s" in r["metrics"]:
                vals.append(r["metrics"]["ops_per_s"]["value"])
    return vals


def summarize(path: str) -> str:
    with open(path) as fh:
        doc = json.load(fh)
    timed = set(doc["timed_ops"])
    spans = [s for s in doc["spans"] if s["op_id"] in timed]
    lines = [f"== {doc['workload']} (seed {doc['seed']}, window {doc['window_s']:.1f} s, {len(timed)} ops)"]
    lines.append("  self time per layer over the window (s):")
    for name, t in sorted(self_times(spans).items(), key=lambda kv: -kv[1]):
        lines.append(f"    {name:<12} {t:9.3f}")
    m = doc["metrics"]
    lines.append("  layer counts per op:")
    for k in sorted(m):
        if k.endswith(".per_op") and m[k]:
            lines.append(f"    {k[:-7]:<28} {m[k]:12.4f} {UNITS[k]}")
    for k in ("executor.slot_busy_frac", "mr.combine_ratio", "sinks.write_amp",
              "jvm.gc_s", "proc.peak_rss_mb", "host.steal_frac", "host.foreign_cpu_frac",
              "host.cpu_probe_s"):
        if m.get(k):
            lines.append(f"    {k:<28} {m[k]:12.4f} {UNITS[k]}")
    per_name: dict[str, list[float]] = {}
    for o in doc["ops"]:
        if o["op_id"] in timed:
            per_name.setdefault(o["name"], []).append(o["latency_s"])
    lines.append("  median latency per op name (s):")
    for name, v in sorted(per_name.items()):
        lines.append(f"    {name:<34} {statistics.median(v):8.3f}  (n={len(v)})")
    untraced = _untraced_ops_per_s(doc["workload"])
    traced = m["trace.ops_per_s"]
    if untraced:
        base = statistics.median(untraced)
        lines.append(
            f"  tracing overhead: traced {traced:.4f} ops/s vs untraced median {base:.4f} ops/s "
            f"over {len(untraced)} runs (traced {(traced - base) / base:+.1%}); read it against "
            "the untraced runs' own spread"
        )
    else:
        lines.append(f"  tracing overhead: traced {traced:.4f} ops/s; no untraced run recorded yet")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    paths = argv or sorted(glob.glob(os.path.join(WORK, "traces", "*.json")))
    if not paths:
        print("no trace files; run run.py with --trace 1 first", file=sys.stderr)
        return 1
    for p in paths:
        print(summarize(p))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
