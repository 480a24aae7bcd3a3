"""Per-layer metrics of a traced run, from the harness's raw result and its
spans (one JSON object per line: op, name, start, end in epoch ns, attrs).

Batch workloads report per warm op call means over the traced sweeps;
stream workloads report per-trigger means over the non-empty triggers
that start during the base step, pooled and per channel. A metric that does not apply to a workload reads 0."""

import glob
import json
import os
import statistics

import stats

STAGE_SUMS = {
    "exec.tasks": ("tasks", "count"),
    "exec.small_stage_tasks": ("small_stage_tasks", "count"),
    "exec.task_ms": ("task_ms", "ms"),
    "exec.task_cpu_ms": ("task_cpu_ms", "ms"),
    "exec.sched_delay_ms": ("sched_delay_ms", "ms"),
    "shuffle.write_bytes": ("shuffle_write_bytes", "bytes"),
    "shuffle.read_bytes": ("shuffle_read_bytes", "bytes"),
    "shuffle.fetch_wait_ms": ("fetch_wait_ms", "ms"),
    "spill.memory_bytes": ("spill_memory_bytes", "bytes"),
    "spill.disk_bytes": ("spill_disk_bytes", "bytes"),
    "io.read_bytes": ("io_read_bytes", "bytes"),
    "io.write_bytes": ("io_write_bytes", "bytes"),
    "io.write_records": ("io_write_records", "count"),
}
TRIGGER_PARTS = {
    "trigger_ms": "ms", "add_batch_ms": "ms", "planning_ms": "ms", "commit_ms": "ms",
    "rows_per_batch": "rows",
}


def load_spans(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def batch_layers(raw, spec, spans):
    """Per warm op call means over the traced sweeps."""
    cpus = raw["cpus"]
    calls = [c for c in raw["calls"] if c["phase"] == "warm" and c["traced"]]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    catalyst = sorted((s for s in by_op.get("", []) if s["name"].startswith("catalyst.")),
                      key=lambda s: s["start"])
    sums = {k: 0.0 for k in STAGE_SUMS}
    acc = {k: 0.0 for k in ("catalyst.analysis_ms", "catalyst.optimization_ms",
                            "catalyst.planning_ms", "build.ms", "build.jobs", "exec.jobs",
                            "exec.stages", "exec.consume_ms")}
    wall_ms = 0.0
    for c in calls:
        start, mid, end = c["start"], c["mid"], c["end"]
        mine = by_op.get(c["id"], [])
        jobs = [(s["start"], s["end"]) for s in mine if s["name"] == "job"]
        stages = [s for s in mine if s["name"] == "stage"]
        phases = [s for s in catalyst if start <= s["start"] < end]
        for s in phases:
            acc[s["name"] + "_ms"] = acc.get(s["name"] + "_ms", 0.0) + (s["end"] - s["start"]) / 1e6
        ph = [(s["start"], s["end"]) for s in phases]
        in_build = [iv for iv in jobs + ph if iv[0] < mid]
        in_exec = [iv for iv in jobs + ph if iv[0] >= mid]
        acc["build.ms"] += stats.self_time((start, mid), in_build) / 1e6
        acc["build.jobs"] += sum(1 for j in jobs if j[0] < mid)
        acc["exec.consume_ms"] += stats.self_time((mid, end), in_exec) / 1e6
        acc["exec.jobs"] += len(jobs)
        acc["exec.stages"] += len(stages)
        for k, (attr, _) in STAGE_SUMS.items():
            sums[k] += sum(s.get("attrs", {}).get(attr, 0.0) for s in stages)
        wall_ms += c["ms"]
    n = max(1, len(calls))
    out = {k: (v / n, "ms" if k.endswith("ms") else "count") for k, v in acc.items()}
    out.update({k: (v / n, STAGE_SUMS[k][1]) for k, v in sums.items()})
    out["exec.busy_ratio"] = (sums["exec.task_ms"] / (wall_ms * cpus) if wall_ms else 0.0, "ratio")
    writes = set(spec["writes"])
    warm = [c for c in raw["calls"] if c["phase"] == "warm"]
    out["write.ms"] = (_mean([c["ms"] for c in warm if c["op"] in writes]), "ms")
    out["memo.persisted_new"] = (_mean([c["persisted_new"] for c in warm]), "count")
    out["memo.storage_mb"] = (raw["memo_storage_mb"], "MB")
    traced = [s["ms"] for s in raw["sweeps"] if s["traced"]]
    untraced = [s["ms"] for s in raw["sweeps"] if not s["traced"]]
    if traced and untraced:
        out["trace.overhead_pct"] = (
            (statistics.median(traced) / statistics.median(untraced) - 1) * 100, "%")
    return out


def stream_layers(raw, spans, untraced_p50):
    triggers = [s for s in spans if s["name"].startswith("trigger.") and
                s.get("attrs", {}).get("rows", 0) > 0 and
                raw["base_start_ns"] <= s["start"] <= raw["base_end_ns"]]
    out = {}

    def parts(ts, prefix):
        for k, unit in TRIGGER_PARTS.items():
            attr = "rows" if k == "rows_per_batch" else k
            out[f"{prefix}.{k}"] = (_mean([t["attrs"][attr] for t in ts]), unit)

    parts(triggers, "stream")
    for ch in raw["channels"]:
        name = ch["channel"]
        parts([t for t in triggers if t["name"] == f"trigger.{name}"], f"stream.{name}")
    out["stream.state_rows"] = (_mean([t["attrs"]["state_rows"] for t in triggers]), "rows")
    out["stream.state_bytes"] = (_mean([t["attrs"]["state_bytes"] for t in triggers]), "bytes")
    out["stream.state_commit_ms"] = (_mean([t["attrs"]["state_commit_ms"] for t in triggers]), "ms")
    out["stream.sink_ms"] = (_mean([x for ch in raw["channels"] for x in ch["sink_ms"]]), "ms")
    out["stream.backlog_events"] = (raw["rungs"][0]["backlog_mean"], "events")
    late = raw["gen_late_ms"]
    out["gen.late_ms"] = (stats.percentile(late, 99) if late else 0.0, "ms")
    lat = [x for ch in raw["channels"] for x in ch["latency_ms"]]
    if untraced_p50 and lat:
        out["trace.overhead_pct"] = ((statistics.median(lat) / untraced_p50 - 1) * 100, "%")
    return out


def latest_untraced(results, workload, metric):
    """The metric's value in the newest untraced run of the workload."""
    best = None
    for f in glob.glob(os.path.join(results, f"{workload}_s*_t0_*.summary.json")):
        with open(f) as fh:
            s = json.load(fh)
        if best is None or s["time_ms"] > best["time_ms"]:
            best = s
    return best["metrics"].get(metric) if best else None


def per_layer(raw, spec, args, results, out_path):
    spans = load_spans(out_path + ".spans.jsonl")
    out = {
        "setup.session_ms": (raw["session_ms"], "ms"),
        "setup.cold_ms": (raw["cold_ms"], "ms"),
        "setup.index_build_ms": (raw["index_build_ms"], "ms"),
        "codegen.compiles_cold": (raw["codegen_compiles_cold"], "count"),
        "codegen.compile_ms_cold": (raw["codegen_compile_ms_cold"], "ms"),
        "codegen.compiles_warm": (raw["codegen_compiles_warm"], "count"),
        "codegen.compile_ms_warm": (raw["codegen_compile_ms_warm"], "ms"),
        "jvm.gc_ms": (raw["gc_ms"], "ms"),
        "jvm.heap_after_gc_mb": (raw["heap_after_gc_mb"], "MB"),
    }
    if raw["kind"] == "batch":
        out.update(batch_layers(raw, spec, spans))
    else:
        out.update(stream_layers(raw, spans,
                                 latest_untraced(results, args.workload, "event_p50_ms")))
    return out
