#!/usr/bin/env python3
"""Runs one benchmark workload against the engine and prints its metrics.

    python3 perfbench/run.py --workload fx_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness (perfbench/harness, an sbt build that depends on the root build)
into .bench_build/; later runs reuse the build while the sources are
unchanged. The harness JVM writes raw samples; this script checks the
outputs, computes the metrics, prints one line per metric and, as the
last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics (from a separate traced run).
Every run's summary is also kept in .bench_build/results/ for compare.py.

--record writes the observed per-op (rows, checksum) into expected.json
instead of checking against it (used once, at the commit that defines
the benchmark).
"""

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

PROCESS_START_MS = time.time() * 1000.0

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)
import layers  # noqa: E402
import stats  # noqa: E402

JVM_TIMEOUT_S = 170
# Undisturbed sweeps every batch run makes at least (BatchRun.MinSweeps);
# the tail percentile is chosen for that many samples per op.
MIN_SWEEPS = 7
# Host steal share above which a sweep is left out (BatchRun.MaxStealPct).
MAX_STEAL_PCT = 2.0
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Builds the engine and the harness with sbt unless the build for
    this source tree is already there. Returns the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx4g")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=840)
        log.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("/") and "perfbench" in ln and ".jar" in ln]
    if proc.returncode != 0 or not lines:
        fail(f"build failed, see {log_path}", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def heap_size():
    """Half of MemTotal in GB, between 2g and 8g, as the tier-1 tests size it."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def cpu_steal():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, IndexError, ValueError):
        return 0, 0


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, spec, name, args, cpus, heap, out_path):
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argv = {
        "workload": name, "kind": spec["kind"], "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "work": work, "out": out_path,
        "cpus": cpus,
    }
    if spec["kind"] == "batch":
        argv.update(sf=spec["sf"], ops=",".join(spec["ops"]), writes=",".join(spec["writes"]),
                    index_ops=",".join(spec["index_ops"]))
    else:
        argv.update(channels=",".join(spec["channels"]), base_rate=spec["base_rate"],
                    limit_ms=spec["limit_ms"], burst=spec["burst"], sf=spec.get("sf", 0.001))
    cp_arg = os.path.join(BUILD, "java.args")
    with open(cp_arg, "w") as f:
        f.write("-cp " + cp + "\n")
    cmd = (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"@{cp_arg}", "perfbench.Main"] + [f"{k}={v}" for k, v in argv.items()])
    log_path = out_path + ".log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness JVM exceeded {JVM_TIMEOUT_S} s, see {log_path}", 4)
    if proc.returncode != 0 or not os.path.exists(out_path):
        fail(f"harness JVM failed (exit {proc.returncode}), see {log_path}", 4)
    with open(out_path) as f:
        return json.load(f)


def check_batch(raw, name, expected, record):
    """Checks every op call's (rows, checksum) against the recorded ones.
    Returns (attempted, failures, record entries)."""
    want = expected.get(name, {})
    failures = []
    seen = {}
    for c in raw["calls"]:
        op = c["op"]
        if "error" in c:
            failures.append(f"{c['id']}: {c['error']}")
            continue
        seen.setdefault(op, set()).add((c["rows"], c["sum"]))
        if record:
            continue
        w = want.get(op)
        if w is None:
            failures.append(f"{c['id']}: no recorded output")
        elif c["rows"] != w["rows"] or (w.get("rows_only") is None and c["sum"] != w["sum"]):
            failures.append(f"{c['id']}: got ({c['rows']}, {c['sum']}), "
                            f"want ({w['rows']}, {w['sum']})")
    return len(raw["calls"]), failures, (record_entries(seen, want, raw["cpus"]) if record else {})


def record_entries(seen, want, cpus):
    """Expected outputs from this run's calls merged with earlier records.
    An op whose checksum is not reproducible is kept on row count only,
    with the cause: it differs between calls in one process, between
    processes at one core count, or between core counts (partitioning)."""
    entries = {}
    for op, outs in seen.items():
        prev = want.get(op)
        rows = {r for r, _ in outs} | ({prev["rows"]} if prev else set())
        if len(rows) > 1:
            raise SystemExit(f"perfbench: {op}: row count is not reproducible {sorted(rows)}")
        sums = {s for _, s in outs}
        cause = prev.get("rows_only") if prev else None
        if len(sums) > 1:
            cause = "checksum differs between calls in one process"
        elif prev and prev["sum"] is not None and prev["sum"] not in sums and cause is None:
            cause = ("checksum depends on the partition count" if cpus not in prev["cpus"]
                     else "checksum differs between two runs of the same code")
        entries[op] = {"rows": rows.pop(), "sum": None if cause else sums.pop(),
                       "rows_only": cause,
                       "cpus": sorted(set(prev["cpus"] if prev else []) | {cpus})}
    return entries


def batch_metrics(raw, spec):
    kept = stats.quiet_sweeps(raw["sweeps"], MAX_STEAL_PCT, MIN_SWEEPS)
    ids = {s["sweep"] for s in kept}
    warm = [c for c in raw["calls"] if c["phase"] == "warm" and c["sweep"] in ids]
    writes = set(spec["writes"])
    lat = [c["ms"] for c in warm]
    sweep_s = statistics.median(s["ms"] for s in kept) / 1000.0
    sweeps = len(kept)
    tail_p, tail_v, tail_n = stats.tail(lat, len(lat) * MIN_SWEEPS // sweeps)
    out = {
        "op_p50_ms": (stats.percentile(lat, 50), "ms"),
        "op_tail_ms": (tail_v, "ms"),
        "throughput_per_s": (len(spec["ops"]) / sweep_s, "1/s"),
        "sweep_s": (sweep_s, "s"),
    }
    notes = [f"op_tail_ms is p{tail_p:g} of {len(lat)} warm op samples ({tail_n} beyond)",
             f"{sweeps} of {len(raw['sweeps'])} timed sweeps kept (host steal at most "
             f"{MAX_STEAL_PCT:g}%); steal per sweep: " +
             ", ".join(f"{s['steal_pct']:.1f}%" for s in raw["sweeps"])]
    for label, sel in (("read", lambda c: c["op"] not in writes),
                       ("write", lambda c: c["op"] in writes)):
        xs = [c["ms"] for c in warm if sel(c)]
        if xs:
            p, v, nb = stats.tail(xs, len(xs) * MIN_SWEEPS // sweeps)
            out[f"{label}_p50_ms"] = (stats.percentile(xs, 50), "ms")
            out[f"{label}_tail_ms"] = (v, "ms")
            notes.append(f"{label}_tail_ms is p{p:g} of {len(xs)} samples ({nb} beyond)" +
                         (f", the same figure as {label}_p50_ms" if p == 50 else ""))
    return out, notes


def fmt_ms(v):
    return "unbounded" if v is None else f"{v:.0f} ms"


def stream_metrics(raw):
    lat = [x for ch in raw["channels"] for x in ch["latency_ms"]]
    sustained = 0.0
    for r in raw["rungs"]:
        if not r["pass"]:
            break
        sustained = r["rate"]
    # a workload without bursts reports the ladder's sustained rate
    catch_up = (statistics.median(b["eps"] for b in raw["bursts"]) if raw["bursts"]
                else sustained)
    tail_p, tail_v, tail_n = stats.tail(lat) if lat else (99.0, float("inf"), 0)
    out = {
        "op_p50_ms": (stats.percentile(lat, 50) if lat else float("inf"), "ms"),
        "op_tail_ms": (tail_v, "ms"),
        "throughput_per_s": (catch_up, "1/s"),
        "event_p50_ms": (stats.percentile(lat, 50) if lat else float("inf"), "ms"),
        "event_p99_ms": (stats.percentile(lat, 99) if lat else float("inf"), "ms"),
        "sustained_eps": (sustained, "events/s"),
    }
    notes = [f"op_tail_ms is p{tail_p:g} of {len(lat)} base-rate event latencies ({tail_n} beyond)",
             f"{len(lat)} base-rate events over {len(raw['channels'])} channel(s); ladder: " +
             ", ".join(f"{r['rate']:g}/s {'pass' if r['pass'] else 'miss'} "
                       f"(p99 {fmt_ms(r['p99_ms'])}, {r['verdict']})" for r in raw["rungs"]),
             ("throughput_per_s is the catch-up rate, median of bursts of " +
              ", ".join(f"{b['events']:g} events in {b['drain_ms']:.0f} ms" for b in raw["bursts"])
              if raw["bursts"] else "throughput_per_s is sustained_eps: no bursts")]
    return out, notes


def check_stream(raw):
    attempted = 0
    failures = []
    for ch in raw["channels"]:
        attempted += ch["events"]
        bad = ch["missing"] + ch["late"] + ch["wrong"] + ch["duplicates"] + ch["unknown"]
        if bad:
            failures.append(f"{ch['channel']}: missing {ch['missing']}, late {ch['late']}, "
                            f"wrong {ch['wrong']}, duplicated {ch['duplicates']}, "
                            f"unknown {ch['unknown']}")
    failed = sum(ch["missing"] + ch["late"] + ch["wrong"] + ch["duplicates"] + ch["unknown"]
                 for ch in raw["channels"])
    # every burst event must reach every channel within the latency limit
    for b in raw["bursts"]:
        attempted += b["events"] * len(raw["channels"])
        failed += b["missing"]
        if b["missing"]:
            failures.append(f"burst at event {b['from']:g}: {b['missing']:g} not emitted in time")
    return attempted, failed, failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(ROOT, f)):
            fail(f"engine sources not found ({f}); run from a full checkout")
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; have {', '.join(workloads)}")
    spec = workloads[args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    cp, stamp = ensure_build()
    cpus = args.cpus or len(os.sched_getaffinity(0))
    heap = heap_size()
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}_s{args.seed}_t{args.trace}_{int(time.time() * 1000)}"
    raw_path = os.path.join(results, tag + ".raw.json")
    steal0 = cpu_steal()
    raw = run_jvm(cp, spec, args.workload, args, cpus, heap, raw_path)
    steal1 = cpu_steal()
    # CPU time the host gave to other guests during the run: whole runs
    # slow down together when it is high
    steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    # set-up runs from the harness JVM's start; the build and the one-off
    # table generation are not part of it
    setup_s = (raw["setup_end_epoch_ms"] - raw["jvm_start_epoch_ms"] - raw["datagen_ms"]) / 1000.0
    exp_path = os.path.join(HERE, "expected.json")
    expected = {}
    if os.path.exists(exp_path):
        with open(exp_path) as f:
            expected = json.load(f)
    if spec["kind"] == "batch":
        attempted, failures, entries = check_batch(raw, args.workload, expected, args.record)
        failed = len({f.split(":")[0] for f in failures})
        metrics, notes = batch_metrics(raw, spec)
        if args.record:
            expected.setdefault(args.workload, {}).update(entries)
            with open(exp_path, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
                f.write("\n")
    else:
        attempted, failed, failures = check_stream(raw)
        metrics, notes = stream_metrics(raw)
    metrics["setup_s"] = (setup_s, "s")
    metrics["heap_peak_mb"] = (raw["heap_peak_mb"], "MB")
    metrics["failed_ops"] = (failed / attempted if attempted else 1.0, "ratio")

    if args.trace:
        per_layer = layers.per_layer(raw, spec, args, results, raw_path)
        per_layer.update({k: v for k, v in metrics.items()})
        # a layer a workload does not exercise reads 0
        shown = {m["name"]: per_layer.get(m["name"], (0.0, m["unit"])) for m in bench["per_layer"]}
    else:
        shown = {m["name"]: metrics[m["name"]] for m in bench["end_to_end"]}

    rows_only = {op: w["rows_only"] for op, w in expected.get(args.workload, {}).items()
                 if w.get("rows_only")}
    commit = git_commit()
    print(f"workload {args.workload} ({spec['kind']}, {spec['loop']}) seed {args.seed} "
          f"trace {args.trace}: {cpus} cpus, heap {heap}, Spark {raw['spark_version']}, "
          f"commit {commit or 'n/a'}, source {stamp[:12]}, host steal {steal_pct:.1f}%")
    for k, (v, unit) in sorted((per_layer if args.trace else metrics).items()):
        print(f"  {k} = {v:.6g} {unit}")
    for n in notes:
        print(f"  note: {n}")
    for op, cause in sorted(rows_only.items()):
        print(f"  checked on row count only: {op} ({cause})")
    print(f"  output check: {attempted - failed} of {attempted} ok" +
          ("" if not failures else "; " + "; ".join(failures[:10])))

    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cpus": cpus, "heap": heap,
        "spark_version": raw["spark_version"], "commit": commit, "source": stamp,
        "steal_pct": steal_pct,
        "time_ms": int(PROCESS_START_MS),
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "shown": {k: v for k, (v, _) in shown.items()},
    }
    with open(os.path.join(results, tag + ".summary.json"), "w") as f:
        json.dump(summary, f)
    print(json.dumps({
        "correct": not failures and not args.record,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))


if __name__ == "__main__":
    main()
