"""The repo benchmark: one closed-loop client on local[nproc].

Usage:
  python3 perfbench/run.py --workload {query_board,table_ingest}
                           --seed N --seconds S --trace {0,1}

Builds the program and the driver from source (perfbench/build.py),
stages the workload's inputs from the seed under a freshly emptied run
directory in .bench_build/, runs the driver JVM (perfbench.Main), checks
the outputs and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 the per-layer ones, and the spans go to
<run dir>/spans.jsonl. The line before it repeats each metric with its
sample count.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
from stats import (innermost, latency_summary, median, percentile,  # noqa: E402
                   self_time_by_layer, union_length)

BOARD_SF = 0.01
INGEST_LOG_PASSES = 80
STAGINGS = 3
HEAP = "3g"
JVM_TIMEOUT_S = 150

OP_KINDS = {"query_board": {"query"}, "table_ingest": {"commit", "read", "stream"}}
MODULES = ["Relational", "StarSchema", "EtlParity", "EventsQueries", "StatsQueries",
           "TimeSeriesQueries", "Profiling", "PlannerMechanisms", "Dedup", "Similarity",
           "TextAnalysis", "Curation", "Multimodal", "ZOrder", "OperatorQueries"]
SPAN_LAYER = {"query": "queries", "commit": "sources", "read": "sources",
              "stream": "streaming"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p75_s": "s",
              "live_heap_mb": "MB"}


def stage(workload, seed, run_dir):
    """Stage inputs STAGINGS times into fresh directories; keep the last.
    Returns (data dir, staging milliseconds per repetition)."""
    times, data = [], None
    for i in range(STAGINGS):
        d = run_dir / f"data_{i}"
        t = time.perf_counter()
        if workload == "query_board":
            gen.tables(d, BOARD_SF)
        else:
            gen.ingest_log(d, seed, INGEST_LOG_PASSES)
        times.append((time.perf_counter() - t) * 1000)
        if data is not None:
            shutil.rmtree(data)
        data = d
    return data, times


def run_jvm(args, classes, run_dir, data_dir):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{build.spark_jars()}/*:{classes}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", str(run_dir), "--data-dir", str(data_dir)]
    (run_dir / "tmp").mkdir()
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}  # keep spark.local.dir
    with open(run_dir / "jvm.log", "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S,
                           env=env)
    if r.returncode != 0:
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        raise RuntimeError(f"driver JVM exited {r.returncode}:\n{tail}")
    return json.loads((run_dir / "raw.json").read_text())


def dur_s(x):
    return (x["end_ms"] - x["start_ms"]) / 1000.0


def timed_ops(raw, passes):
    idx = {p["index"] for p in passes}
    return [o for o in raw["ops"] if o["pass"] in idx]


def end_to_end(raw, staging_ms):
    s = raw["setup"]
    passes = [p for p in raw["passes"] if not p["traced"]]
    ops = [o for o in timed_ops(raw, passes) if o["ok"] and o["kind"] in OP_KINDS[raw["workload"]]]
    lat = [dur_s(o) for o in ops]
    setup_ms = s["session_ms"] + median(staging_ms) + s["warm_ms"]
    values = {
        "setup_s": (setup_ms / 1000.0, STAGINGS),
        "pass_s": (median([dur_s(p) for p in passes]), len(passes)),
        "op_p50_s": (percentile(lat, 0.5), len(lat)),
        # the highest quantile with at least ten samples beyond it on both
        # workloads (45 query samples, about 65 table op samples per run)
        "op_p75_s": (percentile(lat, 0.75), len(lat)),
        "live_heap_mb": (median([p["heap_mb"] for p in passes]), len(passes)),
    }
    return {k: {"value": v, "unit": END_TO_END[k], "samples": n} for k, (v, n) in values.items()}


def spans_of(raw, passes):
    """One span per layer boundary in the traced passes: pass, op, the
    driver-side build of a query, Catalyst phases, jobs."""
    spans = [{"id": f"pass{p['index']}", "name": "pass", "layer": "bench",
              "start": p["start_ms"], "end": p["end_ms"], "parent": None, "op": None}
             for p in passes]
    containers = []
    for o in timed_ops(raw, passes):
        span = {"id": f"op{o['id']}", "name": f"{o['kind']}:{o['name']}",
                "layer": SPAN_LAYER[o["kind"]], "start": o["start_ms"], "end": o["end_ms"],
                "parent": f"pass{o['pass']}", "op": o["id"]}
        spans.append(span)
        containers.append(span)
        if "build_start_ms" in o:
            b = {"id": f"build{o['id']}", "name": "driver.build", "layer": "driver",
                 "start": o["build_start_ms"], "end": o["build_end_ms"],
                 "parent": span["id"], "op": o["id"]}
            spans.append(b)
            containers.append(b)
    containers += spans[:len(passes)]
    by_id = {c["id"]: c for c in containers}

    def child(sid, name, layer, start, end):
        parent = innermost(start, containers)
        if parent is not None:
            spans.append({"id": sid, "name": name, "layer": layer, "start": start, "end": end,
                          "parent": parent, "op": by_id[parent]["op"]})

    for q in raw.get("query_executions", []):
        for phase, (s, e) in q["phases"].items():
            child(f"qe{q['id']}.{phase}", f"catalyst.{phase}", "catalyst", s, e)
    for j in raw.get("jobs", []):
        if j.get("end_ms") is not None:
            child(f"job{j['id']}", "exec.job", "exec", j["start_ms"], j["end_ms"])
    return spans


def per_layer(raw, model, run_dir):
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    n = len(traced)
    spans = spans_of(raw, traced)
    with open(run_dir / "spans.jsonl", "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    ops = timed_ops(raw, traced)
    m = {}

    def per_pass(total):
        return total / n

    m["driver.build_s"] = per_pass(sum(o["build_end_ms"] - o["build_start_ms"]
                                       for o in ops if "build_start_ms" in o) / 1000.0)
    cat = [s for s in spans if s["layer"] == "catalyst"]
    jobs = [s for s in spans if s["layer"] == "exec"]
    gap = job_span = 0.0
    for p in traced:
        w = (p["start_ms"], p["end_ms"])
        inside = [(s["start"], s["end"]) for s in jobs if w[0] <= s["start"] <= w[1]]
        job_span += union_length(inside)
        busy = inside + [(s["start"], s["end"]) for s in cat if w[0] <= s["start"] <= w[1]]
        gap += (w[1] - w[0]) - union_length(busy)
    m["driver.gap_s"] = per_pass(gap / 1000.0)
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = per_pass(sum(s["end"] - s["start"] for s in cat
                                                if s["name"] == f"catalyst.{phase}") / 1000.0)
    op_of_qe = {}  # query execution id -> op id, for executions in traced passes
    for s in cat:
        op_of_qe.setdefault(int(s["id"][2:].split(".")[0]), s["op"])
    qes_of_op = {}
    for q in raw.get("query_executions", []):
        if q["id"] in op_of_qe:
            qes_of_op.setdefault(op_of_qe[q["id"]], []).append(q)
    m["catalyst.executions"] = per_pass(len(op_of_qe))
    m["codegen.classes"] = per_pass(sum(p["codegen_classes"] for p in traced))
    m["codegen.compile_s"] = per_pass(sum(p["codegen_compile_ms"] for p in traced) / 1000.0)

    totals = {}
    for p in traced:
        for k, v in raw.get("task_totals", {}).get(str(p["index"]), {}).items():
            totals[k] = totals.get(k, 0.0) + v
    m["exec.jobs"] = per_pass(len(jobs))
    m["exec.stages"] = per_pass(totals.get("stages", 0.0))
    m["exec.tasks"] = per_pass(totals.get("tasks", 0.0))
    m["exec.job_span_s"] = per_pass(job_span / 1000.0)
    m["exec.task_run_s"] = per_pass(totals.get("task_run_ms", 0.0) / 1000.0)
    m["exec.task_cpu_s"] = per_pass(totals.get("task_cpu_ns", 0.0) / 1e9)
    m["exec.gc_s"] = per_pass(totals.get("gc_ms", 0.0) / 1000.0)
    m["exec.busy_ratio"] = (m["exec.task_run_s"] / (m["exec.job_span_s"] * raw["cores"])
                            if m["exec.job_span_s"] else 0.0)
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
              "output_bytes", "output_rows", "task_failures"):
        m[f"exec.{k}"] = per_pass(totals.get(k, 0.0))

    for mod in MODULES:
        m[f"queries.{mod}_s"] = per_pass(sum(dur_s(o) for o in ops if o.get("module") == mod))

    builds = hits = 0
    for o in ops:
        if o["kind"] != "query":
            continue
        builds += len(o["boundary_dirs_built"])
        hits += len({d for q in qes_of_op.get(o["id"], []) for p in q["input_paths"]
                     for d in o["boundary_dirs_present"] if d in p})
    m["sources.boundary_builds"] = per_pass(builds)
    m["sources.boundary_hits"] = per_pass(hits)

    m.update(storage_metrics(raw, model))
    scans = [sum(q["sink_files_scanned"] for q in qes_of_op[o["id"]]
                 if q["sink_files_scanned"] >= 0)
             for o in ops if o["kind"] == "read" and o["id"] in qes_of_op]
    m["sources.files_scanned_per_read"] = median(scans) or 0.0

    plain = timed_ops(raw, untraced)
    for kind, name in (("commit", "commit"), ("read", "read")):
        lat = latency_summary([dur_s(o) for o in plain if o["ok"] and o["kind"] == kind])
        m[f"sources.{name}_p50_s"] = lat["p50"] or 0.0
        m[f"sources.{name}_p90_s"] = lat["p90"] or 0.0
    batches = [b for o in plain if o["kind"] == "stream" and o["ok"] for b in o.get("batches", [])]
    lat = latency_summary([b["trigger_ms"] / 1000.0 for b in batches])
    m["streaming.batches"] = len(batches) / max(1, len(untraced))
    m["streaming.batch_p50_s"] = lat["p50"] or 0.0
    m["streaming.batch_p90_s"] = lat["p90"] or 0.0
    for k in ("add_batch", "latest_offset", "query_planning", "wal_commit"):
        vals = [b[f"{k}_ms"] / 1000.0 for b in batches if b.get(f"{k}_ms") is not None]
        m[f"streaming.{k}_s"] = median(vals) or 0.0
    trig = sum(b["trigger_ms"] for b in batches)
    m["streaming.input_rows_per_s"] = (sum(b["input_rows"] for b in batches) / (trig / 1000.0)
                                       if trig else 0.0)

    layers = self_time_by_layer(spans)
    for layer in ("bench", "queries", "sources", "streaming", "driver", "catalyst", "exec"):
        m[f"self.{layer}_s"] = per_pass(layers.get(layer, 0.0) / 1000.0)
    m["host.cpu_s"] = per_pass(sum(p["cpu_ms"] for p in traced) / 1000.0)
    m["host.steal_ratio"] = (sum(p["steal_ms"] for p in raw["passes"])
                             / sum(p["end_ms"] - p["start_ms"] for p in raw["passes"]) / raw["cores"])
    m["trace.untraced_pass_s"] = median([dur_s(p) for p in untraced])
    m["trace.traced_pass_s"] = median([dur_s(p) for p in traced])
    m["trace.overhead_s"] = tracing_overhead(raw["passes"])
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}


def tracing_overhead(passes):
    """Median over traced passes of (traced pass - mean of its untraced
    neighbours), which cancels warm-up drift that runs across passes;
    with no pass between two untraced ones, the difference of medians."""
    t = [dur_s(p) for p in passes]
    diffs = [t[i] - (t[i - 1] + t[i + 1]) / 2 for i, p in enumerate(passes)
             if p["traced"] and 0 < i < len(passes) - 1]
    if diffs:
        return median(diffs)
    return (median([x for x, p in zip(t, passes) if p["traced"]])
            - median([x for x, p in zip(t, passes) if not p["traced"]]))


def storage_metrics(raw, model):
    names = ["sources.manifest_versions", "sources.live_files", "sources.write_amp",
             "sources.space_amp"]
    table = raw["extra"].get("table_dir")
    if not table or model is None:
        return {k: 0.0 for k in names}
    t = Path(table)
    manifests = sorted(t.glob("manifest.v*.psv"),
                       key=lambda f: int(f.name[len("manifest.v"):-len(".psv")]))
    live = {line.split("|")[1] for line in manifests[-1].read_text().splitlines()
            if line and not line.startswith("#")} if manifests else set()
    disk = sum(f.stat().st_size for f in t.rglob("*") if f.is_file())
    live_rows = model.totals()[0]
    return {"sources.manifest_versions": float(len(manifests)),
            "sources.live_files": float(len(live)),
            "sources.write_amp": disk / (16.0 * model.ingested_rows),
            "sources.space_amp": disk / (16.0 * live_rows) if live_rows else 0.0}


PER_LAYER = {
    "driver.build_s": "s", "driver.gap_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.executions": "count", "codegen.classes": "count", "codegen.compile_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_span_s": "s", "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.busy_ratio": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes", "exec.output_bytes": "bytes", "exec.output_rows": "count",
    "exec.task_failures": "count",
    **{f"queries.{m}_s": "s" for m in MODULES},
    "sources.boundary_builds": "count", "sources.boundary_hits": "count",
    "sources.manifest_versions": "count", "sources.live_files": "count",
    "sources.files_scanned_per_read": "count", "sources.write_amp": "ratio",
    "sources.space_amp": "ratio", "sources.commit_p50_s": "s", "sources.commit_p90_s": "s",
    "sources.read_p50_s": "s", "sources.read_p90_s": "s",
    "streaming.batches": "count", "streaming.batch_p50_s": "s", "streaming.batch_p90_s": "s",
    "streaming.add_batch_s": "s", "streaming.latest_offset_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.input_rows_per_s": "1/s",
    **{f"self.{l}_s": "s" for l in ("bench", "queries", "sources", "streaming",
                                     "driver", "catalyst", "exec")},
    "host.cpu_s": "s", "host.steal_ratio": "ratio",
    "trace.untraced_pass_s": "s", "trace.traced_pass_s": "s", "trace.overhead_s": "s",
}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(OP_KINDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        classes = build.ensure_built()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    run_dir = build.BUILD_DIR / f"run-{args.workload}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    data_dir, staging_ms = stage(args.workload, args.seed, run_dir)
    try:
        raw = run_jvm(args, classes, run_dir, data_dir)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        print(str(e), file=sys.stderr)
        return 1

    model = None
    if args.workload == "query_board":
        found = checks.query_board(raw, data_dir)
    else:
        found, model = checks.ingest(raw, data_dir)
    found += [(c["name"], c["ok"], c["detail"]) for c in raw["checks"]]
    timed = timed_ops(raw, [p for p in raw["passes"]])
    attempted = len(timed) + len(found)
    failed = sum(1 for o in timed if not o["ok"]) + sum(1 for _, ok, _ in found if not ok)
    for name, ok, detail in found:
        if not ok:
            print(f"check failed: {name}: {detail}", file=sys.stderr)
    for o in timed:
        if not o["ok"]:
            print(f"op failed: {o['kind']} {o['name']}: {o['error']}", file=sys.stderr)

    if args.trace:
        metrics = per_layer(raw, model, run_dir)
    else:
        metrics = end_to_end(raw, staging_ms)
    print(json.dumps({"detail": metrics}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                                  for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
