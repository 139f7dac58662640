"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

runs one workload of ``BENCHMARK.json`` and prints, as its last stdout
line, one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end metrics, measured with
no tracing installed; with ``--trace 1`` they are the per-layer metrics
of a traced run, which also writes a trace file under
``.perfbench_work/traces/``.

    python3 perfbench/run.py --all --seed <n> [--seconds <s>]

runs every workload untraced, traced, and untraced at ``local[1]`` (a
single-core baseline), and prints each workload's end-to-end and named
metrics, its error rate and its tracing overhead (traced minus untraced
end-to-end latency).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import harness as H

WORKLOADS = {
    "tick_stream": ("wl_tick_stream", "TickStream"),
    "lakehouse_batch": ("wl_lakehouse_batch", "LakehouseBatch"),
}


def load_spec() -> dict:
    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=H.CORES, help="Spark task threads (local[N])")
    ap.add_argument("--all", action="store_true", help="run every workload untraced, traced and at local[1]")
    a = ap.parse_args(argv)
    if not a.all and a.workload is None:
        ap.error("--workload is required unless --all is given")
    return a


def run_workload(args, spec: dict) -> tuple[bool, int, int, dict, dict]:
    """One workload in this process; returns (correct, attempted, failed,
    metrics, details)."""
    run_dir = H.make_run_dir(args.workload)
    try:
        return _run_in(run_dir, args, spec)
    finally:
        H.remove_run_dir(run_dir)


def _run_in(run_dir: str, args, spec: dict) -> tuple[bool, int, int, dict, dict]:
    import importlib

    H.confine_to(run_dir)
    spark = H.start_spark(run_dir, args.cores)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    ctx = H.Ctx(spark, run_dir, args.seed, seconds, bool(args.trace))
    mod_name, cls_name = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(mod_name), cls_name)(ctx)
    tr = ctx.tracer
    try:
        if tr is not None:
            wl.install_spans(tr)
        wl.run()
        e2e = dict(wl.e2e)
        if ctx.first_op_at is not None:
            e2e["setup_s"] = ctx.setup_s()
        e2e["peak_rss_mb"] = H.peak_rss_mb(spark)
        layers = {}
        if tr is not None:
            tr.unwrap_all()
            layers = wl.layer_metrics(tr)
            layers["trace.spans"] = len(tr.spans)
            layers["trace.overhead_ms"] = tracing_cost_ms(tr, ctx)
    finally:
        if tr is not None:
            tr.unwrap_all()
        H.stop_spark(spark)
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": args.cores,
        "e2e": e2e,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in wl.named.items()},
        "failures": ctx.failures,
    }
    if tr is not None:
        details["self_ms"] = H.self_times_ms(tr.spans)
        details["layers"] = layers
        os.makedirs(os.path.join(H.WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(H.WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        tr.dump(trace_path, {"details": details, "jobs": ctx.jobs.log})
        details["trace_file"] = os.path.relpath(trace_path, H.ROOT)
    correct = ctx.failed == 0 and ctx.attempted > 0
    if tr is None:
        metrics = select(spec["end_to_end"], e2e, args.workload)
    else:
        metrics = select(spec["per_layer"], layers, args.workload, missing=0.0)
    return correct, ctx.attempted, ctx.failed, metrics, details


def tracing_cost_ms(tr: H.Tracer, ctx: H.Ctx) -> float:
    """Time the tracing machinery adds inside timed ops: per-span
    bookkeeping and job-group switches, calibrated in this process."""
    n = 2000
    probe = H.Tracer()
    t = time.time()
    for _ in range(n):
        with probe.span("calibrate"):
            pass
    per_span = (time.time() - t) / n
    t = time.time()
    for _ in range(50):
        with ctx.jobs.group("calibrate"):
            pass
    per_group = (time.time() - t) / 50
    return (len(tr.spans) * per_span + ctx.jobs.groups_opened * per_group) * 1e3


def select(spec_metrics: list[dict], values: dict, workload: str, missing=None) -> dict:
    out = {}
    for m in spec_metrics:
        v = values.get(m["name"], missing)
        if v is None:
            raise RuntimeError(f"{workload}: metric {m['name']} was not measured")
        out[m["name"]] = (v, m["unit"])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    if args.all:
        return run_all(args, spec)
    correct, attempted, failed, metrics, details = run_workload(args, spec)
    print(json.dumps({"details": details}, default=float))
    print(H.result_line(correct, attempted, failed, metrics))
    return 0


def _child(args, name: str, trace: int, cores: int = H.CORES) -> tuple[dict, dict]:
    """One workload in its own process: (details, result line)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
           "--trace", str(trace), "--cores", str(cores)]
    if args.seconds is not None:
        cmd += ["--seconds", str(args.seconds)]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise RuntimeError(f"{name} trace={trace} cores={cores} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["details"], json.loads(lines[-1])


def run_all(args, spec: dict) -> int:
    """Every workload untraced, traced, and untraced at ``local[1]`` (the
    single-core baseline), each in its own process."""
    rows = []
    for name in WORKLOADS:
        d0, r0 = _child(args, name, 0)
        d1, r1 = _child(args, name, 1)
        db, rb = _child(args, name, 0, cores=1)
        over = d1["e2e"]["latency_p50_ms"] - d0["e2e"]["latency_p50_ms"]
        trace_path = os.path.join(H.ROOT, d1["trace_file"])
        with open(trace_path) as f:
            trace = json.load(f)
        trace["tracing_overhead_ms"] = over
        trace["baseline_local1"] = {"details": db, "result": rb}
        with open(trace_path, "w") as f:
            json.dump(trace, f)
        ok = r0["correct"] and r1["correct"] and rb["correct"]
        print(f"== {name}  correct={ok} attempted={r0['attempted']} failed={r0['failed']}")
        for k, m in r0["metrics"].items():
            print(f"   {k:32s} {m['value']:14.4f} {m['unit']}")
        for k, m in d0["named"].items():
            print(f"   {k:32s} {m['value']:14.4f} {m['unit']}")
        print(f"   {'error_rate':32s} {r0['failed'] / r0['attempted']:14.4f} ratio")
        print(f"   {'tracing_overhead_ms':32s} {over:14.4f} ms  (traced minus untraced latency_p50_ms)")
        for k in ("latency_p50_ms", "throughput_per_s"):
            m = rb["metrics"][k]
            print(f"   {'local1.' + k:32s} {m['value']:14.4f} {m['unit']}  (single-core baseline)")
        print(f"   trace file: {d1['trace_file']}")
        rows.append({"workload": name, "untraced": r0, "traced": r1, "local1": rb, "tracing_overhead_ms": over})
    print(json.dumps({"all": rows}, default=float))
    return 0


if __name__ == "__main__":
    sys.exit(main())
