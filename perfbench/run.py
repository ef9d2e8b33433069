"""Benchmark entry point.

    python3 perfbench/run.py --workload {search,curation} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. Generates the workload's
inputs from the seed, starts one local Spark session through
``fegis_spark.session``, sets up and warms up (counted in ``setup_s``),
then measures cold-state samples for ``--seconds`` and checks every
output. Prints a human-readable report, then one JSON line:
end-to-end metrics with ``--trace 0``, per-layer metrics from a traced
run with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from types import SimpleNamespace

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

E2E = ("setup_s", "p50_s", "throughput", "peak_mem_mb")
E2E_UNITS = {"setup_s": "s", "p50_s": "s", "throughput": "1/s", "peak_mem_mb": "MB"}


def hd_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: every order statistic,
    weighted by the mass a Beta((n+1)/2, (n+1)/2) distribution puts on
    [(i-1)/n, i/n]. Unlike the sample median it does not jump from one
    request kind to the next where their latencies overlap."""
    x = np.sort(np.asarray(xs, dtype=float))
    n, a = len(x), (len(x) + 1) / 2
    t = np.linspace(0.0, 1.0, 4097)
    pdf = np.zeros_like(t)
    pdf[1:-1] = np.exp((a - 1) * (np.log(t[1:-1]) + np.log1p(-t[1:-1])))
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    w = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(w @ x)


def host_cpus() -> int:
    """Task slots: two, or one on a one-core box. The inputs are small,
    so a job's time is mostly driver and scheduling overhead, and more
    slots do not make it faster; on a shared host the spare cores keep
    the JVM's JIT and GC threads, and neighbours, off the task threads."""
    return min(2, len(os.sched_getaffinity(0)))


def driver_mem() -> str:
    """A heap that fits the box: an eighth of physical memory, 1-4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1024, min(4096, total_kb // 1024 // 8))}m"


def stop_spark(root) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    import sparkenv

    jvm_pid = sparkenv.jvm_pid(root)
    root.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and sparkenv.descendants(jvm_pid):
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("search", "curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import fegis_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    import sparkenv
    from curation import Curation
    from search import Search
    from trace import Tracer

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = host_cpus()
    sparkenv.configure_env(work, cpus, driver_mem())
    tracer = Tracer(bool(args.trace))
    root = None
    try:
        t0 = time.perf_counter()
        root = sparkenv.start_session()
        session_start_s = time.perf_counter() - t0
        status = sparkenv.Status(root)
        ctx = SimpleNamespace(root=root, status=status, tracer=tracer, work=work,
                              seed=args.seed, seconds=args.seconds, cores=cpus,
                              jvm_pid=sparkenv.jvm_pid(root),
                              py4j=sparkenv.Py4jCounter(root) if args.trace else None)
        wl = {"search": Search, "curation": Curation}[args.workload](ctx)
        t1 = time.perf_counter()
        wl.setup()
        setup_s = session_start_s + time.perf_counter() - t1

        sentinel_before = sparkenv.sentinel_s(root)

        stage0, exec0 = status.mark()
        overhead0 = tracer.overhead_ns
        samples: list[dict] = []
        sparkenv.reset_peak_rss(ctx.jvm_pid)
        t_loop = time.perf_counter()
        while not (samples and wl.finished(time.perf_counter() - t_loop, len(samples))):
            samples.append(wl.sample(len(samples)))
        loop_s = time.perf_counter() - t_loop
        peak_rss = sparkenv.peak_rss_bytes(ctx.jvm_pid)
        trace_overhead_s = (tracer.overhead_ns - overhead0) / 1e9
        stages = status.stages_since(stage0)
        plans = status.plans_since(exec0) if args.trace else None
        extra = wl.trace_extra() if args.trace else {}
        sentinel_after = sparkenv.sentinel_s(root)
    except Exception:  # noqa: BLE001 — no result line on a broken run
        traceback.print_exc()
        if root is not None:
            stop_spark(root)
        shutil.rmtree(work, ignore_errors=True)
        return 1

    n = len(samples)
    walls = [s["wall_s"] for s in samples]
    failed = sum(not s["ok"] for s in samples)
    ok_units = sum(wl.units(s) for s in samples if s["ok"])
    e2e = {
        "setup_s": setup_s,
        "p50_s": hd_median(walls),
        "throughput": ok_units / sum(walls),
        "peak_mem_mb": peak_rss / 2**20,
    }
    lines = [
        f"perfbench {args.workload} seed={args.seed} cores={cpus} samples={n} "
        f"failed={failed} loop_s={loop_s:.2f}",
        f"  {args.workload}.setup_s = {setup_s:.4f} s (session start {session_start_s:.3f} s)",
        f"  {args.workload}.fail_frac = {failed / n:.4f} (n={n})",
        f"  host.sentinel_s = {sentinel_before:.4f} s before, {sentinel_after:.4f} s after",
    ]
    for name in E2E[1:]:
        lines.append(f"  {args.workload}.{name} = {e2e[name]:.6g} {E2E_UNITS[name]} (n={n})")
    lines.append(f"  {args.workload}.sample_median_s = {statistics.median(walls):.6g} s (n={n})")
    lines.append("  setup phases: " + ", ".join(f"{k} {v:.2f} s" for k, v in wl.phases.items()))
    for name, (value, unit) in wl.report(samples).items():
        lines.append(f"  {name} = {value:.6g} {unit}")
    for err in wl.setup_errors:
        lines.append(f"  SETUP CHECK FAILED: {err}")
    lines.append("  sample latencies, in run order: "
                 + " ".join(f"{s['kind']}={s['wall_s']:.3f}" for s in samples))
    for s in samples:
        if not s["ok"]:
            lines.append(f"  FAILED sample {s['i']} {s['kind']}: {s.get('error', 'wrong answer')}")

    if args.trace:
        metrics, detail = layer_metrics(
            args.workload, wl, samples, tracer, stages, plans, extra,
            session_start_s, (sentinel_before + sentinel_after) / 2, trace_overhead_s, cpus,
        )
        lines += detail
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        dump = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(dump, {
            "workload": args.workload, "seed": args.seed, "samples": samples,
            "metrics": metrics, "stages": vars(stages), "plans": vars(plans),
            "extra": extra,
        })
        lines.append(f"  spans: {len(tracer.spans)} written to {os.path.relpath(dump, ROOT)}")
    else:
        metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in E2E}

    stop_spark(root)
    shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    correct = failed == 0 and not wl.setup_errors
    print(json.dumps({"correct": correct, "attempted": n, "failed": failed, "metrics": metrics}))
    return 0


def layer_metrics(wl_name, wl, samples, tracer, stages, plans, extra,
                  session_start_s, sentinel, overhead_s, cores):
    """Per-layer metrics (means per measured sample unless stated) and
    the per-kind breakdown lines."""
    n = len(samples)
    measured = {s["i"] for s in samples}
    st = tracer.self_times()
    by_req: dict[int, dict[str, float]] = {}
    attrs: dict[int, dict] = {}
    for sp in tracer.spans:
        req = sp["request"]
        if req in measured and sp["name"] in ("request", "build", "plan", "exec"):
            by_req.setdefault(req, {})[sp["name"]] = st[sp["id"]]
            if sp["name"] == "build":
                attrs[req] = sp["attrs"]
    session = [st[sp["id"]] for sp in tracer.spans
               if sp["name"] == "session" and sp["request"] in measured]

    def mean_layer(layer):
        return sum(v.get(layer, 0.0) for v in by_req.values()) / n

    exec_wall = sum(v.get("exec", 0.0) for v in by_req.values())
    ingest = getattr(wl, "ingest", {})
    m = {
        "build_s": (mean_layer("build"), "s"),
        "plan_s": (mean_layer("plan"), "s"),
        "exec_s": (mean_layer("exec"), "s"),
        "session_s": (statistics.fmean(session) if session else 0.0, "s"),
        "session_start_s": (session_start_s, "s"),
        "build_py4j_calls": (sum(a.get("py4j_calls", 0) for a in attrs.values()) / n, "count"),
        "build_jobs": (sum(a.get("jobs", 0) for a in attrs.values()) / n, "count"),
        "cpu_s": (stages.cpu_s / n, "s"),
        "exec_run_s": (stages.run_s / n, "s"),
        "gc_s": (stages.gc_s / n, "s"),
        "parallel_eff": (stages.cpu_s / (exec_wall * cores) if exec_wall else 0.0, "ratio"),
        "shuffle_read_bytes": (stages.shuffle_read_bytes / n, "bytes"),
        "shuffle_write_bytes": (stages.shuffle_write_bytes / n, "bytes"),
        "spill_bytes": (stages.spill_bytes / n, "bytes"),
        "exchanges": (plans.exchanges / n, "count"),
        "stage_peak_exec_mem_mb": (stages.peak_exec_mem_bytes / 2**20, "MB"),
        # write and python layers: the store build (zero where a
        # workload ingests nothing)
        "ingest_rows_per_s": (ingest.get("rows_per_s", 0.0), "1/s"),
        "ingest_build_s": (ingest.get("build_s", 0.0), "s"),
        "ingest_write_s": (ingest.get("write_s", 0.0), "s"),
        "python_rows": (ingest.get("python_rows", 0), "count"),
        "python_bytes_sent": (ingest.get("python_bytes_sent", 0), "bytes"),
        "python_bytes_received": (ingest.get("python_bytes_received", 0), "bytes"),
        "python_worker_cpu_s": (ingest.get("python_worker_cpu_s", 0.0), "s"),
        "window_shuffle_bytes": (ingest.get("window_shuffle_bytes", 0), "bytes"),
        "files_written": (ingest.get("files_written", 0), "count"),
        "bytes_written": (ingest.get("bytes_written", 0), "bytes"),
        "stored_bytes_per_input_byte": (ingest.get("stored_bytes_per_input_byte", 0.0), "ratio"),
        "lsh_pair_yield": (extra.get("lsh_pair_yield", 0.0), "ratio"),
        "cache_entries_left": (sum(s["cache_left"] for s in samples) / n, "count"),
        "sentinel_s": (sentinel, "s"),
        "trace_overhead_frac": (overhead_s / sum(s["wall_s"] for s in samples), "ratio"),
    }
    detail = [f"  {wl_name}.{k} = {v:.6g} {u} (n={n})" for k, (v, u) in m.items()]
    kinds: dict[str, list[dict]] = {}
    for s in samples:
        kinds.setdefault(s["kind"], []).append(s)
    for kind, ss in kinds.items():
        lat = [s["wall_s"] for s in ss]
        detail.append(f"  {wl_name}.{kind}.latency_s = {statistics.median(lat):.4f} s (n={len(ss)})")
        for layer in ("build", "plan", "exec"):
            vals = [by_req[s["i"]].get(layer, 0.0) for s in ss if s["i"] in by_req]
            detail.append(f"  {wl_name}.{kind}.{layer}_s = {statistics.median(vals):.4f} s (n={len(vals)})")
    detail.append("  cache_entries_left after each sample, read before the next reset: "
                  + " ".join(f"{s['kind']}={s['cache_left']}" for s in samples))
    for k, v in extra.items():
        detail.append(f"  {wl_name}.{k} = {v:.6g}")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, detail


if __name__ == "__main__":
    sys.exit(main())
