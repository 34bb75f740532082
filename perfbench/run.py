#!/usr/bin/env python3
"""mgspark benchmark: named end-to-end metrics, output checks and a traced run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of an mgspark checkout.  One caller drives mgspark's
public functions in a closed loop (the next call starts when the last one
returned) on a ``local[nproc]`` session.  Inputs come from ``--seed`` and
are generated into ``.perfbench_data/`` by a child process before any
timing.

``--trace 0`` sets up ``SETUPS`` times (session start plus warm-up; the
median is ``setup_s``), runs one untimed priming pass, then repeats
passes over the workload's operations for ``--seconds`` (at least
``MIN_PASSES``) and reports the median pass.  ``--trace 1`` does the
same untraced, with ``MIN_PASSES`` passes, then restarts the session
with Spark's event log on, repeats the work with spans around every call
into a layer, and reports the per-layer metrics and the tracing
overhead.

Human-readable tables go to stdout; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` whose metric
names are the ones declared in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    Ops,
    Tracer,
    clear_caches,
    host_probe_s,
    nproc,
    peak_rss_mb,
    prepare_env,
    reset_peak_rss,
    stop_jvm,
    summarize,
)

SETUPS = 3
MIN_PASSES = 3


WORKLOADS = {
    "repo_tokens_highvocab": ("w_repo", "RepoWorkload"),
    "sf_queries": ("w_sf", "SfWorkload"),
}


def run_passes(seconds: float, run_pass) -> list[dict[str, float]]:
    """Closed loop: passes back to back for ``seconds``, at least
    ``MIN_PASSES``."""
    results: list[dict[str, float]] = []
    start = time.perf_counter()
    while len(results) < MIN_PASSES or time.perf_counter() - start < seconds:
        results.append(run_pass())
    return results


def samples_of(results: list[dict[str, float]]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = defaultdict(list)
    for result in results:
        for key, value in result.items():
            out[key].append(value)
    return out


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def restart(wl, event_log_dir=None) -> tuple[float, float]:
    if wl.spark is not None:
        wl.spark.stop()
    return wl.start(event_log_dir)


def fmt(value) -> str:
    if value is None:
        return "-"
    if abs(value) >= 1e5:
        return f"{value:.4g}"
    return f"{value:.4f}"


def print_table(title: str, rows: list[tuple[str, str, list[float]]]) -> None:
    print(f"\n{title}")
    print(f"  {'metric':<44} {'unit':<9} {'median':>12} {'p(max)':>8} {'value':>12} {'n':>4}")
    for name, unit, values in rows:
        s = summarize(values)
        p = f"p{s['p']}" if s["p"] else "-"
        print(f"  {name:<44} {unit:<9} {fmt(s['median']):>12} {p:>8} "
              f"{fmt(s['p_value']):>12} {s['n']:>4}")


def layer_metrics(spans: list[dict], calls: dict, n_passes: int, mg_names) -> dict[str, float]:
    """Per-pass totals of the event-log counters over the traced passes'
    calls, plus the merge and driver-side view of the MG calls."""
    totals: dict[str, float] = defaultdict(float)
    mg_calls, merge_nodes, driver_side = 0, 0, 0.0
    out: dict[str, float] = {}
    for s in spans:
        t = calls[s["id"]].totals
        for key, value in t.items():
            totals[key] += value / n_passes
        name = s["name"]
        if name.startswith("aggregate.mg_sketch") or name[2:] in mg_names:
            mg_calls += 1
            merge_nodes += t["merge_nodes"]
        if name.startswith(("aggregate.", "q.")):
            driver_side += (s["end"] - s["start"] - t["job_ms"] / 1000) / n_passes
        if name.startswith("q."):
            out[f"{name}.wall_s"] = s["end"] - s["start"]
            out[f"{name}.jobs"] = float(t["jobs"])
    out["aggregate.merge_rounds"] = merge_nodes / mg_calls if mg_calls else 0.0
    out["aggregate.driver_side_s"] = driver_side
    for key in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes",
                "shuffle_read_bytes"):
        out[f"spark.{key}"] = totals[key]
    out["spark.executor_run_s"] = totals["executor_run_ms"] / 1000
    out["spark.task_wait_s"] = totals["task_wait_ms"] / 1000
    out["pyworker.bytes_sent"] = totals["py_bytes_sent"]
    out["pyworker.bytes_received"] = totals["py_bytes_received"]
    out["pyworker.rows_received"] = totals["py_rows_received"]
    out["pyworker.boot_s"] = totals["py_boot_ms"] / 1000
    out["pyworker.init_s"] = totals["py_init_ms"] / 1000
    out["pyworker.exec_s"] = totals["py_exec_ms"] / 1000
    out["pyworker.nodes"] = totals["py_nodes"]
    return out


def traced_phase(wl, work: str, untraced_wall: float, label: str) -> dict:
    """Repeat the workload's passes in a fresh session writing the event
    log, with spans around every call into a layer.  Returns the
    per-layer metrics and the self-time table."""
    import eventlog

    ev_dir = os.path.join(work, "eventlog")
    shutil.rmtree(ev_dir, ignore_errors=True)
    # No priming pass: the restart's warm-up boots the Python workers, and
    # the JVM keeps the code it compiled during the untraced passes.
    restart(wl, ev_dir)
    ops = Ops()
    tracer = Tracer(True, wl.spark.sparkContext)
    bounds: list[tuple[int, int]] = []
    results = []
    for _ in range(wl.traced_passes):
        first = len(tracer.spans)
        results.append(wl.run_pass(ops, tracer, clear_caches))
        bounds.append((first, len(tracer.spans)))
    out: dict[str, float] = {}
    probes = getattr(wl, "layer_probes", None)
    if probes is not None:
        out.update(probes(ops, tracer, clear_caches))
    wl.spark.stop()  # closes the event log

    calls = {s["id"]: eventlog.Call(f"span-{s['id']}", s["wall_start_ms"], s["wall_end_ms"])
             for s in tracer.spans}
    eventlog.attribute(eventlog.read_events(ev_dir), list(calls.values()))
    in_passes = [s for first, last in bounds for s in tracer.spans[first:last]]
    out.update(layer_metrics(in_passes, calls, len(bounds), getattr(wl, "mg_names", ())))

    self_times = tracer.self_times()
    layer_self: dict[str, float] = defaultdict(float)
    for s in in_passes:
        layer_self[s["name"]] += self_times[s["id"]] / len(bounds)
    summary = getattr(wl, "traced_summary", None)
    if summary is not None:
        out.update(summary(samples_of(results)))
    timed_wall = getattr(wl, "timed_wall", lambda r: r.get("pass_s"))
    traced_wall = median_or_zero([w for w in map(timed_wall, results) if w is not None])
    # Traced session (event log on, spans, job groups) minus the untraced
    # one: it includes the variation between two sessions, not only the
    # cost of tracing.
    out["trace.overhead_s"] = traced_wall - untraced_wall

    trace_path = os.path.join(work, f"trace_{label}.json")
    with open(trace_path, "w", encoding="utf8") as f:
        json.dump({"spans": tracer.spans,
                   "calls": {sid: c.totals for sid, c in calls.items()}}, f)
    return {"metrics": out, "layer_self": dict(layer_self), "ops": ops,
            "traced_wall": traced_wall, "trace_path": trace_path}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "mgspark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the root of an mgspark checkout "
              "(no mgspark/ or __spark_entry__.py here)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf8") as f:
        declared = json.load(f)
    work = prepare_env(root)
    host = [host_probe_s()]
    subprocess.run([sys.executable, os.path.join(HERE, "data.py"), args.workload,
                    str(args.seed)], cwd=root, check=True, timeout=150)
    module, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(module), cls)(root, work, args.seed, nproc())
    ops = Ops()
    setup_s, get_spark_s, warmup_s = [], [], []
    traced = None
    try:
        for _ in range(SETUPS):
            start = time.perf_counter()
            gs, wu = restart(wl)
            setup_s.append(time.perf_counter() - start)
            get_spark_s.append(gs)
            warmup_s.append(wu)
        # Untimed priming pass: compiles the workload's code paths in the
        # JVM and warms the Python workers the last restart booted.
        wl.run_pass(Ops(), Tracer(False), clear_caches)
        reset_peak_rss()
        # A traced run needs its untraced passes only for the overhead
        # figure; MIN_PASSES of them keep it within the run's time limit.
        untraced = samples_of(run_passes(
            0 if args.trace else args.seconds,
            lambda: wl.run_pass(ops, Tracer(False), clear_caches)))
        rss = peak_rss_mb()
        pass_s = median_or_zero(untraced["pass_s"])
        if args.trace:
            traced = traced_phase(wl, work, pass_s, f"{wl.name}_{args.seed}")
    finally:
        stop_jvm()
    host.append(host_probe_s())

    print(f"workload {wl.name} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"  input: {wl.describe()}")
    print(f"  host probe (s, fixed Python loop; higher = slower host): start {host[0]:.4f}, "
          f"end {host[1]:.4f}")
    print("  closed loop, 1 caller; a pass = every timed operation once, on fresh "
          "DataFrames with caches cleared")
    print("  setups (s): " + ", ".join(f"{v:.3f} (get_spark {g:.3f})"
                                       for v, g in zip(setup_s, get_spark_s)))
    print("  passes (s): " + ", ".join(f"{v:.3f}" for v in untraced["pass_s"]))
    reported = wl.report(untraced)
    print_table("end-to-end (untraced)", [
        ("setup_s", "s", setup_s), ("pass_s", "s", untraced["pass_s"]), *reported,
        ("fail_frac", "ratio", [ops.failed / ops.attempted if ops.attempted else 1.0]),
        ("driver_peak_rss_mb", "MB", [rss]),
    ])
    for err in ops.errors[:20]:
        print(f"  FAILED {err}")
    attempted, failed = ops.attempted, ops.failed

    if traced is None:
        values = {"setup_s": statistics.median(setup_s), "pass_s": pass_s,
                  "driver_peak_rss_mb": rss}
        specs = declared["end_to_end"]
    else:
        m = traced["metrics"]
        m.update({name: median_or_zero(v) for name, _, v in reported})
        if wl.name == "repo_tokens_highvocab":
            zero_shuffle_s = median_or_zero(untraced["zero_shuffle_s"])
            m.update(wl.scaling(zero_shuffle_s))
            # The untraced zero-shuffle call minus the layers it is made of,
            # timed by separate probe calls: the stage-1 job (scan, encode,
            # Arrow pipe, fold, collect) and the driver-side merge.
            m["trace.unattributed_s"] = (zero_shuffle_s - m["aggregate.mg_partials_s"]
                                         - m["kernel.mg_merge_s"])
        m["session.get_spark_s"] = statistics.median(get_spark_s)
        m["session.warmup_s"] = statistics.median(warmup_s)
        attempted += traced["ops"].attempted
        failed += traced["ops"].failed
        m["fail_frac"] = failed / attempted
        for err in traced["ops"].errors[:20]:
            print(f"  FAILED (traced) {err}")
        print(f"\nlayer self time per traced pass (s); spans in {traced['trace_path']}")
        for layer, secs in sorted(traced["layer_self"].items(), key=lambda kv: -kv[1]):
            print(f"  {layer:<44} {secs:>10.4f}")
        q1, _, q3 = statistics.quantiles(untraced["pass_s"], n=4)
        print(f"  timed operations: untraced {pass_s:.4f} s, traced {traced['traced_wall']:.4f} s: "
              f"trace.overhead_s {m['trace.overhead_s']:.4f} s between the two sessions "
              f"(untraced passes' IQR {q3 - q1:.4f} s)")
        if "trace.unattributed_s" in m:
            print(f"  zero-shuffle call: untraced {zero_shuffle_s:.4f} s = aggregate.mg_partials_s "
                  f"{m['aggregate.mg_partials_s']:.4f} s + kernel.mg_merge_s "
                  f"{m['kernel.mg_merge_s']:.4f} s + trace.unattributed_s "
                  f"{m['trace.unattributed_s']:.4f} s (layers from separate probe calls)")
        values = {spec["name"]: float(m.get(spec["name"], 0.0)) for spec in declared["per_layer"]}
        specs = declared["per_layer"]
        print("\nper-layer (traced; 0 = layer not used by this workload)")
        for spec in specs:
            if spec["name"] in m:
                print(f"  {spec['name']:<44} {spec['unit']:<9} {fmt(values[spec['name']]):>14}")
    metrics = {spec["name"]: {"value": values[spec["name"]], "unit": spec["unit"]}
               for spec in specs}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
