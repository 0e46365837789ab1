#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_daily,query_mix,ingest_cycle}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The engine gets ``master=local[min(4, nproc)]``
and its own defaults, nothing else. Inputs are generated from ``--seed``
into a scratch directory under ``.perfbench_work/`` in the current
directory, which also holds every temp file of the run and is removed at
the end.

``--seconds`` sizes the timed work: each workload runs the number of
operations that take that long at its nominal speed on a 4-core box. A
fixed amount of work keeps runs comparable: a faster engine finishes the
same operations sooner instead of running more of them further along the
JIT warm-up curve.

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` alternates
traced and untraced operations and reports the per-layer metrics from the
traced ones, plus the tracing overhead (traced minus untraced latency);
the spans go to ``.perfbench_work/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The exit code is non-zero when any output check failed.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = {
    "etl_daily": ("etl_daily", "EtlDaily"),
    "query_mix": ("query_mix", "QueryMix"),
    "ingest_cycle": ("ingest_cycle", "IngestCycle"),
}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(run, wl) -> dict:
    import harness

    phases = {}
    t = time.perf_counter()
    warm_input = wl.prepare()
    phases["inputs"] = time.perf_counter() - t
    t = time.perf_counter()
    harness.start_session(run, warm_input)
    phases["setup"] = time.perf_counter() - t
    t = time.perf_counter()
    wl.first_pass()
    run.first_pass_s = phases["first_pass"] = time.perf_counter() - t
    if run.counters is not None:
        run.counters.take()  # first-pass jobs belong to no operation
    t = time.perf_counter()
    harness.closed_loop(run, wl)
    phases["loop"] = time.perf_counter() - t
    t = time.perf_counter()
    wl.finish()
    phases["final_check"] = time.perf_counter() - t
    for line in harness.summary_lines(run):
        print(line, file=sys.stderr)
    print("# phases " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()),
          file=sys.stderr)
    if not run.ops:
        raise RuntimeError("no operation completed")
    if not run.trace:
        return harness.e2e_metrics(run)
    metrics = harness.common_layer_metrics(run)
    metrics.update(wl.layer_metrics())
    run.tracer.dump(os.path.join(os.path.dirname(run.work),
                                 f"trace-{run.workload}-{run.seed}.json"))
    return metrics


def declared(root: str, trace: bool) -> dict[str, str]:
    """Metric name → unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def report(metrics: dict, units: dict[str, str]) -> dict:
    """Every declared metric with its declared unit. A per-layer metric of
    a layer the workload does not exercise reads 0."""
    extra = set(metrics) - set(units)
    if extra:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(extra)}")
    return {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()}


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "skylogix_real_time_weather_data_pipeline_spark")):
        print("perfbench: run from the repository root (engine package not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, os.path.join(root, "scripts")]
    units = declared(root, bool(args.trace))
    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    import harness

    harness.clean_environment(work)
    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    mod, cls = WORKLOADS[args.workload]
    cwd = os.getcwd()
    os.chdir(work)  # spark-warehouse, metastore and state land in the scratch dir
    try:
        wl = getattr(importlib.import_module(mod), cls)(run)
        metrics = measure(run, wl)
    finally:
        try:
            harness.stop_session(run)
        finally:
            os.chdir(cwd)
            shutil.rmtree(work, ignore_errors=True)
    attempted = len(run.ops) + wl.checked
    failed = len(run.failures)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": report(metrics, units),
    }
    print(f"# failed_frac {failed / attempted:.4f} ({failed}/{attempted})", file=sys.stderr)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
