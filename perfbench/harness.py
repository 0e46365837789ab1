"""Shared run machinery: environment hygiene, session set-up, the
closed-loop driver and the end-to-end metric set.

A workload is a class with:

- ``prepare()`` — write the seeded inputs; returns a small parquet file
  for the engine warm-up;
- ``first_pass()`` — the untimed cold pass, which also checks outputs;
- ``quota(seconds)`` and ``ops(n)`` — how many operations ``--seconds``
  buys and an iterator over them;
- ``replayable`` — whether an operation can run twice on the same input
  with the same result (a traced run then pairs each traced operation
  with an untraced run of the same input);
- ``run_op(op)`` — one timed operation, returning (input rows, output);
- ``check_op(op, out)`` and ``finish()`` — output checks outside the
  timed span, returning a problem or None;
- ``op_extra(op, out)`` — per-operation accounting outside the timed span
  (``out`` is None when the operation raised);
- ``layer_metrics()`` — its per-layer metrics from the traced operations;
- ``checked`` — untimed operations it checked.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from spans import SparkCounters, Tracer, percentile, tail_percentile

#: session set-ups per run; ``setup_s`` is their median
SETUP_REPS = 2


def clean_environment(work: str) -> None:
    """Drop engine tuning variables and keep every temp file in ``work``."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


@dataclass
class Run:
    """State of one benchmark run, shared with the workload."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    cores: int = field(default_factory=lambda: min(4, os.cpu_count() or 1))
    spark: object = None
    tracer: Tracer = field(default_factory=lambda: Tracer(False))
    counters: SparkCounters | None = None
    #: per-op records: op, pair, traced, s (latency), rows, ok, exec, ...
    ops: list = field(default_factory=list)
    failures: list = field(default_factory=list)
    setup: dict = field(default_factory=dict)
    first_pass_s: float = 0.0

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        msg = what if exc is None else f"{what}: {type(exc).__name__}: {exc}"
        self.failures.append(msg[:500])
        print(f"# FAILED {msg[:2000]}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)


def start_session(run: Run, warm_input: str):
    """Session start plus engine warm-up, ``SETUP_REPS`` times: the first
    start launches the JVM, later ones stop and restart the context in
    it. Returns the live session; records the medians in ``run.setup``."""
    from skylogix_real_time_weather_data_pipeline_spark.session import get_spark

    gets, warms = [], []
    spark = None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{run.workload}",
                          master=f"local[{run.cores}]")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        spark.range(4000).selectExpr("id % 13 AS k").groupBy("k").count().collect()
        spark.read.parquet(warm_input).count()
        t2 = time.perf_counter()
        gets.append(t1 - t0)
        warms.append(t2 - t1)
    run.setup = {
        "setup_s": statistics.median(g + w for g, w in zip(gets, warms)),
        "get_spark_s": statistics.median(gets),
        "warmup_s": statistics.median(warms),
    }
    run.spark = spark
    run.tracer = Tracer(False, spark)
    if run.trace:
        run.counters = SparkCounters(spark)
    return spark


def stop_session(run: Run) -> None:
    """Stop the context, then the JVM gateway, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if run.spark is not None:
        run.spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, must not leave it running
            proc.kill()
            proc.wait(timeout=30)


def memory_mb(run: Run) -> dict:
    """Driver Python plus JVM high-water resident set size, and the JVM
    heap still in use after a full collection at the end of the run. The
    collection runs twice: objects released by the first one (Python-side
    handles, blocks the context cleaner drops once their references are
    collected) are freed by the second."""
    import gc

    jvm = run.spark._jvm
    gc.collect()
    jvm.System.gc()
    time.sleep(0.5)
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return {
        "peak_rss_mb": _vm_hwm_mb("self") + _vm_hwm_mb(jvm.ProcessHandle.current().pid()),
        "retained_heap_mb": heap.getUsed() / 2**20,
    }


def schedule(run: Run, wl):
    """(op, traced, pair) in run order. Untraced runs issue each operation
    once. Traced runs trace every other operation; a replayable operation
    runs twice in a row, traced and untraced in ABBA order, so each pair
    measures the tracing overhead on the same input."""
    for j, op in enumerate(wl.ops(wl.quota(run.seconds))):
        if not run.trace:
            yield op, False, j
        elif wl.replayable:
            for k in range(2):
                yield op, (j + k) % 2 == 0, j
        else:
            yield op, j % 2 == 0, j


def closed_loop(run: Run, wl) -> None:
    """One client: issue an operation, wait for it, check it, release the
    engine's owned caches, repeat for the workload's quota."""
    from skylogix_real_time_weather_data_pipeline_spark.cache import release_owned_caches

    for i, (op, traced, pair) in enumerate(schedule(run, wl)):
        run.tracer.enabled = traced
        run.tracer.op = i
        rec = {"op": i, "pair": pair, "traced": traced, "ok": True}
        out = None
        t0 = time.perf_counter()
        try:
            rows, out = wl.run_op(op)
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            rec["s"] = time.perf_counter() - t0
            rec["ok"], rec["rows"] = False, 0
            run.fail(f"op {i} ({op!r}) raised", exc)
        else:
            rec["s"] = time.perf_counter() - t0
            rec["rows"] = rows
            try:
                problem = wl.check_op(op, out)
            except Exception as exc:  # noqa: BLE001 — a check that raises is a failure
                problem = f"check raised {type(exc).__name__}: {exc}"
            if problem:
                rec["ok"] = False
                run.fail(f"op {i} ({op!r}): {problem}")
        with run.tracer.span("cache.release"):
            n = release_owned_caches(run.spark)
        run.tracer.count("cache.released_frames", n)
        if run.counters is not None:
            rec["exec"] = run.counters.take()
        rec.update(wl.op_extra(op, out))
        run.ops.append(rec)
    run.tracer.enabled = False


def e2e_metrics(run: Run) -> dict:
    """The end-to-end metric set every workload reports."""
    times = [r["s"] for r in run.ops]
    busy = sum(times)
    return {
        "setup_s": run.setup["setup_s"],
        "op_p50_s": statistics.median(times),
        "ops_per_s": len(times) / busy,
        "rows_per_s": sum(r["rows"] for r in run.ops) / busy,
    }


def traced_execs(run: Run) -> list[dict]:
    return [r["exec"] for r in run.ops if r["traced"] and "exec" in r]


def jobs_in_group(run: Run, span_name: str) -> float:
    """Mean jobs per traced operation started while ``span_name`` was the
    innermost open span on the calling thread."""
    recs = traced_execs(run)
    if not recs:
        return 0.0
    return sum(c for e in recs for g, c in e["jobs_by_group"].items()
               if g.split("|", 1)[-1] == span_name) / len(recs)


def overhead_s(run: Run) -> float:
    """Traced minus untraced latency: the median over (traced, untraced)
    pairs on the same input, or else the difference of the medians."""
    pairs: dict[int, dict[bool, float]] = {}
    for r in run.ops:
        pairs.setdefault(r["pair"], {})[r["traced"]] = r["s"]
    both = [p[True] - p[False] for p in pairs.values() if len(p) == 2]
    if len(both) == len(pairs):
        return statistics.median(both)
    tr = [r["s"] for r in run.ops if r["traced"]]
    un = [r["s"] for r in run.ops if not r["traced"]]
    return statistics.median(tr) - statistics.median(un) if tr and un else 0.0


def common_layer_metrics(run: Run) -> dict:
    """Per-layer metrics every workload has: session, cache, exec, memory
    and the tracing overhead."""
    traced = [r for r in run.ops if r["traced"]]
    ids = [r["op"] for r in traced]
    untraced = [r["s"] for r in run.ops if not r["traced"]]
    recs = traced_execs(run)
    n = max(len(recs), 1)
    task_s = sum(e["task_run_ms"] for e in recs) / 1000.0
    wall = sum(r["s"] for r in traced)
    over = overhead_s(run)
    m = {
        "session.get_spark_s": run.setup["get_spark_s"],
        "session.warmup_s": run.setup["warmup_s"],
        "session.first_pass_s": run.first_pass_s,
        "cache.release_s": run.tracer.per_op_median(ids, "cache.release"),
        "cache.released_frames": run.tracer.counts.get("cache.released_frames", 0.0)
        / max(len(traced), 1),
        **{f"memory.{k}": v for k, v in memory_mb(run).items()},
        "trace.overhead_s": over,
        "trace.overhead_frac": over / statistics.median(untraced) if untraced else 0.0,
        "exec.task_run_s": task_s / n,
        "exec.busy_frac": task_s / max(wall * run.cores, 1e-9),
    }
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "failed_tasks"):
        m[f"exec.{k}"] = sum(e[k] for e in recs) / n
    return m


def summary_lines(run: Run) -> list[str]:
    """Human-readable summary: median, the highest percentile with at
    least ten samples beyond it, and the sample count."""
    times = [r["s"] for r in run.ops]
    p = tail_percentile(len(times))
    tail = (f"p{p:g} {percentile(times, p):.4f} s" if p is not None
            else "no percentile has 10 samples beyond it")
    return [f"# {run.workload}: {len(times)} ops, median {statistics.median(times):.4f} s, "
            f"{tail}, failed {sum(not r['ok'] for r in run.ops)}",
            "# op latencies " + " ".join(f"{t:.3f}" for t in times)]
