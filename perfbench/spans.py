"""In-memory span recorder, percentile rule and Spark counters.

A :class:`Tracer` records a span (name, start, end, parent, operation id)
around each call the benchmark makes into a module of the engine. Spans
stay in memory and are written out once, when the run ends. With tracing
off every method is a no-op, so the end-to-end run pays nothing for it.

:class:`SparkCounters` reads per-operation job, stage and task counters
from the application's own monitoring REST endpoint on the loopback
interface (the same numbers the Spark UI shows). Jobs are attributed to
the operation by job id: operations run one after another, so the jobs an
operation started are exactly the ids above the previous watermark,
including jobs submitted from the engine's own worker threads, which do
not inherit the caller's job group. Jobs from the caller's thread also
carry the innermost open span as their job group, so eager jobs fired
while a plan is being built are told apart from the jobs that execute it.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children are merged, so concurrent children
    are not subtracted twice)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end if s.end is not None else s.start)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.dur - covered)
    return out


#: percentiles :func:`tail_percentile` may report, highest first
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest of :data:`TAIL_CANDIDATES` with at least ``min_beyond``
    of ``n`` samples strictly beyond it, or None when even the median has
    fewer (p has n*(1-p/100) samples beyond it)."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= min_beyond:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Tracer:
    """Span recorder for one run. ``enabled=False`` makes it inert."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.op: int | None = None
        self._stack: list[int] = []
        self._sc = spark.sparkContext if spark is not None else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, time.perf_counter(), None, parent, self.op)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._set_group(name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].name if self._stack else None)

    def _set_group(self, name: str | None) -> None:
        if self._sc is None:
            return
        if name is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{self.op}|{name}", name)

    def count(self, name: str, n: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + n

    def durations(self, name: str) -> dict[int | None, float]:
        """Total duration of spans called ``name``, per operation id."""
        out: dict[int | None, float] = {}
        for s in self.spans:
            if s.name == name:
                out[s.op] = out.get(s.op, 0.0) + s.dur
        return out

    def per_op_median(self, ops: list[int], *names: str) -> float:
        """Median over ``ops`` of the per-operation total of the named
        spans (0 for an operation without such spans)."""
        if not ops:
            return 0.0
        d = [self.durations(n) for n in names]
        return statistics.median(sum(x.get(op, 0.0) for x in d) for op in ops)

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            json.dump({"spans": [dict(asdict(s), self=t) for s, t in zip(self.spans, st)],
                       "counts": self.counts}, f)


#: stage fields summed into the per-operation counters
_STAGE_FIELDS = {
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "task_run_ms": "executorRunTime",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    "failed_tasks": "numFailedTasks",
    "tasks": "numCompleteTasks",
}


class SparkCounters:
    """Per-operation Spark counters from the monitoring REST endpoint."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._bus = sc._jsc.sc().listenerBus()
        self._watermark = self._max_job_id()

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def _max_job_id(self) -> int:
        return max([j["jobId"] for j in self._get("/jobs")] + [-1])

    def _settled_jobs(self, timeout: float = 30.0) -> list[dict]:
        """Jobs above the watermark, once the status store has seen every
        one of them finish (listener events arrive asynchronously, so the
        bus is drained first)."""
        self._bus.waitUntilEmpty(int(timeout * 1000))
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] > self._watermark]
            if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) or \
                    time.monotonic() > deadline:
                return jobs
            time.sleep(0.05)

    def take(self) -> dict:
        """Counters of every job started since the previous call:
        ``jobs``, ``stages``, the sums in :data:`_STAGE_FIELDS`, and
        ``jobs_by_group`` (job group → job count)."""
        jobs = self._settled_jobs()
        if jobs:
            self._watermark = max(j["jobId"] for j in jobs)
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        out = {k: 0 for k in _STAGE_FIELDS}
        out["jobs"] = len(jobs)
        out["stages"] = 0
        by_group: dict[str, int] = {}
        for j in jobs:
            g = j.get("jobGroup") or ""
            by_group[g] = by_group.get(g, 0) + 1
        out["jobs_by_group"] = by_group
        if stage_ids:
            for st in self._get("/stages"):
                if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                for k, f in _STAGE_FIELDS.items():
                    fields = f if isinstance(f, tuple) else (f,)
                    out[k] += sum(st.get(x, 0) for x in fields)
        return out
