"""Owned persist() registry: every cache the package creates is released
deterministically, never leaked.

The problem (round-6 review): operators that ``persist()`` a subtree whose
result frame references it LAZILY (mixture-sampling language counts, the
bigram transition table, n-gram Jaccard posting lists, the distributed
shuffle's range table) cannot unpersist inside the operator — the caller
has not run an action yet. Spark's CacheManager keeps those entries until
an explicit unpersist/clearCache, so a long-lived session accumulates
cached plans query after query (blocks are LRU-evictable, but the entries
are not).

The contract here: package code calls :func:`owned_persist` instead of
``.persist()``. The frame is persisted exactly as before (lazy — it still
pipelines into the caller's first action) AND recorded in a per-session
registry; harness-level callers (the local correctness sweep, tests, any
long-lived service loop) call :func:`release_owned_caches` between queries
to unpersist everything the previous query pinned. Operators that already
scope their caches (materialize → unpersist in-function, e.g. the distill
trainer) also route through here — release is idempotent, so an early
in-function unpersist simply makes the registry entry a no-op.

``localCheckpoint`` frames are NOT tracked: their RDDs are owned by the
ContextCleaner and vanish when the result frame is garbage-collected —
the leak class this module fixes is specific to CacheManager entries.

Stale reads: the CacheManager matches a later plan to a cached one by
its analyzed plan, and a file scan's plan names the directory, not the
files in it. So an ``owned_persist`` over a scan of a directory that
changes (new raw JSON files landing) serves the cached rows to the next
identical read in the same session until the entry is released. An
``owned_persist`` of the daily ETL's flattened raw frame, never
released between runs, read 268 silver rows where the new day's window
held 273. Persist only what the caller reads again before the input can
change, or use ``localCheckpoint`` (a fresh RDD per call, never matched
by a later plan), as ``operators.silver.silver_pipeline`` does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: applicationId → list of persisted DataFrames awaiting release
_OWNED: dict[str, list[DataFrame]] = {}


def _evict_dead_sessions(live_app: str) -> None:
    """Drop registry entries from sessions other than the live one. Spark
    allows one active SparkContext per process, so any other applicationId
    is a stopped session whose frames cannot be unpersisted anyway — a
    process that cycles SparkSessions must not accumulate their registry
    lists (and the strong DataFrame references inside) forever."""
    for dead in [app for app in _OWNED if app != live_app]:
        del _OWNED[dead]


def owned_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() a DataFrame and record it for deterministic release."""
    persisted = df.persist(storage_level) if storage_level is not None else df.persist()
    app = df.sparkSession.sparkContext.applicationId
    _evict_dead_sessions(app)
    _OWNED.setdefault(app, []).append(persisted)
    return persisted


def release_one(df: DataFrame) -> None:
    """Unpersist ONE owned frame now and drop its registry entry — for
    operators whose cache is fully scoped inside the function (persist →
    materialize → release before returning). A bare ``df.unpersist()``
    would free the blocks but leave the registry holding a dead
    DataFrame reference per call — unbounded for a per-micro-batch
    caller in a long-lived stream (r8 review)."""
    try:
        df.unpersist()
    finally:
        app = df.sparkSession.sparkContext.applicationId
        entries = _OWNED.get(app)
        if entries is not None:
            _OWNED[app] = [e for e in entries if e is not df]


def release_owned_caches(spark: SparkSession) -> int:
    """Unpersist every cache the package created in this session; returns
    how many entries were released. Safe to call at any point — frames a
    caller is still iterating simply recompute on next access."""
    app = spark.sparkContext.applicationId
    entries = _OWNED.pop(app, [])
    for df in entries:
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to release
            pass
    return len(entries)


def owned_cache_count(spark: SparkSession) -> int:
    """How many persisted frames the registry currently pins (test hook)."""
    return len(_OWNED.get(spark.sparkContext.applicationId, []))
