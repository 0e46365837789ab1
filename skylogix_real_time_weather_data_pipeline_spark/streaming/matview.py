"""Incremental materialized-view maintenance under foreachBatch.

The pattern every warehouse needs at scale: an aggregate table kept
current by folding each micro-batch's partial aggregate into the stored
view through the view's monoid, never re-scanning history. The
equivalence "incrementally maintained view == one-shot batch aggregate
over all data" is pinned in tests/test_matview.py.

Contrast with ``outputMode("complete")`` window aggregation: complete mode
re-emits the WHOLE result every batch and keeps all groups in the state
store; this keeps state in parquet (compact, queryable, restartable via
the checkpoint) and each batch writes O(batch) rows.

One protocol per view shape:

- Views whose size has a FIXED BOUND (the KMV / HLL / CMS / bottom-k
  sketches: <= k / m / d*w rows; the IVF cell stats: <= ncells rows) use
  the whole-view commit (:func:`_commit_view`): read, merge, collect the
  merged view to the driver as one Arrow table and write it as one
  parquet file under a batch-id replay guard. A commit costs O(bound)
  rows and no Spark write job.
- Views that GROW WITH THE DATA (daily counts, term stats, gram index,
  exact dedup, minhash buckets, IVF postings, count sketch) use
  immutable per-batch Z-set segments (:func:`_apply_delta_segment`):
  rows carry a ±1 weight, the segment directory is the replay guard,
  reads fold the weights and aggregate the live rows, and compaction
  folds segments back to one.

:func:`maintain_view` is the single streaming driver for both shapes.
Every state read goes through :func:`_read_state`, which hands Spark the
schema from one file footer, so building a read starts no Spark job.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _recover(state_path: str) -> None:
    """Roll an interrupted :func:`_commit_view` swap forward or back.

    The swap keeps the previous view aside as ``state__old`` until the new
    directory is in place, so every crash point leaves a recoverable pair:

    - ``state`` missing + ``state__old`` present → died between the
      rename-aside and the move-in; restore the prior view (the batch
      replays and recombines — at-least-once is preserved, nothing lost).
    - both present → died after the move-in, before the cleanup; the new
      view (with its batch-id marker) is authoritative, drop the aside.
    - a leftover ``state__staging`` is always an incomplete write; drop it
      (the replay rebuilds it from the same batch).
    """
    old, staging = f"{state_path}__old", f"{state_path}__staging"
    if os.path.exists(old):
        if os.path.exists(state_path):
            shutil.rmtree(old)
        else:
            os.rename(old, state_path)
    if os.path.exists(staging):
        shutil.rmtree(staging)


def _already_applied(state_path: str, batch_id: int) -> bool:
    """True when the stored view already contains this micro-batch.

    foreachBatch gives at-least-once delivery: a crash between the view
    swap and the streaming checkpoint commit REPLAYS the batch, and a
    blind combine would double-count it. The last applied batch id is
    written INSIDE the staging directory before the atomic rename, so
    view contents and the guard commit together — replays become no-ops
    and the combine is effectively exactly-once.

    Every apply path calls this before reading the view, so crash
    recovery (:func:`_recover`) hooks here: the state read that follows
    always sees either the prior committed view or the new one — never a
    half-swapped directory."""
    _recover(state_path)
    meta = os.path.join(state_path, "_last_batch.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f)["batch_id"] >= batch_id
    return False


class PreZSetStateError(RuntimeError):
    """A doc or term view's state holds add-only segments written before
    the Z-set segment format. That state is not migrated: rebuild the
    view from its batches."""


#: Spark's copy of the writing frame's schema in a parquet footer
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _read_state(spark, *paths: str, zset: tuple[str, ...] = ()) -> DataFrame | None:
    """Read parquet state directories with an explicit schema, or None
    when none of them exists.

    ``zset`` names the columns a Z-set segment of the view must carry
    (:data:`_DOC_ZSET`, :data:`_TERM_ZSET`); a footer without them raises
    :class:`PreZSetStateError`. The check looks at the schema already read
    here, so it adds no file read. Segments are read oldest first, so a
    directory that mixes pre-Z-set segments with later ones is caught too.

    ``spark.read.parquet`` without a schema infers one by reading a
    footer in a one-task Spark job, on every read of every view. The
    schema here comes from the first data file's footer, read on the
    driver: Spark's own row metadata when a Spark writer left it, else
    the Arrow schema (:func:`_commit_view` writes with pyarrow). Spark's
    inference with ``mergeSchema=false`` also reads one footer, and every
    file of a view shares its schema, so the read is the same."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    if not any(os.path.exists(p) for p in paths):
        return None
    for path in paths:
        files = sorted(f for f in os.listdir(path)
                       if f.endswith(".parquet") and not f.startswith(("_", ".")))
        if files:
            footer = pq.read_schema(os.path.join(path, files[0]))
            row_meta = (footer.metadata or {}).get(_SPARK_ROW_METADATA)
            schema = (StructType.fromJson(json.loads(row_meta)) if row_meta
                      else from_arrow_schema(footer))
            if not set(zset) <= set(schema.fieldNames()):
                raise PreZSetStateError(
                    f"{path} is an add-only segment (columns "
                    f"{schema.fieldNames()}) written before the Z-set segment "
                    f"format, whose rows carry {list(zset)}; add-only state "
                    "is not migrated, so rebuild the view: delete its state "
                    "directory and apply its batches again")
            return spark.read.schema(schema).parquet(*paths)
    raise FileNotFoundError(f"no parquet data file under {paths}")


def _commit_view(merged: DataFrame, state_path: str, batch_id: int) -> None:
    """Staging write + batch-id marker + crash-safe directory swap. The
    underscore-prefixed marker is invisible to Spark's parquet reader
    (same convention as _SUCCESS).

    Only views whose size is BOUNDED BY CONTRACT come here (see the
    module docstring): at most the view's bound in rows, collected to the
    driver. So the merged view is collected as ONE Arrow table and
    written as one parquet file with pyarrow: a Spark write job (its
    commit protocol, its tasks, its output listing) cost more than the
    merge itself on every batch. Every column is written nullable, so the
    file's schema does not depend on which merge plan produced it (Spark
    reads file columns back as nullable anyway).

    The swap never has a window where no committed view exists on disk:
    the old view is RENAMED aside (same-filesystem, atomic) rather than
    deleted, the staging directory moves into place, and only then is the
    aside copy removed — :func:`_recover` resolves every intermediate
    state on the next apply. The old rmtree-then-move ordering destroyed
    both the view and its batch marker if the process died between the
    two calls, silently resetting the view to a single batch's delta on
    replay."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    staging = f"{state_path}__staging"
    old = f"{state_path}__old"
    table = merged.toArrow()
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    schema = pa.schema([f.with_nullable(True) for f in table.schema])
    pq.write_table(table.cast(schema), os.path.join(staging, "part-00000.parquet"))
    with open(os.path.join(staging, "_last_batch.json"), "w") as f:
        json.dump({"batch_id": batch_id}, f)
    if os.path.exists(state_path):
        os.rename(state_path, old)
    shutil.move(staging, state_path)
    if os.path.exists(old):
        shutil.rmtree(old)


def maintain_view(src: DataFrame, apply_fn, checkpoint_dir: str):
    """Run ``apply_fn(batch_df, batch_id)`` on every micro-batch of the
    streaming frame ``src`` with trigger(availableNow) and wait for it
    to drain. ``apply_fn`` is any replay-guarded applier (bind its state
    directory and knobs with a lambda), so a rerun after a crash or a
    timeout is safe. Returns the finished StreamingQuery."""
    q = (
        src.writeStream.foreachBatch(apply_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination(timeout) returns False WITHOUT stopping the query:
    # a silent return here would hand the caller a partially-built view
    # (r9 review finding) — surface the stall instead
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "view maintenance did not finish within 300s; state is "
            "incomplete (the replay guard makes a rerun safe)"
        )
    return q


def _backfill_gram_index_schema(state: DataFrame) -> DataFrame:
    """Migrate a pre-r10 (h, cnt, min_okey) gram-index view to the
    posting-list schema on READ (r10 ADVICE): the historical distinct-doc
    sets are unrecoverable from counts alone, so backfill with the
    semilattice's conservative bottom-for-pairs element
    (ids=NULL, over=true) — the rewrite/spans paths (cnt, min_okey) keep
    their exact answers, and the pairs path treats every legacy gram as
    over-cap (claims NO pairs) rather than inventing wrong ones. A full
    rebuild restores pair coverage for the legacy corpus."""
    if "ids" in state.columns:
        return state
    return state.select(
        "h", "cnt", "min_okey",
        F.lit(None).cast("array<long>").alias("ids"),
        F.lit(True).alias("over"),
    )


def _require_integral_id(batch_df: DataFrame, id_col: str, view: str) -> None:
    """The maintained-index posting lists store doc ids as ``long``
    (array<long> semilattice columns); a non-integral id column would
    cast to NULL and be SILENTLY dropped by collect_set, making every
    *_from_index read path return empty instead of failing (r10 ADVICE).
    The gram index additionally packs the id into the numeric order key
    (doc_id·2^20 + pos). Fail loudly at the apply entry point instead —
    the BATCH detectors (minhash_lsh_pairs etc.) accept any id type, so
    string-keyed corpora keep the one-shot path."""
    from pyspark.sql import types as T

    dt = batch_df.schema[id_col].dataType
    if not isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise TypeError(
            f"{view}: maintained-view posting lists require an integral "
            f"{id_col!r} (got {dt.simpleString()}); map string ids to a "
            "stable long (e.g. a dense id dimension) before maintaining "
            "the view, or use the batch detectors, which accept any id type"
        )


def _nearest_cell(vec_col: str, centroids: list[list[float]]):
    """Argmin-of-squared-L2 cell id against a literal centroid table —
    same strict fold + lexicographic struct-min tie-break as
    ``ext.similarity.kmeans_assign`` so online assignment is bit-identical
    to the batch path."""
    scored = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.array(*[F.lit(x) for x in c]),
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d"),
                F.lit(i).alias("c"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.array_min(scored)["c"]


def combine_cell_stats(state: DataFrame | None, delta: DataFrame) -> DataFrame:
    """Merge a batch's per-cell partial stats (cell, n_vecs, sums) into the
    stored IVF cell-statistics view. n_vecs is an additive monoid; the
    per-component vector sums combine element-wise (zip_with add) — so
    cell balance and the running mean (sums/n_vecs, i.e. centroid DRIFT
    vs the frozen codebook) stay current without rescanning vectors.
    O(touched cells + ncells) per combine, never O(corpus)."""
    if state is None:
        return delta
    s = state.select(
        "cell", F.col("n_vecs").alias("_n"), F.col("sums").alias("_s"),
    )
    return s.join(delta, ["cell"], "full_outer").select(
        "cell",
        (F.coalesce(F.col("_n"), F.lit(0)) + F.coalesce(F.col("n_vecs"), F.lit(0))).alias("n_vecs"),
        F.when(F.col("_s").isNull(), F.col("sums"))
        .when(F.col("sums").isNull(), F.col("_s"))
        .otherwise(F.zip_with(F.col("_s"), F.col("sums"), lambda a, b: a + b))
        .alias("sums"),
    )


def maintain_ivf_cell_view(src: DataFrame, centroids: list[list[float]],
                           state_path: str, assignments_path: str,
                           checkpoint_dir: str, vec_col: str = "embedding",
                           id_col: str = "vec_id"):
    """Incrementally maintain an IVF index over a streaming vector frame —
    the production ANN split: centroids are trained OFFLINE (frozen
    codebook passed in), arriving vectors are assigned ONLINE. Each
    micro-batch (trigger availableNow):

    - assigns its own vectors to the nearest centroid (narrow
      O(batch·k·dim) expression compute, nothing collected),
    - APPENDS (id, cell) rows to the assignment table — the posting-list
      side of the index that ``ivf_topk``-style probes read,
    - partial-aggregates per-cell (count, component sums) and
      monoid-combines into the cell-statistics view through a staging
      swap — the balance/drift side that tells you when to retrain.

    Equivalence with one-shot batch assignment + aggregation is pinned in
    tests/test_matview.py. Append-only source assumed (replayed ids
    would duplicate postings); the retractable IVF postings view below
    handles deletes."""

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        if _already_applied(state_path, batch_id):
            return
        spark = batch_df.sparkSession
        assigned = batch_df.select(
            id_col, F.col(vec_col), _nearest_cell(vec_col, centroids).alias("cell")
        )
        # per-batch partition directory + overwrite, NOT a bare append: the
        # posting table and the stats view cannot commit atomically
        # together, so a replay that raced the stats commit must REWRITE
        # its own partition instead of appending duplicates
        assigned.select(id_col, "cell").write.mode("overwrite").parquet(
            f"{assignments_path}/batch_id={batch_id}"
        )
        delta = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.sum(F.col("v").cast("double")).alias("s"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda x: x["s"]
                ).alias("sums")
            )
            .join(
                assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs")),
                "cell",
            )
            .select("cell", "n_vecs", "sums")
        )
        state = _read_state(spark, state_path)
        _commit_view(combine_cell_stats(state, delta), state_path, batch_id)

    return maintain_view(src, _upsert, checkpoint_dir)


# ---------------------------------------------------------------------------
# Cardinality / frequency sketch views (ext/sketch.py monoids under the
# same replay-guarded, crash-safe commit)
# ---------------------------------------------------------------------------


def apply_kmv_batch(batch_df: DataFrame, batch_id: int, state_path: str,
                    key_col: str, k: int = 256) -> None:
    """One micro-batch of a KMV distinct-count view: sketch ONLY this
    batch's keys (k minima), min-set-merge into the stored sketch. The
    stored view is ≤ k longs — the cheapest "how many distinct X ever"
    answer a stream can keep. The min-set monoid is idempotent (a
    re-delivered row re-proposes a hash the distinct absorbs), so the
    replay guard protects cost, not correctness, on this view."""
    if _already_applied(state_path, batch_id):
        return
    from ..ext.sketch import kmv_merge, kmv_mins

    spark = batch_df.sparkSession
    delta = kmv_mins(batch_df, key_col, k)
    state = _read_state(spark, state_path)
    _commit_view(kmv_merge(state, delta, k), state_path, batch_id)


def apply_hll_batch(batch_df: DataFrame, batch_id: int, state_path: str,
                    key_col: str, p: int = 8) -> None:
    """One micro-batch of an HLL register view: register max-merge. The
    max monoid is fully idempotent — even a re-delivered ROW cannot
    corrupt it — the most replay-tolerant view in the module."""
    if _already_applied(state_path, batch_id):
        return
    from ..ext.sketch import hll_merge, hll_registers

    spark = batch_df.sparkSession
    delta = hll_registers(batch_df, key_col, p)
    state = _read_state(spark, state_path)
    _commit_view(hll_merge(state, delta), state_path, batch_id)


def apply_cms_batch(batch_df: DataFrame, batch_id: int, state_path: str,
                    key_col: str, depth: int = 3, width: int = 256) -> None:
    """One micro-batch of a count-min counter view: per-(d,b) ADD. Additive
    — exactly the case the batch-id replay guard exists for: a replayed
    batch would double-count every counter without it."""
    if _already_applied(state_path, batch_id):
        return
    from ..ext.sketch import cms_counters, cms_merge

    spark = batch_df.sparkSession
    delta = cms_counters(batch_df, key_col, depth=depth, width=width)
    state = _read_state(spark, state_path)
    _commit_view(cms_merge(state, delta), state_path, batch_id)


def apply_bottomk_batch(batch_df: DataFrame, batch_id: int, state_path: str,
                        key_col: str, value_col: str, k: int = 256) -> None:
    """One micro-batch of a bottom-k quantile-sample view: bottom-k the
    batch's (hash, value) rows, min-merge into the stored sample — the
    quantile member of the sketch-view family (distinct = KMV,
    cardinality = HLL, frequency = CMS, quantiles = this). The stored
    view is ≤ k (h, v) rows; any posterior quantile query reads it via
    ``ext.sketch.bottomk_estimates_from_sample`` without rescanning the
    fact stream. The merge is NOT idempotent per row (a re-delivered row
    would occupy a second sample slot — rows, not a distinct-absorbing
    key set), so the batch-id replay guard protects correctness here,
    like the CMS counters."""
    if _already_applied(state_path, batch_id):
        return
    from ..ext.sketch import bottomk_merge, bottomk_rows

    spark = batch_df.sparkSession
    delta = bottomk_rows(batch_df, key_col, value_col, k)
    state = _read_state(spark, state_path)
    _commit_view(bottomk_merge(state, delta, k), state_path, batch_id)


def apply_sketch_views_batch(batch_df: DataFrame, batch_id: int,
                             base_dir: str, key_col: str, k: int = 256,
                             p: int = 8, depth: int = 3, width: int = 256,
                             value_col: str | None = None,
                             bk_key_col: str | None = None) -> None:
    """One micro-batch of the WHOLE sketch-view family from ONE shared
    scan: the narrow (key, value) projection of the batch is persisted
    once and all four monoid deltas (KMV min-set, HLL register-max, CMS
    add, bottom-k sample) aggregate from it — the separate apply_*_batch
    path re-read the batch per view, and the r7 bench measured those four
    re-scans as the dominant cost of a maintenance cycle. Each view KEEPS
    its own replay-guarded, crash-safe commit (its batch-id marker moves
    with its directory swap): a crash between commits still replays into
    per-view no-ops / applies — exactly-once per view, unchanged.

    ``bk_key_col`` lets the quantile sample hash a different row identity
    than the key the distinct/frequency sketches profile (e.g. order key
    for the price sample vs customer key for the cardinality views).

    The persist is scoped: materialized by the first delta job, released
    before return (the owned-registry entry becomes a no-op). At 100 TB
    the projection is the narrow column pair, not the row payload."""
    from ..cache import owned_persist
    from ..ext.sketch import (
        bottomk_merge,
        bottomk_rows,
        cms_counters,
        cms_merge,
        hll_merge,
        hll_registers,
        kmv_merge,
        kmv_mins,
    )

    bk_key = bk_key_col or key_col
    paths = {
        "kmv": os.path.join(base_dir, "kmv"),
        "hll": os.path.join(base_dir, "hll"),
        "cms": os.path.join(base_dir, "cms"),
    }
    if value_col is not None:
        paths["bottomk"] = os.path.join(base_dir, "bottomk")
    todo = {v: sp for v, sp in paths.items()
            if not _already_applied(sp, batch_id)}
    if not todo:
        return
    cols = [key_col] + ([bk_key, value_col] if value_col is not None else [])
    shared = owned_persist(batch_df.select(*dict.fromkeys(cols)))
    try:
        # materialize the shared projection ONCE before fanning out — the
        # four view pipelines then all read the cache instead of racing to
        # build it
        shared.count()
        spark = batch_df.sparkSession
        deltas = {
            "kmv": lambda: kmv_mins(shared, key_col, k),
            "hll": lambda: hll_registers(shared, key_col, p),
            "cms": lambda: cms_counters(shared, key_col, depth=depth,
                                        width=width),
            "bottomk": lambda: bottomk_rows(shared, bk_key, value_col, k),
        }
        merges = {
            "kmv": lambda s, d: kmv_merge(s, d, k),
            "hll": hll_merge,
            "cms": cms_merge,
            "bottomk": lambda s, d: bottomk_merge(s, d, k),
        }

        def _apply_one(view: str, sp: str) -> None:
            state = _read_state(spark, sp)
            _commit_view(merges[view](state, deltas[view]()), sp, batch_id)

        # the views are INDEPENDENT stores, so their read→merge→commit
        # pipelines run concurrently (multi-threaded job submission — the
        # scheduler interleaves the small jobs); each view's own sequence
        # stays ordered inside its thread, so per-view crash-safety is
        # untouched. Serial, the four state-IO jobs dominated the cycle
        # (~0.4 s each against ~50 ms of actual data work). Merging all
        # four views in ONE tagged-union query measured no faster than
        # this pool (0.41-0.45 s vs 0.39 s per apply on 4 cores).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(todo)) as pool:
            futures = {v: pool.submit(_apply_one, v, sp)
                       for v, sp in todo.items()}
        for v, fut in futures.items():
            fut.result()  # surface the first per-view failure
    finally:
        # scoped cache: release the blocks AND the registry entry — a
        # bare unpersist would leak one dead registry reference per
        # micro-batch in a long-lived stream (r8 review)
        from ..cache import release_one

        release_one(shared)


def maintain_sketch_views(src: DataFrame, base_dir: str, checkpoint_dir: str,
                          key_col: str, k: int = 256, p: int = 8,
                          depth: int = 3, width: int = 256,
                          value_col: str | None = None):
    """Incrementally maintain the KMV + HLL + CMS sketch views over one
    streaming frame with trigger(availableNow) — the profile-store shape:
    ONE shared scan per micro-batch (apply_sketch_views_batch) feeds the
    constant-size summaries (distinct estimate, register state, frequency
    counters) under ``<base_dir>/{kmv,hll,cms}``. Each view commits with
    its own batch-id marker, so a crash between commits replays into
    per-view no-ops / applies — exactly-once per view. Equivalence of
    every view with its one-shot batch sketch is pinned in
    tests/test_sketch_views.py.

    ``value_col`` (optional) adds the quantile member: a bottom-k
    (hash, value) row sample under ``<base_dir>/bottomk``."""

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        apply_sketch_views_batch(
            batch_df, batch_id, base_dir, key_col, k=k, p=p, depth=depth,
            width=width, value_col=value_col,
        )

    return maintain_view(src, _upsert, checkpoint_dir)


# --------------------------------------------------------------------------
# LSM-segmented view state (r10): O(batch) applies for ingest-heavy loads
# --------------------------------------------------------------------------
#
# The whole-view commit above (_commit_view) rewrites the WHOLE view per
# apply — O(bound) for the sketch and cell views, but O(view) for a view
# that grows with the data, measured as the dominant per-ingest cost at
# sf10x (INGEST_SCALE_r10.json: 17 s of a 30 s ingest). Every unbounded
# view therefore lives in segments. When view keys are
# uniform hashes (grams, fingerprints, band buckets) bucketed state cannot
# help — every batch touches every bucket — so the scale answer is the
# LSM one: each apply writes an IMMUTABLE per-batch segment (O(batch)),
# readers merge segments through the view's monoid (associativity makes
# all-at-once == pairwise), and compaction folds segments back to one
# when the read-side merge grows.
#
# Crash protocol, segment side: parquet lands in a dot-prefixed temp dir,
# then one same-filesystem os.rename is the commit point — a replayed
# batch sees its directory and no-ops; a crash mid-write leaves only a
# temp dir the next apply clears. Compaction side: the compacted segment
# carries a _manifest.json naming every batch id it covers, committed by
# the same rename; raw segments it covers are then garbage-collected
# best-effort. EVERY crash window is readable: old-compact + new-compact
# + covered raws may coexist, and the reader picks the compact with the
# largest coverage and skips raws it covers — never double-counting.
# Single-writer per state dir (the same rule streaming checkpoints
# impose); readers are safe concurrently with a writer because renames
# are atomic and segments are immutable.


def _segments_root(state_dir: str) -> str:
    return os.path.join(state_dir, "segments")


def _clear_tmp_segments(root: str, only: str | None = None) -> None:
    """Writer-side sweep of interrupted-write temp dirs. Called ONLY from
    the writer paths (:func:`_write_segment` / compaction): a READER must
    never delete a dot-dir — a live writer may be mid-``_write_segment``
    inside it, and an rmtree would fail the write or its commit rename
    (r10 ADVICE).

    ``only`` (r14) scopes the sweep to one segment's temp dir — the
    concurrency unit is one writer per (state_dir, batch_id), so a raw
    segment write may only reclaim ITS OWN crash leftover; another batch's
    ``.tmp_*`` may belong to a concurrent live writer
    (:func:`apply_doc_views_deltas` fans batches out in parallel — batch
    applies commute because segments are immutable per-batch dirs folded
    through a monoid merge). A FULL sweep (``only=None``) is reserved for
    compaction, which requires exclusivity against all writers anyway —
    that is where crash leftovers of batches that never retried get
    reclaimed."""
    if not os.path.isdir(root):
        return
    for name in os.listdir(root):
        if name.startswith(".") and (only is None or name == f".tmp_{only}"):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def _list_segments(state_dir: str) -> tuple[list[tuple[set[int], str]],
                                             dict[int, str]]:
    """Every committed segment under ``state_dir``: compact segments as
    (covered batch ids, path) and raw segments as batch id → path.
    Strictly READ-ONLY: temp dirs are skipped, not deleted — cleanup
    belongs to the writer (_clear_tmp_segments). A compact segment whose
    manifest is unreadable or corrupt is skipped as garbage."""
    root = _segments_root(state_dir)
    compacts, raws = [], {}
    if not os.path.isdir(root):
        return compacts, raws
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if name.startswith("."):
            continue  # in-flight or interrupted write: reader skips it
        if name.startswith("compact_"):
            try:
                with open(os.path.join(path, "_manifest.json")) as f:
                    covered = set(json.load(f)["batch_ids"])
            except (OSError, ValueError, KeyError):
                continue
            compacts.append((covered, path))
        elif name.startswith("b"):
            raws[int(name[1:])] = path
    return compacts, raws


def _segment_scan(state_dir: str) -> tuple[list[str], set[int]]:
    """Resolve the readable segment set: (parquet paths, batch ids
    covered). Picks the compact segment with the LARGEST coverage (a
    crash can leave several; newer covers a superset) and every raw
    segment not covered by it."""
    compacts, raws = _list_segments(state_dir)
    paths, covered = [], set()
    if compacts:
        covered, cpath = max(compacts, key=lambda cp: (len(cp[0]), cp[1]))
        paths.append(cpath)
    for bid, path in sorted(raws.items()):
        if bid not in covered:
            paths.append(path)
    return paths, covered | set(raws)


def _parquet_dir_rows(path: str) -> int:
    """Row count of a written parquet segment from the file FOOTERS —
    driver-side metadata only, never a Spark job (the r13 empty-tombstone
    fix needs the count at write time without re-evaluating the delta)."""
    import pyarrow.parquet as pq
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    )


def _write_segment(delta: DataFrame, state_dir: str, batch_id: int,
                   manifest: dict | None = None,
                   name: str | None = None) -> int | None:
    """Returns the written row count when a manifest was recorded (read
    from the parquet footers, no Spark job), else None. A replayed write
    (segment already committed) returns None."""
    root = _segments_root(state_dir)
    os.makedirs(root, exist_ok=True)
    final = os.path.join(root, name or f"b{batch_id:010d}")
    # reclaim only THIS segment's crash leftover: other .tmp_* dirs may
    # belong to concurrent writers of other batch ids (r14 — see
    # _clear_tmp_segments; compaction still does the full sweep)
    _clear_tmp_segments(root, only=os.path.basename(final))
    if os.path.exists(final):
        return None
    tmp = os.path.join(root, f".tmp_{os.path.basename(final)}")
    delta.write.mode("overwrite").parquet(tmp)
    rows = None
    if manifest is not None:
        # record the segment's row count so the tombstone-fraction
        # trigger (and any future reader) can tell an EMPTY tombstone —
        # the changelog router writes one every pure-insert micro-batch —
        # from a real one without opening the data.
        rows = _parquet_dir_rows(tmp)
        with open(os.path.join(tmp, "_manifest.json"), "w") as f:
            json.dump({**manifest, "rows": rows}, f)
    os.rename(tmp, final)  # commit point
    return rows


#: Auto-compaction trigger for the segmented appliers: compact when the
#: READABLE segment count (one compact + uncovered raws — exactly the set a
#: read-side merge unions) reaches this. Chosen from the r11 sf10x
#: read-amplification sweep (SEGMENT_READ_AMPLIFICATION_r11.json), which
#: found two regimes: for a LARGE view (gram index, 22M rows) reads are
#: flat 1.3-1.5 s from 1 to 64 raw segments — the monoid-fold groupBy
#: dominates and extra scan fan-in is noise — while for a SMALL view
#: (term stats, 3.1k rows) per-segment fixed overhead dominates and reads
#: climb 0.14 → 0.28 → 0.67 s at 1 → 16 → 64 segments. 16 caps the
#: small-view read at ~2× its compacted floor, costs the large view
#: nothing, and amortizes the O(view) compaction (~14 s at sf10x for the
#: gram index) over 16 O(batch) ingests. Pass ``auto_compact=None`` for
#: the manual protocol (the equivalence tests pin that any trigger point
#: yields the identical view).
AUTO_COMPACT_SEGMENTS = 16

#: Tombstone-weight compaction trigger (r12, r11 verdict #6): the count
#: threshold above amortizes INGEST-heavy windows, but RETRACT_SCALE_r11
#: showed a DELETE-heavy window pays ~5× read amplification between
#: compactions (exact-dedup sf10x: 2.44 s post-retract vs 0.49 s
#: post-compact) — tombstone segments add scan fan-in AND grow the
#: pre-cancellation row set the read fold must group. So a RETRACT also
#: triggers compaction when tombstone segments make up at least this
#: fraction of the readable RAW segments. Set from the r12 sweep
#: (RETRACT_READ_AMPLIFICATION_r12.json, ratio {10,30,50}% × tombstone
#: segments {1,4,8} at sf1x/sf10x): for the doc-granular exact-dedup
#: view at sf10x even ONE 10% tombstone already reads ~5× the compacted
#: floor (4.05 s vs 0.82 s) and 8 tombstones read 10-17× — waiting for
#: a tombstone majority forfeits most of the win — while for the huge
#: gram index (20M rows, fold-dominated) the whole sweep stays 0.7-2.4×,
#: so compacting early costs it roughly one read. 1/3 fires on the
#: FIRST tombstone of the common 2-base-segment window and every ~2
#: tombstones of a sustained delete stream, and never fires on the
#: ingest-dominated path (tombstone-free applies skip the check
#: entirely, and so do EMPTY tombstones — the changelog router lands one
#: per pure-insert micro-batch for replay-guard completeness, and those
#: must not turn CDC ingest into per-batch O(view) compaction).
#: Tombstone-ness is carried in the raw segment's ``_manifest.json``
#: (``kind: tombstone`` plus the footer-derived ``rows`` count) written
#: by the retract_* appliers — a filesystem check, never a Spark job.
TOMBSTONE_COMPACT_FRACTION = 1 / 3

#: Snapshot retention for TRIGGERED compactions (r12): both auto-triggers
#: call _compact_segments with this retain_last, so a deployment that
#: needs as-of reads to survive auto-compaction sets it to its audit
#: horizon (newest N raw batch ids stay unfolded — the same knob the
#: manual compact_*(retain_last=N) exposes). 0 (default) keeps the
#: r11-documented contract: auto-compaction is maximal history GC and
#: as-of past the fold fails loudly (SnapshotUnavailableError). The
#: equivalence argument is unchanged — retention just shrinks the folded
#: prefix; pytest pins the view is identical and the horizon readable.
AUTO_COMPACT_RETAIN = 0


def _raw_segment_kind(path: str) -> str:
    """Classify a raw segment for the tombstone-fraction trigger:

    - ``"tombstone"`` — a NON-EMPTY tombstone (real read pressure);
    - ``"empty_tombstone"`` — a zero-row tombstone. The changelog router
      intentionally lands one every pure-insert micro-batch so the
      replay guard sees each (batch, side) pair; it exerts zero read
      pressure (see :func:`_tombstone_population`);
    - ``"data"`` — everything else.

    Manifests written before r13 lack ``rows``; they predate the router
    and were only written by genuinely non-empty retract applies, so
    missing ``rows`` counts as a tombstone. Unreadable/corrupt manifests
    are treated like the compact-manifest reader treats garbage: data
    (ValueError covers json.JSONDecodeError)."""
    try:
        with open(os.path.join(path, "_manifest.json")) as f:
            m = json.load(f)
    except (OSError, ValueError):
        return "data"
    if m.get("kind") != "tombstone":
        return "data"
    return "tombstone" if m.get("rows", 1) != 0 else "empty_tombstone"


def _tombstone_population(paths: list[str]) -> tuple[int, int]:
    """The two sides of the tombstone fraction over the readable
    ``paths``: (non-empty tombstone raws, raws with real read pressure).
    Compact segments count in neither. Empty tombstones count in NEITHER
    side either: numerator inclusion made CDC maintenance O(view) per
    batch (r12 ADVICE), denominator inclusion diluted the fraction on
    mixed insert/delete streams so the 1/3 trigger fired late (r13
    ADVICE)."""
    kinds = [_raw_segment_kind(p) for p in paths
             if os.path.basename(p).startswith("b")]
    return (sum(k == "tombstone" for k in kinds),
            sum(k != "empty_tombstone" for k in kinds))


def _apply_delta_segment(delta_fn, batch_df: DataFrame, batch_id: int,
                         state_dir: str, fold_fn, auto_compact: int | None,
                         tombstone: bool = False,
                         zset: tuple[str, ...] = ()) -> None:
    """Shared segmented-apply protocol: replay guard → O(batch) immutable
    segment write → :func:`maybe_compact` with ``fold_fn`` as the
    compaction fold. ``delta_fn`` is lazy so a replayed batch skips
    building the delta plan entirely; ``auto_compact=None`` disables BOTH
    triggers (the manual protocol the equivalence tests exercise at
    arbitrary compaction points)."""
    paths, applied = _segment_scan(state_dir)
    if batch_id in applied:
        return
    rows = _write_segment(delta_fn(), state_dir, batch_id,
                          manifest={"kind": "tombstone"} if tombstone else None)
    # the fraction check runs only when THIS apply landed a non-empty
    # tombstone (rows comes from the parquet footers, no extra job) on a
    # state that already had segments
    maybe_compact(
        batch_df.sparkSession, state_dir,
        lambda spark, sd, retain_last: _compact_segments(
            spark, sd, fold_fn, retain_last, zset=zset),
        auto_compact, fraction_trigger=bool(tombstone and rows and paths),
    )


def maybe_compact(spark, state_dir: str, compact_fn,
                  auto_compact: int | None = AUTO_COMPACT_SEGMENTS,
                  fraction_trigger: bool = True) -> bool:
    """Auto-compaction check: run ``compact_fn`` — the view's public
    ``compact_*_segments`` function, called as ``compact_fn(spark,
    state_dir, retain_last=AUTO_COMPACT_RETAIN)`` — when the readable
    segment count reaches ``auto_compact``, or (``fraction_trigger``)
    when non-empty tombstones make up at least
    :data:`TOMBSTONE_COMPACT_FRACTION` of the raw segments with read
    pressure (:func:`_tombstone_population`). Returns True when a
    compaction ran.

    Every segmented apply calls it after its write. POOLED segment
    writers (r15, r14 ADVICE) run with ``auto_compact=None`` — a mid-pool
    compaction would race other writers — and call it ONCE after the
    pool drains. The guarantee is ANSWER-equivalence with the sequential
    protocol: reads fold raw and compacted segments alike, so every read
    returns the same view whichever protocol wrote it. The on-disk end
    state matches the sequential protocol only when the tombstone lands
    LAST: the per-apply fraction check runs only on a tombstone apply
    that finds earlier segments, so a sequential tombstone-FIRST order
    skips the fraction compaction that this post-drain check, seeing the
    whole pool, runs (pytest-pinned both ways).

    ``fraction_trigger=False`` DEFERS the tombstone-fraction compaction
    on purpose — the choice for a protocol whose reads all happen
    immediately after the writes (the benched retract cycles): the
    fraction trigger exists to bound read amplification across the MANY
    later reads of a long-lived view, a benefit a write-then-read-once
    cycle never collects, while its O(view) fold would sit on the
    cycle's critical path. Callers that defer must say so where the
    deferral is visible (their on-disk end state keeps the tombstone
    raw segment the sequential protocol would have folded; the read
    fold makes the ANSWERS identical either way)."""
    if auto_compact is None:
        return False
    paths, _ = _segment_scan(state_dir)
    if not paths:
        return False
    fire = len(paths) >= auto_compact
    if not fire and fraction_trigger:
        n_tomb, n_pop = _tombstone_population(paths)
        fire = bool(n_tomb) and n_tomb / n_pop >= TOMBSTONE_COMPACT_FRACTION
    if fire:
        compact_fn(spark, state_dir, retain_last=AUTO_COMPACT_RETAIN)
    return fire


def _read_segments(spark, state_dir: str, merge_fn,
                   zset: tuple[str, ...] = ()) -> DataFrame:
    """The current view from segmented state: union the readable
    segments and fold through the view's read merge. Equal to the
    one-shot batch aggregate over the same batches (pytest-pinned); the
    read-side merge is one aggregate over segment rows — compact when
    the segment count makes that noticeable."""
    paths, _ = _segment_scan(state_dir)
    if not paths:
        raise FileNotFoundError(f"no committed segments under {state_dir}")
    return merge_fn(_read_state(spark, *paths, zset=zset))


def _compact_segments(spark, state_dir: str, merge_fn,
                      retain_last: int = 0, zset: tuple[str, ...] = ()) -> int:
    """Fold the readable segments into one compacted segment covering
    their batch ids, then garbage-collect what it covers (best-effort —
    a crash between commit and GC only leaves redundant raws the reader
    already skips). Returns the number of batch ids folded.

    ``retain_last`` is the SNAPSHOT-RETENTION knob (compaction is the
    LSM's history GC — see the as-of section note): the newest N raw
    batch ids stay out of the fold, so ``read_*_as_of`` keeps working
    for every point inside the retention horizon while everything older
    folds. 0 (the default, and what the auto-compaction trigger uses)
    folds everything — maximal read-side collapse, no history. Batch
    ids already inside a previous compaction cannot be un-folded and do
    not count toward the retained window."""
    # compaction requires exclusivity against all writers, so it is the
    # one place the FULL crash-leftover sweep runs (raw segment writes
    # reclaim only their own .tmp — see _clear_tmp_segments, r14)
    _clear_tmp_segments(_segments_root(state_dir))
    paths, applied = _segment_scan(state_dir)
    if not paths:
        return 0
    fold_bids = set(applied)
    if retain_last > 0:
        # only UNCOVERED raw ids can be retained — derived from the
        # readable paths _segment_scan resolved, never a directory
        # listing: a crash between compact-commit and GC leaves raws a
        # compact already covers, and letting one occupy a retention
        # slot would push an older uncovered raw into the fold while the
        # new manifest omits its batch id (double-count on later reads).
        raw_bids = sorted(
            int(os.path.basename(p)[1:]) for p in paths
            if os.path.basename(p).startswith("b")
        )
        keep = set(raw_bids[-retain_last:])
        fold_bids -= keep
        paths = [
            p for p in paths
            if os.path.basename(p).startswith("compact_")
            or int(os.path.basename(p)[1:]) in fold_bids
        ]
    if not paths or not fold_bids:
        return 0
    if retain_last > 0 and not any(
            os.path.basename(p).startswith("b") for p in paths):
        return 0  # nothing new to fold: the compact alone already covers it
    merged = merge_fn(_read_state(spark, *paths, zset=zset))
    tag = f"compact_{max(fold_bids):010d}_{len(fold_bids)}"
    _write_segment(merged, state_dir, -1,
                   manifest={"batch_ids": sorted(fold_bids)}, name=tag)
    root = _segments_root(state_dir)
    for name in os.listdir(root):
        if name != tag and (name.startswith("b") or name.startswith("compact_")):
            bid_ok = name.startswith("compact_") or int(name[1:]) in fold_bids
            if bid_ok:
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return len(fold_bids)


# --------------------------------------------------------------------------
# The doc and term views (exact dedup, gram index, minhash buckets, term
# stats): one Z-set segment format
# --------------------------------------------------------------------------
#
# Each segment row is doc-granular evidence — (fingerprint, doc_id),
# (gram, doc), (bucket, doc) or (term, doc) — with a weight: +1 for an
# apply, -1 for a tombstone. All aggregation is deferred to read time.
# Segments stay O(batch); a retraction is just another segment (its own
# batch id in the same replay-guarded numbering, so crash/replay
# semantics are unchanged); compaction folds the keyed weight sums (an
# abelian GROUP, hence invertible) and keeps w != 0 rows — a tombstone
# compacted before its add arrives must survive to cancel it. The read
# fold keeps the live (w > 0) rows and only then aggregates to the view
# contract, so apply/retract/compact in ANY interleaving reads equal to
# a rebuild from the surviving corpus (pytest-pinned, including deleting
# a stored min-id survivor and delete-then-re-add). (The reference never
# deletes — src/transform.py:64-66 re-reads all history — but a
# production curation loop re-ingests corrected shards.)
#
# Each read fold hash-partitions the unioned segments by the VIEW KEY
# before the (key, doc) weight fold: that partitioning satisfies both
# the (key, doc) fold and the per-key aggregate, so a read plans ONE
# exchange instead of two (pytest-pinned).
#
# The gram and bucket deltas end in a rebalance: their input is already
# partitioned by doc id, so with no exchange of their own they would
# write one small file per input partition (4-32 per batch segment, each
# opened again by every read). The rebalance lets adaptive execution
# size the segment's files to the data: one file for a small batch.
#
# Posting caps (``max_gram_df``, ``max_bucket_size``) are READ-time
# parameters: the read fold recomputes each key's live distinct-doc set
# and marks it (ids=NULL, over=true) above the cap, exactly as the batch
# detectors recompute their cutoff from scratch. One state therefore
# answers at any cap, and a key that overflowed can fall back UNDER the
# cap when enough members are retracted. The price is state size: a key
# above its cap still stores one row per (key, doc).
#
# Contract: retraction takes the ORIGINAL rows (id + text) — exactly what
# "re-ingest a corrected shard" has in hand. Evidence values (fingerprint,
# cnt, min_okey, band hashes, tf) are pure functions of the document, so
# a tombstone reproduces its add's rows exactly and the keyed weight sums
# annihilate. Retracting a never-added doc leaves a w=-1 row that reads
# as absent and annihilates against a later re-add (out-of-order
# tolerant). State written by the pre-Z-set add-only appliers is not
# migrated: every read, apply and compaction of these four views checks
# the segment footer for the Z-set columns and raises PreZSetStateError.


#: columns every Z-set segment of the doc views (exact dedup, gram index,
#: minhash buckets) carries; every add-only segment lacks one of them
_DOC_ZSET = ("doc_id", "w")
#: the term-stats view's Z-set columns (its term column is named ``w``)
_TERM_ZSET = ("doc_id", "zw")


def _exact_dedup_weighted_delta(batch_df: DataFrame, text_col: str,
                                id_col: str, weight: int) -> DataFrame:
    return batch_df.select(
        F.md5(F.col(text_col)).alias("fingerprint"),
        F.col(id_col).alias("doc_id"),
        F.lit(weight).cast("long").alias("w"),
    )


def _fold_exact_dedup_weights(df: DataFrame) -> DataFrame:
    """Compaction fold: per-(fingerprint, doc_id) weight sums, dropping
    annihilated (w=0) pairs."""
    return (
        df.groupBy("fingerprint", "doc_id")
        .agg(F.sum("w").alias("w"))
        .filter(F.col("w") != 0)
    )


def _live_exact_dedup(df: DataFrame) -> DataFrame:
    """Read fold: live rows (w > 0) aggregated to the same
    (fingerprint, doc_id survivor, n_copies) contract as exact_dedup;
    n_copies counts distinct live doc ids."""
    return (
        _fold_exact_dedup_weights(df.repartition("fingerprint"))
        .filter(F.col("w") > 0)
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def apply_exact_dedup_delta(batch_df: DataFrame, batch_id: int,
                            state_dir: str, text_col: str = "text",
                            id_col: str = "doc_id",
                            auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """O(batch) segmented apply of the exact-dedup view: fingerprint ONLY
    this batch's documents (md5 of the text — bit-identical to the batch
    ``exact_dedup``). The read view IS ``exact_dedup``'s output over
    everything live so far: the membership table a deployment probes per
    ingest batch. Read with :func:`read_exact_dedup_segments`; segments
    fold back to one automatically once the readable count reaches
    ``auto_compact`` (:data:`AUTO_COMPACT_SEGMENTS`; None = manual
    :func:`compact_exact_dedup_segments`). Replays no-op (the segment
    directory, or a compacted segment covering its batch id, exists)."""
    _apply_delta_segment(
        lambda: _exact_dedup_weighted_delta(batch_df, text_col, id_col, 1),
        batch_df, batch_id, state_dir, _fold_exact_dedup_weights, auto_compact,
        zset=_DOC_ZSET,
    )


def retract_exact_dedup_delta(
        batch_df: DataFrame, batch_id: int, state_dir: str,
        text_col: str = "text", id_col: str = "doc_id",
        auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """Retract previously-ingested documents from the exact-dedup view:
    writes a -1-weight tombstone segment under its own batch id (same
    replay guard / crash protocol as an apply). Takes the original
    (id, text) rows — the corrected-shard re-ingest shape."""
    _apply_delta_segment(
        lambda: _exact_dedup_weighted_delta(batch_df, text_col, id_col, -1),
        batch_df, batch_id, state_dir, _fold_exact_dedup_weights, auto_compact,
        tombstone=True,
        zset=_DOC_ZSET,
    )


def read_exact_dedup_segments(spark, state_dir: str) -> DataFrame:
    return _read_segments(spark, state_dir, _live_exact_dedup, zset=_DOC_ZSET)


def compact_exact_dedup_segments(spark, state_dir: str,
        retain_last: int = 0) -> int:
    return _compact_segments(
        spark, state_dir, _fold_exact_dedup_weights, retain_last=retain_last,
        zset=_DOC_ZSET)


def _gram_index_occ_delta(occ: DataFrame, id_col: str, weight: int) -> DataFrame:
    """Doc-granular gram evidence (h, doc_id, cnt, min_okey, w) from a
    gram-OCCURRENCE frame (id, pos, h, okey — ext.dedup.gram_occurrences):
    the per-(gram, doc) count and keep-first order key
    (doc_id·2^20 + pos), shared by the text-fed and shared-scan
    appliers."""
    return occ.groupBy("h", F.col(id_col).cast("long").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("okey").alias("min_okey"),
        F.lit(weight).cast("long").alias("w"),
    ).hint("rebalance")


def _gram_index_weighted_delta(batch_df: DataFrame, text_col: str,
                               id_col: str, k: int, weight: int) -> DataFrame:
    from ..ext.dedup import _gram_occurrences

    _require_integral_id(batch_df, id_col, "gram_index")
    _, _, occ = _gram_occurrences(batch_df, text_col, id_col, k)
    return _gram_index_occ_delta(occ, id_col, weight)


def _fold_gram_index_weights(df: DataFrame) -> DataFrame:
    """Compaction fold: per-(gram, doc) weight sums; cnt/min_okey are
    identical across a doc's add and tombstone rows (pure functions of
    the text), so max/min just pick the shared value."""
    return (
        df.groupBy("h", "doc_id")
        .agg(F.max("cnt").alias("cnt"), F.min("min_okey").alias("min_okey"),
             F.sum("w").alias("w"))
        .filter(F.col("w") != 0)
    )


def _live_gram_index(df: DataFrame, max_gram_df: int) -> DataFrame:
    """Read fold: live (gram, doc) rows re-aggregated to the maintained
    gram-index contract (h, cnt, min_okey, ids, over) that every
    *_from_index read path consumes; the posting list is capped at
    ``max_gram_df`` distinct live docs."""
    live = _fold_gram_index_weights(df.repartition("h")).filter(F.col("w") > 0)
    return (
        live.groupBy("h")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.min("min_okey").alias("min_okey"),
            F.array_sort(F.collect_set("doc_id")).alias("_ids"),
        )
        .select(
            "h", "cnt", "min_okey",
            F.when(F.size("_ids") <= max_gram_df, F.col("_ids")).alias("ids"),
            (F.size("_ids") > max_gram_df).alias("over"),
        )
    )


def apply_gram_index_delta(batch_df: DataFrame, batch_id: int, state_dir: str,
                           text_col: str = "text", id_col: str = "doc_id",
                           k: int = 8,
                           auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """O(batch) segmented apply of the ExactSubstr (Lee et al. 2022) gram
    index: hash ONLY this batch's documents' k-grams (the shared
    Carter-Wegman combine — bit-identical to the batch ExactSubstr
    operators). The read view feeds the whole triad's read paths without
    re-scanning history: ``ext.dedup.substring_dedup_rewrite_from_index``
    (span removal, via cnt + min_okey), ``substring_dup_spans_from_index``
    (coverage stats, via cnt) and ``substring_shared_gram_pairs_from_index``
    (pair detection, via the capped posting lists). Same protocol as
    :func:`apply_exact_dedup_delta`."""
    _apply_delta_segment(
        lambda: _gram_index_weighted_delta(batch_df, text_col, id_col, k, 1),
        batch_df, batch_id, state_dir, _fold_gram_index_weights, auto_compact,
        zset=_DOC_ZSET,
    )


def apply_gram_index_occ_delta(occ_batch: DataFrame, batch_id: int,
                               state_dir: str, id_col: str = "doc_id",
                               auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """:func:`apply_gram_index_delta` fed from a precomputed
    gram-OCCURRENCE slice (``ext.dedup.gram_occurrences`` output filtered
    to the batch) instead of raw (id, text) rows — the shared-scan form
    (r14, r13 verdict #7): a caller that maintains the index AND rewrites
    against it in one job pays the corpus gram-hash pass ONCE (persist
    occ, slice per batch here, hand the same triple to the rewrite via
    ``grams=``). Segment protocol, replay guard, and the resulting view
    are identical to the text-fed applier (pytest-pinned equivalence)."""
    _apply_delta_segment(
        lambda: _gram_index_occ_delta(occ_batch, id_col, 1),
        occ_batch, batch_id, state_dir, _fold_gram_index_weights, auto_compact,
        zset=_DOC_ZSET,
    )


def retract_gram_index_delta(
        batch_df: DataFrame, batch_id: int, state_dir: str,
        text_col: str = "text", id_col: str = "doc_id", k: int = 8,
        auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """Tombstone segment for the gram-index view (original (id, text)
    rows; same k as the applies it cancels)."""
    _apply_delta_segment(
        lambda: _gram_index_weighted_delta(batch_df, text_col, id_col, k, -1),
        batch_df, batch_id, state_dir, _fold_gram_index_weights, auto_compact,
        tombstone=True,
        zset=_DOC_ZSET,
    )


def read_gram_index_segments(spark, state_dir: str,
                             max_gram_df: int = 1_000) -> DataFrame:
    return _read_segments(
        spark, state_dir, lambda df: _live_gram_index(df, max_gram_df),
        zset=_DOC_ZSET)


def compact_gram_index_segments(spark, state_dir: str,
        retain_last: int = 0) -> int:
    return _compact_segments(
        spark, state_dir, _fold_gram_index_weights, retain_last=retain_last,
        zset=_DOC_ZSET)


def _minhash_buckets_weighted_delta(batch_df: DataFrame, text_col: str,
                                    id_col: str, n_hashes: int, bands: int,
                                    shingle_n: int, weight: int) -> DataFrame:
    """Doc-granular banded bucket membership (doc_id, band_idx,
    band_hash, w). Per-document signatures are pure functions of the
    document, so the maintained buckets ARE the batch detector's
    buckets."""
    from ..ext.dedup import band_structs, minhash_signatures

    _require_integral_id(batch_df, id_col, "minhash_buckets")
    sig = minhash_signatures(batch_df, text_col, id_col, n_hashes, shingle_n)
    return sig.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(F.array(*band_structs(n_hashes, bands))).alias("band"),
    ).select(
        "doc_id",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_hash").alias("band_hash"),
        F.lit(weight).cast("long").alias("w"),
    ).hint("rebalance")


def _fold_minhash_weights(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("band_idx", "band_hash", "doc_id")
        .agg(F.sum("w").alias("w"))
        .filter(F.col("w") != 0)
    )


def _live_minhash_buckets(df: DataFrame, max_bucket_size: int) -> DataFrame:
    """Read fold to the maintained LSH-bucket contract
    (band_idx, band_hash, ids, over) from live memberships, capped at
    ``max_bucket_size`` members — the cutoff
    ``ext.dedup.minhash_lsh_pairs`` applies."""
    live = (_fold_minhash_weights(df.repartition("band_idx", "band_hash"))
            .filter(F.col("w") > 0))
    return (
        live.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("_ids"))
        .select(
            "band_idx", "band_hash",
            F.when(F.size("_ids") <= max_bucket_size, F.col("_ids")).alias("ids"),
            (F.size("_ids") > max_bucket_size).alias("over"),
        )
    )


def apply_minhash_buckets_delta(batch_df: DataFrame, batch_id: int,
                                state_dir: str, text_col: str = "text",
                                id_col: str = "doc_id", n_hashes: int = 16,
                                bands: int = 4, shingle_n: int = 3,
                                auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """O(batch) segmented apply of the LSH-bucket view — same protocol
    as :func:`apply_exact_dedup_delta`."""
    _apply_delta_segment(
        lambda: _minhash_buckets_weighted_delta(
            batch_df, text_col, id_col, n_hashes, bands, shingle_n, 1),
        batch_df, batch_id, state_dir, _fold_minhash_weights, auto_compact,
        zset=_DOC_ZSET,
    )


def retract_minhash_buckets_delta(
        batch_df: DataFrame, batch_id: int, state_dir: str,
        text_col: str = "text", id_col: str = "doc_id", n_hashes: int = 16,
        bands: int = 4, shingle_n: int = 3,
        auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """Tombstone segment for the LSH-bucket view (original (id, text)
    rows; same signature params as the applies it cancels)."""
    _apply_delta_segment(
        lambda: _minhash_buckets_weighted_delta(
            batch_df, text_col, id_col, n_hashes, bands, shingle_n, -1),
        batch_df, batch_id, state_dir, _fold_minhash_weights, auto_compact,
        tombstone=True,
        zset=_DOC_ZSET,
    )


def read_minhash_buckets_segments(spark, state_dir: str,
                                  max_bucket_size: int = 100_000) -> DataFrame:
    return _read_segments(
        spark, state_dir, lambda df: _live_minhash_buckets(df, max_bucket_size),
        zset=_DOC_ZSET)


def compact_minhash_buckets_segments(spark, state_dir: str,
        retain_last: int = 0) -> int:
    return _compact_segments(
        spark, state_dir, _fold_minhash_weights, retain_last=retain_last,
        zset=_DOC_ZSET)


def _term_stats_weighted_delta(batch_df: DataFrame, text_col: str,
                               id_col: str, weight: int) -> DataFrame:
    """Doc-granular term evidence (w, doc_id, tf, zw) — the term column
    is already named ``w`` by the view contract, so the Z-set weight
    column is ``zw`` here. The doc id keeps its NATIVE type (nothing
    here packs it into a numeric key, unlike the gram/bucket views)."""
    from ..ext.text import tokens

    return (
        batch_df.select(F.col(id_col).alias("doc_id"),
                        F.explode(tokens(text_col)).alias("w"))
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"),
             F.lit(weight).cast("long").alias("zw"))
    )


def _fold_term_stats_weights(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("w", "doc_id")
        .agg(F.max("tf").alias("tf"), F.sum("zw").alias("zw"))
        .filter(F.col("zw") != 0)
    )


def _live_term_stats(df: DataFrame) -> DataFrame:
    """Read fold to the term-stats contract (w, cf, df) from live
    doc-level term frequencies: cf = Σ tf, df = count of live docs."""
    return (
        _fold_term_stats_weights(df.repartition("w"))
        .filter(F.col("zw") > 0)
        .groupBy("w")
        .agg(F.sum("tf").alias("cf"), F.count(F.lit(1)).alias("df"))
    )


def apply_term_stats_delta(batch_df: DataFrame, batch_id: int,
                           state_dir: str, text_col: str = "text",
                           id_col: str = "doc_id",
                           auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """O(batch) segmented apply of the BM25/TF-IDF term-stats view:
    tokenize ONLY this batch's documents into doc-level term frequencies.
    cf is additive, but df counts DISTINCT docs, which only the
    doc-granular evidence can un-count on a retraction. Same protocol as
    :func:`apply_exact_dedup_delta`."""
    _apply_delta_segment(
        lambda: _term_stats_weighted_delta(batch_df, text_col, id_col, 1),
        batch_df, batch_id, state_dir, _fold_term_stats_weights, auto_compact,
        zset=_TERM_ZSET,
    )


def retract_term_stats_delta(
        batch_df: DataFrame, batch_id: int, state_dir: str,
        text_col: str = "text", id_col: str = "doc_id",
        auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """Tombstone segment for the term-stats view (original (id, text)
    rows)."""
    _apply_delta_segment(
        lambda: _term_stats_weighted_delta(batch_df, text_col, id_col, -1),
        batch_df, batch_id, state_dir, _fold_term_stats_weights, auto_compact,
        tombstone=True,
        zset=_TERM_ZSET,
    )


def read_term_stats_segments(spark, state_dir: str) -> DataFrame:
    return _read_segments(spark, state_dir, _live_term_stats, zset=_TERM_ZSET)


def compact_term_stats_segments(spark, state_dir: str,
        retain_last: int = 0) -> int:
    return _compact_segments(
        spark, state_dir, _fold_term_stats_weights, retain_last=retain_last,
        zset=_TERM_ZSET)


# --------------------------------------------------------------------------
# Retractable IVF postings (r11): vector deletes for the ANN index
# --------------------------------------------------------------------------
#
# The add-only IVF cell view (maintain_ivf_cell_view) appends (id, cell)
# postings and monoid-combines per-cell (count, component-sum) stats —
# neither supports a vector DELETE, yet deletion is a first-class ANN-index
# operation in production (a curation loop drops vectors whose source
# documents were retracted; GDPR-style erasure). Same Z-set construction
# as the doc views: postings at VECTOR granularity (cell, vec_id,
# embedding, w) with +1 adds and -1 tombstones. The cell is a pure
# function of the vector (here: the label coarse cell, matching the
# emb_ivf_* query family; the frozen-codebook assigner `_nearest_cell`
# plugs in the same way), so a tombstone reproduces its add's row exactly
# and the keyed weight sums annihilate. Read folds keep w > 0 rows:
# postings feed the probe-time scan, and the per-cell stats (n_vecs,
# component sums → live centroid drift) are recomputed from live rows —
# the price of invertibility is doc-granular state, exactly as with the
# doc and term views above.


def _ivf_postings_weighted_delta(batch_df: DataFrame, vec_col: str,
                                 id_col: str, cell_col: str,
                                 weight: int) -> DataFrame:
    return batch_df.select(
        F.col(cell_col).cast("long").alias("cell"),
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.lit(weight).cast("long").alias("w"),
    )


def _fold_ivf_postings_weights(df: DataFrame) -> DataFrame:
    """Compaction fold: per-(cell, vec_id) weight sums; the embedding is
    a pure function of the vector id so every row of a key carries the
    identical array (F.max is the deterministic pick — Spark arrays are
    orderable). Annihilated (w=0) postings drop; w<0 tombstones survive
    to cancel a late add."""
    return (
        df.groupBy("cell", "vec_id")
        .agg(F.max("embedding").alias("embedding"), F.sum("w").alias("w"))
        .select("cell", "vec_id", "embedding", "w")
        .filter(F.col("w") != 0)
    )


def _merge_ivf_postings_retractable(df: DataFrame) -> DataFrame:
    """Read fold: live postings (cell, vec_id, embedding) — the scan side
    an IVF probe prunes by cell."""
    return (
        _fold_ivf_postings_weights(df)
        .filter(F.col("w") > 0)
        .select("cell", "vec_id", "embedding")
    )


def apply_ivf_postings_retractable_delta(
        batch_df: DataFrame, batch_id: int, state_dir: str,
        vec_col: str = "embedding", id_col: str = "vec_id",
        cell_col: str = "label",
        auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """O(batch) segmented apply of the RETRACTABLE IVF postings view."""
    _apply_delta_segment(
        lambda: _ivf_postings_weighted_delta(batch_df, vec_col, id_col, cell_col, 1),
        batch_df, batch_id, state_dir, _fold_ivf_postings_weights, auto_compact,
    )


def retract_ivf_postings_delta(
        batch_df: DataFrame, batch_id: int, state_dir: str,
        vec_col: str = "embedding", id_col: str = "vec_id",
        cell_col: str = "label",
        auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """Vector-delete tombstone segment: takes the ORIGINAL (id, cell,
    vector) rows — what the curation loop re-ingesting a corrected shard
    has in hand — under its own replay-guarded batch id."""
    _apply_delta_segment(
        lambda: _ivf_postings_weighted_delta(batch_df, vec_col, id_col, cell_col, -1),
        batch_df, batch_id, state_dir, _fold_ivf_postings_weights, auto_compact,
        tombstone=True,
    )


def read_ivf_postings_retractable_segments(spark, state_dir: str) -> DataFrame:
    return _read_segments(spark, state_dir, _merge_ivf_postings_retractable)


def read_ivf_cell_stats_retractable(spark, state_dir: str) -> DataFrame:
    """Per-cell (n_vecs, component sums) over LIVE vectors only — the
    balance/drift contract of ``combine_cell_stats``, now current under
    deletes. O(live postings) at read instead of O(cells) maintained
    state: what invertibility costs."""
    live = read_ivf_postings_retractable_segments(spark, state_dir)
    # left-join FROM the n_vecs aggregate: a cell whose live vectors all
    # carry empty embedding arrays yields no posexplode rows, and an
    # inner join would silently drop it even though n_vecs > 0 (r11
    # ADVICE); such a cell reports sums = [] instead of vanishing.
    sums = (
        live.select("cell", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("cell", "pos")
        .agg(F.sum(F.col("v").cast("double")).alias("s"))
        .groupBy("cell")
        .agg(F.transform(F.array_sort(F.collect_list(F.struct("pos", "s"))),
                         lambda x: x["s"]).alias("sums"))
    )
    return (
        live.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
        .join(sums, "cell", "left")
        .select("cell", "n_vecs",
                F.coalesce(F.col("sums"),
                           F.array().cast("array<double>")).alias("sums"))
    )


def compact_ivf_postings_retractable_segments(spark, state_dir: str,
        retain_last: int = 0) -> int:
    return _compact_segments(
        spark, state_dir, _fold_ivf_postings_weights, retain_last=retain_last)


# --------------------------------------------------------------------------
# Retractable Count-Sketch counters (r11): turnstile heavy hitters
# --------------------------------------------------------------------------
#
# The sketch views above (KMV / HLL / bottom-k) are MIN/MAX semilattices —
# no inverse exists, so they CANNOT retract; that boundary is a property
# of the monoid, not of the segment protocol. Count-min counters DO add,
# but its point estimate (min over rows) is only an upper bound under
# inserts — after deletes the one-sided guarantee is gone. The
# turnstile-correct sketch is the COUNT SKETCH (Charikar, Chen,
# Farach-Colton 2002, "Finding frequent items in data streams"): each of
# d rows hashes a key to a bucket AND to a ±1 sign; the counter
# accumulates sign·count, and the estimate is the MEDIAN over rows of
# sign·counter. Counters are LINEAR in the multiset, so a retraction is
# literally the negated delta of the retracted rows, and — unlike the
# doc-granular Z-set views above — segments stay CONSTANT-size O(d·w)
# rather than O(batch): linearity buys invertibility without carrying
# per-key evidence. apply ∘ retract == build-over-survivors is exact
# equality of counters, not an approximation (pytest-pinned).
#
# Hashing matches the repo-wide portable scheme (ext.dedup._md5_long):
# bucket_d(key) = md5_long(key, seed=d) % width, sign_d(key) = 1 -
# 2·(md5_long(key, seed=CS_SIGN_SEED+d) % 2) — both reproducible in ANSI
# SQL, which is what lets a DuckDB oracle replay the identical sketch.

#: seed offset separating the sign hash family from the bucket family
CS_SIGN_SEED = 100


def _count_sketch_delta(batch_df: DataFrame, key_col: str, depth: int,
                        width: int, weight: int) -> DataFrame:
    from ..ext.dedup import _md5_long

    # Counters are linear, so hash the batch's per-key COUNTS, not its raw
    # rows: one map-side-combinable groupBy first, then d (bucket, sign)
    # hash pairs over |keys| rows instead of |batch| — at sf0.1 that is
    # 20k hashes instead of 3M per apply (profiled 3.7 s → sub-second; the
    # md5→conv expression is the whole cost of the naive form). Identical
    # counters to row-at-a-time updates, same argument as
    # ext.sketch.cms_heavy_hitters' eval variant.
    counts = batch_df.groupBy(F.col(key_col).alias("_k")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    key_str = F.col("_k").cast("string")
    return (
        counts.select(
            "_n",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(d).alias("d"),
                        (_md5_long(key_str, d) % width).alias("b"),
                        (F.lit(1) - F.lit(2) * (_md5_long(key_str, CS_SIGN_SEED + d) % 2))
                        .cast("long").alias("s"),
                    )
                    for d in range(1, depth + 1)
                ])
            ).alias("dbs"),
        )
        .groupBy(F.col("dbs.d").alias("d"), F.col("dbs.b").alias("b"))
        .agg((F.lit(weight) * F.sum(F.col("dbs.s") * F.col("_n"))).cast("long").alias("c"))
        # a segment is at most d·w rows — one file, not 32 task-sized ones
        .coalesce(1)
    )


def _fold_count_sketch_weights(df: DataFrame) -> DataFrame:
    """Counter addition — the abelian group itself. Zero counters drop
    (absent reads as 0 at estimate time)."""
    return (
        df.groupBy("d", "b").agg(F.sum("c").alias("c")).filter(F.col("c") != 0)
    )


def apply_count_sketch_delta(
        batch_df: DataFrame, batch_id: int, state_dir: str,
        key_col: str, depth: int = 5, width: int = 256,
        auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """O(d·w) segmented apply of the turnstile Count-Sketch counters."""
    _apply_delta_segment(
        lambda: _count_sketch_delta(batch_df, key_col, depth, width, 1),
        batch_df, batch_id, state_dir, _fold_count_sketch_weights, auto_compact,
    )


def retract_count_sketch_delta(
        batch_df: DataFrame, batch_id: int, state_dir: str,
        key_col: str, depth: int = 5, width: int = 256,
        auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """Negated-delta tombstone segment: counters are linear, so
    retracting rows is adding their negated sketch."""
    _apply_delta_segment(
        lambda: _count_sketch_delta(batch_df, key_col, depth, width, -1),
        batch_df, batch_id, state_dir, _fold_count_sketch_weights, auto_compact,
        tombstone=True,
    )


def read_count_sketch_segments(spark, state_dir: str) -> DataFrame:
    return _read_segments(spark, state_dir, _fold_count_sketch_weights)


def compact_count_sketch_segments(spark, state_dir: str,
        retain_last: int = 0) -> int:
    return _compact_segments(
        spark, state_dir, _fold_count_sketch_weights, retain_last=retain_last)


# --------------------------------------------------------------------------
# Snapshot (as-of) reads + changelog-driven maintenance (r11)
# --------------------------------------------------------------------------
#
# Segments are already a batch-numbered immutable history, so time travel
# is a READ-SIDE choice: merge only the segments with batch id <= as_of
# and the view at any past ingest point falls out — for the retractable
# views that includes "the view as it stood BEFORE a delete", the audit
# question a curation loop actually asks. The one honest limit is
# compaction: a compacted segment is the fold of everything it covers and
# cannot be split back, so a snapshot older than the newest compaction
# boundary is GONE — that is the retention contract of every LSM store
# (compaction == history GC), surfaced here as SnapshotUnavailableError
# rather than a silently-wrong merge. Callers that need deep history
# compact less often (auto_compact=None) or snapshot before compacting.


class SnapshotUnavailableError(RuntimeError):
    """The requested as-of batch prefix was folded into a compaction and
    its raw segments garbage-collected; the snapshot no longer exists."""


def _segment_scan_as_of(state_dir: str, as_of: int) -> list[str]:
    """Readable paths for the batch prefix [0, as_of]: the largest
    compaction wholly inside the prefix plus every uncovered raw <=
    as_of. Raises :class:`SnapshotUnavailableError` when part of the
    prefix exists only inside a compaction that also folded later
    batches (splitting a monoid fold is not possible)."""
    compacts, raws = _list_segments(state_dir)
    want = {b for b in (set().union(*[c for c, _ in compacts]) if compacts else set())
            | set(raws) if b <= as_of}
    eligible = [(c, p) for c, p in compacts if c and max(c) <= as_of]
    paths, covered = [], set()
    if eligible:
        covered, cpath = max(eligible, key=lambda cp: (len(cp[0]), cp[1]))
        paths.append(cpath)
    have = set(covered)
    for bid, path in sorted(raws.items()):
        if bid <= as_of and bid not in covered:
            paths.append(path)
            have.add(bid)
    if have != want:
        raise SnapshotUnavailableError(
            f"batches {sorted(want - have)} were folded into a compaction "
            f"that also covers batches past as_of={as_of}; the snapshot "
            "was garbage-collected (compact less often to retain history)"
        )
    return paths


def _read_segments_as_of(spark, state_dir: str, merge_fn, as_of: int,
                         zset: tuple[str, ...] = ()) -> DataFrame:
    paths = _segment_scan_as_of(state_dir, as_of)
    if not paths:
        raise FileNotFoundError(
            f"no committed segments at or before batch {as_of} under {state_dir}"
        )
    return merge_fn(_read_state(spark, *paths, zset=zset))


def read_exact_dedup_as_of(spark, state_dir: str, as_of: int) -> DataFrame:
    return _read_segments_as_of(spark, state_dir, _live_exact_dedup, as_of,
                                zset=_DOC_ZSET)


def read_gram_index_as_of(spark, state_dir: str, as_of: int,
                          max_gram_df: int = 1_000) -> DataFrame:
    return _read_segments_as_of(
        spark, state_dir, lambda df: _live_gram_index(df, max_gram_df), as_of,
        zset=_DOC_ZSET)


def read_term_stats_as_of(spark, state_dir: str, as_of: int) -> DataFrame:
    return _read_segments_as_of(spark, state_dir, _live_term_stats, as_of,
                                zset=_TERM_ZSET)


def maintain_changelog_view(src: DataFrame, state_dir: str,
                            checkpoint_dir: str, apply_fn, retract_fn,
                            op_col: str = "op"):
    """Maintain a retractable view from a CHANGELOG stream — the CDC
    shape a production curation loop emits: each row carries ``op_col``
    (>= 0 insert/upsert, < 0 delete) alongside the view's natural
    columns. Micro-batch b splits by op and lands as two replay-guarded
    segments — 2b for the adds, 2b+1 for the tombstones — so a crash
    between the two writes replays safely (the add segment no-ops, the
    tombstone lands) and the even/odd numbering keeps the per-micro-batch
    ordering auditable in as-of reads. Both segments are written even
    when one side is empty: the guard must see every (batch, side) pair
    exactly once, and an empty parquet segment costs one file.

    ``apply_fn`` / ``retract_fn`` take (batch_df, batch_id, state_dir) —
    bind view-specific knobs (text/id columns, k, auto_compact) with a
    lambda. Because every retractable fold is an abelian Z-set, the
    maintained view reads equal to a one-shot rebuild over the NET
    surviving rows regardless of how the changelog interleaves adds and
    deletes across micro-batches (pytest-pinned)."""

    def _route(batch_df: DataFrame, batch_id: int) -> None:
        apply_fn(batch_df.filter(F.col(op_col) >= 0).drop(op_col),
                 2 * batch_id, state_dir)
        retract_fn(batch_df.filter(F.col(op_col) < 0).drop(op_col),
                   2 * batch_id + 1, state_dir)

    return maintain_view(src, _route, checkpoint_dir)


# --------------------------------------------------------------------------
# Retractable daily-counts view (r11): the reference-shaped aggregate
# --------------------------------------------------------------------------
#
# The daily (day, event_type, n, sum_value) view is PURELY ADDITIVE, so —
# like the Count-Sketch and unlike the min/union doc views — it retracts
# without carrying row granularity: a tombstone segment is the batch's
# own partial aggregate with negated measures, O(touched groups) per
# segment. Float sums cancel only approximately ((a+b)-b ≠ a at ulp), but
# n is integer-exact: the READ fold keeps n > 0 groups only, so a fully
# retracted group disappears exactly from the view. The COMPACTION fold
# is laxer — it keeps any group with n != 0 OR sum_value != 0, because a
# group can transiently net to n == 0 with a nonzero sum while its
# matching add is still in flight, and dropping the residue mid-stream
# would break the interleaving-independence contract (r12 ADVICE).


def _daily_counts_weighted_delta(batch_df: DataFrame, weight: int) -> DataFrame:
    return (
        batch_df.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            (F.lit(weight) * F.count(F.lit(1))).cast("long").alias("n"),
            (F.lit(weight) * F.sum("value")).alias("sum_value"),
        )
    )


def _fold_daily_counts_weights(df: DataFrame) -> DataFrame:
    """Compaction/segment fold: keep every group carrying ANY residue —
    n != 0 OR sum_value != 0. A group can transiently net to n == 0 with
    a nonzero sum (a delete folded before its matching add, or a
    same-batch add+unrelated-delete overlap); dropping it here would lose
    the sum residue forever once the tombstone trigger compacts
    mid-stream (r12 ADVICE). Only fully-cancelled groups (both zero)
    vanish; the LIVE-groups contract (n > 0) is enforced solely by the
    read-side :func:`_merge_daily_counts_retractable`."""
    return (
        df.groupBy("day", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_value").alias("sum_value"))
        .filter((F.col("n") != 0) | (F.col("sum_value") != 0))
    )


def _merge_daily_counts_retractable(df: DataFrame) -> DataFrame:
    """Read fold to the daily view's (day, event_type, n, sum_value)
    contract: live groups only."""
    return _fold_daily_counts_weights(df).filter(F.col("n") > 0)


def apply_daily_counts_delta(batch_df: DataFrame, batch_id: int,
                             state_dir: str,
                             auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """O(touched groups) segmented apply of the RETRACTABLE daily view."""
    _apply_delta_segment(
        lambda: _daily_counts_weighted_delta(batch_df, 1),
        batch_df, batch_id, state_dir, _fold_daily_counts_weights, auto_compact,
    )


def retract_daily_counts_delta(batch_df: DataFrame, batch_id: int,
                               state_dir: str,
                               auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """Negated-aggregate tombstone (original event rows in hand — the
    corrected-shard re-ingest shape, same as every retract_* above)."""
    _apply_delta_segment(
        lambda: _daily_counts_weighted_delta(batch_df, -1),
        batch_df, batch_id, state_dir, _fold_daily_counts_weights, auto_compact,
        tombstone=True,
    )


def read_daily_counts_retractable_segments(spark, state_dir: str) -> DataFrame:
    return _read_segments(spark, state_dir, _merge_daily_counts_retractable)


def read_daily_counts_retractable_as_of(spark, state_dir: str, as_of: int) -> DataFrame:
    return _read_segments_as_of(spark, state_dir,
                                _merge_daily_counts_retractable, as_of)


def compact_daily_counts_retractable_segments(spark, state_dir: str,
        retain_last: int = 0) -> int:
    return _compact_segments(
        spark, state_dir, _fold_daily_counts_weights, retain_last=retain_last)


def apply_doc_views_delta(batch_df: DataFrame, batch_id: int,
                          exact_dir: str, minhash_dir: str, gram_dir: str,
                          text_col: str = "text", id_col: str = "doc_id",
                          n_hashes: int = 16, bands: int = 4,
                          shingle_n: int = 3, k: int = 8,
                          auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """Fused per-ingest apply for the three maintained doc views — the
    deployment loop's natural shape, mirroring the r8 sketch-view fusion
    (apply_sketch_views_batch): ONE materialized scan of the batch's
    narrow (id, text) projection feeds the exact-dedup, minhash-bucket,
    and gram-index segmented appliers, instead of each applier re-reading
    and re-decompressing the source. Per-view replay guards stay
    independent (a crash mid-fusion replays safely: completed views
    no-op, the rest apply), so crash semantics are identical to three
    separate calls — only the scan is shared."""
    from ..cache import owned_persist, release_one

    # owned_persist, not a raw .persist(): the registry guarantees release
    # even if a caller abandons the frame mid-fusion (cache-hygiene rule,
    # tests/test_cache_hygiene.py); the finally-release makes the scope
    # tight here and the registry entry a no-op.
    shared = owned_persist(batch_df.select(id_col, text_col))
    try:
        shared.count()  # materialize the shared scan once

        # the three appliers target INDEPENDENT state dirs reading the one
        # persisted scan, so — exactly like the r8 sketch fusion above
        # (apply_sketch_views_batch) — their delta→segment-write pipelines
        # run concurrently via multi-threaded job submission; local[n]
        # interleaves the per-view jobs instead of paying three scan→agg
        # latencies back to back. Per-view replay guards and the
        # single-writer-per-STATE-DIR rule are untouched (distinct dirs →
        # distinct segment roots → no shared .tmp_* path), so crash
        # semantics are identical to three sequential calls.
        from concurrent.futures import ThreadPoolExecutor

        appliers = {
            "exact": lambda: apply_exact_dedup_delta(
                shared, batch_id, exact_dir, text_col, id_col, auto_compact),
            "minhash": lambda: apply_minhash_buckets_delta(
                shared, batch_id, minhash_dir, text_col, id_col, n_hashes,
                bands, shingle_n, auto_compact),
            "gram": lambda: apply_gram_index_delta(
                shared, batch_id, gram_dir, text_col, id_col, k,
                auto_compact),
        }
        with ThreadPoolExecutor(max_workers=len(appliers)) as pool:
            futures = {v: pool.submit(fn) for v, fn in appliers.items()}
        for v, fut in futures.items():
            fut.result()  # surface the first per-view failure
    finally:
        release_one(shared)


def apply_doc_views_deltas(batches: list[tuple[DataFrame, int]],
                           exact_dir: str, minhash_dir: str, gram_dir: str,
                           text_col: str = "text", id_col: str = "doc_id",
                           n_hashes: int = 16, bands: int = 4,
                           shingle_n: int = 3, k: int = 8,
                           auto_compact: int | None = AUTO_COMPACT_SEGMENTS) -> None:
    """Concurrent MULTI-batch form of :func:`apply_doc_views_delta` (r14,
    r13 verdict #1): all len(batches)×3 (batch, view) applier jobs run in
    ONE thread pool instead of a barrier per batch.

    This is legal because batch application COMMUTES by construction —
    each apply writes an immutable per-batch segment dir and the read
    path folds segments through the view's monoid merge, so the final
    state is identical for any apply order or interleaving
    (test_matview.py pins concurrent ≡ sequential on all three views).
    The concurrency unit is one writer per (state_dir, batch_id): raw
    segment writes reclaim only their own crash leftovers
    (:func:`_clear_tmp_segments`), distinct batch ids never share a
    ``.tmp_*`` path, and per-(batch, view) replay guards are untouched.

    The appliers run with the AUTO-triggers disabled and ONE
    :func:`maybe_compact` per view runs after the pool drains — mid-pool compaction from
    two writers would race, and deferring the check to the drain point
    preserves the trigger's invariant (segment count never exceeds
    threshold + len(batches) transiently, then folds).

    Wall-clock shape: with B batches the sequential form pays B barriers
    of max(per-view delta latency); this form keeps the cluster busy
    across batch boundaries — measured ~25% off the sf0.1 ingest cycle
    (two batches) on local[32]."""
    from concurrent.futures import ThreadPoolExecutor

    from ..cache import owned_persist, release_one

    shareds = [(owned_persist(df.select(id_col, text_col)), bid)
               for df, bid in batches]
    try:
        # materialize every batch's shared scan BEFORE the applier fan-out
        # (the batches themselves fill concurrently): racing six lazy jobs
        # into uncached persists makes each recompute partitions the block
        # store then discards as already-stored — measured 2-5x slower
        # than one clean parallel fill per batch.
        with ThreadPoolExecutor(max_workers=max(1, len(shareds))) as pool:
            list(pool.map(lambda sb: sb[0].count(), shareds))
        jobs = []
        for shared, bid in shareds:
            jobs.extend([
                lambda s=shared, b=bid: apply_exact_dedup_delta(
                    s, b, exact_dir, text_col, id_col, None),
                lambda s=shared, b=bid: apply_minhash_buckets_delta(
                    s, b, minhash_dir, text_col, id_col, n_hashes, bands,
                    shingle_n, None),
                lambda s=shared, b=bid: apply_gram_index_delta(
                    s, b, gram_dir, text_col, id_col, k, None),
            ])
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            futures = [pool.submit(fn) for fn in jobs]
        for fut in futures:
            fut.result()  # surface the first per-(batch, view) failure
    finally:
        for shared, _ in shareds:
            release_one(shared)
    if batches:
        spark = batches[0][0].sparkSession
        for state_dir, compact_fn in (
                (exact_dir, compact_exact_dedup_segments),
                (minhash_dir, compact_minhash_buckets_segments),
                (gram_dir, compact_gram_index_segments)):
            maybe_compact(spark, state_dir, compact_fn, auto_compact)


def segment_stats(state_dir: str) -> dict:
    """Observability snapshot of a segmented state directory — what an
    operator dashboards per maintained view: readable segment count (the
    read-amplification driver), raw-vs-compact split, covered batch ids,
    on-disk bytes, and whether the next apply will trigger
    auto-compaction at the default threshold. Pure filesystem metadata:
    no Spark job, safe to poll from a monitoring loop concurrent with
    the single writer (same read-only contract as _segment_scan)."""
    paths, applied = _segment_scan(state_dir)
    raws = [p for p in paths if os.path.basename(p).startswith("b")]
    compacts = [p for p in paths if os.path.basename(p).startswith("compact_")]

    def _bytes(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
        return total

    # the fraction the live trigger actually measures
    n_tomb, n_pop = _tombstone_population(paths)
    return {
        "readable_segments": len(paths),
        "raw_segments": len(raws),
        "compact_segments": len(compacts),
        "tombstone_segments": n_tomb,
        "empty_tombstone_segments": len(raws) - n_pop,
        "tombstone_fraction": round(n_tomb / n_pop, 4) if n_pop else 0.0,
        "applied_batches": sorted(applied),
        "bytes": sum(_bytes(p) for p in paths),
        "will_auto_compact_next": len(paths) + 1 >= AUTO_COMPACT_SEGMENTS,
        # a RETRACT lands a tombstone, so it additionally checks the
        # tombstone-fraction trigger (r12) — reported separately because
        # which trigger the next batch faces depends on its op
        "will_compact_next_tombstone": (
            len(paths) + 1 >= AUTO_COMPACT_SEGMENTS
            or (len(paths) >= 1
                and (n_tomb + 1) / (n_pop + 1) >= TOMBSTONE_COMPACT_FRACTION)
        ),
    }
