"""Incrementally maintained daily view == one-shot batch aggregate."""

from __future__ import annotations

import json
import re
import time

import pytest
from pyspark.sql import functions as F

from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import maintain_view

_SCHEMA = "ts timestamp, event_type string, value double"

_B1 = [
    {"ts": "2024-03-01T09:00:00", "event_type": "view", "value": 1.5},
    {"ts": "2024-03-01T10:00:00", "event_type": "click", "value": 2.0},
    {"ts": "2024-03-02T09:00:00", "event_type": "view", "value": 3.0},
]
_B2 = [
    {"ts": "2024-03-01T11:00:00", "event_type": "view", "value": 0.5},   # combines into existing group
    {"ts": "2024-03-03T09:00:00", "event_type": "purchase", "value": 9.0},  # new group
]


def _write(path, name, rows):
    path.mkdir(exist_ok=True)
    with open(path / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _snap_grams(df):
    return sorted(
        (r.h, r.cnt, r.min_okey, tuple(r.ids) if r.ids is not None else None, r.over)
        for r in df.collect()
    )


def _grams_oneshot(corpus, k, cap=1_000):
    """The one-shot batch gram aggregate over the whole corpus, in
    :func:`_snap_grams` form: the reference for every gram-index view."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import _gram_occurrences

    _, _, occ = _gram_occurrences(corpus, "text", "doc_id", k)
    rows = occ.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("okey").alias("min_okey"),
        F.array_sort(F.collect_set("doc_id")).alias("ids"),
    ).collect()
    return sorted(
        (r.h, r.cnt, r.min_okey, None if len(r.ids) > cap else tuple(r.ids),
         len(r.ids) > cap)
        for r in rows
    )


def _snap_buckets(df):
    return sorted(
        (r.band_idx, r.band_hash, tuple(r.ids) if r.ids is not None else None, r.over)
        for r in df.collect()
    )


def _buckets_oneshot(corpus, cap=100_000, n_hashes=16, bands=4):
    """The one-shot banding's bucket membership over the whole corpus,
    in :func:`_snap_buckets` form, with the batch detector's cap."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        band_structs,
        minhash_signatures,
    )

    sig = minhash_signatures(corpus, n_hashes=n_hashes)
    rows = (
        sig.select("doc_id", F.explode(F.array(*band_structs(n_hashes, bands))).alias("b"))
        .groupBy("b.band_idx", "b.band_hash")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .collect()
    )
    return sorted(
        (r.band_idx, r.band_hash, None if len(r.ids) > cap else tuple(r.ids),
         len(r.ids) > cap)
        for r in rows
    )


def _term_stats_oneshot(corpus):
    """The one-shot (w, cf, df) term aggregate over the whole corpus."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.text import tokens

    return sorted(map(tuple, (
        corpus.select("doc_id", F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cf"), F.count_distinct("doc_id").alias("df"))
    ).collect()))


def test_incremental_view_equals_batch_aggregate(spark, tmp_path):
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_daily_counts_delta,
        read_daily_counts_retractable_segments,
    )

    src_dir, state, ckpt = tmp_path / "src", str(tmp_path / "view"), str(tmp_path / "ckpt")
    _write(src_dir, "b1.json", _B1)
    time.sleep(1.1)
    _write(src_dir, "b2.json", _B2)

    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1).json(str(src_dir))
    )
    maintain_view(stream, lambda df, b: apply_daily_counts_delta(df, b, state), ckpt)

    got = {
        (str(r.day), r.event_type): (r.n, r.sum_value)
        for r in read_daily_counts_retractable_segments(spark, state).collect()
    }
    want = {
        (str(r.day), r.event_type): (r.n, r.sum_value)
        for r in (
            spark.read.json(str(src_dir), schema=_SCHEMA)
            .groupBy(F.to_date("ts").alias("day"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-9
    # the cross-batch combine actually happened
    assert got[("2024-03-01", "view")] == (2, 2.0)


def test_incremental_term_stats_equals_batch(spark, tmp_path):
    """The cf/df term-statistics view maintained over 3 micro-batches must
    equal the one-shot batch aggregation over all documents, including
    terms touched by several batches — and the BM25 idf derived from the
    view must match the batch-derived idf."""
    import math

    from skylogix_real_time_weather_data_pipeline_spark.ext.text import tokens
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_term_stats_delta,
        read_term_stats_segments,
    )

    schema = "doc_id long, text string"
    batches = [
        [{"doc_id": 1, "text": "spark join merge spark"}],
        [{"doc_id": 2, "text": "merge table scan"},
         {"doc_id": 3, "text": "spark spark window"}],
        [{"doc_id": 4, "text": "join join window filter"}],
    ]
    src_dir, state, ckpt = tmp_path / "docs", str(tmp_path / "ts_view"), str(tmp_path / "ck")
    for i, rows in enumerate(batches):
        _write(src_dir, f"b{i}.json", rows)
        time.sleep(0.3)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(str(src_dir))
    )
    maintain_view(stream, lambda df, b: apply_term_stats_delta(df, b, state), ckpt)

    got = {r.w: (r.cf, r.df) for r in read_term_stats_segments(spark, state).collect()}
    batch = (
        spark.read.json(str(src_dir), schema=schema)
        .select("doc_id", F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cf"), F.count_distinct("doc_id").alias("df"))
    )
    want = {r.w: (r.cf, r.df) for r in batch.collect()}
    assert got == want
    assert got["spark"] == (4, 2)   # cross-batch cf AND df combined
    assert got["join"] == (3, 2)
    # BM25 idf from the maintained view == batch idf (N = 4 docs)
    idf_view = math.log((4 - got["merge"][1] + 0.5) / (got["merge"][1] + 0.5) + 1)
    idf_batch = math.log((4 - want["merge"][1] + 0.5) / (want["merge"][1] + 0.5) + 1)
    assert idf_view == idf_batch


def test_bm25_from_maintained_stats_equals_recompute(spark, tmp_path):
    """Production split: BM25 scored against the incrementally maintained
    term-stats view + stored N/avgdl must equal bm25_topk recomputing
    everything from the corpus."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.text import (
        bm25_topk,
        bm25_topk_from_stats,
        tokens,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_term_stats_delta,
        read_term_stats_segments,
    )

    schema = "doc_id long, text string"
    batches = [
        [{"doc_id": 1, "text": "spark join merge spark spark"},
         {"doc_id": 2, "text": "merge table scan join"}],
        [{"doc_id": 3, "text": "spark window filter"},
         {"doc_id": 4, "text": "join join window the filter scan"}],
    ]
    src_dir, state, ckpt = tmp_path / "docs", str(tmp_path / "view"), str(tmp_path / "ck")
    for i, rows in enumerate(batches):
        _write(src_dir, f"b{i}.json", rows)
        time.sleep(0.3)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(str(src_dir))
    )
    maintain_view(stream, lambda df, b: apply_term_stats_delta(df, b, state), ckpt)

    docs = spark.read.json(str(src_dir), schema=schema)
    # stored corpus counters, derived the same way the scoring scan would
    n_docs = docs.count()
    total_dl = docs.select(F.sum(F.size(tokens("text"))).alias("s")).collect()[0].s
    avgdl = total_dl / n_docs  # long/long → the same IEEE double as in-plan

    stats = read_term_stats_segments(spark, state)
    terms = ["spark", "join"]
    got = [
        (r.doc_id, r.n_terms_matched, r.bm25)
        for r in bm25_topk_from_stats(docs, stats, n_docs, avgdl, terms, k=10).collect()
    ]
    want = [
        (r.doc_id, r.n_terms_matched, r.bm25)
        for r in bm25_topk(docs, terms, k=10).collect()
    ]
    assert got == want
    assert len(got) == 4  # every doc matches at least one query term


def test_incremental_ivf_cell_view_equals_batch(spark, tmp_path):
    """The IVF assignment table and cell-statistics view maintained over 2
    micro-batches (frozen codebook, online assignment) must equal the
    one-shot batch assignment + aggregation, including cells touched by
    both batches — and the running mean sums/n_vecs exposes centroid
    drift vs the codebook."""
    import json as _json

    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        _nearest_cell,
        maintain_ivf_cell_view,
    )

    schema = "vec_id long, embedding array<double>"
    b1 = [{"vec_id": 1, "embedding": [0.0, 1.0]},
          {"vec_id": 2, "embedding": [9.0, 10.0]}]
    b2 = [{"vec_id": 3, "embedding": [1.0, 1.0]},
          {"vec_id": 4, "embedding": [10.0, 9.0]},
          {"vec_id": 5, "embedding": [0.0, 0.0]}]
    cents = [[0.0, 0.0], [10.0, 10.0]]

    src_dir = tmp_path / "vecs"
    _write(src_dir, "b1.json", b1)
    time.sleep(1.1)
    _write(src_dir, "b2.json", b2)

    state = str(tmp_path / "cells")
    assigns = str(tmp_path / "assigns")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(str(src_dir))
    )
    maintain_ivf_cell_view(stream, cents, state, assigns, str(tmp_path / "ck"))

    got_assign = {
        r.vec_id: r.cell for r in spark.read.parquet(assigns).collect()
    }
    batch = spark.read.json(str(src_dir), schema=schema)
    want_assign = {
        r.vec_id: r.cell
        for r in batch.select(
            "vec_id", _nearest_cell("embedding", cents).alias("cell")
        ).collect()
    }
    assert got_assign == want_assign == {1: 0, 2: 1, 3: 0, 4: 1, 5: 0}

    got = {r.cell: (r.n_vecs, list(r.sums)) for r in spark.read.parquet(state).collect()}
    assert got[0][0] == 3 and got[1][0] == 2
    assert all(abs(a - b) < 1e-9 for a, b in zip(got[0][1], [1.0, 2.0]))
    assert all(abs(a - b) < 1e-9 for a, b in zip(got[1][1], [19.0, 19.0]))
    # drift: cell 0's running mean has moved off the frozen centroid
    mean0 = [s / got[0][0] for s in got[0][1]]
    assert any(abs(m - c) > 0.3 for m, c in zip(mean0, cents[0]))


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering an already-applied
    micro-batch (crash between view swap and checkpoint commit) must be
    a no-op — the batch-id marker commits atomically with the view — while
    a genuinely new batch id still applies. Probed on the CMS counter
    view because its counters ADD: a replay that is not skipped shows up
    as a double count (the idempotent KMV/HLL merges would hide it)."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import apply_cms_batch

    state = str(tmp_path / "view")
    b1 = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")

    def counters():
        return sorted(map(tuple, spark.read.parquet(state).collect()))

    apply_cms_batch(b1, 0, state, "k", depth=2, width=8)
    first = counters()
    assert sum(c for _, _, c in first) == 2 * 3   # depth × rows

    apply_cms_batch(b1, 0, state, "k", depth=2, width=8)   # REPLAY: same id → no-op
    assert counters() == first

    apply_cms_batch(b1, 1, state, "k", depth=2, width=8)   # new id → adds
    assert counters() == [(d, b, 2 * c) for d, b, c in first]


def test_interrupted_swap_recovers(spark, tmp_path):
    """Crash-safety of the commit swap: simulate every intermediate crash
    state _commit_view can leave behind and check the next apply sees
    either the prior committed view or the new one — never an empty or
    single-delta view (the failure mode of the old rmtree-then-move
    ordering). The CMS counters ADD, so a lost prior view or a replayed
    delta both change the counts; each state is checked against the
    one-shot counters over the rows applied so far."""
    import os
    import shutil

    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import cms_counters
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_cms_batch,
    )

    state = str(tmp_path / "view")
    r1, r2 = [("a",), ("a",), ("b",)], [("c",), ("a",)]

    def apply(rows, batch_id):
        apply_cms_batch(spark.createDataFrame(rows, "k string"), batch_id, state,
                        "k", depth=2, width=8)

    def snapshot():
        return sorted(map(tuple, spark.read.parquet(state).collect()))

    def oneshot(rows):
        return sorted(map(tuple, cms_counters(
            spark.createDataFrame(rows, "k string"), "k", depth=2, width=8
        ).collect()))

    apply(r1, 0)
    assert snapshot() == oneshot(r1)

    # crash point A: old view renamed aside, new view not yet moved in —
    # the window the rmtree ordering destroyed. Replaying the NEXT batch
    # must restore the prior view and combine into it.
    shutil.move(state, state + "__old")
    apply(r2, 1)
    assert snapshot() == oneshot(r1 + r2)

    # crash point B: new view moved in, aside copy not yet deleted →
    # the new view (with its marker) wins; replaying batch 1 is a no-op
    # and the stale aside is garbage-collected.
    shutil.copytree(state, state + "__old")
    apply(r2, 1)
    assert not os.path.exists(state + "__old")
    assert snapshot() == oneshot(r1 + r2)

    # crash point C: an orphaned staging dir from an interrupted write is
    # discarded, then rebuilt by the replay.
    os.makedirs(state + "__staging", exist_ok=True)
    apply(r2, 2)
    assert not os.path.exists(state + "__staging")
    assert snapshot() == oneshot(r1 + r2 + r2)


def test_incremental_gram_index_equals_batch_and_drives_rewrite(spark, tmp_path):
    """The ExactSubstr gram-index view (h, cnt, min_okey) maintained over
    3 micro-batches must equal the one-shot gram aggregate over the full
    corpus — including grams touched by several batches, where counts add
    and the keep-first order key MINs across batches — and the
    index-driven rewrite of the whole corpus must equal the batch
    rewrite row-for-row (the streaming form of ExactSubstr removal)."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        _gram_occurrences,
        substring_dedup_rewrite,
        substring_dedup_rewrite_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_gram_index_delta,
        read_gram_index_segments,
    )

    k = 3
    schema = "doc_id long, text string"
    boiler = "the quick brown fox jumps over the lazy dog"
    batches = [
        # batch 0 holds the KEPT copy of the boilerplate run
        [{"doc_id": 1, "text": boiler + " alpha beta"}],
        # batch 1 duplicates it (cross-batch argmin: min_okey from batch 0)
        [{"doc_id": 2, "text": "gamma " + boiler},
         {"doc_id": 3, "text": "unique one two three four"}],
        # batch 2: exact duplicate of doc 3 (whole-doc collapse) + short doc
        [{"doc_id": 4, "text": "unique one two three four"},
         {"doc_id": 5, "text": "a b"}],
    ]
    src_dir, state, ckpt = tmp_path / "docs", str(tmp_path / "gi_view"), str(tmp_path / "ck")
    for i, rows in enumerate(batches):
        _write(src_dir, f"b{i}.json", rows)
        time.sleep(0.3)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(str(src_dir))
    )
    maintain_view(stream, lambda df, b: apply_gram_index_delta(df, b, state, k=k), ckpt)

    corpus = spark.read.json(str(src_dir), schema=schema)
    view = read_gram_index_segments(spark, state)
    got = {r.h: (r.cnt, r.min_okey) for r in view.collect()}
    _, _, occ = _gram_occurrences(corpus, "text", "doc_id", k)
    want = {
        r.h: (r.cnt, r.min_okey)
        for r in occ.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("okey").alias("min_okey"))
        .collect()
    }
    assert got == want
    # cross-batch evidence exists: some gram occurs in both docs 1 and 2,
    # and its argmin must point into doc 1 (okey < 2 * 2^20)
    cross = [mo for cnt, mo in got.values() if cnt >= 2]
    assert cross and min(cross) < (2 << 20)

    got_rw = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in substring_dedup_rewrite_from_index(
            corpus, view, k=k
        ).collect()
    }
    want_rw = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in substring_dedup_rewrite(corpus, k=k).collect()
    }
    assert got_rw == want_rw
    # sanity on the semantics: doc 2's boilerplate copy was removed, doc 1
    # (the keep-first survivor) is untouched, doc 4 collapses to empty
    assert got_rw[1][1] == 0
    assert got_rw[2][1] == len(boiler.split())
    assert got_rw[4] == (5, 5, "")
    assert got_rw[5][1] == 0

    # the stats read path against the same maintained view == one-shot
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_dup_spans,
        substring_dup_spans_from_index,
    )

    got_sp = sorted(
        tuple(r) for r in substring_dup_spans_from_index(corpus, view, k=k).collect()
    )
    want_sp = sorted(tuple(r) for r in substring_dup_spans(corpus, k=k).collect())
    assert got_sp == want_sp

    # the PAIR read path against the same maintained view == one-shot
    # (r10 — completes the triad): the view's capped posting lists are
    # the detector's buckets, no corpus scan at all
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_shared_gram_pairs,
        substring_shared_gram_pairs_from_index,
    )

    got_pr = sorted(
        tuple(r)
        for r in substring_shared_gram_pairs_from_index(view, min_shared=2).collect()
    )
    want_pr = sorted(
        tuple(r)
        for r in substring_shared_gram_pairs(corpus, k=k, min_shared=2).collect()
    )
    assert got_pr == want_pr and (1, 2) in {(a, b) for a, b, _ in got_pr}


def test_gram_index_postings_cap_overflows_across_batches(spark, tmp_path):
    """The read-time posting cap: a gram whose distinct-doc set only
    exceeds max_gram_df through the CROSS-BATCH union must read as
    (ids=NULL, over=true) and contribute no pairs — exactly the batch
    detector's df cap on the same corpus."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_shared_gram_pairs,
        substring_shared_gram_pairs_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_gram_index_delta,
        read_gram_index_segments,
    )

    k, cap = 3, 3
    boiler = "spam spam spam wonderful spam"          # boilerplate: in 5 docs > cap
    pair_a = "alpha beta gamma delta epsilon zeta"    # genuinely shared run
    rows0 = [(i, boiler) for i in range(1, 4)] + [(10, pair_a + " one")]
    rows1 = [(i, boiler) for i in range(4, 6)] + [(11, pair_a + " two")]
    b0 = spark.createDataFrame(rows0, "doc_id long, text string")
    b1 = spark.createDataFrame(rows1, "doc_id long, text string")
    state = str(tmp_path / "gi")
    # each batch alone stays under the cap (3 docs, then 2) — only the
    # cross-batch union (5) overflows
    apply_gram_index_delta(b0, 0, state, k=k)
    apply_gram_index_delta(b1, 1, state, k=k)
    view = read_gram_index_segments(spark, state, max_gram_df=cap)
    over_rows = view.filter("over").collect()
    assert over_rows and all(r.ids is None for r in over_rows)
    assert all(r.cnt >= 5 for r in over_rows)  # counts still maintained

    got = sorted(
        tuple(r)
        for r in substring_shared_gram_pairs_from_index(view, min_shared=2).collect()
    )
    corpus = b0.unionByName(b1)
    want = sorted(
        tuple(r)
        for r in substring_shared_gram_pairs(
            corpus, k=k, min_shared=2, max_gram_df=cap
        ).collect()
    )
    assert got == want
    # the boilerplate cluster pairs are gone; the genuine pair survives
    assert {(a, b) for a, b, _ in got} == {(10, 11)}


def test_gram_index_replay_is_idempotent(spark, tmp_path):
    """Re-applying an already-committed batch id must be a no-op (the
    at-least-once replay guard) — counts must not double."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_gram_index_delta,
        read_gram_index_segments,
    )

    docs = spark.createDataFrame(
        [(1, "x y z x y z"), (2, "x y z")], "doc_id long, text string"
    )
    state = str(tmp_path / "gi")
    apply_gram_index_delta(docs, 0, state, k=3)
    apply_gram_index_delta(docs, 0, state, k=3)  # replay
    assert _snap_grams(read_gram_index_segments(spark, state)) == _grams_oneshot(docs, 3)


def test_session_state_dir_sweeps_stale_sibling_apps(spark):
    """_session_state_dir must remove same-(prefix, sf_dir) state left by
    EARLIER Spark apps (r10 ADVICE: app-id-named roots otherwise leak into
    the system temp dir forever), while leaving other prefixes, other
    sf_dir tags, and — the r10 ADVICE medium — FRESH siblings (a LIVE
    concurrent app maintaining the same view) alone. Staleness is decided
    by recursive-max mtime, so a cold dir with one freshly-touched file
    deep inside still counts as live."""
    import hashlib
    import os
    import tempfile
    import time

    from skylogix_real_time_weather_data_pipeline_spark.plans.ext import (
        _STALE_SIBLING_SECONDS,
        _session_state_dir,
    )

    sf_dir = "/some/sf/dir"
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tmp = tempfile.gettempdir()
    stale = os.path.join(tmp, f"swtest__app-dead-123__{tag}")
    live = os.path.join(tmp, f"swtest__app-live-456__{tag}")
    deep_live = os.path.join(tmp, f"swtest__app-live-789__{tag}")
    other_tag = os.path.join(tmp, "swtest__app-dead-123__deadbeef")
    other_prefix = os.path.join(tmp, f"swother__app-dead-123__{tag}")
    # a SIBLING PREFIX that extends ours must never be swept (the r10
    # self-review bug: a plain '_' glob matched swtest_sp_* dirs too)
    ext_prefix = os.path.join(tmp, f"swtest_sp__app-dead-123__{tag}")
    for d in (stale, live, deep_live, other_tag, other_prefix, ext_prefix):
        os.makedirs(os.path.join(d, "segments"), exist_ok=True)
        with open(os.path.join(d, "segments", "view.parquet"), "w") as f:
            f.write("x")
    old = time.time() - _STALE_SIBLING_SECONDS - 60
    for d in (stale, deep_live):  # age every path under both
        for dirpath, dirnames, filenames in os.walk(d, topdown=False):
            for name in dirnames + filenames:
                os.utime(os.path.join(dirpath, name), (old, old))
        os.utime(d, (old, old))
    # deep_live: cold EXCEPT one freshly-written file deep inside — a live
    # maintainer between segment writes must not be swept
    with open(os.path.join(deep_live, "segments", "fresh"), "w") as f:
        f.write("y")
    try:
        root = _session_state_dir(spark, sf_dir, "swtest")
        assert not os.path.exists(stale)          # cold dead sibling swept
        assert os.path.exists(live)               # fresh sibling kept (live app)
        assert os.path.exists(deep_live)          # deep-fresh sibling kept
        assert os.path.exists(other_tag)          # different sf_dir kept
        assert os.path.exists(other_prefix)       # different prefix kept
        assert os.path.exists(ext_prefix)         # extending prefix kept
        assert tag in root and "swtest_" in root
    finally:
        import shutil

        for d in (live, deep_live, other_tag, other_prefix, ext_prefix):
            shutil.rmtree(d, ignore_errors=True)


def test_incremental_minhash_buckets_equal_batch_and_drive_pairs(spark, tmp_path):
    """The banded-MinHash bucket view maintained over 3 micro-batches must
    equal the one-shot banding's bucket membership (signatures are pure
    per-doc functions), and the index-driven candidate pairs must equal
    minhash_lsh_pairs over the full corpus — including a pair whose two
    docs arrived in DIFFERENT batches. The batch_ids restriction returns
    exactly the pairs touching those ids."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        minhash_lsh_pairs,
        minhash_pairs_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_minhash_buckets_delta,
        read_minhash_buckets_segments,
    )

    schema = "doc_id long, text string"
    near = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    batches = [
        [{"doc_id": 1, "text": near}],
        [{"doc_id": 2, "text": near + " extra"},          # cross-batch near-dup of 1
         {"doc_id": 3, "text": "completely different words here nothing shared at all"}],
        [{"doc_id": 4, "text": near}],                     # exact dup of 1, third batch
    ]
    src_dir = tmp_path / "docs"
    state, ckpt = str(tmp_path / "mh_view"), str(tmp_path / "ck")
    for i, rows in enumerate(batches):
        _write(src_dir, f"b{i}.json", rows)
        time.sleep(0.3)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(str(src_dir))
    )
    maintain_view(
        stream,
        lambda df, b: apply_minhash_buckets_delta(df, b, state, n_hashes=16, bands=4),
        ckpt,
    )

    corpus = spark.read.json(str(src_dir), schema=schema)
    view = read_minhash_buckets_segments(spark, state)

    # maintained buckets == one-shot banding membership
    got_buckets = _snap_buckets(view)
    assert got_buckets == _buckets_oneshot(corpus)
    assert not any(over for *_, over in got_buckets)

    got = sorted(tuple(r) for r in minhash_pairs_from_index(view).collect())
    want = sorted(tuple(r) for r in minhash_lsh_pairs(corpus, n_hashes=16, bands=4).collect())
    assert got == want
    pair_ids = {(a, b) for a, b, _ in got}
    assert (1, 4) in pair_ids  # cross-batch exact dup collides in every band

    # the per-ingest-batch restriction: only pairs touching batch-2 ids
    b2 = spark.createDataFrame([(2,), (3,)], "doc_id long")
    got_b2 = sorted(
        tuple(r) for r in minhash_pairs_from_index(view, batch_ids=b2).collect()
    )
    want_b2 = sorted(t for t in want if t[0] in (2, 3) or t[1] in (2, 3))
    assert got_b2 == want_b2


def test_minhash_buckets_cap_overflows_across_batches(spark, tmp_path):
    """A bucket whose membership only exceeds max_bucket_size through the
    cross-batch union must read as (ids=NULL, over=true) and emit no
    pairs — the batch detector's degenerate-mass-duplicate cutoff, and
    replaying an applied batch must not change the view."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        minhash_lsh_pairs,
        minhash_pairs_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_minhash_buckets_delta,
        read_minhash_buckets_segments,
    )

    boiler = "spam spam spam wonderful spam and eggs every single day"
    uniq = ("alpha beta gamma delta epsilon zeta eta theta iota kappa",
            "alpha beta gamma delta epsilon zeta eta theta iota kappax")
    cap = 3
    b0 = spark.createDataFrame(
        [(i, boiler) for i in range(1, 4)] + [(10, uniq[0])],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(i, boiler) for i in range(4, 6)] + [(11, uniq[1])],
        "doc_id long, text string",
    )
    state = str(tmp_path / "mh")
    apply_minhash_buckets_delta(b0, 0, state)
    apply_minhash_buckets_delta(b1, 1, state)
    view = read_minhash_buckets_segments(spark, state, max_bucket_size=cap)
    over_rows = view.filter("over").collect()
    assert over_rows and all(r.ids is None for r in over_rows)

    corpus = b0.unionByName(b1)
    got = sorted(
        tuple(r)
        for r in minhash_pairs_from_index(view, max_bucket_size=cap).collect()
    )
    want = sorted(
        tuple(r) for r in minhash_lsh_pairs(corpus, max_bucket_size=cap).collect()
    )
    assert got == want
    assert {(a, b) for a, b, _ in got} == {(10, 11)}  # boilerplate cluster gone

    # replay idempotence: the view still equals the one-shot buckets
    apply_minhash_buckets_delta(b1, 1, state)
    assert _snap_buckets(
        read_minhash_buckets_segments(spark, state, max_bucket_size=cap)
    ) == _buckets_oneshot(corpus, cap)


def test_incremental_exact_dedup_equals_batch(spark, tmp_path):
    """The exact-dedup view maintained over 3 micro-batches must equal the
    one-shot hash-groupBy over the full corpus — the survivor id MINs and
    the copy count ADDs across batches — and replay must be a no-op."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
    )

    schema = "doc_id long, text string"
    batches = [
        [{"doc_id": 5, "text": "the same exact text"}],
        [{"doc_id": 2, "text": "something else entirely"},
         {"doc_id": 3, "text": "the same exact text"}],      # dup of 5, lower id
        [{"doc_id": 9, "text": "the same exact text"},        # third copy
         {"doc_id": 7, "text": "unique snowflake"}],
    ]
    src_dir = tmp_path / "docs"
    state, ckpt = str(tmp_path / "ed_view"), str(tmp_path / "ck")
    for i, rows in enumerate(batches):
        _write(src_dir, f"b{i}.json", rows)
        time.sleep(0.3)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(str(src_dir))
    )
    maintain_view(stream, lambda df, b: apply_exact_dedup_delta(df, b, state), ckpt)

    corpus = spark.read.json(str(src_dir), schema=schema)
    got = {r.fingerprint: (r.doc_id, r.n_copies)
           for r in read_exact_dedup_segments(spark, state).collect()}
    want = {r.fingerprint: (r.doc_id, r.n_copies)
            for r in exact_dedup(corpus).collect()}
    assert got == want
    # cross-batch monoid: survivor is the LOWER id from a LATER batch,
    # copies counted across all three batches
    assert (3, 3) in got.values()

    apply_exact_dedup_delta(
        spark.createDataFrame([(3, "the same exact text")], schema), 1, state
    )  # replay of batch id 1
    after = {r.fingerprint: (r.doc_id, r.n_copies)
             for r in read_exact_dedup_segments(spark, state).collect()}
    assert after == want


def test_new_views_tolerate_empty_micro_batches(spark, tmp_path):
    """availableNow streams routinely deliver empty micro-batches: an
    empty apply must commit its batch id (so replay accounting stays
    monotone) without disturbing the stored view — for all three r10
    maintainers."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        _segment_scan,
        apply_exact_dedup_delta,
        apply_gram_index_delta,
        apply_minhash_buckets_delta,
        read_exact_dedup_segments,
        read_gram_index_segments,
        read_minhash_buckets_segments,
    )

    schema = "doc_id long, text string"
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, "a b c d e f g h i")], schema)
    empty = spark.createDataFrame([], schema)

    for name, apply_fn, read, want in (
        ("mh", apply_minhash_buckets_delta,
         lambda st: _snap_buckets(read_minhash_buckets_segments(spark, st)),
         _buckets_oneshot(docs)),
        ("gi", apply_gram_index_delta,
         lambda st: _snap_grams(read_gram_index_segments(spark, st)),
         _grams_oneshot(docs, 8)),
        ("ed", apply_exact_dedup_delta,
         lambda st: sorted(map(tuple, read_exact_dedup_segments(spark, st).collect())),
         sorted(map(tuple, exact_dedup(docs).collect()))),
    ):
        state = str(tmp_path / name)
        apply_fn(docs, 0, state)
        apply_fn(empty, 1, state)            # empty batch commits harmlessly
        assert _segment_scan(state)[1] == {0, 1}, name
        assert read(state) == want, name
        apply_fn(empty, 1, state)            # and replays as a no-op
        assert read(state) == want, name


def test_segmented_gram_index_equals_compacting_view(spark, tmp_path):
    """LSM-segmented state: O(batch) segment applies + read-side monoid
    merge must equal the one-shot aggregate before and after compaction
    — including a posting cap that only overflows through the
    cross-segment union — and the index read paths must work unchanged
    against the merged view."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_dedup_rewrite,
        substring_dedup_rewrite_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_gram_index_delta,
        compact_gram_index_segments,
        read_gram_index_segments,
    )

    k, cap = 3, 3
    boiler = "spam spam spam wonderful spam"
    batches = [
        [(1, boiler + " alpha beta gamma"), (2, "unique one two three")],
        [(3, boiler), (4, boiler)],
        [(5, boiler), (6, "unique one two three"), (7, boiler + " alpha beta gamma")],
    ]
    seg_dir = str(tmp_path / "seg")
    for b, rows in enumerate(batches):
        bdf = spark.createDataFrame(rows, "doc_id long, text string")
        apply_gram_index_delta(bdf, b, seg_dir, k=k)
    corpus = spark.createDataFrame(
        [r for rows in batches for r in rows], "doc_id long, text string"
    )
    snap = _snap_grams

    merged = read_gram_index_segments(spark, seg_dir, max_gram_df=cap)
    want = _grams_oneshot(corpus, k, cap)
    assert snap(merged) == want
    assert any(r[4] for r in want)       # the cap genuinely overflowed

    # read path against the segment-merged view == batch rewrite
    got_rw = sorted(
        tuple(r)
        for r in substring_dedup_rewrite_from_index(corpus, merged, k=k).collect()
    )
    want_rw = sorted(tuple(r) for r in substring_dedup_rewrite(corpus, k=k).collect())
    assert got_rw == want_rw

    # replay of an applied batch no-ops (segment exists)
    bdf0 = spark.createDataFrame(batches[0], "doc_id long, text string")
    apply_gram_index_delta(bdf0, 0, seg_dir, k=k)
    assert snap(read_gram_index_segments(spark, seg_dir, max_gram_df=cap)) == want

    # compaction folds to one segment; view unchanged; replay of a
    # COVERED batch still no-ops (manifest carries the ids)
    n = compact_gram_index_segments(spark, seg_dir)
    assert n == 3
    assert snap(read_gram_index_segments(spark, seg_dir, max_gram_df=cap)) == want
    apply_gram_index_delta(bdf0, 0, seg_dir, k=k)
    assert snap(read_gram_index_segments(spark, seg_dir, max_gram_df=cap)) == want

    # post-compaction ingest keeps working
    bdf3 = spark.createDataFrame([(9, boiler)], "doc_id long, text string")
    apply_gram_index_delta(bdf3, 3, seg_dir, k=k)
    assert snap(read_gram_index_segments(spark, seg_dir, max_gram_df=cap)) == (
        _grams_oneshot(corpus.unionByName(bdf3), k, cap))


def test_segmented_gram_index_crash_windows_never_double_count(spark, tmp_path):
    """Every compaction crash window must read correctly: a committed
    compact segment coexisting with the raw segments it covers (crash
    before GC) and with an OLDER compact (crash between two compactions)
    must yield the same view — the reader picks the largest coverage and
    skips covered raws; interrupted .tmp writes are cleared."""
    import os
    import shutil as _sh

    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        _segments_root,
        apply_gram_index_delta,
        compact_gram_index_segments,
        read_gram_index_segments,
    )

    seg_dir = str(tmp_path / "seg")
    b0 = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d e")],
                               "doc_id long, text string")
    b1 = spark.createDataFrame([(3, "a b c x y")], "doc_id long, text string")
    apply_gram_index_delta(b0, 0, seg_dir, k=3)
    apply_gram_index_delta(b1, 1, seg_dir, k=3)

    def snap():
        return sorted(
            map(tuple, read_gram_index_segments(spark, seg_dir).collect())
        )

    want = snap()
    root = _segments_root(seg_dir)
    # preserve the raw segments, then compact WITHOUT letting GC win:
    # copy raws aside, compact, restore them — simulating a crash
    # between the compact commit and the garbage collection
    keep = {n: os.path.join(str(tmp_path), "keep_" + n)
            for n in os.listdir(root) if n.startswith("b")}
    for n, dst in keep.items():
        _sh.copytree(os.path.join(root, n), dst)
    compact_gram_index_segments(spark, seg_dir)
    for n, dst in keep.items():
        if not os.path.exists(os.path.join(root, n)):
            _sh.copytree(dst, os.path.join(root, n))
    assert snap() == want            # covered raws skipped, not re-added

    # an interrupted segment write must be invisible to readers — but NOT
    # cleared by them (r11: the dir could be a live writer's in-flight
    # tmp); the next WRITE sweeps it
    os.makedirs(os.path.join(root, ".tmp_b0000000007"), exist_ok=True)
    assert snap() == want
    assert os.path.exists(os.path.join(root, ".tmp_b0000000007"))

    # a second, larger compaction coexisting with the first (crash
    # between compactions): reader picks the larger coverage
    b2 = spark.createDataFrame([(4, "p q r s t")], "doc_id long, text string")
    apply_gram_index_delta(b2, 2, seg_dir, k=3)
    # r14: a raw write sweeps only ITS OWN tmp (one writer per
    # (state_dir, batch_id) — a foreign .tmp may belong to a live
    # concurrent writer); the leftover is reclaimed by the full sweep at
    # the next compaction, asserted below
    assert os.path.exists(os.path.join(root, ".tmp_b0000000007"))
    want2 = snap()
    keep2 = [n for n in os.listdir(root) if n.startswith("compact_")]
    for n in keep2:
        _sh.copytree(os.path.join(root, n),
                     os.path.join(str(tmp_path), "keepc_" + n))
    compact_gram_index_segments(spark, seg_dir)
    assert not os.path.exists(os.path.join(root, ".tmp_b0000000007")), (
        "compaction (exclusive) must reclaim foreign crash leftovers")
    for n in keep2:  # restore the OLD compact alongside the new one
        if not os.path.exists(os.path.join(root, n)):
            _sh.copytree(os.path.join(str(tmp_path), "keepc_" + n),
                         os.path.join(root, n))
    assert snap() == want2


def test_segmented_minhash_and_exact_views_equal_compacting(spark, tmp_path):
    """The shared segment protocol applied to the other two dedup views:
    segmented state == one-shot, before and after compaction, for the
    LSH-bucket view and the exact-dedup view."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        minhash_pairs_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        apply_minhash_buckets_delta,
        compact_exact_dedup_segments,
        compact_minhash_buckets_segments,
        read_exact_dedup_segments,
        read_minhash_buckets_segments,
    )

    near = "the quick brown fox jumps over the lazy dog tonight again"
    batches = [
        [(1, near), (2, "something else entirely here")],
        [(3, near + " extra"), (4, "something else entirely here")],
        [(5, near)],
    ]
    schema = "doc_id long, text string"
    mh_s, ed_s = str(tmp_path / "mhs"), str(tmp_path / "eds")
    for b, rows in enumerate(batches):
        bdf = spark.createDataFrame(rows, schema)
        apply_minhash_buckets_delta(bdf, b, mh_s)
        apply_exact_dedup_delta(bdf, b, ed_s)
    corpus = spark.createDataFrame([r for rows in batches for r in rows], schema)
    want_mh = _buckets_oneshot(corpus)

    assert _snap_buckets(read_minhash_buckets_segments(spark, mh_s)) == want_mh
    got_pairs = sorted(
        tuple(r)
        for r in minhash_pairs_from_index(
            read_minhash_buckets_segments(spark, mh_s)
        ).collect()
    )
    want_pairs = sorted(tuple(r) for r in minhash_lsh_pairs(corpus).collect())
    assert got_pairs == want_pairs and got_pairs

    got_ed = sorted(map(tuple, read_exact_dedup_segments(spark, ed_s).collect()))
    want_ed = sorted(map(tuple, exact_dedup(corpus).collect()))
    assert got_ed == want_ed

    # compaction preserves both, and replays of covered batches no-op
    assert compact_minhash_buckets_segments(spark, mh_s) == 3
    assert compact_exact_dedup_segments(spark, ed_s) == 3
    assert _snap_buckets(read_minhash_buckets_segments(spark, mh_s)) == want_mh
    assert sorted(map(tuple, read_exact_dedup_segments(spark, ed_s).collect())) == want_ed
    bdf0 = spark.createDataFrame(batches[0], schema)
    apply_minhash_buckets_delta(bdf0, 0, mh_s)
    apply_exact_dedup_delta(bdf0, 0, ed_s)
    assert sorted(map(tuple, read_exact_dedup_segments(spark, ed_s).collect())) == want_ed


def test_segmented_term_stats_equals_compacting_and_scores_bm25(spark, tmp_path):
    """Segmented term-stats state == the one-shot aggregate, and BM25
    scored against the segment-merged stats equals the full recompute —
    before and after compaction."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.text import (
        bm25_topk,
        bm25_topk_from_stats,
        tokens,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_term_stats_delta,
        compact_term_stats_segments,
        read_term_stats_segments,
    )

    schema = "doc_id long, text string"
    batches = [
        [(1, "spark join merge spark spark"), (2, "merge table scan join")],
        [(3, "spark window filter"), (4, "join join window the filter scan")],
    ]
    seg = str(tmp_path / "seg")
    for b, rows in enumerate(batches):
        apply_term_stats_delta(spark.createDataFrame(rows, schema), b, seg)
    docs = spark.createDataFrame([r for rows in batches for r in rows], schema)

    got = sorted(map(tuple, read_term_stats_segments(spark, seg).collect()))
    want = _term_stats_oneshot(docs)
    assert got == want

    n_docs = docs.count()
    avgdl = docs.select(F.sum(F.size(tokens("text"))).alias("s")).collect()[0].s / n_docs
    terms = ["spark", "join"]
    want_bm = [tuple(r) for r in bm25_topk(docs, terms, k=10).collect()]
    got_bm = [
        tuple(r)
        for r in bm25_topk_from_stats(
            docs, read_term_stats_segments(spark, seg), n_docs, avgdl, terms, k=10
        ).collect()
    ]
    assert got_bm == want_bm

    assert compact_term_stats_segments(spark, seg) == 2
    assert sorted(map(tuple, read_term_stats_segments(spark, seg).collect())) == want


def test_segment_readers_never_delete_inflight_tmp_dirs(spark, tmp_path):
    """r10 ADVICE (medium): _segment_scan is called by READERS, so it must
    be strictly read-only — a reader racing a writer mid-_write_segment
    must not rmtree the writer's in-flight .tmp_* dir. Cleanup belongs to
    the single-writer apply path, where every .tmp_* is a crash leftover."""
    import os

    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
    )

    state = str(tmp_path / "ed")
    docs = spark.createDataFrame([(1, "aa"), (2, "aa")], "doc_id long, text string")
    apply_exact_dedup_delta(docs, 0, state)

    # simulate a concurrent writer mid-write: an in-flight tmp dir
    inflight = os.path.join(state, "segments", ".tmp_b0000000001")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-0.parquet"), "w") as f:
        f.write("half-written")

    view = read_exact_dedup_segments(spark, state).collect()
    assert [(r.doc_id, r.n_copies) for r in view] == [(1, 2)]  # tmp dir skipped, not read
    assert os.path.isdir(inflight), "reader deleted an in-flight tmp dir"
    assert os.path.isfile(os.path.join(inflight, "part-0.parquet"))

    # the WRITER's next apply sweeps it (single-writer: it's a leftover)
    docs2 = spark.createDataFrame([(3, "bb")], "doc_id long, text string")
    apply_exact_dedup_delta(docs2, 1, state)
    assert not os.path.exists(inflight)
    merged = {r.fingerprint: r.n_copies
              for r in read_exact_dedup_segments(spark, state).collect()}
    assert sum(merged.values()) == 3


def test_maintained_index_rejects_non_integral_ids(spark, tmp_path):
    """r10 ADVICE (low): posting lists store ids as long; a string id
    column would cast to NULL and be silently dropped by collect_set,
    making the *_from_index read paths return empty. The apply entry
    points must fail loudly instead (batch detectors still accept any
    id type)."""
    import pytest

    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_gram_index_delta,
        apply_minhash_buckets_delta,
    )

    docs = spark.createDataFrame(
        [("d1", "a b c d e f g h i"), ("d2", "a b c d e f g h i")],
        "doc_id string, text string",
    )
    for fn in (apply_gram_index_delta, apply_minhash_buckets_delta):
        with pytest.raises(TypeError, match="integral"):
            fn(docs, 0, str(tmp_path / fn.__name__))

    # integral non-long ids are fine (widening cast is lossless)
    ints = spark.createDataFrame(
        [(1, "a b c d e f g h i")], "doc_id int, text string"
    )
    apply_gram_index_delta(ints, 0, str(tmp_path / "ok_gi"))
    apply_minhash_buckets_delta(ints, 0, str(tmp_path / "ok_mh"))


def test_pre_r10_gram_index_state_backfills_on_read(spark, tmp_path):
    """r10 ADVICE (low): a pre-r10 (h, cnt, min_okey) gram-index view must
    keep working on READ — the rewrite path keeps exact answers (it reads
    cnt/min_okey only), and the pairs path conservatively claims NO pairs
    for legacy grams (backfilled ids=NULL, over=true) instead of raising
    AnalysisException."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_dedup_rewrite,
        substring_dedup_rewrite_from_index,
        substring_shared_gram_pairs_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        _backfill_gram_index_schema,
        apply_gram_index_delta,
        read_gram_index_segments,
    )

    k = 3
    docs = spark.createDataFrame(
        [(1, "one two three four five"), (2, "one two three four five")],
        "doc_id long, text string",
    )
    # build a CURRENT view, then strip it down to the legacy schema
    state = str(tmp_path / "full")
    apply_gram_index_delta(docs, 0, state, k=k)
    full = read_gram_index_segments(spark, state)
    assert substring_shared_gram_pairs_from_index(full).count() > 0
    legacy_state = str(tmp_path / "legacy")
    full.select("h", "cnt", "min_okey").write.parquet(legacy_state)
    legacy = spark.read.parquet(legacy_state)

    # pairs path: empty, not AnalysisException
    assert substring_shared_gram_pairs_from_index(legacy).count() == 0
    migrated = _backfill_gram_index_schema(legacy)
    assert {"h", "cnt", "min_okey", "ids", "over"} <= set(migrated.columns)
    assert {bool(r.over) for r in migrated.collect()} == {True}

    # rewrite path still exact on the legacy view
    got = sorted(
        tuple(r)
        for r in substring_dedup_rewrite_from_index(docs, legacy, k=k).collect()
    )
    want = sorted(tuple(r) for r in substring_dedup_rewrite(docs, k=k).collect())
    assert got == want


def test_auto_compaction_triggers_and_preserves_view(spark, tmp_path):
    """r11: the count-threshold auto-compaction wired into the segmented
    appliers must (a) actually fold segments when the readable count hits
    the trigger, (b) yield a view identical to the never-compacting
    protocol and the one-shot aggregate WHATEVER the trigger point, and
    (c) keep replays of compaction-covered batches as no-ops."""
    import os

    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        _segment_scan,
        apply_term_stats_delta,
        read_term_stats_segments,
    )

    batches = [
        [(10 * b + i, f"tok{i} tok{(i + b) % 5} shared")
         for i in range(3)]
        for b in range(6)
    ]
    auto2 = str(tmp_path / "auto2")    # trigger every 2nd apply
    auto4 = str(tmp_path / "auto4")
    manual = str(tmp_path / "manual")  # never compacts
    for b, rows in enumerate(batches):
        bdf = spark.createDataFrame(rows, "doc_id long, text string")
        apply_term_stats_delta(bdf, b, auto2, auto_compact=2)
        apply_term_stats_delta(bdf, b, auto4, auto_compact=4)
        apply_term_stats_delta(bdf, b, manual, auto_compact=None)

    def snap(state):
        return sorted(map(tuple, read_term_stats_segments(spark, state).collect()))

    want = _term_stats_oneshot(spark.createDataFrame(
        [r for rows in batches for r in rows], "doc_id long, text string"))
    assert snap(auto2) == want
    assert snap(auto4) == want
    assert snap(manual) == want

    # (a) compaction genuinely ran: readable count stayed at/below trigger,
    # a compact segment exists, manual kept all 6 raws
    paths2, covered2 = _segment_scan(auto2)
    assert len(paths2) <= 2 and covered2 == set(range(6))
    assert any("compact_" in p for p in paths2)
    paths_m, _ = _segment_scan(manual)
    assert len(paths_m) == 6

    # (c) replaying a batch swallowed by a compaction is still a no-op
    bdf0 = spark.createDataFrame(batches[0], "doc_id long, text string")
    apply_term_stats_delta(bdf0, 0, auto2, auto_compact=2)
    assert snap(auto2) == want
    seg_names = os.listdir(os.path.join(auto2, "segments"))
    assert "b0000000000" not in seg_names  # not re-written as a raw


def test_retractable_exact_dedup_equals_rebuild(spark, tmp_path):
    """r11: delete-then-query == rebuild-then-query for the retractable
    exact-dedup view — including retracting a stored MIN survivor (the
    case the add-only aggregate view cannot express), delete-then-re-add,
    and every interleaving with compaction (manual and auto)."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        compact_exact_dedup_segments,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
    )

    schema = "doc_id long, text string"
    b0 = [(1, "aa"), (2, "aa"), (3, "bb")]          # 1 is the aa-survivor
    b1 = [(4, "aa"), (5, "cc"), (6, "bb")]

    def snap(state):
        return sorted(
            map(tuple, read_exact_dedup_segments(spark, state).collect())
        )

    def want(rows):
        df = spark.createDataFrame(rows, schema)
        return sorted(map(tuple, exact_dedup(df).collect()))

    for trigger in (None, 2):  # manual protocol AND auto-compaction mid-run
        state = str(tmp_path / f"rz_{trigger}")
        apply_exact_dedup_delta(
            spark.createDataFrame(b0, schema), 0, state, auto_compact=trigger)
        apply_exact_dedup_delta(
            spark.createDataFrame(b1, schema), 1, state, auto_compact=trigger)
        assert snap(state) == want(b0 + b1)

        # retract the aa-SURVIVOR (1) and one bb copy (6): the view must
        # re-elect 2 as the aa survivor and decrement bb — information the
        # add-only (min, count) aggregate has destroyed
        retract_exact_dedup_delta(
            spark.createDataFrame([b0[0], b1[2]], schema), 2, state,
            auto_compact=trigger)
        survivors = [b0[1], b0[2], b1[0], b1[1]]
        assert snap(state) == want(survivors)

        # delete-then-re-add: doc 1 returns, weights annihilate to +1
        apply_exact_dedup_delta(
            spark.createDataFrame([b0[0]], schema), 3, state, auto_compact=trigger)
        assert snap(state) == want(survivors + [b0[0]])

        # explicit compaction at an arbitrary point changes nothing
        covered = compact_exact_dedup_segments(spark, state)
        assert covered == 4
        assert snap(state) == want(survivors + [b0[0]])

        # retraction AFTER compaction still works (weights are a group)
        retract_exact_dedup_delta(
            spark.createDataFrame([b0[2]], schema), 4, state, auto_compact=trigger)
        assert snap(state) == want([b0[0], b0[1], b1[0], b1[1]])

    # a fingerprint whose every copy is retracted disappears entirely
    state = str(tmp_path / "rz_gone")
    apply_exact_dedup_delta(
        spark.createDataFrame(b0, schema), 0, state)
    retract_exact_dedup_delta(
        spark.createDataFrame([b0[0], b0[1]], schema), 1, state)
    assert snap(state) == want([b0[2]])

    # replaying a retraction batch is a no-op (same guard as applies)
    retract_exact_dedup_delta(
        spark.createDataFrame([b0[0], b0[1]], schema), 1, state)
    assert snap(state) == want([b0[2]])


def test_retractable_gram_index_equals_rebuild(spark, tmp_path):
    """r11: the retractable gram-index view must read equal to the
    one-shot gram aggregate over the surviving corpus — including cnt /
    keep-first min_okey re-election when the retracted doc held the
    global argmin — and the whole *_from_index read-path family must give
    the batch answers for the survivors, across compaction."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_dedup_rewrite,
        substring_dedup_rewrite_from_index,
        substring_shared_gram_pairs,
        substring_shared_gram_pairs_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_gram_index_delta,
        compact_gram_index_segments,
        read_gram_index_segments,
        retract_gram_index_delta,
    )

    schema = "doc_id long, text string"
    k, cap = 3, 3
    boiler = "spam spam spam wonderful spam"
    b0 = [(1, boiler + " alpha beta"), (2, "unique one two three")]
    b1 = [(3, boiler), (4, boiler), (5, boiler + " alpha beta")]

    state = str(tmp_path / "rzgi")
    apply_gram_index_delta(
        spark.createDataFrame(b0, schema), 0, state, k=k)
    apply_gram_index_delta(
        spark.createDataFrame(b1, schema), 1, state, k=k)

    snap = _snap_grams

    def rebuild(rows):
        return _grams_oneshot(spark.createDataFrame(rows, schema), k, cap)

    merged = read_gram_index_segments(spark, state, max_gram_df=cap)
    assert snap(merged) == rebuild(b0 + b1)
    assert any(r[4] for r in snap(merged))  # boiler grams genuinely over cap

    # retract doc 1 — the keep-first argmin holder for the boiler grams —
    # plus one over-cap contributor (4): min_okey must re-elect and the
    # boiler grams' distinct-doc set drops back to the cap boundary
    retract_gram_index_delta(
        spark.createDataFrame([b0[0], b1[1]], schema), 2, state, k=k)
    survivors = [b0[1], b1[0], b1[2]]
    merged = read_gram_index_segments(spark, state, max_gram_df=cap)
    assert snap(merged) == rebuild(survivors)
    assert not any(r[4] for r in snap(merged))  # cap RECOVERED (3 docs left)

    # downstream read paths: rewrite + pairs over survivors == batch
    sdf = spark.createDataFrame(survivors, schema)
    got_rw = sorted(
        tuple(r)
        for r in substring_dedup_rewrite_from_index(sdf, merged, k=k).collect()
    )
    want_rw = sorted(tuple(r) for r in substring_dedup_rewrite(sdf, k=k).collect())
    assert got_rw == want_rw
    got_p = sorted(
        tuple(r)
        for r in substring_shared_gram_pairs_from_index(merged).collect()
    )
    want_p = sorted(
        tuple(r)
        for r in substring_shared_gram_pairs(
            sdf, k=k, max_gram_df=cap
        ).collect()
    )
    assert got_p == want_p

    # compaction at an arbitrary point changes nothing; retraction after
    # compaction still works
    assert compact_gram_index_segments(spark, state) == 3
    assert snap(read_gram_index_segments(spark, state, max_gram_df=cap)) \
        == rebuild(survivors)
    retract_gram_index_delta(
        spark.createDataFrame([b1[0]], schema), 3, state, k=k)
    assert snap(read_gram_index_segments(spark, state, max_gram_df=cap)) \
        == rebuild([b0[1], b1[2]])


def test_retractable_minhash_buckets_equal_rebuild(spark, tmp_path):
    """r11: the retractable LSH-bucket view must read equal to the
    one-shot banding over survivors (including a bucket recovering
    from its cap collapse), and pairs from the view must equal the batch
    detector on the surviving corpus."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        minhash_lsh_pairs,
        minhash_pairs_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_minhash_buckets_delta,
        read_minhash_buckets_segments,
        retract_minhash_buckets_delta,
    )

    schema = "doc_id long, text string"
    text = "the quick brown fox jumps over the lazy dog tonight"
    cap = 3
    b0 = [(1, text), (2, text), (3, "totally different words entirely")]
    b1 = [(4, text), (5, text), (6, text + " extra")]

    state = str(tmp_path / "rzmh")
    apply_minhash_buckets_delta(
        spark.createDataFrame(b0, schema), 0, state)
    apply_minhash_buckets_delta(
        spark.createDataFrame(b1, schema), 1, state)

    snap = _snap_buckets

    def rebuild(rows):
        return _buckets_oneshot(spark.createDataFrame(rows, schema), cap)

    got = snap(read_minhash_buckets_segments(spark, state,
                                                         max_bucket_size=cap))
    assert got == rebuild(b0 + b1)
    assert any(r[3] for r in got)  # 5 identical docs → bucket over cap=3

    # retract two of the identical docs: the bucket falls back under cap
    retract_minhash_buckets_delta(
        spark.createDataFrame([b0[0], b1[0]], schema), 2, state)
    survivors = [b0[1], b0[2], b1[1], b1[2]]
    merged = read_minhash_buckets_segments(spark, state,
                                                       max_bucket_size=cap)
    assert snap(merged) == rebuild(survivors)
    assert not any(r[3] for r in snap(merged))  # cap recovered

    got_pairs = sorted(
        (r.id_a, r.id_b)
        for r in minhash_pairs_from_index(merged, max_bucket_size=cap).collect()
    )
    want_pairs = sorted(
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            spark.createDataFrame(survivors, schema), max_bucket_size=cap
        ).collect()
    )
    assert got_pairs == want_pairs and (2, 5) in got_pairs


def test_retractable_term_stats_equals_rebuild_and_scores_bm25(spark, tmp_path):
    """r11: the retractable term-stats view must read equal to the batch
    (cf, df) aggregate over survivors — df un-counts retracted docs, the
    thing the add-only additive view cannot do — and BM25 scored from the
    retracted view must equal a from-scratch recompute on the surviving
    corpus. String doc ids work (nothing packs the id numerically)."""
    from pyspark.sql import functions as F

    from skylogix_real_time_weather_data_pipeline_spark.ext.text import (
        bm25_topk,
        bm25_topk_from_stats,
        tokens,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_term_stats_delta,
        compact_term_stats_segments,
        read_term_stats_segments,
        retract_term_stats_delta,
    )

    schema = "doc_id long, text string"
    b0 = [(1, "spark join merge spark spark"), (2, "merge table scan join")]
    b1 = [(3, "spark window filter"), (4, "join join window the filter scan")]

    state = str(tmp_path / "rzts")
    apply_term_stats_delta(spark.createDataFrame(b0, schema), 0, state)
    apply_term_stats_delta(spark.createDataFrame(b1, schema), 1, state)

    def want_stats(rows):
        return {
            r.w: (r.cf, r.df)
            for r in spark.createDataFrame(rows, schema)
            .select("doc_id", F.explode(tokens("text")).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("cf"), F.count_distinct("doc_id").alias("df"))
            .collect()
        }

    def got_stats():
        return {
            r.w: (r.cf, r.df)
            for r in read_term_stats_segments(spark, state).collect()
        }

    assert got_stats() == want_stats(b0 + b1)

    # retract doc 1 (3 'spark' occurrences + a df contributor)
    retract_term_stats_delta(spark.createDataFrame([b0[0]], schema), 2, state)
    survivors = [b0[1], b1[0], b1[1]]
    assert got_stats() == want_stats(survivors)
    assert got_stats()["spark"] == (1, 1)  # cf AND df both un-counted

    # BM25 from the retracted view == recompute over survivors
    sdf = spark.createDataFrame(survivors, schema)
    n_docs = 3
    avgdl = sdf.select(F.sum(F.size(tokens("text"))).alias("s")).collect()[0].s / n_docs
    stats = read_term_stats_segments(spark, state)
    got = [
        (r.doc_id, r.n_terms_matched, r.bm25)
        for r in bm25_topk_from_stats(sdf, stats, n_docs, avgdl,
                                      ["spark", "join"], k=10).collect()
    ]
    want = [
        (r.doc_id, r.n_terms_matched, r.bm25)
        for r in bm25_topk(sdf, ["spark", "join"], k=10).collect()
    ]
    assert got == want

    # compaction then further retraction still exact
    assert compact_term_stats_segments(spark, state) == 3
    retract_term_stats_delta(spark.createDataFrame([b1[0]], schema), 3, state)
    assert got_stats() == want_stats([b0[1], b1[1]])

    # string ids: full add/retract cycle with no numeric-id requirement
    sstate = str(tmp_path / "rzts_str")
    sschema = "doc_id string, text string"
    apply_term_stats_delta(
        spark.createDataFrame([("a", "x y x"), ("b", "x z")], sschema), 0, sstate)
    retract_term_stats_delta(
        spark.createDataFrame([("a", "x y x")], sschema), 1, sstate)
    got_s = {r.w: (r.cf, r.df)
             for r in read_term_stats_segments(spark, sstate).collect()}
    assert got_s == {"x": (1, 1), "z": (1, 1)}


def test_retractable_ivf_postings_equals_rebuild(spark, tmp_path):
    """r11: vector DELETES for the ANN index — live postings, derived
    cell stats, and the nprobe top-k answer over the retractable IVF
    postings view must all equal a rebuild over the surviving vectors,
    across delete-of-a-whole-cell, delete-then-re-add, compaction at an
    arbitrary point, and replayed tombstones."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import ivf_topk
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_ivf_postings_retractable_delta,
        compact_ivf_postings_retractable_segments,
        read_ivf_postings_retractable_segments,
        read_ivf_cell_stats_retractable,
        retract_ivf_postings_delta,
    )

    schema = "vec_id long, label int, embedding array<float>"
    b0 = [(1, 0, [1.0, 0.0]), (2, 0, [0.9, 0.1]), (3, 1, [0.0, 1.0])]
    b1 = [(4, 1, [0.1, 0.9]), (5, 2, [-1.0, 0.0]), (6, 0, [0.8, 0.2])]

    def snap(state):
        return sorted(
            (r["cell"], r["vec_id"], tuple(r["embedding"]))
            for r in read_ivf_postings_retractable_segments(spark, state).collect()
        )

    def want(rows):
        import numpy as np

        # the view stores array<float>: expected literals round-trip float32
        return sorted(
            (r[1], r[0], tuple(float(np.float32(x)) for x in r[2])) for r in rows
        )

    def topk_live(state, qv, k=3, nprobe=1):
        live = read_ivf_postings_retractable_segments(spark, state)
        return sorted(map(tuple, ivf_topk(
            live.withColumnRenamed("cell", "label"), qv, k=k, nprobe=nprobe
        ).collect()))

    def topk_rebuild(rows, qv, k=3, nprobe=1):
        df = spark.createDataFrame(rows, schema)
        return sorted(map(tuple, ivf_topk(df, qv, k=k, nprobe=nprobe).collect()))

    for trigger in (None, 2):
        state = str(tmp_path / f"ivf_rz_{trigger}")
        apply_ivf_postings_retractable_delta(
            spark.createDataFrame(b0, schema), 0, state, auto_compact=trigger)
        apply_ivf_postings_retractable_delta(
            spark.createDataFrame(b1, schema), 1, state, auto_compact=trigger)
        assert snap(state) == want(b0 + b1)

        # delete vec 2 and the ENTIRE cell 2 (vec 5): centroid, probe
        # ranking, and scan must all forget them
        retract_ivf_postings_delta(
            spark.createDataFrame([b0[1], b1[1]], schema), 2, state,
            auto_compact=trigger)
        survivors = [b0[0], b0[2], b1[0], b1[2]]
        assert snap(state) == want(survivors)
        qv = [1.0, 0.05]
        assert topk_live(state, qv) == topk_rebuild(survivors, qv)

        # derived per-cell stats reflect the deletes (cell 2 is gone)
        stats = {
            r["cell"]: (r["n_vecs"], tuple(r["sums"]))
            for r in read_ivf_cell_stats_retractable(spark, state).collect()
        }
        import numpy as np

        assert set(stats) == {0, 1}
        assert stats[0] == (
            2,
            (1.0 + float(np.float32(0.8)), 0.0 + float(np.float32(0.2))),
        )
        assert stats[1][0] == 2

        # delete-then-re-add annihilates to live
        apply_ivf_postings_retractable_delta(
            spark.createDataFrame([b1[1]], schema), 3, state, auto_compact=trigger)
        assert snap(state) == want(survivors + [b1[1]])

        # compaction at an arbitrary point changes nothing
        covered = compact_ivf_postings_retractable_segments(spark, state)
        assert covered == 4
        assert snap(state) == want(survivors + [b1[1]])

        # retraction AFTER compaction still works; replay is a no-op
        retract_ivf_postings_delta(
            spark.createDataFrame([b1[1]], schema), 4, state, auto_compact=trigger)
        assert snap(state) == want(survivors)
        retract_ivf_postings_delta(
            spark.createDataFrame([b1[1]], schema), 4, state, auto_compact=trigger)
        assert snap(state) == want(survivors)

    # a tombstone arriving BEFORE its add (out-of-order) reads as absent,
    # then annihilates against the late add
    state = str(tmp_path / "ivf_rz_ooo")
    retract_ivf_postings_delta(spark.createDataFrame([b0[0]], schema), 0, state)
    apply_ivf_postings_retractable_delta(
        spark.createDataFrame(b0, schema), 1, state)
    assert snap(state) == want([b0[1], b0[2]])


def test_retractable_count_sketch_turnstile(spark, tmp_path):
    """r11: Count-Sketch counters are LINEAR, so apply ∘ retract must
    equal a one-shot build over the survivors EXACTLY (counter-level
    equality, not an estimate comparison), and the median estimator must
    agree with the one-shot sketch's; with a collision-free width the
    estimate equals the exact count; over-retraction goes negative (the
    turnstile model); replayed tombstones no-op."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        count_sketch_estimate,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        _count_sketch_delta,
        apply_count_sketch_delta,
        compact_count_sketch_segments,
        read_count_sketch_segments,
        retract_count_sketch_delta,
    )

    schema = "k long"
    rows = [(1,)] * 5 + [(2,)] * 3 + [(3,)] * 2 + [(4,)] * 1
    b0, b1 = rows[:6], rows[6:]
    gone = [(1,)] * 2 + [(3,)] * 2          # retract 2 copies of 1, all of 3
    survivors = [(1,)] * 3 + [(2,)] * 3 + [(4,)] * 1
    D, W = 5, 4096

    def counters(state):
        return sorted(map(tuple, read_count_sketch_segments(spark, state).collect()))

    def oneshot(data):
        df = spark.createDataFrame(data, schema)
        return sorted(map(tuple, _count_sketch_delta(df, "k", D, W, 1)
                          .filter("c <> 0").collect()))

    for trigger in (None, 2):
        state = str(tmp_path / f"cs_{trigger}")
        apply_count_sketch_delta(
            spark.createDataFrame(b0, schema), 0, state, "k",
            depth=D, width=W, auto_compact=trigger)
        apply_count_sketch_delta(
            spark.createDataFrame(b1, schema), 1, state, "k",
            depth=D, width=W, auto_compact=trigger)
        retract_count_sketch_delta(
            spark.createDataFrame(gone, schema), 2, state, "k",
            depth=D, width=W, auto_compact=trigger)
        assert counters(state) == oneshot(survivors)

        # median estimator over the retracted counters: collision-free at
        # this width, so estimates are EXACT — including 0 for the fully
        # retracted key 3 and the unchanged keys
        keys = spark.createDataFrame([(1,), (2,), (3,), (4,)], "key long")
        est = {
            r["key"]: r["cs_count"]
            for r in count_sketch_estimate(
                read_count_sketch_segments(spark, state), keys, "key",
                depth=D, width=W).collect()
        }
        assert est == {1: 3, 2: 3, 3: 0, 4: 1}

        # compaction folds the weight sums; nothing changes
        compact_count_sketch_segments(spark, state)
        assert counters(state) == oneshot(survivors)

        # over-retraction: the turnstile model goes NEGATIVE, it does not
        # clamp (retract key 4 twice though it appears once)
        retract_count_sketch_delta(
            spark.createDataFrame([(4,), (4,)], schema), 3, state, "k",
            depth=D, width=W, auto_compact=trigger)
        est4 = {
            r["key"]: r["cs_count"]
            for r in count_sketch_estimate(
                read_count_sketch_segments(spark, state),
                spark.createDataFrame([(4,)], "key long"), "key",
                depth=D, width=W).collect()
        }
        assert est4 == {4: -1}

        # replaying the tombstone batch is a no-op
        snap = counters(state)
        retract_count_sketch_delta(
            spark.createDataFrame([(4,), (4,)], schema), 3, state, "k",
            depth=D, width=W, auto_compact=trigger)
        assert counters(state) == snap


def test_as_of_snapshot_reads(spark, tmp_path):
    """r11: as-of reads reconstruct the retractable exact-dedup view at
    any past batch — including the state BEFORE a delete — and a
    compaction that folds past the requested snapshot raises
    SnapshotUnavailableError instead of merging wrong."""
    import pytest

    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        SnapshotUnavailableError,
        apply_exact_dedup_delta,
        compact_exact_dedup_segments,
        read_exact_dedup_as_of,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
    )

    schema = "doc_id long, text string"
    b0 = [(1, "aa"), (2, "aa"), (3, "bb")]
    b1 = [(4, "cc"), (5, "bb")]

    def want(rows):
        return sorted(map(tuple, exact_dedup(
            spark.createDataFrame(rows, schema)).collect()))

    def snap_at(state, n):
        return sorted(map(tuple, read_exact_dedup_as_of(
            spark, state, n).collect()))

    state = str(tmp_path / "asof")
    apply_exact_dedup_delta(
        spark.createDataFrame(b0, schema), 0, state, auto_compact=None)
    apply_exact_dedup_delta(
        spark.createDataFrame(b1, schema), 1, state, auto_compact=None)
    retract_exact_dedup_delta(
        spark.createDataFrame([b0[0], b1[0]], schema), 2, state, auto_compact=None)

    assert snap_at(state, 0) == want(b0)
    assert snap_at(state, 1) == want(b0 + b1)          # before the delete
    assert snap_at(state, 2) == want([b0[1], b0[2], b1[1]])
    # as_of past the head is just the head
    assert snap_at(state, 99) == snap_at(state, 2)

    # compaction is history GC: pre-boundary snapshots are gone loudly,
    # the boundary itself (and later) still reads
    compact_exact_dedup_segments(spark, state)
    with pytest.raises(SnapshotUnavailableError):
        snap_at(state, 1)
    assert snap_at(state, 2) == want([b0[1], b0[2], b1[1]])
    # a fresh batch after the compaction snapshots fine
    apply_exact_dedup_delta(
        spark.createDataFrame([(6, "dd")], schema), 3, state, auto_compact=None)
    assert snap_at(state, 2) == want([b0[1], b0[2], b1[1]])
    assert snap_at(state, 3) == want([b0[1], b0[2], b1[1], (6, "dd")])


def test_changelog_maintainer_equals_rebuild(spark, tmp_path):
    """r11: the CDC-shaped changelog maintainer (op >= 0 upsert, op < 0
    delete, routed to Z-set apply/tombstone segments 2b / 2b+1) must read
    equal to a one-shot rebuild over the NET surviving rows, with as-of
    reads exposing every micro-batch boundary — including delete-then-
    re-add across batches."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        maintain_changelog_view,
        read_exact_dedup_as_of,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
    )

    schema = "doc_id long, text string, op int"
    batches = [
        [{"doc_id": 1, "text": "aa", "op": 1},
         {"doc_id": 2, "text": "aa", "op": 1},
         {"doc_id": 3, "text": "bb", "op": 1}],
        [{"doc_id": 4, "text": "cc", "op": 1},
         {"doc_id": 1, "text": "aa", "op": -1}],   # delete the aa survivor
        [{"doc_id": 1, "text": "aa", "op": 1},     # re-add it
         {"doc_id": 4, "text": "cc", "op": -1},
         {"doc_id": 5, "text": "bb", "op": 1}],
    ]
    src_dir, state, ckpt = tmp_path / "cdc", str(tmp_path / "view"), str(tmp_path / "ck")
    for i, rows in enumerate(batches):
        _write(src_dir, f"b{i}.json", rows)
        time.sleep(0.3)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(str(src_dir))
    )
    maintain_changelog_view(
        stream, state, ckpt,
        apply_fn=lambda df, bid, sd: apply_exact_dedup_delta(
            df, bid, sd, auto_compact=None),
        retract_fn=lambda df, bid, sd: retract_exact_dedup_delta(
            df, bid, sd, auto_compact=None),
    )

    def want(rows):
        return sorted(map(tuple, exact_dedup(
            spark.createDataFrame(rows, "doc_id long, text string")).collect()))

    got = sorted(map(tuple, read_exact_dedup_segments(
        spark, state).collect()))
    net = [(1, "aa"), (2, "aa"), (3, "bb"), (5, "bb")]
    assert got == want(net)

    # as-of at the even/odd micro-batch boundaries: 2b = adds applied,
    # 2b+1 = that batch's deletes applied
    def snap_at(n):
        return sorted(map(tuple, read_exact_dedup_as_of(
            spark, state, n).collect()))

    assert snap_at(1) == want([(1, "aa"), (2, "aa"), (3, "bb")])
    assert snap_at(2) == want([(1, "aa"), (2, "aa"), (3, "bb"), (4, "cc")])
    assert snap_at(3) == want([(2, "aa"), (3, "bb"), (4, "cc")])
    assert snap_at(5) == want(net)


def test_retractable_daily_counts_equals_rebuild(spark, tmp_path):
    """r11: the purely additive daily view retracts WITHOUT row
    granularity — a tombstone is the shard's negated partial aggregate —
    and a fully retracted group disappears exactly (integer n gates the
    read, so float-sum residue cannot leave a ghost row)."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_daily_counts_delta,
        compact_daily_counts_retractable_segments,
        read_daily_counts_retractable_as_of,
        read_daily_counts_retractable_segments,
        retract_daily_counts_delta,
    )

    schema = "ts timestamp, event_type string, value double"
    b0 = [("2024-03-01 10:00:00", "view", 1.25),
          ("2024-03-01 11:00:00", "view", 0.75),
          ("2024-03-01 12:00:00", "click", 2.0)]
    b1 = [("2024-03-02 09:00:00", "view", 3.5),
          ("2024-03-01 13:00:00", "click", 1.0)]

    def mk(rows):
        import datetime as dt

        return spark.createDataFrame(
            [(dt.datetime.fromisoformat(r[0]), r[1], r[2]) for r in rows],
            schema)

    def snap(state):
        return {
            (str(r.day), r.event_type): (r.n, round(r.sum_value, 9))
            for r in read_daily_counts_retractable_segments(spark, state).collect()
        }

    def want(rows):
        return {
            (str(r.day), r.event_type): (r.n, round(r.sum_value, 9))
            for r in mk(rows).groupBy(
                F.to_date("ts").alias("day"), "event_type"
            ).agg(F.count(F.lit(1)).alias("n"),
                  F.sum("value").alias("sum_value")).collect()
        }

    state = str(tmp_path / "daily_rz")
    apply_daily_counts_delta(mk(b0), 0, state, auto_compact=None)
    apply_daily_counts_delta(mk(b1), 1, state, auto_compact=None)
    assert snap(state) == want(b0 + b1)

    # retract the 03-01 clicks entirely (group must VANISH, no residue
    # row) and one 03-01 view (group decrements)
    gone = [b0[2], b1[1], b0[0]]
    retract_daily_counts_delta(mk(gone), 2, state, auto_compact=None)
    survivors = [b0[1], b1[0]]
    assert snap(state) == want(survivors)
    assert ("2024-03-01", "click") not in snap(state)

    # as-of before the delete; compaction changes nothing
    assert {k: v for k, v in
            {(str(r.day), r.event_type): (r.n, round(r.sum_value, 9))
             for r in read_daily_counts_retractable_as_of(
                 spark, state, 1).collect()}.items()} == want(b0 + b1)
    compact_daily_counts_retractable_segments(spark, state)
    assert snap(state) == want(survivors)


def test_fused_doc_views_apply_equals_separate(spark, tmp_path):
    """r11: apply_doc_views_delta (one shared scan feeding all three doc
    views — the r8 sketch-fusion precedent) must leave each view
    byte-identical to three separate appliers, and a partial replay
    (one view already applied) must no-op only that view."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_doc_views_delta,
        apply_exact_dedup_delta,
        apply_gram_index_delta,
        apply_minhash_buckets_delta,
        read_exact_dedup_segments,
        read_gram_index_segments,
        read_minhash_buckets_segments,
    )

    schema = "doc_id long, text string"
    b0 = [(1, "spark join merge spark scan filter window group"),
          (2, "merge table scan join window filter order select"),
          (3, "spark join merge spark scan filter window group")]
    b1 = [(4, "join join window filter scan merge table order"),
          (5, "spark window filter scan select group order merge")]

    def views(root):
        ed = sorted(map(tuple, read_exact_dedup_segments(spark, f"{root}/ed").collect()))
        mh = sorted(map(repr, read_minhash_buckets_segments(spark, f"{root}/mh").collect()))
        gi = sorted(map(repr, read_gram_index_segments(spark, f"{root}/gi").collect()))
        return ed, mh, gi

    fused, sep = str(tmp_path / "fused"), str(tmp_path / "sep")
    for b, rows in enumerate((b0, b1)):
        df = spark.createDataFrame(rows, schema)
        apply_doc_views_delta(df, b, f"{fused}/ed", f"{fused}/mh", f"{fused}/gi")
        apply_exact_dedup_delta(df, b, f"{sep}/ed")
        apply_minhash_buckets_delta(df, b, f"{sep}/mh")
        apply_gram_index_delta(df, b, f"{sep}/gi")
    assert views(fused) == views(sep)

    # partial replay: pre-apply batch 2 to ONE view, then fuse batch 2 —
    # the pre-applied view no-ops (guard), the other two land
    b2 = [(6, "order select group window spark filter merge scan")]
    df2 = spark.createDataFrame(b2, schema)
    apply_exact_dedup_delta(df2, 2, f"{fused}/ed")
    apply_doc_views_delta(df2, 2, f"{fused}/ed", f"{fused}/mh", f"{fused}/gi")
    apply_exact_dedup_delta(df2, 2, f"{sep}/ed")
    apply_minhash_buckets_delta(df2, 2, f"{sep}/mh")
    apply_gram_index_delta(df2, 2, f"{sep}/gi")
    assert views(fused) == views(sep)


def test_concurrent_multibatch_doc_views_apply_equals_sequential(spark, tmp_path):
    """r14 (r13 verdict #1): apply_doc_views_deltas fans ALL (batch, view)
    delta jobs out in one pool. Batch application commutes (immutable
    per-batch segments, monoid read fold), so the concurrent form must
    read byte-identical to sequential per-batch applies on all three
    views; replays must still no-op; and the deferred post-drain
    compaction check must preserve the auto-compact invariant."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_doc_views_delta,
        apply_doc_views_deltas,
        read_exact_dedup_segments,
        read_gram_index_segments,
        read_minhash_buckets_segments,
        segment_stats,
    )

    schema = "doc_id long, text string"
    batches = [
        [(1, "spark join merge spark scan filter window group"),
         (2, "merge table scan join window filter order select"),
         (3, "spark join merge spark scan filter window group")],
        [(4, "join join window filter scan merge table order"),
         (5, "spark window filter scan select group order merge")],
        [(6, "order select group window spark filter merge scan")],
    ]
    dfs = [spark.createDataFrame(rows, schema) for rows in batches]

    def views(root):
        ed = sorted(map(tuple, read_exact_dedup_segments(spark, f"{root}/ed").collect()))
        mh = sorted(map(repr, read_minhash_buckets_segments(spark, f"{root}/mh").collect()))
        gi = sorted(map(repr, read_gram_index_segments(spark, f"{root}/gi").collect()))
        return ed, mh, gi

    conc, seq = str(tmp_path / "conc"), str(tmp_path / "seq")
    apply_doc_views_deltas([(df, b) for b, df in enumerate(dfs)],
                           f"{conc}/ed", f"{conc}/mh", f"{conc}/gi")
    for b, df in enumerate(dfs):
        apply_doc_views_delta(df, b, f"{seq}/ed", f"{seq}/mh", f"{seq}/gi")
    assert views(conc) == views(seq)

    # replay of the whole batch list no-ops (per-(batch, view) guards)
    apply_doc_views_deltas([(df, b) for b, df in enumerate(dfs)],
                           f"{conc}/ed", f"{conc}/mh", f"{conc}/gi")
    assert views(conc) == views(seq)
    assert segment_stats(f"{conc}/ed")["raw_segments"] == 3

    # deferred auto-compaction: threshold 2 with 3 batches lands all raw
    # segments first (no mid-pool compactor races), then the drain check
    # folds each view once
    comp = str(tmp_path / "comp")
    apply_doc_views_deltas([(df, b) for b, df in enumerate(dfs)],
                           f"{comp}/ed", f"{comp}/mh", f"{comp}/gi",
                           auto_compact=2)
    assert views(comp) == views(seq)
    for v in ("ed", "mh", "gi"):
        s = segment_stats(f"{comp}/{v}")
        assert s["compact_segments"] == 1 and s["raw_segments"] == 0


def test_gram_index_occ_delta_equals_text_fed_applier(spark, tmp_path):
    """r14 (r13 verdict #7): apply_gram_index_occ_delta — the shared-scan
    form fed from precomputed gram-occurrence slices — must leave the
    segmented view byte-identical to the text-fed applier over the same
    batch split, and the rewrite driven from the same occ triple must
    equal the recomputing rewrite."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        gram_occurrences,
        substring_dedup_rewrite_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_gram_index_delta,
        apply_gram_index_occ_delta,
        read_gram_index_segments,
    )

    schema = "doc_id long, text string"
    rows = [(i, f"tok{i % 3} alpha beta gamma delta eps zeta eta theta tok{i % 2}")
            for i in range(12)]
    docs = spark.createDataFrame(rows, schema)
    k = 4

    occ3 = gram_occurrences(docs, "text", "doc_id", k)
    _, _, occ = occ3
    a, b = str(tmp_path / "occfed"), str(tmp_path / "textfed")
    import pyspark.sql.functions as F
    for bid in (0, 1):
        apply_gram_index_occ_delta(occ.filter(F.col("doc_id") % 2 == bid),
                                   bid, a)
        apply_gram_index_delta(docs.filter(F.col("doc_id") % 2 == bid),
                               bid, b, k=k)
    va = sorted(map(repr, read_gram_index_segments(spark, a).collect()))
    vb = sorted(map(repr, read_gram_index_segments(spark, b).collect()))
    assert va == vb

    view = read_gram_index_segments(spark, a)
    r1 = sorted(map(tuple, substring_dedup_rewrite_from_index(
        docs, view, k=k).collect()))
    r2 = sorted(map(tuple, substring_dedup_rewrite_from_index(
        docs, view, k=k, grams=occ3).collect()))
    assert r1 == r2


def test_raw_segment_write_reclaims_only_its_own_tmp(spark, tmp_path):
    """r14 concurrency contract: one writer per (state_dir, batch_id) —
    a raw segment write must sweep only ITS OWN crash leftover, because
    another batch's .tmp_* may belong to a live concurrent writer.
    Compaction (exclusive by contract) still does the full sweep."""
    import os

    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        compact_exact_dedup_segments,
        read_exact_dedup_segments,
    )

    schema = "doc_id long, text string"
    state = str(tmp_path / "st")
    apply_exact_dedup_delta(spark.createDataFrame([(1, "aa")], schema), 0, state)
    root = os.path.join(state, "segments")
    foreign = os.path.join(root, ".tmp_b0000000099")
    own = os.path.join(root, ".tmp_b0000000001")
    os.makedirs(foreign)
    os.makedirs(own)
    apply_exact_dedup_delta(spark.createDataFrame([(2, "bb")], schema), 1, state)
    assert os.path.isdir(foreign), "foreign tmp must survive a raw write"
    assert not os.path.exists(own), "own crash leftover reclaimed + committed"
    # the write itself committed over its own leftover
    assert sorted(r["doc_id"] for r in
                  read_exact_dedup_segments(spark, state).collect()) == [1, 2]
    compact_exact_dedup_segments(spark, state)
    assert not os.path.exists(foreign), "compaction does the full sweep"


def test_changelog_maintainer_generic_over_ivf_postings(spark, tmp_path):
    """r11: maintain_changelog_view is view-agnostic — bind it to the
    IVF postings appliers (vector columns, not doc text) and an op-tagged
    vector stream must read equal to the net surviving index."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_ivf_postings_retractable_delta,
        maintain_changelog_view,
        read_ivf_postings_retractable_segments,
        retract_ivf_postings_delta,
    )

    schema = ("vec_id long, label int, embedding array<float>, op int")
    batches = [
        [{"vec_id": 1, "label": 0, "embedding": [1.0, 0.0], "op": 1},
         {"vec_id": 2, "label": 1, "embedding": [0.0, 1.0], "op": 1}],
        [{"vec_id": 3, "label": 0, "embedding": [0.9, 0.1], "op": 1},
         {"vec_id": 2, "label": 1, "embedding": [0.0, 1.0], "op": -1}],
    ]
    src_dir, state, ckpt = tmp_path / "vcdc", str(tmp_path / "view"), str(tmp_path / "ck")
    for i, rows in enumerate(batches):
        _write(src_dir, f"b{i}.json", rows)
        time.sleep(0.3)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(str(src_dir))
    )
    maintain_changelog_view(
        stream, state, ckpt,
        apply_fn=lambda df, bid, sd: apply_ivf_postings_retractable_delta(
            df, bid, sd, auto_compact=None),
        retract_fn=lambda df, bid, sd: retract_ivf_postings_delta(
            df, bid, sd, auto_compact=None),
    )
    got = sorted(
        (r["cell"], r["vec_id"], tuple(r["embedding"]))
        for r in read_ivf_postings_retractable_segments(spark, state).collect()
    )
    assert got == [(0, 1, (1.0, 0.0)), (0, 3, (0.8999999761581421, 0.10000000149011612))]


def test_retention_compaction_preserves_recent_snapshots(spark, tmp_path):
    """r11: compact(retain_last=N) folds everything older while the
    newest N raw batches stay snapshot-readable — bounded as-of history
    surviving compaction (the LSM retention knob); older snapshots are
    gone loudly, and reads/current state are unchanged throughout."""
    import pytest

    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        SnapshotUnavailableError,
        _compact_segments,
        _fold_exact_dedup_weights,
        _segment_scan,
        apply_exact_dedup_delta,
        read_exact_dedup_as_of,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
    )

    schema = "doc_id long, text string"
    batches = [[(1, "aa"), (2, "bb")], [(3, "aa")], [(4, "cc")], [(5, "bb")]]
    state = str(tmp_path / "ret")
    for b, rows in enumerate(batches):
        apply_exact_dedup_delta(
            spark.createDataFrame(rows, schema), b, state, auto_compact=None)
    retract_exact_dedup_delta(
        spark.createDataFrame([(1, "aa")], schema), 4, state, auto_compact=None)

    def want(rows):
        return sorted(map(tuple, exact_dedup(
            spark.createDataFrame(rows, schema)).collect()))

    def snap_at(n):
        return sorted(map(tuple, read_exact_dedup_as_of(
            spark, state, n).collect()))

    head = sorted(map(tuple, read_exact_dedup_segments(
        spark, state).collect()))
    survivors = [(2, "bb"), (3, "aa"), (4, "cc"), (5, "bb")]
    assert head == want(survivors)

    # retain the last 2 batch ids (3 = the b3 apply, 4 = the tombstone)
    folded = _compact_segments(spark, state, _fold_exact_dedup_weights,
                               retain_last=2)
    assert folded == 3  # batches 0,1,2 folded
    paths, applied = _segment_scan(state)
    assert applied == set(range(5))
    assert sum(1 for p in paths if "compact_" in p) == 1

    # current state and in-horizon snapshots unchanged
    assert sorted(map(tuple, read_exact_dedup_segments(
        spark, state).collect())) == want(survivors)
    assert snap_at(3) == want([r for b in batches for r in b])
    assert snap_at(2) == want([r for b in batches[:3] for r in b])
    # pre-horizon snapshot is folded history: loud failure
    with pytest.raises(SnapshotUnavailableError):
        snap_at(1)

    # a retention re-compact with nothing new to fold is a no-op
    assert _compact_segments(spark, state, _fold_exact_dedup_weights,
                             retain_last=5) == 0
    # full compaction still folds the retained tail afterwards
    assert _compact_segments(spark, state, _fold_exact_dedup_weights) == 5
    assert sorted(map(tuple, read_exact_dedup_segments(
        spark, state).collect())) == want(survivors)


def test_segment_stats_observability(spark, tmp_path):
    """r11: segment_stats reports the readable set (raw/compact split,
    covered batches, bytes, auto-compact proximity) without running a
    Spark job — the per-view monitoring hook."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        compact_exact_dedup_segments,
        segment_stats,
    )

    schema = "doc_id long, text string"
    state = str(tmp_path / "obs")
    for b in range(3):
        apply_exact_dedup_delta(
            spark.createDataFrame([(b, f"t{b}")], schema), b, state,
            auto_compact=None)
    s = segment_stats(state)
    assert s["readable_segments"] == 3 and s["raw_segments"] == 3
    assert s["compact_segments"] == 0
    assert s["applied_batches"] == [0, 1, 2]
    assert s["bytes"] > 0
    assert s["will_auto_compact_next"] is False

    compact_exact_dedup_segments(spark, state, retain_last=1)
    s2 = segment_stats(state)
    assert s2["compact_segments"] == 1 and s2["raw_segments"] == 1
    assert s2["applied_batches"] == [0, 1, 2]  # coverage union unchanged


def test_retention_ignores_covered_crash_leftover_raws(spark, tmp_path):
    """r12 (r11 ADVICE): a raw segment already covered by a compact —
    the crash window between compact-commit and GC — must never occupy
    a retain_last slot. With non-monotonic batch ids the old
    directory-listing window let the covered raw displace an older
    uncovered raw into the fold, producing a compact whose manifest
    omitted a batch its data contained (via the prior compact) while the
    covered raw survived GC → double count on every later read."""
    import shutil as _sh

    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        _compact_segments,
        _fold_exact_dedup_weights,
        _segments_root,
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
    )

    schema = "doc_id long, text string"
    state = str(tmp_path / "covered")
    root = _segments_root(state)

    # batch 5 first, compact (covers {5}), then simulate the crash
    # window: the covered raw b5 is still on disk after the compact
    apply_exact_dedup_delta(
        spark.createDataFrame([(50, "xx")], schema), 5, state, auto_compact=None)
    leftover = str(tmp_path / "b5_copy")
    _sh.copytree(f"{root}/b{5:010d}", leftover)
    assert _compact_segments(spark, state, _fold_exact_dedup_weights) == 1
    _sh.copytree(leftover, f"{root}/b{5:010d}")

    # older (non-monotonic) uncovered batches arrive next
    apply_exact_dedup_delta(
        spark.createDataFrame([(30, "xx")], schema), 3, state, auto_compact=None)
    apply_exact_dedup_delta(
        spark.createDataFrame([(40, "yy")], schema), 4, state, auto_compact=None)

    want = sorted(map(tuple, exact_dedup(spark.createDataFrame(
        [(50, "xx"), (30, "xx"), (40, "yy")], schema)).collect()))

    # retention compaction with the covered leftover present: both raws
    # 3 and 4 are the retained window (the leftover b5 is NOT a
    # candidate), so nothing new folds and the read stays single-counted
    _compact_segments(spark, state, _fold_exact_dedup_weights, retain_last=2)
    got = sorted(map(tuple, read_exact_dedup_segments(
        spark, state).collect()))
    assert got == want  # old code double-counted batch 5 → n_copies 3

    # a full compaction afterwards folds everything and GC clears the
    # leftover; the view is still exact
    _compact_segments(spark, state, _fold_exact_dedup_weights)
    assert sorted(map(tuple, read_exact_dedup_segments(
        spark, state).collect())) == want


def test_count_sketch_estimate_tolerates_reserved_key_columns(spark, tmp_path):
    """r12 (r11 ADVICE): the estimator's internal probe columns are
    _cs_-prefixed, so a caller key frame carrying columns named d, b, s
    or c joins cleanly instead of raising AnalysisException."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        count_sketch_estimate,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_count_sketch_delta,
        read_count_sketch_segments,
    )

    state = str(tmp_path / "cs_cols")
    rows = [(1,)] * 4 + [(2,)] * 2
    apply_count_sketch_delta(
        spark.createDataFrame(rows, "k long"), 0, state, "k",
        depth=5, width=4096, auto_compact=None)
    keys = spark.createDataFrame(
        [(1, "d", "b", "s", "c"), (2, "d", "b", "s", "c")],
        "key long, d string, b string, s string, c string")
    est = {r["key"]: r["cs_count"] for r in count_sketch_estimate(
        read_count_sketch_segments(spark, state), keys, "key",
        depth=5, width=4096).collect()}
    assert est == {1: 4, 2: 2}


def test_ivf_cell_stats_keeps_cells_with_empty_embeddings(spark, tmp_path):
    """r12 (r11 ADVICE): a cell whose live vectors all carry empty
    embedding arrays still appears in the retractable cell stats with
    its true n_vecs and sums = [] — the inner join silently dropped it."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_ivf_postings_retractable_delta,
        read_ivf_cell_stats_retractable,
    )

    schema = "vec_id long, label int, embedding array<float>"
    rows = [(1, 0, [1.0, 2.0]), (2, 0, [3.0, 4.0]), (3, 1, []), (4, 1, [])]
    state = str(tmp_path / "empty_cell")
    apply_ivf_postings_retractable_delta(
        spark.createDataFrame(rows, schema), 0, state, auto_compact=None)
    stats = {r["cell"]: (r["n_vecs"], list(r["sums"]))
             for r in read_ivf_cell_stats_retractable(spark, state).collect()}
    assert stats == {0: (2, [4.0, 6.0]), 1: (2, [])}


def test_tombstone_fraction_trigger_fires_and_preserves_view(spark, tmp_path):
    """r12 (r11 verdict #6): a delete-heavy window triggers compaction on
    tombstone WEIGHT, not just segment count — and the view across the
    new boundary is identical to the untriggered (manual) protocol. Two
    base applies + one retract crosses TOMBSTONE_COMPACT_FRACTION (1/3),
    so the retract itself compacts; a pure-ingest sequence of the same
    length never fires the new trigger."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
        segment_stats,
    )

    schema = "doc_id long, text string"
    b0 = [(1, "aa"), (2, "bb")]
    b1 = [(3, "aa"), (4, "cc")]
    gone = [(1, "aa")]

    # auto path: the retract crosses the tombstone fraction and compacts
    auto = str(tmp_path / "auto")
    apply_exact_dedup_delta(
        spark.createDataFrame(b0, schema), 0, auto)
    apply_exact_dedup_delta(
        spark.createDataFrame(b1, schema), 1, auto)
    s_pre = segment_stats(auto)
    assert s_pre["tombstone_segments"] == 0
    assert s_pre["will_auto_compact_next"] is False      # count trigger far off
    assert s_pre["will_compact_next_tombstone"] is True  # 1/3 fraction hit
    retract_exact_dedup_delta(spark.createDataFrame(gone, schema), 2, auto)
    s_post = segment_stats(auto)
    assert s_post["compact_segments"] == 1 and s_post["raw_segments"] == 0
    assert s_post["tombstone_segments"] == 0  # folded away
    assert s_post["applied_batches"] == [0, 1, 2]

    # manual path: same batches, no trigger — views must be identical
    manual = str(tmp_path / "manual")
    apply_exact_dedup_delta(
        spark.createDataFrame(b0, schema), 0, manual, auto_compact=None)
    apply_exact_dedup_delta(
        spark.createDataFrame(b1, schema), 1, manual, auto_compact=None)
    retract_exact_dedup_delta(
        spark.createDataFrame(gone, schema), 2, manual, auto_compact=None)
    assert segment_stats(manual)["tombstone_segments"] == 1

    def view(state):
        return sorted(map(tuple, read_exact_dedup_segments(
            spark, state).collect()))

    want = sorted(map(tuple, exact_dedup(spark.createDataFrame(
        b1 + [(2, "bb")], schema)).collect()))
    assert view(auto) == view(manual) == want

    # pure-ingest sequence of the same length: the new trigger never fires
    ingest = str(tmp_path / "ingest")
    for b, rows in enumerate((b0, b1, [(9, "zz")])):
        apply_exact_dedup_delta(
            spark.createDataFrame(rows, schema), b, ingest)
    s_ing = segment_stats(ingest)
    assert s_ing["compact_segments"] == 0 and s_ing["raw_segments"] == 3

    # replaying the retract after the auto-compaction stays a no-op
    retract_exact_dedup_delta(spark.createDataFrame(gone, schema), 2, auto)
    assert view(auto) == want


def test_auto_compact_retain_preserves_asof_horizon(spark, tmp_path, monkeypatch):
    """r12: AUTO_COMPACT_RETAIN threads the retain_last retention knob
    into BOTH auto-triggers, so a deployment keeps an as-of audit
    horizon across triggered compactions — the current view is
    unchanged, snapshots inside the horizon read, and older history is
    still loud GC."""
    import pytest

    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.streaming import matview
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        SnapshotUnavailableError,
        apply_exact_dedup_delta,
        read_exact_dedup_as_of,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
        segment_stats,
    )

    monkeypatch.setattr(matview, "AUTO_COMPACT_RETAIN", 2)
    schema = "doc_id long, text string"
    b0, b1, gone = [(1, "aa"), (2, "bb")], [(3, "aa")], [(1, "aa")]
    state = str(tmp_path / "retain_auto")
    apply_exact_dedup_delta(
        spark.createDataFrame(b0, schema), 0, state)
    apply_exact_dedup_delta(
        spark.createDataFrame(b1, schema), 1, state)
    # the retract fires the tombstone trigger (1/3) — but retention keeps
    # the 2 newest raw batch ids (1 and the tombstone 2) unfolded
    retract_exact_dedup_delta(spark.createDataFrame(gone, schema), 2, state)
    s = segment_stats(state)
    assert s["compact_segments"] == 1  # batch 0 folded
    assert s["raw_segments"] == 2      # batches 1, 2 retained
    assert s["applied_batches"] == [0, 1, 2]

    want_now = sorted(map(tuple, exact_dedup(spark.createDataFrame(
        [(2, "bb"), (3, "aa")], schema)).collect()))
    assert sorted(map(tuple, read_exact_dedup_segments(
        spark, state).collect())) == want_now
    # every snapshot still reads: the fold covers exactly prefix [0], so
    # as-of 0 answers from the compact and 1/2 from compact + raws
    assert sorted(map(tuple, read_exact_dedup_as_of(
        spark, state, 0).collect())) == sorted(map(tuple, exact_dedup(
            spark.createDataFrame(b0, schema)).collect()))
    assert sorted(map(tuple, read_exact_dedup_as_of(
        spark, state, 1).collect())) == sorted(map(tuple, exact_dedup(
            spark.createDataFrame(b0 + b1, schema)).collect()))

    # a second delete window: the trigger fires again, retention slides
    # forward (keeps raws 3,4; folds 0-2) — the horizon moves, the
    # current view is still exact, and PRE-horizon as-of is now loud GC
    apply_exact_dedup_delta(
        spark.createDataFrame([(4, "cc")], schema), 3, state)
    retract_exact_dedup_delta(
        spark.createDataFrame([(2, "bb")], schema), 4, state)
    s2 = segment_stats(state)
    assert s2["raw_segments"] == 2 and s2["applied_batches"] == list(range(5))
    assert sorted(map(tuple, read_exact_dedup_segments(
        spark, state).collect())) == sorted(map(tuple, exact_dedup(
            spark.createDataFrame([(3, "aa"), (4, "cc")], schema)).collect()))
    assert sorted(map(tuple, read_exact_dedup_as_of(
        spark, state, 3).collect())) == sorted(map(tuple, exact_dedup(
            spark.createDataFrame([(2, "bb"), (3, "aa"), (4, "cc")],
                                  schema)).collect()))
    with pytest.raises(SnapshotUnavailableError):
        read_exact_dedup_as_of(spark, state, 1).collect()


def test_empty_tombstones_never_trigger_compaction(spark, tmp_path):
    """r13 (r12 ADVICE medium): the changelog router lands a tombstone
    segment EVERY micro-batch for replay-guard completeness, including
    pure-insert batches where the delete split is empty. An empty
    tombstone must not count toward TOMBSTONE_COMPACT_FRACTION — before
    the fix, every pure-insert CDC batch after the first fired a full
    O(view) compaction (fraction 1/2 >= 1/3), turning amortized-O(batch)
    maintenance into O(n^2) over the stream."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
        segment_stats,
    )

    schema = "doc_id long, text string"
    empty = spark.createDataFrame([], schema)
    state = str(tmp_path / "cdc_ins")

    # the router's per-micro-batch shape: adds at 2b, tombstone at 2b+1
    batches = ([(1, "aa"), (2, "bb")], [(3, "aa")], [(4, "cc")])
    for b, rows in enumerate(batches):
        apply_exact_dedup_delta(
            spark.createDataFrame(rows, schema), 2 * b, state)
        retract_exact_dedup_delta(empty, 2 * b + 1, state)

    s = segment_stats(state)
    assert s["compact_segments"] == 0, "pure-insert CDC must never compact"
    assert s["raw_segments"] == 6          # 3 add + 3 empty-tombstone
    assert s["tombstone_segments"] == 0    # empty tombstones don't count
    assert s["applied_batches"] == [0, 1, 2, 3, 4, 5]

    # the view is exact despite the empty segments (all 4 docs live)
    want = sorted(map(tuple, exact_dedup(spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "cc")], schema)).collect()))
    assert sorted(map(tuple, read_exact_dedup_segments(
        spark, state).collect())) == want

    # a REAL (non-empty) delete still fires the fraction trigger: 1
    # non-empty tombstone / 7 raws < 1/3, so land two more to cross it
    retract_exact_dedup_delta(
        spark.createDataFrame([(1, "aa")], schema), 6, state)
    retract_exact_dedup_delta(
        spark.createDataFrame([(2, "bb")], schema), 7, state)
    retract_exact_dedup_delta(
        spark.createDataFrame([(4, "cc")], schema), 8, state)
    assert segment_stats(state)["compact_segments"] == 1
    assert sorted(map(tuple, read_exact_dedup_segments(
        spark, state).collect())) == sorted(map(tuple, exact_dedup(
            spark.createDataFrame([(3, "aa")], schema)).collect()))


def test_empty_tombstones_excluded_from_fraction_denominator(spark, tmp_path):
    """r14 (r13 ADVICE low): empty tombstones must not count in the
    fraction DENOMINATOR either — on a mixed insert/delete CDC stream
    each pure-insert micro-batch lands one, diluting the measured
    fraction so the 1/3 trigger fired later than the documented
    invariant. Shape: 2 data adds + 2 empty tombstones (two pure-insert
    router batches), then one real delete. Same-population math:
    1 tombstone / (1 + 2 data) = 1/3 -> fires; the old diluted math read
    1 / (1 + 4 raws) = 0.2 and waited."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
        segment_stats,
    )

    schema = "doc_id long, text string"
    empty = spark.createDataFrame([], schema)
    state = str(tmp_path / "cdc_mixed")

    for b, rows in enumerate(([(1, "aa"), (2, "bb")], [(3, "cc")])):
        apply_exact_dedup_delta(
            spark.createDataFrame(rows, schema), 2 * b, state)
        retract_exact_dedup_delta(empty, 2 * b + 1, state)

    s = segment_stats(state)
    assert s["raw_segments"] == 4
    assert s["empty_tombstone_segments"] == 2
    assert s["tombstone_fraction"] == 0.0
    assert s["compact_segments"] == 0

    # the first REAL delete crosses 1/3 over the non-empty population
    retract_exact_dedup_delta(
        spark.createDataFrame([(2, "bb")], schema), 4, state)
    assert segment_stats(state)["compact_segments"] == 1, (
        "denominator dilution: the 1/3 trigger must fire on the first "
        "real delete when empty tombstones are excluded from both sides")
    got = sorted(r["doc_id"] for r in read_exact_dedup_segments(
        spark, state).collect())
    assert got == [1, 3]


def test_daily_counts_delete_before_add_survives_compaction(spark, tmp_path):
    """r13 (r12 ADVICE medium): a (day, event_type) group that
    transiently nets to n == 0 with sum != 0 — a delete folded before
    its matching add — must keep its sum residue through a mid-stream
    compaction. Before the fix the compaction merge_fn dropped n == 0
    groups, so compacting at the transient point lost the residue and
    the late add read back the wrong sum."""
    import datetime as dt

    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_daily_counts_delta,
        compact_daily_counts_retractable_segments,
        read_daily_counts_retractable_segments,
        retract_daily_counts_delta,
    )

    schema = "ts timestamp, event_type string, value double"

    def mk(rows):
        return spark.createDataFrame(
            [(dt.datetime.fromisoformat(r[0]), r[1], r[2]) for r in rows],
            schema)

    a = ("2024-03-01 10:00:00", "view", 10.0)
    b = ("2024-03-01 11:00:00", "view", 20.0)

    def run(compact_at_transient, auto_compact):
        state = str(tmp_path / f"dba_{compact_at_transient}_{auto_compact}")
        # batch 0: add A; batch 1: delete B (not yet added) -> group nets
        # (n=0, sum=-10) transiently
        apply_daily_counts_delta(mk([a]), 0, state, auto_compact=auto_compact)
        retract_daily_counts_delta(mk([b]), 1, state,
                                   auto_compact=auto_compact)
        if compact_at_transient:
            compact_daily_counts_retractable_segments(spark, state)
        # B's late add: survivors are exactly {A}
        apply_daily_counts_delta(mk([b]), 2, state, auto_compact=auto_compact)
        return {
            (str(r.day), r.event_type): (r.n, round(r.sum_value, 9))
            for r in read_daily_counts_retractable_segments(
                spark, state).collect()
        }

    want = {("2024-03-01", "view"): (1, 10.0)}
    # manual compaction exactly at the transient point
    assert run(True, None) == want
    # no compaction at all (control)
    assert run(False, None) == want
    # both auto-triggers live: the tombstone-fraction trigger compacts at
    # the retract itself (1 non-empty tombstone / 2 raws >= 1/3)
    assert run(False, 2) == want

    # a FULLY cancelled group (delete after add, same values) still
    # vanishes without a ghost row, compaction or not
    state = str(tmp_path / "dba_cancel")
    apply_daily_counts_delta(mk([a]), 0, state, auto_compact=None)
    retract_daily_counts_delta(mk([a]), 1, state, auto_compact=None)
    compact_daily_counts_retractable_segments(spark, state)
    assert read_daily_counts_retractable_segments(spark, state).count() == 0


def test_raw_manifest_corruption_is_tolerated(spark, tmp_path):
    """r13 (r12 ADVICE low): a truncated/corrupt raw-segment
    _manifest.json must read as 'not a tombstone' (the compact-manifest
    reader's garbage tolerance), not crash every subsequent retract
    apply and segment_stats call with JSONDecodeError."""
    import os

    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
        segment_stats,
    )

    schema = "doc_id long, text string"
    state = str(tmp_path / "corrupt")
    apply_exact_dedup_delta(
        spark.createDataFrame([(1, "aa"), (2, "bb")], schema), 0, state)
    retract_exact_dedup_delta(
        spark.createDataFrame([(2, "bb")], schema), 1, state,
        auto_compact=None)

    # truncate the tombstone's manifest mid-byte
    seg_root = os.path.join(state, "segments")
    mpath = os.path.join(seg_root, "b0000000001", "_manifest.json")
    with open(mpath, "w") as f:
        f.write('{"kind": "tomb')

    s = segment_stats(state)  # must not raise
    assert s["tombstone_segments"] == 0
    # a further retract apply must not raise either, and the view stays
    # exact (corruption only loses trigger metadata, never data)
    retract_exact_dedup_delta(
        spark.createDataFrame([(1, "aa")], schema), 2, state,
        auto_compact=None)
    assert read_exact_dedup_segments(
        spark, state).count() == 0


def test_maybe_compact_pooled_matches_sequential(spark, tmp_path):
    """r15 (r14 ADVICE): pooled segment writers defer auto-compaction to
    one post-drain maybe_compact, which must apply BOTH triggers the
    inline protocol applies — in particular the tombstone-fraction
    trigger the r14 pooled form skipped. Two applies + one retract via
    the pooled protocol must land the SAME on-disk end state as the
    sequential auto-compacting protocol (compaction fired: one compact
    segment, no raws), and a pure-insert pool must not compact."""
    from concurrent.futures import ThreadPoolExecutor

    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_count_sketch_delta,
        compact_count_sketch_segments,
        maybe_compact,
        read_count_sketch_segments,
        retract_count_sketch_delta,
        segment_stats,
    )

    schema = "k string"
    b0 = [("a",), ("b",), ("a",)]
    b1 = [("c",), ("a",)]
    gone = [("a",)]

    def run_pooled(state):
        deltas = [
            (apply_count_sketch_delta, b0, 0),
            (apply_count_sketch_delta, b1, 1),
            (retract_count_sketch_delta, gone, 2),
        ]
        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [
                pool.submit(fn, spark.createDataFrame(rows, schema), b,
                            state, "k", depth=3, width=8, auto_compact=None)
                for fn, rows, b in deltas
            ]
            for f in futs:
                f.result()
        return maybe_compact(spark, state, compact_count_sketch_segments)

    pooled = str(tmp_path / "pooled")
    assert run_pooled(pooled) is True  # fraction trigger fired post-drain

    seq = str(tmp_path / "seq")
    apply_count_sketch_delta(
        spark.createDataFrame(b0, schema), 0, seq, "k", depth=3, width=8)
    apply_count_sketch_delta(
        spark.createDataFrame(b1, schema), 1, seq, "k", depth=3, width=8)
    retract_count_sketch_delta(
        spark.createDataFrame(gone, schema), 2, seq, "k", depth=3, width=8)

    sp, ss = segment_stats(pooled), segment_stats(seq)
    for key in ("compact_segments", "raw_segments", "tombstone_segments",
                "applied_batches"):
        assert sp[key] == ss[key], key
    assert sp["compact_segments"] == 1 and sp["raw_segments"] == 0

    def counters(state):
        return sorted(map(tuple,
                          read_count_sketch_segments(spark, state).collect()))

    assert counters(pooled) == counters(seq)

    # fraction_trigger=False: the documented INTENTIONAL deferral the
    # benched retract cycles use — no compaction runs, the tombstone raw
    # segment stays, and the read fold still answers identically
    deferred = str(tmp_path / "deferred")
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(fn, spark.createDataFrame(rows, schema), b,
                        deferred, "k", depth=3, width=8, auto_compact=None)
            for fn, rows, b in [
                (apply_count_sketch_delta, b0, 0),
                (apply_count_sketch_delta, b1, 1),
                (retract_count_sketch_delta, gone, 2),
            ]
        ]
        for f in futs:
            f.result()
    assert maybe_compact(spark, deferred, compact_count_sketch_segments,
                         fraction_trigger=False) is False
    sd = segment_stats(deferred)
    assert sd["compact_segments"] == 0 and sd["tombstone_segments"] == 1
    assert counters(deferred) == counters(seq)

    # pure-insert pool: neither trigger fires, raw segments stay
    ins = str(tmp_path / "ins")
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(apply_count_sketch_delta,
                        spark.createDataFrame(rows, schema), b, ins, "k",
                        depth=3, width=8, auto_compact=None)
            for b, rows in enumerate((b0, b1))
        ]
        for f in futs:
            f.result()
    assert maybe_compact(spark, ins, compact_count_sketch_segments) is False
    assert segment_stats(ins)["raw_segments"] == 2


def test_pooled_term_stats_deltas_match_sequential(spark, tmp_path):
    """r15 (r14 verdict #3): the bench's matview cycle now submits its two
    term-stats delta applies CONCURRENTLY — immutable per-batch segments +
    the Z-set weight fold commute, so the pooled protocol must land
    the same readable state as the sequential segmented protocol and the
    same stats as the one-shot aggregate."""
    from concurrent.futures import ThreadPoolExecutor

    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_term_stats_delta,
        compact_term_stats_segments,
        maybe_compact,
        read_term_stats_segments,
        segment_stats,
    )

    schema = "doc_id long, text string"
    batches = [
        [(1, "spark join merge spark spark"), (2, "merge table scan join")],
        [(3, "spark window filter"), (4, "join join window the filter scan")],
    ]
    pooled, seq = str(tmp_path / "pooled"), str(tmp_path / "seq")
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(apply_term_stats_delta,
                        spark.createDataFrame(rows, schema), b, pooled,
                        auto_compact=None)
            for b, rows in enumerate(batches)
        ]
        for f in futs:
            f.result()
    # pure-insert pool below both triggers: no compaction, 2 raw segments
    assert maybe_compact(spark, pooled, compact_term_stats_segments) is False
    assert segment_stats(pooled)["raw_segments"] == 2

    for b, rows in enumerate(batches):
        apply_term_stats_delta(spark.createDataFrame(rows, schema), b, seq)

    def stats(state):
        return sorted(map(tuple, read_term_stats_segments(spark, state).collect()))

    want = _term_stats_oneshot(
        spark.createDataFrame([r for rows in batches for r in rows], schema))
    assert stats(pooled) == stats(seq) == want


def test_maybe_compact_tombstone_first_diverges_on_disk_only(spark, tmp_path):
    """maybe_compact promises ANSWER-equivalence with the sequential
    protocol, not on-disk equality: when the tombstone lands FIRST, the
    sequential inline fraction check finds no earlier segment and never
    compacts, while the pooled post-drain check sees 1 tombstone in 3
    segments and folds them. Reads agree; the end states differ."""
    from concurrent.futures import ThreadPoolExecutor

    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_count_sketch_delta,
        compact_count_sketch_segments,
        maybe_compact,
        read_count_sketch_segments,
        retract_count_sketch_delta,
        segment_stats,
    )

    writes = [
        (retract_count_sketch_delta, [("a",)], 2),   # the tombstone lands first
        (apply_count_sketch_delta, [("a",), ("b",), ("a",)], 0),
        (apply_count_sketch_delta, [("c",), ("a",)], 1),
    ]

    def write(fn, rows, b, state, auto_compact):
        fn(spark.createDataFrame(rows, "k string"), b, state, "k", depth=3,
           width=8, auto_compact=auto_compact)

    seq, pooled = str(tmp_path / "seq"), str(tmp_path / "pooled")
    for fn, rows, b in writes:
        write(fn, rows, b, seq, 16)
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [pool.submit(write, fn, rows, b, pooled, None) for fn, rows, b in writes]
        for f in futs:
            f.result()
    assert maybe_compact(spark, pooled, compact_count_sketch_segments) is True

    def counters(state):
        return sorted(map(tuple, read_count_sketch_segments(spark, state).collect()))

    assert counters(pooled) == counters(seq)
    ss, sp = segment_stats(seq), segment_stats(pooled)
    assert (ss["compact_segments"], ss["raw_segments"], ss["tombstone_segments"]) == (0, 3, 1)
    assert (sp["compact_segments"], sp["raw_segments"]) == (1, 0)


def test_doc_view_reads_plan_one_exchange(spark, tmp_path):
    """Each doc/term view read hash-partitions the unioned Z-set segments
    by the view key once: the (key, doc) weight fold and the per-key
    aggregate share that exchange, instead of shuffling twice."""
    import re

    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        apply_gram_index_delta,
        apply_minhash_buckets_delta,
        apply_term_stats_delta,
        read_exact_dedup_segments,
        read_gram_index_segments,
        read_minhash_buckets_segments,
        read_term_stats_segments,
    )

    schema = "doc_id long, text string"
    batches = [[(1, "a b c d e f g h i"), (2, "a b c d e f g h j")],
               [(3, "a b c d e f g h i"), (4, "x y z")]]
    views = {
        "ed": (apply_exact_dedup_delta, read_exact_dedup_segments),
        "gi": (lambda df, b, st: apply_gram_index_delta(df, b, st, k=3),
               read_gram_index_segments),
        "mh": (apply_minhash_buckets_delta, read_minhash_buckets_segments),
        "ts": (apply_term_stats_delta, read_term_stats_segments),
    }
    for name, (apply_fn, read_fn) in views.items():
        state = str(tmp_path / name)
        for b, rows in enumerate(batches):
            apply_fn(spark.createDataFrame(rows, schema), b, state)
        plan = read_fn(spark, state)._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"\bExchange\b", plan)) == 1, (name, plan)


def test_posting_caps_apply_at_read_time(spark, tmp_path):
    """The gram and bucket caps are read-time parameters: ONE state
    written without any cap answers at every cap, equal to the batch
    detector recomputing its cutoff at that cap."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        minhash_lsh_pairs,
        minhash_pairs_from_index,
        substring_shared_gram_pairs,
        substring_shared_gram_pairs_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_gram_index_delta,
        apply_minhash_buckets_delta,
        read_gram_index_segments,
        read_minhash_buckets_segments,
    )

    schema = "doc_id long, text string"
    boiler = "spam spam spam wonderful spam and eggs every single day"
    near = "the quick brown fox jumps over the lazy dog tonight"
    batches = [
        [(1, boiler), (2, boiler), (3, near), (10, "alpha beta gamma delta eps")],
        [(4, boiler), (5, near), (11, "alpha beta gamma delta zeta")],
    ]
    k = 3
    gi, mh = str(tmp_path / "gi"), str(tmp_path / "mh")
    for b, rows in enumerate(batches):
        bdf = spark.createDataFrame(rows, schema)
        apply_gram_index_delta(bdf, b, gi, k=k)
        apply_minhash_buckets_delta(bdf, b, mh)
    corpus = spark.createDataFrame([r for rows in batches for r in rows], schema)

    def pairs(df):
        return sorted(tuple(r) for r in df.collect())

    gram_answers = []
    for cap in (2, 1_000):
        got = pairs(substring_shared_gram_pairs_from_index(
            read_gram_index_segments(spark, gi, max_gram_df=cap), min_shared=1))
        want = pairs(substring_shared_gram_pairs(
            corpus, k=k, min_shared=1, max_gram_df=cap))
        assert got == want, cap
        gram_answers.append(got)
    bucket_answers = []
    for cap in (2, 100_000):
        got = pairs(minhash_pairs_from_index(
            read_minhash_buckets_segments(spark, mh, max_bucket_size=cap),
            max_bucket_size=cap))
        want = pairs(minhash_lsh_pairs(corpus, max_bucket_size=cap))
        assert got == want, cap
        bucket_answers.append(got)
    # the caps genuinely change the answers read from the one state
    assert gram_answers[0] != gram_answers[1]
    assert bucket_answers[0] != bucket_answers[1]


def _jobs_started_by(spark, build) -> list[int]:
    """Spark job ids started while ``build()`` runs. The jobs are tagged
    with a fresh job group; a sentinel job in a second group runs after,
    and the listener bus is FIFO, so once the sentinel shows in the status
    tracker every job ``build`` started shows too."""
    import uuid

    sc, tag = spark.sparkContext, uuid.uuid4().hex
    st = sc.statusTracker()
    sc.setJobGroup(f"build-{tag}", "jobs started while building")
    try:
        build()
    finally:
        sc.setJobGroup(f"sentinel-{tag}", "sentinel")
        sc.parallelize([1], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.time() + 30
    while not st.getJobIdsForGroup(f"sentinel-{tag}") and time.time() < deadline:
        time.sleep(0.05)
    assert st.getJobIdsForGroup(f"sentinel-{tag}"), "sentinel job never showed"
    return list(st.getJobIdsForGroup(f"build-{tag}"))


def test_state_reads_start_no_spark_job(spark, tmp_path):
    """Building a state read is plan construction only: the schema comes
    from a footer read on the driver, so neither a segmented read
    (compact segment + raw segments) nor a bounded sketch view's state
    read starts a Spark job (schema inference would start one per read)
    before an action."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        _read_state,
        apply_exact_dedup_delta,
        apply_kmv_batch,
        compact_exact_dedup_segments,
        read_exact_dedup_segments,
    )

    exact, kmv = str(tmp_path / "exact"), str(tmp_path / "kmv")
    schema = "doc_id long, text string"
    for b, rows in enumerate([[(1, "a b c")], [(2, "a b c"), (3, "x y")],
                              [(4, "x y")]]):
        apply_exact_dedup_delta(spark.createDataFrame(rows, schema), b, exact,
                                auto_compact=None)
        apply_kmv_batch(spark.createDataFrame(rows, schema), b, kmv, "doc_id")
        if b == 1:
            compact_exact_dedup_segments(spark, exact)

    built = {}
    assert _jobs_started_by(spark, lambda: built.update(
        exact=read_exact_dedup_segments(spark, exact),
        kmv=_read_state(spark, kmv))) == []
    assert sorted((r.doc_id, r.n_copies) for r in built["exact"].collect()) == \
        [(1, 2), (3, 2)]
    assert built["kmv"].count() == 4


def test_minhash_batch_filter_equals_python_filter(spark):
    """minhash_pairs_from_index(batch_ids=...) == the unrestricted pairs
    filtered in Python to pairs with an end in the batch — with duplicate
    batch ids, a pair whose BOTH ends are in the batch (kept once), and a
    batch that touches no bucket (empty answer) — and the restriction
    plans as equi-joins, never a BroadcastNestedLoopJoin."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        minhash_pairs_from_index,
    )

    index = spark.createDataFrame(
        [(0, 11, [1, 2, 3], False), (1, 12, [2, 3], False),
         (2, 13, [4, 5], None), (3, 14, [6, 7, 8], True),
         (0, 15, [3, 9], False)],
        "band_idx int, band_hash long, ids array<long>, over boolean")
    every = sorted(tuple(r) for r in minhash_pairs_from_index(index).collect())
    assert (2, 3, 2) in every  # collides in two bands
    for batch in ([2, 2, 3, 3], [9, 9, 42], [42, 43]):
        ids = spark.createDataFrame([(i,) for i in batch], "doc_id long")
        out = minhash_pairs_from_index(index, batch_ids=ids)
        got = sorted(tuple(r) for r in out.collect())
        assert got == [p for p in every if p[0] in batch or p[1] in batch], batch
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan
    assert not got  # the last batch touches no bucket


@pytest.mark.parametrize("view, add_only", [
    ("exact_dedup", "fingerprint string, doc_id long, n_copies long"),
    ("gram_index", "h long, cnt long, min_okey long, ids array<long>, over boolean"),
    ("minhash_buckets", "band_idx int, band_hash long, ids array<long>, over boolean"),
    ("term_stats", "w string, cf long, df long"),
])
def test_pre_zset_state_raises_a_named_error(spark, tmp_path, view, add_only):
    """State written by the add-only appliers (before the Z-set segment
    format) is not migrated. Reading it, compacting it, or applying a
    batch that triggers compaction raises PreZSetStateError, which names
    the format change and asks for a rebuild, instead of an
    AnalysisException about an unresolved column. The check reads no file
    and starts no Spark job."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming import matview as mv

    state = str(tmp_path / view)
    n_cols = len(add_only.split(","))
    spark.createDataFrame([(None,) * n_cols], add_only).write.parquet(
        f"{state}/segments/b{0:010d}")
    batch = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id long, text string")

    errors = []

    def read():
        try:
            getattr(mv, f"read_{view}_segments")(spark, state)
        except mv.PreZSetStateError as exc:
            errors.append(str(exc))

    assert _jobs_started_by(spark, read) == []
    assert len(errors) == 1 and re.search(r"Z-set segment format.*rebuild", errors[0])
    with pytest.raises(mv.PreZSetStateError, match="add-only"):
        getattr(mv, f"compact_{view}_segments")(spark, state)
    with pytest.raises(mv.PreZSetStateError):
        getattr(mv, f"apply_{view}_delta")(batch, 1, state, auto_compact=2)
