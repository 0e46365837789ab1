#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

PARSING NOTE (r13): ``value`` is the calibration-NORMALIZED headline
total (machine drift divided out against the session probe floor) — the
primary round-over-round series. The raw wall-clock total every round
before r13 reported as ``value`` continues as ``value_raw``;
``value_normalized`` duplicates ``value`` for r12-era parsers. Compare
r13+ ``value`` against prior rounds' ``value_normalized`` (r12) or
against ``value_raw`` for the legacy raw series.

PARSING NOTE (r14): the headline set grew from the frozen 21-query core
to 24 (``HEADLINE_R14_ADDITIONS``), the metric name bumped to
``headline24_queries_total_normalized``, and ``value``/``value_raw`` now
total the 24-query set. The old-set series continues unbroken as
``value_core21_raw`` / ``value_core21_normalized`` — compare THOSE
against r13-and-earlier ``value_raw`` / ``value``.

Each query is executed to completion (collect or count — results are small
aggregates by construction) after a warm-up pass of the session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: headline core: every execution shape the engine cares about — scan-heavy
#: agg, multi-join, window, sessionization, dedup joins, similarity, text.
#: This 21-query core is FROZEN — it is the round-to-round comparable
#: series back to BENCH_r01 (reported as value_core21_*); new families
#: append to EXTENDED instead.
HEADLINE_CORE21 = [
    "rel_pricing_summary",
    "rel_revenue_by_nation",
    "rel_top_customers_per_nation",
    "rel_shipping_priority",
    "rel_running_order_total",
    "rel_rollup_lineitem",
    "weather_basic_stats",
    "weather_daily_city_agg",
    "weather_temperature_trends",
    "weather_clean_outliers",
    "stream_tumbling_daily",
    "stream_sessionize",
    "docs_exact_dedup",
    "docs_minhash_lsh_pairs",
    "docs_ngram_jaccard_pairs",
    "docs_token_stats",
    "emb_cosine_topk",
    "emb_lsh_near_dup_pairs",
    "weather_daily_pivot",
    "rel_cube_lineitem",
    "sql_forecast_revenue",
]

#: SERIES BREAK (r14, r13 verdict #10): the headline total now ALSO
#: covers the integer-codegen ANN scan, pigeonhole simhash pair join, and
#: MERGE upsert — three execution shapes the frozen core never exercised.
#: ``value`` = normalized total over CORE21 + these three (metric renamed
#: headline24_queries_total_normalized so no parser silently mixes
#: series); the old 21-query totals continue as value_core21_raw /
#: value_core21_normalized, directly comparable with every round's
#: ``value``/``value_normalized`` back to BENCH_r01.
HEADLINE_R14_ADDITIONS = [
    "emb_hamming_topk",
    "docs_simhash_near_pairs",
    "rel_merge_upsert",
]
HEADLINE = HEADLINE_CORE21 + HEADLINE_R14_ADDITIONS

#: appended per-family coverage (one query per family added since the
#: core froze). Reported separately so the legacy total stays comparable.
EXTENDED = [
    "rel_pagerank",
    "events_anomaly_mad",
    "docs_bm25_topk",
    "docs_hybrid_rrf",
    "docs_remove_dup_chunks",
    "docs_winnowing",
    "emb_ivf_filtered_topk",
    "events_ab_test",
    "docs_lang_source_chisq",
    # r6 sketch family: one per sketch shape — k-minima merge (kmv set
    # algebra subsumes kmv_distinct's scan), register build (hll),
    # counter build (cms), bit filter + probe (bloom), graph joins
    # (triangles)
    "rel_hll_distinct",
    "rel_kmv_intersection",
    "rel_cms_heavy_hitters",
    "rel_bloom_semijoin",
    "rel_triangle_count",
    "rel_priority_sample_revenue",
    "rel_ams_f2",
    "rel_hll_rolling_distinct",
    "rel_bottomk_quantiles",
    # r7: the winnowing PAIR join (the stats map was benched since r5;
    # the posting-list self-join it feeds was a plan-audit blind spot)
    "docs_winnowing_pairs",
    # r8: exact substring-run dedup (two gram-row exchanges — the
    # heaviest shuffle shape in the docs family)
    "docs_substring_dedup",
    "docs_substring_rewrite",
    "docs_substring_pairs",
    # r9 (r8 verdict #5): the remaining top-cost registry rows without
    # round-over-round tracking — interpolated bigram LM, ratio-gate
    # market share. The fixed-k emb_semdedup row benched here r9-r13 was
    # DEMOTED in r14 (r13 verdict #2): its k=4 oracle pin makes cost grow
    # ~n² by parameter choice, so no sweep should exercise it beyond the
    # sf0.01 correctness check the driver already runs; the scale-correct
    # series continues as emb_semdedup_scaledk below.
    "docs_bigram_logprob",
    "rel_market_share",
    # docs_distill_filter deliberately NOT benched: 15 driver-looped
    # training jobs (~20 s) would dominate the wall-clock total without
    # measuring anything scan/shuffle-shaped. Its INFERENCE path is
    # benched instead (r10, r9 verdict #8): the frozen-model scoring
    # scan a curation pipeline pays per ingest batch.
    "docs_distill_score",
    # r10 post-window registration: the LSM segment write/compact/merge
    # protocol driven end to end (apply half, compact, apply half,
    # rewrite from the merged view)
    "docs_substring_rewrite_segmented",
    # r11 retraction family: the end-to-end delete protocols — Z-set
    # apply+tombstone+read for the ANN postings (vector-granular) and the
    # turnstile Count-Sketch (constant-size O(d·w) segments by linearity)
    "emb_ivf_topk_retract",
    "rel_count_sketch_retract",
    # r13 families: canonical-URL dedup (one canonical-hash shuffle) and
    # the sqrt(n)-k SemDeDup (since r14 the ONLY benched SemDeDup
    # configuration — see the fixed-k demotion note above)
    "docs_url_dedup",
    "emb_semdedup_scaledk",
    # r14 curation-scrub family: ordered-regex scan passes (PII
    # redaction, HTML extraction) — pure codegen projections whose
    # series should track scan throughput
    "docs_pii_redact",
    "docs_html_strip",
]


def main() -> int:
    from skylogix_real_time_weather_data_pipeline_spark.session import get_spark

    import __spark_entry__ as entrymod

    # size scan splits to the dataset so every core participates: target
    # ~2 tasks per core over the largest table. At cluster scale the data
    # dictates partitioning and the 128m default in session.py is right;
    # this only matters when a whole SF fits in a handful of row groups.
    biggest = max(
        os.path.getsize(os.path.join(SF_DIR, f))
        for f in os.listdir(SF_DIR)
        if f.endswith(".parquet")
    )
    split = max(1 << 20, biggest // (int(CPUS) * 2))
    spark = get_spark(
        app_name="skylogix-bench",
        master=f"local[{CPUS}]",
        extra_conf={"spark.sql.files.maxPartitionBytes": str(split)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # warm the JVM codegen path and the Arrow python-worker pool once
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    _warm = pandas_udf(lambda s: s * 1.0, "double")
    spark.range(1000).select(_warm(F.col("id").cast("double"))).count()

    # environment calibration: a fixed double-sum scan over lineitem whose
    # code never changes round to round, so machine/load drift in
    # BENCH_r{N}.json is separable from code regressions (best of 3).
    # INTERLEAVED since r10 (r9 verdict #1): a single up-front probe
    # cannot see load arriving mid-run — the committed r9 numbers carried
    # a uniform +30-90 % normalized inflation across the late-run
    # EXTENDED series, including rows whose code hadn't changed since r6.
    # The probe now re-runs every _CAL_EVERY queries; each row records
    # the probe in force for its block (calibration_at), and the whole
    # probe series is committed (calibration_series) so drift is a
    # measured fact, not an inference. The legacy 'calibration' field
    # stays the FIRST probe — comparable with the one-shot value every
    # prior round recorded.
    def _cal_probe(reps: int = 2) -> float:
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            spark.read.parquet(f"{SF_DIR}/lineitem.parquet").agg(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).collect()
            el = time.perf_counter() - t0
            best = el if best is None or el < best else best
        return best

    # calibration GATE (r12, r11 verdict #1): BENCH_r11's committed 19.23 s
    # headline was measured machine noise — its first probe ran 0.436 s vs
    # the ~0.2 s steady floor and every shared row slowed 1.1-2.7×
    # uniformly. A contaminated START is detectable before any query runs:
    # sample the probe until the latest reading sits within 1.15× of the
    # best seen (up to 6 tries, 5 s apart), so a noisy-neighbor burst
    # delays the run instead of seeding a false baseline. Sustained noise
    # a gate cannot wait out is handled downstream: every row is also
    # reported CALIBRATION-NORMALIZED against the session floor (see
    # value_normalized), so the committed artifact separates machine from
    # code by construction. The gate series and pass/fail are committed.
    gate_series = [round(_cal_probe(reps=3), 3)]
    gate_passed = True
    for _ in range(5):
        if gate_series[-1] <= 1.15 * min(gate_series) and (
                len(gate_series) > 1 or gate_series[-1] <= 0.35):
            break
        why = (f"above 1.15x floor {min(gate_series):.3f}s"
               if gate_series[-1] > 1.15 * min(gate_series)
               else "first probe above the 0.35s sanity bound")
        print(f"# calibration gate: probe {gate_series[-1]:.3f}s {why} "
              f"— resampling", file=sys.stderr)
        time.sleep(5)
        gate_series.append(round(_cal_probe(reps=3), 3))
    else:
        gate_passed = gate_series[-1] <= 1.15 * min(gate_series)
    cal = gate_series[-1]

    import statistics

    from skylogix_real_time_weather_data_pipeline_spark.cache import (
        release_owned_caches,
    )

    # codegen compiles per row (Janino runs, from Spark's CodegenMetrics
    # histogram count), summed over the row's timed reps only: a row
    # that compiles in every rep is paying code generation, not data
    # work. Written to bench_detail.json.
    _compile_hist = (spark._jvm.org.apache.spark.metrics.source
                     .CodegenMetrics.METRIC_COMPILATION_TIME())
    compiles: dict[str, int] = {}

    def _median_time(run, row: str) -> tuple[float, int]:
        """Median of 3 executions (the first still pays per-plan codegen
        compilation; the median discards that outlier without the
        best-of-N bias toward lucky scheduling). Owned caches are drained
        after each execution — the drain itself runs outside the timed
        span, but NOTE the comparability break it introduces (r8
        advisor): queries that persist internally (graph deg/oriented,
        posting lists, LM tables) now REBUILD those frames inside every
        timed rep, where the pre-r8 series let reps 2-3 reuse them warm.
        Persist-free queries are unaffected. The r8 numbers are the
        honest per-run cost and are the baseline for those rows going
        forward (docs_ngram_jaccard_pairs 0.91 → 1.60 s was this
        methodology change, not a code regression — see ROADMAP r9).
        Why drain at all: the operators register a fresh owned entry per
        run, and before the drain the 50-query bench accumulated
        hundreds of cached frames, squeezing executor memory under every
        LATE row (measured: rel_triangle_count / docs_winnowing_pairs
        drifting ~1.5× calibration-normalized by the end of the run while
        early rows held). local_verify and the scaling probe drain
        identically, so per-query numbers measure the query, not the
        bench's position in the list."""
        times, n = [], 0
        for _ in range(3):
            c0 = _compile_hist.getCount()
            t0 = time.perf_counter()
            n = run()
            times.append(time.perf_counter() - t0)
            compiles[row] = compiles.get(row, 0) + _compile_hist.getCount() - c0
            release_owned_caches(spark)
        return statistics.median(times), n

    # Two executors per query:
    # - count(): the legacy r1-comparable series. CAVEAT (discovered r5):
    #   Catalyst prunes aggregate expressions count() doesn't need, so a
    #   query's FOLD cost can be invisible here — only the scan/shuffle
    #   skeleton is measured.
    # - noop write: materializes every output row through the executors
    #   (no driver collect), so expression/fold costs are real. This is
    #   the honest end-to-end number; recorded alongside, never mixed
    #   into the legacy total.
    timings: dict[str, float] = {}
    mat: dict[str, float] = {}
    _CAL_EVERY = 8
    cal_series: list[float] = [round(cal, 3)]
    cal_at: dict[str, float] = {}
    for i, name in enumerate(HEADLINE + EXTENDED):
        if i and i % _CAL_EVERY == 0:
            cal_series.append(round(_cal_probe(), 3))
            print(f"# calibration probe [{i}]: {cal_series[-1]:.3f}s",
                  file=sys.stderr)
        fn = qs[name]
        med, n = _median_time(lambda: fn(spark, SF_DIR).count(), name)
        timings[name] = round(med, 4)
        med_m, _ = _median_time(
            lambda: fn(spark, SF_DIR).write.format("noop").mode("overwrite").save() or n,
            name,
        )
        mat[name] = round(med_m, 4)
        cal_at[name] = cal_series[-1]
        print(
            f"# {name}: {timings[name]:.3f}s count / {mat[name]:.3f}s materialized ({n} rows)",
            file=sys.stderr,
        )

    # matview maintenance cycle (EXTENDED perf visibility for the
    # production index-maintenance split): build the term-stats view from
    # half the corpus, APPEND the other half as an incremental batch, then
    # re-score BM25 against the maintained view — the steady-state cost a
    # production deployment pays per ingest batch, vs re-tokenizing the
    # corpus. Fresh state dir per run (median-of-3 like everything else).
    #
    # SERIES BREAK (r15, r14 verdict #3): the two applies now go through
    # the SEGMENTED term-stats appliers submitted from a thread pool —
    # the same commutativity contract as the doc-views/count-sketch
    # pooling (immutable per-batch segments + Z-set weight fold;
    # equivalence pytest-pinned in
    # test_pooled_term_stats_deltas_match_sequential) — then one
    # post-drain maybe_compact (a no-op at 2 data segments, like the
    # sequential protocol). The r11-r14 series used the FULL-REWRITE
    # protocol (apply_term_stats_batch: read view + outer-join + rewrite,
    # serialized per batch), whose second apply is O(view) and whose two
    # apply latencies sat back to back on the cycle's critical path —
    # compare r15+ numbers for this row against r14-and-earlier with
    # that protocol change in mind. BM25 answers are identical (the fold
    # and the combined view agree; pytest-pinned since r10).
    # A second break: the term-stats segments are now doc-granular Z-set
    # rows (term, doc, tf, ±1), the one segment format of the doc views,
    # instead of pre-aggregated (cf, df) partials.
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as SF

    from skylogix_real_time_weather_data_pipeline_spark.ext.text import (
        bm25_topk_from_stats,
        tokens,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_term_stats_delta,
        compact_term_stats_segments,
        maybe_compact,
        read_term_stats_segments,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    half1 = docs.filter(SF.col("doc_id") % 2 == 0)
    half2 = docs.filter(SF.col("doc_id") % 2 == 1)
    n_docs = docs.count()
    avgdl = (
        docs.select(SF.sum(SF.size(tokens("text"))).alias("s")).collect()[0].s
        / n_docs
    )

    def _matview_cycle() -> int:
        root = tempfile.mkdtemp(prefix="bench_matview_")
        state = f"{root}/view"
        try:
            with ThreadPoolExecutor(max_workers=2) as pool:
                futs = [
                    pool.submit(apply_term_stats_delta, half, b, state,
                                auto_compact=None)
                    for b, half in enumerate((half1, half2))
                ]
                for f in futs:
                    f.result()
            maybe_compact(spark, state, compact_term_stats_segments)
            stats = read_term_stats_segments(spark, state)
            return bm25_topk_from_stats(
                docs, stats, n_docs, avgdl, ["data", "model"], k=10
            ).count()
        finally:
            shutil.rmtree(root, ignore_errors=True)

    cal_series.append(round(_cal_probe(), 3))
    med_mv, n_mv = _median_time(_matview_cycle, "matview_term_stats_cycle")
    timings["matview_term_stats_cycle"] = round(med_mv, 4)
    mat["matview_term_stats_cycle"] = round(med_mv, 4)  # cycle IS materialized
    cal_at["matview_term_stats_cycle"] = cal_series[-1]
    print(
        f"# matview_term_stats_cycle: {med_mv:.3f}s ({n_mv} rows)",
        file=sys.stderr,
    )

    # sketch-view maintenance cycle (r7): build the KMV+HLL+CMS summary
    # views from half of orders, apply the other half as the incremental
    # batch, then read every view back — the per-ingest-batch steady
    # state of the profile-store deployment (constant-size state, no
    # fact re-scan). Mirrors matview_term_stats_cycle's protocol.
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_sketch_views_batch,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    ohalf1 = orders.filter(SF.col("o_orderkey") % 2 == 0)
    ohalf2 = orders.filter(SF.col("o_orderkey") % 2 == 1)

    def _sketch_views_cycle() -> int:
        root = tempfile.mkdtemp(prefix="bench_skviews_")
        try:
            for b, half in enumerate((ohalf1, ohalf2)):
                # fused apply (r8): one shared scan of the batch feeds all
                # four monoid deltas; per-view replay-guarded commits stay
                apply_sketch_views_batch(
                    half, b, root, "o_custkey",
                    value_col="o_totalprice", bk_key_col="o_orderkey",
                )
            return sum(
                spark.read.parquet(f"{root}/{v}").count()
                for v in ("kmv", "hll", "cms", "bottomk")
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)

    med_sv, n_sv = _median_time(_sketch_views_cycle, "maintain_sketch_views_cycle")
    timings["maintain_sketch_views_cycle"] = round(med_sv, 4)
    mat["maintain_sketch_views_cycle"] = round(med_sv, 4)
    cal_at["maintain_sketch_views_cycle"] = cal_series[-1]
    print(
        f"# maintain_sketch_views_cycle: {med_sv:.3f}s ({n_sv} rows)",
        file=sys.stderr,
    )

    # composed per-ingest dedup cycle (r11, r10 verdict #5): the repo's
    # deployment story as ONE tracked number — apply a corpus history
    # (90%) then an ingest batch (10%) to the three maintained doc views
    # via the SEGMENTED appliers (auto-compaction at its default
    # trigger), then answer the ingest batch's dedup questions FROM THE
    # VIEWS: exact-dup membership, near-dup candidate pairs touching the
    # batch, and the batch's span-removal rewrite. Mirrors the
    # test_ingest_loop_all_dedup_views_compose composition and the
    # INGEST_SCALE_r10 sf10x probe, at sf0.1 with a round-over-round
    # series.
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        minhash_pairs_from_index,
        substring_dedup_rewrite_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_doc_views_deltas,
        read_exact_dedup_segments,
        read_gram_index_segments,
        read_minhash_buckets_segments,
    )

    history = docs.filter(SF.col("doc_id") % 10 != 0)
    ingest = docs.filter(SF.col("doc_id") % 10 == 0)

    def _ingest_dedup_cycle() -> int:
        from concurrent.futures import ThreadPoolExecutor

        root = tempfile.mkdtemp(prefix="bench_ingest_")
        ed, mh, gi = f"{root}/ed", f"{root}/mh", f"{root}/gi"
        try:
            # fused CONCURRENT apply (r14, r13 verdict #1): all six
            # (batch, view) delta jobs in one pool — batch application
            # commutes (immutable per-batch segments + monoid read fold,
            # equivalence pytest-pinned), so the history bootstrap and
            # the ingest batch no longer serialize on a per-batch
            # barrier. State and answers identical to the r11-r13
            # sequential form.
            apply_doc_views_deltas([(history, 0), (ingest, 1)], ed, mh, gi)

            # the three dedup ANSWERS are independent read-only jobs over
            # disjoint view states — submit them concurrently, the same
            # multi-threaded job-submission shape apply_doc_views_delta
            # uses for the write side (r13, r12 verdict #4): local[n]
            # interleaves the three read→join→agg pipelines instead of
            # paying their latencies back to back, exactly what a
            # deployment's query fan-out does.
            answers = {
                "exact": lambda: (
                    ingest.select("doc_id", SF.md5("text").alias("fingerprint"))
                    .join(
                        read_exact_dedup_segments(spark, ed)
                        .select("fingerprint", "n_copies"),
                        "fingerprint",
                    )
                    .filter(SF.col("n_copies") > 1)
                    .count()
                ),
                "minhash": lambda: minhash_pairs_from_index(
                    read_minhash_buckets_segments(spark, mh),
                    batch_ids=ingest.select("doc_id"),
                ).count(),
                "gram": lambda: substring_dedup_rewrite_from_index(
                    ingest, read_gram_index_segments(spark, gi)
                ).count(),
            }
            with ThreadPoolExecutor(max_workers=len(answers)) as pool:
                futures = [pool.submit(fn) for fn in answers.values()]
            return sum(f.result() for f in futures)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    cal_series.append(round(_cal_probe(), 3))
    med_ic, n_ic = _median_time(_ingest_dedup_cycle, "ingest_dedup_cycle")
    timings["ingest_dedup_cycle"] = round(med_ic, 4)
    mat["ingest_dedup_cycle"] = round(med_ic, 4)
    cal_at["ingest_dedup_cycle"] = cal_series[-1]
    cal_series.append(round(_cal_probe(), 3))  # closing probe: end-state load
    print(
        f"# ingest_dedup_cycle: {med_ic:.3f}s ({n_ic} rows)",
        file=sys.stderr,
    )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    total = round(sum(timings[q] for q in HEADLINE), 4)
    total_core21 = round(sum(timings[q] for q in HEADLINE_CORE21), 4)
    # The driver's record keeps only the last 2000 chars of stdout and
    # json-parses the captured text (BENCH_r05: tail len exactly 2000,
    # parsed null — the full two-map line didn't fit and the judge had to
    # reconstruct the headline total from the truncated tail). So stdout
    # gets ONE compact line holding the contract fields plus the count-
    # mode per-query map (~1.6 KB — parses whole), with the aggregates
    # LAST so even a future truncation keeps them; the materialized map
    # and totals go to bench_detail.json next to this script (committed
    # per-round as BENCH_LOCAL_r{N}.json) and to stderr above.
    # calibration-normalized series (r12): each row scaled by
    # (session floor probe / probe in force for its block) — machine
    # drift DURING the run divides out, so a noisy window inflates
    # neither the row nor the headline. value stays the raw measurement
    # (the r1-comparable contract number); value_normalized is the
    # machine-separated one the round-over-round comparisons should key
    # on alongside min-of-N floors.
    cal_floor = min(cal_series)
    norm = {
        k: round(v * cal_floor / max(cal_at[k], 1e-9), 4)
        for k, v in timings.items()
    }
    total_norm = round(sum(norm[q] for q in HEADLINE), 4)
    total_core21_norm = round(sum(norm[q] for q in HEADLINE_CORE21), 4)
    # PRIMARY HEADLINE since r13 (r12 verdict #3): value = the
    # calibration-NORMALIZED headline total — the machine-separated
    # number round-over-round comparisons key on (raw swung 19.23→18.80
    # between r11/r12 purely on machine load while normalized held
    # 10.11→10.07). The raw r1-comparable measurement stays as value_raw
    # (and the r12-era value_normalized alias is kept so existing
    # parsers of either series keep working).
    # SERIES BREAK r14 (r13 verdict #10): the headline set grew 21→24
    # (see HEADLINE_R14_ADDITIONS) and the metric name bumped with it;
    # value_core21_raw / value_core21_normalized carry the old-set totals
    # so the r1..r13 series stays directly comparable.
    detail = {
        "metric": "headline24_queries_total_normalized",
        "unit": "sec",
        "sf": sf_val,
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "queries_normalized": {k: round(v, 3) for k, v in norm.items()},
        "materialized": {k: round(v, 3) for k, v in mat.items()},
        "codegen_compiles": compiles,
        "calibration": round(cal, 3),
        "calibration_gate": {"series": gate_series, "passed": gate_passed},
        "calibration_floor": cal_floor,
        "calibration_series": cal_series,
        "calibration_at": cal_at,
        "expanded_total": round(sum(timings.values()), 3),
        "materialized_total": round(sum(mat.values()), 3),
        "value_core21_raw": total_core21,
        "value_core21_normalized": total_core21_norm,
        "value_raw": total,
        "value_normalized": total_norm,
        "value": total_norm,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_detail.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    # queries_normalized and calibration_series stay out of the stdout
    # line for the same 2000-char-tail reason as the materialized map
    # (the r12 line measured 1951 bytes WITH the series — one more
    # registry row would truncate the front and break the parse); both
    # live in bench_detail (committed per-round as BENCH_LOCAL_r{N}.json).
    # The scalar value_normalized / gate / floor fields ride in the line.
    line = {k: v for k, v in detail.items()
            if k not in ("materialized", "calibration_at", "codegen_compiles",
                         "queries_normalized", "calibration_series")}
    print(json.dumps(line, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
