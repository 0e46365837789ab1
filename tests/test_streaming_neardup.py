"""Streaming incremental near-dup: the stateful MinHash-LSH pair stream
must emit, across micro-batches, exactly the batch pipeline's candidate
pairs on the same data (VERDICT r2 item #4)."""

from __future__ import annotations

import json
import time

import pyspark.sql.functions as F

from skylogix_real_time_weather_data_pipeline_spark.ext import dedup
from skylogix_real_time_weather_data_pipeline_spark.streaming.stateful import (
    streaming_minhash_pairs,
)

# near-dup clusters spanning batches: docs 0/3 identical, 1/4 share most
# shingles, 2 and 5 are unrelated
_DOCS = [
    (0, "the quick brown fox jumps over the lazy dog tonight"),
    (1, "pack my box with five dozen liquor jugs for the party"),
    (2, "completely unrelated text about spark execution plans"),
    (3, "the quick brown fox jumps over the lazy dog tonight"),
    (4, "pack my box with five dozen liquor jugs for the occasion"),
    (5, "another unrelated document mentioning watermarks and state"),
]


def test_rowwise_banding_matches_batch_banding(spark):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    rowwise = {
        (r.doc_id, r.band_idx): r.band_hash
        for r in dedup.minhash_bands_rowwise(df).collect()
    }
    sig = dedup.minhash_signatures(df)
    batch = {
        (r.doc_id, r.band_idx): r.band_hash
        for r in sig.select(
            "doc_id", F.explode(F.array(*dedup.band_structs(16, 4))).alias("b")
        ).select("doc_id", "b.band_idx", "b.band_hash").collect()
    }
    assert rowwise == batch


def test_streaming_pairs_equal_batch_pairs_across_micro_batches(spark, tmp_path):
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()
    for name, chunk in (("b1.json", _DOCS[:3]), ("b2.json", _DOCS[3:5]), ("b3.json", _DOCS[5:])):
        with open(src / name, "w") as f:
            for doc_id, text in chunk:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        time.sleep(1.1)  # distinct mtimes → deterministic batch order

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        streaming_minhash_pairs(stream)
        .writeStream.format("memory")
        .queryName("neardup_mem")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    stream_pairs = {
        (r.id_a, r.id_b) for r in spark.table("neardup_mem").collect()
    }
    batch_df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    batch_pairs = {
        (r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(batch_df).collect()
    }
    assert (0, 3) in stream_pairs  # identical docs split across batches
    assert stream_pairs == batch_pairs


def test_incremental_clusters_equal_batch_clusters(spark, tmp_path):
    """Union-find compression: clustering batch-by-batch through the state
    parquet equals one-shot clustering over all pairs."""
    state = str(tmp_path / "cluster_state")
    b1 = spark.createDataFrame([(1, 2), (5, 6)], "id_a long, id_b long")
    b2 = spark.createDataFrame([(2, 3), (6, 7), (10, 11)], "id_a long, id_b long")
    b3 = spark.createDataFrame([(3, 5)], "id_a long, id_b long")  # merges {1,2,3} with {5,6,7}
    for b in (b1, b2, b3):
        out = dedup.incremental_clusters(spark, b, state)
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    want = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(b1.union(b2).union(b3)).collect()
    }
    assert got == want
    assert got[7] == 1  # cross-batch merge collapsed to the global min


def test_streaming_pairs_plus_incremental_clusters_end_to_end(spark, tmp_path):
    """Full streaming dedup: docs stream → stateful LSH pair stream →
    foreachBatch incremental clustering == batch pairs → batch clustering."""
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    state = str(tmp_path / "clusters")
    src.mkdir()
    for name, chunk in (("b1.json", _DOCS[:3]), ("b2.json", _DOCS[3:])):
        with open(src / name, "w") as f:
            for doc_id, text in chunk:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )

    def apply_batch(pairs_batch, batch_id):
        if pairs_batch.isEmpty():
            return
        dedup.incremental_clusters(pairs_batch.sparkSession, pairs_batch, state)

    q = (
        streaming_minhash_pairs(stream)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.doc_id: r.cluster_id for r in spark.read.parquet(state).collect()}
    batch_df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    want = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(dedup.minhash_lsh_pairs(batch_df)).collect()
    }
    assert got == want
    assert got[3] == 0  # cross-batch duplicate landed in doc 0's cluster


def test_delta_clusters_equal_full_recompute(spark, tmp_path):
    """The delta variant (re-run CC only over touched clusters) produces
    the same state as the full recompute, including cross-batch mergers
    and carried-over untouched clusters."""
    full_state = str(tmp_path / "full_state")
    delta_state = str(tmp_path / "delta_state")
    batches = [
        [(1, 2), (5, 6), (20, 21)],          # three separate clusters
        [(2, 3), (6, 7), (10, 11)],          # grow two, add one; {20,21} untouched
        [(3, 5)],                            # merge {1,2,3} with {5,6,7}
        [(30, 31)],                          # brand-new cluster only
    ]
    for rows in batches:
        b = spark.createDataFrame(rows, "id_a long, id_b long")
        dedup.incremental_clusters(spark, b, full_state)
        out = dedup.incremental_clusters_delta(spark, b, delta_state)
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    want = {
        r.doc_id: r.cluster_id
        for r in spark.read.parquet(full_state).collect()
    }
    assert got == want
    assert got[7] == 1 and got[21] == 20 and got[31] == 30


def test_delta_clusters_skips_untouched_components(spark, tmp_path):
    """The CC input subgraph contains only touched clusters' star edges —
    the untouched mass never enters the join loop."""
    state = str(tmp_path / "probe_state")
    b1 = spark.createDataFrame([(1, 2), (5, 6), (20, 21)], "id_a long, id_b long")
    dedup.incremental_clusters_delta(spark, b1, state)

    seen = {}
    def probe(pairs, nodes=None, id_col="doc_id", **kw):
        seen["edges"] = {(r.id_a, r.id_b) for r in pairs.collect()}
        return dedup.connected_components(pairs, nodes, id_col=id_col, **kw)

    b2 = spark.createDataFrame([(2, 3)], "id_a long, id_b long")
    dedup.incremental_clusters_delta(spark, b2, state, algorithm=probe)
    # only cluster {1,2}'s star edge + the new edge — clusters {5,6} and
    # {20,21} stay out of the recompute
    assert seen["edges"] == {(2, 3), (2, 1)}


def test_ingest_loop_all_dedup_views_compose(spark, tmp_path):
    """The production per-ingest loop, end to end: for each arriving
    batch, (1) apply it to the exact-fingerprint, MinHash-bucket and
    gram-index views, then (2) answer the batch's dedup questions FROM
    THE VIEWS — exact-dup membership, near-dup candidates touching the
    batch, and span-removal rewrite of the batch — with no history
    re-scan. After the last batch, every view-driven answer must equal
    the one-shot batch recompute over the full corpus."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        minhash_pairs_from_index,
        substring_dedup_rewrite,
        substring_dedup_rewrite_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        apply_gram_index_delta,
        apply_minhash_buckets_delta,
        read_exact_dedup_segments,
        read_gram_index_segments,
        read_minhash_buckets_segments,
    )
    import pyspark.sql.functions as F

    schema = "doc_id long, text string"
    boiler = "the quick brown fox jumps over the lazy dog again and again tonight"
    batches = [
        [(1, boiler + " alpha beta gamma"), (2, "totally unrelated words here")],
        [(3, boiler + " delta epsilon"),                 # near-dup of 1, later batch
         (4, "totally unrelated words here")],           # exact dup of 2
        [(5, boiler + " alpha beta gamma")],             # exact dup of 1
    ]
    ed, mh, gi = (str(tmp_path / n) for n in ("ed", "mh", "gi"))
    seen = []
    for b, rows in enumerate(batches):
        bdf = spark.createDataFrame(rows, schema)
        seen.extend(rows)
        # (1) maintenance: one pass over the batch per view
        apply_exact_dedup_delta(bdf, b, ed)
        apply_minhash_buckets_delta(bdf, b, mh)
        apply_gram_index_delta(bdf, b, gi, k=4)

        # (2) the batch's dedup answers, from the views only
        ev = read_exact_dedup_segments(spark, ed)
        batch_fp = bdf.select(
            "doc_id", F.md5("text").alias("fingerprint")
        )
        dup_flags = {
            r.doc_id: r.is_dup
            for r in batch_fp.join(
                ev.select("fingerprint", "n_copies"), "fingerprint"
            )
            .select("doc_id", (F.col("n_copies") > 1).alias("is_dup"))
            .collect()
        }
        corpus_so_far = spark.createDataFrame(seen, schema)
        want_fp = {
            r.doc_id: r.n > 1
            for r in corpus_so_far.groupBy(F.md5("text").alias("f"))
            .agg(F.count(F.lit(1)).alias("n"))
            .join(batch_fp.withColumnRenamed("fingerprint", "f"), "f")
            .select("doc_id", "n")
            .collect()
        }
        assert dup_flags == want_fp, (b, dup_flags, want_fp)

    corpus = spark.createDataFrame(seen, schema)

    # exact view == one-shot
    got_ed = sorted(tuple(r) for r in read_exact_dedup_segments(spark, ed).collect())
    want_ed = sorted(tuple(r) for r in exact_dedup(corpus).collect())
    assert got_ed == want_ed

    # near-dup candidates touching the LAST batch, from the bucket view
    last_ids = spark.createDataFrame([(5,)], "doc_id long")
    got_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_pairs_from_index(
            read_minhash_buckets_segments(spark, mh), batch_ids=last_ids
        ).collect()
    }
    want_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(corpus).collect()
        if 5 in (r.id_a, r.id_b)
    }
    assert got_pairs == want_pairs and (1, 5) in got_pairs

    # span-removal rewrite of the whole corpus from the gram index
    got_rw = sorted(
        tuple(r)
        for r in substring_dedup_rewrite_from_index(
            corpus, read_gram_index_segments(spark, gi), k=4
        ).collect()
    )
    want_rw = sorted(tuple(r) for r in substring_dedup_rewrite(corpus, k=4).collect())
    assert got_rw == want_rw
    # the keep-first survivor of the boilerplate run is doc 1; doc 5's
    # exact copy collapses ((doc_id, n_tokens, n_removed, clean_text))
    rw = {r[0]: r for r in got_rw}
    assert rw[1][3] != "" and rw[5][3] == "" and rw[5][2] == rw[5][1]
