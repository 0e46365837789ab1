"""Extension-operator queries: dedup / similarity / text analysis over the
``documents`` and ``embeddings`` tables (the LLM-training-data surface).

Hashing is md5-based everywhere (ext.dedup._md5_long) precisely so these
oracles can reproduce signatures bit-for-bit in DuckDB. The oracle token /
shingle pipelines mirror ext.text.tokens / ext.text.shingles expression by
expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ext import dedup, similarity, text
from ..ext import pii as piiops
from ..ext import url as urlops
from ..functions.exact import dmean, sql_dsumx, sql_fsum, sql_fsum_units

_N_HASHES = 16
_BANDS = 4
_SIMHASH_BITS = 60  # 15-bit pigeonhole chunks at max_hamming=3 (scale default)
#: degeneracy caps — passed explicitly to the Spark queries AND mirrored in
#: the oracle SQL (same capped universe on both sides, so the comparison
#: stays bit-exact even at scale factors where a cap actually triggers)
_MAX_BUCKET = 100_000
_MAX_SHINGLE_DF = 100_000

#: a sibling state dir untouched for this long is a dead app's leak, not a
#: live concurrent session (maintainers write segments continuously)
_STALE_SIBLING_SECONDS = 6 * 3600


def _newest_mtime(path: str) -> float:
    """Newest mtime anywhere under ``path`` (the dir itself, every subdir,
    every file). A live view maintainer renames segment dirs and writes
    parquet files continuously, so this is a faithful liveness signal; the
    walk is bounded by the state dir's own file count."""
    import os

    newest = 0.0
    try:
        newest = os.path.getmtime(path)
        for dirpath, dirnames, filenames in os.walk(path):
            for name in dirnames + filenames:
                try:
                    newest = max(
                        newest, os.path.getmtime(os.path.join(dirpath, name))
                    )
                except OSError:
                    continue  # racing a concurrent delete/rename
    except OSError:
        pass
    return newest


def _session_state_dir(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """Deterministic per-(session, sf_dir) temp directory for driver
    queries that exercise maintained-view machinery: rebuilt (rmtree) on
    every call so the replay guard never sees stale batch ids from an
    earlier code version, unique per Spark app so concurrent sessions
    cannot collide. The directory is left in place after the query — the
    view artifact IS the point of the maintenance split (and the next
    invocation clears it).

    Stale SIBLINGS — the same (prefix, sf_dir) left by EARLIER Spark
    apps, whose applicationIds never recur — are swept here too (r10
    ADVICE): without the sweep every session run leaked its predecessor's
    gram-index/term-stats state into the system temp dir forever, and a
    corpus-sized gram index is not small. The sweep is AGE-GATED by
    recursive-max mtime (r10 ADVICE, medium): app id alone cannot
    distinguish a dead predecessor from a LIVE concurrent app running the
    same *_indexed query against the same sf_dir, and an app-id-only
    sweep would delete that live session's view state mid-query. A live
    maintainer writes segments/batches continuously, so any sibling whose
    newest file is hours old is a leak, not a peer; a just-started peer's
    dir is always fresh. Dirs younger than the gate are left alone and
    collected by whichever session next runs after they go cold."""
    import glob
    import hashlib
    import os
    import shutil
    import tempfile
    import time

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    app = spark.sparkContext.applicationId
    # '__' separators keep the sweep glob unambiguous: with plain '_' a
    # sweep for prefix 'x' would also match sibling prefix 'x_sp' dirs
    # (the wildcard swallowing 'sp_<app>'), deleting another query's
    # state. Prefixes never contain '__'.
    root = os.path.join(tempfile.gettempdir(), f"{prefix}__{app}__{tag}")
    gate = time.time() - _STALE_SIBLING_SECONDS
    for stale in glob.glob(
        os.path.join(tempfile.gettempdir(), f"{prefix}__*__{tag}")
    ):
        if stale != root and _newest_mtime(stale) < gate:
            shutil.rmtree(stale, ignore_errors=True)
    shutil.rmtree(root, ignore_errors=True)
    return root


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table

    return load_table(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table

    return load_table(spark, sf_dir, "embeddings")


#: DuckDB mirrors of ext.text.tokens / ext.text.shingles(n=3)
TOK_CTE = """
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(range(1, len(tk) - 1),
                                    i -> array_to_string(list_slice(tk, i, i + 2), ' '))
                ELSE [array_to_string(tk, ' ')] END
         ) AS shingles
  FROM toks
)
"""

#: 60-bit portable hash (mirror of ext.dedup._md5_long)
def _sql_hash(seed: int, expr: str) -> str:
    return f"CAST(concat('0x', substr(md5(concat('{seed}|', {expr})), 1, 15)) AS BIGINT)"


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


def _sql_divha(n: str, d: str) -> str:
    """Half-away integer division for a non-negative numerator."""
    return f"((2*({n}) + ({d})) // (2*({d})))"


def _sql_sdivha(n: str, d: str) -> str:
    return (f"(CASE WHEN ({n}) >= 0 THEN {_sql_divha(n, d)} "
            f"ELSE -{_sql_divha(f'-({n})', d)} END)")


O_EXACT_DEDUP = """
SELECT md5(text) AS fingerprint,
       MIN(doc_id) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents GROUP BY md5(text)
"""


# --------------------------------------------------------------------------
# MinHash signatures (bit-for-bit oracle via md5 hashing)
# --------------------------------------------------------------------------

def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(_docs(spark, sf_dir), n_hashes=_N_HASHES)


_mh_cols = ",\n       ".join(
    f"MIN(({a} * h1 + {b} * h2) % {dedup.MH_P}) AS mh{i:02d}"
    for i, (a, b) in enumerate(dedup.mh_params(_N_HASHES))
)
_HASHED_CTE = f"""
, exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
, hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % {dedup.MH_P} AS h1,
         CAST(concat('0x', substr(md5(shingle), 16, 15)) AS BIGINT) % {dedup.MH_P} AS h2
  FROM exploded
)
"""
O_MINHASH_SIGNATURES = TOK_CTE + _HASHED_CTE + f"""
SELECT doc_id,
       {_mh_cols}
FROM hashed GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# MinHash LSH candidate pairs
# --------------------------------------------------------------------------

def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), n_hashes=_N_HASHES, bands=_BANDS, max_bucket_size=_MAX_BUCKET
    )


def q_minhash_pairs_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs answered from the MAINTAINED
    band-bucket view (r10): build the view over two corpus halves as
    replay-guarded segment applies
    (streaming/matview.py:apply_minhash_buckets_delta — per-doc
    signatures are pure functions of the document, segments carry
    doc-granular memberships and the bucket cap applies at read time),
    then read candidate pairs entirely from the segment-merged view (streaming/matview.py:
    read_minhash_buckets_segments → ext/dedup.py:minhash_pairs_from_index
    — no corpus scan, no signature recomputation). The oracle is
    byte-identical to docs_minhash_lsh_pairs's: maintained buckets ==
    one-shot buckets is the operator's contract, so the driver's hash
    check certifies the incremental LSH-index machinery itself."""
    import os

    from ..streaming.matview import (
        apply_minhash_buckets_delta,
        read_minhash_buckets_segments,
    )

    docs = _docs(spark, sf_dir)
    root = _session_state_dir(spark, sf_dir, "skylogix_minhash_idx")
    state = os.path.join(root, "view")
    apply_minhash_buckets_delta(
        docs.filter(F.col("doc_id") % 2 == 0), 0, state,
        n_hashes=_N_HASHES, bands=_BANDS,
    )
    apply_minhash_buckets_delta(
        docs.filter(F.col("doc_id") % 2 == 1), 1, state,
        n_hashes=_N_HASHES, bands=_BANDS,
    )
    view = read_minhash_buckets_segments(spark, state, max_bucket_size=_MAX_BUCKET)
    return dedup.minhash_pairs_from_index(view, max_bucket_size=_MAX_BUCKET)


def q_exact_dedup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup read from the MAINTAINED fingerprint view (r10): two
    replay-guarded segment applies
    (streaming/matview.py:apply_exact_dedup_delta — +1-weight
    (fingerprint, doc) rows; the read fold elects the MIN survivor and
    counts live copies), then the segment-merged view
    (streaming/matview.py:read_exact_dedup_segments) IS the answer — the
    membership table a deployment probes per ingest batch without
    re-hashing history. Oracle byte-identical to docs_exact_dedup's (maintained
    view == one-shot hash-groupBy is the monoid contract)."""
    import os

    from ..streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
    )

    docs = _docs(spark, sf_dir)
    root = _session_state_dir(spark, sf_dir, "skylogix_exact_idx")
    state = os.path.join(root, "view")
    apply_exact_dedup_delta(docs.filter(F.col("doc_id") % 2 == 0), 0, state)
    apply_exact_dedup_delta(docs.filter(F.col("doc_id") % 2 == 1), 1, state)
    return read_exact_dedup_segments(spark, state)


def q_exact_dedup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot (time-travel) read under the driver's eye (r11): ingest
    two batches into the retractable exact-dedup view, RETRACT a shard
    as batch 2 — then read AS OF batch 1, i.e. the view as it stood
    BEFORE the delete (streaming/matview.py:read_*_as_of merges only
    segments with batch id <= as_of; the audit question a curation loop
    asks after a bad correction ships). The pre-delete snapshot over the
    full corpus makes the oracle byte-identical to docs_exact_dedup's —
    a driver hash certifies that the tombstone segment is genuinely
    excluded from the historical read, not merely compensated."""
    import os

    from ..streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_as_of,
        retract_exact_dedup_delta,
    )

    docs = _docs(spark, sf_dir)
    root = _session_state_dir(spark, sf_dir, "skylogix_exact_asof")
    state = os.path.join(root, "view")
    apply_exact_dedup_delta(
        docs.filter(F.col("doc_id") % 2 == 0), 0, state, auto_compact=None)
    apply_exact_dedup_delta(
        docs.filter(F.col("doc_id") % 2 == 1), 1, state, auto_compact=None)
    retract_exact_dedup_delta(
        docs.filter(F.col("doc_id") % 7 == 3), 2, state, auto_compact=None)
    return read_exact_dedup_as_of(spark, state, 1).select(
        "fingerprint", "doc_id", "n_copies"
    )


def q_minhash_pairs_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs AFTER A DELETE (r11): maintain the
    RETRACTABLE LSH-bucket view (doc-granular (band, bucket, doc) Z-set
    memberships, streaming/matview.py:apply_minhash_buckets_delta)
    over two batches, tombstone the doc_id % 7 == 3 shard, and answer
    pairs from the live view with no corpus scan
    (ext/dedup.py:minhash_pairs_from_index). Retraction changes real
    answers here: pairs touching retracted docs vanish, and a bucket
    that overflowed the cap RECOVERS when members retract (the cap is
    recomputed from live members at read time). Oracle = the
    one-shot pair detector's SQL over the survivors."""
    import os

    from ..streaming.matview import (
        apply_minhash_buckets_delta,
        read_minhash_buckets_segments,
        retract_minhash_buckets_delta,
    )

    docs = _docs(spark, sf_dir)
    root = _session_state_dir(spark, sf_dir, "skylogix_minhash_rz")
    state = os.path.join(root, "view")
    apply_minhash_buckets_delta(
        docs.filter(F.col("doc_id") % 2 == 0), 0, state,
        n_hashes=_N_HASHES, bands=_BANDS)
    apply_minhash_buckets_delta(
        docs.filter(F.col("doc_id") % 2 == 1), 1, state,
        n_hashes=_N_HASHES, bands=_BANDS)
    retract_minhash_buckets_delta(
        docs.filter(F.col("doc_id") % 7 == 3), 2, state,
        n_hashes=_N_HASHES, bands=_BANDS)
    view = read_minhash_buckets_segments(
        spark, state, max_bucket_size=_MAX_BUCKET)
    return dedup.minhash_pairs_from_index(view, max_bucket_size=_MAX_BUCKET)


# the one-shot pair oracle evaluated over the surviving corpus (the
# TOK_CTE base table filter is the only change vs O_MINHASH_LSH_PAIRS)
O_MINHASH_PAIRS_RETRACT = None  # assigned below, after O_MINHASH_LSH_PAIRS


def q_minhash_pairs_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog maintenance over a SECOND view family (r12, r11
    verdict #5): the generic router
    streaming/matview.py:maintain_changelog_view had a driver hash only
    through the exact-dedup view, whose read fold is MIN/ADD monoids.
    This row drives the identical writeStream→foreachBatch→even/odd
    segment routing against the retractable LSH-BUCKET view, whose read
    path is capped collect_set semantics (over-cap collapse + recovery
    under deletes) — the other monoid shape the router must preserve.
    Three single-file micro-batches (even ids +1, odd ids +1, the
    doc_id % 7 == 3 shard as -1 deletes); pairs are answered from the
    live view with no corpus scan. Net survivors equal
    docs_minhash_pairs_retract's, so the oracle is byte-identical and a
    hash match certifies the routing, not just the appliers."""
    import os

    from ..streaming.matview import (
        apply_minhash_buckets_delta,
        maintain_changelog_view,
        read_minhash_buckets_segments,
        retract_minhash_buckets_delta,
    )

    docs = _docs(spark, sf_dir)
    root = _session_state_dir(spark, sf_dir, "skylogix_minhash_cdc")
    state = os.path.join(root, "view")
    cdc_dir = os.path.join(root, "changelog")
    for i, part in enumerate((
        docs.filter(F.col("doc_id") % 2 == 0).withColumn("op", F.lit(1)),
        docs.filter(F.col("doc_id") % 2 == 1).withColumn("op", F.lit(1)),
        docs.filter(F.col("doc_id") % 7 == 3).withColumn("op", F.lit(-1)),
    )):
        part.select("doc_id", "text", "op").coalesce(1).write.mode(
            "overwrite").parquet(os.path.join(cdc_dir, f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, text string, op int")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(cdc_dir, "b*"))
    )
    maintain_changelog_view(
        stream, state, os.path.join(root, "ckpt"),
        apply_fn=lambda df, bid, sd: apply_minhash_buckets_delta(
            df, bid, sd, n_hashes=_N_HASHES, bands=_BANDS),
        retract_fn=lambda df, bid, sd: retract_minhash_buckets_delta(
            df, bid, sd, n_hashes=_N_HASHES, bands=_BANDS),
    )
    view = read_minhash_buckets_segments(
        spark, state, max_bucket_size=_MAX_BUCKET)
    return dedup.minhash_pairs_from_index(view, max_bucket_size=_MAX_BUCKET)


def q_exact_dedup_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r11 curation-loop deletion path: ingest the corpus into the
    RETRACTABLE exact-dedup view (doc-granular Z-set segments,
    streaming/matview.py:apply_exact_dedup_delta) in two
    batches, then retract a corrected shard (doc_id % 7 == 3) as a
    tombstone batch — including fingerprints whose stored MIN survivor is
    retracted, the case a stored (min, count) aggregate cannot express
    without a full rebuild. The read fold must equal a rebuild over the
    surviving corpus, which is exactly what the oracle computes."""
    import os

    from ..streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
    )

    docs = _docs(spark, sf_dir)
    root = _session_state_dir(spark, sf_dir, "skylogix_exact_rz")
    state = os.path.join(root, "view")
    apply_exact_dedup_delta(
        docs.filter(F.col("doc_id") % 2 == 0), 0, state)
    apply_exact_dedup_delta(
        docs.filter(F.col("doc_id") % 2 == 1), 1, state)
    retract_exact_dedup_delta(docs.filter(F.col("doc_id") % 7 == 3), 2, state)
    return read_exact_dedup_segments(spark, state).select(
        "fingerprint", "doc_id", "n_copies"
    )


O_EXACT_DEDUP_RETRACT = """
SELECT md5(text) AS fingerprint,
       MIN(doc_id) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
WHERE doc_id % 7 <> 3
GROUP BY md5(text)
"""


def q_exact_dedup_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full CDC deployment shape (r11): the corpus arrives as a
    CHANGELOG STREAM — rows carrying op (+1 upsert / -1 delete) — and
    streaming/matview.py:maintain_changelog_view routes each micro-batch
    through the Z-set apply/tombstone appliers as replay-guarded even/odd
    segments (2b adds, 2b+1 deletes). Three single-file micro-batches:
    the even-id docs, the odd-id docs, then a correction batch deleting
    the doc_id % 7 == 3 shard. Net survivors equal docs_exact_dedup_retract's
    — the oracle is byte-identical, so the driver hash certifies the
    writeStream→foreachBatch→segment protocol end to end, not just the
    appliers it shares with the manual row."""
    import os

    from ..streaming.matview import (
        apply_exact_dedup_delta,
        maintain_changelog_view,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
    )

    docs = _docs(spark, sf_dir)
    root = _session_state_dir(spark, sf_dir, "skylogix_exact_cdc")
    state = os.path.join(root, "view")
    cdc_dir = os.path.join(root, "changelog")
    # one parquet file per micro-batch, written in arrival order
    for i, part in enumerate((
        docs.filter(F.col("doc_id") % 2 == 0).withColumn("op", F.lit(1)),
        docs.filter(F.col("doc_id") % 2 == 1).withColumn("op", F.lit(1)),
        docs.filter(F.col("doc_id") % 7 == 3).withColumn("op", F.lit(-1)),
    )):
        part.select("doc_id", "text", "op").coalesce(1).write.mode(
            "overwrite").parquet(os.path.join(cdc_dir, f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, text string, op int")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(cdc_dir, "b*"))
    )
    maintain_changelog_view(
        stream, state, os.path.join(root, "ckpt"),
        apply_fn=lambda df, bid, sd: apply_exact_dedup_delta(df, bid, sd),
        retract_fn=lambda df, bid, sd: retract_exact_dedup_delta(df, bid, sd),
    )
    return read_exact_dedup_segments(spark, state).select(
        "fingerprint", "doc_id", "n_copies"
    )


def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pHash near-dup pairs (r11; oracle-comparable since r13 —
    the codec kernel is not DuckDB-expressible, but the PLANTED TRUTH is
    relational, so O_MM_HAMMING_PAIRS states it and the driver
    value-hashes the full pair set). Deterministic
    planted clusters: textured PNGs rendered EXECUTOR-side from the
    documents ids (ext/multimodal.py:synthetic_texture_assets — ids in
    the same mod-25 residue share a color grid, differing only by a
    brightness shift pHash is invariant to), then
    image_near_dup_pairs = Arrow-batched pHash + the pigeonhole
    chunk-bucket pair generator — NO all-pairs comparison at any scale.
    Bounded to doc_id < 400 (16-doc clusters → exactly C(16,2)·25 pairs
    when the id range is dense) so the row prices the codec + bucketing
    machinery, not PNG rendering throughput."""
    from ..ext import multimodal

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    assets = multimodal.synthetic_texture_assets(docs)
    return (
        multimodal.image_near_dup_pairs(assets)
        .orderBy("id_a", "id_b")
    )


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal AUDIO near-dup pairs (r12; oracle-comparable since r13
    via the planted-truth O_MM_HAMMING_PAIRS — the WAV decode +
    energy-contour fingerprint kernel itself stays non-SQL).
    Deterministic planted clusters: PCM WAVs rendered
    EXECUTOR-side from the documents ids
    (ext/multimodal.py:synthetic_melody_assets — ids in the same mod-25
    residue share an energy contour, differing only by a uniform volume
    scale the fingerprint is exactly invariant to), then
    audio_near_dup_pairs = Arrow-batched decode/fingerprint + the same
    pigeonhole chunk-bucket pair generator as images — NO all-pairs
    comparison. Bounded to doc_id < 400 (16-doc clusters → exactly
    C(16,2)·25 = 3000 pairs when the id range is dense), the second
    modality under the driver's eye (r11 verdict #8)."""
    from ..ext import multimodal

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    assets = multimodal.synthetic_melody_assets(docs)
    return (
        multimodal.audio_near_dup_pairs(assets)
        .orderBy("id_a", "id_b")
    )


def q_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal VIDEO near-dup pairs (r12; oracle-comparable since r13
    via the planted-truth O_MM_VIDEO_PAIRS — third modality under the
    driver's eye). Deterministic planted clusters:
    uncompressed BGR24 AVIs rendered EXECUTOR-side from the documents
    ids (ext/multimodal.py:synthetic_video_assets — ids in the same
    mod-25 residue share a 4-frame grid sequence, differing only by a
    uniform brightness shift every frame's pHash is invariant to), then
    video_near_dup_pairs = stdlib RIFF frame extraction + per-frame
    pHash + df-capped posting-list pairing on shared sampled-frame
    hashes (min_shared=2 — both sampled frames must agree). Bounded to
    doc_id < 400 (16-doc clusters → exactly C(16,2)·25 = 3000 pairs
    when the id range is dense); cross-group frame-hash collisions are
    structurally absent (distinct random grids, asserted in tests)."""
    from ..ext import multimodal

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    assets = multimodal.synthetic_video_assets(docs)
    return (
        multimodal.video_near_dup_pairs(assets)
        .orderBy("id_a", "id_b")
    )


# Planted-truth oracles for the multimodal rows (r13, r12 verdict #1):
# the synthetic asset generators plant mod-25 residue clusters over the
# dense doc_id < 400 id range, varied only by a transformation each
# fingerprint is EXACTLY invariant to (brightness shift for pHash,
# uniform volume scale for the energy contour, per-frame brightness for
# the video frame hashes), and cross-cluster collisions are structurally
# absent (distinct random grids/contours; pinned in tests/test_phash.py,
# test_audio.py, test_video.py). The expected output is therefore
# RELATIONAL — same-residue ordered pairs with the pinned invariant
# measure — so these rows graduate from rows-only to full value-hash
# checks: the Spark side computes the set through the real clean-room
# decode/fingerprint kernels, the oracle states the planted ground truth.
O_MM_HAMMING_PAIRS = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INTEGER) AS hamming
FROM documents a JOIN documents b
  ON a.doc_id % 25 = b.doc_id % 25 AND a.doc_id < b.doc_id
WHERE a.doc_id < 400 AND b.doc_id < 400
ORDER BY id_a, id_b
"""

O_MM_VIDEO_PAIRS = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(2 AS BIGINT) AS n_shared_frames
FROM documents a JOIN documents b
  ON a.doc_id % 25 = b.doc_id % 25 AND a.doc_id < b.doc_id
WHERE a.doc_id < 400 AND b.doc_id < 400
ORDER BY id_a, id_b
"""


_SOURCE_CAP = 40


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (operators/shuffle.py:source_cap_select):
    within each source keep the 40 longest documents (token count DESC,
    id ASC), mark the rest dropped — the domain-balancing rule that
    stops one crawl source dominating the training mix."""
    from ..ext.text import tokens as _tokens
    from ..operators.shuffle import source_cap_select

    scored = _docs(spark, sf_dir).select(
        "doc_id", "source",
        F.size(_tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long").alias("n_tokens"),
    )
    return source_cap_select(
        scored, per_source=_SOURCE_CAP, score_col="n_tokens"
    )


O_SOURCE_CAP = TOK_CTE + f"""
SELECT d.doc_id, d.source,
       CAST(len(coalesce(t.tk, [])) AS BIGINT) AS n_tokens,
       CAST(row_number() OVER (PARTITION BY d.source
                               ORDER BY len(coalesce(t.tk, [])) DESC, d.doc_id ASC)
            AS INTEGER) AS source_rank,
       row_number() OVER (PARTITION BY d.source
                          ORDER BY len(coalesce(t.tk, [])) DESC, d.doc_id ASC)
         <= {_SOURCE_CAP} AS keep
FROM documents d JOIN toks t ON t.doc_id = d.doc_id
"""


_rows_per_band = _N_HASHES // _BANDS


def _band_expr(b: int) -> str:
    # mirror of the arithmetic band key in ext.dedup.minhash_lsh_pairs
    expr = f"mh{b * _rows_per_band:02d} % {dedup.MH_P}"
    for r in range(1, _rows_per_band):
        expr = f"(({expr}) * 65537 + mh{b * _rows_per_band + r:02d}) % {dedup.MH_P}"
    return expr


_band_rows = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band_idx, {_band_expr(b)} AS band_hash FROM sig"
    for b in range(_BANDS)
)
# mirror of the Spark-side max_bucket_size cap: members of oversize buckets
# are dropped BEFORE any pair exists (bsz is the bucket population)
O_MINHASH_LSH_PAIRS = TOK_CTE + _HASHED_CTE + f"""
, sig AS (
  SELECT doc_id, {_mh_cols}
  FROM hashed GROUP BY doc_id
)
, banded AS (
{_band_rows}
)
, capped AS (
  SELECT doc_id, band_idx, band_hash,
         COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS bsz
  FROM banded
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_band_collisions
FROM capped a JOIN capped b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
WHERE a.bsz <= {_MAX_BUCKET}
GROUP BY a.doc_id, b.doc_id
"""

# survivors variant for the retractable-view row (declared above the
# q_minhash_pairs_retract definition): same sketch SQL over a filtered
# base table. Composed by swapping the TOK_CTE prefix for a filtered
# copy rather than a positional string-replace over the whole oracle, so
# a future reordering of O_MINHASH_LSH_PAIRS (or a second `FROM
# documents` reference in its body) cannot silently filter the wrong
# clause (r11 ADVICE); both invariants are asserted at import time.
def _tok_cte_filtered(pred: str) -> str:
    assert TOK_CTE.count("FROM documents") == 1, "TOK_CTE shape changed"
    return TOK_CTE.replace("FROM documents",
                           f"FROM documents WHERE {pred}", 1)


assert O_MINHASH_LSH_PAIRS.startswith(TOK_CTE), "LSH oracle prefix changed"
O_MINHASH_PAIRS_RETRACT = (
    _tok_cte_filtered("doc_id % 7 <> 3") + O_MINHASH_LSH_PAIRS[len(TOK_CTE):]
)


# --------------------------------------------------------------------------
# MinHash estimator calibration: agreement estimate vs exact Jaccard per
# LSH candidate pair.
# --------------------------------------------------------------------------

def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_jaccard_estimates(
        _docs(spark, sf_dir), n_hashes=_N_HASHES, bands=_BANDS,
        max_bucket_size=_MAX_BUCKET, max_shingle_df=_MAX_SHINGLE_DF,
    )


_comp_rows = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {i} AS ci, mh{i:02d} AS mh FROM sig" for i in range(_N_HASHES)
)
O_MINHASH_JACCARD_EST = TOK_CTE + _HASHED_CTE + f"""
, sig AS (SELECT doc_id, {_mh_cols} FROM hashed GROUP BY doc_id)
, banded AS (
{_band_rows}
)
, capped_b AS (
  SELECT doc_id, band_idx, band_hash,
         COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS bsz
  FROM banded
)
, lsh_pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped_b a JOIN capped_b b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
  WHERE a.bsz <= {_MAX_BUCKET}
  GROUP BY 1, 2
)
, cand_ids AS (
  SELECT id_a AS doc_id FROM lsh_pairs UNION SELECT id_b FROM lsh_pairs
)
, comp_all AS (
{_comp_rows}
)
-- mirror of the Spark-side semi-join scale guard: agreement fan-out is
-- restricted to ids in the LSH candidate pairs (counts unchanged — both
-- ids of every reported pair are in that set)
, comp AS (
  SELECT c.* FROM comp_all c JOIN cand_ids USING (doc_id)
)
, agree AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_agree
  FROM comp a JOIN comp b ON a.ci = b.ci AND a.mh = b.mh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
, capped_s AS (
  SELECT doc_id, shingle
  FROM (SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM exploded)
  WHERE df <= {_MAX_SHINGLE_DF}
)
, sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM capped_s GROUP BY doc_id)
, inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM capped_s a JOIN capped_s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
, jexact AS (
  SELECT id_a, id_b, ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS exact_jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
)
SELECT p.id_a, p.id_b,
       ROUND(COALESCE(n_agree, 0) / {_N_HASHES}.0, 6) AS est_jaccard,
       ROUND(COALESCE(exact_jaccard, 0), 6) AS exact_jaccard,
       ROUND(ABS(ROUND(COALESCE(n_agree, 0) / {_N_HASHES}.0, 6)
                 - COALESCE(exact_jaccard, 0)), 6) AS abs_err
FROM lsh_pairs p
LEFT JOIN agree USING (id_a, id_b)
LEFT JOIN jexact USING (id_a, id_b)
"""


# --------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs
# --------------------------------------------------------------------------

_JACCARD_T = 0.2


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=_JACCARD_T, max_shingle_df=_MAX_SHINGLE_DF
    )


# mirror of the Spark-side max_shingle_df cap: hot shingles' posting lists
# are dropped before pair generation AND doc sizes are computed over the
# same capped universe (so Jaccard stays self-consistent on both sides)
O_NGRAM_JACCARD = TOK_CTE + f"""
, exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
, capped AS (
  SELECT doc_id, shingle
  FROM (SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM exploded)
  WHERE df <= {_MAX_SHINGLE_DF}
)
, sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM capped GROUP BY doc_id)
, inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_inter,
       ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {_JACCARD_T}
"""


# --------------------------------------------------------------------------
# Near-dup clustering: connected components over LSH candidate pairs
# --------------------------------------------------------------------------

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, n_hashes=_N_HASHES, bands=_BANDS, max_bucket_size=_MAX_BUCKET
    )
    return dedup.connected_components(pairs, nodes=docs)


# recursive transitive closure mirrors the iterative min-label propagation:
# cluster_id = min id reachable through the undirected candidate-pair graph
O_DEDUP_CLUSTERS = TOK_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + _HASHED_CTE + f"""
, sig AS (
  SELECT doc_id, {_mh_cols}
  FROM hashed GROUP BY doc_id
)
, banded AS (
{_band_rows}
)
, capped AS (
  SELECT doc_id, band_idx, band_hash,
         COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS bsz
  FROM banded
)
, pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
  WHERE a.bsz <= {_MAX_BUCKET}
)
, edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
)
, reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
, comp AS (
  SELECT src AS id, least(src, MIN(dst)) AS cluster_id FROM reach GROUP BY src
)
SELECT d.doc_id AS doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
"""


def q_dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION table pipelines actually consume: every document
    with its cluster and a keep flag (canonical survivor = smallest id in
    the component; singletons keep themselves)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, n_hashes=_N_HASHES, bands=_BANDS, max_bucket_size=_MAX_BUCKET
    )
    clusters = dedup.connected_components(pairs, nodes=docs)
    return clusters.select(
        "doc_id", "cluster_id", (F.col("doc_id") == F.col("cluster_id")).alias("keep")
    )


def q_dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters maintained INCREMENTALLY across two batches of
    candidate pairs (ext/dedup.py:incremental_clusters — the stored
    state is the compressed star forest, one edge per seen node, so
    per-batch work is O(corpus), never O(pairs history)) — driven end to
    end as a driver query. The union-find compression property makes the
    two-batch result equal the one-shot clustering over ALL pairs, so
    the oracle is byte-identical to docs_dedup_clusters' and the driver
    hash-certifies the incremental-clustering machinery (the streaming
    dedup pipeline's reduce side)."""
    import os

    docs = _docs(spark, sf_dir)
    # localCheckpoint: the pairs table feeds BOTH batch filters, and each
    # incremental_clusters call is its own write action — uncheckpointed,
    # the whole LSH candidate pipeline would evaluate once per batch (the
    # minhash_jaccard_estimates lesson; r9 review finding)
    pairs = dedup.minhash_lsh_pairs(
        docs, n_hashes=_N_HASHES, bands=_BANDS, max_bucket_size=_MAX_BUCKET
    ).select("id_a", "id_b").localCheckpoint()
    root = _session_state_dir(spark, sf_dir, "skylogix_inc_clusters")
    state = os.path.join(root, "labels")
    # deterministic 2-batch split of the candidate stream
    dedup.incremental_clusters(
        spark, pairs.filter((F.col("id_a") + F.col("id_b")) % 2 == 0), state
    )
    labels = dedup.incremental_clusters(
        spark, pairs.filter((F.col("id_a") + F.col("id_b")) % 2 == 1), state
    )
    return docs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection over the near-dup clusters: keep
    the LONGEST member of each cluster (token count as the completeness
    score — a truncated copy loses to the full one), ties broken by
    smallest id; singletons keep themselves
    (ext/dedup.py:keep_best_per_cluster). The policy upgrade of
    docs_dedup_decisions' min-id rule."""
    from ..ext.text import tokens as _tokens

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, n_hashes=_N_HASHES, bands=_BANDS, max_bucket_size=_MAX_BUCKET
    )
    clusters = dedup.connected_components(pairs, nodes=docs)
    scores = docs.select(
        "doc_id",
        F.size(_tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long").alias("n_tokens"),
    )
    return dedup.keep_best_per_cluster(clusters, scores, score_col="n_tokens")


O_DEDUP_KEEP_BEST = O_DEDUP_CLUSTERS.replace(
    "SELECT d.doc_id AS doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id\n"
    "FROM documents d LEFT JOIN comp c ON c.id = d.doc_id",
    "SELECT doc_id, cluster_id, n_tokens,\n"
    "       row_number() OVER (PARTITION BY cluster_id\n"
    "                          ORDER BY n_tokens DESC, doc_id ASC) = 1 AS keep\n"
    "FROM (SELECT d.doc_id AS doc_id,\n"
    "             COALESCE(c.cluster_id, d.doc_id) AS cluster_id,\n"
    "             CAST(len(coalesce(t.tk, [])) AS BIGINT) AS n_tokens\n"
    "      FROM documents d\n"
    "      LEFT JOIN comp c ON c.id = d.doc_id\n"
    "      JOIN toks t ON t.doc_id = d.doc_id)",
)


O_DEDUP_DECISIONS = O_DEDUP_CLUSTERS.replace(
    "SELECT d.doc_id AS doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id",
    "SELECT d.doc_id AS doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,\n"
    "       d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS keep",
)


# --------------------------------------------------------------------------
# PII scrub + corpus top-ngram table
# --------------------------------------------------------------------------

def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pii_scrub(_docs(spark, sf_dir))


def _pii_sql() -> str:
    """Mirror of ext.text.pii_scrub: each count is taken on the text as
    already scrubbed by the PREVIOUS patterns, then the pattern is replaced
    globally ('g' — DuckDB replaces first-only by default, Spark all)."""
    cur = "text"
    selects = []
    for name, pat, tag in text.PII_PATTERNS:
        esc = pat.replace("'", "''")  # DuckDB strings keep backslashes literal
        selects.append(f"CAST(len(regexp_extract_all({cur}, '{esc}', 0)) AS INTEGER) AS n_{name}")
        cur = f"regexp_replace({cur}, '{esc}', '{tag}', 'g')"
    cols = ",\n       ".join(selects)
    return f"SELECT doc_id,\n       {cols},\n       {cur} AS scrubbed_text\nFROM documents"


O_PII_SCRUB = _pii_sql()


_TOP_NGRAMS_K = 20


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.top_ngrams(_docs(spark, sf_dir), k=_TOP_NGRAMS_K)


O_TOP_NGRAMS = TOK_CTE + f"""
, exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
SELECT shingle, CAST(COUNT(*) AS BIGINT) AS doc_freq
FROM exploded GROUP BY shingle
ORDER BY doc_freq DESC, shingle ASC LIMIT {_TOP_NGRAMS_K}
"""


# --------------------------------------------------------------------------
# SimHash fingerprints
# --------------------------------------------------------------------------

def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_docs(spark, sf_dir), n_bits=_SIMHASH_BITS)


_vote_cols = ",\n       ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b:02d}"
    for b in range(_SIMHASH_BITS)
)
_sim_terms = " + ".join(
    f"CASE WHEN v{b:02d} > 0 THEN {2 ** b} ELSE 0 END" for b in range(_SIMHASH_BITS)
)
O_SIMHASH = TOK_CTE + f"""
, tok AS (SELECT doc_id, unnest(tk) AS t FROM toks)
, hashed AS (SELECT doc_id, {_sql_hash(0, 't')} AS h FROM tok)
, votes AS (
  SELECT doc_id,
       {_vote_cols}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({_sim_terms} AS BIGINT) AS simhash FROM votes
"""


# --------------------------------------------------------------------------
# SimHash near-dup pairs (pigeonhole chunk blocking + Hamming verify)
# --------------------------------------------------------------------------

_MAX_HAMMING = 3
_N_CHUNKS = _MAX_HAMMING + 1
_CHUNK_BITS = _SIMHASH_BITS // _N_CHUNKS


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_pairs(
        _docs(spark, sf_dir), n_bits=_SIMHASH_BITS, max_hamming=_MAX_HAMMING,
        max_bucket_size=_MAX_BUCKET,
    )


_chunk_rows = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, simhash, {i} AS chunk_idx,"
    f" (simhash >> {i * _CHUNK_BITS}) & {(1 << _CHUNK_BITS) - 1} AS chunk_val FROM simtbl"
    for i in range(_N_CHUNKS)
)
# band-join mirror (like O_MINHASH_LSH_PAIRS): candidates share one 15-bit
# chunk (pigeonhole for hamming ≤ 3 on 60 bits), oversize buckets capped on
# both sides, exact Hamming verify on the 60-bit fingerprints
O_SIMHASH_NEAR_PAIRS = TOK_CTE + f"""
, tok AS (SELECT doc_id, unnest(tk) AS t FROM toks)
, hashed AS (SELECT doc_id, {_sql_hash(0, 't')} AS h FROM tok)
, votes AS (
  SELECT doc_id,
       {_vote_cols}
  FROM hashed GROUP BY doc_id
)
, simtbl AS (SELECT doc_id, CAST({_sim_terms} AS BIGINT) AS simhash FROM votes)
, chunked AS (
{_chunk_rows}
)
, capped AS (
  SELECT doc_id, simhash, chunk_idx, chunk_val,
         COUNT(*) OVER (PARTITION BY chunk_idx, chunk_val) AS bsz
  FROM chunked
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM capped a JOIN capped b
  ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
WHERE a.bsz <= {_MAX_BUCKET}
  AND bit_count(xor(a.simhash, b.simhash)) <= {_MAX_HAMMING}
"""


# --------------------------------------------------------------------------
# Token stats / quality / language ID
# --------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(_docs(spark, sf_dir))


_en_stop_sql = ", ".join(f"'{w}'" for w in text.STOPWORDS["en"])
O_TOKEN_STATS = TOK_CTE + f"""
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS n_chars,
       CAST(len(tk) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(tk)) AS INTEGER) AS n_distinct_tokens,
       ROUND(len(list_distinct(tk)) / CAST(nullif(len(tk), 0) AS DOUBLE), 6) AS lexical_diversity,
       ROUND(length(regexp_replace(text, '\\s+', '', 'g')) / CAST(nullif(len(tk), 0) AS DOUBLE), 6) AS avg_token_len,
       CAST(len(list_filter(tk, t -> t IN ({_en_stop_sql}))) AS INTEGER) AS n_stopwords,
       ROUND(len(list_filter(tk, t -> t IN ({_en_stop_sql}))) / CAST(nullif(len(tk), 0) AS DOUBLE), 6) AS stopword_ratio
FROM toks
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(_docs(spark, sf_dir))


_lang_hits = ",\n       ".join(
    "CAST(len(list_filter(tk, t -> t IN ({ws}))) AS INTEGER) AS hits_{lang}".format(
        ws=", ".join(f"'{w}'" for w in ws), lang=lang
    )
    for lang, ws in text.STOPWORDS.items()
)
_best = "greatest(" + ", ".join(f"hits_{l}" for l in text.STOPWORDS) + ")"
_pred = "'unknown'"
for _lang in sorted(text.STOPWORDS, reverse=True):
    _pred = f"CASE WHEN {_best} > 0 AND hits_{_lang} = {_best} THEN '{_lang}' ELSE {_pred} END"
O_LANGUAGE_ID = TOK_CTE + f"""
, hits AS (
  SELECT doc_id,
       {_lang_hits}
  FROM toks
)
SELECT doc_id, hits_en, hits_de, hits_fr, hits_es, {_pred} AS lang_pred FROM hits
"""


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(text.bpe_ish_tokens(F.col("text"))).alias("n_bpe_tokens"),
        F.size(text.tokens(F.col("text"))).alias("n_ws_tokens"),
    )


O_BPE_TOKEN_COUNT = """
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS INTEGER) AS n_bpe_tokens,
       CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS INTEGER) AS n_ws_tokens
FROM documents
"""


# --------------------------------------------------------------------------
# Curation: quality top-k per source / weighted mixture sample /
# token-length quantiles per language
# --------------------------------------------------------------------------

_QUALITY_K = 3


def q_quality_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_topk_per_source(_docs(spark, sf_dir), k=_QUALITY_K)


# quality_score mirror: length_ok * (0.5 + 0.5*least(2*div, 1)), div =
# coalesce(ROUNDED lexical diversity, 0) — matches ext.text.quality_score
# composing over token_stats' rounded column
_QUALITY_SQL = """
  ROUND(
    (CASE WHEN len(tk) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.5 END)
    * (0.5 + 0.5 * least(COALESCE(ROUND(len(list_distinct(tk)) / CAST(nullif(len(tk), 0) AS DOUBLE), 6), 0.0) * 2, 1.0)),
  6)
"""
O_QUALITY_TOPK = TOK_CTE + f"""
, scored AS (SELECT doc_id, {_QUALITY_SQL} AS quality_score FROM toks)
SELECT source, doc_id, quality_score,
       CAST(rank_in_source AS INTEGER) AS rank_in_source
FROM (
  SELECT d.source, s.doc_id, s.quality_score,
         row_number() OVER (PARTITION BY d.source ORDER BY s.quality_score DESC, s.doc_id ASC) AS rank_in_source
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
)
WHERE rank_in_source <= {_QUALITY_K}
"""


#: corpus-mixing weights: upsample even sources, downsample odd ones
_MIX_RATES = {f"src{i}": (0.8 if i % 2 == 0 else 0.2) for i in range(20)}
_MIX_SEED = 7


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.mixture_sample(_docs(spark, sf_dir), _MIX_RATES, seed=_MIX_SEED)


_mix_case = "CASE " + " ".join(
    f"WHEN source = '{s}' THEN {int(round(r * 10_000))}" for s, r in _MIX_RATES.items()
) + " ELSE 0 END"
O_MIXTURE_SAMPLE = f"""
SELECT doc_id, source FROM documents
WHERE {_sql_hash(_MIX_SEED, 'CAST(doc_id AS VARCHAR)')} % 10000 < {_mix_case}
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_stats(_docs(spark, sf_dir))


O_REPETITION = TOK_CTE + """
SELECT doc_id,
       CAST(greatest(len(tk) - 2, 1) AS INTEGER) AS n_shingles,
       CAST(len(shingles) AS INTEGER) AS n_distinct_shingles,
       ROUND(1 - len(shingles) / CAST(greatest(len(tk) - 2, 1) AS DOUBLE), 6) AS dup_shingle_ratio
FROM toks JOIN sh USING (doc_id)
"""


_PACK_BUDGET = 256
_PACK_BUCKET = 10_000


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pack_documents(
        _docs(spark, sf_dir), budget_tokens=_PACK_BUDGET, bucket_size=_PACK_BUCKET
    )


# greedy first-fit packing is a sequential recurrence; the oracle walks each
# id-range bucket in doc_id order with a recursive CTE carrying (seq, offset)
# — exactly the applyInPandas loop, one row per step
O_PACK_DOCUMENTS = TOK_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + f"""
, counted AS (
  SELECT doc_id, doc_id // {_PACK_BUCKET} AS bucket, CAST(len(tk) AS INTEGER) AS n_tokens
  FROM toks
)
, ord AS (
  SELECT doc_id, bucket, n_tokens,
         row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM counted
)
, rec AS (
  SELECT doc_id, bucket, n_tokens, rn, 0 AS seq, 0 AS pack_offset
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.bucket, o.n_tokens, o.rn,
         CASE WHEN r.pack_offset + r.n_tokens > 0
                   AND r.pack_offset + r.n_tokens + o.n_tokens > {_PACK_BUDGET}
              THEN r.seq + 1 ELSE r.seq END,
         CASE WHEN r.pack_offset + r.n_tokens > 0
                   AND r.pack_offset + r.n_tokens + o.n_tokens > {_PACK_BUDGET}
              THEN 0 ELSE r.pack_offset + r.n_tokens END
  FROM rec r JOIN ord o ON o.bucket = r.bucket AND o.rn = r.rn + 1
)
SELECT doc_id, n_tokens,
       bucket * {1 << 20} + seq AS pack_id,
       pack_offset
FROM rec
"""


def q_token_quantiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_quantiles_by_group(_docs(spark, sf_dir), group_col="lang")


O_TOKEN_QUANTILES = TOK_CTE + """
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(quantile_cont(len(tk), 0.25), 6) AS q25,
       ROUND(quantile_cont(len(tk), 0.50), 6) AS q50,
       ROUND(quantile_cont(len(tk), 0.75), 6) AS q75
FROM toks t JOIN documents d ON d.doc_id = t.doc_id
GROUP BY d.lang
"""


# --------------------------------------------------------------------------
# Document fingerprinting (winnowing-lite)
# --------------------------------------------------------------------------

def q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    norm = text.normalize_text(F.col("text"))
    return docs.select("doc_id", norm.alias("norm_text"), F.length(norm).alias("norm_len"))


O_NORMALIZE = """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_text,
       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS INTEGER) AS norm_len
FROM documents
"""


_CHUNK, _OVERLAP = 32, 8


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents(_docs(spark, sf_dir), chunk_tokens=_CHUNK, overlap=_OVERLAP)


_step = _CHUNK - _OVERLAP
O_CHUNK_DOCUMENTS = TOK_CTE + f"""
, par AS (
  SELECT doc_id, tk, len(tk) AS n_tok,
         greatest(CAST(ceil((len(tk) - {_OVERLAP}) / {_step}.0) AS BIGINT), 1) AS n_chunks
  FROM toks
)
SELECT doc_id,
       CAST(n_tok AS INTEGER) AS n_tokens,
       CAST(s AS INTEGER) AS start_token,
       array_to_string(list_slice(tk, s + 1, s + {_CHUNK}), ' ') AS chunk_text
FROM (SELECT doc_id, n_tok, tk, unnest(range(0, n_chunks * {_step}, {_step})) AS s FROM par)
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_docs(spark, sf_dir))


O_FINGERPRINT = TOK_CTE + """
, exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
, hashed AS (SELECT doc_id, md5(shingle) AS h FROM exploded)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       MIN(h) AS min_fingerprint,
       MAX(h) AS max_fingerprint
FROM hashed WHERE substr(h, 1, 1) = '0' GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Embedding similarity: brute-force cosine top-k (query = vec_id 0)
# --------------------------------------------------------------------------

_TOPK = 10


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk_by_id(_embs(spark, sf_dir), query_id=0, k=_TOPK)


O_COSINE_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         ROUND(
           list_sum(list_transform(range(1, len(embedding) + 1),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         6) AS cosine_sim
  FROM embeddings, q WHERE vec_id <> 0
)
SELECT vec_id, cosine_sim FROM scored ORDER BY cosine_sim DESC, vec_id ASC LIMIT {_TOPK}
"""


# --------------------------------------------------------------------------
# int8 scalar quantization (ANN storage compression)
# --------------------------------------------------------------------------

def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.scalar_quantize_int8(_embs(spark, sf_dir))


O_QUANTIZE_INT8 = """
WITH prep AS (
  SELECT vec_id,
         list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vmin,
         list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vmax,
         embedding
  FROM embeddings
)
SELECT vec_id,
       ROUND(vmin, 6) AS "offset",
       ROUND((vmax - vmin) / 255.0, 6) AS scale,
       array_to_string(
         list_transform(embedding,
           x -> CAST(COALESCE(CAST(floor((CAST(x AS DOUBLE) - vmin)
                      / nullif((vmax - vmin) / 255.0, 0.0) + 0.5) AS INTEGER), 0) AS VARCHAR)),
         ',') AS codes
FROM prep
"""


# --------------------------------------------------------------------------
# Quantization recall@k: exact cosine top-k vs the int8-ADC ranking — the
# eval loop every ANN deployment runs before trusting a compressed index.
# --------------------------------------------------------------------------

def q_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|exact top-k ∩ ADC top-k| / k for the standard query (vec_id 0).

    Both rankings are the already-verified operators; the recall join runs
    on two k-row results, so the eval costs two corpus passes and an O(k)
    join regardless of scale."""
    embs = _embs(spark, sf_dir)
    row = embs.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row[0]]
    rest = embs.filter(F.col("vec_id") != 0)
    exact = similarity.cosine_topk(rest, qv, k=_TOPK).select("vec_id")
    adc = similarity.quantized_cosine_topk(rest, qv, k=_TOPK).select("vec_id")
    return exact.join(adc, "vec_id").agg(
        F.lit(_TOPK).cast("int").alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(F.count(F.lit(1)) / F.lit(_TOPK), 6).alias("recall_at_k"),
    )


O_QUANTIZED_RECALL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
exact_scored AS (
  SELECT vec_id,
         ROUND(
           list_sum(list_transform(range(1, len(embedding) + 1),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         6) AS cosine_sim
  FROM embeddings, q WHERE vec_id <> 0
),
exact_topk AS (
  SELECT vec_id FROM exact_scored ORDER BY cosine_sim DESC, vec_id ASC LIMIT {_TOPK}
),
prep AS (
  SELECT vec_id, embedding,
         list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vmin,
         list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vmax
  FROM embeddings WHERE vec_id <> 0
),
dq AS (SELECT vec_id, {{_DQ}} AS dv FROM prep),
adc_scored AS (
  SELECT vec_id,
         ROUND(
           list_sum(list_transform(range(1, len(dv) + 1), i -> dv[i] * CAST(qv[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(dv, x -> x * x)))
              * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         6) AS approx_cosine
  FROM dq, q
),
adc_topk AS (
  SELECT vec_id FROM adc_scored ORDER BY approx_cosine DESC, vec_id ASC LIMIT {_TOPK}
)
SELECT CAST({_TOPK} AS INTEGER) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_overlap,
       ROUND(COUNT(*) / {_TOPK}.0, 6) AS recall_at_k
FROM exact_topk JOIN adc_topk USING (vec_id)
"""


# --------------------------------------------------------------------------
# Binary (sign-bit) quantization + Hamming ANN: the 32×-compression
# candidate generator — bit_count(xor) over two packed longs per vector.
# --------------------------------------------------------------------------

def q_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by Hamming distance over sign-bit codes (query vec_id=0,
    ties on vec_id). One narrow integer-only pass; TakeOrderedAndProject."""
    return similarity.hamming_topk(_embs(spark, sf_dir), query_id=0, k=_TOPK)


def _sql_sign_pack(lo: int, hi: int) -> str:
    """DuckDB twin of similarity.sign_pack: Σ (v[i]>0)·2^(hi-1-i), the same
    big-endian integer the Spark fold (acc*2 + bit) produces."""
    return (
        f"CAST(list_sum(list_transform(range({lo}, {hi}), i -> "
        f"CASE WHEN embedding[i + 1] > 0 THEN (CAST(1 AS BIGINT) << ({hi} - 1 - i)) "
        f"ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )


O_HAMMING_TOPK = f"""
WITH codes AS (
  SELECT vec_id,
         {_sql_sign_pack(0, 32)} AS code_lo,
         {_sql_sign_pack(32, 64)} AS code_hi
  FROM embeddings
), q AS (SELECT code_lo AS q_lo, code_hi AS q_hi FROM codes WHERE vec_id = 0)
SELECT vec_id,
       CAST(bit_count(xor(code_lo, q_lo)) + bit_count(xor(code_hi, q_hi)) AS INTEGER) AS hamming
FROM codes, q WHERE vec_id <> 0
ORDER BY hamming ASC, vec_id ASC LIMIT {_TOPK}
"""


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    row = embs.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row[0]]
    return similarity.quantized_cosine_topk(
        embs.filter(F.col("vec_id") != 0), qv, k=_TOPK
    )


_DQ = """
  list_transform(embedding, x ->
    vmin + COALESCE(floor((CAST(x AS DOUBLE) - vmin) / nullif((vmax - vmin) / 255.0, 0.0) + 0.5), 0)
           * ((vmax - vmin) / 255.0))
"""
# late-bind the shared dequantization snippet into the recall oracle
# (defined above _DQ for reading order; substituted here)
O_QUANTIZED_RECALL = O_QUANTIZED_RECALL.replace("{_DQ}", _DQ)

O_QUANTIZED_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
prep AS (
  SELECT vec_id, embedding,
         list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vmin,
         list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vmax
  FROM embeddings WHERE vec_id <> 0
),
dq AS (SELECT vec_id, {_DQ} AS dv FROM prep),
scored AS (
  SELECT vec_id,
         ROUND(
           list_sum(list_transform(range(1, len(dv) + 1), i -> dv[i] * CAST(qv[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(dv, x -> x * x)))
              * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         6) AS approx_cosine
  FROM dq, q
)
SELECT vec_id, approx_cosine FROM scored
ORDER BY approx_cosine DESC, vec_id ASC LIMIT {_TOPK}
"""


# --------------------------------------------------------------------------
# Random-hyperplane LSH buckets + embedding-cosine near-dup pairs
# --------------------------------------------------------------------------

_N_PLANES = 8         # single-table bucket-assignment query
_NEARDUP_T = 0.25
_ND_TABLES = 4        # banded near-dup: 4 tables × 16 planes
_ND_PLANES = 16


def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.rp_lsh_buckets(_embs(spark, sf_dir), n_planes=_N_PLANES)


_SIGN_SQL = (
    "CASE WHEN CAST(concat('0x', substr(md5(concat(CAST(p AS VARCHAR), '|', CAST(d AS VARCHAR))), 1, 15)) AS BIGINT) % 2 = 0 "
    "THEN 1 ELSE -1 END"
)


def _planes_cte(n_planes: int) -> str:
    """Mirror of similarity.rp_lsh_signs for ``n_planes`` global planes:
    per-(vec, plane) dot products of the ±1 hyperplanes."""
    return f"""
WITH planes AS (
  SELECT p, d, {_SIGN_SQL} AS s
  FROM (SELECT unnest(range(0, {n_planes})) AS p), (SELECT unnest(range(0, 64)) AS d)
), pe AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d, unnest(embedding) AS v
  FROM embeddings
), dots AS (
  SELECT vec_id, p, SUM(s * CAST(v AS DOUBLE)) AS dot
  FROM pe JOIN planes USING (d) GROUP BY vec_id, p
)
"""


O_LSH_BUCKETS = _planes_cte(_N_PLANES) + """
SELECT vec_id,
       CAST(SUM(CASE WHEN dot > 0 THEN power(2.0, p) ELSE 0.0 END) AS BIGINT) AS bucket
FROM dots GROUP BY vec_id
"""


def q_lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_near_dup_pairs(
        _embs(spark, sf_dir), threshold=_NEARDUP_T, n_tables=_ND_TABLES, n_planes=_ND_PLANES
    )


_COS_AB = """
  list_sum(list_transform(range(1, len(a.embedding) + 1),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""
# banded mirror: table t owns global planes [t*16, (t+1)*16); bucket bits are
# weighted 2^(p mod 16) within the table; candidates collide in ANY table
O_LSH_NEAR_DUP = _planes_cte(_ND_TABLES * _ND_PLANES) + f"""
, tbuckets AS (
  SELECT vec_id, p // {_ND_PLANES} AS table_idx,
         CAST(SUM(CASE WHEN dot > 0 THEN power(2.0, p % {_ND_PLANES}) ELSE 0.0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id, p // {_ND_PLANES}
), cand AS (
  SELECT DISTINCT ta.vec_id AS id_a, tb.vec_id AS id_b
  FROM tbuckets ta JOIN tbuckets tb
    ON ta.table_idx = tb.table_idx AND ta.bucket = tb.bucket AND ta.vec_id < tb.vec_id
)
SELECT id_a, id_b, ROUND({_COS_AB}, 6) AS cosine_sim
FROM cand
JOIN embeddings a ON a.vec_id = id_a
JOIN embeddings b ON b.vec_id = id_b
WHERE ROUND({_COS_AB}, 6) >= {_NEARDUP_T}
"""


# --------------------------------------------------------------------------
# Embedding similarity: IVF (label cells)
# --------------------------------------------------------------------------

_NPROBE = 2


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    row = embs.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row[0]]
    return similarity.ivf_topk(embs.filter(F.col("vec_id") != 0), qv, k=_TOPK, nprobe=_NPROBE)


# all-SQL mirror of the two-phase IVF probe: centroid build (avg per
# (label, pos) over the corpus minus the query vector), nprobe nearest
# cells by centroid cosine (tie-break label asc — same as ivf_topk's
# orderBy), then brute-force cosine top-k restricted to the probed cells
# (order on the ROUNDED score + vec_id asc, matching cosine_topk).
_COS_CENT_Q = """
  list_sum(list_transform(range(1, len(centroid) + 1),
           i -> centroid[i] * CAST(qv[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(centroid, x -> x * x)))
     * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""
_COS_EMB_Q = """
  list_sum(list_transform(range(1, len(embedding) + 1),
           i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""
O_IVF_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
pe AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
  FROM corpus
),
centv AS (
  SELECT label, list(m ORDER BY pos) AS centroid
  FROM (SELECT label, pos, (CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(24,10))) AS DOUBLE) / COUNT(v)) AS m FROM pe GROUP BY label, pos)
  GROUP BY label
),
probe AS (
  SELECT label FROM centv, q
  ORDER BY ({_COS_CENT_Q}) DESC, label ASC
  LIMIT {_NPROBE}
),
scored AS (
  SELECT vec_id, ROUND({_COS_EMB_Q}, 6) AS cosine_sim
  FROM corpus, q
  WHERE label IN (SELECT label FROM probe)
)
SELECT vec_id, cosine_sim FROM scored
ORDER BY cosine_sim DESC, vec_id ASC LIMIT {_TOPK}
"""


def q_ivf_topk_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector DELETE for the ANN index (r11): ingest the corpus into the
    RETRACTABLE IVF postings view (vector-granular Z-set segments,
    streaming/matview.py:apply_ivf_postings_retractable_delta) in two
    batches, tombstone a deleted shard (vec_id % 7 == 3), then answer
    the standard nprobe-cell top-k entirely from the LIVE postings —
    centroids, probe ranking, and the pruned scan all reflect the
    deletes, which the add-only cell view (append-only postings +
    non-invertible count/sum monoid) cannot express without a rebuild.
    Oracle = the emb_ivf_topk SQL over the surviving corpus: retraction
    semantics ARE rebuild-over-survivors."""
    import os

    from ..streaming.matview import (
        apply_ivf_postings_retractable_delta,
        compact_ivf_postings_retractable_segments,
        maybe_compact,
        read_ivf_postings_retractable_segments,
        retract_ivf_postings_delta,
    )

    embs = _embs(spark, sf_dir)
    row = embs.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row[0]]
    corpus = embs.filter(F.col("vec_id") != 0)
    root = _session_state_dir(spark, sf_dir, "skylogix_ivf_rz")
    state = os.path.join(root, "view")
    # CONCURRENT segment writers (r14 optimization round, mirrors
    # q_count_sketch_retract): the two applies and the tombstone are
    # independent (state_dir, batch_id) writers whose Z-set fold commutes,
    # so pooling them removes two apply latencies from the cycle's
    # critical path. Auto-compaction deferred to one post-drain
    # maybe_compact with fraction_trigger=False (r15, r14 ADVICE; see
    # q_count_sketch_retract for the full rationale): the
    # tombstone-fraction compaction the sequential r11-r13 shape ran is
    # INTENTIONALLY deferred — this cycle reads the view exactly once,
    # immediately, so the trigger's read-amplification benefit never
    # accrues while its O(postings) fold would sit on the timed path
    # (~0.7 s measured this round). End state keeps the tombstone raw
    # segment; answers are identical either way (read-fold equivalence,
    # pytest-pinned).
    from concurrent.futures import ThreadPoolExecutor

    deltas = [
        (apply_ivf_postings_retractable_delta,
         corpus.filter(F.col("vec_id") % 2 == 0), 0),
        (apply_ivf_postings_retractable_delta,
         corpus.filter(F.col("vec_id") % 2 == 1), 1),
        (retract_ivf_postings_delta,
         corpus.filter(F.col("vec_id") % 7 == 3), 2),
    ]
    with ThreadPoolExecutor(max_workers=len(deltas)) as pool:
        futs = [pool.submit(fn, df, b, state, auto_compact=None)
                for fn, df, b in deltas]
        for f in futs:
            f.result()
    maybe_compact(spark, state, compact_ivf_postings_retractable_segments,
                  fraction_trigger=False)
    live = read_ivf_postings_retractable_segments(spark, state).withColumnRenamed(
        "cell", "label"
    )
    return similarity.ivf_topk(live, qv, k=_TOPK, nprobe=_NPROBE)


O_IVF_TOPK_RETRACT = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
corpus AS (SELECT vec_id, label, embedding FROM embeddings
           WHERE vec_id <> 0 AND vec_id % 7 <> 3),
pe AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
  FROM corpus
),
centv AS (
  SELECT label, list(m ORDER BY pos) AS centroid
  FROM (SELECT label, pos, (CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(24,10))) AS DOUBLE) / COUNT(v)) AS m FROM pe GROUP BY label, pos)
  GROUP BY label
),
probe AS (
  SELECT label FROM centv, q
  ORDER BY ({_COS_CENT_Q}) DESC, label ASC
  LIMIT {_NPROBE}
),
scored AS (
  SELECT vec_id, ROUND({_COS_EMB_Q}, 6) AS cosine_sim
  FROM corpus, q
  WHERE label IN (SELECT label FROM probe)
)
SELECT vec_id, cosine_sim FROM scored
ORDER BY cosine_sim DESC, vec_id ASC LIMIT {_TOPK}
"""


# --------------------------------------------------------------------------
# Filtered vector search: adaptive-probe IVF under a metadata predicate
# (similarity.ivf_filtered_topk). The predicate-matching per-cell counts
# choose the minimal ranked-cell prefix reaching k·oversample candidates.
# --------------------------------------------------------------------------

_FILTER_MOD = 37
_FILTER_OVERSAMPLE = 2


def q_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    row = embs.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row[0]]
    return similarity.ivf_filtered_topk(
        embs.filter(F.col("vec_id") != 0), qv,
        pred=F.col("vec_id") % _FILTER_MOD == 0,
        k=_TOPK, oversample=_FILTER_OVERSAMPLE,
    )


O_IVF_FILTERED_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
pe AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
  FROM corpus
),
centv AS (
  SELECT label, list(m ORDER BY pos) AS centroid
  FROM (SELECT label, pos, (CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(24,10))) AS DOUBLE) / COUNT(v)) AS m FROM pe GROUP BY label, pos)
  GROUP BY label
),
ranked AS (
  SELECT label, row_number() OVER (ORDER BY ({_COS_CENT_Q}) DESC, label ASC) AS rn
  FROM centv, q
),
cellcnt AS (
  SELECT label, COUNT(*) AS c FROM corpus WHERE vec_id % {_FILTER_MOD} = 0 GROUP BY label
),
cum AS (
  SELECT r.rn, SUM(COALESCE(c.c, 0)) OVER (ORDER BY r.rn) AS cum
  FROM ranked r LEFT JOIN cellcnt c USING (label)
),
np AS (
  SELECT COALESCE(
           (SELECT MIN(rn) FROM cum WHERE cum >= {_TOPK * _FILTER_OVERSAMPLE}),
           (SELECT MAX(rn) FROM ranked)) AS n_probed
),
scored AS (
  SELECT vec_id, ROUND({_COS_EMB_Q}, 6) AS cosine_sim
  FROM corpus, q
  WHERE vec_id % {_FILTER_MOD} = 0
    AND label IN (SELECT label FROM ranked WHERE rn <= (SELECT n_probed FROM np))
)
SELECT vec_id, cosine_sim, CAST((SELECT n_probed FROM np) AS INT) AS n_probed
FROM scored ORDER BY cosine_sim DESC, vec_id ASC LIMIT {_TOPK}
"""


# --------------------------------------------------------------------------
# IVF + int8 ADC + exact re-rank: the three-stage production-ANN
# composition (similarity.ivf_quantized_topk), single scan.
# --------------------------------------------------------------------------

_RERANK = 4


def q_ivf_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    row = embs.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row[0]]
    return similarity.ivf_quantized_topk(
        embs.filter(F.col("vec_id") != 0), qv, k=_TOPK, nprobe=_NPROBE,
        rerank_factor=_RERANK,
    )


O_IVF_QUANTIZED_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
pe AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
  FROM corpus
),
centv AS (
  SELECT label, list(m ORDER BY pos) AS centroid
  FROM (SELECT label, pos, (CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(24,10))) AS DOUBLE) / COUNT(v)) AS m FROM pe GROUP BY label, pos)
  GROUP BY label
),
probe AS (
  SELECT label FROM centv, q
  ORDER BY ({_COS_CENT_Q}) DESC, label ASC
  LIMIT {_NPROBE}
),
prep AS (
  SELECT vec_id, embedding,
         list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vmin,
         list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vmax
  FROM corpus WHERE label IN (SELECT label FROM probe)
),
dq AS (SELECT vec_id, embedding, {_DQ} AS dv FROM prep),
adc AS (
  SELECT vec_id, embedding,
         ROUND(
           list_sum(list_transform(range(1, len(dv) + 1), i -> dv[i] * CAST(qv[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(dv, x -> x * x)))
              * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         6) AS approx_cosine
  FROM dq, q
),
short AS (
  SELECT * FROM adc ORDER BY approx_cosine DESC, vec_id ASC LIMIT {_RERANK * _TOPK}
)
SELECT vec_id, approx_cosine, ROUND({_COS_EMB_Q}, 6) AS cosine_sim
FROM short, q
ORDER BY cosine_sim DESC, vec_id ASC LIMIT {_TOPK}
"""


# --------------------------------------------------------------------------
# Per-cell pairwise top-k similarity join — rows-only check (heavy SQL)
# --------------------------------------------------------------------------

def q_pairwise_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pairwise_topk_join(_embs(spark, sf_dir), k=3)


_PAIR_COS = """
  list_sum(list_transform(range(1, len(a.embedding) + 1),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""

O_PAIRWISE_TOPK = f"""
WITH pairs AS (
  SELECT a.label AS cell, a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND({_PAIR_COS}, 6) AS cosine_sim
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT cell, id_a, id_b, cosine_sim FROM (
  SELECT cell, id_a, id_b, cosine_sim,
         row_number() OVER (PARTITION BY id_a ORDER BY cosine_sim DESC, id_b ASC) AS rn
  FROM pairs
) WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# Per-label centroids: the IVF coarse-quantizer build step, verified
# directly (class centroids / semantic-cluster means in a curation
# pipeline).
# --------------------------------------------------------------------------

def q_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean vector per label + member count, emitted as SCALAR
    rows ``(label, pos, m, n_vecs)`` — one row per centroid coordinate —
    because the driver's canonicalizer hashes cell values and cannot factor
    array cells (r3 harness error: ``unhashable type: 'list'``). The array
    form remains available internally via ``similarity.centroids_by_label``.

    The centroid agg is two map-side-combinable shuffles on
    (label,pos)/(label) — O(dim) rows per label ever cross the wire, never
    the vectors themselves."""
    e = _embs(spark, sf_dir)
    pe = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    per = pe.groupBy("label", "pos").agg(
        F.round(dmean(F.col("v").cast("double")), 6).alias("m")
    )
    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return per.join(counts, "label").select(
        "label", F.col("pos").cast("int").alias("pos"), "m", "n_vecs"
    )


O_CENTROIDS_BY_LABEL = """
WITH ex AS (
  SELECT label, unnest(list_transform(embedding, (v, i) -> {'pos': i, 'v': v})) AS u
  FROM embeddings
), per AS (
  SELECT label, CAST(u.pos - 1 AS INT) AS pos, ROUND((CAST(SUM(CAST(CAST(u.v AS DOUBLE) AS DECIMAL(24,10))) AS DOUBLE) / COUNT(u.v)), 6) AS m
  FROM ex GROUP BY label, u.pos
), ns AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY label
)
SELECT label, pos, m, n_vecs FROM per JOIN ns USING (label)
"""


# --------------------------------------------------------------------------
# k-means (Lloyd) — the iterative-algorithm pattern on Spark: distributed
# assignment, O(k·dim) driver state, quantized per-iteration centroids so
# the oracle can replay the identical recurrence as unrolled CTEs.
# --------------------------------------------------------------------------

_KM_K = 4
_KM_ITER = 2


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.kmeans_assign(_embs(spark, sf_dir), k=_KM_K, n_iter=_KM_ITER)


def q_kmeans_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-k Lloyd assignment kernel (r10): identical contract to
    emb_kmeans but the per-vector argmin runs as a chunked Arrow kernel
    (strict dimension-order float64 accumulation — bit-equal to the
    expression fold) instead of k unrolled struct expressions, the shape
    that scales to SemDeDup's 50k-cluster deployments. Shares
    emb_kmeans's oracle: arrow kernel == expression kernel == the DuckDB
    Lloyd replay is the operator's contract."""
    return similarity.kmeans_assign_arrow(
        _embs(spark, sf_dir), k=_KM_K, n_iter=_KM_ITER
    )


_KM_DIST = """
  list_sum(list_transform(range(1, len(e.embedding) + 1),
           i -> (CAST(e.embedding[i] AS DOUBLE) - {c}.cv[i])
                * (CAST(e.embedding[i] AS DOUBLE) - {c}.cv[i])))
"""

#: Shared Lloyd-replay CTE chain (seeds → assign → recompute → reassign);
#: O_KMEANS appends the final assignment select, O_SEMDEDUP appends the
#: within-cluster pruning on top of the same assignment. Only the SEED
#: CTE depends on k (everything downstream is k-generic), so the chain is
#: built by a function of the seed-LIMIT expression: the fixed-k rows
#: pass the literal, the r13 scaled-k row passes a scalar subquery that
#: derives k = floor(sqrt(n)) from the corpus itself — the sqrt(n)
#: posture the operator's own docstring prescribes, expressed in BOTH
#: engines so the oracle stays byte-composable at every sf (no
#: per-sf string surgery; the r11 positional-replace hazard class).


def _km_ctes(limit_sql: str) -> str:
    return f"""
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings ORDER BY vec_id LIMIT {limit_sql}
),
d0 AS (
  SELECT e.vec_id, s.c, {_KM_DIST.format(c='s')} AS dist
  FROM embeddings e CROSS JOIN seeds s
),
a0 AS (
  SELECT vec_id, c FROM (
    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
    FROM d0
  ) WHERE rn = 1
),
ex1 AS (
  SELECT a0.c, unnest(list_transform(e.embedding, (v, i) -> {{'pos': i, 'v': v}})) AS u
  FROM embeddings e JOIN a0 USING (vec_id)
),
m1 AS (
  SELECT c, u.pos AS pos, ROUND((CAST(SUM(CAST(CAST(u.v AS DOUBLE) AS DECIMAL(24,10))) AS DOUBLE) / COUNT(u.v)), 6) AS m
  FROM ex1 GROUP BY c, pos
),
c1m AS (SELECT c, list(m ORDER BY pos) AS cv FROM m1 GROUP BY c),
c1 AS (SELECT s.c, COALESCE(cm.cv, s.cv) AS cv FROM seeds s LEFT JOIN c1m cm USING (c)),
d1 AS (
  SELECT e.vec_id, t.c, {_KM_DIST.format(c='t')} AS dist
  FROM embeddings e CROSS JOIN c1 t
)
"""


#: k = max(1, floor(sqrt(n))) as a DuckDB scalar-subquery LIMIT — the
#: data-derived seed count the scaled-k semdedup row uses. sqrt is exact
#: for every corpus size the harness runs (n << 2^52).
_SCALED_K_LIMIT = (
    "(SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) "
    "FROM embeddings)"
)

_KM_CTES = _km_ctes(str(_KM_K))
_KM_CTES_SCALED = _km_ctes(_SCALED_K_LIMIT)

O_KMEANS = _KM_CTES + """
SELECT vec_id, CAST(c AS INTEGER) AS cluster, ROUND(dist, 6) AS sqdist FROM (
  SELECT vec_id, c, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
  FROM d1
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# SemDeDup semantic dedup (similarity.semdedup): k-means blocks, then
# within-cluster cosine pruning with the keep-lowest-id rule.
# --------------------------------------------------------------------------

_SEMDEDUP_THRESHOLD = 0.35


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector keep/drop decisions (SemDeDup, arXiv:2303.09540). The
    oracle replays the identical Lloyd recurrence as unrolled CTEs, then
    the same upper-triangle pruning: drop iff a lower-id cluster-mate has
    rounded cosine >= threshold. FIXED k=_KM_K for oracle-parity with the
    kmeans family — k pinned means cluster blocks grow linearly with the
    corpus and the within-block gemm quadratically, so this row is the
    SMALL-SF check only; the scale posture lives in
    ``emb_semdedup_scaledk`` (k = floor(sqrt(n)), the configuration a
    deployment actually runs — r12 verdict #2)."""
    return similarity.semdedup(
        _embs(spark, sf_dir), k=_KM_K, n_iter=_KM_ITER,
        threshold=_SEMDEDUP_THRESHOLD,
    )


def q_semdedup_scaledk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the operator's documented scale posture (r13): k grows
    as floor(sqrt(n)) with the corpus, keeping expected block size ~sqrt(n)
    so the within-cluster gemm stays ~O(n) total work per decade instead
    of the fixed-k row's O(n²). k is derived from a count of the (already
    pruned, vec_id-only) scan — one cheap metadata-sized job — and the
    oracle derives the SAME k inside SQL via a scalar-subquery LIMIT, so
    the row is hash-comparable at every sf without per-sf string surgery."""
    import math

    emb = _embs(spark, sf_dir)
    k = max(1, math.isqrt(emb.count()))
    # assignment through the chunked-Arrow Lloyd kernel — the documented
    # large-k path (bit-equal to the expression form by contract,
    # test_ext.py pins it): at k ~ sqrt(n) the expression form would
    # inline k x dim centroid literals into the plan per iteration.
    labels = similarity.kmeans_assign_arrow(
        emb, k=k, n_iter=_KM_ITER
    ).select("vec_id", "cluster")
    return similarity.semdedup(
        emb, threshold=_SEMDEDUP_THRESHOLD, labels=labels,
    )


#: Within-cluster pruning suffix shared by the fixed-k and scaled-k
#: semdedup oracles — appended to a _km_ctes(...) chain, never composed
#: by string replace (r11 hazard class).
_SEMDEDUP_SUFFIX = f"""
, asg AS (
  SELECT vec_id, CAST(c AS INTEGER) AS cluster FROM (
    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
    FROM d1
  ) WHERE rn = 1
),
pr AS (
  SELECT y.vec_id AS id_b, ROUND({_PAIR_COS}, 6) AS cs
  FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  JOIN embeddings a ON a.vec_id = x.vec_id
  JOIN embeddings b ON b.vec_id = y.vec_id
),
drops AS (SELECT DISTINCT id_b FROM pr WHERE cs >= {_SEMDEDUP_THRESHOLD})
SELECT asg.vec_id, asg.cluster, (d.id_b IS NULL) AS keep
FROM asg LEFT JOIN drops d ON asg.vec_id = d.id_b
"""

O_SEMDEDUP = _KM_CTES + _SEMDEDUP_SUFFIX
O_SEMDEDUP_SCALEDK = _KM_CTES_SCALED + _SEMDEDUP_SUFFIX


# --------------------------------------------------------------------------
# Deterministic shuffle-and-shard for training export (operators/shuffle.py
# — distributed global rank, no single-partition window).
# --------------------------------------------------------------------------

def q_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.shuffle import shard_for_training

    return shard_for_training(_docs(spark, sf_dir), shard_size=64)


O_SHARD = """
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(concat('0|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hh
  FROM documents
), r AS (
  SELECT doc_id, row_number() OVER (ORDER BY hh, doc_id) - 1 AS rnk FROM h
)
SELECT doc_id, CAST(rnk // 64 AS BIGINT) AS shard, rnk % 64 AS pos_in_shard FROM r
"""


_BUDGET_TOKENS = 15_000


def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (operators/shuffle.py:budget_select):
    walk docs in quality order — lexical diversity (distinct-token count,
    an exact integer score) DESC, id ASC — and keep while the cumulative
    token count stays ≤ the budget. The global running total is
    distributed: per-score bucket offsets (the score is monotone in the
    sort key) + one intra-score window — never a single-partition global
    window."""
    from ..ext.text import tokens as _tokens
    from ..operators.shuffle import budget_select

    toks = _tokens(F.coalesce(F.col("text"), F.lit("")))
    scored = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    return budget_select(
        scored, score_col="n_distinct", weight_col="n_tokens",
        budget=_BUDGET_TOKENS,
    )


O_BUDGET_SELECT = TOK_CTE + f"""
, scored AS (
  SELECT doc_id,
         CAST(len(list_distinct(coalesce(tk, []))) AS BIGINT) AS n_distinct,
         CAST(len(coalesce(tk, [])) AS BIGINT) AS n_tokens
  FROM toks
)
SELECT doc_id, n_distinct, n_tokens,
       CAST(SUM(n_tokens) OVER (ORDER BY n_distinct DESC, doc_id ASC
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight,
       SUM(n_tokens) OVER (ORDER BY n_distinct DESC, doc_id ASC
                           ROWS UNBOUNDED PRECEDING) <= {_BUDGET_TOKENS} AS keep
FROM scored
"""


# --------------------------------------------------------------------------
# Duplicated-chunk fraction (RefinedWeb-style corpus-wide redundancy filter)
# --------------------------------------------------------------------------

_DUPCHUNK_TOKENS = 10
_DUPCHUNK_MAX = 0.3


def q_dup_chunk_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dup_chunk_ratio(
        _docs(spark, sf_dir), chunk_tokens=_DUPCHUNK_TOKENS, max_ratio=_DUPCHUNK_MAX
    )


O_DUP_CHUNK_RATIO = TOK_CTE + f"""
, par AS (
  SELECT doc_id, tk, greatest(CAST(ceil(len(tk) / {_DUPCHUNK_TOKENS}.0) AS BIGINT), 1) AS n_chunks
  FROM toks
), ch AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(tk, s + 1, s + {_DUPCHUNK_TOKENS}), ' ')) AS h
  FROM (SELECT doc_id, tk, unnest(range(0, n_chunks * {_DUPCHUNK_TOKENS}, {_DUPCHUNK_TOKENS})) AS s FROM par)
), flagged AS (
  SELECT doc_id, CASE WHEN COUNT(*) OVER (PARTITION BY h) > 1 THEN 1 ELSE 0 END AS dup FROM ch
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(dup) AS BIGINT) AS n_dup_chunks,
       ROUND(SUM(dup) / COUNT(*), 6) AS dup_ratio,
       SUM(dup) <= {_DUPCHUNK_MAX} * COUNT(*) AS keep
FROM flagged GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# C4-style duplicate-span removal (keep-first corpus rewrite)
# --------------------------------------------------------------------------


def q_remove_dup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.remove_dup_chunks(_docs(spark, sf_dir), chunk_tokens=_DUPCHUNK_TOKENS)


O_REMOVE_DUP_CHUNKS = TOK_CTE + f"""
, par AS (
  SELECT doc_id, tk, greatest(CAST(ceil(len(tk) / {_DUPCHUNK_TOKENS}.0) AS BIGINT), 1) AS n_chunks
  FROM toks
), ch AS (
  SELECT doc_id, s,
         array_to_string(list_slice(tk, s + 1, s + {_DUPCHUNK_TOKENS}), ' ') AS ct
  FROM (SELECT doc_id, tk, unnest(range(0, n_chunks * {_DUPCHUNK_TOKENS}, {_DUPCHUNK_TOKENS})) AS s FROM par)
), flagged AS (
  SELECT doc_id, s, ct,
         CASE WHEN row_number() OVER (PARTITION BY md5(ct) ORDER BY doc_id, s) = 1
              THEN 1 ELSE 0 END AS keep
  FROM ch
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_removed,
       coalesce(array_to_string(list(ct ORDER BY s) FILTER (WHERE keep = 1), ' '), '') AS clean_text
FROM flagged GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al. 2003 window-min selection)
# --------------------------------------------------------------------------

_WINNOW_K = 4
_WINNOW_W = 5


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.winnowing_stats(_docs(spark, sf_dir), k=_WINNOW_K, w=_WINNOW_W)


def _winnow_poly_sql(coefs: list[tuple[int, int]]) -> str:
    """DuckDB twin of winnow_select's Carter-Wegman k-gram combine: the
    Σ_j a_j·(th[i+j] mod 2^30) + b_j·(th[i+j] div 2^30) polynomial over
    the precomputed per-token 60-bit md5 hashes, mod MH_P. ``th[i+j]``
    is 1-based on both engines and non-negative, so // == shiftright."""
    terms = " + ".join(
        f"{a} * (th[i + {j}] % {1 << 30}) + {b} * (th[i + {j}] // {1 << 30})"
        for j, (a, b) in enumerate(coefs)
    )
    return f"(({terms}) % {dedup.MH_P})"


_W_PRM = dedup.mh_params(2 * _WINNOW_K)

#: shared winnowing selection CTEs (th → kg → wins) — prefix of both the
#: stats and the candidate-pairs oracles. Mirrors ext.text.winnow_select:
#: per-token 60-bit md5 hash computed once, two CW combines packed into a
#: 62-bit k-gram hash, window-min with leftmost tie-break via
#: list_position (first occurrence — same rule as Spark array_position).
_WINNOW_SEL_CTE = f"""
, th AS (
  SELECT doc_id,
         greatest(len(tk) - {_WINNOW_K - 1}, 0) AS n_kg,
         greatest(len(tk) - {_WINNOW_K + _WINNOW_W - 2}, 0) AS n_win,
         list_transform(tk, t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)) AS th
  FROM toks
), kg AS (
  SELECT doc_id, n_kg, n_win,
         CASE WHEN n_kg >= 1
              THEN list_transform(
                     range(1, n_kg + 1),
                     i -> {_winnow_poly_sql(_W_PRM[:_WINNOW_K])} * {1 << 31}
                          + {_winnow_poly_sql(_W_PRM[_WINNOW_K:])})
              ELSE [] END AS hs
  FROM th
), wins AS (
  SELECT doc_id, n_kg, n_win,
         CASE WHEN n_kg >= {_WINNOW_W}
              THEN list_transform(
                     range(1, n_kg - {_WINNOW_W - 1} + 1),
                     j -> struct_pack(
                            h := list_min(list_slice(hs, j, j + {_WINNOW_W - 1})),
                            p := j - 2 + list_position(
                                   list_slice(hs, j, j + {_WINNOW_W - 1}),
                                   list_min(list_slice(hs, j, j + {_WINNOW_W - 1})))))
              ELSE [] END AS wn
  FROM kg
), fpr AS (
  SELECT DISTINCT doc_id, s.h AS h, s.p AS p
  FROM (SELECT doc_id, unnest(wn) AS s FROM wins)
)
"""

O_WINNOWING = TOK_CTE + _WINNOW_SEL_CTE + """
, agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_fp,
         MIN(struct_pack(h := h, p := p)) AS mn,
         MAX(struct_pack(h := h, p := p)) AS mx
  FROM fpr GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(w.n_kg AS BIGINT) AS n_kgrams,
       CAST(w.n_win AS BIGINT) AS n_windows,
       CAST(COALESCE(a.n_fp, 0) AS BIGINT) AS n_fingerprints,
       CASE WHEN w.n_win > 0 THEN ROUND(COALESCE(a.n_fp, 0) / w.n_win, 6) END AS density,
       CAST(struct_extract(a.mn, 'h') AS BIGINT) AS min_fp_h,
       CAST(struct_extract(a.mn, 'p') AS BIGINT) AS min_fp_p,
       CAST(struct_extract(a.mx, 'h') AS BIGINT) AS max_fp_h,
       CAST(struct_extract(a.mx, 'p') AS BIGINT) AS max_fp_p
FROM wins w LEFT JOIN agg a USING (doc_id)
"""

_WINNOW_MIN_SHARED = 2
_WINNOW_MAX_FP_DF = 1_000


def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.winnowing_pairs(
        _docs(spark, sf_dir), k=_WINNOW_K, w=_WINNOW_W,
        min_shared=_WINNOW_MIN_SHARED, max_fp_df=_WINNOW_MAX_FP_DF,
    )


O_WINNOWING_PAIRS = TOK_CTE + _WINNOW_SEL_CTE + f"""
, fph AS (
  SELECT DISTINCT doc_id, h FROM fpr
), elig AS (
  SELECT h FROM fph GROUP BY h HAVING COUNT(*) BETWEEN 2 AND {_WINNOW_MAX_FP_DF}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_fps
FROM fph a JOIN fph b ON a.h = b.h AND a.doc_id < b.doc_id
WHERE a.h IN (SELECT h FROM elig)
GROUP BY 1, 2 HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
"""


# --------------------------------------------------------------------------
# Exact substring-span dedup (Lee et al. 2022 ExactSubstr, k-gram-run form)
# --------------------------------------------------------------------------

_SUBSTR_K = 8
_SUBSTR_PRM = dedup.mh_params(2 * _SUBSTR_K)

#: shared per-token-hash CTE of the three ExactSubstr oracles (stats /
#: rewrite / pairs): doc_id, token count, k-gram count, the token list,
#: and the 60-bit per-token md5 hashes — each oracle derives its own
#: gram structure from this superset, so the hashing replay lives in ONE
#: place (mirrors ext/dedup.py:_doc_gram_hashes on the Spark side)
_SUBSTR_TH_CTE = f"""
, th8 AS (
  -- coalesce(tk, []): NULL text == empty doc (n_tokens 0, never -1/NULL)
  -- — mirrors the Spark side's text coalesce in _doc_gram_hashes
  SELECT doc_id, len(tk) AS n_tokens,
         greatest(len(tk) - {_SUBSTR_K - 1}, 0) AS n_kg, tk,
         list_transform(tk, t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)) AS th
  FROM (SELECT doc_id, coalesce(tk, []) AS tk FROM toks)
)"""

#: the packed 62-bit k-gram hash at 1-based position i over th
_SUBSTR_HASH_SQL = (
    f"{_winnow_poly_sql(_SUBSTR_PRM[:_SUBSTR_K])} * {1 << 31}"
    f" + {_winnow_poly_sql(_SUBSTR_PRM[_SUBSTR_K:])}"
)


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc exact duplicated-substring coverage: maximal runs of
    k-grams that occur ≥2× corpus-wide, merged into token spans — the
    distributed sorted-k-gram-run formulation of suffix-array substring
    dedup (see ext/dedup.py:substring_dup_spans for the algorithm and
    the two-exchange plan shape)."""
    return dedup.substring_dup_spans(_docs(spark, sf_dir), k=_SUBSTR_K)


O_SUBSTRING_DEDUP = TOK_CTE + _SUBSTR_TH_CTE + f"""
, kg8 AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_kg >= 1
              THEN list_transform(
                     range(1, n_kg + 1),
                     i -> struct_pack(p := i, h := {_SUBSTR_HASH_SQL}))
              ELSE [] END AS gr
  FROM th8
), g AS (
  SELECT doc_id, struct_extract(s, 'p') AS pos, struct_extract(s, 'h') AS h
  FROM (SELECT doc_id, unnest(gr) AS s FROM kg8)
), gc AS (
  SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) >= 2 AS cov FROM g
), fl AS (
  -- previous covered position: MAX over the preceding frame == last
  -- covered (pos ascends) — the same portable spelling the Spark side uses
  SELECT doc_id, pos, cov,
         MAX(CASE WHEN cov THEN pos END) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
  FROM gc
), agg AS (
  SELECT doc_id,
         SUM(CASE WHEN cov AND (prev IS NULL OR pos - prev > {_SUBSTR_K - 1})
                  THEN 1 ELSE 0 END) AS n_dup_spans,
         SUM(CASE WHEN cov
                  THEN least(coalesce(pos - prev, {_SUBSTR_K}), {_SUBSTR_K})
                  ELSE 0 END) AS dup_tokens
  FROM fl GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(t.n_kg AS BIGINT) AS n_kgrams,
       CAST(COALESCE(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CASE WHEN t.n_tokens > 0
            THEN CAST((COALESCE(a.dup_tokens, 0) * CAST(1000000 AS BIGINT))
                      // t.n_tokens AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS dup_ratio_ppm
FROM th8 t LEFT JOIN agg a USING (doc_id)
"""


_SUBSTR_MIN_SHARED = 2
_SUBSTR_MAX_GRAM_DF = 1_000


def q_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shared-substring doc pairs: docs sharing ≥2 distinct k-gram
    hashes, df-capped posting lists (see
    ext/dedup.py:substring_shared_gram_pairs)."""
    return dedup.substring_shared_gram_pairs(
        _docs(spark, sf_dir), k=_SUBSTR_K, min_shared=_SUBSTR_MIN_SHARED,
        max_gram_df=_SUBSTR_MAX_GRAM_DF,
    )


O_SUBSTRING_PAIRS = TOK_CTE + _SUBSTR_TH_CTE + f"""
, kg8 AS (
  SELECT doc_id,
         CASE WHEN n_kg >= 1
              THEN list_transform(range(1, n_kg + 1), i -> {_SUBSTR_HASH_SQL})
              ELSE [] END AS hs
  FROM th8
), gh AS (
  SELECT DISTINCT doc_id, h
  FROM (SELECT doc_id, unnest(hs) AS h FROM kg8)
), elig AS (
  SELECT h FROM gh GROUP BY h
  HAVING COUNT(*) BETWEEN 2 AND {_SUBSTR_MAX_GRAM_DF}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_grams
FROM gh a JOIN gh b ON a.h = b.h AND a.doc_id < b.doc_id
WHERE a.h IN (SELECT h FROM elig)
GROUP BY 1, 2 HAVING COUNT(*) >= {_SUBSTR_MIN_SHARED}
"""


def q_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL (keep-first): the rewrite counterpart of
    docs_substring_dedup — see ext/dedup.py:substring_dedup_rewrite for
    the keep-first/kept-wins semantics and the k-fan-out plan shape."""
    return dedup.substring_dedup_rewrite(_docs(spark, sf_dir), k=_SUBSTR_K)


def q_substring_rewrite_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION index-maintenance split of ExactSubstr removal,
    driven end-to-end: build the gram-index matview (h, cnt, min_okey)
    from two halves of the corpus as two replay-guarded segment applies
    (streaming/matview.py:apply_gram_index_delta — counts add, the
    keep-first order key mins across batches), then rewrite the corpus
    against the segment-merged MAINTAINED view
    (ext/dedup.py:substring_dedup_rewrite_from_index) with no corpus-wide
    window pass. The oracle is byte-identical to docs_substring_rewrite's
    — index-driven == one-shot batch rewrite is the operator's contract —
    so the driver's hash check certifies the matview machinery itself,
    not just a rows-only smoke. The view directory is a deterministic
    per-session temp path, rebuilt per call (a deployment would keep it —
    that is the point of the split)."""
    docs, view = _gram_index_view(spark, sf_dir, "skylogix_gram_index")
    return dedup.substring_dedup_rewrite_from_index(docs, view, k=_SUBSTR_K)


def _gram_index_view(spark: SparkSession, sf_dir: str, prefix: str,
                     max_gram_df: int = 1_000) -> tuple[DataFrame, DataFrame]:
    """Build the ExactSubstr gram-index matview over the corpus as two
    replay-guarded segment applies (streaming/matview.py:
    apply_gram_index_delta) and return (docs, the segment-merged view
    from read_gram_index_segments) — the shared maintenance preamble of
    the three *_indexed read-path queries
    (each uses its own state prefix so sequential sweep runs never share
    state). ``docs`` is the narrow (id, text) projection OWNED-PERSISTED
    once (r14, r13 verdict #7): both apply halves AND the caller's read
    path fold over the same cached rows instead of three parquet
    text-column scans; release_owned_caches() reclaims it per bench rep."""
    import os

    from ..cache import owned_persist
    from ..streaming.matview import apply_gram_index_delta, read_gram_index_segments

    docs = owned_persist(_docs(spark, sf_dir).select("doc_id", "text"))
    root = _session_state_dir(spark, sf_dir, prefix)
    state = os.path.join(root, "view")
    apply_gram_index_delta(docs.filter(F.col("doc_id") % 2 == 0), 0, state,
                           k=_SUBSTR_K)
    apply_gram_index_delta(docs.filter(F.col("doc_id") % 2 == 1), 1, state,
                           k=_SUBSTR_K)
    return docs, read_gram_index_segments(spark, state, max_gram_df=max_gram_df)


def q_substring_rewrite_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal against LSM-SEGMENTED gram-index state (r10;
    protocol widened r14): batches 0 and 1 land as raw segments from
    CONCURRENT writers (one writer per (state_dir, batch_id) — the r14
    commutativity contract the ingest cycle runs on), the pair is
    COMPACTED (manifest-carrying fold), batch 2 lands as a raw segment on
    top, and the rewrite reads the monoid-merged compact+raw view — so a
    driver green hash-certifies concurrent segment writes, compaction,
    raw overlay, and the read merge end to end. Oracle byte-identical to
    docs_substring_rewrite's (segmented == compacting == one-shot is the
    protocol's contract, pinned in tests/test_matview.py). The corpus
    text is scanned ONCE (owned-persisted narrow projection shared by
    all three applies and the rewrite — r13 verdict #7: this row paid
    three text scans)."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from ..cache import owned_persist
    from ..streaming.matview import (
        apply_gram_index_occ_delta,
        compact_gram_index_segments,
        read_gram_index_segments,
    )

    # ONE corpus gram-hash pass (r14, r13 verdict #7 — this row used to
    # pay it twice: once inside the applies, once inside the rewrite):
    # persist the occurrence frame, slice it per batch for the segment
    # deltas, and hand the same triple to the rewrite.
    docs = owned_persist(_docs(spark, sf_dir).select("doc_id", "text"))
    gdf, toks, occ = dedup.gram_occurrences(docs, "text", "doc_id", _SUBSTR_K)
    occ = owned_persist(occ)
    occ.count()  # clean parallel fill before the concurrent appliers
    root = _session_state_dir(spark, sf_dir, "skylogix_gram_lsm")
    state = os.path.join(root, "view")
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(apply_gram_index_occ_delta,
                        occ.filter(F.col("doc_id") % 3 == b), b, state)
            for b in (0, 1)
        ]
        for f in futs:
            f.result()
    compact_gram_index_segments(spark, state)
    apply_gram_index_occ_delta(occ.filter(F.col("doc_id") % 3 == 2), 2, state)
    view = read_gram_index_segments(spark, state)
    return dedup.substring_dedup_rewrite_from_index(
        docs, view, k=_SUBSTR_K, grams=(gdf, toks, occ))


def q_substring_rewrite_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal after a RETRACTION (r11): maintain the
    retractable (Z-set, doc-granular) gram-index view over two ingest
    batches, retract a corrected shard (doc_id % 7 == 3) as a tombstone
    batch, then rewrite the SURVIVING corpus from the merged view
    (streaming/matview.py:apply_gram_index_delta /
    retract_gram_index_delta / read_gram_index_segments).
    Retraction here changes real answers — keep-first argmins held by
    retracted docs re-elect, duplicate counts drop — so the oracle is the
    one-shot rewrite oracle evaluated over the survivors, certifying the
    invertible weighted fold end to end."""
    import os

    from ..streaming.matview import (
        apply_gram_index_delta,
        read_gram_index_segments,
        retract_gram_index_delta,
    )

    docs = _docs(spark, sf_dir)
    root = _session_state_dir(spark, sf_dir, "skylogix_gram_rz")
    state = os.path.join(root, "view")
    apply_gram_index_delta(
        docs.filter(F.col("doc_id") % 2 == 0), 0, state, k=_SUBSTR_K)
    apply_gram_index_delta(
        docs.filter(F.col("doc_id") % 2 == 1), 1, state, k=_SUBSTR_K)
    retract_gram_index_delta(
        docs.filter(F.col("doc_id") % 7 == 3), 2, state, k=_SUBSTR_K)
    view = read_gram_index_segments(spark, state)
    survivors = docs.filter(F.col("doc_id") % 7 != 3)
    return dedup.substring_dedup_rewrite_from_index(survivors, view, k=_SUBSTR_K)


def q_substring_rewrite_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot (time-travel) read over a SECOND view family (r12): the
    as-of machinery has a driver hash only through the exact-dedup view,
    whose read fold is plain MIN/ADD monoids. This row reconstructs the
    retractable GRAM-INDEX view as it stood BEFORE a delete
    (streaming/matview.py:read_gram_index_as_of — merge only
    segments with batch id <= 1) and drives the ExactSubstr rewrite of
    the FULL corpus from that snapshot: the weighted capped-posting fold
    (doc-granular Z-set weights, cnt/min_okey argmins, over-cap
    collapse) must reproduce the pre-delete index exactly, so the
    oracle is byte-identical to the full-corpus rewrite's — the
    tombstone written at batch 2 must be genuinely invisible, not
    compensated."""
    import os

    from ..streaming.matview import (
        apply_gram_index_delta,
        read_gram_index_as_of,
        retract_gram_index_delta,
    )

    docs = _docs(spark, sf_dir)
    root = _session_state_dir(spark, sf_dir, "skylogix_gram_asof")
    state = os.path.join(root, "view")
    apply_gram_index_delta(
        docs.filter(F.col("doc_id") % 2 == 0), 0, state, k=_SUBSTR_K,
        auto_compact=None)
    apply_gram_index_delta(
        docs.filter(F.col("doc_id") % 2 == 1), 1, state, k=_SUBSTR_K,
        auto_compact=None)
    retract_gram_index_delta(
        docs.filter(F.col("doc_id") % 7 == 3), 2, state, k=_SUBSTR_K,
        auto_compact=None)
    snapshot = read_gram_index_as_of(spark, state, 1)
    return dedup.substring_dedup_rewrite_from_index(docs, snapshot, k=_SUBSTR_K)


def q_substring_dedup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr coverage STATS against the maintained gram-index view
    (r10, r9 verdict #5): build the view as two replay-guarded
    micro-batch applies, then read duplicated-span statistics for the
    whole corpus from it (ext/dedup.py:substring_dup_spans_from_index —
    the corpus-count window becomes a hash join against the view). The
    oracle is byte-identical to docs_substring_dedup's: index-driven ==
    one-shot batch stats is the operator's contract, so the driver's
    hash check certifies the maintained-count read path itself."""
    docs, view = _gram_index_view(spark, sf_dir, "skylogix_gram_index_sp")
    return dedup.substring_dup_spans_from_index(docs, view, k=_SUBSTR_K)


def q_substring_pairs_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr PAIR detection answered from the maintained gram-index
    view's capped posting lists (r10, r9 verdict #5): after the two
    micro-batch applies, the pair query never touches the corpus at all
    (ext/dedup.py:substring_shared_gram_pairs_from_index — the view's
    posting lists ARE the detector's buckets; the df cap applies at
    read time, matching the batch detector's). The oracle is
    byte-identical to docs_substring_pairs's by the view==batch
    contract."""
    _, view = _gram_index_view(
        spark, sf_dir, "skylogix_gram_index_pr", max_gram_df=_SUBSTR_MAX_GRAM_DF
    )
    return dedup.substring_shared_gram_pairs_from_index(
        view, min_shared=_SUBSTR_MIN_SHARED
    )


O_SUBSTRING_REWRITE = TOK_CTE + _SUBSTR_TH_CTE + f"""
, kgr AS (
  SELECT doc_id, n_tokens, tk,
         CASE WHEN n_kg >= 1
              THEN list_transform(
                     range(1, n_kg + 1),
                     i -> struct_pack(p := i, h := {_SUBSTR_HASH_SQL}))
              ELSE [] END AS gr
  FROM th8
), grr AS (
  SELECT doc_id, struct_extract(s, 'p') AS p, struct_extract(s, 'h') AS h
  FROM (SELECT doc_id, unnest(gr) AS s FROM kgr)
), gf AS (
  -- keep-first: the occurrence minimizing (doc_id, pos), encoded as one
  -- portable MIN over doc_id·2^20 + pos (same bounds as the Spark side)
  SELECT doc_id, p,
         COUNT(*) OVER (PARTITION BY h) AS cnt,
         (doc_id * 1048576 + p) =
           MIN(doc_id * 1048576 + p) OVER (PARTITION BY h) AS is_first
  FROM grr
), tf AS (
  SELECT doc_id, t,
         MAX(CASE WHEN NOT is_first THEN 1 ELSE 0 END) AS dup_any,
         MAX(CASE WHEN is_first THEN 1 ELSE 0 END) AS kept_any
  FROM (SELECT doc_id, is_first, unnest(range(p, p + {_SUBSTR_K})) AS t
        FROM gf WHERE cnt >= 2)
  GROUP BY 1, 2
), tokr AS (
  SELECT doc_id, struct_extract(s, 't') AS t, struct_extract(s, 'w') AS w
  FROM (SELECT doc_id,
               unnest(CASE WHEN len(tk) >= 1
                           THEN list_transform(range(1, len(tk) + 1),
                                               i -> struct_pack(t := i, w := tk[i]))
                           ELSE [] END) AS s
        FROM kgr)
), res AS (
  SELECT k.doc_id, k.t, k.w,
         CASE WHEN COALESCE(f.dup_any, 0) = 1 AND COALESCE(f.kept_any, 0) = 0
              THEN 1 ELSE 0 END AS removed
  FROM tokr k LEFT JOIN tf f ON k.doc_id = f.doc_id AND k.t = f.t
), agg AS (
  SELECT doc_id, SUM(removed) AS n_removed,
         COALESCE(string_agg(CASE WHEN removed = 0 THEN w END, ' ' ORDER BY t),
                  '') AS clean_text
  FROM res GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed,
       COALESCE(a.clean_text, '') AS clean_text
FROM kgr b LEFT JOIN agg a USING (doc_id)
"""


# --------------------------------------------------------------------------
# Interpolated bigram-LM mean log-probability (KenLM-style quality proxy)
# --------------------------------------------------------------------------

_BIGRAM_LAMBDA = 0.5
_BIGRAM_MIN = -9.0


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bigram_logprob(
        _docs(spark, sf_dir), lam=_BIGRAM_LAMBDA, min_logprob=_BIGRAM_MIN
    )


O_BIGRAM_LOGPROB = TOK_CTE + f"""
, pr AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 2
              THEN list_concat(
                     [struct_pack(prev := CAST(NULL AS VARCHAR), w := tk[1])],
                     list_transform(range(2, len(tk) + 1),
                                    i -> struct_pack(prev := tk[i - 1], w := tk[i])))
              WHEN len(tk) = 1 THEN [struct_pack(prev := CAST(NULL AS VARCHAR), w := tk[1])]
              ELSE [] END AS ps
  FROM toks
), t AS (
  SELECT doc_id, p.prev AS prev, p.w AS w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(ps) AS p FROM pr) GROUP BY 1, 2, 3
), uni AS (SELECT w, SUM(tf) AS cf FROM t GROUP BY w),
tot AS (SELECT SUM(cf) AS n_total FROM uni),
tb AS (SELECT * FROM t WHERE prev IS NOT NULL),
bc AS (SELECT prev, w, SUM(tf) AS bct FROM tb GROUP BY 1, 2),
pc AS (SELECT prev, SUM(bct) AS pct FROM bc GROUP BY 1),
sc AS (
  SELECT tb.doc_id, tb.tf,
         tb.tf * ln({_BIGRAM_LAMBDA} * bc.bct / pc.pct
                    + {1.0 - _BIGRAM_LAMBDA} * uni.cf / tot.n_total) AS wlp
  FROM tb JOIN bc USING (prev, w) JOIN pc USING (prev) JOIN uni USING (w), tot
)
SELECT doc_id, n_bigrams,
       {_sql_sdivha('su', 'n_bigrams')} / 1000000.0 AS avg_logprob,
       su >= {int(round(_BIGRAM_MIN * 1_000_000))} * n_bigrams AS keep
FROM (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         CAST({sql_fsum_units('wlp', 6)} AS BIGINT) AS su
  FROM sc GROUP BY doc_id
)
"""


# --------------------------------------------------------------------------
# Unigram-LM mean log-probability (perplexity-proxy quality score)
# --------------------------------------------------------------------------

_LOGPROB_MIN = -9.0


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.unigram_logprob(_docs(spark, sf_dir), min_logprob=_LOGPROB_MIN)


O_UNIGRAM_LOGPROB = TOK_CTE + f"""
, tok_rows AS (SELECT doc_id, unnest(tk) AS w FROM toks),
tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM tok_rows GROUP BY 1, 2),
cf AS (SELECT w, SUM(tf) AS cf FROM tf GROUP BY w),
nt AS (SELECT SUM(cf) AS n_total FROM cf),
scored AS (
  SELECT doc_id, tf, tf * ln(cf / n_total) AS wlp
  FROM tf JOIN cf USING (w), nt
)
SELECT doc_id, n_tokens,
       {_sql_sdivha('su', 'n_tokens')} / 1000000.0 AS avg_logprob,
       su >= {int(round(_LOGPROB_MIN * 1_000_000))} * n_tokens AS keep
FROM (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST({sql_fsum_units('wlp', 6)} AS BIGINT) AS su
  FROM scored GROUP BY doc_id
)
"""


# --------------------------------------------------------------------------
# α-temperature multilingual mixture (data-derived sampling rates)
# --------------------------------------------------------------------------

_TMIX_SEED = 29


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.temperature_mixture(_docs(spark, sf_dir), alpha=0.5,
                                    budget_frac=0.6, seed=_TMIX_SEED)


O_TEMPERATURE_MIXTURE = f"""
WITH counts AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
weights AS (SELECT lang, n_docs, ROUND(pow(n_docs, 0.5), 6) AS w FROM counts),
totals AS (
  SELECT SUM(n_docs) AS n_total,
         CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS w_total
  FROM weights
),
conf AS (
  SELECT lang, n_docs,
         ROUND(w / w_total, 6) AS target_share,
         least(1.0, 0.6 * (w / w_total) * n_total / n_docs) AS rate
  FROM weights, totals
),
thr AS (
  SELECT lang, n_docs, target_share, CAST(ROUND(rate * 1000000) AS BIGINT) AS thr FROM conf
),
picked AS (
  SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_selected
  FROM documents d JOIN thr USING (lang)
  WHERE {_sql_hash(_TMIX_SEED, 'CAST(doc_id AS VARCHAR)')} % 1000000 < thr
  GROUP BY d.lang
)
SELECT t.lang, t.n_docs, t.target_share,
       COALESCE(p.n_selected, 0) AS n_selected,
       ROUND(COALESCE(p.n_selected, 0) / t.n_docs, 6) AS realized_rate
FROM thr t LEFT JOIN picked p USING (lang)
"""


# --------------------------------------------------------------------------
# Benchmark decontamination: per-doc shingle overlap with an eval set.
# --------------------------------------------------------------------------

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 23rd document plays the benchmark/eval set; the remaining
    corpus is scored for n-gram contamination against it (ext.dedup.
    decontaminate — broadcast 60-bit benchmark shingle hashes, no corpus
    shuffle before the per-doc agg)."""
    d = _docs(spark, sf_dir)
    benchmark = d.filter(F.col("doc_id") % 23 == 0)
    corpus = d.filter(F.col("doc_id") % 23 != 0)
    return dedup.decontaminate(corpus, benchmark)


O_DECONTAMINATE = TOK_CTE + f"""
, ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
, hashed AS (SELECT doc_id, {_sql_hash(0, 's')} AS h FROM ex)
, bench AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 23 = 0)
SELECT d.doc_id,
       CAST(COUNT(DISTINCT d.h) AS BIGINT) AS n_shingles,
       CAST(COUNT(DISTINCT CASE WHEN b.h IS NOT NULL THEN d.h END) AS BIGINT) AS n_matched,
       ROUND(COUNT(DISTINCT CASE WHEN b.h IS NOT NULL THEN d.h END) * 1.0
             / COUNT(DISTINCT d.h), 6) AS contamination,
       COUNT(b.h) > 0 AS contaminated
FROM hashed d LEFT JOIN bench b USING (h)
WHERE d.doc_id % 23 <> 0
GROUP BY d.doc_id
"""


# --------------------------------------------------------------------------
# URL family (r13, r12 verdict #5): canonicalization, URL dedup, domain
# mix, URL decontamination over synthetic URL columns (the testdata
# carries no URLs — ext/url.py:synthetic_urls plants deterministic
# mod-40 canonical collisions the same way synthetic_texture_assets
# plants image clusters). The oracles derive the canonical form in
# CLOSED FORM from the id arithmetic — an independent second derivation,
# so a canonicalizer regression cannot silently agree with itself.
# --------------------------------------------------------------------------

def _docs_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return urlops.synthetic_urls(_docs(spark, sf_dir).select("doc_id"))


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw → canonical URL for every doc: the canonicalizer itself under
    the driver's value hash, across every planted variant (scheme case,
    www, default ports, tracking params, fragments, trailing slashes)."""
    d = _docs_urls(spark, sf_dir)
    return d.select(
        "doc_id", "url",
        urlops.canonicalize_url("url").alias("canonical_url"),
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup: keeper + copy count per canonical URL
    (ext/url.py:url_dedup — one canonical-hash shuffle, keep-lowest-id)."""
    return urlops.url_dedup(_docs_urls(spark, sf_dir))


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain composition (ext/url.py:domain_mix): doc count
    and corpus share per domain, public-suffix-aware (co.uk keeps three
    labels)."""
    return urlops.domain_mix(_docs_urls(spark, sf_dir))


# --------------------------------------------------------------------------
# Sequence packing (ext/packing.py, r14) — the GPT-style concat-and-cut
# into fixed token windows, built on the scalable two-phase global
# cumulative sum (bounded windows + a broadcast bucket prefix instead of
# a single-partition global sort). The oracle computes the same offsets
# with DuckDB's ordinary window — bit-identical by integer associativity.
# --------------------------------------------------------------------------

_SEQ_LEN = 512


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk packing summary at seq_len=512 (ext/packing.py:
    pack_chunks): chunk membership counts, boundary docs, and the token
    count per window. bucket_size=64 at test scale so the two-phase
    offset path genuinely crosses buckets (500 docs → 8 buckets)."""
    from ..ext.packing import pack_chunks

    return pack_chunks(_docs(spark, sf_dir), seq_len=_SEQ_LEN,
                       bucket_size=64)


O_PACK_CHUNKS = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n
  FROM documents
),
o AS (
  SELECT doc_id, n,
         CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS off
  FROM t
),
mem AS (
  SELECT doc_id,
         unnest(range(off // {_SEQ_LEN}, (off + n - 1) // {_SEQ_LEN} + 1))
           AS chunk_id
  FROM o WHERE n > 0
),
tot AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS total FROM t)
SELECT chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc,
       CAST(least({_SEQ_LEN}, total - chunk_id * {_SEQ_LEN}) AS BIGINT)
         AS n_tokens
FROM mem CROSS JOIN tot
GROUP BY chunk_id, total
"""


# --------------------------------------------------------------------------
# HTML-to-text extraction (ext/html.py, r14) — the crawl normalization
# layer that runs before any text operator. Planted markup from id
# arithmetic (synthetic_html_texts); the oracle replays the identical
# regexp_replace chain in DuckDB (Java+RE2-valid patterns incl. inline
# (?is) flags and lazy quantifiers), with tests/test_html.py pinning the
# closed-form extraction independently.
# --------------------------------------------------------------------------

def q_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction audit table (ext/html.py:html_strip): prose text,
    lengths, and the text/markup ratio crawl pipelines threshold on.
    Scan-speed chain of regexp_replace passes. Respread before the chain
    (r15): the local sf parquet is ONE row group, so the whole regex
    kernel ran on one core at any local[n]; repartition_for_compute is a
    no-op at real scale where the scan has enough partitions (the same
    posture as every text operator)."""
    from ..ext import html as htmlops
    from ..ext.text import repartition_for_compute

    d = htmlops.synthetic_html_texts(
        repartition_for_compute(
            _docs(spark, sf_dir).select("doc_id", "text"), "doc_id"))
    return htmlops.html_strip(d)


def _o_html_strip() -> str:
    from ..ext import html as htmlops

    chain = "html"
    for pat, repl in htmlops.HTML_STRIP_CHAIN:
        p = pat.replace("'", "''")
        r = repl.replace("'", "''")
        chain = f"regexp_replace({chain}, '{p}', '{r}', 'g')"
    return f"""
WITH h AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 3 = 0 THEN '<h1 class="t">Title ' || CAST(doc_id % 6 AS VARCHAR) || '</h1> ' ELSE '' END)
    || (CASE WHEN doc_id % 4 = 0 THEN '<script type="text/javascript">junk' || CAST(doc_id AS VARCHAR) || '();' || chr(10) || 'more();</script>' ELSE '' END)
    || '<p>' || text || '</p>'
    || (CASE WHEN doc_id % 5 = 0 THEN ' <a href="/p?id=' || CAST(doc_id AS VARCHAR) || '&amp;v=1" rel="nofollow">link' || CAST(doc_id % 9 AS VARCHAR) || '</a>' ELSE '' END)
    || (CASE WHEN doc_id % 7 = 0 THEN ' a&amp;b &lt;tag&gt; &#39;q&#39;' ELSE '' END)
    || (CASE WHEN doc_id % 11 = 0 THEN '<!-- hidden' || chr(10) || 'note -->' ELSE '' END)
    AS html
  FROM documents
)
SELECT doc_id,
       trim({chain}) AS text,
       CAST(length(html) AS INTEGER) AS html_len,
       CAST(length(trim({chain})) AS INTEGER) AS text_len,
       CAST(FLOOR(CAST(length(trim({chain})) AS BIGINT) * 1000.0
            / greatest(length(html), 1)) AS BIGINT) AS text_ratio_pm
FROM h
"""


# --------------------------------------------------------------------------
# PII detection / redaction (ext/pii.py, r14) — the curation scrub pass.
# The corpus carries no PII, so ext/pii.py:synthetic_pii_texts plants
# deterministic emails/IPs/phones from id arithmetic (the synthetic_urls
# pattern); the oracle replays the IDENTICAL regex chain in DuckDB (every
# pattern is Java+RE2 valid), making the hash a two-engine differential
# of the regex semantics, and tests/test_pii.py additionally pins the
# closed-form counts.
# --------------------------------------------------------------------------

def _docs_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    # respread before the regex chain (r15): same single-row-group
    # rationale as q_html_strip — no-op at real scale
    from ..ext.text import repartition_for_compute

    return piiops.synthetic_pii_texts(
        repartition_for_compute(
            _docs(spark, sf_dir).select("doc_id", "text"), "doc_id"))


def q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII detection stats (ext/pii.py:pii_counts): match
    counts per class on the raw text + total — the audit/threshold table
    a curation run reviews before scrubbing. Scan-speed projection, no
    shuffle."""
    return piiops.pii_counts(_docs_pii(spark, sf_dir))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered PII redaction (ext/pii.py:pii_redact): emails, then IPs,
    then phones, each pass counting what IT replaced — the order is a
    contract (an email whose host embeds a dotted-quad redacts as ONE
    email; the planted id%9 rows exercise exactly that, and detection vs
    redaction counts differ on them by design)."""
    return piiops.pii_redact(_docs_pii(spark, sf_dir))


_PII_CTE = """
WITH p AS (
  SELECT doc_id,
    text
    || (CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id % 50 AS VARCHAR) || '@' ||
          (CASE WHEN doc_id % 9 = 0
                THEN '10.0.0.' || CAST(doc_id % 200 AS VARCHAR) || '.example.org'
                ELSE 'mail' || CAST(doc_id % 4 AS VARCHAR) || '.example.org' END)
        ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0 THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END)
    || (CASE WHEN doc_id % 7 = 0 THEN ' call +1 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END)
    AS text
  FROM documents
)
"""

_PII_E = piiops.EMAIL_PATTERN
_PII_I = piiops.IPV4_PATTERN
_PII_P = piiops.PHONE_PATTERN

O_PII_STATS = _PII_CTE + f"""
SELECT doc_id, email_n, ipv4_n, phone_n,
       email_n + ipv4_n + phone_n AS pii_total
FROM (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_PII_E}')) AS INTEGER) AS email_n,
         CAST(len(regexp_extract_all(text, '{_PII_I}')) AS INTEGER) AS ipv4_n,
         CAST(len(regexp_extract_all(text, '{_PII_P}')) AS INTEGER) AS phone_n
  FROM p
)
"""

O_PII_REDACT = _PII_CTE + f"""
, s1 AS (
  SELECT doc_id, text,
         regexp_replace(text, '{_PII_E}', '[EMAIL]', 'g') AS t1
  FROM p
), s2 AS (
  SELECT doc_id, text, t1,
         regexp_replace(t1, '{_PII_I}', '[IP]', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_E}')) AS INTEGER) AS email_n,
       CAST(len(regexp_extract_all(t1, '{_PII_I}')) AS INTEGER) AS ipv4_n,
       CAST(len(regexp_extract_all(t2, '{_PII_P}')) AS INTEGER) AS phone_n,
       regexp_replace(t2, '{_PII_P}', '[PHONE]', 'g') AS clean_text
FROM s2
"""


def q_domain_mix_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs_domain_mix re-derived through the broadcast-join PSL path
    (r14, r13 verdict #6): registrable domains come from
    ext/url.py:registrable_domain_psl — two broadcast left-joins against
    the (suffix, nlabels) table, longest-match coalesce, zero corpus
    shuffle — instead of the embedded-set expression. Same closed-form
    oracle as docs_domain_mix (the synthetic hosts' registrable domains
    are pinned by SYNTH_DOMAINS), so a green hash certifies the
    production full-PSL join path itself."""
    d = _docs_urls(spark, sf_dir)
    hosts = d.select(urlops.url_host("url").alias("host"))
    doms = urlops.registrable_domain_psl(
        hosts, urlops.default_psl_frame(spark)).select("domain")
    counts = doms.groupBy("domain").agg(F.count(F.lit(1)).alias("n_docs"))
    total = doms.select(F.count(F.lit(1)).alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))  # bnlj-scalar: 1-row total
        .select(
            "domain", "n_docs",
            F.round(F.col("n_docs") / F.col("_total"), 6).alias("share"),
        )
    )


def q_url_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level decontamination: every 23rd doc plays the eval set; a
    corpus doc is contaminated iff its canonical URL appears there
    (broadcast membership — no corpus shuffle, ext/url.py:url_decontaminate)."""
    d = _docs_urls(spark, sf_dir)
    benchmark = d.filter(F.col("doc_id") % 23 == 0)
    corpus = d.filter(F.col("doc_id") % 23 != 0)
    return urlops.url_decontaminate(corpus, benchmark)


def _sql_list(items) -> str:
    return "[" + ", ".join(f"'{x}'" for x in items) + "]"


#: Raw + closed-form-canonical synthetic URLs, mirroring
#: ext/url.py:synthetic_urls / synthetic_canonical_url exactly.
URL_CTE = f"""
WITH u AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END)
    || '://'
    || (CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END)
    || ({_sql_list(urlops.SYNTH_HOSTS)})[CAST(doc_id % 8 AS INTEGER) + 1]
    || (CASE WHEN doc_id % 7 = 0 THEN
          (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
        ELSE '' END)
    || '/articles/' || CAST(doc_id % 10 AS VARCHAR)
    || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
    || '?'
    || (CASE WHEN doc_id % 3 = 0 THEN 'utm_campaign=launch&' ELSE '' END)
    || 'v=' || CAST(doc_id % 40 AS VARCHAR)
    || (CASE WHEN doc_id % 3 = 1 THEN '&utm_source=feed' ELSE '' END)
    || (CASE WHEN doc_id % 4 = 0 THEN '#section-1' ELSE '' END) AS url,
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
    || '://'
    || ({_sql_list(urlops.SYNTH_HOSTS)})[CAST(doc_id % 8 AS INTEGER) + 1]
    || '/articles/' || CAST(doc_id % 10 AS VARCHAR)
    || '?v=' || CAST(doc_id % 40 AS VARCHAR) AS canonical_url,
    ({_sql_list(urlops.SYNTH_DOMAINS)})[CAST(doc_id % 8 AS INTEGER) + 1] AS domain
  FROM documents
)
"""

O_URL_CANONICAL = URL_CTE + """
SELECT doc_id, url, canonical_url FROM u
"""

O_URL_DEDUP = URL_CTE + """
SELECT canonical_url,
       MIN(doc_id) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM u GROUP BY canonical_url
"""

O_DOMAIN_MIX = URL_CTE + """
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM u), 6) AS share
FROM u GROUP BY domain
"""

O_URL_DECONTAMINATE = URL_CTE + """
SELECT d.doc_id, d.canonical_url,
       EXISTS (SELECT 1 FROM u b
               WHERE b.doc_id % 23 = 0
                 AND b.canonical_url = d.canonical_url) AS contaminated
FROM u d
WHERE d.doc_id % 23 <> 0
"""


#: two of the eight synthetic registrable domains play the blocklist —
#: one with subdomain coverage (blog./docs. hosts fold into it), one flat
_BLOCKED_DOMAINS = ("example.co.uk", "testsite.io")


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist audit table (ext/url.py:blocklist_filter):
    per-doc registrable domain + keep/drop decision against a broadcast
    blocklist — subdomains of a blocked domain are blocked with it."""
    d = _docs_urls(spark, sf_dir)
    return urlops.blocklist_filter(d, _BLOCKED_DOMAINS).select(
        "doc_id", "domain", "kept")


O_URL_BLOCKLIST = URL_CTE + """
SELECT doc_id, domain,
       domain NOT IN ('example.co.uk', 'testsite.io') AS kept
FROM u
"""


def q_url_dedup_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup under RETRACTION (r13): the canonical-URL
    membership table maintained as the same doc-granular Z-set the
    exact-dedup view uses — the appliers are generic over the keyed text
    column, so the CANONICAL URL (computed by the r13 canonicalizer)
    plugs in as the fingerprint source. Two ingest batches, then a
    corrected-shard tombstone (doc_id % 7 == 3, including canonical
    groups whose MIN survivor is retracted — keepers must re-elect).
    Read fold == rebuild over survivors; the oracle derives the
    fingerprints from the CLOSED-FORM canonical (never the
    canonicalizer), so this row cross-checks canonicalization AND the
    Z-set protocol in one hash."""
    import os

    from ..streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
    )

    d = _docs_urls(spark, sf_dir).select(
        "doc_id", urlops.canonicalize_url("url").alias("curl"))
    root = _session_state_dir(spark, sf_dir, "skylogix_url_rz")
    state = os.path.join(root, "view")
    apply_exact_dedup_delta(
        d.filter(F.col("doc_id") % 2 == 0), 0, state, text_col="curl")
    apply_exact_dedup_delta(
        d.filter(F.col("doc_id") % 2 == 1), 1, state, text_col="curl")
    retract_exact_dedup_delta(
        d.filter(F.col("doc_id") % 7 == 3), 2, state, text_col="curl")
    return read_exact_dedup_segments(spark, state).select(
        "fingerprint", "doc_id", "n_copies"
    )


O_URL_DEDUP_RETRACT = URL_CTE + """
SELECT md5(canonical_url) AS fingerprint,
       MIN(doc_id) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM u
WHERE doc_id % 7 <> 3
GROUP BY md5(canonical_url)
"""


def q_url_dedup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot (as-of) read over the canonical-URL membership view
    (r14, r13 verdict #9 — the as-of reader's FOURTH certified view
    family): two ingest batches into the curl-keyed Z-set, a
    corrected-shard tombstone as batch 2, then read AS OF batch 1 — the
    membership table as it stood before the delete. The pre-delete
    snapshot covers the full corpus, so the oracle is the retract row's
    WITHOUT its delete filter; fingerprints derive from the CLOSED-FORM
    canonical, cross-checking canonicalization + snapshot isolation in
    one hash."""
    import os

    from ..streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_as_of,
        retract_exact_dedup_delta,
    )

    d = _docs_urls(spark, sf_dir).select(
        "doc_id", urlops.canonicalize_url("url").alias("curl"))
    root = _session_state_dir(spark, sf_dir, "skylogix_url_asof")
    state = os.path.join(root, "view")
    apply_exact_dedup_delta(
        d.filter(F.col("doc_id") % 2 == 0), 0, state, text_col="curl",
        auto_compact=None)
    apply_exact_dedup_delta(
        d.filter(F.col("doc_id") % 2 == 1), 1, state, text_col="curl",
        auto_compact=None)
    retract_exact_dedup_delta(
        d.filter(F.col("doc_id") % 7 == 3), 2, state, text_col="curl",
        auto_compact=None)
    return read_exact_dedup_as_of(spark, state, 1).select(
        "fingerprint", "doc_id", "n_copies"
    )


O_URL_DEDUP_ASOF = URL_CTE + """
SELECT md5(canonical_url) AS fingerprint,
       MIN(doc_id) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM u
GROUP BY md5(canonical_url)
"""


def q_url_dedup_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC router bound to the canonical-URL membership view (r14,
    r13 verdict #9 — the changelog router's FIFTH certified view
    family): the crawl arrives as an op-tagged stream (+1 new capture /
    -1 takedown), maintain_changelog_view routes micro-batches through
    the curl-keyed Z-set appliers as even/odd segments, and the net
    membership equals docs_url_dedup_retract's — the oracle is
    byte-identical, certifying writeStream→foreachBatch→segment routing
    over this family end to end."""
    import os

    from ..streaming.matview import (
        apply_exact_dedup_delta,
        maintain_changelog_view,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
    )

    d = _docs_urls(spark, sf_dir).select(
        "doc_id", urlops.canonicalize_url("url").alias("curl"))
    root = _session_state_dir(spark, sf_dir, "skylogix_url_cdc")
    state = os.path.join(root, "view")
    cdc_dir = os.path.join(root, "changelog")
    for i, part in enumerate((
        d.filter(F.col("doc_id") % 2 == 0).withColumn("op", F.lit(1)),
        d.filter(F.col("doc_id") % 2 == 1).withColumn("op", F.lit(1)),
        d.filter(F.col("doc_id") % 7 == 3).withColumn("op", F.lit(-1)),
    )):
        part.select("doc_id", "curl", "op").coalesce(1).write.mode(
            "overwrite").parquet(os.path.join(cdc_dir, f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, curl string, op int")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(cdc_dir, "b*"))
    )
    maintain_changelog_view(
        stream, state, os.path.join(root, "ckpt"),
        apply_fn=lambda df, bid, sd: apply_exact_dedup_delta(
            df, bid, sd, text_col="curl"),
        retract_fn=lambda df, bid, sd: retract_exact_dedup_delta(
            df, bid, sd, text_col="curl"),
    )
    return read_exact_dedup_segments(spark, state).select(
        "fingerprint", "doc_id", "n_copies"
    )


# --------------------------------------------------------------------------
# TF-IDF top-k terms per document (ext.text.tfidf_topk).
# --------------------------------------------------------------------------

def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per doc; rank pinned on the rounded
    score then the term string."""
    return text.tfidf_topk(_docs(spark, sf_dir), k=5)


O_TFIDF_TOPK = TOK_CTE + """
, tok_rows AS (SELECT doc_id, unnest(tk) AS term FROM toks),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok_rows GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM tf GROUP BY term),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, doc_freq,
         ROUND(tf * ln((n_docs + 1) * 1.0 / (doc_freq + 1)), 6) AS tfidf
  FROM tf JOIN dfreq USING (term), nd
)
SELECT doc_id, term, tf, doc_freq, tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC)
            AS INTEGER) AS term_rank
FROM scored
QUALIFY term_rank <= 5
"""


# --------------------------------------------------------------------------
# Gopher-style rule-based quality filter (ext.text.gopher_quality_filter).
# --------------------------------------------------------------------------

def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auditable per-rule verdicts + conjunctive keep flag."""
    return text.gopher_quality_filter(_docs(spark, sf_dir))


O_QUALITY_FILTER = TOK_CTE + """
, feat AS (
  SELECT t.doc_id,
         len(t.tk) AS n_words,
         len(regexp_replace(t.text, '\\s+', '', 'g')) * 1.0 / nullif(len(t.tk), 0) AS mwl,
         1 - len(s.shingles) * 1.0 / greatest(len(t.tk) - 2, 1) AS dup_ratio,
         len(list_filter(t.tk,
             x -> list_contains(['the','and','of','to','a','in','is','it'], x))) AS stop_hits
  FROM toks t JOIN sh s USING (doc_id)
)
SELECT doc_id,
       CAST(n_words AS INTEGER) AS n_words,
       ROUND(mwl, 6) AS mean_word_len,
       ROUND(dup_ratio, 6) AS dup_shingle_ratio,
       CAST(stop_hits AS INTEGER) AS stopword_hits,
       n_words BETWEEN 25 AND 80 AS ok_word_count,
       COALESCE(mwl BETWEEN 3.5 AND 5.0, FALSE) AS ok_word_len,
       dup_ratio <= 0.05 AS ok_repetition,
       stop_hits >= 2 AS ok_stopwords,
       (n_words BETWEEN 25 AND 80) AND COALESCE(mwl BETWEEN 3.5 AND 5.0, FALSE)
         AND dup_ratio <= 0.05 AND stop_hits >= 2 AS keep
FROM feat
"""


# --------------------------------------------------------------------------
# Filter distillation: quasi-logistic GD on integer micro-units
# (ext.text.distill_quality_classifier). The oracle replays the FULL
# training recurrence — every iteration's gradient and weight update —
# as unrolled MATERIALIZED CTEs in exact integer arithmetic (HUGEINT for
# the aggregated-gradient division), so hash equality proves the
# distributed trainer step-for-step.
# --------------------------------------------------------------------------

_DISTILL_ITER = 15
_DISTILL_LR2 = 4  # lr = lr2/2


def q_distill_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.distill_quality_classifier(
        _docs(spark, sf_dir), n_iter=_DISTILL_ITER, lr2=_DISTILL_LR2
    )


def _distill_oracle(n_iter: int, lr2: int) -> str:
    fus = ("f1u", "f2u", "f3u", "f4u")
    mexprs = ", ".join(
        f"CAST({_sql_divha(f'CAST(SUM(CAST({c} AS DECIMAL(38,0))) AS HUGEINT)', 'CAST(COUNT(*) AS HUGEINT)')} AS BIGINT) AS m{j}"
        for j, c in enumerate(fus, 1)
    )
    qexprs = ", ".join(
        f"CAST({_sql_divha(f'CAST(SUM(CAST({c}*{c} AS DECIMAL(38,0))) AS HUGEINT)', 'CAST(COUNT(*) AS HUGEINT)')} AS BIGINT) AS q{j}"
        for j, c in enumerate(fus, 1)
    )
    # INTEGER isqrt of the variance, exact for any HUGEINT input: double
    # FLOOR(SQRT(v)) is only provably exact below 2^52 (ext/text.py's
    # parity bound — docs ≳6,700 words push E[f1u²] past it), so the
    # double value is demoted to a SEED: one integer Newton step
    # (s0 + v//s0)//2 lands at isqrt(v) or at most 2 above it (the seed
    # is within ~2^-52 relative of √v, so the step's error e²/(2√v) < 1),
    # and two conditional decrements clamp down exactly. Every op after
    # the seed is HUGEINT — no float can reach the result.
    vexprs = ", ".join(
        f"CAST(greatest(q{j} - m{j}*m{j}, 0) AS HUGEINT) AS v{j}"
        for j in range(1, 5)
    )
    s0exprs = ", ".join(
        f"CAST(FLOOR(SQRT(CAST(v{j} AS DOUBLE))) AS HUGEINT) AS s0_{j}"
        for j in range(1, 5)
    )
    s1exprs = ", ".join(
        f"CASE WHEN s0_{j} = 0 THEN 0 ELSE (s0_{j} + v{j} // s0_{j}) // 2 END AS s1_{j}"
        for j in range(1, 5)
    )
    s2exprs = ", ".join(
        f"CASE WHEN s1_{j}*s1_{j} > v{j} THEN s1_{j} - 1 ELSE s1_{j} END AS s2_{j}"
        for j in range(1, 5)
    )
    sdexprs = ", ".join(
        f"greatest(1, CAST(CASE WHEN s2_{j}*s2_{j} > v{j} THEN s2_{j} - 1 ELSE s2_{j} END AS BIGINT)) AS sd{j}"
        for j in range(1, 5)
    )
    xexprs = ", ".join(
        f"{_sql_sdivha(f'(f.{c} - fm.m{j})*1000000', f'fm.sd{j}')} AS x{j}u"
        for j, c in enumerate(fus, 1)
    )
    head = TOK_CTE + f"""
, gfeat AS MATERIALIZED (
  SELECT t.doc_id,
         CAST(len(t.tk) AS BIGINT) AS n_words,
         CAST(len(regexp_replace(t.text, '\\s+', '', 'g')) AS BIGINT) AS chars,
         CAST(len(list_filter(t.tk,
             x -> list_contains(['the','and','of','to','a','in','is','it'], x))) AS BIGINT) AS stop_hits,
         1 - len(s.shingles) * 1.0 / greatest(len(t.tk) - 2, 1) AS dup_ratio
  FROM toks t JOIN sh s USING (doc_id)
), feat AS MATERIALIZED (
  SELECT doc_id,
         n_words * 10000 AS f1u,
         CASE WHEN n_words > 0 THEN {_sql_divha('chars*100000', 'n_words')} ELSE 0 END AS f2u,
         {_sql_divha('least(stop_hits, 6)*1000000', '6')} AS f3u,
         abs(n_words * 10000 - 525000) AS f4u,
         CASE WHEN (n_words BETWEEN 25 AND 80)
               AND COALESCE(chars * 1.0 / nullif(n_words, 0) BETWEEN 3.5 AND 5.0, FALSE)
               AND dup_ratio <= 0.05 AND stop_hits >= 2 THEN 1 ELSE 0 END AS y
  FROM gfeat
), fmraw AS MATERIALIZED (
  SELECT {mexprs}, {qexprs}, COUNT(*) AS n FROM feat
), fmv AS (SELECT *, {vexprs} FROM fmraw
), fms0 AS (SELECT *, {s0exprs} FROM fmv
), fms1 AS (SELECT *, {s1exprs} FROM fms0
), fms2 AS (SELECT *, {s2exprs} FROM fms1
), fm AS MATERIALIZED (
  SELECT *, {sdexprs} FROM fms2
), xfeat AS MATERIALIZED (
  SELECT f.doc_id, {xexprs}, f.y
  FROM feat f CROSS JOIN fm
), w0 AS (SELECT CAST(0 AS BIGINT) AS a0, CAST(0 AS BIGINT) AS a1, CAST(0 AS BIGINT) AS a2,
                 CAST(0 AS BIGINT) AS a3, CAST(0 AS BIGINT) AS a4)
"""
    its = []
    z = ("w.a0*1000000 + w.a1*f.x1u + w.a2*f.x2u + w.a3*f.x3u + w.a4*f.x4u")
    xs = ("1000000", "x1u", "x2u", "x3u", "x4u")
    for k in range(1, n_iter + 1):
        upd = ", ".join(
            "CAST(w.a{j} - (CASE WHEN g.g{j} >= 0 THEN "
            "(2*{lr2}*CAST(g.g{j} AS HUGEINT) + d.d)//(2*d.d) "
            "ELSE -((-2*{lr2}*CAST(g.g{j} AS HUGEINT) + d.d)//(2*d.d)) END) AS BIGINT) AS a{j}".format(
                j=j, lr2=lr2)
            for j in range(5)
        )
        gs = ", ".join(
            f"SUM(CAST({xu}*(pu - y*1000000) AS DECIMAL(38,0))) AS g{j}"
            for j, xu in enumerate(xs)
        )
        its.append(f"""
, s{k} AS (
  SELECT f.x1u, f.x2u, f.x3u, f.x4u, f.y, {_sql_sdivha(z, '1000000')} AS zu
  FROM xfeat f CROSS JOIN w{k - 1} w
), p{k} AS (
  SELECT x1u, x2u, x3u, x4u, y,
         500000 + {_sql_sdivha('1000000*zu', '2*(1000000 + abs(zu))')} AS pu
  FROM s{k}
), g{k} AS MATERIALIZED (
  SELECT {gs}, COUNT(*) AS n FROM p{k}
), w{k} AS MATERIALIZED (
  SELECT {upd}
  FROM w{k - 1} w CROSS JOIN g{k} g
       CROSS JOIN (SELECT 2*CAST(g{k}.n AS HUGEINT)*1000000 AS d FROM g{k}) d
)""")
    tail = f"""
, sf AS (
  SELECT f.y, {_sql_sdivha(z, '1000000')} AS zu FROM xfeat f CROSS JOIN w{n_iter} w
), acc AS (
  SELECT SUM(CASE WHEN (zu >= 0) = (y = 1) THEN 1 ELSE 0 END) AS n_correct,
         COUNT(*) AS n_docs, SUM(y) AS n_keep
  FROM sf
), wt AS (
  SELECT 'bias' AS nm, a0 AS wv FROM w{n_iter}
  UNION ALL SELECT 'n_words_c', a1 FROM w{n_iter}
  UNION ALL SELECT 'mean_word_len_c', a2 FROM w{n_iter}
  UNION ALL SELECT 'stop_hits_c', a3 FROM w{n_iter}
  UNION ALL SELECT 'wc_band_dist', a4 FROM w{n_iter}
)
SELECT nm AS feature, wv / 1000000.0 AS weight,
       {_sql_divha('n_correct*1000000', 'n_docs')} / 1000000.0 AS train_accuracy,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_keep AS BIGINT) AS n_keep
FROM wt CROSS JOIN acc
"""
    return head + "".join(its) + tail


O_DISTILL_FILTER = _distill_oracle(_DISTILL_ITER, _DISTILL_LR2)


# --------------------------------------------------------------------------
# Frozen-model distilled scoring — the INFERENCE half of the distillation
# story (r9 verdict #8): docs_distill_filter certifies the trainer (and is
# deliberately unbenched — 15 driver-looped jobs measure nothing
# scan-shaped); this row scores the corpus against a FROZEN model in one
# narrow shingle-free projection, the per-ingest-batch cost a production
# curation pipeline actually pays, and is benched as docs_distill_score.
# Constants = the model the r10 trainer produced at sf0.01 (15 iters,
# lr2=4, train accuracy 0.864); the point is fixed inference, so they are
# literals on BOTH sides.
# --------------------------------------------------------------------------

_DISTILL_W_U = (395328, -459166, -420422, 1545456, -2873567)  # bias first
_DISTILL_M_U = (543300, 450912, 531667, 218300)
_DISTILL_SD_U = (249738, 21056, 323087, 122675)


def q_distill_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.distill_score(
        _docs(spark, sf_dir),
        list(_DISTILL_W_U), list(_DISTILL_M_U), list(_DISTILL_SD_U),
    )


def _distill_score_oracle() -> str:
    xs = ["1000000"] + [
        _sql_sdivha(f"(f.f{j}u - {_DISTILL_M_U[j - 1]})*1000000",
                    str(_DISTILL_SD_U[j - 1]))
        for j in range(1, 5)
    ]
    zu12 = " + ".join(
        f"CAST({_DISTILL_W_U[j]} AS BIGINT)*({x})" for j, x in enumerate(xs)
    )
    return TOK_CTE + f"""
, gfeat AS (
  SELECT doc_id,
         CAST(len(tk) AS BIGINT) AS n_words,
         CAST(len(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS chars,
         CAST(len(list_filter(tk,
             x -> list_contains(['the','and','of','to','a','in','is','it'], x))) AS BIGINT) AS stop_hits
  FROM toks
), feat AS (
  SELECT doc_id,
         n_words * 10000 AS f1u,
         CASE WHEN n_words > 0 THEN {_sql_divha('chars*100000', 'n_words')} ELSE 0 END AS f2u,
         {_sql_divha('least(stop_hits, 6)*1000000', '6')} AS f3u,
         abs(n_words * 10000 - 525000) AS f4u
  FROM gfeat
), scored AS (
  SELECT doc_id, {_sql_sdivha(zu12, '1000000')} AS zu
  FROM feat f
)
SELECT doc_id,
       zu / 1000000.0 AS z,
       (500000 + {_sql_sdivha('1000000*zu', '2*(1000000 + abs(zu))')}) / 1000000.0 AS score,
       zu >= 0 AS keep
FROM scored
"""


O_DISTILL_SCORE = _distill_score_oracle()


# --------------------------------------------------------------------------
# Deterministic train/val/test split (ext.text.split_assign).
# --------------------------------------------------------------------------

def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 hash-band split; thresholds are integers in both plans."""
    return text.split_assign(_docs(spark, sf_dir))


O_SPLIT_ASSIGN = f"""
WITH h AS (
  SELECT doc_id,
         {_sql_hash(13, 'CAST(doc_id AS VARCHAR)')} % 10000 AS band
  FROM documents
)
SELECT doc_id,
       CASE WHEN band < 500 THEN 'test'
            WHEN band < 9500 THEN 'train'
            ELSE 'val' END AS split
FROM h
"""


# --------------------------------------------------------------------------
# Composed curation pipeline: quality-filter → split → per-(split, lang)
# corpus statistics, in ONE scan. The operators expose expression forms
# (gopher_features / split_expr) precisely so composition doesn't become
# three scans joined on doc_id.
# --------------------------------------------------------------------------

def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-build summary table: how many documents and tokens land
    in each (split, lang) cell AFTER quality filtering — what you check
    before freezing a training mixture. Single narrow projection → filter
    → one agg shuffle."""
    d = _docs(spark, sf_dir)
    keep = text.gopher_features()["keep"]
    return (
        d.select(
            "lang",
            F.size(text.tokens("text")).alias("n_tok"),
            text.split_expr("doc_id").alias("split"),
            keep.alias("keep"),
        )
        .filter(F.col("keep"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("n_tok"), 6).alias("avg_tokens"),
        )
    )


O_CURATION_PIPELINE = TOK_CTE + f"""
, feat AS (
  SELECT t.doc_id,
         len(t.tk) AS n_words,
         len(regexp_replace(t.text, '\\s+', '', 'g')) * 1.0 / nullif(len(t.tk), 0) AS mwl,
         1 - len(s.shingles) * 1.0 / greatest(len(t.tk) - 2, 1) AS dup_ratio,
         len(list_filter(t.tk,
             x -> list_contains(['the','and','of','to','a','in','is','it'], x))) AS stop_hits
  FROM toks t JOIN sh s USING (doc_id)
), kept AS (
  SELECT doc_id, n_words FROM feat
  WHERE (n_words BETWEEN 25 AND 80) AND COALESCE(mwl BETWEEN 3.5 AND 5.0, FALSE)
    AND dup_ratio <= 0.05 AND stop_hits >= 2
), banded AS (
  SELECT k.doc_id, k.n_words, d.lang,
         CASE WHEN {_sql_hash(13, 'CAST(k.doc_id AS VARCHAR)')} % 10000 < 500 THEN 'test'
              WHEN {_sql_hash(13, 'CAST(k.doc_id AS VARCHAR)')} % 10000 < 9500 THEN 'train'
              ELSE 'val' END AS split
  FROM kept k JOIN documents d USING (doc_id)
)
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_tokens,
       ROUND(AVG(n_words), 6) AS avg_tokens
FROM banded GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Product quantization (Jégou et al., TPAMI 2011) — ADC top-k over m-index
# codes, and the IVFPQ composition (cell pruning over corpus-wide codes).
# The oracle replays the per-subspace Lloyd recurrence exactly like
# O_KMEANS does (same pins: id-ordered seeds, struct-min ties, rounded
# DECIMAL(24,10)-mean updates), once per subspace, then re-derives the
# codes and the query's lookup tables in SQL.
# --------------------------------------------------------------------------

_PQ_M = 4
_PQ_K = 8
_PQ_ITER = 2  # oracle unrolls exactly ONE centroid update — keep in sync
_PQ_DIM = 64  # embeddings.parquet dim at every SF (TESTDATA.md)
_PQ_D = _PQ_DIM // _PQ_M


def _pq_setup(spark: SparkSession, sf_dir: str):
    embs = _embs(spark, sf_dir)
    row = embs.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row[0]]
    corpus = embs.filter(F.col("vec_id") != 0)
    books = similarity.pq_train(corpus, m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER)
    return corpus, qv, books


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, qv, books = _pq_setup(spark, sf_dir)
    return similarity.pq_adc_topk(corpus, qv, books, topk=_TOPK)


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, qv, books = _pq_setup(spark, sf_dir)
    return similarity.ivf_pq_topk(
        corpus, qv, books, topk=_TOPK, nprobe=_NPROBE
    )


def _pq_sub_ctes(j: int) -> str:
    """The per-subspace CTE chain: slice → Lloyd (1 update) → codebook →
    codes → query LUT. ``n_iter=2`` in pq_train means exactly one centroid
    update between two assignments, which is what this unrolls."""
    a = j * _PQ_D + 1
    dist = (
        f"list_sum(list_transform(range(1, {_PQ_D} + 1), "
        f"i -> (s.sv[i] - t.cv[i]) * (s.sv[i] - t.cv[i])))"
    )
    qd = (
        f"list_sum(list_transform(range(1, {_PQ_D} + 1), "
        f"i -> (CAST(qv[{a - 1} + i] AS DOUBLE) - t.cv[i])"
        f" * (CAST(qv[{a - 1} + i] AS DOUBLE) - t.cv[i])))"
    )
    return f"""
sub{j} AS (
  SELECT vec_id, label,
         list_transform(list_slice(embedding, {a}, {a + _PQ_D - 1}),
                        x -> CAST(x AS DOUBLE)) AS sv
  FROM corpus
),
seeds{j} AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, sv AS cv
  FROM sub{j} ORDER BY vec_id LIMIT {_PQ_K}
),
a0_{j} AS (
  SELECT vec_id, c FROM (
    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
    FROM (SELECT s.vec_id, t.c, {dist} AS dist FROM sub{j} s CROSS JOIN seeds{j} t)
  ) WHERE rn = 1
),
ex{j} AS (
  SELECT a.c, unnest(list_transform(s.sv, (v, i) -> {{'pos': i, 'v': v}})) AS u
  FROM sub{j} s JOIN a0_{j} a USING (vec_id)
),
m{j} AS (
  SELECT c, u.pos AS pos,
         ROUND(CAST(SUM(CAST(u.v AS DECIMAL(24,10))) AS DOUBLE) / COUNT(u.v), 6) AS m
  FROM ex{j} GROUP BY c, pos
),
c1m{j} AS (SELECT c, list(m ORDER BY pos) AS cv FROM m{j} GROUP BY c),
cb{j} AS (
  SELECT s.c, COALESCE(cm.cv, s.cv) AS cv
  FROM seeds{j} s LEFT JOIN c1m{j} cm USING (c)
),
enc{j} AS (
  SELECT vec_id, label, code FROM (
    SELECT vec_id, label, code,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, code) AS rn
    FROM (SELECT s.vec_id, s.label, t.c AS code, {dist} AS dist
          FROM sub{j} s CROSS JOIN cb{j} t)
  ) WHERE rn = 1
),
lut{j} AS (SELECT t.c, ROUND({qd}, 9) AS ad FROM cb{j} t CROSS JOIN q)"""


_PQ_CTES = (
    "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),\n"
    "corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),"
    + ",".join(_pq_sub_ctes(j) for j in range(_PQ_M))
)

_PQ_ADC_SUM = " + ".join(f"l{j}.ad" for j in range(_PQ_M))
_PQ_JOINS = "\n".join(
    [f"JOIN enc{j} e{j} USING (vec_id)" for j in range(1, _PQ_M)]
    + [f"JOIN lut{j} l{j} ON l{j}.c = e{j}.code" for j in range(_PQ_M)]
)

O_PQ_ADC_TOPK = _PQ_CTES + f"""
SELECT e0.vec_id, ROUND({_PQ_ADC_SUM}, 6) AS adc_sqdist
FROM enc0 e0
{_PQ_JOINS}
ORDER BY adc_sqdist ASC, e0.vec_id ASC
LIMIT {_TOPK}
"""

# IVFPQ = the same corpus-wide codes, scanned only in the nprobe cells
# nearest the query by (unrounded) centroid cosine — centv/probe mirror
# O_IVF_TOPK's coarse quantizer exactly.
O_IVFPQ_TOPK = _PQ_CTES + f""",
pe_c AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
  FROM corpus
),
centv AS (
  SELECT label, list(m ORDER BY pos) AS centroid
  FROM (SELECT label, pos, (CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(24,10))) AS DOUBLE) / COUNT(v)) AS m FROM pe_c GROUP BY label, pos)
  GROUP BY label
),
probe AS (
  SELECT label FROM centv, q
  ORDER BY ({_COS_CENT_Q}) DESC, label ASC
  LIMIT {_NPROBE}
)
SELECT e0.vec_id, ROUND({_PQ_ADC_SUM}, 6) AS adc_sqdist
FROM enc0 e0
{_PQ_JOINS}
WHERE e0.label IN (SELECT label FROM probe)
ORDER BY adc_sqdist ASC, e0.vec_id ASC
LIMIT {_TOPK}
"""


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|exact-L2 top-k ∩ PQ-ADC top-k| / k — the eval that makes the PQ
    compression claim measurable (mirrors emb_quantized_recall for the
    int8 path). Both rankings are the already-verified operators; the
    recall join is O(k) regardless of scale."""
    corpus, qv, books = _pq_setup(spark, sf_dir)
    qarr = F.array(*[F.lit(float(x)) for x in qv])
    sq = F.aggregate(
        F.zip_with(
            F.col("embedding"), qarr,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact = (
        corpus.select("vec_id", F.round(sq, 6).alias("d"))
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(_TOPK)
        .select("vec_id")
    )
    adc = similarity.pq_adc_topk(corpus, qv, books, topk=_TOPK).select("vec_id")
    return exact.join(adc, "vec_id").agg(
        F.lit(_TOPK).cast("int").alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(F.count(F.lit(1)) / F.lit(_TOPK), 6).alias("recall_at_k"),
    )


O_PQ_RECALL = _PQ_CTES + f""",
adc AS (
  SELECT e0.vec_id FROM enc0 e0
{_PQ_JOINS}
  ORDER BY ROUND({_PQ_ADC_SUM}, 6) ASC, e0.vec_id ASC
  LIMIT {_TOPK}
),
exact_l2 AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           ROUND(list_sum(list_transform(range(1, len(embedding) + 1),
                 i -> (CAST(embedding[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE))
                    * (CAST(embedding[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE)))), 6) AS d
    FROM corpus, q
  ) ORDER BY d ASC, vec_id ASC LIMIT {_TOPK}
)
SELECT CAST({_TOPK} AS INTEGER) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_overlap,
       ROUND(COUNT(*) / {_TOPK}.0, 6) AS recall_at_k
FROM exact_l2 JOIN adc USING (vec_id)
"""


def q_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|exact FILTERED cosine top-k ∩ adaptive-probe filtered top-k| / k —
    the recall eval for ``ivf_filtered_topk``, keeping the repo invariant
    that every approximate index reports a measured recall. The exact
    baseline is brute force over predicate-matching vectors only; O(k)
    join on two k-row results."""
    embs = _embs(spark, sf_dir)
    row = embs.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row[0]]
    rest = embs.filter(F.col("vec_id") != 0)
    pred = F.col("vec_id") % _FILTER_MOD == 0
    exact = similarity.cosine_topk(rest.filter(pred), qv, k=_TOPK).select("vec_id")
    approx = similarity.ivf_filtered_topk(
        rest, qv, pred=pred, k=_TOPK, oversample=_FILTER_OVERSAMPLE
    ).select("vec_id")
    return exact.join(approx, "vec_id").agg(
        F.lit(_TOPK).cast("int").alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(F.count(F.lit(1)) / F.lit(_TOPK), 6).alias("recall_at_k"),
    )


O_FILTERED_RECALL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
fcorpus AS (SELECT * FROM corpus WHERE vec_id % {_FILTER_MOD} = 0),
exact_topk AS (
  SELECT vec_id FROM (
    SELECT vec_id, ROUND({_COS_EMB_Q}, 6) AS cosine_sim FROM fcorpus, q
  ) ORDER BY cosine_sim DESC, vec_id ASC LIMIT {_TOPK}
),
pe AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
  FROM corpus
),
centv AS (
  SELECT label, list(m ORDER BY pos) AS centroid
  FROM (SELECT label, pos, (CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(24,10))) AS DOUBLE) / COUNT(v)) AS m FROM pe GROUP BY label, pos)
  GROUP BY label
),
ranked AS (
  SELECT label, row_number() OVER (ORDER BY ({_COS_CENT_Q}) DESC, label ASC) AS rn
  FROM centv, q
),
cellcnt AS (
  SELECT label, COUNT(*) AS c FROM fcorpus GROUP BY label
),
cum AS (
  SELECT r.rn, SUM(COALESCE(c.c, 0)) OVER (ORDER BY r.rn) AS cum
  FROM ranked r LEFT JOIN cellcnt c USING (label)
),
np AS (
  SELECT COALESCE(
           (SELECT MIN(rn) FROM cum WHERE cum >= {_TOPK * _FILTER_OVERSAMPLE}),
           (SELECT MAX(rn) FROM ranked)) AS n_probed
),
approx_topk AS (
  SELECT vec_id FROM (
    SELECT vec_id, ROUND({_COS_EMB_Q}, 6) AS cosine_sim
    FROM fcorpus, q
    WHERE label IN (SELECT label FROM ranked WHERE rn <= (SELECT n_probed FROM np))
  ) ORDER BY cosine_sim DESC, vec_id ASC LIMIT {_TOPK}
)
SELECT CAST({_TOPK} AS INT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_overlap,
       ROUND(COUNT(*) / {_TOPK}.0, 6) AS recall_at_k
FROM exact_topk JOIN approx_topk USING (vec_id)
"""


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|exact cosine top-k ∩ IVF top-k| / k at nprobe=2 — completes the
    eval trio (int8 ADC, PQ ADC, IVF cell pruning): every approximate
    index in the repo now reports a measured recall, not an asserted
    one. O(k) join on two k-row results."""
    embs = _embs(spark, sf_dir)
    row = embs.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row[0]]
    rest = embs.filter(F.col("vec_id") != 0)
    exact = similarity.cosine_topk(rest, qv, k=_TOPK).select("vec_id")
    ivf = similarity.ivf_topk(rest, qv, k=_TOPK, nprobe=_NPROBE).select("vec_id")
    return exact.join(ivf, "vec_id").agg(
        F.lit(_TOPK).cast("int").alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(F.count(F.lit(1)) / F.lit(_TOPK), 6).alias("recall_at_k"),
    )


O_IVF_RECALL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
exact_topk AS (
  SELECT vec_id FROM (
    SELECT vec_id, ROUND({_COS_EMB_Q}, 6) AS cosine_sim FROM corpus, q
  ) ORDER BY cosine_sim DESC, vec_id ASC LIMIT {_TOPK}
),
pe AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
  FROM corpus
),
centv AS (
  SELECT label, list(m ORDER BY pos) AS centroid
  FROM (SELECT label, pos, (CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(24,10))) AS DOUBLE) / COUNT(v)) AS m FROM pe GROUP BY label, pos)
  GROUP BY label
),
probe AS (
  SELECT label FROM centv, q
  ORDER BY ({_COS_CENT_Q}) DESC, label ASC
  LIMIT {_NPROBE}
),
ivf_topk AS (
  SELECT vec_id FROM (
    SELECT vec_id, ROUND({_COS_EMB_Q}, 6) AS cosine_sim
    FROM corpus, q WHERE label IN (SELECT label FROM probe)
  ) ORDER BY cosine_sim DESC, vec_id ASC LIMIT {_TOPK}
)
SELECT CAST({_TOPK} AS INTEGER) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_overlap,
       ROUND(COUNT(*) / {_TOPK}.0, 6) AS recall_at_k
FROM exact_topk JOIN ivf_topk USING (vec_id)
"""


# --------------------------------------------------------------------------
# Matryoshka truncated-dimension ANN (MRL, arXiv:2205.13147): prefix-dim
# shortlist scan + full-dim re-rank of the O(k·factor) shortlist.
# --------------------------------------------------------------------------

_MRL_PREFIX = 16
_MRL_FACTOR = 4


def q_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    row = embs.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row[0]]
    return similarity.matryoshka_topk(
        embs.filter(F.col("vec_id") != 0), qv, k=_TOPK,
        prefix_dim=_MRL_PREFIX, shortlist_factor=_MRL_FACTOR,
    )


_COS_PRE_Q = f"""
  list_sum(list_transform(range(1, {_MRL_PREFIX} + 1),
           i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(list_slice(embedding, 1, {_MRL_PREFIX}),
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(list_slice(qv, 1, {_MRL_PREFIX}),
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""
O_MATRYOSHKA_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
short AS (
  SELECT vec_id, embedding, ROUND({_COS_PRE_Q}, 6) AS prefix_sim
  FROM corpus, q
  ORDER BY prefix_sim DESC, vec_id ASC
  LIMIT {_TOPK * _MRL_FACTOR}
)
SELECT vec_id, prefix_sim, ROUND({_COS_EMB_Q}, 6) AS cosine_sim
FROM short, q
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT {_TOPK}
"""


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|full-dim exact top-k ∩ Matryoshka top-k| / k — how much the
    prefix-dim shortlist loses vs the full scan (the MRL truncation
    trade-off, measured)."""
    embs = _embs(spark, sf_dir)
    row = embs.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row[0]]
    rest = embs.filter(F.col("vec_id") != 0)
    exact = similarity.cosine_topk(rest, qv, k=_TOPK).select("vec_id")
    mrl = similarity.matryoshka_topk(
        rest, qv, k=_TOPK, prefix_dim=_MRL_PREFIX, shortlist_factor=_MRL_FACTOR
    ).select("vec_id")
    return exact.join(mrl, "vec_id").agg(
        F.lit(_TOPK).cast("int").alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(F.count(F.lit(1)) / F.lit(_TOPK), 6).alias("recall_at_k"),
    )


O_MATRYOSHKA_RECALL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
exact_topk AS (
  SELECT vec_id FROM (
    SELECT vec_id, ROUND({_COS_EMB_Q}, 6) AS cosine_sim FROM corpus, q
  ) ORDER BY cosine_sim DESC, vec_id ASC LIMIT {_TOPK}
),
short AS (
  SELECT vec_id, embedding, ROUND({_COS_PRE_Q}, 6) AS prefix_sim
  FROM corpus, q
  ORDER BY prefix_sim DESC, vec_id ASC
  LIMIT {_TOPK * _MRL_FACTOR}
),
mrl_topk AS (
  SELECT vec_id FROM (
    SELECT vec_id, ROUND({_COS_EMB_Q}, 6) AS cosine_sim FROM short, q
  ) ORDER BY cosine_sim DESC, vec_id ASC LIMIT {_TOPK}
)
SELECT CAST({_TOPK} AS INTEGER) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_overlap,
       ROUND(COUNT(*) / {_TOPK}.0, 6) AS recall_at_k
FROM exact_topk JOIN mrl_topk USING (vec_id)
"""


# --------------------------------------------------------------------------
# Token-distribution entropy (vocabulary-diversity filter) and exact
# per-stratum quota sampling.
# --------------------------------------------------------------------------

_ENTROPY_MIN = 1.5
_STRAT_QUOTA = 40
_STRAT_SALT = 17


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_entropy(_docs(spark, sf_dir), min_entropy=_ENTROPY_MIN)


O_TOKEN_ENTROPY = TOK_CTE + f"""
, tok_rows AS (SELECT doc_id, unnest(tk) AS w FROM toks),
tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM tok_rows GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         {sql_fsum('tf * ln(tf)', 6)} AS s
  FROM tf GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       ROUND(ln(n_tokens) - s / n_tokens, 6) AS entropy,
       ROUND(ln(n_tokens) - s / n_tokens, 6) >= {_ENTROPY_MIN} AS keep
FROM per_doc
"""


def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.source_kl_divergence(_docs(spark, sf_dir))


O_SOURCE_KL = TOK_CTE + f"""
, tok_rows AS (SELECT doc_id, unnest(tk) AS w FROM toks),
sfc AS (
  SELECT d.source, t.w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok_rows t JOIN documents d USING (doc_id)
  GROUP BY 1, 2
),
cf AS (SELECT w, SUM(tf) AS cf FROM sfc GROUP BY w),
ns AS (SELECT source, SUM(tf) AS n_s FROM sfc GROUP BY source),
nt AS (SELECT SUM(cf) AS n_total FROM cf),
terms AS (
  SELECT s.source,
         (tf / n_s) * ln((tf * n_total) / (n_s * cf)) AS t
  FROM sfc s JOIN cf USING (w) JOIN ns USING (source), nt
)
SELECT source, ROUND({sql_fsum('t', 6)}, 6) AS kl_div,
       CAST(COUNT(*) AS BIGINT) AS n_terms
FROM terms GROUP BY source
"""


# --------------------------------------------------------------------------
# Okapi BM25 top-k retrieval (sparse-retrieval half of the RAG stack)
# --------------------------------------------------------------------------

_BM25_TERMS = ("merge", "spark", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K = 10


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bm25_topk(
        _docs(spark, sf_dir), query_terms=_BM25_TERMS, k=_BM25_K,
        k1=_BM25_K1, b=_BM25_B,
    )


def q_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 scored against the INCREMENTALLY MAINTAINED term-stats view —
    the production index-maintenance split driven end-to-end as a driver
    query: build the (w, cf, df) view from two halves of the corpus as
    two replay-guarded segment applies
    (streaming/matview.py:apply_term_stats_delta), read the
    segment-merged view (read_term_stats_segments), then score with
    ext/text.py:bm25_topk_from_stats (term df from the view, N/avgdl as
    stored scalars — no corpus re-aggregation in the scoring plan). The
    oracle is byte-identical to docs_bm25_topk's: view-current scoring ==
    from-scratch recompute is the operator contract (also pinned in
    tests/test_matview.py), so the driver hash-certifies the term-stats
    matview machinery."""
    import os

    from ..ext.text import tokens as _tokens
    from ..streaming.matview import apply_term_stats_delta, read_term_stats_segments

    docs = _docs(spark, sf_dir)
    root = _session_state_dir(spark, sf_dir, "skylogix_term_stats")
    state = os.path.join(root, "view")
    apply_term_stats_delta(docs.filter(F.col("doc_id") % 2 == 0), 0, state)
    apply_term_stats_delta(docs.filter(F.col("doc_id") % 2 == 1), 1, state)
    stats = read_term_stats_segments(spark, state)
    counters = docs.select(F.size(_tokens("text")).alias("dl")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    return text.bm25_topk_from_stats(
        docs, stats, counters.n, counters.s / counters.n,
        _BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B,
    )


def _bm25_cte(limit: int) -> str:
    """BM25 top-``limit`` as a CTE chain ending in ``bm`` (doc_id,
    n_terms_matched, bm25) — float constants embedded via repr() so the
    oracle parses the exact doubles the Spark expression computed in
    Python (k1+1 and 1-b are folded driver-side there)."""
    return f"""stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         SUM(len(tk)) / COUNT(*) AS avgdl
  FROM toks
),
tf AS (
  SELECT doc_id, dl, w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS w FROM toks)
  WHERE w IN ({", ".join(repr(t) for t in sorted(set(_BM25_TERMS)))})
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT doc_id,
         ln((n_docs - (COUNT(*) OVER (PARTITION BY w)) + 0.5)
            / ((COUNT(*) OVER (PARTITION BY w)) + 0.5) + 1)
         * (tf * {_BM25_K1 + 1!r}
            / (tf + {_BM25_K1!r} * ({1 - _BM25_B!r} + {_BM25_B!r} * dl / avgdl))) AS ts
  FROM tf, stats
),
bm AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         ROUND({sql_fsum('ts', 6)}, 6) AS bm25
  FROM scored GROUP BY doc_id
  ORDER BY bm25 DESC, doc_id ASC LIMIT {limit}
)"""


def q_bm25_topk_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 after a RETRACTION (r11): maintain the retractable term-stats
    view (doc-granular Z-set — df un-counts retracted docs, which an
    additive (cf, df) aggregate cannot), retract the corrected
    shard (doc_id % 7 == 3), then score the SURVIVING corpus from the
    merged view with survivor-derived N/avgdl. Oracle = the one-shot
    BM25 oracle over the survivors: retracted view == rebuild is the
    Z-set fold's contract."""
    import os

    from ..ext.text import tokens as _tokens
    from ..streaming.matview import (
        apply_term_stats_delta,
        read_term_stats_segments,
        retract_term_stats_delta,
    )

    docs = _docs(spark, sf_dir)
    root = _session_state_dir(spark, sf_dir, "skylogix_term_rz")
    state = os.path.join(root, "view")
    apply_term_stats_delta(
        docs.filter(F.col("doc_id") % 2 == 0), 0, state)
    apply_term_stats_delta(
        docs.filter(F.col("doc_id") % 2 == 1), 1, state)
    retract_term_stats_delta(docs.filter(F.col("doc_id") % 7 == 3), 2, state)
    survivors = docs.filter(F.col("doc_id") % 7 != 3)
    stats = read_term_stats_segments(spark, state)
    counters = survivors.select(F.size(_tokens("text")).alias("dl")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    return text.bm25_topk_from_stats(
        survivors, stats, counters.n, counters.s / counters.n,
        _BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B,
    )


def q_bm25_topk_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over a CDC-maintained term-stats view (r13, r12 verdict #8 —
    the router's FOURTH monoid family, the weighted (tf, dl) doc-granular
    Z-set behind df/cf). The corpus arrives as a changelog stream (even
    adds, odd adds, then a correction deleting the doc_id % 7 == 3
    shard) routed by maintain_changelog_view through the retractable
    term-stats appliers; scoring the survivors from the maintained view
    must equal the one-shot BM25 over the surviving corpus — the oracle
    is byte-identical to docs_bm25_topk_retract's, so the driver hash
    certifies writeStream routing for this family end to end."""
    import os

    from ..ext.text import tokens as _tokens
    from ..streaming.matview import (
        apply_term_stats_delta,
        maintain_changelog_view,
        read_term_stats_segments,
        retract_term_stats_delta,
    )

    docs = _docs(spark, sf_dir)
    root = _session_state_dir(spark, sf_dir, "skylogix_term_cdc")
    state = os.path.join(root, "view")
    cdc_dir = os.path.join(root, "changelog")
    for i, part in enumerate((
        docs.filter(F.col("doc_id") % 2 == 0).withColumn("op", F.lit(1)),
        docs.filter(F.col("doc_id") % 2 == 1).withColumn("op", F.lit(1)),
        docs.filter(F.col("doc_id") % 7 == 3).withColumn("op", F.lit(-1)),
    )):
        part.select("doc_id", "text", "op").coalesce(1).write.mode(
            "overwrite").parquet(os.path.join(cdc_dir, f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, text string, op int")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(cdc_dir, "b*"))
    )
    maintain_changelog_view(
        stream, state, os.path.join(root, "ckpt"),
        apply_fn=lambda df, bid, sd: apply_term_stats_delta(df, bid, sd),
        retract_fn=lambda df, bid, sd: retract_term_stats_delta(df, bid, sd),
    )
    survivors = docs.filter(F.col("doc_id") % 7 != 3)
    stats = read_term_stats_segments(spark, state)
    counters = survivors.select(F.size(_tokens("text")).alias("dl")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    return text.bm25_topk_from_stats(
        survivors, stats, counters.n, counters.s / counters.n,
        _BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B,
    )


def q_bm25_topk_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot (time-travel) read over a THIRD view family (r13): the
    as-of machinery carries driver hashes through the exact-dedup (MIN/
    ADD) and gram-index (weighted capped-posting) folds; this row
    reconstructs the retractable TERM-STATS view as it stood BEFORE a
    delete (read_term_stats_as_of — merge only segments with
    batch id <= 1) and scores BM25 for the FULL corpus from that
    snapshot with full-corpus N/avgdl. The tombstone written at batch 2
    must be genuinely invisible — the oracle is byte-identical to
    docs_bm25_topk's one-shot oracle over the whole corpus."""
    import os

    from ..ext.text import tokens as _tokens
    from ..streaming.matview import (
        apply_term_stats_delta,
        read_term_stats_as_of,
        retract_term_stats_delta,
    )

    docs = _docs(spark, sf_dir)
    root = _session_state_dir(spark, sf_dir, "skylogix_term_asof")
    state = os.path.join(root, "view")
    apply_term_stats_delta(
        docs.filter(F.col("doc_id") % 2 == 0), 0, state, auto_compact=None)
    apply_term_stats_delta(
        docs.filter(F.col("doc_id") % 2 == 1), 1, state, auto_compact=None)
    retract_term_stats_delta(
        docs.filter(F.col("doc_id") % 7 == 3), 2, state, auto_compact=None)
    snapshot = read_term_stats_as_of(spark, state, 1)
    counters = docs.select(F.size(_tokens("text")).alias("dl")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    return text.bm25_topk_from_stats(
        docs, snapshot, counters.n, counters.s / counters.n,
        _BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B,
    )


O_BM25_TOPK = TOK_CTE + ", " + _bm25_cte(_BM25_K) + """
SELECT doc_id, n_terms_matched, bm25 FROM bm
"""


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and dense-cosine lists
# --------------------------------------------------------------------------

_RRF_QID = 0
_RRF_N = 20
_RRF_K = 10
_RRF_C = 60


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse list = BM25 top-N for the fixed term query; dense list =
    cosine top-N around embedding ``vec_id = _RRF_QID`` (vec_id plays the
    aligned doc_id). Fusion is rank-only, so the incomparable score
    scales never mix."""
    sparse = text.bm25_topk(
        _docs(spark, sf_dir), query_terms=_BM25_TERMS, k=_RRF_N,
        k1=_BM25_K1, b=_BM25_B,
    )
    dense = similarity.cosine_topk_by_id(
        _embs(spark, sf_dir), query_id=_RRF_QID, k=_RRF_N
    ).withColumnRenamed("vec_id", "doc_id")
    return similarity.rrf_fuse(sparse, dense, k=_RRF_K, c=_RRF_C)


O_HYBRID_RRF = TOK_CTE + ", " + _bm25_cte(_RRF_N) + f""",
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_RRF_QID}),
dense AS (
  SELECT vec_id AS doc_id,
         ROUND(
           list_sum(list_transform(range(1, len(embedding) + 1),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         6) AS cosine_sim
  FROM embeddings, q WHERE vec_id <> {_RRF_QID}
  ORDER BY cosine_sim DESC, vec_id ASC LIMIT {_RRF_N}
),
sr AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rs FROM bm),
dr AS (SELECT doc_id, row_number() OVER (ORDER BY cosine_sim DESC, doc_id) AS rd FROM dense),
f AS (
  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id, s.rs, d.rd
  FROM sr s FULL OUTER JOIN dr d ON s.doc_id = d.doc_id
)
SELECT doc_id,
       CAST(rs AS INTEGER) AS rank_sparse,
       CAST(rd AS INTEGER) AS rank_dense,
       (COALESCE(CAST(ROUND(1e9 / ({_RRF_C} + rs)) AS BIGINT), 0)
        + COALESCE(CAST(ROUND(1e9 / ({_RRF_C} + rd)) AS BIGINT), 0)) / 1e9 AS rrf_score
FROM f
ORDER BY rrf_score DESC, doc_id ASC LIMIT {_RRF_K}
"""


# --------------------------------------------------------------------------
# Zipf-law corpus diagnostic (slope of ln-freq vs ln-rank over top terms)
# --------------------------------------------------------------------------

_ZIPF_TOP = 100


def q_lang_source_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_source_chisq(_docs(spark, sf_dir))


O_LANG_SOURCE_CHISQ = f"""
WITH counts AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2
), grid AS (
  SELECT l.lang, s.source, COALESCE(c.n, 0) AS n
  FROM (SELECT DISTINCT lang FROM counts) l
  CROSS JOIN (SELECT DISTINCT source FROM counts) s
  LEFT JOIN counts c USING (lang, source)
), cells AS (
  SELECT n,
         SUM(n) OVER (PARTITION BY lang) AS r,
         SUM(n) OVER (PARTITION BY source) AS c,
         SUM(n) OVER () AS t,
         lang, source
  FROM grid
)
SELECT CAST(MAX(t) AS BIGINT) AS n_total,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_cols,
       CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof,
       ROUND({sql_fsum('(n - r*c/t) * (n - r*c/t) / (r*c/t)', 6)}, 6) AS chi2
FROM cells
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.zipf_fit(_docs(spark, sf_dir), top_terms=_ZIPF_TOP)


_Z_SX = sql_dsumx("x")
_Z_SY = sql_dsumx("y")
_Z_SXX = sql_dsumx("x*x")
_Z_SYY = sql_dsumx("y*y")
_Z_SXY = sql_dsumx("x*y")
#: slope repeated verbatim in intercept (same value both evaluations)
_Z_SLOPE = f"((COUNT(*) * {_Z_SXY} - {_Z_SX} * {_Z_SY}) / (COUNT(*) * {_Z_SXX} - {_Z_SX} * {_Z_SX}))"

O_ZIPF_FIT = TOK_CTE + f"""
, cf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cf
  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w
),
top AS (SELECT w, cf FROM cf ORDER BY cf DESC, w ASC LIMIT {_ZIPF_TOP}),
ranked AS (SELECT cf, row_number() OVER (ORDER BY cf DESC, w ASC) AS rank FROM top),
pts AS (SELECT ln(rank) AS x, ln(cf) AS y FROM ranked)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND({_Z_SLOPE}, 6) AS slope,
       ROUND(({_Z_SY} - {_Z_SLOPE} * {_Z_SX}) / COUNT(*), 6) AS intercept,
       ROUND((COUNT(*) * {_Z_SXY} - {_Z_SX} * {_Z_SY})
             / sqrt((COUNT(*) * {_Z_SXX} - {_Z_SX} * {_Z_SX})
                    * (COUNT(*) * {_Z_SYY} - {_Z_SY} * {_Z_SY})), 6) AS pearson_r
FROM pts
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.stratified_sample(
        _docs(spark, sf_dir), quota=_STRAT_QUOTA, salt=_STRAT_SALT
    )


O_STRATIFIED_SAMPLE = f"""
WITH keyed AS (
  SELECT lang, doc_id,
         md5(CAST(doc_id AS VARCHAR) || '|' || '{_STRAT_SALT}') AS sample_key
  FROM documents
)
SELECT lang, doc_id, CAST(rn AS INTEGER) AS rn FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY sample_key, doc_id) AS rn
  FROM keyed
) WHERE rn <= {_STRAT_QUOTA}
"""


# --------------------------------------------------------------------------
# PCA top component by distributed power iteration (covariance never
# materialized) — oracle replays the recurrence as unrolled CTEs.
# --------------------------------------------------------------------------

_PCA_ITER = 2
_PCA_DIM = 64


def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pca_top_component(_embs(spark, sf_dir), n_iter=_PCA_ITER)


def _pca_iter_cte(i: int) -> str:
    """One power iteration: per-row s = xᵀv, y_j = round(mean(x_j·s), 9)
    − μ_j·(μᵀv), v' = round(y/‖y‖, 6). All list folds run in pos order,
    matching the Spark side's Python left-folds."""
    prev = f"vl{i}"
    return f"""
sx{i + 1} AS (
  SELECT generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS x,
         list_sum(list_transform(range(1, {_PCA_DIM} + 1),
                  k -> CAST(embedding[k] AS DOUBLE) * vv[k])) AS s
  FROM embeddings, {prev}
),
ym{i + 1} AS (
  SELECT pos,
         ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) * s AS DECIMAL(24,10))) AS DOUBLE)
               / COUNT(x), 9) AS y
  FROM sx{i + 1} GROUP BY pos
),
mdv{i + 1} AS (
  SELECT list_sum(list_transform(range(1, {_PCA_DIM} + 1), k -> mv[k] * vv[k])) AS mudotv
  FROM muv, {prev}
),
ya{i + 1} AS (
  SELECT ym.pos, ym.y - mu.m * mudotv AS t
  FROM ym{i + 1} ym JOIN mu ON mu.pos = ym.pos CROSS JOIN mdv{i + 1}
),
nrm{i + 1} AS (
  SELECT sqrt(list_sum(list_transform(list(t ORDER BY pos), u -> u * u))) AS nv
  FROM ya{i + 1}
),
vc{i + 1} AS (
  SELECT pos, ROUND(t / nv, 6) AS c FROM ya{i + 1} CROSS JOIN nrm{i + 1}
),
vl{i + 1} AS (SELECT list(c ORDER BY pos) AS vv FROM vc{i + 1})"""


O_PCA_TOP_COMPONENT = f"""
WITH pe AS (
  SELECT generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS x
  FROM embeddings
),
mu AS (
  SELECT pos,
         ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(24,10))) AS DOUBLE)
               / COUNT(x), 6) AS m
  FROM pe GROUP BY pos
),
muv AS (SELECT list(m ORDER BY pos) AS mv FROM mu),
vl0 AS (
  SELECT list_transform(range(1, {_PCA_DIM} + 1),
                        i -> CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END) AS vv
),
{",".join(_pca_iter_cte(i) for i in range(_PCA_ITER))}
SELECT CAST(v.pos - 1 AS INTEGER) AS pos, v.c AS component,
       ROUND(n.nv, 6) AS eigenvalue
FROM vc{_PCA_ITER} v CROSS JOIN nrm{_PCA_ITER} n
"""


# --------------------------------------------------------------------------
# MMR diversified rerank (greedy relevance-vs-redundancy over a shortlist)
# --------------------------------------------------------------------------

_MMR_QID = 0
_MMR_K = 8
_MMR_N = 25
_MMR_LAM = 0.7
_MMR_LT = int(round(_MMR_LAM * 1000))  # λ in thousandths (integer units)
_MMR_MT = 1000 - _MMR_LT


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.mmr_rerank(
        _embs(spark, sf_dir), query_id=_MMR_QID, k=_MMR_K,
        shortlist=_MMR_N, lam=_MMR_LAM,
    )


_SQL_COS = (
    "ROUND(list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"
)


def _mmr_step_cte(i: int) -> str:
    """Greedy step i (i ≥ 2): among unpicked shortlist members, pick the
    argmax of the integer-unit score L·rel_u − M·max(sim_u) (exact 1e-9
    units — see similarity.mmr_rerank's determinism pins), ties on id.
    Every CTE in the chain is MATERIALIZED: p{{i}} is referenced 3× by
    step i+1, so inlining would re-expand the whole prior chain ~3^k
    times (measured: the inlined form never finished at sf0.01;
    materialized it's instant)."""
    return f"""s{i} AS MATERIALIZED (
  SELECT c.vec_id, c.rel,
         {_MMR_LT} * c.rel_u - {_MMR_MT} * (
           SELECT MAX(p.sim_u) FROM pw p
           WHERE p.ai = c.vec_id AND p.bi IN (SELECT vec_id FROM p{i - 1})
         ) AS mmr_u
  FROM sl c WHERE c.vec_id NOT IN (SELECT vec_id FROM p{i - 1})
  ORDER BY mmr_u DESC, c.vec_id LIMIT 1
),
p{i} AS MATERIALIZED (SELECT vec_id, rel, mmr_u, rnk FROM p{i - 1}
         UNION ALL SELECT vec_id, rel, mmr_u, {i} AS rnk FROM s{i})"""


O_MMR_RERANK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_MMR_QID}),
sl AS MATERIALIZED (
  SELECT vec_id, embedding, rel,
         CAST(ROUND(rel * 1000000) AS BIGINT) AS rel_u
  FROM (
    SELECT vec_id, embedding, {_SQL_COS.format(a='embedding', b='qv')} AS rel
    FROM embeddings, q WHERE vec_id <> {_MMR_QID}
    ORDER BY rel DESC, vec_id ASC LIMIT {_MMR_N}
  )
),
pw AS MATERIALIZED (
  SELECT a.vec_id AS ai, b.vec_id AS bi,
         CAST(ROUND({_SQL_COS.format(a='a.embedding', b='b.embedding')} * 1000000) AS BIGINT) AS sim_u
  FROM sl a, sl b WHERE a.vec_id <> b.vec_id
),
s1 AS (
  SELECT vec_id, rel, {_MMR_LT} * rel_u AS mmr_u
  FROM sl ORDER BY mmr_u DESC, vec_id LIMIT 1
),
p1 AS MATERIALIZED (SELECT vec_id, rel, mmr_u, 1 AS rnk FROM s1),
{",".join(_mmr_step_cte(i) for i in range(2, _MMR_K + 1))}
SELECT CAST(rnk AS INTEGER) AS mmr_rank, vec_id, rel AS relevance,
       mmr_u / 1e9 AS mmr_score
FROM p{_MMR_K}
"""


QUERIES = {
    "docs_exact_dedup": q_exact_dedup,
    "docs_minhash_signatures": q_minhash_signatures,
    "docs_minhash_lsh_pairs": q_minhash_lsh_pairs,
    "docs_minhash_pairs_indexed": q_minhash_pairs_indexed,
    "docs_exact_dedup_indexed": q_exact_dedup_indexed,
    "docs_exact_dedup_retract": q_exact_dedup_retract,
    "docs_exact_dedup_changelog": q_exact_dedup_changelog,
    "docs_minhash_pairs_retract": q_minhash_pairs_retract,
    "docs_minhash_pairs_changelog": q_minhash_pairs_changelog,
    "docs_exact_dedup_asof": q_exact_dedup_asof,
    "mm_phash_near_dup": q_phash_near_dup,
    "mm_audio_near_dup": q_audio_near_dup,
    "mm_video_near_dup": q_video_near_dup,
    "docs_source_cap": q_source_cap,
    "docs_minhash_jaccard_estimate": q_minhash_jaccard_estimate,
    "docs_ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "docs_dedup_clusters": q_dedup_clusters,
    "docs_dedup_clusters_incremental": q_dedup_clusters_incremental,
    "docs_dedup_decisions": q_dedup_decisions,
    "docs_dedup_keep_best": q_dedup_keep_best,
    "docs_pii_scrub": q_pii_scrub,
    "docs_top_ngrams": q_top_ngrams,
    "docs_simhash": q_simhash,
    "docs_simhash_near_pairs": q_simhash_near_pairs,
    "docs_token_stats": q_token_stats,
    "docs_language_id": q_language_id,
    "docs_bpe_token_count": q_bpe_token_count,
    "docs_fingerprint": q_fingerprint,
    "docs_normalize": q_normalize,
    "docs_chunk": q_chunk_documents,
    "docs_quality_topk_per_source": q_quality_topk_per_source,
    "docs_mixture_sample": q_mixture_sample,
    "docs_token_quantiles_by_lang": q_token_quantiles_by_lang,
    "docs_repetition_stats": q_repetition_stats,
    "docs_pack": q_pack_documents,
    "emb_cosine_topk": q_cosine_topk,
    "emb_quantize_int8": q_quantize_int8,
    "emb_quantized_topk": q_quantized_topk,
    "emb_hamming_topk": q_hamming_topk,
    "emb_quantized_recall": q_quantized_recall,
    "docs_dup_chunk_ratio": q_dup_chunk_ratio,
    "docs_remove_dup_chunks": q_remove_dup_chunks,
    "docs_winnowing": q_winnowing,
    "docs_winnowing_pairs": q_winnowing_pairs,
    "docs_substring_dedup": q_substring_dedup,
    "docs_substring_rewrite": q_substring_rewrite,
    "docs_substring_rewrite_indexed": q_substring_rewrite_indexed,
    "docs_substring_rewrite_segmented": q_substring_rewrite_segmented,
    "docs_substring_rewrite_retract": q_substring_rewrite_retract,
    "docs_substring_rewrite_asof": q_substring_rewrite_asof,
    "docs_substring_dedup_indexed": q_substring_dedup_indexed,
    "docs_substring_pairs_indexed": q_substring_pairs_indexed,
    "docs_substring_pairs": q_substring_pairs,
    "docs_bigram_logprob": q_bigram_logprob,
    "docs_distill_filter": q_distill_filter,
    "docs_distill_score": q_distill_score,
    "docs_unigram_logprob": q_unigram_logprob,
    "docs_token_entropy": q_token_entropy,
    "docs_bm25_topk": q_bm25_topk,
    "docs_bm25_topk_indexed": q_bm25_topk_indexed,
    "docs_bm25_topk_retract": q_bm25_topk_retract,
    "docs_bm25_topk_changelog": q_bm25_topk_changelog,
    "docs_bm25_topk_asof": q_bm25_topk_asof,
    "docs_hybrid_rrf": q_hybrid_rrf,
    "docs_zipf_fit": q_zipf_fit,
    "docs_lang_source_chisq": q_lang_source_chisq,
    "docs_source_kl": q_source_kl,
    "emb_pca_top_component": q_pca_top_component,
    "docs_stratified_sample": q_stratified_sample,
    "docs_temperature_mixture": q_temperature_mixture,
    "emb_lsh_buckets": q_lsh_buckets,
    "emb_lsh_near_dup_pairs": q_lsh_near_dup_pairs,
    "emb_ivf_topk": q_ivf_topk,
    "emb_ivf_topk_retract": q_ivf_topk_retract,
    "emb_ivf_filtered_topk": q_ivf_filtered_topk,
    "emb_filtered_recall": q_filtered_recall,
    "emb_pairwise_topk": q_pairwise_topk,
    "docs_decontaminate": q_decontaminate,
    "docs_url_canonical": q_url_canonical,
    "docs_url_dedup": q_url_dedup,
    "docs_domain_mix": q_domain_mix,
    "docs_domain_mix_psl": q_domain_mix_psl,
    "docs_html_strip": q_html_strip,
    "docs_pack_chunks": q_pack_chunks,
    "docs_pii_stats": q_pii_stats,
    "docs_pii_redact": q_pii_redact,
    "docs_url_decontaminate": q_url_decontaminate,
    "docs_url_dedup_retract": q_url_dedup_retract,
    "docs_url_dedup_asof": q_url_dedup_asof,
    "docs_url_dedup_changelog": q_url_dedup_changelog,
    "docs_url_blocklist": q_url_blocklist,
    "emb_centroids_by_label": q_centroids_by_label,
    "emb_kmeans": q_kmeans,
    "emb_kmeans_arrow": q_kmeans_arrow,
    "emb_semdedup": q_semdedup,
    "emb_semdedup_scaledk": q_semdedup_scaledk,
    "docs_shard": q_shard,
    "docs_budget_select": q_budget_select,
    "docs_tfidf_topk": q_tfidf_topk,
    "docs_quality_filter": q_quality_filter,
    "docs_split_assign": q_split_assign,
    "docs_curation_pipeline": q_curation_pipeline,
    "emb_ivf_quantized_topk": q_ivf_quantized_topk,
    "emb_pq_adc_topk": q_pq_adc_topk,
    "emb_ivfpq_topk": q_ivfpq_topk,
    "emb_pq_recall": q_pq_recall,
    "emb_ivf_recall": q_ivf_recall,
    "emb_matryoshka_topk": q_matryoshka_topk,
    "emb_matryoshka_recall": q_matryoshka_recall,
    "emb_mmr_rerank": q_mmr_rerank,
}

ORACLES = {
    "docs_exact_dedup": O_EXACT_DEDUP,
    "docs_minhash_signatures": O_MINHASH_SIGNATURES,
    "docs_minhash_lsh_pairs": O_MINHASH_LSH_PAIRS,
    "docs_minhash_pairs_indexed": O_MINHASH_LSH_PAIRS,
    "docs_exact_dedup_indexed": O_EXACT_DEDUP,
    "docs_exact_dedup_retract": O_EXACT_DEDUP_RETRACT,
    # byte-identical oracle to the manual retract row: same net survivors,
    # different machinery under test (writeStream changelog routing)
    "docs_exact_dedup_changelog": O_EXACT_DEDUP_RETRACT,
    "docs_minhash_pairs_retract": O_MINHASH_PAIRS_RETRACT,
    "docs_minhash_pairs_changelog": O_MINHASH_PAIRS_RETRACT,
    # byte-identical to docs_exact_dedup's oracle: the pre-delete snapshot
    # over the full corpus IS the plain one-shot dedup
    "docs_exact_dedup_asof": O_EXACT_DEDUP,
    # r13: the multimodal rows' planted truth is relational (mod-25
    # residue clusters over dense ids, invariant measure pinned) — full
    # value-hash oracles replace the r11/r12 rows-only contract
    "mm_phash_near_dup": O_MM_HAMMING_PAIRS,
    "mm_audio_near_dup": O_MM_HAMMING_PAIRS,
    "mm_video_near_dup": O_MM_VIDEO_PAIRS,
    "docs_source_cap": O_SOURCE_CAP,
    "docs_minhash_jaccard_estimate": O_MINHASH_JACCARD_EST,
    "docs_ngram_jaccard_pairs": O_NGRAM_JACCARD,
    "docs_dedup_clusters": O_DEDUP_CLUSTERS,
    # identical oracle BY CONTRACT: union-find star compression makes
    # the two-batch incremental clustering equal the one-shot CC
    "docs_dedup_clusters_incremental": O_DEDUP_CLUSTERS,
    "docs_dedup_decisions": O_DEDUP_DECISIONS,
    "docs_dedup_keep_best": O_DEDUP_KEEP_BEST,
    "docs_pii_scrub": O_PII_SCRUB,
    "docs_top_ngrams": O_TOP_NGRAMS,
    "docs_simhash": O_SIMHASH,
    "docs_simhash_near_pairs": O_SIMHASH_NEAR_PAIRS,
    "docs_token_stats": O_TOKEN_STATS,
    "docs_language_id": O_LANGUAGE_ID,
    "docs_bpe_token_count": O_BPE_TOKEN_COUNT,
    "docs_fingerprint": O_FINGERPRINT,
    "docs_normalize": O_NORMALIZE,
    "docs_chunk": O_CHUNK_DOCUMENTS,
    "docs_quality_topk_per_source": O_QUALITY_TOPK,
    "docs_mixture_sample": O_MIXTURE_SAMPLE,
    "docs_token_quantiles_by_lang": O_TOKEN_QUANTILES,
    "docs_repetition_stats": O_REPETITION,
    "docs_pack": O_PACK_DOCUMENTS,
    "emb_cosine_topk": O_COSINE_TOPK,
    "emb_quantize_int8": O_QUANTIZE_INT8,
    "emb_quantized_topk": O_QUANTIZED_TOPK,
    "emb_hamming_topk": O_HAMMING_TOPK,
    "emb_quantized_recall": O_QUANTIZED_RECALL,
    "docs_dup_chunk_ratio": O_DUP_CHUNK_RATIO,
    "docs_remove_dup_chunks": O_REMOVE_DUP_CHUNKS,
    "docs_winnowing": O_WINNOWING,
    "docs_winnowing_pairs": O_WINNOWING_PAIRS,
    "docs_substring_dedup": O_SUBSTRING_DEDUP,
    "docs_substring_rewrite": O_SUBSTRING_REWRITE,
    # identical oracle BY CONTRACT: the maintained-index rewrite must
    # equal the one-shot batch rewrite row-for-row
    "docs_substring_rewrite_indexed": O_SUBSTRING_REWRITE,
    "docs_substring_rewrite_segmented": O_SUBSTRING_REWRITE,
    # pre-delete snapshot over the FULL corpus: as-of must make the
    # batch-2 tombstone invisible, so the oracle is the one-shot rewrite
    "docs_substring_rewrite_asof": O_SUBSTRING_REWRITE,
    # the one-shot rewrite oracle over the SURVIVING corpus: retractable
    # view == rebuild-over-survivors is the Z-set fold's contract
    "docs_substring_rewrite_retract": O_SUBSTRING_REWRITE.replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 7 <> 3) documents",
    ),
    "docs_substring_dedup_indexed": O_SUBSTRING_DEDUP,
    "docs_substring_pairs_indexed": O_SUBSTRING_PAIRS,
    "docs_substring_pairs": O_SUBSTRING_PAIRS,
    "docs_bigram_logprob": O_BIGRAM_LOGPROB,
    "docs_distill_filter": O_DISTILL_FILTER,
    "docs_distill_score": O_DISTILL_SCORE,
    "docs_unigram_logprob": O_UNIGRAM_LOGPROB,
    "docs_token_entropy": O_TOKEN_ENTROPY,
    "docs_bm25_topk": O_BM25_TOPK,
    # identical oracle BY CONTRACT: scoring against the maintained
    # term-stats view must equal the from-scratch recompute
    "docs_bm25_topk_indexed": O_BM25_TOPK,
    # BM25 oracle over the SURVIVING corpus (retracted view == rebuild)
    "docs_bm25_topk_retract": O_BM25_TOPK.replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 7 <> 3) documents",
    ),
    # r13: byte-identical to the retract row — same net survivors, the
    # machinery under test is the writeStream changelog routing (4th family)
    "docs_bm25_topk_changelog": O_BM25_TOPK.replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 7 <> 3) documents",
    ),
    # r13: the pre-delete term-stats snapshot over the full corpus IS
    # the plain one-shot BM25 — byte-identical oracle (as-of family 3)
    "docs_bm25_topk_asof": O_BM25_TOPK,
    "docs_hybrid_rrf": O_HYBRID_RRF,
    "docs_zipf_fit": O_ZIPF_FIT,
    "docs_lang_source_chisq": O_LANG_SOURCE_CHISQ,
    "docs_source_kl": O_SOURCE_KL,
    "emb_pca_top_component": O_PCA_TOP_COMPONENT,
    "docs_stratified_sample": O_STRATIFIED_SAMPLE,
    "docs_temperature_mixture": O_TEMPERATURE_MIXTURE,
    "emb_lsh_buckets": O_LSH_BUCKETS,
    "emb_lsh_near_dup_pairs": O_LSH_NEAR_DUP,
    "emb_ivf_topk": O_IVF_TOPK,
    "emb_ivf_topk_retract": O_IVF_TOPK_RETRACT,
    "emb_ivf_filtered_topk": O_IVF_FILTERED_TOPK,
    "emb_filtered_recall": O_FILTERED_RECALL,
    "emb_pairwise_topk": O_PAIRWISE_TOPK,
    "docs_decontaminate": O_DECONTAMINATE,
    # r13 URL family: closed-form planted-truth oracles (verdict #5)
    "docs_url_canonical": O_URL_CANONICAL,
    "docs_url_dedup": O_URL_DEDUP,
    "docs_domain_mix": O_DOMAIN_MIX,
    "docs_domain_mix_psl": O_DOMAIN_MIX,
    "docs_html_strip": _o_html_strip(),
    "docs_pack_chunks": O_PACK_CHUNKS,
    "docs_pii_stats": O_PII_STATS,
    "docs_pii_redact": O_PII_REDACT,
    "docs_url_decontaminate": O_URL_DECONTAMINATE,
    "docs_url_dedup_retract": O_URL_DEDUP_RETRACT,
    "docs_url_dedup_asof": O_URL_DEDUP_ASOF,
    "docs_url_dedup_changelog": O_URL_DEDUP_RETRACT,
    "docs_url_blocklist": O_URL_BLOCKLIST,
    "emb_centroids_by_label": O_CENTROIDS_BY_LABEL,
    "emb_kmeans": O_KMEANS,
    "emb_kmeans_arrow": O_KMEANS,
    "emb_semdedup": O_SEMDEDUP,
    "emb_semdedup_scaledk": O_SEMDEDUP_SCALEDK,
    "docs_shard": O_SHARD,
    "docs_budget_select": O_BUDGET_SELECT,
    "docs_tfidf_topk": O_TFIDF_TOPK,
    "docs_quality_filter": O_QUALITY_FILTER,
    "docs_split_assign": O_SPLIT_ASSIGN,
    "docs_curation_pipeline": O_CURATION_PIPELINE,
    "emb_ivf_quantized_topk": O_IVF_QUANTIZED_TOPK,
    "emb_pq_adc_topk": O_PQ_ADC_TOPK,
    "emb_ivfpq_topk": O_IVFPQ_TOPK,
    "emb_pq_recall": O_PQ_RECALL,
    "emb_ivf_recall": O_IVF_RECALL,
    "emb_matryoshka_topk": O_MATRYOSHKA_TOPK,
    "emb_matryoshka_recall": O_MATRYOSHKA_RECALL,
    "emb_mmr_rerank": O_MMR_RERANK,
}
