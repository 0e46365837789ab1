"""Text-analysis operators for large-scale training-data pipelines.

All column-expression based (JVM-side, whole-stage codegen) — no Python
UDFs. Tokenization uses a portable regex so a DuckDB oracle can mirror it
exactly.
"""

from __future__ import annotations

import os
import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: portable tokenizer: runs of letters, runs of digits, or single symbols.
#: Same pattern is valid in Java regex (Spark) and RE2-ish (DuckDB).
BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

#: tiny per-language stopword lists for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "un", "est"],
    "es": ["el", "los", "las", "de", "que", "y", "es"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (array<string>), empty-safe."""
    text = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(text), "\\s+"), lambda t: t != "")


def _parse_spark_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728b', '128m', '1g',
    or a bare number)."""
    s = v.strip().lower()
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(float(s)) * mult


def _scan_partitions_estimate(df: DataFrame) -> int | None:
    """Cheap scan-partition estimate for the repartition_for_compute
    decision (r15 optimization round): the exact probe —
    ``df.rdd.getNumPartitions()`` — forces full analysis + physical
    planning + an RDD deserializer chain, measured at 0.4-0.5 s PER CALL
    on this plan family, paid inside every text/dedup query build. The
    decision only needs the ORDER OF MAGNITUDE of the scan's
    parallelism, which for a file source follows from file sizes and
    ``spark.sql.files.maxPartitionBytes`` (each file yields about
    ceil(size/split) slices). Known blind spot: slice packing merges
    small files, so on many-tiny-file layouts this OVER-estimates — the
    caller then skips the respread although packing left only a few
    partitions, and the downstream per-row work runs on few cores.
    Returns None — caller falls back to the exact probe — for non-file
    sources (test createDataFrame frames, joins over views) and
    non-local URIs whose sizes we cannot stat cheaply. Either branch of
    the caller's decision is value-identical; this is a performance
    heuristic only."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    from urllib.parse import unquote, urlparse

    for uri in files:
        if uri.startswith("file:"):
            path = unquote(urlparse(uri).path)
        elif uri.startswith("/"):
            path = uri
        else:
            return None
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    try:
        split = _parse_spark_bytes(
            df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        split = 128 << 20
    return max(len(files), -(-total // max(split, 1)))


def repartition_for_compute(df: DataFrame, key: str) -> DataFrame:
    """Spread CPU-heavy per-row work across cores — ONLY when needed.

    Small local parquet arrives as 1-2 partitions, so the hash/shingle
    pipelines downstream would serialize on 1-2 cores; a pre-shuffle on the
    (skew-free) id fixes that. At real scale the source already has
    thousands of partitions and the same shuffle would move the FULL
    document text through an exchange — pure overhead, since the min()/sum()
    aggregations downstream are map-side combinable and shuffle only a few
    longs per doc either way. So: skip the shuffle whenever the source
    already has at least half the cluster's parallelism in partitions.
    Streaming inputs can't be probed (no .rdd) and arrive micro-batched —
    leave them untouched. The partition count comes from the cheap
    file-metadata estimate when the input is a local file scan (see
    :func:`_scan_partitions_estimate`; the exact RDD probe cost 0.4-0.5 s
    of driver time per query build) and from the exact probe otherwise.
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    est = _scan_partitions_estimate(df)
    n = est if est is not None else df.rdd.getNumPartitions()
    if n * 2 >= target:
        return df
    return df.repartition(target, key)


def bpe_ish_tokens(text: Column | str) -> Column:
    """BPE-ish regex token stream: letter runs / digit runs / symbols."""
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH_PATTERN), 0)


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality-scoring features per document: token counts, length ratios,
    lexical diversity, stopword ratio. One narrow projection, no shuffle."""
    toks = tokens(text_col)
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_tok = F.size(toks)
    # empty/whitespace-only docs: ratios are NULL by contract (nullif guard
    # pins the division in both engines; without it DuckDB's double
    # division yields NaN while Spark yields NULL)
    n_tok_nz = F.nullif(n_tok, F.lit(0))
    return df.select(
        id_col,
        F.length(text_col).alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(F.size(F.array_distinct(toks)) / n_tok_nz, 6).alias("lexical_diversity"),
        F.round(
            F.length(F.regexp_replace(F.col(text_col), "\\s+", "")) / n_tok_nz, 6
        ).alias("avg_token_len"),
        F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t))).alias("n_stopwords"),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t))) / n_tok_nz, 6
        ).alias("stopword_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Composite quality score in [0,1]: favors mid-length docs with diverse
    vocabulary — the Gopher-rules-style shape, deterministic and portable."""
    stats = token_stats(df, text_col, id_col)
    length_ok = F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000), 1.0).otherwise(0.5)
    # empty docs have NULL lexical_diversity (see token_stats) — score them
    # as diversity 0 rather than letting least() silently drop the NULL
    div = F.coalesce(F.col("lexical_diversity"), F.lit(0.0))
    return stats.select(
        id_col,
        F.round(
            length_ok * (0.5 + 0.5 * F.least(div * 2, F.lit(1.0))), 6
        ).alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax over per-language stopword hit counts;
    ties and zero-hits → 'unknown'. Pure expressions; for real pipelines
    swap in a fastText-style model via pandas_udf (same output contract)."""
    toks = tokens(text_col)

    def contains(arr):
        # single-arg lambda: F.filter treats a 2-arg callable as (elem, idx)
        return lambda t: F.array_contains(arr, t)

    hit_cols = {}
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        hit_cols[f"hits_{lang}"] = F.size(F.filter(toks, contains(arr)))
    scored = df.select(id_col, *[c.alias(n) for n, c in hit_cols.items()])
    best = F.greatest(*[F.col(n) for n in hit_cols])
    pred = F.lit("unknown")
    # reverse-alphabetical chain so earlier (alphabetical) langs win ties
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when((best > 0) & (F.col(f"hits_{lang}") == best), F.lit(lang)).otherwise(pred)
    return scored.select(id_col, *hit_cols.keys(), pred.alias("lang_pred"))


def normalize_text(text: Column | str) -> Column:
    """Training-data text normalization: lowercase, strip punctuation to
    spaces, collapse whitespace, trim. Pure codegen expressions; the same
    regex pipeline is mirrored by the docs_normalize oracle."""
    text = F.col(text) if isinstance(text, str) else text
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9\\s]", " ")
    t = F.regexp_replace(t, "\\s+", " ")
    return F.trim(t)


def chunk_documents(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    chunk_tokens: int = 32, overlap: int = 8) -> DataFrame:
    """Split documents into overlapping token-window chunks — the standard
    pre-embedding stage of a training/RAG pipeline.

    Chunk starts step by (chunk_tokens - overlap); the final partial chunk
    is kept. Implemented with sequence+transform over the token array (one
    narrow pass, rows fan out via explode); token offsets are preserved so
    chunks are traceable back to character positions upstream.
    """
    step = chunk_tokens - overlap
    if step <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = tokens(text_col)
    n_tok = F.size(toks)
    # chunk start offsets: 0, step, 2*step, ... while start < n_tok
    n_chunks = F.greatest(F.ceil((n_tok - F.lit(overlap)) / step), F.lit(1)).cast("int")
    starts = F.sequence(F.lit(0), (n_chunks - 1) * step, F.lit(step))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start_token"),
            F.concat_ws(" ", F.slice(toks, s + 1, chunk_tokens)).alias("chunk_text"),
        ),
    )
    return df.select(id_col, n_tok.alias("n_tokens"), F.explode(chunks).alias("c")).select(
        id_col,
        "n_tokens",
        F.col("c.start_token").alias("start_token"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


#: PII patterns — valid in both Java regex (Spark) and RE2 (DuckDB); order
#: matters: emails are scrubbed before phone-ish digit runs so the local
#: part of an address is never half-eaten by the phone pattern.
#:
#: The phone pattern is digit-anchored, not span-anchored: three shapes —
#: (a) '+'-prefixed international (7-15 digits, ≤2 separator chars between
#: digits), (b) NANP '(areacode) nnn-nnnn', (c) separator-dashed/solid runs
#: of ≥9 digits with NO whitespace. Whitespace is never allowed to chain
#: unboundedly, so year lists ('2024 2025 2026'), numeric table columns and
#: space-grouped big numbers ('1 234 567') no longer collapse into one
#: <PHONE> tag (the earlier class put \\s inside a {7,} span).
#: Re-derived from the canonical ext/pii.py pattern source (r14) with
#: this module's legacy <TAG> placeholders — one pattern list, two
#: surfaces (the single-pass scrub here, the detection/redaction split
#: there), zero drift. The r14 canonicalization upgraded the IPv4 class
#: with the per-octet 0-255 range check; the phone alternation (and its
#: r2-ADVICE false-positive pins) is unchanged.
from .pii import PII_CLASSES as _PII_CANON  # noqa: E402

_PII_LEGACY_TAGS = {"email": "<EMAIL>", "ipv4": "<IP>", "phone": "<PHONE>"}
PII_PATTERNS = tuple(
    (name, pat, _PII_LEGACY_TAGS[name]) for name, pat, _ in _PII_CANON
)


def pii_scrub(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Training-data PII redaction: emails / IPv4 / phone-like digit runs →
    typed tags, with per-document match counts for audit. A chain of
    codegen ``regexp_replace``/``regexp_count`` expressions — one narrow
    pass, no shuffle, no Python. The pattern list is the portable-regex
    subset (same semantics in the DuckDB oracle) and is canonically owned
    by ext/pii.py since r14 (which adds the detection/redaction split and
    the planted-truth verification); production pipelines extend
    PII_CLASSES there per policy."""
    scrubbed = F.col(text_col)
    counts = []
    for name, pat, tag in PII_PATTERNS:
        counts.append(F.size(F.regexp_extract_all(scrubbed, F.lit(pat), 0)).alias(f"n_{name}"))
        scrubbed = F.regexp_replace(scrubbed, pat, tag)
    return df.select(id_col, *counts, scrubbed.alias("scrubbed_text"))


def top_ngrams(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               n: int = 3, k: int = 20) -> DataFrame:
    """Corpus-level top-k n-gram table by document frequency (the
    boilerplate detector feeding ngram_jaccard_pairs' df cap and template
    removal). Map-side-combinable count per shingle, then a global top-k —
    TakeOrderedAndProject, never a full sort. Ties pinned lexicographically."""
    sh = shingle_rows(df, text_col, id_col, n, distinct=True)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(k)
    )


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                     n: int = 3) -> DataFrame:
    """Repetition quality signal: the fraction of duplicate word n-grams
    per document (the Gopher-rules "repetition" filter family) — high
    values flag boilerplate/spam/generated loops. One narrow projection:
    total windows is arithmetic on the token count, distinct count comes
    from the deduplicated shingle array; no shuffle, no explode."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    total = F.greatest(n_tok - (n - 1), F.lit(1))
    distinct = F.size(shingles(F.col(text_col), n))
    return df.select(
        id_col,
        total.alias("n_shingles"),
        distinct.alias("n_distinct_shingles"),
        F.round(F.lit(1) - distinct / total.cast("double"), 6).alias("dup_shingle_ratio"),
    )


def pack_documents(df: DataFrame, budget_tokens: int = 256, text_col: str = "text",
                   id_col: str = "doc_id", bucket_size: int = 10_000) -> DataFrame:
    """Deterministic distributed sequence packing: assign documents to
    packs whose token totals stay within ``budget_tokens`` — the batch
    construction step before pre-training (greedy first-fit keeps padding
    waste low).

    Packing is inherently sequential, so the distributed form packs WITHIN
    fixed id-range buckets (``id div bucket_size``): bucket boundaries are
    data-independent, making the output identical regardless of
    partitioning, task order, or cluster size (unlike sampling-based range
    partitioning). Each bucket packs via ``applyInPandas`` in id order;
    ``pack_id = bucket * 2^20 + seq`` is globally unique and stable. A
    document longer than the budget gets its own (oversize) pack.

    Returns (id, n_tokens, pack_id, pack_offset) — pack_offset is the
    token start position inside the pack.
    """
    import pandas as pd

    counted = df.select(
        id_col,
        (F.col(id_col) / bucket_size).cast("long").alias("_bucket"),
        F.size(tokens(text_col)).alias("n_tokens"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id" if id_col == "doc_id" else id_col).reset_index(drop=True)
        bucket = int(pdf["_bucket"].iloc[0])
        seq, acc = 0, 0
        pack_ids, offsets = [], []
        for n in pdf["n_tokens"]:
            n = int(n)
            if acc > 0 and acc + n > budget_tokens:
                seq, acc = seq + 1, 0
            pack_ids.append(bucket * (1 << 20) + seq)
            offsets.append(acc)
            acc += n
        out = pdf[[id_col, "n_tokens"]].copy()
        out["pack_id"] = pack_ids
        out["pack_offset"] = offsets
        return out

    return counted.groupBy("_bucket").applyInPandas(
        _pack, schema=f"{id_col} long, n_tokens int, pack_id long, pack_offset int"
    )


def quality_topk_per_source(df: DataFrame, k: int = 3, text_col: str = "text",
                            id_col: str = "doc_id", source_col: str = "source") -> DataFrame:
    """Data curation: keep the k highest-quality documents per source
    corpus — the standard "best-of" filter stage before mixing. Quality is
    :func:`quality_score`; rank-1 pattern (count per key is tiny, the
    window runs over the scored projection with deterministic tie-break
    on id)."""
    from pyspark.sql import Window

    scored = df.select(id_col, source_col).join(quality_score(df, text_col, id_col), id_col)
    w = Window.partitionBy(source_col).orderBy(F.desc("quality_score"), F.asc(id_col))
    return (
        scored.withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= k)
        .select(source_col, id_col, "quality_score", "rank_in_source")
    )


def mixture_sample(df: DataFrame, rates: dict[str, float], seed: int = 7,
                   id_col: str = "doc_id", source_col: str = "source",
                   default_rate: float = 0.0) -> DataFrame:
    """Deterministic weighted corpus mixing: keep each document with its
    source's sampling rate, decided by a content-stable hash of the id —
    NO rand(), so retries, speculative tasks and re-runs all agree, and a
    DuckDB oracle can reproduce the exact sample. This is the
    training-mixture stage (e.g. upsample books, downsample web).

    Decision: md5-hash(id) % 10000 < rate*10000 — a per-row expression,
    no shuffle; at 100 TB the sample never materializes the full corpus
    anywhere.
    """
    from .dedup import _md5_long

    h = F.pmod(_md5_long(F.col(id_col).cast("string"), seed), F.lit(10_000))
    # integer thresholds computed driver-side: no float arithmetic in the
    # plan, so the oracle can embed the identical integers
    thresholds = {s: int(round(r * 10_000)) for s, r in rates.items()}
    thr_map = F.create_map(*[F.lit(x) for kv in thresholds.items() for x in kv])
    thr = F.coalesce(
        F.element_at(thr_map, F.col(source_col)),
        F.lit(int(round(default_rate * 10_000))),
    )
    return df.select(id_col, source_col).filter(h < thr)


def unigram_logprob(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    min_logprob: float = -9.0) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the cheap perplexity proxy every quality-filtering stack
    runs before a real LM scores anything (docs full of rare/garbage
    tokens score low; formulaic boilerplate scores high).

    Plan: tf(doc, word) and corpus frequency cf(word) come from the SAME
    exploded pass — tf is localCheckpoint-MATERIALIZED before the cf and
    N branches derive from it, because Spark re-evaluates a shared
    subtree once per join input (the semdedup/pagerank lesson; without
    the checkpoint this query's executed plan re-tokenized the corpus 4×
    — plan-probed). One shuffle join tf⋈cf on the word key; per-doc fold
    of tf·ln(cf/N). The mean folds through fsum's fixed-point path so
    the output is order-independent.

    Returns (doc_id, n_tokens, avg_logprob, keep = avg ≥ min_logprob).
    """
    from ..functions.exact import fsum_units

    tf = (
        # spread the tokenize+explode across cores — single-partition
        # local sources otherwise serialize the whole LM build (the
        # bigram sibling measured 6.9 s single-core vs 1.4 s spread)
        repartition_for_compute(df, id_col)
        .select(id_col, F.explode(tokens(text_col)).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    cf = tf.groupBy("w").agg(F.sum("tf").alias("cf"))
    n_total = cf.agg(F.sum("cf").alias("n_total"))
    scored = (
        tf.join(cf, "w")
        .crossJoin(F.broadcast(n_total))  # 1-row scalar
        .select(
            id_col,
            "tf",
            (F.col("tf") * F.log(F.col("cf") / F.col("n_total"))).alias("wlp"),
        )
    )
    # mean + threshold in EXACT integer micro-units: the quantized fold
    # divided by an integer count routinely lands on .5 display
    # boundaries (e.g. -95.35645/28 = -3.4055875 exactly at sf0.1), and
    # Spark's double round vs DuckDB's decimal round then diverge — the
    # half-away integer division keeps both engines on one grid
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            fsum_units("wlp", 6).cast("long").alias("_su"),
        )
        .select(
            id_col,
            "n_tokens",
            (_sdiv_half_away(F.col("_su"), F.col("n_tokens")) / F.lit(1_000_000.0)).alias("avg_logprob"),
            (F.col("_su") >= F.lit(int(round(min_logprob * 1_000_000))) * F.col("n_tokens")).alias("keep"),
        )
    )


def temperature_mixture(df: DataFrame, alpha: float = 0.5, budget_frac: float = 0.6,
                        seed: int = 29, id_col: str = "doc_id",
                        lang_col: str = "lang") -> DataFrame:
    """α-temperature language rebalancing — the multilingual mixture stage
    (sampling weight ∝ n_l^α flattens the head and upsamples tail
    languages; α=1 is proportional, α=0 uniform).

    All rates are DATA-DERIVED in-plan: per-language counts → exact
    decimal total of rounded n^α weights (a handful of rows; decimal so
    the tiny final fold is order-independent) → per-language keep rate
    min(1, budget·share/n_l) → deterministic md5(id) threshold selection
    (no rand(): retries and the DuckDB oracle reproduce the exact
    sample). The per-language config broadcasts back onto the corpus; the
    corpus itself never shuffles.

    Returns per language: n_docs, target_share, n_selected,
    realized_rate.
    """
    from .dedup import _md5_long

    # The O(langs) counts table feeds the totals scalar, the conf table,
    # and (via conf) the final join — Spark re-evaluates a shared subtree
    # once per reference, so uncached the corpus groupBy scan ran ~4×
    # (plan-probed). persist() (lazy — pipelines into the first action)
    # collapses that to ONE corpus scan for all stats branches; the
    # selection pass over df is the only other scan, the two-pass minimum
    # for a data-derived-rate sampler. OWNED CACHE (cache.py): the
    # returned frame references it lazily, so it cannot be unpersisted
    # here — the session-scoped registry releases it via
    # release_owned_caches() between queries.
    from ..cache import owned_persist

    counts = owned_persist(
        df.groupBy(lang_col).agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = F.round(F.pow("n_docs", F.lit(alpha)), 6)
    weights = counts.select(lang_col, "n_docs", w.alias("w"))
    totals = weights.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.col("w").cast("decimal(28,6)")).cast("double").alias("w_total"),
    )
    conf = (
        weights.crossJoin(F.broadcast(totals))
        .select(
            lang_col,
            "n_docs",
            F.round(F.col("w") / F.col("w_total"), 6).alias("target_share"),
            F.least(
                F.lit(1.0),
                F.lit(budget_frac) * (F.col("w") / F.col("w_total")) * F.col("n_total") / F.col("n_docs"),
            ).alias("rate"),
        )
        .withColumn("thr", F.round(F.col("rate") * 1_000_000).cast("long"))
    )
    h = F.pmod(_md5_long(F.col(id_col).cast("string"), seed), F.lit(1_000_000))
    picked = (
        df.select(id_col, lang_col)
        .join(F.broadcast(conf.select(lang_col, "thr")), lang_col)
        .filter(h < F.col("thr"))
        .groupBy(lang_col)
        .agg(F.count(F.lit(1)).alias("n_selected"))
    )
    return (
        conf.join(picked, lang_col, "left")
        .select(
            lang_col,
            "n_docs",
            "target_share",
            F.coalesce("n_selected", F.lit(0)).alias("n_selected"),
            F.round(F.coalesce("n_selected", F.lit(0)) / F.col("n_docs"), 6).alias("realized_rate"),
        )
    )


def split_expr(id_col: str | Column = "doc_id",
               fractions: dict[str, float] | None = None,
               seed: int = 13) -> Column:
    """Expression form of :func:`split_assign` (embeddable in single-scan
    pipelines). Cumulative integer thresholds over md5(id) % 10000 in
    sorted-name band order; no float arithmetic in the plan."""
    from .dedup import _md5_long

    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.pmod(_md5_long(col.cast("string"), seed), F.lit(10_000))
    expr = None
    acc = 0
    for name in sorted(fractions):
        acc += int(round(fractions[name] * 10_000))
        cond = h < F.lit(min(acc, 10_000))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # rounding guard: anything past the last threshold lands in the last band
    return expr.otherwise(F.lit(sorted(fractions)[-1]))


def split_assign(df: DataFrame, fractions: dict[str, float] | None = None,
                 seed: int = 13, id_col: str = "doc_id") -> DataFrame:
    """Deterministic train/val/test split assignment — the dataset-freeze
    stage. Each document's split comes from a content-stable hash band of
    its id (md5 % 10000 against cumulative integer thresholds): NO rand(),
    so every re-run, retry and engine reproduces the identical split, and
    membership is decidable per-row (a new document joins its split without
    touching the others — rand()-based splits reshuffle everything).

    ``fractions`` maps split name → fraction (must sum to 1); bands are
    assigned in sorted-name order so the mapping is unambiguous. Per-row
    expression, no shuffle."""
    return df.select(id_col, split_expr(id_col, fractions, seed).alias("split"))


def token_quantiles_by_group(df: DataFrame, group_col: str = "lang",
                             text_col: str = "text",
                             quantiles: tuple[float, ...] = (0.25, 0.5, 0.75)) -> DataFrame:
    """Corpus statistics: exact token-count quantiles per group (language,
    source, ...) — the length-distribution table that drives chunk-size and
    packing decisions. One scan: tokenize is a narrow projection, the
    percentile aggregate is a single partial+final hash agg on the group
    key."""
    base = df.select(group_col, F.size(tokens(text_col)).alias("_n_tok"))
    qlist = ", ".join(repr(float(q)) for q in quantiles)
    arr = F.expr(f"percentile(_n_tok, array({qlist}))")
    return base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.round(F.element_at(arr, i + 1), 6).alias(f"q{int(q * 100):02d}")
            for i, q in enumerate(quantiles)
        ],
    )


def tfidf_topk(df: DataFrame, k: int = 5, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF — the classic
    keyword/feature-extraction stage (topic tagging, index terms, cluster
    labeling).

    Plan shape: ONE explode pass → tf agg shuffled on (doc, term); document
    frequency comes from a count window PARTITIONed BY term over that same
    tf intermediate — NOT a dfreq-side join, which would evaluate the
    explode+agg subtree twice (Spark has no automatic common-subtree reuse
    across join inputs). The corpus size is a 1-row broadcast (count-only
    parquet scan — statistics, no columns). idf = ln((N+1)/(df+1))
    (smoothed, never negative-infinite); the per-doc top-k runs over the
    O(docs × distinct-terms) intermediate with rank ties pinned on the
    ROUNDED score then the term string, so float last-ulp noise can't
    reorder across engines."""
    from pyspark.sql import Window

    tok_rows = repartition_for_compute(df, id_col).select(
        id_col, F.explode(tokens(text_col)).alias("term")
    )
    tf = tok_rows.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    doc_freq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    scored = (
        tf.crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            "tf",
            doc_freq.alias("doc_freq"),
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1) / (doc_freq + 1)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
    )


#: Gopher-style rule thresholds (Rae et al. 2021, arXiv:2112.11446 §A1.1 —
#: public paper; values adapted to the synthetic corpus so every rule has
#: both passing and failing documents).
GOPHER_RULES = {
    "min_words": 25,
    "max_words": 80,
    "min_mean_word_len": 3.5,
    "max_mean_word_len": 5.0,
    "max_dup_shingle_ratio": 0.05,
    "min_stopword_hits": 2,
}


def gopher_features(text_col: str | Column = "text",
                    rules: dict | None = None) -> dict[str, Column]:
    """Expression form of the Gopher rules — an ordered dict of named
    Columns (features, per-rule booleans, conjunctive ``keep``) so other
    single-scan pipelines can embed the rules without a join back to
    :func:`gopher_quality_filter`'s projection."""
    r = {**GOPHER_RULES, **(rules or {})}
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(text)
    n_words = F.size(toks)
    n_words_nz = F.nullif(n_words, F.lit(0))
    mean_wl = F.length(F.regexp_replace(text, "\\s+", "")) / n_words_nz
    total_sh = F.greatest(n_words - 2, F.lit(1))
    dup_ratio = F.lit(1) - F.size(shingles(text, 3)) / total_sh.cast("double")
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))

    flag_words = n_words.between(r["min_words"], r["max_words"])
    flag_wl = F.coalesce(
        mean_wl.between(r["min_mean_word_len"], r["max_mean_word_len"]), F.lit(False)
    )
    flag_dup = dup_ratio <= r["max_dup_shingle_ratio"]
    flag_stop = stop_hits >= r["min_stopword_hits"]
    return {
        "n_words": n_words,
        "mean_word_len": F.round(mean_wl, 6),
        "dup_shingle_ratio": F.round(dup_ratio, 6),
        "stopword_hits": stop_hits,
        "ok_word_count": flag_words,
        "ok_word_len": flag_wl,
        "ok_repetition": flag_dup,
        "ok_stopwords": flag_stop,
        "keep": flag_words & flag_wl & flag_dup & flag_stop,
    }


def gopher_quality_filter(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          rules: dict | None = None) -> DataFrame:
    """Rule-based document quality filter (the Gopher-rules family): word
    count bounds, mean-word-length bounds, duplicate-n-gram cap, minimum
    stopword evidence. Emits one row per document with the measured
    features, each rule's boolean verdict, and the conjunctive ``keep`` —
    the auditable shape (curation pipelines log WHY a doc was dropped, not
    just that it was).

    One narrow codegen projection — no shuffle, no Python; at 100 TB this
    runs at parquet-scan speed and the keep flag prunes before any
    downstream shuffle."""
    feats = gopher_features(text_col, rules)
    return df.select(id_col, *[c.alias(n) for n, c in feats.items()])


def _div_half_away(n: Column, d) -> Column:
    """Exact half-away-from-zero integer division for a NON-NEGATIVE long
    numerator: (2n + d) div (2d), with no float anywhere — pmod makes the
    numerator an exact multiple of the divisor and the division runs in
    decimal(38,0), so the result is exact for the FULL long range (a
    double-division formulation loses integer exactness past 2^53, which
    standardized-feature dot products here do exceed)."""
    d = F.lit(d) if isinstance(d, int) else d
    num = F.lit(2) * n + d
    den = F.lit(2) * d
    exact = (num - F.pmod(num, den)).cast("decimal(38,0)")
    return (exact / den.cast("decimal(38,0)")).cast("long")


def _sdiv_half_away(n: Column, d) -> Column:
    """Signed half-away integer division (d > 0). Sign folds out first so
    the decimal-division subtree appears ONCE (the dual-branch form
    duplicated it and, nested through σ/z expressions, ballooned plan
    analysis — the distill expression-blowup lesson)."""
    sgn = F.when(n < 0, F.lit(-1)).otherwise(F.lit(1))
    return sgn * _div_half_away(F.abs(n), d)


def _pydiv_half_away(n: int, d: int) -> int:
    """Python twin of the SQL half-away division — driver-side weight
    updates must replay bit-identically in the oracle."""
    if n >= 0:
        return (2 * n + d) // (2 * d)
    return -((-2 * n + d) // (2 * d))


def _distill_feature_cols(text_col: str) -> tuple[Column, Column, Column, Column]:
    """The distilled filter's 4 integer-micro-unit feature expressions
    (shared by the trainer and the frozen-model scorer): word count,
    mean word length, capped stopword hits, distance from the Gopher
    word-count band center. NONE requires the rule filter's shingle pass
    — that is the whole point of distillation at inference time."""
    toks = tokens(text_col)
    n_words = F.size(toks)
    chars = F.length(F.regexp_replace(F.col(text_col), "\\s+", ""))
    stop_hits = gopher_features(text_col)["stopword_hits"]
    f1u = (n_words.cast("long") * F.lit(10_000)).alias("f1u")  # n_words/100
    f2u = F.when(
        n_words > 0, _div_half_away(chars.cast("long") * F.lit(100_000), n_words.cast("long"))
    ).otherwise(F.lit(0)).alias("f2u")                          # mean_word_len/10
    # the stopword rule thresholds the raw HIT COUNT (>= 2), so feed the
    # capped count, not the length-normalized fraction: min(hits, 6)/6
    f3u = _div_half_away(
        F.least(stop_hits.cast("long"), F.lit(6)) * F.lit(1_000_000), F.lit(6)
    ).alias("f3u")
    # the Gopher word-count rule is a BAND (25..80) — linearly inseparable
    # from the raw count, so distill its shape as distance-from-band-center
    # (|n_words - 52.5| / 100): small inside the band, large outside
    f4u = F.abs(n_words.cast("long") * F.lit(10_000) - F.lit(525_000)).alias("f4u")
    return f1u, f2u, f3u, f4u


def distill_score(df: DataFrame, weights_u: "list[int]", means_u: "list[int]",
                  sds_u: "list[int]", text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Score documents with a FROZEN distilled quality model — the
    inference half of :func:`distill_quality_classifier` (which returns
    the trained weights; a production pipeline trains once, freezes the
    model, and scores every ingest batch with THIS operator).

    ``weights_u`` = 5 integer 1e-6-unit weights (bias first),
    ``means_u``/``sds_u`` = the 4 per-feature standardization constants
    from training (1e-6-unit means, integer sds). All arithmetic stays on
    the trainer's exact integer grids (half-away division, rational
    squashing σ(z) = 1/2 + z/(2(1+|z|))), so a DuckDB replay of the same
    constants is bit-identical.

    Scale shape: ONE narrow projection over the corpus — no shuffle, no
    aggregate, no shingle pass (the features deliberately exclude the
    rule filter's dup-ratio) — the cheapest possible per-document scorer.

    Output: (id, z double, score double, keep boolean), score = σ(z).
    """
    if len(weights_u) != 5 or len(means_u) != 4 or len(sds_u) != 4:
        raise ValueError("distill_score: expected 5 weights, 4 means, 4 sds")
    if any(s <= 0 for s in sds_u):
        raise ValueError("distill_score: sds must be positive integers")
    U = 1_000_000
    fcols = _distill_feature_cols(text_col)
    xs = [
        _sdiv_half_away((fc - F.lit(int(means_u[j])).cast("long")) * F.lit(U),
                        F.lit(int(sds_u[j])))
        for j, fc in enumerate(fcols)
    ]
    zu12 = F.lit(int(weights_u[0])).cast("long") * F.lit(U).cast("long")
    for j, x in enumerate(xs):
        zu12 = zu12 + F.lit(int(weights_u[j + 1])).cast("long") * x
    z_expr = _sdiv_half_away(zu12, U)
    zu = F.col("_zu")
    pu = F.lit(U // 2) + _sdiv_half_away(
        F.lit(U) * zu, F.lit(2) * (F.lit(U) + F.abs(zu))
    )
    return (
        df.select(id_col, z_expr.alias("_zu"))
        .select(
            id_col,
            (zu / U).alias("z"),
            (pu / U).alias("score"),
            (zu >= 0).alias("keep"),
        )
    )


def distill_quality_classifier(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id", n_iter: int = 15,
                               lr2: int = 4) -> DataFrame:
    """Distill the Gopher rule filter into a 4-feature linear model — the
    production curation pattern of replacing an expensive filter with a
    cheap learned scorer (labels = :func:`gopher_features` ``keep``;
    features = word count, mean word length, capped stopword hits, and
    distance from the word-count band center — the last because the
    25..80 band rule is linearly inseparable from the raw count; none
    need the filter's shingle pass at inference time). Reaches ~0.86
    train accuracy vs the 0.54 majority class on the synthetic corpus.

    Full-batch gradient descent (lr = ``lr2``/2) on a quasi-logistic
    loss with the RATIONAL squashing function σ(z) = 1/2 + z/(2(1+|z|))
    — chosen over exp() deliberately: the whole recurrence then runs in
    EXACT integer micro-units (features, standardization, z, σ,
    gradients, weights all on 1e-6 grids; the PageRank/MMR determinism
    rule), so the DuckDB oracle replays training bit-identically with
    zero libm/rounding hazard. Features are STANDARDIZED with exact
    integer mean and floor-isqrt standard deviation (GD on raw scales
    oscillates; floor(sqrt(double)) of an int below 2^52 is provably
    exact — non-square ints sit ≥ 1/(2√v) from any integer, far beyond
    0.5 ulp — so both engines compute the identical sd). PARITY: the
    trainer uses Python ``math.isqrt`` (exact at any magnitude); the
    oracle replays it with an INTEGER isqrt chain (double seed → one
    Newton step → two downward clamps, all HUGEINT after the seed — see
    plans/ext.py:_distill_oracle), exact for variances far past the 2^52
    double bound that FLOOR(SQRT(double)) alone would hit around
    n_words ≈ 6,700 (tests/test_oracle_differential.py pins parity on a
    20k-word corpus and on adversarial near-square variances).

    Scale shape: the integer feature table builds in one narrow pass and
    is persist()-cached; each iteration is ONE map-side-combinable
    aggregate (per-row long products < 2^63, accumulated in
    decimal(38,0) — exact at any corpus size; the oracle divides the
    aggregated gradient in HUGEINT) returning an O(features) row to the
    driver — the same driver-state posture as ``similarity.kmeans_assign``.
    Returns one row per feature: (feature, weight, train_accuracy,
    n_docs, n_keep).
    """
    import math

    U = 1_000_000
    f1u, f2u, f3u, f4u = _distill_feature_cols(text_col)
    y = F.when(gopher_features(text_col)["keep"], F.lit(1)).otherwise(F.lit(0)).alias("y")
    # scoped caches (unpersisted in-function after training), routed
    # through the owned registry so release stays idempotent repo-wide
    from ..cache import owned_persist

    feat = owned_persist(df.select(f1u, f2u, f3u, f4u, y))

    names = ("bias", "n_words_c", "mean_word_len_c", "stop_hits_c", "wc_band_dist")
    fnames = ("f1u", "f2u", "f3u", "f4u")
    w = [0] * len(names)  # 1e-6-unit integer weights, Python-exact

    # STANDARDIZE: exact integer mean m_j and sd_j = max(1, isqrt(E[f²]−m²))
    # in 1e-6 units (variance grid is 1e-12, so its isqrt is back on the
    # 1e-6 grid). One O(1)-row stats pass.
    mrow = feat.agg(
        *[F.sum(F.col(c).cast("decimal(38,0)")).alias(f"s{c}") for c in fnames],
        *[F.sum((F.col(c) * F.col(c)).cast("decimal(38,0)")).alias(f"q{c}") for c in fnames],
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n_all = int(mrow["n"])
    m = [_pydiv_half_away(int(mrow[f"s{c}"]), n_all) for c in fnames]
    sd = [
        max(1, math.isqrt(max(0, _pydiv_half_away(int(mrow[f"q{c}"]), n_all) - m[j] * m[j])))
        for j, c in enumerate(fnames)
    ]

    # Materialize the standardized table BEHIND A CACHE BARRIER before the
    # loop: the division/σ expressions nest the z subtree several times,
    # so inlining the standardization into every iteration's aggregate
    # blows the expression tree up combinatorially (measured: ~14 s of
    # analysis/codegen per iteration vs sub-second with the barrier).
    # Standardization is iteration-invariant, so this is also the right
    # work shape: one narrow pass, then 15 tiny aggregates over longs.
    xnames = ("x1u", "x2u", "x3u", "x4u")
    xfeat = owned_persist(feat.select(
        *[
            _sdiv_half_away(
                (F.col(c) - F.lit(m[j]).cast("long")) * F.lit(U), F.lit(sd[j])
            ).alias(xnames[j])
            for j, c in enumerate(fnames)
        ],
        "y",
    ))

    def x_cols() -> list[Column]:
        return [F.lit(U).cast("long")] + [F.col(c) for c in xnames]

    def z_col() -> Column:
        # weight literals MUST be long: int×int literals stay 32-bit under
        # ANSI mode and 1e-6-unit weights × 1e6-unit features overflow
        xs = x_cols()
        zu12 = F.lit(w[0]).cast("long") * xs[0]
        for j in range(1, len(xs)):
            zu12 = zu12 + F.lit(w[j]).cast("long") * xs[j]
        return _sdiv_half_away(zu12, U)

    for _ in range(n_iter):
        zu = z_col()
        pu = F.lit(U // 2) + _sdiv_half_away(
            F.lit(U) * zu, F.lit(2) * (F.lit(U) + F.abs(zu))
        )
        err = pu - F.col("y") * F.lit(U)
        fcols = x_cols()
        row = (
            xfeat.select(*[(fc * err).cast("decimal(38,0)").alias(f"t{j}")
                          for j, fc in enumerate(fcols)])
            .agg(
                *[F.sum(f"t{j}").alias(f"g{j}") for j in range(len(fcols))],
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        n = row["n"]
        for j in range(len(fcols)):
            # w_j -= round(lr2 * g_j / (2 n U)): lr = lr2/2, integer-exact
            w[j] -= _pydiv_half_away(lr2 * int(row[f"g{j}"]), 2 * n * U)

    zu = z_col()
    stats = (
        xfeat.select(
            ((zu >= 0) == (F.col("y") == 1)).cast("long").alias("correct"),
            F.col("y").cast("long").alias("yl"),
        )
        .agg(
            F.sum("correct").alias("n_correct"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("yl").alias("n_keep"),
        )
        .collect()[0]
    )
    accu = _pydiv_half_away(int(stats["n_correct"]) * U, int(stats["n_docs"]))
    # every result is now driver-side (weights, accuracy, counts), so both
    # training caches can be released before returning — without this a
    # long-lived session accumulates cached blocks per invocation
    xfeat.unpersist()
    feat.unpersist()
    spark = df.sparkSession
    out = spark.createDataFrame(
        [(nm, w[j] / U, accu / U, stats["n_docs"], stats["n_keep"])
         for j, nm in enumerate(names)],
        "feature string, weight double, train_accuracy double, n_docs long, n_keep long",
    )
    return out


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as strings ('w1 w2 w3'), distinct per doc.

    Array-valued form (higher-order functions — convenient but interpreted);
    for the hot dedup paths use ``shingle_rows`` which produces the same
    strings through codegen-friendly window functions.
    """
    toks = tokens(text)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def shingle_rows(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 n: int = 3, distinct: bool = True,
                 with_count: bool = False) -> DataFrame:
    """Exploded (id, shingle) rows — the scale path for dedup pipelines.

    Shingles come from a ``transform`` over the token array (element_at
    windows) exploded to rows: a NARROW pass — no shuffle, no sort. The
    earlier window/lead() formulation shuffled and sorted the whole token
    stream per doc id before codegen'd concat; measured at sf0.1 the
    sort-free higher-order form is ~20% faster and at 100 TB it removes an
    O(corpus) shuffle+sort entirely. Output strings are identical to
    ``shingles``. Input is spread across cores via
    ``repartition_for_compute`` — a shuffle only when the source has too few
    partitions to keep the CPU-heavy hashing busy; at scale it's a no-op.

    ``with_count=True`` adds an ``n_raw`` column — the doc's DISTINCT
    shingle count, computed in the same narrow pass (``_let``-bound so the
    window array builds once) and riding every exploded row as one long.
    Consumers that need per-doc set sizes downstream of a shingle groupBy
    (ngram Jaccard) read them off the rows they already shuffle instead of
    re-aggregating the corpus per doc.
    """
    base = repartition_for_compute(df, id_col).select(
        id_col, tokens(text_col).alias("tk")
    )
    # windows as ONE SQL string (r14 optimization round, see tokens_sql):
    # same element_at/concat_ws expressions, no per-node py4j construction.
    grams = ", ".join(f"element_at(tk, i + {j + 1})" for j in range(n))
    windows = F.expr(
        f"case when size(tk) >= {n} then"
        f" transform(sequence(0, size(tk) - {n}), i -> concat_ws(' ', {grams}))"
        " else array(concat_ws(' ', tk)) end"
    )
    if with_count:
        payload = _let(
            windows,
            lambda w: F.struct(
                F.size(F.array_distinct(w)).alias("n_raw"), w.alias("ws")
            ),
        )
        out = base.select(id_col, payload.alias("_p")).select(
            id_col,
            F.col("_p.n_raw").alias("n_raw"),
            F.explode("_p.ws").alias("shingle"),
        )
        return out.distinct() if distinct else out
    out = base.select(id_col, F.explode(windows).alias("shingle"))
    return out.distinct() if distinct else out


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                n: int = 3, selector_prefix: str = "0") -> DataFrame:
    """Document fingerprinting (winnowing-lite): hash every word n-gram
    shingle, keep the deterministic ~1/16 sample whose md5 starts with
    ``selector_prefix``; summarize as (count, min, max) per doc so the
    output is order-insensitive and scale-independent."""
    # distinct=False: the per-(id,shingle) dedup folds into count(DISTINCT h)
    # in the final agg (min/max are dup-insensitive) — one shuffle, not two
    sh = shingle_rows(df, text_col, id_col, n, distinct=False)
    hashed = sh.select(id_col, F.md5("shingle").alias("h"))
    selected = hashed.filter(F.substring("h", 1, len(selector_prefix)) == selector_prefix)
    return selected.groupBy(id_col).agg(
        F.count_distinct(F.col("h")).alias("n_fingerprints"),
        F.min("h").alias("min_fingerprint"),
        F.max("h").alias("max_fingerprint"),
    )


def _let(value: Column, body) -> Column:
    """Expression-level let-binding: evaluate ``value`` ONCE, bind it as a
    higher-order-function lambda variable, and build ``body`` over it —
    ``element_at(transform(array(value), v -> body(v)), 1)``.

    Why this exists: referencing a non-trivial expression N times in a
    projection re-evaluates it N times, and hiding it behind a separate
    ``select`` is NOT safe — Catalyst's CollapseProject merges stacked
    projections and re-inlines the alias into every reference (measured on
    the winnowing kernel: the collapsed form re-ran an O(n) array build per
    element access, 22 s vs 1.8 s at sf0.1). A lambda variable is the one
    expression-level binder the optimizer never substitutes through."""
    return F.element_at(F.transform(F.array(value), body), 1)


#: 30-bit split point and packing base for the winnowing k-gram hash
_W_HALF = 1 << 30

_SQL_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def sql_ident(name: str) -> str:
    """Validate a caller-supplied column name before interpolating it
    into an ``F.expr`` SQL string (r15, r14 ADVICE): the r14 SQL-string
    builders splice ``text_col``/``id_col`` unquoted, so a name needing
    backticks (dots, spaces, hyphens) — which the previous Column-API
    form handled — would mis-parse or mis-resolve silently. Every
    internal caller passes plain identifiers; anything else fails loudly
    here instead."""
    if not _SQL_IDENT.fullmatch(name):
        raise ValueError(
            f"column name {name!r} is not a plain SQL identifier; the "
            "SQL-string kernels require [A-Za-z_][A-Za-z0-9_]* names "
            "(rename the column before calling)"
        )
    return name


def tokens_sql(text_sql: str) -> str:
    """SQL-string form of :func:`tokens` (r14 optimization round: the hot
    dedup/winnowing expression trees are built as single SQL strings
    parsed JVM-side — the Column-API construction paid one py4j round
    trip per operator node, measured at 0.4-0.8 s of driver time per
    query build; resolved expressions and values are identical)."""
    return f"filter(split(trim({text_sql}), '\\\\s+'), t -> t != '')"


def token_hash_array_sql(toks_sql: str) -> str:
    """Per-token 60-bit portable hash array: each token md5'd once, first
    15 hex chars as a long — the shared base of every k-gram hash (the
    winnowing fingerprints and the exact substring-run dedup). An ANSI
    oracle reproduces it as CAST(concat('0x', substr(md5(t),1,15)) AS
    BIGINT). SQL-string builder (see :func:`tokens_sql`)."""
    return (f"transform({toks_sql}, t ->"
            " cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))")


def kgram_hash_array_sql(th: str, k: int) -> str:
    """62-bit k-gram hash array from a token-hash array: two independent
    Carter-Wegman combinations of the tokens' 30-bit halves
    ((Σ_j a_j·lo_j + b_j·hi_j) mod 2^31−1, coefficients from
    ``dedup.mh_params``), packed into one long. Combining precomputed
    token hashes is pure long arithmetic — the hash-of-concat form
    rebuilt a k-token string per position and dominated the winnowing
    operator (~2.4 s of 3.3 s at sf0.1). Each term is < 2^16·2^31 < 2^47,
    so the unreduced k-term sum stays under the long range for k ≤ 2^15
    (k·2^47 < 2^63); both combines are expressible in ANSI SQL on the
    same md5, so DuckDB oracles replay them exactly.

    ``th`` is the NAME (column or lambda variable) of the token-hash
    array; SQL-string builder (see :func:`tokens_sql`). The guard keeps
    sequence(1, 0) from DESCENDING — [] for short docs."""
    from .dedup import MH_P, mh_params

    prm = mh_params(2 * k)
    co1, co2 = prm[:k], prm[k:]
    n_kg = f"greatest(size({th}) - {k - 1}, 0)"

    def poly(coefs):
        terms = " + ".join(
            f"({a} * (element_at({th}, i + {j}) % {_W_HALF})"
            f" + {b} * shiftright(element_at({th}, i + {j}), 30))"
            for j, (a, b) in enumerate(coefs)
        )
        return f"(({terms}) % {MH_P})"

    return (
        f"case when {n_kg} >= 1 then transform(sequence(1, {n_kg}),"
        f" i -> {poly(co1)} * {1 << 31} + {poly(co2)})"
        " else cast(array() as array<bigint>) end"
    )


def winnow_select(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  k: int = 4, w: int = 5) -> DataFrame:
    """Shared winnowing selection core: per doc, the distinct window-min
    fingerprints as ``struct<h:bigint, p:bigint>`` (62-bit k-gram hash,
    0-based leftmost selected position) plus k-gram/window counts —
    entirely narrow (array math, no shuffle). Consumed by
    :func:`winnowing_stats` and ``ext.dedup.winnowing_pairs``.

    K-gram hashing is tokenize-hash-combine, not hash-of-concat: each
    token is md5'd ONCE into a 60-bit value, and every k-gram hash is two
    independent Carter-Wegman combinations of its tokens' 30-bit halves
    ((Σ_j a_j·lo_j + b_j·hi_j) mod 2^31−1, coefficients from
    ``dedup.mh_params`` — the MinHash family), packed into 62 bits. The
    previous form (md5 of the concatenated k tokens per position) built a
    k-token string per position; the rebuilt string dominated the whole
    operator (~2.4 s of 3.3 s at sf0.1 — md5 itself was only ~0.3 s).
    Combining precomputed token hashes is pure long arithmetic: measured
    1.8 s vs 3.3 s, same zero-shuffle plan. Each term is < 2^16·2^30 so
    k ≤ 2^17 never overflows a long; both combines are expressible in
    ANSI SQL on the same md5, so the DuckDB oracle replays them exactly.

    Window selection stays exact winnowing: per window of ``w`` k-gram
    hashes, the minimum with LEFTMOST tie-break — ``array_min`` over a
    long slice plus ``array_position`` for the position, both bound via
    :func:`_let` so the slice and its min evaluate once per window.
    """
    # spread the O(n·w) per-doc kernel: a 600 KB local parquet is ONE scan
    # partition, which would serialize the whole corpus onto one core; at
    # real scale the probe sees enough partitions and this is a no-op
    df = repartition_for_compute(df, id_col)
    toks = tokens(text_col)
    n_tok = F.size(toks)

    # the whole selection kernel as ONE SQL string (r14 optimization
    # round, see tokens_sql): identical let-binders (lambda variables) and
    # struct shapes as the previous Column-API form, built without its
    # per-node py4j construction cost.
    empty = "cast(array() as array<struct<h:bigint,p:bigint>>)"
    n_win = f"greatest(size(hs) - {w - 1}, 0)"
    window_mins = (
        f"case when {n_win} >= 1 then transform(sequence(1, {n_win}), j ->"
        f" element_at(transform(array(slice(hs, j, {w})), sl ->"
        " element_at(transform(array(array_min(sl)), mn ->"
        " named_struct('h', mn, 'p',"
        " cast(j - 2 + array_position(sl, mn) as bigint))), 1)), 1))"
        f" else {empty} end"
    )
    fps = F.expr(
        "element_at(transform(array("
        + token_hash_array_sql(tokens_sql(sql_ident(text_col)))
        + "), th -> element_at(transform(array("
        + kgram_hash_array_sql("th", k)
        + f"), hs -> array_distinct({window_mins})), 1)), 1)"
    )
    return df.select(
        id_col,
        F.greatest(n_tok - F.lit(k - 1), F.lit(0)).cast("long").alias("n_kgrams"),
        F.greatest(n_tok - F.lit(k + w - 2), F.lit(0)).cast("long").alias("n_windows"),
        fps.alias("fps"),
    )


def winnowing_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    k: int = 4, w: int = 5) -> DataFrame:
    """True winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS scheme; :func:`fingerprint` is the cheaper
    mod-p "0-prefix" sampler, this is the guaranteed-coverage one): hash
    every k-token gram, then from every window of ``w`` consecutive
    k-grams record the minimum hash. Guarantee: any shared substring of
    ≥ w+k-1 tokens yields at least one shared fingerprint; expected
    density 2/(w+1).

    ENTIRELY narrow — per-doc windows are array slices over the k-gram
    hash array (O(n·w) long compares, w is small), so there is no shuffle
    at all before the output projection; at 100 TB this is a pure map
    stage. Selection and hashing are documented on :func:`winnow_select`;
    a fingerprint's identity is the (hash, leftmost-position) pair, with
    struct ordering = (h, p) lexicographic — identical in ANSI SQL.
    Returns per doc: n_kgrams, n_windows, n_fingerprints (distinct
    selected), density, and the min/max fingerprint's h/p fields.
    """
    sel = winnow_select(df, text_col, id_col, k, w)
    return sel.select(
        id_col,
        "n_kgrams",
        "n_windows",
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.when(
            F.col("n_windows") > 0, F.round(F.size("fps") / F.col("n_windows"), 6)
        ).alias("density"),
        F.array_min("fps").getField("h").alias("min_fp_h"),
        F.array_min("fps").getField("p").alias("min_fp_p"),
        F.array_max("fps").getField("h").alias("max_fp_h"),
        F.array_max("fps").getField("p").alias("max_fp_p"),
    )


def bigram_logprob(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   lam: float = 0.5, min_logprob: float = -9.0) -> DataFrame:
    """Interpolated bigram-LM mean log-probability — the KenLM-style
    upgrade of :func:`unigram_logprob`: score each transition with
    ln(λ·P(w|prev) + (1−λ)·P(w)), probabilities from corpus-wide counts
    (P(w|prev) = c(prev,w)/c(prev,·), P(w) = cf/N). Repetitive boilerplate
    scores HIGH (its transitions dominate the corpus), incoherent word
    salad scores low — the classic cheap perplexity proxy.

    ONE corpus scan: a narrow per-doc pass emits (prev, w) transition
    structs — the first token gets a NULL-prev sentinel so every token
    occurs exactly once as ``w`` — folded to a per-doc transition tf
    table which is persist()-cached; unigram counts, bigram counts,
    prefix totals, and the scoring join are ALL derived from that cache
    (mirrors unigram_logprob's tokenize-once posture; λ=0.5 is exact in
    binary so the interpolation adds no float-parity hazard beyond the
    ln both engines already share). fsum-quantized fold, order-
    independent. Returns (doc_id, n_bigrams, avg_logprob, keep).
    """
    from ..functions.exact import fsum_units

    # _let-bind the token array (r9): the transition transform references
    # it at 3+ element_at sites, and an unbound reference re-inlines the
    # O(n) split per site (the winnowing lesson); also spread the build
    # across cores — the LM table build was running on the source's
    # single partition and dominated the benched cost (solo probe:
    # 6.9 s drained vs 1.0 s warm; the build IS the cost).
    # the transition builder as ONE SQL string (r14 optimization round,
    # see tokens_sql): same let-binder, sentinel and struct shapes as the
    # previous Column-API form, without its per-node py4j construction.
    empty = "cast(array() as array<struct<prev:string,w:string>>)"
    sentinel = ("array(named_struct('prev', cast(null as string),"
                " 'w', element_at(tk, 1)))")
    rest = (
        "case when size(tk) >= 2 then transform(sequence(2, size(tk)),"
        " i -> named_struct('prev', element_at(tk, i - 1),"
        " 'w', element_at(tk, i)))"
        f" else {empty} end"
    )
    pairs = F.expr(
        "element_at(transform(array(" + tokens_sql(sql_ident(text_col)) + "), tk -> "
        f"case when size(tk) >= 1 then concat({sentinel}, {rest})"
        f" else {empty} end), 1)"
    )
    # OWNED CACHE (same contract as temperature_mixture's counts): the
    # returned frame evaluates t lazily, so it cannot be unpersisted
    # here; the cache.py registry releases it between queries.
    from ..cache import owned_persist

    t = owned_persist(
        repartition_for_compute(df, id_col)
        .select(id_col, F.explode(pairs).alias("p"))
        .select(id_col, "p.prev", "p.w")
        .groupBy(id_col, "prev", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    uni = t.groupBy("w").agg(F.sum("tf").alias("cf"))
    n_total = uni.agg(F.sum("cf").alias("n_total"))
    tb = t.filter(F.col("prev").isNotNull())
    bc = tb.groupBy("prev", "w").agg(F.sum("tf").alias("bc"))
    pc = bc.groupBy("prev").agg(F.sum("bc").alias("pc"))
    scored = (
        tb.join(bc, ["prev", "w"])
        .join(pc, "prev")
        .join(uni, "w")
        .crossJoin(F.broadcast(n_total))  # 1-row scalar
        .select(
            id_col,
            "tf",
            (
                F.col("tf")
                * F.log(
                    F.lit(lam) * F.col("bc") / F.col("pc")
                    + F.lit(1.0 - lam) * F.col("cf") / F.col("n_total")
                )
            ).alias("wlp"),
        )
    )
    # integer-unit mean + threshold — same boundary-safe shape as
    # unigram_logprob (a quantized fold / integer count lands exactly on
    # .5 display boundaries; found live at sf0.1, doc 1714)
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            fsum_units("wlp", 6).cast("long").alias("_su"),
        )
        .select(
            id_col,
            "n_bigrams",
            (_sdiv_half_away(F.col("_su"), F.col("n_bigrams")) / F.lit(1_000_000.0)).alias("avg_logprob"),
            (F.col("_su") >= F.lit(int(round(min_logprob * 1_000_000))) * F.col("n_bigrams")).alias("keep"),
        )
    )


def token_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  min_entropy: float = 1.5) -> DataFrame:
    """Per-document token-distribution Shannon entropy — the vocabulary-
    diversity filter (low entropy = repetitive boilerplate/keyword spam;
    a uniform-vocabulary doc scores ln(n_distinct)).

    Uses H = ln(n) − (Σ tf·ln tf)/n, so the whole statistic folds in ONE
    groupBy over the (doc, token) counts — no join back to a totals
    table. The Σ tf·ln tf term has unbounded fractional digits, so it
    goes through the deterministic quantized fsum fold (same posture as
    unigram_logprob's tf·ln(cf/N)). Returns
    (doc_id, n_tokens, n_distinct, entropy, keep = entropy ≥ threshold,
    keep compared on the rounded value both engines).
    """
    from ..functions.exact import fsum

    tf = (
        df.select(id_col, F.explode(tokens(text_col)).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    per_doc = tf.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        fsum(F.col("tf") * F.log("tf"), 6).alias("_s"),
    )
    ent = F.round(F.log("n_tokens") - F.col("_s") / F.col("n_tokens"), 6)
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_distinct",
        ent.alias("entropy"),
        (ent >= min_entropy).alias("keep"),
    )


def stratified_sample(df: DataFrame, strata_col: str = "lang",
                      id_col: str = "doc_id", quota: int = 50,
                      salt: int = 17) -> DataFrame:
    """Exact per-stratum quota sample: the ``quota`` documents with the
    smallest salted-hash rank within each stratum — deterministic (same
    salt → same sample), uniform within the stratum, and stable under
    corpus growth only for surviving members (a new doc displaces at most
    one old pick).

    Portable form: row_number over (hash, id) per stratum. The window
    sorts each stratum once; at extreme stratum sizes, pre-filter with a
    hash threshold ≈ quota/|stratum| (a cheap scan) before ranking so the
    sort input is O(quota), not O(stratum).
    """
    from pyspark.sql import Window

    key = F.md5(F.concat_ws("|", F.col(id_col).cast("string"), F.lit(str(salt))))
    w = Window.partitionBy(strata_col).orderBy("sample_key", id_col)
    return (
        df.select(strata_col, id_col, key.alias("sample_key"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= quota)
        .select(strata_col, id_col, F.col("rn").cast("int").alias("rn"))
    )


def bm25_topk(df: DataFrame, query_terms: Sequence[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 top-k retrieval (Robertson/Lucene form) — the sparse-
    retrieval half of a RAG / curation search stack, and the standard
    lexical baseline every dense index is evaluated against.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln( (N − df + 0.5)/(df + 0.5) + 1 )  (always positive).

    Plan shape (100 TB posture):
    - ONE corpus tokenize pass (r10 — it was two: the stats fold used to
      re-tokenize the raw frame) produces the persisted narrow projection
      (id, dl, query-term tokens): dl one int, qt a ≤|query|-element
      array (empty for most docs), so the cache is O(corpus rows) of
      ~tens of bytes, not text. Both consumers read it — the postings
      branch (tokens filtered to the query terms BEFORE the
      explode/groupBy, so the tf intermediate is O(matching docs ×
      |query|), never O(corpus tokens); zero-hit docs score 0 and are
      skipped by construction) and the N/avgdl scalar fold (dl is
      integral, so sum/count is exact — no fsum needed; identical values
      to the former raw-frame fold). At production scale dl comes from a
      precomputed stats column / the maintained term-stats view
      (``bm25_topk_from_stats``) and the fold disappears entirely.
    - df(t) is a count window PARTITIONed BY term over the tf
      intermediate — NOT a dfreq-side join, which would evaluate the
      tokenize+agg subtree twice (same reasoning as tfidf_topk).
    - The per-doc fold of ≤|query| summands goes through the quantized
      fsum path so Spark's and the oracle's fold orders can't diverge;
      the global top-k is TakeOrderedAndProject with ties pinned on the
      rounded score then id.
    """
    from pyspark.sql import Window

    from ..cache import owned_persist
    from ..functions.exact import fsum

    terms = sorted(set(query_terms))
    qarr = F.array(*[F.lit(t) for t in terms])
    base = repartition_for_compute(df, id_col)
    proj = owned_persist(base.select(
        id_col,
        F.size(tokens(text_col)).alias("dl"),
        F.filter(tokens(text_col), lambda t: F.array_contains(qarr, t)).alias("qt"),
    ))
    stats = proj.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        proj.filter(F.size("qt") > 0)
        .select(id_col, "dl", F.explode("qt").alias("w"))
        .groupBy(id_col, "dl", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("w"))
    idf = F.log((F.col("n_docs") - dfreq + 0.5) / (dfreq + 0.5) + 1)
    term_score = idf * (
        F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.crossJoin(F.broadcast(stats))  # 1-row scalar
        .select(id_col, term_score.alias("ts"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.round(fsum("ts", 6), 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def bm25_topk_from_stats(df: DataFrame, stats: DataFrame, n_docs: int,
                         avgdl: float, query_terms: Sequence[str], k: int = 10,
                         k1: float = 1.2, b: float = 0.75,
                         text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BM25 scoring against PRECOMPUTED corpus statistics — the production
    split: term df comes from a maintained (w, cf, df) view (see
    streaming/matview.apply_term_stats_delta) and N/avgdl from stored
    corpus counters, so scoring never re-aggregates the corpus. With the
    view current, results equal :func:`bm25_topk` recomputed from scratch
    (pinned in tests/test_matview.py).

    Plan: one term-filtered postings pass over the documents (same early
    zero-match filter as bm25_topk) joined to the BROADCAST per-term df
    rows — the only corpus-wide work is the scoring scan itself.
    """
    from ..functions.exact import fsum

    terms = sorted(set(query_terms))
    qarr = F.array(*[F.lit(t) for t in terms])
    base = repartition_for_compute(df, id_col)
    tf = (
        base.select(
            id_col,
            F.size(tokens(text_col)).alias("dl"),
            F.filter(tokens(text_col), lambda t: F.array_contains(qarr, t)).alias("qt"),
        )
        .filter(F.size("qt") > 0)
        .select(id_col, "dl", F.explode("qt").alias("w"))
        .groupBy(id_col, "dl", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = stats.filter(F.col("w").isin(terms)).select("w", "df")
    idf = F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    term_score = idf * (
        F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(float(avgdl))))
    )
    return (
        tf.join(F.broadcast(dfreq), "w")
        .select(id_col, term_score.alias("ts"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.round(fsum("ts", 6), 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def zipf_fit(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             top_terms: int = 100) -> DataFrame:
    """Zipf-law diagnostic: least-squares slope of ln(frequency) vs
    ln(rank) over the top-R corpus terms — the classic corpus-health
    statistic (natural language sits near slope −1; templated/synthetic
    or keyword-stuffed corpora flatten or steepen it, so drift across
    snapshots flags generation artifacts before training does).

    Plan shape: term frequencies fold map-side from one exploded pass;
    the top-R selection is TakeOrderedAndProject over the vocabulary
    table (never a full sort — vocabulary can be 1e8+ terms at corpus
    scale); ranks and the five regression moments then live on R rows.
    Moments go through the order-independent DECIMAL fold (ln values
    have unbounded fractional digits — dsumx territory, same posture as
    weather_linear_fit); everything after is scalar double math both
    engines evaluate identically. Ties in the top-R cut and in rank
    assignment are pinned on (freq desc, term asc).

    Returns one row: (n_terms, slope, intercept, pearson_r).
    """
    from pyspark.sql import Window

    from ..functions.exact import dsumx

    cf = (
        repartition_for_compute(df, id_col)
        .select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    top = cf.orderBy(F.desc("cf"), F.asc("w")).limit(top_terms)
    ranked = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("cf"), F.asc("w")))
    )
    pts = ranked.select(F.log("rank").alias("x"), F.log("cf").alias("y"))
    agg = pts.agg(
        dsumx("x").alias("_sx"),
        dsumx("y").alias("_sy"),
        dsumx(F.col("x") * F.col("x")).alias("_sxx"),
        dsumx(F.col("y") * F.col("y")).alias("_syy"),
        dsumx(F.col("x") * F.col("y")).alias("_sxy"),
        F.count(F.lit(1)).alias("n"),
    )
    n, sx, sy = F.col("n"), F.col("_sx"), F.col("_sy")
    sxx, syy, sxy = F.col("_sxx"), F.col("_syy"), F.col("_sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    pearson = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return agg.select(
        n.alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(pearson, 6).alias("pearson_r"),
    )


def source_kl_divergence(df: DataFrame, text_col: str = "text",
                         source_col: str = "source",
                         id_col: str = "doc_id") -> DataFrame:
    """KL(source ‖ corpus) over token distributions — the distribution-
    shift monitor for multi-source corpora (a source whose vocabulary
    drifts from the mixture gets flagged before it skews training).

    KL = Σ_w (tf_s/n_s) · ln( (tf_s·N) / (n_s·cf_w) ), with per-source
    counts tf_s and corpus counts cf both re-aggregated from ONE exploded
    pass: the (source, w) count table is localCheckpoint-MATERIALIZED
    before the cf/n_s/N branches derive from it — Spark re-evaluates a
    shared subtree once per join input (the semdedup/pagerank lesson;
    without the checkpoint this query's executed plan re-tokenized the
    corpus 6× — plan-probed). The per-source totals and the corpus total
    are tiny broadcast sides. The summand has unbounded fractional
    digits, so the fold is the deterministic quantized fsum (same
    posture as unigram_logprob).
    """
    from ..functions.exact import fsum

    sf_counts = (
        df.select(source_col, F.explode(tokens(text_col)).alias("w"))
        .groupBy(source_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    cf = sf_counts.groupBy("w").agg(F.sum("tf").alias("cf"))
    ns = sf_counts.groupBy(source_col).agg(F.sum("tf").alias("n_s"))
    nt = cf.agg(F.sum("cf").alias("n_total"))
    term = (F.col("tf") / F.col("n_s")) * F.log(
        (F.col("tf") * F.col("n_total")) / (F.col("n_s") * F.col("cf"))
    )
    return (
        sf_counts.join(cf, "w")
        .join(F.broadcast(ns), source_col)
        .crossJoin(F.broadcast(nt))
        .select(source_col, term.alias("t"))
        .groupBy(source_col)
        .agg(F.round(fsum("t", 6), 6).alias("kl_div"), F.count(F.lit(1)).alias("n_terms"))
    )


def lang_source_chisq(df: DataFrame, a_col: str = "lang",
                      b_col: str = "source") -> DataFrame:
    """Chi-square independence test between two corpus facets (language ×
    source here) — the mixture-diagnostics staple: a large statistic
    means sources have very different language mixes, so per-source
    sampling decisions interact with language balance.

    One corpus scan folds the contingency table; row/column/grand totals
    come from WINDOW sums over the tiny (L×S)-row counts table — no
    second scan, no joins. The (n−e)²/e cell terms fold through fsum so
    the statistic is order-independent and engine-portable. Returns one
    row: (n_total, n_rows, n_cols, dof, chi2).
    """
    from pyspark.sql import Window

    from ..functions.exact import fsum

    counts = df.groupBy(a_col, b_col).agg(F.count(F.lit(1)).alias("n"))
    # groupBy only yields OBSERVED cells, but a structural zero still
    # contributes (0−e)²/e = e to the statistic — cross the observed
    # margins into the full L×S grid (tiny; broadcast) and fill zeros
    grid = (
        counts.select(a_col).distinct()
        .crossJoin(F.broadcast(counts.select(b_col).distinct()))
        .join(counts, [a_col, b_col], "left")
        .select(a_col, b_col, F.coalesce("n", F.lit(0)).alias("n"))
    )
    r = F.sum("n").over(Window.partitionBy(a_col))
    c = F.sum("n").over(Window.partitionBy(b_col))
    tot = F.sum("n").over(Window.partitionBy())
    cells = grid.select(
        a_col,
        b_col,
        "n",
        r.alias("r"),
        c.alias("c"),
        tot.alias("t"),
    )
    # r and c are long window sums; long*long overflows (ANSI error) once
    # margin products pass ~9.2e18 (~3e9-row margins). Promote to double
    # BEFORE the product — matching the oracle, whose HUGEINT product is
    # divided into a double anyway, so the computed e is identical.
    e = F.col("r").cast("double") * F.col("c") / F.col("t")
    term = (F.col("n") - e) * (F.col("n") - e) / e
    return cells.agg(
        F.max("t").cast("long").alias("n_total"),
        F.count_distinct(F.col(a_col)).alias("n_rows"),
        F.count_distinct(F.col(b_col)).alias("n_cols"),
        (
            (F.count_distinct(F.col(a_col)) - 1)
            * (F.count_distinct(F.col(b_col)) - 1)
        ).alias("dof"),
        F.round(fsum(term, 6), 6).alias("chi2"),
    )
