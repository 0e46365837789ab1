"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Designed for the 100 TB case:

- exact dedup is a hash-groupBy on a fingerprint (one shuffle on md5 —
  uniformly distributed, skew-free);
- MinHash signatures are computed in ONE aggregation over the exploded
  shingle stream (n_hashes mins per doc, map-side partial agg);
- LSH banding turns all-pairs comparison into an equi-join on
  (band_index, band_hash) — the only pairs materialized are same-bucket
  candidates, so cost tracks true-duplicate density instead of n².

Hashing is md5-based (not Spark's xxhash64) so results are portable —
a DuckDB/ANSI oracle can reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import repartition_for_compute, shingle_rows, sql_ident


def _md5_long(col, seed: int) -> F.Column:
    """Portable 60-bit hash: first 15 hex chars of md5(seed|value).

    Mirrors SQL: CAST(concat('0x', substr(md5(seed || '|' || v), 1, 15)) AS BIGINT).
    """
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}|"), col)), 1, 15), 16, 10).cast("long")


#: Carter-Wegman universal-hash family parameters for MinHash: the i-th hash
#: is (A[i]*h1 + B[i]*h2) mod MH_P, with h1/h2 two independent 60-bit halves
#: of ONE md5 of the shingle. One md5 per shingle instead of n_hashes —
#: ~16× less hashing — and still bit-for-bit reproducible in ANSI SQL.
MH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def mh_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs, a,b < 2^16 so a*h + b*h2 < 2^48 (no
    64-bit overflow in any engine)."""
    out = []
    a, b = 40503, 10211
    for _ in range(n_hashes):
        a = (a * 48271 + 12345) % 65521
        b = (b * 69621 + 54321) % 65521
        out.append((a or 1, b))
    return out


def _pairs_from_sorted_ids(ids: str) -> F.Column:
    """All (id_a < id_b) pair structs from a sorted id array — the in-bucket
    pair fan-out shared by the LSH and inverted-index candidate generators.
    Replacing a bucket self-join with this explode computes the (expensive)
    upstream pipeline ONCE instead of once per join side (Spark does not
    reuse the subtree across self-join sides; verified: 0 ReusedExchange).

    ``ids`` is the COLUMN NAME of the sorted array (r14 optimization
    round): the whole nested-lambda tree is built as one SQL string parsed
    JVM-side — the Column-API form issued a py4j round trip per operator
    node, and driver-side construction chatter measured as large as the
    executor time on the pair queries (~3k round trips per build of
    minhash_lsh_pairs). Resolved plan and values are identical.

    Index-pair form, not slice (r15 optimization round, guide §1.2
    per-task work): ``slice(ids, i+2, n)`` copies an O(m) array per
    member — O(m²) element copies per bucket before any pair exists —
    while two nested index ``sequence``s touch members by ``element_at``
    only (A/B on 200k buckets of 2-12 members: 0.44 s → 0.19 s noop,
    byte-identical output). Arrays with fewer than two members yield no
    pairs: ``sequence(1, 0)`` DESCENDS, so without the ``size >= 2``
    guard an empty or singleton array reaches ``element_at(ids, 0)`` and
    fails the whole job. The call-site filters stay, because they also
    apply the upper bucket cap."""
    return F.expr(
        f"CASE WHEN size({ids}) >= 2 THEN "
        f"flatten(transform(sequence(1, size({ids}) - 1), i -> "
        f"transform(sequence(i + 1, size({ids})), j -> "
        f"named_struct('id_a', element_at({ids}, i),"
        f" 'id_b', element_at({ids}, j))))) ELSE array() END"
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per content fingerprint.

    min() aggregation (not row_number) — fully map-side-combinable, no sort.
    Returns (fingerprint, doc_id survivor, n_copies).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n_hashes: int = 16, shingle_n: int = 3) -> DataFrame:
    """MinHash signature per doc: n_hashes columns mh00..mhNN.

    One explode + ONE md5 per shingle (two 60-bit halves feed a
    Carter-Wegman family, see ``mh_params``) + one groupBy: min() per doc is
    a partial-aggregatable single shuffle on doc id.
    """
    # distinct=False: min() is insensitive to shingle multiplicity, so the
    # dedup shuffle would be pure overhead.
    # SQL-string expression construction (r14 optimization round, same
    # rationale as _pairs_from_sorted_ids): the per-hash Column-API loop
    # paid ~6 py4j round trips per aggregate per build; F.expr parses each
    # whole min() JVM-side. Identical resolved expressions and values.
    sh = shingle_rows(df, text_col, id_col, shingle_n, distinct=False)
    hashed = sh.select(
        id_col,
        F.expr("cast(conv(substring(md5(shingle), 1, 15), 16, 10)"
               f" as bigint) % {MH_P}").alias("h1"),
        F.expr("cast(conv(substring(md5(shingle), 16, 15), 16, 10)"
               f" as bigint) % {MH_P}").alias("h2"),
    )
    aggs = [
        F.expr(f"min(({a} * h1 + {b} * h2) % {MH_P})").alias(f"mh{i:02d}")
        for i, (a, b) in enumerate(mh_params(n_hashes))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def band_structs(n_hashes: int, bands: int) -> list[F.Column]:
    """Arithmetic band keys over mh00..mhNN signature columns: fold each
    band's minhashes with mod-chaining ((acc*65537 + mh) % MH_P) — a bigint
    group key (8 bytes in the shuffle vs a 32-char md5 string), identical
    in ANSI SQL. Shared by the batch and row-wise/streaming banding paths.
    Built as SQL strings (r14 optimization round) for the same
    driver-construction reason as _pairs_from_sorted_ids; the resolved
    fold is unchanged."""
    rows_per_band = n_hashes // bands
    out = []
    for b in range(bands):
        names = [f"mh{b * rows_per_band + r:02d}" for r in range(rows_per_band)]
        acc = f"({names[0]} % {MH_P})"
        for c in names[1:]:
            acc = f"(({acc} * 65537 + {c}) % {MH_P})"
        out.append(
            F.expr(f"named_struct('band_idx', {b}, 'band_hash', {acc})")
        )
    return out


def minhash_bands_rowwise(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                          n_hashes: int = 16, bands: int = 4,
                          shingle_n: int = 3) -> DataFrame:
    """Banded MinHash computed entirely with PER-ROW expressions — no
    explode, no groupBy — over the shingle array: the STREAMING-SAFE form
    (an unbounded stream can't run the global groupBy(doc) the batch
    signature pipeline uses). Band hashes are bit-identical to
    ``minhash_lsh_pairs``' banding: min() over the same Carter-Wegman
    family of the same two 60-bit md5 halves, same fold.

    Returns (id, band_idx, band_hash) rows — 'bands' rows per document.
    Batch pipelines should keep the exploded form (map-side partial agg
    spreads one huge document's hashing across tasks; here it is one row).
    """
    from .text import shingles

    sh = shingles(F.col(text_col), shingle_n)
    hs = F.transform(
        sh,
        lambda s: F.struct(
            (F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % MH_P).alias("h1"),
            (F.conv(F.substring(F.md5(s), 16, 15), 16, 10).cast("long") % MH_P).alias("h2"),
        ),
    )
    base = df.select(id_col, hs.alias("_hs"))
    mh_cols = [
        F.array_min(
            F.transform(F.col("_hs"), lambda x: (F.lit(a) * x["h1"] + F.lit(b) * x["h2"]) % MH_P)
        ).alias(f"mh{i:02d}")
        for i, (a, b) in enumerate(mh_params(n_hashes))
    ]
    sig = base.select(id_col, *mh_cols)
    return sig.select(id_col, F.explode(F.array(*band_structs(n_hashes, bands))).alias("band")).select(
        id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_hash").alias("band_hash")
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      n_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
                      max_bucket_size: int = 100_000) -> DataFrame:
    """LSH candidate pairs: band the signature, pair up within buckets.

    Returns distinct (id_a < id_b) candidate pairs with the number of
    bands in which they collide.

    Formulation: ONE aggregation per (band_idx, band_hash) gathers bucket
    members; pairs fan out from the member array (sorted, so id_a < id_b by
    construction). A bucket self-join would evaluate the whole
    shingle→md5→min signature pipeline twice (Spark does not reuse the
    subtree across self-join sides — verified: 0 ReusedExchange) and
    shuffle the banded stream two more times; grouping computes signatures
    once and replaces the join with a narrow explode. Bucket arrays are
    bounded by duplicate-cluster density by construction;
    ``max_bucket_size`` guards the degenerate mass-duplicate case (such
    clusters belong to exact_dedup, and a 100k-member bucket would emit
    5e9 candidate pairs regardless of formulation).
    """
    sig = minhash_signatures(df, text_col, id_col, n_hashes, shingle_n)
    banded = sig.select(id_col, F.explode(F.array(*band_structs(n_hashes, bands))).alias("band")).select(
        id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_hash").alias("band_hash")
    )
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    )
    return (
        buckets.select(F.explode(_pairs_from_sorted_ids("ids")).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_band_collisions"))
    )


def minhash_pairs_from_index(index: DataFrame, max_bucket_size: int = 100_000,
                             batch_ids: DataFrame | None = None,
                             id_col: str = "doc_id") -> DataFrame:
    """:func:`minhash_lsh_pairs` answered from the MAINTAINED LSH-bucket
    view (band_idx, band_hash, ids, over — built incrementally by
    ``streaming.matview.apply_minhash_buckets_delta``): distinct
    (id_a < id_b) candidate pairs with band-collision counts, with NO
    corpus scan and NO signature recomputation — the view's capped
    member sets ARE the detector's buckets. With the view maintained
    over exactly the corpus, output == the one-shot batch detector
    (pytest-pinned, including a bucket that only overflows through the
    cross-batch union).

    ``batch_ids`` (optional, a 1-column frame of ids) restricts the
    output to pairs touching those ids — the per-ingest-batch dedup
    query a deployment runs after applying the batch to the view:
    "which of MY new documents near-duplicate anything in the corpus".
    The restriction filters the AGGREGATED pair output: every in-bucket
    pair, history×history included, is still fanned out and counted
    first, and only then are the pairs without a batch member dropped.

    Plan shape / 100 TB: one pass over the view, in-bucket pair
    fan-out, one pair groupBy — the Σ size² fan-out bound of the batch
    detector minus its corpus scan, shingle hashing, and signature
    exchange. With ``batch_ids``, the pair output then passes through
    two left equi-joins against the distinct batch ids (one per pair
    end; a small id set is broadcast) and one filter — no union, no
    second aggregate."""
    buckets = index.filter(
        (~F.coalesce(F.col("over"), F.lit(False)))
        & (F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size)
    )
    pairs = (
        buckets.select(F.explode(_pairs_from_sorted_ids("ids")).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_band_collisions"))
    )
    if batch_ids is not None:
        # two left EQUI joins marking each pair end that is a batch id,
        # then one filter, NOT one OR-condition join (Spark plans a
        # disjunctive join predicate as a BroadcastNestedLoopJoin —
        # O(pairs × batch) comparisons, which stops being funny when the
        # ingest batch is millions of docs). The ids are distinct, so a
        # left join never duplicates a pair.
        ids = batch_ids.select(batch_ids.columns[0]).distinct()
        in_a, in_b = ids.toDF("_in_a"), ids.toDF("_in_b")
        pairs = (
            pairs.join(in_a, F.col("id_a") == F.col("_in_a"), "left")
            .join(in_b, F.col("id_b") == F.col("_in_b"), "left")
            .filter(F.col("_in_a").isNotNull() | F.col("_in_b").isNotNull())
            .select("id_a", "id_b", "n_band_collisions")
        )
    return pairs


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        shingle_n: int = 3, threshold: float = 0.5,
                        max_shingle_df: int | None = 100_000) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted index.

    shingle-explode → groupBy(shingle) posting lists → in-bucket pair
    fan-out → |A∩B| per pair → Jaccard with |A|,|B| from a per-doc size
    table. Only pairs sharing ≥1 shingle are ever materialized; the group
    key is content-hash distributed. For web-scale corpora, run AFTER
    minhash_lsh_pairs as the verify stage.

    ``max_shingle_df`` caps shingle document frequency: a shingle present
    in k docs yields k² candidate pairs, so one ubiquitous phrase ("of the
    and") makes the plan quadratic in corpus size. Oversize posting lists
    are dropped at the groupBy — before any pair exists — and sizes are
    computed over the same capped universe, so Jaccard stays
    self-consistent (near-dup clusters are ≪ the cap; scores for real
    near-dups are unchanged). None disables the cap.

    Per-doc set sizes are CARRIED, not joined (r9): each exploded shingle
    row carries the doc's raw distinct-shingle count (one long, computed
    map-side — ``shingle_rows(with_count=True)``), posting lists store
    (doc, n_raw) members, and the pair aggregate reads both sizes off the
    rows it already shuffles. The capped size is then
    ``n_raw − n_dropped`` where ``n_dropped`` counts the doc's shingles
    in OVERSIZE posting lists — a table bounded by boilerplate-shingle
    membership, usually empty, LEFT-joined onto the (tiny) pair output.
    The previous form materialized a second owned persist (per-doc sizes
    = explode + groupBy over the whole index) and inner-joined the pair
    stream against that corpus-sized table TWICE; at 100 TB that is a
    per-doc shuffle plus two wide joins, versus 8 extra bytes per
    shuffled gram row here. Output values are identical (same capped
    universe, same ratio), so the DuckDB oracle is unchanged.

    A doc_id arriving in SEVERAL input rows is treated as one document
    whose shingle set is the UNION of the rows' sets (r10): pair counts
    already behave that way (bucket members dedup by id), and a
    usually-empty correction branch replaces the carried per-row n_raw
    with the true capped union size for exactly the duplicated ids.
    """
    # distinct=False + collect_set: per-(id,shingle) dedup folds into the
    # bucket aggregation itself instead of costing a separate shuffle
    sh = shingle_rows(df, text_col, id_col, shingle_n, distinct=False,
                      with_count=True)
    # ONE groupBy(shingle) is simultaneously the inverted index, the df cap
    # (oversize posting lists dropped before any pair exists), and the pair
    # generator — no hot-set anti-join, no self-join re-evaluating the
    # shingle pipeline per side. The index is persist()-CACHED: it feeds
    # the pair branch and the dropped-shingle correction branch, and Spark
    # re-evaluates a shared subtree once per reference — uncached, the
    # tokenize→shingle→groupBy pipeline ran 3× (plan-probed: 3 corpus
    # scans, 9 shuffles). persist (lazy, spills to disk) rather than
    # localCheckpoint (eager) so the single evaluation pipelines into the
    # first action instead of serializing a build job — materializing the
    # index once is exactly what a production dedup pipeline does (build
    # the index, then query it).
    # members dedup BY DOC ID, not by struct: a doc_id appearing in
    # several input rows (ill-formed but possible upstream) would yield
    # distinct (id, n_raw) structs for ONE doc and the pair fan-out would
    # emit self-pairs — the pre-r9 collect_set(id) form never could
    # (r9 review finding). The sorted set groups equal ids adjacently, so
    # keeping only the first struct per id is a pure array filter.
    # _let-bind the sorted set (r14): the filter references it both as the
    # filtered array AND per element inside the lambda, and an unbound
    # reference re-inlines array_sort(collect_set(...)) at every element
    # access — O(n² log n) per bucket (the winnowing/_let lesson; probed
    # live in this round's bucket-build stage). Built as ONE SQL string
    # (r14 optimization round, see text.tokens_sql) — identical binder and
    # filter, i is 0-based so element_at(ms, i) is the PREVIOUS element.
    idc = sql_ident(id_col)  # interpolated unquoted below (r15, r14 ADVICE)
    dedup_by_id = F.expr(
        "element_at(transform(array(array_sort(collect_set("
        f"named_struct('{idc}', {idc}, 'n_raw', n_raw)))), ms ->"
        " filter(ms, (m, i) -> case when i = 0 then true"
        f" else m.{idc} != element_at(ms, i).{idc} end)), 1)"
    )
    buckets = sh.groupBy("shingle").agg(dedup_by_id.alias("mems"))
    from ..cache import owned_persist

    buckets = owned_persist(buckets)
    kept = buckets
    if max_shingle_df is not None:
        kept = buckets.filter(F.size("mems") <= max_shingle_df)
    # n_raw is constant within a pair group (it is a function of the doc),
    # so max() == the value; max is map-side combinable and deterministic
    pairs = (
        kept.filter(F.size("mems") >= 2)
        .select(F.explode(_pairs_from_sorted_ids("mems")).alias("p"))
        .groupBy(
            F.col("p.id_a." + id_col).alias("id_a"),
            F.col("p.id_b." + id_col).alias("id_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.max("p.id_a.n_raw").alias("raw_a"),
            F.max("p.id_b.n_raw").alias("raw_b"),
        )
    )
    if max_shingle_df is not None:
        corr = (
            buckets.filter(F.size("mems") > max_shingle_df)
            .select(F.explode("mems").alias("m"))
            .groupBy(F.col("m." + id_col).alias("cid"))
            .agg(F.count(F.lit(1)).alias("n_drop"))
        )
        ca = corr.select(F.col("cid").alias("id_a"), F.col("n_drop").alias("drop_a"))
        cb = corr.select(F.col("cid").alias("id_b"), F.col("n_drop").alias("drop_b"))
        pairs = pairs.join(ca, "id_a", "left").join(cb, "id_b", "left")
        n_a = F.col("raw_a") - F.coalesce(F.col("drop_a"), F.lit(0))
        n_b = F.col("raw_b") - F.coalesce(F.col("drop_b"), F.lit(0))
    else:
        n_a, n_b = F.col("raw_a"), F.col("raw_b")
    # Duplicate-id union correction (r10): n_raw is computed PER INPUT ROW,
    # but bucket members dedup BY ID — so for a doc_id arriving in several
    # rows, n_inter and n_drop already reflect the UNION of the rows'
    # shingle sets while the carried n_raw is one row's count. The
    # denominator would understate the capped union (jaccard > 1, or 0/NULL
    # division). The dup probe is an EAGER driver check — one tiny job
    # over the column-pruned id scan (map-side combined, O(distinct ids)
    # shuffle rows) — because the lazily-joined form kept the index
    # explode in the plan even with zero duplicates (probed: AQE did NOT
    # propagate the empty broadcast build side through the semi join, and
    # the always-on explode cost ~25 % of the benched row). Well-formed
    # corpora therefore pay one narrow probe job and NOTHING in the main
    # plan; with duplicates present, the true capped union size per
    # duplicated id is read off the persisted index (the count of kept
    # posting lists containing the doc) — proportional cost, the honest
    # price of union semantics.
    dup_ids = (
        df.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_rows"))
        .filter(F.col("_n_rows") > 1)
        .select(F.col(id_col).alias("_did"))
    )
    if dup_ids.limit(1).count() > 0:
        union_sizes = (
            kept.select(F.explode("mems").alias("m"))
            .select(F.col("m." + id_col).alias("_did"))
            .join(dup_ids, "_did", "semi")
            .groupBy("_did")
            .agg(F.count(F.lit(1)).alias("_n_union"))
        )
        pairs = pairs.join(
            union_sizes.select(F.col("_did").alias("id_a"), F.col("_n_union").alias("_union_a")),
            "id_a", "left",
        ).join(
            union_sizes.select(F.col("_did").alias("id_b"), F.col("_n_union").alias("_union_b")),
            "id_b", "left",
        )
        # the index count is already over the capped universe — no drop
        # arithmetic for duplicated ids
        n_a = F.coalesce(F.col("_union_a"), n_a)
        n_b = F.coalesce(F.col("_union_b"), n_b)
    jac = F.col("n_inter") / (n_a + n_b - F.col("n_inter"))
    return (
        pairs
        .filter(jac >= threshold)  # threshold on the unrounded ratio (oracle parity)
        .select("id_a", "id_b", "n_inter", F.round(jac, 6).alias("jaccard"))
    )


def minhash_jaccard_estimates(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", n_hashes: int = 16,
                              bands: int = 4, shingle_n: int = 3,
                              max_bucket_size: int = 100_000,
                              max_shingle_df: int | None = 100_000) -> DataFrame:
    """Estimator-quality eval: per LSH candidate pair, the MinHash
    agreement estimate Ĵ = |{i : mhᵢ(a)=mhᵢ(b)}| / n_hashes next to the
    exact shingle Jaccard — the calibration table you consult before
    trusting banding thresholds on a new corpus.

    Agreement counts use the same single-evaluation bucket-grouping idiom
    as the banding itself: explode the signature to (component, value)
    rows, group equal values per component, fan out in-bucket pairs — the
    signature pipeline runs ONCE (a sig⋈sig self-join would evaluate the
    shingle→md5→min subtree per side). Exact Jaccard reuses the capped
    inverted index (threshold 0 — the candidates are already restricted
    to LSH collisions). Pairs with no shared shingle under the df cap
    report exact 0.

    Scale guard: before bucketing, the component table is SEMI-JOINED to
    the ids appearing in the LSH candidate pairs. Both ids of every
    reported pair are in that set, so agreement counts are unchanged —
    but a corpus-frequent component value (e.g. the global minimum
    shingle hash shared by millions of docs) can no longer fan out
    O(bucket²) pairs across the whole corpus; the fan-out is bounded by
    the candidate set, the same universe the output is defined over.

    The candidate-pair table is localCheckpoint-MATERIALIZED: it is
    referenced three times (both cand_ids union branches + the output
    join), and Spark re-evaluates a shared subtree once per reference —
    without the checkpoint the ENTIRE signature→banding→fan-out pipeline
    ran 4× (plan-probed: 7 corpus scans → 3). The table is O(candidate
    pairs) — the cheap end of the pipeline.
    """
    pairs = minhash_lsh_pairs(
        df, text_col, id_col, n_hashes, bands, shingle_n, max_bucket_size
    ).select("id_a", "id_b").localCheckpoint()
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sig = minhash_signatures(df, text_col, id_col, n_hashes, shingle_n)
    comp = sig.join(cand_ids, id_col, "semi").select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("ci"), F.col(f"mh{i:02d}").alias("mh"))
                for i in range(n_hashes)
            ])
        ).alias("c"),
    ).select(id_col, "c.ci", "c.mh")
    buckets = (
        comp.groupBy("ci", "mh")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    agree = (
        buckets.select(F.explode(_pairs_from_sorted_ids("ids")).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_agree"))
    )
    exact = ngram_jaccard_pairs(
        df, text_col, id_col, shingle_n, threshold=0.0, max_shingle_df=max_shingle_df
    ).select("id_a", "id_b", F.col("jaccard").alias("exact_jaccard"))
    est = F.round(F.coalesce("n_agree", F.lit(0)) / n_hashes, 6)
    exact_r = F.coalesce("exact_jaccard", F.lit(0.0))
    return (
        pairs.join(agree, ["id_a", "id_b"], "left")
        .join(exact, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            est.alias("est_jaccard"),
            F.round(exact_r, 6).alias("exact_jaccard"),
            F.round(F.abs(est - exact_r), 6).alias("abs_err"),
        )
    )


def dup_chunk_ratio(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    chunk_tokens: int = 10, max_ratio: float = 0.3) -> DataFrame:
    """Duplicated-chunk fraction per document (the RefinedWeb/C4-style
    "fraction of text duplicated elsewhere in the corpus" filter, applied
    at fixed token-window granularity instead of paragraphs, which the
    synthetic corpus lacks).

    Plan: one narrow pass chunks each doc into non-overlapping
    ``chunk_tokens`` windows and md5s them; a window count over the chunk
    hash marks chunks occurring more than once CORPUS-WIDE (including
    within-doc repeats — both are training-data redundancy); one
    groupBy(doc) folds the flags into the ratio. Two shuffles total (hash,
    doc id), both on high-cardinality keys; nothing is ever joined back to
    the full text. ``keep`` = ratio ≤ ``max_ratio``.
    """
    from pyspark.sql import Window

    from .text import tokens

    toks = tokens(F.col(text_col))
    n_chunks = F.greatest(F.ceil(F.size(toks) / chunk_tokens), F.lit(1)).cast("int")
    starts = F.sequence(F.lit(0), (n_chunks - 1) * chunk_tokens, F.lit(chunk_tokens))
    chunks = F.transform(
        starts, lambda s: F.md5(F.concat_ws(" ", F.slice(toks, s + 1, chunk_tokens)))
    )
    exploded = df.select(id_col, F.explode(chunks).alias("h"))
    occ = F.count(F.lit(1)).over(Window.partitionBy("h"))
    flagged = exploded.select(id_col, (occ > 1).cast("int").alias("dup"))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("dup").alias("n_dup_chunks"),
        )
        .select(
            id_col,
            "n_chunks",
            "n_dup_chunks",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6).alias("dup_ratio"),
            (F.col("n_dup_chunks") <= F.lit(max_ratio) * F.col("n_chunks")).alias("keep"),
        )
    )


def remove_dup_chunks(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      chunk_tokens: int = 10) -> DataFrame:
    """Corpus-level duplicate-span REMOVAL (the C4 "discard duplicated
    spans, keep one occurrence" rewrite — C4 removes repeated
    three-sentence spans; here the span unit is the same non-overlapping
    ``chunk_tokens`` window :func:`dup_chunk_ratio` flags, which the
    synthetic corpus's paragraph-free text calls for).

    Keep-FIRST semantics: for every chunk hash the single occurrence with
    the smallest (doc_id, start) survives; all later occurrences —
    across documents AND within one — are dropped, and each document is
    reassembled from its surviving chunks in original order. An exact
    duplicate document therefore collapses to empty text while the first
    copy is untouched.

    Plan: one narrow pass chunks + hashes; ONE window row_number over the
    chunk hash picks survivors (content-hash distributed — the only
    corpus-moving shuffle, inherent to any global keep-one rewrite); one
    groupBy(doc) re-concatenates. The chunk text rides the hash shuffle
    because the rewrite needs it back — flags-only variants re-scan the
    corpus to re-attach text and cost strictly more. Output:
    (doc_id, n_chunks, n_removed, clean_text).
    """
    from pyspark.sql import Window

    from .text import tokens

    toks = tokens(F.col(text_col))
    n_chunks = F.greatest(F.ceil(F.size(toks) / chunk_tokens), F.lit(1)).cast("int")
    starts = F.sequence(F.lit(0), (n_chunks - 1) * chunk_tokens, F.lit(chunk_tokens))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("s"),
            F.concat_ws(" ", F.slice(toks, s + 1, chunk_tokens)).alias("ct"),
        ),
    )
    exploded = df.select(id_col, F.explode(chunks).alias("c")).select(
        id_col,
        F.col("c.s").alias("s"),
        F.col("c.ct").alias("ct"),
        F.md5(F.col("c.ct")).alias("h"),
    )
    # (doc_id, s) is unique per row, so the order is total — no ties, the
    # survivor set is deterministic on both engines
    rn = F.row_number().over(Window.partitionBy("h").orderBy(id_col, "s"))
    flagged = exploded.select(id_col, "s", "ct", (rn == 1).cast("int").alias("keep"))
    # when() without otherwise() yields NULL for dropped chunks and
    # collect_list skips NULLs — only survivors are reassembled
    kept = F.when(F.col("keep") == 1, F.struct(F.col("s"), F.col("ct")))
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        (F.count(F.lit(1)) - F.sum("keep")).cast("long").alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(F.array_sort(F.collect_list(kept)), lambda x: x["ct"]),
        ).alias("clean_text"),
    )


def _doc_gram_hashes(df, text_col, id_col, k):
    """Shared preamble of the ExactSubstr family (stats / rewrite /
    pairs): spread the per-doc kernel across cores, tokenize, and
    _let-bind the token-hash array into the Carter-Wegman k-gram combine
    (an unbound reference would re-inline the O(n) md5 transform at every
    element_at site — measured 26 s vs 1.3 s at sf0.1). Returns
    (repartitioned df, tokens column, k-gram hash-array column).

    NULL text is coalesced to the empty string before tokenizing (r8
    advisor): tokens('') is already the empty array, but tokens(NULL) is
    NULL, and ``F.size(NULL array)`` is -1 — a corpus with NULL texts
    would report n_tokens = -1 in substring_dup_spans. The coalesce pins
    NULL text == empty doc for all three ExactSubstr operators, mirrored
    in the oracles' shared th8 CTE."""
    from .text import (
        kgram_hash_array_sql,
        repartition_for_compute,
        token_hash_array_sql,
        tokens,
        tokens_sql,
    )

    df = repartition_for_compute(df, id_col)
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    # one SQL string for the let-bound hash chain (r14 optimization round,
    # see text.tokens_sql): identical binder + expressions, no per-node
    # py4j construction cost.
    hs = F.expr(
        "element_at(transform(array("
        + token_hash_array_sql(tokens_sql(f"coalesce({sql_ident(text_col)}, '')"))
        + f"), th -> {kgram_hash_array_sql('th', k)}), 1)"
    )
    return df, toks, hs


def substring_dup_spans(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8,
                        min_count: int = 2) -> DataFrame:
    """EXACT substring-span dedup statistics — the distributed
    sorted-k-gram-run formulation of suffix-array substring dedup (Lee et
    al., "Deduplicating Training Data Makes Language Models Better", ACL
    2022: ExactSubstr with a ≥50-token threshold; reference has no
    counterpart — LLM-pipeline extension). A substring of ≥ k tokens is
    duplicated iff EVERY k-gram inside it is duplicated, so: hash every
    k-token gram (the shared Carter-Wegman 62-bit combine the winnowing
    family uses), count each gram corpus-wide, call a position COVERED
    when its gram occurs ≥ ``min_count`` times (across documents or
    within one — same as ExactSubstr's "appears more than once in the
    corpus"), and merge covered positions closer than k into maximal
    duplicated spans.

    The span merge needs no gaps-and-islands sub-grouping: with positions
    sorted per doc, the previous covered position is
    ``MAX(CASE WHEN covered THEN pos END) OVER (rows < current)`` (max ==
    last because pos ascends — and MAX, unlike lag-ignore-nulls, is ANSI
    and portable), a covered row opens a NEW span iff ``pos − prev >
    k−1``, and it extends total duplicated-token coverage by
    ``least(pos − prev, k)`` (first row of a span contributes k, an
    overlap-or-adjacent continuation contributes exactly its gap), so the
    interval union is one running window + one groupBy with NO double
    counting of overlapping k-windows.

    Plan shape / 100 TB: one narrow tokenize+hash map, then exactly TWO
    gram-row exchanges — by gram hash (the corpus-wide count; window
    count, so no second scan and no giant-join) and by doc (span merge +
    final per-doc aggregate, which reuses the same partitioning — the
    groupBy adds no third exchange). A token-count-sized shuffle ×2 is
    inherent to exact substring dedup (the suffix-array formulation sorts
    the same volume); there is no all-pairs stage anywhere and no
    per-gram state beyond a count. Short docs survive via
    posexplode_outer (one NULL-gram row, never covered). Output per doc:
    (doc_id, n_tokens, n_kgrams, n_dup_spans, dup_tokens, dup_ratio_ppm)
    — all integers, so the DuckDB oracle replays bit-for-bit.
    """
    from pyspark.sql import Window

    df, toks, hs = _doc_gram_hashes(df, text_col, id_col, k)
    grams = df.select(
        id_col,
        F.size(toks).alias("n_tokens"),
        F.posexplode_outer(hs).alias("pos", "h"),
    )
    cnt = F.count(F.lit(1)).over(Window.partitionBy("h"))
    covered = grams.withColumn(
        "cov", F.col("h").isNotNull() & (cnt >= min_count)
    )
    return _spans_from_covered(covered, id_col, k)


def _spans_from_covered(covered: DataFrame, id_col: str, k: int) -> DataFrame:
    """Interval-union span merge + per-doc aggregate shared by
    :func:`substring_dup_spans` and
    :func:`substring_dup_spans_from_index`: ``covered`` =
    (id, n_tokens, pos, cov) gram rows; the coverage-evidence source
    (corpus window vs maintained index) is the caller's choice."""
    from pyspark.sql import Window

    wdoc = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.max(F.when(F.col("cov"), F.col("pos"))).over(wdoc)
    flagged = covered.select(
        id_col,
        "n_tokens",
        F.when(
            F.col("cov"),
            F.when(
                prev.isNull() | (F.col("pos") - prev > k - 1), F.lit(1)
            ).otherwise(F.lit(0)),
        ).alias("new_span"),
        F.when(
            F.col("cov"),
            F.least(F.coalesce(F.col("pos") - prev, F.lit(k)), F.lit(k)),
        ).alias("contrib"),
    )
    return flagged.groupBy(id_col).agg(
        F.first("n_tokens").cast("long").alias("n_tokens"),
        F.greatest(F.first("n_tokens") - F.lit(k - 1), F.lit(0))
        .cast("long")
        .alias("n_kgrams"),
        F.coalesce(F.sum("new_span"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce(F.sum("contrib"), F.lit(0)).cast("long").alias("dup_tokens"),
        F.expr(
            "CASE WHEN first(n_tokens) > 0 THEN (coalesce(sum(contrib), 0)"
            " * CAST(1000000 AS BIGINT)) DIV first(n_tokens)"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("dup_ratio_ppm"),
    )


def substring_dup_spans_from_index(df: DataFrame, index: DataFrame,
                                   text_col: str = "text",
                                   id_col: str = "doc_id", k: int = 8,
                                   min_count: int = 2) -> DataFrame:
    """:func:`substring_dup_spans` with coverage evidence read from the
    MAINTAINED gram-index view (h, cnt — built incrementally by
    ``streaming.matview.apply_gram_index_delta``): duplicated-span
    statistics for any doc set against corpus-wide gram counts with no
    history re-scan — the monitoring read path of the streaming
    ExactSubstr story (the rewrite read path is
    :func:`substring_dedup_rewrite_from_index`). With the index built
    over exactly ``df``, output == the one-shot batch stats
    (pytest-pinned). The corpus-count window becomes a LEFT hash join
    (missing gram ⇒ cnt NULL ⇒ not covered; the NULL-gram row of a
    short doc never joins)."""
    df, toks, hs = _doc_gram_hashes(df, text_col, id_col, k)
    grams = df.select(
        id_col,
        F.size(toks).alias("n_tokens"),
        F.posexplode_outer(hs).alias("pos", "h"),
    )
    covered = grams.join(index.select("h", "cnt"), "h", "left").withColumn(
        "cov",
        F.col("h").isNotNull() & (F.coalesce(F.col("cnt"), F.lit(0)) >= min_count),
    )
    return _spans_from_covered(covered, id_col, k)


def substring_dedup_rewrite(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 8,
                            min_count: int = 2) -> DataFrame:
    """EXACT substring-span REMOVAL — the action counterpart of
    :func:`substring_dup_spans` (Lee et al. 2022 ExactSubstr: cut every
    duplicated span, keep ONE occurrence). Keep-FIRST semantics at gram
    granularity: for every k-gram occurring ≥ ``min_count`` times
    corpus-wide, the occurrence minimizing (doc_id, pos) is KEPT and all
    others are duplicates. A token is removed iff it lies under some
    duplicate-occurrence window and under NO kept window (kept wins on
    overlap, so the surviving copy of a repeated run — across documents
    or within one — is never nibbled by its own duplicates). Documents
    are reassembled from surviving tokens in original order; an exact
    duplicate document collapses to empty text while the first copy is
    untouched (same contract as :func:`remove_dup_chunks`, but at
    arbitrary-alignment span granularity instead of fixed chunks).

    The (doc, pos) order is encoded as ``doc_id·2^20 + pos`` so the
    per-gram argmin is ONE portable MIN window (ENFORCED bounds: gram
    pos < 2^20 — i.e. < 2^20 + k - 1 tokens per document — and
    0 ≤ doc_id < 2^43; a violating row raises mid-scan via assert_true
    instead of silently perturbing the argmin, since the oracle shares
    the encoding and differential tests could not catch it; the same
    encoding replays in ANSI SQL). The
    encoding REQUIRES an integral ``id_col``: a non-numeric id would
    cast to NULL and silently turn the whole rewrite into a no-op
    (every dup/kept flag NULL → removed=0), so non-integral id types
    are rejected up front — re-key string-identified corpora first
    (e.g. via zipWithUniqueId/monotonically_increasing_id or a
    dimension table), which a 100 TB pipeline wants anyway for the
    narrower shuffles.

    Plan shape / 100 TB: one narrow gram map → exchange on gram hash
    (count + argmin in one window pass) → each gram row fans out to its
    k token indexes → exchange on (doc, token) folding window flags →
    join with the token rows (same partitioning) → groupBy(doc)
    reconstruction. The k× fan-out through one hash exchange is the
    honest cost of token-resolution span removal — linear in corpus
    size, no pair stage anywhere; the reconstruction shuffle carries
    each surviving token exactly once (remove_dup_chunks pays the same
    to rebuild text). Output: (doc_id, n_tokens, n_removed, clean_text).
    """
    from pyspark.sql import Window

    df, toks, occ = _gram_occurrences(df, text_col, id_col, k)
    wh = Window.partitionBy("h")
    flagged = occ.select(
        id_col,
        "pos",
        (F.count(F.lit(1)).over(wh) >= min_count).alias("_dupd"),
        (F.col("okey") == F.min("okey").over(wh)).alias("_first"),
    )
    return _resolve_removals(df, toks, flagged, id_col, k)


def _gram_occurrences(df: DataFrame, text_col: str, id_col: str, k: int):
    """Shared gram-occurrence builder of the keep-first rewrite family
    (:func:`substring_dedup_rewrite`, the incremental gram-index matview,
    and :func:`substring_dedup_rewrite_from_index`): returns
    (repartitioned df, tokens column, occ) where occ =
    (id, pos, h, okey) rows — one per k-gram occurrence, ``okey`` the
    (doc, pos) order encoding ``doc_id·2^20 + pos``.

    Bounds are ENFORCED in-plan (r8 advisor): 0 ≤ doc_id < 2^43 and gram
    pos < 2^20; a violating row raises via assert_true instead of
    silently perturbing the keep-first argmin (the oracle shares the
    encoding, so differential tests could never catch it). Non-integral
    id types are rejected up front — they would cast to NULL and turn
    the whole rewrite into a no-op."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if not isinstance(df.schema[id_col].dataType,
                      (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"substring rewrite requires an integral {id_col!r} for "
            f"the (doc, pos) order encoding; got "
            f"{df.schema[id_col].dataType.simpleString()} — re-key the "
            "corpus to integer ids first"
        )
    df, toks, hs = _doc_gram_hashes(df, text_col, id_col, k)
    idl = F.col(id_col).cast("long")
    _bounds_ok = (
        (idl >= 0) & (idl < F.lit(1 << 43)) & (F.col("pos") < F.lit(1 << 20))
    )
    okey = F.when(
        F.assert_true(
            _bounds_ok,
            F.lit(
                "substring rewrite (doc,pos) order-encoding overflow: "
                "requires 0 <= doc_id < 2^43 and gram pos < 2^20 tokens"
            ),
        ).isNull(),
        idl * F.lit(1 << 20) + F.col("pos"),
    )
    occ = df.select(id_col, F.posexplode(hs).alias("pos", "h")).select(
        id_col, "pos", "h", okey.alias("okey")
    )
    return df, toks, occ


def _resolve_removals(df: DataFrame, toks, flagged: DataFrame,
                      id_col: str, k: int) -> DataFrame:
    """Token-resolution tail of the rewrite family: fan each flagged
    duplicate gram occurrence out to its k token indexes, fold kept-wins
    flags per (doc, token), join the token rows, and reassemble surviving
    text. ``flagged`` = (id, pos, _dupd, _first) — the evidence source
    (corpus window vs maintained index) is the caller's choice."""
    tok_flags = (
        flagged.filter(F.col("_dupd"))
        .select(
            id_col,
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("t"),
            (~F.col("_first")).cast("int").alias("dup"),
            F.col("_first").cast("int").alias("kept"),
        )
        .groupBy(id_col, "t")
        .agg(F.max("dup").alias("dup_any"), F.max("kept").alias("kept_any"))
    )
    tok_rows = df.select(
        id_col, F.posexplode_outer(toks).alias("t", "tok")
    )
    resolved = tok_rows.join(tok_flags, [id_col, "t"], "left").select(
        id_col,
        "t",
        "tok",
        (
            (F.coalesce(F.col("dup_any"), F.lit(0)) == 1)
            & (F.coalesce(F.col("kept_any"), F.lit(0)) == 0)
        ).cast("int").alias("removed"),
    )
    surv = F.when(
        (F.col("removed") == 0) & F.col("tok").isNotNull(),
        F.struct(F.col("t"), F.col("tok")),
    )
    return resolved.groupBy(id_col).agg(
        F.count("tok").cast("long").alias("n_tokens"),
        F.coalesce(F.sum("removed"), F.lit(0)).cast("long").alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(F.array_sort(F.collect_list(surv)), lambda x: x["tok"]),
        ).alias("clean_text"),
    )


def gram_occurrences(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", k: int = 8):
    """Public form of the shared gram-occurrence builder: returns
    (repartitioned df, tokens column, occ) — see :func:`_gram_occurrences`.
    Exposed (r14, r13 verdict #7) so a caller that both MAINTAINS a gram
    index and REWRITES against it in one pass (the segmented registry row,
    an ingest-and-rewrite deployment step) can pay the corpus gram-hash
    pass once: persist ``occ``, feed per-batch index deltas from filtered
    slices of it, and hand the same triple to
    :func:`substring_dedup_rewrite_from_index` via ``grams=``."""
    return _gram_occurrences(df, text_col, id_col, k)


def substring_dedup_rewrite_from_index(df: DataFrame, index: DataFrame,
                                       text_col: str = "text",
                                       id_col: str = "doc_id", k: int = 8,
                                       min_count: int = 2,
                                       grams=None) -> DataFrame:
    """:func:`substring_dedup_rewrite` with duplicate/keep-first evidence
    read from a MAINTAINED gram-index view (h, cnt, min_okey — built
    incrementally by ``streaming.matview.apply_gram_index_delta``)
    instead of a corpus-wide window: the streaming form of ExactSubstr
    span removal. ``df`` is the document set to rewrite (a new batch, or
    the whole corpus); the index carries corpus-wide occurrence counts
    and the global keep-first argmin, so the rewrite never re-scans
    history. With the index built over exactly ``df``, the output equals
    the one-shot batch rewrite row-for-row (pytest-pinned equivalence).

    Plan shape / 100 TB: gram map over ONLY the docs being rewritten →
    hash join against the index on h (both sides h-distributed; the
    window pass of the batch form is replaced by the join, so no sort) →
    the same k-fan-out + token-resolution tail as the batch rewrite.

    ``grams``: optional precomputed (df, toks, occ) triple from
    :func:`gram_occurrences` over the SAME ``df`` — lets a caller that
    already paid the gram pass (e.g. to feed index deltas) skip
    recomputing it here."""
    df, toks, occ = grams if grams is not None else _gram_occurrences(
        df, text_col, id_col, k)
    j = occ.join(
        index.select("h", "cnt", "min_okey"), "h", "left"
    )
    flagged = j.select(
        id_col,
        "pos",
        (F.coalesce(F.col("cnt"), F.lit(0)) >= min_count).alias("_dupd"),
        (F.col("okey") == F.col("min_okey")).alias("_first"),
    )
    return _resolve_removals(df, toks, flagged, id_col, k)


def winnowing_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    k: int = 4, w: int = 5, min_shared: int = 2,
                    max_fp_df: int = 1_000) -> DataFrame:
    """MOSS-style near-dup candidate pairs from shared winnowing
    fingerprints: docs sharing ≥ ``min_shared`` selected window-min
    hashes. Winnowing's guarantee makes this a SUBSTRING-match detector
    (any shared run of ≥ w+k-1 tokens shares a fingerprint) — the
    plagiarism/attribution complement to MinHash's whole-document
    Jaccard.

    Plan mirrors :func:`minhash_lsh_pairs`: the narrow per-doc selection
    (``ext.text.winnow_select``) explodes to distinct (doc, HASH) rows —
    the position field of the selection struct is doc-local and is
    dropped before matching (``array_distinct`` MAP-SIDE, since the same
    hash can be selected at several positions; the r8 form paid a whole
    separate ``.distinct()`` exchange for this) — then ONE groupBy(hash)
    builds posting lists (collect_set dedups doc ids inside the same
    exchange), drops boilerplate fingerprints (df > ``max_fp_df``: a
    hash shared by n docs fans out n² pairs), and fans out in-bucket
    pairs; a pair groupBy counts shared fingerprints. No self-join — the
    selection pipeline evaluates once.
    """
    from .text import winnow_select

    fp = (
        winnow_select(df, text_col, id_col, k, w)
        .select(
            id_col,
            F.explode(
                F.array_distinct(F.transform("fps", lambda x: x["h"]))
            ).alias("h"),
        )
    )
    buckets = (
        fp.groupBy("h")
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_fp_df))
    )
    return (
        buckets.select(F.explode(_pairs_from_sorted_ids("ids")).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )


def substring_shared_gram_pairs(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id", k: int = 8,
                                min_shared: int = 2,
                                max_gram_df: int = 1_000) -> DataFrame:
    """EXACT shared-substring document pairs — the pair detector of the
    ExactSubstr family (:func:`substring_dup_spans` measures coverage,
    :func:`substring_dedup_rewrite` removes; this answers WHICH document
    pairs share material): pairs of docs sharing ≥ ``min_shared``
    distinct k-gram hashes. Where :func:`winnowing_pairs` matches on the
    winnowed SAMPLE of grams (guaranteed ≥1 shared fingerprint per
    shared run of w+k−1 tokens, expected density 2/(w+1)), this matches
    on EVERY gram: n_shared_grams is the exact count of distinct shared
    k-grams, so ``n_shared_grams + k − 1`` lower-bounds the total shared
    token mass for contiguous overlaps — the exact-evidence complement
    the sampled detector trades away.

    Same bucketed plan as the winnowing/MinHash detectors: one narrow
    gram map (shared Carter-Wegman hashing) → groupBy(h) posting lists
    with a df cap (a gram in n docs fans out n² pairs; boilerplate grams
    above ``max_gram_df`` docs are dropped, mirrored in the oracle) →
    in-bucket pair fan-out → pair groupBy. No self-join, no all-pairs;
    gram-mass shuffle like the stats operator.

    (doc, h) distinctness is free, not a shuffle (r9): intra-doc repeat
    grams drop map-side via ``array_distinct`` before the explode, and
    ``collect_set`` dedups doc ids inside the one posting-list exchange —
    the earlier separate ``.distinct()`` exchanged the full gram mass a
    SECOND time for semantics the aggregation already provides
    (sf10x/27M-token probe: the extra exchange was the dominant cost of
    the r8 form).
    """
    df, _toks, hs = _doc_gram_hashes(df, text_col, id_col, k)
    grams = df.select(id_col, F.explode(F.array_distinct(hs)).alias("h"))
    buckets = (
        grams.groupBy("h")
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_gram_df))
    )
    return (
        buckets.select(F.explode(_pairs_from_sorted_ids("ids")).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= min_shared)
    )


def substring_shared_gram_pairs_from_index(index: DataFrame,
                                           min_shared: int = 2) -> DataFrame:
    """:func:`substring_shared_gram_pairs` answered from the MAINTAINED
    gram-index view (h, cnt, min_okey, ids, over — built incrementally by
    ``streaming.matview.apply_gram_index_delta``): WHICH document pairs
    share ≥ ``min_shared`` distinct k-grams, with no corpus re-scan at
    all — the view's capped posting lists ARE the detector's buckets.
    Completes the streaming ExactSubstr triad (rewrite:
    :func:`substring_dedup_rewrite_from_index`; stats:
    :func:`substring_dup_spans_from_index`).

    The df cap is applied when the view is READ (``max_gram_df`` on
    ``read_gram_index_segments``): a gram whose live distinct-doc set
    exceeds it reads as (ids=NULL, over=true) and contributes no pairs —
    exactly the batch detector's boilerplate-gram cutoff, so with the
    same cap the output equals the one-shot batch pairs (pytest-pinned,
    including a cap that only overflows through a cross-batch union).

    Plan shape / 100 TB: NO document scan — one pass over the view
    (already one row per gram), in-bucket pair fan-out, one pair
    groupBy. The fan-out mass is Σ df² over non-boilerplate grams, the
    same bound as the batch detector, minus its corpus scan + posting
    exchange."""
    if "ids" not in index.columns:
        # pre-r10 (h, cnt, min_okey) view: the posting lists were never
        # stored, so the conservative read is every gram over-cap — no
        # pairs claimed, no AnalysisException (r10 ADVICE migration note)
        from ..streaming.matview import _backfill_gram_index_schema

        index = _backfill_gram_index_schema(index)
    buckets = index.filter(
        (~F.coalesce(F.col("over"), F.lit(False))) & (F.size("ids") >= 2)
    )
    return (
        buckets.select(F.explode(_pairs_from_sorted_ids("ids")).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= min_shared)
    )


def keep_best_per_cluster(labels: DataFrame, scores: DataFrame,
                          id_col: str = "doc_id",
                          score_col: str = "score") -> DataFrame:
    """Quality-aware dedup survivor selection: per near-dup cluster keep
    the member with the HIGHEST score, ties broken by smallest id — the
    keep-the-most-complete-copy policy production curation pipelines
    apply instead of min-id (a truncated crawl of a page should lose to
    the full copy, whatever their ids). ``labels`` = (id, cluster_id)
    from a clustering pass; ``scores`` = (id, score) from any quality
    scorer (token count, LM logprob, distilled filter score).

    Output: (id, cluster_id, score, keep). The per-cluster argmax is one
    row_number window partitioned by cluster_id — cluster sizes are
    near-dup family sizes (bounded by the candidate generators' caps),
    so the window carries no skew risk at corpus scale; the join
    shuffles on the id key both sides already hash by.

    ``scores`` is LEFT-joined (r10 ADVICE): a labeled member missing
    from the scores frame stays in the decision table with a NULL score
    ranked BELOW every real score (desc NULLS LAST) — a dedup decision
    table must cover every labeled doc, and silently dropping unscored
    members could both lose rows and flip which member survives."""
    from pyspark.sql import Window

    j = labels.join(scores, id_col, "left")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last(score_col), F.asc(id_col)
    )
    return j.select(
        id_col, "cluster_id", score_col,
        (F.row_number().over(w) == 1).alias("keep"),
    )


def connected_components(pairs: DataFrame, nodes: DataFrame | None = None,
                         id_col: str = "doc_id", max_iterations: int = 20) -> DataFrame:
    """Cluster assignment over near-dup candidate pairs: connected
    components by iterative min-label propagation → (id, cluster_id), with
    cluster_id = the smallest member id (deterministic canonical survivor).

    This is the step that turns pairwise LSH/Jaccard output into dedup
    DECISIONS (keep one doc per component). Each iteration is one
    join + map-side-combinable min-groupBy on the symmetric edge list;
    labels converge in O(component diameter) rounds — near-dup clusters
    are short-diameter by construction, so 3-4 rounds in practice. The
    convergence probe is a count() per round (an O(1)-row action, not a
    data collect). For adversarial long-chain graphs at extreme scale,
    swap in the large-star/small-star variant; the contract is identical.

    ``nodes`` (optional) adds isolated documents as singleton clusters.
    """
    pairs = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.dst, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("_changed"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # truncate lineage per round
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    if changed != 0:
        # a component with diameter > max_iterations would silently split
        # into several cluster_ids; surface it instead of returning wrong
        # labels (use connected_components_star for long-chain graphs)
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iterations} "
            "iterations; labels may split long-diameter components — raise "
            "max_iterations or use connected_components_star",
            RuntimeWarning,
            stacklevel=2,
        )
    out = labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
    if nodes is not None:
        singletons = nodes.select(id_col).join(out, id_col, "left_anti").select(
            id_col, F.col(id_col).alias("cluster_id")
        )
        out = out.unionByName(singletons)
    return out


def connected_components_star(pairs: DataFrame, nodes: DataFrame | None = None,
                              id_col: str = "doc_id", max_iterations: int = 25) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds —
    the opt-in variant of ``connected_components`` for adversarial
    long-chain graphs (public algorithm: Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014).

    Min-label propagation needs O(component diameter) rounds; the star
    operations contract paths doubly-exponentially, converging in
    O(log diameter) rounds regardless of chain length — a 10⁶-node path
    finishes in ~20 rounds instead of 10⁶. Each round is two
    groupBy+join passes over the edge list; same contract and output as
    ``connected_components`` (cluster_id = smallest member id).

    - large-star: every node's strictly-larger neighbors re-attach to the
      minimum of its closed neighborhood;
    - small-star: edges point large→small; each node's neighborhood
      collapses onto its minimum.
    Rounds repeat until the edge set is a fixed point (star graphs rooted
    at component minima).
    """
    base = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    edges = base
    converged = False
    for _ in range(max_iterations):
        # large-star over the symmetric adjacency
        sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(F.least(F.col("src"), F.min("dst")).alias("m"))
        large = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star over large→small directed edges
        directed = large.select(
            F.greatest(F.col("src"), F.col("dst")).alias("src"),
            F.least(F.col("src"), F.col("dst")).alias("dst"),
        )
        mins2 = directed.groupBy("src").agg(F.least(F.col("src"), F.min("dst")).alias("m"))
        small = (
            directed.join(mins2, "src")
            .select(F.col("dst").alias("v"), F.col("m"))
            .union(mins2.select(F.col("src").alias("v"), F.col("m")))
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        small = small.localCheckpoint(eager=True)  # truncate lineage per round
        # fixed point: same edge count and no edge outside the previous set
        if small.count() == edges.count() and small.exceptAll(edges).limit(1).count() == 0:
            edges = small
            converged = True
            break
        edges = small
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components_star did not reach a fixed point in "
            f"{max_iterations} rounds (needs ~log2(diameter)); raise "
            "max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    # final edges form stars (member -> component min); roots map to
    # themselves. groupBy-min collapses multi-edges in the non-converged case.
    stars = edges.groupBy("src").agg(F.min("dst").alias("root"))
    members = base.select(F.col("src").alias("id")).union(base.select(F.col("dst").alias("id"))).distinct()
    out = (
        members.join(stars, members.id == stars.src, "left")
        .select(F.col("id").alias(id_col), F.coalesce(F.col("root"), F.col("id")).alias("cluster_id"))
    )
    if nodes is not None:
        singletons = nodes.select(id_col).join(out, id_col, "left_anti").select(
            id_col, F.col(id_col).alias("cluster_id")
        )
        out = out.unionByName(singletons)
    return out


def incremental_clusters(spark, new_pairs: DataFrame, state_path: str,
                         id_col: str = "doc_id",
                         algorithm=None) -> DataFrame:
    """Maintain a near-dup cluster assignment ACROSS batches: the state at
    ``state_path`` is the (id, cluster_id) parquet from previous batches;
    each call unions the state as star edges (id—cluster_id: the compressed
    forest, ONE edge per previously-seen node regardless of how many pairs
    history contained) with the batch's new candidate pairs, re-runs
    connected components over that compressed graph, and overwrites the
    state through a staging path.

    Union-find compression property: components over (compressed forest ∪
    new edges) equal components over every pair ever seen — so the state
    stays O(corpus), not O(pairs history). Wire it under ``foreachBatch``
    after :func:`streaming_minhash_pairs
    <..streaming.stateful.streaming_minhash_pairs>` for end-to-end
    streaming dedup (pinned stream==batch in tests).

    ``algorithm`` defaults to :func:`connected_components`; pass
    :func:`connected_components_star` for long-chain graphs.
    """
    import os
    import shutil

    from pyspark.sql import functions as _F

    cc = algorithm or connected_components
    edges = new_pairs.select("id_a", "id_b")
    if os.path.exists(state_path):
        prev = spark.read.parquet(state_path).select(
            _F.col(id_col).alias("id_a"), _F.col("cluster_id").alias("id_b")
        )
        edges = edges.union(prev)
    labels = cc(edges.filter(_F.col("id_a") != _F.col("id_b")), id_col=id_col)
    # singletons from prior state (id == cluster_id) fall out of the edge
    # list; carry them through explicitly
    if os.path.exists(state_path):
        prev_ids = spark.read.parquet(state_path).select(id_col)
        singles = prev_ids.join(labels, id_col, "left_anti").select(
            id_col, _F.col(id_col).alias("cluster_id")
        )
        labels = labels.unionByName(singles)
    staging = f"{state_path}__staging"
    labels.write.mode("overwrite").parquet(staging)
    if os.path.exists(state_path):
        shutil.rmtree(state_path)
    shutil.move(staging, state_path)
    return spark.read.parquet(state_path)


def incremental_clusters_delta(spark, new_pairs: DataFrame, state_path: str,
                               id_col: str = "doc_id",
                               algorithm=None) -> DataFrame:
    """Delta variant of :func:`incremental_clusters`: connected components
    re-run ONLY over the clusters the batch actually touches.

    The full variant re-runs CC over the whole compressed forest every
    batch — O(corpus) compute per batch even for a single new edge. Here
    the subgraph is (star edges of clusters containing a batch endpoint) ∪
    (new edges); everything else is carried over untouched, so per-batch
    CC cost tracks the affected-component mass, which for near-dup streams
    is a tiny fraction of the corpus. Correctness: components of
    (forest ∪ E_new) restricted to untouched clusters are exactly the old
    clusters (no new edge reaches them), and on touched clusters the star
    edges reconstruct the old connectivity — so the union of carried-over
    and recomputed labels equals the full recompute (equivalence pinned in
    tests). The state WRITE is still the full table; labels are min-ids, so
    recomputed mergers keep global label consistency.
    """
    import os
    import shutil

    from pyspark.sql import functions as _F

    cc = algorithm or connected_components
    edges = new_pairs.select("id_a", "id_b").filter(_F.col("id_a") != _F.col("id_b"))
    if os.path.exists(state_path):
        state = spark.read.parquet(state_path)
        touched_nodes = (
            edges.select(_F.col("id_a").alias(id_col))
            .union(edges.select(_F.col("id_b").alias(id_col)))
            .distinct()
        )
        touched_clusters = (
            state.join(touched_nodes, id_col).select("cluster_id").distinct()
        )
        affected = state.join(touched_clusters, "cluster_id", "left_semi")
        untouched = state.join(touched_clusters, "cluster_id", "left_anti")
        star = affected.select(
            _F.col(id_col).alias("id_a"), _F.col("cluster_id").alias("id_b")
        ).filter(_F.col("id_a") != _F.col("id_b"))
        labels = cc(edges.union(star), id_col=id_col)
        # touched singleton clusters have no star edge; their node is a
        # batch endpoint, so it appears in E_new and therefore in `labels`
        new_state = untouched.select(id_col, "cluster_id").unionByName(labels)
    else:
        new_state = cc(edges, id_col=id_col)
    staging = f"{state_path}__staging"
    new_state.write.mode("overwrite").parquet(staging)
    if os.path.exists(state_path):
        shutil.rmtree(state_path)
    shutil.move(staging, state_path)
    return spark.read.parquet(state_path)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            n_bits: int = 60) -> DataFrame:
    """SimHash fingerprint (n_bits ≤ 60) from token md5 hashes.

    Explode tokens → per-bit signed vote sum → reassemble integer. The
    per-bit sums are one groupBy(doc) with n_bits count-style aggregates —
    partial-aggregatable, single shuffle, and since a doc's tokens sit in
    one input partition the map-side combine shrinks the exchange to ~one
    61-long row per doc. A shuffle-free per-doc variant (fold each bit's
    vote with ``aggregate`` over a ``_let``-bound token-hash array)
    measured ~8% SLOWER at sf0.1 despite removing the exchange:
    higher-order functions evaluate interpreted while the explode+groupBy
    pipeline stays inside whole-stage codegen — the narrow form's win on
    exchange bytes doesn't pay for leaving codegen. Values are identical
    either way (commutative integer votes); this keeps the codegen form.
    """
    from .text import tokens

    tok = repartition_for_compute(df, id_col).select(
        id_col, F.explode(tokens(F.col(text_col))).alias("tok")
    )
    # expression trees built as SQL strings (r14 optimization round): the
    # Column-API form issued one py4j round trip per operator node — ~8
    # nodes × 60 aggregates plus the 60-term reassembly — measured 1.3-1.8 s
    # of DRIVER time per invocation, as much as the query's executor time
    # at sf0.1. F.expr parses each whole aggregate JVM-side in one call
    # (~4× faster construction, probed); the resolved plan and values are
    # identical (same CaseWhen/shiftright/md5 operators; mirrors
    # _md5_long(col, 0) exactly).
    h_sql = "cast(conv(substring(md5(concat('0|', tok)), 1, 15), 16, 10) as bigint)"
    votes = tok.groupBy(id_col).agg(*[
        F.expr(
            f"sum(case when ((shiftright({h_sql}, {b}) & 1) = 1)"
            " then 1 else -1 end)"
        ).alias(f"v{b:02d}")
        for b in range(n_bits)
    ])
    sim_sql = "cast(" + " + ".join(
        f"(case when v{b:02d} > 0 then {1 << b} else 0 end)"
        for b in range(n_bits)
    ) + " as bigint)"
    return votes.select(id_col, F.expr(sim_sql).alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n_bits: int = 60, max_hamming: int = 3,
                       max_bucket_size: int = 100_000) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Scale path: block on bit-chunks (pigeonhole — two fingerprints within
    hamming k must share one of k+1 chunks). At the 60-bit default with
    max_hamming=3 the chunks are 15 bits → 32768 values per chunk position,
    so bucket occupancy is ~n/2^15 per chunk — sub-quadratic well past 10⁸
    docs (vs 8-bit chunks at n_bits=32, quadratic by 10⁷).

    Formulation matches ``minhash_lsh_pairs``: ONE aggregation per
    (chunk_idx, chunk_val) gathers bucket members carrying their simhash,
    pairs fan out from the sorted member array. The earlier bucket
    self-join re-evaluated the whole tokenize→hash→60-vote simhash subtree
    on both join sides (Spark gives 0 ReusedExchange across self-join
    sides); the grouping computes it once. ``max_bucket_size`` guards the
    degenerate identical-fingerprint case, same as the MinHash path.
    """
    s = simhash(df, text_col, id_col, n_bits)
    return hamming_near_pairs(
        s, hash_col="simhash", id_col=id_col, n_bits=n_bits,
        max_hamming=max_hamming, max_bucket_size=max_bucket_size,
    )


def hamming_near_pairs(hashed: DataFrame, hash_col: str = "simhash",
                       id_col: str = "doc_id", n_bits: int = 60,
                       max_hamming: int = 3,
                       max_bucket_size: int = 100_000) -> DataFrame:
    """Generic pigeonhole near-pair generator over ANY non-negative
    integer fingerprint column (SimHash, perceptual image hash, packed
    sign bits): the chunk/bucket/pair machinery of
    :func:`simhash_near_pairs`, factored out so other fingerprint
    families reuse the single-evaluation grouped formulation. The
    pigeonhole bound holds even when ``n_bits`` is not divisible by
    chunks+1 — bits past the covered span only make chunk collisions MORE
    likely, never drop a true pair."""
    s = hashed
    chunks = max_hamming + 1
    chunk_bits = n_bits // chunks
    mask = (1 << chunk_bits) - 1
    s = s.select(id_col, F.col(hash_col).alias("simhash"))
    # chunk fan-out and pair fan-out built as SQL strings (r14 optimization
    # round, same driver-construction rationale as _pairs_from_sorted_ids);
    # resolved expressions and values identical.
    chunk_sql = ", ".join(
        f"named_struct('chunk_idx', {i}, 'chunk_val',"
        f" shiftright(simhash, {i * chunk_bits}) & {mask})"
        for i in range(chunks)
    )
    chunked = s.select(
        id_col,
        "simhash",
        F.expr(f"explode(array({chunk_sql}))").alias("c"),
    ).select(id_col, "simhash", "c.chunk_idx", "c.chunk_val")
    buckets = (
        chunked.groupBy("chunk_idx", "chunk_val")
        .agg(
            F.expr(
                "array_sort(collect_list(named_struct('id',"
                f" {sql_ident(id_col)}, 'sh', simhash)))"
            ).alias("ms")
        )
        .filter((F.size("ms") >= 2) & (F.size("ms") <= max_bucket_size))
    )
    # pair fan-out from the sorted member array (ids unique → id_a < id_b by
    # construction), carrying both fingerprints so hamming needs no re-join
    pair_structs = F.expr(
        # index-pair form (r15): see _pairs_from_sorted_ids — same
        # slice→element_at rewrite, same size>=2 precondition (the
        # bucket filter above pins it)
        "flatten(transform(sequence(1, size(ms) - 1), i -> "
        "transform(sequence(i + 1, size(ms)), j -> "
        "named_struct('id_a', element_at(ms, i).id,"
        " 'id_b', element_at(ms, j).id,"
        " 'sh_a', element_at(ms, i).sh,"
        " 'sh_b', element_at(ms, j).sh))))"
    )
    cand = buckets.select(F.explode(pair_structs).alias("p")).select("p.*")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)  # before distinct: fewer rows shuffled
        .select("id_a", "id_b", "hamming")
        .distinct()  # a pair may collide in several chunks; hamming is pair-determined
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_n: int = 3,
                  broadcast_benchmark: bool = True) -> DataFrame:
    """Benchmark decontamination: per-document n-gram overlap with an
    eval/benchmark corpus (the contamination check every training-data
    pipeline runs before a model sees the corpus).

    Scale path: the benchmark side collapses to a DISTINCT set of 60-bit
    shingle hashes (8 bytes each — a 1M-shingle benchmark is ~8 MB), which
    broadcasts to every executor; the corpus side then needs NO shuffle for
    the membership test — one narrow explode→hash→broadcast-left-join pass,
    and the per-doc distinct counts fold into the single groupBy(doc_id)
    via count(DISTINCT h) (Spark's two-phase distinct aggregate). Set
    ``broadcast_benchmark=False`` to fall back to a shuffle join when the
    benchmark itself is corpus-sized.

    Returns (doc_id, n_shingles, n_matched, contamination, contaminated).
    """
    bench_h = (
        shingle_rows(benchmark, text_col, id_col, shingle_n, distinct=False)
        .select(_md5_long(F.col("shingle"), 0).alias("h"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    if broadcast_benchmark:
        bench_h = F.broadcast(bench_h)
    doc_h = shingle_rows(docs, text_col, id_col, shingle_n, distinct=False).select(
        id_col, _md5_long(F.col("shingle"), 0).alias("h")
    )
    matched_h = F.when(F.col("hit") == 1, F.col("h"))
    return (
        doc_h.join(bench_h, "h", "left")
        .groupBy(id_col)
        .agg(
            F.countDistinct("h").alias("n_shingles"),
            F.countDistinct(matched_h).alias("n_matched"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_matched",
            F.round(F.col("n_matched") / F.col("n_shingles"), 6).alias("contamination"),
            (F.col("n_matched") > 0).alias("contaminated"),
        )
    )
