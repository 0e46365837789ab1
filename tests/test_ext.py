"""Extension-operator behavior tests: dedup finds planted duplicates,
similarity ranks the planted neighbor first, multimodal plumbing round-trips
through mapInPandas."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from skylogix_real_time_weather_data_pipeline_spark.ext import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")
    rows = [
        (0, base),
        (1, base),                       # exact dup of 0
        (2, near),                       # near dup of 0
        (3, "completely different words about spark query engines and shuffles"),
        (4, "another unrelated document mentioning parquet files and columnar scans"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_collapses_identical(docs):
    out = dedup.exact_dedup(docs)
    rows = {r.doc_id: r.n_copies for r in out.collect()}
    assert rows[0] == 2          # 0 and 1 share a fingerprint; min id survives
    assert out.count() == 4


def test_minhash_lsh_finds_near_dup(docs):
    pairs = dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got         # identical docs collide in every band
    assert (0, 2) in got or (1, 2) in got  # near dup shares most shingles


def test_ngram_jaccard_scores(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.3)
    j = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert j[(0, 1)] == 1.0
    assert 0.3 <= j[(0, 2)] < 1.0
    assert (0, 3) not in j


def test_simhash_hamming_close_for_near_dup(docs):
    pairs = dedup.simhash_near_pairs(docs, n_bits=32, max_hamming=4)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got[(0, 1)] == 0


def test_simhash_default_is_60_bit(docs):
    out = dedup.simhash(docs)
    vals = [r.simhash for r in out.collect()]
    assert all(0 <= v < 2 ** 60 for v in vals)
    assert any(v >= 2 ** 32 for v in vals)  # actually uses the high bits
    pairs = dedup.simhash_near_pairs(docs, max_hamming=3)  # 15-bit chunks
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got[(0, 1)] == 0  # identical docs at full width


def test_ngram_hot_shingle_cap_bounds_candidates(spark):
    """One ubiquitous phrase must not create pairs between otherwise
    unrelated docs once its shingles exceed the df cap."""
    boiler = "all rights reserved by the site"      # appears in EVERY doc
    rows = [(i, f"{boiler} unique content piece number {i} talks about topic {i * 7}")
            for i in range(20)]
    rows.append((100, rows[0][1].replace("topic", "subject")))  # true near-dup of 0
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = dedup.ngram_jaccard_pairs(df, threshold=0.2, max_shingle_df=None)
    capped = dedup.ngram_jaccard_pairs(df, threshold=0.2, max_shingle_df=5)
    n_un, n_cap = uncapped.count(), capped.count()
    # boilerplate shingles alone put every doc pair over threshold uncapped;
    # the cap removes them, leaving only genuinely-similar pairs
    assert n_un > 100          # ~all 21*20/2 pairs
    assert n_cap < 10
    assert {(r.id_a, r.id_b) for r in capped.collect()} >= {(0, 100)}


def _ngram_jaccard_model(rows, n, threshold, cap):
    """Brute-force capped-universe Jaccard: distinct n-gram shingle sets
    per doc (whole-doc shingle when shorter than n), drop shingles whose
    document frequency exceeds the cap, score every pair."""
    sets = {}
    for doc_id, text in rows:
        tk = text.split()
        sh = (
            {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}
            if len(tk) >= n else {" ".join(tk)}
        )
        sets[doc_id] = sh
    df_count = {}
    for sh in sets.values():
        for s in sh:
            df_count[s] = df_count.get(s, 0) + 1
    hot = {s for s, c in df_count.items() if cap is not None and c > cap}
    capped = {d: sh - hot for d, sh in sets.items()}
    out = {}
    ids = sorted(capped)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(capped[a] & capped[b])
            union = len(capped[a] | capped[b])
            if inter and union and inter / union >= threshold:
                out[(a, b)] = (inter, round(inter / union, 6))
    return out


def test_ngram_jaccard_matches_bruteforce_with_nonzero_corrections(spark):
    """The carried-sizes form derives per-doc capped sizes as
    n_raw − n_dropped; at the test SFs the cap never triggers, so this
    pins the CORRECTION path against a brute-force model on a corpus
    where boilerplate shingles genuinely exceed the cap — sizes, counts
    and scores must all match, including pairs whose docs lose different
    numbers of shingles to the cap, and short docs (whole-doc shingle)."""
    boiler = "copyright two thousand site inc"
    rows = [(i, f"{boiler} body part {i % 3} tail {i % 2} end") for i in range(8)]
    rows += [(100, "tiny doc"), (101, "tiny doc"),        # short-doc pair
             (102, f"{boiler} body part 0 tail 0 end extra words here")]
    cap, th, n = 4, 0.05, 3
    model = _ngram_jaccard_model(rows, n, th, cap)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.n_inter, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            df, shingle_n=n, threshold=th, max_shingle_df=cap
        ).collect()
    }
    # sanity: the scenario actually exercises nonzero corrections (the
    # capped scores differ from the uncapped ones)
    assert model != _ngram_jaccard_model(rows, n, th, None)
    assert got == model
    assert (100, 101) in got and got[(100, 101)][1] == 1.0


def test_ngram_jaccard_duplicate_ids_never_self_pair(spark):
    """A doc_id appearing in several input rows must not pair with itself:
    the carried-sizes posting lists store (id, n_raw) structs, and two
    rows with one id would otherwise be two distinct members of the same
    bucket (r9 review finding — the pre-r9 collect_set(id) form could
    never emit a self-pair)."""
    df = spark.createDataFrame(
        [(7, "a b c d e"), (7, "a b c d"), (9, "a b c x y")],
        "doc_id long, text string",
    )
    rows = dedup.ngram_jaccard_pairs(
        df, threshold=0.0, shingle_n=3, max_shingle_df=None
    ).collect()
    assert rows and all(r.id_a != r.id_b for r in rows)
    # the cross pair is still found, counted once per shared shingle
    assert {(r.id_a, r.id_b, r.n_inter) for r in rows} == {(7, 9, 1)}
    # UNION semantics for the duplicated id (r10 ADVICE): doc 7's shingle
    # set is the union of its rows ({abc,bcd,cde} ∪ {abc,bcd} → 3), doc 9
    # has {abc,bcx,cxy} → 3, intersection {abc} → J = 1/(3+3-1) = 0.2 —
    # NOT one row's carried n_raw (which would give 1/(2+3-1) = 0.25 for
    # the smaller row, or a >1/0-division in worse shapes)
    assert rows[0].jaccard == pytest.approx(0.2)


def test_ngram_jaccard_duplicate_ids_capped_union(spark):
    """Union correction composes with the df cap: the duplicated doc's
    size is the count of KEPT posting lists containing it, so a hot
    shingle dropped by the cap leaves both n_inter and the denominator
    consistent."""
    # shingle 'h h h' is shared by 4 docs -> df cap 3 drops it everywhere
    df = spark.createDataFrame(
        [
            (1, "h h h a b c d e"),   # row 1 of doc 1: {hhh,hha,hab,abc,bcd,cde}
            (1, "a b c d"),           # row 2 of doc 1: {abc,bcd}
            (2, "h h h a b c x y"),   # {hhh,hha,hab,abc,bcx,cxy}
            (3, "h h h z1 z2 z3"),    # {hhh,hhz1,hz1z2,z1z2z3}
            (4, "h h h w1 w2 w3"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.ngram_jaccard_pairs(
        df, threshold=0.0, shingle_n=3, max_shingle_df=3
    ).collect()
    assert all(r.id_a != r.id_b for r in rows)
    got = {(r.id_a, r.id_b): r for r in rows}
    # pair (1,2): kept universe drops only 'h h h' (df=4 > 3).
    # doc 1 union kept = {hha,hab,abc,bcd,cde} = 5; doc 2 kept =
    # {hha,hab,abc,bcx,cxy} = 5; inter = {hha,hab,abc} = 3 -> 3/7
    r = got[(1, 2)]
    assert r.n_inter == 3
    assert r.jaccard == pytest.approx(round(3 / 7, 6))
    assert all(r.jaccard <= 1.0 for r in rows)


def test_banded_lsh_finds_planted_near_dup_and_bounds_occupancy(spark):
    import math
    import random

    rng = random.Random(7)
    rows = []
    for i in range(60):
        rows.append((i, [rng.gauss(0, 1) for _ in range(64)]))
    rows.append((1000, [v * 1.0001 + 0.0001 for v in rows[0][1]]))  # near-dup of 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs = similarity.lsh_near_dup_pairs(df, threshold=0.9, n_tables=4, n_planes=16)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1000) in got

    # occupancy: with 16-bit buckets, random vectors should not pile into
    # one bucket — max same-(table,bucket) group stays tiny
    b = similarity.rp_lsh_buckets_banded(df, n_tables=4, n_planes=16)
    occ = b.groupBy("table_idx", "bucket").count().agg(F.max("count")).first()[0]
    assert occ <= 5


def test_rp_lsh_buckets_plan_is_shuffle_free(spark):
    df = spark.createDataFrame(
        [(0, [1.0] * 64), (1, [-1.0] * 64)], "vec_id long, embedding array<float>"
    )
    out = similarity.rp_lsh_buckets(df, n_planes=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # bucket is a per-row expression — narrow
    assert out.count() == 2


def test_connected_components_chain_and_singleton(spark):
    """Chain 1-2-3-4 collapses to min label 1 across multiple hops; 5-6 is
    its own component; 9 (isolated, via nodes) is a singleton."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 6, 9)], "doc_id long")
    out = dedup.connected_components(pairs, nodes=nodes)
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 9: 9}


def test_pii_scrub_patterns(spark):
    df = spark.createDataFrame(
        [
            (0, "contact alice@example.com or bob.smith@sub.domain.org now"),
            (1, "server at 192.168.0.1 answered"),
            (2, "call +1 (555) 123-4567 today"),
            (3, "clean text with no identifiers"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text.pii_scrub(df).collect()}
    assert got[0].n_email == 2 and "<EMAIL>" in got[0].scrubbed_text
    assert "alice" not in got[0].scrubbed_text
    assert got[1].n_ipv4 == 1 and "<IP>" in got[1].scrubbed_text
    assert got[2].n_phone == 1 and "<PHONE>" in got[2].scrubbed_text
    assert got[3].scrubbed_text == "clean text with no identifiers"


def test_pii_phone_does_not_eat_numeric_sequences(spark):
    """Regression (r2 ADVICE): the phone class contained \\s inside a {7,}
    span, so whitespace-separated digit runs — year lists, numeric table
    columns, space-grouped big numbers — collapsed into one <PHONE> tag."""
    df = spark.createDataFrame(
        [
            (0, "years 2024 2025 2026 saw growth"),
            (1, "revenue was 1 234 567 in 2024"),
            (2, "range 1999-2001 and ids 123 456 789 012"),
            (3, "call +44 20 7946 0958 or 555-123-4567"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text.pii_scrub(df).collect()}
    for i in (0, 1, 2):
        assert got[i].n_phone == 0, got[i].scrubbed_text
        assert "<PHONE>" not in got[i].scrubbed_text
    assert got[3].n_phone == 2


def test_top_ngrams_ranks_boilerplate_first(spark):
    rows = [(i, f"all rights reserved here doc {i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top = text.top_ngrams(df, k=3).collect()
    assert top[0].shingle == "all rights reserved"
    assert top[0].doc_freq == 5


def test_quality_and_langid_shapes(docs):
    q = text.quality_score(docs)
    assert q.filter((F.col("quality_score") < 0) | (F.col("quality_score") > 1)).count() == 0
    lid = text.language_id(docs)
    row = {r.doc_id: r.lang_pred for r in lid.collect()}
    assert row[0] == "en"        # 'the' hits dominate


def test_token_stats_empty_doc_pinned(spark):
    """Empty/whitespace docs: n_tokens=0, ratio columns NULL (nullif guard),
    quality_score still defined (diversity coalesced to 0)."""
    df = spark.createDataFrame(
        [(0, ""), (1, "   \t "), (2, "one two three")], "doc_id long, text string"
    )
    stats = {r.doc_id: r for r in text.token_stats(df).collect()}
    for i in (0, 1):
        assert stats[i].n_tokens == 0
        assert stats[i].lexical_diversity is None
        assert stats[i].avg_token_len is None
        assert stats[i].stopword_ratio is None
    assert stats[2].n_tokens == 3 and stats[2].lexical_diversity == 1.0
    q = {r.doc_id: r.quality_score for r in text.quality_score(df).collect()}
    assert q[0] == 0.25          # 0.5 (short) * (0.5 + 0.5*0)
    assert q[0] is not None and q[1] is not None


def test_cosine_topk_ranks_planted_neighbor(spark):
    import math

    base = [1.0] * 8
    near = [1.0] * 7 + [0.9]
    far = [(-1.0) ** i * float(i + 1) for i in range(8)]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far), (3, [0.0] * 7 + [1.0])],
        "vec_id long, embedding array<float>",
    )
    top = similarity.cosine_topk_by_id(df, query_id=0, k=2).collect()
    assert top[0].vec_id == 1
    assert top[0].cosine_sim == pytest.approx(
        sum(a * b for a, b in zip(base, near))
        / (math.sqrt(sum(x * x for x in base)) * math.sqrt(sum(x * x for x in near))),
        abs=1e-6,
    )


def test_ivf_topk_probes_right_cell(spark):
    rows = []
    for i in range(20):
        rows.append((i, [1.0 + 0.01 * i] * 4, 0))      # cell 0: near the query
    for i in range(20, 40):
        rows.append((i, [-1.0 - 0.01 * i] * 4, 1))     # cell 1: opposite direction
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = similarity.ivf_topk(df, [1.0, 1.0, 1.0, 1.0], k=5, nprobe=1)
    ids = [r.vec_id for r in out.collect()]
    assert len(ids) == 5 and all(i < 20 for i in ids)


def test_multimodal_feature_extraction(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    assets = multimodal.synthetic_assets(spark, docs)
    feats = multimodal.extract_features(assets)
    rows = feats.collect()
    assert len(rows) == 50
    r0 = rows[0]
    assert r0.n_bytes > 0 and len(r0.sha256) == 64
    assert r0.width is not None and 64 <= r0.width < 256  # stub decode contract
    # deterministic: same payload → same fake dimensions
    again = {r.asset_id: (r.width, r.height) for r in multimodal.extract_features(assets).collect()}
    assert all(again[r.asset_id] == (r.width, r.height) for r in rows)


def test_resize_and_audio_stub_plumbing(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    assets = multimodal.synthetic_assets(spark, docs, modality="audio")
    feats = multimodal.extract_features(assets)
    r = feats.first()
    assert r.width is not None  # audio stub decoder engaged

    resized = multimodal.resize_assets(multimodal.synthetic_assets(spark, docs), target=224)
    rows = resized.collect()
    assert all(r.width == 224 and r.height == 224 for r in rows)
    assert all(len(bytes(r.payload)) == 32 for r in rows)  # digest payload
    # deterministic: same input → same resized payload
    again = {r.asset_id: bytes(r.payload) for r in resized.collect()}
    assert all(again[r.asset_id] == bytes(r.payload) for r in rows)


def test_frame_sample_plan_fanout(spark):
    assets = spark.createDataFrame(
        [(1, "video", "video/mp4", bytearray(b"x" * 5000))],
        "asset_id long, modality string, mime_type string, payload binary",
    )
    plan = multimodal.frame_sample_plan(assets, every_n=2)
    idx = sorted(r.frame_index for r in plan.collect())
    assert idx[0] == 0 and len(idx) >= 2


def test_quality_topk_per_source_rank_and_bounds(spark):
    rows = [(i, "the and of to a in is it words " * 5 + f"unique{i}", f"s{i % 2}")
            for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = text.quality_topk_per_source(df, k=2).collect()
    assert len(out) == 4  # 2 sources × k=2
    for r in out:
        assert 1 <= r.rank_in_source <= 2
        assert 0.0 <= r.quality_score <= 1.0


def test_mixture_sample_deterministic_and_rate_shaped(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i}", "keep" if i % 2 == 0 else "drop") for i in range(400)],
        "doc_id long, text string, source string",
    )
    rates = {"keep": 1.0, "drop": 0.0}
    out1 = sorted(r.doc_id for r in text.mixture_sample(df, rates).collect())
    out2 = sorted(r.doc_id for r in text.mixture_sample(df, rates).collect())
    assert out1 == out2                      # deterministic across runs
    assert out1 == [i for i in range(400) if i % 2 == 0]  # rate 1.0 / 0.0 exact
    half = text.mixture_sample(df, {"keep": 0.5, "drop": 0.5}).count()
    assert 120 <= half <= 280                # ~50% of 400, hash-binomial


def test_token_quantiles_by_group_matches_exact_median(spark):
    df = spark.createDataFrame(
        [(0, "a b c", "x"), (1, "a b c d e", "x"), (2, "a", "y")],
        "doc_id long, text string, lang string",
    )
    got = {r.lang: r for r in text.token_quantiles_by_group(df).collect()}
    assert got["x"].n_docs == 2 and got["x"].q50 == 4.0  # interpolated (3+5)/2
    assert got["y"].q25 == got["y"].q75 == 1.0


def test_pack_documents_invariants_and_determinism(spark):
    rows = [(i, "tok " * (10 + (i * 37) % 90)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out1 = text.pack_documents(df, budget_tokens=128).collect()
    out2 = text.pack_documents(df.repartition(13), budget_tokens=128).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # partition-invariant

    by_pack = {}
    for r in out1:
        by_pack.setdefault(r.pack_id, []).append(r)
    assert sum(len(v) for v in by_pack.values()) == 200          # every doc packed once
    for members in by_pack.values():
        members.sort(key=lambda r: r.pack_offset)
        total = sum(r.n_tokens for r in members)
        if len(members) > 1:
            assert total <= 128                                  # budget respected
        # offsets are the running token sum
        acc = 0
        for r in members:
            assert r.pack_offset == acc
            acc += r.n_tokens


def test_pack_documents_oversize_doc_gets_own_pack(spark):
    df = spark.createDataFrame(
        [(0, "a " * 500), (1, "b c d"), (2, "e f")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text.pack_documents(df, budget_tokens=64).collect()}
    assert out[0].pack_id != out[1].pack_id                      # oversize isolated
    assert out[1].pack_id == out[2].pack_id                      # small docs share


def test_scalar_quantize_int8_codes_bounded_and_reconstructable(spark):
    rows = [(0, [0.0, 1.0, 2.0, 3.0]), (1, [-5.0, 5.0, 0.0, 2.5]), (2, [7.0] * 4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in similarity.scalar_quantize_int8(df).collect()}
    for vid, vec in rows:
        codes = [int(c) for c in out[vid].codes.split(",")]
        assert all(0 <= c <= 255 for c in codes)
        # reconstruction within half a quantization step (+ slack for the
        # 6-decimal rounding of offset/scale in the output columns:
        # |Δscale|·255 + |Δoffset| ≤ 1.3e-4)
        scale = out[vid].scale or 0.0
        for c, x in zip(codes, vec):
            assert abs((out[vid].offset + c * scale) - x) <= scale / 2 + 2e-4
    assert out[2].codes == "0,0,0,0" and out[2].scale == 0.0  # constant vector


def test_quantized_topk_preserves_clear_ranking(spark):
    """int8 quantization error is ~0.2% of the value range — a clearly
    closest vector must stay rank 1 through the quantized (ADC) scorer."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(1, 40)]
    q = [1.0] * 64
    rows.append((999, [x * 2.0 for x in q]))       # same direction as query
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.quantized_cosine_topk(df, q, k=3).collect()
    assert out[0].vec_id == 999
    assert out[0].approx_cosine > 0.99


def test_decontaminate_flags_overlap_only(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # shares 3-grams with bench
            (2, "one two three four five six seven"),     # disjoint
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup.decontaminate(corpus, bench).collect()}
    assert out[1].contaminated and out[1].n_matched == 2  # 'a b g', 'b g d'
    assert out[1].n_shingles == 4
    assert not out[2].contaminated and out[2].n_matched == 0
    assert abs(out[1].contamination - 0.5) < 1e-9


def test_kmeans_recovers_planted_clusters(spark):
    # two tight blobs far apart; seeds (ids 0,1) land one in each blob
    rows = []
    for i in range(10):
        base = [10.0, 10.0] if i % 2 == 0 else [-10.0, -10.0]
        rows.append((i, [base[0] + (i % 3) * 0.1, base[1] - (i % 3) * 0.1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.kmeans_assign(df, k=2, n_iter=3)
    got = {r.vec_id: r.cluster for r in out.collect()}
    # ids 0,2,4,.. (blob A, seed 0) vs 1,3,5,.. (blob B, seed 1)
    assert all(c == 0 for i, c in got.items() if i % 2 == 0)
    assert all(c == 1 for i, c in got.items() if i % 2 == 1)
    assert out.columns == ["vec_id", "cluster", "sqdist"]


def test_global_rank_is_permutation_and_partition_invariant(spark):
    from skylogix_real_time_weather_data_pipeline_spark.operators.shuffle import (
        global_rank,
        shard_for_training,
    )

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    r3 = {r.doc_id: r._rank for r in global_rank(df, "doc_id", n_partitions=3).collect()}
    r7 = {r.doc_id: r._rank for r in global_rank(df, "doc_id", n_partitions=7).collect()}
    assert sorted(r3.values()) == list(range(500))  # a permutation
    assert r3 == r7                                 # cluster-shape invariant
    sh = shard_for_training(df, shard_size=64)
    got = {(r.shard, r.pos_in_shard) for r in sh.collect()}
    assert len(got) == 500 and max(s for s, _ in got) == 7
    # the scale point: no single-partition global window anywhere
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_wav_audio_probe_is_real(spark):
    """A PCM WAV payload decodes to its true (sample_rate, duration);
    non-WAV audio falls back to the labeled digest stub."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(b"\x00\x01" * 16000 * 2)  # exactly 2 seconds
    wav = buf.getvalue()
    assets = spark.createDataFrame(
        [(1, "audio", "audio/wav", bytearray(wav)),
         (2, "audio", "audio/mpeg", bytearray(b"\xff\xfbMP3NOTWAV"))],
        multimodal.ASSET_SCHEMA,
    )
    out = {r.asset_id: r for r in multimodal.extract_features(assets).collect()}
    assert out[1].width == 160          # 16000 // 100
    assert out[1].height == 20          # 2.0 s in deciseconds
    stub = multimodal._decode_audio_stub(b"\xff\xfbMP3NOTWAV")
    assert (out[2].width, out[2].height) == stub


def test_header_probe_dims_for_jpeg_gif_bmp():
    """Dimension probing is real for JPEG/GIF/BMP headers (no pixel decode
    needed); truncated garbage degrades to the stub, never raises."""
    # minimal JPEG: SOI + APP0(len 4) + SOF0 (h=480, w=640)
    jpeg = (b"\xff\xd8" + b"\xff\xe0\x00\x04\x4a\x46"
            + b"\xff\xc0\x00\x11\x08" + (480).to_bytes(2, "big") + (640).to_bytes(2, "big")
            + b"\x03" + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01")
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 4
    bmp = (b"BM" + b"\x00" * 16
           + (800).to_bytes(4, "little") + (600).to_bytes(4, "little") + b"\x00" * 4)
    assert multimodal._jpeg_dims(jpeg) == (640, 480)
    assert multimodal._gif_dims(gif) == (320, 200)
    assert multimodal._bmp_dims(bmp) == (800, 600)
    garbage = b"\xff\xd8\xff"  # truncated JPEG
    assert multimodal._decode_image(garbage) == multimodal._decode_image_stub(garbage)


def test_tfidf_topk_ranks_rare_terms_first(spark):
    rows = [
        (0, "alpha alpha alpha common"),
        (1, "beta common"),
        (2, "gamma common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.tfidf_topk(df, k=2)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    # 'common' appears in every doc → idf = ln(4/4) = 0 → never outranks a
    # doc-unique term
    top0 = sorted(by_doc[0], key=lambda r: r.term_rank)[0]
    assert top0.term == "alpha" and top0.tf == 3 and top0.doc_freq == 1
    assert all(r.tfidf == 0.0 for rs in by_doc.values() for r in rs if r.term == "common")
    # k bound respected and ranks are 1..k
    assert all(len(rs) <= 2 for rs in by_doc.values())
    assert sorted(r.term_rank for r in by_doc[0]) == [1, 2]


def test_gopher_quality_filter_rules(spark):
    ok_doc = ("the quick brown fox jumps over the lazy dog and it runs to the "
              "river bank where a small boat waits in the morning light as birds sing")
    rows = [
        (0, ok_doc),                                  # passes everything
        (1, "tiny doc"),                              # fails word count + stopwords
        (2, ("spark " * 40).strip()),                 # fails repetition (all dup shingles)
        (3, ""),                                      # empty: word count + word len fail
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.gopher_quality_filter(df).collect()}
    assert out[0].keep
    assert not out[1].ok_word_count and not out[1].ok_stopwords and not out[1].keep
    assert not out[2].ok_repetition and out[2].dup_shingle_ratio > 0.9
    assert not out[3].keep and not out[3].ok_word_len
    # flags are consistent with keep
    for r in out.values():
        assert r.keep == (r.ok_word_count and r.ok_word_len and r.ok_repetition and r.ok_stopwords)


def test_split_assign_stable_under_corpus_growth(spark):
    """Hash-band splits are per-row properties: adding documents never
    reassigns existing ones (rand()-based splits fail this)."""
    small = spark.createDataFrame([(i, "x") for i in range(50)], "doc_id long, text string")
    big = spark.createDataFrame([(i, "x") for i in range(100)], "doc_id long, text string")
    a = {r.doc_id: r.split for r in text.split_assign(small).collect()}
    b = {r.doc_id: r.split for r in text.split_assign(big).collect()}
    assert all(b[k] == v for k, v in a.items())
    assert set(b.values()) <= {"train", "val", "test"}
    # 90/5/5 roughly holds even at n=100
    assert sum(1 for v in b.values() if v == "train") > 70


def test_split_assign_rejects_bad_fractions(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        text.split_assign(df, {"train": 0.5, "val": 0.2})


def test_ivf_quantized_topk_finds_planted_neighbor(spark):
    """The 3-stage chain (cell prune → int8 ADC → exact re-rank) must
    still surface a planted near-duplicate at rank 1, and re-ranking must
    order by the EXACT cosine, not the quantized approximation."""
    import random

    rng = random.Random(3)
    rows = []
    for i in range(40):
        rows.append((i, [rng.gauss(0, 1) for _ in range(64)], i % 4))
    query = rows[7][1]
    near = [v * 1.001 + 0.0005 for v in query]
    rows.append((999, near, rows[7][2]))  # planted neighbor in query's cell
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    out = similarity.ivf_quantized_topk(
        df.filter(F.col("vec_id") != 7), query, k=5, nprobe=1
    ).collect()
    assert out[0].vec_id == 999
    assert out[0].cosine_sim > 0.999
    # exact re-rank column orders the output (desc), approx rides along
    sims = [r.cosine_sim for r in out]
    assert sims == sorted(sims, reverse=True)
    assert all(r.approx_cosine is not None for r in out)


def test_sign_pack_and_hamming_topk(spark):
    """sign_pack is the documented big-endian bit fold; hamming_topk ranks a
    planted 1-bit-flip neighbor first."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import (
        hamming_topk,
        sign_pack,
    )

    base = [1.0 if i % 3 == 0 else -1.0 for i in range(64)]
    flip1 = list(base)
    flip1[5] = -flip1[5]  # 1-bit neighbor
    far = [-x for x in base]  # 64-bit complement
    df = spark.createDataFrame(
        [(0, base), (1, flip1), (2, far)], "vec_id long, embedding array<double>"
    )
    codes = df.select(
        "vec_id",
        sign_pack(F.col("embedding"), 0, 32).alias("lo"),
        sign_pack(F.col("embedding"), 32, 64).alias("hi"),
    ).collect()
    by_id = {r.vec_id: (r.lo, r.hi) for r in codes}
    expect_lo = sum((1 << (31 - i)) for i in range(32) if base[i] > 0)
    assert by_id[0][0] == expect_lo
    assert by_id[0][0] >= 0 and by_id[0][1] >= 0  # sign bit never touched
    out = hamming_topk(df, query_id=0, k=2).collect()
    assert [(r.vec_id, r.hamming) for r in out] == [(1, 1), (2, 64)]


def test_dup_chunk_ratio_model(spark):
    """Duplicated-chunk fraction against a hand-computed corpus: doc 1 and 2
    share one 3-token chunk; doc 3 is unique."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import dup_chunk_ratio

    df = spark.createDataFrame(
        [
            (1, "a b c x y z"),      # chunks: 'a b c', 'x y z'
            (2, "a b c q r s"),      # shares 'a b c'
            (3, "u v w"),            # unique single chunk
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dup_chunk_ratio(df, chunk_tokens=3, max_ratio=0.4).collect()}
    assert out[1].n_chunks == 2 and out[1].n_dup_chunks == 1
    assert abs(out[1].dup_ratio - 0.5) < 1e-9 and not out[1].keep
    assert out[2].n_dup_chunks == 1 and not out[2].keep
    assert out[3].n_dup_chunks == 0 and out[3].keep


def test_remove_dup_chunks_keep_first_rewrite(spark):
    """C4-style span removal: the first occurrence (by doc_id, start)
    survives, later ones — cross-doc and exact-duplicate docs — are cut,
    and surviving chunks reassemble in original order."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import remove_dup_chunks

    df = spark.createDataFrame(
        [
            (1, "a b c x y z"),      # chunks: 'a b c', 'x y z' — both first
            (2, "a b c q r s"),      # 'a b c' is a repeat; 'q r s' unique
            (3, "a b c x y z"),      # exact duplicate of doc 1 → empty
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_dup_chunks(df, chunk_tokens=3).collect()}
    assert out[1].n_removed == 0 and out[1].clean_text == "a b c x y z"
    assert out[2].n_removed == 1 and out[2].clean_text == "q r s"
    assert out[3].n_removed == 2 and out[3].clean_text == ""
    assert all(out[d].n_chunks == 2 for d in (1, 2, 3))


def test_winnowing_invariants_and_identical_docs(spark):
    """Winnowing structural guarantees: n_kgrams = n−k+1, windows =
    kgrams−w+1, and each fingerprint covers ≤ w windows so
    n_fingerprints ≥ ceil(windows/w); identical text gives identical
    fingerprint stats; sub-k docs degrade to zero counts, not a crash."""
    import math

    from skylogix_real_time_weather_data_pipeline_spark.ext.text import winnowing_stats

    words = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, words), (2, words), (3, "a b")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in winnowing_stats(df, k=4, w=5).collect()}
    assert out[1].n_kgrams == 17 and out[1].n_windows == 13
    assert out[1].n_fingerprints >= math.ceil(13 / 5)
    assert out[1].n_fingerprints <= out[1].n_windows
    assert (
        out[1].min_fp_h, out[1].min_fp_p, out[1].max_fp_h,
        out[1].max_fp_p, out[1].n_fingerprints,
    ) == (
        out[2].min_fp_h, out[2].min_fp_p, out[2].max_fp_h,
        out[2].max_fp_p, out[2].n_fingerprints,
    )
    assert out[3].n_kgrams == 0 and out[3].n_fingerprints == 0
    assert out[3].density is None


def test_bigram_logprob_closed_form(spark):
    """Interpolated bigram scores match the closed-form model and rank a
    corpus-typical transition pattern above a one-off."""
    import math

    from skylogix_real_time_weather_data_pipeline_spark.ext.text import bigram_logprob

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b")], "doc_id long, text string"
    )
    # cf: a=4 b=3, N=7; bc: (a,b)=3 (b,a)=2; pc: a=3 b=2
    p_ab = math.log(0.5 * 3 / 3 + 0.5 * 3 / 7)
    p_ba = math.log(0.5 * 2 / 2 + 0.5 * 4 / 7)
    out = {r.doc_id: r for r in bigram_logprob(df, lam=0.5, min_logprob=-0.3).collect()}
    assert out[1].n_bigrams == 4 and out[2].n_bigrams == 1
    assert abs(out[1].avg_logprob - round((2 * p_ab + 2 * p_ba) / 4, 6)) < 2e-6
    assert abs(out[2].avg_logprob - round(p_ab, 6)) < 2e-6
    assert out[1].avg_logprob > out[2].avg_logprob
    assert out[1].keep and not out[2].keep


def test_unigram_logprob_orders_common_above_rare(spark):
    """A doc of corpus-frequent words must out-score a doc of hapaxes, and
    the mean log-prob matches the closed-form unigram model."""
    import math

    from skylogix_real_time_weather_data_pipeline_spark.ext.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "the the the the"), (2, "qqq zzz"), (3, "the the qqq www")],
        "doc_id long, text string",
    )
    # corpus: the×6, qqq×2, zzz×1, www×1  (N=10)
    out = {r.doc_id: r for r in unigram_logprob(df, min_logprob=-1.5).collect()}
    assert out[1].avg_logprob > out[3].avg_logprob > out[2].avg_logprob
    expect1 = math.log(6 / 10)
    assert abs(out[1].avg_logprob - round(expect1, 6)) < 2e-6
    assert out[1].keep and not out[2].keep


def test_temperature_mixture_upsamples_tail_langs(spark):
    """α=0.5 flattening: the rare language's keep-rate must exceed the
    dominant language's, and realized counts respect the thresholds."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.text import temperature_mixture

    rows = [(i, "big") for i in range(900)] + [(1000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = {r.lang: r for r in temperature_mixture(df, alpha=0.5, budget_frac=0.5).collect()}
    assert out["big"].n_docs == 900 and out["small"].n_docs == 100
    # n^0.5 weights: 30 vs 10 → target shares 0.75 / 0.25
    assert abs(out["big"].target_share - 0.75) < 1e-6
    assert abs(out["small"].target_share - 0.25) < 1e-6
    # rates: big = 0.5*0.75*1000/900 ≈ 0.4167; small = min(1, 0.5*0.25*1000/100) = 1.0
    assert out["small"].n_selected == 100  # rate 1.0 keeps every tail doc
    assert 0 < out["big"].n_selected < 900
    rate_big = out["big"].n_selected / out["big"].n_docs
    assert rate_big < out["small"].n_selected / out["small"].n_docs


def test_pq_encode_recovers_prototype_indices(spark):
    """With n_iter=1 the codebooks ARE the first k ids' subvectors; a vector
    equal to seed s in every subspace must encode as (s, s, ..., s)."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import (
        pq_encode,
        pq_train,
    )

    import random

    rng = random.Random(3)
    protos = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(4)]
    rows = [(i, protos[i] * 4) for i in range(4)]  # seeds: 4 prototype vectors
    rows += [(10 + i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(df, m=4, k=4, n_iter=1)
    codes = {r.vec_id: (r.code_0, r.code_1, r.code_2, r.code_3)
             for r in pq_encode(df, books).collect()}
    for s in range(4):
        assert codes[s] == (s, s, s, s)


def test_pq_adc_topk_finds_planted_neighbor(spark):
    """A vector identical to the query must rank first under ADC (its code
    cells coincide with the query's nearest centroids), and distances are
    ascending with id tie-break."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import (
        pq_adc_topk,
        pq_train,
    )

    import random

    rng = random.Random(11)
    q = [rng.uniform(-1, 1) for _ in range(64)]
    rows = [(0, q)] + [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(1, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(df, m=4, k=8, n_iter=2)
    out = pq_adc_topk(df, q, books, topk=5).collect()
    assert out[0].vec_id == 0
    dists = [r.adc_sqdist for r in out]
    assert dists == sorted(dists)


def test_pq_codes_partition_layout_independent(spark):
    """Training and encoding must not depend on physical layout: same
    codebooks and codes at 1, 5 and 32 partitions."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import (
        pq_encode,
        pq_train,
    )

    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    snapshots = []
    for n in (1, 5, 32):
        d = df.repartition(n)
        books = pq_train(d, m=4, k=8, n_iter=2)
        codes = sorted(map(tuple, pq_encode(d, books).collect()))
        snapshots.append((books, codes))
    assert snapshots[0] == snapshots[1] == snapshots[2]


def test_ivf_pq_topk_prunes_to_probed_cell(spark):
    """IVFPQ composition: results come only from the probed cell(s), and a
    vector identical to the query (planted in the query's own cell) ranks
    first."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import (
        ivf_pq_topk,
        pq_train,
    )

    import random

    rng = random.Random(23)
    # two well-separated cells: label 0 near +1s, label 1 near -1s
    def vec(center, jitter=0.05):
        return [center + rng.uniform(-jitter, jitter) for _ in range(64)]

    q = vec(1.0)
    rows = [(0, q, 0)] + [(i, vec(1.0), 0) for i in range(1, 15)]
    rows += [(100 + i, vec(-1.0), 1) for i in range(15)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    books = pq_train(df, m=4, k=8, n_iter=2)
    out = ivf_pq_topk(df, q, books, topk=5, nprobe=1).collect()
    assert out[0].vec_id == 0
    assert all(r.vec_id < 100 for r in out)  # nothing from the far cell


def test_matryoshka_prefix_shortlist_and_rerank(spark):
    """A vector equal to the query ranks first; a decoy that matches the
    query ONLY on the prefix dims makes the shortlist on prefix_sim but
    loses the full-dim re-rank to genuinely closer vectors."""
    import random

    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import (
        matryoshka_topk,
    )

    rng = random.Random(5)
    q = [rng.uniform(-1, 1) for _ in range(64)]
    decoy = q[:16] + [-x for x in q[16:]]  # perfect prefix, anti-aligned tail
    rows = [(0, q), (1, decoy)] + [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(2, 60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = matryoshka_topk(df, q, k=5, prefix_dim=16, shortlist_factor=4).collect()
    assert out[0].vec_id == 0 and out[0].cosine_sim == 1.0
    assert out[0].prefix_sim == 1.0
    # the decoy's full-dim score must not win despite prefix_sim == 1.0
    assert all(r.vec_id != 1 for r in out[:1])
    sims = [r.cosine_sim for r in out]
    assert sims == sorted(sims, reverse=True)


def test_matryoshka_prefix_scan_matches_truncated_cosine(spark):
    """prefix_sim must equal cosine over the truncated vectors exactly
    (the MRL contract: the prefix IS the low-dim embedding)."""
    import math
    import random

    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import (
        matryoshka_topk,
    )

    rng = random.Random(9)
    q = [rng.uniform(-1, 1) for _ in range(8)]
    v = [rng.uniform(-1, 1) for _ in range(8)]
    df = spark.createDataFrame([(1, v)], "vec_id long, embedding array<double>")
    out = matryoshka_topk(df, q, k=1, prefix_dim=4, shortlist_factor=1).collect()[0]
    dot = sum(a * b for a, b in zip(q[:4], v[:4]))
    na = math.sqrt(sum(a * a for a in q[:4]))
    nb = math.sqrt(sum(b * b for b in v[:4]))
    assert out.prefix_sim == round(dot / (na * nb), 6)


def test_pca_top_component_finds_planted_direction(spark):
    """Data = strong variance along a planted axis + small noise: the
    power iteration must converge onto that axis (|component| ≈ 1 there,
    ≈ 0 elsewhere) with a positive eigenvalue estimate."""
    import random

    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import (
        pca_top_component,
    )

    rng = random.Random(3)
    axis = 5  # planted high-variance coordinate
    rows = []
    for i in range(80):
        v = [rng.uniform(-0.05, 0.05) for _ in range(16)]
        v[axis] += rng.choice([-1.0, 1.0]) * rng.uniform(0.8, 1.2)
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.pos: (r.component, r.eigenvalue) for r in pca_top_component(df, n_iter=3).collect()}
    assert len(out) == 16
    comp_axis = abs(out[axis][0])
    assert comp_axis > 0.98
    assert all(abs(out[p][0]) < 0.2 for p in out if p != axis)
    assert out[axis][1] > 0.5  # eigenvalue ≈ planted variance (~1)


def test_bm25_topk_closed_form_and_ranking(spark):
    """BM25 matches the hand-computed Okapi score, excludes zero-match
    docs, and rewards multi-term matches + short docs."""
    import math

    from skylogix_real_time_weather_data_pipeline_spark.ext.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "apple apple banana pear"),   # both terms, apple tf=2
            (2, "apple pear pear pear"),      # one term
            (3, "kiwi kiwi kiwi kiwi"),       # zero query terms
            (4, "banana kiwi"),               # one term, short doc
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           bm25_topk(df, ["apple", "banana"], k=10).collect()}
    assert 3 not in out                       # zero-match docs never scored
    assert out[1].n_terms_matched == 2
    assert out[2].n_terms_matched == out[4].n_terms_matched == 1
    # hand-computed: N=4, avgdl=3.5, df(apple)=df(banana)=2,
    # idf = ln((4-2+0.5)/(2+0.5)+1) = ln(2); k1=1.2, b=0.75
    idf = math.log(2.0)
    norm4 = 1.2 * (0.25 + 0.75 * 4 / 3.5)

    def term(tf, norm):
        return idf * tf * 2.2 / (tf + norm)

    expect1 = term(2, norm4) + term(1, norm4)
    assert abs(out[1].bm25 - round(expect1, 6)) < 2e-6
    # multi-term doc outranks single-term docs; the short doc's length
    # normalization boosts it above the avg-length single-term doc
    assert out[1].bm25 > out[4].bm25 > out[2].bm25


def test_rrf_fuse_combines_and_ranks_consensus_first(spark):
    """A doc present in both shortlists must outrank docs present in only
    one; the fused score equals the closed-form 1/(c+r) sum."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import rrf_fuse

    sparse = spark.createDataFrame(
        [(1, 5.0), (2, 4.0), (3, 3.0)], "doc_id long, bm25 double"
    )
    dense = spark.createDataFrame(
        [(2, 0.9), (4, 0.8)], "doc_id long, cosine_sim double"
    )
    out = {r.doc_id: r for r in rrf_fuse(sparse, dense, k=10, c=60).collect()}
    assert set(out) == {1, 2, 3, 4}
    # doc 2: rank 2 sparse + rank 1 dense → both lists, highest fusion
    assert out[2].rank_sparse == 2 and out[2].rank_dense == 1
    assert out[1].rank_dense is None and out[4].rank_sparse is None
    expect2 = (round(1e9 / 62) + round(1e9 / 61)) / 1e9
    assert abs(out[2].rrf_score - expect2) < 1e-12
    top = sorted(out.values(), key=lambda r: -r.rrf_score)
    assert top[0].doc_id == 2


def test_mmr_rerank_promotes_diverse_over_redundant(spark):
    """Corpus = a tight cluster of near-identical vectors (all highly
    relevant) + one moderately relevant orthogonal vector. Plain top-k
    would fill with cluster members; MMR must pick the diverse vector
    second because redundancy penalizes the cluster."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import mmr_rerank

    rows = [(0, [1.0, 0.0, 0.0, 0.0])]           # query
    for i in range(1, 5):                        # near-identical cluster, rel ≈ 1
        rows.append((i, [1.0, 0.001 * i, 0.0, 0.0]))
    rows.append((9, [0.5, 0.0, 0.8, 0.0]))       # diverse, moderately relevant
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = mmr_rerank(df, query_id=0, k=3, shortlist=10, lam=0.5)
    picked = [r.vec_id for r in out.orderBy("mmr_rank").collect()]
    assert picked[0] == 1                        # highest relevance first (tie→min id)
    assert picked[1] == 9                        # diversity beats the redundant cluster
    assert picked[2] in (2, 3, 4)
    ranks = [r.mmr_rank for r in out.collect()]
    assert sorted(ranks) == [1, 2, 3]


def test_zipf_fit_recovers_planted_power_law(spark):
    """A corpus whose term frequencies follow freq(rank) = C·rank^s must
    fit back slope ≈ s with near-perfect correlation."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.text import zipf_fit

    # plant freq = round(1000 * rank^-1) for 20 distinct terms
    words = []
    for r in range(1, 21):
        words += [f"w{r:02d}"] * round(1000 / r)
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    out = zipf_fit(df, top_terms=20).collect()[0]
    assert out.n_terms == 20
    assert abs(out.slope - (-1.0)) < 0.02     # planted exponent recovered
    assert out.pearson_r < -0.999             # near-perfect log-log line
    # intercept ≈ ln(1000)
    import math
    assert abs(out.intercept - math.log(1000)) < 0.05


def test_mmr_lambda_one_reduces_to_relevance_topk(spark):
    """λ=1 removes the redundancy penalty entirely: MMR must degenerate to
    the plain relevance ranking (rel desc, id asc) — the boundary that
    pins the integer-unit recurrence against sign/scale mistakes."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import mmr_rerank

    rows = [(0, [1.0, 0.0, 0.0])]
    for i in range(1, 8):
        rows.append((i, [1.0, 0.05 * i, 0.01 * i]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = mmr_rerank(df, query_id=0, k=5, shortlist=7, lam=1.0)
    rows_out = out.orderBy("mmr_rank").collect()
    rels = [r.relevance for r in rows_out]
    assert rels == sorted(rels, reverse=True)
    # mmr_score must equal λ·relevance exactly in integer units
    for r in rows_out:
        assert abs(r.mmr_score - round(r.relevance * 1e6) * 1000 / 1e9) < 1e-12


def test_winnowing_pairs_detects_shared_run(spark):
    """Two docs sharing a run of ≥ w+k-1 tokens must surface as a
    candidate pair (the winnowing guarantee); an unrelated doc must not
    pair; a boilerplate fingerprint over the df cap generates nothing."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import winnowing_pairs

    shared = " ".join(f"s{i}" for i in range(10))   # 10-token shared run
    df = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"zz yy {shared} xx ww"),
            (3, "totally different words here with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    out = winnowing_pairs(df, k=4, w=5, min_shared=1).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    # cap: with max_fp_df=1 no posting list survives -> zero pairs
    assert winnowing_pairs(df, k=4, w=5, min_shared=1, max_fp_df=1).count() == 0


def test_distill_filter_beats_majority_and_learns_band(spark):
    """The distilled linear model must beat the majority class on a corpus
    where keep is driven by the word-count band and stopword threshold,
    with the expected weight signs (band distance negative, stop hits
    positive); training is deterministic across invocations."""
    import random

    from skylogix_real_time_weather_data_pipeline_spark.ext.text import distill_quality_classifier

    rng = random.Random(11)
    rows = []
    for i in range(300):
        # wide vocabulary of ~5-char words keeps the repetition and
        # word-length rules satisfied, so keep is driven by the band
        # (~3/4 in 25..80) and the stopword threshold (~3/4 past it) →
        # keep ≈ 55%: balanced enough that majority-class is beatable
        n = rng.choice([30, 40, 50, 60, 70, 75, 10, 120])
        stops = rng.choice([0, 2, 3, 4])
        words = ["the"] * stops + [f"a{rng.randint(0, 9999)}" for _ in range(n - stops)]
        rng.shuffle(words)
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = distill_quality_classifier(df, n_iter=15, lr2=4).collect()
    acc = out[0].train_accuracy
    n, k = out[0].n_docs, out[0].n_keep
    majority = max(k, n - k) / n
    assert acc > majority + 0.05, (acc, majority)
    w = {r.feature: r.weight for r in out}
    assert w["wc_band_dist"] < 0 and w["stop_hits_c"] > 0
    out2 = distill_quality_classifier(df, n_iter=15, lr2=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_distill_score_matches_python_model_and_is_shuffle_free(spark):
    """Frozen-model inference: distill_score must replay the trainer's
    exact integer arithmetic (half-away division, rational squashing) —
    pinned against a Python replica — and its plan must be ONE narrow
    projection: no exchange, no aggregate, no join."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.text import (
        distill_score,
    )

    W = [395328, -459166, -420422, 1545456, -2873567]
    M = [543300, 450912, 531667, 218300]
    SD = [249738, 21056, 323087, 122675]
    U = 1_000_000

    def pydiv_ha(n, d):  # signed half-away integer division
        return (2 * n + d) // (2 * d) if n >= 0 else -((2 * -n + d) // (2 * d))

    texts = {
        1: "the and of " + " ".join(f"w{i}" for i in range(40)),   # in-band
        2: "tiny",                                                  # below band
        3: " ".join(f"x{i}" for i in range(200)),                   # far above
        4: "",                                                      # empty doc
    }

    def model(text):
        tk = [t for t in text.split() if t]
        n_words = len(tk)
        chars = len(text.replace(" ", ""))
        stops = sum(1 for t in tk if t in
                    {"the", "and", "of", "to", "a", "in", "is", "it"})
        f = [
            n_words * 10_000,
            pydiv_ha(chars * 100_000, n_words) if n_words else 0,
            pydiv_ha(min(stops, 6) * U, 6),
            abs(n_words * 10_000 - 525_000),
        ]
        x = [U] + [pydiv_ha((f[j] - M[j]) * U, SD[j]) for j in range(4)]
        zu = pydiv_ha(sum(W[j] * x[j] for j in range(5)), U)
        pu = U // 2 + pydiv_ha(U * zu, 2 * (U + abs(zu)))
        return zu / U, pu / U, zu >= 0

    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = distill_score(df, W, M, SD)
    got = {r.doc_id: (r.z, r.score, r.keep) for r in out.collect()}
    for i, text in texts.items():
        assert got[i] == model(text), (i, got[i], model(text))
    plan = out._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "Aggregate", "Join", "Sort"):
        assert bad not in plan, f"{bad} in distill_score plan"

    import pytest as _pytest
    with _pytest.raises(ValueError):
        distill_score(df, W[:4], M, SD)
    with _pytest.raises(ValueError):
        distill_score(df, W, M, [0, 1, 1, 1])


def test_ivf_filtered_topk_adapts_probe_depth(spark):
    """A rare predicate must WIDEN the probed-cell prefix until enough
    matching candidates exist (the fixed-nprobe under-fill bug), and with
    oversample covering everything the result equals the exact filtered
    brute force."""
    import random

    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import (
        cosine_topk, ivf_filtered_topk,
    )

    rng = random.Random(3)
    centers = {0: (10.0, 0.0), 1: (0.0, 10.0), 2: (-10.0, -10.0)}
    rows = []
    i = 0
    for lab, (cx, cy) in centers.items():
        for _ in range(30):
            rows.append((i, [cx + rng.gauss(0, 0.5), cy + rng.gauss(0, 0.5)], lab))
            i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    qv = [10.0, 0.5]
    pred = F.col("vec_id") % 7 == 0

    out = ivf_filtered_topk(df, qv, pred, k=4, oversample=2).collect()
    assert len(out) == 4
    assert all(r.vec_id % 7 == 0 for r in out)
    # ~30/7 ≈ 4 matches per cell < k·oversample=8 → at least 2 cells probed
    assert out[0].n_probed >= 2

    full = ivf_filtered_topk(df, qv, pred, k=4, oversample=1000).collect()
    assert full[0].n_probed == 3
    exact = cosine_topk(df.filter(pred), qv, k=4).collect()
    assert [(r.vec_id, r.cosine_sim) for r in full] == [(r.vec_id, r.cosine_sim) for r in exact]


def test_lang_source_chisq_closed_form(spark):
    """2×2 contingency with a known statistic: independence gives chi2≈0;
    a fully dependent layout gives chi2 = N."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.text import lang_source_chisq

    indep = [(i, "en" if i % 2 == 0 else "de", "web" if i < 20 else "books")
             for i in range(40)]
    df = spark.createDataFrame([(i, l, s) for i, l, s in indep],
                               "doc_id long, lang string, source string")
    out = lang_source_chisq(df).collect()[0]
    assert (out.n_rows, out.n_cols, out.dof, out.n_total) == (2, 2, 1, 40)
    assert abs(out.chi2) < 1e-6  # perfectly independent by construction

    dep = [(i, "en", "web") for i in range(20)] + [(i + 20, "de", "books") for i in range(20)]
    df2 = spark.createDataFrame(dep, "doc_id long, lang string, source string")
    out2 = lang_source_chisq(df2).collect()[0]
    assert abs(out2.chi2 - 40.0) < 1e-5  # perfect dependence: chi2 = N


def _substring_model(docs, k, min_count=2):
    """Brute-force reference for substring_dup_spans: count k-grams as
    TUPLES (no hashing), mark covered positions, then compute
    ``dup_tokens`` as the size of an EXPLICIT token-index set (the union
    of the [p, p+k) windows — independent of the operator's incremental
    contribution accounting, which a first model version got wrong by
    double-counting overlapping windows) and ``n_dup_spans`` as the
    number of overlapping-window chains (a new span starts when the gap
    to the previous covered position exceeds k−1, i.e. the windows no
    longer share a token)."""
    from collections import Counter

    toks = {d: t.split() for d, t in docs}
    grams = Counter()
    for d, ts in toks.items():
        for i in range(max(len(ts) - k + 1, 0)):
            grams[tuple(ts[i:i + k])] += 1
    out = {}
    for d, ts in toks.items():
        cov = [i for i in range(max(len(ts) - k + 1, 0))
               if grams[tuple(ts[i:i + k])] >= min_count]
        covered_tokens: set[int] = set()
        spans, prev = 0, None
        for p in cov:
            covered_tokens.update(range(p, p + k))
            if prev is None or p - prev > k - 1:
                spans += 1
            prev = p
        dup_tokens = len(covered_tokens)
        n_tok = len(ts)
        out[d] = (n_tok, max(n_tok - k + 1, 0), spans, dup_tokens,
                  (dup_tokens * 1_000_000) // n_tok if n_tok else 0)
    return out


def test_substring_dup_spans_matches_bruteforce_model(spark):
    """Adversarial shapes: overlapping covered windows (no double count),
    adjacent-but-separate spans, intra-doc repetition, doc shorter than
    k, empty doc, and a whole-doc duplicate pair."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_dup_spans,
    )

    boiler = "the quick brown fox jumps over the lazy dog again"
    docs = [
        # whole-doc duplicate pair
        (1, boiler),
        (2, boiler),
        # shared span embedded mid-doc with unique flanks (overlap-merge)
        (3, "alpha beta " + boiler + " gamma delta epsilon"),
        # TWO disjoint duplicated spans in one doc
        (4, boiler + " unique1 unique2 unique3 unique4 " + boiler),
        # intra-doc repetition only (gram duplicated within ONE doc)
        (5, "x1 x2 x3 x4 mid1 mid2 x1 x2 x3 x4 tail1"),
        # shorter than k
        (6, "a b"),
        # empty
        (7, ""),
        # no duplication at all
        (8, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
    ]
    k = 3
    model = _substring_model(docs, k)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.n_kgrams, r.n_dup_spans, r.dup_tokens,
                   r.dup_ratio_ppm)
        for r in substring_dup_spans(df, k=k).collect()
    }
    assert got == model
    # sanity on the interesting rows: the whole-doc pair is fully covered
    assert got[1][3] == got[1][0]
    # doc 5's intra-doc repeat covers both copies of the x-run
    assert got[5][2] == 2 and got[5][3] == 8
    # short/empty docs emit zero-rows, not nothing
    assert got[6] == (2, 0, 0, 0, 0) and got[7] == (0, 0, 0, 0, 0)


def _rewrite_model(docs, k, min_count=2):
    """Brute-force reference for substring_dedup_rewrite: gram tuples
    counted corpus-wide, keep-first = argmin (doc_id, pos) per gram,
    token removed iff covered by a duplicate-occurrence window and by no
    kept window."""
    from collections import defaultdict

    toks = {d: t.split() for d, t in docs}
    occ = defaultdict(list)
    for d, ts in sorted(toks.items()):
        for i in range(max(len(ts) - k + 1, 0)):
            occ[tuple(ts[i:i + k])].append((d, i))
    out = {}
    for d, ts in toks.items():
        dup_cov, kept_cov = set(), set()
        for i in range(max(len(ts) - k + 1, 0)):
            g = occ[tuple(ts[i:i + k])]
            if len(g) >= min_count:
                target = dup_cov if min(g) != (d, i) else kept_cov
                target.update(range(i, i + k))
        removed = dup_cov - kept_cov
        clean = " ".join(t for i, t in enumerate(ts) if i not in removed)
        out[d] = (len(ts), len(removed), clean)
    return out


def test_substring_dedup_rewrite_matches_bruteforce_model(spark):
    """Keep-first span removal: whole-doc duplicate collapses to empty,
    the first copy is untouched; intra-doc repeats keep the first run;
    overlapping kept/dup windows resolve kept-wins; short docs pass
    through untouched."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_dedup_rewrite,
    )

    boiler = "the quick brown fox jumps over the lazy dog again"
    docs = [
        (1, boiler),
        (2, boiler),                                     # exact dup → empty
        (3, "alpha beta " + boiler + " gamma delta"),    # embedded copy cut
        (4, "x1 x2 x3 x4 mid x1 x2 x3 x4"),              # intra-doc repeat
        (5, "a b"),                                       # shorter than k
        (6, ""),                                          # empty
        (7, "u1 u2 u3 u4 u5 u6 u7 u8"),                   # no duplication
    ]
    k = 3
    model = _rewrite_model(docs, k)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in substring_dedup_rewrite(df, k=k).collect()
    }
    assert got == model
    assert got[1] == (10, 0, boiler)          # first copy untouched
    assert got[2][2] == "" and got[2][1] == 10  # exact dup fully removed
    assert got[4] == (9, 4, "x1 x2 x3 x4 mid")  # second run cut
    assert got[6] == (0, 0, "")


def test_substring_shared_gram_pairs_planted_and_df_cap(spark):
    """The exact pair detector finds a planted shared-span pair with the
    exact distinct-gram count, and the df cap suppresses
    boilerplate-only pairs."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_shared_gram_pairs,
    )

    span = "s1 s2 s3 s4 s5 s6"
    boiler = "b1 b2 b3 b4"
    rows = [
        (0, span + " left0 tail0"),
        (1, "head1 " + span + " tail1"),
    ] + [(10 + i, boiler + f" unique{i} filler{i}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    k = 3
    got = {(r.id_a, r.id_b): r.n_shared_grams
           for r in substring_shared_gram_pairs(df, k=k, min_shared=2,
                                                max_gram_df=1000).collect()}
    # span has 6 tokens → 4 k-grams, all shared between docs 0 and 1
    assert got[(0, 1)] == 4
    # boilerplate docs share only the 2 grams inside `boiler` — with the
    # df cap at 3 those grams (df=6) drop and no boiler pair survives
    capped = {(r.id_a, r.id_b)
              for r in substring_shared_gram_pairs(df, k=k, min_shared=2,
                                                   max_gram_df=3).collect()}
    assert capped == {(0, 1)}


def test_pairs_from_sorted_ids_short_arrays_yield_no_pairs(spark):
    """The in-bucket pair fan-out returns an empty list for empty and
    singleton arrays instead of failing the job on element_at(ids, 0),
    and every (a < b) index pair otherwise."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        _pairs_from_sorted_ids,
    )

    df = spark.createDataFrame(
        [(0, []), (1, [5]), (2, [1, 2]), (3, [1, 2, 3])],
        "k int, ids array<long>",
    )
    got = {
        r.k: [(p.id_a, p.id_b) for p in r.p]
        for r in df.select("k", _pairs_from_sorted_ids("ids").alias("p")).collect()
    }
    assert got == {0: [], 1: [], 2: [(1, 2)], 3: [(1, 2), (1, 3), (2, 3)]}


def test_global_rank_handles_null_id(spark):
    """A NULL id must rank like any other (sentinel-hashed), not crash
    the driver-side offset fold (r8 review: NULL hash → NULL bucket →
    sorted(counts) TypeError)."""
    from skylogix_real_time_weather_data_pipeline_spark.operators.shuffle import (
        global_rank,
    )

    df = spark.createDataFrame(
        [(1,), (2,), (None,), (3,)], "doc_id long"
    )
    got = global_rank(df, "doc_id", n_partitions=3).collect()
    assert sorted(r._rank for r in got) == [0, 1, 2, 3]
    assert sum(1 for r in got if r.doc_id is None) == 1


def test_substring_rewrite_rejects_non_integral_ids(spark):
    """String doc ids would cast to NULL inside the (doc, pos) order
    encoding and silently make the rewrite a no-op — the operator must
    fail fast instead (r8 review)."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_dedup_rewrite,
    )

    df = spark.createDataFrame(
        [("doc-1", "a b c"), ("doc-2", "a b c")], ["doc_id", "text"]
    )
    with pytest.raises(ValueError, match="integral"):
        substring_dedup_rewrite(df, k=2)


def test_substring_rewrite_enforces_order_encoding_bounds(spark):
    """doc_id outside [0, 2^43) would silently perturb the keep-first
    argmin (the oracle shares the encoding, so differential tests can't
    see it) — the plan must RAISE on a violating row instead (r8
    advisor). In-bounds ids at the top of the range still work."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_dedup_rewrite,
    )

    # negative doc_id → assert_true fires during execution
    bad = spark.createDataFrame(
        [(-1, "a b c d"), (2, "a b c d")], ["doc_id", "text"]
    )
    with pytest.raises(Exception, match="order-encoding"):
        substring_dedup_rewrite(bad, k=2).collect()
    # oversized doc_id (>= 2^43) → same
    big = spark.createDataFrame(
        [(1 << 43, "a b c d"), (2, "a b c d")], ["doc_id", "text"]
    )
    with pytest.raises(Exception, match="order-encoding"):
        substring_dedup_rewrite(big, k=2).collect()
    # the largest legal id passes and keep-first still favors the SMALLER id
    ok = spark.createDataFrame(
        [((1 << 43) - 1, "a b c d"), (2, "a b c d")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r.clean_text for r in substring_dedup_rewrite(ok, k=2).collect()}
    assert rows[2] == "a b c d" and rows[(1 << 43) - 1] == ""


def test_substring_spans_null_text_counts_zero_tokens(spark):
    """NULL text == empty doc: n_tokens must be 0, never the -1 that
    F.size(NULL array) yields (r8 advisor)."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_dup_spans,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c d"), (4, "a b c d")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_tokens, r.dup_tokens)
           for r in substring_dup_spans(df, k=3).collect()}
    assert got[1] == (0, 0) and got[2] == (0, 0)
    assert got[3] == (4, 4) and got[4] == (4, 4)


def test_keep_best_per_cluster_prefers_longest_then_smallest_id(spark):
    """Survivor = highest score, ties -> smallest id; singletons keep
    themselves; exactly one keeper per cluster."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        keep_best_per_cluster,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9), (5, 5), (6, 5)],
        "doc_id long, cluster_id long",
    )
    scores = spark.createDataFrame(
        [(1, 4), (2, 9), (3, 9), (9, 1), (5, 7), (6, 7)],
        "doc_id long, score long",
    )
    got = {r.doc_id: (r.cluster_id, r.score, r.keep)
           for r in keep_best_per_cluster(labels, scores).collect()}
    # cluster 1: docs 2 and 3 tie on score 9 -> smallest id (2) kept
    assert got[2][2] and not got[3][2] and not got[1][2]
    # singleton keeps itself
    assert got[9][2]
    # cluster 5: tie -> id 5
    assert got[5][2] and not got[6][2]
    # exactly one keeper per cluster
    from collections import Counter
    keepers = Counter(v[0] for k, v in got.items() if v[2])
    assert all(c == 1 for c in keepers.values()) and len(keepers) == 3


def test_keep_best_per_cluster_unscored_members_rank_last(spark):
    """A labeled member missing from the scores frame stays in the
    decision table (LEFT join, r10 ADVICE) with a NULL score ranked below
    every real score — it never silently disappears, never wins over a
    scored member, and an all-unscored cluster still elects exactly one
    survivor (smallest id)."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        keep_best_per_cluster,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)],
        "doc_id long, cluster_id long",
    )
    # doc 1 unscored in cluster 1; cluster 7 entirely unscored
    scores = spark.createDataFrame([(2, 5), (3, 9)], "doc_id long, score long")
    got = {r.doc_id: (r.score, r.keep)
           for r in keep_best_per_cluster(labels, scores).collect()}
    assert set(got) == {1, 2, 3, 7, 8}          # full coverage of labels
    assert got[1] == (None, False)               # unscored loses to scored
    assert got[3][1] and not got[2][1]           # argmax among scored
    assert got[7] == (None, True) and got[8] == (None, False)  # id tiebreak
    """The distributed score-bucket cumulative sum must equal the naive
    global prefix walk (score DESC, id ASC), including a score shared by
    many docs (intra-bucket window + offset seam) and the exact-budget
    boundary doc."""
    from skylogix_real_time_weather_data_pipeline_spark.operators.shuffle import (
        budget_select,
    )

    rows = [(1, 5, 10), (2, 5, 20), (3, 9, 30), (4, 2, 40), (5, 9, 5),
            (6, 5, 15)]  # (id, score, weight)
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    cum, model = 0, {}
    for i, s, w in order:
        cum += w
        model[i] = (cum, cum <= 60)
    df = spark.createDataFrame(rows, "doc_id long, score long, w long")
    got = {r.doc_id: (r.cum_weight, r.keep)
           for r in budget_select(df, "score", "w", budget=60).collect()}
    assert got == model
    # boundary behavior: score-9 bucket in id order (3→30, 5→35), then
    # score-5 (1→45, 2→65, 6→80) — doc 2 crosses the budget and is cut,
    # and so is everything after it in the walk
    assert got[3] == (30, True) and got[5] == (35, True)
    assert got[1] == (45, True) and not got[2][1] and not got[6][1]
    assert not got[4][1]


def test_budget_select_score_types_and_null_rejection(spark):
    """The offsets frame derives its schema from the input score column
    (r10 ADVICE): int, double and string scores all work (not just long),
    and a NULL score — undefined in a total quality order — raises
    instead of crashing the driver sort."""
    from skylogix_real_time_weather_data_pipeline_spark.operators.shuffle import (
        budget_select,
    )

    # int score (would previously rely on an implicit cast into 's long')
    df_i = spark.createDataFrame([(1, 3, 10), (2, 1, 10)],
                                 "doc_id long, score int, w long")
    got = {r.doc_id: r.keep for r in budget_select(df_i, "score", "w", 10).collect()}
    assert got == {1: True, 2: False}

    # double score (createDataFrame against 's long' used to raise)
    df_d = spark.createDataFrame([(1, 0.75, 10), (2, 0.25, 10)],
                                 "doc_id long, score double, w long")
    got = {r.doc_id: r.keep for r in budget_select(df_d, "score", "w", 10).collect()}
    assert got == {1: True, 2: False}

    # string score: lexicographic DESC is the declared order
    df_s = spark.createDataFrame([(1, "b", 10), (2, "a", 10)],
                                 "doc_id long, score string, w long")
    got = {r.doc_id: r.keep for r in budget_select(df_s, "score", "w", 10).collect()}
    assert got == {1: True, 2: False}

    import pytest as _pytest
    df_n = spark.createDataFrame([(1, None, 10), (2, 5, 10)],
                                 "doc_id long, score bigint, w long")
    with _pytest.raises(ValueError, match="NULL values in score column"):
        budget_select(df_n, "score", "w", 10)

    df_nan = spark.createDataFrame([(1, float("nan"), 10), (2, 0.5, 10)],
                                   "doc_id long, score double, w long")
    with _pytest.raises(ValueError, match="NaN values in score column"):
        budget_select(df_nan, "score", "w", 10)


def test_source_cap_select_ranks_within_source(spark):
    """Per-source cap: rank by score DESC then id ASC within each source,
    keep = rank <= cap; NULL scores rank last; sources are independent."""
    from skylogix_real_time_weather_data_pipeline_spark.operators.shuffle import (
        source_cap_select,
    )

    rows = [
        (1, "a", 50), (2, "a", 90), (3, "a", 90), (4, "a", None),
        (5, "b", 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, score long")
    got = {r.doc_id: (r.source_rank, r.keep)
           for r in source_cap_select(df, per_source=2, score_col="score").collect()}
    assert got[2] == (1, True)    # score 90, smaller id wins the tie
    assert got[3] == (2, True)
    assert got[1] == (3, False)   # over the cap
    assert got[4] == (4, False)   # NULL score ranks last
    assert got[5] == (1, True)    # source b independent


def test_semdedup_accepts_precomputed_labels(spark):
    """semdedup(labels=...) must run the identical pruning kernel over a
    caller-supplied clustering: feeding the built-in assignment back in
    reproduces the default output exactly, and a custom 1-cluster
    labeling prunes everything the threshold catches."""
    import random

    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import (
        kmeans_assign,
        semdedup,
    )

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    rows.append((99, [v * 1.0001 for v in rows[0][1]]))  # near-dup of 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    default = sorted(tuple(r) for r in semdedup(df, k=4, threshold=0.9).collect())
    lab = kmeans_assign(df, k=4, n_iter=2)
    via_labels = sorted(
        tuple(r) for r in semdedup(df, threshold=0.9, labels=lab).collect()
    )
    assert default == via_labels

    one = df.select("vec_id", F.lit(0).alias("cluster"))
    got = {r.vec_id: r.keep for r in semdedup(df, threshold=0.9, labels=one).collect()}
    assert got[0] and not got[99]       # lower id survives, near-dup dropped


def test_kmeans_assign_arrow_bit_equal_and_scales_k(spark):
    """The Arrow assignment kernel must be BIT-EQUAL to the unrolled
    expression form — same seeds, same strict dimension-order float64
    accumulation, same lower-index tie-break (exercised via exact
    duplicate vectors) — and must handle a k far past what expression
    unrolling tolerates, partitioning every vector into [0, k)."""
    import random

    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import (
        kmeans_assign,
        kmeans_assign_arrow,
    )

    rng = random.Random(17)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(80)]
    rows += [(100 + i, list(rows[i][1])) for i in range(6)]  # exact dups → ties
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    a = sorted(tuple(r) for r in kmeans_assign(df, k=5, n_iter=3).collect())
    b = sorted(tuple(r) for r in kmeans_assign_arrow(df, k=5, n_iter=3).collect())
    assert a == b

    # tiny chunk forces the cross-chunk merge path; still bit-equal
    c = sorted(
        tuple(r)
        for r in kmeans_assign_arrow(df, k=5, n_iter=3, centroid_chunk=2).collect()
    )
    assert a == c

    # large k (expression form would unroll 64 struct expressions):
    # valid partition, deterministic across invocations
    big = kmeans_assign_arrow(df, k=64, n_iter=2)
    got = {r.vec_id: r.cluster for r in big.collect()}
    assert len(got) == len(rows) and all(0 <= ci < 64 for ci in got.values())
    again = {r.vec_id: r.cluster for r in kmeans_assign_arrow(df, k=64, n_iter=2).collect()}
    assert got == again


def test_numpy_kernels_round_half_up_like_spark(spark):
    """r10 ADVICE (low): the Arrow kernels must round HALF_UP (away from
    zero) like F.round / DuckDB, not numpy's half-even — on an exactly
    representable 6-decimal tie the two differ and a threshold comparison
    flips. x = j/128 (j odd) is binary-exact with x·10⁶ ending in .5
    exactly (10⁶/128 = 7812.5), so the tie is REAL, not a print artifact."""
    import numpy as np

    from skylogix_real_time_weather_data_pipeline_spark.ext.similarity import (
        _np_round_half_up,
        kmeans_assign,
        kmeans_assign_arrow,
    )
    from pyspark.sql import functions as F

    ties = np.array([1 / 128, 3 / 128, -1 / 128, 5 / 128, 0.25, -0.375])
    got = _np_round_half_up(ties, 6)
    # Spark's F.round is the semantics contract
    want = [
        r.v
        for r in spark.createDataFrame([(float(t),) for t in ties], "x double")
        .select(F.round("x", 6).alias("v"))
        .collect()
    ]
    assert list(got) == want
    # and numpy's default would NOT match (the tie really bites)
    assert list(np.round(ties, 6)) != want

    # end-to-end: a vector whose sqdist to its nearest seed is EXACTLY
    # 1/128 (0.0625² + 0.0625² — every term binary-exact) must produce the
    # same rounded sqdist in the Arrow kernel as in the expression form
    rows = [
        (0, [0.0, 0.0]),
        (1, [10.0, 10.0]),
        (2, [0.0625, 0.0625]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(tuple(r) for r in kmeans_assign(df, k=2, n_iter=1).collect())
    b = sorted(tuple(r) for r in kmeans_assign_arrow(df, k=2, n_iter=1).collect())
    assert a == b
    assert any(r[2] == 0.007813 for r in a)  # the HALF_UP side of the tie
