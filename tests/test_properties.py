"""Property-based tests (hypothesis) for semantics-critical operators.

Few examples per property — each example is a Spark job — but the inputs
hit the edges fixed fixtures miss (empty-ish frames, ties, extreme spans).
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from skylogix_real_time_weather_data_pipeline_spark import functions as fx
from skylogix_real_time_weather_data_pipeline_spark.operators import silver

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    start=st.dates(dt.date(2000, 1, 1), dt.date(2030, 12, 31)),
    span=st.integers(0, 400),
)
@_settings
def test_date_range_matches_python(spark, start, span):
    end = start + dt.timedelta(days=span)
    got = spark.range(1).select(
        fx.get_date_range(start.isoformat(), end.isoformat()).alias("d")
    ).first().d
    expect = [(start + dt.timedelta(days=i)).isoformat() for i in range(span + 1)]
    assert got == expect


@given(c=st.floats(-100, 100, allow_nan=False))
@_settings
def test_temperature_conversion_roundtrip(spark, c):
    r = spark.range(1).select(
        fx.fahrenheit_to_celsius(fx.celsius_to_fahrenheit(F.lit(c))).alias("x")
    ).first().x
    assert r == pytest.approx(c, abs=1e-9)


@given(
    vals=st.lists(st.floats(-50, 50, allow_nan=False, allow_infinity=False),
                  min_size=4, max_size=40),
    outlier=st.floats(5000, 100000),
)
@_settings
def test_clean_outliers_matches_reference_model(spark, vals, outlier):
    """Differential vs a NumPy model of the reference's cleaning
    (quantile→IQR bounds→mask→post-mask median fill; reference
    src/transform.py:165-188). Hypothesis found that degenerate samples can
    legitimately KEEP a huge value (interpolated q95 stretches toward it) —
    the model, not a fixed invariant, is the spec."""
    import numpy as np

    data = [float(v) for v in vals + [outlier]]
    df = spark.createDataFrame([(v,) for v in data], "x double")
    out = silver.clean_outliers(df, ["x"])
    rows = sorted(r.x for r in out.collect())

    q1, q3 = np.quantile(data, [0.05, 0.95])
    lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    masked = [v if lo <= v <= hi else None for v in data]
    kept = [v for v in masked if v is not None]
    med = float(np.median(kept)) if kept else None
    expect = sorted(v if v is not None else med for v in masked)

    assert len(rows) == len(expect)
    assert all(a == pytest.approx(b, abs=1e-9) for a, b in zip(rows, expect))


@given(texts=st.lists(st.text(alphabet="abcd ", min_size=1, max_size=30),
                      min_size=1, max_size=12))
@_settings
def test_exact_dedup_counts(spark, texts):
    from skylogix_real_time_weather_data_pipeline_spark.ext import dedup

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = dedup.exact_dedup(df)
    assert out.count() == len(set(texts))
    total = out.agg(F.sum("n_copies")).first()[0]
    assert total == len(texts)


# --------------------------------------------------------------------------
# Connected components: large-star/small-star vs min-label propagation
# --------------------------------------------------------------------------

@given(
    seed=st.integers(0, 2**31 - 1),
    n_nodes=st.integers(2, 40),
    n_edges=st.integers(1, 60),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_star_cc_equals_label_propagation_on_random_graphs(spark, seed, n_nodes, n_edges):
    import random

    from skylogix_real_time_weather_data_pipeline_spark.ext import dedup

    rng = random.Random(seed)
    pairs_py = sorted(
        {tuple(sorted(rng.sample(range(n_nodes), 2))) for _ in range(n_edges)}
    )
    pairs = spark.createDataFrame(pairs_py, "id_a long, id_b long")
    prop = {r.doc_id: r.cluster_id
            for r in dedup.connected_components(pairs, max_iterations=n_nodes + 1).collect()}
    star = {r.doc_id: r.cluster_id
            for r in dedup.connected_components_star(pairs).collect()}
    assert star == prop


def test_star_cc_converges_on_long_chain(spark):
    """A 120-node path (diameter 119) exceeds label propagation's default
    20 rounds but star contraction finishes in ~log2(119) rounds — every
    node must land in ONE cluster rooted at node 0."""
    from skylogix_real_time_weather_data_pipeline_spark.ext import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "id_a long, id_b long"
    )
    out = dedup.connected_components_star(pairs).collect()
    assert len(out) == 120
    assert {r.cluster_id for r in out} == {0}


def test_star_cc_singletons_and_order_insensitivity(spark):
    from skylogix_real_time_weather_data_pipeline_spark.ext import dedup

    pairs = spark.createDataFrame([(7, 3), (3, 9), (12, 11)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in (3, 7, 9, 11, 12, 42)], "doc_id long")
    got = {r.doc_id: r.cluster_id
           for r in dedup.connected_components_star(pairs, nodes=nodes).collect()}
    assert got == {3: 3, 7: 3, 9: 3, 11: 11, 12: 11, 42: 42}


# --------------------------------------------------------------------------
# MERGE upsert vs a dict model
# --------------------------------------------------------------------------

@given(
    tkeys=st.lists(st.integers(0, 30), min_size=0, max_size=15, unique=True),
    skeys=st.lists(st.integers(0, 30), min_size=0, max_size=10, unique=True),
    dkeys=st.lists(st.integers(0, 30), min_size=0, max_size=5, unique=True),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_upsert_matches_dict_model(spark, tkeys, skeys, dkeys):
    from skylogix_real_time_weather_data_pipeline_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(k, float(k)) for k in tkeys] or [], "k long, v double"
    )
    source = spark.createDataFrame(
        [(k, float(k) + 100.0) for k in skeys] or [], "k long, v double"
    )
    deletes = spark.createDataFrame([(k,) for k in dkeys] or [], "k long")
    got = sorted(map(tuple, merge_upsert(target, source, ["k"], deletes).collect()))

    model = {k: float(k) for k in tkeys}
    model.update({k: float(k) + 100.0 for k in skeys})
    for k in dkeys:
        model.pop(k, None)
    assert got == sorted(model.items())


@given(
    seed=st.integers(0, 10_000),
    n_users=st.integers(1, 8),
    n_events=st.integers(0, 40),
)
@_settings
def test_funnel_matches_python_model(spark, seed, n_users, n_events):
    """Random event logs: the single-pass array-fold funnel equals the
    obvious per-user Python recurrence."""
    import random

    from skylogix_real_time_weather_data_pipeline_spark.operators.events import funnel

    rng = random.Random(seed)
    steps = ["a", "b", "c"]
    rows = [
        (
            rng.randrange(n_users),
            dt.datetime(2024, 1, 1) + dt.timedelta(minutes=rng.randrange(500)),
            rng.choice(steps + ["x"]),
        )
        for _ in range(n_events)
    ]
    df = spark.createDataFrame(
        rows or [(0, dt.datetime(2024, 1, 1), "x")],
        "user_id long, ts timestamp, event_type string",
    )
    got = {r.stage: r.n_users for r in funnel(df, steps).collect()}

    by_user = {}
    for u, ts, et in (rows or [(0, dt.datetime(2024, 1, 1), "x")]):
        by_user.setdefault(u, []).append((ts, et))
    counts = [0, 0, 0]
    for evs in by_user.values():
        t_prev = None
        for k, step in enumerate(steps):
            cand = [
                ts for ts, et in evs
                if et == step and (k == 0 or (t_prev is not None and ts > t_prev))
            ]
            t_prev = min(cand) if cand else None
            if t_prev is None:
                break
            counts[k] += 1
    assert got == {f"{i + 1}_{s}": counts[i] for i, s in enumerate(steps)}


@given(ids=st.lists(st.integers(0, 10**9), unique=True, min_size=1, max_size=60),
       seed=st.integers(0, 5))
@_settings
def test_global_rank_matches_md5_sort(spark, ids, seed):
    """The distributed rank equals python's sort by (md5-60bit, id)."""
    import hashlib

    from skylogix_real_time_weather_data_pipeline_spark.operators.shuffle import global_rank

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r._rank for r in global_rank(df, "doc_id", seed=seed, n_partitions=4).collect()}

    def h(i):
        return int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:15], 16)

    expect = {i: r for r, i in enumerate(sorted(ids, key=lambda i: (h(i), i)))}
    assert got == expect


@given(
    seed=st.integers(0, 2**16),
    n_keys=st.integers(1, 12),
    n_changes=st.integers(0, 12),
)
@_settings
def test_scd2_invariants_on_random_batches(spark, seed, n_keys, n_changes):
    """SCD2 invariants under random dimensions and change batches:
    (1) every key has EXACTLY one current row; (2) closed rows carry the
    effective date; (3) changed keys gain exactly one version; unchanged
    and untouched keys gain none."""
    import random

    from skylogix_real_time_weather_data_pipeline_spark.operators.merge import scd2_apply

    rng = random.Random(seed)
    dim_rows = [(k, f"n{k}", rng.choice("ABC"), "2020-01-01", None) for k in range(n_keys)]
    dim = spark.createDataFrame(
        dim_rows, "k long, name string, tier string, valid_from string, valid_to string"
    ).select(
        "k", "name", "tier",
        F.to_date("valid_from").alias("valid_from"),
        F.to_date("valid_to").alias("valid_to"),
    )
    # change keys may hit existing keys or introduce new ones
    change_rows = []
    for _ in range(n_changes):
        k = rng.randrange(n_keys + 4)
        change_rows.append((k, f"n{k}", rng.choice("ABC")))
    # SCD2 contract: at most one change row per key
    dedup = {r[0]: r for r in change_rows}
    changes = spark.createDataFrame(
        list(dedup.values()) or [(10**9, "x", "A")], "k long, name string, tier string"
    )
    out = scd2_apply(dim, changes, ["k"], ["name", "tier"], "2022-07-01").collect()

    current = [r for r in out if r.valid_to is None]
    assert len({r.k for r in current}) == len(current)  # one current row per key
    expected_keys = {r[0] for r in dim_rows} | {r[0] for r in dedup.values()}
    if n_changes == 0:
        expected_keys = {r[0] for r in dim_rows} | {10**9}
    assert {r.k for r in current} == expected_keys
    for r in out:
        if r.valid_to is not None:
            assert str(r.valid_to) == "2022-07-01"  # closures stamp the batch date


def test_approx_distinct_within_rsd_bound(spark):
    """Accuracy contract behind rel_approx_distinct_bounds (the raw
    rows-only rel_approx_distinct row was retired in r14): the HLL++
    sketch at rsd=0.05 must land within ±5% of exact COUNT(DISTINCT) per
    group on the sf0.01 driver tables (r3 VERDICT item 4)."""
    sf = "/root/testdata/sf0.01"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    got = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.05).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .collect()
    )
    assert len(got) > 0
    for r in got:
        assert r.exact_parts > 0
        rel_err = abs(r.approx_parts - r.exact_parts) / r.exact_parts
        assert rel_err <= 0.05, (r.l_returnflag, r.approx_parts, r.exact_parts)


def test_approx_percentile_within_rank_error_bound(spark):
    """The streaming-scale percentile path (approx_percentile, KLL-style
    sketch with accuracy parameter N) must land within rank error 1/N of
    the exact percentile on the driver tables — the accuracy contract
    that lets stream_window_percentiles swap in the sketch at 100 TB
    with this exact batch form as its oracle."""
    sf = "/root/testdata/sf0.01"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    acc = 1000  # rank error <= 1/1000 of the row count
    rows = (
        ev.agg(
            F.expr("approx_percentile(value, array(0.5, 0.9), 1000)").alias("approx"),
            F.expr("percentile(value, array(0.5, 0.9))").alias("exact"),
            F.count("value").alias("n"),
            F.expr("sort_array(collect_list(value))").alias("sorted_vals"),
        )
        .collect()[0]
    )
    svals = rows.sorted_vals
    n = rows.n
    for frac, approx in zip((0.5, 0.9), rows.approx):
        target = frac * (n - 1)
        lo = svals[max(0, int(target - n / acc) - 1)]
        hi = svals[min(n - 1, int(target + n / acc) + 1)]
        assert lo <= approx <= hi, (frac, approx, lo, hi)


def test_fwsum_matches_decimal_window_fold(spark):
    """fwsum (split-long window sum) must equal the DECIMAL(18,2) window
    fold it replaced, frame by frame, on random 2-dp money values —
    including negatives and frames crossing zero sums."""
    import random

    from pyspark.sql import Window

    from skylogix_real_time_weather_data_pipeline_spark.functions.exact import fwsum

    rng = random.Random(42)
    rows = [
        (g, i, round(rng.uniform(-500000, 500000), 2))
        for g in range(5)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "g int, i int, v double")
    w = Window.partitionBy("g").orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = df.select(
        "g", "i",
        F.round(fwsum("v", w, 2), 2).alias("fast"),
        F.round(F.sum(F.col("v").cast("decimal(18,2)")).over(w).cast("double"), 2).alias("exact"),
    ).collect()
    for r in out:
        assert r.fast == r.exact, (r.g, r.i, r.fast, r.exact)


def test_fsum1_matches_split_fsum_on_bounded_inputs(spark):
    """fsum1 (single long sum) must equal the split fsum for bounded
    low-scale inputs — the precondition under which the cheap form is
    substituted."""
    import random

    from skylogix_real_time_weather_data_pipeline_spark.functions.exact import fsum, fsum1

    rng = random.Random(7)
    rows = [(i % 7, round(rng.uniform(-1e4, 1e4), 2)) for i in range(5000)]
    df = spark.createDataFrame(rows, "g int, v double")
    out = df.groupBy("g").agg(
        fsum1("v", 2).alias("one"), fsum("v", 2).alias("split")
    ).collect()
    for r in out:
        assert r.one == r.split, (r.g, r.one, r.split)


def test_fsum_units_is_exact_integer_total(spark):
    """fsum_units must equal the Python-exact integer unit total (the
    split-long combine with NO double division), and dividing it
    half-away must match the decimal mean — the path the double quotient
    provably breaks on .5 boundaries (the sf0.1 bigram regression)."""
    import random

    from skylogix_real_time_weather_data_pipeline_spark.functions.exact import fsum_units

    rng = random.Random(13)
    rows = [(i % 5, round(rng.uniform(-50, 50), 6)) for i in range(4000)]
    # plant the regression's exact group: units sum to -95356450
    rows += [(9, -3.405587), (9, -95.356450 + 3.405587)]
    df = spark.createDataFrame(rows, "g int, v double")
    out = {r.g: int(r.su) for r in df.groupBy("g").agg(fsum_units("v", 6).alias("su")).collect()}
    expect = {}
    for g, v in rows:
        expect[g] = expect.get(g, 0) + round(v * 1_000_000)
    assert out == expect


@given(
    corpus=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=12),
        min_size=1, max_size=8,
    ),
    chunk_tokens=st.integers(1, 4),
)
@_settings
def test_remove_dup_chunks_invariants(spark, corpus, chunk_tokens):
    """Keep-first rewrite invariants on arbitrary corpora: (a) corpus-wide
    kept-chunk count equals the number of DISTINCT chunk texts (exactly
    one survivor per hash); (b) every clean_text is the concatenation of
    a subset of that doc's chunks in original order; (c) n_chunks -
    n_removed chunks survive per doc."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import remove_dup_chunks

    rows = [(i, " ".join(words)) for i, words in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_dup_chunks(df, chunk_tokens=chunk_tokens).collect()}

    # python model: chunks per doc in (doc, start) order
    all_chunks, per_doc = [], {}
    for i, words in enumerate(corpus):
        cs = [" ".join(words[s:s + chunk_tokens]) for s in range(0, len(words), chunk_tokens)]
        per_doc[i] = cs
        all_chunks.extend(cs)
    distinct = len(set(all_chunks))

    kept_total = sum(out[i].n_chunks - out[i].n_removed for i in per_doc)
    assert kept_total == distinct
    seen = set()
    for i, cs in per_doc.items():
        kept = []
        for c in cs:  # within-doc repeats are duplicates too — dedup as we go
            if c not in seen:
                kept.append(c)
                seen.add(c)
        assert out[i].clean_text == " ".join(kept)
        assert out[i].n_chunks == len(cs)


@given(
    vals=st.lists(
        st.decimals(min_value=-500, max_value=500, places=2).map(float),
        min_size=1, max_size=25,
    ),
    k=st.sampled_from([2, 6]),
)
@_settings
def test_fmean1_round_matches_exact_half_away(spark, vals, k):
    """Display-rounded mean == round-half-away of the EXACT rational mean
    (Fraction model), including planted .5-boundary groups — the class
    where rounding a double quotient diverges between engines."""
    from fractions import Fraction

    from skylogix_real_time_weather_data_pipeline_spark.functions.exact import fmean1_round

    # plant the sf0.1 regression shape: -95.35645 over 28 rows at k=6 hits
    # an exact display boundary
    cases = [vals, [-3.405587] * 27 + [-95.35645 + 26 * 3.405587 - 23 * 3.405587]]
    for data in cases:
        df = spark.createDataFrame([(float(v),) for v in data], "x double")
        got = df.agg(fmean1_round("x", 2, k).alias("m")).first().m
        su = sum(round(v * 100) for v in data)
        q = Fraction(su, len(data) * 100) * 10 ** k
        whole = q.numerator // q.denominator if q >= 0 else -((-q.numerator) // q.denominator)
        rem = abs(q - whole)
        half = (1 if q >= 0 else -1) if rem * 2 >= 1 else 0
        expect = (whole + half) / 10 ** k
        assert got == expect, (data[:3], got, expect)


@given(
    docs=st.lists(
        st.lists(
            st.one_of(
                # small vocab → repeated k-grams → tie-heavy window mins
                st.sampled_from(["a", "b", "ab", "ba", "aa"]),
                # arbitrary non-whitespace tokens incl. unicode
                st.text(
                    alphabet=st.characters(
                        blacklist_categories=("Zs", "Zl", "Zp", "Cc", "Cs")
                    ),
                    min_size=1, max_size=6,
                ),
            ),
            min_size=0, max_size=40,
        ),
        min_size=1, max_size=6,
    ),
)
@_settings
def test_winnowing_cross_engine_parity(spark, docs):
    """The Carter-Wegman k-gram hash + leftmost-tie-break window min must
    be BIT-identical between Spark and the DuckDB oracle on arbitrary
    token streams — unicode tokens, repeated k-grams (forcing hash ties
    inside a window), and sub-k/sub-w documents. Random inputs cover the
    tie and degenerate classes the fixed corpus never hits."""
    import duckdb

    from skylogix_real_time_weather_data_pipeline_spark.plans.ext import O_WINNOWING
    from skylogix_real_time_weather_data_pipeline_spark.ext.text import winnowing_stats

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in winnowing_stats(df, k=4, w=5).collect())

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        cols = [d[0] for d in con.execute(O_WINNOWING + " LIMIT 0").description]
        spark_cols = winnowing_stats(df, k=4, w=5).columns
        assert cols == spark_cols
        expect = sorted(tuple(r) for r in con.execute(O_WINNOWING).fetchall())
    finally:
        con.close()
    assert got == expect


@given(
    seed=st.integers(0, 10_000),
    n_nodes=st.integers(3, 12),
    p_edge=st.integers(10, 90),
)
@_settings
def test_triangle_stats_matches_bruteforce(spark, seed, n_nodes, p_edge):
    """triangle_stats == O(n³) Python brute force on random graphs."""
    import itertools
    import random

    from skylogix_real_time_weather_data_pipeline_spark.operators.graph import (
        triangle_stats,
    )

    rnd = random.Random(seed)
    edges = [
        (a, b)
        for a, b in itertools.combinations(range(n_nodes), 2)
        if rnd.randint(1, 100) <= p_edge
    ]
    if not edges:
        return
    eset = set(edges)
    tri = sum(
        1
        for x, y, z in itertools.combinations(range(n_nodes), 3)
        if (x, y) in eset and (y, z) in eset and (x, z) in eset
    )
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    row = triangle_stats(spark.createDataFrame(edges, ["a", "b"])).collect()[0]
    assert row.n_triangles == tri
    assert row.n_wedges == wedges
    assert row.n_edges == len(edges)
    assert row.n_nodes == len(deg)
    assert row.clustering_ppm == (3_000_000 * tri // wedges if wedges else 0)


@given(
    seed=st.integers(0, 10_000),
    n=st.integers(1, 60),
    dup=st.integers(1, 4),
)
@_settings
def test_bloom_membership_model(spark, seed, n, dup):
    """Bloom stats == a Python replay of the same bit array: identical
    pass/member/fp counts (not just the no-false-negative invariant)."""
    import hashlib
    import random

    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        bloom_semijoin_stats,
    )

    rnd = random.Random(seed)
    build = sorted(rnd.sample(range(200), min(n, 100)))
    probe = [i for i in range(200) for _ in range(dup)]
    m_bits, kh = 256, 3

    def h(seed_i, v):
        return int(hashlib.md5(f"{seed_i}|{v}".encode()).hexdigest()[:15], 16)

    bits = set()
    for v in build:
        for d in range(1, kh + 1):
            bits.add(h(d, v) % m_bits)
    passing = {
        v for v in set(probe)
        if all((h(d, v) % m_bits) in bits for d in range(1, kh + 1))
    }
    members = set(build) & set(probe)
    row = bloom_semijoin_stats(
        spark.createDataFrame([(v,) for v in build], ["k"]),
        "k",
        spark.createDataFrame([(v,) for v in probe], ["k"]),
        "k",
        m_bits=m_bits,
        n_hashes=kh,
    ).collect()[0]
    # the operator (and its oracle) count DISTINCT probe keys — the
    # groupBy(pk) membership vote dedups repeated probes
    pset = set(probe)
    assert row.n_probe == len(pset)
    assert row.bloom_pass == len(passing)
    assert row.true_members == len(members)
    assert row.false_positives == len(passing - members)


@given(seed=st.integers(0, 10_000), n=st.integers(1, 300))
@_settings
def test_kmv_matches_python_model(spark, seed, n):
    """KMV estimate == a Python replay of hash → k-minima → floor-div."""
    import hashlib
    import random

    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import kmv_distinct

    rnd = random.Random(seed)
    keys = [rnd.randint(0, 500) for _ in range(n)]
    k = 32
    hs = sorted({int(hashlib.md5(f"0|{v}".encode()).hexdigest()[:15], 16)
                 for v in set(keys)})
    mins = hs[:k]
    if len(mins) < k:
        expect = len(mins)
    else:
        expect = (k - 1) * (1 << 60) // max(mins)
    row = kmv_distinct(
        spark.createDataFrame([(v,) for v in keys], ["key"]), "key", k=k
    ).collect()[0]
    assert row.kmv_estimate == expect
    assert row.exact_distinct == len(set(keys))


@given(
    seed=st.integers(0, 10_000),
    n=st.integers(1, 120),
    n_batches=st.integers(1, 4),
)
@_settings
def test_bottomk_sample_monoid_and_quantile_model(spark, seed, n, n_batches):
    """The bottom-k row sample is a true monoid (merge of per-batch
    samples == one-shot sample over the concatenation, for ANY batch
    split) and the clamped quantile read matches a Python replay of
    hash → bottom-k by (h, v) → least(ceil(p·k), kept)-th order
    statistic — including n < k, where every estimate degrades to the
    exact maximum."""
    import hashlib
    import random

    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        bottomk_estimates_from_sample,
        bottomk_merge,
        bottomk_rows,
    )

    rnd = random.Random(seed)
    k = 16
    rows = [(rnd.randint(0, 10_000_000), rnd.randint(-500, 500))
            for _ in range(n)]

    def h(key):
        return int(hashlib.md5(f"0|{key}".encode()).hexdigest()[:15], 16)

    model = sorted(((h(key), v) for key, v in rows))[:k]

    # arbitrary split into batches; merge must reproduce the one-shot
    cuts = sorted(rnd.randint(0, n) for _ in range(n_batches - 1))
    parts, lo = [], 0
    for c in cuts + [n]:
        parts.append(rows[lo:c])
        lo = c
    merged = None
    for part in parts:
        if not part:
            continue
        delta = bottomk_rows(
            spark.createDataFrame(part, ["key", "value"]), "key", "value", k
        )
        merged = bottomk_merge(merged, delta, k)
    got = sorted((r.h, r.v) for r in merged.collect())
    assert got == model

    probs = [1, 250_000, 500_000, 999_999, 1_000_000]
    kept = len(model)
    by_v = sorted((v, hh) for hh, v in model)
    expect = sorted(
        (p, by_v[min((p * k + 999_999) // 1_000_000, kept) - 1][0])
        for p in probs
    )
    est = sorted(
        (r.p_ppm, r.est_value)
        for r in bottomk_estimates_from_sample(merged, k, probs).collect()
    )
    assert est == expect


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(2, 4),
)
@_settings
def test_substring_dup_spans_matches_model(spark, texts, k):
    """Random tiny-vocab corpora (duplication-dense by construction) match
    the brute-force interval-union model for every doc."""
    from tests.test_ext import _substring_model

    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_dup_spans,
    )

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.n_kgrams, r.n_dup_spans, r.dup_tokens,
                   r.dup_ratio_ppm)
        for r in substring_dup_spans(df, k=k).collect()
    }
    assert got == _substring_model(docs, k)


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(2, 4),
)
@_settings
def test_substring_dedup_rewrite_matches_model(spark, texts, k):
    """Random duplication-dense corpora: keep-first span removal matches
    the brute-force model on counts AND reconstructed text for every
    doc."""
    from tests.test_ext import _rewrite_model

    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        substring_dedup_rewrite,
    )

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in substring_dedup_rewrite(df, k=k).collect()
    }
    assert got == _rewrite_model(docs, k)


# --------------------------------------------------------------------------
# Maintained-view monoids: ANY batch partition of the corpus must yield the
# same view as the one-shot aggregate (the append-only contract), including
# posting-list caps that only overflow through cross-batch unions.
# --------------------------------------------------------------------------

@given(
    texts=st.lists(st.text(alphabet="ab ", min_size=1, max_size=25),
                   min_size=1, max_size=10),
    split=st.lists(st.integers(0, 2), min_size=10, max_size=10),
    cap=st.integers(1, 4),
)
@_settings
def test_gram_index_view_invariant_under_batch_split(spark, tmp_path_factory,
                                                     texts, split, cap):
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        _gram_occurrences,
        substring_shared_gram_pairs,
        substring_shared_gram_pairs_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_gram_index_delta,
        read_gram_index_segments,
    )

    k = 2
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    state = str(tmp_path_factory.mktemp("gi") / "view")
    for b in range(3):
        batch = [r for r in rows if split[r[0]] == b]
        if batch:
            bdf = spark.createDataFrame(batch, "doc_id long, text string")
            apply_gram_index_delta(bdf, b, state, k=k)
    view = read_gram_index_segments(spark, state, max_gram_df=cap)

    # counts + keep-first argmin == one-shot aggregate (every doc lands
    # in one of the three batches)
    got = {r.h: (r.cnt, r.min_okey) for r in view.collect()}
    _, _, occ = _gram_occurrences(df, "text", "doc_id", k)
    want = {
        r.h: (r.cnt, r.min_okey)
        for r in occ.groupBy("h").agg(
            F.count(F.lit(1)).alias("cnt"), F.min("okey").alias("min_okey")
        ).collect()
    }
    assert got == want

    # pair read path == batch detector under the same cap
    got_p = sorted(
        tuple(r)
        for r in substring_shared_gram_pairs_from_index(view, min_shared=1).collect()
    )
    want_p = sorted(
        tuple(r)
        for r in substring_shared_gram_pairs(
            df, k=k, min_shared=1, max_gram_df=cap
        ).collect()
    )
    assert got_p == want_p


@given(
    texts=st.lists(st.text(alphabet="xy ", min_size=1, max_size=20),
                   min_size=1, max_size=8),
    split=st.lists(st.booleans(), min_size=8, max_size=8),
)
@_settings
def test_exact_dedup_view_invariant_under_batch_split(spark, tmp_path_factory,
                                                      texts, split):
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
    )

    rows = list(enumerate(texts))
    state = str(tmp_path_factory.mktemp("ed") / "view")
    for b in (False, True):
        batch = [r for r in rows if split[r[0]] == b]
        if batch:
            bdf = spark.createDataFrame(batch, "doc_id long, text string")
            apply_exact_dedup_delta(bdf, int(b), state)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in read_exact_dedup_segments(spark, state).collect())
    want = sorted(tuple(r) for r in exact_dedup(df).collect())
    assert got == want


@given(
    texts=st.lists(st.text(alphabet="cd ", min_size=1, max_size=22),
                   min_size=1, max_size=9),
    split=st.lists(st.integers(0, 2), min_size=9, max_size=9),
    cap=st.integers(1, 3),
)
@_settings
def test_minhash_bucket_view_invariant_under_batch_split(spark, tmp_path_factory,
                                                         texts, split, cap):
    """The LSH-bucket view's capped member semilattice must be invariant
    under ANY batch partition of the corpus — and the index-driven pairs
    must equal the one-shot detector under the same cap."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
        minhash_lsh_pairs,
        minhash_pairs_from_index,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_minhash_buckets_delta,
        read_minhash_buckets_segments,
    )

    rows = list(enumerate(texts))
    state = str(tmp_path_factory.mktemp("mh") / "view")
    for b in range(3):
        batch = [r for r in rows if split[r[0]] == b]
        if batch:
            bdf = spark.createDataFrame(batch, "doc_id long, text string")
            apply_minhash_buckets_delta(bdf, b, state)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in minhash_pairs_from_index(
            read_minhash_buckets_segments(spark, state, max_bucket_size=cap),
            max_bucket_size=cap,
        ).collect()
    )
    want = sorted(
        tuple(r) for r in minhash_lsh_pairs(df, max_bucket_size=cap).collect()
    )
    assert got == want


@given(
    texts=st.lists(st.text(alphabet="ab ", min_size=1, max_size=12),
                   min_size=1, max_size=8),
    split=st.lists(st.integers(0, 2), min_size=8, max_size=8),
    kill=st.lists(st.booleans(), min_size=8, max_size=8),
    pos=st.integers(0, 3),
)
@_settings
def test_retractable_exact_dedup_invariant_under_interleaving(
        spark, tmp_path_factory, texts, split, kill, pos):
    """r11 Z-set property: for ANY batch partition of the corpus and ANY
    placement of the tombstone batch among the applies (weights are an
    abelian group — order cannot matter), the retractable exact-dedup
    view reads equal to a one-shot rebuild over the survivors."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
    )

    rows = list(enumerate(texts))
    gone = [r for r in rows if kill[r[0]]]
    state = str(tmp_path_factory.mktemp("edrz") / "view")
    schema = "doc_id long, text string"
    slots = [[r for r in rows if split[r[0]] == b] for b in range(3)]
    slots.insert(pos, gone)  # the tombstone batch lands anywhere
    wrote = False
    for bid, batch in enumerate(slots):
        if not batch:
            continue
        bdf = spark.createDataFrame(batch, schema)
        if batch is gone and bid == pos:
            retract_exact_dedup_delta(bdf, bid, state, auto_compact=None)
        else:
            apply_exact_dedup_delta(bdf, bid, state,
                                                auto_compact=None)
        wrote = True
    if not wrote:
        return
    got = sorted(
        tuple(r)
        for r in read_exact_dedup_segments(spark, state).collect()
    )
    survivors = [r for r in rows if not kill[r[0]]]
    if not survivors:
        assert got == []
        return
    want = sorted(
        tuple(r)
        for r in exact_dedup(spark.createDataFrame(survivors, schema)).collect()
    )
    assert got == want


@given(
    ids=st.lists(st.integers(0, 200), min_size=1, max_size=10, unique=True),
    split=st.lists(st.integers(0, 2), min_size=10, max_size=10),
    kill=st.lists(st.booleans(), min_size=10, max_size=10),
    pos=st.integers(0, 3),
)
@_settings
def test_retractable_url_membership_invariant_under_interleaving(
        spark, tmp_path_factory, ids, split, kill, pos):
    """r14 (r13 verdict #9): the canonical-URL membership view — the CDC
    router's fifth family, the curl-keyed Z-set — reads equal to a
    rebuild over the surviving crawl for ANY batch partition and ANY
    tombstone placement, WITH LIVE AUTO-TRIGGERS (auto_compact=2 forces
    mid-interleaving compactions, and the tombstone batch exercises the
    r14 same-population fraction trigger)."""
    import pyspark.sql.functions as F

    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.ext.url import (
        canonicalize_url,
        synthetic_urls,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
    )

    def curls(id_list):
        if not id_list:
            return None
        base = spark.createDataFrame([(i,) for i in id_list], "doc_id long")
        return synthetic_urls(base).select(
            "doc_id", canonicalize_url("url").alias("curl"))

    rows = list(enumerate(ids))
    gone_ids = [v for i, v in rows if kill[i]]
    state = str(tmp_path_factory.mktemp("urlrz") / "view")
    slots = [[v for i, v in rows if split[i] == b] for b in range(3)]
    slots.insert(pos, gone_ids)
    for bid, batch_ids in enumerate(slots):
        bdf = curls(batch_ids)
        if bdf is None:
            continue
        if bid == pos:
            retract_exact_dedup_delta(bdf, bid, state, text_col="curl",
                                      auto_compact=2)
        else:
            apply_exact_dedup_delta(bdf, bid, state,
                                                text_col="curl",
                                                auto_compact=2)
    survivors = [v for i, v in rows if not kill[i]]
    got = sorted(
        tuple(r)
        for r in read_exact_dedup_segments(spark, state).collect())
    if not survivors:
        assert got == []
        return
    want = sorted(
        tuple(r)
        for r in exact_dedup(curls(survivors), text_col="curl").collect())
    assert got == want


@given(
    keys=st.lists(st.integers(0, 9), min_size=1, max_size=24),
    split=st.lists(st.integers(0, 2), min_size=24, max_size=24),
    kill=st.lists(st.booleans(), min_size=24, max_size=24),
)
@_settings
def test_count_sketch_counters_linear_under_any_partition(
        spark, tmp_path_factory, keys, split, kill):
    """r11 turnstile property: Count-Sketch counters are linear in the
    row multiset, so apply-batches + one tombstone batch == a one-shot
    delta over the surviving MULTISET, exactly — for any partition and
    any retracted sub-multiset."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        _count_sketch_delta,
        apply_count_sketch_delta,
        read_count_sketch_segments,
        retract_count_sketch_delta,
    )

    rows = list(enumerate(keys))
    state = str(tmp_path_factory.mktemp("csrz") / "view")
    schema = "k long"
    for b in range(3):
        batch = [(k,) for i, k in rows if split[i] == b]
        if batch:
            apply_count_sketch_delta(
                spark.createDataFrame(batch, schema), b, state, "k",
                depth=3, width=64, auto_compact=None)
    gone = [(k,) for i, k in rows if kill[i]]
    if gone:
        retract_count_sketch_delta(
            spark.createDataFrame(gone, schema), 3, state, "k",
            depth=3, width=64, auto_compact=None)
    got = sorted(
        tuple(r) for r in read_count_sketch_segments(spark, state).collect()
    )
    survivors = [(k,) for i, k in rows if not kill[i]]
    if not survivors:
        assert got == []
        return
    want = sorted(
        tuple(r)
        for r in _count_sketch_delta(
            spark.createDataFrame(survivors, schema), "k", 3, 64, 1
        ).filter("c <> 0").collect()
    )
    assert got == want


@given(
    n=st.integers(1, 8),
    cells=st.lists(st.integers(0, 2), min_size=8, max_size=8),
    split=st.lists(st.booleans(), min_size=8, max_size=8),
    kill=st.lists(st.booleans(), min_size=8, max_size=8),
    pos=st.integers(0, 2),
)
@_settings
def test_retractable_ivf_postings_invariant_under_interleaving(
        spark, tmp_path_factory, n, cells, split, kill, pos):
    """r11 Z-set property for the VECTOR view: live IVF postings equal
    the surviving vectors for any batch partition and any tombstone
    placement — including whole-cell erasure — and a tombstone never
    leaves a ghost posting."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_ivf_postings_retractable_delta,
        read_ivf_postings_retractable_segments,
        retract_ivf_postings_delta,
    )

    rows = [
        (i, cells[i], [float(i) / 8.0, float(cells[i])]) for i in range(n)
    ]
    schema = "vec_id long, label int, embedding array<float>"
    state = str(tmp_path_factory.mktemp("ivfrz") / "view")
    slots = [
        [r for r in rows if split[r[0]]],
        [r for r in rows if not split[r[0]]],
    ]
    gone = [r for r in rows if kill[r[0]]]
    slots.insert(pos, gone)
    wrote = False
    for bid, batch in enumerate(slots):
        if not batch:
            continue
        bdf = spark.createDataFrame(batch, schema)
        if batch is gone and bid == pos:
            retract_ivf_postings_delta(bdf, bid, state, auto_compact=None)
        else:
            apply_ivf_postings_retractable_delta(bdf, bid, state,
                                                 auto_compact=None)
        wrote = True
    if not wrote:
        return
    got = sorted(
        (r["cell"], r["vec_id"])
        for r in read_ivf_postings_retractable_segments(spark, state).collect()
    )
    want = sorted((r[1], r[0]) for r in rows if not kill[r[0]])
    assert got == want


@given(
    texts=st.lists(st.text(alphabet="ab ", min_size=1, max_size=12),
                   min_size=1, max_size=8),
    split=st.lists(st.integers(0, 2), min_size=8, max_size=8),
    kill=st.lists(st.booleans(), min_size=8, max_size=8),
    pos=st.integers(0, 3),
)
@_settings
def test_retractable_exact_dedup_invariant_under_auto_triggers(
        spark, tmp_path_factory, texts, split, kill, pos):
    """r12 property: the same any-partition / any-tombstone-placement
    invariance as the manual-protocol test above, but with BOTH
    auto-compaction triggers live — an aggressive count threshold
    (auto_compact=2) plus the tombstone-fraction trigger — so
    compactions fire at arbitrary points of the interleaving. The read
    must still equal a one-shot rebuild over the survivors: compaction
    is a prefix fold of an abelian-group view, wherever it lands."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import exact_dedup
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_exact_dedup_delta,
        read_exact_dedup_segments,
        retract_exact_dedup_delta,
    )

    rows = list(enumerate(texts))
    gone = [r for r in rows if kill[r[0]]]
    state = str(tmp_path_factory.mktemp("edrz_auto") / "view")
    schema = "doc_id long, text string"
    slots = [[r for r in rows if split[r[0]] == b] for b in range(3)]
    slots.insert(pos, gone)
    wrote = False
    for bid, batch in enumerate(slots):
        if not batch:
            continue
        bdf = spark.createDataFrame(batch, schema)
        if batch is gone and bid == pos:
            retract_exact_dedup_delta(bdf, bid, state, auto_compact=2)
        else:
            apply_exact_dedup_delta(bdf, bid, state,
                                                auto_compact=2)
        wrote = True
    if not wrote:
        return
    got = sorted(
        tuple(r)
        for r in read_exact_dedup_segments(spark, state).collect()
    )
    survivors = [r for r in rows if not kill[r[0]]]
    if not survivors:
        assert got == []
        return
    want = sorted(
        tuple(r)
        for r in exact_dedup(spark.createDataFrame(survivors, schema)).collect()
    )
    assert got == want


@given(
    vals=st.lists(
        st.tuples(st.integers(0, 1),        # day selector
                  st.sampled_from(["view", "click"]),
                  st.integers(-50, 50)),     # integer-valued double: exact
        min_size=1, max_size=8),
    split=st.lists(st.integers(0, 2), min_size=8, max_size=8),
    kill=st.lists(st.booleans(), min_size=8, max_size=8),
    pos=st.integers(0, 3),
)
@_settings
def test_retractable_daily_counts_invariant_under_auto_triggers(
        spark, tmp_path_factory, vals, split, kill, pos):
    """r13 (r12 ADVICE medium): the additive daily view's read equals a
    one-shot rebuild over the survivors REGARDLESS of where the tombstone
    batch lands — including BEFORE the adds it cancels (a group then
    transiently nets n == 0 with sum != 0) — with both auto-compaction
    triggers live so compaction can fire exactly at the transient point.
    Mirrors test_retractable_exact_dedup_invariant_under_auto_triggers
    for the (n, sum) two-measure monoid whose compaction fold was lossy."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_daily_counts_delta,
        read_daily_counts_retractable_segments,
        retract_daily_counts_delta,
    )

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (i, base + dt.timedelta(days=day), et, float(v))
        for i, (day, et, v) in enumerate(vals)
    ]
    gone = [r for r in rows if kill[r[0] % len(kill)]]
    schema = "i long, ts timestamp, event_type string, value double"
    slots = [[r for r in rows if split[r[0] % len(split)] == b]
             for b in range(3)]
    slots.insert(pos, gone)
    state = str(tmp_path_factory.mktemp("daily_auto") / "view")
    wrote = False
    for bid, batch in enumerate(slots):
        if not batch:
            continue
        bdf = spark.createDataFrame(batch, schema).drop("i")
        if batch is gone and bid == pos:
            retract_daily_counts_delta(bdf, bid, state, auto_compact=2)
        else:
            apply_daily_counts_delta(bdf, bid, state, auto_compact=2)
        wrote = True
    if not wrote:
        return
    got = {
        (str(r.day), r.event_type): (r.n, round(r.sum_value, 9))
        for r in read_daily_counts_retractable_segments(spark, state).collect()
    }
    survivors = [r for r in rows if not kill[r[0] % len(kill)]]
    if not survivors:
        assert got == {}
        return
    want = {
        (str(r.day), r.event_type): (r.n, round(r.sum_value, 9))
        for r in spark.createDataFrame(survivors, schema)
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert got == want


@given(
    texts=st.lists(st.text(alphabet="ab ", min_size=1, max_size=12),
                   min_size=1, max_size=8),
    split=st.lists(st.integers(0, 2), min_size=8, max_size=8),
    kill=st.lists(st.booleans(), min_size=8, max_size=8),
    pos=st.integers(0, 3),
)
@_settings
def test_retractable_term_stats_invariant_under_auto_triggers(
        spark, tmp_path_factory, texts, split, kill, pos):
    """r13 (r12 verdict #8): the doc-granular term-frequency Z-set behind
    BM25 — the CDC router's fourth certified family — reads equal to a
    one-shot rebuild over the survivors at ANY interleaving (tombstone
    before, between, or after the adds it cancels) with both
    auto-compaction triggers live. df counts DISTINCT live docs, which is
    exactly what an add-only (cf, df) aggregate cannot un-count; this
    pins that the Z-set schema does, through every compaction point."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_term_stats_delta,
        read_term_stats_segments,
        retract_term_stats_delta,
    )

    rows = list(enumerate(texts))
    gone = [r for r in rows if kill[r[0]]]
    schema = "doc_id long, text string"
    slots = [[r for r in rows if split[r[0]] == b] for b in range(3)]
    slots.insert(pos, gone)
    state = str(tmp_path_factory.mktemp("ts_rz_auto") / "view")
    wrote = False
    for bid, batch in enumerate(slots):
        if not batch:
            continue
        bdf = spark.createDataFrame(batch, schema)
        if batch is gone and bid == pos:
            retract_term_stats_delta(bdf, bid, state, auto_compact=2)
        else:
            apply_term_stats_delta(bdf, bid, state,
                                               auto_compact=2)
        wrote = True
    if not wrote:
        return
    got = sorted(
        tuple(r)
        for r in read_term_stats_segments(spark, state).collect()
    )
    survivors = [r for r in rows if not kill[r[0]]]
    if not survivors:
        assert got == []
        return
    ref_state = str(tmp_path_factory.mktemp("ts_rz_ref") / "view")
    apply_term_stats_delta(
        spark.createDataFrame(survivors, schema), 0, ref_state,
        auto_compact=None)
    want = sorted(
        tuple(r)
        for r in read_term_stats_segments(
            spark, ref_state).collect()
    )
    assert got == want


@given(
    scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS", "HtTpS"]),
    www=st.booleans(),
    host=st.lists(st.sampled_from(["Example", "api", "CDN", "shop"]),
                  min_size=1, max_size=3),
    tld=st.sampled_from(["com", "org", "co.uk", "io"]),
    port=st.sampled_from([None, 80, 443, 8080]),
    segs=st.lists(st.sampled_from(["a", "B", "items", "7"]), max_size=3),
    trail=st.integers(0, 2),
    params=st.lists(
        st.tuples(st.sampled_from(["utm_source", "utm_medium", "fbclid",
                                   "gclid", "id", "v", "q", "page"]),
                  st.sampled_from(["1", "x", "feed", ""])),
        max_size=4),
    frag=st.booleans(),
)
@_settings
def test_url_canonicalize_properties(spark, scheme, www, host, tld, port,
                                     segs, trail, params, frag):
    """r13: structural properties of the URL canonicalizer over randomly
    composed URLs — IDEMPOTENCE (canonicalizing a canonical URL is a
    no-op, the property that makes re-running a curation pass safe), no
    fragment/tracking residue, lower-cased scheme+host, no www prefix,
    default ports stripped iff they match the scheme, non-default ports
    and non-tracking params (values and order) preserved."""
    import re

    from skylogix_real_time_weather_data_pipeline_spark.ext.url import (
        canonicalize_url,
    )

    hostname = ".".join(host) + "." + tld
    u = scheme + "://" + ("www." if www else "") + hostname
    if port is not None:
        u += f":{port}"
    u += "/" + "/".join(segs) + "/" * trail
    if params:
        u += "?" + "&".join(f"{k}={v}" for k, v in params)
    if frag:
        u += "#Sec-1"

    df = spark.createDataFrame([(u,)], "url string")
    c1 = df.select(canonicalize_url("url").alias("c")).first().c
    c2 = (spark.createDataFrame([(c1,)], "url string")
          .select(canonicalize_url("url").alias("c")).first().c)
    assert c2 == c1, f"not idempotent: {u!r} -> {c1!r} -> {c2!r}"

    assert "#" not in c1
    assert not re.search(r"(utm_[a-z]+|fbclid|gclid|msclkid)=", c1)
    m = re.match(r"^([a-z]+)://([^/?#]*)(.*)$", c1)
    assert m, c1
    cscheme, chost, crest = m.groups()
    assert cscheme == scheme.lower()
    assert chost == chost.lower() and not chost.startswith("www.")
    # default port stripped iff it matches the scheme; others preserved
    want_port = ""
    if port == 8080:
        want_port = ":8080"
    elif port == 80 and scheme.lower() != "http":
        want_port = ":80"
    elif port == 443 and scheme.lower() != "https":
        want_port = ":443"
    assert chost == hostname.lower() + want_port
    # kept params preserved in order, with values
    kept = [f"{k}={v}" for k, v in params
            if not re.match(r"^(utm_[a-z]+|fbclid|gclid|msclkid)$", k)]
    if kept:
        assert crest.endswith("?" + "&".join(kept)), (u, c1, kept)
    else:
        assert "?" not in crest
    assert not crest.endswith("/")
