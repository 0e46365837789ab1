"""Sketch-operator invariants: KMV exactness/degradation, CMS one-sided
error, Bloom zero-false-negative guarantee, triangle count on a known graph.

The cross-engine value parity of each driver query is covered by the
differential oracle harness (test_oracle_differential.py); these tests pin
the ALGORITHMIC contracts that hold for any input.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401

from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
    bloom_semijoin_stats,
    cms_heavy_hitters,
    kmv_distinct,
)
from skylogix_real_time_weather_data_pipeline_spark.operators.graph import triangle_stats


def test_kmv_exact_below_k(spark):
    df = spark.createDataFrame([(i % 37,) for i in range(500)], ["key"])
    row = kmv_distinct(df, "key", k=256).collect()[0]
    # fewer than k distinct hashes: the sketch IS the distinct set
    assert row.kept == 37
    assert row.kmv_estimate == 37 == row.exact_distinct
    assert row.err_ppm == 0


def test_kmv_estimates_when_saturated(spark):
    df = spark.createDataFrame([(i,) for i in range(5000)], ["key"])
    row = kmv_distinct(df, "key", k=64).collect()[0]
    assert row.kept == 64
    assert row.exact_distinct == 5000
    # KMV sd ≈ 1/sqrt(k-1) ≈ 12.6% at k=64: 3σ bound, deterministic value
    assert abs(row.kmv_estimate - 5000) < 5000 * 0.38
    assert row.err_ppm == abs(row.kmv_estimate - 5000) * 1_000_000 // 5000


def test_cms_one_sided_and_exact_when_wide(spark):
    rows = [(k,) for k in range(20) for _ in range(k + 1)]
    df = spark.createDataFrame(rows, ["key"])
    out = cms_heavy_hitters(df, "key", depth=3, width=4096, top_n=5).collect()
    assert len(out) == 5
    for r in out:
        assert r.cms_count >= r.exact_count  # one-sided error, always
        # 20 keys in 4096 buckets × 3 rows: a shared bucket in every row is
        # (20/4096)^3-unlikely; the min across rows is exact here
        assert r.overestimate == 0
    # exact top-5 by construction: counts 20..16
    assert sorted(r.exact_count for r in out) == [16, 17, 18, 19, 20]


def test_cms_collisions_overestimate_only(spark):
    rows = [(k,) for k in range(200) for _ in range(2)]
    df = spark.createDataFrame(rows, ["key"])
    out = cms_heavy_hitters(df, "key", depth=2, width=16, top_n=10).collect()
    # 200 keys into 16 buckets: collisions certain; error stays one-sided
    assert all(r.cms_count >= r.exact_count for r in out)
    assert any(r.overestimate > 0 for r in out)


def test_bloom_never_false_negative(spark):
    build = spark.createDataFrame([(i,) for i in range(0, 300, 3)], ["k"])
    probe = spark.createDataFrame([(i,) for i in range(300)], ["k"])
    row = bloom_semijoin_stats(build, "k", probe, "k", m_bits=1024, n_hashes=3).collect()[0]
    assert row.n_build_distinct == 100
    assert row.n_probe == 300
    assert row.true_members == 100
    # every member passes: bloom_pass = members + false positives exactly
    assert row.bloom_pass == row.true_members + row.false_positives
    assert row.fp_rate_ppm == row.false_positives * 1_000_000 // 200


def test_bloom_saturated_filter_passes_everything(spark):
    # m_bits tiny vs build side: the filter saturates to all-ones and must
    # degrade to "pass everything", never to a false negative
    build = spark.createDataFrame([(i,) for i in range(500)], ["k"])
    probe = spark.createDataFrame([(i,) for i in range(1000)], ["k"])
    row = bloom_semijoin_stats(build, "k", probe, "k", m_bits=32, n_hashes=3).collect()[0]
    assert row.bloom_pass == row.n_probe
    assert row.false_positives == row.n_probe - row.true_members


def test_triangle_known_graph(spark):
    # 4-cycle with one chord: triangles {1,2,3} and {1,3,4}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)], ["a", "b"]
    )
    row = triangle_stats(edges).collect()[0]
    assert row.n_nodes == 4
    assert row.n_edges == 5
    # degrees 3,2,3,2 → wedges 3+1+3+1 = 8
    assert row.n_wedges == 8
    assert row.n_triangles == 2
    assert row.clustering_ppm == 3_000_000 * 2 // 8


def test_co_supplier_pair_key_survives_int32_suppkeys(spark, tmp_path):
    """The packed pair key a·2³² + b must not degenerate on an int32
    l_suppkey (Spark masks an int shift amount mod 32, so the key became
    a + b and pairs (1, 4) and (2, 3) collided): shared counts must equal
    an unpacked groupBy on (a, b)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from skylogix_real_time_weather_data_pipeline_spark.plans.sketches import (
        TRI_MIN_SHARED,
        co_supplier_shared_counts,
    )

    trades = [(c, s) for c in (1, 2) for s in (1, 2, 3, 4)] + [(3, 1), (3, 4)]
    pq.write_table(pa.table({
        "l_orderkey": pa.array(range(len(trades)), pa.int64()),
        "l_suppkey": pa.array([s for _, s in trades], pa.int32()),
    }), str(tmp_path / "lineitem.parquet"))
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(len(trades)), pa.int64()),
        "o_custkey": pa.array([c for c, _ in trades], pa.int64()),
    }), str(tmp_path / "orders.parquet"))

    got = sorted(map(tuple, co_supplier_shared_counts(spark, str(tmp_path)).collect()))
    cs = spark.createDataFrame(trades, "c long, s int")
    want = sorted(map(tuple, (
        cs.alias("t1").join(cs.alias("t2"), (F.col("t1.c") == F.col("t2.c"))
                            & (F.col("t1.s") < F.col("t2.s")))
        .groupBy(F.col("t1.s").alias("a"), F.col("t2.s").alias("b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= TRI_MIN_SHARED)
    ).collect()))
    assert got == want and (1, 4, 3) in got


def test_triangle_free_graph(spark):
    # star graph: wedges but zero triangles
    edges = spark.createDataFrame([(1, i) for i in range(2, 7)], ["a", "b"])
    row = triangle_stats(edges).collect()[0]
    assert row.n_triangles == 0
    assert row.clustering_ppm == 0
    assert row.n_wedges == 10


def test_hll_register_state_and_estimate(spark):
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import hll_distinct

    df = spark.createDataFrame([(i,) for i in range(3000)], ["key"])
    row = hll_distinct(df, "key", p=8).collect()[0]
    assert row.m == 256
    # 3000 keys into 256 buckets: every register occupied
    assert row.v_zero == 0
    # raw branch: HLL σ ≈ 1.04/√m ≈ 6.5% — 4σ bound on the fixed value
    assert abs(row.hll_estimate - 3000) < 3000 * 0.26
    assert row.err_ppm == abs(row.hll_estimate - 3000) * 1_000_000 // 3000


def test_hll_linear_counting_branch(spark):
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import hll_distinct

    df = spark.createDataFrame([(i % 50,) for i in range(400)], ["key"])
    row = hll_distinct(df, "key", p=8).collect()[0]
    # 50 keys, 256 registers: small-range regime, zeros must exist and
    # linear counting applies (estimate near-exact at this occupancy)
    assert row.v_zero >= 256 - 50
    assert abs(row.hll_estimate - 50) <= 6
    assert row.exact_distinct == 50


def test_kmv_set_relations_exact_collapse(spark):
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import kmv_set_relations

    a = spark.createDataFrame([(i,) for i in range(0, 100)], ["k"])
    b = spark.createDataFrame([(i,) for i in range(60, 160)], ["k"])
    row = kmv_set_relations(a, "k", b, "k", k=256).collect()[0]
    # both sets below k: sketches are the exact hash sets
    assert row.union_kept == 160
    assert row.est_union == 160 == row.exact_union
    assert row.est_intersection == 40 == row.exact_intersection
    assert row.err_union_ppm == 0 and row.err_intersection_ppm == 0


def test_kmv_set_relations_estimating(spark):
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import kmv_set_relations

    a = spark.createDataFrame([(i,) for i in range(0, 2000)], ["k"])
    b = spark.createDataFrame([(i,) for i in range(1000, 3000)], ["k"])
    row = kmv_set_relations(a, "k", b, "k", k=128).collect()[0]
    assert row.union_kept == 128
    assert row.exact_union == 3000 and row.exact_intersection == 1000
    # σ ≈ 1/√(k-1) ≈ 8.9%: 4σ bounds on the fixed values
    assert abs(row.est_union - 3000) < 3000 * 0.36
    # intersection ratio estimator compounds: generous fixed bound
    assert abs(row.est_intersection - 1000) < 1000 * 0.5


def test_priority_sample_exact_when_small(spark):
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        priority_sample_subset_sums,
    )

    df = spark.createDataFrame(
        [(i, (i % 7) + 1, "g" + str(i % 3)) for i in range(100)],
        ["id", "w", "grp"],
    )
    out = priority_sample_subset_sums(df, "id", "w", "grp", k=256).collect()
    # n <= k: sample is everything, tau = 0, estimates exact
    assert all(r.est_sum == r.exact_sum and r.err_ppm == 0 for r in out)
    assert sum(r.n_sampled for r in out) == 100


def test_priority_sample_estimates_subsets(spark):
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        priority_sample_subset_sums,
    )

    rows = [(i, 100 + (i * 37) % 900, "g" + str(i % 4)) for i in range(5000)]
    df = spark.createDataFrame(rows, ["id", "w", "grp"])
    out = priority_sample_subset_sums(df, "id", "w", "grp", k=256).collect()
    assert len(out) == 4
    assert sum(r.n_sampled for r in out) == 256
    exact_by = {r.grp: r.exact_sum for r in out}
    for r in out:
        # ~64 sampled per subset → σ ≈ 12%; fixed deterministic values,
        # 4σ bound
        assert abs(r.est_sum - r.exact_sum) < r.exact_sum * 0.5
        assert r.err_ppm == abs(r.est_sum - r.exact_sum) * 1_000_000 // r.exact_sum
    # total estimate across ALL groups is the full-population estimate —
    # priority sampling's total-sum accuracy is far tighter than per-subset
    tot_est = sum(r.est_sum for r in out)
    tot_exact = sum(exact_by.values())
    assert abs(tot_est - tot_exact) < tot_exact * 0.15


def test_ams_f2_matches_python_model(spark):
    import hashlib

    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import ams_f2

    keys = [i % 40 for i in range(1000)]
    df = spark.createDataFrame([(k,) for k in keys], ["key"])
    depth, group = 3, 8
    n_signs = depth * group
    n_hashes = (n_signs + 53) // 54

    def h(k, v):
        return int(hashlib.md5(f"{100+k}|{v}".encode()).hexdigest()[:15], 16)

    def sign(i, v):
        return 1 - 2 * ((h(i // 54, v) >> (i % 54)) & 1)

    zs = [sum(sign(i, k) for k in keys) for i in range(n_signs)]
    rows = [
        sum(zs[d * group + g] ** 2 for g in range(group))
        for d in range(depth)
    ]
    expect = sorted(rows)[depth // 2] // group
    from collections import Counter

    exact = sum(f * f for f in Counter(keys).values())
    row = ams_f2(df, "key", depth=depth, group=group).collect()[0]
    assert row.ams_estimate == expect
    assert row.exact_f2 == exact
    assert row.err_ppm == abs(expect - exact) * 1_000_000 // exact


def test_ams_f2_concentrates_on_distinct_keys(spark):
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import ams_f2

    # all-distinct input: F2 = n; the median-of-means estimate must land
    # within a few sigma (sqrt(2/group) ~ 25%) of it — fixed value, 3x slack
    df = spark.createDataFrame([(i,) for i in range(2000)], ["key"])
    row = ams_f2(df, "key").collect()[0]
    assert row.exact_f2 == 2000
    assert abs(row.ams_estimate - 2000) < 2000 * 0.75


def test_hll_grouped_closed_form_equals_grid_form(spark):
    """hll_estimate_grouped's closed-form empty-bucket s2 must equal the
    bucket-grid s2 of hll_estimate_from_registers on the same registers."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        hll_estimate_from_registers,
        hll_estimate_grouped,
        hll_registers,
        hll_registers_grouped,
    )
    from pyspark.sql import functions as F2

    df = spark.createDataFrame([(i % 300, "g") for i in range(900)], ["key", "g"])
    grid = hll_estimate_from_registers(hll_registers(df, "key", p=6), 6).collect()[0]
    grouped = hll_estimate_grouped(
        hll_registers_grouped(df, "key", ["g"], p=6), ["g"], p=6
    ).collect()[0]
    assert (grouped.s2, grouped.v_zero, grouped.hll_estimate) == (
        grid.s2, grid.v_zero, grid.hll_estimate
    )
    assert F2 is not None


def test_hll_rolling_merge_equals_direct_window_sketch(spark):
    """Merging per-period registers over a window must equal sketching the
    window's rows directly (the register max-merge is lossless)."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        hll_registers,
        hll_registers_grouped,
    )
    from pyspark.sql import functions as F2

    rows = [(m, (m * 97 + i) % 500) for m in range(4) for i in range(200)]
    df = spark.createDataFrame(rows, ["midx", "key"])
    regs = hll_registers_grouped(df, "key", ["midx"], p=6)
    merged = (
        regs.filter(F2.col("midx").between(1, 3))
        .groupBy("bucket")
        .agg(F2.max("rho").alias("rho"))
    )
    direct = hll_registers(df.filter(F2.col("midx").between(1, 3)), "key", p=6)
    key = lambda d: sorted((r.bucket, r.rho) for r in d.collect())
    assert key(merged) == key(direct)


def test_bottomk_quantiles_matches_python_model(spark):
    import hashlib

    from pyspark.sql import functions as F

    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        bottomk_quantiles,
    )

    vals = [((i * 37) % 500) + 0.25 for i in range(400)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["rid", "v"]
    )
    k, seed, probs = 32, 5, [250_000, 500_000, 900_000]

    def h(rid):
        return int(hashlib.md5(f"{seed}|{rid}".encode()).hexdigest()[:15], 16)

    samp = sorted(((h(i), v) for i, v in enumerate(vals)))[:k]
    ordered = sorted((v, hh) for hh, v in samp)
    out = bottomk_quantiles(
        df, F.col("rid").cast("string"), "v", probs, k=k, seed=seed
    ).collect()
    assert [r.p_ppm for r in out] == probs
    n = len(vals)
    for r in out:
        idx = (r.p_ppm * k + 999_999) // 1_000_000
        assert r.est_value == ordered[idx - 1][0]
        le = sum(1 for v in vals if v <= r.est_value)
        assert r.rank_ppm == le * 1_000_000 // n
        assert r.rank_err_ppm == abs(le * 1_000_000 // n - r.p_ppm)
        assert r.sample_k == k and r.n_total == n


def test_bottomk_quantiles_exact_when_population_fits(spark):
    from pyspark.sql import functions as F

    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        bottomk_quantiles,
    )

    # n <= k: the sample IS the population, so every estimate is the true
    # order statistic and the reported rank equals ceil(p*n)/n exactly
    vals = sorted(float(v) for v in [9, 1, 4, 7, 3, 8, 2, 6, 5, 10])
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["rid", "v"]
    )
    out = bottomk_quantiles(
        df, F.col("rid").cast("string"), "v",
        [100_000, 500_000, 1_000_000], k=64, seed=1,
    ).collect()
    n = len(vals)
    # the contract: ONE row per requested probability even though n < k
    # (the order-statistic index is clamped to the sample size)
    assert [r.p_ppm for r in out] == [100_000, 500_000, 1_000_000]
    for r in out:
        true_idx = -(-r.p_ppm * n // 1_000_000)  # ceil(p*n)
        # sample index ceil(p*k) overshoots ceil(p*n) by at most the
        # k-vs-n granularity; with the whole population stored the chosen
        # order statistic's TRUE rank can only sit at or above p
        assert r.est_value in vals
        assert r.rank_ppm >= r.p_ppm - 1_000_000 // n
    # indexes past the sample clamp to the maximum — p=1.0 returns the
    # true max with exact rank
    top = out[-1]
    assert top.est_value == max(vals) and top.rank_ppm == 1_000_000


def test_kmv_set_relations_empty_inputs(spark):
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import kmv_set_relations

    empty = spark.createDataFrame([], "k int")
    row = kmv_set_relations(empty, "k", empty, "k", k=16).collect()[0]
    # degenerate guard: union_kept = exact_union = 0 must yield integer
    # zeros, not NULLs (Spark) or a division-by-zero (the oracle replay)
    assert row.union_kept == 0 and row.est_union == 0
    assert row.est_intersection == 0 and row.exact_intersection == 0
    assert row.err_union_ppm == 0 and row.err_intersection_ppm == 0
