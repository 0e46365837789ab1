"""Incremental sketch views (streaming/matview.py): each maintained view
must equal the one-shot batch sketch over the full data, replays must be
no-ops, and estimates read from views must match the one-shot operators.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F  # noqa: F401

from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
    cms_counters,
    hll_estimate_from_registers,
    hll_registers,
    kmv_estimate_from_mins,
    kmv_mins,
)
from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
    apply_cms_batch,
    apply_hll_batch,
    apply_kmv_batch,
)


def _batches(spark, n=3, rows_per=400, dup_across=True):
    """n key batches with cross-batch overlap (the interesting merge case)."""
    out = []
    for i in range(n):
        lo = i * rows_per // (2 if dup_across else 1)
        out.append(
            spark.createDataFrame(
                [(lo + j,) for j in range(rows_per)], ["key"]
            )
        )
    return out


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_kmv_view_equals_batch_and_replay_noop(spark):
    batches = _batches(spark)
    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    with tempfile.TemporaryDirectory() as d:
        state = os.path.join(d, "kmv")
        for i, b in enumerate(batches):
            apply_kmv_batch(b, i, state, "key", k=128)
        view = spark.read.parquet(state)
        expect = kmv_mins(full, "key", k=128)
        assert _rows(view, ["h"]) == _rows(expect, ["h"])
        # replaying the last batch must not change the view
        apply_kmv_batch(batches[-1], len(batches) - 1, state, "key", k=128)
        assert _rows(spark.read.parquet(state), ["h"]) == _rows(expect, ["h"])
        # estimate read from the view == one-shot estimate
        ve = kmv_estimate_from_mins(spark.read.parquet(state), 128).collect()[0]
        be = kmv_estimate_from_mins(expect, 128).collect()[0]
        assert ve.kmv_estimate == be.kmv_estimate and ve.hk == be.hk


def test_hll_view_equals_batch_and_replay_noop(spark):
    batches = _batches(spark)
    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    with tempfile.TemporaryDirectory() as d:
        state = os.path.join(d, "hll")
        for i, b in enumerate(batches):
            apply_hll_batch(b, i, state, "key", p=6)
        view = spark.read.parquet(state)
        expect = hll_registers(full, "key", p=6)
        assert _rows(view, ["bucket", "rho"]) == _rows(expect, ["bucket", "rho"])
        apply_hll_batch(batches[0], 0, state, "key", p=6)  # stale replay
        assert _rows(spark.read.parquet(state), ["bucket", "rho"]) == _rows(
            expect, ["bucket", "rho"]
        )
        ve = hll_estimate_from_registers(spark.read.parquet(state), 6).collect()[0]
        be = hll_estimate_from_registers(expect, 6).collect()[0]
        assert (ve.hll_estimate, ve.s2, ve.v_zero) == (be.hll_estimate, be.s2, be.v_zero)


def test_cms_view_equals_batch_and_replay_guard(spark):
    batches = _batches(spark)
    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    with tempfile.TemporaryDirectory() as d:
        state = os.path.join(d, "cms")
        for i, b in enumerate(batches):
            apply_cms_batch(b, i, state, "key", depth=2, width=32)
        view = spark.read.parquet(state)
        expect = cms_counters(full, "key", depth=2, width=32)
        assert _rows(view, ["d", "b", "bucket_count"]) == _rows(
            expect, ["d", "b", "bucket_count"]
        )
        # CMS is ADDITIVE: a replayed batch would double-count without the
        # batch-id guard — this is the view the guard exists for
        apply_cms_batch(batches[-1], len(batches) - 1, state, "key",
                        depth=2, width=32)
        assert _rows(spark.read.parquet(state), ["d", "b", "bucket_count"]) == _rows(
            expect, ["d", "b", "bucket_count"]
        )


def _value_batches(spark, n=3, rows_per=400):
    """(key, value) batches with disjoint row identities — the bottom-k
    sample is over ROWS, so cross-batch key overlap is irrelevant but the
    value distribution must differ per batch (the interesting merge)."""
    out = []
    for i in range(n):
        out.append(
            spark.createDataFrame(
                [(i * rows_per + j, (j * 37 + i * 11) % 997)
                 for j in range(rows_per)],
                ["key", "value"],
            )
        )
    return out


def test_bottomk_view_equals_batch_and_replay_guard(spark):
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        bottomk_estimates_from_sample,
        bottomk_quantiles,
        bottomk_rows,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_bottomk_batch,
    )

    batches = _value_batches(spark)
    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    probs = [100_000, 500_000, 900_000, 1_000_000]
    with tempfile.TemporaryDirectory() as d:
        state = os.path.join(d, "bottomk")
        for i, b in enumerate(batches):
            apply_bottomk_batch(b, i, state, "key", "value", k=128)
        view = spark.read.parquet(state)
        expect = bottomk_rows(full, "key", "value", k=128)
        assert _rows(view, ["h", "v"]) == _rows(expect, ["h", "v"])
        # the bottom-k merge is NOT row-idempotent (a re-delivered row
        # would take a second sample slot) — the batch-id guard is what
        # makes the replay a no-op, like the additive CMS counters
        apply_bottomk_batch(batches[-1], len(batches) - 1, state, "key",
                            "value", k=128)
        assert _rows(spark.read.parquet(state), ["h", "v"]) == _rows(
            expect, ["h", "v"]
        )
        # quantile estimates read from the view == the one-shot operator's
        # (est_value per probability; the operator adds the rank-error
        # evaluation pass the view read deliberately skips)
        ve = _rows(
            bottomk_estimates_from_sample(
                spark.read.parquet(state), 128, probs
            ),
            ["p_ppm", "est_value"],
        )
        be = _rows(
            bottomk_quantiles(full, "key", "value", probs, k=128)
            .select("p_ppm", "est_value"),
            ["p_ppm", "est_value"],
        )
        assert ve == be and len(ve) == len(probs)


def test_maintain_sketch_views_streaming(spark, tmp_path):
    """End-to-end availableNow run over a file stream: all four views
    equal their one-shot batch sketches."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        bottomk_rows,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        maintain_sketch_views,
    )

    src_dir = str(tmp_path / "src")
    full = spark.createDataFrame(
        [(i % 700, (i * 13) % 411) for i in range(2000)], ["key", "value"]
    )
    full.write.parquet(src_dir)
    stream = spark.readStream.schema("key bigint, value bigint").parquet(src_dir)
    base = str(tmp_path / "views")
    maintain_sketch_views(
        stream, base, str(tmp_path / "ckpt"), "key", k=128, p=6, depth=2,
        width=32, value_col="value",
    )
    kmv_view = spark.read.parquet(os.path.join(base, "kmv"))
    assert _rows(kmv_view, ["h"]) == _rows(kmv_mins(full, "key", k=128), ["h"])
    hll_view = spark.read.parquet(os.path.join(base, "hll"))
    assert _rows(hll_view, ["bucket", "rho"]) == _rows(
        hll_registers(full, "key", p=6), ["bucket", "rho"]
    )
    cms_view = spark.read.parquet(os.path.join(base, "cms"))
    assert _rows(cms_view, ["d", "b", "bucket_count"]) == _rows(
        cms_counters(full, "key", depth=2, width=32), ["d", "b", "bucket_count"]
    )
    bk_view = spark.read.parquet(os.path.join(base, "bottomk"))
    assert _rows(bk_view, ["h", "v"]) == _rows(
        bottomk_rows(full, "key", "value", k=128), ["h", "v"]
    )


def test_bottomk_estimates_empty_sample_keeps_probability_rows(spark):
    """An EMPTY sample (fresh view / empty input) must still emit one row
    per requested probability, with NULL est_value — the r7 advisor found
    the inner join silently dropped every row, invisible to differential
    tests because the oracle was empty too."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        bottomk_estimates_from_sample,
        bottomk_rows,
    )

    probs = [100_000, 500_000, 1_000_000]
    empty = bottomk_rows(
        spark.createDataFrame([], "key bigint, value bigint"),
        "key", "value", k=64,
    )
    got = bottomk_estimates_from_sample(empty, 64, probs).collect()
    assert sorted(r.p_ppm for r in got) == probs
    assert all(r.est_value is None for r in got)

    # n = 1 < k still answers every probability with the lone value
    one = bottomk_rows(
        spark.createDataFrame([(7, 42)], ["key", "value"]), "key", "value",
        k=64,
    )
    got1 = bottomk_estimates_from_sample(one, 64, probs).collect()
    assert sorted(r.p_ppm for r in got1) == probs
    assert all(r.est_value == 42 for r in got1)


def test_fused_apply_equals_separate_and_guards_stay_per_view(spark):
    """apply_sketch_views_batch (one shared scan) must produce byte-equal
    views to the four separate apply_*_batch calls, and a PARTIAL crash —
    some views committed at batch N, others not — must replay into
    per-view no-ops/applies exactly like the unfused path."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_bottomk_batch,
        apply_cms_batch,
        apply_hll_batch,
        apply_kmv_batch,
        apply_sketch_views_batch,
    )

    batches = _value_batches(spark)
    with tempfile.TemporaryDirectory() as d:
        fused, sep = os.path.join(d, "fused"), os.path.join(d, "sep")
        for b, df in enumerate(batches):
            apply_sketch_views_batch(df, b, fused, "key",
                                     value_col="value")
            apply_kmv_batch(df, b, os.path.join(sep, "kmv"), "key")
            apply_hll_batch(df, b, os.path.join(sep, "hll"), "key")
            apply_cms_batch(df, b, os.path.join(sep, "cms"), "key")
            apply_bottomk_batch(df, b, os.path.join(sep, "bottomk"),
                                "key", "value")
        for view, cols in (("kmv", ["h"]), ("hll", None), ("cms", None),
                           ("bottomk", ["h", "v"])):
            fv = spark.read.parquet(os.path.join(fused, view))
            sv = spark.read.parquet(os.path.join(sep, view))
            cols = cols or fv.columns
            assert _rows(fv, cols) == _rows(sv, cols), view

        # partial-crash replay: advance ONLY the cms view to batch 3,
        # then run the fused apply for batch 3 — cms must be a no-op
        # (marker already at 3), the other three must apply
        extra = spark.createDataFrame(
            [(9_000_001 + j, j) for j in range(50)], ["key", "value"]
        )
        apply_cms_batch(extra, 3, os.path.join(fused, "cms"), "key")
        cms_path = os.path.join(fused, "cms")
        cms_cols = spark.read.parquet(cms_path).columns
        before_cms = _rows(spark.read.parquet(cms_path), cms_cols)
        before_kmv = _rows(spark.read.parquet(os.path.join(fused, "kmv")),
                           ["h"])
        apply_sketch_views_batch(extra, 3, fused, "key", value_col="value")
        after_cms = _rows(spark.read.parquet(cms_path), cms_cols)
        after_kmv = _rows(spark.read.parquet(os.path.join(fused, "kmv")),
                          ["h"])
        assert after_cms == before_cms          # replay no-op for cms
        assert after_kmv != before_kmv          # genuine apply elsewhere


def test_fused_apply_without_value_col_maintains_three_views(spark):
    """value_col=None → only kmv/hll/cms directories exist and match
    their one-shot sketches (the fused path must not require or create
    the quantile member)."""
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        apply_sketch_views_batch,
    )

    batches = _batches(spark)
    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    with tempfile.TemporaryDirectory() as d:
        for b, df in enumerate(batches):
            apply_sketch_views_batch(df, b, d, "key", k=64, p=5, depth=2,
                                     width=16)
        assert not os.path.exists(os.path.join(d, "bottomk"))
        assert _rows(spark.read.parquet(os.path.join(d, "kmv")), ["h"]) == \
            _rows(kmv_mins(full, "key", k=64), ["h"])
        assert _rows(spark.read.parquet(os.path.join(d, "hll")),
                     ["bucket", "rho"]) == \
            _rows(hll_registers(full, "key", p=5), ["bucket", "rho"])
        assert _rows(spark.read.parquet(os.path.join(d, "cms")),
                     ["d", "b", "bucket_count"]) == \
            _rows(cms_counters(full, "key", depth=2, width=16),
                  ["d", "b", "bucket_count"])


def test_arrow_commit_round_trips_every_bounded_view(spark, tmp_path):
    """_commit_view collects the merged view as one Arrow table and
    writes it with pyarrow. For each bounded view shape (KMV, HLL, CMS,
    bottom-k, the IVF cell stats with their array<double> sums, and an
    empty merged frame) the committed directory must read back through
    Spark's own inference with the merged frame's column names and types
    (nullability aside) and hold the same rows."""
    from skylogix_real_time_weather_data_pipeline_spark.ext.sketch import (
        bottomk_rows,
    )
    from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
        _commit_view,
        combine_cell_stats,
    )

    keys = spark.createDataFrame(
        [(j % 97, float(j) / 3) for j in range(500)], "key long, value double")
    cells = spark.createDataFrame(
        [(0, 2, [1.0, 2.5]), (1, 1, [0.5, -0.25]), (3, 4, [])],
        "cell int, n_vecs long, sums array<double>")
    merged = {
        "kmv": kmv_mins(keys, "key", 64),
        "hll": hll_registers(keys, "key", p=5),
        "cms": cms_counters(keys, "key", depth=2, width=16),
        "bottomk": bottomk_rows(keys, "key", "value", 32),
        "ivf_cells": combine_cell_stats(cells, cells),
        "empty": kmv_mins(keys.limit(0), "key", 64),
    }
    for view, df in merged.items():
        path = str(tmp_path / view)
        _commit_view(df, path, 0)
        back = spark.read.parquet(path)
        assert [(f.name, f.dataType.simpleString()) for f in back.schema] == \
            [(f.name, f.dataType.simpleString()) for f in df.schema], view
        assert _rows(back, back.columns) == _rows(df, df.columns), view
    assert spark.read.parquet(str(tmp_path / "empty")).count() == 0
