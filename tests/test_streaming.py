"""Streaming-semantics tests (SURVEY §5.2 layer 4): availableNow
incremental-vs-batch equivalence, windowed gold over streams, session
windows vs the lag+cumsum batch form, metrics listener."""

from __future__ import annotations

import time

import pyspark.sql.functions as F
import pytest

from skylogix_real_time_weather_data_pipeline_spark.sources import read_raw_json
from skylogix_real_time_weather_data_pipeline_spark.streaming import (
    attach_metrics_listener,
    daily_city_window,
    run_bronze_to_silver_available_now,
    sessionize,
)
from skylogix_real_time_weather_data_pipeline_spark.streaming.pipeline import (
    compute_stream_bounds,
    silver_stream,
)

from .fixtures import make_raw_docs, write_raw_json_dir


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_raw")
    write_raw_json_dir(str(d), make_raw_docs())
    return str(d)


def _await(query, timeout=120):
    query.awaitTermination(timeout)
    assert not query.isActive


def test_available_now_equals_batch(spark, raw_dir, tmp_path):
    """The cron-equivalence property: one availableNow run over the raw dir
    produces exactly the batch silver result (SURVEY §2.9)."""
    batch_raw = read_raw_json(spark, raw_dir)
    bounds, medians = compute_stream_bounds(
        silver_stream(batch_raw), ["temperature", "pressure"]
    )
    out = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    q = run_bronze_to_silver_available_now(spark, raw_dir, out, ckpt, bounds, medians)
    _await(q)

    streamed = spark.read.parquet(out)
    batch = silver_stream(batch_raw, bounds, medians)
    cols = sorted(batch.columns)
    a = sorted(map(str, streamed.select(cols).collect()))
    b = sorted(map(str, batch.select(cols).collect()))
    assert a == b and len(a) > 0


def test_incremental_picks_up_only_new_files(spark, raw_dir, tmp_path):
    """Second availableNow run with the same checkpoint processes only
    newly-arrived files (the reference re-reads ALL history every run)."""
    out = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    q = run_bronze_to_silver_available_now(spark, raw_dir, out, ckpt)
    _await(q)
    n1 = spark.read.parquet(out).count()

    extra = make_raw_docs(n_days=1, per_day=1, seed=99)
    import os

    for i, d in enumerate(extra):
        import json

        with open(os.path.join(raw_dir, f"late_{i:03d}.json"), "w") as f:
            json.dump(d, f)

    q2 = run_bronze_to_silver_available_now(spark, raw_dir, out, ckpt)
    _await(q2)
    n2 = spark.read.parquet(out).count()
    valid_extra = sum(1 for x in extra if all(k in x for k in ("main", "wind", "weather")))
    assert n2 == n1 + valid_extra


def test_windowed_gold_on_stream_equals_batch(spark, raw_dir, tmp_path):
    silver_batch = silver_stream(read_raw_json(spark, raw_dir))

    raw_stream = (
        spark.readStream.schema(read_raw_json(spark, raw_dir).schema).json(raw_dir)
    )
    gold_stream = daily_city_window(silver_stream(raw_stream))
    q = (
        gold_stream.writeStream.format("memory")
        .queryName("gold_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    streamed = spark.table("gold_mem")
    batch = daily_city_window(silver_batch)
    a = sorted(map(str, streamed.select(sorted(streamed.columns)).collect()))
    b = sorted(map(str, batch.select(sorted(batch.columns)).collect()))
    assert a == b and len(a) > 0


def test_session_window_matches_lag_cumsum_form(spark, sf_dir):
    """Native session_window semantics == the oracle-checked lag+cumsum form
    (plans/streaming_batch.q_sessionize) on the events table."""
    from skylogix_real_time_weather_data_pipeline_spark.plans.streaming_batch import (
        q_sessionize,
    )
    from skylogix_real_time_weather_data_pipeline_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("city"), F.col("ts").alias("timestamp")
    )
    native = sessionize(ev, gap="2 hours")
    lagform = q_sessionize(spark, sf_dir)

    a = sorted(
        (r.city, str(r.session_start), r.n_events)
        for r in native.collect()
    )
    b = sorted(
        (str(r.user_id), str(r.session_start), r.n_events)
        for r in lagform.collect()
    )
    assert a == b


def test_sessionize_sub_second_gap_matches_oracle(spark, tmp_path):
    """The 7200 s session gap is tested on microseconds, as the oracle's
    fractional epoch(ts) does: events 7200.5 s apart whose whole-second
    floors differ by exactly 7200 start a NEW session, while a gap of
    exactly 7200 s stays in one."""
    from datetime import datetime, timedelta

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from skylogix_real_time_weather_data_pipeline_spark.plans.streaming_batch import (
        O_SESSIONIZE,
        q_sessionize,
    )

    t0 = datetime(2024, 3, 1, 0, 0, 0)
    rows = [(1, t0), (1, t0 + timedelta(seconds=7200.5)),
            (2, t0 + timedelta(seconds=0.5)), (2, t0 + timedelta(seconds=7200.5))]
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({
        "user_id": pa.array([u for u, _ in rows], pa.int64()),
        "ts": pa.array([t for _, t in rows], pa.timestamp("us")),
        "value": pa.array([1.0] * len(rows), pa.float64()),
    }), path)

    got = sorted((r.user_id, r.session_seq, r.n_events)
                 for r in q_sessionize(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        want = sorted((u, s, n) for u, s, _, _, n, _ in con.execute(O_SESSIONIZE).fetchall())
    finally:
        con.close()
    assert got == want == [(1, 1, 1), (1, 2, 1), (2, 1, 2)]


def test_metrics_listener_counts_rows(spark, raw_dir, tmp_path):
    listener = attach_metrics_listener(spark)
    try:
        out = str(tmp_path / "silver")
        ckpt = str(tmp_path / "ckpt")
        q = run_bronze_to_silver_available_now(spark, raw_dir, out, ckpt)
        _await(q)
        # listener events are async; allow delivery
        deadline = time.time() + 30
        while time.time() < deadline:
            if listener.registry.values.get("weather_records_processed", 0) > 0:
                break
            time.sleep(0.5)
        assert listener.registry.values["weather_records_processed"] > 0
        assert listener.registry.values["weather_pipeline_runs"] >= 1

        # stdlib /metrics scrape endpoint (reference src/utils.py:161-173):
        # serves the registry in Prometheus text exposition format
        from urllib.request import urlopen

        from skylogix_real_time_weather_data_pipeline_spark.streaming.listener import (
            start_metrics_server,
        )

        server = start_metrics_server(port=0, registry=listener.registry)
        assert server not in (True, False)
        try:
            port = server.server_address[1]
            body = urlopen(f"http://127.0.0.1:{port}/metrics", timeout=10).read().decode()
            assert "weather_records_processed" in body
            assert "weather_pipeline_runs" in body
            from urllib.error import HTTPError

            try:
                urlopen(f"http://127.0.0.1:{port}/nope", timeout=10)
                raise AssertionError("expected 404")
            except HTTPError as e:
                assert e.code == 404
        finally:
            server.shutdown()
    finally:
        spark.streams.removeListener(listener)


def test_hopping_distinct_streams_with_approx(spark, tmp_path):
    """§2.9 cardinality: Structured Streaming cannot run exact
    countDistinct, so the live form of stream_hopping_distinct uses
    approx_count_distinct — pin that the streaming approx counts stay
    within the sketch tolerance of the exact batch query, window for
    window, and that event/row counts match exactly."""
    import json

    import pyspark.sql.functions as F

    src = tmp_path / "ev"
    src.mkdir()
    rows = [
        {"user_id": u, "ts": f"2024-03-01 {h:02d}:{(u * 7) % 60:02d}:00"}
        for h in range(12)
        for u in range(1 + (h * 13) % 40)
    ]
    with open(src / "events.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    schema = "user_id long, ts timestamp"
    agg_stream = (
        spark.readStream.schema(schema).json(str(src))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        agg_stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        str(r["w"].start): (r["n_users"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    exact = {
        str(r["w"].start): (r["n_users"], r["n_events"])
        for r in (
            spark.read.schema(schema).json(str(src))
            .groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
            .agg(
                F.countDistinct("user_id").alias("n_users"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .collect()
        )
    }
    # append mode only emits windows the watermark closed — every emitted
    # window must agree with the batch result
    assert len(streamed) > 0
    for ws, (approx_u, n_ev) in streamed.items():
        exact_u, exact_ev = exact[ws]
        assert n_ev == exact_ev
        assert abs(approx_u - exact_u) <= max(1, int(0.05 * exact_u))
