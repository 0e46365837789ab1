"""Streaming topology (SURVEY.md §2.9): bronze → silver → gold as
Structured Streaming queries.

The reference's 'stream' is a daily cron re-running a batch over an
append-only directory, re-reading ALL history each run (reference
src/transform.py:64-66, airflow dag:35). Natively:

- bronze: file/Kafka source (sources/streaming.py) — new-files-only,
  exactly-once via checkpoint;
- silver: the same operators as batch (operators/silver.py) — one lazy
  plan, EXCEPT the two-pass IQR clean, whose quantile bounds are not
  streaming-incremental (SURVEY §7.4.2): bounds are computed in batch over
  bronze history and applied in-stream (``clean_outliers_with_bounds``);
- gold: tumbling event-time windows with a watermark;
- trigger: ``availableNow`` reproduces the cron's batch-equivalence
  (process everything pending, then stop); a processingTime trigger turns
  the same code into a live pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.silver import (
    clean_outliers_with_bounds,
    derive_temporal,
    fill_categoricals,
    filter_required_keys,
    flatten_raw,
    outlier_stats,
)
from ..schemas import NUMERIC_MEASURE_COLUMNS


def compute_stream_bounds(history: DataFrame, columns=None) -> tuple[dict, dict]:
    """Batch pass over bronze history → (bounds, medians) for
    ``clean_outliers_with_bounds``: the batch clean_outliers stats
    (median of the post-masking column)."""
    columns = [c for c in (columns or NUMERIC_MEASURE_COLUMNS) if c in history.columns]
    return outlier_stats(history, columns)


def silver_stream(
    raw: DataFrame,
    bounds: dict[str, tuple[float, float]] | None = None,
    medians: dict[str, float] | None = None,
) -> DataFrame:
    """Silver transform over a streaming (or batch) raw frame — identical
    operator chain to the batch silver_pipeline, with cleaning parameterized
    by precomputed stats."""
    df = flatten_raw(filter_required_keys(raw))
    if bounds:
        df = clean_outliers_with_bounds(df, bounds, medians)
    return derive_temporal(fill_categoricals(df))


def daily_city_window(silver: DataFrame, watermark: str = "3 hours") -> DataFrame:
    """Gold: tumbling daily per-city aggregate with late-data watermark
    (SURVEY §2.9 — the reference never drops late data; parity mode is
    availableNow batch-equivalence, watermark applies to live streams)."""
    src = silver.withWatermark("timestamp", watermark) if silver.isStreaming else silver
    return (
        src.groupBy(F.window("timestamp", "1 day").alias("w"), "city")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            # decimal-exact mean (functions/exact.dmean inlined: dmean's
            # compound sum/count expression is fine in streaming state too,
            # and keeping it written out makes the state layout explicit)
            F.round(
                F.sum(F.col("temperature").cast("decimal(24,10)")).cast("double")
                / F.count("temperature"),
                6,
            ).alias("temp_mean"),
            F.round(F.min("temperature"), 6).alias("temp_low"),
            F.round(F.max("temperature"), 6).alias("temp_high"),
        )
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"),
                "city", "n_obs", "temp_mean", "temp_low", "temp_high")
    )


def sessionize(events: DataFrame, ts_col: str = "timestamp", key_col: str = "city",
               gap: str = "2 hours", watermark: str = "3 hours") -> DataFrame:
    """Native session windows (gap-merged). On a stream, requires a
    watermark; on a batch frame runs as-is. The batch-expressible
    lag+cumsum equivalent lives in plans/streaming_batch.py (oracle-checked
    against this semantics in tests)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def stream_stream_join(left: DataFrame, right: DataFrame, key_col: str,
                       left_ts: str, right_ts: str, watermark: str = "1 hour",
                       within: str = "30 minutes", how: str = "inner") -> DataFrame:
    """Watermarked stream-stream join (SURVEY §2.9 extension — the
    attribution pattern: each left event matched to right events with the
    same key within ``[left_ts, left_ts + within]``).

    Both sides carry a watermark and the join condition bounds event time
    in both directions, so Spark's state store can expire buffered rows —
    the state per key is bounded by (watermark + within), not stream
    length. Works identically on batch frames (watermark is a no-op), so
    the batch join IS the correctness oracle; cross-micro-batch matching is
    pinned in tests/test_stream_stream_join.py.

    ``how='left_outer'`` additionally emits unmatched left rows with NULL
    right columns — but only once the watermark passes the end of their
    match window (the state store must be sure no future right row can
    match), so outer results trail the watermark by design.

    ``left_ts`` and ``right_ts`` must be distinct names (both appear in the
    output); the right side's key column is dropped after the equi-match.
    """
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct column names")
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported stream-stream join type: {how}")
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    r = r.withColumnRenamed(key_col, "_r_key")
    cond = (
        (F.col(key_col) == F.col("_r_key"))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how).drop("_r_key")


def run_bronze_to_silver_available_now(
    spark,
    raw_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    bounds: dict[str, tuple[float, float]] | None = None,
    medians: dict[str, float] | None = None,
):
    """The cron-equivalent micro-batch run: ingest new raw JSON files,
    transform to silver, append to partitioned parquet, stop when caught up.

    Partitioning by (date) — at scale, by (date, city-bucket) — replaces
    the reference's filename-encoded keys (SURVEY §7.4.4); exactly-once via
    the checkpoint."""
    from ..sources.streaming import stream_raw_json

    raw = stream_raw_json(spark, raw_dir)
    silver = silver_stream(raw, bounds, medians)
    return (
        silver.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("date")
        .trigger(availableNow=True)
        .start()
    )
