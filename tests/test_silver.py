"""Silver-pipeline golden behavior on the weather fixture corpus
(SURVEY §5.2 layer 3): required-key filtering, flattening, timestamp
coalesce, IQR clean + median fill, categorical fill, derivations."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from skylogix_real_time_weather_data_pipeline_spark.operators import silver
from skylogix_real_time_weather_data_pipeline_spark.sinks import write_parquet
from skylogix_real_time_weather_data_pipeline_spark.sources import read_raw_json

from .fixtures import make_raw_docs, write_raw_json_dir


@pytest.fixture(scope="module")
def raw(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("raw_weather")
    docs = make_raw_docs()
    write_raw_json_dir(str(d), docs)
    return spark.read.schema(
        read_raw_json(spark, str(d)).schema
    ).json(str(d)), docs


def test_required_key_filter_drops_incomplete(raw):
    df, docs = raw
    kept = silver.filter_required_keys(df).count()
    expected = sum(1 for x in docs if all(k in x for k in ("main", "wind", "weather")))
    assert kept == expected
    assert kept < len(docs)  # fixture plants missing-key docs


def test_flatten_schema_and_coalesce(raw):
    df, docs = raw
    flat = silver.flatten_raw(silver.filter_required_keys(df))
    assert set(flat.columns) == {
        "city", "country", "timestamp", "temperature", "feels_like", "temp_min",
        "temp_max", "pressure", "humidity", "wind_speed", "wind_direction",
        "weather_condition", "weather_description",
    }
    # every row has a timestamp even where dt is null (P3 coalesce)
    assert flat.filter(F.col("timestamp").isNull()).count() == 0


def test_clean_outliers_removes_extremes_and_fills(raw):
    df, _ = raw
    flat = silver.flatten_raw(silver.filter_required_keys(df))
    assert flat.filter(F.col("temperature") > 1000).count() > 0  # planted
    cleaned = silver.clean_outliers(flat, ["temperature"])
    assert cleaned.filter(F.col("temperature") > 1000).count() == 0
    assert cleaned.filter(F.col("temperature").isNull()).count() == 0  # median-filled


def test_median_fill_uses_post_masking_median(spark):
    # SURVEY §7.4.1e: the fill value is the median AFTER outlier nulling
    df = spark.createDataFrame(
        [(float(v),) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 1000]], "x double"
    )
    cleaned = silver.clean_outliers(df, ["x"], lower_q=0.25, upper_q=0.75, k=1.5)
    vals = sorted(r.x for r in cleaned.collect())
    # 1000 masked; median of remaining 1..10 = 5.5
    assert vals.count(5.5) == 1
    assert max(vals) <= 10.0


def test_fill_categoricals_and_derivations(raw):
    df, _ = raw
    out = silver.silver_pipeline(df)
    assert out.filter(F.col("weather_condition").isNull()).count() == 0
    row = out.select("date", "hour", "day_of_week", "temp_range").first()
    assert row.date is not None and 0 <= row.hour <= 23
    assert row.day_of_week in {
        "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"
    }


def test_permissive_corrupt_record_capture(spark, tmp_path):
    p = tmp_path / "corrupt"
    p.mkdir()
    (p / "good.json").write_text('{"city_name": "X", "country_code": "Y"}')
    (p / "bad.json").write_text("{this is not json")
    # Spark requires materializing before querying only _corrupt_record
    df = read_raw_json(spark, str(p)).cache()
    try:
        assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 1
        assert df.filter(F.col("city_name") == "X").count() == 1
    finally:
        df.unpersist()


def test_observe_quality_counts_without_second_scan(spark):
    from pyspark.sql import functions as F

    from skylogix_real_time_weather_data_pipeline_spark.operators.silver import observe_quality

    df = spark.createDataFrame(
        [(1.0, 2.0), (None, 4.0), (3.0, None), (None, None)],
        "temperature double, humidity double",
    )
    observed, obs = observe_quality(df, "q")
    # one action drives both the result and the metrics
    assert observed.count() == 4
    got = obs.get
    assert got["n_rows"] == 4
    assert got["null_temperature"] == 2
    assert got["null_humidity"] == 2


def _complete(doc: dict) -> bool:
    return all(doc.get(k) for k in ("main", "wind", "weather", "city_name", "country_code"))


def test_silver_rerun_over_a_grown_directory_counts_the_new_document(spark, tmp_path):
    """Two daily runs over one raw directory in one session, with no cache
    release between them: the second run counts the document that landed
    after the first. The parse is shared between the stat jobs and the
    write through a local checkpoint; a CacheManager persist of the same
    scan would serve the first run's rows to the second."""
    raw_dir, out = tmp_path / "raw", str(tmp_path / "silver")
    docs = make_raw_docs(n_days=3, per_day=1)
    write_raw_json_dir(str(raw_dir), docs)

    def daily_run() -> int:
        write_parquet(silver.silver_pipeline(read_raw_json(spark, str(raw_dir))),
                      out, partition_by=["date"])
        return spark.read.parquet(out).count()

    first = daily_run()
    assert first == sum(map(_complete, docs))
    (raw_dir / "doc_late.json").write_text(json.dumps(next(filter(_complete, docs))))
    assert daily_run() == first + 1


def test_silver_output_reads_the_checkpoint_not_the_raw_json(spark, tmp_path):
    """The cleaned silver frame's executed plan scans the local checkpoint
    the IQR job filled, so the caller's write does not parse the raw JSON
    again; without cleaning the plan is the plain JSON scan."""
    write_raw_json_dir(str(tmp_path), make_raw_docs(n_days=3, per_day=1))
    raw = read_raw_json(spark, str(tmp_path))

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    cleaned = plan(silver.silver_pipeline(raw))
    assert "FileScan json" not in cleaned and "ExistingRDD" in cleaned, cleaned
    assert "FileScan json" in plan(silver.silver_pipeline(raw, clean=False))
