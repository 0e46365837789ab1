"""Sink round-trips (SURVEY §2.2 K2-K6)."""

from __future__ import annotations

import os
import sqlite3

from pyspark.sql import functions as F

from skylogix_real_time_weather_data_pipeline_spark.sinks import (
    write_csv_report,
    write_jdbc,
    write_json_records,
    write_parquet,
    write_sqlite,
)


def _sample(spark):
    return spark.createDataFrame(
        [("London", "2024-03-01", 9.5), ("Tokyo", "2024-03-01", 16.2)],
        "city string, date string, temperature double",
    )


def test_parquet_partitioned_roundtrip(spark, tmp_path):
    p = str(tmp_path / "pq")
    write_parquet(_sample(spark), p, partition_by=["date"])
    back = spark.read.parquet(p)
    assert back.count() == 2 and "city" in back.columns


def test_partitioned_parquet_writes_one_file_per_date(spark, tmp_path):
    """A partitioned write rebalances by the partition column first: six
    input partitions, each holding rows of all three dates, leave one
    parquet file per ``date=`` directory (not one per task per date), and
    every row reads back."""
    rows = [(i, f"2024-03-0{1 + i % 3}", float(i)) for i in range(36)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 6),
                               "id int, date string, v double")
    assert df.rdd.getNumPartitions() >= 4
    p = str(tmp_path / "pq")
    write_parquet(df, p, partition_by=["date"])
    dirs = sorted(d for d in os.listdir(p) if d.startswith("date="))
    assert dirs == ["date=2024-03-01", "date=2024-03-02", "date=2024-03-03"]
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(p, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    back = spark.read.parquet(p).select("id", F.col("date").cast("string"), "v")
    assert sorted(tuple(r) for r in back.collect()) == rows


def test_csv_report_roundtrip(spark, tmp_path):
    p = str(tmp_path / "csv")
    write_csv_report(_sample(spark), p, single_file=True)
    back = spark.read.option("header", True).csv(p)
    assert back.count() == 2
    assert set(back.columns) == {"city", "date", "temperature"}


def test_json_records_roundtrip(spark, tmp_path):
    p = str(tmp_path / "json")
    write_json_records(_sample(spark), p)
    back = spark.read.json(p)
    assert back.count() == 2


def test_json_array_compat_sink(spark, tmp_path):
    import json

    from skylogix_real_time_weather_data_pipeline_spark.sinks import write_json_array

    p = str(tmp_path / "arr.json")
    n = write_json_array(_sample(spark), p)
    data = json.load(open(p))
    assert n == 2 and isinstance(data, list) and len(data) == 2
    assert {d["city"] for d in data} == {"London", "Tokyo"}


def test_sqlite_sink_with_indexes(spark, tmp_path):
    db = str(tmp_path / "w.db")
    n = write_sqlite(_sample(spark), db)
    assert n == 2
    con = sqlite3.connect(db)
    try:
        rows = con.execute("SELECT city, temperature FROM weather_data ORDER BY city").fetchall()
        assert rows[0][0] == "London"
        idx = {r[1] for r in con.execute("PRAGMA index_list(weather_data)").fetchall()}
        assert any("idx_city" in i for i in idx) and any("idx_date" in i for i in idx)
    finally:
        con.close()


def test_sqlite_sink_guards_large_collect(spark):
    import pytest

    df = spark.range(100)
    with pytest.raises(ValueError):
        write_sqlite(df, "/tmp/should_not_exist.db", max_rows=10)


def test_jdbc_sink_gated_without_driver(spark):
    """A missing JDBC driver jar must fail fast with a clear message, not a
    deep ClassNotFoundException at save() time."""
    import pytest

    with pytest.raises(RuntimeError, match="not on the Spark classpath"):
        write_jdbc(_sample(spark), "jdbc:postgresql://localhost/x", "t",
                   driver="org.postgresql.Driver")


def test_jdbc_sink_round_trip_embedded_derby(spark, tmp_path):
    """Full distributed-JDBC exercise (SURVEY K4 scale path): write via
    df.write.jdbc to an embedded Derby database (Spark bundles the Derby
    jars for its Hive metastore), read back via spark.read.jdbc, compare."""
    url = f"jdbc:derby:{tmp_path}/derby_db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    df = _sample(spark)
    write_jdbc(df, url, "weather_report", driver)
    back = (
        spark.read.format("jdbc")
        .option("url", url).option("dbtable", "weather_report")
        .option("driver", driver).load()
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # overwrite mode replaces, not appends
    write_jdbc(df, url, "weather_report", driver)
    assert back.count() == df.count()


def test_partitioned_sorted_layout_prunes_and_sorts(spark, tmp_path):
    from skylogix_real_time_weather_data_pipeline_spark.sinks import (
        verify_partition_pruning,
        write_partitioned_sorted,
    )
    import glob

    df = spark.range(0, 1000).selectExpr(
        "id", "id % 4 AS bucket", "CAST(id * 7 % 1000 AS LONG) AS key"
    )
    p = str(tmp_path / "laid_out")
    write_partitioned_sorted(df, p, ["bucket"], ["key"])

    # each partition directory owned by one task -> one file per directory
    for d in glob.glob(f"{p}/bucket=*"):
        files = [f for f in glob.glob(f"{d}/*.parquet")]
        assert len(files) == 1, d

    # a partition-filtered read prunes at the directory level
    assert verify_partition_pruning(spark, p, "bucket = 2")
    back = spark.read.parquet(p).filter("bucket = 2")
    assert back.count() == 250

    # rows inside each file are clustered on the sort column
    one = spark.read.parquet(glob.glob(f"{p}/bucket=0/*.parquet")[0])
    keys = [r.key for r in one.select("key").collect()]
    assert keys == sorted(keys)


def test_zorder_layout_bounds_both_columns_per_file(spark, tmp_path):
    """Z-order vs single-column sort: after Morton clustering, EVERY file
    bounds BOTH dimensions (skipping works for filters on either column);
    an x-sorted layout leaves y spanning the full range in every file."""
    from skylogix_real_time_weather_data_pipeline_spark.sinks import write_zordered
    import glob

    grid = spark.range(0, 4096).selectExpr("id % 64 AS x", "CAST(id / 64 AS LONG) AS y")
    zp, xp = str(tmp_path / "zorder"), str(tmp_path / "xsort")
    write_zordered(grid, zp, ["x", "y"], n_files=16)
    (grid.repartitionByRange(16, "x").sortWithinPartitions("x")
         .write.parquet(xp))

    def file_spans(path, col):
        vals = []
        for f in glob.glob(f"{path}/*.parquet"):
            r = spark.read.parquet(f).selectExpr(
                f"max({col}) - min({col}) AS s").first()
            vals.append(r.s)
        return sum(vals) / len(vals)

    # z-order: both dimensions bounded well below the full 0-63 range
    assert file_spans(zp, "x") < 40
    assert file_spans(zp, "y") < 40
    # x-sort: x is tight but y spans everything
    assert file_spans(xp, "x") < 8
    assert file_spans(xp, "y") > 55


def test_compact_parquet_repacks_small_files(spark, tmp_path):
    from skylogix_real_time_weather_data_pipeline_spark.sinks import compact_parquet
    import glob

    p = str(tmp_path / "fragmented")
    spark.range(0, 10_000).repartition(32).write.parquet(p)
    assert len(glob.glob(f"{p}/*.parquet")) == 32
    before = {r.id for r in spark.read.parquet(p).collect()}

    n = compact_parquet(spark, p, target_file_bytes=64 * 1024)
    assert n == len(glob.glob(f"{p}/*.parquet")) and n < 32
    assert {r.id for r in spark.read.parquet(p).collect()} == before


def test_write_read_table_round_trips_all_formats(spark, tmp_path):
    """The generic table sink/source must round-trip values and types in
    every bundled format; partitioned writes must keep the partition
    column readable."""
    from skylogix_real_time_weather_data_pipeline_spark.sinks.writers import write_table
    from skylogix_real_time_weather_data_pipeline_spark.sources.batch import read_table

    df = spark.createDataFrame(
        [(1, "london", 12.5), (2, "paris", None), (3, "london", -3.0)],
        "id long, city string, temp double",
    )
    schema = "id long, city string, temp double"
    for fmt in ("parquet", "orc", "json", "csv"):
        path = str(tmp_path / f"t_{fmt}")
        write_table(df, path, fmt=fmt)
        back = read_table(spark, path, fmt=fmt,
                          schema=schema if fmt in ("json", "csv") else None)
        rows = {r.id: (r.city, r.temp) for r in back.collect()}
        assert rows == {1: ("london", 12.5), 2: ("paris", None), 3: ("london", -3.0)}
        assert dict(back.dtypes)["temp"] == "double"

    part = str(tmp_path / "part_orc")
    write_table(df, part, fmt="orc", partition_by=["city"])
    back = read_table(spark, part, fmt="orc")
    assert back.filter("city = 'london'").count() == 2


def test_orc_scan_pushes_filters_like_parquet(spark, tmp_path):
    """ORC is a first-class columnar path: an id predicate must reach the
    scan as a pushed filter, and projection must prune to the read
    columns — same plan discipline the parquet scans are pinned to."""
    from skylogix_real_time_weather_data_pipeline_spark.sinks.writers import write_table
    from skylogix_real_time_weather_data_pipeline_spark.sources.batch import read_table

    df = spark.range(0, 1000).selectExpr("id", "id % 7 AS grp", "id * 1.5 AS v")
    path = str(tmp_path / "orc_push")
    write_table(df, path, fmt="orc")
    q = read_table(spark, path, fmt="orc").filter("grp = 3").select("id")
    plan = q._sc._jvm.PythonSQLUtils.explainString(q._jdf.queryExecution(), "formatted")
    assert "PushedFilters: [IsNotNull(grp), EqualTo(grp,3)]" in plan
    assert "ReadSchema: struct<id:bigint,grp:bigint>" in plan
    assert q.count() == 143


def test_read_table_permissive_degrades_malformed_json(spark, tmp_path):
    """S3 discipline through the generic reader: one malformed JSONL line
    must degrade to nulls, not fail the batch."""
    from skylogix_real_time_weather_data_pipeline_spark.sources.batch import read_table

    p = tmp_path / "j"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"id": 1, "city": "london"}\n'
        'NOT VALID JSON {{{\n'
        '{"id": 3, "city": "paris"}\n'
    )
    back = read_table(spark, str(p), fmt="json", schema="id long, city string")
    rows = [(r.id, r.city) for r in back.collect()]
    assert len(rows) == 3
    assert (1, "london") in rows and (3, "paris") in rows
    assert (None, None) in rows  # the malformed line, degraded
