"""Smoke test of the CLI daily run (``python -m
skylogix_real_time_weather_data_pipeline_spark``): extract → transform →
analyze → load, in-process on the test session."""

from __future__ import annotations

import os
import sqlite3
import sys
from pathlib import Path

from skylogix_real_time_weather_data_pipeline_spark.__main__ import main


def test_cli_daily_run_writes_one_file_per_date_and_loads_sqlite(spark, tmp_path, monkeypatch):
    # --synthesize imports tests.fixtures from the working directory
    monkeypatch.chdir(Path(__file__).resolve().parent.parent)
    monkeypatch.setattr(sys, "path", list(sys.path))
    work = str(tmp_path / "wx")
    assert main(["--workdir", work, "--synthesize", "40", "--master", "local[2]"]) == 0

    silver = os.path.join(work, "silver")
    dates = [d for d in os.listdir(silver) if d.startswith("date=")]
    assert dates
    for d in dates:
        files = [f for f in os.listdir(os.path.join(silver, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    n_silver = spark.read.parquet(silver).count()
    con = sqlite3.connect(os.path.join(work, "weather.db"))
    try:
        (n_sql,) = con.execute("SELECT count(*) FROM weather_data").fetchone()
    finally:
        con.close()
    assert n_sql == n_silver > 0
    assert os.path.exists(os.path.join(work, "results", "analysis_results.json"))
