"""``etl_daily``: the reference's daily extract → transform → analyze →
load job, driven like ``python -m skylogix_real_time_weather_data_pipeline_spark``.

Before each operation one more day of raw observation files lands in the
raw directory and the day that leaves the trailing :data:`WINDOW_DAYS`
window is removed (untimed: that is the API side and its retention). The
operation is one daily run over the raw directory: ``read_raw_json`` →
``silver_pipeline`` → ``write_parquet(partition_by=date)`` → re-read and
count → the six ``gold`` analyses → ``write_csv_report`` /
``write_json_records`` / ``write_sqlite``.

Output check, per operation and outside the timed span: the silver row
count and ``city_comparison`` against a DuckDB recomputation of the silver
rules over the same generated documents.
"""

from __future__ import annotations

import json
import os
import statistics

import gen
from harness import jobs_in_group

WINDOW_DAYS = 7
OBS_PER_CITY = 2
#: nominal seconds per daily run on a 4-core box; ``--seconds`` buys
#: round(seconds / NOMINAL_OP_S) runs, at least two
NOMINAL_OP_S = 5.0
#: raw documents a daily run reads
N_RAW = WINDOW_DAYS * len(gen.CITIES) * OBS_PER_CITY

_ORACLE = """
WITH f AS (
  SELECT city_name AS city, temp AS temperature, humidity, speed AS wind_speed
  FROM raw
  WHERE has_main AND has_wind AND n_weather > 0
    AND city_name IS NOT NULL AND country_code IS NOT NULL
), q AS (
  SELECT quantile_cont(temperature, [0.05, 0.95]) AS t,
         quantile_cont(humidity, [0.05, 0.95]) AS h,
         quantile_cont(wind_speed, [0.05, 0.95]) AS w
  FROM f
), m AS (
  SELECT city,
    CASE WHEN temperature < t[1] - 1.5 * (t[2] - t[1])
           OR temperature > t[2] + 1.5 * (t[2] - t[1]) THEN NULL
         ELSE temperature END AS temperature,
    CASE WHEN humidity < h[1] - 1.5 * (h[2] - h[1])
           OR humidity > h[2] + 1.5 * (h[2] - h[1]) THEN NULL
         ELSE humidity END AS humidity,
    CASE WHEN wind_speed < w[1] - 1.5 * (w[2] - w[1])
           OR wind_speed > w[2] + 1.5 * (w[2] - w[1]) THEN NULL
         ELSE wind_speed END AS wind_speed
  FROM f, q
), med AS (
  SELECT median(temperature) AS mt, median(humidity) AS mh,
         median(wind_speed) AS mw
  FROM m
), c AS (
  SELECT city, coalesce(temperature, mt) AS temperature,
         coalesce(humidity, mh) AS humidity, coalesce(wind_speed, mw) AS wind_speed
  FROM m, med
)
SELECT city, avg(temperature), round(min(temperature), 2),
       round(max(temperature), 2), avg(humidity), avg(wind_speed), count(*)
FROM c GROUP BY city ORDER BY city
"""


def _flat(doc: dict) -> dict:
    main, wind, weather = doc.get("main"), doc.get("wind"), doc.get("weather")
    return {
        "city_name": doc.get("city_name"), "country_code": doc.get("country_code"),
        "has_main": main is not None, "has_wind": wind is not None,
        "n_weather": len(weather) if weather is not None else 0,
        "temp": (main or {}).get("temp"), "humidity": (main or {}).get("humidity"),
        "speed": (wind or {}).get("speed"),
    }


def oracle(docs: list[dict]) -> tuple[int, list[tuple]]:
    """(silver row count, city_comparison rows) recomputed in DuckDB."""
    import duckdb
    import pyarrow as pa

    raw = pa.Table.from_pylist([_flat(d) for d in docs], schema=pa.schema([
        ("city_name", pa.string()), ("country_code", pa.string()),
        ("has_main", pa.bool_()), ("has_wind", pa.bool_()),
        ("n_weather", pa.int64()), ("temp", pa.float64()),
        ("humidity", pa.float64()), ("speed", pa.float64()),
    ]))
    con = duckdb.connect()
    try:
        con.register("raw", raw)
        rows = con.sql(_ORACLE).fetchall()
    finally:
        con.close()
    return sum(r[-1] for r in rows), rows


def compare_city(spark_rows: list[dict], oracle_rows: list[tuple]) -> str | None:
    """Means are display-rounded to 2 dp by the engine, so they may differ
    from the oracle's unrounded mean by at most half a cent; min, max and
    counts match exactly."""
    got = sorted(spark_rows, key=lambda r: r["city"])
    if [r["city"] for r in got] != [r[0] for r in oracle_rows]:
        return "city sets differ"
    for r, (city, tmean, tmin, tmax, hmean, wmean, n) in zip(got, oracle_rows):
        exact = [(r["temp_min"], tmin), (r["temp_max"], tmax), (r["n_obs"], n)]
        rounded = [(r["temp_mean"], tmean), (r["humidity_mean"], hmean),
                   (r["wind_mean"], wmean)]
        if any(abs(a - b) > 1e-9 for a, b in exact) or \
                any(abs(a - b) > 0.005 + 1e-9 for a, b in rounded):
            return f"city_comparison[{city}] {r} != oracle {tmean, tmin, tmax, hmean, wmean, n}"
    return None


class EtlDaily:
    #: a daily run overwrites its outputs, so it can run twice per day
    replayable = True

    def __init__(self, run):
        self.run = run
        self.raw = os.path.join(run.work, "raw")
        self.out = os.path.join(run.work, "out")
        self.checked = 0

    def _window(self, day: int) -> list[int]:
        return list(range(day - WINDOW_DAYS + 1, day + 1))

    def _land(self, day: int) -> None:
        """Day ``day`` arrives; the day leaving the window is dropped."""
        self._files[day] = gen.write_raw_day(self.run.seed, day, OBS_PER_CITY, self.raw)
        for path in self._files.pop(day - WINDOW_DAYS, []):
            os.remove(path)

    def prepare(self) -> str:
        self._files: dict[int, list[str]] = {}
        for day in range(WINDOW_DAYS):
            self._land(day)
        # an input for the engine warm-up that is not part of any operation
        import pyarrow as pa
        import pyarrow.parquet as pq

        warm = os.path.join(self.run.work, "warm.parquet")
        pq.write_table(pa.table({"x": list(range(100))}), warm)
        return warm

    def first_pass(self) -> None:
        """Untimed cold daily run over the initial window, checked."""
        self.checked += 1
        day = WINDOW_DAYS - 1
        try:
            _, out = self.run_op(day)
            problem = self.check_op(day, out)
        except Exception as exc:  # noqa: BLE001 — counted, never dropped
            self.run.fail("first pass raised", exc)
        else:
            if problem:
                self.run.fail(f"first pass: {problem}")

    def quota(self, seconds: float) -> int:
        return max(2, round(seconds / NOMINAL_OP_S))

    def ops(self, n: int):
        for day in range(WINDOW_DAYS, WINDOW_DAYS + n):
            self._land(day)
            yield day

    def run_op(self, day: int):
        from skylogix_real_time_weather_data_pipeline_spark.operators import gold
        from skylogix_real_time_weather_data_pipeline_spark.operators.silver import (
            silver_pipeline,
        )
        from skylogix_real_time_weather_data_pipeline_spark.sinks import (
            write_csv_report,
            write_json_records,
            write_parquet,
            write_sqlite,
        )
        from skylogix_real_time_weather_data_pipeline_spark.sources import read_raw_json

        spark, tr, out = self.run.spark, self.run.tracer, self.out
        with tr.span("sources.read_raw_json"):
            raw = read_raw_json(spark, self.raw)
        with tr.span("operators.silver.build"):
            silver = silver_pipeline(raw)
        with tr.span("sinks.write_parquet"):
            write_parquet(silver, f"{out}/silver", partition_by=["date"])
        with tr.span("operators.gold.analyze"):
            silver = spark.read.parquet(f"{out}/silver")
            n_records = silver.count()
            results = {
                "basic_stats": gold.basic_stats(silver).first().asDict(),
                "city_comparison": [r.asDict() for r in gold.city_comparison(silver).collect()],
                "warmest_coldest": [r.asDict() for r in gold.warmest_coldest(silver).collect()],
                "temperature_trends": [r.asDict() for r in gold.temperature_trends(silver).collect()],
                "condition_distribution": [r.asDict() for r in gold.condition_histogram(silver).collect()],
                "condition_mode_by_city": [r.asDict() for r in gold.condition_mode_by_city(silver).collect()],
            }
            os.makedirs(f"{out}/results", exist_ok=True)
            with open(f"{out}/results/analysis_results.json", "w") as f:
                json.dump(results, f, indent=2, default=str)
        with tr.span("sinks.write_csv_report"):
            write_csv_report(silver, f"{out}/report_csv")
        with tr.span("sinks.write_json_records"):
            write_json_records(silver, f"{out}/report_json")
        with tr.span("sinks.write_sqlite"):
            n_sql = write_sqlite(silver, f"{out}/weather.db")
        return N_RAW, {"n_records": n_records, "n_sql": n_sql,
                       "city_comparison": results["city_comparison"]}

    def check_op(self, day: int, out: dict) -> str | None:
        docs = [d for w in self._window(day)
                for d in gen.raw_day(self.run.seed, w, OBS_PER_CITY)]
        n, city_rows = oracle(docs)
        if out["n_records"] != n or out["n_sql"] != n:
            return f"silver rows {out['n_records']} (sqlite {out['n_sql']}) != oracle {n}"
        return compare_city(out["city_comparison"], city_rows)

    def op_extra(self, day: int, out: dict | None) -> dict:
        """Files, bytes and rows the sinks left behind (outside the timed span)."""
        files = size = 0
        for sub in ("silver", "report_csv", "report_json"):
            for dirpath, _, names in os.walk(os.path.join(self.out, sub)):
                for nm in names:
                    if nm.startswith("part-"):
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, nm))
        db = os.path.join(self.out, "weather.db")
        if os.path.exists(db):
            files += 1
            size += os.path.getsize(db)
        parquet_files = sum(
            1 for dirpath, _, names in os.walk(os.path.join(self.out, "silver"))
            for nm in names if nm.endswith(".parquet"))
        return {"files": files, "bytes": size, "parquet_files": parquet_files,
                "silver": out["n_records"] if out else 0}

    def finish(self) -> None:
        pass

    def layer_metrics(self) -> dict:
        run, tr = self.run, self.run.tracer
        traced = [r for r in run.ops if r["traced"]]
        ids = [r["op"] for r in traced]
        n = max(len(traced), 1)
        m = {name + "_s": tr.per_op_median(ids, name) for name in (
            "sources.read_raw_json", "operators.silver.build",
            "operators.gold.analyze", "sinks.write_parquet",
            "sinks.write_csv_report", "sinks.write_json_records",
            "sinks.write_sqlite")}
        m.update({
            "sources.raw_files": float(N_RAW),
            "operators.silver.eager_jobs": jobs_in_group(run, "operators.silver.build"),
            "operators.silver.keep_frac": statistics.median(
                r["silver"] / N_RAW for r in traced) if traced else 0.0,
            "operators.gold.jobs": jobs_in_group(run, "operators.gold.analyze"),
            "sinks.files_written": sum(r["files"] for r in traced) / n,
            "sinks.bytes_written": sum(r["bytes"] for r in traced) / n,
            "sinks.rows_per_file": statistics.median(
                r["silver"] / max(r["parquet_files"], 1) for r in traced) if traced else 0.0,
        })
        return m
