"""Sinks (SURVEY.md §2.2 K2-K6).

Primary durable format is partitioned Parquet (columnar, schema-carrying,
partition-pruned — the 'index' the reference builds in SQLite, K4, comes
free from partition dirs). CSV/JSON are compat sinks mirroring the
reference's outputs; SQLite goes through stdlib sqlite3 from collected
(small, already-aggregated) results, since a JDBC driver jar isn't bundled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None,
                  mode: str = "overwrite") -> None:
    """K2-equivalent durable sink. Partition columns replace the reference's
    filename-encoded keys (src/extract.py:148).

    A partitioned write first rebalances by the partition columns, so
    adaptive execution sizes the files to the data: a kilobyte day lands
    as one file in its ``date=`` directory, and a day larger than the
    advisory partition size is split into several files of about that
    size. Without it every input task writes one file into every
    directory it touches (the daily ETL's 9 JSON scan tasks over 7 days
    left about 62 files for 270 rows). ``repartition(*partition_by)`` (what
    :func:`~.layout.write_partitioned_sorted` uses to sort within a
    directory) would instead send each whole value to one task."""
    if not partition_by:
        df.write.mode(mode).parquet(path)
        return
    (df.hint("rebalance", *partition_by).write.mode(mode)
     .partitionBy(*partition_by).parquet(path))


def write_csv_report(df: DataFrame, path: str, mode: str = "overwrite",
                     single_file: bool = False) -> None:
    """K2/K5: header CSV (reference src/transform.py:246-258,
    src/load.py:157-209). ``single_file`` coalesces to 1 part — only for
    small/aggregated outputs (a driver-side convenience, not a scale path).
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", True).csv(path)


def write_json_records(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K3: JSON-lines sink (reference src/load.py:70-105 writes one JSON
    array; JSONL is the distributed equivalent — one object per line)."""
    df.write.mode(mode).json(path)


def write_json_array(df: DataFrame, path: str, max_rows: int = 1_000_000) -> int:
    """K3 compat: single JSON ARRAY file exactly like the reference
    (src/load.py:88-96 ``to_dict(orient='records')`` → one array). A
    driver-side convenience for small/aggregated results — the distributed
    sink is write_json_records (JSONL)."""
    import json

    # single-pass guard: collect at most max_rows+1 — one plan execution, so
    # a concurrently-growing or non-deterministic source can't pass a count()
    # probe and then overshoot on a second execution
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(f"refusing to collect >{max_rows} rows into one JSON file")
    records = [r.asDict(recursive=True) for r in rows]
    with open(path, "w") as f:
        json.dump(records, f, indent=2, default=str)
    return len(records)


def write_sqlite(df: DataFrame, db_path: str, table: str = "weather_data",
                 indexes: tuple[str, ...] = ("city", "date"),
                 max_rows: int = 1_000_000) -> int:
    """K4: SQLite sink + secondary indexes (reference src/load.py:108-155).

    Spark has no bundled SQLite JDBC driver here, so rows are collected via
    Arrow and inserted with stdlib sqlite3. Guarded by ``max_rows`` —
    SQLite is a serve-layer sink for aggregated results, not a data lake;
    for big tables use write_parquet (partition pruning ≈ the index).
    """
    import sqlite3

    # single-pass guard (see write_json_array): one execution, bounded fetch
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(f"refusing to collect >{max_rows} rows into sqlite")
    con = sqlite3.connect(db_path)
    try:
        pdf.to_sql(table, con, if_exists="replace", index=False)
        for col in indexes:
            if col in pdf.columns:
                con.execute(f"CREATE INDEX IF NOT EXISTS idx_{col} ON {table} ({col})")
        con.commit()
    finally:
        con.close()
    return len(pdf)


def write_jdbc(df: DataFrame, url: str, table: str, driver: str,
               mode: str = "overwrite", **options: str) -> None:
    """K4 (generic form): distributed JDBC sink — ``df.write.jdbc`` with the
    driver class pinned. This is the scale path the reference's SQLite load
    (src/load.py:108-155) maps to on a real warehouse (Postgres/MySQL/...):
    each partition opens its own connection and writes in parallel, nothing
    is collected to the driver.

    The driver class is probed up front so a missing jar raises a clear
    error instead of a deep ClassNotFoundException at save() time. Exercised
    end-to-end against embedded Derby (whose jars Spark bundles for the
    Hive metastore) in tests/test_sinks.py; for Postgres/MySQL pass the jar
    via ``spark.jars`` and the matching ``driver`` class. For the
    small-result serve-layer case use ``write_sqlite`` (stdlib, guarded).
    """
    jvm = df.sparkSession._jvm
    try:
        jvm.java.lang.Class.forName(driver)
    except Exception as exc:
        raise RuntimeError(
            f"JDBC driver {driver!r} not on the Spark classpath; add the jar "
            "via spark.jars/spark.driver.extraClassPath to enable this sink"
        ) from exc
    writer = df.write.mode(mode).format("jdbc").option("url", url).option(
        "dbtable", table
    ).option("driver", driver)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def write_city_summary(df: DataFrame, path: str) -> None:
    """K5 side summary: per-city aggregate written next to the report
    (reference src/load.py:188-196)."""
    from ..operators.gold import city_comparison

    write_csv_report(city_comparison(df), path, single_file=True)


#: formats the generic table sink/source accepts. Parquet and ORC are the
#: durable columnar pair (both schema-carrying, predicate-pushdown-capable,
#: bundled with Spark — ORC matters for Hive-ecosystem consumers); JSONL
#: and CSV are the interchange pair (schema supplied on read).
TABLE_FORMATS = ("parquet", "orc", "json", "csv")


def write_table(df: DataFrame, path: str, fmt: str = "parquet",
                partition_by: list[str] | None = None,
                mode: str = "overwrite") -> None:
    """Format-agnostic durable table sink — one writer surface over the
    bundled formats so pipeline configs can switch storage without code
    changes (SURVEY §2.2's config-driven sink selection, widened beyond
    the reference's CSV/JSON pair).

    Columnar formats keep their native schema; CSV adds a header so the
    paired reader can re-declare types explicitly (never inferSchema —
    S4's declared-schema discipline).
    """
    if fmt not in TABLE_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {TABLE_FORMATS}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", True)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)
