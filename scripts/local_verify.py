"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry (or the names passed on argv) through a fresh
SparkSession at sf0.01 and compares against ``oracle_sql()`` in DuckDB:
row count + sorted column names + a TYPED comparison:

- **type_match** — DuckDB's declared result types (``con.sql(...).types`` —
  NOT the fetchall cells, which silently convert HUGEINT to Python int and
  so can never see type drift) vs Spark dtypes, through a canonical mapping
  that groups integer widths together and float widths together but keeps
  HUGEINT and DECIMAL as their own classes. An uncast DuckDB aggregate
  (SUM over BIGINT → HUGEINT, AVG-adjacent DECIMAL) against a Spark
  bigint/double is exactly how the driver's typed value-hash diverges on
  value-identical results (round-5 events_cumulative_users postmortem);
  this check fails those locally.
- order-insensitive value comparison (repr-normalized cells, floats to 9
  significant digits — queries round visible floats to 6 anyway).

``hash_match`` here requires rows+schema+types+values, making this harness
at least as strict as the driver's typed hash for the known drift classes.

Usage:
    python scripts/local_verify.py                # all queries
    python scripts/local_verify.py q1 q2 ...      # a subset
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python scripts/local_verify.py

Writes one JSON object (same shape as the driver's CORRECTNESS_r{N}.json,
plus the extra ``type_match`` field) to stdout, and exits non-zero on any
mismatch.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import re
import sys

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    import decimal

    if isinstance(v, decimal.Decimal):
        return f"{float(v):.9g}"
    return str(v)


def _normalize(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)
    return [cols[i] for i in idx], out


def canon_duck_type(t: str) -> str:
    """DuckDB type string → canonical class. HUGEINT/UHUGEINT and DECIMAL
    deliberately do NOT fold into 'int'/'float': they are the classes whose
    typed values hash differently from Spark's bigint/double even when every
    cell is numerically equal."""
    t = str(t).upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("HUGEINT", "UHUGEINT"):
        return "hugeint"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t.startswith("DECIMAL"):
        return re.sub(r"\s+", "", t.lower())
    if t == "VARCHAR":
        return "string"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "BLOB":
        return "binary"
    if t.endswith("[]"):
        return "array<" + canon_duck_type(t[:-2]) + ">"
    m = re.match(r"(LIST|ARRAY)\((.*)\)$", t)
    if m:
        return "array<" + canon_duck_type(m.group(2)) + ">"
    return t.lower()


def canon_spark_type(t: str) -> str:
    """Spark dtype string → the same canonical classes."""
    t = t.strip().lower()
    if t in ("tinyint", "smallint", "int", "bigint", "byte", "short", "long", "integer"):
        return "int"
    if t in ("float", "double"):
        return "float"
    if t.startswith("decimal"):
        return re.sub(r"\s+", "", t)
    if t in ("string", "varchar"):
        return "string"
    if t == "boolean":
        return "bool"
    if t == "date":
        return "date"
    if t.startswith("timestamp"):
        return "timestamp"
    if t == "binary":
        return "binary"
    m = re.match(r"array<(.*)>$", t)
    if m:
        return "array<" + canon_spark_type(m.group(1)) + ">"
    return t


def type_mismatches(spark_dtypes, duck_cols, duck_types):
    """[(col, spark_canon, duck_canon)] for columns whose canonical classes
    differ. Columns matched by (sorted) name, mirroring the driver."""
    s = {c: canon_spark_type(t) for c, t in spark_dtypes}
    d = {c: canon_duck_type(t) for c, t in zip(duck_cols, duck_types)}
    out = []
    for c in sorted(set(s) & set(d)):
        if s[c] != d[c]:
            out.append((c, s[c], d[c]))
    return out


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    # the default session deliberately mirrors the driver's (1g heap is
    # plenty at sf0.01); big replica sweeps (the sf1x spot-check) opt into
    # a larger single-JVM heap explicitly. It also keeps Spark's
    # 100-entry codegen cache, not session.get_spark's 1000: a sweep
    # recompiles more, but the cache never changes a value.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single .parquet FILES; Spark-written
        # replica sets (the scaling probe's sf1x) are DIRECTORIES of
        # part files — glob those for DuckDB
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    qs, osql = E.queries(), E.oracle_sql()
    names = sys.argv[1:] or list(qs)
    results, failed = {}, []
    for name in names:
        rec = {"rows_match": None, "schema_match": None, "type_match": None,
               "hash_match": None, "spark_rows": None, "oracle_rows": None,
               "err": None}
        try:
            sdf = qs[name](spark, sf_dir)
            s_cols = list(sdf.columns)
            s_dtypes = sdf.dtypes
            s_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(s_rows)
            if name not in osql:
                rec["err"] = "no_oracle"
                results[name] = rec
                print(f"{name}: rows-only ({len(s_rows)} rows)", file=sys.stderr)
                continue
            rel = con.sql(osql[name])
            d_cols = list(rel.columns)
            d_types = [str(t) for t in rel.types]
            d_rows = rel.fetchall()
            rec["oracle_rows"] = len(d_rows)
            rec["rows_match"] = len(s_rows) == len(d_rows)
            rec["schema_match"] = sorted(s_cols) == sorted(d_cols)
            mism = type_mismatches(s_dtypes, d_cols, d_types)
            rec["type_match"] = not mism
            if mism:
                rec["err"] = "type_drift: " + "; ".join(
                    f"{c} spark={s} duck={d}" for c, s, d in mism
                )[:250]
            _, sn = _normalize(s_cols, s_rows)
            _, dn = _normalize(d_cols, d_rows)
            rec["hash_match"] = (rec["rows_match"] and rec["schema_match"]
                                 and rec["type_match"] and sn == dn)
            status = "OK" if rec["hash_match"] else "MISMATCH"
            print(f"{name}: {status} ({len(s_rows)} rows)"
                  + (f" [{rec['err']}]" if mism else ""), file=sys.stderr)
            if not rec["hash_match"]:
                failed.append(name)
        except Exception as exc:  # noqa: BLE001 — report, don't abort the sweep
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
            failed.append(name)
            print(f"{name}: ERROR {rec['err']}", file=sys.stderr)
        finally:
            # release every cache the query pinned (the owned-persist
            # contract, cache.py): the sweep proves per-query cache
            # hygiene instead of accumulating 163 queries of entries.
            # cache_clean records that the release actually drained
            # Spark's CacheManager — a False here is a persist() that
            # escaped the owned registry (localCheckpoint RDDs are
            # ContextCleaner-owned and deliberately not counted).
            from skylogix_real_time_weather_data_pipeline_spark.cache import (
                release_owned_caches,
            )

            release_owned_caches(spark)
            rec["cache_clean"] = bool(
                spark._jsparkSession.sharedState().cacheManager().isEmpty()
            )
        results[name] = rec
    print(json.dumps(results, indent=2))
    if failed:
        print(f"FAILED: {failed}", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
