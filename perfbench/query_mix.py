"""``query_mix``: registry rows run to completion, one at a time.

The mix is the 24 headline rows of ``bench.py``. Their time goes to
driver-side plan construction (including eager jobs fired while a query is
built) and per-task overhead more than to the data. Each operation builds one row
with its ``queries()`` function over the generated tables and executes it
through a noop write. The order is a seeded shuffle, pass after pass, and a run times whole
passes.

Output check: the untimed first pass collects every row and compares it
with the row's ``oracle_sql()`` in DuckDB over the same generated files,
with the value rule of ``scripts/local_verify.py`` (imported from there):
row count, sorted column names and the order-insensitive multiset of
cells, floats to nine significant digits.
"""

from __future__ import annotations

import os
import re
import statistics
from concurrent.futures import ThreadPoolExecutor

import gen
from harness import jobs_in_group

#: bench.py's HEADLINE list, copied so that a change there does not change
#: this workload
ROWS = [
    "rel_pricing_summary", "rel_revenue_by_nation",
    "rel_top_customers_per_nation", "rel_shipping_priority",
    "rel_running_order_total", "rel_rollup_lineitem", "weather_basic_stats",
    "weather_daily_city_agg", "weather_temperature_trends",
    "weather_clean_outliers", "stream_tumbling_daily", "stream_sessionize",
    "docs_exact_dedup", "docs_minhash_lsh_pairs", "docs_ngram_jaccard_pairs",
    "docs_token_stats", "emb_cosine_topk", "emb_lsh_near_dup_pairs",
    "weather_daily_pivot", "rel_cube_lineitem", "sql_forecast_revenue",
    "emb_hamming_topk", "docs_simhash_near_pairs", "rel_merge_upsert",
]
FAMILIES = ["weather", "rel", "docs", "emb", "stream", "sql"]
#: client threads of the untimed checking pass
CHECK_THREADS = 4
#: nominal seconds per pass on a 4-core box; ``--seconds`` buys
#: round(seconds / PASS_S) passes, at least one
PASS_S = 12.0


def family(name: str) -> str:
    return name.split("_", 1)[0]


def compare(s_cols, s_rows, d_cols, d_rows) -> str | None:
    """None when the Spark and DuckDB results agree, else the reason."""
    from local_verify import _normalize

    if len(s_rows) != len(d_rows):
        return f"row count {len(s_rows)} != oracle {len(d_rows)}"
    sc, sn = _normalize(list(s_cols), s_rows)
    dc, dn = _normalize(list(d_cols), d_rows)
    if sc != dc:
        return f"columns {sc} != oracle {dc}"
    if sn != dn:
        bad = next(i for i, (a, b) in enumerate(zip(sn, dn)) if a != b)
        return f"values differ, first at sorted row {bad}: {sn[bad]} != {dn[bad]}"
    return None


class QueryMix:
    replayable = True

    def __init__(self, run):
        import __spark_entry__ as entry

        self.run = run
        self.data = os.path.join(run.work, "data")
        self.qs = entry.queries()
        self.oracles = entry.oracle_sql()
        self.checked = 0

    def prepare(self) -> str:
        self.table_rows = gen.write_tables(self.run.seed, self.data)
        # input size of a row: the generated tables its oracle reads
        self.input_rows = {
            name: sum(n for t, n in self.table_rows.items()
                      if re.search(rf"\b{t}\b", self.oracles[name]))
            for name in ROWS
        }
        return os.path.join(self.data, "region.parquet")

    def first_pass(self) -> None:
        """Untimed cold pass that also checks every row against DuckDB.
        Rows are checked from :data:`CHECK_THREADS` client threads at once:
        the pass is dominated by first-time code generation and JIT
        compilation, which overlap across rows."""
        import duckdb

        from skylogix_real_time_weather_data_pipeline_spark.cache import release_owned_caches

        spark = self.run.spark
        con = duckdb.connect()
        for t in self.table_rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")

        def check(name: str) -> str | None:
            sdf = self.qs[name](spark, self.data)
            s_rows = [tuple(r) for r in sdf.collect()]
            rel = con.cursor().sql(self.oracles[name])
            return compare(sdf.columns, s_rows, rel.columns, rel.fetchall())

        with ThreadPoolExecutor(max_workers=CHECK_THREADS) as pool:
            futures = {name: pool.submit(check, name) for name in ROWS}
        for name, fut in futures.items():
            self.checked += 1
            try:
                problem = fut.result()
            except Exception as exc:  # noqa: BLE001 — counted, never dropped
                self.run.fail(f"first pass {name} raised", exc)
            else:
                if problem:
                    self.run.fail(f"{name}: {problem}")
        release_owned_caches(spark)
        con.close()

    def quota(self, seconds: float) -> int:
        """Whole passes, so every run times the same rows."""
        return len(ROWS) * max(1, round(seconds / PASS_S))

    def ops(self, n: int):
        return iter(gen.query_order(self.run.seed, ROWS, -(-n // len(ROWS)))[:n])

    def run_op(self, name: str):
        spark, tr = self.run.spark, self.run.tracer
        with tr.span("plans.build"):
            df = self.qs[name](spark, self.data)
        with tr.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()
        return self.input_rows[name], None

    def check_op(self, name, out) -> None:
        return None

    def op_extra(self, name: str, out) -> dict:
        return {"name": name}

    def finish(self) -> None:
        pass

    def layer_metrics(self) -> dict:
        run, tr = self.run, self.run.tracer
        traced = [r for r in run.ops if r["traced"]]
        ids = [r["op"] for r in traced]
        m = {
            "plans.build_s": tr.per_op_median(ids, "plans.build"),
            "plans.exec_s": tr.per_op_median(ids, "plans.exec"),
            "plans.eager_jobs": jobs_in_group(run, "plans.build"),
        }
        for fam in FAMILIES:
            times = [r["s"] for r in traced if family(r["name"]) == fam]
            m[f"plans.{fam}.op_p50_s"] = statistics.median(times) if times else 0.0
        return m
