"""``ingest_cycle``: the curation deployment's maintained-view loop.

The corpus (documents and orders) is dealt into :data:`N_BATCHES` seeded
batches, one parquet file pair per batch. The untimed first pass
bootstraps the views with the first :data:`BOOTSTRAP` batches (the
concurrent multi-batch apply for the three doc views, one union batch for
the sketch views) and answers once. Each operation is one ingest batch:

- write half: ``apply_doc_views_delta`` (exact, minhash and gram views,
  auto-compaction at its default trigger) and ``apply_sketch_views_batch``
  (KMV, HLL, CMS and bottom-k over orders);
- read half: the batch's exact-duplicate, minhash-pair and gram-rewrite
  answers, read from the views.

The bootstrap leaves the doc views two batches short of the compaction
trigger, so the second operation of every run compacts.

Output check, at the end: the last batch's three answers and all four
sketch views against a one-shot recomputation over the union of every
applied batch; the exact answer also against DuckDB.
"""

from __future__ import annotations

import os
import shutil
import statistics

import gen
import pyarrow as pa
import pyarrow.parquet as pq

N_BATCHES = 64
DOCS_PER_BATCH = 40
ORDERS_PER_BATCH = 200
#: batches applied by the untimed bootstrap: the doc views then compact
#: at the second timed batch (AUTO_COMPACT_SEGMENTS is 16)
BOOTSTRAP = 14
#: nominal seconds per batch on a 4-core box; ``--seconds`` buys
#: round(seconds / NOMINAL_OP_S) batches, at least two
NOMINAL_OP_S = 2.5
DOC_VIEWS = ("exact", "minhash", "gram")
SKETCH_VIEWS = ("kmv", "hll", "cms", "bottomk")


def segment_stats(state_dir: str) -> tuple[int, int, int]:
    """(readable segments, compact segments, data files in readable
    segments) of a segmented view, from its on-disk layout: the compact
    segment covering the most batches plus every raw ``b<id>`` segment it
    does not cover."""
    import json

    root = os.path.join(state_dir, "segments")
    if not os.path.isdir(root):
        return 0, 0, 0
    compacts, raws = [], {}
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if name.startswith("compact_"):
            with open(os.path.join(path, "_manifest.json")) as f:
                compacts.append((set(json.load(f)["batch_ids"]), path))
        elif name.startswith("b"):
            raws[int(name[1:])] = path
    readable, covered = [], set()
    if compacts:
        covered, cpath = max(compacts, key=lambda cp: (len(cp[0]), cp[1]))
        readable.append(cpath)
    readable += [p for b, p in sorted(raws.items()) if b not in covered]
    files = sum(1 for p in readable for f in os.listdir(p) if f.endswith(".parquet"))
    return len(readable), len(compacts), files


def _tree(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for nm in names:
            p = os.path.join(dirpath, nm)
            out[p] = os.path.getsize(p)
    return out


class IngestCycle:
    #: a batch changes the views, so it cannot be replayed
    replayable = False

    def __init__(self, run):
        self.run = run
        self.inp = os.path.join(run.work, "batches")
        self.state = os.path.join(run.work, "state")
        self.checked = 0
        self._seen: dict[str, int] = {}
        self._last = None

    def _dirs(self, root: str) -> dict[str, str]:
        d = {v: os.path.join(root, v) for v in DOC_VIEWS}
        d["sketch"] = os.path.join(root, "sketch")
        return d

    def _paths(self, b: int) -> tuple[str, str]:
        return (os.path.join(self.inp, f"docs_b{b:03d}.parquet"),
                os.path.join(self.inp, f"orders_b{b:03d}.parquet"))

    def prepare(self) -> str:
        os.makedirs(self.inp, exist_ok=True)
        self.batches = gen.ingest_batches(self.run.seed, N_BATCHES,
                                          DOCS_PER_BATCH, ORDERS_PER_BATCH)
        for b, (docs, orders) in enumerate(self.batches):
            dp, op = self._paths(b)
            pq.write_table(docs, dp)
            pq.write_table(orders, op)
        return self._paths(0)[1]

    # -- the engine calls -------------------------------------------------
    def _apply_docs(self, docs_df, b: int, dirs: dict) -> None:
        from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
            apply_doc_views_delta,
        )

        apply_doc_views_delta(docs_df, b, dirs["exact"], dirs["minhash"], dirs["gram"])

    def _apply_sketch(self, orders_df, b: int, dirs: dict) -> None:
        from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
            apply_sketch_views_batch,
        )

        apply_sketch_views_batch(orders_df, b, dirs["sketch"], "o_custkey",
                                 value_col="o_totalprice", bk_key_col="o_orderkey")

    def _answers(self, docs_df, dirs: dict) -> dict:
        from pyspark.sql import functions as F

        from skylogix_real_time_weather_data_pipeline_spark.ext.dedup import (
            minhash_pairs_from_index,
            substring_dedup_rewrite_from_index,
        )
        from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
            read_exact_dedup_segments,
            read_gram_index_segments,
            read_minhash_buckets_segments,
        )

        spark, tr = self.run.spark, self.run.tracer
        with tr.span("ext.dedup.exact_answer"):
            exact = (docs_df.select("doc_id", F.md5("text").alias("fingerprint"))
                     .join(read_exact_dedup_segments(spark, dirs["exact"])
                           .select("fingerprint", "n_copies"), "fingerprint")
                     .filter(F.col("n_copies") > 1).select("doc_id").collect())
        with tr.span("ext.dedup.minhash_answer"):
            pairs = minhash_pairs_from_index(
                read_minhash_buckets_segments(spark, dirs["minhash"]),
                batch_ids=docs_df.select("doc_id")).collect()
        with tr.span("ext.dedup.gram_answer"):
            rewrite = substring_dedup_rewrite_from_index(
                docs_df, read_gram_index_segments(spark, dirs["gram"])).collect()
        return {
            "exact": sorted(r.doc_id for r in exact),
            "minhash": sorted((tuple(r) for r in pairs), key=repr),
            "gram": sorted((tuple(r) for r in rewrite), key=repr),
        }

    # -- workload protocol -----------------------------------------------
    def first_pass(self) -> None:
        """Untimed bootstrap of the views plus one answer round."""
        from skylogix_real_time_weather_data_pipeline_spark.streaming.matview import (
            apply_doc_views_deltas,
        )

        spark, dirs = self.run.spark, self._dirs(self.state)
        self.checked += 1
        try:
            docs = [(spark.read.parquet(self._paths(b)[0]), b) for b in range(BOOTSTRAP)]
            apply_doc_views_deltas(docs, dirs["exact"], dirs["minhash"], dirs["gram"])
            orders = spark.read.parquet(*[self._paths(b)[1] for b in range(BOOTSTRAP)])
            self._apply_sketch(orders, BOOTSTRAP - 1, dirs)
            self._answers(docs[-1][0], dirs)
        except Exception as exc:  # noqa: BLE001 — counted, never dropped
            self.run.fail("bootstrap raised", exc)
        self._seen = _tree(self.state)

    def quota(self, seconds: float) -> int:
        return min(max(2, round(seconds / NOMINAL_OP_S)), N_BATCHES - BOOTSTRAP)

    def ops(self, n: int):
        dirs = self._dirs(self.state)
        for b in range(BOOTSTRAP, BOOTSTRAP + n):
            self._before = {v: segment_stats(dirs[v]) for v in DOC_VIEWS}
            yield b

    def run_op(self, b: int):
        spark, tr, dirs = self.run.spark, self.run.tracer, self._dirs(self.state)
        dp, op = self._paths(b)
        docs, orders = spark.read.parquet(dp), spark.read.parquet(op)
        with tr.span("streaming.matview.apply_docs"):
            self._apply_docs(docs, b, dirs)
        with tr.span("streaming.matview.apply_sketch"):
            self._apply_sketch(orders, b, dirs)
        answers = self._answers(docs, dirs)
        self._last = (b, answers)
        n_docs, n_orders = (t.num_rows for t in self.batches[b])
        return n_docs + n_orders, answers

    def check_op(self, b, out) -> None:
        return None

    def op_extra(self, b: int, out) -> dict:
        """Segment, compaction and byte accounting (outside the timed span)."""
        dirs = self._dirs(self.state)
        after = {v: segment_stats(dirs[v]) for v in DOC_VIEWS}
        tree = _tree(self.state)
        new_bytes = sum(sz for p, sz in tree.items() if self._seen.get(p) != sz)
        self._seen = tree
        dp, op = self._paths(b)
        return {
            "compacted": any(after[v][1] > self._before[v][1] for v in DOC_VIEWS),
            "segments": statistics.mean(after[v][0] for v in DOC_VIEWS),
            "files_per_segment": sum(a[2] for a in after.values())
            / max(sum(a[0] for a in after.values()), 1),
            "state_bytes": sum(tree.values()),
            "written_bytes": new_bytes,
            "input_bytes": os.path.getsize(dp) + os.path.getsize(op),
        }

    def finish(self) -> None:
        """Last answers and sketch views vs a one-shot recomputation."""
        if self._last is None:
            return
        self.checked += 1
        try:
            problem = self._check_last()
        except Exception as exc:  # noqa: BLE001 — counted, never dropped
            self.run.fail("final check raised", exc)
        else:
            if problem:
                self.run.fail(f"final check: {problem}")

    def _check_last(self) -> str | None:
        import duckdb

        spark = self.run.spark
        last, answers = self._last
        applied = range(last + 1)
        one = self._dirs(os.path.join(self.run.work, "oneshot"))
        try:
            all_docs = spark.read.parquet(*[self._paths(b)[0] for b in applied])
            self._apply_docs(all_docs, 0, one)
            self._apply_sketch(spark.read.parquet(*[self._paths(b)[1] for b in applied]),
                               0, one)
            want = self._answers(spark.read.parquet(self._paths(last)[0]), one)
            for view in SKETCH_VIEWS:
                inc, ref = (sorted(map(repr, pq.read_table(os.path.join(root, view))
                                       .to_pylist()))
                            for root in (os.path.join(self.state, "sketch"), one["sketch"]))
                if inc != ref:
                    return f"sketch view {view} differs from the one-shot build"
        finally:
            shutil.rmtree(os.path.join(self.run.work, "oneshot"), ignore_errors=True)
        for k in DOC_VIEWS:
            if answers[k] != want[k]:
                return f"{k} answer for batch {last} differs from the one-shot build"
        corpus = pa.concat_tables([self.batches[b][0] for b in applied])
        batch = self.batches[last][0]
        con = duckdb.connect()
        try:
            con.register("corpus", corpus)
            con.register("batch", batch)
            duck = [r[0] for r in con.sql(
                "SELECT doc_id FROM batch WHERE md5(text) IN (SELECT md5(text) "
                "FROM corpus GROUP BY 1 HAVING count(*) > 1) ORDER BY 1").fetchall()]
        finally:
            con.close()
        if answers["exact"] != duck:
            return f"exact answer for batch {last} differs from DuckDB"
        return None

    def layer_metrics(self) -> dict:
        run, tr = self.run, self.run.tracer
        ops = run.ops
        traced = [r for r in ops if r["traced"]]
        ids = [r["op"] for r in traced]
        compacting = [r["s"] for r in ops if r.get("compacted")]
        inp = sum(r["input_bytes"] for r in ops) or 1
        m = {name + "_s": tr.per_op_median(ids, name) for name in (
            "streaming.matview.apply_docs", "streaming.matview.apply_sketch",
            "ext.dedup.exact_answer", "ext.dedup.minhash_answer",
            "ext.dedup.gram_answer")}
        m["streaming.matview.write_p50_s"] = tr.per_op_median(
            ids, "streaming.matview.apply_docs", "streaming.matview.apply_sketch")
        m["ext.dedup.read_p50_s"] = tr.per_op_median(
            ids, "ext.dedup.exact_answer", "ext.dedup.minhash_answer", "ext.dedup.gram_answer")
        m.update({
            "streaming.matview.compactions": float(len(compacting)),
            "streaming.matview.compact_batch_s": statistics.mean(compacting)
            if compacting else 0.0,
            "streaming.matview.segments_per_read": statistics.mean(
                r["segments"] for r in ops) if ops else 0.0,
            "streaming.matview.files_per_segment": statistics.mean(
                r["files_per_segment"] for r in ops) if ops else 0.0,
            "streaming.matview.state_bytes_per_input_byte":
                ops[-1]["state_bytes"] / (inp + self._bootstrap_bytes()) if ops else 0.0,
            "streaming.matview.bytes_written_per_input_byte":
                sum(r["written_bytes"] for r in ops) / inp,
        })
        return m

    def _bootstrap_bytes(self) -> int:
        return sum(os.path.getsize(p) for b in range(BOOTSTRAP) for p in self._paths(b))
