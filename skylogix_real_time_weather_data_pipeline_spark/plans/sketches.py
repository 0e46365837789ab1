"""Sketch / graph-analytics driver queries: KMV distinct, count-min heavy
hitters, Bloom semi-join pruning, triangle counting.

Every query here is deterministic end to end (portable md5 hashing +
integer-only estimate arithmetic), so each DuckDB oracle replays the
sketch bit-for-bit — the estimates are approximate w.r.t. the truth, never
w.r.t. the oracle. The truth rides along in the output (exact_distinct /
exact_count / true_members columns), so the accuracy of each sketch is
itself an asserted, hash-checked value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources import load_table

    return load_table(spark, sf_dir, name)


#: 60-bit portable hash (mirror of ext.dedup._md5_long)
def _sql_hash(seed, expr: str) -> str:
    return f"CAST(concat('0x', substr(md5(concat({seed}, '|', {expr})), 1, 15)) AS BIGINT)"


# --------------------------------------------------------------------------
# KMV distinct estimate: distinct l_partkey in lineitem
# --------------------------------------------------------------------------

KMV_K = 256


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV cardinality sketch vs exact distinct for lineitem.l_partkey —
    the oracle-replayable counterpart of the native HLL++ estimate
    (whose Spark-internal hash cannot be reproduced in ANSI SQL —
    rel_approx_distinct_bounds envelope-checks it instead). See
    ext/sketch.py for the estimator and the scale shape."""
    from ..ext.sketch import kmv_distinct

    return kmv_distinct(_t(spark, sf_dir, "lineitem"), "l_partkey", k=KMV_K)


O_KMV_DISTINCT = f"""
WITH h AS (
  SELECT DISTINCT {_sql_hash("'0'", "CAST(l_partkey AS VARCHAR)")} AS h
  FROM lineitem
),
kmin AS (SELECT h FROM h ORDER BY h LIMIT {KMV_K}),
sk AS (SELECT MAX(h) AS hk, COUNT(*) AS kept FROM kmin),
ex AS (SELECT COUNT(DISTINCT l_partkey) AS exact_distinct FROM lineitem),
est AS (
  SELECT sk.hk, sk.kept, ex.exact_distinct,
         CASE WHEN sk.kept < {KMV_K} THEN sk.kept
              ELSE CAST(({KMV_K - 1} * (1::HUGEINT << 60)) // sk.hk AS BIGINT)
         END AS kmv_estimate
  FROM sk, ex
)
SELECT {KMV_K} AS k,
       CAST(kept AS BIGINT) AS kept,
       hk,
       CAST(kmv_estimate AS BIGINT) AS kmv_estimate,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       CAST((ABS(kmv_estimate - exact_distinct) * 1000000) // exact_distinct
            AS BIGINT) AS err_ppm
FROM est
"""


# --------------------------------------------------------------------------
# Count-min-sketch heavy hitters: l_partkey frequencies in lineitem
# --------------------------------------------------------------------------

CMS_D = 3
CMS_W = 256
CMS_TOP = 10


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min estimates for the exact top-10 partkeys by lineitem count
    (d=3 rows × w=256 counters). cms_count ≥ exact_count by construction;
    the overestimate column exposes the collision noise the d×w budget
    buys. See ext/sketch.py for the constant-size aggregate shape."""
    from ..ext.sketch import cms_heavy_hitters

    return cms_heavy_hitters(
        _t(spark, sf_dir, "lineitem"), "l_partkey",
        depth=CMS_D, width=CMS_W, top_n=CMS_TOP,
    )


_CMS_ROWS = " UNION ALL ".join(
    f"SELECT {d} AS d, {_sql_hash(d, 'CAST(key AS VARCHAR)')} % {CMS_W} AS b,"
    f" exact_count FROM counts"
    for d in range(1, CMS_D + 1)
)

O_CMS_HEAVY_HITTERS = f"""
WITH counts AS (
  SELECT l_partkey AS key, COUNT(*) AS exact_count
  FROM lineitem GROUP BY l_partkey
),
cells AS ({_CMS_ROWS}),
sketch AS (
  SELECT d, b, SUM(exact_count) AS bucket_count FROM cells GROUP BY d, b
),
top AS (
  SELECT key, exact_count FROM counts
  ORDER BY exact_count DESC, key ASC LIMIT {CMS_TOP}
),
probes AS (
  {" UNION ALL ".join(
      f"SELECT key, exact_count, {d} AS d,"
      f" {_sql_hash(d, 'CAST(key AS VARCHAR)')} % {CMS_W} AS b FROM top"
      for d in range(1, CMS_D + 1)
  )}
)
SELECT p.key,
       CAST(p.exact_count AS BIGINT) AS exact_count,
       CAST(MIN(s.bucket_count) AS BIGINT) AS cms_count,
       CAST(MIN(s.bucket_count) - p.exact_count AS BIGINT) AS overestimate
FROM probes p JOIN sketch s ON s.d = p.d AND s.b = p.b
GROUP BY p.key, p.exact_count
"""


# --------------------------------------------------------------------------
# Turnstile heavy hitters: retractable Count-Sketch (r11)
# --------------------------------------------------------------------------

CS_D = 5      # odd → the median of d integer contributions is an integer
CS_W = 256
CS_TOP = 10


def q_count_sketch_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter estimates that survive DELETES: build the Count-Sketch
    counters (Charikar-Chen-Farach-Colton 2002 — ±1 sign hashes, median
    estimator; the turnstile-correct replacement for count-min, whose
    min-over-rows bound breaks under deletions) over lineitem in two
    segmented Z-set applies, retract the l_orderkey % 5 == 2 shard as a
    negated-delta tombstone (counters are LINEAR, so segments stay
    constant-size O(d·w) — no per-key evidence carried, unlike the
    doc-granular retractable views), then estimate the exact top-10
    surviving partkeys from the folded counters. The oracle replays the
    identical sketch over the survivors: apply ∘ retract ==
    build-over-survivors is exact counter equality, not an approximation.
    See streaming/matview.py:_count_sketch_delta and
    ext/sketch.py:count_sketch_estimate."""
    import os

    from ..ext.sketch import count_sketch_estimate
    from ..streaming.matview import (
        apply_count_sketch_delta,
        compact_count_sketch_segments,
        maybe_compact,
        read_count_sketch_segments,
        retract_count_sketch_delta,
    )
    from .ext import _session_state_dir

    li = _t(spark, sf_dir, "lineitem")
    root = _session_state_dir(spark, sf_dir, "skylogix_cs_rz")
    state = os.path.join(root, "view")
    # CONCURRENT segment writers (r14 optimization round, guide §2.6):
    # the two applies and the tombstone are three independent (state_dir,
    # batch_id) writers — the same commutativity contract
    # apply_doc_views_deltas runs on (immutable per-batch segments +
    # linear counter fold, so any apply order/interleaving yields the
    # same state). Sequentially each delta paid its full scan→groupBy→
    # hash→write latency back to back (measured 3×~1-2 s of a 5 s warm
    # cycle); pooled, local[n] interleaves them. Auto-compaction is
    # deferred to one post-drain maybe_compact (mid-pool compaction from
    # two writers would race). fraction_trigger=False: the
    # tombstone-fraction compaction the SEQUENTIAL r11-r13 shape ran
    # after the retract (1 tombstone / 3 raws >= 1/3) is INTENTIONALLY
    # deferred here (r15, r14 ADVICE — the r14 comment wrongly claimed
    # state parity; the correct statement is that this cycle's single
    # immediate read collects none of the trigger's read-amplification
    # benefit while its O(view) fold would cost ~1 s on the timed path,
    # measured this round). End state keeps the tombstone raw segment
    # the sequential protocol folds; the read fold makes the answers
    # identical either way (pytest-pinned at arbitrary compaction
    # points).
    from concurrent.futures import ThreadPoolExecutor

    deltas = [
        (apply_count_sketch_delta, li.filter(F.col("l_orderkey") % 2 == 0), 0),
        (apply_count_sketch_delta, li.filter(F.col("l_orderkey") % 2 == 1), 1),
        (retract_count_sketch_delta, li.filter(F.col("l_orderkey") % 5 == 2), 2),
    ]
    with ThreadPoolExecutor(max_workers=len(deltas)) as pool:
        futs = [
            pool.submit(fn, df, b, state, "l_partkey",
                        depth=CS_D, width=CS_W, auto_compact=None)
            for fn, df, b in deltas
        ]
        for f in futs:
            f.result()
    maybe_compact(spark, state, compact_count_sketch_segments,
                  fraction_trigger=False)
    counters = read_count_sketch_segments(spark, state)
    top = (
        li.filter(F.col("l_orderkey") % 5 != 2)
        .groupBy(F.col("l_partkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .sort(F.desc("exact_count"), F.asc("key"))
        .limit(CS_TOP)
    )
    est = count_sketch_estimate(counters, top, "key", depth=CS_D, width=CS_W)
    return est.select(
        "key", "exact_count", "cs_count",
        (F.col("cs_count") - F.col("exact_count")).alias("err"),
    )


# sign_d(key) = 1 - 2·(md5_long(key, 100+d) % 2); 100 = matview.CS_SIGN_SEED
def _cs_sign(d: int) -> str:
    return f"(1 - 2 * ({_sql_hash(100 + d, 'CAST(key AS VARCHAR)')} % 2))"


_CS_CELLS = " UNION ALL ".join(
    f"SELECT {d} AS d, {_sql_hash(d, 'CAST(key AS VARCHAR)')} % {CS_W} AS b,"
    f" {_cs_sign(d)} * exact_count AS sc FROM counts"
    for d in range(1, CS_D + 1)
)

O_COUNT_SKETCH_RETRACT = f"""
WITH counts AS (
  SELECT l_partkey AS key, COUNT(*) AS exact_count
  FROM lineitem WHERE l_orderkey % 5 <> 2 GROUP BY l_partkey
),
cells AS ({_CS_CELLS}),
sketch AS (
  SELECT d, b, SUM(sc) AS c FROM cells GROUP BY d, b
),
top AS (
  SELECT key, exact_count FROM counts
  ORDER BY exact_count DESC, key ASC LIMIT {CS_TOP}
),
probes AS (
  {" UNION ALL ".join(
      f"SELECT key, exact_count, {d} AS d,"
      f" {_sql_hash(d, 'CAST(key AS VARCHAR)')} % {CS_W} AS b,"
      f" {_cs_sign(d)} AS s FROM top"
      for d in range(1, CS_D + 1)
  )}
)
SELECT p.key,
       CAST(p.exact_count AS BIGINT) AS exact_count,
       CAST(MEDIAN(p.s * COALESCE(s.c, 0)) AS BIGINT) AS cs_count,
       CAST(MEDIAN(p.s * COALESCE(s.c, 0)) - p.exact_count AS BIGINT) AS err
FROM probes p LEFT JOIN sketch s ON s.d = p.d AND s.b = p.b
GROUP BY p.key, p.exact_count
"""


# --------------------------------------------------------------------------
# Bloom-filter semi-join: customers with urgent orders
# --------------------------------------------------------------------------

BLOOM_M = 4096
BLOOM_K = 3


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-filter of customer against urgent-order custkeys,
    with the false-positive rate measured against the exact semi-join —
    the explicit, oracle-checkable form of Spark's runtime bloom-filter
    join pruning. See ext/sketch.py for the bit layout and scale shape."""
    from ..ext.sketch import bloom_semijoin_stats

    build = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return bloom_semijoin_stats(
        build, "o_custkey", _t(spark, sf_dir, "customer"), "c_custkey",
        m_bits=BLOOM_M, n_hashes=BLOOM_K,
    )


def _bloom_positions(key_expr: str) -> str:
    return " UNION ALL ".join(
        f"SELECT k, {_sql_hash(d, key_expr)} % {BLOOM_M} AS pos FROM keys"
        for d in range(1, BLOOM_K + 1)
    )


O_BLOOM_SEMIJOIN = f"""
WITH keys AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS k FROM orders
  WHERE o_orderpriority = '1-URGENT'
),
bpos AS ({_bloom_positions("CAST(k AS VARCHAR)")}),
bloom AS (
  SELECT pos // 32 AS block,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
  FROM bpos GROUP BY pos // 32
),
probe AS (SELECT CAST(c_custkey AS BIGINT) AS pk FROM customer),
ppos AS (
  {" UNION ALL ".join(
      f"SELECT pk, {_sql_hash(d, 'CAST(pk AS VARCHAR)')} % {BLOOM_M} AS pos"
      f" FROM probe"
      for d in range(1, BLOOM_K + 1)
  )}
),
hits AS (
  SELECT p.pk,
         CASE WHEN b.bits IS NOT NULL
                   AND (b.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INTEGER))) != 0
              THEN 1 ELSE 0 END AS hit
  FROM ppos p LEFT JOIN bloom b ON b.block = p.pos // 32
),
passed AS (
  SELECT pk, CASE WHEN MIN(hit) = 1 THEN 1 ELSE 0 END AS pass
  FROM hits GROUP BY pk
),
truth AS (
  SELECT p.pk, p.pass,
         CASE WHEN k.k IS NOT NULL THEN 1 ELSE 0 END AS member
  FROM passed p LEFT JOIN keys k ON k.k = p.pk
),
agg AS (
  SELECT COUNT(*) AS n_probe, SUM(pass) AS bloom_pass,
         SUM(member) AS true_members,
         SUM(CASE WHEN pass = 1 AND member = 0 THEN 1 ELSE 0 END)
           AS false_positives
  FROM truth
),
nb AS (SELECT COUNT(*) AS n_build_distinct FROM keys)
SELECT {BLOOM_M} AS m_bits, {BLOOM_K} AS n_hashes,
       CAST(n_build_distinct AS BIGINT) AS n_build_distinct,
       CAST(n_probe AS BIGINT) AS n_probe,
       CAST(bloom_pass AS BIGINT) AS bloom_pass,
       CAST(true_members AS BIGINT) AS true_members,
       CAST(false_positives AS BIGINT) AS false_positives,
       CAST((false_positives * 1000000)
            // greatest(n_probe - true_members, 1) AS BIGINT) AS fp_rate_ppm
FROM agg, nb
"""


# --------------------------------------------------------------------------
# Triangle count on the supplier co-trade graph
# --------------------------------------------------------------------------

TRI_MIN_SHARED = 2
TRI_TOP = 8


def co_supplier_shared_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b, shared): supplier pairs a<b with the number of customers
    both traded with, shared >= TRI_MIN_SHARED. The candidate-edge input
    of q_triangle_count's mutual-kNN sparsification, exposed as its own
    frame so the plan-quality suite can pin its aggregation shape (the
    localCheckpoint downstream hides it from the final executed plan).

    Both self-join sides read the session-shared checkpointed co-trade
    frame (plans/_shared.py), keeping the fact join single-evaluation.
    The explode form was MEASURED 6x SLOWER here (7.6s vs 1.2s at
    sf0.1): at co-trade degree ~39 the nested transform/slice pair
    builder evaluates interpreted with O(d) array copies per element,
    while the equi-self-join + filter stays in whole-stage codegen —
    the same HOF-vs-codegen trade the simhash docstring records,
    landing the other way because this upstream is checkpointable."""
    from ._shared import co_trade_pair_counts

    cs = co_trade_pair_counts(spark, sf_dir).select("o_custkey", "l_suppkey")
    # NOT repartitioned before the self-join (r14 optimization round): the
    # checkpointed co-trade frame arrives data-sized (9 partitions at
    # sf0.1) and the pair fan-out runs at that width, but an A/B with
    # repartition_for_compute(cs, "o_custkey") on the probe side measured
    # WORSE end to end (warm ~4.5-5.3 s vs ~3.8-4.5 s count) — the extra
    # exchange + lost narrow pipeline into the fan-out cost more than the
    # 9-wide map chain it spread.
    t1, t2 = cs.alias("t1"), cs.alias("t2")
    return (
        t1.join(
            t2,
            (F.col("t1.o_custkey") == F.col("t2.o_custkey"))
            & (F.col("t1.l_suppkey") < F.col("t2.l_suppkey")),
        )
        # PACK the pair key into one bigint for the shuffle (r15, guide
        # §2.3 narrower types): the pair stream is the query's dominant
        # exchange (~106 MB at sf0.1 as two bigints + row overhead), and
        # every byte of it crosses the wire once per copy. a·2³² + b is
        # collision-free (TPC-H suppkeys are 10k·sf < 2³¹ at any
        # realistic sf; the self-join condition already pins a < b) and
        # shuffles one long instead of two, with a cheaper single-column
        # hash at both ends. Unpacked right after the aggregate — the
        # returned (a, b, shared) rows are identical. Both operands are
        # cast to long first: on an int column Spark masks the shift
        # amount mod 32, so a·2³² would silently become a and the key a+b.
        .select(
            (F.shiftleft(F.col("t1.l_suppkey").cast("long"), 32)
             + F.col("t2.l_suppkey").cast("long")).alias("ab")
        )
        # force the shuffle BEFORE aggregating: the pair stream's global
        # duplication (shared-count avg ~20) is spread across ALL map
        # tasks, so per-task duplication is <1 and the default map-side
        # combine collapses nothing while paying a multi-million-entry
        # hash map per task (measured 9s of the 12.5s sf1x runtime, with
        # spill). Hash-repartitioning on the pair key first brings every
        # copy of a pair to one task, where the combine realizes the full
        # ~20x collapse over a small map (sf1x: 10.8s → 4.5s). The more
        # tasks a cluster has, the SMALLER per-map-task duplication gets,
        # so skipping the pre-shuffle combine is the asymptotically
        # correct shape for co-occurrence counting. 2x the session
        # shuffle parallelism keeps each post-shuffle map cache-resident;
        # AQE coalesces the tail on small inputs.
        .repartition(
            2 * int(spark.conf.get("spark.sql.shuffle.partitions")), "ab"
        )
        .groupBy("ab")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= TRI_MIN_SHARED)
        .select(
            F.shiftright(F.col("ab"), 32).alias("a"),
            F.col("ab").bitwiseAND(F.lit((1 << 32) - 1)).alias("b"),
            "shared",
        )
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + clustering coefficient of the MUTUAL top-T
    supplier co-trade graph: suppliers are adjacent iff EACH ranks the
    other among its TRI_TOP strongest co-suppliers (by shared-customer
    count, partner id as the deterministic tie-break).

    Why mutual top-T and not a raw shared>=threshold rule: co-occurrence
    graphs DENSIFY with data volume — at sf0.1 every supplier pair
    already shares >=2 customers, so the thresholded graph is COMPLETE
    (measured: 1000 nodes, 499,500 edges, 5*10^8 wedges — the wedge join
    OOMed a 4 GB driver). Mutual-kNN sparsification bounds the degree by
    T ALGEBRAICALLY, so wedges <= N*T^2/2 at ANY scale — the same
    fixed-output-budget discipline as the LSH bucket cap and the BM25
    posting cap. That makes the triangle join's cost a function of the
    graph ORDER, not the data density.

    Plan shape: shared-customer pair counts (co_supplier_shared_counts —
    codegen equi-self-join over the checkpointed co-trade frame,
    pair-key-partitioned count), per-node row_number window over the
    symmetric directed copy, mutual filter via semi-join on the
    T-bounded kept table, then operators/graph.py:triangle_stats."""
    from ..operators.graph import triangle_stats
    from pyspark.sql import Window

    # Direction EXPLODE, not a two-branch union (r15 optimization round,
    # guide §2.4/§1.2 — supersedes the r14 owned_persist+count() fill):
    # the union form consumed `pairs` twice (forward + reversed branch),
    # which is why r14 had to materialize the counted pair table (a fill
    # job + a cache write + two cache reads through 2× the map tasks).
    # Exploding each counted pair into its two directions in ONE narrow
    # pass leaves `pairs` with a SINGLE consumer, so the persist, its
    # fill job, and the doubled cache read all disappear — the window
    # job now computes co-trade→pair-agg→explode→rank in one pipeline.
    # Same directed rows, same window, same results.
    pairs = co_supplier_shared_counts(spark, sf_dir)
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("src"), F.col("b").alias("dst"),
                    F.col("shared"),
                ),
                F.struct(
                    F.col("b").alias("src"), F.col("a").alias("dst"),
                    F.col("shared"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.shared")
    w = Window.partitionBy("src").orderBy(F.desc("shared"), F.asc("dst"))
    kept = (
        directed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TRI_TOP)
        .select("src", "dst")
        # <= N*T rows, consumed by both sides of the mutual join (and the
        # whole pair build above would otherwise run once per side)
        .localCheckpoint()
    )
    rev = kept.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    edges = (
        kept.join(rev, ["src", "dst"], "left_semi")
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        # triangle_stats branches over the edge table six ways; without
        # this the mutual semi-join re-runs per branch (audited: 16
        # shuffles → 6)
        .localCheckpoint()
    )
    return triangle_stats(edges)


O_TRIANGLE_COUNT = f"""
WITH cs AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
-- MATERIALIZED throughout (r9): cs feeds both self-join sides, pairs
-- feeds both UNION ALL branches, kept both the edge scan and the EXISTS
-- probe, edges SIX downstream references (deg x2, ne, tri x3). DuckDB
-- inlines CTEs by default, so the un-hinted form re-ran the whole
-- cs->pairs->window chain once per reference — at the sf1x replica set
-- that spilled >50 GB of temp without finishing; hinted it runs in
-- ~44 s with no spill (the r5 MMR lesson: multi-referenced CTEs in an
-- oracle MUST be materialized).
pairs AS MATERIALIZED (
  SELECT t1.s AS a, t2.s AS b, COUNT(*) AS shared
  FROM cs t1 JOIN cs t2 ON t1.c = t2.c AND t1.s < t2.s
  GROUP BY t1.s, t2.s
  HAVING COUNT(*) >= {TRI_MIN_SHARED}
),
directed AS (
  SELECT a AS src, b AS dst, shared FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst, shared FROM pairs
),
kept AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src
                              ORDER BY shared DESC, dst ASC) AS rn
    FROM directed
  ) WHERE rn <= {TRI_TOP}
),
edges AS MATERIALIZED (
  SELECT k1.src AS a, k1.dst AS b
  FROM kept k1
  WHERE k1.src < k1.dst
    AND EXISTS (SELECT 1 FROM kept k2
                WHERE k2.src = k1.dst AND k2.dst = k1.src)
),
deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
  ) GROUP BY v
),
base AS (
  SELECT COUNT(*) AS n_nodes,
         SUM(d * (d - 1)) // 2 AS n_wedges
  FROM deg
),
ne AS (SELECT COUNT(*) AS n_edges FROM edges),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_wedges AS BIGINT) AS n_wedges,
       CAST(n_triangles AS BIGINT) AS n_triangles,
       CAST((n_triangles * 3000000) // greatest(n_wedges, 1) AS BIGINT)
         AS clustering_ppm
FROM base, ne, tri
"""

# --------------------------------------------------------------------------
# HyperLogLog distinct estimate with register-level oracle replay
# --------------------------------------------------------------------------

HLL_P = 8  # m = 256 registers
_HLL_M = 1 << HLL_P
_HLL_Q = 60 - HLL_P
_HLL_RHO_MAX = _HLL_Q + 1
_HLL_ALPHA = f"(0.7213e0 / (1.0e0 + 1.079e0 / {_HLL_M}e0)) * {_HLL_M * _HLL_M}e0 * {1 << _HLL_RHO_MAX}e0"


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog over lineitem.l_partkey — the actual algorithm behind
    Spark's approx_count_distinct, rebuilt on the portable hash so the
    oracle replays every register (rel_approx_distinct_bounds
    envelope-checks the native one). At sf0.001 the small-range linear-counting branch
    fires; at sf0.01+ the raw harmonic-mean branch does — the differential
    harness covers both. See ext/sketch.py:hll_distinct."""
    from ..ext.sketch import hll_distinct

    return hll_distinct(_t(spark, sf_dir, "lineitem"), "l_partkey", p=HLL_P)


O_HLL_DISTINCT = f"""
WITH h AS (
  SELECT {_sql_hash("'0'", "CAST(l_partkey AS VARCHAR)")} AS h FROM lineitem
),
regs AS (
  SELECT h // {1 << _HLL_Q} AS bucket,
         MAX(CASE WHEN h % {1 << _HLL_Q} = 0 THEN {_HLL_RHO_MAX}
                  ELSE {_HLL_RHO_MAX} - length(bin(h % {1 << _HLL_Q})) END) AS rho
  FROM h GROUP BY 1
),
allregs AS (
  SELECT COALESCE(r.rho, 0) AS M
  FROM range({_HLL_M}) t(bucket) LEFT JOIN regs r ON r.bucket = t.bucket
),
state AS (
  SELECT CAST(SUM(CAST(1 AS BIGINT) << CAST({_HLL_RHO_MAX} - M AS INTEGER)) AS BIGINT) AS s2,
         CAST(SUM(CASE WHEN M = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
  FROM allregs
),
ex AS (SELECT COUNT(DISTINCT l_partkey) AS exact_distinct FROM lineitem),
est AS (
  SELECT state.s2, state.v_zero, ex.exact_distinct,
         CASE WHEN ({_HLL_ALPHA} / CAST(state.s2 AS DOUBLE)) <= 2.5e0 * {_HLL_M}e0
                   AND state.v_zero > 0
              THEN CAST(round({_HLL_M}e0 * ln({_HLL_M}e0 / CAST(state.v_zero AS DOUBLE))) AS BIGINT)
              ELSE CAST(round({_HLL_ALPHA} / CAST(state.s2 AS DOUBLE)) AS BIGINT)
         END AS hll_estimate
  FROM state, ex
)
SELECT {_HLL_M} AS m, v_zero, s2, hll_estimate,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       CAST((ABS(hll_estimate - exact_distinct) * 1000000) // exact_distinct
            AS BIGINT) AS err_ppm
FROM est
"""


# --------------------------------------------------------------------------
# KMV sketch set algebra: union / intersection of urgent vs high customers
# --------------------------------------------------------------------------

KMV_SET_K = 256


def q_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style set algebra on KMV sketches: estimate the union
    and intersection cardinality of {customers with 1-URGENT orders} and
    {customers with 2-HIGH orders} from the two k-minima summaries alone —
    the per-shard merge + intersect path a 100 TB profile store uses
    instead of re-scanning either side. At sf0.001 both sets are below k
    and the estimates collapse to exact; at sf0.01+ they genuinely
    estimate. See ext/sketch.py:kmv_set_relations."""
    from ..ext.sketch import kmv_set_relations

    o = _t(spark, sf_dir, "orders")
    return kmv_set_relations(
        o.filter(F.col("o_orderpriority") == "1-URGENT"), "o_custkey",
        o.filter(F.col("o_orderpriority") == "2-HIGH"), "o_custkey",
        k=KMV_SET_K,
    )


_KMV_CUST_HASH = _sql_hash("'0'", "CAST(o_custkey AS VARCHAR)")


def _kmv_mins(pri: str) -> str:
    return (
        f"SELECT DISTINCT {_KMV_CUST_HASH} AS h"
        f" FROM orders WHERE o_orderpriority = '{pri}'"
        f" ORDER BY h LIMIT {KMV_SET_K}"
    )


O_KMV_INTERSECTION = f"""
WITH mins_a AS ({_kmv_mins("1-URGENT")}),
mins_b AS ({_kmv_mins("2-HIGH")}),
u AS (
  SELECT DISTINCT h FROM (
    SELECT h FROM mins_a UNION ALL SELECT h FROM mins_b
  ) ORDER BY h LIMIT {KMV_SET_K}
),
usk AS (SELECT MAX(h) AS hk, COUNT(*) AS union_kept FROM u),
common AS (
  SELECT COUNT(*) AS n_common FROM u
  WHERE h IN (SELECT h FROM mins_a) AND h IN (SELECT h FROM mins_b)
),
ex_u AS (
  SELECT COUNT(DISTINCT o_custkey) AS exact_union FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
),
ex_i AS (
  SELECT COUNT(*) AS exact_intersection FROM (
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  )
  WHERE o_custkey IN (
    SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
  )
),
est AS (
  SELECT usk.union_kept, common.n_common, ex_u.exact_union,
         ex_i.exact_intersection,
         CASE WHEN usk.union_kept < {KMV_SET_K} THEN usk.union_kept
              ELSE CAST(({KMV_SET_K - 1} * (1::HUGEINT << 60)) // usk.hk AS BIGINT)
         END AS est_union
  FROM usk, common, ex_u, ex_i
)
SELECT {KMV_SET_K} AS k,
       CAST(union_kept AS BIGINT) AS union_kept,
       CAST(est_union AS BIGINT) AS est_union,
       CAST(exact_union AS BIGINT) AS exact_union,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(exact_intersection AS BIGINT) AS exact_intersection,
       CAST((n_common * est_union) // greatest(union_kept, 1) AS BIGINT)
         AS est_intersection,
       CAST((ABS(est_union - exact_union) * 1000000)
            // greatest(exact_union, 1) AS BIGINT)
         AS err_union_ppm,
       CAST((ABS((n_common * est_union) // greatest(union_kept, 1)
                 - exact_intersection)
             * 1000000) // greatest(exact_intersection, 1) AS BIGINT)
         AS err_intersection_ppm
FROM est
"""


# --------------------------------------------------------------------------
# Priority sampling: subset sums of order revenue from one stored sample
# --------------------------------------------------------------------------

PS_K = 256
_PS_HASH = _sql_hash("'0'", "CAST(o_orderkey AS VARCHAR)")


def q_priority_sample_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority-class order revenue estimated from ONE stored 256-item
    priority sample (weights = total price in cents via the repo's
    floor-form unit extraction) vs the exact sums — the
    answer-subset-queries-from-a-sample primitive
    (ext/sketch.py:priority_sample_subset_sums). The o_orderpriority
    classes are subsets the sample was not built for."""
    from ..ext.sketch import priority_sample_subset_sums
    from ..functions.exact import _units_long

    o = _t(spark, sf_dir, "orders").withColumn(
        "price_cents", _units_long(F.col("o_totalprice"), 2).cast("long")
    )
    return priority_sample_subset_sums(
        o, "o_orderkey", "price_cents", "o_orderpriority", k=PS_K
    )


O_PRIORITY_SAMPLE_REVENUE = f"""
WITH items AS (
  SELECT o_orderkey AS id,
         CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS w,
         o_orderpriority AS grp,
         {_PS_HASH} AS h
  FROM orders
),
pri AS (
  SELECT id, w, grp,
         CAST((CAST(w AS HUGEINT) * (1::HUGEINT << 60))
              // greatest(h, w) AS BIGINT) AS q
  FROM items
),
topk1 AS (SELECT * FROM pri ORDER BY q DESC, id ASC LIMIT {PS_K + 1}),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY q DESC, id ASC) AS rn FROM topk1
),
tau AS (
  SELECT COALESCE(MAX(CASE WHEN rn = {PS_K + 1} THEN q END), 0) AS tau
  FROM ranked
),
est AS (
  SELECT grp, COUNT(*) AS n_sampled,
         SUM(greatest(w, tau.tau)) AS est_sum
  FROM ranked, tau WHERE rn <= {PS_K} GROUP BY grp, tau.tau
),
exact AS (SELECT grp, SUM(w) AS exact_sum FROM items GROUP BY grp)
SELECT exact.grp AS o_orderpriority,
       CAST(COALESCE(est.n_sampled, 0) AS BIGINT) AS n_sampled,
       CAST(COALESCE(est.est_sum, 0) AS BIGINT) AS est_sum,
       CAST(exact.exact_sum AS BIGINT) AS exact_sum,
       CAST((ABS(COALESCE(est.est_sum, 0) - exact.exact_sum) * 1000000)
            // greatest(exact.exact_sum, 1) AS BIGINT) AS err_ppm
FROM exact LEFT JOIN est ON est.grp = exact.grp
"""


# --------------------------------------------------------------------------
# AMS F2: self-join size of lineitem.l_suppkey from 5 signed counters
# --------------------------------------------------------------------------

AMS_D = 5
AMS_G = 32
AMS_SEED = 100


def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS median-of-means second-moment estimate of lineitem.l_suppkey
    (the self-join size a cost-based optimizer wants before planning a
    suppkey join) vs the exact Σ f². See ext/sketch.py:ams_f2 for the
    one-aggregate sketch shape and the bits-of-one-md5 sign economy."""
    from ..ext.sketch import ams_f2

    return ams_f2(_t(spark, sf_dir, "lineitem"), "l_suppkey",
                  depth=AMS_D, group=AMS_G, seed=AMS_SEED)


def _ams_oracle() -> str:
    n_signs = AMS_D * AMS_G
    n_hashes = (n_signs + 53) // 54
    hs = ",\n         ".join(
        f"{_sql_hash(AMS_SEED + k, 'CAST(l_suppkey AS VARCHAR)')} AS h{k}"
        for k in range(n_hashes)
    )
    zs = ",\n         ".join(
        f"CAST(SUM(1 - 2 * ((h{i // 54} >> {i % 54}) & 1)) AS BIGINT) AS z{i}"
        for i in range(n_signs)
    )
    rows = ", ".join(
        " + ".join(f"z{d * AMS_G + g} * z{d * AMS_G + g}" for g in range(AMS_G))
        for d in range(AMS_D)
    )
    return f"""
WITH h AS (
  SELECT {hs}
  FROM lineitem
),
sums AS (
  SELECT {zs}
  FROM h
),
est AS (
  SELECT list_sort([{rows}])[{AMS_D // 2 + 1}] // {AMS_G} AS ams_estimate
  FROM sums
),
ex AS (
  SELECT CAST(SUM(f * f) AS BIGINT) AS exact_f2 FROM (
    SELECT COUNT(*) AS f FROM lineitem GROUP BY l_suppkey
  )
)
SELECT {AMS_D} AS depth, {AMS_G} AS "group",
       CAST(ams_estimate AS BIGINT) AS ams_estimate,
       exact_f2,
       CAST((ABS(ams_estimate - exact_f2) * 1000000)
            // greatest(exact_f2, 1) AS BIGINT) AS err_ppm
FROM est, ex
"""


O_AMS_F2 = _ams_oracle()


# --------------------------------------------------------------------------
# Grouped + rolling-window HLL: monthly / trailing-3-month distinct
# customers from monthly register tables
# --------------------------------------------------------------------------

HLLG_P = 8
_HLLG_M = 1 << HLLG_P
_HLLG_Q = 60 - HLLG_P
_HLLG_RMAX = _HLLG_Q + 1


def q_hll_monthly_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ordering customers per month, estimated from per-month HLL
    registers — the canonical "distinct users per day" sketch workload,
    with the per-group estimate in closed form (no bucket-grid join; see
    ext/sketch.py:hll_estimate_grouped). Exact count + integer-ppm error
    ride along per month."""
    from ..ext.sketch import hll_estimate_grouped, hll_registers_grouped

    o = _t(spark, sf_dir, "orders").select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("midx"),
        "o_custkey",
    )
    regs = hll_registers_grouped(o, "o_custkey", ["midx"], p=HLLG_P)
    est = hll_estimate_grouped(regs, ["midx"], p=HLLG_P)
    exact = o.groupBy("midx").agg(
        F.count_distinct("o_custkey").alias("exact_distinct")
    ).withColumnRenamed("midx", "midx_e")
    return (
        est.join(exact, est["midx"] == exact["midx_e"])
        .select("midx", "v_zero", "s2", "hll_estimate", "exact_distinct")
        .withColumn(
            "err_ppm",
            F.expr(
                "(abs(hll_estimate - exact_distinct) * CAST(1000000 AS BIGINT))"
                " DIV exact_distinct"
            ),
        )
    )


def q_hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-3-month distinct customers per month computed by MERGING
    the stored monthly register tables (per-bucket max over the window) —
    distinct-over-arbitrary-window-unions WITHOUT re-scanning the fact
    table, the property that makes HLL the rolling-retention sketch. The
    register-merge join touches months × window (tiny); the exact rolling
    distinct (eval-only) pays the real range-join + count_distinct the
    sketch avoids."""
    from ..ext.sketch import hll_estimate_grouped, hll_registers_grouped

    o = _t(spark, sf_dir, "orders").select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("midx"),
        "o_custkey",
    )
    # the stored monthly sketch table: both the month list and the merge
    # read it; k·m rows, materialized once
    regs = hll_registers_grouped(o, "o_custkey", ["midx"], p=HLLG_P).localCheckpoint()
    months = regs.select("midx").distinct().withColumnRenamed("midx", "tmidx")
    rolled = (
        regs.join(
            F.broadcast(months),
            (F.col("midx") >= F.col("tmidx") - 2)
            & (F.col("midx") <= F.col("tmidx")),
        )
        .groupBy("tmidx", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    est = hll_estimate_grouped(rolled, ["tmidx"], p=HLLG_P)
    pairs = o.distinct()
    exact = (
        pairs.join(
            F.broadcast(months.withColumnRenamed("tmidx", "emidx")),
            (F.col("midx") >= F.col("emidx") - 2)
            & (F.col("midx") <= F.col("emidx")),
        )
        .groupBy("emidx")
        .agg(F.count_distinct("o_custkey").alias("exact_distinct"))
    )
    return (
        est.join(exact, est["tmidx"] == exact["emidx"])
        .select(
            F.col("tmidx").alias("midx"),
            "v_zero",
            "s2",
            "hll_estimate",
            "exact_distinct",
        )
        .withColumn(
            "err_ppm",
            F.expr(
                "(abs(hll_estimate - exact_distinct) * CAST(1000000 AS BIGINT))"
                " DIV exact_distinct"
            ),
        )
    )


_HLLG_ALPHA = f"(0.7213e0 / (1.0e0 + 1.079e0 / {_HLLG_M}e0)) * {_HLLG_M * _HLLG_M}e0 * {1 << _HLLG_RMAX}e0"

_HLLG_BASE = f"""
o AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS midx, o_custkey
  FROM orders
),
h AS (
  SELECT midx, {_sql_hash("'0'", "CAST(o_custkey AS VARCHAR)")} AS h FROM o
),
regs AS (
  SELECT midx, h // {1 << _HLLG_Q} AS bucket,
         MAX(CASE WHEN h % {1 << _HLLG_Q} = 0 THEN {_HLLG_RMAX}
                  ELSE {_HLLG_RMAX} - length(bin(h % {1 << _HLLG_Q})) END) AS rho
  FROM h GROUP BY 1, 2
)"""


def _hllg_state_sql(src: str, grp: str) -> str:
    return f"""
state AS (
  SELECT {grp},
         CAST({_HLLG_M} - COUNT(*) AS BIGINT) AS v_zero,
         CAST(SUM(CAST(1 AS BIGINT) << CAST({_HLLG_RMAX} - rho AS INTEGER))
              + ({_HLLG_M} - COUNT(*)) * CAST({1 << _HLLG_RMAX} AS BIGINT)
              AS BIGINT) AS s2
  FROM {src} GROUP BY {grp}
),
est AS (
  SELECT {grp}, v_zero, s2,
         CASE WHEN ({_HLLG_ALPHA} / CAST(s2 AS DOUBLE)) <= 2.5e0 * {_HLLG_M}e0
                   AND v_zero > 0
              THEN CAST(round({_HLLG_M}e0 * ln({_HLLG_M}e0 / CAST(v_zero AS DOUBLE))) AS BIGINT)
              ELSE CAST(round({_HLLG_ALPHA} / CAST(s2 AS DOUBLE)) AS BIGINT)
         END AS hll_estimate
  FROM state
)"""


O_HLL_MONTHLY_CUSTOMERS = f"""
WITH {_HLLG_BASE},
{_hllg_state_sql("regs", "midx")},
ex AS (SELECT midx, COUNT(DISTINCT o_custkey) AS exact_distinct FROM o GROUP BY midx)
SELECT est.midx, est.v_zero, est.s2, est.hll_estimate,
       CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
       CAST((ABS(est.hll_estimate - ex.exact_distinct) * 1000000)
            // ex.exact_distinct AS BIGINT) AS err_ppm
FROM est JOIN ex ON ex.midx = est.midx
"""

O_HLL_ROLLING_DISTINCT = f"""
WITH {_HLLG_BASE},
months AS (SELECT DISTINCT midx AS tmidx FROM regs),
rolled AS (
  SELECT t.tmidx, r.bucket, MAX(r.rho) AS rho
  FROM months t JOIN regs r ON r.midx BETWEEN t.tmidx - 2 AND t.tmidx
  GROUP BY t.tmidx, r.bucket
),
{_hllg_state_sql("rolled", "tmidx")},
pairs AS (SELECT DISTINCT midx, o_custkey FROM o),
ex AS (
  SELECT t.tmidx, COUNT(DISTINCT p.o_custkey) AS exact_distinct
  FROM months t JOIN pairs p ON p.midx BETWEEN t.tmidx - 2 AND t.tmidx
  GROUP BY t.tmidx
)
SELECT est.tmidx AS midx, est.v_zero, est.s2, est.hll_estimate,
       CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
       CAST((ABS(est.hll_estimate - ex.exact_distinct) * 1000000)
            // ex.exact_distinct AS BIGINT) AS err_ppm
FROM est JOIN ex ON ex.tmidx = est.tmidx
"""


# --------------------------------------------------------------------------
# Bottom-k sample quantiles: l_extendedprice rank estimates from ONE stored
# 256-row uniform sample (the KMV monoid applied to order statistics)
# --------------------------------------------------------------------------

BQ_K = 256
BQ_SEED = 7
#: requested ranks in ppm; the estimator answers ANY posterior rank from
#: the same stored sample — these five exercise both tails and the middle
BQ_PROBS = (100_000, 250_000, 500_000, 750_000, 990_000)
#: order-statistic index (shared with the oracle): ceil(p·k) in pure ints
BQ_IDX = {p: (p * BQ_K + 999_999) // 1_000_000 for p in BQ_PROBS}

#: unique ROW identity for lineitem (orderkey, linenumber) — quantiles are
#: over the row population, so the sampled unit must be the row
_BQ_KEY_SQL = ("concat(CAST(l_orderkey AS VARCHAR), '|', "
               "CAST(l_linenumber AS VARCHAR))")


def q_bottomk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles of lineitem.l_extendedprice from a stored bottom-k
    uniform row sample, judged by TRUE rank error (the quantile-sketch
    literature's metric). See ext/sketch.py:bottomk_quantiles for the
    monoid/scale story."""
    from ..ext.sketch import bottomk_quantiles

    li = _t(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("|"),
        F.col("l_linenumber").cast("string"),
    )
    return bottomk_quantiles(
        li, key, "l_extendedprice", list(BQ_PROBS), k=BQ_K, seed=BQ_SEED
    )


def _bottomk_oracle() -> str:
    values = ", ".join(f"({p}, {i})" for p, i in sorted(BQ_IDX.items()))
    return f"""
WITH h AS (
  SELECT {_sql_hash(BQ_SEED, _BQ_KEY_SQL)} AS h, l_extendedprice AS v
  FROM lineitem
),
samp AS (SELECT h, v FROM h ORDER BY h ASC, v ASC LIMIT {BQ_K}),
ord AS (
  SELECT v, row_number() OVER (ORDER BY v ASC, h ASC) AS r FROM samp
),
probs(p_ppm, r) AS (VALUES {values}),
kept AS (SELECT MAX(r) AS kept FROM ord),
est AS (
  -- index clamped to the sample size (mirrors ext/sketch.py: n < k
  -- inputs still emit one row per requested probability); LEFT join so
  -- an EMPTY sample yields NULL est_value rather than dropping rows
  SELECT p.p_ppm, o.v AS est_value
  FROM probs p CROSS JOIN kept
  LEFT JOIN ord o ON o.r = LEAST(p.r, kept.kept)
),
ranked AS (
  SELECT e.p_ppm, e.est_value,
         SUM(CASE WHEN li.l_extendedprice <= e.est_value
                  THEN 1 ELSE 0 END) AS le,
         COUNT(*) AS n_total
  FROM lineitem li CROSS JOIN est e
  GROUP BY e.p_ppm, e.est_value
)
SELECT CAST(p_ppm AS BIGINT) AS p_ppm,
       est_value,
       CAST((le * 1000000) // n_total AS BIGINT) AS rank_ppm,
       CAST(ABS((le * 1000000) // n_total - p_ppm) AS BIGINT)
         AS rank_err_ppm,
       CAST({BQ_K} AS BIGINT) AS sample_k,
       CAST(n_total AS BIGINT) AS n_total
FROM ranked
ORDER BY p_ppm
"""


O_BOTTOMK_QUANTILES = _bottomk_oracle()


QUERIES = {
    "rel_kmv_distinct": q_kmv_distinct,
    "rel_cms_heavy_hitters": q_cms_heavy_hitters,
    "rel_count_sketch_retract": q_count_sketch_retract,
    "rel_bloom_semijoin": q_bloom_semijoin,
    "rel_triangle_count": q_triangle_count,
    "rel_hll_distinct": q_hll_distinct,
    "rel_kmv_intersection": q_kmv_intersection,
    "rel_priority_sample_revenue": q_priority_sample_revenue,
    "rel_ams_f2": q_ams_f2,
    "rel_hll_monthly_customers": q_hll_monthly_customers,
    "rel_hll_rolling_distinct": q_hll_rolling_distinct,
    "rel_bottomk_quantiles": q_bottomk_quantiles,
}

ORACLES = {
    "rel_kmv_distinct": O_KMV_DISTINCT,
    "rel_cms_heavy_hitters": O_CMS_HEAVY_HITTERS,
    "rel_count_sketch_retract": O_COUNT_SKETCH_RETRACT,
    "rel_bloom_semijoin": O_BLOOM_SEMIJOIN,
    "rel_triangle_count": O_TRIANGLE_COUNT,
    "rel_hll_distinct": O_HLL_DISTINCT,
    "rel_kmv_intersection": O_KMV_INTERSECTION,
    "rel_priority_sample_revenue": O_PRIORITY_SAMPLE_REVENUE,
    "rel_ams_f2": O_AMS_F2,
    "rel_hll_monthly_customers": O_HLL_MONTHLY_CUSTOMERS,
    "rel_hll_rolling_distinct": O_HLL_ROLLING_DISTINCT,
    "rel_bottomk_quantiles": O_BOTTOMK_QUANTILES,
}
