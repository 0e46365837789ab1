"""Streaming-semantics operators in their batch-equivalent form (SURVEY §2.9).

Structured Streaming's model is incrementalized batch — a windowed
aggregation returns the same result run as a stream with
``trigger(availableNow)`` or as a batch query (tested in
tests/test_streaming.py). The driver's oracle runs the batch form; the
streaming module (``streaming/pipeline.py``) runs the same builders over
``readStream`` sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import fmean1, fmean1_round, fsum, fsum1, sql_fmean1, sql_fmean1_round, sql_fsum, sql_fsum1  # noqa: F401

# decimal-exact folds for every rounded sum/mean (see functions/exact.py)


GAP = "2 hours"
GAP_SQL = "INTERVAL 2 HOUR"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table

    return load_table(spark, sf_dir, "events")


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: arm = parity of the props.k field (a
    deterministic data-derived assignment), conversion = purchase
    events. All float inputs are exact integers, so both engines
    evaluate the identical IEEE expression."""
    from ..operators.events import ab_test

    ev = _events(spark, sf_dir)
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    variant = F.when(F.pmod(k, F.lit(2)) == 0, F.lit("A")).otherwise(F.lit("B"))
    return ab_test(ev, variant_col=variant, converted=F.col("event_type") == "purchase")


O_AB_TEST = """
WITH tagged AS (
  SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) % 2 = 0
              THEN 'A' ELSE 'B' END AS variant,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events
), agg AS (
  SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
  FROM tagged
)
SELECT n_a, conv_a, ROUND(conv_a * 1.0 / n_a, 6) AS rate_a,
       n_b, conv_b, ROUND(conv_b * 1.0 / n_b, 6) AS rate_b,
       ROUND((conv_a * 1.0 / n_a - conv_b * 1.0 / n_b)
             / sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                    * (1 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score,
       abs((conv_a * 1.0 / n_a - conv_b * 1.0 / n_b)
           / sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                  * (1 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                  * (1.0 / n_a + 1.0 / n_b))) > 1.96 AS significant
FROM agg
"""



def q_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time window per condition — the streaming gold
    aggregate (SURVEY §2.9 'tumbling daily aggregation'). ``F.window`` works
    identically on batch and streaming frames."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fmean1_round("value", 2, 6).alias("value_mean"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "value_mean",
        )
    )


O_TUMBLING_DAILY = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_fmean1_round('value', 2, 6)} AS value_mean
FROM events GROUP BY 1, 2, 3
"""


def q_sliding_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 6-hour windows every 3 hours. Each event lands in 2
    windows; Spark expands then aggregates (same as the UNION-of-offsets the
    oracle uses)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(fsum1("value", 2), 2).alias("value_sum"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "value_sum",
        )
    )


O_SLIDING_6H = f"""
WITH slid AS (
  SELECT CAST(to_timestamp(floor(epoch(ts) / 10800) * 10800) AS TIMESTAMP) AS slot_start, ts, value FROM events
), expanded AS (
  SELECT slot_start AS window_start, ts, value FROM slid
  UNION ALL
  SELECT slot_start - INTERVAL 3 HOUR AS window_start, ts, value FROM slid
)
SELECT window_start, window_start + INTERVAL 6 HOUR AS window_end,
       CAST(COUNT(*) AS BIGINT) AS n, ROUND({sql_fsum1('value', 2)}, 2) AS value_sum
FROM expanded GROUP BY 1, 2
"""


def q_hopping_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active users per hopping window (6h every 3h) — the
    streaming cardinality staple (live dashboards run the same plan with
    approx_count_distinct; the exact form here is oracle-checkable). Each
    event expands into its two containing windows BEFORE the distinct-agg,
    so the shuffle carries (window, user) pairs — no raw-payload
    duplication."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_users",
            "n_events",
        )
    )


O_HOPPING_DISTINCT = """
WITH slid AS (
  SELECT CAST(to_timestamp(floor(epoch(ts) / 10800) * 10800) AS TIMESTAMP) AS slot_start,
         ts, user_id
  FROM events
), expanded AS (
  SELECT slot_start AS window_start, user_id FROM slid
  UNION ALL
  SELECT slot_start - INTERVAL 3 HOUR AS window_start, user_id FROM slid
)
SELECT window_start, window_start + INTERVAL 6 HOUR AS window_end,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM expanded GROUP BY 1, 2
"""


_TOPK_PER_WINDOW = 2


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k users per tumbling day by event count — the windowed-agg →
    rank composition (trending-items pattern). The aggregate collapses to
    one row per (window, user) BEFORE the rank window runs, so the sort
    touches the small aggregated set; on a live stream the same shape runs
    as window-agg → foreachBatch rank (rank over streaming state isn't
    incremental)."""
    ev = _events(spark, sf_dir)
    from pyspark.sql import Window

    daily = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(fsum1("value", 2), 2).alias("value_sum"))
    )
    rank_w = Window.partitionBy("w").orderBy(F.desc("n_events"), F.asc("user_id"))
    return (
        daily.withColumn("rank_in_window", F.row_number().over(rank_w))
        .filter(F.col("rank_in_window") <= _TOPK_PER_WINDOW)
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
            "value_sum",
            "rank_in_window",
        )
    )


O_WINDOW_TOPK = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND({sql_fsum1('value', 2)}, 2) AS value_sum
  FROM events GROUP BY 1, 2
)
SELECT window_start, user_id, n_events, value_sum,
       CAST(rank_in_window AS INTEGER) AS rank_in_window
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY window_start ORDER BY n_events DESC, user_id ASC
  ) AS rank_in_window
  FROM daily
)
WHERE rank_in_window <= {_TOPK_PER_WINDOW}
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization per user (session_window semantics:
    events chain while inter-arrival ≤ gap). Expressed with lag + running
    sum so the exact same dataflow runs on the oracle; the streaming module
    exposes the native ``F.session_window`` form."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    # microsecond gaps, not whole seconds: the oracle's epoch(ts) is a
    # fractional DOUBLE, so a 7200.5 s gap must start a new session even
    # when the two whole-second floors differ by exactly 7200
    us = F.unix_micros("ts")
    flagged = ev.withColumn(
        "new_s",
        F.when(us - F.lag(us).over(w) <= 7200 * 1_000_000, F.lit(0))
        .otherwise(F.lit(1)),
    )
    sess = flagged.withColumn(
        "session_seq", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(fsum1("value", 2), 2).alias("session_value"),
    )


O_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) <= 7200
              THEN 0 ELSE 1 END AS new_s
  FROM events
), sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND({sql_fsum1('value', 2)}, 2) AS session_value
FROM sess GROUP BY user_id, session_seq
"""


def q_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup (dropDuplicates on (user_id, event_type, minute)) — the
    batch equivalent of dropDuplicatesWithinWatermark. Keep-first pinned by
    (ts, event_id) so the result is deterministic."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).withColumn("minute", F.date_trunc("minute", "ts"))
    w = Window.partitionBy("user_id", "event_type", "minute").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_minutes"))
    )


O_DEDUP_WITHIN_WATERMARK = """
WITH d AS (
  SELECT event_type, row_number() OVER (
           PARTITION BY user_id, event_type, date_trunc('minute', ts)
           ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_unique_minutes FROM d WHERE rn = 1
GROUP BY event_type
"""


def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event annotated with the user's most recent
    purchase value at-or-before the click (operators/asof.py — union +
    carry-forward window, one shuffle). Oracle: DuckDB's native ASOF JOIN."""
    from ..operators.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("click_value")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    return asof_join(clicks, purchases, on="ts", by="user_id")


O_ASOF_LAST_PURCHASE = """
WITH clicks AS (
  SELECT event_id, user_id, ts, value AS click_value FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, value AS purchase_value FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.ts, c.event_id, c.click_value,
       p.purchase_value AS purchase_value_asof
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def q_range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked range join (operators/range_join.py): per-user overlapping
    36-hour activity windows × events point-in-interval match, aggregated
    per window. Oracle: DuckDB inequality join (IEJoin)."""
    from ..operators.range_join import range_join

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    iv = (
        ev.select("user_id", F.date_trunc("day", "ts").alias("w_start"))
        .distinct()
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 36 HOURS"))
    )
    matched = range_join(ev, iv, point_ts="ts", start_ts="w_start", end_ts="w_end",
                         by="user_id", chunk_seconds=6 * 3600)
    return matched.groupBy("user_id", "w_start", "w_end").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(fsum1("value", 2), 2).alias("sum_value"),
    )


O_RANGE_JOIN_WINDOWS = f"""
WITH iv AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
         CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 36 HOUR AS w_end
  FROM events
)
SELECT iv.user_id, w_start, w_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND({sql_fsum1('e.value', 2)}, 2) AS sum_value
FROM events e JOIN iv
  ON e.user_id = iv.user_id AND e.ts >= iv.w_start AND e.ts < iv.w_end
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Ordered funnel + retention cohorts (operators/events.py) — the two
# product-analytics staples over the event log.
# --------------------------------------------------------------------------

def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase ordered funnel: stage k counts users whose
    step-k event strictly follows their first step-(k-1) arrival."""
    from ..operators.events import funnel

    return funnel(_events(spark, sf_dir), ["view", "click", "purchase"])


O_FUNNEL = """
WITH fv AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), fc AS (
  SELECT e.user_id, MIN(ts) AS t2
  FROM events e JOIN fv USING (user_id)
  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id
), fp AS (
  SELECT e.user_id, MIN(ts) AS t3
  FROM events e JOIN fc USING (user_id)
  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id
), s AS (
  SELECT '1_view' AS stage, COUNT(*) AS n FROM fv
  UNION ALL SELECT '2_click', COUNT(*) FROM fc
  UNION ALL SELECT '3_purchase', COUNT(*) FROM fp
)
SELECT stage, CAST(n AS BIGINT) AS n_users,
       ROUND(n * 1.0 / (SELECT n FROM s WHERE stage = '1_view'), 6) AS pct_of_top
FROM s
"""


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle over the event log (cohort = first-seen
    week)."""
    from ..operators.events import retention_cohorts

    return retention_cohorts(_events(spark, sf_dir))


O_RETENTION = """
WITH wk AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events
), first AS (
  SELECT user_id, MIN(wk) AS cohort_week FROM wk GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, wk FROM wk
), ret AS (
  SELECT cohort_week,
         CAST(date_diff('day', cohort_week, wk) / 7 AS INTEGER) AS week_offset,
         CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
  FROM active a JOIN first USING (user_id)
  GROUP BY 1, 2
), sizes AS (
  SELECT cohort_week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cohort_size
  FROM first GROUP BY cohort_week
)
SELECT cohort_week, week_offset, n_active, cohort_size,
       ROUND(n_active * 1.0 / cohort_size, 6) AS retention
FROM ret JOIN sizes USING (cohort_week)
"""


def q_top_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order (prev → next) transition counts + per-prev-state share
    over each user's timeline (operators/events.top_transitions)."""
    from ..operators.events import top_transitions

    return top_transitions(_events(spark, sf_dir))


O_TOP_TRANSITIONS = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type
  FROM events
), c AS (
  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, event_type, n,
       ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type), 6) AS share_of_prev
FROM c
"""


# --------------------------------------------------------------------------
# Semi-structured props: parse the JSON payload column with an explicit
# schema (from_json → struct field access — JVM-side, codegen; no Python).
# --------------------------------------------------------------------------

def q_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type stats over a field extracted from the JSON ``props``
    column. from_json with a declared schema keeps extraction inside
    whole-stage codegen; at 100 TB prefer parsing ONCE into a struct column
    at bronze→silver time (exactly this expression) over re-parsing per
    query."""
    ev = _events(spark, sf_dir)
    k = F.from_json("props", "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k"), "value")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            # k is a small int and value is 2-dp, so both fixed-point folds
            # are exact on the long fast path
            fmean1_round("k", 0, 6).alias("k_mean"),
            F.countDistinct("k").alias("k_distinct"),
            F.round(fsum(F.col("value") * F.col("k"), 2), 2).alias("weighted_value"),
        )
    )


O_PROPS_STATS = f"""
WITH parsed AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
         value
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(k) AS k_min,
       MAX(k) AS k_max,
       {sql_fmean1_round('k', 0, 6)} AS k_mean,
       CAST(COUNT(DISTINCT k) AS BIGINT) AS k_distinct,
       ROUND({sql_fsum('value * k', 2)}, 2) AS weighted_value
FROM parsed GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Spark 4 VARIANT: schema-flexible semi-structured access. Unlike
# events_props_stats' from_json (declared schema), parse_json → VARIANT
# keeps the full document with no upfront schema; fields bind at query
# time with typed extraction. At 100 TB the design is: parse ONCE into a
# variant column at ingest (shredded parquet storage), then every query
# extracts its own paths without re-parsing strings.
# --------------------------------------------------------------------------

def q_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decade histogram of the props.k field via VARIANT typed extraction
    (try_variant_get → NULL, not error, on path/type mismatch — matching
    the engine's ANSI-off null-on-error posture)."""
    ev = _events(spark, sf_dir)
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"), "value")
        .groupBy(
            "event_type",
            (F.floor(F.col("k") / 10) * 10).cast("int").alias("k_decade"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(fsum1("value", 2), 2).alias("value_sum"),
        )
    )


O_PROPS_VARIANT = f"""
WITH parsed AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
         value
  FROM events
)
SELECT event_type,
       CAST(FLOOR(k / 10) * 10 AS INTEGER) AS k_decade,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND({sql_fsum1('value', 2)}, 2) AS value_sum
FROM parsed GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Calendar gap filling: dense per-type daily series with explicit zeros.
# --------------------------------------------------------------------------

def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily counts of high-value events per type with missing days filled
    as zeros — the densification step every downstream time-series model
    assumes. The calendar is types × sequence(min_day, max_day) — a
    broadcast of ONE row of bounds into a narrow explode, O(types × days)
    rows; the left join back to the sparse counts is the only shuffle
    beyond the count itself."""
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("value") > 200)
        .select("event_type", F.to_date("ts").alias("day"))
    )
    # localCheckpoint: bounds, type-list and the join probe all branch off
    # this O(types × days) aggregate — without lineage truncation each
    # branch re-scans events (3 scans for one pass's worth of data)
    daily = (
        ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    bounds = daily.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    cal = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    return cal.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).alias("n")
    )


O_GAP_FILL = """
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day FROM events WHERE value > 200
), daily AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n FROM ev GROUP BY 1, 2
), b AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM ev),
cal AS (
  SELECT t.event_type,
         CAST(unnest(generate_series(b.mn, b.mx, INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT DISTINCT event_type FROM ev) t, b
)
SELECT c.event_type, c.day, COALESCE(n, 0) AS n
FROM cal c LEFT JOIN daily USING (event_type, day)
"""


def q_window_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-tumbling-day value percentiles (p50/p90) — the windowed
    distribution summary (latency-dashboard staple). Exact
    linear-interpolation ``percentile`` so the oracle hash-matches
    (``quantile_cont`` twin); a live stream would swap in
    ``approx_percentile`` with this batch form as its accuracy oracle.
    One shuffle on the day key; the sort is per-group within the agg."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "p50",
            "p90",
        )
    )


O_WINDOW_PERCENTILES = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS window_end,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90
FROM events GROUP BY 1, 2
"""


def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth-curve query. The
    expensive distinct collapses per USER first (one shuffle on the
    high-cardinality key, map-side combinable min); the running total
    then windows over the tiny per-day frame. The naive alternative —
    COUNT(DISTINCT) over an expanding window — rescans every prefix.
    The single-partition window is over O(days) aggregated rows, not
    events."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    daily = first.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


O_CUMULATIVE_USERS = """
WITH first_seen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
), daily AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users FROM first_seen GROUP BY day
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM daily
"""


def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outliers per event type — the robust
    anomaly detector (immune to the outliers it hunts, unlike z-scores).
    Flags rows with |value − median| > 6·MAD and reports the 0.6745-scaled
    robust z-score.

    Shape: per-group exact medians force two full-pass aggregations (the
    median of deviations can't start until the median is known); both
    group tables are tiny, localCheckpoint-MATERIALIZED (each is
    referenced by every downstream branch, and Spark re-evaluates shared
    subtrees per reference — unmaterialized, the events table was
    scanned 4× and the median aggregated 3×; now events is scanned once
    per inherent pass) and broadcast back. At 100 TB swap ``percentile``
    for ``approx_percentile`` and this becomes two single-pass sketches
    with this batch form as its accuracy oracle. Both median and
    deviations are rounded to 6 so the 6·MAD threshold compares
    identical grid doubles on both engines."""
    ev = _events(spark, sf_dir)
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    ).localCheckpoint()
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "value",
        F.round(F.abs(F.col("value") - F.col("med")), 6).alias("adev"),
        "med",
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad")
    ).localCheckpoint()
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > 6 * F.col("mad"))
        .select(
            "event_type",
            "event_id",
            "value",
            "med",
            "mad",
            F.round(0.6745 * F.col("adev") / F.col("mad"), 6).alias("robust_z"),
        )
    )


O_ANOMALY_MAD = """
WITH med AS (
  SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, event_id, value,
         ROUND(ABS(value - med), 6) AS adev, med
  FROM events e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, ROUND(quantile_cont(adev, 0.5), 6) AS mad
  FROM dev GROUP BY 1
)
SELECT d.event_type, event_id, value, d.med, m.mad,
       ROUND(0.6745 * adev / m.mad, 6) AS robust_z
FROM dev d JOIN mad m USING (event_type)
WHERE adev > 6 * m.mad
"""


def q_events_daily_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-shaped daily aggregate under DELETES (r11): maintain
    the RETRACTABLE daily-counts view (streaming/matview.py:
    apply_daily_counts_delta — a purely additive aggregate retracts at
    AGGREGATE granularity, tombstones are negated partial aggregates)
    over two event batches, retract a corrected shard
    (event_id % 10 == 3), and read the surviving view. Values are
    quantized to exact 10^-2 integer units BEFORE the view (floor(v·100
    + 0.5), the repo's fixed-point fold discipline) so the Z-set weight
    sums stay abelian-exact — double addition across segments would be
    order-sensitive and could not hash against the oracle. Oracle =
    rebuild over survivors."""
    import os

    from ..streaming.matview import (
        apply_daily_counts_delta,
        read_daily_counts_retractable_segments,
        retract_daily_counts_delta,
    )
    from .ext import _session_state_dir

    ev = _events(spark, sf_dir).select(
        "event_id", "ts", "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("value"),
    )
    root = _session_state_dir(spark, sf_dir, "skylogix_daily_rz")
    state = os.path.join(root, "view")
    apply_daily_counts_delta(ev.filter(F.col("event_id") % 2 == 0), 0, state)
    apply_daily_counts_delta(ev.filter(F.col("event_id") % 2 == 1), 1, state)
    retract_daily_counts_delta(ev.filter(F.col("event_id") % 10 == 3), 2, state)
    return read_daily_counts_retractable_segments(spark, state).select(
        "day", "event_type", "n", F.col("sum_value").alias("value_units")
    )


def q_events_daily_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog maintenance over a THIRD view family (r12): the
    generic router streaming/matview.py:maintain_changelog_view has
    driver hashes for the exact-dedup (MIN/ADD) and LSH-bucket (capped
    collect_set) families; this row drives the identical
    writeStream→foreachBatch→even/odd segment routing against the
    REFERENCE-SHAPED purely additive daily aggregate — whose retraction
    is aggregate-granular (negated partial aggregates) and whose read
    fold drops n == 0 groups, the group-vanishing semantic the other
    families don't have. Three single-file micro-batches (even event
    ids +1, odd ids +1, the event_id % 10 == 3 shard as -1 deletes);
    values pre-quantized to 10^-2 integer units (the fixed-point fold
    discipline). Net survivors equal events_daily_retract's — the
    oracle is byte-identical, so a hash match certifies the routing
    against the additive family."""
    import os

    from ..streaming.matview import (
        apply_daily_counts_delta,
        maintain_changelog_view,
        read_daily_counts_retractable_segments,
        retract_daily_counts_delta,
    )
    from .ext import _session_state_dir

    ev = _events(spark, sf_dir).select(
        "event_id", "ts", "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("value"),
    )
    root = _session_state_dir(spark, sf_dir, "skylogix_daily_cdc")
    state = os.path.join(root, "view")
    cdc_dir = os.path.join(root, "changelog")
    for i, part in enumerate((
        ev.filter(F.col("event_id") % 2 == 0).withColumn("op", F.lit(1)),
        ev.filter(F.col("event_id") % 2 == 1).withColumn("op", F.lit(1)),
        ev.filter(F.col("event_id") % 10 == 3).withColumn("op", F.lit(-1)),
    )):
        part.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(cdc_dir, f"b{i}"))
    stream = (
        spark.readStream
        .schema("event_id long, ts timestamp, event_type string, "
                "value long, op int")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(cdc_dir, "b*"))
    )
    maintain_changelog_view(
        stream, state, os.path.join(root, "ckpt"),
        apply_fn=lambda df, bid, sd: apply_daily_counts_delta(df, bid, sd),
        retract_fn=lambda df, bid, sd: retract_daily_counts_delta(df, bid, sd),
    )
    return read_daily_counts_retractable_segments(spark, state).select(
        "day", "event_type", "n", F.col("sum_value").alias("value_units")
    )


O_EVENTS_DAILY_RETRACT = """
SELECT CAST(ts AS DATE) AS day,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_units
FROM events
WHERE event_id % 10 <> 3
GROUP BY 1, 2
"""


def q_running_key_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (streaming/stateful.py:
    running_key_stats, applyInPandasWithState) driven as a REAL stream
    under the driver's value hash, in its r14 DEFAULT posture — BUCKETED
    state (r13 verdict #5: 27.8× over per-key puts at 1M keys,
    SCALING_r14) — so the certified-default path is oracle-checked, not
    just pytest-pinned. Three single-file micro-batches split by
    event_id % 3; update-mode emissions = for each (batch b, user
    touched in b) the CUMULATIVE stats over batches ≤ b, which is plain
    SQL (touched-key × prefix-aggregate join), so the oracle replays
    every emission exactly. Values are pre-quantized to 1e-2 integer
    units so each cumulative sum is integer-exact in double
    (order-independent — the same fixed-point discipline as
    events_daily_retract)."""
    import os
    import uuid

    from ..streaming.stateful import running_key_stats
    from .ext import _session_state_dir

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("v"),
    )
    root = _session_state_dir(spark, sf_dir, "skylogix_rks")
    src = os.path.join(root, "stream")
    for b in range(3):
        (ev.filter(F.col("event_id") % 3 == b).coalesce(1)
         .write.mode("overwrite").parquet(os.path.join(src, f"b{b}")))
    stream = (
        spark.readStream.schema("event_id long, user_id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "b*"))
    )
    name = f"rks_{uuid.uuid4().hex[:8]}"
    q = (
        running_key_stats(stream, "user_id", "v")
        .writeStream.format("memory").queryName(name)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True).start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("running_key_stats stream did not finish in 300s")
    return spark.table(name).select(
        "key",
        "n",
        F.col("total").cast("long").alias("total_units"),
        F.col("vmin").cast("long").alias("vmin_units"),
        F.col("vmax").cast("long").alias("vmax_units"),
        F.round("mean", 6).alias("mean_units"),
    )


O_RUNNING_KEY_STATS_STREAM = """
WITH e AS (
  SELECT user_id, CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v,
         event_id % 3 AS b
  FROM events
),
tk AS (SELECT DISTINCT user_id, b FROM e),
agg AS (
  SELECT tk.user_id, tk.b,
         COUNT(e2.v) AS n,
         COALESCE(SUM(e2.v), 0) AS total,
         MIN(e2.v) AS vmin, MAX(e2.v) AS vmax
  FROM tk JOIN e e2 ON e2.user_id = tk.user_id AND e2.b <= tk.b
  GROUP BY tk.user_id, tk.b
)
SELECT CAST(user_id AS VARCHAR) AS key,
       CAST(n AS BIGINT) AS n,
       CAST(total AS BIGINT) AS total_units,
       CAST(vmin AS BIGINT) AS vmin_units,
       CAST(vmax AS BIGINT) AS vmax_units,
       CASE WHEN n > 0 THEN ROUND(CAST(total AS DOUBLE) / n, 6) END
         AS mean_units
FROM agg
"""


QUERIES = {
    "stream_running_key_stats": q_running_key_stats_stream,
    "events_funnel": q_funnel,
    "events_props_stats": q_props_stats,
    "events_gap_fill": q_gap_fill,
    "events_retention": q_retention,
    "events_top_transitions": q_top_transitions,
    "events_props_variant": q_props_variant,
    "stream_tumbling_daily": q_tumbling_daily,
    "stream_asof_last_purchase": q_asof_last_purchase,
    "stream_range_join_windows": q_range_join_windows,
    "stream_hopping_distinct": q_hopping_distinct,
    "stream_sliding_6h": q_sliding_6h,
    "stream_sessionize": q_sessionize,
    "stream_dedup_keyed": q_dedup_within_watermark,
    "stream_window_topk": q_window_topk,
    "stream_window_percentiles": q_window_percentiles,
    "events_cumulative_users": q_cumulative_users,
    "events_anomaly_mad": q_anomaly_mad,
    "events_ab_test": q_ab_test,
    "events_daily_retract": q_events_daily_retract,
    "events_daily_changelog": q_events_daily_changelog,
}

ORACLES = {
    "stream_running_key_stats": O_RUNNING_KEY_STATS_STREAM,
    "events_funnel": O_FUNNEL,
    "events_ab_test": O_AB_TEST,
    "events_props_stats": O_PROPS_STATS,
    "events_gap_fill": O_GAP_FILL,
    "events_retention": O_RETENTION,
    "events_top_transitions": O_TOP_TRANSITIONS,
    "events_props_variant": O_PROPS_VARIANT,
    "stream_tumbling_daily": O_TUMBLING_DAILY,
    "stream_asof_last_purchase": O_ASOF_LAST_PURCHASE,
    "stream_range_join_windows": O_RANGE_JOIN_WINDOWS,
    "stream_hopping_distinct": O_HOPPING_DISTINCT,
    "stream_sliding_6h": O_SLIDING_6H,
    "stream_sessionize": O_SESSIONIZE,
    "stream_dedup_keyed": O_DEDUP_WITHIN_WATERMARK,
    "stream_window_topk": O_WINDOW_TOPK,
    "stream_window_percentiles": O_WINDOW_PERCENTILES,
    "events_cumulative_users": O_CUMULATIVE_USERS,
    "events_anomaly_mad": O_ANOMALY_MAD,
    "events_daily_retract": O_EVENTS_DAILY_RETRACT,
    "events_daily_changelog": O_EVENTS_DAILY_RETRACT,
}
