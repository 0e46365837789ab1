"""Silver-layer operators: flatten, clean, derive (SURVEY.md §2.3, P1-P13).

Each operator is a pure ``DataFrame -> DataFrame`` function, so an
uncleaned silver stage is one lazy plan: Catalyst fuses
scan→filter→project→project into a single whole-stage-codegen'd pass.
Outlier cleaning is the exception. Its bounds and fill medians are data
statistics, so :func:`silver_pipeline` runs two eager stat jobs (IQR
bounds, then the masked median) before the frame it returns is consumed.
It marks the flattened frame for a lazy local checkpoint, so the raw
documents are parsed once per run: the IQR job fills the checkpoint,
and the median job and the caller's action read its blocks. The
reference materializes every phase eagerly in pandas (reference
src/transform.py:207-244).

Works identically on batch and streaming DataFrames except where noted
(two-pass quantile cleaning needs batch-computed bounds; SURVEY §7.4.2).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import day_name, epoch_to_timestamp, parse_iso_timestamp
from ..schemas import CATEGORICAL_FILL_COLUMNS, NUMERIC_MEASURE_COLUMNS


def filter_required_keys(raw: DataFrame) -> DataFrame:
    """P1: drop documents missing any required key (reference src/transform.py:95-97).

    A null-safe filter the optimizer pushes into the JSON/parquet scan.
    """
    return raw.filter(
        F.col("main").isNotNull()
        & F.col("wind").isNotNull()
        & F.col("weather").isNotNull()
        & (F.size("weather") > 0)
        & F.col("city_name").isNotNull()
        & F.col("country_code").isNotNull()
    )


def flatten_raw(raw: DataFrame) -> DataFrame:
    """P2+P3: nested document → 13 flat columns (reference src/transform.py:80-150).

    One ``select`` — nested-schema pruning means only the consumed struct
    members are read from the scan. The timestamp coalesces epoch ``dt``
    with the ISO ``extraction_timestamp`` (P3, reference src/transform.py:104-107).
    """
    return raw.select(
        F.col("city_name").alias("city"),
        F.col("country_code").alias("country"),
        F.coalesce(
            epoch_to_timestamp("dt"),
            parse_iso_timestamp("extraction_timestamp"),
        ).alias("timestamp"),
        F.col("main.temp").alias("temperature"),
        F.col("main.feels_like").alias("feels_like"),
        F.col("main.temp_min").alias("temp_min"),
        F.col("main.temp_max").alias("temp_max"),
        F.col("main.pressure").alias("pressure"),
        F.col("main.humidity").alias("humidity"),
        F.col("wind.speed").alias("wind_speed"),
        F.col("wind.deg").alias("wind_direction"),
        F.col("weather")[0]["main"].alias("weather_condition"),
        F.col("weather")[0]["description"].alias("weather_description"),
    )


def _masked(c: str, lo: float, hi: float) -> Column:
    """Column ``c`` with values outside [lo, hi] as NULL (the reference's
    masking step, src/transform.py:185)."""
    return F.when((F.col(c) < lo) | (F.col(c) > hi), F.lit(None)).otherwise(F.col(c))


def iqr_bounds(
    df: DataFrame, columns: Sequence[str], lower_q: float = 0.05, upper_q: float = 0.95, k: float = 1.5
) -> dict[str, tuple[float, float]]:
    """Pass 1 of outlier cleaning: per-column [q_lo - k*IQR, q_hi + k*IQR]
    (reference src/transform.py:173-178; IQR there = q95 - q05).

    One job computes every column's quantile pair; the driver collects
    O(columns) doubles — constant size regardless of data scale. Uses exact
    ``percentile`` (linear interpolation) to match the pandas/DuckDB
    ``quantile``/``quantile_cont`` semantics (SURVEY §7.4.1a); swap to
    ``percentile_approx`` for genuinely huge inputs.
    """
    row = df.agg(
        *[F.expr(f"percentile({c}, array({lower_q}, {upper_q}))").alias(c) for c in columns]
    ).first()
    out = {}
    for c in columns:
        v = row[c]
        if v is not None and v[0] is not None:
            iqr = float(v[1]) - float(v[0])
            out[c] = (float(v[0]) - k * iqr, float(v[1]) + k * iqr)
    return out


def outlier_stats(
    df: DataFrame, columns: Sequence[str], lower_q: float = 0.05,
    upper_q: float = 0.95, k: float = 1.5,
) -> tuple[dict[str, tuple[float, float]], dict[str, float]]:
    """Both stat passes of outlier cleaning: ``(bounds, medians)``.

    Job 1 is :func:`iqr_bounds`. Job 2 takes the median of each bounded
    column AFTER masking it to its bounds (the reference fills with the
    post-nulling median — SURVEY §7.4.1e); the mask sits inside the
    aggregate, so no masked frame is built. A column whose masked values
    are all NULL has no median. Each job collects O(columns) doubles.
    """
    bounds = iqr_bounds(df, columns, lower_q, upper_q, k)
    if not bounds:
        return bounds, {}
    med_row = df.agg(
        *[F.percentile(_masked(c, lo, hi), 0.5).alias(c) for c, (lo, hi) in bounds.items()]
    ).first()
    return bounds, {c: float(med_row[c]) for c in bounds if med_row[c] is not None}


def clean_outliers_with_bounds(
    df: DataFrame,
    bounds: Mapping[str, tuple[float, float]],
    medians: Mapping[str, float] | None = None,
) -> DataFrame:
    """Apply precomputed outlier stats as pure row-level expressions in
    one projection: NULL values outside ``bounds``, then fill NULLs with
    ``medians``. Streaming-safe (fully incremental) when the stats were
    computed in batch over bronze history, or come from a
    slowly-refreshed broadcast."""
    columns = df.columns
    exprs = {c: _masked(c, lo, hi) for c, (lo, hi) in bounds.items() if c in columns}
    for c, m in (medians or {}).items():
        if c in columns:
            exprs[c] = F.coalesce(exprs.get(c, F.col(c)), F.lit(float(m)))
    return df.withColumns(exprs)


def clean_outliers(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    lower_q: float = 0.05,
    upper_q: float = 0.95,
    k: float = 1.5,
    fill_with_median: bool = True,
) -> DataFrame:
    """P7+P8+A9: two-pass IQR outlier cleaning + median fill
    (reference src/transform.py:165-188).

    :func:`outlier_stats` computes the per-column bounds and the median
    of each masked column in two tiny driver-collected aggregates (one
    without ``fill_with_median``); the data itself is then touched by
    exactly one extra projected pass that masks and fills.
    """
    columns = [c for c in (columns or NUMERIC_MEASURE_COLUMNS) if c in df.columns]
    if not columns:
        return df
    if fill_with_median:
        bounds, medians = outlier_stats(df, columns, lower_q, upper_q, k)
    else:
        bounds, medians = iqr_bounds(df, columns, lower_q, upper_q, k), None
    if not bounds:
        return df
    return clean_outliers_with_bounds(df, bounds, medians)


def fill_categoricals(df: DataFrame, columns: Sequence[str] | None = None, value: str = "Unknown") -> DataFrame:
    """P9: null-fill categorical columns (reference src/transform.py:194-195)."""
    columns = [c for c in (columns or CATEGORICAL_FILL_COLUMNS) if c in df.columns]
    return df.fillna(value, subset=columns) if columns else df


def derive_temporal(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """P10+P11: derived columns date/hour/day_of_week/temp_range
    (reference src/transform.py:198-203)."""
    out = df.withColumns(
        {
            "date": F.to_date(F.col(ts_col)),
            "hour": F.hour(F.col(ts_col)),
            "day_of_week": day_name(ts_col),
        }
    )
    if "temp_max" in df.columns and "temp_min" in df.columns:
        out = out.withColumn("temp_range", F.col("temp_max") - F.col("temp_min"))
    return out


def silver_pipeline(raw: DataFrame, clean: bool = True) -> DataFrame:
    """Full bronze→silver transform (reference transform phase,
    src/transform.py:207-244): required-key filter → flatten → IQR clean →
    categorical fill → temporal derivations, in the reference's order.

    With ``clean``, the flattened frame is marked for a lazy local
    checkpoint before the two stat jobs. The IQR job parses the raw
    documents and fills the checkpoint in the same job, so no job is
    added; the masked-median job and the caller's action (the sink
    write) read the checkpoint blocks instead of parsing the raw files
    twice more. The trade-offs: the returned frame's lineage stops at
    the checkpoint, and the blocks live on the executors that computed
    them, so a lost executor fails the read instead of recomputing it.
    A local checkpoint is a fresh RDD on every call, released by the
    ContextCleaner when the frame is garbage-collected. A CacheManager
    persist (``cache.owned_persist``) would instead be matched by plan,
    so a second run over the same raw directory in one session would
    read the first run's rows (see the ``cache`` module docstring)."""
    df = flatten_raw(filter_required_keys(raw))
    if clean:
        df = clean_outliers(df.localCheckpoint(eager=False))
    return derive_temporal(fill_categoricals(df))


def observe_quality(df: DataFrame, name: str = "silver_quality",
                    columns: Sequence[str] | None = None):
    """Attach free data-quality metrics to a transform via ``df.observe``:
    row count plus per-column null counts, collected as a side effect of
    whatever action consumes the frame — NO second scan, no separate
    quality job (at 100 TB a dedicated quality pass costs as much as the
    pipeline itself).

    Returns ``(df, observation)``; read ``observation.get`` after an
    action. Batch counterpart of the streaming listener's per-batch
    metrics — together they cover both execution modes with the same
    names (``n_rows``, ``null_<col>``).
    """
    from pyspark.sql import Observation

    columns = [c for c in (columns or NUMERIC_MEASURE_COLUMNS) if c in df.columns]
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    metrics += [
        F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}") for c in columns
    ]
    return df.observe(obs, *metrics), obs
