"""Order-independent (bit-stable) numeric aggregates.

``ROUND(SUM(double), k)`` is a hash-compare hazard: IEEE-754 addition is
not associative, Spark's partial-aggregation fold order varies run to run
with partitioning and thread scheduling, and DuckDB folds in yet another
order — so an aggregate whose exact value sits within the float-fold
wobble of a rounding boundary (half-cent for money, 5e-7 for 6-dp means)
flips its last rounded digit nondeterministically. Two such flips were
observed locally this round (``weather_temperature_trends``,
``rel_product_profit``) and the per-cell probability scales with both the
magnitude of the sum and the number of output cells.

The fix is the one TPC-H itself mandates: aggregate money (and any value
feeding a rounded output) as DECIMAL, which is exact and therefore
order-independent. Per-row *scalar* double arithmetic is bit-identical
across engines (same expression tree, same IEEE semantics); only the
variable-order FOLD is hazardous. So: compute the per-row value in double,
cast once to a decimal wide enough to preserve it past the output rounding
digit, sum exactly, cast back.

Every helper here has an SQL twin (``sql_*``) for the DuckDB oracles —
both sides must fold in decimal or the engines diverge again. The cast
itself is deterministic and engine-agreeing: a double exactly on a decimal
half-ulp tie is (measure-zero, and for .5-at-scale-2 impossible since
binary fractions can't end in decimal ...5) not a practical concern, and
both engines round casts half-away-from-zero.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: scale for computed expressions: 10 fractional digits keeps ~8 guard
#: digits past the 2-dp money rounding, and DECIMAL(24,10) leaves 14
#: integral digits — 1e14, comfortably above any 100 TB-scale money sum.
_XDEC = "decimal(24,10)"
#: scale for raw 2-dp money columns (prices, balances): the cast to cents
#: is exact on the stored values, and 16 integral digits of headroom.
_MDEC = "decimal(18,2)"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dsum(c: Column | str) -> Column:
    """Exact sum of a raw 2-decimal money column (order-independent)."""
    return F.sum(_col(c).cast(_MDEC)).cast("double")


def dsumx(c: Column | str) -> Column:
    """Exact sum of a computed double expression (order-independent).

    The per-row double is cast to DECIMAL(24,10) — identical in Spark and
    DuckDB because the input doubles are bit-identical — then summed
    exactly.
    """
    return F.sum(_col(c).cast(_XDEC)).cast("double")


def dmean(c: Column | str) -> Column:
    """Order-independent mean: exact decimal sum / non-null count.

    Identical null semantics to AVG (sum skips nulls, count counts
    non-nulls; all-null group → NULL).
    """
    c = _col(c)
    return F.sum(c.cast(_XDEC)).cast("double") / F.count(c)


#: split point for the two-long fixed-point sum (fsum): u = q*1e6 + r.
_SPLIT = 1_000_000


def fsum(c: Column | str, scale: int = 4) -> Column:
    """Fast sum in fixed-point long units, split across two long sums.

    EXACTNESS PRECONDITION: the sum is exact (equal to the true decimal
    sum) only when every input is decimal-valued with at most ``scale``
    fractional digits — money at scale 4, sensor readings at scale 6.
    For inputs with unbounded fractional digits (log-probabilities,
    tf·idf weights, regression residuals) the per-row
    ``round(c * 10^scale)`` QUANTIZES at 0.5/10^scale, so the result is
    a *deterministic quantized sum*: order-independent, bit-identical to
    the ``sql_fsum`` twin (both engines quantize identically — parity
    holds), but drifting from the true sum by up to n·5e-7 at scale 6
    over n rows. When absolute accuracy of such expressions matters more
    than speed, use ``dsumx`` (DECIMAL(24,10) fold, no quantization of
    values up to 10 fractional digits).

    ``DECIMAL(24,10)`` folds are exact but slow: the sum buffer is
    ``DECIMAL(34,10)`` and any buffer wider than 18 digits is stored as a
    byte-array BigDecimal in the aggregation hash map, so every row pays an
    (de)serialization (measured here: +73% on a lineitem groupBy-sum vs
    +28% for this form). This helper keeps the entire hot path in
    whole-stage-codegen long arithmetic:

        u = round(c * 10^scale)  as long     (exact fixed-point units)
        r = u % 1e6 ; q = (u - r) / 1e6      (exact split, both engines
                                              truncate % toward zero; the
                                              subtraction makes the division
                                              exact so floor==trunc)
        sum = (SUM(q)*1e6 + SUM(r)) / 10^scale   (combine on the aggregated
                                                  scalars only, in decimal)

    Overflow headroom (the documented 100 TB argument):
      - per-row: |c|*10^scale must stay below 2^53 so the double round and
        long cast are exact — money exprs (<1.2e5) at scale 4 → u ≤ 1.2e9;
        bounded metrics (<1e4) at scale 6 → u ≤ 1e10. Both have >5 orders
        of magnitude to spare.
      - per-group: |SUM(r)| < n_g * 1e6 overflows long only past n_g ≈
        9.2e12 rows per group (a 100 TB lineitem is ~6e11 rows, 15×
        headroom); |SUM(q)| < Σ|c| * 10^(scale-6) → money at scale 4 caps
        at Σ|c| < 9.2e20 (a 100 TB total money sum is ~2e16, 40,000×
        headroom). Past 9e12 rows per group, move the split to 1e5.

    Like dsumx the result is order-independent (integer adds are
    associative), so rounded outputs are bit-stable across partitionings
    and agree with the DuckDB twin ``sql_fsum``.

    String names take the one-call F.expr path (see fsum1): the same
    tree, parsed from one SQL string instead of built op by op.
    """
    if isinstance(c, str):
        units = _spark_fsum_units(_qid(c), scale)
        return F.expr(f"(CAST({units} AS DOUBLE) / {10**scale})")
    c = _col(c)
    u = F.round(c * F.lit(float(10**scale))).cast("long")
    r = u % _SPLIT
    q = ((u - r) / _SPLIT).cast("long")
    return (
        (F.sum(q).cast("decimal(38,0)") * _SPLIT + F.sum(r).cast("decimal(38,0)"))
        .cast("double") / (10**scale)
    )


def _units_long(c: Column, scale: int) -> Column:
    """Per-row fixed-point unit extraction for EXACT-SCALE inputs:
    ``floor(c·10^scale + 0.5)`` instead of ``round(c·10^scale).cast(long)``.

    Spark's ``Round`` on DoubleType allocates a BigDecimal per row
    (RoundBase codegen: ``BigDecimal.valueOf(x).setScale(0, HALF_UP)``);
    ``floor`` is a bare ``Math.floor`` + long conversion inside codegen —
    measured ~25% off a 100k-row single-column fold, and it is the whole
    fold-cost gap of the weather display-mean family vs plain AVG.

    Value-safety argument: under the fsum1-family precondition (input
    decimal-valued at <= ``scale`` digits), ``c·10^scale`` computed in
    IEEE double lands within ~1 ulp of the true INTEGER d — never near a
    .5 tie — so floor(x+0.5), ROUND half-up and half-away all recover
    exactly d, for either sign (x = d±ε → x+0.5 ∈ (d, d+1) → floor = d).
    The tie rule only differs on exact .5, which the precondition
    excludes; the QUANTIZING folds (fsum/fsum_units on unbounded-fraction
    inputs), where x can land on .5, keep ROUND so Spark and the
    ``sql_*`` DuckDB twins (ROUND = half-away on both) stay bit-identical.
    """
    return F.floor(c * F.lit(float(10**scale)) + F.lit(0.5))


def _spark_units(col_sql: str, scale: int) -> str:
    """Spark-SQL text of _units_long — same ops, same values (the CAST
    keeps the 10^scale literal a double like F.lit(float(p)); a bare
    ``100.0`` would parse as DECIMAL(4,1))."""
    return f"FLOOR(({col_sql}) * CAST({10**scale} AS DOUBLE) + 0.5D)"


def _spark_divha(num: str, den: str) -> str:
    """Spark-SQL half-away integer division on longs (den > 0) via the
    ``div`` integral operator — both branch operands are non-negative so
    trunc == floor and the result matches the DuckDB ``//`` twin
    (sql_fmean1_round) bit for bit. Pure long arithmetic: the
    decimal(38,0) detour the Column builder (_sdivha_long) uses for
    arbitrary Column inputs is unnecessary here because ``div`` is exact
    on the full long range; 2·|num| halves the documented headroom, which
    the fmean1_round bound (~10^10 rows/group) already accounts for."""
    return (f"(CASE WHEN {num} >= 0 THEN ((2*{num} + {den}) div (2*{den})) "
            f"ELSE -((2*(-{num}) + {den}) div (2*{den})) END)")


def _qid(name: str) -> str:
    return f"`{name}`"


def _spark_fsum_units(col_sql: str, scale: int) -> str:
    """Spark-SQL text of fsum_units — the same ROUND, split and
    decimal(38,0) combine as the Column builder, op for op."""
    u = f"CAST(ROUND({col_sql} * CAST({10**scale} AS DOUBLE)) AS BIGINT)"
    r = f"({u} % {_SPLIT})"
    q = f"CAST(({u} - {r}) / {_SPLIT} AS BIGINT)"
    return (f"(CAST(SUM({q}) AS DECIMAL(38,0)) * {_SPLIT}"
            f" + CAST(SUM({r}) AS DECIMAL(38,0)))")


def _spark_num_den(su: str, n: str, k: int, scale: int) -> tuple[str, str]:
    """Spark-SQL (numerator, denominator) of the mean su / (n·10^scale)
    on the 10^-k display grid, for the half-away integer divisions."""
    if k >= scale:
        return f"({su} * {10 ** (k - scale)})", f"({n})"
    return f"({su})", f"({n} * {10 ** (scale - k)})"


def _spark_sdivha(num: str, den: str) -> str:
    """Spark-SQL text of _sdivha_long — the sign folded out first and the
    exact division in decimal(38,0), so the full long range stays exact."""
    m = f"(2 * ABS({num}) + {den})"
    d2 = f"(2 * {den})"
    return (f"((CASE WHEN {num} < 0 THEN -1 ELSE 1 END) * CAST("
            f"CAST({m} - PMOD({m}, {d2}) AS DECIMAL(38,0))"
            f" / CAST({d2} AS DECIMAL(38,0)) AS BIGINT))")


def fsum1(c: Column | str, scale: int = 2) -> Column:
    """Single-long-sum fsum for BOUNDED low-scale inputs — the cheapest
    exact fold: one floor per row (see _units_long), one long sum, one
    double combine on the aggregated scalar.

    Preconditions (stricter than fsum): inputs decimal-valued at <=
    ``scale`` digits AND per-group Σ|c|·10^scale < 9.2e18. For a bounded
    metric |c| <= 1e4 at scale 2 that is ~9.2e12 rows/group — the same
    100 TB bound fsum documents. Use fsum when the input's magnitude or
    the group's row count can push the single accumulator past long
    range (money totals at scale 4 over petabyte groups).

    String-named columns take the ONE-CALL F.expr path: the Column
    builder issues ~10 py4j round-trips per helper and the bench showed
    driver-side plan construction, not execution, dominating the
    display-mean family at sf0.1 (~0.4 s of a ~0.5 s count) — a single
    parsed SQL string is the same tree for a fraction of the chatter."""
    if isinstance(c, str):
        u = _spark_units(_qid(c), scale)
        return F.expr(f"(CAST(SUM({u}) AS DOUBLE) / {10**scale})")
    return F.sum(_units_long(_col(c), scale)).cast("double") / (10**scale)


def fmean1(c: Column | str, scale: int = 2) -> Column:
    """Order-independent mean on the single-long-sum path (AVG null
    semantics; fsum1's preconditions). String names take the one-call
    F.expr path (see fsum1) with the identical (sum/10^s)/count
    double-division order."""
    if isinstance(c, str):
        u = _spark_units(_qid(c), scale)
        return F.expr(
            f"((CAST(SUM({u}) AS DOUBLE) / {10**scale}) / COUNT({_qid(c)}))"
        )
    c = _col(c)
    return fsum1(c, scale) / F.count(c)


def fwsum(c: Column | str, w, scale: int = 2) -> Column:
    """fsum over a WINDOW frame: the same fixed-point split, but both long
    sums run ``.over(w)`` — one Window exec computes the two frames
    together, so the running/rolling fold stays on the codegen long path
    instead of a byte-array BigDecimal buffer (a DECIMAL(18,2) window sum
    widens its buffer past 18 digits and pays per-row serialization,
    measured like fsum's +73%).

    Same exactness precondition as fsum (inputs decimal-valued at <=
    ``scale`` digits — default 2 for money columns) and the same
    order-independence: window frames are ordered deterministically by
    construction, but exact integer folds also make the result immune to
    DuckDB's segment-tree evaluation computing the same frame in a
    different association order. Overflow headroom is per-FRAME rather
    than per-group; the fsum bound (~9.2e12 rows) applies to the largest
    frame. Unit extraction takes the floor fast path (_units_long) —
    valid because fwsum's precondition, unlike fsum's quantizing mode,
    REQUIRES decimal-valued inputs."""
    c = _col(c)
    u = _units_long(c, scale)
    r = u % _SPLIT
    q = ((u - r) / _SPLIT).cast("long")
    return (
        (
            F.sum(q).over(w).cast("decimal(38,0)") * _SPLIT
            + F.sum(r).over(w).cast("decimal(38,0)")
        ).cast("double")
        / (10**scale)
    )


def fmean(c: Column | str, scale: int = 6) -> Column:
    """Order-independent mean on the fsum fast path (AVG null semantics).

    Scale 6 quantizes each row at 5e-7 — at or below the 6-dp output
    rounding everything downstream uses — while keeping per-group headroom
    to ~9e12 rows (see fsum). String names take the one-call F.expr
    path with the identical (sum/10^s)/count division order.
    """
    if isinstance(c, str):
        q = _qid(c)
        units = _spark_fsum_units(q, scale)
        return F.expr(f"((CAST({units} AS DOUBLE) / {10**scale}) / COUNT({q}))")
    c = _col(c)
    return fsum(c, scale) / F.count(c)


# --- DuckDB oracle twins --------------------------------------------------

def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"


def sql_dsumx(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(24,10))) AS DOUBLE)"


def sql_dmean(expr: str) -> str:
    return (
        f"(CAST(SUM(CAST({expr} AS DECIMAL(24,10))) AS DOUBLE)"
        f" / COUNT({expr}))"
    )


def sql_fsum(expr: str, scale: int = 4) -> str:
    """DuckDB twin of fsum: same fixed-point units, same two-long split.

    DuckDB's ``%`` on integers truncates toward zero like Spark's, and the
    ``(u - r) / 1e6`` division is exact by construction, so both engines
    accumulate identical integers; SUM(BIGINT) is exact (hugeint
    accumulator) and the final combine happens on aggregated scalars.
    """
    p = 10**scale
    u = f"CAST(ROUND(({expr}) * {p}) AS BIGINT)"
    r = f"({u} % {_SPLIT})"
    q = f"CAST(({u} - {r}) / {_SPLIT} AS BIGINT)"
    return (
        f"(CAST(CAST(SUM({q}) AS DECIMAL(38,0)) * {_SPLIT}"
        f" + CAST(SUM({r}) AS DECIMAL(38,0)) AS DOUBLE) / {p})"
    )


def sql_fmean(expr: str, scale: int = 6) -> str:
    return f"({sql_fsum(expr, scale)} / COUNT({expr}))"


def fsum_units(c: Column | str, scale: int = 6) -> Column:
    """fsum's exact fixed-point sum WITHOUT the final double division:
    returns the integer 10^-scale-unit total as decimal(38,0). Use this
    whenever the quantized sum feeds further EXACT integer arithmetic
    (half-away mean division, integer threshold compares) — routing the
    units through fsum's double quotient and multiplying back truncates
    off-by-one at the long cast (found live: bigram means at sf0.01)."""
    c = _col(c)
    u = F.round(c * F.lit(float(10**scale))).cast("long")
    r = u % _SPLIT
    q = ((u - r) / _SPLIT).cast("long")
    return F.sum(q).cast("decimal(38,0)") * _SPLIT + F.sum(r).cast("decimal(38,0)")


def _sdivha_long(num: Column, den: Column) -> Column:
    """Signed half-away integer division on longs (den > 0), float-free:
    pmod makes the numerator an exact multiple, the division runs in
    decimal(38,0) so exactness holds across the full long range. The
    sign folds out FIRST (|num| once, multiply the quotient back) so the
    expensive division subtree appears once instead of once per sign
    branch — measured ~half the per-group cost on 4k-group displays."""
    sgn = F.when(num < 0, F.lit(-1)).otherwise(F.lit(1))
    a = F.abs(num)
    m = F.lit(2) * a + den
    d2 = F.lit(2) * den
    exact = (m - F.pmod(m, d2)).cast("decimal(38,0)")
    return sgn * (exact / d2.cast("decimal(38,0)")).cast("long")


def fmean1_round(c: Column | str, scale: int, k: int) -> Column:
    """round(mean, k) computed EXACTLY in integer units with half-away
    rounding — the display form of fmean1. The double-quotient route
    (ROUND(sum_double / count, k)) parks routinely on .5 display
    boundaries where Spark's shortest-repr HALF_UP and DuckDB's binary
    multiply-round can disagree (the sf0.1 bigram lesson); here the mean
    never leaves the integer grid until the final exact /10^k.

    Overflow headroom: the numerator is su·10^(k−s) (k ≥ s) — for
    weather-scale values at k−s ≤ 4 that is exact past ~10^10 rows per
    group; for larger groups drop to the su-reducing k < s branch or a
    wider display grid. NULL when the group has no non-null values
    (AVG semantics).

    String names take the one-call F.expr path: the whole aggregate —
    floor units, long sum, half-away ``div`` division, display scale —
    parses in a single py4j call instead of the ~30 Column round-trips
    of the tree builder, and the ``div`` form also gives the optimizer a
    pure-long tree (no decimal(38,0) coercion rules to fire). Values are
    bit-identical to the Column path and to sql_fmean1_round."""
    if isinstance(c, str):
        q = _qid(c)
        n = f"COUNT({q})"
        num, den = _spark_num_den(f"SUM({_spark_units(q, scale)})", n, k, scale)
        divha = _spark_divha(num, den)
        return F.expr(
            f"(CASE WHEN {n} > 0 THEN {divha} / CAST({10**k} AS DOUBLE) END)"
        )
    c = _col(c)
    su = F.sum(_units_long(c, scale))
    n = F.count(c)
    if k >= scale:
        num, den = su * F.lit(10 ** (k - scale)), n
    else:
        num, den = su, n * F.lit(10 ** (scale - k))
    return F.when(n > 0, _sdivha_long(num, den) / F.lit(float(10**k)))


def sql_fmean1_round(expr: str, scale: int, k: int) -> str:
    """DuckDB twin of fmean1_round — identical integer grid, BIGINT //."""
    p = 10**scale
    su = f"SUM(CAST(ROUND(({expr}) * {p}) AS BIGINT))"
    n = f"COUNT({expr})"
    if k >= scale:
        num, den = f"({su} * {10 ** (k - scale)})", f"({n})"
    else:
        num, den = f"({su})", f"({n} * {10 ** (scale - k)})"
    divha = (f"(CASE WHEN {num} >= 0 THEN ((2*{num} + {den}) // (2*{den})) "
             f"ELSE -((-2*{num} + {den}) // (2*{den})) END)")
    return f"(CASE WHEN {n} > 0 THEN {divha} / {float(10**k)} END)"


def fmean_round(c: Column | str, k: int, scale: int = 6) -> Column:
    """Display form of the split-long fmean: exact integer-unit mean with
    half-away rounding at digit ``k``. The unit total comes from
    fsum_units (decimal-exact at any corpus size) and is cast to long for
    the division — exact while |Σc|·10^scale < 9.2e18 (the documented
    fsum per-group bound).

    String names take the one-call F.expr path. Unlike fmean1_round's,
    it keeps the Column path's decimal(38,0) half-away division
    (_spark_sdivha), so the overflow bound is the same on both paths."""
    if isinstance(c, str):
        q = _qid(c)
        n = f"COUNT({q})"
        num, den = _spark_num_den(
            f"CAST({_spark_fsum_units(q, scale)} AS BIGINT)", n, k, scale)
        return F.expr(f"(CASE WHEN {n} > 0 THEN {_spark_sdivha(num, den)}"
                      f" / CAST({10**k} AS DOUBLE) END)")
    su = fsum_units(c, scale).cast("long")
    n = F.count(_col(c))
    if k >= scale:
        num, den = su * F.lit(10 ** (k - scale)), n
    else:
        num, den = su, n * F.lit(10 ** (scale - k))
    return F.when(n > 0, _sdivha_long(num, den) / F.lit(float(10**k)))


def sql_fmean_round(expr: str, k: int, scale: int = 6) -> str:
    su = f"CAST({sql_fsum_units(expr, scale)} AS BIGINT)"
    n = f"COUNT({expr})"
    if k >= scale:
        num, den = f"({su} * {10 ** (k - scale)})", f"({n})"
    else:
        num, den = f"({su})", f"({n} * {10 ** (scale - k)})"
    divha = (f"(CASE WHEN {num} >= 0 THEN ((2*{num} + {den}) // (2*{den})) "
             f"ELSE -((-2*{num} + {den}) // (2*{den})) END)")
    return f"(CASE WHEN {n} > 0 THEN {divha} / {float(10**k)} END)"


def sql_fsum_units(expr: str, scale: int = 6) -> str:
    """DuckDB twin of fsum_units: the exact integer unit total (HUGEINT
    via the decimal casts), no double anywhere."""
    p = 10**scale
    u = f"CAST(ROUND(({expr}) * {p}) AS BIGINT)"
    r = f"({u} % {_SPLIT})"
    q = f"CAST(({u} - {r}) / {_SPLIT} AS BIGINT)"
    return (
        f"(CAST(SUM({q}) AS DECIMAL(38,0)) * {_SPLIT}"
        f" + CAST(SUM({r}) AS DECIMAL(38,0)))"
    )


def sql_fsum1(expr: str, scale: int = 2) -> str:
    """DuckDB twin of fsum1 (SUM(BIGINT) is exact — hugeint accumulator)."""
    p = 10**scale
    return f"(CAST(SUM(CAST(ROUND(({expr}) * {p}) AS BIGINT)) AS DOUBLE) / {p})"


def sql_fmean1(expr: str, scale: int = 2) -> str:
    return f"({sql_fsum1(expr, scale)} / COUNT({expr}))"


def sql_fwsum(expr: str, over: str, scale: int = 2) -> str:
    """DuckDB twin of fwsum: both long sums over the same window frame.
    ``over`` is the window spec body (without the OVER keyword)."""
    p = 10**scale
    u = f"CAST(ROUND(({expr}) * {p}) AS BIGINT)"
    r = f"({u} % {_SPLIT})"
    q = f"CAST(({u} - {r}) / {_SPLIT} AS BIGINT)"
    return (
        f"(CAST(CAST(SUM({q}) OVER ({over}) AS DECIMAL(38,0)) * {_SPLIT}"
        f" + CAST(SUM({r}) OVER ({over}) AS DECIMAL(38,0)) AS DOUBLE) / {p})"
    )
