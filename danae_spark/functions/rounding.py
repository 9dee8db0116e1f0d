"""Engine-stable decimal rounding.

`round(x, 2)` is NOT portable across engines on this data: money-style
columns have ≤4 decimal digits, so aggregate sums land EXACTLY on
half-cent ties (…595), where Spark (decimal HALF_UP) and DuckDB (binary
double rounding) disagree — e.g. 307843.595 → 307843.6 vs 307843.59.

Canonical rounding used by every query AND its oracle instead:

    rnd(x, d) = floor(x·10^d + 0.5 + 1e-4) / 10^d

- floor over doubles is exact and identical everywhere;
- the 1e-4 epsilon (in the scaled-integer domain) absorbs the ±1e-6-ish
  fp noise from engine-specific summation order, so exact decimal ties
  round UP consistently;
- non-tie values of ≤4-decimal data sit ≥0.01 (scaled) from the
  boundary, far beyond epsilon, so ordinary rounding is unchanged.

Both sides must use the same formula — `rnd` for DataFrames, `rnd_sql`
for the DuckDB oracle text.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EPS = 1e-4


def rnd(col: Column | str, d: int) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    scale = float(10**d)
    return F.floor(col * F.lit(scale) + F.lit(0.5 + EPS)) / F.lit(scale)


def rnd_py(x: float, d: int) -> float:
    """`rnd` for a Python float, bit-equal to the Column version."""
    scale = float(10**d)
    return math.floor(x * scale + (0.5 + EPS)) / scale


def rnd_sql(expr: str, d: int) -> str:
    scale = float(10**d)
    return f"floor(({expr}) * {scale} + {0.5 + EPS}) / {scale}"


# --------------------------------------------------------------------------
# Exact (order-independent) aggregate sums.
#
# The 1e-4 epsilon above absorbs fp noise ONLY while the accumulated
# summation error stays below 1e-4 in the scaled domain. For sums of
# non-integer doubles over ~1e5+ rows that no longer holds: Spark's
# partial-aggregation order varies run to run (and differs from DuckDB's),
# so a sum whose exact value lands a half-tie can round differently per
# run — exactly the driver-hash flakiness seen on profile_numeric.
#
# Fix: sum in DECIMAL. Each input double is cast to DECIMAL(28,6) — a
# deterministic nearest-rounding both engines perform identically (exact
# decimal half-ties are not representable as doubles, so ties never
# occur) — and decimal addition is exact and associative, so the sum is
# bit-identical regardless of partition order and engine. The final
# cast back to double and any divisions are single IEEE operations on
# identical inputs → identical everywhere.
#
# Scale note (100 TB): decimal aggregation costs ~2× a double sum; it is
# the determinism/oracle mode. The throughput path keeps plain double
# sums and reports to looser precision.
# --------------------------------------------------------------------------

DSCALE = 6  # decimal digits kept from each input value


def dsum(col: Column | str, agg=None) -> Column:
    """Order-independent sum: decimal(28,6)-exact, returned as double.

    `agg` lets callers use the same cast under a window spec:
    ``dsum("x", lambda c: F.sum(c).over(w))``.
    """
    col = F.col(col) if isinstance(col, str) else col
    agg = agg if agg is not None else F.sum
    return agg(col.cast(f"decimal(28,{DSCALE})")).cast("double")


def dsum_sql(expr: str, over: str = "") -> str:
    return f"CAST(sum(CAST(({expr}) AS DECIMAL(28,{DSCALE}))) {over} AS DOUBLE)"


def davg(col: Column | str) -> Column:
    """Order-independent mean: exact decimal sum, one double division."""
    col = F.col(col) if isinstance(col, str) else col
    return dsum(col) / F.count(col)


def davg_sql(expr: str) -> str:
    return f"({dsum_sql(expr)} / count({expr}))"


def dsumsq(col: Column | str) -> Column:
    """Order-independent sum of squares (for variance/stddev).

    Squares are formed in decimal so they stay exact: decimal(18,6) ×
    decimal(18,6) → decimal(37,12) lossless in Spark, decimal(36,12) in
    DuckDB — identical values, exact associative sums. Domain
    |value| < 1e12 (12 integer digits): out-of-range values are skipped
    via a per-row guard — under ANSI (Spark 4 default) the bare cast
    would THROW, and with ANSI off it silently NULLed, making dstd wrong;
    dstd detects the out-of-range case via max|v| and switches to the
    double path instead of trusting this sum."""
    col = F.col(col) if isinstance(col, str) else col
    cd = col.cast("double")
    c6 = F.when(F.abs(cd) < F.lit(DSUMSQ_MAX_ABS), col.cast(f"decimal(18,{DSCALE})"))
    return F.sum(c6 * c6).cast("double")


def dsumsq_sql(expr: str) -> str:
    # DuckDB stores DECIMAL(18) in int64, so the square must be formed at
    # int128 width: (28,6)×(28,6) → DECIMAL(38,12), exact. Spark instead
    # needs (18,6)×(18,6) → (37,12) to stay ≤38 digits without scale
    # truncation. Same 6-dp inputs, both exact → identical sums.
    c6 = f"CAST(({expr}) AS DECIMAL(28,{DSCALE}))"
    return f"CAST(sum({c6} * {c6}) AS DOUBLE)"


# decimal(18,6) keeps 12 integer digits: |v| >= 1e12 (epoch-micros/nanos
# stored as numbers, say) overflows the dsumsq cast, which with ANSI off
# silently becomes NULL and VANISHES from the sum while count(v) still
# counts it — a wrong (not NULL) stddev
DSUMSQ_MAX_ABS = 1e12


def dstd(col: Column | str) -> Column:
    """Order-independent sample stddev from exact decimal sums:
    sqrt((Σx² − (Σx)²/n) / (n−1)) — every double op is a single IEEE
    operation on engine-identical inputs.

    Domain guard: when max|v| ≥ 1e12 the decimal(18,6) square would
    silently drop values (see DSUMSQ_MAX_ABS), so those columns fall
    back to the plain double stddev — approximately right rather than
    exactly wrong. (The DuckDB oracle has no such hazard: its decimal
    overflow is a hard error, which is why dstd_sql stays unguarded.)"""
    col = F.col(col) if isinstance(col, str) else col
    n = F.count(col)
    s1 = dsum(col)
    var = (dsumsq(col) - s1 * s1 / n) / (n - F.lit(1))
    dec_std = F.sqrt(F.greatest(var, F.lit(0.0)))
    cd = col.cast("double")
    s1d = F.sum(cd)
    var_d = (F.sum(cd * cd) - s1d * s1d / n) / (n - F.lit(1))
    dbl_std = F.sqrt(F.greatest(var_d, F.lit(0.0)))
    return F.when(
        n > 1,
        F.when(F.max(F.abs(cd)) < F.lit(DSUMSQ_MAX_ABS), dec_std).otherwise(dbl_std),
    )


# per-column regime split for moment sums: |v| < 100 → "fine" scale-12
# sums (v⁴ ≤ 1e8, quantized at 1e-12 — small-magnitude columns like
# rates/fractions keep ~1e-10 relative accuracy; scale-6 here cost
# kurtosis ~0.1 of error on l_discount); |v| ≥ 100 → "coarse"
# scale-(12−3p) sums (quantization ≤ 1e-8 RELATIVE because each power is
# ≥ 100ᵖ, with 26+3p integer digits of Σ headroom). Selection by max|v|
# is identical on both engines, so parity holds either way.
MOMENT_SPLIT = 100.0


def moment_dec(prod: Column, scale: int) -> Column:
    """Engine-stable double→decimal conversion for moment terms.

    A bare double→decimal cast DIVERGES between engines when the
    double's shortest decimal rendering ties exactly at the target
    scale (e.g. …0905 at scale 12): Spark rounds the SHORTEST STRING
    half-up, DuckDB rounds the BINARY value to nearest — found by the
    dmoment fuzz (tests/test_parity_fuzz.py). Both engines print
    shortest-round-trip strings and both round string→decimal half-up,
    so routing the cast through a string is bit-identical on both.
    Only needed where the input has more decimal digits than the scale
    (powers of data values); dsum/dsumsq inputs (raw ≤6dp data and
    their pairwise products) convert exactly and skip the detour.
    Domain note: non-finite inputs (|v|ᵖ overflowing double) error on
    DuckDB and NULL on Spark — out of the declared |vᵖ|<1e26 domain.

    SPARK side only, the direct cast IS the string route: Cast(double →
    decimal) goes through BigDecimal.valueOf(d) = new BigDecimal(
    Double.toString(d)) then HALF_UP changePrecision — r7 fuzz (10M
    random doubles × scales 0/3/6/9/12 + crafted half-up ties, and
    tests/test_parity_fuzz.py) found 0 diffs vs the explicit
    string→decimal detour, while the detour costs ~3× on the profile's
    materialized time. moment_dec_sql KEEPS the string route: DuckDB's
    direct cast rounds the BINARY value to nearest and does diverge."""
    return prod.cast(f"decimal(38,{scale})")


def moment_dec_sql(prod: str, scale: int) -> str:
    return f"CAST(CAST(({prod}) AS VARCHAR) AS DECIMAL(38,{scale}))"


def dec_to_double(dec: Column) -> Column:
    """Engine-stable decimal→double: DuckDB converts a wide decimal by
    int128→double then ÷10^scale (TWO roundings, off-by-ulp vs Spark's
    correctly-rounded BigDecimal conversion). The decimal's string is
    exact digits and string→double is correctly rounded on both —
    identical results. On SPARK the direct cast (BigDecimal.doubleValue,
    correctly rounded) equals the string route — r7 fuzz, 10M decimals,
    0 diffs — so only dec_to_double_sql keeps the string detour for
    DuckDB's sake."""
    return dec.cast("double")


def dec_to_double_sql(dec: str) -> str:
    return f"CAST(CAST(({dec}) AS VARCHAR) AS DOUBLE)"


def dmoment_sum(col: Column | str, p: int) -> Column:
    """Order-independent Σ vᵖ for higher moments (skewness/kurtosis).

    The power is formed in DOUBLE (each IEEE multiply is exact-rounded →
    per-row identical on every engine), converted to decimal via the
    engine-stable string route (moment_dec), then summed exactly —
    bit-identical regardless of partition order AND engine.
    Two regimes per MOMENT_SPLIT (see above); out-of-range elements
    (|vᵖ| beyond the coarse decimal) raise a loud ANSI/DuckDB overflow
    on BOTH engines, never a silent wrong value."""
    cd = (F.col(col) if isinstance(col, str) else col).cast("double")
    prod = cd
    for _ in range(p - 1):
        prod = prod * cd
    if p == 1:
        # Σv at scale 12 holds |Σ| < 1e26 — no split needed
        return dec_to_double(F.sum(moment_dec(prod, 12)))
    fine = F.sum(
        F.when(F.abs(cd) < F.lit(MOMENT_SPLIT), moment_dec(prod, 12))
    )
    coarse = F.sum(moment_dec(prod, 12 - 3 * p))
    return F.when(
        F.max(F.abs(cd)) < F.lit(MOMENT_SPLIT), dec_to_double(fine)
    ).otherwise(dec_to_double(coarse))


def dmoment_sum_sql(expr: str, p: int) -> str:
    x = f"CAST(({expr}) AS DOUBLE)"
    prod = " * ".join([x] * p)
    if p == 1:
        return dec_to_double_sql(f"sum({moment_dec_sql(prod, 12)})")
    fine = f"sum(CASE WHEN abs({x}) < {MOMENT_SPLIT} THEN {moment_dec_sql(prod, 12)} END)"
    coarse = f"sum({moment_dec_sql(prod, 12 - 3 * p)})"
    return (
        f"(CASE WHEN max(abs({x})) < {MOMENT_SPLIT}"
        f" THEN {dec_to_double_sql(fine)} ELSE {dec_to_double_sql(coarse)} END)"
    )


def dstd_sql(expr: str) -> str:
    n = f"count({expr})"
    s1 = dsum_sql(expr)
    var = f"(({dsumsq_sql(expr)} - {s1} * {s1} / {n}) / ({n} - 1))"
    return f"CASE WHEN {n} > 1 THEN sqrt(greatest({var}, 0.0)) END"
