"""Order-independent (bit-deterministic) aggregate expressions.

Double-precision SUM/AVG/STDDEV depend on accumulation order, which differs
between Spark partial aggregation and any oracle engine (and between two
Spark runs with different partitioning). These helpers make reductions
exact by summing in DecimalType — per-row IEEE-754 arithmetic is
deterministic across engines, so routing every *reduction* through exact
decimals yields bit-identical doubles everywhere, at any partition count.

This is also the 100 TB answer: results do not drift when the cluster
repartitions, so checksums/regression baselines stay stable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: 38 total digits, 6 fractional. Scale matters for cross-engine parity:
#: engines disagree on double->decimal casts at the last decimal digit when
#: |x| * 10^scale approaches double precision (Spark rounds the exact binary
#: expansion, DuckDB scales in double). At scale 6 with per-row magnitudes
#: < ~1e9 every reasonable cast method lands on the same decimal, and the
#: source data's own quantum (2-6 decimal digits) is captured exactly.
_DEC = "decimal(38,6)"


#: Exactness is a MODE: True (default) routes reductions through decimal
#: for bit-stable, oracle-comparable results; False uses plain double
#: aggregation — ~2.7x faster on the agg stage (measured at sf0.1), with
#: ordinary last-ulp nondeterminism. Flip it for throughput-critical jobs
#: where bit-reproducibility is not required.
EXACT_MODE = True


def set_exact_mode(enabled: bool) -> None:
    global EXACT_MODE
    EXACT_MODE = enabled


def _c(c) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def dsum(col, alias: str | None = None) -> Column:
    """Exact sum: cast each (deterministic) double to decimal, sum exactly,
    cast the total back to double. Plain double sum when EXACT_MODE off."""
    c = _c(col)
    out = F.sum(c.cast(_DEC)).cast("double") if EXACT_MODE else F.sum(c)
    return out.alias(alias) if alias else out


def davg(col, alias: str | None = None) -> Column:
    """Deterministic mean: exact decimal sum divided by count, in double."""
    c = _c(col)
    if EXACT_MODE:
        out = F.sum(c.cast(_DEC)).cast("double") / F.count(c)
    else:
        out = F.avg(c)
    return out.alias(alias) if alias else out


def dstddev(col, alias: str | None = None) -> Column:
    """Deterministic sample stddev via exact sums of x and x^2:
    sqrt((n*sum(x^2) - sum(x)^2) / (n*(n-1))).

    Matches Presto/DuckDB STDDEV (sample) when computed from the same
    exact sums; returns NULL for n < 2 like the built-in.
    """
    c = _c(col)
    if not EXACT_MODE:
        out = F.stddev_samp(c)
        return out.alias(alias) if alias else out
    n = F.count(c).cast("double")
    sx = F.sum(c.cast(_DEC)).cast("double")
    # square in double (bit-deterministic per row), THEN cast to decimal for
    # the exact reduction — decimal*decimal at (38,10) would overflow p=38
    # and silently lose scale.
    sxx = F.sum((c * c).cast(_DEC)).cast("double")
    var = (n * sxx - sx * sx) / (n * (n - 1))
    # guard tiny negative from cancellation
    out = F.when(n >= 2, F.sqrt(F.greatest(var, F.lit(0.0)))).otherwise(F.lit(None))
    return out.alias(alias) if alias else out


def q6(col, alias: str | None = None) -> Column:
    """Tie-safe 6-decimal quantization: ``floor(x * 1e6 + 0.5) / 1e6``.

    ``round(x, 6)`` breaks cross-engine parity on exact half-ties: Spark
    rounds HALF_UP while DuckDB rounds half-even, and ratios of integers
    (price returns, Jaccard, RSI gain/loss ratios) land on representable
    ``.xxxxxx5`` boundaries deterministically — a return against a
    2^k-cent close is exactly ``m/2^a`` and its 7th decimal is exactly 5.
    floor/multiply/add are plain IEEE ops with no tie-break involved, so
    this quantizer is bit-identical everywhere. Halves round toward +inf
    (not away from zero): -2.5e-6 -> -2e-6. Pair with :func:`sql_q6`.
    """
    c = _c(col)
    out = F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return out.alias(alias) if alias else out


def sql_q6(expr: str) -> str:
    """DuckDB/ANSI twin of :func:`q6` for oracle queries."""
    return f"floor(({expr}) * 1e6 + 0.5) / 1e6"


def u6(col, alias: str | None = None) -> Column:
    """Tie-safe integer MICRO-UNIT quantization: ``floor(x*1e6 + 0.5)``
    as BIGINT — :func:`q6` without the divide back to price units, for
    operators that keep all arithmetic in exact integer state (the
    recurrence folds, CCI/vortex window sums). Pair with
    :func:`sql_u6`."""
    c = _c(col)
    out = F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")
    return out.alias(alias) if alias else out


def sql_u6(expr: str) -> str:
    """DuckDB/ANSI twin of :func:`u6` for oracle queries."""
    return f"CAST(floor(({expr}) * 1e6 + 0.5) AS BIGINT)"


def pd_u6(s: pd.Series) -> np.ndarray:
    """pandas twin of :func:`u6` for the recurrence folds: the same IEEE
    ops in the same order, as an int64 array."""
    return np.floor(s.to_numpy(dtype=float) * 1e6 + 0.5).astype(np.int64)


def sdiv(num: int, den: int = 1_000_000) -> int:
    """Integer division truncating toward zero (unlike Python's flooring
    ``//``): how the exact folds rescale a micro-unit product back to
    micro-units."""
    if num >= 0:
        return num // den
    return -((-num) // den)


def sql_dsum(expr: str) -> str:
    """DuckDB/ANSI twin of :func:`dsum` for oracle queries."""
    return f"CAST(sum(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"CAST(sum(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE) / count({expr})"


def mode_sum_sql(expr: str) -> str:
    """:func:`dsum` as Spark SQL text under the current ``EXACT_MODE``
    (``sql_dsum`` is always the exact form, for the DuckDB oracles)."""
    return sql_dsum(expr) if EXACT_MODE else f"sum({expr})"


def mode_avg_sql(expr: str) -> str:
    """:func:`davg` as Spark SQL text under the current ``EXACT_MODE``."""
    return sql_davg(expr) if EXACT_MODE else f"avg({expr})"


def sql_dstddev(expr: str) -> str:
    n = f"CAST(count({expr}) AS DOUBLE)"
    sx = f"CAST(sum(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE)"
    sxx = f"CAST(sum(CAST(({expr}) * ({expr}) AS DECIMAL(38,6))) AS DOUBLE)"
    var = f"(({n}) * ({sxx}) - ({sx}) * ({sx})) / (({n}) * (({n}) - 1))"
    return f"CASE WHEN count({expr}) >= 2 THEN sqrt(greatest({var}, 0.0)) ELSE NULL END"
