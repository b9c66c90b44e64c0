"""User extension point (SURVEY.md SS2.9 engine policy): custom
per-instrument computations as Arrow-batched grouped-map pandas
functions.

Everything the reference computes ships as native expressions; this is
the sanctioned escape hatch for user-defined indicators that genuinely
need pandas (exotic TA functions, model scoring). Grouped-map per symbol
is the natural shape: each instrument's history arrives as one ordered
pandas DataFrame, the user returns added columns, Spark parallelizes
across instruments — one shuffle on the group key, Arrow both ways.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import pd_u6


def grouped_fold(
    src: DataFrame,
    keys: Sequence[str],
    fold: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    order: Sequence[str],
) -> DataFrame:
    """Run a per-group pandas ``fold`` via ``mapInPandas`` over
    key-contiguous partitions — the package's one per-key fold, and the
    amortized replacement for ``groupBy(keys).applyInPandas(fold)``
    (guide §4: fewer, larger Arrow crossings; the JVM↔Python boundary is
    paid per partition batch, not per group).

    This function alone decides how a fold's input is partitioned and
    ordered:

    - hash partitioning on ``keys`` into ``defaultParallelism``
      partitions. The explicit count matters: AQE would byte-coalesce a
      small shuffle to ONE partition and serialize every group's Arrow
      round-trip into a single task (measured 7.4 s -> sub-second for
      150 groups at bench scale);
    - a partition-local sort on ``keys``, then ``order`` ascending with
      NULLS LAST (pandas ``sort_values``' ``na_position="last"``).

    So ``fold`` receives one whole group at a time, in ``order``, with a
    fresh RangeIndex. Contract: ``(keys, order)`` is unique — rows tied
    on it reach ``fold`` in shuffle order. Groups that span Arrow batch
    boundaries are carried over, so the 10k-row default batch size never
    splits a group.

    ``fold`` may return any shape matching ``schema`` (fewer/more rows,
    different columns; see :func:`fold_schema`). Keys must be scalar,
    comparable values. NULL keys form one group, as in grouped-map. A
    float key's NaN and NULL are ONE key: Arrow hands a NULL double to
    pandas as NaN (and writes a NaN key back as NULL), so both are
    partitioned and sorted as NULL and reach ``fold`` as one group.
    """
    key_list = list(keys)
    floats = {k for k, t in src.dtypes if t in ("double", "float")}
    part_keys = [
        F.nanvl(k, F.lit(None)) if k in floats else F.col(k) for k in key_list
    ]
    n = src.sparkSession.sparkContext.defaultParallelism
    part = src.repartition(n, *part_keys).sortWithinPartitions(
        *part_keys, *(F.col(c).asc_nulls_last() for c in order)
    )

    def _assemble(frames):
        out = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        return out.reset_index(drop=True)

    def _key_of(row):
        # NaN-normalized key tuple so a NULL-keyed group matches itself
        # across batches (NaN != NaN)
        return tuple(None if pd.isna(v) else v for v in row)

    def run(batches):
        # frames of the current (possibly batch-spanning) trailing group —
        # kept as a LIST and concatenated once per group, so a group far
        # larger than one Arrow batch costs O(group) assembly, not the
        # O(group^2 / batch) of re-concatenating the carry every batch
        carry: list = []
        carry_key = None
        for pdf in batches:
            if not len(pdf):
                continue
            k = pdf[key_list]
            ks = k.shift()
            # NULL-safe group-change marker (NaN != NaN is True in pandas)
            ne = (k.ne(ks) & ~(k.isna() & ks.isna())).any(axis=1).to_numpy()
            ne[0] = True
            starts = np.flatnonzero(ne)
            ends = np.append(starts[1:], len(pdf))
            outs = []
            n_seg = len(starts)
            for j, (s, e) in enumerate(zip(starts, ends)):
                seg = pdf.iloc[int(s):int(e)]
                seg_key = _key_of(k.iloc[int(s)])
                last = j == n_seg - 1
                if carry and seg_key == carry_key:
                    carry.append(seg)
                    if not last:
                        outs.append(fold(_assemble(carry)))
                        carry, carry_key = [], None
                    continue
                if carry:
                    outs.append(fold(_assemble(carry)))
                    carry, carry_key = [], None
                if last:
                    carry, carry_key = [seg], seg_key
                else:
                    outs.append(fold(seg.reset_index(drop=True)))
            if outs:
                yield pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]
        if carry:
            yield fold(_assemble(carry))

    return part.mapInPandas(run, schema=schema)


def fold_schema(src: DataFrame, extra: str) -> str:
    """DDL schema of a fold that returns every column of ``src`` followed
    by the columns in ``extra`` (a DDL fragment such as
    ``"ema double, macd double"``)."""
    return ", ".join(f"{k} {t}" for k, t in src.dtypes) + ", " + extra


def masked(
    values: np.ndarray, null: np.ndarray | None = None
) -> pd.api.extensions.ExtensionArray:
    """``values`` as a pandas masked array that Arrow writes as NULL (not
    NaN) where ``null`` is set — NaN positions when ``null`` is omitted —
    so a fold's warm-up rows hash like the SQL twin's NULLs. Float values
    give Float64, integer values keep their width (cast to ``int32``
    first for an ``int`` schema column). The direct constructor is ~6x
    cheaper than ``pd.array`` + NA assignment at 2M-row groups."""
    if null is None:
        null = np.isnan(values)
    if values.dtype.kind == "f":
        return pd.arrays.FloatingArray(values, null)
    return pd.arrays.IntegerArray(values, null)


def bollinger_bands(
    window: int = 20, num_std: float = 2.0, price_col: str = "close"
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Example user indicator: Bollinger bands as a pandas rolling
    computation (what a user would plug in when they outgrow the native
    sma/rsi window expressions)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        roll = pdf[price_col].rolling(window, min_periods=1)
        mid = roll.mean()
        sd = roll.std().fillna(0.0)
        return pdf.assign(
            bb_mid=mid, bb_upper=mid + num_std * sd, bb_lower=mid - num_std * sd
        )

    return fn


def ema_macd_exact(
    fast: int = 12, slow: int = 26, price_col: str = "close"
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Determinism-contract EMA pair + MACD: the classic recurrence
    ``e_i = e_{i-1} + alpha * (x_i - e_{i-1})`` folded in integer
    micro-units so a sequential SQL replay (DuckDB recursive CTE) is
    bit-identical to this pandas fold:

    - quantize prices to 1e-6 with the repo-wide tie-free rule
      ``floor(x * 1e6 + 0.5)`` (plain IEEE ops, no tie-break — the SQL
      twin applies the literal same expression, see functions/exact.q6),
    - step ``e_i = e_{i-1} + floor(2.0 * (v_i - e_{i-1}) / (n + 1.0))``
      with the floor over the DOUBLE quotient — all operands stay far
      below 2^53, so both engines compute the identical double and the
      identical integer state,
    - emit doubles only at the end (state / 1e6).

    MACD = ema_fast - ema_slow computed on the integer states, so even
    the difference is exact. EMA seeds at the first price (the common
    convention; a SMA warm-up seed would fold the same way)."""
    import math

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pd_u6(pdf[price_col])
        e_fast = np.empty(len(v), dtype=np.int64)
        e_slow = np.empty(len(v), dtype=np.int64)
        ef = es = 0
        for i, vi in enumerate(v.tolist()):
            if i == 0:
                ef = es = vi
            else:
                ef += math.floor(2.0 * (vi - ef) / (fast + 1.0))
                es += math.floor(2.0 * (vi - es) / (slow + 1.0))
            e_fast[i] = ef
            e_slow[i] = es
        return pdf.assign(
            ema_fast=e_fast / 1e6,
            ema_slow=e_slow / 1e6,
            macd=(e_fast - e_slow) / 1e6,
        )

    return fn


def bollinger_bands_exact(
    window: int = 20, num_std: float = 2.0, price_col: str = "close"
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Determinism-contract Bollinger bands: rolling mean and SAMPLE std
    from exact integer micro-unit sums — the pandas twin of dsum/dstddev
    (functions/exact.py), so the grouped-map result is bit-identical to a
    windowed decimal(38,6) SQL replay on any engine/partitioning.

    Prices and their squares quantize to 1e-6 with the tie-free
    ``floor(x * 1e6 + 0.5)`` rule (identical IEEE ops in the SQL twin,
    see functions/exact.q6); rolling integer sums are
    exact in float64 while window sums stay below 2^53 micro-units
    (~9e9 in price units — far above any real OHLCV window). n < 2 emits
    sd = 0 like :func:`bollinger_bands`. Oracle-checked in
    __spark_entry__ as x_bollinger_bands."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[price_col].to_numpy(dtype=float)
        xu = np.floor(x * 1e6 + 0.5)
        xxu = np.floor(x * x * 1e6 + 0.5)
        s = pd.Series(xu).rolling(window, min_periods=1)
        ss = pd.Series(xxu).rolling(window, min_periods=1)
        n = s.count().to_numpy()
        sx = s.sum().to_numpy() / 1e6
        sxx = ss.sum().to_numpy() / 1e6
        mid = sx / n
        with np.errstate(divide="ignore", invalid="ignore"):
            var = (n * sxx - sx * sx) / (n * (n - 1))
        sd = np.sqrt(np.maximum(var, 0.0))
        sd[n < 2] = 0.0
        return pdf.assign(
            bb_mid=mid, bb_upper=mid + num_std * sd, bb_lower=mid - num_std * sd
        )

    return fn
