"""Timestamp deduplication (SURVEY.md A5/A6, ST3).

The reference has BOTH directions — last-wins (api/api_handler.py:418-424:
dict overwrite while scanning files in order) and first-wins
(api/api_handler_csv.py:169-184: seen-set skip). Plain ``dropDuplicates``
is arrival-order nondeterministic under shuffle, so both are expressed as
a rank over an explicit order column.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_rank_sql(keys: Sequence[str], order_cols: Sequence[str], keep: str = "last") -> str:
    """The Spark SQL rank that :func:`dedup_by_key` keeps at 1: per key,
    row_number() over ``order_cols`` descending for ``last``, ascending
    for ``first``."""
    if keep not in ("first", "last"):
        raise ValueError(f"keep must be 'first' or 'last', got {keep!r}")
    direction = "ASC" if keep == "first" else "DESC"
    order = ", ".join(f"{c} {direction}" for c in order_cols)
    return f"row_number() OVER (PARTITION BY {', '.join(keys)} ORDER BY {order})"


def dedup_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str | Sequence[str],
    keep: str = "last",
) -> DataFrame:
    """Keep exactly one row per key: the first or last by ``order_col``.

    ``order_col`` is the explicit arrival order (file sequence, fetch
    timestamp, monotonic id) that replaces the reference's implicit
    scan order.

    Scale note: the window shuffles once on ``keys``; for the common
    "groups are small" case this is the same single shuffle an
    aggregation would take. AQE handles skewed keys.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    return (
        df.withColumn("_rn", F.expr(dedup_rank_sql(keys, order_cols, keep)))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_by_key_agg(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str | Sequence[str],
    keep: str = "last",
) -> DataFrame:
    """Same result as :func:`dedup_by_key`, expressed as a
    ``max_by/min_by(struct(all cols), struct(order cols))`` aggregation.

    Scale note: the window form must SORT each key's rows inside one
    task, so a pathologically hot key (90-99% of rows) serializes on one
    core. The aggregation form collapses duplicates map-side (partial
    aggregation) before the single shuffle — the hot key costs about the
    same as the uniform case (measured in SCALE_RESULTS.md). Prefer this
    form when keys can be skewed; the window form reads more naturally
    when groups are small/uniform."""
    if keep not in ("first", "last"):
        raise ValueError(f"keep must be 'first' or 'last', got {keep!r}")
    chooser = F.max_by if keep == "last" else F.min_by
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    payload = F.struct(*[F.col(c) for c in df.columns])
    okey = F.struct(*[F.col(c) for c in order_cols])
    out = df.groupBy(*keys).agg(chooser(payload, okey).alias("_row"))
    return out.select(*[F.col(f"_row.{c}").alias(c) for c in df.columns])
