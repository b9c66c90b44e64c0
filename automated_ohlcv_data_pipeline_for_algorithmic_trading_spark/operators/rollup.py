"""Grouped aggregations (SURVEY.md SS2.4, A1-A3, A7, A9-A13).

Design rules:
- Ordered first/last are expressed with ``min_by``/``max_by`` on the
  timestamp (plus an optional tie-breaker), NEVER ``F.first/last`` without
  ordering — those are shuffle-nondeterministic (SURVEY.md SS7.1). The
  reference's pandas ``iloc[0]/iloc[-1]`` after a sort has exactly the
  min_by/max_by semantics (analytics/lambda_analytics.py:146-166).
- Numeric reductions go through exact decimal sums (functions.exact) so
  results are bit-stable under any partitioning / cluster size.
- Everything is a single groupBy -> one shuffle; partial (map-side)
  aggregation happens automatically for all of these aggregates, which is
  what makes them scale: the shuffle carries one row per (group, mapper),
  not per input row.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import davg, dstddev, dsum


def order_key_sql(ts_col: str, tiebreak: str | None = None) -> str:
    """The min_by/max_by order of a row as Spark SQL: ``ts_col``, or
    ``struct(ts_col, tiebreak)``."""
    return f"struct({ts_col}, {tiebreak})" if tiebreak else ts_col


def latest_row_sql(ts_col: str, tiebreak: str | None = None) -> str:
    """A9 as a Spark SQL aggregate: the latest full row of a group, as a
    struct of all columns."""
    return f"max_by(struct(*), {order_key_sql(ts_col, tiebreak)})"


def series_rollup(
    df: DataFrame,
    keys: Sequence[Column | str],
    ts_col: str,
    price_col: str,
    volume_col: str | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """A1 core — per group: open = price at earliest ts, close = price at
    latest ts, high/low = max/min, avg_price, num_records (+ total volume
    when a volume column exists).

    Reference semantics: analytics/lambda_analytics.py:146-166 (pandas),
    analytics/lambda_analytics_lightweight.py:113-148 (pure python),
    sql/athena_parquet_tables.sql:90-102 (SQL GROUP BY).
    """
    p, key = F.col(price_col), F.expr(order_key_sql(ts_col, tiebreak))
    aggs = [
        F.min_by(p, key).alias("open"),
        F.max(p).alias("high"),
        F.min(p).alias("low"),
        F.max_by(p, key).alias("close"),
        davg(p, "avg_price"),
        F.count(F.lit(1)).alias("num_records"),
    ]
    if volume_col:
        aggs.insert(4, dsum(volume_col, "volume"))
    return df.groupBy(*keys).agg(*aggs)


def daily_rollup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    price_col: str,
    volume_col: str | None = None,
    tiebreak: str | None = None,
    date_alias: str = "trade_date",
) -> DataFrame:
    """A1 — daily OHLCV rollup: group by (keys..., date(ts))."""
    gb = [*[F.col(k) for k in keys], F.to_date(F.col(ts_col)).alias(date_alias)]
    return series_rollup(df, gb, ts_col, price_col, volume_col, tiebreak)


def symbol_stats(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    ts_col: str,
) -> DataFrame:
    """A2 — per-key totals: SUM(value), AVG(value), COUNT(*), MAX(ts)
    (sql/athena_parquet_tables.sql:77-88)."""
    return df.groupBy(*keys).agg(
        dsum(value_col, "total_value"),
        davg(value_col, "avg_value"),
        F.count(F.lit(1)).alias("record_count"),
        F.max(ts_col).alias("latest_timestamp"),
    )


def dispersion_stats(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
) -> DataFrame:
    """A3 — AVG / sample STDDEV / MAX / MIN of a derived metric per key
    (sql/athena_parquet_tables.sql:104-114)."""
    return df.groupBy(*keys).agg(
        davg(value_col, "avg_value"),
        dstddev(value_col, "stddev_value"),
        F.max(value_col).alias("max_value"),
        F.min(value_col).alias("min_value"),
        F.count(F.lit(1)).alias("record_count"),
    )


def latest_snapshot(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """A9 — latest full row per key (multi-symbol snapshot,
    api/api_handler.py:479-514).

    Implemented as one aggregate of ``max_by(struct(*), order)`` rather
    than a rank window: a single shuffle with map-side combine, no full
    per-key sort — the scalable plan for "latest row per key" over
    billions of rows.
    """
    out = df.groupBy(*keys).agg(F.expr(latest_row_sql(ts_col, tiebreak)).alias("_row"))
    return out.select(*[F.col(f"_row.{c}").alias(c) for c in df.columns])


def conditional_counts(
    df: DataFrame,
    keys: Sequence[str],
    conditions: dict[str, Column],
) -> DataFrame:
    """A10 — COUNT(CASE WHEN ...) rollup (sql/rds_schema.sql:121-122)."""
    aggs = [F.count(F.lit(1)).alias("total_count")] + [
        F.count_if(cond).alias(name) for name, cond in conditions.items()
    ]
    return df.groupBy(*keys).agg(*aggs)


def approx_percentiles_hist(
    df,
    keys,
    value_col: str,
    probs=(0.5, 0.9, 0.99),
    bins: int = 64,
):
    """Approximate percentiles via fixed-bin histograms — the
    deterministic scale path for quantiles.

    Two aggregations: (1) per-key (min, max, count); (2) per-(key, bin)
    counts with bin = floor((v - lo) / width), width = (hi - lo)/bins.
    The estimate interpolates inside the first bin whose cumulative count
    reaches p*n. Integer counts make the result partition-count-INVARIANT
    and exactly SQL-replayable — unlike percentile_approx (GK sketch,
    merge-order dependent), this approximate operator has a value-hash
    oracle (e_percentiles_hist). Error is bounded by one bin width;
    histograms are trivially mergeable (counts add), so at 100 TB this is
    two map-side-combined shuffles regardless of data size.

    Output: one row per key with a ``p{int(100p)}`` column per prob.
    """
    from pyspark.sql import Window

    keys = list(keys)
    stats = df.groupBy(*keys).agg(
        F.min(value_col).alias("_lo"),
        F.max(value_col).alias("_hi"),
        F.count(value_col).alias("_n"),
    )
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
    bin_ = F.when(F.col("_hi") == F.col("_lo"), F.lit(0).cast("long")).otherwise(
        F.least(
            F.floor((F.col(value_col) - F.col("_lo")) / width), F.lit(bins - 1)
        ).cast("long")
    )
    counts = (
        df.join(F.broadcast(stats), keys)
        .withColumn("_b", bin_)
        .groupBy(*keys, "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy(*keys).orderBy("_b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = counts.withColumn("_cum", F.sum("_c").over(w)).join(
        F.broadcast(stats), keys
    )
    aggs = []
    for p in probs:
        target = F.col("_n") * F.lit(float(p))
        frac = F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(1.0), (target - (F.col("_cum") - F.col("_c"))) / F.col("_c")
            ),
        )
        est = F.col("_lo") + (F.col("_b") + frac) * width
        picked = F.min(
            F.when(F.col("_cum") >= target, F.struct(F.col("_b"), est.alias("e")))
        )
        aggs.append(picked.getField("e").alias(f"p{int(round(p * 100))}"))
    return cum.groupBy(*keys).agg(*aggs)
