"""Tumbling-window resampling (SURVEY.md A4, ST4).

The reference buckets candles with epoch-aligned integer division
``(ts // bucket_seconds) * bucket_seconds`` (api/api_handler.py:788-834).
Spark's ``F.window`` is likewise epoch-aligned for sub-day durations, so
``F.window(ts, "N minutes")`` reproduces the reference's buckets exactly
(SURVEY.md SS7.6). We emit the bucket start as the new candle timestamp.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import dsum


def resample_series(
    df: DataFrame,
    minutes: int,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """A4 over a plain (ts, value) series — produces OHLC-from-ticks:
    the bucket's first/last/max/min value + exact sum + count."""
    order = F.struct(F.col(ts_col), F.col(tiebreak)) if tiebreak else F.col(ts_col)
    v = F.col(value_col)
    w = F.window(F.col(ts_col), f"{minutes} minutes")
    return (
        df.groupBy(*[F.col(k) for k in keys], w.alias("bucket"))
        .agg(
            F.min_by(v, order).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order).alias("close"),
            dsum(v, "total_value"),
            F.count(F.lit(1)).alias("num_records"),
        )
        .withColumn("bucket_start", F.col("bucket.start"))
        .drop("bucket")
    )


def resample_gapfill(
    df: DataFrame,
    minutes: int,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Gap-filled resample: every N-minute bucket between each key's
    first and last observation gets a row; buckets with no source rows
    carry the previous close forward (open=high=low=close=prev close,
    volume-ish fields 0, ``filled`` flag set) — the dense series
    charting/backtesting layers require (a missing 5-minute bar must
    not silently shrink a moving window).

    Plan shape at scale: one resample aggregate (map-side combined),
    then ONE lead() window per key over the aggregated buckets: each
    real bucket emits itself plus ``sequence()``-exploded filler rows
    for the gap up to the NEXT real bucket — the carry value is simply
    the emitting row's close, so there is no grid join and no
    ignore-nulls carry window at all (a previous grid-join + carry
    formulation measured ~19 s vs ~8 s for this shape on 12M ticks /
    4M buckets). Filler row count equals output filler rows — nothing
    is generated then discarded. No driver-side loops; every step
    whole-stage-codegen'd.
    """
    from pyspark.sql import Window

    agg = resample_series(df, minutes, keys, ts_col, value_col, tiebreak)
    step = minutes * 60
    kcols = [F.col(k) for k in keys]
    w = Window.partitionBy(*kcols).orderBy("bucket_start")
    nxt = F.lead("bucket_start").over(w)
    real = agg.withColumn("_next", nxt)
    fillers = (
        real.filter(
            F.col("_next").isNotNull()
            & (F.col("_next") > F.col("bucket_start") + F.expr(f"INTERVAL {step} SECONDS"))
        )
        .select(
            *kcols,
            F.explode(
                F.sequence(
                    F.col("bucket_start") + F.expr(f"INTERVAL {step} SECONDS"),
                    F.col("_next") - F.expr(f"INTERVAL {step} SECONDS"),
                    F.expr(f"INTERVAL {step} SECONDS"),
                )
            ).alias("bucket_start"),
            F.col("close").alias("_carry"),
        )
        .select(
            *kcols,
            "bucket_start",
            F.col("_carry").alias("open"),
            F.col("_carry").alias("high"),
            F.col("_carry").alias("low"),
            F.col("_carry").alias("close"),
            F.lit(0.0).alias("total_value"),
            F.lit(0).cast("long").alias("num_records"),
            F.lit(True).alias("filled"),
        )
    )
    kept = real.select(
        *kcols,
        "bucket_start",
        "open",
        "high",
        "low",
        "close",
        "total_value",
        "num_records",
        F.lit(False).alias("filled"),
    )
    return kept.unionByName(fillers)
