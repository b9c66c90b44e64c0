"""Parity replay on the reference's CAPTURED REAL OUTPUT fixtures
(SURVEY.md SS5): test_sample.csv.gz (one clean RELIANCE day, reference
`test_sample.csv.gz`) and reliance.csv.gz (the same day re-fetched —
459 duplicate timestamps of 489 rows, reference `infra/reliance.csv.gz`,
the live dedup test vector). The two public data captures are VENDORED
into tests/fixtures/ so the suite runs without a reference checkout."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.dedup import (
    dedup_by_key,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.analytics import (
    ohlcv_endpoint,
    symbol_stats,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
    quality_filter,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.schemas import SILVER_SCHEMA

_FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
SAMPLE = os.path.join(_FIXTURES, "test_sample.csv.gz")
RELIANCE = os.path.join(_FIXTURES, "reliance.csv.gz")

# the flat silver files carry 16 columns in-file: all but the ``dt``
# partition column (CSV columns bind by position)
_FLAT = T.StructType([f for f in SILVER_SCHEMA.fields if f.name != "dt"])


def _read(spark, path):
    return spark.read.schema(_FLAT).option("header", True).csv(path)


def test_clean_sample_rollup(spark):
    df = _read(spark, SAMPLE)
    assert df.count() == 35
    assert quality_filter(df).count() == 35  # captured data passes DQ
    # no ``dt`` column: the request filters the day on year/month/day
    r = symbol_stats(df, "RELIANCE", "2025-10-08").collect()[0]
    head = df.orderBy("timestamp_unix").first()
    tail = df.orderBy(F.col("timestamp_unix").desc()).first()
    assert r["open"] == head["open"] and r["close"] == tail["close"]
    assert r["num_records"] == 35


def test_duplicate_fixture_dedup_directions(spark):
    df = _read(spark, RELIANCE)
    n_unique = df.select("timestamp_unix").distinct().count()
    assert df.count() == 489 and n_unique == 30  # heavy refetch overlap
    last = dedup_by_key(
        df, ["symbol_clean", "timestamp_unix"], ["fetch_timestamp", "processed_at"],
        keep="last",
    )
    first = dedup_by_key(
        df, ["symbol_clean", "timestamp_unix"], ["fetch_timestamp", "processed_at"],
        keep="first",
    )
    assert last.count() == first.count() == n_unique
    # the two directions genuinely disagree on this real data (values were
    # revised between fetches) — the reference's A5-vs-A6 conflict is real
    l = {r["timestamp_unix"]: r["close"] for r in last.collect()}
    f = {r["timestamp_unix"]: r["close"] for r in first.collect()}
    assert l != f


def test_resample_real_day_to_hourly(spark):
    df = _read(spark, RELIANCE)
    candles = ohlcv_endpoint(df, "RELIANCE")  # 5m, the last fetch of each candle
    hourly = ohlcv_endpoint(df, "RELIANCE", interval="1h").collect()
    assert 1 <= len(hourly) <= 7  # one NSE session fits in <=7 hour buckets
    total = sum(r["volume"] for r in hourly)
    assert total == candles.agg(F.sum("volume")).collect()[0][0]  # volume conserved
    for r in hourly:
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]
