"""End-to-end OHLCV pipeline tests on deterministic mock envelopes
(seed 42 per FIXTURES.md): bronze JSON -> silver parquet -> query APIs ->
declared SQL set."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.analytics import (
    available_symbols,
    daily_summary,
    date_range_stats,
    latest_prices,
    ohlcv_endpoint,
    symbol_stats,
    top_movers_summary,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
    bronze_to_silver,
    quality_filter,
    read_silver_csv,
    run_metadata,
    silver_csv_sink,
    write_silver,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.sql_views import (
    DECLARED_QUERIES,
    register_ohlcv_view,
    run_declared_query,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.schemas import (
    RAW_ENVELOPE_SCHEMA,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.mock import (
    write_mock_envelope_files,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.raw_json import (
    latest_file_only,
    read_raw_envelopes,
)

SYMBOLS = ["NSE:RELIANCE-EQ", "NSE:TCS-EQ", "NSE:INFY-EQ"]


@pytest.fixture(scope="module")
def raw_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("raw")
    write_mock_envelope_files(spark, str(d), SYMBOLS, days=2, fetches=2)
    return str(d)


@pytest.fixture(scope="module")
def silver(spark, raw_dir, tmp_path_factory):
    raw = read_raw_envelopes(spark, raw_dir)
    silver_df = bronze_to_silver(raw, dedup="last")
    out = tmp_path_factory.mktemp("silver")
    write_silver(silver_df, str(out))
    return spark.read.parquet(str(out))


def test_explode_and_dedup(spark, raw_dir):
    raw = read_raw_envelopes(spark, raw_dir)
    assert raw.count() == 2  # two overlapping fetch files
    silver_df = bronze_to_silver(raw, dedup="last")
    # 3 symbols x 2 days x 75 slots, dedup collapses the overlapping fetch
    assert silver_df.count() == 3 * 2 * 75
    no_dedup = bronze_to_silver(raw, dedup=None)
    assert no_dedup.count() > silver_df.count()


def test_latest_file_only(spark, raw_dir):
    raw = read_raw_envelopes(spark, raw_dir)
    latest = latest_file_only(raw)
    assert latest.count() == 1
    # the newest cumulative file alone already has every candle
    assert bronze_to_silver(latest, dedup=None).count() == 3 * 2 * 75


def test_silver_schema_and_partitioning(silver):
    assert set(silver.columns) >= {
        "symbol", "symbol_clean", "timestamp_unix", "timestamp_iso",
        "open", "high", "low", "close", "volume", "resolution",
        "year", "month", "day", "hour", "dt",
    }
    syms = {r["symbol_clean"] for r in silver.select("symbol_clean").distinct().collect()}
    assert syms == {"RELIANCE", "TCS", "INFY"}
    # DQ invariants hold post-filter
    assert silver.filter(F.col("high") < F.col("low")).count() == 0
    assert silver.filter(F.col("close") <= 0).count() == 0


def test_quality_filter_drops_bad_rows(spark):
    rows = [
        ("NSE:X-EQ", "5", "t", 1700000000, 10.0, 9.0, 11.0, 10.0, 5),   # high<low
        ("NSE:X-EQ", "5", "t", 1700000300, 10.0, 11.0, 9.0, 0.0, 5),    # close=0
        ("NSE:X-EQ", "5", "t", 1700000600, 10.0, 11.0, 9.0, 10.0, -1),  # vol<0
        ("NSE:X-EQ", "5", "t", 1700000900, None, 11.0, 9.0, 10.0, 5),   # null open
        ("NSE:X-EQ", "5", "t", 1700001200, 10.0, 11.0, 9.0, 10.5, 5),   # good
    ]
    df = spark.createDataFrame(
        rows,
        "symbol string, resolution string, fetch_timestamp string, "
        "timestamp_unix long, open double, high double, low double, "
        "close double, volume long",
    )
    assert quality_filter(df).count() == 1

    # the same defects at envelope level, through explode_envelopes' get():
    # under ANSI mode a malformed candle drops instead of failing the batch
    good = [1700001200.0, 10.0, 11.0, 9.0, 10.5, 5.0]
    env = {
        "NSE:X-EQ": {
            "symbol": "NSE:X-EQ", "resolution": "5", "timestamp": "t",
            "candles": [
                good,
                [1700000000.0, 10.0, 11.0],                   # truncated
                [1700000300.0, None, 11.0, 9.0, 10.0, 5.0],   # NULL element
                [1700000600.0, 10.0, 11.0, 9.0, 0.0, 5.0],    # close = 0
                [1700000900.0, 10.0, 11.0, 9.0, -1.0, 5.0],   # close < 0
                [1700001500.0, 10.0, 9.0, 11.0, 10.0, 5.0],   # high < low
                None,                                         # NULL candle
            ],
        },
        "NSE:Y-EQ": None,                                     # NULL symbol entry
    }
    raw = spark.createDataFrame([(env, None)], RAW_ENVELOPE_SCHEMA)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out = bronze_to_silver(raw, dedup="last").collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert [(r["symbol_clean"], r["timestamp_unix"], r["close"]) for r in out] == [
        ("X", 1700001200, 10.5)
    ]


def _overwrite_mode_of_last_write(spark):
    """``partitionOverwriteMode`` among the options of the newest
    InsertIntoHadoopFsRelationCommand in the SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in range(execs.size() - 1, -1, -1):
        plan = execs.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in plan:
            m = re.search(r"partitionOverwriteMode=(\w+)", plan)
            return m and m.group(1)
    return None


@pytest.mark.parametrize("sink", ["parquet", "csv"])
def test_silver_overwrite_static_when_fresh_dynamic_on_rerun(spark, raw_dir, tmp_path, sink):
    """A fresh silver write is a static overwrite (no staging directory);
    a re-run into the existing path is a dynamic one even when the session
    default is static, so it replaces only the partitions it writes."""
    write, read = {
        "parquet": (write_silver, spark.read.parquet),
        "csv": (silver_csv_sink, lambda p: read_silver_csv(spark, p)),
    }[sink]
    out = str(tmp_path / "silver")
    silver = bronze_to_silver(read_raw_envelopes(spark, raw_dir), dedup="last")
    write(silver, out)
    assert _overwrite_mode_of_last_write(spark) == "static"

    rerun = (
        silver.where("symbol_clean = 'TCS' AND dt = '2024-01-01'")
        .orderBy("timestamp_unix")
        .limit(10)
    )
    default = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        write(rerun, out)
        assert _overwrite_mode_of_last_write(spark) == "dynamic"
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", default)
    counts = {
        (r["symbol_clean"], str(r["dt"])): r["count"]
        for r in read(out).groupBy("symbol_clean", "dt").count().collect()
    }
    assert counts == {
        (s, d): 10 if (s, d) == ("TCS", "2024-01-01") else 75
        for s in ("RELIANCE", "TCS", "INFY")
        for d in ("2024-01-01", "2024-01-02")
    }


def test_analytics_queries(silver):
    st = symbol_stats(silver, "RELIANCE", "2024-01-01").collect()
    assert len(st) == 1 and st[0]["num_records"] == 75
    ds = daily_summary(silver, "2024-01-01").collect()
    assert len(ds) == 3 and "price_change_percent" in ds[0].asDict()
    dr = date_range_stats(silver, "TCS", "2024-01-01", "2024-01-02").collect()
    assert [str(r["trade_date"]) for r in dr] == ["2024-01-01", "2024-01-02"]
    gainers, losers = top_movers_summary(silver, "2024-01-01", limit=2)
    assert gainers.count() == 2 and losers.count() == 2
    lp = {r["symbol_clean"]: r for r in latest_prices(silver).collect()}
    assert lp["INFY"]["latest_price"] == lp["INFY"]["close"]
    assert available_symbols(silver).count() == 3


def test_ohlcv_endpoint_resample_and_limit(silver):
    base = ohlcv_endpoint(silver, "RELIANCE", interval="5m")
    assert base.count() == 150
    res = ohlcv_endpoint(silver, "RELIANCE", interval="1h").collect()
    # 09:15-15:30 IST spans 7 distinct epoch-aligned hour buckets per day
    assert len(res) == 14
    limited = ohlcv_endpoint(silver, "RELIANCE", interval="5m", limit=10).collect()
    assert len(limited) == 10
    # tail semantics: ascending output, the LAST 10 candles
    alltimes = [r["timestamp_iso"] for r in base.orderBy("timestamp_iso").collect()]
    assert [r["timestamp_iso"] for r in limited] == alltimes[-10:]


def test_declared_sql_queries(spark, silver):
    register_ohlcv_view(spark, silver)
    for name in DECLARED_QUERIES:
        rows = run_declared_query(spark, name).collect()
        assert rows, f"{name} returned no rows"
    wds = {
        (r["symbol_clean"], str(r["trade_date"])): r
        for r in run_declared_query(spark, "window_daily_summary").collect()
    }
    assert len(wds) == 6  # 3 symbols x 2 days, DISTINCT collapsed


def test_run_metadata(silver):
    md = run_metadata(silver).collect()[0]
    assert md["row_count"] == 450 and md["symbols_count"] == 3
    assert md["processing_status"] == "completed"
