"""End-to-end OHLCV pipeline tests on deterministic mock envelopes
(seed 42 per FIXTURES.md): bronze JSON -> silver parquet -> query APIs ->
declared SQL set."""

from __future__ import annotations

import datetime as dt
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.analytics import (
    available_symbols,
    daily_summary,
    date_range_stats,
    historical_lookback,
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
from scripts.verify_local import frame_fingerprint

SYMBOLS = ["NSE:RELIANCE-EQ", "NSE:TCS-EQ", "NSE:INFY-EQ"]


@pytest.fixture(scope="module")
def raw_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("raw")
    write_mock_envelope_files(spark, str(d), SYMBOLS, days=2, fetches=2)
    return str(d)


@pytest.fixture(scope="module")
def silver_path(spark, raw_dir, tmp_path_factory):
    raw = read_raw_envelopes(spark, raw_dir)
    out = str(tmp_path_factory.mktemp("silver"))
    write_silver(bronze_to_silver(raw, dedup="last"), out)
    return out


@pytest.fixture(scope="module")
def silver(spark, silver_path):
    return spark.read.parquet(silver_path)


T0 = 1704080700  # 2024-01-01 03:45 UTC


@pytest.fixture(scope="module")
def edge_path(spark, tmp_path_factory):
    """Silver rows the mock ETL never writes: REV's candle at T0 is revised
    by a later fetch; at T0+300 the later file (``_file_seq`` 2) carries the
    earlier fetch time, so the tie-break order decides; ZERO's day opens at
    0; O'X has a quote in its name. Two days of REV, one of the others."""
    rows = [("REV", T0 + d * 86400 + 300 * k, 100.0 + k, 110.0 + k, 90.0 + k,
             105.0 + k + d, 10 * (k + 1), "f1", 1) for d in (0, 1) for k in range(6)]
    rows += [
        ("REV", T0, 100.0, 112.0, 90.0, 101.5, 99, "f2", 2),
        ("REV", T0 + 300, 101.0, 111.0, 91.0, 107.5, 77, "f0", 2),
        ("ZERO", T0, 0.0, 5.0, 0.0, 4.0, 1, "f1", 1),
        ("ZERO", T0 + 300, 4.0, 6.0, 3.0, 5.0, 2, "f1", 1),
        ("O'X", T0, 50.0, 52.0, 49.0, 51.0, 3, "f1", 1),
        ("O'X", T0 + 300, 51.0, 55.0, 50.0, 54.0, 4, "f1", 1),
    ]
    ts = "timestamp_seconds(timestamp_unix)"
    df = spark.createDataFrame(
        rows,
        "symbol_clean string, timestamp_unix long, open double, high double, low double, "
        "close double, volume long, fetch_timestamp string, _file_seq long",
    ).selectExpr(
        "concat('NSE:', symbol_clean, '-EQ') AS symbol", "*", f"{ts} AS timestamp_iso",
        "'5' AS resolution", f"year({ts}) AS year", f"month({ts}) AS month",
        f"day({ts}) AS day", f"hour({ts}) AS hour", f"date_format({ts}, 'yyyy-MM-dd') AS dt",
    )
    out = str(tmp_path_factory.mktemp("edge") / "silver")
    df.write.partitionBy("symbol_clean", "dt").parquet(out)
    return out


def _duck(path):
    """DuckDB over the silver files. Spark escapes the quote in a partition
    directory name (``symbol_clean=O%27X``); DuckDB reads the name raw."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW silver AS SELECT * REPLACE (replace(symbol_clean, '%27', '''') "
        f"AS symbol_clean) FROM read_parquet('{path}/*/*/*.parquet', "
        "hive_partitioning = true, hive_types_autocast = false)"
    )
    return con


def _plain(v):
    """A collected value, engine-neutral: timestamps as epoch seconds."""
    if isinstance(v, dt.datetime):
        return int(v.timestamp())
    return v.isoformat() if isinstance(v, dt.date) else v


def _matches(con, got, sql, *params):
    """Spark frame ``got`` equals DuckDB ``sql`` by frame_fingerprint over
    the DuckDB columns, as perfbench checks the API; returns ``got``'s rows."""
    cur = con.execute(sql, list(params))
    cols = [d[0] for d in cur.description]
    want = [[_plain(v) for v in r] for r in cur.fetchall()]
    rows = got.collect()
    fp = frame_fingerprint(cols, [[_plain(r[c]) for c in cols] for r in rows])
    assert fp == frame_fingerprint(cols, want), (sql, params)
    return rows


_BAR = (
    "arg_min(open, timestamp_unix) AS open, max(high) AS high, min(low) AS low, "
    "arg_max(close, timestamp_unix) AS close, "
    "CAST(sum(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS volume"
)
_ROLLUP = (
    f"SELECT symbol_clean, dt AS trade_date, {_BAR}, CAST(sum(CAST(close AS "
    "DECIMAL(38,6))) AS DOUBLE) / count(close) AS avg_price, count(*) AS num_records "
    "FROM silver WHERE {} GROUP BY symbol_clean, dt"
)
_PCT = "CASE WHEN open <> 0 THEN ({}) / open * 100.0 ELSE 0.0 END"
_SUMMARY = (
    f"SELECT *, close - open AS price_change, {_PCT.format('close - open')} AS "
    f"price_change_percent, high - low AS daily_range, {_PCT.format('high - low')} AS "
    f"volatility_percent FROM ({_ROLLUP.format('dt = ?')})"
)
_POINTS = (
    "SELECT symbol_clean, timestamp_unix, open, high, low, close, volume, fetch_timestamp "
    "FROM silver WHERE symbol_clean = ? AND dt BETWEEN ? AND ? QUALIFY row_number() OVER "
    "(PARTITION BY symbol_clean, timestamp_unix ORDER BY {}) = 1"
)


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


def test_analytics_queries(spark, silver, silver_path, edge_path):
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

    # every request against its DuckDB twin over the same files
    for path, sym in ((silver_path, "TCS"), (edge_path, "REV")):
        s, con, d0, d1 = spark.read.parquet(path), _duck(path), "2024-01-01", "2024-01-02"
        for q in (sym, "O'X", "NOPE"):
            where = "symbol_clean = ? AND dt = ?"
            _matches(con, symbol_stats(s, q, d0), _ROLLUP.format(where), q, d0)
            where = "symbol_clean = ? AND dt BETWEEN ? AND ?"
            got = _matches(con, date_range_stats(s, q, d0, d1), _ROLLUP.format(where), q, d0, d1)
            assert [r["trade_date"] for r in got] == sorted(r["trade_date"] for r in got)
        long = (sym, "2023-12-01", "2024-03-31")  # over 92 days: the parallel scan
        _matches(con, date_range_stats(s, *long), _ROLLUP.format(where), *long)
        for d in (d0, d1):
            got = _matches(con, daily_summary(s, d), _SUMMARY, d)
            pct = [r["price_change_percent"] for r in got]
            assert got and pct == sorted(pct, reverse=True)
            gainers, losers = top_movers_summary(s, d, limit=2)
            _matches(con, gainers, f"{_SUMMARY} ORDER BY price_change_percent DESC LIMIT 2", d)
            _matches(con, losers, f"{_SUMMARY} ORDER BY price_change_percent LIMIT 2", d)
        _matches(con, latest_prices(s), "SELECT symbol_clean, max(timestamp_unix) AS "
                 "timestamp_unix, arg_max(close, timestamp_unix) AS latest_price FROM silver "
                 "GROUP BY symbol_clean")

    edge = spark.read.parquet(edge_path)
    zero = {r["symbol_clean"]: r for r in daily_summary(edge, "2024-01-01").collect()}["ZERO"]
    assert zero["open"] == 0.0 and zero["price_change_percent"] == 0.0
    assert zero["volatility_percent"] == 0.0
    assert symbol_stats(edge, "O'X", "2024-01-01").first()["num_records"] == 2
    # an unknown or hostile symbol: no rows, the columns of a known one
    for q in ("NOPE", "REV' OR '1' = '1"):
        assert symbol_stats(edge, q, "2024-01-01").collect() == []
        assert date_range_stats(edge, q, "2024-01-01", "2024-01-02").collect() == []
    assert symbol_stats(edge, "NOPE", "2024-01-01").columns == [
        "symbol_clean", "trade_date", "open", "high", "low", "close", "volume",
        "avg_price", "num_records",
    ]
    # a request leaves a cached silver cached
    cached = spark.read.parquet(edge_path).cache()
    try:
        cached.count()
        symbol_stats(cached, "REV", "2024-01-01").collect()
        assert cached.storageLevel.useMemory
    finally:
        cached.unpersist()


def test_historical_lookback_cutoff(spark, edge_path):
    """``3m`` looks back 90 days, and a candle exactly at the cutoff is in."""
    edge, con = spark.read.parquet(edge_path), _duck(edge_path)
    now = dt.datetime.fromtimestamp(T0 + 300, dt.timezone.utc) + dt.timedelta(days=90)
    got = _matches(con, historical_lookback(edge, "REV", "3m", now),
                   "SELECT symbol_clean, timestamp_unix, close, fetch_timestamp FROM silver "
                   "WHERE symbol_clean = 'REV' AND timestamp_unix >= ?", T0 + 300)
    ts = [r["timestamp_unix"] for r in got]
    assert ts[0] == T0 + 300 and ts == sorted(ts) and len(ts) == 12
    later = now + dt.timedelta(seconds=1)
    assert historical_lookback(edge, "REV", "3m", later).first()["timestamp_unix"] == T0 + 600
    assert historical_lookback(edge, "NOPE", "3m", now).collect() == []


def test_ohlcv_endpoint_resample_and_limit(spark, silver, silver_path, edge_path):
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

    # against DuckDB: dedup direction, tie-break order, range, resample, limit
    edge = spark.read.parquet(edge_path)
    for s, path, sym, order in (
        (silver, silver_path, "TCS", "fetch_timestamp {0}"),
        (edge, edge_path, "REV", "_file_seq {0}, fetch_timestamp {0}"),
        (edge.drop("_file_seq"), edge_path, "REV", "fetch_timestamp {0}"),
    ):
        con = _duck(path)
        # one task: a day, two days; the parallel scan: no dates, 122 days
        requests = [(sym, "2024-01-02", "2024-01-02")] + [
            (q, "2024-01-01", "2024-01-02") for q in (sym, "O'X", "NOPE")
        ] + [(sym, None, None), (sym, "2023-12-01", "2024-03-31")]
        for (q, d0, d1), keep in [(r, k) for r in requests for k in ("last", "first")]:
            pts = _POINTS.format(order.format("DESC" if keep == "last" else "ASC"))
            args = (q, d0 or "1970-01-01", d1 or "2099-12-31")
            got = _matches(con, ohlcv_endpoint(s, q, d0, d1, dedup=keep), pts, *args)
            assert [r["timestamp_iso"] for r in got] == sorted(r["timestamp_iso"] for r in got)
            assert {r["symbol_clean"] for r in got} <= {q}
            _matches(con, ohlcv_endpoint(s, q, d0, d1, limit=4, dedup=keep),
                     f"{pts} ORDER BY timestamp_unix DESC LIMIT 4", *args)
            interval, w = ("15m", 900) if keep == "last" else ("1h", 3600)
            bars = (f"SELECT symbol_clean, (timestamp_unix // {w}) * {w} AS timestamp_iso, "
                    f"{_BAR} FROM ({pts}) GROUP BY symbol_clean, timestamp_unix // {w}")
            _matches(con, ohlcv_endpoint(s, q, d0, d1, interval, dedup=keep), bars, *args)
            _matches(con, ohlcv_endpoint(s, q, d0, d1, interval, limit=1, dedup=keep),
                     f"{bars} ORDER BY timestamp_iso DESC LIMIT 1", *args)
    # REV at T0: the later fetch wins under "last", the earlier under
    # "first"; at T0+300 the file sequence outranks the fetch time
    for s, want in ((edge, (101.5, 107.5, 105.0, 106.0)),
                    (edge.drop("_file_seq"), (101.5, 106.0, 105.0, 107.5))):
        got = tuple(
            r["close"] for keep in ("last", "first")
            for r in ohlcv_endpoint(s, "REV", limit=1000, dedup=keep).collect()[:2]
        )
        assert got == want
    assert ohlcv_endpoint(edge, "NOPE").columns == edge.columns
    assert (ohlcv_endpoint(edge, "NOPE", interval="15m").columns
            == ohlcv_endpoint(edge, "REV", interval="15m").columns)
    assert [r["close"] for r in ohlcv_endpoint(edge, "O'X").collect()] == [51.0, 54.0]
    for bad in ({"dedup": "middle"}, {"interval": "0m"}, {"limit": -1}):
        with pytest.raises(ValueError):
            ohlcv_endpoint(edge, "REV", **bad)
    with pytest.raises(TypeError):
        ohlcv_endpoint(edge, "REV", limit="5")


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
