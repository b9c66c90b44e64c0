"""The query APIs (SURVEY.md SS3.1-3.2) over the silver candle table: the
four analytics Lambda query types (analytics/lambda_analytics.py) and the
REST handler pipelines (api/api_handler.py), minus the reference's silent
truncation caps (SURVEY.md SS7.8 — we take explicit ranges instead).

Each request is ONE lazy ``spark.sql`` statement over the silver DataFrame:
one parse, not dozens of py4j calls. PySpark's ``{}`` formatter binds the
request values (symbol, dates) as escaped SQL literals; ``interval`` and
``limit`` enter the text as validated ints. Pruning on (symbol_clean, dt)
replaces the reference's hand-built S3 prefixes (SS4).

A one-symbol request whose dates span at most ``_ONE_TASK_DAYS`` days
coalesces its pruned scan to one partition before the dedup window, the
aggregate and the sort: no Exchange, one task. That task reads the symbol's
daily files one after another, so an undated or longer request keeps the
parallel scan and its shuffle (sized in ROADMAP.md, "Candle API read
path"). All-symbol requests keep their shuffle.
"""

from __future__ import annotations

import datetime as dt
import operator
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.candles import price_change_sql
from ..functions.exact import mode_avg_sql, mode_sum_sql
from ..functions.timeparse import interval_to_minutes, period_to_timedelta
from ..operators.dedup import dedup_rank_sql
from ..operators.rollup import latest_row_sql, order_key_sql
from ..operators.topk import top_movers

_SILVER = "SELECT * FROM IDENTIFIER({silver}) WHERE "

#: The longest request, in days of ``dt`` directories, read by one task: on
#: a 250-trading-day silver one task won up to ~90 days and lost over a year.
_ONE_TASK_DAYS = 92


def _one_symbol(days: int | None) -> str:
    """The symbol's rows: one partition when the request spans at most
    ``_ONE_TASK_DAYS`` days (``None``: not bounded), else the parallel scan."""
    hint = "/*+ COALESCE(1) */ " if days is not None and days <= _ONE_TASK_DAYS else ""
    return f"SELECT {hint}* FROM IDENTIFIER({{silver}}) WHERE symbol_clean = {{symbol}}"


def _sql(silver: DataFrame, text: str, **values: str | int) -> DataFrame:
    """One statement: ``{silver}`` names ``silver``; any other ``{name}`` is
    the SQL literal of ``values[name]``, a str or an int.

    The view is dropped through the JVM session catalog
    (``sessionState().catalog()``), an internal API checked on Spark 4.1.2
    and absent under Spark Connect; ``test_analytics_queries`` asserts that
    a cached silver stays cached, which guards it."""
    if any(isinstance(v, bool) or not isinstance(v, (str, int)) for v in values.values()):
        raise TypeError(f"request values must be str or int, got {values!r}")
    spark, view = silver.sparkSession, f"_silver_{uuid.uuid4().hex}"
    silver.createOrReplaceTempView(view)
    try:
        return spark.sql(text, silver=view, **values)
    finally:  # not Catalog.dropTempView: it would uncache a cached ``silver``
        spark._jsparkSession.sessionState().catalog().dropTempView(view)


def _day(silver: DataFrame, date: str) -> tuple[str, dict]:
    """One day: ``dt`` prunes the directory; year/month/day hit the
    row-group stats of input without ``dt`` (a one-file extract)."""
    d = dt.date.fromisoformat(date)
    where = "year = {y} AND month = {m} AND day = {d}"
    where = f"dt = {{date}} AND {where}" if "dt" in silver.columns else where
    return where, {"date": d.isoformat(), "y": d.year, "m": d.month, "d": d.day}


def _range(
    silver: DataFrame, from_date: str | None, to_date: str | None
) -> tuple[str, dict, int | None]:
    """`` AND ``-joined inclusive day bounds on the candle time, repeated on
    ``dt`` (when present) to prune directories, and the days they span
    (``None`` unless both are given)."""
    cols = ["to_date(timestamp_iso)"] + (["dt"] if "dt" in silver.columns else [])
    where, values, span = "", {}, []
    for name, op, date in (("lo", ">=", from_date), ("hi", "<=", to_date)):
        if date:
            span.append(dt.date.fromisoformat(date))
            values[name] = span[-1].isoformat()
            where += "".join(f" AND {c} {op} {{{name}}}" for c in cols)
    return where, values, (span[1] - span[0]).days + 1 if len(span) == 2 else None


def _bar() -> str:
    """The OHLCV bar of a candle group: open of the first candle by
    (timestamp_iso, timestamp_unix), close of the last, exact volume sum."""
    key = order_key_sql("timestamp_iso", "timestamp_unix")
    return (
        f"min_by(open, {key}) AS open, max(high) AS high, min(low) AS low, "
        f"max_by(close, {key}) AS close, {mode_sum_sql('volume')} AS volume"
    )


def _rollup(rows: str) -> str:
    """A1 per (symbol, day): the OHLCV bar, avg_price = mean(close),
    num_records (analytics/lambda_analytics.py:146-166)."""
    return (
        f"SELECT symbol_clean, to_date(timestamp_iso) AS trade_date, {_bar()}, "
        f"{mode_avg_sql('close')} AS avg_price, count(1) AS num_records "
        f"FROM ({rows}) GROUP BY symbol_clean, to_date(timestamp_iso)"
    )


def symbol_stats(silver: DataFrame, symbol_clean: str, date: str) -> DataFrame:
    """query_type=symbol_stats — one symbol, one day, the A1 rollup
    (analytics/lambda_analytics.py:99-207)."""
    where, values = _day(silver, date)
    return _sql(silver, _rollup(f"{_one_symbol(1)} AND {where}"), symbol=symbol_clean, **values)


def daily_summary(silver: DataFrame, date: str) -> DataFrame:
    """query_type=daily_summary — all symbols for a day with the F8
    price-change columns (zero-open guarded), by pct desc
    (analytics/lambda_analytics.py:210-321)."""
    where, values = _day(silver, date)
    return _sql(silver, (
        f"SELECT *, {', '.join(price_change_sql())} FROM ({_rollup(_SILVER + where)}) "
        "ORDER BY price_change_percent DESC"
    ), **values)


def date_range_stats(
    silver: DataFrame, symbol_clean: str, from_date: str, to_date: str
) -> DataFrame:
    """query_type=date_range — per-day rollups across a range; the
    reference loops days sequentially (analytics/lambda_analytics.py:324-344),
    here it is one pruned scan + one aggregate."""
    where, values, days = _range(silver, from_date, to_date)
    text = _rollup(_one_symbol(days) + where) + " ORDER BY trade_date"
    return _sql(silver, text, symbol=symbol_clean, **values)


def top_movers_summary(
    silver: DataFrame, date: str, limit: int = 10
) -> tuple[DataFrame, DataFrame]:
    """query_type=top_movers — gainers/losers over ONE cached daily
    summary (the reference reuses its daily_summary result the same way,
    analytics/lambda_analytics.py:393-403); daily_summary of the same day
    builds the same plan, so it reads the cache too."""
    summary = daily_summary(silver, date).cache()
    return top_movers(summary, limit=limit)


def ohlcv_endpoint(
    silver: DataFrame,
    symbol_clean: str,
    from_date: str | None = None,
    to_date: str | None = None,
    interval: str = "5m",
    limit: int | None = None,
    dedup: str = "last",
) -> DataFrame:
    """GET /ohlcv/{symbol} (SS3.1): symbol filter -> inclusive day range
    (parse_date_to_timestamp 23:59:59, api/api_handler.py:305-328) -> dedup
    by timestamp, last (or first) by file sequence then fetch time ->
    optional resample -> asc sort, or the last ``limit`` rows ascending
    (api/api_handler.py:365-443, :654-743)."""
    minutes, n = interval_to_minutes(interval), operator.index(limit or 0)
    if minutes <= 0 or n < 0:
        raise ValueError(f"bad interval {interval!r} or limit {limit!r}")
    where, values, days = _range(silver, from_date, to_date)
    seq = ["_file_seq", "fetch_timestamp"] if "_file_seq" in silver.columns else ["fetch_timestamp"]
    rank = dedup_rank_sql(["symbol_clean", "timestamp_unix"], seq, dedup)
    rows = (
        f"SELECT * EXCEPT (_rn) FROM (SELECT *, {rank} AS _rn "
        f"FROM ({_one_symbol(days)}{where})) WHERE _rn = 1"
    )
    if minutes != 5:
        rows = (
            f"SELECT symbol_clean, {_bar()}, window.start AS timestamp_iso FROM ({rows}) "
            f"GROUP BY symbol_clean, window(timestamp_iso, '{minutes} minutes')"
        )
    if n:
        rows = f"SELECT * FROM ({rows}) ORDER BY timestamp_iso DESC LIMIT {n}"
    text = f"SELECT * FROM ({rows}) ORDER BY timestamp_iso"
    return _sql(silver, text, symbol=symbol_clean, **values)


def historical_lookback(
    silver: DataFrame, symbol_clean: str, period: str, now: dt.datetime
) -> DataFrame:
    """GET /historical/{symbol}?period=3m — candles at or after ``now``
    minus the period, with the reference's 30d/365d month/year
    approximations (api/api_handler.py:746-769); ``now`` is explicit for
    determinism (a naive one is local time, as ``F.lit`` reads it). The
    request spans the period, as the reference's ``now`` is the present."""
    back = period_to_timedelta(period)
    cutoff = round((now - back).timestamp() * 1_000_000)
    where = " AND timestamp_iso >= timestamp_micros({cutoff})"
    if "dt" in silver.columns:
        where += " AND dt >= to_date(timestamp_micros({cutoff}))"
    text = f"{_one_symbol(back.days + 1)}{where} ORDER BY timestamp_iso"
    return _sql(silver, text, symbol=symbol_clean, cutoff=cutoff)


def latest_prices(silver: DataFrame) -> DataFrame:
    """GET /latest — the last candle per symbol by (timestamp_iso,
    timestamp_unix), latest_price = its close (api/api_handler.py:479-514)."""
    latest = latest_row_sql("timestamp_iso", "timestamp_unix")
    return _sql(silver, (
        f"SELECT r.*, r.close AS latest_price FROM (SELECT {latest} AS r "
        "FROM IDENTIFIER({silver}) GROUP BY symbol_clean)"
    ))


def volatile_days(daily_summary_df: DataFrame, threshold: float = 2.0) -> DataFrame:
    """P11/O7 — days with |price_change_percent| above threshold, ranked
    by magnitude (examples/query_analytics.py:181-196)."""
    return daily_summary_df.filter(
        F.abs(F.col("price_change_percent")) > threshold
    ).orderBy(F.abs(F.col("price_change_percent")).desc())


def trading_hours_only(df: DataFrame, ts_col: str = "timestamp_iso") -> DataFrame:
    """P13 — keep candles inside the NSE session: Mon-Fri, 09:15-15:30 IST
    (the reference gates ingestion on this wall-clock window,
    ingestion/lambda_ingestion.py:28-58; as a data predicate it filters on
    the event time converted to IST)."""
    ist = F.from_utc_timestamp(F.col(ts_col), "Asia/Kolkata")
    minutes = F.hour(ist) * 60 + F.minute(ist)
    return df.filter(
        (F.dayofweek(ist).between(2, 6))  # Mon=2 .. Fri=6
        & (minutes >= 9 * 60 + 15)
        & (minutes <= 15 * 60 + 30)
    )


def available_symbols(silver: DataFrame) -> DataFrame:
    """GET /symbols — partition discovery becomes a distinct over the
    partition column (api/api_handler_csv.py:31-54)."""
    return silver.select("symbol_clean").distinct().orderBy("symbol_clean")
