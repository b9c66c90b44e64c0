"""Unit tests for the core operators against hand-computed frames
(the test pyramid the reference lacks, SURVEY.md SS5)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators import (
    asof_join,
    daily_rollup,
    dedup_by_key,
    enrich,
    latest_snapshot,
    resample_series,
    sma,
    rsi,
    tail_limit,
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def candles(spark):
    rows = [
        # (symbol, ts, price, seq)
        ("A", ts("2024-01-01 09:15:00"), 100.0, 1),
        ("A", ts("2024-01-01 09:20:00"), 103.0, 2),
        ("A", ts("2024-01-01 09:25:00"), 99.0, 3),
        ("A", ts("2024-01-02 09:15:00"), 110.0, 4),
        ("B", ts("2024-01-01 09:15:00"), 50.0, 5),
        ("B", ts("2024-01-01 09:40:00"), 55.0, 6),
    ]
    return spark.createDataFrame(rows, "symbol string, t timestamp, price double, seq long")


def test_daily_rollup_ordered_first_last(candles):
    out = {
        (r["symbol"], str(r["trade_date"])): r
        for r in daily_rollup(candles, ["symbol"], "t", "price", tiebreak="seq").collect()
    }
    a1 = out[("A", "2024-01-01")]
    assert a1["open"] == 100.0 and a1["close"] == 99.0
    assert a1["high"] == 103.0 and a1["low"] == 99.0
    assert a1["num_records"] == 3
    assert abs(a1["avg_price"] - (100 + 103 + 99) / 3) < 1e-12
    assert out[("B", "2024-01-01")]["open"] == 50.0


def test_symbol_stats_uses_own_columns(spark):
    """Parity pin (analytics/lambda_analytics.py:146-166): day open is the
    FIRST row's OPEN column, day close the LAST row's CLOSE column — not
    first/last of a single price series."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.analytics import (
        symbol_stats,
    )

    rows = [
        # symbol, ts, epoch, open, high, low, close, volume, year, month, day
        ("A", ts("2024-01-01 09:15:00"), 1, 100.0, 106.0, 99.0, 104.0, 10, 2024, 1, 1),
        ("A", ts("2024-01-01 09:20:00"), 2, 104.0, 105.0, 98.0, 101.0, 20, 2024, 1, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "symbol_clean string, timestamp_iso timestamp, timestamp_unix long, "
        "open double, high double, low double, close double, volume long, "
        "year int, month int, day int",
    )
    r = symbol_stats(df, "A", "2024-01-01").collect()[0]
    assert r["open"] == 100.0      # first OPEN, not first close (104)
    assert r["close"] == 101.0     # last CLOSE, not last open (104)
    assert r["high"] == 106.0 and r["low"] == 98.0
    assert r["volume"] == 30.0
    assert abs(r["avg_price"] - 102.5) < 1e-12  # mean of CLOSE
    assert r["num_records"] == 2


def test_dedup_directions(spark):
    rows = [("A", 1, 10.0, 1), ("A", 1, 11.0, 2), ("A", 2, 12.0, 3)]
    df = spark.createDataFrame(rows, "symbol string, t long, price double, seq long")
    last = dedup_by_key(df, ["symbol", "t"], "seq", keep="last").collect()
    first = dedup_by_key(df, ["symbol", "t"], "seq", keep="first").collect()
    assert {r["price"] for r in last} == {11.0, 12.0}
    assert {r["price"] for r in first} == {10.0, 12.0}


def test_approx_percentiles_hist_accuracy_and_invariance(spark, sf_dir):
    """Histogram quantiles must land within one bin width of the exact
    percentile and be identical under repartitioning (integer counts ->
    partition-count-invariant, unlike percentile_approx)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.rollup import (
        approx_percentiles_hist,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    got = {
        r["event_type"]: r
        for r in approx_percentiles_hist(
            ev, ["event_type"], "value", probs=(0.5, 0.9), bins=64
        ).collect()
    }
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("x50"),
            F.expr("percentile(value, 0.9)").alias("x90"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .collect()
    }
    for et, r in got.items():
        bin_w = (exact[et]["hi"] - exact[et]["lo"]) / 64.0
        assert abs(r["p50"] - exact[et]["x50"]) <= bin_w, et
        assert abs(r["p90"] - exact[et]["x90"]) <= bin_w, et
    again = {
        r["event_type"]: r
        for r in approx_percentiles_hist(
            ev.repartition(11), ["event_type"], "value", probs=(0.5, 0.9), bins=64
        ).collect()
    }
    for et in got:
        assert got[et]["p50"] == again[et]["p50"]  # bit-identical
        assert got[et]["p90"] == again[et]["p90"]


def test_sma_chunked_equals_global_window(spark):
    """The chunked (skew-robust) SMA must reproduce the global-window SMA
    bit-for-bit when every chunk holds >= n-1 rows. Hourly candles
    (24 rows per day-chunk >= 19) over 8 days with one whole day MISSING:
    the carry must route the pre-gap history to the next chunk WITH data,
    not to the empty calendar day."""
    import datetime as dt

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators import (
        sma,
        sma_chunked,
    )

    rows = []
    for sym in ("A", "B"):
        for i in range(8 * 24):
            ts = dt.datetime(2024, 1, 1) + dt.timedelta(hours=i)
            if ts.date() == dt.date(2024, 1, 3):  # gap day
                continue
            rows.append((sym, ts, i, float((i * 37 + hash(sym) % 97) % 211) / 7))
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, seq long, v double")
    plain = {
        (r["symbol"], r["seq"]): r["sma_20"]
        for r in sma(df, ["symbol"], "ts", "v", n=20, skew_safe=False).collect()
    }
    chunked = {
        (r["symbol"], r["seq"]): r["sma_20"]
        for r in sma_chunked(df, ["symbol"], "ts", "v", n=20, tiebreak="seq").collect()
    }
    assert plain == chunked and len(plain) == 2 * 7 * 24  # bit-identical
    # the DEFAULT call path (skew_safe="auto" on a timestamp ts) routes
    # through the chunked form and must stay bit-identical too
    routed = {
        (r["symbol"], r["seq"]): r["sma_20"]
        for r in sma(df, ["symbol"], "ts", "v", n=20, tiebreak="seq").collect()
    }
    assert plain == routed


def test_sma_chunked_exact_on_thin_chunks(spark):
    """Cascade carry: with ONE ROW PER CHUNK (daily bars chunked by day,
    n=20), the trailing history of every row spans the previous 19
    chunks — the next-chunk-only carry would truncate it; the n-1-chunk
    fan-out must reconstruct the global frame exactly, including across
    a 40-day gap."""
    import datetime as dt

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators import (
        sma,
        sma_chunked,
    )

    rows = []
    for sym in ("A", "B"):
        for i in range(60):
            day = dt.datetime(2024, 1, 1) + dt.timedelta(
                days=i if i < 30 else i + 40
            )
            rows.append((sym, day, i, float((i * 53 + len(sym)) % 97) / 3))
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, seq long, v double")
    plain = {
        (r["symbol"], r["seq"]): r["sma_20"]
        for r in sma(df, ["symbol"], "ts", "v", n=20, skew_safe=False).collect()
    }
    chunked = {
        (r["symbol"], r["seq"]): r["sma_20"]
        for r in sma_chunked(df, ["symbol"], "ts", "v", n=20, tiebreak="seq").collect()
    }
    assert plain == chunked and len(plain) == 2 * 60
    # min_periods must follow the same reconstructed counts
    p2 = {
        (r["symbol"], r["seq"]): r["sma_20"]
        for r in sma(
            df, ["symbol"], "ts", "v", n=20, min_periods=20, skew_safe=False
        ).collect()
    }
    c2 = {
        (r["symbol"], r["seq"]): r["sma_20"]
        for r in sma_chunked(
            df, ["symbol"], "ts", "v", n=20, min_periods=20, tiebreak="seq"
        ).collect()
    }
    assert p2 == c2 and sum(v is None for v in p2.values()) == 2 * 19


def test_dedup_agg_form_equals_window_form(spark, sf_dir):
    """dedup_by_key_agg (skew-robust partial-agg form) must return the
    identical row set as the window form on real data, both directions."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators import (
        dedup_by_key_agg,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").withColumn(
        "trade_date", F.to_date("ts")
    )
    keys = ["user_id", "trade_date", "event_type"]
    for keep in ("first", "last"):
        w = sorted(
            tuple(r) for r in dedup_by_key(ev, keys, ["ts", "event_id"], keep).collect()
        )
        a = sorted(
            tuple(r)
            for r in dedup_by_key_agg(ev, keys, ["ts", "event_id"], keep).collect()
        )
        assert w == a and w


def test_resample_epoch_aligned(spark):
    # 09:15 and 09:20 land in the same 10-min epoch bucket [09:10, 09:20)?
    # No: epoch-aligned 10-min buckets are :00/:10/:20 -> 09:15 in [09:10,09:20),
    # 09:20 in [09:20,09:30). Mirrors the reference's (ts // 600) * 600.
    rows = [
        ("A", ts("2024-01-01 09:15:00"), 1.0, 1),
        ("A", ts("2024-01-01 09:19:00"), 2.0, 2),
        ("A", ts("2024-01-01 09:20:00"), 3.0, 3),
    ]
    df = spark.createDataFrame(rows, "symbol string, t timestamp, v double, seq long")
    out = resample_series(df, 10, ["symbol"], "t", "v", tiebreak="seq").collect()
    buckets = {str(r["bucket_start"]): r for r in out}
    b1 = buckets["2024-01-01 09:10:00"]
    assert b1["open"] == 1.0 and b1["close"] == 2.0 and b1["num_records"] == 2
    assert buckets["2024-01-01 09:20:00"]["open"] == 3.0


def test_latest_snapshot(candles):
    out = {r["symbol"]: r for r in latest_snapshot(candles, ["symbol"], "t", "seq").collect()}
    assert out["A"]["price"] == 110.0
    assert out["B"]["price"] == 55.0


def test_tail_limit(candles):
    out = tail_limit(candles.filter(F.col("symbol") == "A"), "t", 2, "seq").collect()
    assert [r["price"] for r in out] == [99.0, 110.0]  # ascending, last two


def test_sma_window(spark):
    rows = [("A", i, float(i)) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "symbol string, t long, v double")
    out = sma(df, ["symbol"], "t", "v", n=3).orderBy("t").collect()
    assert [r["sma_3"] for r in out] == [1.0, 1.5, 2.0, 3.0, 4.0]


def test_rsi_all_gains_is_100(spark):
    rows = [("A", i, float(i)) for i in range(1, 20)]
    df = spark.createDataFrame(rows, "symbol string, t long, v double")
    out = rsi(df, ["symbol"], "t", "v", n=14).orderBy("t").collect()
    assert out[0]["rsi_14"] is None  # warm-up
    assert out[-1]["rsi_14"] == 100.0  # strictly increasing series


def test_enrich_broadcast_join(spark):
    fact = spark.createDataFrame([("A", 1.0), ("B", 2.0), ("C", 3.0)], "symbol string, v double")
    dim = spark.createDataFrame([("A", "Auto"), ("B", "Bank")], "symbol string, sector string")
    out = {r["symbol"]: r["sector"] for r in enrich(fact, dim, "symbol").collect()}
    assert out == {"A": "Auto", "B": "Bank", "C": None}
    plan = enrich(fact, dim, "symbol")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_asof_join_backward(spark):
    trades = spark.createDataFrame(
        [("A", 10), ("A", 25), ("A", 5)], "symbol string, t long"
    )
    quotes = spark.createDataFrame(
        [("A", 8, 100.0), ("A", 20, 105.0)], "symbol string, t long, px double"
    )
    out = {
        r["t"]: r["px_asof"]
        for r in asof_join(trades, quotes, ["symbol"], "t", "t").collect()
    }
    assert out == {5: None, 10: 100.0, 25: 105.0}


def test_rolling_zscore_known_values_and_guards(spark):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.windows import (
        rolling_zscore,
    )

    rows = [("A", i, 1.0 if i < 9 else 2.0) for i in range(10)]
    rows += [("B", i, 5.0) for i in range(12)]  # flat series: no scale
    df = spark.createDataFrame(rows, "k string, t long, value double")
    out = rolling_zscore(df, ["k"], "t", "value", n=50, min_obs=10).collect()
    by = {(r["k"], r["t"]): r["zscore"] for r in out}
    # warm-up: fewer than min_obs trailing rows -> NULL
    assert by[("A", 8)] is None
    # 10th row of A: nine 1.0s then 2.0 -> mean 1.1, sd sqrt(0.1*0.9/9+...)
    import statistics

    vals = [1.0] * 9 + [2.0]
    expect = (2.0 - statistics.mean(vals)) / statistics.stdev(vals)
    assert abs(by[("A", 9)] - expect) < 1e-9
    # zero-variance window -> NULL, never a division blow-up
    assert all(by[("B", t)] is None for t in range(12))


def test_resample_gapfill_carries_close_and_flags(spark):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.resample import (
        resample_gapfill,
    )
    from pyspark.sql import functions as F

    # key A: ticks in minute-buckets 0 and 30 with a 15-min hole at 15;
    # key B: single bucket (no holes, no fill rows)
    rows = [
        ("A", "2024-01-01 00:01:00", 10.0, 1),
        ("A", "2024-01-01 00:05:00", 11.0, 2),
        ("A", "2024-01-01 00:31:00", 12.0, 3),
        ("B", "2024-01-01 00:02:00", 5.0, 4),
    ]
    df = spark.createDataFrame(
        rows, "k string, ts string, value double, event_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r["k"], str(r["bucket_start"])): r
        for r in resample_gapfill(
            df, 15, ["k"], "ts", "value", tiebreak="event_id"
        ).collect()
    }
    assert len(out) == 4  # A: 3 buckets (1 filled), B: 1
    real = out[("A", "2024-01-01 00:00:00")]
    assert (real["open"], real["close"], real["num_records"], real["filled"]) == (
        10.0, 11.0, 2, False
    )
    hole = out[("A", "2024-01-01 00:15:00")]
    assert (hole["open"], hole["high"], hole["low"], hole["close"]) == (
        11.0, 11.0, 11.0, 11.0
    )  # previous close carried into all four prices
    assert (hole["total_value"], hole["num_records"], hole["filled"]) == (
        0.0, 0, True
    )
    last = out[("A", "2024-01-01 00:30:00")]
    assert last["close"] == 12.0 and not last["filled"]
    assert not out[("B", "2024-01-01 00:00:00")]["filled"]


def test_resample_gapfill_consistent_with_plain_resample(spark):
    """Non-filled gapfill rows must be EXACTLY the plain resample rows,
    and per key the bucket count is (max-min)/width + 1."""
    import random

    from pyspark.sql import functions as F

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.resample import (
        resample_gapfill,
        resample_series,
    )

    rng = random.Random(7)
    rows = []
    for k in ("X", "Y"):
        for i in range(40):
            if rng.random() < 0.5:  # sparse: ~half the slots have ticks
                rows.append(
                    (k, f"2024-01-01 {i // 4:02d}:{(i % 4) * 15 + 1:02d}:00",
                     round(rng.uniform(1, 100), 2), i)
                )
    df = spark.createDataFrame(
        rows, "k string, ts string, value double, event_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    plain = {
        (r["k"], str(r["bucket_start"])): (r["open"], r["close"], r["num_records"])
        for r in resample_series(df, 15, ["k"], "ts", "value", tiebreak="event_id").collect()
    }
    gf = resample_gapfill(df, 15, ["k"], "ts", "value", tiebreak="event_id").collect()
    real = {
        (r["k"], str(r["bucket_start"])): (r["open"], r["close"], r["num_records"])
        for r in gf if not r["filled"]
    }
    assert real == plain
    for k in ("X", "Y"):
        buckets = sorted(r["bucket_start"] for r in gf if r["k"] == k)
        span = (buckets[-1] - buckets[0]).total_seconds()
        assert len(buckets) == span / 900 + 1  # dense grid, no dup buckets


def test_asof_join_tolerance_nulls_stale_matches(spark):
    """merge_asof(tolerance=...) semantics: the latest match older than
    the bound yields NULLs; an in-tolerance match passes through; a key
    with no history stays NULL. Newest-candidate equivalence: since the
    backward match IS the newest right row, tolerance-checking it equals
    restricting the join."""
    import datetime as dt

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.joins import (
        asof_join,
    )

    left = spark.createDataFrame(
        [
            ("A", dt.datetime(2024, 3, 1)),   # match 2024-02-25 (5d, in)
            ("A", dt.datetime(2024, 6, 1)),   # latest 2024-02-25 (97d, stale)
            ("B", dt.datetime(2024, 3, 1)),   # no history at all
        ],
        "k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("A", dt.date(2024, 2, 25), 42), ("A", dt.date(2024, 1, 1), 7)],
        "k string, d date, v int",
    )
    out = {
        (r["k"], str(r["ts"])): r["v_asof"]
        for r in asof_join(
            left, right, ["k"], "ts", "d", tiebreak="v", tolerance="30 days"
        ).collect()
    }
    assert out[("A", "2024-03-01 00:00:00")] == 42
    assert out[("A", "2024-06-01 00:00:00")] is None  # stale -> NULL
    assert out[("B", "2024-03-01 00:00:00")] is None


def test_asof_join_row_atomic_fill_with_null_value_columns(spark):
    """The fill must be row-atomic: a NULL inside the matched right
    row's value column stays NULL — it must NOT fall back to an older
    (possibly out-of-tolerance) row's value while _rts tracks the newer
    match."""
    import datetime as dt

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.joins import (
        asof_join,
    )

    left = spark.createDataFrame(
        [("A", dt.datetime(2024, 3, 1))], "k string, ts timestamp"
    )
    # newest right row (in tolerance) has v=NULL; an old stale row has
    # v=7 — the old value must not leak through the per-column fill
    right = spark.createDataFrame(
        [("A", dt.date(2024, 2, 25), None), ("A", dt.date(2023, 1, 1), 7)],
        "k string, d date, v int",
    )
    row = asof_join(
        left, right, ["k"], "ts", "d", tolerance="30 days"
    ).collect()[0]
    assert row["v_asof"] is None  # matched row's own NULL, not 7

    # without tolerance the same row-atomicity holds (doc contract:
    # "attach the latest right row", singular)
    row2 = asof_join(left, right, ["k"], "ts", "d").collect()[0]
    assert row2["v_asof"] is None
