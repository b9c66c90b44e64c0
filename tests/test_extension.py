"""Grouped-map extension point: user pandas indicators per symbol."""

from __future__ import annotations

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.extension import (
    bollinger_bands,
    bollinger_bands_exact,
    grouped_fold,
)


def test_bollinger_via_extension_point(spark):
    rows = [
        ("A", i, 100.0 + (i % 5)) for i in range(1, 31)
    ] + [("B", i, 50.0) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "symbol_clean string, t long, close double")
    out = grouped_fold(
        df,
        ["symbol_clean"],
        bollinger_bands(window=5, num_std=2.0),
        "symbol_clean string, t long, close double, "
        "bb_mid double, bb_upper double, bb_lower double",
        order=["t"],
    )
    got = {(r["symbol_clean"], r["t"]): r for r in out.collect()}
    assert len(got) == 40
    # constant series: zero std -> bands collapse onto the mid
    b = got[("B", 10)]
    assert b["bb_mid"] == b["bb_upper"] == b["bb_lower"] == 50.0
    # varying series: bands straddle the mid
    a = got[("A", 30)]
    assert a["bb_lower"] < a["bb_mid"] < a["bb_upper"]
    # chronological ordering inside the group was honored (rolling means
    # at t=1 see only the first row)
    assert got[("A", 1)]["bb_mid"] == got[("A", 1)]["close"]


def test_bollinger_exact_matches_pandas_rolling(spark):
    """The determinism-contract variant must agree with the plain pandas
    rolling implementation to float tolerance (its only difference is
    exact decimal-quantum summation)."""
    rows = [("A", i, 100.0 + ((i * 7) % 13) * 0.37) for i in range(1, 61)]
    df = spark.createDataFrame(rows, "symbol_clean string, t long, close double")
    schema = (
        "symbol_clean string, t long, close double, "
        "bb_mid double, bb_upper double, bb_lower double"
    )
    plain = {
        r["t"]: r
        for r in grouped_fold(
            df, ["symbol_clean"], bollinger_bands(window=20), schema, ["t"]
        ).collect()
    }
    exact = {
        r["t"]: r
        for r in grouped_fold(
            df, ["symbol_clean"], bollinger_bands_exact(window=20), schema, ["t"]
        ).collect()
    }
    assert set(plain) == set(exact)
    for t, p in plain.items():
        e = exact[t]
        for c in ("bb_mid", "bb_upper", "bb_lower"):
            assert abs(p[c] - e[c]) < 1e-6, (t, c, p[c], e[c])

def test_ema_macd_exact_tracks_float_recurrence():
    """The integer micro-unit EMA fold must track the plain float
    recurrence to ~1e-6 (one quantum per step) and be exactly
    reproducible: same input -> bit-identical output."""
    import numpy as np
    import pandas as pd

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.operators.extension import (
        ema_macd_exact,
    )

    rng = np.random.default_rng(7)
    close = np.round(100 + rng.normal(0, 1, 500).cumsum(), 2)
    pdf = pd.DataFrame({"close": close})
    out = ema_macd_exact(fast=12, slow=26)(pdf)

    # float reference recurrence
    ref_f = np.empty(len(close))
    ref_s = np.empty(len(close))
    ef = es = close[0]
    for i, x in enumerate(close):
        if i:
            ef += 2.0 * (x - ef) / 13.0
            es += 2.0 * (x - es) / 27.0
        ref_f[i] = ef
        ref_s[i] = es
    assert np.max(np.abs(out["ema_fast"].to_numpy() - ref_f)) < 1e-3
    assert np.max(np.abs(out["ema_slow"].to_numpy() - ref_s)) < 1e-3
    assert np.allclose(
        out["macd"].to_numpy(),
        out["ema_fast"].to_numpy() - out["ema_slow"].to_numpy(),
        atol=2e-6,
    )

    again = ema_macd_exact(fast=12, slow=26)(pdf)
    assert (again["ema_fast"] == out["ema_fast"]).all()
    assert (again["macd"] == out["macd"]).all()


def test_grouped_fold_matches_grouped_map_across_batch_boundaries(spark):
    """grouped_fold (mapInPandas over key-contiguous partitions) must
    reproduce groupBy().applyInPandas() over pandas-sorted groups exactly:
    the fold itself does NOT sort, so grouped_fold alone must deliver each
    group in (ts, eid) order with a NULL ts last (pandas'
    na_position="last"), from shuffled input rows, for groups that SPAN
    Arrow batch boundaries (forced with a tiny maxRecordsPerBatch), NULL
    keys, and single-row groups. Float keys: NULL and NaN are one key."""
    import random

    import numpy as np
    import pandas as pd

    sizes = {"a": 20, "b": 1, "c": 13, None: 5, "d": 8}
    rows = []
    for g, n in sizes.items():
        for i in range(n):
            # ts ties broken by eid: the two-column (timestamp, event_id)
            # order shape; one NULL ts in "c", which must fold last
            ts = None if (g, i) == ("c", 4) else i // 2
            v = float(i) * 1.5 + (hash(g) % 7 if g else 0)
            rows.append((g, ts, 100 - i, v))
    random.Random(7).shuffle(rows)
    df = spark.createDataFrame(rows, "k string, ts long, eid long, v double")
    schema = "k string, ts long, eid long, v double, csum double, pos long, n long"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pos = np.arange(len(pdf))
        return pdf.assign(csum=pdf["v"].cumsum(), pos=pos, n=len(pdf))

    def sorted_fold(pdf: pd.DataFrame) -> pd.DataFrame:
        return fold(pdf.sort_values(["ts", "eid"]).reset_index(drop=True))

    def fold_key(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"k": [pdf["k"].iloc[0]], "ts": [",".join(map(str, pdf["ts"]))]}
        )

    fk = spark.createDataFrame(
        [(None, 5), (float("nan"), 2), (1.5, 3), (float("nan"), 4), (None, 1)],
        "k double, ts long",
    )
    skey = lambda t: (t[0] is not None, t[0] or "", t[5])

    def rows_of(frame, key):
        return sorted(map(tuple, frame.collect()), key=key)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got = rows_of(grouped_fold(df, ["k"], fold, schema, order=["ts", "eid"]), skey)
        float_keys = rows_of(
            grouped_fold(fk, ["k"], fold_key, "k double, ts string", order=["ts"]), str
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = rows_of(df.groupBy("k").applyInPandas(sorted_fold, schema=schema), skey)
    assert got == want
    # every group fully folded exactly once: per-group n equals group size
    for k, ts, _eid, _v, _c, pos, n in got:
        assert n == sizes[k]
        if ts is None:
            assert pos == n - 1  # NULL order value folds last
    # Arrow turns a NULL double key into NaN and a NaN key back into NULL:
    # the NULL and NaN rows are ONE group, folded once, in ts order
    assert float_keys == [(1.5, "3"), (None, "1,2,4,5")]
