"""Seeded input generator owned by the benchmark.

Everything the benchmark feeds the program comes from here, and only from
the ``seed`` argument: the same seed writes byte-identical files, another
seed writes different ones. Two kinds of input:

* bronze envelope JSON (the reference's per-fetch ingestion file): one
  trading day of 5-minute candles for N symbols, written as K cumulative
  fetches. Fetch k re-pulls the day from the open up to its poll time, so
  files overlap; the newest candle of an intraday fetch is still forming
  and a later fetch revises its close and volume. A few symbols miss a
  poll. The generator returns the last-wins candle set it expects the ETL
  to keep.
* the registry's star-schema tables (``lineitem``, ``orders``, ``events``,
  ``documents``, ``embeddings``, ...) as one parquet file each, shaped like
  the synthetic sf tables described in TESTDATA.md.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np

SLOTS_PER_DAY = 75  # NSE session 09:15-15:30 IST in 5-minute candles
SESSION_OPEN_UTC = 3 * 3600 + 45 * 60  # 09:15 IST
FIRST_DAY = datetime(2024, 1, 1, tzinfo=timezone.utc)


def symbols(n: int) -> list[str]:
    return [f"NSE:S{i:04d}-EQ" for i in range(n)]


def trading_day(day: int) -> datetime:
    """``day``-th weekday from 2024-01-01 (a Monday)."""
    d = FIRST_DAY
    left = day
    while True:
        if d.weekday() < 5:
            if left == 0:
                return d
            left -= 1
        d += timedelta(days=1)


def _final_candles(rng: np.random.Generator, n_sym: int, day_start: int, slots: int):
    """(n_sym, slots) arrays of the closed candles: a random walk per
    symbol with OHLC invariants holding by construction."""
    base = rng.uniform(50.0, 3000.0, size=(n_sym, 1))
    steps = rng.normal(0.0, 0.002, size=(n_sym, slots))
    close = np.round(base * np.exp(np.cumsum(steps, axis=1)), 2)
    open_ = np.round(np.concatenate([base, close[:, :-1]], axis=1), 2)
    wick = np.round(np.abs(rng.normal(0.0, 0.001, size=close.shape)) * close, 2)
    high = np.maximum(open_, close) + wick
    low = np.maximum(np.minimum(open_, close) - wick, 0.01)
    vol = rng.integers(100, 50_000, size=close.shape)
    ts = day_start + SESSION_OPEN_UTC + 300 * np.arange(slots)
    return ts, np.round(open_, 2), np.round(high, 2), np.round(low, 2), close, vol


def write_bronze_day(
    out_dir: str,
    seed: int,
    day: int,
    n_symbols: int,
    n_fetches: int,
    slots: int = SLOTS_PER_DAY,
    overlap: int | None = None,
) -> tuple[dict, int, list[str]]:
    """Write the ``n_fetches`` polls of one trading day as envelope files
    in ``out_dir``.

    The day has ``slots`` 5-minute candles per symbol. A poll re-sends the
    day from the open up to its poll time. With ``overlap``, it sends only
    the candles since the symbol's previous poll, plus the last ``overlap``
    candles that poll carried, so the forming candle is still revised.

    Returns (expected, raw_candles, paths): ``expected`` maps (symbol,
    timestamp_unix) to the last-wins candle tuple (open, high, low, close,
    volume, fetch_timestamp), ``raw_candles``
    counts candles across all files, ``paths`` lists the files in fetch
    order.
    """
    rng = np.random.default_rng([seed, day])
    syms = symbols(n_symbols)
    d0 = trading_day(day)
    day_start = int(d0.timestamp())
    ts, o, h, lo, c, v = _final_candles(rng, n_symbols, day_start, slots)
    # poll k sees slots [0, ends[k]); the last poll sees the whole day
    ends = [max(1, (slots * (k + 1)) // n_fetches) for k in range(n_fetches)]
    partial_frac = rng.uniform(0.2, 0.9, size=(n_fetches, n_symbols))
    partial_close = np.round(
        lo[:, None, :] + rng.uniform(0, 1, size=(n_symbols, n_fetches, slots))
        * (h - lo)[:, None, :],
        2,
    )
    missed = rng.random((n_fetches, n_symbols)) < 0.05
    os.makedirs(out_dir, exist_ok=True)
    expected: dict = {}
    raw = 0
    paths = []
    sent = [0] * n_symbols  # per symbol: end of the last poll it received
    for k in range(n_fetches):
        end = ends[k]
        poll = datetime.fromtimestamp(
            day_start + SESSION_OPEN_UTC + 300 * end, tz=timezone.utc
        )
        stamp = poll.strftime("%Y-%m-%dT%H:%M:%SZ")
        data = {}
        for i, sym in enumerate(syms):
            if missed[k, i]:
                continue
            rows = []
            start = 0 if overlap is None else max(0, sent[i] - overlap)
            sent[i] = end
            for s in range(start, end):
                forming = s == end - 1 and end < slots
                close = float(partial_close[i, k, s]) if forming else float(c[i, s])
                vol = int(v[i, s] * partial_frac[k, i]) if forming else int(v[i, s])
                cand = (float(o[i, s]), float(h[i, s]), float(lo[i, s]), close, vol)
                rows.append([int(ts[s]), *cand])
                expected[(sym, int(ts[s]))] = (*cand, stamp)
            raw += len(rows)
            data[sym] = {
                "symbol": sym,
                "resolution": "5",
                "candles": rows,
                "timestamp": stamp,
                "metadata": {"source": "perfbench", "fetch": str(k)},
            }
        env = {"data": data, "metadata": {"fetched_at": stamp, "seed": str(seed)}}
        path = os.path.join(
            out_dir, f"raw_file_{d0.strftime('%Y%m%d')}_{k:03d}.json"
        )
        with open(path, "w") as fh:
            json.dump(env, fh, separators=(",", ":"))
        paths.append(path)
    return expected, raw, paths


def expected_rows(expected: dict) -> list[tuple]:
    """Rows in the column order of :data:`SILVER_CHECK_COLUMNS`."""
    return [(sym, ts, *vals) for (sym, ts), vals in expected.items()]


SILVER_CHECK_COLUMNS = [
    "symbol", "timestamp_unix", "open", "high", "low", "close", "volume",
    "fetch_timestamp",
]


# ---------------------------------------------------------------------------
# Registry tables
# ---------------------------------------------------------------------------

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big customer query "
    "order group filter stream vector"
).split()
_P_ADJ = "red small hot old large cold blue tiny".split()
_P_NOUN = "ring widget plate rod bolt gear pipe valve".split()


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the registry's tables as parquet at ``scale`` (1.0 ~ the
    sf0.01 tables of TESTDATA.md: 60k lineitem rows). Returns row counts per
    table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = max(200, int(15000 * scale))
    n_line = max(800, int(60000 * scale))
    n_ev = max(500, int(10000 * scale))
    n_users = max(10, int(150 * scale))
    n_docs = max(50, int(500 * scale))
    n_emb = max(50, int(500 * scale))

    def us(days_from: datetime, offsets_days: np.ndarray) -> pa.Array:
        base = np.datetime64(days_from.replace(tzinfo=None), "us")
        return pa.array(base + offsets_days.astype("timedelta64[D]"), pa.timestamp("us"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    segs = np.array(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"])
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_P_ADJ[a]} {_P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(
                ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
            )[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": us(datetime(1995, 1, 1), rng.integers(0, 2400, n_ord)),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }),
    }
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": us(datetime(1995, 1, 2), rng.integers(0, 2500, n_line)),
    })
    ev_ts = np.sort(rng.choice(30 * 86400 * 10**6, size=n_ev, replace=False))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us") + ev_ts.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["signup", "error", "click", "view", "purchase"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.round(rng.gamma(1.5, 40.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), rng.integers(8, 80))]
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "zh", "es", "de", "fr"])[rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
