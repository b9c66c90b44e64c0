"""The benchmark's workloads.

Each workload owns its inputs (written by :mod:`gen` from the seed), its
program-side set-up, one timed unit of work (``op``) and the correctness
check of that unit's output. ``op`` returns the number of items it
processed and records spans through the tracer it is given; ``check``
runs untimed and returns False on a wrong result.
"""

from __future__ import annotations

import calendar
import datetime as dt
import functools
import os
import random
import shutil
import time
import traceback

import gen
import tracing



def fingerprint(cols, rows):
    """Row count and order-insensitive value hash, as the repo's oracle
    gate computes them (scripts/verify_local.py)."""
    from verify_local import frame_fingerprint

    return frame_fingerprint(list(cols), [tuple(r) for r in rows])


def _plain(v):
    """Collected Spark value -> engine-neutral Python value."""
    if isinstance(v, dt.datetime):
        return calendar.timegm(v.timetuple())
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def read_parquet_rows(path: str, cols: list[str]) -> list[tuple]:
    """``cols`` of every row of the parquet files under ``path``."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT {', '.join(cols)} FROM read_parquet('{path}/**/*.parquet')"
        ).fetchall()
    finally:
        con.close()


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def checked_concurrently(calls, threads: int, log) -> list[bool]:
    """Run ``(label, call)`` pairs on ``threads`` threads. Each call
    returns whether its output checked out; one that raises counts as a
    failed check."""
    from concurrent.futures import ThreadPoolExecutor

    def one(item):
        label, call = item
        try:
            return call()
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            log(f"warm-up {label} failed:\n{traceback.format_exc()}")
            return False

    with ThreadPoolExecutor(threads) as pool:
        return list(pool.map(one, calls))


class Workload:
    name = ""
    item = "items"
    period = 1  # ops per cycle of the workload's op mix
    warmup_ops = 0  # untimed ops between set-up and the timed region
    warm_threads = 1  # the warm-up's ops may run concurrently
    sizes: dict[str, dict] = {}

    def __init__(self, work: str, seed: int, size: str):
        self.work = work
        self.seed = seed
        self.p = self.sizes[size]
        self.rng = random.Random(seed)
        self.spark = None
        self.layers: dict[str, list[float]] = {}

    def generate(self) -> None:
        """Write the seeded inputs (no Spark)."""

    def build(self, spark) -> None:
        """Derive inputs that need Spark, once per run, outside set-up."""

    def prepare(self, spark) -> None:
        """Program-side set-up on a fresh session; timed as set-up."""
        self.spark = spark

    def op(self, i: int, tracer) -> int:
        raise NotImplementedError

    def kind(self, i: int) -> str:
        """The kind of op ``i`` within the workload's op mix."""
        return self.name

    def check(self, i: int) -> bool:
        return True

    def warm_up(self, tracer, log) -> list[bool]:
        """Run and check the untimed ops between set-up and the timed
        region; one result per op, False on a wrong result or an error."""

        def one(i):
            self.op(i, tracer)
            return self.check(i)

        return checked_concurrently(
            [(f"op {i}", functools.partial(one, i)) for i in range(self.warmup_ops)],
            self.warm_threads, log,
        )

    def record(self, name: str, value: float) -> None:
        """A workload-specific layer figure of one traced op."""
        self.layers.setdefault(name, []).append(value)

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# etl_daybatch — the daily bronze -> silver ETL, batch after batch
# ---------------------------------------------------------------------------


class EtlDayBatch(Workload):
    name = "etl_daybatch"
    item = "raw candles"
    warmup_ops = 6
    warm_threads = 2  # batches write to directories of their own
    sizes = {
        "full": {"symbols": 100, "fetches": 20, "slots": 30, "overlap": 1, "days": 3,
                 "warm_symbols": 10},
        "tiny": {"symbols": 6, "fetches": 3, "slots": 30, "overlap": 1, "days": 2,
                 "warm_symbols": 3},
    }

    def generate(self):
        p = self.p
        self.days = []
        for d in range(p["days"]):
            exp, raw, _ = gen.write_bronze_day(
                f"{self.work}/bronze/d{d}", self.seed, d, p["symbols"], p["fetches"],
                p["slots"], p["overlap"],
            )
            want = fingerprint(gen.SILVER_CHECK_COLUMNS, gen.expected_rows(exp))
            self.days.append((f"{self.work}/bronze/d{d}", raw, want))
        gen.write_bronze_day(
            f"{self.work}/bronze/warm", self.seed, 40, p["warm_symbols"], p["fetches"],
            p["slots"], p["overlap"],
        )
        self.outs: dict[int, str] = {}

    def prepare(self, spark):
        super().prepare(spark)
        out = f"{self.work}/warm_silver"
        self._etl(f"{self.work}/bronze/warm", out)
        shutil.rmtree(out, ignore_errors=True)

    def _etl(self, src, out):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
            bronze_to_silver, write_silver,
        )
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.raw_json import (
            read_raw_envelopes,
        )

        write_silver(bronze_to_silver(read_raw_envelopes(self.spark, src), dedup="last"), out)

    def op(self, i, tracer):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
            bronze_to_silver, write_silver,
        )
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.raw_json import (
            read_raw_envelopes,
        )

        src, raw_n, _ = self.days[i % len(self.days)]
        out = f"{self.work}/silver/b{i}"
        self.outs[i] = out
        if not tracer.enabled:
            self._etl(src, out)
            return raw_n
        with tracer.span("etl.batch", op=f"batch-{i}"):
            with tracer.span("sources.raw_json.read_raw_envelopes"):
                raw = read_raw_envelopes(self.spark, src)
            with tracer.span("plans.etl.bronze_to_silver"):
                silver = bronze_to_silver(raw, dedup="last")
            with tracer.span("probe.raw_json.scan", probe=True) as s_read:
                raw.write.format("noop").mode("overwrite").save()
            with tracer.span("probe.etl.transform", probe=True) as s_xf:
                silver.write.format("noop").mode("overwrite").save()
            with tracer.span("plans.etl.write_silver") as s_w:
                write_silver(silver, out)
        self.record("sources.raw_json.read_ms", 1000 * s_read["dur"])
        self.record("plans.etl.transform_ms", 1000 * (s_xf["dur"] - s_read["dur"]))
        self.record("plans.etl.commit_ms", 1000 * (s_w["dur"] - s_xf["dur"]))
        return raw_n

    def check(self, i):
        """Read the written silver back (with DuckDB, so the check adds no
        Spark work between timed batches) and compare it with the
        generator's last-wins candle set."""
        src, raw_n, want = self.days[i % len(self.days)]
        out = self.outs.pop(i)
        cols = gen.SILVER_CHECK_COLUMNS
        got = fingerprint(cols, read_parquet_rows(out, cols))
        files, size = _dir_stats(out)
        self.record("plans.etl.files_written", files)
        self.record("plans.etl.dedup_kept_ratio", got[0] / raw_n)
        self.record("etl.silver_bytes_per_row", size / max(got[0], 1))
        shutil.rmtree(out, ignore_errors=True)
        return got == want


# ---------------------------------------------------------------------------
# candle_api — closed-loop request mix over a silver table, one client
# ---------------------------------------------------------------------------

#: Fixed request cycle: 7 one-symbol requests, 3 all-symbol scans. The
#: seed picks symbols, dates and limits, never the mix.
API_CYCLE = (
    "point_5m", "symbol_stats", "point_resample", "daily_summary", "point_5m",
    "date_range", "latest", "point_resample", "top_movers", "point_5m",
)
API_SCANS = {"daily_summary", "top_movers", "latest"}
API_KINDS = tuple(dict.fromkeys(API_CYCLE))

_ROLLUP_SQL = """
    arg_min(open, timestamp_unix) AS open, max(high) AS high, min(low) AS low,
    arg_max(close, timestamp_unix) AS close,
    CAST(sum(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS volume,
    CAST(sum(CAST(close AS DECIMAL(38,6))) AS DOUBLE) / count(close) AS avg_price,
    count(*) AS num_records"""


class CandleApi(Workload):
    name = "candle_api"
    item = "requests"
    period = len(API_CYCLE)
    WARM_CYCLES = 2
    sizes = {
        "full": {"symbols": 100, "days": 2, "fetches": 4},
        "tiny": {"symbols": 6, "days": 2, "fetches": 2},
    }

    def generate(self):
        p = self.p
        for d in range(p["days"]):
            gen.write_bronze_day(
                f"{self.work}/bronze", self.seed, d, p["symbols"], p["fetches"], overlap=1
            )
        self.symbols = [s[4:-3] for s in gen.symbols(p["symbols"])]
        self.dates = [gen.trading_day(d).date().isoformat() for d in range(p["days"])]
        # skewed symbol popularity: weight 1/(rank+1) over a seeded ranking
        ranked = self.symbols[:]
        self.rng.shuffle(ranked)
        self.ranked = ranked
        self.weights = [1.0 / (k + 1) for k in range(len(ranked))]
        self.silver_path = f"{self.work}/silver"

    def build(self, spark):
        """The silver table the API serves, produced by the program's ETL."""
        import duckdb

        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
            bronze_to_silver, write_silver,
        )
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.raw_json import (
            read_raw_envelopes,
        )

        raw = read_raw_envelopes(spark, f"{self.work}/bronze")
        write_silver(bronze_to_silver(raw, dedup="last"), self.silver_path)
        self.duck = duckdb.connect()
        self.duck.execute(
            "CREATE TABLE silver AS SELECT symbol_clean, CAST(dt AS VARCHAR) AS dt, "
            "timestamp_unix, open, high, low, close, volume FROM read_parquet("
            f"'{self.silver_path}/*/*/*.parquet', hive_partitioning = true, "
            "hive_types_autocast = false)"
        )

    def prepare(self, spark):
        super().prepare(spark)
        self.silver = spark.read.parquet(self.silver_path)
        self._call("point_5m", self._params("point_5m", random.Random(0)))  # a first request

    def _params(self, kind, rng):
        sym = rng.choices(self.ranked, self.weights)[0]
        d0 = rng.randrange(len(self.dates))
        d1 = min(len(self.dates) - 1, d0 + rng.randrange(1, 4))
        return {
            "sym": sym, "date": self.dates[d0], "from": self.dates[d0],
            "to": self.dates[d1], "limit": rng.choice((20, 50, 75)),
            "interval": rng.choice(("15m", "60m")), "k": rng.choice((5, 10)),
        }

    def _call(self, kind, a, tracer=None, op=None):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans import (
            analytics as A,
        )

        s = self.silver
        build = {
            "point_5m": lambda: [A.ohlcv_endpoint(s, a["sym"], interval="5m", limit=a["limit"])],
            "point_resample": lambda: [
                A.ohlcv_endpoint(s, a["sym"], a["from"], a["to"], interval=a["interval"])
            ],
            "symbol_stats": lambda: [A.symbol_stats(s, a["sym"], a["date"])],
            "date_range": lambda: [A.date_range_stats(s, a["sym"], a["from"], a["to"])],
            "daily_summary": lambda: [A.daily_summary(s, a["date"])],
            "top_movers": lambda: list(A.top_movers_summary(s, a["date"], limit=a["k"])),
            "latest": lambda: [A.latest_prices(s)],
        }[kind]
        if tracer is None or not tracer.enabled:
            return [(df.columns, df.collect()) for df in build()]
        with tracer.span(f"api.{kind}", op=op):
            with tracer.span("plans.analytics.build") as sb:
                dfs = build()
            with tracer.span("api.collect"):
                out = [(df.columns, df.collect()) for df in dfs]
        self.record("plans.analytics.build_ms", 1000 * sb["dur"])
        return out

    def warm_up(self, tracer, log):
        """Every request kind on every date (the first request on a date ran
        3-4x slower than later ones), then WARM_CYCLES passes over the
        cycle, each request checked. Requests still sped up over the first
        ~20 s of a run, so the warm-up runs on three threads to get there
        in less wall time."""
        reqs = []
        for day in self.dates:
            for kind in API_KINDS:
                a = self._params(kind, self.rng)
                a.update({"date": day, "from": day, "to": max(day, a["to"])})
                reqs.append((kind, a))
        reqs += [(k, self._params(k, self.rng)) for k in API_CYCLE * self.WARM_CYCLES]

        def one(kind, a):
            return self._matches_duckdb(kind, a, self._call(kind, a))

        return checked_concurrently(
            [(f"request {k}", functools.partial(one, k, a)) for k, a in reqs], 3, log
        )

    def kind(self, i):
        return API_CYCLE[i % len(API_CYCLE)]

    def op(self, i, tracer):
        kind = self.kind(i)
        a = self._params(kind, self.rng)
        t0 = time.perf_counter()
        self.last = (kind, a, self._call(kind, a, tracer, op=f"req-{i}"))
        ms = 1000 * (time.perf_counter() - t0)
        self.record("api.scan_ms" if kind in API_SCANS else "api.point_ms", ms)
        return 1

    def _duck(self, kind, a):
        sym, day = f"'{a['sym']}'", f"'{a['date']}'"
        rng = f"dt BETWEEN '{a['from']}' AND '{a['to']}'"
        pct = "CASE WHEN open <> 0 THEN (close - open) / open * 100.0 ELSE 0.0 END"
        summary = (
            f"SELECT symbol_clean, CAST(dt AS DATE) AS trade_date, {_ROLLUP_SQL} "
            f"FROM silver WHERE dt = {day} GROUP BY symbol_clean, dt"
        )
        summary = (
            f"SELECT *, close - open AS price_change, {pct} AS price_change_percent, "
            "high - low AS daily_range, CASE WHEN open <> 0 THEN (high - low) / open "
            f"* 100.0 ELSE 0.0 END AS volatility_percent FROM ({summary})"
        )
        if kind == "point_5m":
            return [f"SELECT * FROM silver WHERE symbol_clean = {sym} "
                    f"ORDER BY timestamp_unix DESC LIMIT {a['limit']}"]
        if kind == "point_resample":
            w = 60 * int(a["interval"][:-1])
            return [
                f"SELECT symbol_clean, to_timestamp((timestamp_unix // {w}) * {w}) AS "
                "timestamp_iso, arg_min(open, timestamp_unix) AS open, max(high) AS high, "
                "min(low) AS low, arg_max(close, timestamp_unix) AS close, "
                "CAST(sum(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS volume "
                f"FROM silver WHERE symbol_clean = {sym} AND {rng} "
                f"GROUP BY symbol_clean, timestamp_unix // {w}"
            ]
        if kind in ("symbol_stats", "date_range"):
            where = f"dt = {day}" if kind == "symbol_stats" else rng
            return [
                f"SELECT symbol_clean, CAST(dt AS DATE) AS trade_date, {_ROLLUP_SQL} "
                f"FROM silver WHERE symbol_clean = {sym} AND {where} GROUP BY symbol_clean, dt"
            ]
        if kind == "daily_summary":
            return [summary]
        if kind == "top_movers":
            return [
                f"SELECT * FROM ({summary}) ORDER BY price_change_percent DESC LIMIT {a['k']}",
                f"SELECT * FROM ({summary}) ORDER BY price_change_percent ASC LIMIT {a['k']}",
            ]
        return [
            "SELECT symbol_clean, max(timestamp_unix) AS timestamp_unix, "
            "arg_max(close, timestamp_unix) AS close, arg_max(close, timestamp_unix) AS "
            "latest_price FROM silver GROUP BY symbol_clean"
        ]

    def check(self, i):
        return self._matches_duckdb(*self.last)

    def _matches_duckdb(self, kind, a, frames):
        duck = self._duck(kind, a)
        if len(duck) != len(frames):
            return False
        for (cols, rows), sql in zip(frames, duck):
            cur = self.duck.cursor().execute(sql)  # a cursor per call: thread-safe
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            keep = [c for c in cols if c in dcols]
            if len(keep) < 4 or len(rows) != len(drows):
                return False
            si = [cols.index(c) for c in keep]
            di = [dcols.index(c) for c in keep]
            got = fingerprint(keep, [[_plain(r[j]) for j in si] for r in rows])
            want = fingerprint(keep, [[_plain(r[j]) for j in di] for r in drows])
            if got != want:
                return False
        return True

    def close(self):
        if getattr(self, "duck", None) is not None:
            self.duck.close()


# ---------------------------------------------------------------------------
# stream_ingest — closed drain of a fetch backlog, one fetch per micro-batch
# ---------------------------------------------------------------------------


class StreamIngest(Workload):
    name = "stream_ingest"
    item = "raw candles"
    sizes = {
        "full": {"symbols": 50, "fetches": 6},
        "tiny": {"symbols": 4, "fetches": 3},
    }

    def generate(self):
        p = self.p
        self.src = f"{self.work}/backlog"
        exp, raw, paths = gen.write_bronze_day(self.src, self.seed, 0, p["symbols"], p["fetches"])
        # the file source drains oldest first: mtimes follow fetch order
        for k, path in enumerate(paths):
            os.utime(path, (1_600_000_000 + 10 * k,) * 2)
        self.raw_n = raw
        self.want = fingerprint(gen.SILVER_CHECK_COLUMNS, gen.expected_rows(exp))
        self.listener = None
        self.batches = 0

    def prepare(self, spark):
        super().prepare(spark)
        self.listener = None
        self._drain(f"{self.work}/warm")

    def _drain(self, out):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
            stateful_partitions,
        )
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
            read_raw_stream, streaming_silver, upsert_silver_sink,
        )

        shutil.rmtree(out, ignore_errors=True)
        with stateful_partitions(self.spark, 4):
            stream = streaming_silver(
                read_raw_stream(self.spark, self.src, max_files_per_trigger=1)
            )
            q = upsert_silver_sink(stream, f"{out}/sink", f"{out}/ckpt", available_now=True)
            q.awaitTermination(170)
        return q

    def op(self, i, tracer):
        out = f"{self.work}/drain{i}"
        self.out = out
        if not tracer.enabled:
            q = self._drain(out)
            self.samples_ms = [
                p["durationMs"]["triggerExecution"] for p in q.recentProgress
                if p["numInputRows"] > 0
            ]
            return self.raw_n
        if self.listener is None:
            self.listener = tracing.progress_listener()
            self.spark.streams.addListener(self.listener)
        with tracer.span("streaming.pipeline.drain", op=f"drain-{i}", by_window=True):
            q = self._drain(out)
        self.listener.wait_terminated(str(q.id))
        batches = [
            p for p in self.listener.progress
            if p["id"] == str(q.id) and p["numInputRows"] > 0
        ]
        self.samples_ms = [p["durationMs"]["triggerExecution"] for p in batches]
        self.batches = len(batches)
        for p in batches:
            d = p["durationMs"]
            for k in ("addBatch", "queryPlanning", "latestOffset", "walCommit",
                      "commitOffsets"):
                self.record(f"streaming.{k}_ms", d.get(k, 0))
            st = (p.get("stateOperators") or [{}])[0]
            self.record("streaming.state_rows_total", st.get("numRowsTotal", 0))
            self.record("streaming.state_commit_ms", st.get("commitTimeMs", 0))
        return self.raw_n

    def check(self, i):
        cols = gen.SILVER_CHECK_COLUMNS
        got = fingerprint(cols, read_parquet_rows(f"{self.out}/sink", cols))
        if self.batches:
            files, _ = _dir_stats(f"{self.out}/sink")
            self.record("streaming.files_written_per_batch", files / self.batches)
            self.batches = 0
        shutil.rmtree(self.out, ignore_errors=True)
        return got == self.want


# ---------------------------------------------------------------------------
# registry_mix — a fixed slice of the query registry, seeded order
# ---------------------------------------------------------------------------

#: One query per layer family: the fastest of the family's queries on the
#: generated tables, so that a run holds several passes over the slice.
REGISTRY_SLICE = {
    "fold": "x_bollinger_bands",  # grouped_fold through applyInPandas: the Python/Arrow boundary
    "rank": "e_rfm_segments",  # quantile segments over operators.rank's running sum
    "similarity": "emb_ivf_ann",
    "dedup_similarity": "d_minhash_neardup",
    "sql": "q01_pricing_summary",  # Catalyst only
}
FAMILY = {q: fam for fam, q in REGISTRY_SLICE.items()}


class RegistryMix(Workload):
    """The slice's queries in a seeded order, pass after pass, each forced
    with a noop sink."""

    name = "registry_mix"
    item = "queries"
    period = len(FAMILY)
    sizes = {"full": {"scale": 0.02}, "tiny": {"scale": 0.01}}

    def generate(self):
        self.tables = f"{self.work}/tables"
        gen.write_tables(self.tables, self.seed, self.p["scale"])
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.tables
        self.order: list[str] = []

    def prepare(self, spark):
        super().prepare(spark)
        import __spark_entry__ as entry

        self.queries = entry.queries()

    def warm_up(self, tracer, log):
        """The untimed first pass: each query of the slice on a thread of
        its own, so their cold starts overlap. Each is collected and checked
        against its ``oracle_sql()`` twin, once per run: the timed passes
        run the same queries on the same tables."""

        def one(q):
            df = self.queries[q](self.spark, self.tables)
            return self._matches_oracle(q, df.columns, df.collect())

        return checked_concurrently(
            [(f"query {q}", functools.partial(one, q)) for q in FAMILY], len(FAMILY), log
        )

    def op(self, i, tracer):
        if not self.order:
            self.order = list(FAMILY)
            self.rng.shuffle(self.order)
        q = self.order.pop()
        self.last = q
        t0 = time.perf_counter()
        if tracer.enabled:
            with tracer.span(f"registry.{FAMILY[q]}.{q}", op=f"query-{i}"):
                self._run(q)
        else:
            self._run(q)
        self.record(f"registry.{FAMILY[q]}_s", time.perf_counter() - t0)
        return 1

    def _run(self, q):
        self.queries[q](self.spark, self.tables).write.format("noop").mode("overwrite").save()

    def kind(self, i):
        return self.last  # the query op ``i`` ran; the order is drawn in op()

    def _matches_oracle(self, q, cols, got_rows):
        import duckdb
        import __spark_entry__ as entry

        got = fingerprint(cols, got_rows)
        con = duckdb.connect()
        try:
            for t in gen.TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            cur = con.execute(entry.oracle_sql()[q])
            dates = {d[0] for d in cur.description if str(d[1]).upper() == "DATE"}
            ddf = cur.df()
            ddf = ddf.astype(object).where(ddf.notna(), None)
            for c in dates:
                ddf[c] = ddf[c].map(lambda v: v.date() if v is not None else None)
            rows = [
                tuple(x.item() if hasattr(x, "item") else x for x in r)
                for r in ddf.itertuples(index=False, name=None)
            ]
            return got == fingerprint(list(ddf.columns), rows)
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (EtlDayBatch, CandleApi, StreamIngest, RegistryMix)}
