"""Physical-plan assertions: the plans we designed for are the plans
Catalyst actually produces (pushdown, pruning, broadcast, top-k). These
are the properties that make the operators survive a 100x scale-up."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_pushdown_to_parquet(spark, sf_dir):
    import __spark_entry__ as E

    plan = physical(E.q01_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_column_pruning(spark, sf_dir):
    import __spark_entry__ as E

    plan = physical(E.e_symbol_stats(spark, sf_dir))
    # scan schema must not include unused columns like props/event_type
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read_schema and "event_type" not in read_schema


def test_broadcast_join_for_dims(spark, sf_dir):
    import __spark_entry__ as E

    plan = physical(E.q03_top_order_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_topk_is_take_ordered(spark, sf_dir):
    import __spark_entry__ as E

    plan = physical(E.e_tail_limit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


@pytest.fixture(scope="module")
def api_silver(spark, tmp_path_factory):
    """Two symbols x two days of ETL silver, partitioned by (symbol_clean, dt)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
        bronze_to_silver,
        write_silver,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.mock import (
        write_mock_envelope_files,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.raw_json import (
        read_raw_envelopes,
    )

    raw_dir = str(tmp_path_factory.mktemp("raw"))
    write_mock_envelope_files(spark, raw_dir, ["NSE:RELIANCE-EQ", "NSE:TCS-EQ"], days=2)
    silver_path = str(tmp_path_factory.mktemp("silver"))
    write_silver(bronze_to_silver(read_raw_envelopes(spark, raw_dir)), silver_path)
    return spark.read.parquet(silver_path)


def test_partition_pruning_on_silver(api_silver):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.analytics import (
        symbol_stats,
    )

    plan = physical(symbol_stats(api_silver, "RELIANCE", "2024-01-01"))
    # the (symbol_clean, dt) predicate must land in PartitionFilters,
    # not a post-scan Filter
    pf = plan.split("PartitionFilters:")[1][:400]
    assert "symbol_clean" in pf and "dt" in pf


_NOW = dt.datetime(2024, 1, 2, 6, tzinfo=dt.timezone.utc)

#: One-symbol requests bounded to at most a quarter of days.
_BOUNDED = {
    "point_day_5m_limit": lambda A, s: A.ohlcv_endpoint(
        s, "TCS", "2024-01-02", "2024-01-02", interval="5m", limit=20
    ),
    "point_range_15m": lambda A, s: A.ohlcv_endpoint(
        s, "TCS", "2024-01-01", "2024-01-02", interval="15m"
    ),
    "symbol_stats": lambda A, s: A.symbol_stats(s, "TCS", "2024-01-01"),
    "date_range": lambda A, s: A.date_range_stats(s, "TCS", "2024-01-01", "2024-01-02"),
    "date_range_92d": lambda A, s: A.date_range_stats(s, "TCS", "2024-01-01", "2024-04-01"),
    "lookback": lambda A, s: A.historical_lookback(s, "TCS", "1d", _NOW),
}

#: One-symbol requests without dates or longer than a quarter.
_UNBOUNDED = {
    "point_5m_limit": lambda A, s: A.ohlcv_endpoint(s, "TCS", interval="5m", limit=20),
    "point_from_15m": lambda A, s: A.ohlcv_endpoint(s, "TCS", "2024-01-01", interval="15m"),
    "date_range_93d": lambda A, s: A.date_range_stats(s, "TCS", "2024-01-01", "2024-04-02"),
    "lookback_1y": lambda A, s: A.historical_lookback(s, "TCS", "1y", _NOW),
}


def _api_plan(spark, df) -> tuple[str, str]:
    """The physical plan of ``df`` and its one untruncated PartitionFilters."""
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        plan = physical(df)
    finally:
        spark.conf.set(key, old)
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert len(pf) == 1 and "(symbol_clean#" in pf[0], plan
    return plan, pf[0]


@pytest.mark.parametrize("shape", list(_BOUNDED))
def test_one_symbol_request_is_one_stage(spark, api_silver, shape):
    """A one-symbol request over at most a quarter of days plans no
    Exchange (its pruned scan is coalesced to one partition), and its scan
    prunes on symbol_clean and dt."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans import (
        analytics as A,
    )

    df = _BOUNDED[shape](A, api_silver)
    plan, pf = _api_plan(spark, df)
    assert "Exchange" not in plan, plan
    assert "(dt#" in pf, pf
    assert len(df.collect()) > 0


@pytest.mark.parametrize("shape", list(_UNBOUNDED))
def test_unbounded_request_keeps_parallel_scan(spark, api_silver, shape):
    """Without both dates, or over more than a quarter of days, a
    one-symbol request keeps the parallel scan and its shuffle: one task
    would read the symbol's daily files one after another."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans import (
        analytics as A,
    )

    df = _UNBOUNDED[shape](A, api_silver)
    plan, pf = _api_plan(spark, df)
    assert "Exchange" in plan, plan
    assert ("(dt#" in pf) == (shape != "point_5m_limit"), pf
    assert len(df.collect()) > 0


def test_no_python_udfs_in_core_queries(spark, sf_dir):
    """Everything except the explicit mapInPandas multimodal path must stay
    JVM-side (no BatchEvalPython / ArrowEvalPython in the plan)."""
    import __spark_entry__ as E

    for name in ("q01_pricing_summary", "e_daily_rollup", "d_token_stats",
                 "d_minhash_neardup", "emb_ann_topk"):
        plan = physical(E.queries()[name](spark, sf_dir))
        assert "EvalPython" not in plan, f"{name} fell off the JVM fast path"


def test_gapfill_plan_has_no_cartesian_or_bnlj(spark, sf_dir):
    """resample_gapfill's grid join must stay an equi join: a cartesian
    or nested-loop plan would explode at (keys x buckets) scale."""
    import __spark_entry__ as E

    df = E.queries()["e_resample_gapfill"](spark, sf_dir)
    plan = physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_atr_windows_share_one_exchange(spark, sf_dir):
    """true_range's lag and atr's rolling mean partition identically —
    Catalyst must plan ONE per-key exchange, not two."""
    import __spark_entry__ as E

    df = E.queries()["x_atr_daily"](spark, sf_dir)
    plan = physical(df)
    # exchanges: the daily-rollup agg, the per-user window, the final
    # sort (+AQE reuse nodes); a second window exchange would add one
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges <= 2, plan[:4000]


def test_merge_semi_join_path_plan_is_bounded(spark, tmp_path):
    """Above the literal threshold the merge plan must not carry a
    per-partition OR chain: plan size stays ~constant as touched
    partitions grow (here: read path built the same way merge builds
    its pruned 'existing' frame)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.merge import (
        merge_into_parquet,
    )

    path = str(tmp_path / "tbl")
    rows = [("S%03d" % i, "2024-01-01", 1, float(i), 0) for i in range(100)]
    df = spark.createDataFrame(
        rows, "sym string, dt string, t long, v double, seq long"
    )
    merge_into_parquet(spark, path, df, ["sym", "dt", "t"], ["sym", "dt"])
    # second merge takes the semi-join branch (100 > 64): just assert it
    # completes and the table stays correct — plan boundedness is implied
    # by construction (a single join node replaces 100 OR terms), and the
    # literal branch's OR chain is exercised by the other merge tests
    merge_into_parquet(spark, path, df, ["sym", "dt", "t"], ["sym", "dt"])
    assert spark.read.parquet(path).count() == 100


class TestOrcSourceSink:
    def test_roundtrip_preserves_types_and_values(self, spark, tmp_path):
        from pyspark.sql import Row
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.orc import (
            read_orc,
            write_orc,
        )
        import datetime

        df = spark.createDataFrame(
            [
                Row(user_id=1, trade_date=datetime.date(2024, 1, 1),
                    close=1.25, volume=10),
                Row(user_id=2, trade_date=datetime.date(2024, 1, 2),
                    close=-0.5, volume=0),
            ]
        )
        p = str(tmp_path / "orc_rt")
        write_orc(df, p, bloom_columns=["user_id"])
        back = read_orc(spark, p)
        assert dict(back.dtypes) == dict(df.dtypes)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    def test_partitioned_write_prunes(self, spark, tmp_path):
        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.orc import (
            read_orc,
            write_orc,
        )

        df = spark.range(100).selectExpr("id", "id % 4 as part")
        p = str(tmp_path / "orc_part")
        write_orc(df, p, partition_by=["part"])
        back = read_orc(spark, p).filter("part = 2")
        assert back.count() == 25
        # partition pruning: the scan's PartitionFilters must carry the
        # part=2 predicate (not merely mention the word somewhere)
        plan = back._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m is not None, plan
        assert "part" in m.group(1) and "2" in m.group(1), m.group(1)


def test_keltner_windows_share_one_exchange(spark, sf_dir):
    """keltner's TR lag + both rolling means partition identically —
    Catalyst must plan ONE per-key window exchange (plus the rollup agg
    and final sort), not one per window frame."""
    import __spark_entry__ as E

    df = E.queries()["x_keltner"](spark, sf_dir)
    plan = physical(df)
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges <= 2, plan[:4000]


#: Every registry query whose plan runs operators.extension.grouped_fold:
#: x_bollinger_bands … x_regime_holt call it directly (x_forecast_backtest
#: four times); x_force_index and x_elder_ray reach it through ema_fold.
FOLD_QUERIES = (
    "x_bollinger_bands", "x_ema_macd", "x_heikin_ashi", "x_supertrend",
    "x_adx", "x_psar", "x_trix", "x_kama", "x_vidya", "x_klinger",
    "x_garch_vol", "x_nvi_pvi", "x_dema_tema", "x_kalman", "x_mass_index",
    "x_renko", "x_tsi", "x_ppo", "x_zigzag", "x_alligator", "x_holt_linear",
    "x_t3", "x_mcginley", "x_elder_impulse", "x_holt_winters",
    "x_holt_winters_mul", "x_forecast_backtest", "x_regime_viterbi",
    "x_regime_holt", "x_force_index", "x_elder_ray",
)


def _children(node):
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _nodes(node, stop=None):
    """Pre-order walk of a physical plan; does not descend below nodes
    named ``stop``."""
    yield node
    for c in _children(node):
        if c.nodeName() != stop:
            yield from _nodes(c, stop)
        else:
            yield c


def _by_num(node) -> bool:
    return (
        node.nodeName() == "Exchange"
        and node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
    )


@pytest.mark.parametrize("name", FOLD_QUERIES)
def test_fold_input_is_sorted_by_key_and_order_once(spark, sf_dir, name):
    """grouped_fold alone partitions and orders a fold's input: under
    every MapInPandas the Sort orders by the hash keys AND the order
    columns (more columns than the Exchange hashes on), and each fold
    pays exactly one REPARTITION_BY_NUM shuffle. Plans only; nothing
    runs."""
    import __spark_entry__ as E

    plan = E.queries()[name](spark, sf_dir)._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    folds = [n for n in _nodes(plan) if n.nodeName() == "MapInPandas"]
    assert folds, name
    for m in folds:
        (sort,) = _children(m)
        assert sort.nodeName() == "Sort", sort.toString()
        (exchange,) = _children(sort)
        assert _by_num(exchange), exchange.toString()
        n_hash = exchange.outputPartitioning().expressions().size()
        assert sort.sortOrder().size() > n_hash, sort.toString()
        # one shuffle between this fold and the next fold below it
        assert sum(map(_by_num, _nodes(m, stop="MapInPandas"))) == 1, name
