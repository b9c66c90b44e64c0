"""Structured Streaming tests (ST1-ST5) driven synchronously with
availableNow / processAllAvailable over file sources."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.mock import (
    write_mock_envelope_files,
)
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
    daily_compaction,
    events_stream_demo,
    read_raw_stream,
    streaming_resample,
    streaming_silver,
)

SYMBOLS = ["NSE:RELIANCE-EQ", "NSE:TCS-EQ"]


@pytest.fixture(scope="module")
def raw_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("raw_stream")
    write_mock_envelope_files(spark, str(d), SYMBOLS, days=1, fetches=3)
    return str(d)


def test_streaming_dedup_exactly_once(spark, raw_dir, tmp_path_factory):
    """Three overlapping fetch files stream in; watermarked dropDuplicates
    must yield exactly one row per (symbol, ts)."""
    out = str(tmp_path_factory.mktemp("mem_out"))
    stream = streaming_silver(read_raw_stream(spark, raw_dir))
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 2 * 75  # 2 symbols x 75 slots, dups collapsed
    assert got.select("symbol", "timestamp_unix").distinct().count() == got.count()


def test_daily_compaction_idempotent(spark, raw_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("silver_stream"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    q = daily_compaction(spark, raw_dir, out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    # second run with the same checkpoint: no new files -> no duplication
    q2 = daily_compaction(spark, raw_dir, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1 == 150


def test_upsert_sink_overlapping_rerun_idempotent(spark, raw_dir, tmp_path_factory):
    """ST5 contract: a full REPLAY of the same inputs (fresh checkpoint,
    so every micro-batch re-fires) must leave the silver table unchanged —
    day partitions are overwritten in place, never duplicated and never
    wholesale-deleted — even when the SESSION conf says static overwrite
    (the writer-level option must win)."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        upsert_silver_sink,
    )

    out = str(tmp_path_factory.mktemp("silver_upsert"))
    q = upsert_silver_sink(
        streaming_silver(read_raw_stream(spark, raw_dir)),
        out,
        str(tmp_path_factory.mktemp("ckpt_a")),
        available_now=True,
    )
    q.awaitTermination(120)
    first = sorted(
        (r["symbol_clean"], r["timestamp_unix"], r["close"])
        for r in spark.read.parquet(out).collect()
    )
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "static")
    try:
        q2 = upsert_silver_sink(
            streaming_silver(read_raw_stream(spark, raw_dir)),
            out,
            str(tmp_path_factory.mktemp("ckpt_b")),
            available_now=True,
        )
        q2.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    second = sorted(
        (r["symbol_clean"], r["timestamp_unix"], r["close"])
        for r in spark.read.parquet(out).collect()
    )
    assert second == first and first


def test_streaming_resample_matches_batch(spark, raw_dir, tmp_path_factory):
    """ST4: the streaming tumbling-window resample must equal the batch
    resample on the same data once all windows close."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.analytics import (
        ohlcv_endpoint,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
        bronze_to_silver,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.raw_json import (
        read_raw_envelopes,
    )

    agg = streaming_resample(
        streaming_silver(read_raw_stream(spark, raw_dir)), minutes=60, watermark=None
    )
    qname = "resample_out"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["symbol_clean"], str(r["bucket_start"])): (r["open"], r["close"], r["volume"])
        for r in spark.sql(f"SELECT * FROM {qname}").collect()
    }
    batch_silver = bronze_to_silver(read_raw_envelopes(spark, raw_dir), dedup="last")
    batch = {
        (r["symbol_clean"], str(r["timestamp_iso"])): (r["open"], r["close"], int(r["volume"]))
        for s in SYMBOLS
        for r in ohlcv_endpoint(batch_silver, s[4:-3], interval="60m").collect()
    }
    assert streamed == batch


def test_events_stream_source_matches_batch_timeline(spark):
    """Regression: the driver has regenerated testdata with a different
    parquet timestamp encoding (TIMESTAMP(NANOS) -> TIMESTAMP(MICROS,
    isAdjustedToUTC=false)). A mis-decoded stream shows up as a
    1000x-compressed timeline (micros fed to a nanos div-1000), which the
    count-only assertions can't see — so pin the stream's min/max ts to
    the batch loader's, which normalizes every encoding."""
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.tables import (
        load_table,
    )
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        events_stream_source,
    )

    src = events_stream_source(spark, "/root/testdata/sf0.001").select("event_id", "ts")
    q = (
        src.writeStream.format("memory")
        .queryName("ev_ts_check")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS n, min(ts) AS lo, max(ts) AS hi FROM ev_ts_check"
    ).collect()[0]
    ref = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .agg(F.count("*").alias("n"), F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()[0]
    )
    assert (got.n, got.lo, got.hi) == (ref.n, ref.lo, ref.hi)


def test_events_stream_demo(spark):
    agg = events_stream_demo(spark, "/root/testdata/sf0.001", minutes=60)
    q = (
        agg.writeStream.format("memory")
        .queryName("ev_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT count(*) AS n, sum(num_events) AS total FROM ev_out").collect()[0]
    assert rows["n"] > 0 and rows["total"] == 1000  # sf0.001 events row count


def test_dedup_ingest_stream_incremental_index(spark, tmp_path):
    """Continuous-ingestion dedup: three micro-batches replayed through a
    file-source stream; duplicates of EARLIER batches are dropped via the
    persisted index (no corpus re-hash), within-batch dups keep the min
    id, and the index grows by pure appends."""
    import time as _time

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        dedup_ingest_sink,
    )

    words = [f"tok{i}" for i in range(20)]
    base = " ".join(words)
    near = " ".join(words[:-1] + ["other"])       # 19/21 jaccard ~ 0.905
    other = " ".join(f"z{i}" for i in range(20))
    batches = [
        [(1, base), (2, near)],                   # 2 near-dups 1 in batch
        [(3, base), (4, other)],                  # 3 dups 1 cross-batch
        [(5, other), (6, "fresh unique text here today"),
         (7, "fresh unique text here today")],    # 5 dups 4; 7 dups 6
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))
        _time.sleep(0.05)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "b*"))
    )
    q = dedup_ingest_sink(
        stream,
        index_dir=str(tmp_path / "index"),
        survivors_dir=str(tmp_path / "survivors"),
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.9,
        available_now=True,
    )
    q.awaitTermination(300)

    surv = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "survivors")).collect()
    )
    assert surv == [1, 4, 6]
    # the index holds EVERY doc (dups map future copies to first seen)
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert sorted(r["doc_id"] for r in idx.collect()) == [1, 2, 3, 4, 5, 6, 7]


def test_stream_join_outer_flushes_only_below_final_watermark(spark):
    """LEFT OUTER stream-stream join: unmatched views emit NULL rows
    only when the FINAL global watermark (min over both inputs' max
    event time - delay) proves no match can arrive; newer unmatched
    views stay in state at availableNow termination."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    out = E.queries()["s_stream_join_outer"](spark, sf)
    rows = out.collect()
    nulls = [r for r in rows if r.purchase_id is None]
    matched = [r for r in rows if r.purchase_id is not None]
    assert nulls, "expected watermark-flushed unmatched views"
    ev = E._t(spark, sf, "events")
    mx = (
        ev.groupBy()
        .agg(
            F.max(F.when(F.col("event_type") == "view", F.col("ts"))).alias("mv"),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("mb"),
        )
        .collect()[0]
    )
    final_wm = min(mx.mv, mx.mb)
    from datetime import timedelta

    bound = final_wm - timedelta(hours=2) - timedelta(minutes=30)
    assert all(r.view_ts < bound for r in nulls)
    # the matched subset equals the batch inner interval join
    inner = E.queries()["s_stream_join"](spark, sf).collect()
    assert {(r.user_id, r.view_id, int(r.purchase_id)) for r in matched} == {
        (r.user_id, r.view_id, r.purchase_id) for r in inner
    }


def test_checkpoint_resume_consumes_only_new_files(spark, tmp_path):
    """Exactly-once across RESTARTS: run 1 consumes file A via
    availableNow; files B and C land; run 2 with the SAME checkpoint
    consumes only B+C — A is not reprocessed even though it is still in
    the source dir, and the appended sink equals the batch union with
    zero duplicates."""
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def land(name, ids):
        spark.createDataFrame(
            [(i, f"v{i}") for i in ids], "id long, payload string"
        ).coalesce(1).write.mode("append").parquet(src + "_stage_" + name)
        # move the single part file in atomically (the file-source
        # contract: files appear whole)
        import glob
        import shutil

        [part] = glob.glob(src + "_stage_" + name + "/part-*.parquet")
        shutil.move(part, os.path.join(src, name + ".parquet"))

    def run_once():
        q = (
            spark.readStream.schema("id long, payload string")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    land("a", range(0, 10))
    run_once()
    n1 = spark.read.parquet(sink).count()
    assert n1 == 10
    land("b", range(10, 25))
    land("c", range(25, 30))
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == 30  # A not reprocessed, B+C appended once
    assert out.select("id").distinct().count() == 30
    assert out.agg(F.min("id"), F.max("id")).collect()[0] == (0, 29)


def test_stream_join_outer_state_is_watermark_bounded(spark, tmp_path):
    """The left-outer interval join must EVICT state as the watermark
    advances — the eviction itself, not just the emitted rows (those are
    oracle-checked by s_stream_join_outer). Eight hourly files stream in
    one per micro-batch; with a 10-minute watermark delay and a
    30-minute join interval the state horizon is under an hour, so the
    per-batch state-store row count must plateau at ~one file's worth
    and NEVER approach the cumulative input."""
    import os

    from datetime import datetime, timedelta

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import (
        stateful_partitions,
    )

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    base = datetime(2024, 1, 1)
    n_hours, per_hour = 8, 40
    for h in range(n_hours):
        rows = []
        for i in range(per_hour):
            ts = base + timedelta(hours=h, minutes=i % 60)
            # half the views get a purchase 5 min later, half never match
            rows.append((i % 10, h * 1000 + i, "view", ts))
            if i % 2 == 0:
                rows.append(
                    (i % 10, h * 1000 + 500 + i, "purchase",
                     ts + timedelta(minutes=5))
                )
        spark.createDataFrame(
            rows, "user_id long, event_id long, event_type string, ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}_stage_{h}")
        import glob
        import shutil

        [part] = glob.glob(f"{src}_stage_{h}/part-*.parquet")
        shutil.move(part, os.path.join(src, f"h{h}.parquet"))

    schema = "user_id long, event_id long, event_type string, ts timestamp"

    def side(event_type, prefix):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "10 minutes")
        )

    views, buys = side("view", "view"), side("purchase", "buy")
    joined = views.join(
        buys,
        (F.col("view_user") == F.col("buy_user"))
        & (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") < F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    )
    with stateful_partitions(spark):
        q = (
            joined.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        progresses = [p for p in q.recentProgress if p.get("stateOperators")]
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progresses
        if p["numInputRows"] > 0
    ]
    total_input = sum(p["numInputRows"] for p in progresses)
    assert len(state_rows) >= 4, f"expected multiple micro-batches, got {state_rows}"
    # bounded: the plateau holds ~one watermark horizon of BOTH sides,
    # nowhere near the cumulative input
    assert max(state_rows) < total_input / 2, (state_rows, total_input)
    assert max(state_rows) <= 4 * per_hour, state_rows
    # eviction observed: once the watermark horizon fills (batch 2) the
    # state count is FLAT — each batch admits one hour and evicts one
    # hour (without eviction it would grow by ~60-108 rows per batch)
    assert state_rows[-1] <= state_rows[1], state_rows
    assert max(state_rows[1:]) - min(state_rows[1:]) <= per_hour, state_rows


def test_emb_dedup_index_is_cell_partitioned_and_probe_prunes(
    spark, tmp_path_factory
):
    """The streaming embedding-dedup index layout contract (round-10
    VERDICT item 2): assignments live under cell=<k>/ partition
    directories, and a probe that filters on the batch's touched-cell
    set physically reads ONLY those cells' files — per-batch probe I/O
    is proportional to touched cells, not total index size."""
    import os

    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.streaming.pipeline import (
        emb_dedup_ingest_sink,
    )

    root = str(tmp_path_factory.mktemp("embidx"))
    # tiny synthetic index: 4 cells, orthogonal unit centroids
    dim = 4
    cents = spark.createDataFrame(
        [(c, [1.0 if i == c else 0.0 for i in range(dim)]) for c in range(4)],
        "cell int, centroid array<double>",
    )
    cents.write.parquet(f"{root}/index/centroids")
    base = spark.createDataFrame(
        [
            (100 + c * 10 + j, c, [float(i == c) for i in range(dim)], 1.0)
            for c in range(4)
            for j in range(3)
        ],
        "vec_id bigint, cell int, vec array<double>, norm double",
    )
    base.write.partitionBy("cell").parquet(f"{root}/index/assignments")
    # layout: partition directories exist
    cells_on_disk = sorted(
        d for d in os.listdir(f"{root}/index/assignments") if d.startswith("cell=")
    )
    assert cells_on_disk == ["cell=0", "cell=1", "cell=2", "cell=3"]
    # a touched-cell filter prunes the scan to those directories only
    pruned = spark.read.parquet(f"{root}/index/assignments").filter(
        F.col("cell").isin([1, 3])
    )
    # input_file_name() is resolved at EXECUTION, after partition
    # pruning — it lists exactly the files the scan physically read
    files = [
        r[0]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    ]
    assert files, "pruned scan read no files"
    assert all(("/cell=1/" in f) or ("/cell=3/" in f) for f in files), files
    # and the plan carries the partition filter (not a post-scan one)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], plan
    # end-to-end: one micro-batch through the sink appends WITH the
    # partitioned layout and never self-drops on replayed ids
    batch = spark.createDataFrame(
        [(1, [0.0, 1.0, 0.0, 0.0]), (2, [0.0, 2.0, 0.0, 3.0])],
        "vec_id bigint, embedding array<double>",
    )
    src_dir = f"{root}/in"
    batch.repartition(1).write.parquet(src_dir)
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .parquet(src_dir)
    )
    q = emb_dedup_ingest_sink(
        stream,
        f"{root}/index",
        f"{root}/surv",
        f"{root}/ckpt",
        threshold=0.9,
        available_now=True,
    )
    q.awaitTermination(120)
    # vec 1 duplicates cell-1's indexed unit vector -> dropped;
    # vec 2 lands in cell 3 (nearest centroid) but its cosine vs the
    # indexed e4 vectors is 3/sqrt(13) ~= 0.83 < 0.9 -> survives
    surv = {r[0] for r in spark.read.parquet(f"{root}/surv").select("vec_id").collect()}
    assert surv == {2}, surv
    # appended rows landed under partition directories (not flat files)
    appended = spark.read.parquet(f"{root}/index/assignments")
    assert appended.count() == 14
    assert all(
        d.startswith("cell=") or d.startswith("_") or d.startswith(".")
        for d in os.listdir(f"{root}/index/assignments")
    )
    # retry semantics (round-10 ADVICE): re-probing ids already in the
    # index must not self-match — simulate a replay by re-running the
    # SAME batch file through a FRESH checkpoint against the grown index
    q2 = emb_dedup_ingest_sink(
        (
            spark.readStream.schema("vec_id bigint, embedding array<double>")
            .parquet(src_dir)
        ),
        f"{root}/index",
        f"{root}/surv2",
        f"{root}/ckpt2",
        threshold=0.9,
        available_now=True,
    )
    q2.awaitTermination(120)
    surv2 = {
        r[0] for r in spark.read.parquet(f"{root}/surv2").select("vec_id").collect()
    }
    # vec 2's FIRST copy is now indexed; without the _idx_id != vec_id
    # guard it would self-match at cosine 1.0 and the replay would drop
    # everything. With the guard, vec 2 still survives (its only index
    # match is itself) and vec 1 is still a dup of the original corpus.
    assert surv2 == {2}, surv2
