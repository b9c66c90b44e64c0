"""Bronze -> silver ETL: the reference's core dataflow as ONE lazy
DataFrame transform.

Semantics: etl/glue_job.py:119-193 (explode map -> struct projection ->
explode candles -> positional extraction -> derived columns -> DQ filter)
with the lightweight variant's stricter ``close > 0`` gate
(etl/lightweight_etl.py:83-86 — it gates the actually-deployed data;
SURVEY.md SS7.4). Output is the 17-column silver schema
(etl/lightweight_etl.py:129-133) written as Parquet partitioned by
(symbol_clean, dt) — see schemas.SILVER_PARTITIONING for why the date
levels collapse into one Hive column.

Scale design: the whole normalize is narrow (no shuffle) — explodes and
projections pipeline inside one codegen stage per input split; the only
wide operation is the optional last-wins dedup. Both silver sinks use
dynamic partition overwrite on re-runs only (idempotent, ST5) and a
static one into a fresh path; the choice probes whether the path exists,
which assumes one writer per silver path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import dedup_by_key
from ..schemas import SILVER_PARTITIONING

# The transform is written as SQL text: each selectExpr/where below is one
# py4j call, where the Column-API form crossed to the JVM for every F.col,
# operator and .columns fetch (bronze_to_silver measured ~190 -> ~90 ms of
# driver time per 100-symbol day batch on a 4-vCPU VM).
_LINEAGE = ("_file", "_file_seq")
_TS = "timestamp_seconds(CAST(timestamp_unix AS BIGINT))"  # F3, UTC session


def explode_envelopes(raw: DataFrame) -> DataFrame:
    """P1+P2+P3+P4: envelope -> one row per candle with positional fields.

    Mirrors etl/glue_job.py:125-158: explode the symbol map, project the
    struct, explode the candles array, extract positions 0-5.
    """
    lineage = [c for c in _LINEAGE if c in raw.columns]
    # get(), not candle[i]: a truncated candle array yields NULLs that the
    # DQ filter drops, instead of an ANSI out-of-bounds error killing the
    # batch — malformed feed rows must degrade, not fail.
    return (
        raw.selectExpr("explode(data) AS (symbol_key, symbol_data)", *lineage)
        .selectExpr(
            "symbol_data.symbol AS symbol",
            "symbol_data.resolution AS resolution",
            "symbol_data.timestamp AS fetch_timestamp",
            "explode(symbol_data.candles) AS candle",
            *lineage,
        )
        .selectExpr(
            "symbol",
            "resolution",
            "fetch_timestamp",
            "CAST(get(candle, 0) AS BIGINT) AS timestamp_unix",
            "get(candle, 1) AS open",
            "get(candle, 2) AS high",
            "get(candle, 3) AS low",
            "get(candle, 4) AS close",
            "CAST(get(candle, 5) AS BIGINT) AS volume",
            *lineage,
        )
    )


def quality_filter(df: DataFrame) -> DataFrame:
    """P5 — DQ gate: o/h/l/c non-null, high >= low, volume >= 0, close > 0
    (glue + lightweight variants combined; the close>0 strictness is the
    deployed behavior)."""
    return df.where(
        "timestamp_unix IS NOT NULL AND open IS NOT NULL AND high IS NOT NULL"
        " AND low IS NOT NULL AND close IS NOT NULL AND volume IS NOT NULL"
        " AND high >= low AND volume >= 0 AND close > 0"
    )


def derive_silver_columns(df: DataFrame) -> DataFrame:
    """F1-F7: symbol_clean (the ``NSE:|\\-EQ`` strip of
    functions.candles.clean_symbol), timestamps, calendar partition
    columns, processed_at. ``df`` must not already carry these columns."""
    return df.selectExpr(
        "*",
        r"regexp_replace(symbol, r'NSE:|\-EQ', '') AS symbol_clean",
        f"{_TS} AS timestamp_iso",
        f"year({_TS}) AS year",
        f"month({_TS}) AS month",
        f"dayofmonth({_TS}) AS day",
        f"hour({_TS}) AS hour",
        f"date_format({_TS}, 'yyyy-MM-dd') AS dt",
        "current_timestamp() AS processed_at",
    )


SILVER_COLUMNS = [
    "symbol", "symbol_clean", "timestamp_unix", "timestamp_iso",
    "open", "high", "low", "close", "volume", "resolution",
    "fetch_timestamp", "year", "month", "day", "hour", "dt", "processed_at",
]


def bronze_to_silver(
    raw: DataFrame,
    dedup: str | None = "last",
) -> DataFrame:
    """The full normalize: explode -> DQ filter -> derive -> (optional)
    last-wins dedup per (symbol, ts) using the file sequence as arrival
    order (ST3: every 5-min fetch re-pulls the whole day, so raw files
    overlap massively)."""
    df = derive_silver_columns(quality_filter(explode_envelopes(raw)))
    if dedup:
        order = ["_file_seq", "fetch_timestamp"] if "_file_seq" in df.columns else ["fetch_timestamp"]
        df = dedup_by_key(df, ["symbol", "timestamp_unix"], order, keep=dedup)
    return df.select(*SILVER_COLUMNS)


def write_silver(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    write_parallelism: int | None = None,
) -> None:
    """S12 — partitioned Parquet sink: snappy, dictionary encoding.
    Dynamic partition overwrite on re-runs only, static into a fresh
    path; the choice probes whether ``path`` exists, which assumes one
    writer per silver path (:func:`_silver_writer`).

    The reference sets AQE confs as write options where they are inert
    (etl/glue_job.py:213-214) — here session.tune() sets them correctly.

    The pre-write repartition hashes on the partition columns with an
    EXPLICIT partition count: it bounds files-per-directory (no
    small-file explosion) while keeping the write wide — a count-less
    repartition lets AQE coalesce the exchange to a handful of tasks and
    the many-directory write goes serial (measured 2.5x slower on a
    500-symbol day)."""
    n = write_parallelism or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    out = df.repartition(n, *SILVER_PARTITIONING)
    # time-sorted rows within each file: parquet row-group min/max stats on
    # timestamp become selective, so intraday range predicates skip row
    # groups instead of scanning whole symbol-days
    if "timestamp_unix" in df.columns:
        out = out.sortWithinPartitions(*SILVER_PARTITIONING, "timestamp_unix")
    _silver_writer(out, path, mode).option("compression", "snappy").parquet(path)


def _silver_writer(df: DataFrame, path: str, mode: str):
    """The partitioned writer of both silver sinks. An overwrite pins
    ``partitionOverwriteMode`` per write, whatever the session default:

    - ``dynamic`` when ``path`` exists — a re-run replaces only the
      partitions it writes and keeps every other day (ST5);
    - ``static`` when it does not — the target is empty, so dynamic buys
      nothing, and it would stage every file under ``.spark-staging-*``
      and rename each partition directory on the driver at job commit.

    Assumes one writer per silver path: a path created by another writer
    between the existence probe and this write is overwritten whole."""
    writer = df.write.mode(mode).partitionBy(*SILVER_PARTITIONING)
    if mode != "overwrite":
        return writer
    spark = df.sparkSession
    try:  # the Hadoop FS the writer resolves ``path`` with
        hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        exists = hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath)
    except Exception:  # pragma: no cover - conservative: keep dynamic
        exists = True
    return writer.option("partitionOverwriteMode", "dynamic" if exists else "static")


def read_silver_csv(spark, path: str) -> DataFrame:
    """S5 — read the gzipped-CSV silver twin back with the EXPLICIT
    17-column schema (never inference; api/api_handler_csv.py:111-134's
    typed reader). Gzip is transparent to the CSV source. Partition
    columns (symbol_clean/dt) come from the directory layout."""
    from ..schemas import SILVER_SCHEMA
    from pyspark.sql import types as T

    # partition columns are directory-derived, not in-file
    in_file = T.StructType(
        [f for f in SILVER_SCHEMA.fields if f.name not in SILVER_PARTITIONING]
    )
    return spark.read.schema(in_file).option("header", True).csv(path)


def silver_csv_sink(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S11 — the reference's gzipped-CSV silver twin (kept for parity;
    Parquet is the primary format). Overwrites like :func:`write_silver`."""
    (
        _silver_writer(df, path, mode)
        .option("header", True)
        .option("compression", "gzip")
        .csv(path)
    )


def run_metadata(silver: DataFrame) -> DataFrame:
    """S15 shape — the ETL run ledger row (sql/rds_schema.sql:44-68):
    row counts / distinct symbols / span, computed in one pass."""
    return silver.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.countDistinct("symbol_clean").alias("symbols_count"),
        F.min("timestamp_iso").alias("first_candle"),
        F.max("timestamp_iso").alias("last_candle"),
        F.current_timestamp().alias("ingested_at"),
    ).withColumn("processing_status", F.lit("completed"))
