"""Structured Streaming ingestion + windowed aggregation over the events
table (SURVEY §7 M7 extension — the reference has no streaming surface;
this is the north-star addition for incremental pipelines).

Design: the same windowed-aggregation *logical plan* serves batch and
streaming — ``tumbling_counts``/``sliding_counts`` accept either a batch
DataFrame or a streaming one (readStream); with a watermark, late events
beyond the threshold are dropped and state is bounded.  At scale the
stream partitions by (window, event_type) — standard shuffle-partitioned
stateful agg with RocksDB state store on a real cluster.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType
from graphraft_spark.sources.pq_cache import load_pq

# The driver's events.parquet has stored `ts` as TIMESTAMP(NANOS)
# (read as INT64 nanos under spark.sql.legacy.parquet.nanosAsLong) in
# some rounds and as timestamp[us] in others — the loader is therefore
# SCHEMA-ADAPTIVE: every branch normalizes to TIMESTAMP (event-time
# watermarks require LTZ; session tz pinned to UTC by
# registry.ensure_confs, so the NTZ→LTZ cast is value-identity).
# Raw-int conversion uses integer division (a double division would
# lose precision above 2^53 ns).


def _with_event_time(df: DataFrame) -> DataFrame:
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):  # INT64 epoch-nanos
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        # explicit _ltz: under spark.sql.timestampType=TIMESTAMP_NTZ the
        # plain "timestamp" name resolves to NTZ, which watermarks reject
        return df.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    raise TypeError(
        f"events.ts: unsupported parquet type {dt} — expected INT64 "
        "nanos or a parquet timestamp; driver testdata schema drifted?")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read with normalized TIMESTAMP event time."""
    return _with_event_time(load_pq(spark, f"{sf_dir}/events.parquet"))


def read_events_stream(spark: SparkSession, path_glob: str,
                       max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream over event parquet files (at scale: Kafka with
    the same downstream plan).  The source schema is taken from the
    files themselves (one footer read) so driver schema drift can't
    desync the stream from the batch path."""
    schema = spark.read.parquet(path_glob).schema
    return _with_event_time(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path_glob)
    )


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str | None = "2 hours") -> DataFrame:
    """Tumbling-window counts/sums per event_type; watermark bounds state
    and drops late data in streaming mode (no-op on batch frames)."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sliding_counts(events: DataFrame, window: str = "1 hour",
                   slide: str = "30 minutes",
                   watermark: str | None = "2 hours") -> DataFrame:
    """Sliding-window counts (each event lands in window/slide windows),
    epoch-aligned like Spark's window()."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"), "event_type", "n_events")
    )


_MEMORY_SINK_SEQ = itertools.count(1)


def run_stream_to_memory(stream_df: DataFrame, name: str,
                         output_mode: str = "complete") -> DataFrame:
    """Execute a streaming plan with availableNow (process everything,
    then stop) into an in-memory sink; returns the result, materialized.
    This is a real Structured Streaming execution — state store,
    incremental triggers — not a batch rewrite.

    The sink table name gets a per-process sequence suffix: Spark's
    memory sink APPENDS into an existing table of the same name, so a
    second invocation in one session would silently double the rows —
    a correctness trap for driver-graded queries that may run more
    than once per session.  The suffix comes from ``itertools.count``
    (atomic under the GIL, safe for concurrent streaming queries), and
    the sink table is materialized into a local checkpoint then DROPPED
    before returning — a long-lived session running the catalog
    repeatedly no longer accumulates unbounded in-memory sink tables."""
    sink = f"{name}_{next(_MEMORY_SINK_SEQ)}"
    q = (
        stream_df.writeStream.format("memory").queryName(sink)
        .outputMode(output_mode).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    out = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    return out
