"""SparkSession factory with scale-oriented defaults.

Defaults are tuned so the same logical plans survive a 1000-executor /
100 TB deployment: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), explicit broadcast threshold, and Arrow-backed
Python interop for the few places Python crosses into executors.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

DEFAULT_CONFS: dict[str, str] = {
    # Adaptive query execution: runtime shuffle-partition coalescing,
    # skew-join splitting (hub nodes in graphs are the canonical skew
    # source), and dynamic broadcast-join conversion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Anchor/name lists, dimension tables (region/nation/supplier) are
    # tiny: broadcast them instead of shuffling the big side.  8 MB,
    # not the old 64 MB: under 64 MB the planner STATICALLY broadcast
    # whole sf0.1 graph node/edge parquet tables into every hop join of
    # the pattern pipeline — a plan that only exists because the bench
    # corpus is small (at 100 TB those relations can never broadcast),
    # whose multi-second hash-relation rebuilds were the residual
    # variance of the pattern pipeline, p_full_pipeline's code path
    # today (measured on its bulk line: min 5.1s / median 5.8s at
    # 8 MB vs 5.5-15s at 64 MB; every graph/retrieval headline got
    # equal or faster).  Genuinely-small sides still broadcast: dims
    # fit in 8 MB statically, and AQE's dynamic join selection
    # re-broadcasts anything whose RUNTIME size is small — the
    # decision that actually transfers to cluster scale.
    "spark.sql.autoBroadcastJoinThreshold": str(8 * 1024 * 1024),
    # Arrow for pandas_udf / mapInPandas / toPandas round-trips.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # zstd for everything the engine writes (graph cache, ANN index,
    # delta logs): measured 24% smaller than snappy on the sf0.1 graph
    # tables with identical warm scan times — at 100 TB that's real
    # storage and IO; old snappy files keep reading fine.
    "spark.sql.parquet.compression.codec": "zstd",
    # Local-run friendliness; harmless on a cluster (AQE re-coalesces).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # local[32] on a 128 GiB box: leave room for OS cache + the Python
    # side, but don't starve storage memory — persisted derived graphs /
    # shingle frames evicting mid-bench forces full recomputes
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    # The bulk pattern-pipeline plans compile ~134 whole-stage-codegen
    # units per query — past the default 100-entry compiled-class cache,
    # so EVERY execution cyclically evicted and re-Janino-compiled the
    # entire plan (~134 compiles/run measured via CodegenMetrics), and
    # 32 task threads piling onto cold generated classes produced the
    # intermittent 2-4x wall spikes BENCH_r05 recorded on the bulk
    # pattern pipeline (now p_full_pipeline).  5000 entries holds the
    # whole query suite's generated classes (metaspace cost only);
    # measured: compiles/run drop to 0 after warmup, steady-state wall
    # 4.5s -> 3.4s at sf0.001.  Same effect on real executors at cluster scale — this
    # cache is per-JVM.
    "spark.sql.codegen.cache.maxEntries": "5000",
    # ...and the JIT code cache must hold the compiled forms: the JVM
    # default 240 MB (2x116 MB segments) fills after a few dozen heavy
    # queries in one session, and a full code cache triggers
    # flush/recompile storms — measured as 13-20s MEDIANS on
    # late-session bench lines that run flat 1.5-3s in a fresh JVM.
    # 1 GB is reserved address space, not resident memory.
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
    # Timestamps in the synthetic data are naive; keep them NTZ so Spark
    # and the DuckDB oracle agree byte-for-byte.
    "spark.sql.timestampType": "TIMESTAMP_NTZ",
    "spark.sql.session.timeZone": "UTC",
    # tolerate events.parquet storing ts as TIMESTAMP(NANOS) (some
    # driver rounds): read as INT64 nanos; load_events adapts either way
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "graphraft-spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def sf_dir(default: str = "/root/testdata/sf0.1") -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def local_frame(spark: SparkSession, rows: Sequence[dict],
                schema: StructType) -> DataFrame:
    """Driver-side rows as a DataFrame that Spark plans as a
    LocalRelation: an Arrow table's rows sit inline in the plan, while
    a Python list would be parallelized and every action on it would
    launch a job."""
    table = pa.Table.from_pylist(list(rows), schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
