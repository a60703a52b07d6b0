"""Incremental funnel maintenance over a streaming event log.

The funnel binding (ops/funnel.py) is NOT incrementally maintainable
from per-step minimums alone: a late-arriving step-1 event that
precedes the current anchor re-anchors the user's whole chain, which
can move every later bound time (greedy bindings are a function of the
user's full event set, not a monoid).  The repo's standard answer
(streaming/signature_maintenance.py idiom) applies directly —
AFFECTED-PARTITION RECOMPUTE:

1. each micro-batch lands its events in an epoch-partitioned log
   (idempotent overwrite per epoch: at-least-once replays are no-ops);
2. only the USERS PRESENT IN THE BATCH have their funnel recomputed,
   against their full event history from the log (per-user history is
   funnel-relevant events only — bounded, and user-partitioned);
3. refreshed rows land in ``epoch=N`` of the funnel log; readers take
   each user's row from their latest epoch (merge-on-read).

Cost per epoch is O(events of affected users), not O(all events) —
and unlike a per-step stateful operator this is exactly correct under
arbitrary out-of-order arrival, because every recompute sees the whole
history.  A watermark-style retention cutoff on the event log bounds
storage when funnels only matter within a window.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphraft_spark.ops.funnel import funnel


def _epoch_dir(base: str, epoch_id: int) -> str:
    return os.path.join(base, f"epoch={epoch_id}")


def append_events(batch: DataFrame, epoch_id: int, log_dir: str) -> None:
    """Land one micro-batch in the epoch-partitioned event log
    (dynamic overwrite of its own epoch → replay-idempotent)."""
    (batch.write.mode("overwrite")
     .parquet(_epoch_dir(log_dir, epoch_id)))


def _read_log(spark: SparkSession, log_dir: str) -> DataFrame | None:
    if not os.path.isdir(log_dir) or not any(
            e.startswith("epoch=") for e in os.listdir(log_dir)):
        return None
    return spark.read.option("basePath", log_dir).parquet(
        os.path.join(log_dir, "epoch=*"))


def refresh_funnel(spark: SparkSession, log_dir: str, funnel_dir: str,
                   epoch_id: int, steps: list[str],
                   within_seconds: int | None = None,
                   user_col: str = "user_id") -> int:
    """Recompute the funnel rows of the users present in ``epoch_id``'s
    batch against their FULL logged history; write them to the funnel
    log's same epoch.  Returns the number of refreshed users."""
    log = _read_log(spark, log_dir)
    batch = spark.read.parquet(_epoch_dir(log_dir, epoch_id))
    affected = batch.select(F.col(user_col)).distinct()
    history = log.join(F.broadcast(affected), user_col, "left_semi")
    refreshed = funnel(history, steps, within_seconds, user_col=user_col)
    refreshed.write.mode("overwrite").parquet(
        _epoch_dir(funnel_dir, epoch_id))
    return refreshed.count()


def read_funnel(spark: SparkSession, funnel_dir: str) -> DataFrame:
    """Merge-on-read: each user's binding from their latest epoch."""
    from pyspark.sql import Window

    if not os.path.isdir(funnel_dir) or not any(
            e.startswith("epoch=") for e in os.listdir(funnel_dir)):
        return spark.createDataFrame(
            [], "user bigint, t1 bigint, converted boolean")
    log = spark.read.option("basePath", funnel_dir).parquet(
        os.path.join(funnel_dir, "epoch=*"))
    w = Window.partitionBy("user").orderBy(F.desc("epoch"))
    return (log.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn", "epoch"))
