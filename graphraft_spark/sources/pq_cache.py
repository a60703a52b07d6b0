"""Memoized parquet table HANDLES (lazy plans, never data).

``spark.read.parquet(path)`` costs ~0.1-0.2 s per call on the driver:
a DataFrameReader round-trip plus footer/schema inference plus the
relation's file listing — paid again for every query construction even
though the result is a pure lazy plan.  Across a 45-line bench with
2-6 table reads per line that is several seconds of single-threaded
driver time per suite (and it is core-count independent, so it is the
first thing the low-core scaling axis sees).

This memo returns the SAME analyzed DataFrame handle for the same
(session, file-identity) pair.  Nothing about the data is cached:

* the DataFrame is lazy — every action still scans the parquet files;
* the memo key carries the source fingerprint (size + mtime_ns of the
  TOP-LEVEL path only, the same invalidation contract as
  ``graph/tpch.source_fingerprint``) — one stat() per call.  That is
  safe for single files and for non-partitioned writers that replace
  the whole directory (``mode("overwrite")``): the replacement moves
  the directory's mtime, so the next call gets a fresh handle.  A
  write that only changes files INSIDE a partition subdirectory (an
  epoch-style append under ``partitionBy``) leaves the top-level stat
  unchanged, so the memo keeps serving the old file listing — read
  such directories with ``spark.read.parquet`` instead;
* the key carries the JVM application id, so a new SparkSession never
  sees another session's (dead) plan handles.

Self-joins: Spark's analyzer disambiguates two uses of one DataFrame
handle via per-Dataset ids (verified by test); queries that need
distinct attribute ids can still call ``spark.read.parquet`` directly.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# (app_id, realpath, size, mtime_ns) -> DataFrame (lazy plan handle)
_MEMO: OrderedDict[tuple, DataFrame] = OrderedDict()
# past this many entries a memo evicts its least-recently-used one:
# bounds a long session's dead fingerprints (every rewrite of a path
# leaves one behind) without dropping the handles still in use
MEMO_BOUND = 512


def _app_id(spark: SparkSession) -> str:
    # one py4j call on first use per session object, then a plain
    # attribute read (the wrapper object is stable under getOrCreate)
    app = getattr(spark, "_graft_app_id", None)
    if app is None:
        app = spark.sparkContext.applicationId
        try:
            spark._graft_app_id = app
        except Exception:  # noqa: BLE001 — memo still works, just slower
            pass
    return app


def stat_memo(memo: OrderedDict, spark: SparkSession, path: str,
              build: Callable[[], object]):
    """``build()`` memoized in ``memo`` under the stat key of ``path``
    (application id, real path, size, mtime_ns), holding at most
    ``MEMO_BOUND`` entries in least-recently-used order.  A path that
    cannot be stat'ed is built on every call, uncached."""
    try:
        st = os.stat(path)
    except OSError:
        return build()
    key = (_app_id(spark), os.path.realpath(path),
           st.st_size, st.st_mtime_ns)
    if key in memo:
        memo.move_to_end(key)
        return memo[key]
    value = memo[key] = build()
    if len(memo) > MEMO_BOUND:
        memo.popitem(last=False)
    return value


def load_pq(spark: SparkSession, path: str) -> DataFrame:
    """Memoized ``spark.read.parquet(path)``, keyed on a stat of the
    top-level path only — see module docstring for when that is safe.
    An absent path gets Spark's own error from the plain reader."""
    return stat_memo(_MEMO, spark, path, lambda: spark.read.parquet(path))
