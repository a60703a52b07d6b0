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
* the memo key carries the source fingerprint: the relative path,
  size and mtime_ns of the path and of every entry beneath it, from one
  ``os.scandir`` walk.  Any write that adds, removes or rewrites a file
  anywhere in the tree — a whole-directory ``mode("overwrite")``, or a
  part file landing inside one partition subdirectory of a
  ``partitionBy`` layout — changes the key, so the next call gets a
  fresh handle with a fresh file listing;
* the key carries the JVM application id, so a new SparkSession never
  sees another session's (dead) plan handles.

Self-joins: when one memoized handle is on both sides of a join, tell
the sides apart with ``.alias()`` and qualified columns
(``h.alias("a").join(h.alias("b"), F.col("a.x") == F.col("b.x"))``),
never with ``h["x"]``, which names the same attribute on both sides.
"""

from __future__ import annotations

import os
import stat
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# (app_id, realpath, tree fingerprint) -> DataFrame (lazy plan handle)
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


def _fingerprint(path: str) -> tuple:
    """(relative path, size, mtime_ns) of ``path`` and of every entry
    beneath it, sorted — one ``os.scandir`` walk, one stat per entry."""
    st = os.stat(path)
    out = [("", st.st_size, st.st_mtime_ns)]
    todo = [("", path)] if stat.S_ISDIR(st.st_mode) else []
    while todo:
        rel, d = todo.pop()
        with os.scandir(d) as it:
            for e in it:
                est = e.stat()
                out.append((rel + e.name, est.st_size, est.st_mtime_ns))
                if e.is_dir():
                    todo.append((f"{rel}{e.name}/", e.path))
    return tuple(sorted(out))


def stat_memo(memo: OrderedDict, spark: SparkSession, path: str,
              build: Callable[[], object]):
    """``build()`` memoized in ``memo`` under (application id, real
    path, tree fingerprint of ``path``), holding at most ``MEMO_BOUND``
    entries in least-recently-used order.  A path that cannot be
    walked is built on every call, uncached."""
    try:
        key = (_app_id(spark), os.path.realpath(path), _fingerprint(path))
    except OSError:
        return build()
    if key in memo:
        memo.move_to_end(key)
        return memo[key]
    value = memo[key] = build()
    if len(memo) > MEMO_BOUND:
        memo.popitem(last=False)
    return value


def load_pq(spark: SparkSession, path: str) -> DataFrame:
    """Memoized ``spark.read.parquet(path)``, keyed on the fingerprint
    of the whole tree under ``path`` (module docstring).  An absent
    path gets Spark's own error from the plain reader."""
    return stat_memo(_MEMO, spark, path, lambda: spark.read.parquet(path))
