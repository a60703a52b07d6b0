"""load_pq: memoized parquet HANDLES — lazy plans, fingerprint-keyed.

Pins the contract points the memo relies on: same-fingerprint calls
share one analyzed handle (the ~0.1-0.2 s footer/listing cost is paid
once), any write anywhere in the path's tree invalidates the memo (no
stale plans), and no DATA is ever cached (a new action after a rewrite
sees the new rows)."""

import os
import time

from pyspark.sql import functions as F

from graphraft_spark.sources.pq_cache import load_pq


def _write(spark, path, vals):
    spark.createDataFrame([(v,) for v in vals], "x int") \
        .coalesce(1).write.mode("overwrite").parquet(path)


def test_memo_hit_same_handle(spark, tmp_path):
    p = str(tmp_path / "t1")
    _write(spark, p, [1, 2, 3])
    a = load_pq(spark, p)
    b = load_pq(spark, p)
    assert a is b
    assert a.count() == 3


def test_rewrite_invalidates_and_serves_new_data(spark, tmp_path):
    p = str(tmp_path / "t2")
    _write(spark, p, [1, 2, 3])
    a = load_pq(spark, p)
    assert a.count() == 3
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse clocks
    _write(spark, p, [7, 8, 9, 10])
    b = load_pq(spark, p)
    assert b is not a
    assert b.count() == 4
    assert sorted(r.x for r in b.collect()) == [7, 8, 9, 10]


def test_self_join_through_shared_handle(spark, tmp_path):
    p = str(tmp_path / "t3")
    _write(spark, p, [1, 2, 2])
    a = load_pq(spark, p).alias("a")
    b = load_pq(spark, p).alias("b")
    j = a.join(b, F.col("a.x") == F.col("b.x"))
    assert j.count() == 5  # 1x1 + 2x2


def test_missing_path_falls_through_to_spark_error(spark, tmp_path):
    p = str(tmp_path / "absent")
    try:
        load_pq(spark, p).count()
        raised = False
    except Exception:  # noqa: BLE001 — Spark's own error semantics
        raised = True
    assert raised
    assert not os.path.exists(p)


def test_hot_handle_survives_bound_overflow(spark, tmp_path, monkeypatch):
    """Past MEMO_BOUND the memo evicts its least-recently-used entry:
    a handle touched between misses outlives any number of them."""
    from collections import OrderedDict

    from graphraft_spark.sources import pq_cache

    monkeypatch.setattr(pq_cache, "_MEMO", OrderedDict())
    monkeypatch.setattr(pq_cache, "MEMO_BOUND", 2)
    paths = [str(tmp_path / f"t{i}") for i in range(4)]
    for p in paths:
        _write(spark, p, [1])
    hot = load_pq(spark, paths[0])
    for p in paths[1:]:
        load_pq(spark, p)
        assert load_pq(spark, paths[0]) is hot
        assert len(pq_cache._MEMO) <= 2


def test_part_file_added_inside_partition_invalidates(spark, tmp_path):
    """A part file landing inside an existing partition subdirectory
    leaves the top-level entries untouched; the tree fingerprint still
    moves, so the next load_pq lists the new file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "parted")
    spark.createDataFrame([(1, 0), (2, 0), (3, 1)], "x int, part int") \
        .write.mode("overwrite").partitionBy("part").parquet(p)
    a = load_pq(spark, p)
    assert a.count() == 3
    top = sorted(os.listdir(p))
    top_mtime = os.stat(p).st_mtime_ns
    pq.write_table(pa.table({"x": pa.array([7, 8], pa.int32())}),
                   os.path.join(p, "part=0", "part-extra.parquet"))
    assert sorted(os.listdir(p)) == top
    assert os.stat(p).st_mtime_ns == top_mtime
    b = load_pq(spark, p)
    assert b is not a
    assert b.count() == 5
    assert sorted(r.x for r in b.filter(F.col("part") == 0).collect()) \
        == [1, 2, 7, 8]
