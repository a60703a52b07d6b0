"""Z-order layout (ops/layout.py): Morton-key correctness vs a bit-level
Python reference, the n=3 generic path and the SQL twin the oracle
replays."""

import pytest
from pyspark.sql import functions as F

from graphraft_spark.ops.layout import (
    with_zorder_key,
    zorder_key,
    zorder_key_sql,
)


def _morton_py(vals, bits):
    out = 0
    for j, v in enumerate(vals):
        v &= (1 << bits) - 1
        for k in range(bits):
            out |= ((v >> k) & 1) << (k * len(vals) + j)
    return out


def test_zorder_matches_bitlevel_reference(spark):
    rows = [(a, b) for a in (0, 1, 2, 3, 255, 65535)
            for b in (0, 1, 7, 1023, 65535)]
    df = spark.createDataFrame(rows, "a bigint, b bigint")
    got = {(r["a"], r["b"]): r["zkey"]
           for r in with_zorder_key(df, ["a", "b"]).collect()}
    for a, b in rows:
        assert got[(a, b)] == _morton_py([a, b], 16), (a, b)


def test_zorder_three_dims(spark):
    rows = [(1, 2, 3), (7, 0, 5), (255, 255, 255)]
    df = spark.createDataFrame(rows, "a bigint, b bigint, c bigint")
    out = df.select(zorder_key(
        [F.col("a"), F.col("b"), F.col("c")], bits=8).alias("z")).collect()
    for (a, b, c), r in zip(rows, out):
        assert r["z"] == _morton_py([a, b, c], 8)


def test_zorder_sql_twin_matches(spark):
    """The SQL rendering runs on Spark itself and must equal the Column
    build — which also pins what the DuckDB oracle replays."""
    df = spark.range(500).select(
        (F.col("id") * 37 % 1024).alias("a"),
        (F.col("id") * 101 % 1024).alias("b"))
    df.createOrReplaceTempView("zt")
    via_sql = {r["a"]: r["z"] for r in spark.sql(
        f"SELECT a, {zorder_key_sql(['a', 'b'])} AS z FROM zt").collect()}
    via_col = {r["a"]: r["zkey"]
               for r in with_zorder_key(df, ["a", "b"]).collect()}
    assert via_sql == via_col


def test_zorder_validation():
    with pytest.raises(ValueError):
        zorder_key([F.col("a")])
    with pytest.raises(ValueError):
        zorder_key([F.col("a")] * 2, bits=32)
