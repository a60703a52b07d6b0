"""Mergeable frequency sketches: count-min (approximate counts) and
Bloom filters (approximate membership).  Both index their counters
with md5 arithmetic, so every build and probe is bit-portable and
DuckDB-oracle-checkable; both merge by a per-slot sum or OR.
(Spark's own HLL and Greenwald-Khanna sketches are
``F.approx_count_distinct`` and ``F.percentile_approx``.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cms_hash(col: Column, row: Column, width: int) -> Column:
    """Row-salted engine-portable counter index: DuckDB replays it as
    ``('0x' || substr(md5(d || ':' || x), 1, 15))::BIGINT % width``."""
    return F.conv(F.substring(
        F.md5(F.concat(row.cast("string"), F.lit(":"),
                       col.cast("string"))), 1, 15),
        16, 10).cast("bigint") % width


def cms_build(df: DataFrame, col: str, depth: int = 4,
              width: int = 1024, count_col: str | None = None) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of a column's
    frequency distribution: a (row, slot, cnt) counter table with
    ``depth`` hash rows of ``width`` slots — ≤ depth·width rows no
    matter how many distinct values the input holds.

    md5 counter indexing makes the full build→probe path
    DuckDB-oracle-checkable.
    Mergeability is trivial: sketches of two corpus shards combine by
    summing ``cnt`` on (row, slot) — see :func:`cms_merge` — which is
    also the map-side partial aggregation Spark already applies, so
    the shuffle carries at most depth·width rows per mapper.

    ``count_col``: pre-aggregated input weight (e.g. a (word, n) frame)
    instead of one row per occurrence."""
    cnt = F.col(count_col).cast("bigint") if count_col else F.lit(1)
    rows = df.select(
        F.col(col).alias("_v"), cnt.alias("_c"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"))
    return (rows
            .select("row", _cms_hash(F.col("_v"), F.col("row"),
                                     width).alias("slot"), "_c")
            .groupBy("row", "slot").agg(F.sum("_c").alias("cnt")))


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Combine two sketches built with the same (depth, width)."""
    return (a.unionByName(b)
            .groupBy("row", "slot").agg(F.sum("cnt").alias("cnt")))


def cms_probe(cms: DataFrame, items: DataFrame, col: str,
              depth: int = 4, width: int = 1024) -> DataFrame:
    """Point-frequency estimates: min over hash rows of the item's
    counters (a missing counter is 0).  Guarantees estimate ≥ true
    count, with overshoot ≤ ε·N at probability 1-δ for
    width = e/ε, depth = ln(1/δ) — the property pinned in tests.

    Items is typically a SMALL probe frame (suspected heavy hitters) —
    broadcast against the ≤ depth·width-row sketch."""
    probes = items.select(
        F.col(col).alias("item"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"))
    probes = probes.withColumn(
        "slot", _cms_hash(F.col("item"), F.col("row"), width))
    return (probes.join(cms, ["row", "slot"], "left")
            .groupBy("item")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias("est_count")))


def _bloom_pos(col: Column, probe: Column, num_bits: int,
               hash_fn: str = "md5") -> Column:
    """Bit position for hash-probe ``probe``.

    ``md5`` (default): engine-portable — same md5-prefix arithmetic as
    :func:`_cms_hash`, DuckDB replays it as ``('0x' || substr(md5(p ||
    ':' || v), 1, 15))::BIGINT % num_bits``.
    ``xx``: xxhash64 seeded by the probe index — ~10× cheaper per row
    (no string md5), NOT bit-portable.  Correct wherever the bloom is a
    PREFILTER whose survivors are exact-verified (bloom_decontaminate):
    fp positions never reach the output, so portability of the bit
    pattern buys nothing and the probe side pays 4 hashes per corpus
    gram — measured ×10 soak: md5 probe 65.7 s vs direct join 10.6 s
    before this path existed."""
    if hash_fn == "xx":
        return F.pmod(F.xxhash64(probe, col), F.lit(num_bits))
    return F.conv(F.substring(
        F.md5(F.concat(probe.cast("string"), F.lit(":"),
                       col.cast("string"))), 1, 15),
        16, 10).cast("bigint") % num_bits


def bloom_build(df: DataFrame, col: str, num_bits: int = 65_536,
                k: int = 4, hash_fn: str = "md5") -> DataFrame:
    """Bloom filter of a column's value set: a (word, bits) table of at
    most ``num_bits/64`` BIGINT words — fixed size no matter how many
    values went in, the broadcastable membership summary a 100 TB
    decontamination pass ships to every executor instead of the raw
    gram strings.

    Portable like the CMS (md5 bit positions, two's-complement 64-bit
    words — identical in DuckDB), so build→probe is oracle-checkable.
    Merge = bitwise-OR on word (:func:`bloom_merge`), which is also the
    map-side partial Spark applies here: the shuffle carries at most
    ``num_bits/64`` rows per mapper.  Standard sizing: fp-rate ≈
    ``(1 - e^{-k·n/m})^k`` — at the defaults (m=65536, k=4) that is
    ~2.4e-3 for n ≈ 4k values; to reach ~1e-4 keep n ≲ 1.7k or grow
    ``num_bits`` (the 10×-bits rule in ops/curation.py sizes this).
    """
    rows = df.select(
        F.col(col).alias("_v"),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("probe"))
    pos = _bloom_pos(F.col("_v"), F.col("probe"), num_bits, hash_fn)
    return (rows
            .select((pos / 64).cast("bigint").alias("word"),
                    F.call_function(
                        "shiftleft", F.lit(1).cast("bigint"),
                        (pos % 64).cast("int")).alias("mask"))
            .groupBy("word").agg(F.bit_or("mask").alias("bits")))


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Combine two filters built with the same (num_bits, k)."""
    return (a.unionByName(b)
            .groupBy("word").agg(F.bit_or("bits").alias("bits")))


def bloom_probe(bloom: DataFrame, items: DataFrame, col: str,
                num_bits: int = 65_536, k: int = 4,
                hash_fn: str = "md5") -> DataFrame:
    """(item, maybe_present): present iff ALL k probe bits are set.
    NO false negatives ever; false positives at the sizing rate — so a
    ``maybe_present`` stream must be exact-verified downstream when
    exactness matters (see :func:`graphraft_spark.ops.decontaminate.
    bloom_decontaminate`).  The filter side is ≤ num_bits/64 rows —
    always the broadcast side."""
    probes = items.select(
        F.col(col).alias("item"),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("probe"))
    pos = _bloom_pos(F.col("item"), F.col("probe"), num_bits, hash_fn)
    probes = probes.select(
        "item", (pos / 64).cast("bigint").alias("word"),
        F.call_function("shiftleft", F.lit(1).cast("bigint"),
                        (pos % 64).cast("int")).alias("mask"))
    return (probes.join(F.broadcast(bloom), "word", "left")
            .groupBy("item")
            .agg((F.count(F.when(
                F.coalesce(F.col("bits"), F.lit(0))
                .bitwiseAND(F.col("mask")) != 0, 1)) == F.lit(k))
                .alias("maybe_present")))
