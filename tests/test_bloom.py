"""Bloom filter sketch family (ops/sketches.py) and the bloom-
prefiltered decontamination path (ops/decontaminate.py).

Guarantees pinned here: NO false negatives ever (membership of every
inserted value), merge == build-on-union, false-positive rate within
the sizing bound, and bloom_decontaminate == contamination_flags
exactly (the prefilter must be invisible in the output).
"""

import pytest
from pyspark.sql import functions as F

from graphraft_spark.ops.decontaminate import (bloom_decontaminate,
                                               contamination_flags)
from graphraft_spark.ops.sketches import bloom_build, bloom_merge, bloom_probe

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def values(spark):
    return spark.range(500).select(
        F.concat(F.lit("value-"), F.col("id").cast("string")).alias("v"))


def test_no_false_negatives(spark, values):
    bloom = bloom_build(values, "v")
    got = bloom_probe(bloom, values, "v").collect()
    assert len(got) == 500
    assert all(r.maybe_present for r in got)


def test_false_positive_rate_within_bound(spark, values):
    # 500 inserted / 65536 bits / k=4 -> fp ~ (1-e^{-4*500/65536})^4
    # ~ 8e-7; probing 2000 absent values must yield ~0 hits (allow 2)
    bloom = bloom_build(values, "v")
    absent = spark.range(2000).select(
        F.concat(F.lit("absent-"), F.col("id").cast("string")).alias("v"))
    fp = bloom_probe(bloom, absent, "v") \
        .filter(F.col("maybe_present")).count()
    assert fp <= 2, f"fp rate way over bound: {fp}/2000"


def test_merge_equals_union_build(spark, values):
    a = values.filter(F.col("v") < "value-3")
    b = values.filter(F.col("v") >= "value-3")
    merged = bloom_merge(bloom_build(a, "v"), bloom_build(b, "v"))
    whole = bloom_build(values, "v")
    assert {tuple(r) for r in merged.collect()} \
        == {tuple(r) for r in whole.collect()}


def test_bloom_decontaminate_matches_exact(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from graphraft_spark.ops.dedup import words
    ws = words(F.col("text"))
    bench = (docs.filter((F.col("doc_id") % 7 == 3) & (F.size(ws) >= 11))
             .select(F.concat_ws(" ", F.slice(ws, 4, 8)).alias("text")))
    exact = {tuple(r) for r in
             contamination_flags(docs, bench, n=8).collect()}
    bloomed = {tuple(r) for r in
               bloom_decontaminate(docs, bench, n=8).collect()}
    assert bloomed == exact
    assert any(r[2] for r in exact)  # some contamination actually found


def test_fast_hash_path_no_false_negatives(spark):
    from graphraft_spark.ops.sketches import bloom_build, bloom_probe
    vals = spark.createDataFrame([(f"v{i}",) for i in range(500)],
                                 "x string")
    bloom = bloom_build(vals, "x", num_bits=1 << 14, hash_fn="xx")
    got = {r.item: r.maybe_present
           for r in bloom_probe(bloom, vals, "x", num_bits=1 << 14,
                                hash_fn="xx").collect()}
    assert all(got[f"v{i}"] for i in range(500))
