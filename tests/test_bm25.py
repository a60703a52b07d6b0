"""BM25 ranked retrieval: hand-computed scores, ranking invariants,
and the no-shuffle plan contract."""

import math

import pytest


def _expected_bm25(tf, dl, n, df, avgdl, k1=1.2, b=0.75):
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    return idf * (tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)))


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "spark spark spark joins tables"),          # tf(spark)=3, dl=5
        (1, "spark is fast"),                           # tf=1, dl=3
        (2, "duck db runs sql on files"),               # tf=0, dl=6
        (3, "spark and spark again here now"),          # tf=2, dl=6
        (4, "nothing relevant at all"),                 # tf=0, dl=4
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_single_term_scores_match_formula(corpus):
    from graphraft_spark.search.bm25 import bm25_scores

    got = {r.doc_id: r.bm25
           for r in bm25_scores(corpus, ["spark"]).collect()}
    n, avgdl, df = 5, 24 / 5, 3
    want = {
        0: _expected_bm25(3, 5, n, df, avgdl),
        1: _expected_bm25(1, 3, n, df, avgdl),
        3: _expected_bm25(2, 6, n, df, avgdl),
    }
    assert set(got) == set(want)          # zero-tf docs are excluded
    for d, w in want.items():
        assert got[d] == pytest.approx(w, abs=1e-12)


def test_multi_term_is_sum_of_per_term(corpus):
    from graphraft_spark.search.bm25 import bm25_scores

    both = {r.doc_id: r.bm25
            for r in bm25_scores(corpus, ["spark", "tables"]).collect()}
    spark_only = {r.doc_id: r.bm25
                  for r in bm25_scores(corpus, ["spark"]).collect()}
    tables_only = {r.doc_id: r.bm25
                   for r in bm25_scores(corpus, ["tables"]).collect()}
    for d in both:
        want = spark_only.get(d, 0.0) + tables_only.get(d, 0.0)
        assert both[d] == pytest.approx(want, abs=1e-12)


def test_topk_orders_by_score_then_id(corpus):
    from graphraft_spark.search.bm25 import bm25_topk

    rows = bm25_topk(corpus, ["spark"], k=2).collect()
    # doc 0 (tf=3, short) must outrank doc 3 (tf=2, longer)
    assert [r.doc_id for r in rows] == [0, 3]
    assert rows[0].bm25 > rows[1].bm25


def test_normalization_case_and_whitespace(spark):
    from graphraft_spark.search.bm25 import bm25_scores

    df = spark.createDataFrame(
        [(0, "  SPARK   Spark  "), (1, "spark")],
        "doc_id bigint, text string")
    got = {r.doc_id: r.bm25 for r in bm25_scores(df, ["spark"]).collect()}
    assert set(got) == {0, 1}
    assert got[0] > got[1]  # tf 2 vs 1 at dl 2 vs 1


def test_rejects_empty_and_oversized_queries(corpus):
    from graphraft_spark.search.bm25 import bm25_scores

    with pytest.raises(ValueError):
        bm25_scores(corpus, [])
    with pytest.raises(ValueError):
        bm25_scores(corpus, [f"t{i}" for i in range(65)])


def test_plan_has_no_corpus_shuffle(corpus):
    """The only exchange allowed is the 1-row stats aggregate's — tf/dl
    projection and scoring must not shuffle the corpus, and the stats
    side must come back broadcast."""
    from graphraft_spark.search.bm25 import bm25_scores

    plan = bm25_scores(corpus, ["spark"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # no SortMergeJoin / ShuffledHashJoin anywhere: the corpus never
    # repartitions
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_indexed_matches_direct(corpus, tmp_path):
    from graphraft_spark.search.bm25 import (bm25_query_indexed,
                                             bm25_topk, build_text_index)

    idx = str(tmp_path / "bm25_idx")
    build_text_index(corpus, idx, n_buckets=8)
    spark = corpus.sparkSession
    direct = bm25_topk(corpus, ["spark", "tables"], k=5).collect()
    indexed = bm25_query_indexed(
        spark, idx, ["spark", "tables"], k=5).collect()
    assert [(r.doc_id, r.bm25) for r in direct] == \
        [(r.doc_id, r.bm25) for r in indexed]


def test_indexed_plan_prunes_partitions(corpus, tmp_path):
    """The whole point of the index: a query must read only its terms'
    bucket partitions, not the full postings table."""
    from graphraft_spark.search.bm25 import (bm25_query_indexed,
                                             build_text_index,
                                             term_bucket_py)

    idx = str(tmp_path / "bm25_idx2")
    build_text_index(corpus, idx, n_buckets=8)
    spark = corpus.sparkSession
    df = bm25_query_indexed(spark, idx, ["spark"], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "bucket" in pf
    assert str(term_bucket_py("spark", 8)) in pf


def test_bucket_hash_parity(spark):
    """Driver-side bucket computation must equal the Spark expression
    for every term, or pruning would read the wrong partitions."""
    from graphraft_spark.search.bm25 import term_bucket, term_bucket_py

    import pyspark.sql.functions as F
    terms = ["spark", "tables", "", "ünïcode", "a b", "zz9"]
    df = spark.createDataFrame([(t,) for t in terms], "t string") \
        .select("t", term_bucket(F.col("t"), 64).alias("b"))
    got = {r.t: r.b for r in df.collect()}
    assert got == {t: term_bucket_py(t, 64) for t in terms}


def test_snapshot_meta_memo_is_bounded(corpus, tmp_path, monkeypatch):
    """The index meta memo holds at most the pq_cache bound: a
    new index's meta evicts the least-recently-used entry, so a long
    session of rebuilt indexes cannot grow it without limit, and the
    query still reads the right meta."""
    from collections import OrderedDict

    from graphraft_spark.search import bm25
    from graphraft_spark.sources.pq_cache import MEMO_BOUND

    idx = str(tmp_path / "bm25_idx_memo")
    bm25.build_text_index(corpus, idx, n_buckets=8)
    memo = OrderedDict((("dead", i), None) for i in range(MEMO_BOUND))
    monkeypatch.setattr(bm25, "_META_MEMO", memo)
    spark = corpus.sparkSession
    direct = bm25.bm25_topk(corpus, ["spark"], k=5).collect()
    indexed = bm25.bm25_query_indexed(spark, idx, ["spark"], k=5).collect()
    assert len(memo) == MEMO_BOUND
    assert ("dead", 0) not in memo and ("dead", 1) in memo
    assert [(r.doc_id, r.bm25) for r in direct] == \
        [(r.doc_id, r.bm25) for r in indexed]
