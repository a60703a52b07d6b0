"""Product-quantization ANN (ops/pq.py): exactness at codebook
centroids, recall on clustered data vs exact search, code compactness,
and determinism."""

import pytest
from pyspark.sql import functions as F


def _clustered(spark, n_clusters=8, per=30, dim=16, spread=0.05):
    """Deterministic clustered corpus: cluster c's center is a one-hot
    +2c pattern; members perturb deterministically."""
    rows = []
    for c in range(n_clusters):
        center = [2.0 * c if i % dim == c % dim else 0.1 * c
                  for i in range(dim)]
        for p in range(per):
            v = [center[i] + spread * (((c * per + p) * 31 + i) % 7 - 3)
                 for i in range(dim)]
            rows.append((c * per + p, c, v))
    return spark.createDataFrame(
        rows, "vec_id bigint, cluster bigint, embedding array<double>")


@pytest.fixture(scope="module")
def corpus(spark):
    return _clustered(spark).persist()


@pytest.fixture(scope="module")
def trained(corpus):
    from graphraft_spark.ops.pq import pq_encode, pq_train

    books = pq_train(corpus, m=4, k=16, iters=4)
    codes = pq_encode(corpus, books).persist()
    return books, codes


def test_code_is_m_bytes(trained):
    books, codes = trained
    rows = codes.collect()
    assert all(len(r["code"]) == 4 for r in rows)
    assert len(rows) == 240


def test_centroid_vectors_reconstruct_exactly(spark, trained):
    """A query that IS a concatenation of codewords has asymmetric
    distance 0 to any vector encoding to those codewords."""
    from graphraft_spark.ops.pq import pq_encode, pq_search

    books, codes = trained
    # build a vector from codeword 0 of each subspace
    q = [x for b in books for x in b[0]]
    qdf = spark.createDataFrame([(0, q)], "qid bigint, q_emb array<double>")
    vdf = spark.createDataFrame([(999, q)],
                                "vec_id bigint, embedding array<double>")
    code = pq_encode(vdf, books)
    hit = pq_search(code, books, qdf, k=1).collect()[0]
    assert hit["vec_id"] == 999 and abs(hit["dist2"]) < 1e-12


def test_coarse_recall_on_clusters(spark, corpus, trained):
    """PQ's contract at this code budget is COARSE retrieval: every
    top-10 hit must come from the query's own cluster (within-cluster
    members share codes, so fine-grained rank inside a cluster is
    tie-ordering — the exact-rank regime belongs to re-ranking with
    full vectors, which IVF/brute cover)."""
    from graphraft_spark.ops.pq import pq_search

    books, codes = trained
    q_rows = corpus.filter(F.col("vec_id").isin(5, 65, 125)).collect()
    qdf = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in q_rows],
        "qid bigint, q_emb array<double>")
    got = pq_search(codes, books, qdf, k=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(r["vec_id"])
    cluster_of = {r["vec_id"]: r["cluster"] for r in corpus.collect()}
    for r in q_rows:
        hits = by_q[r["vec_id"]]
        assert len(hits) == 10
        assert all(cluster_of[h] == r["cluster"] for h in hits), hits
        assert r["vec_id"] in hits  # self always retrieved


def test_training_is_deterministic(corpus):
    from graphraft_spark.ops.pq import pq_train

    a = pq_train(corpus, m=4, k=8, iters=3)
    b = pq_train(corpus, m=4, k=8, iters=3)
    assert a == b


def test_dim_not_divisible_raises(corpus):
    from graphraft_spark.ops.pq import pq_train

    with pytest.raises(ValueError, match="divisible"):
        pq_train(corpus, m=5, k=8, iters=1)


def test_rerank_recovers_exact_topk(spark, corpus, trained):
    """Coarse top-C (PQ) -> exact re-rank == brute-force exact top-k
    when C is generous (here C = the whole cluster)."""
    from graphraft_spark.ops.pq import pq_search, rerank_exact

    books, codes = trained
    q_rows = corpus.filter(F.col("vec_id").isin(65)).collect()
    qdf = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in q_rows],
        "qid bigint, q_emb array<double>")
    coarse = pq_search(codes, books, qdf, k=30)  # whole cluster
    exact5 = rerank_exact(coarse, corpus, qdf, k=5).collect()
    vecs = {r["vec_id"]: r["embedding"] for r in corpus.collect()}
    qv = q_rows[0]["embedding"]
    want = sorted(vecs, key=lambda i: (
        sum((a - b) ** 2 for a, b in zip(vecs[i], qv)), i))[:5]
    got = [r["vec_id"] for r in sorted(exact5, key=lambda r: r["rank"])]
    assert got == want


def test_k_over_256_raises(corpus):
    from graphraft_spark.ops.pq import pq_train

    with pytest.raises(ValueError, match="256"):
        pq_train(corpus, m=4, k=300, iters=1)
