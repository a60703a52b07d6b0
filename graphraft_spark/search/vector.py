"""Vector similarity + KNN (reference retriever.py:14-17, ner.py:117-120,
stark_neo4j_loading.py:63-80).

The reference stores 1536-d cosine vectors in a Neo4j HNSW index and
queries top-``ef`` *approximately*.  Our correctness baseline is exact:
brute-force cosine + ``orderBy(desc).limit(k)``, which Spark executes as
``TakeOrderedAndProject`` — a single scan with per-partition top-k and a
tiny driver-side merge, no full shuffle/sort.  The scale path (IVF/LSH
partition pruning) lives in graphraft_spark.ops.similarity and shares
this API.

Similarity math stays JVM-side (``zip_with`` + ``aggregate`` — whole-stage
codegen) for oracle-checkable paths; ``dot_pandas`` is the Arrow/numpy
fast path for wide embeddings in benchmarks.
"""

from __future__ import annotations

import pandas as pd

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_col(a: Column, b: Column) -> Column:
    """Dot product of two ARRAY<numeric> columns, as DOUBLE."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity (vector.similarity.cosine, retriever.py:59).
    Pre-normalized vectors should use dot_col directly (cosine == dot)."""
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def l2_normalize_col(a: Column) -> Column:
    """Ingest-time normalization (A3): with unit vectors, cosine = dot."""
    n = norm_col(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def _query_lit(q: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in q])


def with_similarity(df: DataFrame, emb_col: str, q: Sequence[float],
                    out: str = "similarity", cosine: bool = True) -> DataFrame:
    sim = (cosine_col if cosine else dot_col)(F.col(emb_col), _query_lit(q))
    return df.withColumn(out, sim)


def knn(df: DataFrame, emb_col: str, q: Sequence[float], k: int,
        id_col: str | None = None, cosine: bool = True) -> DataFrame:
    """Exact top-k by similarity.  Ties broken by ``id_col`` so results
    are deterministic (required for oracle hashing; the reference's HNSW
    is approximate and needs no such guarantee)."""
    scored = with_similarity(df, emb_col, q, cosine=cosine)
    order = [F.desc("similarity")]
    if id_col is not None:
        order.append(F.asc(id_col))
    return scored.orderBy(*order).limit(k)


def knn_pseudo_entities(graph, questions: DataFrame, k: int = 2,
                        name_emb_col: str = "nameEmbedding",
                        qemb_col: str = "q_emb") -> DataFrame:
    """C5 kNN-NER ablation path
    (prepare_for_text2cypher_ablation.ipynb cells 6-7 / 23-24): per
    question, the ``k`` nearest node NAMES by question-embedding
    similarity REPLACE the LLM-NER entities (`find_knn_nodes`, k=2/5),
    and the result feeds ``enumerate_paths_batch`` directly as its
    (qid, name) anchor frame.

    One batch job for ALL questions (scored pairs → per-qid window
    top-k) instead of the reference's per-question vector-index call.
    Scoring is the dot product — rank-equal to the reference's cosine
    index on normalized embeddings (ingest normalizes, A3); ties break
    on name so the anchor set is deterministic.  Returns
    (qid, name, rn) with rn 1-based."""
    from graphraft_spark.ops.similarity import brute_force_topk

    vectors = graph.nodes.select(
        F.col("name").alias("vec_id"), F.col(name_emb_col).alias("embedding"))
    top = brute_force_topk(
        vectors, questions.select("qid", qemb_col), k=k,
        id_col="vec_id", qid_col="qid",
        emb_col="embedding", qemb_col=qemb_col, arrow=False)
    # (qemb_col is forwarded, so callers may keep their own column name)
    return top.select("qid", F.col("vec_id").alias("name"), "rn")


# Arrow/numpy fast path for wide embeddings (bench, not oracle).
# pandas_udf construction needs an active SparkSession (the return-type
# DDL is parsed by the JVM), so the udf is built lazily at first call.
_DOT_UDF = None


def dot_pandas(a: Column, b: Column) -> Column:
    """Row-wise dot of two array columns, Arrow-batched + vectorized
    (numpy einsum) — the fast path for wide embeddings where the
    per-element expression fold costs too much interpretation."""
    global _DOT_UDF
    if _DOT_UDF is None:
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def _dot(x: pd.Series, y: pd.Series) -> pd.Series:
            xm = np.stack(x.to_numpy()).astype("float64")
            ym = np.stack(y.to_numpy()).astype("float64")
            return pd.Series(np.einsum("ij,ij->i", xm, ym))

        _DOT_UDF = _dot
    return _DOT_UDF(a, b)
