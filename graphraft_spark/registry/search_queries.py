"""Vector & text search operators (SURVEY §2.C) as oracle-checked queries.

Similarity values are computed in DOUBLE on both engines (the parquet
stores float32 — DuckDB casts via ``CAST(... AS DOUBLE[])``, Spark casts
per element) and rounded to 6 decimals in the *output* so the driver's
value hash is stable; ordering uses the unrounded values with vec_id
tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from graphraft_spark.graph import GRAPH_ORACLE_CTE, tpch_graph
from graphraft_spark.registry import register
from graphraft_spark.search.text import batch_match_entities
from graphraft_spark.search.vector import dot_col
from graphraft_spark.sources.pq_cache import load_pq

Q_VEC_ID = 7  # query vector = embeddings row; unit-norm ⇒ cosine = dot

# DuckDB-side query vector as a scalar subquery
_QSQL = f"(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = {Q_VEC_ID})"


def _scored(spark, sf_dir):
    """embeddings × (1-row broadcast query vector) with dot similarity —
    stays one scan + broadcast nested loop; no shuffle."""
    emb = load_pq(spark, f"{sf_dir}/embeddings.parquet")
    qdf = (emb.filter(F.col("vec_id") == Q_VEC_ID)
           .select(F.col("embedding").alias("q_emb")))
    return (
        emb.crossJoin(F.broadcast(qdf))
        .withColumn("similarity", dot_col(F.col("embedding"), F.col("q_emb")))
        .drop("q_emb")
    )


@register(
    "s_fulltext_match",
    oracle=GRAPH_ORACLE_CTE + """
SELECT DISTINCT name FROM nodes
WHERE lower(trim('  SMALL Ring ')) = lower(trim(name))
""")
def s_fulltext_match(spark, sf_dir):
    """C1: normalized-equality entity match (ner.py:111-113) — case-folded,
    trimmed; multi-binding name collapses to one DISTINCT row."""
    g = tpch_graph(spark, sf_dir)
    ents = spark.createDataFrame([(1, "  SMALL Ring ")],
                                 "qid int, entity string")
    return batch_match_entities(g, ents).select("name").distinct()


@register(
    "s_knn_topk", extra=True,
    oracle=f"""
SELECT vec_id,
       ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), {_QSQL}), 6)
           AS similarity
FROM embeddings
ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), {_QSQL}) DESC, vec_id
LIMIT 10
""")
def s_knn_topk(spark, sf_dir):
    """C2/C5: exact brute-force cosine top-k — TakeOrderedAndProject
    physical plan (per-partition top-k, driver merge; no global sort)."""
    return (
        _scored(spark, sf_dir)
        .orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("similarity", 6).alias("similarity"))
    )


@register(
    "s_knn_excluding", extra=True,
    oracle=f"""
WITH topk AS (
    SELECT vec_id,
           list_dot_product(CAST(embedding AS DOUBLE[]), {_QSQL}) AS sim
    FROM embeddings
    ORDER BY sim DESC, vec_id
    LIMIT 25
)
SELECT vec_id, ROUND(sim, 6) AS similarity FROM topk
WHERE vec_id NOT IN (7, 3, 11, 400)
""")
def s_knn_excluding(spark, sf_dir):
    """C4: vector KNN with exclusion, faithful to the reference's order
    of operations (retriever.py:14-17): top-ef FIRST, then WHERE NOT IN
    — excluded hits reduce the returned count.  Exclusion is a broadcast
    left-anti join."""
    top = (
        _scored(spark, sf_dir)
        .orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(25)
    )
    ex = top.sparkSession.createDataFrame(
        [(7,), (3,), (11,), (400,)], "vec_id bigint")
    return (
        top.join(F.broadcast(ex), "vec_id", "left_anti")
        .select("vec_id", F.round("similarity", 6).alias("similarity"))
    )


@register(
    "s_knn_per_group", extra=True,
    oracle=f"""
SELECT label, vec_id, ROUND(sim, 6) AS similarity
FROM (
    SELECT label, vec_id,
           list_dot_product(CAST(embedding AS DOUBLE[]), {_QSQL}) AS sim,
           ROW_NUMBER() OVER (PARTITION BY label
                              ORDER BY list_dot_product(
                                  CAST(embedding AS DOUBLE[]), {_QSQL}) DESC,
                              vec_id) AS rn
    FROM embeddings
)
WHERE rn <= 3
""")
def s_knn_per_group(spark, sf_dir):
    """Partitioned top-k: top-3 per label via window row_number — the
    shape that scales (hash-partition by group, per-partition heap;
    no global sort of 100 TB)."""
    w = Window.partitionBy("label").orderBy(F.desc("similarity"), F.asc("vec_id"))
    return (
        _scored(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_id", F.round("similarity", 6).alias("similarity"))
    )


@register(
    "s_cosine_pair", extra=True,
    oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])))), 6)
           AS cosine
FROM embeddings a JOIN embeddings b
  ON b.vec_id = a.vec_id + 1
WHERE a.vec_id < 20
""")
def s_cosine_pair(spark, sf_dir):
    """C3: full cosine (dot / norms) as a native expression between
    consecutive vectors — the scalar the retriever sorts by
    (retriever.py:59)."""
    from graphraft_spark.search.vector import cosine_col

    emb = load_pq(spark, f"{sf_dir}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    return (
        a.filter(F.col("id_a") < 20)
        .join(b, F.col("id_b") == F.col("id_a") + 1)
        .select("id_a", "id_b",
                F.round(cosine_col(F.col("ea"), F.col("eb")), 6).alias("cosine"))
    )


_PSEUDO_EMB_SQL = """list_transform(range(1, 5),
    i -> CAST(('0x' || substr(md5({s} || '#' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
              % 1000 AS DOUBLE) / 1000.0)"""


def _pseudo_emb(col):
    """Deterministic 4-dim pseudo-embedding from a string — identical in
    Spark and DuckDB (md5-prefix arithmetic); NOT normalized (dot order
    is still deterministic, which is all the fallback needs)."""
    idx = F.sequence(F.lit(1), F.lit(4))
    return F.transform(
        idx,
        lambda i: (F.conv(F.substring(F.md5(
            F.concat(col, F.lit("#"), i.cast("string"))), 1, 8), 16, 10)
            .cast("bigint") % 1000).cast("double") / 1000.0)


@register(
    "s_entity_match_fallback", extra=True,  # demoted r13 (eighth wave)
    oracle=GRAPH_ORACLE_CTE + f"""
, entities AS (
    SELECT * FROM (VALUES
        (1, ' SMALL ring '), (1, 'no-such-entity-xyz'),
        (2, 'NATION_3'), (2, 'another missing one')
    ) AS e(qid, entity)
),
named AS (
    SELECT nodeId, name, {_PSEUDO_EMB_SQL.format(s='name')} AS nemb
    FROM nodes
),
hits AS (
    SELECT DISTINCT e.qid, e.entity, n.name, 'fulltext' AS matched_by
    FROM entities e JOIN named n
      ON lower(trim(e.entity)) = lower(trim(n.name))
),
missing AS (
    SELECT e.qid, e.entity,
           {_PSEUDO_EMB_SQL.format(s='e.entity')} AS qemb
    FROM entities e
    WHERE NOT EXISTS (SELECT 1 FROM hits h
                      WHERE h.qid = e.qid AND h.entity = e.entity)
),
fallback AS (
    SELECT qid, entity, name, 'vector' AS matched_by FROM (
        SELECT m.qid, m.entity, n.name,
               ROW_NUMBER() OVER (
                   PARTITION BY m.qid, m.entity
                   ORDER BY list_dot_product(m.qemb, n.nemb) DESC, n.name)
                   AS rn
        FROM missing m CROSS JOIN named n
    ) WHERE rn = 1
)
SELECT * FROM hits UNION ALL SELECT * FROM fallback
""")
def s_entity_match_fallback(spark, sf_dir):
    """C1+C2 batch: normalized-equality fulltext match for all entities
    in one join; zero-hit entities fall back to vector KNN top-1 over
    (pseudo) name embeddings (ner.py:95-120 set-based)."""
    from graphraft_spark.graph.model import PropertyGraph

    g = tpch_graph(spark, sf_dir)
    g2 = PropertyGraph(
        nodes=g.nodes.withColumn("nemb", _pseudo_emb(F.col("name"))),
        edges=g.edges)
    ents = spark.createDataFrame(
        [(1, " SMALL ring "), (1, "no-such-entity-xyz"),
         (2, "NATION_3"), (2, "another missing one")],
        "qid int, entity string")
    ents = ents.withColumn("qemb", _pseudo_emb(F.col("entity")))
    return batch_match_entities(g2, ents, name_emb_col="nemb",
                                entity_emb_col="qemb")


_BM25_TERMS = ["spark", "merge", "window"]
_BM25_TF = "\n".join(
    f"         len(list_filter(w, x -> x = '{t}')) AS tf{i},"
    for i, t in enumerate(_BM25_TERMS)).rstrip(",")
_BM25_DF = ",\n".join(
    f"         sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
    for i in range(len(_BM25_TERMS)))
_BM25_SCORE = "\n       + ".join(
    f"ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5))"
    f" * (CAST(tf{i} AS DOUBLE) * 2.2"
    f" / (CAST(tf{i} AS DOUBLE) + 1.2 * (0.25 + 0.75 * (dl / avgdl))))"
    for i in range(len(_BM25_TERMS)))


_BM25_ORACLE = f"""
WITH docs AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS w
  FROM documents
),
tf AS (
  SELECT doc_id, len(w) AS dl,
{_BM25_TF}
  FROM docs
),
stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl,
{_BM25_DF}
  FROM tf
),
scored AS (
  SELECT doc_id,
         {_BM25_SCORE} AS raw
  FROM tf, stats
)
SELECT doc_id, ROUND(raw, 6) AS bm25
FROM scored WHERE raw > 0
ORDER BY ROUND(raw, 6) DESC, doc_id
LIMIT 20
"""


@register("s_bm25_topk", extra=True, oracle=_BM25_ORACLE)
def s_bm25_topk(spark, sf_dir):
    """BM25 ranked fulltext retrieval (the Lucene scoring behind the
    reference's fulltext index, graphraft.py queryNodes): top-20 docs
    for a 3-term query.  Term frequencies are a pure-codegen projection
    (no explode), corpus stats one broadcast row, top-k a TakeOrdered —
    zero corpus-sized shuffles."""
    from graphraft_spark.search.bm25 import bm25_topk

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    return bm25_topk(d, _BM25_TERMS, k=20)


def _bm25_index_dir(spark, sf_dir) -> str:
    """Build (or reuse) the persisted inverted index for this sf_dir's
    documents table; self-invalidates on source size/mtime change."""
    import os
    import shutil

    from graphraft_spark.search.bm25 import build_text_index

    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    tag = os.path.basename(sf_dir.rstrip("/"))
    index_dir = f"{repo}/.scratch/bm25_index_{tag}"
    st = os.stat(f"{sf_dir}/documents.parquet")
    want = f"{st.st_size}:{int(st.st_mtime)}"
    marker = f"{index_dir}/_SRC"
    have = None
    if os.path.exists(marker):
        with open(marker) as fh:
            have = fh.read().strip()
    if have != want:
        shutil.rmtree(index_dir, ignore_errors=True)
        d = load_pq(spark, f"{sf_dir}/documents.parquet")
        build_text_index(d, index_dir, n_buckets=64)
        os.makedirs(index_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write(want + "\n")
    return index_dir


@register("s_bm25_indexed", extra=True, oracle=_BM25_ORACLE)  # promoted r7; demoted r10 (driver-green r7-r9; search keeps fulltext/fallback/fuzzy)
def s_bm25_indexed(spark, sf_dir):
    """BM25 through the persisted inverted index: the query reads ONLY
    the postings partitions its terms hash to (partition pruning —
    same owned-artifact pattern as the IVF vector index).  Must emit
    exactly what the direct-scan s_bm25_topk (and its oracle) emit."""
    from graphraft_spark.search.bm25 import bm25_query_indexed

    return bm25_query_indexed(spark, _bm25_index_dir(spark, sf_dir),
                              _BM25_TERMS, k=20)


_RRF_K = 60


@register(
    "s_hybrid_rrf",  # promoted r12 (seventh wave)
    oracle=_BM25_ORACLE.rsplit("SELECT doc_id, ROUND(raw, 6)", 1)[0] + f"""
, lex AS (
  SELECT doc_id, ROUND(raw, 6) AS bm25
  FROM scored WHERE raw > 0
  ORDER BY ROUND(raw, 6) DESC, doc_id LIMIT 20
),
lexr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
  FROM lex
),
knn AS (
  SELECT vec_id AS doc_id,
         list_dot_product(CAST(embedding AS DOUBLE[]), {_QSQL}) AS sim
  FROM embeddings
  ORDER BY sim DESC, vec_id LIMIT 20
),
knnr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY sim DESC, doc_id) AS rank
  FROM knn
),
contrib AS (
  SELECT doc_id, 1.0 / ({_RRF_K} + rank) AS c FROM lexr
  UNION ALL
  SELECT doc_id, 1.0 / ({_RRF_K} + rank) AS c FROM knnr
)
SELECT doc_id, ROUND(sum(c), 6) AS rrf
FROM contrib GROUP BY doc_id
ORDER BY ROUND(sum(c), 6) DESC, doc_id LIMIT 15
""")
def s_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 top-20 over documents fused with cosine
    KNN top-20 over embeddings by Reciprocal Rank Fusion (the standard
    uncalibrated fusion).  Each ranker's heavy work is its own bounded
    top-k plan; fusion is a union of two 20-row frames + one tiny
    aggregate.  The lexical ranker probes the persisted inverted index
    (partition-pruned, soaked FLAT at x50) rather than re-scanning the
    corpus — the serving shape a hybrid stack runs at 100 TB; its
    output is exactly the direct scan's (same oracle anchors both)."""
    from graphraft_spark.search.bm25 import bm25_query_indexed
    from graphraft_spark.search.hybrid import rrf_fuse, with_rank

    lex = with_rank(
        bm25_query_indexed(spark, _bm25_index_dir(spark, sf_dir),
                           _BM25_TERMS, k=20),
        [F.desc("bm25"), F.asc("doc_id")], "doc_id")
    knn = (_scored(spark, sf_dir)
           .orderBy(F.desc("similarity"), F.asc("vec_id"))
           .limit(20)
           .select(F.col("vec_id").alias("doc_id"), "similarity"))
    vec = with_rank(knn, [F.desc("similarity"), F.asc("doc_id")],
                    "doc_id")
    return rrf_fuse([lex, vec], k=_RRF_K, topk=15)


@register(
    "s_fuzzy_entity_match", extra=True,  # demoted r11 (driver-green r8-r10)
    oracle="""
WITH ents AS (
    SELECT CAST(c_custkey AS BIGINT) AS qid,
           substr(c_name, 1, 3) || substr(c_name, 5) AS entity
    FROM customer WHERE c_custkey <= 5
)
SELECT e.qid, e.entity, c.c_name AS name,
       CAST(levenshtein(lower(trim(c.c_name)),
                        lower(trim(e.entity))) AS INT) AS dist
FROM customer c, ents e
WHERE levenshtein(lower(trim(c.c_name)), lower(trim(e.entity))) <= 2
""")
def s_fuzzy_entity_match(spark, sf_dir):
    """Typo-tolerant entity matching (search/text.py
    fuzzy_match_entities): 5 entities derived from real customer names
    with one char deleted, matched back within Levenshtein ≤ 2 via
    exact pigeonhole blocking.  The oracle verifies against the naive
    all-pairs join — the blocked plan must return the identical set."""
    from graphraft_spark.search.text import fuzzy_match_entities

    cust = load_pq(spark, f"{sf_dir}/customer.parquet")
    ents = cust.filter(F.col("c_custkey") <= 5).select(
        F.col("c_custkey").cast("bigint").alias("qid"),
        F.concat(F.substring("c_name", 1, 3),
                 F.col("c_name").substr(F.lit(5), F.length("c_name")))
        .alias("entity"))
    names = cust.select(F.col("c_name").alias("name"))
    return fuzzy_match_entities(names, ents, max_dist=2) \
        .select("qid", "entity", "name", F.col("dist").cast("int").alias("dist"))
