"""Property-graph ingest (reference stark_neo4j_loading.py) — raw typed
node/edge records → validated PropertyGraph parquet tables.

The reference MERGEs row batches into Neo4j (5k nodes / 10k edges / 1k
embeddings per transaction, stark_neo4j_loading.py:39,58,70); our ingest
is set-based: dedup-by-key upsert, referential checks as anti-joins,
label-partitioned parquet.  Batching falls out of Spark's partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphraft_spark.graph.model import PropertyGraph


def format_node_label(node_type: Column) -> Column:
    """A6 (stark_neo4j_loading.py:11-12): 'field_of_study' →
    'FieldOfStudy', '/' → '_or_', each '_'-segment capitalized."""
    segs = F.split(F.regexp_replace(node_type, "/", "_or_"), "_")
    return F.array_join(
        F.transform(segs, lambda s: F.initcap(F.lower(s))), "")


def format_relationship_type(edge_type: Column, dataset_name: str) -> Column:
    """A6 (stark_neo4j_loading.py:14-18): MAG types are
    'src___rel___dst' → middle segment uppercased; otherwise
    spaces/hyphens → '_', uppercased."""
    if dataset_name == "mag":
        return F.upper(F.split(edge_type, "___")[1])
    return F.upper(F.regexp_replace(F.regexp_replace(edge_type, " ", "_"),
                                    "-", "_"))


def ingest_nodes(raw: DataFrame, node_type_col: str = "node_type",
                 key_col: str = "nodeId") -> DataFrame:
    """A1: normalize labels, enforce nodeId uniqueness by keeping the
    first record per key (MERGE semantics: later SETs win in Neo4j; we
    surface collisions instead via validate())."""
    out = raw.withColumn("label", format_node_label(F.col(node_type_col))) \
             .drop(node_type_col) \
             .withColumnRenamed(key_col, "nodeId") \
             .dropDuplicates(["nodeId"])
    return out


def ingest_edges(raw: DataFrame, nodes: DataFrame, dataset_name: str,
                 edge_type_col: str = "edge_type",
                 src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """A2: normalize relationship types, dedup (src,dst,relType) —
    MERGE creates each typed pair once — drop dangling endpoints
    (Neo4j's MATCH-before-MERGE silently skips them,
    stark_neo4j_loading.py:51-53), and mint a stable edgeId."""
    ids = nodes.select("nodeId")
    e = (
        raw.withColumn("relType",
                       format_relationship_type(F.col(edge_type_col),
                                                dataset_name))
        .select(F.col(src_col).cast("bigint").alias("src"),
                F.col(dst_col).cast("bigint").alias("dst"), "relType")
        .dropDuplicates(["src", "dst", "relType"])
        .join(ids.withColumnRenamed("nodeId", "src"), "src", "left_semi")
        .join(ids.withColumnRenamed("nodeId", "dst"), "dst", "left_semi")
    )
    # stable deterministic edge id from the natural key
    eid = F.xxhash64("src", "dst", "relType")
    return e.select(eid.alias("edgeId"), "src", "dst", "relType")


def ingest_embeddings(nodes: DataFrame, embeddings: DataFrame,
                      emb_col: str, key_col: str = "nodeId",
                      normalize: bool = True) -> DataFrame:
    """A3: attach embedding vectors by nodeId; L2-normalize at ingest so
    cosine == dot downstream (stark_neo4j_loading.py:63-80; the vector
    'index' is the sorted parquet layout — brute-force scan is the
    correctness baseline, SURVEY O3)."""
    from graphraft_spark.search.vector import l2_normalize_col

    e = embeddings.select(
        F.col(key_col).alias("nodeId"),
        (l2_normalize_col(F.col(emb_col)) if normalize
         else F.col(emb_col)).alias(emb_col),
    )
    return nodes.join(e, "nodeId", "left")


def build_graph(raw_nodes: DataFrame, raw_edges: DataFrame,
                dataset_name: str, validate: bool = True,
                **node_kwargs) -> PropertyGraph:
    """A1+A2+A4 end-to-end: normalized, deduped, referentially-checked
    PropertyGraph."""
    nodes = ingest_nodes(raw_nodes, **node_kwargs)
    edges = ingest_edges(raw_edges, nodes, dataset_name)
    g = PropertyGraph(nodes=nodes, edges=edges)
    if validate:
        g.validate()
    return g
