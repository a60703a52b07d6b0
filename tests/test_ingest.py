"""Ingest tests (SURVEY §2.A): normalization parity with the reference
formatters, dedup/referential semantics, parquet round-trip."""

from pyspark.sql import functions as F


def ref_format_node_label(node_type: str) -> str:
    """Verbatim port of stark_neo4j_loading.py:11-12."""
    return "".join(s.capitalize()
                   for s in node_type.replace("/", "_or_").split("_"))


def ref_format_rel(edge_type: str, dataset_name: str) -> str:
    """Verbatim port of stark_neo4j_loading.py:14-18."""
    if dataset_name == "mag":
        return edge_type.split("___")[1].upper()
    return edge_type.replace(" ", "_").replace("-", "_").upper()


def test_label_normalization_parity(spark):
    from graphraft_spark.graph.ingest import format_node_label

    cases = ["field_of_study", "paper", "author/editor", "gene_or_protein",
             "drug", "exposure_agent", "a/b_c"]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = [r["l"] for r in
           df.select(format_node_label(F.col("t")).alias("l")).collect()]
    assert got == [ref_format_node_label(c) for c in cases]


def test_reltype_normalization_parity(spark):
    from graphraft_spark.graph.ingest import format_relationship_type

    mag_cases = ["paper___cites___paper", "author___writes___paper"]
    other_cases = ["interacts with", "side-effect of", "ppi"]
    df = spark.createDataFrame([(c,) for c in mag_cases], "t string")
    got = [r["r"] for r in df.select(
        format_relationship_type(F.col("t"), "mag").alias("r")).collect()]
    assert got == [ref_format_rel(c, "mag") for c in mag_cases]
    df2 = spark.createDataFrame([(c,) for c in other_cases], "t string")
    got2 = [r["r"] for r in df2.select(
        format_relationship_type(F.col("t"), "prime").alias("r")).collect()]
    assert got2 == [ref_format_rel(c, "prime") for c in other_cases]


def test_build_graph_dedup_and_referential(spark):
    from graphraft_spark.graph.ingest import build_graph

    raw_nodes = spark.createDataFrame(
        [(1, "field_of_study", "ML"), (1, "field_of_study", "ML-dup"),
         (2, "paper", "P1")],
        "nodeId bigint, node_type string, name string")
    raw_edges = spark.createDataFrame(
        [(2, 1, "paper___has_topic___field"),
         (2, 1, "paper___has_topic___field"),   # dup collapses
         (2, 99, "paper___has_topic___field")],  # dangling dst dropped
        "src bigint, dst bigint, edge_type string")
    g = build_graph(raw_nodes, raw_edges, "mag")
    assert g.nodes.count() == 2
    labels = {r["label"] for r in g.nodes.collect()}
    assert labels == {"FieldOfStudy", "Paper"}
    edges = g.edges.collect()
    assert len(edges) == 1
    assert edges[0]["relType"] == "HAS_TOPIC"


def test_embedding_ingest_normalizes(spark):
    from graphraft_spark.graph.ingest import ingest_embeddings
    from graphraft_spark.search.vector import dot_col

    nodes = spark.createDataFrame([(1, "Paper", "P")],
                                  "nodeId bigint, label string, name string")
    emb = spark.createDataFrame([(1, [3.0, 4.0])],
                                "nodeId bigint, nameEmbedding array<double>")
    out = ingest_embeddings(nodes, emb, "nameEmbedding")
    norm = out.select(dot_col(F.col("nameEmbedding"),
                              F.col("nameEmbedding")).alias("n")).collect()
    assert abs(norm[0]["n"] - 1.0) < 1e-12


def test_parquet_roundtrip(spark, tiny_graph, tmp_path):
    from graphraft_spark.graph.model import PropertyGraph

    path = str(tmp_path / "graph")
    tiny_graph.write(path)
    g2 = PropertyGraph.read(spark, path)
    assert sorted(g2.nodes.columns) == sorted(tiny_graph.nodes.columns)
    assert g2.nodes.count() == tiny_graph.nodes.count()
    assert g2.edges.count() == tiny_graph.edges.count()
    g2.validate()
