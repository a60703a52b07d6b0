"""Property-graph data model: nodes/edges as DataFrames.

Mirrors the reference's Neo4j graph (stark_neo4j_loading.py:20-61):
nodes keyed by a globally-unique ``nodeId`` with a type ``label``
(the catch-all ``_Entity_`` role is simply "the whole nodes frame"),
edges as ``(edgeId, src, dst, relType)`` rows.  All query-time traversal
in the reference is undirected (path_retriever.py:5,8,12), so the graph
exposes an ``undirected_edges`` view = edges UNION reversed edges, with
``edgeId`` preserved so relationship-uniqueness semantics (Cypher r1<>r2)
stay exact on multi-edges (SURVEY §7.1-7.2).

Scale notes
-----------
* ``undirected_edges`` is a lazy view, never materialized — Catalyst
  pushes relType/src filters through the union into both scan branches.
* Nodes should be written ``partitionBy('label')`` so label-filtered
  scans prune partitions; edges benefit from bucketing on ``src`` for
  shuffle-free expansion joins on a real cluster.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NODE_KEY = "nodeId"
EDGE_COLS = ("edgeId", "src", "dst", "relType")


@dataclass(frozen=True)
class PropertyGraph:
    """nodes: nodeId BIGINT, label STRING, name STRING, <props...>
    edges: edgeId BIGINT, src BIGINT, dst BIGINT, relType STRING

    ``undirected`` optionally holds a materialized undirected edge frame
    (see materialize_undirected) — multi-hop plans reference the
    undirected view once per hop, and the lazy union otherwise scans the
    edge source twice per reference.
    """

    nodes: DataFrame
    edges: DataFrame
    undirected: DataFrame | None = None

    @property
    def undirected_edges(self) -> DataFrame:
        """Each stored relationship, traversable from both endpoints.

        Cypher ``-[r]-`` matches each stored relationship once per
        binding direction; `edgeId` survives so downstream operators can
        enforce r1 <> r2 (reference relies on simple-graph structure,
        path_retriever.py:8; we are exact — SURVEY §7.2).
        """
        if self.undirected is not None:
            return self.undirected
        fwd = self.edges.select(*EDGE_COLS)
        rev = self.edges.select(
            F.col("edgeId"),
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            F.col("relType"),
        )
        return fwd.unionByName(rev)

    def materialize_undirected(self, partitions: int | None = None) -> "PropertyGraph":
        """Persist the undirected view (2× edge rows) hash-partitioned by
        ``src``: each hop becomes ONE cache scan, and because the cached
        relation's output partitioning is preserved, expansion joins on
        ``src`` shuffle only the (small) frontier side — the edges never
        re-shuffle.  At 100 TB the analog is writing the undirected
        table bucketed by ``src``."""
        if self.undirected is not None:
            return self
        spark = self.edges.sparkSession
        n = partitions or int(spark.conf.get("spark.sql.shuffle.partitions",
                                             "32"))
        und = self.undirected_edges.repartition(n, F.col("src")).persist()
        return PropertyGraph(nodes=self.nodes, edges=self.edges,
                             undirected=und)

    def validate(self) -> None:
        """Ingest-time invariants (reference: unique constraint on nodeId,
        stark_neo4j_loading.py:22-23; FK-ness is implicit in MERGE-by-id).
        """
        dup = (
            self.nodes.groupBy(NODE_KEY).count().filter(F.col("count") > 1)
        )
        if dup.limit(1).count() > 0:
            raise ValueError("duplicate nodeId in nodes frame")
        ids = self.nodes.select(NODE_KEY)
        dangling = (
            self.edges.select(F.col("src").alias(NODE_KEY))
            .union(self.edges.select(F.col("dst").alias(NODE_KEY)))
            .join(ids, NODE_KEY, "left_anti")
        )
        if dangling.limit(1).count() > 0:
            raise ValueError("edge endpoint not present in nodes frame")

    def degrees(self) -> DataFrame:
        """Undirected degree per node — skew diagnostic for hub nodes."""
        return (
            self.undirected_edges.groupBy(F.col("src").alias(NODE_KEY))
            .agg(F.count("*").alias("degree"))
        )

    def write(self, path: str, mode: str = "overwrite") -> None:
        """Canonical on-disk layout: label-partitioned nodes, plain edges."""
        self.nodes.write.mode(mode).partitionBy("label").parquet(f"{path}/nodes")
        self.edges.write.mode(mode).parquet(f"{path}/edges")

    @staticmethod
    def read(spark, path: str) -> "PropertyGraph":
        return PropertyGraph(
            nodes=spark.read.parquet(f"{path}/nodes"),
            edges=spark.read.parquet(f"{path}/edges"),
        )
