"""Incremental property-graph maintenance from an event stream (M7).

The reference loads its graph once with batched Neo4j MERGE upserts
(stark_neo4j_loading.py:20-61); it has no story for a graph that keeps
changing.  This module is the Spark-native continuous analog: events
become node/edge DELTAS, a Structured Streaming query lands each
micro-batch append-only into an epoch-partitioned parquet delta log
(idempotent per epoch — a retried batch overwrites its own partition,
never double-counts), and readers get a merge-on-read view (base ∪
deltas aggregated to current state).

Why this shape at 100 TB: upserting into place would rewrite the whole
edge table per trigger; an append-only log costs O(batch) per trigger,
and the merge view pushes the aggregate into one shuffle keyed by the
edge identity (uniform keys — no skew).

Derived graph semantics: each user is a ``User`` node, each event type
an ``EventType`` node (ids offset into a reserved range), and each
(user, event type) pair an edge of ``relType = upper(event_type)``
(reference rel-type normalization, stark_neo4j_loading.py:14-18)
carrying multiplicity + first/last-seen event time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphraft_spark.graph.model import PropertyGraph

# event-type node ids live far above any user_id (driver testdata user
# ids are small ints; a real deployment would allocate id ranges)
EVENT_TYPE_NODE_BASE = 10_000_000_000


def event_type_node_id(event_type) -> "F.Column":
    """Deterministic, engine-portable node id for an event type:
    md5-prefix hash offset into the reserved range (same arithmetic is
    expressible in the DuckDB oracle: ('0x'||substr(md5(t),1,8))::BIGINT)."""
    return (F.conv(F.substring(F.md5(event_type), 1, 8), 16, 10)
            .cast("bigint") + F.lit(EVENT_TYPE_NODE_BASE))


def event_graph_deltas(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(node_deltas, edge_deltas) for a batch of events.

    Works identically on a micro-batch inside foreachBatch and on a full
    batch frame (the stream==batch parity anchor).  Edge deltas are
    pre-aggregated per (src, dst, relType) — map-side combine keeps the
    delta log proportional to distinct pairs, not raw events."""
    users = (events.select(F.col("user_id").alias("nodeId"))
             .where(F.col("nodeId").isNotNull()).distinct()
             .select("nodeId", F.lit("User").alias("label"),
                     F.concat(F.lit("user_"),
                              F.col("nodeId").cast("string")).alias("name")))
    types = (events.select("event_type").where(
        F.col("event_type").isNotNull()).distinct()
        .select(event_type_node_id(F.col("event_type")).alias("nodeId"),
                F.lit("EventType").alias("label"),
                F.col("event_type").alias("name")))
    nodes = users.unionByName(types)
    edges = (
        events.where(F.col("user_id").isNotNull()
                     & F.col("event_type").isNotNull())
        .groupBy(F.col("user_id").alias("src"),
                 event_type_node_id(F.col("event_type")).alias("dst"),
                 F.upper(F.col("event_type")).alias("relType"))
        .agg(F.count("*").alias("n_events"),
             F.min("ts").alias("first_ts"),
             F.max("ts").alias("last_ts"))
    )
    return nodes, edges


def _epoch_dir(base_dir: str, table: str, epoch_id: int) -> str:
    return os.path.join(base_dir, table, f"epoch={epoch_id}")


def apply_delta_batch(batch: DataFrame, epoch_id: int, base_dir: str) -> None:
    """foreachBatch body: derive deltas from one micro-batch and land
    them in the epoch's own partition.  mode=overwrite makes a replayed
    epoch idempotent (exactly-once effect on top of the source's
    at-least-once replay)."""
    nodes, edges = event_graph_deltas(batch)
    nodes.write.mode("overwrite").parquet(
        _epoch_dir(base_dir, "nodes_delta", epoch_id))
    edges.write.mode("overwrite").parquet(
        _epoch_dir(base_dir, "edges_delta", epoch_id))


def stream_graph_updates(stream_events: DataFrame, base_dir: str,
                         checkpoint_dir: str | None = None):
    """Run the incremental update as a real Structured Streaming query
    (availableNow: drain the source, then stop).  Returns the finished
    StreamingQuery."""
    q = (
        stream_events.writeStream
        .foreachBatch(lambda b, e: apply_delta_batch(b, e, base_dir))
        .option("checkpointLocation",
                checkpoint_dir or os.path.join(base_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def merged_graph(spark: SparkSession, base_dir: str,
                 base: PropertyGraph | None = None) -> PropertyGraph:
    """Merge-on-read view of base graph + delta log.

    Nodes: first writer wins per nodeId (same dedup rule as batch ingest).
    Edges: multiplicities summed, first/last seen folded — one shuffle
    keyed by (src, dst, relType).  edgeId is assigned deterministically
    from the edge identity so undirected-traversal uniqueness semantics
    (model.py) keep working on the merged frame."""
    nodes = spark.read.parquet(os.path.join(base_dir, "nodes_delta"))
    edges = spark.read.parquet(os.path.join(base_dir, "edges_delta"))
    if base is not None:
        ts_type = edges.schema["first_ts"].dataType
        nodes = base.nodes.select("nodeId", "label", "name").unionByName(nodes)
        edges = edges.unionByName(
            base.edges.select(
                "src", "dst", "relType",
                F.lit(1).cast("bigint").alias("n_events"),
                F.lit(None).cast(ts_type).alias("first_ts"),
                F.lit(None).cast(ts_type).alias("last_ts")))
    nodes = nodes.dropDuplicates(["nodeId"])
    edges = (
        edges.groupBy("src", "dst", "relType")
        .agg(F.sum("n_events").alias("n_events"),
             F.min("first_ts").alias("first_ts"),
             F.max("last_ts").alias("last_ts"))
        .withColumn("edgeId", F.xxhash64("src", "dst", "relType"))
    )
    return PropertyGraph(nodes=nodes, edges=edges)
