from graphraft_spark.graph.model import PropertyGraph
from graphraft_spark.graph.tpch import GRAPH_ORACLE_CTE, load_tables, tpch_graph

__all__ = ["PropertyGraph", "GRAPH_ORACLE_CTE", "load_tables", "tpch_graph"]
