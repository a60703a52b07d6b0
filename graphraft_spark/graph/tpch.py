"""Property graph derived from the driver's TPC-H-ish testdata.

FIXTURES.md §3: graph operators are oracle-checked (DuckDB) over a graph
*view* of the star schema, so both engines can express them.  Node ids are
typed offsets + native keys (disjoint id spaces); edge ids likewise, so
relationship-uniqueness semantics are exact (SURVEY §7.2).

Two renderings of the SAME derivation:
* :func:`tpch_graph` — DataFrame-API build (what the engine runs);
* :data:`GRAPH_ORACLE_CTE` — ANSI-SQL CTE prefix for DuckDB oracle queries.
Any drift between them is caught by tools/check_oracle.py.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphraft_spark.graph.model import PropertyGraph

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# nodeId offsets per label (disjoint id spaces)
N_CUSTOMER = 1_000_000_000
N_SUPPLIER = 2_000_000_000
N_PART = 3_000_000_000
N_NATION = 4_000_000_000
N_REGION = 5_000_000_000
N_ORDER = 6_000_000_000


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] | list[str] = TABLES) -> dict[str, DataFrame]:
    from graphraft_spark.sources.pq_cache import load_pq
    return {t: load_pq(spark, f"{sf_dir}/{t}.parquet") for t in names}


# sf_dir → (source_fingerprint_at_memo_time, graph)
_GRAPH_CACHE: dict[str, tuple[str, PropertyGraph]] = {}


def _materialize_dir(sf_dir: str) -> str:
    """Where ``tpch_graph`` materializes ``sf_dir``'s graph: next to a
    source under the system temp directory, so it goes when that temp
    tree goes; under the checkout's ``.graph_cache/`` otherwise."""
    src = os.path.realpath(sf_dir)
    tmp = os.path.realpath(tempfile.gettempdir())
    if src != tmp and os.path.commonpath([src, tmp]) == tmp:
        return f"{src}.graph"
    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    tag = sf_dir.strip("/").replace("/", "_")
    return f"{repo}/.graph_cache/{tag}"


def source_fingerprint(sf_dir: str,
                       names: tuple[str, ...] | list[str] = TABLES) -> str:
    """Size+mtime fingerprint of the source parquet files.  The driver
    REGENERATES testdata between rounds (round 3 changed events.ts type
    under a running cache); any derived materialization must be keyed by
    the sources' identity, not just their path."""
    parts = []
    for t in sorted(names):
        p = f"{sf_dir}/{t}.parquet"
        try:
            st = os.stat(p)
            parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
        except FileNotFoundError:
            parts.append(f"{t}:absent")
    return ";".join(parts)


def tpch_graph(spark: SparkSession, sf_dir: str,
               cached: bool = True) -> PropertyGraph:
    """Build — or read back — the property graph for ``sf_dir``.

    The derivation is MATERIALIZED TO PARQUET once per sf_dir (the
    reference loads its graph into Neo4j exactly once,
    stark_neo4j_loading.py:20-61; the 100 TB analog is a one-time
    ``PropertyGraph.write`` of columnar graph tables).  Every session
    after the first — including a cold driver process — reads the
    label-partitioned nodes and the pre-reversed undirected edge table
    straight from parquet: no per-session cache population, no eager
    counts billed to the first query.
    """
    if not cached:
        return _build_tpch_graph(spark, sf_dir)
    # the marker records the SOURCE fingerprint: a regenerated testdata
    # dir (new sizes/mtimes) invalidates the materialization instead of
    # silently serving stale graph tables against a fresh oracle.  The
    # in-process memo is keyed by the SAME fingerprint — a long-lived
    # session re-stats the sources (cheap) instead of short-circuiting
    # past the invalidation it exists to provide.
    src_tables = ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem")
    want = source_fingerprint(sf_dir, src_tables)
    memo = _GRAPH_CACHE.get(sf_dir)
    if memo is not None and memo[0] == want:
        return memo[1]
    path = _materialize_dir(sf_dir)
    marker = f"{path}/_DONE"
    have = None
    if os.path.exists(marker):
        with open(marker) as fh:
            have = fh.read().strip()
    if have != want:
        g = _build_tpch_graph(spark, sf_dir)
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        g.nodes.write.mode("overwrite").partitionBy("label") \
            .parquet(f"{path}/nodes")
        g.edges.write.mode("overwrite").parquet(f"{path}/edges")
        # pre-reversed undirected view, clustered by src so each file
        # holds contiguous src ranges (on a cluster: bucketed by src)
        g.undirected_edges.repartition(n, F.col("src")) \
            .write.mode("overwrite").parquet(f"{path}/undirected")
        with open(marker, "w") as fh:
            fh.write(want + "\n")
    # Plain parquet scans, deliberately NOT session-persisted: the graph
    # tables are small relative to scan cost, the parquet scans keep
    # filter pushdown + column pruning (lost under InMemoryTableScan),
    # and measurements at sf0.1 showed the cached plans 2-4× SLOWER for
    # the multi-hop joins than re-scanning the columnar tables.
    g = PropertyGraph(
        nodes=spark.read.parquet(f"{path}/nodes"),
        edges=spark.read.parquet(f"{path}/edges"),
        undirected=spark.read.parquet(f"{path}/undirected"),
    )
    _GRAPH_CACHE[sf_dir] = (want, g)
    return g


def _build_tpch_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    """Everything is a narrow projection over the base parquet — column
    pruning reaches the scans, and the per-label unions keep partition
    counts proportional to source size.
    """
    t = load_tables(spark, sf_dir, ["region", "nation", "customer",
                                    "supplier", "part", "orders", "lineitem"])

    def node(df: DataFrame, key: str, offset: int, label: str, name,
             detail=None) -> DataFrame:
        return df.select(
            (F.col(key).cast("bigint") + F.lit(offset)).alias("nodeId"),
            F.lit(label).alias("label"),
            name.alias("name"),
            (detail if detail is not None
             else F.lit(None).cast("string")).alias("detail"),
        )

    # ``detail`` is the configured per-node property column (reference
    # nodes carry configured props like abstract/details, graphraft.py:
    # 20-27); nullable where the source has nothing natural to expose.
    nodes = (
        node(t["customer"], "c_custkey", N_CUSTOMER, "Customer", F.col("c_name"),
             F.col("c_mktsegment"))
        .unionByName(node(t["supplier"], "s_suppkey", N_SUPPLIER, "Supplier", F.col("s_name")))
        .unionByName(node(t["part"], "p_partkey", N_PART, "Part", F.col("p_name"),
                          F.col("p_type")))
        .unionByName(node(t["nation"], "n_nationkey", N_NATION, "Nation", F.col("n_name")))
        .unionByName(node(t["region"], "r_regionkey", N_REGION, "Region", F.col("r_name")))
        .unionByName(node(t["orders"], "o_orderkey", N_ORDER, "Order",
                          F.col("o_orderkey").cast("string"),
                          F.col("o_orderpriority")))
    )

    def big(c: str):
        return F.col(c).cast("bigint")

    placed = t["orders"].select(
        (big("o_orderkey") + F.lit(1_000_000_000_000)).alias("edgeId"),
        (big("o_custkey") + F.lit(N_CUSTOMER)).alias("src"),
        (big("o_orderkey") + F.lit(N_ORDER)).alias("dst"),
        F.lit("PLACED").alias("relType"),
    )
    contains = (
        t["lineitem"].select("l_orderkey", "l_partkey").distinct()
        .select(
            (F.lit(2_000_000_000_000) + big("l_orderkey") * 10_000_000
             + big("l_partkey")).alias("edgeId"),
            (big("l_orderkey") + F.lit(N_ORDER)).alias("src"),
            (big("l_partkey") + F.lit(N_PART)).alias("dst"),
            F.lit("CONTAINS").alias("relType"),
        )
    )
    supplied_by = (
        t["lineitem"].select("l_partkey", "l_suppkey").distinct()
        .select(
            (F.lit(3_000_000_000_000) + big("l_partkey") * 1_000_000
             + big("l_suppkey")).alias("edgeId"),
            (big("l_partkey") + F.lit(N_PART)).alias("src"),
            (big("l_suppkey") + F.lit(N_SUPPLIER)).alias("dst"),
            F.lit("SUPPLIED_BY").alias("relType"),
        )
    )
    cust_nation = t["customer"].select(
        (F.lit(4_000_000_000_000) + big("c_custkey")).alias("edgeId"),
        (big("c_custkey") + F.lit(N_CUSTOMER)).alias("src"),
        (big("c_nationkey") + F.lit(N_NATION)).alias("dst"),
        F.lit("FROM_NATION").alias("relType"),
    )
    supp_nation = t["supplier"].select(
        (F.lit(5_000_000_000_000) + big("s_suppkey")).alias("edgeId"),
        (big("s_suppkey") + F.lit(N_SUPPLIER)).alias("src"),
        (big("s_nationkey") + F.lit(N_NATION)).alias("dst"),
        F.lit("FROM_NATION").alias("relType"),
    )
    in_region = t["nation"].select(
        (F.lit(6_000_000_000_000) + big("n_nationkey")).alias("edgeId"),
        (big("n_nationkey") + F.lit(N_NATION)).alias("src"),
        (big("n_regionkey") + F.lit(N_REGION)).alias("dst"),
        F.lit("IN_REGION").alias("relType"),
    )

    edges = (
        placed.unionByName(contains).unionByName(supplied_by)
        .unionByName(cust_nation).unionByName(supp_nation).unionByName(in_region)
    )
    return PropertyGraph(nodes=nodes, edges=edges)


# The same derivation as ANSI SQL, runnable by DuckDB (views region/nation/...
# are pre-registered by the driver) AND by spark.sql after registering the
# base parquet as temp views.  Keep in lockstep with tpch_graph().
GRAPH_ORACLE_CTE = """
WITH nodes AS (
    SELECT CAST(c_custkey AS BIGINT) + 1000000000 AS nodeId,
           'Customer' AS label, c_name AS name,
           c_mktsegment AS detail FROM customer
    UNION ALL
    SELECT CAST(s_suppkey AS BIGINT) + 2000000000, 'Supplier', s_name,
           NULL FROM supplier
    UNION ALL
    SELECT CAST(p_partkey AS BIGINT) + 3000000000, 'Part', p_name,
           p_type FROM part
    UNION ALL
    SELECT CAST(n_nationkey AS BIGINT) + 4000000000, 'Nation', n_name,
           NULL FROM nation
    UNION ALL
    SELECT CAST(r_regionkey AS BIGINT) + 5000000000, 'Region', r_name,
           NULL FROM region
    UNION ALL
    SELECT CAST(o_orderkey AS BIGINT) + 6000000000, 'Order',
           CAST(o_orderkey AS VARCHAR), o_orderpriority FROM orders
),
edges AS (
    SELECT CAST(o_orderkey AS BIGINT) + 1000000000000 AS edgeId,
           CAST(o_custkey AS BIGINT) + 1000000000 AS src,
           CAST(o_orderkey AS BIGINT) + 6000000000 AS dst,
           'PLACED' AS relType FROM orders
    UNION ALL
    SELECT 2000000000000 + CAST(l_orderkey AS BIGINT) * 10000000
             + CAST(l_partkey AS BIGINT),
           CAST(l_orderkey AS BIGINT) + 6000000000,
           CAST(l_partkey AS BIGINT) + 3000000000,
           'CONTAINS'
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    UNION ALL
    SELECT 3000000000000 + CAST(l_partkey AS BIGINT) * 1000000
             + CAST(l_suppkey AS BIGINT),
           CAST(l_partkey AS BIGINT) + 3000000000,
           CAST(l_suppkey AS BIGINT) + 2000000000,
           'SUPPLIED_BY'
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    UNION ALL
    SELECT 4000000000000 + CAST(c_custkey AS BIGINT),
           CAST(c_custkey AS BIGINT) + 1000000000,
           CAST(c_nationkey AS BIGINT) + 4000000000,
           'FROM_NATION' FROM customer
    UNION ALL
    SELECT 5000000000000 + CAST(s_suppkey AS BIGINT),
           CAST(s_suppkey AS BIGINT) + 2000000000,
           CAST(s_nationkey AS BIGINT) + 4000000000,
           'FROM_NATION' FROM supplier
    UNION ALL
    SELECT 6000000000000 + CAST(n_nationkey AS BIGINT),
           CAST(n_nationkey AS BIGINT) + 4000000000,
           CAST(n_regionkey AS BIGINT) + 5000000000,
           'IN_REGION' FROM nation
),
undirected_edges AS (
    SELECT edgeId, src, dst, relType FROM edges
    UNION ALL
    SELECT edgeId, dst AS src, src AS dst, relType FROM edges
)
"""


def register_sql_views(spark: SparkSession, sf_dir: str,
                       include_graph: bool = True) -> list[str]:
    """Expose the testdata tables — and the derived property graph —
    as temp views so the whole engine surface is reachable from plain
    ``spark.sql``: ``nodes``, ``edges``, ``undirected_edges`` join like
    any other table (the same views the DuckDB oracles are written
    against, so oracle SQL runs on Spark nearly verbatim).  Returns the
    registered view names."""
    names = []
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet") \
            .createOrReplaceTempView(t)
        names.append(t)
    if include_graph:
        g = tpch_graph(spark, sf_dir)
        g.nodes.createOrReplaceTempView("nodes")
        g.edges.createOrReplaceTempView("edges")
        g.undirected_edges.createOrReplaceTempView("undirected_edges")
        names += ["nodes", "edges", "undirected_edges"]
    return names
