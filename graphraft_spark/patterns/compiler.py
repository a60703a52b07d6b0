"""Pattern IR → DataFrame join plan.

One chain builder, :func:`_chain`, turns every pattern into a plan: it
joins the (lazy) undirected edge view onto the frontier and then the
next position's node frame, hop by hop, and enforces Cypher
relationship-uniqueness.  Catalyst picks the physical joins.  The entry
points differ only in the first frame and the per-position predicates:

* :func:`compile_pattern` (``run_pattern`` / ``run_pattern_nodes``): an
  instantiated spec.  Label, name and type literals filter the scans,
  so predicate pushdown reaches parquet; named node sets are a handful
  of rows and get a ``broadcast`` hint.
* ``patterns.enumerate``: the enumeration templates.  Anchors are a
  literal ``name IN (...)`` filter (one question) or a join with a
  ``(qid, name)`` frame (many questions).  The pipeline executes its
  ranked queries from these bindings, not from a second plan.

Scale: the plan is hop-count-many shuffles at worst; with edges bucketed
by ``src`` the expansion joins co-locate and AQE's skew-join splitting
handles hub nodes.  No Python crosses into executors.
"""

from __future__ import annotations

from collections.abc import Sequence
from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphraft_spark.graph.model import PropertyGraph
from graphraft_spark.patterns.ir import PatternSpec

NODE_ATTRS = ("nodeId", "label", "name")

# The signature of an enumerated path and the spec of an instantiated
# query: label{i} per node, type{j} per hop, name{i} per anchored node
# (null where the template has no such position).
SPEC_COLS = ("pattern", "label1", "name1", "type1", "label2", "type2",
             "label3", "name3")

# template -> (node count, anchored positions, return position)
TEMPLATES = {
    "1hop": (2, (0,), 1),
    "2hop": (3, (0,), 2),
    "2path": (3, (0, 2), 1),
}


def templates(patterns: Sequence[str], op: str,
              ) -> list[tuple[str, int, tuple[int, ...], int]]:
    """``(pattern, node count, anchored positions, return position)``
    per requested template; ``op`` names the caller in the error."""
    if not patterns or any(p not in TEMPLATES for p in patterns):
        raise ValueError(f"{op}: patterns must be a non-empty selection "
                         f"of {tuple(TEMPLATES)}, got {patterns!r}")
    return [(p, *TEMPLATES[p]) for p in patterns]


def node_cols(pos: int, attrs: Sequence[str] = NODE_ATTRS) -> list[Column]:
    """Node attributes aliased ``x{pos+1}_<attr>``: position ``pos``'s
    node frame selects them."""
    return [F.col(a).alias(f"x{pos + 1}_{a}") for a in attrs]


def _and(cond: Column, extra: Column | None) -> Column:
    return cond if extra is None else cond & extra


def _chain(graph: PropertyGraph, frames: Sequence[DataFrame | None],
          on: dict[str, Column] | None = None) -> DataFrame:
    """Bindings of the chain ``(x1)-[r1]-(x2)-...``: ``frames[0]`` is the
    first frame (it carries ``x1_*``), ``frames[p]`` the node frame of
    position ``p`` (its columns are :func:`node_cols`).  A ``None``
    frame skips that node join: ``x{p+1}_nodeId`` is the hop's ``dst``
    and no other
    ``x{p+1}_*`` column exists (its caller joins the attributes later).
    ``on`` adds a join predicate per variable, ``"r{j}"`` on the hop's
    edge join and ``"x{p}"`` on the node join.  Edges are
    ``r{j}_edgeId/relType``; the rels of one MATCH are pairwise distinct
    (Cypher relationship-uniqueness — exact where the reference relies
    on a simple graph, SURVEY §7.2)."""
    on = on or {}
    plan = frames[0]
    for j in range(1, len(frames)):
        e = graph.undirected_edges.select(
            F.col("edgeId").alias(f"r{j}_edgeId"),
            F.col("src").alias(f"r{j}_src"),
            F.col("dst").alias(f"r{j}_dst"),
            F.col("relType").alias(f"r{j}_relType"))
        plan = plan.join(e, _and(F.col(f"x{j}_nodeId") == F.col(f"r{j}_src"),
                                 on.get(f"r{j}")))
        if frames[j] is None:
            plan = plan.withColumn(f"x{j + 1}_nodeId", F.col(f"r{j}_dst"))
        else:
            plan = plan.join(frames[j], _and(
                F.col(f"r{j}_dst") == F.col(f"x{j + 1}_nodeId"),
                on.get(f"x{j + 1}")))
    for a, b in combinations(range(1, len(frames)), 2):
        plan = plan.filter(F.col(f"r{a}_edgeId") != F.col(f"r{b}_edgeId"))
    return plan.drop(*[c for c in plan.columns
                       if c.endswith("_src") or c.endswith("_dst")])


def compile_pattern(graph: PropertyGraph, spec: PatternSpec,
                    prop_cols: tuple[str, ...] = ()) -> DataFrame:
    """Return all bindings: columns x{i}_nodeId/label/name (plus
    x{i}_<prop> for each configured property column — the reference
    projects configured node props into retrieved data, retriever.py:
    49-60) and r{j}_edgeId/relType for every position.  Unused prop
    columns are pruned by Catalyst, so widening is free."""
    attrs = NODE_ATTRS + tuple(prop_cols)

    def frame(pos: int) -> DataFrame:
        node = spec.nodes[pos]
        df = graph.nodes
        if node.label is not None:
            df = df.filter(F.col("label") == node.label)
        if node.name is None:
            return df.select(*node_cols(pos, attrs))
        return F.broadcast(df.filter(F.col("name") == node.name)
                           .select(*node_cols(pos, attrs)))

    on = {f"r{j + 1}": F.col(f"r{j + 1}_relType") == rel
          for j, rel in enumerate(spec.rels) if rel is not None}
    return _chain(graph, [frame(p) for p in range(len(spec.nodes))], on)


def run_pattern(graph: PropertyGraph, spec: PatternSpec) -> DataFrame:
    """Execute an instantiated pattern: ``RETURN DISTINCT xK.name AS name``
    (path_retriever.py:34-38 / B12)."""
    ret = spec.return_index + 1
    return (
        compile_pattern(graph, spec)
        .select(F.col(f"x{ret}_name").alias("name"))
        .distinct()
    )


def run_pattern_nodes(graph: PropertyGraph, spec: PatternSpec,
                      prop_cols: tuple[str, ...] = ()) -> DataFrame:
    """Distinct return-position nodes (nodeId, label, name, <props...>) —
    the shape the budgeted retriever consumes (retriever.py:55-59
    rewrites queries to RETURN DISTINCT tgt.nodeId, <props...>)."""
    ret = spec.return_index + 1
    return (
        compile_pattern(graph, spec, prop_cols)
        .select(
            F.col(f"x{ret}_nodeId").alias("nodeId"),
            F.col(f"x{ret}_label").alias("label"),
            F.col(f"x{ret}_name").alias("name"),
            *[F.col(f"x{ret}_{c}").alias(c) for c in prop_cols],
        )
        .distinct()
    )
