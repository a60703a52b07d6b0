"""Pattern IR → DataFrame join plan.

One hop step, :func:`_hop`, builds every pattern's plan: it joins the
(lazy) undirected edge view onto the frontier and then the next
position's node frame, and enforces Cypher relationship-uniqueness;
:func:`_chain` applies it hop by hop.  Catalyst picks the physical
joins.  The entry points differ only in the first frame and the
per-position predicates:

* :func:`compile_pattern` (``run_pattern`` / ``run_pattern_nodes``): an
  instantiated spec.  Label, name and type literals filter the scans,
  so predicate pushdown reaches parquet; named node sets are a handful
  of rows and get a ``broadcast`` hint.
* ``patterns.enumerate``: every enumeration template from one chain.
  Anchors are a literal ``name IN (...)`` filter (one question) or a
  join with a ``(qid, name)`` frame (many questions); the second hop is
  optional (:func:`_hop` with ``how="left"``) when a one-hop template
  reads the same bindings.  The pipeline reads its ranked queries'
  rows from these bindings, not from a second plan.

Scale: the plan is hop-count-many shuffles at worst; with edges bucketed
by ``src`` the expansion joins co-locate and AQE's skew-join splitting
handles hub nodes.  No Python crosses into executors.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

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


def _hop(graph: PropertyGraph, plan: DataFrame, j: int,
         frame: DataFrame | None, on: dict[str, Column],
         how: str = "inner") -> DataFrame:
    """Hop ``j``: join edge ``r{j}`` onto ``x{j}``, then ``frame`` (a
    node frame, columns :func:`node_cols`) at ``x{j+1}``; a ``None``
    frame makes ``x{j+1}_nodeId`` the hop's ``dst`` and binds no other
    ``x{j+1}_*`` column.  ``on`` adds a join predicate per variable,
    ``"r{j}"`` or ``"x{j+1}"``.  The rels of one MATCH are pairwise
    distinct (Cypher relationship-uniqueness, SURVEY §7.2), in the edge
    join's ON clause: with ``how="left"`` (an optional hop) a binding
    the hop cannot extend keeps one row with null hop columns."""
    e = graph.undirected_edges.select(
        F.col("edgeId").alias(f"r{j}_edgeId"),
        F.col("src").alias(f"r{j}_src"),
        F.col("dst").alias(f"r{j}_dst"),
        F.col("relType").alias(f"r{j}_relType"))
    cond = F.col(f"x{j}_nodeId") == F.col(f"r{j}_src")
    for i in range(1, j):
        cond = cond & (F.col(f"r{i}_edgeId") != F.col(f"r{j}_edgeId"))
    plan = plan.join(e, _and(cond, on.get(f"r{j}")), how)
    if frame is None:
        return plan.withColumn(f"x{j + 1}_nodeId", F.col(f"r{j}_dst"))
    return plan.join(frame, _and(
        F.col(f"r{j}_dst") == F.col(f"x{j + 1}_nodeId"),
        on.get(f"x{j + 1}")), how)


def _chain(graph: PropertyGraph, frames: Sequence[DataFrame | None],
          on: dict[str, Column] | None = None) -> DataFrame:
    """Bindings of the chain ``(x1)-[r1]-(x2)-...``: ``frames[0]`` is the
    first frame (it carries ``x1_*``), ``frames[p]`` the node frame of
    position ``p``, joined hop by hop (:func:`_hop`).  Edges are
    ``r{j}_edgeId/relType``."""
    plan = reduce(lambda p, j: _hop(graph, p, j, frames[j], on or {}),
                  range(1, len(frames)), frames[0])
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
