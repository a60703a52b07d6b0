"""Candidate-query enumeration (reference PathRetriever, path_retriever.py).

Given anchor *names*, enumerate every path signature reachable via the
fixed templates and aggregate distinct-target counts:

* 1hop  (src {name})-[r]-(tgt)                            path_retriever.py:4-6
* 2hop  (src1 {name})-[r1]-(var)-[r2]-(tgt), tgt<>src1    path_retriever.py:7-9
* 2path (a {name})-[r1]-(tgt)-[r2]-(b {name}), a<>b       path_retriever.py:10-13

Output signature columns are single-string labels (our graph is
single-label; the reference's ``labels(n)`` list reduces to this via
``set(labels) - {'_Entity_'}``, path_retriever.py:31).  Supervised mode
adds ``correctCnt`` = #distinct targets that are gold answers
(path_retriever.py:16).  ``specific_target_label`` keeps only signatures
whose returned node has that label — the *intended* semantics of the
reference's (buggy: label2 vs labels2) target_has_special_label,
path_retriever.py:42-47 / SURVEY §7.6.

One aggregate serves one question and many: :func:`enumerate_paths_batch`
anchors on a ``(qid, name)`` frame, while :func:`enumerate_paths` and
:func:`enumerate_pattern` anchor on a literal ``name IN (...)`` filter
(so it reaches the node scan) and carry no ``qid``.  The batch call can
also carry each signature's first B targets (:class:`Targets`), so the
pipeline's budgeted retrieval reads them instead of executing the
ranked queries: one traversal per question.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from graphraft_spark.graph.model import PropertyGraph
from graphraft_spark.patterns.compiler import (
    NODE_ATTRS,
    SPEC_COLS,
    _chain,
    node_cols,
    templates,
)
from graphraft_spark.patterns.ir import PatternSpec, onehop, twohop, twopath
from graphraft_spark.session import local_frame

PATTERNS = ("1hop", "2hop", "2path")
_INSTANTIATE = {"1hop": onehop, "2hop": twohop, "2path": twopath}


def _signature(n_nodes: int, anchored: tuple[int, ...],
               ) -> list[tuple[str, str]]:
    """Grouping keys of a template as (output column, binding column),
    in SPEC_COLS order."""
    src = {f"label{p + 1}": f"x{p + 1}_label" for p in range(n_nodes)}
    src.update({f"type{j}": f"r{j}_relType" for j in range(1, n_nodes)})
    src.update({f"name{p + 1}": f"x{p + 1}_name" for p in anchored})
    return [(c, src[c]) for c in SPEC_COLS if c in src]


@dataclass(frozen=True)
class Targets:
    """Ask the signature table for a ``targets`` column: each
    signature's first ``limit`` targets in the budget's consumption
    order, ``(similarity DESC, nodeId ASC)``, as structs ``(nodeId,
    similarity, name, <prop_cols...>)``.  ``similarity`` maps the
    ``nodeId`` column to the ranking score."""

    limit: int
    similarity: Callable[[Column], Column]
    prop_cols: tuple[str, ...] = ()


def _aggregate(graph: PropertyGraph, template: tuple,
               anchor: Callable[[int], DataFrame], batch: bool,
               gold: DataFrame | None, specific_target_label: str | None,
               approx_rsd: float | None,
               targets: Targets | None = None) -> DataFrame:
    """One template's signature table: the grouping keys (``qid`` first
    when ``batch``), ``totalCnt`` = count(DISTINCT target) (the implicit
    Cypher aggregation B6) and, with ``gold`` (distinct rows of
    ``g_nodeId``, plus ``g_qid`` in batch mode), ``correctCnt`` (B7);
    with ``targets``, also the ``targets`` column (see :class:`Targets`).
    ``anchor(pos)`` is the node frame of an anchored position; in batch
    mode it carries ``x{pos+1}_qid``.

    The counts obey the template's node inequality (``x1 <> x3``); the
    ``targets`` do not, because an instantiated query has no WHERE
    clause (``ir.twohop``).  So the inequality is a per-target flag,
    not a filter on the bindings: a target counts when one of its
    bindings passes it, and a signature no target passes is dropped."""
    _, n_nodes, anchored, ret = template
    last = n_nodes - 1
    # aggregate-early / decorate-late: the terminal node join is the
    # widest join of the plan (it runs on the full binding fan-out), but
    # the terminal contributes only its LABEL to the signature, a
    # function of the target id — so dedupe bindings to distinct
    # (signature-prefix, target) pairs FIRST and join node attributes
    # onto the ~10x smaller result.  Not when the terminal is anchored,
    # when specific_target_label filters it (the filter must reach the
    # node join below the distinct), or under HLL (no distinct shuffle:
    # the label is a group key of the raw bindings).
    defer = (last not in anchored and approx_rsd is None
             and (specific_target_label is None or ret != last))
    # the targets' payload rides the return position's node frame
    props = targets.prop_cols if targets is not None else ()
    payload = ("name", *props) if targets is not None else ()
    frames = [anchor(p) if p in anchored
              else None if defer and p == last
              else graph.nodes.select(*node_cols(
                  p, NODE_ATTRS + (props if p == ret else ())))
              for p in range(n_nodes)]
    on = {f"x{p + 1}": F.col("x1_qid") == F.col(f"x{p + 1}_qid")
          for p in anchored[1:] if batch}
    bindings = _chain(graph, frames, on)
    # tgt <> src1 (2hop), a <> b (2path)
    ne = (F.col("x1_nodeId") != F.col("x3_nodeId") if n_nodes == 3
          else F.lit(True))

    sig = _signature(n_nodes, anchored)
    if batch:
        sig = [("qid", "x1_qid")] + sig
    key_names = [o for o, _ in sig]
    tgt = F.col(f"x{ret + 1}_nodeId")
    # functions of the target, so grouping on them is grouping on it
    carried = [(f"_t_{a}", f"x{ret + 1}_{a}") for a in payload]

    def gold_of(qid, target):
        cond = target == F.col("g_nodeId")
        return (qid == F.col("g_qid")) & cond if batch else cond

    if approx_rsd is not None:
        if targets is not None:
            raise ValueError("enumerate_paths_batch: targets needs the "
                             "exact count (approx_rsd=None)")
        # the hub-scale path: HyperLogLog++ total over the raw bindings
        # (a fixed-size mergeable partial per signature); correctCnt is
        # the single exact distinct aggregate, so still no Expand
        bindings = bindings.filter(ne)
        aggs = [F.approx_count_distinct(tgt, approx_rsd).alias("totalCnt")]
        if gold is not None:
            bindings = bindings.join(F.broadcast(gold),
                                     gold_of(F.col("x1_qid"), tgt), "left")
            aggs.append(F.countDistinct("g_nodeId").alias("correctCnt"))
        df = bindings.groupBy(*[F.col(s).alias(o) for o, s in sig]).agg(*aggs)
    else:
        # one grouping over (keys, target) carrying the inequality flag,
        # then plain counts: exact, and two countDistinct aggregates
        # would plan an Expand (doubling every binding row before the
        # shuffle)
        avail = set(bindings.columns)
        d = (bindings.groupBy(*[F.col(s).alias(o) for o, s in sig + carried
                                if s in avail], tgt.alias("_tgt"))
             .agg(F.max(ne).alias("_ok")))
        ok = F.col("_ok")
        aggs = [F.count(F.when(ok, 1)).alias("totalCnt")]
        if gold is not None:
            # gold is per-(qid, target), a function of the dedupe key:
            # joining it after the distinct is exact and much smaller
            # (gold rows are distinct, so none fans the frame out)
            d = d.join(F.broadcast(gold),
                       gold_of(F.col("qid"), F.col("_tgt")), "left")
            aggs.append(F.count(F.when(ok & F.col("g_nodeId").isNotNull(),
                                       1)).alias("correctCnt"))
        # a deferred terminal (= the target) gets its label and payload
        # after the distinct.  Inner join: the graph is validated and
        # every edge dst is a node
        attrs = [(o, s.split("_", 1)[1]) for o, s in sig + carried
                 if s not in avail]
        if attrs:
            d = d.join(graph.nodes.select(
                F.col("nodeId").alias("_tgt"),
                *[F.col(a).alias(o) for o, a in attrs]), "_tgt")
        if targets is not None:
            # the first `limit` targets of each signature in consumption
            # order; the window shares the aggregate's partitioning
            sim = targets.similarity(F.col("_tgt"))
            first = F.row_number().over(Window.partitionBy(*key_names)
                                        .orderBy(sim.desc(), F.col("_tgt")))
            d = d.select("*", sim.alias("_sim"), first.alias("_first"))
            aggs.append(F.collect_list(F.when(
                F.col("_first") <= targets.limit,
                F.struct(F.col("_tgt").alias("nodeId"),
                         F.col("_sim").alias("similarity"),
                         *[F.col(o).alias(a) for (o, _), a
                           in zip(carried, payload)]))
            ).alias("targets"))
        # rows are distinct on (keys, target), so a count per key set
        # IS count(DISTINCT target)
        df = (d.groupBy(*key_names).agg(*aggs)
              .filter(F.col("totalCnt") > 0))
    if specific_target_label is not None:
        df = df.filter(F.col(f"label{ret + 1}") == specific_target_label)
    return df


def _enumerate(graph: PropertyGraph, patterns: Sequence[str], op: str,
               anchor: Callable[[int], DataFrame], batch: bool,
               gold: DataFrame | None, specific_target_label: str | None,
               approx_rsd: float | None,
               targets: Targets | None = None) -> DataFrame:
    """All templates unioned into one signature table with a ``pattern``
    column; signature columns a template lacks are null-padded so the
    union is schema-stable."""
    cols = ((["qid"] if batch else []) + list(SPEC_COLS) + ["totalCnt"]
            + (["correctCnt"] if gold is not None else [])
            + (["targets"] if targets is not None else []))
    out = []
    for template in templates(patterns, op):
        df = _aggregate(graph, template, anchor, batch, gold,
                        specific_target_label, approx_rsd, targets)
        # ONE select pads the missing signature columns and stamps the
        # pattern tag — a withColumn per column is a full DataFrame
        # round-trip each (~14 ms of driver latency on a slow-py4j
        # host) for the identical plan
        have = set(df.columns)
        out.append(df.select(*[
            F.lit(template[0]).alias("pattern") if c == "pattern"
            else (F.col(c) if c in have
                  else F.lit(None).cast("string").alias(c))
            for c in cols]))
    return reduce(DataFrame.unionByName, out)


def _literal_anchor(graph: PropertyGraph, names: Sequence[str],
                    ) -> Callable[[int], DataFrame]:
    nodes = graph.nodes.filter(F.col("name").isin(list(names)))
    return lambda pos: F.broadcast(nodes.select(*node_cols(pos)))


def _gold_ids(graph: PropertyGraph, tgt_ids: Sequence[int] | None,
              ) -> DataFrame | None:
    """``tgt_ids`` as a one-question gold frame ``(g_nodeId)``."""
    return None if tgt_ids is None else local_frame(
        graph.nodes.sparkSession,
        [{"g_nodeId": i} for i in dict.fromkeys(map(int, tgt_ids))],
        StructType([StructField("g_nodeId", LongType())]))


def enumerate_pattern(graph: PropertyGraph, pattern: str,
                      src_names: Sequence[str],
                      tgt_ids: Sequence[int] | None = None) -> DataFrame:
    """One template → signature table with ``totalCnt`` (grouped
    count(DISTINCT tgt), the implicit Cypher aggregation B6) and, when
    ``tgt_ids`` is given (supervised training mode), ``correctCnt`` (B7)."""
    (template,) = templates([pattern], "enumerate_pattern")
    return _aggregate(graph, template, _literal_anchor(graph, src_names),
                      False, _gold_ids(graph, tgt_ids), None, None)


def enumerate_paths(graph: PropertyGraph, src_names: Sequence[str],
                    patterns: Sequence[str] = PATTERNS,
                    tgt_ids: Sequence[int] | None = None,
                    specific_target_label: str | None = None) -> DataFrame:
    """All templates for one question's anchors, unioned into one
    signature table with a ``pattern`` column — the DataFrame analog of
    PathRetriever.retrieve_paths (path_retriever.py:49-64)."""
    return _enumerate(graph, patterns, "enumerate_paths",
                      _literal_anchor(graph, src_names), False,
                      _gold_ids(graph, tgt_ids), specific_target_label, None)


def enumerate_paths_batch(graph: PropertyGraph, anchors: DataFrame,
                          patterns: Sequence[str] = PATTERNS,
                          gold: DataFrame | None = None,
                          specific_target_label: str | None = None,
                          approx_rsd: float | None = None,
                          targets: Targets | None = None) -> DataFrame:
    """All templates for ALL questions in one plan: ``anchors`` is a
    ``(qid, name)`` frame; output adds a ``qid`` column to the signature
    table.  One Spark job enumerates every question (vs the reference's
    per-question Cypher round-trips, llm1.py:83-87).  ``gold`` is an
    optional ``(qid, nodeId)`` frame for supervised ``correctCnt``.
    The 2path template's second anchor is constrained to the SAME
    question's anchor set.

    ``targets`` adds each signature's first B targets (:class:`Targets`),
    which are exactly the rows of its instantiated query that a node
    budget of B can consume, so the pipeline executes no query.  Before
    the budget's crossing row at most B-1 distinct nodes have been seen,
    and one query's rows are all distinct nodes: a query's crossing row
    is among its first B rows, or the query has fewer than B rows.  No
    row after a query's B-th is consumed, so truncating at B is exact.
    A signature's targets are the query's rows because the query's
    anchors are every node of its ``name1`` (and ``name3``), the
    question's anchors of that name, and it has no node inequality
    (labels and relationship types are non-null, so each signature
    column of the query is a literal constraint).

    ``approx_rsd`` switches ``totalCnt`` to HyperLogLog++
    (``approx_count_distinct`` at that relative standard deviation) —
    the hub-anchor scale path: real MAG signatures reach 700k distinct
    targets (BASELINE.md), where the exact count's distinct shuffle
    carries every (signature, target) pair but the HLL sketch is a
    fixed-size mergeable partial per signature.  The count only feeds
    E5's ``num_results`` SORT key (llm1.py:53-58), so a few-percent
    error is semantically benign; ``correctCnt`` (the gate numerator)
    stays EXACT — gold matches are few."""
    a = F.broadcast(anchors.select("qid", "name"))

    def anchor(pos: int) -> DataFrame:
        return F.broadcast(graph.nodes.join(a, "name").select(
            F.col("qid").alias(f"x{pos + 1}_qid"), *node_cols(pos)))

    if gold is not None:
        # a duplicated gold row must not fan out the deduped frame
        gold = gold.select(F.col("qid").alias("g_qid"),
                           F.col("nodeId").alias("g_nodeId")).distinct()
    return _enumerate(graph, patterns, "enumerate_paths_batch", anchor,
                      True, gold, specific_target_label, approx_rsd,
                      targets)


def instantiate_queries(rows: Sequence[dict]) -> list[tuple[PatternSpec, str]]:
    """Signature rows → (PatternSpec, cypher_text) pairs — the structured
    replacement for create_query's f-string rendering
    (path_retriever.py:29-40).  The ir constructors take a template's
    signature columns in SPEC_COLS order."""
    out: list[tuple[PatternSpec, str]] = []
    for rec in rows:
        (pattern, n_nodes, anchored, _), = templates([rec["pattern"]],
                                                    "instantiate_queries")
        spec = _INSTANTIATE[pattern](
            *[rec[c] for c, _ in _signature(n_nodes, anchored)])
        out.append((spec, spec.cypher()))
    return out
