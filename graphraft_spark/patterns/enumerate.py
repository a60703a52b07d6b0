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

One binding chain and one aggregate serve every template, for one
question and many: ``anchor(x1) ⋈ r1 ⋈ x2``, then an optional ``⋈ r2``
(2hop, 2path) and an optional join to the question's anchors at ``x3``
(2path).  Each binding row emits the signature row of every template it
reaches; a 1hop row repeated by the ``r2`` fan-out is harmless, as the
aggregate first dedupes ``(keys, target)`` pairs.
:func:`enumerate_paths_batch` anchors on a ``(qid, name)`` frame, while
:func:`enumerate_paths` and :func:`enumerate_pattern` anchor on a
literal ``name IN (...)`` filter (so it reaches the node scan) and carry
no ``qid``.  The batch call can also carry each signature's first B
targets (:class:`Targets`), so the pipeline's budgeted retrieval reads
them instead of executing the ranked queries: one traversal per
question.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from graphraft_spark.graph.model import PropertyGraph
from graphraft_spark.patterns.compiler import (
    SPEC_COLS,
    TEMPLATES,
    _hop,
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


def _emit(template: tuple, returned: str | None) -> tuple[Column, bool]:
    """A template's signature row of one binding of the chain, a struct
    ``(pattern, SPEC_COLS..., _tgt, _ne)`` with the node inequality as
    ``_ne`` (``x1 <> x3``); null when the binding does not reach the
    template (no ``r2``, or no anchor at ``x3``) or its returned node's
    label is not ``returned``.  Also whether the returned node is free:
    2hop's terminal is ``r2``'s ``dst``, labelled after grouping."""
    pattern, n_nodes, anchored, ret = template
    free = n_nodes == 3 and 2 not in anchored
    null = F.lit(None).cast("string")
    bound = {"x3_nodeId": F.col("r2_dst"), "x3_label": null} if free else {}
    col = lambda src: bound.get(src, F.col(src))  # noqa: E731
    sig = dict(_signature(n_nodes, anchored))
    x3 = col("x3_nodeId") if n_nodes == 3 else None
    reached = F.lit(True) if x3 is None else x3.isNotNull()
    if returned is not None and not free:
        reached = reached & (col(f"x{ret + 1}_label") == returned)
    return F.when(reached, F.struct(
        F.lit(pattern).alias("pattern"),
        *[(col(sig[c]) if c in sig else null).alias(c)
          for c in SPEC_COLS[1:]],
        col(f"x{ret + 1}_nodeId").alias("_tgt"),
        (F.lit(True) if x3 is None else F.col("x1_nodeId") != x3)
        .alias("_ne"))), free


def _enumerate(graph: PropertyGraph, patterns: Sequence[str], op: str,
               anchor: Callable[[int], DataFrame], batch: bool,
               gold: DataFrame | None, specific_target_label: str | None,
               approx_rsd: float | None,
               targets: Targets | None = None) -> DataFrame:
    """The signature table of every requested template: the grouping
    keys (``qid`` first when ``batch``, then SPEC_COLS with a
    ``pattern`` tag and null columns a template lacks), ``totalCnt`` =
    count(DISTINCT target) (the implicit Cypher aggregation B6) and,
    with ``gold`` (distinct rows of ``g_nodeId``, plus ``g_qid`` in
    batch mode), ``correctCnt`` (B7); with ``targets``, also the
    ``targets`` column (see :class:`Targets`).  ``anchor(pos)`` is the
    node frame of an anchored position; in batch mode it carries
    ``x{pos+1}_qid``.

    ``r2`` (``r1 <> r2`` in its ON clause) and the anchors at ``x3``
    are left joins when a shallower template reads the same bindings,
    so a binding that stops at ``x2`` still yields its 1hop row.

    The counts obey the template's node inequality (``x1 <> x3``); the
    ``targets`` do not, because an instantiated query has no WHERE
    clause (``ir.twohop``).  So the inequality is a per-target flag,
    not a filter on the bindings: a target counts when one of its
    bindings passes it, and a signature no target passes is dropped."""
    tmpl = templates(patterns, op)
    if approx_rsd is not None and targets is not None:
        raise ValueError("enumerate_paths_batch: targets needs the "
                         "exact count (approx_rsd=None)")
    plan = _hop(graph, anchor(0), 1,
                graph.nodes.select(*node_cols(1, ("nodeId", "label"))), {})
    if max(n for _, n, _, _ in tmpl) == 3:
        two_path = any(2 in anc for _, _, anc, _ in tmpl)
        on = {"x3": F.col("x1_qid") == F.col("x3_qid")} if batch else {}
        plan = _hop(graph, plan, 2, anchor(2) if two_path else None, on,
                    "inner" if len(tmpl) == 1 else "left")
    emitted = [_emit(t, specific_target_label) for t in tmpl]
    late = [t[0] for t, (_, free) in zip(tmpl, emitted) if free]
    rows = plan.select(
        *([F.col("x1_qid").alias("qid")] if batch else []),
        F.inline(F.filter(F.array(*[e for e, _ in emitted]),
                          lambda r: r.isNotNull())))

    key_names = (["qid"] if batch else []) + list(SPEC_COLS)
    payload = ("name", *targets.prop_cols) if targets is not None else ()

    def decorate(d: DataFrame) -> DataFrame:
        # the target's payload and 2hop's terminal label, functions of
        # the target.  Inner join: the graph is validated and every
        # edge dst is a node
        if not late and not payload:
            return d
        d = d.join(graph.nodes.select(
            F.col("nodeId").alias("_tgt"),
            *([F.col("label").alias("_tlabel")] if late else []),
            *[F.col(a).alias(f"_t_{a}") for a in payload]), "_tgt")
        if not late:
            return d
        d = d.withColumn("label3", F.when(F.col("pattern").isin(late),
                                          F.col("_tlabel"))
                         .otherwise(F.col("label3")))
        if specific_target_label is None:
            return d
        return d.filter(~F.col("pattern").isin(late)
                        | (F.col("label3") == specific_target_label))

    def with_gold(d: DataFrame) -> DataFrame:
        # gold is per-(qid, target); distinct rows, so none fans out
        cond = F.col("_tgt") == F.col("g_nodeId")
        if batch:
            cond = cond & (F.col("qid") == F.col("g_qid"))
        return d.join(F.broadcast(gold), cond, "left")

    if approx_rsd is not None:
        # the hub-scale path: HyperLogLog++ total over the raw rows (a
        # fixed-size mergeable partial per signature), so the terminal
        # label joins before grouping; correctCnt is the single exact
        # distinct aggregate, so still no Expand
        d = decorate(rows.filter(F.col("_ne")))
        aggs = [F.approx_count_distinct("_tgt", approx_rsd).alias("totalCnt")]
        if gold is not None:
            d = with_gold(d)
            aggs.append(F.countDistinct("g_nodeId").alias("correctCnt"))
        return d.groupBy(*key_names).agg(*aggs)

    # aggregate-early / decorate-late: one grouping over (keys, target)
    # with the inequality flag shrinks the fan-out before the target
    # join, then plain counts (two countDistinct would plan an Expand)
    d = rows.groupBy(*key_names, "_tgt").agg(F.max("_ne").alias("_ok"))
    ok = F.col("_ok")
    aggs = [F.count(F.when(ok, 1)).alias("totalCnt")]
    if gold is not None:
        d = with_gold(d)
        aggs.append(F.count(F.when(ok & F.col("g_nodeId").isNotNull(),
                                   1)).alias("correctCnt"))
    d = decorate(d)
    if targets is not None:
        # the first `limit` targets of each signature in consumption
        # order; the window shares the final aggregate's exchange
        sim = targets.similarity(F.col("_tgt"))
        first = F.row_number().over(Window.partitionBy(*key_names)
                                    .orderBy(sim.desc(), F.col("_tgt")))
        d = d.select("*", sim.alias("_sim"), first.alias("_first"))
        aggs.append(F.collect_list(F.when(
            F.col("_first") <= targets.limit,
            F.struct(F.col("_tgt").alias("nodeId"),
                     F.col("_sim").alias("similarity"),
                     *[F.col(f"_t_{a}").alias(a) for a in payload]))
        ).alias("targets"))
    # rows are distinct on (keys, target), so a count per key set IS
    # count(DISTINCT target)
    return (d.groupBy(*key_names).agg(*aggs)
            .filter(F.col("totalCnt") > 0))


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
    df = _enumerate(graph, [pattern], "enumerate_pattern",
                    _literal_anchor(graph, src_names), False,
                    _gold_ids(graph, tgt_ids), None, None)
    return df.drop(*[c for c in SPEC_COLS if c not in dict(
        _signature(*TEMPLATES[pattern][:2]))])


def enumerate_paths(graph: PropertyGraph, src_names: Sequence[str],
                    patterns: Sequence[str] = PATTERNS,
                    tgt_ids: Sequence[int] | None = None,
                    specific_target_label: str | None = None) -> DataFrame:
    """All templates for one question's anchors in one signature table
    with a ``pattern`` column — the DataFrame analog of
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
