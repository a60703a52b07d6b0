"""Budgeted top-k retrieval dataflow (reference Retriever.retrieve_data,
retriever.py:71-109).

The reference streams each ranked query's rows in similarity order,
deduping by nodeId (first-seen wins), accumulating provenance patterns,
and stopping when the budget is reached — deleting the last newly added
node (retriever.py:87-90) — then tops up from a global vector index
under the node rule (retriever.py:96-107).

Batch-first design: the operator is a pure DataFrame transform over a
``results`` frame covering MANY questions at once —
``(qid, queryIdx, nodeId, similarity, pattern, <props...>)``.

``budgeted_accumulate`` is that one consumption loop (retriever.py:78-90
plus stop_retrieval:63-69), with the budget's unit given as per-row
costs:

* per ``qid``, rows are consumed in (queryIdx, similarity DESC, nodeId)
  order;
* a running total adds ``first_cost`` on a node's first row and
  ``append_cost`` on a repeat, which appends its pattern to the node
  (flat append — the *intended* semantics of the reference's nested-list
  append bug, retriever.py:83 / SURVEY §7.6);
* the first row whose running total is ``>= budget`` stops consumption:
  that row is consumed, and the last newly added node is deleted.  When
  the row is first-seen, that is its own node; when it is an append, the
  append lands and the most recent new node before it goes.

The node budget (D2-D4) is costs ``(1, 0)`` with
``budget = pattern_rate * max_nodes``: the total is the distinct-node
count, which is ``>= x`` exactly when it is ``>= ceil(x)``, and the
crossing row is always first-seen — drop-the-crosser.  The token budget
(D5) passes the formatted token deltas as the two costs.

Plan shape: one hash exchange on ``qid``.  The rank, first-seen and
running-total windows, the crossing aggregate and the final
``(qid, nodeId)`` grouping all reuse it, so per-question state never
leaves its partition, and ``results`` is referenced once: whatever
computes it runs once.

Vector top-up: candidates are the global top-``ef`` by similarity
*first*, then already-found ids are excluded (retriever.py:14-17); the
same stop rule at rate 1 ⇒ the final set has at most ``max_nodes - 1``
nodes whenever the budget fires.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_Q = "qid"


def budgeted_accumulate(results: DataFrame, budget: float,
                        prop_cols: tuple[str, ...] = (),
                        first_cost: Column | float = 1,
                        append_cost: Column | float = 0) -> DataFrame:
    """D2-D5: first-seen dedup + provenance accumulation + budget stop
    over per-question result streams, in one pass over ``results``.

    ``first_cost`` / ``append_cost`` are numbers or Columns over an
    input row: what the row adds to the running total when it adds a
    new node / appends to a known one.  Returns one row per kept node:
    ``(qid, nodeId, queryIdx, rank, similarity, <props...>,
    patterns ARRAY<STRING>)`` where queryIdx/rank locate the first-seen
    row and patterns are in consumption order.
    """
    pos = ("queryIdx", "rank")
    ranked = results.repartition(_Q).select(
        "*", F.row_number().over(
            Window.partitionBy(_Q, "queryIdx")
            .orderBy(F.desc("similarity"), F.asc("nodeId"))).alias("rank"))
    is_first = F.row_number().over(
        Window.partitionBy(_Q, "nodeId").orderBy(*pos)) == 1
    occ = ranked.select("*", is_first.alias("is_first"))

    # Consumption order, running total and the most recent new node,
    # all as of each row.
    order = Window.partitionBy(_Q).orderBy(*pos)
    upto = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    occ = occ.select(
        "*", F.row_number().over(order).alias("o"),
        F.sum(F.when(F.col("is_first"), first_cost).otherwise(append_cost))
        .over(upto).alias("total"),
        F.max(F.when(F.col("is_first"), F.struct(*pos, "nodeId")))
        .over(upto)["nodeId"].alias("last_new"))
    # The crossing row (null when the budget never fires) and the node it
    # deletes: everything after it, and that node, go unconsumed.
    cross = F.min(F.when(F.col("total") >= budget,
                         F.struct("o", "last_new"))).over(
        order.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    occ = occ.select("*", cross.alias("cross"))
    consumed = F.col("cross").isNull() | (
        (F.col("o") <= F.col("cross.o"))
        & (F.col("nodeId") != F.col("cross.last_new")))

    # The (queryIdx, rank) prefix is unique within each (qid, nodeId)
    # group, so the min-struct IS the first-seen row and its payload
    # (similarity + props) is selected by construction — exact even when
    # a caller supplies per-row-varying props (retriever.py:82-86).
    return (
        occ.filter(consumed)
        .groupBy(_Q, "nodeId")
        .agg(F.min(F.struct(*pos, "similarity", *prop_cols)).alias("fp"),
             F.array_sort(F.collect_list(F.struct(*pos, "pattern")))
             .alias("pp"))
        .select(_Q, "nodeId",
                *[F.col(f"fp.{c}").alias(c)
                  for c in (*pos, "similarity", *prop_cols)],
                F.transform("pp", lambda x: x["pattern"]).alias("patterns"))
    )


def vector_topup(candidates: DataFrame, kept: DataFrame, max_nodes: int,
                 prop_cols: tuple[str, ...] = ()) -> DataFrame:
    """D6: fill the remaining budget from vector-KNN candidates
    ``(qid, nodeId, similarity, <props...>)`` (already top-ef per qid),
    excluding kept nodes, same drop-the-crosser stop at rate 1
    (retriever.py:96-107).  take = min(available, max(0, max_nodes-1-k)).
    """
    kept_n = kept.groupBy(_Q).agg(F.count("*").alias("k"))
    cand = (
        candidates.join(kept.select(_Q, "nodeId"), [_Q, "nodeId"], "left_anti")
        .join(F.broadcast(kept_n), _Q, "left")
        .na.fill({"k": 0})
    )
    # take = min(available, max(0, max_nodes-1-k)); rn is bounded by
    # available, so the single row_number filter implements the min.
    w = Window.partitionBy(_Q).orderBy(F.desc("similarity"), F.asc("nodeId"))
    return (
        cand.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn")
                <= F.greatest(F.lit(0), F.lit(max_nodes) - 1 - F.col("k")))
        .select(_Q, "nodeId", "similarity", *prop_cols,
                F.array(F.lit("No pattern")).alias("patterns"))
    )


def retrieve_data(results: DataFrame, candidates: DataFrame,
                  max_nodes: int, pattern_rate: float = 1.0,
                  prop_cols: tuple[str, ...] = ()) -> DataFrame:
    """D1-D7 end-to-end: budgeted pattern accumulation + vector top-up,
    unioned — per question, ≤ max_nodes-1 nodes whenever the budget
    fires, each carrying similarity, props, and provenance patterns."""
    kept = budgeted_accumulate(results, pattern_rate * max_nodes, prop_cols)
    up = vector_topup(candidates, kept, max_nodes, prop_cols)
    return (
        kept.select(_Q, "nodeId", "similarity", *prop_cols, "patterns",
                    F.lit("pattern").alias("source"))
        .unionByName(up.select("*", F.lit("vector").alias("source")))
    )
