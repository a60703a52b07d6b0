"""Budgeted top-k retrieval dataflow (reference Retriever.retrieve_data,
retriever.py:71-109).

The reference streams each ranked query's rows in similarity order,
deduping by nodeId (first-seen wins), accumulating provenance patterns,
and stopping when the node budget is crossed — *dropping the node that
crossed the line* (retriever.py:87-90), then topping up from a global
vector index under the same stop rule (retriever.py:96-107).

Batch-first design: the operator is a pure DataFrame transform over a
``results`` frame covering MANY questions at once —
``(qid, queryIdx, nodeId, similarity, pattern, <props...>)`` — with every
window partitioned by ``qid``.  That is the 100 TB shape: one shuffle by
question id, per-question state never leaves its partition, no driver
loop.  The reference's single-question REPL call is the 1-row case.

Exact consumption-order semantics (SURVEY §7.5), derived from the
sequential loop:

* rows of query ``i`` are consumed in (similarity DESC, nodeId) order;
  queries in index order — global order = (queryIdx, rank);
* a node's owner row is its first appearance; later re-encounters only
  append their pattern string (flat append — the *intended* semantics of
  the reference's nested-list append bug, retriever.py:83 / SURVEY §7.6);
* let B = ceil(pattern_rate * max_nodes); consumption stops at the row
  that first makes the distinct-node count reach B, and that row's node
  is deleted ⇒ kept nodes are exactly those with first-seen order < B,
  and pattern provenance only accumulates from rows strictly before the
  crossing row;
* vector top-up: candidates are the global top-``ef`` by similarity
  *first*, then already-found ids are excluded (retriever.py:14-17);
  the same stop rule at rate 1 ⇒ the final set has at most
  ``max_nodes - 1`` nodes whenever the budget fires.

``budgeted_accumulate`` derives all of that in one pass over its input:
one ``groupBy(qid, nodeId)`` yields each node's first-seen row and its
occurrences sorted by (queryIdx, rank); one window over ``qid`` numbers
the nodes by first appearance (``seen_order``) and finds the crossing
row; the kept nodes' occurrence lists are cut to the rows strictly
before it.  ``results`` is referenced once in the plan, so whatever
computes it (the pipeline's pattern joins) runs once.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_Q = "qid"


def _ranked(results: DataFrame) -> DataFrame:
    w = (Window.partitionBy(_Q, "queryIdx")
         .orderBy(F.desc("similarity"), F.asc("nodeId")))
    return results.select("*", F.row_number().over(w).alias("rank"))


def budgeted_accumulate(results: DataFrame, max_nodes: int,
                        pattern_rate: float = 1.0,
                        prop_cols: tuple[str, ...] = ()) -> DataFrame:
    """D2+D3+D4: first-seen dedup + provenance accumulation + node-budget
    stop over per-question result streams, in one pass over ``results``.

    Returns one row per kept node:
    ``(qid, nodeId, queryIdx, rank, similarity, <props...>,
    patterns ARRAY<STRING>)`` where queryIdx/rank locate the first-seen
    row and patterns are in consumption order.
    """
    budget = math.ceil(pattern_rate * max_nodes)
    ranked = _ranked(results)

    # One aggregate per (qid, nodeId) holds both sides of the node.  The
    # (queryIdx, rank) prefix is unique within each group, so the
    # min-struct IS the first-seen row and its payload (similarity +
    # props) is selected by construction — exact even when a caller
    # supplies per-row-varying props (retriever.py:82-86 semantics).
    # The sorted list is every occurrence's pattern in consumption order.
    nodes = (
        ranked.groupBy(_Q, "nodeId")
        .agg(F.min(F.struct("queryIdx", "rank", "similarity",
                            *prop_cols)).alias("fp"),
             F.array_sort(F.collect_list(
                 F.struct("queryIdx", "rank", "pattern"))).alias("pp"))
        .select(_Q, "nodeId", F.col("fp.queryIdx").alias("queryIdx"),
                F.col("fp.rank").alias("rank"),
                F.col("fp.similarity").alias("similarity"),
                *[F.col(f"fp.{c}").alias(c) for c in prop_cols], "pp")
    )
    # seen_order and the crossing row (the B-th first-seen row, null if
    # the budget never fires) share the qid partitioning and its sort.
    seen = Window.partitionBy(_Q).orderBy("queryIdx", "rank")
    nodes = nodes.select("*", F.row_number().over(seen).alias("seen_order"))
    crossing = F.max(F.when(F.col("seen_order") == budget,
                            F.struct("queryIdx", "rank"))
                     ).over(Window.partitionBy(_Q))
    nodes = nodes.select("*", crossing.alias("cross"))

    # kept nodes: first seen strictly before the crossing row; their
    # provenance: occurrences strictly before it
    def consumed(x: Column) -> Column:
        cq, cr = F.col("cross.queryIdx"), F.col("cross.rank")
        return (F.col("cross").isNull() | (x["queryIdx"] < cq)
                | ((x["queryIdx"] == cq) & (x["rank"] < cr)))

    return (
        nodes.filter(F.col("seen_order") < budget)
        .select(_Q, "nodeId", "queryIdx", "rank", "similarity", *prop_cols,
                F.transform(F.filter("pp", consumed),
                            lambda x: x["pattern"]).alias("patterns"))
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
    kept = budgeted_accumulate(results, max_nodes, pattern_rate, prop_cols)
    up = vector_topup(candidates, kept, max_nodes, prop_cols)
    return (
        kept.select(_Q, "nodeId", "similarity", *prop_cols, "patterns",
                    F.lit("pattern").alias("source"))
        .unionByName(up.select("*", F.lit("vector").alias("source")))
    )


def token_budgeted_accumulate(results: DataFrame, max_tokens: int,
                              token_len: Column | None = None,
                              rate: float = 1.0) -> DataFrame:
    """D5: token-count budget variant (retriever.py:32-46,66-69): stop
    when the formatted node data reaches ``rate * max_tokens`` tokens.

    ``token_len`` is a Column over the input row giving that node's
    formatted token count (default: whitespace token count of
    ``pattern`` + ``node_text`` if present — callers pass a tokenizer
    pandas_udf for model-exact counts).  Simplification vs reference:
    counted text is the node's first-seen formatting (the reference
    re-formats after each pattern append; counts differ slightly but
    monotonicity and the drop-the-crosser rule are preserved).
    """
    if token_len is None:
        src = F.col("node_text") if "node_text" in results.columns else F.col("pattern")
        token_len = F.size(F.split(src, r"\s+"))
    ranked = _ranked(results).withColumn("tok", token_len)
    first = (
        ranked.groupBy(_Q, "nodeId")
        .agg(F.min(F.struct("queryIdx", "rank", "similarity", "tok"))
             .alias("fp"))
        .select(_Q, "nodeId", F.col("fp.queryIdx").alias("queryIdx"),
                F.col("fp.rank").alias("rank"),
                F.col("fp.similarity").alias("similarity"),
                F.col("fp.tok").alias("tok"))
    )
    w = (Window.partitionBy(_Q).orderBy("queryIdx", "rank")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        first.withColumn("cum_tok", F.sum("tok").over(w))
        .filter(F.col("cum_tok") < rate * max_tokens)
        .drop("tok")
    )


def token_budgeted_accumulate_exact(results: DataFrame, max_tokens: int,
                                    first_len: Column,
                                    append_len: Column,
                                    rate: float = 1.0) -> DataFrame:
    """D5 with the reference's EXACT per-occurrence semantics
    (retriever.py:78-90 + stop_retrieval:63-69): the budget is
    re-checked after EVERY consumed row — a repeat occurrence's pattern
    append also grows the formatted text — and when the total reaches
    ``rate * max_tokens``, consumption stops and the LAST NEWLY ADDED
    node is deleted (``del retrieved_data[last_new_node]``,
    retriever.py:87-89 — not necessarily the node of the crossing row,
    which may have been a pattern append to an older node).

    ``first_len`` / ``append_len`` are Columns over an occurrence row
    giving the token-count delta when the row adds a new node /
    appends to a known one (the formatter joins node blocks and
    pattern entries with whitespace, so deltas are additive; pass
    tokenizer pandas_udfs for model-exact counts).

    One shuffle by qid + two window passes — per-question state never
    leaves its partition.  Returns kept nodes with the patterns
    accumulated from occurrences strictly before the crossing row.
    """
    ranked = _ranked(results)
    seen = Window.partitionBy(_Q, "nodeId").orderBy("queryIdx", "rank")
    order = Window.partitionBy(_Q).orderBy("queryIdx", "rank")
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    occ = (ranked
           .withColumn("is_first",
                       F.row_number().over(seen) == 1)
           .withColumn("delta", F.when(F.col("is_first"), first_len)
                       .otherwise(append_len))
           .withColumn("cum_tok", F.sum("delta").over(cum))
           .withColumn("o", F.row_number().over(order)))
    budget = rate * max_tokens
    # crossing occurrence (first with cum >= budget) and the order
    # position of the last first-seen row before it, per question
    stats = (occ.groupBy(_Q).agg(
        F.min(F.when(F.col("cum_tok") >= budget,
                     F.struct("o", "is_first")))
        .alias("cr"))
        .select(_Q, F.col("cr.o").alias("cross_o"),
                F.col("cr.is_first").alias("cross_is_first")))
    occ = occ.join(F.broadcast(stats), _Q, "left")
    # retriever.py:82-89 applies the crossing row's pattern append
    # BEFORE the stop check, so when the crossing row appends to an
    # already-retrieved node that append is consumed — keep it.  Only
    # a first-seen crossing row is excluded (its node is the last_new
    # that gets deleted anyway).
    kept_occ = occ.filter(F.col("cross_o").isNull()
                          | (F.col("o") < F.col("cross_o"))
                          | ((F.col("o") == F.col("cross_o"))
                             & ~F.col("cross_is_first")))
    # retriever.py:87-89 deletes last_new at the crossing.  When the
    # crossing row is itself first-seen, last_new IS that node — already
    # outside kept_occ, nothing more to drop.  When the crossing row
    # appends to an older node, last_new is the most recent
    # first-seen node BEFORE the crossing — delete it entirely (if the
    # append landed on last_new itself, the whole node goes with it).
    last_new = (kept_occ.filter("is_first")
                .groupBy(_Q)
                .agg(F.max(F.struct("o", "nodeId")).alias("ln"))
                .join(F.broadcast(
                    stats.filter(F.col("cross_o").isNotNull()
                                 & ~F.col("cross_is_first"))
                    .select(_Q)), _Q)
                .select(_Q, F.col("ln.nodeId").alias("drop_id")))
    nodes = (kept_occ.groupBy(_Q, "nodeId").agg(
        F.min(F.struct("queryIdx", "rank", "similarity")).alias("fp"),
        F.array_sort(F.collect_list(F.struct("o", "pattern")))
        .alias("pp"))
        .select(_Q, "nodeId",
                F.col("fp.queryIdx").alias("queryIdx"),
                F.col("fp.rank").alias("rank"),
                F.col("fp.similarity").alias("similarity"),
                F.transform("pp", lambda p: p["pattern"]).alias("patterns")))
    return (nodes.join(F.broadcast(last_new), [_Q], "left")
            .filter(F.col("drop_id").isNull()
                    | (F.col("nodeId") != F.col("drop_id")))
            .drop("drop_id"))
