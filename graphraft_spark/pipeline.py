"""End-to-end retrieval pipeline — the batch DataFrame analog of
GraphRAFT.run() (reference graphraft.py:41-66):

  entities → node matching (C1/C2) → candidate enumeration (B1-B11)
  → LLM ranking seam (F4) → pattern execution (B12) → budgeted
  retrieval (D1-D7) → answer generation seam (F7) → metrics (G).

Stage boundaries mirror the reference's: enumerated candidate *queries*
surface at the driver (they are the ranker's input — the reference
feeds them to a constrained-beam LLM), everything row-scale stays in
DataFrames.  The ranked specs of all questions go back to Spark as
data: stage 4 is one join tree per template (``run_patterns_bulk``),
however many specs were ranked, so the plan does not grow with k or
with the question count, and Spark parallelizes across questions.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from graphraft_spark.graph.model import PropertyGraph
from graphraft_spark.llm.protocols import AnswerGenerator, QueryRanker
# run_pattern_nodes is not called here: it stays importable from this
# module because perfbench's tracer wraps it by name, and tests check
# run_patterns_bulk against it as the per-spec reference
from graphraft_spark.patterns.compiler import (  # noqa: F401
    SPEC_COLS,
    run_pattern_nodes,
    run_patterns_bulk,
)
from graphraft_spark.patterns.enumerate import (
    enumerate_paths_batch,
    instantiate_queries,
)
from graphraft_spark.retrieve import budgeted_accumulate
from graphraft_spark.session import local_frame

_RANKED_SCHEMA = StructType(
    [StructField("qid", LongType())]
    + [StructField(c, StringType()) for c in SPEC_COLS]
    + [StructField("queryIdx", IntegerType())])


def default_similarity(node_id: Column) -> Column:
    """Deterministic pseudo-similarity used when no embedding column is
    configured (tests/oracles); production passes cosine over a real
    embedding column (retriever.py:59)."""
    return ((node_id % 100000) * 7919 % 104729) / 104729.0


def rank_candidates(ranker: QueryRanker, question: str,
                    rows: Sequence[dict], k: int,
                    ) -> list[tuple[dict, int]]:
    """Stage 3 for ONE question's signature rows: instantiate each
    row's query, dedupe by query text (first row wins), rank the texts
    and return the top-k as (signature row, queryIdx)."""
    by_text: dict[str, dict] = {}
    for row, (_, text) in zip(rows, instantiate_queries(rows)):
        by_text.setdefault(text, row)
    top = ranker.rank(question, list(by_text), k=k)
    return [(by_text[text], idx) for idx, text in enumerate(top)]


def run_pipeline(
    spark: SparkSession,
    graph: PropertyGraph,
    questions: Sequence[tuple[int, str, Sequence[str]]],
    ranker: QueryRanker,
    max_nodes: int = 20,
    k: int = 5,
    patterns: Sequence[str] = ("1hop", "2hop", "2path"),
    specific_target_label: str | None = None,
    similarity: Callable[[Column], Column] | None = None,
    prop_cols: tuple[str, ...] = (),
) -> DataFrame:
    """questions: (qid, question_text, matched_src_names).  Returns
    (qid, nodeId, name, <props...>, similarity, patterns, queryIdx) —
    the retrieved node set per question, budget-capped,
    provenance-carrying.

    Job shape is O(1) Spark jobs per STAGE, independent of question
    count: one batch enumeration job over a (qid, name) anchor frame,
    ONE driver collect of the aggregated signature table (the ranker
    seam input — the reference feeds these to a constrained-beam LLM,
    llm1.py:83-87), then one execution+accumulation job over the ranked
    (qid, <spec cols>, queryIdx) rows as a local frame: each template's
    join tree executes every distinct spec, and a broadcast null-safe
    join on the spec columns fans the results back out to questions.
    """
    sim = similarity or default_similarity

    # Stage 2: enumerate ALL questions in one job.
    anchor_rows = [(int(qid), str(n)) for qid, _, src_names in questions
                   for n in src_names]
    empty = spark.createDataFrame(
        [], "qid bigint, nodeId bigint, queryIdx int, rank int, "
            "similarity double, name string, "
            + "".join(f"{c} string, " for c in prop_cols)
            + "patterns array<string>")
    if not anchor_rows:
        return empty
    anchors = spark.createDataFrame(anchor_rows, "qid bigint, name string")
    sigs = enumerate_paths_batch(graph, anchors, patterns=patterns,
                                 specific_target_label=specific_target_label)
    recs = [r.asDict() for r in sigs.collect()]  # the ONE driver collect

    # Stage 3 (driver-side, small): per question instantiate + rank.
    qtext = {int(qid): text for qid, text, _ in questions}
    per_q: dict[int, list[dict]] = {}
    for rec in recs:
        per_q.setdefault(int(rec["qid"]), []).append(rec)
    ranked_rows = [
        {"qid": qid, **{c: row[c] for c in SPEC_COLS}, "queryIdx": idx}
        for qid, rows in per_q.items()
        for row, idx in rank_candidates(ranker, qtext[qid], rows, k)]
    if not ranked_rows:
        return empty

    # Stage 4: the ranked specs are data.  run_patterns_bulk runs each
    # distinct spec once inside its template's join tree; the broadcast
    # join on the spec columns (null-safe: a template leaves some
    # unused) fans the rows out to every (qid, queryIdx) that ranked it.
    ranked = local_frame(spark, ranked_rows, _RANKED_SCHEMA)
    executed = run_patterns_bulk(
        graph, ranked, prop_cols, patterns=tuple(patterns),
    ).withColumn("pstr", text_pattern_col())
    # both sides derive from `ranked`: alias them so the fan-out join
    # is not an ambiguous self-join
    ex, rk = executed.alias("ex"), ranked.alias("rk")
    cond = None
    for c in SPEC_COLS:
        eq = F.col(f"ex.{c}").eqNullSafe(F.col(f"rk.{c}"))
        cond = eq if cond is None else cond & eq
    results = (
        ex.join(F.broadcast(rk), cond)
        .select(F.col("rk.qid").alias("qid"),
                F.col("rk.queryIdx").alias("queryIdx"),
                F.col("ex.nodeId").alias("nodeId"),
                F.col("ex.name").alias("name"),
                *[F.col(f"ex.{c}").alias(c) for c in prop_cols],
                sim(F.col("ex.nodeId")).alias("similarity"),
                F.col("ex.pstr").alias("pattern"))
    )

    # Stage 5: budgeted accumulation across all questions in one job.
    # No persist: the caller's single action plans the first-seen and
    # provenance branches together, so the second branch reads every
    # shuffle and broadcast of the pattern joins through ReusedExchange.
    # Only the work above those exchanges (each template's last join and
    # dedup, the fan-out join and the ranking window's own exchange; the
    # branches prune different columns) runs twice, and nothing stays
    # cached behind the returned frame.
    return budgeted_accumulate(results, max_nodes=max_nodes,
                               prop_cols=("name",) + tuple(prop_cols))


def answer_questions(retrieved: DataFrame, questions: DataFrame,
                     generator: AnswerGenerator,
                     add_more_answers: bool = False) -> DataFrame:
    """Stage 6: collect retrieved node data per question into the
    ARRAY<STRUCT> shape and run the generator seam (llm2.py:150-164)."""
    from graphraft_spark.llm.batch import generate_answers_batch

    data = (
        retrieved.groupBy("qid")
        .agg(F.array_sort(F.collect_list(F.struct(
            F.col("queryIdx").alias("qi"), F.col("rank").alias("rk"),
            F.col("name").alias("name")))).alias("ordered"))
        .select("qid", F.transform("ordered", lambda x: F.struct(
            x["name"].alias("name"))).alias("data"))
    )
    qa = questions.join(data, "qid", "left").withColumn(
        "data", F.coalesce(F.col("data"), F.array()))
    return generate_answers_batch(qa, generator,
                                  add_more_answers=add_more_answers)


def _esc_name(c: Column) -> Column:
    """Native twin of NodeSpec.cypher's escaping (ir.py)."""
    return F.replace(F.replace(c, F.lit("\\"), F.lit("\\\\")),
                     F.lit('"'), F.lit('\\"'))


def _node_txt(var: str, label: Column, name: Column | None) -> Column:
    lbl = F.when(label.isNull(), F.lit("")).otherwise(
        F.concat(F.lit(":"), label))
    if name is None:
        return F.concat(F.lit(f"({var}"), lbl, F.lit(")"))
    return F.concat(F.lit(f"({var}"), lbl, F.lit(' {name: "'),
                    name, F.lit('"})'))


def _rel_txt(var: str, typ: Column) -> Column:
    t = F.when(typ.isNull(), F.lit("")).otherwise(F.concat(F.lit(":"), typ))
    return F.concat(F.lit(f"-[{var}"), t, F.lit("]-"))


def text_pattern_col() -> Column:
    """Native provenance string — PatternSpec.text_pattern("") built from
    the signature columns (retriever.py:9-12 'pattern' provenance), so
    stage 4 needs no per-spec Python rendering."""
    l1, t1, l2 = F.col("label1"), F.col("type1"), F.col("label2")
    t2, l3 = F.col("type2"), F.col("label3")
    n1 = _esc_name(F.col("name1"))
    one = F.concat(_node_txt("x1", l1, n1), _rel_txt("r1", t1),
                   _node_txt("x2", l2, F.lit("")))
    two = F.concat(_node_txt("x1", l1, n1), _rel_txt("r1", t1),
                   _node_txt("x2", l2, None), _rel_txt("r2", t2),
                   _node_txt("x3", l3, F.lit("")))
    tp = F.concat(_node_txt("x1", l1, n1), _rel_txt("r1", t1),
                  _node_txt("x2", l2, F.lit("")), _rel_txt("r2", t2),
                  _node_txt("x3", l3, _esc_name(F.col("name3"))))
    return (F.when(F.col("pattern") == "1hop", one)
            .when(F.col("pattern") == "2hop", two)
            .otherwise(tp))
