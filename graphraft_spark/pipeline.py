"""End-to-end retrieval pipeline — the batch DataFrame analog of
GraphRAFT.run() (reference graphraft.py:41-66):

  entities → node matching (C1/C2) → candidate enumeration (B1-B11)
  → LLM ranking seam (F4) → pattern execution (B12) → budgeted
  retrieval (D1-D7) → answer generation seam (F7) → metrics (G).

Stage boundaries mirror the reference's: enumerated candidate *queries*
surface at the driver (they are the ranker's input — the reference
feeds them to a constrained-beam LLM).  Each question's neighbourhood
is traversed once: the enumeration that counts every signature's
targets also carries its first B targets, which are all the rows of
its instantiated query that a node budget of B can consume
(``enumerate_paths_batch``).  So stage 4 executes no query: the ranked
signatures' targets become the budget's input on the driver, at most
k·B rows per question.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from graphraft_spark.graph.model import PropertyGraph
from graphraft_spark.llm.protocols import AnswerGenerator, QueryRanker
# run_pattern_nodes is not called here: it stays importable from this
# module because perfbench's tracer wraps it by name
from graphraft_spark.patterns.compiler import run_pattern_nodes  # noqa: F401
from graphraft_spark.patterns.enumerate import (
    Targets,
    enumerate_paths_batch,
    instantiate_queries,
)
from graphraft_spark.patterns.ir import PatternSpec
from graphraft_spark.retrieve import budgeted_accumulate
from graphraft_spark.session import local_frame

_ANCHOR_SCHEMA = StructType([StructField("qid", LongType()),
                             StructField("name", StringType())])


def default_similarity(node_id: Column) -> Column:
    """Deterministic pseudo-similarity used when no embedding column is
    configured (tests/oracles); production passes cosine over a real
    embedding column (retriever.py:59)."""
    return ((node_id % 100000) * 7919 % 104729) / 104729.0


def rank_candidates(ranker: QueryRanker, question: str,
                    rows: Sequence[dict], k: int,
                    ) -> list[tuple[dict, PatternSpec, int]]:
    """Stage 3 for ONE question's signature rows: instantiate each
    row's query, dedupe by query text (first row wins), rank the texts
    and return the top-k as (signature row, spec, queryIdx)."""
    by_text: dict[str, tuple[dict, PatternSpec]] = {}
    for row, (spec, text) in zip(rows, instantiate_queries(rows)):
        by_text.setdefault(text, (row, spec))
    top = ranker.rank(question, list(by_text), k=k)
    return [(*by_text[text], idx) for idx, text in enumerate(top)]


def _empty(spark: SparkSession, prop_cols: tuple[str, ...]) -> DataFrame:
    """run_pipeline's result schema with no rows."""
    return local_frame(spark, [], DataType.fromDDL(
        "qid bigint, nodeId bigint, queryIdx int, rank int, "
        "similarity double, name string, "
        + "".join(f"{c} string, " for c in prop_cols)
        + "patterns array<string>"))


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
    (qid, nodeId, queryIdx, rank, similarity, name, <props...>,
    patterns) — the retrieved node set per question, budget-capped,
    provenance-carrying — as a local frame over collected rows, in
    ``(qid, queryIdx, rank)`` consumption order.

    Two Spark actions, however many questions: the batch enumeration
    over a local (qid, name) anchor frame is collected for the driver's
    ranker (the reference feeds these signatures to a constrained-beam
    LLM, llm1.py:83-87); it also carries each signature's first
    ``max_nodes`` targets.  The ranked signatures' targets, at most
    k·max_nodes rows per question, form the budget's input as a local
    frame, and the budgeted retrieval is the second collect.  Every
    driver-built frame is an Arrow-backed local relation, so no Python
    worker starts.
    """
    # Stage 2: enumerate ALL questions in one job.
    anchor_rows = [{"qid": int(qid), "name": str(n)}
                   for qid, _, src_names in questions for n in src_names]
    if not anchor_rows:
        return _empty(spark, prop_cols)
    # a LocalRelation: no Python RDD to broadcast, so no Python worker
    anchors = local_frame(spark, anchor_rows, _ANCHOR_SCHEMA)
    # the budget below runs at pattern_rate 1, so B = max_nodes
    sigs = enumerate_paths_batch(
        graph, anchors, patterns=patterns,
        specific_target_label=specific_target_label,
        targets=Targets(max_nodes, similarity or default_similarity,
                        tuple(prop_cols)))
    recs = [r.asDict(recursive=True) for r in sigs.collect()]

    # Stage 3 (driver-side, small): per question instantiate + rank.
    qtext = {int(qid): text for qid, text, _ in questions}
    per_q: dict[int, list[dict]] = {}
    for rec in recs:
        per_q.setdefault(int(rec["qid"]), []).append(rec)

    # Stage 4: a ranked query's rows are its signature's targets, and
    # its provenance string is the spec's rendering (retriever.py:9-12).
    results = [
        {"qid": qid, "queryIdx": idx, **t, "pattern": spec.text_pattern("")}
        for qid, rows in per_q.items()
        for row, spec, idx in rank_candidates(ranker, qtext[qid], rows, k)
        for t in row["targets"]]
    if not results:
        return _empty(spark, prop_cols)
    target = sigs.schema["targets"].dataType.elementType
    schema = StructType([StructField("qid", LongType()),
                         StructField("queryIdx", IntegerType()),
                         *target.fields,
                         StructField("pattern", StringType())])

    # Stage 5: budgeted accumulation across all questions in one job.
    kept = budgeted_accumulate(local_frame(spark, results, schema),
                               budget=max_nodes,
                               prop_cols=("name",) + tuple(prop_cols))
    rows = sorted(kept.collect(),
                  key=lambda r: (r["qid"], r["queryIdx"], r["rank"]))
    return local_frame(spark, [r.asDict(recursive=True) for r in rows],
                       kept.schema)


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
    the signature columns (retriever.py:9-12 'pattern' provenance), for
    frames of signatures that never reach the driver (perfbench's
    ``train_sft`` export builds its query texts with it)."""
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
