"""End-to-end retrieval pipeline — the batch DataFrame analog of
GraphRAFT.run() (reference graphraft.py:41-66):

  entities → node matching (C1/C2) → candidate enumeration (B1-B11)
  → LLM ranking seam (F4) → pattern execution (B12) → budgeted
  retrieval (D1-D7) → answer generation seam (F7) → metrics (G).

Stage boundaries mirror the reference's: enumerated candidate *queries*
surface at the driver (they are the ranker's input — the reference
feeds them to a constrained-beam LLM), everything row-scale stays in
DataFrames.  Per-question pattern plans are unioned into ONE job per
stage, so Spark parallelizes across questions; at 100 TB the
anchors/candidates per question stay tiny while the graph side scales —
exactly the broadcast-join shape the compiler emits.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graphraft_spark.graph.model import PropertyGraph
from graphraft_spark.llm.protocols import AnswerGenerator, QueryRanker
from graphraft_spark.patterns.compiler import run_pattern_nodes
from graphraft_spark.patterns.enumerate import (
    enumerate_paths_batch,
    instantiate_queries,
)
from graphraft_spark.patterns.ir import PatternSpec
from graphraft_spark.retrieve import budgeted_accumulate


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
    and return the top-k as (row, spec, queryIdx).  Shared by the
    driver loop of :func:`run_pipeline` and the executor-side groups of
    :func:`rank_signatures`."""
    by_text: dict[str, tuple[dict, PatternSpec]] = {}
    for row, (spec, text) in zip(rows, instantiate_queries(rows)):
        by_text.setdefault(text, (row, spec))
    top = ranker.rank(question, list(by_text), k=k)
    return [(*by_text[text], idx) for idx, text in enumerate(top)]


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
    llm1.py:83-87), then one execution+accumulation job in which each
    DISTINCT ranked spec's pattern plan appears once and a broadcast
    (spec, qid, queryIdx) assignment fans results back out to questions.
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

    # Stage 3 (driver-side, small): per question instantiate + rank;
    # dedupe identical specs across questions so each pattern plan is
    # built and executed once.
    qtext = {int(qid): text for qid, text, _ in questions}
    per_q: dict[int, list[dict]] = {}
    for rec in recs:
        per_q.setdefault(int(rec["qid"]), []).append(rec)
    spec_ids: dict[PatternSpec, int] = {}
    assignments: list[tuple[int, int, int]] = []  # (sid, qid, queryIdx)
    for qid, rows in per_q.items():
        for _, spec, idx in rank_candidates(ranker, qtext[qid], rows, k):
            sid = spec_ids.setdefault(spec, len(spec_ids))
            assignments.append((sid, qid, idx))
    if not assignments:
        return empty

    # Stage 4: execute each DISTINCT spec once; broadcast-join the
    # (sid → qid, queryIdx) assignment to fan out per-question rows.
    executed = None
    for spec, sid in spec_ids.items():
        nodes = run_pattern_nodes(graph, spec, prop_cols).select(
            F.lit(sid).alias("sid"), "nodeId", "name", *prop_cols,
            F.lit(spec.text_pattern("")).alias("pattern"))
        executed = nodes if executed is None else executed.unionByName(nodes)
    assign = spark.createDataFrame(assignments,
                                   "sid int, qid bigint, queryIdx int")
    results = (
        executed.join(F.broadcast(assign), "sid")
        .select("qid", "queryIdx", "nodeId", "name", *prop_cols,
                sim(F.col("nodeId")).alias("similarity"), "pattern")
    )

    # Stage 5: budgeted accumulation across all questions in one job.
    # No persist: the caller's single action plans the first-seen and
    # provenance branches together, so the second branch reads every
    # shuffle and broadcast of the pattern joins through ReusedExchange.
    # Only the work above those exchanges (each spec's last join and
    # dedup, the sid fan-out and the ranking window's own exchange; the
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
    the bulk execution path needs no per-spec Python rendering."""
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


def rank_signatures(sigs: DataFrame, questions: DataFrame,
                    ranker: QueryRanker, k: int = 5) -> DataFrame:
    """DISTRIBUTED stage 3: rank each question's enumerated candidates
    inside executors — one ``applyInPandas`` group per question, the
    ranker pickled to workers (it must be picklable; the built-in
    rankers are).  Replaces the driver-side collect+loop of
    :func:`run_pipeline` for workloads with many questions: no
    signature row ever reaches the driver, and ranking parallelizes
    across the cluster.  Output: (qid, <signature cols>, queryIdx).
    """
    from graphraft_spark.patterns.compiler import SPEC_COLS

    sig_cols = list(SPEC_COLS)
    joined = sigs.join(F.broadcast(questions.select("qid", "question")),
                       "qid")
    schema = ("qid bigint, "
              + ", ".join(f"{c} string" for c in sig_cols)
              + ", queryIdx int")

    def rank_group(pdf):
        import pandas as pd

        pdf = pdf.astype(object).where(pdf.notna(), None)
        rows = pdf.to_dict("records")
        out = [{"qid": row["qid"], **{c: row[c] for c in sig_cols},
                "queryIdx": idx}
               for row, _, idx in rank_candidates(
                   ranker, rows[0]["question"], rows, k)]
        return pd.DataFrame(out, columns=["qid"] + sig_cols + ["queryIdx"])

    return joined.groupBy("qid").applyInPandas(rank_group, schema=schema)


def run_pipeline_bulk(
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
    persist_mode: str = "persist",
) -> DataFrame:
    """Fully-distributed twin of :func:`run_pipeline` — same inputs,
    same output, ZERO driver-side collects and a plan whose size does
    not grow with the number of ranked specs:

    * stage 3 ranks via :func:`rank_signatures` (applyInPandas per
      question) instead of collecting every signature to the driver;
    * stage 4 executes via ``run_patterns_bulk`` (spec-as-data: one
      broadcast join tree per template) instead of unioning one join
      subtree per distinct spec.

    Use this shape when questions number in the thousands+ (the driver
    loop's collect is fine at interactive scale and keeps the ranker
    seam synchronous for LLM APIs).  Requires a picklable ranker.
    """
    from graphraft_spark.patterns.compiler import SPEC_COLS, run_patterns_bulk

    sim = similarity or default_similarity
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
    qdf = spark.createDataFrame([(int(qid), text) for qid, text, _ in questions],
                                "qid bigint, question string")
    ranked = rank_signatures(sigs, qdf, ranker, k=k)
    # `ranked` fans into one plan branch PER TEMPLATE inside
    # run_patterns_bulk (the spec filter) plus the fan-out broadcast —
    # without a materialization the whole enumeration + applyInPandas
    # ranking subtree executes once per branch (measured: 3
    # FlatMapGroupsInPandas nodes / ~32 parquet scans in the 2-template
    # plan).  The frame is tiny (≤ k rows per question); pin it once.
    # local_checkpoint additionally truncates lineage (same rationale
    # as budgeted_accumulate's persist_mode); plain persist keeps
    # fault-tolerant recompute as the library default.
    if persist_mode == "local_checkpoint":
        ranked = ranked.localCheckpoint(eager=True)
    else:
        ranked = ranked.persist()

    executed = run_patterns_bulk(
        graph, ranked.select(*SPEC_COLS).distinct(), prop_cols,
        patterns=tuple(patterns)).withColumn("pstr", text_pattern_col())
    # `executed` derives from `ranked` (distinct specs) — alias both
    # sides so the fan-out join is not an ambiguous self-join
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
    return budgeted_accumulate(results, max_nodes=max_nodes,
                               prop_cols=("name",) + tuple(prop_cols),
                               persist_inputs=True,
                               persist_mode=persist_mode)
