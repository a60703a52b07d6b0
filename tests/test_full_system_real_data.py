"""THE full-system integration on real data: run_pipeline over all
2,665 real mag valid questions (NER anchors) against the replay slice,
with the char n-gram LM (trained on the split's gated SFT completions)
driving trie-constrained ranking.

One chain exercises every pipeline stage at question scale:
slice graph → batch enumeration → per-question LM ranking (2,665
questions) → spec-as-data bulk execution → qid-partitioned budgeted
retrieval.  Assertions target system-level properties no unit test
covers: zero cross-question leakage (every retrieved node belongs to
its question's namespace), the node budget enforced per question, and
broad coverage (most candidate-bearing questions retrieve something).
"""

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tests.test_reference_replay import NER, QA, _build_slice, _load

QA_VALID, NER_VALID = QA.format(split="valid"), NER.format(split="valid")


@pytest.mark.skipif(
    not (os.path.exists(QA_VALID) and os.path.exists(NER_VALID)),
    reason=f"{QA_VALID} or {NER_VALID} absent")
def test_full_pipeline_over_all_real_questions(spark):
    from graphraft_spark.graph.model import PropertyGraph
    from graphraft_spark.llm.ngram_lm import CharNgramLM, eos_tokenizer
    from graphraft_spark.llm.protocols import TrieConstrainedRanker
    from graphraft_spark.pipeline import run_pipeline

    qa_rows = _load(QA.format(split="valid"))
    ner_by_id = {r["id"]: r for r in _load(NER.format(split="valid"))}
    nodes, edges, gold, anchors, expected = _build_slice(qa_rows, ner_by_id)
    graph = PropertyGraph(
        nodes=spark.createDataFrame(
            nodes, "nodeId bigint, label string, name string"),
        edges=spark.createDataFrame(
            edges, "edgeId bigint, src bigint, dst bigint, relType string"),
    ).materialize_undirected()

    # LM trained on the split's own gated best queries (the F8 loop)
    import collections
    best = {}
    for e in expected:
        cur = best.get(e["qid"])
        key = (-e["stored_h"], e["stored_nr"])
        if cur is None or key < cur[0]:
            best[e["qid"]] = (key, e["query"])
    corpus = [q for _, q in best.values()]
    lm = CharNgramLM(corpus, n=3, alpha=0.5)
    ranker = TrieConstrainedRanker(token_logprob=lm.token_logprob,
                                   tokenizer=eos_tokenizer)

    questions = [
        (r["id"], r["question"],
         [f"{r['id']}|{e}" for e in
          dict.fromkeys(ner_by_id[r["id"]]["predicted_entities"])])
        for r in qa_rows]
    out = run_pipeline(
        spark, graph, questions=questions, ranker=ranker,
        max_nodes=10, k=3,
        patterns=("1hop", "2hop"), specific_target_label="Paper",
    ).persist()

    per_q = {r["qid"]: r["n"] for r in
             out.groupBy("qid").agg(F.count("*").alias("n")).collect()}
    # budget: at most max_nodes-1 kept per question (drop-the-crosser)
    assert per_q and max(per_q.values()) <= 9
    # zero cross-question leakage: every retrieved node's name carries
    # its own question's namespace prefix
    leaks = out.filter(
        ~F.col("name").startswith(
            F.concat(F.col("qid").cast("string"), F.lit("|")))).count()
    assert leaks == 0
    # coverage: most questions with stored candidates retrieve nodes
    with_cands = {r["id"] for r in qa_rows if r["cypher_queries"]}
    covered = len(with_cands & set(per_q))
    assert covered > 0.95 * len(with_cands), (covered, len(with_cands))
    graph.undirected.unpersist()
    out.unpersist()
