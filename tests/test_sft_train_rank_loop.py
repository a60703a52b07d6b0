"""The full F8 loop on REAL reference data: engine-built SFT table →
train a real LM on its completions → that LM drives the trie-
constrained ranker DISTRIBUTED (mapInPandas) over real candidates.

This chains the three seams the reference wires to GPUs (llm1.py:
90-115 SFT → sequence_ranker.py:15-34 constrained ranking) entirely
engine-side: the SFT table is the exact table a LoRA trainer would
read, the CharNgramLM stands in for the fine-tuned checkpoint behind
the same token_logprob/tokenizer seam, and ranking runs inside
executors exactly as a real model would via the batch layer.
"""

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

QA_VALID = ("/root/reference/mag-data/qa_with_cypher_queries/valid/"
            "data-00000-of-00001.arrow")
needs_qa = pytest.mark.skipif(not os.path.exists(QA_VALID),
                              reason=f"{QA_VALID} absent")


def _load(path):
    with pa.memory_map(path) as src:
        return pa.ipc.open_stream(src).read_all().to_pylist()


@pytest.fixture(scope="module")
def qa_df(spark):
    rows = [r for r in _load(QA_VALID) if r["cypher_queries"]]
    return spark.createDataFrame(
        [(r["id"], r["question"], r["cypher_queries"], r["hits"],
          r["num_results"], len(r["answer_ids"])) for r in rows],
        "id bigint, question string, cypher_queries array<string>, "
        "hits array<bigint>, num_results array<bigint>, n_answers bigint")


@needs_qa
def test_sft_table_on_real_data_matches_reference_gate(spark, qa_df):
    """llm1_sft_table's internal E6 gate keeps exactly the reference's
    1,525/2,665 valid rows, and every completion is that row's E5-best
    query + EOS, byte-exact vs the reference's python sort."""
    from graphraft_spark.llm.prompts import END_OF_GENERATION
    from graphraft_spark.llm.sft import llm1_sft_table

    sft = llm1_sft_table(qa_df, F.col("n_answers")).collect()
    assert len(sft) == 1525

    raw = {r["id"]: r for r in _load(QA_VALID)}
    for row in sft[:50]:
        d = raw[row["id"]]
        best = sorted(
            zip(d["cypher_queries"], d["hits"], d["num_results"]),
            key=lambda x: (-x[1], x[2]))[0][0]
        assert row["completion"] == best + END_OF_GENERATION, row["id"]
        assert row["text"].endswith(row["completion"])
        assert row["question"] in row["prompt"]


@needs_qa
def test_trained_lm_ranks_real_candidates_distributed(spark, qa_df):
    """Train the char n-gram LM on the gated completions, then rank
    REAL candidate sets inside executors (rank_queries_batch): outputs
    obey the verbatim-candidate constraint, are deterministic, and the
    trained LM's top choice agrees with its own driver-side ranking."""
    from graphraft_spark.llm.batch import rank_queries_batch
    from graphraft_spark.llm.ngram_lm import CharNgramLM, eos_tokenizer
    from graphraft_spark.llm.prompts import END_OF_GENERATION
    from graphraft_spark.llm.sft import llm1_sft_table
    from graphraft_spark.llm.protocols import TrieConstrainedRanker

    corpus = [r["completion"].removesuffix(END_OF_GENERATION)
              for r in llm1_sft_table(qa_df, F.col("n_answers"))
              .select("completion").collect()]
    lm = CharNgramLM(corpus, n=3, alpha=0.5)
    ranker = TrieConstrainedRanker(token_logprob=lm.token_logprob,
                                   tokenizer=eos_tokenizer)

    sample = qa_df.filter(F.size("cypher_queries") >= 3).limit(30)
    ranked = rank_queries_batch(sample, ranker, k=3).collect()
    assert len(ranked) == 30
    by_id = {r["id"]: r for r in ranked}
    for r in ranked:
        assert 1 <= len(r["top_cypher_queries"]) <= 3
        assert set(r["top_cypher_queries"]) <= set(r["cypher_queries"])
    # executor-side ranking == driver-side ranking with the same LM
    for row in sample.collect()[:5]:
        want = ranker.rank(row["question"], list(row["cypher_queries"]), 3)
        assert list(by_id[row["id"]]["top_cypher_queries"]) == want
