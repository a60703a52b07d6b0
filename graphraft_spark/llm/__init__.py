from graphraft_spark.llm.protocols import (
    AnswerGenerator,
    EchoGenerator,
    LexicographicRanker,
    QueryRanker,
    TrieConstrainedRanker,
)
from graphraft_spark.llm.ner_parse import (
    parse_labeled_entities,
    parse_unlabeled_entities,
)
from graphraft_spark.llm.prompts import (
    build_ner_messages,
    format_node_data,
    llm1_prompt,
    llm2_instruction,
)
from graphraft_spark.llm.batch import generate_answers_batch, rank_queries_batch
from graphraft_spark.llm.sft import llm1_sft_table, llm2_sft_table, write_sft

__all__ = [
    "llm1_sft_table",
    "llm2_sft_table",
    "write_sft",
    "AnswerGenerator",
    "EchoGenerator",
    "LexicographicRanker",
    "QueryRanker",
    "TrieConstrainedRanker",
    "parse_labeled_entities",
    "parse_unlabeled_entities",
    "build_ner_messages",
    "format_node_data",
    "llm1_prompt",
    "llm2_instruction",
    "generate_answers_batch",
    "rank_queries_batch",
]
