"""Prompt formatting (reference F1/F5/F6) as column expressions + driver
helpers.  All engine-side formatting stays in codegen (concat/transform);
only the model call itself crosses to Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# llm1.py:13-15 / llm1.py:69-80
START_OF_GENERATION = "<start_of_turn>assistant\n"
END_OF_GENERATION = "<eos>"

# llm2.py:17-26
INSTRUCTION_TEMPLATE = "<|start_header_id|>user<|end_header_id|>\n"
RESPONSE_TEMPLATE = "<|start_header_id|>model<|end_header_id|>\n"
ANSWER_SEPARATOR = "|"


def llm1_prompt(question: Column, gold_query: Column | None = None) -> Column:
    """F5 (llm1.py:69-80): '<start_of_turn>user\\n{q}<end_of_turn>' +
    start-of-generation (+ gold + <eos> for training rows)."""
    p = F.concat(F.lit("<start_of_turn>user\n"), question,
                 F.lit("<end_of_turn>"), F.lit(START_OF_GENERATION))
    if gold_query is not None:
        p = F.concat(p, gold_query, F.lit(END_OF_GENERATION))
    return p


def format_node_data(nodes: Column, props: list[str]) -> Column:
    """F6 (llm2.py:67-71, retriever.py:39-40): per node '{prop}: {value}'
    lines over configured props (nulls skipped), nodes joined by blank
    lines.  ``nodes`` is ARRAY<STRUCT<...>>."""
    def one(n: Column) -> Column:
        lines = F.filter(
            F.array(*[
                F.when(n[p].isNotNull(),
                       F.concat(F.lit(f"{p}: "), n[p].cast("string")))
                for p in props
            ]),
            lambda x: x.isNotNull(),
        )
        return F.concat_ws("\n", lines)

    return F.concat_ws("\n\n", F.transform(nodes, one))


def llm2_instruction(question: Column, info: Column) -> Column:
    """LLM2 prompt body (llm2.py:25-26 INSTRUCTION)."""
    return F.concat(
        F.lit("Given the information below, return the correct nodes for "
              "the following question: "),
        question, F.lit("\nRetrieved information:\n"), info, F.lit("\n"))


def build_ner_messages(system_instruction: str,
                       multi_shot_examples: list[dict],
                       question: str) -> list[dict]:
    """F1 (ner.py:38-53): system + multishot Q/A pairs + question —
    driver-side helper feeding whatever chat endpoint is plugged in."""
    msgs = [{"role": "system", "content": system_instruction}]
    for ex in multi_shot_examples:
        msgs.append({"role": "user", "content": f'Q:"{ex["question"]}"'})
        msgs.append({"role": "assistant", "content": f'A:{ex["answer"]}'})
    msgs.append({"role": "user", "content": f'Q:"{question}'})
    return msgs


def load_ner_instructions(path: str) -> dict:
    """Load a reference-format ner_instructions.json (ner.py:13-16):
    {'system_instruction', 'multi_shot_examples', 'labels'} — 'labels'
    null ⇒ unlabeled '_Entity_' parsing (PRIME)."""
    import json

    with open(path) as f:
        d = json.load(f)
    for k in ("system_instruction", "multi_shot_examples", "labels"):
        if k not in d:
            raise ValueError(f"missing key {k!r} in {path}")
    return d
