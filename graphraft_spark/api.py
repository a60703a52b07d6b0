"""User-facing facade — the online single-question surface of the
reference (GraphRAFT.run(), graphraft.py:41-66), so a reference user can
switch engines without relearning the flow:

    engine = GraphRAFTEngine(spark, graph, config=EngineConfig(...))
    answers = engine.run("who wrote X?")

Every model call sits behind a pluggable seam (chat/encoder/ranker/
generator) with deterministic defaults, mirroring graphraft.py's
dataset-specific wiring (NER instructions, property lists, target-label
pruning).  Batch pipelines should use graphraft_spark.pipeline directly
(``run_pipeline`` + ``answer_questions``, re-exported here); this facade
is the interactive path.

Entity matching is one Spark action for all of a question's entities
(an encoder's vector fallback adds one).  After it a question costs two:
the enumeration collect (the ranker's input, which also carries each
signature's first ``max_nodes`` targets, so no ranked query is executed
again) and the retrieval collect (at most ``max_nodes - 1`` rows).  The
ranker and the generator both run in-process on the driver, as the
reference's local model calls do, and the returned retrieval frame is
already materialized.  Every frame the driver builds on the way
(entities, anchors, the ranked queries' targets, the result) is an
Arrow-backed local relation, so the online path starts no Python
process: no Python daemon or worker is forked for a question.  (NFC
matching on a non-ASCII graph is the exception: it runs a pandas UDF.)
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from graphraft_spark.graph.model import PropertyGraph
from graphraft_spark.llm.ner_parse import (
    parse_labeled_entities,
    parse_unlabeled_entities,
)
from graphraft_spark.llm.protocols import (
    AnswerGenerator,
    EchoGenerator,
    QueryRanker,
    TrieConstrainedRanker,
)
from graphraft_spark.pipeline import answer_questions, run_pipeline
from graphraft_spark.search.text import has_non_ascii_names, match_entities

__all__ = ["EngineConfig", "GraphRAFTEngine", "answer_questions",
           "match_entities", "run_pipeline"]


@dataclass(frozen=True)
class EngineConfig:
    """Reference defaults (BASELINE.md knobs): graphraft.py:37 max_nodes,
    :79 beam width; path_retriever patterns per dataset (mag: 1hop/2hop
    + Paper pruning; prime: all three)."""

    max_nodes: int = 20
    beam_width: int = 5
    patterns: tuple[str, ...] = ("1hop", "2hop", "2path")
    specific_target_label: str | None = None
    ner_labels: tuple[str, ...] | None = None  # None → unlabeled ('_Entity_')
    add_more_answers: bool = False
    # None = auto: enable true Unicode NFC matching when the graph's
    # names contain non-ASCII (reference always NFCs, ner.py:111-113)
    nfc: bool | None = None

    @staticmethod
    def mag() -> "EngineConfig":
        return EngineConfig(patterns=("1hop", "2hop"),
                            specific_target_label="Paper",
                            ner_labels=("Paper", "Author", "Institution",
                                        "FieldOfStudy"))

    @staticmethod
    def prime() -> "EngineConfig":
        return EngineConfig(patterns=("1hop", "2hop", "2path"))


class GraphRAFTEngine:
    """Stages (graphraft.py:41-66): extract entities → match to node
    names → enumerate candidate patterns, with each one's first targets
    → rank → budgeted retrieval over the top-k patterns' targets →
    generate answers."""

    def __init__(self, spark: SparkSession, graph: PropertyGraph,
                 config: EngineConfig | None = None,
                 chat_fn: Callable[[str], str] | None = None,
                 encoder: Callable[[str], list[float]] | None = None,
                 ranker: QueryRanker | None = None,
                 generator: AnswerGenerator | None = None):
        self.spark = spark
        self.graph = graph
        self.config = config or EngineConfig()
        self.chat_fn = chat_fn
        self.encoder = encoder
        self.ranker = ranker or TrieConstrainedRanker()
        self.generator = generator or EchoGenerator()
        self._nfc_auto: bool | None = None  # lazy non-ASCII probe cache

    def extract_entities(self, question: str) -> list[tuple[str, str]]:
        """Stage 2 (ner.py:30-35): chat seam + deterministic parse.
        Without a chat_fn, the question itself is the single unlabeled
        entity (useful for name-typed questions and tests)."""
        if self.chat_fn is None:
            return [("_Entity_", question)]
        response = self.chat_fn(question)
        if self.config.ner_labels:
            return parse_labeled_entities(response,
                                          list(self.config.ner_labels))
        return parse_unlabeled_entities(response)

    def match_nodes(self, entities: Sequence[tuple[str, str]]) -> list[str]:
        """Stage 3 (ner.py:95-120): normalized-equality match with vector
        fallback when an encoder is plugged in, each within the entity's
        label: one Spark action for all entities, plus one for the
        fallback.  NFC auto-enables on non-ASCII data (config.nfc=None)
        — probed once per engine."""
        return match_entities(self.spark, self.graph, entities,
                              encoder=self.encoder, nfc=self._nfc())

    def _nfc(self) -> bool:
        if self.config.nfc is not None:
            return self.config.nfc
        if self._nfc_auto is None:
            self._nfc_auto = has_non_ascii_names(self.graph.nodes)
        return self._nfc_auto

    def run(self, question: str, qid: int = 0):
        """Full flow for one question; returns (retrieved DataFrame,
        predicted answer names).

        Two Spark actions after matching, both inside ``run_pipeline``:
        the enumerated signatures are collected for the driver-side
        ranker, then the budgeted retrieval over the ranked signatures'
        targets.  The generator runs in-process on the retrieved rows,
        in the ``(queryIdx, rank)`` consumption order
        ``answer_questions`` builds, and the returned frame is
        ``run_pipeline``'s local relation over them: acting on it
        launches no Spark job."""
        entities = self.extract_entities(question)
        names = self.match_nodes(entities)
        retrieved = run_pipeline(
            self.spark, self.graph,
            questions=[(qid, question, names)],
            ranker=self.ranker,
            max_nodes=self.config.max_nodes, k=self.config.beam_width,
            patterns=self.config.patterns,
            specific_target_label=self.config.specific_target_label,
        )
        answers = self.generator.generate(
            question, [{"name": r["name"]} for r in retrieved.collect()],
            self.config.add_more_answers)
        return retrieved, list(answers)
