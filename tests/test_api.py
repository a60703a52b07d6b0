"""Facade tests."""


def test_engine_run_end_to_end(spark, tiny_graph):
    from graphraft_spark.api import EngineConfig, GraphRAFTEngine

    def chat(question):
        # deterministic 'LLM': labeled NER response
        return "Author: Ada Institution: MIT"

    engine = GraphRAFTEngine(
        spark, tiny_graph,
        config=EngineConfig(max_nodes=20, beam_width=4,
                            patterns=("1hop", "2hop"),
                            ner_labels=("Paper", "Author", "Institution",
                                        "FieldOfStudy")),
        chat_fn=chat)
    retrieved, answers = engine.run("what has Ada written at MIT?")
    names = {r["name"] for r in retrieved.collect()}
    assert names  # Ada's papers / MIT's authors reachable
    assert answers and all(isinstance(a, str) for a in answers)


def test_engine_unlabeled_and_no_chat(spark, tiny_graph):
    from graphraft_spark.api import EngineConfig, GraphRAFTEngine

    engine = GraphRAFTEngine(spark, tiny_graph,
                             config=EngineConfig(patterns=("1hop",)))
    # no chat_fn → the question itself is the entity; 'Bob' matches
    retrieved, answers = engine.run("Bob")
    assert {r["name"] for r in retrieved.collect()} >= {"P-beta"}


def test_mag_prime_presets():
    from graphraft_spark.api import EngineConfig

    assert EngineConfig.mag().specific_target_label == "Paper"
    assert EngineConfig.mag().patterns == ("1hop", "2hop")
    assert EngineConfig.prime().patterns == ("1hop", "2hop", "2path")


def test_auto_nfc_matches_decomposed_names(spark):
    """config.nfc=None auto-enables NFC when graph names are non-ASCII:
    an NFC entity matches an NFD-stored name (VERDICT r4 item 6)."""
    import unicodedata

    from graphraft_spark.api import EngineConfig, GraphRAFTEngine
    from graphraft_spark.graph.model import PropertyGraph

    nfd = unicodedata.normalize("NFD", "café")   # e + combining accent
    nfc = unicodedata.normalize("NFC", "café")
    assert nfd != nfc
    g = PropertyGraph(
        nodes=spark.createDataFrame([(1, "Author", nfd), (2, "Paper", "P1")],
                                    "nodeId bigint, label string, name string"),
        edges=spark.createDataFrame([(10, 1, 2, "WRITES")],
                                    "edgeId bigint, src bigint, dst bigint, "
                                    "relType string"))
    auto = GraphRAFTEngine(spark, g, config=EngineConfig(patterns=("1hop",)))
    assert auto.match_nodes([("_Entity_", nfc)]) == [nfd]
    assert auto._nfc_auto is True  # probe ran and cached
    off = GraphRAFTEngine(spark, g,
                          config=EngineConfig(patterns=("1hop",), nfc=False))
    assert off.match_nodes([("_Entity_", nfc)]) == []


def test_auto_nfc_stays_off_for_ascii_graphs(spark, tiny_graph):
    from graphraft_spark.api import EngineConfig, GraphRAFTEngine

    engine = GraphRAFTEngine(spark, tiny_graph,
                             config=EngineConfig(patterns=("1hop",)))
    assert engine.match_nodes([("_Entity_", "Bob")]) == ["Bob"]
    assert engine._nfc_auto is False


def test_batch_match_is_one_job_regardless_of_entity_count(spark, tiny_graph):
    """Pin the batch shape (VERDICT r4 item 7): batch_match_entities
    drives a CONSTANT number of Spark jobs however many entities it
    gets — the per-entity loop in match_entities must never be the
    batch path."""
    from graphraft_spark.search.text import batch_match_entities

    def jobs_for(n_entities):
        ents = spark.createDataFrame(
            [(i, "Ada" if i % 2 else "MIT") for i in range(n_entities)],
            "qid bigint, entity string")
        sc = spark.sparkContext
        group = f"match-{n_entities}"
        sc.setJobGroup(group, group)
        try:
            batch_match_entities(tiny_graph, ents).collect()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    few, many = jobs_for(3), jobs_for(60)
    assert few == many, (few, many)


def test_frame_sized_entity_list_refused(spark, tiny_graph):
    """The per-question path runs one Spark job per entity; a
    frame-sized list means a batch pipeline is misrouted (VERDICT r5:
    api.py must assert, batch_match_entities is the batch twin)."""
    import pytest

    from graphraft_spark.api import GraphRAFTEngine

    engine = GraphRAFTEngine(spark, tiny_graph)
    with pytest.raises(ValueError, match="batch_match_entities"):
        engine.match_nodes([("_Entity_", f"e{i}") for i in range(33)])
