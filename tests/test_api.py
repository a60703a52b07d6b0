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
    # no entity matches: empty retrieval, generator sees no nodes
    retrieved, answers = engine.run("Nobody")
    assert retrieved.collect() == [] and answers == []


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


def _ada_mit_engine(spark, graph, add_more_answers=False):
    from graphraft_spark.api import EngineConfig, GraphRAFTEngine

    return GraphRAFTEngine(
        spark, graph,
        config=EngineConfig(max_nodes=20, beam_width=4,
                            patterns=("1hop", "2hop"),
                            ner_labels=("Author", "Institution"),
                            add_more_answers=add_more_answers),
        chat_fn=lambda q: "Author: Ada Institution: MIT")


def test_engine_run_leaves_no_cached_rdd(spark, tiny_graph):
    """engine.run persists nothing that outlives the question: a cached
    retrieval input per call would grow the context's persistent RDDs
    by one per question."""
    jsc = spark.sparkContext._jsc
    engine = _ada_mit_engine(spark, tiny_graph)
    before = set(jsc.getPersistentRDDs().keys())
    for qid in range(4):
        engine.run("what has Ada written at MIT?", qid=qid)
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


def test_engine_run_matches_batch_stages(spark, tiny_graph):
    """The driver-side generation sees the same rows in the same
    (queryIdx, rank) order as the batch answer_questions stage."""
    from graphraft_spark.pipeline import answer_questions, run_pipeline

    question = "what has Ada written at MIT?"
    cols = ("qid", "nodeId", "queryIdx", "rank", "patterns")

    def key(rows):
        return sorted(tuple(r[c] for c in cols) for r in rows)

    engine = _ada_mit_engine(spark, tiny_graph)
    names = engine.match_nodes(engine.extract_entities(question))
    batch = run_pipeline(
        spark, tiny_graph, questions=[(7, question, names)],
        ranker=engine.ranker, max_nodes=20, k=4, patterns=("1hop", "2hop"))
    qdf = spark.createDataFrame([(7, question)], "qid bigint, question string")
    for more in (False, True):
        want = answer_questions(batch, qdf, engine.generator,
                                add_more_answers=more).collect()
        engine = _ada_mit_engine(spark, tiny_graph, add_more_answers=more)
        retrieved, answers = engine.run(question, qid=7)
        assert answers == list(want[0]["predicted_answers"])
        assert key(retrieved.collect()) == key(batch.collect())
        # with add_more_answers the answers are every retrieved name, so
        # comparing them pins the whole consumption order
        n_names = len({r["name"] for r in retrieved.collect()})
        assert len(answers) == (n_names if more else 3)


def test_engine_run_returns_materialized_frame(spark, tiny_graph):
    """The retrieval is collected once inside engine.run; acting on the
    returned frame launches no Spark job."""
    engine = _ada_mit_engine(spark, tiny_graph)
    retrieved, _ = engine.run("what has Ada written at MIT?")
    sc = spark.sparkContext
    group = "engine-run-result"
    sc.setJobGroup(group, group)
    try:
        rows = retrieved.collect()
    finally:
        sc.setJobGroup(None, None)
    assert rows
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
