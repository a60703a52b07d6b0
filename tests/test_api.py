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
    gets, and so does match_entities, its one-question call."""
    from graphraft_spark.search import text

    def jobs(group, action):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def batch(n_entities):
        ents = spark.createDataFrame(
            [(i, "Ada" if i % 2 else "MIT") for i in range(n_entities)],
            "qid bigint, entity string")
        return jobs(f"match-{n_entities}",
                    text.batch_match_entities(tiny_graph, ents).collect)

    def question(n_entities):
        ents = [("Author", "Ada") if i % 2 else ("_Entity_", "MIT")
                for i in range(n_entities)]
        return jobs(f"question-{n_entities}",
                    lambda: text.match_entities(spark, tiny_graph, ents))

    few, many = batch(3), batch(60)
    assert few == many, (few, many)
    one, eight = question(1), question(8)
    assert one == eight, (one, eight)


def test_entity_label_restricts_matches(spark, tmp_path, monkeypatch):
    """One normalized name under two labels: a labeled entity matches
    only its label's node, in the fulltext hits and in the vector
    fallback; '_Entity_' or a null label matches both (ner.py:95-114).
    A question whose entities are all labeled scans only those labels'
    partitions of a label-partitioned node table."""
    from graphraft_spark.api import EngineConfig, GraphRAFTEngine
    from graphraft_spark.graph.model import PropertyGraph
    from graphraft_spark.search import text

    path = str(tmp_path / "nodes")
    spark.createDataFrame(
        [(1, "Author", "Mercury", [1.0, 0.0]),
         (2, "Planet", "MERCURY", [0.0, 1.0])],
        "nodeId bigint, label string, name string, "
        "nameEmbedding array<double>").write.partitionBy("label").parquet(path)
    g = PropertyGraph(
        nodes=spark.read.parquet(path),
        edges=spark.createDataFrame([(1, 2, "NAMED_AFTER")],
                                    "src bigint, dst bigint, relType string"))
    ents = spark.createDataFrame(
        [(1, "mercury", "Author", [1.0, 0.0]),
         (2, "mercury", "Planet", [1.0, 0.0]),
         (3, "mercury", "_Entity_", [1.0, 0.0]),
         (4, "mercury", None, [1.0, 0.0]),
         # nearest name is the Author's, but only Planets are candidates
         (5, "venus", "Planet", [1.0, 0.0])],
        "qid int, entity string, label string, qemb array<double>")
    got = {}
    for r in text.batch_match_entities(g, ents, name_emb_col="nameEmbedding",
                                       entity_emb_col="qemb").collect():
        got.setdefault(r["qid"], set()).add((r["name"], r["matched_by"]))
    both = {("Mercury", "fulltext"), ("MERCURY", "fulltext")}
    assert got == {1: {("Mercury", "fulltext")},
                   2: {("MERCURY", "fulltext")},
                   3: both, 4: both,
                   5: {("MERCURY", "vector")}}

    scans, batch = [], text.batch_match_entities

    def spy(graph, ents, **kw):
        plan = graph.nodes._jdf.queryExecution().executedPlan().toString()
        scans.append(plan[plan.index("PartitionFilters"):].split("]")[0])
        return batch(graph, ents, **kw)

    monkeypatch.setattr(text, "batch_match_entities", spy)
    engine = GraphRAFTEngine(
        spark, g,
        config=EngineConfig(patterns=("1hop",),
                            ner_labels=("Author", "Planet")),
        chat_fn=lambda q: "Planet: mercury",
        encoder=lambda s: [1.0, 0.0])
    assert engine.match_nodes(engine.extract_entities("q")) == ["MERCURY"]
    assert "= Planet)" in scans[-1]
    assert engine.match_nodes([("Author", "mercury")]) == ["Mercury"]
    assert engine.match_nodes([("_Entity_", "mercury")]) == [
        "MERCURY", "Mercury"]
    assert scans[-1] == "PartitionFilters: ["
    assert engine.match_nodes([("Planet", "venus")]) == ["MERCURY"]


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
