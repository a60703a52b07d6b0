"""Integration parity against the reference's REAL in-tree data:
mag-data/qa_with_cypher_queries/{valid,test} — 5,330 QA rows with
11k enumerated candidate queries, supervised hits and result counts.

These tests prove (a) our Cypher-template parser round-trips every real
stored query, (b) our E5/E6 dataset operators reproduce the reference's
Python logic row-for-row on real data, (c) SURVEY's measured dataset
stats hold.
"""

import os

import pyarrow as pa
import pytest

MAG_VALID = ("/root/reference/mag-data/qa_with_cypher_queries/valid/"
             "data-00000-of-00001.arrow")
MAG_DATA = MAG_VALID.split("/qa_with_cypher_queries/")[0]
MAG_QA = f"{MAG_DATA}/qa"
MAG_CYPHER_VALID = f"{MAG_DATA}/qa_with_cypher_queries/valid"

needs_mag_valid = pytest.mark.skipif(
    not os.path.exists(MAG_VALID), reason=f"{MAG_VALID} absent")


def _load(path):
    with pa.memory_map(path) as src:
        return pa.ipc.open_stream(src).read_all().to_pylist()


@pytest.fixture(scope="module")
def mag_valid():
    return _load(MAG_VALID)


@needs_mag_valid
def test_parse_roundtrip_all_real_queries(mag_valid):
    from graphraft_spark.patterns.cypher_parse import parse_cypher_query

    n, failures, needs_escape = 0, [], 0
    for row in mag_valid:
        for q in row["cypher_queries"]:
            n += 1
            try:
                spec = parse_cypher_query(q)
            except ValueError:
                failures.append(q)
                continue
            if any(nd.name and ('"' in nd.name or "\\" in nd.name)
                   for nd in spec.nodes):
                # reference inlined these raw (unescaped — its hygiene
                # bug, SURVEY §7.4); our renderer escapes, so exact text
                # round-trip is deliberately different.  Structure
                # round-trips through our own escaped format instead:
                needs_escape += 1
                assert parse_cypher_query(spec.cypher(), escaped=True) == spec
                continue
            # clean names: exact text round-trip (modulo the DISTINCT
            # repair — stored data predates it)
            rendered = spec.cypher().replace("RETURN DISTINCT ", "RETURN ")
            want = q.replace("RETURN DISTINCT ", "RETURN ")
            assert rendered == want, (rendered, want)
    assert n > 10_000
    assert not failures, failures[:3]
    assert needs_escape < n * 0.01  # raw-inlined specials are rare


@needs_mag_valid
def test_survey_measured_stats(mag_valid):
    """BASELINE.md: 2,665 valid rows; mean ≈ 4.14 candidates, max 10."""
    counts = [len(r["cypher_queries"]) for r in mag_valid]
    assert len(counts) == 2665
    assert max(counts) == 10
    assert abs(sum(counts) / len(counts) - 4.14) < 0.01


@needs_mag_valid
def test_e5_e6_parity_on_real_data(spark, mag_valid):
    """Our sort_parallel_arrays + best_label_is_good vs verbatim ports of
    llm1.py:53-66 on all 2,665 real rows."""
    from pyspark.sql import functions as F

    from graphraft_spark.data import best_label_is_good, sort_parallel_arrays

    def ref_sort(data):  # llm1.py:53-58
        cyphers, hits, num_results = zip(*sorted(
            zip(data["cypher_queries"], data["hits"], data["num_results"]),
            key=lambda x: (-x[1], x[2])))
        return {"cypher_queries": list(cyphers), "hits": list(hits),
                "num_results": list(num_results)}

    def ref_gate(data, lowest_recall=1, lowest_precision=.1):  # llm1.py:61-66
        s = ref_sort(data)
        precision = s["hits"][0] / s["num_results"][0]
        recall = s["hits"][0] / len(data["answer_ids"])
        return recall >= lowest_recall and precision >= lowest_precision

    rows = [r for r in mag_valid if r["cypher_queries"]]
    df = spark.createDataFrame(
        [(r["id"], r["cypher_queries"], r["hits"], r["num_results"],
          len(r["answer_ids"])) for r in rows],
        "id bigint, cypher_queries array<string>, hits array<bigint>, "
        "num_results array<bigint>, n_answers bigint")
    s = sort_parallel_arrays(F.col("cypher_queries"), F.col("hits"),
                             F.col("num_results"))
    out = df.select(
        "id",
        F.transform(s, lambda x: x["query"]).alias("sorted_q"),
        best_label_is_good(s, F.col("n_answers")).alias("good"),
    ).collect()
    got = {r["id"]: r for r in out}
    n_good_ref = 0
    for r in rows:
        want = ref_sort(r)
        assert got[r["id"]]["sorted_q"] == want["cypher_queries"], r["id"]
        want_good = ref_gate(r)
        n_good_ref += want_good
        assert got[r["id"]]["good"] == want_good, r["id"]
    # the gate keeps a meaningful subset (sanity that it's non-trivial)
    assert 0 < n_good_ref < len(rows)


@needs_mag_valid
def test_executable_specs_from_real_queries(spark, mag_valid, tiny_graph):
    """Parsed real-world specs compile to runnable plans on any graph
    with matching schema (labels differ — expect empty, not errors)."""
    from graphraft_spark.patterns.compiler import run_pattern
    from graphraft_spark.patterns.cypher_parse import parse_cypher_query

    specs = [parse_cypher_query(q)
             for q in mag_valid[0]["cypher_queries"][:2]]
    for spec in specs:
        assert run_pattern(tiny_graph, spec).count() == 0


@pytest.mark.skipif(
    not (os.path.isdir(MAG_QA) and os.path.isdir(MAG_CYPHER_VALID)),
    reason=f"{MAG_QA} or {MAG_CYPHER_VALID} absent")
def test_hf_arrow_reader(spark):
    """read_hf_dataset loads the reference's save_to_disk layout into
    Spark with schema intact (the load_from_disk migration path)."""
    from graphraft_spark.data.hf_arrow import read_hf_dataset, read_hf_split

    splits = read_hf_dataset(spark, "/root/reference/mag-data/qa")
    assert set(splits) == {"train", "valid", "test"}
    valid = splits["valid"]
    assert {"id", "question", "answer_ids"} <= set(valid.columns)
    assert valid.count() == 2665
    one = read_hf_split(
        spark, "/root/reference/mag-data/qa_with_cypher_queries/valid")
    assert one.count() == 2665
    assert "cypher_queries" in one.columns
