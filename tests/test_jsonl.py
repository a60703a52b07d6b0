"""JSONL source/sink: round-trip fidelity, corrupt-line quarantine,
explicit-schema contract."""

import os

import pytest

from graphraft_spark.sources.jsonl import read_jsonl, write_jsonl

SF = "/root/testdata/sf0.001"
# the documents-table contract (TESTDATA.md); timestamps stay strings
# at the JSONL boundary — parse downstream with an explicit format
DOCUMENTS_DDL = ("doc_id BIGINT, text STRING, lang STRING, "
                 "source STRING, n_chars BIGINT")


def test_roundtrip_documents(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path, compression=None)
    back = read_jsonl(spark, path, DOCUMENTS_DDL)
    want = {tuple(r) for r in docs.collect()}
    got = {tuple(r) for r in back.select(*docs.columns).collect()}
    assert got == want


def test_corrupt_lines_quarantined(spark, tmp_path):
    """The default read drops a malformed line; ``keep_corrupt`` keeps
    it with its raw text in ``_corrupt_record``."""
    path = str(tmp_path / "mixed")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as fh:
        fh.write('{"doc_id": 1, "text": "ok", "lang": "en", '
                 '"source": "s", "n_chars": 2}\n')
        fh.write("this is not json at all\n")
        fh.write('{"doc_id": 2, "text": "also ok", "lang": "en", '
                 '"source": "s", "n_chars": 7}\n')
    good = read_jsonl(spark, path, DOCUMENTS_DDL)
    assert {r.doc_id for r in good.collect()} == {1, 2}
    rows = read_jsonl(spark, path, DOCUMENTS_DDL, keep_corrupt=True) \
        .select("doc_id", "_corrupt_record").collect()
    assert [r._corrupt_record for r in rows
            if r._corrupt_record is not None] == ["this is not json at all"]


def test_strict_mode_raises(spark, tmp_path):
    path = str(tmp_path / "badstrict")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as fh:
        fh.write("not json\n")
    with pytest.raises(Exception):
        read_jsonl(spark, path, DOCUMENTS_DDL, strict=True).collect()


def test_partitioned_write(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    path = str(tmp_path / "by_lang")
    write_jsonl(docs, path, compression=None, partition_by=("lang",))
    langs = {d.split("=", 1)[1] for d in os.listdir(path)
             if d.startswith("lang=")}
    assert langs == {r.lang for r in docs.select("lang").distinct()
                     .collect()}
    back = read_jsonl(
        spark, path,
        "doc_id BIGINT, text STRING, source STRING, n_chars BIGINT")
    assert back.count() == 50
