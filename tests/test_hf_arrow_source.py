"""Executor-parallel hfarrow data source: shard-per-partition reads,
column pruning, filter pushdown semantics, and parity with both the
driver-side reader and the real reference artifacts."""

import os

import pyarrow as pa
import pytest

from graphraft_spark.sources import read_hf_split_distributed

MAG_VALID = "/root/reference/mag-data/qa_with_cypher_queries/valid"


def _write_split(tmp_path, n_files=3, rows_per_batch=40, batches=2):
    """An HF save_to_disk-style split dir: data-N-of-M.arrow IPC
    streams, multiple batches per file."""
    schema = pa.schema([("id", pa.int64()), ("text", pa.string()),
                        ("score", pa.float64())])
    next_id = 0
    for i in range(n_files):
        f = os.path.join(str(tmp_path),
                         f"data-{i:05d}-of-{n_files:05d}.arrow")
        with pa.OSFile(f, "wb") as sink:
            with pa.ipc.new_stream(sink, schema) as w:
                for _ in range(batches):
                    ids = list(range(next_id, next_id + rows_per_batch))
                    next_id += rows_per_batch
                    w.write_batch(pa.record_batch(
                        [pa.array(ids),
                         pa.array([f"doc {j}" for j in ids]),
                         pa.array([j / 10.0 for j in ids])],
                        schema=schema))
    return str(tmp_path), next_id


def test_reads_all_rows_one_partition_per_shard(spark, tmp_path):
    d, total = _write_split(tmp_path)
    df = read_hf_split_distributed(spark, d)
    assert df.count() == total
    assert df.rdd.getNumPartitions() == 3          # shard-parallel
    got = sorted(r["id"] for r in df.collect())
    assert got == list(range(total))


def test_column_pruning_and_values(spark, tmp_path):
    d, total = _write_split(tmp_path)
    df = read_hf_split_distributed(spark, d).select("text")
    rows = df.collect()
    assert len(rows) == total
    assert rows[0].asDict().keys() == {"text"}


def test_filter_pushdown_matches_postfilter(spark, tmp_path):
    d, total = _write_split(tmp_path)
    df = read_hf_split_distributed(spark, d)
    pushed = df.filter("id >= 100 AND score < 20.0").collect()
    want = [i for i in range(total) if i >= 100 and i / 10.0 < 20.0]
    assert sorted(r["id"] for r in pushed) == want


def test_unsupported_filters_still_exact(spark, tmp_path):
    d, total = _write_split(tmp_path)
    df = read_hf_split_distributed(spark, d)
    # IN + LIKE go back to Spark; result must still be exact.
    got = df.filter("id IN (1, 5, 7) OR text LIKE '% 9'").collect()
    assert sorted(r["id"] for r in got) == [1, 5, 7, 9]


@pytest.mark.skipif(not os.path.isdir(MAG_VALID),
                    reason="reference artifacts absent")
def test_parity_with_driver_side_reader_on_reference_data(spark):
    from graphraft_spark.data.hf_arrow import read_hf_split

    dist = read_hf_split_distributed(spark, MAG_VALID)
    drv = read_hf_split(spark, MAG_VALID)
    assert dist.count() == drv.count()
    key = "qid" if "qid" in dist.columns else dist.columns[0]
    a = {r[key] for r in dist.select(key).collect()}
    b = {r[key] for r in drv.select(key).collect()}
    assert a == b


# --- writer ---------------------------------------------------------------

def test_write_roundtrip_and_layout(spark, tmp_path):
    import json

    from pyspark.sql import functions as F
    from graphraft_spark.data.hf_arrow import read_hf_split
    from graphraft_spark.sources import write_hf_split_distributed

    df = (spark.range(500)
          .select(F.col("id"),
                  F.concat(F.lit("doc "), F.col("id")).alias("text"),
                  F.array(F.col("id"), F.col("id") * 2).alias("ids"))
          .repartition(4))
    out = str(tmp_path / "split")
    write_hf_split_distributed(df, out)

    import os
    files = sorted(f for f in os.listdir(out) if f.endswith(".arrow"))
    # HF naming: data-IIIII-of-NNNNN, consecutive, count matches
    assert files == [f"data-{i:05d}-of-{len(files):05d}.arrow"
                     for i in range(len(files))]
    state = json.load(open(os.path.join(out, "state.json")))
    assert [d["filename"] for d in state["_data_files"]] == files
    info = json.load(open(os.path.join(out, "dataset_info.json")))
    assert info["features"]["ids"] == {
        "feature": {"dtype": "int64", "_type": "Value"},
        "_type": "Sequence"}

    back = read_hf_split(spark, out)        # driver-side reader
    assert back.count() == 500
    got = {(r["id"], r["text"], tuple(r["ids"])) for r in back.collect()}
    want = {(r["id"], r["text"], tuple(r["ids"])) for r in df.collect()}
    assert got == want


def test_write_read_through_source_and_overwrite(spark, tmp_path):
    from graphraft_spark.sources import (
        read_hf_split_distributed,
        write_hf_split_distributed,
    )

    out = str(tmp_path / "split")
    write_hf_split_distributed(
        spark.range(100).withColumnRenamed("id", "v"), out)
    write_hf_split_distributed(
        spark.range(30).withColumnRenamed("id", "v"), out)  # overwrite
    back = read_hf_split_distributed(spark, out)
    assert back.count() == 30
    assert sorted(r["v"] for r in back.collect()) == list(range(30))


def test_write_append_mode_rejected(spark, tmp_path):
    """Non-overwrite saves would silently drop or clobber existing
    shards (the rename + state.json bookkeeping only counts the new
    commit's files) — the source must refuse them up front."""
    from graphraft_spark.sources import write_hf_split_distributed

    out = str(tmp_path / "split")
    write_hf_split_distributed(spark.range(10), out)
    with pytest.raises(Exception, match="overwrite"):
        write_hf_split_distributed(spark.range(5), out, mode="append")
    # original split intact and readable
    assert read_hf_split_distributed(spark, out).count() == 10


def test_write_skips_empty_partitions(spark, tmp_path):
    import os

    from graphraft_spark.sources import write_hf_split_distributed

    df = spark.range(3).repartition(8)      # most partitions empty
    out = str(tmp_path / "sparse")
    write_hf_split_distributed(df, out)
    files = [f for f in os.listdir(out) if f.endswith(".arrow")]
    assert 1 <= len(files) <= 3


def test_write_dataset_dict_roundtrip(spark, tmp_path):
    import json
    import os

    from graphraft_spark.data.hf_arrow import read_hf_dataset
    from graphraft_spark.sources import write_hf_dataset_distributed

    train = spark.range(40).withColumnRenamed("id", "v")
    valid = spark.range(10).withColumnRenamed("id", "v")
    out = str(tmp_path / "dd")
    write_hf_dataset_distributed({"train": train, "valid": valid}, out)

    dd = json.load(open(os.path.join(out, "dataset_dict.json")))
    assert dd == {"splits": ["train", "valid"]}
    back = read_hf_dataset(spark, out)
    assert set(back) == {"train", "valid"}
    assert back["train"].count() == 40 and back["valid"].count() == 10


GOLDEN = "/root/reference/mag-data/qa/valid"


@pytest.mark.skipif(not os.path.isdir(GOLDEN), reason=f"{GOLDEN} absent")
def test_golden_layout_parity_with_reference_save_to_disk(spark, tmp_path):
    """Pin the writer's byte layout against a REAL `datasets`
    save_to_disk artifact (VERDICT r5 item 2; the `datasets` library is
    not in the environment, so the golden directory stands in for a
    load_from_disk acceptance run — reference consumers llm1.py:119,
    llm2.py:135).

    Round-trips the golden mag-data/qa/valid split through the
    distributed reader+writer and asserts, against the golden bytes:

      * identical file inventory (one shard + state.json +
        dataset_info.json),
      * state.json: identical key set and identical values for every
        key except _fingerprint (HF fingerprints hash the transform
        lineage — unreproducible by construction, and load_from_disk
        only requires presence),
      * dataset_info.json features == golden features verbatim,
      * the shard's 'huggingface' schema metadata BYTE-equal to the
        golden shard's (datasets embeds its features spec there),
      * arrow types equal and row content equal, row-for-row.

    Known benign delta: Spark's arrow conversion names list children
    'element' where datasets names them 'item' — pyarrow type equality
    (asserted) ignores child field names, and datasets casts tables to
    its features schema on load.
    """
    import json

    import pyarrow as pa

    from graphraft_spark.sources import write_hf_split_distributed
    from graphraft_spark.sources.hf_arrow_source import (
        read_hf_split_distributed)

    out = str(tmp_path / "valid")
    df = read_hf_split_distributed(spark, GOLDEN)
    write_hf_split_distributed(df.coalesce(1), out)

    assert sorted(os.listdir(out)) == sorted(
        e for e in os.listdir(GOLDEN) if not e.startswith("."))

    gstate = json.load(open(os.path.join(GOLDEN, "state.json")))
    state = json.load(open(os.path.join(out, "state.json")))
    assert state.keys() == gstate.keys()
    for k in gstate:
        if k != "_fingerprint":
            assert state[k] == gstate[k], k

    ginfo = json.load(open(os.path.join(GOLDEN, "dataset_info.json")))
    info = json.load(open(os.path.join(out, "dataset_info.json")))
    assert info["features"] == ginfo["features"]

    def shard(d):
        with pa.memory_map(
                os.path.join(d, "data-00000-of-00001.arrow")) as src:
            return pa.ipc.open_stream(src).read_all()

    ours, golden = shard(out), shard(GOLDEN)
    assert ours.schema.metadata == golden.schema.metadata
    assert ours.schema.names == golden.schema.names
    assert ours.schema.types == golden.schema.types
    assert ours.num_rows == golden.num_rows

    key = lambda t: sorted(
        (r["id"], tuple(r["answer_ids"]), r["question"])
        for r in t.to_pylist())
    assert key(ours) == key(golden)
