"""Tests for the training-data pipeline operators (dedup, similarity,
text analysis, multimodal) and streaming parity."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_exact_dedup_finds_constructed_dups(spark):
    from graphraft_spark.ops.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        "doc_id bigint, text string")
    out = exact_dedup(docs).collect()
    canon = {r["doc_id"]: r["is_canonical"] for r in out}
    assert canon == {1: True, 2: False, 3: True}
    keys = {r["doc_id"]: r["content_key"] for r in out}
    assert keys[1] == keys[2] != keys[3]  # normalization collapses case/ws


def test_minhash_lsh_recalls_near_dups(spark):
    from graphraft_spark.ops.dedup import minhash_lsh_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "completely different words "
                                             "nothing shared at all here")],
        "doc_id bigint, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_dedup(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_lsh_bucket_cap_star_links_preserve_components(spark):
    """max_bucket_size: a dup group bigger than the cap must still come
    out fully connected through its star edges (root = min id), even
    though the quadratic all-pairs inside the bucket is skipped."""
    from graphraft_spark.ops.dedup import (_h60, candidates_from_hashes,
                                           minhash_lsh_dedup, shingles)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(i, f"{base} v{i}") for i in range(12)]
        + [(99, "unrelated words entirely disjoint from the group")],
        "doc_id bigint, text string")
    # the md5 shingle hashes minhash_lsh_dedup bands on
    hashed = docs.select(
        F.col("doc_id").alias("id"),
        F.transform(shingles(F.col("text"), 3), _h60).alias("hs"))
    cand = {(r["id_a"], r["id_b"]) for r in candidates_from_hashes(
        hashed, num_perm=12, bands=4, max_bucket_size=5).collect()}
    # star edges from the group root reach every sibling
    assert {(0, i) for i in range(1, 12)} <= cand
    # capped: nowhere near the 66 all-pairs of an uncapped 12-bucket
    assert not any(99 in p for p in cand)
    verified = {(r["id_a"], r["id_b"]) for r in minhash_lsh_dedup(
        docs, num_perm=12, bands=4, threshold=0.5,
        max_bucket_size=5).collect()}
    assert {(0, i) for i in range(1, 12)} <= verified


def test_simhash_identical_for_copies(spark):
    from graphraft_spark.ops.dedup import hamming, simhash

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha  BETA gamma delta"),
         (3, "epsilon zeta eta theta iota kappa")],
        "doc_id bigint, text string")
    fp = {r["doc_id"]: r["f"] for r in
          docs.select("doc_id", simhash(F.col("text")).alias("f")).collect()}
    assert fp[1] == fp[2]
    d = spark.range(1).select(
        hamming(F.lit(fp[1]), F.lit(fp[3])).alias("h")).collect()[0]["h"]
    assert d > 0


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=2 must recover most of the exact top-5."""
    from graphraft_spark.ops.similarity import (
        brute_force_topk, ivf_assign, ivf_centroids, ivf_search)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") % 100 == 1)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("q_emb")))
    exact = brute_force_topk(emb, queries, k=5).collect()
    cents = ivf_centroids(emb, every=50)
    approx = ivf_search(ivf_assign(emb, cents), cents, queries, k=5,
                        nprobe=4).collect()
    ex = {(r["qid"], r["vec_id"]) for r in exact}
    ap = {(r["qid"], r["vec_id"]) for r in approx}
    assert len(ex & ap) / len(ex) >= 0.4  # nprobe=4/10 clusters


def test_srp_lsh_recall_and_self_hit(spark):
    """SRP-LSH: every query must find itself (identical vector ⇒ same
    bucket) and recover a reasonable share of the exact top-5."""
    from graphraft_spark.ops.similarity import brute_force_topk, srp_lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") % 100 == 1)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("q_emb")))
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = srp_lsh_topk(emb, queries, k=5, dim=64, bits=8).collect()
    ap = {(r["qid"], r["vec_id"]) for r in approx}
    assert all((r["qid"], r["qid"]) in ap or r["qid"] != r["vec_id"]
               for r in exact)
    for qid in {r["qid"] for r in exact}:
        assert (qid, qid) in ap  # self-collision is certain
    ex = {(r["qid"], r["vec_id"]) for r in exact}
    # deterministic 0.28 on this data: near-uniform synthetic vectors
    # are the angular-LSH worst case (true neighbors aren't angularly
    # close), and only 9 of 256 buckets are probed
    assert len(ex & ap) / len(ex) >= 0.25


def test_stream_equals_batch(spark, tmp_path):
    """Structured Streaming tumbling agg == batch plan on same data."""
    import shutil

    from graphraft_spark.streaming import (
        read_events_stream, run_stream_to_memory, tumbling_counts)
    from graphraft_spark.streaming.events import load_events

    stage = tmp_path / "events"
    stage.mkdir()
    shutil.copy(f"{SF}/events.parquet", stage / "events.parquet")

    stream = read_events_stream(spark, str(stage), max_files_per_trigger=1)
    got = run_stream_to_memory(
        tumbling_counts(stream, "1 hour"), "test_stream_sink").collect()
    want = tumbling_counts(load_events(spark, SF), "1 hour").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(want) > 0


def test_stream_multibatch_state_equals_batch(spark, tmp_path):
    """FOUR time-ranged input files streamed one per trigger: windowed
    aggregation state must carry across micro-batches and the final
    answer must equal the batch plan — plus the incremental graph delta
    log must land MULTIPLE epochs and still merge to the batch
    derivation."""
    import os

    from graphraft_spark.streaming import (
        read_events_stream, run_stream_to_memory, tumbling_counts)
    from graphraft_spark.streaming.events import load_events
    from graphraft_spark.streaming.graph_updates import (
        event_graph_deltas, merged_graph, stream_graph_updates)

    # split the raw events into 4 time-ordered files (raw schema — the
    # stream reader does its own event-time conversion)
    raw = spark.read.parquet(f"{SF}/events.parquet")
    stage = str(tmp_path / "ev4")
    raw.repartitionByRange(4, "ts").write.parquet(stage)

    stream = read_events_stream(spark, stage, max_files_per_trigger=1)
    got = run_stream_to_memory(
        tumbling_counts(stream, "1 hour"), "test_multibatch_sink").collect()
    want = tumbling_counts(load_events(spark, SF), "1 hour").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    out = str(tmp_path / "deltas4")
    stream2 = read_events_stream(spark, stage, max_files_per_trigger=1)
    stream_graph_updates(stream2, out)
    epochs = {d for d in os.listdir(f"{out}/edges_delta")
              if d.startswith("epoch=")}
    assert len(epochs) >= 2, epochs

    g = merged_graph(spark, out)
    _, want_edges = event_graph_deltas(load_events(spark, SF))
    key = lambda df: sorted(map(tuple, df.select(  # noqa: E731
        "src", "dst", "relType", "n_events").collect()))
    assert key(g.edges) == key(want_edges)


def test_incremental_graph_update_stream_equals_batch(spark, tmp_path):
    """Streamed delta-log graph == batch-derived graph; epoch replay is
    idempotent (overwrite-per-epoch, no double counting)."""
    import shutil

    from graphraft_spark.streaming import read_events_stream
    from graphraft_spark.streaming.events import load_events
    from graphraft_spark.streaming.graph_updates import (
        apply_delta_batch, event_graph_deltas, merged_graph,
        stream_graph_updates)

    stage = tmp_path / "events"
    stage.mkdir()
    shutil.copy(f"{SF}/events.parquet", stage / "events.parquet")
    out = str(tmp_path / "deltas")

    stream = read_events_stream(spark, str(stage), max_files_per_trigger=1)
    stream_graph_updates(stream, out)
    g = merged_graph(spark, out)

    events = load_events(spark, SF)
    want_nodes, want_edges = event_graph_deltas(events)
    key = lambda df: sorted(map(tuple, df.select(
        "src", "dst", "relType", "n_events").collect()))
    assert key(g.edges) == key(want_edges)
    assert sorted(r["nodeId"] for r in g.nodes.collect()) == \
        sorted(r["nodeId"] for r in want_nodes.collect())
    assert g.edges.count() > 0

    # a NEW epoch adds its multiplicity once; REPLAYING that epoch
    # (at-least-once source retry) overwrites in place — still once
    apply_delta_batch(events, 99, out)
    apply_delta_batch(events, 99, out)
    g2 = merged_graph(spark, out)
    base_n = {(r["src"], r["dst"], r["relType"]): r["n_events"]
              for r in want_edges.collect()}
    got_n = {(r["src"], r["dst"], r["relType"]): r["n_events"]
             for r in g2.edges.collect()}
    assert got_n == {k: 2 * v for k, v in base_n.items()}


def test_multimodal_feature_extraction_deterministic(spark):
    from graphraft_spark.ops.multimodal import (
        deterministic_fake_decode, extract_features,
        synth_media_from_documents)

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    media = synth_media_from_documents(docs)
    out = extract_features(media).collect()
    assert len(out) == 20
    by_id = {r["media_id"]: r for r in out}
    one = docs.filter(F.col("doc_id") == out[0]["media_id"]).collect()[0]
    want = deterministic_fake_decode(one["text"].encode())
    got = by_id[one["doc_id"]]["feature"]
    assert [round(x, 6) for x in got] == [round(x, 6) for x in want]
    assert by_id[one["doc_id"]]["n_bytes"] == len(one["text"].encode())


def test_langid_and_quality_ranges(spark):
    from graphraft_spark.ops.text_analysis import (
        predicted_lang, quality_score)

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    out = docs.select(
        predicted_lang(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("q")).collect()
    assert all(r["lang"] in {"en", "de", "es", "fr"} for r in out)
    assert all(0.0 <= r["q"] <= 1.0 for r in out)


def test_fulltext_match_and_entity_fallback(spark, tiny_graph):
    """match_entities: normalized fulltext hits (the two Ada authors
    collapse to one name), then the vector top-1 only for the entities
    with no hit, within their label and with ties broken by name."""
    from graphraft_spark.search.text import match_entities

    # unit-norm name embeddings: MIT along x, every other node along y
    emb = F.when(F.col("nodeId") == 20, F.array(F.lit(1.0), F.lit(0.0))) \
        .otherwise(F.array(F.lit(0.0), F.lit(1.0)))
    g2 = type(tiny_graph)(nodes=tiny_graph.nodes.withColumn(
        "nameEmbedding", emb), edges=tiny_graph.edges)
    vecs = {"zzz-no-such": [0.8, 0.6],     # MIT scores 0.8, the rest 0.6
            "no-such-paper": [0.0, 1.0]}   # the four papers tie at 1.0
    seen = []

    def encoder(s):
        seen.append(s)
        return vecs[s]

    names = match_entities(
        spark, g2, [("Author", "  ADA "), ("_Entity_", "zzz-no-such"),
                    ("Paper", "no-such-paper")],
        encoder=encoder)
    assert names == ["Ada", "MIT", "P-alpha"]
    assert seen == ["zzz-no-such", "no-such-paper"]


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions == batch
    sessions minus each user's trailing open session."""
    import shutil

    from graphraft_spark.streaming import read_events_stream, run_stream_to_memory
    from graphraft_spark.streaming.stateful import (
        sessionize_batch, sessionize_stream)
    from graphraft_spark.streaming.events import load_events

    stage = tmp_path / "ev"
    stage.mkdir()
    shutil.copy(f"{SF}/events.parquet", stage / "events.parquet")
    stream = read_events_stream(spark, str(stage), max_files_per_trigger=1)
    got = run_stream_to_memory(
        sessionize_stream(stream, gap_s=3600), "test_sess_sink",
        output_mode="append")
    batch = sessionize_batch(load_events(spark, SF), gap_s=3600)

    g = {(r["user_id"], r["session_start"], r["n_events"])
         for r in got.collect()}
    b_rows = batch.collect()
    # drop each user's last session (open at stream shutdown)
    last = {}
    for r in b_rows:
        k = r["user_id"]
        if k not in last or r["session_start"] > last[k]:
            last[k] = r["session_start"]
    b = {(r["user_id"], r["session_start"], r["n_events"])
         for r in b_rows if r["session_start"] != last[r["user_id"]]}
    assert g == b and len(g) > 0


def test_asof_join_semantics(spark):
    """Backward: latest right at-or-before left ts (inclusive), null
    before first snapshot; forward: earliest right at-or-after."""
    from graphraft_spark.ops.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 1, 5.0), (2, 1, 10.0), (3, 1, 20.0), (4, 2, 10.0)],
        "event_id bigint, user_id bigint, t double")
    right = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 15.0, "b"), (2, 30.0, "z")],
        "user_id bigint, t double, state string")
    back = {r["event_id"]: r["state"] for r in asof_join(
        left, right, on="t", by=("user_id",)).collect()}
    #  t=5: before any snap → null; t=10: inclusive tie → 'a';
    #  t=20: latest ≤ 20 → 'b'; user 2 t=10: snap at 30 is later → null
    assert back == {1: None, 2: "a", 3: "b", 4: None}
    fwd = {r["event_id"]: r["state"] for r in asof_join(
        left, right, on="t", by=("user_id",),
        direction="forward").collect()}
    assert fwd == {1: "a", 2: "a", 3: None, 4: "z"}


def test_interval_join_matches_naive_range_join(spark):
    """Bucketed-grid interval join == Spark's native (nested-loop)
    range join, including intervals spanning bucket boundaries."""
    from graphraft_spark.ops.temporal import interval_join_bucketed

    ev = spark.createDataFrame(
        [(i, f"2024-01-01 00:{m:02d}:30") for i, m in
         enumerate([0, 4, 9, 10, 29, 59])],
        "event_id bigint, s string").select(
        "event_id", F.to_timestamp("s").alias("ts"))
    iv = spark.createDataFrame(
        [(100, "2024-01-01 00:00:00", "2024-01-01 00:09:30"),
         (200, "2024-01-01 00:09:00", "2024-01-01 00:30:00")],
        "iid bigint, a string, b string").select(
        "iid", F.to_timestamp("a").alias("start_ts"),
        F.to_timestamp("b").alias("end_ts"))
    got = sorted((r["iid"], r["event_id"]) for r in interval_join_bucketed(
        ev, iv, on="ts", start="start_ts", end="end_ts",
        bucket_seconds=300).collect())
    want = sorted((r["iid"], r["event_id"]) for r in ev.join(
        iv, (F.col("ts") >= F.col("start_ts"))
        & (F.col("ts") <= F.col("end_ts"))).collect())
    assert got == want and len(got) > 0


def test_connected_components_cluster_star_capped_group(spark):
    """Star-linked candidate edges (bucket cap) must yield ONE component
    per dup group; singleton-free output covers only paired docs."""
    from graphraft_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3),        # star group rooted at 0
         (10, 11), (11, 12),            # chain group
         (20, 21)],
        "id_a bigint, id_b bigint")
    out = {r["id"]: (r["comp"], r["cluster_size"])
           for r in connected_components(pairs).collect()}
    assert out == {0: (0, 4), 1: (0, 4), 2: (0, 4), 3: (0, 4),
                   10: (10, 3), 11: (10, 3), 12: (10, 3),
                   20: (20, 2), 21: (20, 2)}


def test_stream_neardup_equals_batch_lsh(spark, tmp_path):
    """Incremental LSH dedup: documents streamed in TWO micro-batches
    (originals first, near-copies second) must produce exactly the
    pairs the one-shot batch pipeline finds on the full corpus —
    including the cross-batch pairs that only exist because the index
    carries state between epochs."""
    from graphraft_spark.ops.dedup import minhash_lsh_dedup
    from graphraft_spark.streaming.dedup_stream import (
        neardup_flags, stream_neardup_flags)

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text").filter(F.col("doc_id") % 5 == 0)
    near = (docs.filter(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + 10000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" zq")).alias("text")))

    stage = tmp_path / "docs_stream"
    stage.mkdir()
    docs.coalesce(1).write.parquet(str(stage / "b0"))
    near.coalesce(1).write.parquet(str(stage / "b1"))
    import glob
    import shutil
    for i, f in enumerate(sorted(glob.glob(str(stage / "b*" / "part-*")))):
        shutil.copy(f, stage / f"{i:02d}.parquet")
    shutil.rmtree(stage / "b0")
    shutil.rmtree(stage / "b1")

    index_dir = str(tmp_path / "dedup_index")
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(stage)))
    stream_neardup_flags(stream, index_dir, threshold=0.5)

    import os
    epochs = {d for d in os.listdir(f"{index_dir}/flags")
              if d.startswith("epoch=")}
    assert len(epochs) >= 2, epochs  # state really crossed micro-batches

    got = {(r.id_a, r.id_b) for r in
           neardup_flags(spark, index_dir).collect()}
    want = {(r.id_a, r.id_b) for r in minhash_lsh_dedup(
        docs.unionByName(near), num_perm=8, bands=4, k=3,
        threshold=0.5).collect()}
    assert got == want and len(want) > 0
    # at least one pair spans the two micro-batches
    assert any(a < 10000 <= b for a, b in got)


def test_embedding_neardup_unbucketed_gate(spark):
    """bucket_col=None is the small-data escape hatch only: above the
    row gate the all-pairs cartesian path must raise (r7 verdict —
    the silent O(n²) footgun), and the error must point at the scale
    alternatives."""
    from graphraft_spark.ops import dedup as D

    big = spark.range(D.UNBUCKETED_NEARDUP_MAX_ROWS + 1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"))
    with pytest.raises(ValueError, match="bucket_col|srp"):
        D.embedding_neardup(big)
    # bucketed path is NOT gated — same frame with a bucket plans fine
    D.embedding_neardup(big.withColumn("bk", F.col("vec_id") % 64),
                        bucket_col="bk").explain()


def test_pack_bins_scalable_matches_global_window(spark):
    """The distributed two-pass prefix-sum packing must reproduce the
    single-window pack_bins exactly, for any partition count."""
    from graphraft_spark.ops.text_analysis import pack_bins, pack_bins_scalable

    rows = [(i, (i * 37) % 100 + 1) for i in range(1, 501)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")
    want = {(r.doc_id, r.bin_id) for r in
            pack_bins(df, budget=500, size_col="n_tokens").collect()}
    for n in (1, 4, 32):
        got = {(r.doc_id, r.bin_id) for r in pack_bins_scalable(
            df, budget=500, size_col="n_tokens", partitions=n).collect()}
        assert got == want, f"partitions={n}"
    # no global exchange-into-single-partition in the scalable plan
    p = pack_bins_scalable(df, budget=500, size_col="n_tokens",
                           partitions=8)
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_dedup_index_epoch_replay_idempotent(spark, tmp_path):
    """Replaying a micro-batch (at-least-once delivery) must leave the
    dedup index and flag set byte-identical — epoch partitions
    overwrite themselves."""
    from graphraft_spark.streaming.dedup_stream import (
        neardup_flags, process_dedup_batch)

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text").filter(F.col("doc_id") % 5 == 0)
    near = (docs.filter(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + 10000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" zq")).alias("text")))
    index_dir = str(tmp_path / "idx")

    process_dedup_batch(docs, 0, index_dir, threshold=0.5)
    process_dedup_batch(near, 1, index_dir, threshold=0.5)
    flags1 = {(r.id_a, r.id_b, r.jaccard)
              for r in neardup_flags(spark, index_dir).collect()}
    n_hashes = spark.read.parquet(f"{index_dir}/hashes").count()

    # replay BOTH epochs out of order
    process_dedup_batch(near, 1, index_dir, threshold=0.5)
    process_dedup_batch(docs, 0, index_dir, threshold=0.5)
    flags2 = {(r.id_a, r.id_b, r.jaccard)
              for r in neardup_flags(spark, index_dir).collect()}
    assert flags1 == flags2 and len(flags1) > 0
    assert spark.read.parquet(f"{index_dir}/hashes").count() == n_hashes


def test_temperature_mix_deterministic_and_rate_accurate(spark):
    from pyspark.sql import functions as F

    from graphraft_spark.ops.text_analysis import temperature_mix

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string"))
        .alias("source"))
    rates = {"s0": 0.5, "s1": 0.5, "s2": 0.1, "s3": 1.0}
    out = temperature_mix(df, rates)
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # each source keeps ~rate·1000 rows (hash-thinning, binomial
    # tolerance); rate 1 keeps every row
    assert 400 < got["s0"] < 600 and 400 < got["s1"] < 600, got
    assert 50 < got["s2"] < 150, got
    assert got["s3"] == 1000, got
    # deterministic: identical on re-run and under repartitioning
    again = temperature_mix(df.repartition(13), rates)
    assert sorted(r["doc_id"] for r in out.collect()) \
        == sorted(r["doc_id"] for r in again.collect())
    # unknown sources drop
    extra = df.withColumn("source", F.lit("unknown"))
    assert temperature_mix(extra, rates).count() == 0


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR semantics: documents sharing the target corpus's n-grams
    must out-weigh documents with disjoint vocabulary (the selection
    signal the importance resampling sorts by)."""
    from graphraft_spark.ops.text_analysis import dsir_weights

    target = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog")
         for i in range(5)],
        "doc_id bigint, text string")
    raw = spark.createDataFrame(
        [(1, "quick brown fox jumps high"),
         (2, "zxq wvu tsr qpo nml kji")],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r["dsir_weight"]
           for r in dsir_weights(raw, target).collect()}
    assert out[1] > out[2]


def test_stream_memory_sink_dropped_after_run(spark, tmp_path):
    """run_stream_to_memory materializes the result and DROPS the sink
    temp view (ADVICE r9: a long-lived session running the catalog
    repeatedly must not accumulate unbounded in-memory sink tables) —
    and the returned frame stays usable after the drop."""
    import shutil as _sh

    from graphraft_spark.streaming import (
        read_events_stream, run_stream_to_memory, tumbling_counts)

    stage = tmp_path / "events_sink_drop"
    stage.mkdir()
    _sh.copy(f"{SF}/events.parquet", stage / "events.parquet")

    before = {t.name for t in spark.catalog.listTables()}
    stream = read_events_stream(spark, str(stage), max_files_per_trigger=1)
    got = run_stream_to_memory(tumbling_counts(stream, "1 hour"),
                               "test_sink_drop")
    after = {t.name for t in spark.catalog.listTables()}
    assert not {t for t in after - before if t.startswith("test_sink_drop")}
    assert got.count() > 0  # usable post-drop (materialized)
