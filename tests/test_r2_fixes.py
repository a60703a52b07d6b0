"""Round-2 fix coverage: first-seen prop semantics under per-row-varying
props, k-means IVF centroid recall vs the modulo baseline, and
token-granularity trie ranking with a multi-char-merge toy tokenizer."""

from pyspark.sql import functions as F


def test_budget_first_seen_prop_varies_within_group(spark):
    """A prop that VARIES across a node's rows must come from the
    first-seen row (retriever.py:82-86), not an arbitrary one — the
    F.first regression the min-struct fold fixes."""
    from graphraft_spark.retrieve import budgeted_accumulate

    rows = [
        # qid, queryIdx, nodeId, similarity, pattern, tag
        (0, 0, 100, 0.9, "pA", "from-q0"),
        (0, 1, 100, 0.9, "pB", "from-q1"),   # same node, later stream
        (0, 0, 101, 0.5, "pA", "low"),
        (0, 1, 101, 0.5, "pB", "also-low"),
    ]
    df = spark.createDataFrame(
        rows, "qid bigint, queryIdx int, nodeId bigint, similarity double,"
              " pattern string, tag string")
    out = {r["nodeId"]: r["tag"]
           for r in budgeted_accumulate(df, budget=10,
                                        prop_cols=("tag",)).collect()}
    assert out == {100: "from-q0", 101: "low"}


def test_kmeans_ivf_beats_modulo_centroids(spark):
    """Deterministic Lloyd centroids must beat the every-Nth stand-in at
    equal nprobe (the reference's vector index sets an ANN-recall bar,
    stark_neo4j_loading.py:75-80)."""
    from graphraft_spark.ops.similarity import (
        brute_force_topk, ivf_assign, ivf_centroids, ivf_centroids_kmeans,
        ivf_search)

    vectors = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = (vectors.filter(F.col("vec_id") % 37 == 1).limit(12)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("q_emb")))
    exact = {(r["qid"], r["vec_id"])
             for r in brute_force_topk(vectors, queries, k=10).collect()}

    def recall(cents):
        assigned = ivf_assign(vectors, cents)
        got = ivf_search(assigned, cents, queries, k=10, nprobe=2)
        hit = {(r["qid"], r["vec_id"]) for r in got.collect()}
        return len(hit & exact) / len(exact)

    r_mod = recall(ivf_centroids(vectors, every=50))
    r_km = recall(ivf_centroids_kmeans(vectors, k=10, iters=5))
    assert r_km > r_mod, (r_km, r_mod)


def test_llm2_sft_table_exact_strings(spark):
    """The LLM2 SFT table must emit byte-exact prompt/completion/text
    with the completion-only collator split (llm2.py:17-26,80-122)."""
    from graphraft_spark.llm.sft import llm2_sft_table

    qa = spark.createDataFrame(
        [(1, "who?", [("Ada", "x"), ("Bob", None)], ["Ada", "Bob"])],
        "qid bigint, question string,"
        " data array<struct<name string, detail string>>,"
        " answers array<string>")
    r = llm2_sft_table(qa, props=["name", "detail"]).collect()[0]
    info = "name: Ada\ndetail: x\n\nname: Bob"
    prompt = ("<|start_header_id|>user<|end_header_id|>\n"
              "Given the information below, return the correct nodes for "
              "the following question: who?\nRetrieved information:\n"
              + info + "\n<|start_header_id|>model<|end_header_id|>\n")
    assert r["prompt"] == prompt
    assert r["completion"] == "Ada|Bob<eos>"
    assert r["text"] == prompt + "Ada|Bob<eos>"


def _bpe_ish(text):
    """Toy multi-char-merge tokenizer: greedy 3-char chunks per word —
    'q 1234' -> ('q', '123', '4').  Token boundaries differ from
    whitespace, so scoring granularity changes while the constraint
    invariant must not."""
    toks = []
    for w in text.split():
        toks.extend(w[i:i + 3] for i in range(0, len(w), 3))
    return tuple(toks)


def test_trie_ranker_token_granularity_invariants():
    from graphraft_spark.llm.protocols import TrieConstrainedRanker

    cands = ["q 1234", "q 1299", "q 56", "zz top", "q 129"]
    ws = TrieConstrainedRanker()
    bpe = TrieConstrainedRanker(tokenizer=_bpe_ish)
    for ranker in (ws, bpe):
        for k in (1, 3, len(cands), 10):
            out = ranker.rank("which?", cands, k=k)
            assert len(out) == min(k, len(cands))
            assert len(set(out)) == len(out)
            assert all(c in cands for c in out)       # trie constraint
            # deterministic
            assert out == ranker.rank("which?", cands, k=k)
    # granularity changes the scoring space: with shared 3-char prefixes
    # ('129' is a full token of 'q 129' and a prefix token of 'q 1299'
    # only under the merge tokenizer) rankings may legitimately differ,
    # but both must rank the full candidate set when k covers it
    assert sorted(ws.rank("which?", cands, k=10)) == sorted(cands)
    assert sorted(bpe.rank("which?", cands, k=10)) == sorted(cands)


def test_trie_ranker_prefix_candidate_under_merge_tokenizer():
    """A candidate whose merged-token sequence is a strict prefix of
    another's must still be emittable (forced EOS at candidate end,
    logits_processor.py:25-31)."""
    from graphraft_spark.llm.protocols import TrieConstrainedRanker

    cands = ["q 129", "q 1299"]   # ('q','129') is a prefix of ('q','129','9')
    out = TrieConstrainedRanker(tokenizer=_bpe_ish).rank("?", cands, k=2)
    assert sorted(out) == sorted(cands)
