"""One-command tour of the engine: graph QA pipeline, corpus dedup,
vector search, and event analytics over the bundled sf0.001 testdata.

    python tools/demo.py [sf_dir]

Each section prints a few result rows; total runtime ~1 minute on
local[*].  Everything shown here is oracle- or parity-checked elsewhere
(CATALOG.md maps each surface to its gate) — this script exists so a
new user sees the engine DO something before reading anything else.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def section(title: str) -> None:
    print(f"\n=== {title} " + "=" * max(0, 60 - len(title)))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import functions as F

    from graphraft_spark.session import get_spark

    spark = get_spark("graphraft-demo")
    spark.sparkContext.setLogLevel("ERROR")

    section("1. Graph QA: entities -> patterns -> budgeted retrieval")
    from graphraft_spark.graph import tpch_graph
    from graphraft_spark.llm import LexicographicRanker
    from graphraft_spark.pipeline import run_pipeline

    g = tpch_graph(spark, sf_dir)
    out = run_pipeline(
        spark, g,
        questions=[(1, "who supplies small ring?", ["small ring"]),
                   (2, "what did customer 42 buy?",
                    ["Customer#000000042"])],
        ranker=LexicographicRanker(),
        max_nodes=8, k=3, patterns=("1hop", "2hop"))
    out.select("qid", "nodeId", "name").show(8, truncate=False)

    section("2. Corpus dedup: exact-substring spans (Lee et al.)")
    from graphraft_spark.ops.dedup import duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    duplicate_spans(docs, k=8).orderBy(F.desc("n_windows")).show(5)

    section("3. Vector search: brute-force exact vs MMR-diversified")
    from graphraft_spark.ops.similarity import brute_force_topk, mmr_rerank

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = (emb.filter(F.col("vec_id") % 100 == 1).limit(2)
          .select(F.col("vec_id").alias("qid"),
                  F.col("embedding").alias("q_emb")))
    first = brute_force_topk(emb, qs, k=10)
    cands = first.join(emb.select("vec_id", "embedding"), "vec_id")
    mmr_rerank(cands, k=3, lam=0.7).orderBy("qid", "mmr_rank").show(6)

    section("4. Event analytics: view->click->purchase funnel")
    from graphraft_spark.ops.funnel import funnel_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    funnel_counts(ev, ["view", "click", "purchase"],
                  within_seconds=7 * 86400).orderBy("step").show()

    section("5. Retrieval metrics")
    from graphraft_spark.metrics.ir_metrics import compute_metrics

    preds = spark.createDataFrame(
        [(1, [10, 20, 30], [10, 99]), (2, [5], [5])],
        "qid bigint, preds array<bigint>, labels array<bigint>")
    compute_metrics(preds, ["precision", "recall", "f1", "hit@2"]).show()

    section("6. Hybrid search: BM25 index probe + vector KNN, RRF-fused")
    from graphraft_spark.search.bm25 import bm25_topk
    from graphraft_spark.search.hybrid import rrf_fuse, with_rank
    from graphraft_spark.search.vector import dot_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lex = with_rank(bm25_topk(docs, ["spark", "merge", "window"], k=10),
                    [F.desc("bm25"), F.asc("doc_id")], "doc_id")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 7).select(
        F.col("embedding").alias("q"))
    knn = (emb.crossJoin(F.broadcast(qv))
           .withColumn("sim", dot_col(F.col("embedding"), F.col("q")))
           .orderBy(F.desc("sim"), F.asc("vec_id")).limit(10)
           .select(F.col("vec_id").alias("doc_id"), "sim"))
    vec = with_rank(knn, [F.desc("sim"), F.asc("doc_id")], "doc_id")
    rrf_fuse([lex, vec], topk=5).show()

    section("7. Corpus curation: LM-scored quality band + DSIR weights")
    from graphraft_spark.ops.word_lm import (stupid_backoff_score,
                                             train_bigram_lm)

    bi, uni = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    stupid_backoff_score(docs, bi, uni) \
        .orderBy(F.desc("lp_mean")).limit(5).show()

    section("8. Graph training data: 2-hop sample + random-walk pairs")
    from graphraft_spark.graph.sampling import (khop_sample, random_walks,
                                                skipgram_pairs)

    seeds = spark.createDataFrame(
        [(4_000_000_000 + i,) for i in range(3)], "nodeId bigint")
    khop_sample(g.edges, seeds, fanouts=(2, 2)).show(8)
    walks = random_walks(g.edges, spark.createDataFrame(
        [(i, 4_000_000_000 + i) for i in range(4)],
        "walk_id bigint, node bigint"), length=3)
    skipgram_pairs(walks).orderBy(F.desc("cnt")).show(5)

    print("\ndemo complete — see CATALOG.md for the full query catalog,"
          "\nMIGRATION.md for the reference-user mapping.")


if __name__ == "__main__":
    main()
