"""LLM-surface operators (SURVEY §2.F) as driver-contract queries.

Model seams run their deterministic implementations (hash-scorer trie
beam, echo generator) — pipelines stay checkable without a GPU; the
mapInPandas plumbing exercised here is byte-identical to what GPU
implementations ride on.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from graphraft_spark.llm import (
    EchoGenerator,
    TrieConstrainedRanker,
    format_node_data,
    generate_answers_batch,
    llm1_prompt,
    rank_queries_batch,
)
from graphraft_spark.graph import GRAPH_ORACLE_CTE
from graphraft_spark.registry import register
from graphraft_spark.sources.pq_cache import load_pq

# qa-shaped frame: question per customer, candidates = order-key queries.
# Candidates are TWO whitespace tokens ('q <okey>') so the trie ranker's
# shared-prefix/beam path is exercised at token depth 2.
_QA_SQL = """
qa AS (
    SELECT CAST(o_custkey AS BIGINT) AS id,
           'which parts did customer ' || CAST(o_custkey AS VARCHAR)
               || ' order?' AS question,
           list('q ' || CAST(o_orderkey AS VARCHAR) ORDER BY o_orderkey)
               AS cypher_queries,
           list(o_orderkey % 5 ORDER BY o_orderkey) AS hits,
           list(o_orderkey % 11 + 1 ORDER BY o_orderkey) AS num_results
    FROM orders WHERE o_custkey < 40 GROUP BY o_custkey
)"""


def _qa(spark, sf_dir):
    o = load_pq(spark, f"{sf_dir}/orders.parquet").filter(
        F.col("o_custkey") < 40)
    arr = lambda c: F.transform(  # noqa: E731
        F.array_sort(F.collect_list(F.struct(F.col("o_orderkey").alias("k"),
                                             c.alias("v")))),
        lambda x: x["v"])
    return (
        o.groupBy(F.col("o_custkey").cast("bigint").alias("id"))
        .agg(
            F.first(F.concat(F.lit("which parts did customer "),
                             F.col("o_custkey").cast("string"),
                             F.lit(" order?"))).alias("question"),
            arr(F.concat(F.lit("q "), F.col("o_orderkey").cast("string")))
            .alias("cypher_queries"),
            arr(F.col("o_orderkey") % 5).alias("hits"),
            arr(F.col("o_orderkey") % 11 + 1).alias("num_results"),
        )
    )


@register(
    "f_llm1_prompt", extra=True,
    oracle=f"""
WITH {_QA_SQL.strip()}
SELECT id,
       '<start_of_turn>user' || chr(10) || question || '<end_of_turn>'
           || '<start_of_turn>assistant' || chr(10) AS prompt,
       '<start_of_turn>user' || chr(10) || question || '<end_of_turn>'
           || '<start_of_turn>assistant' || chr(10)
           || cypher_queries[1] || '<eos>' AS train_prompt
FROM qa
""")
def f_llm1_prompt(spark, sf_dir):
    """F5: LLM1 prompt formatting, inference + training variants
    (llm1.py:69-80) — pure concat expressions."""
    qa = _qa(spark, sf_dir)
    return qa.select(
        "id",
        llm1_prompt(F.col("question")).alias("prompt"),
        llm1_prompt(F.col("question"),
                    F.element_at("cypher_queries", 1)).alias("train_prompt"),
    )


@register(
    "f_node_formatter", extra=True,
    oracle="""
WITH data AS (
    SELECT CAST(o_custkey AS BIGINT) AS id,
           list({'name': 'order-' || CAST(o_orderkey AS VARCHAR),
                 'detail': CASE WHEN o_orderkey % 3 = 0 THEN NULL
                           ELSE 'price ' || CAST(CAST(floor(o_totalprice)
                                                      AS BIGINT)
                                                 AS VARCHAR) END}
                ORDER BY o_orderkey) AS nodes
    FROM orders WHERE o_custkey < 40 GROUP BY o_custkey
)
SELECT id,
       array_to_string(list_transform(nodes,
           n -> CASE WHEN n.detail IS NULL THEN 'name: ' || n.name
                ELSE 'name: ' || n.name || chr(10) || 'detail: ' || n.detail
                END),
           chr(10) || chr(10)) AS info
FROM data
""")
def f_node_formatter(spark, sf_dir):
    """F6: node-data formatter — '{prop}: {value}' lines (nulls skipped),
    nodes joined by blank lines (llm2.py:67-71, retriever.py:39-40)."""
    o = load_pq(spark, f"{sf_dir}/orders.parquet").filter(
        F.col("o_custkey") < 40)
    nodes = F.transform(
        F.array_sort(F.collect_list(F.struct(
            F.col("o_orderkey").alias("k"),
            F.concat(F.lit("order-"), F.col("o_orderkey").cast("string"))
            .alias("name"),
            F.when(F.col("o_orderkey") % 3 != 0,
                   F.concat(F.lit("price "),
                            F.floor("o_totalprice").cast("bigint")
                            .cast("string"))).alias("detail")))),
        lambda x: F.struct(x["name"].alias("name"),
                           x["detail"].alias("detail")))
    data = (o.groupBy(F.col("o_custkey").cast("bigint").alias("id"))
            .agg(nodes.alias("nodes")))
    return data.select(
        "id", format_node_data(F.col("nodes"), ["name", "detail"])
        .alias("info"))


@register(
    "f_add_more_answers", extra=True,
    oracle="""
WITH data AS (
    SELECT CAST(o_custkey AS BIGint) AS id,
           list('n' || CAST(o_orderkey % 7 AS VARCHAR) ORDER BY o_orderkey)
               AS names
    FROM orders WHERE o_custkey < 40 GROUP BY o_custkey
),
with_preds AS (SELECT id, names, names[1:2] AS predicted FROM data)
SELECT id,
       array_to_string(list_transform(
           list_filter(range(1, len(list_concat(predicted, names)) + 1),
               i -> list_position(list_concat(predicted, names),
                                  list_concat(predicted, names)[i]) = i),
           i -> list_concat(predicted, names)[i]), '|') AS answers
FROM with_preds
""")
def f_add_more_answers(spark, sf_dir):
    """F7 add_more_answers (llm2.py:159-161): extend predictions with
    remaining retrieved names, preserving order, skipping duplicates —
    order-preserving distinct of predicted ++ names."""
    o = load_pq(spark, f"{sf_dir}/orders.parquet").filter(
        F.col("o_custkey") < 40)
    names = F.transform(
        F.array_sort(F.collect_list(F.struct(
            F.col("o_orderkey").alias("k"),
            F.concat(F.lit("n"), (F.col("o_orderkey") % 7).cast("string"))
            .alias("v")))),
        lambda x: x["v"])
    data = (o.groupBy(F.col("o_custkey").cast("bigint").alias("id"))
            .agg(names.alias("names")))
    return data.select(
        "id",
        F.concat_ws("|", F.array_distinct(
            F.concat(F.slice("names", 1, 2), F.col("names"))))
        .alias("answers"))


@register(
    "f_sft_llm1",
    oracle=f"""
WITH {_QA_SQL.strip()},
sorted_qa AS (
    SELECT id, question,
           list_sort(list_transform(
               range(1, len(cypher_queries) + 1),
               i -> {{'k1': -hits[i], 'k2': num_results[i], 'k3': i,
                     'q': cypher_queries[i]}})) AS s
    FROM qa
),
gated AS (
    SELECT id, question, s[1].q AS best
    FROM sorted_qa
    WHERE len(s) > 0 AND s[1].k2 > 0 AND (id % 4 + 1) > 0
          AND CAST(-s[1].k1 AS DOUBLE) / s[1].k2 >= 0.1
          AND CAST(-s[1].k1 AS DOUBLE) / (id % 4 + 1) >= 1.0
)
SELECT id, question,
       '<start_of_turn>user' || chr(10) || question || '<end_of_turn>'
           || '<start_of_turn>assistant' || chr(10) AS prompt,
       best || '<eos>' AS completion,
       '<start_of_turn>user' || chr(10) || question || '<end_of_turn>'
           || '<start_of_turn>assistant' || chr(10) || best || '<eos>'
           AS text
FROM gated
""")
def f_sft_llm1(spark, sf_dir):
    """F8 (engine-side export) + E5/E6: the LLM1 SFT training table —
    quality-gated best-query selection, byte-exact prompt/completion/
    text strings the external trainer consumes (llm1.py:90-115;
    n_answers stand-in = id%4+1)."""
    from graphraft_spark.llm.sft import llm1_sft_table

    qa = _qa(spark, sf_dir)
    out = llm1_sft_table(qa, (F.col("id") % 4 + 1))
    return out.select("id", "question", "prompt", "completion", "text")


# The default token scorer is md5-based (protocols.py _default_logprob):
# lp(question, prefix, tok) = -int(md5(q \x00 prefix \x00 tok)[:8],16)/(2^32-1).
# With beam ≥ #candidates the trie beam search is exhaustive and the
# final ranking equals ordering by total sequence log-prob — which an
# external SQL engine can replicate term-by-term (DuckDB md5 + chr(0)).
_TRIE_SCORE = (
    "-(('0x' || substr(md5(question || chr(0) || chr(0) || 'q'), 1, 8))"
    "::BIGINT) / 4294967295.0"
    " + "
    "-(('0x' || substr(md5(question || chr(0) || 'q' || chr(0) || "
    "substr(cand, 3)), 1, 8))::BIGINT) / 4294967295.0"
)


@register(
    "f_rank_trie",
    oracle=f"""
WITH {_QA_SQL.strip()},
cands AS (
    SELECT id, question, unnest(cypher_queries) AS cand FROM qa
),
scored AS (
    SELECT id, cand, {_TRIE_SCORE} AS total FROM cands
)
SELECT id,
       string_agg(cand, '|' ORDER BY total DESC, cand)
           AS top_cypher_queries
FROM scored GROUP BY id
""")
def f_rank_trie(spark, sf_dir):
    """F4: trie-constrained beam ranking via mapInPandas with the
    deterministic md5 token scorer (sequence_ranker.py:15-34 analog) —
    output is always a verbatim subset of the candidates (the
    trie-constraint invariant, logits_processor.py:12-36).  Beam k is
    set ≥ the candidate count, making the beam exhaustive, so the DuckDB
    oracle replicates the ranking as an order-by over summed per-token
    md5 log-probs; pruned-beam behavior is pytest-covered."""
    qa = _qa(spark, sf_dir).select("id", "question", "cypher_queries")
    ranked = rank_queries_batch(qa, TrieConstrainedRanker(), k=100)
    return ranked.select(
        "id", F.concat_ws("|", "top_cypher_queries")
        .alias("top_cypher_queries"))


@register(
    "f_generate_answers",
    oracle="""
WITH data AS (
    SELECT CAST(o_custkey AS BIGINT) AS id,
           list('n' || CAST(o_orderkey % 7 AS VARCHAR)
                ORDER BY o_orderkey) AS names
    FROM orders WHERE o_custkey < 40 GROUP BY o_custkey
)
SELECT id,
       array_to_string(
           list_concat(names[1:3],
               list_filter(names, n -> NOT list_contains(names[1:3], n))),
           '|') AS predicted_answers
FROM data
""")
def f_generate_answers(spark, sf_dir):
    """F7: batch answer generation through the mapInPandas seam with the
    deterministic echo generator, add_more_answers mode (llm2.py:150-164
    + 159-161): answers = first-3 retrieved names verbatim, extended
    with every remaining name not among them (duplicate node names are
    deliberately present so extension semantics are pinned exactly)."""
    o = load_pq(spark, f"{sf_dir}/orders.parquet").filter(
        F.col("o_custkey") < 40)
    nodes = F.transform(
        F.array_sort(F.collect_list(F.struct(
            F.col("o_orderkey").alias("k"),
            F.concat(F.lit("n"), (F.col("o_orderkey") % 7).cast("string"))
            .alias("name")))),
        lambda x: F.struct(x["name"].alias("name")))
    data = (o.groupBy(F.col("o_custkey").cast("bigint").alias("id"))
            .agg(F.lit("q?").alias("question"), nodes.alias("data")))
    out = generate_answers_batch(data, EchoGenerator(n_answers=3),
                                 add_more_answers=True)
    return out.select(
        "id", F.concat_ws("|", "predicted_answers")
        .alias("predicted_answers"))


# Cypher-text rendering of instantiated 1hop/2hop signatures (the exact
# ir.py PatternSpec.cypher() format) — the ranker seam input, rebuilt in
# SQL so the lexicographic ranking stage is oracle-expressible.
_TXT1 = ("'MATCH (x1:' || l1 || ' {name: \"' || nm1 || '\"})-[r1:' || t1 "
         "|| ']-(x2:' || l2 || ') RETURN DISTINCT x2.name AS name'")
_TXT2 = ("'MATCH (x1:' || l1 || ' {name: \"' || nm1 || '\"})-[r1:' || t1 "
         "|| ']-(x2:' || l2 || ')-[r2:' || t2 || ']-(x3:' || l3 "
         "|| ') RETURN DISTINCT x3.name AS name'")
_P_PSIM = "((nodeId % 100000) * 7919 % 104729)"


P_FULL_ORACLE = GRAPH_ORACLE_CTE + f"""
, p_anchors(qid, name) AS (
    SELECT CAST(qid AS BIGINT) AS qid, name
    FROM (VALUES (1, 'small ring'),
          (2, 'Customer#000000042')) t(qid, name)
),
pb1 AS (
    SELECT a.qid, n1.label AS l1, n1.name AS nm1, e.relType AS t1,
           n2.label AS l2, n2.nodeId AS tgt_id, n2.name AS tgt_name,
           n2.detail AS tgt_detail
    FROM nodes n1 JOIN p_anchors a ON n1.name = a.name
    JOIN undirected_edges e ON e.src = n1.nodeId
    JOIN nodes n2 ON n2.nodeId = e.dst
),
pb2 AS (
    SELECT a.qid, n1.label AS l1, n1.name AS nm1, e1.relType AS t1,
           n2.label AS l2, e2.relType AS t2, n3.label AS l3,
           n3.nodeId AS tgt_id, n3.name AS tgt_name, n3.detail AS tgt_detail
    FROM nodes n1 JOIN p_anchors a ON n1.name = a.name
    JOIN undirected_edges e1 ON e1.src = n1.nodeId
    JOIN nodes n2 ON n2.nodeId = e1.dst
    JOIN undirected_edges e2 ON e2.src = n2.nodeId
    JOIN nodes n3 ON n3.nodeId = e2.dst
    WHERE e1.edgeId <> e2.edgeId AND n3.nodeId <> n1.nodeId
),
texts AS (
    SELECT DISTINCT qid, '1hop' AS pat, l1, nm1, t1, l2,
           CAST(NULL AS VARCHAR) AS t2, CAST(NULL AS VARCHAR) AS l3,
           {_TXT1} AS txt
    FROM pb1
    UNION ALL
    SELECT DISTINCT qid, '2hop', l1, nm1, t1, l2, t2, l3, {_TXT2}
    FROM pb2
),
topk AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY txt) - 1
                   AS queryIdx
        FROM texts
    ) WHERE queryIdx < 3
),
p_results AS (
    SELECT DISTINCT t.qid, t.queryIdx, b.tgt_id AS nodeId,
           b.tgt_name AS name, b.tgt_detail AS detail
    FROM topk t JOIN pb1 b ON t.pat = '1hop' AND b.qid = t.qid
         AND b.l1 = t.l1 AND b.nm1 = t.nm1 AND b.t1 = t.t1 AND b.l2 = t.l2
    UNION ALL
    SELECT DISTINCT t.qid, t.queryIdx, b.tgt_id, b.tgt_name, b.tgt_detail
    FROM topk t JOIN pb2 b ON t.pat = '2hop' AND b.qid = t.qid
         AND b.l1 = t.l1 AND b.nm1 = t.nm1 AND b.t1 = t.t1 AND b.l2 = t.l2
         AND b.t2 = t.t2 AND b.l3 = t.l3
),
p_ranked AS (
    SELECT *, {_P_PSIM} / 104729.0 AS similarity,
           ROW_NUMBER() OVER (PARTITION BY qid, queryIdx
                              ORDER BY {_P_PSIM} DESC, nodeId) AS rank
    FROM p_results
),
p_first AS (
    SELECT qid, nodeId, MIN(queryIdx * 1000000 + rank) AS fkey,
           MIN(similarity) AS similarity, MIN(name) AS name,
           MIN(detail) AS detail
    FROM p_ranked GROUP BY qid, nodeId
),
p_ordered AS (
    SELECT qid, nodeId, similarity, name, detail,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY fkey) AS seen_order
    FROM p_first
)
SELECT qid, nodeId, name, detail, ROUND(similarity, 6) AS similarity
FROM p_ordered WHERE seen_order < 15
"""


@register("p_full_pipeline", oracle=P_FULL_ORACLE)
def p_full_pipeline(spark, sf_dir):
    """End-to-end GraphRAFT.run() analog (graphraft.py:41-66) on the
    TPC-H graph: entity match → batch enumerate (ONE job for all
    questions) → rank → execute the top-k specs as data (one join tree
    per template) → budgeted retrieval with node props.  The registered variant uses the
    lexicographic ranker so the ranking stage is SQL-expressible end to
    end; the trie-beam ranker rides the identical seam (f_rank_trie +
    pytest cover it)."""
    from graphraft_spark.graph import tpch_graph
    from graphraft_spark.llm import LexicographicRanker
    from graphraft_spark.pipeline import run_pipeline

    g = tpch_graph(spark, sf_dir)
    out = run_pipeline(
        spark, g,
        questions=[
            (1, "who supplies small ring?", ["small ring"]),
            (2, "what did customer 42 buy?", ["Customer#000000042"]),
        ],
        ranker=LexicographicRanker(),
        max_nodes=15, k=3, patterns=("1hop", "2hop"),
        prop_cols=("detail",))
    return out.select("qid", "nodeId", "name", "detail",
                      F.round("similarity", 6).alias("similarity"))


_CANDS_SQL = """
c AS (
    SELECT doc_id % 50 AS prompt_id, text AS candidate,
           CAST(length(text) % 97 AS DOUBLE) AS reward
    FROM documents
)
"""


@register(
    "f_best_of_n", extra=True,  # demoted r13 (eighth wave)
    oracle=f"""
WITH {_CANDS_SQL.strip()}
SELECT prompt_id, candidate, reward, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY prompt_id
                                 ORDER BY reward DESC, candidate) AS rn
    FROM c WHERE reward >= 5.0
)
WHERE rn <= 3
""")
def f_best_of_n(spark, sf_dir):
    """Rejection sampling / best-of-n (ops/preference.py best_of_n):
    documents grouped into 50 synthetic prompts, reward = a
    deterministic length-derived score, floor 5.0 applied BEFORE
    ranking, top-3 per prompt with deterministic ties — one window per
    prompt group, partition size = candidates per prompt."""
    from graphraft_spark.ops.preference import best_of_n

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    c = d.select((F.col("doc_id") % 50).alias("prompt_id"),
                 F.col("text").alias("candidate"),
                 (F.length("text") % 97).cast("double").alias("reward"))
    return best_of_n(c, k=3, min_reward=5.0)


@register(
    "f_dpo_pairs", extra=True,  # demoted r11 (driver-green r8-r10)
    oracle=f"""
WITH {_CANDS_SQL.strip()},
r AS (
    SELECT *, row_number() OVER (PARTITION BY prompt_id
                                 ORDER BY reward DESC, candidate) AS rk,
           COUNT(*) OVER (PARTITION BY prompt_id) AS n
    FROM c
),
t AS (SELECT prompt_id, candidate AS chosen, reward AS reward_chosen
      FROM r WHERE rk = 1),
b AS (SELECT prompt_id, candidate AS rejected,
             reward AS reward_rejected
      FROM r WHERE rk = n AND n > 1)
SELECT t.prompt_id, t.chosen, b.rejected,
       t.reward_chosen, b.reward_rejected,
       t.reward_chosen - b.reward_rejected AS margin
FROM t JOIN b USING (prompt_id)
WHERE t.reward_chosen - b.reward_rejected >= 1.0
""")
def f_dpo_pairs(spark, sf_dir):
    """DPO preference pairs (ops/preference.py dpo_pairs): per prompt,
    chosen = best candidate, rejected = worst, near-tie prompts
    (margin < 1.0) dropped — the reward-model/DPO training format,
    built in one ranked window pass + a prompt-keyed join (no
    candidate self-join)."""
    from graphraft_spark.ops.preference import dpo_pairs

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    c = d.select((F.col("doc_id") % 50).alias("prompt_id"),
                 F.col("text").alias("candidate"),
                 (F.length("text") % 97).cast("double").alias("reward"))
    return dpo_pairs(c, min_margin=1.0)
