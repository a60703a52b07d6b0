"""Registry-wide physical-plan linter: sweeps every registered query
(both tiers) and reports scale anti-patterns, so a new query with a
cartesian product or an accidental Python hot path is caught the day
it lands, not in a future benchmark.

Checks per plan:

- ``CartesianProduct``                → ERROR (never acceptable)
- ``BroadcastNestedLoopJoin``         → ERROR unless the query is in
  the KNN/cross-score allowlist (tiny broadcast side scoring the
  corpus) or carries a 1-row crossing probe
- Python evaluation nodes             → ERROR unless the query is a
  documented Arrow seam (model calls, NFC, matmul kernels, media
  decode, per-group sequential algorithms)
- global ``Sort`` with no Limit above → WARN (fleet-scale smell; the
  distributed twin should rank within partitions or take top-k)
- global ``Window`` (no partitionBy)  → ERROR unless the query is in
  the bounded-input whitelist (each entry documents its bound)

Queries whose CALLABLE eagerly executes work (iterative algorithms,
incremental-maintenance state builders) are excluded by name — linting
them would run multi-second jobs, and their plan shape is pinned by
their own tests instead.

Usage: python tools/plan_lint.py [sf_dir] [name_prefix ...]
Exit 1 when any ERROR is found.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# tiny-broadcast-vs-corpus scoring / 1-row probes — BNLJ is the plan
BNLJ_OK = {
    "s_entity_match_fallback", "s_knn_topk", "s_knn_excluding",
    "s_cosine_pair", "ann_bruteforce_topk", "ann_ivf_search",
    "r_retrieve_data", "r_budget_accumulate", "r_token_budget_exact",
    "m_retrieval_eval", "e_embedding_join", "q_dormant_rich_customers",
    "d_ngram_jaccard",
    # centroid assignment / per-group KNN / MMR first stage /
    # per-qid candidate expansion: tiny broadcast side scores or
    # expands against the corpus — the cross-score plan shape
    "ann_ivf_assign", "ann_mmr_rerank", "s_knn_per_group",
    "e_cluster_balanced_sample",
    "d_semantic_dedup",
    # broadcast BENCHMARK side cross-scores the corpus (test sets are
    # small by nature; map-side partial MAX collapses the product)
    "d_semantic_decontaminate",
    # broadcast entity-segment side substring-scans the names (the
    # PassJoin pigeonhole candidate filter — same shape as KNN)
    "s_fuzzy_entity_match",
    # broadcast anchor set cross-scores the corpus (KNN shape with a
    # label anti-filter)
    "ann_hard_negatives",
    # trained type-embedding table cross-scores itself (vocab-sized
    # broadcast side — the exhaustive-cosine KNN shape)
    "g_embed_knn",
    # 1-row corpus-total frames crossed onto the bucket ratio table
    "t_dsir_weights",
    # 1-row quantile-threshold frame range-joined (v >= threshold) onto
    # the scoring scan — the exact-quantile gate's broadcast probe
    "t_quality_gate_scalable",
    # 1-row corpus-stats frames (N/avgdl/df; total/vocab) crossed onto
    # the scoring scan
    "s_bm25_topk", "s_bm25_indexed", "s_hybrid_rrf", "t_bigram_lm_score",
    # vocab × group-totals completion frame + 1-row scalar cross
    "t_source_kl",
    # 1-row (total, vocab) scalar crossed onto the LM scoring join
    "t_ppl_band",
    # 1-row max-timestamp anchor crossed onto the user aggregate
    "tm_user_rfm",
    "r_negative_samples",
    # 1-row L1-normalization totals crossed onto the score frame each
    # HITS round (lazy scalar aggregates — never a driver action)
    "g_hits_top",
    # 1-row corpus doc-count crossed onto the vocabulary-bounded df
    # aggregate (smooth-idf denominator)
    "t_tfidf_topterms",
}

# documented Arrow seams (SURVEY §3): model calls, NFC, kernels,
# media decode, per-group sequential algorithms
PYTHON_OK_PREFIXES = ("f_", "mm_", "p_", "st_sessionize", "ann_mmr")
PYTHON_OK = {
    "t_bpe_tokenize",
    "ann_bruteforce_scaled", "ann_ivf_kmeans_search",
    # PNG/WAV/AVI encode + decode/resample through the media codec
    # seam; the hash/banding/verify stages after it are pure JVM
    "d_image_neardup", "d_image_neardup_dhash", "d_audio_neardup",
    "d_video_neardup", "d_crossmodal_mismatch",
    "d_video_trimmed_dup",
}

# callables that EXECUTE work when invoked (iterative/stateful):
# linting would run their jobs; plan shape pinned by their own tests
EAGER = {
    "g_pagerank_top", "g_ppr_top", "g_kcore", "t_bpe_tokenize",
    "ann_ivf_kmeans_train", "ann_ivf_kmeans_search", "ann_pq_search",
    "d_components", "d_lsh_repair_components", "e_entity_resolution",
    "g_label_prop", "g_scc_event_types", "g_betweenness_top",
    "g_bfs_distances",
    "st_sig_maintenance", "st_funnel_maintenance", "st_graph_deltas",
    "st_graph_stream_update", "d_stream_neardup", "ann_recall_report",
    "d_image_dedup_groups", "d_stream_image_neardup",
    "d_stream_video_neardup",
    "d_image_neardup_capped", "d_video_neardup_capped",
    "ann_recall_clustered",
}

PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
            "MapInPandas", "FlatMapGroupsInPandasWithState")

# Global (no-partitionBy) Window nodes force the frame onto ONE task —
# acceptable ONLY when the input is bounded by construction.  Every
# entry documents its bound at the operator (r6 verdict item 4).
GLOBAL_WINDOW_OK = {
    # rankings fused by RRF are top-N frames (search/hybrid.py:22 —
    # with_rank's documented contract)
    "s_hybrid_rrf",
    # exact-quantile gate / exact-ntile: the global cum-window runs
    # over the VALUE HISTOGRAM, bounded by the value domain (6-dp score
    # <= 1,000,001 rows; gap_days ~2,500) at any corpus size
    # (ops/quantile.py module docstring)
    "t_quality_gate_scalable", "q_order_gaps_scalable",
    # percent_rank quantile gate: documented single-shard form; the
    # 100 TB paths (shard key / GK sketch broadcast) are in the
    # docstring (registry/textanalysis_queries.py t_quality_gate)
    "t_quality_gate",
    # pack_bins single-shard form (ops/text_analysis.py); the scalable
    # twin pack_bins_scalable avoids the global window entirely
    "t_pack_bins",
    # gap-quartile ntile: documented single-shard form over the gaps
    # frame; fleet-scale swap named in the docstring
    # (registry/tpch_queries2.py q_order_gaps)
    "q_order_gaps",
    # deterministic_shuffle: the total-order sort IS the product (a
    # shuffled training order); scale note in data/ops.py docstring
    "e_shuffle_det",
    # 30-day RANGE moving average over an orderkey<5000-bounded frame
    "q_moving_avg_30d",
    # HITS L1-normalization totals: the global window runs over the
    # per-node score frame ONLY on the broadcast-gated path
    # (graph/algos.py hits(): swap = _fits_broadcast(|V|)), so its
    # input is bounded by the session broadcast threshold by
    # construction; the unguarded-scale path keeps the checkpointed
    # broadcast-total shape with no global window
    "g_hits_top",
}


def lint_plan(name: str, plan: str) -> list[tuple[str, str]]:
    findings = []
    if "CartesianProduct" in plan:
        findings.append(("ERROR", "CartesianProduct"))
    if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
        findings.append(("ERROR", "BroadcastNestedLoopJoin outside the "
                                  "KNN/cross-score allowlist"))
    if (any(p in plan for p in PY_NODES)
            and name not in PYTHON_OK
            and not name.startswith(PYTHON_OK_PREFIXES)):
        node = next(p for p in PY_NODES if p in plan)
        findings.append(("ERROR", f"{node} outside the documented seams"))
    # global Window (no partitionBy): bracket-counting the node header
    # can't tell `[exprs], [ord]` (global) from `[exprs], [part]`
    # (partitioned, no ordering — e.g. a per-key MIN), so detect the
    # thing that actually hurts: the SinglePartition exchange a global
    # window forces directly beneath it.
    if name not in GLOBAL_WINDOW_OK:
        plines = plan.splitlines()
        for i, line in enumerate(plines):
            ls = line.strip().lstrip("+-: *").strip()
            if ls.startswith("Window ") and any(
                    "Exchange SinglePartition" in b
                    for b in plines[i + 1:i + 4]):
                findings.append(
                    ("ERROR", "global Window (no partitionBy) outside "
                              "the bounded-input whitelist"))
                break
    # global sort not feeding a limit: scan plan lines pairwise
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Sort " in line and "global=true" in line:
            above = "\n".join(lines[max(0, i - 6):i])
            if ("TakeOrderedAndProject" not in plan
                    and "Limit" not in above
                    and "Window" not in above):
                findings.append(("WARN", "global Sort with no Limit"))
            break
    return findings


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    prefixes = tuple(args[1:])

    from graphraft_spark import registry
    from graphraft_spark.session import get_spark

    registry.load_all()
    spark = get_spark("plan-lint", master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "4"})
    spark.sparkContext.setLogLevel("ERROR")

    lookup = dict(registry.EXTRA_QUERIES)
    lookup.update(registry.QUERIES)
    n_err = n_warn = n_skip = 0
    for name, fn in sorted(lookup.items()):
        if prefixes and not name.startswith(prefixes):
            continue
        if name in EAGER:
            n_skip += 1
            continue
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution() \
                .executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: plan build failed: "
                  f"{type(e).__name__}: {e}"[:300])
            n_err += 1
            continue
        for level, msg in lint_plan(name, plan):
            print(f"{level:5s} {name}: {msg}")
            if level == "ERROR":
                n_err += 1
            else:
                n_warn += 1
    print(f"\nplan-lint: {n_err} errors, {n_warn} warnings, "
          f"{n_skip} eager-skipped")
    sys.exit(1 if n_err else 0)


if __name__ == "__main__":
    main()
