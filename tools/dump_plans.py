"""Regenerate PLANS.md: formatted physical plans for the flagship
queries with the properties each plan must keep (the same invariants
tests/test_plans.py asserts).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FLAGSHIPS = [
    ("d_video_neardup",
     "Clip near-dup: one documents scan exploding per-doc variant "
     "structs; encode/decode/thumbnail inside two chained mapInPandas "
     "seams; pure-JVM 128-bit hashing; banded equi-join self-join "
     "(8x16-bit buckets) - never all-pairs; exact Hamming verify."),
    ("g_twohop_enum",
     "Anchors broadcast; two expansion joins over the pre-reversed "
     "undirected parquet; edge-uniqueness filters; bindings deduped to "
     "(signature prefix, target) before the terminal node's label is "
     "joined on, then a plain count per signature."),
    ("g_pattern_exec_2hop",
     "Instantiated pattern: anchor name filter PUSHED into the "
     "label-partitioned node parquet scan; broadcast joins only."),
    ("r_retrieve_data",
     "Budgeted retrieval: one exchange on qid, reused by every window "
     "and by the (qid, nodeId) grouping (per-question state never "
     "leaves its partition); no driver loop."),
    ("d_minhash_lsh",
     "LSH dedup: band explode → shuffle by (band,bucket) → bounded "
     "self-join; never all-pairs."),
    ("ann_bruteforce_topk",
     "Exact ANN: scores computed in scan pipeline; per-query top-k "
     "via window (TakeOrderedAndProject in the 1-query case)."),
    ("q_pricing_summary",
     "Classic agg: filter pushed to parquet (PushedFilters), column "
     "pruning (ReadSchema), whole-stage codegen end to end."),
    ("g_supervised_enum",
     "Supervised enumeration: single-DISTINCT aggregate (no Expand — "
     "two countDistinct aggregates would double every binding row "
     "before the shuffle; r5 rewrite measured 2.2x)."),
    ("p_full_pipeline",
     "Pipeline: the enumeration carries each signature's first "
     "max_nodes targets, so the ranked queries are never re-executed; "
     "the result is a local relation over the collected budget."),
    ("q_top_supplier",
     "Q15 shape (promoted r10): the revenue aggregate is lazily "
     "localCheckpoint'd so the max branch and the filter branch share "
     "ONE lineitem scan (both sides read Scan ExistingRDD below; the "
     "naive two-branch plan duplicated the whole pushed-down "
     "scan+aggregate); the max is a 1-row broadcast; revenue stays "
     "decimal-exact."),
    ("q_cube_status_priority",
     "CUBE grouping sets (promoted r10): one scan feeding Expand (4 "
     "grouping-set replicas) into a single partial+final aggregate — "
     "no per-grouping re-scan; filter pushed to the parquet scan."),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from graphraft_spark import registry
    from graphraft_spark.session import get_spark

    registry.load_all()
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — flagship physical plans (regenerate: "
        "`python tools/dump_plans.py`)",
        "",
        f"Captured at `{sf_dir}`.  tests/test_plans.py asserts the "
        "load-bearing properties stay true; this file is the "
        "human-readable audit.",
        "",
    ]
    for name, note in FLAGSHIPS:
        q = registry.QUERIES.get(name) or registry.EXTRA_QUERIES[name]
        buf = io.StringIO()
        with redirect_stdout(buf):
            q(spark, sf_dir).explain("formatted")
        full = buf.getvalue()
        # keep the operator tree + the scan details (pushdown evidence);
        # drop the per-node attribute dumps that dominate the output
        tree = full.split("\n\n", 1)[0].rstrip()
        scans = [ln.rstrip() for ln in full.splitlines()
                 if "PushedFilters" in ln or "ReadSchema" in ln
                 or ln.startswith("(") and "Scan parquet" in ln]
        plan = tree + "\n\n" + "\n".join(scans)
        out += [f"## {name}", "", note, "", "```", plan, "```", ""]

    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
