"""100×-shape scale soak (r6 verdict item 5): replicate the sf0.1
corpus/graph with DISJOINT ids and run each flagship once per factor,
so BASELINE.md carries a measured scaling curve instead of a ×10
extrapolation.

Flagships and their scaling axis:

- g_twohop_enum      — graph ×N (node/edge ids offset per copy; anchor
                       names repeat in every copy, so matched work and
                       result size both scale ×N — the honest case)
- BM25 build + probe — documents ×N (build the persisted postings
                       index, then one 3-term probe; reported as
                       build/probe separately)
- d_minhash_lsh      — documents ×N via the persisted banding index
                       (build + probe-all-pairs, the bench-scale path)
- d_span_dedup k=50  — documents ×N, rolling-hash window keys
- p_full_pipeline    — questions ×N against the sf0.1 graph (the spec
                       fan-out axis; plan size must stay flat)

Inputs are MATERIALIZED to .scratch parquet first so generation cost
never rides the timed run; factors ascend so JVM/codegen warmup lands
on the cheapest line (factor 1 is still partially warmup-priced —
compare the 10 → 50 slope, not 1 → 10).

Usage: python tools/scale_soak.py [sf_dir] [task_prefix ...]
(task prefixes: bm25, minhash, span, g_twohop, p_full — run the
heavy families in separate processes so each gets a fresh JVM and its
own wall-clock budget)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

FACTORS = tuple(int(x) for x in os.environ.get(
    "SOAK_FACTORS", "1,10,50").split(","))
SCRATCH = f"{REPO}/.scratch/soak"


def _docs_times(spark, sf_dir, n, distinct_families=False):
    """×n corpus.  Default: per-copy SUFFIX — every copy is a near-dup
    of its siblings, so duplicate-GROUP SIZE grows with n (the density
    axis; within-bucket pair verification is quadratic in group size by
    construction).  ``distinct_families``: per-copy token suffix — every
    copy is textually disjoint from the others, so group structure
    stays base-sized and n scales only CORPUS SIZE (the axis a bigger
    crawl actually grows)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    idx = spark.range(n).select(F.col("id").alias("copy"))
    x = d.crossJoin(idx)
    if distinct_families:
        text = F.regexp_replace(
            "text", r"(\S+)",
            F.concat(F.lit("$1c"), F.col("copy").cast("string")))
    else:
        text = F.concat(F.col("text"), F.lit(" v"),
                        F.col("copy").cast("string"))
    return x.select(
        (F.col("doc_id") * 1000 + F.col("copy")).alias("doc_id"),
        text.alias("text"))


def _mat(df, path):
    df.write.mode("overwrite").parquet(path)
    return path


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    prefixes = tuple(sys.argv[2:])

    def want(task: str) -> bool:
        return not prefixes or task.startswith(prefixes)

    from graphraft_spark.graph import tpch_graph
    from graphraft_spark.graph.model import PropertyGraph
    from graphraft_spark.session import get_spark

    # SOAK_TMPFS=1: RAM-backed shuffle dirs (same conf bench.py uses) —
    # the control for separating shuffle-I/O environment terms from
    # plan terms (r9 verdict item 5: the hits ×50 knee was attributed
    # to disk-backed shuffle throughput; this knob tests that claim).
    extra = ({"spark.local.dir": "/dev/shm/spark-local-soak"}
             if os.environ.get("SOAK_TMPFS") == "1" else {})
    spark = get_spark("scale-soak", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    rows = []

    def timed(task, factor, fn):
        if not want(task):
            return
        t0 = time.time()
        fn()
        dt = round(time.time() - t0, 2)
        rows.append((task, factor, dt))
        print(f"{task} x{factor}: {dt}s", flush=True)

    # ---- documents ×N, materialized once per factor ----
    doc_paths = {}
    if want("bm25") or want("span_dedup_k50"):
        for n in FACTORS:
            doc_paths[n] = _mat(_docs_times(spark, sf_dir, n),
                                f"{SCRATCH}/docs_x{n}")

    # BM25 index build + probe
    from graphraft_spark.search.bm25 import (
        bm25_query_indexed,
        build_text_index,
    )
    for n in (FACTORS if want("bm25") else ()):
        docs = spark.read.parquet(doc_paths[n])
        idx_dir = f"{SCRATCH}/bm25_x{n}"
        timed("bm25_build", n,
              lambda: build_text_index(docs, idx_dir))
        timed("bm25_probe", n,
              lambda: _noop(bm25_query_indexed(
                  spark, idx_dir, ["data", "model", "training"], k=20)))

    # MinHash LSH via persisted banding index (build + pair probe).
    # Corpus-SIZE axis: distinct families per copy.  The suffix
    # (density) axis is measured separately and documented in
    # BASELINE.md — group size × n makes verification quadratic in n
    # by construction, which is a property of the corpus, not the plan.
    from graphraft_spark.ops.dedup import (
        build_lsh_index,
        hashed_shingles,
        minhash_lsh_dedup_hashed,
    )
    for n in (FACTORS if want("minhash") else ()):
        docs = _mat(_docs_times(spark, sf_dir, n, distinct_families=True),
                    f"{SCRATCH}/docs_fam_x{n}")
        docs = spark.read.parquet(docs)
        hs = docs.select(F.col("doc_id").alias("id"),
                         hashed_shingles(F.col("text"), 3).alias("hs"))

        def lsh_run(hs=hs):
            index = build_lsh_index(hs, num_perm=12, bands=4,
                                    max_bucket_size=100)
            _noop(minhash_lsh_dedup_hashed(
                hs, num_perm=12, bands=4, threshold=0.5,
                max_bucket_size=100, eager_cleanup=True, index=index))

        timed("minhash_lsh", n, lsh_run)

    # Dup-DENSE minhash (r7 verdict item 4): the suffix-replication
    # density axis — duplicate-group size grows with n, the case whose
    # uncapped ×50 run exceeded 10 min and was abandoned in r7.  The
    # adaptive cap (max_bucket_size="auto") derives the bucket cap from
    # the corpus's own bucket histogram and star-caps the sibling
    # groups; repair_capped keeps verified clusters exact (policy test:
    # tests/test_adaptive_cap.py, components == uncapped run).
    for n in (FACTORS if want("minhash_dense") else ()):
        docs = _mat(_docs_times(spark, sf_dir, n),
                    f"{SCRATCH}/docs_dense_x{n}")
        docs = spark.read.parquet(docs)
        hs_d = docs.select(F.col("doc_id").alias("id"),
                           hashed_shingles(F.col("text"), 3).alias("hs"))

        def dense_run(hs=hs_d):
            _noop(minhash_lsh_dedup_hashed(
                hs, num_perm=12, bands=4, threshold=0.5,
                max_bucket_size="auto", repair_capped=True,
                eager_cleanup=True))

        timed("minhash_dense_auto", n, dense_run)

    # Composed curation verdict (round 8): the two-scan fused recipe —
    # flags+dedup in one scan/shuffle, decontamination the second pass.
    # Corpus-size axis: ×N distinct doc families; benchmark side stays
    # the doc_id%7==3 slice of the SAME corpus, so the broadcast gram
    # set grows with N too (worst case for the decon stage).
    from graphraft_spark.ops.curation import curate_corpus
    from graphraft_spark.ops.dedup import words as _words_col
    for n in (FACTORS if want("curate_corpus") else ()):
        docs = _mat(_docs_times(spark, sf_dir, n, distinct_families=True),
                    f"{SCRATCH}/docs_cur_x{n}")
        docs = spark.read.parquet(docs)
        ws = _words_col(F.col("text"))
        bench = (docs.filter((F.col("doc_id") % 7 == 3)
                             & (F.size(ws) >= 11))
                 .select(F.concat_ws(" ", F.slice(ws, 4, 8))
                         .alias("text")))
        timed("curate_corpus", n,
              lambda d=docs, b=bench: _noop(curate_corpus(d, b, n=8)))
        # hashed grams shrink the direct broadcast ~7x (bigints, not
        # 50-char strings); the bloom path ships a fixed bitmap and
        # exact-verifies survivors — all three outputs identical
        timed("curate_hashed", n,
              lambda d=docs, b=bench: _noop(curate_corpus(
                  d, b, n=8, hashed=True)))
        timed("curate_bloom", n,
              lambda d=docs, b=bench: _noop(curate_corpus(
                  d, b, n=8, hashed=True, bloom=True,
                  bloom_bits=1 << 25)))

    # Exact-substring span dedup, rolling hash at Lee et al.'s k=50
    from graphraft_spark.ops.dedup import duplicate_spans
    for n in (FACTORS if want("span_dedup_k50") else ()):
        docs = spark.read.parquet(doc_paths[n])
        timed("span_dedup_k50", n,
              lambda: _noop(duplicate_spans(docs, "text", "doc_id",
                                            k=50, hash_fn="rolling")))

    # ---- graph ×N (disjoint id spaces per copy) ----
    base = tpch_graph(spark, sf_dir)
    from graphraft_spark.patterns.enumerate import enumerate_pattern
    from graphraft_spark.registry.graph_queries import ANCHORS

    def _graph_x(n):
        """Materialize (once) and load the ×n disjoint-id graph copy."""
        gdir = f"{SCRATCH}/graph_x{n}"
        if not os.path.exists(f"{gdir}/edges/_SUCCESS"):
            idx = spark.range(n).select(F.col("id").alias("copy"))
            off_n = (F.col("copy") * F.lit(100_000_000_000)).cast("bigint")
            off_e = (F.col("copy")
                     * F.lit(100_000_000_000_000)).cast("bigint")
            _mat(base.nodes.crossJoin(idx).select(
                (F.col("nodeId") + off_n).alias("nodeId"), "label", "name",
                "detail"), f"{gdir}/nodes")
            _mat(base.edges.crossJoin(idx).select(
                (F.col("edgeId") + off_e).alias("edgeId"),
                (F.col("src") + off_n).alias("src"),
                (F.col("dst") + off_n).alias("dst"), "relType"),
                f"{gdir}/edges")
        return PropertyGraph(
            nodes=spark.read.parquet(f"{gdir}/nodes"),
            edges=spark.read.parquet(f"{gdir}/edges"))

    for n in (FACTORS if want("g_twohop_enum") else ()):
        g = _graph_x(n)
        timed("g_twohop_enum", n,
              lambda g=g: _noop(enumerate_pattern(g, "2hop", ANCHORS)))

    # Multi-source BFS distances (r8 verdict item 5): graph ×N with the
    # per-copy anchor nodes as sources, so BOTH the graph and the source
    # set scale ×N (disjoint copies — total settled state is ×N, the
    # honest linear axis).  Rounds stay = eccentricity regardless of N
    # (all sources advance in the same level-synchronous join).
    from graphraft_spark.graph.algos import bfs_distances
    for n in (FACTORS if want("bfs") else ()):
        g = _graph_x(n)
        srcs = (g.nodes.filter(F.col("name").isin(ANCHORS))
                .select(F.col("nodeId").alias("s")))
        timed("bfs_distances", n,
              lambda g=g, s=srcs: _noop(bfs_distances(
                  g.nodes.select("nodeId"), g.edges.select("src", "dst"),
                  s)))
        # bloom settled-filter twin (r9 verdict item 4): same run with
        # the per-level settled exchange+sort replaced by a broadcast
        # bloom prefilter + map-side semi-join on the remainder —
        # the slope delta vs the exact line IS the anti-join term.
        # Bits sized by the 10x rule for the x50 settled pair count.
        timed("bfs_distances_bloom", n,
              lambda g=g, s=srcs: _noop(bfs_distances(
                  g.nodes.select("nodeId"), g.edges.select("src", "dst"),
                  s, settled_filter="bloom", bloom_bits=1 << 24)))

    # Sampled Brandes betweenness ×N (late r10: the forward phase now
    # routes its settled check through the shared _SettledRouter, and
    # the backward pass carries per-LEVEL delta frames) — same ×N
    # graph + ×N per-copy sources as the bfs task, exact vs bloom, so
    # the slope delta isolates the forward anti-join term on top of
    # the (unchanged-shape) backward accumulation.
    from graphraft_spark.graph.algos import betweenness_sampled
    for n in (FACTORS if want("betweenness") else ()):
        g = _graph_x(n)
        srcs = [r.nodeId for r in
                (g.nodes.filter(F.col("name").isin(ANCHORS))
                 .select("nodeId").collect())]
        timed("betweenness_exact", n,
              lambda g=g, s=srcs: _noop(betweenness_sampled(
                  g.nodes.select("nodeId"), g.edges.select("src", "dst"),
                  sources=s)))
        timed("betweenness_bloom", n,
              lambda g=g, s=srcs: _noop(betweenness_sampled(
                  g.nodes.select("nodeId"), g.edges.select("src", "dst"),
                  sources=s, settled_filter="bloom",
                  bloom_bits=1 << 24)))

    # SGNS embedding trainer ×N (late r10): pair table AND vocab scale
    # ×N (disjoint graph copies), so per-epoch work — two keyed joins,
    # one posexplode partial-sum shuffle, one update join — should
    # scale ~linearly with a fixed epoch count.
    from graphraft_spark.graph.embeddings import train_sgns
    for n in (FACTORS if want("sgns") else ()):
        g = _graph_x(n)
        prs = (g.edges.groupBy(F.col("src").alias("center"),
                               F.col("dst").alias("context"))
               .agg(F.count("*").alias("cnt")))
        timed("sgns_train", n,
              lambda p=prs: _noop(train_sgns(p, dim=8, epochs=2,
                                             negatives=2)))
        # unigram75 adds the noise-CDF build + a bucket-table equi-join
        # per negative slot — the ×N delta vs the uniform line above
        # isolates that shape (r11)
        timed("sgns_train_u75", n,
              lambda p=prs: _noop(train_sgns(
                  p, dim=8, epochs=2, negatives=2,
                  neg_distribution="unigram75")))

    # HITS on the graph ×N (r9: the new bench line's scale axis) —
    # per-iteration work is two join+aggregates over the edge list, so
    # the honest expectation is ~linear in E with a fixed round count.
    from graphraft_spark.graph.algos import hits
    for n in (FACTORS if want("hits") else ()):
        g = _graph_x(n)
        timed("hits", n,
              lambda g=g: _noop(hits(g.nodes.select("nodeId"),
                                     g.edges.select("src", "dst"),
                                     n_iter=3)))

    # Approx-enumeration twin (r7 verdict item 5): the exact path's
    # ~10% growth term is the distinct exchange carrying every
    # (signature, target) pair; approx_rsd swaps it for fixed-size
    # HLL++ partials merged map-side.  Same graph ×N, same batch API
    # exact-vs-approx so the delta IS the distinct-exchange term.
    from graphraft_spark.patterns.enumerate import enumerate_paths_batch
    for n in (FACTORS if want("g_twohop_batch") else ()):
        g = _graph_x(n)
        anchors = spark.createDataFrame(
            [(i, a) for i, a in enumerate(ANCHORS)], "qid int, name string")
        timed("g_twohop_batch_exact", n,
              lambda g=g, a=anchors: _noop(enumerate_paths_batch(
                  g, a, patterns=("2hop",))))
        timed("g_twohop_batch_approx", n,
              lambda g=g, a=anchors: _noop(enumerate_paths_batch(
                  g, a, patterns=("2hop",), approx_rsd=0.05)))

    # ---- pipeline ×N questions over the base graph ----
    from graphraft_spark.llm import LexicographicRanker
    from graphraft_spark.pipeline import run_pipeline

    for n in (FACTORS if want("p_full_pipeline") else ()):
        qs = []
        for c in range(n):
            qs.append((c * 10 + 1, "who supplies small ring?",
                       ["small ring"]))
            qs.append((c * 10 + 2, "what did customer 42 buy?",
                       ["Customer#000000042"]))
        timed("p_full_pipeline", n,
              lambda qs=qs: _noop(run_pipeline(
                  spark, base, questions=qs,
                  ranker=LexicographicRanker(),
                  max_nodes=15, k=3, patterns=("1hop", "2hop"),
                  prop_cols=("detail",))))

    # Perceptual image dedup ×N (r12): corpus-size axis — every copy's
    # images are DISTINCT (the pixel formula folds the ×N-offset src id
    # through independent moduli), plants stay per-copy so duplicate
    # GROUP size is constant and pair count grows linearly.  The Python
    # codec seam (encode+decode inside mapInPandas) is embarrassingly
    # parallel; the only shuffle is the 4-rows-per-image banding join —
    # the soak checks both stay ~linear.
    if want("imagededup") or want("imagededup_capped"):
        from graphraft_spark.ops.image_dedup import (
            image_ahash_words,
            image_neardup_pairs,
        )
        from graphraft_spark.ops.multimodal import extract_features
        from graphraft_spark.ops.png import png_encode, png_resize_nearest

        def _image_pairs_x(n):
            d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
                .select("doc_id")
            idx = spark.range(n).select(F.col("id").alias("copy"))
            base = (d.crossJoin(idx)
                    .select((F.col("doc_id") * 1000 + F.col("copy"))
                            .alias("src")))
            doc = F.col("src")
            variants = F.array_compact(F.array(
                F.struct(doc.alias("media_id"),
                         F.lit(0).alias("shift"), F.lit(0).alias("variant")),
                F.when(doc % 10 == 0, F.struct(
                    (doc + 1000000000).alias("media_id"),
                    F.lit(0).alias("shift"), F.lit(1).alias("variant"))),
                F.when(doc % 10 == 5, F.struct(
                    (doc + 2000000000).alias("media_id"),
                    F.lit(40).alias("shift"), F.lit(2).alias("variant")))))
            # documents.parquet is ONE small file at test sf, so the
            # crossJoin inherits ~1 input partition and the ×N codec
            # work would starve on one core (a fixture artifact: real
            # corpora arrive in thousands of files) — spread it before
            # the Python seam so the soak measures the operator
            spec = (base.select(doc.alias("src"),
                                F.explode(variants).alias("v"))
                    .select("src", "v.media_id", "v.shift", "v.variant")
                    .repartition(32, F.col("media_id")))
            cycles = {0: [0, 1, 2, 3, 4], 1: [4, 3, 2, 1, 0],
                      2: [2, 0, 3, 1, 4]}

            def encode(batches):
                import pandas as pd

                for pdf in batches:
                    payloads = []
                    for s, sh, var in zip(pdf["src"], pdf["shift"],
                                          pdf["variant"]):
                        s, sh = int(s), int(sh)
                        px = bytes(((s * 13) % 199 + x * (1 + s % 23)
                                    + y * (1 + s % 19) + x * y * (s % 7))
                                   % 200 + sh
                                   for y in range(16) for x in range(16))
                        payloads.append(png_encode(
                            16, 16, px, color_type=0,
                            filters=cycles[int(var)]))
                    yield pd.DataFrame({"media_id": pdf["media_id"],
                                        "payload": payloads})

            media = spec.mapInPandas(
                encode, schema="media_id bigint, payload binary")
            feats = extract_features(
                media.select("media_id", F.lit("image").alias("kind"),
                             "payload"),
                decode_fn=lambda p: png_resize_nearest(p, 8, 8))
            hashed = image_ahash_words(
                feats.select(F.col("media_id").alias("id"), "feature"))
            return hashed

        for n in FACTORS:  # timed() itself filters by task prefix
            timed("imagededup", n, lambda n=n: _noop(image_neardup_pairs(
                _image_pairs_x(n), max_dist=3, bands=4)))
            # the production configuration: hot buckets (this synthetic
            # corpus's gradient patterns skew the aHash distribution)
            # collapse to star edges — the ×N delta vs the uncapped
            # line above isolates the within-bucket quadratic term
            timed("imagededup_capped", n,
                  lambda n=n: _noop(image_neardup_pairs(
                      _image_pairs_x(n), max_dist=3, bands=4,
                      max_bucket_size=100)))

    # Video near-dup ×N (r13): the clip twin of the image soak — same
    # corpus-size axis, but each item is a 4-frame AVI walked by the
    # RIFF codec (only frames 0/2 pixel-decoded) and fingerprinted at
    # 128 bits (8×16-bit bands → birthday floor N²/2^17 per band, same
    # as the image line; the per-frame aHash skew drives hot buckets).
    if want("videodedup"):
        from graphraft_spark.ops.avi import avi_clip_thumbs, avi_encode
        from graphraft_spark.ops.image_dedup import (
            image_neardup_pairs,
            video_ahash_words,
        )
        from graphraft_spark.ops.multimodal import extract_features

        def _video_hashed_x(n):
            d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
                .select("doc_id")
            idx = spark.range(n).select(F.col("id").alias("copy"))
            base = (d.crossJoin(idx)
                    .select((F.col("doc_id") * 1000 + F.col("copy"))
                            .alias("src")))
            doc = F.col("src")
            variants = F.array_compact(F.array(
                F.struct(doc.alias("media_id"), F.lit(0).alias("shift"),
                         F.lit(25).alias("fps")),
                F.when(doc % 10 == 0, F.struct(
                    (doc + 1000000000).alias("media_id"),
                    F.lit(0).alias("shift"), F.lit(50).alias("fps"))),
                F.when(doc % 10 == 5, F.struct(
                    (doc + 2000000000).alias("media_id"),
                    F.lit(40).alias("shift"), F.lit(25).alias("fps")))))
            spec = (base.select(doc.alias("src"),
                                F.explode(variants).alias("v"))
                    .select("src", "v.media_id", "v.shift", "v.fps")
                    .repartition(32, F.col("media_id")))

            def encode(batches):
                import pandas as pd

                for pdf in batches:
                    payloads = []
                    for s, sh, fps in zip(pdf["src"], pdf["shift"],
                                          pdf["fps"]):
                        s, sh = int(s), int(sh)
                        frames = []
                        for f in range(4):
                            grey = [((s * 13) % 199 + x * (1 + s % 23)
                                     + y * (1 + s % 19) + x * y * (s % 7)
                                     + f * (7 + s % 11)) % 200 + sh
                                    for y in range(16) for x in range(16)]
                            frames.append(bytes(
                                v for v in grey for _ in range(3)))
                        payloads.append(avi_encode(frames, 16, 16,
                                                   fps=int(fps)))
                    yield pd.DataFrame({"media_id": pdf["media_id"],
                                        "payload": payloads})

            media = spec.mapInPandas(
                encode, schema="media_id bigint, payload binary")
            feats = extract_features(
                media.select("media_id", F.lit("video").alias("kind"),
                             "payload"),
                decode_fn=lambda p: avi_clip_thumbs(
                    p, every_n=2, tw=8, th=8, max_frames=2))
            return video_ahash_words(
                feats.select(F.col("media_id").alias("id"), "feature"),
                tiles=2)

        W4 = ("h0", "h1", "h2", "h3")
        for n in FACTORS:
            timed("videodedup", n, lambda n=n: _noop(image_neardup_pairs(
                _video_hashed_x(n), word_cols=W4, max_dist=6, bands=8)))
            timed("videodedup_capped", n,
                  lambda n=n: _noop(image_neardup_pairs(
                      _video_hashed_x(n), word_cols=W4, max_dist=6,
                      bands=8, max_bucket_size=100)))

    print("\n| task | factor | wall_s |")
    print("|---|---|---|")
    for task, factor, dt in rows:
        print(f"| {task} | x{factor} | {dt} |")
    if not prefixes:
        shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
