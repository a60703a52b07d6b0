"""Distributed skip-gram-negative-sampling (SGNS) embedding trainer —
the missing last stage of the DeepWalk/node2vec recipe already in the
engine (graph/sampling.py: random_walks → skipgram_pairs); its output
feeds the ANN tiers (ops/similarity.py) and SemDeDup directly.

Reference scope note: the reference consumes PRE-TRAINED text
embeddings (stark_neo4j_loading.py:75-80 loads them; it never trains).
This module is a north-star extension in the same class as the
word-bigram LM trainer (ops/word_lm.py): the in-engine trainer for a
model the pipeline otherwise imports.

Design — FULL-BATCH deterministic SGNS (Mikolov et al. 2013 semantics,
Levy & Goldberg 2014 for why pair-weighted full-batch is sound):

* the embedding table is a DataFrame (node, emb ARRAY<DOUBLE>) — never
  driver- or executor-resident, so |V| is unbounded;
* every epoch is: join pairs to both endpoint embeddings → sigmoid
  dot → per-example gradient scalar → posexplode to (node, pos, val)
  partial sums → one keyed shuffle → rebuild arrays → update join.
  All column expressions (zip_with / aggregate / transform) — zero
  Python in the hot path;
* negatives are HASH-DRAWN (portable md5 arithmetic, data/ops.py
  `_portable_hash60`), not RNG-drawn: the same (center, context,
  epoch, slot) always draws the same negative, so the whole training
  run is reproducible across runs, partitionings, and engines;
* init is hash-derived per (node, dimension) — no RNG state anywhere.

Float caveat (stated per repo policy): per-node gradient sums are
floating-point groupBy aggregates, so cross-engine replay agrees to
~1e-12 per epoch, not bitwise — the registry line is rows-only with a
numpy parity test as its anchor (tests/test_embeddings.py replays the
exact algorithm, hashes included, and matches to 1e-6), same evidence
class as the k-means IVF trainer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphraft_spark.data.ops import _portable_hash60


def _sigmoid(x):
    # dot clipped to ±20 (word2vec's MAX_EXP idiom): keeps exp() finite
    # when full-batch steps overshoot, and saturated examples contribute
    # ~0 gradient exactly as in the reference implementations
    clipped = F.greatest(F.lit(-20.0), F.least(F.lit(20.0), x))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-clipped))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def init_embeddings(nodes: DataFrame, dim: int, seed: str = "emb0",
                    node_col: str = "node",
                    out_col: str = "emb") -> DataFrame:
    """(node, emb): deterministic small init in [-0.5/dim, 0.5/dim] —
    emb[j] = ((h60(seed·node·j) mod 2001) − 1000)/1000 · 0.5/dim, the
    standard word2vec init range with portable-hash randomness."""
    scale = 0.5 / dim
    node = F.col(node_col)

    def cell(j):
        h = _portable_hash60(
            F.concat(node.cast("string"), F.lit("#"), j.cast("string")),
            seed)
        return ((h % 2001 - 1000) / F.lit(1000.0)) * F.lit(scale)

    return nodes.select(
        node.alias("node"),
        F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), cell)
        .alias(out_col))


def _rank_vocab(vocab: DataFrame) -> DataFrame:
    """(node) → (node, idx): dense 0-based rank of ``node`` in global
    sort order, computed DISTRIBUTED — the naive
    ``row_number() OVER (ORDER BY node)`` is a SinglePartition exchange
    that funnels the whole |V|-row vocabulary through one task (r10
    advice; |V| is 6M+ on graph-node vocabularies).  Standard two-pass
    distributed row_number instead: range-partition by node (partition
    i holds strictly smaller nodes than partition i+1 — the
    RangePartitioning contract), rank within each partition in
    parallel, then add per-partition count offsets via a broadcast of
    the ≤nparts-row offset table.  The produced idx equals the global
    rank regardless of where the sampled range boundaries fall, so
    determinism is unaffected."""
    from pyspark.sql import Window

    spark = vocab.sparkSession
    nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions",
                                    "200")), 1)
    # lazily checkpointed: ``local`` feeds BOTH the offset aggregate
    # and the final join — uncached, the range shuffle + window (and
    # everything upstream, e.g. a 2|pairs|-row distinct) would execute
    # twice (r11 ×10 A/B: the uncached form cost ~2× the whole
    # trainer)
    local = (vocab.repartitionByRange(nparts, "node")
             .withColumn("pid", F.spark_partition_id())
             .withColumn("lidx", F.row_number().over(
                 Window.partitionBy("pid").orderBy("node")) - 1)
             .localCheckpoint(eager=False))
    # ≤nparts rows: the only global window, bounded by configuration
    offs = (local.groupBy("pid").agg(F.count("*").alias("cnt"))
            .withColumn("off", F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("pid")
                    .rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0))))
    return (local.join(F.broadcast(offs.select("pid", "off")), "pid")
            .select("node",
                    (F.col("lidx") + F.col("off")).alias("idx")))


def _weighted_cdf(weights: DataFrame) -> DataFrame:
    """(node, wv BIGINT) → (node, wv, lo, hi): each node owns the
    half-open integer interval [lo, hi) of length wv on the cumulative
    axis, in global node-sort order — the inverse-CDF table for exact
    weighted draws.  Same two-pass distributed pattern as
    :func:`_rank_vocab` (range-partition, local running sum, broadcast
    per-partition offsets); all-integer arithmetic so the intervals
    are exact and order-independent."""
    from pyspark.sql import Window

    spark = weights.sparkSession
    nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions",
                                    "200")), 1)
    # lazily checkpointed for the same two-consumer reason as
    # _rank_vocab's local frame
    local = (weights.repartitionByRange(nparts, "node")
             .withColumn("pid", F.spark_partition_id())
             .withColumn("lhi", F.sum("wv").over(
                 Window.partitionBy("pid").orderBy("node")
                 .rowsBetween(Window.unboundedPreceding, 0)))
             .localCheckpoint(eager=False))
    # ≤nparts rows: bounded by configuration, like _rank_vocab's
    offs = (local.groupBy("pid").agg(F.sum("wv").alias("cnt"))
            .withColumn("off", F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("pid")
                    .rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0))))
    return (local.join(F.broadcast(offs.select("pid", "off")), "pid")
            .select("node", "wv",
                    (F.col("lhi") + F.col("off") - F.col("wv"))
                    .alias("lo"),
                    (F.col("lhi") + F.col("off")).alias("hi")))


def train_sgns(pairs: DataFrame, dim: int = 16, epochs: int = 3,
               lr: float = 0.05, negatives: int = 2,
               seed: str = "emb0",
               center_col: str = "center", context_col: str = "context",
               weight_col: str = "cnt",
               neg_distribution: str = "uniform",
               lr_decay: bool = False,
               subsample_t: float | None = None,
               subsample_mode: str = "expected") -> DataFrame:
    """Train SGNS embeddings over a (center, context, cnt) pair table
    (e.g. :func:`~graphraft_spark.graph.sampling.skipgram_pairs`) →
    (node, emb ARRAY<DOUBLE>).

    Loss per positive pair: −log σ(c·x); per hash-drawn negative:
    −log σ(−c·n); gradients are summed over the FULL pair table each
    epoch (pair multiplicity = ``cnt`` weights the example), then one
    update — deterministic, no hogwild races, no RNG.  Scale shape per
    epoch: two embedding joins (keyed by node), one posexplode partial
    sum (dim × examples rows, map-side combined), one update join —
    every shuffle keyed, nothing driver-side except the vocab count.

    ``neg_distribution``: "uniform" draws negatives uniformly over the
    vocabulary; "unigram75" draws from the word2vec noise distribution
    P(n) ∝ freq(n)^{3/4} (Mikolov et al. 2013; freq = the node's total
    pair weight), implemented EXACTLY and distributed: integer weights
    wv = max(floor((freq³·10⁴)^{1/4}), 1) (IEEE mul + correctly-
    rounded sqrt twice — no libm pow, so both engines agree bitwise),
    a two-pass cumulative interval table [lo, hi), and a bucket-table
    EQUI-join resolving u → node (≈2|V| bucket rows, no range join).

    A draw that collides with the pair's positive context is DROPPED
    (filter after the resolve join), never trained — word2vec.c's own
    ``if (target == word) continue`` semantics.  This keeps the label-1
    /label-0 conflict out of the batch (r10 advice) WITHOUT joining the
    context's rank/interval onto every example row: the r11 ×10 soak
    measured that join + its checkpoint at 1.9× the whole trainer's
    wall (280.9 s vs 147.3 s) — the filter costs nothing and is the
    reference behavior anyway.

    ``lr_decay``: word2vec's linear learning-rate schedule, full-batch
    analog — epoch e trains at lr·max(1 − e/epochs, 1e-4) (word2vec.c
    floors alpha at starting_alpha·1e-4).

    ``subsample_t``: frequent-word subsampling (Mikolov et al. 2013
    §2.3), deterministic expected-weight form: instead of randomly
    discarding occurrences with P(discard) = 1 − sqrt(t/f(w)), each
    pair's weight is scaled by p_keep(c)·p_keep(x) where p_keep =
    min(1, sqrt(t·total/freq)) — the exact expectation of the
    reference's Bernoulli thinning, with no RNG.  Corpus statistics
    (vocab, noise freq) are computed on RAW weights first, as in
    word2vec.  Costs two extra node-keyed joins over the pair table,
    ONCE, before the epoch loop.

    ``subsample_mode="hash"``: the HASH-DECIDED Bernoulli form —
    occurrence k (1..cnt) of pair (c, x) is kept iff
    u_k < p_keep(c)·p_keep(x), where u_k is the portable md5 hash of
    (seed|ss|c|x|k) reduced to a 6-digit uniform; zero-survivor pairs
    are dropped.  This is word2vec.c's per-occurrence coin flip made
    deterministic (same decision on any engine/partitioning: every
    input to the threshold is an exact-integer sum or a single
    correctly-rounded IEEE op, so the comparison cannot straddle).
    Work is O(total corpus occurrences) — exactly the reference's
    per-occurrence pass; "expected" is the aggregated scale path when
    pair multiplicities are huge."""
    if neg_distribution not in ("uniform", "unigram75"):
        raise ValueError(f"unknown neg_distribution {neg_distribution!r}")
    ex = pairs.select(F.col(center_col).alias("c"),
                      F.col(context_col).alias("x"),
                      F.col(weight_col).cast("double").alias("w")) \
        .localCheckpoint(eager=False)
    # ^ the example table feeds vocab, freq, and one positive + one
    # per-negative-slot branch EVERY epoch — without the checkpoint the
    # caller's whole pair derivation (for the corpus trainers: a
    # corpus-wide transition aggregation) re-executes once per branch
    # (2·(1+negatives)·epochs references); one materialization serves
    # them all, exactly like the subsample branch's re-checkpoint below
    # lazily checkpointed: the 2|pairs|-row distinct feeds the rank
    # table (twice — range sampling + ranking), init_embeddings, and
    # the unigram75 CDF; one materialization serves all of them
    vocab = (ex.select(F.col("c").alias("node"))
             .unionByName(ex.select(F.col("x").alias("node")))
             .distinct().localCheckpoint(eager=False))
    n_vocab = vocab.count()
    # the rank table only feeds the UNIFORM draw's idx join; the
    # unigram75 path resolves draws through its own CDF bucket table
    ranked = (_rank_vocab(vocab).localCheckpoint(eager=False)
              if neg_distribution == "uniform" and negatives else None)
    if n_vocab == 0:
        raise ValueError(
            "train_sgns: empty pair table — no vocabulary to train "
            "(the hash negative draw would divide by zero)")

    emb = init_embeddings(vocab, dim, seed=seed) \
        .localCheckpoint(eager=False)

    # corpus frequency per node (RAW weights, both roles) — feeds the
    # unigram75 noise table and/or the subsampling keep-probabilities
    freq = None
    if ((neg_distribution == "unigram75" and negatives)
            or subsample_t is not None):
        freq = (ex.select(F.col("c").alias("node"), "w")
                .unionByName(ex.select(F.col("x").alias("node"), "w"))
                .groupBy("node").agg(F.sum("w").alias("freq"))
                .localCheckpoint(eager=False))
    if subsample_t is not None:
        if subsample_mode not in ("expected", "hash"):
            raise ValueError(f"unknown subsample_mode {subsample_mode!r}")
        total = freq.agg(F.sum("freq")).first()[0]  # driver scalar
        pk = F.least(F.lit(1.0),
                     F.sqrt(F.lit(subsample_t) * F.lit(total)
                            / F.col("freq")))
        keep = freq.select("node", pk.alias("pk"))
        joined = (ex.join(keep.select(F.col("node").alias("c"),
                                      F.col("pk").alias("_pkc")), "c")
                  .join(keep.select(F.col("node").alias("x"),
                                    F.col("pk").alias("_pkx")), "x"))
        if subsample_mode == "expected":
            ex = joined.select(
                "c", "x",
                (F.col("w") * F.col("_pkc") * F.col("_pkx")).alias("w"))
        else:  # per-occurrence hash-decided Bernoulli (see docstring)
            p = F.col("_pkc") * F.col("_pkx")

            def _u(k):
                return (_portable_hash60(
                    F.concat(F.col("c").cast("string"), F.lit("|"),
                             F.col("x").cast("string"), F.lit("|"),
                             k.cast("string")),
                    f"{seed}|ss|") % 1000000) / F.lit(1e6)

            kept = F.size(F.filter(
                F.sequence(F.lit(1).cast("bigint"),
                           F.col("w").cast("bigint")),
                lambda k: _u(k) < p))
            ex = (joined.select("c", "x",
                                kept.cast("double").alias("w"))
                  .filter(F.col("w") > 0))
        ex = ex.localCheckpoint(eager=False)

    draw_negs = None
    if not negatives:
        pass  # positives-only training: no draw machinery at all
    elif neg_distribution == "uniform":
        def draw_negs(h):
            # plain equi-join on idx — no forced broadcast: the vocab
            # table is |V|-sized (6M+ rows on a graph-node
            # vocabulary), and AQE already broadcasts it when it is
            # actually small.  Collisions with the positive context
            # are dropped post-join (word2vec's skip semantics); a
            # 1-node vocabulary therefore trains positives-only.
            return (ex.select("c", F.col("x").alias("_px"),
                              (h % n_vocab).alias("idx"), "w")
                    .join(ranked, "idx")
                    .filter(F.col("node") != F.col("_px"))
                    .select("c", F.col("node").alias("x"), "w",
                            F.lit(0.0).alias("label")))
    else:  # unigram75
        # (freq³·10⁴)^{1/4} via two correctly-rounded sqrts — IEEE
        # bitwise-portable where pow() is not; floor+max(1) keeps every
        # node drawable with an exact integer weight
        wv = F.greatest(
            F.floor(F.sqrt(F.sqrt(F.col("freq") * F.col("freq")
                                  * F.col("freq") * F.lit(1e4)))),
            F.lit(1)).cast("bigint")
        cdf = _weighted_cdf(freq.select("node", wv.alias("wv"))) \
            .localCheckpoint(eager=False)
        w_total = cdf.agg(F.max("hi")).first()[0]  # driver scalar
        width = max(1, w_total // n_vocab)
        # bucket table: one row per (node, covered bucket) — ≈2|V|
        # rows total (W/width + |V|), turning the interval lookup into
        # a plain equi-join on the bucket id
        buckets = (cdf.select(
            "node", "lo", "hi",
            F.explode(F.sequence(
                F.expr(f"lo DIV {width}"),
                F.expr(f"(hi - 1) DIV {width}"))).alias("bkt"))
            .localCheckpoint(eager=False))

        def draw_negs(h):
            return (ex.select("c", F.col("x").alias("_px"),
                              (h % w_total).alias("u"), "w")
                    .withColumn("bkt", F.expr(f"u DIV {width}"))
                    .join(buckets, "bkt")
                    .filter((F.col("u") >= F.col("lo"))
                            & (F.col("u") < F.col("hi"))
                            & (F.col("node") != F.col("_px")))
                    .select("c", F.col("node").alias("x"), "w",
                            F.lit(0.0).alias("label")))

    for epoch in range(epochs):
        alpha = lr * max(1.0 - epoch / epochs, 1e-4) if lr_decay else lr
        # one example row per positive + per negative slot
        pos = ex.select("c", "x", "w", F.lit(1.0).alias("label"))
        negs = []
        for slot in range(negatives):
            h = _portable_hash60(
                F.concat(F.col("c").cast("string"), F.lit("|"),
                         F.col("x").cast("string"),
                         F.lit(f"|{epoch}|{slot}")),
                seed)
            negs.append(draw_negs(h))
        batch = pos
        for n in negs:
            batch = batch.unionByName(n)
        ec = emb.select(F.col("node").alias("c"),
                        F.col("emb").alias("c_emb"))
        ex_emb = emb.select(F.col("node").alias("x"),
                            F.col("emb").alias("x_emb"))
        scored = (batch.join(ec, "c").join(ex_emb, "x")
                  .withColumn(
                      "g",
                      (_sigmoid(_dot(F.col("c_emb"), F.col("x_emb")))
                       - F.col("label")) * F.col("w") * F.lit(alpha)))
        # gradient contributions: d/dc = g·x_emb, d/dx = g·c_emb
        contrib = (
            scored.select(F.col("c").alias("node"),
                          F.zip_with("x_emb",
                                     F.array_repeat("g", dim),
                                     lambda v, g: v * g).alias("vec"))
            .unionByName(
                scored.select(F.col("x").alias("node"),
                              F.zip_with("c_emb",
                                         F.array_repeat("g", dim),
                                         lambda v, g: v * g)
                              .alias("vec"))))
        # per-component sums as dim aggregate COLUMNS over unexploded
        # rows — ONE node-keyed shuffle whose map-side combine carries
        # (nodes-per-partition) rows of dim doubles; the posexplode
        # formulation multiplied rows ×dim before the exchange and
        # needed a second shuffle to rebuild the array (the ×50 soak
        # overflowed local disk on exactly that traffic)
        grads = (contrib.groupBy("node")
                 .agg(*[F.sum(F.col("vec")[i]).alias(f"_g{i}")
                        for i in range(dim)])
                 .select("node",
                         F.array(*[F.col(f"_g{i}")
                                   for i in range(dim)]).alias("grad")))
        emb = (emb.join(grads, "node", "left")
               .select("node",
                       F.when(F.col("grad").isNull(), F.col("emb"))
                       .otherwise(F.zip_with("emb", "grad",
                                             lambda e, g: e - g))
                       .alias("emb"))
               .localCheckpoint(eager=False))
    return emb
