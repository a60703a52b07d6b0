"""Similarity search over embedding columns.

Two tiers sharing one API:

* brute-force — exact: score every vector, per-query top-k via window
  (batch) or TakeOrderedAndProject (single query).  The correctness
  baseline; O(N·Q) dot products but embarrassingly parallel and
  shuffle-free except the final per-query top-k.
* IVF — scale path: deterministic coarse centroids, vectors assigned to
  nearest centroid (partition pruning key), queries probe only the
  ``nprobe`` nearest centroids' partitions.  At 100 TB the assignment
  is the parquet partition key, so probing prunes file scans; here it
  prunes via a semi-join, same plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphraft_spark.search.vector import dot_col


def score_pairs(vectors: DataFrame, queries: DataFrame,
                emb_col: str = "embedding", qemb_col: str = "q_emb",
                arrow: bool = False) -> DataFrame:
    """All (query, vector) dot scores; queries broadcast (small side).

    ``arrow=True`` computes the dot via an Arrow-batched numpy UDF —
    the fast path for wide embeddings (per-element expression folds are
    interpreted and cost ~100× more at dim 64+).  Oracle-checked
    queries keep the expression path (engine-independent arithmetic).
    """
    scorer = dot_col
    if arrow:
        from graphraft_spark.search.vector import dot_pandas
        scorer = dot_pandas
    return (
        vectors.crossJoin(F.broadcast(queries))
        .withColumn("score", scorer(F.col(emb_col), F.col(qemb_col)))
    )


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int,
                     id_col: str = "vec_id", qid_col: str = "qid",
                     emb_col: str = "embedding",
                     qemb_col: str = "q_emb", arrow: bool = False) -> DataFrame:
    """Exact batch ANN baseline: top-k per query by dot score."""
    w = Window.partitionBy(qid_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        score_pairs(vectors, queries, emb_col, qemb_col, arrow=arrow)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(qid_col, id_col, "score", "rn")
    )


def brute_force_topk_matmul(vectors: DataFrame, queries: DataFrame, k: int,
                            id_col: str = "vec_id", qid_col: str = "qid",
                            emb_col: str = "embedding",
                            qemb_col: str = "q_emb") -> DataFrame:
    """Exact batch ANN, matmul kernel — the wide-vector/full-corpus
    shape: the (small) query matrix is collected and closure-broadcast
    as numpy; ONE pass over the vectors does a per-Arrow-batch matmul
    and keeps only each batch's top-k per query, so the shuffle carries
    ≤ partitions·|Q|·k tiny rows into the exact final top-k — never the
    |Q|·N crossjoin and never per-pair array shipping."""
    import numpy as np

    qrows = queries.select(qid_col, qemb_col).collect()
    qids = np.array([r[qid_col] for r in qrows], dtype="int64")
    qmat = np.stack([np.asarray(r[qemb_col], dtype="float64")
                     for r in qrows])          # |Q| × dim

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            m = np.stack(pdf[emb_col].to_numpy()).astype("float64")
            ids = pdf[id_col].to_numpy()
            s = m @ qmat.T                     # batch × |Q|
            take = min(k, s.shape[0])
            # per-query top-k within the batch (argpartition, then sort)
            idx = np.argpartition(-s, take - 1, axis=0)[:take]
            out_qid, out_id, out_score = [], [], []
            for j in range(s.shape[1]):
                rows = idx[:, j]
                out_qid.extend([qids[j]] * len(rows))
                out_id.extend(ids[rows])
                out_score.extend(s[rows, j])
            yield pd.DataFrame({qid_col: out_qid, id_col: out_id,
                                "score": out_score})

    partial = vectors.select(id_col, emb_col).mapInPandas(
        kernel, schema=f"{qid_col} bigint, {id_col} bigint, score double")
    w = Window.partitionBy(qid_col).orderBy(F.desc("score"), F.asc(id_col))
    return (partial.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select(qid_col, id_col, "score", "rn"))


def ivf_centroids(vectors: DataFrame, every: int = 50,
                  id_col: str = "vec_id",
                  emb_col: str = "embedding") -> DataFrame:
    """Deterministic coarse centroids: every ``every``-th vector (stand-in
    for k-means — the engine contract is only 'a centroid table')."""
    return (
        vectors.filter(F.col(id_col) % every == 0)
        .select((F.col(id_col) / every).cast("bigint").alias("centroid_id"),
                F.col(emb_col).alias("c_emb"))
    )


def ivf_centroids_kmeans(vectors: DataFrame, k: int = 16, iters: int = 5,
                         id_col: str = "vec_id", emb_col: str = "embedding",
                         seed: int = 7) -> DataFrame:
    """Lloyd k-means coarse centroids — the production IVF trainer (the
    reference's vector index is HNSW-quality, stark_neo4j_loading.py:
    75-80; modulo-sampled centroids don't meet that recall bar at scale).

    Deterministic throughout: init = the ``k`` vectors with smallest
    ``xxhash64(id, seed)`` (a seeded pseudo-random spread, stable across
    runs and partitionings); each Lloyd iteration assigns by
    ``argmax(v·c − ‖c‖²/2)`` (≡ min-L2) and recomputes means from
    PER-PARTITION numpy partial sums, so every iteration's shuffle and
    driver collect carry O(partitions·k + k·dim) rows — never the
    vectors.  That is the 100 TB shape: one scan per iteration, matmul
    in Arrow batches, constant-size reductions."""
    import numpy as np
    import pandas as pd

    spark = vectors.sparkSession
    # one materialization feeds the init draw + every Lloyd pass —
    # without it each iteration re-executes the caller's whole vector
    # derivation (guide §5: reuse ⇒ persist; released before return)
    vecs = vectors.select(id_col, emb_col).persist()
    init_rows = (
        vecs.withColumn("h", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("h", id_col).limit(k).collect()
    )
    if not init_rows:
        raise ValueError("ivf_centroids_kmeans: empty vectors frame")
    cents = np.stack([np.asarray(r[emb_col], dtype="float64")
                      for r in init_rows])
    k = cents.shape[0]  # fewer than requested when the corpus is small
    dim = cents.shape[1]

    for _ in range(iters):
        c = cents
        half = (c * c).sum(axis=1) / 2.0

        def kernel(batches, c=c, half=half):
            sums = np.zeros_like(c)
            counts = np.zeros(c.shape[0], dtype="int64")
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.stack(pdf[emb_col].to_numpy()).astype("float64")
                a = (m @ c.T - half).argmax(axis=1)
                for j in range(c.shape[0]):
                    mask = a == j
                    n = int(mask.sum())
                    if n:
                        counts[j] += n
                        sums[j] += m[mask].sum(axis=0)
            yield pd.DataFrame({"cid": np.arange(c.shape[0]),
                                "cnt": counts,
                                "vsum": [s.tolist() for s in sums]})

        partials = vecs.select(emb_col).mapInPandas(
            kernel, schema="cid int, cnt bigint, vsum array<double>")
        # one single-stage job per iteration: collect the per-PARTITION
        # partials (O(partitions·k) rows) and reduce in numpy — the old
        # posexplode + groupBy((cid, pos)) paid an exchange per
        # iteration to produce the same O(k·dim) reduction (both forms
        # sum the per-partition partials; summation order was already
        # arrival-dependent under the shuffle)
        rows = partials.collect()
        new = cents.copy()  # empty clusters keep their previous centroid
        acc = np.zeros((k, dim))
        cnts = np.zeros(k, dtype="int64")
        for r in rows:
            acc[r["cid"]] += np.asarray(r["vsum"], dtype="float64")
            cnts[r["cid"]] += r["cnt"]
        for j in range(k):
            if cnts[j] > 0:
                new[j] = acc[j] / cnts[j]
        cents = new

    vecs.unpersist()
    return spark.createDataFrame(
        [(int(j), [float(x) for x in cents[j]]) for j in range(k)],
        f"centroid_id bigint, c_emb array<double>")


def ivf_assign(vectors: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """Assign each vector to its max-dot centroid (broadcast centroids;
    one scan).  The assignment is the partition-pruning key at scale."""
    scored = (
        vectors.crossJoin(F.broadcast(centroids))
        .withColumn("score", dot_col(F.col(emb_col), F.col("c_emb")))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"),
                                           F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, emb_col, "centroid_id")
    )


def ivf_search(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
               k: int, nprobe: int = 4, id_col: str = "vec_id",
               qid_col: str = "qid", emb_col: str = "embedding",
               qemb_col: str = "q_emb") -> DataFrame:
    """Probe the ``nprobe`` nearest centroids per query; exact top-k
    within the probed partitions.

    Default nprobe=4: on clustered mixture corpora (tools/ann_tune.py,
    BASELINE.md r7) recall@10 at nprobe=2 collapses once clusters
    overlap (0.30 medium / 0.25 hard vs 0.48 / 0.42 at nprobe=4, and
    0.65 at nprobe=8) while well-separated corpora are already 0.93+
    at nprobe=2 — 4 is the knee; raise it for recall-critical serving.
    """
    qc = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("cscore", dot_col(F.col(qemb_col), F.col("c_emb")))
    )
    wq = Window.partitionBy(qid_col).orderBy(F.desc("cscore"),
                                             F.asc("centroid_id"))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(qid_col, qemb_col, "centroid_id")
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        assigned.join(probes, "centroid_id")
        .withColumn("score", dot_col(F.col(emb_col), F.col(qemb_col)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(qid_col, id_col, "score", "rn")
    )


def srp_hyperplanes(dim: int, bits: int, seed: int = 7) -> list[list[float]]:
    """Deterministic random-hyperplane matrix for signed-random-
    projection LSH: component (j, d) drawn from md5(seed:j:d) as an
    exact 3-decimal value in [-1, 1] — the same literals are embeddable
    in an external SQL oracle, so signatures agree bit-for-bit across
    engines (no RNG at execution time)."""
    import hashlib

    return [
        [((int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[:8], 16)
           % 2001) - 1000) / 1000.0
         for d in range(dim)]
        for j in range(bits)
    ]


def srp_signature(emb: Column | str, planes: list[list[float]]) -> Column:
    """LSH bucket id: bit j = sign(emb · plane_j); cosine-similar
    vectors collide with probability 1 - angle/pi per bit.

    Pass the embedding COLUMN NAME (not a Column) where possible: the
    name path compiles the whole signature to one SQL string — a single
    py4j round-trip — where the Column path pays per-plane lit/lambda
    construction chatter (measured 1.6 s → 0.37 s of driver-side build
    per consumer at bits=8, the dominant term of the bench line; repr()
    round-trips each coefficient to the identical IEEE double)."""
    if isinstance(emb, str):
        terms = []
        for j, plane in enumerate(planes):
            arr = ",".join(repr(v) + "D" for v in plane)
            dot = (f"aggregate(zip_with(`{emb}`, array({arr}), "
                   f"(x, y) -> x * y), 0.0D, (acc, v) -> acc + v)")
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j}L "
                         f"ELSE 0L END)")
        return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))
    sig = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(emb, F.lit(plane), lambda x, y: x * y),
            F.lit(0.0), lambda acc, v: acc + v)
        sig = sig + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return sig


def srp_lsh_topk(vectors: DataFrame, queries: DataFrame, k: int,
                 dim: int, bits: int = 6, seed: int = 7,
                 multiprobe: bool = True,
                 id_col: str = "vec_id", emb_col: str = "embedding",
                 qid_col: str = "qid", qemb_col: str = "q_emb") -> DataFrame:
    """LSH-bucketed ANN: corpus hashed once into 2^bits buckets; each
    query probes its own bucket (+ the ``bits`` Hamming-1 neighbors with
    multiprobe) and ranks candidates by exact dot product.

    Scale shape: the signature is one narrow scan; the probe join
    shuffles only (bucket, qid) pairs against a corpus pre-partitioned
    by bucket (at 100 TB: write the corpus partitionBy(bucket) once and
    probes become partition-pruned reads — same plan as IVF with a
    data-independent coarse quantizer, no centroid training pass).

    Choosing ``bits``: Hamming-1 multiprobe examines (bits+1)/2^bits
    of the corpus, so recall FALLS as bits grow at fixed corpus size —
    measured 0.30 at bits=6 vs 0.13 at bits=8 vs 0.07 at bits=10 on
    20k clustered vectors (tools/ann_tune.py, BASELINE.md r7).  Pick
    bits ≈ log2(n · (bits+1) / C) for a target candidate count C of
    ~50-100×k; the default 6 fits 10k-100k-row partitions — at larger
    corpora RAISE bits to keep buckets bounded, don't lower them."""
    planes = srp_hyperplanes(dim, bits, seed)
    corpus = vectors.select(
        id_col, emb_col, srp_signature(emb_col, planes).alias("bucket"))
    qsig = queries.select(
        qid_col, qemb_col, srp_signature(qemb_col, planes).alias("qb"))
    if multiprobe:
        probe_list = F.array(
            F.col("qb"), *[F.expr(f"qb ^ {1 << i}") for i in range(bits)])
    else:
        probe_list = F.array(F.col("qb"))
    probes = qsig.select(
        qid_col, qemb_col, F.explode(probe_list).alias("bucket")
    ).withColumn("bucket", F.col("bucket").cast("bigint"))
    w = Window.partitionBy(qid_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        corpus.join(F.broadcast(probes), "bucket")
        .withColumn("score", dot_col(F.col(emb_col), F.col(qemb_col)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(qid_col, id_col, "score", "rn")
    )


def mmr_rerank(candidates: DataFrame, k: int, lam: float = 0.5,
               qid_col: str = "qid", id_col: str = "vec_id",
               emb_col: str = "embedding",
               score_col: str = "score") -> DataFrame:
    """Maximal-marginal-relevance re-rank of per-query candidate sets:
    greedily pick argmax  lam·relevance − (1−lam)·max cosine to the
    already-selected — the standard diversity-aware top-k (Carbonell &
    Goldstein 1998) used to de-duplicate retrieval results and training
    batches.

    The greedy loop is inherently sequential PER QUERY but queries are
    independent, so the distributed shape is applyInPandas over
    groupBy(qid): each group is one bounded candidate set (the ef
    retrieved by a first-stage ANN, typically ≤ a few hundred rows), and
    the O(ef²) similarity matrix lives only inside its executor batch.
    Scale cost is candidates·dim shuffled once — never corpus-sized.

    Determinism: candidates are sorted by (−score, id) before the
    greedy loop and ties broken by first-index, so the output is
    independent of the incoming row order/partitioning.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    # qid/id keep their incoming types; the relevance column keeps its
    # incoming NAME (score_col) so callers with custom columns round-trip.
    in_schema = {f.name: f.dataType for f in candidates.schema.fields}
    out_schema = T.StructType([
        T.StructField(qid_col, in_schema[qid_col]),
        T.StructField(id_col, in_schema[id_col]),
        T.StructField(score_col, T.DoubleType()),
        T.StructField("mmr_score", T.DoubleType()),
        T.StructField("mmr_rank", T.IntegerType()),
    ])

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values([score_col, id_col],
                              ascending=[False, True],
                              kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        E = np.stack([np.asarray(e, dtype="float64")
                      for e in pdf[emb_col]])
        norms = np.linalg.norm(E, axis=1)
        norms[norms == 0.0] = 1.0
        En = E / norms[:, None]
        sim = En @ En.T
        rel = pdf[score_col].to_numpy(dtype="float64")
        selected: list[int] = []
        mmr_scores: list[float] = []
        mask = np.ones(n, dtype=bool)
        while mask.any() and len(selected) < k:
            if selected:
                penalty = sim[:, selected].max(axis=1)
                mmr = lam * rel - (1.0 - lam) * penalty
            else:
                mmr = lam * rel
            mmr_masked = np.where(mask, mmr, -np.inf)
            i = int(np.argmax(mmr_masked))  # first max = sorted tiebreak
            selected.append(i)
            mmr_scores.append(float(mmr_masked[i]))
            mask[i] = False
        return pd.DataFrame({
            qid_col: pdf[qid_col].iloc[selected].to_numpy(),
            id_col: pdf[id_col].iloc[selected].to_numpy(),
            score_col: rel[selected],
            "mmr_score": mmr_scores,
            "mmr_rank": np.arange(1, len(selected) + 1, dtype="int32"),
        })

    return candidates.groupBy(qid_col).applyInPandas(kernel, out_schema)


def pca_fit(vectors: DataFrame, emb_col: str = "embedding",
            k: int = 16, whiten: bool = False):
    """Fit PCA on an embedding column: per-partition Gram/mean partials
    via an Arrow kernel (each partition ships ONE (count, sum, X'X)
    triple — dim² doubles, never vectors), driver-side eigh on the
    dim×dim covariance.  Returns (mean: list, components: k lists,
    eigenvalues: k floats) with a deterministic sign convention
    (largest-|coeff| positive).  The standard pre-transform before
    IVF/PQ (decorrelates dimensions so codebook distortion drops);
    ``whiten=True`` scales components by 1/sqrt(eigenvalue)."""
    import numpy as np

    def kernel(batches):
        import pandas as pd

        n, s, g = 0, None, None
        for pdf in batches:
            x = np.stack(pdf[emb_col].to_numpy()).astype("float64")
            n += x.shape[0]
            s = x.sum(0) if s is None else s + x.sum(0)
            gg = x.T @ x
            g = gg if g is None else g + gg
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()],
                                "g": [g.reshape(-1).tolist()]})

    dim = len(vectors.select(emb_col).first()[0])
    parts = vectors.select(emb_col).mapInPandas(
        kernel, schema="n long, s array<double>, g array<double>") \
        .collect()
    n = sum(p.n for p in parts)
    if n < 2:
        raise ValueError("pca_fit needs at least 2 vectors")
    s = np.sum([p.s for p in parts], axis=0)
    g = np.sum([np.array(p.g).reshape(dim, dim) for p in parts], axis=0)
    mu = s / n
    cov = (g - n * np.outer(mu, mu)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps, eigs = [], []
    for idx in order:
        v = vecs[:, idx]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        if whiten:
            v = v / np.sqrt(max(vals[idx], 1e-12))
        comps.append(v.tolist())
        eigs.append(float(vals[idx]))
    return mu.tolist(), comps, eigs


def pca_project(vectors: DataFrame, mean: list, components: list,
                emb_col: str = "embedding",
                out_col: str = "pca") -> DataFrame:
    """Project embeddings onto fitted components as a PURE CODEGEN
    expression (mean and components are literals baked into the plan —
    zero Python at serve time)."""
    centered = F.zip_with(
        F.col(emb_col).cast("array<double>"),
        F.array(*[F.lit(float(m)) for m in mean]),
        lambda x, m: x - m)
    outs = []
    for comp in components:
        c = F.array(*[F.lit(float(v)) for v in comp])
        outs.append(F.aggregate(
            F.zip_with(centered, c, lambda x, w: x * w),
            F.lit(0.0), lambda acc, v: acc + v))
    return vectors.withColumn(out_col, F.array(*outs))
