"""Product-quantization ANN — the memory-bound tier of the similarity
family (north-star extension; the reference's vector search is a
Neo4j HNSW index, stark_neo4j_loading.py:75-80).

Brute force (ops/similarity.py) keeps full float vectors; IVF prunes
which vectors are SCANNED but still stores them whole.  At 100 TB of
embeddings the vectors themselves are the cost: PQ splits each vector
into ``m`` subspaces, k-means-codes each subspace into one byte, and
stores ``m`` bytes per vector (e.g. 768 floats → 8 bytes, 384×
compression).  Search builds a per-query asymmetric-distance lookup
table (m × k distances to every codeword, O(k·dim) — tiny) and scores
a candidate as ``sum(lut[j][code[j]])`` — byte gathers, no floats
touched.

Scale shape: codebooks are O(m·k·dim/m) = O(k·dim) driver/broadcast
state; encoding is one scan (numpy argmin per subspace in Arrow
batches); search is one scan of the BYTE codes with per-partition
partial top-k, shuffling only ``partitions × |Q| × k`` rows — the same
exchange contract as the matmul brute-force kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pq_train(vectors: DataFrame, m: int = 8, k: int = 16, iters: int = 5,
             id_col: str = "vec_id", emb_col: str = "embedding",
             seed: int = 7) -> list[list[list[float]]]:
    """Train per-subspace codebooks: ``m`` independent k-means runs,
    all folded into ONE pass per Lloyd iteration (a single mapInPandas
    kernel computes every subspace's partial sums).  Returns
    ``codebooks[j][c] = centroid c of subspace j`` (plain lists —
    broadcast-friendly, engine-portable).

    Deterministic: init picks the ``k`` vectors with smallest
    ``xxhash64(id, seed)`` (same convention as ivf_centroids_kmeans)
    and slices them per subspace.

    Default m=8: at dim 64 the recall@10 curves on clustered corpora
    (tools/ann_tune.py, BASELINE.md r7) read m=8 ADC 0.06-0.12 /
    rerank50 0.22-0.33 vs m=16 ADC 0.20-0.31 / rerank50 0.44-0.64 —
    finer subspaces buy recall roughly linearly in m, at m bytes per
    vector.  Serve PQ through the coarse→``rerank_exact`` two-stage
    (it roughly triples ADC recall at every m); pick m as the largest
    byte budget the candidate store affords, never below 8."""
    import numpy as np

    if k > 256:
        raise ValueError("pq codes are one byte: k must be <= 256")
    init_rows = (
        vectors.select(id_col, emb_col)
        .withColumn("h", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("h", id_col).limit(k).collect()
    )
    if not init_rows:
        raise ValueError("pq_train: empty vectors frame")
    mat = np.stack([np.asarray(r[emb_col], dtype="float64")
                    for r in init_rows])
    k = mat.shape[0]
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    # books[j]: (k, sub)
    books = [mat[:, j * sub:(j + 1) * sub].copy() for j in range(m)]

    for _ in range(iters):
        bks = [b.copy() for b in books]

        def kernel(batches, bks=bks):
            import pandas as pd

            sums = [np.zeros_like(b) for b in bks]
            counts = [np.zeros(b.shape[0], dtype="int64") for b in bks]
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf[emb_col].map(
                    lambda v: np.asarray(v, dtype="float64")).to_numpy())
                for j, b in enumerate(bks):
                    xs = x[:, j * sub:(j + 1) * sub]
                    d = ((xs[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)
                    a = d.argmin(axis=1)
                    np.add.at(sums[j], a, xs)
                    np.add.at(counts[j], a, 1)
            yield pd.DataFrame({
                "j": [j for j in range(len(bks))],
                "s": [sums[j].tobytes() for j in range(len(bks))],
                "n": [counts[j].tobytes() for j in range(len(bks))],
            })

        parts = vectors.select(emb_col).mapInPandas(
            kernel, schema="j int, s binary, n binary").collect()
        for j in range(m):
            s = np.zeros_like(books[j])
            n = np.zeros(k, dtype="int64")
            for r in parts:
                if r["j"] == j:
                    s += np.frombuffer(r["s"]).reshape(k, sub)
                    n += np.frombuffer(r["n"], dtype="int64")
            nz = n > 0
            books[j][nz] = s[nz] / n[nz, None]  # empty codes keep position
    return [[[float(x) for x in row] for row in b] for b in books]


def pq_encode(vectors: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "vec_id",
              emb_col: str = "embedding") -> DataFrame:
    """One scan → ``(id, code binary)``: per subspace the nearest
    codeword's index, packed one byte each (requires k ≤ 256)."""
    import numpy as np

    books = [np.asarray(b, dtype="float64") for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[emb_col].map(
                lambda v: np.asarray(v, dtype="float64")).to_numpy())
            codes = np.empty((len(pdf), m), dtype="uint8")
            for j, b in enumerate(books):
                xs = x[:, j * sub:(j + 1) * sub]
                d = ((xs[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1).astype("uint8")
            yield pd.DataFrame({id_col: pdf[id_col],
                                "code": [c.tobytes() for c in codes]})

    return vectors.select(id_col, emb_col).mapInPandas(
        kernel, schema=f"{id_col} bigint, code binary")


def pq_search(codes: DataFrame, codebooks: list[list[list[float]]],
              queries: DataFrame, k: int,
              id_col: str = "vec_id", qid_col: str = "qid",
              q_emb_col: str = "q_emb") -> DataFrame:
    """Asymmetric-distance top-k over byte codes: per query a lookup
    table of squared distances to every codeword (built once on the
    driver, O(|Q|·m·k_codes) floats, broadcast in the closure), then a
    scan of the codes with per-partition partial top-k — output
    ``(qid, vec_id, dist2, rank)``, shuffle carries partitions·|Q|·k
    rows."""
    import numpy as np

    from pyspark.sql import Window

    books = [np.asarray(b, dtype="float64") for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]
    q_rows = queries.select(qid_col, q_emb_col).collect()
    if not q_rows:
        raise ValueError("pq_search: empty queries frame")
    qids = [r[qid_col] for r in q_rows]
    luts = {}  # qid -> (m, k_codes) distance table
    for r in q_rows:
        qv = np.asarray(r[q_emb_col], dtype="float64")
        luts[r[qid_col]] = np.stack([
            ((books[j] - qv[j * sub:(j + 1) * sub][None, :]) ** 2).sum(axis=1)
            for j in range(m)])

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            codes_arr = np.stack(pdf["code"].map(
                lambda b: np.frombuffer(b, dtype="uint8")).to_numpy())
            ids = pdf[id_col].to_numpy()
            out_qid, out_id, out_d = [], [], []
            for q in qids:
                # gather: dist2[i] = sum_j lut[j, code[i, j]]
                d = luts[q][np.arange(m)[None, :], codes_arr].sum(axis=1)
                top = np.argsort(d, kind="stable")[:k]
                out_qid += [q] * len(top)
                out_id += list(ids[top])
                out_d += list(d[top])
            yield pd.DataFrame({qid_col: out_qid, id_col: out_id,
                                "dist2": out_d})

    partial = codes.mapInPandas(
        kernel, schema=f"{qid_col} bigint, {id_col} bigint, dist2 double")
    w = Window.partitionBy(qid_col).orderBy(F.asc("dist2"), F.asc(id_col))
    return (partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def rerank_exact(candidates: DataFrame, vectors: DataFrame,
                 queries: DataFrame, k: int,
                 id_col: str = "vec_id", qid_col: str = "qid",
                 emb_col: str = "embedding",
                 q_emb_col: str = "q_emb") -> DataFrame:
    """Two-stage retrieval's second stage: join a coarse candidate set
    (any ANN tier's top-C) back to the FULL vectors and rank exactly by
    squared L2.  The join touches only C rows per query — the standard
    recipe for recovering exact ordering that byte codes cannot express.
    Output: (qid, vec_id, dist2, rank)."""
    from pyspark.sql import Window

    cand = candidates.select(qid_col, id_col)
    joined = (cand.join(vectors.select(id_col, emb_col), id_col)
              .join(F.broadcast(queries.select(qid_col, q_emb_col)),
                    qid_col))
    dist2 = F.aggregate(
        F.zip_with(F.col(emb_col), F.col(q_emb_col),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    w = Window.partitionBy(qid_col).orderBy(F.asc("dist2"), F.asc(id_col))
    return (joined.withColumn("dist2", dist2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(qid_col, id_col, "dist2", "rank"))
