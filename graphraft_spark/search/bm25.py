"""BM25 ranked full-text retrieval over a document corpus.

The reference's fulltext path (graphraft.py's Neo4j fulltext index,
``db.index.fulltext.queryNodes``) is Lucene — which scores with BM25.
The engine's entity matcher (search/text.py) reproduces the *matching*
semantics; this module supplies the *ranking* semantics as a native
Spark plan, and doubles as the keyword-retrieval stage a training-data
pipeline uses for targeted corpus slicing (e.g. pulling topical
documents before DSIR weighting).

Scale shape (the 100 TB read):

- term frequencies and document length are a single pure-codegen
  projection over the corpus scan — the query's terms are a small
  literal list, so ``size(filter(words, w -> w = term))`` per term
  beats an explode+join by an entire shuffle;
- corpus statistics (N, avgdl, per-term document frequency) reduce to
  ONE row via a map-side-combined global aggregate, broadcast back;
- top-k is ``orderBy().limit(k)`` = TakeOrdered — per-partition heaps,
  only k rows cross to the driver-side merge, never a global sort.

No explode, no corpus-sized shuffle, no Python.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _words(text):
    """Whitespace tokens of normalized text — identical to the
    tokenization every other text operator (and its oracle) uses."""
    return F.split(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")),
                   " ")


def bm25_scores(docs: DataFrame, query_terms: list[str],
                text_col: str = "text", id_col: str = "doc_id",
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """(id, bm25) for every document matching ≥1 query term.

    Robertson/Sparck-Jones BM25 with the Lucene idf form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` — non-negative for every
    df, the same formula Lucene's BM25Similarity uses, so scores are
    directly comparable to what the reference's fulltext index would
    emit.  ``query_terms`` must be a small literal list (it is a user
    query, not a frame).
    """
    if not query_terms or len(query_terms) > 64:
        raise ValueError("query_terms must be a non-empty list of at "
                         f"most 64 terms, got {len(query_terms)}")
    w = _words(F.col(text_col))

    def tf_of(term):
        # closure factory: a default-arg lambda would make F.filter
        # treat the second parameter as the element index
        return F.size(F.filter(w, lambda x: x == F.lit(term)))

    from graphraft_spark.data.partitioning import fanout_repartition

    # per-term `filter(words, ...)` scans are interpreted per element;
    # spread a single-row-group corpus file across cores first (no-op
    # on a properly partitioned big scan)
    proj = fanout_repartition(docs).select(
        F.col(id_col),
        F.size(w).alias("dl"),
        *[tf_of(t).alias(f"tf{i}") for i, t in enumerate(query_terms)],
    )
    stats = proj.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
          for i in range(len(query_terms))],
    )
    scored = proj.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf{i}").cast("double")
        idf = F.log(F.lit(1.0) + (F.col("n") - F.col(f"df{i}") + 0.5)
                    / (F.col(f"df{i}") + 0.5))
        term = idf * (tf * (k1 + 1.0)
                      / (tf + k1 * (1.0 - b
                                    + b * F.col("dl") / F.col("avgdl"))))
        score = term if score is None else score + term
    return (scored
            .withColumn("bm25", score)
            .filter(F.col("bm25") > 0)
            .select(id_col, "bm25"))


def term_bucket(term, n_buckets: int):
    """Engine-portable term → partition bucket (md5-prefix hash, the
    same portable-hash family every other operator uses)."""
    return (F.conv(F.substring(F.md5(term), 1, 15), 16, 10)
            .cast("bigint") % n_buckets)


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of :func:`term_bucket` — lets the query path
    compute the pruning literals without a Spark job."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15],
               16) % n_buckets


def _postings_of(docs: DataFrame, text_col: str, id_col: str,
                 n_buckets: int) -> DataFrame:
    w = _words(F.col(text_col))
    return (docs
            .select(F.col(id_col), F.size(w).alias("dl"),
                    F.explode(w).alias("term"))
            .groupBy(id_col, "dl", "term")
            .agg(F.count("*").alias("tf"))
            .withColumn("bucket", term_bucket(F.col("term"),
                                              n_buckets)))


def _stats_of(docs: DataFrame, text_col: str) -> DataFrame:
    """Additive per-epoch stats: document count and summed doc length.
    Queries recover exact global N and avgdl by summing across epochs
    (integer sums — no running-average drift)."""
    w = _words(F.col(text_col))
    return docs.select(F.size(w).alias("dl")).agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))


def build_text_index(docs: DataFrame, index_dir: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     n_buckets: int = 64) -> None:
    """Persist an inverted index: postings (term, id, tf, dl)
    partitioned by (term bucket, epoch), plus additive per-epoch corpus
    stats.  The build writes epoch 0; :func:`bm25_query_indexed` reads
    every epoch directory under the index.

    This is the 100 TB retrieval shape — the per-query scan of
    :func:`bm25_scores` amortizes into one build (an explode + one
    count shuffle), and every query afterwards reads ONLY the postings
    partitions its terms hash to (partition pruning).
    Document length is denormalized into the postings so scoring never
    joins a corpus-sized doclen table.
    """
    postings = _postings_of(docs, text_col, id_col, n_buckets) \
        .withColumn("epoch", F.lit(0))
    (postings.repartition("bucket")
     .write.partitionBy("bucket", "epoch").mode("overwrite")
     .parquet(f"{index_dir}/postings"))
    (_stats_of(docs, text_col).withColumn("epoch", F.lit(0))
     .write.partitionBy("epoch").mode("overwrite")
     .parquet(f"{index_dir}/stats"))
    # record the bucket count so the query path prunes with the same
    # modulus the build used
    docs.sparkSession.createDataFrame(
        [(n_buckets,)], "n_buckets int").coalesce(1) \
        .write.mode("overwrite").parquet(f"{index_dir}/meta")


# (app_id, realpath, tree fingerprint) -> collected 1-row meta (static
# index-layout constants: n_buckets).  The meta table is written once
# at index build, so the memo saves a footer read + a 1-row collect
# JOB per query construction.
_META_MEMO: OrderedDict[tuple, object] = OrderedDict()


def _index_meta(spark, index_dir: str):
    from graphraft_spark.sources.pq_cache import stat_memo

    p = f"{index_dir}/meta"

    def read():
        [meta] = spark.read.parquet(p).collect()
        return meta

    return stat_memo(_META_MEMO, spark, p, read)


def bm25_query_indexed(spark, index_dir: str, query_terms: list[str],
                       k: int = 20, id_col: str = "doc_id",
                       k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-k by BM25 against a persisted index: reads only the queried
    terms' postings partitions.  Result is identical (at the rounded-6
    output precision) to :func:`bm25_topk` over the indexed corpus.

    Per-term document frequency is recovered from the pruned postings
    themselves (a term's posting count IS its df), so no separate df
    table has to stay in sync.

    The meta row and the postings/stats table handles are memoized
    (``_index_meta``, ``load_pq``), skipping the per-query footer and
    listing cost; the memo is keyed on each table's tree fingerprint,
    so a rebuilt index gets fresh handles."""
    from graphraft_spark.sources.pq_cache import load_pq

    if not query_terms or len(query_terms) > 64:
        raise ValueError("query_terms must be a non-empty list of at "
                         f"most 64 terms, got {len(query_terms)}")
    meta = _index_meta(spark, index_dir)
    postings = load_pq(spark, f"{index_dir}/postings")
    stats_src = load_pq(spark, f"{index_dir}/stats")
    n_buckets = meta.n_buckets
    buckets = sorted({term_bucket_py(t, n_buckets) for t in query_terms})
    cand = (postings
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(list(query_terms))))
    dfs = cand.groupBy("term").agg(F.count("*").alias("df"))
    stats = stats_src.agg(
        F.sum("n_docs").alias("n"),
        (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"))
    tf = F.col("tf").cast("double")
    idf = F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    contrib = idf * (tf * (k1 + 1.0)
                     / (tf + k1 * (1.0 - b
                                   + b * F.col("dl") / F.col("avgdl"))))
    return (cand
            .join(F.broadcast(dfs), "term")
            .crossJoin(F.broadcast(stats))
            .select(id_col, contrib.alias("contrib"))
            .groupBy(id_col)
            .agg(F.round(F.sum("contrib"), 6).alias("bm25"))
            .orderBy(F.desc("bm25"), F.asc(id_col))
            .limit(k))


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 20,
              text_col: str = "text", id_col: str = "doc_id",
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-k documents by BM25, deterministic tiebreak on id.

    The rank key is the score ROUNDED to 6 decimals so the ordering is
    reproducible across engines (IEEE summation-order noise in the last
    bits cannot reorder near-ties differently here vs an oracle)."""
    scores = bm25_scores(docs, query_terms, text_col=text_col,
                         id_col=id_col, k1=k1, b=b)
    return (scores
            .select(id_col, F.round("bm25", 6).alias("bm25"))
            .orderBy(F.desc("bm25"), F.asc(id_col))
            .limit(k))
