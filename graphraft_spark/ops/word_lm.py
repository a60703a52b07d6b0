"""Distributed word n-gram language model: train bigram/unigram counts
over a trusted corpus with plain aggregations, then score any corpus by
mean transition log-probability under stupid backoff (Brants et al.
2007, "Large Language Models in Machine Translation").

This is the CCNet perplexity-filter recipe (train on trusted text,
score the raw crawl, keep the low-perplexity band) run in-engine at
corpus scale, with no driver-side model at all.

Scale shape (the 100 TB read):

- training is two map-side-combined count shuffles (bigram key,
  unigram key) — counts frames are vocab-sized, orders of magnitude
  smaller than the corpus;
- scoring explodes each document's transitions and sort-merge-joins
  them against the bigram counts on the transition key (the classic
  exploded-tokens join — no per-executor model, so the LM may be far
  larger than executor memory, which is exactly where a broadcast
  reference-LM seam stops scaling);
- unigram counts and the (total, vocab) scalar are broadcast;
- per-doc mean is one final map-side-combined aggregate on doc_id.

Everything is exact integer counts + deterministic log-ratios, so the
whole pipeline is SQL-oracle-checkable (unlike the float k-means IVF
path, which is honestly not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _words(text):
    """Same normalization/tokenization as every other text operator."""
    return F.split(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")),
                   " ")


def _transitions(docs: DataFrame, text_col: str,
                 id_col: str) -> DataFrame:
    """(id, prev, cur) — one row per in-document bigram transition, in
    multiplicity (scoring averages over occurrences, not types)."""
    w = _words(F.col(text_col))
    toks = F.col("_w")
    # arrays_zip over two shifted slices instead of a transform/element_at
    # HOF: higher-order lambdas never enter whole-stage codegen, and this
    # expression runs over every token of the corpus (twice per LM query:
    # train + score) — measured 1.65x faster, identical rows/order
    n = F.size(toks)
    pairs = F.arrays_zip(F.slice(toks, 1, n - 1).alias("prev"),
                         F.slice(toks, 2, n - 1).alias("cur"))
    return (docs
            .select(id_col, w.alias("_w"))
            .filter(F.size("_w") >= 2)
            .select(id_col, F.explode(pairs).alias("t"))
            .select(id_col, F.col("t.prev").alias("prev"),
                    F.col("t.cur").alias("cur")))


def train_bigram_lm(train_docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id"):
    """Train on a trusted corpus → (bigram_counts, unigram_counts):
    (prev, cur, c_bi) and (tok, c_uni).  Both are plain count
    aggregates — persist them as parquet and they ARE the model.

    Both frames are lazily localCheckpoint'd: the scorer consumes the
    unigram table THREE times (total/vocab scalar, c_prev, c_cur) and
    Catalyst plans duplicated subtrees independently, so without the
    truncation the corpus-sized explode+count re-executes per
    consumer."""
    trans = _transitions(train_docs, text_col, id_col)
    bigrams = (trans.groupBy("prev", "cur")
               .agg(F.count("*").alias("c_bi"))
               .localCheckpoint(eager=False))
    w = _words(F.col(text_col))
    unigrams = (train_docs
                .select(F.explode(w).alias("tok"))
                .groupBy("tok").agg(F.count("*").alias("c_uni"))
                .localCheckpoint(eager=False))
    return bigrams, unigrams


def stupid_backoff_score(docs: DataFrame, bigrams: DataFrame,
                         unigrams: DataFrame, alpha: float = 0.4,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, n_trans, lp_mean): mean log P over each document's
    transitions.  P(cur|prev) = c(prev,cur)/c(prev) when the bigram was
    seen in training, else alpha * (c(cur)+1)/(total+V) — the unigram
    backoff add-one-smoothed so out-of-vocabulary words score finitely
    instead of -inf.  Lower lp_mean = less like the training corpus
    (the CCNet keep-band is a quantile on this column)."""
    trans = _transitions(docs, text_col, id_col)
    scalar = F.broadcast(unigrams.agg(
        F.sum("c_uni").alias("total"),
        F.count("*").alias("v")))
    prev_cnt = F.broadcast(
        unigrams.select(F.col("tok").alias("prev"),
                        F.col("c_uni").alias("c_prev")))
    cur_cnt = F.broadcast(
        unigrams.select(F.col("tok").alias("cur"),
                        F.col("c_uni").alias("c_cur")))
    lp = F.when(
        F.col("c_bi").isNotNull() & F.col("c_prev").isNotNull(),
        F.log(F.col("c_bi").cast("double") / F.col("c_prev")),
    ).otherwise(
        F.log(F.lit(alpha) * (F.coalesce(F.col("c_cur"), F.lit(0))
                              + 1.0)
              / (F.col("total") + F.col("v"))))
    return (trans
            .join(bigrams, ["prev", "cur"], "left")
            .join(prev_cnt, "prev", "left")
            .join(cur_cnt, "cur", "left")
            .crossJoin(scalar)
            .select(id_col, lp.alias("lp"))
            .groupBy(id_col)
            .agg(F.count("*").alias("n_trans"),
                 F.avg("lp").alias("lp_mean")))
