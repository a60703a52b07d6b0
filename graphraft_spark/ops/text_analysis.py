"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting — all native column
expressions (whole-stage codegen; zero Python in executors)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from graphraft_spark.ops.dedup import _h60, normalize_text, shingles, words

# tiny per-language stopword lexicons for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu", "mit", "den", "von"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "es", "por"],
    "fr": ["le", "la", "de", "et", "un", "les", "des", "en", "est", "que"],
}


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish regex token count: alnum runs + each punctuation char
    separately (the len/4-style budget heuristic's exact cousin,
    SURVEY D5)."""
    return F.size(F.regexp_extract_all(
        text, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0))


def quality_features(text: Column) -> dict[str, Column]:
    """Length/punct/stopword-ratio features for quality filtering."""
    ws = words(text)
    n_words = F.size(ws)
    n_chars = F.length(text)
    en = F.array([F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(ws, lambda w: F.array_contains(en, w)))
    n_punct = F.length(text) - F.length(
        F.regexp_replace(text, r"[^\w\s]", ""))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_words": n_words.cast("bigint"),
        "mean_word_len": F.when(
            n_words > 0,
            F.aggregate(ws, F.lit(0.0), lambda a, w: a + F.length(w))
            / n_words).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(
            n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            n_words > 0, stop_hits.cast("double") / n_words).otherwise(F.lit(0.0)),
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: stopword presence, sane word
    length, low punctuation — the standard cheap pre-filter."""
    f = quality_features(text)
    word_len_ok = (
        (f["mean_word_len"] >= 3) & (f["mean_word_len"] <= 10)).cast("double")
    return F.round(
        0.4 * F.least(f["stopword_ratio"] * 4, F.lit(1.0))
        + 0.3 * word_len_ok
        + 0.3 * (1 - F.least(f["punct_ratio"] * 5, F.lit(1.0))), 6)


def langid_scores(text: Column) -> Column:
    """Stopword-hit score per language: ARRAY<STRUCT<lang,score>> ordered
    by (score DESC, lang) — argmax = element 1."""
    ws = words(text)
    n = F.size(ws)
    entries = []
    for lang in sorted(STOPWORDS):
        lex = F.array([F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(ws, lambda w: F.array_contains(lex, w)))
        score = F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))
        entries.append(F.struct((-score).alias("neg"),
                                F.lit(lang).alias("lang")))
    ordered = F.array_sort(F.array(*entries))
    return F.transform(ordered, lambda x: F.struct(
        x["lang"].alias("lang"), (-x["neg"]).alias("score")))


def predicted_lang(text: Column) -> Column:
    return F.element_at(langid_scores(text), 1)["lang"]


def predicted_lang_rounded(text: Column, digits: int = 9) -> Column:
    """predicted_lang with per-language scores ROUNDED before the
    argmax — identical prediction except at sub-1e-9 near-ties, where
    the rounding makes the tie order engine-portable (the form every
    oracle-compared query uses)."""
    ws = words(text)
    n = F.size(ws)
    entries = []
    for lang in sorted(STOPWORDS):
        lex = F.array([F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(ws, lambda w: F.array_contains(lex, w)))
        score = F.round(
            F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0)),
            digits)
        entries.append(F.struct((-score).alias("neg"),
                                F.lit(lang).alias("lang")))
    return F.element_at(F.array_sort(F.array(*entries)), 1)["lang"]


def doc_fingerprint(text: Column, k: int = 3, num: int = 4) -> Column:
    """Rolling-hash document fingerprint: the ``num`` smallest shingle
    hashes (winnowing-style sketch) as ARRAY<BIGINT> — stable under
    whitespace/case noise via normalize_text."""
    hs = F.transform(shingles(text, k), _h60)
    return F.slice(F.array_sort(hs), 1, num)


def content_signature(text: Column) -> Column:
    """One-value exact fingerprint (md5-based) of normalized text."""
    return F.md5(normalize_text(text))


def chunk_documents(df, text_col: str = "text", id_col: str = "doc_id",
                    chunk_tokens: int = 128, overlap: int = 32):
    """Overlapping token-window chunking — the standard RAG /
    pretraining-sequence chunker: each document becomes chunks of
    ``chunk_tokens`` whitespace tokens, consecutive chunks sharing
    ``overlap`` tokens.  Start positions are 1, 1+step, ... up to
    ``max(1, n_tokens - overlap)`` with step = chunk_tokens - overlap,
    so every token is covered, the final chunk may be short, and no
    chunk is fully contained in its predecessor.

    Pure higher-order expressions (split → sequence → transform →
    posexplode): zero Python, zero shuffle — chunking is row-local, so
    at 100 TB this is a single codegen'd scan whose output feeds the
    embedding/packing stages.  Returns
    (id, chunk_id, start_token, chunk, n_tokens), start 1-based.
    """
    from graphraft_spark.ops.dedup import words

    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    base = df.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    n = F.size("_w")
    starts = F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)),
                        F.lit(step))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start_token"),
            F.array_join(F.slice("_w", s, chunk_tokens), " ")
            .alias("chunk"),
            F.least(F.lit(chunk_tokens), n - s + 1).alias("n_tokens")))
    return (base.select(id_col,
                        F.posexplode(chunks).alias("chunk_id", "_c"))
            .select(id_col, "chunk_id", "_c.start_token", "_c.chunk",
                    "_c.n_tokens"))


# ---------------------------------------------------------------------------
# Corpus curation: source mixing quotas, context-window packing, PII scrub
# ---------------------------------------------------------------------------

# Regexes deliberately restricted to syntax that behaves identically
# under Java regex (Spark) and RE2 (DuckDB/most external engines).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_NUMBER_RE = r"[0-9]{9,}"


def ngram_buckets(text: Column, n_buckets: int = 10_000) -> Column:
    """Hashed-bigram feature buckets for a document (DSIR's hashed
    n-gram featurization, Xie et al. 2023, arXiv:2302.03169): every
    word 2-gram portable-hashed into ``n_buckets`` — with
    multiplicity, matching the unigram-over-buckets language model the
    importance weights assume."""
    return F.transform(bigrams_all(text), lambda g: _h60(g) % n_buckets)


def dsir_weights(df, target_df, text_col: str = "text",
                 n_buckets: int = 10_000, smooth: float = 1.0):
    """DSIR importance weights: per document,
    ``sum over its n-gram buckets of log(p_target(b) / q_raw(b))``
    — the hashed-n-gram log-likelihood ratio of Xie et al. 2023 —
    where p/q are add-``smooth`` smoothed bucket distributions of the
    (small) target corpus and the raw corpus.

    Scale shape: the bucket log-ratio table is ≤ ``n_buckets`` rows —
    built with two count aggregations, broadcast to the corpus scan;
    the per-doc weight is one explode + sum.  Raw-side counts can be
    computed on a sample at 100 TB (distribution estimate, not a sum
    over all docs).  Returns (``df`` columns..., dsir_weight DOUBLE);
    select the top-k by weight (deterministic) or Gumbel-sample for
    the paper's stochastic variant."""
    def bucket_counts(frame, name):
        return (frame.select(
            F.explode(ngram_buckets(F.col(text_col), n_buckets))
            .alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias(name)))

    # each count table feeds two branches (its total + the ratio join);
    # lazy checkpoints keep the corpus-sized explode+aggregate from
    # re-executing per consumer (Catalyst plans duplicated subtrees
    # independently)
    tgt = bucket_counts(target_df, "t_cnt").localCheckpoint(eager=False)
    raw = bucket_counts(df, "r_cnt").localCheckpoint(eager=False)
    # corpus totals as 1-row frames (no driver collect — the whole
    # weight table stays one lazy plan)
    t_tot = tgt.agg(F.sum("t_cnt").alias("t_tot"))
    r_tot = raw.agg(F.sum("r_cnt").alias("r_tot"))
    ratio = (raw.join(tgt, "bucket", "outer")
             .crossJoin(F.broadcast(t_tot))
             .crossJoin(F.broadcast(r_tot))
             .select("bucket",
                     (F.log((F.coalesce("t_cnt", F.lit(0)) + smooth)
                            / (F.col("t_tot") + smooth * n_buckets))
                      - F.log((F.coalesce("r_cnt", F.lit(0)) + smooth)
                              / (F.col("r_tot") + smooth * n_buckets)))
                     .alias("log_ratio")))
    per_doc = (df.select(F.col("*"),
                         F.explode_outer(
                             ngram_buckets(F.col(text_col), n_buckets))
                         .alias("bucket"))
               .join(F.broadcast(ratio), "bucket", "left"))
    keys = [c for c in df.columns]
    return (per_doc.groupBy(*keys)
            .agg(F.coalesce(F.sum("log_ratio"), F.lit(0.0))
                 .alias("dsir_weight")))


def source_quota(df, cap: int, source_col: str = "source",
                 order_col: str = "doc_id"):
    """Per-source mixing quota: keep the first ``cap`` documents per
    source in a deterministic order — the corpus-mixing step of a
    training-data pipeline (per-domain caps).  One shuffle by source;
    at 100 TB the window is per-source-partition and never global."""
    from pyspark.sql import Window

    w = Window.partitionBy(source_col).orderBy(order_col)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= cap).drop("_rn"))


def pack_bins(df, budget: int, size_col: str, order_col: str = "doc_id",
              out_col: str = "bin_id"):
    """Context-window packing key: documents in a deterministic order
    are assigned to fixed-budget bins by EXCLUSIVE cumulative size —
    ``bin = floor(cum_before / budget)`` — the sharding approximation of
    greedy packing (a document may straddle two bins; exact greedy
    needs per-row state, see streaming/stateful.py).  The global window
    here is the single-shard case; at scale, partition by a shard key
    first and pack within shards."""
    from pyspark.sql import Window

    w = (Window.orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    return df.withColumn(
        out_col, F.floor(cum_before / F.lit(float(budget))).cast("bigint"))


def scrub_pii(text: Column, email_token: str = "<EMAIL>",
              number_token: str = "<NUM>") -> Column:
    """PII scrub for training corpora: replace email addresses and long
    digit runs with typed placeholder tokens.  Pure regexp_replace —
    codegen, no Python."""
    out = F.regexp_replace(text, EMAIL_RE, email_token)
    return F.regexp_replace(out, LONG_NUMBER_RE, number_token)


def bigrams_all(text: Column) -> Column:
    """ALL word 2-grams in order (no dedup — repetition measurement
    needs multiplicities, unlike the dedup shingles)."""
    ws = words(text)
    n = F.size(ws)
    grams = F.zip_with(ws, F.slice(ws, 2, F.greatest(n - 1, F.lit(0))),
                       lambda a, b: F.concat_ws(" ", a, b))
    return F.when(n >= 2, F.slice(grams, 1, F.greatest(n - 1, F.lit(1)))) \
        .otherwise(ws)


def repetition_features(df, text_col: str = "text",
                        id_col: str = "doc_id"):
    """Gopher-style repetition signals per document:

    * ``dup_word_frac``    — 1 − distinct/total words (word-level churn)
    * ``top_bigram_share`` — occurrences of the most frequent 2-gram /
      total 2-grams (boilerplate loops score high)
    * ``dup_bigram_frac``  — 1 − distinct/total 2-grams

    Published repetition filters drop docs above thresholds on exactly
    these (e.g. top-2-gram share > 0.2).  Shape: explode → per-(doc,
    gram) count → per-doc aggregate — two shuffles, both with map-side
    partial aggregation; no per-doc quadratic work, no Python."""
    grams = df.select(
        F.col(id_col),
        F.size(words(F.col(text_col))).alias("n_words"),
        F.size(F.array_distinct(words(F.col(text_col))))
        .alias("n_distinct_words"),
        F.explode(bigrams_all(F.col(text_col))).alias("g"),
    )
    per_gram = grams.groupBy(id_col, "n_words", "n_distinct_words", "g") \
        .agg(F.count("*").alias("cnt"))
    return (
        per_gram.groupBy(id_col, "n_words", "n_distinct_words")
        .agg(F.sum("cnt").alias("n_bigrams"),
             F.max("cnt").alias("top_cnt"),
             F.count("*").alias("n_distinct_bigrams"))
        .select(
            id_col, "n_words",
            F.round(1 - F.col("n_distinct_words") / F.col("n_words"), 6)
            .alias("dup_word_frac"),
            F.round(F.col("top_cnt") / F.col("n_bigrams"), 6)
            .alias("top_bigram_share"),
            F.round(1 - F.col("n_distinct_bigrams") / F.col("n_bigrams"), 6)
            .alias("dup_bigram_frac"),
        )
    )


def pack_bins_scalable(df, budget: int, size_col: str,
                       order_col: str = "doc_id",
                       out_col: str = "bin_id", partitions: int | None = None):
    """Distributed twin of :func:`pack_bins` — identical output
    (bin = floor(exclusive-cumulative-size / budget) over the global
    ``order_col`` order) WITHOUT a global window:

    1. range-partition by ``order_col`` so partition p holds a
       contiguous key range, and compute per-partition totals (one
       small aggregate — |partitions| rows to the driver);
    2. turn those into per-partition OFFSETS (prefix sum over the
       ordered partition ids, done driver-side on n numbers) and
       broadcast them back as a join table;
    3. local exclusive cumsum per partition (window partitioned by the
       partition id — never global) + offset = the global cumsum.

    The result is independent of where the range boundaries land, so
    the sampling inside repartitionByRange cannot change the output —
    asserted against the single-window form in tests."""
    from pyspark.sql import Window

    spark = df.sparkSession
    n = partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = df.repartitionByRange(n, F.col(order_col)) \
        .withColumn("_pid", F.spark_partition_id())
    ranged = ranged.localCheckpoint(eager=True)  # pin pid↔row assignment
    totals = (ranged.groupBy("_pid")
              .agg(F.sum(size_col).alias("_tot"),
                   F.min(order_col).alias("_lo"))
              .collect())
    # partition ids ordered by their key range → running offsets
    offsets, run = {}, 0
    for r in sorted(totals, key=lambda r: r["_lo"]):
        offsets[r["_pid"]] = run
        run += r["_tot"] or 0
    off_df = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off bigint")
    w = (Window.partitionBy("_pid").orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    local_before = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    return (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.floor(
            (F.col("_off") + local_before) / F.lit(float(budget)))
            .cast("bigint"))
        .drop("_pid", "_off")
    )


def temperature_mix(df, rates: dict[str, float],
                    source_col: str = "source", key_col: str = "doc_id",
                    salt: str = "mix"):
    """Deterministic hash-thinning to caller-given per-source keep
    rates: keep a row iff its portable key hash falls under
    rate·2^20.  Reproducible across runs/partitionings/engines (same
    md5 arithmetic as data/ops.hash_split — expressible in a DuckDB
    oracle), one scan, no shuffle, no RNG."""
    from graphraft_spark.data.ops import _portable_hash60

    m = 1 << 20
    thresh = None
    for s, r in rates.items():
        t = F.lit(int(round(r * m)))
        cond = F.col(source_col) == s
        thresh = F.when(cond, t) if thresh is None else thresh.when(cond, t)
    if thresh is None:
        raise ValueError("rates must not be empty")
    thresh = thresh.otherwise(F.lit(0))  # unknown source -> drop
    h = _portable_hash60(F.col(key_col), salt) % m
    return df.filter(h < thresh)


def source_divergence(df, group_col: str = "source",
                      text_col: str = "text", smooth: float = 1.0):
    """Corpus-mix drift monitor: per group (source / snapshot / shard),
    the KL divergence of its add-``smooth`` smoothed unigram
    distribution from the whole corpus's — the number a pipeline
    alerts on when one crawl slice starts looking unlike the mix
    (and the objective SemDeDup/DSIR-style reweighting shifts).

    KL(P_g || P_c) = sum over corpus vocab of P_g(t) ln(P_g(t)/P_c(t)),
    both distributions smoothed over the SAME support (corpus vocab) so
    every term contributes and the sum is finite.

    Scale shape: one explode + two map-side-combined count aggregates;
    the groups×vocab completion frame is vocab-sized per group (orders
    of magnitude below the corpus) built by broadcasting the group
    totals onto the vocab table — the corpus is scanned exactly once.
    """
    w = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                        r"\s+", " ")), " ")
    toks = df.select(F.col(group_col).alias("g"),
                     F.explode(w).alias("tok"))
    g_cnt = toks.groupBy("g", "tok").agg(F.count("*").alias("c_gt"))
    c_cnt = toks.groupBy("tok").agg(F.count("*").alias("c_t"))
    g_tot = g_cnt.groupBy("g").agg(F.sum("c_gt").alias("n_g"))
    scalar = F.broadcast(c_cnt.agg(F.sum("c_t").alias("n"),
                                   F.count("*").alias("v")))
    # complete support: every (group, vocab term) pair, absent counts 0
    full = (c_cnt.crossJoin(F.broadcast(g_tot))
            .join(g_cnt, ["g", "tok"], "left")
            .crossJoin(scalar))
    p_g = (F.coalesce("c_gt", F.lit(0)) + smooth) \
        / (F.col("n_g") + smooth * F.col("v"))
    p_c = (F.col("c_t") + smooth) / (F.col("n") + smooth * F.col("v"))
    return (full
            .select(F.col("g").alias(group_col),
                    (p_g * F.log(p_g / p_c)).alias("term"))
            .groupBy(group_col)
            .agg(F.sum("term").alias("kl")))


def _positional_kgrams(text: Column, k: int) -> Column:
    """Word k-grams in position order WITHOUT dedup (winnowing needs
    the positional sequence; ops/dedup.shingles dedups for set ops).
    Same zip_with construction; texts shorter than k words yield one
    whole-text gram."""
    ws = words(text)
    n = F.size(ws)
    sh = ws
    for off in range(1, k):
        nxt = F.slice(ws, off + 1, F.greatest(n - off, F.lit(0)))
        sh = F.zip_with(sh, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(n >= k,
                  F.slice(sh, 1, F.greatest(n - (k - 1), F.lit(1)))) \
        .otherwise(F.slice(sh, 1, 1))


def winnow_fingerprints(text: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, the
    MOSS algorithm): hash every word k-gram positionally, slide a
    w-window over the hash sequence, select each window's minimum, and
    collapse repeats — ARRAY<BIGINT> of selected hashes.  Guarantees
    every shared run of at least w + k - 1 words between two documents
    shares at least one fingerprint, with expected density 2/(w+1) —
    the positional coverage guarantee the top-``num``-mins sketch
    (doc_fingerprint) does not give.  Pure codegen expressions; one
    corpus scan, zero shuffles."""
    hs = F.transform(_positional_kgrams(text, k), _h60)
    m = F.size(hs)
    wins = F.when(
        m >= w,
        F.transform(F.sequence(F.lit(1), m - (w - 1)),
                    lambda j: F.array_min(F.slice(hs, j, w))),
    ).otherwise(F.array(F.array_min(hs)))
    return F.array_distinct(wins)


def c4_line_filter(text: Column, min_words: int = 3) -> Column:
    """C4 line-level cleaning (Raffel et al. 2020, arXiv:1910.10683
    §2.2): keep only lines that (a) end in terminal punctuation
    (. ! ? or a closing quote), (b) carry at least ``min_words``
    whitespace words, and (c) do not mention "javascript"
    (case-insensitive) — the cookie-banner/JS-warning heuristic.

    Returns the array of SURVIVING lines in order (raw text split on
    newline; line content is not normalized — C4 filters on surface
    form).  Pure higher-order expressions — codegen, oracle-replayable.
    """
    lines = F.split(text, "\n")
    return F.filter(
        lines,
        lambda ln: ln.rlike('[.!?]["”]?\\s*$')
        & (F.size(F.split(F.trim(ln), r"\s+")) >= min_words)
        & ~F.lower(ln).contains("javascript"))


def c4_doc_gate(text: Column) -> Column:
    """C4's document-level gates as one expression: no placeholder
    text ('lorem ipsum'), no curly brace (code) — the composable form
    :func:`c4_clean` and the curation verdict share."""
    return (~F.lower(text).contains("lorem ipsum")
            & ~text.contains("{"))


def c4_clean(df, text_col: str = "text", id_col: str = "doc_id",
             min_words: int = 3):
    """C4 cleaning end-to-end: line filter plus the document-level
    gates of the same recipe — drop any document containing "lorem
    ipsum" (placeholder text) or a curly brace (code).  Returns
    (id, clean_text, n_lines_kept, n_lines, doc_kept); the text of a
    dropped document is still cleaned (callers filter on ``doc_kept``
    — keeping the row makes the gate auditable).

    One scan, zero shuffles, zero Python — the shape that matters when
    this runs first over a raw 100 TB crawl."""
    t = F.col(text_col)
    kept = c4_line_filter(t, min_words)
    doc_kept = c4_doc_gate(t)
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(kept).alias("n_lines_kept"),
        F.size(F.split(t, "\n")).alias("n_lines"),
        doc_kept.alias("doc_kept"))


# Gopher quality-gate thresholds (Rae et al. 2021, arXiv:2112.11446
# Appendix A1.1), exposed for callers that tune them
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(text: Column, min_words: int = 50,
                 max_words: int = 100_000) -> dict[str, "Column"]:
    """The Gopher gate rules as named COLUMN EXPRESSIONS (insertion
    order = output order) — the composable form :func:`gopher_gates`
    projects and :func:`graphraft_spark.ops.curation.curate_corpus`
    fuses into its single verdict scan."""
    ws = words(text)
    n_words = F.size(ws)
    mean_len = F.when(
        n_words > 0,
        F.aggregate(ws, F.lit(0.0), lambda a, w: a + F.length(w))
        / n_words).otherwise(F.lit(0.0))
    n_symbols = (
        F.size(F.regexp_extract_all(text,
                                    F.lit(r"#|\.\.\.|…"), 0)))
    alpha_words = F.size(F.filter(ws, lambda w: w.rlike("[a-z]")))
    stops = F.array([F.lit(s) for s in GOPHER_STOPWORDS])
    n_stops = F.size(F.array_intersect(F.array_distinct(ws), stops))

    ok_word_count = (n_words >= min_words) & (n_words <= max_words)
    ok_mean_word_len = (mean_len >= 3.0) & (mean_len <= 10.0)
    ok_symbol_ratio = F.when(
        n_words > 0,
        n_symbols.cast("double") / n_words <= 0.1).otherwise(F.lit(False))
    ok_alpha_words = F.when(
        n_words > 0,
        alpha_words.cast("double") / n_words >= 0.8).otherwise(F.lit(False))
    ok_stopwords = n_stops >= 2
    return {
        "ok_word_count": ok_word_count,
        "ok_mean_word_len": ok_mean_word_len,
        "ok_symbol_ratio": ok_symbol_ratio,
        "ok_alpha_words": ok_alpha_words,
        "ok_stopwords": ok_stopwords,
        "keep": (ok_word_count & ok_mean_word_len & ok_symbol_ratio
                 & ok_alpha_words & ok_stopwords),
    }


def gopher_gates(df, text_col: str = "text", id_col: str = "doc_id",
                 min_words: int = 50, max_words: int = 100_000):
    """Gopher document-quality gates (Rae et al. 2021, A1.1) as one
    per-rule boolean frame: (id, ok_word_count, ok_mean_word_len,
    ok_symbol_ratio, ok_alpha_words, ok_stopwords, keep).

    * word count in [min_words, max_words]
    * mean word length in [3, 10]
    * symbol-to-word ratio ≤ 0.1  (symbols: '#' and '...'/'…')
    * ≥ 80% of words contain at least one alphabetic character
    * contains ≥ 2 distinct Gopher stop words

    (The paper's bullet/ellipsis LINE-share rules belong to the line
    pass — see :func:`c4_line_filter` for the line stage.)  All rules
    are plain expressions over one scan; ``keep`` is their conjunction.
    Returning per-rule booleans instead of a filtered frame makes the
    gate auditable — corpus curation wants per-rule kill counts."""
    rules = gopher_rules(F.col(text_col), min_words, max_words)
    return df.select(F.col(id_col),
                     *[v.alias(k) for k, v in rules.items()])


def pack_sequences(df, budget: int, tokens_col: str = "tokens",
                   id_col: str = "doc_id", scalable: bool = True):
    """Sequence packing for training batches: concatenate documents'
    tokens into fixed-budget sequences, keeping per-document boundaries
    so the trainer can reset attention masks at document edges (the
    standard pretraining/SFT packing step downstream of
    :func:`pack_bins`).

    Returns (bin_id, doc_ids, tokens, boundaries, n_tokens): documents
    in deterministic ``id_col`` order within each bin; ``boundaries[i]``
    is the exclusive token offset where document i starts.  Bin
    assignment is the sharding approximation (a document may straddle
    — same contract as pack_bins); one range shuffle + one bin shuffle.
    """
    sized = df.select(F.col(id_col), F.col(tokens_col).alias("_t")) \
        .withColumn("_n", F.size("_t"))
    binner = pack_bins_scalable if scalable else pack_bins
    binned = binner(sized, budget, "_n", order_col=id_col)
    arr = (binned.groupBy("bin_id")
           .agg(F.array_sort(F.collect_list(
               F.struct(F.col(id_col).alias("i"), F.col("_t").alias("t"),
                        F.col("_n").alias("n")))).alias("ds")))
    offs = F.slice(F.aggregate(
        F.col("ds"),
        F.struct(F.array(F.lit(0).cast("bigint")).alias("offs"),
                 F.lit(0).cast("bigint").alias("tot")),
        lambda acc, x: F.struct(
            F.concat(acc["offs"],
                     F.array(acc["tot"] + x["n"])).alias("offs"),
            (acc["tot"] + x["n"]).alias("tot")),
        lambda acc: acc["offs"]), 1, F.size("ds"))
    return arr.select(
        "bin_id",
        F.transform("ds", lambda x: x["i"]).alias("doc_ids"),
        F.flatten(F.transform("ds", lambda x: x["t"])).alias("tokens"),
        offs.alias("boundaries"),
        F.aggregate("ds", F.lit(0).cast("bigint"),
                    lambda a, x: a + x["n"]).alias("n_tokens"))


def span_corruption(df, budget_denom: int = 1_000_000,
                    mask_rate: float = 0.15, span: int = 3,
                    tokens_col: str = "tokens", id_col: str = "doc_id",
                    salt: str = "t5"):
    """T5-style span-corruption examples (Raffel et al. 2020 §3.1.4):
    replace ~``mask_rate`` of each document's tokens, in spans of
    ``span`` tokens, with numbered sentinels; the target is the
    sentinel-delimited masked content.

    Deterministic and engine-portable instead of RNG-driven: the
    token stream is tiled into fixed ``span``-token windows and window
    w of document d is masked iff
    ``md5(salt:d:w) % budget_denom < mask_rate * budget_denom`` — the
    same decision replays bit-for-bit in SQL, across partitionings,
    and between runs (reshuffle = new salt, the convention of
    hash_split/weighted_sample).  Expected masked fraction is
    ``mask_rate``; exact positions vary per (doc, salt) as training
    wants.

    Returns (id, input_tokens, target_tokens, n_masked): inputs carry
    one ``<extra_id_N>`` per masked span (N in document order);
    targets are ``<extra_id_N> tok tok ...`` concatenated — exactly
    the seq2seq denoising pair.  One scan, higher-order expressions
    only."""
    from graphraft_spark.data.ops import _portable_hash60

    toks = F.col(tokens_col)
    n_win = F.ceil(F.size(toks) / F.lit(span)).cast("int")
    wins = F.sequence(F.lit(0), F.greatest(n_win - 1, F.lit(0)))
    thresh = int(mask_rate * budget_denom)
    masked_wins = F.filter(
        wins,
        lambda w: (F.size(toks) > 0)
        & (_portable_hash60(
            F.concat_ws(":", F.col(id_col).cast("string"),
                        w.cast("string")), salt)
           % budget_denom < thresh))
    # sentinel index of window w = its position among masked windows
    sent_of = lambda w: F.array_position(masked_wins, w) - 1  # noqa: E731

    inputs = F.flatten(F.transform(
        wins,
        lambda w: F.when(
            F.array_contains(masked_wins, w),
            F.array(F.concat(F.lit("<extra_id_"),
                             sent_of(w).cast("string"), F.lit(">"))))
        .otherwise(F.slice(toks, (w * span + 1).cast("int"), span))))
    targets = F.flatten(F.transform(
        masked_wins,
        lambda w: F.concat(
            F.array(F.concat(F.lit("<extra_id_"),
                             sent_of(w).cast("string"), F.lit(">"))),
            F.slice(toks, (w * span + 1).cast("int"), span))))
    n_masked = F.aggregate(
        masked_wins, F.lit(0).cast("bigint"),
        lambda a, w: a + F.size(F.slice(toks, (w * span + 1).cast("int"),
                                        span)))
    return df.select(
        F.col(id_col),
        inputs.alias("input_tokens"),
        targets.alias("target_tokens"),
        n_masked.alias("n_masked"))


def tfidf_top_terms(df, text_col: str = "text", id_col: str = "doc_id",
                    m: int = 3) -> "DataFrame":
    """Top-``m`` TF-IDF terms per document: (id, term, tf, score, rank).

    The classic corpus-relative keyword extractor (targeted slicing,
    topic labeling, DSIR-style feature picks).  Shape at 100 TB: the
    (doc, term, tf) aggregate shuffles by (doc, term) with map-side
    combine; document frequencies aggregate over DISTINCT (doc, term)
    rows already produced by that pass (vocabulary-bounded result,
    broadcast back); the per-doc top-m is a window over the doc's own
    terms (partition = one document — bounded by doc length, no skew
    beyond the longest doc).

    Smooth idf = ln((N+1)/(df+1)) + 1 (sklearn's formulation — never
    zero, so corpus-universal terms still rank).  Deterministic ties:
    score DESC, term ASC.  ``score`` is rounded to 6 decimals for
    engine-portable comparison; rank is dense over the rounded score
    so oracle ties agree."""
    from pyspark.sql import Window

    terms = (df.select(F.col(id_col), F.explode(words(F.col(text_col)))
                       .alias("term"))
             .filter(F.col("term") != "")
             .groupBy(id_col, "term").agg(F.count("*").alias("tf")))
    n_docs = df.select(F.countDistinct(id_col).alias("n"))
    dfreq = (terms.groupBy("term")
             .agg(F.count("*").alias("df_t"))
             .crossJoin(F.broadcast(n_docs)))
    # no broadcast hint on dfreq: vocabulary size is corpus-dependent
    # (web-scale vocab with typos can reach 1e8+ terms); AQE picks
    # broadcast when the aggregated frame is actually small
    scored = (terms.join(dfreq, "term")
              .withColumn("score", F.round(
                  F.col("tf") * (F.log((F.col("n") + 1)
                                       / (F.col("df_t") + 1)) + 1), 6)))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= m)
            .select(id_col, "term", "tf", "score",
                    F.col("rank").cast("int").alias("rank")))
